package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Native squared-L2 distance over two ARRAY<DOUBLE> columns.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d,
  * (acc, v) -> acc + v)` on the common prefix (see [[VectorFold]] for
  * lengths and null elements) — the same sequential fold, so each step
  * is `acc + (a[i] - b[i]) * (a[i] - b[i])` in IEEE order and the
  * DuckDB oracles keep matching bit-for-bit — but compiled by
  * whole-stage codegen into a tight primitive loop. Higher-order
  * functions are CodegenFallback in Spark: the interpreted lambda was
  * the single hottest expression of the ANN family ([[graft.ops.Pq]]
  * evaluates it n·m·k times per Lloyd assignment pass).
  */
case class L2Distance(left: Expression, right: Expression)
    extends VectorFold {

  override def prettyName: String = "graft_l2"

  override protected def term(x: Double, y: Double): Double = {
    val d = x - y
    d * d
  }
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
