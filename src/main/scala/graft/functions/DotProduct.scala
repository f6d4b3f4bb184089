package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Native dot product over two ARRAY<DOUBLE> columns.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (p, q) -> p * q), 0d, (acc, v) -> acc + v)`
  * on the common prefix (see [[VectorFold]] for lengths and null
  * elements), but compiled by whole-stage codegen into a tight
  * primitive loop instead of per-element interpreted lambda evaluation
  * — this is the hot inner operation of every cosine similarity/ANN
  * operator, executed O(n·k) or O(n²) times.
  */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFold {

  override def prettyName: String = "graft_dot"

  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String = s"$x * $y"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
