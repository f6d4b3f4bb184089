package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native squared-L2 distance over two ARRAY<DOUBLE> columns.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d,
  * (acc, v) -> acc + v)` — the same sequential left-to-right fold, so
  * each step is `acc + (a[i] - b[i]) * (a[i] - b[i])` in IEEE order and
  * the DuckDB oracles keep matching bit-for-bit — but compiled by
  * whole-stage codegen into a tight primitive loop. Higher-order
  * functions are CodegenFallback in Spark: the interpreted lambda was
  * the single hottest expression of the ANN family ([[graft.ops.Pq]]
  * evaluates it n·m·k times per Lloyd assignment pass). The
  * [[DotProduct]] recipe, applied to the PQ distance kernel.
  *
  * Elements must be non-null (subvectors are, by the ragged-embedding
  * guard); lengths truncate to the shorter side like `zip_with` without
  * null padding.
  */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<DOUBLE> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
