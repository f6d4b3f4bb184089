package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The shared body of the ARRAY<DOUBLE> fold kernels ([[DotProduct]],
  * [[L2Distance]]): the sequential left-to-right sum
  * `s = s + term(a[i], b[i])` from `s = 0.0` over the common prefix of
  * both arrays — the IEEE order of `aggregate(zip_with(...), 0d, ...)`,
  * so results are bit-identical — as a tight primitive loop in both
  * eval and whole-stage codegen. Lengths truncate to the shorter side,
  * like `zip_with` without its null padding.
  *
  * A null element in that prefix makes the result null, as it did in
  * the `aggregate(zip_with(...))` SQL the kernels replace. The check is
  * emitted only for an array type with `containsNull = true`; such
  * types are accepted rather than rejected, because parquet list
  * elements are OPTIONAL and every stored embedding column reads as
  * `containsNull = true`.
  */
abstract class VectorFold extends BinaryExpression {

  /** One step's addend. */
  protected def term(x: Double, y: Double): Double

  /** The same addend as Java source over two `double` locals. */
  protected def termCode(x: String, y: String): String

  private def elementsNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<DOUBLE> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable ||
    elementsNullable(left) || elementsNullable(right)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += term(a.getDouble(i), b.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val nullTests = Seq(left -> a, right -> b).collect {
        case (e, arr) if elementsNullable(e) => s"$arr.isNullAt($i)"
      }
      val nullCheck =
        if (nullTests.isEmpty) ""
        else s"if (${nullTests.mkString(" || ")}) " +
          s"{ ${ev.isNull} = true; break; }"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $s += ${termCode(x, y)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

object VectorFold {
  /** DuckDB twin of the kernels' fold order: the sequential left fold,
    * from 0.0, of the DOUBLE list expression `list`. `acc` and `x` name
    * the lambda's parameters (the names change no result).
    */
  def duckSum(list: String, acc: String = "acc", x: String = "v"): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $list), " +
      s"($acc, $x) -> $acc + $x)"
}
