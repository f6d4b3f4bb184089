package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams of a token array, in order: element i of
  * `graft_ngrams(tokens, n)` is tokens[i .. i+n-1] joined by one space.
  *
  * Equal to the interpreted chain
  * `transform(sequence(1, size(tk) - n + 1), i -> concat_ws(' ', slice(tk, i, n)))`
  * wherever that chain is defined, as one codegen'd loop with no lambda,
  * and total where the chain is not:
  *  - a token array shorter than `n` gives an empty array (the chain's
  *    `sequence(1, 0)` descends into `slice(tk, 0, n)` and throws);
  *  - a null array gives null;
  *  - a null token is skipped inside its n-gram, as `concat_ws` skips it.
  *
  * `n` must be a positive INT literal (constant-folded); anything else
  * fails analysis.
  */
case class NGrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (right.dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an INT n, got ${right.dataType.sql}")
      else if (!right.foldable)
        TypeCheckResult.TypeCheckFailure(s"$prettyName n must be a literal")
      else right.eval() match {
        case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName n must be >= 1, got $other")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> tokens, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(tokens: Any, n: Any): Any =
    NGrams.ngrams(tokens.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.functions.NGrams.ngrams($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NGrams {
  private val Space = UTF8String.fromString(" ")

  def ngrams(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      // a null slot reads as null, which concatWs skips
      while (j < n) { window(j) = tokens.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
