package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit md5 prefix of a string as a non-negative BIGINT — the engine's
  * cross-engine hash primitive (see [[graft.ops.Hashing]]).
  *
  * Bit-identical to `cast(conv(substring(md5(x),1,15),16,10) as bigint)`
  * (the first 15 hex digits are the first 60 bits of the digest, i.e. the
  * big-endian first-8-bytes long shifted right by 4) and to DuckDB's
  * `CAST('0x' || substring(md5(x),1,15) AS BIGINT)`, but computed straight
  * from the digest bytes — no hex string materialization, no base-16
  * re-parse — inside whole-stage codegen. This sits in the inner loop of
  * MinHash signatures, SimHash token hashing and hyperplane projections.
  */
case class Md5Long(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5long"

  override protected def nullSafeEval(input: Any): Any =
    Md5Long.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Long.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Long {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(s) as a non-negative long. */
  def hash(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val top8 =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top8 >>> 4
  }
}
