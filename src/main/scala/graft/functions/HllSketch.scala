package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** HyperLogLog register sketch (Flajolet et al. 2007): the production-
  * standard distinct-count summary — m = 2^p registers, each holding the
  * maximum "rank" (leading-zero run + 1) seen in its hash bucket. The
  * third merge algebra of the sketch family: KMV merges by min-k union,
  * CMS by element-wise ADD, HLL by element-wise MAX — all three reduce a
  * 100 TB scan to one bounded row per partition with a commutative,
  * idempotent combine (HLL additionally tolerates re-processing the same
  * data: max is idempotent, so at-least-once pipelines cannot inflate
  * it, unlike CMS).
  *
  * Register semantics over the engine's 60-bit non-negative hash family
  * ([[graft.ops.Hashing]]): bucket = h mod m (low p bits), v = h div m
  * (the remaining 60−p bits), rank = (60−p) − bitlength(v) + 1 with
  * bitlength(0) = 0 — i.e. v = 0 ⇒ rank 61−p. DETERMINISM: max is
  * commutative/associative/idempotent, so the register array is
  * independent of row order, partitioning and merge tree; a DuckDB
  * oracle replays it as GROUP BY bucket / MAX(rank) with rank from
  * `length(format('{:b}', v))` — the estimator (a register-ordered
  * float fold) is computed identically in both engines.
  *
  * SQL: `graft_hll(h BIGINT, p INT foldable) -> ARRAY<INT>` of length
  * 2^p (4 ≤ p ≤ 16), zero for never-hit buckets.
  */
case class HllSketch(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]]
  with BinaryLike[Expression] {

  private lazy val p: Int = right.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_hll p must be a foldable integer fitting in INT, got $other")
  }
  private lazy val m: Int = 1 << p

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT hash column, got ${left.dataType.sql}")
    else if (right.dataType != IntegerType && right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an integer p, got ${right.dataType.sql}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName p must be foldable")
    else if (right.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName p must not be null")
    else if (right.eval() match {
        case l: Long => !l.isValidInt; case _ => false })
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName p must fit in INT, got ${right.eval()}")
    else if (p < 4 || p > 16)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName p must be in [4, 16], got $p")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](m)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = left.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (h < 0 || h >= (1L << 60)) throw new IllegalArgumentException(
        s"graft_hll: hash $h outside [0, 2^60) (use the non-negative " +
        "60-bit family — a 61-63-bit hash would silently undercount)")
      val bucket = (h % m).toInt
      val rest = h / m // 60 - p significant bits
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(rest)
      val rank = (60 - p) - bitlen + 1 // bitlen(0) = 0 => rank 61 - p
      if (rank > buf(bucket)) buf(bucket) = rank
    }
    buf
  }

  override def merge(buf: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Int]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * (1 + buf.length))
    bb.putInt(buf.length)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Array[Int](n)
    var i = 0
    while (i < n) { buf(i) = bb.getInt; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllSketch =
    copy(left = newLeft, right = newRight)
}
