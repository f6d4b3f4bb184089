package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Bloom filter as a distributed aggregate — the FOURTH merge algebra of
  * the sketch family (KMV: min-k union; CMS: element-wise ADD; HLL:
  * element-wise MAX; Bloom: element-wise OR — commutative, associative,
  * IDEMPOTENT, so at-least-once reprocessing cannot corrupt it). The
  * 100 TB membership shape: a benchmark/blocklist side compresses to a
  * fixed bit array that BROADCASTS (m bits regardless of set size),
  * replacing a broadcast of the full key set — decontamination against
  * a 10⁹-shingle benchmark becomes a few MB of bits on every executor.
  *
  * Bit derivation over the engine's 60-bit non-negative hash family
  * ([[graft.ops.Hashing]]), Kirsch–Mitzenmacher double hashing:
  * h1 = h mod m, h2 = 1 + (h div m) mod (m−1); probe i sets bit
  * (h1 + i·h2) mod m. All integer arithmetic on the SAME md5-derived
  * hash both engines share, so a DuckDB oracle rebuilds the identical
  * bit array and replays membership BIT-FOR-BIT — false positives
  * included (they are a deterministic function of the hash family, not
  * noise).
  *
  * Bit layout: 63 bits per BIGINT word (bit b → word b div 63, position
  * b mod 63). Deliberate: bit 63 would need `1 << 63`, which overflows
  * signed ranges differently across engines (DuckDB raises; two's-
  * complement wraps elsewhere) — capping at shift 62 keeps every word
  * non-negative and the oracle arithmetic portable.
  *
  * SQL: `graft_bloom(h BIGINT, m INT foldable, k INT foldable)
  * -> ARRAY<BIGINT>` of ceil(m/63) words; m ∈ [64, 2^26], k ∈ [1, 16].
  * Membership probes need no new function — [[BloomSketch.mightContainSql]]
  * emits a pure column expression over the array.
  */
case class BloomSketch(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with TernaryLike[Expression] {

  private def foldInt(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_bloom $what must be a foldable integer fitting in INT, " +
        s"got $other")
  }
  private lazy val m: Int = foldInt(second, "m")
  private lazy val k: Int = foldInt(third, "k")
  private lazy val nWords: Int = (m + 62) / 63

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT hash column, got ${first.dataType.sql}")
    else if (Seq(second, third).exists(e =>
      e.dataType != IntegerType && e.dataType != LongType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires integer m and k")
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName m and k must be foldable")
    else if (second.eval() == null || third.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName m and k must not be null")
    else if (Seq(second, third).exists(_.eval() match {
        case l: Long => !l.isValidInt; case _ => false }))
      TypeCheckResult.TypeCheckFailure(s"$prettyName m and k must fit in INT")
    else if (m < 64 || m > (1 << 26))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName m must be in [64, 2^26], got $m")
    else if (k < 1 || k > 16)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must be in [1, 16], got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = first.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (h < 0 || h >= (1L << 60)) throw new IllegalArgumentException(
        s"graft_bloom: hash $h outside [0, 2^60) (use the non-negative " +
        "60-bit family)")
      val h1 = h % m
      val h2 = 1L + (h / m) % (m - 1)
      var i = 0
      while (i < k) {
        val bit = ((h1 + i * h2) % m).toInt
        buf(bit / 63) |= 1L << (bit % 63)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nWords) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.length)
    bb.putInt(buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BloomSketch =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BloomSketch {
  /** Membership probe as a pure column expression (no new function —
    * stays inside whole-stage codegen): true iff ALL k probe bits of
    * `hash` are set in `bloom` (an ARRAY<BIGINT> column/expression from
    * `graft_bloom` with the same m and k). The hash is let-bound so the
    * md5 pipeline under it evaluates once, not once per probe.
    */
  def mightContainSql(bloom: String, hash: String, m: Int, k: Int): String =
    s"element_at(transform(array($hash), h -> " +
      s"forall(transform(sequence(0, ${k - 1}), i -> " +
      s"cast(((h % $m) + i * (1 + ((h div $m) % ${m - 1}))) % $m as int)), " +
      s"b -> (element_at($bloom, cast(b div 63 as int) + 1) & " +
      s"shiftleft(cast(1 as bigint), b % 63)) != 0)), 1)"

  /** DuckDB twin of [[mightContainSql]] (for oracle SQL). */
  def duckMightContain(bloom: String, hash: String, m: Int, k: Int): String =
    s"len(list_filter(list_transform(range(0, $k), i -> " +
      s"((($hash) % $m) + i * (1 + ((($hash) // $m) % ${m - 1}))) % $m), " +
      s"b -> (($bloom)[b // 63 + 1] & (1::BIGINT << (b % 63))) != 0)) = $k"
}
