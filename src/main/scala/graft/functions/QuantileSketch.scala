package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Quantile sample sketch: keeps the `k` rows with the smallest
  * (hash, value) pairs and evaluates to the sample's VALUES sorted
  * ascending, as ARRAY<DOUBLE> — the fifth sketch aggregate, and the
  * fifth distinct merge algebra in the family (KMV distinct-min-k ∪,
  * CMS +, HLL max, Bloom OR, and here MULTISET bottom-k: duplicate
  * (hash, value) rows are retained, because the sketch samples ROWS,
  * not distinct values — collapsing duplicates would bias every
  * quantile of a column with repeated values).
  *
  * This is the per-GROUP bounded-state quantile shape: the global
  * forms ([[graft.ops.Rank.exactQuantiles]] via two-phase ordinal,
  * [[graft.ops.Rank.sampleQuantiles]] via one TakeOrdered) don't
  * group, and the exact per-group form (`a_group_quantiles`) windows
  * the whole table per group. `graft_qsketch` runs as ONE hash
  * aggregate: each partition folds its rows into k-bounded partial
  * states map-side, merges are associative min-k unions, and a
  * 100 TB scan reduces to one k-row sample per group — per-source
  * latency/length quantiles in a single pass. Rank error is the
  * uniform-sampling bound, ±O(1/√k).
  *
  * DETERMINISM: the sample is the multiset bottom-k of (hash, value)
  * pairs — a pure function of the input multiset, independent of row
  * order, partitioning and merge tree (ties beyond (h, v) are between
  * indistinguishable rows). With the salted [[Md5Long]] family as the
  * hash, a DuckDB oracle replays the sample exactly:
  * `ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h, v) <= k`, then
  * `list(v ORDER BY v)`. Quantile extraction is then 1-based indexing
  * at rank ceil(q_decimal · n) on both engines.
  *
  * SQL: `graft_qsketch(h BIGINT, v DOUBLE, k INT foldable)
  * -> ARRAY<DOUBLE>` (values ascending; rows with null h or v skipped,
  * like any SQL aggregate).
  */
case class QuantileSketch(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, Double)]]
  with TernaryLike[Expression] {

  private lazy val k: Int = third.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_qsketch k must be a foldable integer fitting in INT, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT hash column, got ${first.dataType.sql}")
    else if (second.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a DOUBLE value column, got ${second.dataType.sql}")
    else if (third.dataType != IntegerType && third.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an integer k, got ${third.dataType.sql}")
    else if (!third.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be foldable")
    else if (third.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must not be null")
    else if (third.eval() match {
        case l: Long => !l.isValidInt; case _ => false })
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must fit in INT, got ${third.eval()}")
    else if (k < 1 || k > (1 << 22))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must be in [1, 2^22], got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_qsketch"

  // max-heap on (h, v): the root is the pair to evict when full
  private val ord: Ordering[(Long, Double)] =
    Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, Double)] =
    mutable.PriorityQueue.empty[(Long, Double)](ord)

  private def offer(buf: mutable.PriorityQueue[(Long, Double)],
      p: (Long, Double)): Unit = {
    if (buf.size < k) buf.enqueue(p)
    else if (ord.lt(p, buf.head)) { buf.dequeue(); buf.enqueue(p) }
  }

  override def update(buf: mutable.PriorityQueue[(Long, Double)],
      input: InternalRow): mutable.PriorityQueue[(Long, Double)] = {
    val h = first.eval(input)
    val v = second.eval(input)
    if (h != null && v != null) {
      val d = v.asInstanceOf[Double]
      if (d.isNaN) throw new IllegalArgumentException(
        "graft_qsketch: NaN value (quantiles of NaN are undefined; " +
          "filter or coalesce first)")
      offer(buf, (h.asInstanceOf[Long], d))
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Long, Double)],
      other: mutable.PriorityQueue[(Long, Double)])
      : mutable.PriorityQueue[(Long, Double)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Long, Double)]): Any =
    new GenericArrayData(buf.toArray.map(_._2).sorted)

  override def serialize(buf: mutable.PriorityQueue[(Long, Double)])
      : Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (h, v) => bb.putLong(h); bb.putDouble(v) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.PriorityQueue[(Long, Double)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getLong, bb.getDouble)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): QuantileSketch =
    copy(first = newFirst, second = newSecond, third = newThird)
}
