package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** KMV (k-minimum-values) distinct-count sketch: keeps the `k` smallest
  * DISTINCT hash values seen, as a sorted ARRAY<BIGINT>.
  *
  * This is the scale answer to COUNT(DISTINCT x): an exact distinct is a
  * full shuffle of every distinct value; the KMV buffer is a bounded
  * k-long set that partial-aggregates map-side and merges associatively
  * (merge = min-k of the union), so a 100 TB scan reduces to one k-sized
  * row per partition. The estimator `(k-1) · H / h₍ₖ₎` (Bar-Yossef et
  * al. 2002, Beyer et al. 2007) has ~1/√(k−2) relative error; when fewer
  * than k distinct hashes exist the sketch IS the exact distinct set.
  *
  * DETERMINISM: the result is the set of k smallest distinct hashes —
  * independent of row order, partitioning and merge tree, so a DuckDB
  * oracle replays it as `SELECT DISTINCT h ORDER BY h LIMIT k` and the
  * estimate (one double division of two exactly-representable values)
  * matches bit-for-bit. Sketches over shards union losslessly: feed the
  * exploded arrays back through `graft_kmv`.
  *
  * SQL: `graft_kmv(h BIGINT, k INT foldable) -> ARRAY<BIGINT>` (ascending;
  * pair with [[Md5Long]] for the hash input).
  */
case class KmvSketch(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]]
  with BinaryLike[Expression] {

  private lazy val k: Int = right.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_kmv k must be a foldable integer fitting in INT, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT hash column, got ${left.dataType.sql}")
    else if (right.dataType != IntegerType && right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an integer k, got ${right.dataType.sql}")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be foldable")
    else if (right.eval() == null)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must not be null")
    else if (right.eval() match {
        case l: Long => !l.isValidInt; case _ => false })
      // a BIGINT k outside Int range must not silently wrap (2^32+5
      // would otherwise build a k=5 sketch and report it as valid)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName k must fit in INT, got ${right.eval()}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName k must be >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  override def update(buf: mutable.TreeSet[Long],
      input: InternalRow): mutable.TreeSet[Long] = {
    val v = left.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // cheap reject: full buffer and h beyond the current kth min
      if (buf.size < k || h < buf.lastKey) {
        buf += h
        if (buf.size > k) buf -= buf.lastKey
      }
    }
    buf
  }

  override def merge(buf: mutable.TreeSet[Long],
      other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    buf ++= other
    while (buf.size > k) buf -= buf.lastKey
    buf
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray) // TreeSet iterates ascending

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.TreeSet.empty[Long]
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvSketch =
    copy(left = newLeft, right = newRight)
}

object KmvSketch {
  /** The distinct estimate read off a `graft_kmv` sketch, as a SQL
    * expression over the sketch array `ks` of capacity `k`: the exact
    * count while it holds fewer than k hashes, else
    * `(k−1) · 2⁶⁰ / kth`. The IEEE order is fixed — (k−1) times 2⁶⁰,
    * then one division — so the DuckDB oracles replay it bit-for-bit;
    * the `D` suffix keeps 2⁶⁰ a DOUBLE (Spark SQL reads the bare
    * literal as a DECIMAL).
    */
  def estimateSql(ks: String, k: Int): String =
    s"case when size($ks) < $k then cast(size($ks) as bigint) " +
      s"else cast(floor(cast(${k - 1} as double) * " +
      s"1152921504606846976.0D / " +
      s"cast(try_element_at($ks, -1) as double)) as bigint) end"

  /** DuckDB twin of [[estimateSql]] over a sketch read as the count `n`
    * of its smallest hashes and the largest of them, `kth`.
    */
  def duckEstimate(n: String, kth: String, k: Int): String =
    s"CAST(CASE WHEN $n < $k THEN $n ELSE floor(${k - 1}.0 * " +
      s"1152921504606846976.0 / CAST($kth AS DOUBLE)) END AS BIGINT)"
}
