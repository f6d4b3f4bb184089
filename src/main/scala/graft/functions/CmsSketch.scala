package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count-Min Sketch: a depth×width grid of counters summarizing the
  * FREQUENCY distribution of a key stream in fixed space — the companion
  * to [[KmvSketch]] (distinct cardinality) for the other 100 TB question,
  * "how often does each key occur?". An exact per-key count is a full
  * shuffle of every key; the CMS buffer is depth·width longs that
  * partial-aggregates map-side and merges by ELEMENT-WISE ADDITION, so
  * the whole scan reduces to one fixed-size row per partition, and
  * sketches over shards/days combine losslessly by the same addition.
  *
  * Point estimate for key x: `min_i grid[i][h_i(x) mod width]` — an
  * overcount-only bound (Cormode & Muthukrishnan 2005): estimate ≥ true
  * count, and ≤ true + εN with probability 1−δ for width = ⌈e/ε⌉,
  * depth = ⌈ln 1/δ⌉. Heavy hitters survive; collisions only inflate.
  *
  * DETERMINISM: the input is an ARRAY of depth row hashes computed by
  * codegen'd expressions OUTSIDE the aggregate (the md5 family of
  * [[graft.ops.Hashing]], or xxhash64 in production — the aggregate is
  * hash-agnostic); counter addition commutes, so the grid is independent
  * of row order, partitioning and merge tree, and a DuckDB oracle
  * replays it as one GROUP BY over (row, bucket) and matches exactly.
  *
  * SQL: `graft_cms(hs ARRAY<BIGINT>, width INT foldable) -> ARRAY<BIGINT>`
  * of length len(hs)·width, row-major (`grid[i][j]` at `i·width + j`,
  * bucket `j = h_i mod width`, non-negative hashes). Depth is carried by
  * the hash array; rows whose array is null are skipped, a null or
  * negative element raises (a silently skipped row would corrupt counts).
  */
case class CmsSketch(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with BinaryLike[Expression] {

  private lazy val width: Int = right.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_cms width must be a foldable integer fitting in INT, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) =>
      if (right.dataType != IntegerType && right.dataType != LongType)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an integer width, got ${right.dataType.sql}")
      else if (!right.foldable)
        TypeCheckResult.TypeCheckFailure(s"$prettyName width must be foldable")
      else if (right.eval() == null)
        TypeCheckResult.TypeCheckFailure(s"$prettyName width must not be null")
      else if (right.eval() match {
          case l: Long => !l.isValidInt; case _ => false })
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName width must fit in INT, got ${right.eval()}")
      else if (width < 1)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName width must be >= 1, got $width")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> row hashes, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cms"

  /** Length-0 until the first row fixes the depth (depth is a property
    * of the hash-array column, identical on every row by construction).
    */
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = left.eval(input)
    if (v == null) return buf
    val hs = v.asInstanceOf[ArrayData]
    val depth = hs.numElements()
    val grid =
      if (buf.length == depth * width) buf
      else if (buf.length == 0) new Array[Long](depth * width)
      else throw new IllegalStateException(
        s"graft_cms: inconsistent hash-array depth (buffer " +
          s"${buf.length / width}, row $depth)")
    var i = 0
    while (i < depth) {
      if (hs.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_cms: null hash at row $i")
      val h = hs.getLong(i)
      if (h < 0) throw new IllegalArgumentException(
        s"graft_cms: negative hash $h at row $i (use a non-negative family)")
      grid(i * width + (h % width).toInt) += 1L
      i += 1
    }
    grid
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    if (other.length == 0) buf
    else if (buf.length == 0) other
    else if (buf.length != other.length) throw new IllegalStateException(
      s"graft_cms: merging grids of different shape " +
        s"(${buf.length} vs ${other.length} cells)")
    else {
      var i = 0
      while (i < buf.length) { buf(i) += other(i); i += 1 }
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

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsSketch =
    copy(left = newLeft, right = newRight)
}
