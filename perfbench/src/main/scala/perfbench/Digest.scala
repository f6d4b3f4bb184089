package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result, following the oracle
  * cross-check's canonical form: columns ordered by name, floating
  * values rounded to 9 decimal places, NaN as null, dates rendered as
  * midnight timestamps, rows compared as a multiset.
  */
object Digest {

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case d: java.sql.Date => d.toLocalDate.atStartOfDay.toString + ":00"
    case d: java.time.LocalDate => d.atStartOfDay.toString + ":00"
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) d.toString
    else new java.math.BigDecimal(d)
      .setScale(9, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  /** 64-bit hash of one canonical row. */
  def rowHash(cells: Seq[String]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val h = md.digest(cells.mkString("\u0001").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  /** "rows:sum" over canonical row hashes (sum modulo 2^64). */
  def render(rows: Long, sum: Long): String = f"$rows:$sum%016x"

  /** Materialize every row of `df` once, folding the digest per
    * partition. The canonical column order is fixed before execution.
    */
  def of(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r =>
        n += 1
        s += rowHash(order.toSeq.map(i => cell(r.get(i))))
      }
      Iterator((n, s))
    }.collect()
    render(parts.map(_._1).sum,
      parts.map(_._2).sum + rowHash(df.columns.toSeq.sorted))
  }
}
