package graft.ops

import java.math.{BigDecimal => JBigDecimal}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions.{col, posexplode_outer}
import org.apache.spark.sql.types._

import graft.ops.DriverFold.{Scalar, fit, zero}

/** The driver-local form of [[Similarity.pcaPower]] /
  * [[Similarity.pcaDebias]] for BOUNDED corpora: the rounded `x` rows
  * are collected once and the mean, the centring, every power round,
  * the normalization and the debias projection run on the driver.
  * Below a few hundred thousand cells the distributed loop is pure
  * orchestration (one pin, one broadcast, two shuffle stages per
  * round); here the whole gate is one bounded collect.
  *
  * EXACTNESS CONTRACT — the output is byte-equal to the distributed
  * wide form:
  *  - every exact DECIMAL fold (the per-dim column sums of the mean,
  *    the per-row dot `Σ ci·vi` at scale 15, the per-dim `Σ ci·d` at
  *    scale 18, the squared-sum norms) is plain `java.math.BigDecimal`
  *    arithmetic at the SQL result scale, and every intermediate is
  *    range-checked against its SQL type ([[DriverFold.fit]]): where
  *    the ANSI cast or sum would overflow, the fold throws the same
  *    error;
  *  - every decimal→double, `round(double, s)`, `sqrt` and
  *    double→decimal step is the SAME SQL string the distributed path
  *    uses, analyzed by the session ([[DriverFold.Scalar]]) and
  *    evaluated by Catalyst — never re-implemented here.
  *
  * Inputs the fold does not cover decline to the distributed path
  * ([[collect]] returns None): ANSI mode off (overflow would be null,
  * not an error), a null element, ragged rows, or more than the guard's
  * cells.
  */
private[ops] final class PcaFold private (
    spark: SparkSession, idField: StructField,
    ids: Array[Any], x: Array[Array[JBigDecimal]], dims: Int) {
  import PcaFold._

  private def scalar(sql: String, in: (String, DataType)*) =
    new Scalar(spark, sql, in)

  private val meanOf = scalar("cast(round(cast(s as double) / " +
    "cast(n as double), 9) as decimal(18,9))",
    "s" -> DecimalType(28, 6), "n" -> LongType)
  private val dOf = scalar("cast(round(cast(a as double), 9) " +
    "as decimal(18,9))", "a" -> DecimalType(37, 15))
  private val wOf = scalar("cast(round(cast(a as double), 9) " +
    "as decimal(18,9))", "a" -> DecimalType(38, 18))
  private val nrmOf = scalar("cast(round(sqrt(cast(a as double)), 9) " +
    "as decimal(18,9))", "a" -> DecimalType(37, 18))
  private val vOf = scalar("case when nrm > 0 then " +
    "cast(round(cast(wi as double) / cast(nrm as double), 6) " +
    "as decimal(18,6)) else cast(1 as decimal(18,6)) end",
    "wi" -> DecimalType(18, 9), "nrm" -> DecimalType(18, 9))

  /** Σ ci·vi, the `aggregate(zip_with(c, v, ...))` fold at (37,15). */
  private def dot(c: Array[JBigDecimal], v: Array[JBigDecimal])
      : JBigDecimal = {
    var a = zero(15)
    var j = 0
    while (j < dims) {
      a = fit(a.add(fit(c(j).multiply(v(j)), 37, 15)), 37, 15)
      j += 1
    }
    a
  }

  /** (centred rows c, component v, norm λ) after `rounds` rounds —
    * the distributed loop's `(cx, v, lam)`, value for value.
    */
  private def component(rounds: Int)
      : (Array[Array[JBigDecimal]], Array[JBigDecimal], JBigDecimal) = {
    val n = x.length.toLong
    val mu = Array.tabulate(dims) { j =>
      var s = zero(6)
      for (r <- x) s = fit(s.add(r(j)), 28, 6)
      meanOf.dec(s, n)
    }
    val c = x.map(r => Array.tabulate(dims)(j =>
      fit(r(j).subtract(mu(j)), 18, 9)))
    var v = Array.fill(dims)(JBigDecimal.ONE.setScale(6))
    var nrm: JBigDecimal = null
    for (_ <- 1 to rounds) {
      val ws = Array.fill(dims)(zero(18))
      for (ci <- c) {
        val d = dOf.dec(dot(ci, v))
        var j = 0
        while (j < dims) {
          ws(j) = fit(ws(j).add(fit(ci(j).multiply(d), 38, 18)), 38, 18)
          j += 1
        }
      }
      val w = ws.map(a => wOf.dec(a))
      var ss = zero(18)
      for (wi <- w) ss = fit(ss.add(fit(wi.multiply(wi), 36, 18)), 37, 18)
      nrm = nrmOf.dec(ss)
      v = w.map(wi => vOf.dec(wi, nrm))
    }
    (c, v, nrm)
  }

  /** [[Similarity.pcaPower]]'s (dim, loading, lambda) rows, dim order. */
  def power(rounds: Int): DataFrame = {
    val (_, v, nrm) = component(rounds)
    val loadingOf = scalar("round(cast(v as double), 6)",
      "v" -> DecimalType(18, 6))
    val lambda = scalar("round(cast(nrm as double), 6)",
      "nrm" -> DecimalType(18, 9)).eval(nrm)
    DriverFold.local(spark, PowerSchema, v.indices.map(j =>
      Row(j.toLong, loadingOf.eval(v(j)), lambda)))
  }

  /** [[Similarity.pcaDebias]]'s (vec_id, norm, resid_norm,
    * removed_frac) rows, ordered by vec_id as the Sort would.
    */
  def debias(rounds: Int): DataFrame = {
    val (c, v, _) = component(rounds)
    val pOf = scalar("cast(round(cast(a as double), 6) as decimal(18,6))",
      "a" -> DecimalType(37, 15))
    val normOf = scalar("round(sqrt(cast(ss as double)), 6)",
      "ss" -> DecimalType(37, 18))
    val residOf = scalar("round(sqrt(cast(rr as double)), 6)",
      "rr" -> DecimalType(37, 24))
    val removedOf = scalar("round(case when ss > 0 then 1.0 - " +
      "cast(rr as double) / cast(ss as double) end, 6)",
      "ss" -> DecimalType(37, 18), "rr" -> DecimalType(37, 24))
    val rows = c.indices.map { i =>
      val ci = c(i)
      val p = pOf.dec(dot(ci, v))
      var ss = zero(18)
      var rr = zero(24)
      var j = 0
      while (j < dims) {
        ss = fit(ss.add(fit(ci(j).multiply(ci(j)), 36, 18)), 37, 18)
        val r = fit(ci(j).subtract(p.multiply(v(j))), 18, 12)
        rr = fit(rr.add(fit(r.multiply(r), 37, 24)), 37, 24)
        j += 1
      }
      Row(ids(i), normOf.eval(ss), residOf.eval(rr),
        removedOf.eval(ss, rr))
    }
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(idField.dataType)
    val byId =
      RowOrdering.createNaturalAscendingOrdering(Seq(idField.dataType))
    DriverFold.local(spark, StructType(idField +: DebiasFields),
      rows.sortBy(r => InternalRow(toCatalyst(r.get(0))))(byId))
  }
}

private[ops] object PcaFold {

  private val PowerSchema = StructType(Seq(
    StructField("dim", LongType, nullable = false),
    StructField("loading", DoubleType),
    StructField("lambda", DoubleType)))

  private val DebiasFields = Seq(
    StructField("norm", DoubleType),
    StructField("resid_norm", DoubleType),
    StructField("removed_frac", DoubleType))

  /** Collect the rounded `(vec_id, x)` frame as cells with one bounded
    * `limit(maxCells + 1)` read — exploded, so the driver never holds
    * more than maxCells + 1 values whatever the dims — and reassemble
    * the rows. None when the fold does not cover the input: ANSI off,
    * more than `maxCells` cells (a negative guard always declines), a
    * null element, or ragged rows.
    */
  def collect(xw: DataFrame, maxCells: Long): Option[PcaFold] = {
    val exploded = xw.select(col("vec_id"), posexplode_outer(col("x")))
    val cells = DriverFold.collect(exploded, maxCells) match {
      case Some(c) => c
      case None => return None
    }
    val ids = ArrayBuffer.empty[Any]
    val rows = ArrayBuffer.empty[ArrayBuffer[JBigDecimal]]
    // posexplode_outer emits a row's cells contiguously from pos 0; an
    // empty array is one (null, null) cell
    for (r <- cells) {
      if (r.isNullAt(1) || r.getInt(1) == 0) {
        ids += r.get(0)
        rows += ArrayBuffer.empty
      }
      if (!r.isNullAt(1)) {
        if (r.isNullAt(2)) return None
        rows.last += r.getDecimal(2)
      }
    }
    val dims = rows.headOption.fold(0)(_.length)
    if (rows.exists(_.length != dims)) return None
    Some(new PcaFold(xw.sparkSession, xw.schema("vec_id"), ids.toArray,
      rows.map(_.toArray).toArray, dims))
  }
}
