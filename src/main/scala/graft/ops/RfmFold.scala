package graft.ops

import java.math.{BigDecimal => JBigDecimal}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences,
  InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.DriverFold.{Scalar, fit, zero}

/** The driver-local form of [[EventAnalytics.rfmSegments]] for BOUNDED
  * user tables: the per-user aggregate (user_id, last_ts, freq, mon) is
  * collected once, and the study max, the recency, the three quintile
  * orderings, the NTILE(5) arithmetic and the ≤ 125-cell grid run on
  * the driver. At these sizes the distributed fused ordinal is
  * orchestration, not arithmetic (one pin, a range exchange, a
  * triangular offset join: 22 jobs for 150 users); here the whole gate
  * is one bounded collect.
  *
  * EXACTNESS CONTRACT — the output is byte-equal to the distributed
  * form:
  *  - the recency subtraction, its negation and every widening to
  *    DECIMAL(38,6) are the SAME SQL the distributed path plans,
  *    evaluated by Catalyst ([[DriverFold.Scalar]]);
  *  - each ordering (metric value, user_id) ranks with Spark's own
  *    comparator, bound from the analyzed Sort over the same
  *    DECIMAL(38,6) sort key, so null order, decimal comparison and
  *    ties are Catalyst's;
  *  - the NTILE arithmetic is exact in Long; the grid's monetary sums
  *    are `java.math.BigDecimal` range-checked at DECIMAL(38,6)
  *    ([[DriverFold.fit]]) and rounded by the same SQL.
  */
private[ops] object RfmFold {

  private val MetricType = DecimalType(38, 6)

  private val Schema = StructType(Seq(
    StructField("r_score", IntegerType),
    StructField("f_score", IntegerType),
    StructField("m_score", IntegerType),
    StructField("n_users", LongType, nullable = false),
    StructField("total_monetary", DoubleType)))

  /** The segment grid of the per-user frame (user_id, last_ts, freq,
    * mon), or None when the fold does not cover it: a `last_ts` that is
    * not BIGINT, or any input [[DriverFold.collect]] declines (ANSI
    * off, more than `maxRows` users, a negative guard).
    */
  def segments(perUser: DataFrame, maxRows: Long): Option[DataFrame] =
    if (perUser.schema("last_ts").dataType != LongType) None
    else DriverFold.collect(perUser, maxRows).map(fold(perUser, _))

  private def fold(perUser: DataFrame, rows: Array[Row]): DataFrame = {
    val spark = perUser.sparkSession
    val schema = perUser.schema
    def scalar(sql: String, in: (String, DataType)*) =
      new Scalar(spark, sql, in)
    val n = rows.length
    // events' max(ts_us) is the max of the per-user maxima: both skip
    // null timestamps, and both are null when every one is null
    val gmax = rows.collect { case r if !r.isNullAt(1) => r.getLong(1) }
      .maxOption.map(Long.box).orNull
    // the three sort keys (r: DESC recency as a negated value), as
    // Catalyst DECIMAL(38,6) values
    val recencyOf = scalar("cast(-(gmax - last_ts) as decimal(38,6))",
      "gmax" -> LongType, "last_ts" -> LongType)
    val freqOf = scalar("cast(freq as decimal(38,6))",
      "freq" -> schema("freq").dataType)
    val monOf = scalar("cast(mon as decimal(38,6))",
      "mon" -> schema("mon").dataType)
    val keys = Seq(
      rows.map(r => recencyOf.eval(gmax, r.get(1))),
      rows.map(r => freqOf.eval(r.get(2))),
      rows.map(r => monOf.eval(r.get(3))))
    val idType = schema("user_id").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ids = rows.map(r => toCatalyst(r.get(0)))
    val order = ordering(spark, idType)
    // NTILE(5) on the 0-based ordinal — the distributed path's
    // arithmetic: score = bucket + 1
    val q = n / 5L
    val rem = n % 5L
    def ntile(o: Long): Int =
      (if (o < rem * (q + 1)) o / (q + 1)
       else rem + (o - rem * (q + 1)) / q).toInt + 1
    val scores = keys.map { vs =>
      val s = new Array[Int](n)
      (0 until n).sortBy(i => InternalRow(vs(i), ids(i)))(order)
        .iterator.zipWithIndex.foreach { case (i, o) => s(i) = ntile(o) }
      s
    }
    // the grid: users and the DECIMAL(38,6) monetary sum per cell
    // (mon is never null: a SUM of coalesced values over >= 1 event)
    val grid = mutable.Map.empty[(Int, Int, Int), (Long, JBigDecimal)]
    for (i <- 0 until n) {
      val cell = (scores(0)(i), scores(1)(i), scores(2)(i))
      val (users, sum) = grid.getOrElse(cell, (0L, zero(6)))
      val mon = keys(2)(i).asInstanceOf[Decimal].toJavaBigDecimal
      grid(cell) = (users + 1, fit(sum.add(mon), 38, 6))
    }
    val totalOf = scalar("round(cast(s as double), 4)", "s" -> MetricType)
    DriverFold.local(spark, Schema, grid.toSeq.sortBy(_._1).map {
      case ((r, f, m), (users, sum)) =>
        Row(r, f, m, users, totalOf.eval(sum))
    })
  }

  /** Spark's comparator for `ORDER BY __v, user_id`: the bound sort
    * order of that very Sort, analyzed over the same column types.
    */
  private def ordering(spark: SparkSession, idType: DataType)
      : Ordering[InternalRow] = {
    val empty = DriverFold.local(spark, StructType(Seq(
      StructField("__v", MetricType), StructField("user_id", idType))), Nil)
    empty.orderBy(col("__v"), col("user_id")).queryExecution.analyzed match {
      case s: Sort => new InterpretedOrdering(
        s.order.map(BindReferences.bindReference(_, s.child.output)))
      case other => throw new IllegalStateException(
        s"unexpected plan for the RFM ordering: $other")
    }
  }
}
