package graft.ops

import java.math.{BigDecimal => JBigDecimal}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences,
  Cast, EvalMode, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types._

/** The shared machinery of the driver-local folds ([[PcaFold]],
  * [[RfmFold]], [[graft.sources.Wiki.redirects]]): operators whose
  * state is BOUNDED collect it once, iterate in plain Scala and return
  * a local relation, instead of paying a job (and its planning gap) per
  * round or per ordinal.
  *
  * The exactness rules every fold follows:
  *  - exact DECIMAL arithmetic is `java.math.BigDecimal` at the SQL
  *    result scale, range-checked against its SQL type by [[fit]], so
  *    an overflow throws Catalyst's own ANSI error;
  *  - every other step (casts, rounds, sqrt, subtraction of typed
  *    values) is the SAME SQL string the distributed path uses,
  *    analyzed by the session and evaluated by Catalyst ([[Scalar]]).
  */
private[graft] object DriverFold {

  /** The rows of `df`, read with ONE bounded collect, when a fold may
    * replace its distributed plan: ANSI mode on (a fold throws where
    * the distributed path would — with ANSI off that path reads null
    * instead), a non-negative guard, and at most `maxRows` rows. None
    * otherwise; a negative guard always declines.
    */
  def collect(df: DataFrame, maxRows: Long): Option[Array[Row]] = {
    if (maxRows < 0 || !df.sparkSession.sessionState.conf.ansiEnabled)
      return None
    // one partition: the bounded read is one job however the input is
    // split (a limit over n partitions scans them in growing waves)
    val rows = df.coalesce(1)
      .limit(math.min(maxRows + 1, Int.MaxValue).toInt).collect()
    if (rows.length > maxRows) None else Some(rows)
  }

  /** The rows of `df` when it holds at most `maxRows` (None otherwise,
    * and for a negative guard), read in ONE job with one task per
    * input partition, each stopping at `maxRows` + 1 rows. [[collect]]
    * coalesces to one partition, which is free over an aggregate's
    * shuffle but would run a shuffle-free input — a scan and parse —
    * in one task; this read keeps that input parallel. The driver
    * keeps at most `maxRows` rows: once the partitions' rows pass the
    * guard, every partition result is dropped as it arrives. Rows come
    * in partition order. No ANSI condition: for folds that do no
    * arithmetic.
    */
  def collectParallel(df: DataFrame, maxRows: Long): Option[Array[Row]] = {
    if (maxRows < 0) return None
    val cap = math.min(maxRows + 1, Int.MaxValue).toInt
    val rdd = df.rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    var held = 0L
    df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[Row]) => it.take(cap).toArray,
      (i: Int, rows: Array[Row]) =>
        if (held <= maxRows) {
          held += rows.length
          if (held <= maxRows) parts(i) = rows
          else java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
        })
    if (held > maxRows) None else Some(parts.flatten)
  }

  def zero(scale: Int): JBigDecimal = JBigDecimal.valueOf(0L, scale)

  /** `v` as DECIMAL(p, s) — `v` is exact at scale ≤ s, so the only way
    * the SQL cast (or sum) can fail is overflow, and then Catalyst's
    * own ANSI cast throws its error.
    */
  def fit(v: JBigDecimal, p: Int, s: Int): JBigDecimal = {
    if (v.precision - v.scale > p - s)
      Cast(Literal(Decimal(v)), DecimalType(p, s), None, EvalMode.ANSI).eval()
    v
  }

  def local(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** One scalar SQL expression over typed inputs, analyzed by the
    * session exactly as the distributed path's strings are (same
    * parser, type coercion and ANSI mode) and evaluated by Catalyst on
    * the driver. Arguments are Catalyst values, except that a
    * `java.math.BigDecimal` is accepted for a DECIMAL input.
    */
  final class Scalar(spark: SparkSession, sql: String,
      in: Seq[(String, DataType)]) {
    private val expr: Expression = spark
      .createDataFrame(java.util.List.of[Row](),
        StructType(in.map { case (n, t) => StructField(n, t) }))
      .selectExpr(sql).queryExecution.analyzed match {
        case Project(Seq(a: Alias), child) =>
          BindReferences.bindReference(a.child, child.output)
        case other => throw new IllegalStateException(
          s"unexpected plan for '$sql': $other")
      }

    def eval(args: Any*): Any = {
      val row = args.zip(in).map {
        case (b: JBigDecimal, (_, t: DecimalType)) =>
          Decimal(b, t.precision, t.scale)
        case (a, _) => a
      }
      expr.eval(new GenericInternalRow(row.toArray))
    }

    def dec(args: Any*): JBigDecimal =
      eval(args: _*).asInstanceOf[Decimal].toJavaBigDecimal
  }
}
