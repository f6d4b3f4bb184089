package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._

import graft.ops.EventAnalytics
import graft.queries.Tables

/** The two paths of [[EventAnalytics.rfmSegments]] must agree byte for
  * byte — the same `collect()` rows and the same schema:
  *  - DISTRIBUTED: the fused two-phase ordinal, forced through a
  *    negative fold guard;
  *  - FOLD: the driver-local fold the default guard selects on bounded
  *    user tables.
  * Overflow must throw in both paths, ANSI off must decline to the
  * distributed path, and the guard constant is the exact boundary.
  */
class RfmEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  private def fold(e: DataFrame) =
    EventAnalytics.rfmSegments(e, EventAnalytics.RfmFoldRows)
  private def distributed(e: DataFrame) = EventAnalytics.rfmSegments(e, -1L)

  private def isFold(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def assertSame(what: String, a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema, s"$what: schema")
    assert(a.collect().toSeq === b.collect().toSeq, s"$what: rows")
  }

  /** FOLD == DISTRIBUTED on events the fold covers. */
  private def assertBothPaths(what: String, e: DataFrame): Unit = {
    val f = fold(e)
    assert(isFold(f), s"$what: the fold did not run")
    val d = distributed(e)
    assert(!isFold(d))
    assertSame(what, d, f)
  }

  private val EventSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts_us", LongType),
    StructField("value", DoubleType)))

  private def events(rows: Seq[(Any, Any, Any)]): DataFrame = {
    val rs = rows.map { case (u, t, v) => Row(u, t, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs, 3), EventSchema)
  }

  /** `users` users with 1–3 events each, drawn from a few timestamps
    * and values, so every metric has ties.
    */
  private def tied(seed: Int, users: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    events((1 to users).flatMap { u =>
      Seq.fill(1 + rnd.nextInt(3))((u.toLong,
        1000L * rnd.nextInt(4), Seq(0.0, 1.5, 2.25)(rnd.nextInt(3))))
    })
  }

  // ---- cases -----------------------------------------------------------
  test("sf0.001/0.01 events: fold and distributed paths are byte-equal") {
    for (sf <- Seq("sf0.001", "sf0.01"))
      assertBothPaths(sf, Tables.events(spark, SharedSpark.testData(sf)))
  }

  test("seeded events with ties on every metric are byte-equal") {
    for ((seed, users) <- Seq((1, 37), (2, 120), (3, 503)))
      assertBothPaths(s"seed $seed", tied(seed, users))
  }

  test("a null user_id, a user with only null ts and null values") {
    val base = (1 to 11).map(u => (u.toLong, 100L * u, 1.0 * u))
    val nulls = Seq[(Any, Any, Any)](
      (null, 50L, 3.0), (null, 70L, null), // the null user is one user
      (12L, null, 4.0), (12L, null, null), // last_ts null: null recency
      (13L, 900L, null))                   // value null reads as 0
    assertBothPaths("nulls", events(base ++ nulls))
    // every ts null: gmax and every recency are null
    assertBothPaths("all ts null",
      events((1 to 7).map(u => (u.toLong, null, 2.0 * u))))
  }

  test("user counts below 5 and 5q + r for every r") {
    for (users <- (1 to 4) ++ (10 to 14) ++ Seq(5, 26))
      assertBothPaths(s"$users users", tied(users, users))
  }

  test("empty events yield an empty grid with the same schema") {
    val e = tied(4, 5).limit(0)
    assertBothPaths("empty", e)
    assert(fold(e).count() === 0L)
  }

  test("a monetary value past DECIMAL(28,6) throws in both paths") {
    val e = events(Seq((1L, 10L, 1.0), (2L, 20L, 1.0e23)))
    def overflows(body: => Any): Unit = {
      val t = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](t)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
      assert(msgs.exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE")), t)
    }
    overflows(fold(e).collect())
    overflows(distributed(e).collect())
  }

  test("ANSI off declines to the distributed path") {
    // without ANSI an overflow reads null instead of throwing: no fold
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e = tied(5, 20)
      assert(!isFold(fold(e)))
      assertSame("ANSI off", distributed(e), fold(e))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("the guard is the exact boundary: the fold runs at RfmFoldRows " +
      "users, the distributed path one user above") {
    val n = EventAnalytics.RfmFoldRows
    val rows = spark.range(1, n + 2).selectExpr("id as user_id",
      "(id * 7919) % 100003 as ts_us", "cast(id % 13 as double) as value")
    val at = rows.where(s"user_id <= $n")
    assert(isFold(fold(at)))
    assert(!isFold(fold(rows)))
    // the largest folded table still equals the distributed path
    assertSame("at the guard", distributed(at), fold(at))
    assertSame("one user above", distributed(rows), fold(rows))
  }
}
