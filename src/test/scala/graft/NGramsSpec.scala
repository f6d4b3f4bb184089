package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** `graft_ngrams(tokens, n)` equals the interpreted
  * `transform(sequence(...), i -> concat_ws(' ', slice(...)))` chain it
  * replaced, through both registration paths, and compiles to one
  * codegen'd expression.
  */
class NGramsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  private val cases: Seq[Seq[String]] = Seq(
    Seq(),
    Seq("a"),
    Seq("a", "b"),
    Seq("a", "b", "c"),
    Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "dog"),
    Seq("über", "naïve", "日本語", "straße", "ǅ"),
    Seq("🌍😀", "𝄞", "𠀋", "x", "🌍😀"),
    Seq("a", null, "c", "d"),
    Seq(null, null, null),
    Seq("", "", "b"))

  /** The token cases as an RDD-backed frame: not a local relation, so
    * the projection runs through whole-stage codegen, not constant
    * folding.
    */
  private def tokens(s: SparkSession): DataFrame = s.createDataFrame(
    s.sparkContext.parallelize(
      cases.zipWithIndex.map { case (t, i) => Row(i, t) } :+
        Row(cases.size, null), 2),
    StructType(Seq(StructField("id", IntegerType),
      StructField("tk", ArrayType(StringType)))))

  /** The former SQL chain, made total for short arrays the way its call
    * sites guarded it.
    */
  private def chain(n: Int) =
    s"case when size(tk) >= $n then transform(sequence(1, size(tk) - " +
      s"${n - 1}), i -> concat_ws(' ', slice(tk, i, $n))) " +
      "else cast(array() as array<string>) end"

  private def assertEqualsChain(s: SparkSession): Unit =
    for (n <- 1 to 4) {
      val rows = tokens(s).selectExpr("id", "tk", s"graft_ngrams(tk, $n)",
        chain(n)).orderBy("id").collect()
      assert(rows.length === cases.size + 1)
      for (r <- rows) {
        val got = Option(r.getSeq[String](2))
        if (r.isNullAt(1)) assert(got === None, s"null array, n = $n")
        else {
          assert(got === Some(r.getSeq[String](3)), s"${r.get(1)}, n = $n")
          val size = r.getSeq[String](1).size
          assert(got.get.size === math.max(size - n + 1, 0))
        }
      }
    }

  test("equals the SQL chain for n = 1..4 via registerAll") {
    GraftFunctions.registerAll(spark)
    assertEqualsChain(spark)
  }

  test("equals the SQL chain for n = 1..4 via GraftExtensions") {
    val ext = SparkSession.builder()
      .withExtensions(new GraftExtensions()).create()
    try {
      // the injected function, not a registerAll leftover
      assert(ext.sessionState.functionRegistry
        .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(
          "graft_ngrams")).exists(_.getClassName ==
          classOf[graft.functions.NGrams].getName))
      assertEqualsChain(ext)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("spot values: order, joins, astral tokens, skipped nulls") {
    GraftFunctions.registerAll(spark)
    def ng(tk: Seq[String], n: Int) = tokens(spark)
      .where(s"id = ${cases.indexOf(tk)}")
      .selectExpr(s"graft_ngrams(tk, $n)").head().getSeq[String](0)
    assert(ng(cases(3), 2) === Seq("a b", "b c"))
    assert(ng(cases(3), 3) === Seq("a b c"))
    assert(ng(cases(3), 4) === Seq())
    assert(ng(cases(6), 2) === Seq("🌍😀 𝄞", "𝄞 𠀋", "𠀋 x", "x 🌍😀"))
    assert(ng(cases(7), 2) === Seq("a", "c", "c d"))
    assert(ng(cases(0), 1) === Seq())
  }

  test("a non-literal, non-INT, null or non-positive n fails analysis") {
    GraftFunctions.registerAll(spark)
    val df = tokens(spark)
      .withColumn("k", org.apache.spark.sql.functions.lit(2))
    for (bad <- Seq("graft_ngrams(tk, id)", "graft_ngrams(tk, 0)",
        "graft_ngrams(tk, -1)", "graft_ngrams(tk, cast(null as int))",
        "graft_ngrams(tk, 2L)", "graft_ngrams(tk, k + id)",
        "graft_ngrams(array(1, 2), 1)")) {
      val e = intercept[AnalysisException](df.selectExpr(bad).schema)
      assert(e.getMessage.contains("graft_ngrams"), s"$bad: ${e.getMessage}")
    }
    // a constant expression folds to a literal and is accepted
    assert(df.selectExpr("graft_ngrams(tk, 1 + 1)").count() ===
      cases.size + 1)
  }

  test("the kernel's plan is whole-stage codegen with no fallback node") {
    GraftFunctions.registerAll(spark)
    val plan = tokens(spark).selectExpr("graft_ngrams(tk, 3) AS g")
      .queryExecution.executedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[graft.functions.NGrams]))
    assert(exprs.count(e => e.isInstanceOf[CodegenFallback] ||
      e.isInstanceOf[HigherOrderFunction]) === 0)
    assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty)
  }
}
