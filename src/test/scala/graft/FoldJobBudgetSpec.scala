package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LinkModels
import graft.queries.Corpus
import graft.sources.Wiki

/** Job budgets for the gates and corpus calls that run as bounded
  * driver-local folds or single aggregations. A change that silently
  * sends one back to its distributed path (32 and 22 jobs for the
  * gates; 11 and 5 for the corpus calls in a traced `corpus_build`
  * pass) fails here on a counter that does not depend on host noise. The gate counts come from
  * `Bench.once`, the run that `Bench` times and prints, so this pins
  * the counter `Bench` reports.
  */
class FoldJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val d = SharedSpark.testData()

  private def run(gate: String): Bench.Run = {
    val r = Bench.once(spark, d, gate)
    assert(r.sec >= 0, s"$gate failed")
    r
  }

  for ((gate, budget) <- Seq("sim_pca_power" -> 5, "e_rfm_segments" -> 6))
    test(s"$gate on sf0.001 runs at most $budget jobs") {
      run(gate) // warm: registration, footers
      val (a, b) = (run(gate).counts, run(gate).counts)
      assert(a.jobs <= budget, s"$gate ran ${a.jobs} jobs")
      // counts do not depend on host load: two runs report the same work
      assert(a == b, s"$gate: $a then $b")
    }

  // the corpus calls that fold (the redirect closure) or aggregate once
  // (the name-part counts), over cached inputs as the corpus benchmark
  // runs them
  private def jobs(df: => DataFrame): Int =
    Bench.counted(spark.sparkContext)(
      df.write.format("noop").mode("overwrite").save())._2.jobs

  test("the corpus calls on the fixture wiki stay within their budgets") {
    val pages = Wiki.pages(spark, Corpus.FixtureWiki).cache()
    val docs = Wiki.documents(spark, Corpus.FixtureWiki).cache()
    try {
      assert(pages.count() > 0 && docs.count() > 0)
      for ((call, budget, df) <- Seq[(String, Int, () => DataFrame)](
          ("Wiki.redirects", 2, () => Wiki.redirects(spark, pages)),
          ("LinkModels.namePartCounts", 3,
            () => LinkModels.namePartCounts(docs)))) {
        jobs(df()) // warm: registration, codegen
        val (a, b) = (jobs(df()), jobs(df()))
        assert(a <= budget, s"$call ran $a jobs")
        assert(a == b, s"$call: $a then $b jobs")
      }
    } finally { pages.unpersist(); docs.unpersist() }
  }
}
