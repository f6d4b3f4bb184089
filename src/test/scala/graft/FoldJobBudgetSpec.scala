package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.queries.{Analytics, Insights}

/** Job budgets for the gates that run as bounded driver-local folds.
  * A change that silently sends either gate back to its distributed
  * path (32 and 22 jobs) fails here on a counter that does not depend
  * on host noise.
  */
class FoldJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  // the generated tables live under ~/testdata (TESTDATA.md)
  private val d = s"${sys.props("user.home")}/testdata/sf0.001"

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val _ = jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // listener delivery is async; let the bus drain
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  for ((gate, query, budget) <- Seq(
      ("sim_pca_power", Analytics.queries("sim_pca_power"), 5),
      ("e_rfm_segments", Insights.queries("e_rfm_segments"), 6)))
    test(s"$gate on sf0.001 runs at most $budget jobs") {
      query(spark, d).collect() // warm: registration, footers
      val jobs = jobsDuring(query(spark, d).collect())
      assert(jobs <= budget, s"$gate ran $jobs jobs")
    }
}
