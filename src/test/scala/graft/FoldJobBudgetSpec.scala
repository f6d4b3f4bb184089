package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budgets for the gates that run as bounded driver-local folds.
  * A change that silently sends either gate back to its distributed
  * path (32 and 22 jobs) fails here on a counter that does not depend
  * on host noise. The counts come from `Bench.once`, the run that
  * `Bench` times and prints, so this pins the counter `Bench` reports.
  */
class FoldJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  // the generated tables live under ~/testdata (TESTDATA.md)
  private val d = s"${sys.props("user.home")}/testdata/sf0.001"

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
}
