package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stream-vs-batch parity of every streaming twin gate: each stream gate
  * and its twin run through `SparkEntry.queries` at sf0.001 and must
  * yield the same non-empty row multiset (columns compared by name)
  * under the same oracle text. The twins share their batch op's readout
  * chain and oracle, so a row difference here is a state-store or
  * stream-source fault.
  */
class StreamTwinSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  private val twins = Seq(
    "st_ewma_daily" -> "e_ewma_forecast",
    "st_holt_daily" -> "e_holt_forecast",
    "st_seq_patterns" -> "e_seq_patterns",
    "st_funnel_windowed" -> "e_funnel_windowed",
    "st_mann_kendall" -> "e_mann_kendall",
    "st_page_hinkley" -> "e_page_hinkley",
    "st_cusum_daily" -> "e_cusum_changepoint",
    "st_acf_daily" -> "e_acf_ljung_box",
    "st_seasonal_daily" -> "e_seasonal_forecast",
    "st_dedup_bounded" -> "st_window_counts")

  /** The gate's rows as a multiset of (column -> value) maps. */
  private def rows(gate: String): Map[Map[String, Any], Int] = {
    val df = SparkEntry.queries(gate)(spark, SharedSpark.testData())
    df.collect().toSeq
      .map(r => df.columns.zip(r.toSeq).toMap[String, Any])
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
  }

  for ((stream, batch) <- twins)
    test(s"$stream equals $batch (sf0.001)") {
      assert(SparkEntry.oracleSql(stream) === SparkEntry.oracleSql(batch))
      val got = rows(stream)
      assert(got.nonEmpty, s"$stream is empty")
      assert(got === rows(batch))
    }
}
