package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The single closed-loop client: issues one layer call at a time,
  * times it, checks its output outside the timed span and records the
  * outcome. Outside `measuring` (the warm-up pass) only a call that
  * throws is recorded, and outputs are not checked.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: java.nio.file.Path) {
  var tracer: Tracer = new Tracer("", enabled = false)
  var measuring = false
  val outcomes = ArrayBuffer.empty[Outcome]
  val latencies = ArrayBuffer.empty[(String, Double)]
  /** Per-iteration facts a traced run reports (rounds, candidates). */
  val facts = scala.collection.mutable.Map.empty[String, Double]
  private var iterSec = 0.0
  /** Seconds spent checking outputs in the measured passes. */
  var checkSec = 0.0

  /** Run `body` as call `name`; `check` throws when the output is wrong. */
  def call[T](name: String)(body: => T)(check: T => Unit): T = {
    val t0 = System.nanoTime()
    val r = Try(tracer.span(name)(body))
    val sec = (System.nanoTime() - t0) / 1e9
    iterSec += sec
    if (measuring) latencies += name -> sec
    val c0 = System.nanoTime()
    val err = r match {
      case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Success(v) if measuring => Try(check(v)).failed.toOption
        .map(e => s"wrong output: ${e.getMessage}")
      case _ => None
    }
    if (measuring) checkSec += (System.nanoTime() - c0) / 1e9
    if (measuring || err.isDefined) outcomes += Outcome(name, err)
    r.get
  }

  /** One pass over the workload's calls; returns the summed call time
    * (inputs ready to all outputs complete, checks excluded). A call
    * that throws ends the pass; its outcome is already recorded.
    */
  def iteration(body: => Unit): Double = {
    iterSec = 0.0
    Try(body).failed.foreach(e =>
      if (!outcomes.lastOption.exists(!_.ok))
        outcomes += Outcome("iteration", Some(String.valueOf(e.getMessage))))
    hygiene()
    iterSec
  }

  /** Materialize every column of `df` into the block store. */
  def keep(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.write.format("noop").mode("overwrite").save()
    p
  }

  /** Drop cached frames, lineage-cut blocks and loaded streaming state
    * so one call's residue never lands in the next call's time.
    */
  def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    Try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    }
    ()
  }
}

object Check {
  def eq(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, want $want")
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new IllegalStateException(what)
}
