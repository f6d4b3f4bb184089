package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional name filter
    // is a local-iteration convenience (the driver always passes two)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    // Default to every core exactly as Bench does: a 349-gate dump at
    // local[4] takes ~70 min (vs ~12 at local[32]) and invites driver
    // timeouts that zero the round's correctness artifact (r14 lesson).
    val spark = graft.tools.Scale.session()
    new java.io.File(outDir).mkdirs()
    val gates = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    val total = gates.size
    val t0 = System.nanoTime()
    var done = 0
    var failed = 0
    gates.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      done += 1
      // One progress line per 25 gates so a truncated/stalled dump is
      // diagnosable from the driver log (r14: empty artifact, no trace).
      if (done % 25 == 0 || done == total) {
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] progress $done/$total gates, $secs%.0f s elapsed")
      }
    }
    System.err.println(s"[verify] dumped ${done - failed}/$total gates ($failed failed)")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
