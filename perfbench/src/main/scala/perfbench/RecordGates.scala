package perfbench

import java.nio.file.{Files, Paths}

/** Records the reference digest of every gate in the sweep list.
  *
  * Usage: perfbench.RecordGates <dataDir> <gates.tsv> <dumpDir>
  * Rewrites the digest column of gates.tsv and dumps each gate's output
  * as parquet under dumpDir, with oracle_sql.json beside it, for
  * prove_gates.py to check against the DuckDB oracle.
  */
object RecordGates {
  def main(args: Array[String]): Unit = {
    val Array(data, tsv, dump) = args
    val spark = Main.session(Paths.get(dump))
    val gates = GateSweep.load(Paths.get(tsv))
    val oracle = graft.SparkEntry.oracleSql
    val lines = gates.map { g =>
      val df = graft.SparkEntry.queries(g.name)(spark, data)
      val d = Digest.of(df)
      graft.SparkEntry.queries(g.name)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/${g.name}")
      println(s"${g.name} $d")
      Seq(g.name, GateSweep.moduleOf(g.name), d, g.oracle).mkString("\t")
    }
    val header = "# gate\tmodule\tdigest\toracle\n"
    Files.writeString(Paths.get(tsv), header + lines.mkString("\n") + "\n")
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json.obj(
      gates.flatMap(g => oracle.get(g.name).map(q => g.name -> Json.str(q)))))
    spark.stop()
  }
}
