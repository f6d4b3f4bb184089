package graft.tools

/** Dev utility: print the Corpus fixture-query outputs row by row so the
  * golden VALUES oracles in graft.queries.Corpus can be frozen and
  * eyeball-verified. Not part of the driver contract.
  */
object DumpCorpus {
  def main(args: Array[String]): Unit = {
    val spark = Scale.session()
    def lit(v: Any): String = v match {
      case null => "NULL"
      case s: String =>
        val body = s.replace("'", "''").split("\n", -1)
          .map(p => "'" + p + "'").mkString(" || chr(10) || ")
        body
      case x: Long => s"CAST($x AS BIGINT)"
      case x => x.toString
    }
    for (q <- graft.queries.Corpus.defs) {
      println(s"===== ${q.name}")
      val rows = q.query(spark, "").collect()
      rows.foreach(r => println("      (" +
        r.toSeq.map(lit).mkString(", ") + "),"))
    }
    spark.stop()
  }
}
