package perfbench

import org.apache.spark.sql.SparkSession
import graft.textfn.{Html, Text, Warc, WikiXml, Wikitext}

/** Single-layer rates measured outside the workload passes: pure
  * `textfn` calls on one thread over the benchmark's generated records,
  * and the engine's codegen SQL functions over generated rows.
  */
object Probes {

  /** Calls per second of `f` over `xs`, looping for at least `minSec`;
    * the median of three such loops.
    */
  def rate[A](xs: IndexedSeq[A], minSec: Double = 0.2)(f: A => Any): Double = {
    var sink = 0
    def once(): Double = {
      var n = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minSec) {
        xs.foreach(x => if (f(x) != null) sink += 1)
        n += xs.size
        el = (System.nanoTime() - t0) / 1e9
      }
      n / el
    }
    once() // warm the JIT
    val r = Stats.median(Seq(once(), once(), once()))
    if (sink == -1) println(sink)
    r
  }

  def textfn(seed: Long): Seq[(String, Double)] = {
    val pages = (0L until 200L).map(Gen.article(seed, _, 1000, 300))
    val contents = pages.flatMap(p => WikiXml.parsePage(p.trim).flatMap(_.content))
    val html = (0L until 200L).map(Gen.htmlPage(seed, _, 1000))
    val records = (5L until 205L).map(Gen.warcRecord(seed, _, 1000)
      .stripSuffix("WARC/1.0\r\n"))
    val texts = (0L until 200L).map(i => Gen.prose(seed, i, 200))
    val tokens = texts.map(Text.tokenize)
    Seq(
      "textfn.wikixml_parse.rps" -> rate(pages)(p => WikiXml.parsePage(p.trim)),
      "textfn.wikitext_parse.rps" -> rate(contents)(c => Wikitext.parse("en.wikipedia.org/wiki/X", c)),
      "textfn.html_article.rps" -> rate(html)(Html.parseArticle),
      "textfn.warc_parse.rps" -> rate(records)(Warc.parseRecord),
      "textfn.tokenize.rps" -> rate(texts)(Text.tokenize),
      "textfn.sentences.rps" -> rate(texts)(Text.sentences),
      "textfn.shingles.rps" -> rate(tokens)(Text.shingles(_, 3)))
  }

  /** Million rows per second through each codegen function, over
    * `rows` generated rows (median of three timed runs after one warm).
    */
  def functions(spark: SparkSession, rows: Long = 2000000L): Seq[(String, Double)] = {
    graft.functions.GraftFunctions.registerAll(spark)
    val vecRows = rows / 8
    spark.range(vecRows).selectExpr(
      "transform(sequence(0, 63), i -> cast((id * 31 + i) % 97 as double)) AS a")
      .createOrReplaceTempView("perfbench_vecs")
    spark.table("perfbench_vecs").cache().count()
    def mrps(n: Long, sql: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        n / ((System.nanoTime() - t0) / 1e9) / 1e6
      }
      once()
      Stats.median(Seq(once(), once(), once()))
    }
    val h = "(id * 2654435761 + 40503)"
    val r = Seq(
      "functions.md5long.mrows_per_s" -> mrps(rows,
        s"SELECT bit_xor(graft_md5long(cast(id AS string))) FROM range($rows)"),
      "functions.dot.mrows_per_s" -> mrps(vecRows,
        "SELECT sum(graft_dot(a, a)) FROM perfbench_vecs"),
      "functions.l2.mrows_per_s" -> mrps(vecRows,
        "SELECT sum(graft_l2(a, a)) FROM perfbench_vecs"),
      "functions.bloom.mrows_per_s" -> mrps(rows,
        s"SELECT graft_bloom($h, 1048576, 4) FROM range($rows)"),
      "functions.kmv.mrows_per_s" -> mrps(rows,
        s"SELECT graft_kmv($h, 1024) FROM range($rows)"),
      "functions.hll.mrows_per_s" -> mrps(rows,
        s"SELECT graft_hll($h, 12) FROM range($rows)"))
    spark.catalog.uncacheTable("perfbench_vecs")
    r
  }
}
