package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DriverFold, Hashing, LinkModels}
import graft.queries.{Corpus, Scratch}
import graft.sources.Wiki
import graft.textfn.Wikitext.WikiPrefix
import graft.tools.{Scale, ScaleCases}

/** The two `corpus_build` rewrites are exact:
  *  - `Wiki.redirects`' driver-side closure returns the rows of the
  *    pinned self-join loop (the same call through a negative guard) on
  *    pair sets with duplicate sources, 2-cycles, self-redirects,
  *    dangling tails and chains longer than 2^hops, and the guard is the
  *    exact boundary;
  *  - the one-aggregation `LinkModels.namePartCounts` returns the rows
  *    of the former three-aggregation form, kept here verbatim as the
  *    oracle, on the fixture wiki, a generated dump and edge-case
  *    anchors.
  */
class CorpusFoldSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  // ---- the three-aggregation namePartCounts, verbatim -------------------
  private def namePartCountsOld(docs: DataFrame, maxNgram: Int): DataFrame = {
    // sequence(1, 0) would DESCEND; guard short token lists with an
    // explicit empty array.
    def ngr(n: Int, src: String) =
      s"case when size($src) >= $n then " +
        s"transform(sequence(1, size($src) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice($src, i, $n))) " +
        s"else cast(array() as array<string>) end"

    val anchored = docs
      .select(col("doc_id"), col("text"), explode(col("links")).as("l"))
      .select(col("doc_id"), col("text"),
        LinkModels.normTarget(col("l.target")).as("target"),
        col("l.start").as("start"), col("l.stop").as("stop"))
      .withColumn("anchor",
        trim(expr("substring(text, start + 1, stop - start)")))
      .filter(length(col("anchor")) > 0 && length(col("target")) > 0)
    val anchors = anchored
      .select(expr(Hashing.tokens("anchor")).as("at"))
      .filter(size(col("at")) > 0)
    val partEntries = (1 to maxNgram).map { n =>
      anchors.select(expr(ngr(n, "at")).as("ng"))
        .filter(size(col("ng")) > 0)
        .select(explode(expr(
          "element_at(transform(array(ng), g -> " +
            "concat(array(struct(g[0] as term, 'B' as pos)), " +
            "array(struct(element_at(g, -1) as term, 'E' as pos)), " +
            "transform(slice(g, 2, greatest(size(g) - 2, 0)), " +
            "t -> struct(t as term, 'I' as pos)))), 1)")).as("e"))
        .select(col("e.term").as("term"), col("e.pos").as("pos"))
    }.reduce(_ unionByName _)
    val partCounts = partEntries.groupBy("term", "pos")
      .agg(count(lit(1)).as("n"))

    val textToks = docs.select(expr(Hashing.tokens()).as("tt"))
    val oCounts = (1 to maxNgram).map { n =>
      textToks.select(explode(expr(ngr(n, "tt"))).as("term"))
    }.reduce(_ unionByName _)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("term"), lit("O").as("pos"), col("n"))

    partCounts.select("term", "pos", "n").unionByName(oCounts)
      .groupBy("term")
      .agg(sort_array(collect_list(struct(col("pos"), col("n"))))
        .as("counts"))
      .filter(expr("exists(counts, c -> c.pos = 'O')") &&
        size(col("counts")) > 1)
  }

  // ---- helpers ------------------------------------------------------------
  private def isFold(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Same schema (names, types, nullability) and the same row multiset. */
  private def assertSame(what: String, a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema, s"$what: schema")
    assert(sorted(a) === sorted(b), s"$what: rows")
  }

  /** `pages(uri, redirect)` holding `pairs` as redirect pages (titles
    * become uris under the wiki prefix; a null title a null uri) plus
    * two article pages.
    */
  private def pages(pairs: Seq[(String, String)]): DataFrame = {
    val s = spark; import s.implicits._
    (pairs.map { case (a, b) => (Option(a).map(WikiPrefix + _), Option(b)) } ++
      Seq(Some(WikiPrefix + "Article_1") -> None,
        Some(WikiPrefix + "Article_2") -> None))
      .toDF("uri", "redirect")
  }

  /** A seeded redirect set: a chain of 2^hops + 3 links with a dangling
    * tail, a 2-cycle, a self-redirect, a duplicated source that another
    * redirect leads into, a null-uri page, and random edges over a small
    * title pool (more duplicates and cycles).
    */
  private def pairSet(seed: Int, hops: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val chain = (0 until (1 << hops) + 3).map(i => s"C_$i" -> s"C_${i + 1}")
    chain ++ Seq("A" -> "B", "B" -> "A", "S" -> "S", "D" -> "X_1",
      "D" -> "X_2", "E" -> "D", "F" -> "E", (null, "C_0")) ++
      Seq.fill(40)(s"R_${rnd.nextInt(25)}" -> s"R_${rnd.nextInt(25)}")
  }

  // ---- redirect closure -----------------------------------------------------
  test("redirect fold equals the pinned loop; the guard is exact") {
    for (seed <- 1 to 3; hops <- 1 to 4) {
      val pairs = pairSet(seed, hops)
      val p = pages(pairs)
      val n = pairs.size.toLong
      val loop = Wiki.redirects(spark, p, hops, -1L)
      val folded = Wiki.redirects(spark, p, hops, n)
      val below = Wiki.redirects(spark, p, hops, n - 1)
      assert(!isFold(loop) && isFold(folded) && !isFold(below),
        s"seed $seed hops $hops: guard")
      assertSame(s"seed $seed hops $hops fold", loop, folded)
      assertSame(s"seed $seed hops $hops below", loop, below)
      // the doubling rounds' reach: C_0 resolves 2^hops links down
      val c0 = folded.where(col("source") === WikiPrefix + "C_0")
        .select("target").collect().map(_.getString(0)).toSeq
      assert(c0 === Seq(WikiPrefix + s"C_${1 << hops}"), s"hops $hops")
      // the 2-cycle and the self-redirect collapse onto themselves
      assert(folded.where(col("source").isin(
        Seq("A", "B", "S").map(WikiPrefix + _): _*)).isEmpty)
      // the duplicated source fans out through the two pages that lead
      // in: E → D in one round, F → E → D in two
      val fanOut = Seq("[" + WikiPrefix + "X_1]", "[" + WikiPrefix + "X_2]")
      assert(sorted(folded.where(col("source") === WikiPrefix + "E")
        .select("target")) === fanOut)
      if (hops >= 2)
        assert(sorted(folded.where(col("source") === WikiPrefix + "F")
          .select("target")) === fanOut)
    }
  }

  test("redirect fold equals the pinned loop on the fixture and a " +
      "generated dump") {
    for ((what, p) <- Seq("fixture" -> Wiki.pages(spark, Corpus.FixtureWiki),
        "dump" -> dumpPages)) {
      val folded = Wiki.redirects(spark, p)
      assert(isFold(folded), what)
      assertSame(what, Wiki.redirects(spark, p, 3, -1L), folded)
    }
  }

  test("without ANSI the redirect closure still folds, to the loop's rows") {
    // string-only: no arithmetic whose overflow ANSI mode would change
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val p = pages(pairSet(1, 3))
      val folded = Wiki.redirects(spark, p)
      assert(isFold(folded))
      assertSame("ansi off", Wiki.redirects(spark, p, 3, -1L), folded)
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("the guard read is one job with one task per page partition") {
    val local = pages(pairSet(2, 3))
    val p = spark.createDataFrame(
      spark.sparkContext.parallelize(local.collect().toSeq, 4), local.schema)
    val n = pairSet(2, 3).size.toLong
    def counts(guard: Long) = Bench.counted(spark.sparkContext)(
      Wiki.redirects(spark, p, 3, guard))._2
    val fold = counts(n)
    assert(fold.jobs == 1 && fold.tasks == 4, s"fold: $fold")
    val loop = counts(n - 1) // the guard read, then the pinned rounds
    assert(loop.jobs > 1, s"loop: $loop")
    assert(DriverFold.collectParallel(p, -1L).isEmpty)
    assert(DriverFold.collectParallel(p, n + 1).isEmpty)
    assert(DriverFold.collectParallel(p, n + 2).map(_.toSeq) ==
      Some(local.collect().toSeq), "all rows, in partition order")
    assert(DriverFold.collectParallel(p.limit(0), 0L).exists(_.isEmpty))
  }

  // ---- name-part counts -------------------------------------------------
  /** The k = 1 `s2_wiki_dump` scale case's dump: 400 articles of
    * generated prose with anchors, 80 chained redirects and a 2-cycle.
    */
  private lazy val dumpPages: DataFrame = {
    val wiki = ScaleCases.all(spark, SharedSpark.testData())
      .find(_.name == "s2_wiki_dump").get
      .asInstanceOf[Scale.ScaleCase[Dataset[String], _]]
    val dir = Scratch.dir("graft_corpus_fold_dump")
    wiki.plant(1, wiki.replicate(1)).write.mode("overwrite").text(dir)
    Wiki.pages(spark, dir).cache()
  }

  /** Anchors with no tokens, one token, repeated and long spans. */
  private def edgeDocs: DataFrame = {
    val text = "the red fox and the red fox ran. !!! over the lazy old " +
      "brown dog, the red fox, the lazy old brown dog; red."
    def at(s: String, from: Int = 0) = {
      val i = text.indexOf(s, from)
      require(i >= 0, s)
      Row("t/" + s, i, i + s.length)
    }
    val links = Seq(at("the red fox"), at("the red fox", 10), at("!!!"),
      at("the lazy old brown dog"), at("red", 70), at("fox"), at("red."))
    val schema = StructType.fromDDL("doc_id string, text string, " +
      "links array<struct<target:string,start:int,stop:int>>")
    spark.createDataFrame(java.util.List.of(Row("d1", text, links),
      Row("d2", text.toUpperCase, links.take(3)), Row("d3", "", Seq())),
      schema)
  }

  test("one-aggregation namePartCounts equals the three-aggregation " +
      "form at maxNgram 1, 2 and 3") {
    lazy val fixture = Wiki.documents(spark, Corpus.FixtureWiki)
    lazy val dump = Wiki.articles(spark, dumpPages,
      Wiki.redirects(spark, dumpPages)).cache()
    for ((what, docs) <- Seq("fixture" -> (() => fixture),
        "dump" -> (() => dump), "edge anchors" -> (() => edgeDocs));
        maxNgram <- 1 to 3) {
      val old = namePartCountsOld(docs(), maxNgram)
      val now = LinkModels.namePartCounts(docs(), maxNgram)
      // the one change: term, never null, now says so
      assert(now.schema === StructType(old.schema.map(f =>
        if (f.name == "term") f.copy(nullable = false) else f)),
        s"$what $maxNgram: schema")
      val rows = sorted(now)
      assert(rows === sorted(old), s"$what $maxNgram: rows")
      assert(rows.nonEmpty, s"$what $maxNgram: nothing kept")
    }
  }
}
