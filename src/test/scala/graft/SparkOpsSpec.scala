package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Rank, Similarity, TextAnalysis, TextModels}

/** One shared local session for every Spark-backed suite; never stopped —
  * the forked test JVM exits after the run.
  */
object SharedSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The generated tables of scale factor `sf` ([[graft.tools.Scale.testData]]). */
  def testData(sf: String = "sf0.001"): String = graft.tools.Scale.testData(sf)
}

class SparkOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  import scala.jdk.CollectionConverters._

  private def docsDf(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("Rank.globalOrdinal equals a single-partition row_number") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(1)
    val df = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(1000)))
      .zipWithIndex.map { case ((c, tie), i) => (s"k$i", c * 13 + tie % 7) }
      .toDF("k", "cnt")
    val expected = df.withColumn("rank",
      row_number().over(Window.orderBy(desc("cnt"), asc("k")))
        .cast("long") - 1)
      .select("k", "rank").as[(String, Long)].collect().toMap
    val got = Rank.globalOrdinal(df, Seq(desc("cnt"), asc("k")), "rank", 8)
      .select("k", "rank").as[(String, Long)].collect().toMap
    assert(got == expected)
  }

  test("Dedup.exact groups token-identical documents") {
    val out = Dedup.exact(docsDf(
      1L -> "Spark is fast", 2L -> "spark IS fast!", 3L -> "different doc"))
      .collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dup.getAs[Long]("keep_doc") == 1L)
  }

  test("Dedup.canonical keeps the best-quality copy, ties to min id") {
    // 2 is token-identical to 1 but longer raw text -> wins the group;
    // 4 ties 1's length exactly -> smaller id (1) wins over 4
    val out = Dedup.canonical(docsDf(
      1L -> "Spark is fast", 2L -> "spark IS fast!!!!",
      3L -> "different doc", 4L -> "spark is fast"),
      length(col("text")))
      .collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_dups") == 3L).get
    assert(dup.getAs[Long]("keep_doc") == 2L)
    assert(dup.getAs[Long]("quality") == 17L)
  }

  test("minhashLsh finds a planted near-duplicate and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val out = Dedup.minhashLsh(docsDf(
      1L -> base,
      2L -> (base + " extra"),
      3L -> "completely unrelated words about something else entirely"),
      3, 8, 4, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("lineClean: C4 rules — short lines and unpunctuated lines drop, " +
    "lorem-ipsum and brace pages are flagged, order preserved") {
    val out = graft.ops.TextAnalysis.lineClean(docsDf(
      1L -> ("This is a good line.\nshort\nAnother proper sentence " +
        "here!\nno terminal punctuation at all"),
      2L -> "Lorem Ipsum dolor sit amet.",
      3L -> "some code here { x }.")).orderBy("doc_id").collect()
    val d1 = out(0)
    assert(d1.getLong(1) == 4L && d1.getLong(2) == 2L)
    assert(!d1.getBoolean(3) && !d1.getBoolean(4) && d1.getBoolean(5))
    assert(d1.getString(6) ==
      "This is a good line.\nAnother proper sentence here!")
    val d2 = out(1) // line itself survives but the PAGE flag rejects
    assert(d2.getLong(2) == 1L && d2.getBoolean(3) && !d2.getBoolean(5))
    val d3 = out(2)
    assert(d3.getBoolean(4) && !d3.getBoolean(5))
  }

  test("lineDedup: a line in more than maxDocs distinct docs is struck " +
    "from every doc; survivors keep original order; all-struck doc " +
    "still emits") {
    val banner = "Accept our cookies to continue."
    val out = graft.ops.Dedup.lineDedup(docsDf(
      1L -> s"Unique first line.\n$banner\nUnique third line.",
      2L -> s"$banner\nAnother unique line.",
      3L -> s"  $banner  ", // trims to the same key; becomes empty
      4L -> "Totally unrelated document.").orderBy("doc_id"), 2)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 2L &&
      out(0).getLong(3) == 1L)
    assert(out(0).getString(4) ==
      "Unique first line.\nUnique third line.")
    assert(out(1).getLong(2) == 1L &&
      out(1).getString(4) == "Another unique line.")
    assert(out(2).getLong(2) == 0L && out(2).getLong(3) == 1L &&
      out(2).getString(4) == "")
    assert(out(3).getLong(3) == 0L)
  }

  test("incrementalNearDup: increment docs collide with the prior " +
    "index, uniques don't, and prior docs emit no rows") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val prior = docsDf(
      2L -> base,
      4L -> "some other prior corpus text about older crawls entirely")
    val incr = docsDf(
      1L -> base, // exact text twin of prior doc 2 → every band collides
      3L -> "fresh unique increment content sharing nothing with prior")
    val out = Dedup.incrementalNearDup(prior, incr).orderBy("doc_id")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // increment only
    val dup = out.head
    assert(dup.getLong(1) == 1L && dup.getLong(2) == 2L &&
      dup.getLong(3) == 1L)
    val uniq = out.last
    assert(uniq.getLong(1) == 0L && uniq.isNullAt(2) &&
      uniq.getLong(3) == 0L)
  }

  test("band-index LSH-params sidecar: appends and path-addressed " +
    "queries with mismatched parameters fail fast; matched ones work; " +
    "a legacy index is adopted on append") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_params").toString
    val idxPath = dir + "/idx"
    Dedup.appendBandIndex(docsDf(2L -> base), idxPath, overwrite = true)
    // matched append + matched path query: fine
    Dedup.appendBandIndex(docsDf(4L -> ("other prior corpus text " +
      "entirely unrelated to anything")), idxPath)
    val out = Dedup.nearDupAgainstIndexPath(docsDf(1L -> base), idxPath)
      .collect()
    assert(out.length == 1 && out.head.getLong(1) == 1L)
    // mismatched append (different bands) and mismatched query throw
    val eAppend = intercept[IllegalArgumentException] {
      Dedup.appendBandIndex(docsDf(6L -> base), idxPath, bands = 8,
        rows = 1)
    }
    assert(eAppend.getMessage.contains("bands=8"))
    intercept[IllegalArgumentException] {
      Dedup.nearDupAgainstIndexPath(docsDf(1L -> base), idxPath,
        shingleN = 5)
    }
    // legacy adoption: delete the sidecar; append stamps a fresh one,
    // after which a mismatched append fails again
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(idxPath, "_graft_lsh_params"))
    Dedup.appendBandIndex(docsDf(8L -> base), idxPath)
    intercept[IllegalArgumentException] {
      Dedup.appendBandIndex(docsDf(10L -> base), idxPath, k = 4)
    }
  }

  test("jaccardAllPairs agrees with hand-computed Jaccard") {
    // doc1: shingles {a b c, b c d}; doc2: {a b c, b c e}; inter=1 union=3
    val out = Dedup.jaccardAllPairs(docsDf(
      1L -> "a b c d", 2L -> "a b c e"), 3, 0.1)
      .collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 1.0 / 3) < 1e-12)
  }

  test("simhashPairs respects the pigeonhole recall bound") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docsDf(1L -> "x"), 7)
    }
    // identical docs: Hamming 0 pair always found
    val out = Dedup.simhashPairs(docsDf(
      1L -> "same words here", 2L -> "same words here"), 3).collect()
    assert(out.length == 1 && out.head.getAs[Int]("hamming") == 0)
  }

  test("bruteForceTopK ranks an exact duplicate vector first") {
    val s = spark; import s.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.001f, 0.0f)), // near-twin of 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e.filter(col("vec_id") === 1), e, 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.head == 2L)
  }

  test("annRecall: full probe recovers recall 1.0; a missed cell " +
    "costs exactly the neighbors it holds") {
    val s = spark; import s.implicits._
    // two well-separated direction groups; hyperplane cells follow sign
    // structure, so probing ALL cells (nprobe >= #cells) must equal
    // the brute-force set exactly
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.8f, 0.2f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 0.9f, 0.1f)),
      (6L, Array(0.0f, 0.0f, 0.8f, 0.2f))).toDF("vec_id", "embedding")
    val corpus = Similarity.assignCells(e, 3, 4)
    val full = Similarity.annRecall(e.filter(col("vec_id") === 1),
      corpus, "cell", nprobe = 8, k = 3).collect().head
    assert(full.getLong(1) === 3L && full.getLong(2) === 3L &&
      full.getDouble(3) === 1.0)
    // recall is monotone in nprobe, and n_hits never exceeds n_true
    val narrow = Similarity.annRecall(e.filter(col("vec_id") === 1),
      corpus, "cell", nprobe = 1, k = 3).collect().head
    assert(narrow.getLong(2) <= narrow.getLong(1))
    assert(narrow.getDouble(3) <= full.getDouble(3))
  }

  test("langId picks the profile language, und on no hits") {
    val s = spark; import s.implicits._
    val out = TextAnalysis.langId(Seq(
      (1L, "the cat and the dog sat on the mat with it"),
      (2L, "der Hund und die Katze sind nicht mit mir"),
      (3L, "el perro que corre por las calles es para todos"),
      (4L, "le chat est dans les jardins qui sont pour nous"),
      (5L, "zzz qqq xxx")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr",
      5L -> "und"))
  }

  test("readability: hand-counted Flesch score; wordless doc is null") {
    val s = spark; import s.implicits._
    val out = TextAnalysis.readability(Seq(
      // 5 words, 2 sentence runs, 7 vowel groups:
      // he-llo(2) world(1) how(1) are(2) you(1)
      (1L, "Hello world. How are you?"),
      (2L, "   "), // whitespace only: null score, sentence floor 1
      (3L, "")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) === 5L && r1.getLong(2) === 2L &&
      r1.getLong(3) === 7L)
    // 206.835 − 1.015·(5/2) − 84.6·(7/5) = 85.8575
    assert(r1.getDouble(4) === 85.8575)
    assert(out(2L).getLong(1) === 0L && out(2L).getLong(2) === 1L &&
      out(2L).isNullAt(4))
    assert(out(3L).getLong(2) === 1L && out(3L).isNullAt(4))
  }

  test("domainMixWeights: alpha-tempering lifts the small domain's " +
    "share; weights sum to ~1") {
    val s = spark; import s.implicits._
    // big domain: 9 docs x 10 tokens = 90; small: 1 doc x 10 tokens
    val docs = ((1 to 9).map(i => (i.toLong,
      "a b c d e f g h i j", "en", "big")) :+
      ((10L, "a b c d e f g h i j", "en", "small")))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.domainMixWeights(docs)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out("big")._1 === 9L && out("big")._2 === 90L)
    assert(out("big")._3 === 0.9 && out("small")._3 === 0.1)
    // tempered: 90^0.3 vs 10^0.3 — the small domain's weight rises
    // above its raw share, the big one's falls
    assert(out("small")._4 > 0.1 && out("big")._4 < 0.9)
    val total = out.values.map(_._4).sum
    assert(math.abs(total - 1.0) < 2e-6) // round-6 residue only
    // hand value: w_small = 10^.3 / (90^.3 + 10^.3)
    val expSmall = math.pow(10, 0.3) /
      (BigDecimal(math.pow(90, 0.3)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble +
       BigDecimal(math.pow(10, 0.3)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(out("small")._4 - expSmall) < 1e-5)
  }

  test("sourceStats rolls quality signals up per origin with " +
      "decimal-exact means") {
    val s = spark; import s.implicits._
    val good = "the cat and the dog sat on the mat with a big red ball"
    val junk = "zz9 qq8 xx7"
    val docs = Seq(
      (1L, good, "a"), (2L, good, "a"), (3L, junk, "b"), (4L, good, "b"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceStats(docs).orderBy("source").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = out(0); val b = out(1)
    assert(a.getLong(1) == 2L && a.getLong(2) == 2L) // both 'a' docs pass
    assert(b.getLong(1) == 2L && b.getLong(2) == 1L) // junk doc fails
    // partitioning invariance of the decimal-summed means
    val again = TextAnalysis.sourceStats(docs.repartition(5))
      .orderBy("source").collect()
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("bm25TopK ranks term-dense short docs first, length-penalizes") {
    val s = spark; import s.implicits._
    // doc 1: both terms, short. doc 2: both terms buried in filler —
    // same tfs, longer doc => lower score. doc 3: one term. doc 4: none.
    val docs = Seq(
      (1L, "spark join spark join"),
      (2L, "spark join spark join filler filler filler filler filler " +
        "filler filler filler filler filler filler filler"),
      (3L, "join only here"),
      (4L, "nothing relevant at all")).toDF("doc_id", "text")
    val out = TextModels.bm25TopK(docs, Seq("join", "spark"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"got ${out.toSeq}") // doc 4 filtered (no query term)
    val m = out.toMap
    assert(m(1L) > m(2L) && m(2L) > m(3L))
    // deterministic replay
    val again = TextModels.bm25TopK(docs, Seq("spark", "join"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(again.toSeq == out.toSeq) // term order must not matter
  }

  test("rakeKeywords: hand-computed degree/freq phrase scores; " +
    "overlong runs dropped") {
    val s = spark; import s.implicits._
    // stopwords 'and'/'the' split: [deep learning models], [deep
    // learning]. deep/learning: freq 2, degree 3+2=5 -> 2.5;
    // models: freq 1, degree 3 -> 3.0. Scores: dlm 8.0, dl 5.0.
    val out1 = TextAnalysis.rakeKeywords(Seq(
      (1L, "deep learning models and the deep learning"))
      .toDF("doc_id", "text"), 3, 4)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(out1.toSeq === Seq((1L, "deep learning models", 8.0),
      (2L, "deep learning", 5.0)))
    // a stopword-free 5-token run exceeds maxPhraseLen=4: no output
    val out2 = TextAnalysis.rakeKeywords(Seq(
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      3, 4)
    assert(out2.count() === 0L)
    // per-doc scoring: identical docs score independently
    val out3 = TextAnalysis.rakeKeywords(Seq(
      (3L, "fast query engine"), (4L, "fast query engine"))
      .toDF("doc_id", "text"), 1, 4)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
    assert(out3.toSet === Set((3L, "fast query engine", 9.0),
      (4L, "fast query engine", 9.0)))
  }

  test("datasetCard: hand-counted one-row datasheet") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the cat and the dog sat on the mat with it here now", "en", "a"),
      (2L, "the cat and the dog sat on the mat with it here now", "en", "a"),
      (3L, "tiny", "en", "b"),
      (4L, "der hund und die katze sind nicht mit mir hier jetzt ja",
        "de", "b")).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.datasetCard(docs).collect().head
    assert(r.getLong(0) === 4L)  // n_docs
    assert(r.getLong(3) === 2L && r.getLong(4) === 2L) // langs, sources
    // docs 1 and 2 are identical -> one exact dup
    assert(r.getLong(9) === 1L)
    assert(r.getDouble(10) === 0.25)
    // docs 1/2 pass quality (>=10 tokens, alpha, stopwords); 3 fails
    // (too short); 4 fails (no EN stopwords)
    assert(r.getLong(5) === 2L && r.getDouble(6) === 0.5)
  }

  test("bm25Join equals bm25TopK scores on the same term set") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "spark join spark join"),
      (2L, "spark join spark join filler filler filler filler filler " +
        "filler filler filler filler filler filler filler"),
      (3L, "join only here"),
      (4L, "nothing relevant at all")).toDF("doc_id", "text")
    val fixed = TextModels.bm25TopK(docs, Seq("join", "spark"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val joined = TextModels.bm25Join(docs,
        Seq("join", "spark").toDF("term"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(joined.keySet === fixed.keySet)
    // per-term round-6-into-decimal vs fixed-tree sum: equal to 2e-6
    for ((k, v) <- fixed)
      assert(math.abs(joined(k) - v) < 2e-6, s"doc $k: $v vs ${joined(k)}")
  }

  test("heapsFit: all-distinct tokens fit beta exactly 1; single " +
    "type reads null; counts exact") {
    val s = spark; import s.implicits._
    // every token new → p_v = v → points (ln v, ln v): slope 1,
    // intercept 0, r2 = 1, all EXACT
    val docs = Seq((1L, "t1 t2 t3 t4 t5"), (2L, "t6 t7 t8 t9 t10"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.heapsFit(docs).collect().head
    assert(r.getLong(0) === 10L && r.getLong(1) === 10L)
    assert(r.getDouble(2) === 1.0 && r.getDouble(3) === 0.0 &&
      r.getDouble(4) === 1.0)
    // one type: no x spread → null fit, counts still exact
    val one = Seq((1L, "x x x")).toDF("doc_id", "text")
    val o = graft.ops.TextAnalysis.heapsFit(one).collect().head
    assert(o.getLong(0) === 1L && o.getLong(1) === 3L && o.isNullAt(2))
  }

  test("distinctNgrams: hand-counted ratios per n; empty docs " +
    "contribute nothing") {
    val s = spark; import s.implicits._
    // "a b a b" + "a b": uni 2/6, bi {ab×3, ba×1} 2/4, tri 2/2
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.distinctNgrams(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 6L, 2L, 0.333333),
      (2L, 4L, 2L, 0.5), (3L, 2L, 2L, 1.0)))
  }

  test("jsDivergence: identical slices read exactly zero; disjoint " +
    "vocabularies approach ln 2 symmetrically") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    // same token multiset in both slices → p_b = q_b in every bucket
    val same = Seq((1L, "alpha beta gamma alpha", "en"),
      (2L, "alpha beta gamma alpha", "xx")).toDF("doc_id", "text", "lang")
    val r = graft.ops.TextAnalysis.jsDivergence(same,
      col("lang") === "en").collect().head
    assert(r.getLong(1) === 4L && r.getLong(2) === 4L)
    assert(r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0 &&
      r.getDouble(5) === 0.0)
    // disjoint vocabularies, mirrored counts → kl_pq = kl_qp exactly,
    // js large but < ln 2 (smoothing mass keeps it off the bound)
    // 5000 tokens per slice so the corpora outweigh the 0.5·1024
    // smoothing mass (the dsirWeights lesson)
    val disj = Seq((1L, "aaa " * 5000, "en"), (2L, "bbb " * 5000, "xx"))
      .toDF("doc_id", "text", "lang")
    val d = graft.ops.TextAnalysis.jsDivergence(disj,
      col("lang") === "en").collect().head
    assert(d.getDouble(3) === d.getDouble(4))
    assert(d.getDouble(5) > 0.6 && d.getDouble(5) < math.log(2.0))
  }

  test("vocabChao1: hapax/dis folds and the bias-corrected estimate; " +
    "hapax-free corpus reads full coverage") {
    val s = spark; import s.implicits._
    // counts a:2 b:1 c:2 d:1 → N=6 V=4 F1=2 F2=2;
    // chao1 = 4 + 2·1/(2·3) = 4.333333; coverage = 1 − 2/6
    val docs = Seq((1L, "a a b c"), (2L, "c d")).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.vocabChao1(docs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((6L, 4L, 2L, 2L)))
    assert(r.getDouble(4) === 4.333333 && r.getDouble(5) === 0.666667)
    // no hapaxes: chao1 = V exactly, coverage 1
    val dup = Seq((1L, "x x y y")).toDF("doc_id", "text")
    val r2 = graft.ops.TextAnalysis.vocabChao1(dup).collect().head
    assert(r2.getDouble(4) === 2.0 && r2.getDouble(5) === 1.0)
  }

  test("qldJoin: hand-computed Dirichlet scores, absent query terms " +
    "drop from |q|, non-matching docs absent") {
    val s = spark; import s.implicits._
    // C = 9 tokens; cf(apple)=3, cf(banana)=1; 'zzz' absent → nq = 2.
    // μ=2: d1 = ln4 + ln5.5 + 2·ln(2/5) = 1.386294 + 1.704748 −
    // 1.832582 = 1.258460; d2 = ln2.5 + 2·ln(2/6) = 0.916291 −
    // 2.197224 = −1.280933; d3 matches nothing → absent
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry cherry cherry"),
      (3L, "durian durian")).toDF("doc_id", "text")
    val out = TextModels.qldJoin(docs,
        Seq("apple", "banana", "zzz").toDF("term"), 10, mu = 2.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq === Seq((1L, 1.25846), (2L, -1.280933)))
  }

  test("prfExpand pulls in feedback-doc vocabulary: a doc with only " +
    "expansion terms enters the final ranking") {
    val s = spark; import s.implicits._
    // seed 'spark' hits docs 1-2, whose salient companion term is
    // 'shuffle'; doc 3 contains ONLY 'shuffle' so the seed query can
    // never retrieve it — PRF must.
    val docs = Seq(
      (1L, "spark shuffle spark shuffle exchange"),
      (2L, "spark shuffle partition exchange"),
      (3L, "shuffle shuffle exchange tuning notes"),
      (4L, "unrelated text about nothing")).toDF("doc_id", "text")
    val out = TextModels.prfExpand(docs, Seq("spark"), nDocs = 2,
        mTerms = 2, k = 10)
      .collect().map(_.getLong(0))
    assert(out.contains(3L), s"expansion failed to reach doc 3: " +
      s"${out.toSeq}")
    assert(!out.contains(4L))
  }

  test("tfidfNeighbors pairs only docs sharing index terms; " +
    "identical docs score 1") {
    val s = spark; import s.implicits._
    // 'shared' terms appear in docs 1-3 (df 3 > minDf 2); doc 4 has no
    // indexable vocabulary overlap; docs 1 and 2 are identical
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta zzz"), (4L, "totally different words"))
      .toDF("doc_id", "text")
    val out = TextModels.tfidfNeighbors(docs, 10, minDf = 1, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out((1L, 2L)) === 1.0) // identical vectors
    assert(out.contains((1L, 3L)) && out((1L, 3L)) < 1.0)
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("tfidfNeighbors: a zero-norm doc (all idf 0) is excluded, " +
    "never NaN") {
    val s = spark; import s.implicits._
    // 'everywhere' appears in all 3 docs → idf = ln(1) = 0; doc 3 has
    // ONLY that term, so its norm is 0 and it must vanish from pairs
    val docs = Seq(
      (1L, "everywhere alpha beta"), (2L, "everywhere alpha beta"),
      (3L, "everywhere")).toDF("doc_id", "text")
    val out = TextModels.tfidfNeighbors(docs, 10, minDf = 1, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall(p => p._1 != 3L && p._2 != 3L))
    assert(out.forall(p => !p._3.isNaN))
    assert(out.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
  }

  test("zipfFit degenerate corpora yield null fits, not NaN") {
    val s = spark; import s.implicits._
    // every token count equal (a plausible post-dedup corpus): no y
    // spread → r2 null; slope well-defined? deny = 0 only
    val flat = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    val r1 = TextAnalysis.zipfFit(flat).collect().head
    assert(r1.isNullAt(3), s"r2 should be null: $r1")
    assert(!r1.isNullAt(1)) // x spread exists → slope defined (0)
    // single token type: no x spread either → slope/intercept null
    val one = Seq((1L, "aa aa aa")).toDF("doc_id", "text")
    val r2 = TextAnalysis.zipfFit(one).collect().head
    assert(r2.isNullAt(1) && r2.isNullAt(2) && r2.isNullAt(3))
  }

  test("zipfFit recovers the exponent of an exact power-law corpus") {
    val s = spark; import s.implicits._
    // counts c(r) = floor(1000 / r) for ranks 1..50 — ln c ≈ ln 1000
    // − ln r, so the fit slope must sit near −1 with r² near 1
    val text = (1 to 50).flatMap(r =>
      Seq.fill(1000 / r)(s"tok${"%03d".format(r)}")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = TextAnalysis.zipfFit(docs).collect().head
    assert(out.getLong(0) === 50L)
    assert(math.abs(out.getDouble(1) + 1.0) < 0.05, s"slope ${out}")
    assert(out.getDouble(3) > 0.99, s"r2 ${out}")
  }

  test("chi2Terms ranks the label-exclusive token above the shared one") {
    val s = spark; import s.implicits._
    // 'solo' appears only in label-a docs; 'both' in every doc; 'rare'
    // in one doc of each label (independent of the label)
    val docs = Seq(
      (1L, "both solo", "a"), (2L, "both solo", "a"),
      (3L, "both solo", "a"), (4L, "both", "b"),
      (5L, "both rare", "b"), (6L, "both rare a0", "a")) // a0: tie noise
      .toDF("doc_id", "text", "lang")
    val out = TextModels.chi2Terms(docs, "lang", 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val m = out.map(t => t._1 -> t._3).toMap
    // label-exclusive token dominates; the everywhere token scores 0
    assert(m("solo") > m("rare"))
    assert(m("both") === 0.0)
    // df carried through
    assert(out.find(_._1 == "solo").get._2 === 3L)
    // top-1 is the most dependent term
    assert(out.head._1 === "solo")
  }

  test("streaming window counts equal the batch aggregation (sf0.001)") {
    val dir = SharedSpark.testData()
    val streamed = graft.streaming.Events.windowCounts(spark, dir)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
    val batch = graft.queries.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
    assert(streamed.toSet == batch.toSet)
    assert(streamed.nonEmpty)
  }

  /** Test-side twin of the gate's md5 split: first 15 hex chars of
    * md5(doc_id) as a long, % 2 (parity 1 = held-out/test half).
    */
  private def md5Parity(id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map("%02x".format(_)).mkString.substring(0, 15), 16) % 2
  }

  test("TextAnalysis.collocations: hand-computed PMI, min-count drop, " +
    "round-6 tie order") {
    // 5x "new york is big": bigrams (new,york)/(york,is)/(is,big) at
    // count 5 each; one "foo bar" doc adds T += 2, B += 1 and a
    // below-min-count pair that must NOT appear. T = 22, B = 16,
    // every unigram count 5 -> pmi = ln((5/16)/((5/22)^2)) for all
    // three survivors; ties break (a asc, b asc).
    val docs = docsDf((1L to 5L).map(i => i -> "new york is big") :+
      (6L -> "foo bar"): _*)
    val out = TextAnalysis.collocations(docs, minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    val expPmi = BigDecimal(math.log((5.0 / 16) / math.pow(5.0 / 22, 2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(t => (t._1, t._2)).toSeq ==
      Seq(("is", "big"), ("new", "york"), ("york", "is")))
    assert(out.forall(t => t._3 == 5L && t._4 == expPmi))
  }

  test("Similarity.daviesBouldin: two identical-member orthogonal " +
    "clusters read zero scatter, zero index; n per cell correct") {
    val s = spark; import s.implicits._
    // seeds are the k smallest md5Long(vec_id): give the two smallest
    // hashes one group each so cent0 starts split; identical members
    // per group make scatter exactly 0 and M = 1 (orthogonal), so
    // every db_term and the index are exactly 0.0
    def h(id: Long): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      BigInt(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val ids = (1L to 6L).sortBy(h)
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 0.0f, 1.0f, 0.0f)
    // smallest-hash id -> group a, second -> group b, rest alternate
    val e = ids.zipWithIndex.map { case (id, i) =>
      (id, if (i % 2 == 0) a else b) }.toSeq.toDF("vec_id", "embedding")
    val out = Similarity.daviesBouldin(e, 2, 2).collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getLong(1) == 3L))
    assert(out.forall(r => r.getDouble(2) == 0.0 &&
      r.getDouble(3) == 0.0))
  }

  test("Similarity.mmrRerank: a duplicate of the top result is " +
    "demoted below a diverse lower-relevance candidate") {
    val s = spark; import s.implicits._
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val e3 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    // c2 duplicates c1's vector at nearly its relevance; c3 is
    // orthogonal at rel 0.5 — pure-relevance order (c1,c2,c3) must
    // become (c1,c3,c2): r2 scores c3 0.35 > c2 (7·0.89−3·1)/10
    val cands = Seq(
      (0L, 1L, 0.9, e1), (0L, 2L, 0.89, e1), (0L, 3L, 0.5, e3))
      .toDF("query_id", "cand_id", "rel", "emb")
    val out = Similarity.mmrRerank(cands, 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 1L, 0.63), (2L, 3L, 0.35),
      (3L, 2L, 0.323)))
  }

  test("Similarity.kCenterCoreset: farthest-point order with " +
    "non-increasing covering radius; min-id seed and tie-breaks") {
    val s = spark; import s.implicits._
    // seed = id 1 (1,0). Farthest: id 4 (0,1), dist 1.0. Then id 3
    // (1,1): cos 0.707107 to both → 0.292893. Last id 2 (1,0.1):
    // nearest selected is id 1, cos = 1/√1.01 → dist 0.004963.
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f)),
      (3L, Array(1.0f, 1.0f)), (4L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenterCoreset(e, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq === Seq((1L, 1L, None), (2L, 4L, Some(1.0)),
      (3L, 3L, Some(0.292893)), (4L, 2L, Some(0.004963))))
    val ds = out.drop(1).map(_._3.get)
    assert(ds.zip(ds.drop(1)).forall { case (a, b) => a >= b })
  }

  test("Similarity.pcaPower: rank-1 data recovers the exact direction " +
    "and eigenvalue; a start-orthogonal component degrades loudly") {
    val s = spark; import s.implicits._
    // ±(3,4), ±(6,8): mean 0, C = [[90,120],[120,160]] = 250·uuᵀ with
    // u = (0.6, 0.8); from (1,1) one round lands exactly on u, λ = 250
    val e = Seq(
      (1L, Array(3.0f, 4.0f)), (2L, Array(-3.0f, -4.0f)),
      (3L, Array(6.0f, 8.0f)), (4L, Array(-6.0f, -8.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pcaPower(e).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.toSeq === Seq((0L, 0.6, 250.0), (1L, 0.8, 250.0)))
    // data along (1,−1): C·(1,1) = 0 — the documented all-ones blind
    // spot reads the degenerate reset (loading 1, λ 0), not a blowup
    val o = Seq((1L, Array(1.0f, -1.0f)), (2L, Array(-1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val oo = Similarity.pcaPower(o).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(oo.toSeq === Seq((1.0, 0.0), (1.0, 0.0)))
  }

  test("Similarity.pcaDebias: rank-1 data leaves zero residual; an " +
    "orthogonal point keeps its full norm") {
    val s = spark; import s.implicits._
    // ±(3,4)/±(6,8) are rank-1 along (0.6, 0.8): p·v reproduces every
    // centered row exactly → resid 0, removed_frac 1
    val e = Seq(
      (1L, Array(3.0f, 4.0f)), (2L, Array(-3.0f, -4.0f)),
      (3L, Array(6.0f, 8.0f)), (4L, Array(-6.0f, -8.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pcaDebias(e).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.toSeq === Seq((1L, 5.0, 0.0, 1.0), (2L, 5.0, 0.0, 1.0),
      (3L, 10.0, 0.0, 1.0), (4L, 10.0, 0.0, 1.0)))
    // add an orthogonal pair (±(−4,3)·ε skipped — use exact (−4,3)):
    // the dominant direction stays (0.6,0.8) (λ 250 vs 25), and the
    // orthogonal points project to p = 0 → resid_norm = norm
    val e2 = e.unionByName(Seq(
      (5L, Array(-4.0f, 3.0f)), (6L, Array(4.0f, -3.0f)))
      .toDF("vec_id", "embedding"))
    val o2 = Similarity.pcaDebias(e2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    val ortho = o2.filter(r => r._1 >= 5L)
    assert(ortho.forall(r => r._2 === 5.0 && r._3 === 5.0 &&
      r._4 === 0.0))
  }

  test("Similarity.silhouette: orthogonal identical-member clusters " +
    "score 1; a collapsed single cell reads zero") {
    val s = spark; import s.implicits._
    def h(id: Long): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      BigInt(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val ids = (1L to 6L).sortBy(h)
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 0.0f, 1.0f, 0.0f)
    // alternate by hash order so the two seeds start one per group;
    // identical members ⇒ a = 0, b = 1 (orthogonal) ⇒ s = 1 per point
    val e = ids.zipWithIndex.map { case (id, i) =>
      (id, if (i % 2 == 0) a else b) }.toSeq.toDF("vec_id", "embedding")
    val out = Similarity.silhouette(e, 2, 2).collect()
    assert(out.length == 2)
    assert(out.forall(r => r.getLong(1) == 3L))
    assert(out.forall(r => r.getDouble(2) == 1.0 &&
      r.getDouble(3) == 1.0))
    // all-identical corpus: assignment ties collapse to one cell after
    // the first Lloyd round; b is null-free only via greatest(0,null)=0
    // ⇒ the s = 0 convention, one surviving row
    val same = (1L to 6L).map(i => (i, a)).toDF("vec_id", "embedding")
    val deg = Similarity.silhouette(same, 2, 2).collect()
    assert(deg.length == 1 && deg.head.getLong(1) == 6L)
    assert(deg.head.getDouble(2) == 0.0 && deg.head.getDouble(3) == 0.0)
  }

  test("TextAnalysis.dsirWeights: target-vocab docs score positive, " +
    "off-target negative; token-less docs absent") {
    val s = spark; import s.implicits._
    // target (en-flagged) docs speak {alpha beta}; the rest {zulu}.
    // Corpora must OUTWEIGH the add-0.5 smoothing mass (0.5·64 = 32
    // pseudo-tokens) for the sign intuition to hold — hence ×20.
    val docs = Seq(
      (1L, "alpha beta " * 20, "en"),
      (2L, "beta alpha " * 20, "en"),
      (3L, "zulu " * 40, "xx"),
      (4L, "alpha beta", "xx"),   // target-like but off-target: scored
      (5L, "", "xx"))             // token-less: absent from output
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.dsirWeights(docs, col("lang") === "en", 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(5L))
    assert(out(4L)._1 == 2L)
    assert(out(1L)._2 > 0 && out(2L)._2 > 0) // target-like -> up
    assert(out(3L)._2 < 0)                   // off-target -> down
    assert(out(4L)._2 > 0)                   // weight follows CONTENT
  }

  test("TextModels.naiveBayes: disjoint vocabularies classify to the " +
    "diagonal; planted cross-vocab doc lands off-diagonal") {
    val s = spark; import s.implicits._
    // labels with fully disjoint vocabularies: any test doc scores
    // its own label's terms far above the add-1 floor of the other
    val base = (1L to 30L).map(i => (i, "alpha beta alpha gamma", "en")) ++
      (31L to 50L).map(i => (i, "rouge bleu rouge vert", "fr"))
    // planted confusion: an fr-labeled doc written in en vocabulary,
    // with a doc_id picked to land in the held-out (parity-1) half
    val oddId = (1000L to 1100L).find(md5Parity(_) == 1).get
    val docs = (base :+ ((oddId, "alpha beta gamma", "fr")))
      .toDF("doc_id", "text", "lang")
    val out = TextModels.naiveBayes(docs, "lang").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nTest = (1L to 50L).count(md5Parity(_) == 1)
    assert(out(("fr", "en")) == 1L) // the planted doc, misclassified
    assert(out.getOrElse(("en", "fr"), 0L) == 0L)
    assert(out.filter { case ((a, p), _) => a == p }.values.sum == nTest)
    assert(out.values.sum == nTest + 1)
  }

  test("TextModels.naiveBayes: token-less test doc falls back to the " +
    "prior argmax") {
    val s = spark; import s.implicits._
    // en has the larger train prior (more docs); the empty doc gives
    // every label only its logprior -> argmax = en
    val emptyId = (2000L to 2100L).find(md5Parity(_) == 1).get
    val base = (1L to 30L).map(i => (i, "alpha beta", "en")) ++
      (31L to 40L).map(i => (i, "rouge bleu", "fr"))
    val docs = (base :+ ((emptyId, "!!!", "fr")))
      .toDF("doc_id", "text", "lang")
    val out = TextModels.naiveBayes(docs, "lang").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("fr", "en")) >= 1L) // empty doc predicted by prior
  }
}

class MultimodalSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SharedSpark.session
  import graft.ops.Multimodal

  private def mediaDf = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "image", "fake-jpeg-bytes".getBytes("UTF-8")),
      (2L, "audio", "fake-wav-bytes".getBytes("UTF-8")),
      (3L, "video", "fake-mp4-bytes".getBytes("UTF-8")))
      .toDF("doc_id", "media_type", "bytes")
  }

  test("decode stub is deterministic with per-modality batch shape") {
    // non-parseable payloads fall back to the stub
    val a = Multimodal.decodedStats(mediaDf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val b = Multimodal.decodedStats(mediaDf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(a == b)
    val dims = a.map(t => t._1 -> t._2).toMap
    assert(dims == Map(1L -> 64, 2L -> 128, 3L -> 32))
  }

  test("PPM decoder parses real P6 bytes (header, comments, maxval scale)") {
    val header = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII")
    val pixels = Array[Byte](0, 127.toByte, 255.toByte, 64, 128.toByte, 192.toByte)
    val Some((w, h, px)) = Multimodal.Decode.ppm(header ++ pixels)
    assert(w == 2 && h == 1 && px.length == 6)
    assert(px(0) == 0f && px(2) == 1f)
    assert(math.abs(px(1) - 127f / 255f) < 1e-6)
    assert(Multimodal.Decode.ppm("P5 junk".getBytes).isEmpty)
  }

  test("PNG encode→decode round-trips payload bytes exactly (imageio)") {
    val payload = Array[Byte](0, 1, 64, 127, 128.toByte, 200.toByte,
      255.toByte)
    val png = Multimodal.pngRgb(payload)
    // real PNG container: magic bytes present
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' &&
      png(3) == 'G')
    val Some((w, h, px)) = Multimodal.Decode.imageIo(png)
    assert(w == payload.length && h == 1 && px.length == payload.length * 3)
    payload.indices.foreach { i =>
      val expected = (payload(i) & 0xff) / 255.0f
      assert(px(3 * i) == expected && px(3 * i + 1) == expected &&
        px(3 * i + 2) == expected, s"pixel $i")
    }
    // the production dispatch routes PNG through imageio, not the stub
    assert(Multimodal.Decode.decode(png, "image").toSeq == px.toSeq)
    assert(Multimodal.Decode.imageIo("not-a-png".getBytes).isEmpty)
  }

  test("WAV decoder parses PCM u8 and s16le chunk lists") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // u8: build the container with the engine's own wavU8 framing
    val payload = Array[Byte](0, 128.toByte, 255.toByte)
    val wavBytes = Seq(Tuple1(payload)).toDF("p")
      .select(Multimodal.wavU8(col("p")).as("w"))
      .head().getAs[Array[Byte]]("w")
    val Some((rate, ch, samples)) = Multimodal.Decode.wav(wavBytes)
    assert(rate == 8000 && ch == 1)
    assert(samples.toSeq == Seq(-1.0f, 0.0f, 127f / 128f))
    // s16le: hand-built 44-byte header + two samples (-32768, 16384)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val s16 = "RIFF".getBytes ++ le32(40) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ Array[Byte](1, 0, 1, 0) ++
      le32(16000) ++ le32(32000) ++ Array[Byte](2, 0, 16, 0) ++
      "data".getBytes ++ le32(4) ++
      Array[Byte](0x00, 0x80.toByte, 0x00, 0x40)
    val Some((r2, _, s2)) = Multimodal.Decode.wav(s16)
    assert(r2 == 16000 && s2.toSeq == Seq(-1.0f, 0.5f))
    assert(Multimodal.Decode.wav("nope".getBytes).isEmpty)
  }

  test("decoders reject malformed bytes instead of hanging or throwing") {
    // WAV chunk with size 0xFFFFFFF8 — a signed-Int parse would advance
    // by 0 and spin forever
    val evil = "RIFF".getBytes ++ Array[Byte](36, 0, 0, 0) ++
      "WAVE".getBytes ++ "junk".getBytes ++
      Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte) ++
      Array.fill[Byte](16)(0)
    assert(Multimodal.Decode.wav(evil).isEmpty)
    // truncated right after the fmt chunk header
    val trunc = "RIFF".getBytes ++ Array[Byte](36, 0, 0, 0) ++
      "WAVE".getBytes ++ "fmt ".getBytes ++ Array[Byte](16, 0, 0, 0)
    assert(Multimodal.Decode.wav(trunc).isEmpty)
    // PPM with w*h*3 overflowing Int
    val big = "P6\n999999999 999999999\n255\n".getBytes ++
      Array.fill[Byte](16)(1)
    assert(Multimodal.Decode.ppm(big).isEmpty)
    // the typed-map operator falls back to the stub on all of them
    val s = spark; import s.implicits._
    val bad = Seq((1L, "audio", evil), (2L, "image", big))
      .toDF("doc_id", "media_type", "bytes")
    assert(Multimodal.decodedStats(bad).collect().length == 2)
  }

  test("byteFeatures hashes bytes and emits a fixed-dim pseudo-embedding") {
    val out = Multimodal.byteFeatures(mediaDf).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getSeq[Double](r.fieldIndex("pseudo_embedding")).length == 8)
      assert(r.getAs[String]("content_md5").length == 32)
    }
  }
}

class DotProductSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SharedSpark.session

  test("graft_dot equals the zip_with/aggregate fold bit-for-bit") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.registerAll(s)
    val rnd = new scala.util.Random(11)
    val df = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat()), Array.fill(64)(rnd.nextFloat())))
      .toDF("a", "b")
    val both = df.selectExpr(
      "graft_dot(cast(a as array<double>), cast(b as array<double>)) AS fast",
      "aggregate(zip_with(a, b, (p, q) -> cast(p as double) * cast(q as double)), " +
        "cast(0.0 as double), (acc, v) -> acc + v) AS ref")
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_dot handles empty and length-mismatched arrays") {
    val s = spark
    graft.functions.GraftFunctions.registerAll(s)
    val out = s.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d)) AS a, " +
        "graft_dot(cast(array() as array<double>), " +
        "cast(array() as array<double>)) AS b").head()
    assert(out.getDouble(0) == 3.0)
    assert(out.getDouble(1) == 0.0)
  }

  test("graft_dot and graft_l2 read a null element in range as a null " +
      "result, with codegen on and off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = spark
    graft.functions.GraftFunctions.registerAll(s)
    val vec = ArrayType(DoubleType, containsNull = true)
    val df = s.createDataFrame(s.sparkContext.parallelize(Seq(
      Row(Seq(1.0, null, 2.0), Seq(1.0, 1.0, 1.0)), // null in range
      Row(Seq(1.0, 2.0, null), Seq(2.0, 3.0)),      // null past the end
      Row(Seq(1.0, 2.0), Seq(3.0, 5.0))), 2),
      StructType(Seq(StructField("a", vec), StructField("b", vec))))
    // (kernel, reference lambda, value of the truncated second row)
    val refs = Seq(
      ("graft_dot", "(p, q) -> p * q", 8.0),
      ("graft_l2", "(p, q) -> (p - q) * (p - q)", 2.0))
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"),
        ("false", "NO_CODEGEN"))) {
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      s.conf.set("spark.sql.codegen.factoryMode", factory)
      try for ((fn, lambda, truncated) <- refs) {
        val out = df.selectExpr(s"$fn(a, b)",
          s"aggregate(zip_with(a, b, $lambda), 0d, (acc, v) -> acc + v)")
          .collect()
        assert(out(0).isNullAt(0) && out(0).isNullAt(1), s"$fn $factory")
        // past the shorter side: truncated, where zip_with pads
        assert(out(1).getDouble(0) == truncated, s"$fn $factory")
        assert(out(2).getDouble(0) == out(2).getDouble(1), s"$fn $factory")
      } finally {
        s.conf.unset("spark.sql.codegen.wholeStage")
        s.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    // element types that cannot hold null keep the result non-null
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(!graft.functions.L2Distance(Literal.create(Array(1.0)),
      Literal.create(Array(2.0))).nullable)
  }
}

class Md5LongSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SharedSpark.session

  test("graft_md5long equals the conv(substring(md5)) form bit-for-bit") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.registerAll(s)
    val rnd = new scala.util.Random(23)
    val strs = Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) :+
      "" :+ "0:shingle text here" :+ "ünïcödé ∑ text"
    val rows = strs.toDF("x").selectExpr(
      "graft_md5long(x) AS fast",
      "cast(conv(substring(md5(x),1,15),16,10) as bigint) AS ref")
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}

/** Child-JVM probe for [[GraftExtensionsSpec]]: a session whose only
  * graft functions come from `spark.sql.extensions`.
  */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val s = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      val names = s.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).sorted
      val l2 = s.sql("SELECT graft_l2(array(0d, 3d), array(4d, 0d))")
        .head().getDouble(0)
      println(s"PROBE ${names.mkString(",")} $l2")
    } finally s.stop()
  }
}

class GraftExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import scala.jdk.CollectionConverters._

  test("spark.sql.extensions=graft.GraftExtensions exposes exactly the " +
      "functions registerAll registers") {
    // the extensions conf is static — read once when the SparkContext's
    // first session is built — so the probe session lives in a child JVM
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx768m", "-cp", System.getProperty("java.class.path"),
        "graft.ExtensionsProbe")
    val out = scala.sys.process.Process(cmd).!!
    val probe = out.linesIterator.find(_.startsWith("PROBE ")).get
      .stripPrefix("PROBE ").split(" ")
    val plain = SharedSpark.session.newSession() // own function registry
    graft.functions.GraftFunctions.registerAll(plain)
    val registered = plain.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).sorted
    assert(registered.size == 9)
    assert(probe(0).split(",").toSeq == registered)
    assert(probe(1).toDouble == 25.0) // an injected builder, end to end
  }

  test("GraftExtensions injects all custom functions into a fresh extensions set") {
    // the injection callback against a real SparkSessionExtensions and
    // the expressions directly (the full conf round trip is the
    // child-JVM test above; the registry path is covered by
    // DotProductSpec / Md5LongSpec via GraftFunctions.registerAll).
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(e) // must not throw
    import org.apache.spark.sql.catalyst.expressions.Literal
    val dot = graft.functions.DotProduct(
      Literal.create(Array(2.0, 3.0)), Literal.create(Array(4.0, 5.0)))
    assert(dot.eval(null) == 23.0)
    val h = graft.functions.Md5Long(Literal.create("abc"))
    assert(h.eval(null) ==
      java.lang.Long.parseUnsignedLong("900150983cd24fb", 16))
    // the kmv builder + buffer lifecycle (update/serialize/deserialize/
    // eval) — the registry path is covered by KmvSketchSpec
    val kmv = graft.functions.KmvSketch(Literal.create(7L),
      Literal.create(4))
    val buf = kmv.update(kmv.createAggregationBuffer(),
      org.apache.spark.sql.catalyst.InternalRow.empty)
    val roundTripped = kmv.deserialize(kmv.serialize(buf))
    assert(kmv.eval(roundTripped)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq === Seq(7L))
  }
}

class WatermarkSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SharedSpark.session

  test("append-mode watermark finalizes windows and drops late data") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    def ts(hm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hm:00")

    implicit val ctx = s.sqlContext
    val input = MemoryStream[java.sql.Timestamp]
    val counts = input.toDF().withColumnRenamed("value", "t")
      .withWatermark("t", "10 minutes")
      .groupBy(window(col("t"), "10 minutes")).count()
    val q = counts.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      input.addData(ts("10:00"), ts("10:05")) // window [10:00, 10:10)
      q.processAllAvailable()
      input.addData(ts("10:30")) // watermark -> 10:20, closes first window
      q.processAllAvailable()
      input.addData(ts("10:01")) // LATE: behind watermark, must be dropped
      q.processAllAvailable()
      input.addData(ts("10:50")) // watermark -> 10:40, closes [10:30, 10:40)
      q.processAllAvailable()
    } finally q.stop()
    val out = s.table("wm_test")
      .select(col("window.start").cast("string"), col("count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out("2026-01-01 10:00:00") == 2L) // late 10:01 NOT counted
    assert(out("2026-01-01 10:30:00") == 1L)
    assert(!out.contains("2026-01-01 10:50:00")) // still open at stop
  }

  test("lmQualityFilter: fit-on-train split is a deterministic md5 " +
    "partition; OOV-bearing held-out docs score strictly higher NLL") {
    val s = spark; import s.implicits._
    // 40 docs of one common sentence; half carry ONE gibberish token
    // unique per doc (always OOV regardless of where the split lands)
    val base = "the cat sat on the mat"
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) s"$base zzqx$i" else base)).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.lmQualityFilter(docs, 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.nonEmpty && out.length < 40) // a real split happened
    // deterministic under repartitioning
    val again = graft.ops.TextAnalysis
      .lmQualityFilter(docs.repartition(7), 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(again.toSeq === out.toSeq)
    // every OOV-bearing test doc outscores every clean test doc
    val (oov, clean) = out.partition(_._1 % 2 == 0)
    assert(clean.forall(c => c._2 === 6L))
    if (oov.nonEmpty && clean.nonEmpty)
      assert(oov.map(_._3).min > clean.map(_._3).max,
        s"OOV docs must carry strictly higher mean NLL: $out")
    // keep flag is exactly the threshold predicate
    out.foreach { case (_, _, nll, keep) =>
      assert(keep === (nll <= 8.0)) }
  }

  test("pplBuckets: buckets partition the corpus at the exact " +
    "terciles; head NLL <= middle <= tail; tied docs land together") {
    val s = spark; import s.implicits._
    val base = "the cat sat on the mat"
    // 12 docs: 0 (clean) / 1 (one OOV token) / 2 (two OOV tokens)
    // gibberish per residue class -> three distinct NLL levels
    val docs = (1L to 12L).map { i =>
      val extra = (1L to i % 3).map(j => s"zzqx${i}x$j").mkString(" ")
      (i, s"$base $extra".trim)
    }.toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.pplBuckets(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(out.map(_._1).toSet.subsetOf(Set("head", "middle", "tail")))
    assert(out.map(_._2).sum === 12L)       // every doc in one bucket
    val byB = out.map(t => t._1 -> t._4).toMap
    for (Seq(a, b) <- Seq("head", "middle", "tail").filter(byB.contains)
        .sliding(2) if a != b)
      assert(byB(a) <= byB(b),
        s"bucket mean NLL must be monotone: $out")
    // deterministic under repartitioning
    val again = graft.ops.TextAnalysis.pplBuckets(docs.repartition(5))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toList
    assert(again === out)
  }

  test("curriculumOrder: quartile tiers fill in order, md5-shuffled " +
    "within each tier; ties land in one tier") {
    val s = spark; import s.implicits._
    val docs = (1L to 8L).map(i => (i, i.toDouble)).toDF("doc_id", "dif")
    val out = graft.ops.Sampling.curriculumOrder(docs, "doc_id", "dif", 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3)))
    // cuts at ranks 2/4/6 -> values 2/4/6: tiers {1,2},{3,4},{5,6},{7,8}
    val tier = out.map(t => t._1 -> t._3).toMap
    assert(tier(1L) === 0L && tier(2L) === 0L)
    assert(tier(3L) === 1L && tier(4L) === 1L)
    assert(tier(5L) === 2L && tier(6L) === 2L)
    assert(tier(7L) === 3L && tier(8L) === 3L)
    // positions are 0..7 and strictly tier-ordered
    assert(out.map(_._4).sorted.toSeq === (0L to 7L))
    for ((k, d, b, p) <- out; (k2, d2, b2, p2) <- out if b < b2)
      assert(p < p2, s"tier $b must precede tier $b2: $out")
    // all-tied difficulties collapse into one tier
    val flat = (1L to 6L).map(i => (i, 1.0)).toDF("doc_id", "dif")
    val one = graft.ops.Sampling.curriculumOrder(flat, "doc_id", "dif", 3)
      .collect().map(_.getLong(2)).toSet
    assert(one === Set(0L))
  }
}
