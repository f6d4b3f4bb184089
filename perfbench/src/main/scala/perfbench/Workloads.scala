package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, LinkModels, Mentions, Pq, Similarity, TextAnalysis, TextModels, AnnIndex}
import graft.sources.{Sinks, WarcSource, Wiki, Wikidata}

/** Facts about one workload's generated inputs. */
final case class Inputs(records: Long, rows: Map[String, Long], bytes: Long)

trait Workload {
  /** Build the inputs under the context's directory from the seed. */
  def generate(ctx: Ctx): Inputs
  /** One pass over the workload's calls. */
  def pass(ctx: Ctx): Unit
}

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** The paper's own job: wiki dump → redirects → documents → link and
  * text models → JSON/TSV/RESP sinks, beside WARC and Wikidata ingest.
  */
final class CorpusBuild(nArt: Long, nRed: Long, nWarc: Long, nItems: Long)
    extends Workload {
  private val parts = 8
  private val we = Gen.wikiExpect(nArt, nRed)
  private val ce = Gen.warcExpect(nWarc)
  private val de = Gen.wikidataExpect(nItems)

  def generate(ctx: Ctx): Inputs = {
    val in = ctx.dir.resolve("inputs")
    graft.queries.Scratch.deleteTree(in)
    val b = Gen.writeParts(in.resolve("wiki"), parts, Gen.wikiRows(ctx.seed, nArt, nRed)) +
      Gen.writeParts(in.resolve("warc"), parts, Gen.warcRows(ctx.seed, nWarc)) +
      Gen.writeParts(in.resolve("wikidata"), parts, Gen.wikidataRows(ctx.seed, nItems))
    Inputs(we.pages + nWarc + de.items,
      Map("wiki_pages" -> we.pages, "warc_records" -> nWarc,
        "wikidata_items" -> de.items), b)
  }

  /** Rows of `df` matching each condition, counted in one job. */
  private def tally(df: DataFrame, conds: Column*): Seq[Long] = {
    val r = df.agg(count(lit(1)), conds.map(c => count(when(c, 1))): _*).head()
    (0 to conds.size).map(r.getLong)
  }

  private val astral = col("text").rlike("[\\x{1F300}-\\x{1F6FF}]")

  private def nonEmpty(what: String)(df: DataFrame): Unit =
    Check.that(s"$what is empty", !df.isEmpty)

  private def written(what: String)(p: Path): Unit =
    Check.that(s"$what wrote nothing", Workload.dirBytes(p) > 0)

  def pass(ctx: Ctx): Unit = {
    val in = ctx.dir.resolve("inputs")
    val out = ctx.dir.resolve("outputs")
    val s = ctx.spark
    val pages = ctx.call("sources.wiki_pages")(
      ctx.keep(Wiki.pages(s, in.resolve("wiki").toString))) { p =>
      Check.eq("pages", p.count(), we.pages)
    }
    val red = ctx.call("sources.wiki_redirects")(
      ctx.keep(Wiki.redirects(s, pages))) { r =>
      val Seq(n, unresolved, cycle) = tally(r,
        col("target").contains("/wiki/Redir_"), col("source").contains("RedirCycle"))
      Check.eq("redirects", n, we.redirects)
      Check.eq("unresolved redirects", unresolved, we.unresolved)
      Check.eq("redirect cycle rows", cycle, we.cycleRows)
    }
    val docs = ctx.call("sources.wiki_articles")(
      ctx.keep(Wiki.articles(s, pages, red))) { d =>
      val Seq(n, withAstral) = tally(d, astral)
      Check.eq("articles", n, we.articles)
      Check.eq("astral articles", withAstral, we.astral)
    }
    val counts = ctx.call("ops.entity_counts")(
      ctx.keep(LinkModels.entityCounts(docs)))(nonEmpty("entity_counts"))
    ctx.call("ops.entity_name_counts")(
      ctx.keep(LinkModels.entityNameCounts(docs)))(nonEmpty("entity_name_counts"))
    ctx.call("ops.name_part_counts")(
      ctx.keep(LinkModels.namePartCounts(docs)))(nonEmpty("name_part_counts"))
    val inlinks = ctx.call("ops.entity_inlinks")(
      ctx.keep(LinkModels.entityInlinks(docs)))(nonEmpty("entity_inlinks"))
    ctx.call("ops.entity_comentions")(
      ctx.keep(LinkModels.entityComentions(docs)))(nonEmpty("entity_comentions"))
    val mentions = ctx.call("ops.mention_contexts")(
      ctx.keep(Mentions.mentionContexts(docs)))(nonEmpty("mention_contexts"))
    val idfs = ctx.call("ops.term_idfs")(
      ctx.keep(TextModels.termIdfs(docs)))(nonEmpty("term_idfs"))
    ctx.call("ops.mention_tfidf")(
      ctx.keep(TextModels.entityMentionTermFrequency(mentions, idfs)))(
      nonEmpty("mention_tfidf"))
    ctx.call("sources.sink_json") {
      Sinks.json(inlinks, out.resolve("entity_inlinks").toString)
      out.resolve("entity_inlinks")
    }(written("sink_json"))
    ctx.call("sources.sink_tsv") {
      Sinks.tsv(counts, out.resolve("entity_counts").toString)
      out.resolve("entity_counts")
    }(written("sink_tsv"))
    ctx.call("sources.sink_resp") {
      Sinks.resp(idfs, out.resolve("term_idfs").toString, "idf:",
        idfs.columns(0), idfs.columns(1))
      out.resolve("term_idfs")
    }(written("sink_resp"))
    ctx.call("sources.warc_documents")(
      ctx.keep(WarcSource.documents(s, in.resolve("warc").toString))) { w =>
      val Seq(n, withAstral) = tally(w, astral)
      Check.eq("warc documents", n, ce.docs)
      Check.eq("astral warc documents", withAstral, ce.astral)
    }
    ctx.call("sources.wikidata_relations")(
      ctx.keep(Wikidata.relations(s, in.resolve("wikidata").toString))) { r =>
      val row = r.agg(count(lit(1)), sum(size(col("relations")))).head()
      Check.eq("wikidata relation rows", row.getLong(0), de.rows)
      Check.eq("wikidata relation entries", row.getLong(1), de.entries)
    }
  }
}

object CorpusBuild {
  /** Output directories of the JSON, TSV and RESP sinks. */
  val sinks = Seq("entity_inlinks", "entity_counts", "term_idfs")
}

/** The LLM-data layer at compute-bound size: quality, exact and
  * MinHash-LSH dedup, Bloom decontamination, PCA, IVF and PQ indexes.
  */
final class DedupAnn(layout: Gen.DocsLayout, nVec: Int, clusters: Int)
    extends Workload {
  private val dims = 64
  private val pqM = 4
  private val pqK = 8
  private val iters = 2
  private val topK = 10
  private val nQueries = 20
  private val lshK = 16
  private val lshBands = 8
  private val bloomM = 1 << 22
  private val bloomK = 4
  private val e = layout.expect

  private def vectors(ctx: Ctx) = Gen.embeddings(ctx.seed, nVec, dims, clusters)

  def generate(ctx: Ctx): Inputs = {
    val in = ctx.dir.resolve("inputs")
    graft.queries.Scratch.deleteTree(in)
    import ctx.spark.implicits._
    def docFrame(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docFrame(Gen.docs(ctx.seed, layout)).coalesce(4)
      .write.parquet(in.resolve("documents").toString)
    docFrame(Gen.benchmark(ctx.seed, layout)).coalesce(1)
      .write.parquet(in.resolve("benchmark").toString)
    vectors(ctx).toDF("vec_id", "embedding", "label").coalesce(4)
      .write.parquet(in.resolve("embeddings").toString)
    Inputs(layout.n.toLong + nVec,
      Map("documents" -> layout.n.toLong, "benchmark" -> e.benchmark,
        "embeddings" -> nVec.toLong), Workload.dirBytes(in))
  }

  def pass(ctx: Ctx): Unit = {
    val in = ctx.dir.resolve("inputs")
    val s = ctx.spark
    val docs = s.read.parquet(in.resolve("documents").toString)
    val bench = s.read.parquet(in.resolve("benchmark").toString)
    val emb = s.read.parquet(in.resolve("embeddings").toString)
    val queries = emb.filter(col("vec_id") < nQueries)

    ctx.call("ops.quality_score")(ctx.keep(TextAnalysis.qualityScore(docs))) { q =>
      Check.eq("quality rows", q.count(), e.docs)
      Check.eq("passing quality", q.filter(col("passes_quality")).count(), e.passQuality)
    }
    ctx.call("ops.exact_dedup")(ctx.keep(Dedup.exact(docs))) { x =>
      Check.eq("exact dedup groups", x.count(), e.exactGroups)
    }
    val (pairs, cleanup) = ctx.call("ops.minhash_lsh") {
      val (p, c) = Dedup.minhashLshPlan(docs, 3, lshK, lshBands, 0.5)
      (ctx.keep(p), c)
    }(_ => ())
    cleanup()
    if (ctx.tracer.enabled) {
      val cands = Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingled(docs, 3), lshK), lshBands,
        lshK / lshBands).count()
      ctx.facts("lsh.candidates_per_pair") = cands.toDouble / math.max(1L, pairs.count())
    }
    ctx.call("ops.clusters") {
      val (c, rounds) = Dedup.clustersWithRounds(pairs)
      ctx.facts("clusters.rounds") = rounds
      ctx.keep(c)
    } { c =>
      val sizes = c.groupBy("cluster").count().groupBy("count").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Check.eq("near-duplicate cluster sizes", sizes,
        Map(e.famSize.toLong -> e.fams, 2L -> e.exactCopies).filter(_._2 > 0))
    }
    ctx.call("ops.bloom_decontaminate")(
      ctx.keep(Dedup.bloomDecontaminate(docs, bench, 3, m = bloomM, k = bloomK))) { k =>
      val firstCont = layout.firstContaminated
      val cont = col("doc_id") >= firstCont && col("doc_id") < firstCont + e.contaminated
      Check.eq("contaminated survivors", k.filter(cont).count(), 0L)
      // closed-form Bloom false-positive bound: each clean doc tests its
      // ~58 shingles against the benchmark's ~58 per doc
      val p = math.pow(1 - math.exp(-bloomK * 58.0 * e.benchmark / bloomM), bloomK)
      val expected = (e.docs - e.contaminated) * (1 - math.pow(1 - p, 58))
      val falsePos = e.docs - e.contaminated - k.count()
      Check.that(f"$falsePos clean docs dropped, expected $expected%.3f",
        falsePos <= math.ceil(10 * expected) + 2)
    }
    ctx.call("ops.pca_power")(ctx.keep(Similarity.pcaPower(emb))) { p =>
      val r = p.agg(count(lit(1)), sum(col("loading") * col("loading"))).head()
      Check.eq("pca loadings", r.getLong(0), dims.toLong)
      Check.that(s"pca loading norm² ${r.getDouble(1)} != 1",
        math.abs(r.getDouble(1) - 1.0) < 1e-3)
    }
    val cells = ctx.call("ops.kmeans_cells")(
      ctx.keep(Similarity.kmeansCells(emb, clusters, iters))) { c =>
      Check.eq("assigned vectors", c.count(), nVec.toLong)
    }
    val truth = Gen.bruteTopK(vectors(ctx), 0L until nQueries, topK)
    ctx.call("ops.ivf_topk")(
      ctx.keep(Similarity.ivfTopK(queries, cells, "cell", 2, topK))) { r =>
      val got = r.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = truth.map { case (q, t) => t.count(got.getOrElse(q, Set.empty[Long])) }.sum
      val recall = hits.toDouble / (nQueries * topK)
      ctx.facts("ivf.recall") = recall
      Check.that(s"IVF recall@$topK $recall < 0.9", recall >= 0.9)
    }
    val idx = ctx.dir.resolve("outputs").resolve("pq_index").toString
    val base = emb.filter(col("vec_id") % 2 === 0)
    val (books, asg) = ctx.call("ops.pq_train") {
      val (b, a) = Pq.train(base, dims, pqM, pqK, iters)
      (ctx.keep(b), ctx.keep(a))
    } { case (b, _) =>
      // a cell left empty by Lloyd's rounds has no centroid row
      val n = b.count()
      Check.that(s"$n codebook rows for $pqM subspaces of $pqK", n >= pqM && n <= pqM * pqK)
    }
    ctx.call("ops.pq_encode") {
      AnnIndex.savePq(books, Pq.encode(asg), idx, dims, pqM, pqK, iters)
    }(_ => ())
    val (b2, a2) = ctx.call("ops.pq_append") {
      AnnIndex.appendPqIncrement(emb.filter(col("vec_id") % 2 === 1), idx,
        dims, pqM, pqK, iters)
      AnnIndex.loadPq(s, idx, dims, pqM, pqK, iters)
    } { case (_, a) => Check.eq("indexed vectors after append",
      a.select("vec_id").distinct().count(), nVec.toLong) }
    ctx.call("ops.adc_topk")(
      ctx.keep(Pq.adcTopKCodes(queries, b2, a2, dims, pqM, topK))) { r =>
      val got = r.select("query_id", "neighbor_id").collect()
      val same = got.count(x => x.getLong(0) % clusters == x.getLong(1) % clusters)
      Check.eq("ADC rows", got.length, nQueries * topK)
      val purity = same.toDouble / got.length
      ctx.facts("adc.cluster_purity") = purity
      Check.that(s"ADC cluster purity $purity < 0.9", purity >= 0.9)
    }
  }
}

/** A fixed list of existing gates over vendored tables, each
  * materialized once per pass in a seed-permuted order; the cached
  * output is checked against a recorded digest after the timed span.
  */
final class GateSweep(data: Path, gates: Seq[GateSweep.Gate]) extends Workload {
  private val all = graft.SparkEntry.queries

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private var rows: Map[String, Long] = Map.empty

  /** The tables are vendored, not generated: set-up resolves each one's
    * schema, and reads their row counts from the parquet footers once for
    * the input facts (no Spark job, so the cold start stays in the warm-up).
    */
  def generate(ctx: Ctx): Inputs = {
    tables.foreach(t => ctx.spark.read.parquet(file(t)).schema)
    if (rows.isEmpty) rows = tables.map(t => t -> footerRows(file(t))).toMap
    Inputs(rows.values.sum, rows, Workload.dirBytes(data))
  }

  private def file(table: String): String = data.resolve(s"$table.parquet").toString

  private def footerRows(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  private var passNo = 0L

  def pass(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(Gen.mix(ctx.seed, passNo, 0))
    passNo += 1
    rnd.shuffle(gates).foreach { g =>
      ctx.call(s"queries.${g.module}.${g.name}")(
        ctx.keep(all(g.name)(ctx.spark, data.toString))) { df =>
        Check.eq(s"${g.name} digest", Digest.of(df), g.digest)
      }
      ctx.hygiene()
    }
  }
}

object GateSweep {
  final case class Gate(name: String, module: String, digest: String, oracle: String)

  def moduleOf(gate: String): String =
    graft.SparkEntry.modules.find(_.queries.contains(gate))
      .map(_.getClass.getSimpleName.stripSuffix("$").toLowerCase).getOrElse("?")

  /** gates.tsv: gate, module, digest, oracle proof. */
  def load(p: Path): Seq[Gate] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.toSeq.filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t", -1)).map(f => Gate(f(0), f(1), f(2), f(3)))
  }
}
