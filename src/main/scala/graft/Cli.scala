package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{Wiki, WarcSource, Wikidata, Sinks}
import graft.ops.{LinkModels, Mentions, TextAnalysis, Dedup}

/** Pipeline CLI — the working equivalent of the reference's `sift build`
  * entry point (ref sift/build.py:30-86, whose CLI path was bit-rotted;
  * SURVEY.md §0 defect #5):
  *
  *   graft.Cli <command> <input> <output> [format]
  *
  * commands:
  *   wiki-docs           wiki dump xml   → documents(doc_id, text, links)
  *   wiki-redirects      wiki dump xml   → (source, target)
  *   warc-docs           WARC archive    → documents
  *   wikidata-relations  wikidata dump   → (eid, relations)
  *   entity-counts       documents parquet → inlink counts
  *   entity-mentions     documents parquet → sentence-window mentions
  *   mention-tfidf       documents parquet → per-entity mention tf-idf
  *   skipgram-corpus     documents parquet → entity training sentences
  *   mapped-comentions   documents parquet → rank-mapped comentions
  *   lang-id             documents parquet → (doc_id, lang_pred)
  *   exact-dedup         documents parquet → fingerprint groups
  *   neardup-clusters    documents parquet → (cluster keeper, member)
  *   stratified-sample   documents parquet → hash-stratified sample
  *   hash-split          documents parquet → rows + train/valid/test
  *   token-shards        documents parquet → rows + ~16k-token shard id
  *   decontaminate       "train.parquet,bench.parquet" → train minus
  *                       eval-shingle overlap
  *   textrank            documents parquet → token PageRank
  *   entity-pagerank     documents parquet (with links) → entity PageRank
  *   kmv-distinct        documents parquet → distinct-content estimate
  *   char-quantiles      documents parquet → n_chars deciles (exact)
  *   pq-encode           embeddings parquet → (vec_id, codes)
  *   zipf-fit            documents parquet → (n_types, slope,
  *                       intercept, r2) corpus-health fit
  *   skew-report         "table.parquet,keyCol" → 1-row key-skew
  *                       diagnostic (top shares + exact Gini)
  *   entropy-profile     "table.parquet,col1+col2" → per-column
  *                       Shannon entropy
  *   mad-outliers        "table.parquet,valueCol" → rows + robust z +
  *                       outlier flags (ties on the first column)
  *   active-users        events parquet (ts or ts_us) → DAU/WAU/MAU +
  *                       stickiness
  *   merge-upsert        "snapshot.parquet,changes.parquet,k1+k2" →
  *                       next snapshot (changes carry op I/U/D)
  *
  * format: json (gzip JSON-lines, default) | tsv | resp | parquet.
  * Run via `spark-submit --class graft.Cli` on a cluster or sbt locally.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Cli <command> <input> <output> [json|tsv|resp|parquet]")
    val Array(command, input, output) = args.take(3)
    val format = args.lift(3).getOrElse("json")
    val spark = SparkSession.builder()
      .appName(s"graft-$command")
      // spark-submit injects spark.master; default to local for dev runs
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def docs: DataFrame = spark.read.parquet(input)
    val result: DataFrame = command match {
      case "wiki-docs" => Wiki.documents(spark, input)
      case "wiki-redirects" =>
        Wiki.redirects(spark, Wiki.pages(spark, input))
      case "warc-docs" => WarcSource.documents(spark, input)
      case "wikidata-relations" => Wikidata.relations(spark, input)
      case "entity-counts" => LinkModels.entityCounts(docs)
      case "entity-mentions" => Mentions.mentionContexts(docs)
      case "mention-tfidf" =>
        val d = docs
        graft.ops.TextModels.entityMentionTermFrequency(
          Mentions.mentionContexts(d), graft.ops.TextModels.termIdfs(d))
      case "skipgram-corpus" =>
        graft.ops.TextModels.entityTrainingSentences(
          Mentions.mentionContexts(docs), graft.textfn.Wikitext.WikiPrefix)
      case "mapped-comentions" =>
        val d = docs
        LinkModels.mappedEntityComentions(d, LinkModels.entityVocab(d))
      case "lang-id" => TextAnalysis.langId(docs)
      case "exact-dedup" => Dedup.exact(docs)
      case "neardup-clusters" =>
        Dedup.clusters(Dedup.minhashLsh(docs, 3, 8, 4, 0.5))
      case "stratified-sample" =>
        graft.ops.Sampling.stratifiedSample(docs, "doc_id", "lang",
          Seq("en" -> 10), defaultRate = 100)
      case "hash-split" =>
        graft.ops.Sampling.hashSplit(docs, "doc_id", 80, 10)
      case "token-shards" =>
        import org.apache.spark.sql.functions._
        graft.ops.Sampling.tokenShards(
          docs.withColumn("n_tokens",
            size(expr(graft.ops.Hashing.tokensSql)).cast("long")),
          "doc_id", "n_tokens", 16384L)
      case "decontaminate" =>
        val parts = input.split(",", 2)
        require(parts.length == 2,
          "decontaminate input is 'train.parquet,benchmark.parquet'")
        Dedup.decontaminate(spark.read.parquet(parts(0)),
          spark.read.parquet(parts(1)), 8)
      case "bloom-decontaminate" =>
        val parts = input.split(",", 2)
        require(parts.length == 2,
          "bloom-decontaminate input is 'train.parquet,benchmark.parquet'")
        Dedup.bloomDecontaminate(spark.read.parquet(parts(0)),
          spark.read.parquet(parts(1)), 8)
      case "sequence-pack" =>
        import org.apache.spark.sql.functions._
        graft.ops.Pack.packSummary(
          docs.select(col("doc_id"),
            size(expr(graft.ops.Hashing.tokensSql)).cast("long")
              .as("n_tokens")),
          "doc_id", "n_tokens", 2048)
      case "textrank" => graft.ops.Graph.textRank(docs, 10)
      case "entity-pagerank" => graft.ops.Graph.entityRank(docs, 10)
      case "kmv-distinct" =>
        import org.apache.spark.sql.functions._
        val d = docs
        graft.ops.Hashing.ensureRegistered(d)
        val k = 1024
        d.select(expr(graft.ops.Hashing.md5LongSql(
            "md5(concat_ws(' ', " + graft.ops.Hashing.tokensSql + "))"))
            .as("h"))
          .agg(expr(s"graft_kmv(h, $k)").as("ks"))
          .select(size(col("ks")).cast("long").as("n_min"),
            expr("try_element_at(ks, -1)").as("kth"),
            expr(graft.functions.KmvSketch.estimateSql("ks", k))
              .as("est_distinct_docs"))
      case "char-quantiles" =>
        import org.apache.spark.sql.functions.asc
        graft.ops.Rank.exactQuantiles(docs, "n_chars",
          Seq(asc("doc_id")), (1 to 9).map(_ / 10.0))
      case "pq-encode" =>
        import org.apache.spark.sql.functions._
        val e = spark.read.parquet(input)
        // dims from the first NON-NULL embedding: a null in row one must
        // not abort a valid input (and under legacy sizeOfNull=true,
        // size(null) = -1 would surface as a bogus "m must divide -1")
        val dims = e.filter(col("embedding").isNotNull)
          .select(size(col("embedding")).as("d")).limit(1)
          .collect().headOption.map(_.getInt(0))
          .getOrElse(throw new IllegalArgumentException(
            "pq-encode: input has no non-null embeddings"))
        val (_, asg) = graft.ops.Pq.train(e, dims, m = 4, k = 256,
          iters = 2)
        graft.ops.Pq.encode(asg)
      case "zipf-fit" => graft.ops.TextAnalysis.zipfFit(docs)
      case "skew-report" =>
        val Array(p, c) = input.split(",", 2)
        graft.ops.Stats.skewReport(spark.read.parquet(p), c)
      case "entropy-profile" =>
        val Array(p, cs) = input.split(",", 2)
        graft.ops.Stats.entropyProfile(spark.read.parquet(p),
          cs.split("\\+").toSeq)
      case "mad-outliers" =>
        import org.apache.spark.sql.functions.asc
        val Array(p, c) = input.split(",", 2)
        val df = spark.read.parquet(p)
        graft.ops.Clean.madOutliers(df, c, Seq(asc(df.columns.head)))
      case "active-users" =>
        val e = spark.read.parquet(input)
        // a ready ts_us column, else the Tables.events rule on ts
        val withUs =
          if (e.columns.contains("ts_us")) e
          else e.withColumn("ts_us", graft.queries.Tables.tsMicros(e))
        graft.ops.EventAnalytics.activeUsers(withUs)
      case "merge-upsert" =>
        val parts = input.split(",")
        require(parts.length == 3,
          "merge-upsert input: snapshot.parquet,changes.parquet,k1+k2")
        graft.ops.Merge.applyChanges(spark.read.parquet(parts(0)),
          spark.read.parquet(parts(1)), parts(2).split("\\+").toSeq)
      case other => throw new IllegalArgumentException(
        s"unknown command '$other'")
    }
    Sinks.write(result, output, format)
    spark.stop()
  }
}
