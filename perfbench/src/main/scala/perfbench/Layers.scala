package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run. Counts and times are per pass over
  * the workload's calls. Every metric in [[names]] is emitted on every
  * workload, and a layer the workload does not call reads 0; the dedup/ANN
  * operator metrics are emitted by `dedup_ann` alone, the only workload
  * that calls them.
  */
object Layers {
  val corpusOps = Seq("entity_counts", "entity_name_counts", "name_part_counts",
    "entity_inlinks", "entity_comentions", "mention_contexts", "term_idfs",
    "mention_tfidf")
  val dedupOps = Seq("quality_score", "exact_dedup", "minhash_lsh", "clusters",
    "bloom_decontaminate", "pca_power", "kmeans_cells", "ivf_topk", "pq_train",
    "pq_encode", "pq_append", "adc_topk")
  val sources = Seq("wiki_pages", "wiki_redirects", "wiki_articles",
    "warc_documents", "wikidata_relations", "sink_json", "sink_tsv", "sink_resp")
  /** Query modules the gate sweep covers: the `corpus` module's gates read
    * their fixtures through absolute paths, so no sweep runs them.
    */
  val modules: Seq[String] = graft.SparkEntry.modules
    .map(_.getClass.getSimpleName.stripSuffix("$").toLowerCase).filterNot(_ == "corpus")

  private def opMetrics(ops: Seq[String]): Seq[(String, String)] =
    ops.flatMap(o => Seq(s"ops.$o.s" -> "s", s"ops.$o.jobs" -> "count",
      s"ops.$o.shuffle_mb" -> "MB"))

  /** (name, unit) of the dedup/ANN operator metrics. */
  val dedupNames: Seq[(String, String)] = opMetrics(dedupOps) ++
    Seq("ops.lsh.candidates_per_pair" -> "ratio", "ops.clusters.rounds" -> "count")

  /** (name, unit) of every per-layer metric, in output order. */
  val names: Seq[(String, String)] =
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "task_busy_s" -> "s", "slot_idle_frac" -> "ratio",
      "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
      "gc_s" -> "s", "task_failures" -> "count", "peak_exec_mem_mb" -> "MB")
      .map { case (n, u) => s"spark.$n" -> u } ++
    Seq("wikixml_parse", "wikitext_parse", "html_article", "warc_parse",
      "tokenize", "sentences", "shingles").map(n => s"textfn.$n.rps" -> "1/s") ++
    Seq("wiki_pages.s", "wiki_redirects.s", "wiki_redirects.jobs", "wiki_articles.s",
      "warc_documents.s", "wikidata_relations.s", "sink_json.s", "sink_tsv.s",
      "sink_resp.s", "sink.mb").map(n =>
      s"sources.$n" -> (if (n.endsWith(".s")) "s" else if (n.endsWith("mb")) "MB" else "count")) ++
    opMetrics(corpusOps) ++ Seq("ops.pins" -> "count") ++
    Seq("md5long", "dot", "l2", "bloom", "kmv", "hll")
      .map(f => s"functions.$f.mrows_per_s" -> "Mrows/s") ++
    Seq("functions.fallback_exprs" -> "count") ++
    modules.flatMap(m => Seq(s"queries.$m.s" -> "s", s"queries.$m.jobs" -> "count")) ++
    Seq("streaming.batches" -> "count", "streaming.trigger_s" -> "s",
      "streaming.state_commit_s" -> "s", "streaming.wal_commit_s" -> "s",
      "streaming.state_rows_max" -> "count") ++
    Seq("trace.overhead_frac" -> "ratio")

  private val MB = 1e6

  def metrics(spark: SparkSession, e: Engine, spans: Seq[Span], passes: Int,
      ctx: Ctx, overhead: Double, dedup: Boolean): Seq[(String, Double, String)] = {
    val p = math.max(passes, 1).toDouble
    val total = new Counters
    spans.foreach(s => total.add(e.counters(s.id)))
    val wallS = spans.filter(_.parent == -1).map(_.durNs).sum / 1e9
    val v = scala.collection.mutable.Map.empty[String, Double]
    v ++= Seq(
      "spark.jobs" -> total.jobs / p, "spark.stages" -> total.stages / p,
      "spark.tasks" -> total.tasks / p, "spark.task_busy_s" -> total.taskBusyMs / 1e3 / p,
      "spark.slot_idle_frac" ->
        (if (wallS > 0) 1 - total.taskBusyMs / 1e3 / (wallS * Main.Cores) else 0.0),
      "spark.shuffle_write_mb" -> total.shuffleWriteB / MB / p,
      "spark.shuffle_read_mb" -> total.shuffleReadB / MB / p,
      "spark.spill_mb" -> total.spillB / MB / p, "spark.gc_s" -> total.gcMs / 1e3 / p,
      "spark.task_failures" -> total.taskFailures.toDouble,
      "spark.peak_exec_mem_mb" -> total.peakExecMemB / MB,
      "ops.pins" -> total.pins / p,
      "functions.fallback_exprs" -> total.fallbackExprs / p,
      "streaming.batches" -> total.batches / p,
      "streaming.trigger_s" -> total.triggerMs / 1e3 / p,
      "streaming.state_commit_s" -> total.stateCommitMs / 1e3 / p,
      "streaming.wal_commit_s" -> total.walCommitMs / 1e3 / p,
      "streaming.state_rows_max" -> total.stateRowsMax.toDouble,
      "trace.overhead_frac" -> overhead)

    // one named call: median duration over passes, jobs and shuffle per pass
    spans.groupBy(_.name).foreach { case (name, ss) =>
      val c = new Counters
      ss.foreach(s => c.add(e.counters(s.id)))
      val secs = Stats.median(ss.map(_.durNs / 1e9))
      if (name.startsWith("ops.") || name.startsWith("sources.")) {
        v(s"$name.s") = secs
        v(s"$name.jobs") = c.jobs / p
        v(s"$name.shuffle_mb") = c.shuffleWriteB / MB / p
      }
    }
    modules.foreach { m =>
      val ss = spans.filter(_.name.startsWith(s"queries.$m."))
      val c = new Counters
      ss.foreach(s => c.add(e.counters(s.id)))
      v(s"queries.$m.s") = ss.map(_.durNs).sum / 1e9 / p
      v(s"queries.$m.jobs") = c.jobs / p
    }
    ctx.facts.get("lsh.candidates_per_pair").foreach(v("ops.lsh.candidates_per_pair") = _)
    ctx.facts.get("clusters.rounds").foreach(v("ops.clusters.rounds") = _)
    v("sources.sink.mb") = CorpusBuild.sinks
      .map(d => Workload.dirBytes(ctx.dir.resolve("outputs").resolve(d))).sum / MB
    v ++= Probes.textfn(ctx.seed)
    v ++= Probes.functions(spark)
    (names ++ (if (dedup) dedupNames else Nil))
      .map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }

  /** Spans with self times and engine counters, plus per-name self-time
    * medians; the per-gate detail of a gate sweep is its span list.
    */
  def writeTrace(path: Path, spans: Seq[Span], e: Engine): Unit = {
    val self = Tracer.selfTimes(spans)
    def counters(c: Counters) = Json.obj(Seq(
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString, "task_busy_ms" -> c.taskBusyMs.toString,
      "shuffle_write_b" -> c.shuffleWriteB.toString,
      "shuffle_read_b" -> c.shuffleReadB.toString, "spill_b" -> c.spillB.toString,
      "gc_ms" -> c.gcMs.toString, "pins" -> c.pins.toString,
      "fallback_exprs" -> c.fallbackExprs.toString, "batches" -> c.batches.toString))
    val rows = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run" -> Json.str(s.runId),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_s" -> Json.num(self(s.id) / 1e9), "counters" -> counters(e.counters(s.id))))
    }
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.num(Stats.median(ss.map(s => self(s.id) / 1e9)))
    }
    Files.writeString(path, Json.obj(Seq(
      "self_s_median" -> Json.obj(byName),
      "unattributed" -> counters(e.counters(-1)),
      "spans" -> Json.arr(rows))) + "\n")
  }
}
