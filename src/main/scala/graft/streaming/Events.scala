package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Structured-Streaming surface over the `events` table (SURVEY.md §2.9 —
  * absent in the reference; declared engine capability): file-source
  * `readStream`, event-time watermark, tumbling window, streaming dedup.
  *
  * The events parquet has stored `ts` as TIMESTAMP(NANOS) (read as raw
  * longs via the legacy conf) in some driver generations and
  * TIMESTAMP(MICROS) in others; the stream adapts to whichever the dump
  * carries and exposes a microsecond event-time column, mirroring
  * [[graft.queries.Tables.events]].
  */
object Events {

  private def ddl(tsType: String): String =
    s"event_id BIGINT, ts $tsType, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"

  /** Event stream with event-time column `t` and a 10-minute watermark.
    * Reads the source in place via a brace-glob (`{events}.parquet`) so
    * the file source resolves `dir` as its base directory — no scratch
    * copies, no per-call side effects. Works unchanged when the dump is a
    * directory of parts. The `ts` physical type is probed from the
    * parquet footer (one batch-reader schema read — no data scan) since
    * a stream must declare its schema up front.
    */
  def stream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val nanosAsLong =
      s.read.parquet(s"$dir/events.parquet").schema("ts")
        .dataType == LongType
    val (schemaDdl, t) =
      if (nanosAsLong)
        (ddl("BIGINT"), timestamp_micros(expr("ts div 1000")))
      else // MICROS; sessions run UTC, so the NTZ cast is exact
        (ddl("TIMESTAMP_NTZ"), col("ts").cast("timestamp"))
    s.readStream.schema(schemaDdl).parquet(s"$dir/{events}.parquet")
      .withColumn("t", t)
      .withWatermark("t", "10 minutes")
  }

  /** Runs a bounded stream to completion against a memory sink. The
    * state-partition count is a stream-lifetime property baked into the
    * checkpoint at start(): production streams size it to state volume;
    * these gate streams carry tiny state, where the per-partition store
    * commit (~100 ms each, × partitions × stateful ops × triggers)
    * dominates wall clock — so the width is narrowed. The override lives
    * on a cloned session (`newSession()` shares the SparkContext but has
    * isolated SQL conf), so concurrent queries on the caller's session
    * never see the narrowed width; the stream is BUILT on the clone via
    * `build` so its plan resolves under the scoped conf.
    */
  private def runToCompletion(s: SparkSession,
      build: SparkSession => DataFrame, sinkName: String,
      mode: String = "complete", stateParts: Int = 8): DataFrame = {
    val iso = s.newSession()
    // carry the caller's runtime SQL conf over to the clone (newSession
    // starts from the builder defaults, not runtime .set()s); static
    // entries reject set() with CANNOT_MODIFY_CONFIG — only that case is
    // skippable by design; any other copy failure is logged so the clone
    // diverging from the caller's session never happens silently
    s.conf.getAll.foreach { case (k, v) =>
      try iso.conf.set(k, v)
      catch {
        case _: org.apache.spark.sql.AnalysisException => () // static conf
        case e: Exception =>
          System.err.println(s"[streaming] conf '$k' not copied to " +
            s"isolated session: ${e.getMessage}")
      }
    }
    iso.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    // EXPLICIT fresh per-run checkpoint scratch, deleted on completion:
    // state-store files (delta/snapshot per partition per trigger) never
    // accumulate across runs or leak into later ones — run-to-run bench
    // spread on these gates is then attributable only to the state-store
    // commit path itself, not lingering checkpoint state. (The implicit
    // temp checkpoint Spark would otherwise create is also per-run, but
    // its deletion is conditional on clean termination — this isn't.)
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_ckpt_$sinkName")
    val q = build(iso).writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", ckpt.toString)
      .outputMode(mode).start()
    try q.processAllAvailable() finally {
      q.stop()
      // best-effort recursive delete; scratch is /tmp-rooted either way
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(ckpt) catch { case _: Exception => () }
    }
    iso.table(sinkName)
  }

  /** Tumbling-window counts by event type with streaming dedup on
    * event_id — the canonical watermark+window+dropDuplicates smoke. Runs
    * the stream to completion against the (bounded) file source and
    * returns the final result as a batch frame.
    */
  def windowCounts(s: SparkSession, dir: String): DataFrame =
    runToCompletion(s, ss =>
      stream(ss, dir)
        .dropDuplicates("event_id")
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "st_window_counts_mem")
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .orderBy("wstart", "event_type")

  /** Custom keyed state via flatMapGroupsWithState (the §2.9 mapping for
    * the ref's incremental-model use cases): a running per-user event
    * count held in explicit GroupState. Each micro-batch folds its events
    * into the state and emits the updated total; on the bounded source
    * (one batch) the final emission per user equals the batch count.
    */
  def statefulUserCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    def updated(ss: SparkSession): DataFrame = {
      import ss.implicits._
      stream(ss, dir)
        .select(col("user_id")).as[Long]
        .groupByKey(identity)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + events.size
            state.update(n)
            Iterator.single((uid, n))
        }
        .toDF("user_id", "n")
    }
    runToCompletion(s, updated, "st_stateful_counts_mem", mode = "update")
      .groupBy("user_id").agg(max("n").as("n")) // last emission per user
      .orderBy("user_id")
  }

  /** STREAMING first-order transition counts — the streaming twin of
    * the batch `e_transitions` gate: one (ts, event_id, event_type)
    * triple of state per user; each micro-batch's events sort
    * within-group by (ts, event_id) and fold from the stored last
    * event, emitting one (from, to) pair per event (`__start__` when
    * the user is new). Emitted pairs are final (append mode), so the
    * post-run count is a plain batch aggregate; state is ONE triple
    * per user forever — the bounded-state navigation model.
    *
    * Out-of-order caveat (inherent, documented): order is recovered
    * WITHIN a micro-batch, but an event arriving in a later batch
    * than a successor cannot retract an emitted pair — on a live
    * stream pair counts follow arrival order across batches. The gate
    * runs the whole table in one batch, so its counts equal the batch
    * lag computation exactly.
    */
  /** The stateful pair emission behind [[transitionCounts]], exposed
    * on a raw (user_id, event_id, event_type, ts_us) frame so specs
    * can drive it batch-by-batch through a MemoryStream.
    */
  def transitionPairs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ss = events.sparkSession
    import ss.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, evs: Iterator[(Long, Long, String, Long)],
            state: GroupState[(Long, Long, String)]) =>
          val sorted = evs.toSeq.sortBy(e => (e._4, e._2))
          var last = state.getOption // (ts_us, event_id, event_type)
          val out = Seq.newBuilder[(String, String)]
          for (e <- sorted) {
            out += ((last.map(_._3).getOrElse("__start__"), e._3))
            last = Some((e._4, e._2, e._3))
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF("from_type", "to_type")
  }

  def transitionCounts(s: SparkSession, dir: String): DataFrame = {
    runToCompletion(s, ss => transitionPairs(stream(ss, dir)
        .withColumn("ts_us", unix_micros(col("t")))),
        "st_transitions_mem", mode = "append")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Append-mode late-data drop (the watermark semantics the other gates
    * can't observe in a single micro-batch): the events table is split
    * into three files streamed one per trigger — the body (every 1-hour
    * window strictly between the oldest and the newest), the newest
    * window's rows (which advance the watermark to max(t) − 10 min), and
    * finally the OLDEST window's rows. Since Spark 3.4 late-event
    * FILTERING uses the previous batch's watermark while state EVICTION
    * uses the current one (SPARK-24634) — so the late file must arrive
    * two triggers after the body for its rows to face the advanced
    * watermark. They do here, their window sits far below it, and append
    * mode DROPS them: the output holds exactly the windows finalized by
    * the watermark (window.end ≤ watermark) with the late window ABSENT.
    * (A round-12 attempt to merge body+head into one trigger — one fewer
    * state-store commit cycle — FAILED the oracle by exactly the late
    * window's rows: batch N's filter runs on the watermark as of batch
    * N's PLANNING, which lags the previous batch's data by one trigger,
    * so a 2-trigger layout lets the late rows through the filter and
    * into the finalized emission. Three triggers is the semantic
    * minimum for this gate, not a cost choice.)
    *
    * The split is rebuilt idempotently into one fixed scratch dir per
    * source dir (overwrite, no per-call temp leak); mtimes are pinned
    * 60 s apart so the file source's oldest-first ordering is
    * deterministic. This staging exists only to make a bounded gate
    * exhibit multi-trigger behavior — a live stream needs none of it.
    */
  def lateDataWindowCounts(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val ev = graft.queries.Tables.events(s, dir)
      .select(col("ts_us"), col("event_type"),
        date_trunc("hour", col("ts")).as("wstart"))
    val bounds = ev.agg(min(col("wstart")), max(col("wstart"))).head()
    val (w0, wMax) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
    // collision-resistant per-source key (hashCode would alias distinct
    // dirs); single-writer per source dir is assumed — the gate runner
    // is sequential, and concurrent writers over one scratch dir would
    // race the stream's file listing
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_late_stream_$dirKey")
    val data = root.resolve("data")
    def stage(df: DataFrame, part: String, mtimeMs: Long): Unit = {
      val tmp = root.resolve(s"stage_$part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val f = try listing.filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
      Files.createDirectories(data)
      Files.move(f, data.resolve(s"$part.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(data.resolve(s"$part.parquet"),
        FileTime.fromMillis(mtimeMs))
    }
    val now = System.currentTimeMillis()
    val cols = Seq(col("ts_us"), col("event_type"))
    stage(ev.filter(col("wstart") > w0 && col("wstart") < wMax)
      .select(cols: _*), "00_body", now - 180000)
    stage(ev.filter(col("wstart") === wMax).select(cols: _*), "01_head",
      now - 120000)
    stage(ev.filter(col("wstart") === w0).select(cols: _*), "02_late",
      now - 60000)
    def counts(ss: SparkSession): DataFrame =
      ss.readStream.schema("ts_us BIGINT, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(data.toString)
        .withColumn("t", timestamp_micros(col("ts_us")))
        .withWatermark("t", "10 minutes")
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    runToCompletion(s, counts, "st_late_data_mem", mode = "append")
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .orderBy("wstart", "event_type")
  }

  /** STREAMING host-grain curation stats — the `d_host_stats` batch
    * twin over the events stream (r14 judge item 7): a URL synthesized
    * per event is canonicalized with [[graft.ops.Url]]'s pure column
    * expressions (a narrow map riding the stream — no UDF, no state),
    * then aggregated per (hour window, host) under the 10-minute
    * watermark. The dup-mass readout needs a per-(window, host)
    * DISTINCT over canonical URLs, expressed as CHAINED event-time
    * aggregations in append mode (Spark's multiple-stateful-operator
    * support): stage 1 counts per (window, host, canon_url); stage 2
    * re-windows `window_time(window)` and folds sum/count per (window,
    * host). Both stages share the hour window, so watermark
    * finalization aligns; on the bounded source the emitted windows
    * are exactly those ending at or before max(t) − 10 min (the
    * st_late_data finalization rule), which the batch oracle applies
    * verbatim.
    */
  def hostStatsWindowed(s: SparkSession, dir: String,
      urlOf: Column => Column): DataFrame =
    runToCompletion(s, ss => {
      val canon = stream(ss, dir)
        .withColumn("url", urlOf(col("event_id")))
        .withColumn("canon_url", graft.ops.Url.canonicalize(col("url")))
        .withColumn("host", graft.ops.Url.host(col("url")))
      canon
        .groupBy(window(col("t"), "1 hour"), col("host"),
          col("canon_url"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(window_time(col("window")), "1 hour"),
          col("host"))
        .agg(sum(col("n")).as("n_events"),
          count(lit(1)).as("n_unique_urls"),
          (sum(col("n")) - count(lit(1))).as("n_dup_events"))
    }, "st_host_stats_mem", mode = "append")
      .select(col("window.start").as("wstart"), col("host"),
        col("n_events"), col("n_unique_urls"), col("n_dup_events"))

  /** STREAM-STREAM interval join (§2.9): click events joined to error
    * events of the same user with the click inside the 5 minutes ending
    * at the error — both sides watermarked (the join buffers each side
    * in state; the watermark + the interval bound let Spark EVICT
    * buffered rows older than watermark − range, which is what makes an
    * unbounded two-stream join feasible at all). Append mode; on the
    * bounded one-batch source nothing is dropped, so the emitted pairs
    * equal the batch interval join — the oracle.
    */
  def clickErrorJoin(s: SparkSession, dir: String): DataFrame =
    runToCompletion(s, ss => {
      // each side is its own stream() plan and carries the 10-minute
      // watermark `stream` defines; the rename keeps the event-time
      // attribute (re-watermarking a renamed column would REDEFINE the
      // watermark, which streaming rejects)
      val clicks = stream(ss, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("t").as("ct"),
          col("event_id").as("click_id"))
      val errors = stream(ss, dir)
        .filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("t").as("et"),
          col("event_id").as("error_id"))
      clicks.join(errors,
        col("c_user") === col("e_user") &&
          col("ct") >= col("et") - expr("interval 5 minutes") &&
          col("ct") <= col("et"))
        .select(col("error_id"), col("click_id"),
          col("e_user").as("user_id"))
      // stream-stream join keeps FOUR state stores per partition
      // (left/right × keyToNumValues/keyWithIndexToValue), so the
      // per-partition commit overhead weighs 4× the single-store gates —
      // narrow the tiny-state gate stream further
    }, "st_join_mem", mode = "append", stateParts = 4)
      .orderBy("error_id", "click_id")

  /** Bounded-state streaming dedup (§2.9): two copies of the event
    * stream unioned (every event arrives twice), deduplicated with
    * dropDuplicatesWithinWatermark — unlike plain dropDuplicates, whose
    * key state grows forever, the within-watermark form EVICTS keys
    * older than the watermark, which is the only dedup that survives an
    * unbounded stream. On the bounded source each event is counted
    * exactly once, so the oracle is the plain windowed count.
    */
  def dedupBoundedCounts(s: SparkSession, dir: String): DataFrame =
    runToCompletion(s, ss =>
      stream(ss, dir).unionByName(stream(ss, dir))
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "st_dedup_bounded_mem")
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .orderBy("wstart", "event_type")

  /** Streaming NEAR-duplicate suppression: the batch MinHash-LSH band
    * keys ([[graft.ops.Dedup.shingled]] → `minhashSignatures` →
    * `bandKeys` — all per-row expressions, so they run unchanged on a
    * streaming frame) composed with dropDuplicatesWithinWatermark on
    * (band, bkey): near-dup documents share a band key by LSH
    * construction, so all but the first arrival per bucket are dropped
    * at the door, with state EVICTED past the watermark — the in-stream
    * form of the batch near-dup pipeline (the reference processes
    * monthly crawl increments as separate batch runs;
    * /root/reference/README.md:52-53 — this is that pipeline as a
    * continuous ingest).
    *
    * The doc stream is doubled (every document arrives twice) so the
    * dedup provably suppresses; event time derives from doc_id. WHICH
    * doc survives a bucket is arrival-order-dependent, so the output is
    * the surviving BUCKET set (band, bkey) — deterministic, and equal to
    * the batch-computed distinct band keys: the stream-vs-batch parity
    * the oracle replays.
    */
  def neardupDedupBuckets(s: SparkSession, dir: String): DataFrame = {
    val docSchema =
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    def one(ss: SparkSession): DataFrame =
      ss.readStream.schema(docSchema).parquet(s"$dir/{documents}.parquet")
    runToCompletion(s, ss => {
      val doubled = one(ss).unionByName(one(ss))
      val bands = graft.ops.Dedup.bandKeys(
        graft.ops.Dedup.minhashSignatures(
          graft.ops.Dedup.shingled(doubled, 3), 8), 4, 2)
      // +1s offset: dropDuplicatesWithinWatermark treats an event time
      // EQUAL to the current watermark as late and drops it — doc_id 0
      // at epoch 0 (= the initial watermark) would silently vanish when
      // no other doc shares its buckets. Derived times must sit strictly
      // above the watermark floor.
      bands
        .withColumn("t", timestamp_micros(col("doc_id") + 1000000L))
        .withWatermark("t", "10 minutes")
        .dropDuplicatesWithinWatermark("band", "bkey")
        .select(col("band").cast("long").as("band"), col("bkey"))
    }, "st_neardup_mem", mode = "append")
      .orderBy("band", "bkey")
  }

  /** Streaming near-dup with a PER-BUCKET arrival cap — the in-stream
    * form of the batch LSH bucket-cap defense
    * ([[graft.ops.Dedup.lshCandidates]] `maxBucket`): each (band, bkey)
    * bucket passes through at most `maxPerBucket` documents, so a
    * boilerplate flood (thousands of near-identical docs all sharing
    * band keys) contributes a BOUNDED number of rows to any downstream
    * candidate generation instead of a quadratic hot spot.
    * `maxPerBucket = 1` is the [[neardupDedupBuckets]] suppression;
    * larger caps keep enough per-bucket survivors for downstream
    * verify joins. Per-bucket state is ONE int (the survivor count),
    * evicted by event-time timeout once the watermark passes
    * `evictAfterMs` beyond it — bounded state under an unbounded
    * stream. WHICH docs survive is arrival-order dependent (as in any
    * streaming dedup); the COUNT per bucket is deterministic.
    *
    * `bands` must carry (doc_id, band, bkey, t) with a watermark
    * already declared on `t` (EventTimeTimeout requires one).
    */
  def cappedBucketSurvivors(bands: DataFrame, maxPerBucket: Int,
      evictAfterMs: Long = 10 * 60 * 1000L): DataFrame = {
    require(maxPerBucket >= 1, "maxPerBucket must be >= 1")
    val ss = bands.sparkSession
    import ss.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    bands.select(col("band").cast("int").as("band"), col("bkey"),
        col("doc_id"), col("t"))
      .as[(Int, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Int, (Int, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.getOrElse(0)
            val out = rows.take(math.max(0, maxPerBucket - seen))
              .map(r => (key._1, key._2, r._3)).toList
            state.update(seen + out.size) // define state BEFORE timeout
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + evictAfterMs)
            out.iterator
          }
      }
      .toDF("band", "bkey", "doc_id")
  }

  /** STREAMING windowed funnel — the streaming twin of the batch
    * `e_funnel_windowed` gate ([[graft.ops.EventAnalytics.windowedFunnel]]):
    * per-user state is ONE (stepsReached, reachTs, reachId, anchorTs)
    * quadruple under flatMapGroupsWithState. Each micro-batch sorts its
    * group's events by (ts_us, event_id) and folds the one-pass greedy
    * first-touch-anchored rule from the stored state: the first step-0
    * event opens the user's window (anchor), each subsequent event of
    * the NEXT step type strictly after the current reach and within
    * `windowUs` of the anchor advances one step. The greedy forward
    * scan is exactly the batch per-step min-qualifying chain, so on an
    * in-order stream the final per-user reach equals the batch funnel.
    *
    * Out-of-order caveat (inherent, same as [[transitionPairs]]): order
    * recovers WITHIN a micro-batch; an event arriving in a later batch
    * than its successors cannot rewind an advance already taken. The
    * gate's one-batch source makes stream ≡ batch exactly; the spec
    * drives the cross-batch state continuation through a MemoryStream.
    *
    * Emits (user_id, reached) in Update mode — `reached` is monotone,
    * so max-per-user over all emissions is the final reach.
    */
  def funnelUserReach(events: DataFrame, steps: Seq[String],
      windowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowUs > 0, s"window must be positive, got $windowUs")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ss = events.sparkSession
    import ss.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long, Long, Long), (Long, Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[(Long, Long, String, Long)],
            state: GroupState[(Int, Long, Long, Long)]) =>
          val sorted = evs.toSeq.sortBy(e => (e._4, e._2))
          var (reached, rTs, rId, anchor) = state.getOption
            .getOrElse((0, Long.MinValue, Long.MinValue, 0L))
          for (e <- sorted if reached < steps.length) {
            if (reached == 0) {
              if (e._3 == steps.head) {
                reached = 1; rTs = e._4; rId = e._2; anchor = e._4
              }
            } else if (e._3 == steps(reached) &&
                (e._4 > rTs || (e._4 == rTs && e._2 > rId)) &&
                e._4 <= anchor + windowUs) {
              reached += 1; rTs = e._4; rId = e._2
            }
          }
          state.update((reached, rTs, rId, anchor))
          Iterator.single((uid, reached))
      }
      .toDF("user_id", "reached")
  }

  /** The gate entry over the bounded file source: run
    * [[funnelUserReach]] to completion, then read the per-user reach
    * out through the batch funnel's own readout
    * (`EventAnalytics.funnelReadout`) — the `e_funnel_windowed` oracle
    * replays it unchanged (stream-vs-batch parity).
    */
  def windowedFunnelCounts(s: SparkSession, dir: String,
      steps: Seq[String], windowUs: Long): DataFrame = {
    val per = runToCompletion(s, ss =>
      funnelUserReach(stream(ss, dir)
        .withColumn("ts_us", unix_micros(col("t"))), steps, windowUs),
      "st_funnel_mem", mode = "update")
      .groupBy("user_id").agg(max("reached").as("reached"))
    graft.ops.EventAnalytics.funnelReadout(steps,
      i => per.filter(col("reached") > i))
  }

  /** STREAM-STATIC enrichment join (§2.9): the event stream joined to a
    * batch dimension (per-customer order counts) — the standard
    * enrichment shape: the static side is planned per micro-batch (and
    * broadcast when small), no state store involved, unlike the
    * stream-stream join. Unmatched users enrich to a 0 count
    * (left_outer), then a windowed aggregate splits traffic by customer
    * tier.
    */
  def enrichedWindowCounts(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.queries.Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    runToCompletion(s, ss =>
      stream(ss, dir)
        .join(dim, Seq("user_id"), "left_outer")
        .withColumn("tier",
          when(coalesce(col("n_orders"), lit(0L)) >= 10, "big")
            .otherwise("small"))
        .groupBy(window(col("t"), "1 hour"), col("tier"))
        .agg(count(lit(1)).as("n")),
      "st_enrich_mem")
      .select(col("window.start").as("wstart"), col("tier"), col("n"))
      .orderBy("wstart", "tier")
  }

  /** Per-user session windows (30-minute inactivity gap): session count
    * and length. Equivalent batch semantics: gap-based sessionization —
    * a new session starts when the previous event is > gap behind.
    */
  def sessionCounts(s: SparkSession, dir: String): DataFrame =
    runToCompletion(s, ss =>
      stream(ss, dir)
        .groupBy(session_window(col("t"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n")),
      "st_session_counts_mem")
      .select(col("session_window.start").as("sstart"), col("user_id"),
        col("n"))
      .orderBy("sstart", "user_id")

  /** STREAMING Bloom filter: [[graft.functions.BloomSketch]] running as
    * a Structured Streaming aggregation — each micro-batch ORs its
    * bits into the fixed m-bit state. OR is idempotent, so replayed or
    * re-sliced batches cannot corrupt the filter (the same at-least-
    * once tolerance as the HLL registers); on the bounded source the
    * final bit array equals the batch build exactly, summarized here
    * as the set-bit count (bits are a deterministic function of the
    * md5 hash family, so a SQL oracle rebuilds the identical array).
    */
  def bloomBits(s: SparkSession, dir: String, m: Int = 4096,
      k: Int = 3): DataFrame = {
    val out = runToCompletion(s, ss => {
      graft.functions.GraftFunctions.registerAll(ss)
      stream(ss, dir)
        .select(expr(graft.ops.Hashing.md5LongSql(
          "cast(event_id as string)")).as("h"))
        .agg(expr(s"graft_bloom(h, $m, $k)").as("bloom"))
    }, "st_bloom_mem")
    out.select(expr("aggregate(bloom, cast(0 as bigint), " +
      "(acc, w) -> acc + cast(bit_count(w) as bigint))").as("n_bits_set"))
  }

  /** Per-(event_type, day) counts accumulated as a watermarked 1-day
    * windowed streaming aggregation — identical counts regardless of
    * micro-batch slicing. Yields the (k, day, n) frame that
    * [[graft.ops.EventAnalytics.daily]] builds from the log, so each
    * streaming series twin (`st_ewma_daily`, `st_cusum_daily`, …) reads
    * its finished state through its batch op's own `*FromDaily` chain.
    */
  def daily(s: SparkSession, dir: String, sink: String): DataFrame =
    runToCompletion(s, ss =>
      stream(ss, dir)
        .groupBy(window(col("t"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n")), sink)
      .select(col("event_type").as("k"),
        expr(s"unix_micros(window.start) div " +
          s"${graft.ops.EventAnalytics.DayUs}").as("day"),
        col("n"))

  /** Per-(user, type) first/last event-time spans accumulated as a
    * STREAMING aggregation — min/max fold associatively, so the
    * finished state IS the span frame the batch op
    * ([[graft.ops.EventAnalytics.sequencePatterns]]) builds, and the
    * `st_seq_patterns` gate reads it through the same
    * `patternsFromSpans` chain regardless of batch slicing.
    */
  def spans(s: SparkSession, dir: String): DataFrame =
    // pin: a MemorySink-backed view cannot self-join (the
    // two sides resolve to the SAME attribute ids -> conflicting-
    // references INTERNAL_ERROR); cutting lineage renumbers one side.
    // The span frame is |users|x|types| — aggregate-sized.
    runToCompletion(s, ss => {
      stream(ss, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(expr("unix_micros(t)")).as("first_us"),
          max(expr("unix_micros(t)")).as("last_us"))
    }, "st_seq_mem").pin()

  /** Count–min sketch under the streaming state store — the frequency
    * companion of [[sketchDistinct]]: micro-batches fold into the
    * bounded depth×width grid through the associative cell-wise sum,
    * so the streaming state IS the sketch; the per-key estimates read
    * off the finished grid must land bit-exactly on the batch-built
    * CMS regardless of batch slicing (the agg_cms_counts readout over
    * events.user_id, overcount-only guarantee included).
    */
  def cmsCounts(s: SparkSession, dir: String, depth: Int = 4,
      width: Int = 64): DataFrame = {
    val out = runToCompletion(s, ss => {
      graft.functions.GraftFunctions.registerAll(ss)
      stream(ss, dir)
        .select(expr(s"transform(sequence(0, ${depth - 1}), i -> " +
          "graft_md5long(concat(cast(i as string), ':', " +
          "cast(user_id as string))))").as("hs"))
        .agg(expr(s"graft_cms(hs, $width)").as("cms"))
    }, "st_cms_mem")
    def est(key: String) =
      s"array_min(transform(sequence(0, ${depth - 1}), i -> " +
        s"element_at(cms, cast(i * $width + pmod(graft_md5long(" +
        s"concat(cast(i as string), ':', cast($key as string)))" +
        s", $width) + 1 as int))))"
    val exact = graft.queries.Tables.events(s, dir)
      .filter(col("user_id") <= 20)
      .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
    // the readout plan resolves on the CALLER's session, not the
    // isolated stream clone — register the hash family there
    graft.ops.Hashing.ensureRegistered(exact)
    exact.join(broadcast(out))
      .select(col("user_id"), expr(est("user_id")).as("est"),
        col("n_exact"),
        (expr(est("user_id")) >= col("n_exact")).as("overcount_only"))
      .orderBy("user_id")
  }

  /** STREAMING distinct sketch: the KMV aggregate
    * ([[graft.functions.KmvSketch]]) running as a Structured Streaming
    * aggregation — each micro-batch folds its rows into the bounded
    * k-row sketch state and the merge is associative, so the streaming
    * state IS the sketch (this incremental-merge property is the whole
    * reason sketches exist; here it is exercised under the streaming
    * state store, not just batch partial aggregation). Complete-mode
    * global aggregate; the bounded source yields the same sketch the
    * batch oracle computes as DISTINCT…ORDER BY…LIMIT k — exact
    * stream-vs-batch parity, independent of micro-batch slicing.
    */
  def sketchDistinct(s: SparkSession, dir: String, k: Int = 256)
      : DataFrame = {
    val out = runToCompletion(s, ss => {
      graft.functions.GraftFunctions.registerAll(ss)
      stream(ss, dir)
        .select(expr(graft.ops.Hashing.md5LongSql(
          "cast(event_id as string)")).as("h"))
        .agg(expr(s"graft_kmv(h, $k)").as("ks"))
    }, "st_sketch_distinct_mem")
    graft.ops.Hashing.ensureRegistered(out)
    out.select(size(col("ks")).cast("long").as("n_min"),
      expr("try_element_at(ks, -1)").as("kth"),
      expr(graft.functions.KmvSketch.estimateSql("ks", k)).as("est"))
  }
}
