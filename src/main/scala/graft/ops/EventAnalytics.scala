package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Event-stream product analytics: funnel progression, retention
  * cohorts, calendar gap-fill, and rolling-window anomaly flags —
  * the standard clickstream rollups a 100 TB event log is mined with
  * (engine capability beyond the reference's corpus operators, in the
  * same family as the batch sessionization gate `w_sessionize`).
  *
  * Scale contract shared by every operator here: all state is keyed by
  * `user_id` or by the (low-cardinality) series key — per-key windows
  * and hash aggregates only, no global sort, no driver-side data. The
  * per-step funnel joins are equi-joins on `user_id` (AQE free to
  * broadcast the shrinking reached-set side); the cohort matrix and
  * daily series that come out are AGGREGATES (days × keys rows), tiny
  * regardless of input scale.
  */
object EventAnalytics {

  private[graft] val DayUs = 86400000000L

  /** DuckDB twin of the day bucket `ts_us div DayUs` that [[daily]]
    * keys on, read off the raw `events.ts`.
    */
  val duckDay: String = s"epoch_us(ts) // $DayUs"

  /** Ordered-step funnel: for each prefix of `steps`, the number of
    * users who performed those event types IN ORDER (strictly
    * increasing timestamps; ties on ts broken by event id so both
    * engines sweep identically), plus conversion rates off the
    * previous step and off step 0.
    *
    * Step k's reach-set derives from step k−1's by one equi-join on
    * the user key and a min-aggregate over qualifying events — k−1
    * shuffles for a k-step funnel, each on `user_id`, with the
    * reached side shrinking monotonically (AQE broadcasts it once it
    * fits). Nothing here is per-event state: each pass reduces to one
    * (user, first_reach_ts) row per surviving user.
    *
    * Input needs columns `user_id`, `event_id`, `event_type`, `ts_us`.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame =
    funnelImpl(events, steps, windowUs = None)

  /** [[funnel]] with a CONVERSION WINDOW: beyond the in-order rule,
    * every later step must land within `windowUs` of the user's FIRST
    * step-0 event (the anchor). First-touch-anchored semantics — the
    * user's earliest entry opens their one window; a user who missed
    * it and re-entered later is NOT re-scanned (documented choice:
    * one-pass greedy, the per-user state is one (anchor, reach) row,
    * not every candidate chain).
    */
  def windowedFunnel(events: DataFrame, steps: Seq[String],
      windowUs: Long): DataFrame = {
    require(windowUs > 0, s"window must be positive, got $windowUs")
    funnelImpl(events, steps, windowUs = Some(windowUs))
  }

  private def funnelImpl(events: DataFrame, steps: Seq[String],
      windowUs: Option[Long]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select("user_id", "event_id", "event_type", "ts_us")
    def reached(i: Int, prev: Option[DataFrame]): DataFrame = {
      val stepEv = e.filter(col("event_type") === steps(i))
      prev match {
        case None =>
          stepEv.groupBy("user_id")
            .agg(min(struct(col("ts_us"), col("event_id"))).as("r"))
            .select(col("user_id"), col("r.ts_us").as("reach_ts"),
              col("r.event_id").as("reach_id"),
              col("r.ts_us").as("anchor_ts"))
        case Some(p) =>
          val inOrder = col("ts_us") > col("reach_ts") ||
            (col("ts_us") === col("reach_ts") &&
              col("event_id") > col("reach_id"))
          val inWindow = windowUs match {
            case Some(w) => col("ts_us") <= col("anchor_ts") + w
            case None => lit(true)
          }
          stepEv.join(p, "user_id")
            .filter(inOrder && inWindow)
            // anchor_ts is functionally determined by user_id (one
            // anchor per user) — grouping by both just carries it
            .groupBy("user_id", "anchor_ts")
            .agg(min(struct(col("ts_us"), col("event_id"))).as("r"))
            .select(col("user_id"), col("r.ts_us").as("reach_ts"),
              col("r.event_id").as("reach_id"), col("anchor_ts"))
      }
    }
    val sets = steps.indices
      .scanLeft(Option.empty[DataFrame])((p, i) => Some(reached(i, p)))
      .flatten
    funnelReadout(steps, sets)
  }

  /** The funnel readout shared by [[funnelImpl]] and its streaming twin
    * (`streaming/Events.windowedFunnelCounts`): one (step, step_name,
    * n_users) row per step, `reached(i)` holding one row per user who
    * reached step i, plus conversion rates off the previous step and
    * off step 0.
    */
  private[graft] def funnelReadout(steps: Seq[String],
      reached: Int => DataFrame): DataFrame = {
    val counts = steps.indices.map { i =>
      reached(i).agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("step"), lit(steps(i)).as("step_name"),
          col("n_users"))
    }.reduce(_.unionAll(_))
    val w = Window.orderBy("step") // ≤ |steps| rows: global window is fine
    counts
      .withColumn("conv_prev", round(
        col("n_users").cast("double") /
          lag(col("n_users"), 1).over(w).cast("double"), 6))
      .withColumn("conv_first", round(
        col("n_users").cast("double") /
          first(col("n_users")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"), 6))
      .orderBy("step")
  }

  /** Weekly retention cohort matrix: users are cohorted by the week of
    * their FIRST event; cell (c, o) counts distinct cohort-c users
    * active o weeks later, with the retention rate off the cohort
    * size. Week index = floor(epoch days / 7) (epoch Thursday origin —
    * a fixed bucketing both engines compute identically; the bucket
    * ORIGIN is irrelevant to retention semantics).
    *
    * Shapes: first-seen is one hash aggregate on `user_id`; the
    * activity join is an equi-join on `user_id`; the matrix is a
    * (cohort, offset) aggregate — weeks² rows out, whatever the input
    * size. Cohort sizes re-derive from the offset-0 diagonal (every
    * user is active in their own first week) via one broadcast-size
    * self-join on cohort.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    // integer `div`, not double division: a ts within an ulp of a bucket
    // boundary must land identically in both engines
    val e = events.select(col("user_id"),
      expr(s"ts_us div ${DayUs * 7}").as("week"))
    val firstSeen = e.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val matrix = e.join(firstSeen, "user_id")
      .select(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"),
        col("user_id"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
    val sizes = matrix.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    matrix.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Calendar gap-fill of a per-key daily series: aggregate events to
    * (key, day, n, mean value), then fill every missing day of each
    * key's [min, max] span with n = 0 and the mean value
    * FORWARD-FILLED from the last observed day.
    *
    * The day grid is generated per key with `sequence` + explode — no
    * driver probe for the global span, and the grid is bounded by
    * span × keys, not by event count. Forward fill avoids
    * `last(ignoreNulls)` (not portable to the DuckDB twin) via the
    * running-count trick: rows sharing the running count of non-null
    * observations form one fill-group, and `max` over the group
    * propagates the value — two per-key windows, per-key state only.
    */
  def gapFillDaily(events: DataFrame, keyCol: String): DataFrame = {
    val daily = events
      .select(col(keyCol).as("k"),
        expr(s"ts_us div $DayUs").as("day"),
        col("value"))
      .groupBy("k", "day")
      // DECIMAL sum → one double division: order-independent and
      // IEEE-identical to the DuckDB twin (a double avg's summation
      // order differs between engines)
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("day_value"))
    val grid = daily.groupBy("k")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("k"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val byDay = Window.partitionBy("k").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("k", "day"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("grp",
        count(col("day_value")).over(byDay)) // running non-null count
      .withColumn("filled_value",
        max(col("day_value")).over(
          Window.partitionBy("k", "grp"))) // one value per fill-group
      .select(col("k").as(keyCol), col("day"), col("n_events"),
        col("filled_value"))
      .orderBy(keyCol, "day")
  }

  /** Composed event-insights pipeline: gap-sessionize → WITHIN-SESSION
    * ordered funnel → daily session rollup → gap-filled trailing
    * z-score anomaly flags on the session count — the end-to-end flow
    * a clickstream team runs nightly, each stage being a gated
    * operator shape (`w_sessionize`, [[funnel]], [[gapFillDaily]],
    * [[rollingAnomalies]]).
    *
    * Output is DAYS rows: (day, n_sessions, n_converted, conv_rate,
    * z, is_anomaly) where a session converts when it contains the
    * `steps` event types in timestamp order (ties by event id).
    *
    * Scale: sessionization and the funnel chain are per-(user,
    * session) windows/joins; the daily frame is an aggregate (days
    * rows), so its grid/window stages are free at any input size.
    * The session frame feeds multiple downstream paths — a production
    * run materializes it as a stage output (the `pipe_llm_corpus`
    * plan-path fan-in lesson); the gate keeps the plan lazy-pure and
    * pays the (cheap) recompute.
    */
  def sessionInsights(events: DataFrame, gapUs: Long,
      steps: Seq[String], window: Int = 7, threshold: Double = 2.0)
      : DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val sess = events.select("user_id", "event_id", "event_type", "ts_us")
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_s", when(col("prev").isNull ||
        col("ts_us") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev", "new_s")
    val key = Seq("user_id", "session_seq")
    def reached(i: Int, prev: Option[DataFrame]): DataFrame = {
      val stepEv = sess.filter(col("event_type") === steps(i))
      val q = prev match {
        case None => stepEv
        case Some(p) => stepEv.join(p, key)
          .filter(col("ts_us") > col("reach_ts") ||
            (col("ts_us") === col("reach_ts") &&
              col("event_id") > col("reach_id")))
      }
      q.groupBy(key.map(col): _*)
        .agg(min(struct(col("ts_us"), col("event_id"))).as("r"))
        .select(col("user_id"), col("session_seq"),
          col("r.ts_us").as("reach_ts"), col("r.event_id").as("reach_id"))
    }
    val converted = steps.indices
      .foldLeft(Option.empty[DataFrame])((p, i) => Some(reached(i, p))).get
      .select(col("user_id"), col("session_seq"), lit(true).as("conv"))
    val daily = sess.groupBy(key.map(col): _*)
      .agg(min(col("ts_us")).as("start_us"))
      .join(converted, key, "left")
      .select(expr(s"start_us div $DayUs").as("day"),
        coalesce(col("conv"), lit(false)).as("conv"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("n_converted"))
    val grid = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val filled = grid.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
        coalesce(col("n_converted"), lit(0L)).as("n_converted"))
    // the daily frame is DAYS rows — the global window is free
    val trail = Window.orderBy("day").rowsBetween(-window, -1)
    val w = window.toDouble
    filled
      .withColumn("n_obs", count(col("n_sessions")).over(trail))
      .withColumn("s1", sum(col("n_sessions")).over(trail))
      .withColumn("s2", sum(col("n_sessions") * col("n_sessions"))
        .over(trail))
      .withColumn("sigma", expr(
        s"sqrt(greatest(cast(s2 as double) - " +
          s"cast(s1 as double) * cast(s1 as double) / $w, 0.0) / ${w - 1.0})"))
      .withColumn("z", when(col("n_obs") === window && col("sigma") > 0,
        round(expr(s"(cast(n_sessions as double) - " +
          s"cast(s1 as double) / $w) / sigma"), 6)))
      .select(col("day"), col("n_sessions"), col("n_converted"),
        when(col("n_sessions") > 0, round(
          col("n_converted").cast("double") /
            col("n_sessions").cast("double"), 6)).as("conv_rate"),
        col("z"),
        coalesce(abs(col("z")) > threshold, lit(false)).as("is_anomaly"))
      .orderBy("day")
  }

  /** First-order Markov transition matrix over each user's ordered
    * event stream: P(next event type | current event type), with a
    * `__start__` pseudo-state so per-user first events form the entry
    * distribution. Ordering is (ts, event_id) — the engine-identical
    * sweep every operator here uses.
    *
    * Shapes: one per-user lag window, one (from, to) hash aggregate
    * (cells bounded by |types|², not the event count), row totals as a
    * broadcast |types|-row frame. The output is the navigation model
    * product teams mine for drop-off edges; at 100 TB the window is
    * per-user state and everything after the aggregate is tiny.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val counts = events.select("user_id", "event_id", "event_type", "ts_us")
      .withColumn("from_type",
        coalesce(lag(col("event_type"), 1).over(byUser), lit("__start__")))
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6)
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Top-k most frequent length-`len` event-type paths (n-grams over
    * each user's (ts, event_id)-ordered stream, windows spanning
    * session boundaries by design — pass a sessionized frame to scope
    * them). One per-user window computing `len−1` lags, one path hash
    * aggregate, TakeOrdered for the top-k (count desc, path asc — a
    * total order, so ties are deterministic).
    */
  def topPaths(events: DataFrame, len: Int = 3, k: Int = 20): DataFrame = {
    require(len >= 2, "a path needs at least two steps")
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val lagNames = (len - 1 to 1 by -1).map(i => s"__w$i")
    val withLags = events.select("user_id", "event_id", "event_type", "ts_us")
      .select(col("event_type") +: lagNames.map(nm =>
        lag(col("event_type"), nm.drop(3).toInt).over(byUser).as(nm)): _*)
    // the LONGEST lag null ⇒ the stream is shorter than the path; the
    // shorter lags are then non-null whenever it is, so one filter
    // suffices (concat_ws would silently skip nulls otherwise)
    val grams = withLags.filter(col(lagNames.head).isNotNull)
      .select(concat_ws(">",
        lagNames.map(col) :+ col("event_type"): _*).as("path"))
    grams.groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path")).limit(k)
  }

  /** Gapped sequential-pattern support (the 2-length PrefixSpan/GSP
    * core, Pei et al. 2001) — [[topPaths]]' complement: "x then LATER
    * y" with any gap, counted once per user (support = distinct users
    * exhibiting the pattern), the metric sequence miners cut on.
    *
    * A user exhibits x>y iff some x-event strictly precedes some
    * y-event IN TIMESTAMP (first_us(x) < last_us(y); equal-µs pairs
    * do not count — the documented tie convention, identical in both
    * engines). x = y reads "repeat behavior": two occurrences at
    * distinct timestamps.
    *
    * SCALE SHAPE: one per-(user, type) min/max hash aggregate shrinks
    * the stream to ≤|types| rows per user, then a user-key self-join
    * builds the ≤|types|² within-user grid — NEVER an event×event
    * pair join; support is one hash aggregate over patterns and the
    * user total attaches broadcast. Top-k by (support desc, pattern
    * asc) — pure BIGINT ordering, no float in the cut.
    */
  def sequencePatterns(events: DataFrame, k: Int = 20): DataFrame =
    patternsFromSpans(events.select("user_id", "event_type", "ts_us")
      .groupBy("user_id", "event_type")
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us")),
      k)

  /** The pattern grid + support readout from a (user_id, event_type,
    * first_us, last_us) span frame — shared by [[sequencePatterns]] and
    * its streaming twin (`streaming/Events.spans`, where the spans are
    * the finished state). The user total counts off the spans: every
    * user has at least one span row.
    */
  private[graft] def patternsFromSpans(spans: DataFrame, k: Int)
      : DataFrame = {
    val totals = spans.agg(countDistinct(col("user_id")).as("nu"))
    spans.as("x").join(spans.as("y"), "user_id")
      .filter(col("x.first_us") < col("y.last_us"))
      .select(concat_ws(">", col("x.event_type"), col("y.event_type"))
        .as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(totals))
      .select(col("pattern"), col("n_users"),
        round(col("n_users").cast("double") / col("nu").cast("double"), 6)
          .as("support"))
      .orderBy(desc("n_users"), asc("pattern")).limit(k)
  }

  /** Active-user engagement rollup: per calendar day, DAU plus
    * rolling 7-day (WAU) and 28-day (MAU) distinct actives and the
    * DAU/MAU stickiness ratio — the standard growth dashboard.
    *
    * Rolling DISTINCT counts cannot ride a window frame (distinct
    * does not decompose), so each (user, day) activity row fans out
    * to the anchor days whose trailing window covers it (×7 and ×28
    * via `sequence` + explode — a CONSTANT replication factor, the
    * classic rolling-distinct shape), then one countDistinct per
    * anchor day, left-joined onto the full [min, max] calendar spine
    * so quiet days read as explicit zeros. Output is DAYS rows at any
    * input size; swap countDistinct for `graft_kmv`/`graft_hll` when
    * the per-day distinct shuffle itself is the bottleneck at 100 TB.
    */
  def activeUsers(events: DataFrame): DataFrame = {
    val acts = events
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val span = acts.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val fan = acts.crossJoin(broadcast(span))
      .select(col("user_id"), col("day"), col("d1"),
        explode(sequence(col("day"),
          least(col("day") + 27, col("d1")))).as("anchor"))
    val mau = fan.groupBy("anchor")
      .agg(countDistinct(col("user_id")).as("mau"))
    val wau = fan.filter(col("anchor") - col("day") <= 6)
      .groupBy("anchor").agg(countDistinct(col("user_id")).as("wau"))
    val dau = acts.groupBy("day").agg(countDistinct(col("user_id"))
      .as("dau"))
    // the day SPINE covers every calendar day of [d0, d1] — a quiet
    // stretch with zero trailing activity must read as explicit zero
    // rows, not missing data (a growth dashboard joins on the calendar)
    val grid = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.as("g")
      .join(mau.as("m"), col("g.day") === col("m.anchor"), "left")
      .join(wau.as("w"), col("g.day") === col("w.anchor"), "left")
      .join(dau.as("d"), col("g.day") === col("d.day"), "left")
      .select(col("g.day").as("day"),
        coalesce(col("d.dau"), lit(0L)).as("dau"),
        coalesce(col("w.wau"), lit(0L)).as("wau"),
        coalesce(col("m.mau"), lit(0L)).as("mau"),
        when(coalesce(col("m.mau"), lit(0L)) > 0, round(
          coalesce(col("d.dau"), lit(0L)).cast("double") /
            col("m.mau").cast("double"), 6)).as("stickiness"))
      .orderBy("day")
  }

  /** Week-over-week change per series key: weekly counts (integer
    * `div` bucketing, the [[retentionCohorts]] convention) → per-key
    * lag → absolute and percent change (null on the first week; null
    * pct when the prior week is 0). One hash aggregate + one per-key
    * window over the weeks×keys-row aggregate — free at any input
    * size.
    */
  def weekOverWeek(events: DataFrame, keyCol: String): DataFrame = {
    val weekly = events
      .select(col(keyCol).as("k"), expr(s"ts_us div ${DayUs * 7}")
        .as("week"))
      .groupBy("k", "week").agg(count(lit(1)).as("n"))
    val byKey = Window.partitionBy("k").orderBy("week")
    weekly
      .withColumn("prev", lag(col("n"), 1).over(byKey))
      .select(col("k").as(keyCol), col("week"), col("n"),
        (col("n") - col("prev")).as("delta"),
        when(col("prev") > 0, round(
          (col("n") - col("prev")).cast("double") /
            col("prev").cast("double"), 6)).as("pct_change"))
      .orderBy(keyCol, "week")
  }

  /** Funnel latency: exact quantiles of the time from each user's
    * first `fromType` event to their first `toType` event STRICTLY
    * after it (ties by event id, the funnel sweep) — "how long does
    * signup → purchase take". Returns (q, delta_us) rows.
    *
    * Shapes: two per-user min-aggregates + one equi-join, then
    * [[Rank.exactQuantiles]] over the |converted users|-row delta
    * frame (two-phase ordinal — no single-task sort).
    */
  def timeToConvert(events: DataFrame, fromType: String, toType: String,
      qs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val e = events.select("user_id", "event_id", "event_type", "ts_us")
    val first = e.filter(col("event_type") === fromType)
      .groupBy("user_id")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.ts_us").as("from_ts"),
        col("r.event_id").as("from_id"))
    val deltas = e.filter(col("event_type") === toType)
      .join(first, "user_id")
      .filter(col("ts_us") > col("from_ts") ||
        (col("ts_us") === col("from_ts") &&
          col("event_id") > col("from_id")))
      .groupBy("user_id")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("r"),
        min(col("from_ts")).as("from_ts"))
      .select(col("user_id"), (col("r.ts_us") - col("from_ts"))
        .as("delta_us"))
    Rank.exactQuantiles(deltas, "delta_us", Seq(col("user_id").asc), qs)
      .select(col("q"), col("delta_us")).orderBy("q")
  }

  /** A/B experiment readout: users deterministically hash-assigned to
    * variants A/B (md5 of the salted user key mod 2 — the same
    * per-row-hash membership as every sampling split here, so
    * assignment is stable across runs and engines), a user converts
    * when they have ≥ 1 event satisfying `isConversion`, and the
    * readout is ONE row: per-variant sizes, conversions, rates, and
    * the pooled two-proportion z statistic (null when a variant is
    * empty or the pooled rate is degenerate — zero variance).
    *
    * Shapes: one per-user aggregate (conversion flag), one scalar
    * conditional aggregate — nothing downstream of the user rollup
    * grows with the event count. All rates/z are single IEEE
    * expressions off exact integers, round(,6).
    */
  /** Cohort LIFETIME-VALUE curves — the revenue companion of
    * [[retentionCohorts]]: users cohort by the week of their first
    * event; cell (cohort, age) carries the active-user count and the
    * CUMULATIVE revenue the cohort has produced through that week age,
    * plus per-user LTV off the cohort size — the curve a growth team
    * reads payback periods from.
    *
    * DETERMINISM: revenue sums `round(value, 6)` in DECIMAL (order-
    * independent); the cumulative window runs per cohort over the
    * ≤ weeks-sized age axis; the two division/rounding steps are
    * single IEEE ops mirrored textually by the oracle.
    *
    * SCALE SHAPE: first-seen is one hash aggregate on user_id; the
    * cohort join is an equi-join; cells are a (cohort, age) aggregate
    * — weeks² rows at any input size, where the cumulative window and
    * the size join then run. Nothing global-sorts the events.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val weekUs = 604800000000L
    val e = events.select(col("user_id"),
      expr(s"ts_us div ${weekUs}L").as("wk"),
      expr("cast(round(coalesce(value, 0.0D), 6) as decimal(28,6))")
        .as("rev"))
    val first = e.groupBy("user_id").agg(min(col("wk")).as("cohort"))
    val cell = e.join(first, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("age_w"))
      .agg(countDistinct("user_id").as("n_active"),
        sum(col("rev")).as("rev"))
    val sizes = first.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_users"))
    val cum = Window.partitionBy("cohort").orderBy("age_w")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell.withColumn("cum", sum(col("rev")).over(cum))
      .join(sizes, "cohort")
      .select(col("cohort"), col("age_w"), col("n_active"),
        col("cohort_users"),
        round(col("cum").cast("double"), 4).as("cum_value"),
        round(col("cum").cast("double") / col("cohort_users"), 6)
          .as("ltv_per_user"))
      .orderBy("cohort", "age_w")
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic marketing-analytics quintile grid: each user scores 1–5
    * on how recently they acted, how often, and how much value they
    * carried; segment "5/5/5" is the best customer. Scores are SQL
    * NTILE(5) quintiles with 5 = best (recency quintiled DESCENDING —
    * the most recent users sort last and take the top bucket).
    *
    * DETERMINISM: monetary sums `round(value, 6)` in DECIMAL (order-
    * independent); every quintile ordering is tie-broken by user_id,
    * so the NTILE assignment is a total order both engines replay.
    *
    * SCALE SHAPE — one hash aggregate to the |users| table, read back
    * with ONE bounded collect of at most [[RfmFoldRows]] + 1 rows;
    * then two paths with byte-equal output (RfmEquivalenceSpec):
    *  - at most [[RfmFoldRows]] users (and ANSI on): the recency, the
    *    three quintile orderings, the NTILE arithmetic and the grid run
    *    as an exact driver-local fold ([[RfmFold]]) and the result is a
    *    local relation (sf0.01: 5 jobs where the distributed form
    *    runs 22);
    *  - above the guard, with ANSI off, or for a non-BIGINT `ts_us`:
    *    one fused two-phase ordinal over the three metrics (range
    *    exchange + local window + broadcast offsets, the
    *    [[Rank.globalOrdinal]] shape — never an unpartitioned NTILE
    *    window, which would sort every user through one task) with the
    *    NTILE arithmetic of [[Rank.equiDepthHistogram]] applied per
    *    metric. It recomputes the aggregate: above the guard the
    *    bounded read costs at most guard + 1 rows.
    * Output is the segment grid (≤ 125 rows): (r_score, f_score,
    * m_score, n_users, total_monetary).
    */
  def rfmSegments(events: DataFrame): DataFrame =
    rfmSegments(events, RfmFoldRows)

  /** The RFM fold guard: user tables of at most this many rows run as
    * the driver-local fold, and the guard read never holds more than
    * this many + 1 rows on the driver. Measured crossover (local[4],
    * 4 shuffle partitions, 3 events per user, warm median of 3, fold
    * vs distributed rfmSegments): 150 users 0.35 vs 1.4 s, 16k 0.32 vs
    * 1.2 s, 64k 1.0 vs 2.4 s, 256k 4.3 vs 5.6 s, 1M 17.1 vs 16.9 s.
    * The fold costs ~16 µs per user on one core while the distributed
    * cost divides by the core count, so the guard sits 16× below the
    * 4-core break-even: 2^16 users (sf0.01 has 150).
    */
  private[graft] val RfmFoldRows: Long = 1L << 16

  /** [[rfmSegments]] with an explicit fold guard (a negative guard
    * forces the distributed path).
    */
  private[graft] def rfmSegments(events: DataFrame,
      foldRows: Long): DataFrame = {
    val perUser = events.groupBy("user_id").agg(
      max(col("ts_us")).as("last_ts"),
      count(lit(1)).as("freq"),
      sum(expr("cast(round(coalesce(value, 0.0D), 6) as decimal(28,6))"))
        .as("mon"))
    RfmFold.segments(perUser, foldRows)
      .getOrElse(rfmDistributed(events, perUser))
  }

  private def rfmDistributed(events: DataFrame,
      perUser: DataFrame): DataFrame = {
    val gmax = events.agg(max(col("ts_us")).as("gmax"))
    // r16 (r15 advice): u fans into the three metric projections below
    // — pin it (lazy) so the per-user events aggregate runs once, not
    // three times inside the ordinal checkpoint job.
    val u = perUser.crossJoin(broadcast(gmax))
      .withColumn("recency_us", col("gmax") - col("last_ts"))
      .pin(false)
    // r15 optimization (guide §2.4 — remove shuffles outright): the
    // three quintile orderings were three NESTED Rank.globalOrdinal
    // passes — three range exchanges of the ever-wider user frame,
    // three exchange-pinning checkpoints, three count/offset passes.
    // The three orderings are independent, so they fuse into ONE
    // two-phase ordinal over the union of three NARROW
    // (metric, value, user_id) projections: one range exchange on
    // (metric, value, user_id) — metric leads the key, so each
    // metric's rows form a contiguous globally ordered run — one
    // per-(metric, partition) count/offset table (the same triangular
    // join, now keyed by metric too), one checkpoint. Ordinals are
    // per-metric identical to the nested form (the range boundaries
    // only move WHERE partitions split, never the total order), so the
    // NTILE arithmetic and the grid are value-identical. The DESC
    // recency ordering rides as a negated value; all three metrics
    // widen losslessly to DECIMAL(38,6) so one column carries them.
    val mdec = org.apache.spark.sql.types.DecimalType(38, 6)
    val metrics = u.select(lit("r").as("__m"),
        (-col("recency_us")).cast(mdec).as("__v"), col("user_id"))
      .unionByName(u.select(lit("f").as("__m"),
        col("freq").cast(mdec).as("__v"), col("user_id")))
      .unionByName(u.select(lit("m").as("__m"),
        col("mon").cast(mdec).as("__v"), col("user_id")))
    val par = events.sparkSession.sessionState.conf.numShufflePartitions
    // exchange-pinning localCheckpoint: same contract as
    // Rank.globalOrdinal (offsets and ranks must see ONE partitioning)
    val local = metrics
      .repartitionByRange(par, col("__m"), col("__v"), col("user_id"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__pid", "__m")
          .orderBy(col("__v"), col("user_id"))))
      .pin()
    val counts = local.groupBy("__m", "__pid")
      .agg(count(lit(1)).as("__n"))
    val offsets = counts.as("a")
      .join(counts.select(col("__m").as("__m2"), col("__pid").as("__p2"),
        col("__n").as("__n2")).as("b"),
        col("__m2") === col("__m") && col("__p2") < col("__pid"),
        "left_outer")
      .groupBy("__m", "__pid")
      .agg(coalesce(sum("__n2"), lit(0L)).as("__offset"))
    val ranked = local.join(broadcast(offsets), Seq("__m", "__pid"))
      .withColumn("__ord",
        (col("__offset") + col("__lrank") - 1).cast("long"))
    // count users off the pinned frame (same rows as perUser) — the
    // unpinned form re-ran the whole events aggregate a fourth time
    val n = u.agg(count(lit(1)).as("__n"))
    // NTILE(5) arithmetic on the 0-based ordinal (exactly
    // Rank.equiDepthHistogram's assignment): score = bucket + 1
    val score = {
      val q = "(__n div 5)"
      val r = "(__n % 5)"
      expr(s"cast(case when __ord < $r * ($q + 1) " +
        s"then __ord div ($q + 1) " +
        s"else $r + (__ord - $r * ($q + 1)) div $q end + 1 as int)")
    }
    ranked.crossJoin(broadcast(n))
      .withColumn("__score", score)
      .groupBy("user_id")
      .agg(
        max(when(col("__m") === "r", col("__score"))).as("r_score"),
        max(when(col("__m") === "f", col("__score"))).as("f_score"),
        max(when(col("__m") === "m", col("__score"))).as("m_score"),
        max(when(col("__m") === "m", col("__v"))).as("__mon"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("__mon")).cast("double"), 4).as("total_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** A/B-test POWER ANALYSIS — the planning half of [[abTest]]: from
    * the measured baseline conversion rate, the per-arm sample size
    * needed to detect a `mdeRel` relative lift at significance α and
    * power 1−β (two-proportion normal approximation, the standard
    * formula):
    *
    *   n = (z_{α/2}·√(2·p̄(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / (p₂−p₁)²
    *
    * z defaults pin α = 0.05 two-sided, power = 0.80. Returns one row
    * (n_users, n_conv, p_base, p_target, n_per_arm); `n_per_arm` is
    * NULL when the baseline rate is degenerate (0 — no detectable
    * lift exists).
    *
    * Scale shape: one per-user aggregate + a 1-row fold; the formula
    * is a single fixed IEEE expression the oracle mirrors textually.
    */
  def powerAnalysis(events: DataFrame, isConversion: Column,
      mdeRel: Double = 0.10, zAlpha: Double = 1.959964,
      zBeta: Double = 0.841621): DataFrame = {
    require(mdeRel > 0, s"mdeRel must be positive, got $mdeRel")
    val perUser = events.groupBy("user_id")
      .agg(max(when(isConversion, 1L).otherwise(0L)).as("conv"))
    perUser.agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      .withColumn("p1",
        expr("cast(n_conv as double) / cast(n_users as double)"))
      .withColumn("p2", expr(s"least(p1 * ${1.0 + mdeRel}D, 1.0D)"))
      .withColumn("pbar", expr("(p1 + p2) / 2.0D"))
      .select(col("n_users"), col("n_conv"),
        round(col("p1"), 6).as("p_base"),
        round(col("p2"), 6).as("p_target"),
        expr(s"case when p2 > p1 then cast(ceil(" +
          s"power($zAlpha * sqrt(2.0D * pbar * (1.0D - pbar)) + " +
          s"$zBeta * sqrt(p1 * (1.0D - p1) + p2 * (1.0D - p2)), 2) / " +
          s"power(p2 - p1, 2)) as bigint) end").as("n_per_arm"))
  }

  def abTest(events: DataFrame, isConversion: Column): DataFrame = {
    Hashing.ensureRegistered(events)
    val perUser = events.groupBy("user_id")
      .agg(max(when(isConversion, 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
    perUser.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L))
          .as("conv_b"))
      .withColumn("p_a", expr("case when n_a > 0 then " +
        "cast(conv_a as double) / cast(n_a as double) end"))
      .withColumn("p_b", expr("case when n_b > 0 then " +
        "cast(conv_b as double) / cast(n_b as double) end"))
      .withColumn("pp", expr("case when n_a + n_b > 0 then " +
        "cast(conv_a + conv_b as double) / cast(n_a + n_b as double) end"))
      .select(col("n_a"), col("conv_a"), round(col("p_a"), 6).as("rate_a"),
        col("n_b"), col("conv_b"), round(col("p_b"), 6).as("rate_b"),
        // degenerate pooled rate (0 or 1) means zero variance → null z,
        // never an ANSI division error
        round(expr("case when pp > 0.0D and pp < 1.0D then " +
          "(p_b - p_a) / sqrt(pp * (1.0D - pp) * " +
          "(1.0D / cast(n_a as double) + 1.0D / cast(n_b as double))) " +
          "end"), 6).as("z"))
  }

  /** Heterogeneous-treatment-effect (uplift-by-segment) readout — the
    * [[abTest]] two-proportion analysis per USER SEGMENT: "the feature
    * helped power users and hurt everyone else" is invisible in the
    * pooled z. Users segment by their FIRST event type (a
    * deterministic pre-treatment attribute — segmenting on
    * post-treatment behavior would bias the contrast), arms are the
    * same md5 split, and each segment reads its own rates, uplift
    * (p_b − p_a) and z.
    *
    * DETERMINISM: the [[abTest]] contract per segment — BIGINT
    * counts, one IEEE expression chain, degenerate pooled rates (0 or
    * 1) read null z. SCALE SHAPE: one per-user first-event window +
    * one user aggregate + one |segments|-row rollup.
    */
  def upliftSegments(events: DataFrame, isConversion: Column)
      : DataFrame = {
    Hashing.ensureRegistered(events)
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val seg = events
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("segment"))
    val perUser = events.groupBy("user_id")
      .agg(max(when(isConversion, 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
      .join(seg, Seq("user_id"))
    perUser.groupBy("segment").agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L))
          .as("conv_b"))
      .withColumn("p_a", expr("case when n_a > 0 then " +
        "cast(conv_a as double) / cast(n_a as double) end"))
      .withColumn("p_b", expr("case when n_b > 0 then " +
        "cast(conv_b as double) / cast(n_b as double) end"))
      .withColumn("pp", expr("case when n_a + n_b > 0 then " +
        "cast(conv_a + conv_b as double) / cast(n_a + n_b as double) end"))
      .select(col("segment"), col("n_a"), col("conv_a"),
        round(col("p_a"), 6).as("rate_a"),
        col("n_b"), col("conv_b"), round(col("p_b"), 6).as("rate_b"),
        round(expr("p_b - p_a"), 6).as("uplift"),
        round(expr("case when pp > 0.0D and pp < 1.0D and n_a > 0 " +
          "and n_b > 0 then (p_b - p_a) / sqrt(pp * (1.0D - pp) * " +
          "(1.0D / cast(n_a as double) + 1.0D / cast(n_b as double))) " +
          "end"), 6).as("z"))
      .orderBy("segment")
  }

  /** Sample-ratio-mismatch (SRM) guard — the first thing a trustworthy
    * experimentation platform checks before ANY readout: under the
    * [[abTest]] md5 assignment the arms should split 50/50, and a
    * significant deviation means the experiment is corrupted (logging
    * loss, bot filtering, redirect bias) and its lift numbers are
    * meaningless. Chi-square against the 50/50 expectation reduces to
    *
    *   χ² = (n_a − n_b)² / (n_a + n_b),   df = 1,
    *
    * flagged at the conventional α = 0.001 SRM threshold
    * (χ²₍₁₎ critical value 10.828). Returns one row (n_a, n_b, chi2,
    * srm_flag): the numerator is exact BIGINT, the division one IEEE
    * expression the oracle mirrors; flag emitted as BIGINT 0/1.
    *
    * SCALE SHAPE: one distinct-user aggregate + one scalar fold —
    * nothing grows past |users|.
    */
  def srmCheck(events: DataFrame): DataFrame = {
    Hashing.ensureRegistered(events)
    events.select("user_id").distinct()
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round(expr("case when n_a + n_b > 0 then " +
          "cast((n_a - n_b) * (n_a - n_b) as double) / " +
          "cast(n_a + n_b as double) end"), 6).as("chi2"),
        expr("cast(case when n_a + n_b > 0 and " +
          "cast((n_a - n_b) * (n_a - n_b) as double) / " +
          "cast(n_a + n_b as double) > 10.828D " +
          "then 1 else 0 end as bigint)").as("srm_flag"))
  }

  /** CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    * WSDM 2013) — the industry-standard upgrade of [[abTest]] for
    * CONTINUOUS metrics: each user's experiment-period metric is
    * adjusted by their own PRE-EXPERIMENT metric,
    *
    *   ŷᵢ = yᵢ − θ·(xᵢ − x̄),   θ = cov(x, y)/var(x),
    *
    * which shrinks the between-user variance by the squared pre/post
    * correlation ρ² without biasing the treatment difference (variant
    * assignment is independent of x). Variants come from the same
    * stable md5 membership as [[abTest]] so the two readouts describe
    * one experiment; θ is pooled across arms (the standard choice —
    * assignment independence keeps it unbiased).
    *
    * Returns one row (n_a, n_b, mean_a, mean_b, theta, diff_raw,
    * diff_adj, rho2): diff_adj is the CUPED-adjusted B−A lift and
    * rho2 the fraction of metric variance the covariate removed
    * (≈ how much longer the un-CUPED experiment would have to run).
    *
    * DETERMINISM: per-user period sums accumulate round(,6) DECIMALs;
    * user totals then bound to DECIMAL(18,6) (≈10¹² absolute — beyond
    * any per-user metric; ANSI throws rather than wraps), so the
    * pooled moments (products at DECIMAL(38,12)) are exact on any
    * partitioning and θ/ρ² are single IEEE expressions the oracle
    * mirrors. try_divide: a constant covariate yields NULL θ (the
    * un-adjusted readout), never an ANSI error.
    *
    * SCALE SHAPE: one per-user hash aggregate, ONE scalar fold with
    * conditional per-arm sums — nothing grows past |users|.
    */
  def cupedAdjust(events: DataFrame, valueCol: String, isPre: Column)
      : DataFrame = {
    Hashing.ensureRegistered(events)
    val v = expr(s"cast(round(cast($valueCol as double), 6) " +
      "as decimal(28,6))")
    val perUser = events.filter(col(valueCol).isNotNull)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(isPre, v)), lit(0).cast("decimal(28,6)"))
          .cast("decimal(18,6)").as("x"),
        coalesce(sum(when(!isPre, v)), lit(0).cast("decimal(28,6)"))
          .cast("decimal(18,6)").as("y"))
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
    perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double")
          .as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,12)")).cast("double")
          .as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,12)")).cast("double")
          .as("syy"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("x"))).cast("double").as("sx_a"),
        sum(when(col("variant") === 0, col("y"))).cast("double").as("sy_a"),
        sum(when(col("variant") === 1, col("x"))).cast("double").as("sx_b"),
        sum(when(col("variant") === 1, col("y"))).cast("double").as("sy_b"))
      .withColumn("n_b", col("n") - col("n_a"))
      .withColumn("theta",
        expr("try_divide(n * sxy - sx * sy, n * sxx - sx * sx)"))
      .withColumn("xbar", expr("sx / cast(n as double)"))
      // coalesce(theta, 0): a constant covariate degrades to the
      // un-adjusted readout (theta itself stays NULL in the output)
      .withColumn("adj_a", expr("sy_a / cast(n_a as double) - " +
        "coalesce(theta, 0.0D) * (sx_a / cast(n_a as double) - xbar)"))
      .withColumn("adj_b", expr("sy_b / cast(n_b as double) - " +
        "coalesce(theta, 0.0D) * (sx_b / cast(n_b as double) - xbar)"))
      .select(col("n_a"), col("n_b"),
        round(expr("sy_a / cast(n_a as double)"), 6).as("mean_a"),
        round(expr("sy_b / cast(n_b as double)"), 6).as("mean_b"),
        round(col("theta"), 6).as("theta"),
        round(expr("sy_b / cast(n_b as double) - " +
          "sy_a / cast(n_a as double)"), 6).as("diff_raw"),
        round(expr("adj_b - adj_a"), 6).as("diff_adj"),
        round(expr("try_divide((n * sxy - sx * sy) * (n * sxy - sx * sy)," +
          " (n * sxx - sx * sx) * (n * syy - sy * sy))"), 6).as("rho2"))
  }

  /** Last-touch conversion attribution: every `convType` event is
    * credited to the nearest STRICTLY-PRECEDING event of any other
    * type in the same user's (ts, event_id)-ordered stream
    * (`__none__` when nothing precedes); output is the per-touch-type
    * conversion count and share.
    *
    * The "last preceding non-conversion event" is the portable
    * forward-fill (the [[gapFillDaily]] running-non-null-count trick,
    * not `last(ignoreNulls)`): rows sharing the running count of touch
    * events form one fill group whose single non-null member is the
    * touch. Two per-user windows + one |types|-bounded aggregate;
    * the share total rides as a broadcast 1-row frame.
    */
  def lastTouchAttribution(events: DataFrame, convType: String)
      : DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val marked = events.select("user_id", "event_id", "event_type", "ts_us")
      .withColumn("__t",
        when(col("event_type") =!= convType, col("event_type")))
      .withColumn("__c", count(col("__t")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val conv = marked
      .withColumn("touch",
        max(col("__t")).over(Window.partitionBy("user_id", "__c")))
      .filter(col("event_type") === convType)
      .select(coalesce(col("touch"), lit("__none__")).as("touch"))
    val counts = conv.groupBy("touch").agg(count(lit(1)).as("n_conversions"))
    val tot = counts.agg(sum(col("n_conversions")).as("__n"))
    counts.crossJoin(broadcast(tot))
      .select(col("touch"), col("n_conversions"),
        round(col("n_conversions").cast("double") /
          col("__n").cast("double"), 6).as("share"))
      .orderBy("touch")
  }

  /** LINEAR multi-touch attribution — the equal-split twin of
    * [[lastTouchAttribution]]: each `convType` event distributes 1.0
    * credit equally over ALL strictly-preceding events of other types
    * in the same user's (ts, event_id)-ordered stream; a conversion
    * with no preceding touch credits `__none__` whole. Σ credit over
    * the output is EXACTLY the conversion count (each conversion hands
    * out 1.0 total) — the conservation invariant the spec pins.
    *
    * Shape: no touch×conversion pair join (quadratic per user).
    * Per conversion, m = the running count of preceding touches (the
    * same inclusive-count trick as last-touch — the conversion's own
    * null marker doesn't count itself); each PRECEDING touch is owed
    * 1/m by it, and since every touch before a conversion precedes it,
    * a touch's total credit is the SUFFIX SUM of the per-conversion
    * 1/m credits after its position — one ordered per-user window,
    * then a |types|-bounded aggregate.
    */
  def linearAttribution(events: DataFrame, convType: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val marked = events.select("user_id", "event_id", "event_type", "ts_us")
      .withColumn("__t",
        when(col("event_type") =!= convType, col("event_type")))
      .withColumn("__m", count(col("__t")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__cc",
        when(col("event_type") === convType && col("__m") > 0,
          lit(1.0) / col("__m")).otherwise(lit(0.0)))
    val touchCredit = marked
      .withColumn("__credit", coalesce(sum(col("__cc")).over(
        byUser.rowsBetween(1, Window.unboundedFollowing)), lit(0.0)))
      .filter(col("__t").isNotNull)
      .groupBy(col("__t").as("touch"))
      .agg(sum("__credit").as("__sum"))
    val orphan = marked
      .filter(col("event_type") === convType && col("__m") === 0)
      .groupBy(lit("__none__").as("touch"))
      .agg(count(lit(1)).cast("double").as("__sum"))
    val tot = marked.filter(col("event_type") === convType)
      .agg(count(lit(1)).as("__n"))
    touchCredit.unionByName(orphan)
      .crossJoin(broadcast(tot))
      .select(col("touch"), round(col("__sum"), 6).as("credit"),
        round(col("__sum") / col("__n").cast("double"), 6).as("share"))
      .orderBy("touch")
  }

  /** U-SHAPED (position-based) multi-touch attribution — the 40/20/40
    * rule beside [[lastTouchAttribution]] and [[linearAttribution]]:
    * per conversion with m preceding touches, the FIRST touch earns
    * 0.4, the LAST 0.4, and the middles split 0.2 evenly (m = 1 →
    * 1.0; m = 2 → 0.5/0.5). A conversion with no preceding touch
    * credits `__none__` whole.
    *
    * SHAPE — still NO touch×conversion pair join: positional credit
    * decomposes into three linear components over the per-user touch
    * index i (the running touch count):
    *   • first: every conversion's first-touch weight lands on i = 1
    *     (one per-user sum, equi-joined);
    *   • last: weight lands exactly on i = m (an equi-join on
    *     (user, m));
    *   • middles: each conversion spreads the CONSTANT 0.2/(m−2) over
    *     the contiguous index range [2, m−1] — a DIFFERENCE ARRAY:
    *     +v at 2 and −v at m per conversion, then one per-user prefix
    *     sum over i recovers every touch's middle credit.
    * Two per-user windows + equi-joins + a |types|-bounded aggregate.
    *
    * DETERMINISM: all weights fix to DECIMAL(18,6) (the middle value
    * rounds to 6 first), so every sum — including the prefix window —
    * is order-exact; conservation holds to round-6 residue per middle
    * span (the spec pins it).
    */
  def uShapeAttribution(events: DataFrame, convType: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val marked = events.select("user_id", "event_id", "event_type", "ts_us")
      .withColumn("__t",
        when(col("event_type") =!= convType, col("event_type")))
      .withColumn("__m", count(col("__t")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val touches = marked.filter(col("__t").isNotNull)
      .select(col("user_id"), col("__m").as("i"), col("__t"))
    val convs = marked
      .filter(col("event_type") === convType && col("__m") > 0)
      .select(col("user_id"), col("__m").as("m"))
    val dec = "decimal(18,6)"
    val firstC = convs
      .withColumn("w", expr(s"cast(case when m = 1 then 1.0 " +
        s"when m = 2 then 0.5 else 0.4 end as $dec)"))
      .groupBy("user_id").agg(sum("w").as("fc"))
      .withColumn("i", lit(1L))
    val lastC = convs.filter(col("m") >= 2)
      .withColumn("w", expr(s"cast(case when m = 2 then 0.5 " +
        s"else 0.4 end as $dec)"))
      .groupBy(col("user_id"), col("m").as("i")).agg(sum("w").as("lc"))
    val midV = expr(s"cast(round(0.2 / cast(m - 2 as double), 6) as $dec)")
    val midDeltas = convs.filter(col("m") >= 3)
      .select(col("user_id"), lit(2L).as("i"), midV.as("d"))
      .unionByName(convs.filter(col("m") >= 3)
        .select(col("user_id"), col("m").as("i"),
          (midV * -1).as("d")))
      .groupBy("user_id", "i").agg(sum("d").as("dd"))
    val byIdx = Window.partitionBy("user_id").orderBy("i")
    val perTouch = touches
      .join(firstC, Seq("user_id", "i"), "left")
      .join(lastC, Seq("user_id", "i"), "left")
      .join(midDeltas, Seq("user_id", "i"), "left")
      .withColumn("mid", sum(coalesce(col("dd"),
        expr(s"cast(0.0 as $dec)"))).over(byIdx))
      .withColumn("credit",
        coalesce(col("fc"), expr(s"cast(0.0 as $dec)")) +
        coalesce(col("lc"), expr(s"cast(0.0 as $dec)")) + col("mid"))
    val touchCredit = perTouch.groupBy(col("__t").as("touch"))
      .agg(sum("credit").as("__sum"))
      .select(col("touch"), col("__sum").cast("double").as("__sum"))
    val orphan = marked
      .filter(col("event_type") === convType && col("__m") === 0)
      .groupBy(lit("__none__").as("touch"))
      .agg(count(lit(1)).cast("double").as("__sum"))
    val tot = marked.filter(col("event_type") === convType)
      .agg(count(lit(1)).as("__n"))
    touchCredit.unionByName(orphan)
      .crossJoin(broadcast(tot))
      .select(col("touch"), round(col("__sum"), 6).as("credit"),
        round(col("__sum") / col("__n").cast("double"), 6).as("share"))
      .orderBy("touch")
  }

  /** Markov-chain (data-driven) multi-touch attribution — the removal-
    * effect model (Anderl et al. 2014) completing the heuristic family
    * ([[lastTouchAttribution]]/[[linearAttribution]]/
    * [[uShapeAttribution]]): build the first-order chain over per-user
    * journeys (START → touches → CONV/NULL, truncated at the FIRST
    * conversion), then for each channel c measure how much conversion
    * mass disappears when c is removed (every transition INTO c
    * reroutes to the absorbing NULL; row denominators unchanged — the
    * standard removal construction):
    *
    *   effect(c) = 1 − P_removed(CONV) / P_full(CONV)
    *   share(c)  = effect(c) / Σ effects
    *
    * P(CONV) is the TRUNCATED-`iters`-step absorption mass — the
    * fixed-horizon value IS the spec (deterministic, oracle-
    * replayable), monotone-converging to the absorbing limit.
    *
    * SCALE SHAPE: journeys/transitions are one window pass + hash
    * aggregates over the event stream (the heavy part); the chain
    * itself is an aggregate-sized (|states|² ≤ dozens) edge table.
    * Removal chains are DATA, not a driver loop: a `scenario` column
    * ('__full__' + one per channel) crosses the edge table and all
    * chains advance in ONE keyed recurrence per iteration. The
    * iterate is [[Graph.personalizedPageRank]]'s exact-BIGINT
    * micro-unit recurrence: p in units of 1e−12, per-edge
    * (p·w) div ow truncation — identical integers in both engines,
    * doubles only in the final readout. (Exactness bound: p·w needs
    * w ≤ ~9·10⁶ per edge in BIGINT; drop Unit to 1e9 beyond.)
    * Effects fix to DECIMAL(18,6) before the share-normalizing fold.
    */
  def markovAttribution(events: DataFrame, convType: String,
      iters: Int = 12): DataFrame = {
    val Unit_ = 1000000000000L
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val marked = events.select("user_id", "event_id", "event_type", "ts_us")
      .withColumn("cc",
        sum(when(col("event_type") === convType, 1L).otherwise(0L))
          .over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
    val journey = marked
      .filter(col("cc") === 0 && col("event_type") =!= convType)
      .withColumn("i", row_number().over(byUser))
    val users = marked.groupBy("user_id")
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("cv"))
      .join(journey.groupBy("user_id").agg(max(col("i")).as("m")),
        Seq("user_id"), "left")
      .na.fill(0L, Seq("m"))
    val steps = journey.select(col("user_id"), col("i"),
      col("event_type").as("src"))
    val mids = steps
      .join(steps.select(col("user_id"), (col("i") - 1).as("i"),
        col("src").as("dst")), Seq("user_id", "i"))
      .select("src", "dst")
    val starts = users
      .join(journey.filter(col("i") === 1)
        .select(col("user_id"), col("event_type").as("first_t")),
        Seq("user_id"), "left")
      .select(lit("__start__").as("src"),
        coalesce(col("first_t"), when(col("cv") === 1, "__conv__")
          .otherwise("__null__")).as("dst"))
    val lasts = users.filter(col("m") > 0)
      .join(steps, Seq("user_id")).filter(col("i") === col("m"))
      .select(col("src"),
        when(col("cv") === 1, "__conv__").otherwise("__null__").as("dst"))
    val trans = mids.unionByName(starts).unionByName(lasts)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val ew = trans
      .join(trans.groupBy("src").agg(sum(col("w")).as("ow")), "src")
    val scenarios = journey.select(col("event_type").as("scenario"))
      .distinct()
      .unionByName(journey.sparkSession.range(1)
        .select(lit("__full__").as("scenario")))
    val absorbing = journey.sparkSession.range(1).select(
      explode(array(lit("__conv__"), lit("__null__"))).as("src"))
      .select(col("src"), col("src").as("dst"), lit(1L).as("w"),
        lit(1L).as("ow"))
    // eager checkpoint: the recurrence references this frame `iters`
    // times — without the cut the whole event scan re-executes per
    // round (the documented plan-path fan-in hazard)
    val se = scenarios.crossJoin(ew)
      .filter(col("src") =!= col("scenario"))
      .select(col("scenario"), col("src"),
        when(col("dst") === col("scenario"), lit("__null__"))
          .otherwise(col("dst")).as("dst"), col("w"), col("ow"))
      .groupBy("scenario", "src", "dst")
      .agg(sum(col("w")).as("w"), max(col("ow")).as("ow"))
      .unionByName(scenarios.crossJoin(absorbing))
      .pin(true)
    var p = se.select(col("scenario")).distinct()
      .select(col("scenario"), lit("__start__").as("node"),
        lit(Unit_).as("p"))
    for (_ <- 1 to iters)
      // p derives from se after round 1 — renamed join keys keep the
      // self-join unambiguous. r15: p is aggregate-sized
      // (|scenarios|·|states| rows), so it rides BROADCAST into each
      // round's join — the checkpointed se side then never re-shuffles
      // and each iteration costs one broadcast + the groupBy exchange
      // instead of two sort-merge exchanges (guide §3.1).
      p = se.join(broadcast(p.select(col("scenario").as("__ps"),
          col("node").as("__pn"), col("p"))),
          col("scenario") === col("__ps") && col("src") === col("__pn"))
        .select(col("scenario"), col("dst").as("node"),
          expr("(p * w) div ow").as("c"))
        .groupBy("scenario", "node").agg(sum(col("c")).as("p"))
        // r15: pin each round (lazy — aggregate-sized frame). Without
        // the cut all 12 rounds fuse into ONE mega-plan (222 Exchange
        // nodes in plans/r15/e_attribution_markov_before.txt) that AQE
        // must plan and schedule as a single query.
        .pin(false)
    val convMass = p.filter(col("node") === "__conv__")
      .select(col("scenario"), col("p"))
    val pFull = convMass.filter(col("scenario") === "__full__")
      .select(coalesce(max(col("p")), lit(0L)).as("p_full"))
    val effects = se.select(col("scenario")).distinct()
      .filter(col("scenario") =!= "__full__")
      .join(convMass, Seq("scenario"), "left")
      .na.fill(0L, Seq("p"))
      .crossJoin(broadcast(pFull))
      .select(col("scenario").as("channel"), col("p_full"),
        col("p").as("p_rm"),
        expr("cast(round(case when p_full > 0 then " +
          "1.0D - cast(p as double) / cast(p_full as double) end, 6) " +
          "as decimal(18,6))").as("eff"))
    val tot = effects.agg(sum(col("eff")).as("te"))
    effects.crossJoin(broadcast(tot))
      .select(col("channel"),
        round(expr(s"cast(p_full as double) / ${Unit_}D"), 6)
          .as("p_conv_full"),
        round(expr(s"cast(p_rm as double) / ${Unit_}D"), 6)
          .as("p_conv_removed"),
        col("eff").cast("double").as("removal_effect"),
        round(expr("case when te > 0 then " +
          "cast(eff as double) / cast(te as double) end"), 6)
          .as("share"))
      .orderBy("channel")
  }

  /** CUSUM changepoint detection over the gap-filled daily count
    * series (Page 1954) — the sequential level-shift detector that
    * complements [[rollingAnomalies]]' single-day spike flags: a
    * sustained small drift accumulates in the CUSUM statistic long
    * before any one day's z-score trips.
    *
    * Per key, the first `baseline` calendar days fix the reference
    * level μ₀ = s_base/B (their exact count sum over B). Every later
    * day accumulates the classic one-sided statistics
    *
    *   S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (nᵢ − μ₀ − k))   (upward shift)
    *   S⁻ᵢ = max(0, S⁻ᵢ₋₁ + (μ₀ − nᵢ − k))   (downward shift)
    *
    * with slack k = s_base div `slackDiv` / B (a tenth of the baseline
    * mean by default — the self-tuning "half the shift you care
    * about" convention) and alarm when S > h = `thresholdDays`·μ₀
    * (a full thresholdDays-days'-mean of accumulated excess). This is
    * the NON-RESET monitoring form — the statistic keeps accumulating
    * past an alarm; reset-on-alarm is a downstream policy choice.
    *
    * DETERMINISM: the max(0,·) recursion looks inherently sequential,
    * but the non-reset form has the exact closed form
    * S_i = P_i − min(0, min_{j≤i} P_j) over prefix sums P of the
    * deviations — scale every deviation by B (d = B·n − s_base −
    * s_base div slackDiv: pure BIGINT) and BOTH statistics become two
    * integer window functions (running sum + running min); doubles
    * appear only in the final /B readout. The oracle replays the same
    * integers, so the match is exact.
    *
    * SCALE SHAPE: one (key, day) hash aggregate over the event log
    * (the heavy part), then per-key windows over the (keys × days)
    * aggregate — the [[gapFillDaily]] contract; the baseline frame is
    * |keys| rows joined back on the key. No global sort, no
    * single-partition exchange.
    */
  def cusumChangepoint(events: DataFrame, keyCol: String): DataFrame =
    cusumFromDaily(daily(events, keyCol), keyCol)

  /** The CUSUM chain from a (k, day, n) [[daily]] frame — shared by
    * [[cusumChangepoint]] and its streaming twin (the `st_cusum_daily`
    * gate over `streaming/Events.daily`, whose counts come out of the
    * state store), so stream-vs-batch parity is structural.
    */
  private[graft] def cusumFromDaily(daily: DataFrame, keyCol: String,
      baseline: Int = 7, slackDiv: Int = 10, thresholdDays: Int = 2)
      : DataFrame = {
    val byDay = Window.partitionBy("k").orderBy("day")
    val idx = fillDaily(daily).withColumn("i", row_number().over(byDay))
    val base = idx.filter(col("i") <= baseline).groupBy("k")
      .agg(sum(col("n")).as("s_base"), count(lit(1)).as("n_base"))
    // scaled deviations, units of 1/B events: slack = s_base div
    // slackDiv; alarm threshold = thresholdDays·s_base (h = that many
    // baseline-day means of accumulated excess)
    val mon = idx.join(base, Seq("k"))
      .filter(col("n_base") === baseline && col("i") > baseline)
      .withColumn("slack", expr(s"s_base div $slackDiv"))
      .withColumn("d_up",
        lit(baseline.toLong) * col("n") - col("s_base") - col("slack"))
      .withColumn("d_dn",
        col("s_base") - lit(baseline.toLong) * col("n") - col("slack"))
    val pre = Window.partitionBy("k").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = baseline.toDouble
    mon
      .withColumn("p_up", sum(col("d_up")).over(pre))
      .withColumn("p_dn", sum(col("d_dn")).over(pre))
      .withColumn("s_up",
        col("p_up") - least(lit(0L), min(col("p_up")).over(pre)))
      .withColumn("s_dn",
        col("p_dn") - least(lit(0L), min(col("p_dn")).over(pre)))
      .select(col("k").as(keyCol), col("day"), col("n").as("n_events"),
        round(col("s_up").cast("double") / b, 6).as("cusum_up"),
        round(col("s_dn").cast("double") / b, 6).as("cusum_dn"),
        (col("s_up") > lit(thresholdDays.toLong) * col("s_base"))
          .as("alarm_up"),
        (col("s_dn") > lit(thresholdDays.toLong) * col("s_base"))
          .as("alarm_dn"))
      .orderBy(keyCol, "day")
  }

  /** The observed (k, day, n) daily count frame every series op here
    * starts from: one (key, day) hash aggregate over the log, DAYS×KEYS
    * rows — bounded by calendar, not data. Each op reads it through a
    * `*FromDaily` chain; the streaming twins build the same frame in
    * the state store (`streaming/Events.daily`) and read it through the
    * same chain.
    */
  def daily(events: DataFrame, keyCol: String): DataFrame =
    events
      .select(col(keyCol).as("k"), expr(s"ts_us div $DayUs").as("day"))
      .groupBy("k", "day").agg(count(lit(1)).as("n"))

  /** Calendar-spine zero-fill of an observed (k, day, n) frame: absent
    * days read as honest zeros.
    */
  private def fillDaily(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy("k")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("k"), explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(daily, Seq("k", "day"), "left").na.fill(0L, Seq("n"))
  }

  /** AUTOCORRELATION function of the zero-filled daily count series
    * per key, lags 1..`maxLag`, with the cumulative LJUNG–BOX Q
    * portmanteau statistic — the standard whiteness check behind every
    * forecasting gate here ([[ewmaForecast]]/[[holtForecast]]/
    * [[seasonalNaiveForecast]] all assume residual structure is worth
    * modeling; ACF is how you see it).
    *
    * r_ℓ = Σᵢ dᵢ·dᵢ₊ℓ / Σᵢ dᵢ² over deviations from the series mean;
    * Q_m = N(N+2)·Σ_{ℓ≤m} r_ℓ²/(N−ℓ).
    *
    * DETERMINISM: deviations live in integer MICRO-UNITS — mu6 =
    * (10⁶·Σn) div N is a floor-truncated integer micro-mean and
    * dᵢ = 10⁶·nᵢ − mu6 is pure BIGINT, so numerator and denominator
    * are exact DECIMAL(38,0) sums of integer products on any
    * partitioning (the 10⁶ scaling cancels in the ratio); r_ℓ is one
    * double division round(,6); the Q terms round(,12) into DECIMAL
    * before the per-key cumulative window. A constant series has
    * den = 0 and reads null r/Q, not a blowup.
    *
    * SCALE SHAPE: one (key, day) hash aggregate over the log; the day
    * spine, lag spine (≤ maxLag copies) and the self-join on
    * day+lag all run on the DAYS×KEYS-row aggregate — bounded by
    * calendar, not data. Per-key windows only. Returns
    * (key, lag, n_days, acf, q) ordered by (key, lag).
    */
  def acfLjungBox(events: DataFrame, keyCol: String): DataFrame =
    acfFromDaily(daily(events, keyCol), keyCol)

  /** The ACF/Ljung–Box chain from a (k, day, n) [[daily]] frame —
    * shared by [[acfLjungBox]], [[pacfYuleWalker]] and the streaming
    * twin `st_acf_daily`, the [[cusumFromDaily]] pattern.
    */
  private[graft] def acfFromDaily(daily: DataFrame, keyCol: String,
      maxLag: Int = 10): DataFrame = {
    require(maxLag > 0, "maxLag must be positive")
    val filled = fillDaily(daily)
    val stats = filled.groupBy("k")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"))
      .withColumn("mu6", expr("(1000000 * s) div nd"))
    val dev = filled.join(stats, Seq("k"))
      .select(col("k"), col("day"), col("nd"),
        (lit(1000000L) * col("n") - col("mu6")).as("d"))
    val den = dev.groupBy("k")
      .agg(sum(expr("cast(d as decimal(19,0)) * d")).as("den"))
    val rhs = dev.select(col("k").as("k2"), col("day").as("day2"),
      col("d").as("d2"))
    val num = dev
      .select(col("k"), col("day"), col("nd"), col("d"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .filter(col("lag") < col("nd"))
      .join(rhs, col("k2") === col("k") &&
        col("day2") === col("day") + col("lag"))
      .groupBy("k", "lag", "nd")
      .agg(sum(expr("cast(d as decimal(19,0)) * d2")).as("num"))
    val acf = num.join(den, Seq("k"))
      .withColumn("acf", when(col("den") > 0,
        round(expr("cast(num as double) / cast(den as double)"), 6)))
    val cum = Window.partitionBy("k").orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acf
      .withColumn("term", expr("cast(round(acf * acf / " +
        "cast(nd - lag as double), 12) as decimal(28,12))"))
      .withColumn("qsum", sum(col("term")).over(cum))
      .select(col("k").as(keyCol), col("lag").cast("long").as("lag"),
        col("nd").as("n_days"), col("acf"),
        round(expr("cast(nd as double) * (nd + 2) * " +
          "cast(qsum as double)"), 6).as("q"))
      .orderBy(keyCol, "lag")
  }

  /** THEIL–SEN robust trend estimate of each zero-filled daily count
    * series: slope = the median of all pairwise slopes
    * (n_j − n_i)/(day_j − day_i), intercept = the median residual
    * n_i − slope·day_i — the estimator that shrugs off the outlier
    * days [[rollingAnomalies]] flags (up to ~29% contamination),
    * where OLS ([[Stats.olsRegression]]) gets dragged.
    *
    * DETERMINISM: pairwise slopes round(,9) into DECIMAL(18,9) so the
    * median-selection ORDER compares exact decimals, tie-broken by
    * (day_i, day_j); medians are the exact LOWER median at rank
    * ⌈n/2⌉ (the [[graft.ops.Stats.brownForsythe]] idiom); residuals
    * are exact DECIMAL products of the selected slope. Display
    * rounds(,6) last.
    *
    * SCALE SHAPE: the pair frame is the triangular self-join of the
    * DAYS-row daily aggregate per key — (days choose 2)·keys rows,
    * bounded by CALENDAR (a year is ~66k pairs/key), never by event
    * count; all windows are keyed. Returns one row per key:
    * (key, n_days, n_pairs, slope, intercept).
    */
  def theilSen(events: DataFrame, keyCol: String): DataFrame = {
    val filled = fillDaily(daily(events, keyCol))
    val rhs = filled.select(col("k").as("k2"), col("day").as("db"),
      col("n").as("nb"))
    val pairs = filled
      .select(col("k"), col("day").as("da"), col("n").as("na"))
      .join(rhs, col("k2") === col("k") && col("db") > col("da"))
      .select(col("k"), col("da"), col("db"),
        expr("cast(round(cast(nb - na as double) / " +
          "cast(db - da as double), 9) as decimal(18,9))").as("sl"))
    val wS = Window.partitionBy("k").orderBy("sl", "da", "db")
    val wK = Window.partitionBy("k")
    val med = pairs
      .withColumn("rn", row_number().over(wS))
      .withColumn("np", count(lit(1)).over(wK))
      .groupBy("k")
      .agg(max(col("np")).as("n_pairs"),
        max(when(col("rn") === expr("(np + 1) div 2"), col("sl")))
          .as("slope"))
    val wR = Window.partitionBy("k").orderBy("res", "day")
    filled.join(med, Seq("k"))
      .select(col("k"), col("day"), col("n_pairs"), col("slope"),
        (col("n").cast("decimal(18,9)") - col("slope") * col("day"))
          .as("res"))
      .withColumn("rn", row_number().over(wR))
      .withColumn("ndays", count(lit(1)).over(wK))
      .groupBy("k", "n_pairs", "slope")
      .agg(max(col("ndays")).as("n_days"),
        max(when(col("rn") === expr("(ndays + 1) div 2"), col("res")))
          .as("itc"))
      .select(col("k").as(keyCol), col("n_days"), col("n_pairs"),
        round(col("slope").cast("double"), 6).as("slope"),
        round(col("itc").cast("double"), 6).as("intercept"))
      .orderBy(keyCol)
  }

  /** DURBIN–WATSON serial-correlation test of each zero-filled daily
    * count series: OLS of count on the day ordinal (the parametric
    * trend [[theilSen]] robustifies), then
    * DW = Σ(eₜ−eₜ₋₁)² / Σeₜ² over the residuals — ≈2 when residuals
    * are white, →0 under positive autocorrelation (the same question
    * [[acfLjungBox]] asks lag-by-lag, folded into one number).
    *
    * DETERMINISM: x = day − min(day) and y = count are exact BIGINTs,
    * so all five OLS moments are exact and slope/intercept are
    * engine-identical doubles; the residual-square and
    * difference-square per-row terms round(,9) into DECIMAL(28,9)
    * before summing (order-free on any partitioning). The lag window
    * is keyed and CALENDAR-bounded like every series op here. A
    * single-day series (zero OLS denominator) reads null slope/dw.
    * Returns one row per key: (key, n_days, slope, intercept, dw).
    */
  def durbinWatson(events: DataFrame, keyCol: String): DataFrame = {
    val filled = fillDaily(daily(events, keyCol))
    val d0 = filled.groupBy("k").agg(min(col("day")).as("d0"))
    val xy = filled.join(d0, Seq("k"))
      .select(col("k"), col("day"), (col("day") - col("d0")).as("x"),
        col("n").as("y"))
    val ab = xy.groupBy("k").agg(count(lit(1)).as("nd"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
      .withColumn("b", expr("case when nd * sxx - sx * sx > 0 then " +
        "cast(nd * sxy - sx * sy as double) / " +
        "cast(nd * sxx - sx * sx as double) end"))
      .withColumn("a", expr("(cast(sy as double) - " +
        "b * cast(sx as double)) / cast(nd as double)"))
      .select(col("k"), col("nd"), col("b"), col("a"))
    val wD = Window.partitionBy("k").orderBy("day")
    xy.join(ab, Seq("k"))
      .select(col("k"), col("day"), col("nd"), col("b"), col("a"),
        expr("cast(y as double) - a - b * cast(x as double)").as("e"))
      .withColumn("ep", lag(col("e"), 1).over(wD))
      .select(col("k"), col("nd"), col("b"), col("a"),
        expr("cast(round(e * e, 9) as decimal(28,9))").as("dent"),
        expr("case when ep is not null then cast(round(" +
          "(e - ep) * (e - ep), 9) as decimal(28,9)) end").as("numt"))
      .groupBy("k")
      .agg(max(col("nd")).as("n_days"),
        round(max(col("b")), 6).as("slope"),
        round(max(col("a")), 6).as("intercept"),
        sum(col("numt")).as("num"), sum(col("dent")).as("den"))
      .select(col("k").as(keyCol), col("n_days"), col("slope"),
        col("intercept"),
        round(expr("case when den > 0 then cast(num as double) / " +
          "cast(den as double) end"), 6).as("dw"))
      .orderBy(keyCol)
  }

  /** STL-LITE seasonal decomposition of each zero-filled daily count
    * series: n = trend + seasonal + resid, with trend = the CENTERED
    * 7-day moving average (null at the 3-day edges — an honest "not
    * enough context", never a shrunk window), seasonal = the per-
    * (key, day-of-cycle) mean of the detrended values over trend-
    * defined days, resid = the rest. The additive classical
    * decomposition every forecasting bakeoff starts from — one level
    * simpler than LOESS-based STL, one level richer than
    * [[seasonalNaiveForecast]] (which models no trend).
    *
    * DETERMINISM: trend is one exact integer window sum / 7.0
    * round(,6); detrended values fix to DECIMAL(18,6) so the seasonal
    * means are exact-DECIMAL-sum / count divisions round(,6); resid
    * is one mirrored IEEE expression. Day-of-cycle is epoch-day mod 7.
    *
    * SCALE SHAPE: one (key, day) hash aggregate over the log; the
    * spine, the centered window and the |keys|×7 seasonal aggregate
    * all run on the calendar-bounded daily frame. Returns
    * (key, day, n, trend, seasonal, resid) ordered by (key, day).
    */
  def stlDecompose(events: DataFrame, keyCol: String): DataFrame = {
    val filled = fillDaily(daily(events, keyCol))
    val ctr = Window.partitionBy("k").orderBy("day").rowsBetween(-3, 3)
    val t = filled
      .withColumn("n_obs", count(lit(1)).over(ctr))
      .withColumn("trend", when(col("n_obs") === 7,
        round(sum(col("n")).over(ctr).cast("double") / 7.0, 6)))
      .withColumn("det", expr("cast(round(cast(n as double) - trend, 6) " +
        "as decimal(18,6))"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    // the mean of 6-decimal values over a small count can land ON a
    // round-6 tie (e.g. Σ=16.285714, n=4 → 4.07142850): fix to a
    // round-9 DECIMAL first so both engines round the same exact
    // value, not a binary double sitting a hair below the tie
    val seas = t.filter(col("det").isNotNull)
      .groupBy("k", "dow")
      .agg(round(expr("cast(round(cast(sum(det) as double) / " +
        "cast(count(1) as double), 9) as decimal(18,9))"), 6)
        .cast("double").as("seasonal"))
    t.join(seas, Seq("k", "dow"), "left")
      .select(col("k").as(keyCol), col("day"), col("n"), col("trend"),
        col("seasonal"),
        round(expr("cast(n as double) - trend - seasonal"), 6)
          .as("resid"))
      .orderBy(keyCol, "day")
  }

  /** Rolling z-score anomaly flags over the gap-filled daily count
    * series: each day scores against the trailing `window`-day mean
    * and sample stddev (current day EXCLUDED — an anomalous day must
    * not dilute its own baseline), flagged when |z| > `threshold`.
    * Days with fewer than `window` trailing observations or zero
    * variance get a null z and no flag.
    *
    * One per-key window over the (days × keys)-row daily series —
    * the heavy lifting (events → daily counts) is the same single
    * hash aggregate as [[gapFillDaily]], which this composes.
    *
    * DETERMINISM: mean/stddev derive from the window's EXACT integer
    * sums (Σn, Σn²) through one fixed IEEE expression — not from
    * `avg`/`stddev_samp`, whose double accumulation order differs
    * between engines — so the DuckDB twin is bit-identical before the
    * round(,6).
    */
  def rollingAnomalies(events: DataFrame, keyCol: String,
      window: Int = 7, threshold: Double = 2.0): DataFrame = {
    val daily = gapFillDaily(events, keyCol)
      .select(col(keyCol).as("k"), col("day"), col("n_events").as("n"))
    val trail = Window.partitionBy("k").orderBy("day")
      .rowsBetween(-window, -1)
    val w = window.toDouble
    daily
      .withColumn("n_obs", count(col("n")).over(trail))
      .withColumn("s1", sum(col("n")).over(trail))
      .withColumn("s2", sum(col("n") * col("n")).over(trail))
      .withColumn("mu",
        expr(s"cast(s1 as double) / $w"))
      .withColumn("sigma", expr(
        s"sqrt(greatest(cast(s2 as double) - " +
          s"cast(s1 as double) * cast(s1 as double) / $w, 0.0)" +
          s" / ${w - 1.0})"))
      .withColumn("z",
        when(col("n_obs") === window && col("sigma") > 0, round(
          expr("(cast(n as double) - mu) / sigma"), 6)))
      .select(col("k").as(keyCol), col("day"), col("n").as("n_events"),
        when(col("n_obs") === window, round(col("mu"), 6)).as("mu"),
        when(col("n_obs") === window, round(col("sigma"), 6)).as("sigma"),
        col("z"),
        coalesce(abs(col("z")) > threshold, lit(false)).as("is_anomaly"))
      .orderBy(keyCol, "day")
  }

  /** EWMA-8 one-step-ahead forecast of the daily event count per
    * series: the final calendar day's actual count is compared to an
    * exponentially weighted mean of the 8 days before it, weights
    * 4ʲ for recency offset j (α = 3/4 smoothing ⇒ decay ratio 1/4).
    * Integer weights make the whole numerator EXACT BIGINT — a day
    * with no events contributes 0 to the numerator and its weight to
    * the fixed denominator Σⱼ₌₀⁷ 4ʲ = 21845, so no calendar gap-fill
    * is needed at all. Output per series: (key, day, n_actual,
    * forecast, resid), forecast = round(num/21845, 6), both divisions
    * single IEEE expressions the oracle mirrors.
    *
    * The anchor day is the GLOBAL max day (one 1-row frame, broadcast)
    * so every series forecasts the same calendar day — the shape of a
    * daily run. SCALE SHAPE: the (key, day) [[daily]] aggregate, one
    * scalar max over it and one (key) hash aggregate over its 9-day
    * slice; nothing grows past days × |keys|.
    */
  def ewmaForecast(events: DataFrame, keyCol: String): DataFrame =
    ewmaFromDaily(daily(events, keyCol), keyCol)

  /** The EWMA-8 chain from a (k, day, n) [[daily]] frame — shared by
    * [[ewmaForecast]] and its streaming twin `st_ewma_daily`, the
    * [[cusumFromDaily]] pattern. Each day's weight multiplies its count,
    * so the numerator stays exact BIGINT.
    */
  private[graft] def ewmaFromDaily(daily: DataFrame, keyCol: String)
      : DataFrame = {
    val anchor = daily.agg(max("day").as("d1"))
    daily.crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d1") - 8)
      .groupBy(col("k"), col("d1"))
      .agg(
        sum(when(col("day") === col("d1"), col("n")).otherwise(0L))
          .as("n_actual"),
        // recency offset j = day − (d1 − 8) ∈ 0..7 for history days
        sum(when(col("day") < col("d1"),
          expr("cast(pow(4.0, cast(day - (d1 - 8) as int)) as bigint)")
            * col("n")).otherwise(0L)).as("num"))
      .select(col("k").as(keyCol), col("d1").as("day"), col("n_actual"),
        round(expr("cast(num as double) / 21845.0"), 6).as("forecast"))
      .withColumn("resid", round(expr(
        "cast(n_actual as double) - forecast"), 6))
  }

  /** Holt double-exponential (level + trend) daily forecast — the
    * trend-aware sibling of [[ewmaForecast]] (which a drifting series
    * systematically lags). α = β = 0.5 over the 8 gap-filled history
    * days y₁..y₈ (missing days are EXPLICIT zeros — the recursion
    * needs the full spine, unlike EWMA's skip-missing weights):
    *
    *   l₁ = y₁,  b₁ = y₂ − y₁
    *   lₜ = ½(yₜ + lₜ₋₁ + bₜ₋₁),  bₜ = ½(lₜ − lₜ₋₁) + ½bₜ₋₁
    *   ŷ(d₁) = l₈ + b₈
    *
    * DETERMINISM: with α = β = ½ every intermediate is a dyadic
    * rational (≤14 fractional bits); counts below ~2³⁹ make every
    * double add/halve EXACT IEEE in both engines — no rounding until
    * the emitted round(,6). SCALE SHAPE: one 9-day-filtered scan into
    * a per-key pivot aggregate (8 conditional sums); the unrolled
    * recursion is a per-row column expression chain — |keys| rows.
    */
  def holtForecast(events: DataFrame, keyCol: String): DataFrame =
    holtFromDaily(daily(events, keyCol), keyCol)

  /** The Holt level+trend chain from a (k, day, n) [[daily]] frame —
    * shared by [[holtForecast]] and its streaming twin `st_holt_daily`,
    * the [[cusumFromDaily]] pattern.
    */
  private[graft] def holtFromDaily(daily: DataFrame, keyCol: String)
      : DataFrame = {
    val anchor = daily.agg(max("day").as("d1"))
    val pivotCols = (1 to 8).map(i =>
      sum(when(col("day") === col("d1") - 9 + i, col("n")).otherwise(0L))
        .as(s"y$i"))
    var df = daily.crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d1") - 8)
      .groupBy("k", "d1")
      .agg(sum(when(col("day") === col("d1"), col("n")).otherwise(0L))
        .as("n_actual"), pivotCols: _*)
      .withColumn("l1", col("y1").cast("double"))
      .withColumn("b1", (col("y2") - col("y1")).cast("double"))
    for (t <- 2 to 8) {
      df = df
        .withColumn(s"l$t", (col(s"y$t").cast("double") +
          col(s"l${t - 1}") + col(s"b${t - 1}")) * 0.5)
        .withColumn(s"b$t", (col(s"l$t") - col(s"l${t - 1}")) * 0.5 +
          col(s"b${t - 1}") * 0.5)
    }
    df.select(col("k").as(keyCol), col("d1").as("day"), col("n_actual"),
      round(col("l8"), 6).as("level"), round(col("b8"), 6).as("trend"),
      round(col("l8") + col("b8"), 6).as("forecast"),
      round(col("n_actual").cast("double") - (col("l8") + col("b8")), 6)
        .as("resid"))
  }

  /** Seasonal-naive (day-of-week) daily forecast — the weekly-cycle
    * sibling of [[ewmaForecast]]/[[holtForecast]], which both lag a
    * strong weekday pattern: the forecast for a day is the MEAN of the
    * counts on the SAME WEEKDAY over the `cycles` prior weeks (the
    * "seasonal naive with averaging" baseline every forecasting bakeoff
    * starts from; a week with no events contributes an honest zero —
    * no gap-fill needed, absent days ARE zero counts).
    *
    * Emits per series BOTH the backtest at the global anchor day d₁
    * (forecast from d₁−7·j vs the actual) and the d₁+1 forecast (from
    * d₁+1−7·j) a daily run would publish. DETERMINISM: counts are
    * BIGINT conditional sums over one 4-week-filtered scan; each
    * forecast is ONE division by `cycles`, round(,6).
    *
    * SCALE SHAPE: the [[ewmaForecast]] contract — one scalar max +
    * one per-key hash aggregate over a ≤29-day slice; |keys| rows out.
    */
  def seasonalNaiveForecast(events: DataFrame, keyCol: String)
      : DataFrame =
    seasonalFromDaily(daily(events, keyCol), keyCol)

  /** The seasonal-naive chain from a (k, day, n) [[daily]] frame —
    * shared by [[seasonalNaiveForecast]] and its streaming twin
    * `st_seasonal_daily`, the [[cusumFromDaily]] pattern.
    */
  private[graft] def seasonalFromDaily(daily: DataFrame, keyCol: String,
      cycles: Int = 4): DataFrame = {
    val anchor = daily.agg(max("day").as("d1"))
    val histDays = (1 to cycles)
    val c = cycles.toDouble
    daily.crossJoin(broadcast(anchor))
      .filter(col("day") >= col("d1") - (7 * cycles) &&
        col("day") <= col("d1"))
      .groupBy("k", "d1")
      .agg(
        sum(when(col("day") === col("d1"), col("n")).otherwise(0L))
          .as("n_actual"),
        sum(when(histDays.map(j => col("day") === col("d1") - 7 * j)
          .reduce(_ || _), col("n")).otherwise(0L)).as("hist_sum"),
        sum(when(histDays.map(j => col("day") === col("d1") + 1 - 7 * j)
          .reduce(_ || _), col("n")).otherwise(0L)).as("next_sum"))
      .select(col("k").as(keyCol), col("d1").as("day"), col("n_actual"),
        round(expr(s"cast(hist_sum as double) / ${c}D"), 6)
          .as("forecast"),
        round(expr(s"cast(n_actual as double) - " +
          s"cast(hist_sum as double) / ${c}D"), 6).as("resid"),
        (col("d1") + 1).as("next_day"),
        round(expr(s"cast(next_sum as double) / ${c}D"), 6)
          .as("next_forecast"))
  }

  /** Benjamini–Hochberg FDR-controlled A/B readout across MANY metrics
    * at once — the multiple-comparisons guard a real experimentation
    * platform applies before anyone cherry-picks "the significant
    * metric": one two-proportion z-test per metric (per-user conversion
    * = did ≥ `minPerUser` events of that type, arms = the [[abTest]]
    * md5 split), two-sided p from |z| via the Zelen–Severo normal-CDF
    * polynomial (identical IEEE arithmetic in both engines — the
    * approximation IS the spec), then the BH step-up at FDR level
    * `qNum/qDen`: rank the m p-values ascending, find the largest rank
    * i with p₍ᵢ₎ ≤ i·q/m (an exact-rational threshold), reject every
    * rank at or below it. Degenerate metrics (pooled rate 0 or 1 ⇒
    * null z) are excluded from m and never rejected.
    *
    * SCALE SHAPE: one (user, metric) aggregate + one per-metric fold;
    * the BH sweep runs over m rows (a handful) via a 1-row max-rank
    * frame. Output: (event_type, n_a, conv_a, n_b, conv_b, z, p, rnk,
    * rejected), p rounded to 6 so both engines cut the BH grid
    * identically.
    */
  def fdrBh(events: DataFrame, minPerUser: Long = 14L,
      qNum: Int = 5, qDen: Int = 100): DataFrame = {
    Hashing.ensureRegistered(events)
    val perUser = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("conv", when(col("n") >= minPerUser, 1L).otherwise(0L))
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
    // NOTE: a user with zero events of a type is absent from that
    // metric's rows — the per-metric population is users-with-any;
    // documented denominator choice shared with the oracle.
    val byMetric = perUser.groupBy("event_type")
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L))
          .as("conv_b"))
      .withColumn("z", expr(zExprSql))
      .withColumn("p", expr(pExprSql))
    val ranked = byMetric.withColumn("rnk",
      when(col("p").isNotNull, row_number().over(
        Window.partitionBy(col("p").isNull)
          .orderBy(col("p"), col("event_type"))).cast("long")))
    val m = ranked.agg(sum(when(col("p").isNotNull, 1L).otherwise(0L))
      .as("m"))
    val withThr = ranked.crossJoin(broadcast(m))
    val kmax = withThr.agg(coalesce(max(when(
        col("p") * lit(qDen) * col("m") <= col("rnk") * lit(qNum),
        col("rnk"))), lit(0L)).as("kmax"))
    withThr.crossJoin(broadcast(kmax))
      .select(col("event_type"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"), col("z"), col("p"), col("rnk"),
        coalesce(col("rnk") <= col("kmax"), lit(false)).as("rejected"))
  }

  /** PAGE–HINKLEY drift detection (Page 1954; the running-mean form
    * stream-ML libraries ship) over each key's zero-filled daily count
    * series — the third sequential monitor next to [[cusumChangepoint]]
    * (fixed baseline) and [[rollingAnomalies]] (single-day spikes): PH
    * tracks the cumulated deviation from the RUNNING mean, so it fires
    * on slow drifts that started before any fixed baseline window.
    *
    *   m_t = Σ_{s≤t} (n_s − x̄_s − δ),  x̄_s = prefix mean,
    *   deficit_t = m_t − min_{s≤t} m_s,  alarm at deficit > λ
    *
    * Both knobs self-tune to the key's own level (the [[cusumChangepoint]]
    * convention): δ = deltaFrac·μ and λ = lambdaMeans·μ over the key's
    * full-series mean μ.
    *
    * DETERMINISM: prefix sums are BIGINT windows; each term rounds(,9)
    * into DECIMAL(28,9) so the running sum and running min are exact
    * decimal comparisons on both engines; μ/δ/λ round(,9) once. The
    * display rounds(,6) last. SCALE SHAPE: one (key, day) hash
    * aggregate over the log, then keyed windows over the calendar-
    * bounded daily frame — no global sort. Returns one row per key:
    * (key, n_days, mu, max_deficit, alarm_day — null when λ never
    * trips).
    */
  def pageHinkley(events: DataFrame, keyCol: String): DataFrame =
    pageHinkleyFromDaily(daily(events, keyCol), keyCol)

  /** The Page–Hinkley chain from a (k, day, n) [[daily]] frame — shared
    * by [[pageHinkley]] and its streaming twin `st_page_hinkley`, the
    * [[cusumFromDaily]] pattern.
    */
  private[graft] def pageHinkleyFromDaily(daily: DataFrame,
      keyCol: String, deltaFrac: String = "0.05",
      lambdaMeans: String = "2.0"): DataFrame = {
    val filled = fillDaily(daily)
    val mu = filled.groupBy("k")
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"))
      .withColumn("mu9", expr(
        "cast(round(cast(s as double) / cast(nd as double), 9) " +
          "as decimal(28,9))"))
      .withColumn("del9", expr(
        s"cast(round(cast(mu9 as double) * " +
          s"cast('$deltaFrac' as double), 9) as decimal(28,9))"))
      .withColumn("lam9", expr(
        s"cast(round(cast(mu9 as double) * " +
          s"cast('$lambdaMeans' as double), 9) as decimal(28,9))"))
    val byDay = Window.partitionBy("k").orderBy("day")
    val run = Window.partitionBy("k").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.join(mu, Seq("k"))
      .withColumn("ps", sum(col("n")).over(byDay))
      .withColumn("i", row_number().over(byDay))
      .withColumn("term", expr(
        "cast(round(cast(n as double) - cast(ps as double) / " +
          "cast(i as double) - cast(del9 as double), 9) " +
          "as decimal(28,9))"))
      .withColumn("m", sum(col("term")).over(run))
      .withColumn("m_min", min(col("m")).over(run))
      .withColumn("deficit", col("m") - col("m_min"))
      .groupBy("k")
      .agg(max(col("nd")).as("n_days"),
        round(max(col("mu9")).cast("double"), 6).as("mu"),
        round(max(col("deficit")).cast("double"), 6).as("max_deficit"),
        min(when(col("deficit") > col("lam9"), col("day")))
          .as("alarm_day"))
      .select(col("k").as(keyCol), col("n_days"), col("mu"),
        col("max_deficit"), col("alarm_day"))
      .orderBy(keyCol)
  }

  /** MANN–KENDALL TREND TEST (Mann 1945, Kendall 1975) per zero-filled
    * daily count series — the significance companion of [[theilSen]]
    * (Theil–Sen answers "how steep?", MK answers "is there a trend at
    * all?" without assuming a distribution):
    *
    *   S = Σ_{i<j} sign(n_j − n_i),
    *   Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18,
    *   z = (S ∓ 1)/√Var   (continuity-corrected, 0 at S = 0)
    *
    * with the tie term over runs of equal daily counts.
    *
    * DETERMINISM: S and the tie sum are exact BIGINT folds (signs of
    * integer differences; tie runs off a per-key value-count
    * aggregate); z is ONE IEEE expression. SCALE SHAPE: the pair
    * frame is the triangular self-join of the CALENDAR-bounded daily
    * table per key (the [[theilSen]] contract — days choose 2, never
    * event-count-sized); the tie table is per-(key, count) — also
    * bounded. Returns one row per key (key, n_days, s, var_s, z)
    * ordered by key.
    */
  def mannKendall(events: DataFrame, keyCol: String): DataFrame =
    mannKendallFromDaily(daily(events, keyCol), keyCol)

  /** The Mann–Kendall chain from a (k, day, n) [[daily]] frame — shared
    * by [[mannKendall]] and its streaming twin `st_mann_kendall`, the
    * [[cusumFromDaily]] pattern.
    */
  private[graft] def mannKendallFromDaily(daily: DataFrame,
      keyCol: String): DataFrame = {
    val filled = fillDaily(daily)
    val rhs = filled.select(col("k").as("k2"), col("day").as("db"),
      col("n").as("nb"))
    val sFold = filled
      .select(col("k"), col("day").as("da"), col("n").as("na"))
      .join(rhs, col("k2") === col("k") && col("db") > col("da"))
      .groupBy("k")
      .agg(sum(signum(col("nb") - col("na")).cast("long")).as("s"))
    val ties = filled.groupBy("k", "n").agg(count(lit(1)).as("t"))
      .groupBy("k")
      .agg(sum(col("t")).as("nd"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie"))
    sFold.join(ties, Seq("k"))
      .select(col("k").as(keyCol), col("nd").as("n_days"), col("s"),
        round(expr("(cast(nd as double) * (nd - 1) * (2 * nd + 5) - " +
          "cast(tie as double)) / 18.0D"), 6).as("var_s"),
        round(expr("case when " +
          "(cast(nd as double) * (nd - 1) * (2 * nd + 5) - " +
          "cast(tie as double)) / 18.0D > 0.0 then " +
          "case when s > 0 then (cast(s as double) - 1.0D) else " +
          "case when s < 0 then (cast(s as double) + 1.0D) " +
          "else 0.0D end end / " +
          "sqrt((cast(nd as double) * (nd - 1) * (2 * nd + 5) - " +
          "cast(tie as double)) / 18.0D) end"), 6).as("z"))
      .orderBy(keyCol)
  }

  /** PACF (lags 1–3, Durbin–Levinson closed forms) + the Yule–Walker
    * AR(2) fit from each key's daily-count autocorrelations — the
    * model-identification readout next to [[acfLjungBox]]'s raw ACF:
    * PACF cutting off after lag p is THE textbook AR(p) signature, and
    * (φ₁, φ₂) are the level-2 coefficients themselves:
    *
    *   φ₁₁ = ρ₁,   φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²),  φ₂₁ = ρ₁(1 − φ₂₂),
    *   φ₃₃ = (ρ₃ − φ₂₁ρ₂ − φ₂₂ρ₁)/(1 − φ₂₁ρ₁ − φ₂₂ρ₂)
    *
    * and AR(2): x̂_t = φ₂₁·x_{t−1} + φ₂₂·x_{t−2} (in deviations).
    *
    * DETERMINISM: ρ₁..ρ₃ come from the shared [[acfFromDaily]] chain
    * already rounded(,6); each φ is ONE IEEE expression over those
    * fixed inputs with unrounded intermediates INLINED TEXTUALLY (the
    * SQL fragments below are embedded verbatim in the oracle, so the
    * two engines execute the identical op sequence); degenerate
    * denominators read null, never a blowup. SCALE SHAPE: the ACF
    * chain's + a |keys|-row pivot. Returns one row per key
    * (key, n_days, rho1, rho2, rho3, pacf1, pacf2, pacf3, ar1, ar2).
    */
  def pacfYuleWalker(events: DataFrame, keyCol: String): DataFrame = {
    val a = acfFromDaily(daily(events, keyCol), keyCol, maxLag = 3)
    val wide = a.groupBy(keyCol)
      .agg(max(col("n_days")).as("n_days"),
        max(when(col("lag") === 1, col("acf"))).as("rho1"),
        max(when(col("lag") === 2, col("acf"))).as("rho2"),
        max(when(col("lag") === 3, col("acf"))).as("rho3"))
    wide.select(col(keyCol), col("n_days"),
        col("rho1"), col("rho2"), col("rho3"),
        round(col("rho1"), 6).as("pacf1"),
        round(expr(s"$phi22Sql"), 6).as("pacf2"),
        round(expr(s"$phi33Sql"), 6).as("pacf3"),
        round(expr(s"$phi21Sql"), 6).as("ar1"),
        round(expr(s"$phi22Sql"), 6).as("ar2"))
      .orderBy(keyCol)
  }

  /** Durbin–Levinson stage-2/3 closed forms over (rho1, rho2, rho3)
    * columns as ENGINE-NEUTRAL SQL fragments (the [[zExprSql]]
    * convention: the oracle embeds these very strings). Guarded null
    * on |ρ₁| = 1 and on a zero stage-3 denominator.
    */
  private[graft] val phi22Sql: String =
    "(case when rho1 is not null and rho2 is not null and " +
      "1.0 - rho1 * rho1 <> 0.0 then " +
      "(rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) end)"
  private[graft] val phi21Sql: String =
    s"(rho1 * (1.0 - $phi22Sql))"
  private[graft] val phi33Sql: String =
    s"(case when rho3 is not null and $phi22Sql is not null and " +
      s"1.0 - $phi21Sql * rho1 - $phi22Sql * rho2 <> 0.0 then " +
      s"(rho3 - $phi21Sql * rho2 - $phi22Sql * rho1) / " +
      s"(1.0 - $phi21Sql * rho1 - $phi22Sql * rho2) end)"

  /** Two-proportion pooled z over (n_a, conv_a, n_b, conv_b) columns —
    * the [[abTest]] statistic as an ENGINE-NEUTRAL SQL fragment (null
    * on degenerate pooled rates, round(,6)): decimal literals promote
    * to double identically in Spark and DuckDB, so the oracle embeds
    * this very string and the two engines cannot drift.
    */
  private[graft] val zExprSql: String = {
    val pa = "(cast(conv_a as double) / cast(n_a as double))"
    val pb = "(cast(conv_b as double) / cast(n_b as double))"
    val pp = "(cast(conv_a + conv_b as double) / cast(n_a + n_b as double))"
    s"case when n_a > 0 and n_b > 0 and $pp > 0.0 and $pp < 1.0 " +
      s"then round(($pb - $pa) / sqrt($pp * (1.0 - $pp) * " +
      "(1.0 / cast(n_a as double) + 1.0 / cast(n_b as double))), 6) end"
  }

  /** Two-sided normal p-value of the round-6 `z` column via the
    * Zelen–Severo (Abramowitz–Stegun 26.2.17) polynomial:
    * 1 − Φ(x) = φ(x)·t·(b₁ + t·(b₂ + t·(b₃ + t·(b₄ + t·b₅)))),
    * t = 1/(1 + 0.2316419x) — Horner-parenthesized so both engines
    * evaluate the identical IEEE op sequence; constants enter via
    * string casts so both parse correctly-rounded doubles. |ε| < 7.5e-8,
    * and the approximation (not the true Φ) is the cross-engine spec.
    * Engine-neutral like [[zExprSql]]; shared with the oracle verbatim.
    */
  private[graft] val pExprSql: String = {
    val t = "(1.0 / (1.0 + cast('0.2316419' as double) * abs(z)))"
    val poly = s"($t * (cast('0.319381530' as double) + $t * " +
      s"(cast('-0.356563782' as double) + $t * " +
      s"(cast('1.781477937' as double) + $t * " +
      s"(cast('-1.821255978' as double) + $t * " +
      "cast('1.330274429' as double))))))"
    val pdf = "(cast('0.3989422804014327' as double) * " +
      "exp(-0.5 * z * z))"
    s"case when z is not null then round(2.0 * $pdf * $poly, 6) end"
  }

  /** DIFFERENCE-IN-DIFFERENCES readout — the observational-causal
    * companion of [[abTest]]/[[cupedAdjust]]: where CUPED uses the
    * pre-period to SHRINK variance around the same post-period
    * contrast, DiD uses it to REMOVE time-invariant level differences:
    *
    *   DiD = (ȳ_B − x̄_B) − (ȳ_A − x̄_A)
    *
    * over per-user pre (x) / post (y) totals, arms from the same
    * stable md5 membership as [[abTest]]. The parallel-trends SE is
    * the four-cell Welch form SE² = Σ s²_cell/n_cell (each user
    * contributes its pre and post values as separate cell
    * observations — the classical 2×2 group-means regression SE).
    * This form IGNORES the within-user pre/post covariance, so it is
    * CONSERVATIVE (SE overstated, |z| understated) exactly when pre
    * and post are positively correlated — the typical DiD regime; a
    * paired form would use Var(y−x) = s²_x + s²_y − 2s_xy per arm
    * (equivalently a Welch t on the per-user deltas). The four-cell
    * form is kept deliberately: it is the textbook 2×2 readout, its
    * conservatism only ever UNDER-claims significance, and the paired
    * alternative is one [[Stats.welchTTest]] call on y−x away.
    *
    * Returns one row (n_a, n_b, pre_diff, post_diff, did, se, z):
    * pre_diff = x̄_B − x̄_A is the parallel-trends eyeball (≈0 under
    * valid randomization), did the causal estimate.
    *
    * DETERMINISM: [[cupedAdjust]]'s exact machinery verbatim — per-
    * user period sums accumulate round(,6) DECIMALs bound to
    * DECIMAL(18,6); the ten per-arm moments (squares at
    * DECIMAL(38,12)) are exact on any partitioning; DiD/SE/z are ONE
    * mirrored IEEE chain. Degenerate cells (n ≤ 1) read null SE/z.
    *
    * SCALE SHAPE: one per-user hash aggregate, ONE scalar fold with
    * conditional per-arm sums — nothing grows past |users|.
    */
  def didEstimate(events: DataFrame, valueCol: String, isPre: Column)
      : DataFrame = {
    Hashing.ensureRegistered(events)
    val v = expr(s"cast(round(cast($valueCol as double), 6) " +
      "as decimal(28,6))")
    val perUser = events.filter(col(valueCol).isNotNull)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(isPre, v)), lit(0).cast("decimal(28,6)"))
          .cast("decimal(18,6)").as("x"),
        coalesce(sum(when(!isPre, v)), lit(0).cast("decimal(28,6)"))
          .cast("decimal(18,6)").as("y"))
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
    def armSums(arm: Int, suffix: String) = Seq(
      sum(when(col("variant") === arm, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      sum(when(col("variant") === arm, col("x"))).cast("double")
        .as(s"sx_$suffix"),
      sum(when(col("variant") === arm,
        (col("x") * col("x")).cast("decimal(38,12)"))).cast("double")
        .as(s"sxx_$suffix"),
      sum(when(col("variant") === arm, col("y"))).cast("double")
        .as(s"sy_$suffix"),
      sum(when(col("variant") === arm,
        (col("y") * col("y")).cast("decimal(38,12)"))).cast("double")
        .as(s"syy_$suffix"))
    val folds = armSums(0, "a") ++ armSums(1, "b")
    perUser.agg(folds.head, folds.tail: _*)
      .withColumn("mxa", expr("sx_a / cast(n_a as double)"))
      .withColumn("mya", expr("sy_a / cast(n_a as double)"))
      .withColumn("mxb", expr("sx_b / cast(n_b as double)"))
      .withColumn("myb", expr("sy_b / cast(n_b as double)"))
      .withColumn("se2", expr(
        "case when n_a > 1 and n_b > 1 then " +
        "((sxx_a - sx_a * sx_a / n_a) / (cast(n_a as double) - 1.0D) + " +
        "(syy_a - sy_a * sy_a / n_a) / (cast(n_a as double) - 1.0D)) / " +
        "cast(n_a as double) + " +
        "((sxx_b - sx_b * sx_b / n_b) / (cast(n_b as double) - 1.0D) + " +
        "(syy_b - sy_b * sy_b / n_b) / (cast(n_b as double) - 1.0D)) / " +
        "cast(n_b as double) end"))
      .select(col("n_a"), col("n_b"),
        round(expr("mxb - mxa"), 6).as("pre_diff"),
        round(expr("myb - mya"), 6).as("post_diff"),
        round(expr("(myb - mxb) - (mya - mxa)"), 6).as("did"),
        round(expr("case when se2 > 0 then sqrt(se2) end"), 6).as("se"),
        round(expr("case when se2 > 0 then " +
          "((myb - mxb) - (mya - mxa)) / sqrt(se2) end"), 6).as("z"))
  }

  /** PAIRED difference-in-differences — the tighter companion of
    * [[didEstimate]]: the same point estimate (mean per-user delta
    * d = y − x contrasted between arms equals the four-cell DiD
    * algebraically), but the SE is the Welch form on the DELTAS,
    * SE² = s²_d,A/n_A + s²_d,B/n_B — which absorbs the within-user
    * pre/post covariance the four-cell form ignores. When pre and
    * post are positively correlated (the typical regime) s²_d <
    * s²_x + s²_y and this z is strictly more powerful; under zero
    * correlation the two agree in expectation. Ship both readouts:
    * four-cell as the textbook 2×2, paired as the decision-grade z.
    *
    * DETERMINISM: [[didEstimate]]'s exact machinery on the per-user
    * delta — x/y period sums bind to DECIMAL(18,6), d = y − x is an
    * exact decimal, Σd/Σd² (squares at DECIMAL(38,12)) are exact on
    * any partitioning, the readout is ONE mirrored IEEE chain.
    * Degenerate arms (n ≤ 1) read null SE/z. SCALE SHAPE: one
    * per-user hash aggregate + ONE scalar fold — nothing grows past
    * |users|. Returns one row (n_a, n_b, mean_delta_a, mean_delta_b,
    * did, se, z).
    */
  def didPaired(events: DataFrame, valueCol: String, isPre: Column)
      : DataFrame = {
    Hashing.ensureRegistered(events)
    val v = expr(s"cast(round(cast($valueCol as double), 6) " +
      "as decimal(28,6))")
    val perUser = events.filter(col(valueCol).isNotNull)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(isPre, v)), lit(0).cast("decimal(28,6)"))
          .cast("decimal(18,6)").as("x"),
        coalesce(sum(when(!isPre, v)), lit(0).cast("decimal(28,6)"))
          .cast("decimal(18,6)").as("y"))
      .withColumn("variant", pmod(Hashing.md5Long(
        concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
      .withColumn("dd", (col("y") - col("x")).cast("decimal(18,6)"))
    def armSums(arm: Int, suffix: String) = Seq(
      sum(when(col("variant") === arm, 1L).otherwise(0L))
        .as(s"n_$suffix"),
      sum(when(col("variant") === arm, col("dd"))).cast("double")
        .as(s"sd_$suffix"),
      sum(when(col("variant") === arm,
        (col("dd") * col("dd")).cast("decimal(38,12)"))).cast("double")
        .as(s"sdd_$suffix"))
    val folds = armSums(0, "a") ++ armSums(1, "b")
    perUser.agg(folds.head, folds.tail: _*)
      .withColumn("mda", expr("sd_a / cast(n_a as double)"))
      .withColumn("mdb", expr("sd_b / cast(n_b as double)"))
      .withColumn("se2", expr(
        "case when n_a > 1 and n_b > 1 then " +
        "(sdd_a - sd_a * sd_a / n_a) / (cast(n_a as double) - 1.0D) / " +
        "cast(n_a as double) + " +
        "(sdd_b - sd_b * sd_b / n_b) / (cast(n_b as double) - 1.0D) / " +
        "cast(n_b as double) end"))
      .select(col("n_a"), col("n_b"),
        round(col("mda"), 6).as("mean_delta_a"),
        round(col("mdb"), 6).as("mean_delta_b"),
        round(expr("mdb - mda"), 6).as("did"),
        round(expr("case when se2 > 0 then sqrt(se2) end"), 6).as("se"),
        round(expr("case when se2 > 0 then (mdb - mda) / sqrt(se2) end"),
          6).as("z"))
  }

  /** INTERRUPTED TIME-SERIES readout — the third causal lens beside
    * [[didEstimate]] (needs a control arm) and [[cupedAdjust]] (needs
    * randomization): when an intervention hits EVERYONE at one moment,
    * fit separate OLS lines to the pre- and post-period DAILY metric
    * series and read the discontinuity:
    *
    *   level_change = (b0_post + s_post·t₀) − (b0_pre + s_pre·t₀)
    *   slope_change = s_post − s_pre
    *
    * at t₀ = the first post-period day — the segmented-regression ITS
    * estimator (two-segment form).
    *
    * DETERMINISM: daily means are exact-DECIMAL round(,6) values; the
    * per-segment OLS moments (Σt, Σt², Σy, Σty — t the integer epoch
    * day) accumulate exactly (t·y at DECIMAL(38,6)); slopes/levels
    * derive through ONE mirrored IEEE chain; a segment with < 2 days
    * (or zero variance in t) reads null. SCALE SHAPE: one keyed daily
    * aggregate (calendar-bounded), one 1-row conditional-moment fold,
    * broadcast 1-row boundary frame. Returns one row
    * (n_pre, n_post, slope_pre, slope_post, slope_change,
    * level_change).
    */
  def interruptedTimeSeries(events: DataFrame, valueCol: String,
      isPre: Column): DataFrame = {
    val v = expr(s"cast(round(cast($valueCol as double), 6) " +
      "as decimal(28,6))")
    val daily = events.filter(col(valueCol).isNotNull)
      .select(expr("ts_us div 86400000000").as("t"),
        isPre.as("pre"), v.as("vv"))
      .groupBy("t", "pre")
      .agg(expr("cast(round(cast(sum(vv) as double) / count(1), 6) " +
        "as decimal(18,6))").as("y"))
    val t0F = daily.filter(!col("pre")).agg(min(col("t")).as("t0"))
    def seg(pre: Boolean, s: String) = Seq(
      sum(when(col("pre") === pre, 1L).otherwise(0L)).as(s"n_$s"),
      sum(when(col("pre") === pre, col("t"))).as(s"st_$s"),
      sum(when(col("pre") === pre, col("t") * col("t"))).as(s"stt_$s"),
      sum(when(col("pre") === pre, col("y"))).cast("double")
        .as(s"sy_$s"),
      sum(when(col("pre") === pre,
        (col("t").cast("decimal(20,0)") * col("y"))
          .cast("decimal(38,6)"))).cast("double").as(s"sty_$s"))
    val folds = seg(true, "pre") ++ seg(false, "post")
    def line(s: String) = {
      val det = s"(cast(n_$s as double) * cast(stt_$s as double) - " +
        s"cast(st_$s as double) * cast(st_$s as double))"
      (s"case when n_$s > 1 and $det <> 0.0 then " +
        s"(cast(n_$s as double) * sty_$s - cast(st_$s as double) * " +
        s"sy_$s) / $det end",
       s"case when n_$s > 1 and $det <> 0.0 then " +
        s"(sy_$s - ((cast(n_$s as double) * sty_$s - " +
        s"cast(st_$s as double) * sy_$s) / $det) * " +
        s"cast(st_$s as double)) / cast(n_$s as double) end")
    }
    val (slPre, b0Pre) = line("pre")
    val (slPost, b0Post) = line("post")
    daily.agg(folds.head, folds.tail: _*)
      .crossJoin(broadcast(t0F))
      .withColumn("s_pre", expr(slPre))
      .withColumn("s_post", expr(slPost))
      .withColumn("i_pre", expr(b0Pre))
      .withColumn("i_post", expr(b0Post))
      .select(col("n_pre"), col("n_post"),
        round(col("s_pre"), 6).as("slope_pre"),
        round(col("s_post"), 6).as("slope_post"),
        round(expr("s_post - s_pre"), 6).as("slope_change"),
        round(expr("(i_post + s_post * cast(t0 as double)) - " +
          "(i_pre + s_pre * cast(t0 as double))"), 6)
          .as("level_change"))
  }
}
