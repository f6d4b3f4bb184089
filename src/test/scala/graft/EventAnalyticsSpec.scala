package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.EventAnalytics

/** Event-stream analytics (graft.ops.EventAnalytics): funnel ordering
  * semantics, cohort bucketing, gap-fill + forward-fill, and the
  * trailing-window anomaly baseline.
  */
class EventAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  private val DayUs = 86400000000L

  private def ev(rows: (Long, Long, String, Long, Double)*) = {
    val s = spark; import s.implicits._
    rows.toDF("user_id", "event_id", "event_type", "ts_us", "value")
  }

  test("funnel: steps must occur in order, strictly after the prior reach") {
    // user 1: signup(10) → click(20) → purchase(30): full funnel
    // user 2: click(5) BEFORE signup(10), no later click: stops at signup
    // user 3: signup only
    val e = ev(
      (1L, 1L, "signup", 10L, 0.0), (1L, 2L, "click", 20L, 0.0),
      (1L, 3L, "purchase", 30L, 0.0),
      (2L, 4L, "click", 5L, 0.0), (2L, 5L, "signup", 10L, 0.0),
      (3L, 6L, "signup", 7L, 0.0))
    val out = EventAnalytics.funnel(e, Seq("signup", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out === Seq((0L, "signup", 3L), (1L, "click", 1L),
      (2L, "purchase", 1L)))
  }

  test("funnel: equal-timestamp progression breaks ties by event_id") {
    // click shares signup's timestamp but has a larger event_id → counts;
    // purchase shares the click's ts with a SMALLER id → does not
    val e = ev(
      (1L, 1L, "signup", 10L, 0.0), (1L, 2L, "click", 10L, 0.0),
      (1L, 0L, "purchase", 10L, 0.0))
    val out = EventAnalytics.funnel(e, Seq("signup", "click", "purchase"))
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out === Seq(("signup", 1L), ("click", 1L), ("purchase", 0L)))
  }

  test("retention: cohort by first-event week, rates off the diagonal") {
    // weeks are ts_us div 7 days; user 1 active weeks 0,1; user 2 week 0
    // only; user 3 first seen week 1
    val e = ev(
      (1L, 1L, "view", 0L, 0.0), (1L, 2L, "view", 8L * DayUs, 0.0),
      (2L, 3L, "view", 1L * DayUs, 0.0),
      (3L, 4L, "view", 7L * DayUs, 0.0))
    val out = EventAnalytics.retentionCohorts(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out === Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0)))
  }

  test("gap-fill: missing days get zero counts and the last seen value") {
    val e = ev(
      (1L, 1L, "a", 0L, 10.0),
      (1L, 2L, "a", 3L * DayUs, 40.0), (1L, 3L, "a", 3L * DayUs, 50.0))
    val out = EventAnalytics.gapFillDaily(e, "event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out === Seq(
      ("a", 0L, 1L, 10.0), ("a", 1L, 0L, 10.0), ("a", 2L, 0L, 10.0),
      ("a", 3L, 2L, 45.0)))
  }

  test("gap-fill: each key fills its own span independently") {
    val e = ev(
      (1L, 1L, "a", 0L, 1.0), (1L, 2L, "a", 2L * DayUs, 2.0),
      (2L, 3L, "b", 5L * DayUs, 3.0))
    val out = EventAnalytics.gapFillDaily(e, "event_type").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out === Seq(("a", 0L), ("a", 1L), ("a", 2L), ("b", 5L)))
  }

  test("anomaly: a spike after a stable week is flagged; warmup is null") {
    // key with 7 flat days then a spike on day 7
    val rows = (0 until 7).map(d =>
      (1L, d.toLong, "a", d * DayUs, 0.0)) ++ // one event per day
      (0 until 9).map(i => (1L, 100L + i, "a", 7L * DayUs + i, 0.0))
    val out = EventAnalytics.rollingAnomalies(ev(rows: _*), "event_type",
      window = 7, threshold = 2.0).collect()
    val byDay = out.map(r => (r.getLong(1), r)).toMap
    // warmup days 0..6: null z, not flagged
    (0L to 6L).foreach { d =>
      assert(byDay(d).isNullAt(5) && !byDay(d).getBoolean(6))
    }
    // day 7: baseline mu=1 sigma=0 over the flat week → sigma==0 → no z
    // (constant baseline yields no flag by the sigma>0 rule)
    assert(byDay(7L).isNullAt(5))
    assert(!byDay(7L).getBoolean(6))
  }

  test("anomaly: nonzero-variance baseline flags a genuine spike") {
    // alternating 1/3 events per day for 8 days, then a 20-event day
    val base = (0 until 8).flatMap { d =>
      val n = if (d % 2 == 0) 1 else 3
      (0 until n).map(i => (1L, d * 10L + i, "a", d * DayUs + i, 0.0))
    }
    val spike = (0 until 20).map(i =>
      (1L, 900L + i, "a", 8L * DayUs + i, 0.0))
    val out = EventAnalytics.rollingAnomalies(ev(base ++ spike: _*),
      "event_type", window = 7, threshold = 2.0).collect()
    val day8 = out.find(_.getLong(1) == 8L).get
    assert(day8.getBoolean(6), s"day 8 should be anomalous: $day8")
    assert(day8.getDouble(4) > 0) // sigma
  }

  test("session insights: conversion counts only in-session ordered " +
    "funnels; daily rollup carries the conv rate") {
    // user 1 day 0: one session with signup→click→purchase (converts);
    // user 2 day 0: purchase BEFORE signup in its only session (no);
    // user 1 day 1: signup then click in one session, purchase in a
    // LATER session (gap > 10 min) → neither session converts
    val DayUs = 86400000000L
    val gap = 600000000L
    val e = ev(
      (1L, 1L, "signup", 10L, 0.0), (1L, 2L, "click", 20L, 0.0),
      (1L, 3L, "purchase", 30L, 0.0),
      (2L, 4L, "purchase", 5L, 0.0), (2L, 5L, "signup", 10L, 0.0),
      (2L, 6L, "click", 15L, 0.0),
      (1L, 7L, "signup", DayUs + 10L, 0.0),
      (1L, 8L, "click", DayUs + 20L, 0.0),
      (1L, 9L, "purchase", DayUs + 20L + gap + 1L, 0.0))
    val out = EventAnalytics.sessionInsights(e, gap,
      Seq("signup", "click", "purchase")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Seq((0L, 2L, 1L), (1L, 2L, 0L)))
  }

  test("transitions: per-from rows sum to 1; __start__ counts users") {
    val e = ev(
      (1L, 1L, "a", 10L, 0.0), (1L, 2L, "b", 20L, 0.0),
      (1L, 3L, "a", 30L, 0.0),
      (2L, 4L, "a", 10L, 0.0), (2L, 5L, "b", 20L, 0.0))
    val out = EventAnalytics.transitionMatrix(e).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(("__start__", "a")) === ((2L, 1.0)))
    assert(out(("a", "b")) === ((2L, 1.0)))
    assert(out(("b", "a")) === ((1L, 1.0)))
    // probabilities sum to 1 per from-state
    val sums = out.toSeq.groupBy(_._1._1)
      .map { case (f, xs) => f -> xs.map(_._2._2).sum }
    sums.values.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
  }

  test("transitions: tie on ts orders by event_id") {
    val e = ev(
      (1L, 1L, "a", 10L, 0.0), (1L, 2L, "b", 10L, 0.0),
      (1L, 3L, "c", 10L, 0.0))
    val out = EventAnalytics.transitionMatrix(e).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("__start__", "a"), ("a", "b"), ("b", "c")))
  }

  test("top paths: windows slide per user; short streams emit nothing") {
    val e = ev(
      (1L, 1L, "a", 10L, 0.0), (1L, 2L, "b", 20L, 0.0),
      (1L, 3L, "c", 30L, 0.0), (1L, 4L, "b", 40L, 0.0),
      (2L, 5L, "a", 10L, 0.0), (2L, 6L, "b", 20L, 0.0),
      (2L, 7L, "c", 30L, 0.0),
      (3L, 8L, "x", 5L, 0.0), (3L, 9L, "y", 6L, 0.0)) // len-2 stream
    val out = EventAnalytics.topPaths(e, 3, 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.head === (("a>b>c", 2L)))
    assert(out.toSet === Set(("a>b>c", 2L), ("b>c>b", 1L)))
  }

  test("top paths: k truncates under the (count desc, path asc) order") {
    val e = ev(
      (1L, 1L, "a", 10L, 0.0), (1L, 2L, "b", 20L, 0.0),
      (1L, 3L, "a", 30L, 0.0), (1L, 4L, "b", 40L, 0.0))
    val out = EventAnalytics.topPaths(e, 2, 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // pairs: a>b ×2, b>a ×1 → top-2 keeps both; k=1 would keep a>b
    assert(out === Seq(("a>b", 2L), ("b>a", 1L)))
    val top1 = EventAnalytics.topPaths(e, 2, 1).collect()
      .map(r => r.getString(0))
    assert(top1 === Seq("a>b"))
  }

  test("active users: rolling windows count distinct users, " +
    "stickiness = dau/mau") {
    // user 1 active days 0 and 10; user 2 active day 0 only
    val e = ev(
      (1L, 1L, "v", 0L, 0.0), (1L, 2L, "v", 1L, 0.0), // same day dup
      (2L, 3L, "v", 0L, 0.0),
      (1L, 4L, "v", 10L * DayUs, 0.0))
    val out = EventAnalytics.activeUsers(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(0L) === ((2L, 2L, 2L))) // both active day 0
    assert(out(6L) === ((0L, 2L, 2L))) // day 0 still in the 7d window
    assert(out(7L) === ((0L, 0L, 2L))) // out of WAU, still in MAU
    assert(out(10L) === ((1L, 1L, 2L))) // user 1 returns
    // anchors clamp at the last activity day
    assert(out.keys.max === 10L)
    // the calendar spine is gap-free within [min, max]
    assert(out.keys.toSeq.sorted === (0L to 10L))
  }

  test("active users: quiet days beyond the MAU window read as zeros") {
    // activity on day 0 and day 40 only: days 28..39 have zero
    // trailing 28-day activity and must still appear as zero rows
    val e = ev((1L, 1L, "v", 0L, 0.0), (1L, 2L, "v", 40L * DayUs, 0.0))
    val out = EventAnalytics.activeUsers(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out.keys.toSeq.sorted === (0L to 40L))
    assert(out(30L) === ((0L, 0L)))
    assert(out(40L) === ((1L, 1L)))
  }

  test("week-over-week: first week has null change; zero prior has " +
    "null pct") {
    val WeekUs = 7L * DayUs
    val e = ev(
      (1L, 1L, "a", 0L, 0.0), (1L, 2L, "a", 1L, 0.0), // week 0: 2
      (1L, 3L, "a", WeekUs, 0.0), // week 1: 1
      (1L, 4L, "a", 3 * WeekUs, 0.0), (1L, 5L, "a", 3 * WeekUs + 1, 0.0),
      (1L, 6L, "a", 3 * WeekUs + 2, 0.0)) // week 3: 3 (week 2 absent)
    val out = EventAnalytics.weekOverWeek(e, "event_type").collect()
      .map(r => r.getLong(1) -> ((r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))))
    assert(out(0) === ((0L, (2L, None, None))))
    assert(out(1) === ((1L, (1L, Some(-1L), Some(-0.5)))))
    // absent week 2 is NOT gap-filled here: week 3 compares to week 1
    assert(out(2) === ((3L, (3L, Some(2L), Some(2.0)))))
  }

  test("time to convert: first-from to first-to-after, exact quantiles") {
    // user 1: signup@10 → purchase@110 (delta 100); a purchase BEFORE
    // signup (t=5) must not count
    // user 2: signup@0 → purchase@300 (delta 300)
    // user 3: signup only — excluded
    val e = ev(
      (1L, 1L, "purchase", 5L, 0.0), (1L, 2L, "signup", 10L, 0.0),
      (1L, 3L, "purchase", 110L, 0.0),
      (2L, 4L, "signup", 0L, 0.0), (2L, 5L, "purchase", 300L, 0.0),
      (3L, 6L, "signup", 50L, 0.0))
    val out = EventAnalytics.timeToConvert(e, "signup", "purchase")
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // n=2: p50 = rank ceil(1.0)=1 → 100; p90 = rank ceil(1.8)=2 → 300
    assert(out === Map(0.5 -> 100L, 0.9 -> 300L))
  }

  test("ab test: variants partition users; z sign follows the lift") {
    val s = spark; import s.implicits._
    // enough users that both variants are non-empty with the md5 split
    val rows = (1L to 40L).flatMap { u =>
      // users 1..10 convert
      val base = Seq((u, u * 10, "view", u * 100L, 0.0))
      if (u <= 10) base :+ ((u, u * 10 + 1, "purchase", u * 100L + 1, 0.0))
      else base
    }.map { case (u, e, t, ts, v) => (u, e, t, ts, v) }
    val out = EventAnalytics.abTest(ev(rows: _*),
      org.apache.spark.sql.functions.col("event_type") === "purchase")
      .collect().head
    val (nA, cA, nB, cB) = (out.getLong(0), out.getLong(1),
      out.getLong(3), out.getLong(4))
    assert(nA + nB === 40L && nA > 0 && nB > 0)
    assert(cA + cB === 10L)
    // z sign matches the observed lift direction (or 0 when equal)
    val (rA, rB, z) = (out.getDouble(2), out.getDouble(5),
      out.getDouble(6))
    assert((rB - rA).sign === z.sign)
  }

  test("attribution: last strictly-preceding non-conversion event wins") {
    // user 1: ad → email → purchase (email gets it), then another
    // purchase with no new touch (email again); user 2: purchase with
    // no preceding touch → __none__
    val e = ev(
      (1L, 1L, "ad", 10L, 0.0), (1L, 2L, "email", 20L, 0.0),
      (1L, 3L, "purchase", 30L, 0.0), (1L, 4L, "purchase", 40L, 0.0),
      (2L, 5L, "purchase", 5L, 0.0))
    val out = EventAnalytics.lastTouchAttribution(e, "purchase")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getDouble(2)))).toMap
    assert(out("email") === ((2L, 0.666667)))
    assert(out("__none__") === ((1L, 0.333333)))
    assert(!out.contains("ad"))
  }

  test("attribution: a conversion at the touch's timestamp still " +
    "credits it when the event_id orders after") {
    val e = ev(
      (1L, 1L, "ad", 10L, 0.0), (1L, 2L, "purchase", 10L, 0.0))
    val out = EventAnalytics.lastTouchAttribution(e, "purchase")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("ad" -> 1L))
  }

  test("trigram backoff: seen trigrams use the trigram estimate; " +
    "unseen back off") {
    val s = spark; import s.implicits._
    // doc_ids chosen so md5-parity splits train/test deterministically;
    // probe which side each lands on rather than hardcoding
    val docs = (1L to 8L).map(i => (i, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextModels.trigramBackoffNll(docs)
    val rows = out.collect()
    // identical text: every held-out trigram is seen (if any train doc
    // exists); all rows share one NLL and n_scored = 3
    assert(rows.nonEmpty && rows.length < 8) // both halves non-empty
    assert(rows.map(_.getLong(1)).toSet === Set(3L))
    assert(rows.map(_.getDouble(2)).toSet.size === 1)
    // seen trigram prob = c123/c12 = 1 → nll 0
    assert(rows.head.getDouble(2) === 0.0)
  }

  test("trigram backoff: unseen word floors at alpha^2/N, finite NLL") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"), (2L, "a b c a b c"),
      (3L, "a b zzz"), (4L, "a b c"), (5L, "a b c"), (6L, "a b c"),
      (7L, "a b c"), (8L, "a b c")).toDF("doc_id", "text")
    val out = graft.ops.TextModels.trigramBackoffNll(docs).collect()
    // every scored row is finite (no -ln(0) even if zzz is held out
    // and absent from train)
    assert(out.forall(r => !r.getDouble(2).isInfinite &&
      !r.getDouble(2).isNaN))
  }

  test("windowedFunnel: later steps must land within the anchor window") {
    // user 1 completes within W=50; user 2's click is past the window
    val e = ev(
      (1L, 1L, "signup", 0L, 0.0), (1L, 2L, "click", 30L, 0.0),
      (2L, 3L, "signup", 0L, 0.0), (2L, 4L, "click", 60L, 0.0))
    val out = EventAnalytics.windowedFunnel(e, Seq("signup", "click"), 50L)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(("signup", 2L), ("click", 1L)))
  }

  test("windowedFunnel: anchored at the FIRST entry, no re-scan") {
    // a second signup at t=60 would open a window catching click@70,
    // but the documented greedy semantics anchor at t=0 → no reach
    val e = ev(
      (1L, 1L, "signup", 0L, 0.0), (1L, 2L, "signup", 60L, 0.0),
      (1L, 3L, "click", 70L, 0.0))
    val out = EventAnalytics.windowedFunnel(e, Seq("signup", "click"), 50L)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(("signup", 1L), ("click", 0L)))
  }

  test("linearAttribution: equal split, orphans, credit conservation") {
    // u1: A,B then conv → 0.5 each; u2: orphan conv → __none__ 1.0;
    // u3: A then TWO convs (each sees m=1) → A += 2.0
    val e = ev(
      (1L, 1L, "A", 1L, 0.0), (1L, 2L, "B", 2L, 0.0),
      (1L, 3L, "purchase", 3L, 0.0),
      (2L, 4L, "purchase", 1L, 0.0),
      (3L, 5L, "A", 1L, 0.0), (3L, 6L, "purchase", 2L, 0.0),
      (3L, 7L, "purchase", 3L, 0.0))
    val out = EventAnalytics.linearAttribution(e, "purchase")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("A" -> 2.5, "B" -> 0.5, "__none__" -> 1.0))
    // Σ credit = conversion count: each conversion hands out exactly 1
    assert(out.values.sum === 4.0)
  }

  test("linearAttribution: touches after the last conversion earn zero") {
    val e = ev(
      (1L, 1L, "A", 1L, 0.0), (1L, 2L, "purchase", 2L, 0.0),
      (1L, 3L, "B", 3L, 0.0))
    val out = EventAnalytics.linearAttribution(e, "purchase")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("A" -> 1.0, "B" -> 0.0))
  }

  test("srm: arms partition distinct users; chi2 matches the counts") {
    // 30 users, one with duplicate events (must count once)
    val rows = (1 to 30).map(u =>
      (u.toLong, u.toLong, "view", 1L, 0.0)) :+
      ((1L, 99L, "click", 2L, 0.0))
    val out = EventAnalytics.srmCheck(ev(rows: _*)).collect().head
    val (na, nb) = (out.getLong(0), out.getLong(1))
    assert(na + nb === 30L) // duplicates collapse
    val chi2 = (na - nb).toDouble * (na - nb) / 30.0
    // the op emits round(chi2, 6)
    assert(math.abs(out.getDouble(2) - chi2) < 1e-6)
    assert(out.getLong(3) === (if (chi2 > 10.828) 1L else 0L))
  }

  test("sequencePatterns: gapped before-relation per user; equal-us " +
    "pairs excluded; repeat behavior needs two distinct timestamps") {
    // user 1: A@10 B@20            -> A>B only
    // user 2: A@10 A@30 B@20      -> A>B, B>A (gapped), A>A (repeat)
    // user 3: C@5                  -> nothing (single occurrence)
    // user 4: A@10 B@10            -> nothing (equal-us tie excluded)
    val e = ev(
      (1L, 1L, "A", 10L, 0.0), (1L, 2L, "B", 20L, 0.0),
      (2L, 3L, "A", 10L, 0.0), (2L, 4L, "A", 30L, 0.0),
      (2L, 5L, "B", 20L, 0.0),
      (3L, 6L, "C", 5L, 0.0),
      (4L, 7L, "A", 10L, 0.0), (4L, 8L, "B", 10L, 0.0))
    val out = EventAnalytics.sequencePatterns(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("A>B", 2L, 0.5),
      ("A>A", 1L, 0.25), ("B>A", 1L, 0.25)))
  }

  test("markov attribution: hand-solved removal effects on a " +
    "4-user chain; shares normalize; dyadic chain is exact") {
    // chain: START->A 2/4, START->B 1/4, START->CONV 1/4;
    //        A->B 1/2, A->CONV 1/2; B->CONV 1/2, B->NULL 1/2
    // P_full = 1/4 + 1/2*(1/2 + 1/4) + 1/4*1/2       = 0.75
    // remove A: 1/4 + 1/4*1/2                         = 0.375 -> eff 0.5
    // remove B: 1/4 + 1/2*1/2                         = 0.5   -> eff 1/3
    // shares 0.6 / 0.4
    val e = ev(
      (1L, 1L, "A", 10L, 0.0), (1L, 2L, "B", 20L, 0.0),
      (1L, 3L, "purchase", 30L, 0.0),
      (2L, 4L, "A", 10L, 0.0), (2L, 5L, "purchase", 20L, 0.0),
      (3L, 6L, "B", 10L, 0.0),
      (4L, 7L, "purchase", 5L, 0.0))
    val out = EventAnalytics.markovAttribution(e, "purchase")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("A", 0.75, 0.375, 0.5, 0.6),
      ("B", 0.75, 0.5, 0.333333, 0.4)))
  }

  test("ushape attribution: 40/20/40 hand-computed; m=1/m=2 edge " +
    "weights; conservation to round-6 residue") {
    // user 1: A B C D purchase  -> A 0.4, B 0.1, C 0.1, D 0.4
    // user 2: A purchase        -> A 1.0
    // user 3: A B purchase      -> A 0.5, B 0.5
    // user 4: purchase          -> __none__ 1.0
    val e = ev(
      (1L, 1L, "A", 10L, 0.0), (1L, 2L, "B", 20L, 0.0),
      (1L, 3L, "C", 30L, 0.0), (1L, 4L, "D", 40L, 0.0),
      (1L, 5L, "purchase", 50L, 0.0),
      (2L, 6L, "A", 10L, 0.0), (2L, 7L, "purchase", 20L, 0.0),
      (3L, 8L, "A", 10L, 0.0), (3L, 9L, "B", 20L, 0.0),
      (3L, 10L, "purchase", 30L, 0.0),
      (4L, 11L, "purchase", 5L, 0.0))
    val out = EventAnalytics.uShapeAttribution(e, "purchase")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("A") === 0.4 + 1.0 + 0.5)
    assert(out("B") === 0.1 + 0.5)
    assert(out("C") === 0.1)
    assert(out("D") === 0.4)
    assert(out("__none__") === 1.0)
    // conservation: total credit = total conversions
    assert(math.abs(out.values.sum - 4.0) < 1e-5)
  }

  test("holt forecast: perfect linear trend tracked exactly " +
    "(forecast = next point); gappy series matches the unrolled fold") {
    val dayUs = 86400000000L
    var id = 0L
    def mk(tpe: String, day: Long, n: Int) = (1 to n).map { _ =>
      id += 1; (1L, id, tpe, (100L + day) * dayUs, 0.0)
    }
    // A: y_t = t on days 101..108, 9 actuals on day 109 (on-trend)
    val rows = (1 to 8).flatMap(t => mk("A", t.toLong, t)) ++
      mk("A", 9L, 9) ++
      // B: only y2 = 3 (day 102) in the history window, 1 actual
      mk("B", 2L, 3) ++ mk("B", 9L, 1)
    val out = EventAnalytics.holtForecast(ev(rows: _*), "event_type")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    // Holt on y = 1..8: l_t = t, b_t = 1 by induction -> forecast 9
    assert(out("A") == ((9L, 8.0, 1.0, 9.0, 0.0)))
    // replay the recursion for B: y = (0,3,0,0,0,0,0,0)
    val ys = Seq(0.0, 3.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val (l8, b8) = ys.drop(1).foldLeft((ys.head, ys(1) - ys.head)) {
      case ((l, b), y) =>
        val l2 = (y + l + b) * 0.5; (l2, (l2 - l) * 0.5 + b * 0.5)
    }
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("B")._4 == r6(l8 + b8))
    assert(out("B")._5 == r6(1.0 - (l8 + b8)))
  }

  test("ewma forecast: 4^j recency weights over the 8-day history, " +
    "missing days weigh zero, fixed denominator") {
    // series A: 2 events on anchor day 10, history: 3 on day 9 (j=7),
    // 1 on day 2 (j=0), nothing else (gap days contribute 0).
    // series B: anchor-day only (forecast 0).
    val e = ev(
      (1L, 1L, "A", 10L * DayUs + 5L, 0.0),
      (1L, 2L, "A", 10L * DayUs + 6L, 0.0),
      (1L, 3L, "A", 9L * DayUs + 1L, 0.0),
      (1L, 4L, "A", 9L * DayUs + 2L, 0.0),
      (1L, 5L, "A", 9L * DayUs + 3L, 0.0),
      (1L, 6L, "A", 2L * DayUs, 0.0),
      (1L, 7L, "A", 1L * DayUs, 0.0), // day 1 < d1-8: outside window
      (2L, 8L, "B", 10L * DayUs, 0.0))
    val out = EventAnalytics.ewmaForecast(e, "event_type")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // num(A) = 3*4^7 + 1*4^0 = 49153; forecast = 49153/21845
    val fA = BigDecimal(49153.0 / 21845.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("A")._1 === 10L && out("A")._2 === 2L)
    assert(out("A")._3 === fA)
    assert(out("B") === ((10L, 1L, 0.0, 1.0)))
  }

  test("fdr bh: planted one-sided effect is rejected, null metrics " +
    "are excluded from m") {
    val s = spark
    import org.apache.spark.sql.functions.{col, expr, explode, lit, pmod}
    import s.implicits._
    // 400 users; metric "hot": conv iff variant-1 user (arms from the
    // md5 split itself, so the effect is maximal); metric "flat": conv
    // for user_id % 2 (independent of arm); metric "allconv": everyone
    // converts (degenerate pooled rate 1 → null z, excluded).
    val base = (1 to 400).map(_.toLong).flatMap { u =>
      Seq(("hot", u), ("flat", u), ("allconv", u))
    }
    val perUser = base.toDF("event_type", "user_id")
      .withColumn("variant", pmod(graft.ops.Hashing.md5Long(
        expr("concat('ab:', cast(user_id as string))")), lit(2L)))
      // event count per (user, metric): ≥14 ⇔ converted
      .withColumn("n", expr("case " +
        "when event_type = 'hot' and variant = 1 then 20 " +
        "when event_type = 'flat' and user_id % 2 = 0 then 20 " +
        "when event_type = 'allconv' then 20 else 1 end"))
    val events = perUser.select(col("user_id"), col("event_type"),
        explode(expr("sequence(1, n)")).as("i"))
      .select(col("user_id"), col("i").cast("long").as("event_id"),
        col("event_type"), lit(0L).as("ts_us"), lit(0.0).as("value"))
    val out = EventAnalytics.fdrBh(events)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("hot").getBoolean(8)) // the planted effect is rejected
    assert(!out("flat").getBoolean(8))
    assert(out("allconv").isNullAt(5) && out("allconv").isNullAt(7) &&
      !out("allconv").getBoolean(8)) // degenerate: null z, null rank
    assert(out("hot").getLong(7) === 1L) // smallest p ranks first
  }

  test("cuped: y = 2x exactly → theta 2, rho2 1, adjusted lift 0") {
    import org.apache.spark.sql.functions.col
    // 40 users, pre value v (ts 1), post value 2v (ts 100): post is
    // fully explained by pre, so WHATEVER the md5 arm split, the
    // adjusted means both collapse to 2·x̄ → diff_adj 0
    val rows = (1 to 40).flatMap { u =>
      Seq((u.toLong, 2L * u, "view", 1L, u.toDouble),
        (u.toLong, 2L * u + 1, "view", 100L, 2.0 * u))
    }
    val out = EventAnalytics.cupedAdjust(ev(rows: _*), "value",
      col("ts_us") < 50L).collect().head
    assert(out.getLong(0) > 0L && out.getLong(1) > 0L) // both arms live
    assert(out.getDouble(4) === 2.0)  // theta
    assert(out.getDouble(7) === 1.0)  // rho2
    assert(out.getDouble(6) === 0.0)  // diff_adj
    // raw lift is whatever the arm split produced — mean_b − mean_a
    assert(math.abs(out.getDouble(5) -
      (out.getDouble(3) - out.getDouble(2))) < 1e-6)
  }

  test("cuped: constant covariate → null theta, diff_adj = diff_raw") {
    import org.apache.spark.sql.functions.col
    val rows = (1 to 20).flatMap { u =>
      Seq((u.toLong, 2L * u, "view", 1L, 5.0), // pre constant
        (u.toLong, 2L * u + 1, "view", 100L, u.toDouble))
    }
    val out = EventAnalytics.cupedAdjust(ev(rows: _*), "value",
      col("ts_us") < 50L).collect().head
    assert(out.isNullAt(4) && out.isNullAt(7)) // theta, rho2
    assert(out.getDouble(6) === out.getDouble(5)) // falls back to raw
  }

  test("uplift segments: per-segment arms partition users; planted " +
      "arm-1 conversions read uplift 1; quiet segment null z") {
    import org.apache.spark.sql.functions.col
    def variant(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$id".getBytes("UTF-8"))
      (BigInt(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
        % 2).toLong
    }
    // segment x: users 1..20, variant-1 users convert; segment y:
    // users 101..120, nobody converts
    val rows =
      (1L to 20L).flatMap { u =>
        Seq((u, u * 10, "x", 1L, 0.0)) ++
          (if (variant(u) == 1) Seq((u, u * 10 + 1, "purchase",
            100L, 0.0)) else Nil)
      } ++ (101L to 120L).map(u => (u, u * 10, "y", 1L, 0.0))
    val out = EventAnalytics.upliftSegments(ev(rows: _*),
      col("event_type") === "purchase")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5), r.getDouble(7)))
    val x = out.find(_._1 == "x").get
    assert(x._2 + x._4 === 20L)       // arms partition the segment
    assert(x._3 === 0L && x._5 === x._4) // only arm 1 converts
    assert(x._6 === 1.0)              // uplift = rate_b − rate_a = 1
    val y = out.find(_._1 == "y").get
    assert(y._2 + y._4 === 20L && y._6 === 0.0)
    val yr = EventAnalytics.upliftSegments(ev(rows: _*),
      col("event_type") === "purchase")
      .filter(col("segment") === "y").collect().head
    assert(yr.isNullAt(8)) // pooled rate 0 → null z, not a div error
  }

  test("seasonal naive: same-weekday means, off-cycle days ignored, " +
      "sparse key reads zero history") {
    // anchor d1 = 28; same-weekday history {21,14,7,0} counts 2,4,0,6
    // → forecast 3.0; next-day history {22,15,8,1} counts 1,0,2,1 →
    // next 1.0; day 27 (off-cycle) must not count anywhere
    def burst(key: String, day: Long, n: Int, idBase: Long) =
      (0 until n).map(j => (50L + j, idBase + j, key,
        day * DayUs + j, 0.0))
    val rows =
      burst("A", 28, 3, 0) ++ burst("A", 21, 2, 100) ++
        burst("A", 14, 4, 200) ++ burst("A", 0, 6, 300) ++
        burst("A", 22, 1, 400) ++ burst("A", 8, 2, 500) ++
        burst("A", 1, 1, 600) ++ burst("A", 27, 9, 700) ++
        burst("B", 28, 1, 800)
    val out = EventAnalytics.seasonalNaiveForecast(ev(rows: _*),
      "event_type").orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getDouble(6)))
    assert(out.toSeq === Seq(
      ("A", 28L, 3L, 3.0, 0.0, 29L, 1.0),
      ("B", 28L, 1L, 0.0, 1.0, 29L, 0.0)))
  }

  test("cusum: closed form equals the max(0,·) recursion; level shift " +
      "alarms, stable series stays quiet") {
    // key A: baseline week 5,5,5,5,5,5,5 (s_base=35, μ₀=5, slack=3/7),
    // then a +3 level shift: 8,8,8,8,8 — CUSUM ramps and crosses
    // h = 2·μ₀ = 10 events; key B stays at 5 throughout (quiet).
    val countsA = Seq(5, 5, 5, 5, 5, 5, 5, 8, 8, 8, 8, 8)
    val countsB = Seq.fill(12)(5)
    def rowsOf(key: String, counts: Seq[Int], idBase: Long) =
      counts.zipWithIndex.flatMap { case (n, d) =>
        (0 until n).map(j => (100L + j, idBase + d * 100 + j, key,
          d * DayUs + j, 0.0))
      }
    val e = ev((rowsOf("A", countsA, 0L) ++
      rowsOf("B", countsB, 100000L)): _*)
    val out = EventAnalytics.cusumChangepoint(e, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
    // reference: the literal non-reset recursion in plain Scala
    def recur(counts: Seq[Int]): Seq[(Double, Double)] = {
      val sBase = counts.take(7).sum.toLong // 35
      val slack = sBase / 10                // 3 (scaled by B=7)
      var su = 0L; var sd = 0L
      counts.drop(7).map { n =>
        su = math.max(0L, su + (7L * n - sBase - slack))
        sd = math.max(0L, sd + (sBase - 7L * n - slack))
        (su / 7.0, sd / 7.0)
      }
    }
    val expA = recur(countsA)
    val gotA = out.filter(_._1 == "A")
    assert(gotA.length === 5)
    for (((eu, ed), i) <- expA.zipWithIndex) {
      assert(math.abs(gotA(i)._4 - eu) < 1e-6, s"cusum_up day $i")
      assert(math.abs(gotA(i)._5 - ed) < 1e-6, s"cusum_dn day $i")
    }
    // shift day k: S⁺ = k·(3 − 3/7) = k·18/7 → crosses 10 at day 4
    assert(gotA.map(_._6) === Seq(false, false, false, true, true))
    assert(gotA.forall(!_._7)) // no downward alarm
    val gotB = out.filter(_._1 == "B")
    assert(gotB.forall(r => r._4 == 0.0 && r._5 == 0.0 && !r._6 && !r._7))
  }

  test("cusum: dip below a noisy baseline trips the downward side " +
      "only; missing days read as zero counts") {
    // baseline 4,6,4,6,4,6,5 (s_base=35 again), then day 8-9 present
    // at 5, days 10-12 MISSING (gap-fill zeros) — the outage ramps S⁻
    // by (35−3)/7 per day and never touches S⁺
    val counts = Seq(4, 6, 4, 6, 4, 6, 5, 5, 5)
    val rows = counts.zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(j => (100L + j, d * 100L + j, "C",
        d * DayUs + j, 0.0))
    } :+ (999L, 99999L, "C", 12L * DayUs, 0.0) // day 12: one event
    val out = EventAnalytics.cusumChangepoint(ev(rows: _*), "event_type")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
    assert(out.length === 6) // days 7..12
    assert(out.map(_._2) === Seq(5L, 5L, 0L, 0L, 0L, 1L))
    // S⁻ scaled: day7 0−3→0, day8 0, then +32 per zero day: 32,64,96;
    // day12 n=1 → +25 ⇒ 121; alarm at > 70
    assert(out.map(_._4) === Seq(0.0, 0.0, 32 / 7.0, 64 / 7.0, 96 / 7.0,
      121 / 7.0).map(v => math.round(v * 1e6) / 1e6))
    assert(out.map(_._6) === Seq(false, false, false, false, true, true))
    assert(out.forall(r => r._3 == 0.0 && !r._5)) // upward side silent
  }

  test("acfLjungBox: hand-computed ramp ACF and Q; lag capped below " +
      "series length; constant series reads null; gaps zero-fill") {
    // counts [1,2,3,4]: d = [-1.5,-0.5,0.5,1.5]e6, den = 5e12
    // r1 = 1.25/5 = 0.25, r2 = -1.5/5 = -0.3, r3 = -2.25/5 = -0.45
    // Q1 = 24·(0.0625/3) = 0.5; Q2 = 24·(term1+0.045) = 1.58;
    // Q3 = +0.2025 → 6.44
    val rows = (0 until 4).flatMap(d =>
      (0 to d).map(i => (1L, d * 10L + i, "a", d * DayUs + i, 0.0))) ++
      // constant series b: 2 events/day over 3 days
      (0 until 3).flatMap(d =>
        (0 until 2).map(i => (2L, 100L + d * 10 + i, "b",
          d * DayUs + i, 0.0))) ++
      // gap series c: events on day 0 and day 2 only → 3 filled days
      Seq((3L, 200L, "c", 0L, 0.0), (3L, 201L, "c", 2L * DayUs, 0.0))
    val out = EventAnalytics.acfLjungBox(ev(rows: _*), "event_type")
      .collect()
    val a = out.filter(_.getString(0) == "a")
      .map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(a.toSeq === Seq((1L, 0.25, 0.5), (2L, -0.3, 1.58),
      (3L, -0.45, 6.44))) // no lag ≥ nd rows
    val b = out.filter(_.getString(0) == "b")
    assert(b.nonEmpty && b.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    val c = out.filter(_.getString(0) == "c")
    assert(c.forall(_.getLong(2) == 3L)) // the gap day is in the spine
    assert(c.head.getDouble(3) < 0) // spike-gap-spike anticorrelates
  }

  test("stlDecompose: a pure weekly pattern reads constant trend, " +
      "exact seasonal effects, zero residuals; 3-day edges are null") {
    // 21 days: 17 events on dow 0, 10 otherwise → any centered 7-day
    // mean is (6·10 + 17)/7 = 11; detrended = +6 on dow0, −1 else;
    // seasonal means recover those exactly; resid 0 wherever defined
    val rows = (0 until 21).flatMap { d =>
      val c = if (d % 7 == 0) 17 else 10
      (0 until c).map(i => (1L, d * 100L + i, "a", d * DayUs + i, 0.0))
    }
    val out = EventAnalytics.stlDecompose(ev(rows: _*), "event_type")
      .collect()
    assert(out.length === 21)
    val edge = out.filter(r => r.getLong(1) < 3 || r.getLong(1) > 17)
    assert(edge.forall(r => r.isNullAt(3) && r.isNullAt(5)))
    val mid = out.filter(r => r.getLong(1) >= 3 && r.getLong(1) <= 17)
    assert(mid.forall(_.getDouble(3) === 11.0))
    assert(mid.forall(r => r.getDouble(4) ===
      (if (r.getLong(1) % 7 == 0) 6.0 else -1.0)))
    assert(mid.forall(_.getDouble(5) === 0.0))
  }

  test("durbinWatson: alternating residuals read DW near 4; a " +
      "perfect line reads null DW; gaps zero-fill into the spine") {
    // a: counts [1..5] — exact line, residuals 0 → dw null
    // b: counts [2,0,2,0,2] — slope 0, a = 1.2, e = ±{0.8,−1.2},
    //    den = 4.8, num = 4·4 → DW = 16/4.8 (strong negative AC);
    //    days 1 and 3 have NO events: the calendar spine supplies them
    val rows = (0 until 5).flatMap(d => (0 to d).map(i =>
      (1L, d * 100L + i, "a", d * DayUs + i, 0.0))) ++
      Seq(0, 2, 4).flatMap(d => (0 until 2).map(i =>
        (2L, 900L + d * 10 + i, "b", d * DayUs + i, 0.0)))
    val out = EventAnalytics.durbinWatson(ev(rows: _*), "event_type")
      .collect()
    val a = out.filter(_.getString(0) == "a").head
    assert(a.getLong(1) === 5L && a.getDouble(2) === 1.0 &&
      a.getDouble(3) === 1.0 && a.isNullAt(4))
    val b = out.filter(_.getString(0) == "b").head
    assert(b.getLong(1) === 5L && b.getDouble(2) === 0.0 &&
      b.getDouble(3) === 1.2 && b.getDouble(4) === 3.333333)
  }

  test("theilSen: one outlier day cannot drag the slope; a perfect " +
      "line recovers exactly") {
    // a: counts [1,2,3,100,5] — 10 pairwise slopes, lower median 1;
    // residuals [1,1,1,97,1] → intercept 1 (OLS slope would be ~9.7)
    val rows = Seq((0, 1), (1, 2), (2, 3), (3, 100), (4, 5)).flatMap {
      case (d, c) => (0 until c).map(i =>
        (1L, d * 1000L + i, "a", d * DayUs + i, 0.0)) } ++
      Seq((0, 1), (1, 2), (2, 3)).flatMap { case (d, c) =>
        (0 until c).map(i => (2L, 9000L + d * 10 + i, "b",
          d * DayUs + i, 0.0)) }
    val out = EventAnalytics.theilSen(ev(rows: _*), "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq === Seq(("a", 5L, 10L, 1.0, 1.0),
      ("b", 3L, 3L, 1.0, 1.0)))
  }

  test("pageHinkley: hand-computed running-mean drift, self-tuned " +
    "lambda, alarm on the shift day only when lambda allows") {
    val s = spark; import s.implicits._
    // daily counts 2,2,2,8: μ = 3.5, δ = 0.05·μ = 0.175; terms
    // (n − prefix-mean − δ) = −.175, −.175, −.175, 4.325;
    // m = −.175, −.35, −.525, 3.8; deficit = 0,0,0,4.325
    val rows = Seq((0, 2), (1, 2), (2, 2), (3, 8)).flatMap {
      case (d, c) => (0 until c).map(i =>
        (1L, d * 100L + i, "a", d * DayUs + i, 0.0)) }
    // λ = 2·μ = 7 never trips
    val hi = EventAnalytics.pageHinkley(ev(rows: _*), "event_type")
      .collect().head
    assert(hi.getString(0) === "a" && hi.getLong(1) === 4L)
    assert(hi.getDouble(2) === 3.5 && hi.getDouble(3) === 4.325)
    assert(hi.isNullAt(4))
    // λ = 1·μ = 3.5 trips on day 3 (4.325 > 3.5)
    val lo = EventAnalytics.pageHinkleyFromDaily(
      EventAnalytics.daily(ev(rows: _*), "event_type"), "event_type",
      lambdaMeans = "1.0").collect().head
    assert(lo.getLong(4) === 3L)
  }

  test("mannKendall: strictly rising series reads S = pairs; " +
    "constant series zeroes the variance to a null z") {
    val s = spark; import s.implicits._
    // daily counts 1,2,3,4,5 → S = 10, no ties, Var = 300/18,
    // z = (10−1)/√16.6667
    val rising = (0 to 4).flatMap(d => (0 to d).map(i =>
      (1L, d * 100L + i, "a", d * DayUs + i, 0.0)))
    val out = EventAnalytics.mannKendall(ev(rising: _*), "event_type")
      .collect().head
    assert(out.getString(0) === "a" && out.getLong(1) === 5L)
    assert(out.getLong(2) === 10L)
    assert(out.getDouble(3) === 16.666667)
    assert(out.getDouble(4) === 2.204541)
    // constant 2,2,2: S = 0 and the single tie run t=3 exactly
    // cancels the variance → null z, not a blowup
    val flat = (0 to 2).flatMap(d => (0 until 2).map(i =>
      (1L, d * 100L + i, "b", d * DayUs + i, 0.0)))
    val f = EventAnalytics.mannKendall(ev(flat: _*), "event_type")
      .collect().head
    assert(f.getLong(2) === 0L && f.getDouble(3) === 0.0)
    assert(f.isNullAt(4))
  }

  test("pacfYuleWalker: the AR(1) signature — geometric rho cuts " +
    "PACF to zero past lag 1; fragments guard degenerate rho") {
    val s = spark
    // drive the closed forms directly off literal rho columns (the
    // fragments are the cross-engine spec; the ACF chain feeding them
    // has its own gate + oracle)
    val wide = s.sql("SELECT CAST(0.5 AS DOUBLE) AS rho1, " +
      "CAST(0.25 AS DOUBLE) AS rho2, CAST(0.125 AS DOUBLE) AS rho3")
    val out = wide.selectExpr(
      s"round(${EventAnalytics.phi22Sql}, 6) AS pacf2",
      s"round(${EventAnalytics.phi33Sql}, 6) AS pacf3",
      s"round(${EventAnalytics.phi21Sql}, 6) AS ar1").collect().head
    assert(out.getDouble(0) === 0.0) // (0.25 − 0.25)/(1 − 0.25)
    assert(out.getDouble(1) === 0.0) // AR(1): zero partial at lag 3
    assert(out.getDouble(2) === 0.5) // φ21 = ρ1(1 − 0)
    // |rho1| = 1 → null, not a division blowup
    val degen = s.sql("SELECT CAST(1.0 AS DOUBLE) AS rho1, " +
      "CAST(1.0 AS DOUBLE) AS rho2, CAST(1.0 AS DOUBLE) AS rho3")
      .selectExpr(s"${EventAnalytics.phi22Sql} AS p").collect().head
    assert(degen.isNullAt(0))
    // end-to-end shape: one row per key, pacf1 == rho1
    val rows = Seq((0, 1), (1, 3), (2, 2), (3, 5), (4, 4), (5, 6),
      (6, 3), (7, 7)).flatMap { case (d, c) => (0 until c).map(i =>
      (1L, d * 100L + i, "a", d * DayUs + i, 0.0)) }
    val e2e = EventAnalytics.pacfYuleWalker(ev(rows: _*), "event_type")
      .collect().head
    assert(e2e.getString(0) === "a" && e2e.getLong(1) === 8L)
    assert(e2e.getDouble(5) === e2e.getDouble(2)) // pacf1 = rho1
  }

  test("didEstimate: planted +10 arm-1 post effect over a common +5 " +
    "trend reads did 10 exactly; zero-variance cells read null se") {
    import org.apache.spark.sql.functions.col
    def variant(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$id".getBytes("UTF-8"))
      (BigInt(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
        % 2).toLong
    }
    // pre = u, post = u + 5 (+10 iff arm 1): the +5 common trend and
    // the per-user level u both cancel in the DiD, leaving exactly 10
    val rows = (1L to 40L).flatMap { u =>
      val lift = if (variant(u) == 1) 10.0 else 0.0
      Seq((u, 2 * u, "view", 1L, u.toDouble),
        (u, 2 * u + 1, "view", 100L, u.toDouble + 5.0 + lift))
    }
    val out = EventAnalytics.didEstimate(ev(rows: _*), "value",
      col("ts_us") < 50L).collect().head
    assert(out.getLong(0) + out.getLong(1) === 40L)
    assert(out.getLong(0) > 0L && out.getLong(1) > 0L)
    assert(out.getDouble(4) === 10.0)       // did
    assert(out.getDouble(3) - out.getDouble(2) === 10.0) // post-pre
    assert(out.getDouble(6) > 0.0)          // z follows the lift
    // constant pre/post everywhere: did 0, se2 = 0 -> null se/z
    val flat = (1L to 20L).flatMap { u =>
      Seq((u, 2 * u, "view", 1L, 1.0), (u, 2 * u + 1, "view", 100L, 2.0))
    }
    val deg = EventAnalytics.didEstimate(ev(flat: _*), "value",
      col("ts_us") < 50L).collect().head
    assert(deg.getDouble(4) === 0.0 && deg.isNullAt(5) && deg.isNullAt(6))
  }

  test("didPaired: same point estimate as the four-cell DiD, strictly " +
    "smaller SE on a positively pre/post-correlated fixture") {
    import org.apache.spark.sql.functions.col
    def variant(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$id".getBytes("UTF-8"))
      (BigInt(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
        % 2).toLong
    }
    // the didEstimate fixture: post = pre + 5 (+10 iff arm 1) — the
    // per-user level u makes pre/post PERFECTLY correlated, so the
    // per-user deltas are constant within each arm: paired SE must be
    // exactly 0 (degenerate → null se/z) while the four-cell SE reads
    // the full level spread. Add per-user noise to break the tie.
    val rows = (1L to 40L).flatMap { u =>
      val lift = if (variant(u) == 1) 10.0 else 0.0
      val noise = (u % 3).toDouble // delta varies: 5+lift+noise
      Seq((u, 2 * u, "view", 1L, u.toDouble),
        (u, 2 * u + 1, "view", 100L, u.toDouble + 5.0 + lift + noise))
    }
    val four = EventAnalytics.didEstimate(ev(rows: _*), "value",
      col("ts_us") < 50L).collect().head
    val paired = EventAnalytics.didPaired(ev(rows: _*), "value",
      col("ts_us") < 50L).collect().head
    assert(paired.getLong(0) === four.getLong(0) &&
      paired.getLong(1) === four.getLong(1))
    assert(paired.getDouble(4) === four.getDouble(4)) // identical did
    // mean deltas differ by exactly the did
    assert(BigDecimal(paired.getDouble(3) - paired.getDouble(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble ===
      paired.getDouble(4))
    // positive correlation: delta variance (noise only, var ≤ 1) ≪
    // four-cell variance (level spread u ~ 1..40) — paired SE smaller,
    // paired |z| larger
    assert(paired.getDouble(5) < four.getDouble(5))
    assert(math.abs(paired.getDouble(6)) > math.abs(four.getDouble(6)))
    // perfectly-correlated fixture (no noise): constant deltas per arm
    // BUT different constants across arms — within-arm variance 0, so
    // se2 = 0 reads null se/z (degenerate-null convention)
    val perfect = (1L to 20L).flatMap { u =>
      val lift = if (variant(u) == 1) 10.0 else 0.0
      Seq((u, 2 * u, "view", 1L, u.toDouble),
        (u, 2 * u + 1, "view", 100L, u.toDouble + 5.0 + lift))
    }
    val p2 = EventAnalytics.didPaired(ev(perfect: _*), "value",
      col("ts_us") < 50L).collect().head
    assert(p2.getDouble(4) === 10.0 && p2.isNullAt(5) && p2.isNullAt(6))
  }

  test("interruptedTimeSeries: exact two-segment lines read the " +
    "planted level and slope discontinuity; one-day segment reads null") {
    import org.apache.spark.sql.functions.col
    val day = 86400000000L
    // pre days 1..3: y = 9 + t (slope 1); post days 4..6:
    // y = 14 + 1.5 t (slope 1.5); t0 = 4 -> level 13 vs 20, change 7
    val rows = Seq(
      (1L, 1L, "m", 1 * day, 10.0), (1L, 2L, "m", 2 * day, 11.0),
      (1L, 3L, "m", 3 * day, 12.0), (1L, 4L, "m", 4 * day, 20.0),
      (1L, 5L, "m", 5 * day, 21.5), (1L, 6L, "m", 6 * day, 23.0))
    val out = EventAnalytics.interruptedTimeSeries(ev(rows: _*),
      "value", col("ts_us") < 4 * day).collect().head
    assert(out.getLong(0) === 3L && out.getLong(1) === 3L)
    assert(out.getDouble(2) === 1.0 && out.getDouble(3) === 1.5)
    assert(out.getDouble(4) === 0.5)
    assert(out.getDouble(5) === 7.0)
    // a single post day cannot fit a line -> null post slope/changes
    val one = EventAnalytics.interruptedTimeSeries(
      ev(rows.take(4): _*), "value", col("ts_us") < 4 * day)
      .collect().head
    assert(one.getLong(1) === 1L && one.isNullAt(3) && one.isNullAt(4) &&
      one.isNullAt(5))
  }
}
