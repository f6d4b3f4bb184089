package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventAnalytics, Hashing, TextModels}
import graft.queries.Tables.t
import graft.ops.Hashing.duckTokensSql

/** Event-stream product analytics and held-out language-model scoring
  * gates: funnel progression, retention cohorts, calendar gap-fill,
  * rolling anomaly flags (graft.ops.EventAnalytics) and the
  * stupid-backoff trigram LM (TextModels.trigramBackoffNll). Every
  * oracle is a full DuckDB replay; determinism notes live on the ops.
  */
object Analytics extends QueryModule {

  private def docs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")

  /** Operator parameters of the gates with a streaming twin in
    * [[StreamML]]: each twin reads them here, as it reads its oracle
    * from the batch gate's.
    */
  private[queries] val FunnelSteps = Seq("signup", "click", "purchase")
  private[queries] val FunnelWindowUs = 259200000000L // 3 days
  private[queries] val SeqTopK = 20

  /** DuckDB twin of the calendar that [[EventAnalytics.fillDaily]]
    * zero-fills over: CTE `grid(<cols> day)`, one row per day of each
    * `from` row's [d0, d1] span (`cols` lists the key columns, each
    * with its trailing comma).
    */
  private def duckGrid(cols: String, from: String): String =
    s"grid AS (SELECT ${cols}unnest(generate_series(d0, d1)) AS day " +
      s"FROM $from)"

  /** [[duckGrid]] per event type, over `daily(k, day, …)`. */
  private val duckKeyedGrid = duckGrid("k, ",
    "(SELECT k, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1)")

  /** DuckDB twin of [[EventAnalytics.daily]] then
    * [[EventAnalytics.fillDaily]] per event type: `daily(k, day, n)`,
    * the [[duckKeyedGrid]] and the zero-filled series `g(k, day, n)`.
    */
  private val duckDailySeries =
    s"""daily AS (
       |  SELECT event_type AS k, ${EventAnalytics.duckDay} AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |$duckKeyedGrid,
       |g AS (SELECT gr.k, gr.day, COALESCE(d.n, 0) AS n
       |  FROM grid gr LEFT JOIN daily d
       |    ON gr.k = d.k AND gr.day = d.day)""".stripMargin

  /** Spark's `round(double, d)`: HALF_UP on the double's shortest
    * decimal rendering. DuckDB's own `round(double, d)` scales by 10^d
    * in binary first, so a double just short of a tie rounds past it:
    * at sf0.1 the `sim_pca_*` mean of dim 63 is
    * -0.0013534414999999999, which Spark rounds to -0.001353441 and
    * DuckDB's `round` to -0.001353442.
    */
  private def duckRoundShortest(x: String, d: Int): String =
    s"round(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,24)), $d)"

  /** Shared WITH-body of the sim_pca_power / sim_pca_debias oracles:
    * the long-form decomposition, centering, and all six unrolled
    * power-iteration rounds (each CTE MATERIALIZED — plain CTEs inline
    * exponentially, the sim_kcenter_coreset lesson). Ends at v6/nm6.
    */
  private val pcaOracleCtes: String = {
    val rounds = (1 to 6).map { r =>
      val p = r - 1
      s"""dt$r AS MATERIALIZED (SELECT vec_id,
          CAST(round(CAST(SUM(CAST(c * v AS DECIMAL(38,15)))
            AS DOUBLE), 9) AS DECIMAL(18,9)) AS d
        FROM cx JOIN v$p USING (dim) GROUP BY 1),
      w$r AS MATERIALIZED (SELECT dim,
          CAST(round(CAST(SUM(CAST(c * d AS DECIMAL(38,18)))
            AS DOUBLE), 9) AS DECIMAL(18,9)) AS w
        FROM cx JOIN dt$r USING (vec_id) GROUP BY 1),
      nm$r AS MATERIALIZED (SELECT
          CAST(round(sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18)))
            AS DOUBLE)), 9) AS DECIMAL(18,9)) AS nrm FROM w$r),
      v$r AS MATERIALIZED (SELECT dim,
          CASE WHEN nrm > 0 THEN CAST(round(CAST(w AS DOUBLE) /
            CAST(nrm AS DOUBLE), 6) AS DECIMAL(18,6))
          ELSE CAST(1 AS DECIMAL(18,6)) END AS v
        FROM w$r CROSS JOIN nm$r)"""
    }.mkString(",\n      ")
    s"""xs AS MATERIALIZED (
        SELECT vec_id, t.i AS dim,
          CAST(round(CAST(t.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
        FROM (SELECT vec_id, unnest(list_transform(
                range(1, len(embedding) + 1),
                k -> {'i': CAST(k - 1 AS BIGINT), 'v': embedding[k]}))
                AS t
              FROM embeddings)),
      mu AS MATERIALIZED (SELECT dim,
          CAST(${duckRoundShortest(
            "CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 9)}
            AS DECIMAL(18,9)) AS mu
        FROM xs GROUP BY 1),
      cx AS MATERIALIZED (SELECT vec_id, xs.dim,
          CAST(x - mu AS DECIMAL(18,9)) AS c
        FROM xs JOIN mu ON xs.dim = mu.dim),
      v0 AS MATERIALIZED (SELECT dim, CAST(1 AS DECIMAL(18,6)) AS v
        FROM mu),
      $rounds"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- Ordered-step funnel over the event log: users reaching
    // signup → click → purchase in timestamp order (ties broken by
    // event_id), with per-step conversion rates. Each step is one
    // equi-join on user_id + one min-aggregate — the reached side
    // shrinks monotonically and broadcasts under AQE.
    QueryDef("e_funnel_steps", (s, d) => {
      EventAnalytics.funnel(
        Tables.events(s, d), Seq("signup", "click", "purchase"))
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      r0 AS (SELECT user_id, ts_us AS reach_ts, event_id AS reach_id FROM e
             WHERE event_type = 'signup'
             QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) = 1),
      r1 AS (SELECT e.user_id, e.ts_us AS reach_ts, e.event_id AS reach_id
             FROM e JOIN r0 USING (user_id)
             WHERE event_type = 'click' AND (e.ts_us > r0.reach_ts
               OR (e.ts_us = r0.reach_ts AND e.event_id > r0.reach_id))
             QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
               ORDER BY e.ts_us, e.event_id) = 1),
      r2 AS (SELECT e.user_id, e.ts_us AS reach_ts, e.event_id AS reach_id
             FROM e JOIN r1 USING (user_id)
             WHERE event_type = 'purchase' AND (e.ts_us > r1.reach_ts
               OR (e.ts_us = r1.reach_ts AND e.event_id > r1.reach_id))
             QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
               ORDER BY e.ts_us, e.event_id) = 1),
      c AS (
        SELECT CAST(0 AS BIGINT) AS step, 'signup' AS step_name,
          CAST(COUNT(*) AS BIGINT) AS n_users FROM r0
        UNION ALL SELECT 1, 'click', COUNT(*) FROM r1
        UNION ALL SELECT 2, 'purchase', COUNT(*) FROM r2)
      SELECT step, step_name, n_users,
        round(CAST(n_users AS DOUBLE) /
          CAST(lag(n_users) OVER (ORDER BY step) AS DOUBLE), 6)
          AS conv_prev,
        round(CAST(n_users AS DOUBLE) /
          CAST(first_value(n_users) OVER (ORDER BY step
            ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS conv_first
      FROM c ORDER BY step""")),

    // ---- Weekly retention cohort matrix: cohort by week of first
    // event, distinct-active counts at each week offset, rates off the
    // offset-0 diagonal. Integer `div` bucketing so both engines bin
    // identically.
    QueryDef("e_retention_cohorts", (s, d) => {
      EventAnalytics.retentionCohorts(Tables.events(s, d))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week
                 FROM events),
      f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1),
      m AS (SELECT cohort_week, week - cohort_week AS week_offset,
              CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
            FROM e JOIN f USING (user_id) GROUP BY 1, 2),
      sz AS (SELECT cohort_week, n_active AS cohort_size FROM m
             WHERE week_offset = 0)
      SELECT m.cohort_week, m.week_offset, m.n_active, sz.cohort_size,
        round(CAST(m.n_active AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE),
          6) AS retention
      FROM m JOIN sz USING (cohort_week)
      ORDER BY cohort_week, week_offset""")),

    // ---- Calendar gap-fill of the per-type daily series: zero-filled
    // counts + forward-filled mean value over each key's [min, max]
    // day span (running-non-null-count fill groups — the portable
    // forward-fill). Day means sum as DECIMAL then divide once, so the
    // double is engine-identical.
    QueryDef("e_gapfill_daily", (s, d) => {
      EventAnalytics.gapFillDaily(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH daily AS (
        SELECT event_type AS k, ${EventAnalytics.duckDay} AS day,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS day_value
        FROM events GROUP BY 1, 2),
      $duckKeyedGrid,
      j AS (SELECT g.k, g.day, COALESCE(d.n_events, 0) AS n_events,
              d.day_value
            FROM grid g LEFT JOIN daily d ON g.k = d.k AND g.day = d.day),
      f AS (SELECT k, day, n_events, day_value,
              COUNT(day_value) OVER (PARTITION BY k ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS grp
            FROM j)
      SELECT k AS event_type, day, n_events,
        MAX(day_value) OVER (PARTITION BY k, grp) AS filled_value
      FROM f ORDER BY event_type, day""")),

    // ---- Rolling z-score anomaly flags on the gap-filled daily count
    // series: trailing-7-day mean/sample-stddev (current day excluded),
    // |z| > 2 flags. Moments derive from exact integer window sums
    // through one fixed IEEE expression — bit-identical cross-engine.
    QueryDef("e_rolling_anomaly", (s, d) => {
      EventAnalytics.rollingAnomalies(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH daily AS (
        SELECT event_type AS k, ${EventAnalytics.duckDay} AS day,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
      $duckKeyedGrid,
      g AS (SELECT gr.k, gr.day, COALESCE(d.n_events, 0) AS n
            FROM grid gr LEFT JOIN daily d
              ON gr.k = d.k AND gr.day = d.day),
      w AS (SELECT k, day, n,
              COUNT(n) OVER t AS n_obs,
              SUM(n) OVER t AS s1,
              SUM(n * n) OVER t AS s2
            FROM g WINDOW t AS (PARTITION BY k ORDER BY day
              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      z AS (SELECT k, day, n, n_obs,
              CAST(s1 AS DOUBLE) / 7.0 AS mu,
              sqrt(greatest(CAST(s2 AS DOUBLE) -
                CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 7.0, 0.0)
                / 6.0) AS sigma
            FROM w)
      SELECT k AS event_type, day, n AS n_events,
        CASE WHEN n_obs = 7 THEN round(mu, 6) END AS mu,
        CASE WHEN n_obs = 7 THEN round(sigma, 6) END AS sigma,
        CASE WHEN n_obs = 7 AND sigma > 0
          THEN round((CAST(n AS DOUBLE) - mu) / sigma, 6) END AS z,
        COALESCE(abs(CASE WHEN n_obs = 7 AND sigma > 0
          THEN round((CAST(n AS DOUBLE) - mu) / sigma, 6) END) > 2.0,
          false) AS is_anomaly
      FROM z ORDER BY event_type, day""")),

    // ---- Autocorrelation + Ljung–Box whiteness check
    // (EventAnalytics.acfLjungBox): lags 1..10 of each zero-filled
    // daily count series. Deviations in integer micro-units off the
    // floor-truncated micro-mean, exact DECIMAL(38,0) product sums;
    // ACF one mirrored double division; Q terms round(,12) into
    // DECIMAL before the per-key cumulative window.
    QueryDef("e_acf_ljung_box", (s, d) => {
      EventAnalytics.acfLjungBox(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nd,
               (1000000 * CAST(SUM(n) AS BIGINT)) //
                 CAST(COUNT(*) AS BIGINT) AS mu6
             FROM g GROUP BY 1),
      dv AS (SELECT g.k, g.day, st.nd, 1000000 * g.n - st.mu6 AS d
             FROM g JOIN st ON g.k = st.k),
      dn AS (SELECT k, SUM(CAST(d AS DECIMAL(19,0)) * d) AS den
             FROM dv GROUP BY 1),
      lg AS (SELECT a.k, a.nd, l.lag,
               SUM(CAST(a.d AS DECIMAL(19,0)) * b.d) AS num
             FROM dv a
               JOIN (SELECT unnest(generate_series(1, 10)) AS lag) l
                 ON l.lag < a.nd
               JOIN dv b ON b.k = a.k AND b.day = a.day + l.lag
             GROUP BY 1, 2, 3),
      ac AS (SELECT lg.k, lg.lag, lg.nd,
               CASE WHEN dn.den > 0 THEN
                 round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
               END AS acf
             FROM lg JOIN dn ON lg.k = dn.k),
      cq AS (SELECT k, lag, nd, acf,
               SUM(CAST(round(acf * acf / CAST(nd - lag AS DOUBLE), 12)
                 AS DECIMAL(28,12))) OVER (PARTITION BY k ORDER BY lag
                 ROWS UNBOUNDED PRECEDING) AS qsum
             FROM ac)
      SELECT k AS event_type, CAST(lag AS BIGINT) AS lag,
        nd AS n_days, acf,
        round(CAST(nd AS DOUBLE) * (nd + 2) * CAST(qsum AS DOUBLE), 6)
          AS q
      FROM cq ORDER BY 1, 2""")),

    // ---- Mann–Kendall trend test (EventAnalytics.mannKendall): the
    // significance companion of e_theil_sen over the same
    // calendar-bounded daily pair frame — S and the tie term are
    // exact BIGINT folds, z one mirrored continuity-corrected IEEE
    // expression.
    QueryDef("e_mann_kendall", (s, d) => {
      EventAnalytics.mannKendall(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      sf AS (SELECT a.k,
               CAST(SUM(CAST(sign(b.n - a.n) AS BIGINT)) AS BIGINT) AS s
             FROM g a JOIN g b ON b.k = a.k AND b.day > a.day
             GROUP BY 1),
      tv AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS t
             FROM g GROUP BY k, n),
      ti AS (SELECT k, CAST(SUM(t) AS BIGINT) AS nd,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
             FROM tv GROUP BY 1)
      SELECT sf.k AS event_type, nd AS n_days, s,
        round((CAST(nd AS DOUBLE) * (nd - 1) * (2 * nd + 5) -
          CAST(tie AS DOUBLE)) / 18.0, 6) AS var_s,
        round(CASE WHEN
          (CAST(nd AS DOUBLE) * (nd - 1) * (2 * nd + 5) -
          CAST(tie AS DOUBLE)) / 18.0 > 0.0 THEN
          CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) ELSE
          CASE WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
          ELSE 0.0 END END /
          sqrt((CAST(nd AS DOUBLE) * (nd - 1) * (2 * nd + 5) -
          CAST(tie AS DOUBLE)) / 18.0) END, 6) AS z
      FROM sf JOIN ti ON sf.k = ti.k ORDER BY 1""")),

    // ---- PACF lags 1–3 + Yule–Walker AR(2) (EventAnalytics.
    // pacfYuleWalker): Durbin–Levinson closed forms over the SHARED
    // acfFromDaily chain's round-6 ρ₁..ρ₃ — the φ fragments are the
    // very SQL strings the Spark side executes (the zExprSql
    // convention), so the two engines run the identical IEEE op
    // sequence over identical fixed inputs.
    QueryDef("e_pacf_ar2", (s, d) => {
      EventAnalytics.pacfYuleWalker(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nd,
               (1000000 * CAST(SUM(n) AS BIGINT)) //
                 CAST(COUNT(*) AS BIGINT) AS mu6
             FROM g GROUP BY 1),
      dv AS (SELECT g.k, g.day, st.nd, 1000000 * g.n - st.mu6 AS d
             FROM g JOIN st ON g.k = st.k),
      dn AS (SELECT k, SUM(CAST(d AS DECIMAL(19,0)) * d) AS den
             FROM dv GROUP BY 1),
      lg AS (SELECT a.k, a.nd, l.lag,
               SUM(CAST(a.d AS DECIMAL(19,0)) * b.d) AS num
             FROM dv a
               JOIN (SELECT unnest(generate_series(1, 3)) AS lag) l
                 ON l.lag < a.nd
               JOIN dv b ON b.k = a.k AND b.day = a.day + l.lag
             GROUP BY 1, 2, 3),
      ac AS (SELECT lg.k, lg.lag, lg.nd,
               CASE WHEN dn.den > 0 THEN
                 round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
               END AS acf
             FROM lg JOIN dn ON lg.k = dn.k),
      wd AS (SELECT k, MAX(nd) AS n_days,
               MAX(CASE WHEN lag = 1 THEN acf END) AS rho1,
               MAX(CASE WHEN lag = 2 THEN acf END) AS rho2,
               MAX(CASE WHEN lag = 3 THEN acf END) AS rho3
             FROM ac GROUP BY 1)
      SELECT k AS event_type, n_days, rho1, rho2, rho3,
        round(rho1, 6) AS pacf1,
        round(${EventAnalytics.phi22Sql}, 6) AS pacf2,
        round(${EventAnalytics.phi33Sql}, 6) AS pacf3,
        round(${EventAnalytics.phi21Sql}, 6) AS ar1,
        round(${EventAnalytics.phi22Sql}, 6) AS ar2
      FROM wd ORDER BY 1""")),

    // ---- Page–Hinkley drift monitor (EventAnalytics.pageHinkley):
    // cumulated deviation from the RUNNING mean per zero-filled daily
    // series, self-tuned δ = 0.05·μ and λ = 2·μ; terms round(,9) into
    // DECIMAL so the running sum / running min are exact on both
    // engines.
    QueryDef("e_page_hinkley", (s, d) => {
      EventAnalytics.pageHinkley(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(n) AS BIGINT) AS s,
               CAST(round(CAST(SUM(n) AS DOUBLE) /
                 CAST(COUNT(*) AS DOUBLE), 9) AS DECIMAL(28,9)) AS mu9
             FROM g GROUP BY 1),
      st2 AS (SELECT *,
                CAST(round(CAST(mu9 AS DOUBLE) *
                  CAST('0.05' AS DOUBLE), 9) AS DECIMAL(28,9)) AS del9,
                CAST(round(CAST(mu9 AS DOUBLE) *
                  CAST('2.0' AS DOUBLE), 9) AS DECIMAL(28,9)) AS lam9
              FROM st),
      w AS (SELECT g.k, g.day, g.n, st2.nd, st2.mu9, st2.del9, st2.lam9,
              SUM(g.n) OVER (PARTITION BY g.k ORDER BY g.day
                ROWS UNBOUNDED PRECEDING) AS ps,
              ROW_NUMBER() OVER (PARTITION BY g.k ORDER BY g.day) AS i
            FROM g JOIN st2 ON g.k = st2.k),
      t AS (SELECT *,
              CAST(round(CAST(n AS DOUBLE) - CAST(ps AS DOUBLE) /
                CAST(i AS DOUBLE) - CAST(del9 AS DOUBLE), 9)
                AS DECIMAL(28,9)) AS term
            FROM w),
      m AS (SELECT *,
              SUM(term) OVER (PARTITION BY k ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS m
            FROM t),
      dq AS (SELECT *,
               m - MIN(m) OVER (PARTITION BY k ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS deficit
             FROM m)
      SELECT k AS event_type, MAX(nd) AS n_days,
        round(CAST(MAX(mu9) AS DOUBLE), 6) AS mu,
        round(CAST(MAX(deficit) AS DOUBLE), 6) AS max_deficit,
        MIN(CASE WHEN deficit > lam9 THEN day END) AS alarm_day
      FROM dq GROUP BY 1 ORDER BY 1""")),

    // ---- Theil–Sen robust daily trend (EventAnalytics.theilSen):
    // median pairwise slope + median residual intercept per zero-filled
    // daily count series — slopes round(,9) into DECIMAL, exact lower
    // medians with (da, db) tie-breaks, residuals exact DECIMAL
    // products of the selected slope.
    QueryDef("e_theil_sen", (s, d) => {
      EventAnalytics.theilSen(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      p AS (SELECT a.k, a.day AS da, b.day AS db,
              CAST(round(CAST(b.n - a.n AS DOUBLE) /
                CAST(b.day - a.day AS DOUBLE), 9) AS DECIMAL(18,9)) AS sl
            FROM g a JOIN g b ON b.k = a.k AND b.day > a.day),
      w AS (SELECT k, sl,
              ROW_NUMBER() OVER (PARTITION BY k ORDER BY sl, da, db)
                AS rn,
              COUNT(*) OVER (PARTITION BY k) AS np
            FROM p),
      md AS (SELECT k, CAST(MAX(np) AS BIGINT) AS n_pairs,
               MAX(CASE WHEN rn = (np + 1) // 2 THEN sl END) AS slope
             FROM w GROUP BY 1),
      r AS (SELECT g.k, g.day, md.n_pairs, md.slope,
              CAST(g.n AS DECIMAL(18,9)) - md.slope * g.day AS res
            FROM g JOIN md ON g.k = md.k),
      wr AS (SELECT *,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY res, day)
                 AS rn,
               COUNT(*) OVER (PARTITION BY k) AS ndays
             FROM r)
      SELECT k AS event_type, CAST(MAX(ndays) AS BIGINT) AS n_days,
        n_pairs,
        round(CAST(slope AS DOUBLE), 6) AS slope,
        round(CAST(MAX(CASE WHEN rn = (ndays + 1) // 2 THEN res END)
          AS DOUBLE), 6) AS intercept
      FROM wr GROUP BY k, n_pairs, slope ORDER BY 1""")),

    // ---- Durbin–Watson serial-correlation test (EventAnalytics.
    // durbinWatson): OLS trend per zero-filled daily series from five
    // exact-BIGINT moments, DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² with per-row terms
    // round(,9) into DECIMAL — the one-number fold of what
    // e_acf_ljung_box asks lag-by-lag.
    QueryDef("e_durbin_watson", (s, d) => {
      EventAnalytics.durbinWatson(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      m0 AS (SELECT k, MIN(day) AS d0 FROM g GROUP BY 1),
      xy AS (SELECT g.k, g.day, g.day - m0.d0 AS x, g.n AS y
             FROM g JOIN m0 ON g.k = m0.k),
      mo AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
             FROM xy GROUP BY 1),
      ab AS (SELECT k, nd, sx, sy,
               CASE WHEN nd * sxx - sx * sx > 0 THEN
                 CAST(nd * sxy - sx * sy AS DOUBLE) /
                 CAST(nd * sxx - sx * sx AS DOUBLE) END AS b
             FROM mo),
      ab2 AS (SELECT k, nd, b,
                (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) /
                  CAST(nd AS DOUBLE) AS a
              FROM ab),
      e AS (SELECT xy.k, xy.day, nd, b, a,
              CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE) AS e
            FROM xy JOIN ab2 ON xy.k = ab2.k),
      l AS (SELECT k, nd, b, a, e,
              lag(e) OVER (PARTITION BY k ORDER BY day) AS ep
            FROM e),
      t AS (SELECT k, nd, b, a,
              CAST(round(e * e, 9) AS DECIMAL(28,9)) AS dent,
              CASE WHEN ep IS NOT NULL THEN CAST(round(
                (e - ep) * (e - ep), 9) AS DECIMAL(28,9)) END AS numt
            FROM l)
      SELECT k AS event_type, CAST(MAX(nd) AS BIGINT) AS n_days,
        round(MAX(b), 6) AS slope, round(MAX(a), 6) AS intercept,
        round(CASE WHEN SUM(dent) > 0 THEN
          CAST(SUM(numt) AS DOUBLE) / CAST(SUM(dent) AS DOUBLE)
        END, 6) AS dw
      FROM t GROUP BY k ORDER BY 1""")),

    // ---- STL-lite seasonal decomposition (EventAnalytics.
    // stlDecompose): n = centered-7-day-MA trend + day-of-cycle
    // seasonal + resid per zero-filled daily series. Exact integer
    // window sums, DECIMAL detrended values, honest null edges.
    QueryDef("e_stl_decompose", (s, d) => {
      EventAnalytics.stlDecompose(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH $duckDailySeries,
      t AS (SELECT k, day, n,
              COUNT(*) OVER c AS n_obs, SUM(n) OVER c AS s7
            FROM g WINDOW c AS (PARTITION BY k ORDER BY day
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      tt AS (SELECT k, day, n,
               CASE WHEN n_obs = 7 THEN
                 round(CAST(s7 AS DOUBLE) / 7.0, 6) END AS trend,
               day % 7 AS dow
             FROM t),
      dt AS (SELECT *, CAST(round(CAST(n AS DOUBLE) - trend, 6)
               AS DECIMAL(18,6)) AS det FROM tt),
      se AS (SELECT k, dow,
               CAST(round(CAST(round(CAST(SUM(det) AS DOUBLE) /
                 CAST(COUNT(*) AS DOUBLE), 9) AS DECIMAL(18,9)), 6)
                 AS DOUBLE) AS seasonal
             FROM dt WHERE det IS NOT NULL GROUP BY 1, 2)
      SELECT dt.k AS event_type, dt.day, dt.n, dt.trend, se.seasonal,
        round(CAST(dt.n AS DOUBLE) - dt.trend - se.seasonal, 6) AS resid
      FROM dt LEFT JOIN se ON dt.k = se.k AND dt.dow = se.dow
      ORDER BY 1, 2""")),

    // ---- Fixed-width histogram: 20 bins over the global [min, max]
    // (Stats.histogram — a 1-row range frame broadcast into one
    // binning aggregate; empty bins are absent by construction).
    QueryDef("a_histogram", (s, d) => {
      graft.ops.Stats.histogram(t(s, d, "lineitem"),
        "l_extendedprice", 20)
    }, Some("""
      WITH mm AS (SELECT MIN(l_extendedprice) AS mn,
                    MAX(l_extendedprice) AS mx FROM lineitem),
      b AS (SELECT CASE WHEN mx > mn THEN
              least(CAST(floor((l_extendedprice - mn) /
                ((mx - mn) / 20.0)) AS BIGINT), 19) ELSE 0 END AS bin
            FROM lineitem CROSS JOIN mm)
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        round(mn + CAST(bin AS DOUBLE) * ((mx - mn) / 20.0), 6)
          AS lo_edge,
        round(mn + (CAST(bin AS DOUBLE) + 1.0) * ((mx - mn) / 20.0), 6)
          AS hi_edge
      FROM b CROSS JOIN mm GROUP BY bin, mn, mx ORDER BY bin""")),

    // ---- Exact Pearson correlation matrix over the lineitem numerics
    // (Stats.correlationMatrix): every moment is an exact DECIMAL sum
    // (inputs carry 2 decimals, products 4) combined through one fixed
    // IEEE expression — never the engine's own corr/stddev, whose
    // accumulation order differs. ONE aggregate, ONE scan, pairs rows.
    QueryDef("a_correlation", (s, d) => {
      graft.ops.Stats.correlationMatrix(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    }, Some("""
      WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_0,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_1,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_2,
        CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS s_3,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_00,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_01,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_02,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_03,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_11,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_12,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_13,
        CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_22,
        CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_23,
        CAST(SUM(CAST(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_33
        FROM lineitem),
      prs AS (
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
          round((n * p_01 - s_0 * s_1) / (sqrt(n * p_00 - s_0 * s_0) *
            sqrt(n * p_11 - s_1 * s_1)), 6) AS corr FROM m
        UNION ALL SELECT 'l_quantity', 'l_discount',
          round((n * p_02 - s_0 * s_2) / (sqrt(n * p_00 - s_0 * s_0) *
            sqrt(n * p_22 - s_2 * s_2)), 6) FROM m
        UNION ALL SELECT 'l_quantity', 'l_tax',
          round((n * p_03 - s_0 * s_3) / (sqrt(n * p_00 - s_0 * s_0) *
            sqrt(n * p_33 - s_3 * s_3)), 6) FROM m
        UNION ALL SELECT 'l_extendedprice', 'l_discount',
          round((n * p_12 - s_1 * s_2) / (sqrt(n * p_11 - s_1 * s_1) *
            sqrt(n * p_22 - s_2 * s_2)), 6) FROM m
        UNION ALL SELECT 'l_extendedprice', 'l_tax',
          round((n * p_13 - s_1 * s_3) / (sqrt(n * p_11 - s_1 * s_1) *
            sqrt(n * p_33 - s_3 * s_3)), 6) FROM m
        UNION ALL SELECT 'l_discount', 'l_tax',
          round((n * p_23 - s_2 * s_3) / (sqrt(n * p_22 - s_2 * s_2) *
            sqrt(n * p_33 - s_3 * s_3)), 6) FROM m)
      SELECT col_x, col_y, corr FROM prs ORDER BY col_x, col_y""")),

    // ---- First-order partial correlation (Stats.partialCorrelation):
    // quantity vs extendedprice with discount held fixed — the SAME
    // correlationMatrix moment fold pivoted to one row, the partial
    // computed from the ROUNDED pairwise correlations (the cramersV
    // convention).
    QueryDef("a_partial_corr", (s, d) => {
      graft.ops.Stats.partialCorrelation(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", "l_discount")
    }, Some("""
      WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_0,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_1,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_2,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_00,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_01,
        CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_02,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_11,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_12,
        CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS p_22
        FROM lineitem),
      r AS (SELECT
        round((n * p_01 - s_0 * s_1) / (sqrt(n * p_00 - s_0 * s_0) *
          sqrt(n * p_11 - s_1 * s_1)), 6) AS r_xy,
        round((n * p_02 - s_0 * s_2) / (sqrt(n * p_00 - s_0 * s_0) *
          sqrt(n * p_22 - s_2 * s_2)), 6) AS r_xz,
        round((n * p_12 - s_1 * s_2) / (sqrt(n * p_11 - s_1 * s_1) *
          sqrt(n * p_22 - s_2 * s_2)), 6) AS r_yz
        FROM m)
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        'l_discount' AS col_z, r_xy, r_xz, r_yz,
        round(CASE WHEN (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0
          THEN (r_xy - r_xz * r_yz) /
            sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) END, 6)
          AS r_partial
      FROM r""")),

    // ---- Wilson score interval (Stats.wilsonCi): per-priority
    // proportion of high-value orders with the asymmetric binomial CI
    // — one hash aggregate of exact BIGINT (n, k), the closed form in
    // double off those exact counts.
    QueryDef("a_wilson_ci", (s, d) => {
      graft.ops.Stats.wilsonCi(t(s, d, "orders"), "o_orderpriority",
        col("o_totalprice") > 150000)
    }, Some("""
      WITH g AS (SELECT o_orderpriority AS g,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1
                 ELSE 0 END) AS BIGINT) AS k
             FROM orders GROUP BY 1),
      w AS (SELECT g, n, k,
              CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
              (CAST(k AS DOUBLE) / CAST(n AS DOUBLE) +
                CAST(1.959964 AS DOUBLE) * CAST(1.959964 AS DOUBLE) /
                (2.0 * CAST(n AS DOUBLE))) /
                (1.0 + CAST(1.959964 AS DOUBLE) *
                CAST(1.959964 AS DOUBLE) / CAST(n AS DOUBLE)) AS c,
              CAST(1.959964 AS DOUBLE) *
                sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) *
                (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) /
                CAST(n AS DOUBLE) + CAST(1.959964 AS DOUBLE) *
                CAST(1.959964 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE) *
                CAST(n AS DOUBLE))) /
                (1.0 + CAST(1.959964 AS DOUBLE) *
                CAST(1.959964 AS DOUBLE) / CAST(n AS DOUBLE)) AS h
            FROM g)
      SELECT g AS o_orderpriority, n, k, round(p, 6) AS p_hat,
        round(c - h, 6) AS ci_lo, round(c + h, 6) AS ci_hi
      FROM w ORDER BY 1""")),

    // ---- Mutual information I(returnflag; linestatus) in nats
    // (Stats.mutualInformation): joint = one (x,y) aggregate, marginals
    // derived from the joint and broadcast, per-cell terms round(,9)
    // into DECIMAL — the feature-selection dependence measure.
    QueryDef("a_mutual_info", (s, d) => {
      graft.ops.Stats.mutualInformation(t(s, d, "lineitem"),
        "l_returnflag", "l_linestatus")
    }, Some("""
      WITH joint AS (SELECT l_returnflag AS x, l_linestatus AS y,
               CAST(COUNT(*) AS BIGINT) AS nxy
             FROM lineitem GROUP BY 1, 2),
      mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint
             GROUP BY 1),
      my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint
             GROUP BY 1),
      tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint),
      terms AS (SELECT n,
          CAST(round((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)) *
            ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)) /
            (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9)
            AS DECIMAL(20,9)) AS term
        FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot)
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_cells,
        round(CAST(SUM(term) AS DOUBLE), 6) AS mi
      FROM terms GROUP BY n""")),

    // ---- Per-group z-score normalization (Stats.groupZscore): group
    // mean/population-stddev from exact decimal sums, broadcast back,
    // per-row z. The feature-standardization step, keyed by group.
    QueryDef("f_zscore_group", (s, d) => {
      graft.ops.Stats.groupZscore(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_quantity"),
        "l_returnflag", "l_quantity")
    }, Some("""
      WITH st AS (SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
            CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS s2
        FROM lineitem GROUP BY 1)
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        CASE WHEN sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) > 0
          THEN round((CAST(l_quantity AS DOUBLE) - s1 / n) /
            sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 6)
        END AS l_quantity_z
      FROM lineitem JOIN st USING (l_returnflag)
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- Winsorization: clamp a numeric column into its [p01, p99]
    // EXACT quantile range (Clean.winsorize — bounds via the two-phase
    // global ordinal, collapsed to one broadcast row; the clamp is a
    // per-row projection). The standard outlier robustification before
    // feature normalization.
    QueryDef("f_winsorize_price", (s, d) => {
      graft.ops.Clean.winsorize(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice",
        Seq(asc("l_orderkey"), asc("l_linenumber")))
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_extendedprice_w")
    }, Some("""
      WITH o AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
                   ROW_NUMBER() OVER (ORDER BY l_extendedprice,
                     l_orderkey, l_linenumber) AS r
                 FROM lineitem),
      n AS (SELECT COUNT(*) AS n FROM lineitem),
      b AS (SELECT
              MIN(CASE WHEN r = CAST(ceil(CAST(0.01 AS DECIMAL(20,10))
                * n) AS BIGINT) THEN l_extendedprice END) AS lo,
              MIN(CASE WHEN r = CAST(ceil(CAST(0.99 AS DECIMAL(20,10))
                * n) AS BIGINT) THEN l_extendedprice END) AS hi
            FROM o CROSS JOIN n)
      SELECT l_orderkey, l_linenumber, l_extendedprice,
        least(greatest(l_extendedprice, lo), hi) AS l_extendedprice_w
      FROM o CROSS JOIN b
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- Rademacher random projection (Achlioptas 2001): JL
    // dimensionality reduction 64 → 8 with a ±1 matrix recomputed
    // entrywise from md5(plane, dim) — nothing broadcast, nothing
    // trained. Per-term products round(,9) into DECIMAL so the
    // (vec, plane) sums are order-independent.
    // ---- PCA: top principal component by 6 power iterations
    // (Similarity.pcaPower — a driver-local exact fold on bounded
    // corpora, the distributed wide loop above the guard) — exact
    // DECIMAL dot products and recombinations (no IEEE fold anywhere),
    // round-9 per round, deterministic all-ones start.
    // The oracle unrolls all six rounds (MATERIALIZED — plain CTEs
    // inline exponentially, the sim_kcenter_coreset lesson).
    QueryDef("sim_pca_power", (s, d) => {
      graft.ops.Similarity.pcaPower(t(s, d, "embeddings"))
    }, Some(s"""
      WITH $pcaOracleCtes
      SELECT dim, round(CAST(v AS DOUBLE), 6) AS loading,
        round(CAST(nrm AS DOUBLE), 6) AS lambda
      FROM v6 CROSS JOIN nm6 ORDER BY 1""")),

    // ---- Dominant-direction removal (Similarity.pcaDebias — Mu &
    // Viswanath's "all-but-the-top", first component): each centered
    // embedding projected off the sim_pca_power component; emits the
    // before/after norms and removed variance fraction. p rounds(,6)
    // so c − p·v is an EXACT decimal with no mid-cast rounding.
    QueryDef("sim_pca_debias", (s, d) => {
      graft.ops.Similarity.pcaDebias(t(s, d, "embeddings"))
    }, Some(s"""
      WITH $pcaOracleCtes,
      pp AS MATERIALIZED (SELECT vec_id,
          CAST(round(CAST(SUM(CAST(c * v AS DECIMAL(38,15)))
            AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
        FROM cx JOIN v6 USING (dim) GROUP BY 1),
      nr AS (SELECT cx.vec_id,
               SUM(CAST(c * c AS DECIMAL(38,18))) AS ss,
               SUM(CAST(CAST(c - p * v AS DECIMAL(18,12)) *
                 CAST(c - p * v AS DECIMAL(18,12)) AS DECIMAL(38,24)))
                 AS rr
             FROM cx JOIN pp ON cx.vec_id = pp.vec_id
               JOIN v6 ON cx.dim = v6.dim
             GROUP BY 1)
      SELECT vec_id, round(sqrt(CAST(ss AS DOUBLE)), 6) AS norm,
        round(sqrt(CAST(rr AS DOUBLE)), 6) AS resid_norm,
        round(CASE WHEN ss > 0 THEN 1.0 - CAST(rr AS DOUBLE) /
          CAST(ss AS DOUBLE) END, 6) AS removed_frac
      FROM nr ORDER BY vec_id""")),

    QueryDef("sim_random_projection", (s, d) => {
      // Driver-comparable boundary: the comparator handles scalar
      // columns only, so the projected vector leaves as a fixed-scale
      // decimal-string CSV (double JSON formatting differs between
      // engines; DECIMAL(20,6) strings do not).
      graft.ops.Quantize.randomProject(t(s, d, "embeddings"), 8)
        .select(col("vec_id"),
          concat_ws(",", expr(
            "transform(proj, x -> cast(cast(x as decimal(20,6)) as string))"))
            .as("proj"))
    }, Some("""
      WITH el AS (SELECT vec_id, t.i AS i, CAST(t.v AS DOUBLE) AS v
                  FROM (SELECT vec_id, unnest(list_transform(
                          range(1, len(embedding) + 1),
                          x -> {'i': x - 1, 'v': embedding[x]})) AS t
                        FROM embeddings)),
      ej AS (SELECT vec_id, pl.j AS j, i, v,
               (CAST(('0x' || substring(md5('rp|' ||
                 CAST(pl.j AS VARCHAR) || ',' || CAST(i AS VARCHAR)),
                 1, 15)) AS BIGINT) % 2) * 2 - 1 AS sign
             FROM el CROSS JOIN (SELECT unnest(range(0, 8)) AS j) pl),
      s AS (SELECT vec_id, j,
              round(CAST(SUM(CAST(round(v * CAST(sign AS DOUBLE), 9)
                AS DECIMAL(20,9))) AS DOUBLE) / sqrt(8.0), 6) AS y
            FROM ej GROUP BY 1, 2)
      SELECT vec_id,
        string_agg(CAST(CAST(y AS DECIMAL(20,6)) AS VARCHAR), ','
          ORDER BY j) AS proj
      FROM s GROUP BY vec_id ORDER BY vec_id""")),

    // ---- Feature-hashing vectorization (hashing trick, Weinberger
    // 2009): token → md5 bucket mod 256 with a ±1 sign hash; document
    // vectors are signed counts per bucket, sparse form, no vocabulary
    // table. One explode → one (doc, bucket) aggregate.
    QueryDef("m_feature_hash", (s, d) => {
      TextModels.featureHash(docs(s, d), 256)
    }, Some(s"""
      WITH toks AS (SELECT doc_id,
             unnest($duckTokensSql) AS tok
           FROM documents),
      h AS (SELECT doc_id,
              CAST(('0x' || substring(md5(tok),1,15)) AS BIGINT) % 256
                AS idx,
              (CAST(('0x' || substring(md5('sign|' || tok),1,15))
                AS BIGINT) % 2) * 2 - 1 AS sign
            FROM toks)
      SELECT doc_id, idx, CAST(SUM(sign) AS BIGINT) AS weight
      FROM h GROUP BY 1, 2 HAVING SUM(sign) <> 0
      ORDER BY doc_id, idx""")),

    // ---- SQ8 scalar quantization of the embedding corpus (FAISS
    // QT_8bit scheme): per-dimension [min,max] affine map to one byte
    // + per-vector reconstruction MSE. The range model is a dims-row
    // broadcast; floor (not round) so no half-way ties; squared errors
    // round(,12) into DECIMAL before the order-independent sum.
    QueryDef("sim_sq8_quantize", (s, d) => {
      // Driver-comparable boundary: codes leave as a JSON string (the
      // a4_collect_sorted convention — integer JSON is engine-stable).
      graft.ops.Quantize.sq8(t(s, d, "embeddings"))
        .select(col("vec_id"), to_json(col("codes")).as("codes"),
          col("dims"), col("mse"))
    }, Some("""
      WITH el AS (SELECT vec_id, t.d AS dim, CAST(t.v AS DOUBLE) AS v
                  FROM (SELECT vec_id, unnest(list_transform(
                          range(1, len(embedding) + 1),
                          i -> {'d': i - 1, 'v': embedding[i]})) AS t
                        FROM embeddings)),
      r AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM el GROUP BY 1),
      c AS (SELECT vec_id, dim, v, mn, mx,
              CASE WHEN mx > mn THEN least(CAST(floor(((v - mn) /
                (mx - mn)) * 256) AS BIGINT), 255) ELSE 0 END AS q
            FROM el JOIN r USING (dim)),
      e AS (SELECT vec_id, dim, q,
              CAST(round(
                (v - (mn + ((CAST(q AS DOUBLE) + 0.5) * (mx - mn))
                  / 256.0)) *
                (v - (mn + ((CAST(q AS DOUBLE) + 0.5) * (mx - mn))
                  / 256.0)), 12) AS DECIMAL(24,12)) AS se
            FROM c)
      SELECT vec_id, to_json(list(q ORDER BY dim))::VARCHAR AS codes,
        CAST(COUNT(*) AS BIGINT) AS dims,
        round(CAST(SUM(se) AS DOUBLE) / COUNT(*), 6) AS mse
      FROM e GROUP BY vec_id ORDER BY vec_id""")),

    // ---- Composed event-insights pipeline: gap-sessionize →
    // within-session ordered funnel → daily rollup → gap-filled
    // trailing z-score anomaly flags — four gated operator shapes as
    // ONE flow, oracle replaying every stage.
    QueryDef("pipe_event_insights", (s, d) => {
      EventAnalytics.sessionInsights(Tables.events(s, d),
        600000000L, Seq("signup", "click", "purchase"))
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      flg AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1
               ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us,
          event_id)),
      sess AS (SELECT user_id, event_id, event_type, ts_us,
          CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us,
            event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM flg),
      r0 AS (SELECT user_id, session_seq, ts_us AS rts, event_id AS rid
             FROM sess WHERE event_type = 'signup'
             QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
               ORDER BY ts_us, event_id) = 1),
      r1 AS (SELECT s.user_id, s.session_seq, s.ts_us AS rts,
               s.event_id AS rid
             FROM sess s JOIN r0 ON s.user_id = r0.user_id
               AND s.session_seq = r0.session_seq
             WHERE s.event_type = 'click' AND (s.ts_us > r0.rts
               OR (s.ts_us = r0.rts AND s.event_id > r0.rid))
             QUALIFY ROW_NUMBER() OVER (PARTITION BY s.user_id,
               s.session_seq ORDER BY s.ts_us, s.event_id) = 1),
      r2 AS (SELECT s.user_id, s.session_seq, s.ts_us AS rts,
               s.event_id AS rid
             FROM sess s JOIN r1 ON s.user_id = r1.user_id
               AND s.session_seq = r1.session_seq
             WHERE s.event_type = 'purchase' AND (s.ts_us > r1.rts
               OR (s.ts_us = r1.rts AND s.event_id > r1.rid))
             QUALIFY ROW_NUMBER() OVER (PARTITION BY s.user_id,
               s.session_seq ORDER BY s.ts_us, s.event_id) = 1),
      sessions AS (SELECT user_id, session_seq, MIN(ts_us) AS start_us
                   FROM sess GROUP BY 1, 2),
      conv AS (SELECT s.start_us, r2.user_id IS NOT NULL AS conv
               FROM sessions s LEFT JOIN r2 ON s.user_id = r2.user_id
                 AND s.session_seq = r2.session_seq),
      daily AS (SELECT start_us // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS n_sessions,
                  CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_converted
                FROM conv GROUP BY 1),
      ${duckGrid("", "(SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily)")},
      g AS (SELECT grid.day, COALESCE(d.n_sessions, 0) AS n_sessions,
              COALESCE(d.n_converted, 0) AS n_converted
            FROM grid LEFT JOIN daily d ON grid.day = d.day),
      w AS (SELECT day, n_sessions, n_converted,
              COUNT(n_sessions) OVER t AS n_obs,
              SUM(n_sessions) OVER t AS s1,
              SUM(n_sessions * n_sessions) OVER t AS s2
            FROM g WINDOW t AS (ORDER BY day
              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      z AS (SELECT day, n_sessions, n_converted, n_obs,
              sqrt(greatest(CAST(s2 AS DOUBLE) -
                CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 7.0, 0.0)
                / 6.0) AS sigma,
              CAST(s1 AS DOUBLE) / 7.0 AS mu
            FROM w)
      SELECT day, n_sessions, n_converted,
        CASE WHEN n_sessions > 0 THEN
          round(CAST(n_converted AS DOUBLE) / CAST(n_sessions AS DOUBLE),
            6) END AS conv_rate,
        CASE WHEN n_obs = 7 AND sigma > 0 THEN
          round((CAST(n_sessions AS DOUBLE) - mu) / sigma, 6) END AS z,
        COALESCE(abs(CASE WHEN n_obs = 7 AND sigma > 0 THEN
          round((CAST(n_sessions AS DOUBLE) - mu) / sigma, 6) END)
          > 2.0, false) AS is_anomaly
      FROM z ORDER BY day""")),

    // ---- Per-key interval merge (Intervals.mergeIntervals): events
    // become 10-minute spans [ts, ts+600s]; overlapping/touching spans
    // per user coalesce through the sweep-line windows (running max of
    // prior ends → break flags → running break count) + one (key,
    // group) aggregate — the span twin of gap sessionization.
    QueryDef("w_interval_merge", (s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        col("ts_us").as("s0"), (col("ts_us") + lit(600000000L)).as("e0"))
      graft.ops.Intervals.mergeIntervals(iv, Seq("user_id"), "s0", "e0")
    }, Some("""
      WITH iv AS (SELECT user_id, epoch_us(ts) AS s0,
                    epoch_us(ts) + 600000000 AS e0 FROM events),
      pm AS (SELECT user_id, s0, e0,
               max(e0) OVER (PARTITION BY user_id ORDER BY s0, e0
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             FROM iv),
      w AS (SELECT user_id, s0, e0,
              CASE WHEN pmax IS NULL OR s0 > pmax THEN 1 ELSE 0 END
                AS brk
            FROM pm),
      g AS (SELECT user_id, s0, e0,
              SUM(brk) OVER (PARTITION BY user_id ORDER BY s0, e0
                ROWS UNBOUNDED PRECEDING) AS grp
            FROM w)
      SELECT user_id, MIN(s0) AS start, MAX(e0) AS "end",
        CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM g GROUP BY user_id, grp ORDER BY user_id, start""")),

    // ---- Robust outlier flags via the median/MAD modified z-score
    // (Clean.madOutliers, Iglewicz–Hoaglin): two exact-quantile passes
    // (two-phase ordinals, no single-task sort) collapse to broadcast
    // rows; the score is a per-row projection. events.value has a
    // heavy tail, so genuine outliers flag.
    QueryDef("a_mad_outliers", (s, d) => {
      graft.ops.Clean.madOutliers(
        Tables.events(s, d).select("event_id", "value"),
        "value", Seq(asc("event_id")))
    }, Some("""
      WITH e AS (SELECT event_id, value AS v FROM events),
      o AS (SELECT event_id, v,
              ROW_NUMBER() OVER (ORDER BY v, event_id) AS r FROM e),
      n AS (SELECT COUNT(*) AS n FROM e),
      med AS (SELECT v AS med FROM o CROSS JOIN n
              WHERE r = CAST(ceil(CAST(0.5 AS DECIMAL(20,10)) * n)
                AS BIGINT)),
      dev AS (SELECT event_id, v, abs(v - med) AS ad, med
              FROM e CROSS JOIN med),
      o2 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ad, event_id) AS r2
             FROM dev),
      mad AS (SELECT ad AS mad FROM o2 CROSS JOIN n
              WHERE r2 = CAST(ceil(CAST(0.5 AS DECIMAL(20,10)) * n)
                AS BIGINT))
      SELECT event_id, v AS value,
        CASE WHEN mad > 0 THEN
          round(0.6744897501960817 * (v - med) / mad, 6) END AS value_rz,
        COALESCE(abs(CASE WHEN mad > 0 THEN
          round(0.6744897501960817 * (v - med) / mad, 6) END) > 3.5,
          false) AS is_outlier
      FROM dev CROSS JOIN mad ORDER BY event_id""")),

    // ---- Smoothed target encoding of a categorical against a numeric
    // target (Stats.targetEncode, m = 50 pseudo-observations): one
    // per-category aggregate + the 1-row global frame; the
    // |categories|-row table is the model.
    QueryDef("m_target_encoding", (s, d) => {
      graft.ops.Stats.targetEncode(t(s, d, "customer"),
        "c_mktsegment", "c_acctbal")
    }, Some("""
      WITH g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                AS s_all
            FROM customer),
      p AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s
            FROM customer GROUP BY 1)
      SELECT c_mktsegment, n,
        round((s + 50.0 * (s_all / n_all)) / (CAST(n AS DOUBLE) + 50.0),
          6) AS enc
      FROM p CROSS JOIN g ORDER BY c_mktsegment""")),

    // ---- Per-column Shannon entropy profile over low-cardinality
    // columns (Stats.entropyProfile): the columns stack through ONE
    // scan (|cols|× generator replication), one Σ-cardinality-bounded
    // aggregate, decimal-rounded −p·ln p terms.
    QueryDef("q_entropy_profile", (s, d) => {
      graft.ops.Stats.entropyProfile(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber"))
    }, Some("""
      WITH s AS (
        SELECT 'l_returnflag' AS col_name,
          CAST(l_returnflag AS VARCHAR) AS value FROM lineitem
        UNION ALL SELECT 'l_linestatus',
          CAST(l_linestatus AS VARCHAR) FROM lineitem
        UNION ALL SELECT 'l_linenumber',
          CAST(l_linenumber AS VARCHAR) FROM lineitem),
      c AS (SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS nv
            FROM s GROUP BY 1, 2),
      t AS (SELECT col_name, CAST(SUM(nv) AS BIGINT) AS n FROM c
            GROUP BY 1),
      terms AS (SELECT col_name, n,
          CAST(round(-(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)) *
            ln(CAST(nv AS DOUBLE) / CAST(n AS DOUBLE)), 9)
            AS DECIMAL(20,9)) AS term
        FROM c JOIN t USING (col_name))
      SELECT col_name, n, CAST(COUNT(*) AS BIGINT) AS n_values,
        round(CAST(SUM(term) AS DOUBLE), 6) AS entropy
      FROM terms GROUP BY col_name, n ORDER BY col_name""")),

    // ---- DAU / WAU / MAU engagement rollup
    // (EventAnalytics.activeUsers): rolling distinct actives via the
    // constant ×28 activity fan-out (distinct does not decompose over
    // window frames) + one countDistinct per anchor day; DAU/MAU
    // stickiness.
    QueryDef("e_active_users", (s, d) => {
      EventAnalytics.activeUsers(Tables.events(s, d))
    }, Some(s"""
      WITH acts AS (SELECT DISTINCT user_id,
              ${EventAnalytics.duckDay} AS day FROM events),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM acts),
      fan AS (SELECT user_id, day, day + off.o AS anchor
              FROM acts
              CROSS JOIN (SELECT unnest(range(0, 28)) AS o) off
              CROSS JOIN span
              WHERE day + off.o <= d1),
      mau AS (SELECT anchor, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                AS mau FROM fan GROUP BY 1),
      wau AS (SELECT anchor, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                AS wau FROM fan WHERE anchor - day <= 6 GROUP BY 1),
      dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                AS dau FROM acts GROUP BY 1),
      ${duckGrid("", "span")}
      SELECT g.day AS day, COALESCE(d.dau, 0) AS dau,
        COALESCE(w.wau, 0) AS wau, COALESCE(m.mau, 0) AS mau,
        CASE WHEN COALESCE(m.mau, 0) > 0 THEN
          round(CAST(COALESCE(d.dau, 0) AS DOUBLE) /
            CAST(m.mau AS DOUBLE), 6) END AS stickiness
      FROM grid g LEFT JOIN mau m ON g.day = m.anchor
      LEFT JOIN wau w ON g.day = w.anchor
      LEFT JOIN dau d ON g.day = d.day
      ORDER BY day""")),

    // ---- Argmin/argmax aggregate battery: min_by / max_by with a
    // deterministic tie-broken ordering struct — the per-group
    // "row that achieves the extreme" staple.
    QueryDef("a_minmax_by", (s, d) => {
      // the ordering value is ONE BIGINT (cents × 1e10 + key) so the
      // tie-broken argmin/argmax is portable — DuckDB's min_by does
      // not order on structs. 1e10 keeps the key digits clear of the
      // cents digits through TPC-H SF ~1000 (orderkey < 1e10, cents
      // < 5e7 → product < 5e17 < 2^63)
      t(s, d, "orders")
        .withColumn("__ord", expr(
          "cast(round(o_totalprice * 100.0D) as bigint) * 10000000000L" +
            " + o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          expr("min_by(o_orderkey, __ord)").as("cheapest_order"),
          expr("max_by(o_orderkey, __ord)").as("priciest_order"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    }, Some("""
      SELECT o_orderpriority,
        min_by(o_orderkey, CAST(round(o_totalprice * 100.0) AS BIGINT)
          * 10000000000 + o_orderkey) AS cheapest_order,
        max_by(o_orderkey, CAST(round(o_totalprice * 100.0) AS BIGINT)
          * 10000000000 + o_orderkey) AS priciest_order,
        MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- Week-over-week change per event type
    // (EventAnalytics.weekOverWeek): weekly counts → per-key lag →
    // absolute + percent change; the weeks×keys aggregate makes the
    // window free at any input size.
    QueryDef("e_wow_change", (s, d) => {
      EventAnalytics.weekOverWeek(Tables.events(s, d), "event_type")
    }, Some("""
      WITH e AS (SELECT event_type AS k,
                   epoch_us(ts) // 604800000000 AS week FROM events),
      w AS (SELECT k, week, CAST(COUNT(*) AS BIGINT) AS n FROM e
            GROUP BY 1, 2),
      l AS (SELECT k, week, n,
              lag(n, 1) OVER (PARTITION BY k ORDER BY week) AS prev
            FROM w)
      SELECT k AS event_type, week, n, n - prev AS delta,
        CASE WHEN prev > 0 THEN round(CAST(n - prev AS DOUBLE) /
          CAST(prev AS DOUBLE), 6) END AS pct_change
      FROM l ORDER BY event_type, week""")),

    // ---- Funnel latency quantiles (EventAnalytics.timeToConvert):
    // p50/p90 of first-signup → first-purchase-after time per user,
    // through the two-phase exact-quantile ordinal.
    QueryDef("e_time_to_convert", (s, d) => {
      EventAnalytics.timeToConvert(Tables.events(s, d),
        "signup", "purchase")
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      f AS (SELECT user_id, ts_us AS from_ts, event_id AS from_id
            FROM e WHERE event_type = 'signup'
            QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) = 1),
      t0 AS (SELECT e.user_id, e.ts_us - f.from_ts AS delta_us
             FROM e JOIN f USING (user_id)
             WHERE e.event_type = 'purchase' AND (e.ts_us > f.from_ts
               OR (e.ts_us = f.from_ts AND e.event_id > f.from_id))
             QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
               ORDER BY e.ts_us, e.event_id) = 1),
      o AS (SELECT user_id, delta_us,
              ROW_NUMBER() OVER (ORDER BY delta_us, user_id) AS r
            FROM t0),
      n AS (SELECT COUNT(*) AS n FROM t0)
      SELECT q, delta_us FROM (
        SELECT 0.5 AS q, CAST(ceil(CAST(0.5 AS DECIMAL(20,10)) * n)
          AS BIGINT) AS tr FROM n
        UNION ALL SELECT 0.9, CAST(ceil(CAST(0.9 AS DECIMAL(20,10)) * n)
          AS BIGINT) FROM n) t
      JOIN o ON o.r = t.tr ORDER BY q""")),

    // ---- First-order Markov transition matrix over each user's
    // ordered event stream (EventAnalytics.transitionMatrix): one
    // per-user lag window, one (from, to) aggregate bounded by
    // |types|², row totals broadcast. `__start__` pseudo-state holds
    // the entry distribution.
    QueryDef("e_transitions", (s, d) => {
      EventAnalytics.transitionMatrix(Tables.events(s, d))
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      p AS (SELECT COALESCE(lag(event_type, 1) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id),
                '__start__') AS from_type,
              event_type AS to_type
            FROM e),
      c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2),
      t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c
            GROUP BY 1)
      SELECT from_type, to_type, n,
        round(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p
      FROM c JOIN t USING (from_type)
      ORDER BY from_type, to_type""")),

    // ---- Top-20 3-step event-type paths (EventAnalytics.topPaths):
    // per-user lag n-grams → one path aggregate → TakeOrdered with a
    // total (count desc, path asc) order.
    QueryDef("e_top_paths", (s, d) => {
      EventAnalytics.topPaths(Tables.events(s, d), 3, 20)
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      g AS (SELECT lag(event_type, 2) OVER w AS w2,
              lag(event_type, 1) OVER w AS w1, event_type AS w0
            FROM e WINDOW w AS (PARTITION BY user_id
              ORDER BY ts_us, event_id))
      SELECT w2 || '>' || w1 || '>' || w0 AS path,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM g WHERE w2 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")),

    // ---- Leakage-safe feature-store build (composition): temporal
    // train/test split at the global ts midpoint (the e_cuped shape),
    // smoothed target encoding (Stats.targetEncode) and value z-score
    // parameters fit on the TRAIN SPLIT ONLY, applied to both splits —
    // the oracle replays the fit-on-train discipline, so feature
    // leakage would hash-mismatch. Bounded output: splits × types.
    QueryDef("pipe_feature_store", (s, d) => {
      val e = Tables.events(s, d)
      val mid = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      val base = e.crossJoin(broadcast(mid))
        .select(col("event_type"), col("value"),
          when(col("ts_us") < col("__mid"), "train").otherwise("test")
            .as("split"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
      val train = base.filter(col("split") === "train")
      val enc = graft.ops.Stats
        .targetEncode(train, "event_type", "y", m = 50.0, decScale = 0)
        .select(col("event_type"), col("enc"))
      val v6 = "cast(round(cast(value as double), 6) as decimal(18,6))"
      val zs = train.filter(col("value").isNotNull)
        .agg(count(lit(1)).as("n"), sum(expr(v6)).as("sv"),
          sum(expr(s"cast($v6 * $v6 as decimal(38,12))")).as("svv"))
        .select(
          expr("cast(round(cast(sv as double) / cast(n as double), 9) " +
            "as decimal(18,9))").as("mu"),
          expr("cast(round(sqrt(greatest((cast(svv as double) - " +
            "cast(sv as double) * cast(sv as double) / " +
            "cast(n as double)) / cast(n - 1 as double), 0.0)), 9) " +
            "as decimal(18,9))").as("sd"))
      base.join(broadcast(enc), Seq("event_type"), "left")
        .crossJoin(broadcast(zs))
        .withColumn("vz", when(col("sd") > 0,
          round(expr("(cast(value as double) - cast(mu as double)) / " +
            "cast(sd as double)"), 6)))
        .groupBy("split", "event_type")
        .agg(count(lit(1)).as("n"),
          max(col("enc")).as("enc_purchase_rate"),
          // the round-9-DECIMAL fix before the display round: a mean
          // of 6-decimal values over a power-of-two count can land ON
          // a round-6 tie (the e_stl_decompose lesson)
          round(expr("cast(round(cast(sum(cast(vz as decimal(18,6))) " +
            "as double) / cast(count(vz) as double), 9) " +
            "as decimal(18,9))"), 6).cast("double").as("mean_vz"),
          round(sum(col("y")).cast("double") /
            count(lit(1)).cast("double"), 6).as("conv_rate"))
    }, Some("""
      WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                   AS mid FROM events),
      base AS (SELECT event_type, value,
          CASE WHEN epoch_us(ts) < mid THEN 'train' ELSE 'test' END
            AS split,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events CROSS JOIN b),
      tr AS (SELECT * FROM base WHERE split = 'train'),
      g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
              CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS s_all
            FROM tr),
      enc AS (SELECT event_type,
                round((CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) +
                  50.0 * (s_all / n_all)) /
                  (CAST(COUNT(*) AS DOUBLE) + 50.0), 6) AS enc
              FROM tr CROSS JOIN g GROUP BY event_type, n_all, s_all),
      zs AS (SELECT
          CAST(round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 9)
            AS DECIMAL(18,9)) AS mu,
          CAST(round(sqrt(greatest((CAST(svv AS DOUBLE) -
            CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) /
            CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE), 0.0)), 9)
            AS DECIMAL(18,9)) AS sd
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(round(CAST(value AS DOUBLE), 6)
              AS DECIMAL(18,6))) AS sv,
            SUM(CAST(CAST(round(CAST(value AS DOUBLE), 6)
                AS DECIMAL(18,6)) *
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6))
              AS DECIMAL(38,12))) AS svv
          FROM tr WHERE value IS NOT NULL)),
      f AS (SELECT base.split, base.event_type, base.y, base.value,
              enc.enc,
              CASE WHEN sd > 0 THEN
                round((CAST(value AS DOUBLE) - CAST(mu AS DOUBLE)) /
                  CAST(sd AS DOUBLE), 6) END AS vz
            FROM base LEFT JOIN enc USING (event_type) CROSS JOIN zs)
      SELECT split, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        MAX(enc) AS enc_purchase_rate,
        CAST(round(CAST(round(CAST(SUM(CAST(vz AS DECIMAL(18,6)))
            AS DOUBLE) / CAST(COUNT(vz) AS DOUBLE), 9)
          AS DECIMAL(18,9)), 6) AS DOUBLE) AS mean_vz,
        round(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
          AS conv_rate
      FROM f GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- Row-level data-quality quarantine (Quality.quarantine, the
    // routing half of q_quality_suite): every event gains the sorted
    // names of the row-local checks it fails; the gate emits the
    // quarantined rows with reasons — 'error' events and value-tail
    // rows, by construction of the checks. One codegen'd scan.
    QueryDef("pipe_dq_quarantine", (s, d) => {
      import graft.ops.Quality._
      graft.ops.Quality.quarantine(
        Tables.events(s, d).select("event_id", "event_type", "value",
          "props"),
        Seq(Completeness("props"), InRange("value", 0.5, 400.0),
          AcceptedValues("event_type",
            Seq("view", "click", "signup", "purchase"))))
        .filter(!col("dq_pass"))
        // Driver-comparable boundary: reasons leave as a JSON string
        // (the a4_collect_sorted convention).
        .select(col("event_id"), to_json(col("dq_reasons")).as("dq_reasons"))
    }, Some("""
      SELECT event_id,
        to_json(list_sort(list_filter([
          CASE WHEN props IS NOT NULL THEN NULL
               ELSE 'completeness:props' END,
          CASE WHEN value IS NOT NULL AND value >= 0.5 AND value <= 400.0
               THEN NULL ELSE 'in_range:value' END,
          CASE WHEN event_type IS NOT NULL AND event_type IN
                 ('view', 'click', 'signup', 'purchase')
               THEN NULL ELSE 'accepted:event_type' END],
          x -> x IS NOT NULL)))::VARCHAR AS dq_reasons
      FROM events
      WHERE NOT (props IS NOT NULL
        AND (value IS NOT NULL AND value >= 0.5 AND value <= 400.0)
        AND (event_type IS NOT NULL AND event_type IN
          ('view', 'click', 'signup', 'purchase')))
      ORDER BY event_id""")),

    // ---- Grid-blocked geospatial radius join (Geo.radiusJoin):
    // deterministic lat/lon derived from the dimension keys; left
    // points map to ONE cell, right points replicate to the 3×3
    // neighborhood, equi-join on the cell key, exact haversine verify
    // — pair space bounded by density × cell area, never |L|×|R|.
    QueryDef("j_grid_spatial", (s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        expr("(c_custkey * 37 % 12000) / 100.0D - 60.0D").as("lat"),
        expr("(c_custkey * 91 % 35000) / 100.0D - 175.0D").as("lon"))
      val supp = t(s, d, "supplier").select(col("s_suppkey"),
        expr("(s_suppkey * 53 % 12000) / 100.0D - 60.0D").as("lat"),
        expr("(s_suppkey * 67 % 35000) / 100.0D - 175.0D").as("lon"))
      graft.ops.Geo.radiusJoin(cust, "c_custkey", supp, "s_suppkey",
          100.0, 2.0)
    }, Some {
      def hav(lat1: String, lon1: String, lat2: String, lon2: String) = {
        val sdlat = s"sin(radians(($lat2) - ($lat1)) / 2.0)"
        val sdlon = s"sin(radians(($lon2) - ($lon1)) / 2.0)"
        s"2.0 * 6371.0088 * asin(sqrt($sdlat * $sdlat + " +
          s"cos(radians($lat1)) * cos(radians($lat2)) * $sdlon * $sdlon))"
      }
      s"""
      WITH lc AS (SELECT c_custkey AS l_key,
              (c_custkey * 37 % 12000) / 100.0 - 60.0 AS l_lat,
              (c_custkey * 91 % 35000) / 100.0 - 175.0 AS l_lon
            FROM customer),
      lcc AS (SELECT *, CAST(floor(l_lat / 2.0) AS BIGINT) AS cx,
                CAST(floor(l_lon / 2.0) AS BIGINT) AS cy FROM lc),
      rc AS (SELECT s_suppkey AS r_key,
              (s_suppkey * 53 % 12000) / 100.0 - 60.0 AS r_lat,
              (s_suppkey * 67 % 35000) / 100.0 - 175.0 AS r_lon
            FROM supplier),
      rcc AS (SELECT r_key, r_lat, r_lon,
                CAST(floor(r_lat / 2.0) AS BIGINT) + dx.x AS cx,
                CAST(floor(r_lon / 2.0) AS BIGINT) + dy.y AS cy
              FROM rc
              CROSS JOIN (SELECT unnest(range(-1, 2)) AS x) dx
              CROSS JOIN (SELECT unnest(range(-1, 2)) AS y) dy),
      cand AS (SELECT l_key, r_key, l_lat, l_lon, r_lat, r_lon
               FROM lcc JOIN rcc USING (cx, cy)),
      v AS (SELECT l_key, r_key,
              ${hav("l_lat", "l_lon", "r_lat", "r_lon")} AS dist_km
            FROM cand)
      SELECT l_key, r_key, round(dist_km, 6) AS dist_km FROM v
      WHERE dist_km <= 100.0 ORDER BY l_key, r_key"""
    }),

    // ---- Distribution-window battery: ntile quartiles, percent_rank,
    // cume_dist, nth_value over a total per-partition order —
    // completes the window-function surface beside w_rank_funcs.
    QueryDef("w_ntile_battery", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          nth_value(col("o_totalprice"), 3).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("third_price"))
    }, Some("""
      SELECT o_orderkey, o_orderpriority, o_totalprice,
        ntile(4) OVER w AS quartile,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume,
        nth_value(o_totalprice, 3) OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS third_price
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
        ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey""")),

    // ---- Key-distribution skew report (Stats.skewReport): the
    // "should this join be salted?" diagnostic — top-1/top-10 shares +
    // exact discrete Gini off the two-phase ordinal (Σ i·cnt is exact
    // BIGINT; no single-task sort over the key universe).
    QueryDef("q_skew_report", (s, d) => {
      graft.ops.Stats.skewReport(t(s, d, "lineitem"), "l_partkey")
    }, Some("""
      WITH c AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM lineitem GROUP BY 1),
      r AS (SELECT k, cnt, ROW_NUMBER() OVER (ORDER BY cnt, k) AS i
            FROM c),
      t1 AS (SELECT MAX(cnt) AS top1 FROM c),
      t10 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top10 FROM (
                SELECT cnt FROM c ORDER BY cnt DESC, k LIMIT 10)),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
              CAST(SUM(cnt) AS BIGINT) AS n_rows,
              CAST(SUM(i * cnt) AS BIGINT) AS sic
            FROM r)
      SELECT n_rows, n_keys,
        round(CAST(top1 AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
          AS top1_share,
        round(CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
          AS top10_share,
        round((2.0 * CAST(sic AS DOUBLE)) /
          (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)) -
          (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 6)
          AS gini
      FROM s CROSS JOIN t1 CROSS JOIN t10""")),

    // ---- Zipf-law fit over the corpus token frequency table
    // (TextAnalysis.zipfFit): least squares through (ln rank,
    // ln count) — decimal-rounded per-point moments, closed-form
    // slope/intercept/r² in one IEEE expression; the corpus-health
    // diagnostic (natural text ≈ −1).
    QueryDef("t_zipf_fit", (s, d) => {
      graft.ops.TextAnalysis.zipfFit(docs(s, d))
    }, Some(s"""
      WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT unnest($duckTokensSql) AS tok FROM documents) GROUP BY 1),
      r AS (SELECT cnt,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk FROM tc),
      p AS (SELECT
              CAST(round(ln(CAST(rk AS DOUBLE)), 9) AS DECIMAL(12,9))
                AS x,
              CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(12,9))
                AS y
            FROM r),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk, SUM(x) AS sx,
              SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
              SUM(y * y) AS syy
            FROM p),
      d AS (SELECT kk, CAST(kk AS DOUBLE) AS dk,
              CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
              CAST(kk AS DOUBLE) * CAST(sxy AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
              CAST(kk AS DOUBLE) * CAST(sxx AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
              CAST(kk AS DOUBLE) * CAST(syy AS DOUBLE) -
                CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
            FROM m)
      SELECT kk AS n_types,
        round(CASE WHEN den > 0 THEN num / den END, 6) AS slope,
        round(CASE WHEN den > 0 THEN (dsy - (num / den) * dsx) / dk END,
          6) AS intercept,
        round(CASE WHEN den > 0 AND deny > 0 THEN
          (num * num) / (den * deny) END, 6) AS r2
      FROM d""")),

    // ---- Chao1 vocabulary richness + Good–Turing coverage
    // (TextAnalysis.vocabChao1): hapax/dis legomena folds off the
    // token frequency table — "how much vocabulary is unseen", the
    // corpus-growth diagnostic next to t_zipf_fit. BIGINT counts,
    // two final IEEE divisions.
    QueryDef("t_vocab_chao1", (s, d) => {
      graft.ops.TextAnalysis.vocabChao1(docs(s, d))
    }, Some(s"""
      WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT unnest($duckTokensSql) AS tok FROM documents) GROUP BY 1),
      a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
              CAST(COUNT(*) AS BIGINT) AS v_obs,
              CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS f1,
              CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS f2
            FROM tc)
      SELECT n_tokens, v_obs, f1, f2,
        round(CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE) *
          (CAST(f1 AS DOUBLE) - 1.0) /
          (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS v_chao1,
        round(CASE WHEN n_tokens > 0 THEN
          1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END, 6)
          AS coverage
      FROM a""")),

    // ---- Last-touch conversion attribution
    // (EventAnalytics.lastTouchAttribution): purchases credit the
    // nearest strictly-preceding non-purchase event via the portable
    // forward-fill (running-non-null-count fill groups); per-touch
    // counts + shares, total broadcast.
    QueryDef("e_attribution", (s, d) => {
      EventAnalytics.lastTouchAttribution(Tables.events(s, d), "purchase")
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      m AS (SELECT user_id, event_id, event_type, ts_us,
              CASE WHEN event_type <> 'purchase' THEN event_type END AS t
            FROM e),
      c AS (SELECT *, COUNT(t) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS cc
            FROM m),
      f AS (SELECT *, MAX(t) OVER (PARTITION BY user_id, cc) AS touch
            FROM c),
      conv AS (SELECT COALESCE(touch, '__none__') AS touch FROM f
               WHERE event_type = 'purchase'),
      cnt AS (SELECT touch, CAST(COUNT(*) AS BIGINT) AS n_conversions
              FROM conv GROUP BY 1),
      tt AS (SELECT CAST(SUM(n_conversions) AS BIGINT) AS nt FROM cnt)
      SELECT touch, n_conversions,
        round(CAST(n_conversions AS DOUBLE) / CAST(nt AS DOUBLE), 6)
          AS share
      FROM cnt CROSS JOIN tt ORDER BY touch""")),

    // ---- Windowed funnel: the ordered steps must ALL land within 3
    // days of the user's first signup (first-touch-anchored greedy —
    // semantics documented on EventAnalytics.windowedFunnel).
    QueryDef("e_funnel_windowed", (s, d) => {
      EventAnalytics.windowedFunnel(Tables.events(s, d), FunnelSteps,
        FunnelWindowUs)
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      r0 AS (SELECT user_id, ts_us AS reach_ts, event_id AS reach_id,
               ts_us AS anchor FROM e
             WHERE event_type = 'signup'
             QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) = 1),
      r1 AS (SELECT e.user_id, e.ts_us AS reach_ts,
               e.event_id AS reach_id, r0.anchor
             FROM e JOIN r0 USING (user_id)
             WHERE event_type = 'click' AND (e.ts_us > r0.reach_ts
               OR (e.ts_us = r0.reach_ts AND e.event_id > r0.reach_id))
               AND e.ts_us <= r0.anchor + 259200000000
             QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
               ORDER BY e.ts_us, e.event_id) = 1),
      r2 AS (SELECT e.user_id, e.ts_us AS reach_ts,
               e.event_id AS reach_id, r1.anchor
             FROM e JOIN r1 USING (user_id)
             WHERE event_type = 'purchase' AND (e.ts_us > r1.reach_ts
               OR (e.ts_us = r1.reach_ts AND e.event_id > r1.reach_id))
               AND e.ts_us <= r1.anchor + 259200000000
             QUALIFY ROW_NUMBER() OVER (PARTITION BY e.user_id
               ORDER BY e.ts_us, e.event_id) = 1),
      c AS (
        SELECT CAST(0 AS BIGINT) AS step, 'signup' AS step_name,
          CAST(COUNT(*) AS BIGINT) AS n_users FROM r0
        UNION ALL SELECT 1, 'click', COUNT(*) FROM r1
        UNION ALL SELECT 2, 'purchase', COUNT(*) FROM r2)
      SELECT step, step_name, n_users,
        round(CAST(n_users AS DOUBLE) /
          CAST(lag(n_users) OVER (ORDER BY step) AS DOUBLE), 6)
          AS conv_prev,
        round(CAST(n_users AS DOUBLE) /
          CAST(first_value(n_users) OVER (ORDER BY step
            ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS conv_first
      FROM c ORDER BY step""")),

    // ---- LINEAR multi-touch attribution (equal split over preceding
    // touches; suffix-sum window, no touch×conversion join) — the
    // credit-conserving twin of the last-touch gate.
    QueryDef("e_attribution_linear", (s, d) => {
      EventAnalytics.linearAttribution(Tables.events(s, d), "purchase")
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      m AS (SELECT *, CASE WHEN event_type <> 'purchase'
              THEN event_type END AS t FROM e),
      c AS (SELECT *, COUNT(t) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS mm
            FROM m),
      cr AS (SELECT *, CASE WHEN event_type = 'purchase' AND mm > 0
               THEN CAST(1 AS DOUBLE) / mm ELSE CAST(0 AS DOUBLE) END
               AS conv_credit FROM c),
      sx AS (SELECT t, COALESCE(SUM(conv_credit) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
               CAST(0 AS DOUBLE)) AS credit FROM cr),
      tc AS (SELECT t AS touch, SUM(credit) AS sm FROM sx
             WHERE t IS NOT NULL GROUP BY 1),
      orphan AS (SELECT '__none__' AS touch,
               CAST(COUNT(*) AS DOUBLE) AS sm FROM cr
             WHERE event_type = 'purchase' AND mm = 0 GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
              WHERE event_type = 'purchase')
      SELECT touch, round(sm, 6) AS credit,
        round(sm / CAST(n AS DOUBLE), 6) AS share
      FROM (SELECT * FROM tc UNION ALL SELECT * FROM orphan)
      CROSS JOIN tot ORDER BY touch""")),

    // ---- U-shaped (position-based) attribution (EventAnalytics.
    // uShapeAttribution): 40/20/40 first/middles/last per conversion,
    // decomposed into three LINEAR components over the per-user touch
    // index — first (equi at i=1), last (equi at i=m), middles via a
    // DIFFERENCE ARRAY (+v at 2, −v at m, one per-user prefix sum) —
    // never a touch×conversion pair join. Weights fix to DECIMAL(18,6)
    // so every fold is order-exact.
    QueryDef("e_attribution_ushape", (s, d) => {
      EventAnalytics.uShapeAttribution(Tables.events(s, d), "purchase")
    }, Some(s"""
      WITH ${Tables.duckEventsCte},
      m AS (SELECT *, CASE WHEN event_type <> 'purchase'
              THEN event_type END AS t FROM e),
      c AS (SELECT *, COUNT(t) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS mm
            FROM m),
      touches AS (SELECT user_id, mm AS i, t FROM c WHERE t IS NOT NULL),
      convs AS (SELECT user_id, mm AS m FROM c
                WHERE event_type = 'purchase' AND mm > 0),
      firstc AS (SELECT user_id, CAST(1 AS BIGINT) AS i,
                   SUM(CAST(CASE WHEN m = 1 THEN 1.0
                     WHEN m = 2 THEN 0.5 ELSE 0.4 END
                     AS DECIMAL(18,6))) AS fc
                 FROM convs GROUP BY 1),
      lastc AS (SELECT user_id, m AS i,
                  SUM(CAST(CASE WHEN m = 2 THEN 0.5 ELSE 0.4 END
                    AS DECIMAL(18,6))) AS lc
                FROM convs WHERE m >= 2 GROUP BY 1, 2),
      midd AS (SELECT user_id, i, SUM(d) AS dd FROM (
                 SELECT user_id, CAST(2 AS BIGINT) AS i,
                   CAST(round(0.2 / CAST(m - 2 AS DOUBLE), 6)
                     AS DECIMAL(18,6)) AS d
                 FROM convs WHERE m >= 3
                 UNION ALL
                 SELECT user_id, m AS i,
                   CAST(round(0.2 / CAST(m - 2 AS DOUBLE), 6)
                     AS DECIMAL(18,6)) * -1 AS d
                 FROM convs WHERE m >= 3) z
               GROUP BY 1, 2),
      pt AS (SELECT tch.user_id, tch.i, tch.t,
               COALESCE(fc, CAST(0.0 AS DECIMAL(18,6))) AS fc,
               COALESCE(lc, CAST(0.0 AS DECIMAL(18,6))) AS lc,
               SUM(COALESCE(dd, CAST(0.0 AS DECIMAL(18,6))))
                 OVER (PARTITION BY tch.user_id ORDER BY tch.i
                   ROWS UNBOUNDED PRECEDING) AS mid
             FROM touches tch
             LEFT JOIN firstc USING (user_id, i)
             LEFT JOIN lastc USING (user_id, i)
             LEFT JOIN midd USING (user_id, i)),
      tc AS (SELECT t AS touch,
               CAST(SUM(fc + lc + mid) AS DOUBLE) AS sm
             FROM pt GROUP BY 1),
      orphan AS (SELECT '__none__' AS touch,
               CAST(COUNT(*) AS DOUBLE) AS sm FROM c
             WHERE event_type = 'purchase' AND mm = 0 GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
              WHERE event_type = 'purchase')
      SELECT touch, round(sm, 6) AS credit,
        round(sm / CAST(n AS DOUBLE), 6) AS share
      FROM (SELECT * FROM tc UNION ALL SELECT * FROM orphan)
      CROSS JOIN tot ORDER BY touch""")),

    // ---- Pearson χ² independence test between two categoricals
    // (Stats.chiSquareIndependence): the FULL |X|×|Y| grid (zero cells
    // contribute their expectation) from cross-joined broadcast
    // marginals; decimal-rounded cell terms; one (n, dof, chi2) row.
    // ---- Cramér's V effect size (Stats.cramersV): the χ² machinery
    // over a richer (returnflag × linenumber) grid, normalized into the
    // [0,1] number comparable across slice sizes; V computes from the
    // ROUNDED χ² (one mirrored expression).
    QueryDef("a_cramers_v", (s, d) => {
      graft.ops.Stats.cramersV(t(s, d, "lineitem"),
        "l_returnflag", "l_linenumber")
    }, Some("""
      WITH joint AS (SELECT l_returnflag AS x, l_linenumber AS y,
              CAST(COUNT(*) AS BIGINT) AS nxy
            FROM lineitem GROUP BY 1, 2),
      mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint
             GROUP BY 1),
      my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint
             GROUP BY 1),
      tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint),
      grid AS (SELECT mx.x, my.y, nx, ny, COALESCE(nxy, 0) AS o
               FROM mx CROSS JOIN my
               LEFT JOIN joint ON mx.x = joint.x AND my.y = joint.y),
      terms AS (SELECT n, CAST(round((CAST(o AS DOUBLE) - e) *
                  (CAST(o AS DOUBLE) - e) / e, 9) AS DECIMAL(24,9))
                  AS term
                FROM (SELECT *, CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
                        / CAST(n AS DOUBLE) AS e
                      FROM grid CROSS JOIN tot)),
      ag AS (SELECT n,
               CAST(((SELECT COUNT(*) FROM mx) - 1) *
                 ((SELECT COUNT(*) FROM my) - 1) AS BIGINT) AS dof,
               CAST(least((SELECT COUNT(*) FROM mx),
                 (SELECT COUNT(*) FROM my)) - 1 AS BIGINT) AS mindim,
               round(CAST(SUM(term) AS DOUBLE), 6) AS chi2
             FROM terms GROUP BY 1)
      SELECT n, dof, chi2,
        round(CASE WHEN mindim > 0 AND n > 0 THEN
          sqrt(chi2 / (CAST(n AS DOUBLE) * mindim)) END, 6) AS v
      FROM ag""")),

    QueryDef("a_chi2_independence", (s, d) => {
      graft.ops.Stats.chiSquareIndependence(t(s, d, "lineitem"),
        "l_returnflag", "l_linestatus")
    }, Some("""
      WITH joint AS (SELECT l_returnflag AS x, l_linestatus AS y,
              CAST(COUNT(*) AS BIGINT) AS nxy
            FROM lineitem GROUP BY 1, 2),
      mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint
             GROUP BY 1),
      my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint
             GROUP BY 1),
      tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint),
      grid AS (SELECT mx.x, my.y, nx, ny, COALESCE(nxy, 0) AS o
               FROM mx CROSS JOIN my
               LEFT JOIN joint ON mx.x = joint.x AND my.y = joint.y),
      terms AS (SELECT n, CAST(round((CAST(o AS DOUBLE) - e) *
                  (CAST(o AS DOUBLE) - e) / e, 9) AS DECIMAL(24,9))
                  AS term
                FROM (SELECT *, CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
                        / CAST(n AS DOUBLE) AS e
                      FROM grid CROSS JOIN tot))
      SELECT n, CAST(((SELECT COUNT(*) FROM mx) - 1) *
          ((SELECT COUNT(*) FROM my) - 1) AS BIGINT) AS dof,
        round(CAST(SUM(term) AS DOUBLE), 6) AS chi2
      FROM terms GROUP BY n""")),

    // ---- χ² term selection against the document language
    // (TextModels.chi2Terms, Yang & Pedersen 1997): DISTINCT (doc,
    // term) presence, per-(term, label) counts, the full 2×|labels|
    // contingency per term from the broadcast label frame; top-20 by
    // (chi2 desc, term asc).
    QueryDef("m_chi2_terms", (s, d) => {
      TextModels.chi2Terms(docs(s, d), "lang", 20)
    }, Some(s"""
      WITH pres AS (SELECT DISTINCT doc_id, lang AS lbl,
              unnest(list_distinct($duckTokensSql)) AS term
            FROM documents),
      btl AS (SELECT term, lbl, CAST(COUNT(*) AS BIGINT) AS o1
              FROM pres GROUP BY 1, 2),
      bl AS (SELECT lang AS lbl, CAST(COUNT(*) AS BIGINT) AS nl
             FROM documents GROUP BY 1),
      bt AS (SELECT term, CAST(SUM(o1) AS BIGINT) AS nt FROM btl
             GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
      grid AS (SELECT bt.term, bl.lbl, bt.nt, bl.nl,
                 COALESCE(btl.o1, 0) AS o1
               FROM bt CROSS JOIN bl
               LEFT JOIN btl ON bt.term = btl.term AND bl.lbl = btl.lbl),
      cells AS (SELECT term, nt, CAST(round(
          (CASE WHEN e1 > 0 THEN (CAST(o1 AS DOUBLE) - e1) *
            (CAST(o1 AS DOUBLE) - e1) / e1 ELSE 0.0 END) +
          (CASE WHEN e0 > 0 THEN (CAST(nl - o1 AS DOUBLE) - e0) *
            (CAST(nl - o1 AS DOUBLE) - e0) / e0 ELSE 0.0 END), 9)
          AS DECIMAL(24,9)) AS cell
        FROM (SELECT *,
            CAST(nt AS DOUBLE) * CAST(nl AS DOUBLE) /
              CAST(nn AS DOUBLE) AS e1,
            CAST(nn - nt AS DOUBLE) * CAST(nl AS DOUBLE) /
              CAST(nn AS DOUBLE) AS e0
          FROM grid CROSS JOIN tot))
      SELECT term, MAX(nt) AS n_docs,
        round(CAST(SUM(cell) AS DOUBLE), 6) AS chi2
      FROM cells GROUP BY term ORDER BY chi2 DESC, term LIMIT 20""")),

    // ---- A/B experiment readout (EventAnalytics.abTest): users
    // hash-assigned to variants (stable md5 membership), conversion =
    // a purchase over 100 (every user purchases at least once, so the
    // bare-purchase rate is the degenerate pp = 1), one row with
    // per-variant rates + the pooled two-proportion z statistic.
    QueryDef("pipe_ab_test", (s, d) => {
      EventAnalytics.abTest(Tables.events(s, d),
        col("event_type") === "purchase" && col("value") > 100.0)
    }, Some(s"""
      WITH u AS (SELECT user_id,
            CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
              THEN 1 ELSE 0 END) AS BIGINT) AS conv,
            (${Hashing.duckMd5Long("'ab:' || CAST(user_id AS VARCHAR)")})
              % 2 AS variant
          FROM events GROUP BY user_id),
      agg AS (SELECT
          CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)
            AS BIGINT) AS conv_a,
          CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)
            AS BIGINT) AS conv_b
        FROM u),
      x AS (SELECT *,
             CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
             CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
             CAST(conv_a + conv_b AS DOUBLE) /
               CAST(n_a + n_b AS DOUBLE) AS pp
           FROM agg)
      SELECT n_a, conv_a, round(p_a, 6) AS rate_a,
        n_b, conv_b, round(p_b, 6) AS rate_b,
        round((p_b - p_a) / sqrt(pp * (1.0 - pp) *
          (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
          AS z
      FROM x""")),

    // ---- Sparse TF-IDF nearest-neighbor pairs through the inverted
    // index (TextModels.tfidfNeighbors): cosine over SHARED terms only
    // via one per-term self-join; terms outside (2, 50] leave the
    // index (maxDf = the quadratic-hazard prune); top-20 pairs.
    QueryDef("m_tfidf_neighbors", (s, d) => {
      TextModels.tfidfNeighbors(docs(s, d), 20, minDf = 2, maxDf = 50)
    }, Some(s"""
      WITH tk AS (SELECT doc_id, unnest($duckTokensSql) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tk GROUP BY 1, 2),
      dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
              GROUP BY 1 HAVING COUNT(*) > 2 AND COUNT(*) <= 50),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      idf AS (SELECT tok, round(ln(CAST(n_docs AS DOUBLE) /
                CAST(df AS DOUBLE)), 6) AS idf
              FROM dfq CROSS JOIN n),
      w AS (SELECT doc_id, tf.tok, sqrt(CAST(tf AS DOUBLE)) * idf AS wt
            FROM tf JOIN idf ON tf.tok = idf.tok),
      nrm AS (SELECT doc_id, sqrt(CAST(SUM(CAST(round(wt * wt, 9)
                AS DECIMAL(24,9))) AS DOUBLE)) AS nrm
              FROM w GROUP BY 1 HAVING nrm > 0),
      nw AS (SELECT w.doc_id, tok, wt / nrm AS nw
             FROM w JOIN nrm ON w.doc_id = nrm.doc_id),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(round(a.nw * b.nw, 9) AS DECIMAL(24,9)) AS p
            FROM nw a JOIN nw b
              ON a.tok = b.tok AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, round(CAST(SUM(p) AS DOUBLE), 6) AS cosine
      FROM p GROUP BY 1, 2
      ORDER BY cosine DESC, doc_a, doc_b LIMIT 20""")),

    // ---- Stupid-backoff trigram LM (Brants et al. 2007): counts
    // trained on the even-md5 half of the corpus, the odd half scored
    // per position with α=0.4 backoff (unseen words floor at 1/N).
    // Per-position NLLs round(,6) into DECIMAL — order-independent
    // sums, exact replay.
    QueryDef("t_trigram_backoff", (s, d) => {
      TextModels.trigramBackoffNll(docs(s, d))
    }, Some(s"""
      WITH dd AS (SELECT doc_id,
             $duckTokensSql AS tk,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15))
               AS BIGINT) % 2 AS par
           FROM documents),
      tr AS (SELECT tk FROM dd WHERE par = 0),
      ho AS (SELECT doc_id, tk FROM dd WHERE par = 1),
      tri AS (SELECT t.w1 AS w1, t.w2 AS w2, t.w3 AS w3,
                CAST(COUNT(*) AS BIGINT) AS c123
              FROM (SELECT unnest(list_transform(range(1, len(tk) - 1),
                      i -> {'w1': tk[i], 'w2': tk[i+1], 'w3': tk[i+2]}))
                      AS t FROM tr WHERE len(tk) >= 3)
              GROUP BY 1, 2, 3),
      bi AS (SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS cb
             FROM (SELECT unnest(list_transform(range(1, len(tk)),
                     i -> {'a': tk[i], 'b': tk[i+1]})) AS p
                   FROM tr WHERE len(tk) >= 2)
             GROUP BY 1, 2),
      uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
              FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY 1),
      tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS N FROM uni),
      stream AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3
                 FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(tk) - 1),
                           i -> {'w1': tk[i], 'w2': tk[i+1],
                                 'w3': tk[i+2]})) AS t
                       FROM ho WHERE len(tk) >= 3)),
      scored AS (SELECT doc_id,
        CAST(round(-ln(
          CASE WHEN c123 IS NOT NULL THEN
            CAST(c123 AS DOUBLE) / CAST(c12.cb AS DOUBLE)
          WHEN c23.cb IS NOT NULL THEN 0.4 *
            (CAST(c23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE))
          ELSE 0.16000000000000003 *
            (CAST(COALESCE(u3.cu, 1) AS DOUBLE) / CAST(N AS DOUBLE)) END
        ), 6) AS DECIMAL(12,6)) AS nll
        FROM stream
        LEFT JOIN tri ON stream.w1 = tri.w1 AND stream.w2 = tri.w2
          AND stream.w3 = tri.w3
        LEFT JOIN bi c12 ON stream.w1 = c12.a AND stream.w2 = c12.b
        LEFT JOIN bi c23 ON stream.w2 = c23.a AND stream.w3 = c23.b
        LEFT JOIN uni u2 ON stream.w2 = u2.w
        LEFT JOIN uni u3 ON stream.w3 = u3.w
        CROSS JOIN tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
        round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS mean_nll
      FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Multinomial Naive Bayes language classifier (TextModels.
    // naiveBayes): train (term,label) counts on the even-md5 half,
    // add-1-smoothed log-likelihood argmax on the odd half, confusion
    // grid out. Per-term logs round(,9) into DECIMAL(12,9) before the
    // (9,0)-count multiply and per-(doc,label) sum — exact in both
    // engines, so the argmax (score desc, label asc) cannot race.
    QueryDef("m_naive_bayes", (s, d) => {
      TextModels.naiveBayes(docs(s, d), "lang")
    }, Some(s"""
      WITH lab AS (SELECT doc_id, lang AS lbl,
             $duckTokensSql AS tk,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15))
               AS BIGINT) % 2 AS par
           FROM documents WHERE lang IS NOT NULL),
      tr AS (SELECT * FROM lab WHERE par = 0),
      te AS (SELECT * FROM lab WHERE par = 1),
      trtok AS (SELECT lbl, unnest(tk) AS term FROM tr),
      ctl AS (SELECT term, lbl, CAST(COUNT(*) AS BIGINT) AS c
              FROM trtok GROUP BY 1, 2),
      bylbl AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS nl
                FROM tr GROUP BY 1),
      ltot AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS tl
               FROM trtok GROUP BY 1),
      sc AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM ctl),
      ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntr FROM tr),
      lf AS (SELECT b.lbl, COALESCE(t.tl, 0) AS tl, v,
               CAST(round(ln(CAST(nl AS DOUBLE) / CAST(ntr AS DOUBLE)),
                 9) AS DECIMAL(12,9)) AS logprior
             FROM bylbl b LEFT JOIN ltot t ON b.lbl = t.lbl
             CROSS JOIN sc CROSS JOIN ntr),
      tetok AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, unnest(tk) AS term FROM te)
                GROUP BY 1, 2),
      ts AS (SELECT doc_id, slbl, SUM(w) AS toksum FROM (
               SELECT tt.doc_id, lf.lbl AS slbl,
                 CAST(cnt AS DECIMAL(9,0)) * CAST(round(ln(
                   CAST(COALESCE(c, 0) + 1 AS DOUBLE) /
                   CAST(tl + v AS DOUBLE)), 9) AS DECIMAL(12,9)) AS w
               FROM tetok tt CROSS JOIN lf
               LEFT JOIN ctl ON tt.term = ctl.term AND lf.lbl = ctl.lbl)
             GROUP BY 1, 2),
      scored AS (SELECT te.doc_id, te.lbl AS actual, lf.lbl AS slbl,
                   lf.logprior + COALESCE(toksum,
                     CAST(0 AS DECIMAL(12,9))) AS score
                 FROM te CROSS JOIN lf
                 LEFT JOIN ts ON te.doc_id = ts.doc_id
                   AND lf.lbl = ts.slbl),
      pred AS (SELECT doc_id, actual, slbl AS predicted,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, slbl ASC) AS rk
               FROM scored)
      SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- Bigram PMI collocations (TextAnalysis.collocations, Church
    // & Hanks 1990): adjacent-bigram vs unigram count tables, PMI =
    // ln((c_ab/B)/((c_a/T)(c_b/T))), min-count 5, top-20. PMI rounds
    // (,6) BEFORE the order-by so libm ulps cannot reorder the cut.
    QueryDef("t_collocations", (s, d) => {
      graft.ops.TextAnalysis.collocations(docs(s, d), 5, 20)
    }, Some(s"""
      WITH tkk AS (SELECT $duckTokensSql
               AS tk FROM documents),
      uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
              FROM (SELECT unnest(tk) AS w FROM tkk) GROUP BY 1),
      bi AS (SELECT p.a AS a, p.b AS b, CAST(COUNT(*) AS BIGINT) AS cab
             FROM (SELECT unnest(list_transform(range(1, len(tk)),
                     i -> {'a': tk[i], 'b': tk[i+1]})) AS p
                   FROM tkk WHERE len(tk) >= 2) GROUP BY 1, 2),
      tot AS (SELECT (SELECT CAST(SUM(cab) AS BIGINT) FROM bi) AS bb,
                (SELECT CAST(SUM(cu) AS BIGINT) FROM uni) AS tt)
      SELECT bg.a, bg.b, cab,
        round(ln((CAST(cab AS DOUBLE) / CAST(bb AS DOUBLE)) /
          ((CAST(ca.cu AS DOUBLE) / CAST(tt AS DOUBLE)) *
           (CAST(cb.cu AS DOUBLE) / CAST(tt AS DOUBLE)))), 6) AS pmi
      FROM bi bg JOIN uni ca ON bg.a = ca.w
      JOIN uni cb ON bg.b = cb.w CROSS JOIN tot
      WHERE cab >= 5
      ORDER BY pmi DESC, bg.a, bg.b LIMIT 20""")),

    // ---- Gapped sequential-pattern support (EventAnalytics.
    // sequencePatterns): "x then later y" with any gap, once per user;
    // per-(user,type) min/max aggregate then the bounded within-user
    // type grid — never an event×event pair join. Equal-µs pairs do
    // not count (strict first_us < last_us, both engines).
    QueryDef("e_seq_patterns", (s, d) => {
      EventAnalytics.sequencePatterns(Tables.events(s, d), SeqTopK)
    }, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                 FROM events),
      sp AS (SELECT user_id, event_type, MIN(ts_us) AS first_us,
               MAX(ts_us) AS last_us
             FROM e GROUP BY 1, 2),
      tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
              FROM e),
      pats AS (SELECT x.event_type || '>' || y.event_type AS pattern,
                 CAST(COUNT(*) AS BIGINT) AS n_users
               FROM sp x JOIN sp y ON x.user_id = y.user_id
               WHERE x.first_us < y.last_us GROUP BY 1)
      SELECT pattern, n_users,
        round(CAST(n_users AS DOUBLE) / CAST(nu AS DOUBLE), 6)
          AS support
      FROM pats CROSS JOIN tot
      ORDER BY n_users DESC, pattern LIMIT 20""")),

    // ---- Cohen's kappa inter-rater agreement (Stats.cohensKappa):
    // two deterministic heuristic quality raters — n_chars >= 306
    // (the corpus median) vs type-token ratio >= 0.6 — and the
    // chance-corrected agreement between them. Exact BIGINT/DECIMAL
    // numerators reduce kappa to ONE double division; token-less
    // docs rate NULL and drop complete-case.
    QueryDef("a_cohens_kappa", (s, d) => {
      val dd = docs(s, d).select(
        when(col("n_chars") >= 306, lit("good")).otherwise(lit("bad"))
          .as("r_len"),
        expr("case when size(" + graft.ops.Hashing.tokensSql +
          ") > 0 then case when " +
          "cast(size(array_distinct(" + graft.ops.Hashing.tokensSql +
          ")) as double) / cast(size(" + graft.ops.Hashing.tokensSql +
          ") as double) >= 0.6D then 'good' else 'bad' end end")
          .as("r_ttr"))
      graft.ops.Stats.cohensKappa(dd, "r_len", "r_ttr")
    }, Some(s"""
      WITH r AS (SELECT
             CASE WHEN n_chars >= 306 THEN 'good' ELSE 'bad' END AS a,
             CASE WHEN len(tk) > 0 THEN CASE WHEN
               CAST(len(list_distinct(tk)) AS DOUBLE) /
               CAST(len(tk) AS DOUBLE) >= 0.6 THEN 'good'
               ELSE 'bad' END END AS b
           FROM (SELECT n_chars,
                   $duckTokensSql AS tk
                 FROM documents)),
      cc AS (SELECT a, b FROM r
             WHERE a IS NOT NULL AND b IS NOT NULL),
      grid AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
               FROM cc GROUP BY 1, 2),
      t AS (SELECT CAST(SUM(nab) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN a = b THEN nab ELSE 0 END) AS BIGINT)
                AS diag
            FROM grid),
      rm AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS ra
             FROM grid GROUP BY 1),
      cm AS (SELECT b, CAST(SUM(nab) AS BIGINT) AS cb
             FROM grid GROUP BY 1),
      pe AS (SELECT SUM(CAST(COALESCE(ra, 0) AS DECIMAL(18,0)) *
               CAST(COALESCE(cb, 0) AS DECIMAL(18,0))) AS pe_num
             FROM rm FULL OUTER JOIN cm ON rm.a = cm.b)
      SELECT n, diag,
        round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        round(CAST(pe_num AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS pe,
        round(CASE WHEN nn > pe_num THEN
          CAST(dn - pe_num AS DOUBLE) / CAST(nn - pe_num AS DOUBLE)
          END, 6) AS kappa
      FROM (SELECT *,
              CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)) AS nn,
              CAST(diag AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))
                AS dn
            FROM t CROSS JOIN pe)""")),

    // ---- DSIR importance weights (TextAnalysis.dsirWeights, Xie et
    // al. 2023): hashed-unigram (1024-bucket) target-vs-raw log-ratio
    // models with add-0.5 smoothing, per-doc importance weight; the
    // model is a bounded broadcast table regardless of vocabulary.
    // Target = lang 'en'. Round-9 DECIMAL per-token terms.
    QueryDef("t_dsir_weights", (s, d) => {
      graft.ops.TextAnalysis.dsirWeights(docs(s, d),
        col("lang") === "en", 1024)
    }, Some(s"""
      WITH toks AS (SELECT doc_id, lang = 'en' AS is_t,
             unnest($duckTokensSql)
               AS term
           FROM documents),
      tb AS (SELECT doc_id, is_t,
               (${Hashing.duckMd5Long("term")}) % 1024 AS bkt
             FROM toks),
      rawc AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cr
               FROM tb GROUP BY 1),
      tgtc AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS ct
               FROM tb WHERE is_t GROUP BY 1),
      tot AS (SELECT
               (SELECT CAST(SUM(cr) AS BIGINT) FROM rawc) AS tr,
               (SELECT CAST(SUM(ct) AS BIGINT) FROM tgtc) AS tt),
      ratio AS (SELECT rawc.bkt,
          CAST(round(ln((CAST(COALESCE(ct, 0) AS DOUBLE) + 0.5) /
            (CAST(tt AS DOUBLE) + 512.0)), 9) AS DECIMAL(12,9)) -
          CAST(round(ln((CAST(cr AS DOUBLE) + 0.5) /
            (CAST(tr AS DOUBLE) + 512.0)), 9) AS DECIMAL(12,9)) AS lr
        FROM rawc LEFT JOIN tgtc ON rawc.bkt = tgtc.bkt
        CROSS JOIN tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        round(CAST(SUM(lr) AS DOUBLE), 6) AS weight
      FROM tb JOIN ratio ON tb.bkt = ratio.bkt
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Heaps'-law vocabulary-growth fit (TextAnalysis.heapsFit):
    // least squares through (ln first-occurrence position, ln type
    // rank) — the growth companion of t_zipf_fit; both ordinals run
    // two-phase (token order AND first-appearance rank), decimal
    // moments, closed-form readout.
    QueryDef("t_heaps_fit", (s, d) => {
      graft.ops.TextAnalysis.heapsFit(docs(s, d))
    }, Some(s"""
      WITH tp AS (SELECT doc_id, unnest(list_transform(
               range(1, len(tk) + 1), i -> {'pos': i, 'tok': tk[i]}))
               AS u
             FROM (SELECT doc_id, $duckTokensSql AS tk FROM documents) z),
      toks AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tp),
      o AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS i
            FROM toks),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM o),
      f AS (SELECT tok, MIN(i) AS p FROM o GROUP BY 1),
      v AS (SELECT p, ROW_NUMBER() OVER (ORDER BY p) AS v FROM f),
      pts AS (SELECT
                CAST(round(ln(CAST(p AS DOUBLE)), 9) AS DECIMAL(12,9))
                  AS x,
                CAST(round(ln(CAST(v AS DOUBLE)), 9) AS DECIMAL(12,9))
                  AS y
              FROM v),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk, SUM(x) AS sx,
              SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
              SUM(y * y) AS syy
            FROM pts),
      d AS (SELECT kk, CAST(kk AS DOUBLE) AS dk,
              CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
              CAST(kk AS DOUBLE) * CAST(sxy AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
              CAST(kk AS DOUBLE) * CAST(sxx AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
              CAST(kk AS DOUBLE) * CAST(syy AS DOUBLE) -
                CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
            FROM m)
      SELECT kk AS n_types, n_tokens,
        round(CASE WHEN den > 0 THEN num / den END, 6) AS beta,
        round(CASE WHEN den > 0 THEN (dsy - (num / den) * dsx) / dk END,
          6) AS intercept,
        round(CASE WHEN den > 0 AND deny > 0 THEN
          (num * num) / (den * deny) END, 6) AS r2
      FROM d CROSS JOIN nt""")),

    // ---- Distinct-n n-gram diversity (TextAnalysis.distinctNgrams):
    // the mode-collapse diagnostic for synthetic corpora — distinct/
    // total per n = 1..3 via the gram-count table (one hash aggregate
    // + a 1-row fold per n, never COUNT DISTINCT's Expand).
    QueryDef("t_distinct_ngrams", (s, d) => {
      graft.ops.TextAnalysis.distinctNgrams(docs(s, d))
    }, Some((1 to 3).map { n =>
      s"""SELECT CAST($n AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           round(CASE WHEN SUM(c) > 0 THEN CAST(COUNT(*) AS DOUBLE) /
             CAST(SUM(c) AS DOUBLE) END, 6) AS distinct_ratio
         FROM (SELECT gram, COUNT(*) AS c FROM (
           SELECT unnest(list_transform(
             range(1, greatest(len(tk) - ${n - 1}, 0) + 1),
             i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS gram
           FROM (SELECT $duckTokensSql
                   AS tk FROM documents) z) g
           GROUP BY gram) gc"""
    }.mkString("\nUNION ALL\n") + "\nORDER BY n")),

    // ---- Jensen–Shannon slice divergence (TextAnalysis.jsDivergence):
    // EN vs non-EN language distance over the hashed 1024-bucket
    // unigram models — the symmetric bounded companion of
    // t_dsir_weights and the text twin of q_drift_psi. Full-spine
    // smoothing (empty buckets are NOT zero terms under Laplace),
    // round-9 DECIMAL per-bucket terms, exact folds.
    QueryDef("t_js_divergence", (s, d) => {
      graft.ops.TextAnalysis.jsDivergence(docs(s, d),
        col("lang") === "en", 1024)
    }, Some(s"""
      WITH toks AS (SELECT lang = 'en' AS is_p,
             unnest($duckTokensSql)
               AS term
           FROM documents),
      tb AS (SELECT is_p,
               (${graft.ops.Hashing.duckMd5Long("term")}) % 1024 AS bkt
             FROM toks),
      cnt AS (SELECT bkt,
                CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT)
                  AS cp,
                CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT)
                  AS cq
              FROM tb GROUP BY 1),
      spine AS (SELECT unnest(range(0, 1024)) AS bkt),
      fb AS (SELECT spine.bkt, COALESCE(cp, 0) AS cp,
                 COALESCE(cq, 0) AS cq
               FROM spine LEFT JOIN cnt ON spine.bkt = cnt.bkt),
      tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp,
                CAST(SUM(cq) AS BIGINT) AS tq FROM fb),
      pq AS (SELECT tp, tq,
               (CAST(cp AS DOUBLE) + 0.5) / (CAST(tp AS DOUBLE) + 512.0)
                 AS p,
               (CAST(cq AS DOUBLE) + 0.5) / (CAST(tq AS DOUBLE) + 512.0)
                 AS q
             FROM fb CROSS JOIN tot),
      tm AS (SELECT tp, tq,
               CAST(round(p * ln(p / q), 9) AS DECIMAL(18,9)) AS tpq,
               CAST(round(q * ln(q / p), 9) AS DECIMAL(18,9)) AS tqp,
               CAST(round(p * ln(2.0 * p / (p + q)), 9)
                 AS DECIMAL(18,9)) AS tpm,
               CAST(round(q * ln(2.0 * q / (p + q)), 9)
                 AS DECIMAL(18,9)) AS tqm
             FROM pq)
      SELECT CAST(1024 AS BIGINT) AS n_buckets, tp AS t_p, tq AS t_q,
        round(CAST(SUM(tpq) AS DOUBLE), 6) AS kl_pq,
        round(CAST(SUM(tqp) AS DOUBLE), 6) AS kl_qp,
        round(0.5 * CAST(SUM(tpm) AS DOUBLE) +
          0.5 * CAST(SUM(tqm) AS DOUBLE), 6) AS js
      FROM tm GROUP BY tp, tq""")),

    // ---- Decision-stump training (Stats.decisionStump): best single
    // n_chars threshold for lang='en' by Gini gain over the distinct-
    // value candidate frame; left counts from one packed-BIGINT
    // two-phase running sum; argmax on round(gain,9), threshold asc.
    QueryDef("m_decision_stump", (s, d) => {
      graft.ops.Stats.decisionStump(docs(s, d), "n_chars",
        col("lang") === "en")
    }, Some("""
      WITH rws AS (SELECT CAST(n_chars AS DOUBLE) AS x,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
           FROM documents WHERE n_chars IS NOT NULL),
      bv AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(p) AS BIGINT) AS pv
             FROM rws GROUP BY 1),
      cum AS (SELECT x, CAST(SUM(pv) OVER w AS BIGINT) AS pl,
                CAST(SUM(t) OVER w AS BIGINT) AS nl
              FROM bv
              WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
      tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                CAST(SUM(pv) AS BIGINT) AS np FROM bv),
      cand AS (SELECT x, pl, nl, np - pl AS pr, n - nl AS nr, n, np
               FROM cum CROSS JOIN tot WHERE nl < n),
      g AS (SELECT *,
              2.0 * CAST(np AS DOUBLE) * CAST(n - np AS DOUBLE) /
                (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) -
              2.0 * (CAST(pl AS DOUBLE) * CAST(nl - pl AS DOUBLE) /
                  CAST(nl AS DOUBLE) +
                CAST(pr AS DOUBLE) * CAST(nr - pr AS DOUBLE) /
                  CAST(nr AS DOUBLE)) / CAST(n AS DOUBLE) AS gain
            FROM cand)
      SELECT n, x AS threshold, nl AS n_left, pl AS pos_left,
        nr AS n_right, pr AS pos_right, round(gain, 6) AS gain
      FROM g ORDER BY round(gain, 9) DESC, x LIMIT 1""")),

    // ---- Markov-chain removal-effect attribution (EventAnalytics.
    // markovAttribution): first-order chain over per-user journeys
    // (truncated at the first purchase), removal chains as a scenario
    // column, 12 rounds of the exact-BIGINT micro-unit recurrence
    // (the g_ppr iterate). The oracle unrolls ALL 12 rounds per
    // scenario — integers identical by construction.
    QueryDef("e_attribution_markov", (s, d) => {
      EventAnalytics.markovAttribution(Tables.events(s, d), "purchase")
    }, Some {
      val rounds = (1 to 12).map { i =>
        s"""p$i AS (SELECT sed.scenario, dst AS node,
           |    CAST(SUM((p * w) // ow) AS BIGINT) AS p
           |  FROM sed JOIN p${i - 1}
           |    ON sed.scenario = p${i - 1}.scenario
           |    AND sed.src = p${i - 1}.node
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH e0 AS (SELECT user_id, event_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
      mk AS (SELECT *, SUM(CASE WHEN event_type = 'purchase'
               THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS cc
             FROM e0),
      j AS (SELECT user_id, event_type,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS i
            FROM mk WHERE cc = 0 AND event_type <> 'purchase'),
      us AS (SELECT user_id, MAX(CASE WHEN event_type = 'purchase'
               THEN 1 ELSE 0 END) AS cv
             FROM mk GROUP BY 1),
      mm AS (SELECT user_id, MAX(i) AS m FROM j GROUP BY 1),
      uu AS (SELECT us.user_id, cv, COALESCE(m, 0) AS m
             FROM us LEFT JOIN mm USING (user_id)),
      mids AS (SELECT a.event_type AS src, b.event_type AS dst
               FROM j a JOIN j b ON a.user_id = b.user_id
                 AND b.i = a.i + 1),
      starts AS (SELECT '__start__' AS src,
                   COALESCE(f.event_type, CASE WHEN cv = 1
                     THEN '__conv__' ELSE '__null__' END) AS dst
                 FROM uu LEFT JOIN (SELECT user_id, event_type
                   FROM j WHERE i = 1) f USING (user_id)),
      lasts AS (SELECT j.event_type AS src,
                  CASE WHEN cv = 1 THEN '__conv__' ELSE '__null__' END
                    AS dst
                FROM uu JOIN j ON uu.user_id = j.user_id
                  AND j.i = uu.m
                WHERE uu.m > 0),
      tr AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM
               (SELECT * FROM mids UNION ALL SELECT * FROM starts
                UNION ALL SELECT * FROM lasts)
             GROUP BY 1, 2),
      owt AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
              FROM tr GROUP BY 1),
      ew AS (SELECT tr.src, tr.dst, tr.w, owt.ow
             FROM tr JOIN owt USING (src)),
      scen AS (SELECT DISTINCT event_type AS scenario FROM j
               UNION ALL SELECT '__full__'),
      sed AS (SELECT scenario, src, dst, CAST(SUM(w) AS BIGINT) AS w,
                MAX(ow) AS ow
              FROM (SELECT scenario, src,
                      CASE WHEN dst = scenario THEN '__null__'
                        ELSE dst END AS dst, w, ow
                    FROM scen CROSS JOIN ew WHERE src <> scenario)
              GROUP BY 1, 2, 3
              UNION ALL
              SELECT scenario, s, s, CAST(1 AS BIGINT),
                CAST(1 AS BIGINT)
              FROM scen CROSS JOIN
                (SELECT unnest(['__conv__', '__null__']) AS s)),
      p0 AS (SELECT scenario, '__start__' AS node,
               CAST(1000000000000 AS BIGINT) AS p FROM scen),
      $rounds,
      pf AS (SELECT COALESCE(MAX(p), 0) AS p_full FROM p12
             WHERE scenario = '__full__' AND node = '__conv__'),
      ch AS (SELECT DISTINCT scenario FROM sed
             WHERE scenario <> '__full__'),
      eff AS (SELECT ch.scenario AS channel, p_full,
                COALESCE(pm.p, 0) AS p_rm,
                CAST(round(CASE WHEN p_full > 0 THEN
                  1.0 - CAST(COALESCE(pm.p, 0) AS DOUBLE) /
                  CAST(p_full AS DOUBLE) END, 6) AS DECIMAL(18,6))
                  AS eff
              FROM ch
              LEFT JOIN (SELECT scenario, p FROM p12
                WHERE node = '__conv__') pm
                ON ch.scenario = pm.scenario
              CROSS JOIN pf),
      tot AS (SELECT SUM(eff) AS te FROM eff)
      SELECT channel,
        round(CAST(p_full AS DOUBLE) / 1000000000000.0, 6)
          AS p_conv_full,
        round(CAST(p_rm AS DOUBLE) / 1000000000000.0, 6)
          AS p_conv_removed,
        CAST(eff AS DOUBLE) AS removal_effect,
        round(CASE WHEN te > 0 THEN
          CAST(eff AS DOUBLE) / CAST(te AS DOUBLE) END, 6) AS share
      FROM eff CROSS JOIN tot ORDER BY channel"""
    }),

    // ---- CUSUM changepoint monitoring (EventAnalytics.
    // cusumChangepoint): non-reset Page statistics over the gap-filled
    // per-type daily series — the level-shift detector complementing
    // e_rolling_anomaly's spike flags. The max(0,·) recursion runs as
    // its closed form S = P − min(0, running-min P) over BIGINT-scaled
    // prefix sums (two window functions); doubles only in the /7
    // readout, so both engines hold identical integers throughout.
    QueryDef("e_cusum_changepoint", (s, d) => {
      EventAnalytics.cusumChangepoint(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH daily AS (
        SELECT event_type AS k, ${EventAnalytics.duckDay} AS day,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      $duckKeyedGrid,
      g AS (SELECT gr.k, gr.day, COALESCE(d.n, 0) AS n,
              ROW_NUMBER() OVER (PARTITION BY gr.k ORDER BY gr.day) AS i
            FROM grid gr LEFT JOIN daily d
              ON gr.k = d.k AND gr.day = d.day),
      b AS (SELECT k, CAST(SUM(n) AS BIGINT) AS s_base,
              COUNT(*) AS n_base
            FROM g WHERE i <= 7 GROUP BY 1),
      m AS (SELECT g.k, g.day, g.n, s_base,
              7 * g.n - s_base - (s_base // 10) AS d_up,
              s_base - 7 * g.n - (s_base // 10) AS d_dn
            FROM g JOIN b USING (k) WHERE n_base = 7 AND i > 7),
      w AS (SELECT k, day, n, s_base,
              CAST(SUM(d_up) OVER t AS BIGINT) AS p_up,
              CAST(SUM(d_dn) OVER t AS BIGINT) AS p_dn
            FROM m WINDOW t AS (PARTITION BY k ORDER BY day
              ROWS UNBOUNDED PRECEDING)),
      s AS (SELECT k, day, n, s_base,
              p_up - least(CAST(0 AS BIGINT), MIN(p_up) OVER t) AS s_up,
              p_dn - least(CAST(0 AS BIGINT), MIN(p_dn) OVER t) AS s_dn
            FROM w WINDOW t AS (PARTITION BY k ORDER BY day
              ROWS UNBOUNDED PRECEDING))
      SELECT k AS event_type, day, n AS n_events,
        round(CAST(s_up AS DOUBLE) / 7.0, 6) AS cusum_up,
        round(CAST(s_dn AS DOUBLE) / 7.0, 6) AS cusum_dn,
        s_up > 2 * s_base AS alarm_up,
        s_dn > 2 * s_base AS alarm_dn
      FROM s ORDER BY event_type, day""")),

    // ---- Uplift by segment (EventAnalytics.upliftSegments):
    // heterogeneous treatment effects — the pipe_ab_test readout per
    // first-event-type segment (a pre-treatment attribute; the same
    // md5 arm split). BIGINT counts, one IEEE chain, null z on
    // degenerate pooled rates.
    QueryDef("e_uplift_segments", (s, d) => {
      EventAnalytics.upliftSegments(Tables.events(s, d),
        col("event_type") === "purchase" && col("value") > 100.0)
    }, Some(s"""
      WITH e AS (SELECT user_id, event_id, event_type, value,
             epoch_us(ts) AS ts_us FROM events),
      fe AS (SELECT user_id, event_type AS segment FROM (
               SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS rn FROM e) z
             WHERE rn = 1),
      pu AS (SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                 AND value > 100.0 THEN 1
                 ELSE 0 END) AS BIGINT) AS conv,
               (${graft.ops.Hashing.duckMd5Long(
                 "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS variant
             FROM e GROUP BY user_id),
      pv AS (SELECT segment, conv, variant
             FROM pu JOIN fe USING (user_id)),
      g AS (SELECT segment,
              CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)
                AS BIGINT) AS conv_a,
              CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
              CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)
                AS BIGINT) AS conv_b
            FROM pv GROUP BY 1),
      x AS (SELECT *,
              CASE WHEN n_a > 0 THEN
                CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS p_a,
              CASE WHEN n_b > 0 THEN
                CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS p_b,
              CASE WHEN n_a + n_b > 0 THEN
                CAST(conv_a + conv_b AS DOUBLE) /
                CAST(n_a + n_b AS DOUBLE) END AS pp
            FROM g)
      SELECT segment, n_a, conv_a, round(p_a, 6) AS rate_a,
        n_b, conv_b, round(p_b, 6) AS rate_b,
        round(p_b - p_a, 6) AS uplift,
        round(CASE WHEN pp > 0.0 AND pp < 1.0 AND n_a > 0 AND n_b > 0
          THEN (p_b - p_a) / sqrt(pp * (1.0 - pp) *
          (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END,
          6) AS z
      FROM x ORDER BY segment""")),

    // ---- Seasonal-naive day-of-week forecast (EventAnalytics.
    // seasonalNaiveForecast): same-weekday 4-cycle means — the
    // weekly-cycle sibling of e_ewma_forecast/e_holt_forecast. BIGINT
    // conditional sums over one 4-week slice, one /4 division each.
    QueryDef("e_seasonal_forecast", (s, d) => {
      EventAnalytics.seasonalNaiveForecast(Tables.events(s, d),
        "event_type")
    }, Some(s"""
      WITH e0 AS (SELECT event_type AS k,
             ${EventAnalytics.duckDay} AS day FROM events),
      a AS (SELECT MAX(day) AS d1 FROM e0),
      g AS (SELECT k, d1,
              CAST(SUM(CASE WHEN day = d1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_actual,
              CAST(SUM(CASE WHEN day IN (d1-7, d1-14, d1-21, d1-28)
                THEN 1 ELSE 0 END) AS BIGINT) AS hist_sum,
              CAST(SUM(CASE WHEN day IN (d1-6, d1-13, d1-20, d1-27)
                THEN 1 ELSE 0 END) AS BIGINT) AS next_sum
            FROM e0 CROSS JOIN a
            WHERE day >= d1 - 28 AND day <= d1
            GROUP BY 1, 2)
      SELECT k AS event_type, d1 AS day, n_actual,
        round(CAST(hist_sum AS DOUBLE) / 4.0, 6) AS forecast,
        round(CAST(n_actual AS DOUBLE) -
          CAST(hist_sum AS DOUBLE) / 4.0, 6) AS resid,
        d1 + 1 AS next_day,
        round(CAST(next_sum AS DOUBLE) / 4.0, 6) AS next_forecast
      FROM g"""))
  )
}
