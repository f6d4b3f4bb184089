package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Drift, EventAnalytics, Market, Rank, Survival}
import graft.queries.Tables.t
import graft.ops.Hashing.duckTokensSql

/** Recommendation, drift, and lifetime analytics gates: market-basket
  * association rules and item-based collaborative filtering
  * (graft.ops.Market), the PSI distribution-drift report
  * (graft.ops.Drift), the equi-depth NTILE histogram on the two-phase
  * global ordinal (graft.ops.Rank.equiDepthHistogram), and the
  * Kaplan–Meier churn curve (graft.ops.Survival). Every oracle is a
  * full DuckDB replay; scale contracts live on the ops.
  */
object Insights extends QueryModule {

  private val WeekUs = 604800000000L

  val defs: Seq[QueryDef] = Seq(

    // ---- Association rules over order baskets. Items are partkey
    // residues mod 100 — a deterministic category surrogate that gives
    // the synthetic baskets enough co-occurrence density for the
    // support/confidence/lift statistics to be non-degenerate (the op
    // itself takes any basket/item columns).
    QueryDef("m_basket_rules", (s, d) => {
      Market.basketRules(
        t(s, d, "lineitem").select(col("l_orderkey").as("basket"),
          (col("l_partkey") % 100).as("item")),
        "basket", "item", minPairCount = 2L, maxBasket = 64, k = 50)
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i
                     FROM lineitem),
      sized AS (SELECT b, i FROM (SELECT b, i,
                  COUNT(*) OVER (PARTITION BY b) AS w FROM items)
                WHERE w <= 64),
      nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets
             FROM sized),
      ic AS (SELECT i AS item, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM sized GROUP BY 1),
      pairs AS (SELECT a.i AS antecedent, c.i AS consequent,
                  CAST(COUNT(*) AS BIGINT) AS n_both
                FROM sized a JOIN sized c ON a.b = c.b AND a.i <> c.i
                GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT antecedent, consequent, n_both,
        round(CAST(n_both AS DOUBLE) / n_baskets, 6) AS support,
        round(CAST(n_both AS DOUBLE) / ia.n_item, 6) AS confidence,
        round(CAST(n_both AS DOUBLE) * n_baskets /
          (ia.n_item * ib.n_item), 6) AS lift
      FROM pairs CROSS JOIN nb
      JOIN ic ia ON ia.item = antecedent
      JOIN ic ib ON ib.item = consequent
      ORDER BY lift DESC, antecedent, consequent LIMIT 50""")),

    // ---- Item-based collaborative filtering on the customer×item
    // matrix (orders ⋈ lineitem; items are partkey residues mod 200 so
    // per-item user sets overlap). History capped at 15 items/user —
    // the quadratic guard documented on the op.
    QueryDef("rec_item_neighbors", (s, d) => {
      Market.itemNeighbors(
        t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("u"),
            (col("l_partkey") % 200).as("i")),
        "u", "i", maxPerUser = 15, k = 10)
    }, Some("""
      WITH ui0 AS (SELECT DISTINCT o_custkey AS u, l_partkey % 200 AS i
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ui AS (SELECT u, i FROM (SELECT u, i, ROW_NUMBER() OVER
               (PARTITION BY u ORDER BY i) AS r FROM ui0) WHERE r <= 15),
      ic AS (SELECT i AS it, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM ui GROUP BY 1),
      p AS (SELECT a.i AS i, c.i AS j, CAST(COUNT(*) AS BIGINT) AS n_both
            FROM ui a JOIN ui c ON a.u = c.u AND a.i < c.i GROUP BY 1, 2),
      d AS (SELECT i, j, n_both FROM p
            UNION ALL SELECT j, i, n_both FROM p),
      s AS (SELECT d.i AS item, d.j AS neighbor, d.n_both,
              round(d.n_both / sqrt(CAST(ia.n_item AS DOUBLE) * ib.n_item),
                6) AS cosine
            FROM d JOIN ic ia ON ia.it = d.i JOIN ic ib ON ib.it = d.j)
      SELECT item, neighbor, n_both, cosine, CAST(rank AS INT) AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
              ORDER BY cosine DESC, neighbor) AS rank FROM s)
      WHERE rank <= 10""")),

    // ---- PSI drift report between the first and second temporal
    // halves of the event log: numeric `value` on the frozen 10-bin
    // reference grid, categorical `event_type` on the observed union.
    QueryDef("q_drift_psi", (s, d) => {
      val e = Tables.events(s, d)
      val mid = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      val withMid = e.crossJoin(broadcast(mid))
      val ref = withMid.where(col("ts_us") < col("__mid"))
      val cur = withMid.where(col("ts_us") >= col("__mid"))
      Drift.psiNumeric(ref, cur, "value", nBins = 10)
        .unionAll(Drift.psiCategorical(ref, cur, "event_type"))
    }, Some("""
      WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                   AS mid FROM events),
      ref AS (SELECT e.* FROM events e CROSS JOIN b
              WHERE epoch_us(ts) < mid),
      cur AS (SELECT e.* FROM events e CROSS JOIN b
              WHERE epoch_us(ts) >= mid),
      g AS (SELECT MIN(CAST(value AS DOUBLE)) AS lo,
                   MAX(CAST(value AS DOUBLE)) AS hi FROM ref),
      rn AS (SELECT CASE WHEN hi <= lo THEN 0 ELSE LEAST(9, GREATEST(0,
                 CAST(FLOOR((CAST(value AS DOUBLE) - lo) * 10 / (hi - lo))
                   AS INT))) END AS bin, CAST(COUNT(*) AS BIGINT) AS n
             FROM ref CROSS JOIN g WHERE value IS NOT NULL GROUP BY 1),
      cn AS (SELECT CASE WHEN hi <= lo THEN 0 ELSE LEAST(9, GREATEST(0,
                 CAST(FLOOR((CAST(value AS DOUBLE) - lo) * 10 / (hi - lo))
                   AS INT))) END AS bin, CAST(COUNT(*) AS BIGINT) AS n
             FROM cur CROSS JOIN g WHERE value IS NOT NULL GROUP BY 1),
      sp AS (SELECT unnest(range(0, 10)) AS bin),
      jn AS (SELECT sp.bin,
               COALESCE(rn.n, 0) AS n_ref, COALESCE(cn.n, 0) AS n_cur
             FROM sp LEFT JOIN rn ON sp.bin = rn.bin
                     LEFT JOIN cn ON sp.bin = cn.bin),
      tn AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM jn),
      pn AS (SELECT 'value' AS feature, 'numeric' AS kind,
               CAST(10 AS INT) AS n_bins,
               CAST(ANY_VALUE(t_ref) AS BIGINT) AS n_ref,
               CAST(ANY_VALUE(t_cur) AS BIGINT) AS n_cur,
               round(SUM((p - q) * ln(p / q)), 6) AS psi
             FROM (SELECT t_ref, t_cur,
                     (n_ref + 0.5) / (t_ref + 0.5 * 10) AS p,
                     (n_cur + 0.5) / (t_cur + 0.5 * 10) AS q
                   FROM jn CROSS JOIN tn)),
      rc AS (SELECT COALESCE(CAST(event_type AS VARCHAR), '__null__')
                 AS bin, CAST(COUNT(*) AS BIGINT) AS n
             FROM ref GROUP BY 1),
      cc AS (SELECT COALESCE(CAST(event_type AS VARCHAR), '__null__')
                 AS bin, CAST(COUNT(*) AS BIGINT) AS n
             FROM cur GROUP BY 1),
      jc AS (SELECT COALESCE(rc.bin, cc.bin) AS bin,
               COALESCE(rc.n, 0) AS n_ref, COALESCE(cc.n, 0) AS n_cur
             FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin),
      kc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM jc),
      tc AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM jc),
      pc AS (SELECT 'event_type' AS feature, 'categorical' AS kind,
               CAST(ANY_VALUE(k) AS INT) AS n_bins,
               CAST(ANY_VALUE(t_ref) AS BIGINT) AS n_ref,
               CAST(ANY_VALUE(t_cur) AS BIGINT) AS n_cur,
               round(SUM((p - q) * ln(p / q)), 6) AS psi
             FROM (SELECT t_ref, t_cur, k,
                     (n_ref + 0.5) / (t_ref + 0.5 * k) AS p,
                     (n_cur + 0.5) / (t_cur + 0.5 * k) AS q
                   FROM jc CROSS JOIN tc CROSS JOIN kc))
      SELECT * FROM pn UNION ALL SELECT * FROM pc""")),

    // ---- Equi-depth (NTILE) histogram of extended price — the
    // adaptive-boundary twin of the equi-width `a_histogram` gate,
    // riding the two-phase global ordinal instead of a one-task sort.
    QueryDef("a_histogram_equidepth", (s, d) => {
      Rank.equiDepthHistogram(t(s, d, "lineitem"), "l_extendedprice",
        Seq(col("l_orderkey"), col("l_linenumber")), k = 10)
    }, Some("""
      WITH r AS (SELECT l_extendedprice AS v,
                   NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                     l_linenumber) - 1 AS bucket
                 FROM lineitem)
      SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(v) AS lo, MAX(v) AS hi, round(AVG(v), 6) AS avg_v
      FROM r GROUP BY 1""")),

    // ---- Z-order (Morton) layout report: the z-sorted order in 32
    // equi-depth buckets with each bucket's (partkey, suppkey)
    // bounding rectangle — tight rectangles on BOTH keys are the
    // file-pruning claim a lexicographic sort only delivers for its
    // leading column. Bit-identical z on both engines (same shift-mask
    // ladder, Layout.duckZSql).
    QueryDef("o15_zorder_layout", (s, d) => {
      graft.ops.Layout.zOrderBuckets(t(s, d, "lineitem"),
        "l_partkey", "l_suppkey",
        Seq(col("l_orderkey"), col("l_linenumber")), k = 32)
    }, Some(s"""
      WITH z AS (SELECT l_partkey AS a, l_suppkey AS b,
                   ${graft.ops.Layout.duckZSql("l_partkey", "l_suppkey")}
                     AS zv, l_orderkey, l_linenumber
                 FROM lineitem),
      r AS (SELECT a, b, NTILE(32) OVER (ORDER BY zv, l_orderkey,
              l_linenumber) - 1 AS bucket FROM z)
      SELECT CAST(bucket AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(a) AS a_lo, MAX(a) AS a_hi, MIN(b) AS b_lo, MAX(b) AS b_hi
      FROM r GROUP BY 1""")),

    // ---- Kaplan–Meier churn curve over user lifetimes in weeks;
    // users active within 2 weeks of the study end are right-censored.
    QueryDef("e_survival_km", (s, d) => {
      Survival.kaplanMeier(Tables.events(s, d), WeekUs,
        censorLagUnits = 2)
    }, Some("""
      WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS f,
                   MAX(epoch_us(ts)) AS l FROM events GROUP BY 1),
      se AS (SELECT MAX(l) AS study_end FROM u),
      lt AS (SELECT (l - f) // 604800000000 AS t,
               CASE WHEN l < study_end - 2 * 604800000000 THEN 1 ELSE 0
                 END AS dead
             FROM u CROSS JOIN se),
      bt AS (SELECT t, CAST(SUM(dead) AS BIGINT) AS n_deaths,
               CAST(SUM(1 - dead) AS BIGINT) AS n_censored
             FROM lt GROUP BY 1),
      r AS (SELECT *, CAST(SUM(n_deaths + n_censored) OVER () -
               COALESCE(SUM(n_deaths + n_censored) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk FROM bt),
      f2 AS (SELECT *, 1.0 - CAST(n_deaths AS DOUBLE) / n_at_risk
               AS factor FROM r)
      SELECT t, n_at_risk, n_deaths, n_censored,
        CASE WHEN MAX(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER
               (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
             ELSE round(exp(SUM(ln(factor)) OVER (ORDER BY t
               ROWS UNBOUNDED PRECEDING)), 6) END AS survival
      FROM f2""")),

    // ---- Log-rank two-arm survival test (Survival.logRank): do
    // ever-purchasers churn on a different curve? Same weekly
    // lifetime/censor extraction as e_survival_km with a per-user arm
    // flag; per-event-time E and hypergeometric V terms round(,9)
    // into DECIMAL before the horizon-sized fold.
    QueryDef("e_logrank_test", (s, d) => {
      Survival.logRank(Tables.events(s, d), WeekUs,
        col("event_type") === "purchase", censorLagUnits = 2)
    }, Some("""
      WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS f,
                   MAX(epoch_us(ts)) AS l,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS ga
                 FROM events GROUP BY 1),
      se AS (SELECT MAX(l) AS study_end FROM u),
      lt AS (SELECT (l - f) // 604800000000 AS t,
               CASE WHEN l < study_end - 2 * 604800000000 THEN 1 ELSE 0
                 END AS dead, ga
             FROM u CROSS JOIN se),
      bt AS (SELECT t, CAST(SUM(dead) AS BIGINT) AS d,
               CAST(SUM(ga * dead) AS BIGINT) AS da,
               CAST(COUNT(*) AS BIGINT) AS leave,
               CAST(SUM(ga) AS BIGINT) AS leave_a
             FROM lt GROUP BY 1),
      r AS (SELECT *,
              CAST(SUM(leave) OVER () -
                COALESCE(SUM(leave) OVER (ORDER BY t ROWS BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_at,
              CAST(SUM(leave_a) OVER () -
                COALESCE(SUM(leave_a) OVER (ORDER BY t ROWS BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS na_at
            FROM bt),
      a AS (SELECT CAST(SUM(da) AS BIGINT) AS o_a,
              SUM(CAST(round(CAST(d AS DOUBLE) *
                CAST(na_at AS DOUBLE) / CAST(n_at AS DOUBLE), 9)
                AS DECIMAL(28,9))) AS e_a,
              SUM(CASE WHEN n_at > 1 THEN CAST(round(
                CAST(d AS DOUBLE) *
                (CAST(na_at AS DOUBLE) / CAST(n_at AS DOUBLE)) *
                (1.0 - CAST(na_at AS DOUBLE) / CAST(n_at AS DOUBLE)) *
                CAST(n_at - d AS DOUBLE) / CAST(n_at - 1 AS DOUBLE), 9)
                AS DECIMAL(28,9))
                ELSE CAST(0 AS DECIMAL(28,9)) END) AS va
            FROM r WHERE d > 0),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(ga) AS BIGINT) AS n_a FROM lt)
      SELECT n_users, n_a, o_a,
        round(CAST(e_a AS DOUBLE), 6) AS e_a,
        round(CAST(va AS DOUBLE), 6) AS v_a,
        round(CASE WHEN va > 0 THEN
          power(CAST(o_a AS DOUBLE) - CAST(e_a AS DOUBLE), 2) /
          CAST(va AS DOUBLE) END, 6) AS chi2
      FROM a CROSS JOIN nn""")),

    // ---- Nelson–Aalen cumulative hazard (Survival.nelsonAalen): the
    // KM alternative over the SAME weekly lifetime extraction — hazard
    // increments round(,9) into DECIMAL(18,9) so the cumulative sum is
    // EXACT (no cross-engine double-order assumption at all), with the
    // Fleming–Harrington survival exp(−H) readout.
    QueryDef("e_hazard_na", (s, d) => {
      Survival.nelsonAalen(Tables.events(s, d), WeekUs,
        censorLagUnits = 2)
    }, Some("""
      WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS f,
                   MAX(epoch_us(ts)) AS l FROM events GROUP BY 1),
      se AS (SELECT MAX(l) AS study_end FROM u),
      lt AS (SELECT (l - f) // 604800000000 AS t,
               CASE WHEN l < study_end - 2 * 604800000000 THEN 1 ELSE 0
                 END AS dead
             FROM u CROSS JOIN se),
      bt AS (SELECT t, CAST(SUM(dead) AS BIGINT) AS n_deaths,
               CAST(SUM(1 - dead) AS BIGINT) AS n_censored
             FROM lt GROUP BY 1),
      r AS (SELECT *, CAST(SUM(n_deaths + n_censored) OVER () -
               COALESCE(SUM(n_deaths + n_censored) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk FROM bt),
      h AS (SELECT *, CAST(round(CAST(n_deaths AS DOUBLE) / n_at_risk,
               9) AS DECIMAL(18,9)) AS hterm FROM r),
      c AS (SELECT t, n_at_risk, n_deaths, n_censored,
              SUM(hterm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS ch FROM h)
      SELECT t, n_at_risk, n_deaths, n_censored,
        round(CAST(ch AS DOUBLE), 6) AS cum_hazard,
        round(exp(-CAST(ch AS DOUBLE)), 6) AS survival_fh
      FROM c""")),

    // ---- Mann–Whitney U rank-sum test (Stats.mannWhitney): the
    // nonparametric two-sample twin of pipe_ab_test — click vs view
    // event values compared by ranks (tie-corrected normal
    // approximation). The doubled rank-sum is pure BIGINT (average
    // ranks are half-integers), cumulated through the two-phase
    // running sum — no unpartitioned rank window.
    QueryDef("a_mann_whitney", (s, d) => {
      graft.ops.Stats.mannWhitney(Tables.events(s, d), "event_type",
        "value", "click", "view")
    }, Some("""
      WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                 FROM events
                 WHERE event_type IN ('click', 'view')
                   AND value IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS na_v
             FROM r GROUP BY 1),
      c AS (SELECT *, SUM(t) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) - t AS below FROM bv),
      a AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
              CAST(SUM(t) AS BIGINT) AS n,
              CAST(SUM(na_v * (2 * below + t + 1)) AS BIGINT) AS ra2,
              CAST(SUM(t * t * t - t) AS BIGINT) AS ties
            FROM c)
      SELECT n_a, n - n_a AS n_b,
        round(ra2 / 2.0 - n_a * (n_a + 1) / 2.0, 6) AS u,
        round((ra2 / 2.0 - n_a * (n_a + 1) / 2.0 -
          n_a * (n - n_a) / 2.0) /
          sqrt((n_a * (n - n_a) / 12.0) *
          ((n + 1) - ties / (n * (n - 1.0)))), 6) AS z
      FROM a""")),

    // ---- Welch's unequal-variance t-test (Stats.welchTTest): the
    // parametric twin of a_mann_whitney over the same click/view
    // split; DECIMAL moment sums, one mirrored IEEE expression chain.
    QueryDef("a_welch_ttest", (s, d) => {
      graft.ops.Stats.welchTTest(Tables.events(s, d), "event_type",
        "value", "click", "view")
    }, Some("""
      WITH r AS (SELECT event_type AS g,
               CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6)) AS v
             FROM events
             WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      a AS (SELECT
              CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
              SUM(CASE WHEN g = 'click' THEN v END) AS s_a,
              SUM(CASE WHEN g = 'click'
                THEN CAST(v * v AS DECIMAL(38,12)) END) AS ss_a,
              CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_b,
              SUM(CASE WHEN g = 'view' THEN v END) AS s_b,
              SUM(CASE WHEN g = 'view'
                THEN CAST(v * v AS DECIMAL(38,12)) END) AS ss_b
            FROM r),
      b AS (SELECT *,
              CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
              CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
              (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) *
                CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
                (CAST(n_a AS DOUBLE) - 1.0) AS v_a,
              (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) *
                CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
                (CAST(n_b AS DOUBLE) - 1.0) AS v_b
            FROM a)
      SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
        round((m_a - m_b) / sqrt(v_a / CAST(n_a AS DOUBLE) +
          v_b / CAST(n_b AS DOUBLE)), 6) AS t,
        round(power(v_a / CAST(n_a AS DOUBLE) +
            v_b / CAST(n_b AS DOUBLE), 2) /
          (power(v_a / CAST(n_a AS DOUBLE), 2) /
            (CAST(n_a AS DOUBLE) - 1.0) +
           power(v_b / CAST(n_b AS DOUBLE), 2) /
            (CAST(n_b AS DOUBLE) - 1.0)), 4) AS df
      FROM b""")),

    // ---- TOST equivalence (Stats.tostEquivalence): are click and
    // view values provably within ±5.0 of each other? Two one-sided
    // z-tests against the margin, both must clear 1.645 — the
    // no-regression launch question the plain t-test cannot answer.
    // Shares the Welch decimal-moment CTE shape; different readout.
    QueryDef("a_tost_equivalence", (s, d) => {
      graft.ops.Stats.tostEquivalence(Tables.events(s, d), "event_type",
        "value", "click", "view", 5.0)
    }, Some("""
      WITH r AS (SELECT event_type AS g,
               CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6)) AS v
             FROM events
             WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      a AS (SELECT
              CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
              SUM(CASE WHEN g = 'click' THEN v END) AS s_a,
              SUM(CASE WHEN g = 'click'
                THEN CAST(v * v AS DECIMAL(38,12)) END) AS ss_a,
              CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_b,
              SUM(CASE WHEN g = 'view' THEN v END) AS s_b,
              SUM(CASE WHEN g = 'view'
                THEN CAST(v * v AS DECIMAL(38,12)) END) AS ss_b
            FROM r),
      b AS (SELECT *,
              CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
              CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
              (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) *
                CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
                (CAST(n_a AS DOUBLE) - 1.0) AS v_a,
              (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) *
                CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
                (CAST(n_b AS DOUBLE) - 1.0) AS v_b
            FROM a),
      c AS (SELECT *, sqrt(v_a / CAST(n_a AS DOUBLE) +
              v_b / CAST(n_b AS DOUBLE)) AS se FROM b)
      SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
        round(m_a - m_b, 6) AS diff, round(se, 6) AS se,
        round(((m_a - m_b) + 5.0) / se, 6) AS t_lower,
        round((5.0 - (m_a - m_b)) / se, 6) AS t_upper,
        CAST(CASE WHEN ((m_a - m_b) + 5.0) / se > 1.645
          AND (5.0 - (m_a - m_b)) / se > 1.645
          THEN 1 ELSE 0 END AS BIGINT) AS equivalent
      FROM c""")),

    // ---- Bloom-prefiltered star join (RuntimeFilter.bloomFilteredJoin):
    // the dimension predicate compresses to ONE broadcast m-bit Bloom
    // row that pre-filters the fact scan BEFORE its shuffle — no false
    // negatives, so the oracle is the PLAIN join (what the operator
    // must exactly reproduce); the spec measures the row reduction.
    QueryDef("j_bloom_prefilter", (s, d) => {
      val build = t(s, d, "supplier")
        .filter(col("s_nationkey") === 5)
        .select("s_suppkey", "s_acctbal")
      graft.ops.RuntimeFilter.bloomFilteredJoin(
          t(s, d, "lineitem").select("l_orderkey", "l_linenumber",
            "l_suppkey", "l_quantity"),
          "l_suppkey", build, "s_suppkey")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          max(col("s_acctbal")).as("acctbal"))
    }, Some("""
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        MAX(s_acctbal) AS acctbal
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 5
      GROUP BY 1 ORDER BY 1""")),

    // ---- RFM quintile segmentation (EventAnalytics.rfmSegments):
    // recency/frequency/monetary NTILE(5) scores per user (5 = best),
    // rolled into the ≤125-row segment grid. A driver-local fold on
    // bounded user tables, else one fused two-phase ordinal over the
    // |users| table — never an unpartitioned NTILE window; monetary
    // sums round(value,6) in DECIMAL.
    QueryDef("e_rfm_segments", (s, d) => {
      EventAnalytics.rfmSegments(Tables.events(s, d))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value
                 FROM events),
      pu AS (SELECT user_id, MAX(ts_us) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS freq,
               SUM(CAST(round(COALESCE(value, 0), 6) AS DECIMAL(28,6)))
                 AS mon
             FROM e GROUP BY 1),
      g AS (SELECT MAX(ts_us) AS gmax FROM e),
      u AS (SELECT pu.*, gmax - last_ts AS recency_us
            FROM pu CROSS JOIN g),
      sc AS (SELECT user_id, mon,
               CAST(NTILE(5) OVER (ORDER BY recency_us DESC, user_id)
                 AS INT) AS r_score,
               CAST(NTILE(5) OVER (ORDER BY freq, user_id) AS INT)
                 AS f_score,
               CAST(NTILE(5) OVER (ORDER BY mon, user_id) AS INT)
                 AS m_score
             FROM u)
      SELECT r_score, f_score, m_score,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        round(CAST(SUM(mon) AS DOUBLE), 4) AS total_monetary
      FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ---- DPO preference-pair construction (Preference.dpoPairs):
    // per (lang|source) group, the highest/lowest type-token-ratio
    // documents become the (chosen, rejected) alignment-training pair
    // — one max/min-of-struct hash aggregate, deterministic id
    // tie-breaks, zero-margin ties dropped.
    QueryDef("pipe_dpo_pairs", (s, d) => {
      val scored = graft.ops.TextAnalysis.qualityScore(
        t(s, d, "documents"), Seq("lang", "source"))
        .select(col("doc_id"),
          concat(col("lang"), lit("|"), col("source")).as("g"),
          col("type_token_ratio").as("score"))
      graft.ops.Preference.dpoPairs(scored, "g", "doc_id", "score")
    }, Some(s"""
      WITH t AS (SELECT doc_id, lang || '|' || source AS g,
               $duckTokensSql AS toks
             FROM documents),
      q AS (SELECT doc_id, g,
              round(CAST(len(list_distinct(toks)) AS DOUBLE) /
                greatest(len(toks), 1), 6) AS score
            FROM t),
      a AS (SELECT g AS group_id, CAST(COUNT(*) AS BIGINT) AS n_responses,
              MAX(struct_pack(s := score, i := doc_id)) AS hi,
              MIN(struct_pack(s := score, i := doc_id)) AS lo
            FROM q GROUP BY 1)
      SELECT group_id, n_responses, hi.i AS chosen_id,
        lo.i AS rejected_id, hi.s AS chosen_score, lo.s AS rejected_score,
        round(hi.s - lo.s, 6) AS margin
      FROM a WHERE n_responses >= 2 AND round(hi.s - lo.s, 6) > 0.0
      ORDER BY group_id""")),

    // ---- A/B power analysis (EventAnalytics.powerAnalysis): per-arm
    // sample size to detect a 10% relative lift on the measured
    // baseline conversion at α=0.05 / power 0.80 — the planning half
    // of pipe_ab_test; one per-user aggregate + a 1-row closed-form
    // fold the oracle mirrors textually.
    QueryDef("e_power_analysis", (s, d) => {
      EventAnalytics.powerAnalysis(Tables.events(s, d),
        col("event_type") === "purchase")
    }, Some("""
      WITH pu AS (SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS conv
             FROM events GROUP BY 1),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(conv) AS BIGINT) AS n_conv FROM pu),
      b AS (SELECT *, CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
              AS p1 FROM a),
      c AS (SELECT *, LEAST(p1 * 1.1, 1.0) AS p2 FROM b),
      d AS (SELECT *, (p1 + p2) / 2.0 AS pbar FROM c)
      SELECT n_users, n_conv, round(p1, 6) AS p_base,
        round(p2, 6) AS p_target,
        CASE WHEN p2 > p1 THEN CAST(ceil(
          power(1.959964 * sqrt(2.0 * pbar * (1.0 - pbar)) +
            0.841621 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2) /
          power(p2 - p1, 2)) AS BIGINT) END AS n_per_arm
      FROM d""")),

    // ---- Cohort lifetime-value curves (EventAnalytics.cohortLtv):
    // the revenue companion of the retention matrix — cumulative
    // per-cohort revenue by week age with per-user LTV; DECIMAL
    // revenue sums, weeks²-sized cell grid.
    QueryDef("e_cohort_ltv", (s, d) => {
      EventAnalytics.cohortLtv(Tables.events(s, d))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
               CAST(round(COALESCE(value, 0), 6) AS DECIMAL(28,6)) AS rev
             FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY 1),
      cell AS (SELECT cohort, wk - cohort AS age_w,
                 CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
                 SUM(rev) AS rev
               FROM e JOIN f USING (user_id) GROUP BY 1, 2),
      sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
             FROM f GROUP BY 1),
      c2 AS (SELECT cohort, age_w, n_active,
               SUM(rev) OVER (PARTITION BY cohort ORDER BY age_w
                 ROWS UNBOUNDED PRECEDING) AS cum
             FROM cell)
      SELECT c2.cohort, age_w, n_active, cohort_users,
        round(CAST(cum AS DOUBLE), 4) AS cum_value,
        round(CAST(cum AS DOUBLE) / cohort_users, 6) AS ltv_per_user
      FROM c2 JOIN sz USING (cohort) ORDER BY 1, 2""")),

    // ---- Small-file compaction planning (Layout.compactionPlan):
    // per-day order "files" packed into contiguous target-sized
    // rewrite groups by the start-offset rule, cumulated through the
    // two-phase running sum — the greedy bin-packing a table optimizer
    // runs over a 100 M-file listing without one-task sorts.
    QueryDef("o16_compaction_plan", (s, d) => {
      val files = t(s, d, "orders")
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("sz"))
      graft.ops.Layout.compactionPlan(files, "sz", Seq(col("d")), "d",
        targetSize = 2000L)
    }, Some("""
      WITH f AS (SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS sz
                 FROM orders GROUP BY 1),
      c AS (SELECT d, sz, SUM(sz) OVER (ORDER BY d
              ROWS UNBOUNDED PRECEDING) AS cum FROM f),
      g AS (SELECT CAST((cum - sz) // 2000 AS BIGINT) AS "group", d, sz
            FROM c)
      SELECT "group", CAST(COUNT(*) AS BIGINT) AS n_files,
        CAST(SUM(sz) AS BIGINT) AS total_size,
        MIN(d) AS first_key, MAX(d) AS last_key
      FROM g GROUP BY 1 ORDER BY 1""")),

    // ---- Deterministic epoch shuffle (Sampling.epochShuffle): per
    // epoch, every document's data-loader position = its hash-rank —
    // reproducible without RNG state, distinct permutation per epoch.
    // ONE two-phase ordinal over the composite (epoch, hash, key)
    // order; per-epoch positions fall out as ord − e·N (never a
    // per-epoch single-task window).
    QueryDef("o17_epoch_shuffle", (s, d) => {
      graft.ops.Sampling.epochShuffle(t(s, d, "documents"), "doc_id", 2)
    }, Some(s"""
      WITH b AS (SELECT doc_id, epoch FROM documents
                 CROSS JOIN (SELECT unnest(range(0, 2)) AS epoch) e),
      h AS (SELECT doc_id, epoch,
              (${graft.ops.Hashing.duckMd5Long(
                "'epoch:' || CAST(epoch AS VARCHAR) || ':' || " +
                  "CAST(doc_id AS VARCHAR)")}) AS h
            FROM b),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      o AS (SELECT doc_id, epoch,
              CAST(ROW_NUMBER() OVER (ORDER BY epoch, h, doc_id) - 1
                AS BIGINT) AS ord
            FROM h)
      SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
        ord - epoch * n AS pos
      FROM o CROSS JOIN n ORDER BY epoch, pos""")),

    // ---- Proportional source interleave (Sampling.sourceInterleave):
    // the training-order layout — doc o of n_s lands at the midpoint
    // position (2o−1)/(2n_s), so every source spreads uniformly
    // through one epoch; keyed windows only, pos round-9 once.
    QueryDef("o19_source_interleave", (s, d) => {
      graft.ops.Sampling.sourceInterleave(t(s, d, "documents"),
        "doc_id", "source")
    }, Some("""
      WITH q AS (SELECT source,
               CAST(doc_id AS BIGINT) AS id,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY doc_id) AS BIGINT) AS o,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
             FROM documents)
      SELECT round(CAST(2 * o - 1 AS DOUBLE) /
          CAST(2 * ns AS DOUBLE), 9) AS pos, source, id
      FROM q ORDER BY pos, source, id""")),

    // ---- ROC AUC (Stats.rocAuc): does the event value rank purchases
    // above other events? The rank-sum identity AUC = U₊/(n₊n₋) over
    // average ranks — the a_mann_whitney machinery re-read as a model
    // evaluation metric; doubled rank-sum pure BIGINT on the two-phase
    // running sum.
    QueryDef("a_roc_auc", (s, d) => {
      graft.ops.Stats.rocAuc(Tables.events(s, d),
        col("event_type") === "purchase", "value")
    }, Some("""
      WITH r AS (SELECT CAST(value AS DOUBLE) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             FROM events WHERE value IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(p) AS BIGINT) AS np_v FROM r GROUP BY 1),
      c AS (SELECT *, SUM(t) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) - t AS below FROM bv),
      a AS (SELECT CAST(SUM(np_v) AS BIGINT) AS n_pos,
              CAST(SUM(t) AS BIGINT) AS n,
              CAST(SUM(np_v * (2 * below + t + 1)) AS BIGINT) AS rp2
            FROM c)
      SELECT n_pos, n - n_pos AS n_neg,
        round((rp2 / 2.0 - n_pos * (n_pos + 1) / 2.0) /
          (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)), 6) AS auc,
        round(2.0 * ((rp2 / 2.0 - n_pos * (n_pos + 1) / 2.0) /
          (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))) - 1.0, 6)
          AS gini
      FROM a""")),

    // ---- Two-sample Kolmogorov–Smirnov test (Stats.ksTest): the
    // whole-CDF companion of a_mann_whitney over the same click/view
    // split — D = max |F̂_a − F̂_b| with both CDFs unpacked from ONE
    // packed-BIGINT two-phase running sum; the maximized numerator is
    // exact BIGINT cross-multiplication.
    QueryDef("a_ks_test", (s, d) => {
      graft.ops.Stats.ksTest(Tables.events(s, d), "event_type",
        "value", "click", "view")
    }, Some("""
      WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                 FROM events
                 WHERE event_type IN ('click', 'view')
                   AND value IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS na_v
             FROM r GROUP BY 1),
      c AS (SELECT
              CAST(SUM(na_v) OVER (ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
              CAST(SUM(t) OVER (ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_t FROM bv),
      tot AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
                CAST(SUM(t) - SUM(na_v) AS BIGINT) AS n_b FROM bv),
      m AS (SELECT n_a, n_b,
              CAST(MAX(ABS(cum_a * n_b - (cum_t - cum_a) * n_a))
                AS BIGINT) AS mx
            FROM c CROSS JOIN tot GROUP BY 1, 2)
      SELECT n_a, n_b,
        round(CAST(mx AS DOUBLE) /
          (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
        round((CAST(mx AS DOUBLE) /
            (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) *
          sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
            CAST(n_a + n_b AS DOUBLE)), 6) AS ks_z
      FROM m""")),

    // ---- Per-group OLS regression (Stats.olsRegression): price-on-
    // quantity slope/intercept/R² per return flag from exact DECIMAL
    // moments in ONE aggregate — the closed forms are mirrored
    // textually (never DuckDB's regr_*, whose accumulation order is
    // engine-internal).
    QueryDef("a_ols_regression", (s, d) => {
      graft.ops.Stats.olsRegression(t(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_quantity")
    }, Some("""
      WITH m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sy,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
            CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS sxx,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
            CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS sxy,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n,
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) /
          CAST(n AS DOUBLE), 6) AS intercept,
        round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      FROM m ORDER BY 1""")),

    // ---- Calibration reliability table (Stats.calibrationBins): a
    // hash-uniform [0,1) "score" against the purchase outcome over 10
    // equal-width bins — mean_score ≈ frac_pos per bin iff calibrated
    // (the hash score is independent of the label, so every bin's
    // frac_pos sits near the base rate: the well-calibrated-uniform
    // fixture); DECIMAL score sums, BIGINT outcome ratios.
    QueryDef("m_calibration_bins", (s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Hashing.ensureRegistered(e)
      graft.ops.Stats.calibrationBins(
        e.withColumn("sc", pmod(graft.ops.Hashing.md5Long(
          concat(lit("cal:"), col("event_id").cast("string"))),
          lit(1000L)).cast("double") / 1000.0),
        col("event_type") === "purchase", "sc", bins = 10)
    }, Some(s"""
      WITH r AS (SELECT
               CAST((${graft.ops.Hashing.duckMd5Long(
                 "'cal:' || CAST(event_id AS VARCHAR)")}) % 1000
                 AS DOUBLE) / 1000.0 AS sc,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             FROM events),
      b AS (SELECT LEAST(CAST(FLOOR(sc * 10.0) AS INT), 9) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(round(sc, 6) AS DECIMAL(28,6))) AS ssum,
              CAST(SUM(p) AS BIGINT) AS npos
            FROM r GROUP BY 1)
      SELECT bin, n,
        round(CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_score,
        round(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos,
        round(ABS(CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) -
          CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap
      FROM b ORDER BY 1""")),

    // ---- Hosmer–Lemeshow calibration chi-square (Stats.
    // hosmerLemeshow): HL = Σ(O−E)²/(E·(1−E/n)) over the SAME
    // calBinned score-bin fold as m_calibration_bins — per-bin terms
    // round(,9) into DECIMAL, degenerate bins excluded via n_bins.
    QueryDef("m_hosmer_lemeshow", (s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Hashing.ensureRegistered(e)
      graft.ops.Stats.hosmerLemeshow(
        e.withColumn("sc", pmod(graft.ops.Hashing.md5Long(
          concat(lit("cal:"), col("event_id").cast("string"))),
          lit(1000L)).cast("double") / 1000.0),
        col("event_type") === "purchase", "sc", bins = 10)
    }, Some(s"""
      WITH r AS (SELECT
               CAST((${graft.ops.Hashing.duckMd5Long(
                 "'cal:' || CAST(event_id AS VARCHAR)")}) % 1000
                 AS DOUBLE) / 1000.0 AS sc,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             FROM events),
      b AS (SELECT LEAST(CAST(FLOOR(sc * 10.0) AS INT), 9) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(round(sc, 6) AS DECIMAL(28,6))) AS ssum,
              CAST(SUM(p) AS BIGINT) AS npos
            FROM r GROUP BY 1),
      t AS (SELECT n,
              CASE WHEN CAST(ssum AS DOUBLE) > 0 AND
                  CAST(ssum AS DOUBLE) < CAST(n AS DOUBLE) THEN
                CAST(round((CAST(npos AS DOUBLE) - CAST(ssum AS DOUBLE))
                  * (CAST(npos AS DOUBLE) - CAST(ssum AS DOUBLE)) /
                  (CAST(ssum AS DOUBLE) * (1.0 - CAST(ssum AS DOUBLE) /
                  CAST(n AS DOUBLE))), 9) AS DECIMAL(28,9)) END AS term
            FROM b)
      SELECT CAST(SUM(n) AS BIGINT) AS n,
        CAST(COUNT(term) AS BIGINT) AS n_bins,
        round(CAST(SUM(term) AS DOUBLE), 6) AS hl
      FROM t""")),

    // ---- Isotonic recalibration (Stats.isotonicCalibration): PAVA
    // via the minimax closed form over the m_calibration_bins table —
    // max_{j<=i} min_{k>=i} of exact interval means, three bounded
    // joins over the 10-row bin frame. Interval means round(,9) into
    // DECIMAL so min/max compare exact values in both engines.
    QueryDef("m_isotonic_calibration", (s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Hashing.ensureRegistered(e)
      graft.ops.Stats.isotonicCalibration(
        e.withColumn("sc", pmod(graft.ops.Hashing.md5Long(
          concat(lit("cal:"), col("event_id").cast("string"))),
          lit(1000L)).cast("double") / 1000.0),
        col("event_type") === "purchase", "sc", bins = 10)
    }, Some(s"""
      WITH r AS (SELECT
               CAST((${graft.ops.Hashing.duckMd5Long(
                 "'cal:' || CAST(event_id AS VARCHAR)")}) % 1000
                 AS DOUBLE) / 1000.0 AS sc,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             FROM events),
      b AS (SELECT LEAST(CAST(FLOOR(sc * 10.0) AS INT), 9) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(p) AS BIGINT) AS npos
            FROM r GROUP BY 1),
      iv AS (SELECT j.bin AS jb, k.bin AS kb,
               CAST(round(CAST(SUM(m.npos) AS DOUBLE) /
                 CAST(SUM(m.n) AS DOUBLE), 9) AS DECIMAL(18,9)) AS mu
             FROM b j JOIN b k ON j.bin <= k.bin
               JOIN b m ON m.bin BETWEEN j.bin AND k.bin
             GROUP BY 1, 2),
      mn AS (SELECT i.bin, iv.jb, MIN(iv.mu) AS lo
             FROM b i JOIN iv ON iv.jb <= i.bin AND iv.kb >= i.bin
             GROUP BY 1, 2),
      ft AS (SELECT bin, MAX(lo) AS fit FROM mn GROUP BY 1)
      SELECT b.bin, b.n,
        round(CAST(b.npos AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
          AS frac_pos,
        round(CAST(ft.fit AS DOUBLE), 6) AS iso_fit
      FROM b JOIN ft USING (bin) ORDER BY 1""")),

    // ---- CUPED variance-reduced experiment readout
    // (EventAnalytics.cupedAdjust): per-user revenue in the second
    // temporal half adjusted by the user's own first-half revenue —
    // θ = cov/var pooled across the same md5 arms as pipe_ab_test;
    // rho2 is the variance fraction the covariate removes. Exact
    // DECIMAL moments; one per-user aggregate + one scalar fold.
    QueryDef("e_cuped", (s, d) => {
      val e = Tables.events(s, d)
      val mid = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      EventAnalytics.cupedAdjust(e.crossJoin(broadcast(mid)),
        "value", col("ts_us") < col("__mid"))
    }, Some(s"""
      WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                   AS mid FROM events),
      u0 AS (SELECT user_id,
          CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < mid THEN
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6)) END),
            0) AS DECIMAL(18,6)) AS x,
          CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= mid THEN
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6)) END),
            0) AS DECIMAL(18,6)) AS y
        FROM events CROSS JOIN b WHERE value IS NOT NULL GROUP BY 1),
      u AS (SELECT *,
          (${graft.ops.Hashing.duckMd5Long(
            "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS variant
        FROM u0),
      -- DECIMAL(19,6) casts force DuckDB's int128 multiply (the
      -- 18-digit inputs would take the overflow-prone int64 path)
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
          CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
            AS DOUBLE) AS sxx,
          CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
            AS DOUBLE) AS sxy,
          CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
            AS DOUBLE) AS syy,
          CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(SUM(CASE WHEN variant = 0 THEN x END) AS DOUBLE) AS sx_a,
          CAST(SUM(CASE WHEN variant = 0 THEN y END) AS DOUBLE) AS sy_a,
          CAST(SUM(CASE WHEN variant = 1 THEN x END) AS DOUBLE) AS sx_b,
          CAST(SUM(CASE WHEN variant = 1 THEN y END) AS DOUBLE) AS sy_b
        FROM u),
      x AS (SELECT *, n - n_a AS n_b,
          (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
          sx / CAST(n AS DOUBLE) AS xbar FROM m)
      SELECT n_a, n_b,
        round(sy_a / CAST(n_a AS DOUBLE), 6) AS mean_a,
        round(sy_b / CAST(n_b AS DOUBLE), 6) AS mean_b,
        round(theta, 6) AS theta,
        round(sy_b / CAST(n_b AS DOUBLE) -
          sy_a / CAST(n_a AS DOUBLE), 6) AS diff_raw,
        round((sy_b / CAST(n_b AS DOUBLE) -
            theta * (sx_b / CAST(n_b AS DOUBLE) - xbar)) -
          (sy_a / CAST(n_a AS DOUBLE) -
            theta * (sx_a / CAST(n_a AS DOUBLE) - xbar)), 6) AS diff_adj,
        round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS rho2
      FROM x""")),

    // ---- Sample-ratio-mismatch guard (EventAnalytics.srmCheck): the
    // trust gate every experiment readout should pass first — chi²
    // against the 50/50 md5 arm expectation, (n_a−n_b)²/(n_a+n_b)
    // exact BIGINT numerator, flagged past the α=0.001 critical value
    // 10.828.
    QueryDef("e_srm", (s, d) => {
      EventAnalytics.srmCheck(Tables.events(s, d))
    }, Some(s"""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      v AS (SELECT (${graft.ops.Hashing.duckMd5Long(
        "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS variant FROM u),
      c AS (SELECT
              CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b FROM v)
      SELECT n_a, n_b,
        round(CASE WHEN n_a + n_b > 0 THEN
          CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
          CAST(n_a + n_b AS DOUBLE) END, 6) AS chi2,
        CAST(CASE WHEN n_a + n_b > 0 AND
          CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) /
          CAST(n_a + n_b AS DOUBLE) > 10.828 THEN 1 ELSE 0 END
          AS BIGINT) AS srm_flag
      FROM c""")),

    // ---- Poisson-bootstrap CI (Stats.bootstrapCi): percentile CI for
    // the mean extended price — each row md5-hashes its key ONCE into
    // a 30-bit seed, each replicate's 20-bit draw derives by two
    // multiplicative-congruential rounds mod the prime 1073741789
    // (pure BIGINT, no intermediate exceeds 2^63 — both engines exact),
    // weights from the inverse-CDF Poisson(1) integer cutoffs, the 200
    // replicate sums ride ONE BootstrapFold aggregate (no row
    // expansion — the oracle below replays the equivalent explode),
    // the interval is the 5th smallest / 5th largest replicate mean.
    QueryDef("a_bootstrap_ci", (s, d) => {
      graft.ops.Stats.bootstrapCi(t(s, d, "lineitem"),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"))
    }, Some(s"""
      WITH r AS (SELECT l_orderkey, l_linenumber,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS x
             FROM lineitem WHERE l_extendedprice IS NOT NULL),
      k AS (SELECT x, (${graft.ops.Hashing.duckMd5Long(
        "'boot:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
          "CAST(l_linenumber AS VARCHAR)")})
              % 1073741789 AS kseed FROM r),
      e AS (SELECT x, kseed, unnest(range(0, 200)) AS b FROM k),
      d AS (SELECT x, b,
              (((((kseed + b * 2654435761) % 1073741789)
                 * 2654435761) % 1073741789)
                 * 997919 % 1073741789) % 1048576 AS u FROM e),
      w AS (SELECT x, b,
              (CASE WHEN u >= 385749 THEN 1 ELSE 0 END +
               CASE WHEN u >= 771499 THEN 1 ELSE 0 END +
               CASE WHEN u >= 964373 THEN 1 ELSE 0 END +
               CASE WHEN u >= 1028665 THEN 1 ELSE 0 END +
               CASE WHEN u >= 1044738 THEN 1 ELSE 0 END +
               CASE WHEN u >= 1047952 THEN 1 ELSE 0 END +
               CASE WHEN u >= 1048488 THEN 1 ELSE 0 END) AS w
            FROM d),
      m AS (SELECT b, round(CAST(SUM(x * w) AS DOUBLE) /
              CAST(SUM(w) AS DOUBLE), 6) AS mb FROM w GROUP BY 1),
      o AS (SELECT b, mb, row_number() OVER (ORDER BY mb, b) AS rnk
            FROM m),
      f AS (SELECT round(CAST(SUM(CAST(l_extendedprice
              AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
              6) AS mean_full FROM lineitem
            WHERE l_extendedprice IS NOT NULL)
      SELECT CAST(200 AS BIGINT) AS n_reps, mean_full,
        MIN(CASE WHEN rnk = 5 THEN mb END) AS ci_lo,
        MIN(CASE WHEN rnk = 196 THEN mb END) AS ci_hi
      FROM o CROSS JOIN f GROUP BY 2""")),

    // ---- EWMA-8 daily forecast (EventAnalytics.ewmaForecast): last
    // calendar day's count per event type vs the 4ʲ-weighted mean of
    // the 8 days before it — integer weights keep the numerator exact
    // BIGINT and the fixed denominator 21845 means no gap-fill at all.
    QueryDef("e_ewma_forecast", (s, d) => {
      EventAnalytics.ewmaForecast(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH e AS (SELECT event_type,
              ${EventAnalytics.duckDay} AS day FROM events),
      a AS (SELECT MAX(day) AS d1 FROM e),
      f AS (SELECT event_type, d1,
              CAST(SUM(CASE WHEN day = d1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_actual,
              CAST(SUM(CASE WHEN day < d1 THEN
                CAST(pow(4.0, CAST(day - (d1 - 8) AS INT)) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS num
            FROM e CROSS JOIN a WHERE day >= d1 - 8 GROUP BY 1, 2)
      SELECT event_type, d1 AS day, n_actual,
        round(CAST(num AS DOUBLE) / 21845.0, 6) AS forecast,
        round(CAST(n_actual AS DOUBLE) -
          round(CAST(num AS DOUBLE) / 21845.0, 6), 6) AS resid
      FROM f ORDER BY event_type""")),

    // ---- Holt level+trend daily forecast (EventAnalytics.
    // holtForecast): alpha = beta = 1/2 unrolled over the 8-day
    // gap-filled history — every intermediate is a dyadic rational,
    // so the double arithmetic is EXACT in both engines until the
    // emitted round(,6). The lateral-alias chain below IS the same
    // recursion the Spark column chain evaluates.
    QueryDef("e_holt_forecast", (s, d) => {
      EventAnalytics.holtForecast(Tables.events(s, d), "event_type")
    }, Some(s"""
      WITH e AS (SELECT event_type,
              ${EventAnalytics.duckDay} AS day FROM events),
      a AS (SELECT MAX(day) AS d1 FROM e),
      g AS (SELECT event_type, d1,
              CAST(SUM(CASE WHEN day = d1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_actual,
              CAST(SUM(CASE WHEN day = d1 - 8 THEN 1 ELSE 0 END)
                AS BIGINT) AS y1,
              CAST(SUM(CASE WHEN day = d1 - 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS y2,
              CAST(SUM(CASE WHEN day = d1 - 6 THEN 1 ELSE 0 END)
                AS BIGINT) AS y3,
              CAST(SUM(CASE WHEN day = d1 - 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS y4,
              CAST(SUM(CASE WHEN day = d1 - 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS y5,
              CAST(SUM(CASE WHEN day = d1 - 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS y6,
              CAST(SUM(CASE WHEN day = d1 - 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS y7,
              CAST(SUM(CASE WHEN day = d1 - 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS y8
            FROM e CROSS JOIN a WHERE day >= d1 - 8 GROUP BY 1, 2),
      h AS (SELECT event_type, d1, n_actual,
              CAST(y1 AS DOUBLE) AS l1,
              CAST(y2 - y1 AS DOUBLE) AS b1,
              (CAST(y2 AS DOUBLE) + l1 + b1) * 0.5 AS l2,
              (l2 - l1) * 0.5 + b1 * 0.5 AS b2,
              (CAST(y3 AS DOUBLE) + l2 + b2) * 0.5 AS l3,
              (l3 - l2) * 0.5 + b2 * 0.5 AS b3,
              (CAST(y4 AS DOUBLE) + l3 + b3) * 0.5 AS l4,
              (l4 - l3) * 0.5 + b3 * 0.5 AS b4,
              (CAST(y5 AS DOUBLE) + l4 + b4) * 0.5 AS l5,
              (l5 - l4) * 0.5 + b4 * 0.5 AS b5,
              (CAST(y6 AS DOUBLE) + l5 + b5) * 0.5 AS l6,
              (l6 - l5) * 0.5 + b5 * 0.5 AS b6,
              (CAST(y7 AS DOUBLE) + l6 + b6) * 0.5 AS l7,
              (l7 - l6) * 0.5 + b6 * 0.5 AS b7,
              (CAST(y8 AS DOUBLE) + l7 + b7) * 0.5 AS l8,
              (l8 - l7) * 0.5 + b7 * 0.5 AS b8
            FROM g)
      SELECT event_type, d1 AS day, n_actual,
        round(l8, 6) AS level, round(b8, 6) AS trend,
        round(l8 + b8, 6) AS forecast,
        round(CAST(n_actual AS DOUBLE) - (l8 + b8), 6) AS resid
      FROM h ORDER BY event_type""")),

    // ---- Benjamini–Hochberg FDR across the per-event-type A/B metric
    // family (EventAnalytics.fdrBh): one two-proportion z per metric
    // (conversion = ≥14 events of that type), two-sided p via the
    // Zelen–Severo polynomial — the z and p SQL fragments below are
    // THE SAME STRINGS the Spark op evaluates (engine-neutral SQL), so
    // the transcendental spec cannot drift — then the BH step-up at
    // q = 5/100 over exact-rational thresholds.
    QueryDef("e_fdr_bh", (s, d) => {
      EventAnalytics.fdrBh(Tables.events(s, d))
    }, Some(s"""
      WITH pu AS (SELECT user_id, event_type, COUNT(*) AS n
                  FROM events GROUP BY 1, 2),
      c AS (SELECT user_id, event_type,
              CASE WHEN n >= 14 THEN 1 ELSE 0 END AS conv,
              (${graft.ops.Hashing.duckMd5Long(
                "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS variant
            FROM pu),
      bm AS (SELECT event_type,
               CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)
                 AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)
                 AS BIGINT) AS conv_b
             FROM c GROUP BY 1),
      zz AS (SELECT *, ${EventAnalytics.zExprSql} AS z FROM bm),
      pp AS (SELECT *, ${EventAnalytics.pExprSql} AS p FROM zz),
      r AS (SELECT *, CASE WHEN p IS NOT NULL THEN
              CAST(ROW_NUMBER() OVER (PARTITION BY p IS NULL
                ORDER BY p, event_type) AS BIGINT) END AS rnk
            FROM pp),
      m AS (SELECT CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS m FROM r),
      k AS (SELECT COALESCE(MAX(CASE WHEN p * 100 * m <= rnk * 5
              THEN rnk END), 0) AS kmax FROM r CROSS JOIN m)
      SELECT event_type, n_a, conv_a, n_b, conv_b, z, p, rnk,
        COALESCE(rnk <= kmax, FALSE) AS rejected
      FROM r CROSS JOIN k ORDER BY event_type""")),

    // ---- Spearman rank correlation (Stats.spearman): the monotone
    // twin of a_correlation — quantity vs extendedprice on lineitem.
    // Doubled tie-averaged ranks (2·below + t + 1, pure BIGINT — the
    // a_mann_whitney encoding) join back by value; the five moment
    // sums are BIGINT-exact, the n·Sxy − Sx·Sy combination fixes to
    // DECIMAL(38,0), and ρ is one mirrored IEEE expression.
    QueryDef("a_spearman", (s, d) => {
      graft.ops.Stats.spearman(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice")
    }, Some("""
      WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y
             FROM lineitem
             WHERE l_quantity IS NOT NULL
               AND l_extendedprice IS NOT NULL),
      bx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY 1),
      rx AS (SELECT x, 2 * (SUM(t) OVER (ORDER BY x
               ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS r_x FROM bx),
      by_ AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY 1),
      ry AS (SELECT y, 2 * (SUM(t) OVER (ORDER BY y
               ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS r_y FROM by_),
      j AS (SELECT CAST(r_x AS BIGINT) AS r_x, CAST(r_y AS BIGINT) AS r_y
            FROM r JOIN rx USING (x) JOIN ry USING (y)),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(r_x) AS BIGINT) AS sx,
              CAST(SUM(r_y) AS BIGINT) AS sy,
              CAST(SUM(r_x * r_y) AS BIGINT) AS sxy,
              CAST(SUM(r_x * r_x) AS BIGINT) AS sxx,
              CAST(SUM(r_y * r_y) AS BIGINT) AS syy
            FROM j),
      c AS (SELECT n,
              CAST(n AS DECIMAL(38,0)) * sxy -
                CAST(sx AS DECIMAL(38,0)) * sy AS cov,
              CAST(n AS DECIMAL(38,0)) * sxx -
                CAST(sx AS DECIMAL(38,0)) * sx AS vx,
              CAST(n AS DECIMAL(38,0)) * syy -
                CAST(sy AS DECIMAL(38,0)) * sy AS vy
            FROM a)
      SELECT n, CASE WHEN vx > 0 AND vy > 0 THEN
        round(CAST(cov AS DOUBLE) / (sqrt(CAST(vx AS DOUBLE)) *
          sqrt(CAST(vy AS DOUBLE))), 6) END AS rho
      FROM c""")),

    // ---- Brown–Forsythe variance-equality test (Stats.
    // brownForsythe): one-way F over |value − group median| across
    // ALL event types — the homogeneity check behind pooled tests.
    // Exact lower medians per group (keyed window), DECIMAL z sums,
    // round-9 s²/n terms, F off the ROUNDED SSB/SSW pair.
    QueryDef("a_brown_forsythe", (s, d) => {
      graft.ops.Stats.brownForsythe(Tables.events(s, d),
        "event_type", "value")
    }, Some("""
      WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
             FROM events WHERE value IS NOT NULL),
      w AS (SELECT g, v,
              ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
              COUNT(*) OVER (PARTITION BY g) AS n
            FROM r),
      md AS (SELECT g, MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
               AS med
             FROM w GROUP BY 1),
      z AS (SELECT r.g,
              CAST(round(abs(v - med), 6) AS DECIMAL(18,6)) AS z
            FROM r JOIN md ON r.g = md.g),
      grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(z) AS s,
                SUM(CAST(z * z AS DECIMAL(38,12))) AS ss
              FROM z GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                CAST(SUM(n) AS BIGINT) AS nn, SUM(s) AS st,
                SUM(ss) AS sst
              FROM grp),
      bs AS (SELECT SUM(CAST(round(CAST(s AS DOUBLE) *
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
               AS DECIMAL(28,9))) AS bt
             FROM grp),
      ab AS (SELECT k, nn AS n,
               round(CAST(bt AS DOUBLE) - CAST(st AS DOUBLE) *
                 CAST(st AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS ssb,
               round(CAST(sst AS DOUBLE) - CAST(bt AS DOUBLE), 6)
                 AS ssw
             FROM tot CROSS JOIN bs)
      SELECT k, n, ssb, ssw,
        round(CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
          (ssb / CAST(k - 1 AS DOUBLE)) /
          (ssw / CAST(n - k AS DOUBLE)) END, 6) AS f
      FROM ab""")),

    // ---- Classical one-way ANOVA (Stats.anovaOneWay): F for a mean
    // difference across ALL event types — the parametric sibling of
    // a_kruskal_wallis, through the SAME shared oneWayF moment fold as
    // a_brown_forsythe (z = the raw round-6 value, not the median
    // deviation).
    QueryDef("a_anova_oneway", (s, d) => {
      graft.ops.Stats.anovaOneWay(Tables.events(s, d),
        "event_type", "value")
    }, Some("""
      WITH z AS (SELECT event_type AS g,
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6))
                AS z
            FROM events WHERE value IS NOT NULL),
      grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(z) AS s,
                SUM(CAST(z * z AS DECIMAL(38,12))) AS ss
              FROM z GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                CAST(SUM(n) AS BIGINT) AS nn, SUM(s) AS st,
                SUM(ss) AS sst
              FROM grp),
      bs AS (SELECT SUM(CAST(round(CAST(s AS DOUBLE) *
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
               AS DECIMAL(28,9))) AS bt
             FROM grp),
      ab AS (SELECT k, nn AS n,
               round(CAST(bt AS DOUBLE) - CAST(st AS DOUBLE) *
                 CAST(st AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS ssb,
               round(CAST(sst AS DOUBLE) - CAST(bt AS DOUBLE), 6)
                 AS ssw
             FROM tot CROSS JOIN bs)
      SELECT k, n, ssb, ssw,
        round(CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
          (ssb / CAST(k - 1 AS DOUBLE)) /
          (ssw / CAST(n - k AS DOUBLE)) END, 6) AS f
      FROM ab""")),

    // ---- Jarque–Bera normality test (Stats.jarqueBera): skewness,
    // kurtosis and JB = n/6·(S² + (K−3)²/4) of the event value column
    // from ONE moment aggregate — z/z² exact DECIMAL sums, the
    // cubic/quartic per-row terms round(,9) into DECIMAL before
    // summing (order-free; both engines multiply the same
    // nearest-double of the same 6dp decimal).
    QueryDef("a_jarque_bera", (s, d) => {
      graft.ops.Stats.jarqueBera(Tables.events(s, d), "value")
    }, Some("""
      WITH z AS (SELECT CAST(round(CAST(value AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS z
            FROM events WHERE value IS NOT NULL),
      t AS (SELECT z, CAST(z AS DOUBLE) AS zd FROM z),
      mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(z) AS s1,
               SUM(CAST(z * z AS DECIMAL(38,12))) AS s2,
               SUM(CAST(round(zd * zd * zd, 9) AS DECIMAL(38,9)))
                 AS s3,
               SUM(CAST(round(zd * zd * zd * zd, 9)
                 AS DECIMAL(38,9))) AS s4
             FROM t),
      c AS (SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
              s2, s3, s4
            FROM mo),
      ce AS (SELECT n, m,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - m * m AS m2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
                 3.0 * m * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) +
                 2.0 * m * m * m AS m3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
                 4.0 * m * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) +
                 6.0 * m * m * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
                 3.0 * m * m * m * m AS m4
             FROM c),
      sk AS (SELECT n,
               CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS sk,
               CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS ku
             FROM ce)
      SELECT n, round(sk, 6) AS skewness, round(ku, 6) AS kurtosis,
        round(CAST(n AS DOUBLE) / 6.0 * (sk * sk +
          (ku - 3.0) * (ku - 3.0) / 4.0), 6) AS jb
      FROM sk""")),

    // ---- Grubbs' outlier test (Stats.grubbs): G = max|x−x̄|/s over
    // the event value column — one exact-DECIMAL moment fold, then the
    // data re-scanned against the broadcast moments for the max
    // deviation and its witness value.
    QueryDef("a_grubbs", (s, d) => {
      graft.ops.Stats.grubbs(Tables.events(s, d), "value")
    }, Some("""
      WITH z AS (SELECT CAST(round(CAST(value AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS z
            FROM events WHERE value IS NOT NULL),
      mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(z) AS s1,
               SUM(CAST(z * z AS DECIMAL(38,12))) AS s2
             FROM z),
      m0 AS (SELECT n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m, s2
             FROM mo),
      ms AS (SELECT n, m,
               CASE WHEN n > 1 AND CAST(s2 AS DOUBLE) -
                   CAST(n AS DOUBLE) * m * m > 0 THEN
                 sqrt((CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE) * m * m)
                   / CAST(n - 1 AS DOUBLE)) END AS sd
             FROM m0),
      ad AS (SELECT ms.n, ms.m, ms.sd, z.z,
               abs(CAST(z.z AS DOUBLE) - ms.m) AS ad
             FROM z CROSS JOIN ms),
      am AS (SELECT MAX(ad) AS admax FROM ad)
      SELECT MAX(n) AS n, round(MAX(m), 6) AS mean,
        round(MAX(sd), 6) AS sd, round(MAX(ad) / MAX(sd), 6) AS g,
        round(MAX(CASE WHEN ad = admax THEN CAST(z AS DOUBLE) END), 6)
          AS extreme
      FROM ad CROSS JOIN am""")),

    // ---- Kruskal–Wallis rank test (Stats.kruskalWallis): the k-group
    // generalization of a_mann_whitney over ALL event types — doubled
    // BIGINT ranks from the two-phase running sum, S2² in
    // DECIMAL(38,0), round-9 per-group terms, one mirrored IEEE H off
    // the exact (bt, n, ties) triple with tie correction.
    QueryDef("a_kruskal_wallis", (s, d) => {
      graft.ops.Stats.kruskalWallis(Tables.events(s, d),
        "event_type", "value")
    }, Some("""
      WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
                 FROM events WHERE value IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY 1),
      rk AS (SELECT v, 2 * (cum_t - t) + t + 1 AS r2,
               t * t * t - t AS tie
             FROM (SELECT v, t, SUM(t) OVER (ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS cum_t FROM bv)),
      gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
             FROM r GROUP BY 1, 2),
      gr AS (SELECT g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
               CAST(SUM(n_gv * r2) AS BIGINT) AS s2
             FROM gv JOIN rk USING (v) GROUP BY 1),
      tm AS (SELECT n_g,
               CAST(round(CAST(CAST(s2 AS DECIMAL(19,0)) * s2 AS DOUBLE)
                 / (4.0 * CAST(n_g AS DOUBLE)), 9) AS DECIMAL(28,9)) AS t
             FROM gr),
      ts AS (SELECT CAST(SUM(tie) AS BIGINT) AS ties FROM rk),
      ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n, SUM(t) AS bt FROM tm)
      SELECT k, n,
        round(CASE WHEN k > 1 AND n > 2 AND
          ties < CAST(n AS DOUBLE) * n * n - n THEN
          (12.0 * CAST(bt AS DOUBLE) / (CAST(n AS DOUBLE) * (n + 1))
            - 3.0 * (n + 1)) /
          (1.0 - CAST(ties AS DOUBLE) /
            (CAST(n AS DOUBLE) * n * n - n)) END, 6) AS h
      FROM ag CROSS JOIN ts""")),

    // ---- Kendall τ-b rank correlation (Stats.kendallTau): daily mean
    // value vs daily event count per series, over the calendar-bounded
    // daily frame (the op's contract: triangular pairs on an
    // AGGREGATE, never the raw log). Exact BIGINT concordance counts
    // off sign comparisons of identical round-6 doubles.
    QueryDef("a_kendall_tau", (s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("ts_us div 86400000000").as("day"), col("value"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("v"))
      graft.ops.Stats.kendallTau(daily, "event_type", "day", "v", "n")
    }, Some(s"""
      WITH daily AS (
        SELECT event_type AS k, ${EventAnalytics.duckDay} AS day,
          CAST(COUNT(*) AS BIGINT) AS n,
          round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS v
        FROM events GROUP BY 1, 2),
      b AS (SELECT k, day AS o, v AS x, CAST(n AS DOUBLE) AS y
            FROM daily WHERE v IS NOT NULL),
      pr AS (SELECT a.k, sign(b2.x - a.x) AS dx, sign(b2.y - a.y) AS dy
             FROM b a JOIN b b2 ON b2.k = a.k AND b2.o > a.o),
      ag AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
               CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS d,
               CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n2
             FROM pr GROUP BY 1),
      nd AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rows
             FROM b GROUP BY 1)
      SELECT ag.k AS event_type, n_rows, n_pairs,
        c AS concordant, d AS discordant,
        round(CASE WHEN n_pairs > n1 AND n_pairs > n2 THEN
          CAST(c - d AS DOUBLE) / (sqrt(CAST(n_pairs - n1 AS DOUBLE)) *
          sqrt(CAST(n_pairs - n2 AS DOUBLE))) END, 6) AS tau_b
      FROM ag JOIN nd ON ag.k = nd.k ORDER BY 1""")),

    // ---- Trimmed + winsorized mean (Stats.trimmedMean): robust
    // location of the extended-price distribution at 10% per tail —
    // exact BIGINT interval-overlap kept-multiplicities per distinct
    // value off the two-phase running sum, exact order-statistic clip
    // values, two mirrored IEEE divisions.
    QueryDef("a_trimmed_mean", (s, d) => {
      graft.ops.Stats.trimmedMean(t(s, d, "lineitem"),
        "l_extendedprice", 0.1)
    }, Some("""
      WITH r AS (SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS v
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY 1),
      c AS (SELECT *, CAST(SUM(t) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_t FROM bv),
      c2 AS (SELECT *, cum_t - t AS below FROM c),
      bd AS (SELECT MAX(cum_t) AS n,
               CAST(floor(MAX(cum_t) * CAST(0.1 AS DECIMAL(10,6)))
                 AS BIGINT) AS lo
             FROM c2),
      bd2 AS (SELECT *, n - lo AS hi FROM bd),
      kp AS (SELECT SUM(CAST(v * greatest(0, least(cum_t, hi) -
               greatest(below, lo)) AS DECIMAL(38,6))) AS ksum
             FROM c2 CROSS JOIN bd2),
      lc AS (SELECT v AS lo_clip FROM c2 CROSS JOIN bd2
             WHERE below < lo + 1 AND lo + 1 <= cum_t),
      hc AS (SELECT v AS hi_clip FROM c2 CROSS JOIN bd2
             WHERE below < hi AND hi <= cum_t)
      SELECT n, hi - lo AS n_kept,
        CAST(lo_clip AS DOUBLE) AS lo_clip,
        CAST(hi_clip AS DOUBLE) AS hi_clip,
        round(CAST(ksum AS DOUBLE) / CAST(hi - lo AS DOUBLE), 6)
          AS trimmed_mean,
        round((CAST(ksum AS DOUBLE) + CAST(lo AS DOUBLE) *
          (CAST(lo_clip AS DOUBLE) + CAST(hi_clip AS DOUBLE))) /
          CAST(n AS DOUBLE), 6) AS winsorized_mean
      FROM kp CROSS JOIN bd2 CROSS JOIN lc CROSS JOIN hc""")),

    // ---- Exact weighted quantiles (Stats.weightedQuantiles): the
    // quantity-weighted price distribution — cumulative integer
    // weights off the two-phase running sum, target rank ⌈q·W⌉ in
    // exact decimal, integer comparisons end to end.
    QueryDef("a_weighted_quantiles", (s, d) => {
      graft.ops.Stats.weightedQuantiles(t(s, d, "lineitem"),
        "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.75, 0.95))
    }, Some("""
      WITH r AS (SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS v,
               CAST(l_quantity AS BIGINT) AS w
             FROM lineitem
             WHERE l_extendedprice IS NOT NULL
               AND l_quantity IS NOT NULL AND l_quantity > 0),
      bv AS (SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM r GROUP BY 1),
      c AS (SELECT *, CAST(SUM(w) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w FROM bv),
      c2 AS (SELECT *, cum_w - w AS below FROM c),
      tt AS (SELECT MAX(cum_w) AS W FROM c2),
      tg AS (SELECT CAST(q AS DOUBLE) AS q,
               CAST(ceil(CAST(q AS DECIMAL(20,10)) * W) AS BIGINT)
                 AS target_rank
             FROM (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q)
             CROSS JOIN tt)
      SELECT q, target_rank, CAST(v AS DOUBLE) AS value
      FROM c2 JOIN tg
        ON below < target_rank AND target_rank <= cum_w
      ORDER BY q""")),

    // ---- McNemar's paired test (Stats.mcnemar): do the discount
    // flag (≥5%) and the tax flag (≥4%) fire on the SAME line items?
    // Only the discordant cells carry signal; continuity-corrected
    // χ² = (|b−c|−1)²/(b+c) against χ²₁.
    QueryDef("a_mcnemar", (s, d) => {
      graft.ops.Stats.mcnemar(t(s, d, "lineitem"),
        col("l_discount") >= 0.05, col("l_tax") >= 0.04)
    }, Some("""
      WITH r AS (SELECT l_discount >= 0.05 AS a, l_tax >= 0.04 AS b
                 FROM lineitem
                 WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                AS BIGINT) AS n10,
              CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                AS BIGINT) AS n01
            FROM r)
      SELECT n, n10, n01,
        round(CASE WHEN n10 + n01 > 0 THEN
          power(abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0,
          2) / CAST(n10 + n01 AS DOUBLE) END, 6) AS chi2
      FROM c""")),

    // ---- Cochran–Armitage trend test (Stats.cochranArmitage): does
    // the unfinished-order rate trend across the ordered priority
    // tiers (score = the tier digit)? Exact BIGINT moment sums, one
    // mirrored IEEE z.
    QueryDef("a_cochran_armitage", (s, d) => {
      graft.ops.Stats.cochranArmitage(t(s, d, "orders"),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        col("o_orderstatus") === "F")
    }, Some("""
      WITH r AS (SELECT CAST(substring(o_orderpriority, 1, 1)
                   AS BIGINT) AS s,
                   CAST(o_orderstatus = 'F' AS BIGINT) AS y
                 FROM orders
                 WHERE o_orderpriority IS NOT NULL
                   AND o_orderstatus IS NOT NULL),
      g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ni,
              CAST(SUM(y) AS BIGINT) AS ri FROM r GROUP BY 1),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
              CAST(SUM(ni) AS BIGINT) AS n,
              CAST(SUM(ri) AS BIGINT) AS r,
              CAST(SUM(s * ni) AS BIGINT) AS sn,
              CAST(SUM(s * s * ni) AS BIGINT) AS s2n,
              CAST(SUM(s * ri) AS BIGINT) AS sr
            FROM g)
      SELECT n_groups, n, r,
        round(CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) /
          CAST(n AS DOUBLE) * CAST(sn AS DOUBLE), 6) AS t_stat,
        round(CASE WHEN r > 0 AND r < n AND
          CAST(s2n AS DOUBLE) - CAST(sn AS DOUBLE) *
          CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN
          (CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) /
          CAST(n AS DOUBLE) * CAST(sn AS DOUBLE)) /
          sqrt((CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
          (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
          (CAST(s2n AS DOUBLE) - CAST(sn AS DOUBLE) *
          CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))) END, 6) AS z
      FROM a""")),

    // ---- Mantel–Haenszel pooled odds ratio (Stats.mantelHaenszel):
    // big-ticket → unfinished-status association pooled ACROSS
    // priority strata — the Simpson-safe stratified 2×2 readout;
    // per-stratum ad/n and bc/n round(,9) into DECIMAL before the
    // order-free sums.
    QueryDef("a_mantel_haenszel", (s, d) => {
      graft.ops.Stats.mantelHaenszel(t(s, d, "orders"),
        "o_orderpriority", col("o_totalprice") >= 150000,
        col("o_orderstatus") === "F")
    }, Some("""
      WITH r AS (SELECT o_orderpriority AS g,
                   o_totalprice >= 150000 AS e,
                   o_orderstatus = 'F' AS y
                 FROM orders
                 WHERE o_totalprice IS NOT NULL
                   AND o_orderstatus IS NOT NULL),
      g2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ni,
               CAST(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END)
                 AS BIGINT) AS a,
               CAST(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END)
                 AS BIGINT) AS b,
               CAST(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
               CAST(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
                 AS BIGINT) AS dd
             FROM r GROUP BY 1),
      a2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(ni) AS BIGINT) AS n,
               SUM(CAST(round(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) /
                 CAST(ni AS DOUBLE), 9) AS DECIMAL(28,9))) AS ad,
               SUM(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) /
                 CAST(ni AS DOUBLE), 9) AS DECIMAL(28,9))) AS bc,
               CAST(SUM(a) AS BIGINT) AS oa,
               SUM(CAST(round(CAST(a + b AS DOUBLE) *
                 CAST(a + c AS DOUBLE) / CAST(ni AS DOUBLE), 9)
                 AS DECIMAL(28,9))) AS ea,
               SUM(CASE WHEN ni > 1 THEN CAST(round(
                 CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE) *
                 CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE) /
                 (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) *
                 CAST(ni - 1 AS DOUBLE)), 9) AS DECIMAL(28,9))
                 ELSE CAST(0 AS DECIMAL(28,9)) END) AS va
             FROM g2)
      SELECT n_strata, n,
        round(CAST(ad AS DOUBLE), 6) AS sum_ad,
        round(CAST(bc AS DOUBLE), 6) AS sum_bc,
        round(CASE WHEN bc > 0 THEN CAST(ad AS DOUBLE) /
          CAST(bc AS DOUBLE) END, 6) AS or_mh,
        oa AS o_a,
        round(CAST(ea AS DOUBLE), 6) AS e_a,
        round(CAST(va AS DOUBLE), 6) AS v_a,
        round(CASE WHEN va > 0 THEN
          power(abs(CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE)) - 0.5,
          2) / CAST(va AS DOUBLE) END, 6) AS chi2_cmh
      FROM a2""")),

    // ---- Classification report (Stats.classificationReport):
    // per-class precision/recall/F1 + accuracy of the "high-value ⇒
    // purchase" rule — six BIGINT counts in one fold, a fixed 2-row
    // class spine, every metric one mirrored IEEE expression.
    QueryDef("m_class_report", (s, d) => {
      graft.ops.Stats.classificationReport(Tables.events(s, d),
        col("event_type") === "purchase", col("value") >= 50.0)
    }, Some("""
      WITH r AS (SELECT event_type = 'purchase' AS y, value >= 50.0 AS p
                 FROM events
                 WHERE event_type IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
              CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS ppos,
              CAST(SUM(CASE WHEN y AND p THEN 1 ELSE 0 END) AS BIGINT)
                AS tp,
              CAST(SUM(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
            FROM r),
      c2 AS (SELECT *, round(CASE WHEN n > 0 THEN
               CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
               AS accuracy FROM c),
      sp AS (SELECT 'positive' AS class UNION ALL SELECT 'negative'),
      g AS (SELECT sp.class,
              CASE WHEN sp.class = 'positive' THEN c2.pos
                ELSE c2.n - c2.pos END AS support,
              CASE WHEN sp.class = 'positive' THEN c2.ppos
                ELSE c2.n - c2.ppos END AS predicted,
              CASE WHEN sp.class = 'positive' THEN c2.tp
                ELSE c2.tn END AS tp,
              c2.accuracy
            FROM sp CROSS JOIN c2)
      SELECT class, support, predicted, tp,
        round(CASE WHEN predicted > 0 THEN
          CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) END, 6)
          AS precision,
        round(CASE WHEN support > 0 THEN
          CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END, 6)
          AS recall,
        round(CASE WHEN predicted > 0 AND support > 0 AND
          CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) +
          CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) > 0.0 THEN
          2.0 * (CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE)) *
          (CAST(tp AS DOUBLE) / CAST(support AS DOUBLE)) /
          (CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) +
           CAST(tp AS DOUBLE) / CAST(support AS DOUBLE)) END, 6) AS f1,
        accuracy
      FROM g ORDER BY class DESC""")),

    // ---- Logistic regression by Newton–Raphson (Stats.
    // logisticNewton): P(purchase | ln(1+value)) fit in 6 distributed
    // IRLS rounds — per-row p round-6 into DECIMAL (the only
    // transcendental), exact DECIMAL gradient/Hessian sums, mirrored
    // IEEE 2×2 solve, β round-9 per round. The oracle unrolls all six
    // rounds as CTEs; the gate emits the convergence trajectory.
    QueryDef("m_logistic_newton", (s, d) => {
      graft.ops.Stats.logisticNewton(Tables.events(s, d),
        col("event_type") === "purchase", "ln(1 + value)")
    }, Some {
      val det = "CAST(h00 AS DOUBLE) * CAST(h11 AS DOUBLE) - " +
        "CAST(h01 AS DOUBLE) * CAST(h01 AS DOUBLE)"
      val rounds = (1 to 6).map { r =>
        s"""g$r AS (SELECT MAX(b0) AS b0p, MAX(b1) AS b1p,
        SUM(CAST(y AS DECIMAL(18,6)) - p) AS g0,
        SUM((CAST(y AS DECIMAL(18,6)) - p) * x) AS g1,
        SUM(CAST((1 - p) * p AS DECIMAL(18,12))) AS h00,
        SUM(CAST((1 - p) * p AS DECIMAL(18,12)) * x) AS h01,
        SUM(CAST((1 - p) * p AS DECIMAL(18,12)) *
          CAST(x * x AS DECIMAL(18,12))) AS h11
      FROM (SELECT y, x, b0, b1,
          CAST(round(1.0 / (1.0 + exp(-(CAST(b0 AS DOUBLE) +
            CAST(b1 AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
            AS DECIMAL(18,6)) AS p
        FROM dat CROSS JOIN r${r - 1})),
      r$r AS (SELECT
        CASE WHEN $det != 0 THEN CAST(round(CAST(b0p AS DOUBLE) +
          (CAST(h11 AS DOUBLE) * CAST(g0 AS DOUBLE) -
           CAST(h01 AS DOUBLE) * CAST(g1 AS DOUBLE)) / ($det), 9)
          AS DECIMAL(18,9)) ELSE b0p END AS b0,
        CASE WHEN $det != 0 THEN CAST(round(CAST(b1p AS DOUBLE) +
          (CAST(h00 AS DOUBLE) * CAST(g1 AS DOUBLE) -
           CAST(h01 AS DOUBLE) * CAST(g0 AS DOUBLE)) / ($det), 9)
          AS DECIMAL(18,9)) ELSE b1p END AS b1
      FROM g$r)"""
      }.mkString(",\n      ")
      val emit = (1 to 6).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS "round",
          round(CAST(b0 AS DOUBLE), 6) AS b0,
          round(CAST(b1 AS DOUBLE), 6) AS b1 FROM r$r""")
        .mkString("\n      UNION ALL ")
      s"""
      WITH raw AS (SELECT
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
          CAST(round(CAST(ln(1 + value) AS DOUBLE), 6)
            AS DECIMAL(18,6)) AS xr
        FROM events WHERE ln(1 + value) IS NOT NULL),
      stt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(xr) AS s,
          SUM(CAST(xr * xr AS DECIMAL(38,12))) AS ss FROM raw),
      sm AS (SELECT
          CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9)
            AS DECIMAL(18,9)) AS mu,
          CAST(round(sqrt(greatest((CAST(ss AS DOUBLE) -
            CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            / CAST(n - 1 AS DOUBLE), 0.0)), 9) AS DECIMAL(18,9)) AS sd
        FROM stt),
      dat AS (SELECT y, CASE WHEN sd > 0 THEN
            CAST(round((CAST(xr AS DOUBLE) - CAST(mu AS DOUBLE)) /
              CAST(sd AS DOUBLE), 6) AS DECIMAL(18,6))
          ELSE CAST(0 AS DECIMAL(18,6)) END AS x
        FROM raw CROSS JOIN sm),
      r0 AS (SELECT CAST(0 AS DECIMAL(18,9)) AS b0,
               CAST(0 AS DECIMAL(18,9)) AS b1),
      $rounds
      $emit
      ORDER BY 1"""
    }),

    // ---- Permutation test (Stats.permutationTest): randomization
    // inference for the pipe_ab_test contrast — 200 deterministic
    // md5 relabelings of the per-user conversion, add-one p-value.
    // DECIMAL sums per permutation, round-6 diffs before the
    // comparison, degenerate permutations count as not extreme.
    QueryDef("e_permutation_test", (s, d) => {
      val pu = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 100.0, 1L).otherwise(0L)).as("conv"))
      graft.ops.Stats.permutationTest(pu, "user_id", "conv",
        pmod(graft.ops.Hashing.md5Long(concat(lit("ab:"),
          col("user_id").cast("string"))), lit(2L)) === 1)
    }, Some(s"""
      WITH pu AS (SELECT CAST(user_id AS VARCHAR) AS unit,
             CAST(MAX(CASE WHEN event_type = 'purchase'
               AND value > 100.0 THEN 1 ELSE 0 END) AS DECIMAL(18,6))
               AS x,
             (${graft.ops.Hashing.duckMd5Long(
               "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS g
           FROM events GROUP BY user_id),
      obs AS (SELECT
              CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n1,
              CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n0,
              round(CAST(SUM(CASE WHEN g = 1 THEN x END) AS DOUBLE) /
                CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE) -
                CAST(SUM(CASE WHEN g = 0 THEN x END) AS DOUBLE) /
                CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS DOUBLE),
                6) AS diff_obs
            FROM pu),
      dr AS (SELECT bb.b, pu.x,
              (${graft.ops.Hashing.duckMd5Long(
                "'perm:' || CAST(bb.b AS VARCHAR) || ':' || unit")})
                % 2 AS gp
            FROM pu CROSS JOIN (SELECT unnest(range(0, 200)) AS b) bb),
      pf AS (SELECT b,
              round(CASE WHEN n1 > 0 AND n0 > 0 THEN
                CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
                CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) END, 6) AS db
            FROM (SELECT b,
                    SUM(CASE WHEN gp = 1 THEN x END) AS s1,
                    CAST(SUM(CASE WHEN gp = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n1,
                    SUM(CASE WHEN gp = 0 THEN x END) AS s0,
                    CAST(SUM(CASE WHEN gp = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n0
                  FROM dr GROUP BY b) z),
      c AS (SELECT CAST(SUM(CASE WHEN abs(db) >= abs(diff_obs)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
            FROM pf CROSS JOIN obs)
      SELECT n1 AS n_treated, n0 AS n_control, diff_obs,
        CAST(200 AS BIGINT) AS n_perms, n_extreme,
        round(CAST(1 + n_extreme AS DOUBLE) / 201.0, 6) AS p_value
      FROM obs CROSS JOIN c""")),

    // ---- Cumulative gains / lift deciles (Stats.gainsDeciles): the
    // targeting-model readout next to a_roc_auc, same (value score,
    // purchase label) pair — rank by (score desc, event_id) on the
    // two-phase global ordinal, BIGINT counts, two final divisions.
    QueryDef("m_gains_deciles", (s, d) => {
      graft.ops.Stats.gainsDeciles(Tables.events(s, d),
        col("event_type") === "purchase", "value", "event_id")
    }, Some("""
      WITH r AS (SELECT CAST(value AS DOUBLE) AS v, event_id AS id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS pos
             FROM events WHERE value IS NOT NULL),
      o AS (SELECT pos, ROW_NUMBER() OVER (ORDER BY v DESC, id) - 1
              AS ord FROM r),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM o),
      b AS (SELECT (ord * 10) // n_total + 1 AS decile, pos
            FROM o CROSS JOIN n),
      g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(pos) AS BIGINT) AS n_pos FROM b GROUP BY 1),
      w AS (SELECT *, CAST(SUM(n_pos) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
              CAST(SUM(n_pos) OVER () AS BIGINT) AS p_total,
              CAST(SUM(n) OVER () AS BIGINT) AS nn FROM g)
      SELECT decile, n, n_pos, cum_pos,
        round(CASE WHEN p_total > 0 THEN CAST(cum_pos AS DOUBLE) /
          CAST(p_total AS DOUBLE) END, 6) AS gain,
        round(CASE WHEN p_total > 0 THEN CAST(n_pos AS DOUBLE) *
          CAST(nn AS DOUBLE) / (CAST(n AS DOUBLE) *
          CAST(p_total AS DOUBLE)) END, 6) AS lift
      FROM w ORDER BY decile""")),

    // ---- Standardized effect sizes for the click/view comparison
    // (Stats.effectSizes): Cohen's d + Hedges' g off the Welch decimal
    // moments, Cliff's delta off the Mann–Whitney doubled-rank BIGINT
    // machinery — "how big", where a_welch_ttest/a_mann_whitney only
    // say "how sure".
    QueryDef("a_effect_sizes", (s, d) => {
      graft.ops.Stats.effectSizes(Tables.events(s, d), "event_type",
        "value", "click", "view")
    }, Some("""
      WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
               CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
                 AS vd
             FROM events
             WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      mom AS (SELECT
          CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          SUM(CASE WHEN g = 'click' THEN vd END) AS s_a,
          SUM(CASE WHEN g = 'click'
            THEN CAST(vd * vd AS DECIMAL(38,12)) END) AS ss_a,
          CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          SUM(CASE WHEN g = 'view' THEN vd END) AS s_b,
          SUM(CASE WHEN g = 'view'
            THEN CAST(vd * vd AS DECIMAL(38,12)) END) AS ss_b
        FROM r),
      m2 AS (SELECT *,
          CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a,
          CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
          (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) *
            CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
            (CAST(n_a AS DOUBLE) - 1.0) AS v_a,
          (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) *
            CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
            (CAST(n_b AS DOUBLE) - 1.0) AS v_b
        FROM mom),
      m3 AS (SELECT n_a, n_b, m_a - m_b AS md,
          CASE WHEN n_a + n_b > 2 THEN
            ((CAST(n_a AS DOUBLE) - 1.0) * v_a +
             (CAST(n_b AS DOUBLE) - 1.0) * v_b) /
            (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0) END AS sp2
        FROM m2),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS na_v
             FROM r GROUP BY 1),
      c AS (SELECT *, SUM(t) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) - t AS below FROM bv),
      uu AS (SELECT CAST(SUM(na_v * (2 * below + t + 1)) AS BIGINT)
               AS ra2,
               CAST(SUM(na_v) AS BIGINT) AS ru_na,
               CAST(SUM(t) AS BIGINT) AS ru_n
             FROM c),
      u2 AS (SELECT CAST(ra2 AS DOUBLE) / 2.0 -
               CAST(ru_na AS DOUBLE) * (ru_na + 1) / 2.0 AS u,
               CAST(ru_na AS DOUBLE) * CAST(ru_n - ru_na AS DOUBLE)
                 AS nanb
             FROM uu)
      SELECT n_a, n_b,
        round(CASE WHEN sp2 > 0 THEN md / sqrt(sp2) END, 6) AS cohens_d,
        round(CASE WHEN sp2 > 0 THEN (md / sqrt(sp2)) *
          (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE) +
            CAST(n_b AS DOUBLE)) - 9.0)) END, 6) AS hedges_g,
        round(CASE WHEN nanb > 0 THEN 2.0 * u / nanb - 1.0 END, 6)
          AS cliffs_delta
      FROM m3 CROSS JOIN u2""")),

    // ---- Wilcoxon signed-rank (Stats.wilcoxonSignedRank): the PAIRED
    // twin of a_mann_whitney — each user contributes one (mean click,
    // mean view) pair; zero diffs drop, |d| ranks are tie-averaged
    // through the doubled-BIGINT encoding, W+ tests symmetry.
    QueryDef("a_wilcoxon_signed_rank", (s, d) => {
      graft.ops.Stats.wilcoxonSignedRank(Tables.events(s, d), "user_id",
        "event_type", "value", "click", "view")
    }, Some("""
      WITH r AS (SELECT user_id AS k, event_type AS g,
               CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
                 AS v
             FROM events
             WHERE event_type IN ('click', 'view') AND value IS NOT NULL
               AND user_id IS NOT NULL),
      p AS (SELECT k,
              SUM(CASE WHEN g = 'click' THEN v END) AS sa,
              CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS na,
              SUM(CASE WHEN g = 'view' THEN v END) AS sb,
              CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS nb
            FROM r GROUP BY 1
            HAVING SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) > 0
               AND SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) > 0),
      dd AS (SELECT
          CAST(round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 6)
            AS DECIMAL(18,6)) -
          CAST(round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 6)
            AS DECIMAL(18,6)) AS d FROM p),
      nz AS (SELECT d > 0 AS pos, abs(d) AS ad FROM dd WHERE d <> 0),
      bv AS (SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                 AS npos_v
             FROM nz GROUP BY 1),
      c AS (SELECT *, SUM(t) OVER (ORDER BY ad
              ROWS UNBOUNDED PRECEDING) - t AS below FROM bv),
      f AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
              CAST(SUM(npos_v * (2 * below + t + 1)) AS BIGINT) AS wp2,
              CAST(SUM(t * t * t - t) AS BIGINT) AS ties
            FROM c),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM dd)
      SELECT n_pairs, COALESCE(n, 0) AS n_nonzero,
        round(CAST(wp2 AS DOUBLE) / 2.0, 6) AS w_plus,
        round(CASE WHEN n > 0 AND
            CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
            - ties / 48.0 > 0 THEN
          (CAST(wp2 AS DOUBLE) / 2.0 - n * (n + 1) / 4.0) /
          sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
            - ties / 48.0) END, 6)
          AS z
      FROM tot CROSS JOIN f""")),

    // ---- Hodges–Lehmann shift estimator (Stats.hodgesLehmann): the
    // robust click-vs-view "how far apart" in value units — exact
    // median of all pairwise differences of the groups' DAILY means
    // (calendar-bounded pair frame, the e_theil_sen convention),
    // located by cumulative counts — no unpartitioned sort.
    QueryDef("a_hodges_lehmann", (s, d) => {
      graft.ops.Stats.hodgesLehmann(Tables.events(s, d),
        expr("ts_us div 86400000000"), "event_type", "value",
        "click", "view")
    }, Some(s"""
      WITH r AS (SELECT ${EventAnalytics.duckDay} AS k,
               event_type AS g,
               CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
                 AS v
             FROM events
             WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      m AS (SELECT k, g,
              CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)
                AS DECIMAL(18,6)) AS mv
            FROM r GROUP BY 1, 2),
      a AS (SELECT mv AS ma FROM m WHERE g = 'click'),
      b AS (SELECT mv AS mb FROM m WHERE g = 'view'),
      dif AS (SELECT ma - mb AS dd, CAST(COUNT(*) AS BIGINT) AS t
              FROM a CROSS JOIN b GROUP BY 1),
      c AS (SELECT *, CAST(SUM(t) OVER (ORDER BY dd
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_t FROM dif),
      n AS (SELECT CAST(SUM(t) AS BIGINT) AS np FROM c),
      med AS (SELECT
          MAX(CASE WHEN cum_t - t < (np + 1) // 2
            AND cum_t >= (np + 1) // 2 THEN dd END) AS lo,
          MAX(CASE WHEN cum_t - t < np // 2 + 1
            AND cum_t >= np // 2 + 1 THEN dd END) AS hi
        FROM c CROSS JOIN n),
      sides AS (SELECT
          CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b
        FROM m)
      SELECT n_a, n_b, COALESCE(np, 0) AS n_pairs,
        round((CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE)) / 2.0, 6)
          AS hl_shift
      FROM sides CROSS JOIN n CROSS JOIN med""")),

    // ---- Precision–recall AUC (Stats.prAuc): average precision of
    // value as a purchase score at threshold granularity — the
    // class-imbalance-honest companion of a_roc_auc; per-threshold
    // terms round(,9) into DECIMAL before the order-free sum.
    QueryDef("m_pr_auc", (s, d) => {
      graft.ops.Stats.prAuc(Tables.events(s, d),
        col("event_type") === "purchase", "value")
    }, Some("""
      WITH r AS (SELECT CAST(value AS DOUBLE) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS pos
             FROM events WHERE value IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(pos) AS BIGINT) AS tp_v FROM r GROUP BY 1),
      c AS (SELECT *,
              CAST(SUM(t) OVER (ORDER BY v DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
              CAST(SUM(tp_v) OVER (ORDER BY v DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tp
            FROM bv),
      f AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
              CAST(SUM(tp_v) AS BIGINT) AS n_pos,
              SUM(CAST(round(tp_v * CAST(cum_tp AS DOUBLE) /
                CAST(cum_n AS DOUBLE), 9) AS DECIMAL(28,9))) AS ap_num
            FROM c)
      SELECT n_pos, n - n_pos AS n_neg,
        round(CASE WHEN n_pos > 0 THEN CAST(ap_num AS DOUBLE) /
          CAST(n_pos AS DOUBLE) END, 6) AS pr_auc,
        round(CASE WHEN n > 0 THEN CAST(n_pos AS DOUBLE) /
          CAST(n AS DOUBLE) END, 6) AS baseline
      FROM f""")),

    // ---- Two-feature ridge regression (Stats.ridgeRegression):
    // l_extendedprice on (l_quantity, l_discount) at λ = 10 — the
    // closed-form (C + λI)β = c solve on exact DECIMAL moments;
    // intercept unpenalized, Cramer's-rule readout.
    QueryDef("m_ridge_regression", (s, d) => {
      graft.ops.Stats.ridgeRegression(Tables.tLight(s, d, "lineitem"),
        "l_extendedprice", "l_quantity", "l_discount", 10.0)
    }, Some("""
      WITH r AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x1,
               CAST(l_discount AS DECIMAL(18,2)) AS x2,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS y
             FROM lineitem
             WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
               AND l_extendedprice IS NOT NULL),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x1) AS DOUBLE) AS s1,
              CAST(SUM(x2) AS DOUBLE) AS s2c,
              CAST(SUM(y) AS DOUBLE) AS sy,
              CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,4))) AS DOUBLE) AS s11,
              CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,4))) AS DOUBLE) AS s22,
              CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,4))) AS DOUBLE) AS s12,
              CAST(SUM(CAST(x1 * y AS DECIMAL(38,4))) AS DOUBLE) AS s1y,
              CAST(SUM(CAST(x2 * y AS DECIMAL(38,4))) AS DOUBLE) AS s2y,
              CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
            FROM r),
      d1 AS (SELECT *,
          s11 - s1 * s1 / n + 10.0 AS c11,
          s22 - s2c * s2c / n + 10.0 AS c22,
          s12 - s1 * s2c / n AS c12,
          s1y - s1 * sy / n AS c1y,
          s2y - s2c * sy / n AS c2y,
          syy - sy * sy / n AS cyy
        FROM m),
      d2 AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM d1),
      d3 AS (SELECT *,
          CASE WHEN det > 0 THEN (c22 * c1y - c12 * c2y) / det END AS b1,
          CASE WHEN det > 0 THEN (c11 * c2y - c12 * c1y) / det END AS b2
        FROM d2)
      SELECT n,
        round((sy - b1 * s1 - b2 * s2c) / n, 6) AS b0,
        round(b1, 6) AS b1, round(b2, 6) AS b2,
        round(CASE WHEN cyy > 0 THEN 1.0 - (cyy - 2.0 *
          (b1 * c1y + b2 * c2y) + b1 * b1 * (c11 - 10.0) +
          2.0 * b1 * b2 * c12 + b2 * b2 * (c22 - 10.0)) / cyy END, 6)
          AS r2
      FROM d3""")),

    // ---- Friedman test + Kendall's W (Stats.friedmanTest): each
    // complete calendar day ranks the event types by exact daily mean
    // value — the blocked-design companion of a_kruskal_wallis
    // (between-day level shifts cancel); doubled tie-averaged ranks
    // keep every rank sum exact BIGINT.
    QueryDef("a_friedman", (s, d) => {
      graft.ops.Stats.friedmanTest(Tables.events(s, d),
        expr("ts_us div 86400000000"), "event_type", "value")
    }, Some(s"""
      WITH r AS (SELECT ${EventAnalytics.duckDay} AS k,
               event_type AS g,
               CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
                 AS v
             FROM events WHERE value IS NOT NULL),
      cells AS (SELECT k, g,
              CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)
                AS DECIMAL(18,6)) AS m
            FROM r GROUP BY 1, 2),
      kk AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS kk
             FROM cells),
      comp AS (SELECT c.k, c.g, c.m
             FROM (SELECT *, COUNT(*) OVER (PARTITION BY k) AS cnt
                   FROM cells) c CROSS JOIN kk
             WHERE c.cnt = kk.kk),
      rk AS (SELECT g, CAST(2 * (RANK() OVER (PARTITION BY k
                 ORDER BY m) - 1) +
               COUNT(*) OVER (PARTITION BY k, m) + 1 AS BIGINT) AS avg2
             FROM comp),
      av AS (SELECT g, CAST(SUM(avg2) AS BIGINT) AS r2j
             FROM rk GROUP BY 1),
      sb AS (SELECT CAST(SUM(CAST(r2j AS DECIMAL(19,0)) *
               CAST(r2j AS DECIMAL(19,0))) AS DOUBLE) AS ssbn4
             FROM av),
      tt AS (SELECT COALESCE(CAST(SUM(t * t * t - t) AS BIGINT), 0)
               AS tsum
             FROM (SELECT k, m, CAST(COUNT(*) AS BIGINT) AS t
                   FROM comp GROUP BY 1, 2)),
      nb AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n FROM comp),
      q AS (SELECT n, kk,
          CASE WHEN n > 0 AND kk > 1 THEN
            12.0 * (ssbn4 / 4.0) / (CAST(n AS DOUBLE) *
              CAST(kk AS DOUBLE) * (CAST(kk AS DOUBLE) + 1.0)) -
            3.0 * CAST(n AS DOUBLE) * (CAST(kk AS DOUBLE) + 1.0)
            END AS q0,
          CASE WHEN n > 0 AND kk > 1 THEN
            1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) *
              CAST(kk AS DOUBLE) * (CAST(kk AS DOUBLE) *
              CAST(kk AS DOUBLE) - 1.0)) END AS c
        FROM nb CROSS JOIN kk CROSS JOIN sb CROSS JOIN tt)
      SELECT n AS n_blocks, kk AS k,
        round(CASE WHEN c > 0 THEN q0 / c END, 6) AS chi2,
        round(CASE WHEN c > 0 THEN (q0 / c) /
          (CAST(n AS DOUBLE) * (CAST(kk AS DOUBLE) - 1.0)) END, 6)
          AS w
      FROM q""")),

    // ---- Difference-in-differences (EventAnalytics.didEstimate):
    // pre/post per-user value totals × the stable md5 arms — where
    // e_cuped SHRINKS variance with the pre-period, DiD REMOVES
    // time-invariant level differences; pre_diff is the
    // parallel-trends eyeball, the four-cell Welch SE reads z.
    QueryDef("e_did", (s, d) => {
      val e = Tables.events(s, d)
      val mid = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      graft.ops.EventAnalytics.didEstimate(e.crossJoin(broadcast(mid)),
        "value", col("ts_us") < col("__mid"))
    }, Some(s"""
      WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                   AS mid FROM events),
      u0 AS (SELECT user_id,
          CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < mid THEN
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
              END), 0) AS DECIMAL(18,6)) AS x,
          CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= mid THEN
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
              END), 0) AS DECIMAL(18,6)) AS y
        FROM events CROSS JOIN b
        WHERE value IS NOT NULL GROUP BY 1),
      u AS (SELECT x, y,
          (${graft.ops.Hashing.duckMd5Long(
            "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS variant
        FROM u0),
      f AS (SELECT
          CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(SUM(CASE WHEN variant = 0 THEN x END) AS DOUBLE) AS sx_a,
          CAST(SUM(CASE WHEN variant = 0 THEN
            CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
            END) AS DOUBLE) AS sxx_a,
          CAST(SUM(CASE WHEN variant = 0 THEN y END) AS DOUBLE) AS sy_a,
          CAST(SUM(CASE WHEN variant = 0 THEN
            CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
            END) AS DOUBLE) AS syy_a,
          CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          CAST(SUM(CASE WHEN variant = 1 THEN x END) AS DOUBLE) AS sx_b,
          CAST(SUM(CASE WHEN variant = 1 THEN
            CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
            END) AS DOUBLE) AS sxx_b,
          CAST(SUM(CASE WHEN variant = 1 THEN y END) AS DOUBLE) AS sy_b,
          CAST(SUM(CASE WHEN variant = 1 THEN
            CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
            END) AS DOUBLE) AS syy_b
        FROM u),
      g AS (SELECT *,
          sx_a / CAST(n_a AS DOUBLE) AS mxa,
          sy_a / CAST(n_a AS DOUBLE) AS mya,
          sx_b / CAST(n_b AS DOUBLE) AS mxb,
          sy_b / CAST(n_b AS DOUBLE) AS myb,
          CASE WHEN n_a > 1 AND n_b > 1 THEN
            ((sxx_a - sx_a * sx_a / n_a) / (CAST(n_a AS DOUBLE) - 1.0) +
             (syy_a - sy_a * sy_a / n_a) / (CAST(n_a AS DOUBLE) - 1.0)) /
            CAST(n_a AS DOUBLE) +
            ((sxx_b - sx_b * sx_b / n_b) / (CAST(n_b AS DOUBLE) - 1.0) +
             (syy_b - sy_b * sy_b / n_b) / (CAST(n_b AS DOUBLE) - 1.0)) /
            CAST(n_b AS DOUBLE) END AS se2
        FROM f)
      SELECT n_a, n_b,
        round(mxb - mxa, 6) AS pre_diff,
        round(myb - mya, 6) AS post_diff,
        round((myb - mxb) - (mya - mxa), 6) AS did,
        round(CASE WHEN se2 > 0 THEN sqrt(se2) END, 6) AS se,
        round(CASE WHEN se2 > 0 THEN
          ((myb - mxb) - (mya - mxa)) / sqrt(se2) END, 6) AS z
      FROM g""")),

    // ---- PAIRED DiD (EventAnalytics.didPaired): the same contrast as
    // e_did but with the Welch SE on the per-user deltas d = y − x —
    // absorbs the within-user pre/post covariance the four-cell SE
    // ignores (r12 advice), so z is decision-grade where e_did's is
    // deliberately conservative. Same md5 arms, same temporal-midpoint
    // pre/post split.
    QueryDef("e_did_paired", (s, d) => {
      val e = Tables.events(s, d)
      val mid = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      graft.ops.EventAnalytics.didPaired(e.crossJoin(broadcast(mid)),
        "value", col("ts_us") < col("__mid"))
    }, Some(s"""
      WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                   AS mid FROM events),
      u0 AS (SELECT user_id,
          CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < mid THEN
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
              END), 0) AS DECIMAL(18,6)) AS x,
          CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= mid THEN
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
              END), 0) AS DECIMAL(18,6)) AS y
        FROM events CROSS JOIN b
        WHERE value IS NOT NULL GROUP BY 1),
      u AS (SELECT CAST(y - x AS DECIMAL(18,6)) AS dd,
          (${graft.ops.Hashing.duckMd5Long(
            "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 AS variant
        FROM u0),
      f AS (SELECT
          CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(SUM(CASE WHEN variant = 0 THEN dd END) AS DOUBLE)
            AS sd_a,
          CAST(SUM(CASE WHEN variant = 0 THEN
            CAST(dd AS DECIMAL(19,6)) * CAST(dd AS DECIMAL(19,6))
            END) AS DOUBLE) AS sdd_a,
          CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          CAST(SUM(CASE WHEN variant = 1 THEN dd END) AS DOUBLE)
            AS sd_b,
          CAST(SUM(CASE WHEN variant = 1 THEN
            CAST(dd AS DECIMAL(19,6)) * CAST(dd AS DECIMAL(19,6))
            END) AS DOUBLE) AS sdd_b
        FROM u),
      g AS (SELECT *,
          sd_a / CAST(n_a AS DOUBLE) AS mda,
          sd_b / CAST(n_b AS DOUBLE) AS mdb,
          CASE WHEN n_a > 1 AND n_b > 1 THEN
            (sdd_a - sd_a * sd_a / n_a) / (CAST(n_a AS DOUBLE) - 1.0) /
            CAST(n_a AS DOUBLE) +
            (sdd_b - sd_b * sd_b / n_b) / (CAST(n_b AS DOUBLE) - 1.0) /
            CAST(n_b AS DOUBLE) END AS se2
        FROM f)
      SELECT n_a, n_b,
        round(mda, 6) AS mean_delta_a,
        round(mdb, 6) AS mean_delta_b,
        round(mdb - mda, 6) AS did,
        round(CASE WHEN se2 > 0 THEN sqrt(se2) END, 6) AS se,
        round(CASE WHEN se2 > 0 THEN (mdb - mda) / sqrt(se2) END, 6)
          AS z
      FROM g""")),

    // ---- Brier score + Murphy decomposition (Stats.
    // brierDecomposition): the proper-scoring readout of the SAME
    // hash-uniform score vs purchase fixture as m_calibration_bins —
    // REL ≈ 0 (the uniform score is calibrated to nothing) and
    // RES ≈ 0 (it discriminates nothing), so brier ≈ uncertainty:
    // the known-answer fixture for the decomposition.
    QueryDef("m_brier_decomposition", (s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Hashing.ensureRegistered(e)
      graft.ops.Stats.brierDecomposition(
        e.withColumn("sc", pmod(graft.ops.Hashing.md5Long(
          concat(lit("cal:"), col("event_id").cast("string"))),
          lit(1000L)).cast("double") / 1000.0),
        col("event_type") === "purchase", "sc", bins = 10)
    }, Some(s"""
      WITH r AS (SELECT
               CAST((${graft.ops.Hashing.duckMd5Long(
                 "'cal:' || CAST(event_id AS VARCHAR)")}) % 1000
                 AS DOUBLE) / 1000.0 AS sc0,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             FROM events),
      raw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(p) AS BIGINT) AS sy,
            CAST(SUM(CAST(CAST(round(sc0, 6) AS DECIMAL(28,6)) *
              CAST(round(sc0, 6) AS DECIMAL(28,6)) AS DECIMAL(38,12)))
              AS DOUBLE) AS spp,
            CAST(SUM(CASE WHEN p = 1 THEN
              CAST(round(sc0, 6) AS DECIMAL(28,6)) END) AS DOUBLE)
              AS spy
          FROM r),
      b AS (SELECT LEAST(CAST(FLOOR(sc0 * 10.0) AS INT), 9) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n,
              SUM(CAST(round(sc0, 6) AS DECIMAL(28,6))) AS ssum,
              CAST(SUM(p) AS BIGINT) AS npos
            FROM r GROUP BY 1),
      tot AS (SELECT CAST(SUM(npos) AS BIGINT) AS tp,
                CAST(SUM(n) AS BIGINT) AS tn FROM b),
      terms AS (SELECT
          CAST(round(CAST(n AS DOUBLE) *
            (CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) -
             CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)) *
            (CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) -
             CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 9)
            AS DECIMAL(28,9)) AS rel_t,
          CAST(round(CAST(n AS DOUBLE) *
            (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) -
             CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) *
            (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) -
             CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 9)
            AS DECIMAL(28,9)) AS res_t
        FROM b CROSS JOIN tot),
      bf AS (SELECT CAST(SUM(rel_t) AS DOUBLE) AS rel_s,
               CAST(SUM(res_t) AS DOUBLE) AS res_s FROM terms)
      SELECT n,
        round(CASE WHEN n > 0 THEN (spp - 2.0 * COALESCE(spy, 0.0) +
          CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE) END, 6) AS brier,
        round(CASE WHEN n > 0 THEN rel_s / CAST(n AS DOUBLE) END, 6)
          AS reliability,
        round(CASE WHEN n > 0 THEN res_s / CAST(n AS DOUBLE) END, 6)
          AS resolution,
        round(CASE WHEN n > 0 THEN (CAST(sy AS DOUBLE) /
          CAST(n AS DOUBLE)) * (1.0 - CAST(sy AS DOUBLE) /
          CAST(n AS DOUBLE)) END, 6) AS uncertainty
      FROM raw CROSS JOIN bf""")),

    // ---- Fisher's exact test (Stats.fisherExact): md5 arm ×
    // purchase — the small-cell-safe companion of
    // a_chi2_independence; ±50σ-truncated hypergeometric support
    // (O(√n) terms at any scale), scipy's 1e-7 tie guard band, the
    // shared lnFactSql Stirling chain VERBATIM in both engines.
    QueryDef("a_fisher_exact", (s, d) => {
      val e = Tables.events(s, d)
      graft.ops.Hashing.ensureRegistered(e)
      graft.ops.Stats.fisherExact(e,
        pmod(graft.ops.Hashing.md5Long(
          concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2L)) === 0,
        col("event_type") === "purchase")
    }, Some({
      def lf(x: String) = graft.ops.Stats.lnFactSql(x)
      val lcell = s"(lconst - ${lf("kc")} - ${lf("bb")} - " +
        s"${lf("cc")} - ${lf("dd")})"
      s"""
      WITH r AS (SELECT
          CASE WHEN (${graft.ops.Hashing.duckMd5Long(
            "'ab:' || CAST(user_id AS VARCHAR)")}) % 2 = 0
            THEN 1 ELSE 0 END AS ex,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS oc
        FROM events),
      f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(ex) AS BIGINT) AS r1,
          CAST(SUM(oc) AS BIGINT) AS c1,
          CAST(SUM(ex * oc) AS BIGINT) AS a
        FROM r),
      f2 AS (SELECT *, n - r1 AS rr2, n - c1 AS cc2,
          greatest(0, r1 + c1 - n) AS lb, least(r1, c1) AS ub,
          (n > 1 AND least(r1, c1) >= greatest(0, r1 + c1 - n))
            AS valid,
          CAST(c1 AS DOUBLE) * CAST(r1 AS DOUBLE) / CAST(n AS DOUBLE)
            AS mu
        FROM f),
      f3 AS (SELECT *,
          CASE WHEN valid THEN sqrt(CAST(r1 AS DOUBLE) *
            CAST(rr2 AS DOUBLE) * CAST(c1 AS DOUBLE) *
            CAST(cc2 AS DOUBLE) / (CAST(n AS DOUBLE) *
            CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sig
        FROM f2),
      f4 AS (SELECT *,
          CASE WHEN valid THEN greatest(lb,
            least(CAST(floor(mu - 50.0 * sig) AS BIGINT), a))
            ELSE 0 END AS lo,
          CASE WHEN valid THEN least(ub,
            greatest(CAST(ceil(mu + 50.0 * sig) AS BIGINT), a))
            ELSE 0 END AS hi,
          (${lf("r1")} + ${lf("rr2")} + ${lf("c1")} + ${lf("cc2")} -
            ${lf("n")}) AS lconst
        FROM f3),
      f5 AS (SELECT *, (lconst - ${lf("a")} - ${lf("(r1 - a)")} -
          ${lf("(c1 - a)")} - ${lf("(n - r1 - c1 + a)")}) AS lpobs
        FROM f4),
      g0 AS (SELECT valid, lconst, lpobs, r1 AS gr1, c1 AS gc1,
               n AS gn, unnest(generate_series(lo, hi)) AS kc
             FROM f5),
      g1 AS (SELECT valid, lconst, lpobs, kc, gr1 - kc AS bb,
               gc1 - kc AS cc, gn - gr1 - gc1 + kc AS dd
             FROM g0),
      g2 AS (SELECT CASE WHEN valid AND exp($lcell) <=
               exp(lpobs) * (1.0 + 1e-7) THEN
               CAST(round(exp($lcell), 18) AS DECIMAL(28,18)) END
               AS term
             FROM g1),
      p AS (SELECT SUM(term) AS psum FROM g2)
      SELECT n, r1, c1, a,
        round(CASE WHEN r1 - a > 0 AND c1 - a > 0 THEN
          (CAST(a AS DOUBLE) * CAST(n - r1 - c1 + a AS DOUBLE)) /
          (CAST(r1 - a AS DOUBLE) * CAST(c1 - a AS DOUBLE)) END, 6)
          AS odds_ratio,
        round(CASE WHEN valid THEN
          least(CAST(psum AS DOUBLE), 1.0) END, 6) AS p_two_sided
      FROM f5 CROSS JOIN p"""
    })),

    // ---- Dunn's post-hoc test (Stats.dunnPostHoc): WHICH event-type
    // pairs differ after a_kruskal_wallis says SOME do — pooled global
    // ranks (not per-pair re-ranks), Bonferroni-adjusted p over the
    // k(k-1)/2 comparisons; the shared pExprSql normal polynomial.
    QueryDef("a_dunn_posthoc", (s, d) => {
      graft.ops.Stats.dunnPostHoc(Tables.events(s, d),
        "event_type", "value")
    }, Some(s"""
      WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
             FROM events WHERE value IS NOT NULL),
      bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY 1),
      c AS (SELECT *, SUM(t) OVER (ORDER BY v
              ROWS UNBOUNDED PRECEDING) - t AS below FROM bv),
      rk AS (SELECT v, CAST(2 * below + t + 1 AS BIGINT) AS r2 FROM c),
      gr AS (SELECT g, CAST(SUM(n_gv) AS BIGINT) AS n_g,
               CAST(SUM(n_gv * r2) AS BIGINT) AS s2
             FROM (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
                   FROM r GROUP BY 1, 2) j JOIN rk USING (v)
             GROUP BY 1),
      tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                CAST(SUM(t * t * t - t) AS BIGINT) AS ties FROM bv),
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM gr),
      pr AS (SELECT a.g AS group_a, b.g AS group_b, a.n_g AS n_a,
               b.n_g AS n_b, a.s2 AS s2a, b.s2 AS s2b
             FROM gr a JOIN gr b ON a.g < b.g),
      zz AS (SELECT group_a, group_b, n_a, n_b,
          round(CASE WHEN sig2 > 0 THEN
            (CAST(s2a AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE)) -
             CAST(s2b AS DOUBLE) / (2.0 * CAST(n_b AS DOUBLE))) /
            sqrt(sig2) END, 6) AS z, k
        FROM (SELECT pr.*, kk.k,
            CASE WHEN n > 2 THEN (CAST(n AS DOUBLE) *
              (CAST(n AS DOUBLE) + 1.0) / 12.0 -
              CAST(ties AS DOUBLE) / (12.0 *
              (CAST(n AS DOUBLE) - 1.0))) *
              (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
              END AS sig2
          FROM pr CROSS JOIN tot CROSS JOIN kk)),
      pp AS (SELECT *, ${graft.ops.EventAnalytics.pExprSql} AS p
             FROM zz)
      SELECT group_a, group_b, n_a, n_b, z, p,
        round(CASE WHEN p IS NOT NULL THEN least(1.0, p *
          (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0) / 2.0)) END,
          6) AS p_adj
      FROM pp ORDER BY group_a, group_b""")),

    // ---- Two-feature logistic regression by IRLS (Stats.
    // logisticIrls): P(l_returnflag = 'R' | l_quantity, l_discount) —
    // 6 fixed Newton rounds, each ONE nine-moment fold; per-row terms
    // round(,9) into DECIMAL and each round's β rounds to 6 dp in
    // both engines so the iterated transcendental cannot drift; the
    // oracle unrolls every round as CTEs generated from the SAME
    // shared expression texts. Wald SEs off the final Hessian.
    QueryDef("m_logistic_irls", (s, d) => {
      graft.ops.Stats.logisticIrls(Tables.tLight(s, d, "lineitem"),
        col("l_returnflag") === "R", "l_quantity", "l_discount", 6)
    }, Some({
      val I = graft.ops.Stats.Irls
      val rounds = 6
      val momSql = I.moments.map { case (n, e) =>
        s"SUM(${I.sumS9(e)}) AS $n" }.mkString(",\n          ")
      val castSql = Seq("sg0" -> "g0", "sg1" -> "g1", "sg2" -> "g2",
        "sh00" -> "h00", "sh01" -> "h01", "sh02" -> "h02",
        "sh11" -> "h11", "sh12" -> "h12", "sh22" -> "h22")
        .map { case (s0, d0) => s"${I.undo(s0)} AS $d0" }
        .mkString(", ")
      // each round folds via a GLOBAL aggregate cross-joined back to
      // the 1-row beta CTE (no GROUP BY): on an empty input table the
      // fold still emits one all-NULL row, the CASE WHEN det<>0 guard
      // reads NULL and keeps beta at 0 — matching the Spark op's
      // 1-row degenerate output instead of vanishing to 0 rows
      val roundCtes = (1 to rounds).map { i =>
        s"""m$i AS (SELECT b0, b1, b2, $castSql
          FROM it${i - 1} CROSS JOIN (SELECT
          $momSql
          FROM r CROSS JOIN it${i - 1}) agg),
      it$i AS (SELECT
          round(CASE WHEN ${I.det} <> 0.0 THEN b0 + ${I.d0} / ${I.det}
            ELSE b0 END, 6) AS b0,
          round(CASE WHEN ${I.det} <> 0.0 THEN b1 + ${I.d1} / ${I.det}
            ELSE b1 END, 6) AS b1,
          round(CASE WHEN ${I.det} <> 0.0 THEN b2 + ${I.d2} / ${I.det}
            ELSE b2 END, 6) AS b2
        FROM m$i)"""
      }.mkString(",\n      ")
      val finMoms = I.moments.drop(3).map { case (n, e) =>
        s"SUM(${I.sumS9(e)}) AS $n" }.mkString(",\n          ")
      s"""
      WITH r AS (SELECT
          CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
          CAST(l_quantity AS DOUBLE) AS x1,
          CAST(l_discount AS DOUBLE) AS x2
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
      it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
      $roundCtes,
      ff AS (SELECT n, b0, b1, b2,
          ${I.undo("sh00")} AS h00, ${I.undo("sh01")} AS h01,
          ${I.undo("sh02")} AS h02, ${I.undo("sh11")} AS h11,
          ${I.undo("sh12")} AS h12, ${I.undo("sh22")} AS h22,
          ${I.undo("sll")} AS ll
        FROM it$rounds CROSS JOIN
          (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          $finMoms,
          SUM(${I.sumS9(I.ll)}) AS sll
          FROM r CROSS JOIN it$rounds) agg)
      SELECT n, b0, b1, b2,
        round(CASE WHEN ${I.det} > 0.0 THEN
          sqrt((h11 * h22 - h12 * h12) / ${I.det}) END, 6) AS se0,
        round(CASE WHEN ${I.det} > 0.0 THEN
          sqrt((h00 * h22 - h02 * h02) / ${I.det}) END, 6) AS se1,
        round(CASE WHEN ${I.det} > 0.0 THEN
          sqrt((h00 * h11 - h01 * h01) / ${I.det}) END, 6) AS se2,
        round(CASE WHEN n > 0 THEN ll / CAST(n AS DOUBLE) END, 6)
          AS log_loss
      FROM ff"""
    })),

    // ---- Interrupted time series (EventAnalytics.
    // interruptedTimeSeries): the third causal lens beside e_did
    // (needs a control arm) and e_cuped (needs randomization) — the
    // intervention hits everyone at the temporal midpoint, separate
    // OLS lines fit the pre/post DAILY series, and the readout is the
    // discontinuity (level + slope change) at the first post day.
    QueryDef("e_its", (s, d) => {
      val e = Tables.events(s, d)
      val mid = e.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("__mid"))
      graft.ops.EventAnalytics.interruptedTimeSeries(
        e.crossJoin(broadcast(mid)), "value",
        col("ts_us") < col("__mid"))
    }, Some(s"""
      WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2
                   AS mid FROM events),
      r AS (SELECT ${EventAnalytics.duckDay} AS t,
              epoch_us(ts) < mid AS pre,
              CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))
                AS vv
            FROM events CROSS JOIN b WHERE value IS NOT NULL),
      d AS (SELECT t, pre,
              CAST(round(CAST(SUM(vv) AS DOUBLE) / COUNT(*), 6)
                AS DECIMAL(18,6)) AS y
            FROM r GROUP BY 1, 2),
      tz AS (SELECT CAST(MIN(t) AS BIGINT) AS t0 FROM d WHERE NOT pre),
      m AS (SELECT
          CAST(SUM(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
          CAST(SUM(CASE WHEN pre THEN t END) AS BIGINT) AS st_pre,
          CAST(SUM(CASE WHEN pre THEN t * t END) AS BIGINT) AS stt_pre,
          CAST(SUM(CASE WHEN pre THEN y END) AS DOUBLE) AS sy_pre,
          CAST(SUM(CASE WHEN pre THEN
            CAST(CAST(t AS DECIMAL(20,0)) * y AS DECIMAL(38,6)) END)
            AS DOUBLE) AS sty_pre,
          CAST(SUM(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT)
            AS n_post,
          CAST(SUM(CASE WHEN NOT pre THEN t END) AS BIGINT) AS st_post,
          CAST(SUM(CASE WHEN NOT pre THEN t * t END) AS BIGINT)
            AS stt_post,
          CAST(SUM(CASE WHEN NOT pre THEN y END) AS DOUBLE) AS sy_post,
          CAST(SUM(CASE WHEN NOT pre THEN
            CAST(CAST(t AS DECIMAL(20,0)) * y AS DECIMAL(38,6)) END)
            AS DOUBLE) AS sty_post
        FROM d),
      g AS (SELECT *,
          CASE WHEN n_pre > 1 AND (CAST(n_pre AS DOUBLE) *
              CAST(stt_pre AS DOUBLE) - CAST(st_pre AS DOUBLE) *
              CAST(st_pre AS DOUBLE)) <> 0.0 THEN
            (CAST(n_pre AS DOUBLE) * sty_pre -
             CAST(st_pre AS DOUBLE) * sy_pre) /
            (CAST(n_pre AS DOUBLE) * CAST(stt_pre AS DOUBLE) -
             CAST(st_pre AS DOUBLE) * CAST(st_pre AS DOUBLE)) END
            AS s_pre,
          CASE WHEN n_post > 1 AND (CAST(n_post AS DOUBLE) *
              CAST(stt_post AS DOUBLE) - CAST(st_post AS DOUBLE) *
              CAST(st_post AS DOUBLE)) <> 0.0 THEN
            (CAST(n_post AS DOUBLE) * sty_post -
             CAST(st_post AS DOUBLE) * sy_post) /
            (CAST(n_post AS DOUBLE) * CAST(stt_post AS DOUBLE) -
             CAST(st_post AS DOUBLE) * CAST(st_post AS DOUBLE)) END
            AS s_post
        FROM m),
      g2 AS (SELECT *,
          CASE WHEN s_pre IS NOT NULL THEN
            (sy_pre - s_pre * CAST(st_pre AS DOUBLE)) /
            CAST(n_pre AS DOUBLE) END AS i_pre,
          CASE WHEN s_post IS NOT NULL THEN
            (sy_post - s_post * CAST(st_post AS DOUBLE)) /
            CAST(n_post AS DOUBLE) END AS i_post
        FROM g)
      SELECT n_pre, n_post,
        round(s_pre, 6) AS slope_pre,
        round(s_post, 6) AS slope_post,
        round(s_post - s_pre, 6) AS slope_change,
        round((i_post + s_post * CAST(t0 AS DOUBLE)) -
          (i_pre + s_pre * CAST(t0 AS DOUBLE)), 6) AS level_change
      FROM g2 CROSS JOIN tz""")),

    // ---- CCNet-style perplexity buckets (TextAnalysis.pplBuckets):
    // head/middle/tail partition of the corpus at the EXACT terciles
    // of the train-split unigram-LM mean NLL — the bucket manifest a
    // quality-aware sampling stage consumes; rank-statistic cuts
    // (ceil(q·n), no interpolation), tied scores land together.
    QueryDef("t_ppl_buckets", (s, d) => {
      graft.ops.TextAnalysis.pplBuckets(t(s, d, "documents"))
    }, Some(s"""
      WITH tg AS (SELECT doc_id,
               $duckTokensSql AS tk,
               (${graft.ops.Hashing.duckMd5Long(
                 "'lmsplit:' || CAST(doc_id AS VARCHAR)")})
                 % 5 <> 0 AS is_train
             FROM documents),
      cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(tk) AS tok FROM tg WHERE is_train)
              GROUP BY 1),
      st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS N,
               CAST(COUNT(*) AS BIGINT) AS V FROM cnt),
      te AS (SELECT doc_id, unnest(tk) AS tok FROM tg),
      sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               round(CAST(SUM(CAST(round(-ln(
                   CAST(COALESCE(cnt, 0) + 1 AS DOUBLE) /
                   CAST(N + V AS DOUBLE)), 6) AS DECIMAL(12,6)))
                 AS DOUBLE) / COUNT(*), 6) AS mean_nll
             FROM te LEFT JOIN cnt USING (tok) CROSS JOIN st
             GROUP BY 1),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
      ranked AS (SELECT mean_nll,
                   CAST(ROW_NUMBER() OVER (ORDER BY mean_nll, doc_id)
                     AS BIGINT) AS ord
                 FROM sc),
      cuts AS (SELECT
          MAX(CASE WHEN ord = CEIL(CAST(0.3333333333 AS DECIMAL(20,10))
            * n) THEN mean_nll END) AS cut_head,
          MAX(CASE WHEN ord = CEIL(CAST(0.6666666667 AS DECIMAL(20,10))
            * n) THEN mean_nll END) AS cut_middle
        FROM ranked CROSS JOIN nn)
      SELECT CASE WHEN mean_nll <= cut_head THEN 'head'
               WHEN mean_nll <= cut_middle THEN 'middle'
               ELSE 'tail' END AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        round(CAST(SUM(CAST(mean_nll AS DECIMAL(12,6))) AS DOUBLE) /
          COUNT(*), 6) AS bucket_mean_nll,
        MAX(cut_head) AS cut_head, MAX(cut_middle) AS cut_middle
      FROM sc CROSS JOIN cuts
      GROUP BY 1 ORDER BY 1""")),

    // ---- Curriculum ordering (Sampling.curriculumOrder): easy-to-hard
    // training manifest — token-count difficulty cut at the exact
    // quartiles, md5-shuffled WITHIN each tier (no sorted-by-length
    // batch pathology), one two-phase ordinal for the global position.
    QueryDef("o20_curriculum_order", (s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Sampling.curriculumOrder(
        docs.withColumn("difficulty", expr(
          s"size(${graft.ops.Hashing.tokens()})")),
        "doc_id", "difficulty", buckets = 4)
    }, Some(s"""
      WITH sc AS (SELECT doc_id AS key,
               CAST(len($duckTokensSql)
                 AS DOUBLE) AS difficulty
             FROM documents),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
      ranked AS (SELECT difficulty,
                   CAST(ROW_NUMBER() OVER (ORDER BY difficulty, key)
                     AS BIGINT) AS ord
                 FROM sc),
      cuts AS (SELECT difficulty AS cut
               FROM ranked CROSS JOIN nn
               WHERE ord = CEIL(CAST(0.25 AS DECIMAL(20,10)) * n)
                  OR ord = CEIL(CAST(0.5 AS DECIMAL(20,10)) * n)
                  OR ord = CEIL(CAST(0.75 AS DECIMAL(20,10)) * n)),
      binned AS (SELECT s.key, s.difficulty,
               CAST(COUNT(c.cut) AS BIGINT) AS bucket
             FROM sc s LEFT JOIN cuts c ON c.cut < s.difficulty
             GROUP BY 1, 2),
      h AS (SELECT *,
              (${graft.ops.Hashing.duckMd5Long(
                "'curr:' || CAST(key AS VARCHAR)")}) AS hh
            FROM binned)
      SELECT key, difficulty, bucket,
        CAST(ROW_NUMBER() OVER (ORDER BY bucket, hh, key) - 1
          AS BIGINT) AS pos
      FROM h ORDER BY pos"""))
  )
}
