package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.ops.Pins.PinSyntax
import graft.ops.Hashing.duckTokensSql
import graft.functions.KmvSketch
import graft.functions.VectorFold.duckSum

/** Relational operator coverage (SURVEY.md §2.3-§2.7): the full join
  * surface, aggregation forms (incl. cube/rollup/grouping sets), window
  * functions, sorts/limits/top-k, and set operations — each expressed as a
  * declarative DataFrame plan so Catalyst handles pushdown, partial
  * aggregation and join-strategy selection.
  *
  * Determinism conventions shared with every oracle in this repo:
  *  - money/quantity sums go through DECIMAL casts (order-independent exact
  *    arithmetic; identical in Spark and DuckDB) and surface as DOUBLE;
  *  - every query ends with a total ORDER BY on non-null keys;
  *  - any LIMIT is preceded by a tie-broken total order;
  *  - transcendental outputs (ln/exp/...) are rounded to 6 decimals because
  *    libm implementations may differ across engines by ULPs.
  */
object Relational extends QueryModule {
  import Tables.{t, tLight}

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(20, scale))).cast("double")

  val defs: Seq[QueryDef] = Seq(
    // ---- A1/P4/O1: scan → filter → hash agg (partial+final) → sort.
    // Ref: sift reduceByKey counts (sift/models/links.py:29-32).
    QueryDef("q1_pricing_summary", (s, d) => {
      tLight(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(22, 6))).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax")))
            .cast(DecimalType(22, 6))).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) * (CAST(1.0 AS DOUBLE) + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
        COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // ---- J2: 3-way shuffle join + agg + tie-broken top-k (ref J2,
    // sift/corpora/wikipedia.py:88-89). customer is broadcast-able: AQE /
    // autoBroadcastJoinThreshold picks that at runtime.
    QueryDef("q3_top_revenue", (s, d) => {
      val c = tLight(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tLight(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = tLight(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(22, 6))).cast("double").as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
        .limit(10)
    }, Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")),

    // ---- Q5-style local-supplier volume: the six-table join chain
    // (region→nation→customer→orders→lineitem→supplier with the
    // customer-nation = supplier-nation co-location predicate). The
    // 1-row region filter broadcasts; AQE picks broadcast for nation;
    // the fact-table joins shuffle on their keys.
    QueryDef("q5_local_supplier", (s, d) => {
      val r = tLight(s, d, "region").filter(col("r_name") === "AMERICA")
      val n = tLight(s, d, "nation")
      val c = tLight(s, d, "customer")
      val o = tLight(s, d, "orders")
      val l = tLight(s, d, "lineitem")
      val su = tLight(s, d, "supplier")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(22, 6))).cast("double").as("revenue"))
    }, Some("""
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      FROM region, nation, customer, orders, lineitem, supplier
      WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        AND r_name = 'AMERICA'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // ---- Q18-style large orders: HAVING-filtered aggregate semi-joined
    // back to the order/customer chain (integer-valued quantities sum
    // exactly in doubles, so the threshold is partition-independent).
    QueryDef("q18_large_orders", (s, d) => {
      val big = tLight(s, d, "lineitem").groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qty")).filter(col("qty") > 220)
      val o = tLight(s, d, "orders")
      val c = tLight(s, d, "customer")
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(c("c_name"), o("o_orderkey"), o("o_orderdate"),
          o("o_totalprice"), big("qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }, Some("""
      WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS qty FROM lineitem
                   GROUP BY 1 HAVING SUM(l_quantity) > 220)
      SELECT c_name, o_orderkey, o_orderdate, o_totalprice, qty
      FROM big JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // ---- J1: left-outer join + COALESCE fallback (redirect-resolution
    // pattern, sift/corpora/wikipedia.py:81-89).
    QueryDef("j1_left_outer_coalesce", (s, d) => {
      val rich = tLight(s, d, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("rk"), col("c_name").as("rich_name"))
      tLight(s, d, "orders")
        .join(rich, col("o_custkey") === col("rk"), "left_outer")
        .select(col("o_orderkey"),
          coalesce(col("rich_name"), lit("UNRESOLVED")).as("cust"))
    }, Some("""
      SELECT o_orderkey, COALESCE(r.rich_name, 'UNRESOLVED') AS cust
      FROM orders LEFT JOIN
        (SELECT c_custkey AS rk, c_name AS rich_name FROM customer
         WHERE c_acctbal > 5000) r ON o_custkey = rk
      ORDER BY o_orderkey""")),

    // ---- left_semi (EXISTS).
    QueryDef("j_semi_urgent", (s, d) => {
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      t(s, d, "customer")
        .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""")),

    // ---- left_anti (NOT EXISTS).
    QueryDef("j_anti_no_orders", (s, d) => {
      val o = t(s, d, "orders")
      t(s, d, "customer")
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""")),

    // ---- full_outer join of two aggregates.
    QueryDef("j_full_outer_nation", (s, d) => {
      val c = t(s, d, "customer").groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("nc"))
      val su = t(s, d, "supplier").groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("ns"))
      c.join(su, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("nc"), lit(0L)).as("n_customers"),
          coalesce(col("ns"), lit(0L)).as("n_suppliers"))
    }, Some("""
      WITH c AS (SELECT c_nationkey ck, COUNT(*) nc FROM customer GROUP BY 1),
           s AS (SELECT s_nationkey sk, COUNT(*) ns FROM supplier GROUP BY 1)
      SELECT COALESCE(ck, sk) AS nationkey,
             COALESCE(nc, 0) AS n_customers, COALESCE(ns, 0) AS n_suppliers
      FROM c FULL OUTER JOIN s ON ck = sk ORDER BY nationkey""")),

    // ---- cross join (small × small grid).
    QueryDef("j_cross_grid", (s, d) => {
      val g = t(s, d, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"))
      t(s, d, "region").crossJoin(g)
        .select("r_name", "o_orderstatus", "n_orders")
    }, Some("""
      SELECT r_name, o_orderstatus, n_orders
      FROM region CROSS JOIN
        (SELECT o_orderstatus, COUNT(*) n_orders FROM orders GROUP BY 1) g
      ORDER BY r_name, o_orderstatus""")),

    // ---- BUCKETED co-located join: both sides written bucketed by the
    // join key (8 buckets, bucket-local sort), then sort-merge-joined
    // AND aggregated on that key with ZERO hash-partition exchanges —
    // the plan is asserted shuffle-free in-gate (only the final
    // presentation orderBy may range-partition). This is the 100 TB
    // lever for repeated joins on a stable key: pay the partitioning
    // once at write time, never again at read time. The oracle replays
    // the equivalent plain join in DuckDB — bucketing must not change
    // results, only the plan.
    QueryDef("j_bucketed_colocated", (s, d) => {
      // run-unique table names + scratch dir: concurrent runs sharing a
      // metastore/warehouse must not clobber each other, and nothing may
      // accumulate across runs — tables are dropped and the dir deleted
      // eagerly once the (small) result has materialized
      val runId = java.util.UUID.randomUUID.toString.replace("-", "")
      val tmp = Scratch.dir("graft_bucketed")
      val ordersTbl = s"graft_orders_b_$runId"
      val custTbl = s"graft_customer_b_$runId"
      t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").option("path", s"$tmp/orders_b")
        .saveAsTable(ordersTbl)
      t(s, d, "customer").select("c_custkey", "c_name")
        .write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").option("path", s"$tmp/customer_b")
        .saveAsTable(custTbl)
      val j = s.table(ordersTbl)
        .join(s.table(custTbl).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("hashpartitioning"),
        s"bucketed join must not hash-shuffle; got plan:\n$plan")
      val out = j.orderBy("c_custkey").pin(true)
      s.sql(s"DROP TABLE IF EXISTS $ordersTbl")
      s.sql(s"DROP TABLE IF EXISTS $custTbl")
      Scratch.deleteTree(java.nio.file.Paths.get(tmp))
      out
    }, Some("""
      SELECT c_custkey, c_name, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2 ORDER BY c_custkey""")),

    // ---- range (non-equi) join: event pairs per user within 5 minutes.
    // Equi key (user_id) drives the shuffle; the time band is a post-join
    // predicate, so this stays a hash join, not a nested-loop cross.
    QueryDef("j_range_event_pairs", (s, d) => {
      val e = Tables.events(s, d).select("user_id", "ts_us")
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.user_id") === col("b.user_id") &&
          col("b.ts_us") > col("a.ts_us") &&
          col("b.ts_us") <= col("a.ts_us") + lit(300000000L))
        .groupBy(col("a.user_id").as("user_id"))
        .agg(count(lit(1)).as("pairs"))
    }, Some("""
      SELECT a.user_id AS user_id, COUNT(*) AS pairs
      FROM events a JOIN events b ON a.user_id = b.user_id
        AND epoch_us(b.ts) > epoch_us(a.ts)
        AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
      GROUP BY 1 ORDER BY 1""")),

    // ---- AS-OF join (graft.ops.AsOf): each error event attributed to
    // the latest click by the same user at or before it — the
    // point-in-time lookup, in the single-shuffle union+window shape
    // (one shuffle on the key, linear per key) instead of the range
    // join's per-key |L|x|R| blow-up. The oracle mirrors the same
    // union+window construction (DuckDB's native ASOF JOIN exists but
    // pins different tie semantics).
    QueryDef("j_asof_click_error", (s, d) => {
      val e = Tables.events(s, d)
      val errors = e.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts_us")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("click_id"))
      graft.ops.AsOf.asofJoin(errors, clicks, "user_id", "ts_us",
          "click_id", Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
    }, Some("""
      WITH u AS (
        SELECT user_id, epoch_us(ts) AS t, 0 AS side, event_id AS tie,
               event_id AS click_id, NULL::BIGINT AS err_id
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, epoch_us(ts), 1, NULL, NULL, event_id
        FROM events WHERE event_type = 'error'),
      w AS (SELECT err_id, user_id, side,
              LAST_VALUE(click_id IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY t, side, tie
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
            FROM u)
      SELECT err_id AS event_id, user_id,
             COALESCE(click_id, -1) AS click_id
      FROM w WHERE side = 1 ORDER BY event_id""")),

    // ---- SCD Type-2 dimension (graft.ops.Scd) + temporal fact join:
    // login events become a versioned user-profile dimension (version,
    // [valid_from, valid_to) half-open, NULL = current), then each
    // click is joined to the version live at its timestamp. The ENGINE
    // runs the as-of union+window shape (one shuffle on user_id,
    // linear per key); the ORACLE replays the same semantics as the
    // textbook interval-containment join (per-key |facts|x|versions| —
    // correct, but the shape that melts on hot entities at scale).
    // Same-ts duplicate changes get zero-width intervals, which both
    // formulations skip identically (see Scd doc).
    QueryDef("j_scd2_dimension", (s, d) => {
      val e = Tables.events(s, d)
      val dim = graft.ops.Scd.scd2(
        e.filter(col("event_type") === "login")
          .select("user_id", "ts_us", "event_id", "value"),
        "user_id", "ts_us", "event_id")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("__tie"), col("version"),
          round(col("value"), 6).as("profile_value"),
          col("valid_from"), col("valid_to"))
      val facts = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      graft.ops.AsOf.asofJoin(facts, dim, "user_id", "ts_us", "__tie",
          Seq("version", "profile_value", "valid_from", "valid_to"))
    }, Some("""
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
                   value FROM events),
      dim AS (SELECT user_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS BIGINT) AS version,
                round(value, 6) AS profile_value,
                ts_us AS valid_from,
                LEAD(ts_us) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS valid_to
              FROM e WHERE event_type = 'login'),
      facts AS (SELECT event_id, user_id, ts_us FROM e
                WHERE event_type = 'click')
      SELECT f.event_id, f.user_id, f.ts_us, d.version, d.profile_value,
        d.valid_from, d.valid_to
      FROM facts f LEFT JOIN dim d ON f.user_id = d.user_id
        AND f.ts_us >= d.valid_from
        AND (d.valid_to IS NULL OR f.ts_us < d.valid_to)
      ORDER BY f.event_id""")),

    // ---- Salted equi-join (graft.ops.Skew): the hot-key defense —
    // probe rows spread across 8 salts, build side replicated 8x, so a
    // skewed key fans out over 8 tasks instead of sinking one. Salting
    // changes only the partitioning, never the result, so the oracle is
    // the plain join.
    QueryDef("j_salted_join", (s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id")
      val perUser = t(s, d, "orders")
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n_orders"))
      graft.ops.Skew.saltedJoin(ev, perUser, Seq("user_id"),
          col("event_id"), 8)
        .select("event_id", "user_id", "n_orders")
    }, Some("""
      SELECT e.event_id, e.user_id, c.n_orders
      FROM events e JOIN (
        SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1) c USING (user_id)
      ORDER BY e.event_id""")),

    // ---- J6: transitive redirect resolution to fixpoint — iterated
    // self-join in the driver loop (ref collapses a→b→c one hop at a time,
    // sift/corpora/wikipedia.py:49-66; we iterate to convergence with a
    // bounded loop; each hop halves the remaining chain length so 6 rounds
    // cover chains up to 2^6 long).
    QueryDef("j6_redirect_fixpoint", (s, d) => {
      import s.implicits._
      val chains = Seq(
        "a" -> "b", "b" -> "c", "c" -> "d", "d" -> "final",
        "p" -> "q", "solo" -> "target", "m" -> "n", "n" -> "final")
      var r = chains.toDF("src", "dst")
      for (_ <- 1 to 6) {
        val nxt = r.as("l")
          .join(r.select(col("src").as("s2"), col("dst").as("d2")).as("r"),
            col("l.dst") === col("s2"), "left_outer")
          .select(col("l.src").as("src"),
            coalesce(col("d2"), col("l.dst")).as("dst"))
        r = nxt.pin(eager = true) // keep the loop's lineage flat
      }
      r
    }, Some("""
      WITH RECURSIVE pairs(src, dst) AS (
        VALUES ('a','b'),('b','c'),('c','d'),('d','final'),
               ('p','q'),('solo','target'),('m','n'),('n','final')),
      chase(src, dst, depth) AS (
        SELECT src, dst, 1 FROM pairs
        UNION ALL
        SELECT c.src, p.dst, c.depth + 1
        FROM chase c JOIN pairs p ON c.dst = p.src WHERE c.depth < 10)
      SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER
          (PARTITION BY src ORDER BY depth DESC) rn FROM chase)
      WHERE rn = 1 ORDER BY src""")),

    // ---- J7+W1: broadcast vocab lookup with OOV default (ref
    // sift/models/text.py:92-96: driver-broadcast dict; here a broadcast
    // hash join that never shuffles the big exploded-words side). The
    // global vocab rank uses the two-phase ordinal (graft.ops.Rank) — no
    // single-partition window anywhere in the plan.
    QueryDef("j7_vocab_oov_broadcast", (s, d) => {
      val words = t(s, d, "documents").select(
        explode(expr(graft.ops.Hashing.tokens()))
          .as("w"))
      val byCount = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      val vocab = graft.ops.Rank
        .globalOrdinal(byCount, Seq(desc("cnt"), asc("w")), "rank")
        .filter(col("rank") < 50).select("w", "rank")
      words.join(broadcast(vocab), Seq("w"), "left_outer")
        .select(coalesce(col("rank"), lit(50)).as("rank"))
        .groupBy("rank").agg(count(lit(1)).as("n"))
    }, Some(s"""
      WITH words AS (
        SELECT unnest($duckTokensSql) AS w
        FROM documents),
      vocab AS (
        SELECT w, rank FROM (
          SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) - 1 AS rank
          FROM words GROUP BY w) WHERE rank < 50)
      SELECT COALESCE(v.rank, 50) AS rank, COUNT(*) AS n
      FROM words LEFT JOIN vocab v USING (w) GROUP BY 1 ORDER BY 1""")),

    // ---- CUBE + GROUPING().
    QueryDef("agg_cube", (s, d) => {
      t(s, d, "customer")
        .cube("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"),
          grouping(col("c_mktsegment")).cast("long").as("g_seg"),
          grouping(col("c_nationkey")).cast("long").as("g_nat"))
    }, Some("""
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS bal,
        CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
        CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nat
      FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
      ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""")),

    // ---- ROLLUP over a derived time hierarchy.
    QueryDef("agg_rollup", (s, d) => {
      t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("oy"),
          col("o_orderstatus"), col("o_totalprice"))
        .rollup("oy", "o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }, Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS oy, o_orderstatus,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS total
      FROM orders GROUP BY ROLLUP (oy, o_orderstatus)
      ORDER BY oy NULLS FIRST, o_orderstatus NULLS FIRST""")),

    // ---- GROUPING SETS via the SQL entry point.
    QueryDef("agg_grouping_sets", (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }, Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority))
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- exact COUNT(DISTINCT) (expand-based in Spark; two aggs here).
    QueryDef("agg_count_distinct", (s, d) => {
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n"))
    }, Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
        COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS n
      FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- KMV distinct sketch (graft.functions.KmvSketch): the 100 TB
    // shape of COUNT(DISTINCT) — a bounded k-minimum-hash buffer that
    // partial-aggregates map-side and merges associatively, vs the exact
    // form's full shuffle of every distinct value. The k smallest
    // distinct hashes are order/partition independent, so DuckDB replays
    // the sketch as DISTINCT..ORDER BY..LIMIT k and the estimator (one
    // double division of exactly-representable values) is bit-identical.
    QueryDef("agg_kmv_distinct", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.ops.Hashing.ensureRegistered(li)
      val k = 256
      li.select(expr(graft.ops.Hashing.md5LongSql(
          "cast(l_partkey as string)")).as("h"))
        .agg(expr(s"graft_kmv(h, $k)").as("ks"))
        .select(size(col("ks")).cast("long").as("n_min"),
          expr("try_element_at(ks, -1)").as("kth"),
          expr(graft.functions.KmvSketch.estimateSql("ks", k)).as("est"))
    }, Some(s"""
      WITH h AS (SELECT DISTINCT
          CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),1,15)) AS BIGINT) AS h
        FROM lineitem),
      mins AS (SELECT h FROM h ORDER BY h LIMIT 256)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_min, MAX(h) AS kth,
        ${KmvSketch.duckEstimate("COUNT(*)", "MAX(h)", 256)} AS est
      FROM mins""")),

    // ---- KMV SET ALGEBRA (Beyer et al. 2007): two sketches from ONE
    // scan (conditional graft_kmv — nulls skip), then union / Jaccard
    // / intersection estimates as pure ARRAY expressions over the two
    // k-row sketches: U = k-min of A ∪ B, ρ = |U ∩ A ∩ B| / |U| ≈
    // Jaccard, |A∪B| from U's kth min, |A∩B| ≈ ρ·|A∪B|. The sketch
    // form of set-overlap profiling between two 100 TB slices —
    // each side compresses to k longs before anything meets.
    QueryDef("agg_kmv_setops", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.ops.Hashing.ensureRegistered(li)
      val k = 256
      li.select(col("l_returnflag"), col("l_linestatus"),
          expr(graft.ops.Hashing.md5LongSql(
            "cast(l_partkey as string)")).as("h"))
        .agg(
          expr(s"graft_kmv(case when l_returnflag = 'R' then h end, $k)")
            .as("a"),
          expr(s"graft_kmv(case when l_linestatus = 'F' then h end, $k)")
            .as("b"))
        .withColumn("u",
          expr(s"slice(array_sort(array_distinct(concat(a, b))), 1, $k)"))
        .withColumn("n_u", size(col("u")).cast("long"))
        .withColumn("union_est",
          expr(graft.functions.KmvSketch.estimateSql("u", k)))
        .withColumn("n_common", expr(
          "cast(size(array_intersect(u, array_intersect(a, b))) as long)"))
        .select(expr("cast(size(a) as long)").as("n_a"),
          expr("cast(size(b) as long)").as("n_b"),
          col("n_u"), col("union_est"),
          round(col("n_common").cast("double") /
            col("n_u").cast("double"), 6).as("jaccard_est"),
          floor(col("n_common").cast("double") /
            col("n_u").cast("double") *
            col("union_est").cast("double")).cast("long").as("inter_est"))
    }, Some(s"""
      WITH ha AS (SELECT DISTINCT
          CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),1,15))
            AS BIGINT) AS h
        FROM lineitem WHERE l_returnflag = 'R'),
      a AS (SELECT h FROM ha ORDER BY h LIMIT 256),
      hb AS (SELECT DISTINCT
          CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),1,15))
            AS BIGINT) AS h
        FROM lineitem WHERE l_linestatus = 'F'),
      b AS (SELECT h FROM hb ORDER BY h LIMIT 256),
      u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
            ORDER BY h LIMIT 256),
      st AS (SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_u,
          (SELECT MAX(h) FROM u) AS kth,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM u
           WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b))
            AS n_common),
      ue AS (SELECT *, ${KmvSketch.duckEstimate("n_u", "kth", 256)}
               AS union_est
             FROM st)
      SELECT n_a, n_b, n_u, union_est,
        round(CAST(n_common AS DOUBLE) / CAST(n_u AS DOUBLE), 6)
          AS jaccard_est,
        CAST(floor(CAST(n_common AS DOUBLE) / CAST(n_u AS DOUBLE) *
          CAST(union_est AS DOUBLE)) AS BIGINT) AS inter_est
      FROM ue""")),

    // ---- HyperLogLog register sketch (graft.functions.HllSketch): the
    // production-standard distinct sketch — m = 2^p registers merging by
    // element-wise MAX (commutative, associative, IDEMPOTENT: an
    // at-least-once pipeline re-processing a shard cannot inflate it).
    // One bounded register row per partition; DuckDB replays the
    // registers as GROUP BY bucket / MAX(rank) and folds the estimator
    // in the same register order (round(,6) absorbs libm ln ulps).
    QueryDef("agg_hll_distinct", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.ops.Hashing.ensureRegistered(li)
      val p = 9; val m = 1 << p
      val alphaM2 = 0.7213 / (1 + 1.079 / m) * m * m
      li.select(expr(graft.ops.Hashing.md5LongSql(
          "cast(l_partkey as string)")).as("h"))
        .agg(expr(s"graft_hll(h, $p)").as("regs"))
        .select(
          expr("cast(size(filter(regs, r -> r = 0)) as bigint)")
            .as("zeros"),
          expr("aggregate(regs, cast(0.0 as double), " +
            "(acc, r) -> acc + power(cast(0.5 as double), r))")
            .as("denom"))
        .select(col("zeros"), round(
          when(lit(alphaM2) / col("denom") <= lit(2.5 * m) &&
              col("zeros") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
            .otherwise(lit(alphaM2) / col("denom")), 6).as("est"))
    }, Some(s"""
      WITH h AS (SELECT CAST(('0x' || substring(md5(
          CAST(l_partkey AS VARCHAR)),1,15)) AS BIGINT) AS h
        FROM lineitem),
      r AS (SELECT h % 512 AS bucket,
              CASE WHEN h // 512 = 0 THEN 52
                   ELSE 52 - length(format('{:b}', h // 512)) END AS rank
            FROM h),
      regs0 AS (SELECT bucket, MAX(rank) AS rank FROM r GROUP BY bucket),
      regs AS (SELECT b.bucket, COALESCE(regs0.rank, 0) AS rank
               FROM (SELECT unnest(range(0, 512)) AS bucket) b
               LEFT JOIN regs0 USING (bucket)),
      arr AS (SELECT list(rank ORDER BY bucket) AS rl FROM regs),
      e AS (SELECT
        CAST(len(list_filter(rl, r -> r = 0)) AS BIGINT) AS zeros,
        ${duckSum("list_transform(rl, r -> pow(CAST(0.5 AS DOUBLE), r))", "a")} AS denom
        FROM arr)
      SELECT zeros,
        round(CASE WHEN CAST('${0.7213 / (1 + 1.079 / 512) * 512 * 512}'
                     AS DOUBLE) / denom <= ${2.5 * 512} AND zeros > 0
              THEN 512.0 * ln(512.0 / zeros)
              ELSE CAST('${0.7213 / (1 + 1.079 / 512) * 512 * 512}'
                     AS DOUBLE) / denom END, 6) AS est
      FROM e""")),

    // ---- Count-Min frequency sketch (graft.functions.CmsSketch): the
    // 100 TB shape of per-key counting — a fixed depth×width counter
    // grid that partial-aggregates map-side and merges by element-wise
    // addition (one bounded row per partition instead of a full key
    // shuffle; shard sketches union losslessly the same way). Row
    // hashes are computed by codegen'd expressions OUTSIDE the
    // aggregate; counter addition commutes, so the grid is partition-
    // independent and DuckDB replays it as one GROUP BY over
    // (row, bucket). Point estimate = min over rows of the key's cell:
    // overcount-only (est >= exact, here checked in-gate).
    QueryDef("agg_cms_counts", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.ops.Hashing.ensureRegistered(li)
      val (depth, width) = (4, 64)
      def rowHashes(key: String) =
        s"transform(sequence(0, ${depth - 1}), i -> " +
          s"graft_md5long(concat(cast(i as string), ':', $key)))"
      val sketch = li
        .select(expr(rowHashes("cast(l_suppkey as string)")).as("hs"))
        .agg(expr(s"graft_cms(hs, $width)").as("cms"))
      val exact = li.filter(col("l_suppkey") <= 20)
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_exact"))
      exact.join(broadcast(sketch))
        .select(col("l_suppkey"),
          expr(s"array_min(transform(sequence(0, ${depth - 1}), i -> " +
            s"element_at(cms, cast(i * $width + pmod(graft_md5long(" +
            "concat(cast(i as string), ':', cast(l_suppkey as string)))" +
            s", $width) + 1 as int))))").as("est"),
          col("n_exact"),
          (expr(s"array_min(transform(sequence(0, ${depth - 1}), i -> " +
            s"element_at(cms, cast(i * $width + pmod(graft_md5long(" +
            "concat(cast(i as string), ':', cast(l_suppkey as string)))" +
            s", $width) + 1 as int))))") >= col("n_exact"))
            .as("overcount_only"))
    }, Some("""
      WITH cells AS (
        SELECT ii.i,
          CAST(('0x' || substring(md5(CAST(ii.i AS VARCHAR) || ':' ||
            CAST(l_suppkey AS VARCHAR)),1,15)) AS BIGINT) % 64 AS j,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ii
        GROUP BY 1, 2),
      exact AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM lineitem WHERE l_suppkey <= 20 GROUP BY 1),
      est AS (
        SELECT e.l_suppkey, MIN(c.c) AS est
        FROM exact e CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ii
        JOIN cells c ON c.i = ii.i
          AND c.j = CAST(('0x' || substring(md5(CAST(ii.i AS VARCHAR) ||
            ':' || CAST(e.l_suppkey AS VARCHAR)),1,15)) AS BIGINT) % 64
        GROUP BY 1)
      SELECT e.l_suppkey, est, n_exact, est >= n_exact AS overcount_only
      FROM exact e JOIN est USING (l_suppkey)
      ORDER BY l_suppkey""")),

    // ---- min/max/avg/variance written as explicit decimal-exact algebra
    // so both engines produce bit-identical doubles.
    QueryDef("agg_stats_variance", (s, d) => {
      t(s, d, "lineitem").groupBy("l_linestatus")
        .agg(
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          // the 17+-digit x² decimal sum is not exactly representable in
          // a double, and the two engines' decimal→double casts can land
          // one ulp apart — a DECIMAL(30,2)-string output absorbs that
          ((sum((col("l_extendedprice") * col("l_extendedprice"))
              .cast(DecimalType(30, 4))).cast("double")
            - sum(col("l_extendedprice").cast(DecimalType(20, 2)))
              .cast("double")
              * sum(col("l_extendedprice").cast(DecimalType(20, 2)))
                .cast("double") / count(lit(1)))
            / (count(lit(1)) - lit(1)))
            .cast(DecimalType(30, 2)).cast("string").as("var_price"))
    }, Some("""
      SELECT l_linestatus,
        MIN(l_extendedprice) AS min_price,
        MAX(l_extendedprice) AS max_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(CAST(
          (CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
            - CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1)
          AS DECIMAL(30,2)) AS VARCHAR) AS var_price
      FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- A2: two-level count map (ref groupByKey().mapValues(Counter),
    // sift/models/links.py:61-69) — rewritten as two hash aggregations so
    // map-side partial agg applies; emitted as a sorted entries array,
    // JSON-serialized at the query boundary (the gate's compare handles
    // scalar columns only — nested arrays are an internal representation).
    QueryDef("a2_countmap_entries", (s, d) => {
      t(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("count"))
        .groupBy("lang")
        .agg(to_json(sort_array(collect_list(
            struct(col("source"), col("count"))))).as("per_source"),
          sum(col("count")).as("total"))
    }, Some("""
      WITH g AS (SELECT lang, source, COUNT(*) AS count FROM documents
                 GROUP BY 1, 2)
      SELECT lang,
        to_json(list_sort(list(struct_pack(source := source,
                                           count := count))))::VARCHAR
          AS per_source,
        CAST(SUM(count) AS BIGINT) AS total
      FROM g GROUP BY lang ORDER BY lang""")),

    // ---- A4: group-to-list with deterministic ordering.
    QueryDef("a4_collect_sorted", (s, d) => {
      t(s, d, "lineitem").groupBy("l_orderkey")
        .agg(to_json(sort_array(collect_list(col("l_partkey"))))
          .as("parts"))
    }, Some("""
      SELECT l_orderkey, to_json(list_sort(list(l_partkey)))::VARCHAR
        AS parts
      FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- A5: distinct.
    QueryDef("a5_distinct_pairs", (s, d) => {
      t(s, d, "orders").select("o_orderstatus", "o_orderpriority")
        .distinct()
    }, Some("""
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY 1, 2""")),

    // ---- A6: per-row distinct (ref first-seen set guard,
    // sift/models/links.py:193-201), canonicalized by sort.
    QueryDef("a6_doc_vocab", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        to_json(array_sort(array_distinct(
          expr(graft.ops.Hashing.tokens()))))
          .as("vocab"))
    }, Some(s"""
      SELECT doc_id,
        to_json(list_sort(list_distinct(
          $duckTokensSql)))::VARCHAR
          AS vocab
      FROM documents ORDER BY doc_id""")),

    // ---- A7: whole-corpus scalar stats.
    QueryDef("a7_corpus_stats", (s, d) => {
      t(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    }, Some("""
      SELECT COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM documents""")),

    // ---- A8: fold over an array column (higher-order aggregate).
    QueryDef("a8_array_fold", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        aggregate(
          transform(split(col("text"), " "), w => length(w).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sum_word_lens"))
    }, Some("""
      SELECT doc_id,
        CAST(list_reduce(
          list_prepend(0, list_transform(string_split(text, ' '),
                          w -> CAST(length(w) AS BIGINT))),
          (acc, x) -> acc + x) AS BIGINT) AS sum_word_lens
      FROM documents ORDER BY doc_id""")),

    // ---- A9: L2 normalization of embedding vectors (ref numpy norm,
    // sift/models/text.py:196-199) as pure column expressions. The fold
    // order of the sum-of-squares is left-to-right in both engines, so the
    // doubles are bit-identical; components surface as fixed-point
    // DECIMAL(10,6) strings inside JSON (deterministic representation —
    // raw double→string shortest-repr formatting differs across engines).
    QueryDef("a9_l2_normalize", (s, d) => {
      // norm hoisted into its own projection: lambdas get no common-
      // subexpression elimination, so inlining it would re-fold the
      // whole vector per element (O(d²) per row)
      val v = transform(col("embedding"), x => x.cast("double"))
      t(s, d, "embeddings")
        .select(col("vec_id"), v.as("vd"))
        .select(col("vec_id"), col("vd"),
          sqrt(aggregate(col("vd"), lit(0.0), (a, x) => a + x * x)).as("n"))
        .select(col("vec_id"),
          to_json(transform(col("vd"), x =>
            (x / col("n")).cast(DecimalType(10, 6)).cast("string")))
            .as("unit"))
    }, Some {
      val sumSq = duckSum("list_transform(embedding, " +
        "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))", "a", "b")
      s"""
      SELECT vec_id,
        to_json(list_transform(
          list_transform(embedding, y -> CAST(y AS DOUBLE)),
          x -> CAST(CAST(x / sqrt($sumSq) AS DECIMAL(10,6)) AS VARCHAR)))::VARCHAR
          AS unit
      FROM embeddings ORDER BY vec_id"""
    }),

    // ---- ranking window functions.
    QueryDef("w_rank_funcs", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
        lead(col("o_orderkey"), 1).over(w).as("next_ok"))
    }, Some("""
      SELECT o_orderkey, o_custkey,
        CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        CAST(RANK() OVER w AS BIGINT) AS rnk,
        CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        LAG(o_orderkey, 1) OVER w AS prev_ok,
        LEAD(o_orderkey, 1) OVER w AS next_ok
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey""")),

    // ---- ROWS frames: running decimal-exact sum + sliding min.
    QueryDef("w_frames_running", (s, d) => {
      // l_linenumber is not unique within an order in this dataset; ROWS
      // frames need a total order, so break ties on the value columns.
      val w = Window.partitionBy("l_orderkey").orderBy(
        col("l_linenumber"), col("l_extendedprice"), col("l_quantity"),
        col("l_partkey"), col("l_suppkey"))
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast(DecimalType(20, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_qty"),
        min(col("l_extendedprice"))
          .over(w.rowsBetween(-1, 1)).as("min3_price"))
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) OVER w AS DOUBLE)
          AS run_qty,
        MIN(l_extendedprice) OVER
          (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_extendedprice, l_quantity, l_partkey,
                    l_suppkey
           ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS min3_price
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_extendedprice, l_quantity, l_partkey,
                 l_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- RANGE frame over a numeric (day-offset) ordering column.
    QueryDef("w_range_frame", (s, d) => {
      val days = datediff(col("o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long")
      val w = Window.partitionBy("o_custkey").orderBy(col("d"))
        .rangeBetween(-90, 0)
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          days.as("d"))
        .withColumn("n_last_90d", count(lit(1)).over(w))
    }, Some("""
      SELECT o_orderkey, o_custkey,
        datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
        COUNT(*) OVER (PARTITION BY o_custkey ORDER BY
          datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
          RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS n_last_90d
      FROM orders ORDER BY o_orderkey""")),

    // ---- Batch SESSIONIZATION: gap-based session assignment over the
    // event stream (the batch twin of the streaming session windows in
    // st_session_counts). Per-user lag → new-session flag → running sum
    // = session ordinal → per-session rollup. Every window partitions
    // by user_id — per-key state only, no global sort, the shape that
    // scales to 100 TB of clickstream. Ties on ts broken by event_id so
    // both engines sweep identically.
    QueryDef("w_sessionize", (s, d) => {
      val gapUs = 600000000L // 10 min
      val e = Tables.events(s, d).select("user_id", "event_id", "ts_us")
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      e.withColumn("prev", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull ||
            col("ts_us") - col("prev") > gapUs, 1L).otherwise(0L))
        .withColumn("session_seq", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
                 FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1
               ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      sessions AS (
        SELECT user_id, ts_us,
          CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us,
            event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM flagged)
      SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
        MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- Latest-snapshot dedup: for repeatedly-crawled keys keep only
    // the newest observation (the incremental-crawl recency rule —
    // monthly WARC snapshots of the same URL collapse to the latest).
    // row_number over (key ORDER BY ts DESC, id DESC) = 1: one shuffle
    // on the key, per-key state only. Key stand-in: (user_id,
    // event_type); recency tie broken by event_id.
    QueryDef("d_latest_snapshot", (s, d) => {
      val e = Tables.events(s, d)
        .select("user_id", "event_type", "event_id", "ts_us", "value")
      val byKey = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(byKey))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts_us"), round(col("value"), 6).as("value"))
    }, Some("""
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        round(value, 6) AS value
      FROM events
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
      ORDER BY user_id, event_type""")),

    // ---- W1: global ordinal vocabulary rank + rank-band filter (ref
    // zipWithIndex ranking, sift/models/text.py:135-147) via the two-phase
    // partition-rank + broadcast-offset merge in graft.ops.Rank — scales
    // past the single-partition-window vocab-cardinality limit.
    QueryDef("w1_vocab_rank_band", (s, d) => {
      val words = t(s, d, "documents").select(
        explode(expr(graft.ops.Hashing.tokens()))
          .as("w"))
      val byCount = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      graft.ops.Rank
        .globalOrdinal(byCount, Seq(desc("cnt"), asc("w")), "rank")
        .filter(col("rank") >= 5 && col("rank") < 30)
        .select("w", "cnt", "rank")
    }, Some(s"""
      WITH words AS (
        SELECT unnest($duckTokensSql) AS w
        FROM documents),
      ranked AS (
        SELECT w, COUNT(*) AS cnt,
          CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS BIGINT) - 1
            AS rank
        FROM words GROUP BY w)
      SELECT w, cnt, rank FROM ranked
      WHERE rank >= 5 AND rank < 30 ORDER BY rank""")),

    // ---- EXACT distributed quantiles (graft.ops.Rank.exactQuantiles):
    // discrete quantile at ceil(q*N) via the two-phase global ordinal —
    // no percentile_approx error bars, no single-task sort, N carried as
    // a broadcast 1-row frame. The q*N product is exact DECIMAL in both
    // engines (an IEEE-double product would off-by-one some (q, N),
    // e.g. ceil(fl(0.07*100)) = 8).
    // ---- Column PROFILING (graft.ops.Profile): per-column row/null/
    // distinct counts + min/max in ONE pass — every metric is a
    // partial-aggregatable expression in a single wide aggregate
    // (profiling N columns costs one scan, never N), unpivoted to one
    // row per column. Distinct is exact here for oracle-exactness; the
    // KMV/HLL sketch aggregates are the same-plan-shape swap at scale.
    QueryDef("q_profile_lineitem", (s, d) => {
      graft.ops.Profile.profile(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
            "l_linestatus"))
    }, Some {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s,
           |  CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus").map(one).mkString("", "\nUNION ALL\n",
        "\nORDER BY \"column\"")
    }),

    // ---- SKETCH-mode profiling (graft.ops.Profile.profileSketch): the
    // scalable twin of q_profile_lineitem. Exact countDistinct over N
    // columns Catalyst-plans as an N× row Expand + a shuffle of every
    // distinct value — the first thing an ingest hits at 100×. Here
    // each column's distinct state is a bounded KMV buffer inside the
    // SAME single-scan wide aggregate; the gate asserts in-plan that no
    // Expand exists. The KMV k-minimum hash set is order/partition
    // independent, so DuckDB replays each column's estimator
    // bit-for-bit (DISTINCT..ORDER BY..LIMIT k, as agg_kmv_distinct).
    QueryDef("q_profile_sketch", (s, d) => {
      val out = graft.ops.Profile.profileSketch(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
            "l_linestatus"))
        .orderBy("column")
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("Expand"),
        s"sketch profile must not Expand; got plan:\n$plan")
      out
    }, Some {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  (SELECT ${KmvSketch.duckEstimate("COUNT(*)", "MAX(h)", 256)}
           |   FROM (SELECT DISTINCT CAST(('0x' || substring(
           |           md5(CAST($c AS VARCHAR)),1,15)) AS BIGINT) AS h
           |         FROM lineitem WHERE $c IS NOT NULL
           |         ORDER BY h LIMIT 256) mins) AS nd_est,
           |  CAST(MIN($c) AS VARCHAR) AS min_s,
           |  CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus").map(one).mkString("", "\nUNION ALL\n",
        "\nORDER BY \"column\"")
    }),

    // ---- Declarative DATA-QUALITY constraint suite (graft.ops.Quality,
    // the validation gate an ingest pipeline runs before publishing a
    // table — constraint-suite pattern from the public Deequ paper,
    // Schelter et al. VLDB 2018). Scale contract: ALL row-local checks
    // (completeness / range / accepted / row-count) fuse into ONE
    // aggregate over ONE scan however many there are; each uniqueness
    // check is one hash groupBy; each referential check one broadcast
    // anti-join. Output is one row per check — checks never move data
    // to the driver. Mixed pass/fail on purpose: metrics are values,
    // not assertions.
    QueryDef("q_quality_suite", (s, d) => {
      import graft.ops.Quality
      import graft.ops.Quality._
      Quality.run(t(s, d, "orders"), Seq(
        Completeness("o_custkey"),
        InRange("o_totalprice", 0d, 1000000d),
        InRange("o_totalprice", 0d, 1000d), // deliberately failing
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        RowCount(atLeast = 1L),
        Unique(Seq("o_orderkey")),
        Unique(Seq("o_custkey")), // deliberately failing: many orders/cust
        RefIntegrity("o_custkey", t(s, d, "customer"), "c_custkey")
      ))
    }, Some("""
      SELECT * FROM (
        SELECT 'completeness:o_custkey' AS check_name,
          round(avg(CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END), 9)
            AS metric,
          round(avg(CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END), 9)
            >= 1.0 AS passed
        FROM orders
        UNION ALL
        SELECT 'in_range:o_totalprice',
          CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
            OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS DOUBLE),
          SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
            OR o_totalprice > 1000000 THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'in_range:o_totalprice',
          CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
            OR o_totalprice > 1000 THEN 1 ELSE 0 END) AS DOUBLE),
          SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
            OR o_totalprice > 1000 THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'accepted:o_orderstatus',
          CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
            THEN 1 ELSE 0 END) AS DOUBLE),
          SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
            THEN 1 ELSE 0 END) = 0
        FROM orders
        UNION ALL
        SELECT 'row_count', CAST(COUNT(*) AS DOUBLE),
          COUNT(*) >= 1 FROM orders
        UNION ALL
        SELECT 'unique:o_orderkey',
          CAST(COUNT(*) FILTER (n > 1) AS DOUBLE),
          COUNT(*) FILTER (n > 1) = 0
        FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'unique:o_custkey',
          CAST(COUNT(*) FILTER (n > 1) AS DOUBLE),
          COUNT(*) FILTER (n > 1) = 0
        FROM (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'ref_integrity:o_custkey',
          CAST(SUM(CASE WHEN orphan THEN 1 ELSE 0 END) AS DOUBLE),
          SUM(CASE WHEN orphan THEN 1 ELSE 0 END) = 0
        FROM (SELECT o.o_custkey IS NULL OR c.c_custkey IS NULL AS orphan
              FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey
                FROM customer) c ON o.o_custkey = c.c_custkey)
      ) ORDER BY check_name, metric""")),

    // ---- Per-GROUP exact quantiles: value at ceil(q·n_g) within each
    // group via a group-partitioned window (per-key state only — the
    // per-domain/per-language summary-stats shape; the GLOBAL scalable
    // form is a_exact_quantiles via the two-phase ordinal). q·n is
    // decimal-exact in both engines; the value at a fixed rank is
    // deterministic even under ties.
    QueryDef("a_group_quantiles", (s, d) => {
      val wOrd = Window.partitionBy("l_linestatus").orderBy("l_quantity")
      val wAll = Window.partitionBy("l_linestatus")
      def atQ(q: String, name: String) =
        max(when(col("rn") ===
          expr(s"ceil(cast($q as decimal(4,2)) * n)"),
          col("l_quantity"))).as(name)
      t(s, d, "lineitem").select("l_linestatus", "l_quantity")
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy("l_linestatus")
        .agg(atQ("0.25", "q25"), atQ("0.50", "q50"),
          atQ("0.75", "q75"), atQ("0.95", "q95"))
    }, Some("""
      WITH r AS (SELECT l_linestatus, l_quantity,
        ROW_NUMBER() OVER (PARTITION BY l_linestatus
          ORDER BY l_quantity) AS rn,
        COUNT(*) OVER (PARTITION BY l_linestatus) AS n
        FROM lineitem)
      SELECT l_linestatus,
        MAX(CASE WHEN rn = ceil(0.25 * n) THEN l_quantity END) AS q25,
        MAX(CASE WHEN rn = ceil(0.50 * n) THEN l_quantity END) AS q50,
        MAX(CASE WHEN rn = ceil(0.75 * n) THEN l_quantity END) AS q75,
        MAX(CASE WHEN rn = ceil(0.95 * n) THEN l_quantity END) AS q95
      FROM r GROUP BY 1 ORDER BY 1""")),

    QueryDef("a_exact_quantiles", (s, d) => {
      graft.ops.Rank.exactQuantiles(
        t(s, d, "lineitem")
          .select("l_extendedprice", "l_orderkey", "l_linenumber"),
        "l_extendedprice",
        Seq(asc("l_orderkey"), asc("l_linenumber")),
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))
    }, Some("""
      WITH o AS (SELECT l_extendedprice, ROW_NUMBER() OVER
                   (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS r
                 FROM lineitem),
      n AS (SELECT COUNT(*) AS n FROM lineitem),
      t AS (SELECT CAST(q AS DOUBLE) AS q,
              CAST(ceil(CAST(q AS DECIMAL(20,10)) * n) AS BIGINT) AS tr
            FROM (VALUES (0.01),(0.25),(0.5),(0.75),(0.99)) qs(q)
            CROSS JOIN n)
      SELECT q, l_extendedprice FROM o JOIN t ON o.r = t.tr
      ORDER BY q""")),

    // ---- SAMPLE-based approximate quantiles (Rank.sampleQuantiles):
    // bottom-k rows by salted content hash (the KMV primitive as a row
    // sampler) → exact quantiles of the k-row sample. The scale twin of
    // a_exact_quantiles: the data is scanned once and TakeOrdered keeps
    // k rows per partition; rank error is ±O(1/√k) at ANY corpus size.
    // Membership is a pure hash function, so DuckDB replays the sample
    // — and therefore the estimate — bit-for-bit.
    QueryDef("a_sample_quantiles", (s, d) => {
      graft.ops.Rank.sampleQuantiles(
        t(s, d, "lineitem")
          .select("l_extendedprice", "l_orderkey", "l_linenumber"),
        "l_extendedprice",
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")),
        Seq(asc("l_orderkey"), asc("l_linenumber")),
        2000, Seq(0.01, 0.25, 0.5, 0.75, 0.99))
    }, Some("""
      WITH samp AS (SELECT l_extendedprice, l_orderkey, l_linenumber,
              CAST(('0x' || substring(md5('squant:' ||
                CAST(l_orderkey AS VARCHAR) || ':' ||
                CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM lineitem
            ORDER BY h, l_orderkey, l_linenumber LIMIT 2000),
      o AS (SELECT l_extendedprice, ROW_NUMBER() OVER
              (ORDER BY l_extendedprice, h, l_orderkey, l_linenumber) AS r
            FROM samp),
      n AS (SELECT COUNT(*) AS n FROM samp),
      t AS (SELECT CAST(q AS DOUBLE) AS q,
              CAST(ceil(CAST(q AS DECIMAL(20,10)) * n) AS BIGINT) AS tr
            FROM (VALUES (0.01),(0.25),(0.5),(0.75),(0.99)) qs(q)
            CROSS JOIN n)
      SELECT q, l_extendedprice FROM o JOIN t ON o.r = t.tr
      ORDER BY q""")),

    // ---- Per-GROUP bounded-state quantiles in ONE aggregate
    // (graft_qsketch — the fifth sketch aggregate, multiset bottom-k
    // merge): each group's k-row (hash,value) sample folds map-side and
    // merges associatively, so per-source/per-language quantiles cost
    // one hash aggregate at any corpus size. Completes the quantile
    // matrix: exact global (a_exact_quantiles), exact per-group
    // (a_group_quantiles, windows the whole table), sampled global
    // (a_sample_quantiles, one TakeOrdered), sampled per-group (here —
    // the only form of the four whose state AND shuffle are bounded
    // per group). The sample is a pure function of the salted hash, so
    // the oracle replays the estimate exactly.
    QueryDef("a_qsketch_group", (s, d) => {
      val li = t(s, d, "lineitem")
      graft.ops.Hashing.ensureRegistered(li)
      def atQ(q: String, name: String) = expr(
        s"element_at(vs, cast(ceil(cast($q as decimal(4,2)) " +
          "* size(vs)) as int))").as(name)
      li.select(col("l_returnflag"),
          graft.ops.Hashing.md5Long(concat(lit("gqs:"),
            col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string"))).as("h"),
          col("l_extendedprice").cast("double").as("v"))
        .groupBy("l_returnflag")
        .agg(expr("graft_qsketch(h, v, 512)").as("vs"))
        .select(col("l_returnflag"),
          size(col("vs")).cast("long").as("n_sample"),
          atQ("0.25", "q25"), atQ("0.50", "q50"),
          atQ("0.75", "q75"), atQ("0.95", "q95"))
    }, Some("""
      WITH hv AS (SELECT l_returnflag,
              CAST(('0x' || substring(md5('gqs:' ||
                CAST(l_orderkey AS VARCHAR) || ':' ||
                CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
              CAST(l_extendedprice AS DOUBLE) AS v
            FROM lineitem),
      r AS (SELECT l_returnflag, v,
              ROW_NUMBER() OVER (PARTITION BY l_returnflag
                ORDER BY h, v) AS rn
            FROM hv),
      samp AS (SELECT l_returnflag, list(v ORDER BY v) AS vs
               FROM r WHERE rn <= 512 GROUP BY 1)
      SELECT l_returnflag, CAST(len(vs) AS BIGINT) AS n_sample,
        vs[CAST(ceil(CAST(0.25 AS DECIMAL(4,2)) * len(vs)) AS INT)] AS q25,
        vs[CAST(ceil(CAST(0.50 AS DECIMAL(4,2)) * len(vs)) AS INT)] AS q50,
        vs[CAST(ceil(CAST(0.75 AS DECIMAL(4,2)) * len(vs)) AS INT)] AS q75,
        vs[CAST(ceil(CAST(0.95 AS DECIMAL(4,2)) * len(vs)) AS INT)] AS q95
      FROM samp ORDER BY l_returnflag""")),

    // ---- O1/O3: tie-broken global top-k.
    QueryDef("o1_topk_parts", (s, d) => {
      t(s, d, "part")
        .orderBy(desc("p_retailprice"), asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(20)
    }, Some("""
      SELECT p_partkey, p_name, p_retailprice FROM part
      ORDER BY p_retailprice DESC, p_partkey LIMIT 20""")),

    // ---- O4: deterministic hash sampling (scales where random sampling
    // can't be oracle-checked: same 1/16 slice on any engine).
    QueryDef("o4_hash_sample", (s, d) => {
      t(s, d, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1)
          === "0")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
      ORDER BY o_orderkey""")),

    // ---- O5: explicit repartitioning (result-invariant; the oracle sees
    // only the aggregate).
    QueryDef("o5_repartition_agg", (s, d) => {
      t(s, d, "lineitem").repartition(8, col("l_suppkey"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
    }, Some("""
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- set ops.
    QueryDef("set_union", (s, d) => {
      tLight(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(tLight(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
    }, Some("""
      SELECT c_nationkey AS k FROM customer
      UNION SELECT s_nationkey FROM supplier ORDER BY k""")),

    QueryDef("set_intersect", (s, d) => {
      tLight(s, d, "customer").select(col("c_nationkey").as("k"))
        .intersect(tLight(s, d, "supplier").select(col("s_nationkey").as("k")))
    }, Some("""
      SELECT c_nationkey AS k FROM customer
      INTERSECT SELECT s_nationkey FROM supplier ORDER BY k""")),

    QueryDef("set_except", (s, d) => {
      tLight(s, d, "customer").select(col("c_nationkey").as("k"))
        .except(tLight(s, d, "supplier").select(col("s_nationkey").as("k")))
    }, Some("""
      SELECT c_nationkey AS k FROM customer
      EXCEPT SELECT s_nationkey FROM supplier ORDER BY k""")),

    // ---- Multiset (bag) set ops — EXCEPT ALL / INTERSECT ALL keep
    // duplicate cardinalities, the form dedup bookkeeping needs.
    QueryDef("set_except_all", (s, d) => {
      tLight(s, d, "customer").select(col("c_nationkey").as("k"))
        .exceptAll(tLight(s, d, "supplier").select(col("s_nationkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
    }, Some("""
      WITH x AS (SELECT c_nationkey AS k FROM customer
                 EXCEPT ALL SELECT s_nationkey FROM supplier)
      SELECT k, COUNT(*) AS n FROM x GROUP BY k ORDER BY k""")),

    QueryDef("set_intersect_all", (s, d) => {
      tLight(s, d, "customer").select(col("c_nationkey").as("k"))
        .intersectAll(
          tLight(s, d, "supplier").select(col("s_nationkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
    }, Some("""
      WITH x AS (SELECT c_nationkey AS k FROM customer
                 INTERSECT ALL SELECT s_nationkey FROM supplier)
      SELECT k, COUNT(*) AS n FROM x GROUP BY k ORDER BY k""")),

    // ---- PIVOT: per-user event counts spread across event-type
    // columns (groupBy().pivot() with an explicit value list — the
    // bounded-schema form that scales; an unlisted pivot would need a
    // distinct-values job first). Oracle = portable CASE-WHEN sums.
    QueryDef("agg_pivot_events", (s, d) => {
      Tables.events(s, d).groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "error"))
        .agg(count(lit(1)))
        // scoped fill: an unscoped na.fill would also rewrite a null
        // grouping key to 0
        .na.fill(0L, Seq("click", "view", "error"))
    }, Some("""
      SELECT user_id,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS view,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- UNPIVOT (melt): wide metric columns to (key, metric, value)
    // rows. Oracle = the UNION ALL expansion.
    QueryDef("f_unpivot_metrics", (s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("double").as("p_size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size")),
          "metric", "value")
    }, Some("""
      SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
      FROM part
      UNION ALL
      SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
      ORDER BY p_partkey, metric""")),

    // ---- Benford first-digit audit (Quality.benford): the forensic
    // screen for fabricated/truncated numerics over l_extendedprice —
    // digit from the DECIMAL(18,2) string rendering (a DOUBLE's string
    // can go scientific and disagree across engines), per-digit share
    // vs the log10(1+1/d) expectation, χ² terms round-6 into DECIMAL
    // before the 8-df total.
    QueryDef("q_benford", (s, d) => {
      graft.ops.Quality.benford(t(s, d, "lineitem"), "l_extendedprice")
    }, Some("""
      WITH dd AS (SELECT regexp_extract(CAST(CAST(abs(l_extendedprice)
               AS DECIMAL(18,2)) AS VARCHAR), '[1-9]', 0) AS digit
             FROM lineitem),
      obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dd
            WHERE digit <> '' GROUP BY 1),
      g AS (SELECT CAST(sp.d AS VARCHAR) AS digit,
              COALESCE(obs.n, CAST(0 AS BIGINT)) AS n
            FROM (SELECT unnest(range(1, 10)) AS d) sp
            LEFT JOIN obs ON CAST(sp.d AS VARCHAR) = obs.digit),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM g),
      tm AS (SELECT digit, n, nn,
               CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)
                 AS DECIMAL(12,9)) AS p_benford
             FROM g CROSS JOIN t),
      tm2 AS (SELECT *,
                CAST(nn AS DOUBLE) * CAST(p_benford AS DOUBLE)
                  AS expected
              FROM tm),
      tm3 AS (SELECT *,
                CAST(round((CAST(n AS DOUBLE) - expected) *
                  (CAST(n AS DOUBLE) - expected) / expected, 6)
                  AS DECIMAL(18,6)) AS chi2_term
              FROM tm2),
      c AS (SELECT round(CAST(SUM(chi2_term) AS DOUBLE), 6) AS chi2
            FROM tm3)
      SELECT CAST(digit AS BIGINT) AS digit, n,
        round(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS share,
        CAST(p_benford AS DOUBLE) AS p_benford,
        CAST(chi2_term AS DOUBLE) AS chi2_term, chi2
      FROM tm3 CROSS JOIN c ORDER BY digit"""))
  )
}
