package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Hashing.duckTokensSql

/** Scalar-function and projection/filter coverage (SURVEY.md §2.2, §2.8)
  * plus source/sink round-trips (§2.1). Everything is a codegen'd built-in
  * column expression — no UDFs in any of these paths.
  */
object Functions extends QueryModule {
  import Tables.t

  val defs: Seq[QueryDef] = Seq(
    // ---- P1/P4: projection + compound predicate, pushed to the parquet
    // scan (PushedFilters + pruned ReadSchema).
    QueryDef("p1_project_filter", (s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_returnflag") =!= "A")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem
      WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_returnflag <> 'A'
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- P2/A1: explode (flatMap analog, sift/models/links.py:21) + count.
    QueryDef("p2_explode_wordcount", (s, d) => {
      t(s, d, "documents")
        .select(explode(
          expr(graft.ops.Hashing.tokens())).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
    }, Some(s"""
      SELECT w, COUNT(*) AS n FROM (
        SELECT unnest($duckTokensSql) AS w
        FROM documents)
      GROUP BY w ORDER BY n DESC, w""")),

    // ---- P3/F1/F2: link-target normalization (strip scheme + #fragment;
    // ref sift/utils.py trim_link_subsection/trim_link_protocol) as pure
    // column expressions.
    QueryDef("p3_url_normalize", (s, d) => {
      val url = concat(lit("https://en.wikipedia.org/wiki/"),
        col("p_brand"), lit("#"), col("p_type"))
      t(s, d, "part")
        .select(regexp_replace(substring_index(url, "#", 1),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://", "").as("target"))
        .groupBy("target").agg(count(lit(1)).as("n"))
    }, Some("""
      SELECT regexp_replace(
               split_part('https://en.wikipedia.org/wiki/' || p_brand || '#'
                          || p_type, '#', 1),
               '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS target,
             COUNT(*) AS n
      FROM part GROUP BY 1 ORDER BY 1""")),

    // ---- P6: span substring (anchor-text slicing,
    // sift/models/links.py:53).
    QueryDef("p6_substr_span", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 11, 20).as("span"))
    }, Some("""
      SELECT doc_id, substr(text, 11, 20) AS span FROM documents
      ORDER BY doc_id""")),

    // ---- P7 + string function battery.
    QueryDef("f_string_battery", (s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        length(col("p_name")).cast("long").as("len"),
        substring(col("p_type"), 1, 3).as("pre3"),
        concat_ws("-", col("p_brand"), col("p_type")).as("joined"),
        trim(lit("  pad  ")).as("trimmed"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
        regexp_extract(col("p_brand"), "#([0-9]+)", 1).as("brand_num"),
        substring_index(col("p_type"), " ", 1).as("first_tok"),
        (coalesce(nullif(instr(col("p_name"), "a"), lit(0)), lit(0)))
          .cast("long").as("pos_a"),
        reverse(col("p_brand")).as("rev"),
        col("p_type").startsWith("PROMO").cast("long").as("is_promo"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"))
    }, Some("""
      SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        length(p_name) AS len, substr(p_type, 1, 3) AS pre3,
        concat_ws('-', p_brand, p_type) AS joined,
        trim('  pad  ') AS trimmed,
        regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
        regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
        split_part(p_type, ' ', 1) AS first_tok,
        CAST(COALESCE(NULLIF(strpos(p_name, 'a'), 0), 0) AS BIGINT) AS pos_a,
        reverse(p_brand) AS rev,
        CAST(p_type LIKE 'PROMO%' AS BIGINT) AS is_promo,
        lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded
      FROM part ORDER BY p_partkey""")),

    // ---- math battery. Transcendentals rounded to 6 dp (libm ULP drift
    // across engines); sqrt/abs/floor/ceil/mod are IEEE-exact.
    QueryDef("f_math_battery", (s, d) => {
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("adisc"),
        ceil(col("l_extendedprice")).cast("long").as("ceilp"),
        floor(col("l_extendedprice")).cast("long").as("floorp"),
        sqrt(col("l_quantity")).as("sqrtq"),
        round(log(col("l_extendedprice")), 6).as("lnp"),
        round(exp(col("l_discount")), 6).as("expd"),
        round(log10(col("l_extendedprice")), 6).as("log10p"),
        (col("l_orderkey") % 7).as("mod7"),
        signum(col("l_discount") - 0.05).as("sgn"),
        greatest(col("l_tax"), col("l_discount")).as("gr"),
        least(col("l_tax"), col("l_discount")).as("le"),
        (col("l_quantity") * col("l_quantity")).as("qty2"))
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        abs(l_discount - 0.05) AS adisc,
        CAST(ceil(l_extendedprice) AS BIGINT) AS ceilp,
        CAST(floor(l_extendedprice) AS BIGINT) AS floorp,
        sqrt(l_quantity) AS sqrtq,
        round(ln(l_extendedprice), 6) AS lnp,
        round(exp(l_discount), 6) AS expd,
        round(log10(l_extendedprice), 6) AS log10p,
        l_orderkey % 7 AS mod7,
        CASE WHEN l_discount - 0.05 > 0 THEN 1.0
             WHEN l_discount - 0.05 < 0 THEN -1.0 ELSE 0.0 END AS sgn,
        greatest(l_tax, l_discount) AS gr,
        least(l_tax, l_discount) AS le,
        l_quantity * l_quantity AS qty2
      FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ---- date/time battery (dayofweek normalized to Sunday=0 in both).
    QueryDef("f_date_battery", (s, d) => {
      val o = col("o_orderdate")
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(o).cast("long").as("y"),
        month(o).cast("long").as("m"),
        dayofmonth(o).cast("long").as("dom"),
        quarter(o).cast("long").as("q"),
        (dayofweek(o) - 1).cast("long").as("dow_sun0"),
        dayofyear(o).cast("long").as("doy"),
        date_trunc("month", o).as("month_start"),
        date_add(o, 30).as("plus30"),
        last_day(o).as("eom"),
        date_format(o, "yyyy-MM").as("ym"),
        unix_timestamp(o).as("epoch_s"),
        datediff(o, lit("1995-01-01").cast("date")).cast("long")
          .as("days_since"))
    }, Some("""
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS BIGINT) AS y,
        CAST(month(o_orderdate) AS BIGINT) AS m,
        CAST(day(o_orderdate) AS BIGINT) AS dom,
        CAST(quarter(o_orderdate) AS BIGINT) AS q,
        CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0,
        CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        date_trunc('month', o_orderdate) AS month_start,
        CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        last_day(CAST(o_orderdate AS DATE)) AS eom,
        strftime(o_orderdate, '%Y-%m') AS ym,
        CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
          AS days_since
      FROM orders ORDER BY o_orderkey""")),

    // ---- F16: JSON path extraction + schema-on-read struct parse.
    QueryDef("f_json_events", (s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k_struct"),
        (get_json_object(col("props"), "$.k").cast("long") % 2 === 0)
          .cast("long").as("k_even"))
    }, Some("""
      SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
        CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
             AS BIGINT) AS k_even
      FROM events ORDER BY event_id""")),

    // ---- CASE / NULLIF / COALESCE battery.
    QueryDef("f_case_null", (s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 3000, "low")
          .when(col("c_acctbal") < 7000, "mid")
          .otherwise("high").as("band"),
        coalesce(nullif(col("c_nationkey") % 5, lit(0)), lit(-1))
          .cast("long").as("nk_mod"),
        (col("c_acctbal") <=> col("c_acctbal")).cast("long").as("selfeq"))
    }, Some("""
      SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN 'negative'
             WHEN c_acctbal < 3000 THEN 'low'
             WHEN c_acctbal < 7000 THEN 'mid' ELSE 'high' END AS band,
        CAST(COALESCE(NULLIF(c_nationkey % 5, 0), -1) AS BIGINT) AS nk_mod,
        CAST(c_acctbal IS NOT DISTINCT FROM c_acctbal AS BIGINT) AS selfeq
      FROM customer ORDER BY c_custkey""")),

    // ---- array function battery over tokenized text. Array-typed results
    // are JSON-serialized at the query boundary (the gate's compare handles
    // scalar columns only).
    QueryDef("f_array_battery", (s, d) => {
      val words = expr(graft.ops.Hashing.tokens())
      t(s, d, "documents").select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        to_json(slice(words, 1, 5)).as("first5"),
        array_contains(words, "spark").cast("long").as("has_spark"),
        coalesce(nullif(array_position(words, "the"), lit(0L)), lit(0L))
          .as("pos_the"),
        get(words, lit(2)).as("third"), // 0-based get: 3rd token, null-safe
        array_join(slice(words, 1, 5), " ").as("joined5"),
        to_json(array_sort(array_distinct(words))).as("uniq"),
        to_json(filter(words, w => length(w) > 4)).as("long_words"))
    }, Some(s"""
      WITH w AS (SELECT doc_id,
                   $duckTokensSql AS words
                 FROM documents)
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_words,
        to_json(words[1:5])::VARCHAR AS first5,
        CAST(list_contains(words, 'spark') AS BIGINT) AS has_spark,
        CAST(COALESCE(list_position(words, 'the'), 0) AS BIGINT) AS pos_the,
        words[3] AS third,
        array_to_string(words[1:5], ' ') AS joined5,
        to_json(list_sort(list_distinct(words)))::VARCHAR AS uniq,
        to_json(list_filter(words, x -> length(x) > 4))::VARCHAR
          AS long_words
      FROM w ORDER BY doc_id""")),

    // ---- S1/S6: gzip JSON-lines sink + schema'd scan round-trip (the
    // reference's canonical model format, sift/dataset.py:17-23).
    QueryDef("s1_json_roundtrip", (s, d) => {
      val tmp = Scratch.dir("graft_s1")
      t(s, d, "region").write.mode("overwrite")
        .option("compression", "gzip").json(tmp)
      s.read.schema("r_regionkey INT, r_name STRING").json(tmp)
    }, Some("SELECT r_regionkey, r_name FROM region ORDER BY 1")),

    // ---- S7: TSV sink + scan round-trip (sift/format.py:18-39).
    QueryDef("s7_tsv_roundtrip", (s, d) => {
      val tmp = Scratch.dir("graft_s7")
      t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").option("sep", "\t").csv(tmp)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("sep", "\t").csv(tmp)
    }, Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1")),

    // ---- S9: ORC sink + scan round-trip — the columnar alternative to
    // parquet (same pushdown/pruning contract; Spark's built-in
    // vectorized ORC path). Values round-trip exactly, so the oracle is
    // the source table.
    // ---- Hive-style partitioned layout + partition PRUNING: events
    // written partitionBy(event_type), read back with an event_type
    // predicate — the gate asserts in-plan that the predicate lands in
    // the scan's PartitionFilters (directories never listed, let alone
    // read: at 100 TB this is the difference between scanning one
    // partition and scanning the lake). Oracle replays the same
    // filter+agg over the unpartitioned table.
    QueryDef("s11_partitioned_pruning", (s, d) => {
      val tmp = Scratch.dir("graft_s11")
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "ts_us")
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      val back = s.read.parquet(tmp)
        .filter(col("event_type") === "click")
      val scan = back.queryExecution.executedPlan.toString
      require(
        "PartitionFilters: \\[[^\\]]*event_type[^\\]]*= click[^\\]]*\\]".r
          .findFirstIn(scan).isDefined,
        s"event_type predicate must prune partitions; got plan:\n$scan")
      back.groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"), max(col("ts_us")).as("last_ts"))
    }, Some("""
      SELECT user_id, COUNT(*) AS n_clicks, MAX(epoch_us(ts)) AS last_ts
      FROM events WHERE event_type = 'click'
      GROUP BY 1 ORDER BY 1""")),

    QueryDef("s9_orc_roundtrip", (s, d) => {
      val tmp = Scratch.dir("graft_s9")
      t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
    }, Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1")),

    // ---- S8/F17: Redis RESP protocol encoding as a column expression
    // (sift/format.py:66-77) — key = prefix + id, value = payload field.
    QueryDef("s8_resp_encode", (s, d) => {
      // RESP lengths are UTF-8 BYTE counts (protocol requirement)
      val key = concat(lit("nation:"), col("n_nationkey").cast("string"))
      val value = col("n_name")
      def blen(c: org.apache.spark.sql.Column) =
        length(encode(c, "UTF-8")).cast("string")
      t(s, d, "nation").select(
        col("n_nationkey"),
        concat(lit("*3\r\n$3\r\nSET\r\n$"),
          blen(key), lit("\r\n"), key,
          lit("\r\n$"), blen(value), lit("\r\n"), value,
          lit("\r\n")).as("resp"))
    }, Some("""
      SELECT n_nationkey,
        '*3' || chr(13) || chr(10) || '$3' || chr(13) || chr(10) || 'SET'
          || chr(13) || chr(10)
          || '$' || CAST(octet_length(encode('nation:' || CAST(n_nationkey AS VARCHAR)))
                         AS VARCHAR)
          || chr(13) || chr(10) || 'nation:' || CAST(n_nationkey AS VARCHAR)
          || chr(13) || chr(10)
          || '$' || CAST(octet_length(encode(n_name)) AS VARCHAR)
          || chr(13) || chr(10) || n_name || chr(13) || chr(10) AS resp
      FROM nation ORDER BY n_nationkey""")),

    // ---- S8 + msgpack serializer (ref format.py:60-70: value =
    // base64(msgpack.dumps(str)) — the binary serializer path with the
    // ref's own base64 escape). Document texts span the fixstr/str8/str16
    // headers; both engines frame the UTF-8 byte length big-endian.
    QueryDef("s8_resp_msgpack", (s, d) => {
      val docs = t(s, d, "documents")
      val key = concat(lit("doc:"), col("doc_id").cast("string"))
      val value = graft.sources.Sinks.serializeValue(docs, "text", "msgpack")
      def blen(c: org.apache.spark.sql.Column) =
        length(encode(c, "UTF-8")).cast("string")
      docs.select(col("doc_id"),
        concat(lit("*3\r\n$3\r\nSET\r\n$"),
          blen(key), lit("\r\n"), key,
          lit("\r\n$"), blen(value), lit("\r\n"), value,
          lit("\r\n")).as("resp"))
    }, Some("""
      WITH m AS (SELECT doc_id, encode(text) AS b FROM documents),
      mp AS (SELECT doc_id,
        (CASE WHEN octet_length(b) < 32
                THEN from_hex(lpad(to_hex(160 + octet_length(b)), 2, '0'))
              WHEN octet_length(b) < 256
                THEN from_hex('D9') ||
                     from_hex(lpad(to_hex(octet_length(b)), 2, '0'))
              WHEN octet_length(b) < 65536
                THEN from_hex('DA') ||
                     from_hex(lpad(to_hex(octet_length(b)), 4, '0'))
              ELSE from_hex('DB') ||
                   from_hex(lpad(to_hex(octet_length(b)), 8, '0'))
         END) || b AS mpb
        FROM m),
      v AS (SELECT doc_id, base64(mpb) AS value FROM mp)
      SELECT doc_id,
        '*3' || chr(13) || chr(10) || '$3' || chr(13) || chr(10) || 'SET'
          || chr(13) || chr(10)
          || '$' || CAST(length('doc:' || CAST(doc_id AS VARCHAR)) AS VARCHAR)
          || chr(13) || chr(10) || 'doc:' || CAST(doc_id AS VARCHAR)
          || chr(13) || chr(10)
          || '$' || CAST(length(value) AS VARCHAR)
          || chr(13) || chr(10) || value || chr(13) || chr(10) AS resp
      FROM v ORDER BY doc_id"""))
  )
}
