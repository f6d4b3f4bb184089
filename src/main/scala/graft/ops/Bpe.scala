package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair encoding) merge learning — the tokenizer-
  * training half of an LLM data pipeline: learn the `numMerges` highest-
  * count adjacent-symbol merges over the corpus word-frequency table
  * (Sennrich et al. 2016 train on word counts, not the raw stream — the
  * corpus collapses to ~vocab-size rows before any iteration runs).
  *
  * Representation: a word's symbol sequence is a space-delimited string
  * `" a b c "`. Applying a merge is a greedy LEFT-TO-RIGHT fold over
  * the split symbol array with a string accumulator: when the next
  * symbol equals `dst` and the accumulator's last symbol is exactly
  * `src` (tested as `endswith(acc, ' '||src)` — the delimiter pins
  * symbol boundaries), appending `dst` directly fuses the pair; the
  * fused symbol is `src+dst ≠ src`, so it can never re-merge within
  * the same pass. This is canonical Sennrich-2016 greedy application:
  * `" a a a a "` + (a,a) → `[aa, aa]` — an earlier
  * `replace(ss, ' a b ', ' ab ')` form consumed the shared delimiter
  * space and under-merged runs to `[aa, a, a]`. The identical fold
  * runs in DuckDB (`list_reduce` over a `list_prepend('')` sentinel),
  * so an oracle replays every round bit-for-bit. Ties at the argmax
  * break on (count desc, src, dst).
  *
  * Scale shape: per round, ONE distributed pair-count aggregate over
  * the (cached) word table and a 1-row tie-broken argmax; only that
  * single best-pair row ever reaches the driver (the same bounded
  * driver-loop shape as the IVF k-means trainer). The corpus itself is
  * touched once, by the word-count aggregate. Merge application is a
  * pure per-row string expression — no shuffle between rounds.
  */
object Bpe {

  /** One greedy left-to-right merge pass over a ` `-delimited symbol
    * string (see the object doc for why the fold is exact): returns
    * the re-delimited string with a leading space and no trailing one
    * — `trim`+`split` normalizes either shape, so passes chain. */
  private def mergeStep(ss: org.apache.spark.sql.Column, src: String,
      dst: String): org.apache.spark.sql.Column =
    aggregate(split(trim(ss), " "), lit(""),
      (acc, x) => when(x === lit(dst) && endswith(acc, lit(" " + src)),
        concat(acc, lit(dst)))
        .otherwise(concat(acc, lit(" "), x)))

  /** Learn `numMerges` merges; returns (step, src, dst, cnt) with step
    * 1-based in learn order. Stops early if no adjacent pair remains.
    */
  def learnMerges(docs: DataFrame, numMerges: Int): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs
      .select(explode(expr(Hashing.tokensSql)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("ss", concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1 ")))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String,
      String, Long)]()
    try {
      var cur = wc.select(col("cnt"), col("ss"))
      var step = 1
      var done = false
      while (step <= numMerges && !done) {
        val best = cur
          .select(col("cnt"), split(trim(col("ss")), " ").as("syms"))
          .select(col("cnt"),
            slice(col("syms"), lit(1), size(col("syms")) - 1).as("s1"),
            slice(col("syms"), lit(2), size(col("syms")) - 1).as("s2"))
          .select(col("cnt"),
            explode(arrays_zip(col("s1"), col("s2"))).as("p"))
          .groupBy(col("p.s1").as("src"), col("p.s2").as("dst"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(desc("c"), asc("src"), asc("dst"))
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val (src, dst, c) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((step.toLong, src, dst, c))
          cur = cur.withColumn("ss", mergeStep(col("ss"), src, dst))
          step += 1
        }
      }
    } finally wc.unpersist()
    merges.toSeq.toDF("step", "src", "dst", "cnt")
  }

  /** Apply a learned merge chain to a ` `-delimited symbol string, in
    * learn order — each step the same greedy fold the learner used, so
    * encode(text, learnMerges(text)) is exact.
    */
  def applyMerges(ss: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    merges.foldLeft(ss) { case (c, (a, b)) => mergeStep(c, a, b) }

  /** BPE-encode the corpus and return the symbol usage histogram
    * (sym, cnt over token occurrences). Scale shape: the merge chain —
    * a pure per-row expression stack — runs once per DISTINCT word on
    * the word-frequency table, never per occurrence; the histogram
    * weights by word count. Two hash aggregates total.
    */
  def symbolCounts(docs: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    val wc = docs
      .select(explode(expr(Hashing.tokensSql)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("ss", concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1 ")))
    wc.withColumn("bpe", split(trim(applyMerges(col("ss"), merges)), " "))
      .select(explode(col("bpe")).as("sym"), col("cnt"))
      .groupBy("sym").agg(sum(col("cnt")).as("cnt"))
  }

  /** DuckDB twin of the word-count table [[learnMerges]] starts from:
    * `wc(w, cnt)`, then `s0(cnt, ss)` with each word spelled as
    * space-separated symbols.
    */
  private val duckWordSymbols =
    s"""wc AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(${Hashing.duckTokensSql}) AS tok FROM documents) tt
       |  GROUP BY 1),
       |s0 AS (SELECT cnt,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS ss FROM wc)""".stripMargin

  /** DuckDB oracle for [[symbolCounts]] fed by the merges of
    * [[learnMerges]]`(numMerges)`: replays the training rounds, then
    * histograms the final symbol table `s{n}` (which already carries
    * every merge applied in learn order).
    */
  def duckEncodeOracle(numMerges: Int): String = {
    val rounds = (1 to numMerges).map(duckRound).mkString(",\n")
    s"""WITH $duckWordSymbols,
       |$rounds
       |SELECT u AS sym, CAST(SUM(cnt) AS BIGINT) AS cnt
       |FROM (SELECT cnt, unnest(string_split(trim(ss), ' ')) AS u
       |      FROM s$numMerges) h
       |GROUP BY 1 ORDER BY cnt DESC, sym""".stripMargin
  }

  /** DuckDB replay of [[learnMerges]] round `i` (1-based), continuing
    * from CTE `s{i-1}` with columns (cnt, ss): pair counts → tie-broken
    * 1-row argmax `b{i}` → merge applied in `s{i}`.
    */
  def duckRound(i: Int): String =
    s"""p$i AS (SELECT t.s1 AS src, t.s2 AS dst,
       |    CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
       |      j -> {'s1': syms[j], 's2': syms[j + 1]})) AS t
       |    FROM (SELECT cnt, string_split(trim(ss), ' ') AS syms
       |          FROM s${i - 1}) z) y
       |  GROUP BY 1, 2),
       |b$i AS (SELECT src, dst, c FROM p$i
       |  ORDER BY c DESC, src, dst LIMIT 1),
       |s$i AS (SELECT cnt, list_reduce(
       |    list_prepend('', string_split(trim(ss), ' ')),
       |    (acc, x) -> CASE WHEN x = dst AND ends_with(acc, ' ' || src)
       |      THEN acc || dst ELSE acc || ' ' || x END) AS ss
       |  FROM s${i - 1} CROSS JOIN b$i)""".stripMargin

  /** Full DuckDB oracle for [[learnMerges]] over `documents`. */
  def duckOracle(numMerges: Int): String = {
    val rounds = (1 to numMerges).map(duckRound).mkString(",\n")
    val union = (1 to numMerges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, src, dst, c AS cnt " +
        s"FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH $duckWordSymbols,
       |$rounds
       |$union
       |ORDER BY step""".stripMargin
  }
}
