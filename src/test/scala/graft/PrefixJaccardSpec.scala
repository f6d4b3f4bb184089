package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Prefix-filtered all-pairs Jaccard (Dedup.jaccardPrefixPairs): exact
  * recall vs the uncapped inverted-index ground truth, hot-shingle
  * behavior, and the decimal prefix-length arithmetic.
  */
class PrefixJaccardSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  private def docsDf(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The prefix-join rows, collected before its cleanup runs. */
  private def prefixRows(d: org.apache.spark.sql.DataFrame, n: Int,
      t: Double) = {
    val (out, cleanup) = Dedup.jaccardPrefixPairs(d, n, t)
    try out.collect() finally cleanup()
  }

  private def prefixPairs(d: org.apache.spark.sql.DataFrame, n: Int,
      t: Double) =
    prefixRows(d, n, t).map(r => (r.getLong(0), r.getLong(1))).toSet

  test("matches the uncapped all-pairs ground truth on a skewed corpus") {
    // d1/d2 are near-dups through RARE shingles; d10..d29 all share the
    // HOT shingle "the quick fox" but are mutually far apart — the
    // exact hazard that makes the uncapped join quadratic and the
    // df-capped variant lose the hot shingle's contribution.
    val hotDocs = (10L until 30L).map(i =>
      i -> s"the quick fox unique$i junk$i filler$i tail$i")
    val d = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta",
      2L -> "alpha beta gamma delta epsilon zeta theta") ++ hotDocs: _*)
    val pref = prefixPairs(d, 3, 0.5)
    val truth = pairsOf(Dedup.jaccardAllPairs(d, 3, 0.5,
      maxShingleDf = Long.MaxValue))
    assert(pref === truth)
    assert(pref.contains((1L, 2L)))
    // hot-shingle-only overlap stays below threshold → no cross pairs
    assert(pref.size === 1)
  }

  test("identical docs and exact-threshold pairs survive (ceil boundary)") {
    // d1 vs d2: 5 shingles each, intersection 4, union 6 → J = 2/3.
    // d3 vs d4: IDENTICAL → J = 1.0, caught even though the prefix at
    // τ=1 is a single shingle. d5 vs d6: J exactly 0.5 must survive
    // a >= cut: shingles {A,B,C,D} vs {A,B} → inter 2, union 4.
    val d = docsDf(
      3L -> "one two three four five",
      4L -> "one two three four five",
      5L -> "p q r s t u",          // shingles: pqr qrs rst stu (4)
      6L -> "p q r s")              // shingles: pqr qrs (2), J = 2/4
    val m = prefixRows(d, 3, 0.5).map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((3L, 4L)) === 1.0)
    assert(m((5L, 6L)) === 0.5)
  }

  test("high threshold prunes candidates that a low one keeps") {
    val d = docsDf(
      1L -> "a b c d e f g",
      2L -> "a b c d e f h")  // J = 4/6 ≈ 0.667
    assert(prefixPairs(d, 3, 0.6) ===
      Set((1L, 2L)))
    assert(prefixPairs(d, 3, 0.7) === Set())
  }

  test("cleanup releases the shingle table the pairs read") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val (out, cleanup) = Dedup.jaccardPrefixPairs(
      docsDf(1L -> "a b c d e f g", 2L -> "a b c d e f h"), 3, 0.6)
    assert(out.count() === 1L)
    assert(!cache.isEmpty, "the shingle table was not persisted")
    cleanup()
    assert(cache.isEmpty, "cleanup left the shingle table cached")
  }
}
