package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Sampling

/** Invariants of the deterministic sampling/splitting family. */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private def docs = spark.read
    .parquet(s"${SharedSpark.testData()}/documents.parquet")

  test("hashSplit is exhaustive, disjoint, and repartition-stable") {
    val split = Sampling.hashSplit(docs, "doc_id", 80, 10)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == docs.count())
    assert(Set("train", "valid", "test").subsetOf(counts.keySet))
    // roughly 80/10/10 on 500 docs
    assert(counts("train") > 350 && counts("train") < 450)
    // identical assignment under a different physical partitioning
    val again = Sampling.hashSplit(docs.repartition(17), "doc_id", 80, 10)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == first)
  }

  test("stratifiedSample keeps listed strata at their rate only") {
    val out = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Seq("en" -> 0), defaultRate = 100)
    assert(out.filter(col("lang") === "en").count() == 0)
    assert(out.count() == docs.filter(col("lang") =!= "en").count())
  }

  test("temperatureSampleSqrt upweights low-resource classes and " +
      "lands near the target") {
    val s = spark; import s.implicits._
    // 9000 'hi' vs 1000 'lo': raw proportions 90/10, sqrt-weights
    // ~75/25 — the low-resource class must keep a HIGHER fraction of
    // itself than the high-resource one
    val df = ((1L to 9000L).map(i => (i, "hi")) ++
      (10001L to 11000L).map(i => (i, "lo"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureSampleSqrt(df, "doc_id", "lang", 2000L)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hiFrac = kept("hi").toDouble / 9000
    val loFrac = kept("lo").toDouble / 1000
    assert(loFrac > hiFrac * 2, s"hi=$hiFrac lo=$loFrac")
    // expected mixture: weights sqrt(9000):sqrt(1000) ~ 3:1 of 2000
    assert(math.abs(kept("hi") - 1500.0) < 150, kept.toString)
    assert(math.abs(kept("lo") - 500.0) < 80, kept.toString)
    // deterministic: same inputs, same keeps
    val again = Sampling.temperatureSampleSqrt(df, "doc_id", "lang", 2000L)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === kept)
  }

  test("heavyHitters finds exactly the planted hot keys with exact " +
      "counts, never the singleton tail") {
    val s = spark; import s.implicits._
    // 'hot' 400/1200 rows (333‰), 'warm' 200 (166‰), 800 singletons.
    // Threshold 100‰ with a 1/4 sample and candMin 10: E[sampled] =
    // 100 (hot) / 50 (warm) >> 10; singletons can never reach 10.
    val rows = (1L to 400L).map(i => (s"occ_h$i", "hot")) ++
      (1L to 200L).map(i => (s"occ_w$i", "warm")) ++
      (1L to 600L).map(i => (s"occ_s$i", s"single_$i"))
    val df = rows.toDF("occ", "key").repartition(7)
    val out = Sampling.heavyHitters(df, "key", col("occ"), 100, 4, 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("hot" -> 400L, "warm" -> 200L), out.toString)
    // partitioning-invariant replay
    val again = Sampling.heavyHitters(df.repartition(3), "key",
      col("occ"), 100, 4, 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("tokenShards: cumulative budget respected, shard ids monotone") {
    val s = spark; import s.implicits._
    val df = (1L to 100L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
    val shards = Sampling.tokenShards(df, "doc_id", "n_tokens", 100L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // 10 docs x 10 tokens fill each 100-token shard exactly
    assert(shards.take(10).forall(_._2 == 0L))
    assert(shards(10)._2 == 1L && shards.last._2 == 9L)
    assert(shards.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("epochShuffle: each epoch is an exact 0..N-1 permutation, " +
    "epochs permute differently, partitioning-invariant") {
    val s = spark; import s.implicits._
    val docs = (1L to 100L).map(i => (i, s"doc$i")).toDF("doc_id", "x")
    val out = graft.ops.Sampling.epochShuffle(docs, "doc_id", 3)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
    assert(out.length === 300)
    for (e <- 0L to 2L) {
      val pos = out.filter(_._1 == e).map(_._3).sorted
      assert(pos.toSeq === (0L until 100L)) // exact permutation
    }
    // different epochs order the corpus differently
    val order0 = out.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq
    val order1 = out.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq
    assert(order0 !== order1)
    // deterministic under repartitioning
    val again = graft.ops.Sampling
      .epochShuffle(docs.repartition(7), "doc_id", 3)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .sortBy(t => (t._1, t._3))
    assert(again.toSeq === out.sortBy(t => (t._1, t._3)).toSeq)
  }
  test("sourceInterleave: midpoint positions spread each source on " +
    "its own uniform grid; global order interleaves proportionally") {
    val s = spark; import s.implicits._
    // x: 2 docs at .25/.75; y: 4 docs at .125/.375/.625/.875
    val docs = Seq((1L, "x"), (2L, "x"), (10L, "y"), (11L, "y"),
      (12L, "y"), (13L, "y")).toDF("doc_id", "source")
    val out = graft.ops.Sampling.sourceInterleave(docs, "doc_id",
      "source").orderBy("pos", "source", "id").collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (0.125, "y", 10L), (0.25, "x", 1L), (0.375, "y", 11L),
      (0.625, "y", 12L), (0.75, "x", 2L), (0.875, "y", 13L)))
  }
}
