package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** Grades the production banded-LSH near-dup operator against the
  * all-pairs ground truth (which exists ONLY for this measurement):
  * precision must be exact (verification is an exact cosine), recall must
  * meet the analytic multi-table bound, and the physical plan must be
  * free of nested-loop joins.
  */
class NearDupRecallSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val emb = s"${SharedSpark.testData()}/embeddings.parquet"
  private val threshold = 0.45

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("banded LSH near-dup: exact precision, recall >= analytic bound") {
    val corpus = spark.read.parquet(emb)
    val truth = pairs(Similarity.cosineNearDupPairs(corpus, threshold))
    val found = pairs(Similarity.cosineNearDupPairsLsh(corpus, threshold,
      planesPerTable = 4, nTables = 16))
    assert(truth.nonEmpty, "test corpus must contain near-dup pairs")
    // every reported pair is a true pair (exact verify ⇒ no false positives)
    assert((found -- truth).isEmpty)
    // analytic recall: P(pair found) = 1 − (1 − (1 − θ/π)^b)^L at the
    // threshold angle; pairs above threshold are at least this likely.
    val theta = math.acos(threshold)
    val pTable = math.pow(1 - theta / math.Pi, 4)
    val bound = 1 - math.pow(1 - pTable, 16) // ≈ 0.957 at cos 0.45
    val recall = found.size.toDouble / truth.size
    assert(recall >= bound - 0.15, // small-sample slack on a tiny corpus
      s"recall $recall (${found.size}/${truth.size}) below bound $bound")
  }

  test("banded LSH near-dup plan has no nested-loop join") {
    // the public operator returns a checkpointed frame (block-scan plan);
    // audit the lazy plan it materializes
    val corpus = spark.read.parquet(emb)
    val (lazyPlan, cleanup) =
      Similarity.cosineNearDupPairsLshPlan(corpus, threshold, dims = 64)
    val plan = lazyPlan.queryExecution.executedPlan.toString
    cleanup()
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bucket cap bounds a degenerate identical-vector corpus") {
    // 10k IDENTICAL vectors: every table concentrates every row into one
    // bucket — uncapped, candidate generation materializes ~50M pairs.
    // The cap keeps each bucket's smallest `maxBucket` vec_ids (the same
    // set in every table, so pairs dedup across tables), bounding the
    // blow-up at C(maxBucket, 2) while completing promptly.
    val s = spark; import s.implicits._
    val vec = Seq(1.0f, 0.5f, -0.25f, 0.125f)
    val degenerate = (0L until 10000L).map(i => (i, vec))
      .toDF("vec_id", "embedding")
    val cap = 64
    val got = Similarity.cosineNearDupPairsLsh(degenerate, 0.9,
      planesPerTable = 4, nTables = 2, maxBucket = cap, dims = 4)
    assert(got.count() == cap.toLong * (cap - 1) / 2)
  }

  test("near-dup operator leaves no persisted-Dataset residue") {
    spark.catalog.clearCache()
    val corpus = spark.read.parquet(emb)
    Similarity.cosineNearDupPairsLsh(corpus, threshold, dims = 64).count()
    assert(org.apache.spark.sql.GraftCacheProbe.cacheIsEmpty(spark),
      "cosineNearDupPairsLsh left persisted datasets behind")
  }
}
