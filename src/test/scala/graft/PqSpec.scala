package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Pq

/** Product quantization (graft.ops.Pq): code shape, determinism under
  * repartitioning, and ADC ranking quality on separable clusters.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  /** Two well-separated clusters of 8-dim vectors around +10 and -10. */
  private def corpus(n: Int) = {
    val s = spark; import s.implicits._
    (0 until n).map { i =>
      val base = if (i % 2 == 0) 10.0 else -10.0
      (i.toLong, Array.tabulate(8)(j => base + 0.01 * ((i * 7 + j) % 5)))
    }.toDF("vec_id", "embedding")
  }

  test("encode emits m codes per vector, each below the cell count") {
    val (books, asg) = Pq.train(corpus(40), dims = 8, m = 2, k = 4, iters = 2)
    val codes = Pq.encode(asg).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.size === 40)
    assert(codes.values.forall(_.size === 2))
    assert(codes.values.forall(_.forall(c => c >= 0 && c < 4)))
    assert(books.select("sub", "cell").distinct().count() <= 8)
  }

  test("train + ADC are invariant under repartitioning") {
    def run(parts: Int) = {
      val c = corpus(40).repartition(parts)
      val (books, asg) = Pq.train(c, dims = 8, m = 2, k = 4, iters = 2)
      Pq.adcTopK(c.filter(col("vec_id") < 3), books, asg, 8, 2, 4)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }
    assert(run(2).toSeq === run(9).toSeq)
  }

  test("ADC keeps same-cluster vectors ahead of cross-cluster ones") {
    val c = corpus(60)
    val (books, asg) = Pq.train(c, dims = 8, m = 2, k = 4, iters = 2)
    val top = Pq.adcTopK(c.filter(col("vec_id") === 0), books, asg, 8, 2, 10)
      .collect().map(_.getLong(2))
    // query 0 is in the +10 cluster (even ids); all top-10 must be even
    assert(top.forall(_ % 2 === 0), s"cross-cluster leak: ${top.toSeq}")
  }

  test("duplicate candidate pairs take one rank slot each") {
    val s = spark; import s.implicits._
    val c = corpus(40)
    val (books, asg) = Pq.train(c, dims = 8, m = 2, k = 4, iters = 2)
    val q = c.filter(col("vec_id") < 2)
    val cand = Seq(0L, 1L).flatMap(qid => (2L until 12L).map(qid -> _))
      .toDF("query_id", "vec_id")
    def top(candidates: org.apache.spark.sql.DataFrame) =
      Pq.adcTopK(q, books, asg, 8, 2, k = 4, Some(candidates))
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val unique = top(cand)
    assert(unique.size === 8)
    assert(top(cand.union(cand).union(cand.limit(5))) === unique)
  }

  test("train rejects m that does not divide dims") {
    intercept[IllegalArgumentException] {
      Pq.train(corpus(4), dims = 8, m = 3, k = 2, iters = 1)
    }
  }

  test("ivfAdcTopK with full probe equals plain ADC; pruning stays in-cell") {
    val c = corpus(60)
    val cells = graft.ops.Similarity.kmeansCells(c, 2, 2)
    val (books, asg) = Pq.train(c, dims = 8, m = 2, k = 4, iters = 2)
    val q = c.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // probing every cell removes the pruning — must equal plain ADC
    assert(rows(Pq.ivfAdcTopK(q, books, asg, cells, 8, 2, nprobe = 2,
        k = 10)).toSeq ===
      rows(Pq.adcTopK(q, books, asg, 8, 2, k = 10)).toSeq)
    // nprobe=1 returns only vectors from each query's own best cell
    val cellOf = cells.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pruned = Pq.ivfAdcTopK(q, books, asg, cells, 8, 2, nprobe = 1,
      k = 60).collect().map(r => (r.getLong(0), r.getLong(2)))
    // the two planted clusters are separable, so each query's own cell
    // is its nearest probe and every neighbor shares that cell
    assert(pruned.nonEmpty)
    assert(pruned.forall { case (qid, nid) => cellOf(qid) == cellOf(nid) })
  }

  test("ragged and null embeddings fail loudly, not silently") {
    val s = spark; import s.implicits._
    val ragged = Seq((1L, Array(1.0, 2.0, 3.0, 4.0)), (2L, Array(1.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pq.train(ragged, dims = 4, m = 2, k = 2, iters = 1)._2.collect()
    }
    assert(e.getMessage.contains("ragged or null embedding") ||
      Option(e.getCause).exists(
        _.getMessage.contains("ragged or null embedding")))
  }
}
