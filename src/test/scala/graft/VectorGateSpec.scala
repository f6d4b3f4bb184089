package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}

/** Pins the outputs of the vector-search gates (ANN top-k, IVF, PQ,
  * k-means quality metrics and the two gates built on k-means cells)
  * at sf0.001 against `fixtures/vector_gates_sf0.001.tsv`: one line per
  * gate, `name <TAB> rows <TAB> digest`. Each output is canonicalized
  * the way `tools/crosscheck.py` does it — columns sorted by name,
  * doubles rounded to 9 places, rows sorted — so a change to the shared
  * Lloyd loop or top-n step that moves a tie, a seed or a centroid
  * fails here in tier-1, before any oracle run.
  */
class VectorGateSpec extends AnyFunSuite {
  import VectorGateSpec._
  private lazy val spark = SharedSpark.session

  test("the vector-search gates reproduce their pinned sf0.001 digests") {
    val d = SharedSpark.testData()
    val pinned = scala.io.Source.fromFile(Fixture, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t"))
      .map(f => f(0) -> (f(1).toLong, f(2))).toMap
    assert(pinned.keySet == Gates.toSet, "fixture must list every gate")
    val drift = Gates.flatMap { g =>
      val got = digest(SparkEntry.queries(g)(spark, d))
      if (got == pinned(g)) None else Some(s"$g: pinned ${pinned(g)}, got $got")
    }
    assert(drift.isEmpty, drift.mkString("\n  ", "\n  ", ""))
  }

  test("topN breaks score ties on the tie column and keeps a short " +
      "group whole") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 5L, 0.5), (1L, 3L, 0.5), (1L, 9L, 0.9),
      (1L, 4L, 0.1), (2L, 7L, 0.2), (2L, 6L, 0.3))
      .toDF("q", "cell", "score")
    val top2 = Similarity.topN(df, Seq("q"), 2, desc("score"), asc("cell"))
      .select("q", "cell", "rank").as[(Long, Long, Int)].collect().toSet
    // group 1: 0.9 first, then the 0.5 tie goes to the smaller cell (3);
    // group 2 has two rows, both kept
    assert(top2 == Set((1L, 9L, 1), (1L, 3L, 2), (2L, 6L, 1), (2L, 7L, 2)))
    val all = Similarity.topN(df, Seq("q"), 10, desc("score"), asc("cell"))
    assert(all.count() == df.count())
  }

  test("exact ties go to the smaller cell in k-means, PQ and the IVF " +
      "probe; an emptied cell has no centroid row") {
    val s = spark; import s.implicits._
    // six copies of one vector: every seed coincides, so every
    // assignment ties across all cells
    val same = (1L to 6L).map(i => (i, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.kmeansCentroids(same, 3, 2).select("cell")
      .as[Long].collect().toSeq == Seq(0L))
    val (books, asg) = Pq.train(same, 4, 2, 3, 2)
    assert(books.select("sub", "cell").as[(Int, Long)].collect().toSet ==
      Set((0, 0L), (1, 0L)))
    assert(asg.select("cell").distinct().as[Long].collect().toSeq ==
      Seq(0L))
    // cells 0 = {2, 4, 6} and 1 = {1, 3, 5} share one centroid: a
    // one-cell probe searches cell 0 only
    val cells = same.withColumn("cell", col("vec_id") % 2)
    val hits = Similarity.ivfTopK(same.filter(col("vec_id") === 1L), cells,
      "cell", 1, 10).select("neighbor_id").as[Long].collect().toSet
    assert(hits == Set(2L, 4L, 6L))
  }
}

object VectorGateSpec {
  val Fixture = "fixtures/vector_gates_sf0.001.tsv"

  val Gates: Seq[String] = Seq(
    "sim_topk_bruteforce", "sim_knn_classify", "sim_mips_topk",
    "sim_lsh_topk", "sim_mmr_rerank", "sim_recall_eval",
    "sim_label_centroids", "sim_ivf_topk", "sim_ivf_kmeans_topk",
    "sim_davies_bouldin", "sim_silhouette", "sim_pq_topk",
    "sim_pq_persisted", "sim_pq_append", "sim_ivfpq_topk",
    "sim_ivfpq_persisted", "d_semantic_dedup", "o20_curriculum_order")

  // gate outputs are scalar (GateOutputContractSpec)
  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d)
      .setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case o => o.toString
  }

  /** (row count, sha-256 prefix) of the canonicalized output. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns.sorted
    val rows = df.select(names.map(col).toSeq: _*).collect()
      .map(_.toSeq.map(cell).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(names.mkString("|").getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}
