package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Pins.PinSyntax

/** Stage-level profile of the ANN gate family (r16 VERDICT item 1:
  * "profile where the time actually is — train vs save vs reload vs
  * ADC"). Each stage is forced eagerly (noop write or a Pins cut)
  * so the lazy chain cannot smear one stage's cost into the next.
  * Numbers are PROFILING ONLY (eager pins change the plan shape); the
  * bench/IsoBench medians stay the graded evidence.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.AnnProfile
  */
object AnnProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def f3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(s"""{"stage":"$name","sec":${f3((System.nanoTime() - t0) / 1e9)}}""")
      Console.flush()
      r
    }
    def force(df: DataFrame): DataFrame = {
      df.write.format("noop").mode("overwrite").save(); df
    }
    val embDims = 64
    val e = graft.queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    println(s"corpus rows: ${e.count()}")

    for (rep <- 1 to 3) {
      println(s"--- rep $rep ---")
      // sim_pq_topk decomposition
      val (books, asg) = graft.ops.Pq.train(e, embDims, 4, 8, 2)
      val b = timed("pq_train_books")(force(books).pin())
      val a = timed("pq_train_asg")(force(asg).pin())
      timed("pq_adc_topk") {
        force(graft.ops.Pq.adcTopK(e.filter(col("vec_id") < 5), b, a,
          embDims, 4, 5))
      }
      timed("pq_encode")(force(graft.ops.Pq.encode(a)))
      // ivf half
      val cells = graft.ops.Similarity.kmeansCells(e, 8, 2)
      val c = timed("ivf_kmeans_cells")(force(cells).pin())
      timed("ivf_adc_topk") {
        force(graft.ops.Pq.ivfAdcTopK(e.filter(col("vec_id") < 5), b, a,
          c, embDims, 4, 2, 5))
      }
      // persisted path
      val p = graft.queries.Scratch.dir("graft_annprof") + "/idx"
      timed("ivfpq_save") {
        graft.ops.AnnIndex.saveIvfPq(b, graft.ops.Pq.encode(a), c, p,
          embDims, 4, 8, 2, 8, 2)
      }
      timed("ivfpq_load_query") {
        val (b2, a2, cellAsg, cents) =
          graft.ops.AnnIndex.loadIvfPq(spark, p, embDims, 4, 8, 2, 8, 2)
        force(graft.ops.Pq.ivfAdcTopKLoaded(e.filter(col("vec_id") < 5),
          b2, a2, cellAsg, cents, embDims, 4, 2, 5))
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
