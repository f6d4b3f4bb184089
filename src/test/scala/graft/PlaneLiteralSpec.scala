package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** The hyperplane-LSH bucket has three computations that MUST agree
  * bit-for-bit: the literal-weight hot path (Similarity.withBucketArray),
  * the md5-per-row SQL form (hyperplaneBucketSql below — the DuckDB
  * twin's shape), and the driver-side planeWeight constants. All three round the
  * weight (m % 2001 − 1000) / 1000 to a double BEFORE multiplying by the
  * coordinate; a left-assoc (x·(m−1000))/1000 can differ by one ulp and
  * flip a sign bit on a projection straddling zero.
  */
class PlaneLiteralSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val emb = s"${SharedSpark.testData()}/embeddings.parquet"

  /** Signed-random-projection (hyperplane) LSH bucket id in the
    * md5-per-row form: bit p of the bucket = sign of ⟨v, w_p⟩ where
    * w_p[j] = (md5Long(p ‖ ',' ‖ j) mod 2001 − 1000) / 1000 — the
    * reference the literal-weight path is proven against.
    */
  private def hyperplaneBucketSql(vec: String, nPlanes: Int,
      planeOffset: String): String = {
    // the weight is parenthesized so it rounds to a double BEFORE the
    // multiply — identical to the precomputed planeWeight literal and
    // the DuckDB twin (left-assoc (x*(m-1000))/1000.0 could differ by an
    // ulp and flip a bucket bit on a projection straddling 0)
    val proj = s"aggregate(zip_with($vec, sequence(0, size($vec) - 1), " +
      s"(x, j) -> cast(x as double) * (((${graft.ops.Hashing.md5LongSql(s"concat(cast(($planeOffset) + p as string), ',', cast(j as string))")} % 2001) - 1000) / 1000.0)), " +
      s"cast(0.0 as double), (acc, v) -> acc + v)"
    s"aggregate(transform(sequence(0, ${nPlanes - 1}), p -> " +
      s"case when ($proj) >= 0 then shiftleft(cast(1 as bigint), p) else cast(0 as bigint) end), " +
      s"cast(0 as bigint), (acc, v) -> acc + v)"
  }

  test("literal-weight buckets are bit-identical to the md5-per-row form") {
    val corpus = spark.read.parquet(emb)
    graft.functions.GraftFunctions.registerAll(spark)
    val b = 4; val l = 3
    val sqlForm = corpus.select(col("vec_id"), expr(
      s"transform(sequence(0, ${l - 1}), tt -> " +
        hyperplaneBucketSql("embedding", b, s"tt * $b") + ")")
      .as("bk"))
    val litForm = Similarity.withBucketArray(corpus, "embedding", b, l, "bk")
      .select(col("vec_id"), col("bk"))
    assert(sqlForm.exceptAll(litForm).isEmpty &&
      litForm.exceptAll(sqlForm).isEmpty)
  }

  test("SQL-form weights equal planeWeight exactly (rounding order)") {
    graft.functions.GraftFunctions.registerAll(spark)
    // evaluate the SQL weight sub-expression for a grid of (p, j) and
    // compare against the driver-side constant — any grouping drift in
    // hyperplaneBucketSql or its DuckDB twin shows up here as an ulp gap
    val rows = spark.range(0, 64).selectExpr("cast(id div 8 as int) as p",
        "cast(id % 8 as int) as j")
      .selectExpr("p", "j",
        // the bare weight is DECIMAL (exact division by the 1000.0
        // decimal literal); the bucket lambda coerces it to double at
        // the multiply — replicate that coercion here
        s"cast((((${graft.ops.Hashing.md5LongSql("concat(cast(p as string), ',', cast(j as string))")} % 2001) - 1000) / 1000.0) as double) as w")
      .collect()
    rows.foreach { r =>
      val (p, j, w) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      assert(w == Similarity.planeWeight(p, j),
        s"weight mismatch at p=$p j=$j")
    }
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ messages(e.getCause))

  test("a ragged embedding column raises instead of zero-folding") {
    val ragged = spark.createDataFrame(Seq(
      (1L, Seq(0.1f, 0.2f, 0.3f)),
      (2L, Seq(0.1f, 0.2f, 0.3f, 0.4f))
    )).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.withBucketArray(ragged, "embedding", 4, 1, "bk")
        .collect()
    }
    assert(messages(ex).exists(_.contains("ragged or null embedding")),
      s"expected a ragged-embedding raise, got: $ex")
  }

  test("a null embedding raises instead of yielding a null bucket") {
    val withNull = spark.createDataFrame(Seq(
      (1L, Seq(0.1f, 0.2f, 0.3f)),
      (2L, null.asInstanceOf[Seq[Float]])
    )).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.withBucketArray(withNull, "embedding", 4, 1, "bk",
        dims = 3).collect()
    }
    assert(messages(ex).exists(m =>
      m.contains("ragged or null embedding") && m.contains("got null")),
      s"expected a null-embedding raise, got: $ex")
  }

  test("explicit dims matches inferred dims bit-for-bit") {
    val corpus = spark.read.parquet(emb)
    val inferred = Similarity.withBucketArray(corpus, "embedding", 4, 2,
      "bk")
    val explicit = Similarity.withBucketArray(corpus, "embedding", 4, 2,
      "bk", dims = 64)
    assert(inferred.exceptAll(explicit).isEmpty &&
      explicit.exceptAll(inferred).isEmpty)
  }
}
