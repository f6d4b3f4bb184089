package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** The three forms of the PCA power iteration must agree byte for byte
  * — the same `collect()` rows and the same schema:
  *  - LONG: the r14 (vec_id, dim, c) form, kept here verbatim as the
  *    reference the wide form was proven against;
  *  - WIDE: the distributed one-array-row-per-vector loop, forced
  *    through a negative fold guard;
  *  - FOLD: the driver-local exact fold the default guard selects on
  *    bounded corpora.
  * Inputs the fold does not cover (null elements, ragged rows) must
  * decline to the wide form, overflow must throw in both executable
  * paths, and the guard constant is the exact boundary.
  */
class PcaEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  // ---- the r14 long form, verbatim -------------------------------------
  private def pcaTopComponentOld(corpus: DataFrame, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val xs = corpus
      .select(col("vec_id"),
        posexplode(expr("cast(embedding as array<double>)")))
      .toDF("vec_id", "dim", "xr")
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("cast(round(xr, 6) as decimal(18,6))").as("x"))
    val mu = xs.groupBy("dim")
      .agg(expr("cast(round(cast(sum(x) as double) / " +
        "cast(count(1) as double), 9) as decimal(18,9))").as("mu"))
    val cx = xs.join(broadcast(mu), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        expr("cast(x - mu as decimal(18,9))").as("c"))
      .localCheckpoint(false)
    var v = mu.select(col("dim"),
      expr("cast(1 as decimal(18,6))").as("v"))
    var lam: DataFrame = null
    for (_ <- 1 to rounds) {
      val dots = cx.join(broadcast(v), Seq("dim"))
        .groupBy("vec_id")
        .agg(expr("cast(round(cast(sum(cast(c * v as decimal(38,15))) " +
          "as double), 9) as decimal(18,9))").as("d"))
      val w = cx.join(dots, Seq("vec_id"))
        .groupBy("dim")
        .agg(expr("cast(round(cast(sum(cast(c * d as decimal(38,18))) " +
          "as double), 9) as decimal(18,9))").as("w"))
      val nrm = w.agg(expr("cast(round(sqrt(cast(sum(cast(w * w as " +
        "decimal(38,18))) as double)), 9) as decimal(18,9))").as("nrm"))
      val vn = w.crossJoin(broadcast(nrm))
        .select(col("dim"),
          expr("case when nrm > 0 then cast(round(cast(w as double) / " +
            "cast(nrm as double), 6) as decimal(18,6)) " +
            "else cast(1 as decimal(18,6)) end").as("v"),
          col("nrm"))
        .localCheckpoint(false)
      v = vn.select(col("dim"), col("v"))
      lam = vn.agg(min(col("nrm")).as("nrm"))
    }
    (cx, v, lam)
  }

  private def pcaPowerOld(corpus: DataFrame): DataFrame = {
    val (_, v, lam) = pcaTopComponentOld(corpus, 6)
    v.crossJoin(broadcast(lam))
      .select(col("dim"), round(col("v").cast("double"), 6).as("loading"),
        round(col("nrm").cast("double"), 6).as("lambda"))
      .orderBy("dim")
  }

  private def pcaDebiasOld(corpus: DataFrame): DataFrame = {
    val (cx, v, _) = pcaTopComponentOld(corpus, 6)
    val p = cx.join(broadcast(v), Seq("dim"))
      .groupBy("vec_id")
      .agg(expr("cast(round(cast(sum(cast(c * v as decimal(38,15))) " +
        "as double), 6) as decimal(18,6))").as("p"))
    cx.join(p, Seq("vec_id")).join(broadcast(v), Seq("dim"))
      .groupBy("vec_id")
      .agg(
        expr("sum(cast(c * c as decimal(38,18)))").as("ss"),
        expr("sum(cast(cast(c - p * v as decimal(18,12)) * " +
          "cast(c - p * v as decimal(18,12)) as decimal(38,24)))")
          .as("rr"))
      .select(col("vec_id"),
        round(expr("sqrt(cast(ss as double))"), 6).as("norm"),
        round(expr("sqrt(cast(rr as double))"), 6).as("resid_norm"),
        round(expr("case when ss > 0 then 1.0 - cast(rr as double) / " +
          "cast(ss as double) end"), 6).as("removed_frac"))
      .orderBy("vec_id")
  }

  // ---- helpers ---------------------------------------------------------
  private def wide(f: (DataFrame, Int, Long) => DataFrame, e: DataFrame) =
    f(e, 6, -1L)
  private def byDefault(f: (DataFrame, Int, Long) => DataFrame,
      e: DataFrame) = f(e, 6, Similarity.PcaFoldCells)
  private val power: (DataFrame, Int, Long) => DataFrame =
    Similarity.pcaPower(_, _, _)
  private val debias: (DataFrame, Int, Long) => DataFrame =
    Similarity.pcaDebias(_, _, _)

  private def isFold(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Same rows in the same order, same schema (names, types and
    * nullability).
    */
  private def assertSame(what: String, a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema, s"$what: schema")
    assert(a.collect().toSeq === b.collect().toSeq, s"$what: rows")
  }

  /** LONG == WIDE == FOLD on a corpus the fold covers. */
  private def assertThreeForms(what: String, e: DataFrame): Unit = {
    val fp = byDefault(power, e)
    val fd = byDefault(debias, e)
    assert(isFold(fp) && isFold(fd), s"$what: the fold did not run")
    val wp = wide(power, e)
    val wd = wide(debias, e)
    assert(!isFold(wp) && !isFold(wd))
    assertSame(s"$what pcaPower wide/fold", wp, fp)
    assertSame(s"$what pcaDebias wide/fold", wd, fd)
    assert(pcaPowerOld(e).collect().toSeq === fp.collect().toSeq,
      s"$what pcaPower long/fold")
    assert(pcaDebiasOld(e).collect().toSeq === fd.collect().toSeq,
      s"$what pcaDebias long/fold")
  }

  private def corpus(rows: Seq[(Long, Array[java.lang.Float])]) = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def seeded(seed: Int, n: Int, dims: Int) = {
    val rnd = new scala.util.Random(seed)
    // a shared offset + one dominant direction + noise: a non-trivial
    // mean and a well-separated first component
    val dir = Array.fill(dims)(rnd.nextGaussian())
    corpus((1 to n).map { i =>
      val a = rnd.nextGaussian() * 3
      (i.toLong, Array.tabulate(dims)(j => java.lang.Float.valueOf(
        (0.5 + a * dir(j) + rnd.nextGaussian() * 0.3).toFloat)))
    })
  }

  // ---- cases -----------------------------------------------------------
  test("sf0.001/0.01/0.1 embeddings: long, wide and fold forms are " +
      "byte-equal") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
      assertThreeForms(sf, spark.read.parquet(
        s"${SharedSpark.testData(sf)}/embeddings.parquet"))
  }

  test("seeded random corpora: long, wide and fold forms are byte-equal") {
    for ((seed, n, dims) <- Seq((1, 37, 3), (2, 120, 16), (3, 64, 40)))
      assertThreeForms(s"seed $seed", seeded(seed, n, dims))
  }

  test("a null embedding drops from every form") {
    val e = seeded(4, 20, 5).union(corpus(Seq((99L, null))))
    assertThreeForms("null embedding", e)
  }

  test("an empty corpus yields empty outputs with the same schema") {
    val e = seeded(5, 4, 3).limit(0)
    assertThreeForms("empty", e)
    assert(byDefault(power, e).count() === 0L)
    assert(byDefault(debias, e).count() === 0L)
  }

  test("null elements and ragged rows decline to the wide form") {
    val base = (1 to 6).map(i => (i.toLong,
      Array[java.lang.Float](i.toFloat, (i * i % 5).toFloat, 1f / i)))
    val nullElem = corpus(base :+ (7L -> Array[java.lang.Float](1f, null, 2f)))
    val ragged = corpus(base :+ (7L -> Array[java.lang.Float](1f, 2f)))
    for ((what, e) <- Seq("null element" -> nullElem, "ragged" -> ragged)) {
      val fp = byDefault(power, e)
      val fd = byDefault(debias, e)
      assert(!isFold(fp) && !isFold(fd), s"$what: the fold ran")
      assertSame(s"$what pcaPower", wide(power, e), fp)
      assertSame(s"$what pcaDebias", wide(debias, e), fd)
    }
    // without ANSI an overflow would read null, not throw: no fold
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(!isFold(byDefault(power, seeded(7, 5, 3))))
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("an overflow-magnitude corpus throws in both paths") {
    // mean 0, |c| = 9e8 < 1e9 fits DECIMAL(18,9), but the first round's
    // dot 4 · 9e8 does not
    val big = 9.0e8f
    val e = corpus(Seq(
      1L -> Array[java.lang.Float](big, big, big, big),
      2L -> Array[java.lang.Float](-big, -big, -big, -big)))
    def overflows(body: => Any): Unit = {
      val t = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](t)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
      assert(msgs.exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE")), t)
    }
    for (f <- Seq(power, debias)) {
      overflows(byDefault(f, e).collect())
      overflows(wide(f, e).collect())
    }
  }

  test("the guard is the exact boundary: the fold runs at " +
      "PcaFoldCells cells, the wide form one row above") {
    val dims = 64
    val n = (Similarity.PcaFoldCells / dims).toInt
    val at = seeded(6, n + 1, dims)
    val under = at.where(col("vec_id") <= n)
    assert(isFold(byDefault(power, under)) && isFold(byDefault(debias, under)))
    val over = byDefault(power, at)
    assert(!isFold(over) && !isFold(byDefault(debias, at)))
    // the largest folded corpus still equals the wide form
    assertSame("at the guard", wide(power, under), byDefault(power, under))
    assertSame("one row above", wide(power, at), over)
  }
}
