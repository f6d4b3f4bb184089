package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The scale harness (not a gate): replicates a base sf directory ×k
  * with planted structure, times the heavy operators, prints one JSON
  * line per (op, scale) with seconds plus op-specific observables, and
  * asserts every closed-form observable in the harness, so a hand run
  * at any k checks exactly what `ScaleInvariantSpec` checks in tier-1.
  *
  * The cases live in [[ScaleCases]]; each is a [[ScaleCase]] that
  * `replicate`s its base input ×k with the shared functions below,
  * `plant`s the rows whose observables are closed-form, runs its `op`
  * and checks its `invariant`. Relative invariants compare against the
  * case's own k = 1 observables, so k = 1 always runs first.
  *
  * Approximate and timing claims ("time tracks corpus size", "the
  * median is ~scale-invariant") stay printed observables only.
  *
  * Usage:
  *   runMain graft.tools.Scale <case-prefix|all> [scale ...]
  *     runs every case whose name starts with the prefix, at the given
  *     scales or at each case's default scales;
  *   runMain graft.tools.Scale write <outDir> <copies>
  *     writes a timing-only ×copies replica of every table (below).
  *
  * SPARK_GRAFT_SF_DIR selects the base dir (default ~/testdata/sf0.1)
  * and SPARK_GRAFT_CPUS the local thread and shuffle-partition count
  * (default the host's cores); both are read here and nowhere else.
  * [[session]] is the one session builder of the local mains (`Bench`,
  * `Verify`, `Scale`, `CorpusSoak`, `DumpCorpus`).
  */
object Scale {

  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    s"${sys.props("user.home")}/testdata/sf0.1")
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session: local[cpus], one shuffle partition per thread,
    * UTC, nanosecond event timestamps read as longs, no UI, WARN logs.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Print one JSON line `{"<key>":"<name>","scale":k,"sec":s,...}`.
    * Extra values print verbatim (numbers and booleans).
    */
  def line(key: String, name: String, scale: Int, sec: Double,
      extra: Seq[(String, Any)]): Unit = {
    val e = extra.map { case (k, v) => s""","$k":$v""" }.mkString
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma decimal separator would break the JSON (the same bug class
    // Bench.f3 defends against)
    println(s"""{"$key":"$name","scale":$scale,"sec":${secs(sec)}$e}""")
    Console.flush()
  }

  def emit(op: String, scale: Int, sec: Double, extra: (String, Any)*)
      : Unit = line("op", op, scale, sec, extra)

  def secs(sec: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `body(cached, rows)` over `df` persisted MEMORY_AND_DISK and
    * materialized once by its row count; unpersisted even when the
    * body throws, so a failed case leaves no cache in a shared session.
    */
  def cached[T](df: DataFrame)(body: (DataFrame, Long) => T): T = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(p, p.count()) finally { val _ = p.unpersist(blocking = true) }
  }

  // ---------------- the four replication functions ----------------

  /** Copy i of `df`: each named id column shifted by `i × offset`, so
    * copies land on disjoint id ranges; other columns are unchanged.
    */
  def shiftIds(df: DataFrame, i: Int, offsets: (String, Long)*)
      : DataFrame = {
    val off = offsets.toMap
    df.select(df.columns.toSeq.map(c =>
      off.get(c).fold(col(c))(o => (col(c) + lit(i * o)).as(c))): _*)
  }

  /** Injective per-copy token renaming: every token gets `suffix`
    * (`x{i}` for copy i), so copies share no tokens or shingles while
    * each copy's within-copy token structure is exactly the base's.
    * Not an interleaved marker token: that makes every other shingle a
    * single-content-token pattern shared by every doc in the copy,
    * which collapses MinHash buckets into thousands-deep hot spots.
    */
  def suffixTokens(text: Column, suffix: String): Column =
    regexp_replace(text, "([A-Za-z0-9]+)", "$1" + suffix)

  /** Dimension rotation: copy i circularly rotates each vector's `dims`
    * dimensions by i, so copies of one base vector decorrelate while
    * the per-copy geometry is preserved exactly.
    */
  def rotateDims(emb: Column, i: Int, dims: Int): Column = {
    val rot = i % dims
    if (rot == 0) emb
    else concat(slice(emb, rot + 1, dims - rot), slice(emb, 1, rot))
  }

  /** User-disjoint event copies: user and event ids shifted per copy,
    * timestamps unchanged, so every per-user pattern repeats k times.
    */
  def eventCopies(ev: DataFrame, k: Int, userOffset: Long = 100000000L)
      : DataFrame = replicas(k)(i => shiftIds(ev, i,
    "user_id" -> userOffset, "event_id" -> 1000000000L))

  /** `k` copies built by `copy(i)`, unioned by name. */
  def replicas(k: Int)(copy: Int => DataFrame): DataFrame =
    (0 until k).map(copy).reduce(_ unionByName _)

  /** Token-renamed doc copies with ids shifted by `offset` per copy. */
  def renamedDocs(docs: DataFrame, k: Int, offset: Long = 10000000L)
      : DataFrame = replicas(k)(i => shiftIds(docs, i, "doc_id" -> offset)
    .withColumn("text", suffixTokens(col("text"), s"x$i")))

  // ---------------- the case table ----------------

  /** One row of the case table, named after the first op line it
    * prints. `replicate(k)` builds the ×k base input, `plant(k, d)`
    * adds the planted rows, `op(k, d)` runs and times the operator(s)
    * and prints their JSON lines, and `invariant(k, obs, base)` asserts
    * the closed forms, `base` being the k = 1 observables.
    */
  final case class ScaleCase[D, O](name: String, scales: Seq[Int],
      replicate: Int => D, plant: (Int, D) => D, op: (Int, D) => O,
      invariant: (Int, O, O) => Unit) {
    def run(ks: Seq[Int]): Unit = {
      var base: Option[O] = None
      for (k <- 1 +: ks.filter(_ != 1)) {
        val obs = op(k, plant(k, replicate(k)))
        invariant(k, obs, base.getOrElse(obs))
        if (base.isEmpty) base = Some(obs)
      }
    }
  }

  /** Run every case whose name starts with `prefix` ("all" runs all),
    * at `scales` or at each case's default scales when empty.
    */
  def run(spark: SparkSession, dir: String, prefix: String,
      scales: Seq[Int]): Unit = {
    val chosen = ScaleCases.all(spark, dir)
      .filter(c => prefix == "all" || c.name.startsWith(prefix))
    require(chosen.nonEmpty, s"no scale case matches '$prefix'")
    chosen.foreach(c => c.run(if (scales.nonEmpty) scales else c.scales))
  }

  // ---------------- write mode ----------------

  /** Timing-only replica of every table in `dir`, `copies` times, with
    * the entity-id columns (vec_id / doc_id / event_id / user_id)
    * shifted by a copy-sized offset, so entity cardinality scales with
    * volume and per-entity group sizes stay base-shaped. TPC-H keys are
    * left unshifted (referential integrity): only aggregate-shaped
    * TPC-H gates belong in a scaled timing set. There is no DuckDB
    * oracle for the replica, and near-dup text gates are out of scope
    * (replicated text is quadratically self-similar).
    */
  val Tables: Seq[String] = Seq("customer", "documents", "embeddings",
    "events", "lineitem", "nation", "orders", "part", "region",
    "supplier")
  val WriteShift: Seq[String] = Seq("vec_id", "doc_id", "event_id",
    "user_id")
  val WriteOffset = 10000000L

  def write(spark: SparkSession, dir: String, out: String, copies: Int)
      : Unit = for (t <- Tables) {
    val base = spark.read.parquet(s"$dir/$t.parquet")
    val shifted = replicas(copies)(i =>
      shiftIds(base, i, WriteShift.map(_ -> WriteOffset): _*))
    shifted.write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"$t: ${base.count()} -> ${shifted.count()} rows")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Scale <case-prefix|all> [scale ...] | write <outDir> <copies>")
    val spark = session()
    try {
      if (args(0) == "write") write(spark, sfDir, args(1), args(2).toInt)
      else run(spark, sfDir, args(0), args.toSeq.tail.map(_.toInt))
    } finally spark.stop()
  }
}
