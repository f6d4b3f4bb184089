package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark harness. One closed-loop client on `local[4]` runs one
  * workload: set-up (inputs generated three times, one warm-up pass),
  * then whole passes until `--seconds` have elapsed and at least
  * [[MinPasses]] passes have run. With `--trace 1`
  * passes alternate untraced, traced, untraced, ...; per-layer numbers
  * come from the traced ones, and the tracing overhead compares each
  * traced pass with the untraced passes around it.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --out DIR --root CHECKOUT
  * Writes DIR/result.json (and DIR/trace.json when tracing).
  */
object Main {
  val Cores = 4
  /** Passes measured at least, so each call's median has three samples
    * and the slower first measured pass is not one of two.
    */
  val MinPasses = 3

  /** The benchmark's session; Spark's scratch space stays under `out`. */
  def session(out: Path): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out")).toAbsolutePath
    val root = Paths.get(a("root")).toAbsolutePath
    val loadBefore = Host.loadavg()
    Files.createDirectories(out)

    val spark = session(out)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val bench = root.resolve("perfbench")
    val wl: Workload = workload match {
      case "corpus_build" => new CorpusBuild(nArt = 600, nRed = 304, nWarc = 600, nItems = 6000)
      case "dedup_ann" => new DedupAnn(Gen.DocsLayout(n = 3000, fams = 75,
        famSize = 4, exact = 75, low = 150, contaminated = 75), nVec = 3000, clusters = 8)
      case "gate_sweep" =>
        new GateSweep(bench.resolve("data").resolve("sf0.01"),
          GateSweep.load(bench.resolve("gates.tsv")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ctx = new Ctx(spark, seed, out.resolve("work"))

    // ---- set-up: inputs three times (median), then the warm-up pass
    val genS = ArrayBuffer.empty[Double]
    var inputs: Inputs = null
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      inputs = wl.generate(ctx)
      genS += (System.nanoTime() - t0) / 1e9
    }
    val warmS = ctx.iteration(wl.pass(ctx))
    val setupS = sessionS + Stats.median(genS.toSeq) + warmS

    // ---- measured passes
    val engine = if (traced) Some(new Engine(spark)) else None
    val plain = ArrayBuffer.empty[Double]
    val withTrace = ArrayBuffer.empty[Double]
    val spans = ArrayBuffer.empty[Span]
    ctx.measuring = true
    val t0 = System.nanoTime()
    var i = 0
    def more: Boolean =
      if (traced) withTrace.isEmpty || plain.size <= withTrace.size
      else plain.size < MinPasses
    while ((System.nanoTime() - t0) / 1e9 < seconds || more) {
      val traceThis = traced && i % 2 == 1
      engine.foreach(e => if (traceThis) e.register())
      ctx.tracer = engine.filter(_ => traceThis)
        .map(e => new Tracer(s"$workload-$seed-$i", true, e.enter, _ => e.exit()))
        .getOrElse(new Tracer("", false))
      val sec = ctx.iteration(wl.pass(ctx))
      if (traceThis) { withTrace += sec; spans ++= ctx.tracer.spans }
      else plain += sec
      engine.foreach(e => if (traceThis) e.unregister())
      i += 1
    }
    ctx.measuring = false
    val measureWallS = (System.nanoTime() - t0) / 1e9

    // each call's latency is its median over the passes; a typical pass
    // is every call at that latency, and the percentiles are over calls
    val callMedians = ctx.latencies.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, xs) => n -> Stats.median(xs.map(_._2).toSeq) }
    val lat = callMedians.map(_._2)
    val makespan = lat.sum
    val failed = ctx.outcomes.count(!_.ok)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("makespan_s", makespan, "s"),
      ("records_per_s", inputs.records / makespan, "1/s"),
      ("query_p50_s", Stats.quantile(lat, 0.50), "s"),
      ("query_p75_s", Stats.quantile(lat, 0.75), "s"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"))

    val layers = engine.map { e =>
      Layers.metrics(spark, e, spans.toSeq, withTrace.size, ctx,
        overhead = Stats.median(withTrace.toSeq) / Stats.median(plain.toSeq) - 1.0,
        dedup = workload == "dedup_ann")
    }.getOrElse(Nil)
    engine.foreach(e => Layers.writeTrace(out.resolve("trace.json"), spans.toSeq, e))

    val facts = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cores" -> Cores.toString, "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> Json.str(spark.version),
      "jdk_version" -> Json.str(System.getProperty("java.version")),
      "loadavg_before" -> Json.str(loadBefore), "loadavg_after" -> Json.str(Host.loadavg()),
      "session_s" -> Json.num(sessionS), "generate_s" -> Json.arr(genS.toSeq.map(Json.num)),
      "warmup_s" -> Json.num(warmS),
      "measure_wall_s" -> Json.num(measureWallS), "check_s" -> Json.num(ctx.checkSec),
      "passes_untraced" -> Json.arr(plain.toSeq.map(Json.num)),
      "passes_traced" -> Json.arr(withTrace.toSeq.map(Json.num)),
      "samples" -> ctx.latencies.size.toString, "calls" -> lat.size.toString,
      "call_median_s" -> Json.obj(callMedians.map { case (n, v) => n -> Json.num(v) }),
      "supported_percentile" ->
        Stats.supportedPercentile(ctx.latencies.size).fold("null")(_.toString),
      "fail_ratio" -> Json.num(Stats.failRatio(ctx.outcomes.toSeq)),
      "input_records" -> inputs.records.toString,
      "input_rows" -> Json.obj(inputs.rows.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "input_mb" -> Json.num(inputs.bytes / 1e6),
      "facts" -> Json.obj(ctx.facts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr(ctx.outcomes.filter(!_.ok).take(20).toSeq
        .map(o => Json.str(s"${o.call}: ${o.error.get}"))))
    val metrics = (if (traced) layers else e2e).map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> ctx.outcomes.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics),
      "end_to_end" -> Json.obj(e2e.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "host" -> Json.obj(facts)))
    Files.writeString(out.resolve("result.json"), result + "\n")
    spark.stop()
  }
}

object Host {
  def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("unknown")

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
