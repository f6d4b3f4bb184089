package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var gcMs = 0L
  var taskFailures = 0L
  var peakExecMemB = 0L
  var inputRecords = 0L
  var pins = 0L
  var fallbackExprs = 0L
  var batches = 0L
  var triggerMs = 0L
  var stateCommitMs = 0L
  var walCommitMs = 0L
  var stateRowsMax = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyMs += o.taskBusyMs; shuffleWriteB += o.shuffleWriteB
    shuffleReadB += o.shuffleReadB; spillB += o.spillB; gcMs += o.gcMs
    taskFailures += o.taskFailures
    peakExecMemB = math.max(peakExecMemB, o.peakExecMemB)
    inputRecords += o.inputRecords; pins += o.pins
    fallbackExprs += o.fallbackExprs; batches += o.batches
    triggerMs += o.triggerMs; stateCommitMs += o.stateCommitMs
    walCommitMs += o.walCommitMs
    stateRowsMax = math.max(stateRowsMax, o.stateRowsMax)
  }
}

/** The benchmark's own engine listeners: a SparkListener (jobs, stages,
  * tasks, shuffle, spill, GC, pins, and the streaming query progress
  * events: batches, trigger, state and WAL commit time) and a
  * QueryExecutionListener
  * (CodegenFallback and HigherOrderFunction nodes in each executed
  * plan). Scheduler events are attributed to spans through the job
  * group [[Tracer]] sets; plan and streaming events through the span
  * that is current when they are delivered, which is exact because
  * the tracer drains the bus when a span ends.
  */
final class Engine(spark: SparkSession) {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val current = new AtomicInteger(-1)
  // a cached frame's plan is counted by the query that builds it, not
  // again by every query that reads it
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def of(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)
  private def at(span: Int)(f: Counters => Unit): Unit = {
    val c = of(span)
    c.synchronized(f(c))
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties)
        .flatMap(p => Tracer.spanOf(p.getProperty("spark.jobGroup.id")))
        .getOrElse(-1)
      e.stageIds.foreach(id => stageSpan.put(id, span))
      // an eager lineage cut runs its own job, whose call site is the
      // engine's single pin entry point
      val pin = e.stageInfos.exists(_.name.contains("Pins.scala"))
      at(span) { c => c.jobs += 1; if (pin) c.pins += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      at(stageSpan.getOrDefault(e.stageInfo.stageId, -1))(_.stages += 1)
    // streaming progress rides the shared bus, whichever session runs
    // the query (gates run their streams in their own sessions)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryProgressEvent =>
        val p = q.progress
        def ms(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        at(current.get) { c =>
          c.batches += 1
          c.triggerMs += ms("triggerExecution")
          c.walCommitMs += ms("walCommit")
          p.stateOperators.foreach { s =>
            c.stateCommitMs += s.commitTimeMs
            c.stateRowsMax = math.max(c.stateRowsMax, s.numRowsTotal)
          }
        }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      at(stageSpan.getOrDefault(e.stageId, -1)) { c =>
        c.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskBusyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMemB = math.max(c.peakExecMemB, m.peakExecutionMemory)
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val n = Engine.fallbackExprs(qe.executedPlan, seenCaches)
      at(current.get)(_.fallbackExprs += n)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(plans)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(plans)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Make `span` the target of plan and streaming events. */
  def enter(span: Int): Unit = {
    spark.sparkContext.setJobGroup(Tracer.group(span), "perfbench span")
    current.set(span)
  }

  /** Deliver the span's pending events, then clear the job group. */
  def exit(): Unit = {
    drain()
    spark.sparkContext.clearJobGroup()
    current.set(-1)
  }

  def counters(span: Int): Counters = of(span)
}

object Engine {
  /** CodegenFallback and HigherOrderFunction expression nodes in an
    * executed plan, looking through adaptive wrappers, query stages,
    * cached relations and subqueries.
    */
  def fallbackExprs(plan: SparkPlan,
      seenCaches: java.util.Set[SparkPlan]): Long = {
    def exprs(e: Expression): Long = {
      val self = e match {
        case _: CodegenFallback | _: HigherOrderFunction => 1L
        case _ => 0L
      }
      self + e.children.map(exprs).sum
    }
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        if (seenCaches.add(m.relation.cachedPlan)) walk(m.relation.cachedPlan) else 0L
      case _ =>
        p.expressions.map(exprs).sum + p.children.map(walk).sum +
          p.subqueries.map(walk).sum
    }
    walk(plan)
  }
}
