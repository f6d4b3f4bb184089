package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed layer call. `parent` is -1 for a top-level call. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out once when the run ends. When
  * disabled, `span` only runs its body.
  *
  * Each span sets a Spark job group named after its id before its body
  * runs and restores the enclosing group after, so engine counters can
  * be attributed to the innermost span that issued the job.
  */
final class Tracer(val runId: String, val enabled: Boolean,
    onEnter: Int => Unit = _ => (), onExit: Int => Unit = _ => ()) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        onExit(id)
        stack.headOption.foreach(onEnter)
        done += Span(id, name, parent, t0, t1, runId)
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  def group(id: Int): String = s"perfbench-span-$id"

  /** Span id from a job group set by [[Tracer]], if it is one. */
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("perfbench-span-"))
      .map(_.stripPrefix("perfbench-span-").toInt)

  /** Self time of every span: its duration minus the part of its
    * interval that the union of its children's intervals covers.
    * Children may overlap one another; overlapped time counts once.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
