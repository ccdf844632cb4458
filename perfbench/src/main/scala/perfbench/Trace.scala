package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call across a layer boundary. `parent` is the id of the span
  * open when this one began (0 at top level); every span of a run carries
  * the run's id in the trace artifact. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, used from the benchmark's single main thread.
  * Spans are recorded only while `recording` is on, which is only ever the
  * case in a traced run; otherwise `span` just runs its body. The spans are
  * written out once, when the run ends. */
final class Tracer(val traced: Boolean, val runId: String) {
  var recording: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil
  private var nextId = 1L

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children of one span never overlap, as all
    * spans come from one thread). */
  def selfNs: Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Per span name: calls, total and self seconds. */
  def summary: Map[String, Map[String, Any]] = {
    val self = selfNs
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map[String, Any](
        "calls" -> ss.size,
        "total_s" -> ss.map(_.durNs).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
  }

  def toJson: String = {
    val self = selfNs
    spans.map { s =>
      Json(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
