package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans recorded by the benchmark around its calls into the
  * program. Each span has a name, start, end, parent and the trace id of
  * the operation it belongs to; times are `System.nanoTime`, which task
  * threads share with the benchmark's threads in local mode. Spans are written out
  * once, when the run ends.
  */
final class Trace(enabled: Boolean) {
  import Trace.Span

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as a span; returns its result and the span's id. */
  def span[T](name: String, traceId: Long, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally record(Span(id, parent, traceId, name, t0, System.nanoTime()))
  }

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time (seconds) summed per span name over the spans of `traceIds`:
    * each span's duration minus the part of it that its children cover.
    */
  def selfSeconds(traceIds: Set[Long]): Map[String, Double] = {
    val sel = all.filter(s => traceIds(s.traceId))
    val children = sel.groupBy(_.parent)
    sel.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Engine.unionLength(children.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(iv => iv._2 > iv._1))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def toJson: String = all.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":"${s.name}",""" +
      s""""tag":"${s.tag}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  /** `tag` names the client a task-side span belongs to, if any. */
  final case class Span(id: Long, parent: Long, traceId: Long, name: String,
                        start: Long, end: Long, tag: String = "") {
    def seconds: Double = (end - start) / 1e9
  }
}
