package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced mode. Spans are recorded flat
  * (layer, name, start, end on the `System.nanoTime` clock); parents and
  * trace ids are assigned once at the end by time containment across
  * levels: op > target call > action > job/GET. A disabled tracer records
  * nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer._
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  /** nanoTime of epoch-ms 0, to place Spark's epoch-ms events. */
  private val epochNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def add(level: Int, layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), level, layer, name,
      startNs, endNs))

  def addMs(level: Int, layer: String, name: String, startMs: Long, endMs: Long): Unit =
    add(level, layer, name, epochNs + startMs * 1000000L, epochNs + endMs * 1000000L)

  def span[A](level: Int, layer: String, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(level, layer, name, t0, System.nanoTime())
  }

  /** Spans with parent and trace ids resolved. */
  def resolved: Vector[Resolved] = {
    val all = spans.asScala.toVector.sortBy(s => (s.startNs, s.level))
    val byLevel = all.groupBy(_.level)
    def parentOf(s: Span): Option[Span] =
      (s.level - 1 to 0 by -1).iterator.flatMap { l =>
        byLevel.getOrElse(l, Vector.empty)
          .filter(p => p.startNs <= s.startNs && p.endNs >= s.endNs)
          .sortBy(p => p.endNs - p.startNs).headOption
      }.nextOption()
    val parent = all.map(s => s.id -> parentOf(s).map(_.id)).toMap
    def root(id: Long): Long = parent(id).fold(id)(root)
    all.map(s => Resolved(s, parent(s.id), root(s.id)))
  }

  /** Per layer: total duration minus the time covered by its children. */
  def selfSeconds(rs: Vector[Resolved]): Map[String, Double] = {
    val kids = rs.groupBy(_.parent)
    rs.groupBy(_.span.layer).view.mapValues(_.map { r =>
      val cs = kids.getOrElse(Some(r.span.id), Vector.empty)
        .map(c => (math.max(c.span.startNs, r.span.startNs),
          math.min(c.span.endNs, r.span.endNs)))
      (r.span.endNs - r.span.startNs - Stats.unionLength(cs)) / 1e9
    }.sum).toMap
  }

  def write(file: java.io.File, rs: Vector[Resolved]): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try rs.foreach { r =>
      w.println(s"""{"trace":${r.traceId},"span":${r.span.id},""" +
        s""""parent":${r.parent.getOrElse("null")},""" +
        s""""layer":"${r.span.layer}","name":"${r.span.name.replace("\"", "'")}",""" +
        s""""start_ns":${r.span.startNs},"dur_ms":${(r.span.endNs - r.span.startNs) / 1e6}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, level: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)
  final case class Resolved(span: Span, parent: Option[Long], traceId: Long)
  val Op = 0
  val Target = 1
  val Action = 2
  val Leaf = 3
}
