package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are opened only by
  * the benchmark's own code, around its calls into each layer's public
  * functions; nothing inside the program is instrumented. Spans nest by
  * thread: a span opened while another is open on the same thread
  * records it as its parent. Everything stays in memory until [[write]].
  */
final class Spans(enabled: Boolean) {
  import Spans.Span

  private val done = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  /** Time `body` as span `name` of operation `op` (a request or operator
    * id). With tracing off this is a plain call. */
  def apply[A](name: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { done += Span(id, stack.headOption.getOrElse(0), name, op, t0, t1) }
      }
    }

  // Offset from the wall clock (listener events) to nanoTime (spans).
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Record an interval seen by the Spark listener (wall-clock ms) as a
    * child of the innermost recorded span that contains it. */
  def attach(name: String, startMs: Long, endMs: Long): Unit = if (enabled) synchronized {
    val (t0, t1) = (startMs * 1000000L + wallToNano, endMs * 1000000L + wallToNano)
    val parent = done.filter(p => p.startNs <= t0 && p.endNs >= t1)
      .minByOption(p => p.endNs - p.startNs)
    nextId += 1
    done += Span(nextId, parent.map(_.id).getOrElse(0), name, parent.map(_.op).getOrElse(""), t0, t1)
  }

  def all: Seq[Span] = synchronized(done.toSeq)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time per span name: each span's duration minus the part of it
    * its direct children cover, summed over spans of that name, in ms.
    * Children of one span may overlap (concurrent Spark jobs); their
    * union is what is subtracted. */
  def selfMs: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val inside = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        inside.foreach { case (a, b) =>
          if (b > end) { covered += b - math.max(a, end); end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Self time by span name, largest first, one line each on stderr. */
  def printSelf(): Unit = selfMs.toSeq.sortBy(-_._2).foreach { case (n, ms) =>
    System.err.println(f"[perfbench] self $n%-34s $ms%10.1f ms")
  }

  /** One JSON object per span, one span per line. */
  def write(path: Path): Unit = if (enabled) {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${graft.util.Json.escape(s.name)},""")
        .append(s""""op":${graft.util.Json.escape(s.op)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
        .append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}
