package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded around the benchmark's calls into each
  * layer: name, start, end, parent span and pass id. Written out once,
  * when the run ends. A layer's self time is its spans' duration minus
  * the part their child spans cover. */
final class Trace {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, pass: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), pass, System.nanoTime(), 0L)
    spans += s
    open = s.id :: open
    try body
    finally { s.endNs = System.nanoTime(); open = open.tail }
  }

  /** Self seconds per span name, summed over all passes. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  def json: java.util.List[java.util.Map[String, Any]] = {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent); m.put("pass", s.pass)
      m.put("start_s", (s.startNs - t0) / 1e9); m.put("end_s", (s.endNs - t0) / 1e9)
      out.add(m)
    }
    out
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, pass: String,
      startNs: Long, var endNs: Long)
}
