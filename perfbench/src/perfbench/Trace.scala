package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span is a call from the
  * benchmark into one layer: name, start, end, parent span and the run or
  * request it belongs to. Disabled, `span` only runs the body.
  */
final class Trace(var enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, owner: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String, owner: String = "run")(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0), name, owner, t0, t1) }
      }
    }

  /** Seconds of each span name not covered by its child spans, summed. */
  def selfSeconds: Map[String, Double] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","owner":"${s.owner}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
