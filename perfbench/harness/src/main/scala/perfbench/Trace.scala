package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (id, name, start, end, parent),
  * times in nanoseconds since the run started. Names are
  * `<layer>.<what>`; the layer is the text before the first dot.
  * When tracing is off, [[span]] only runs its body. */
final class Trace(val t0: Long) {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def now(): Long = System.nanoTime() - t0

  /** Nanoseconds since run start for an epoch-millisecond timestamp
    * (Spark's listener events carry wall-clock milliseconds). */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - now()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val s = now()
      try body
      finally {
        val e = now()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, s, e, parent) }
      }
    }

  /** Record a span measured elsewhere (a listener event). Parent 0
    * lets the analysis place it under the innermost enclosing span. */
  def add(name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val id = newId()
      synchronized { spans += Span(id, name, start, math.max(start, end), 0) }
    }

  def toJson: String = synchronized {
    spans.map(s => s"""[${s.id},${Json.str(s.name)},${s.start},${s.end},${s.parent}]""")
      .mkString("[", ",", "]")
  }
}
