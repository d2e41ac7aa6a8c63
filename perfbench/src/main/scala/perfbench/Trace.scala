package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `op` names the row or request
  * the span belongs to; `parent` is the id of the enclosing span (0 for a
  * root); `counters` holds the engine work done inside it, where known. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long, counters: Map[String, Long])

/** In-memory span recorder. Nothing is written until the run ends, so
  * recording costs an append per span. A disabled recorder drops spans. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val buf = ArrayBuffer[Span]()
  val t0: Long = System.nanoTime()

  def record(s: Span): Unit = if (enabled) buf.synchronized { buf += s }

  def nextId(): Long = ids.incrementAndGet()

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  def toJson: Seq[Map[String, Any]] = spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "counters" -> s.counters)
  }
}
