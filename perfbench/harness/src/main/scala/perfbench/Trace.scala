package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are nanoseconds on the
  * trace's clock; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder, written out once when the run ends. A
  * disabled trace hands out ids but keeps nothing, so the untraced run
  * pays only for the id counter.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Wall-clock anchor, to place listener events given in epoch millis. */
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()

  def newId(): Long = ids.incrementAndGet()

  def epochMsToNs(ms: Long): Long = originNs + (ms - originEpochMs) * 1000000L

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Times `body`, records it as a span, and returns its result and
    * duration. The span id is passed to `body` so children can name it.
    */
  def timed[T](name: String, parent: Long)(body: Long => T): (T, Long) = {
    val id = newId()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    add(Span(id, parent, name, t0, t1))
    (out, t1 - t0)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> (s.startNs - originNs) / 1000.0,
      "end_us" -> (s.endNs - originNs) / 1000.0) ++
      (if (s.attrs.isEmpty) Map.empty else Map("attrs" -> s.attrs))
  }
}
