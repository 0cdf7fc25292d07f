package perfbench

import scala.collection.mutable.ArrayBuffer
import graft.provider._
import perfbench.Counter._

/** Per-call counters for the traced provider run. The client resets the
  * calling thread's context before each call; the decorators below add to
  * it. A sampled call also keeps its child spans.
  */
final class CallCtx extends Counters {
  private var trace: Trace = _
  private var callId = 0L
  private val open = new Array[Long](16)
  private var depth = 0
  val spans = ArrayBuffer.empty[Span]

  /** Starts a call; `sampleIn` is the trace that keeps its spans, if any. */
  def reset(sampleIn: Option[Trace], id: Long): Unit = {
    clear()
    trace = sampleIn.orNull; callId = id; depth = 0; spans.clear()
  }

  def sampled: Boolean = trace != null

  private def parent: Long = if (depth == 0) callId else open(depth - 1)

  /** Opens a span that later spans nest under; 0 when not sampled. */
  def enter(): Long =
    if (trace == null) 0L
    else { val id = trace.newId(); open(depth) = id; depth += 1; id }

  def exit(id: Long, name: String, t0: Long, t1: Long): Unit =
    if (trace != null) { depth -= 1; spans += Span(id, parent, name, t0, t1) }

  def leaf(name: String, t0: Long, t1: Long): Unit =
    if (trace != null) spans += Span(trace.newId(), parent, name, t0, t1)
}

object CallCtx {
  private val local = ThreadLocal.withInitial[CallCtx](() => new CallCtx)
  def get: CallCtx = local.get()
}

/** Times every storage operation of the wrapped log. */
final class TracedLog(inner: DedupLog) extends DedupLog {
  override def append(ks: String, t: String, rec: AttemptRecord): Unit = {
    val c = CallCtx.get
    val t0 = System.nanoTime()
    try inner.append(ks, t, rec)
    finally {
      val t1 = System.nanoTime()
      c(AppendNs) += t1 - t0; c(Writes) += 1; c.leaf("log.append", t0, t1)
    }
  }

  override def updateState(ks: String, t: String, key: String, time: Long,
                           uuid: String, state: Short): Unit = {
    val c = CallCtx.get
    val t0 = System.nanoTime()
    try inner.updateState(ks, t, key, time, uuid, state)
    finally {
      val t1 = System.nanoTime()
      c(UpdateNs) += t1 - t0; c(Writes) += 1; c.leaf("log.update", t0, t1)
    }
  }

  override def read(ks: String, t: String, key: String, now: Long): Seq[AttemptRecord] = {
    val c = CallCtx.get
    val t0 = System.nanoTime()
    val out = inner.read(ks, t, key, now)
    val t1 = System.nanoTime()
    c(ReadNs) += t1 - t0; c(Reads) += 1; c(Rows) += out.size; c.leaf("log.read", t0, t1)
    out
  }
}

/** Splits absorb time into the gate and the loader it may run. A call
  * whose loader did not run was answered by another caller's entry: a hit.
  */
final class TracedAbsorber(inner: DuplicateBurstAbsorber) extends DuplicateBurstAbsorber {
  override def absorb(key: String, loader: () => String): String = {
    val c = CallCtx.get
    var ran = false
    val id = c.enter()
    val t0 = System.nanoTime()
    try inner.absorb(key, () => {
      ran = true
      val l0 = System.nanoTime()
      try loader() finally c(LoaderNs) += System.nanoTime() - l0
    })
    finally {
      val t1 = System.nanoTime()
      c(AbsorbNs) += t1 - t0; c(Absorbs) += 1
      if (!ran) c(Hits) += 1
      c.exit(id, "absorber.absorb", t0, t1)
    }
  }

  override def evict(key: String): Unit = inner.evict(key)
}

/** Times each attempt inside the wrapped strategy; the time between
  * attempts is the strategy's back-off.
  */
final class TracedStrategy(inner: RetryStrategy) extends RetryStrategy {
  override def retry[T](action: () => T): T = inner.retry { () =>
    val c = CallCtx.get
    c(Attempts) += 1
    val id = c.enter()
    val t0 = System.nanoTime()
    try action()
    finally {
      val t1 = System.nanoTime()
      c(AttemptNs) += t1 - t0; c.exit(id, "attempt", t0, t1)
    }
  }
}
