package perfbench

/** What the traced provider run counts, per call and summed over a run. */
object Counter extends Enumeration {
  val Calls, CallNs, BackoffNs, AttemptNs, AbsorbNs, LoaderNs, AppendNs, ReadNs, UpdateNs,
      BlockNs, Attempts, Absorbs, Hits, Reads, Writes, Rows = Value
}

/** One value per [[Counter]]; `c(Counter.Reads) += 1` adds to one. */
class Counters {
  private val v = new Array[Long](Counter.maxId)
  def apply(c: Counter.Value): Long = v(c.id)
  def update(c: Counter.Value, x: Long): Unit = v(c.id) = x
  def add(o: Counters): Unit = { var i = 0; while (i < v.length) { v(i) += o.v(i); i += 1 } }
  def clear(): Unit = java.util.Arrays.fill(v, 0L)
}
