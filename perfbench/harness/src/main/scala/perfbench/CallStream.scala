package perfbench

import scala.collection.mutable

/** The provider workload's input: which key each call carries. Every key
  * is new. A key is delivered once (`Single`), as an adjacent burst of
  * 2–4 copies that the client threads pick up at the same moment
  * (`Burst`), or once and then again `lateGap` calls later, after the
  * absorber's size bound has evicted it (`Late`).
  */
final case class CallStream(keys: Array[String], kinds: Array[Byte],
                            calls: Array[Int]) {
  def nKeys: Int = keys.length
  def nCalls: Int = calls.length
}

object CallStream {
  val Single: Byte = 0
  val Burst: Byte = 1
  val Late: Byte = 2

  val SingleShare = 0.6
  val BurstShare = 0.3

  /** Draws keys until at least `minCalls` calls are laid out and every
    * late copy has been placed. A key whose late copy would land past
    * `minCalls` is delivered once instead, so the stream's length depends
    * only on the seed and the two sizes.
    */
  def generate(seed: Long, minCalls: Int, lateGap: Int): CallStream = {
    val rng = new java.util.SplittableRandom(seed)
    val kinds = mutable.ArrayBuilder.make[Byte]
    val calls = mutable.ArrayBuilder.make[Int]
    var n = 0
    var nKeys = 0
    val pending = mutable.Queue.empty[(Int, Int)] // (due position, key)
    def emit(k: Int): Unit = { calls += k; n += 1 }
    while (n < minCalls || pending.nonEmpty) {
      while (pending.nonEmpty && pending.head._1 <= n) emit(pending.dequeue()._2)
      val k = nKeys
      nKeys += 1
      val u = rng.nextDouble()
      if (u < SingleShare) { kinds += Single; emit(k) }
      else if (u < SingleShare + BurstShare) {
        kinds += Burst
        (1 to 2 + rng.nextInt(3)).foreach(_ => emit(k))
      } else if (n + lateGap < minCalls) {
        kinds += Late
        emit(k)
        pending.enqueue((n + lateGap, k))
      } else { kinds += Single; emit(k) }
    }
    CallStream(Array.tabulate(nKeys)(i => s"k$seed-$i"), kinds.result(), calls.result())
  }
}
