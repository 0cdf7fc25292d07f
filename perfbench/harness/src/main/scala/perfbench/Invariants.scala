package perfbench

/** What the clients saw for each key of one pass. */
final class KeyLedger(val nKeys: Int) {
  import java.util.concurrent.atomic.AtomicIntegerArray
  val blockRuns = new AtomicIntegerArray(nKeys)
  val calls = new AtomicIntegerArray(nKeys)
  val successes = new AtomicIntegerArray(nKeys)
  val duplicates = new AtomicIntegerArray(nKeys)
  val failures = new AtomicIntegerArray(nKeys)
}

/** The provider's exactly-once contract, checked per key after a pass. */
object Invariants {

  /** Breaches, one line each: a block that ran twice, a key whose block
    * never ran, a log whose SUCCESS rows disagree with the block runs,
    * and calls that do not add up to their outcomes.
    * `successRows(k)` counts the SUCCESS rows the log holds for key k.
    */
  def check(ledger: KeyLedger, keys: Int => String, successRows: Int => Int): Seq[String] =
    (0 until ledger.nKeys).flatMap { k =>
      val runs = ledger.blockRuns.get(k)
      val rows = successRows(k)
      val outcomes = ledger.successes.get(k) + ledger.duplicates.get(k) + ledger.failures.get(k)
      Seq(
        if (runs > 1) Some(s"${keys(k)}: block ran $runs times") else None,
        if (runs == 0) Some(s"${keys(k)}: block never ran") else None,
        if (rows != runs) Some(s"${keys(k)}: $rows SUCCESS rows for $runs block runs") else None,
        if (outcomes != ledger.calls.get(k))
          Some(s"${keys(k)}: ${ledger.calls.get(k)} calls but $outcomes outcomes") else None
      ).flatten
    }
}
