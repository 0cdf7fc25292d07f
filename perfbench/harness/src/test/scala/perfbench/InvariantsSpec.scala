package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InvariantsSpec extends AnyFunSuite {
  /** Three keys delivered once, twice and three times, each run once. */
  private def clean(): KeyLedger = {
    val l = new KeyLedger(3)
    (0 until 3).foreach { k =>
      l.blockRuns.set(k, 1)
      l.calls.set(k, k + 1)
      l.successes.set(k, 1)
      l.duplicates.set(k, k)
    }
    l
  }
  private val key: Int => String = k => s"k$k"

  test("a clean pass has no breaches") {
    assert(Invariants.check(clean(), key, _ => 1).isEmpty)
  }

  test("a planted double run is rejected") {
    val l = clean()
    l.blockRuns.set(1, 2)
    l.successes.set(1, 2)
    l.duplicates.set(1, 0)
    val b = Invariants.check(l, key, k => if (k == 1) 2 else 1)
    assert(b.exists(_.contains("k1: block ran 2 times")))
  }

  test("a planted lost key is rejected") {
    val l = clean()
    l.blockRuns.set(2, 0)
    l.successes.set(2, 0)
    l.duplicates.set(2, 3)
    val b = Invariants.check(l, key, k => if (k == 2) 0 else 1)
    assert(b == Seq("k2: block never ran"))
  }

  test("SUCCESS rows that disagree with block runs, and calls without an outcome, are rejected") {
    val l = clean()
    l.calls.set(0, 2)
    val b = Invariants.check(l, key, k => if (k == 1) 2 else 1)
    assert(b.exists(_.startsWith("k1: 2 SUCCESS rows")))
    assert(b.exists(_.startsWith("k0: 2 calls but 1 outcomes")))
  }
}
