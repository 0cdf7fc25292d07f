package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CallStreamSpec extends AnyFunSuite {
  private val gap = 3000
  private val stream = CallStream.generate(11L, 50000, gap)

  private def share(kind: Byte): Double = stream.kinds.count(_ == kind).toDouble / stream.nKeys

  private val perKey: Array[Int] = {
    val n = new Array[Int](stream.nKeys)
    stream.calls.foreach(k => n(k) += 1)
    n
  }

  test("one seed always gives the same stream, another seed a different one") {
    val again = CallStream.generate(11L, 50000, gap)
    assert(again.keys.sameElements(stream.keys))
    assert(again.calls.sameElements(stream.calls))
    assert(again.kinds.sameElements(stream.kinds))
    assert(!CallStream.generate(12L, 50000, gap).calls.sameElements(stream.calls))
  }

  test("every key is new and the stream has at least the asked length") {
    assert(stream.keys.distinct.length == stream.nKeys)
    assert(stream.nCalls >= 50000 && stream.nCalls < 50000 + 4)
    assert(perKey.forall(_ >= 1))
  }

  test("the duplicate shares are about 60 / 30 / 10 percent of keys") {
    assert(math.abs(share(CallStream.Single) - 0.6) < 0.03)
    assert(math.abs(share(CallStream.Burst) - 0.3) < 0.02)
    assert(math.abs(share(CallStream.Late) - 0.1) < 0.02)
  }

  test("bursts are 2 to 4 adjacent copies; late keys get one copy after the gap") {
    val first = Array.fill(stream.nKeys)(-1)
    val last = Array.fill(stream.nKeys)(-1)
    stream.calls.zipWithIndex.foreach { case (k, i) =>
      if (first(k) < 0) first(k) = i
      last(k) = i
    }
    val per = perKey
    (0 until stream.nKeys).foreach { k =>
      stream.kinds(k) match {
        case CallStream.Single => assert(per(k) == 1)
        case CallStream.Burst =>
          assert(per(k) >= 2 && per(k) <= 4)
          assert(last(k) - first(k) == per(k) - 1, s"burst of key $k is not adjacent")
        case CallStream.Late =>
          assert(per(k) == 2)
          assert(last(k) - first(k) >= gap)
      }
    }
  }
}
