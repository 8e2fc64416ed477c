package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  test("latency counts from the due time, so a stall charges the requests behind it") {
    // five requests all due at once, one client thread, 50 ms each: the
    // k-th waits for k earlier ones
    val due = Array.fill(5)(0L)
    val r = OpenLoop.run(due, workers = 1, startNs = System.nanoTime()) { _ => Thread.sleep(50); true }
    val s = r.samples.sortBy(_.sentNs)
    for ((x, k) <- s.zipWithIndex) {
      assert(x.serviceMs >= 49 && x.serviceMs < 150, s"service $k: ${x.serviceMs}")
      assert(x.latencyMs >= 50.0 * (k + 1) - 1, s"latency $k: ${x.latencyMs}")
      assert(x.lagMs >= 50.0 * k - 1, s"lag $k: ${x.lagMs}")
    }
    assert(r.inFlightMax == 1)
    assert(s.forall(_.ok))
  }

  test("requests are sent on schedule when clients are free, and failures are recorded") {
    val due = OpenLoop.schedule(rate = 20, seconds = 1)
    assert(due.length == 20)
    assert(due.zip(due.tail).forall { case (a, b) => b - a == 50000000L })
    val r = OpenLoop.run(due, workers = 2, startNs = System.nanoTime()) { i =>
      if (i == 3) throw new RuntimeException("boom") else i % 5 != 0
    }
    assert(r.samples.map(_.lagMs).max < 100)
    assert(r.samples.count(!_.ok) == 5) // 0, 5, 10, 15 and the throw
  }
}
