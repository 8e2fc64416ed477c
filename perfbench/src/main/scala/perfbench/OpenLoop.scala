package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Open-loop load: request `i` is due at `dueNs(i)` whether or not
  * earlier ones have completed, and a fixed pool of client threads
  * sends them. Latency counts from the due time, so a stall also
  * charges the wait it imposes on the requests queued behind it; the
  * lag from due to send shows how late the generator ran. */
object OpenLoop {
  final case class Sample(index: Int, dueNs: Long, sentNs: Long, doneNs: Long, ok: Boolean) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def serviceMs: Double = (doneNs - sentNs) / 1e6
    def lagMs: Double = (sentNs - dueNs) / 1e6
  }
  final case class Result(samples: Array[Sample], inFlightMax: Int)

  /** Runs `op(i)` for every index of `dueNs` (nanosecond offsets from
    * `startNs`, ascending) on `workers` threads; `op` returns whether
    * the answer was correct, and a thrown exception counts as a
    * failure. Returns once every request has completed. */
  def run(dueNs: Array[Long], workers: Int, startNs: Long)(op: Int => Boolean): Result = {
    val queue = new LinkedBlockingQueue[Integer]()
    val samples = new Array[Sample](dueNs.length)
    val inFlight = new AtomicInteger(0)
    val inFlightMax = new AtomicInteger(0)
    val threads = (0 until workers).map { w =>
      val t = new Thread(() => {
        var running = true
        while (running) {
          val i: Int = queue.take()
          if (i < 0) running = false
          else {
            val sent = System.nanoTime()
            val now = inFlight.incrementAndGet()
            inFlightMax.accumulateAndGet(now, math.max)
            val ok = try op(i) catch { case _: Exception => false }
            inFlight.decrementAndGet()
            samples(i) = Sample(i, startNs + dueNs(i), sent, System.nanoTime(), ok)
          }
        }
      }, s"perfbench-client-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    var i = 0
    while (i < dueNs.length) {
      val wait = startNs + dueNs(i) - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      queue.put(i)
      i += 1
    }
    threads.foreach(_ => queue.put(-1))
    threads.foreach(_.join())
    Result(samples, inFlightMax.get())
  }

  /** Evenly spaced due times for `rate` requests per second over
    * `seconds`, starting half an interval in. */
  def schedule(rate: Double, seconds: Double): Array[Long] = {
    val n = math.round(rate * seconds).toInt
    val gap = 1e9 / rate
    Array.tabulate(n)(k => ((k + 0.5) * gap).toLong)
  }
}
