package perfbench

import java.lang.management.ManagementFactory

/** Machine state around a run: fixed-work ALU and memory-bandwidth probes
  * (the method of `graft.Bench`, at a size that costs well under a second)
  * and the load average. A run whose probes moved between start and end
  * was measured on a machine that changed speed under it. */
object Machine {
  private val sink = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Wall seconds for `threads` concurrent copies of a 100M-step
    * integer-mixing loop: no allocation, no memory traffic. */
  def aluSeconds(threads: Int): Double = {
    def burn(n: Long, seed: Long): Long = {
      var x = seed | 1L; var i = 0L
      while (i < n) {
        x = java.lang.Long.rotateLeft(x * 0x9E3779B97F4A7C15L, 31) ^ i
        i += 1
      }
      x
    }
    sink.addAndGet(burn(10_000_000L, 42L)): Unit // JIT warm-up
    parallel(threads)(k => sink.addAndGet(burn(100_000_000L, k + 1L)): Unit)
  }

  /** Wall seconds for `threads` concurrent readers each sweeping a shared
    * 128 MiB array four times. */
  def memSeconds(threads: Int): Double = {
    val arr = Array.tabulate(16 * 1024 * 1024)(_.toLong)
    def sweep(): Long = {
      var s = 0L; var k = 0
      while (k < arr.length) { s += arr(k); k += 1 }
      s
    }
    sink.addAndGet(sweep()): Unit
    parallel(threads)(_ => (0 until 4).foreach(_ => sink.addAndGet(sweep()): Unit))
  }

  def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def parallel(threads: Int)(body: Int => Unit): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val th = new Thread(() => body(k))
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
