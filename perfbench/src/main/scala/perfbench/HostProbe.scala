package perfbench

import java.util.concurrent.{Callable, Executors}

/** A fixed piece of CPU and memory work that touches neither the engine
  * nor Spark: every thread of a pool the size of the machine sorts its own
  * copy of the same 64K longs. Its wall time tracks how fast the shared
  * host runs the process at the moment, independently of the program. */
final class HostProbe(threads: Int) {
  private val N = 1 << 16
  private val base: Array[Long] = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(N)(r.nextLong())
  }
  private val bufs =
    ThreadLocal.withInitial[Array[Long]](() => new Array[Long](N))
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-probe")
    t.setDaemon(true)
    t
  })
  private val task: Callable[Long] = () => {
    val b = bufs.get
    System.arraycopy(base, 0, b, 0, N)
    java.util.Arrays.sort(b)
    var h = 0L
    var i = 0
    while (i < N) { h = h * 31 + b(i); i += 1 }
    h
  }

  /** Wall milliseconds of one probe: the fastest of three rounds, so a
    * garbage-collection pause the program's own allocations cause, or a
    * momentary stall, does not count as a slow host. */
  def ms(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val fs = (0 until threads).map(_ => pool.submit(task))
    fs.foreach(_.get())
    (System.nanoTime() - t0) / 1e6
  }.min
}
