package perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit}

/** Host-speed probe. A shared host runs the same work slower or faster from
  * one minute to the next: when its neighbours are busy, a CPU second does
  * less work, and the benchmark's timings drift with them (process CPU
  * time drifts with wall time, their ratio holds steady). The probe runs
  * one fixed kernel on [[Threads]] threads at once, as many as Spark's
  * task slots, between the timed operations: integer arithmetic and
  * random reads and writes over a table per thread larger than a core's
  * private cache. Its wall and CPU times, against those of a quiet host,
  * scale the run's timings to that host's speed (see `metrics.py`). The
  * probe allocates nothing per round and calls no program code. */
final class SpeedProbe {
  import SpeedProbe._
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  private val pool = Executors.newFixedThreadPool(Threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-probe")
    t.setDaemon(true)
    t
  })
  private var tables = Array.fill(Threads)(new Array[Int](TableInts))

  /** One round: wall ms and the probe threads' CPU ms. */
  def round(): (Double, Double) = {
    val t0 = System.nanoTime()
    val tasks = (0 until Threads).map { i =>
      val table = tables(i)
      pool.submit(new Callable[Long] {
        def call(): Long = {
          val c0 = mx.getCurrentThreadCpuTime
          kernel(table, i + 1L)
          mx.getCurrentThreadCpuTime - c0
        }
      })
    }
    val cpuNs = tasks.map(_.get()).sum
    ((System.nanoTime() - t0) / 1e6, cpuNs / 1e6)
  }

  /** Release the threads and tables before memory is measured. */
  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    tables = null
  }
}

object SpeedProbe {
  val Threads = 4
  /** 2 MiB per thread. */
  val TableInts: Int = 1 << 19
  val Steps = 6000000

  private var sink = 0L

  def kernel(table: Array[Int], seed: Long): Unit = {
    val mask = table.length - 1
    var x = seed
    var acc = 0L
    var i = 0
    while (i < Steps) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val j = (x >>> 40).toInt & mask
      table(j) += 1
      acc += table((j * 7 + 13) & mask) ^ (x >>> 17)
      i += 1
    }
    sink += acc
  }
}
