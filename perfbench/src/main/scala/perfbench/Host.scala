package perfbench

import scala.collection.mutable.ArrayBuffer

/** Host-stall evidence sampled inside the measured process: a daemon
  * thread wakes every `periodMs` and records wall time against the
  * process's CPU time. A wake-up that arrives far later than scheduled
  * means the whole process was descheduled or paused; the analysis marks
  * every operation that overlaps such a gap instead of dropping it. */
final class HostSampler(periodMs: Long = 50L) {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val samples = ArrayBuffer.empty[(Double, Double)]
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val s = (Clock.nowMs, os.getProcessCpuTime / 1e6)
      samples.synchronized(samples += s)
      Thread.sleep(periodMs)
    }
  }, "perfbench-host-sampler")
  thread.setDaemon(true)
  thread.start()

  def cpuMsNow: Double = os.getProcessCpuTime / 1e6

  def stop(): Seq[Seq[Double]] = {
    running = false
    thread.join()
    samples.synchronized(samples.map { case (t, c) => Seq(t, c) }.toSeq)
  }
}

object Host {
  /** Memory the driver JVM still holds after a full collection: live heap
    * plus non-heap (metaspace, code cache), in MiB. Unlike the resident
    * set it does not depend on how far the collector let the heap grow,
    * so it tracks what the program keeps: caches, metadata, classes. */
  def retainedMb(): Double = {
    // The first collection leaves Spark's context cleaner to drop the
    // broadcasts, shuffles and blocks it made unreachable; only the second
    // sees the memory the program really keeps.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Resident-set high-water mark of this JVM, in MiB (`VmHWM`). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
