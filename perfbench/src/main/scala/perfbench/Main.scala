package perfbench

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val args: Args, val rec: Record,
                val tracer: Option[Tracer], val host: HostSampler) {
  val rng = new scala.util.Random(args.seed)
  val probe = new SpeedProbe()
  private val probeRounds = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
  rec.values("probe") = probeRounds
  // compile the kernel before any round counts
  (0 until 20).foreach(_ => probe.round())
  probeSetup()

  /** One probe round, recorded as (start, wall ms, cpu ms). */
  private def probeRound(): Unit = {
    val t = Clock.nowMs
    val (wall, cpu) = probe.round()
    probeRounds += Seq(t, wall, cpu)
  }
  /** Probe rounds for the set-up's speed, taken before and after it. */
  private def probeSetup(): Unit = (0 until 5).foreach(_ => probeRound())

  /** Time one operation; in a traced process its Spark jobs carry the
    * operation's tag. Inside the timed window a probe round runs first,
    * outside the operation's time. */
  def op[T](kind: String, name: String, fields: (String, Any)*)(body: => T): Option[T] = {
    if (!rec.windowStartMs.isNaN && rec.windowEndMs.isNaN) probeRound()
    val id = rec.ops.size
    tracer match {
      case Some(t) => rec.op(kind, name, fields: _*)(t.tagged(id)(body))
      case None => rec.op(kind, name, fields: _*)(body)
    }
  }

  /** Wall seconds of each of `reps` runs of a repeatable set-up step (the
    * set-up figure takes their median). */
  def timedReps(label: String, reps: Int)(body: Int => Unit): Unit = {
    val secs = (0 until reps).map { i =>
      val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
    }
    rec.setup(label) = secs
  }

  def timeOnce[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    rec.setup(label) = (System.nanoTime() - t0) / 1e9
    out
  }

  /** The timed window. Process CPU time is read at both ends for the
    * CPU-per-operation figure. */
  def beginWindow(): Unit = {
    probeSetup()
    rec.values("window_cpu_ms_start") = host.cpuMsNow
    rec.windowStartMs = Clock.nowMs
  }
  def endWindow(): Unit = {
    rec.windowEndMs = Clock.nowMs
    rec.values("window_cpu_ms") = host.cpuMsNow -
      rec.values("window_cpu_ms_start").asInstanceOf[Double]
  }
  /** Retained memory, read once the workload's streams are idle. */
  def recordRetained(): Unit = {
    probe.close()
    rec.values("retained_mb") = Host.retainedMb()
  }
  def dir(name: String): String = {
    val d = new java.io.File(args.work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String, expected: String,
                      calibration: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      m.getOrElse("expected", ""), m.getOrElse("calibration", ""))
  }
}

/** One benchmark process: build the session, run one workload (set-up,
  * timed window, correctness checks), write the raw record as JSON. The
  * Python launcher turns the record into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val rec = new Record(args.workload, args.seed, args.trace)
    val host = new HostSampler()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", new java.io.File(args.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.setup("session_s") = (Clock.nowMs - jvmStartMs) / 1000.0
    val tracer = if (args.trace) Some(new Tracer(spark).install()) else None
    val ctx = new Ctx(spark, args, rec, tracer, host)
    args.workload match {
      case "analytics_suite" => Analytics.run(ctx)
      case "table_mixed" => TableMixed.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec.values("after_window_s") = (Clock.nowMs - rec.windowEndMs) / 1000.0
    val spans = tracer.map(_.finish()).getOrElse(Map.empty)
    val samples = host.stop()
    val json = rec.toJson(Map(
      "jvm_start_ms" -> jvmStartMs,
      "peak_rss_mb" -> Host.peakRssMb,
      "host_samples" -> samples,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spans" -> spans))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), json)
    spark.stop()
    // idle non-daemon pools the workload's queries leave behind would
    // otherwise hold the JVM open until their keep-alive runs out
    sys.exit(0)
  }
}
