package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** Dev tool (not part of the driver contract): one session, one
  * query-name parser, and one sub-command per question a query can be
  * asked. Every sub-command takes registered [[SparkEntry.queries]] names.
  *
  *   - `time [--rounds n] [--conf k=v]... q...` — apply the session
  *     confs, warm every query once (codegen + JIT), then run `n`
  *     interleaved rounds, so a host stall hits every query alike. Prints
  *     one JSON line with each query's samples, min and median.
  *   - `jobs q...` — one warm run per query under a `SparkListener`;
  *     prints every Spark job with its wall time, SQL execution and its
  *     root plan node, stages, tasks, executor CPU, shuffle bytes and
  *     input records, and how much of the query's wall time jobs cover.
  *   - `stacks q...` — samples every runnable thread's stack at ~5 ms
  *     during one warm run (threads parked in a native poll or wait are
  *     skipped) and prints the most frequent (thread group, first
  *     interesting frame) pairs: what the driver gap consists of.
  *   - `plans [--out dir --suffix s] q...` — the formatted physical plan
  *     of each query, printed, or written to `dir/<query>_<s>.txt` so a
  *     change can commit before/after plan evidence.
  *   - `plandoc [path]` — regenerates `docs/PLANS.md` (or `path`).
  *
  * Arguments are parsed before any session starts, so malformed input
  * fails at once with the usage text. The session is
  * `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle partitions,
  * over the fixture directory `SPARK_GRAFT_SF_DIR`; `docs/PLANS.md` is
  * generated at the default width from the sf0.01 fixture. Usage:
  *   SPARK_GRAFT_SF_DIR=<fixture dir> sbt "runMain graft.Dev time q1_agg"
  */
object Dev {
  sealed trait Cmd
  final case class Time(rounds: Int, confs: Seq[(String, String)],
                        queries: Seq[String]) extends Cmd
  final case class Jobs(queries: Seq[String]) extends Cmd
  final case class Stacks(queries: Seq[String]) extends Cmd
  final case class Plans(out: Option[(String, String)], queries: Seq[String]) extends Cmd
  final case class PlanDoc(path: String) extends Cmd

  val Usage: String =
    """usage: SPARK_GRAFT_SF_DIR=<fixture dir> graft.Dev <command>
      |  time [--rounds n (default 5)] [--conf key=value]... query...
      |  jobs query...
      |  stacks query...
      |  plans [--out dir --suffix s] query...
      |  plandoc [path]   (default docs/PLANS.md)""".stripMargin

  private def usageError(msg: String): Nothing =
    throw new IllegalArgumentException(s"$msg\n$Usage")

  /** Pure: every check that needs no session happens here. */
  def parse(args: Seq[String]): Cmd = args match {
    case "time" +: rest => parseTime(rest, rounds = 5, Vector.empty)
    case "jobs" +: rest => Jobs(queryNames(rest))
    case "stacks" +: rest => Stacks(queryNames(rest))
    case "plans" +: "--out" +: dir +: "--suffix" +: suffix +: rest =>
      Plans(Some(dir -> suffix), queryNames(rest))
    case "plans" +: "--out" +: _ => usageError("plans --out dir needs --suffix s")
    case "plans" +: rest => Plans(None, queryNames(rest))
    case Seq("plandoc") => PlanDoc("docs/PLANS.md")
    case Seq("plandoc", path) => PlanDoc(path)
    case "plandoc" +: _ => usageError("plandoc takes at most one path")
    case _ => usageError(s"unknown command '${args.mkString(" ")}'")
  }

  private def parseTime(args: Seq[String], rounds: Int,
                        confs: Vector[(String, String)]): Time = args match {
    case "--rounds" +: n +: rest => n.toIntOption.filter(_ > 0) match {
      case Some(r) => parseTime(rest, r, confs)
      case None => usageError(s"--rounds needs a positive integer, got '$n'")
    }
    case "--conf" +: kv +: rest => kv.split("=", 2) match {
      case Array(k, v) if k.trim.nonEmpty => parseTime(rest, rounds, confs :+ (k.trim -> v.trim))
      case _ => usageError(s"--conf '$kv' is not key=value")
    }
    case Seq(flag @ ("--rounds" | "--conf")) => usageError(s"$flag needs a value")
    case names => Time(rounds, confs, queryNames(names))
  }

  private def queryNames(names: Seq[String]): Seq[String] = {
    if (names.isEmpty) usageError("name at least one registered query")
    val known = SparkEntry.queries.keySet
    names.find(n => !known.contains(n)).foreach(n => usageError(s"unknown query '$n'"))
    names.distinct
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      usageError("SPARK_GRAFT_SF_DIR must name a fixture directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, cmd) finally spark.stop()
  }

  /** Runs `cmd` on a caller-owned session, which stays open. */
  def run(spark: SparkSession, sfDir: String, cmd: Cmd): Unit = cmd match {
    case t: Time => time(spark, sfDir, t)
    case Jobs(names) => jobs(spark, sfDir, names)
    case Stacks(names) => stacks(spark, sfDir, names)
    case Plans(out, names) => plans(spark, sfDir, out, names)
    case PlanDoc(path) => planDoc(spark, sfDir, path)
  }

  /** Each name with a builder of its query: a fresh DataFrame per call. */
  private def resolve(spark: SparkSession, sfDir: String,
                      names: Seq[String]): Seq[(String, () => DataFrame)] = {
    val all = SparkEntry.queries
    names.map(n => n -> (() => all(n)(spark, sfDir)))
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def time(spark: SparkSession, sfDir: String, t: Time): Unit = {
    val prior = t.confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    t.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val queries = resolve(spark, sfDir, t.queries)
      queries.foreach { case (_, q) => q().count() }
      val samples = mutable.LinkedHashMap(t.queries.map(_ -> Vector.empty[Double]): _*)
      (1 to t.rounds).foreach { _ =>
        queries.foreach { case (n, q) => samples(n) :+= seconds(q().count()) }
      }
      def f3(x: Double) = f"$x%.3f"
      val parts = samples.map { case (n, xs) =>
        val sorted = xs.sorted
        s""""$n":{"sec":${xs.map(f3).mkString("[", ",", "]")},""" +
          s""""min":${f3(sorted.head)},"median":${f3(sorted(sorted.size / 2))}}"""
      }
      val conf = t.confs.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }
      println(s"""{"metric":"time","sf":${jsonString(sfDir)},""" +
        s""""master":${jsonString(spark.sparkContext.master)},"rounds":${t.rounds},""" +
        s""""conf":${conf.mkString("{", ",", "}")},"queries":${parts.mkString("{", ",", "}")}}""")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def prop(e: SparkListenerJobStart, key: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(key)))

  /** Returns once the listener bus has delivered every event posted before
    * the call: a fence job runs under a fresh local property, and the bus
    * delivers its end after every earlier event. False if not seen in 30 s. */
  private[graft] def drainListenerBus(sc: SparkContext): Boolean = {
    val fence = System.nanoTime.toString
    @volatile var fenceJob = -1
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (prop(e, "graft.fence").contains(fence)) fenceJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.fence", fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.fence", null)
      fenced.await(30, TimeUnit.SECONDS)
    } finally sc.removeSparkListener(listener)
  }

  private final case class JobRec(id: Int, t0: Long, exec: Option[String], var t1: Long = 0L,
                                  var stages: Int = 0, var tasks: Int = 0,
                                  var cpuNs: Long = 0L, var shufR: Long = 0L,
                                  var shufW: Long = 0L, var recs: Long = 0L)

  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val sc = spark.sparkContext
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val roots = mutable.HashMap.empty[String, String]
    // only the profiled run's jobs carry "graft.dev.jobs": not the warmup's or the fence's
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        if (prop(e, "graft.dev.jobs").isDefined) {
          jobs(e.jobId) = JobRec(e.jobId, e.time, prop(e, "spark.sql.execution.id"))
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => jobs.synchronized {
          // the execution's root plan node; under AQE, the node the wrapper wraps
          val p = x.sparkPlanInfo
          val root = if (p.nodeName == "AdaptiveSparkPlan") p.children.headOption else None
          roots(x.executionId.toString) = root.getOrElse(p).nodeName
        }
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          val m = e.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.shufR += m.shuffleReadMetrics.totalBytesRead
            j.shufW += m.shuffleWriteMetrics.bytesWritten
            j.recs += m.inputMetrics.recordsRead
          }
        }
      }
    }
    sc.addSparkListener(listener)
    try resolve(spark, sfDir, names).foreach { case (n, q) =>
      q().count() // warmup (codegen+JIT), not profiled
      spark.catalog.clearCache()
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      sc.setLocalProperty("graft.dev.jobs", n)
      val wall = try seconds(q().count()) finally sc.setLocalProperty("graft.dev.jobs", null)
      if (!drainListenerBus(sc)) System.err.println(s"[dev] listener bus not drained; $n may be incomplete")
      println(f"\n=== $n  wall=$wall%.3f s  jobs=${jobs.size} ===")
      var covered = 0L
      jobs.synchronized {
        jobs.values.foreach { j =>
          val w = (j.t1 - j.t0) / 1e3
          covered += (j.t1 - j.t0)
          val exec = j.exec.fold("-")(id => s"$id ${roots.getOrElse(id, "?")}")
          println(f"  job ${j.id}%3d  ${w}%7.3f s  exec=$exec%-24s stages=${j.stages}%2d tasks=${j.tasks}%4d " +
            f"cpu=${j.cpuNs / 1e9}%7.2f s  shufR=${j.shufR / 1024}%8d KB shufW=${j.shufW / 1024}%8d KB " +
            f"in=${j.recs}%9d")
        }
      }
      println(f"  job-covered wall: ${covered / 1e3}%.3f s of $wall%.3f s (gap = driver/planning/IO)")
    } finally sc.removeSparkListener(listener)
  }

  /** The first Spark/graft/IO frame from the top of a stack. */
  private def interesting(st: Array[StackTraceElement]): String = {
    val s = st.find { e =>
      val c = e.getClassName
      (c.startsWith("org.apache.spark.sql.catalyst") ||
       c.startsWith("org.apache.spark.sql.execution") ||
       c.startsWith("org.apache.spark.sql.sources") ||
       c.startsWith("graft") ||
       c.startsWith("org.apache.parquet") ||
       c.startsWith("org.apache.hadoop") ||
       c.startsWith("org.apache.spark.scheduler") ||
       c.startsWith("java.io") || c.startsWith("java.nio") ||
       c.startsWith("org.codehaus.janino")) &&
      !c.contains("Logging")
    }.orElse(st.headOption)
    s.map(e => e.getClassName.replaceAll("^org\\.apache\\.spark\\.sql\\.", "sql.")
      .replaceAll("^org\\.apache\\.", "") + "." + e.getMethodName)
      .getOrElse("<empty>")
  }

  /** A thread whose top frame is a native poll, wait, select or accept
    * is parked in the kernel even though the JVM reports it `RUNNABLE`
    * (netty's `epollWait` event loops, NIO selectors): sampling it would
    * bury the frames that do work under idle I/O threads. */
  private[graft] def parkedInNative(st: Array[StackTraceElement]): Boolean =
    st.headOption.exists(e => e.isNativeMethod && ParkedNative.matches(e.getMethodName))

  private val ParkedNative = "(?i).*(poll|wait|select|accept).*".r

  private def stacks(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    resolve(spark, sfDir, names).foreach { case (n, q) =>
      q().count() // warmup
      spark.catalog.clearCache()
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var run = true
      val sampler = new Thread(() => {
        while (run) {
          Thread.getAllStackTraces.forEach { (t, st) =>
            if (st.nonEmpty && t.getState == Thread.State.RUNNABLE &&
                !parkedInNative(st) && !t.getName.contains("sampler")) {
              val grp =
                if (t.getName == "main") "main"
                else if (t.getName.contains("Executor task launch")) "task"
                else t.getName.replaceAll("-\\d+$", "")
              counts.merge(grp + " | " + interesting(st), 1, (a, b) => a + b)
            }
          }
          Thread.sleep(5)
        }
      }, "sampler")
      sampler.setDaemon(true)
      val t0 = System.nanoTime()
      sampler.start()
      q().count()
      run = false
      val wall = (System.nanoTime() - t0) / 1e9
      sampler.join(200)
      println(f"\n=== $n  wall=$wall%.3f s ===")
      import scala.jdk.CollectionConverters._
      counts.asScala.toSeq.sortBy(-_._2.intValue).take(28).foreach {
        case (k, v) => println(f"  $v%5d  $k")
      }
    }

  private def formatted(q: DataFrame): String =
    q.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def plans(spark: SparkSession, sfDir: String,
                    out: Option[(String, String)], names: Seq[String]): Unit =
    resolve(spark, sfDir, names).foreach { case (n, q) =>
      out match {
        case Some((dir, suffix)) =>
          println(s"[plans] $n")
          Files.createDirectories(Paths.get(dir))
          Files.write(Paths.get(dir, s"${n}_$suffix.txt"), formatted(q()).getBytes("UTF-8"))
        case None =>
          println(s"\n================ $n ================")
          println(formatted(q()))
      }
    }

  /** Queries that build a table in a fresh temporary directory print its
    * random name in their scan nodes; `<tmp>/occ_sql*` stands for
    * `/tmp/occ_sql<digits>` so the plan document is the same on every
    * run of one tree. */
  private[graft] def stableTempPaths(text: String): String =
    text.replaceAll(java.util.regex.Pattern.quote(
      System.getProperty("java.io.tmpdir").stripSuffix("/")) +
      "/([^/\\s,)\\]]*?)\\d+(?=[/\\s,)\\]]|$)", "<tmp>/$1*")

  /** Every registered query exactly once (alphabetical, with an index):
    * the compact plan tree, without the `AdaptiveSparkPlan` root and the
    * node-detail section. History lives in git, not in the document. */
  private def planDoc(spark: SparkSession, sfDir: String, outPath: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb ++= s"""# Physical plans — every registered query ($sfDir, ${spark.sparkContext.master})
              |
              |Generated by `sbt "runMain graft.Dev plandoc"` on the current tree; one
              |compact plan tree per registered query (${names.size} total), alphabetical.
              |Every root is an `AdaptiveSparkPlan` (elided below, with the
              |`== Physical Plan ==` banner). What the trees prove: dimension joins
              |are `BroadcastHashJoin`, aggregations come as partial+final
              |`HashAggregate` pairs (map-side combine), every `Window` sits over a
              |hash-partitioned `Exchange` (never SinglePartition), and no
              |`CartesianProduct` appears anywhere (PlanGuardSpec enforces the same
              |properties mechanically, with exact sanctioned BNLJ counts).
              |Node-level detail — `PushedFilters`/`ReadSchema` pushdown evidence,
              |join build sides, codegen spans — comes from
              |`sbt "runMain graft.Dev plans <name>"`. History lives in git.
              |
              |## Index
              |
              |""".stripMargin
    names.foreach(n => sb ++= s"- `$n`\n")
    sb ++= "\n## Plans\n"
    resolve(spark, sfDir, names).foreach { case (n, q) =>
      println(s"[plandoc] $n")
      val text = stableTempPaths(formatted(q()))
        .split("\n\n").head.linesIterator
        .filterNot(l => l.startsWith("== Physical Plan ==") ||
          l.startsWith("AdaptiveSparkPlan"))
        .mkString("\n").stripLineEnd
      sb ++= s"\n### $n\n\n```\n$text\n```\n"
    }
    Files.write(Paths.get(outPath), sb.toString.getBytes("UTF-8"))
    println(s"[plandoc] wrote $outPath (${sb.toString.linesIterator.size} lines)")
  }
}
