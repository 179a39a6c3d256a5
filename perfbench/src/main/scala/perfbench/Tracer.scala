package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder: Spark's own listeners, registered from the
  * benchmark only in a `--trace 1` process, collect spans in memory —
  * SQL executions (with Catalyst phase times from `qe.tracker`), jobs,
  * stages with their task metrics, and streaming micro-batch progress.
  * Phase times come from the `SparkListenerSQLExecutionEnd` event, which
  * carries the same `QueryExecution` a `QueryExecutionListener` receives
  * plus the execution id that listener's callback lacks.
  * Each operation the workload times carries a job tag `pb-op-<id>`, so
  * executions and jobs attribute to operations by tag, not by guessing
  * from overlapping time windows. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val sqlStarts = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sqlEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.add(Map("job" -> e.jobId, "t0" -> e.time.toDouble,
        "exec" -> prop("spark.sql.execution.id"),
        "tags" -> prop("spark.job.tags"),
        "stream" -> prop("sql.streaming.queryId"),
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(Map("job" -> e.jobId, "t1" -> e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val tm: Map[String, Any] =
        if (m == null) Map.empty
        else Map(
          "cpu_ms" -> m.executorCpuTime / 1e6, "run_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble, "input_bytes" -> m.inputMetrics.bytesRead,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "tasks" -> s.numTasks,
        "t0" -> s.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
        "t1" -> s.completionTime.map(_.toDouble).getOrElse(Double.NaN)) ++ tm)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.add(Map("exec" -> s.executionId.toString, "t0" -> s.time.toDouble,
          "root" -> s.rootExecutionId.map(_.toString).getOrElse(""),
          "tags" -> s.jobTags.toSeq.sorted.mkString(",")))
      case s: SparkListenerSQLExecutionEnd =>
        sqlEnds.add(Map("exec" -> s.executionId.toString, "t1" -> s.time.toDouble))
        // the event carries the QueryExecution that QueryExecutionListener
        // callbacks receive, and unlike them it also names the execution
        SparkInternals.queryExecution(s).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          phases.add(Map("exec" -> s.executionId.toString,
            "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
            "planning_ms" -> ms("planning")))
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("query" -> Option(p.name).getOrElse(p.id.toString),
        "batch" -> p.batchId, "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.batchDuration.toDouble, "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "start_offset" -> p.sources.headOption.map(s => Option(s.startOffset).getOrElse("")).getOrElse(""),
        "end_offset" -> p.sources.headOption.map(s => Option(s.endOffset).getOrElse("")).getOrElse("")))
    }
  }

  def install(): this.type = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Run `body` with this thread's Spark jobs tagged as operation `id`. */
  def tagged[T](id: Int)(body: => T): T = {
    val tag = s"pb-op-$id"
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  /** Wait for the listener bus to deliver everything already posted, then
    * detach and return the spans. */
  def finish(): Map[String, Any] = {
    SparkInternals.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    Map("sql_starts" -> sqlStarts.asScala.toSeq, "sql_ends" -> sqlEnds.asScala.toSeq,
      "phases" -> phases.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
      "job_ends" -> jobEnds.asScala.toSeq, "stages" -> stages.asScala.toSeq,
      "progress" -> progress.asScala.toSeq)
  }
}
