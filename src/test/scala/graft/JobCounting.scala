package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.collection.mutable

/** Spark job counting for suites whose regression metric is the number of
  * jobs a call schedules (paths bound by job scheduling, not data). */
trait JobCounting { self: SparkSpec =>

  /** (jobs, SQL executions) started under `tag` while `body` runs,
    * counted once the listener bus has delivered every event `body`
    * posted. The executions are the distinct `spark.sql.execution.id`s of
    * those jobs, so an execution that ran no job is not counted. */
  def countTagged(tag: String)(body: => Unit): (Int, Int) = {
    val tagged = mutable.Map.empty[Int, Option[String]]
    def prop(e: SparkListenerJobStart, key: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (prop(e, "spark.job.tags").exists(_.split(",").contains(tag)))
          tagged(e.jobId) = prop(e, "spark.sql.execution.id")
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      assert(Dev.drainListenerBus(sc), "listener bus never delivered the fence job")
      listener.synchronized((tagged.size, tagged.values.flatten.toSet.size))
    } finally sc.removeSparkListener(listener)
  }
}
