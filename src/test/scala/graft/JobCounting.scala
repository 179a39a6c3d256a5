package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.collection.mutable

/** Spark job counting for suites whose regression metric is the number of
  * jobs a call schedules (paths bound by job scheduling, not data). */
trait JobCounting { self: SparkSpec =>

  /** Jobs started under `tag` while `body` runs, counted once the
    * listener bus has delivered every event `body` posted. */
  def jobsTagged(tag: String)(body: => Unit): Int = {
    val tagged = mutable.Set.empty[Int]
    def tags(e: SparkListenerJobStart): Set[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (tags(e)(tag)) tagged += e.jobId
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      assert(Dev.drainListenerBus(sc), "listener bus never delivered the fence job")
      listener.synchronized(tagged.size)
    } finally sc.removeSparkListener(listener)
  }
}
