package graft
import org.apache.spark.sql.SparkSession

/** Dev tool (not part of the driver contract): warm-profiles named
  * queries like [[Profile]], but first applies session conf overrides
  * from SPARK_GRAFT_CONF ("key=value;key=value") — for sizing how much
  * of a query's wall clock a given conf (e.g. AQE re-planning) is
  * responsible for, before deciding whether any code change is worth it.
  * Usage:
  *   SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false" \
  *     sbt "runMain graft.ProfileConf q1 q2"
  */
object ProfileConf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // parsed before the session starts, so a malformed value fails at once
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.trim.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF segment '$kv' is not key=value; " +
              "usage: SPARK_GRAFT_CONF=\"key=value;key=value\"")
        }
      }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    overrides.foreach { case (k, v) =>
      spark.conf.set(k, v)
      System.err.println(s"[profileconf] $k=$v")
    }
    for (n <- args.toSeq) {
      val fn = SparkEntry.queries(n)
      val times = (1 to 4).map { _ =>
        val t0 = System.nanoTime(); fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      }
      println(f"PROFILECONF $n%-22s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
