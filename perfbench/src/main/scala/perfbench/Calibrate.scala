package perfbench

import org.apache.spark.sql.SparkSession

/** Times every read-only registry query once cold and twice warm, each
  * result consumed in full through [[Digest]], one query at a time with
  * the cache cleared in between, on `local[4]` — the pass that
  * [[Analytics.sample]] picks its queries from.
  *
  * Usage: Calibrate <sf-dir> <out.tsv> <provenance line>...
  * Writes `query family cold_ms warm1_ms warm2_ms`, tab-separated, after
  * the provenance lines as `#` comments. */
object Calibrate {
  def main(argv: Array[String]): Unit = {
    val Array(data, out) = argv.take(2)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val reg = graft.SparkEntry.queries
    val queries = Analytics.readOnly
    def pass(): Map[String, Double] = queries.map { q =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Digest.of(reg(q)(spark, data))
      q -> (System.nanoTime() - t0) / 1e6
    }.toMap
    val cold = pass()
    val warm1 = pass()
    val warm2 = pass()
    val header = argv.drop(2).map("# " + _).toSeq :+ "# query\tfamily\tcold_ms\twarm1_ms\twarm2_ms"
    val lines = queries.map { q =>
      f"$q\t${Analytics.family(q)}\t${cold(q)}%.1f\t${warm1(q)}%.1f\t${warm2(q)}%.1f"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      (header ++ lines).mkString("", "\n", "\n"))
    spark.stop()
  }
}
