package perfbench

import org.apache.spark.sql.SparkSession

/** Builds the analytics_suite expected-digest file from a `graft.Verify`
  * dump that `tools/check.py` has compared with DuckDB: only queries the
  * check reported as PASS get a digest.
  *
  * Usage: MakeExpected <verify-dir> <check.py output> <out.tsv> <provenance line>... */
object MakeExpected {
  def main(argv: Array[String]): Unit = {
    val Array(dump, checkLog, out) = argv.take(3)
    val passed = {
      val src = scala.io.Source.fromFile(checkLog)
      try src.getLines().collect { case l if l.startsWith("PASS ") => l.split(" ")(1) }.toSet
      finally src.close()
    }
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    val lines = Analytics.readOnly.filter(passed).map { q =>
      s"$q\t${Digest.of(spark.read.parquet(s"$dump/$q")).render}"
    }
    val header = argv.drop(3).map("# " + _)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      (header ++ lines).mkString("", "\n", "\n"))
    spark.stop()
  }
}
