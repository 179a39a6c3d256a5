package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Fixed protocol, whatever else sits in the working directory: each
  * query gets one untimed warmup run (whole-stage codegen compile + JIT —
  * at small scale factors that overhead is several times the actual query
  * cost), then [[Samples]] timed runs; the headline is the min of them.
  * Queries run in sorted name order so timings are comparable across
  * runs. Every raw sample goes into the file artifact, so a host stall
  * that outlasts all samples is visible there instead of masquerading as
  * query cost.
  */
object Bench {
  private val Samples = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Optional subset run (the sf10 heavy-tail soak, r18 verdict #4):
    // SPARK_GRAFT_BENCH_QUERIES=a,b,c limits the pass to those names.
    // Subset artifacts must be pointed elsewhere via SPARK_GRAFT_BENCH_OUT
    // so they never masquerade as a full-registry record.
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results: Seq[(String, List[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        // Defense in depth against any operator that pins storage: no
        // entry's timing may inherit another's (or its own warmup's)
        // cached blocks — operators manage persistence internally per
        // invocation, so dropping everything between runs is safe.
        spark.catalog.clearCache()
        val samples =
          try {
            fn(spark, sfDir).count() // warmup: codegen + JIT, untimed
            List.fill(Samples) {
              spark.catalog.clearCache()
              timed(fn(spark, sfDir).count())
            }
          } catch { case _: Throwable => List(-1.0) }
        name -> samples
      }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v.min >= 0 => v.min }.sum
    // Failures are explicit next to the total (judge advice r9): a -1.0
    // sentinel inside `queries` silently shrinks `value`, so a consumer
    // reading only the headline would misread broken-but-fast as fast.
    val failedNames = results.collect { case (k, v) if v.min < 0 => k }
    val failedJson = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":${failedNames.size},"failed_queries":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only the stdout TAIL, which truncated a third of
    // every committed BENCH_r{N}.json mid-dict — the file is the full
    // record, with raw per-query sample arrays so a host stall is
    // diagnosable from the artifact alone.
    val samplesJson = results
      .map { case (k, v) => s"\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","failed":${failedNames.size},"failed_queries":$failedJson,"wall_ms_epoch":${System.currentTimeMillis()},"queries":$qs,"samples":$samplesJson,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_${new java.io.File(sfDir).getName}_c${cpus}_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"bench file write failed: $e") }
    // FINAL stdout line (r19 verdict #2): the driver captures only a ~2 kB
    // stdout tail, and the 218-query per-query line above is ~15 kB — so
    // the tail ends mid-dict and the driver's bench comparison parses
    // nothing. Emit a compact (<500 B) one-line JSON LAST with the headline
    // numbers and a pointer to the full artifact; the per-query line above
    // is unchanged (additions only, old consumers keep working).
    val compact = s"""{"total":$total,"n":${results.size},"failed_queries":$failedJson,"sf":"$sfDir","cpus":"$cpus","artifact":"$out"}"""
    println(compact)
    spark.stop()
  }
}
