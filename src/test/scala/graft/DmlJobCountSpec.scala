package graft

import graft.sources.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** Every copy-on-write and deletion-vector DML entry point is bound by
  * job scheduling at table_mixed scale, so its Spark job count and its
  * SQL execution count are the regression metrics. Each case runs on a
  * fresh table of 400 rows in 4 range-clustered files at `local[4]`,
  * twice; the second round is counted, so codegen and first-use planning
  * are warm. The bounds are the counts measured once MERGE and CDC apply
  * were planned around one pinned source (one source aggregate, joins
  * against it hinted broadcast under a row-count ceiling, change rows
  * from one co-grouped frame), copy-on-write discovery collected file
  * names without a shuffle, and the deletion-vector sidecar was staged
  * from its pinned rows without one; with the table's `cdc` property off
  * and on. Each case's name keeps the job count it was introduced with,
  * so its identity survives a tightened bound; the asserted bounds are
  * the current counts. A further case has the shape of the table_mixed
  * merge. */
class DmlJobCountSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def table(cdc: Boolean): String = {
    val t = Files.createTempDirectory("dml_jobs").toString
    val rows = (0L until 400L).map(k => (k, k * 10, s"s$k")).toDF("k", "v", "s")
    CommitLog.appendIndexed(spark, t, rows.repartitionByRange(4, col("k")), "k")
    if (cdc) CommitLog.setTableProperty(t, "cdc", "true")
    t
  }

  /** Ten updates of live keys and ten inserts. */
  private def source: DataFrame =
    ((200L until 210L).map(k => (k, k * 10 + 1, s"u$k")) ++
      (1000L until 1010L).map(k => (k, k, s"i$k"))).toDF("k", "v", "s")

  /** A change-feed batch: five updates, five deletes, five inserts. */
  private def changes: DataFrame =
    ((300L until 305L).map(k => (k, k + 1, s"u$k", "update_postimage", 1L)) ++
      (305L until 310L).map(k => (k, k * 10, s"s$k", "delete", 1L)) ++
      (2000L until 2005L).map(k => (k, k, s"i$k", "insert", 1L)))
      .toDF("k", "v", "s", "_change_type", "_commit_version")

  private val hit = col("k") >= 100L && col("k") < 110L
  private val bump = Map("v" -> (col("v") + lit(1L)))

  private val ops: Map[String, String => Long] = Map(
    "delete"   -> (t => CommitLog.deleteWhere(spark, t, hit, indexCol = Some("k"))),
    "deleteDv" -> (t => CommitLog.deleteWhereDv(spark, t, hit)),
    "update"   -> (t => CommitLog.updateWhere(spark, t, hit, bump, indexCol = Some("k"))),
    "updateDv" -> (t => CommitLog.updateWhereDv(spark, t, hit, bump)),
    "merge"    -> (t => CommitLog.mergeInto(spark, t, source, Seq("k"), indexCol = Some("k"))),
    "mergeDv"  -> (t => CommitLog.mergeIntoDv(spark, t, source, Seq("k"))),
    "noMatchDelete" -> (t => CommitLog.deleteWhere(spark, t, col("k") < 0L)),
    "apply"    -> (t => CommitLog.applyChanges(spark, t, changes, Seq("k"))),
    "applyDv"  -> (t => CommitLog.applyChangesDv(spark, t, changes, Seq("k"))))

  /** (entry point, table `cdc` property, job count in the case's name,
    * most jobs, most SQL executions). */
  private val bounds: Seq[(String, Boolean, Int, Int, Int)] = Seq(
    ("delete", false, 3, 2, 2), ("delete", true, 4, 3, 3),
    ("deleteDv", false, 5, 2, 2), ("deleteDv", true, 6, 3, 3),
    ("update", false, 3, 2, 2), ("update", true, 4, 3, 3),
    ("updateDv", false, 6, 3, 3), ("updateDv", true, 7, 4, 4),
    ("merge", false, 11, 6, 3), ("merge", true, 14, 9, 4),
    ("mergeDv", false, 11, 6, 5), ("mergeDv", true, 13, 8, 6),
    ("noMatchDelete", false, 1, 1, 1), ("noMatchDelete", true, 1, 1, 1),
    ("apply", false, 8, 6, 4), ("apply", true, 12, 9, 5),
    ("applyDv", false, 10, 6, 6), ("applyDv", true, 13, 8, 7))

  bounds.foreach { case (name, cdc, named, jobs, execs) =>
    test(s"$name with cdc ${if (cdc) "on" else "off"} runs at most $named Spark jobs") {
      val (ranJobs, ranExecs) = (1 to 2).map { round =>
        val t = table(cdc)
        var version = 0L
        val n = countTagged(s"dml-$name-$cdc-$round") { version = ops(name)(t) }
        if (name == "noMatchDelete") assert(version === -1L, "nothing matched: no commit")
        else assert(version === (if (cdc) 2L else 1L), s"$name must commit one version")
        n
      }.last
      info(s"ran $ranJobs jobs in $ranExecs SQL executions")
      assert(ranJobs <= jobs, s"$name (cdc $cdc) ran $ranJobs jobs; the bound is $jobs")
      assert(ranExecs <= execs,
        s"$name (cdc $cdc) ran $ranExecs SQL executions; the bound is $execs")
    }
  }

  test("a bench-shaped CDC merge runs at most 9 jobs in at most 4 SQL executions") {
    // the table_mixed merge: 8 range-clustered files, 50 live keys updated
    // and 30 new keys inserted, CDC on
    val (jobs, execs) = (1 to 2).map { round =>
      val t = Files.createTempDirectory("dml_bench").toString
      val rows = (0L until 8000L).map(k => (k, k * 10, s"s$k")).toDF("k", "v", "s")
      CommitLog.appendIndexed(spark, t, rows.repartitionByRange(8, col("k")), "k")
      CommitLog.setTableProperty(t, "cdc", "true")
      val src = ((3000L until 3050L).map(k => (k, k * 10 + 1, s"u$k")) ++
        (8000L until 8030L).map(k => (k, k, s"i$k"))).toDF("k", "v", "s")
      val n = countTagged(s"dml-bench-merge-$round") {
        assert(CommitLog.mergeInto(spark, t, src, Seq("k"), indexCol = Some("k")) === 2L)
      }
      val (_, feed) = CommitLog.readChangesCdc(spark, t, 1L)
      assert(feed.get.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("update_preimage" -> 50L, "update_postimage" -> 50L, "insert" -> 30L))
      n
    }.last
    info(s"ran $jobs jobs in $execs SQL executions")
    assert(jobs <= 9, s"the bench-shaped merge ran $jobs jobs; the bound is 9")
    assert(execs <= 4, s"the bench-shaped merge ran $execs SQL executions; the bound is 4")
  }
}
