package graft

import graft.sources.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** Every copy-on-write and deletion-vector DML entry point is bound by
  * job scheduling at table_mixed scale, so its Spark job count is the
  * regression metric. Each case runs on a fresh table of 400 rows in 4
  * range-clustered files at `local[4]`, twice; the second round is
  * counted, so codegen and first-use planning are warm. The bounds are
  * the counts the entry points ran before they shared one plan builder,
  * with the table's `cdc` property off and on. The one exception is
  * `apply`/`applyDv` with CDC on: they used to ignore the property and
  * ran 8 / 10 jobs without writing the change files it asks for;
  * staging those rows costs 4 / 3 jobs more. */
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

  /** (entry point, table `cdc` property, most jobs it may run). */
  private val bounds: Seq[(String, Boolean, Int)] = Seq(
    ("delete", false, 3), ("delete", true, 4),
    ("deleteDv", false, 5), ("deleteDv", true, 6),
    ("update", false, 3), ("update", true, 4),
    ("updateDv", false, 6), ("updateDv", true, 7),
    ("merge", false, 11), ("merge", true, 14),
    ("mergeDv", false, 11), ("mergeDv", true, 13),
    ("noMatchDelete", false, 1), ("noMatchDelete", true, 1),
    ("apply", false, 8), ("apply", true, 12),
    ("applyDv", false, 10), ("applyDv", true, 13))

  bounds.foreach { case (name, cdc, most) =>
    test(s"$name with cdc ${if (cdc) "on" else "off"} runs at most $most Spark jobs") {
      val counted = (1 to 2).map { round =>
        val t = table(cdc)
        var version = 0L
        val jobs = jobsTagged(s"dml-$name-$cdc-$round") { version = ops(name)(t) }
        if (name == "noMatchDelete") assert(version === -1L, "nothing matched: no commit")
        else assert(version === (if (cdc) 2L else 1L), s"$name must commit one version")
        jobs
      }
      assert(counted.last <= most, s"$name (cdc $cdc) ran ${counted.last} jobs; the bound is $most")
    }
  }
}
