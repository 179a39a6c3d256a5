package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import java.nio.file.Files

/** Feed-row pacing agrees with the feeds it paces. One CDC-on table goes
  * through every commit kind, then for each version `v`:
  *   - `versionFeedRows(v, cdc = false)` equals the rows `readChanges`
  *     delivers over `(v-1, v]`;
  *   - `versionFeedRows(v, cdc = true)` equals the rows `readChangesCdc`
  *     delivers, except for a restore, where it is an upper bound. */
class FeedConsistencySpec extends SparkSpec {
  import spark.implicits._

  test("versionFeedRows matches both feeds on every commit kind") {
    val t = Files.createTempDirectory("feed_consistency").toString
    def rows(keys: Range, tag: String) = keys.map(k => (k.toLong, s"$tag$k")).toDF("k", "s")
    def changes(cs: (Long, String, String)*) =
      cs.map { case (k, s, ct) => (k, s, ct, 1L) }.toDF("k", "s", "_change_type", "_commit_version")

    CommitLog.setTableProperty(t, "cdc", "true")
    CommitLog.append(spark, t, rows(0 until 20, "a").repartition(2))
    CommitLog.appendOnce(spark, t, rows(20 until 25, "o"), "feed", 0L)
    CommitLog.overwrite(spark, t, rows(0 until 30, "w").repartitionByRange(3, col("k")))
    CommitLog.deleteWhere(spark, t, col("k") === 1L)
    CommitLog.deleteWhereDv(spark, t, col("k") === 2L)
    CommitLog.updateWhere(spark, t, col("k") === 3L, Map("s" -> col("s")))
    CommitLog.updateWhereDv(spark, t, col("k") === 4L, Map("s" -> col("s")))
    CommitLog.mergeInto(spark, t, rows(5 until 7, "m"), Seq("k"))
    CommitLog.mergeInto(spark, t, rows(100 until 102, "m"), Seq("k"))
    CommitLog.mergeIntoDv(spark, t, rows(7 until 9, "m"), Seq("k"))
    CommitLog.mergeIntoDv(spark, t, rows(102 until 104, "m"), Seq("k"))
    CommitLog.applyChanges(spark, t, changes((9L, "x", "update_postimage"), (10L, "x", "delete")), Seq("k"))
    CommitLog.applyChangesDv(spark, t, changes((11L, "y", "update_postimage"), (12L, "y", "delete")), Seq("k"))
    CommitLog.compact(spark, t, targetFiles = 2)
    val masked = CommitLog.deleteWhereDv(spark, t, col("k") === 13L)
    CommitLog.maintain(spark, t, maxFiles = 0, targetFiles = 2)
    CommitLog.addConstraint(spark, t, "k_nonneg", "k >= 0")
    val restored = CommitLog.restore(spark, t, asOf = masked) // the mask comes back
    CommitLog.deleteWhere(spark, t, col("k") === 14L)
    val tip = CommitLog.restore(spark, t, asOf = restored)    // only files change

    val ops = CommitLog.history(spark, t).select("operation").as[String].collect().toSeq
    assert(ops.toSet === Set("property", "append", "overwrite", "delete", "deletedv",
      "update", "updatedv", "merge", "mergedv", "apply", "applydv", "compact",
      "constraint", "restore"))
    val restores = ops.zipWithIndex.collect { case ("restore", v) => v.toLong }
    assert(CommitLog.deletionVectors(t, Some(restores.head)) !=
      CommitLog.deletionVectors(t, Some(restores.head - 1)), "the first restore changes the mask")
    assert(CommitLog.deletionVectors(t, Some(restores.last)) ===
      CommitLog.deletionVectors(t, Some(restores.last - 1)), "the second restore keeps the mask")

    (0L to tip).foreach { v =>
      val appended = CommitLog.readChanges(spark, t, v - 1, Some(v))._2.fold(0L)(_.count())
      assert(CommitLog.versionFeedRows(t, v, cdc = false) === appended, s"append feed at v$v")
      val changed = CommitLog.readChangesCdc(spark, t, v - 1, Some(v))._2.fold(0L)(_.count())
      val paced = CommitLog.versionFeedRows(t, v, cdc = true)
      if (restores.contains(v)) assert(paced >= changed, s"restore v$v paces $paced < $changed")
      else assert(paced === changed, s"row-level feed at v$v (${ops(v.toInt)})")
    }
  }
}
