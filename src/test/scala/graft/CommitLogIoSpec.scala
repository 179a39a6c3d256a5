package graft

import graft.sources.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Log I/O per commit-log operation: every read or write plans against
  * ONE snapshot — one `_log` listing, one replay — and then commits. On a
  * table with k versions and no checkpoint, each operation below lists
  * `_log` exactly twice (its snapshot, then the commit's own tip check)
  * before it publishes, and reads each of the k version files once.
  */
class CommitLogIoSpec extends SparkSpec {

  /** Counts `_log` listings, version-file reads and publishes; delegates
    * everything to the local store. */
  private final class CountingStore extends CommitLog.LogStore {
    val events = mutable.ArrayBuffer.empty[String]
    val reads = mutable.Map.empty[String, Int].withDefaultValue(0)
    def putIfAbsent(target: Path, content: String): Boolean = synchronized {
      events += "put"
      CommitLog.LocalStore.putIfAbsent(target, content)
    }
    def read(p: Path): String = synchronized {
      val name = p.getFileName.toString
      if (name.matches("""v\d{12}\.json""")) reads(name) += 1
      CommitLog.LocalStore.read(p)
    }
    def list(dir: Path): Seq[Path] = synchronized {
      if (dir.getFileName.toString == "_log") events += "list"
      CommitLog.LocalStore.list(dir)
    }
  }

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id"), (col("id") * 10).as("v"))

  private def changes(from: Long, until: Long): DataFrame =
    rows(from, until).withColumn("v", lit(-1L))
      .withColumn("_change_type", lit("update_postimage"))
      .withColumn("_commit_version", lit(1L))

  private val k = 4

  private val ops: Seq[(String, (String, CommitLog.LogStore) => Long)] = Seq(
    "append" -> ((t, s) => CommitLog.append(spark, t, rows(100, 110), s)),
    "appendIndexed" -> ((t, s) => CommitLog.appendIndexed(spark, t, rows(100, 110), "id", s)),
    "deleteWhere" -> ((t, s) => CommitLog.deleteWhere(spark, t, col("id") < 5, store = s)),
    "updateWhere" -> ((t, s) =>
      CommitLog.updateWhere(spark, t, col("id") < 5, Map("v" -> lit(-1L)), store = s)),
    "mergeInto" -> ((t, s) => CommitLog.mergeInto(spark, t, rows(5, 15), Seq("id"), store = s)),
    "deleteWhereDv" -> ((t, s) => CommitLog.deleteWhereDv(spark, t, col("id") < 5, store = s)),
    "updateWhereDv" -> ((t, s) =>
      CommitLog.updateWhereDv(spark, t, col("id") < 5, Map("v" -> lit(-1L)), store = s)),
    "mergeIntoDv" -> ((t, s) => CommitLog.mergeIntoDv(spark, t, rows(5, 15), Seq("id"), store = s)),
    "applyChanges" -> ((t, s) =>
      CommitLog.applyChanges(spark, t, changes(0, 5), Seq("id"), store = s)),
    "applyChangesDv" -> ((t, s) =>
      CommitLog.applyChangesDv(spark, t, changes(0, 5), Seq("id"), store = s)),
    "compact" -> ((t, s) => CommitLog.compact(spark, t, 1, s))
  )

  ops.foreach { case (name, op) =>
    test(s"$name: one log listing and one replay before its commit") {
      val t = Files.createTempDirectory(s"io_$name").toString
      (0 until k).foreach(i => CommitLog.append(spark, t, rows(i * 10L, i * 10L + 10)))
      val store = new CountingStore
      val v = op(t, store)
      info(s"$name over $k versions: ${store.events.count(_ == "list")} _log listings, " +
        s"${store.reads.values.sum} version-file reads")
      assert(v === k.toLong, s"$name must commit at the next version")
      assert(store.events === Seq("list", "list", "put"),
        "one snapshot listing, the commit's tip listing, then the publish")
      assert(store.reads.keySet === (0 until k).map(i => f"v$i%012d.json").toSet)
      assert(store.reads.values.forall(_ == 1),
        s"each version file is read once: ${store.reads.toSeq.sorted}")
    }
  }
}
