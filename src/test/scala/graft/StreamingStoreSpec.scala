package graft

import graft.sources.{CommitLog, CommitLogProvider, FencedStore}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The streaming faces honour `.option("store", name)` like the batch
  * `graft-commitlog` faces: the sink commits, and both `graft-changefeed`
  * faces list and read the log, through the registered LogStore. */
class StreamingStoreSpec extends SparkSpec {
  import spark.implicits._

  /** Counts publishes, `_log` listings and version-file reads; delegates
    * everything to the local store. */
  private object Counting extends CommitLog.LogStore {
    val puts, lists, reads = new AtomicInteger
    def putIfAbsent(target: Path, content: String): Boolean = {
      puts.incrementAndGet(); CommitLog.LocalStore.putIfAbsent(target, content)
    }
    def read(p: Path): String = {
      if (p.getFileName.toString.matches("""v\d{12}\.json""")) reads.incrementAndGet()
      CommitLog.LocalStore.read(p)
    }
    def list(dir: Path): Seq[Path] = {
      if (dir.getFileName.toString == "_log") lists.incrementAndGet()
      CommitLog.LocalStore.list(dir)
    }
    def counts: (Int, Int, Int) = (puts.get, lists.get, reads.get)
  }
  CommitLogProvider.registerStore("spec-counting", Counting)
  CommitLogProvider.registerStore("spec-fenced", new FencedStore())

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("the graft-commitlog sink commits through the named store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = freshDir("sink_store")
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("id").writeStream
      .format("graft-commitlog").option("table", t).option("store", "spec-counting")
      .option("checkpointLocation", freshDir("sink_store_ckpt"))
      .start()
    try {
      val (puts0, lists0, _) = Counting.counts
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L); q.processAllAvailable()
      val (puts1, lists1, _) = Counting.counts
      assert(puts1 - puts0 === 2, "each batch publishes one commit through the store")
      assert(lists1 > lists0, "the sink must list the log through the store")
    } finally q.stop()
    assert(CommitLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
  }

  test("both change-feed faces list and read through the named store") {
    val t = freshDir("feed_store")
    CommitLog.append(spark, t, Seq(1L, 2L).toDF("id"))
    CommitLog.append(spark, t, Seq(3L).toDF("id"))

    val (_, lists0, reads0) = Counting.counts
    val q = spark.readStream.format("graft-changefeed")
      .option("table", t).option("store", "spec-counting").load()
      .writeStream.format("memory").queryName("store_feed").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("store_feed").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    val (_, lists1, reads1) = Counting.counts
    assert(lists1 > lists0, "the streaming feed must list the log through the store")
    assert(reads1 > reads0, "the streaming feed must read commits through the store")

    val batch = spark.read.format("graft-changefeed")
      .option("table", t).option("store", "spec-counting").load()
    assert(batch.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    val (_, lists2, reads2) = Counting.counts
    assert(lists2 > lists1, "the batch feed must list the log through the store")
    assert(reads2 > reads1, "the batch feed must read commits through the store")
  }

  test("the CDC replica reads its feed and commits its applies through the named store") {
    import graft.streaming.CdcReplica
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val src = freshDir("replica_store_src")
    val replica = freshDir("replica_store_dst")
    CommitLog.append(spark, src, (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"))
    CommitLog.setTableProperty(src, "cdc", "true")
    CommitLog.mergeInto(spark, src, Seq((3L, "u3"), (30L, "i30")).toDF("k", "v"), Seq("k"))
    CommitLog.deleteWhere(spark, src, col("k") < 2L)

    val (puts0, lists0, reads0) = Counting.counts
    val q = CdcReplica.replicaStream(spark, src, replica, Seq("k"),
      freshDir("replica_store_ckpt"), appId = "store_replica",
      maxVersionsPerTrigger = Some(1), trigger = Trigger.ProcessingTime("0 seconds"),
      store = Some("spec-counting"))
    try q.processAllAvailable() finally q.stop()
    val (puts1, lists1, reads1) = Counting.counts
    assert(CommitLog.latestVersion(replica) === 2L, "three non-empty batches, three applies")
    assert(puts1 - puts0 === 3, "every apply publishes its commit through the store")
    assert(lists1 > lists0, "the replica must list the logs through the store")
    assert(reads1 > reads0, "the replica must read commits through the store")
    val rows = (t: String) =>
      CommitLog.read(spark, t).as[(Long, String)].collect().toSeq.sorted
    assert(rows(replica) === rows(src))
  }

  test("the batch feed sees a claimed-but-unpublished FencedStore tip") {
    val t = freshDir("feed_fenced")
    CommitLog.append(spark, t, (1L to 50L).toDF("id"), store = new FencedStore())
    // v1 claimed but never published: durable, repaired by the next reader
    CommitLog.append(spark, t, Seq(1000L).toDF("id"),
      store = new FencedStore(crashBeforePublish = true))
    assert(!Files.exists(Paths.get(t, "_log", f"v${1L}%012d.json")),
      "fixture must leave the commit unpublished (claim only)")
    val feed = spark.read.format("graft-changefeed")
      .option("table", t).option("store", "spec-fenced").load()
    assert(feed.as[Long].collect().sorted.toSeq === (1L to 50L) :+ 1000L)
  }
}
