package graft

import graft.sources.CommitLog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The commit-log table layer as a FIRST-CLASS Structured Streaming
  * source (`.format("graft-changefeed")`): offsets are commit versions,
  * so the streaming checkpoint and the log agree about progress by
  * construction, and a downstream `appendOnce` sink is exactly-once
  * end-to-end — across query restarts, batch replays, and compactions
  * running behind the stream. */
class ChangeFeedStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def readIds(table: String): Seq[Long] =
    CommitLog.read(spark, table).select("id").as[Long].collect().sorted.toSeq

  test("log-to-log stream is exactly-once across restarts and compactions") {
    val src = freshDir("cdf_src")
    val dst = freshDir("cdf_dst")
    val ckpt = freshDir("cdf_ckpt")
    CommitLog.append(spark, src, Seq(1L).toDF("id"))
    CommitLog.append(spark, src, Seq(2L).toDF("id"))

    def startQuery() = spark.readStream
      .format("graft-changefeed").option("table", src).load()
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        CommitLog.appendOnce(spark, dst, df, "cdc", batchId); ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = startQuery()
    q1.processAllAvailable()
    assert(readIds(dst) === Seq(1L, 2L), "genesis rows flow in the first batch")

    // appends flow; a compaction behind the stream must NOT re-deliver
    CommitLog.append(spark, src, Seq(3L).toDF("id"))
    CommitLog.compact(spark, src, targetFiles = 1)
    CommitLog.append(spark, src, Seq(4L).toDF("id"))
    q1.processAllAvailable()
    assert(readIds(dst) === Seq(1L, 2L, 3L, 4L))
    q1.stop()

    // restart from the same checkpoint: only the new commits flow, and a
    // replayed trailing batch is absorbed by the sink's txn marker
    CommitLog.append(spark, src, Seq(5L, 6L).toDF("id"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    assert(readIds(dst) === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // exactly-once, not at-least-once: every id landed exactly once
    val counted = CommitLog.read(spark, dst).groupBy("id").count()
      .where(col("count") > 1).count()
    assert(counted === 0L, "a batch was applied twice")
  }

  test("batch window face: spark.read over the feed equals the streamed batches") {
    val src = freshDir("cdfb_src")
    CommitLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    CommitLog.setTableProperty(src, "cdc", "true")
    CommitLog.mergeInto(spark, src, Seq((1L, "a2"), (9L, "i")).toDF("k", "s"), Seq("k"))
    CommitLog.deleteWhere(spark, src, col("k") === 2L)
    // the batch window (genesis..tip) through the format, as SQL text
    spark.read.format("graft-changefeed")
      .option("table", src).option("cdc", "true").load()
      .createOrReplaceTempView("cdfb_window")
    val viaBatch = spark.sql(
      """SELECT k, s, _change_type, _commit_version FROM cdfb_window
        |ORDER BY _commit_version, _change_type, k""".stripMargin)
      .as[(Long, String, String, Long)].collect().toSeq
    // the same window through the method API — must be identical
    val (_, feed) = CommitLog.readChangesCdc(spark, src, fromVersion = -1L)
    val viaApi = feed.get
      .orderBy("_commit_version", "_change_type", "k")
      .select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(viaBatch === viaApi)
    assert(viaBatch.map(t => (t._1, t._3, t._4)).contains((2L, "delete", 3L)))
    // a BOUNDED window: endingVersion pins it, re-reads are identical
    val w1 = spark.read.format("graft-changefeed")
      .option("table", src).option("cdc", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load()
      .select("k", "_change_type").as[(Long, String)].collect().sorted.toSeq
    CommitLog.append(spark, src, Seq((100L, "late")).toDF("k", "s"))
    val w2 = spark.read.format("graft-changefeed")
      .option("table", src).option("cdc", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load()
      .select("k", "_change_type").as[(Long, String)].collect().sorted.toSeq
    assert(w1 === w2, "a pinned version window must be replay-identical")
    // the append feed's batch face skips the mutations, delivers appends
    val appendFeed = spark.read.format("graft-changefeed")
      .option("table", src).option("startingVersion", "3").load()
      .select("k").as[Long].collect().toSeq
    assert(appendFeed === Seq(100L))
    // a window ending BEFORE a schema evolution types as the schema its
    // rows were committed under, not the tip's wider one
    CommitLog.append(spark, src,
      Seq((200L, "w", 7L)).toDF("k", "s", "extra"))
    val preEvo = spark.read.format("graft-changefeed")
      .option("table", src).option("cdc", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load()
    assert(!preEvo.columns.contains("extra"),
      "a pre-evolution window must not carry the later column")
    assert(preEvo.count() === w1.size)
    val postEvo = spark.read.format("graft-changefeed")
      .option("table", src).option("cdc", "true")
      .option("startingVersion", "4").load()
    assert(postEvo.columns.contains("extra"))
    assert(postEvo.select("k", "extra").as[(Long, Long)].collect().toSeq
      === Seq((200L, 7L)))
  }

  test("startingVersion floors the feed; the declared schema is the log schema") {
    val src = freshDir("cdf_floor")
    val v0 = CommitLog.append(spark, src,
      Seq((1L, "old")).toDF("id", "s"))
    CommitLog.append(spark, src, Seq((2L, "new")).toDF("id", "s"))

    val stream = spark.readStream.format("graft-changefeed")
      .option("table", src).option("startingVersion", v0.toString).load()
    assert(stream.isStreaming, "the source must produce a streaming frame")
    assert(stream.schema.fieldNames.toSeq === Seq("id", "s"))

    val got = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = stream.writeStream.foreachBatch { (df: DataFrame, _: Long) =>
      got.synchronized { got ++= df.collect() }; ()
    }.option("checkpointLocation", freshDir("cdf_floor_ckpt")).start()
    q.processAllAvailable()
    q.stop()
    assert(got.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === Seq((2L, "new")), "rows at or before the floor version must not flow")
  }

  test("declarative both ends: format(changefeed) -> format(commitlog) is exactly-once with skipping bounds") {
    val src = freshDir("sink_src")
    val dst = freshDir("sink_dst")
    val ckpt = freshDir("sink_ckpt")
    CommitLog.append(spark, src, Seq((1L, 10L), (2L, 20L)).toDF("id", "k"))

    def startQuery() = spark.readStream
      .format("graft-changefeed").option("table", src).load()
      .writeStream
      .format("graft-commitlog")
      .option("table", dst).option("appId", "pipe").option("indexCol", "k")
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(readIds(dst) === Seq(1L, 2L))

    CommitLog.append(spark, src, Seq((3L, 30L)).toDF("id", "k"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    assert(readIds(dst) === Seq(1L, 2L, 3L))
    assert(CommitLog.read(spark, dst).groupBy("id").count()
      .where(col("count") > 1).count() === 0L, "a replayed batch landed twice")
    // the sink recorded per-file bounds on k: a disjoint range prunes to 0
    assert(CommitLog.prunedFiles(dst, 1000d, 2000d).isEmpty,
      "stream-appended files must carry data-skipping bounds")
    assert(CommitLog.readWhere(spark, dst, "k", 25d, 35d)
      .select("id").as[Long].collect().toSeq === Seq(3L))
  }

  test("cdc mode streams typed change rows exactly once, reorgs invisible, restart clean") {
    val src = freshDir("cdc_src")
    val ckpt = freshDir("cdc_mode_ckpt")
    CommitLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))

    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]
    def startQuery() = spark.readStream
      .format("graft-changefeed")
      .option("table", src).option("cdc", "true").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("k", "s", "_change_type", "_commit_version")
          .as[(Long, String, String, Long)].collect().foreach(got.add); ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = startQuery()
    q1.processAllAvailable()
    // mutations while the stream runs: CDC merge, reorg, CDC delete
    CommitLog.mergeInto(spark, src,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "s"), Seq("k"), cdc = true)
    CommitLog.compact(spark, src, targetFiles = 1)
    CommitLog.deleteWhere(spark, src, col("k") === 1L, cdc = true)
    q1.processAllAvailable()
    q1.stop()

    import scala.jdk.CollectionConverters._
    val rows = got.asScala.toSeq.sortBy(r => (r._4, r._3, r._1))
    assert(rows === Seq(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (9L, "i", "insert", 1L),
      (2L, "b2", "update_postimage", 1L), (2L, "b", "update_preimage", 1L),
      (1L, "a", "delete", 3L)),
      "the stream must deliver every typed change row exactly once")

    // restart from the checkpoint: nothing new → nothing delivered
    got.clear()
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    assert(got.isEmpty, "a restart with no new commits must deliver nothing")
  }

  test("cdc stream + applyChanges maintains a row-level replica through every mutation type") {
    val src = freshDir("repl_src")
    val replica = freshDir("repl_dst")
    val ckpt = freshDir("repl_ckpt")
    CommitLog.append(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))

    def startQuery() = spark.readStream
      .format("graft-changefeed")
      .option("table", src).option("cdc", "true").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        CommitLog.applyChanges(spark, replica, df, Seq("k")); ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    def snap(t: String): Seq[(Long, String)] =
      CommitLog.read(spark, t).select("k", "s").as[(Long, String)]
        .collect().sortBy(_._1).toSeq

    val q1 = startQuery()
    q1.processAllAvailable()
    assert(snap(replica) === snap(src), "bootstrap batch must copy the table")

    // every mutation type, while the stream runs
    CommitLog.mergeInto(spark, src,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "s"), Seq("k"), cdc = true)
    CommitLog.deleteWhere(spark, src, col("k") === 1L, cdc = true)
    CommitLog.updateWhere(spark, src, col("k") === 3L,
      Map("s" -> lit("c2")), cdc = true)
    CommitLog.compact(spark, src, targetFiles = 1) // reorg: replica unaffected
    q1.processAllAvailable()
    q1.stop()
    assert(snap(replica) === Seq((2L, "b2"), (3L, "c2"), (9L, "i")),
      "replica must converge through merge/delete/update/compact")
    assert(snap(replica) === snap(src))

    // restart + more mutations: still exactly the source
    CommitLog.mergeInto(spark, src,
      Seq((9L, "i2"), (10L, "j")).toDF("k", "s"), Seq("k"), cdc = true)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    assert(snap(replica) === snap(src), "replica must survive a restart")
    // applying the same batch twice converges (idempotence of apply)
    val (_, lastBatch) = CommitLog.readChangesCdc(spark, src,
      fromVersion = CommitLog.latestVersion(src) - 1)
    CommitLog.applyChanges(spark, replica, lastBatch.get, Seq("k"))
    assert(snap(replica) === snap(src), "replaying a batch must be a no-op")
  }

  test("CdcReplica: paced streaming replica converges; kill-mid-batch replay is a commit-level no-op") {
    import graft.streaming.CdcReplica
    val src = freshDir("cdcr_src")
    val replica = freshDir("cdcr_dst")
    val ckpt = freshDir("cdcr_ckpt")
    def snap(t: String): Seq[(Long, String)] =
      CommitLog.read(spark, t).select("k", "s").as[(Long, String)]
        .collect().sortBy(_._1).toSeq

    // deep history BEFORE the stream exists: append, CDC merge, CDC
    // delete, a reorg, another CDC update — the paced replica bootstraps
    // across multiple bounded micro-batches
    CommitLog.append(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
    CommitLog.mergeInto(spark, src,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "s"), Seq("k"), cdc = true)
    CommitLog.deleteWhere(spark, src, col("k") === 1L, cdc = true)
    CommitLog.compact(spark, src, targetFiles = 1)
    CommitLog.updateWhere(spark, src, col("k") === 3L,
      Map("s" -> lit("c2")), cdc = true)

    val q1 = CdcReplica.replicaStream(spark, src, replica, Seq("k"), ckpt,
      appId = "repl", maxVersionsPerTrigger = Some(2),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    q1.processAllAvailable()
    q1.stop()
    assert(snap(replica) === snap(src), "paced backfill must converge")
    assert(snap(replica) === Seq((2L, "b2"), (3L, "c2"), (9L, "i")))

    // every apply commit carried its txn marker, one per non-empty window
    val applied = CommitLog.history(spark, replica)
      .where(col("operation") === "apply").count()
    assert(applied >= 2, s"pacing must split the backfill into several applies: $applied")

    // kill-mid-batch: the crash window where applyChanges COMMITTED but
    // the engine's checkpoint write was lost — the engine replays the
    // same (appId, batchId) window; the txn marker must make the replay
    // a commit-level no-op (same replica version, no second apply)
    // the replica's own txn ledger knows the last applied batch id
    val lastBatchId = CommitLog.txnHighWater(replica, "repl")
    assert(lastBatchId >= 1L, s"expected a paced multi-batch backfill, got $lastBatchId")
    val (_, window) = CommitLog.readChangesCdc(spark, src,
      fromVersion = CommitLog.latestVersion(src) - 1)
    val tipBefore = CommitLog.latestVersion(replica)
    val r = CommitLog.applyChanges(spark, replica, window.get, Seq("k"),
      txn = Some(("repl", lastBatchId)))
    assert(r === -1L, "a replayed (appId, batchId) must be skipped, not re-applied")
    assert(CommitLog.latestVersion(replica) === tipBefore,
      "the replay must not create a new replica version")
    assert(snap(replica) === snap(src))

    // restart + live mutations: the SAME pipeline keeps converging, and
    // the replica history stays one apply per window (no double-applies)
    CommitLog.mergeInto(spark, src,
      Seq((9L, "i2"), (10L, "j")).toDF("k", "s"), Seq("k"), cdc = true)
    CommitLog.deleteWhere(spark, src, col("k") === 2L, cdc = true)
    val q2 = CdcReplica.replicaStream(spark, src, replica, Seq("k"), ckpt,
      appId = "repl", maxVersionsPerTrigger = Some(2),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    q2.processAllAvailable()
    q2.stop()
    assert(snap(replica) === snap(src), "replica must survive restart + mutations")
    assert(snap(replica) === Seq((3L, "c2"), (9L, "i2"), (10L, "j")))
  }

  test("a replica with cdc on feeds a further replica, copy-on-write and merge-on-read") {
    import graft.streaming.CdcReplica
    def snap(t: String): Seq[(Long, String)] =
      CommitLog.read(spark, t).select("k", "s").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    Seq(false, true).foreach { mergeOnRead =>
      val Seq(src, mid, end, midCkpt, endCkpt) =
        Seq("ch_src", "ch_mid", "ch_end", "ch_mid_ckpt", "ch_end_ckpt").map(freshDir)
      CommitLog.append(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
      CommitLog.setTableProperty(src, "cdc", "true")
      // the middle replica records its own row-level feed
      CommitLog.setTableProperty(mid, "cdc", "true")
      def hop(from: String, to: String, ckpt: String, app: String): Unit = {
        val q = CdcReplica.replicaStream(spark, from, to, Seq("k"), ckpt,
          appId = app, mergeOnRead = mergeOnRead,
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        try q.processAllAvailable() finally q.stop()
      }
      def follow(): Unit = {
        hop(src, mid, midCkpt, "mid")
        hop(mid, end, endCkpt, "end")
      }
      follow()
      assert(snap(end) === snap(src), s"bootstrap must chain (mergeOnRead=$mergeOnRead)")
      // every mutation type reaches the end replica through the middle
      // one's apply commits: an update, an insert, and a retraction
      CommitLog.mergeInto(spark, src, Seq((2L, "b2"), (9L, "i")).toDF("k", "s"), Seq("k"))
      CommitLog.deleteWhere(spark, src, col("k") === 1L)
      CommitLog.updateWhere(spark, src, col("k") === 3L, Map("s" -> lit("c2")))
      follow()
      assert(snap(end) === Seq((2L, "b2"), (3L, "c2"), (9L, "i")),
        s"the end replica must converge (mergeOnRead=$mergeOnRead)")
      assert(snap(mid) === snap(src))
    }
  }

  test("stream schema comes from the log, so a stream can start/restart over an empty live set") {
    val src = freshDir("cdf_empty")
    val ckpt = freshDir("cdf_empty_ckpt")
    CommitLog.append(spark, src, Seq((1L, "a")).toDF("id", "s"))
    // hand-publish a remove-ALL commit (the shape a temporarily-drained
    // table has): the live file set is EMPTY, but the log still carries
    // the schema in its meta actions — stream start must not need files
    val live = CommitLog.snapshot(src).files
    val removeAll = live
      .map(f => s"""{"op":"remove","path":"$f","rows":0}""").mkString("\n")
    assert(CommitLog.LocalStore.putIfAbsent(
      java.nio.file.Paths.get(src, "_log", "v000000000001.json"), removeAll))
    assert(CommitLog.snapshot(src).files.isEmpty, "live set drained")

    def startQuery(got: java.util.concurrent.ConcurrentLinkedQueue[Long]) =
      spark.readStream.format("graft-changefeed")
        .option("table", src).load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("id").as[Long].collect().foreach(got.add); ()
        }
        .option("checkpointLocation", ckpt).start()

    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val q1 = startQuery(got) // starts while the table is EMPTY
    q1.processAllAvailable()
    q1.stop()
    // rows land again; a restart (also schema-resolved from the log) sees them
    CommitLog.append(spark, src, Seq((2L, "b")).toDF("id", "s"))
    val q2 = startQuery(got)
    q2.processAllAvailable()
    q2.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted === Seq(1L, 2L),
      "v0 flows from genesis, v2 after the drain; the remove-all is silent")
  }

  test("the commit-log sink rejects non-Append output modes at stream construction") {
    val src = freshDir("sink_mode_src")
    CommitLog.append(spark, src, Seq((1L, "a")).toDF("id", "s"))
    val e = intercept[Exception] {
      spark.readStream.format("graft-changefeed")
        .option("table", src).load()
        .groupBy("s").count()
        .writeStream
        .format("graft-commitlog")
        .option("table", freshDir("sink_mode_dst"))
        .option("checkpointLocation", freshDir("sink_mode_ckpt"))
        .outputMode("complete")
        .start()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("Append")),
      s"Complete mode must be rejected with a clear message, got: $e")
  }

  test("maxVersionsPerTrigger paces a backfill: bounded batches, exactly-once, cap survives restart") {
    val src = freshDir("cdf_paced")
    val ckpt = freshDir("cdf_paced_ckpt")
    // six single-row commits of history BEFORE the stream exists — an
    // uncapped source would deliver all of it as one giant first batch
    (1L to 6L).foreach(i => CommitLog.append(spark, src, Seq(i).toDF("id")))

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]
    def startQuery() = spark.readStream
      .format("graft-changefeed")
      .option("table", src).option("maxVersionsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("id").as[Long].collect().toSeq
        if (rows.nonEmpty) batches.add(rows); ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    import scala.jdk.CollectionConverters._
    val first = batches.asScala.toSeq
    assert(first.flatten.sorted === (1L to 6L),
      "the paced backfill must still deliver every row exactly once")
    assert(first.forall(_.size <= 2),
      s"no batch may cover more than maxVersionsPerTrigger commits: ${first.map(_.size)}")
    assert(first.size >= 3, "six versions at cap 2 need at least three batches")

    // restart: the cap keeps pacing (high-water persisted with the source)
    batches.clear()
    (7L to 11L).foreach(i => CommitLog.append(spark, src, Seq(i).toDF("id")))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val second = batches.asScala.toSeq
    assert(second.flatten.sorted === (7L to 11L))
    assert(second.forall(_.size <= 2),
      s"the cap must survive a restart: ${second.map(_.size)}")
  }

  test("a corrupt/lost pacing high-water file degrades gracefully: stream restarts, exactly-once holds") {
    val src = freshDir("cdf_hw")
    val dst = freshDir("cdf_hw_dst")
    val ckpt = freshDir("cdf_hw_ckpt")
    (1L to 4L).foreach(i => CommitLog.append(spark, src, Seq(i).toDF("id")))

    def startQuery() = spark.readStream
      .format("graft-changefeed")
      .option("table", src).option("maxVersionsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        CommitLog.appendOnce(spark, dst, df, "hw_pipe", batchId); ()
      }
      .option("checkpointLocation", ckpt).start()

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(readIds(dst) === (1L to 4L))

    // corrupt the source's persisted high-water (the admission-control
    // cursor, NOT a correctness surface): the stream must still START
    // (no NumberFormatException) and deliver only the new commits once —
    // getBatch's clamp re-learns the floor from the engine's own offsets
    val hw = java.nio.file.Paths.get(ckpt, "sources", "0", "graft-hw")
    assert(java.nio.file.Files.exists(hw), s"expected the hw file at $hw")
    java.nio.file.Files.write(hw, "not-a-number".getBytes("UTF-8"))
    (5L to 7L).foreach(i => CommitLog.append(spark, src, Seq(i).toDF("id")))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    assert(readIds(dst) === (1L to 7L),
      "after hw corruption: new commits exactly once, nothing re-delivered")
    assert(CommitLog.read(spark, dst).groupBy("id").count()
      .where(col("count") > 1).count() === 0L, "no row delivered twice")

    // lost hw entirely: same contract
    java.nio.file.Files.deleteIfExists(hw)
    (8L to 9L).foreach(i => CommitLog.append(spark, src, Seq(i).toDF("id")))
    val q3 = startQuery()
    q3.processAllAvailable()
    q3.stop()
    assert(readIds(dst) === (1L to 9L))
    assert(CommitLog.read(spark, dst).groupBy("id").count()
      .where(col("count") > 1).count() === 0L)
  }

  test("restore behind a running append-feed stream re-delivers nothing") {
    val src = freshDir("cdf_restore"); val dst = freshDir("cdf_restore_dst")
    val v0 = CommitLog.append(spark, src, Seq(1L).toDF("id"))
    CommitLog.append(spark, src, Seq(2L).toDF("id"))
    val q = spark.readStream.format("graft-changefeed")
      .option("table", src).load()
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        CommitLog.appendOnce(spark, dst, df, "restore_pipe", batchId); ()
      }
      .option("checkpointLocation", freshDir("cdf_restore_ckpt")).start()
    q.processAllAvailable()
    assert(readIds(dst) === Seq(1L, 2L))
    // roll the source back behind the stream: those rows already flowed,
    // so the remove-carrying restore must be invisible to the append feed
    CommitLog.deleteWhere(spark, src, col("id") === 2L)
    CommitLog.restore(src, v0)
    CommitLog.append(spark, src, Seq(3L).toDF("id"))
    q.processAllAvailable()
    q.stop()
    assert(readIds(dst) === Seq(1L, 2L, 3L),
      "the delete/restore churn must deliver nothing; only the new append flows")
    assert(CommitLog.read(spark, dst).groupBy("id").count()
      .where(col("count") > 1).count() === 0L, "no row delivered twice")
  }

  test("maxVersionsPerTrigger paces the row-level cdc feed too, typed rows intact") {
    val src = freshDir("cdc_paced")
    CommitLog.append(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
    CommitLog.deleteWhere(spark, src, col("k") === 1L, cdc = true)
    CommitLog.mergeInto(spark, src,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "s"), Seq("k"), cdc = true)
    CommitLog.append(spark, src, Seq((4L, "d")).toDF("k", "s"))
    CommitLog.deleteWhere(spark, src, col("k") === 3L, cdc = true)

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, String, Long)]]
    val q = spark.readStream.format("graft-changefeed")
      .option("table", src).option("cdc", "true")
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("k", "_change_type", "_commit_version")
          .as[(Long, String, Long)].collect().toSeq
        if (rows.nonEmpty) batches.add(rows); ()
      }
      .option("checkpointLocation", freshDir("cdc_paced_ckpt")).start()
    q.processAllAvailable()
    q.stop()

    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // each batch covers at most 2 commit VERSIONS
    got.foreach { b =>
      assert(b.map(_._3).distinct.size <= 2,
        s"a batch covered more than maxVersionsPerTrigger commits: $b")
    }
    assert(got.size >= 3, "five versions at cap 2 need at least three batches")
    // the paced feed delivers exactly the unpaced row-level feed
    val (_, full) = CommitLog.readChangesCdc(spark, src, fromVersion = -1L)
    val expect = full.get.select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(got.flatten.sorted === expect,
      "pacing must not change the typed change rows, only their batching")
  }

  test("maxRowsPerTrigger paces a deep row-heavy backfill: cumulative rows bounded, exactly-once") {
    val src = freshDir("cdf_rows")
    // six versions of very different sizes — version-count pacing alone
    // cannot bound the ROWS a trigger carries (the occ_constraints-style
    // 1.5M-row commit is the production shape; scaled-down here)
    val sizes = Seq(400, 50, 50, 700, 50, 50)
    sizes.zipWithIndex.foreach { case (n, i) =>
      CommitLog.append(spark, src,
        (1 to n).map(j => i * 10000L + j).toDF("id"))
    }
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]
    val q = spark.readStream
      .format("graft-changefeed")
      .option("table", src).option("maxRowsPerTrigger", "500").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("id").as[Long].collect().toSeq
        if (rows.nonEmpty) batches.add(rows); ()
      }
      .option("checkpointLocation", freshDir("cdf_rows_ckpt")).start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    assert(got.flatten.sorted === got.flatten.sorted.distinct, "no duplicates")
    assert(got.flatten.size === sizes.sum, "every row delivered")
    // the soft-cap contract: a batch only exceeds the cap when a SINGLE
    // version does (the 700-row commit flows whole); cumulative admission
    // never stacks a second version past the cap
    got.foreach { b =>
      assert(b.size <= 500 || b.size == 700,
        s"a batch stacked versions past maxRowsPerTrigger: ${got.map(_.size)}")
    }
    assert(got.size >= 3,
      s"1300 rows at cap 500 need at least 3 batches: ${got.map(_.size)}")
  }

  test("maxRowsPerTrigger paces the cdc feed on CHANGE rows; counts survive checkpoint and restore") {
    val src = freshDir("cdc_rows")
    CommitLog.append(spark, src, (1L to 300L).toDF("id"))          // v0: 300 inserts
    CommitLog.deleteWhere(spark, src, col("id") <= 100L, cdc = true) // v1: 100 deletes
    CommitLog.checkpoint(src) // checkpoints are not commits; next append is v2
    CommitLog.append(spark, src, (1001L to 1300L).toDF("id"))      // v2: 300 inserts
    // pacing metadata mirrors each feed's classification
    assert(CommitLog.versionFeedRows(src, 0L, cdc = true) === 300L)
    assert(CommitLog.versionFeedRows(src, 1L, cdc = true) === 100L, "cdc rows, not file rows")
    assert(CommitLog.versionFeedRows(src, 1L, cdc = false) === 0L, "append feed skips rewrites")
    assert(CommitLog.versionFeedRows(src, 2L, cdc = true) === 300L)

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long)]]
    val q = spark.readStream
      .format("graft-changefeed")
      .option("table", src).option("cdc", "true")
      .option("maxRowsPerTrigger", "350").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("_change_type", "_commit_version")
          .as[(String, Long)].collect().toSeq
        if (rows.nonEmpty) batches.add(rows); ()
      }
      .option("checkpointLocation", freshDir("cdc_rows_ckpt")).start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq
    // v0 (300) + v1 (100) would stack 400 > 350: the cap splits them
    assert(got.size >= 2, s"row pacing must split the cdc backfill: ${got.map(_.size)}")
    got.foreach(b => assert(b.size <= 350,
      s"no single version exceeds the cap here, so no batch may: ${got.map(_.size)}"))
    // the paced feed delivers exactly the unpaced row-level feed
    val (_, full) = CommitLog.readChangesCdc(spark, src, fromVersion = -1L)
    assert(got.flatten.sorted ===
      full.get.select("_change_type", "_commit_version")
        .as[(String, Long)].collect().toSeq.sorted)

    // restore preserves the re-added files' row counts (pacing metadata
    // survives the metadata-only round trip)
    val t2 = freshDir("cdc_rows_restore")
    val v0 = CommitLog.append(spark, t2, (1L to 42L).toDF("id"))
    CommitLog.deleteWhere(spark, t2, col("id") > 0L) // tombstone everything
    val vR = CommitLog.restore(t2, v0)
    assert(CommitLog.versionFeedRows(t2, vR, cdc = true) === 42L,
      "a restore's re-added insert rows must keep their recorded counts")
  }

  test("the stream keeps up with a writer appending between micro-batches") {
    val src = freshDir("cdf_live")
    val dst = freshDir("cdf_live_dst")
    CommitLog.append(spark, src, Seq(0L).toDF("id"))
    val q = spark.readStream.format("graft-changefeed")
      .option("table", src).load()
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        CommitLog.appendOnce(spark, dst, df, "live", batchId); ()
      }
      .option("checkpointLocation", freshDir("cdf_live_ckpt"))
      .start()
    (1 to 5).foreach { i =>
      CommitLog.append(spark, src, Seq(i.toLong).toDF("id"))
      q.processAllAvailable()
    }
    q.stop()
    assert(readIds(dst) === (0L to 5L),
      "every commit version the writer published must flow exactly once")
  }
}
