package graft

import graft.sources.{CommitLog, CommitLogQueries}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Multi-writer ACID table layer (docs/SCALE.md §Writers upgrade path —
  * now shipped, not just contracted): optimistic commits over an
  * append-only log of file actions, atomic put-if-absent publication,
  * snapshot-isolated reads, time travel, OCC compaction, vacuum.
  *
  * The concurrency tests use REAL racing threads (not sequential calls
  * pretending), so they exercise the lost-race rebase loop for real.
  */
class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("commitlog").toString

  test("single writer: append then snapshot read round-trips") {
    val t = freshTable()
    val df = (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    val v = CommitLog.append(spark, t, df)
    assert(v === 0L)
    val back = CommitLog.read(spark, t)
    assert(back.count() === 100)
    assert(back.agg(sum("id")).as[Long].head() === 5050L)
  }

  test("8 racing appenders: every commit lands exactly once, versions dense") {
    val t = freshTable()
    val writers = 8
    val perWriter = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          gate.await()
          (0 until perWriter).foreach { i =>
            val df = Seq((w.toLong, i.toLong)).toDF("writer", "seq")
            CommitLog.append(spark, t, df)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    // every (writer, seq) present exactly once — no lost commit, no double
    val rows = CommitLog.read(spark, t)
      .groupBy("writer", "seq").count().as[(Long, Long, Long)].collect()
    assert(rows.length === writers * perWriter)
    assert(rows.forall(_._3 === 1L), "a commit was applied twice")
    // the log is a dense linear chain: one version per commit, no gaps
    assert(CommitLog.latestVersion(t) === writers * perWriter - 1L)
    (0L until writers * perWriter).foreach { v =>
      assert(Files.exists(Paths.get(t, "_log", f"v$v%012d.json")), s"gap at v$v")
    }
  }

  test("snapshot isolation: a pinned version is immune to later commits") {
    val t = freshTable()
    val v0 = CommitLog.append(spark, t, Seq(1L, 2L, 3L).toDF("id"))
    CommitLog.append(spark, t, Seq(4L, 5L).toDF("id"))
    CommitLog.compact(spark, t, targetFiles = 1)
    // tip sees everything, the pinned version still reads the old files
    assert(CommitLog.read(spark, t).count() === 5)
    val pinned = CommitLog.read(spark, t, asOf = Some(v0))
    assert(pinned.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("compaction under racing appends: no loss, no duplication, fewer files") {
    val t = freshTable()
    (0 until 6).foreach(i => CommitLog.append(spark, t, Seq(i.toLong).toDF("id")))
    val filesBefore = CommitLog.snapshot(t).files.size
    assert(filesBefore >= 6)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() => {
      try (6 until 12).foreach(i =>
        CommitLog.append(spark, t, Seq(i.toLong).toDF("id")))
      catch { case e: Throwable => errs.add(e) }
    })
    val compactor = new Thread(() => {
      try { CommitLog.compact(spark, t, targetFiles = 1); () }
      catch { case e: Throwable => errs.add(e) }
    })
    appender.start(); compactor.start(); appender.join(); compactor.join()
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
    val ids = CommitLog.read(spark, t).as[Long].collect().sorted.toSeq
    assert(ids === (0L until 12L), "compaction lost or duplicated rows")
  }

  test("racing rewrites: exactly one wins, the loser gets the typed conflict") {
    val t = freshTable()
    (0 until 4).foreach(i => CommitLog.append(spark, t, Seq(i.toLong).toDF("id")))
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val other = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val racers = (1 to 2).map { _ =>
      new Thread(() => {
        try { gate.await(); CommitLog.compact(spark, t, targetFiles = 1); () }
        catch {
          case _: CommitLog.ConcurrentRewriteException => conflicts.incrementAndGet()
          case e: Throwable => other.add(e)
        }
      })
    }
    racers.foreach(_.start()); gate.countDown(); racers.foreach(_.join())
    assert(other.isEmpty, s"unexpected failure: ${Option(other.peek()).map(_.toString)}")
    // Both may serialize cleanly (second compaction starts after the first
    // committed — then its snapshot is fresh and it rewrites the rewrite,
    // which is legal); but if they truly raced on one snapshot, exactly
    // one must have received the typed conflict, never both.
    assert(conflicts.get() <= 1)
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq
      === Seq(0L, 1L, 2L, 3L))
  }

  test("crashed writer leaves no trace: staged-but-uncommitted files are invisible and vacuumable") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq(1L, 2L).toDF("id"))
    // simulate a writer that staged data then died before committing:
    // an orphan file in data/ no commit references
    val orphan = Paths.get(t, "data", "deadbeef-orphan.parquet")
    val scratch = Files.createTempDirectory("orphan").resolve("w")
    Seq(99L).toDF("id").coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, orphan)
    // invisible to readers (the snapshot is the explicit committed list)
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // vacuum removes it (plus nothing that is live)
    val deleted = CommitLog.vacuum(t)
    assert(deleted.contains("deadbeef-orphan.parquet"))
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("vacuum after compaction drops tombstones but keeps the live set") {
    val t = freshTable()
    (0 until 5).foreach(i => CommitLog.append(spark, t, Seq(i.toLong).toDF("id")))
    CommitLog.compact(spark, t, targetFiles = 1)
    val liveBefore = CommitLog.snapshot(t).files.toSet
    val deleted = CommitLog.vacuum(t)
    assert(deleted.nonEmpty, "tombstoned pre-compaction files should be vacuumed")
    assert(CommitLog.snapshot(t).files.toSet === liveBefore)
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq
      === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("checkpoint bounds replay: pre-checkpoint commit files are never opened") {
    val t = freshTable()
    (0 until 5).foreach(i => CommitLog.append(spark, t, Seq(i.toLong).toDF("id")))
    val cp = CommitLog.checkpoint(t)
    assert(cp === 4L)
    CommitLog.append(spark, t, Seq(5L).toDF("id"))
    // prove post-checkpoint reads don't touch the pre-checkpoint log:
    // corrupt v0..v4 outright — a replay that still opened them would throw
    (0L to 4L).foreach { v =>
      Files.write(Paths.get(t, "_log", f"v$v%012d.json"), "GARBAGE".getBytes)
    }
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq
      === (0L to 5L), "checkpointed replay must not re-read old commits")
    // ...and time travel to the checkpoint version itself also works
    assert(CommitLog.read(spark, t, asOf = Some(4L)).as[Long].collect().sorted.toSeq
      === (0L to 4L))
  }

  test("appendOnce: a replayed batch is skipped, a new batch lands") {
    val t = freshTable()
    assert(CommitLog.appendOnce(spark, t, Seq(1L, 2L).toDF("id"), "app", 0L) === 0L)
    // the retry of batch 0 (crash-after-commit replay) is a no-op
    assert(CommitLog.appendOnce(spark, t, Seq(1L, 2L).toDF("id"), "app", 0L) === -1L)
    assert(CommitLog.appendOnce(spark, t, Seq(3L).toDF("id"), "app", 1L) >= 0L)
    // a DIFFERENT app's batch 0 is independent
    assert(CommitLog.appendOnce(spark, t, Seq(9L).toDF("id"), "other", 0L) >= 0L)
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 9L))
    assert(CommitLog.txnHighWater(t, "app") === 1L)
    // txn high-water survives a checkpoint (it is part of the rolled state)
    CommitLog.checkpoint(t)
    assert(CommitLog.appendOnce(spark, t, Seq(1L, 2L).toDF("id"), "app", 1L) === -1L)
  }

  test("appendOnce: a retry RACING the original still lands exactly once") {
    val t = freshTable()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val racers = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          gate.await()
          if (CommitLog.appendOnce(spark, t, Seq(7L).toDF("id"), "app", 0L) >= 0L)
            landed.incrementAndGet()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    racers.foreach(_.start()); gate.countDown(); racers.foreach(_.join())
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(landed.get() === 1, "exactly one of the racing duplicates may commit")
    assert(CommitLog.read(spark, t).as[Long].collect().toSeq === Seq(7L))
    // the loser's staged-but-uncommitted file is an orphan vacuum removes
    CommitLog.vacuum(t)
    assert(CommitLog.read(spark, t).as[Long].collect().toSeq === Seq(7L))
  }

  test("exactly-once streaming sink: foreachBatch + appendOnce under batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val input = MemoryStream[Long]
    val q = input.toDS().toDF("id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        CommitLog.appendOnce(spark, t, batch, "sink", id)
        // simulate the crash-and-retry path every batch: foreachBatch
        // re-invokes with the SAME batch id after a restart
        CommitLog.appendOnce(spark, t, batch, "sink", id)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      input.addData(1L, 2L); q.processAllAvailable()
      input.addData(3L); q.processAllAvailable()
      assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq
        === Seq(1L, 2L, 3L), "each micro-batch must land exactly once")
    } finally q.stop()
  }

  test("retention vacuum: versions inside the window stay readable, older tombstones go") {
    val t = freshTable()
    val v0 = CommitLog.append(spark, t, Seq(1L, 2L).toDF("id"))   // v0
    val v1 = CommitLog.compact(spark, t, targetFiles = 1)         // v1 rewrites v0's files
    val v2 = CommitLog.compact(spark, t, targetFiles = 1)         // v2 rewrites v1's files
    assert((v0, v1, v2) === (0L, 1L, 2L))
    val v1Files = CommitLog.snapshot(t, asOf = Some(v1)).files.toSet
    val v0Files = CommitLog.snapshot(t, asOf = Some(v0)).files.toSet

    // retainVersions = 1 protects [v1, v2]: v1's files survive even though
    // v2 tombstoned them; v0's files (outside the window) are deleted.
    val deleted = CommitLog.vacuum(t, retainVersions = 1).map(f => s"data/$f").toSet
    assert(v0Files.subsetOf(deleted), "pre-window tombstones must be vacuumed")
    assert(deleted.intersect(v1Files).isEmpty, "in-window files must survive")

    // a reader pinned inside the window completes its scan...
    assert(CommitLog.read(spark, t, asOf = Some(v1)).as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    // ...and the tip is of course intact
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("age guard: a fresh unreferenced file (racing writer's stage) is never vacuumed") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq(1L).toDF("id"))
    // an orphan staged moments ago — indistinguishable from a commit in
    // the stage→publish gap, so an aged vacuum must leave it alone
    val orphan = Paths.get(t, "data", "inflight-stage.parquet")
    val scratch = Files.createTempDirectory("stage").resolve("w")
    Seq(99L).toDF("id").coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, orphan)

    assert(!CommitLog.vacuum(t, minAgeMs = 3600000L).contains("inflight-stage.parquet"),
      "young orphan must survive an aged vacuum")
    assert(Files.exists(orphan))

    // age it past the window: now it is a crashed writer's leak, delete it
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    assert(CommitLog.vacuum(t, minAgeMs = 3600000L).contains("inflight-stage.parquet"))
    assert(!Files.exists(orphan))
  }

  test("data skipping: readWhere opens only range-overlapping files, result = full-scan filter") {
    val t = freshTable()
    // 1000 keys range-clustered into 10 files → each file covers ~1/10 of
    // the key domain; a 5%-wide predicate must keep 1-2 files, never 10.
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    CommitLog.appendIndexed(spark, t,
      df.repartitionByRange(10, col("k")), "k")
    val total = CommitLog.snapshot(t).files.size
    assert(total === 10)
    val kept = CommitLog.prunedFiles(t, 400d, 449d)
    assert(kept.size <= 2, s"5% range must prune to <=2 of 10 files, kept ${kept.size}")
    val got = CommitLog.readWhere(spark, t, "k", 400d, 449d)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === (400L to 449L))

    // bounds survive a checkpoint: replay seeds from c{v}.json, and the
    // pruning decision must be identical to the commit-file replay
    CommitLog.checkpoint(t)
    assert(CommitLog.prunedFiles(t, 400d, 449d).toSet === kept.toSet)

    // a later UNINDEXED append has no bounds → conservative: always read
    CommitLog.append(spark, t, Seq((5000L, "x")).toDF("k", "s"))
    val keptAfter = CommitLog.prunedFiles(t, 400d, 449d)
    assert(keptAfter.size === kept.size + 1, "bound-less file must never be pruned")
    assert(CommitLog.readWhere(spark, t, "k", 400d, 449d).count() === 50L)
  }

  test("change feed: appends flow exactly once, compaction rewrites are invisible") {
    val t = freshTable()
    val v0 = CommitLog.append(spark, t, Seq(1L).toDF("id"))
    val v1 = CommitLog.append(spark, t, Seq(2L, 3L).toDF("id"))
    val v2 = CommitLog.compact(spark, t, targetFiles = 1)
    val v3 = CommitLog.append(spark, t, Seq(4L).toDF("id"))
    assert((v0, v1, v2, v3) === (0L, 1L, 2L, 3L))

    // full-history feed = every appended row exactly once (compaction's
    // rewritten copies of 1,2,3 must NOT reappear)
    val (cursor, all) = CommitLog.readChanges(spark, t, fromVersion = -1L)
    assert(cursor === v3)
    assert(all.get.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))

    // windowed feed: (v0, v3] sees only the rows committed after v0
    val (_, tail) = CommitLog.readChanges(spark, t, fromVersion = v0)
    assert(tail.get.as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))

    // a window holding only the compaction has no new data
    val (c2, none) = CommitLog.readChanges(spark, t, fromVersion = v1, toVersion = Some(v2))
    assert(c2 === v2 && none.isEmpty)
  }

  test("log-to-log incremental pipeline: crash-replay of the whole feed lands exactly once") {
    val src = freshTable()
    val dst = freshTable()
    // the consumer: advance over the source's new versions, transform,
    // land in the destination keyed by the SOURCE VERSION — appendOnce's
    // txn marker makes any replay idempotent
    def drain(): Unit = {
      val from = CommitLog.txnHighWater(dst, "pipe")
      val tip = CommitLog.latestVersion(src)
      ((from + 1) to tip).foreach { v =>
        val (_, batch) = CommitLog.readChanges(spark, src, v - 1, Some(v))
        batch.foreach { df =>
          CommitLog.appendOnce(spark, dst, df.withColumn("x10", col("id") * 10),
            "pipe", v)
        }
      }
    }
    CommitLog.append(spark, src, Seq(1L).toDF("id"))
    CommitLog.append(spark, src, Seq(2L).toDF("id"))
    drain()
    CommitLog.append(spark, src, Seq(3L).toDF("id"))
    // crash-recovery shape: the consumer lost its in-memory cursor and
    // replays THE WHOLE FEED from scratch — versions 0..1 are skipped by
    // the destination's txn high-water, version 2 lands once
    drain()
    drain() // and an extra full replay is still a no-op
    val out = CommitLog.read(spark, dst).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("deleteWhere is copy-on-write: only matching files rewritten, time travel keeps history") {
    val t = freshTable()
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    CommitLog.appendIndexed(spark, t, df.repartitionByRange(10, col("k")), "k")
    val before = CommitLog.snapshot(t)
    assert(before.files.size === 10)

    val v = CommitLog.deleteWhere(spark, t, col("k").between(100, 149), Some("k"))
    assert(v > before.version)
    val after = CommitLog.snapshot(t).files.toSet
    // range-clustered: the 5% key range lives in at most 2 of 10 files —
    // every other file must survive the delete UNTOUCHED (same identity)
    val untouched = before.files.toSet.intersect(after)
    assert(untouched.size >= 8,
      s"copy-on-write must keep non-matching files; only ${untouched.size} survived")

    assert(CommitLog.read(spark, t).count() === 950)
    assert(CommitLog.read(spark, t).where(col("k").between(100, 149)).count() === 0)
    // the deleted rows are still one time-travel away (physical erasure
    // is vacuum's job, after retention passes the delete version)
    assert(CommitLog.read(spark, t, asOf = Some(before.version)).count() === 1000)
    // rewritten files re-recorded their bounds: skipping still prunes
    assert(CommitLog.prunedFiles(t, 900d, 949d).size <= 2)
  }

  test("deleteWhere has SQL NULL semantics: rows where the predicate is NULL survive") {
    val t = freshTable()
    val df = Seq((1L, "x"), (2L, "y"), (3L, null)).toDF("k", "v")
    CommitLog.append(spark, t, df.coalesce(1))
    CommitLog.deleteWhere(spark, t, col("v") === "x")
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted.toSeq
      === Seq(2L, 3L), "NULL-predicate rows must survive a DELETE")
    // nothing matches → no-op, no commit published
    val tip = CommitLog.latestVersion(t)
    assert(CommitLog.deleteWhere(spark, t, col("v") === "zzz") === -1L)
    assert(CommitLog.latestVersion(t) === tip)
  }

  test("schema evolution: added columns read as NULL on old files, time travel reads old schema") {
    val t = freshTable()
    val v0 = CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    CommitLog.append(spark, t, Seq((3L, "c", 30L)).toDF("k", "s", "extra"))

    val tip = CommitLog.read(spark, t)
    assert(tip.columns.toSeq === Seq("k", "s", "extra"))
    val rows = tip.orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0), r.isNullAt(2))).toSeq
      === Seq((1L, true), (2L, true), (3L, false)))

    // time travel reads the columns that existed THEN
    assert(CommitLog.read(spark, t, asOf = Some(v0)).columns.toSeq === Seq("k", "s"))

    // the union schema survives a checkpoint (meta rolled into c{v}.json)
    // and a compaction (rewritten under the union schema)
    CommitLog.checkpoint(t)
    assert(CommitLog.read(spark, t).columns.toSeq === Seq("k", "s", "extra"))
    CommitLog.compact(spark, t, targetFiles = 1)
    assert(CommitLog.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.isNullAt(2))).toSeq
      === Seq((1L, true), (2L, true), (3L, false)))

    // a change feed spanning the evolution boundary is well-typed too
    val (_, feed) = CommitLog.readChanges(spark, t, fromVersion = -1L, toVersion = Some(1L))
    assert(feed.get.columns.toSeq === Seq("k", "s", "extra"))
    assert(feed.get.count() === 3)
  }

  test("schema evolution is additive-only: a type conflict is typed and never poisons the table") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("k", "s"))
    val tip = CommitLog.latestVersion(t)
    intercept[CommitLog.SchemaConflictException] {
      CommitLog.append(spark, t, Seq(("oops", "b")).toDF("k", "s")) // k: string vs long
    }
    // rejected BEFORE publication: no new version, table fully readable
    assert(CommitLog.latestVersion(t) === tip)
    assert(CommitLog.read(spark, t).count() === 1)
  }

  test("mergeInto is copy-on-write upsert: updates land, inserts land, untouched files keep identity") {
    val t = freshTable()
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    CommitLog.appendIndexed(spark, t, df.repartitionByRange(10, col("k")), "k")
    val before = CommitLog.snapshot(t)

    val source = (100 until 150).map(i => (i.toLong, "UPDATED")).toDF("k", "s")
      .unionByName((2000 until 2010).map(i => (i.toLong, "NEW")).toDF("k", "s"))
    val v = CommitLog.mergeInto(spark, t, source, Seq("k"), Some("k"))
    assert(v > before.version)

    val after = CommitLog.read(spark, t)
    assert(after.count() === 1010)
    assert(after.where(col("s") === "UPDATED").count() === 50)
    assert(after.where(col("s") === "NEW").count() === 10)
    // a non-matching row is byte-identical to before
    assert(after.where(col("k") === 500L).select("s").as[String].head() === "v500")
    // copy-on-write + bounds-pruned candidates: the key range [100,150)
    // lives in at most 2 of 10 range-clustered files — everything else
    // must survive with the SAME file identity
    val untouched = before.files.toSet.intersect(CommitLog.snapshot(t).files.toSet)
    assert(untouched.size >= 8,
      s"merge must not rewrite non-matching files; only ${untouched.size} survived")
    // time travel still shows the pre-merge table
    assert(CommitLog.read(spark, t, asOf = Some(before.version)).count() === 1000)
    assert(CommitLog.read(spark, t, asOf = Some(before.version))
      .where(col("s") === "UPDATED").count() === 0)
  }

  test("mergeInto: pure-insert sources rewrite nothing; duplicate keys are rejected; NULL keys never match") {
    val t = freshTable()
    CommitLog.appendIndexed(spark, t,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
        .repartitionByRange(4, col("k")), "k")
    val before = CommitLog.snapshot(t).files.toSet

    // no key overlaps: append-shaped commit, every existing file untouched
    CommitLog.mergeInto(spark, t,
      Seq((500L, "NEW")).toDF("k", "s"), Seq("k"), Some("k"))
    assert(before.subsetOf(CommitLog.snapshot(t).files.toSet))
    assert(CommitLog.read(spark, t).count() === 101)

    // ambiguous source: two rows share a key
    intercept[IllegalArgumentException] {
      CommitLog.mergeInto(spark, t,
        Seq((1L, "a"), (1L, "b")).toDF("k", "s"), Seq("k"))
    }

    // SQL equality: a NULL source key matches nothing → inserts; the
    // NULL-key target row survives a later merge on a real key
    val withNull = Seq((java.lang.Long.valueOf(7L), "seven"), (null.asInstanceOf[java.lang.Long], "nokey"))
      .toDF("k", "s")
    CommitLog.mergeInto(spark, t, withNull, Seq("k"))
    val read = CommitLog.read(spark, t)
    assert(read.count() === 102) // 7 updated in place, NULL inserted
    assert(read.where(col("k").isNull).count() === 1)
    assert(read.where(col("k") === 7L).select("s").as[String].head() === "seven")
    CommitLog.mergeInto(spark, t, Seq((8L, "eight")).toDF("k", "s"), Seq("k"))
    assert(CommitLog.read(spark, t).where(col("k").isNull).count() === 1,
      "a NULL-key target row must survive merges it cannot match")
  }

  test("mergeInto evolves the schema additively and respects the type-conflict guard") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // source carries a NEW column: matched row updated with it, old rows NULL
    CommitLog.mergeInto(spark, t,
      Seq((2L, "b2", 20L), (3L, "c", 30L)).toDF("k", "s", "extra"), Seq("k"))
    val out = CommitLog.read(spark, t).orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
      === Seq((1L, "a", true), (2L, "b2", false), (3L, "c", false)))
    // same column, different type: typed rejection BEFORE staging
    val tip = CommitLog.latestVersion(t)
    intercept[CommitLog.SchemaConflictException] {
      CommitLog.mergeInto(spark, t,
        Seq((1L, "x", "not-a-long")).toDF("k", "s", "extra"), Seq("k"))
    }
    assert(CommitLog.latestVersion(t) === tip)
  }

  test("z-order clustered append: the zonemap prunes on BOTH dimensions and survives checkpoint+compaction") {
    val t = freshTable()
    // a 64x64 grid: clustering on z(x, y) must give files whose bounding
    // boxes are small on both axes, so either-axis predicates prune
    val grid = for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong, s"$x/$y")
    CommitLog.appendClustered(spark, t, grid.toDF("x", "y", "v"),
      Seq("x", "y"), files = 16)
    val total = CommitLog.snapshot(t).files.size
    assert(total >= 8, s"expected ~16 clustered files, got $total")

    def pruned(box: (String, Double, Double)*): Int =
      CommitLog.prunedFilesBox(t,
        box.map { case (c, lo, hi) => c -> (lo, hi) }.toMap).size
    // a narrow box on EACH axis alone prunes most files — the property a
    // single-column sort cannot give (it would prune one axis only)
    assert(pruned(("x", 3d, 4d)) <= total / 2, "x-axis prune failed")
    assert(pruned(("y", 3d, 4d)) <= total / 2, "y-axis prune failed")
    // both axes together prune harder than either alone
    assert(pruned(("x", 3d, 4d), ("y", 3d, 4d)) <=
      math.min(pruned(("x", 3d, 4d)), pruned(("y", 3d, 4d))))

    // pruning is exact: the box read equals the full-scan filter
    val boxed = CommitLog.readWhereBox(spark, t,
      Map("x" -> (10d, 20d), "y" -> (30d, 40d)))
    assert(boxed.count() === 11L * 11L)
    // a disjoint box reads nothing — schema-stable empty result
    assert(CommitLog.readWhereBox(spark, t, Map("x" -> (999d, 1000d))).count() === 0L)

    // the zonemap survives a checkpoint (stats round-trip the c{v}.json)
    CommitLog.checkpoint(t)
    CommitLog.append(spark, t, Seq((100L, 100L, "tail")).toDF("x", "y", "v"))
    assert(pruned(("x", 3d, 4d)) <= total / 2 + 1,
      "stats lost through checkpoint replay")
    // plain compaction drops the rewritten files' stats (it re-stages
    // without them) — pruning degrades to conservative, never to wrong
    CommitLog.compact(spark, t, targetFiles = 2)
    assert(CommitLog.readWhereBox(spark, t,
      Map("x" -> (10d, 20d), "y" -> (30d, 40d))).count() === 11L * 11L)
  }

  test("compactClustered restores box pruning after fragmented unclustered appends") {
    val t = freshTable()
    // 8 small appends, each spanning the FULL key domain — every file's
    // bounding box is the whole plane, so nothing can prune
    (0 until 8).foreach { s =>
      val rows = for { x <- 0 until 32; y <- 0 until 32 }
        yield (x.toLong, y.toLong, s.toLong)
      CommitLog.appendClustered(spark, t, rows.toDF("x", "y", "seq"),
        Seq("x", "y"), files = 1)
    }
    val frag = CommitLog.snapshot(t).files.size
    assert(CommitLog.prunedFilesBox(t, Map("x" -> (3d, 4d))).size === frag,
      "full-domain files cannot prune — precondition")

    CommitLog.compactClustered(spark, t, Seq("x", "y"), targetFiles = 16)
    val total = CommitLog.snapshot(t).files.size
    assert(CommitLog.prunedFilesBox(t, Map("x" -> (3d, 4d))).size <= total / 2,
      "re-clustering must restore x-axis pruning")
    assert(CommitLog.prunedFilesBox(t, Map("y" -> (3d, 4d))).size <= total / 2,
      "re-clustering must restore y-axis pruning")
    // rows intact, exact predicate equivalence holds
    assert(CommitLog.read(spark, t).count() === 8L * 32L * 32L)
    assert(CommitLog.readWhereBox(spark, t,
      Map("x" -> (3d, 4d), "y" -> (3d, 4d))).count() === 8L * 2L * 2L)
    // and the feed ignored the reorganization: only the 8 appends flowed
    val (_, feed) = CommitLog.readChanges(spark, t, fromVersion = -1L)
    assert(feed.get.count() === 8L * 32L * 32L)
  }

  test("updateWhere is copy-on-write with OLD-row RHS semantics and CDC images") {
    val t = freshTable()
    val df = (0 until 1000).map(i => (i.toLong, i.toLong * 10, s"v$i"))
      .toDF("k", "amt", "s")
    CommitLog.appendIndexed(spark, t, df.repartitionByRange(10, col("k")), "k")
    val before = CommitLog.snapshot(t)

    // SET references the OLD row — including a predicate column swap that
    // would corrupt under apply-then-filter evaluation
    val v = CommitLog.updateWhere(spark, t, col("k").between(100, 149),
      Map("amt" -> (col("amt") + col("k")), "k" -> (col("k") + 10000)),
      indexCol = Some("k"), cdc = true)
    assert(v > before.version)

    val after = CommitLog.read(spark, t)
    assert(after.count() === 1000)
    assert(after.where(col("k").between(100, 149)).count() === 0)
    assert(after.where(col("k") >= 10000).count() === 50)
    // RHS evaluated on OLD values: k=100 -> (k=10100, amt=1000+100)
    assert(after.where(col("k") === 10100L).select("amt").as[Long].head() === 1100L)
    // untouched rows byte-identical; untouched files keep identity
    assert(after.where(col("k") === 500L).select("amt").as[Long].head() === 5000L)
    val untouched = before.files.toSet.intersect(CommitLog.snapshot(t).files.toSet)
    assert(untouched.size >= 8)
    // CDC images: 50 preimages with old values, 50 postimages with new
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = before.version)
    val images = feed.get.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(images === Map("update_preimage" -> 50L, "update_postimage" -> 50L))
    assert(feed.get.where(col("_change_type") === "update_postimage" &&
      col("k") === 10100L).select("amt").as[Long].head() === 1100L)

    // guards: no match -> no commit; SET of a non-column is typed
    val tip = CommitLog.latestVersion(t)
    assert(CommitLog.updateWhere(spark, t, col("k") === -1L,
      Map("amt" -> lit(0L))) === -1L)
    assert(CommitLog.latestVersion(t) === tip)
    intercept[IllegalArgumentException] {
      CommitLog.updateWhere(spark, t, col("k") === 0L, Map("nope" -> lit(1)))
    }
  }

  test("racing merges on overlapping files: exactly one wins, the loser gets the typed conflict") {
    val t = freshTable()
    CommitLog.appendIndexed(spark, t,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1), "k")
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try {
          gate.await()
          CommitLog.mergeInto(spark, t,
            Seq((50L, s"writer$w")).toDF("k", "s"), Seq("k"))
        } catch {
          case _: CommitLog.ConcurrentRewriteException =>
            conflicts.incrementAndGet(); ()
          case e: Throwable => errs.add(e)
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${Option(errs.peek())}")
    // both rewrote the same single file: exactly one may win the race
    // (a sequential second run would re-plan from the fresh snapshot, but
    // these two PLANNED against the same version — one must abort)
    assert(conflicts.get() === 1,
      s"expected exactly one ConcurrentRewriteException, got ${conflicts.get()}")
    val winner = CommitLog.read(spark, t).where(col("k") === 50L)
      .select("s").as[String].head()
    assert(winner.startsWith("writer"), s"update lost entirely: $winner")
    assert(CommitLog.read(spark, t).count() === 100)
  }

  test("row-level CDC: typed change rows for merge/delete, synthesized inserts for appends, reorgs invisible") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
    CommitLog.mergeInto(spark, t,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "s"), Seq("k"), cdc = true)
    CommitLog.compact(spark, t, targetFiles = 1) // reorg: must be invisible
    CommitLog.deleteWhere(spark, t, col("k") === 1L, cdc = true)

    val (cursor, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = -1L)
    assert(cursor === CommitLog.latestVersion(t))
    val rows = feed.get
      .select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().sortBy(r => (r._4, r._3, r._1))
    assert(rows.toSeq === Seq(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L), (3L, "c", "insert", 0L),
      (9L, "i", "insert", 1L),
      (2L, "b2", "update_postimage", 1L), (2L, "b", "update_preimage", 1L),
      (1L, "a", "delete", 3L)))

    // a windowed read starts mid-history; a changeless window is None
    val (_, tail) = CommitLog.readChangesCdc(spark, t, fromVersion = 1L)
    assert(tail.get.select("_change_type").as[String].collect().toSeq === Seq("delete"))
    val (_, none) = CommitLog.readChangesCdc(spark, t, fromVersion = 1L, toVersion = Some(2L))
    assert(none.isEmpty, "a compaction-only window has no changes")

    // a mutation that recorded no change files cannot silently starve the
    // feed: the window that covers it raises the typed gap (r15 contract;
    // the dedicated gap test covers the property-based fix)
    CommitLog.deleteWhere(spark, t, col("k") === 3L)
    intercept[CommitLog.CdcGapException] {
      CommitLog.readChangesCdc(spark, t, fromVersion = cursor)
    }

    // retention: a window-covering vacuum keeps change files readable;
    // an aggressive one GCs them with the tombstones
    CommitLog.vacuum(t, retainVersions = 100)
    assert(CommitLog.readChangesCdc(spark, t, fromVersion = -1L, toVersion = Some(3L))
      ._2.get.count() === 7L)
    CommitLog.vacuum(t)
    intercept[Exception] {
      CommitLog.readChangesCdc(spark, t,
        fromVersion = -1L, toVersion = Some(3L))._2.get.count()
    }
  }

  test("registered query forms: occ_append_snapshot and occ_time_travel at sf0.001") {
    val a = CommitLogQueries.occAppendSnapshot(spark, sf)
    assert(a.count() === 2 * Tables.nation(spark, sf).count())
    val tt = CommitLogQueries.occTimeTravel(spark, sf)
    assert(tt.count() === Tables.nation(spark, sf).count())
    val rw = CommitLogQueries.occReadWhere(spark, sf)
    val expect = Tables.lineitem(spark, sf)
      .where(col("l_orderkey").between(1000, 2000)).count()
    assert(rw.count() === expect && expect > 0)
    val dw = CommitLogQueries.occDeleteWhere(spark, sf)
    val expectDel = Tables.orders(spark, sf)
      .where(!col("o_orderkey").between(1000, 3000)).count()
    assert(dw.count() === expectDel && expectDel > 0)
    val se = CommitLogQueries.occSchemaEvolve(spark, sf)
    val n = Tables.nation(spark, sf).count()
    assert(se.count() === n + Tables.nation(spark, sf)
      .where(col("n_nationkey") < 5).count())
    assert(se.columns.contains("extra"))
    val mu = CommitLogQueries.occMergeUpsert(spark, sf)
    val orders = Tables.orders(spark, sf)
    assert(mu.count() === orders.count() +
      orders.where(col("o_orderkey").between(1, 100)).count())
    assert(mu.where(col("o_orderkey") < 0).count() ===
      orders.where(col("o_orderkey").between(1, 100)).count())
    val cf = CommitLogQueries.occChangeFeed(spark, sf)
    assert(cf.count() === Tables.nation(spark, sf)
      .where(col("n_nationkey") < 5 || col("n_nationkey") >= 20).count())
    val zr = CommitLogQueries.occZorderRead(spark, sf)
    val expectZ = Tables.orders(spark, sf)
      .where(col("o_custkey").between(100, 500) &&
        col("o_orderkey").between(0, 100000)).count()
    assert(zr.count() === expectZ && expectZ > 0)
    val cdc = CommitLogQueries.occCdcFeed(spark, sf)
    val nRows = Tables.nation(spark, sf).count()
    val nLow = Tables.nation(spark, sf).where(col("n_nationkey") < 5).count()
    val nDel = Tables.nation(spark, sf)
      .where(col("n_nationkey") >= 20 && col("n_nationkey") < 100).count()
    assert(cdc.count() === nRows + 3 * nLow + nDel)
    val uw = CommitLogQueries.occUpdateWhere(spark, sf)
    assert(uw.count() === Tables.orders(spark, sf).count())
    assert(uw.where(col("o_orderstatus") === "U").count() ===
      Tables.orders(spark, sf)
        .where(col("o_orderkey").between(1000, 3000)).count())
  }

  // --- round 15: log-poisoning guards, CDC gap, properties, restore, history

  test("a negative batchId is rejected before it can poison the log") {
    val t = freshTable()
    val df = Seq((1L, "a")).toDF("id", "s")
    CommitLog.append(spark, t, df)
    // a negative id would encode as "rows":-N, which replay cannot decode:
    // ONE such commit would make every subsequent read of the table throw
    val e = intercept[IllegalArgumentException] {
      CommitLog.appendOnce(spark, t, df, "poison", batchId = -1L)
    }
    assert(e.getMessage.contains("batchId"))
    // the table is untouched and still fully functional
    assert(CommitLog.appendOnce(spark, t, df, "poison", batchId = 0L) === 1L)
    assert(CommitLog.read(spark, t).count() === 2L)
  }

  test("non-finite index bounds degrade to no-bounds: log stays decodable, file never pruned") {
    val t = freshTable()
    // a legal double column whose min/max are +/-Infinity — encoding the
    // textual `Infinity` would fail replay's number regex on every read
    val df = Seq((Double.NegativeInfinity, 1L), (2.0, 2L),
      (Double.PositiveInfinity, 3L)).toDF("x", "id")
    CommitLog.appendIndexed(spark, t, df.coalesce(1), "x")
    // replay decodes (no corrupt line), and the file has NO recorded
    // bounds, so it is conservatively kept for any queried range
    assert(CommitLog.read(spark, t).count() === 3L)
    assert(CommitLog.prunedFiles(t, 100d, 200d).size === 1)
    assert(CommitLog.readWhere(spark, t, "x", 1d, 3d)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L))
    // same discipline for the multi-column zonemap path
    val tz = freshTable()
    CommitLog.appendClustered(spark, tz,
      df.withColumn("y", col("id")), Seq("x", "y"), files = 1)
    assert(CommitLog.read(spark, tz).count() === 3L)
    assert(CommitLog.prunedFilesBox(tz, Map("x" -> (100d, 200d))).size === 1,
      "a file with undecodable x-bounds must be kept, not dropped")
    assert(CommitLog.prunedFilesBox(tz, Map("y" -> (100d, 200d))).isEmpty,
      "the finite y zonemap still prunes")
  }

  test("CDC gap is loud: a non-CDC mutation inside the feed window raises the typed error") {
    val t = freshTable()
    CommitLog.append(spark, t, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"))
    CommitLog.deleteWhere(spark, t, col("id") > 5) // cdc NOT enabled
    val e = intercept[CommitLog.CdcGapException] {
      CommitLog.readChangesCdc(spark, t, fromVersion = -1L)
    }
    assert(e.getMessage.contains("delete") && e.getMessage.contains("cdc"))
    // a compaction in the window is still (correctly) a silent reorg
    val t2 = freshTable()
    CommitLog.append(spark, t2, Seq((1L, "a")).toDF("id", "s"))
    CommitLog.append(spark, t2, Seq((2L, "b")).toDF("id", "s"))
    CommitLog.compact(spark, t2, targetFiles = 1)
    val (_, feed) = CommitLog.readChangesCdc(spark, t2, fromVersion = -1L)
    assert(feed.get.where(col("_change_type") =!= "insert").count() === 0L)
    assert(feed.get.count() === 2L)
  }

  test("cdc table property auto-enables change recording; it survives checkpointed replay") {
    val t = freshTable()
    CommitLog.append(spark, t, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"))
    CommitLog.setTableProperty(t, "cdc", "true")
    assert(CommitLog.tableProperties(t) === Map("cdc" -> "true"))
    // mutations called WITHOUT the per-call flag now record change files
    CommitLog.deleteWhere(spark, t, col("id") > 8)
    CommitLog.updateWhere(spark, t, col("id") === 1L,
      Map("s" -> lit("updated")))
    CommitLog.mergeInto(spark, t, Seq((2L, "merged"), (99L, "new")).toDF("id", "s"),
      Seq("id"))
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 0L)
    val byType = feed.get.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType("delete") === 2L)
    assert(byType("update_preimage") === 2L) // update + merge preimages
    assert(byType("update_postimage") === 2L)
    assert(byType("insert") === 1L)
    // the property is log STATE: a checkpoint carries it, pre-checkpoint
    // commits are never re-read (prove by corrupting them)
    CommitLog.checkpoint(t)
    val pre = Files.list(Paths.get(t, "_log")).toArray.map(_.toString)
      .filter(_.matches(""".*v\d{12}\.json"""))
    pre.foreach(p => Files.write(Paths.get(p), "GARBAGE".getBytes))
    assert(CommitLog.tableProperties(t) === Map("cdc" -> "true"))
    CommitLog.deleteWhere(spark, t, col("id") === 3L)
    val (_, feed2) = CommitLog.readChangesCdc(spark, t,
      fromVersion = CommitLog.latestVersion(t) - 1)
    assert(feed2.get.where(col("_change_type") === "delete").count() === 1L,
      "post-checkpoint mutations still auto-record change files")
  }

  test("restore rolls data back metadata-only; history kept; CDC feed synthesizes the round trip") {
    val t = freshTable()
    val df = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
    val v0 = CommitLog.append(spark, t, df.repartitionByRange(4, col("id")))
    val filesV0 = CommitLog.snapshot(t).files.toSet
    // the predicate hits EVERY file, so the restore re-adds all of v0
    CommitLog.deleteWhere(spark, t, col("id") % 2 === 0)    // v1: rewrite
    val v2 = CommitLog.append(spark, t,
      Seq((1000L, "extra")).toDF("id", "s"))                // v2: extra rows
    val v3 = CommitLog.restore(t, v0)
    assert(v3 === 3L)
    // data identical to v0, via the ORIGINAL file objects (no copy)
    assert(CommitLog.snapshot(t).files.toSet === filesV0)
    assert(CommitLog.read(spark, t).agg(sum("id")).as[Long].head() === 5050L)
    // the bad versions stay time-travelable (restore appends, never erases)
    assert(CommitLog.read(spark, t, asOf = Some(v2)).count() === 51L)
    // restoring to the tip state is a no-op, not an empty commit
    assert(CommitLog.restore(t, v3) === -1L)
    // the row-level feed represents the restore with zero stored change
    // files: re-added rows as inserts, retracted rows as deletes
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = v2)
    val byType = feed.get.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType("insert") === 100L, "v0's re-added files -> insert rows")
    assert(byType("delete") === 51L, "v1 survivors + v2 extra -> delete rows")
    // and the append feed still (correctly) skips it: those rows flowed at v0
    assert(CommitLog.changedFiles(t, fromVersion = v2,
      toVersion = CommitLog.latestVersion(t)).isEmpty)
  }

  test("restore refuses, typed and uncommitted, when vacuum already removed a target file") {
    val t = freshTable()
    val v0 = CommitLog.append(spark, t, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s"))
    CommitLog.deleteWhere(spark, t, col("id") > 5L)
    CommitLog.vacuum(t) // aggressive: tombstoned v0 files are gone
    val tip = CommitLog.latestVersion(t)
    val e = intercept[IllegalArgumentException] { CommitLog.restore(t, v0) }
    assert(e.getMessage.contains("vacuum"))
    assert(CommitLog.latestVersion(t) === tip, "nothing was committed")
    assert(CommitLog.read(spark, t).count() === 5L, "table intact")
  }

  test("history describes every commit: provenance operation + action counts") {
    val t = freshTable()
    val df = (1L to 10L).map(i => (i, s"r$i")).toDF("id", "s")
    CommitLog.append(spark, t, df.coalesce(1))
    CommitLog.deleteWhere(spark, t, col("id") > 8L, cdc = true)
    CommitLog.compact(spark, t, targetFiles = 1)
    CommitLog.setTableProperty(t, "owner", "pipeline-a")
    val h = CommitLog.history(spark, t).orderBy("version")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(h.map(_._2) === Seq("append", "delete", "compact", "property"))
    assert(h(0) === ((0L, "append", 1L, 0L, 0L)))
    assert(h(1) === ((1L, "delete", 1L, 1L, 1L)))
    assert(h(2) === ((2L, "compact", 1L, 1L, 0L)))
    assert(h(3) === ((3L, "property", 0L, 0L, 0L)))
  }

  test("4+ cluster columns: interleave width scales down instead of failing; pruning stays exact") {
    val t = freshTable()
    val df = (0L until 512L).map { i =>
      (i % 8, (i / 8) % 8, (i / 64) % 8, i / 512 + i % 3, i)
    }.toDF("a", "b", "c", "d", "id")
    // 4 cols x 16 bits would overflow a long; the width must adapt
    CommitLog.appendClustered(spark, t, df, Seq("a", "b", "c", "d"), files = 8)
    assert(CommitLog.read(spark, t).count() === 512L)
    // zonemap pruning on a narrow box over the first dimension: fewer
    // files than the full set, and the exact predicate loses no rows
    val total = CommitLog.snapshot(t).files.size
    val kept = CommitLog.prunedFilesBox(t, Map("a" -> (0d, 0d))).size
    assert(kept < total, s"z-layout must let the zonemap prune ($kept of $total)")
    assert(CommitLog.readWhereBox(spark, t, Map("a" -> (0d, 0d))).count() ===
      df.where(col("a") === 0).count())
  }

  test("CHECK constraints: validated on add, enforced atomically on every value-introducing write") {
    val t = freshTable()
    CommitLog.append(spark, t, (1L to 10L).map(i => (i, i * 10.0)).toDF("id", "price"))
    // adding a constraint the live data violates is rejected, uncommitted
    val tipBefore = CommitLog.latestVersion(t)
    val e0 = intercept[CommitLog.ConstraintViolationException] {
      CommitLog.addConstraint(spark, t, "big_price", "price > 50")
    }
    assert(e0.getMessage.contains("existing rows"))
    assert(CommitLog.latestVersion(t) === tipBefore)
    // a satisfiable constraint lands and is queryable
    CommitLog.addConstraint(spark, t, "positive_price", "price > 0")
    assert(CommitLog.constraints(t) === Map("positive_price" -> "price > 0"))
    // every value-introducing path rejects violations ATOMICALLY
    def unchanged[A](body: => A): Unit = {
      val (v, n) = (CommitLog.latestVersion(t), CommitLog.read(spark, t).count())
      intercept[CommitLog.ConstraintViolationException](body)
      assert(CommitLog.latestVersion(t) === v, "a violating batch must not commit")
      assert(CommitLog.read(spark, t).count() === n)
    }
    unchanged(CommitLog.append(spark, t, Seq((11L, -1.0)).toDF("id", "price")))
    unchanged(CommitLog.appendOnce(spark, t,
      Seq((11L, -1.0)).toDF("id", "price"), "cc", 0L))
    unchanged(CommitLog.updateWhere(spark, t, col("id") === 1L,
      Map("price" -> lit(-5.0))))
    unchanged(CommitLog.mergeInto(spark, t,
      Seq((1L, -2.0)).toDF("id", "price"), Seq("id")))
    // NULL is a violation: CHECK must hold, unknown does not hold
    unchanged(CommitLog.append(spark, t,
      Seq((12L, Option.empty[Double])).toDF("id", "price")))
    // compliant writes flow through every path
    CommitLog.append(spark, t, Seq((11L, 110.0)).toDF("id", "price"))
    CommitLog.updateWhere(spark, t, col("id") === 1L, Map("price" -> lit(5.0)))
    CommitLog.mergeInto(spark, t, Seq((2L, 25.0), (12L, 120.0)).toDF("id", "price"), Seq("id"))
    assert(CommitLog.read(spark, t).count() === 12L)
    // the constraint is log state: a checkpoint carries it forward
    CommitLog.checkpoint(t)
    assert(CommitLog.constraints(t) === Map("positive_price" -> "price > 0"))
    // DROP CONSTRAINT: the same violating batch now lands
    CommitLog.dropConstraint(t, "positive_price")
    assert(CommitLog.constraints(t).isEmpty)
    CommitLog.append(spark, t, Seq((13L, -1.0)).toDF("id", "price"))
    assert(CommitLog.read(spark, t).where(col("price") < 0).count() === 1L)
    // history records the constraint DDL as provenance
    val ops = CommitLog.history(spark, t).orderBy("version")
      .select("operation").as[String].collect().toSeq
    assert(ops.count(_ == "constraint") === 2, "add + drop both versioned")
  }

  test("restore validates re-added files against ACTIVE constraints; sessionless form refuses") {
    val t = freshTable()
    // v0 has negative prices; they are deleted BEFORE the constraint lands,
    // so the constraint is valid at add time — the only way back in for the
    // bad rows is a restore that skips validation
    val v0 = CommitLog.append(spark, t,
      (1L to 10L).map(i => (i, i * 10.0 - 55.0)).toDF("id", "price"))
    CommitLog.deleteWhere(spark, t, col("price") <= 0)
    CommitLog.addConstraint(spark, t, "positive_price", "price > 0")
    val tip = CommitLog.latestVersion(t)
    // validated form: typed rejection, nothing committed
    val e = intercept[CommitLog.ConstraintViolationException] {
      CommitLog.restore(spark, t, v0)
    }
    assert(e.getMessage.contains("positive_price"))
    assert(CommitLog.latestVersion(t) === tip, "nothing was committed")
    // sessionless form on a constrained table: refuses rather than skip
    // the check (it cannot scan without a session)
    val e2 = intercept[IllegalStateException] { CommitLog.restore(t, v0) }
    assert(e2.getMessage.contains("restore(spark"))
    assert(CommitLog.latestVersion(t) === tip)
    // a compliant restore through the validated form still works: land a
    // compliant append, mutate, roll back to the compliant version
    val vGood = CommitLog.append(spark, t, Seq((100L, 5.0)).toDF("id", "price"))
    CommitLog.deleteWhere(spark, t, col("id") === 100L)
    assert(CommitLog.restore(spark, t, vGood) > 0)
    assert(CommitLog.read(spark, t).where(col("id") === 100L).count() === 1L)
    // dropping the constraint re-opens the sessionless path
    CommitLog.dropConstraint(t, "positive_price")
    assert(CommitLog.restore(t, v0) > 0)
    assert(CommitLog.read(spark, t).where(col("price") <= 0).count() === 5L)
  }

  test("timestamp time travel: monotone clock, boundary rules, typed pre-genesis error, restore-to-ts") {
    val t = freshTable()
    // a fast commit burst: several commits can share a wall-clock ms, so
    // the provenance clock MUST adjust to stay strictly increasing —
    // version order is the only true order
    val v0 = CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val v1 = CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    CommitLog.deleteWhere(spark, t, col("id") === 1L)
    val v3 = CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    val tss = CommitLog.commitTimestamps(t)
    assert(tss.map(_._1) === (0L to 3L))
    assert(tss.sliding(2).forall { case Seq(a, b) => b._2 > a._2 },
      s"adjusted timestamps must be strictly increasing: $tss")
    val byV = tss.toMap
    // boundary rule: latest version whose ts <= the asked instant
    assert(CommitLog.versionAtTimestamp(t, byV(v0)) === v0, "exact stamp addresses its version")
    assert(CommitLog.versionAtTimestamp(t, byV(v1) - 1) === v0, "between v0 and v1 -> v0")
    assert(CommitLog.versionAtTimestamp(t, byV(v3)) === v3)
    assert(CommitLog.versionAtTimestamp(t, byV(v3) + 1000000) === v3, "future -> tip")
    // before the first commit: typed error, never version 0
    val e = intercept[IllegalArgumentException] {
      CommitLog.versionAtTimestamp(t, byV(v0) - 1)
    }
    assert(e.getMessage.contains("before"))
    // read AS OF an instant between v1 and the delete: both rows visible
    assert(CommitLog.readAsOfTimestamp(spark, t, byV(2L) - 1)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // restore TO TIMESTAMP rolls data back to the addressed version
    CommitLog.restoreToTimestamp(spark, t, byV(v1))
    assert(CommitLog.read(spark, t).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L), "restore-to-ts must land on v1's state")
  }

  test("timestamp addressing survives an unreadable pre-checkpoint commit file") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val v1 = CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    CommitLog.checkpoint(t)
    val v2 = CommitLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    // replay tolerates a corrupted PRE-CHECKPOINT commit file (the spec'd
    // contract); the monotone clock must degrade the same way, not crash
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_log", "v000000000000.json"),
      "garbage".getBytes("UTF-8"))
    val tss = CommitLog.commitTimestamps(t).toMap
    assert(tss.size === 3)
    assert(tss(0L) < tss(1L) && tss(1L) < tss(2L), "clock stays monotone")
    // readable commits keep exact stamps: addressing in the intact suffix
    // still resolves, and reads go through the checkpoint-seeded replay
    assert(CommitLog.versionAtTimestamp(t, tss(v2) - 1) === v1)
    assert(CommitLog.readAsOfTimestamp(spark, t, tss(v2) - 1)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("'-' is rejected as a property value; removeTableProperty is the removal API") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "s"))
    CommitLog.setTableProperty(t, "owner", "pipeline-a")
    // the tombstone literal can never masquerade as a value: without the
    // guard this call would silently DELETE `owner` instead of setting it
    val e = intercept[IllegalArgumentException] {
      CommitLog.setTableProperty(t, "owner", "-")
    }
    assert(e.getMessage.contains("removeTableProperty"))
    assert(CommitLog.tableProperties(t) === Map("owner" -> "pipeline-a"),
      "the rejected call must not have changed anything")
    // the real removal API, versioned like any commit
    CommitLog.removeTableProperty(t, "owner")
    assert(CommitLog.tableProperties(t) === Map.empty[String, String])
    // removal survives checkpointed replay (tombstone is log state)
    CommitLog.setTableProperty(t, "owner", "pipeline-b")
    CommitLog.removeTableProperty(t, "owner")
    CommitLog.checkpoint(t)
    CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    assert(CommitLog.tableProperties(t) === Map.empty[String, String])
  }

  test("governance composes: cdc property + constraint + mutations + restore keep a replica convergent") {
    import org.apache.spark.sql.functions.{lit => flit}
    val t = freshTable(); val replica = freshTable()
    def snap(p: String): Seq[(Long, Double)] =
      CommitLog.read(spark, p).select("id", "price")
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
    // governed table: CDC on (table property), prices must stay positive
    CommitLog.append(spark, t, (1L to 10L).map(i => (i, i * 10.0)).toDF("id", "price"))
    CommitLog.setTableProperty(t, "cdc", "true")
    CommitLog.addConstraint(spark, t, "positive_price", "price > 0")
    // a replica bootstrapped from the genesis feed
    val (c0, boot) = CommitLog.readChangesCdc(spark, t, fromVersion = -1L)
    CommitLog.applyChanges(spark, replica, boot.get, Seq("id"))
    assert(snap(replica) === snap(t))
    // mutations WITHOUT per-call cdc flags: the property records changes;
    // the constraint screens the merge's values
    intercept[CommitLog.ConstraintViolationException] {
      CommitLog.mergeInto(spark, t, Seq((3L, -1.0)).toDF("id", "price"), Seq("id"))
    }
    CommitLog.mergeInto(spark, t,
      Seq((3L, 33.0), (11L, 110.0)).toDF("id", "price"), Seq("id"))
    CommitLog.deleteWhere(spark, t, col("id") === 1L)
    val v = CommitLog.updateWhere(spark, t, col("id") === 2L,
      Map("price" -> flit(22.0)))
    // feed the replica through the mutation window; it must converge —
    // including the rejected merge (nothing committed, nothing to apply)
    val (c1, w1) = CommitLog.readChangesCdc(spark, t, fromVersion = c0)
    CommitLog.applyChanges(spark, replica, w1.get, Seq("id"))
    assert(snap(replica) === snap(t))
    assert(snap(t).exists(r => r._1 == 3L && r._2 == 33.0))
    assert(!snap(t).exists(_._1 == 1L))
    // RESTORE the source past the mutations: the feed synthesizes the
    // rollback and the replica follows it, no change files stored. The
    // table has an active constraint, so restore must go through the
    // VALIDATED form (the sessionless form refuses — spec'd above); the
    // re-added rows all satisfy it, so the rollback lands
    CommitLog.restore(spark, t, v - 3) // back to pre-merge (after prop+constraint)
    val (_, w2) = CommitLog.readChangesCdc(spark, t, fromVersion = c1)
    CommitLog.applyChanges(spark, replica, w2.get, Seq("id"))
    assert(snap(replica) === snap(t))
    assert(snap(t) === (1L to 10L).map(i => (i, i * 10.0)).toSeq,
      "restore must roll the governed table back to the pre-merge state")
    // provenance records the whole story in order
    val ops = CommitLog.history(spark, t).orderBy("version")
      .select("operation").as[String].collect().toSeq
    assert(ops === Seq("append", "property", "constraint",
      "merge", "delete", "update", "restore"))
  }

  test("maintain: no-op below thresholds, compacts fragmentation, materializes masks") {
    val t = freshTable()
    // 10 single-file appends = 10 live files
    (0 until 10).foreach(i =>
      CommitLog.append(spark, t, Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1)))
    // below both thresholds: a maintenance tick commits NOTHING
    val tip = CommitLog.latestVersion(t)
    assert(CommitLog.maintain(spark, t, maxFiles = 64) === -1L)
    assert(CommitLog.latestVersion(t) === tip, "a no-op tick must not commit")
    // fragmentation past maxFiles triggers a compaction to targetFiles
    val v = CommitLog.maintain(spark, t, maxFiles = 4, targetFiles = 2)
    assert(v > tip)
    assert(CommitLog.snapshot(t).files.size <= 2)
    assert(CommitLog.read(spark, t).count() === 10L)
    // accumulated masks past maxMaskRows trigger materialization
    CommitLog.deleteWhereDv(spark, t, col("k") < 3L)
    assert(CommitLog.deletionVectors(t).map(_._2).sum === 3L)
    assert(CommitLog.maintain(spark, t, maxFiles = 64, maxMaskRows = 2L) > v)
    assert(CommitLog.deletionVectors(t).isEmpty,
      "maintenance must materialize and retire the masks")
    assert(CommitLog.read(spark, t).count() === 7L)
    // and the history says exactly what happened
    val ops = CommitLog.history(spark, t).orderBy("version")
      .select("operation").as[String].collect().toSeq
    assert(ops.count(_ == "compact") === 2)
  }

  test("registered query forms: occ_restore and occ_history at sf0.001") {
    val r = CommitLogQueries.occRestore(spark, sf)
    val nation = Tables.nation(spark, sf)
    assert(r.count() === nation.count())
    assert(r.where(col("n_nationkey") >= 1000).count() === 0L,
      "the extra post-delete append must be rolled back")
    val h = CommitLogQueries.occHistory(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(h.map(_._2) ===
      Seq("append", "append", "delete", "compact", "property", "restore"))
    assert(h.map(r2 => (r2._3, r2._4, r2._5)) ===
      Seq((1L, 0L, 0L), (1L, 0L, 0L), (1L, 1L, 1L),
          (1L, 2L, 0L), (0L, 0L, 0L), (2L, 1L, 0L)))
    val cc = CommitLogQueries.occConstraints(spark, sf)
    val orders = Tables.orders(spark, sf)
    assert(cc.count() ===
      orders.count() + orders.where(col("o_orderkey") <= 100).count())
    assert(cc.where(col("o_totalprice") <= 0).count() === 0L,
      "the violating batch must be absent")
  }
}
