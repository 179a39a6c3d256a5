package graft

import graft.sources.CommitLog
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Deletion vectors — merge-on-read DELETE/UPDATE for the commit-log
  * table layer (the Iceberg position-delete / Delta deletion-vector
  * shape, realized Spark-first over parquet's `_metadata.file_name` /
  * `row_index` hidden columns + a broadcast anti-join).
  *
  * The scale claim under test: a sparse delete must leave every data
  * file PHYSICALLY UNTOUCHED (at 100 TB, copy-on-write for 0.1% of rows
  * rewrites terabytes; a sidecar of (file, pos) pairs is kilobytes), and
  * every read path — snapshot, time travel, pruned range reads, the DML
  * ops' own rewrites, CDC synthesis, restore — must agree on the masked
  * view. */
class CommitLogDvSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("commitlog_dv").toString

  private def keyedTable(n: Int = 100, files: Int = 4): String = {
    val t = freshTable()
    CommitLog.appendIndexed(spark, t,
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "s")
        .repartitionByRange(files, col("k")), "k")
    t
  }

  test("dv delete: rows masked, every data file untouched, one live sidecar") {
    val t = keyedTable()
    val filesBefore = CommitLog.snapshot(t).files.toSet
    val v = CommitLog.deleteWhereDv(spark, t, col("k") >= 10 && col("k") < 30)
    assert(v === 1L)
    // reader view: SQL DELETE semantics
    val back = CommitLog.read(spark, t).select("k").as[Long].collect().sorted
    assert(back.toSeq === ((0L until 10L) ++ (30L until 100L)))
    // physical view: the live DATA set is byte-identical — merge-on-read
    assert(CommitLog.snapshot(t).files.toSet === filesBefore)
    val dvs = CommitLog.deletionVectors(t)
    assert(dvs.size === 1)
    assert(dvs.head._2 === 20L, "sidecar row count must equal masked positions")
    // time travel to the pre-delete version shows the rows back
    assert(CommitLog.read(spark, t, asOf = Some(0L)).count() === 100)
  }

  test("overlapping second dv delete masks only the remainder (idempotent)") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k").between(10, 29))
    CommitLog.deleteWhereDv(spark, t, col("k").between(20, 39))
    assert(CommitLog.read(spark, t).count() === 70)
    // the second scan ran THROUGH the mask: its sidecar holds only 20..39
    // minus the already-masked 20..29
    val dvs = CommitLog.deletionVectors(t).sortBy(_._1)
    assert(dvs.map(_._2).sum === 30L,
      s"masks must not double-count overlapping positions: $dvs")
    // re-deleting a fully-masked range is a no-commit no-op
    assert(CommitLog.deleteWhereDv(spark, t, col("k").between(12, 18)) === -1L)
  }

  test("dv delete with NULL predicate rows: they survive (SQL DELETE)") {
    val t = freshTable()
    CommitLog.append(spark, t,
      Seq((1L, Some(1L)), (2L, None), (3L, Some(3L)))
        .toDF("k", "maybe"))
    CommitLog.deleteWhereDv(spark, t, col("maybe") > 1L)
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === Seq(1L, 2L))
  }

  test("pruned range read (readWhere) applies the mask") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k").between(10, 14))
    val got = CommitLog.readWhere(spark, t, "k", 5d, 20d)
      .select("k").as[Long].collect().sorted
    assert(got.toSeq === (5L to 9L) ++ (15L to 20L))
  }

  test("dv update: old position masked, updated row appended, files untouched") {
    val t = keyedTable()
    val filesBefore = CommitLog.snapshot(t).files.toSet
    CommitLog.updateWhereDv(spark, t, col("k") === 42L,
      Map("s" -> lit("updated")))
    val back = CommitLog.read(spark, t)
    assert(back.count() === 100)
    assert(back.where(col("k") === 42L).select("s").as[String].head() === "updated")
    // merge-on-read: the original files are all still live, plus the append
    val after = CommitLog.snapshot(t).files.toSet
    assert(filesBefore.subsetOf(after), "update must not rewrite data files")
    assert(after.size === filesBefore.size + 1)
    // SET right-hand side evaluates against the OLD row
    CommitLog.updateWhereDv(spark, t, col("k") === 7L,
      Map("s" -> concat(col("s"), lit("+")), "k" -> (col("k") + 1000L)))
    val moved = CommitLog.read(spark, t).where(col("k") === 1007L)
      .select("s").as[String].head()
    assert(moved === "v7+")
  }

  test("copy-on-write delete on a DV table does not resurrect masked rows") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k").between(0, 9))
    // copy-on-write delete hits files that ALSO hold masked rows: the
    // rewrite must carry the mask through, not materialize 0..9 back
    CommitLog.deleteWhere(spark, t, col("k").between(10, 19))
    val back = CommitLog.read(spark, t).select("k").as[Long].collect().sorted
    assert(back.toSeq === (20L until 100L))
  }

  test("merge on a DV table: a masked key is NOT MATCHED (inserts, not updates)") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") === 50L)
    CommitLog.mergeInto(spark, t, Seq((50L, "reborn")).toDF("k", "s"), Seq("k"))
    val rows = CommitLog.read(spark, t).where(col("k") === 50L)
      .select("s").as[String].collect()
    assert(rows.toSeq === Seq("reborn"),
      "the dv-deleted row must not survive the merge as a second copy")
    assert(CommitLog.read(spark, t).count() === 100)
  }

  test("compaction materializes the mask and retires every sidecar") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") < 25L)
    assert(CommitLog.deletionVectors(t).nonEmpty)
    CommitLog.compact(spark, t, targetFiles = 2)
    assert(CommitLog.deletionVectors(t).isEmpty,
      "compaction must retire sidecars (the mask is materialized)")
    assert(CommitLog.read(spark, t).count() === 75)
    // the retired sidecar is now unreferenced: vacuum collects it
    val dataFiles = () => graft.sources.CommitLog.LocalStore
      .list(Paths.get(t, "data")).size
    val before = dataFiles()
    val deleted = CommitLog.vacuum(t)
    assert(deleted.nonEmpty)
    assert(dataFiles() < before)
    assert(CommitLog.read(spark, t).count() === 75)
  }

  test("vacuum with retention keeps live sidecars readable") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") < 10L)
    CommitLog.vacuum(t) // aggressive: only the tip survives
    // the sidecar is LIVE state at the tip — it must survive any vacuum
    assert(CommitLog.read(spark, t).count() === 90)
    assert(CommitLog.deletionVectors(t).size === 1)
  }

  test("racing dv-delete vs compaction: exactly one wins, typed conflict") {
    val t = keyedTable()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ops: Seq[() => Unit] = Seq(
      () => { CommitLog.deleteWhereDv(spark, t, col("k") < 50L); () },
      () => { CommitLog.compact(spark, t, targetFiles = 1); () })
    val threads = ops.map { op =>
      new Thread(() => {
        try { gate.await(); op() }
        catch {
          case _: CommitLog.ConcurrentRewriteException =>
            conflicts.incrementAndGet(); ()
          case e: Throwable => errs.add(e)
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${Option(errs.peek())}")
    assert(conflicts.get() === 1,
      s"dv-vs-rewrite must conflict exactly once, got ${conflicts.get()}")
    // whichever won, the table is consistent: either the delete landed
    // (50 rows) or only the compaction did (100 rows)
    val n = CommitLog.read(spark, t).count()
    assert(n === 50L || n === 100L, s"inconsistent row count $n")
  }

  test("two racing dv-deletes on disjoint predicates commute (both land)") {
    val t = keyedTable()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val preds = Seq(col("k") < 10L, col("k") >= 90L)
    val threads = preds.map { p =>
      new Thread(() => {
        try { gate.await(); CommitLog.deleteWhereDv(spark, t, p); () }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty,
      s"DV-over-DV must commute, got: ${Option(errs.peek())}")
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === (10L until 90L))
  }

  test("CDC: dv delete records delete change rows; updatedv records both images") {
    val t = keyedTable()
    CommitLog.setTableProperty(t, "cdc", "true")
    CommitLog.deleteWhereDv(spark, t, col("k").between(10, 14))
    CommitLog.updateWhereDv(spark, t, col("k") === 20L,
      Map("s" -> lit("post")))
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 1L)
    val rows = feed.get.select("k", "s", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().sortBy(r => (r._4, r._3, r._1))
    val deletes = rows.filter(_._3 == "delete")
    assert(deletes.map(_._1).toSeq === (10L to 14L))
    assert(rows.filter(_._3 == "update_preimage").map(_._2).toSeq === Seq("v20"))
    assert(rows.filter(_._3 == "update_postimage").map(_._2).toSeq === Seq("post"))
  }

  test("CDC gap: a dv mutation without change files is a typed stop, not silence") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") === 1L) // cdc off
    val e = intercept[CommitLog.CdcGapException] {
      CommitLog.readChangesCdc(spark, t, fromVersion = 0L)
    }
    assert(e.getMessage.contains("deletedv"))
  }

  test("append feed skips dv mutations (they are not new rows)") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") === 1L)
    CommitLog.updateWhereDv(spark, t, col("k") === 2L, Map("s" -> lit("x")))
    val (cursor, batch) = CommitLog.readChanges(spark, t, fromVersion = 0L)
    assert(cursor === 2L)
    assert(batch.isEmpty, "an updatedv's appended postimages are not inserts")
    // row-based admission control agrees
    assert(CommitLog.versionFeedRows(t, 1L, cdc = false) === 0L)
    assert(CommitLog.versionFeedRows(t, 2L, cdc = false) === 0L)
  }

  test("checkpoint carries the live mask (replay seeds from it)") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") < 40L)
    CommitLog.checkpoint(t)
    CommitLog.append(spark, t, Seq((1000L, "late")).toDF("k", "s"))
    // corrupt every pre-checkpoint commit: replay must not need them
    (0L to 1L).foreach { v =>
      Files.write(Paths.get(t, "_log", f"v$v%012d.json"),
        "garbage".getBytes("UTF-8"))
    }
    assert(CommitLog.read(spark, t).count() === 61)
    assert(CommitLog.deletionVectors(t).size === 1)
  }

  test("schema evolution after a dv delete: masked read under the union schema") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") < 90L)
    CommitLog.append(spark, t,
      Seq((200L, "new", 7L)).toDF("k", "s", "extra"))
    val back = CommitLog.read(spark, t).orderBy("k")
      .select("k", "extra").as[(Long, Option[Long])].collect()
    assert(back.toSeq === ((90L until 100L).map(k => (k, None)) :+ (200L, Some(7L))))
  }

  test("restore across dv versions: rows back, then the mask back (consolidated)") {
    val t = keyedTable()                                          // v0
    CommitLog.setTableProperty(t, "cdc", "true")                  // v1
    CommitLog.deleteWhereDv(spark, t, col("k") < 20L)             // v2
    CommitLog.deleteWhereDv(spark, t, col("k") >= 95L)            // v3
    // back to pre-delete: metadata-only, masked rows resurrected
    val v4 = CommitLog.restore(spark, t, asOf = 1L)
    assert(v4 === 4L)
    assert(CommitLog.read(spark, t).count() === 100)
    assert(CommitLog.deletionVectors(t).isEmpty)
    // forward again to the fully-masked state: ONE consolidated sidecar
    CommitLog.restore(spark, t, asOf = 3L)                        // v5
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === (20L until 95L))
    val dvs = CommitLog.deletionVectors(t)
    assert(dvs.size === 1, s"restore must consolidate the mask: $dvs")
    assert(dvs.head._2 === 25L)
    // CDC synthesis across both restores, exact row-level fidelity:
    // v4 resurrects exactly the 25 masked rows; v5 re-deletes them
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 3L)
    val rows = feed.get.select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect()
    val v4rows = rows.filter(_._3 == 4L)
    assert(v4rows.forall(_._2 == "insert"))
    assert(v4rows.map(_._1).sorted.toSeq === ((0L until 20L) ++ (95L until 100L)))
    val v5rows = rows.filter(_._3 == 5L)
    assert(v5rows.forall(_._2 == "delete"))
    assert(v5rows.map(_._1).sorted.toSeq === ((0L until 20L) ++ (95L until 100L)))
  }

  test("restore that re-adds data files masked at the target applies the mask") {
    val t = keyedTable()                                          // v0
    CommitLog.deleteWhereDv(spark, t, col("k").between(40, 59))   // v1
    CommitLog.compact(spark, t, targetFiles = 1)                  // v2: materializes
    // restore to the masked state: the ORIGINAL files come back along
    // with the consolidated mask — the reader view must equal v1's
    CommitLog.restore(spark, t, asOf = 1L)                        // v3
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === ((0L until 40L) ++ (60L until 100L)))
    assert(CommitLog.deletionVectors(t).size === 1)
    // and the CDC synthesis of that restore inserts only UNMASKED rows
    CommitLog.setTableProperty(t, "cdc", "true")
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 2L,
      toVersion = Some(3L))
    val ins = feed.get.where(col("_change_type") === "insert")
      .select("k").as[Long].collect().sorted
    assert(ins.toSeq === ((0L until 40L) ++ (60L until 100L)),
      "re-added files must synthesize inserts THROUGH the restored mask")
  }

  test("updateWhereDv validates CHECK constraints on the appended postimages") {
    val t = keyedTable()
    CommitLog.addConstraint(spark, t, "k_nonneg", "k >= 0")
    intercept[CommitLog.ConstraintViolationException] {
      CommitLog.updateWhereDv(spark, t, col("k") === 5L,
        Map("k" -> lit(-1L)))
    }
    // nothing landed: the table is unchanged
    assert(CommitLog.read(spark, t).where(col("k") === 5L).count() === 1L)
    assert(CommitLog.deletionVectors(t).isEmpty)
  }

  test("dv mutations flow through the streaming cdc feed into a converged replica") {
    val src = Files.createTempDirectory("dv_repl_src").toString
    val replica = Files.createTempDirectory("dv_repl_dst").toString
    val ckpt = Files.createTempDirectory("dv_repl_ckpt").toString
    def snap(t: String): Seq[(Long, String)] =
      CommitLog.read(spark, t).select("k", "s").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    CommitLog.append(spark, src,
      (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "s"))
    CommitLog.setTableProperty(src, "cdc", "true")
    val q = graft.streaming.CdcReplica.replicaStream(spark, src, replica,
      Seq("k"), ckpt, appId = "dv-repl",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      q.processAllAvailable()
      assert(snap(replica) === snap(src), "bootstrap")
      // merge-on-read mutations while the stream runs: the replica sees
      // only their change files — sidecars are a source-side detail
      CommitLog.deleteWhereDv(spark, src, col("k") < 10L)
      CommitLog.updateWhereDv(spark, src, col("k") === 20L,
        Map("s" -> lit("post")))
      q.processAllAvailable()
      assert(snap(replica) === snap(src),
        "replica must converge through dv delete + dv update")
      assert(snap(replica).size === 30)
      // compaction materializes the source mask: a reorg, invisible
      CommitLog.compact(spark, src, targetFiles = 1)
      // restore across the dv state: back to the pre-delete table — the
      // synthesized resurrections must flow as ordinary inserts
      CommitLog.restore(spark, src, asOf = 1L)
      q.processAllAvailable()
      assert(snap(replica) === snap(src),
        "replica must follow a dv-state-crossing restore")
      assert(snap(replica).size === 40)
    } finally q.stop()
  }

  test("sessionless restore across a dv state change refuses (typed)") {
    val t = keyedTable()
    CommitLog.deleteWhereDv(spark, t, col("k") < 5L)
    val e = intercept[IllegalStateException] { CommitLog.restore(t, 0L) }
    assert(e.getMessage.contains("deletion-vector"))
  }

  test("merge-on-read MERGE: one sidecar, one append, zero files rewritten") {
    val t = keyedTable()
    val filesBefore = CommitLog.snapshot(t).files.toSet
    CommitLog.mergeIntoDv(spark, t,
      Seq((10L, "u10"), (20L, "u20"), (500L, "new")).toDF("k", "s"), Seq("k"))
    val after = CommitLog.snapshot(t).files.toSet
    assert(filesBefore.subsetOf(after), "merge-on-read must not rewrite files")
    val back = CommitLog.read(spark, t)
    assert(back.count() === 101)
    assert(back.where(col("k").isin(10L, 20L, 500L)).select("s")
      .as[String].collect().sorted.toSeq === Seq("new", "u10", "u20"))
    assert(CommitLog.deletionVectors(t).map(_._2).sum === 2L,
      "exactly the two matched keys' old rows are masked")
    // pure insert: no matching key anywhere — no sidecar at all
    CommitLog.mergeIntoDv(spark, t, Seq((600L, "i")).toDF("k", "s"), Seq("k"))
    assert(CommitLog.deletionVectors(t).map(_._2).sum === 2L)
    assert(CommitLog.read(spark, t).count() === 102)
  }

  test("merge-on-read MERGE: parity with copy-on-write mergeInto, incl. CDC rows") {
    val cow = keyedTable(); val mor = keyedTable()
    CommitLog.setTableProperty(cow, "cdc", "true")
    CommitLog.setTableProperty(mor, "cdc", "true")
    val src = Seq((5L, "u5"), (77L, "u77"), (900L, "n")).toDF("k", "s")
    CommitLog.mergeInto(spark, cow, src, Seq("k"))
    CommitLog.mergeIntoDv(spark, mor, src, Seq("k"))
    def state(t: String) = CommitLog.read(spark, t)
      .select("k", "s").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(state(mor) === state(cow), "reader-visible MERGE semantics must agree")
    def cdc(t: String) = CommitLog.readChangesCdc(spark, t,
        fromVersion = CommitLog.latestVersion(t) - 1)._2.get
      .select("k", "s", "_change_type").as[(Long, String, String)]
      .collect().sortBy(r => (r._3, r._1)).toSeq
    assert(cdc(mor) === cdc(cow), "CDC change rows must agree across forms")
  }

  test("merge-on-read MERGE: schema evolution, duplicate-key guard, NULL keys") {
    val t = keyedTable()
    intercept[IllegalArgumentException] {
      CommitLog.mergeIntoDv(spark, t,
        Seq((1L, "a"), (1L, "b")).toDF("k", "s"), Seq("k"))
    }
    // NULL source key never matches: inserts; NULL target keys survive
    CommitLog.mergeIntoDv(spark, t,
      Seq((Some(3L), "u3", 30L), (None, "nk", 0L)).toDF("k", "s", "extra"),
      Seq("k"))
    val back = CommitLog.read(spark, t)
    assert(back.count() === 101)
    assert(back.where(col("k") === 3L).select("s").as[String].head() === "u3")
    assert(back.where(col("k").isNull).count() === 1)
    // evolved column: NULL on pre-evolution rows
    assert(back.where(col("extra") === 30L).count() === 1)
  }

  test("applyChangesDv maintains a replica without rewriting it; txn replay is a no-op") {
    val src = Files.createTempDirectory("mor_src").toString
    val rep = Files.createTempDirectory("mor_rep").toString
    CommitLog.append(spark, src,
      (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "s"))
    CommitLog.setTableProperty(src, "cdc", "true")
    CommitLog.mergeInto(spark, src, Seq((7L, "u7"), (99L, "n")).toDF("k", "s"),
      Seq("k"))
    CommitLog.deleteWhereDv(spark, src, col("k").between(30, 39))
    // bootstrap + one combined window, applied merge-on-read
    val (c1, b1) = CommitLog.readChangesCdc(spark, src, fromVersion = -1L)
    CommitLog.applyChangesDv(spark, rep, b1.get, Seq("k"), txn = Some(("mor", c1)))
    def state(t: String) = CommitLog.read(spark, t)
      .select("k", "s").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(state(rep) === state(src))
    val repFiles = CommitLog.snapshot(rep).files.toSet
    // further mutations apply as sidecar+append on the SAME replica files
    CommitLog.updateWhereDv(spark, src, col("k") === 2L, Map("s" -> lit("u2")))
    CommitLog.deleteWhere(spark, src, col("k") === 3L)
    val (c2, b2) = CommitLog.readChangesCdc(spark, src, fromVersion = c1)
    CommitLog.applyChangesDv(spark, rep, b2.get, Seq("k"), txn = Some(("mor", c2)))
    assert(state(rep) === state(src))
    assert(repFiles.subsetOf(CommitLog.snapshot(rep).files.toSet),
      "merge-on-read apply must not rewrite replica files")
    // replaying the same (appId, batchId) window is a commit-level no-op
    val tip = CommitLog.latestVersion(rep)
    assert(CommitLog.applyChangesDv(spark, rep, b2.get, Seq("k"),
      txn = Some(("mor", c2))) === -1L)
    assert(CommitLog.latestVersion(rep) === tip)
    // compaction materializes the replica's accumulated masks
    CommitLog.compact(spark, rep, targetFiles = 1)
    assert(CommitLog.deletionVectors(rep).isEmpty)
    assert(state(rep) === state(src))
  }

  test("dvSame restore re-adding files a still-live sidecar masks synthesizes THROUGH the mask") {
    // the inert-sidecar edge: dv-delete on F (sidecar M), copy-on-write
    // delete REMOVES F (M stays live, now inert), restore re-adds F with
    // NO dv actions (mask state unchanged on both sides). The restore's
    // synthesized inserts must still read through M — an unmasked
    // synthesis would resurrect the dv-deleted rows in every replica.
    val t = keyedTable(n = 20, files = 1)               // v0: one file F
    CommitLog.deleteWhereDv(spark, t, col("k") < 5L)    // v1: sidecar M over F
    CommitLog.deleteWhere(spark, t, col("k") >= 15L)    // v2: F removed, F' added
    CommitLog.restore(spark, t, asOf = 1L)              // v3: F back, no dv actions
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === (5L until 20L))
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 2L)
    val ins = feed.get.where(col("_change_type") === "insert")
      .select("k").as[Long].collect().sorted
    assert(ins.toSeq === (5L until 20L),
      "restore inserts must read THROUGH the still-live mask")
  }

  test("pure-insert mutations (merge matching nothing) synthesize inserts, no gap") {
    // cdc OFF on purpose: a merge whose keys match nothing is adds-only
    // (no removes, no mask change) — the row-level feed reads it as plain
    // inserts exactly like an append, NOT as a CdcGapException. Pins the
    // branch order in readChangesCdc: the gap fires only on commits with
    // destructive evidence (removes or dv actions) and no change files.
    // The same rule covers a bootstrap applyChanges (adds-only 'apply').
    val t = keyedTable(n = 10, files = 1)
    CommitLog.mergeInto(spark, t, Seq((500L, "i1")).toDF("k", "s"), Seq("k"))
    CommitLog.mergeIntoDv(spark, t, Seq((600L, "i2")).toDF("k", "s"), Seq("k"))
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 0L)
    val rows = feed.get.select("k", "_change_type").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq === Seq((500L, "insert"), (600L, "insert")))
  }

  test("merge-on-read streaming replica (mergeOnRead = true) converges like the rewrite form") {
    val src = Files.createTempDirectory("mor_strm_src").toString
    val rep = Files.createTempDirectory("mor_strm_rep").toString
    val ckpt = Files.createTempDirectory("mor_strm_ckpt").toString
    def snap(t: String): Seq[(Long, String)] =
      CommitLog.read(spark, t).select("k", "s").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    CommitLog.append(spark, src,
      (0 until 30).map(i => (i.toLong, s"v$i")).toDF("k", "s"))
    CommitLog.setTableProperty(src, "cdc", "true")
    val q = graft.streaming.CdcReplica.replicaStream(spark, src, rep,
      Seq("k"), ckpt, appId = "mor-strm", mergeOnRead = true,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      q.processAllAvailable()
      assert(snap(rep) === snap(src))
      CommitLog.deleteWhereDv(spark, src, col("k") < 5L)
      CommitLog.mergeIntoDv(spark, src, Seq((10L, "u"), (800L, "n")).toDF("k", "s"),
        Seq("k"))
      q.processAllAvailable()
      assert(snap(rep) === snap(src),
        "merge-on-read replica must converge through dv mutations")
      // the replica's history is applydv commits, never rewrites
      val ops = CommitLog.history(spark, rep).select("operation")
        .as[String].collect().toSet
      assert(ops.subsetOf(Set("applydv")), s"unexpected replica ops: $ops")
    } finally q.stop()
  }

  test("racing dv-updates of the same key: exactly one wins (no duplicate live rows)") {
    // the r16 advisory's OCC hole: mask+append commits never conflicted
    // DV-vs-DV, so two racers updating one key from the same snapshot both
    // landed — each masking the ORIGINAL row and each appending its own
    // postimage: two live rows for one key. The rule now: dvref-vs-dvref
    // conflicts whenever either commit carries adds.
    val t = keyedTable()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq("A", "B").map { tag =>
      new Thread(() => {
        try {
          gate.await()
          CommitLog.updateWhereDv(spark, t, col("k") === 7L,
            Map("s" -> concat(col("s"), lit(s"_$tag"))))
          ()
        } catch {
          case _: CommitLog.ConcurrentRewriteException =>
            conflicts.incrementAndGet(); ()
          case e: Throwable => errs.add(e)
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${Option(errs.peek())}")
    val rows = CommitLog.read(spark, t).where(col("k") === 7L)
      .select("s").as[String].collect().sorted.toSeq
    assert(rows.size === 1,
      s"dv-update race left ${rows.size} live rows for one key: $rows")
    if (conflicts.get() === 0)
      // the rare serialized interleaving: B re-read AFTER A committed, so
      // both applied cleanly in sequence — the row must carry both tags
      assert(rows.head.count(_ == '_') === 2, s"serialized run lost an update: $rows")
    else {
      assert(conflicts.get() === 1,
        s"same-snapshot dv-updates must conflict exactly once, got ${conflicts.get()}")
      assert(rows.head.count(_ == '_') === 1, s"loser's update leaked through: $rows")
      // the loser re-plans from a fresh snapshot and lands cleanly
      CommitLog.updateWhereDv(spark, t, col("k") === 7L,
        Map("s" -> concat(col("s"), lit("_retry"))))
      assert(CommitLog.read(spark, t).where(col("k") === 7L).count() === 1L)
    }
  }

  test("dv-delete racing a dv-update of the same row: the delete is never silently lost") {
    val t = keyedTable()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ops: Seq[() => Unit] = Seq(
      () => { CommitLog.deleteWhereDv(spark, t, col("k") === 7L); () },
      () => { CommitLog.updateWhereDv(spark, t, col("k") === 7L,
        Map("s" -> lit("updated"))); () })
    val threads = ops.map { op =>
      new Thread(() => {
        try { gate.await(); op() }
        catch {
          case _: CommitLog.ConcurrentRewriteException =>
            conflicts.incrementAndGet(); ()
          case e: Throwable => errs.add(e)
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${Option(errs.peek())}")
    val rows = CommitLog.read(spark, t).where(col("k") === 7L)
      .select("s").as[String].collect().toSeq
    // legal outcomes: delete won and update aborted (row gone), update won
    // and delete aborted (one updated row), or they serialized (second op
    // re-read after the first landed; either order converges to ≤ 1 row).
    // ILLEGAL, pre-fix: update's postimage surviving a committed delete.
    assert(rows.size <= 1, s"duplicate live rows for one key: $rows")
    if (conflicts.get() === 0)
      assert(rows.isEmpty || rows === Seq("updated"),
        s"serialized run left an inconsistent row: $rows")
  }

  test("two pure dv-deletes on the SAME row still commute (masking is idempotent)") {
    val t = keyedTable()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        try { gate.await(); CommitLog.deleteWhereDv(spark, t, col("k") < 20L); () }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty,
      s"pure dv-delete vs dv-delete must keep commuting, got: ${Option(errs.peek())}")
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === (20L until 100L))
  }

  test("append feed skips a restore that re-adds files and only retires sidecars") {
    // the r16 advisory's low finding: a commit with adds + dvremove but no
    // remove/dv actions used to surface as plain appends — duplicating
    // rows that already flowed — while versionFeedRows classified the same
    // commit as a mutation (0 rows). Both now skip it.
    // reaching the add+dvremove-no-removes commit shape needs restore
    // itself as the file-remover (every DML rewrite re-adds its outputs):
    //   v0 append A, v1 append B, v2 restore→v0 (removes B),
    //   v3 dv-delete in A (sidecar S), v4 restore→v1 (re-ADDS B, retires
    //   S, removes NOTHING) — the advisory's exact commit.
    val t = freshTable()
    CommitLog.append(spark, t,
      (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1))
    val v1 = CommitLog.append(spark, t,
      (50 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1))
    CommitLog.restore(t, 0L)
    CommitLog.deleteWhereDv(spark, t, col("k") < 10L)
    val cursor = CommitLog.latestVersion(t)
    val v4 = CommitLog.restore(spark, t, v1)
    assert(v4 > cursor)
    assert(CommitLog.read(spark, t).count() === 100L, "restore must bring all rows back")
    assert(CommitLog.versionFeedRows(t, v4, cdc = false) === 0L)
    val (cur, batch) = CommitLog.readChanges(spark, t, fromVersion = cursor)
    assert(cur === v4)
    assert(batch.isEmpty,
      s"append feed must skip the dvremove-carrying restore (its re-added " +
        s"rows already flowed at v1), got ${batch.map(_.count())} rows")
  }

  test("pruned reads join only the opened files' mask rows (two sidecars)") {
    // verdict r16 "missing #3": dvMaskKeyed used to join the FULL live
    // mask on every masked read; a pruned read now pre-filters the mask
    // to the scanned files before the anti-join.
    val t = keyedTable(n = 100, files = 4)
    CommitLog.deleteWhereDv(spark, t, col("k").between(0, 9))    // sidecar 1: low files
    CommitLog.deleteWhereDv(spark, t, col("k").between(90, 99))  // sidecar 2: high files
    assert(CommitLog.deletionVectors(t).size === 2)
    val total = CommitLog.deletionVectors(t).map(_._2).sum
    assert(total === 20L)
    val lowFiles = CommitLog.prunedFiles(t, 0d, 9d)
    assert(lowFiles.size < CommitLog.snapshot(t).files.size,
      "fixture must actually prune (range-clustered files)")
    val maskRows = CommitLog.dvMaskRowsFor(spark, t, lowFiles)
    assert(maskRows === 10L,
      s"pruned read must pay only the opened files' mask rows, got $maskRows of $total")
    // and the pruned read itself stays correct through the pruned mask
    val got = CommitLog.readWhere(spark, t, "k", 0d, 20d)
      .select("k").as[Long].collect().sorted
    assert(got.toSeq === (10L to 20L))
  }

  test("copy-on-write apply after a dv apply keeps masked rows deleted") {
    // one replica maintained by both apply forms: the dv form masks a
    // deleted key, then the copy-on-write form rewrites the same file for
    // another key — its rewrite must read through the mask, or the
    // deleted key comes back
    val rep = freshTable()
    CommitLog.append(spark, rep,
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1))
    assert(CommitLog.snapshot(rep).files.size === 1, "both keys must share one file")
    def change(k: Long, s: String, ct: String) =
      Seq((k, s, ct, 1L)).toDF("k", "s", "_change_type", "_commit_version")
    assert(CommitLog.applyChangesDv(spark, rep, change(3L, "v3", "delete"), Seq("k")) === 1L)
    assert(CommitLog.applyChanges(spark, rep, change(5L, "new", "update_postimage"), Seq("k")) === 2L)
    val back = CommitLog.read(spark, rep).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq === (0L until 10L).filter(_ != 3L)
      .map(k => (k, if (k == 5L) "new" else s"v$k")))
  }

  test("a restore's synthesized inserts join only the re-added files' mask rows (two sidecars)") {
    // F1 and F3 each carry a sidecar; a copy-on-write delete replaces F3
    // with F3', and a restore re-adds F3. The insert side must read F3
    // through the live masks with the mask pre-filtered to F3 — not
    // broadcast F1's mask rows too — and the change rows stay exact.
    val t = keyedTable(n = 30, files = 3)
    val f1 = CommitLog.prunedFiles(t, 0d, 0d).head
    val f3 = CommitLog.prunedFiles(t, 29d, 29d).head
    assert(f1 != f3)
    val f3Keys = spark.read.parquet(Paths.get(t, f3).toString).select("k").as[Long]
      .collect().sorted.toSeq
    val (masked, deleted) = (f3Keys.head, f3Keys.last)
    CommitLog.deleteWhereDv(spark, t, col("k") === 0L)      // v1: sidecar over F1
    CommitLog.deleteWhereDv(spark, t, col("k") === masked)  // v2: sidecar over F3
    CommitLog.deleteWhere(spark, t, col("k") === deleted)   // v3: F3 replaced by F3'
    assert(CommitLog.restore(spark, t, asOf = 2L) === 4L)   // v4: F3 back
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = 3L)
    val rows = feed.get.select("k", "_change_type").as[(Long, String)].collect().sorted.toSeq
    val live = f3Keys.filter(_ != masked)
    assert(rows === (live.map((_, "insert")) ++
      live.filter(_ != deleted).map((_, "delete"))).sorted)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
    val prefilters = feed.get.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(_.collect {
      case In(a: AttributeReference, list) if a.name == "file" => list.map(_.eval().toString)
    }).flatten
    assert(prefilters === Seq(Paths.get(f3).getFileName.toString),
      "the insert side's mask must be pre-filtered to the re-added file")
  }
}
