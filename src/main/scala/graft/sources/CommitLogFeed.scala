package graft.sources

import graft.operators.Truncate
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The change feeds of [[CommitLog]]: the one commit reader, the append
  * feed ([[changedFiles]], [[readChanges]]), the row-level feed
  * ([[readChangesCdc]]), feed-row pacing ([[versionFeedRows]]), history
  * and the monotone timestamp clock. */
private[sources] trait CommitLogFeed { self: CommitLog.type =>

  /** One commit file, decoded. */
  private[sources] final class Commit(val actions: Seq[Action]) {
    def paths(op: String): Seq[String] = actions.collect { case a if a.op == op => a.path }
    /** The row counts the commit's `op` actions recorded at stage time. */
    def rows(op: String): Long = actions.collect { case a if a.op == op => a.rows }.sum
    /** The provenance operation its info action names ([[infoAct]]). */
    def operation: Option[String] = actions.collectFirst { case a if a.op == "info" => a.path }
    /** Whether the commit rewrote rows: a remove (copy-on-write), a dv
      * (merge-on-read) or a dvremove (a restore retiring masks). The
      * append feed skips such a commit, the row-level feed reads its
      * change files (or synthesizes a restore's), and feed-row pacing
      * counts accordingly — one test, so the three cannot disagree. */
    def rewritesRows: Boolean =
      actions.exists(a => a.op == "remove" || a.op == "dv" || a.op == "dvremove")
  }

  /** THE commit reader: version `v`'s commit file. */
  private[sources] def readCommit(table: String, v: Long, store: LogStore): Commit =
    new Commit(decode(store.read(versionFile(table, v))))

  /** Mutation kinds that change row content — under a remove-carrying
    * commit (copy-on-write) or a dv-carrying one (merge-on-read); without
    * change files the row-level feed cannot represent them, so
    * [[readChangesCdc]] raises the typed gap. */
  private val MutationOps =
    Set("delete", "update", "merge", "apply", "overwrite",
        "deletedv", "updatedv", "mergedv", "applydv")

  /** Data files carrying NEW rows in versions `(fromVersion, toVersion]` —
    * the change-data feed a downstream incremental consumer tails. A
    * commit containing any `remove` is a REORGANIZATION (compaction
    * rewrites rows that already flowed), so its adds are excluded — the
    * feed sees each row exactly once however often the table is
    * compacted behind it. Files are returned even if a LATER rewrite
    * tombstoned them (immutability keeps them readable; vacuum retention
    * must cover the consumer's lag, docs/SCALE.md).
    *
    * This is an APPEND feed: [[deleteWhere]] commits are also
    * remove-carrying rewrites, so downstream consumers are not told to
    * retract rows they already saw. Consumers that need retractions use
    * [[readChangesCdc]] — the full-fidelity row-level feed backed by the
    * per-row change files CDC-enabled mutations store. */
  def changedFiles(table: String, fromVersion: Long, toVersion: Long,
                   store: LogStore = LocalStore): Seq[String] =
    ((fromVersion + 1) to toVersion).flatMap { v =>
      val c = readCommit(table, v, store)
      if (c.rewritesRows) Nil else c.paths("add")
    }

  /** Rows the change feed would deliver for version `v` — the metadata
    * row-based stream admission control paces on ([[graft.streaming
    * .ChangeFeedSource]]'s `maxRowsPerTrigger`), straight from the row
    * counts every add/cdc action records at stage time: one O(1) commit-
    * file read, no data touched. Mirrors each feed's classification:
    * the append feed counts adds of remove-free commits; the cdc feed
    * counts stored change files when present, synthesized inserts for
    * pure appends, and for a restore an upper bound of what it
    * synthesizes (its remove actions carry the removed files' counts).
    * Legacy pre-count commits read 0 — admission control degrades to
    * version-based, correctness unaffected. */
  def versionFeedRows(table: String, v: Long, cdc: Boolean,
                      store: LogStore = LocalStore): Long = {
    val c = readCommit(table, v, store)
    if (cdc) {
      if (c.rows("cdc") > 0) c.rows("cdc")
      else if (!c.rewritesRows) c.rows("add")
      else if (c.operation.contains("restore"))
        // a restore synthesizes: re-added rows (adds), retracted rows
        // (removes), resurrections (retired-mask rows) and fresh mask
        // deletions (added-mask rows) — each term an upper bound of its
        // synthesized arm, so pacing never under-budgets a trigger
        c.rows("add") + c.rows("remove") + c.rows("dv") + c.rows("dvremove")
      else 0L
    } else if (c.rewritesRows) 0L else c.rows("add")
  }

  /** Incremental read of the rows appended in `(fromVersion, toVersion]`
    * (default `toVersion` = tip). Returns the version the read covers
    * through and the new rows — `None` when the window holds no new data.
    * The returned version is the consumer's next cursor; feeding it to
    * [[appendOnce]] as the batch id makes a log-to-log pipeline
    * exactly-once end-to-end (spec'd in CommitLogSpec). */
  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
                  toVersion: Option[Long] = None,
                  store: LogStore = LocalStore): (Long, Option[DataFrame]) = {
    val snap = open(table, store, toVersion)
    val files = changedFiles(table, fromVersion, snap.version, store)
    // schema as of `to`: a window may span an evolution boundary, so the
    // union schema (missing columns = NULL) keeps the batch well-typed
    (snap.version, if (files.isEmpty) None else Some(snap.scan(spark, files)))
  }

  /** Full-fidelity change-data feed over `(fromVersion, toVersion]`:
    * every row change, typed by `_change_type` and stamped with the
    * `_commit_version` it landed at. Append commits synthesize `insert`
    * rows straight from their add files (no storage cost — the standard
    * lakehouse CDF trick); CDC-enabled [[deleteWhere]]/[[mergeInto]]
    * commits contribute their stored change files (`delete`,
    * `update_preimage`/`update_postimage`, `insert`); reorganizations
    * (compaction, non-CDC rewrites) contribute nothing — their rows
    * already flowed. Unlike [[readChanges]] (the append-only feed), a
    * downstream consumer of THIS feed can maintain a row-level replica,
    * retractions included. Vacuum retention must cover the consumer's
    * lag: change files older than the window are GC'd with the
    * tombstones. Returns the cursor and the change rows (`None` when
    * the window holds no changes). */
  def readChangesCdc(spark: SparkSession, table: String, fromVersion: Long,
                     toVersion: Option[Long] = None,
                     store: LogStore = LocalStore): (Long, Option[DataFrame]) = {
    import org.apache.spark.sql.functions.lit
    val snap = open(table, store, toVersion)
    val to = snap.version
    val changeTypeField = org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType)
    val parts = ((fromVersion + 1) to to).flatMap { v =>
      val c = readCommit(table, v, store)
      val (adds, removes, dvAdds, dvRems) =
        (c.paths("add"), c.paths("remove"), c.paths("dv"), c.paths("dvremove"))
      def readAs(files: Seq[String], changeType: String): DataFrame =
        snap.scan(spark, files).withColumn("_change_type", lit(changeType))
      val frame: Option[DataFrame] =
        if (c.paths("cdc").nonEmpty)
          Some(snap.scan(spark, c.paths("cdc"), Seq(changeTypeField)))
        else if (!c.rewritesRows) {
          // adds-only commits are pure inserts WHATEVER their operation:
          // a merge/apply that matched nothing destructive (no removes,
          // no mask change) appended rows and nothing else, so insert
          // synthesis is exact even without stored change files
          if (adds.isEmpty) None
          else Some(readAs(adds, "insert"))
        } else if (c.operation.contains("restore")) {
          // a restore rewrites NO rows — its re-added files are exactly
          // the restored rows and its removed files exactly the retracted
          // ones, so full-fidelity change rows synthesize straight from
          // the (immutable, pre-vacuum) files: no change-file storage cost.
          //
          // Deletion vectors keep this commit-local because restoreImpl
          // CONSOLIDATES: a dv-state-changing restore retires every prior
          // sidecar (`dvremove` — the OLD mask, still readable pre-vacuum)
          // and commits one fresh sidecar holding the FULL restored mask
          // (`dv`). So: re-added files synthesize inserts THROUGH the new
          // mask; rows of still-live files the old mask covered but the
          // new one does not are resurrections (insert); rows the new mask
          // covers but the old did not are fresh deletions (delete). The
          // removed-file delete side may include rows the old mask had
          // already deleted — a spurious retraction of an absent key,
          // which every keyed replica applies idempotently.
          //
          // `files` joined `how` against `mask` (at most `maskRows` rows)
          def through(files: Seq[String], mask: DataFrame, maskRows: Long, how: String,
                      changeType: String): Option[DataFrame] =
            if (files.isEmpty) None
            else Some(maskJoin(dvKeyed(snap.scan(spark, files)), Some(files), mask, maskRows, how)
              .drop(DvFile, DvPos).withColumn("_change_type", lit(changeType)))
          // the insert side masks with the FULL live dv state AT v, not
          // just the commit's own dv actions: a dvSame restore (mask
          // unchanged) can still re-add files an inert-but-live sidecar
          // masks — e.g. dv-delete on F, copy-on-write delete removes F
          // (sidecar stays live), restore re-adds F — and synthesizing
          // F's rows unmasked would resurrect deleted rows downstream.
          // One checkpoint-seeded replay per restore commit; restores are
          // rare and the replay is O(commits), never data-sized.
          lazy val stateAtV = snap.at(v).st
          val ins1 =
            if (adds.isEmpty) None
            else if (stateAtV.dvs.isEmpty) Some(readAs(adds, "insert"))
            else through(adds, sidecars(spark, table, stateAtV.dvs.toSeq),
              stateAtV.maskRows, "left_anti", "insert")
          // the positions one sidecar set masks and the other does not,
          // pinned: the file list and the join must see the same rows.
          // Only files still live at v and not in adds (those are fully
          // covered by ins1) can carry delta rows; the masks are small by
          // design, so the file lists collect cheaply
          lazy val stayed = stateAtV.live.filterNot(adds.contains)
          def delta(from: Seq[String], minus: Seq[String], maskRows: Long,
                    changeType: String): Option[DataFrame] =
            if (from.isEmpty) None
            else {
              val m = Truncate.resolve(None)(
                if (minus.isEmpty) sidecars(spark, table, from)
                else sidecars(spark, table, from)
                  .join(sidecars(spark, table, minus), Seq("file", "pos"), "left_anti"))
              val files = m.select("file").distinct().collect().map(_.getString(0)).toSeq
                .map(n => s"data/$n").filter(stayed.contains)
              through(files, m, maskRows, "left_semi", changeType)
            }
          val del = if (removes.isEmpty) None else Some(readAs(removes, "delete"))
          (ins1.toSeq ++ delta(dvRems, dvAdds, c.rows("dvremove"), "insert") ++
            delta(dvAdds, dvRems, c.rows("dv"), "delete") ++ del.toSeq)
            .reduceOption(_.unionByName(_, allowMissingColumns = true))
        } else if (c.operation.exists(MutationOps.contains)) {
          // the advisor-flagged failure mode: a delete/update/merge —
          // copy-on-write (remove-carrying) or merge-on-read (dv-carrying)
          // — that ran with cdc=false changed rows but stored no change
          // files; silently classifying it as a reorganization would let
          // every downstream replica diverge without a signal. Loud stop.
          throw new CdcGapException(
            s"commit v$v of $table is a '${c.operation.get}' mutation with no change files — " +
              "the row-level feed cannot represent it. Enable CDC on the table " +
              "(setTableProperty(table, \"cdc\", \"true\")) or pass cdc = true " +
              "on every mutation, then re-run the mutation path")
        } else None // compaction (or legacy pre-info commit): rows already flowed
      frame.map(_.withColumn("_commit_version", lit(v)))
    }
    if (parts.isEmpty) (to, None)
    else (to, Some(parts.reduce(_.unionByName(_, allowMissingColumns = true))))
  }

  /** DESCRIBE HISTORY: one row per commit — version, the provenance
    * operation its info action recorded (`unknown` for legacy commits),
    * and its add/remove/change-file counts. Driver-side by design: the
    * log is O(commits) metadata, never data-sized, and this is the audit
    * surface an operator reads before a [[restore]]. */
  def history(spark: SparkSession, table: String,
              store: LogStore = LocalStore): DataFrame = {
    val tip = latestVersion(table, store)
    require(tip >= 0, s"$table has no commits")
    val rows = (0L to tip).map { v =>
      val c = readCommit(table, v, store)
      (v, c.operation.getOrElse("unknown"), c.paths("add").size.toLong,
        c.paths("remove").size.toLong, c.paths("cdc").size.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("version", "operation", "num_added", "num_removed", "num_change_files")
  }

  /** Every commit's (version, timestamp) under the MONOTONE provenance
    * clock: each commit's recorded wall-clock stamp, adjusted to
    * `max(recorded, previous + 1)` — the public Delta/Iceberg rule that
    * makes timestamp addressing well-defined even when racing commits,
    * clock skew, or a sub-millisecond commit burst record out-of-order
    * raw stamps (version order is the ONLY true order; the clock must
    * never contradict it). Legacy commits with no provenance action read
    * as epoch 0 and inherit `previous + 1`; an UNREADABLE commit file
    * degrades the same way instead of failing the whole clock — replay
    * explicitly tolerates lost/corrupt PRE-CHECKPOINT commit files, so
    * timestamp addressing must too (stamps in the damaged prefix
    * collapse to the epoch-0 monotone ramp; every readable commit's
    * stamp stays exact, and the ramp only ever moves addressing toward
    * OLDER versions — AS OF never serves data newer than asked).
    * Driver-side O(commits), the same cost class as [[history]]. */
  def commitTimestamps(table: String, store: LogStore = LocalStore): Seq[(Long, Long)] = {
    val tip = latestVersion(table, store)
    require(tip >= 0, s"$table has no commits")
    var prev = Long.MinValue
    (0L to tip).map { v =>
      val raw = scala.util.Try(readCommit(table, v, store)).toOption
        .flatMap(_.actions.collectFirst { case a if a.op == "info" => a.rows })
        .getOrElse(0L)
      prev = if (prev == Long.MinValue) raw else math.max(raw, prev + 1)
      (v, prev)
    }
  }

  /** The version a timestamp addresses: the LATEST version whose monotone
    * commit timestamp is ≤ `ts` (the boundary rule every lakehouse AS OF
    * uses — "the table as it was AT that moment"). A `ts` before the
    * first commit is a typed error, not version 0: there WAS no table
    * then, and silently rounding up would hand back data from the
    * caller's future. */
  def versionAtTimestamp(table: String, ts: Long,
                         store: LogStore = LocalStore): Long = {
    val tss = commitTimestamps(table, store)
    require(ts >= tss.head._2,
      s"timestamp $ts is before $table's first commit (${tss.head._2}) — " +
        "the table did not exist yet")
    tss.takeWhile(_._2 <= ts).last._1
  }

  /** Snapshot read AS OF a timestamp — the form users actually type
    * (`SELECT ... TIMESTAMP AS OF`), mapped onto version-addressed
    * [[read]] through the monotone provenance clock. */
  def readAsOfTimestamp(spark: SparkSession, table: String, ts: Long,
                        store: LogStore = LocalStore): DataFrame =
    read(spark, table, Some(versionAtTimestamp(table, ts, store)), store)
}
