package graft.sources

import graft.operators.Truncate
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Table maintenance for [[CommitLog]]: compaction (plain, z-ordered, or
  * policy-driven), RESTORE and vacuum. */
private[sources] trait CommitLogMaintenance { self: CommitLog.type =>

  /** OCC compaction: rewrite the current live set into ~`targetFiles`
    * files and commit remove(old)+add(new). Concurrent APPENDS commute
    * (they land before or after; either way no data is covered twice);
    * a concurrent rewrite of the same files raises
    * [[ConcurrentRewriteException]] on exactly one of the racers. */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
              store: LogStore = LocalStore): Long =
    compactAt(spark, open(table, store), targetFiles, Nil)

  /** Rewrite the live set at `snap` into ~`targetFiles` files — z-ordered
    * on `clusterCols` with a re-recorded zonemap when given — and commit
    * remove(every live file and sidecar)+add(new). The read is masked:
    * compaction MATERIALIZES live deletion vectors (the rewritten files
    * no longer contain the masked rows) and retires every sidecar — the
    * maintenance pass that keeps merge-on-read reads cheap. */
  private def compactAt(spark: SparkSession, snap: TableAt, targetFiles: Int,
                        clusterCols: Seq[String]): Long = {
    require(snap.st.live.nonEmpty, s"nothing to compact in ${snap.table}")
    val df = snap.masked(spark, snap.st.live.toSeq)
    val adds =
      if (clusterCols.isEmpty)
        stage(spark, snap.table, df.repartition(math.max(1, targetFiles)))
      else stage(spark, snap.table, Layout.zcluster(df, clusterCols, targetFiles),
        None, clusterCols)
    commit(snap.table, infoAct("compact") +: (snap.retireAll ++ adds),
      readVersion = snap.version, snap.store)
  }

  /** Policy-driven maintenance — the operator loop in one idempotent
    * call: compact when the live set fragments past `maxFiles` (a
    * streaming sink writes a file per trigger; ten thousand small files
    * is the classic read-amplification failure) or when accumulated
    * deletion-vector masks exceed `maxMaskRows` (every masked read pays
    * the anti-join until compaction materializes the masks —
    * [[deletionVectors]] is the gauge, this is the actuator). Re-clusters
    * on `clusterCols` when given (restoring zonemap pruning fragmented by
    * small appends), plain-compacts otherwise. Below both thresholds it
    * commits NOTHING (a no-op maintenance tick is free, so it can run on
    * a schedule). OCC as always: racing appends commute, a racing rewrite
    * hits the typed conflict — run it beside live writers, no window.
    * Returns the compaction version, or -1 for the no-op tick. */
  def maintain(spark: SparkSession, table: String,
               maxFiles: Int = 64, maxMaskRows: Long = 1000000L,
               targetFiles: Int = 8, clusterCols: Seq[String] = Nil,
               store: LogStore = LocalStore): Long = {
    val snap = open(table, store)
    require(snap.version >= 0, s"$table has no commits to maintain")
    if (snap.st.live.size <= maxFiles && snap.st.maskRows <= maxMaskRows) return -1L
    compactAt(spark, snap, targetFiles, clusterCols)
  }

  /** OPTIMIZE-ZORDER maintenance: compaction that RE-CLUSTERS — rewrite
    * the live set z-ordered on `clusterCols` and re-record the
    * multi-column zonemap, so a table fragmented by many small
    * (unclustered or stream-written) appends gets its box-pruning back
    * in one pass. Same OCC semantics as [[compact]]: racing appends
    * commute, a racing rewrite of the same files raises the typed
    * conflict; the change feed ignores it (remove-carrying commit). */
  def compactClustered(spark: SparkSession, table: String,
                       clusterCols: Seq[String], targetFiles: Int,
                       store: LogStore = LocalStore): Long = {
    require(clusterCols.nonEmpty, "compactClustered needs cluster columns")
    compactAt(spark, open(table, store), targetFiles, clusterCols)
  }

  /** RESTORE TABLE ... TO VERSION: roll the table's DATA back to what it
    * was at `asOf`, as a new commit at the tip — history is never erased
    * (the bad versions stay time-travelable; this is the undo primitive
    * for a botched delete/merge, the same shape as Delta's RESTORE).
    * Metadata-only: tombstoned files are RE-ADDED and later files removed;
    * no data is copied, so restoring 100 TB costs one commit write. The
    * re-added files' recorded bounds/zonemaps are restored with them, so
    * data skipping survives the round trip.
    *
    * Restorability is gated by vacuum retention: a target file the vacuum
    * already deleted cannot be re-added — checked up front, typed error,
    * nothing committed. Schema is NOT rolled back (evolution is
    * additive-only; restored files read any later-added column as NULL —
    * the exact contract every snapshot read already honors). OCC applies:
    * the commit carries removes, so racing rewrites of the same files
    * surface as [[ConcurrentRewriteException]]. [[readChangesCdc]] stays
    * full-fidelity across a restore WITHOUT stored change files: the
    * re-added files synthesize `insert` rows and the removed files
    * `delete` rows.
    *
    * CHECK constraints apply to restore like any write that introduces
    * row values: the RE-ADDED files are validated against the ACTIVE
    * (tip) constraints before anything commits — a constraint added
    * after `asOf` would otherwise be silently violated by rows the
    * constraint was created to keep out (one column-pruned scan over
    * `toAdd` only; files that stayed live already passed on their own
    * write). Validation needs a SparkSession, so on a constrained table
    * use the `restore(spark, ...)` overload — the sessionless form
    * refuses (typed error, nothing committed) rather than skip the
    * check. Returns the commit version, or -1 when the tip already
    * equals the target (no commit). */
  def restore(table: String, asOf: Long, store: LogStore = LocalStore): Long =
    restoreImpl(None, table, asOf, store)

  /** [[restore]] with CHECK-constraint validation of the re-added files —
    * required when the table has active constraints. */
  def restore(spark: SparkSession, table: String, asOf: Long): Long =
    restoreImpl(Some(spark), table, asOf, LocalStore)

  def restore(spark: SparkSession, table: String, asOf: Long,
              store: LogStore): Long =
    restoreImpl(Some(spark), table, asOf, store)

  private def restoreImpl(spark: Option[SparkSession], table: String,
                          asOf: Long, store: LogStore): Long = {
    val snap = open(table, store)
    val version = snap.version
    require(version >= 0, s"$table has no commits to restore")
    require(asOf >= 0 && asOf <= version,
      s"version $asOf does not exist (tip is $version)")
    val (current, target) = (snap.st, snap.at(asOf).st)
    val toRemove = current.live.toSeq.filterNot(target.live.contains)
    val toAdd = target.live.toSeq.filterNot(current.live.contains)
    // deletion-vector state restores with the data: set equality is state
    // equality (sidecars are immutable uuid files)
    val dvSame = current.dvs == target.dvs
    if (toRemove.isEmpty && toAdd.isEmpty && dvSame) return -1L
    (toAdd ++ (if (dvSame) Nil else target.dvs.toSeq)).foreach { f =>
      require(Files.exists(Paths.get(table, f)),
        s"cannot restore $table to v$asOf: $f was already vacuumed — " +
          "vacuum retention must cover the restore window")
    }
    // Restoring across a DV-state change consolidates the target mask into
    // ONE fresh sidecar and retires every current one. That keeps the
    // commit self-describing — [[readChangesCdc]] synthesizes the restore's
    // row-level changes from the commit's OWN dv/dvremove actions, no
    // replay — and doubles as mask maintenance. Needs a session (the
    // consolidated sidecar is written by Spark), so the sessionless form
    // refuses, same contract as the constrained-restore case.
    val dvActs: Seq[Action] =
      if (dvSame) Nil
      else {
        val s = spark.getOrElse(throw new IllegalStateException(
          s"restoring $table across a deletion-vector state change — " +
            "use restore(spark, table, asOf) so the target mask can be " +
            "consolidated into a fresh sidecar"))
        import org.apache.spark.sql.functions.col
        if (target.dvs.isEmpty) snap.retireSidecars
        else {
          // dvref per masked file: a racing rewrite of a file the restored
          // mask covers must hit the typed conflict (its rows would
          // otherwise be materialized back under our feet); pinned: the
          // sidecar and the refs must agree
          val mask = Truncate.resolve(None)(sidecars(s, table, target.dvs.toSeq)
            .select(col("file").as(DvFile), col("pos").as(DvPos)))
          snap.retireSidecars ++ snap.dvActions(s, mask)
        }
      }
    val checks = snap.checks
    if (checks.nonEmpty && toAdd.nonEmpty) {
      val s = spark.getOrElse(throw new IllegalStateException(
        s"$table has active CHECK constraints (${checks.keys.mkString(", ")}) — " +
          "use restore(spark, table, asOf) so the re-added files can be " +
          "validated against them before committing"))
      // current (tip) schema: a constraint may reference a column added
      // after asOf, which the re-added files read as NULL — and NULL
      // violates under the house CHECK rule, same as addConstraint
      val readded = snap.scan(s, toAdd)
      // validate the rows a reader will actually SEE: re-added files are
      // masked by the target's dv state (a dv-deleted violating row is
      // not a row, so it must not block the restore)
      val validated =
        if (target.dvs.isEmpty) readded
        else maskJoin(dvKeyed(readded), target.pruned(toAdd),
          sidecars(s, table, target.dvs.toSeq), target.maskRows, "left_anti").drop(DvFile, DvPos)
      checkViolations(validated, checks).foreach { case (n, p, bad) =>
        if (bad > 0)
          throw new ConstraintViolationException(
            s"cannot restore $table to v$asOf: $bad re-added rows " +
              s"violate active CHECK constraint $n ($p) — drop the constraint " +
              "or restore to a compliant version; nothing was committed")
      }
    }
    commit(table, infoAct("restore") +:
      (toRemove.map(p => Action("remove", p, current.rowsOf.getOrElse(p, 0L))) ++
        toAdd.map(target.addOf) ++ dvActs),
      readVersion = version, store)
  }

  /** RESTORE TABLE ... TO TIMESTAMP: [[restore]] addressed by the
    * monotone clock (validated form — a constrained table validates the
    * re-added files like any timestamp- or version-addressed restore). */
  def restoreToTimestamp(spark: SparkSession, table: String, ts: Long,
                         store: LogStore = LocalStore): Long =
    restoreImpl(Some(spark), table, versionAtTimestamp(table, ts, store), store)

  /** Delete data files no retained snapshot references: orphans from
    * crashed writers (staged, never committed) and tombstones (removed by
    * a rewrite) older than the retention window.
    *
    * Two independent guards make this safe to run against a LIVE table —
    * the production posture docs/SCALE.md §Writers used to list as the
    * one remaining delta:
    *
    *   - `retainVersions`: every file live in ANY version in
    *     `[tip - retainVersions, tip]` is protected, so a reader pinned
    *     (time-traveled) at a version inside the window never loses files
    *     mid-scan. The protected set is `live(floor) ∪ adds(floor..tip]`
    *     — a file added then removed inside the window was live at the
    *     version right after its add, so the union form is exact. Cost is
    *     one checkpoint-seeded replay to the window floor plus the window's
    *     commit files — never the table's full history.
    *   - `minAgeMs`: a data file younger than this is never deleted, even
    *     if unreferenced — it may be a racing writer's staged-but-not-yet-
    *     committed file (stage happens BEFORE the commit publishes, so an
    *     age-blind vacuum could delete a commit's files in the gap).
    *     Retention can't cover this case: an in-flight file is in no
    *     version at all.
    *
    * Defaults (0, 0) give the aggressive quiesced-table semantics the
    * early specs pin: only the tip survives. Returns deleted file names. */
  def vacuum(table: String, retainVersions: Int = 0, minAgeMs: Long = 0L,
             store: LogStore = LocalStore): Seq[String] = {
    val log = open(table, store)
    val tip = log.tip
    if (tip < 0) return Nil // no commits: every data file may be an in-flight stage
    val floor = math.max(0L, tip - retainVersions.toLong)
    val floorState = log.at(floor).st
    val kept = mutable.Set.empty[String] ++ floorState.live ++ floorState.dvs
    ((floor + 1) to tip).foreach { v =>
      readCommit(table, v, store).actions.foreach {
        // window adds, change files AND deletion-vector sidecars stay
        // readable; files from commits at or before the floor age out
        // with the tombstones
        case a if a.op == "add" || a.op == "cdc" || a.op == "dv" => kept += a.path
        case _                                                   => ()
      }
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    LocalStore.list(dataDir(table))
      .filter(p => Files.isRegularFile(p) &&
        !kept.contains(s"data/${p.getFileName}") &&
        Files.getLastModifiedTime(p).toMillis <= cutoff)
      .map { p => Files.delete(p); p.getFileName.toString }
  }
}
