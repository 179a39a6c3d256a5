package graft.sources

import graft.operators.Truncate
import graft.sources.CommitLogDml._
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import java.nio.file.Paths

/** DML for [[CommitLog]]: DELETE, UPDATE, MERGE and CDC apply, each in a
  * copy-on-write and a merge-on-read (deletion-vector) form, all eight
  * entry points planned through one private core, [[mutate]]. */
private[sources] trait CommitLogDml { self: CommitLog.type =>

  /** The one mutation path behind every DML entry point. From the change,
    * the candidate files (default: every live file) and the retire mode it
    * derives, each exactly once:
    *
    *   - the matched rows: one scan of the candidates through the live
    *     deletion vectors (a dv-deleted row neither matches nor survives),
    *     keyed by (file, position) captured at the scan with the
    *     `_metadata` columns, so the file identity survives any join;
    *   - the retirement: copy-on-write (`dv = false`) collects the names of
    *     the files holding a matched row, rewrites exactly those (their
    *     other rows copied verbatim, untouched files not even read twice)
    *     and removes them; merge-on-read (`dv = true`) pins the matched
    *     rows and masks them with [[TableAt.dvActions]], rewriting no data
    *     file;
    *   - the staged data: the rewritten files (copy-on-write) or the new
    *     row versions only (merge-on-read), validated against the table's
    *     CHECK constraints unless the change only drops rows; an upsert
    *     also carries its schema as a meta action (additive evolution);
    *   - with CDC on ([[TableAt.cdcOn]]), the change rows: `delete` for a
    *     dropped row, `update_preimage`/`update_postimage` for a replaced
    *     one (both images from the matched OLD rows: re-filtering the new
    *     rows would be wrong when SET touches a predicate column), and
    *     `insert` for an upserted row whose key matched nothing; an
    *     upsert's come from one frame, the matched OLD rows co-grouped
    *     with its source by key ([[Upsert.changes]]);
    *   - one commit: `info(op)`, the meta action, the removes or masks,
    *     the staged files, the change files, then `extra`.
    *
    * Returns the commit version, or -1 when a DELETE or UPDATE matched
    * nothing (no commit). An upsert always commits. */
  private def mutate(spark: SparkSession, snap: TableAt, op: String, change: Change,
                     dv: Boolean, indexCol: Option[String] = None, cdc: Boolean = false,
                     candidates: Option[Seq[String]] = None,
                     extra: Seq[Action] = Nil): Long = {
    import org.apache.spark.sql.functions.{lit, not}
    val upsert = change.isInstanceOf[Upsert]
    if (!upsert)
      require(snap.st.live.nonEmpty, s"nothing to ${op.stripSuffix("dv")} in ${snap.table}")
    change match {
      case SetOver(_, set) =>
        require(set.nonEmpty, "UPDATE needs at least one SET column")
        set.keys.foreach(c => require(snap.st.schemaStruct.forall(_.fieldNames.contains(c)),
          s"SET column $c is not a table column — UPDATE cannot add columns (use append/merge evolution)"))
      case _ => ()
    }
    val files = candidates.getOrElse(snap.st.live.toSeq)
    val scanned = if (files.isEmpty) None else Some(change.matchIn(snap.keyed(spark, files)))
    // (retire actions, matched OLD rows, staged rows)
    val (retire, matched, data) =
      if (dv) {
        // pinned: the sidecar, the refs and the change rows must see the
        // SAME rows, even under a non-deterministic predicate; the
        // sidecar's per-file count is the action that materializes them
        val hits = scanned.map(Truncate.resolve(None).mark)
        val old = hits.map(_.drop(DvFile, DvPos))
        val data = change match {
          case _: Drop    => None
          case s: SetOver => old.map(s.applyTo(_))
          case u: Upsert  => Some(u.rows)
        }
        (hits.fold(Seq.empty[Action])(snap.dvActions(spark, _)), old, data)
      } else {
        // each scan task dedups its own file names: one job, no shuffle
        val names = scanned.fold(Set.empty[String])(_.select(DvFile).as(Encoders.STRING)
          .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().toSet)
        val affected = files.filter(f => names.contains(Paths.get(f).getFileName.toString))
        val old = if (affected.isEmpty) None else Some(snap.masked(spark, affected))
        val data = change match {
          case d: Drop    => old.map(_.where(not(d.hit)))
          case s: SetOver => old.map(s.applyTo(_, Some(s.hit)))
          case u: Upsert  => Some(old.fold(u.rows)(_.join(u.keys, u.keyCols, "left_anti")
            .unionByName(u.rows, allowMissingColumns = true)))
        }
        (affected.map(Action("remove", _, 0L)), old.map(change.matchIn), data)
      }
    if (retire.isEmpty && !upsert) return -1L
    val meta =
      if (upsert) data.map(d => Action("meta", schemaToken(d.schema), 0L)).toSeq else Nil
    val adds = data.fold(Seq.empty[Action])(d => stage(spark, snap.table, d, indexCol,
      checks = if (change.isInstanceOf[Drop]) Map.empty else snap.checks))
    val cdcActs =
      if (!snap.cdcOn(cdc)) Nil
      else {
        def typed(rows: DataFrame, t: String) = rows.withColumn("_change_type", lit(t))
        val changes = change match {
          case _: Drop    => matched.map(typed(_, "delete")).toSeq
          case s: SetOver => matched.toSeq.flatMap(m =>
            Seq(typed(m, "update_preimage"), typed(s.applyTo(m), "update_postimage")))
          case u: Upsert  => Seq(u.changes(matched))
        }
        stageChanges(spark, snap.table,
          changes.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
    commit(snap.table, (infoAct(op) +: meta) ++ retire ++ adds ++ cdcActs ++ extra,
      readVersion = snap.version, snap.store)
  }

  /** MERGE, both forms ([[mergeInto]] gives the shape). The table must
    * hold rows and the source's schema must merge additively (typed
    * conflict BEFORE anything runs; the snapshot's scans then read the
    * evolved schema). The source is pinned lazily ([[Truncate.mark]] — it
    * feeds several plans and must not recompute differently per
    * consumer), so ONE aggregate both materializes it and returns its row
    * count (the broadcast hints, against `ceiling`), its largest per-key
    * multiplicity and, for a table clustered on the key, its key bounds. */
  private[sources] def merge(spark: SparkSession, table: String, source: DataFrame,
                             keyCols: Seq[String], indexCol: Option[String], cdc: Boolean,
                             store: LogStore, dv: Boolean,
                             ceiling: Long = DvBroadcastRows): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    require(keyCols.nonEmpty, "MERGE needs at least one key column")
    val snap = open(table, store)
    require(snap.version >= 0, s"$table does not exist — append first")
    require(snap.st.live.nonEmpty, s"nothing to merge into in $table")
    snap.st.mergeSchema(source.schema)
    val src = Truncate.resolve(None).mark(source)
    // key bounds prune only a numeric key: a string's are lexicographic
    val clustered = indexCol.filter(c => keyCols == Seq(c) && source.schema.find(_.name == c)
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    val aggs = Seq(sum("n"), max("n")) ++ clustered.toSeq.flatMap(k =>
      Seq(min(col(k).cast("double")), max(col(k).cast("double"))))
    // one partition already satisfies the global aggregate: no second shuffle
    val r = src.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .coalesce(1).agg(aggs.head, aggs.tail: _*).head()
    require(r.isNullAt(1) || r.getLong(1) <= 1L,
      s"source has duplicate keys on (${keyCols.mkString(", ")}) — MERGE match is ambiguous")
    val candidates = clustered.map(k =>
      if (r.isNullAt(2)) Seq.empty // all-NULL keys: nothing can match
      else keep(snap.st, indexCol, Seq(GreaterThanOrEqual(k, r.getDouble(2)),
        LessThanOrEqual(k, r.getDouble(3)))))
    val rows = if (r.isNullAt(0)) 0L else r.getLong(0)
    mutate(spark, snap, if (dv) "mergedv" else "merge", Upsert(src, keyCols, rows, ceiling),
      dv, indexCol, cdc, candidates)
  }

  /** Copy-on-write row deletion (the right-to-be-forgotten primitive a
    * training corpus needs): rewrite ONLY the files that contain matching
    * rows, dropping them; untouched files are not rewritten, not even
    * read twice. One job finds the affected files, one rewrite job covers
    * them, and the commit is remove(affected)+add(rewritten) — so a
    * racing delete or compaction of the same files surfaces as the typed
    * [[ConcurrentRewriteException]], and time travel still shows the
    * pre-delete rows (physical erasure completes when vacuum retention
    * passes the delete version).
    *
    * SQL DELETE semantics: rows where the predicate is NULL survive
    * (the keep-filter is `NOT coalesce(pred, false)`). Pass `indexCol`
    * to re-record data-skipping bounds on the rewritten files. With
    * `cdc = true` the commit also carries a change file of the deleted
    * rows (`_change_type = 'delete'`) for [[readChangesCdc]] consumers.
    * Returns the commit version, or -1 if nothing matched (no commit). */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: Column,
                  indexCol: Option[String] = None,
                  cdc: Boolean = false,
                  store: LogStore = LocalStore): Long =
    mutate(spark, open(table, store), "delete", Drop(predicate), dv = false, indexCol, cdc)

  /** Merge-on-read row deletion via a DELETION VECTOR — the scale path for
    * SPARSE deletes that [[deleteWhere]]'s copy-on-write cannot afford: at
    * 100 TB, deleting 0.1% of rows scattered across the table rewrites
    * terabytes under copy-on-write, while this writes ONE tiny sidecar of
    * (file, position) pairs and leaves every data file untouched. The
    * public precedent is Iceberg's position-delete files / Delta's
    * deletion vectors; the Spark-first realization is parquet's hidden
    * `_metadata.file_name` / `row_index` columns plus a broadcast
    * anti-join on every subsequent read ([[TableAt.masked]]).
    *
    * Semantics are identical to [[deleteWhere]] from a reader's view:
    * NULL-predicate rows survive; time travel to a pre-delete version
    * shows the rows back; with CDC on (the `cdc=true` table property or
    * the flag) the commit carries the deleted rows as change files, so
    * the row-level feed is full-fidelity either way the delete ran.
    * Already-masked rows are not re-deleted (the predicate scan itself
    * reads through the mask), so repeating a delete is a no-commit no-op.
    *
    * Commit shape: `dv` (the sidecar — live state, replayed, carried by
    * checkpoints, protected by vacuum) + one `dvref` per masked data file
    * (conflict metadata: a racing rewrite of a referenced file conflicts
    * BOTH ways, while DV-over-DV commutes — see [[commit]]). Reads stay
    * cheap while the mask is small; [[compact]] materializes and retires
    * all sidecars. Returns the commit version, or -1 if nothing matched. */
  def deleteWhereDv(spark: SparkSession, table: String,
                    predicate: Column,
                    cdc: Boolean = false,
                    store: LogStore = LocalStore): Long =
    mutate(spark, open(table, store), "deletedv", Drop(predicate), dv = true, cdc = cdc)

  /** Merge-on-read UPDATE: the [[updateWhere]] semantics at
    * [[deleteWhereDv]] cost — old versions of the matched rows are masked
    * by a deletion vector and the updated rows are APPENDED, so a sparse
    * update never rewrites a data file. SET right-hand sides evaluate
    * against the OLD row; NULL-predicate rows are not updated; the
    * appended rows are validated against the table's CHECK constraints;
    * CDC records `update_preimage`/`update_postimage` change rows. The
    * commit is `dv` + `dvref` + `add` — no removes, so concurrent appends
    * commute and a racing rewrite of a masked file hits the typed
    * conflict. Returns the commit version, or -1 if nothing matched. */
  def updateWhereDv(spark: SparkSession, table: String,
                    predicate: Column,
                    set: Map[String, Column],
                    cdc: Boolean = false,
                    store: LogStore = LocalStore): Long =
    mutate(spark, open(table, store), "updatedv", SetOver(predicate, set), dv = true, cdc = cdc)

  /** Merge-on-read MERGE (upsert): [[mergeInto]] semantics — `WHEN
    * MATCHED THEN UPDATE SET *` / `WHEN NOT MATCHED THEN INSERT *` on
    * `keyCols` — at deletion-vector cost: the matched keys' OLD rows are
    * masked by one (file, position) sidecar and ALL source rows are
    * appended, so a CDC batch touching a million scattered keys on a
    * 100 TB table writes one sidecar + one append instead of rewriting
    * every file that holds a matched key. Same contracts as mergeInto:
    * duplicate-key sources rejected (ANSI's ambiguous-match rule), NULL
    * keys never match, additive schema evolution with the typed
    * conflict before staging, CHECK constraints validate the appended
    * rows, CDC records preimage/postimage/insert change rows. The
    * commit is `dv` + `dvref` + `add` — no removes, so concurrent
    * appends commute and a racing rewrite of a masked file hits the
    * typed conflict. Returns the commit version. */
  def mergeIntoDv(spark: SparkSession, table: String, source: DataFrame,
                  keyCols: Seq[String], cdc: Boolean = false,
                  store: LogStore = LocalStore): Long =
    merge(spark, table, source, keyCols, None, cdc, store, dv = true)

  /** Copy-on-write UPDATE: `UPDATE <table> SET col = expr, ... WHERE
    * pred` — the log-layer form of the reference's UPDATE dispatch
    * (process.py:339-366), completing the DML square (INSERT = append,
    * DELETE = [[deleteWhere]], MERGE = [[mergeInto]]). Same
    * copy-on-write discipline as DELETE: one job finds the files holding
    * matching rows, ONLY those are rewritten — matching rows projected
    * through `set`, non-matching rows copied verbatim — and the commit
    * is remove(affected)+add(rewritten), so racing rewrites hit the
    * typed conflict and time travel keeps the pre-update rows. SQL
    * semantics: a NULL predicate row is NOT updated. `set` expressions
    * may reference any existing column (the right-hand sides evaluate
    * against the OLD row, as SQL requires) but cannot add one. The
    * rewritten files must satisfy the table's CHECK constraints. With
    * `cdc = true` the commit carries `update_preimage` /
    * `update_postimage` change rows. Returns the commit version, or -1
    * if nothing matched (no commit). */
  def updateWhere(spark: SparkSession, table: String,
                  predicate: Column,
                  set: Map[String, Column],
                  indexCol: Option[String] = None,
                  cdc: Boolean = false,
                  store: LogStore = LocalStore): Long =
    mutate(spark, open(table, store), "update", SetOver(predicate, set), dv = false, indexCol, cdc)

  /** Copy-on-write MERGE (upsert): `WHEN MATCHED THEN UPDATE SET *` /
    * `WHEN NOT MATCHED THEN INSERT *` keyed on `keyCols`. The standard
    * CDC-apply primitive a training-data table needs (reference anchor:
    * the reference's UPDATE dispatch at process.py:339-366 is the
    * single-row special case of this).
    *
    * Shape (all distributed; only FILE NAMES and one aggregate row ever
    * reach the driver; each input is planned once):
    *   1. one aggregate over the lazily pinned source ([[merge]])
    *      materializes the pin and returns its row count, its largest
    *      per-key multiplicity and its key bounds. A duplicate key makes
    *      MATCHED undefined — rejected up front (the same rule ANSI MERGE
    *      and every lakehouse implementation enforces). While the count is
    *      under the broadcast ceiling, every join below hints the source
    *      (or its keys) broadcast;
    *   2. affected files = live files holding at least one matching key,
    *      from one semi-join of the candidates against the source keys.
    *      When the table is range-clustered on the single, numeric key
    *      column (caller passes `indexCol == keyCols.head`), the candidate set is
    *      FIRST pruned to files whose recorded bounds overlap the key
    *      bounds — a CDC batch touching a narrow key range scans O(batch)
    *      files, not O(table);
    *   3. rewrite = affected rows anti-joined against source keys (the
    *      survivors), unioned with ALL source rows (updates + inserts);
    *      untouched files are not rewritten, not even read twice;
    *   4. with CDC on, the change rows come from one frame: the matched
    *      rows co-grouped with the source by key ([[Upsert.changes]]);
    *   5. commit remove(affected)+add(rewritten): a racing delete or
    *      compaction of the same files surfaces as the typed
    *      [[ConcurrentRewriteException]]; racing appends commute (their
    *      rows are not covered by the remove-set — same caveat as every
    *      write-serializable lakehouse: a racing append may introduce a
    *      key this merge also inserts).
    *
    * NULL keys follow SQL equality: a NULL key never matches, so
    * NULL-key source rows insert and NULL-key target rows survive.
    * Additive schema evolution applies: a source carrying a NEW column
    * evolves the table (old files read it as NULL); a same-name
    * different-type column throws [[SchemaConflictException]] before
    * anything is staged. With `cdc = true` the commit also carries
    * change files typing every row it touched — `update_preimage` /
    * `update_postimage` for matched keys, `insert` for unmatched source
    * rows — for [[readChangesCdc]]. Returns the commit version. */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
                keyCols: Seq[String], indexCol: Option[String] = None,
                cdc: Boolean = false,
                store: LogStore = LocalStore): Long =
    merge(spark, table, source, keyCols, indexCol, cdc, store, dv = false)

  /** The prelude both apply forms share. Validates the txn token, skips an
    * already-applied `(appId, batchId)` BEFORE any batch computation (a
    * replayed batch costs one log replay, zero Spark jobs), reduces the
    * batch to the LAST relevant change per key, flagged [[Gone]] when that
    * change is a delete, and pins it lazily (every consumer below must see
    * the same rows). One job materializes the pin and counts its rows
    * and new rows: an empty batch, or all deletes against no replica,
    * is a no-op; otherwise the batch applies as one upsert whose touched
    * keys include the deleted ones, its joins hinted broadcast while the
    * count is at most `ceiling`. An empty replica bootstraps from the new
    * rows through the same path. A racer that already applied the same
    * txn is a skip (-1). */
  private[sources] def applyBatch(spark: SparkSession, replica: String, changes: DataFrame,
                                  keyCols: Seq[String], txn: Option[(String, Long)],
                                  store: LogStore, dv: Boolean,
                                  ceiling: Long = DvBroadcastRows): Long = {
    import org.apache.spark.sql.functions.{col, not, row_number}
    require(keyCols.nonEmpty, "applying changes needs key columns")
    txn.foreach { case (app, b) =>
      require(app.matches("[A-Za-z0-9_.-]+"), s"appId must be a plain token: $app")
      require(b >= 0, s"batchId must be non-negative: $b")
    }
    val snap = open(replica, store)
    txn.foreach { case (app, b) =>
      if (snap.st.txns.getOrElse(app, -1L) >= b) return -1L
    }
    val relevant = changes.where(col("_change_type")
      .isin("insert", "update_postimage", "delete"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("_commit_version").desc, col("_change_type").desc)
    val last = Truncate.resolve(None).mark(relevant.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .withColumn(Gone, col("_change_type") === "delete")
      .drop("__rn", "_change_type", "_commit_version"))
    // each task counts its own rows and new rows: one job, no shuffle, and
    // the pin materializes in parallel
    val (rows, fresh) = last.select(not(col(Gone))).as(Encoders.scalaBoolean)
      .mapPartitions { isNew =>
        var n, m = 0L
        isNew.foreach { b => n += 1L; if (b) m += 1L }
        Iterator((n, m))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().foldLeft((0L, 0L)) { case ((n, m), (a, b)) => (n + a, m + b) }
    if (rows == 0L) return -1L
    // all-deletes against no replica is a no-op
    if (snap.version < 0 && fresh == 0L) return -1L
    val txnActs = txn.map { case (app, b) => Action("txn", app, b) }.toSeq
    try mutate(spark, snap, if (dv) "applydv" else "apply",
      Upsert(last, keyCols, rows, ceiling), dv, extra = txnActs)
    catch { case _: TxnAlreadyApplied => -1L }
  }

  /** Apply a [[readChangesCdc]] batch to a REPLICA table — the consumer
    * half of CDC, proving the feed is sufficient to maintain a row-level
    * copy (retractions included). One copy-on-write rewrite handles both
    * shapes: per key, the LAST relevant change in the batch wins
    * (`_commit_version` order; preimages are informational and ignored),
    * then every touched key is dropped from the affected files and the
    * surviving upsert rows are unioned back — a key whose last change is
    * `delete` simply isn't re-added. Batches must be applied in version
    * order (the change-feed stream delivers them that way). A replica
    * with CDC on records its own change files, so a further consumer can
    * tail it.
    *
    * Exactly-once across replays: apply is idempotent per batch anyway
    * (replaying the same batch converges to the same replica state), but
    * pass `txn = Some((appId, batchId))` — what `foreachBatch` hands its
    * function — and a replayed batch is SKIPPED at the commit level, the
    * same (appId, batchId) txn-marker ledger [[appendOnce]] uses: no
    * second rewrite job, no second replica version, even when the replay
    * RACES the original. This is the discipline the streaming replica
    * ([[graft.streaming.CdcReplica]]) runs under. Returns the replica
    * commit version, or -1 for an empty or already-applied batch. */
  def applyChanges(spark: SparkSession, replica: String, changes: DataFrame,
                   keyCols: Seq[String],
                   txn: Option[(String, Long)] = None,
                   store: LogStore = LocalStore): Long =
    applyBatch(spark, replica, changes, keyCols, txn, store, dv = false)

  /** [[applyChanges]] at merge-on-read cost: every touched key's current
    * row is MASKED by one (file, position) sidecar and the surviving
    * upserts are APPENDED — no replica file is rewritten, so a CDC batch
    * over scattered keys applies as one sidecar + one append on a 100 TB
    * replica (run [[compact]] periodically to materialize the
    * accumulated masks; [[deletionVectors]] tells you when). Semantics,
    * batch reduction (last change per key wins), change files and the
    * `(appId, batchId)` exactly-once txn discipline are identical to
    * [[applyChanges]] — the streaming replica ([[graft.streaming
    * .CdcReplica]]) selects this form with `mergeOnRead = true`.
    * Returns the replica commit version, or -1 for an empty or
    * already-applied batch. */
  def applyChangesDv(spark: SparkSession, replica: String, changes: DataFrame,
                     keyCols: Seq[String],
                     txn: Option[(String, Long)] = None,
                     store: LogStore = LocalStore): Long =
    applyBatch(spark, replica, changes, keyCols, txn, store, dv = true)
}

/** The changes [[CommitLogDml.mutate]] plans. */
private[sources] object CommitLogDml {

  /** What a mutation matches and what replaces the matched rows. */
  sealed trait Change {
    /** The rows of `rows` this change matches. */
    def matchIn(rows: DataFrame): DataFrame
  }

  /** A change matching the rows where `pred` holds: a NULL predicate
    * matches nothing (SQL DELETE/UPDATE semantics). */
  sealed abstract class Predicated(pred: Column) extends Change {
    val hit: Column =
      org.apache.spark.sql.functions.coalesce(pred, org.apache.spark.sql.functions.lit(false))
    def matchIn(rows: DataFrame): DataFrame = rows.where(hit)
  }

  /** DELETE: the matched rows are dropped. */
  final case class Drop(pred: Column) extends Predicated(pred)

  /** UPDATE: the matched rows are re-projected through `set`. Every
    * right-hand side evaluates against the OLD row, as SQL requires: all
    * of them are built over the same input projection, never over each
    * other's outputs. */
  final case class SetOver(pred: Column, set: Map[String, Column])
      extends Predicated(pred) {
    /** `rows` with every SET column replaced, on the rows where `only`
      * holds (all rows without it). */
    def applyTo(rows: DataFrame, only: Option[Column] = None): DataFrame = {
      import org.apache.spark.sql.functions.{col, when}
      rows.select(rows.columns.toSeq.map { c =>
        set.get(c).fold(col(c))(rhs => only.fold(rhs)(when(_, rhs).otherwise(col(c)))).as(c)
      }: _*)
    }
  }

  /** Helper columns of an [[Upsert]] source and of its change-row frame. */
  val Gone = "__graft_gone"
  val FromSource = "__graft_new"

  /** MERGE and CDC apply over one pinned source `src` of `count` rows, at
    * most one per key: every table row whose `keyCols` equal a source
    * key is replaced by the source row with that key. A CDC batch's
    * source also carries the boolean [[Gone]] column: a touched key whose
    * last change is a delete has no new row, so its table rows are
    * deleted. A source row whose key matched nothing is inserted. SQL
    * equality: a NULL key never matches, so NULL-key rows insert and
    * NULL-key table rows survive. Every join against the source is hinted
    * broadcast while `count` is at most `ceiling`. */
  final case class Upsert(src: DataFrame, keyCols: Seq[String], count: Long,
                                  ceiling: Long) extends Change {
    import org.apache.spark.sql.functions.{broadcast, col, lit, max, not, when}
    private val flagged = src.columns.contains(Gone)
    private def small(df: DataFrame): DataFrame = if (count <= ceiling) broadcast(df) else df
    /** Every touched key. */
    def keys: DataFrame = small(src.select(keyCols.map(col): _*))
    /** The new rows. */
    def rows: DataFrame = if (flagged) src.where(not(col(Gone))).drop(Gone) else src
    def matchIn(rows: DataFrame): DataFrame = rows.join(keys, keyCols, "left_semi")

    /** The change rows of replacing the matched rows `old`, from one
      * frame: `old` and the source co-grouped by key. An old row is an
      * `update_preimage`, or a `delete` when its key has no new row; a new
      * row is an `update_postimage` when its key matched an old row and an
      * `insert` otherwise. Only matched rows are shuffled: the semi-join
      * that finds them is a broadcast under the ceiling, while co-grouping
      * every row of the affected files cost more than the whole rewrite. */
    def changes(old: Option[DataFrame]): DataFrame = old match {
      case None => rows.withColumn("_change_type", lit("insert"))
      case Some(o) =>
        val both = o.withColumn(FromSource, lit(false)).withColumn(Gone, lit(false))
          .unionByName((if (flagged) src else src.withColumn(Gone, lit(false)))
            .withColumn(FromSource, lit(true)), allowMissingColumns = true)
        // every old row matched, so its key (never NULL) has a source row
        val key = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
        val changeType =
          when(col(FromSource), when(not(col(Gone)),
            when(max(not(col(FromSource))).over(key), "update_postimage").otherwise("insert")))
          .otherwise(when(max(col(Gone)).over(key), "delete").otherwise("update_preimage"))
        both.withColumn("_change_type", changeType)
          .where(col("_change_type").isNotNull).drop(FromSource, Gone)
    }
  }
}
