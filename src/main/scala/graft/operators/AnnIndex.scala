package graft.operators

import java.nio.file.Files

import graft.Tables
import graft.sources.CommitLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED, MAINTAINED ANN index — the r17 verdict's #4 ask: the
  * trained-ANN queries re-run Lloyd per execution ("correct for the
  * oracle, wrong for production"); the production shape stores the
  * trained coarse quantizer and the corpus assignments as transactional
  * tables and serves searches from them, maintaining assignments
  * incrementally as new embeddings arrive. All pieces existed
  * ([[Codebooks]] trains once, the nearest-centroid argmin assigns, the
  * commit log stores); this object is their composition.
  *
  * Layout under an index root — three commit-log tables:
  *   - `codebook`    — (c_label, s, cl): the trained coarse quantizer,
  *     replaced wholesale on retrain (one atomic overwrite commit);
  *   - `assignments` — (vec_id, cluster): nearest-centroid assignment of
  *     every indexed vector, appended incrementally (exactly-once via
  *     [[CommitLog.appendOnce]]) and rebuilt on retrain;
  *   - `manifest`    — (codebook_version, assignments_version): ONE row
  *     appended per publish, pinning the snapshot pair a reader serves
  *     from.
  *
  * The manifest is what makes a RETRAIN SWAP ATOMIC: retraining commits
  * a new codebook version and a new assignments version (two tables,
  * two commits — readable mid-swap only through the log, not through
  * the index), then publishes both in ONE manifest append. A reader
  * resolves the manifest tip once and snapshot-reads each table AS OF
  * its pinned version, so it sees the old pair or the new pair, never a
  * codebook joined to another codebook's assignments. The same pointer
  * discipline gives incremental publishes their visibility point: a
  * batch becomes searchable exactly when its manifest row lands.
  *
  * Writer contract: READER atomicity is the manifest's (above); WRITER
  * serialization follows the table layer's standing single-maintenance-
  * writer rule (SCALE.md §Writers) — one maintenance pipeline owns the
  * index (the change-feed stream in AnnIndexSpec is that pipeline, and
  * a retrain is a stop-rebuild-restart of the same pipeline). The
  * RETRAIN-vs-APPEND interleave is additionally IN contract (r18
  * verdict #3): [[appendBatch]] validates the codebook version it
  * assigned under against the manifest tip at publish time — one OCC
  * conflict check, the manifest as arbiter — and on mismatch REPAIRS
  * (re-assigns the batch under the tip codebook, replacing any stale
  * rows the append left in the post-retrain table) before publishing,
  * so a racing retrain yields a clean old pair or a clean new pair,
  * never a mixed one. Fully concurrent multi-writer operation beyond
  * that interleave stays out of contract. [[appendBatch]] is the
  * APPEND-ONLY arm; corpus deletes flow through [[applyDeletes]] /
  * [[syncDeletes]] (r18 verdict #2) — a copy-on-write anti-join over
  * `assignments` fed by the corpus table's CDC delete rows, so a
  * deleted vector stops being searchable at the next manifest publish,
  * not the next retrain. Vacuum safety: the pre-delete assignment
  * snapshot stays addressable (index time travel) until the table
  * layer's vacuum retention passes — retention on `assignments` is
  * therefore also the retention of the right-to-be-forgotten window,
  * and a compliance delete must be followed by a vacuum.
  *
  * Scale shape: the codebook is kilobytes (broadcast); assignments are
  * one (long, int) row per vector — appended in batch-sized files,
  * compactable with the table layer's own [[CommitLog.maintain]];
  * search cost is [[Similarity.ivfSearchFrom]]'s (probe-pruned corpus
  * join, no training, no corpus shuffle beyond the per-query top-k).
  * Serving does ZERO training — [[searchFrom]] never touches a trainer. */
object AnnIndex {

  private def cbTable(root: String) = s"$root/codebook"
  private def asTable(root: String) = s"$root/assignments"
  private def manifestTable(root: String) = s"$root/manifest"

  /** The pinned (codebook_version, assignments_version) pair a reader
    * serves from: the manifest row with the newest assignments version
    * (commit versions are monotone, so this is the latest publish).
    * Optionally resolved AS OF a manifest version — time travel for the
    * whole INDEX, not just one table. */
  def current(spark: SparkSession, root: String,
              asOf: Option[Long] = None): (Long, Long) = {
    val r = CommitLog.read(spark, manifestTable(root), asOf)
      .orderBy(col("assignments_version").desc, col("codebook_version").desc)
      .select("codebook_version", "assignments_version")
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def publish(spark: SparkSession, root: String,
                      cbV: Long, asV: Long): Long = {
    import spark.implicits._
    CommitLog.append(spark, manifestTable(root),
      Seq((cbV, asV)).toDF("codebook_version", "assignments_version"))
  }

  /** Build or RETRAIN: store the quantizer and the full corpus
    * assignment, then publish the pair in one manifest commit (the
    * atomic swap point). Returns the published (codebook_version,
    * assignments_version). */
  def rebuildFrom(spark: SparkSession, emb: DataFrame, cb: DataFrame,
                  root: String): (Long, Long) = {
    val cbV = CommitLog.overwrite(spark, cbTable(root), cb)
    val asV = CommitLog.overwrite(spark, asTable(root),
      Similarity.assignClusters(emb, cb))
    publish(spark, root, cbV, asV)
    (cbV, asV)
  }

  /** Build from a fixture corpus directory: train-once via
    * [[Codebooks.ivf]] (materialized, so repeated builds in one session
    * pay Lloyd once), then [[rebuildFrom]]. */
  def build(spark: SparkSession, dir: String, root: String): (Long, Long) =
    rebuildFrom(spark, Tables.embeddings(spark, dir), Codebooks.ivf(spark, dir), root)

  /** Incremental maintenance — one micro-batch of NEW embeddings
    * (vec_id, embedding), e.g. a change-feed trigger: assign against the
    * PINNED stored codebook (never retrain in the hot path), append
    * exactly-once ((appId, batchId) txn marker — a replayed batch is a
    * no-op and is NOT re-published), publish. The new vectors are
    * searchable at the manifest row this commits.
    *
    * Publish is OCC-checked against the manifest (the retrain-race
    * arbiter, r18 verdict #3): if a retrain swapped the codebook between
    * this batch's manifest read and its publish, the batch was assigned
    * under a codebook that is no longer the tip — publishing would
    * either roll visibility back to a superseded snapshot (retrain
    * overwrote after our append) or pin a MIXED pair (our stale-assigned
    * rows landed inside the retrained table). On mismatch the batch is
    * REPAIRED: re-assign under the tip codebook and copy-on-write the
    * table so each batch vec_id carries exactly one tip-codebook row
    * (idempotent whether or not the retrain's own rebuild already
    * covered the batch), then re-check. Bounded retries — repeated
    * conflict means concurrent retrains, which stays out of contract. */
  /** Test seam (AnnIndexSpec's deterministic race injection, the
    * [[Truncate]] injectable-checkpoint discipline): invoked after the
    * batch has pinned the codebook version it will assign under and
    * BEFORE its exactly-once append — the widest retrain-race window
    * (a retrain completing here leaves the batch's stale-assigned rows
    * inside the post-retrain table, the mixed-pair danger the publish
    * check must repair). Production: no-op. */
  private[graft] var raceSeam: () => Unit = () => ()

  def appendBatch(spark: SparkSession, root: String, newEmb: DataFrame,
                  appId: String, batchId: Long): Unit = {
    val (cbV, _) = current(spark, root)
    val cb = CommitLog.read(spark, cbTable(root), Some(cbV))
    raceSeam()
    val v = CommitLog.appendOnce(spark, asTable(root),
      Similarity.assignClusters(newEmb, cb), appId, batchId)
    if (v < 0) return // replayed batch: already applied and published
    var pubCb = cbV
    var pubV = v
    var attempts = 0
    var done = false
    while (!done) {
      val (tipCb, _) = current(spark, root)
      if (tipCb == pubCb) { publish(spark, root, pubCb, pubV); done = true }
      else {
        attempts += 1
        require(attempts <= 8,
          s"ann index $root: publish conflicted $attempts times — " +
            "concurrent retrains are out of contract")
        val cbNew = CommitLog.read(spark, cbTable(root), Some(tipCb))
        val cur = CommitLog.read(spark, asTable(root))
        val repaired = cur
          .join(newEmb.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(Similarity.assignClusters(newEmb, cbNew))
        pubV = CommitLog.overwrite(spark, asTable(root), repaired)
        pubCb = tipCb
      }
    }
  }

  /** DELETE propagation (r18 verdict #2): copy-on-write the assignments
    * table to drop `deletedIds` (one column, `vec_id`), publish under the
    * UNCHANGED codebook — the deleted vectors stop being searchable at
    * this manifest row, not at the next retrain. Deleting an absent id is
    * a no-op, so replays are idempotent. The pre-delete snapshot stays
    * addressable via index time travel until `assignments` is vacuumed
    * (see the object scaladoc's vacuum-safety note). */
  def applyDeletes(spark: SparkSession, root: String,
                   deletedIds: DataFrame): Unit = {
    val (cbV, asV) = current(spark, root)
    val cur = CommitLog.read(spark, asTable(root), Some(asV))
    val remaining = cur.join(
      deletedIds.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
    val v = CommitLog.overwrite(spark, asTable(root), remaining)
    publish(spark, root, cbV, v)
  }

  /** The CDC composition: pull the corpus table's change rows in
    * `(fromVersion, toVersion]` and feed the DELETE rows to
    * [[applyDeletes]]. Returns the version the caller should checkpoint
    * as the next `fromVersion`; a window with no delete rows publishes
    * nothing. (An UPDATE — preimage+postimage — needs both arms in
    * order: applyDeletes on the preimage ids BEFORE appendBatch on the
    * postimage rows, since applyDeletes drops every assignment row of a
    * vec_id; the single-maintenance-writer pipeline owns that ordering.) */
  def syncDeletes(spark: SparkSession, root: String, corpusTable: String,
                  fromVersion: Long, toVersion: Option[Long] = None): Long = {
    val (to, cdc) = CommitLog.readChangesCdc(spark, corpusTable, fromVersion, toVersion)
    cdc.foreach { changes =>
      val dels = changes
        .filter(col("_change_type") === "delete")
        .select(col("vec_id"))
      if (!dels.isEmpty) applyDeletes(spark, root, dels)
    }
    to
  }

  /** Index maintenance: compact the assignment fragments the incremental
    * path accumulates (one small file per published batch) through the
    * table layer's own policy tick ([[CommitLog.maintain]]), then publish
    * the compacted version so NEW readers list the compacted file set —
    * compaction preserves rows, so the published pair serves identical
    * results (AnnIndexSpec pins it). Readers pinned on an older manifest
    * row keep reading the pre-compaction snapshot (removed files survive
    * until vacuum retention passes, the table layer's own rule). Returns
    * the compaction version, or -1 when under threshold (no-op, nothing
    * published). */
  def maintain(spark: SparkSession, root: String,
               maxFiles: Int = 16, targetFiles: Int = 2): Long = {
    val v = CommitLog.maintain(spark, asTable(root),
      maxFiles = maxFiles, targetFiles = targetFiles)
    if (v >= 0) { val (cbV, _) = current(spark, root); publish(spark, root, cbV, v) }
    v
  }

  /** Serve a top-k IVF search from the STORED index: resolve the
    * manifest once, snapshot-read the pinned pair, probe + re-rank via
    * the shared [[Similarity.ivfSearchFrom]]. No training, ever. */
  def searchFrom(spark: SparkSession, corpus: DataFrame, root: String,
                 k: Int = 10, asOf: Option[Long] = None): DataFrame = {
    val (cbV, asV) = current(spark, root, asOf)
    Similarity.ivfSearchFrom(corpus,
      CommitLog.read(spark, cbTable(root), Some(cbV)),
      CommitLog.read(spark, asTable(root), Some(asV)), k)
  }

  /** The gate query: build the index (train-once codebook, stored
    * tables, manifest publish), then SERVE from it. The oracle is the
    * existing trainer-replay twin ([[Similarity.annIvfTrainedSql]]) —
    * store → snapshot-read → probe must reproduce the in-query trained
    * search exactly, or persistence corrupted the index. */
  def occAnnServe(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("occ_ann").toString
    build(spark, dir, root)
    searchFrom(spark, Tables.embeddings(spark, dir), root)
  }

  val occAnnServeSql: String = Similarity.annIvfTrainedSql

  /** The DELETE gate query (r18 verdict #2): corpus in a commit-log
    * table, index built from it, then a real `DELETE WHERE vec_id % 7 =
    * 3` on the corpus whose CDC delete rows flow through [[syncDeletes]]
    * into the assignments table. Serving afterwards must equal the
    * trainer-replay search over the FILTERED corpus with the FULL-corpus
    * codebook ([[Similarity.annIvfDeleteSql]]) — i.e. a deleted vector
    * (including deleted QUERY vec_id 3) is unsearchable at the next
    * manifest publish, with zero retraining. */
  def occAnnDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("occ_annd").toString
    val corpusT = s"$root/corpus"
    CommitLog.append(spark, corpusT,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    build(spark, dir, root)
    val v0 = CommitLog.latestVersion(corpusT)
    CommitLog.deleteWhere(spark, corpusT, col("vec_id") % 7 === 3, cdc = true)
    syncDeletes(spark, root, corpusT, v0)
    searchFrom(spark, CommitLog.read(spark, corpusT), root)
  }

  val occAnnDeleteSql: String = Similarity.annIvfDeleteSql
}
