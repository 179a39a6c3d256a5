package graft.streaming

import graft.Tables
import graft.sources.{CommitLog, CommitLogProvider, CommitLogQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files

/** Streaming CDC replica — the consumer the row-level change feed exists
  * for, composed end-to-end: the `cdc = true` change-feed STREAM
  * ([[ChangeFeedSource]]) drives [[CommitLog.applyChanges]] through
  * `foreachBatch`, so a replica table follows a source table through
  * every mutation type (insert / update / delete / restore), retractions
  * included, with exactly-once semantics across crashes and restarts.
  *
  * This replaces the reference's poll-loop incremental maintenance
  * (process.py:455-473 — a driver thread re-querying MySQL every 10 s)
  * with the lakehouse-native form: the commit log IS the queue, offsets
  * ARE commit versions, and the replica is itself a commit-log table a
  * further consumer can tail. Set `cdc=true` on the replica
  * ([[CommitLog.setTableProperty]]) and every apply records its own
  * change files, so a second replica can follow this one through the
  * row-level feed exactly as this one follows its source.
  *
  * Exactly-once, precisely: the engine's offset log makes batch windows
  * deterministic (commits are immutable, so a replayed window is
  * IDENTICAL), and each apply commits with a `(appId, batchId)` txn
  * marker — so a batch that was applied but whose streaming checkpoint
  * write was lost in a crash is SKIPPED on replay at the commit level
  * (no second rewrite job, no second replica version), the
  * [[CommitLog.appendOnce]] discipline extended to copy-on-write
  * applies. Apply is convergent per batch anyway; the marker upgrades
  * "convergent" to "no-op", which is what an audit of the replica's
  * history needs (one `apply` commit per source window, ever).
  *
  * 100 TB shape: each micro-batch is O(changed rows), never O(table) —
  * the feed is metadata-planned from the window's commit files, the
  * apply rewrites only key-affected replica files, and
  * `maxVersionsPerTrigger` paces a deep backfill into bounded batches
  * (a replica bootstrapped against years of history starts as a paced
  * stream of applies, not one giant batch). */
object CdcReplica {

  /** Start the replica-maintenance stream: tail `srcTable`'s row-level
    * CDC feed and keep `replicaTable` converged to it. `appId` names
    * this pipeline in the replica's txn ledger (give each replica its
    * own). The source table must have CDC recording on
    * (`setTableProperty(src, "cdc", "true")` or per-mutation flags) —
    * a change-less mutation in the window raises the typed
    * [[CommitLog.CdcGapException]] rather than letting the replica
    * silently diverge. `store` names a LogStore registered with
    * [[CommitLogProvider.registerStore]]: the feed lists and reads the
    * source's log through it and every apply commits to the replica
    * through it (unset: the local store). */
  def replicaStream(spark: SparkSession, srcTable: String, replicaTable: String,
                    keyCols: Seq[String], checkpointDir: String,
                    appId: String = "cdc-replica",
                    maxVersionsPerTrigger: Option[Int] = None,
                    trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                    mergeOnRead: Boolean = false,
                    store: Option[String] = None): StreamingQuery = {
    val logStore = CommitLogProvider.storeFor(store.map("store" -> _).toMap)
    val reader = spark.readStream
      .format("graft-changefeed")
      .option("table", srcTable)
      .option("cdc", "true")
    maxVersionsPerTrigger.foreach(m =>
      reader.option("maxVersionsPerTrigger", m.toString))
    store.foreach(reader.option("store", _))
    reader.load()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // mergeOnRead applies each batch as one deletion-vector sidecar +
        // one append (no replica file rewritten — the 100 TB posture for
        // scattered-key CDC); the default rewrites affected files
        // copy-on-write. Same txn-marker exactly-once either way.
        if (mergeOnRead)
          CommitLog.applyChangesDv(batch.sparkSession, replicaTable, batch,
            keyCols, txn = Some((appId, batchId)), store = logStore)
        else
          CommitLog.applyChanges(batch.sparkSession, replicaTable, batch,
            keyCols, txn = Some((appId, batchId)), store = logStore)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Registered query: the full streaming CDC replica loop over the same
    * mutation script as `occ_cdc_feed`/`occ_apply_changes` — append
    * nation, CDC merge (updates + inserts), CDC delete — but consumed as
    * a PACED STREAM (`maxVersionsPerTrigger = 2`, so the three-version
    * history backfills across multiple bounded micro-batches, each apply
    * txn-marked). Oracle: the source's expected final state — the same
    * SQL as the batch twin, proving stream == batch for the composed
    * loop. */
  def occReplicaStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("occ_repl_src").toString
    val replica = Files.createTempDirectory("occ_repl_dst").toString
    val ckpt = Files.createTempDirectory("occ_repl_ckpt").toString
    val nation = Tables.nation(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    CommitLog.append(spark, src, nation)
    val updates = nation.where(col("n_nationkey") < 5)
      .withColumn("n_regionkey", col("n_regionkey") + 100)
    val inserts = nation.where(col("n_nationkey") < 5)
      .withColumn("n_nationkey", col("n_nationkey") + 100)
    CommitLog.mergeInto(spark, src, updates.unionByName(inserts),
      Seq("n_nationkey"), cdc = true)
    CommitLog.deleteWhere(spark, src,
      col("n_nationkey") >= 20 && col("n_nationkey") < 100, cdc = true)
    // three versions of history BEFORE the stream exists: the replica
    // bootstraps as a PACED backfill (≤2 versions per micro-batch)
    val q = replicaStream(spark, src, replica, Seq("n_nationkey"), ckpt,
      appId = "occ_replica", maxVersionsPerTrigger = Some(2),
      trigger = Trigger.ProcessingTime("0 seconds"))
    try { q.processAllAvailable() } finally q.stop()
    // a zero-row fixture never creates the replica (all-empty applies are
    // no-ops by design) — return the source's schema-stable empty frame
    if (CommitLog.latestVersion(replica) < 0)
      CommitLog.read(spark, src).where(org.apache.spark.sql.functions.lit(false))
        .orderBy("n_nationkey")
    else CommitLog.read(spark, replica).orderBy("n_nationkey")
  }

  /** Same expected state as the batch twin `occ_apply_changes` — that is
    * the point: the streamed, paced, txn-marked loop must land exactly
    * where the batch loop lands. */
  val occReplicaStreamSql: String = CommitLogQueries.occApplyChangesSql
}
