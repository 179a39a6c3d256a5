package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Capture ingest — the reference's poll-loop pipeline (SURVEY §2.9 T1-T5,
  * process.py:450-473) rebuilt as Spark batch + Structured Streaming.
  *
  * The reference parses each capture JSON on a single driver with pandas
  * (its scalability cliff, SURVEY §3.1) and bulk-inserts into MySQL. Here
  * the schema is explicit (schema-on-read — never inferred in production,
  * SURVEY §1.3), parsing is distributed across executors, and the fact
  * table is Parquet partitioned by `session_id` so every downstream
  * analytic prunes to its session.
  *
  * Exactly-once: the reference marks `captures.processed` and never
  * retries failures (process.py:251-264). Structured Streaming's
  * checkpoint (offset log + file-source commit log) gives the same
  * no-reprocess guarantee natively — restart resumes from the checkpoint
  * (T2/T5).
  */
object Ingest {

  /** The dynamic `message` JSON document (FIXTURES.md §1: reference
    * process.py:147-204). `pos` is a struct, not a map — fixed x,y,z. */
  val messageSchema: StructType = StructType(Seq(
    StructField("clientId", LongType),
    StructField("entityType", IntegerType),
    StructField("interactionType", IntegerType),
    StructField("pos", StructType(Seq(
      StructField("x", DoubleType),
      StructField("y", DoubleType),
      StructField("z", DoubleType)))),
    StructField("strokeType", IntegerType),
    StructField("strokeId", IntegerType)))

  /** One capture record (the `data` fact-table row, SURVEY §1.2). */
  val captureSchema: StructType = StructType(Seq(
    StructField("capture_id", StringType),   // forced string (process.py:239)
    StructField("session_id", IntegerType),
    StructField("client_id", IntegerType),
    StructField("type", StringType),
    StructField("ts", LongType),             // epoch ms
    StructField("seq", LongType),
    StructField("message", messageSchema)))

  /** Batch ingest of one-or-many capture JSON files (S1): distributed
    * parse with the explicit schema; `session_id`/`start_ms` recovered
    * from the `{session}_{startMs}` capture_id convention (reference
    * process.py:460-461, X6). */
  def readCaptures(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(captureSchema).json(path)
      .withColumn("session_from_id", split(col("capture_id"), "_").getItem(0).cast("int"))
      .withColumn("start_ms", split(col("capture_id"), "_").getItem(1).cast("long"))

  /** Append to the fact table (S2): Parquet partitioned by session — the
    * layout every per-session analytic prunes on. */
  def appendToFactTable(df: DataFrame, tableDir: String): Unit =
    df.write.mode("append").partitionBy("session_id").parquet(tableDir)

  /** Batch ingest with malformed-record quarantine (T2: the reference
    * marks a failed capture `processed = 0` and never retries it,
    * process.py:255-258). PERMISSIVE parse keeps the raw text of any
    * record that fails the schema in `_corrupt_record`; good rows go to
    * the fact table, corrupt raw lines to a quarantine path for offline
    * inspection — the load succeeds for everything parseable instead of
    * failing the capture wholesale.
    *
    * The quarantine write is an eager append and the result is
    * materialized before return: call once per capture load. Re-running a
    * load appends the same corrupt lines again — an at-least-once
    * quarantine LOG (dedupe on inspection by content), chosen over
    * overwrite so a retry can never erase earlier evidence. */
  def readCapturesWithQuarantine(spark: SparkSession, path: String,
                                 quarantineDir: String): DataFrame = {
    val parsed = spark.read
      .schema(captureSchema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // Spark requires referencing _corrupt_record via a cached/materialized frame
    try {
      parsed.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw"))
        .write.mode("append").text(quarantineDir)
      // materialized so the scan cache can be released
      graft.operators.Truncate.resolve(None)(
        parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
          .withColumn("session_from_id", split(col("capture_id"), "_").getItem(0).cast("int"))
          .withColumn("start_ms", split(col("capture_id"), "_").getItem(1).cast("long")))
    } finally parsed.unpersist()
  }

  /** Compact a partition's small files — the operational counterpart of a
    * 10-second micro-batch sink, which at scale writes one file per
    * trigger per partition and degrades every downstream scan. Rewrites
    * the named session partitions to `targetFiles` files each through
    * Spark's dynamic partition overwrite (staged write + commit, so
    * concurrent readers see the old or the new file set, never a mix of
    * halves; untouched partitions are left alone). Row content is
    * preserved exactly — see the spec's checksum assertion. */
  def compactSessions(spark: SparkSession, tableDir: String,
                      sessionIds: Seq[Int], targetFiles: Int = 1): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.read.parquet(tableDir)
        .filter(col("session_id").isin(sessionIds: _*))
        .repartition(targetFiles)
        .write.mode("overwrite").partitionBy("session_id").parquet(tableDir)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Streaming ingest onto the COMMIT LOG — THE capture ingest: a 10 s
    * micro-batch file source landing through the `graft-commitlog` sink,
    * so the capture fact table gets the ACID layer's whole contract instead of the
    * single-writer one —
    *   - exactly-once via the log's (appId, batchId) txn markers (the
    *     engine checkpoint AND the log agree after any crash);
    *   - multi-writer: compaction/maintenance runs CONCURRENTLY with the
    *     live appender under OCC (racing appends commute), no
    *     maintenance window needed — the contract docs/SCALE.md §Writers
    *     used to reserve for derived tables only;
    *   - per-file `session_id` bounds in every commit, so per-session
    *     analytics prune at file-LISTING time ([[CommitLog.readWhere]])
    *     — the commit-log form of the parquet layout's partitionBy;
    *   - time travel, CDC, constraints, restore — for free, it is a
    *     commit-log table like any other.
    * CaptureLogSpec pins no-reprocess across restarts, compaction under
    * a LIVE stream, and the five reference analytics reading through
    * [[CommitLog.read]] unchanged.
    *
    * `appId` names THIS pipeline in the table's txn ledger — two
    * pipelines feeding one table (two capture directories, two
    * checkpoints) MUST use distinct appIds: engine batch ids restart at
    * 0 per checkpoint, so a shared id would make the second pipeline's
    * early batches collide with the first's high-water and be silently
    * skipped (the exact collision CommitLogSink's contract warns
    * about; spec'd in CaptureLogSpec). */
  def streamCapturesLog(spark: SparkSession, inputDir: String, table: String,
                        checkpointDir: String,
                        appId: String = "captures",
                        trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    spark.readStream
      .schema(captureSchema)
      .json(inputDir)
      .writeStream
      .format("graft-commitlog")
      .option("table", table)
      .option("appId", appId)
      .option("indexCol", "session_id")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
