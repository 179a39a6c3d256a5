package graft.streaming

import graft.sources.{CommitLog, CommitLogProvider}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import java.nio.file.Paths

/** Structured Streaming source over a [[CommitLog]] table's append feed:
  * `spark.readStream.format("graft-changefeed").option("table", path)` —
  * the table layer's change-data feed as a FIRST-CLASS stream, not a
  * hand-rolled poll loop. Each micro-batch is the rows appended in a
  * window of commit versions.
  *
  * Offsets ARE log versions (a `LongOffset` of the commit version the
  * batch covers through), so the streaming checkpoint and the commit log
  * agree about progress by construction: recovery replans exactly the
  * `(lastCommitted, tip]` window, and the batch for a replayed window is
  * IDENTICAL because commits are immutable — the property that makes a
  * downstream [[CommitLog.appendOnce]] sink exactly-once end-to-end with
  * zero coordination beyond the two logs themselves.
  *
  * Feed semantics are [[CommitLog.changedFiles]]'s: appends flow,
  * remove-carrying reorganizations (compaction, copy-on-write delete)
  * are excluded — each appended row is delivered exactly once however
  * often the table is reorganized behind the stream. Vacuum retention
  * must cover the consumer's lag (docs/SCALE.md); the declared schema is
  * pinned at stream start (restart to pick up an additive evolution).
  *
  * At 100 TB this is metadata-bounded the same way the batch layer is:
  * `getOffset` is one directory listing, `getBatch` reads only the
  * window's commit files (driver-side, O(new commits)) and plans a scan
  * over exactly the new data files — no per-batch full-table listing,
  * which is the failure mode of directory-polling file streams over
  * large tables. */
class ChangeFeedSource(sqlContext: SQLContext, table: String,
                       startingVersion: Long,
                       cdcMode: Boolean = false,
                       maxVersionsPerTrigger: Option[Int] = None,
                       maxRowsPerTrigger: Option[Long] = None,
                       metadataPath: String = "",
                       store: CommitLog.LogStore) extends Source {

  private val spark = sqlContext.sparkSession

  override val schema: StructType =
    if (cdcMode) ChangeFeedProvider.cdcSchema(spark, table, store)
    else ChangeFeedProvider.tableSchema(spark, table, store)

  // Admission control (`maxVersionsPerTrigger`): cap how many commit
  // versions one micro-batch covers, so a stream started over a table
  // with years of history backfills in PACED batches instead of one
  // giant first batch (the 100 TB failure mode of uncapped sources).
  // The high-water of offered offsets persists in the source's own
  // metadata directory — the engine-provided, checkpoint-co-located
  // home for exactly this — so the cap survives restarts; it is
  // admission control, not a correctness surface (delivery remains
  // exactly-once via the engine's offset log either way).
  // metadataPath arrives as a URI string (`file:/...`) on local checkpoints
  private val hwFile =
    if (metadataPath.isEmpty) None
    else {
      val base =
        if (metadataPath.contains(":/")) Paths.get(new java.net.URI(metadataPath).getPath)
        else Paths.get(metadataPath)
      Some(base.resolve("graft-hw"))
    }
  // a corrupt high-water file must not stop the stream from STARTING
  // (pacing is admission control, not correctness — the engine's offset
  // log owns exactly-once), so a failed parse degrades to startingVersion
  // and getBatch's clamp below re-learns the true floor from the first
  // replayed/committed window
  private var lastOffered: Long = hwFile
    .filter(java.nio.file.Files.exists(_))
    .flatMap(f => scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong).toOption)
    .getOrElse(startingVersion)
  private def persistHw(v: Long): Unit = hwFile.foreach { f =>
    java.nio.file.Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".${f.getFileName}.tmp")
    java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def getOffset: Option[Offset] = {
    val tip = CommitLog.latestVersion(table, store)
    if (tip < 0) return None
    val byVersions = maxVersionsPerTrigger match {
      case Some(m) => math.min(tip, lastOffered + m)
      case None    => tip
    }
    // Row-based admission control (`maxRowsPerTrigger`): versions are
    // admitted until their CUMULATIVE feed-row count would exceed the
    // cap, read from the per-commit row counts the log records — one
    // commit-file read per candidate version, zero data touched. SOFT
    // cap with guaranteed progress: the first version always admits
    // (offsets are version-granular — one giant commit flows whole, the
    // public Delta maxBytesPerTrigger admission rule), and versions the
    // log has no counts for (legacy) pace as 0. Composes with
    // maxVersionsPerTrigger: whichever cap binds first ends the batch.
    val end = maxRowsPerTrigger match {
      case None => byVersions
      case Some(maxRows) =>
        var e = lastOffered
        var rows = 0L
        var full = false
        while (!full && e < byVersions) {
          val r = CommitLog.versionFeedRows(table, e + 1, cdcMode, store)
          if (e > lastOffered && rows + r > maxRows) full = true
          else { e += 1; rows += r; if (rows >= maxRows) full = true }
        }
        e
    }
    if (end > lastOffered) { lastOffered = end; persistHw(end) }
    if (lastOffered < 0) None else Some(LongOffset(lastOffered))
  }

  /** Start/end arrive as `LongOffset` live and as `SerializedOffset` on
    * checkpoint recovery — both carry the version as their `json`. */
  private def version(o: Offset): Long = o.json.trim.toLong

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(version).getOrElse(startingVersion)
    // a checkpoint-replayed or engine-committed window can be ahead of a
    // lost/corrupt high-water file — clamp to BOTH bounds so the next
    // offered end never regresses behind what the engine already owns
    // (a stale low offer would make the engine plan an inverted window;
    // the (from+1 to end) iteration yields it empty, but the clamp stops
    // it from recurring)
    val seen = math.max(from, version(end))
    if (seen > lastOffered) { lastOffered = seen; persistHw(lastOffered) }
    if (cdcMode) {
      // row-level feed: typed change rows, retractions included — the
      // streaming face of CommitLog.readChangesCdc (replayed windows are
      // identical because commits and change files are immutable)
      import org.apache.spark.sql.functions.col
      CommitLog.readChangesCdc(spark, table, from, Some(version(end)), store) match {
        case (_, Some(df)) => StreamingShim.streamingBatchOf(
          df.select(schema.fieldNames.map(col(_)).toSeq: _*), schema)
        case (_, None) =>
          StreamingShim.streamingParquetBatch(spark, schema, Nil)
      }
    } else {
      val files = CommitLog.changedFiles(table, from, version(end), store)
        .map(f => Paths.get(table, f).toString)
      StreamingShim.streamingParquetBatch(spark, schema, files)
    }
  }

  /** Nothing to release: data files are immutable and GC is vacuum's
    * job, gated by its retention window — not the consumer's. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Batch face of the change feed: `spark.read.format("graft-changefeed")`
  * loads a VERSION WINDOW of changes as a plain DataFrame — registered
  * as a view, that is the feed's SQL surface (the `table_changes()`
  * analog of the public lakehouse formats, completing the r17 SQL story:
  * tables AND their change feeds are queryable as SQL text). Options:
  * `table` (required), `cdc` (`"true"` = the row-level feed with
  * `_change_type`/`_commit_version`, retractions included — the batch
  * face of [[graft.sources.CommitLog.readChangesCdc]]; default = the
  * append feed), `startingVersion` (exclusive floor, default -1 =
  * genesis), `endingVersion` (inclusive, default tip — the window pins
  * at load time, so a registered view is a stable batch). The window's
  * rows are immutable (commits and change files never change), so the
  * same window re-loaded is byte-identical — what makes feed-driven
  * backfills replayable. */
class ChangeFeedRelation(override val sqlContext: SQLContext,
                         table: String, cdcMode: Boolean,
                         fromVersion: Long, toVersion: Long,
                         store: CommitLog.LogStore)
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.TableScan {

  private val spark = sqlContext.sparkSession

  /** Names the table and the version window (exclusive floor, inclusive
    * end), so a plan's text is the same on every run. */
  override def toString: String =
    s"ChangeFeedRelation($table, versions ($fromVersion, $toVersion]${if (cdcMode) ", cdc" else ""})"

  /** Schema AS OF the window's END, not the tip: a bounded window that
    * predates a schema evolution must type as the schema its rows were
    * committed under — resolving at the tip would select columns the
    * window's change files don't carry. (The streaming source pins the
    * tip schema instead because its window END is the moving tip.) */
  override val schema: StructType = {
    val base = CommitLog.tableSchema(table, Some(toVersion), store).getOrElse(
      ChangeFeedProvider.tableSchema(spark, table, store)) // legacy meta-less log
    if (cdcMode)
      StructType(base.fields.map(_.copy(nullable = true)) ++
        Seq(org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType)))
    else base
  }

  override def needConversion: Boolean = false

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    val window: Option[DataFrame] =
      if (cdcMode)
        CommitLog.readChangesCdc(spark, table, fromVersion, Some(toVersion), store)._2
      else
        CommitLog.readChanges(spark, table, fromVersion, Some(toVersion), store)._2
    val df = window match {
      case Some(w) => w.select(schema.fieldNames.toSeq.map(col): _*)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    df.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** `DataSourceRegister` provider for [[ChangeFeedSource]] (registered in
  * `META-INF/services`, so `.format("graft-changefeed")` resolves), and
  * for the BATCH window face ([[ChangeFeedRelation]] — add
  * `endingVersion` to bound the window; batch reads default to the tip).
  * Options: `table` (required — the commit-log table root),
  * `startingVersion` (optional exclusive floor; default -1 streams the
  * table from genesis, i.e. v0's rows are the first batch),
  * `maxVersionsPerTrigger` (optional admission control: caps the commit
  * versions one micro-batch covers, pacing a deep backfill in bounded
  * batches; the offered high-water persists under the source's metadata
  * path so the cap survives restarts), `maxRowsPerTrigger` (optional
  * ROW-based admission control: versions are admitted until their
  * cumulative feed-row count — recorded per commit by the log — would
  * exceed the cap; a soft cap, the first version always admits, so one
  * giant commit flows whole rather than stalling; composes with the
  * version cap — whichever binds first ends the batch), and `cdc`
  * (optional, `"true"` switches to the row-level change feed:
  * `_change_type`-typed rows with `_commit_version`, retractions
  * included — the streaming face of [[CommitLog.readChangesCdc]]).
  * `store` (optional, both faces) names a LogStore registered via
  * [[CommitLogProvider.registerStore]], as for `graft-commitlog`; every
  * log listing and read of the feed goes through it. */
class ChangeFeedProvider extends StreamSourceProvider
  with org.apache.spark.sql.sources.RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-changefeed"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val table = tableOf(parameters)
    val store = CommitLogProvider.storeFor(parameters)
    val tip = CommitLog.latestVersion(table, store)
    require(tip >= 0, s"$table has no commits — append before reading its feed")
    val from = parameters.get("startingVersion").map(_.toLong).getOrElse(-1L)
    val to = parameters.get("endingVersion").map(_.toLong).getOrElse(tip)
    require(to <= tip, s"endingVersion $to does not exist (tip is $tip)")
    require(from <= to, s"empty window: startingVersion $from > endingVersion $to")
    new ChangeFeedRelation(sqlContext, table, cdcOf(parameters), from, to, store)
  }

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("table",
      throw new IllegalArgumentException(
        "graft-changefeed needs .option(\"table\", <commit-log table root>)"))

  private def cdcOf(parameters: Map[String, String]): Boolean =
    parameters.get("cdc").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      schema.getOrElse {
        val store = CommitLogProvider.storeFor(parameters)
        if (cdcOf(parameters))
          ChangeFeedProvider.cdcSchema(sqlContext.sparkSession, tableOf(parameters), store)
        else
          ChangeFeedProvider.tableSchema(sqlContext.sparkSession, tableOf(parameters), store)
      })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.toInt)
    maxVersions.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    val maxRows = parameters.get("maxRowsPerTrigger").map(_.toLong)
    maxRows.foreach(m => require(m > 0,
      s"maxRowsPerTrigger must be positive, got $m"))
    new ChangeFeedSource(sqlContext, tableOf(parameters),
      parameters.get("startingVersion").map(_.toLong).getOrElse(-1L),
      cdcOf(parameters), maxVersions, maxRows, metadataPath,
      CommitLogProvider.storeFor(parameters))
  }
}

object ChangeFeedProvider {
  /** The table's current log schema — streams must start on an existing
    * table (an empty log has no schema to declare). Resolved from the
    * log's meta actions, NOT by opening a reader over live files: a valid
    * table whose rows were all deleted has an empty live set but a
    * perfectly good schema, and a RUNNING stream must be able to restart
    * from its checkpoint while the table is momentarily empty. */
  private[streaming] def tableSchema(
      spark: org.apache.spark.sql.SparkSession, table: String,
      store: CommitLog.LogStore): StructType = {
    require(CommitLog.latestVersion(table, store) >= 0,
      s"$table has no commits yet — append before streaming from it")
    CommitLog.tableSchema(table, store = store).getOrElse(
      // legacy log with no meta actions: fall back to the live-file read
      CommitLog.read(spark, table, store = store).schema)
  }

  /** The row-level feed's schema: the table columns (all nullable — a
    * window may span an evolution boundary) plus the change typing. */
  private[streaming] def cdcSchema(
      spark: org.apache.spark.sql.SparkSession, table: String,
      store: CommitLog.LogStore): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    StructType(tableSchema(spark, table, store).fields.map(_.copy(nullable = true)) ++
      Seq(StructField("_change_type", StringType),
          StructField("_commit_version", LongType)))
  }
}

/** Streaming SINK into a [[CommitLog]] table:
  * `.writeStream.format("graft-commitlog").option("table", path)
  * .option("appId", name)` — each micro-batch lands via
  * [[CommitLog.appendOnce]] keyed by (appId, batchId), so a replayed
  * batch after a crash is a silent no-op and the sink is exactly-once
  * WITHOUT any coordination with the streaming checkpoint (the log's txn
  * markers are the idempotence ledger; the checkpoint merely avoids
  * redundant replans). Combined with [[ChangeFeedSource]] both ends of a
  * table-to-table pipeline are one `.format(...)` each.
  *
  * Options: `table` (required), `appId` (default `stream` — give each
  * pipeline its own so two writers' batch ids don't collide), `indexCol`
  * (optional: record per-file min/max data-skipping bounds on the
  * appended files, so downstream [[CommitLog.readWhere]] prunes
  * stream-written data the same as batch-written), `store` (optional: a
  * registered LogStore, as for the batch faces). */
class CommitLogSink(sqlContext: SQLContext, table: String, appId: String,
                    indexCol: Option[String], store: CommitLog.LogStore)
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    CommitLog.appendOnce(sqlContext.sparkSession, table,
      StreamingShim.batchify(data), appId, batchId, indexCol, store)
    ()
  }

  override def toString: String = s"CommitLogSink[$table, app=$appId]"
}

// The `graft-commitlog` DataSourceRegister provider lives in
// [[graft.sources.CommitLogProvider]] — ONE short name serving both this
// streaming sink and the batch read relation ([[graft.sources
// .CommitLogRelation]], the SQL surface).
