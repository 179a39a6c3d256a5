package perfbench

import graft.sources.CommitLog
import graft.streaming.CdcReplica
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One write the caller asked for, with everything needed to replay it. */
sealed trait Write { def kind: String }
object Write {
  final case class Append(rows: Seq[Row]) extends Write { val kind = "append" }
  final case class Delete(lo: Long, hi: Long) extends Write { val kind = "delete_where" }
  final case class Update(lo: Long, hi: Long, add: Double) extends Write { val kind = "update_where" }
  final case class Merge(rows: Seq[Row]) extends Write { val kind = "merge_into" }
  final case class DeleteDv(lo: Long, hi: Long) extends Write { val kind = "delete_where_dv" }
  final case class Maintain(maxFiles: Int, targetFiles: Int) extends Write { val kind = "maintain" }

  def range(lo: Long, hi: Long): Column = col("event_id").between(lo, hi)
}

/** The reference semantics of the table_mixed writes as plain DataFrame
  * transforms: what the commit-log table must hold after the same writes.
  * `touched` is the rows each write supplied or changed (the denominator
  * of bytes written per user byte). */
object TableModel {
  import Write._

  def apply(table: DataFrame, w: Write): DataFrame = w match {
    case Append(rows) => table.unionByName(frame(table, rows))
    case Delete(lo, hi) => table.where(not(range(lo, hi)))
    case DeleteDv(lo, hi) => table.where(not(range(lo, hi)))
    case Update(lo, hi, add) =>
      table.withColumn("value", when(range(lo, hi), col("value") + lit(add)).otherwise(col("value")))
    case Merge(rows) =>
      val src = frame(table, rows)
      table.join(src.select("event_id"), Seq("event_id"), "left_anti").unionByName(src)
    case Maintain(_, _) => table
  }

  def touched(table: DataFrame, w: Write): Option[DataFrame] = w match {
    case Append(rows) => Some(frame(table, rows))
    case Merge(rows) => Some(frame(table, rows))
    case Delete(lo, hi) => Some(table.where(range(lo, hi)))
    case DeleteDv(lo, hi) => Some(table.where(range(lo, hi)))
    case u @ Update(lo, hi, _) => Some(apply(table, u).where(range(lo, hi)))
    case Maintain(_, _) => None
  }

  def frame(like: DataFrame, rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(
      like.sparkSession.sparkContext.parallelize(rows, 1), like.schema)

  /** Replay `writes` over `seed`, truncating lineage as it goes. Returns
    * the final table and, materialized, the rows each write touched. */
  def replay(seed: DataFrame, writes: Seq[Write]): (DataFrame, Seq[DataFrame]) = {
    var t = seed
    val touchedRows = writes.zipWithIndex.flatMap { case (w, i) =>
      val rows = touched(t, w).map(_.localCheckpoint())
      t = apply(t, w)
      if (i % 8 == 7) t = t.localCheckpoint()
      rows
    }
    (t, touchedRows)
  }

  /** Rows in exactly one of the two frames, as a multiset. The frames'
    * digests are compared first (one scan each, no shuffle); the two
    * `exceptAll` counts run only when they differ. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.map(col)
    val x = a.select(cols: _*)
    val y = b.select(cols: _*)
    if (Digest.of(x) == Digest.of(y)) 0L
    else math.max(1L, x.exceptAll(y).count() + y.exceptAll(x).count())
  }

  /** Apply `w` to the commit-log table through the public API. */
  def commit(spark: SparkSession, table: String, schema: StructType, w: Write): Long = {
    def rowsFrame(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    w match {
      case Append(rows) => CommitLog.appendIndexed(spark, table, rowsFrame(rows), "event_id")
      case Delete(lo, hi) =>
        CommitLog.deleteWhere(spark, table, range(lo, hi), indexCol = Some("event_id"))
      case DeleteDv(lo, hi) => CommitLog.deleteWhereDv(spark, table, range(lo, hi))
      case Update(lo, hi, add) =>
        CommitLog.updateWhere(spark, table, range(lo, hi),
          Map("value" -> (col("value") + lit(add))), indexCol = Some("event_id"))
      case Merge(rows) =>
        CommitLog.mergeInto(spark, table, rowsFrame(rows), Seq("event_id"),
          indexCol = Some("event_id"))
      case Maintain(maxFiles, targetFiles) =>
        CommitLog.maintain(spark, table, maxFiles = maxFiles, targetFiles = targetFiles)
    }
  }
}

/** A read of the commit-log table. */
sealed trait Read { def kind: String }
object Read {
  final case class Where(lo: Long, hi: Long) extends Read { val kind = "read_where" }
  final case class AsOf(version: Long) extends Read { val kind = "read_as_of" }
  final case class Sql(lo: Long, hi: Long) extends Read { val kind = "sql_read" }
}

/** Seeded operation stream over the events table: where each range
  * starts and what each row holds come from `rng`, so one seed always
  * yields the same operations; how many rows each operation touches is
  * fixed, so every seed asks for the same amount of work. */
final class OpGen(rng: scala.util.Random, var nextId: Long) {
  import Write._
  private val types = Array("click", "view", "purchase", "signup", "error")
  private val baseTs = java.time.LocalDateTime.of(2024, 2, 1, 0, 0)

  // `ts` is TIMESTAMP_NTZ in the fixture, whose external type is LocalDateTime.
  def row(id: Long): Row = Row(id,
    baseTs.plusNanos(rng.nextInt(86400000) * 1000000L),
    rng.nextInt(1500).toLong, types(rng.nextInt(types.length)),
    math.round(rng.nextDouble() * 50000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")

  private def span(width: Int): (Long, Long) = {
    val lo = (rng.nextDouble() * nextId).toLong
    (lo, lo + width)
  }

  private var asOfReads = 0

  def fresh(n: Int): Seq[Row] = (0 until n).map { _ => val r = row(nextId); nextId += 1; r }

  def write(kind: String): Write = kind match {
    case "append" => Append(fresh(200))
    case "delete_where" => val (lo, hi) = span(125); Delete(lo, hi)
    case "update_where" => val (lo, hi) = span(125); Update(lo, hi, 1.5)
    case "merge_into" =>
      val (lo, _) = span(0)
      val existing = (lo until math.min(lo + 50, nextId)).map(row)
      Merge(existing ++ fresh(30))
    case "delete_where_dv" => val (lo, hi) = span(125); DeleteDv(lo, hi)
    // a threshold of zero live files makes every tick compact the table to
    // eight files, so every cycle does the same work
    case "maintain" => Maintain(maxFiles = 0, targetFiles = 8)
  }

  def read(kind: String, tip: Long): Read = kind match {
    case "read_where" => val (lo, hi) = span(2750); Read.Where(lo, hi)
    // the k-th time-travel read goes 1, 3, 5 or 7 versions back, in
    // turn: how far back changes what a read replays, not the seed
    case "read_as_of" =>
      asOfReads += 1
      Read.AsOf(math.max(0L, tip - 1 - 2 * ((asOfReads - 1) % 4)))
    case "sql_read" => val (lo, hi) = span(2750); Read.Sql(lo, hi)
  }
}

/** table_mixed: one client in a closed loop against one commit-log table
  * seeded from the sf0.1 `events` fact table, with CDC on, while a
  * `CdcReplica.replicaStream` follows it on a short trigger. Writes and
  * reads interleave in a fixed cycle of kinds with seeded parameters,
  * closed by a `maintain` tick. After the window the table must equal the
  * same writes replayed as plain DataFrame transforms, and the replica
  * must equal the table. */
object TableMixed {
  /** The fixed cycle of operation kinds: every run has the same mix and
    * order of kinds; the seed sets their ranges and rows. Eleven reads to
    * five writes; the cycle ends with a `maintain` tick (every five
    * writes). */
  val Cycle = Seq("read_where", "append", "read_as_of", "sql_read", "read_where",
    "update_where", "read_as_of", "read_where", "merge_into", "read_as_of", "read_where",
    "delete_where", "read_as_of", "sql_read", "delete_where_dv", "read_where", "maintain")
  /** Wall seconds of one cycle on the reference host (the quiet 4-core
    * Xeon of `metrics.PROBE_REF_CPU_MS`). */
  val NominalCycleS = 5.2
  val ReplicaTrigger = Trigger.ProcessingTime("250 milliseconds")

  def seedTable(spark: SparkSession, data: String, table: String): Unit = {
    val ev = graft.Tables.table(spark, data, "events")
    CommitLog.appendIndexed(spark, table, ev.repartitionByRange(8, col("event_id")), "event_id")
    CommitLog.setTableProperty(table, "cdc", "true")
  }

  def dirBytes(root: java.io.File, skip: java.io.File => Boolean = _ => false): Long =
    if (skip(root)) 0L
    else if (root.isFile) root.length()
    else Option(root.listFiles()).getOrElse(Array.empty).map(dirBytes(_, skip)).sum

  def parquetBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dirBytes(new java.io.File(dir), f => f.isFile && !f.getName.endsWith(".parquet"))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.args.data
    val tables = (0 until 3).map(i => ctx.dir(s"table$i"))
    ctx.timedReps("fixture_s", 3)(i => seedTable(spark, data, tables(i)))
    val table = tables.last
    val schema = CommitLog.read(spark, table).schema
    val isLog = (f: java.io.File) => f.getName.startsWith("_")
    val seedDataBytes = dirBytes(new java.io.File(table), isLog)

    // Warm-up on a spare copy: one of each operation, not replayed by the
    // model and not seen by the replica.
    val gen = new OpGen(ctx.rng, 100000L)
    val spare = tables.head
    spark.catalog.createTable("pb_spare", "graft-commitlog",
      Map("table" -> spare, "indexCol" -> "event_id"))
    ctx.timeOnce("warmup_s") {
      val warmGen = new OpGen(new scala.util.Random(ctx.args.seed ^ 0x5eed), 100000L)
      Seq(Write.Append(warmGen.fresh(100)), Write.Delete(10, 60), Write.Update(100, 150, 1.5),
        Write.Merge((200L until 240L).map(warmGen.row)), Write.DeleteDv(300, 350),
        Write.Maintain(1, 4)).foreach(w => TableModel.commit(spark, spare, schema, w))
      Seq(Read.Where(1000, 3000), Read.AsOf(1), Read.Sql(5000, 9000))
        .foreach(r => read(spark, spare, "pb_spare", r))
    }

    spark.catalog.createTable("pb_events", "graft-commitlog",
      Map("table" -> table, "indexCol" -> "event_id"))
    val replica = ctx.dir("replica")
    val stream: StreamingQuery = ctx.timeOnce("replica_start_s") {
      val q = CdcReplica.replicaStream(spark, table, replica, Seq("event_id"),
        ctx.dir("replica-ckpt"), appId = "perfbench", trigger = ReplicaTrigger)
      q.processAllAvailable()
      q
    }
    val versionAtStart = CommitLog.latestVersion(table)

    val writes = scala.collection.mutable.ArrayBuffer.empty[Write]
    // Whole cycles, as many as fit in `--seconds` on the reference host, so
    // every run times the same operations whatever the host's speed.
    ctx.beginWindow()
    for (_ <- 0 until math.max(1, (ctx.args.seconds / NominalCycleS).toInt)) Cycle.foreach { kind =>
      if (kind.contains("read")) {
        val r = gen.read(kind, CommitLog.latestVersion(table))
        if (ctx.tracer.isDefined) traceRead(ctx, table, r)
        ctx.op("read", r.kind)(read(spark, table, "pb_events", r))
      } else {
        val w = gen.write(kind)
        writes += w
        val files0 = if (ctx.tracer.isDefined) CommitLog.snapshot(table).files.toSet else Set.empty[String]
        ctx.op("write", w.kind)(TableModel.commit(spark, table, schema, w))
        if (ctx.tracer.isDefined)
          ctx.rec.ops.last("files_removed") = (files0 -- CommitLog.snapshot(table).files).size
      }
    }
    ctx.endWindow()
    val versionAtEnd = CommitLog.latestVersion(table)
    stream.processAllAvailable()
    ctx.recordRetained()
    ctx.rec.values("replica_progress") = stream.recentProgress.toSeq.map { p =>
      Map("t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.batchDuration.toDouble, "rows" -> p.numInputRows,
        "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse(""))
    }
    stream.stop()
    ctx.rec.values("commit_ts") = CommitLog.commitTimestamps(table)
      .filter { case (v, _) => v > versionAtStart && v <= versionAtEnd }
      .map { case (v, ts) => Seq(v, ts) }
    ctx.rec.values("live_files") = CommitLog.snapshot(table).files.size
    ctx.rec.values("log_versions") = versionAtEnd + 1
    ctx.rec.values("writes") = writes.size

    // Correctness: the table equals the model; the replica equals the table.
    val seedDf = graft.Tables.table(spark, data, "events")
    val (model, touched) = TableModel.replay(seedDf, writes.toSeq)
    val actual = CommitLog.read(spark, table)
    val diff = TableModel.symmetricDiff(actual, model)
    ctx.rec.check("table_equals_model", diff == 0, s"$diff rows differ")
    val rdiff = TableModel.symmetricDiff(CommitLog.read(spark, replica), actual)
    ctx.rec.check("replica_equals_table", rdiff == 0, s"$rdiff rows differ")

    // Space: bytes the writes added and the table holds, against compact
    // parquet of the rows the caller supplied or changed / of the live rows.
    val userBytes =
      if (touched.isEmpty) 0L
      else parquetBytes(touched.reduce(_ unionByName _), ctx.dir("user-rows") + "/p")
    val tableDir = new java.io.File(table)
    ctx.rec.values("data_bytes_added") = dirBytes(tableDir, isLog) - seedDataBytes
    ctx.rec.values("user_bytes") = userBytes
    ctx.rec.values("table_bytes") = dirBytes(tableDir)
    ctx.rec.values("live_bytes") = parquetBytes(actual, ctx.dir("live-rows") + "/p")
  }

  def read(spark: SparkSession, table: String, view: String, r: Read): String = r match {
    case Read.Where(lo, hi) =>
      Digest.of(CommitLog.readWhere(spark, table, "event_id", lo.toDouble, hi.toDouble)).render
    case Read.AsOf(v) => Digest.of(CommitLog.read(spark, table, Some(v))).render
    case Read.Sql(lo, hi) =>
      spark.sql(s"SELECT event_type, count(*) AS n, sum(value) AS total FROM $view " +
        s"WHERE event_id BETWEEN $lo AND $hi GROUP BY event_type").collect().mkString(";")
  }

  /** Traced run only: what file skipping and deletion vectors do for the
    * next read, recorded before the read runs. */
  private def traceRead(ctx: Ctx, table: String, r: Read): Unit = r match {
    case Read.Where(lo, hi) =>
      val live = CommitLog.snapshot(table).files.size
      val kept = CommitLog.prunedFiles(table, lo.toDouble, hi.toDouble).size
      ctx.rec.values.getOrElseUpdate("skip_samples", scala.collection.mutable.ArrayBuffer.empty[Any])
        .asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]] += Seq(live, kept)
      ctx.rec.values("dv_masked_rows") = CommitLog.deletionVectors(table).map(_._2).sum
    case _ =>
  }
}
