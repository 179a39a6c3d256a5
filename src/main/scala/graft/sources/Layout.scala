package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators — the storage-side lever that decides how much of
  * 100 TB a query has to READ. Complements the bucketed-join and
  * partition-pruning layouts (BucketingSpec): z-order interleaving clusters
  * rows so that a file-level min/max index prunes on TWO dimensions at
  * once, the technique behind every lakehouse OPTIMIZE ZORDER BY.
  *
  * The z-value is pure integer bit arithmetic, so the query form carries a
  * full DuckDB hash-match oracle; the Spark expression and the oracle SQL
  * are generated from the same bit loop and cannot drift.
  */
object Layout {

  /** 32-bit Morton code: interleave the low 16 bits of two non-negative
    * integer columns (x even bits, y odd bits). Nearby (x, y) points get
    * nearby z-values, which is what makes per-file min/max zonemaps
    * selective on both dimensions after a z-sort. */
  def zvalue16(x: Column, y: Column): Column =
    (0 until 16).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)

  /** N-way Morton code: bit `b` of column `i` lands at position
    * `b * N + i` — [[zvalue16]] is the N=2 case (x even bits, y odd).
    * Callers mask each column to 16 bits first; the interleave itself is
    * pure codegen'd integer arithmetic. */
  def zvalueN(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zvalueN needs at least one column")
    require(cols.size * bits <= 62, s"${cols.size} cols x $bits bits overflows a long")
    cols.zipWithIndex.flatMap { case (c, i) =>
      (0 until bits).map { b =>
        shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * cols.size + i)
      }
    }.reduce(_ + _)
  }

  /** The shared clustering shuffle: one column range-partitions directly,
    * several interleave into a z-value first. The interleave width scales
    * down as columns are added (`min(16, 62 / N)` bits each) so ANY
    * column count fits one long — a 4-plus-column OPTIMIZE ZORDER is a
    * legitimate shape, and pruning stays EXACT regardless of width: the
    * recorded zonemap stats are raw min/max, the mask only shapes layout
    * quality. */
  private[sources] def zcluster(df: DataFrame, clusterCols: Seq[String],
                                files: Int): DataFrame =
    if (clusterCols.size == 1)
      df.repartitionByRange(files, col(clusterCols.head))
    else {
      val bits = math.min(16, 62 / clusterCols.size)
      val mask = (1L << bits) - 1L
      // try_cast, not cast: under ANSI mode a NaN/Infinity row would fail
      // the whole clustering job, but layout is best-effort by contract
      // (pruning correctness comes from the recorded raw min/max, and a
      // NULL z-value just range-partitions into the null bucket)
      val masked = clusterCols.map(c => expr(s"try_cast($c AS BIGINT)").bitwiseAND(lit(mask)))
      df.withColumn("__z", zvalueN(masked, bits))
        .repartitionByRange(files, col("__z")).drop("__z")
    }

  /** The same interleave as ANSI SQL, generated from the same loop. */
  def zvalue16Sql(x: String, y: String): String =
    (0 until 16).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")

  /** Bucket = z-value >> 14, i.e. one bucket per 128x128 rectangle of
    * (customer, day) key space — sized so the fixture populates O(100)
    * buckets; a real table would size this from bytes-per-file instead. */
  val ZBucketShift: Int = 14

  // --- z-order layout survey (query form, oracle-checked) --------------------
  /** Z-order orders on (customer, order day) and survey the resulting
    * clustering: per z-range bucket (a 128x128 rectangle in key space),
    * row count and the min/max of BOTH interleaved keys — i.e. exactly
    * the zonemap a scan would prune with. The assertion that makes
    * z-order worth its sort: every bucket's (xk, yk) bounding box is
    * small on both axes, so a predicate on either dimension eliminates
    * most buckets. (A single-column sort would give tight day ranges but
    * full-width customer ranges in every file.)
    *
    * The reported bounds are of the MASKED 16-bit keys the z-value is
    * built from — the values the zonemap actually prunes on. (Bounds of
    * the raw columns would silently break the small-box guarantee as
    * soon as a dimension outgrows 16 bits and wraps: two far-apart raw
    * values can share a masked key. At real scale the mask widens with
    * the key domain instead.) */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
      .cast("long")
    val z = zvalue16(col("xk"), col("yk"))
    Tables.orders(spark, dir)
      .select(col("o_custkey").bitwiseAND(lit(65535L)).as("xk"),
        day.bitwiseAND(lit(65535L)).as("yk"))
      .withColumn("zval", z)
      .groupBy(shiftright(col("zval"), ZBucketShift).as("z_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("xk")).as("min_xk"), max(col("xk")).as("max_xk"),
        min(col("yk")).as("min_yk"), max(col("yk")).as("max_yk"))
      .orderBy(col("z_bucket"))
  }

  val zorderLayoutSql: String = {
    val z = zvalue16Sql("xk", "yk")
    s"""WITH keyed AS (
       |  SELECT o_custkey & 65535 AS xk,
       |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) & 65535 AS yk
       |  FROM orders
       |), zv AS (
       |  SELECT xk, yk, $z AS zval FROM keyed
       |)
       |SELECT zval >> $ZBucketShift AS z_bucket, count(*) AS n_orders,
       |       min(xk) AS min_xk, max(xk) AS max_xk,
       |       min(yk) AS min_yk, max(yk) AS max_yk
       |FROM zv GROUP BY 1
       |ORDER BY z_bucket""".stripMargin
  }

  // --- small-file compaction --------------------------------------------------
  /** Compact a fragmented parquet directory to ~`targetRowsPerFile` rows
    * per file — the maintenance pass every streaming-appended table needs
    * (each micro-batch commit writes at least one file; a year of 10 s
    * batches is ~3M files whose open/footer costs dominate scans long
    * before data volume does). Row-count proxy for file size keeps the
    * helper deterministic for tests; a production pass would derive the
    * file count from bytes. Returns (filesBefore, filesAfter).
    *
    * The rewrite goes through a temp directory + atomic-ish swap rather
    * than overwrite-in-place, because `overwrite` of the directory being
    * read is a read-your-own-delete hazard. `repartition` (round-robin)
    * rather than `coalesce`: coalesce collapses upstream parallelism into
    * the merged tasks (each output task would read many files serially
    * anyway) AND inherits input skew — a balanced shuffle is the point of
    * a compaction pass. */
  def compact(spark: SparkSession, dir: String, targetRowsPerFile: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countFiles(p: Path): Int =
      fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bak = new Path(path.getParent, path.getName + "_precompact")
    // A leftover backup means a previous compaction crashed mid-swap — the
    // original data may live THERE, not in `path`. Refuse to proceed
    // (deleting it blind would destroy the only copy in that state).
    if (fs.exists(bak))
      throw new IllegalStateException(
        s"stale $bak from an interrupted compaction — recover or remove it first")
    val before = countFiles(path)
    val df = spark.read.parquet(dir)
    val nFiles = math.max(1, math.ceil(df.count().toDouble / targetRowsPerFile).toInt)
    val tmp = new Path(path.getParent, path.getName + "_compacting")
    df.repartition(nFiles).write.mode("overwrite").parquet(tmp.toString)
    // Hadoop rename signals failure by RETURNING FALSE, not throwing —
    // every step must be checked, and the backup is only deleted once the
    // new data is in place (a failed swap leaves the original recoverable).
    if (!fs.rename(path, bak))
      throw new IllegalStateException(s"compaction aborted: could not move $path aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(bak, path) // restore; best effort — bak still holds the data
      throw new IllegalStateException(s"compaction aborted: could not swap $tmp into place")
    }
    fs.delete(bak, true)
    (before, countFiles(path))
  }

  // --- date-partitioned fact layout -------------------------------------------
  /** Write the events fact date-partitioned (`event_date=YYYY-MM-DD/`
    * directories) — the standard ingest layout for any time-series fact
    * at 100 TB: a day predicate then prunes to directories BEFORE any
    * file is opened, so a day-narrowed query over a 3-year table touches
    * ~0.1 % of the files regardless of total volume. One-time
    * maintenance pass, same role as [[compact]]. */
  def writeDatePartitioned(spark: SparkSession, dir: String, out: String): Unit =
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(timestamp_millis(col("ts_ms"))))
      .write.partitionBy("event_date").mode("overwrite").parquet(out)

  /** The reference's energy topology (per-entity LAG kinematics,
    * `process.py:300-340` / Komodo.userEnergy) narrowed to ONE day of
    * the date-partitioned layout. The date equality lands in the scan's
    * `PartitionFilters`, so only that day's directory is listed and
    * read — the pruned-file-count proof lives in BucketingSpec. */
  def energyForDay(spark: SparkSession, layoutDir: String, day: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    spark.read.parquet(layoutDir)
      .filter(col("event_date") === lit(day).cast("date"))
      .withColumn("dt", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .withColumn("dv", col("value") - lag(col("value"), 1).over(w))
      .withColumn("speed", when(col("dt") === 0, lit(null).cast("double"))
        .otherwise(abs(col("dv")) / col("dt")))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("speed"))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  // --- z-order clustered write ------------------------------------------------
  /** Write `df` z-clustered on two integer dimensions: range-partition by
    * the z-value (files own disjoint z-ranges — the file-level pruning
    * guarantee), sort within each partition (tight page-level zonemaps),
    * and drop the helper column on the way out. `nFiles` is the target
    * file count; at scale it comes from `total_bytes / target_file_size`. */
  def zorderWrite(df: DataFrame, x: Column, y: Column,
                  path: String, nFiles: Int): Unit =
    df.withColumn("__z", zvalue16(x.bitwiseAND(lit(65535L)), y.bitwiseAND(lit(65535L))))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
