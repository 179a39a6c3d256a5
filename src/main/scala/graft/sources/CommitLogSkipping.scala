package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.sources._

/** Data skipping for [[CommitLog]]: the per-file stats a commit records
  * (row count, index bounds, zonemap, bloom token) and the one pruner
  * that reads them back. Every predicate read, the method API and
  * [[CommitLogRelation]] alike, states its predicate as Spark's pushdown
  * language, `sources.Filter` conjuncts: [[keep]] decides which live files
  * may hold a matching row, and [[readFiltered]] scans those through the
  * deletion-vector masks and applies the same filters exactly. */
private[sources] trait CommitLogSkipping { self: CommitLog.type =>

  /** Probe count for commit-recorded bloom filters: 4 hash positions per
    * value is the classic sweet spot for ~10 bits/key sizing (~1-2% false
    * positives); the writer picks `m` (bits) to match its per-file key
    * count. */
  private val BloomK = 4

  /** The filter column [[prunedFiles]] names the unnamed index bounds by:
    * not a plain identifier, so no recorded zonemap column can carry it. */
  private val IndexBounds = "<index>"

  /** Driver-side per-file (rowCount, per-column min/max) from the staged
    * parquet FOOTERS — the stats the writer already computed. Returns
    * None (caller falls back to the Spark-job aggregate) when any
    * requested stat column is missing from a footer or is not a numeric
    * primitive whose footer statistics decode losslessly to the double
    * bounds the log records (INT32/INT64/FLOAT/DOUBLE; decimals and
    * nested types fall back). Multiple row groups per file fold;
    * all-null columns record no bounds (conservative: never pruned on). */
  private def footerStats(spark: SparkSession, parts: Seq[java.nio.file.Path],
      statCols: Seq[String]): Option[Map[String, (Long, Map[String, (Double, Double)])]] = {
    import org.apache.parquet.column.statistics.{DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics, Statistics}
    val conf = spark.sessionState.newHadoopConf()
    def boundsOf(st: Statistics[_]): Option[(Double, Double)] = st match {
      case s: LongStatistics   => Some((s.getMin.toDouble, s.getMax.toDouble))
      case s: IntStatistics    => Some((s.getMin.toDouble, s.getMax.toDouble))
      case s: DoubleStatistics => Some((s.getMin, s.getMax))
      case s: FloatStatistics  => Some((s.getMin.toDouble, s.getMax.toDouble))
      case _                   => None
    }
    try {
      Some(parts.map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks
          import scala.jdk.CollectionConverters._
          val rows = blocks.asScala.map(_.getRowCount).sum
          val per = statCols.flatMap { c =>
            val chunks = blocks.asScala.map { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == c)
                .getOrElse(throw new NoSuchElementException(c))
            }
            // a column with any unusable footer statistics aborts the
            // whole footer path (throw → None → job fallback), so bounds
            // never silently degrade relative to the aggregate path
            val perBlock = chunks.map { ch =>
              // reject annotated physical types (timestamp/decimal ride
              // INT64/INT32 but mean different values than Spark's cast
              // to double — the job path must own those); plain signed
              // ints and IEEE floats decode identically on both paths
              val ann = ch.getPrimitiveType.getLogicalTypeAnnotation
              val annOk = ann == null || (ann match {
                case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                  i.isSigned
                case _ => false
              })
              if (!annOk)
                throw new NoSuchElementException(s"annotated stats type for $c")
              val st = ch.getStatistics
              if (st == null || st.isEmpty)
                throw new NoSuchElementException(s"no stats for $c")
              if (!st.hasNonNullValue) None // all-null block
              else Some(boundsOf(st).getOrElse(
                throw new NoSuchElementException(s"non-primitive stats for $c")))
            }
            val defined = perBlock.flatten
            if (defined.isEmpty) None // all-null column: no bounds
            else Some(c -> ((defined.map(_._1).min, defined.map(_._2).max)))
          }.toMap
          p.getFileName.toString -> ((rows, per))
        } finally reader.close()
      }.toMap)
    } catch { case _: Exception => None }
  }

  /** The per-file stats of the staged part files `parts` (written from a
    * frame of `schema` into `staging`), keyed by part-file name, each as
    * an `add` action with no path yet: the ROW COUNT always, the min/max
    * of `indexCol` as the action's bounds and of `statsCols` as its
    * zonemap, and a bloom token when `bloom` names a column and a bit
    * count.
    *
    * The parquet writer already computed the counts and bounds into each
    * staged file's FOOTER, so the primary path reads the footers on the
    * driver — O(files) metadata work, the same order as the commit itself
    * — instead of a Spark job per staging call (a bench pass spent a
    * measurable slice of every commit-log query on those one-per-commit
    * jobs). Stat columns whose footers do not decode losslessly
    * (decimals) fall back to one aggregate job. Bounds are doubles, so
    * only NUMERIC columns record them: a string column's min/max is
    * lexicographic (`"10"` sorts before `"9"`, so a file holding both
    * would record (10, 9) and be pruned for `9`), and casting a
    * non-numeric extreme to double throws. The row count makes every
    * add/cdc action self-describing, which row-based stream admission
    * control ([[versionFeedRows]], the change-feed source's
    * maxRowsPerTrigger) paces on.
    *
    * The bloom is per-file membership of one column, for point lookups
    * where min/max ranges cannot discriminate (an unclustered table's
    * every file spans the whole key domain): one extra pass over the
    * staged output — k probe positions per value, exploded, deduped
    * distributedly (≤ m distinct positions per file reach the driver,
    * never a per-row set) — recorded as the token `<col>:<m>:<k>:<b64url
    * bitset>` that [[keep]] parses. */
  private[sources] def fileStats(spark: SparkSession, staging: java.nio.file.Path,
                                 parts: Seq[java.nio.file.Path],
                                 schema: org.apache.spark.sql.types.StructType,
                                 indexCol: Option[String], statsCols: Seq[String],
                                 bloom: Option[(String, Int)]): Map[String, Action] = {
    val statCols = (indexCol.toSeq ++ statsCols).distinct
    statCols.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
      s"stats column must be a plain identifier: $c"))
    val bounded = statCols.filter(c => schema.find(_.name == c)
      .forall(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    val stats: Map[String, (Long, Map[String, (Double, Double)])] =
      if (parts.isEmpty) Map.empty
      else footerStats(spark, parts, bounded).getOrElse {
        import org.apache.spark.sql.functions.{col, count, lit, max, min}
        val aggs = count(lit(1)).as("__rows") +: bounded.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"lo_$c"),
          max(col(c)).cast("double").as(s"hi_$c")))
        spark.read.parquet(staging.toString)
          .groupBy(FileName.as("f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val per = bounded.zipWithIndex.flatMap { case (c, i) =>
              // all-null file: no bounds for that column, never pruned on it
              if (r.isNullAt(2 + 2 * i) || r.isNullAt(3 + 2 * i)) None
              else Some(c -> (r.getDouble(2 + 2 * i), r.getDouble(3 + 2 * i)))
            }.toMap
            r.getString(0) -> (r.getLong(1), per)
          }.toMap
      }
    val blooms: Map[String, String] = bloom match {
      case None => Map.empty
      case Some((c, m)) =>
        require(c.matches("[A-Za-z0-9_]+"),
          s"bloom column must be a plain identifier: $c")
        require(m >= 64 && m <= (1 << 24), s"bloom bits out of range: $m")
        if (parts.isEmpty) Map.empty
        else {
          import org.apache.spark.sql.functions.{array, col, collect_set,
            explode, lit, pmod, xxhash64}
          val probes = array((0 until BloomK).map(i =>
            pmod(xxhash64(col("__v"), lit(i)), lit(m.toLong))): _*)
          spark.read.parquet(staging.toString)
            .select(FileName.as("__f"),
                    col(c).cast("string").as("__v"))
            .where(col("__v").isNotNull)
            .select(col("__f"), explode(probes).as("__p"))
            .groupBy("__f").agg(collect_set(col("__p")).as("__ps"))
            .collect()
            .map { r =>
              val bits = new Array[Byte]((m + 7) / 8)
              r.getSeq[Long](1).foreach { p =>
                val j = p.toInt
                bits(j >> 3) = (bits(j >> 3) | (1 << (j & 7))).toByte
              }
              r.getString(0) -> (s"$c:$m:$BloomK:" + java.util.Base64.getUrlEncoder
                .withoutPadding.encodeToString(bits))
            }.toMap
        }
    }
    parts.map { p =>
      val name = p.getFileName.toString
      val (rows, per) = stats.getOrElse(name, (0L, Map.empty[String, (Double, Double)]))
      val (lo, hi) = indexCol.flatMap(per.get).getOrElse((Double.NaN, Double.NaN))
      name -> Action("add", "", rows, lo, hi,
        per.filter { case (c, _) => statsCols.contains(c) }, blooms.getOrElse(name, ""))
    }.toMap
  }

  /** Driver-side probe positions for `value` — MUST match the staged
    * job's `pmod(xxhash64(cast(col as string), i), m)` exactly, so the
    * catalyst XxHash64 expression (seed 42, same as the SQL function) is
    * evaluated directly instead of reimplementing the hash. */
  private[sources] def bloomProbes(value: String, m: Long, k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until k).map { i =>
      val h = XxHash64(Seq(
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(value),
          org.apache.spark.sql.types.StringType),
        Literal(i)), 42L).eval(null).asInstanceOf[Long]
      val p = h % m
      (if (p < 0) p + m else p).toInt
    }
  }

  /** Canonical string form of a point-lookup probe value — the form the
    * WRITE side hashed (`CAST(col AS STRING)`), reached THROUGH the
    * column's log-carried type. `String.valueOf` alone is a bloom false
    * negative factory (the r16 advisory's finding): probing a bigint
    * column with `Double 11.0` stringifies as `"11.0"` while the writer
    * hashed `"11"`, so every probe misses, every file is pruned, and the
    * lookup silently returns empty even though `col === lit(11.0)` would
    * match. So: cast the value to the column's type (TRY semantics —
    * never throws), and only trust the result when it ROUND-TRIPS back to
    * the original value exactly (a probe of `11.5` against bigint
    * truncates to 11, fails the round trip, and disables pruning instead
    * of probing the wrong key). `None` = cannot canonicalize exactly →
    * the caller keeps ALL files (pruning is an optimization, never a
    * filter). A legacy log with no typed schema falls back to the raw
    * string form — exact for the same-typed int/string probes it always
    * served. */
  private def canonicalProbe(st: State, column: String, value: Any): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    import org.apache.spark.sql.types.StringType
    st.schemaStruct.flatMap(_.fields.find(_.name == column)).map(_.dataType) match {
      case None => Some(String.valueOf(value))
      case Some(dt) =>
        scala.util.Try {
          val lit = Literal(value)
          if (lit.dataType == dt)
            Option(Cast(lit, StringType, None, EvalMode.TRY).eval(null)).map(_.toString)
          else {
            val cv = Cast(lit, dt, None, EvalMode.TRY).eval(null)
            if (cv == null) None
            else {
              val back = Cast(Literal(cv, dt), lit.dataType, None, EvalMode.TRY).eval(null)
              if (back != lit.value) None
              else Option(Cast(Literal(cv, dt), StringType, None, EvalMode.TRY).eval(null))
                .map(_.toString)
            }
          }
        }.toOption.flatten // an unrepresentable value/type: no pruning
    }
  }

  /** The files a `column = value` lookup keeps on blooms: bloom-negative
    * files are dropped; files with no bloom, or a bloom on a DIFFERENT
    * column, are kept, and a probe value that cannot be canonicalized to
    * the write side's hashed form keeps EVERYTHING. */
  private def bloomKept(st: State, column: String, value: Any): Set[String] =
    canonicalProbe(st, column, value) match {
      case None => st.live.toSet
      case Some(canon) =>
        st.live.filter { p =>
          st.blooms.get(p) match {
            case None => true
            case Some(tok) =>
              val Array(c, mS, kS, b64) = tok.split(":", 4)
              c != column || {
                val bits = java.util.Base64.getUrlDecoder.decode(b64)
                bloomProbes(canon, mS.toLong, kS.toInt)
                  .forall(j => (bits(j >> 3) & (1 << (j & 7))) != 0)
              }
          }
        }.toSet
    }

  /** THE file pruner: the live files (in live-set order) that may hold a
    * row satisfying every conjunct of `filters`. Each conjunct prunes
    * independently and the kept sets intersect:
    *   - a range (`<`, `<=`, `>`, `>=` a number) keeps the files whose
    *     recorded range for its column overlaps — the zonemap always (it
    *     names its columns), the unnamed [[appendIndexed]] bounds only
    *     when `indexCol` names the column (the log does not record that
    *     column's name; the writer knew it, so the reader names it);
    *   - an equality or IN keeps, per value, the files both a numeric
    *     range test and the column's blooms keep (the union over IN's
    *     values);
    *   - `And` intersects, `Or` unites when both sides can prune;
    *   - anything else prunes nothing.
    * A file with no recorded range or bloom for a column is always kept:
    * pruning is an optimization, never the correctness surface. */
  private[sources] def keep(st: State, indexCol: Option[String],
                            filters: Seq[Filter]): Seq[String] = {
    val all = st.live.toSeq
    def number(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _                   => None
    }
    def ranged(c: String, lo: Double, hi: Double): Set[String] = {
      def overlaps(r: Option[(Double, Double)]) =
        r.forall { case (flo, fhi) => fhi >= lo && flo <= hi }
      all.filter(p => overlaps(st.zones.get(p).flatMap(_.get(c))) &&
        (!indexCol.contains(c) || overlaps(st.bounds.get(p)))).toSet
    }
    def point(c: String, v: Any): Set[String] =
      number(v).fold(all.toSet)(d => ranged(c, d, d)).intersect(bloomKept(st, c, v))
    def one(f: Filter): Option[Set[String]] = f match {
      case EqualTo(c, v)                    => Some(point(c, v))
      case EqualNullSafe(c, v) if v != null => Some(point(c, v))
      case In(c, vs) if vs.nonEmpty =>
        Some(vs.filter(_ != null).map(point(c, _)).foldLeft(Set.empty[String])(_ union _))
      case GreaterThan(c, v)        => number(v).map(ranged(c, _, Double.PositiveInfinity))
      case GreaterThanOrEqual(c, v) => number(v).map(ranged(c, _, Double.PositiveInfinity))
      case LessThan(c, v)           => number(v).map(ranged(c, Double.NegativeInfinity, _))
      case LessThanOrEqual(c, v)    => number(v).map(ranged(c, Double.NegativeInfinity, _))
      case And(l, r) =>
        (one(l), one(r)) match {
          case (Some(a), Some(b)) => Some(a.intersect(b))
          case (a, b)             => a.orElse(b)
        }
      case Or(l, r) => for (a <- one(l); b <- one(r)) yield a.union(b)
      case _ => None // IsNull, StringStartsWith, Not, ... : conservative
    }
    val kept = filters.foldLeft(all.toSet)((k, f) => one(f).fold(k)(k.intersect))
    all.filter(kept)
  }

  /** A filter as the exact Column it states (`None` for the kinds this
    * reader does not translate; Spark re-applies those above a scan). */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v)            => Some(col(c) === lit(v))
      case GreaterThan(c, v)        => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v)           => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v)    => Some(col(c) <= lit(v))
      case In(c, vs) if vs.nonEmpty => Some(col(c).isin(vs.toSeq: _*))
      case IsNull(c)                => Some(col(c).isNull)
      case IsNotNull(c)             => Some(col(c).isNotNull)
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r)  => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case _         => None
    }
  }

  /** THE predicate read: the files [[keep]] keeps, through the live
    * deletion vectors, with every translatable filter applied as its
    * exact Column — files are selected by stats, rows by the filters, so
    * the result equals a full [[read]] with the same predicate however
    * (or whether) the table was clustered. When nothing is kept, an
    * empty frame of the snapshot's schema. */
  private[sources] def readFiltered(spark: SparkSession, snap: TableAt,
                                    indexCol: Option[String],
                                    filters: Seq[Filter]): DataFrame = {
    val files = keep(snap.st, indexCol, filters)
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), snap.schema(spark))
    else {
      val rows = snap.masked(spark, files)
      filters.flatMap(toColumn).reduceOption(_ && _).fold(rows)(rows.where)
    }
  }

  /** `lo <= c <= hi` as one filter. */
  private def between(c: String, lo: Double, hi: Double): Filter =
    And(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** Live files whose recorded index bounds overlap `[lo, hi]`, plus any
    * file with no recorded bounds (conservative: unknown = read it).
    * Exposed so specs assert pruning on the deterministic FILE COUNT, not
    * on byte metrics. */
  def prunedFiles(table: String, lo: Double, hi: Double,
                  store: LogStore = LocalStore): Seq[String] =
    keep(open(table, store).st, Some(IndexBounds), Seq(between(IndexBounds, lo, hi)))

  /** Range read with file skipping on the [[appendIndexed]] bounds of
    * `indexCol` (and any zonemap of it). */
  def readWhere(spark: SparkSession, table: String, indexCol: String,
                lo: Double, hi: Double,
                store: LogStore = LocalStore): DataFrame =
    readFiltered(spark, open(table, store), Some(indexCol), Seq(between(indexCol, lo, hi)))

  /** `box` as one `[lo, hi]` filter per column, in column order. */
  private def boxFilters(box: Map[String, (Double, Double)]): Seq[Filter] =
    box.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => between(c, lo, hi) }

  /** Live files whose recorded zonemap overlaps EVERY `[lo, hi]` range in
    * `box` (a file with no recorded stats for a queried column is kept —
    * conservative). Exposed so specs assert multi-dimension pruning on
    * deterministic file counts. */
  def prunedFilesBox(table: String, box: Map[String, (Double, Double)],
                     store: LogStore = LocalStore): Seq[String] =
    keep(open(table, store).st, None, boxFilters(box))

  /** Multi-dimension box read: open only the files whose zonemap
    * overlaps the box on every queried column, then apply the exact
    * conjunctive predicate — cheaper when [[appendClustered]] kept the
    * boxes tight. */
  def readWhereBox(spark: SparkSession, table: String,
                   box: Map[String, (Double, Double)],
                   store: LogStore = LocalStore): DataFrame =
    readFiltered(spark, open(table, store), None, boxFilters(box))

  /** Live files a `column = value` lookup keeps after bloom (and any
    * zonemap) pruning — exposed so specs assert skipping on
    * deterministic counts. */
  def prunedFilesBloom(table: String, column: String, value: Any,
                       store: LogStore = LocalStore): Seq[String] =
    keep(open(table, store).st, None, Seq(EqualTo(column, value)))

  /** Point-lookup read: open only the bloom-positive files, then apply
    * the exact typed equality (so a false positive costs one extra file
    * scan, never a wrong row) — O(1) files instead of O(table). */
  def readWhereEquals(spark: SparkSession, table: String,
                      column: String, value: Any,
                      store: LogStore = LocalStore): DataFrame = {
    require(value != null, "point lookup of NULL is never true under SQL equality")
    readFiltered(spark, open(table, store), None, Seq(EqualTo(column, value)))
  }
}
