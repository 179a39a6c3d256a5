package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import java.nio.file.{Files, Paths}

/** Data skipping against a row model. Tables are built from indexed,
  * z-clustered, bloomed and plain appends, with some rows masked by a
  * deletion vector; predicates are random conjunctions and disjunctions
  * of range, equality and IN filters over the indexed (`i`), clustered
  * (`a`, `b`), bloomed (`c`) and unrecorded (`p`) columns. For each:
  *   - no file holding a matching live row is pruned;
  *   - the method API's file sets (`prunedFiles`, `prunedFilesBox`,
  *     `prunedFilesBloom`) equal `filesForFilters`' for the same filters;
  *   - every read (`readWhere`, `readWhereBox`, `readWhereEquals`, and
  *     the DataSource with the filters pushed) equals the model's rows.
  * Also pins the string-column stats cases: a string column records no
  * bounds, so lexicographic extremes can neither prune a match nor fail
  * an append. */
class SkippingSpec extends SparkSpec {
  import spark.implicits._

  private type Row5 = (Long, Long, Long, Long, Long) // i, a, b, c, p

  private def check(prop: Prop, n: Int = 10): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val value: Gen[Long] = Gen.choose(0L, 20L)

  /** One append: its kind (0 indexed on `i`, 1 clustered on `a`, `b`,
    * 2 bloomed on `c`, 3 plain) and its rows. */
  private val batchGen: Gen[(Int, Seq[Row5])] = for {
    kind <- Gen.choose(0, 3)
    n <- Gen.choose(1, 10)
    rows <- Gen.listOfN(n, for { i <- value; a <- value; b <- value; c <- value; p <- value }
      yield (i, a, b, c, p))
  } yield (kind, rows)

  /** Two or three appends, and the modulus of the `v` ids a
    * deletion vector masks (none when 0). */
  private val tableGen: Gen[(Seq[(Int, Seq[Row5])], Long)] = for {
    batches <- Gen.choose(2, 3).flatMap(Gen.listOfN(_, batchGen))
    mask <- Gen.oneOf(0L, 3L, 5L)
  } yield (batches, mask)

  private val number: Gen[Any] =
    Gen.oneOf(Gen.choose(-2L, 22L).map(Long.box), Gen.choose(-2.0, 22.0).map(Double.box))

  private val atom: Gen[Filter] = for {
    c <- Gen.oneOf("i", "a", "b", "c", "p")
    v <- number
    vs <- Gen.listOfN(3, number)
    k <- Gen.choose(0, 5)
  } yield k match {
    case 0 => GreaterThan(c, v)
    case 1 => GreaterThanOrEqual(c, v)
    case 2 => LessThan(c, v)
    case 3 => LessThanOrEqual(c, v)
    case 4 => EqualTo(c, v)
    case _ => In(c, vs.toArray)
  }

  private def tree(depth: Int): Gen[Filter] =
    if (depth == 0) atom
    else Gen.frequency(
      3 -> atom,
      1 -> (for { l <- tree(depth - 1); r <- tree(depth - 1) } yield And(l, r)),
      1 -> (for { l <- tree(depth - 1); r <- tree(depth - 1) } yield Or(l, r)))

  private val filtersGen: Gen[Seq[Filter]] = Gen.choose(1, 3).flatMap(Gen.listOfN(_, tree(2)))

  /** The method-API calls one case runs: a `readWhere` range on `i`, a
    * `readWhereBox` on `a` and `b`, and a `readWhereEquals` point. */
  private val callsGen: Gen[((Long, Long), (Long, Long, Long, Long), (String, Long))] = for {
    lo <- value; w <- Gen.choose(0L, 8L)
    alo <- value; aw <- Gen.choose(0L, 8L); blo <- value; bw <- Gen.choose(0L, 8L)
    ec <- Gen.oneOf("i", "a", "c", "p"); ev <- value
  } yield ((lo, lo + w), (alo, alo + aw, blo, blo + bw), (ec, ev))

  private def d(v: Any): Double = v.asInstanceOf[Number].doubleValue()

  private def holds(f: Filter, r: Map[String, Long]): Boolean = f match {
    case GreaterThan(c, v)        => r(c) > d(v)
    case GreaterThanOrEqual(c, v) => r(c) >= d(v)
    case LessThan(c, v)           => r(c) < d(v)
    case LessThanOrEqual(c, v)    => r(c) <= d(v)
    case EqualTo(c, v)            => r(c) == d(v)
    case In(c, vs)                => vs.exists(v => r(c) == d(v))
    case And(l, rt)               => holds(l, r) && holds(rt, r)
    case Or(l, rt)                => holds(l, r) || holds(rt, r)
    case other                    => fail(s"unexpected filter $other")
  }

  private def column(f: Filter): Column = f match {
    case GreaterThan(c, v)        => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case LessThan(c, v)           => col(c) < lit(v)
    case LessThanOrEqual(c, v)    => col(c) <= lit(v)
    case EqualTo(c, v)            => col(c) === lit(v)
    case In(c, vs)                => col(c).isin(vs.toSeq: _*)
    case And(l, r)                => column(l) && column(r)
    case Or(l, r)                 => column(l) || column(r)
    case other                    => fail(s"unexpected filter $other")
  }

  private def ids(df: DataFrame): Set[Long] = df.select("v").as[Long].collect().toSet

  /** The table, its live rows by id, and each live id's data file. */
  private def build(batches: Seq[(Int, Seq[Row5])], mask: Long)
      : (String, Map[Long, Map[String, Long]], Map[Long, String]) = {
    val t = Files.createTempDirectory("skipping").toString
    var next = 0L
    batches.foreach { case (kind, rows) =>
      val df = rows.map { case (i, a, b, c, p) => next += 1; (i, a, b, c, p, next) }
        .toDF("i", "a", "b", "c", "p", "v")
      kind match {
        case 0 => CommitLog.appendIndexed(spark, t, df.repartitionByRange(2, col("i")), "i")
        case 1 => CommitLog.appendClustered(spark, t, df, Seq("a", "b"), files = 2)
        case 2 => CommitLog.appendBloomed(spark, t, df.repartition(2), "c", bits = 256)
        case _ => CommitLog.append(spark, t, df.repartition(2))
      }
    }
    if (mask > 0) CommitLog.deleteWhereDv(spark, t, col("v") % mask === 0)
    val live = CommitLog.read(spark, t).as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (i, a, b, c, p, v) => v -> Map("i" -> i, "a" -> a, "b" -> b, "c" -> c, "p" -> p) }
      .toMap
    val fileOf = CommitLog.snapshot(t).files.flatMap { f =>
      ids(spark.read.parquet(Paths.get(t, f).toString)).filter(live.contains).map(_ -> f)
    }.toMap
    (t, live, fileOf)
  }

  test("pruning never drops a matching live row, and every face reads the model's rows") {
    check(Prop.forAllNoShrink(tableGen, filtersGen, callsGen) { case ((batches, mask), filters, calls) =>
      val (t, live, fileOf) = build(batches, mask)
      def matching(fs: Seq[Filter]): Set[Long] =
        live.collect { case (v, r) if fs.forall(holds(_, r)) => v }.toSet
      def covers(kept: Seq[String], fs: Seq[Filter]): Boolean =
        matching(fs).map(fileOf).subsetOf(kept.toSet)
      def viaSource(indexCol: Option[String], fs: Seq[Filter]) =
        CommitLogRelation.filesForFilters(t, indexCol, fs)
      def between(c: String, lo: Long, hi: Long): Seq[Filter] =
        Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

      // the random predicate, through the DataSource with the filters pushed
      val pushed = viaSource(Some("i"), filters)
      val sql = ids(spark.read.format("graft-commitlog").option("table", t)
        .option("indexCol", "i").load().where(filters.map(column).reduce(_ && _)))

      val ((lo, hi), (alo, ahi, blo, bhi), (ec, ev)) = calls
      val range = between("i", lo, hi)
      val box = between("a", alo, ahi) ++ between("b", blo, bhi)
      val point = Seq(EqualTo(ec, ev))
      val rangeFiles = CommitLog.prunedFiles(t, lo.toDouble, hi.toDouble)
      val boxFiles = CommitLog.prunedFilesBox(t,
        Map("a" -> (alo.toDouble, ahi.toDouble), "b" -> (blo.toDouble, bhi.toDouble)))
      val pointFiles = CommitLog.prunedFilesBloom(t, ec, ev)

      (covers(pushed, filters) :| "a pushed predicate pruned a matching file") &&
        (sql == matching(filters)) :| "DataSource read differs from the model" &&
        (covers(rangeFiles, range) && covers(boxFiles, box) && covers(pointFiles, point)) :|
          "a method-API pruner dropped a matching file" &&
        (rangeFiles == viaSource(Some("i"), range)) :| "prunedFiles != filesForFilters" &&
        (boxFiles == viaSource(None, box)) :| "prunedFilesBox != filesForFilters" &&
        (pointFiles == viaSource(None, point)) :| "prunedFilesBloom != filesForFilters" &&
        (ids(CommitLog.readWhere(spark, t, "i", lo.toDouble, hi.toDouble)) == matching(range)) :|
          "readWhere differs from the model" &&
        (ids(CommitLog.readWhereBox(spark, t, Map("a" -> (alo.toDouble, ahi.toDouble),
          "b" -> (blo.toDouble, bhi.toDouble)))) == matching(box)) :|
          "readWhereBox differs from the model" &&
        (ids(CommitLog.readWhereEquals(spark, t, ec, ev)) == matching(point)) :|
          "readWhereEquals differs from the model"
    })
  }

  test("a string index column records no bounds, so its lexicographic extremes prune nothing") {
    val t = Files.createTempDirectory("skipping_str").toString
    // lexicographically "10" < "9": double bounds would read (10, 9)
    CommitLog.appendIndexed(spark, t, Seq(("10", 1L), ("9", 2L)).toDF("c", "v").coalesce(1), "c")
    assert(CommitLog.readWhere(spark, t, "c", 9d, 9d).select("v").as[Long].collect().toSeq ===
      Seq(2L))
  }

  test("appendIndexed on a string column with a non-numeric value commits") {
    val t = Files.createTempDirectory("skipping_abc").toString
    assert(CommitLog.appendIndexed(spark, t,
      Seq(("abc", 1L), ("x", 2L)).toDF("c", "v").coalesce(1), "c") === 0L)
    assert(CommitLog.read(spark, t).count() === 2L)
  }

  test("a string-keyed MERGE clustered on its key replaces the matched row") {
    val t = Files.createTempDirectory("skipping_merge").toString
    CommitLog.appendIndexed(spark, t, Seq(("10", 1L), ("9", 2L)).toDF("k", "v").coalesce(1), "k")
    CommitLog.mergeInto(spark, t, Seq(("9", 20L)).toDF("k", "v"), Seq("k"), indexCol = Some("k"))
    assert(CommitLog.read(spark, t).as[(String, Long)].collect().sorted.toSeq ===
      Seq(("10", 1L), ("9", 20L)))
  }
}
