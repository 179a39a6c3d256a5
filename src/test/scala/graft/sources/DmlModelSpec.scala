package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import java.nio.file.Files

/** MERGE and CDC apply, in both retire modes, against a plain-DataFrame
  * model: on generated tables (duplicate and NULL keys, one to three
  * files), merge sources (no match, all match, NULL keys) and change
  * batches (deletes, inserts and updates, with preimages to ignore), the
  * table's rows and the commit's `readChangesCdc` rows must equal the
  * model's. Every case runs either under the broadcast ceiling or over
  * it, where no join is hinted broadcast. */
class DmlModelSpec extends SparkSpec {
  import spark.implicits._

  private type Row2 = (Option[Long], Long)
  private type Feed = (Option[Long], Long, String, Long)

  private def check(prop: Prop, n: Int = 8): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val key: Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(0L, 5L).map(Some(_)))

  /** 1–12 rows over keys 0–5 (duplicates likely) and NULL, `v` unique,
    * split into up to three appended files. */
  private val tableGen: Gen[(Seq[Row2], Int)] = for {
    n <- Gen.choose(1, 12)
    keys <- Gen.listOfN(n, key)
    files <- Gen.choose(1, 3)
  } yield (keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }, files)

  /** Unique non-NULL keys (at most one NULL-key row, which the duplicate
    * check allows) with `v` from 100 on. */
  private def sourceGen(table: Seq[Row2]): Gen[Seq[Row2]] = {
    val live = table.flatMap(_._1).distinct
    for {
      keys <- Gen.oneOf(
        Gen.someOf(10L to 13L).map(_.toSeq),                          // no match
        (if (live.isEmpty) Gen.const(Seq.empty[Long]) else Gen.atLeastOne(live).map(_.toSeq)), // all match
        Gen.someOf(0L to 8L).map(_.toSeq))                            // mixed
      withNull <- Gen.oneOf(true, false)
    } yield ((keys.map(Some(_)) ++ (if (withNull) Seq(None) else Nil))
      .zipWithIndex.map { case (k, i) => (k, 100L + i) })
  }

  /** Per key (NULL included), up to three changes at distinct versions. */
  private val batchGen: Gen[Seq[Feed]] = {
    val one = for {
      k <- key
      n <- Gen.choose(1, 3)
      versions <- Gen.pick(n, 1L to 4L)
      types <- Gen.listOfN(n, Gen.oneOf("insert", "update_postimage", "delete", "update_preimage"))
    } yield versions.zip(types).map { case (ver, t) => (k, ver, t) }
    Gen.listOf(one).map { per =>
      per.flatten.groupBy(c => (c._1, c._2)).values.map(_.head).toSeq // one change per (key, version)
        .zipWithIndex.map { case ((k, ver, t), i) => (k, 200L + i, t, ver) }
    }
  }

  private def tableOf(rows: Seq[Row2], files: Int, cdc: Boolean): String = {
    val t = Files.createTempDirectory("dml_model").toString
    val chunks = rows.grouped(math.max(1, (rows.size + files - 1) / files)).toSeq
    chunks.foreach(c => CommitLog.appendIndexed(spark, t, c.toDF("k", "v").coalesce(1), "k"))
    if (cdc) CommitLog.setTableProperty(t, "cdc", "true")
    t
  }

  private def typed(df: DataFrame, t: String): DataFrame =
    df.select(col("k"), col("v"), lit(t).as("_change_type"))

  private def sorted(df: DataFrame): Seq[(Option[Long], Long, String)] =
    df.select("k", "v", "_change_type").as[(Option[Long], Long, String)].collect().toSeq.sorted

  private def rowsOf(df: DataFrame): Seq[Row2] =
    df.select("k", "v").as[Row2].collect().toSeq.sorted

  /** The table's rows and the change rows the commit after `before` stored. */
  private def observed(t: String, before: Long): (Seq[Row2], Seq[(Option[Long], Long, String)]) = {
    val changes = CommitLog.readChangesCdc(spark, t, before)._2
    (rowsOf(CommitLog.read(spark, t)), changes.fold(Seq.empty[(Option[Long], Long, String)])(sorted))
  }

  /** MERGE: matched keys replaced, the rest inserted, NULL never matching. */
  private def mergeModel(table: DataFrame, src: DataFrame): (Seq[Row2], Seq[(Option[Long], Long, String)]) = {
    val srcKeys = src.select("k")
    val tableKeys = table.select("k")
    val after = table.join(srcKeys, Seq("k"), "left_anti").unionByName(src)
    val changes = typed(table.join(srcKeys, Seq("k"), "left_semi"), "update_preimage")
      .unionByName(typed(src.join(tableKeys, Seq("k"), "left_semi"), "update_postimage"))
      .unionByName(typed(src.join(tableKeys, Seq("k"), "left_anti"), "insert"))
    (rowsOf(after), sorted(changes))
  }

  /** CDC apply: per key the last relevant change wins; a touched key is
    * replaced by its new row, or deleted when its last change is one. */
  private def applyModel(table: DataFrame, batch: DataFrame)
      : Option[(Seq[Row2], Seq[(Option[Long], Long, String)])] = {
    val w = Window.partitionBy("k").orderBy(col("_commit_version").desc, col("_change_type").desc)
    val last = batch.where(col("_change_type").isin("insert", "update_postimage", "delete"))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    if (last.isEmpty) None
    else {
      val ups = last.where(col("_change_type") =!= "delete").select("k", "v")
      val upKeys = ups.select("k")
      val delKeys = last.where(col("_change_type") === "delete").select("k")
      val tableKeys = table.select("k")
      val after = table.join(last.select("k"), Seq("k"), "left_anti").unionByName(ups)
      val changes = typed(table.join(upKeys, Seq("k"), "left_semi"), "update_preimage")
        .unionByName(typed(table.join(delKeys, Seq("k"), "left_semi"), "delete"))
        .unionByName(typed(ups.join(tableKeys, Seq("k"), "left_semi"), "update_postimage"))
        .unionByName(typed(ups.join(tableKeys, Seq("k"), "left_anti"), "insert"))
      Some((rowsOf(after), sorted(changes)))
    }
  }

  Seq(false, true).foreach { dv =>
    val name = if (dv) "mergeIntoDv" else "mergeInto"
    test(s"$name equals the DataFrame model, under and over the broadcast ceiling") {
      val gen = for {
        (rows, files) <- tableGen
        src <- sourceGen(rows)
        indexed <- Gen.oneOf(true, false)
        over <- Gen.oneOf(true, false)
      } yield (rows, files, src, indexed, over)
      check(Prop.forAllNoShrink(gen) { case (rows, files, src, indexed, over) =>
        val t = tableOf(rows, files, cdc = true)
        val before = CommitLog.latestVersion(t)
        val source = src.toDF("k", "v")
        val indexCol = if (indexed && !dv) Some("k") else None
        if (over) CommitLog.merge(spark, t, source, Seq("k"), indexCol, cdc = false,
          CommitLog.LocalStore, dv, ceiling = -1L)
        else CommitLog.merge(spark, t, source, Seq("k"), indexCol, cdc = false,
          CommitLog.LocalStore, dv)
        val got = observed(t, before)
        val want = mergeModel(rows.toDF("k", "v"), source)
        (got == want) :| s"over=$over rows=$rows source=$src: got $got, want $want"
      })
    }
  }

  Seq(false, true).foreach { dv =>
    val name = if (dv) "applyChangesDv" else "applyChanges"
    test(s"$name equals the DataFrame model, under and over the broadcast ceiling") {
      val gen = for {
        (rows, files) <- tableGen
        batch <- batchGen
        over <- Gen.oneOf(true, false)
      } yield (rows, files, batch, over)
      check(Prop.forAllNoShrink(gen) { case (rows, files, batch, over) =>
        val t = tableOf(rows, files, cdc = true)
        val before = CommitLog.latestVersion(t)
        val changes = batch.toDF("k", "v", "_change_type", "_commit_version")
        val v =
          if (over) CommitLog.applyBatch(spark, t, changes, Seq("k"), None,
            CommitLog.LocalStore, dv, ceiling = -1L)
          else CommitLog.applyBatch(spark, t, changes, Seq("k"), None, CommitLog.LocalStore, dv)
        val want = applyModel(rows.toDF("k", "v"), changes)
        val got = if (v < 0) None else Some(observed(t, before))
        (got == want && (v >= 0 || CommitLog.latestVersion(t) == before)) :|
          s"over=$over rows=$rows batch=$batch: got $got, want $want"
      })
    }
  }
}
