package graft

import graft.sources.{CommitLog, CommitLogRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, LessThanOrEqual}
import java.nio.file.Files

/** The batch DataSource + SQL surface over commit-log tables
  * (`spark.read.format("graft-commitlog")` → [[CommitLogRelation]]) —
  * the r16 verdict's #2 ask. The load-bearing claims:
  *   - SQL text over a registered view returns exactly what the method
  *     API returns (deletion vectors applied, snapshots honored);
  *   - file-listing-time pruning SURVIVES the source: the file set a
  *     pushed filter conjunction keeps equals `readWhere`'s /
  *     `prunedFilesBloom`'s / `prunedFilesBox`'s for the same predicate;
  *   - time travel maps through `versionAsOf` / `timestampAsOf`. */
class CommitLogRelationSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("commitlog_rel").toString

  private def indexedTable(n: Int = 100, files: Int = 4): String = {
    val t = freshTable()
    CommitLog.appendIndexed(spark, t,
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "s")
        .repartitionByRange(files, col("k")), "k")
    t
  }

  private def load(t: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("graft-commitlog").option("table", t)
      .option("indexCol", "k")
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("SQL text over the view equals the method API (incl. the dv mask)") {
    val t = indexedTable()
    CommitLog.deleteWhereDv(spark, t, col("k").between(40, 49))
    load(t).createOrReplaceTempView("clr_sql")
    val viaSql = spark.sql(
      "SELECT k, s FROM clr_sql WHERE k BETWEEN 30 AND 60 ORDER BY k")
      .as[(Long, String)].collect().toSeq
    val viaApi = CommitLog.readWhere(spark, t, "k", 30d, 60d)
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql.map(_._1) === ((30L to 39L) ++ (50L to 60L)))
  }

  test("range pruning through pushed filters equals readWhere's file set") {
    val t = indexedTable()
    val viaApi = CommitLog.prunedFiles(t, 10d, 30d).toSet
    val viaSource = CommitLogRelation.filesForFilters(t, Some("k"),
      Seq(GreaterThanOrEqual("k", 10L), LessThanOrEqual("k", 30L))).toSet
    assert(viaSource === viaApi)
    assert(viaSource.size < CommitLog.snapshot(t).files.size,
      "the fixture must actually prune")
    // and the pruned read loses no rows
    assert(load(t).where(col("k").between(10, 30)).select("k")
      .as[Long].collect().sorted.toSeq === (10L to 30L))
  }

  test("bloom equality pruning through pushed filters equals prunedFilesBloom's") {
    val t = freshTable()
    CommitLog.appendBloomed(spark, t,
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "s")
        .repartition(8), "k", bits = 1 << 14)
    val viaApi = CommitLog.prunedFilesBloom(t, "k", 123L).toSet
    assert(viaApi.size < 8)
    assert(CommitLogRelation.filesForFilters(t, None,
      Seq(EqualTo("k", 123L))).toSet === viaApi)
    // type-mismatched SQL literal canonicalizes the same way
    assert(CommitLogRelation.filesForFilters(t, None,
      Seq(EqualTo("k", java.lang.Double.valueOf(123.0)))).toSet === viaApi)
    // IN = union of the per-value keeps
    val union = CommitLog.prunedFilesBloom(t, "k", 123L).toSet
      .union(CommitLog.prunedFilesBloom(t, "k", 7L).toSet)
    assert(CommitLogRelation.filesForFilters(t, None,
      Seq(In("k", Array[Any](123L, 7L)))).toSet === union)
    // end to end through SQL text
    load(t).createOrReplaceTempView("clr_bloom")
    assert(spark.sql("SELECT s FROM clr_bloom WHERE k = 123")
      .as[String].collect().toSeq === Seq("v123"))
  }

  test("zonemap box pruning through pushed filters equals prunedFilesBox's") {
    val t = freshTable()
    val df = (0 until 1000).map(i => (i.toLong, (i % 100).toLong, s"v$i"))
      .toDF("a", "b", "s")
    CommitLog.appendClustered(spark, t, df, Seq("a", "b"), files = 16)
    val box = Map("a" -> (100d, 300d), "b" -> (10d, 40d))
    val viaApi = CommitLog.prunedFilesBox(t, box).toSet
    val viaSource = CommitLogRelation.filesForFilters(t, None,
      Seq(GreaterThanOrEqual("a", 100L), LessThanOrEqual("a", 300L),
          GreaterThanOrEqual("b", 10L), LessThanOrEqual("b", 40L))).toSet
    assert(viaSource === viaApi)
    assert(viaSource.size < CommitLog.snapshot(t).files.size)
  }

  test("versionAsOf / timestampAsOf time travel through the source") {
    val t = indexedTable()
    val ts = CommitLog.commitTimestamps(t).toMap
    CommitLog.deleteWhere(spark, t, col("k") >= 50L)
    assert(load(t).count() === 50L)
    assert(load(t, Map("versionAsOf" -> "0")).count() === 100L)
    // a timestamp at v0's monotone stamp addresses v0
    assert(load(t, Map("timestampAsOf" -> ts(0L).toString)).count() === 100L)
    // ISO-8601 form of the same instant
    val iso = java.time.Instant.ofEpochMilli(ts(0L)).toString
    assert(load(t, Map("timestampAsOf" -> iso)).count() === 100L)
    intercept[IllegalArgumentException] {
      load(t, Map("versionAsOf" -> "0", "timestampAsOf" -> "0")).count()
    }
  }

  test("a registered view is a pinned snapshot; re-load sees later commits") {
    val t = indexedTable()
    load(t).createOrReplaceTempView("clr_pin")
    CommitLog.append(spark, t, Seq((1000L, "late")).toDF("k", "s"))
    assert(spark.sql("SELECT count(*) FROM clr_pin").as[Long].head() === 100L,
      "the view must keep its load-time snapshot")
    assert(load(t).count() === 101L)
  }

  test("count(*) (empty projection) and schema-stable empty results") {
    val t = indexedTable()
    load(t).createOrReplaceTempView("clr_cnt")
    assert(spark.sql("SELECT count(*) FROM clr_cnt").as[Long].head() === 100L)
    val empty = spark.sql("SELECT k, s FROM clr_cnt WHERE k = -5")
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("k", "s"))
  }

  test("batch write face: append / overwrite / errorIfExists / ignore") {
    import org.apache.spark.sql.SaveMode
    val t = freshTable()
    def write(df: org.apache.spark.sql.DataFrame, mode: SaveMode) =
      df.write.format("graft-commitlog").option("table", t)
        .option("indexCol", "k").mode(mode).save()
    write((0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k")), SaveMode.ErrorIfExists)
    write((50 until 60).map(i => (i.toLong, s"v$i")).toDF("k", "s"), SaveMode.Append)
    assert(CommitLog.read(spark, t).count() === 60L)
    // indexCol recorded bounds on the clustered write: range reads prune
    assert(CommitLog.prunedFiles(t, 0d, 5d).size
      < CommitLog.snapshot(t).files.size)
    // ErrorIfExists refuses a second create
    intercept[IllegalArgumentException] {
      write(Seq((1L, "x")).toDF("k", "s"), SaveMode.ErrorIfExists)
    }
    // Ignore on an existing table is a no-op
    write(Seq((999L, "ignored")).toDF("k", "s"), SaveMode.Ignore)
    assert(CommitLog.read(spark, t).count() === 60L)
    // Overwrite replaces the data in ONE commit; time travel keeps history
    val tipBefore = CommitLog.latestVersion(t)
    write((100 until 110).map(i => (i.toLong, s"n$i")).toDF("k", "s"),
      SaveMode.Overwrite)
    assert(CommitLog.latestVersion(t) === tipBefore + 1)
    assert(CommitLog.read(spark, t).select("k").as[Long].collect().sorted
      .toSeq === (100L until 110L))
    assert(CommitLog.read(spark, t, asOf = Some(tipBefore)).count() === 60L,
      "the overwritten snapshot must stay time-travelable")
  }

  test("overwrite is a CDC mutation: old rows retract, new rows insert (or typed gap)") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val cursor = CommitLog.latestVersion(t)
    // without CDC, a consumer window spanning the overwrite is a LOUD gap
    CommitLog.overwrite(spark, t, Seq((3L, "c")).toDF("k", "s"))
    intercept[CommitLog.CdcGapException] {
      CommitLog.readChangesCdc(spark, t, fromVersion = cursor)
    }
    // with CDC on, the feed carries the full replacement
    val t2 = freshTable()
    CommitLog.append(spark, t2, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    CommitLog.setTableProperty(t2, "cdc", "true")
    val c2 = CommitLog.latestVersion(t2)
    CommitLog.overwrite(spark, t2, Seq((3L, "c")).toDF("k", "s"))
    val (_, feed) = CommitLog.readChangesCdc(spark, t2, fromVersion = c2)
    val changes = feed.get.select("k", "_change_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(changes === Seq((1L, "delete"), (2L, "delete"), (3L, "insert")))
    // a dv-masked row is NOT retracted twice: mask applies to the old side
    val t3 = freshTable()
    CommitLog.append(spark, t3, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    CommitLog.deleteWhereDv(spark, t3, col("k") === 1L)
    val c3 = CommitLog.latestVersion(t3)
    CommitLog.overwrite(spark, t3, Seq((9L, "z")).toDF("k", "s"), cdc = true)
    val (_, feed3) = CommitLog.readChangesCdc(spark, t3, fromVersion = c3)
    assert(feed3.get.select("k", "_change_type").as[(Long, String)]
      .collect().sorted.toSeq === Seq((2L, "delete"), (9L, "insert")),
      "the dv-deleted row was already dead — it must not retract again")
  }

  test("a racing append survives an overwrite (write-serializable rule)") {
    val t = freshTable()
    CommitLog.append(spark, t, (0 until 20).map(i => (i.toLong, "old")).toDF("k", "s"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ops: Seq[() => Unit] = Seq(
      () => { CommitLog.overwrite(spark, t,
        (100 until 110).map(i => (i.toLong, "new")).toDF("k", "s")); () },
      () => { CommitLog.append(spark, t, Seq((999L, "raced")).toDF("k", "s")); () })
    val threads = ops.map { op =>
      new Thread(() => {
        try { gate.await(); op() } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${Option(errs.peek())}")
    val ks = CommitLog.read(spark, t).select("k").as[Long].collect().sorted.toSeq
    // exactly the two legal serializations, never a torn mix: either the
    // append was OUTSIDE the overwrite's snapshot (raced or landed after
    // → it survives the replace), or the overwrite's snapshot read
    // happened to include it (→ replaced with the rest — that IS
    // overwrite semantics). The original snapshot's rows are gone either
    // way, and nothing is half-replaced.
    assert(ks === (100L until 110L) ++ Seq(999L) || ks === (100L until 110L),
      s"torn overwrite/append state: $ks")
  }

  test("catalog table: CREATE TABLE USING graft-commitlog, queried as SQL text") {
    val t = indexedTable()
    spark.sql("DROP TABLE IF EXISTS clr_cat")
    spark.catalog.createTable("clr_cat", "graft-commitlog",
      Map("table" -> t, "indexCol" -> "k"))
    try {
      assert(spark.sql("SELECT count(*) FROM clr_cat").as[Long].head() === 100L)
      // later commits become visible after refreshTable — the same
      // relation-cache contract every external write to a data-source
      // catalog table has (the cache pins the resolved snapshot)
      CommitLog.append(spark, t, Seq((1000L, "late")).toDF("k", "s"))
      spark.catalog.refreshTable("clr_cat")
      assert(spark.sql("SELECT count(*) FROM clr_cat").as[Long].head() === 101L)
      assert(spark.sql("SELECT s FROM clr_cat WHERE k = 1000").as[String]
        .collect().toSeq === Seq("late"))
    } finally spark.sql("DROP TABLE IF EXISTS clr_cat")
  }

  test("ErrorIfExists/Ignore create is atomic: racing creators land exactly one v0") {
    import org.apache.spark.sql.SaveMode
    // r17 ADVICE: the old check-then-append pair let BOTH racers see
    // exists=false and both append (adds-only commits commute), silently
    // merging the loser's rows. The create path now claims exactly v0.
    for (mode <- Seq(SaveMode.ErrorIfExists, SaveMode.Ignore)) {
      val t = freshTable()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]
      val threads = Seq("alpha", "beta").map { tag =>
        new Thread(() => {
          try {
            gate.await()
            (0 until 10).map(i => (i.toLong, tag)).toDF("k", "s")
              .write.format("graft-commitlog").option("table", t)
              .mode(mode).save()
            outcomes.add(Right(tag))
          } catch { case e: Throwable => outcomes.add(Left(e)) }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(CommitLog.latestVersion(t) === 0L, s"$mode must never commit past v0")
      val tags = CommitLog.read(spark, t).select("s").distinct()
        .as[String].collect().toSeq
      assert(tags.size === 1, s"$mode merged both racers' rows: $tags")
      assert(CommitLog.read(spark, t).count() === 10L)
      val (losses, wins) = outcomes.toArray(Array.empty[Either[Throwable, String]])
        .partition(_.isLeft)
      if (mode == SaveMode.ErrorIfExists) {
        assert(wins.size === 1 && losses.size === 1,
          s"exactly one racer must create (got wins=$wins losses=$losses)")
        assert(losses.head.swap.exists(_.getMessage.contains("already exists")),
          "the loser must get the typed already-exists error")
      } else assert(losses.isEmpty && wins.size === 2,
        "Ignore: the losing racer is a silent no-op, never an error")
      // the loser's staged files were cleaned up: every data file is live
      val dataFiles = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
        .toArray.length
      assert(dataFiles === CommitLog.snapshot(t).files.size,
        "a lost create race must delete its orphaned staged files")
    }
  }

  test("truncate-shaped overwrite with CDC records a pure retraction") {
    // r17 ADVICE: an empty frame can stage ZERO parquet files, and the
    // CDC branch read that empty path list → untyped schema-inference
    // error. The feed for a truncate is deletes only.
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    CommitLog.setTableProperty(t, "cdc", "true")
    val cursor = CommitLog.latestVersion(t)
    CommitLog.overwrite(spark, t, Seq.empty[(Long, String)].toDF("k", "s"))
    assert(CommitLog.read(spark, t).count() === 0L)
    val (_, feed) = CommitLog.readChangesCdc(spark, t, fromVersion = cursor)
    assert(feed.get.select("k", "_change_type").as[(Long, String)]
      .collect().sorted.toSeq === Seq((1L, "delete"), (2L, "delete")),
      "a truncate overwrite's change batch is the full retraction, nothing else")
  }

  test("SQL-text INSERT INTO / INSERT OVERWRITE a catalog log table") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "seed")).toDF("k", "s"))
    spark.sql("DROP TABLE IF EXISTS clr_ins")
    spark.catalog.createTable("clr_ins", "graft-commitlog", Map("table" -> t))
    try {
      spark.sql("INSERT INTO clr_ins VALUES (2, 'ins'), (3, 'ins')")
      // visible WITHOUT refreshTable: the write went through the relation,
      // which invalidates the session's relation cache itself
      assert(spark.sql("SELECT count(*) FROM clr_ins").as[Long].head() === 3L)
      val tipBefore = CommitLog.latestVersion(t)
      spark.sql("INSERT OVERWRITE clr_ins SELECT k + 10, s FROM clr_ins")
      assert(spark.sql("SELECT k FROM clr_ins ORDER BY k").as[Long]
        .collect().toSeq === Seq(11L, 12L, 13L))
      assert(CommitLog.read(spark, t, asOf = Some(tipBefore)).count() === 3L,
        "INSERT OVERWRITE must stay one atomic, time-travelable commit")
    } finally spark.sql("DROP TABLE IF EXISTS clr_ins")
  }

  test("SQL INSERT invalidates only the written table's cached resolutions") {
    val tA = freshTable(); val tB = freshTable()
    CommitLog.append(spark, tA, Seq((1L, "a")).toDF("k", "s"))
    CommitLog.append(spark, tB, Seq((1L, "b")).toDF("k", "s"))
    spark.sql("DROP TABLE IF EXISTS clr_tgt"); spark.sql("DROP TABLE IF EXISTS clr_other")
    spark.catalog.createTable("clr_tgt", "graft-commitlog", Map("table" -> tA))
    spark.catalog.createTable("clr_other", "graft-commitlog", Map("table" -> tB))
    try {
      spark.sql("SELECT * FROM clr_tgt").count()
      spark.sql("SELECT * FROM clr_other").count()
      val keys = org.apache.spark.sql.graft.SessionUtils.cachedRelationKeys(spark)
      // the reflective key listing is the selectivity test's precondition;
      // if Spark ever hides the cache entirely, the WHERE path falls back
      // to the session-wide drop and this spec's premise goes away with it
      assume(keys.exists(_.contains("clr_tgt")) && keys.exists(_.contains("clr_other")),
        s"relation cache not observable (keys=$keys)")
      spark.sql("INSERT INTO clr_tgt VALUES (2, 'ins')")
      val after = org.apache.spark.sql.graft.SessionUtils.cachedRelationKeys(spark)
      assert(!after.exists(_.contains("clr_tgt")),
        "the written table's resolution must drop (INSERT-then-SELECT reads the new snapshot)")
      assert(after.exists(_.contains("clr_other")),
        "an unrelated table's cached resolution must SURVIVE the insert — " +
          "session-wide invalidation detaches unrelated CACHE TABLE plans from CacheManager")
      assert(spark.sql("SELECT count(*) FROM clr_tgt").as[Long].head() === 2L)
      assert(spark.sql("SELECT count(*) FROM clr_other").as[Long].head() === 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS clr_tgt"); spark.sql("DROP TABLE IF EXISTS clr_other")
    }
  }

  test("INSERT through an AS OF relation is refused, never a silent tip write") {
    val t = indexedTable()
    spark.sql("DROP TABLE IF EXISTS clr_asof")
    spark.catalog.createTable("clr_asof", "graft-commitlog",
      Map("table" -> t, "versionAsOf" -> "0"))
    try {
      val tip = CommitLog.latestVersion(t)
      val e = intercept[Throwable] {
        spark.sql("INSERT INTO clr_asof VALUES (777, 'nope')")
      }
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(e).exists(_.getMessage != null)
        && chain(e).exists(c => Option(c.getMessage).exists(_.contains("AS OF"))),
        s"expected the typed AS OF refusal, got $e")
      assert(CommitLog.latestVersion(t) === tip,
        "a refused INSERT must commit nothing")
    } finally spark.sql("DROP TABLE IF EXISTS clr_asof")
  }

  test("SQL-text INSERT respects CHECK constraints and the OCC commit path") {
    val t = freshTable()
    CommitLog.append(spark, t, Seq((1L, "a")).toDF("k", "s"))
    CommitLog.addConstraint(spark, t, "k_pos", "k > 0")
    spark.sql("DROP TABLE IF EXISTS clr_chk")
    spark.catalog.createTable("clr_chk", "graft-commitlog", Map("table" -> t))
    try {
      spark.sql("INSERT INTO clr_chk VALUES (5, 'ok')")
      val before = CommitLog.latestVersion(t)
      val e = intercept[Throwable] {
        spark.sql("INSERT INTO clr_chk VALUES (-1, 'bad'), (6, 'fine')")
      }
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(e).exists(_.isInstanceOf[CommitLog.ConstraintViolationException]),
        s"expected a typed constraint violation, got $e")
      assert(CommitLog.latestVersion(t) === before,
        "a violating INSERT must commit NOTHING (the whole batch aborts)")
      assert(spark.sql("SELECT k FROM clr_chk ORDER BY k").as[Long]
        .collect().toSeq === Seq(1L, 5L))
    } finally spark.sql("DROP TABLE IF EXISTS clr_chk")
  }

  test("the store option routes the batch faces through a registered LogStore") {
    import graft.sources.{CommitLogProvider, FencedStore}
    val t = freshTable()
    CommitLogProvider.registerStore("clr-fenced", new FencedStore())
    Seq((1L, "x"), (2L, "y")).toDF("k", "s")
      .write.format("graft-commitlog").option("table", t)
      .option("store", "clr-fenced")
      .mode(org.apache.spark.sql.SaveMode.ErrorIfExists).save()
    // a claimed-but-unpublished tip (the crash window) is repaired by the
    // SQL read path when it goes through the SAME protocol — the exact
    // staleness the hardcoded LocalStore suffered (r17 ADVICE)
    new FencedStore(crashBeforePublish = true)
      .putIfAbsent(java.nio.file.Paths.get(t, "_log", f"v${1L}%012d.json"),
        "") // claim v1 without publishing: content is staged, object absent
    val viaSql = spark.read.format("graft-commitlog")
      .option("table", t).option("store", "clr-fenced").load()
    assert(viaSql.count() === 2L)
    assert(CommitLog.latestVersion(t, new FencedStore()) >= 0L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-commitlog").option("table", t)
        .option("store", "no-such-store").load()
    }
  }

  test("streaming sink still resolves under the unified provider") {
    // the short name moved providers (graft.streaming.CommitLogSinkProvider
    // -> graft.sources.CommitLogProvider); the sink face must be unchanged
    val t = freshTable()
    val src = Files.createTempDirectory("clr_sink_src")
    val ckpt = Files.createTempDirectory("clr_sink_ckpt").toString
    (0 until 10).map(i => s"""{"k":$i}""").zipWithIndex.foreach { case (l, i) =>
      Files.write(src.resolve(s"f$i.json"), l.getBytes("UTF-8"))
    }
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
      .json(src.toString)
      .writeStream.format("graft-commitlog")
      .option("table", t).option("appId", "clr")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(CommitLog.read(spark, t).count() === 10L)
    // and the batch face reads the stream-written table through SQL
    load(t).createOrReplaceTempView("clr_roundtrip")
    assert(spark.sql("SELECT count(*) FROM clr_roundtrip").as[Long].head() === 10L)
  }

  test("both batch relations print the table path and version, never an identity hash") {
    val t = indexedTable()
    CommitLog.append(spark, t, Seq((500L, "x")).toDF("k", "s"))
    def relation(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation.toString
      }.get
    val table = relation(load(t))
    val feed = relation(spark.read.format("graft-changefeed").option("table", t)
      .option("startingVersion", "0").load())
    assert(table === s"CommitLogRelation($t, v1)")
    assert(feed === s"ChangeFeedRelation($t, versions (0, 1])")
    Seq(table, feed).foreach(s => assert(!s.contains("@"), s))
  }
}
