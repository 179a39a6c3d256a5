package graft

import graft.sources.{Dispatch, Ingest}
import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("batch twin eventWindowAgg equals the streaming windowedCounts result") {
    val batch = EventStream.eventWindowAgg(spark, sf)
      .select(col("bucket_ms"), col("event_type"), col("n_events"), col("sum_value"))
    val viaWindow = EventStream.windowedCounts(
        EventStream.withEventTime(Tables.events(spark, sf)))
      .select(expr("unix_millis(window.start)").as("bucket_ms"),
        col("event_type"), col("n_events"), col("sum_value"))
    assert(batch.except(viaWindow).count() === 0)
    assert(viaWindow.except(batch).count() === 0)
  }

  test("stateful runningUserCounts over a memory stream accumulates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Ev]
    val q = EventStream.runningUserCounts(input.toDS())
      .writeStream.format("memory").queryName("counts").outputMode("update").start()
    try {
      input.addData(EventStream.Ev(1, 1000, 1.0), EventStream.Ev(1, 2000, 2.0),
        EventStream.Ev(2, 1000, 3.0))
      q.processAllAvailable()
      input.addData(EventStream.Ev(1, 3000, 4.0))
      q.processAllAvailable()
      val last = spark.table("counts").groupBy("user_id")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last(1L) === 3L) // state carried across micro-batches
      assert(last(2L) === 1L)
    } finally q.stop()
  }

  test("stream-static pitEnrichStream matches the batch scd2_pit_join on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EventAnalytics
    val ev  = Tables.events(spark, sf)
    val dim = EventAnalytics.scd2From(ev.filter(col("event_type") =!= "purchase"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val input = MemoryStream[(Long, Long, Long)]
    val obs = input.toDF().toDF("event_id", "user_id", "ts_ms")
    val q = EventStream.pitEnrichStream(obs, dim)
      .writeStream.format("memory").queryName("pit_enrich").outputMode("append").start()
    try {
      // two micro-batches — the static side serves both identically
      val (a, b) = purchases.splitAt(purchases.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val streamed = spark.table("pit_enrich")
        .orderBy("event_id").collect().toSeq
      val batch = EventAnalytics.scd2PitJoin(spark, sf)
        .select("event_id", "user_id", "ts_ms", "status_at", "status_version")
        .orderBy("event_id").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming labelHorizonStream (watermark-finalized) equals the batch label_horizon twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EventAnalytics
    import graft.operators.EventAnalytics.FunnelEv
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .collect()
      .map(r => FunnelEv(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(e => (e.ts_ms, e.event_id))
    val input = MemoryStream[FunnelEv]
    val q = EventAnalytics.labelHorizonStream(input.toDS())
      .writeStream.format("memory").queryName("label_stream").outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      // sentinel far past every horizon pushes the watermark → all
      // pending clicks finalize deterministically
      val flushTs = rows.map(_.ts_ms).max + 10L * 3600000L
      input.addData(FunnelEv(-1L, "view", flushTs, -1L)); q.processAllAvailable()
      val streamed = spark.table("label_stream")
        .select("event_id", "user_id", "ts_ms", "label", "ms_to_purchase")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .sortBy(_._1).toSeq
      val batch = graft.operators.EventAnalytics.labelHorizon(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
        .sortBy(_._1).toSeq
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("labelHorizonStream with nonzero watermarkDelay labels a cross-batch straggler purchase") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EventAnalytics
    import graft.operators.EventAnalytics.FunnelEv
    val horizon = 1000L
    val input = MemoryStream[FunnelEv]
    val q = EventAnalytics
      .labelHorizonStream(input.toDS(), horizon, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("label_straggler").outputMode("append").start()
    try {
      // batch 1: the click, plus a view that pushes max event time to 12000
      // (watermark after the batch = 12000 - 5000 = 7000 < click horizon end)
      input.addData(FunnelEv(1L, "click", 10000L, 1L), FunnelEv(2L, "view", 12000L, 2L))
      q.processAllAvailable()
      // batch 2: an OUT-OF-ORDER purchase at 10500 — behind max seen event
      // time but inside the 5 s delay, so the watermark admits it. Under the
      // default 0 ms delay the watermark would already sit at 12000 and this
      // row would be dropped → label=false. Then a sentinel finalizes.
      input.addData(FunnelEv(1L, "purchase", 10500L, 3L), FunnelEv(2L, "view", 20000L, 4L))
      q.processAllAvailable()
      input.addData(FunnelEv(2L, "view", 60000L, 5L))
      q.processAllAvailable()
      val out = spark.table("label_straggler")
        .select("event_id", "label", "ms_to_purchase").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSeq
      assert(out == Seq((1L, true, Some(500L))),
        s"straggler purchase must label the click (got $out)")
    } finally q.stop()
  }

  test("streaming ingest: file lands once, restart does not reprocess (T2)") {
    val in = tmp("captures"); val out = tmp("fact"); val ck = tmp("ckpt")
    val rec =
      """{"capture_id":"126_1630443513898","session_id":126,"client_id":5,
        |"type":"sync","ts":1630443513898,"seq":1,
        |"message":{"clientId":5,"entityType":0,"interactionType":1,
        |"pos":{"x":1.0,"y":2.0,"z":3.0},"strokeType":null,"strokeId":null}}"""
        .stripMargin.replace("\n", "")
    Files.writeString(java.nio.file.Paths.get(s"$in/c1.json"), rec)

    // the log form IS the capture ingest now (the plain-parquet form is a
    // deprecated migration shim with no engine caller)
    val q1 = Ingest.streamCapturesLog(spark, in, out, ck,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    assert(graft.sources.CommitLog.read(spark, out).count() === 1)

    // restart over the same checkpoint: nothing new → still exactly one row
    val q2 = Ingest.streamCapturesLog(spark, in, out, ck,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    assert(graft.sources.CommitLog.read(spark, out).count() === 1)

    val row = graft.sources.CommitLog.read(spark, out)
      .selectExpr("message.pos.x").first()
    assert(row.getDouble(0) === 1.0)
  }

  test("ingest quarantine: malformed capture lines are parked, good rows land") {
    val in = tmp("qin"); val quarantine = tmp("qbad") + "/bad"
    val good =
      """{"capture_id":"10_1000","session_id":10,"client_id":1,"type":"sync",
        |"ts":1000,"seq":1,"message":{"clientId":1,"entityType":0,
        |"interactionType":1,"pos":{"x":1.0,"y":2.0,"z":3.0}}}"""
        .stripMargin.replace("\n", "")
    val bad = """{"capture_id":"11_2000","session_id":"not-a-number","ts":{{{"""
    Files.writeString(java.nio.file.Paths.get(s"$in/mixed.json"), s"$good\n$bad\n")

    val rows = Ingest.readCapturesWithQuarantine(spark, in, quarantine)
    assert(rows.count() === 1)
    assert(rows.select("session_from_id").first().getInt(0) === 10)
    val parked = spark.read.text(quarantine)
    assert(parked.count() === 1)
    assert(parked.first().getString(0).contains("not-a-number"))
  }

  test("session_window aggregation matches the batch gap-sessionize twin") {
    // Spark's built-in session_window (gap-based merge) must agree with the
    // two-window batch formulation on session count and sizes.
    val ev = EventStream.withEventTime(Tables.events(spark, sf))
    val viaSessionWindow = ev
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val viaBatch = EventStream.sessionize(spark, sf)
      .select(col("user_id"), col("n_events"))
    assert(viaSessionWindow.except(viaBatch).count() === 0)
    assert(viaBatch.except(viaSessionWindow).count() === 0)
  }

  test("watermark: late data beyond the threshold is dropped from append output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("event_time", "event_type", "value")
    val agg = EventStream.windowedCounts(events)
    val q = agg.writeStream.format("memory").queryName("wm")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    try {
      // hour-0 events, then advance the watermark far past hour 0
      input.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0))
      q.processAllAvailable()
      input.addData((ts(300), "click", 3.0)) // 05:00 → watermark 04:50
      q.processAllAvailable()
      // hour-0 window is finalized and emitted with exactly 2 events
      val hour0 = spark.table("wm")
        .filter(expr("window.start = TIMESTAMP '2024-01-01 00:00:00'")).collect()
      assert(hour0.length === 1)
      assert(hour0(0).getAs[Long]("n_events") === 2L)
      // a straggler arriving for hour 0 after the watermark must be dropped
      input.addData((ts(30), "click", 99.0))
      q.processAllAvailable()
      val after = spark.table("wm")
        .filter(expr("window.start = TIMESTAMP '2024-01-01 00:00:00'")).collect()
      assert(after.length === 1 && after(0).getAs[Long]("n_events") === 2L)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions across micro-batches at the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 1800000L
    val input = MemoryStream[EventStream.Ev]
    val q = EventStream.sessionizeStateful(input.toDS(), gap)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // batch 1: two events 1 min apart (one open session)
      input.addData(EventStream.Ev(1, 0, 1.0), EventStream.Ev(1, 60000, 1.0))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0) // still open
      // batch 2: an event past the gap closes session 1 (2 events)
      input.addData(EventStream.Ev(1, gap + 120000, 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions").as[EventStream.ClosedSession].collect()
      assert(closed.length === 1)
      assert(closed(0).n_events === 2 && closed(0).start_ms === 0 && closed(0).end_ms === 60000)
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val events = input.toDF().toDF("event_time", "event_id")
    val q = EventStream.dedupStream(events)
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    try {
      input.addData((ts(1), 100L), (ts(1), 100L), (ts(2), 200L))
      q.processAllAvailable()
      // same id again in a later micro-batch, still inside the watermark
      input.addData((ts(3), 100L))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(100L, 200L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with preceding views per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksIn = MemoryStream[(java.sql.Timestamp, Long)]
    val viewsIn = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = clicksIn.toDF().toDF("click_time", "click_user")
    val views = viewsIn.toDF().toDF("view_time", "view_user")
    val q = EventStream.clickViewJoin(clicks, views)
      .writeStream.format("memory").queryName("cv").outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 0${min / 60}:${min % 60}%02d:00")
    try {
      viewsIn.addData((ts(0), 1L), (ts(5), 2L))
      clicksIn.addData((ts(10), 1L))  // 10 min after user 1's view → match
      clicksIn.addData((ts(50), 2L))  // 45 min after user 2's view → outside bound
      q.processAllAvailable()
      val rows = spark.table("cv").select("click_user").as[Long].collect()
      assert(rows.toSeq === Seq(1L))
    } finally q.stop()
  }

  test("streaming incremental dedup: cross-batch duplicate content never lands in the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = tmp("corpus") + "/docs"; val ck = tmp("dedupck")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.operators.Dedup.incrementalDedupSink(docs, corpus, ck)
    try {
      // batch 1: an in-batch duplicate (docs 1 and 3 share content)
      input.addData((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted
      assert(after1.toSeq === Seq(1L, 2L)) // min doc_id kept per content
      // batch 2: one duplicate of batch-1 content, one genuinely new doc
      input.addData((10L, "alpha beta"), (11L, "epsilon zeta"))
      q.processAllAvailable()
      val after2 = spark.read.parquet(corpus)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      assert(after2.map(_._1).toSeq === Seq(1L, 2L, 11L)) // 10 deduped away
      assert(after2.count(_._2 == "alpha beta") === 1)    // content stored once
    } finally q.stop()
  }

  test("streaming dispatch: request file arrives, CSV + ledger appear, restart is a no-op") {
    val reqDir = tmp("reqs"); val outDir = tmp("csvout")
    val ledgerDir = tmp("led") + "/ledger"; val ck = tmp("dck")
    Files.writeString(java.nio.file.Paths.get(s"$reqDir/r1.json"),
      """{"request_id":7,"processed_capture_id":"126_1","who_requested":1,
        |"aggregation_function":"aggregate_user","is_it_fulfilled":0,
        |"message":"{\"sessionId\": \"view\", \"clientId\": 5}","url":""}"""
        .stripMargin.replace("\n", ""))
    val q1 = Dispatch.streamRequests(spark, reqDir, sf, outDir, ledgerDir, ck,
      Trigger.AvailableNow())
    q1.awaitTermination()
    val led = spark.read.parquet(ledgerDir).collect()
    assert(led.length === 1)
    val loc = led(0).getAs[String]("file_location")
    assert(loc.contains("aggregate_user_") && new java.io.File(loc).exists())
    // restart over the same checkpoint: request not re-run, ledger unchanged
    val q2 = Dispatch.streamRequests(spark, reqDir, sf, outDir, ledgerDir, ck,
      Trigger.AvailableNow())
    q2.awaitTermination()
    assert(spark.read.parquet(ledgerDir).count() === 1)
  }

  test("dispatch: routes known functions, ignores unknown, ledger prevents rerun") {
    import spark.implicits._
    val outDir = tmp("csv"); val ledgerDir = tmp("ledger") + "/ledger"
    val requests = Seq(
      (1L, "aggregate_interaction_type", 0, """{"sessionId": "click", "interactionType": 3}"""),
      (2L, "no_such_function", 0, """{"sessionId": "click"}"""),
      (3L, "user_energy", 0, """{"clientId": 5, "entityType": 1}""")
    ).toDF("request_id", "aggregation_function", "is_it_fulfilled", "message")

    val done = Dispatch.run(spark, sf, requests, outDir, ledgerDir)
    assert(done.map(_._1).toSet === Set(1L, 3L)) // unknown fn silently skipped
    assert(new java.io.File(done.head._2).exists())

    // second pass: ledger marks them fulfilled → nothing runs
    val again = Dispatch.run(spark, sf, requests, outDir, ledgerDir)
    assert(again.isEmpty)
  }

  test("dispatch T3: per-request parameters reach the analytic — same function, different sessionId, different CSVs") {
    import spark.implicits._
    val outDir = tmp("csvp"); val ledgerDir = tmp("ledgerp") + "/ledger"
    val requests = Seq(
      (10L, "aggregate_interaction_type", 0, """{"sessionId": "click", "interactionType": 3}"""),
      (11L, "aggregate_interaction_type", 0, """{"sessionId": "view", "interactionType": 3}""")
    ).toDF("request_id", "aggregation_function", "is_it_fulfilled", "message")
    val done = Dispatch.run(spark, sf, requests, outDir, ledgerDir).toMap
    assert(done.keySet === Set(10L, 11L))
    def csvLines(dir: String): Seq[String] = {
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head
      scala.io.Source.fromFile(f).getLines().toSeq
    }
    val a = csvLines(done(10L)); val b = csvLines(done(11L))
    assert(a.head === b.head)                 // same schema (header)
    assert(a !== b)                           // different session scope → different rows
    // and the CSV matches the analytic run directly with the same params
    val direct = graft.operators.Komodo.aggInteraction(spark, sf, "view", 3)
      .collect().map(r => s"${r.get(0)},${r.get(1)}").toSeq
    assert(b.tail === direct)
  }

  test("dispatch T3: null-argument request is complained about, skipped, and NOT ledgered") {
    import spark.implicits._
    val outDir = tmp("csvn"); val ledgerDir = tmp("ledgern") + "/ledger"
    val requests = Seq(
      // sessionId JSON-null → reference's `session_id != "null"` guard trips
      (20L, "aggregate_user", 0, """{"sessionId": null, "clientId": 5}"""),
      // required key entirely absent → same skip
      (21L, "user_energy", 0, """{"clientId": 5}"""),
      (22L, "aggregate_user", 0, """{"sessionId": "view", "clientId": 5}""")
    ).toDF("request_id", "aggregation_function", "is_it_fulfilled", "message")
    val done = Dispatch.run(spark, sf, requests, outDir, ledgerDir)
    assert(done.map(_._1) === Seq(22L))
    val ledgered = spark.read.parquet(ledgerDir)
      .select("request_id").as[Long].collect().toSet
    assert(ledgered === Set(22L)) // 20/21 not fulfilled → stay pending
    // next pass: the invalid requests are re-offered (still pending), still skipped
    val again = Dispatch.run(spark, sf, requests, outDir, ledgerDir)
    assert(again.isEmpty)
  }

  test("dispatch crash between CSV write and ledger append: at-least-once retry, no duplicate ledger rows") {
    import spark.implicits._
    val outDir = tmp("csvc")
    val requests = Seq(
      (30L, "aggregate_user", 0, """{"sessionId": "view", "clientId": 3}"""),
      (31L, "user_energy", 0, """{"clientId": 5, "entityType": 1}""")
    ).toDF("request_id", "aggregation_function", "is_it_fulfilled", "message")
    // a regular FILE on the ledger path's parent makes the ledger append —
    // the LAST step of the pass — fail after the CSVs landed: exactly the
    // crash window between result durability and fulfillment durability
    val blocker = java.nio.file.Files.createTempFile("dispatch_blocker", ".txt")
    val badLedger = s"$blocker/ledger"
    intercept[Exception] {
      Dispatch.run(spark, sf, requests, outDir, badLedger)
    }
    // the work happened (CSVs exist) but fulfillment was never recorded
    val csvDirs = new java.io.File(outDir).listFiles()
    assert(csvDirs != null && csvDirs.length == 2, "both CSVs written before the crash")
    // restart against a healthy ledger: both requests are still pending
    // (at-least-once), rerun end-to-end, CSV overwrite is idempotent
    val ledgerDir = tmp("ledgerc") + "/ledger"
    val done = Dispatch.run(spark, sf, requests, outDir, ledgerDir)
    assert(done.map(_._1) === Seq(30L, 31L))
    done.foreach { case (_, loc) => assert(new java.io.File(loc).exists()) }
    // one fulfillment row per request — the retry did not double-ledger
    val led = spark.read.parquet(ledgerDir).select("request_id").as[Long].collect()
    assert(led.sorted.toSeq === Seq(30L, 31L))
    // third pass: fulfilled -> nothing reruns, ledger unchanged
    assert(Dispatch.run(spark, sf, requests, outDir, ledgerDir).isEmpty)
    assert(spark.read.parquet(ledgerDir).count() === 2)
  }

  test("dispatch shared scan: clone-persisted events substitute into routed plans; a pass pins no cache") {
    import spark.implicits._
    // the mechanism run() relies on: persisting the shared frame on the
    // serving clone rewrites every routed analytic's plan to the
    // InMemoryRelation (plan-fragment equality across sessions)
    val exec = org.apache.spark.sql.graft.SessionUtils.cloneSession(spark)
    val sh = Tables.events(exec, sf)
    sh.persist(); sh.count()
    try {
      val plan = graft.operators.Komodo.aggInteraction(exec, sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("InMemoryRelation"), plan.take(1500))
    } finally sh.unpersist(true)
    // end-to-end: a dispatch pass must release its cache when it finishes
    val outDir = tmp("csvs"); val ledgerDir = tmp("ledgers") + "/ledger"
    val requests = Seq(
      (40L, "aggregate_user", 0, """{"sessionId": "view", "clientId": 3}"""),
      (41L, "user_energy", 0, """{"clientId": 5, "entityType": 1}"""))
      .toDF("request_id", "aggregation_function", "is_it_fulfilled", "message")
    assert(Dispatch.run(spark, sf, requests, outDir, ledgerDir).map(_._1) === Seq(40L, 41L))
    assert(Tables.events(spark, sf).storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE, "pass left the shared frame pinned")
  }

  test("labelHorizonStream state survives stop/restart: pending click finalizes after recovery") {
    import spark.implicits._
    import graft.operators.EventAnalytics
    import graft.operators.EventAnalytics.FunnelEv
    val in = tmp("lhin"); val out = tmp("lhout") + "/labels"; val ck = tmp("lhck")
    val horizon = 3000L
    def evs = spark.readStream
      .schema("user_id LONG, event_type STRING, ts_ms LONG, event_id LONG")
      .json(in).as[FunnelEv]
    def run(): Unit = {
      val q = EventAnalytics.labelHorizonStream(evs, horizon)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    }
    // click 100 converts (purchase 1 s later); click 102 stays PENDING —
    // its horizon (8 s) is past the max event time (5 s = the watermark)
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"user_id":1,"event_type":"click","ts_ms":1000,"event_id":100}
        |{"user_id":1,"event_type":"purchase","ts_ms":2000,"event_id":101}
        |{"user_id":1,"event_type":"click","ts_ms":5000,"event_id":102}""".stripMargin)
    run()
    val first = spark.read.parquet(out)
      .select("event_id", "label").as[(Long, Boolean)].collect().toMap
    assert(first === Map(100L -> true), s"expected only click 100 finalized, got $first")
    // restart over the same checkpoint: the pending click lives in the
    // STATE STORE, not the source — a watermark-only event after recovery
    // must finalize it as a negative
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      """{"user_id":-1,"event_type":"view","ts_ms":20000,"event_id":-1}""")
    run()
    val after = spark.read.parquet(out)
      .select("event_id", "label", "ms_to_purchase")
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1).toSeq
    assert(after === Seq((100L, true, Some(1000L)), (102L, false, None)),
      s"state not recovered across restart: $after")
  }

  /** Simulate the foreachBatch crash window — side effect durable, batch
    * commit not: drop the checkpoint's latest `commits/<n>` marker while
    * leaving `offsets/<n>`, so a restarted query replays that batch from
    * its recorded offsets, exactly as after a kill between the sink's
    * write and the engine's commit. */
  private def dropLatestCommit(ck: String): Unit = {
    val commits = new java.io.File(s"$ck/commits")
    val latest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not remove ${latest}")
    // the local FS writes Hadoop checksum shadows; a stale .crc would make
    // the recommit's atomic rename fail as a phantom concurrent writer
    val crc = new java.io.File(commits, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
  }

  test("dedup sink crash after corpus append, before commit: replay re-appends nothing") {
    import spark.implicits._
    val in = tmp("dkin"); val corpus = tmp("dkcorpus") + "/docs"; val ck = tmp("dkck")
    def docs = spark.readStream.schema("doc_id LONG, text STRING").json(in)
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"doc_id":1,"text":"alpha beta"}
        |{"doc_id":2,"text":"gamma delta"}
        |{"doc_id":3,"text":"alpha beta"}""".stripMargin)
    val q1 = graft.operators.Dedup.incrementalDedupSink(docs, corpus, ck)
    try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect()
      .sorted.toSeq === Seq(1L, 2L))
    dropLatestCommit(ck)
    // restart: batch 0 replays, but its content already sits in the corpus,
    // so every replayed row anti-joins away — content-level idempotence
    val q2 = graft.operators.Dedup.incrementalDedupSink(docs, corpus, ck)
    try q2.processAllAvailable() finally { q2.stop(); q2.awaitTermination() }
    val after = spark.read.parquet(corpus)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(after.map(_._1).toSeq === Seq(1L, 2L), "replay re-appended content")
    assert(after.count(_._2 == "alpha beta") === 1)
    // and the recovered checkpoint still ingests NEW content normally
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      """{"doc_id":10,"text":"alpha beta"}
        |{"doc_id":11,"text":"epsilon zeta"}""".stripMargin)
    val q3 = graft.operators.Dedup.incrementalDedupSink(docs, corpus, ck)
    try q3.processAllAvailable() finally { q3.stop(); q3.awaitTermination() }
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect()
      .sorted.toSeq === Seq(1L, 2L, 11L))
  }
}
