package perfbench

import graft.SparkEntry

/** analytics_suite: one analyst in a closed loop over the read-only
  * registry queries (every `SparkEntry.queries` entry except `occ_*`) and
  * the Komodo analytics served through `Dispatch`.
  *
  * A pass runs the fixed [[sample]], stratified by family and cost, and
  * [[BlocksPerPass]] request blocks ([[Requests]]); `--seed` sets the order
  * of each pass and the requests' parameters. Set-up runs
  * every sampled query once (code generation, JIT, footer reads); the
  * timed window then runs as many whole seeded passes as fit in
  * `--seconds` on the reference host (at least one). Every query result
  * is consumed in full through [[Digest]] and compared with the expected
  * digest of a DuckDB-checked dump; a mismatch is a failed operation. */
object Analytics {
  /** Family of a registry query, by name. */
  def family(q: String): String = {
    val quality = Set("data_profile", "profile_approx", "dq_checks", "emb_norm_stats")
    val dedup = Set("corpus_diff", "txt_contamination", "txt_boilerplate")
    val event = Set("sessionize", "session_funnel", "retention_cohort", "trending_events",
      "user_paths", "window_sliding", "gap_fill", "label_horizon", "dau_rolling",
      "agg_interaction", "agg_user", "user_energy", "drawing_pattern", "user_proximity")
    val text = Set("dsir_topk", "bm25_topk", "tfidf_terms", "corpus_stats", "mix_weighted",
      "shard_assign", "split_assign", "split_leakage", "sample_per_source")
    if (quality(q)) "quality"
    else if (dedup(q) || q.startsWith("dedup_")) "dedup"
    else if (q.startsWith("ann_") || q.startsWith("hybrid_") || q == "emb_pq_codes") "ann"
    else if (q.startsWith("emb_") || q.startsWith("semdedup") || q == "kmeans_assign") "similarity"
    else if (q.startsWith("mm_")) "multimodal"
    else if (event(q) || q.startsWith("event") || q.startsWith("scd2_")) "event"
    else if (text(q) || q.startsWith("txt_") || q.startsWith("doc_") || q.startsWith("pack_") ||
      q.startsWith("corpus_budget")) "text"
    else "relational"
  }

  /** The families holding the compute-heavy kernels: near-duplicate
    * detection, vector search and its codecs, image and audio codecs, the
    * text classifiers. */
  val KernelFamilies = Set("dedup", "ann", "multimodal", "text")

  /** Request blocks per pass: about a fifth of a pass's time. */
  val BlocksPerPass = 2

  /** Wall seconds of one timed pass on the reference host (the quiet
    * 4-core Xeon of `metrics.PROBE_REF_CPU_MS`). */
  val NominalPassS = 11.5

  /** The measured sample, stratified by family and by cost, from the
    * calibration file [[Calibrate]] writes (warm time: the faster of the two
    * warm passes): one query per family — from each of the
    * [[KernelFamilies]] the query at its 90th percentile (nearest rank),
    * which carries the kernel; from every other family the query at its
    * median, which carries the fixed per-query costs most of the suite is
    * bound by. A full pass over all 189 queries takes minutes, more than
    * one run may measure. Changing the file changes the workload. */
  def sample(calibration: String): Seq[String] =
    tsv(calibration).map(a => (a(0), a(1), math.min(a(3).toDouble, a(4).toDouble)))
      .groupBy(_._2).toSeq.sortBy(_._1).map { case (family, qs) =>
        val byCost = qs.sortBy(_._3).map(_._1)
        val n = byCost.size
        if (KernelFamilies(family)) byCost(math.round(0.9 * (n - 1)).toInt) else byCost((n - 1) / 2)
      }

  def readOnly: Seq[String] = SparkEntry.queries.keys.filterNot(_.startsWith("occ_")).toSeq.sorted

  /** The rows of a tab-separated file, `#` comment lines skipped. */
  def tsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t")).toList
    finally src.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.args.data
    val expected = tsv(ctx.args.expected).map(a => a(0) -> a(1)).toMap
    val queries = sample(ctx.args.calibration)
    ctx.rec.values("queries") = queries
    val reg = SparkEntry.queries

    // Fixture: open every input table (footer reads, schema memo); cheap,
    // so repeated for a stable set-up figure.
    ctx.timedReps("fixture_s", 3) { _ =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach(t => graft.Tables.table(spark, data, t).schema)
    }

    def verify(q: String, got: String): Unit = expected.get(q) match {
      case Some(want) if want == got =>
      case want => ctx.rec.failLast(s"digest $got, expected ${want.getOrElse("none")}")
    }
    def runQuery(q: String, pass: Int): Unit = {
      spark.catalog.clearCache()
      ctx.op("query", q, "family" -> family(q), "pass" -> pass) {
        Digest.of(reg(q)(spark, data)).render
      }.foreach(verify(q, _))
    }
    val requests = new Requests(ctx)
    def serveBlock(pass: Int): Unit = {
      val b = requests.next()
      ctx.op("request", "block", "requests" -> b.map(_.id), "pass" -> pass)(requests.serve(b))
        .filter(_ != b.size).foreach(n => ctx.rec.failLast(s"$n of ${b.size} requests fulfilled"))
    }

    // Warm-up: every sampled query once, four at a time (code generation,
    // JIT and footer reads overlap); each result is checked like any other.
    ctx.timeOnce("warmup_s") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val warm = try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = queries.map { q => scala.concurrent.Future {
          val t0 = Clock.nowMs
          (q, t0, scala.util.Try(Digest.of(reg(q)(spark, data)).render), Clock.nowMs)
        } }
        fs.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
      warm.foreach { case (q, t0, got, t1) =>
        ctx.rec.ops += scala.collection.mutable.LinkedHashMap[String, Any](
          "id" -> ctx.rec.ops.size, "kind" -> "warmup", "name" -> q, "t0" -> t0, "t1" -> t1,
          "ok" -> got.isSuccess) ++ got.failed.toOption.map(e => "error" -> e.toString.take(500))
        got.foreach(verify(q, _))
      }
      spark.catalog.clearCache()
      serveBlock(-1)
    }

    // Whole passes, as many as fit in `--seconds` on the reference host
    // ([[NominalPassS]]): every run measures the same queries (each once
    // per pass) and as many request blocks, only the order and the
    // requests' parameters differ, so runs compare like with like. The
    // number of passes does not follow the host's speed: each pass is
    // faster than the one before it while the JIT settles.
    ctx.beginWindow()
    val passWalls = (0 until math.max(1, (ctx.args.seconds / NominalPassS).toInt)).map { pass =>
      val t0 = Clock.nowMs
      ctx.rng.shuffle(queries.map(Some(_)) ++ Seq.fill(BlocksPerPass)(None)).foreach {
        case Some(q) => runQuery(q, pass)
        case None => serveBlock(pass)
      }
      (Clock.nowMs - t0) / 1000.0
    }
    ctx.endWindow()
    ctx.recordRetained()
    ctx.rec.values("pass_s") = passWalls
    val bad = ctx.rec.ops.count(o => o("ok") != true)
    ctx.rec.check("analytics_results", bad == 0, s"$bad of ${ctx.rec.ops.size} results wrong or failed")
    requests.check()
  }
}
