package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {

  test("exact dedup groups partition the corpus") {
    val total = Tables.documents(spark, sf).count()
    val sumCopies = Dedup.exactDedup(spark, sf).agg(sum("n_copies")).first().getLong(0)
    assert(sumCopies === total)
  }

  test("boilerplate fraction is a valid ratio consistent with chunkDedup") {
    val bp = Dedup.boilerplateRatio(spark, sf)
    assert(bp.filter(col("n_dup_chunks") > col("n_chunks")).count() === 0)
    assert(bp.filter(col("boilerplate_frac") < 0 || col("boilerplate_frac") > 1).count() === 0)
    // every occurrence of a chunk that chunkDedup reports as shared across
    // docs is a dup chunk here: totals must agree
    // coalesce: sum() over an empty/zero-duplicate fixture is NULL, and a
    // bare getLong would turn that into an opaque NPE instead of the
    // assertion message
    val dupOccurrences = Dedup.chunkDedup(spark, sf)
      .agg(coalesce(sum("n_occurrences"), lit(0L))).first().getLong(0)
    val dupCounted = bp.agg(coalesce(sum("n_dup_chunks"), lit(0L))).first().getLong(0)
    assert(dupCounted === dupOccurrences,
      s"chunkDedup sees $dupOccurrences shared-chunk occurrences, boilerplate counts $dupCounted")
  }

  test("jaccard values stay in [0, 1] and intersections respect set sizes") {
    val j = Dedup.ngramJaccard(spark, sf, threshold = 0.0)
    assert(j.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0)
    assert(j.filter(col("inter") > col("n1") || col("inter") > col("n2")).count() === 0)
  }

  test("minhash candidates carry exact-verified jaccard in [0, 1]") {
    val m = Dedup.minhashLsh(spark, sf)
    assert(m.filter(col("jaccard") < 0 || col("jaccard") > 1).count() === 0)
    assert(m.filter(col("d1") >= col("d2")).count() === 0)
  }

  test("minhash-lsh recall: finds every exact jaccard >= 0.9 pair") {
    // Ground truth: exact trigram jaccard over the whole corpus via the
    // inverted-index join (cheap at sf0.001; 27 true near-dup pairs).
    val sh = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")))
        .as("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("i").cast("double") / (col("n1") + col("n2") - col("i")) >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty) // fixture is known to contain near-dup pairs
    // A j≥0.9 pair misses a 4-row band with prob ≤ 1-0.9^4 ≈ 0.34, all 16
    // bands with ≤ 0.34^16 ≈ 3e-8 — and the hash family is fixed, so on
    // this fixed corpus the outcome is deterministic, not flaky.
    val found = graft.operators.Dedup.minhashLsh(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(found),
      s"missed ${truth -- found} of ${truth.size} true near-dup pairs")
  }

  test("simhash: identical docs would be hamming 0; all pairs within cutoff") {
    val s = Dedup.simhash(spark, sf)
    assert(s.filter(col("hamming") > 8 || col("hamming") < 0).count() === 0)
  }

  test("embNearDupFrom drops a degenerate sign-bucket wholesale; small buckets still pair") {
    import spark.implicits._
    // Synthetic skewed corpus: 20 vectors with every leading sign positive
    // (the all-positive post-ReLU pathology) collapse into sign-bucket 255;
    // 4 vectors with dim0 negative land in bucket 254. All vectors within a
    // bucket are identical, so every same-bucket pair has cosine 1.0.
    val big   = (0L until 20L).map(i => (i, Array.fill(8)(1.0f)))
    val small = (100L until 104L).map(i => (i, Array(-1.0f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)))
    val embs  = (big ++ small).toDF("vec_id", "embedding")

    val capped = operators.Similarity.embNearDupFrom(embs, threshold = 0.3, maxBucket = 10)
      .collect()
    // Bounded output: the oversize bucket contributes NO pair — only the
    // C(4,2)=6 pairs from the under-cap bucket survive.
    assert(capped.length === 6, s"expected only small-bucket pairs, got ${capped.length}")
    assert(capped.forall(_.getAs[Int]("bucket") === 254))
    assert(capped.forall(r => r.getAs[Long]("v1") >= 100L && r.getAs[Long]("v2") >= 100L))

    // Same corpus, cap lifted: the 20-row bucket pairs quadratically
    // (C(20,2)=190) — proving the cap, not the data, suppressed it above.
    val uncapped = operators.Similarity.embNearDupFrom(embs, threshold = 0.3, maxBucket = 5000)
    assert(uncapped.count() === 190L + 6L)
  }

  test("semDedup keep rule: lower-centroid-cosine member of a near-dup pair wins; ties to lower id") {
    import spark.implicits._
    // Cluster 0's centroid points along dim0, cluster 1's along dim1.
    // v1/v2 are near-dups in cluster 0 (cosine ≈ 0.9998 ≥ τ): v1 hugs the
    // centroid tighter (HIGHER c_sim) so the published keep rule REMOVES
    // v1 and keeps v2 (low-centroid-sim carries the most marginal
    // information). v4/v5 are byte-identical in cluster 1 — equal c_sim,
    // the tie removes the higher vec_id. v3 pairs with nobody.
    val embs = Seq(
      1L -> Array(1.0f, 0.10f, 0f, 0f, 0f, 0f, 0f, 0f),
      2L -> Array(1.0f, 0.12f, 0f, 0f, 0f, 0f, 0f, 0f),
      3L -> Array(0.05f, 0f, 1.0f, 0f, 0f, 0f, 0f, 0f),
      4L -> Array(0f, 1.0f, 0.3f, 0f, 0f, 0f, 0f, 0f),
      5L -> Array(0f, 1.0f, 0.3f, 0f, 0f, 0f, 0f, 0f)
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1, Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    ).toDF("c_label", "cl")
    val out = operators.Similarity.semDedupFrom(embs, cents, tau = 0.9, maxCell = 5000)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(1L)._1 == 0 && out(2L)._1 == 0, "v1/v2 must assign to cluster 0")
    assert(out(4L)._1 == 1 && out(5L)._1 == 1)
    assert(out(1L)._2 > out(2L)._2, "v1 must sit closer to its centroid")
    assert(!out(1L)._3, "the HIGH-centroid-sim member of the pair must be removed")
    assert(out(2L)._3, "the low-centroid-sim member must be kept")
    assert(out(3L)._3, "an unpaired vector is always kept")
    assert(out(4L)._3 && !out(5L)._3, "identical pair: tie keeps the lower vec_id")
    // cell cap: force every cell oversize — nothing pairs, everything kept
    val allKept = operators.Similarity.semDedupFrom(embs, cents, tau = 0.9, maxCell = 1)
      .filter(!col("kept")).count()
    assert(allKept == 0L, "over-cap cells must be skipped wholesale (kept)")
  }

  test("pq codes: full coverage and per-subspace argmin beats any single centroid") {
    val pq = Similarity.pqCodes(spark, sf)
    val nVec = Tables.embeddings(spark, sf).count()
    assert(pq.count() === nVec * 4, "4 subspace codes per vector")
    assert(pq.filter(col("sq_err") < 0).count() === 0)
    // the property that makes PQ work: choosing the best codebook entry
    // PER SUBSPACE can only beat assigning the whole vector to one
    // centroid — compare against each vector's own-label full centroid
    val cent = Similarity.embCentroids(spark, sf)
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
        .as("cl"))
    val whole = Tables.embeddings(spark, sf)
      .join(cent, "label")
      .select(col("vec_id"), org.apache.spark.sql.graft.VectorFunctions
        .vec_sqdist(col("embedding"), col("cl")).as("d_own"))
    val pqSum = pq.groupBy(col("vec_id")).agg(sum(col("sq_err")).as("d_pq"))
    val violations = pqSum.join(whole, "vec_id")
      .filter(col("d_pq") > col("d_own") * (1 + 1e-12)).count()
    assert(violations === 0, "pq error exceeded own-centroid error")
  }

  test("ann_pq_adc: adc distance equals exact distance to the reconstruction") {
    val adc = Similarity.annPq(spark, sf).collect()
    assert(adc.length === 5 * 10, "10 results per query")
    // rebuild the tiny artifacts the identity needs
    val cb = Similarity.embCentroids(spark, sf).collect()
      .groupBy(r => (r.getInt(0), r.getInt(1) / 16)) // (label, subspace)
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    val codes = Similarity.pqCodes(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.sortBy(_.getInt(1)).map(_.getInt(2)) }
    val qEmb = Tables.embeddings(spark, sf).filter(col("vec_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    adc.foreach { r =>
      val (q, v, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      // same fold order as FloatVecSqDist: left-to-right (double(x)-c)^2,
      // subspace totals added in order
      val expected = (0 until 4).map { s =>
        val cl = cb((codes(v)(s), s))
        var acc = 0.0
        var i = 0
        while (i < 16) {
          val diff = qEmb(q)(s * 16 + i).toDouble - cl(i); acc += diff * diff; i += 1
        }
        acc
      }.foldLeft(0.0)(_ + _)
      assert(math.abs(d - expected) <= 1e-12 * math.max(1.0, expected),
        s"q=$q v=$v adc=$d reconstruction=$expected")
    }
    // per-query ranks are 1..10 with non-decreasing distances
    adc.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 10))
      assert(sorted.map(_.getDouble(2)).toSeq == sorted.map(_.getDouble(2)).sorted.toSeq)
    }
  }

  test("ann brute force: k results per query, cosine in [-1, 1], rank ordered") {
    val r = Similarity.annBruteForce(spark, sf)
    assert(r.groupBy("q_id").count().filter(col("count") =!= 10).count() === 0)
    assert(r.filter(col("cos_sim") < -1.0001 || col("cos_sim") > 1.0001).count() === 0)
    // rank 1 has the max cos_sim per query
    val top = r.filter(col("rank") === 1).select(col("q_id"), col("cos_sim").as("best"))
    val viol = r.join(top, "q_id").filter(col("cos_sim") > col("best"))
    assert(viol.count() === 0)
  }

  test("ann ivf probes only the query's own partition") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val r = Similarity.annIvf(spark, sf)
      .join(e.withColumnRenamed("vec_id", "q_id").withColumnRenamed("label", "q_label"), "q_id")
      .join(e, "vec_id")
    assert(r.filter(col("label") =!= col("q_label")).count() === 0)
  }

  test("ivf results are a subset-ranking of brute force (recall sanity)") {
    val bf  = Similarity.annBruteForce(spark, sf).select("q_id", "vec_id")
    val ivf = Similarity.annIvf(spark, sf).select("q_id", "vec_id")
    // every ivf hit that brute force also ranked must exist there
    val recall = ivf.intersect(bf).count().toDouble / ivf.count()
    assert(recall >= 0.0) // structural sanity; exact recall is data-dependent
    assert(ivf.count() > 0)
  }

  test("trained PQ codebook: Lloyd rounds lift recall@10 over the stand-in") {
    // ann_recall is deterministic (md5/DECIMAL trainer, fixed rounds), so
    // the direction training must deliver is pinnable: per query the
    // trained codebook recalls at least as many true neighbors as the
    // per-label stand-in, and strictly more in total (fixture: 14 vs 2).
    val r = Similarity.annRecall(spark, sf).collect()
    assert(r.length == 5, "one row per fixed query")
    r.foreach { row =>
      val pq = row.getAs[Long]("hits_pq")
      val tr = row.getAs[Long]("hits_pq_trained")
      assert(tr >= pq, s"q_id ${row.get(0)}: trained $tr < stand-in $pq")
    }
    val totTr = r.map(_.getAs[Long]("hits_pq_trained")).sum
    val totPq = r.map(_.getAs[Long]("hits_pq")).sum
    assert(totTr > totPq, s"training lifted nothing: $totTr vs $totPq")
    assert(totTr >= 10, s"mean trained recall@10 below 0.2 floor: $totTr/50")
  }

  test("trained IVF: nprobe-2 Lloyd quantizer dominates the label stand-in's recall") {
    val r = Similarity.annRecall(spark, sf).collect()
    r.foreach { row =>
      val ivf = row.getAs[Long]("hits_ivf")
      val ivt = row.getAs[Long]("hits_ivf_trained")
      assert(ivt >= ivf, s"q_id ${row.get(0)}: trained $ivt < stand-in $ivf")
    }
    val tot = r.map(_.getAs[Long]("hits_ivf_trained")).sum
    assert(tot >= 30, s"trained-IVF recall@10 below 0.6 floor: $tot/50")
    // exact-cosine re-rank: every trained-IVF hit IS a true neighbor by
    // construction, so recall == hits; the subset property needs no spec
  }

  test("trained PQ codebook is deterministic with full k x subspaces coverage") {
    def snap() = Similarity.pqTrainedCodebook(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val cb1 = snap()
    assert(cb1 == snap(), "trainer must be bit-reproducible run to run")
    assert(cb1.size == 16 * 4, "k x subspaces codebook entries")
    assert(cb1.values.forall(_.length == 16), "every centroid spans its subspace width")
  }

  test("codebooks materialize once and serve every trained query bit-identically") {
    import graft.operators.Codebooks
    Codebooks.invalidate(sf)
    val before = Codebooks.fitCount.get()
    // first access trains + writes; the materialized table is value-
    // identical to a fresh trainer run (doubles round-trip parquet)
    val mat = Codebooks.pq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val fresh = Similarity.pqTrainedCodebook(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(mat == fresh, "materialized codebook must equal a fresh Lloyd run")
    assert(Codebooks.fitCount.get() == before + 1, "first pq access trains")
    // train-once: every further trained query reuses the tables — the
    // full recall query (pq + ivf + both trained variants) pays exactly
    // one more fit, the IVF family's
    Similarity.annPqTrained(spark, sf).collect()
    Similarity.annRecall(spark, sf).collect()
    assert(Codebooks.fitCount.get() == before + 2,
      "pq reused across ann_pq_trained/ann_recall; ivf trained exactly once")
    // fit is idempotent once both tables exist
    Codebooks.fit(spark, sf)
    assert(Codebooks.fitCount.get() == before + 2, "fit is a no-op when current")
  }

  // --- substring-span dedup ---------------------------------------------

  /** Crafted corpus builder: every filler token is unique per (doc, pos)
    * so no window is shared by accident — only the runs planted below. */
  private def spanDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def uniq(doc: String, n: Int, from: Int = 0): String =
    (from until from + n).map(i => s"u_${doc}_$i").mkString(" ")
  private def run(name: String, n: Int): String =
    (0 until n).map(i => s"R_${name}_$i").mkString(" ")

  test("substring spans catch a duplicated run at ANY alignment") {
    // the shared 12-token run sits at token offset 5 in doc 1 and offset 7
    // in doc 2 — neither a multiple of the 10-token chunk grid, so
    // chunk-level dedup is blind to it by construction
    val docs = spanDocs(
      1L -> s"${uniq("a", 5)} ${run("S", 12)} ${uniq("a", 8, 100)}",
      2L -> s"${uniq("b", 7)} ${run("S", 12)} ${uniq("b", 6, 100)}")
    val spans = Dedup.dupSpanRows(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the span is exactly the planted run: [offset, offset+11], 3 windows
    assert(spans.toSet === Set((1L, 5L, 16L, 3L), (2L, 7L, 18L, 3L)))
    assert(Dedup.chunkDedupFrom(docs).isEmpty,
      "the 10-token chunk grid must miss this alignment (that is the gap this operator closes)")
  }

  test("overlapping duplicated runs merge to one span; coverage counts the union once") {
    // doc 3 shares tokens [0,11] with doc 4 and tokens [8,19] with doc 5:
    // flagged windows 0..2 and 8..10 overlap in token space, so they must
    // merge into ONE [0,19] span — a naive consecutive-run grouping would
    // report [0,11] and [8,19] and double-count tokens 8..11
    val d3 = s"${run("X", 12)} ${run("Y", 8)}" // X = tokens 0..11, Y = 12..19
    // doc 5 carries X_8..X_11 followed by Y_0..Y_7 — the exact [8,19] text
    val overlap = (8 until 12).map(i => s"R_X_$i").mkString(" ") + " " + run("Y", 8)
    val docs = spanDocs(
      3L -> d3,
      4L -> s"${run("X", 12)} ${uniq("d", 8)}",
      5L -> s"${uniq("e", 3)} $overlap ${uniq("e", 9, 100)}")
    val spans3 = Dedup.dupSpanRows(docs).filter(col("doc_id") === 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans3.toSet === Set((0L, 19L, 6L)),
      s"doc 3 must carry one merged [0,19] span, got ${spans3.mkString(",")}")
    val cov3 = Dedup.substringCoverageFrom(docs).filter(col("doc_id") === 3).first()
    assert(cov3.getLong(2) === 20L, "union size, not the 24 a double-count would give")
    assert(cov3.getDouble(3) === 1.0, "doc 3 is fully covered")
  }

  test("duplication shorter than the window is invisible (documented floor)") {
    val docs = spanDocs(
      6L -> s"${uniq("f", 4)} ${run("T", 9)} ${uniq("f", 4, 100)}",
      7L -> s"${uniq("g", 4)} ${run("T", 9)} ${uniq("g", 4, 100)}")
    assert(Dedup.dupSpanRows(docs).isEmpty)
  }

  test("substring scrub removes exactly the duplicated tokens; fixture ties to coverage") {
    // planted: docs 1/2 share a 12-token run at different offsets — the
    // scrub must remove exactly those tokens from BOTH docs (the
    // remove-everywhere C4 stance), keeping the unique filler
    val docs = spanDocs(
      1L -> s"${uniq("a", 5)} ${run("S", 12)} ${uniq("a", 8, 100)}",
      2L -> s"${uniq("b", 7)} ${run("S", 12)} ${uniq("b", 6, 100)}")
    // scrub needs the crafted frame, not the fixture: route through the
    // span frame by reusing dupSpanRows' private path via a temp dir is
    // overkill — assert on the fixture-level invariant instead, plus the
    // crafted expectation via the span frame itself
    val spans1 = Dedup.dupSpanRows(docs).filter(col("doc_id") === 1).collect()
    assert(spans1.map(r => r.getLong(2) - r.getLong(1) + 1).sum === 12L)
    // fixture: scrub manifest agrees with coverage row-for-row
    val scrub = Dedup.substringScrub(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val cov = Dedup.substringCoverage(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(scrub.keySet === cov.keySet)
    scrub.foreach { case (id, (nt, removed)) =>
      assert((nt, removed) === cov(id),
        s"doc $id: scrub ($nt, $removed) vs coverage ${cov(id)}")
    }
    // fully-duplicated docs (ratio 1.0) must hash to md5("")
    val fullDocs = Dedup.substringCoverage(spark, sf)
      .filter(col("dup_ratio") === 1.0).collect().map(_.getLong(0)).toSet
    if (fullDocs.nonEmpty) {
      val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
      val hashes = Dedup.substringScrub(spark, sf)
        .filter(col("doc_id").isin(fullDocs.toSeq: _*))
        .collect().map(_.getString(3)).toSet
      assert(hashes === Set(emptyMd5))
    }
  }

  test("keep-one policy: the canonical (min doc_id) occurrence survives, others flag") {
    // private path exercised through the fixture-level relation instead:
    // every noncanonical span is also an all-copies span, and at least
    // one document with remove-everywhere spans carries NO noncanonical
    // span (it is the canonical holder of all its duplicated windows)
    val all = Dedup.substringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nc = Dedup.substringNoncanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(nc.nonEmpty && nc.size < all.size)
    val allDocs = all.map(_._1); val ncDocs = nc.map(_._1)
    assert(ncDocs.subsetOf(allDocs),
      "keep-one can only flag docs the remove-everywhere policy flags")
    assert((allDocs -- ncDocs).nonEmpty,
      "some canonical doc must keep all its duplicated text under keep-one")
    // positionally: every noncanonical span lies within some all-copies
    // span of the same doc (keep-one only ever removes LESS)
    nc.foreach { case (d, s, e) =>
      assert(all.exists { case (d2, s2, e2) => d2 == d && s >= s2 && e <= e2 },
        s"noncanonical span ($d,$s,$e) outside every all-copies span")
    }
  }

  test("scrubbedDocs production form matches the md5 witness; untouched docs pass through") {
    val wit = Dedup.substringScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val byId = Dedup.substringScrubbedDocs(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(wit.nonEmpty && byId.size == orig.size)
    wit.foreach { case (id, h) =>
      assert(byId(id) == h, s"doc $id: cleaned text must hash to the witness")
    }
    (byId.keySet -- wit.keySet).foreach { id =>
      assert(byId(id) == orig(id), s"doc $id untouched must pass through byte-identical")
    }
  }

  test("fixture spans are disjoint, non-adjacent, >= window length; coverage is consistent") {
    val spans = Dedup.substringSpans(spark, sf)
    assert(spans.count() > 0, "fixture must exercise the operator non-vacuously")
    assert(spans.filter(col("span_end") - col("span_start") < 9).count() === 0)
    // disjoint and non-adjacent per doc: start > previous end + 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("span_start")
    val overlapping = spans
      .withColumn("prev_end", lag(col("span_end"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("span_start") <= col("prev_end") + 1)
    assert(overlapping.count() === 0, "merged spans must be disjoint and non-adjacent")
    // coverage rows agree with the span frame they are built from
    val cov = Dedup.substringCoverage(spark, sf)
    assert(cov.filter(col("dup_tokens") > col("n_toks")).count() === 0)
    assert(cov.filter(col("dup_ratio") <= 0 || col("dup_ratio") > 1).count() === 0)
    val fromSpans = spans.groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start") + lit(1L)).as("t"))
      .agg(coalesce(sum("t"), lit(0L))).first().getLong(0)
    val fromCov = cov.agg(coalesce(sum("dup_tokens"), lit(0L))).first().getLong(0)
    assert(fromSpans === fromCov)
  }

  test("winnowing: fingerprints match an independent JVM reimplementation; k+w-1 guarantee holds") {
    import spark.implicits._
    val K = 5; val W = 4; val Pos = 1L << 20
    def md5b40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(10), 16)
    }
    // reference winnow (Schleimer et al. 2003, robust variant): window
    // min with ties to the RIGHTMOST position, deduped
    def refWinnow(text: String): Set[Long] = {
      val tk = text.split(" ", -1).filter(_.nonEmpty)
      if (tk.length < K) return Set.empty
      val v = tk.sliding(K).zipWithIndex
        .map { case (g, i) => md5b40(g.mkString(" ")) * Pos + (Pos - 1 - i) }.toArray
      val starts = 0 to math.max(0, v.length - W)
      starts.map(s => v.slice(s, s + W).min / Pos).toSet
    }
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 = k+w-1 tokens
    val docs = Seq(
      (1L, s"one two three four five $shared six seven", "en"),
      (2L, s"$shared nine ten eleven twelve thirteen", "en"),
      (3L, "completely different words entirely unrelated tokens here now", "en"),
      (4L, "quick brown foxes jump over lazy dogs tonight", "en"),
      (5L, "tiny doc", "en") // < k tokens: no grams, no fingerprints
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.winnowFingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
    val texts = Map(
      1L -> s"one two three four five $shared six seven",
      2L -> s"$shared nine ten eleven twelve thirteen",
      3L -> "completely different words entirely unrelated tokens here now",
      4L -> "quick brown foxes jump over lazy dogs tonight")
    texts.foreach { case (d, t) =>
      assert(got.getOrElse(d, Set.empty) === refWinnow(t),
        s"doc $d fingerprint set must match the reference implementation")
    }
    assert(!got.contains(5L), "sub-k documents have no fingerprints")
    // density: the paper's 2/(w+1) expectation — never more than gram count
    texts.foreach { case (d, t) =>
      val nGrams = t.split(" ").count(_.nonEmpty) - K + 1
      assert(got(d).size <= nGrams && got(d).size >= 1)
    }
    // the k+w-1 guarantee: docs 1 and 2 share an 8-token run -> >=1 shared
    // fingerprint; unrelated docs share none
    val pairs = Dedup.winnowPairsFrom(docs, 50)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L),
      s"a shared run of k+w-1 tokens must yield a shared fingerprint: $pairs")
    assert(pairs.forall(p => Set(p._1, p._2) == Set(1L, 2L)),
      s"disjoint-vocabulary docs must not pair: $pairs")
    assert(got(1L).intersect(got(2L)).nonEmpty)
  }

  test("winnowing position pack clamps past the position space: no hash-bit corruption") {
    import spark.implicits._
    // The advisor-flagged silent-corruption mode: past posSpace grams the
    // UNclamped position term `posSpace - 1 - i` goes negative and borrows
    // from the hash bits, yielding fp = hash - 1 with no error (real at
    // ~1M tokens under the production 2^20 space). Verified here at a TOY
    // posSpace (the code path is identical; a 2^20-gram fixture is
    // minutes of test time) against a clamped JVM reference.
    val K = 5; val W = 4; val Pos = 8L
    def md5b40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(10), 16)
    }
    def refWinnowClamped(text: String): Set[Long] = {
      val tk = text.split(" ", -1).filter(_.nonEmpty)
      val v = tk.sliding(K).zipWithIndex
        .map { case (g, i) => md5b40(g.mkString(" ")) * Pos + math.max(0L, Pos - 1 - i) }
        .toArray
      (0 to math.max(0, v.length - W)).map(s => v.slice(s, s + W).min / Pos).toSet
    }
    // 30 distinct tokens -> 26 grams, far past Pos = 8: positions 8.. all
    // clamp to rank 0
    val longDoc = (1 to 30).map(i => s"tok$i").mkString(" ")
    // uniform doc: every gram hashes to one h, so the exact set is {h} —
    // the unclamped pack would yield {h, h-1}
    val uniform = ("x " * 30).trim
    val docs = Seq((1L, longDoc), (2L, uniform)).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, Pos)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, fs) => d -> fs.map(_._2).toSet }
    assert(got(1L) === refWinnowClamped(longDoc),
      "clamped pack must match the clamped JVM reference on distinct grams")
    assert(got(2L) === Set(md5b40("x x x x x")),
      s"a uniform doc must fingerprint to exactly its gram hash: ${got(2L)}")
    // production-space sanity: the same docs under the real 2^20 space
    // (no clamping in range) still agree with the unclamped reference
    def refWinnow(text: String, pos: Long): Set[Long] = {
      val tk = text.split(" ", -1).filter(_.nonEmpty)
      val v = tk.sliding(K).zipWithIndex
        .map { case (g, i) => md5b40(g.mkString(" ")) * pos + (pos - 1 - i) }.toArray
      (0 to math.max(0, v.length - W)).map(s => v.slice(s, s + W).min / pos).toSet
    }
    val gotProd = Dedup.winnowFingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, fs) => d -> fs.map(_._2).toSet }
    assert(gotProd(1L) === refWinnow(longDoc, 1L << 20))
  }
}
