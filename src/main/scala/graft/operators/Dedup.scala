package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Deduplication operators over `documents` — the LLM-training-pipeline
  * surface (builder prompt; SURVEY §4.3): exact hash dedup, word-trigram
  * Jaccard set-similarity join, MinHash+LSH candidate generation, and
  * SimHash near-dup detection.
  *
  * Scale strategy (100 TB): the exact-Jaccard pair join is the *verifier*,
  * quadratic in the worst case, so it is only ever run inside a blocking
  * key (here: `source`); MinHash-LSH and SimHash are the scalable candidate
  * generators — linear scans producing signatures, then a shuffle keyed on
  * (band, band_key) whose fan-out is controlled by band size, then exact
  * verification only on candidates. All hashing is Spark's codegen'd
  * xxhash64/md5 — no UDFs.
  */
object Dedup {

  /** Exploded distinct (doc_id, shingle) rows. The token array is bound to
    * a column first so the lambda does three O(1) element lookups instead
    * of re-splitting the text per position; documents with <3 tokens have
    * no trigram (the `sequence` guard mirrors DuckDB's empty
    * `range(1, n-1)` for n<3). Dedup happens map-side via `array_distinct`
    * on the per-document array BEFORE exploding — a row-level `.distinct()`
    * here would be a full shuffle of every (doc, shingle) pair, while the
    * per-doc array dedup is free at any corpus size (a document's shingles
    * are always co-located by construction). */
  private def shingleRows(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")))
        .as("shingle"))

  // --- incremental dedup (new batch vs existing corpus) ---------------------
  /** Shared with the oracle SQL so non-default call sites can't diverge. */
  val IncrementalNewSource: String = "src19"

  /** Bloom sizing for the incremental-dedup front: ~10 bits/item ≈ 1 %
    * false positives at full load (far lower below it). 4 M items / 5 MB
    * of bits — a broadcast-sized sketch, and within Spark's runtime-
    * filter creation caps. */
  private[graft] val BloomItems: Long = 4L * 1000 * 1000
  private[graft] val BloomBits: Long = 10L * BloomItems

  /** The bloom front itself: build a bloom over the (small) batch side's
    * hashes, probe it on the (huge) corpus side BELOW the anti-join's
    * exchange, so only corpus rows that *might* collide with a batch hash
    * are ever shuffled. Attached as a scalar subquery — the exact shape
    * Spark's own InjectRuntimeFilter emits — so the bloom builds once as
    * a subquery stage with no driver round-trip. Correctness is
    * unconditional: a bloom has no false NEGATIVES, so every corpus hash
    * it drops is provably absent from the batch and could never have
    * suppressed a batch row; false positives merely shuffle a few extra
    * corpus rows into the exact anti-join. Empty batch → NULL bloom →
    * probe drops all corpus rows — harmlessly, since the batch side of
    * the anti-join is empty too. */
  private[graft] def bloomFronted(batchHashes: DataFrame, corpus: DataFrame): DataFrame = {
    val bloom = batchHashes.select(
      org.apache.spark.sql.graft.BloomFunctions
        .bloomFilterAgg(xxhash64(col("h")), BloomItems, BloomBits).as("bf"))
    corpus.filter(org.apache.spark.sql.graft.BloomFunctions
      .mightContain(bloom, xxhash64(col("h"))))
  }

  /** The ingest-time dedup every growing corpus runs: dedupe the incoming
    * batch internally (min doc_id per content hash), then anti-join the
    * surviving hashes against the existing corpus — only genuinely new
    * content lands. One shuffle keyed on the content hash, and the corpus
    * side is fronted by [[bloomFronted]]'s batch-hash bloom filter at the
    * scan, so at 100 TB only probable collisions (≈ batch-sized, not
    * corpus-sized) cross the wire into the exact anti-join. */
  def incrementalDedup(spark: SparkSession, dir: String,
                       newSource: String = IncrementalNewSource,
                       bloomFront: Boolean = true): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val batchHashes = docs.filter(col("source") === newSource)
      .select(md5(col("text")).as("h"), col("doc_id"))
    val corpusAll = docs.filter(col("source") =!= newSource)
      .select(md5(col("text")).as("h"))
    val corpusHashes =
      (if (bloomFront) bloomFronted(batchHashes, corpusAll) else corpusAll)
        .distinct()
    val batchKeepers = batchHashes
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))
    batchKeepers.join(corpusHashes, Seq("h"), "left_anti")
      .select(col("doc_id"), col("n_in_batch"))
      .orderBy(col("doc_id"))
  }

  // NOT EXISTS, not NOT IN: a NULL hash in the corpus list would turn
  // every NOT IN comparison UNKNOWN (0 rows), while Spark's left_anti
  // keeps non-matching rows — anti-join semantics must match exactly.
  val incrementalDedupSql: String =
    s"""WITH corpus AS (
       |  SELECT md5(text) AS ch FROM documents WHERE source <> '$IncrementalNewSource'
       |), nh AS (
       |  SELECT md5(text) AS h, min(doc_id) AS doc_id, count(*) AS n_in_batch
       |  FROM documents WHERE source = '$IncrementalNewSource' GROUP BY 1
       |)
       |SELECT doc_id, CAST(n_in_batch AS BIGINT) AS n_in_batch
       |FROM nh
       |WHERE NOT EXISTS (SELECT 1 FROM corpus WHERE ch = nh.h)
       |ORDER BY doc_id""".stripMargin

  // --- streaming incremental dedup (foreachBatch sink) ----------------------
  /** The streaming e2e form of [[incrementalDedup]]: each micro-batch of
    * documents is deduped internally (min doc_id per content hash), its
    * surviving hashes anti-joined against the corpus already on disk, and
    * only genuinely new content appended — so a duplicate arriving in a
    * later micro-batch never lands twice. Mirrors the reference's
    * ingest-then-process loop (process.py:450-473) with the dedup stage a
    * real corpus would run at ingest time.
    *
    * Scale shape: the per-batch work is one shuffle on the content hash
    * (batch-sized, small) plus an anti-join whose corpus side reads ONLY
    * the text column (column pruning reaches the scan); at 100 TB the
    * corpus side becomes a maintained hash index fronted by a bloom
    * filter instead of a re-scan, but the dataflow is the same.
    * Exactly-once: the checkpoint makes batch replay idempotent — a
    * replayed batch's content is already in the corpus, so its rows
    * anti-join away (content-level idempotence, stronger than file-level).
    */
  /** Content key for the sink's dedup. md5(NULL) is NULL, and NULL keys
    * break BOTH directions at once: groupBy would collapse every
    * null-text document of a batch into one survivor (silent data loss),
    * while the anti-join's NULL = NULL comparison is never true, so the
    * corpus side could never suppress them and every replay/batch would
    * re-append (unbounded duplicates). Null-text rows therefore key on
    * their OWN doc_id (prefixed to a disjoint namespace): never deduped
    * against anything, never dropped, and a checkpoint-replayed batch
    * still anti-joins them away (the id-hash is deterministic). */
  private def contentKey: org.apache.spark.sql.Column =
    when(col("text").isNotNull, md5(concat(lit("t:"), col("text"))))
      .otherwise(md5(concat(lit("n:"), col("doc_id").cast("string"))))

  def incrementalDedupSink(docs: DataFrame, corpusDir: String,
                           checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val rowCols = batch.columns.map(col)
        val keepers = batch
          .groupBy(contentKey.as("h"))
          .agg(min_by(struct(rowCols.toSeq: _*), col("doc_id")).as("r"))
          .select(col("h") +: batch.columns.map(c => col(s"r.$c")): _*)
        // first micro-batch: the corpus directory does not exist yet
        val existing =
          try Some(spark.read.parquet(corpusDir).select(contentKey.as("h")))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        // same bloom front as the batch operator: the on-disk corpus only
        // contributes rows that might collide with this micro-batch
        existing.fold(keepers)(ex => keepers.join(
          bloomFronted(keepers.select(col("h")), ex).distinct(),
          Seq("h"), "left_anti"))
          .drop("h")
          .write.mode("append").parquet(corpusDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  // --- benchmark decontamination (cross-source n-gram overlap) --------------
  /** Shared with the oracle SQL so non-default call sites can't diverge. */
  val ContaminationEvalSource: String = "src0"
  val ContaminationMinShared: Int = 5

  /** Decontamination scan: which training documents share suspiciously
    * many trigram shingles with a held-out evaluation set (here one
    * source plays the benchmark). Per (train_doc, eval_doc): the count of
    * shared distinct shingles and its fraction of the train doc's
    * shingles. The join keys on the shingle — the eval side is tiny at
    * real scale (benchmarks are small), so it broadcasts and the train
    * corpus streams through in one scan; the LLM-pipeline op behind
    * "n-gram overlap decontamination" in every training-data report. */
  def contamination(spark: SparkSession, dir: String,
                    evalSource: String = ContaminationEvalSource,
                    minShared: Int = ContaminationMinShared): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evalSh = shingleRows(docs.filter(col("source") === evalSource))
      .select(col("doc_id").as("eval_doc"), col("shingle"))
    // Deliberately NOT materialized: the two consumers (sizes + the
    // overlap join) each re-run the split/explode scan instead. The
    // shingle explosion is a multiple of corpus size, so at 100 TB
    // materializing it (persist OR eager checkpoint) to executor
    // storage/local disk is the scale-killer, while a second pass of a
    // fully codegen'd narrow scan is just another read of the (pruned,
    // two-column) parquet — the cheapest side of that trade by far.
    val trainSh = shingleRows(docs.filter(col("source") =!= evalSource))
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val trainSizes = trainSh.groupBy(col("train_doc"))
      .agg(count(lit(1)).as("n_shingles"))
    val shared = trainSh.join(broadcast(evalSh), Seq("shingle"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared.join(trainSizes, Seq("train_doc"))
      .select(col("train_doc"), col("eval_doc"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double")).as("overlap_frac"))
      .orderBy(col("overlap_frac").desc, col("train_doc"), col("eval_doc"))
  }

  val contaminationSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
       |), sh0 AS (
       |  SELECT doc_id, source, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS shingle
       |  FROM toks, LATERAL unnest(range(1, len(l) - 1)) AS t(i)
       |  WHERE len(l) >= 3
       |), sh AS (
       |  SELECT DISTINCT doc_id, source, shingle FROM sh0
       |), tr AS (
       |  SELECT doc_id AS train_doc, shingle FROM sh WHERE source <> '$ContaminationEvalSource'
       |), ev AS (
       |  SELECT doc_id AS eval_doc, shingle FROM sh WHERE source = '$ContaminationEvalSource'
       |), sizes AS (
       |  SELECT train_doc, count(*) AS n_shingles FROM tr GROUP BY 1
       |), shared AS (
       |  SELECT train_doc, eval_doc, count(*) AS n_shared
       |  FROM tr JOIN ev USING (shingle)
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $ContaminationMinShared
       |)
       |SELECT train_doc, eval_doc,
       |       CAST(n_shared AS BIGINT) AS n_shared,
       |       CAST(n_shingles AS BIGINT) AS n_shingles,
       |       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_frac
       |FROM shared JOIN sizes USING (train_doc)
       |ORDER BY overlap_frac DESC, train_doc, eval_doc""".stripMargin

  // --- exact dedup (hash-groupBy) ------------------------------------------
  /** Exact duplicate groups keyed on md5(text): one shuffle on the hash,
    * keeper = min(doc_id). `dropDuplicates` is the one-liner form; this
    * shape also reports group sizes. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))

  val exactDedupSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keeper_id""".stripMargin

  // --- n-gram Jaccard set-similarity join (exact, blocked) -----------------
  /** Word-trigram Jaccard between all pairs within one blocking key
    * (source='src0'): explode distinct shingles → self-equi-join on the
    * shingle (the inverted-index trick: only pairs sharing ≥1 shingle are
    * ever materialized) → per-pair intersection count → Jaccard from true
    * set sizes. At scale the blocking key bounds the quadratic term;
    * unblocked corpora go through [[minhashLsh]] instead. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.02): DataFrame = {
    val docs  = Tables.documents(spark, dir).filter(col("source") === "src0")
    val sh    = shingleRows(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
  }

  val ngramJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE source = 'src0'
      |), sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(t) - 1),
      |                  i -> array_to_string(t[i:i+2], ' '))) AS shingle
      |    FROM d)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT d1, d2, inter, n1, n2, jaccard FROM (
      |  SELECT p.d1, p.d2, p.inter, s1.n AS n1, s2.n AS n2,
      |         CAST(p.inter AS DOUBLE) / CAST(s1.n + s2.n - p.inter AS DOUBLE) AS jaccard
      |  FROM pairs p
      |  JOIN sizes s1 ON p.d1 = s1.doc_id
      |  JOIN sizes s2 ON p.d2 = s2.doc_id
      |) WHERE jaccard >= 0.02
      |ORDER BY jaccard DESC, d1, d2""".stripMargin

  // --- corpus snapshot diff -------------------------------------------------
  /** Hash-based diff of two corpus snapshots — the primitive every
    * incremental pipeline runs between crawls: per document id, classify
    * added / removed / changed / same by comparing content hashes across
    * a full-outer join, rolled up per source. At 100 TB only (id, md5)
    * pairs cross the exchange — the documents themselves never move,
    * which is the entire point of hashing before diffing. */
  private[graft] def snapshotDiffFrom(oldSnap: DataFrame,
                                      newSnap: DataFrame): DataFrame = {
    val a = oldSnap.select(col("doc_id"), col("source").as("src_old"),
      md5(col("text")).as("h_old"))
    val b = newSnap.select(col("doc_id"), col("source").as("src_new"),
      md5(col("text")).as("h_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_old"), col("src_new")).as("source"),
        when(col("h_new").isNull, "removed")
          .when(col("h_old").isNull, "added")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("same").as("status"))
      .groupBy(col("source"))
      .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "same", 1L).otherwise(0L)).as("n_same"))
      .orderBy(col("source"))
  }

  /** Registered form: the corpus diffed against a deterministic edited
    * view of itself (every 10th document dropped, every 7th survivor's
    * text revision-marked) — the fixture has one snapshot, so the second
    * is derived; the operator itself takes any two. The fixture
    * exercises removed/changed/same; `added` is the symmetric branch of
    * the same full-outer classification. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edited = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    snapshotDiffFrom(docs, edited)
  }

  val snapshotDiffSql: String =
    """WITH oldsnap AS (
      |  SELECT doc_id, source, md5(text) AS h FROM documents
      |), newsnap AS (
      |  SELECT doc_id, source,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 10 <> 0
      |), d AS (
      |  SELECT COALESCE(o.source, n.source) AS source,
      |         CASE WHEN n.h IS NULL THEN 'removed'
      |              WHEN o.h IS NULL THEN 'added'
      |              WHEN o.h <> n.h THEN 'changed'
      |              ELSE 'same' END AS status
      |  FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
      |)
      |SELECT source,
      |       CAST(sum(CASE WHEN status = 'added'   THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |       CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |       CAST(sum(CASE WHEN status = 'same'    THEN 1 ELSE 0 END) AS BIGINT) AS n_same
      |FROM d GROUP BY 1
      |ORDER BY source""".stripMargin

  // --- asymmetric shingle containment (doc-inside-doc) ----------------------
  /** Directed containment C(A,B) = |shingles(A) ∩ shingles(B)| / |A|: the
    * inclusion detector Jaccard structurally misses — a short document
    * quoted whole inside a much larger one scores near-zero Jaccard (the
    * union is dominated by B) but containment ≈ 1. The corpus-curation
    * use is quote/concatenation detection: drop or attribute the
    * contained copy, keep the container. Both directions of every
    * intersecting pair are scored from ONE undirected pair join (the
    * ngramJaccard inverted-index shape — same blocking applies at scale:
    * candidates via minhash of the SMALLER side's shingles, since
    * one-sided normalization keeps LSH-able form). (containment DESC,
    * contained, container) is a total order on directed pairs. */
  /** Shared with the oracle SQL so non-default call sites can't diverge. */
  val ContainmentThreshold: Double = 0.03

  def containment(spark: SparkSession, dir: String,
                  threshold: Double = ContainmentThreshold): DataFrame = {
    val docs  = Tables.documents(spark, dir).filter(col("source") === "src0")
    val sh    = shingleRows(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val joined = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
    val ab = joined.select(col("d1").as("contained"), col("d2").as("container"),
      col("inter"), col("n1").as("n_contained"),
      (col("inter").cast("double") / col("n1").cast("double")).as("containment"))
    val ba = joined.select(col("d2").as("contained"), col("d1").as("container"),
      col("inter"), col("n2").as("n_contained"),
      (col("inter").cast("double") / col("n2").cast("double")).as("containment"))
    ab.unionByName(ba)
      .filter(col("containment") >= threshold)
      .orderBy(col("containment").desc, col("contained"), col("container"))
  }

  val containmentSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE source = 'src0'
      |), sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(t) - 1),
      |                  i -> array_to_string(t[i:i+2], ' '))) AS shingle
      |    FROM d)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), joined AS (
      |  SELECT p.d1, p.d2, p.inter, s1.n AS n1, s2.n AS n2
      |  FROM pairs p
      |  JOIN sizes s1 ON p.d1 = s1.doc_id
      |  JOIN sizes s2 ON p.d2 = s2.doc_id
      |), directed AS (
      |  SELECT d1 AS contained, d2 AS container, inter, n1 AS n_contained,
      |         CAST(inter AS DOUBLE) / CAST(n1 AS DOUBLE) AS containment
      |  FROM joined
      |  UNION ALL
      |  SELECT d2, d1, inter, n2, CAST(inter AS DOUBLE) / CAST(n2 AS DOUBLE)
      |  FROM joined
      |)
      |SELECT contained, container, inter, n_contained, containment
      |FROM directed WHERE containment >= $ContainmentThreshold
      |ORDER BY containment DESC, contained, container""".stripMargin

  // --- MinHash + LSH (scalable near-dup candidates; rows-only check) -------
  /** 60 minhashes per document, banded 15×4: documents agreeing on all
    * four hashes of any band land in the same LSH bucket and become a
    * candidate pair; candidates are then verified with the exact Jaccard
    * on the shingle arrays. Everything before the candidate join is a
    * linear scan; the join is keyed on (band, band_key) so the shuffle
    * fan-out is bounded by bucket sizes.
    *
    * Tuning matters at scale: 4-row bands make a random low-similarity
    * pair's per-band collision probability j^4 (negligible below j≈0.5)
    * while j≥0.9 near-dups still collide with probability ≈1 (miss prob
    * across 15 bands ≤ (1-0.9⁴)¹⁵ ≈ 1e-7) — with 2-row bands this corpus
    * produced a quadratic candidate explosion (measured 170 s vs 2 s at
    * sf0.1). Oversized buckets (degenerate keys, e.g. boilerplate-heavy
    * shingle sets) are dropped entirely — the standard LSH skew defense;
    * their members are still reachable through their other 14 bands.
    *
    * Since r7 the whole pipeline is engine-INDEPENDENT (full DuckDB
    * hash-match oracle, not rows-only): the two 60-bit base hashes are
    * the two halves of one md5, and the slot family is derived from them
    * with 60-bit rotations + XOR — positive-long arithmetic that both
    * engines compute identically. */
  def minhashLsh(spark: SparkSession, dir: String,
                 maxBucket: Int = 50): DataFrame =
    minhashLshFrom(Tables.documents(spark, dir), maxBucket)

  /** Corpus-parameterized body (the embNearDupFrom pattern) so the skew
    * spec can feed a degenerate boilerplate corpus through the REAL
    * pipeline. */
  private[graft] def minhashLshFrom(docs: DataFrame, maxBucket: Int = 50,
                                    checkpoint: Boolean = true,
                                    topK: Int = 1000): DataFrame = {
    // Exploded distinct (doc_id, shingle) rows — every stage below is a
    // plain projection/aggregation over this, so the whole pipeline stays
    // inside whole-stage codegen (an earlier array-lambda formulation ran
    // interpreted and was ~100x slower at sf0.1). MATERIALIZED once
    // (eager localCheckpoint, r19): the DAG references it from the
    // signature build and both verification joins, and at any scale the
    // shingle table is the artifact you materialize once per corpus.
    // This was persist() through r18 — measured this round, a CACHED
    // subtree under AQE re-plans per consumer and spawned five 32-task
    // zero-work stage jobs (~1.5 s of the query's 2.1 s at sf0.1);
    // checkpointing truncates the plan at the materialization point, so
    // consumers read a LogicalRDD and those jobs disappear
    // (dedup_minhash_lsh 2.13→1.31 s, split_leakage 2.32→1.22 s).
    // Widened by doc_id before the explode (guide §2.5: on the
    // single-file fixture the scan is ONE partition, serializing the
    // tokenize+md5 front on one core); the signature groupBy(doc_id)
    // reuses the keyed exchange, so the shuffle count is unchanged.
    val sh = shingleRows(graft.Tables.widenedBy(docs, col("doc_id"))).localCheckpoint(true)
    // 60 minhash slots from TWO 60-bit base hashes per shingle — the two
    // halves of ONE md5 (hex digits 1-15 and 17-31), so one string hash
    // yields both. Slot i's hash = rot60(h1, 7i mod 60) XOR
    // rot60(h2, 13i mod 60) — a double-hashing-style derived family in
    // the spirit of Kirsch-Mitzenmacher, built from rotations and XOR
    // because ANSI mode (Spark 4 default) makes wraparound multiply/add
    // throw on overflow; 7 and 13 are coprime to 60, so the rotation
    // pair is distinct for every slot. Caveat: any XOR-of-rotations
    // family is linear in (h1, h2), so pairwise slot independence is
    // weaker than the h1 + i*h2 original — and the mandatory
    // exact-Jaccard verification stage below means weaker independence
    // can only cost recall on adversarial corpora, never precision (the
    // spec pins recall: every true j≥0.9 pair is found on the fixture).
    // The aggs are then 60 codegen'd min() over trivial bit ops instead
    // of 60 full seeded string hashes per row — string hashing dominated
    // the signature stage. Set size rides along in the same aggregation.
    // All arithmetic stays inside positive 60-bit longs, which is what
    // makes the DuckDB twin bit-identical.
    import graft.functions.EngineHash.{md5Bits60, rot60}
    val minhashes = (0 until 60).map(s =>
      min(rot60(col("h1"), (7 * s) % 60).bitwiseXOR(rot60(col("h2"), (13 * s) % 60)))
        .as(s"m$s")) :+
      count(lit(1)).as("set_n")
    val sigCached = sh
      .withColumn("h1", md5Bits60(col("shingle"), 1))
      .withColumn("h2", md5Bits60(col("shingle"), 17))
      .groupBy(col("doc_id")).agg(minhashes.head, minhashes.tail: _*)
      .localCheckpoint(true)
    // 15 bands × 4 rows. Band key = the four slots joined as a string (NOT
    // a hash of them — the oracle twin must build the exact same buckets,
    // and positive longs render identically in both engines).
    val bandStructs = (0 until 15).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until 4).map(r => col(s"m${b * 4 + r}").cast("string")): _*)
          .as("band_key"))
    }
    val bands = sigCached.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    // Bucket-size cap via aggregate + semi-join rather than a window
    // count: the cap exists to defend against DEGENERATE buckets, and a
    // window partition cannot be split — a million-row boilerplate bucket
    // would serialize through one window task before the filter discards
    // it. The groupBy shape partial-aggregates map-side (a hot key
    // reduces to one count per input partition before the shuffle) and
    // the join is AQE-skew-splittable, so the pathological input the cap
    // is designed for stays parallel.
    val smallBuckets = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_key"))
    val pruned = bands.join(smallBuckets, Seq("band", "band_key"))
    val cand = pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // Exact verification on candidates only: shared-shingle counts via two
    // equi-joins (the same inverted-index shape as ngramJaccard); set
    // sizes come from the cached signature table, not another scan.
    // Candidate-id semi-join pruning of sh was TRIED here and measured
    // SLOWER at sf1 (45 s vs 31 s): `cand` is lazy, so deriving candIds
    // re-runs the band self-join, and the unbroadcast semi adds a third
    // corpus-sized shuffle. The production-scale equivalent is
    // materializing `cand` first — which is exactly what a 100 TB run
    // does by writing candidates out before verification.
    val sizes = sigCached.select(col("doc_id"), col("set_n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    val result = inter
      .join(sizes.select(col("doc_id").as("d1"), col("set_n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("set_n").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
      .limit(topK)
    // Materialize the (≤1000-row) result eagerly, then RELEASE both
    // materialized inputs before returning. A long-lived session (bench
    // loop, serving JVM) calling this per-corpus would otherwise pin a
    // shingle explosion + signature table in executor storage per
    // invocation (the r3 review's storage leak). With localCheckpoint
    // the blocks belong to the checkpointed RDD, not the CacheManager,
    // so the release goes through
    // [[releaseLocalCheckpoint]]; it is only safe AFTER the last
    // consumer materialized — which `out`'s eager checkpoint is.
    if (!checkpoint) {
      // spec-only: the LIVE (from the materialization points down) plan,
      // for shape audits. No release here: the returned frame still
      // READS the checkpoint blocks (lineage is truncated, so unlike the
      // old persist they cannot be recomputed); the frames are spec-tiny
      // and the ContextCleaner frees them when the RDDs drop out of
      // scope.
      result
    } else {
      val out = result.localCheckpoint(true)
      releaseLocalCheckpoint(sh)
      releaseLocalCheckpoint(sigCached)
      out
    }
  }

  /** Free the executor blocks behind an eagerly local-checkpointed frame.
    * `Dataset.unpersist` is a no-op there (the blocks belong to the
    * checkpointed RDD, not the CacheManager), so a long-lived session
    * would otherwise hold each invocation's materialization until the
    * ContextCleaner's next GC-driven sweep. Only safe once every
    * consumer has materialized: the truncated lineage cannot recompute
    * the blocks. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** DuckDB recomputes the identical signatures (same md5-halves base
    * hashes, same rotation-XOR slot family via the same positive-long
    * shift arithmetic), the same 15×4 banding with the same string band
    * keys, the same ≤50 bucket cap, and the same exact-Jaccard verify —
    * a full hash-match twin. (jaccard DESC, d1, d2) is a total order on
    * distinct pairs, so the LIMIT is deterministic if it ever binds. */
  val minhashLshSql: String =
    """WITH dd AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(t) - 1),
      |                  i -> array_to_string(t[i:i+2], ' '))) AS shingle
      |    FROM dd)
      |), hh AS (
      |  SELECT doc_id,
      |         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) AS h2
      |  FROM sh
      |), sig AS (
      |  SELECT doc_id, s,
      |         min(xor(
      |           CASE WHEN (7 * s) % 60 = 0 THEN h1
      |                ELSE ((h1 & ((CAST(1 AS BIGINT) << CAST(60 - (7 * s) % 60 AS INT)) - 1))
      |                        << CAST((7 * s) % 60 AS INT))
      |                     + (h1 >> CAST(60 - (7 * s) % 60 AS INT)) END,
      |           CASE WHEN (13 * s) % 60 = 0 THEN h2
      |                ELSE ((h2 & ((CAST(1 AS BIGINT) << CAST(60 - (13 * s) % 60 AS INT)) - 1))
      |                        << CAST((13 * s) % 60 AS INT))
      |                     + (h2 >> CAST(60 - (13 * s) % 60 AS INT)) END)) AS m
      |  FROM hh, LATERAL unnest(range(60)) AS t(s)
      |  GROUP BY doc_id, s
      |), sizes AS (
      |  SELECT doc_id, count(*) AS set_n FROM sh GROUP BY doc_id
      |), bkeys AS (
      |  SELECT doc_id, s // 4 AS band,
      |         string_agg(CAST(m AS VARCHAR), ':' ORDER BY s) AS band_key
      |  FROM sig GROUP BY doc_id, s // 4
      |), small AS (
      |  SELECT band, band_key FROM bkeys
      |  GROUP BY band, band_key HAVING count(*) <= 50
      |), pruned AS (
      |  SELECT b.doc_id, b.band, b.band_key FROM bkeys b JOIN small USING (band, band_key)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM pruned a JOIN pruned b USING (band, band_key)
      |  WHERE a.doc_id < b.doc_id
      |), ix AS (
      |  SELECT c.d1, c.d2, count(*) AS i
      |  FROM cand c
      |  JOIN sh s1 ON s1.doc_id = c.d1
      |  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY c.d1, c.d2
      |)
      |SELECT d1, d2,
      |       CAST(i AS DOUBLE) / CAST(z1.set_n + z2.set_n - i AS DOUBLE) AS jaccard
      |FROM ix
      |JOIN sizes z1 ON z1.doc_id = d1
      |JOIN sizes z2 ON z2.doc_id = d2
      |ORDER BY jaccard DESC, d1, d2
      |LIMIT 1000""".stripMargin

  // --- sub-document (chunk-level) fingerprints ------------------------------
  /** Exploded (doc_id, chunk) rows: every non-overlapping 10-token span.
    * ONE definition shared by [[chunkDedup]] and [[boilerplateRatio]] (and
    * mirrored by [[ChunkRowsSqlCte]] on the oracle side) — the two
    * operators' outputs are contractually tied to the same chunk grammar,
    * so the construction must not be able to drift between them. */
  private def chunkRows(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) div 10 - 1), i -> concat_ws(' ', slice(toks, i*10+1, 10)))"))
        .as("chunk"))

  /** The oracle twin of [[chunkRows]]: CTEs `dd`/`ch` yielding
    * (doc_id, chunk) over the `documents` fixture table. */
  private val ChunkRowsSqlCte: String =
    """WITH dd AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 10
      |), ch AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, len(t) // 10),
      |                i -> array_to_string(t[i*10+1 : i*10+10], ' '))) AS chunk
      |  FROM dd
      |)""".stripMargin

  // --- chunk-level exact dedup ----------------------------------------------
  /** 10-token chunk fingerprints: chunks appearing in more than one
    * document are reported with their occurrence/document counts — the
    * paragraph-level exact dedup an LLM pipeline runs to strip boilerplate
    * that document-level hashing misses. One explode + one hash
    * aggregation; linear at any corpus size. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupFrom(Tables.documents(spark, dir))

  private[graft] def chunkDedupFrom(docs: DataFrame): DataFrame =
    chunkRows(docs)
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("keeper_id"), col("chunk_md5"))

  val chunkDedupSql: String =
    ChunkRowsSqlCte +
      """
        |SELECT md5(chunk) AS chunk_md5, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper_id
        |FROM ch
        |GROUP BY md5(chunk)
        |HAVING count(DISTINCT doc_id) > 1
        |ORDER BY keeper_id, chunk_md5""".stripMargin

  // --- per-document boilerplate fraction ------------------------------------
  /** The quality signal built on [[chunkDedup]]'s fingerprints: for each
    * document, the fraction of its 10-token chunks that also appear in
    * some OTHER document — high values mark boilerplate-heavy pages
    * (navigation, license headers, templated text) that document-level
    * dedup keeps but a corpus-cleaning pass down-weights or drops.
    *
    * The chunk frame feeds both the shared-hash aggregation and the
    * verdict join, and is deliberately NOT materialized (the
    * contamination trade, documented there): the explosion is
    * corpus-sized, so persisting it to executor storage at 100 TB costs
    * more than a second pass of a fully codegen'd narrow scan. */
  def boilerplateRatio(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunkRows(Tables.documents(spark, dir))
      .select(col("doc_id"), md5(col("chunk")).as("h"))
    val shared = ch.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    ch.join(shared.withColumn("dup", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .as("boilerplate_frac"))
      .orderBy(col("doc_id"))
  }

  val boilerplateRatioSql: String =
    ChunkRowsSqlCte +
      """, hh AS (
        |  SELECT doc_id, md5(chunk) AS h FROM ch
        |), shared AS (
        |  SELECT h FROM hh GROUP BY h HAVING count(DISTINCT doc_id) > 1
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |       CAST(sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_chunks,
        |       CAST(sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS boilerplate_frac
        |FROM hh LEFT JOIN shared ON hh.h = shared.h
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin

  // --- near-dup clustering: connected components over rare-shingle edges ----
  /** Duplicate GROUPS, not just pairs: exact copies collapse to one
    * content representative (min doc_id per md5(text)), representatives
    * sharing a rare trigram (one appearing in 2-3 REPRESENTATIVES — the
    * classic rare-token blocking key) are edges of a similarity graph,
    * and every document is labeled with its component's minimum doc_id
    * (exact-copy membership rides the content key; singletons label
    * themselves, so the output is a full corpus manifest).
    *
    * The exact-collapse front is load-bearing at scale, not a
    * convenience (found by the r11 sf1 duplication soak): "rare" is an
    * ABSOLUTE document-frequency band, so on a duplication-heavy corpus
    * — the very corpus dedup exists for — raw-doc frequencies are all
    * inflated by the copy multiplicity and NO shingle stays rare: the
    * graph silently vanishes and recall collapses to zero. Counting
    * frequencies over DISTINCT CONTENTS makes the blocking invariant to
    * exact-dup multiplicity (real pipelines run exact dedup before
    * near-dup clustering for the same reason), and shrinks the shingle
    * explosion to distinct-content size as a bonus.
    *
    * Components come from [[components]]: a min-root union-find inside
    * the task(s) holding the edge table. At bench and fixture scale the
    * edge table is one partition, so one task labels every node with its
    * component minimum and no iterative job runs at all; past ~200k
    * edges each partition contracts its edges locally and a
    * pointer-jumping loop joins the partial components. Lineage
    * truncation is injected via [[Truncate]] — `localCheckpoint`
    * single-JVM, reliable `checkpoint` on a cluster (or whenever
    * `GRAFT_CC_CHECKPOINT_DIR` is set, which is how the one-shot query
    * forms reach the reliable path; TruncateSpec pins both paths to
    * identical components), and every frame this query materializes goes
    * through it. The DuckDB oracle states the same fixpoint as a
    * recursive CTE — same components, declarative formulation. */
  def dedupGroups(spark: SparkSession, dir: String, maxIters: Int = 50,
                  truncate: Option[Truncate] = None): DataFrame = {
    val ck = Truncate.resolve(truncate)
    // exact-duplicate collapse: one representative per distinct content
    // (md5 key; min doc_id — min(text) is exact because every member of a
    // key carries the identical text)
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ckey"), col("text"))
    // materialized ONCE (same truncation strategy as the edge table):
    // both the shingle front here and the expansion join at the end
    // read reps, and without the checkpoint each consumer would re-run
    // the corpus scan AND the distinct-content groupBy shuffle. keyed
    // itself is deliberately NOT materialized — its second evaluation is
    // a narrow codegen'd scan (the boilerplateRatio trade).
    // Widened on the content key, so the widening exchange IS the
    // groupBy's exchange: the aggregation, the shingle explode and the
    // map-side shingle count below run at scan width instead of in the
    // one task AQE coalesces a ~1 MB shuffle into (on one unsplittable
    // fixture file that one task was most of the query's time).
    val reps = ck.mark(Tables.widenedBy(keyed, col("ckey")).groupBy(col("ckey"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text")))
    // Rare-shingle blocking in one aggregation: a shingle held by 2-3
    // representatives links them. Linking each holder to the smallest
    // (lo–hi, plus lo–mid for three, mid = sum − lo − hi) gives exactly
    // the components the all-pairs clique would, from fixed-width
    // aggregate buffers with a map-side combine: no window sort, no
    // self-join, no second table to materialize. No edge dedup: a pair
    // sharing k rare shingles appears up to k times, and union-find is
    // idempotent under duplicate edges.
    val edges = shingleRows(reps).groupBy(col("shingle"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"), sum(col("doc_id")).as("sum"))
      .filter(col("nd").between(2, 3))
      .select(col("lo").as("src"), explode(
        when(col("nd") === 3, array(col("hi"), col("sum") - col("lo") - col("hi")))
          .otherwise(array(col("hi")))).as("dst"))
    val labels = components(edges, ck, maxIters)
    // expand representative labels back to every document through the
    // content key (one corpus-sized equi-join on ckey; reps/labels are
    // distinct-content sized). Unlabeled reps (no rare shingle) label
    // their content group by the representative id — exact-dup groups
    // cluster even when shingle blocking finds them nothing.
    keyed.select(col("doc_id"), col("ckey"))
      .join(reps.select(col("ckey"), col("doc_id").as("rep_id")), Seq("ckey"))
      .join(labels.select(col("doc_id").as("rep_id"), col("lab")), Seq("rep_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("rep_id")).as("component"))
      .orderBy(col("component"), col("doc_id"))
  }

  /** Connected components of the undirected graph `edges(src, dst)`
    * (bigint node ids): one `(doc_id, lab)` row per node that has an
    * edge, `lab` = the smallest node id of its component. Duplicate
    * edges and either orientation are fine.
    *
    * The edge table is materialized once through `ck`; its row count
    * sizes the work at ~100k edges per partition, capped at the default
    * parallelism. Each partition then runs [[minRoots]], a min-root
    * union-find over its edges, in one task.
    *   - `nParts == 1` (under 200k edges — every fixture and bench
    *     scale; sf0.1 has 824): the one partition saw the whole graph,
    *     so its roots ARE the component minima. No further job runs.
    *   - `nParts > 1`: each partition's roots are only local. The
    *     `(node, local root)` pairs are a contracted graph with the same
    *     components (local-then-global contraction, Kiveris et al. 2014),
    *     and min-label propagation with pointer jumping finishes the job:
    *     each round joins the labels across the symmetric pair set, keeps
    *     the per-node minimum and follows label-of-label, converging in
    *     O(log diameter) rounds of the CONTRACTED graph. Every round is
    *     truncated through `ck`: an iterative dataflow that does not
    *     truncate nests all earlier rounds in round N's plan (measured:
    *     minutes of analysis at round ~7). Unconverged after `maxIters`
    *     rounds is an error, never a silently split component.
    *
    * The typed `mapPartitions` is a deliberate exception to this
    * module's no-UDF rule: the closure runs once per PARTITION over
    * primitive longs, not once per row through the expression engine,
    * and it spares the ~35 single-task jobs an iterative SQL loop spends
    * on a graph this small — cost that is pure job-scheduling latency.
    *
    * `parts` overrides the sized partition count (specs force the
    * multi-partition path on small graphs with it). On return every
    * frame read from `edges` is materialized. */
  private[graft] def components(edges: DataFrame, ck: Truncate, maxIters: Int,
                                parts: Option[Int] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // mark (lazy) + count: the count IS the materializing action, so the
    // checkpoint costs no extra job
    val edgesCk = ck.mark(edges.select(col("src"), col("dst")))
    val sized = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (edgesCk.count() / 100000L).toInt))
    val nParts = parts.getOrElse(sized)
    val spread =
      if (nParts == 1) edgesCk.coalesce(1) else edgesCk.repartition(nParts, col("src"))
    val roots = spread.as[(Long, Long)].mapPartitions(minRoots).toDF("doc_id", "lab")
    if (nParts == 1) roots else propagate(roots, ck, nParts, maxIters)
  }

  /** Global step of [[components]] for `nParts > 1`: min-label
    * propagation with pointer jumping over the per-partition
    * `(doc_id, lab)` pairs, to the component minimum. */
  private def propagate(roots: DataFrame, ck: Truncate, nParts: Int,
                        maxIters: Int): DataFrame = {
    // labels stays EAGER and materializes the marked pairs; sym reads
    // those blocks and is materialized by the first round's count
    val pairs = ck.mark(roots)
    var labels = ck(pairs.groupBy(col("doc_id")).agg(min(col("lab")).as("lab"))
      .repartition(nParts, col("doc_id")))
    // Symmetric node–root pairs partitioned on dst — the key every loop
    // join probes — so the per-round join never re-shuffles them.
    val star = pairs.filter(col("doc_id") =!= col("lab"))
      .select(col("doc_id").as("src"), col("lab").as("dst"))
    val sym = star.union(star.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(nParts, col("dst")).transform(ck.mark(_))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // The node's own row carries its pre-round label in `prev` (exactly
      // one self row per doc, so max() just restores it through the
      // aggregation); neighbor rows carry null. The convergence check then
      // reads `lab != prev` off the checkpointed result — no extra join
      // job per round for the changed-count.
      val viaNeighbors = sym.join(labels, sym("dst") === labels("doc_id"))
        .select(sym("src").as("doc_id"), col("lab"), lit(null).cast("long").as("prev"))
      val prelim = labels.select(col("doc_id"), col("lab"), col("lab").as("prev"))
        .union(viaNeighbors)
        .groupBy(col("doc_id")).agg(min(col("lab")).as("lab"), max(col("prev")).as("prev"))
      // Pointer jumping: follow the label's OWN label (labels are always
      // node ids, so `lab` resolves in the same table). Neighbor-min alone
      // converges in O(diameter) rounds; chasing label-of-label each round
      // squares the propagation distance — O(log diameter) rounds, the
      // GraphX-style shortcut. Both steps only ever replace a label with a
      // smaller one reachable in the same component, so the fixpoint is
      // unchanged: the component minimum.
      // (the lookup side is keyed on the unique doc_id, so this join is
      // N:1 — one output row per node, no re-aggregation needed)
      val next = prelim.as("p")
        .join(prelim.select(col("doc_id").as("lab"), col("lab").as("lab2")).as("q"),
          Seq("lab"), "left")
        .select(col("doc_id"), coalesce(col("lab2"), col("lab")).as("lab"), col("prev"))
        .transform(ck.mark(_))
      // the convergence count doubles as the checkpoint's materializing
      // action — one job per round, not two
      val changed = next.filter(col("lab") =!= col("prev")).count()
      labels = next.select(col("doc_id"), col("lab"))
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge within $maxIters rounds — graph diameter exceeds the cap; raise maxIters")
    labels
  }

  /** Min-root union-find over one partition's edges: every endpoint seen,
    * paired with the smallest node id connected to it through these
    * edges. Linking the larger root under the smaller keeps every root
    * its set's minimum; path halving keeps finds near-constant. Output is
    * sorted by node, so a partition's result is deterministic. */
  private def minRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        val g = parent(parent(x))
        parent(x) = g
        x = g
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val nodes = parent.keys.toArray
    java.util.Arrays.sort(nodes)
    nodes.iterator.map(n => (n, find(n)))
  }

  // --- canonical-document selection per duplicate cluster --------------------
  /** Keep-best: collapse each near-dup cluster (the [[dedupGroups]]
    * connected components) to ONE canonical document — the longest member,
    * ties to the smallest doc_id — and report what was dropped. This is
    * the step that actually shrinks the corpus after cluster discovery:
    * quality-aware (longest survives, not whichever arrived first), and a
    * single arg-max aggregation over the cluster labels, so it adds one
    * shuffle on the component id to whatever the clustering cost.
    * Documents outside every cluster are their own component (coalesce to
    * the doc's own id), so the output is a full corpus manifest. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupKeepBestFrom(Tables.documents(spark, dir), dedupGroups(spark, dir))

  /** Compositional form: keep-best over PRECOMPUTED cluster labels
    * (doc_id, component). At 100 TB the component table is materialized
    * once per clustering run and consumed by many passes — re-clustering
    * inside every consumer (as the one-shot query form must, to stay a
    * pure function of the fixture dir) would be the scale mistake. */
  def dedupKeepBestFrom(docs: DataFrame, components: DataFrame): DataFrame =
    docs
      .join(components, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .groupBy(col("component"))
      .agg(
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("keeper_id"),
        count(lit(1)).as("n_members"),
        max(col("n_chars")).as("kept_chars"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("component"))

  /** Same fixpoint as [[dedupGroupsSql]]'s recursive CTE, then the arg-max
    * via an ordered-first aggregate. */
  val dedupKeepBestSql: String =
    CcCtePrefix +
      """
        |SELECT e.component,
        |       first(e.doc_id ORDER BY k.n_chars DESC, e.doc_id) AS keeper_id,
        |       count(*) AS n_members,
        |       max(k.n_chars) AS kept_chars,
        |       CAST(sum(k.n_chars) AS BIGINT) AS total_chars
        |FROM expanded e JOIN keyed k ON k.doc_id = e.doc_id
        |GROUP BY e.component
        |ORDER BY component""".stripMargin

  /** Shared CTE prefix: exact-collapse to content representatives, then
    * the rare-shingle fixpoint over representatives — the same dataflow
    * [[dedupGroups]] executes, stated declaratively. */
  // lazy: referenced by dedupKeepBestSql, which is declared ABOVE this
  // definition — a plain val would still be null there at init time
  private lazy val CcCtePrefix: String =
    """WITH RECURSIVE keyed AS (
      |  SELECT doc_id, md5(text) AS ckey, text, n_chars FROM documents
      |), reps AS (
      |  SELECT ckey, min(doc_id) AS doc_id, min(text) AS text
      |  FROM keyed GROUP BY ckey
      |), dd AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM reps
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(t) - 1),
      |                  i -> array_to_string(t[i:i+2], ' '))) AS shingle
      |    FROM dd)
      |), rare AS (
      |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 3
      |), edges AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM sh a JOIN rare USING (shingle) JOIN sh b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |), sym AS (
      |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
      |), reach(n, m) AS (
      |  SELECT src, src FROM sym
      |  UNION
      |  SELECT r.n, s.dst FROM reach r JOIN sym s ON s.src = r.m
      |), labels AS (
      |  SELECT n AS rep_id, min(m) AS component FROM reach GROUP BY n
      |), expanded AS (
      |  SELECT k.doc_id, COALESCE(l.component, r.doc_id) AS component
      |  FROM keyed k JOIN reps r USING (ckey)
      |  LEFT JOIN labels l ON l.rep_id = r.doc_id
      |)""".stripMargin

  val dedupGroupsSql: String =
    CcCtePrefix +
      """
        |SELECT doc_id, component
        |FROM expanded
        |ORDER BY component, doc_id""".stripMargin

  // --- SimHash (full DuckDB oracle since r7) -------------------------------
  /** 60-bit SimHash per document: each token votes ±1 on every bit of its
    * hash; the fingerprint takes the sign. Candidate pairs come from the
    * 4×15-bit band trick (any identical 15-bit chunk → candidate), then
    * exact popcount verification keeps pairs within Hamming distance ≤ 8.
    * Completeness caveat (pigeonhole): ≤3 differing bits CANNOT touch all
    * four chunks, so recall is total through distance 3; a distance-4..8
    * pair is found iff its differing bits leave some chunk intact (a pair
    * with exactly one flipped bit in every chunk is missed). More bands
    * buy a higher guaranteed radius at more shuffle fan-out — the
    * standard simhash trade; the DuckDB twin shares the identical
    * candidate set, so the oracle checks the implementation, not a
    * different radius.
    *
    * The token hash is the top 15 hex digits of md5 parsed as a long —
    * engine-INDEPENDENT (md5 is byte-identical everywhere), which is what
    * lets the DuckDB twin recompute the entire fingerprint bit-for-bit and
    * hash-match (d1, d2, hamming); the prior xxhash64 form was rows-only
    * checkable. 60 bits instead of 64 keeps the parse inside a signed long
    * in both engines.
    *
    * The per-bit vote is accumulated as a plain ones-count (shift-mask-sum,
    * no conditional): ±1 sum > 0 ⟺ 2·ones > n, so the fingerprint is
    * decided against the token count from the same aggregation — half the
    * generated code per bit vs the when/otherwise form. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // widenedBy(doc_id) (guide §2.5): per-token md5 at scan width; the
    // signature groupBy(doc_id) reuses the keyed exchange. No-op at
    // production scan widths.
    val toks = graft.Tables.widenedBy(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", graft.functions.EngineHash.md5Bits60(col("tok")))
    // Lane-packed bit counting: aggregate k (k = 0..14) accumulates the
    // counters of bits {k, k+15, k+30, k+45} in four 16-bit lanes of one
    // long — 15 sum() aggregates instead of 60. Lanes can't carry into
    // each other while every document stays under 2^15 tokens (fixture
    // max ~120; a real corpus would chunk first — dedup_chunk — long
    // before a single doc hits 32k tokens). Same simhash bits, ~4x less
    // aggregation state per group.
    val laneSums = (0 until 15).map { k =>
      val packed = (0 until 4).map { j =>
        shiftleft(shiftright(col("h"), k + 15 * j).bitwiseAND(lit(1L)), 16 * j)
      }.reduce(_ + _)
      sum(packed).as(s"k$k")
    } :+ count(lit(1)).as("n_toks")
    val sig = toks.groupBy(col("doc_id"))
      .agg(laneSums.head, laneSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map { b =>
          val cnt = shiftright(col(s"k${b % 15}"), 16 * (b / 15)).bitwiseAND(lit(65535L))
          when(cnt * 2 > col("n_toks"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
    val chunks = sig.select(col("doc_id"), col("simhash"), explode(expr(
      "transform(sequence(0, 3), c -> named_struct('chunk', c, 'ck', (simhash >> (c * 15)) & 32767))"))
      .as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk").as("chunk"), col("cc.ck").as("ck"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // hamming filter BEFORE the dedup shuffle: a pair found via k of the
      // 4 chunks appears k times, but only near-dup pairs survive to the
      // distinct — the far-pair majority of the candidate set never
      // shuffles
      .filter(col("hamming") <= 8)
      .distinct()
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(1000)
  }

  /** DuckDB recomputes the identical 60-bit md5-derived simhash (same
    * votes, same banding, same hamming verify) — a full hash-match twin,
    * not an assertion-style bound. The (hamming, d1, d2) sort is a total
    * order on distinct pairs, so the LIMIT is deterministic in both
    * engines even when it binds. */
  val simhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), th AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
      |), votes AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
      |         count(*) AS n
      |  FROM th, LATERAL unnest(range(60)) AS t(b)
      |  GROUP BY doc_id, b
      |), sig AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN 2 * ones > n THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
      |                  ELSE 0 END) AS simhash
      |  FROM votes GROUP BY doc_id
      |), chunks AS (
      |  SELECT doc_id, simhash, c, (simhash >> CAST(c * 15 AS INT)) & 32767 AS ck
      |  FROM sig, LATERAL unnest(range(4)) AS t(c)
      |), pairs AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
      |)
      |SELECT d1, d2, hamming FROM pairs
      |ORDER BY hamming, d1, d2
      |LIMIT 1000""".stripMargin

  // --- cross-document duplicated SPANS (alignment-robust) -------------------
  /** Window length (tokens) for substring-level dedup. Runs of duplicated
    * text SHORTER than this are invisible by construction — the documented
    * detection floor, the standard trade of the sliding-window
    * approximation to suffix-array substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"). */
  private val SpanK = 10

  /** The ONE rotation schedule for substring-window fingerprints —
    * position j rotates by 7j mod 60 (7 coprime to 60: every position
    * distinct, so the combination is order-sensitive). Shared by the
    * Spark Column chain in [[slidingWindowRows]] and the oracle chain
    * below; the rotation arithmetic itself is
    * [[graft.functions.EngineHash.rot60]]/`rot60Sql`, the single copy
    * all three derived-hash families use. */
  private val SpanRotSchedule: Seq[Int] =
    (0 until SpanK).map(j => (7 * j) % 60)

  private def windowHashChainSql(h: Int => String): String =
    SpanRotSchedule.zipWithIndex
      .map { case (r, j) => graft.functions.EngineHash.rot60Sql(h(j), r) }
      .reduce((a, b) => s"xor($a, $b)")

  /** Exploded OVERLAPPING (doc_id, pos, h) window fingerprints: one
    * stride-1 window per token position. This is what [[chunkRows]]'
    * non-overlapping grid cannot give: a duplicated run is caught at ANY
    * alignment, not only when it happens to line up with a chunk
    * boundary.
    *
    * Volume is `SpanK`× the chunk stream (one window per token, not per
    * ten), so the per-window cost is engineered down: each TOKEN hashes
    * once ([[graft.functions.EngineHash]]'s md5-60 primitive, one md5
    * per token not per window), and the window fingerprint is the
    * rotate-XOR combination of its ten token hashes — long arithmetic
    * only, no per-window string build (the first form concat'd + md5'd
    * every 10-token window: ~10× the bytes hashed, measured 20.7 s →
    * this form at sf1). The shuffle rows shrink to (id, pos, int64) —
    * fixed 8-byte keys instead of 32-char digests. Trade (documented,
    * [[minhashLshFrom]]'s caveat applies): a 60-bit linear family can
    * collide where full-text md5 effectively cannot — accidental
    * collisions are birthday-negligible (50 M windows ≪ 2^30·√2^60),
    * but adversarially constructible; a pipeline scrubbing hostile input
    * re-verifies flagged spans textually. Like [[boilerplateRatio]], the
    * exploded frame is deliberately not materialized: recomputing a
    * codegen'd narrow scan beats persisting a corpus-token-sized
    * intermediate. */
  private[graft] def slidingWindowRows(df: DataFrame): DataFrame = {
    // posexplode + ten lead()s instead of a transform() lambda: higher-
    // order lambdas evaluate INTERPRETED per element (the minhashLsh
    // lesson — stack-sampled here too: BinaryArithmetic.eval inside
    // ArrayTransform dominated the profile), while this shape is an
    // ordinary codegen'd generate + one WindowExec whose lead offsets
    // are compiled projections. The window shuffle also lands the frame
    // already partitioned by doc_id — exactly the partitioning the span
    // merge window downstream needs.
    // widenedBy(doc_id) (guide §2.5): the per-token md5 below is the
    // expensive stage and the single-file fixture scans as ONE partition;
    // keyed on doc_id, the lead()-window's required distribution is
    // already satisfied, so the widening exchange REPLACES the window's
    // own rather than adding one. No-op at production scan widths.
    // LIGHT cost class (r19 verdict #1): one md5 per token plus window
    // partials — the r19 pinned-defaultParallelism width regressed at 32
    // cores (warm A/B: capped 1.08 s vs pinned 3.26 vs unwidened 1.50).
    val tok = graft.Tables.widenedBy(df,
      graft.Tables.WidenLightBytesPerTask, col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= SpanK)
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        graft.functions.EngineHash.md5Bits60(col("col")).as("th"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val chain = SpanRotSchedule.zipWithIndex.map { case (r, j) =>
      val hj = if (j == 0) col("th") else lead(col("th"), j).over(wd)
      graft.functions.EngineHash.rot60(hj, r)
    }.reduce(_ bitwiseXOR _)
    // a null lead (window runs off the document tail) nulls the whole
    // chain — exactly the positions with no complete window
    tok.select(col("doc_id"), col("pos"), chain.as("h"))
      .filter(col("h").isNotNull)
  }

  /** Maximal cross-document duplicated spans per document, merged by
    * interval union: flagged windows (hash shared by ≥2 docs) whose
    * [pos, pos+K-1] token intervals overlap or touch collapse into one
    * span via a running-max window — so output spans are DISJOINT and
    * non-adjacent, and their lengths sum to the true duplicated-token
    * count (a consecutive-run grouping would double-count the overlap
    * of two flagged windows 5 positions apart). */
  private[graft] def dupSpanRows(docs: DataFrame): DataFrame = {
    val w = slidingWindowRows(docs)
    // "≥2 distinct docs" as min≠max (the user_proximity rewrite): cheaper
    // than countDistinct — plain min/max partials, no per-key dedup set
    val shared = w.groupBy(col("h"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax")).select(col("h"))
    val flagged = w.join(shared, "h").select(col("doc_id"), col("pos"))
    mergeSpans(flagged)
  }

  /** Interval-union merge of flagged (doc_id, pos) windows into maximal
    * disjoint spans — shared by [[dupSpanRows]] and
    * [[substringNoncanonical]], so the two cannot disagree about what a
    * "span" is. */
  private[graft] def mergeSpans(flagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val merged = flagged
      .withColumn("prev_max", max(col("pos")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
        when(col("prev_max").isNull || col("pos") > col("prev_max") + lit(SpanK), 1L)
          .otherwise(0L)).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    merged.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(SpanK - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** The KEEP-ONE policy variant (Lee et al.'s stance, vs the scrub's
    * C4-style remove-everywhere): each duplicated window keeps its
    * CANONICAL occurrence — the minimum doc_id holding that window hash
    * — and is a removal candidate everywhere else. Per-window
    * attribution (not per-span: a merged span can mix hashes with
    * different canonical holders, so the window is the sound unit);
    * positions flagged for removal then merge by the same interval
    * union. A document never self-collides into removal: the canonical
    * doc keeps its windows even when it repeats them internally. */
  def substringNoncanonical(spark: SparkSession, dir: String): DataFrame = {
    val w = slidingWindowRows(Tables.documents(spark, dir))
    val shared = w.groupBy(col("h"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("h"), col("dmin"))
    val flagged = w.join(shared, "h")
      .filter(col("doc_id") =!= col("dmin"))
      .select(col("doc_id"), col("pos"))
    mergeSpans(flagged).orderBy(col("doc_id"), col("span_start"))
  }

  lazy val substringNoncanonicalSql: String = {
    val rewritten = SpanSqlCte.replace(
      """), shared AS (
        |  SELECT h FROM w GROUP BY h HAVING min(doc_id) <> max(doc_id)
        |), f AS (
        |  SELECT w.doc_id, w.pos FROM w JOIN shared USING (h)
        |), m AS (""".stripMargin,
      """), shared AS (
        |  SELECT h, min(doc_id) AS dmin FROM w
        |  GROUP BY h HAVING min(doc_id) <> max(doc_id)
        |), f AS (
        |  SELECT w.doc_id, w.pos FROM w JOIN shared USING (h)
        |  WHERE w.doc_id <> shared.dmin
        |), m AS (""".stripMargin)
    // a silent no-op replace (SpanSqlCte reworded) would degrade this
    // oracle to the remove-everywhere semantics and only surface at gate
    // runtime, far from the edit — fail HERE instead
    require(rewritten != SpanSqlCte,
      "substringNoncanonicalSql: shared/f CTE rewrite did not match SpanSqlCte — " +
        "the keep-one-canonical oracle would silently revert to remove-everywhere")
    rewritten +
      """
        |SELECT doc_id, span_start, span_end, n_windows FROM spans
        |ORDER BY doc_id, span_start""".stripMargin
  }

  /** The oracle's mirror of [[slidingWindowRows]]→flagged→merged spans:
    * CTEs `dd`/`w`/`shared`/`f`/`m`/`g`/`spans` over `documents`. Kept as
    * ONE shared prefix so [[substringSpansSql]] and
    * [[substringCoverageSql]] cannot drift from each other. */
  private val SpanSqlCte: String =
    s"""WITH dd AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SpanK
       |), hh AS (
       |  SELECT doc_id, t,
       |         list_transform(t, tok ->
       |           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)) AS hs
       |  FROM dd
       |), w AS (
       |  SELECT doc_id, pos,
       |         ${windowHashChainSql(j => s"hs[pos + ${j + 1}]")} AS h
       |  FROM (SELECT doc_id, hs,
       |               unnest(range(0, len(hs) - ${SpanK - 1})) AS pos FROM hh)
       |), shared AS (
       |  SELECT h FROM w GROUP BY h HAVING min(doc_id) <> max(doc_id)
       |), f AS (
       |  SELECT w.doc_id, w.pos FROM w JOIN shared USING (h)
       |), m AS (
       |  SELECT doc_id, pos,
       |         max(pos) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM f
       |), g AS (
       |  SELECT doc_id, pos,
       |         sum(CASE WHEN prev_max IS NULL OR pos > prev_max + $SpanK
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM m
       |), spans AS (
       |  SELECT doc_id, min(pos) AS span_start,
       |         max(pos) + ${SpanK - 1} AS span_end,
       |         count(*) AS n_windows
       |  FROM g GROUP BY doc_id, grp
       |)""".stripMargin

  /** Substring-level cross-document dedup (builder prompt: dedup family;
    * no reference analog — reference has no text similarity at all,
    * process.py's closest surface is row-level SELECT DISTINCT): every
    * maximal token span duplicated across ≥2 documents, the worklist an
    * exact-substring decontamination pass removes. Linear scan → one
    * fixed-width hash shuffle → one per-document keyed window; no
    * pairwise comparison anywhere, so the plan survives corpus growth
    * that would kill a suffix-array build (which needs a global sort of
    * every token position). */
  def substringSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpanRows(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("span_start"))

  val substringSpansSql: String =
    SpanSqlCte +
      """
        |SELECT doc_id, span_start, span_end, n_windows FROM spans
        |ORDER BY doc_id, span_start""".stripMargin

  /** Per-document duplicated-token coverage: the fraction of a document's
    * tokens inside some cross-document duplicated span, worst first —
    * the ranking signal for drop-or-trim decisions (a page that is 80 %
    * shared text is boilerplate even if its doc-level hash is unique).
    * Exact because [[dupSpanRows]]' spans are disjoint by construction:
    * their lengths sum to the size of the interval UNION. */
  def substringCoverage(spark: SparkSession, dir: String): DataFrame =
    substringCoverageFrom(Tables.documents(spark, dir))

  private[graft] def substringCoverageFrom(docs: DataFrame): DataFrame = {
    val nt = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val cov = dupSpanRows(docs).groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + lit(1L)).as("dup_tokens"))
    nt.join(cov, "doc_id")
      .withColumn("dup_ratio",
        col("dup_tokens").cast("double") / col("n_toks").cast("double"))
      .select(col("doc_id"), col("n_toks"), col("dup_tokens"), col("dup_ratio"))
      .orderBy(col("dup_ratio").desc, col("doc_id"))
  }

  /** The removal transform that completes the substring family: strip
    * EVERY cross-document duplicated span from every document (the
    * C4-style stance — text appearing verbatim in ≥2 documents is
    * boilerplate and is removed everywhere, the same policy the
    * chunk-level boilerplate ratio scores). Output is the scrub
    * manifest: per affected document the token counts before/after and
    * the md5 of the cleaned text (narrow at any scale — the cleaned TEXT
    * itself is what a production pass would write back to the corpus,
    * but the query form ships the fixed-width witness).
    *
    * The span list per doc rides a collect_list whose ORDER is
    * partition-dependent — harmless by construction: spans are disjoint,
    * the native kernel sorts them defensively, and the removed-token
    * count is their length sum, so the output is deterministic under
    * any parallelism.
    *
    * Removal runs in the native `span_scrub` expression (r11: the
    * original `filter`/`exists` higher-order form evaluated interpreted
    * per token × span — the bpe_count lesson): one linear walk per row
    * with a span cursor, emitting the cleaned text directly. n_removed
    * is exactly the span-length sum because spans are disjoint and
    * in-bounds. */
  def substringScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val spans = dupSpanRows(docs).groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("spans"),
        sum(col("span_end") - col("span_start") + lit(1L)).as("n_removed"))
    docs.join(spans, "doc_id")
      .withColumn("cleaned", org.apache.spark.sql.graft.SpanScrubFunctions
        .span_scrub(col("text"), col("spans")))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        col("n_removed"),
        md5(col("cleaned")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  /** The production form of the scrub: the FULL corpus with duplicated
    * spans stripped — affected documents carry their cleaned text,
    * untouched documents pass through (left join + coalesce; the query
    * form above ships only the fixed-width md5 witness because a result
    * table should not re-materialize the corpus). */
  def substringScrubbedDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val spans = dupSpanRows(docs).groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("text", when(col("spans").isNull, col("text"))
        .otherwise(org.apache.spark.sql.graft.SpanScrubFunctions
          .span_scrub(col("text"), col("spans"))))
      .drop("spans")
  }

  val substringScrubSql: String =
    SpanSqlCte +
      """, sp AS (
        |  SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS spans
        |  FROM spans GROUP BY doc_id
        |), scr AS (
        |  SELECT doc_id, t,
        |         list_filter(t, (tok, i) ->
        |           len(list_filter(spans, x -> i - 1 >= x.s AND i - 1 <= x.e)) = 0) AS kept
        |  FROM dd JOIN sp USING (doc_id)
        |)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
        |       CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
        |       -- coalesce: a FULLY scrubbed doc has kept = [], which
        |       -- array_to_string maps to NULL where Spark's concat_ws
        |       -- yields '' — pin both engines to md5('')
        |       md5(coalesce(array_to_string(kept, ' '), '')) AS scrubbed_md5
        |FROM scr
        |ORDER BY doc_id""".stripMargin

  val substringCoverageSql: String =
    SpanSqlCte +
      """, cov AS (
        |  SELECT doc_id, CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |), nt AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
        |)
        |SELECT nt.doc_id, nt.n_toks, cov.dup_tokens,
        |       CAST(cov.dup_tokens AS DOUBLE)
        |         / CAST(nt.n_toks AS DOUBLE) AS dup_ratio
        |FROM nt JOIN cov USING (doc_id)
        |ORDER BY dup_ratio DESC, doc_id""".stripMargin

  // --- winnowing fingerprints (Schleimer et al. 2003) ------------------------

  /** Winnow parameters: token [[WinnowK]]-gram hashes, window of
    * [[WinnowW]] consecutive grams — the paper's guarantee is that any
    * shared run of ≥ k + w - 1 tokens yields at least one SHARED
    * fingerprint, at an expected density of 2/(w+1) fingerprints per
    * gram. Fingerprints are 40-bit so the (hash, position) pack below
    * stays inside one exact BIGINT in both engines. */
  private val WinnowK = 5
  private val WinnowW = 4
  // pack divisor: positions beyond 2^20 grams (~1M tokens) CLAMP to 0 in
  // the (hash, position) pack below — the position term may never borrow
  // from the hash bits (a negative term would silently corrupt fp = hash-1
  // for every giant document), so past the clamp ties break arbitrarily
  // instead of rightmost; fingerprint VALUES stay exact at any length
  private val PosSpace = 1L << 20

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    * the MOSS algorithm, the standard LOCAL fingerprinting for copy
    * detection): hash every token 5-gram, slide a window of 4 hashes,
    * record each window's minimum (rightmost on ties), dedupe — a
    * position-robust sketch ~2/(w+1) the size of the gram stream that
    * GUARANTEES detection of shared runs ≥ k+w-1 tokens (unlike MinHash,
    * which is probabilistic, and unlike full n-gram inversion, which is
    * w/2 times larger). Output: candidate near-dup pairs with shared-
    * fingerprint counts.
    *
    * Exactness trick: the rightmost-min selection packs (hash, position)
    * into one BIGINT `hash * 2^20 + greatest(0, 2^20 - 1 - i)` so a single
    * integer `min` over the window frame implements "min hash, ties broken
    * rightmost" — no struct ordering, no float, bit-identical in DuckDB.
    * The `greatest(0, ·)` clamp is load-bearing at scale: a document with
    * ≥ 2^20 grams would otherwise drive the position term negative,
    * borrowing from the hash bits and silently corrupting its
    * fingerprints (fp = hash - 1, wrong pairs with no error). Clamped,
    * positions past 2^20 share tie-break rank 0 — degraded tie-breaking
    * on pathological documents, exact fingerprint values always.
    *
    * Scale shape: gram hashing is a per-row projection; the window min is
    * one doc-keyed sort (linear, no self-join); the pair stage groups by
    * fingerprint with the family's ≤50 bucket cap (aggregate + filter,
    * AQE-splittable) so quadratic work is confined to capped buckets —
    * bucketed, never all-pairs, exactly the minhash-LSH discipline. */
  def winnowPairs(spark: SparkSession, dir: String,
                  maxBucket: Int = 50): DataFrame =
    winnowPairsFrom(Tables.documents(spark, dir), maxBucket)

  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame =
    winnowFingerprints(docs, PosSpace)

  /** `posSpace` is parameterized ONLY so the clamp is spec-testable at
    * toy scale (a real ≥2^20-gram fixture is minutes of test time);
    * production always packs with [[PosSpace]]. */
  private[graft] def winnowFingerprints(docs: DataFrame, posSpace: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(0, WinnowW - 1)
    // widenedBy(doc_id) (guide §2.5): per-gram md5 is the expensive stage
    // and the single-file fixture scans as ONE partition; the winnowing
    // window is doc_id-clustered, so the widening exchange replaces the
    // window's own. No-op at production scan widths.
    // LIGHT cost class (r19 verdict #1): one md5 per gram + a running
    // min window — pinned full width regressed at 32 cores (warm A/B:
    // capped 1.10 s vs pinned 2.86 vs unwidened 1.40).
    graft.Tables.widenedBy(docs,
      graft.Tables.WidenLightBytesPerTask, col("doc_id"))
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= lit("")).as("tk"))
      .where(size(col("tk")) >= WinnowK)
      .select(col("doc_id"), (size(col("tk")) - WinnowK + 1).as("n_grams"),
        explode(expr(
          s"transform(sequence(1, size(tk) - ${WinnowK - 1}), " +
            s"i -> struct(i - 1 AS i, array_join(slice(tk, i, $WinnowK), ' ') AS gram))"))
          .as("g"))
      .select(col("doc_id"), col("n_grams"), col("g.i").as("i"),
        (conv(substring(md5(col("g.gram")), 1, 10), 16, 10).cast("long") * lit(posSpace)
          + greatest(lit(0L), lit(posSpace - 1) - col("g.i"))).as("v"))
      .withColumn("vmin", min(col("v")).over(w))
      .where(col("i") <= greatest(lit(0), col("n_grams") - WinnowW))
      .select(col("doc_id"), expr(s"vmin div $posSpace").as("fp"))
      .distinct()
  }

  private[graft] def winnowPairsFrom(docs: DataFrame, maxBucket: Int): DataFrame = {
    val fp = winnowFingerprints(docs)
    val capped = fp
      .join(fp.groupBy(col("fp")).agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= maxBucket), Seq("fp"))
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnowPairsSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
       |  FROM documents
       |), grams AS (
       |  SELECT doc_id, i - 1 AS i, len(tk) - $WinnowK + 1 AS n_grams,
       |         CAST(concat('0x', substr(md5(array_to_string(tk[i:i+${WinnowK - 1}], ' ')), 1, 10)) AS BIGINT) AS g40
       |  FROM tk, LATERAL unnest(range(1, len(tk) - $WinnowK + 2)) AS u(i)
       |  WHERE len(tk) >= $WinnowK
       |), v AS (
       |  SELECT doc_id, i, n_grams,
       |         g40 * $PosSpace + greatest(0, ${PosSpace - 1} - i) AS v
       |  FROM grams
       |), wmin AS (
       |  SELECT doc_id, i, n_grams,
       |         min(v) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS vmin
       |  FROM v
       |), fp AS (
       |  SELECT DISTINCT doc_id, vmin // $PosSpace AS fp
       |  FROM wmin WHERE i <= greatest(0, n_grams - $WinnowW)
       |), capped AS (
       |  SELECT doc_id, fp FROM fp
       |  WHERE fp IN (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |ORDER BY doc_a, doc_b""".stripMargin
}
