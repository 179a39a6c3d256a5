package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim) — brute-force cosine top-k as the exactness
  * baseline, a sign-LSH bucketed pair join for near-duplicate detection,
  * and an IVF-style partition-probe top-k as the scale path.
  *
  * The dot product is the custom codegen'd Catalyst expression
  * [[org.apache.spark.sql.graft.FloatVecDot]] — the higher-order
  * `aggregate(zip_with(...))` fold is interpreted per element and measured
  * 17x slower on a 4M-pair scan (23.9s vs 1.4s). Results are bit-identical
  * to the fold and to the DuckDB oracle's `list_dot_product` (all
  * accumulate products left-to-right in DOUBLE).
  *
  * Scale strategy (100 TB): brute-force is O(Q·N·d) — fine for small query
  * sets because the corpus side streams (one scan, no shuffle; queries are
  * broadcast). The pairwise near-dup query is only quadratic *within an
  * LSH bucket* (8 sign bits → 256-way blocking). IVF probes one coarse
  * partition per query (here the pre-assigned `label` plays the centroid
  * id), cutting the scanned fraction to 1/k — the standard
  * recall-for-throughput trade.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in element order
    * as DOUBLE (codegen'd native expression). */
  private[graft] def dot(a: String, b: String) =
    org.apache.spark.sql.graft.VectorFunctions.vec_dot(col(a), col(b))

  /** Corpus with the L2 norm precomputed once (reused by every query). */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(dot("embedding", "embedding")))

  // --- brute-force cosine top-k --------------------------------------------
  /** For each query vector (vec_id < 5): scan the corpus, cosine against
    * every vector, keep the top 10 by ranking window. Queries are broadcast
    * so the corpus scan never shuffles; the row_number window partitions by
    * query id. */
  def annBruteForce(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    annBruteForceProbes(spark, dir, k, None)

  /** [[annBruteForce]] restricted to a probe subset (ADVICE r12: the
    * single-probe hybrid arm was scoring the corpus against all 5 probes
    * and discarding 4/5 of the work post-window — the probe predicate
    * belongs INSIDE the broadcast query relation, shrinking the scored
    * cross product itself, not its output). `None` = all 5 probes. */
  def annBruteForceProbes(spark: SparkSession, dir: String, k: Int,
                          qIds: Option[Seq[Int]]): DataFrame = {
    val corpus  = withNorm(Tables.embeddings(spark, dir))
    val probeFilter = qIds
      .map(ids => col("vec_id").isInCollection(ids.map(_.toLong)))
      .getOrElse(lit(true))
    val queries = withNorm(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 5).filter(probeFilter))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot("embedding", "q_emb") / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annBruteForceSql: String = annBruteForceSqlK(10)

  /** The oracle twin parameterized on k and an optional probe subset —
    * [[annBruteForceSql]] pins the registered query's top-10; `hybrid_topk`
    * nests a wider-k single-probe instance as its vector-arm CTE (the
    * ann_recall compose-the-twins pattern; the probe predicate sits inside
    * the q CTE so the oracle scores only the probes it uses — ADVICE r12). */
  private[graft] def annBruteForceSqlK(k: Int, qIds: Option[Seq[Int]] = None): String =
    s"""WITH c AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm FROM c
      |  WHERE vec_id < 5${qIds.map(ids => s" AND vec_id IN (${ids.mkString(", ")})").getOrElse("")}
      |), scored AS (
      |  SELECT q.q_id, c.vec_id,
      |         list_dot_product(c.embedding::DOUBLE[], q.q_emb::DOUBLE[]) / (c.norm * q.q_norm) AS cos_sim
      |  FROM c CROSS JOIN q
      |  WHERE c.vec_id <> q.q_id
      |)
      |SELECT q_id, vec_id, cos_sim, rank FROM (
      |  SELECT q_id, vec_id, cos_sim,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      |  FROM scored
      |) WHERE rank <= $k
      |ORDER BY q_id, rank""".stripMargin

  // --- sign-LSH bucketed near-duplicate pairs ------------------------------
  /** Random-hyperplane-style LSH with the 8 leading dimension signs as the
    * bucket code (256 buckets): only same-bucket pairs are compared, so the
    * pair join is quadratic per bucket, not per corpus. Cosine ≥ 0.3 pairs
    * survive.
    *
    * `maxBucket` is the degenerate-bucket defense (the minhashLsh cap
    * pattern): with only 256 sign codes, a skewed encoder (e.g. all
    * post-ReLU-positive embeddings → every row in bucket 255) would make
    * the pair join quadratic in the CORPUS, not the bucket. Buckets above
    * the cap are dropped wholesale before the self-join — a documented
    * recall loss on pathological inputs, never a blowup. The cap count
    * partial-aggregates map-side and the semi-join is AQE-skew-splittable,
    * so the pathological input the cap defends against stays parallel. */
  def embNearDup(spark: SparkSession, dir: String, threshold: Double = 0.3,
                 maxBucket: Int = 5000): DataFrame =
    embNearDupFrom(Tables.embeddings(spark, dir), threshold, maxBucket)

  /** Core of [[embNearDup]] over any (vec_id, embedding) frame — split out
    * so the degenerate-bucket spec can feed a synthetic skewed corpus. */
  private[graft] def embNearDupFrom(embs: DataFrame, threshold: Double,
                                    maxBucket: Int): DataFrame = {
    // Sign bits summed as 8 codegen'd WHENs — the equivalent
    // aggregate(sequence(0,7), ...) higher-order fold runs INTERPRETED
    // per row (the measured-100x-slower trap from the minhash rewrite).
    val code = (0 until 8).map { i =>
      when(element_at(col("embedding"), i + 1) >= lit(0f), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    val e = withNorm(embs).withColumn("bucket", code)
    val smallBuckets = e.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("bucket"))
    val pruned = e.join(smallBuckets, Seq("bucket"))
    val a = pruned.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("norm").as("norm1"), col("bucket"))
    val b = pruned.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("norm").as("norm2"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos_sim", dot("e1", "e2") / (col("norm1") * col("norm2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("bucket"), col("v1"), col("v2"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("v1"), col("v2"))
  }

  val embNearDupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
      |         list_sum(list_transform(range(0, 8),
      |             i -> CASE WHEN embedding[i + 1] >= 0 THEN (1 << i) ELSE 0 END)) AS bucket
      |  FROM embeddings
      |)
      |SELECT bucket, v1, v2, cos_sim FROM (
      |  SELECT CAST(a.bucket AS INT) AS bucket, a.vec_id AS v1, b.vec_id AS v2,
      |         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / (a.norm * b.norm) AS cos_sim
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |) WHERE cos_sim >= 0.3
      |ORDER BY cos_sim DESC, v1, v2""".stripMargin

  // --- per-label centroids (k-means M-step) ---------------------------------
  /** Mean vector per label — the M-step of a distributed k-means over the
    * embedding table (the E-step is [[annIvf]]'s partition assignment).
    * Long form (label, dim, value): one posexplode then a hash aggregation
    * keyed on (label, dim) — fully shuffle-parallel, no driver math, and
    * at any corpus size the output is k×d rows, not k full arrays.
    * Values are quantized to 6 decimals BEFORE summation and accumulated
    * in DECIMAL: the quantization is part of the operator's contract in
    * both engines, which makes the mean exactly order-independent (a raw
    * double sum's last bits would depend on partition merge order; a tie
    * at the 6th decimal would need v·10⁶ ≡ 0.5 exactly, impossible for a
    * binary fraction). */
  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        round(col("col").cast("double"), 6).as("v"))
      .groupBy(col("label"), col("dim"))
      .agg(
        (expr("CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)") / count(lit(1)))
          .as("centroid"),
        count(lit(1)).as("n_vectors"))
      .orderBy(col("label"), col("dim"))

  val embCentroidsSql: String =
    """WITH x AS (
      |  SELECT label, i AS dim, round(CAST(embedding[i+1] AS DOUBLE), 6) AS v
      |  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i)
      |)
      |SELECT label, CAST(dim AS INT) AS dim,
      |       CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS centroid,
      |       count(*) AS n_vectors
      |FROM x
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  // --- k-means E-step: assign to nearest learned centroid -------------------
  /** One full distributed k-means iteration closed end to end: the
    * centroids learned by [[embCentroids]] (M-step) are assembled into
    * per-label vectors, broadcast, and every embedding is assigned to its
    * nearest centroid by squared L2 (E-step). Corpus side streams — one
    * scan, no shuffle before the per-vector ranking window; the k×d
    * centroid table is always broadcastable.
    *
    * The distance is the codegen'd native expression
    * [[org.apache.spark.sql.graft.FloatVecSqDist]] — it accumulates
    * per-element `(double(x)-c)^2` left-to-right in DOUBLE exactly like
    * the interpreted `aggregate(zip_with(...))` fold it replaced and like
    * the oracle's list fold, so distances are bit-identical and the
    * argmin is stable across engines, while the E-step scan stays inside
    * whole-stage codegen. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy("d", "c_label")
    Tables.embeddings(spark, dir)
      .crossJoin(broadcast(centroidTable(spark, dir)))
      // codegen'd native expression — the higher-order
      // aggregate(zip_with(...)) form of this ran interpreted (the
      // measured-17x trap); arithmetic is bit-identical (left-assoc
      // (double(x)-c)^2 accumulation)
      .withColumn("d",
        org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("embedding"), col("cl")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("orig_label"),
        col("c_label").cast("int").as("assigned_label"),
        (col("label") === col("c_label")).as("is_same"))
      .orderBy(col("vec_id"))
  }

  /** The label-mean centroid table as one (c_label, cl) row per cluster —
    * the broadcast side of every assignment. */
  private[graft] def centroidTable(spark: SparkSession, dir: String): DataFrame =
    embCentroids(spark, dir)
      .groupBy(col("label").as("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
        .as("cl"))

  // fixture tables must be referenced unaliased (Verify's read_parquet
  // inliner appends its own alias) — `emb` re-aliases through a CTE.
  val kmeansAssignSql: String =
    """WITH emb AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |), x AS (
      |  SELECT label, i AS dim, round(CAST(embedding[i+1] AS DOUBLE), 6) AS v
      |  FROM emb, LATERAL (SELECT unnest(range(len(embedding))) AS i)
      |), cmean AS (
      |  SELECT label, dim, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c
      |  FROM x GROUP BY 1, 2
      |), cent AS (
      |  SELECT label AS c_label, list(c ORDER BY dim) AS cl FROM cmean GROUP BY 1
      |), scored AS (
      |  SELECT e.vec_id, e.label, c.c_label,
      |         list_sum(list_transform(range(len(e.embedding)),
      |           i -> (CAST(e.embedding[i+1] AS DOUBLE) - cl[i+1]) * (CAST(e.embedding[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM emb e CROSS JOIN cent c
      |), ranked AS (
      |  SELECT vec_id, label, c_label,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label) AS rn
      |  FROM scored
      |)
      |SELECT vec_id, label AS orig_label, CAST(c_label AS INT) AS assigned_label,
      |       label = c_label AS is_same
      |FROM ranked WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  // --- semantic dedup (SemDeDup, Abbas et al. 2023) -------------------------
  /** Embedding-space semantic dedup: assign every vector to its nearest
    * centroid (the [[kmeansAssign]] E-step, shared arithmetic), find
    * cosine-≥τ pairs WITHIN a cluster, and keep the member of each pair
    * with the LOWER cosine to its centroid (the published SemDeDup keep
    * rule — low-centroid-similarity examples carry the most marginal
    * information), ties to the lower vec_id. τ defaults to 0.3, the
    * [[embNearDup]] fixture threshold (the synthetic embeddings are
    * near-orthogonal — max within-cell cosine ≈0.4; a real embedding
    * corpus would run τ≈0.95, the published setting — τ is the
    * caller's knob, the oracle pins the default). An item is `kept = false`
    * iff it loses ANY ≥τ comparison — the one-pass dominance form (the
    * dedup_keep_best stance, no iterative clustering).
    *
    * Scale shape: pairs are confined to (cluster × 8-sign-LSH-bucket)
    * cells — the [[embNearDup]] sub-bucketing composed with the semantic
    * clusters, so the quadratic work is per-cell, never per-cluster (at
    * real scale the cluster count grows with the corpus, and the sign
    * code bounds the cell regardless; cross-sign-bucket τ-pairs inside a
    * cluster are the same documented recall trade embNearDup makes).
    * The centroid table broadcasts; cells above `maxCell` are skipped
    * wholesale (kept, the degenerate-bucket defense).
    *
    * Determinism: every float expression is a shared tree with the
    * DuckDB twin (norms/dots via the FloatVecDot casts, distances via
    * the kmeansAssign fold, centroid cosine from the algebraic identity
    * (|v|²+|c|²−d)/(2|v||c|) over those SAME subterms), so the hash
    * oracle pins it bit-for-bit. */
  def semDedup(spark: SparkSession, dir: String, tau: Double = 0.3,
               maxCell: Int = 5000): DataFrame =
    semDedupFrom(Tables.embeddings(spark, dir),
      centroidTable(spark, dir), tau, maxCell)

  /** SemDeDup E-step of [[semDedupFrom]]: nearest-centroid assignment
    * plus the centroid-cosine (algebraic identity over the shared
    * distance subterms) and the 8-dim sign-bucket code —
    * (vec_id, embedding, norm, cluster, c_sim, sb). */
  private[graft] def semAssign(embs: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids
      .withColumn("cn2",
        expr("aggregate(cl, CAST(0 AS DOUBLE), (a, x) -> a + x * x)"))
    val signCode = (0 until 8).map { i =>
      when(element_at(col("embedding"), i + 1) >= lit(0f), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    val w = Window.partitionBy("vec_id").orderBy(col("d"), col("c_label"))
    withNorm(embs)
      .crossJoin(broadcast(cent))
      .withColumn("d",
        org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("embedding"), col("cl")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("c_label").cast("int").as("cluster"),
        ((col("norm") * col("norm") + col("cn2") - col("d")) /
          (lit(2.0) * col("norm") * sqrt(col("cn2")))).as("c_sim"),
        signCode.as("sb"))
  }

  /** Core of [[semDedup]] over any (vec_id, embedding) frame and
    * centroid table — split out so the keep-rule spec can plant an
    * exact near-dup pair with known centroid geometry. */
  private[graft] def semDedupFrom(embs: DataFrame, centroids: DataFrame,
                                  tau: Double, maxCell: Int): DataFrame = {
    val assigned = semAssign(embs, centroids)
    // Materialize the assignment stage ONCE: its output feeds the
    // cell-size gate, both sides of the pair self-join, and the final
    // merge, and declarative reuse would re-run the corpus×k centroid
    // join for EACH consumer (measured: 5 BroadcastNestedLoopJoins for
    // one logical assignment — self-join attribute deduplication gives
    // the copies fresh expression ids, so ReuseExchange never fires).
    // This is the production SemDeDup shape anyway: the E-step output
    // is a persisted stage between the assignment scan and the
    // within-cluster pair pass.
    val cellBase = assigned.localCheckpoint(true)
    val smallCells = cellBase.groupBy(col("cluster"), col("sb"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= maxCell)
      .select(col("cluster"), col("sb"))
    // smallCells is ≤ k×256 rows by construction — broadcast, so gating
    // the cells never reshuffles the corpus
    val cell = cellBase.join(broadcast(smallCells), Seq("cluster", "sb"))
    val pairs = cell.select(col("cluster"), col("sb"), col("vec_id").as("v1"),
        col("embedding").as("e1"), col("norm").as("n1"), col("c_sim").as("cs1"))
      .join(cell.select(col("cluster"), col("sb"), col("vec_id").as("v2"),
        col("embedding").as("e2"), col("norm").as("n2"), col("c_sim").as("cs2")),
        Seq("cluster", "sb"))
      .filter(col("v1") < col("v2"))
      .filter(dot("e1", "e2") / (col("n1") * col("n2")) >= lit(tau))
    val losers = pairs
      .select(when(col("cs2") > col("cs1"), col("v2"))
        .when(col("cs2") < col("cs1"), col("v1"))
        .otherwise(col("v2")).as("vec_id"))
      .distinct()
    cellBase
      .join(losers.withColumn("lost", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("c_sim"),
        coalesce(col("lost"), lit(false)).=!=(lit(true)).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB twin: the kmeansAssign CTEs extended with the centroid
    * norm, the same algebraic centroid cosine, the same (cluster,
    * sign-bucket) cells, pair threshold, and keep rule. */
  val semDedupSql: String =
    """WITH emb AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
      |         list_sum(list_transform(range(0, 8),
      |             i -> CASE WHEN embedding[i + 1] >= 0 THEN (1 << i) ELSE 0 END)) AS sb
      |  FROM embeddings
      |), x AS (
      |  SELECT label, i AS dim, round(CAST(embedding[i+1] AS DOUBLE), 6) AS v
      |  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i)
      |), cmean AS (
      |  SELECT label, dim, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c
      |  FROM x GROUP BY 1, 2
      |), cent AS (
      |  SELECT label AS c_label, list(c ORDER BY dim) AS cl,
      |         list_sum(list_transform(list(c ORDER BY dim), y -> y * y)) AS cn2
      |  FROM cmean GROUP BY 1
      |), scored AS (
      |  SELECT e.vec_id, e.norm, e.sb, c.c_label, c.cn2,
      |         list_sum(list_transform(range(len(e.embedding)),
      |           i -> (CAST(e.embedding[i+1] AS DOUBLE) - cl[i+1]) * (CAST(e.embedding[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM emb e CROSS JOIN cent c
      |), assigned AS (
      |  SELECT vec_id, norm, sb, CAST(c_label AS INT) AS cluster,
      |         (norm * norm + cn2 - d) / (2.0 * norm * sqrt(cn2)) AS c_sim
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label) AS rn
      |        FROM scored)
      |  WHERE rn = 1
      |), cells AS (
      |  SELECT cluster, sb FROM assigned GROUP BY 1, 2 HAVING count(*) <= 5000
      |), cell AS (
      |  SELECT a.* FROM assigned a JOIN cells USING (cluster, sb)
      |), pairs AS (
      |  SELECT a.vec_id AS v1, a.c_sim AS cs1, b.vec_id AS v2, b.c_sim AS cs2
      |  FROM cell a JOIN cell b ON a.cluster = b.cluster AND a.sb = b.sb
      |       AND a.vec_id < b.vec_id
      |  JOIN emb ea ON ea.vec_id = a.vec_id
      |  JOIN emb eb ON eb.vec_id = b.vec_id
      |  WHERE list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / (ea.norm * eb.norm) >= 0.3
      |), losers AS (
      |  SELECT DISTINCT CASE WHEN cs2 > cs1 THEN v2
      |                       WHEN cs2 < cs1 THEN v1
      |                       ELSE v2 END AS vec_id
      |  FROM pairs
      |)
      |SELECT a.vec_id, a.cluster, a.c_sim,
      |       l.vec_id IS NULL AS kept
      |FROM assigned a LEFT JOIN losers l ON a.vec_id = l.vec_id
      |ORDER BY a.vec_id""".stripMargin

  /** [[semDedup]] over Lloyd-TRAINED centroids instead of the fixture's
    * label means (r13 verdict ask #6 — the semantic-dedup story must not
    * depend on fixture labels): the cluster structure comes from
    * [[Codebooks.ivf]], the same materialized-once full-vector trained
    * coarse quantizer `ann_ivf_trained` uses (k=8, two fixed Lloyd
    * rounds, DECIMAL-quantized means — deterministic), and everything
    * downstream (sign-bucket cells, τ-pair cosine, keep-lowest-
    * centroid-sim) is byte-identical to the one-shot form via the shared
    * [[semDedupFrom]]. Scale shape unchanged: centroids broadcast, the
    * corpus never shuffles for assignment, quadratic work confined to
    * capped (cluster, sign-bucket) cells; training cost is paid once per
    * corpus fingerprint by the codebook store. The oracle replays the
    * trainer through the SAME [[ivfTrainerCtes]] text as
    * `ann_ivf_trained`, then the semdedup tail — the unrolled-CTE
    * discipline. */
  def semDedupTrained(spark: SparkSession, dir: String, tau: Double = 0.3,
                      maxCell: Int = 5000): DataFrame =
    semDedupFrom(Tables.embeddings(spark, dir),
      Codebooks.ivf(spark, dir).select(col("c_label"), col("cl")),
      tau, maxCell)

  /** DuckDB twin: [[ivfTrainerCtes]] (shared verbatim with
    * ann_ivf_trained) supplies cb2, which replaces semDedupSql's
    * label-mean `cent`; the tail is the same cell/pair/keep chain. */
  val semDedupTrainedSql: String =
    s"""WITH $ivfTrainerCtes, embn AS (""" +
    """
      |  SELECT vec_id, embedding,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
      |         list_sum(list_transform(range(0, 8),
      |             i -> CASE WHEN embedding[i + 1] >= 0 THEN (1 << i) ELSE 0 END)) AS sb
      |  FROM embeddings
      |), cent AS (
      |  SELECT c_label, cl,
      |         list_sum(list_transform(cl, y -> y * y)) AS cn2
      |  FROM cb2
      |), scored AS (
      |  SELECT e.vec_id, e.norm, e.sb, c.c_label, c.cn2,
      |         list_sum(list_transform(range(len(e.embedding)),
      |           i -> (CAST(e.embedding[i+1] AS DOUBLE) - cl[i+1]) * (CAST(e.embedding[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM embn e CROSS JOIN cent c
      |), assigned AS (
      |  SELECT vec_id, norm, sb, CAST(c_label AS INT) AS cluster,
      |         (norm * norm + cn2 - d) / (2.0 * norm * sqrt(cn2)) AS c_sim
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label) AS rn
      |        FROM scored)
      |  WHERE rn = 1
      |), cells AS (
      |  SELECT cluster, sb FROM assigned GROUP BY 1, 2 HAVING count(*) <= 5000
      |), cell AS (
      |  SELECT a.* FROM assigned a JOIN cells USING (cluster, sb)
      |), pairs AS (
      |  SELECT a.vec_id AS v1, a.c_sim AS cs1, b.vec_id AS v2, b.c_sim AS cs2
      |  FROM cell a JOIN cell b ON a.cluster = b.cluster AND a.sb = b.sb
      |       AND a.vec_id < b.vec_id
      |  JOIN embn ea ON ea.vec_id = a.vec_id
      |  JOIN embn eb ON eb.vec_id = b.vec_id
      |  WHERE list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / (ea.norm * eb.norm) >= 0.3
      |), losers AS (
      |  SELECT DISTINCT CASE WHEN cs2 > cs1 THEN v2
      |                       WHEN cs2 < cs1 THEN v1
      |                       ELSE v2 END AS vec_id
      |  FROM pairs
      |)
      |SELECT a.vec_id, a.cluster, a.c_sim,
      |       l.vec_id IS NULL AS kept
      |FROM assigned a LEFT JOIN losers l ON a.vec_id = l.vec_id
      |ORDER BY a.vec_id""".stripMargin

  // --- product quantization code assignment ---------------------------------
  /** PQ codes: the 64-dim vector is split into 4 subspaces of 16 dims and
    * each subvector is assigned to its nearest per-subspace codebook
    * entry — the compression behind memory-bound ANN (a vector becomes 4
    * small codes + the shared codebook instead of 64 floats; distances
    * are then looked up per subspace and summed). The codebook here is
    * the per-label quantized means ([[embCentroids]] sliced by subspace),
    * standing in for a trained one — swapping in k-means-trained
    * codebooks ([[kmeansFit]] per subspace) changes only the `cb` input.
    *
    * Scale shape: the codebook is k×d doubles → broadcast; the corpus
    * explodes to `subspaces` subvector rows per vector and streams
    * through one broadcast hash join + one (vec_id, subspace) ranking
    * window. The distance is the codegen'd FloatVecSqDist, bit-identical
    * to the oracle's list fold (the kmeansAssign precedent), so the
    * argmin and the reported error hash-match across engines.
    *
    * CONTRACT: the embedding dimension must equal subspaces×width
    * (defaults fit the 64-dim fixture). A shorter vector would slice to
    * empty/partial subvectors and the codebook join would silently drop
    * the missing subspaces; a longer one would silently ignore its tail.
    * The spec asserts full coverage (vectors × subspaces rows), which is
    * exactly the property a wrong dimension breaks. */
  /** Per-(label, subspace) codebook arrays — ONE builder shared by
    * [[pqCodes]] and [[annPq]] with identical aliases, so the two uses
    * inside one ADC plan canonicalize to the same subtree (exchange
    * reuse) and the construction cannot drift between assignment and
    * search. */
  private def pqCodebook(spark: SparkSession, dir: String, width: Int): DataFrame =
    embCentroids(spark, dir)
      .select(col("label").as("c_label"), (col("dim") / width).cast("int").as("s"),
        col("dim"), col("centroid"))
      .groupBy(col("c_label"), col("s"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
        .as("cl"))

  /** (vec_id, s, sv): the corpus exploded to one subvector row per
    * (vector, subspace) — shared by code assignment and the trainer. */
  private def subvectors(spark: SparkSession, dir: String,
                         subspaces: Int, width: Int): DataFrame =
    subvectorsFrom(Tables.embeddings(spark, dir), subspaces, width)

  /** Frame-parameterized [[subvectors]]. The generated `s` attribute is
    * deliberately NON-FOLDABLE (it comes out of the Generate): a literal
    * `s` column constant-folds out of the assignment join's key set and
    * the broadcast HASH join silently degrades to a nested-loop join —
    * the r18 assignClusters first cut did exactly that (PlanGuardSpec's
    * exact BNLJ counts caught it). */
  private def subvectorsFrom(emb: DataFrame,
                             subspaces: Int, width: Int): DataFrame =
    emb
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${subspaces - 1}), s -> " +
          s"named_struct('s', cast(s as int), 'sv', slice(embedding, s*$width+1, $width)))"))
        .as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))

  /** Nearest-codebook-entry assignment per (vec_id, s): one broadcast
    * join + one ranking window, codebook-agnostic (stand-in or trained —
    * `cb` must carry (c_label, s, cl)). */
  private def assignCodes(sub: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "s").orderBy("d", "c_label")
    sub.join(broadcast(cb), Seq("s"))
      .withColumn("d",
        org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("sv"), col("cl")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("s"),
        col("c_label").cast("int").as("code"), col("d").as("sq_err"))
  }

  def pqCodes(spark: SparkSession, dir: String,
              subspaces: Int = 4, width: Int = 16): DataFrame =
    assignCodes(subvectors(spark, dir, subspaces, width),
        pqCodebook(spark, dir, width))
      .select(col("vec_id"), col("s").as("subspace"), col("code"), col("sq_err"))
      .orderBy(col("vec_id"), col("subspace"))

  val pqCodesSql: String =
    """WITH emb AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |), x AS (
      |  SELECT label, i AS dim, round(CAST(embedding[i+1] AS DOUBLE), 6) AS v
      |  FROM emb, LATERAL (SELECT unnest(range(len(embedding))) AS i)
      |), cmean AS (
      |  SELECT label, dim, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c
      |  FROM x GROUP BY 1, 2
      |), cbl AS (
      |  SELECT label AS c_label, CAST(dim // 16 AS INT) AS s, list(c ORDER BY dim) AS cl
      |  FROM cmean GROUP BY 1, 2
      |), sub AS (
      |  SELECT vec_id, CAST(s AS INT) AS s, embedding[s*16+1 : s*16+16] AS sv
      |  FROM emb, LATERAL (SELECT unnest(range(4)) AS s)
      |), scored AS (
      |  SELECT sub.vec_id, sub.s, cbl.c_label,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(sv[i+1] AS DOUBLE) - cl[i+1]) * (CAST(sv[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM sub JOIN cbl ON sub.s = cbl.s
      |), ranked AS (
      |  SELECT vec_id, s, c_label, d,
      |         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c_label) AS rn
      |  FROM scored
      |)
      |SELECT vec_id, s AS subspace, CAST(c_label AS INT) AS code, d AS sq_err
      |FROM ranked WHERE rn = 1
      |ORDER BY vec_id, subspace""".stripMargin

  // --- PQ asymmetric-distance (ADC) top-k search ----------------------------
  /** The search that PQ compression exists for: each query precomputes a
    * lookup table of exact distances from its OWN subvectors to every
    * codebook entry (queries × subspaces × codebook-entries rows — tiny;
    * NOT a function of top-k: a production 256-entry codebook makes it
    * queries×4×256), and a corpus vector's approximate distance is the
    * SUM of 4 table lookups keyed by its stored codes — the asymmetric
    * distance computation (ADC). The corpus side never touches float
    * vectors at query time: it streams its (vec_id, subspace, code) rows
    * through a broadcast LUT join and a fixed-order 4-term sum. At
    * 100 TB that is the difference between scanning 64 floats/vector and
    * 4 bytes/vector.
    *
    * Engine determinism: each LUT entry is the codegen'd FloatVecSqDist
    * (bit-identical to the oracle's fold), and the per-vector total is
    * assembled as four single-slot conditional sums added in FIXED order
    * (d0+d1+d2+d3) — a plain sum over the four rows would accumulate in
    * partition order and could flip last-ulp ties. (adc_dist, vec_id) is
    * a total order, so ranks hash-match.
    *
    * Accuracy contract: ADC is EXACT with respect to the quantized
    * corpus — adc_dist(q, v) is precisely the squared distance from q to
    * v's reconstruction (the spec pins this identity). How well that
    * ranks TRUE neighbors is entirely the codebook's quality: the
    * per-label stand-in here has only 10 entries per subspace, and on
    * this fixture's random gaussian vectors recall@10 vs exact L2 is
    * near zero — the documented worst case for PQ (distances
    * concentrate; coarse quantization erases the margin). Production
    * recall comes from per-subspace k-means codebooks with ~256 entries
    * ([[kmeansFit]] on subvectors is the drop-in trainer); the operator
    * here is the QUERY-TIME dataflow, which is independent of how the
    * codebook was trained. */
  /** The ADC dataflow, codebook-agnostic: assign corpus codes against
    * `cb`, precompute the per-query LUT against the SAME `cb` subtree
    * (identical aliases → the codebook aggregation canonicalizes to one
    * reusable exchange), stream codes through the broadcast LUT join and
    * the fixed-order slot sum. Geometry is pinned to the oracle's
    * constants (4x16, like annBruteForce's fixed query set) — a
    * configurable shape here would silently desync from the fixed SQL
    * twins. */
  private def adcSearch(spark: SparkSession, dir: String, cb: DataFrame,
                        k: Int): DataFrame = {
    val subspaces = 4
    val width = 16
    val codes = assignCodes(subvectors(spark, dir, subspaces, width), cb)
      .select(col("vec_id"), col("s"), col("code"))
    val lutCb = cb.select(col("c_label").cast("int").as("code"), col("s"), col("cl"))
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val lut = queries.crossJoin(lutCb)
      .withColumn("qs", expr(s"slice(q_emb, s * $width + 1, $width)"))
      .withColumn("d",
        org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("qs"), col("cl")))
      .select(col("q_id"), col("s"), col("code"), col("d"))
    val slotSums = (0 until subspaces).map { i =>
      sum(when(col("s") === i, col("d")).otherwise(lit(0.0))).as(s"d$i")
    }
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(slotSums.head, slotSums.tail: _*)
      .withColumn("adc_dist",
        (0 until subspaces).map(i => col(s"d$i")).reduce(_ + _))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("adc_dist"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def annPq(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    adcSearch(spark, dir,
      pqCodebook(spark, dir, 16).select(col("c_label"), col("s"), col("cl")), k)

  val annPqSql: String =
    """WITH emb AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |), x AS (
      |  SELECT label, i AS dim, round(CAST(embedding[i+1] AS DOUBLE), 6) AS v
      |  FROM emb, LATERAL (SELECT unnest(range(len(embedding))) AS i)
      |), cmean AS (
      |  SELECT label, dim, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS c
      |  FROM x GROUP BY 1, 2
      |), cbl AS (
      |  SELECT label AS code, CAST(dim // 16 AS INT) AS s, list(c ORDER BY dim) AS cl
      |  FROM cmean GROUP BY 1, 2
      |), sub AS (
      |  SELECT vec_id, CAST(s AS INT) AS s, embedding[s*16+1 : s*16+16] AS sv
      |  FROM emb, LATERAL (SELECT unnest(range(4)) AS s)
      |), scored AS (
      |  SELECT sub.vec_id, sub.s, cbl.code,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(sv[i+1] AS DOUBLE) - cl[i+1]) * (CAST(sv[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM sub JOIN cbl ON sub.s = cbl.s
      |), codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s
      |                                               ORDER BY d, code) AS rn
      |    FROM scored) WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb FROM emb WHERE vec_id < 5
      |), lut AS (
      |  SELECT q_id, cbl.s, cbl.code,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(q_emb[cbl.s*16+i+1] AS DOUBLE) - cl[i+1])
      |              * (CAST(q_emb[cbl.s*16+i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM q CROSS JOIN cbl
      |), slot AS (
      |  SELECT q_id, c.vec_id,
      |         sum(CASE WHEN c.s = 0 THEN l.d ELSE 0 END) AS d0,
      |         sum(CASE WHEN c.s = 1 THEN l.d ELSE 0 END) AS d1,
      |         sum(CASE WHEN c.s = 2 THEN l.d ELSE 0 END) AS d2,
      |         sum(CASE WHEN c.s = 3 THEN l.d ELSE 0 END) AS d3
      |  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      |  WHERE c.vec_id <> l.q_id
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT q_id, vec_id, d0 + d1 + d2 + d3 AS adc_dist,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                ORDER BY d0 + d1 + d2 + d3, vec_id) AS INT) AS rank
      |  FROM slot
      |)
      |SELECT q_id, vec_id, adc_dist, rank FROM ranked
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // --- trained PQ codebook (per-subspace Lloyd) -----------------------------
  /** Codebook entries and training rounds, shared with the oracle SQL so
    * non-default call sites can't diverge. Rounds are FIXED (no
    * convergence early-exit) — that keeps the trainer a pure function of
    * the corpus that the DuckDB twin replays as two unrolled
    * assign→update CTE chains instead of a recursive CTE. */
  val PqTrainCodes: Int = 16
  val PqTrainRounds: Int = 2

  /** Per-subspace Lloyd-trained PQ codebook — [[kmeansFit]]'s E/M steps
    * applied independently to each 16-dim subspace (the production PQ
    * trainer, closing the documented stand-in-codebook caveat on
    * [[annPq]]): deterministic init (subvectors of the first k vec_ids),
    * then `rounds` rounds of nearest-centroid assignment (broadcast
    * codebook, codegen'd FloatVecSqDist, (d, c_label) tie-break) and
    * DECIMAL-quantized mean recomputation. Empty clusters keep their
    * previous centroid (left-join coalesce — the Lloyd degeneracy guard).
    *
    * Scale shape per round: ONE subvector-corpus scan for the E-step
    * (codebook is k×subspaces×width doubles → broadcast), one shuffle
    * keyed (c_label, s, dim) for the M-step, lineage truncated per round
    * (localCheckpoint — the kmeansFit/CC-loop rule). Training cost is
    * `rounds` corpus scans regardless of cluster count. */
  private[graft] def pqTrainedCodebook(spark: SparkSession, dir: String,
      subspaces: Int = 4, width: Int = 16, k: Int = PqTrainCodes,
      rounds: Int = PqTrainRounds): DataFrame = {
    val sub = subvectors(spark, dir, subspaces, width).localCheckpoint(true)
    var cb = sub.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_label"), col("s"),
        expr("transform(sv, x -> round(cast(x as double), 6))").as("cl"))
      .localCheckpoint(true)
    val w = Window.partitionBy("vec_id", "s").orderBy("d", "c_label")
    for (_ <- 0 until rounds) {
      val assigned = sub.join(broadcast(cb), Seq("s"))
        .withColumn("d",
          org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("sv"), col("cl")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("s"), col("c_label"), col("sv"))
      val means = assigned
        .select(col("c_label"), col("s"), posexplode(col("sv")))
        .select(col("c_label"), col("s"), col("pos").as("dim"),
          round(col("col").cast("double"), 6).as("v"))
        .groupBy(col("c_label"), col("s"), col("dim"))
        .agg((expr("CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)") / count(lit(1))).as("c"))
        .groupBy(col("c_label"), col("s"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)")
          .as("cl_new"))
      cb = cb.join(means, Seq("c_label", "s"), "left")
        .select(col("c_label"), col("s"), coalesce(col("cl_new"), col("cl")).as("cl"))
        .localCheckpoint(true)
    }
    cb
  }

  /** ADC top-k over the TRAINED codebook — the same query-time dataflow
    * as [[annPq]] (codes + LUT + slot sums are codebook-agnostic), fed by
    * the MATERIALIZED [[Codebooks.pq]] table (train-once: the Lloyd pass
    * runs only when the table is absent or the corpus changed) instead
    * of the per-label stand-in. 16 Lloyd centroids per subspace vs the
    * stand-in's 10 label means: this is the query whose recall
    * [[annRecall]] measures against brute force. */
  def annPqTrained(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    adcSearch(spark, dir, Codebooks.pq(spark, dir), k)

  /** The trained pipeline replayed: two unrolled Lloyd rounds (s1/a1/m1 →
    * cb1, s2/a2/m2 → cb2), then exactly [[annPqSql]]'s codes/lut/slot
    * tail against cb2. */
  val annPqTrainedSql: String =
    """WITH emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |), sub AS (
      |  SELECT vec_id, CAST(s AS INT) AS s, embedding[s*16+1 : s*16+16] AS sv
      |  FROM emb, LATERAL (SELECT unnest(range(4)) AS s)
      |), cb0 AS (
      |  SELECT vec_id AS c_label, s,
      |         list_transform(sv, x -> round(CAST(x AS DOUBLE), 6)) AS cl
      |  FROM sub WHERE vec_id < 16
      |), s1 AS (
      |  SELECT sub.vec_id, sub.s, cb0.c_label, sub.sv,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(sv[i+1] AS DOUBLE) - cl[i+1]) * (CAST(sv[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM sub JOIN cb0 ON sub.s = cb0.s
      |), a1 AS (
      |  SELECT vec_id, s, c_label, sv FROM (
      |    SELECT vec_id, s, c_label, sv,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c_label) AS rn
      |    FROM s1) WHERE rn = 1
      |), m1 AS (
      |  SELECT c_label, s, i AS dim,
      |         CAST(sum(CAST(round(CAST(sv[i+1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |           / count(*) AS c
      |  FROM a1, LATERAL (SELECT unnest(range(16)) AS i)
      |  GROUP BY 1, 2, 3
      |), cb1m AS (
      |  SELECT c_label, s, list(c ORDER BY dim) AS cl FROM m1 GROUP BY 1, 2
      |), cb1 AS (
      |  SELECT cb0.c_label, cb0.s, COALESCE(cb1m.cl, cb0.cl) AS cl
      |  FROM cb0 LEFT JOIN cb1m ON cb0.c_label = cb1m.c_label AND cb0.s = cb1m.s
      |), s2 AS (
      |  SELECT sub.vec_id, sub.s, cb1.c_label, sub.sv,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(sv[i+1] AS DOUBLE) - cl[i+1]) * (CAST(sv[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM sub JOIN cb1 ON sub.s = cb1.s
      |), a2 AS (
      |  SELECT vec_id, s, c_label, sv FROM (
      |    SELECT vec_id, s, c_label, sv,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c_label) AS rn
      |    FROM s2) WHERE rn = 1
      |), m2 AS (
      |  SELECT c_label, s, i AS dim,
      |         CAST(sum(CAST(round(CAST(sv[i+1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |           / count(*) AS c
      |  FROM a2, LATERAL (SELECT unnest(range(16)) AS i)
      |  GROUP BY 1, 2, 3
      |), cb2m AS (
      |  SELECT c_label, s, list(c ORDER BY dim) AS cl FROM m2 GROUP BY 1, 2
      |), cb2 AS (
      |  SELECT cb1.c_label, cb1.s, COALESCE(cb2m.cl, cb1.cl) AS cl
      |  FROM cb1 LEFT JOIN cb2m ON cb1.c_label = cb2m.c_label AND cb1.s = cb2m.s
      |), scored AS (
      |  SELECT sub.vec_id, sub.s, cb2.c_label,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(sv[i+1] AS DOUBLE) - cl[i+1]) * (CAST(sv[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM sub JOIN cb2 ON sub.s = cb2.s
      |), codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, CAST(c_label AS INT) AS code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c_label) AS rn
      |    FROM scored) WHERE rn = 1
      |), q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb FROM emb WHERE vec_id < 5
      |), lut AS (
      |  SELECT q_id, cb2.s, CAST(cb2.c_label AS INT) AS code,
      |         list_sum(list_transform(range(16),
      |           i -> (CAST(q_emb[cb2.s*16+i+1] AS DOUBLE) - cl[i+1])
      |              * (CAST(q_emb[cb2.s*16+i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM q CROSS JOIN cb2
      |), slot AS (
      |  SELECT q_id, c.vec_id,
      |         sum(CASE WHEN c.s = 0 THEN l.d ELSE 0 END) AS d0,
      |         sum(CASE WHEN c.s = 1 THEN l.d ELSE 0 END) AS d1,
      |         sum(CASE WHEN c.s = 2 THEN l.d ELSE 0 END) AS d2,
      |         sum(CASE WHEN c.s = 3 THEN l.d ELSE 0 END) AS d3
      |  FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      |  WHERE c.vec_id <> l.q_id
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT q_id, vec_id, d0 + d1 + d2 + d3 AS adc_dist,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                ORDER BY d0 + d1 + d2 + d3, vec_id) AS INT) AS rank
      |  FROM slot
      |)
      |SELECT q_id, vec_id, adc_dist, rank FROM ranked
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // --- full k-means (Lloyd) fit ---------------------------------------------
  /** Complete distributed Lloyd loop composed from the E-step
    * ([[kmeansAssign]]'s broadcast-centroid scan) and the M-step
    * ([[embCentroids]]'s DECIMAL-quantized means): deterministic init
    * (the first k vectors by vec_id), iterate assign → recompute →
    * check-stability until no vector changes cluster or `maxIters`.
    * Returns the final (vec_id, cluster, sq_dist) assignment.
    *
    * Scale shape per iteration: ONE corpus scan for the E-step (centroids
    * broadcast, k×d doubles), one shuffle for the M-step aggregation
    * keyed on (cluster, dim), and a labels-vs-labels join for the
    * convergence count (two slim columns). Like the CC loop, every
    * per-round frame is `localCheckpoint`ed — iterative dataflow MUST
    * truncate lineage or round N's plan nests all N-1 predecessors.
    * Empty clusters keep their previous centroid (coalesce on the left
    * join), the standard Lloyd degeneracy guard. Truncation strategy is
    * injected like the CC loop's ([[Truncate]]): localCheckpoint
    * single-JVM, reliable checkpoint under GRAFT_CC_CHECKPOINT_DIR.
    * Quantized means make
    * every iteration bit-reproducible across partitionings, so the whole
    * fit is deterministic — asserted by the spec, run-to-run. */
  def kmeansFit(spark: SparkSession, dir: String, k: Int = 8,
                maxIters: Int = 20,
                truncate: Option[Truncate] = None): DataFrame = {
    val ck = Truncate.resolve(truncate)
    // ck.mark (lazy) + following action: each round's convergence count
    // (or the next broadcast) materializes the checkpoint inside its own
    // job instead of paying one extra job per frame (Truncate.mark).
    val embs = ck.mark(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    var cent = ck.mark(embs.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_label"),
        expr("transform(embedding, x -> round(cast(x as double), 6))").as("cl")))
    val w = Window.partitionBy("vec_id").orderBy("d", "c_label")
    def eStep(c: DataFrame): DataFrame = embs
      .crossJoin(broadcast(c))
      .withColumn("d",
        org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("embedding"), col("cl")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("c_label"), col("d"))
    var labels: DataFrame = null
    var lastAssigned: DataFrame = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val assigned = ck.mark(eStep(cent))
      converged = labels != null && {
        val changed = assigned.select(col("vec_id"), col("c_label").as("next"))
          .join(labels, "vec_id")
          .filter(col("next") =!= col("c_label")).count()
        changed == 0
      }
      labels = assigned.select(col("vec_id"), col("c_label"))
      lastAssigned = assigned
      if (!converged) {
        val means = assigned
          .select(col("c_label"), posexplode(col("embedding")))
          .select(col("c_label"), col("pos").as("dim"),
            round(col("col").cast("double"), 6).as("v"))
          .groupBy(col("c_label"), col("dim"))
          .agg((expr("CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)") / count(lit(1))).as("c"))
          .groupBy(col("c_label"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)")
            .as("cl_new"))
        cent = ck.mark(cent.join(means, Seq("c_label"), "left")
          .select(col("c_label"), coalesce(col("cl_new"), col("cl")).as("cl")))
      }
      iter += 1
    }
    // Converged exit: cent was NOT updated after the final E-step, so the
    // checkpointed assignment IS the fit — recomputing eStep(cent) here
    // would be a bit-identical full corpus scan for nothing. Only the
    // maxIters-without-convergence path needs one more E-step to reflect
    // the last M-step's centroids.
    val finalAssign = if (converged) lastAssigned else eStep(cent)
    finalAssign.select(col("vec_id"), col("c_label").cast("int").as("cluster"),
        col("d").as("sq_dist"))
      .orderBy(col("vec_id"))
  }

  // --- SRP-LSH (signed-random-projection) multi-probe top-k -----------------
  /** Plane count shared with the oracle SQL (64 buckets — the same
    * bucket-granularity reasoning as embNearDup's 8 sign bits). */
  val SrpPlanes: Int = 6

  /** Rademacher hyperplane sign for (plane, dim), derived from md5 so the
    * DuckDB twin recomputes the identical matrix (the EngineHash
    * construction, evaluated at PLAN time — the signs are data-independent
    * constants, so they fold into the projection expression instead of
    * costing a join). */
  private def srpSign(p: Int, d: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"srp:$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1 else -1
  }

  /** SRP bucket code: plane p's bit is the sign of Σ_d ±emb[d], the ±1
    * pattern hash-derived per plane. Each element quantizes to a
    * micro-unit LONG (round(v·10⁶)) and the 64-term sum is exact integer
    * arithmetic — the sign (and therefore every bucket) is reproducible
    * across partitionings AND engines; a raw double sum's sign could
    * flip on a near-zero projection.
    *
    * Evaluated by the native codegen'd expression
    * [[org.apache.spark.sql.graft.SrpSignature]]: the Column-chain
    * formulation of the same math was planes×dims (384) scalar
    * expressions in one Project, which blew the codegen method budget,
    * fell back to interpreted eval, and measured ~0.3 ms/row (1.5 s for
    * a 5k-vector corpus — the FloatVecDot lesson one level up). The
    * fused loop keeps the full-corpus bucket-assignment pass inside
    * whole-stage codegen. One scan — no explode, no join, no shuffle. */
  private[graft] def srpBucket(dims: Int = 64): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.VectorFunctions.srp_signature(col("embedding"),
      (0 until SrpPlanes).map(p => (0 until dims).map(d => srpSign(p, d))))

  /** LSH-bucketed cosine top-k: queries probe their own SRP bucket plus
    * all Hamming-1 neighbors (multi-probe — the standard recall lever
    * that costs probe-count, not corpus), candidates are re-ranked by
    * EXACT cosine. Completes the ANN family: brute force (exact
    * baseline), IVF (learned coarse partitions), PQ-ADC (compressed
    * scan), SRP-LSH (data-independent hashing — no training step, the
    * property that matters when the corpus shifts under you).
    *
    * Scale shape: the corpus streams ONCE through the codegen'd bucket
    * expression and a broadcast hash join against the 7·|Q| probe rows;
    * no corpus shuffle before the per-query ranking window. Fraction
    * scanned ≈ 7/2^planes of the corpus (multi-probe union), the
    * recall-for-throughput dial. */
  def annSrp(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val sigs = withNorm(Tables.embeddings(spark, dir)).withColumn("bucket", srpBucket())
    val probes = sigs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket").as("q_bucket"))
      .withColumn("probe", explode(array(
        col("q_bucket") +: (0 until SrpPlanes)
          .map(p => col("q_bucket").bitwiseXOR(lit(1 << p))): _*)))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sigs.join(broadcast(probes), sigs("bucket") === probes("probe"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot("embedding", "q_emb") / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annSrpSql: String =
    """WITH emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |), planes AS (
      |  SELECT CAST(p AS INT) AS p, CAST(d AS INT) AS d,
      |         CASE WHEN CAST(concat('0x', substr(md5('srp:' || p || ':' || d), 1, 15))
      |                   AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS w
      |  FROM range(6) t1(p), range(64) t2(d)
      |), ps AS (
      |  SELECT e.vec_id, pl.p,
      |         sum(CAST(pl.w AS BIGINT) *
      |             CAST(round(CAST(e.embedding[pl.d + 1] AS DOUBLE) * 1000000.0, 0)
      |                  AS BIGINT)) AS s
      |  FROM emb e CROSS JOIN planes pl
      |  GROUP BY 1, 2
      |), sigs AS (
      |  SELECT vec_id, CAST(sum(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
      |  FROM ps GROUP BY 1
      |), c AS (
      |  SELECT e.vec_id, e.embedding,
      |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS norm,
      |         s.bucket
      |  FROM emb e JOIN sigs s USING (vec_id)
      |), q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm, bucket AS q_bucket
      |  FROM c WHERE vec_id < 5
      |), probes AS (
      |  SELECT q_id, q_emb, q_norm,
      |         CASE WHEN i = 0 THEN q_bucket
      |              ELSE xor(q_bucket, CAST(1 << (i - 1) AS INT)) END AS probe
      |  FROM q, range(7) t(i)
      |), scored AS (
      |  SELECT p.q_id, c.vec_id,
      |         list_dot_product(c.embedding::DOUBLE[], p.q_emb::DOUBLE[]) / (c.norm * p.q_norm) AS cos_sim
      |  FROM c JOIN probes p ON c.bucket = p.probe
      |  WHERE c.vec_id <> p.q_id
      |)
      |SELECT q_id, vec_id, cos_sim, rank FROM (
      |  SELECT q_id, vec_id, cos_sim,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      |  FROM scored
      |) WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // --- IVF-style partition probe -------------------------------------------
  /** IVF top-k: the corpus is pre-partitioned by a coarse quantizer (the
    * fixture's `label` column stands in for the assigned centroid id); each
    * query probes only its own partition's inverted list — 1/k of the
    * corpus scanned per query. Same ranking-window shape as brute force, so
    * swapping quantizers never touches the query. */
  def annIvf(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val corpus  = withNorm(Tables.embeddings(spark, dir))
    val queries = withNorm(Tables.embeddings(spark, dir).filter(col("vec_id") < 5))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("q_label"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(broadcast(queries), corpus("label") === queries("q_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot("embedding", "q_emb") / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val annIvfSql: String =
    """WITH c AS (
      |  SELECT vec_id, label, embedding,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm, label AS q_label
      |  FROM c WHERE vec_id < 5
      |), scored AS (
      |  SELECT q.q_id, c.vec_id,
      |         list_dot_product(c.embedding::DOUBLE[], q.q_emb::DOUBLE[]) / (c.norm * q.q_norm) AS cos_sim
      |  FROM c JOIN q ON c.label = q.q_label
      |  WHERE c.vec_id <> q.q_id
      |)
      |SELECT q_id, vec_id, cos_sim, rank FROM (
      |  SELECT q_id, vec_id, cos_sim,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      |  FROM scored
      |) WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // --- IVF with a TRAINED coarse quantizer ----------------------------------
  /** Cluster count and probe width, shared with the oracle SQL. */
  val IvfTrainClusters: Int = 8
  val IvfProbes: Int = 2

  /** IVF top-k over a Lloyd-TRAINED coarse quantizer instead of the
    * fixture's label column ([[annIvf]]'s stand-in): the quantizer is
    * [[pqTrainedCodebook]] degenerated to ONE subspace spanning the whole
    * vector (subspaces=1, width=64, k=8) — the same fixed-round trainer,
    * so the DuckDB twin replays it with the same two unrolled CTE chains.
    * Each query probes its `IvfProbes` nearest centroids (multi-probe,
    * the standard recall lever: probe cost scales with nprobe, never the
    * corpus) and candidates are re-ranked by EXACT cosine.
    *
    * Scale shape: centroids broadcast twice (corpus assignment, query
    * probe ranking); the corpus-side join keys on cluster id against the
    * broadcast probe list — one scan, no shuffle of the corpus beyond
    * the final per-query top-k. */
  def annIvfTrained(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val cb = Codebooks.ivf(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    ivfSearchFrom(emb, cb, assignClusters(emb, cb), k)
  }

  /** Full-vector cluster assignment of an embeddings FRAME against a
    * coarse quantizer table (c_label, s, cl) → (vec_id, cluster) — the
    * [[annIvfTrained]] assignment step, frame-parameterized so the
    * persisted-index maintenance path ([[AnnIndex]]: stored codebook,
    * incremental batches off the change feed) provably assigns EXACTLY
    * as the in-query path does. */
  private[graft] def assignClusters(emb: DataFrame, cb: DataFrame): DataFrame =
    assignCodes(subvectorsFrom(emb, 1, 64), cb)
      .select(col("vec_id"), col("code").as("cluster"))

  /** IVF multi-probe + exact-cosine re-rank from a GIVEN codebook and
    * assignment relation — shared by the in-query trained path and the
    * persisted-index serve path ([[AnnIndex.searchFrom]]), which is what
    * makes "stored-index search == trainer-replay oracle" a structural
    * property rather than a hope. Queries are `corpus.vec_id < 5`, the
    * family's fixed probe set. */
  private[graft] def ivfSearchFrom(emb: DataFrame, cb: DataFrame,
                                   clusters: DataFrame, k: Int = 10): DataFrame = {
    val corpus = withNorm(emb)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val queries = withNorm(emb.filter(col("vec_id") < 5))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val wp = Window.partitionBy("q_id").orderBy(col("pd"), col("cluster"))
    val probes = queries
      .crossJoin(broadcast(cb.select(col("c_label").cast("int").as("cluster"), col("cl"))))
      .withColumn("pd",
        org.apache.spark.sql.graft.VectorFunctions.vec_sqdist(col("q_emb"), col("cl")))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= IvfProbes)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("cluster"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(clusters.select(col("vec_id"),
        col("cluster").cast("int").as("cluster")), "vec_id")
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot("embedding", "q_emb") / (col("norm") * col("q_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The unrolled full-vector Lloyd trainer (init on vec_id<8, two
    * assign→update rounds — [[Codebooks.ivf]]'s exact recipe) as a CTE
    * chain ending in `cb2(c_label, cl)`. ONE text shared by every oracle
    * that replays the trained coarse quantizer ([[annIvfTrainedSql]],
    * [[semDedupTrainedSql]]) so the replays cannot drift apart. A `def`,
    * not a `val`: semDedupTrainedSql interpolates it from EARLIER in this
    * object's initialization order, and a forward-referenced val is null
    * at that point. */
  private[graft] def ivfTrainerCtes: String =
    """emb AS (
      |  SELECT vec_id, embedding FROM embeddings
      |), cb0 AS (
      |  SELECT vec_id AS c_label,
      |         list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cl
      |  FROM emb WHERE vec_id < 8
      |), s1 AS (
      |  SELECT emb.vec_id, cb0.c_label, emb.embedding,
      |         list_sum(list_transform(range(64),
      |           i -> (CAST(embedding[i+1] AS DOUBLE) - cl[i+1])
      |              * (CAST(embedding[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM emb CROSS JOIN cb0
      |), a1 AS (
      |  SELECT vec_id, c_label, embedding FROM (
      |    SELECT vec_id, c_label, embedding,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label) AS rn
      |    FROM s1) WHERE rn = 1
      |), m1 AS (
      |  SELECT c_label, i AS dim,
      |         CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |           / count(*) AS c
      |  FROM a1, LATERAL (SELECT unnest(range(64)) AS i)
      |  GROUP BY 1, 2
      |), cb1m AS (
      |  SELECT c_label, list(c ORDER BY dim) AS cl FROM m1 GROUP BY 1
      |), cb1 AS (
      |  SELECT cb0.c_label, COALESCE(cb1m.cl, cb0.cl) AS cl
      |  FROM cb0 LEFT JOIN cb1m ON cb0.c_label = cb1m.c_label
      |), s2 AS (
      |  SELECT emb.vec_id, cb1.c_label, emb.embedding,
      |         list_sum(list_transform(range(64),
      |           i -> (CAST(embedding[i+1] AS DOUBLE) - cl[i+1])
      |              * (CAST(embedding[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM emb CROSS JOIN cb1
      |), a2 AS (
      |  SELECT vec_id, c_label, embedding FROM (
      |    SELECT vec_id, c_label, embedding,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label) AS rn
      |    FROM s2) WHERE rn = 1
      |), m2 AS (
      |  SELECT c_label, i AS dim,
      |         CAST(sum(CAST(round(CAST(embedding[i+1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |           / count(*) AS c
      |  FROM a2, LATERAL (SELECT unnest(range(64)) AS i)
      |  GROUP BY 1, 2
      |), cb2m AS (
      |  SELECT c_label, list(c ORDER BY dim) AS cl FROM m2 GROUP BY 1
      |), cb2 AS (
      |  SELECT cb1.c_label, COALESCE(cb2m.cl, cb1.cl) AS cl
      |  FROM cb1 LEFT JOIN cb2m ON cb1.c_label = cb2m.c_label
      |)""".stripMargin

  /** The serve tail — assignment, norms, queries, nprobe-2 probe
    * ranking, exact-cosine re-rank — parameterized by a KEEP predicate
    * over `vec_id` applied to the assignment relation and the query set
    * (the trainer always sees the FULL corpus: a stored codebook does
    * not forget deleted vectors, their assignments and queries do —
    * exactly [[graft.operators.AnnIndex.applyDeletes]]'s semantics).
    * `keep = "TRUE"` is the undeleted serve ([[annIvfTrainedSql]]). */
  private def ivfServeTail(keep: String): String =
    """s3 AS (
      |  SELECT emb.vec_id, cb2.c_label,
      |         list_sum(list_transform(range(64),
      |           i -> (CAST(embedding[i+1] AS DOUBLE) - cl[i+1])
      |              * (CAST(embedding[i+1] AS DOUBLE) - cl[i+1]))) AS d
      |  FROM emb CROSS JOIN cb2
      |), cl AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, CAST(c_label AS INT) AS cluster,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, c_label) AS rn
      |    FROM s3) WHERE rn = 1 AND (""".stripMargin + keep + """)
      |), c AS (
      |  SELECT vec_id, embedding,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      |  FROM emb
      |), q AS (
      |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm FROM c
      |  WHERE vec_id < 5 AND (""".stripMargin + keep + """)
      |), probe AS (
      |  SELECT q_id, cluster FROM (
      |    SELECT q.q_id, CAST(cb2.c_label AS INT) AS cluster,
      |           row_number() OVER (PARTITION BY q.q_id ORDER BY
      |             list_sum(list_transform(range(64),
      |               i -> (CAST(q_emb[i+1] AS DOUBLE) - cl[i+1])
      |                  * (CAST(q_emb[i+1] AS DOUBLE) - cl[i+1]))), cb2.c_label) AS rn
      |    FROM q CROSS JOIN cb2) WHERE rn <= 2
      |), scored AS (
      |  SELECT q.q_id, c.vec_id,
      |         list_dot_product(c.embedding::DOUBLE[], q.q_emb::DOUBLE[])
      |           / (c.norm * q.q_norm) AS cos_sim
      |  FROM c
      |  JOIN cl ON c.vec_id = cl.vec_id
      |  JOIN probe ON cl.cluster = probe.cluster
      |  JOIN q ON probe.q_id = q.q_id
      |  WHERE c.vec_id <> q.q_id
      |)
      |SELECT q_id, vec_id, cos_sim, rank FROM (
      |  SELECT q_id, vec_id, cos_sim,
      |         CAST(row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      |  FROM scored
      |) WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** The trainer replayed full-vector (one subspace), then assignment,
    * nprobe-2 probe ranking, and exact-cosine re-rank. */
  val annIvfTrainedSql: String = s"WITH $ivfTrainerCtes, ${ivfServeTail("TRUE")}"

  /** The DELETE-AWARE serve twin ([[graft.operators.AnnIndex]]'s
    * `occ_ann_delete`): the trainer replays on the FULL corpus (the
    * stored codebook predates the delete), but assignments and queries
    * keep only `vec_id % 7 <> 3` — the oracle for "post-delete search ==
    * search over the filtered corpus". */
  val annIvfDeleteSql: String =
    s"WITH $ivfTrainerCtes, ${ivfServeTail("vec_id % 7 <> 3")}"

  // --- recall@k vs brute force ----------------------------------------------
  /** Recall@10 of every approximate ANN variant against the exact
    * brute-force top-10 — the metric that makes the whole family's
    * fitness measurable instead of asserted: per query, how many of the
    * true top-10 neighbors does each index surface? Composes the four
    * registered queries verbatim (brute force = truth; stand-in-codebook
    * PQ, Lloyd-trained PQ, label-partitioned IVF = candidates), so the
    * number this query reports is exactly the recall of the queries a
    * user runs.
    *
    * Scale shape: each component keeps its own (already audited) plan;
    * the overlap join keys on (q_id, vec_id) — queries×k rows per side,
    * broadcast-sized by construction no matter the corpus.
    *
    * The fixture's embeddings are random gaussians — the documented PQ
    * worst case (distances concentrate, quantization erases the margin),
    * so absolute recalls here are floors, not representative numbers;
    * the spec pins trained-PQ ≥ stand-in-PQ on this fixture, the
    * direction that must survive any corpus. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // k is NOT a parameter: every component twin pins its own top-10,
    // so a different k here would silently diverge from all five oracles
    val k = 10
    val bf = annBruteForce(spark, dir, k).select(col("q_id"), col("vec_id"))
    def hits(cand: DataFrame, name: String): DataFrame = cand
      .select(col("q_id"), col("vec_id"), lit(1L).as(name))
    bf.join(hits(annPq(spark, dir, k), "h_pq"), Seq("q_id", "vec_id"), "left")
      .join(hits(annPqTrained(spark, dir, k), "h_tr"), Seq("q_id", "vec_id"), "left")
      .join(hits(annIvf(spark, dir, k), "h_ivf"), Seq("q_id", "vec_id"), "left")
      .join(hits(annIvfTrained(spark, dir, k), "h_ivt"), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("h_pq"), lit(0L))).as("hits_pq"),
        sum(coalesce(col("h_tr"), lit(0L))).as("hits_pq_trained"),
        sum(coalesce(col("h_ivf"), lit(0L))).as("hits_ivf"),
        sum(coalesce(col("h_ivt"), lit(0L))).as("hits_ivf_trained"))
      .select(col("q_id"), col("hits_pq"), col("hits_pq_trained"),
        col("hits_ivf"), col("hits_ivf_trained"),
        (col("hits_pq").cast("double") / k).as("recall_pq"),
        (col("hits_pq_trained").cast("double") / k).as("recall_pq_trained"),
        (col("hits_ivf").cast("double") / k).as("recall_ivf"),
        (col("hits_ivf_trained").cast("double") / k).as("recall_ivf_trained"))
      .orderBy(col("q_id"))
  }

  /** The component twins nested verbatim as CTEs (DuckDB scopes each
    * nested WITH), so the oracle recomputes recall from the SAME four
    * definitions the registry checks individually. */
  val annRecallSql: String =
    s"""WITH bf AS ($annBruteForceSql
       |), pq AS ($annPqSql
       |), tr AS ($annPqTrainedSql
       |), ivf AS ($annIvfSql
       |), ivt AS ($annIvfTrainedSql
       |)
       |SELECT bf.q_id,
       |       CAST(sum(CASE WHEN pq.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_pq,
       |       CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_pq_trained,
       |       CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_ivf,
       |       CAST(sum(CASE WHEN ivt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_ivf_trained,
       |       CAST(sum(CASE WHEN pq.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_pq,
       |       CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_pq_trained,
       |       CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_ivf,
       |       CAST(sum(CASE WHEN ivt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_ivf_trained
       |FROM bf
       |LEFT JOIN pq  ON bf.q_id = pq.q_id  AND bf.vec_id = pq.vec_id
       |LEFT JOIN tr  ON bf.q_id = tr.q_id  AND bf.vec_id = tr.vec_id
       |LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.vec_id = ivf.vec_id
       |LEFT JOIN ivt ON bf.q_id = ivt.q_id AND bf.vec_id = ivt.vec_id
       |GROUP BY bf.q_id
       |ORDER BY bf.q_id""".stripMargin
}
