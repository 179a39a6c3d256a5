package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation strategy for multi-consumer and iterative
  * dataflows: every frame the connected-components query
  * [[Dedup.dedupGroups]] materializes (the content representatives, the
  * edge table and, past one edge partition, each round of the
  * label-propagation loop in [[Dedup.components]]), and the k-means loop
  * in [[Similarity]].
  *
  * Iterative plans MUST truncate lineage each round or round N's logical
  * plan nests all N-1 predecessors. HOW they truncate is a deployment
  * decision, injected rather than hardcoded:
  *
  *   - [[Truncate.Local]] — `localCheckpoint(eager)`: executor-local
  *     storage, no filesystem round-trip. Correct and fast single-JVM
  *     (tests, local[32]); on a real cluster a lost executor loses its
  *     blocks and the job dies, because the truncated lineage cannot
  *     recompute them.
  *   - [[Truncate.Reliable]] — `checkpoint(eager)` to a reliable
  *     checkpoint dir (HDFS/object store on a cluster): survives executor
  *     loss, costs a write+read of each round's frame. The at-100TB
  *     default.
  *
  * Resolution: callers that take `Option[Truncate] = None` resolve the
  * default from `GRAFT_CC_CHECKPOINT_DIR` — set, it selects
  * `Reliable(dir)`; unset, `Local`. That lets the whole one-shot query
  * registry (Verify/Bench, which construct queries only from
  * `(spark, sfDir)`) run through the reliable path without a signature
  * change, which is how the CC family's oracle entries are re-verified on
  * the cluster-safe path (TruncateSpec + the committed
  * CORRECTNESS_r11_reliable_cc artifact).
  */
sealed trait Truncate {
  def apply(df: DataFrame): DataFrame

  /** Lazy form — mark the frame for truncation and let the CALLER's next
    * action materialize it, fusing the truncation job with that action
    * (an iterative loop otherwise pays one extra Spark job per round just
    * to materialize the checkpoint, pure scheduling latency on small
    * loop tables). Only [[Truncate.Local]] can defer safely: a non-eager
    * RELIABLE checkpoint recomputes the whole frame a second time to
    * write it (the classic `rdd.checkpoint` double-computation), so
    * [[Truncate.Reliable]] keeps eager semantics here. Callers must
    * run an action on (a child of) the returned frame before the next
    * round, which every loop in this repo does (the convergence count /
    * the weights broadcast). */
  def mark(df: DataFrame): DataFrame = apply(df)
}

object Truncate {

  case object Local extends Truncate {
    def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)
    override def mark(df: DataFrame): DataFrame = df.localCheckpoint(false)
  }

  /** Reliable checkpoint into `dir`. Sets the SparkContext checkpoint dir
    * on first use only: `setCheckpointDir` APPENDS a fresh UUID
    * subdirectory (and mkdirs it — an RPC on HDFS/object stores), so the
    * stored value never string-equals `dir` and a naive equality guard
    * would re-set on every truncation of every loop round, scattering
    * each round's blocks across new directories. Idempotence therefore
    * checks containment: is the current checkpoint dir a child of `dir`? */
  final case class Reliable(dir: String) extends Truncate {
    private def pathOf(s: String): String = {
      // Hadoop Path, not java.net.URI: legal filesystem paths can be
      // URI-ILLEGAL (spaces), and a scheme'd path with a space
      // ("hdfs://nn/check point") must still strip its scheme — falling
      // back to File.getAbsolutePath there would cwd-prefix the string,
      // the containment check would fail every call, and setCheckpointDir
      // would re-run per truncation (re-scattering blocks across fresh
      // UUID dirs, the exact failure this class exists to prevent).
      // Path's own parser handles spaces; only a genuinely unparseable
      // string (e.g. a bare ':') falls back to local-path resolution.
      // keep scheme+authority in the normalized form (ADVICE r12: path
      // alone would conflate hdfs://nnA/ck with hdfs://nnB/ck — or a
      // file:/ck with an hdfs one — and skip setCheckpointDir when the
      // configured filesystem actually differs). Scheme-less strings
      // normalize to file:// like the fallback, so the common
      // "/tmp/ck" vs Spark's own "file:/tmp/ck" spelling still matches.
      val viaPath =
        try {
          val u = new org.apache.hadoop.fs.Path(s).toUri
          if (u.getScheme == null) None
          else Option(u.getPath).map(p =>
            u.getScheme + "://" + Option(u.getAuthority).getOrElse("") + p)
        } catch { case _: IllegalArgumentException => None }
      viaPath.getOrElse("file://" + new java.io.File(s).getAbsolutePath)
        .replaceAll("/+$", "")
    }
    def apply(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      val wanted = pathOf(dir)
      val alreadyUnder =
        sc.getCheckpointDir.exists(p => pathOf(p).startsWith(wanted + "/"))
      if (!alreadyUnder) sc.setCheckpointDir(dir)
      df.checkpoint(true)
    }
  }

  /** Env-resolved default: `GRAFT_CC_CHECKPOINT_DIR` ⇒ [[Reliable]],
    * else [[Local]]. */
  def resolve(explicit: Option[Truncate]): Truncate =
    explicit.getOrElse(
      sys.env.get("GRAFT_CC_CHECKPOINT_DIR").map(Reliable).getOrElse(Local))
}
