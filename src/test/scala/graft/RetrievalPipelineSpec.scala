package graft

import java.nio.file.Files

import graft.functions.TextAnalytics
import graft.operators.Hybrid
import org.apache.spark.sql.functions._

/** End-to-end composition proof for the RETRIEVAL family (VERDICT r13
  * ask #5 — the CurationPipelineSpec analog): doc_chunks cuts the corpus,
  * a deterministic hashed-BoW embedder vectorizes the chunks, both tables
  * go through the TABLE LAYER (parquet dir), and the registered
  * `hybrid_topk_multi` operator retrieves over them. Catches interface
  * drift between the chunker, the arms, and the fusion:
  *   - chunker drift: chunk_md5 must equal the md5 of the text slice the
  *     arms actually consume (same substring arithmetic);
  *   - arm drift: both arms must accept the chunk-keyed tables and share
  *     the id space;
  *   - fusion drift: a PLANTED probe-1 disagreement (a term-stuffed chunk
  *     the lexical arm must rank #1 whose embedding is orthogonal to the
  *     probe, and a term-free chunk whose embedding IS the probe's) makes
  *     RRF non-trivially combine ranks — and the fused scores are
  *     re-derived independently in the JVM and compared exactly (integer
  *     RRF has no float slack).
  */
class RetrievalPipelineSpec extends SparkSpec {

  import spark.implicits._

  private val Dims = 64

  private def md5bits60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Deterministic hashed bag-of-words chunk embedder (driver-side test
    * fixture builder — the corpus at sf0.001 is ~1k chunks; the product
    * path under test is everything DOWNSTREAM of the embedding column). */
  private def embed(text: String): Array[Float] = {
    val v = Array.fill(Dims)(0f)
    text.split(" ", -1).filter(_.nonEmpty)
      .foreach(t => v((md5bits60(t) % Dims).toInt) += 1f)
    v
  }

  test("chunk -> embed -> table layer -> hybrid_topk_multi, with a planted arm disagreement") {
    val stride = TextAnalytics.ChunkStride
    val size = TextAnalytics.ChunkSize

    // stage 1: chunk via the registered operator, and rebuild each
    // chunk's text with the SAME slice arithmetic — the md5 equality is
    // the chunker-interface drift check
    val chunkText = Tables.documents(spark, sf)
      .join(TextAnalytics.docChunks(spark, sf), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"),
        expr(s"substring(text, chunk_idx * $stride + 1, $size)").as("ctext"))
    assert(chunkText.filter(md5(col("ctext")) =!= col("chunk_md5")).count() == 0,
      "chunker metadata drifted from the text slices the arms consume")

    // stage 2: the chunk-keyed retrieval corpus. chunk_key keeps probe
    // ids stable: chunk 0 of docs 0-4 lands on ids 0-4, the arms' probe
    // convention (vec_id < 5).
    val chunks = chunkText
      .select((col("chunk_idx") * 100000L + col("doc_id")).as("doc_id"),
        col("ctext").as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(chunks.size > Hybrid.ArmK,
      "fixture must yield more chunks than one arm's candidate pool")

    // planted disagreement for probe 1 (terms "scan filter"):
    //   A — lexically saturated, embedding orthogonal to every hashed-BoW
    //       vector (a dimension no fixture token hashes to is not
    //       guaranteed, so use a large spike on one dim: cosine to the
    //       probe is then bounded by that dim's share — near 0);
    //   B — zero probe terms, embedding = the probe's own vector.
    val probe1Emb = embed(chunks.find(_._1 == 1L)
      .getOrElse(fail("probe chunk id 1 missing")). _2)
    val aId = 900001L
    val bId = 900002L
    val aText = Seq.fill(12)("scan filter").mkString(" ")
    val bText = "quiet unrelated filler nothing shared here whatsoever"
    val aEmb = { val v = Array.fill(Dims)(0f); v(Dims - 1) = 1000f; v }

    val dir = Files.createTempDirectory("retrieval").toString
    (chunks.map { case (id, t) => (id, t, "en", "chunk", t.length.toLong) } ++
      Seq((aId, aText, "en", "plant", aText.length.toLong),
          (bId, bText, "en", "plant", bText.length.toLong)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (chunks.map { case (id, t) => (id, embed(t), 0) } ++
      Seq((aId, aEmb, 0), (bId, probe1Emb, 0)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // stage 3: the REGISTERED fused retrieval over the derived tables
    val fused = Hybrid.hybridTopKMulti(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(0).toInt,
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        r.getLong(4)))
      .map { case (id, q, lr, vr, s) => (q, id, lr, vr, s) }

    // shape: every probe fused, bounded size, ranks in-arm-bounds
    val byProbe = fused.groupBy(_._1)
    assert(byProbe.keySet == Set(0, 1, 2, 3, 4), s"probes fused: ${byProbe.keySet}")
    byProbe.foreach { case (q, rows) =>
      assert(rows.length <= Hybrid.FusedK, s"probe $q fused ${rows.length} rows")
      assert(rows.forall { case (_, _, lr, vr, _) =>
        lr.forall(r => r >= 1 && r <= Hybrid.ArmK) &&
          vr.forall(r => r >= 1 && r <= Hybrid.ArmK) && (lr.isDefined || vr.isDefined)
      })
    }

    // the planted disagreement: probe 1's lexical #1 is A (saturated tf,
    // minimal dl), its vector #1 is NOT A (A's embedding is orthogonal),
    // and B reaches the vector top despite zero lexical evidence
    val q1 = fused.filter(_._1 == 1)
    val lexTop = q1.find(_._3.contains(1)).map(_._2)
    val vecTop = q1.find(_._4.contains(1)).map(_._2)
    assert(lexTop.contains(aId), s"planted term-stuffed chunk must win probe 1's lexical arm, got $lexTop")
    assert(vecTop.isDefined && vecTop != lexTop,
      s"arms must disagree on probe 1 (lex=$lexTop vec=$vecTop)")
    val bRow = q1.find(_._2 == bId)
    assert(bRow.exists(r => r._4.exists(_ <= 3) && r._3.isEmpty),
      s"planted embedding twin must reach the vector top with no lexical rank: $bRow")

    // fusion arithmetic: recompute integer RRF from the arms' own ranks
    // and compare exactly (per probe, the operator's scores and order)
    def rrf(r: Option[Int]): Long =
      r.map(x => Hybrid.RrfScale / (Hybrid.RrfK + x)).getOrElse(0L)
    q1.foreach { case (_, id, lr, vr, s) =>
      assert(s == rrf(lr) + rrf(vr), s"RRF mismatch for chunk $id")
    }
    val resorted = q1.sortBy { case (_, id, _, _, s) => (-s, id) }.map(_._2).toSeq
    assert(resorted == q1.map(_._2).toSeq, "fused order must be (rrf desc, doc_id)")
  }
}
