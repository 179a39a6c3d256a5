package graft

import graft.functions.Bpe
import org.apache.spark.sql.functions._

/** Greedy longest-prefix subword counting ([[Bpe]]): golden hand-walked
  * counts, the ≥-whitespace invariant, and the structural contracts the
  * pack/budget twins rely on.
  */
class BpeSpec extends SparkSpec {

  private def countOf(texts: (Long, String)*): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    texts.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), Bpe.countCol.as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("golden greedy walks: hand-computed piece counts") {
    val got = countOf(
      // te|st|ing — 'test' not in V4, 'te' consumes 2, 'st' 2, then 'ing'
      1L -> "testing",
      // the (V3, one piece)
      2L -> "the",
      // x|y|z — no units: one piece per char
      3L -> "xyz",
      // tion (V4, one piece)
      4L -> "tion",
      // a|b word boundaries: two words, one piece each
      6L -> "a b",
      // empty text: split gives [""], zero pieces
      7L -> "",
      // ment|or: V4 then V2
      8L -> "mentor")
    assert(got(1L) == 3L)
    assert(got(2L) == 1L)
    assert(got(3L) == 3L)
    assert(got(4L) == 1L)
    assert(got(6L) == 2L)
    assert(got(7L) == 0L)
    assert(got(8L) == 2L)
  }

  test("subword count is >= whitespace count on the whole fixture corpus") {
    val df = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("ws"),
        Bpe.countCol.as("bpe"),
        length(col("text")).cast("long").as("chars"))
    val bad = df.filter(col("bpe") < col("ws")).count()
    assert(bad == 0, "every nonempty word is at least one piece")
    // and <= char count (a piece consumes at least one char)
    assert(df.filter(col("bpe") > col("chars")).count() == 0)
  }

  test("Spark fold and DuckDB-shaped recursion agree: the ladder is shared by construction") {
    // the two formulations are generated from the same stepCase ladder;
    // this pins the Spark side against an independent Scala reimplementation
    def scalaCount(text: String): Long =
      text.split(" ", -1).filter(_.nonEmpty).map { w =>
        var pos = 0; var n = 0L
        while (pos < w.length) {
          val rem = w.length - pos
          if (rem >= 4 && Bpe.V4.contains(w.substring(pos, pos + 4))) pos += 4
          else if (rem >= 3 && Bpe.V3.contains(w.substring(pos, pos + 3))) pos += 3
          else if (rem >= 2 && Bpe.V2.contains(w.substring(pos, pos + 2))) pos += 2
          else pos += 1
          n += 1
        }
        n
      }.sum
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .limit(200).collect().map(r => (r.getLong(0), r.getString(1)))
    val spark_ = countOf(docs.toSeq: _*)
    docs.foreach { case (id, text) =>
      assert(spark_(id) == scalaCount(text), s"doc $id diverged")
    }
  }

  test("bpe_count under a caller-supplied vocabulary (the 50k-vocab upgrade path)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{BpeFunctions, BpeVocab}
    val v = new BpeVocab(Seq("abcd"), Seq("qrs"), Seq("xy"))
    def countWith(s: String): Long =
      Seq(Tuple1(s)).toDF("text")
        .select(BpeFunctions.bpe_count(col("text"), v).as("n")).first().getLong(0)
    assert(countWith("abcdxyz") == 3L)      // abcd|xy|z
    assert(countWith("qrsqrs abcd") == 3L)  // qrs|qrs + abcd
    assert(countWith("zz") == 2L)           // no unit matches -> z|z
    // vocab validation is loud
    intercept[IllegalArgumentException](new BpeVocab(Seq("abc"), Nil, Nil))
  }

  test("arbitrary-length byte-level units: greedy longest-match goldens (r13 general kernel)") {
    import org.apache.spark.sql.graft.BpeVocab
    // mixed unit lengths 1/5/7 + multi-byte UTF-8 + CJK — everything the
    // legacy 4/3/2-ASCII packed probe rejected
    val v = BpeVocab.fromUnits(Seq(
      "hello".getBytes("UTF-8"),          // 5 bytes
      "goodbye".getBytes("UTF-8"),        // 7 bytes
      "q".getBytes("UTF-8"),              // 1 byte
      "é".getBytes("UTF-8"),              // 2 bytes, non-ASCII
      "日本".getBytes("UTF-8")))           // 6 bytes, CJK
    assert(v.count("hello") == 1L)
    assert(v.count("hellogoodbye") == 2L)        // hello|goodbye
    assert(v.count("helloo") == 2L)              // hello|o (byte fallback)
    assert(v.count("qqq") == 3L)
    assert(v.count("café") == 4L)                // c|a|f|é
    assert(v.count("日本語") == 4L)               // 日本 then 語 = 3 fallback bytes
    assert(v.count("hello goodbye q") == 3L)     // word split preserved
    assert(v.count("") == 0L)
    // longest-match beats a shorter prefix: add a prefix unit and confirm
    // the longer one still wins
    val v2 = BpeVocab.fromUnits(Seq(
      "he".getBytes("UTF-8"), "hello".getBytes("UTF-8")))
    assert(v2.count("hello") == 1L)
    assert(v2.count("hell") == 3L)               // he|l|l
  }

  test("byte vs codepoint fallback accounting (the CJK undercount fix)") {
    import org.apache.spark.sql.graft.BpeVocab
    val byteLevel = BpeVocab.fromUnits(Seq("zz".getBytes("UTF-8")), byteFallback = true)
    val cpLevel = BpeVocab.fromUnits(Seq("zz".getBytes("UTF-8")), byteFallback = false)
    // é is 2 UTF-8 bytes / 1 codepoint
    assert(byteLevel.count("é") == 2L)
    assert(cpLevel.count("é") == 1L)
    // 語 is 3 bytes / 1 codepoint; supplementary 𝄞 (U+1D11E) is 4 bytes
    assert(byteLevel.count("語") == 3L)
    assert(cpLevel.count("語") == 1L)
    assert(byteLevel.count("𝄞") == 4L)
    assert(cpLevel.count("𝄞") == 1L)
    // pure ASCII: the two conventions agree
    assert(byteLevel.count("azza zz") == 4L && cpLevel.count("azza zz") == 4L)
  }

  test("GPT-2 merges.txt loader: published format round-trips to byte units") {
    import org.apache.spark.sql.graft.BpeVocab
    // the well-known alphabet facts from gpt2 encoder.py bytes_to_unicode:
    // printable latin-1 maps to itself, space (0x20) maps to 'Ġ' (U+0120),
    // newline (0x0A) to 'Ċ' (U+010A)
    assert(BpeVocab.gpt2ByteEncoder(0x20.toByte) == 'Ġ')
    assert(BpeVocab.gpt2ByteEncoder(0x0A.toByte) == 'Ċ')
    assert(BpeVocab.gpt2ByteEncoder('t'.toByte) == 't')
    assert(BpeVocab.gpt2ByteDecoder('Ġ') == 0x20.toByte)
    // decoder and encoder are exact inverses over all 256 bytes
    assert(BpeVocab.gpt2ByteDecoder.size == 256 && BpeVocab.gpt2ByteEncoder.size == 256)
    (0 until 256).foreach { b =>
      assert(BpeVocab.gpt2ByteDecoder(BpeVocab.gpt2ByteEncoder(b.toByte)) == b.toByte)
    }
    // a real header + real GPT-2 merge lines (the first published merges
    // are "Ġ t", "Ġ a", "h e", "i n", "r e", "o n" — public knowledge)
    val merges = Seq(
      "#version: 0.2",
      "Ġ t", "h e", "i n", "r e", "o n", "t he")
    val v = BpeVocab.fromGpt2Merges(merges.iterator)
    // "Ġt" = [0x20,'t']: a unit containing a space byte — cannot occur at
    // a word START under the single-space split (the space is the
    // delimiter), exactly like GPT-2's pre-tokenizer attaches the space
    // to the following word. Interior bytes still match: none here, so
    // assert on the pure-ASCII merges instead.
    assert(v.count("the") == 1L)     // "the" merge result matches whole word
    assert(v.count("he") == 1L)
    assert(v.count("rein") == 2L)    // re|in
    assert(v.count("xin") == 2L)     // x|in
    // malformed alphabet char is loud
    intercept[IllegalArgumentException](
      BpeVocab.fromGpt2Merges(Seq(" x").iterator))
    // malformed line shape is loud
    intercept[IllegalArgumentException](
      BpeVocab.fromGpt2Merges(Seq("a b c").iterator))
  }

  test("merge-rank BPE mode replays merges in file order (and diverges from greedy where it must)") {
    import org.apache.spark.sql.graft.{BpeFunctions, BpeVocab}
    import spark.implicits._
    // merges: (c,d) rank0 -> cd, (b,c) rank1 -> bc, (cd,e) rank2 -> cde
    val lines = Seq("#version: 0.2", "c d", "b c", "cd e")
    val rankedV = BpeVocab.fromGpt2Merges(lines.iterator, ranked = true)
    val greedyV = BpeVocab.fromGpt2Merges(lines.iterator)
    // the canonical divergence: ranked merges (c,d) FIRST because its
    // rank is lower, yielding [b, cde] = 2; greedy longest-match eats
    // "bc" at position 0 and strands d,e -> 3
    assert(rankedV.count("bcde") == 2L)
    assert(greedyV.count("bcde") == 3L)
    // where the orders agree, the counts agree
    assert(rankedV.count("cde") == 1L && greedyV.count("cde") == 1L)
    assert(rankedV.count("cd") == 1L && greedyV.count("cd") == 1L)
    assert(rankedV.count("xyz") == 3L && greedyV.count("xyz") == 3L)
    // word split + multi-byte fallback behave byte-level in both modes
    assert(rankedV.count("cd cd") == 2L)
    assert(rankedV.count("é") == 2L)
    assert(rankedV.count("") == 0L)
    // rank-order violation (a side never produced) is loud
    intercept[IllegalArgumentException](
      BpeVocab.fromGpt2Merges(Seq("cd e").iterator, ranked = true))
    // the ranked table rides the native expression like any vocab
    // (serialized into codegen as a reference object)
    val viaExpr = Seq((1L, "bcde bcde zz")).toDF("doc_id", "text")
      .select(BpeFunctions.bpe_count(col("text"), rankedV).as("n"))
      .first().getLong(0)
    assert(viaExpr == 2L + 2L + 2L, s"expression path gave $viaExpr")
  }

  test("50k-entry real-format vocab: loads, counts, and stays a map-side projection") {
    import org.apache.spark.sql.graft.{BpeFunctions, BpeVocab}
    // Generate 50,000 merge lines IN THE PUBLISHED FORMAT (pairs rendered
    // in the gpt2 byte alphabet), covering unit lengths 2..12 and all 256
    // byte values — the scale and shape of the real published table,
    // which cannot be vendored here (no network egress; the loader takes
    // the real file verbatim via fromGpt2MergesFile).
    val enc = BpeVocab.gpt2ByteEncoder
    def render(bs: Array[Byte]): String = bs.map(enc).mkString
    val rnd = new scala.util.Random(13)
    val lines = Seq("#version: 0.2") ++ (0 until 50000).map { i =>
      val lenA = 1 + (i % 6)
      val lenB = 1 + ((i / 6) % 6)
      val a = Array.fill(lenA)(rnd.nextInt(256).toByte)
      val b = Array.fill(lenB)(rnd.nextInt(256).toByte)
      render(a) + " " + render(b)
    }
    val v = BpeVocab.fromGpt2Merges(lines.iterator)
    assert(v.trieSize > 50000, s"trie must hold the vocab (got ${v.trieSize} nodes)")
    // count through the SPARK EXPRESSION under the big vocab and check
    // the plan stays a pure projection over the scan (no shuffle)
    val df = Tables.documents(spark, sf)
      .select(BpeFunctions.bpe_count(col("text"), v).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bpe_count must not shuffle:\n$plan")
    val total = df.agg(sum("n")).first().getLong(0)
    assert(total > 0L)
    // and the kernel agrees with a naive greedy reference on a sample
    val units = lines.drop(1).map { l =>
      val sp = l.split(" "); (sp(0) + sp(1)).map(BpeVocab.gpt2ByteDecoder).toArray
    }
    val unitSet = units.map(_.toSeq).toSet
    def naive(text: String): Long = {
      val bs = text.getBytes("UTF-8")
      var total = 0L
      var wS = 0
      var i = 0
      while (i <= bs.length) {
        if (i == bs.length || bs(i) == 0x20) {
          var p = wS
          while (p < i) {
            var best = 0
            var L = math.min(12, i - p)
            while (L >= 1 && best == 0) {
              if (unitSet.contains(bs.slice(p, p + L).toSeq)) best = L
              L -= 1
            }
            p += math.max(best, 1)
            total += 1
          }
          wS = i + 1
        }
        i += 1
      }
      total
    }
    Tables.documents(spark, sf).select("text").limit(50).collect().foreach { r =>
      val t = r.getString(0)
      assert(v.count(t) == naive(t), s"50k-vocab kernel diverged on: ${t.take(60)}")
    }
  }

  test("high-byte trie children resolve at depth >= 2 (signed-binarySearch regression)") {
    import org.apache.spark.sql.graft.BpeVocab
    // 'a' node has children 'b' (0x62) and 0xC3 ('é' lead byte): stored
    // as signed bytes they'd sort [0x62, -61] — NOT binarySearch order.
    // The r13 bug made child(node, 0xC3) return -1 and "aé" never match.
    val v = BpeVocab.fromUnits(Seq(
      "ab".getBytes("UTF-8"), "aé".getBytes("UTF-8")))
    assert(v.count("aé") == 1L, "high-byte sibling must match")
    assert(v.count("ab") == 1L)
    // ASCII keys must also survive a node crowded with high-byte
    // siblings (binarySearch mid-probes land on negative bytes)
    val crowd = Seq(0x01, 0x05, 0xFC, 0xFD, 0xFE).map(b =>
      Array('x'.toByte, b.toByte))
    val v2 = BpeVocab.fromUnits(crowd)
    crowd.foreach { u =>
      assert(v2.countBytes(u) == 1L,
        s"unit x+0x${(u(1) & 0xFF).toHexString} must match")
    }
    // and a full 256-fanout node: every second byte resolves
    val fan = (0 until 256).map(b => Array('z'.toByte, b.toByte))
    val v3 = BpeVocab.fromUnits(fan)
    fan.foreach(u => assert(v3.countBytes(u) == 1L))
  }

  test("'#'-leading merges load; only a first-line #version header is skipped") {
    import org.apache.spark.sql.graft.BpeVocab
    // the real GPT-2 table contains "# #" (-> "##"); a blanket '#' filter
    // dropped it (r13 regression)
    val v = BpeVocab.fromGpt2Merges(Seq("#version: 0.2", "# #", "## #").iterator)
    assert(v.count("##") == 1L)
    assert(v.count("###") == 1L)  // "###" built from the second merge
    assert(v.count("#x") == 2L)
    // ranked mode: later merges may reference the '#'-built results
    val r = BpeVocab.fromGpt2Merges(Seq("#version: 0.2", "# #", "## #").iterator,
      ranked = true)
    assert(r.count("###") == 1L)
    // no header at all also works
    assert(BpeVocab.fromGpt2Merges(Seq("a b").iterator).count("ab") == 1L)
  }

  test("malformed UTF-8 leads degrade per byte under codepoint fallback") {
    import org.apache.spark.sql.graft.BpeVocab
    val v = BpeVocab.fromUnits(Seq("zz".getBytes("UTF-8")), byteFallback = false)
    // 0xF8 is not a valid lead; it must consume ONE byte, leaving the
    // following "zz" free to match (the r13 bug swallowed 3 extra bytes)
    assert(v.countBytes(Array(0xF8.toByte, 'z'.toByte, 'z'.toByte)) == 2L)
    // overlong lead 0xC0 likewise
    assert(v.countBytes(Array(0xC0.toByte, 'z'.toByte, 'z'.toByte)) == 2L)
    // bare continuation byte
    assert(v.countBytes(Array(0x80.toByte, 'z'.toByte, 'z'.toByte)) == 2L)
    // valid leads keep their widths: é (C3 A9) is one codepoint
    assert(v.count("ézz") == 2L)
  }

  test("bpe_count is callable from SQL text (extensions surface)") {
    import spark.implicits._
    org.apache.spark.sql.graft.BpeFunctions.registerSql(spark)
    Seq((1L, "the nation ingests")).toDF("doc_id", "text")
      .createOrReplaceTempView("bpe_sql_probe")
    val viaSql = spark.sql(
      "SELECT bpe_count(text) AS n FROM bpe_sql_probe").first().getLong(0)
    val viaCol = Seq((1L, "the nation ingests")).toDF("doc_id", "text")
      .select(Bpe.countCol.as("n")).first().getLong(0)
    assert(viaSql == viaCol && viaSql > 3,
      s"SQL ($viaSql) and Column ($viaCol) surfaces must agree (> whitespace count 3)")
  }
}
