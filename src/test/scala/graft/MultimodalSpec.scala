package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Multimodal
import graft.sources.JdbcSource

/** Multimodal decode plumbing + JDBC source option plumbing. */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}
  import spark.implicits._

  test("stub decoder: pinned feature values for a known payload") {
    val f = Multimodal.StubDecoder.decode("abc".getBytes("UTF-8"))
    // bytes 97,98,99 → len 3, mean 98, min 97, max 99
    assert(f.toSeq === Seq(3.0f, 98.0f, 97.0f, 99.0f))
    assert(Multimodal.StubDecoder.decode(Array.emptyByteArray).toSeq ===
      Seq(0.0f, 0.0f, 255.0f, 0.0f))
  }

  test("decodeFeatures runs partition-local and covers every row") {
    val media = Seq((1L, "hello"), (2L, "x")).toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val out = Multimodal.decodeFeatures(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out.size === 2)
    assert(out(1L).n_bytes === 5 && out(2L).n_bytes === 1)
    assert(out(2L).features.toSeq === Seq(1.0f, 120.0f, 120.0f, 120.0f)) // 'x'=120
  }

  test("llm_multimodal_decode query: n_bytes equals n_chars for ASCII docs") {
    val out = llm.Multimodal.multimodalDecode(spark, Sf)
    val docs = core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("n_chars"))
    val mismatch = out.join(docs, "doc_id")
      .filter(col("n_bytes") =!= col("n_chars")).count()
    assert(mismatch === 0)
    assert(out.count() === docs.count())
  }

  test("corpus is pure ASCII — the unit invariant the frame/decode oracles slice by") {
    // frameSampleSql addresses frames by CHARACTER offset while the
    // Scala path slices UTF-8 BYTES (its n_frames divides octet_length);
    // they agree iff every character is ASCII. Assert it directly so a
    // future non-ASCII corpus fails HERE with the reason, not as an
    // opaque oracle hash mismatch. (r6 advice)
    val docs = core.Tables.load(spark, Sf, "documents")
    val nonAscii = docs
      .filter(octet_length(col("text")) =!= length(col("text"))).count()
    assert(nonAscii === 0,
      s"$nonAscii docs contain multi-byte chars — char-offset SQL and " +
        "byte-offset Scala frame boundaries would diverge")
  }

  test("frame sampling: stride-2 frame set per doc, short docs drop, stats coherent") {
    val out = llm.Multimodal.frameSample(spark, Sf)
    val docs = core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"),
        (length(col("text")).cast("long") / 64).cast("long").as("n_frames"))
    // exact per-doc frame count: ceil(n_frames / 2); sub-frame docs → 0 rows
    val expected = docs.select(sum(ceil(col("n_frames") / 2.0).cast("long")))
      .collect()(0).getLong(0)
    assert(out.count() === expected)
    // sampled indexes are even and inside the doc's full-frame range
    assert(out.filter(col("frame_idx") % 2 =!= 0).count() === 0)
    val oob = out.join(docs, "doc_id")
      .filter(col("frame_idx") >= col("n_frames")).count()
    assert(oob === 0)
    // per-frame stats coherent: min ≤ mean ≤ max
    assert(out.filter(col("f_mean") < col("f_min") ||
      col("f_mean") > col("f_max")).count() === 0)
  }

  test("image dedup: banded candidates ≡ brute Hamming pairs (pigeonhole law)") {
    // MaxHamming (2) < bands (3) ⇒ ≤2 differing bits leave ≥1 of the
    // 3 bands identical — banding is recall-EXACT, so the keyed query
    // must equal the brute all-pairs Hamming filter on the fixture
    val h = Multimodal.perceptualHash(spark,
      Multimodal.imageCorpus(spark, Sf)).collect().map(r => r.doc_id -> r.hash)
    val brute = (for {
      (a, ha) <- h; (b, hb) <- h
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= Multimodal.PHashMaxHamming
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb))).toSet
    val banded = Multimodal.imageDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "law vacuous on an empty pair set")
  }

  test("image dedup: every planted perturbed copy is recalled at Hamming ≤ 1") {
    // the one-block 'z' overwrite moves only dHash bit 0 (gradient
    // bits are local) — each planted derivative must pair with its
    // source inside the threshold
    val eligible = core.Tables.load(spark, Sf, "documents")
      .filter(col("doc_id") < 10 &&
        length(col("text")) >= Multimodal.PHashMinBytes)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(eligible.nonEmpty)
    val out = Multimodal.imageDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    eligible.foreach { id =>
      val hit = out.find(p =>
        p._1 == id && p._2 == id + Multimodal.ImageDupOffset)
      assert(hit.nonEmpty, s"planted copy of doc $id not recalled")
      assert(hit.get._3 <= 1, s"planted copy of doc $id at hamming ${hit.get._3}")
    }
  }

  test("imageCorpus excludes non-ASCII docs — the byte/codepoint gate is structural (r11)") {
    // the Scala hash reads UTF-8 BYTES, the SQL mirror reads CODE
    // POINTS; the two define the same dHash only for ASCII. The r10
    // form ASSUMED the fixture was ASCII (advisor) — the corpus
    // definition now filters to ASCII on both engines identically, so
    // a non-ASCII doc is excluded rather than hashed to two different
    // values per engine.
    TestSpark.withTempDir("graft_ascii") { dir =>
      val asciiText = "a" * 200
      val accented = "é" + ("a" * 200)
      // r12, per advisor: ASCII except a FINAL U+2028 line separator.
      // Java regex `$` matches before a final line terminator (incl.
      // U+2028), so the old anchored gate `^[\x00-\x7F]*$` PASSED this
      // doc on the Spark side while DuckDB RE2 `$` (end-of-text only)
      // excluded it — the exact divergence the anchor-free negation
      // closes. Both engines must now exclude it.
      val trailingLsep = ("a" * 200) + "\u2028"
      Seq((1L, asciiText, "en", "web", 200L), (2L, accented, "fr", "web", 201L),
          (3L, trailingLsep, "en", "web", 201L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val ids = Multimodal.imageCorpus(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(1L), "ASCII doc must stay in the corpus")
      assert(ids.contains(1L + Multimodal.ImageDupOffset),
        "planted copy of the ASCII doc must stay")
      assert(!ids.contains(2L) && !ids.contains(2L + Multimodal.ImageDupOffset),
        "non-ASCII doc must be excluded by the corpus definition itself")
      assert(!ids.contains(3L) && !ids.contains(3L + Multimodal.ImageDupOffset),
        "doc ending in U+2028 must be excluded — Java `$` would have " +
          "passed it under the old anchored gate")
    }
  }

  test("video dedup: per-frame banded candidates ≡ brute aligned Hamming (pigeonhole)") {
    // VideoMaxHamming (2) < VideoBands (3) ⇒ ≤2 differing banded bits
    // leave ≥1 of the 3 bands identical (the spare bit 30 only lowers
    // the band-diff count) — per-frame banding is recall-EXACT, so the
    // keyed query must equal brute coverage over aligned frame pairs
    val h = Multimodal.frameHashes(spark,
      Multimodal.videoCorpus(spark, Sf)).collect()
    val byDoc = h.groupBy(_.doc_id)
      .map { case (d, fs) => d -> fs.map(f => f.frame_idx -> f.fhash).toMap }
    val docs = byDoc.keys.toSeq.sorted
    val brute = (for {
      a <- docs; b <- docs if a < b
      fa = byDoc(a); fb = byDoc(b)
      matched = fa.count { case (idx, ha) =>
        fb.get(idx).exists(hb =>
          java.lang.Long.bitCount(ha ^ hb) <= Multimodal.VideoMaxHamming) }
      cov = matched.toDouble / math.min(fa.size, fb.size)
      if cov >= Multimodal.VideoCoverage
    } yield (a, b, matched.toLong,
      BigDecimal(cov).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val banded = Multimodal.videoDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "law vacuous on an empty pair set")
  }

  test("video dedup: every planted watermarked derivative is recalled with coverage in [0.7, 1)") {
    // the every-4th-frame 'z' burn-in leaves 3/4 of frames
    // bit-identical (coverage 0.714–0.833 on this corpus's 8–17-frame
    // range) and makes each perturbed frame's gradient hash 0 — so the
    // planted pair must clear the 0.7 gate WITHOUT reaching 1.0 (if it
    // hits 1.0 the watermark never landed, e.g. a phase drift put the
    // 'z' frames outside the doc's full-frame range)
    val eligible = core.Tables.load(spark, Sf, "documents")
      .filter(col("doc_id") < 10 &&
        length(col("text")) >= Multimodal.VideoMinChars &&
        !col("text").rlike("[^\\x00-\\x7F]"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(eligible.nonEmpty)
    val out = Multimodal.videoDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    eligible.foreach { id =>
      val hit = out.find(p =>
        p._1 == id && p._2 == id + Multimodal.VideoDupOffset)
      assert(hit.nonEmpty, s"planted derivative of doc $id not recalled")
      assert(hit.get._3 >= Multimodal.VideoCoverage && hit.get._3 < 1.0,
        s"planted derivative of doc $id at coverage ${hit.get._3}")
    }
  }

  test("frame gradient hash: pinned bits, locality, and the constant-frame zero") {
    // bits 0–30: byte_i > byte_{i+1}; bits 31–60: byte_i > byte_{i+2}.
    // A one-byte edit can move at most 4 bits (two adjacent + two
    // skip gradients — what keeps the hash perceptual), and a
    // constant frame ('z' burn-in) has no descents ⇒ hash 0
    val frame = ("ba" * 16).getBytes("UTF-8") // adjacent descents at even i
    def hashOf(bytes: Array[Byte]): Long = {
      val media = Seq((1L, new String(bytes, "UTF-8"))).toDF("doc_id", "text")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.frameHashes(spark, media).collect().head.fhash
    }
    val base = hashOf(frame)
    // bits 0,2,4,…,30 set; every skip comparison is between equal
    // bytes (b-vs-b, a-vs-a two apart) so bits 31–60 stay 0
    assert(base === 0x15555555L * 4 + 1)
    val edited = frame.clone(); edited(10) = 'c'.toByte
    assert(java.lang.Long.bitCount(base ^ hashOf(edited)) <= 4)
    assert(hashOf(Array.fill(32)('z'.toByte)) === 0L)
  }

  test("jdbc source: plain and partitioned option plumbing") {
    val src = new JdbcSource("jdbc:sqlserver://host;databaseName=dw", "u", "p",
      fetchSize = 5000)
    val o = src.options("dbo.orders")
    assert(o("fetchsize") === "5000" && o("pushDownPredicate") === "true")
    val po = src.partitionedOptions("dbo.orders", "o_orderkey", 0L, 1000000L, 16)
    assert(po("partitionColumn") === "o_orderkey" && po("numPartitions") === "16")
    assert(po("lowerBound") === "0" && po("upperBound") === "1000000")
  }
}
