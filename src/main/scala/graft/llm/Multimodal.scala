package graft.llm

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Blocked, Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** Multimodal-column plumbing (SURVEY.md §2.11 / north star): treat
  * media as opaque `binary` columns with typed metadata, decoded by a
  * partition-local pass.
  *
  * This sandbox ships no image/audio codecs, so [[StubDecoder.decode]]
  * is an explicitly-marked deterministic FAKE — what is real (and
  * tested) is every piece a production decoder drops into:
  *  - the schema contract: (id, payload: binary, meta: struct);
  *  - `mapPartitions` batching (decoder state initialized once per
  *    partition, not per row — the JVM analogue of `mapInPandas`);
  *  - the fixed-width feature-vector output feeding the similarity
  *    operators above.
  *
  * 100 TB notes: decode is embarrassingly parallel (no shuffle); the
  * pattern to keep is per-partition decoder reuse — codec init is the
  * expensive part, so `mapPartitions`, never a per-row UDF. Payload
  * bytes should live in their own parquet column chunk so metadata-only
  * queries never read them (columnar pruning does this for free).
  */
object Multimodal {

  /** One decoded media row. */
  final case class MediaFeatures(
      doc_id: Long,
      mime: String,
      n_bytes: Int,
      features: Array[Float])

  /** Deterministic stand-in for a real codec (??? in production terms:
    * replace with e.g. JPEG decode + model forward pass). Produces a
    * 4-dim "feature vector" from byte statistics so tests can pin exact
    * values. */
  object StubDecoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      var sum = 0L
      var min = 255
      var max = 0
      payload.foreach { b =>
        val u = b & 0xff
        sum += u
        if (u < min) min = u
        if (u > max) max = u
      }
      val n = math.max(payload.length, 1)
      Array(payload.length.toFloat, (sum.toDouble / n).toFloat,
        min.toFloat, max.toFloat)
    }
  }

  /** Partition-local decode pass over (id, payload) rows. */
  def decodeFeatures(spark: SparkSession,
      media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init goes here (codec contexts, model
        // sessions) — reused across the whole partition.
        rows.map { case (id, payload) =>
          MediaFeatures(id, "text/plain", payload.length,
            StubDecoder.decode(payload))
        }
      }
  }

  /** Driver-contract query: documents' text bytes as the stand-in
    * payload → partition-local decode → flat feature columns.
    *
    * Oracled exactly: the corpus is pure ASCII, so every
    * payload byte IS the character's code point and DuckDB can replay
    * the whole byte fold — length via octet_length, min/max/mean via a
    * char-split + unicode() list fold. f_mean is double-divided then
    * rounded ONCE to float32 on both engines (IEEE ⇒ bit-identical)
    * before the 6-digit presentation round. The decode itself still
    * runs the real partition-local `mapPartitions` path — the oracle
    * verifies its output, it does not replace it. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.load(spark, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    ordered(
      decodeFeatures(spark, media).toDF()
        .select(col("doc_id"), col("mime"), col("n_bytes"),
          col("features")(0).cast("long").as("f_len"),
          round6(col("features")(1).cast("double")).as("f_mean"),
          col("features")(2).cast("int").as("f_min"),
          col("features")(3).cast("int").as("f_max")))
  }

  /** One sampled frame's features. */
  final case class FrameFeatures(
      doc_id: Long,
      frame_idx: Int,
      mean_raw: Float,
      f_min: Int,
      f_max: Int)

  /** Frame sampling — the ONE-TO-MANY multimodal shape
    * ([[decodeFeatures]] is 1-to-1): a media blob explodes into its
    * sampled frames, each decoded independently. Frames are the
    * `frameBytes`-aligned full slices of the payload (trailing partial
    * frame dropped, as a fixed-size codec would); stride sampling
    * keeps every `stride`-th frame starting at 0 — the deterministic
    * skeleton of video keyframe extraction.
    *
    * 100 TB notes: the explode happens INSIDE `mapPartitions`, so only
    * one frame's bytes are materialized at a time per row (an
    * `explode(split(payload))` spelling would build every frame of a
    * blob as one giant array row first); no shuffle — output stays
    * partitioned by the input's file splits, and downstream per-frame
    * ops (embed, dedup) group on (doc_id, frame_idx) keys that are
    * already dense. Frame decode reuses the per-partition decoder
    * init, same as the 1-to-1 path. */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameBytes: Int, stride: Int): Dataset[FrameFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val nFrames = payload.length / frameBytes
          Iterator.range(0, nFrames, stride).map { i =>
            val feats = StubDecoder.decode(java.util.Arrays.copyOfRange(
              payload, i * frameBytes, (i + 1) * frameBytes))
            FrameFeatures(id, i, feats(1), feats(2).toInt, feats(3).toInt)
          }
        }
      }
  }

  /** Driver-contract query: 64-byte frames, every 2nd sampled. Docs
    * shorter than one frame contribute no rows (the flatMap drops
    * them) — the oracle's `range(0, n_frames, 2)` empties identically.
    * Mean determinism: frame sums divide by 64 (a power of two —
    * exact in binary floating point), then one float round, as in
    * [[multimodalDecode]]. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.load(spark, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    ordered(
      sampleFrames(spark, media, frameBytes = 64, stride = 2).toDF()
        .select(col("doc_id"), col("frame_idx"),
          round6(col("mean_raw").cast("double")).as("f_mean"),
          col("f_min"), col("f_max")))
  }

  /** UNIT COUPLING: this SQL is single-unit — frame count AND slices
    * both derive from CHARACTERS (`length` // 64, `substring` +
    * `unicode` code points; n_frames must not divide `octet_length`
    * bytes while slices take chars). The Scala path slices the UTF-8
    * BYTE payload; the two engines agree iff the corpus is pure ASCII
    * (byte i == char i, code point == byte value) — an invariant
    * `llm_multimodal_decode` relies on identically and MultimodalSpec
    * asserts against the fixture corpus ("corpus is pure ASCII").
    * A non-ASCII corpus needs both engines re-derived from ONE unit
    * (e.g. both over the byte array). */
  private val frameSampleSql = {
    val pts = "list_transform(regexp_split_to_array(" +
      "substring(text, CAST(i AS INT) * 64 + 1, 64), ''), x -> unicode(x))"
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |    length(text) // 64 AS n_frames
       |  FROM documents)
       |SELECT doc_id, CAST(i AS INT) AS frame_idx,
       |  round(CAST(CAST(CAST(list_aggregate($pts, 'sum') AS DOUBLE)
       |    / 64 AS FLOAT) AS DOUBLE), 6) AS f_mean,
       |  CAST(list_aggregate($pts, 'min') AS INT) AS f_min,
       |  CAST(list_aggregate($pts, 'max') AS INT) AS f_max
       |FROM f, UNNEST(range(0, n_frames, 2)) AS t(i)
       |ORDER BY ALL NULLS FIRST"""
  }

  private val multimodalDecodeSql = {
    val pts = "list_transform(regexp_split_to_array(text, ''), x -> unicode(x))"
    s"""SELECT doc_id, 'text/plain' AS mime,
       |  octet_length(encode(text)) AS n_bytes,
       |  octet_length(encode(text)) AS f_len,
       |  round(CAST(CAST(CAST(list_aggregate($pts, 'sum') AS DOUBLE)
       |    / octet_length(encode(text)) AS FLOAT) AS DOUBLE), 6) AS f_mean,
       |  list_aggregate($pts, 'min') AS f_min,
       |  list_aggregate($pts, 'max') AS f_max
       |FROM documents
       |ORDER BY ALL NULLS FIRST"""
  }

  // ——— perceptual-hash image dedup ———

  /** 1-D "resize" target: 64 block means → 63 dHash bits. */
  private[graft] val PHashBlocks = 64
  /** 5 band slices (bit offset, width) covering all 63 hash bits,
    * joined as chained TRIPLES — the third rung of the banding-width
    * ladder (7 × 9-bit bands went chance-quadratic at 500k docs;
    * 3 × 21-bit bands came next). Why chaining: a 21-bit
    * slice of this hash carries only ~17 bits of EFFECTIVE entropy —
    * gradient bits are correlated through the payload's length/
    * word-boundary structure — so even at 2²¹ nominal values,
    * chance-collision candidates measured 100×/decade at sf1→sf10
    * (1.95M candidates against 771 true pairs) once the corpus
    * generator stopped emitting the real cross-shard dups that had
    * been masking them. Joining on a CHAINED key of three 12–13-bit
    * slices multiplies effective entropies (~26 bits measured jointly):
    * candidate series re-measured 71 → 723 → 9.7k over
    * sf0.1→1→10 ≈ 10–13×/decade, tracking true pairs. Recall stays
    * EXACT by pigeonhole: Hamming ≤ [[PHashMaxHamming]] = 2 dirties
    * at most 2 of the 5 bands, leaving ≥ 3 clean — so at least one
    * of the C(5,3) = 10 enumerated triples is clean verbatim. Past
    * ~10⁹ docs the next rung in the same direction is quadruple
    * chaining (needs MaxHamming ≤ 1) or a wider hash (two longs). */
  private[graft] val PHashSlices: Seq[(Int, Int)] =
    Seq((0, 13), (13, 13), (26, 13), (39, 12), (51, 12))
  /** The C(5,3) chained band-triple index combinations — one
    * definition shared by the Scala stage and the SQL mirror so the
    * enumerations can never drift. */
  private[graft] val BandTriples: Seq[(Int, Int, Int)] =
    for { i <- 0 until 5; j <- i + 1 until 5; k <- j + 1 until 5 }
      yield (i, j, k)
  /** Verify threshold. MaxHamming ≤ (bands − 3) keeps the chained-
    * triple banding recall-EXACT (see [[PHashSlices]]) — same
    * lossless-filter discipline as the containment prefix. Hamming
    * ≤ 2 on adjacent-gradient bits = robust to ONE block edit (a
    * block touches only its two adjacent bits) — the planted corner
    * watermark sits at ≤ 1 by construction. */
  private[graft] val PHashMaxHamming = 2
  private[graft] val ImageDupOffset = 500000000L // planted perturbed copies
  /** Min payload bytes: every one of the 64 blocks must be non-empty
    * (a real image pipeline resizes up; a byte payload this short is
    * an icon, not an image). */
  private[graft] val PHashMinBytes = 128

  /** One hashed media row. */
  final case class PHashRow(doc_id: Long, hash: Long)

  /** dHash over the payload bytes: "resize" to [[PHashBlocks]] block
    * means (position p → block p·B div n — integer-exact), then bit i
    * = mean_i > mean_{i+1}, compared as the cross-multiplication
    * sum_i·cnt_{i+1} > sum_{i+1}·cnt_i so no float division exists on
    * either engine. Gradient bits are LOCAL: perturbing one block
    * touches at most its two adjacent bits, which is what makes the
    * hash perceptual (robust to small edits) rather than
    * cryptographic. Runs in the same per-partition decoder pass as
    * [[decodeFeatures]] — in production this is decode + downsample +
    * hash in one codec visit, no shuffle. */
  private[graft] def perceptualHash(spark: SparkSession,
      media: DataFrame): Dataset[PHashRow] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, p) =>
          val n = p.length
          val sums = new Array[Long](PHashBlocks)
          val cnts = new Array[Long](PHashBlocks)
          var i = 0
          while (i < n) {
            val j = ((i.toLong * PHashBlocks) / n).toInt
            sums(j) += (p(i) & 0xff)
            cnts(j) += 1
            i += 1
          }
          var h = 0L
          var b = 0
          while (b < PHashBlocks - 1) {
            if (sums(b) * cnts(b + 1) > sums(b + 1) * cnts(b)) h |= 1L << b
            b += 1
          }
          PHashRow(id, h)
        }
      }
  }

  /** Stand-in media corpus shared by the image and video keys: the
    * documents of ≥ `minChars` chars that contain no non-ASCII char,
    * plus a planted derivative of each doc_id < 10 at id + `offset`
    * with text `plantedText`, as (doc_id, payload = the text's UTF-8
    * bytes) rows.
    *
    * ASCII gate: the Scala path hashes UTF-8 BYTES, the SQL mirror
    * ([[mediaCorpusSql]]) hashes CODE POINTS — the two define the same
    * hash only when byte i == code point i, i.e. pure ASCII. The
    * corpus DEFINITION enforces that on both engines identically, so a
    * non-ASCII document is excluded rather than silently hashed to two
    * different values (and the length gate counts the same unit on
    * both sides, chars == bytes). The gate is spelled ANCHOR-FREE
    * ("contains no non-ASCII char"): Java regex `$` (Spark rlike) also
    * matches BEFORE a final line terminator — including the non-ASCII
    * U+0085 / U+2028 / U+2029 — while DuckDB RE2 `$` is end-of-text
    * only, so the anchored form `^[\x00-\x7F]*$` passes a doc ending in
    * U+2028 on the Spark side but excludes it in the SQL mirror.
    * Negation has no anchors to diverge on; both engines agree on
    * every input (fixture doc ending in U+2028 pinned in
    * MultimodalSpec). */
  private def mediaCorpus(spark: SparkSession, dir: String, minChars: Int,
      offset: Long, plantedText: Column): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .filter(!col("text").rlike("[^\\x00-\\x7F]"))
      .filter(length(col("text")) >= minChars)
      .select(col("doc_id"), col("text"))
    d.unionByName(Dedup.planted(d, 10, offset, plantedText))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
  }

  /** Oracle CTEs `gated` and `corpus` mirroring [[mediaCorpus]]; a
    * fragment for a `WITH` list, in the `|`-margin form `Q` strips. */
  private def mediaCorpusSql(minChars: Int, offset: Long,
      plantedText: String): String =
    s"""gated AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')
       |    AND length(text) >= $minChars),
       |corpus AS (
       |  SELECT doc_id, text FROM gated
       |  UNION ALL
       |  SELECT doc_id + $offset,
       |    $plantedText
       |  FROM gated WHERE doc_id < 10)"""

  /** The keyed corpus: ASCII text bytes as the stand-in image payload
    * (≥ [[PHashMinBytes]]), plus PLANTED perturbed copies — each
    * doc_id < 10 contributes a derivative at id + 5·10⁸ whose FIRST
    * block is overwritten with 'z' bytes (a deterministic "corner
    * watermark"): a one-block edit moves at most dHash bit 0, so the
    * planted pair sits at Hamming ≤ 1, inside the threshold by
    * construction and replayable in SQL. */
  private[graft] def imageCorpus(spark: SparkSession, dir: String): DataFrame =
    mediaCorpus(spark, dir, PHashMinBytes, ImageDupOffset,
      expr("concat(repeat('z', (length(text) + 63) div 64), " +
        "substring(text, (length(text) + 63) div 64 + 1))"))

  /** (id cols..., cb, k1, k2, k3): one row per chained band-triple of
    * `hashCol`, the join key of both modalities' candidate stages. */
  private def tripleBands(h: DataFrame, hashCol: String,
      slices: Seq[(Int, Int)], idCols: Seq[String]): DataFrame = {
    val s = slices.zipWithIndex.map { case ((o, w), i) =>
      expr(s"shiftright($hashCol, $o) & ${(1 << w) - 1}").as(s"s$i") }
    val combos = array(BandTriples.map { case (i, j, k) =>
      struct(col(s"s$i").as("k1"), col(s"s$j").as("k2"), col(s"s$k").as("k3"))
    }: _*)
    h.select(idCols.map(col) ++ s: _*)
      .select(idCols.map(col) :+ posexplode(combos): _*)
      .withColumnRenamed("pos", "cb")
      .select(idCols.map(col) ++ Seq(col("cb"),
        col("col.k1").as("k1"), col("col.k2").as("k2"),
        col("col.k3").as("k3")): _*)
  }

  /** Oracle CTEs `slices`, `combos`, `bands` and `cand` over hash table
    * `h`: the (`keys`…, doc_a < doc_b) pairs that share a chained band
    * triple of `hashCol` at equal `keys` — the all-pairs band join the
    * capped Scala stage must equal. Generated from
    * [[PHashSlices]]/[[VideoSlices]] and [[BandTriples]] so the oracle
    * can never drift from the Scala stage; list indices are 1-based
    * (DuckDB). */
  private def bandCandidatesSql(hashCol: String, slices: Seq[(Int, Int)],
      keys: Seq[String]): String = {
    val ids = ("doc_id" +: keys).mkString(", ")
    val s = slices.map { case (o, w) => s"($hashCol >> $o) & ${(1 << w) - 1}" }
      .mkString("[", ", ", "]")
    val combos = BandTriples.zipWithIndex.map { case ((i, j, k), c) =>
      s"($c, ${i + 1}, ${j + 1}, ${k + 1})" }.mkString(", ")
    val on = (keys ++ Seq("cb", "k1", "k2", "k3")).map(k => s"y.$k = x.$k")
    s"""slices AS (
       |  SELECT $ids, $s AS s FROM h),
       |combos AS (SELECT * FROM (VALUES $combos) AS t(cb, ci, cj, ck)),
       |bands AS (
       |  SELECT $ids, cb, s[ci] AS k1, s[cj] AS k2, s[ck] AS k3
       |  FROM slices, combos),
       |cand AS (
       |  SELECT DISTINCT ${keys.map(k => s"x.$k, ").mkString}x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON ${on.mkString(" AND ")} AND x.doc_id < y.doc_id)"""
  }

  /** Banded candidate pairs of [[imageDedup]] from its hash table —
    * THE stage whose cardinality decides whether image dedup is linear
    * or quadratic at scale (7×9 bands went chance-quadratic at 500k
    * docs → 3×21; 3×21 measured 100×/decade on the decorrelated
    * corpus → chained triples, see [[PHashSlices]]).
    * One definition shared by the keyed query and ScaleUpSpec's
    * candidate-growth test, so the test measures exactly what ships. */
  private[graft] def imageCandidatesFrom(h: DataFrame): DataFrame = {
    val bands = tripleBands(h.select(col("doc_id"), col("hash")),
      "hash", PHashSlices, Seq("doc_id"))
    Blocked
      .selfPairs(bands, Seq("cb", "k1", "k2", "k3"), "doc_id",
        Dedup.BandBucketCap, "doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The decoded-and-hashed image corpus — shared entry for the keyed
    * query and ScaleUpSpec's growth test (16 B/row; lineage cut so the
    * decode pass runs once per session). */
  private[graft] def imageHashes(spark: SparkSession, dir: String): DataFrame =
    perceptualHash(spark, imageCorpus(spark, dir)).toDF().lineageCut()

  /** Perceptual-hash near-duplicate IMAGES — dedup for the binary/
    * multimodal column (text and embeddings have their own passes;
    * this is the one for payload bytes: thumbnails, re-encodes,
    * watermarked copies). Pipeline: per-partition dHash (decode-time
    * work, no shuffle) → chained [[PHashSlices]] band-triple keys
    * ([[BandTriples]]) → candidates from the CAPPED band self-join
    * ([[graft.core.Blocked.selfPairs]], ≤ cap² rows per join group —
    * a boilerplate band bucket never becomes one straggler task) →
    * exact Hamming verify ([[Dedup.hammingAtMost]]) at ≤
    * [[PHashMaxHamming]]. Banding is recall-exact at this threshold
    * (pigeonhole, see [[PHashMaxHamming]]), and MultimodalSpec pins
    * banded ≡ brute on the fixture corpus plus the planted-copy recall
    * law. At 100 TB: hashes are 16 B/row, bands shuffle 10 rows/doc,
    * candidates scale with true collisions, never n². */
  def imageDedup(spark: SparkSession, dir: String): DataFrame = {
    // read by the band explode and both verify sides
    val h = imageHashes(spark, dir)
    ordered(
      Dedup.hammingAtMost(
        Dedup.withHashes(imageCandidatesFrom(h), h, "hash", Nil), PHashMaxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming")))
  }

  private val imageDedupSql =
    s"""WITH ${mediaCorpusSql(PHashMinBytes, ImageDupOffset,
           "repeat('z', (length(text) + 63) // 64) || " +
             "substring(text, (length(text) + 63) // 64 + 1)")},
       |d AS (SELECT doc_id, length(text) AS n,
       |  list_transform(regexp_split_to_array(text, ''), x -> unicode(x)) AS l
       |  FROM corpus),
       |toks AS (${O.elements("d", "doc_id, n")}),
       |blk AS (
       |  SELECT doc_id, (CAST(pos - 1 AS BIGINT) * $PHashBlocks) // n AS j,
       |    CAST(SUM(tok) AS BIGINT) AS s, COUNT(*) AS c
       |  FROM toks GROUP BY 1, 2),
       |h AS (
       |  SELECT a.doc_id,
       |    CAST(SUM(CASE WHEN a.s * b.c > b.s * a.c
       |      THEN CAST(1 AS BIGINT) << CAST(a.j AS INT) ELSE 0 END) AS BIGINT) AS hash
       |  FROM blk a JOIN blk b ON b.doc_id = a.doc_id AND b.j = a.j + 1
       |  GROUP BY 1),
       |${bandCandidatesSql("hash", PHashSlices, Nil)}
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(ha.hash, hb.hash)) AS INT) AS hamming
       |FROM cand
       |JOIN h ha ON ha.doc_id = cand.doc_a
       |JOIN h hb ON hb.doc_id = cand.doc_b
       |WHERE bit_count(xor(ha.hash, hb.hash)) <= $PHashMaxHamming
       |${O.OrderAll}"""

  // ——— video-level near-dup: the multimodal composition — frames →
  // per-frame hash → doc-pair coverage ———

  /** 32-byte frames: every gated doc (≥ [[VideoMinChars]]) yields ≥ 8
    * full frames, so coverage has a real denominator on this corpus
    * (document lengths top out at ~560 bytes). */
  private[graft] val VideoFrameChars = 32
  /** Per-frame hash = 61 byte-gradient bits: bits 0–30 are the
    * adjacent gradients (bit i = byte_i > byte_{i+1} —
    * [[perceptualHash]]'s dHash at block size 1, where "resize to
    * block means" degenerates to the bytes themselves) and bits
    * 31–60 the SKIP gradients (bit 31+i = byte_i > byte_{i+2}), the
    * standard dHash trick of adding a second gradient direction when
    * one row of comparisons yields too few bits. The banding is the
    * same 5-slice chained-triple scheme as the image hash
    * ([[PHashSlices]] rationale: 3 × 20-bit bands measured
    * 80×/decade chance candidates at sf1→sf10 once the corpus
    * generator stopped emitting the masking cross-shard dups, because a
    * 20-bit slice of 32-byte-frame gradients carries far less
    * effective entropy; chained triples re-measured 17.5k → 177k →
    * 1.97M ≈ 10–11×/decade, tracking true matched frames). All 61
    * bits are banded; [[VideoMaxHamming]] ≤ 2 = 5 − 3 keeps the
    * chained banding recall-EXACT by the same pigeonhole as
    * [[PHashMaxHamming]]. */
  private[graft] val VideoSlices: Seq[(Int, Int)] =
    Seq((0, 13), (13, 12), (25, 12), (37, 12), (49, 12))
  private[graft] val VideoMaxHamming = 2
  private[graft] val VideoMinChars = 256
  /** A pair is a video-level near-dup when ≥ this fraction of the
    * SHORTER side's frames match at the same timeline position
    * (re-encode/watermark detection is alignment-preserving). The
    * planted every-4th-frame watermark sits at 0.714–0.833 coverage
    * across this corpus's 8–17-frame range — above by construction. */
  private[graft] val VideoCoverage = 0.7
  private[graft] val VideoDupOffset = 600000000L

  /** One hashed frame. */
  final case class FrameHash(doc_id: Long, frame_idx: Int, fhash: Long)

  /** Keyed corpus: gated ASCII docs ≥ [[VideoMinChars]] as stand-in
    * video payloads, plus PLANTED derivatives of doc_id < 10 — every
    * 4th frame (idx ≡ 2 mod 4) overwritten with 'z' bytes (a
    * deterministic "subtitle burn-in"): the perturbed frame's bytes
    * are constant, so its gradient hash is 0 — far from the original
    * in Hamming — while the other 3/4 of frames stay bit-identical. */
  private[graft] def videoCorpus(spark: SparkSession, dir: String): DataFrame =
    mediaCorpus(spark, dir, VideoMinChars, VideoDupOffset,
      expr(s"""concat(array_join(transform(
          sequence(0, int(length(text) / $VideoFrameChars) - 1),
          f -> IF(f % 4 = 2, repeat('z', $VideoFrameChars),
            substring(text, f * $VideoFrameChars + 1, $VideoFrameChars))), ''),
          substring(text, int(length(text) / $VideoFrameChars) * $VideoFrameChars + 1))"""))

  /** Payload → one gradient hash per full [[VideoFrameChars]]-byte
    * frame, in the same per-partition decoder pass as [[sampleFrames]]
    * (decode + per-frame hash in one codec visit; no shuffle, one
    * frame materialized at a time). */
  private[graft] def frameHashes(spark: SparkSession,
      media: DataFrame): Dataset[FrameHash] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, p) =>
          val nFrames = p.length / VideoFrameChars
          Iterator.range(0, nFrames).map { f =>
            val off = f * VideoFrameChars
            var h = 0L
            var i = 0
            while (i < VideoFrameChars - 1) { // adjacent gradients: bits 0–30
              if ((p(off + i) & 0xff) > (p(off + i + 1) & 0xff)) h |= 1L << i
              i += 1
            }
            i = 0
            while (i < VideoFrameChars - 2) { // skip gradients: bits 31–60
              if ((p(off + i) & 0xff) > (p(off + i + 2) & 0xff)) h |= 1L << (31 + i)
              i += 1
            }
            FrameHash(id, f, h)
          }
        }
      }
  }

  /** Aligned banded candidate (frame, doc pair) rows of [[videoDedup]]
    * from its frame-hash table — what ScaleUpSpec's candidate-growth
    * test counts for the video modality (same rationale as
    * [[imageCandidatesFrom]]: every band widening so far was a
    * quadratic caught by a per-rung candidate count; the test catches
    * the next one). */
  private[graft] def videoCandidatesFrom(h: DataFrame): DataFrame = {
    val bands = tripleBands(
      h.select(col("doc_id"), col("frame_idx"), col("fhash")),
      "fhash", VideoSlices, Seq("doc_id", "frame_idx"))
    Blocked
      .selfPairs(bands, Seq("frame_idx", "cb", "k1", "k2", "k3"), "doc_id",
        Dedup.BandBucketCap, "doc_a", "doc_b")
      .select(col("frame_idx"), col("doc_a"), col("doc_b")).distinct()
  }

  /** The decoded per-frame hash table — shared entry for the keyed
    * query and ScaleUpSpec's growth test (one mapPartitions codec
    * visit, no shuffle; lineage cut so the decode pass runs once per
    * session). */
  private[graft] def videoFrameHashes(spark: SparkSession, dir: String): DataFrame =
    frameHashes(spark, videoCorpus(spark, dir)).toDF().lineageCut()

  /** Video-level near-duplicates — the end-to-end multimodal
    * composition: frames → per-frame gradient hash (decode-time, no
    * shuffle) → per-frame LSH candidates at the SAME timeline index
    * through the capped band self-join ([[graft.core.Blocked.selfPairs]]
    * on (frame_idx, chained band triple) — [[VideoSlices]] with
    * [[BandTriples]] (3×10 bands went chance-quadratic at sf10, then
    * 3×20 bands, now chained triples, see [[VideoSlices]]'s rationale;
    * keep the constants and this sentence in sync), frame_idx in the key
    * spreads each band's alphabet across the timeline, and the cap
    * bounds any boilerplate bucket) → exact per-frame Hamming verify
    * ([[Dedup.hammingAtMost]]; recall-exact banding, pigeonhole) →
    * group matches by doc pair → coverage ≥ [[VideoCoverage]] of the
    * shorter side's frames. MultimodalSpec pins banded ≡ brute
    * per-frame recall and the planted-derivative coverage law. At
    * 100 TB: 20 B/frame-hash rows, 10 chained band rows per frame,
    * candidates track aligned collisions — the quadratic verify only
    * ever sees banded survivors, never n². */
  def videoDedup(spark: SparkSession, dir: String): DataFrame = {
    // read by the band explode, both verify sides, and the per-doc
    // frame counts
    val h = videoFrameHashes(spark, dir)
    val nf = h.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val matched = Dedup.hammingAtMost(
        Dedup.withHashes(videoCandidatesFrom(h), h, "fhash", Seq("frame_idx")),
        VideoMaxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("matched_frames"))
    ordered(matched
      .join(nf.select(col("doc_id").as("doc_a"), col("nf").as("_na")), Seq("doc_a"))
      .join(nf.select(col("doc_id").as("doc_b"), col("nf").as("_nb")), Seq("doc_b"))
      .withColumn("coverage", round(
        col("matched_frames").cast("double") / least(col("_na"), col("_nb")), 6))
      .filter(col("coverage") >= VideoCoverage)
      .select(col("doc_a"), col("doc_b"), col("matched_frames"), col("coverage")))
  }

  private val videoDedupSql = {
    val planted =
      s"""list_aggregate(list_transform(range(0, length(text) // $VideoFrameChars),
         |      f -> CASE WHEN f % 4 = 2 THEN repeat('z', $VideoFrameChars)
         |        ELSE substring(text, CAST(f * $VideoFrameChars + 1 AS INT),
         |          $VideoFrameChars) END),
         |      'string_agg', '') ||
         |      substring(text,
         |        CAST(length(text) // $VideoFrameChars * $VideoFrameChars + 1 AS INT))"""
    s"""WITH ${mediaCorpusSql(VideoMinChars, VideoDupOffset, planted)},
       |frames AS (
       |  SELECT doc_id, CAST(f AS INT) AS frame_idx,
       |    list_transform(regexp_split_to_array(
       |      substring(text, CAST(f * $VideoFrameChars + 1 AS INT),
       |        $VideoFrameChars), ''), x -> unicode(x)) AS l
       |  FROM corpus, UNNEST(range(0, length(text) // $VideoFrameChars)) AS t(f)),
       |h AS (
       |  SELECT doc_id, frame_idx,
       |    CAST(list_aggregate(list_transform(range(1, $VideoFrameChars),
       |      i -> CASE WHEN l[CAST(i AS INT)] > l[CAST(i AS INT) + 1]
       |        THEN CAST(1 AS BIGINT) << (CAST(i AS INT) - 1)
       |        ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)
       |    + CAST(list_aggregate(list_transform(range(1, ${VideoFrameChars - 1}),
       |      i -> CASE WHEN l[CAST(i AS INT)] > l[CAST(i AS INT) + 2]
       |        THEN CAST(1 AS BIGINT) << (CAST(i AS INT) + 30)
       |        ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS fhash
       |  FROM frames),
       |nf AS (SELECT doc_id, COUNT(*) AS nf FROM h GROUP BY 1),
       |${bandCandidatesSql("fhash", VideoSlices, Seq("frame_idx"))},
       |m AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS matched_frames
       |  FROM cand
       |  JOIN h ha ON ha.doc_id = cand.doc_a AND ha.frame_idx = cand.frame_idx
       |  JOIN h hb ON hb.doc_id = cand.doc_b AND hb.frame_idx = cand.frame_idx
       |  WHERE bit_count(xor(ha.fhash, hb.fhash)) <= $VideoMaxHamming
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, matched_frames,
       |  round(CAST(matched_frames AS DOUBLE) / least(na.nf, nb.nf), 6) AS coverage
       |FROM m
       |JOIN nf na ON na.doc_id = m.doc_a
       |JOIN nf nb ON nb.doc_id = m.doc_b
       |WHERE CAST(matched_frames AS DOUBLE) / least(na.nf, nb.nf) >= $VideoCoverage
       |${O.OrderAll}"""
  }

  val queries: Map[String, Q] = Map(
    "llm_multimodal_decode" -> Q(multimodalDecode _, multimodalDecodeSql),
    "llm_frame_sample" -> Q(frameSample _, frameSampleSql),
    "llm_image_dedup" -> Q(imageDedup _, imageDedupSql),
    "llm_video_dedup" -> Q(videoDedup _, videoDedupSql)
  )
}
