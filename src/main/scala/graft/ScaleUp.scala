package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor amplifier: `runMain graft.ScaleUp
  * <srcDir> <dstDir> [factor=10]` reads the driver-generated tables at
  * one scale factor and writes a `factor`× corpus that is
  * *statistically faithful* — per-capita join fan-outs, duplicate
  * rates, gate selectivities, and similarity structure all match the
  * source, so per-query runtime growth measures the ENGINE's scaling,
  * not an artifact of naive row copying.
  *
  * Design: the output is `factor` key-disjoint shards, each an
  * isomorphic image of the source corpus ("iid scale-up" — exactly
  * what a 10× crawl looks like statistically). Naive replication
  * would instead multiply every duplicate cluster by `factor` (pair
  * counts ×factor², not ×factor) and make every embedding a 10-way
  * near-duplicate of itself — a quadratic stress test, not a scale
  * proof. Per table:
  *
  *  - fixed dimensions (`region`, `nation`) copy through unchanged,
  *    as TPC-H itself scales them;
  *  - fact/dim keys shift by `replica × sourceKeySpan` (dense 0-based
  *    source keys), preserving referential integrity within a shard;
  *    `Customer#…`/`Supplier#…` names are re-derived from the new key;
  *  - `events` keeps its timestamps (window density scales linearly;
  *    per-user history is shard-local and unchanged);
  *  - `documents.text` maps every non-stopword token through a
  *    replica-specific TOKEN BIJECTION: a distinct same-length
  *    lexicographic base skeleton per (token, replica), then a
  *    deterministic per-char byte-value perturbation (case toggles +
  *    digit substitution — r13 verdict #2's gradient decorrelation,
  *    the byte-space mirror of the embedding sign flips below; see
  *    the documents section in [[run]] for why a near-uniform remap
  *    left every shard a gradient-space near-dup of every other and
  *    blew the image/video dedup series up quadratically, and why
  *    case toggles alone cannot fix it). The map is bijective on the
  *    corpus vocabulary in BOTH raw and lowercase space (enforced
  *    explicitly at build time, not by per-position proofs) and
  *    LENGTH-PRESERVING, so every Gopher gate feature — word count,
  *    mean word length, symbol ratio ([^A-Za-z0-9 ] class: digits
  *    are not symbols), alpha fraction (word-level [A-Za-z] match;
  *    one char per token is pinned alphabetic), stopword hits (the
  *    12 stoplist words are untouched), `n_chars` — is EXACTLY
  *    invariant per shard, while cross-shard shingle overlap
  *    collapses to the rare all-stopword n-gram (far below every
  *    dedup threshold) and cross-shard dHash/frame-hash similarity
  *    decorrelates to near-coin-flip bits. Token-level dedup
  *    structure is untouched: exact/near-dup normalize with
  *    lower(·), under which distinctness is preserved by the
  *    lowercase-space collision check. Char-level distributions
  *    (`llm_entropy`, BPE-regex token counts, lang-id n-grams) ARE
  *    perturbed per shard — no pinned invariant depends on them;
  *  - `embeddings` get a per-(replica, dimension) deterministic sign
  *    flip: an orthogonal transform, so intra-shard dot products,
  *    norms, and cluster structure are bit-exact, while cross-shard
  *    cosines decorrelate to ~N(0, 1/64) — no spurious cross-shard
  *    near-duplicates. `vec_id` shifts by the DOCUMENT stride because
  *    `llm_multimodal` joins `doc_id = vec_id`.
  *
  * Scale posture: one columnar pass per table, no shuffle (explode is
  * map-side); at a real 100 TB this is exactly the shape you'd run —
  * `factor` map tasks per input split, write-partitioned by replica.
  *
  * COMPOSITION LEVELS (sf10 = ScaleUp(sf1, level 2), sf100 =
  * ScaleUp(sf10, level 3) — r8): every level uses the SAME
  * whole-token codebook scheme (r14 — pre-r14, levels 1/2 used
  * per-position char alphabets whose injectivity proofs lived on the
  * lowercase vocabulary; the byte-value perturbation makes
  * per-position reasoning unsound, and the codebook's explicit
  * collision check is strictly stronger anyway): the source
  * vocabulary (bounded — 31 tokens at level 1, ~3k at level 3; the
  * same deliberate driver-side collect as the IVF training sample)
  * is assigned deterministic same-length images by enumerating
  * length-L strings lexicographically, skipping the vocabulary and
  * the stoplist, then perturbing — and admitting an image only if it
  * collides with nothing in raw OR lowercase space. A token
  * bijection composes safely at any level by construction: images
  * are disjoint from the current vocab (which at level k already
  * contains level k−1's images), shingle structure is isomorphic per
  * shard (a bijection on tokens is a bijection on n-grams), and
  * every pinned gate feature — lengths, counts, alpha fraction,
  * stopword hits, `n_chars` — is exactly invariant. The map rides a
  * broadcast hash map inside a documented generation-time UDF (O(1)
  * per token; a literal MapType column would linear-scan the entries
  * per token). The embedding sign-flip seed and the text
  * perturbation salt are LEVEL-TAGGED so a level-2 transform never
  * inverts a level-1 transform (a shared embedding seed would make
  * shard (r,1)∘(1,s) reproduce identity vectors — instant
  * cross-shard duplicates). (Text output is not byte-identical to
  * rungs built before the whole-token codebook, at any level; a
  * rebuilt rung needs no cleanup, because every build-once fixture
  * and metadata memo is keyed by its source tables' fingerprints.) */
object ScaleUp {
  private val Stop = Seq(
    "the", "a", "of", "and", "el", "la", "de", "y",
    "der", "die", "das", "und")

  /** Level-marker file: records the composition level that PRODUCED a
    * directory, so the next amplification can derive (and validate)
    * its own level instead of trusting the caller. The foot-gun this
    * closes: a level-1 re-composition of level-1 data maps every
    * shard's token to the SAME image, collapsing shards into exact
    * duplicates — observed once as a silent 107× near-dup candidate
    * jump in a per-rung candidate count (ScaleUpSpec pins the marker
    * law). Driver-generated testdata has no marker = level 0. */
  private val LevelMarker = "_scaleup_level"

  private[graft] def recordedLevel(dir: String): Int = {
    val f = new java.io.File(dir, LevelMarker)
    if (f.exists()) new String(
      java.nio.file.Files.readAllBytes(f.toPath)).trim.toInt
    else {
      // A marker-less dir is only level 0 when it LOOKS like driver
      // testdata (single-file parquet per table). ScaleUp output is
      // always a Spark-written DIRECTORY with a _SUCCESS file — a
      // pre-r9 marker-less ScaleUp dir read as level 0 would compose
      // at level 1 over level-1 data, the exact shard collapse the
      // marker exists to prevent (r10, per advisor). Refuse instead.
      val docs = new java.io.File(dir, "documents.parquet")
      val sparkWritten = docs.isDirectory &&
        new java.io.File(docs, "_SUCCESS").exists()
      require(!sparkWritten,
        s"$dir has no $LevelMarker marker but its tables are " +
          "Spark-written directories — this looks like ScaleUp output " +
          "from before the marker existed. Deriving level 0 here risks " +
          "the shard-collapse bug; stamp the dir's true level into " +
          s"$dir/$LevelMarker (one integer) and re-run")
      0
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // level derives from the source's marker by default; an explicit
    // 4th arg is validated against it (fail fast, never compose wrong)
    val level =
      if (args.length > 3) args(3).toInt else recordedLevel(src) + 1
    require(factor >= 1 && factor <= 10,
      s"factor must be in [1,10] (the identity shard + up to 9 codebook replicas), got $factor")
    require(level >= 1 && level <= 3, s"level must be 1..3, got $level")
    val spark = core.Sessions.build()
    run(spark, src, dst, factor, level)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int,
      level: Int = 1): Unit = {
    // the marker law: composing at any level other than source+1
    // silently corrupts similarity structure (see [[LevelMarker]]) —
    // fail before reading a single row
    val srcLevel = recordedLevel(src)
    require(level == srcLevel + 1,
      s"ScaleUp level mismatch: $src records level $srcLevel, so the " +
        s"next composition must be level ${srcLevel + 1}, got $level " +
        "(a wrong-level re-composition collapses shards into exact duplicates)")
    // via Tables.load: explicit fail-fast schemas + the ns→µs events
    // timestamp normalization (the output stores plain µs)
    def read(t: String) = core.Tables.load(spark, src, t)
    def write(t: String)(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // replica index column; replica 0 is the untouched source image
    def amplify(df: DataFrame): DataFrame =
      df.withColumn("r", explode(sequence(lit(0), lit(factor - 1))))
    // shard key stride = max(key)+1 of the OWNING table, so shifted key
    // ranges are disjoint whether or not the source keys are dense
    def span(t: String, c: String): Long =
      read(t).agg(max(col(c))).head.getLong(0) + 1L
    def shift(c: String, stride: Long) =
      (col(c) + col("r").cast("long") * stride).as(c)

    val nCust = span("customer", "c_custkey")
    val nSupp = span("supplier", "s_suppkey")
    val nPart = span("part", "p_partkey")
    val nOrd = span("orders", "o_orderkey")
    val nEvt = span("events", "event_id")
    val nUser = span("events", "user_id")
    val nDoc = span("documents", "doc_id")

    write("region")(read("region"))
    write("nation")(read("nation"))

    write("customer")(amplify(read("customer")).select(
      shift("c_custkey", nCust),
      format_string("Customer#%09d", col("c_custkey") + col("r") * nCust)
        .as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))

    write("supplier")(amplify(read("supplier")).select(
      shift("s_suppkey", nSupp),
      format_string("Supplier#%09d", col("s_suppkey") + col("r") * nSupp)
        .as("s_name"),
      col("s_nationkey"), col("s_acctbal")))

    write("part")(amplify(read("part")).select(
      shift("p_partkey", nPart), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))

    write("orders")(amplify(read("orders")).select(
      shift("o_orderkey", nOrd), shift("o_custkey", nCust),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))

    write("lineitem")(amplify(read("lineitem")).select(
      shift("l_orderkey", nOrd), shift("l_partkey", nPart),
      shift("l_suppkey", nSupp), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    write("events")(amplify(read("events")).select(
      shift("event_id", nEvt), col("ts"), shift("user_id", nUser),
      col("event_type"), col("value"), col("props")))

    // ——— documents: lowercase-skeleton remap + per-shard case flips ———
    //
    // Two composed transforms per non-stopword token at replica r ≥ 1
    // (replica 0 is the untouched source image; stopwords pass through
    // at every level):
    //
    //  1. REMAP on the lowercase skeleton: lower(w), then the level's
    //     historical map — level 1 replaces the LAST char with
    //     [[Letters]](r), level 2 the SECOND-TO-LAST with
    //     [[Letters2]](r), level 3 the whole-token codebook. All the
    //     injectivity/disjointness proofs in the scaladoc were made on
    //     the lowercase vocabulary and hold verbatim: lower() is
    //     injective on each level's output vocabulary (case flips never
    //     change a skeleton, and skeletons are replica-disjoint), so
    //     the composed map stays a token bijection per shard.
    //
    //  2. CASE FLIP (r13 verdict #2 — the byte-space mirror of the
    //     embedding sign flips): toggle ~half the image's chars to
    //     uppercase, pattern = deterministic bits of (level, r, image).
    //     Why: the remap alone shifts every block's byte mean by a
    //     near-UNIFORM amount (one char per token moves by a roughly
    //     constant delta), which preserves the ORDER of dHash block
    //     means — every shard copy of a doc stayed within Hamming ≤ 2
    //     of the original and image/video dedup pairs grew as
    //     (shards choose 2)·docs: measured ~86×/decade at r13, the
    //     superlinear series the verdict flagged. An uppercase toggle
    //     moves that char by −32, and with the pattern varying per
    //     (token, char, replica) the per-block shifts (blocks are
    //     len/64 ≈ 2–9 chars on this corpus) randomize the adjacent-
    //     mean comparisons — cross-shard copies decorrelate to ~50 %
    //     of gradient bits, far outside every Hamming threshold.
    //     Why it breaks NOTHING else: every token-level op is either
    //     case-normalized (exact/near-dup normText = lower(trim(·)),
    //     lang-id lowercases) or class-insensitive ([A-Za-z] in the
    //     Gopher gates, the BPE regex), and the flip is a pure
    //     function of the token image, so within-shard duplicate/
    //     shingle structure is still an isomorphic image of the
    //     source. Only raw-byte features move (dHash, frame hashes,
    //     char entropy) — exactly the decorrelation wanted. Gate
    //     features stay EXACTLY invariant: length-preserving,
    //     stopword-transparent, alpha/symbol classes unchanged
    //     (ScaleUpSpec pins all of this plus the new dHash law).
    val stopSet = Stop.toSet
    // splitmix64 (Steele et al., public domain) — the perturbation's
    // bit source; one mix per 8 chars of a token
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val flipSalt = 0x5ca1ab1eL * level
    // Byte-value perturbation of a skeleton, keyed on (level, replica,
    // skeleton, salt): per char, p=1/4 a digit, p=3/8 stays lowercase,
    // p=3/8 toggles UPPERCASE; one position per token is pinned
    // alphabetic so the word still matches the gates' [A-Za-z] class.
    // Why three value classes and not a case toggle alone: dHash
    // blocks on this corpus are 2–9 bytes, and the space byte (32)
    // sits so far below every letter (65–122) that block-mean ORDER
    // between a space-bearing block and a letter block survives any
    // case assignment (measured: case flips alone left cross-shard
    // copies at Hamming ~6 of 63). Digits (48–57) sit BETWEEN, so
    // perturbed block means genuinely reorder: measured cross-shard
    // Hamming lands ~20–30, far past every banding width and verify
    // threshold. Length-preserving; deterministic.
    def perturb(skel: String, r: Int, salt: Int): String = {
      var bits = mix64(mix64(
        scala.util.hashing.MurmurHash3.stringHash(skel).toLong ^ flipSalt ^
          (salt.toLong << 32)) ^ r.toLong)
      val keep = math.floorMod((bits >>> 58).toInt, skel.length)
      val sb = new java.lang.StringBuilder(skel.length)
      var i = 0
      while (i < skel.length) {
        if (i > 0 && i % 8 == 0) bits = mix64(bits)
        val d = ((bits >>> ((i % 8) * 8)) & 0xff).toInt
        val c = skel.charAt(i)
        sb.append(
          if (c < 'a' || c > 'z') c
          else if (d < 64 && i != keep) ('0' + d % 10).toChar
          else if (d < 160) c
          else (c - 32).toChar)
        i += 1
      }
      sb.toString
    }
    // ONE skeleton scheme for every level (r14 — previously level 1/2
    // used per-position char alphabets, whose injectivity proofs
    // lived on the lowercase vocabulary; the perturbation pass above
    // makes those per-position proofs unsound, so all levels now use
    // the whole-token codebook that level 3 always used, with
    // collision-freedom enforced EXPLICITLY below rather than by
    // per-position reasoning): the source vocabulary is collected
    // once (bounded — 31 tokens at level 1, ~3k at level 3; the same
    // deliberate driver-side collect as the IVF training sample),
    // each (token, replica) pair draws a distinct same-length
    // lexicographic base skeleton, the skeleton is perturbed, and the
    // final image is admitted only if it collides with NOTHING seen
    // before — not another image, not a corpus token, not a stopword,
    // in either raw or LOWERCASE space (lowercase-distinctness keeps
    // the token bijection exact under the dedup family's lower(·)
    // normalization at every composition level). On a collision the
    // salt increments and the perturbation redraws — deterministic,
    // terminating (the image space per skeleton is ~13^len).
    val rawVocab: Array[String] = read("documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(!col("w").isin(Stop: _*)).distinct()
      .collect().map(_.getString(0))
    def lexStrings(len: Int): Iterator[String] = {
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def rec(l: Int): Iterator[String] =
        if (l == 0) Iterator("")
        else rec(l - 1).flatMap(p => alpha.iterator.map(p + _))
      rec(len)
    }
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val images: Map[(Int, String), String] = {
      val taken = scala.collection.mutable.HashSet[String]() ++
        rawVocab ++ stopSet
      val lowerTaken = scala.collection.mutable.HashSet[String]() ++
        rawVocab.map(lower) ++ stopSet
      val m = Map.newBuilder[(Int, String), String]
      for ((len, toks) <- rawVocab.groupBy(_.length).toSeq.sortBy(_._1)) {
        // base skeletons skip the corpus vocab (lowercased) and the
        // stoplist at this length, so an unperturbed draw is already
        // collision-free in lowercase space
        val lowTaken = toks.map(lower).toSet ++ stopSet.filter(_.length == len)
        val draws = lexStrings(len).filterNot(lowTaken.contains)
        for (t <- toks.sorted; r <- 1 until factor) {
          val skel = draws.next()
          var salt = 0
          var img = perturb(skel, r, salt)
          while (taken.contains(img) || lowerTaken.contains(lower(img))) {
            salt += 1; img = perturb(skel, r, salt)
          }
          taken += img; lowerTaken += lower(img)
          m += ((r, t) -> img)
        }
      }
      m.result()
    }
    val bc = spark.sparkContext.broadcast(images)
    // generation-time UDF (the one place a closure beats Catalyst:
    // O(1) lookups against the broadcast (factor−1)×|vocab| image map)
    val remap = udf { (text: String, r: Int) =>
      if (r == 0) text
      else {
        val m = bc.value
        text.split(" ").map(w => m.getOrElse((r, w), w)).mkString(" ")
      }
    }
    write("documents")(amplify(read("documents")).select(
      shift("doc_id", nDoc),
      remap(col("text"), col("r")).as("text"),
      col("lang"), col("source"), col("n_chars")))

    // orthogonal per-shard transform: deterministic ±1 per (r, dim).
    // The seed is LEVEL-TAGGED (level 1 keeps its historical literal so
    // sf1 reproduces byte-identically): with a shared seed, a level-2
    // flip with the same r would exactly invert a level-1 flip and
    // shard (r,·)∘(·,r) would reproduce the identity shard's vectors —
    // cross-shard exact duplicates, the very artifact ScaleUp exists
    // to avoid.
    val signSeed =
      if (level == 1) "graft_shard_sign"
      else if (level == 2) "graft_shard_sign_L2"
      else "graft_shard_sign_L3"
    write("embeddings")(amplify(read("embeddings")).select(
      // DOC stride, not the embeddings row count: llm_multimodal joins
      // doc_id = vec_id and the alignment must survive sharding
      shift("vec_id", nDoc),
      transform(col("embedding"), (x, i) =>
        when(col("r") === 0 ||
          pmod(xxhash64(lit(signSeed), col("r") * 64 + i), lit(2)) === 0, x)
          .otherwise(-x)).cast("array<float>").as("embedding"),
      col("label")))

    // stamp the produced level last — a crashed run leaves no marker,
    // so a re-run re-derives from the SOURCE, never from a partial dst
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dst, LevelMarker),
      level.toString.getBytes)
  }
}
