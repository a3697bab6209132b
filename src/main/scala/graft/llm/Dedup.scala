package graft.llm

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Blocked, Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}
import graft.functions.WordShingles

/** SURVEY.md §2.11 — deduplication family for training-data pipelines
  * (north star, BASELINE.json): exact, MinHash-LSH (3-gram), brute-force n-gram
  * Jaccard (the LSH ground truth), and SimHash.
  *
  * 100 TB notes:
  *  - exact dedup is one hash-groupBy: shuffle carries (hash, doc_id).
  *  - MinHash-LSH is the scale path for near-dup: candidates come from
  *    band-bucket equality joins (O(n·bands) shuffle), never the O(n²)
  *    pairwise cross product; only candidates pay the exact-Jaccard
  *    verification join.
  *  - `llm_ngram_jaccard` (brute) exists as the oracle-checkable ground
  *    truth; at scale you never run it — it's the correctness reference
  *    for the LSH path (ScalaTest asserts LSH == brute on test data).
  *  - SimHash stores one 64-bit signature per doc; candidates share a
  *    16-bit band (pigeonhole: hamming ≤ 3 pairs always share one of 4
  *    bands; we use ham ≤ 3 for guaranteed recall). Its band join is
  *    capped like the MinHash one ([[graft.core.Blocked.selfPairs]]),
  *    so a hot 16-bit bucket is never one m² join group.
  *
  * Every near-dup key composes the same few stages, each defined once:
  * the capped band join ([[graft.core.Blocked.selfPairs]]), the
  * candidate-doc cut ([[candidateRows]]), Jaccard from intersection
  * counts ([[jaccardAtLeast]]), the Hamming verify ([[hammingAtMost]],
  * after the [[withHashes]] lookup for the image and video keys), the
  * planted-copy corpus ([[planted]]) and, on the oracle side, the
  * shingle set ([[shingleSetCte]]) and the all-pairs Jaccard replay
  * ([[jaccardCte]]).
  */
object Dedup {

  private[graft] def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Normalized text: collapse whitespace, trim, lowercase — mirrored
    * exactly in the oracle (regexp_replace with 'g'!). */
  private[llm] def normText = lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** Exact dedup: normalize → sha256 → keep min(doc_id) per hash. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    ordered(
      docs(spark, dir)
        .select(col("doc_id"), sha2(normText, 256).as("content_hash"))
        .groupBy(col("content_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies")))

  private val exactDedupSql =
    s"""SELECT sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
       |  min(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
       |FROM documents
       |GROUP BY 1
       |${O.OrderAll}"""

  /** Distinct 3-word shingles per doc via the custom Generator UDTF.
    * k=3 on a 31-token vocabulary: the shingle space (~30k) is sparse
    * enough that the brute-force shingle join stays near-linear, while
    * 2-grams (~1k space) made every shingle a hot key (60M-row join at
    * sf0.1 — measured). Shingle rarity is THE scaling lever here. */
  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(spark, docs(spark, dir))

  /** Per-doc shingle SETS. The dedup happens INSIDE the generator
    * (row-local hash set, bounded by the doc's own length): a
    * `.distinct()` spelling is a cluster-wide exchange of
    * every raw shingle string (~415M rows at the sf100 rung, the
    * pipeline's largest shuffle, and the disk-spill that killed the
    * first sf100 bench attempt), deduping per (doc_id, shingle) — a
    * purely row-local property. Output is identical: distinct-within-
    * doc, first-occurrence order (no consumer is order-sensitive). */
  private[graft] def shinglesOf(spark: SparkSession, d: DataFrame,
      k: Int = 3): DataFrame = {
    val fn = WordShingles.registerDistinct(spark, k)
    // spread an under-split scan before the CPU-bound generate: a
    // small-SF documents.parquet is 1–2 splits, and without the old
    // distinct's incidental exchange the whole shingle+hash pipeline
    // would run on 1–2 cores (measured: the brute-jaccard twin
    // 9→23 s at sf1). No-op at scale and for the candidate-cut verify
    // inputs, whose join already partitioned them. Keyed on doc_id:
    // skips round-robin's sort-before-repartition, and the
    // downstream signature groupBy(doc_id) can reuse the hash layout.
    graft.core.Spread.cpuBound(spark, d, col("doc_id"))
      .selectExpr("doc_id", s"$fn(text) AS shingle")
  }

  private val NumPerms = 64 // minhash permutations
  private val BandRows = 4  // rows per band → 16 bands
  private val JaccardThreshold = 0.8

  /** MinHash-LSH near-dup detection: shingle → 64-perm minhash signature
    * → 16 LSH bands of 4 → band-bucket candidate pairs → exact-Jaccard
    * verification ≥ 0.8. Fixed seeds end-to-end → deterministic.
    *
    * Oracled against the brute-force ground-truth SQL: the
    * verify step makes LSH ⊆ brute BY CONSTRUCTION (every emitted pair
    * passed the exact-Jaccard cut), and recall is exact on these
    * corpora — a ≥0.8-Jaccard pair collides in at least one of the 16
    * four-row bands (P[miss] = (1−s⁴)^16 ≤ 2·10⁻⁴ at s = 0.8, and the
    * hash family is FIXED, so the empirical equality pinned by
    * LlmSpec at sf0.001 AND sf0.01 — the driver's correctness scale —
    * is reproducible, not probabilistic). Hash-matching the brute SQL
    * is therefore the honest gate: a banding/signature regression
    * breaks equality and turns the row red. */
  def nearDedup(spark: SparkSession, dir: String): DataFrame =
    nearDedupPairs(spark, docs(spark, dir))

  /** The full MinHash-LSH pipeline over an arbitrary (doc_id, text)
    * frame — exposed so PropertySpec can assert LSH == brute on
    * GENERATED corpora (tiny vocab ⇒ hot shingles, planted dups,
    * adversarial short docs), not just the fixed fixtures. */
  private[graft] def nearDedupPairs(spark: SparkSession, d: DataFrame): DataFrame =
    ordered(nearDedupPairsRaw(spark, d))

  /** UNSORTED, localCheckpoint'ed near-dup pair set — the production
    * pair source for the derived ops ([[dedupApply]], [[dupClusters]]),
    * which re-join or anti-join it and must not inherit a pointless
    * global sort (or, worse, the brute twin's all-pairs self-join,
    * 10–12 s per derived key at sf1 vs the banded path's near-linear
    * candidates). */
  private[graft] def nearDedupPairsRaw(spark: SparkSession, d: DataFrame): DataFrame = {
    // No cache on the shingle stream: with the per-doc dedup
    // inside the generator, shingles are a pure map-side derivation of
    // the docs scan — re-generating the few CANDIDATE docs' shingles
    // for the verify costs one pruned parquet read, while caching the
    // full table at the sf100 rung held ~415M rows across memory +
    // disk for a verify stage that reads ~0.5% of them.

    // signature: minimum of a seeded 64-bit hash per permutation. The
    // variable-length shingle STRING is hashed once into a 64-bit base;
    // the 64 permutations re-hash that fixed-width base with the
    // permutation id (still xxhash64 — full avalanche, independent
    // family members), so per-row hashing cost is one string hash +
    // 64 12-byte hashes instead of 64 ~35-byte string hashes.
    //
    // Shape note: this explode→groupBy spelling is NOT a raw-shingle
    // shuffle — Spark's partial aggregation combines map-side, so the
    // exchange carries one (doc_id, 64 mins) row per doc per mapper.
    // The zero-shuffle alternative (per-row array HOFs, 64×array_min
    // over transform) was measured 30% SLOWER here: 64 intermediate
    // array allocations per row outweigh a combiner-collapsed shuffle.
    val bands = minhashBands(shinglesOf(spark, d))

    // candidates: docs sharing any band bucket, via the BOUNDED
    // blocked self-join (see bandPairs) — a boilerplate-heavy corpus
    // puts thousands of docs in one band bucket, and a naive bucket
    // self-join would hand one join group O(m²) pair rows.
    // localCheckpoint (tiny): verifyJaccard reads the candidate set
    // twice (once to derive the candidate DOC ID filter, once as the
    // pair probe) — unmaterialized, each read would re-run the blocked
    // band join.
    val cand = bandPairs(bands).lineageCut()

    // verify input: shingle sets of CANDIDATE DOCS ONLY, with the cut
    // applied to the docs themselves (ahead of the generator) so only
    // candidate docs are even re-tokenized — upstream of
    // verifyJaccard's own id cut, which is a no-op here.
    val shCand = shinglesOf(spark, candidateRows(cand, d))

    // checkpoint the UNSORTED pair set (tiny — tens of rows), then sort:
    // checkpointing through ordered()'s global sort materializes the
    // sort itself into block storage (a reproduced ~1.6× slowdown).
    verifyJaccard(cand, shCand, JaccardThreshold).lineageCut()
  }

  /** Build-once near-dup pair set for the DERIVED ops
    * ([[dedupApply]], [[dupClusters]], [[editDistance]]) — the same
    * persisted-index lifecycle as the IVF/PQ fixtures
    * ([[Similarity]]'s `ensurePqIndex`): the first consumer pays one
    * full [[nearDedupPairsRaw]] run and publishes the (tiny) pair
    * table atomically; every later consumer reads the parquet. The
    * fixture name is PARAMETER-KEYED (permutations, band rows,
    * threshold) and keyed by the documents table's fingerprint, so
    * neither a tuning change nor a rewritten corpus can serve stale
    * pairs — either builds a fresh fixture under a new name. This is
    * exactly how a production near-dedup runs at 100 TB: the
    * candidate+verify pipeline executes once per corpus snapshot, and
    * the application (drop list), clustering, and any per-pair
    * re-scoring all consume the STORED pair table instead of re-mining
    * it (the three derived keys used to re-run the full banded
    * pipeline per invocation — 4.2–5.5 s each at sf0.1 for what is a
    * sub-second increment over a stored pair set). `llm_near_dedup` itself still
    * runs the pipeline end-to-end — it IS the build step being
    * measured. */
  private[graft] def nearDupPairsFixture(
      spark: SparkSession, dir: String): DataFrame = {
    val name = s"neardup_pairs_p${NumPerms}_r${BandRows}" +
      s"_t${math.round(JaccardThreshold * 100)}"
    spark.read.parquet(graft.core.Fixtures.once(dir, name, "documents") { tmp =>
      nearDedupPairsRaw(spark, docs(spark, dir)).write.parquet(tmp)
    })
  }

  /** Deterministic batch membership for the incremental-dedup demo:
    * doc_id % 10 == 7 plays "today's crawl batch" (~10 % of docs);
    * the rest is the already-deduped stored corpus. */
  private[graft] def isIncrementalBatch: Column = col("doc_id") % 10 === 7

  /** STORED corpus LSH index — the artifact an incremental dedup
    * probes instead of re-mining the corpus: the corpus docs'
    * (band_idx, band_hash, doc_id) MinHash band rows, PLUS the
    * block-capping metadata computed once at build time (`gx` = the
    * doc's [[BandBucketCap]]-sized block within its bucket, `num_g` =
    * the bucket's block count). Storing the block layout IN the index
    * is what makes every later probe skew-safe for free: a probe
    * explodes over the stored `num_g` and joins on (band, hash, gx),
    * so a hot bucket (boilerplate pages) is ≤ Cap corpus rows per
    * join group — no re-ranking window, no m×n join group. Same
    * build-once / parameter-keyed / no-retrain lifecycle as the
    * IVF/PQ index fixtures. */
  private[graft] def corpusBandIndexFixture(
      spark: SparkSession, dir: String): DataFrame = {
    val name = s"neardup_index_p${NumPerms}_r${BandRows}_c$BandBucketCap"
    spark.read.parquet(graft.core.Fixtures.once(dir, name, "documents") { tmp =>
      val corpus = docs(spark, dir).filter(!isIncrementalBatch)
      indexBlockLayout(minhashBands(shinglesOf(spark, corpus))).write.parquet(tmp)
    })
  }

  /** The index's block layout: each (band, hash) bucket's docs cut
    * into [[BandBucketCap]]-sized `gx` blocks, `num_g` = the bucket's
    * block count. One definition shared by [[corpusBandIndexFixture]]
    * and the probe-law spec. */
  private[graft] def indexBlockLayout(bands: DataFrame): DataFrame =
    Blocked.blocks(bands, BandKeys, "doc_id", BandBucketCap, "gx", "num_g")

  /** Candidate stage of [[dedupIncremental]] — (doc_a, doc_b) pairs a
    * batch band signature raises against the stored index plus itself.
    * Factored out so ScaleUpSpec's candidate-growth test counts
    * EXACTLY what the keyed query verifies (nothing re-derived). */
  private[graft] def incrementalCandidates(
      batchBands: DataFrame, index: DataFrame): DataFrame = {
    // probe: only buckets the index knows, exploded over the stored
    // block count — equi join on (band, hash, gx, _gb), ≤ Cap² rows
    // per group. BOTH sides are block-capped: the corpus side at build
    // time (gx/num_g), the batch side here by the same ranking
    // (_gb/_numGb), so a hot BATCH bucket cannot put its m probes ×
    // one corpus block in a single join group; corpus rows replicate
    // over the batch's block count (1 for the common small bucket),
    // batch rows over the stored num_g — every (corpus doc, batch doc)
    // bucket pair meets on exactly one (gx, _gb) key, so the distinct
    // output is provably unchanged.
    val rankedB = Blocked.blocks(batchBands, BandKeys, "doc_id", BandBucketCap,
      "_gb", "_numGb")
    val numG = index
      .select(col("band_idx"), col("band_hash"), col("num_g")).distinct()
    val probe = rankedB.join(numG, BandKeys)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"),
        col("_gb"),
        explode(sequence(lit(0L), col("num_g") - 1)).as("gx"))
    val numGb = rankedB
      .select(col("band_idx"), col("band_hash"), col("_numGb")).distinct()
    val corpusSide = index
      .select(col("band_idx"), col("band_hash"), col("gx"),
        col("doc_id").as("doc_a"))
      .join(numGb, BandKeys) // touched buckets only
      .select(col("band_idx"), col("band_hash"), col("gx"), col("doc_a"),
        explode(sequence(lit(0L), col("_numGb") - 1)).as("_gb"))
    val bc = probe
      .join(corpusSide, BandKeys ++ Seq("gx", "_gb"))
      .select(col("doc_a"), col("doc_b")).distinct()
    bc.unionByName(bandPairs(batchBands)).distinct()
  }

  /** INCREMENTAL near-dedup — the lifecycle a production corpus
    * actually runs (a 100 TB corpus is never re-deduped from scratch;
    * each crawl batch is deduped AGAINST it): today's batch
    * (deterministic ~10 % slice) is gated against the stored corpus
    * LSH index ([[corpusBandIndexFixture]]) plus itself, and the
    * survivors are what gets appended. Work is proportional to the
    * BATCH — the corpus contributes only its stored band rows (read,
    * never re-shingled) and the few candidate docs that share a
    * bucket with a batch doc (re-shingled for the exact verify).
    *
    * Shape: batch shingles → batch band signature → two candidate
    * sources, both equi-joins: (1) batch probes the stored index on
    * (band, hash, gx, _gb) — corpus side block-capped AT BUILD TIME
    * (gx/num_g), batch side capped at probe time by the same ranking,
    * so a join group is ≤ [[BandBucketCap]]² rows even when the
    * BATCH lands a hot bucket; (2) the
    * batch self-joins through the capped [[bandPairs]]. Only
    * candidates pay the exact-Jaccard verify. Drop rules: a batch doc
    * near-duplicating ANY corpus doc drops (the stored corpus always
    * wins — its ids are already published), and within the batch
    * min-id-wins, exactly [[dedupApply]]'s convention. The oracle
    * replays both rules over brute all-pairs Jaccard, so LSH recall
    * is hash-gated here too. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val batch = d.filter(isIncrementalBatch)
    val index = corpusBandIndexFixture(spark, dir)
    // batch shingles are a pure map-side derivation (per-doc dedup
    // lives in the generator); the two reads below each cost one
    // pruned scan of the ~10% batch, cheaper at scale than holding the
    // shingle rows across the verify
    val batchSh = shinglesOf(spark, batch)
    val batchBands = minhashBands(batchSh)
    val cand = incrementalCandidates(batchBands, index).lineageCut()
    // verify: batch shingles are in hand; only candidate CORPUS docs
    // are re-shingled (a bounded set — in production these doc reads
    // are the index's payload column)
    val corpusCandSh =
      shinglesOf(spark, candidateRows(cand, d.filter(!isIncrementalBatch)))
    val pairs =
      verifyJaccard(cand, batchSh.unionByName(corpusCandSh), JaccardThreshold)
    val drops = pairs.select(col("doc_b").as("drop_id")).distinct()
    ordered(
      batch.join(drops, col("doc_id") === col("drop_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
  }

  /** Oracle CTEs `t` and `toks` ([[graft.core.OracleDsl.tokensCte]])
    * plus `sh` (doc_id, s): each doc of `from`'s distinct 3-word
    * shingles, or its whole text when it has ≤ 3 tokens — the mirror of
    * [[shinglesOf]]'s generator. `sh` is MATERIALIZED: DuckDB INLINES a
    * CTE once per reference, and every caller joins `sh` with itself,
    * so an inlined shingle tree ran once per reference (with `toks` and
    * `jac` also inlined, up to 2x3x2 concurrent copies in
    * `llm_dedup_incremental`'s plan, which spilled >45 GB at sf10 where
    * one evaluation runs in ~30 s). Postgres-standard syntax, honored
    * by DuckDB >= 0.9; it never changes results. */
  private[llm] def shingleSetCte(from: String): String =
    s"""${O.tokensCte(from)},
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS s
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
       |  UNION
       |  SELECT doc_id, text AS s FROM $from WHERE len(string_split(text, ' ')) <= 3)"""

  /** Oracle CTEs of [[shingleSetCte]] over `documents` plus `jac`
    * (doc_a < doc_b, jaccard): every pair at 3-shingle Jaccard ≥
    * [[JaccardThreshold]], by all-pairs intersection counts — the brute
    * replay that every near-dup oracle checks the banded path against.
    * `jac` is MATERIALIZED for the callers that read it twice. */
  private def jaccardCte: String =
    s"""${shingleSetCte("documents")},
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS MATERIALIZED (
       |  SELECT doc_a, doc_b,
       |    CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= $JaccardThreshold)"""

  private val dedupIncrementalSql =
    s"""WITH $jaccardCte,
       |drops AS (
       |  SELECT DISTINCT d FROM (
       |    SELECT doc_b AS d, doc_a AS o FROM jac
       |    UNION ALL
       |    SELECT doc_a AS d, doc_b AS o FROM jac) p
       |  WHERE d % 10 = 7 AND (o % 10 <> 7 OR o < d))
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT d FROM drops)
       |${O.OrderAll}"""

  /** (doc_id, band_idx, band_hash) LSH index of a (doc_id, shingle)
    * set — the signature+banding stage of [[nearDedupPairs]], one
    * definition shared with ScaleUpSpec's candidate counting.
    * localCheckpoint'ed: bandPairsKeyed's x/y branches and its ranking
    * window would otherwise re-run the 64-agg signature build per
    * branch (same stored-index note as cosineBandCandidates). */
  private[graft] def minhashBands(sh: DataFrame): DataFrame = {
    val based = sh.withColumn("_hb", xxhash64(col("shingle")))
    val sigCols = (0 until NumPerms).map(p =>
      min(xxhash64(lit(p), col("_hb"))).as(s"h$p"))
    val sig = based.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)

    // LSH bands: hash of each 4-signature chunk.
    val bandCols = (0 until NumPerms / BandRows).map { b =>
      val rows = (0 until BandRows).map(r => col(s"h${b * BandRows + r}"))
      xxhash64((lit(b) +: rows): _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
      .lineageCut()
  }

  /** Max docs per block in the blocked band self-join — bounds any
    * single join group at BandBucketCap² pair rows. */
  private[graft] val BandBucketCap = 64

  /** The bucket key of a band frame: (band index, band value). */
  private val BandKeys = Seq("band_idx", "band_hash")

  /** All intra-bucket candidate pairs (doc_a < doc_b) of a
    * (doc_id, band_idx, band_hash) frame, with BOUNDED per-join-key
    * fan-out, key columns retained for the skew test. A naive bucket
    * self-join makes each (band, hash) bucket ONE join group of m²
    * pair rows — a hot bucket (boilerplate pages, empty docs) becomes
    * a straggler task that AQE's skew split cannot divide, because the
    * skew is within a single key, not across keys. Here docs in a
    * bucket are ranked (window on the same key the join would shuffle
    * on anyway) and cut into blocks of [[BandBucketCap]]; each doc is
    * replicated to its partner blocks and pairs are joined
    * block-pair-wise on (band, hash, gx, gy) — ≤ Cap² rows per join
    * group, and the hot bucket's work spreads over ~(m/Cap)²/2
    * independent keys. Replication is the block count ceil(m/Cap) per
    * row — linear, and 1 (no overhead) for the common small bucket.
    *
    * Output is provably identical to the naive self-join: a pair
    * (a ≤ blocks gx) × (b ≤ gy), gx ≤ gy, joins on exactly one key —
    * (gx, gy) — and same-block mirrors die on doc_a < doc_b. The
    * decomposition itself is [[graft.core.Blocked.selfPairs]], shared
    * with the link-prediction wedge join and the image and video band
    * joins. */
  private[graft] def bandPairsKeyed(bands: DataFrame): DataFrame =
    Blocked.selfPairs(bands, BandKeys, "doc_id", BandBucketCap, "doc_a", "doc_b")

  /** Candidate pairs from band buckets — the bounded-skew spelling of
    * `bands ⋈ bands ON same bucket AND doc_a < doc_b`. */
  private[graft] def bandPairs(bands: DataFrame): DataFrame =
    bandPairsKeyed(bands).select(col("doc_a"), col("doc_b")).distinct()

  /** The rows of `rows` whose doc_id is in a (doc_a, doc_b) pair of
    * `pairs`, via a broadcast semi join on the pairs' distinct doc
    * ids. LSH leaves ~0.5% of docs in any candidate pair, so this cut
    * is what keeps every verify join candidate-sized. */
  private def candidateRows(pairs: DataFrame, rows: DataFrame): DataFrame = {
    val ids = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    rows.join(broadcast(ids), Seq("doc_id"), "left_semi")
  }

  /** Exact Jaccard for a pair list, given the (doc_id, shingle) set.
    * Returns UNSORTED pairs — callers order (or feed downstream ops).
    *
    * The shingle table is first cut to CANDIDATE DOCS ONLY
    * ([[candidateRows]]): without the cut the two intersection joins
    * shuffle the FULL corpus shingle table to score a few hundred
    * pairs — measured 1.26 s → ~0.4 s at sf0.1, and the gap widens
    * with corpus size (candidates grow near-linearly but the un-cut
    * shuffle grows with total shingle volume). Per-doc shingle sets
    * survive the cut whole, so n_a/n_b/intersections are unchanged —
    * output is provably identical. `pairs` must be materialized by the
    * caller (it is read twice). */
  private[graft] def verifyJaccard(pairs: DataFrame, sh: DataFrame, thr: Double): DataFrame = {
    // lineage cut (guide §3 plan truncation): shc is referenced FOUR
    // times below (both intersection legs + both size joins), and each
    // reference re-derived the whole candidate shingle subtree — docs
    // scan → semi join → Generate — per consumer (4 repeat subtrees
    // under llm_dedup_incremental's 37-job chain). The cut
    // materializes the candidate-only shingle set once; it is bounded
    // by the candidate pair count (~0.5 % of docs), so the
    // materialization stays small at any corpus scale.
    val shc = candidateRows(pairs, sh).lineageCut()
    val inter = pairs
      .join(shc.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(shc.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    jaccardAtLeast(inter, shc, thr)
  }

  /** (doc_a, doc_b, jaccard) of the (doc_a, doc_b, n_inter) pairs whose
    * Jaccard n_inter / (n_a + n_b − n_inter) is ≥ `thr`, with the set
    * sizes counted from the (doc_id, shingle) set `sh`. jaccard is an
    * exact rational of small ints → bit-identical on both engines;
    * rounding would tie at the 7th digit (103/128 = 0.8046875) where
    * the engines disagree. Compare raw. */
  private def jaccardAtLeast(inter: DataFrame, sh: DataFrame, thr: Double): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= thr)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Brute-force 3-gram Jaccard ≥ 0.8 over all pairs sharing ≥1 shingle
    * — the oracle-checkable ground truth for `llm_near_dedup`. The
    * derived ops (`dedupApply`, `dupClusters`) ride the banded
    * production path ([[nearDedupPairsRaw]]), never this one. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ordered(bruteJaccardPairs(spark, docs(spark, dir)))

  /** Brute pair set over an arbitrary (doc_id, text) frame, UNSORTED
    * and localCheckpoint'ed (lineage truncated, shingle cache
    * released) — the ground-truth twin of [[nearDedupPairs]] for
    * generated corpora. Verification twin, never the scale path: the
    * production pair source is the banded [[nearDedupPairs]] (PlanSpec
    * pins its capped blocked join); this all-pairs join exists so the
    * oracle and the LSH==brute laws have an exact reference. */
  private[graft] def bruteJaccardPairs(spark: SparkSession, d: DataFrame): DataFrame = {
    // Direct intersection counts from the shingle self-join — one
    // shuffle join + one aggregation. (A pairs→distinct→re-join
    // formulation does the same work three times: measured 10.6 s vs
    // ~4 s at sf0.1.)
    val sh = shinglesOf(spark, d).cache() // released after checkpoint below
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    // checkpoint before any sort (see nearDedup): the pair set is tiny.
    val out = jaccardAtLeast(inter, sh, JaccardThreshold).lineageCut()
    sh.unpersist()
    out
  }

  private val ngramJaccardSql =
    s"""WITH $jaccardCte
       |SELECT doc_a, doc_b, jaccard FROM jac
       |${O.OrderAll}"""

  /** Portable FNV-1a 64-bit string hash (deterministic across runs;
    * used where the hash must be computed in plain Scala). */
  private[graft] def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Hamming ≤ 3 SimHash pairs over an arbitrary (doc_id, text) frame:
    * 64-bit per-doc signature from token-hash bit votes; candidates
    * share one of four 16-bit bands (pigeonhole guarantees recall for
    * hamming ≤ 3) through the capped band join
    * ([[graft.core.Blocked.selfPairs]]); verified by exact hamming
    * ([[hammingAtMost]]) inside that join. Shared by the keyed query
    * and the planted-near-dup ScalaTest. */
  private[graft] def simhashPairs(d: DataFrame): DataFrame = {
    val sim = udf { (text: String) =>
      val votes = new Array[Int](64)
      text.split(" ").foreach { tok =>
        val h = fnv1a(tok)
        var i = 0
        while (i < 64) { votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
      out
    }
    // The pair id is the struct (doc_id, sig): it orders and compares
    // by doc_id (unique), and it brings both signatures into the capped
    // band join, so the Hamming check runs as that join's residual and
    // only verified pairs reach the distinct. 16-bit bands of this
    // 31-token-vocabulary corpus collide quadratically (7.8M candidate
    // rows at sf1, 250k at sf0.1), which a verify after a candidate
    // distinct would shuffle first. localCheckpoint'ed: both self-join
    // branches read the bands instead of re-hashing every document.
    val bands = d.select(struct(col("doc_id"), sim(col("text")).as("sig")).as("ds"))
      .select(col("ds"),
        posexplode(array((0 until 4).map(i =>
          shiftrightunsigned(col("ds.sig"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(BandKeys))
      .lineageCut()
    val pairs = Blocked.selfPairs(bands, BandKeys, "ds", BandBucketCap, "a", "b")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("_ha"), col("b.sig").as("_hb"))
    hammingAtMost(pairs, 3).select(col("doc_a"), col("doc_b"), col("hamming")).distinct()
  }

  /** `cand` (doc_a, doc_b, `on`…) with each side's `hashCol` looked up
    * in `h` on (doc_id, `on`…) as `_ha`/`_hb` — the input of
    * [[hammingAtMost]] for the image and video keys in [[Multimodal]]. */
  private[llm] def withHashes(cand: DataFrame, h: DataFrame, hashCol: String,
      on: Seq[String]): DataFrame = {
    def side(id: String, hash: String) =
      h.select((col("doc_id").as(id) +: on.map(col)) :+ col(hashCol).as(hash): _*)
    cand
      .join(side("doc_a", "_ha"), "doc_a" +: on)
      .join(side("doc_b", "_hb"), "doc_b" +: on)
  }

  /** The pairs whose hashes `_ha` and `_hb` differ in at most `max`
    * bits, with that distance as `hamming` — the exact verify after
    * every Hamming banding: SimHash here, the image and video dHash in
    * [[Multimodal]]. */
  private[llm] def hammingAtMost(pairs: DataFrame, max: Int): DataFrame =
    pairs
      .withColumn("hamming", expr("cast(bit_count(_ha ^ _hb) as int)"))
      .filter(col("hamming") <= max)

  /** The planted derivative of each doc of the (doc_id, text) frame `d`
    * with doc_id < `n`: id + `offset`, text `text` (an expression over
    * the source doc's columns) — the copies whose detection the
    * near-dup keys' oracles pin. */
  private[llm] def planted(d: DataFrame, n: Long, offset: Long, text: Column): DataFrame =
    d.filter(col("doc_id") < n)
      .select((col("doc_id") + offset).as("doc_id"), text.as("text"))

  /** Planted-variant id offsets for the keyed SimHash query: each is a
    * text transformation that provably PRESERVES the SimHash signature,
    * so detection (pair found, hamming exactly 0) is an invariant the
    * oracle can pin — not a probabilistic hope. */
  private val SimhashPlantBase = 20L // first N docs get variants
  private val CopyOffset = 100000000L    // identical text
  private val ShuffleOffset = 200000000L // tokens sorted: votes are a bag-of-words sum
  private val DoubleOffset = 300000000L  // text repeated: votes double, signs unchanged

  /** Keyed SimHash query: the signature family is
    * hash-specific, so the ORACLE-FACING output is the set of pairs
    * whose detection is mathematically guaranteed, each with its
    * detection flags — planted variants exercising SimHash's defining
    * invariances (order-independence: votes are a bag-of-words sum;
    * repetition-independence: doubling every vote flips no sign;
    * identity), plus every exact raw-text duplicate pair already in
    * the corpus (identical text ⇒ identical signature ⇒ the pair
    * shares all four bands and survives at hamming 0). The full
    * corpus ∪ planted set flows through the real pipeline
    * ([[simhashPairs]]) and the flags are computed from its actual
    * output, so a banding or signature regression turns the row red
    * at the driver gate. Probabilistic near-dup detection (hamming ≤ 3
    * on almost-identical texts) stays pinned in ScalaTest, where a
    * tolerance is expressible. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val text = col("text")
    val variants = Seq(
      ("planted_copy", CopyOffset, text),
      ("planted_shuffled", ShuffleOffset, array_join(sort_array(split(text, " ")), " ")),
      ("planted_doubled", DoubleOffset, concat(text, lit(" "), text)))
    val corpus = variants.foldLeft(d) { case (c, (_, off, t)) =>
      c.unionByName(planted(d, SimhashPlantBase, off, t))
    }
    // the real pipeline over corpus ∪ planted; pairs is small (planted
    // + true near-dups), localCheckpoint'ed so the three flag joins
    // below don't re-run the band join each
    val pairs = simhashPairs(corpus).lineageCut()
    val zeroPairs = pairs.filter(col("hamming") === 0)
      .select(col("doc_a"), col("doc_b"))

    // expected pairs: one row per guaranteed detection
    val plantedExpected = variants.map { case (kind, off, _) =>
      d.filter(col("doc_id") < SimhashPlantBase)
        .select(lit(kind).as("pair_kind"), col("doc_id").as("id_a"),
          (col("doc_id") + off).as("id_b"))
    }.reduce(_ unionByName _)
    // corpus raw-text dup groups: canonical (min_id, other) pairs.
    // Grouped/joined on a 256-bit content hash so the exchange carries
    // 32 bytes per row, never the document body (same scale rationale
    // as llm_exact_dedup's hash-groupBy).
    val keyed = d.select(col("doc_id"), sha2(col("text"), 256).as("_tkey"))
    val grp = keyed.groupBy(col("_tkey")).agg(min(col("doc_id")).as("min_id"))
    val corpusDups = keyed.join(grp, Seq("_tkey"))
      .filter(col("doc_id") > col("min_id"))
      .select(lit("corpus_exact_dup").as("pair_kind"),
        col("min_id").as("id_a"), col("doc_id").as("id_b"))

    val expected = plantedExpected.unionByName(corpusDups)
    ordered(
      expected.join(zeroPairs,
          col("id_a") === col("doc_a") && col("id_b") === col("doc_b"),
          "left_outer")
        .select(col("pair_kind"), col("id_a"), col("id_b"),
          col("doc_a").isNotNull.as("detected_hamming0")))
  }

  private val simhashSql =
    s"""WITH expected AS (
       |  SELECT 'planted_copy' AS pair_kind, doc_id AS id_a,
       |    doc_id + 100000000 AS id_b FROM documents WHERE doc_id < 20
       |  UNION ALL
       |  SELECT 'planted_shuffled', doc_id, doc_id + 200000000
       |  FROM documents WHERE doc_id < 20
       |  UNION ALL
       |  SELECT 'planted_doubled', doc_id, doc_id + 300000000
       |  FROM documents WHERE doc_id < 20
       |  UNION ALL
       |  SELECT 'corpus_exact_dup', m.min_id, d.doc_id
       |  FROM documents d
       |  JOIN (SELECT text, min(doc_id) AS min_id FROM documents GROUP BY text) m
       |    ON d.text = m.text AND d.doc_id > m.min_id)
       |SELECT pair_kind, id_a, id_b, TRUE AS detected_hamming0
       |FROM expected
       |${O.OrderAll}"""

  private val ContainedOffset = 400000000L // planted prefix-half sub-docs

  /** Directed n-gram CONTAINMENT dedup — the doc-in-doc case Jaccard
    * structurally misses: a short doc fully embedded in a long one has
    * containment(C→A) = |C∩A|/|C| = 1.0 while its Jaccard
    * |C∩A|/|C∪A| can be arbitrarily small, so `llm_near_dedup` never
    * sees it. The standard quote/boilerplate/subset-page pass in
    * training-corpus curation.
    *
    * Scale shape: candidates come from PREFIX FILTERING — the exact
    * candidate-pruning technique of the set-similarity-join literature
    * (Chaudhuri/Ganti/Kaushik ICDE'06; PPJoin, Xiao et al. WWW'08) —
    * never the full shingle self-join. Order all shingles globally by
    * (doc-frequency asc, shingle), rank each doc's shingles in that
    * order, and keep only each doc's PREFIX: its first
    * n − ceil(t·n) + 1 (rarest) shingles. Theorem: if
    * containment(A→B) = |A∩B|/|A| ≥ t then A shares ≥ ceil(t·|A|)
    * shingles with B, so it misses at most |A| − ceil(t·|A|) of its
    * own — at least one of its prefix shingles is in B. Candidates =
    * prefix ⋈ FULL shingle set (either side's prefix may fire;
    * canonical min/max + distinct). Exact — zero recall loss BY
    * CONSTRUCTION, unlike frequency-threshold blocking, which this
    * corpus defeats (31-token vocabulary ⇒ ~every shingle is
    * moderately common; measured 1.13M candidate pairs at sf0.1 from
    * df ≤ 32 blocking vs ~10⁵ from the prefix filter). Prefix sizes
    * are ⌈(1−t)·n⌉+1 ≈ 6 shingles/doc at t = 0.9, and they are each
    * doc's RAREST shingles, so posting lists behind them are short —
    * candidate volume collapses while the guarantee holds. The prefix
    * length uses pure integer arithmetic (n − (9n+9)/10 + 1 via
    * integer division) so both engines compute identical prefixes.
    * Exact containment is then computed ONLY for candidates,
    * intersecting over the FULL shingle set — the filter bounds
    * candidate generation, never the arithmetic. Fully relational, so
    * the DuckDB oracle replays filter and verification bit-for-bit.
    *
    * The fixture corpus carries no true sub-docs, so the keyed query
    * PLANTS them (same pattern as the planted embedding near-dups):
    * each doc_id < 10 contributes a prefix-half derivative at
    * id + 4·10⁸ whose shingles are a strict subset of its source's —
    * containment exactly 1.0, detection guaranteed, derivation pure
    * string arithmetic both engines compute identically. */
  def containment(spark: SparkSession, dir: String): DataFrame =
    ordered(containmentPairs(spark, containmentCorpus(spark, dir),
      prefixFilter = true))

  /** The keyed query's corpus: documents plus the planted sub-doc
    * derivatives — one definition shared with ScaleUpSpec's
    * candidate counting so the growth test measures the same input
    * the query runs on. */
  private[graft] def containmentCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    d.unionByName(planted(d, 10, ContainedOffset,
      array_join(slice(toks, lit(1), ((size(toks) + 1) / 2).cast("int")), " ")))
  }

  /** Containment pairs over an arbitrary (doc_id, text) frame.
    * `prefixFilter = false` disables the prefix filter (full candidate
    * self-join) — the brute twin LlmSpec proves the filtered path
    * equal against. The threshold is a RATIONAL `thrNum/thrDen` so the
    * prefix length n − ⌈t·n⌉ + 1 stays integer-exact at ANY setting
    * (⌈p·n/q⌉ = (p·n + q − 1) div q) — the recall theorem is not tied
    * to the production t=0.9 constant, which PropertySpec proves by
    * running the same law at (k=5, t=3/5). */
  private[graft] def containmentPairs(
      spark: SparkSession, d: DataFrame, prefixFilter: Boolean,
      thrNum: Int = 9, thrDen: Int = 10, shingleK: Int = 3): DataFrame = {
    val thr = thrNum.toDouble / thrDen
    // Carry an 8-byte shingle FINGERPRINT (xxhash64) through the
    // pipeline instead of the ~30-byte string: every downstream
    // stage — df count, prefix rank, candidate join, intersection
    // joins — only ever compares shingles for equality/order, and the
    // output contains no shingle, so a fingerprint with a consistent
    // global order is sufficient. At the sf100 rung the string
    // spelling shuffled ~415M raw strings through FOUR exchanges
    // (~93 GB of scratch — it filled the disk); the fingerprint cuts
    // the checkpointed set to 16 B/row and every shuffle ~3×. The
    // prefix-filter theorem needs only SOME total order shared by all
    // docs (rarest-first, ties broken consistently) — (df, fingerprint)
    // is one; the oracle ranks by (df, string) and may pick DIFFERENT
    // prefix sets, but both candidate sets contain every true pair and
    // the exact verify makes the final outputs identical. Collisions:
    // a 64-bit fingerprint over ≤1e9 distinct shingles has ~3% chance
    // of ONE collision existing corpus-wide; it changes a result only
    // if both colliding shingles meet inside one candidate pair's
    // sets (~1e-16 per pair) — the standard fingerprinting trade
    // (Broder, SEQUENCES '97), accepted by every production near-dup.
    val sh = fingerprinted(shinglesOf(spark, d, shingleK)).lineageCut()
    val cand = (if (prefixFilter) {
      prefixCandidates(sh, thrNum, thrDen)
    } else {
      // verification twin, never the scale path: full shingle
      // self-join, only reachable with prefixFilter = false (LlmSpec /
      // PropertySpec equality laws); the keyed query always passes
      // true, and PlanSpec pins the prefix window in its plan
      sh.select(col("doc_id").as("doc_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    }).distinct()

    containmentVerify(cand, sh, thr)
  }

  /** The 8-byte shingle fingerprint column of a (doc_id, shingle)
    * frame — one definition shared by [[containmentPairs]] and
    * ScaleUpSpec's growth test, so the measured stage is the keyed
    * stage. */
  private[graft] def fingerprinted(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))

  /** PPJoin-style prefix-filtered candidates of a (doc_id, shingle)
    * set: each doc's n − ⌈t·n⌉ + 1 RAREST shingles joined against the
    * full set — recall-lossless by the prefix-filter theorem. One
    * definition shared by [[containmentPairs]] and ScaleUpSpec's
    * candidate counting. Un-distinct'ed.
    *
    * POSITIONAL filter (PPJoin's second pruning rule — Xiao et
    * al. WWW'08 §3.2 — adapted to the max-containment predicate): a
    * candidate row matches A's rank-i shingle to B's rank-j shingle
    * (both ranked in the ONE global rarity order). Common elements
    * after the match have rank > i in A and > j in B, so
    * overlap ≤ min(i−1, j−1) + 1 + min(n_a−i, n_b−j); at the FIRST
    * common element the left term is 0. The pair needs
    * overlap ≥ ⌈t·min(n_a, n_b)⌉ to pass verification, and for a TRUE
    * pair the smaller doc's prefix contains its first common shingle
    * (prefix-filter theorem), so THAT row satisfies
    * 1 + min(n_p−rk_p, n_f−rk_f) ≥ ⌈t·min(n_p, n_f)⌉ — dropping rows
    * that fail the bound prunes candidates, never results (the law
    * PropertySpec/LlmSpec prove: positional ⊆ plain-prefix candidates,
    * final output identical). At t = 0.9 the bound bites hard: a
    * prefix match deep in a long doc against the tail of another can
    * no longer emit a pair that verification was always going to
    * reject — this is the verify-exchange cut the sf100 418 s / 68 GB
    * tail needed, bought with two int columns on the join, no new
    * shuffle, no new pass (the rank window already existed for the
    * prefix side; both sides now read the SAME ranked frame). */
  private[graft] def prefixCandidates(
      sh: DataFrame, thrNum: Int, thrDen: Int,
      positional: Boolean = true): DataFrame = {
    // both join branches read `ranked` — deliberately NOT checkpointed:
    // a checkpoint would truncate the lineage and hide the rarity
    // window from the pinned plan (PlanSpec guards the prefix shape),
    // and Spark's ReuseExchange already dedupes the identical df-join
    // exchange feeding both branches, so the duplicated work is one
    // in-memory window pass over exchanged data, not a second shuffle
    val ranked = rankedByRarity(sh)
    val pfx = ranked
      // prefix length n − ceil(0.9·n) + 1, integer-exact on both engines
      // (`div`, not `/` — Spark's Column `/` is double division)
      .filter(col("_rk") <=
        col("_n") - expr(s"(_n * $thrNum + ${thrDen - 1}) div $thrDen") + 1)
      .select(col("doc_id").as("_pd"), col("shingle"),
        col("_rk").as("_prk"), col("_n").as("_pn"))
    val full = ranked.select(col("doc_id").as("_fd"), col("shingle"),
      col("_rk").as("_frk"), col("_n").as("_fn"))
    val joined = pfx.join(full, Seq("shingle"))
      .filter(col("_pd") =!= col("_fd"))
    val kept =
      if (!positional) joined
      else joined.filter(
        lit(1) + least(col("_pn") - col("_prk"), col("_fn") - col("_frk")) >=
          expr(s"($thrNum * least(_pn, _fn) + ${thrDen - 1}) div $thrDen"))
    kept.select(least(col("_pd"), col("_fd")).as("doc_a"),
      greatest(col("_pd"), col("_fd")).as("doc_b"))
  }

  /** (doc_id, shingle, _rk, _n): every doc's shingles ranked in the
    * global rarity order (df asc, fingerprint asc) with the doc's set
    * size — the frame both the prefix AND full sides of the candidate
    * join read, so the rank window runs once. */
  private def rankedByRarity(sh: DataFrame): DataFrame = {
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("_df").asc, col("shingle").asc)
    val perDoc = Window.partitionBy(col("doc_id"))
    sh.join(dfreq, Seq("shingle"))
      .withColumn("_rk", row_number().over(byRarity))
      .withColumn("_n", count(lit(1)).over(perDoc))
      .select(col("doc_id"), col("shingle"), col("_rk"), col("_n"))
  }

  /** Exact-containment verification of a candidate pair list against
    * the shingle set — only candidates pay the intersection work.
    *
    * Shape: per-doc fingerprint ARRAYS + codegen'd
    * `array_intersect`, not an explode-and-count join. The row spelling
    * (cand ⋈ sh on doc_a, then ⋈ sh on (doc_b, shingle), groupBy pair)
    * materializes Σ_pairs |set(doc_a)| rows through the second join's
    * exchange — linear in the corpus, but with a ~|set| multiplier:
    * 7.3e9 rows / ~175 GB of shuffle scratch at the sf100 rung (86M
    * candidates × ~85-shingle sets), which filled the box's disk. The
    * array spelling aggregates each doc's set ONCE (5M × ~720 B),
    * attaches both arrays to the pair row by two equi-joins, and
    * intersects per ROW — the heaviest exchange is the 86M-row pair
    * intermediate (~60 GB raw, ~3× smaller, and no post-join
    * re-aggregation). n_a/n_b ride the arrays as `size()`, so the
    * separate per-doc size table and its two joins are gone too.
    * collect_list order is nondeterministic but intersection
    * cardinality is order-blind; sets are distinct-by-construction
    * (shinglesOf), so sizes equal set cardinalities. */
  private def containmentVerify(cand: DataFrame, sh: DataFrame,
      thr: Double): DataFrame = {
    val arr = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("_set"))
    // SHUFFLE_HASH on the array side: the pair intermediate is wide
    // (~0.5 KB of array per row once _sa attaches) and needs no order —
    // sort-merge would externally SORT it for the second join,
    // re-spilling the ~40 GB exchange a second time; a shuffle-hash
    // join streams it against a hash of the per-doc arrays (~120 MB
    // per task at 32 partitions). Same rows, half the scratch.
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("_set").as("_sa"))
        .hint("SHUFFLE_HASH"), Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("_set").as("_sb"))
        .hint("SHUFFLE_HASH"), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("_sa"), col("_sb"))))
      .withColumn("n_a", size(col("_sa")))
      .withColumn("n_b", size(col("_sb")))
      // exact small-int rationals — bit-identical on both engines, never round
      .withColumn("cont_a_in_b", col("n_inter").cast("double") / col("n_a").cast("double"))
      .withColumn("cont_b_in_a", col("n_inter").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= thr)
      .select(col("doc_a"), col("doc_b"), col("cont_a_in_b"), col("cont_b_in_a"))
  }

  private val containmentSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 400000000,
       |    array_to_string(l[1:(len(l)+1)//2], ' ')
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
       |  WHERE doc_id < 10),
       |${shingleSetCte("corpus")},
       |dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
       |ranked AS (
       |  SELECT sh.doc_id, sh.s,
       |    row_number() OVER (PARTITION BY sh.doc_id ORDER BY df, sh.s) AS rk,
       |    COUNT(*) OVER (PARTITION BY sh.doc_id) AS n
       |  FROM sh JOIN dfreq USING (s)),
       |pfx AS (SELECT doc_id, s FROM ranked WHERE rk <= n - (n * 9 + 9) // 10 + 1),
       |cand AS (
       |  SELECT DISTINCT least(p.doc_id, f.doc_id) AS doc_a,
       |    greatest(p.doc_id, f.doc_id) AS doc_b
       |  FROM pfx p JOIN sh f ON f.s = p.s AND f.doc_id <> p.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS c
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b AND sb.s = sa.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS cont_a_in_b,
       |  CAST(c AS DOUBLE) / CAST(sb.n AS DOUBLE) AS cont_b_in_a
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE greatest(CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE),
       |               CAST(c AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.9
       |${O.OrderAll}"""

  private val SpanTokens = 8 // repeated-span window length
  private val SpanTopK = 100 // presentation cap (deterministic total order)

  /** Cross-document repeated-SPAN detection — the exact-substring
    * complement of set-based near-dedup (the suffix-array dedup family
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, re-expressed relationally): every
    * [[SpanTokens]]-token window that recurs VERBATIM in ≥ 2 distinct
    * docs, with doc- and occurrence-counts. Set-Jaccard misses a short
    * quoted span inside two otherwise-different docs; the span pass is
    * how memorization-prone boilerplate (licenses, disclaimers,
    * templates) is found verbatim.
    *
    * Scale shape: tokenize once per doc, slide the window with a
    * zero-shuffle HOF (`transform(sequence)` over the token array —
    * same lambda-hygiene pattern as `llm_repetition`), then ONE
    * map-side-combined groupBy on the span string. No self-join at
    * all; the shuffle carries (span, partial counts), and the
    * presentation cap is a windowed row_number over the aggregate
    * (tiny), never a collect. A production run would hash spans to
    * 64-bit before the shuffle (8 bytes vs ~50) and keep the string
    * only for the report join — noted, not needed at test scale. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    // parallelism floor (Spread's documented purpose): the span
    // HOF is CPU-bound and the documents scan is 1–2 splits at small
    // SF — the per-job table showed the whole span-generation map on ONE task
    // (0.8 s of the key); no-op where the scan already splits ≥ cores
    val spans = graft.core.Spread.cpuBound(spark, docs(spark, dir), col("doc_id"))
      // tokenize ONCE into a named column; the window HOF references it
      .select(col("doc_id"),
        split(normText, " ").as("_toks"))
      .filter(size(col("_toks")) >= SpanTokens)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, size(_toks) - ${SpanTokens - 1}), " +
            s"i -> array_join(slice(_toks, i, $SpanTokens), ' '))")).as("span"))
    val agg = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
    val w = Window.orderBy(col("n_docs").desc, col("n_occ").desc, col("span").asc)
    ordered(agg
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= SpanTopK)
      .select(col("span"), col("n_docs"), col("n_occ")))
  }

  private val spanDedupSql =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS l
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(l) - 6),
       |      i -> array_to_string(l[i:i+7], ' '))) AS span
       |  FROM t WHERE len(l) >= 8),
       |agg AS (
       |  SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
       |  FROM spans GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT span, n_docs, n_occ FROM agg
       |QUALIFY row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, span) <= 100
       |${O.OrderAll}"""

  /** Apply the near-dedup: the cleaned corpus after dropping every doc
    * that near-duplicates a smaller-id partner (min-id-wins, the usual
    * training-corpus convention). Edges come from the PRODUCTION
    * banded LSH path (the brute self-join took 9.9 s at sf1 and is
    * quadratic-risk beyond): LSH == brute on these corpora is
    * pinned at sf0.001+sf0.01 in LlmSpec and on generated adversarial
    * corpora in PropertySpec, so the brute-replaying oracle SQL stays
    * the honest gate — a recall regression in the banded path turns
    * THIS row red too, not just `llm_near_dedup`'s. Pairs come from
    * the build-once [[nearDupPairsFixture]]: this key pays only
    * the anti-join increment, the lifecycle a production dedup-apply
    * actually has. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairsFixture(spark, dir)
      .select(col("doc_b").as("drop_id"))
    ordered(
      docs(spark, dir)
        .join(pairs, col("doc_id") === col("drop_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
  }

  private val dedupApplySql =
    s"""WITH $jaccardCte
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM jac)
       |${O.OrderAll}"""

  /** Duplicate clusters: connected components of the near-dup graph by
    * iterative min-label propagation (the Spark-first way: a few
    * self-join rounds, each a shuffle on the vertex id; AQE coalesces
    * as the frontier shrinks). Converges in O(cluster diameter)
    * iterations — near-dup clusters are tiny, and the loop stops the
    * first round nothing changes. Oracle: recursive-CTE transitive
    * closure (fine at test scale; the iterative join IS the 100 TB
    * formulation). */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    // stored pair fixture (materialized, lineage-free), so components()
    // can re-join it every propagation round — each round re-reads the
    // same small parquet. Edge source is the banded LSH path via the
    // build-once fixture — same LSH==brute licensing as dedupApply.
    val pairs = nearDupPairsFixture(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    ordered(components(pairs))
  }

  /** Connected components of an undirected pair list (doc_a, doc_b) by
    * min-label propagation with POINTER JUMPING (Shiloach–Vishkin
    * hook + jump): each round first hooks every vertex to the minimum
    * label in its neighborhood, then shortcuts lbl(u) := lbl(lbl(u)).
    * The jump roughly doubles how far the minimum has traveled per
    * round, so convergence is O(log diameter) rounds, not O(diameter)
    * — on a 100 TB near-dup graph a single long chain no longer means
    * hundreds of shuffles. Labels are always vertex ids and only ever
    * decrease, so sum(lbl) is a strictly decreasing convergence probe
    * (one cheap agg per round instead of a change-detection join);
    * coalesce(0) covers the empty-graph sum-of-nothing NULL.
    *
    * Exposed separately so synthetic graphs (long chains, triangles,
    * multi-component) can exercise the multi-round convergence paths
    * the test corpus never reaches. */
  private[graft] def components(pairs: DataFrame): DataFrame = {
    // Materialize the symmetric edge list ONCE: without this cut,
    // every hook round's neighbor-min join re-evaluates `pairs` — for
    // graph_cc that means re-running the support-filtered lineitem
    // self-join EVERY round of the convergence loop. One cut, read by
    // all rounds.
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .lineageCut()
    val verts = edges.select(col("doc_a").as("id")).distinct()
    var labels = verts.withColumn("lbl", col("id")).lineageCut()
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var lblSum = labelSum(labels)
    var converged = false
    var rounds = 0
    // 64 rounds bounds graphs of 2^64 diameter under pointer jumping —
    // unreachable in practice, but wrong labels are worse than no
    // labels, so non-convergence still fails loudly below.
    while (!converged && rounds < 64) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "doc_b")
          .withColumnRenamed("lbl", "nbr_lbl"), Seq("doc_b"))
        .groupBy(col("doc_a").as("id"))
        .agg(min(col("nbr_lbl")).as("nbr_min"))
      // hook: take the smallest label in the closed neighborhood
      val hooked = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"))
      // jump: follow the label one hop (labels are vertex ids, so the
      // self-join resolves lbl(lbl(u)) — the pointer-doubling step)
      val jumped = hooked.join(
          hooked.select(col("id").as("lbl"), col("lbl").as("_lbl2")),
          Seq("lbl"), "left_outer")
        .select(col("id"),
          least(col("lbl"), coalesce(col("_lbl2"), col("lbl"))).as("lbl"))
        // localCheckpoint: materialize + truncate lineage so round N+1
        // doesn't replay rounds 1..N
        .lineageCut()
      val nextSum = labelSum(jumped)
      labels = jumped
      converged = nextSum == lblSum
      lblSum = nextSum
      rounds += 1
    }
    require(converged,
      s"label propagation did not converge in $rounds rounds")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  private val dupClustersSql =
    // MATERIALIZED: un-materialized, `edges` would re-derive the whole
    // shingle tree inside every reach round (ENOSPC at sf10)
    s"""WITH RECURSIVE
       |$jaccardCte,
       |edges AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM jac
       |  UNION SELECT doc_b, doc_a FROM jac),
       |reach(src, dst) AS (
       |  SELECT doc_a, doc_b FROM edges
       |  UNION
       |  SELECT r.src, e.doc_b FROM reach r JOIN edges e ON e.doc_a = r.dst)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src
       |${O.OrderAll}"""

  /** Triangle counting — the classic distributed-graph benchmark op,
    * here over the parts-co-ordered-together graph (edge = two parts
    * appearing in the same order). Canonical a<b<c enumeration: each
    * triangle found exactly once by joining edge lists (e1: a-b,
    * e2: b-c, e3: a-c), never by materializing neighborhoods.
    *
    * 100 TB notes: the two joins shuffle the edge list on its
    * endpoints — O(E) per join, plus the wedge set (a-b-c paths)
    * which skew-explodes on hub nodes; production systems order
    * endpoints by DEGREE (not id) to bound wedges per node, the same
    * salting-family trick as `join_salted`. Canonical-id ordering is
    * kept here because the oracle must replay it in SQL. The graph is
    * built from a deterministic 25% order slice: this co-purchase
    * graph is near-REGULAR (uniform ~90 degree at sf0.1), the one
    * shape where no ordering trick bounds the Θ(Σdeg²) wedge set —
    * wedge volume, not algorithm shape, is the knob that keeps the
    * demo query inside its time budget. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // materialize the edge list once: it feeds SIX plan branches (three
    // join legs + edge/node counts), and each would otherwise replay
    // the wedge-building self-join + distinct
    val e = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      .lineageCut()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a"))
    ordered(
      tri.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(
          e.select(col("a").as("n")).union(e.select(col("b").as("n")))
            .distinct().agg(count(lit(1)).as("n_nodes"))))
  }

  /** Triangle count over an undirected canonical edge list (a < b)
    * under an explicit vertex ORDER — the skew lever the `triangles`
    * scaladoc names (production systems orient edges by DEGREE so a
    * hub's wedges are enumerated from its low-degree neighbors, never
    * from the hub itself). Edges are oriented low-rank → high-rank,
    * wedges enumerated from each edge's low vertex, and a wedge closes
    * iff its (v, w) pair is itself an oriented edge — every triangle
    * counted exactly once for ANY total order, so the count is
    * order-invariant while the wedge volume is Σ outdeg², which
    * degree-ordering bounds by O(E^1.5) on any graph (a hub gets
    * out-degree ~0). Returns (triangles, wedges) so ComponentsSpec can
    * pin both the invariance and the wedge reduction on a skewed
    * graph. */
  private[graft] def orientedTriangleCounts(
      edges: DataFrame, byDegree: Boolean): (Long, Long) = {
    val both = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val rank =
      if (!byDegree)
        both.select(col("u").as("node")).distinct()
          .select(col("node"), col("node").as("rnk"))
      else
        // rank = degree, tie-broken by id: rnk fits a long because ids
        // stay below 2^31 and degree below 2^31
        both.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("deg"))
          .select(col("node"),
            (col("deg") * 4294967296L + col("node")).as("rnk"))
    val r = broadcast(rank) // vertex table; at 100 TB this is the one
    // shuffle join by node instead — orientation stays O(E)
    val oriented = both
      .join(r.withColumnRenamed("node", "u").withColumnRenamed("rnk", "ru"), Seq("u"))
      .join(r.withColumnRenamed("node", "v").withColumnRenamed("rnk", "rv"), Seq("v"))
      .filter(col("ru") < col("rv"))
      .select(col("u"), col("v"), col("rv"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.rv") < col("y.rv"))
      .select(col("x.v").as("wu"), col("y.v").as("wv"))
    val closing = oriented.select(col("u").as("wu"), col("v").as("wv"))
    val wedgesN = wedges.count()
    val triN = wedges.join(closing, Seq("wu", "wv"), "left_semi").count()
    (triN, wedgesN)
  }

  private val trianglesSql =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 4 = 0),
       |e AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
       |tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM e e1
       |  JOIN e e2 ON e1.b = e2.a
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |ec AS (SELECT COUNT(*) AS n_edges FROM e),
       |nc AS (SELECT COUNT(*) AS n_nodes FROM
       |  (SELECT a AS n FROM e UNION SELECT b FROM e))
       |SELECT n_triangles, n_edges, n_nodes FROM tri, ec, nc
       |${O.OrderAll}"""

  /** Edit-distance verification of the near-dup candidates: for every
    * MinHash-LSH pair (the banded production path, ≡ brute by the
    * PropertySpec law), the exact Levenshtein distance between the two
    * texts plus the normalized similarity 1 − lev/max(len). This is
    * the second-stage verifier real curation stacks run when shingle
    * Jaccard alone is too coarse (it is order-insensitive; edit
    * distance catches reorderings Jaccard forgives). lev is an exact
    * integer on both engines and the similarity an exact small-int
    * rational — bit-identical, no rounding.
    *
    * 100 TB: Levenshtein is O(len²) per pair — affordable ONLY because
    * it runs on the LSH-verified candidate pairs (≈ duplicate count,
    * linear-ish in corpus), never all pairs; with unbounded documents
    * you'd cap both sides at a fixed prefix (the comparison stays a
    * valid lower bound on distance) — this corpus bounds n_chars, so
    * the full text is compared. The two text joins are equi-joins on
    * doc_id against the tiny pair set → broadcast, zero fact shuffle. */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // candidates from the stored fixture: Levenshtein is the verify
    // increment over the pair set, not a reason to re-mine it
    val pairs = nearDupPairsFixture(spark, dir).select(col("doc_a"), col("doc_b"))
    ordered(
      pairs
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")),
          Seq("doc_a"))
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          Seq("doc_b"))
        .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
        .withColumn("edit_sim",
          lit(1.0) - col("lev").cast("double") /
            greatest(length(col("ta")), length(col("tb"))).cast("double"))
        .select(col("doc_a"), col("doc_b"), col("lev"), col("edit_sim")))
  }

  private val editDistanceSql =
    s"""WITH $jaccardCte
       |SELECT doc_a, doc_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
       |  1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
       |      / CAST(greatest(len(da.text), len(db.text)) AS DOUBLE) AS edit_sim
       |FROM jac
       |JOIN documents da ON da.doc_id = doc_a
       |JOIN documents db ON db.doc_id = doc_b
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "llm_edit_distance" -> Q(editDistance _, editDistanceSql),
    "graph_triangles" -> Q(triangles _, trianglesSql),
    "llm_dedup_apply" -> Q(dedupApply _, dedupApplySql),
    "llm_dedup_incremental" -> Q(dedupIncremental _, dedupIncrementalSql),
    "llm_dup_clusters" -> Q(dupClusters _, dupClustersSql),
    "llm_exact_dedup" -> Q(exactDedup _, exactDedupSql),
    "llm_near_dedup" -> Q(nearDedup _, ngramJaccardSql),
    "llm_containment" -> Q(containment _, containmentSql),
    "llm_span_dedup" -> Q(spanDedup _, spanDedupSql),
    "llm_ngram_jaccard" -> Q(ngramJaccard _, ngramJaccardSql),
    "llm_simhash" -> Q(simhash _, simhashSql)
  )
}
