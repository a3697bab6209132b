package graft.llm

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.core.{Fixtures, Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}
import graft.functions.DotProduct

/** SURVEY.md §2.11 — similarity search over embeddings + multimodal
  * join (north star, BASELINE.json).
  *
  * 100 TB notes:
  *  - `llm_simsearch` is brute-force top-k: corpus ⋈ broadcast(probes),
  *    per-partition ranking — exact, O(corpus × probes). Fine when the
  *    probe set is small; the per-probe window is the
  *    TakeOrderedAndProject pattern, never a global materialized
  *    cross product.
  *  - `llm_simsearch_lsh` is the scale path: sign-random-projection
  *    buckets (deterministic hyperplanes) shrink the candidate set to
  *    same-bucket vectors, trading recall for a ~2^bits fan-in cut.
  *    The bucketing is a plain groupBy — shuffle O(n), not O(n²).
  *  - `llm_cosine_dedup_lsh` mirrors MinHash-LSH for the embedding
  *    space (banded SRP buckets → candidates-only exact verify);
  *    `llm_cosine_dedup`, the brute pair join, is its test-scale
  *    ground truth — never run at 100 TB.
  *
  * Shared stages, each written once and called by every key that
  * uses it:
  *  - [[emb]] / [[indexedCells]] / [[withNorm]]: every vector read
  *    goes through [[registered]], which registers `dot_product`;
  *  - [[cosine]]: the rounded cosine score column;
  *  - [[probeRows]] / [[probeSide]]: the [[NProbes]] fixed probes;
  *  - [[topK]] and the scoring spine [[rankTopK]] (score, then
  *    per-query top-k) — the exact search, the LSH/IVF/PQ verify
  *    stages and the k-NN graph all rank here;
  *  - [[exactTwinAudit]] and its oracle [[exactTwinSql]]: the audit
  *    row of the four ANN search keys;
  *  - [[probedCells]]: a vector's probed IVF cells;
  *  - [[centroidDot]]: the one centroid dot loop behind the trainers,
  *    the cell assignment and the probes.
  */
object Similarity {

  /** Every read of embedding vectors (the raw table, a persisted
    * index, or a caller's frame via [[withNorm]]) passes through here:
    * it registers the codegen'd `dot_product` on the frame's session,
    * so scoring columns built on the result resolve. */
  private def registered(df: DataFrame): DataFrame = {
    DotProduct.register(df.sparkSession)
    df
  }

  private def emb(s: SparkSession, d: String) = registered(Tables.load(s, d, "embeddings"))

  /** Corpus row count memoized per version of the embeddings table:
    * the adaptive ladders (IVF-K, SRP bits, PQ shortlist depth, knn-K)
    * all key off n, and several query paths consult it — one Spark
    * count job per table version per JVM instead of one per
    * invocation. Keyed by the table's [[Fixtures.corpusFingerprint]],
    * so a table rewritten in place is counted again. */
  private val embCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embCount(s: SparkSession, d: String): Long =
    embCountCache.computeIfAbsent(s"$d#${Fixtures.corpusFingerprint(d, "embeddings")}",
      _ => java.lang.Long.valueOf(emb(s, d).count())).longValue()

  /** Sequential-order dot product of two float vectors in double math —
    * mirrors the oracle's list_dot_product over DOUBLE[] casts. The
    * codegen'd [[DotProduct]] expression is bit-identical to this HOF
    * spelling (asserted in ScalaTest) and ~8x faster on pair joins; the
    * HOF stays here as the readable reference. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product via the registered `dot_product` function
    * (Spark 4 hides the Column→Expression bridge, so custom expressions
    * go through the function registry + `expr`); [[registered]] has
    * registered it on every frame this module scores. */
  private def dot(a: String, b: String): Column = expr(s"dot_product($a, $b)")

  private def norm(a: String): Column = sqrt(dot(a, a))

  /** `e` with each vector's norm `nrm`: computed once per vector (n
    * ops), not once per pair (n·k). */
  private def withNorm(e: DataFrame): DataFrame =
    registered(e).withColumn("nrm", norm("embedding"))

  /** The cosine score every exact path ranks or thresholds on, rounded
    * so both engines compare identical values. */
  private def cosine(x: String, y: String, nx: Column, ny: Column): Column =
    round6(dot(x, y) / (nx * ny))

  /** DuckDB's unrounded cosine of the embeddings of aliases `p`, `c`. */
  private def oracleCosOf(p: String, c: String): String =
    s"list_dot_product(CAST($p.embedding AS DOUBLE[]), CAST($c.embedding AS DOUBLE[])) / " +
      s"(sqrt(list_dot_product(CAST($p.embedding AS DOUBLE[]), CAST($p.embedding AS DOUBLE[]))) * " +
      s"sqrt(list_dot_product(CAST($c.embedding AS DOUBLE[]), CAST($c.embedding AS DOUBLE[]))))"

  private val oracleCos = oracleCosOf("p", "c")

  /** The search keys' fixed query probes are the [[NProbes]] lowest
    * vec_ids; each answers its top [[TopK]]. */
  private val NProbes = 10
  private val TopK = 5

  private def probeRows(df: DataFrame): DataFrame = df.filter(col("vec_id") < NProbes)

  /** The probe side of an exact scoring join: (probe_id, probe_emb,
    * probe_nrm) of `rows`, the norm given by `nrm`, then `extra`. */
  private def probeSide(rows: DataFrame, nrm: Column, extra: Column*): DataFrame =
    rows.select(Seq(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
      nrm.as("probe_nrm")) ++ extra: _*)

  /** Per-query top-`k` of `df`: number the rows of each `query` into
    * `rn` by `score` desc, vec_id asc (the tiebreak both engines
    * share), keep rn ≤ k. Spark plans it as a Partial WindowGroupLimit
    * heap before the exchange and a Final one after. */
  private def topK(df: DataFrame, query: String, score: String, rn: String, k: Int): DataFrame =
    df.withColumn(rn, row_number().over(Window.partitionBy(col(query))
      .orderBy(col(score).desc, col("vec_id").asc)))
      .filter(col(rn) <= k)

  /** The scoring spine of every exact and ANN search: the cosine of
    * the query vector `<q>_emb` (norm `<q>_nrm`) against each candidate
    * row's `embedding` (norm `nrm`), then the per-query top-`k`, as
    * (`<q>_id`, vec_id, score, rn). `cands` holds only the pairs a path
    * chose to score; a pruning bound on them (a reference-point bound,
    * a per-query stopping rule) belongs here, where every path ranks. */
  private def rankTopK(cands: DataFrame, q: String, nrm: Column, k: Int): DataFrame =
    topK(cands.withColumn("score", cosine(s"${q}_emb", "embedding", col(s"${q}_nrm"), nrm)),
      s"${q}_id", "score", "rn", k)
      .select(col(s"${q}_id"), col("vec_id"), col("score"), col("rn"))

  /** The (query, vec_id) pairs of a top-k frame, collected. */
  private def pairs(df: DataFrame, query: String): Set[(Long, Long)] =
    df.select(col(query), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(exact: Set[(Long, Long)], got: Set[(Long, Long)]): Double =
    (exact & got).size.toDouble / exact.size

  /** The exact-twin audit row of an ANN search key: the exact search
    * ([[simsearch]], tiny: 10 probes × 5) runs next to `ann`, and the
    * row is (n_probes, k, n_exact_pairs) then the key's `bounds` given
    * the recall — booleans the oracle ([[exactTwinSql]]) pins to TRUE,
    * so a recall or pruning regression fails the oracle compare. The
    * exact twin is the verification harness, not the scale path. */
  private def exactTwinAudit(spark: SparkSession, dir: String, ann: DataFrame)(
      bounds: Double => Seq[Column]): DataFrame = {
    val exact = pairs(simsearch(spark, dir), "probe_id")
    spark.range(1).select(Seq(lit(NProbes.toLong).as("n_probes"),
      lit(TopK.toLong).as("k"), lit(exact.size.toLong).as("n_exact_pairs")) ++
      bounds(recallOf(exact, pairs(ann, "probe_id"))): _*)
  }

  /** The `exact` CTE of the audit oracles: each probe p of `probes`
    * ranked over the whole corpus by rounded cosine, vec_id tiebreak
    * ([[simsearch]]'s ranking); `where` restricts p. */
  private def exactCteSql(probes: String, where: String): String =
    s"""exact AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY round($oracleCos, 6) DESC, c.vec_id ASC) AS rn
       |  FROM $probes p JOIN embeddings c ON c.vec_id <> p.vec_id$where)"""

  /** Oracle of an [[exactTwinAudit]] row: the exact pair count, then
    * the key's `bounds` columns. */
  private def exactTwinSql(bounds: String): String =
    s"""WITH ${exactCteSql("embeddings", s"\n       |  WHERE p.vec_id < $NProbes")}
       |SELECT CAST($NProbes AS BIGINT) AS n_probes, CAST($TopK AS BIGINT) AS k,
       |  COUNT(*) AS n_exact_pairs,
       |  $bounds
       |FROM exact WHERE rn <= $TopK
       |${O.OrderAll}"""

  /** Brute-force cosine top-5 for 10 fixed probes. Ranking is on the
    * rounded score with vec_id tiebreak so both engines rank
    * identically. Verification twin of the ANN paths, never the scale
    * path: this exact scan is the recall baseline `llm_simsearch_lsh`
    * / `llm_simsearch_ivf` are graded against — at 100 TB you run
    * those; this one exists so "recall" has a ground truth. */
  def simsearch(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(spark, dir))
    // limit(10) is a provable identity (vec_id unique ⇒ ≤ 10 rows
    // match the filter) whose job is to put the probe-set bound IN
    // THE PLAN: the broadcast side of the non-equi scoring join then
    // carries maxRows = 10 — the in-plan license the inventory-wide
    // non-equi-join lint (PlanSpec sweep) checks for.
    val probes = probeSide(probeRows(e).limit(NProbes), col("nrm"))
    ordered(rankTopK(e.join(broadcast(probes), col("vec_id") =!= col("probe_id")),
      "probe", col("nrm"), TopK))
  }

  private val simsearchSql =
    s"""SELECT probe_id, vec_id, score, rn FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |    round($oracleCos, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY round($oracleCos, 6) DESC, c.vec_id ASC) AS rn
       |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < $NProbes)
       |WHERE rn <= $TopK
       |${O.OrderAll}"""

  /** splitmix64 finalizer — full-avalanche deterministic mixing for
    * plane components. (An earlier fnv1a-of-short-string family had
    * correlated components across consecutive plane indices, which
    * silently inflated bucket collision rates ~6× over theory.) */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim),
    * folded to (-1, 1). */
  private def planeComponent(p: Int, i: Int): Double =
    (mix64(p.toLong * 64 + i) % 1000003L).toDouble / 1000003.0

  /** UDF computing the banded SRP signature of a vector: `bands` band
    * buckets, each the sign pattern of `bits` hyperplanes. Shared by
    * the ANN search and the embedding-dedup paths — banding (match on
    * ANY band = OR-amplification) is what tunes recall vs pruning.
    *
    * The argument MUST be `Array[Float]`, not `Seq[Float]`: Spark's
    * encoder-based UDF deserialization materializes a Seq parameter as
    * an immutable List, making `v(i)` an O(i) pointer chase — this
    * inner loop became O(bits·bands·dim²) list hops, measured 26 s for
    * 20 k rows at sf1 vs 0.3 s with the primitive-array fast path
    * (~80×). An Array[Float] parameter deserializes via
    * `ArrayData.toFloatArray` — one copy, zero boxing. */
  private def srpBands(bits: Int, bands: Int) = {
    val nPlanes = bits * bands
    val planes: Array[Array[Double]] =
      Array.tabulate(nPlanes, 64)((p, i) => planeComponent(p, i))
    udf { (v: Array[Float]) =>
      val out = new Array[Int](bands)
      var p = 0
      while (p < nPlanes) {
        var s = 0.0
        var i = 0
        while (i < 64 && i < v.length) { s += planes(p)(i) * v(i); i += 1 }
        if (s > 0) out(p / bits) |= (1 << (p % bits))
        p += 1
      }
      out
    }
  }

  private val SimBandBits = 4
  private val SimBands = 8

  /** Recall floor the LSH ANN search must clear vs the exact top-5 —
    * measured ≥ 0.96 on every shipped scale factor (deterministic
    * planes ⇒ reproducible); the bound leaves margin without being
    * vacuous. */
  private[graft] val LshRecallBound = 0.9

  /** ANN via banded sign-random-projection LSH (multi-table OR
    * amplification): 8 bands × 4 hyperplanes; a corpus vector is a
    * candidate for a probe iff they share ANY band bucket, and only
    * candidates pay the exact-cosine scoring. Candidate generation is
    * a band-bucket equi-join — shuffle O(n·bands), never O(n·probes).
    *
    * MULTI-PROBE (the standard production recall lever): each probe
    * additionally looks into every band bucket at Hamming distance 1
    * from its own — a vector one wrong hyperplane away is still found.
    * Cost is bounded and probe-side only: ≤ bits+1 (= 5) bucket
    * lookups per band instead of 1, with the corpus-side index
    * untouched — at 100 TB the corpus bands dominate storage and
    * shuffle, so recall is bought without rebuilding or rescanning the
    * index. On this corpus it lifts recall 0.62 → 0.98 while scoring
    * ~2.3× the candidates (still a candidate-only cost; LlmSpec pins
    * both numbers and the ≤ 5× worst-case bound).
    *
    * KEYED OUTPUT: the top-5 lists themselves are hash-family-specific,
    * so the oracle-facing row is the [[exactTwinAudit]] row: recall and
    * the multi-probe candidate overhead as bound booleans, plus the
    * exact-pair count the oracle recomputes (at 100 TB only the LSH
    * search runs; same pattern as `agg_approx_distinct`). ScalaTest
    * separately pins the tighter measured numbers. */
  def simsearchLsh(spark: SparkSession, dir: String): DataFrame = {
    // one banding pass: the tagged candidate set feeds the bound
    // counts AND the scoring join (checkpointed — it's pairs-sized)
    val tagged = simsearchCandidatesTagged(spark, dir).lineageCut()
    val (cSingle, cMulti) = candidateCounts(tagged)
    exactTwinAudit(spark, dir,
      scoreTopK(spark, dir, tagged.select(col("probe_id"), col("vec_id")))) { recall =>
      Seq(lit(recall >= LshRecallBound).as("recall_ge_bound"),
        lit(cMulti <= (SimBandBits + 1).toLong * cSingle).as("cand_le_multiprobe_bound"))
    }
  }

  private val simsearchLshSql =
    exactTwinSql("TRUE AS recall_ge_bound, TRUE AS cand_le_multiprobe_bound")

  /** The corpus banded once by the search's SRP index (vec_id,
    * band_idx, bucket), cut so the probe side reuses it (see
    * cosineBandCandidates). */
  private def simBanded(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).select(col("vec_id"),
      posexplode(srpBands(SimBandBits, SimBands)(col("embedding"))).as(Seq("band_idx", "bucket")))
      .lineageCut()

  /** A band bucket, then its [[SimBandBits]] 1-bit flips. */
  private def withFlips(bucket: Column): Column =
    array(bucket +: (0 until SimBandBits).map(j => bucket.bitwiseXOR(lit(1 << j))): _*)

  /** Candidate (probe_id, vec_id) pairs from the banded SRP index;
    * `multiProbe` adds the 1-bit-flipped probe buckets. Exposed so
    * LlmSpec can price the multi-probe candidate overhead directly. */
  private[graft] def simsearchCandidates(
      spark: SparkSession, dir: String, multiProbe: Boolean): DataFrame = {
    val banded = simBanded(spark, dir)
    val probeBase = probeRows(banded)
      .select(col("vec_id").as("probe_id"), col("band_idx"), col("bucket"))
    val probeBands =
      if (!multiProbe) probeBase
      else probeBase.select(col("probe_id"), col("band_idx"),
        explode(withFlips(col("bucket"))).as("bucket"))
    banded.join(broadcast(probeBands), Seq("band_idx", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id")).distinct()
  }

  /** Multi-probe candidate pairs with a `_direct` flag in ONE banding
    * pass: each probe bucket carries its explode position (0 = the
    * probe's own bucket, >0 = a 1-bit flip), so a per-pair max over
    * the flag recovers the single-probe subset without re-banding the
    * corpus. The keyed query checkpoints this frame and derives the
    * bound counts AND the scoring input from it — one candidate join
    * total, not three. */
  private[graft] def simsearchCandidatesTagged(
      spark: SparkSession, dir: String): DataFrame = {
    val banded = simBanded(spark, dir)
    val probeBands = probeRows(banded)
      .select(col("vec_id").as("probe_id"), col("band_idx"),
        posexplode(withFlips(col("bucket"))).as(Seq("probe_pos", "bucket")))
    banded.join(broadcast(probeBands), Seq("band_idx", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(max(when(col("probe_pos") === 0, 1L).otherwise(0L)).as("_direct"))
  }

  /** (single-probe, multi-probe) candidate counts of a tagged
    * candidate set. */
  private def candidateCounts(tagged: DataFrame): (Long, Long) = {
    val row = tagged
      .agg(sum(col("_direct")).as("single"), count(lit(1)).as("multi")).head()
    (row.getLong(0), row.getLong(1))
  }

  private[graft] def simsearchCandidateCounts(
      spark: SparkSession, dir: String): (Long, Long) =
    candidateCounts(simsearchCandidatesTagged(spark, dir))

  /** Exact-cosine scoring + per-probe top-5 over a candidate
    * (probe_id, vec_id) list — the verify stage of the LSH path. */
  private def scoreTopK(
      spark: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val e = withNorm(emb(spark, dir))
    val scored = cand
      .join(e.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
      .join(broadcast(probeSide(probeRows(e), col("nrm"))), Seq("probe_id"))
    ordered(rankTopK(scored, "probe", col("nrm"), TopK))
  }

  private[graft] def simsearchLshImpl(
      spark: SparkSession, dir: String, multiProbe: Boolean): DataFrame =
    scoreTopK(spark, dir,
      simsearchCandidates(spark, dir, multiProbe).select(col("probe_id"), col("vec_id")))

  private[graft] val IvfK = 16      // coarse centroids (≈ √n at this scale)
  private val IvfProbes = 4  // clusters probed per query (recall knob)
  private val IvfIters = 3   // Lloyd iterations (fixed → deterministic)

  /** Training-sample bound: a coarse quantizer needs ~O(K·100) rows,
    * not the corpus — faiss trains IVF the same way. */
  private val IvfTrainSample = 4096

  /** Deterministic spherical k-means coarse quantizer, trained on a
    * DRIVER-COLLECTED sample (the [[IvfTrainSample]] lowest vec_ids —
    * deterministic; K×64-double centroids are KBs, and so is the
    * sample): init = first K unit vectors, then [[IvfIters]] Lloyd
    * rounds in plain sequential Scala — bit-deterministic, no
    * distributed float-sum ordering to leak into assignments, and no
    * per-round Spark jobs (a measured ~6 s/round in tiny-shuffle
    * overhead for 1 KB of centroid state). At 100 TB this is exactly
    * how IVF indexes train: sample → in-memory k-means; only cell
    * ASSIGNMENT (one columnar UDF pass) and candidate joins stay
    * distributed. */
  private[graft] def ivfCentroids(e0: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val unit = e0.orderBy(col("vec_id")).limit(ivfTrainSampleFor(k))
      .select(col("embedding")).collect()
      .map(r => normalizeArr(r.getSeq[Float](0).map(_.toDouble).toArray))
    lloydInMemory(unit, k, iters)
  }

  /** The sequential spherical-Lloyd core shared by [[ivfCentroids]]
    * (over a collected sample) and [[coarseRouter]] (over the fine
    * CENTROIDS themselves): init = first `k` unit vectors, then
    * `iters` assignment+recenter rounds in plain Scala —
    * bit-deterministic. */
  private def lloydInMemory(
      unit: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = unit.headOption.map(_.length).getOrElse(0)
    var cents = unit.take(k)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      unit.foreach { v =>
        val best = nearest(cents, v)
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else normalizeArr(sums(c).map(_ / counts(c)))
      }.toArray
    }
    cents
  }

  /** Driver-trainer ceiling: above this cell count the sequential
    * Lloyd pass and its 64·K-row sample collect stop being reasonable
    * driver work — [[ivfCentroidsDistributed]] takes over. */
  private[graft] val IvfDriverTrainK = 1024

  /** Fixed-point scale for exact-integer centroid sums: unit-vector
    * components (|x| ≤ 1) quantize to ±2²⁴ longs, so even a cell
    * holding the whole 64·4096-row training sample stays ≤ 2⁴² —
    * no overflow headroom question at any reachable K. */
  private val IvfFixedPoint = (1L << 24).toDouble

  private def normalizeArr(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Distributed spherical k-means for cell counts past
    * [[IvfDriverTrainK]] — the production coarse-quantizer training
    * shape (faiss at scale trains IVF the same way: capped sample,
    * assignment distributed, recenter from per-cell sums). What moves
    * off the driver and what stays:
    *
    *  - the TRAINING SAMPLE never leaves the cluster: a deterministic
    *    hash gate keeps ~[[ivfTrainSampleFor]] rows (64/centroid),
    *    localCheckpoint'ed once, so per-iteration work is
    *    O(sample·K·dim) — independent of n after the one sampling
    *    scan no trainer can avoid;
    *  - only K rows per iteration reach the driver (the per-cell
    *    sums: K×64 longs ≈ 2 MB at K=4096) vs the driver path's
    *    64·K-row sample collect (128 MB at K=4096) plus its
    *    SEQUENTIAL ~2e11-flop Lloyd pass, where the driver trainer
    *    stopped scaling;
    *  - recenter sums are EXACT-INTEGER: unit-vector components are
    *    fixed-point-quantized (×2²⁴, half-up) to longs before the
    *    per-cell sum, so the distributed aggregation is
    *    order-independent and the trainer bit-deterministic — the
    *    same exact-sum idiom the rest of the repo uses (a distributed
    *    double sum depends on partition merge order);
    *  - init = the K lowest-vec_id sample vectors (the driver path's
    *    rule); an empty cell keeps its previous centroid. The ±2⁻²⁵
    *    quantization nudge only perturbs centroids WITHIN Lloyd's own
    *    approximation — every downstream consumer treats the trained
    *    centroids as the definition, and index/query assignments use
    *    the same [[nearestCentroid]] on both paths. */
  private[graft] def ivfCentroidsDistributed(
      e0: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val n = e0.count()
    val gate = math.max(1L, n / ivfTrainSampleFor(k).toLong)
    val unit = withNorm(e0
      .filter(pmod(xxhash64(lit("graft_ivf_train"), col("vec_id")), lit(gate)) === 0))
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") / col("nrm") * IvfFixedPoint).cast("long")))
      .select(col("vec_id"), col("embedding"), col("q"))
      .lineageCut()
    val dim = unit.select(size(col("q"))).head.getInt(0)
    var cents = unit.orderBy(col("vec_id")).limit(k)
      .select(col("q")).collect()
      .map(r => normalizeArr(
        r.getSeq[Long](0).map(_.toDouble / IvfFixedPoint).toArray))
    for (_ <- 1 to iters) {
      val sums = unit
        .withColumn("cid", nearestCentroid(cents)(col("embedding")))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("cnt"),
          (1 to dim).map(i => sum(element_at(col("q"), i)).as(s"s$i")): _*)
        .collect()
      val next = cents.clone()
      sums.foreach { r =>
        val cid = r.getInt(0)
        val cnt = r.getLong(1).toDouble
        next(cid) = normalizeArr(
          Array.tabulate(dim)(i => r.getLong(2 + i) / IvfFixedPoint / cnt))
      }
      cents = next
    }
    cents
  }

  /** Trained quantizers, one per published index — a JVM memo over
    * the PERSISTED index (below): first touch per index loads (or
    * builds) the parquet; later calls skip the read. Training is
    * deterministic, so memoizing is behavior-neutral and keeps the
    * bench honest about query-time cost vs one-time index build. Keyed
    * by the path [[ensureIvfIndex]] returns, so a rewritten corpus
    * (a new index) is never probed with the old centroids. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Index-build counter, exposed so tests can prove a fresh session
    * serves queries from the persisted index with NO retraining. */
  private[graft] val ivfTrainCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def clearIvfMemo(): Unit = centroidCache.clear()

  /** Build-once/serve-many: the real IVF index lifecycle. One fixture
    * holds the trained centroids (`centroids`: K×64 doubles — KBs) and
    * the cell-assigned corpus (`cells`: vec_id, embedding, nrm,
    * CLUSTERED BY cid — cells are the natural partition key of a
    * stored IVF index, so a probe reads only its cells' directories),
    * so half an index is never published. It is written ONCE per
    * version of the embeddings table; every later session — including
    * a fresh JVM — serves queries by reading it back, never retraining
    * ([[ivfTrainCount]] proves it). The name carries the training
    * parameters (K, Lloyd iters), so an index trained under other
    * constants never serves. At 100 TB this split is the whole
    * economics of IVF: index build is a one-time O(n) pass, queries
    * touch K_probe cells. Returns the index's path. */
  private[graft] def ensureIvfIndex(
      spark: SparkSession, dir: String, k: Int = IvfK): String =
    Fixtures.once(dir, s"ivf_index_k${k}i$IvfIters", "embeddings") { tmp =>
      ivfTrainCount.incrementAndGet()
      // past the driver ceiling, training itself goes distributed —
      // which lifted knnKFor's cap to [[KnnKCeiling]]
      val cents =
        if (k > IvfDriverTrainK) ivfCentroidsDistributed(emb(spark, dir), k, IvfIters)
        else ivfCentroids(emb(spark, dir), k, IvfIters)
      import spark.implicits._
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c) }
        .toDF("cid", "centroid")
        .coalesce(1).write.parquet(s"$tmp/centroids")
      withNorm(emb(spark, dir))
        .withColumn("cid", nearestCentroid(cents)(col("embedding")))
        .write.partitionBy("cid").parquet(s"$tmp/cells")
    }

  private def trainedCentroids(
      spark: SparkSession, dir: String, k: Int = IvfK): Array[Array[Double]] = {
    val index = ensureIvfIndex(spark, dir, k)
    centroidCache.computeIfAbsent(index, _ =>
      spark.read.parquet(s"$index/centroids")
        .select(col("cid"), col("centroid")).collect()
        .sortBy(_.getInt(0))
        .map(_.getSeq[Double](1).toArray))
  }

  /** The schema [[ensureIvfIndex]] writes for the cell-assigned corpus:
    * the embeddings columns, then `nrm`, then the partition column
    * `cid`. Reading with it skips the per-query schema-inference job;
    * LlmSpec pins it equal to the schema Spark infers from the index. */
  private[graft] val IndexedCellsSchema =
    Tables.embeddings.add("nrm", DoubleType).add("cid", IntegerType)

  /** The persisted cell-assigned corpus (vec_id, embedding, nrm, cid). */
  private def indexedCells(
      spark: SparkSession, dir: String, k: Int = IvfK): DataFrame =
    registered(spark.read.schema(IndexedCellsSchema)
      .parquet(s"${ensureIvfIndex(spark, dir, k)}/cells"))

  /** The one centroid dot loop: centroid `c` against vector `v` over
    * their common length, summed in index order. The trainers, the
    * cell assignment and the probes all score through it, so a
    * persisted index and the queries served from it agree bit for
    * bit. A float vector is widened to double first, exactly as the
    * mixed-type product would widen it. */
  private def centroidDot(c: Array[Double], v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length && i < v.length) { s += c(i) * v(i); i += 1 }
    s
  }

  /** Index of the max-dot centroid; ties resolve to the lowest id. */
  private def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val s = centroidDot(cents(c), v)
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  /** The `n` of centroids `ids` with the largest dot against `v` (dot
    * desc, id asc on ties). */
  private def nearestOf(cents: Array[Array[Double]], ids: Seq[Int], v: Array[Double],
      n: Int): Seq[Int] =
    ids.map(c => (-centroidDot(cents(c), v), c)).sorted.take(n).map(_._2)

  /** Argmax-dot cluster assignment against unit centroids (|v| is
    * constant per row, so max dot = max cosine). */
  private def nearestCentroid(cents: Array[Array[Double]]) = udf { (v: Array[Float]) =>
    nearest(cents, v.map(_.toDouble))
  }

  /** Top-`nProbe` nearest centroid ids for a query vector. */
  private def nearestCentroids(cents: Array[Array[Double]], nProbe: Int) =
    udf { (v: Array[Float]) => nearestOf(cents, cents.indices, v.map(_.toDouble), nProbe).toArray }

  /** Past this cell count the FLAT probe's K·dim dots per vector is
    * the next binding constraint (the one [[KnnKCeiling]]'s scaladoc
    * names) — probing goes hierarchical. Set AT the ceiling: today's
    * rungs (K ≤ 2048 measured at sf100) keep the exact flat probe and
    * their recorded numbers; the K=4096 regime this path exists for is
    * exercised by spec at FORCED small K (the same parameter-forcing
    * convention as the quadratic controls). */
  private[graft] val HierProbeK = 4096

  /** Of the √K coarse cells, probe K_c/[[HierCoarseDiv]] — at K=4096
    * (64 coarse), 16 coarse cells ≈ 1024 fine candidates scored:
    * (64 + 1024)·dim ≈ K/4 of the flat probe's flops, and the divisor
    * is the recall knob (div→1 ⇒ identical to flat — the completeness
    * law LlmSpec pins). */
  private[graft] val HierCoarseDiv = 4

  /** Coarse router over the FINE centroids: √K-cell k-means on the K
    * centroid vectors themselves (KBs — [[lloydInMemory]], same
    * deterministic core as the sample trainer) plus each fine cell's
    * coarse membership. This is the standard two-level IVF shape
    * (IMI/IVF-HNSW-lite): the router is metadata next to the persisted
    * centroids, derived deterministically from them, so it needs no
    * fixture of its own — rebuild-from-centroids is bit-stable. */
  private[graft] def coarseRouter(
      cents: Array[Array[Double]]): (Array[Array[Double]], Array[Array[Int]]) = {
    var kc = 1
    while (kc * kc < cents.length) kc *= 2
    val coarse = lloydInMemory(cents, kc, IvfIters)
    val members = Array.fill(coarse.length)(List.newBuilder[Int])
    cents.indices.foreach(f => members(nearest(coarse, cents(f))) += f)
    (coarse, members.map(_.result().toArray))
  }

  /** Hierarchical top-`nProbe` fine cells: score the K_c coarse cells,
    * keep the top `rCoarse`, then score ONLY their member fine
    * centroids exactly. Ties resolve (dot desc, id asc) at both
    * levels — deterministic. With rCoarse = K_c every fine centroid is
    * scored and the output equals [[nearestCentroids]] exactly. */
  private[graft] def nearestCentroidsHier(
      cents: Array[Array[Double]], nProbe: Int, rCoarse: Int) = {
    val (coarse, members) = coarseRouter(cents)
    udf { (v: Array[Float]) =>
      val d = v.map(_.toDouble)
      nearestOf(cents, nearestOf(coarse, coarse.indices, d, rCoarse).flatMap(members(_)),
        d, nProbe).toArray
    }
  }

  /** Probe-UDF selector: flat exact top-P under [[HierProbeK]] cells,
    * two-level routed at and above it (rCoarse = K_c/[[HierCoarseDiv]],
    * K_c = the router's smallest power of two ≥ √K). */
  private[graft] def probeCells(cents: Array[Array[Double]], nProbe: Int) =
    if (cents.length >= HierProbeK) {
      var kc = 1
      while (kc * kc < cents.length) kc *= 2
      nearestCentroidsHier(cents, nProbe, math.max(1, kc / HierCoarseDiv))
    } else nearestCentroids(cents, nProbe)

  /** A row's probed cells, one output row per cell id `cid`. */
  private def probedCells(cents: Array[Array[Double]], nProbe: Int): Column =
    explode(probeCells(cents, nProbe)(col("embedding"))).as("cid")

  /** ANN via IVF (inverted-file) — the other standard scale path next
    * to SRP-LSH: a K-centroid coarse quantizer partitions the corpus
    * into cells; a query scores only vectors in its [[IvfProbes]]
    * nearest cells. Candidate generation is an equi-join on cluster id
    * (shuffle O(n) once at index build, broadcast probe list at query
    * time) — never O(n·probes). Recall comes from probing multiple
    * cells, the same OR-amplification role banding plays in LSH; the
    * LlmSpec pins recall and the scored-candidate fraction. At 100 TB:
    * centroids train on a sample, the cell assignment is one columnar
    * pass, cells are the natural partition key for the stored index,
    * and K grows ~√n so cells stay executor-sized. */
  private[graft] def simsearchIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val cents = trainedCentroids(spark, dir)
    // served FROM the persisted index — cell assignment was paid once
    // at index build, not per query
    val indexed = indexedCells(spark, dir)
    val probes = probeSide(probeRows(indexed), col("nrm"), probedCells(cents, IvfProbes))
    ordered(rankTopK(indexed.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id")), "probe", col("nrm"), TopK))
  }

  /** Recall/pruning floors for the IVF search, measured with margin on
    * every shipped scale factor (deterministic training sample ⇒
    * reproducible: recall 0.88–0.96, scored fraction 0.24–0.26).
    * Probing 4 of 16 cells scores about a quarter of the corpus;
    * recall tracks how much of the true top-5 lives in the probed
    * cells. */
  private[graft] val IvfRecallBound = 0.8
  private[graft] val IvfScoredFracBound = 0.4

  /** Keyed IVF query: like [[simsearchLsh]], the oracle-facing row is
    * the [[exactTwinAudit]] row — recall vs the exact top-5 and the
    * scored-candidate fraction as bound booleans. A quantizer
    * regression (recall collapse) or a cell-balance regression
    * (pruning collapse) fails the oracle compare. ScalaTest pins the
    * tighter measured numbers; the persisted build-once index
    * economics are proven by the no-retrain test. */
  def simsearchIvf(spark: SparkSession, dir: String): DataFrame =
    exactTwinAudit(spark, dir, simsearchIvfTopK(spark, dir))(
      ivfBounds(spark, dir, IvfRecallBound))

  /** The IVF keys' bound columns given the recall: recall against
    * `recallBound`, and the share of all probe pairs (each probe with
    * the other n−1 vectors) that the IVF candidates score, against
    * [[IvfScoredFracBound]]. */
  private def ivfBounds(spark: SparkSession, dir: String,
      recallBound: Double): Double => Seq[Column] = {
    val frac = simsearchIvfCandidates(spark, dir).count().toDouble /
      (NProbes.toDouble * (embCount(spark, dir) - 1))
    recall => Seq(lit(recall >= recallBound).as("recall_ge_bound"),
      lit(frac <= IvfScoredFracBound).as("scored_frac_le_bound"))
  }

  private val simsearchIvfSql =
    exactTwinSql("TRUE AS recall_ge_bound, TRUE AS scored_frac_le_bound")

  /** The probes' IVF cells: (probe_id, cid), one row per probed cell. */
  private def ivfProbeCells(indexed: DataFrame, cents: Array[Array[Double]]): DataFrame =
    probeRows(indexed).select(col("vec_id").as("probe_id"), probedCells(cents, IvfProbes))

  /** IVF candidate (probe_id, vec_id) pairs — exposed so LlmSpec can
    * price the probed fraction directly. */
  private[graft] def simsearchIvfCandidates(spark: SparkSession, dir: String): DataFrame = {
    val indexed = indexedCells(spark, dir)
    indexed.join(broadcast(ivfProbeCells(indexed, trainedCentroids(spark, dir))), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
  }

  /** Hard ceiling on the brute pair join: above this the keyed query
    * REFUSES instead of silently launching an O(n²)
    * BroadcastNestedLoop (a ground-truth query reachable from the
    * driver at arbitrary sf must not be a scale trap). 50k
    * rows ≈ 1.25G pairs — already an hour-class job; every shipped
    * test corpus is orders of magnitude below. */
  private[graft] val MaxBruteRows = 50000L

  /** The keyed brute twin's corpus bound: the LOWEST-id slice of the
    * embeddings table, so the ground-truth query stays a bounded,
    * deterministic sample at every scale factor instead of growing
    * quadratically with the corpus (the un-sliced twin hit
    * 263 s at sf1 — 38 % of the whole bench — for a query whose entire
    * job is to be a reference, which `llm_cosine_dedup_lsh` already
    * covers at scale). 5 000 vectors = 12.5 M pairs ≈ 16 s worst-case
    * at the measured 1.3 µs/pair — inside the repo's 30 s per-key
    * self-target with margin. Identity below the bound: every shipped
    * correctness SF (sf0.001–sf0.1: ≤ 2 000 vectors) is untouched, so
    * the LSH == brute law keeps its full-corpus meaning there. */
  private[graft] val BruteSliceRows = 5000

  /** Embedding near-dup GROUND TRUTH: all pairs with cosine ≥ 0.5
    * (threshold is a parameter; the synthetic embeddings carry no
    * planted dups, so a production 0.95 cut would be vacuously empty
    * here). Brute O(n²) — kept as the test-scale oracle reference for
    * `llm_cosine_dedup_lsh`, exactly as `llm_ngram_jaccard` is for the
    * MinHash path, over the deterministic [[BruteSliceRows]] lowest-id
    * slice (ORDER BY vec_id LIMIT — the identity when the corpus is
    * smaller, a bounded sample at sf ≥ 1). At 100 TB you run the LSH
    * query, never this one. */
  def cosineDedup(spark: SparkSession, dir: String): DataFrame = {
    // TakeOrdered at the scan: the slice never materializes a global
    // sort of the full table
    val e = emb(spark, dir).orderBy(col("vec_id")).limit(BruteSliceRows)
    cosineDedupImpl(e, 0.5)
  }

  /** Brute all-pairs cosine dedup over an arbitrary (vec_id, embedding)
    * frame — shared by the keyed query and the planted-dup ScalaTest. */
  private[graft] def cosineDedupImpl(e0: DataFrame, thr: Double): DataFrame = {
    val e = withNorm(e0)
    // parallelism floor on the STREAM side of the nested-loop pair join:
    // the slice arrives as ONE partition (TakeOrdered output),
    // so the whole O(slice²) dot-product pass ran on one core — 2.2 s
    // of the key's 2.4 s at sf0.1, and the scaladoc's 16 s worst case
    // at the 5 000-row bound would serialize the same way. Spreading
    // the probe side divides the pair work by the core count; the
    // broadcast side is unchanged.
    val a = pairSide(graft.core.Spread.cpuBound(e0.sparkSession, e), "a")
    ordered(cosineAtLeast(a.join(pairSide(e, "b"), col("id_a") < col("id_b")), thr))
  }

  /** One side of a vector pair join: the `keys` columns, then `e`'s
    * vec_id, embedding and nrm as id_<s>, emb_<s>, nrm_<s>. */
  private def pairSide(e: DataFrame, s: String, keys: Column*): DataFrame =
    e.select(keys ++ Seq(col("vec_id").as(s"id_$s"), col("embedding").as(s"emb_$s"),
      col("nrm").as(s"nrm_$s")): _*)

  /** The (id_a, id_b, cos) pairs of a pair join whose cosine reaches
    * `thr` — only the pairs joined pay the dot product. */
  private def cosineAtLeast(pairs: DataFrame, thr: Double): DataFrame =
    pairs.withColumn("cos", cosine("emb_a", "emb_b", col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= thr)
      .select(col("id_a"), col("id_b"), col("cos"))

  private[graft] val DedupBandBits = 8 // bits per band
  private[graft] val DedupBands = 8    // bands → 64 hyperplanes total
  private val DedupThreshold = 0.9

  /** The corpus the keyed LSH dedup query runs on: the real embeddings
    * plus two DETERMINISTIC planted near-dup families derived from the
    * first 25 vectors — a scalar multiple (cosine exactly 1: scaling
    * never moves the angle) and a small relative perturbation
    * e + 0.05·|e| (‖δ‖ = 0.05‖e‖ ⇒ angle ≤ arcsin 0.05 ≈ 2.9°,
    * cosine ≥ 0.9987). Both derivations are pure double IEEE
    * arithmetic rounded once to float, so the DuckDB oracle rebuilds
    * the identical corpus bit-for-bit and the brute pair SQL stays the
    * ground truth. Why plant: the synthetic embeddings are mutually
    * near-orthogonal, so a production threshold would be vacuous on
    * them — planting puts real mass above 0.9 where the production
    * band depth (8×8) has something to find. */
  private[graft] def plantedEmbeddings(e0: DataFrame): DataFrame = {
    val base = e0.select(col("vec_id"), col("embedding"))
    def derived(offset: Long, f: Column => Column): DataFrame =
      base.filter(col("vec_id") < 25)
        .select((col("vec_id") + offset).as("vec_id"),
          transform(col("embedding"),
            x => f(x.cast(DoubleType)).cast("float")).as("embedding"))
    base.unionByName(derived(10000000L, x => x * 2.0))
      .unionByName(derived(20000000L, x => x + lit(0.05) * abs(x)))
  }

  /** DuckDB's rebuild of [[plantedEmbeddings]] as a `planted` CTE;
    * `where` restricts the real rows. */
  private def plantedCteSql(where: String): String =
    s"""planted AS (
       |  SELECT vec_id, embedding FROM embeddings$where
       |  UNION ALL
       |  SELECT vec_id + 10000000,
       |    list_transform(embedding,
       |      x -> CAST(CAST(x AS DOUBLE) * 2.0 AS FLOAT))
       |  FROM embeddings WHERE vec_id < 25
       |  UNION ALL
       |  SELECT vec_id + 20000000,
       |    list_transform(embedding,
       |      x -> CAST(CAST(x AS DOUBLE) + 0.05 * abs(CAST(x AS DOUBLE)) AS FLOAT))
       |  FROM embeddings WHERE vec_id < 25)"""

  /** SCALE PATH for embedding near-dup: banded sign-random-projection
    * LSH, mirroring the MinHash-LSH shape of `llm_near_dedup`.
    * Candidates come from band-bucket equality joins — shuffle
    * O(n·bands) plus Σ bucket-pair counts, never the O(n²) cross
    * product — and only candidates pay the exact-cosine verification.
    *
    * Parameter choice is threshold-driven, and the keyed query ships
    * the PRODUCTION regime: threshold 0.9 (θ ≤ 26°,
    * per-plane collision p₁ = 1 − θ/π ≥ 0.86, ρ ≈ 0.2) with deep
    * bands (8 bits × 8 bands), over [[plantedEmbeddings]] so the
    * threshold is non-vacuous. In this regime banding genuinely earns
    * its keep: >95 % of all pairs never become candidates (the
    * `cand_frac_lt_20pct` column pins that at the driver gate — the
    * query demonstrates LSH benefit, not just LSH overhead), while
    * recall stays exact on the planted families (a 2.9°-apart pair
    * flips any single plane with p ≤ 0.016, so P[all 8 bands broken]
    * ≈ 5·10⁻⁸ — and the planes are deterministic, so the empirical
    * 100 % recall here is reproducible, pinned by the oracle
    * hash-match vs the brute SQL over the same planted corpus).
    * The loose-threshold shallow-band regime (0.5, 2×16) remains
    * exercised by LlmSpec against the brute twin. */
  /** Lowest planted-family id — both derived families sit at or above
    * this offset, and no real/amplified vec_id ever reaches it
    * (ScaleUp shifts vec_id by the document stride: ≤ 5M at sf100). */
  private[graft] val PlantedIdFloor = 10000000L

  /** The ORACLE-facing slice of the LSH dedup output: base ids below
    * [[BruteSliceRows]] plus every planted id — the same
    * bounded-ground-truth design as the brute twin ([[BruteSliceRows]]
    * there), because the DuckDB oracle must brute ALL pairs of
    * whatever row set it checks: unsliced, that is n²/2 pairs × three
    * 64-dim dots = 2·10¹⁰ pairs at sf10, which is what actually killed
    * the sf10 oracle row (spilled past the disk, would have run
    * for hours — an infeasible oracle, not a scratch shortfall). The
    * slice keeps the oracle at a CONSTANT ≈12.7M pairs at every SF and
    * keeps every planted pair inside it (derived ids ≥
    * [[PlantedIdFloor]], their sources < 25). Identity below the
    * bound: at sf ≤ 0.1 the corpus is smaller than the slice, so
    * emitted rows are unchanged there. The LSH pipeline itself —
    * banding depth from the FULL corpus count, capped band self-join,
    * exact verify — still runs over the full corpus (the
    * `cand_frac_lt_20pct` selectivity column and ScaleUpSpec's
    * candidate-growth tests keep measuring the full-corpus machinery). */
  private def inLshOracleSlice(id: Column): Column =
    id < BruteSliceRows.toLong || id >= PlantedIdFloor

  def cosineDedupLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = plantedEmbeddings(emb(spark, dir))
    val nRows = e.count()
    val nPairs = nRows * (nRows - 1) / 2
    // materialize the (tiny) candidate set once: the selectivity count
    // and the verify join read the same blocks
    val cand = cosineDedupCandidates(e, nRows).lineageCut()
    cosineVerify(e, cand, DedupThreshold)
      .filter(inLshOracleSlice(col("id_a")) && inLshOracleSlice(col("id_b")))
      .withColumn("cand_frac_lt_20pct",
        lit(cand.count().toDouble < 0.2 * nPairs))
  }

  /** Target band-bucket occupancy for the adaptive depth rule. */
  private[graft] val SrpTargetBucket = 4

  /** Scale-adaptive band depth: bits = max(8, ⌈log₂(n / 4)⌉), i.e.
    * 2^bits buckets per band ≈ n/4 so expected bucket occupancy stays
    * ~constant as the corpus grows. Why this matters — FIXED-depth SRP
    * banding is O(n²) in disguise: random (near-orthogonal) vectors
    * land in a shared 8-bit bucket with p ≈ 2⁻⁸ per band, so
    * candidates ≈ bands·n²/2⁹ — a constant FRACTION of all pairs, not
    * a bounded set. Measured: 77 k candidates at sf0.1 → 7.37 M at
    * sf1 (95.6× for 10× vectors, exactly the n² slope); ScaleUpSpec's
    * candidate-growth tests hold the fixed depth over the quadratic
    * bound and this depth under it. With depth growing log₂(n),
    * occupancy — and with it the random-collision candidate mass —
    * stays flat, so candidates track the TRUE near-dup count
    * (linear). Recall on the pinned families
    * stays deterministic-exact far beyond any shipped SF: a planted
    * pair at θ ≈ 2.9° flips a plane with p = θ/π ≈ 0.016, so at even
    * 16-bit bands P[a band breaks] = 1 − 0.984¹⁶ ≈ 0.23 and P[all 8
    * break] ≈ 0.23⁸ ≈ 8·10⁻⁶ — and the planes are deterministic, so
    * the shipped SFs' empirical 100 % recall is reproducible, pinned
    * by the oracle hash-match at every SF. (At the 0.9 THRESHOLD
    * boundary (θ = 26°) deeper bands do trade recall — the classic
    * (b, r) tradeoff; production tuning would grow `bands` ∝ p₁^−bits
    * alongside. The planted corpus pins the ≥ 0.9987 regime.) */
  private[graft] def srpBitsFor(n: Long): Int =
    math.max(DedupBandBits,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, (n - 1) / SrpTargetBucket)))

  /** Band-bucket candidate pairs (id_a < id_b) from banded SRP
    * signatures, via the same CAPPED blocked self-join as MinHash-LSH
    * ([[Dedup.bandPairsKeyed]] — one definition for both modalities):
    * a hot bucket (duplicate-family pileup, or the all-zeros bucket a
    * degenerate embedding batch hashes to) becomes ~(m/64)²
    * independent join keys instead of one m² join group no AQE split
    * can divide. Exposed for selectivity assertions in LlmSpec. */
  private[graft] def cosineBandCandidates(
      e0: DataFrame, bits: Int, bands: Int): DataFrame = {
    val bandsOf = srpBands(bits, bands)
    // materialize the banded index once: it is BOTH sides of the
    // self-join, and recomputing the signature UDF per branch doubled
    // the candidate stage (measured 3.3s -> 1.8s at sf0.1). At scale
    // this is exactly the stored-LSH-index economics: band once,
    // join against the stored bands.
    val banded = e0.select(col("vec_id").as("doc_id"),
      posexplode(bandsOf(col("embedding"))).as(Seq("band_idx", "band_hash")))
      .lineageCut()
    Dedup.bandPairs(banded)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
  }

  /** [[cosineDedupLsh]]'s candidate stage over an `n`-row corpus: band
    * depth [[srpBitsFor]]`(n)`. */
  private[graft] def cosineDedupCandidates(e: DataFrame, n: Long): DataFrame =
    cosineBandCandidates(e, srpBitsFor(n), DedupBands)

  private[graft] def cosineDedupLshImpl(
      e0: DataFrame, bits: Int, bands: Int, thr: Double): DataFrame =
    cosineVerify(e0, cosineBandCandidates(e0, bits, bands), thr)

  /** Exact-cosine verification of a candidate (id_a, id_b) pair list —
    * only candidates pay the dot product. */
  private def cosineVerify(
      e0: DataFrame, cand: DataFrame, thr: Double): DataFrame = {
    val e = withNorm(e0)
    ordered(cosineAtLeast(
      cand.join(pairSide(e, "a"), Seq("id_a")).join(pairSide(e, "b"), Seq("id_b")), thr))
  }

  private val cosineDedupSql =
    s"""WITH sl AS (SELECT * FROM embeddings ORDER BY vec_id LIMIT 5000)
       |SELECT p.vec_id AS id_a, c.vec_id AS id_b,
       |  round($oracleCos, 6) AS cos
       |FROM sl p JOIN sl c ON p.vec_id < c.vec_id
       |WHERE round($oracleCos, 6) >= 0.5
       |${O.OrderAll}"""

  /** Brute ground truth over the SAME planted corpus at the production
    * threshold, restricted to the [[inLshOracleSlice]] row set —
    * DuckDB rebuilds the two derived families with the identical
    * double-arithmetic-then-float-cast spelling, so the LSH result
    * must hash-match it bit-for-bit; pre-filtering the slice INSIDE
    * the CTE keeps the brute join at ≈12.7M pairs at every SF (the
    * unsliced spelling was 2·10¹⁰ pairs at sf10 and never finished). */
  private val cosineDedupLshSql =
    s"""WITH ${plantedCteSql(s"\n       |  WHERE vec_id < $BruteSliceRows")}
       |SELECT p.vec_id AS id_a, c.vec_id AS id_b,
       |  round($oracleCos, 6) AS cos,
       |  TRUE AS cand_frac_lt_20pct
       |FROM planted p JOIN planted c ON p.vec_id < c.vec_id
       |WHERE round($oracleCos, 6) >= 0.9
       |${O.OrderAll}"""

  /** Multimodal row: text + embedding + an opaque binary payload in one
    * schema. The binary column stands in for image/audio bytes (none in
    * this sandbox — SURVEY.md §2.11): real pipelines would decode it in
    * a partition-local pass; here the "decode" is byte-length + the
    * deterministic metadata a decoder would attach. */
  def multimodal(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val e = emb(spark, dir)
    ordered(
      d.join(e, col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"), col("lang"), col("source"),
          floor(col("n_chars") / 100).as("size_bucket"),
          length(col("payload")).as("n_bytes"),
          round6(norm("embedding")).as("vec_norm"),
          col("label")))
  }

  private val multimodalSql =
    s"""SELECT doc_id, lang, source,
       |  CAST(floor(n_chars / 100) AS BIGINT) AS size_bucket,
       |  octet_length(encode(text)) AS n_bytes,
       |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |    CAST(embedding AS DOUBLE[]))), 6) AS vec_norm,
       |  label
       |FROM documents JOIN embeddings ON doc_id = vec_id
       |${O.OrderAll}"""

  /** Int8 embedding quantization — the storage lever that makes
    * 100 TB-scale ANN affordable (4× smaller vectors, the IVF-PQ /
    * faiss-scalar-quantizer family): per-vector affine map to [0,255]
    * (scale = (max−min)/255), plus the mean absolute reconstruction
    * error a pipeline monitors to know the recall cost. Every number
    * is per-row IEEE double arithmetic in list order — identical bits
    * on both engines, no rounding needed; embarrassingly parallel,
    * no shuffle beyond the presentation sort. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val lo = array_min(e).cast(DoubleType)
    val hi = array_max(e).cast(DoubleType)
    val scale = when(hi > lo, (hi - lo) / 255.0).otherwise(lit(1.0))
    // reconstruction error recomputes the quantized code inline: one
    // transform, no zip, same spelling the oracle uses
    val absErr = (x: Column) => {
      val xd = x.cast(DoubleType)
      abs(xd - (lo + round((xd - lo) / scale) * scale))
    }
    val err = aggregate(transform(e, absErr), lit(0.0), _ + _) /
      size(e).cast(DoubleType)
    ordered(
      Tables.load(spark, dir, "embeddings").select(
        col("vec_id"),
        lo.as("lo"), hi.as("hi"), scale.as("scale"),
        err.as("mean_abs_err")))
  }

  private val quantizeInt8Sql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding AS e,
       |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS lo,
       |    CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS hi
       |  FROM embeddings),
       |s AS (SELECT *,
       |    CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS scale
       |  FROM v)
       |SELECT vec_id, lo, hi, scale,
       |  list_aggregate(list_transform(e, x ->
       |    abs(CAST(x AS DOUBLE)
       |      - (lo + round((CAST(x AS DOUBLE) - lo) / scale) * scale))),
       |    'sum') / len(e) AS mean_abs_err
       |FROM s
       |${O.OrderAll}"""

  /** SemDeDup (Abbas et al. 2303.09540): semantic dedup by
    * cluster-then-dedup-within-cluster — the pairwise work collapses
    * from O(n²) to O(Σ c_k²), the paper's whole point. The PARTITIONER
    * is pluggable: production uses the trained IVF centroids already in
    * this module ([[ensureIvfIndex]]); the keyed query uses a
    * deterministic stand-in — the sign bits of the first four embedding
    * coordinates (axis-aligned hyperplanes, a legitimate LSH-family
    * space partition) — because a k-means assignment cannot be replayed
    * relationally by the DuckDB oracle, while `element_at(v,i) > 0`
    * can, bit-for-bit. Dedup rule within a cluster: keep a vector iff
    * no LOWER-id member has round6-cosine ≥ 0.9 (lowest-id
    * representative — the same total-order discipline as
    * `llm_dedup_apply`). Runs over [[plantedEmbeddings]] so the
    * production threshold is non-vacuous — and both plant derivations
    * PRESERVE COORDINATE SIGNS (×2 trivially; x+0.05·|x| keeps sign
    * for every x, including 0), so a planted near-dup provably lands
    * in its original's cluster: the clustering shortcut loses none of
    * the planted mass, which the drop count proves at the gate.
    *
    * 100 TB: the pair join is an EQUI-join on cid (vec_id < residual)
    * — never a cross product; within-cluster quadratic cost is the
    * knob k controls (more centroids → smaller cells), and a skewed
    * cell splits by sub-partitioning the partitioner (exactly how the
    * MinHash band join bounds its buckets). k is ADAPTIVE, same law as
    * [[srpBitsFor]]: a FIXED plane count makes within-cell pairs
    * n²/2^bits — a latent quadratic the sf1 bench surfaced (25M pair
    * rows at 4 planes; ~2.5B at sf10). The cell id is the top `bits`
    * of a fixed 16-plane sign code with bits the smallest in [4,16]
    * keeping expected cell size ≤ [[SemTargetCell]] — an integer
    * CASE ladder over exact thresholds (NOT ceil(log2(…)): IEEE log2
    * rounds differently across engines at exact powers of two), built
    * once by [[semCidSql]] and consumed verbatim by BOTH engines, with
    * the corpus count riding the broadcast-1-row audit-scalar pattern.
    * Depth changes only the approximation coarseness (the SemDeDup
    * tradeoff knob); planted near-dups preserve every coordinate SIGN,
    * so they share their original's full 16-plane code at any depth. */
  private[graft] val SemTargetCell = 32L
  private[graft] val SemMaxPlanes = 16

  /** The adaptive sign-plane cell id as ONE engine-neutral SQL string:
    * `elem(i)` renders coordinate access (`element_at(embedding, i)`
    * on Spark, `embedding[i]` in DuckDB), `nExpr` the corpus-count
    * column. Divisor ladder = 2^(16−bits); FLOOR of a double division
    * is exact here (both operands < 2^53, divisor a power of two). */
  /** The depth ladder alone (divisor = 2^(16−bits)), and its Scala
    * twin — the PropertySpec law runs the twin over the full long
    * range, and a one-job boundary sweep pins string ≡ twin at every
    * threshold, so the SQL the oracle replays IS the tested rule. */
  private[graft] def semDivisorSql(nExpr: String): String =
    (4 until SemMaxPlanes).map(b =>
      s"WHEN $nExpr <= ${SemTargetCell << b} THEN ${1L << (SemMaxPlanes - b)}")
      .mkString("CASE ", " ", " ELSE 1 END")

  private[graft] def semDivisorFor(n: Long): Long =
    (4 until SemMaxPlanes).collectFirst {
      case b if n <= (SemTargetCell << b) => 1L << (SemMaxPlanes - b)
    }.getOrElse(1L)

  private[graft] def semCidSql(elem: Int => String, nExpr: String): String = {
    val code = (1 to SemMaxPlanes).map(i =>
      s"CASE WHEN ${elem(i)} > 0 THEN ${1L << (SemMaxPlanes - i)} ELSE 0 END")
      .mkString("(", " + ", ")")
    s"CAST(FLOOR($code * 1.0 / (${semDivisorSql(nExpr)})) AS INT)"
  }

  /** [[semDedup]]'s corpus with its adaptive cell id `cid` (and the
    * corpus count `n_corpus` it was sized by): pairs within a cell are
    * the query's candidate set. */
  private[graft] def semCells(spark: SparkSession, dir: String): DataFrame = {
    val planted = plantedEmbeddings(emb(spark, dir))
    val nRow = planted.agg(count(lit(1)).as("n_corpus"))
    planted.crossJoin(broadcast(nRow))
      .withColumn("cid",
        expr(semCidSql(i => s"element_at(embedding, $i)", "n_corpus")))
  }

  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(semCells(spark, dir))
    val dropped = cosineAtLeast(pairSide(e, "a", col("cid"))
      .join(pairSide(e, "b", col("cid")), Seq("cid"))
      .filter(col("id_a") < col("id_b")), 0.9)
      .select(col("id_b").as("vec_id")).distinct()
    ordered(
      e.join(dropped.withColumn("is_kept", lit(false)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(col("is_kept"), lit(true)).as("is_kept")))
  }

  private val semDedupSql = {
    val cid = semCidSql(i => s"embedding[$i]", "n_corpus")
    val cos = oracleCosOf("a", "b")
    s"""WITH ${plantedCteSql("")},
       |nn AS (SELECT COUNT(*) AS n_corpus FROM planted),
       |e AS (
       |  SELECT vec_id, embedding, $cid AS cid FROM planted CROSS JOIN nn),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round($cos, 6) >= 0.9)
       |SELECT e.vec_id, e.cid, d.vec_id IS NULL AS is_kept
       |FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
       |${O.OrderAll}"""
  }

  // ————————————————————————————————————————————————————————————————
  // Product quantization (llm_simsearch_pq) — the third standard ANN
  // architecture next to SRP-LSH (hash buckets) and IVF (coarse cells):
  // COMPRESS the corpus 32× (64 float32 → PqM byte codes) so the
  // first-pass scan touches 8 bytes/vector, then rerank a small ADC
  // shortlist exactly. Jégou/Douze/Schmid, "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011 — re-expressed relationally.
  // ————————————————————————————————————————————————————————————————

  private val PqM = 8 // subspaces (codes bytes per vector)
  private val PqK = 256 // centroids per subspace (8-bit codes)
  private val PqIters = 3 // Lloyd rounds (fixed → deterministic)
  private val PqShortlist = 50 // ADC shortlist floor per probe

  /** Rerank depth must GROW with the corpus: the codebooks fix the ADC
    * distortion ε, and the number of corpus vectors whose true score
    * lies within ε of the exact top-5 boundary grows ∝ n (density × ε),
    * so a fixed shortlist's recall decays with every decade — measured
    * at the 200k-vector rung, where the fixed-50 shortlist dropped
    * probe recall below the 0.6 pin that every smaller rung clears
    * (the full sf10 hash gate caught it). n/1000 keeps the exact
    * rerank at 0.1% of an exact scan — the same pinned-recall-vs-
    * scaling trade as the adaptive IVF-K and SRP-bit ladders; faiss
    * instead fixes k_factor and lets recall drift, which a pinned
    * recall_ge_bound column cannot do. */
  private[graft] def pqShortlistFor(n: Long): Int =
    math.max(PqShortlist, (n / 1000L).toInt)

  /** Per-subspace codebooks trained on the SAME deterministic
    * driver-collected sample as the IVF quantizer (the [[IvfTrainSample]]
    * lowest vec_ids, unit-normalized): init = the sample's first
    * [[PqK]] subvectors, then [[PqIters]] Lloyd rounds of plain L2
    * k-means per subspace, all in sequential Scala — bit-deterministic,
    * and exactly how faiss trains PQ (sample → in-memory k-means; only
    * ENCODING is a distributed pass). Returns (m)(k)(subdim). */
  private[graft] def pqCodebooks(e0: DataFrame): Array[Array[Array[Double]]] = {
    val unit = e0.orderBy(col("vec_id")).limit(IvfTrainSample)
      .select(col("embedding")).collect()
      .map(r => normalizeArr(r.getSeq[Float](0).map(_.toDouble).toArray))
    val dim = unit.headOption.map(_.length).getOrElse(0)
    require(dim % PqM == 0, s"dim $dim not divisible into $PqM subspaces")
    val sub = dim / PqM
    Array.tabulate(PqM) { m =>
      val vs = unit.map(_.slice(m * sub, (m + 1) * sub))
      var cents = vs.take(PqK)
      for (_ <- 1 to PqIters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val counts = new Array[Long](cents.length)
        vs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents
    }
  }

  /** Trained codebooks, one per published PQ index (the path
    * [[ensurePqIndex]] returns), as [[centroidCache]] is for IVF. */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private[graft] val pqTrainCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def clearPqMemo(): Unit = pqCache.clear()

  /** Unit-normalize + encode: per subspace, the L2-nearest codebook
    * entry (lowest id on ties). One columnar pass at index build. */
  private def pqEncode(cbs: Array[Array[Array[Double]]]) = udf { (v: Array[Float]) =>
    val dim = cbs.length * cbs(0)(0).length
    val sub = cbs(0)(0).length
    var nrm = 0.0
    var i = 0
    while (i < v.length) { nrm += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(nrm)
    Array.tabulate(cbs.length) { m =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cbs(m).length) {
        var d = 0.0; var j = 0
        while (j < sub) {
          val x = (if (n == 0) 0.0 else v(m * sub + j) / n) - cbs(m)(c)(j)
          d += x * x; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Build-once/serve-many, same lifecycle as the IVF index: one
    * fixture holds the codebooks (`codebooks`: PqM×PqK×8 doubles —
    * KBs) and the encoded corpus (`codes`: vec_id + [[PqM]] small ints
    * — the 32×-compressed scan target); fresh sessions serve from the
    * files, never retraining ([[pqTrainCount]] proves it). Returns the
    * index's path. */
  private[graft] def ensurePqIndex(spark: SparkSession, dir: String): String =
    Fixtures.once(dir, s"pq_index_m${PqM}k${PqK}i$PqIters", "embeddings") { tmp =>
      pqTrainCount.incrementAndGet()
      val cbs = pqCodebooks(emb(spark, dir))
      import spark.implicits._
      cbs.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (c, k) => (m, k, c) }
      }.toSeq.toDF("m", "cid", "centroid")
        .coalesce(1).write.parquet(s"$tmp/codebooks")
      emb(spark, dir)
        .select(col("vec_id"), pqEncode(cbs)(col("embedding")).as("codes"))
        .write.parquet(s"$tmp/codes")
    }

  private def trainedPq(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val index = ensurePqIndex(spark, dir)
    pqCache.computeIfAbsent(index, _ =>
      spark.read.parquet(s"$index/codebooks")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3)))
  }

  /** Per-probe ADC machinery for the 10 fixed probes: the PqM×PqK
    * lookup tables of subspace dots (driver-computed from the
    * unit-normalized probe vectors — KBs, rides the UDF closure =
    * broadcast) plus the scoring UDF (PqM table lookups per corpus
    * row) and the literal probe-id array for the zero-shuffle explode.
    * Shared by the pure-PQ and IVF-PQ query paths. */
  private def adcScorer(spark: SparkSession, dir: String,
      cbs: Array[Array[Array[Double]]])
      : (org.apache.spark.sql.expressions.UserDefinedFunction, Column) = {
    val sub = cbs(0)(0).length
    val probeVecs = probeRows(emb(spark, dir))
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), v.map(x => if (n == 0) 0.0 else x / n))
      }.sortBy(_._1)
    val luts: Map[Long, Array[Array[Double]]] = probeVecs.map { case (pid, q) =>
      pid -> Array.tabulate(PqM) { m =>
        val qm = q.slice(m * sub, (m + 1) * sub)
        cbs(m).map(centroidDot(_, qm))
      }
    }.toMap
    val adc = udf { (pid: Long, codes: Array[Int]) =>
      val lut = luts(pid)
      var s = 0.0; var m = 0
      while (m < codes.length) { s += lut(m)(codes(m)); m += 1 }
      s
    }
    (adc, array(probeVecs.map(p => lit(p._1)).toIndexedSeq: _*))
  }

  /** ADC shortlist + exact rerank to top-5 — the full PQ query
    * pipeline. Asymmetric distance: each probe precomputes a PqM×PqK
    * lookup table of subspace dots against the codebooks (driver-side,
    * KBs, rides the UDF closure = broadcast), so scoring a corpus
    * vector is PqM table lookups over its byte codes — the scan never
    * touches a float vector. The shortlist (10 probes ×
    * [[pqShortlistFor]](n) rows — ADAPTIVE, n/1000 past the 50 floor;
    * see that method for why fixed depth broke at sf10) then joins
    * back to the raw embeddings for EXACT cosine rerank. At 100 TB:
    * first pass reads the 8-byte-per-vector codes table (32× less I/O
    * than raw), zero shuffle until the per-probe TakeOrdered; the
    * exact rerank touches 0.1% of the corpus — constant FRACTION, not
    * constant count. */
  private[graft] def simsearchPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val cbs = trainedPq(spark, dir)
    val codes = spark.read.parquet(s"${ensurePqIndex(spark, dir)}/codes")
    val (adc, probeIds) = adcScorer(spark, dir, cbs)
    // ADC scan: explode the 10-probe literal over the codes table —
    // zero shuffle, no join; then per-probe shortlist
    val scored = codes
      .select(col("vec_id"), col("codes"), explode(probeIds).as("probe_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", adc(col("probe_id"), col("codes")))
    adcShortlistRerank(spark, dir, scored)
  }

  /** Shared tail of both PQ query paths: per-probe ADC shortlist
    * ([[pqShortlistFor]](n)-deep — adaptive, n/1000 past the 50 floor —
    * map-side WindowGroupLimit heaps) → exact cosine rerank of the
    * ≤ 10 probes × depth candidates (0.1% of the corpus) → top-5.
    * `scored` must carry (probe_id, vec_id, adc). The rerank joins the
    * shortlist back to the raw vectors: broadcast while 10×n/1000 rows
    * stay driver-tiny (≤ [[PqBroadcastShortlistMax]]), a plain
    * shuffled equi-join past that — at 1B vectors the shortlist is
    * 10M rows, a fine shuffle key but not a fine broadcast. */
  private[graft] val PqBroadcastShortlistMax = 2000000L

  private def adcShortlistRerank(spark: SparkSession, dir: String,
      scored: DataFrame): DataFrame = {
    val n = embCount(spark, dir)
    val depth = pqShortlistFor(n)
    val shortlist0 = topK(scored, "probe_id", "adc", "srn", depth)
      .select(col("probe_id"), col("vec_id"))
    val shortlist =
      if (NProbes.toLong * depth <= PqBroadcastShortlistMax) broadcast(shortlist0)
      else shortlist0
    // exact rerank of the shortlist: fetch raw vectors for the
    // ≤ 10×depth candidates, score true cosine
    val rerank = emb(spark, dir)
      .join(shortlist, Seq("vec_id"))
      .join(broadcast(probeSide(probeRows(emb(spark, dir)), norm("embedding"))), Seq("probe_id"))
    ordered(rankTopK(rerank, "probe", norm("embedding"), TopK))
  }

  /** Measured with margin on every shipped SF (deterministic training
    * ⇒ reproducible); the ScalaTest pin holds the tighter number. */
  private[graft] val PqRecallBound = 0.6

  /** Keyed PQ query: like `llm_simsearch_ivf`, the oracle-facing row is
    * the exact-twin comparison — ADC+rerank recall vs the exact top-5,
    * plus the compression ratio the codes table achieves (raw bytes /
    * code bytes; the entire reason PQ exists). A codebook regression
    * (recall collapse) or an encoding-width regression turns the
    * driver row red. */
  def simsearchPq(spark: SparkSession, dir: String): DataFrame = {
    val dim = emb(spark, dir)
      .agg(max(size(col("embedding")))).head().getInt(0)
    exactTwinAudit(spark, dir, simsearchPqTopK(spark, dir)) { recall =>
      Seq(lit(dim.toLong * 4L / PqM).as("compression_x"),
        lit(recall >= PqRecallBound).as("recall_ge_bound"))
    }
  }

  private val simsearchPqSql =
    exactTwinSql("""(SELECT CAST(MAX(len(embedding)) * 4 // 8 AS BIGINT)
       |     FROM embeddings) AS compression_x,
       |  TRUE AS recall_ge_bound""")

  /** IVF-PQ — the composition faiss actually ships as its workhorse
    * (`IVFx,PQy`): IVF's coarse cells prune WHICH vectors to score
    * (4-of-16 cells ≈ quarter of the corpus), PQ's codes make scoring
    * the survivors nearly free (8 table lookups each), and the exact
    * rerank recovers precision on the [[PqShortlist]]-deep shortlist.
    * Candidates come from the cell equi-join (broadcast probe list,
    * same as `llm_simsearch_ivf`), codes attach via a vec_id equi-join
    * against the PQ index. At 100 TB you store the codes INSIDE the
    * cell layout (one cid-partitioned table carrying vec_id + codes,
    * raw vectors in cold storage) so the attach join disappears; here
    * the two indexes stay independent artifacts and the join documents
    * the seam. Everything downstream of candidate generation is the
    * shared PQ tail. */
  private[graft] def simsearchIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val cents = trainedCentroids(spark, dir)
    val cbs = trainedPq(spark, dir)
    val codes = spark.read.parquet(s"${ensurePqIndex(spark, dir)}/codes")
    val indexed = indexedCells(spark, dir)
    val (adc, _) = adcScorer(spark, dir, cbs)
    val scored = indexed.select(col("vec_id"), col("cid"))
      .join(broadcast(ivfProbeCells(indexed, cents)), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .join(codes, Seq("vec_id"))
      .withColumn("adc", adc(col("probe_id"), col("codes")))
    adcShortlistRerank(spark, dir, scored)
  }

  /** Keyed IVF-PQ query: recall vs the exact twin (bounded below by
    * neither parent alone — pinned against BOTH in LlmSpec) plus the
    * IVF pruning bound; booleans oracle-pinned TRUE. */
  def simsearchIvfPq(spark: SparkSession, dir: String): DataFrame =
    exactTwinAudit(spark, dir, simsearchIvfPqTopK(spark, dir))(
      ivfBounds(spark, dir, PqRecallBound))

  private val simsearchIvfPqSql = simsearchIvfSql

  private[graft] val KnnK = 3
  /** 12 probed cells of the adaptive-K index: a k-NN GRAPH build
    * probes deeper than online search (`llm_simsearch_ivf`'s 4 of 16)
    * — batch recall is worth more than per-query latency, and this
    * corpus is weakly clustered (synthetic near-uniform 64-dim), the
    * hardest IVF regime. Measured recall@3 at P=12 over K=[[knnKFor]]:
    * 0.887 (sf0.01, n=500, K=32), 0.810 (sf0.1, n=2000, K=64), with
    * candidate fraction FALLING 0.37 → 0.19 as K tracks √n; real
    * clustered embedding corpora buy the same recall far cheaper. */
  private[graft] val KnnProbes = 12
  private[graft] val KnnSliceN = 100
  private val KnnRecallBound = 0.7

  /** Ceiling of the adaptive cell count: 4096 cells keeps K = √n
    * honest to ~16M vectors. Raised from 1024 by switching training
    * past [[IvfDriverTrainK]] to [[ivfCentroidsDistributed]] — the old
    * cap existed only because the driver trainer's sample collect and
    * sequential Lloyd pass stopped scaling, not because the index
    * wanted fewer cells. The next constraint past it — the flat
    * probe's K·dim dots per vector — is ALSO lifted: at [[HierProbeK]]
    * cells probing
    * routes through the √K-cell [[coarseRouter]] (~K/4 of the flat
    * flops; completeness + routing-recall laws in LlmSpec at forced
    * small K). The ceiling can now move with the corpus; 4096 ≈
    * √(16M vectors) is simply the largest K any plausible near-term
    * rung wants. */
  private[graft] val KnnKCeiling = 4096

  /** Cell count for the k-NN-join index: the smallest power of two ≥
    * √n, floored at the online-search [[IvfK]] and capped at
    * [[KnnKCeiling]]. This is the `srpBitsFor` lesson applied to IVF:
    * at FIXED K the cid-join candidate volume is (P/K)·n² — a
    * quadratic wearing a linear disguise, the class of bug that
    * fixed-8-bit SRP banding and fixed-16-cell semdedup both had
    * (ScaleUpSpec's candidate-growth tests pin K = 16 over the bound
    * and this K under it). With K ≈ √n and P fixed, candidates =
    * P·n/K per probe side ≈ P·n^{3/2} total — and per-query work P·√n, faiss's
    * standard nlist ≈ √n sizing. */
  private[graft] def knnKFor(n: Long): Int = {
    var k = IvfK
    while (k.toLong * k < n && k < KnnKCeiling) k *= 2
    k
  }

  /** Training-sample size for a K-cell quantizer: ≥ 64 rows per
    * centroid (the [[IvfTrainSample]] floor covers online-search K);
    * the sample grows WITH K — capping K by a fixed sample is how the
    * adaptive cell count silently stops adapting (seen at sf1: K
    * stuck at 64, candidate fraction stopped falling). Up to
    * [[IvfDriverTrainK]] the sample is a driver collect (≤ 16 MB); past it the sample stays distributed
    * ([[ivfCentroidsDistributed]]) and only per-cell sums reach the
    * driver. */
  private[graft] def ivfTrainSampleFor(k: Int): Int =
    math.max(IvfTrainSample, 64 * k)

  /** Candidate-fraction bound, adaptive with the cell count: a
    * balanced K-cell layout probed P-deep scores ≈ P/K of the corpus
    * per query; 2× headroom absorbs cell-size skew. */
  private def knnScoredFracBound(k: Int): Double =
    math.min(1.0, 2.0 * KnnProbes.toDouble / k)

  /** Candidate pairs of the k-NN JOIN: every corpus vector probes its
    * [[IvfProbes]] nearest cells of the persisted IVF index and meets
    * the vectors stored there — ONE corpus⋈corpus equi-join on cell id
    * (each vector lives in exactly one cell, so a pair can never
    * duplicate across probes). Candidate volume ≈ n·(P/K)·n/K per cell
    * — linear in n per vector, never the n² of the brute graph. */
  private[graft] def knnJoinCandidates(
      spark: SparkSession, dir: String, nProbe: Int = KnnProbes,
      kOpt: Option[Int] = None): DataFrame =
    // kOpt threads a caller's already-derived cell count through, so
    // a caller that counted the embeddings for n does not count again
    knnJoinCandidatesAt(spark, dir, nProbe,
      kOpt.getOrElse(knnKFor(embCount(spark, dir))))

  /** Candidates at an EXPLICIT cell count — ScaleUpSpec's growth test
    * uses it for the fixed-K quadratic control next to the adaptive path. */
  private[graft] def knnJoinCandidatesAt(
      spark: SparkSession, dir: String, nProbe: Int, k: Int,
      indexedOpt: Option[DataFrame] = None): DataFrame = {
    val cents = trainedCentroids(spark, dir, k)
    // share the caller's cell scan (one fixture listing per query)
    val indexed = indexedOpt.getOrElse(indexedCells(spark, dir, k))
    val qs = indexed.select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"), probedCells(cents, math.min(nProbe, k)))
    indexed.join(qs, Seq("cid")).filter(col("vec_id") =!= col("q_id"))
  }

  /** The approximate k-NN graph itself (q_id, vec_id, score, rn ≤ k):
    * exact cosine over the IVF candidates, per-query top-k window.
    * `candidatesObs`, if given, counts the candidate rows (metric `n`)
    * in whichever job computes the edges. */
  private[graft] def knnJoinEdges(
      spark: SparkSession, dir: String, nProbe: Int = KnnProbes,
      kOpt: Option[Int] = None,
      indexedOpt: Option[DataFrame] = None,
      candidatesObs: Option[Observation] = None): DataFrame = {
    val cands = kOpt match {
      case Some(k) => knnJoinCandidatesAt(spark, dir, nProbe, k, indexedOpt)
      case None => knnJoinCandidates(spark, dir, nProbe, kOpt)
    }
    rankTopK(candidatesObs.fold(cands)(o => cands.observe(o, count(lit(1)).as("n"))),
      "q", col("nrm"), KnnK)
  }

  /** k-NN JOIN — every vector's top-[[KnnK]] neighbours in one pass,
    * the batch operator under retrieval-corpus construction, semantic
    * clustering prep, and graph-based ANN index builds (`llm_simsearch`
    * answers 10 probes; THIS answers all n at once). Architecture:
    * probe side explodes to its [[IvfProbes]] nearest IVF cells, the
    * stored-cell side is read from the build-once index, candidates
    * come from the cid equi-join ([[knnJoinCandidates]]) and only they
    * are scored — at 100 TB the join is cell-partitioned on both sides
    * (the index IS cid-partitioned parquet), so each cell's work ships
    * to one executor and the brute n² never materializes anywhere.
    * Keyed output is the audit row the oracle can replay: exact counts
    * plus three pinned invariants — every vector found all k
    * neighbours, recall ≥ [[KnnRecallBound]] against the BRUTE graph
    * on the deterministic lowest-id [[KnnSliceN]] slice (the
    * `llm_cosine_dedup` capped-ground-truth convention: the audit
    * stays O(slice·n) at any scale), and scored candidates ≤
    * `knnScoredFracBound`·n² (the pruning actually pruned). The edge
    * and candidate counts behind the first and last invariants are
    * `Dataset.observe` metrics of the one job that builds and
    * lineage-cuts the edges; no second pass counts them. */
  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val (audit, _, _) = knnJoinAudited(spark, dir)
    audit
  }

  /** [[knnJoin]]'s audit row plus the candidate and edge counts it was
    * decided on, so LlmSpec can pin the observed counts against the
    * candidate join's count and the edge frame's own count. */
  private[graft] def knnJoinAudited(
      spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val e = withNorm(emb(spark, dir))
    val n = embCount(spark, dir)
    val k = knnKFor(n)
    // one cell scan shared by the edge build and the slice check
    val indexed = indexedCells(spark, dir, k)
    // Both audit counts are observed inside the lineage-cut job that
    // builds the edges, so no other job scans for them. The candidate
    // count lands in a shuffle-map stage, so a retried map task could
    // over-count it; that can only flip scored_frac_le_bound to false,
    // which the oracle's pinned TRUE shows. Observations are
    // single-use: fresh ones per call.
    val candObs = Observation("knn_candidates")
    val edgeObs = Observation("knn_edges")
    val knn = knnJoinEdges(spark, dir, KnnProbes, Some(k), Some(indexed),
      Some(candObs))
      .observe(edgeObs, count(lit(1)).as("n"))
      .lineageCut()
    val nCand = candObs.get("n").asInstanceOf[Long]
    val nEdges = edgeObs.get("n").asInstanceOf[Long]
    // the lowest-id slice, collected once: the brute audit broadcasts
    // it as a local relation and the IVF check filters by its ids
    val sliceQ = e.orderBy(col("vec_id")).limit(KnnSliceN)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sliceRows = sliceQ.collect()
    val slice = spark.createDataFrame(
      java.util.Arrays.asList(sliceRows: _*), sliceQ.schema)
    // parallelism floor on the brute audit (Spread's documented
    // purpose): the embeddings scan is 1–2 splits at small SF, so the
    // slice×corpus exact pass would run on one core; no-op at scale
    // where the scan already splits ≥ cores
    val exact = pairs(rankTopK(graft.core.Spread.cpuBound(spark, e, col("vec_id"))
      .join(broadcast(slice), col("vec_id") =!= col("q_id")), "q", col("nrm"), KnnK), "q_id")
    val ivfSlice =
      pairs(knn.filter(col("q_id").isin(sliceRows.map(_.getLong(0)): _*)), "q_id")
    val recall = recallOf(exact, ivfSlice)
    val fracBound = knnScoredFracBound(k)
    val audit = spark.range(1).select(
      lit(n).as("n_vectors"), lit(KnnK.toLong).as("k"),
      lit(exact.size.toLong).as("n_exact_slice_pairs"),
      lit(nEdges == n * KnnK).as("edges_complete"),
      lit(recall >= KnnRecallBound).as("recall_ge_bound"),
      lit(nCand.toDouble / (n.toDouble * n.toDouble) <= fracBound)
        .as("scored_frac_le_bound"))
    (audit, nCand, nEdges)
  }

  private val knnJoinSql =
    s"""WITH slice AS (
       |  SELECT * FROM embeddings ORDER BY vec_id LIMIT $KnnSliceN),
       |${exactCteSql("slice", "")}
       |SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
       |  CAST($KnnK AS BIGINT) AS k,
       |  COUNT(*) AS n_exact_slice_pairs,
       |  TRUE AS edges_complete, TRUE AS recall_ge_bound,
       |  TRUE AS scored_frac_le_bound
       |FROM exact WHERE rn <= $KnnK
       |${O.OrderAll}"""

  private val MmrLambda = 0.7
  /** 1−λ as its OWN double literal: `1 - 0.7` in IEEE is
    * 0.30000000000000004, not the 0.3 the oracle SQL spells — the two
    * weights must be independent literals on both engines. */
  private val MmrLambdaBar = 0.3
  private val MmrK = 5
  private val MmrCands = 20

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity-aware final stage of every retrieval
    * pipeline: from the query's top-[[MmrCands]] cosine candidates,
    * greedily pick [[MmrK]] maximizing λ·rel(d) − (1−λ)·max sim(d,
    * selected), ties to the lowest vec_id (the determinism rule).
    * Stage split is the production shape: candidate generation and the
    * 20×20 pairwise-similarity matrix are DISTRIBUTED (the same scored
    * joins as `llm_simsearch`, both sides limit-bounded for the
    * non-equi-join lint); the greedy selection itself is inherently
    * sequential over k·|cands| rounded scalars, so it runs driver-side
    * on the collected 20-row candidate set (the [[IvfTrainSample]]
    * bounded-collect convention — re-ranking always happens on a
    * bounded shortlist, THAT is what makes MMR affordable at 100 TB).
    * Oracle: the k greedy steps replay as [[MmrK]] unrolled CTEs over
    * the identical round6 scores — bit-exact, no recursion needed. */
  def mmr(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(spark, dir))
    val q = e.filter(col("vec_id") === 0).limit(1)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val relScored = e.join(broadcast(q), col("vec_id") =!= lit(0))
      .withColumn("rel", cosine("q_emb", "embedding", col("q_nrm"), col("nrm")))
    // global top-20 = TakeOrderedAndProject (per-partition heaps + a
    // 20-row driver merge), NEVER a single-partition row_number window
    val cands = relScored
      .orderBy(col("rel").desc, col("vec_id").asc).limit(MmrCands)
      .select(col("vec_id"), col("rel"), col("embedding"), col("nrm"))
      .lineageCut()
    val simRows = pairSide(cands, "a").join(broadcast(pairSide(cands, "b")),
      col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine("emb_a", "emb_b", col("nrm_a"), col("nrm_b")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pool = cands.select(col("vec_id"), col("rel"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    for (_ <- 1 to MmrK) {
      val best = pool.filterNot(c => picked.exists(_._1 == c._1)).map { case (id, rel) =>
        val msim =
          if (picked.isEmpty) 0.0
          else picked.map(s => simRows((id, s._1))).max
        (id, rel, msim)
      }.minBy { case (id, rel, msim) =>
        (-(MmrLambda * rel - MmrLambdaBar * msim), id)
      }
      picked += best
    }
    import spark.implicits._
    val out = picked.toSeq.zipWithIndex.map { case ((id, rel, msim), i) =>
      (i + 1L, id, rel, MmrLambda * rel - MmrLambdaBar * msim)
    }.toDF("mmr_rank", "vec_id", "relevance", "mmr_raw")
    ordered(out.select(col("mmr_rank"), col("vec_id"), col("relevance"),
      round6(col("mmr_raw")).as("mmr_score")))
  }

  private val mmrSql = {
    val cosXy = oracleCosOf("x", "y")
    def step(k: Int): String =
      s"""p$k AS (SELECT vec_id, rel, msim, CAST($k AS BIGINT) AS mmr_rank FROM (
         |  SELECT c.vec_id, c.rel, MAX(s.sim) AS msim,
         |    ROW_NUMBER() OVER (ORDER BY 0.7 * c.rel - 0.3 * MAX(s.sim) DESC,
         |      c.vec_id ASC) AS rn
         |  FROM cands c JOIN sims s ON s.a = c.vec_id
         |    AND s.b IN (SELECT vec_id FROM sel${k - 1})
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  GROUP BY c.vec_id, c.rel) WHERE rn = 1),
         |sel$k AS (SELECT vec_id FROM sel${k - 1}
         |  UNION ALL SELECT vec_id FROM p$k)""".stripMargin
    s"""WITH cands AS (
       |  SELECT vec_id, rel FROM (
       |    SELECT c.vec_id, round($oracleCos, 6) AS rel,
       |      ROW_NUMBER() OVER (ORDER BY round($oracleCos, 6) DESC,
       |        c.vec_id ASC) AS rn
       |    FROM embeddings c JOIN embeddings p ON p.vec_id = 0
       |    WHERE c.vec_id <> 0)
       |  WHERE rn <= $MmrCands),
       |ce AS (SELECT e.* FROM embeddings e JOIN cands USING (vec_id)),
       |sims AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b, round($cosXy, 6) AS sim
       |  FROM ce x JOIN ce y ON x.vec_id <> y.vec_id),
       |p1 AS (SELECT vec_id, rel, 0.0 AS msim, CAST(1 AS BIGINT) AS mmr_rank
       |  FROM (SELECT vec_id, rel,
       |      ROW_NUMBER() OVER (ORDER BY 0.7 * rel - 0.3 * 0.0 DESC,
       |        vec_id ASC) AS rn FROM cands)
       |  WHERE rn = 1),
       |sel1 AS (SELECT vec_id FROM p1),
       |${(2 to MmrK).map(step).mkString(",\n")}
       |SELECT mmr_rank, vec_id, rel AS relevance,
       |  round(0.7 * rel - 0.3 * msim, 6) AS mmr_score
       |FROM (SELECT * FROM p1
       |  ${(2 to MmrK).map(k => s"UNION ALL SELECT * FROM p$k").mkString("\n  ")})
       |${O.OrderAll}"""
  }

  val queries: Map[String, Q] = Map(
    "llm_knn_join" -> Q(knnJoin _, knnJoinSql),
    "llm_mmr" -> Q(mmr _, mmrSql),
    "llm_semdedup" -> Q(semDedup _, semDedupSql),
    "llm_simsearch_pq" -> Q(simsearchPq _, simsearchPqSql),
    "llm_simsearch_ivfpq" -> Q(simsearchIvfPq _, simsearchIvfPqSql),
    "llm_quantize_int8" -> Q(quantizeInt8 _, quantizeInt8Sql),
    "llm_simsearch" -> Q(simsearch _, simsearchSql),
    "llm_simsearch_lsh" -> Q(simsearchLsh _, simsearchLshSql),
    "llm_simsearch_ivf" -> Q(simsearchIvf _, simsearchIvfSql),
    "llm_cosine_dedup" -> Q(cosineDedup _, cosineDedupSql),
    // production-regime LSH over the planted corpus: 8×8 banded SRP has
    // exact 100 % recall at θ ≤ 2.9° (deterministic planes), so the LSH
    // result must hash-match the planted-corpus brute SQL bit-for-bit.
    "llm_cosine_dedup_lsh" -> Q(cosineDedupLsh _, cosineDedupLshSql),
    "llm_multimodal" -> Q(multimodal _, multimodalSql)
  )
}
