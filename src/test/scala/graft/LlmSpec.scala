package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DotProduct, WordShingles}

/** LLM-pipeline operators (SURVEY.md §2.11): LSH-vs-brute equivalence,
  * planted near-dup detection, codegen-vs-HOF bit-identity, recall of
  * the approximate search path, shingle generator edges. */
class LlmSpec extends AnyFunSuite {

  test("int8 quantization: error bounded by half a quantization step") {
    import org.apache.spark.sql.functions._
    val out = llm.Similarity.quantizeInt8(TestSpark.spark, TestSpark.Sf)
    val bad = out.filter(
      col("mean_abs_err") < 0.0 ||
        col("mean_abs_err") > col("scale") / 2.0 ||
        col("scale") <= 0.0 || col("hi") < col("lo")).count()
    assert(bad === 0, "per-element |x - recon| ≤ scale/2 ⇒ mean within bound")
    // quantization must be lossy on real float vectors (error strictly
    // positive somewhere), else the op is vacuous
    assert(out.filter(col("mean_abs_err") > 0.0).count() > 0)
  }
  import TestSpark.{spark, Sf}
  import spark.implicits._

  test("minhash-LSH near-dedup equals brute-force jaccard ground truth") {
    for (sf <- Seq(Sf, "/root/testdata/sf0.01")) {
      val lsh = llm.Dedup.nearDedup(spark, sf).collect().toSeq
      val brute = llm.Dedup.ngramJaccard(spark, sf).collect().toSeq
      assert(lsh.nonEmpty, s"$sf should contain planted near-dups")
      assert(lsh === brute, s"LSH must have perfect recall at $sf")
    }
  }

  test("incremental dedup: survivors equal the brute drop-rule replay; index persists") {
    for (sf <- Seq(Sf, "/root/testdata/sf0.01")) {
      val d = llm.Dedup.docs(spark, sf)
      // brute replay of BOTH drop rules over all-pairs jaccard: a batch
      // doc drops if it pairs with any corpus doc (corpus always wins)
      // or with a smaller-id batch doc (min-id-wins within the batch)
      val jac = llm.Dedup.bruteJaccardPairs(spark, d)
        .select(col("doc_a"), col("doc_b"))
      val dropped = jac
        .select(col("doc_b").as("d"), col("doc_a").as("o"))
        .unionByName(jac.select(col("doc_a").as("d"), col("doc_b").as("o")))
        .filter(col("d") % 10 === 7 && (col("o") % 10 =!= 7 || col("o") < col("d")))
        .select(col("d")).distinct()
        .collect().map(_.getLong(0)).toSet
      val expected = d.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet -- dropped
      val got = llm.Dedup.dedupIncremental(spark, sf)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(got === expected, s"incremental survivors diverge at $sf")
      assert(dropped.nonEmpty || sf == Sf,
        "sf0.01 should exercise at least one drop or the law is vacuous")
    }
    // the stored index is a build-once artifact: a second call must
    // read the parquet, not re-mine the corpus (same contract as the
    // IVF/PQ fixtures — once() must find it published, not build it)
    graft.core.Fixtures.once(Sf,
      s"neardup_index_p64_r4_c${llm.Dedup.BandBucketCap}", "documents") { _ =>
      fail("the stored index must already be published")
    }
  }

  test("incremental probe: capped index join equals the naive bucket join, groups bounded") {
    // planted skew ON BOTH SIDES: a hot corpus bucket with 300 docs
    // (boilerplate pages) that the batch hits with 150 docs of its own
    // — 5 corpus blocks × 3 batch blocks (r9: the probe join is now
    // block-capped on the batch side too, so this bucket spreads over
    // 15 (gx,_gb) join keys) — plus tails on both sides, some buckets
    // unshared
    val corpusBands = ((0L until 300L).map(i => (i, 0, 777L)) ++
      (300L until 330L).map(i => (i, 1, i % 5))).toDF("doc_id", "band_idx", "band_hash")
    val batchBands = ((1000L until 1150L).map(i => (i, 0, 777L)) ++
      (1150L until 1170L).map(i => (i, 1, i % 7))).toDF("doc_id", "band_idx", "band_hash")
    val index = llm.Dedup.indexBlockLayout(corpusBands)
    // law 1: the (band,hash,gx) probe finds EXACTLY the naive bucket
    // join's pairs (capping redistributes work, never drops a pair)
    val naiveProbe = corpusBands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_a"))
      .join(batchBands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("band_idx", "band_hash"))
      .select(col("doc_a"), col("doc_b"))
    val naiveSelf = batchBands.as("x").join(batchBands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val naive = naiveProbe.unionByName(naiveSelf).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = llm.Dedup.incrementalCandidates(batchBands, index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive, "block-capped probe must not change the candidate set")
    assert(naive.nonEmpty)
    // law 2: the stored layout bounds every probe join group — ≤ Cap
    // corpus rows per (band,hash,gx), and the hot bucket spreads over
    // ceil(300/64) = 5 blocks, which num_g advertises
    val cap = llm.Dedup.BandBucketCap.toLong
    val maxGroup = index.groupBy(col("band_idx"), col("band_hash"), col("gx"))
      .count().agg(max(col("count"))).head().getLong(0)
    assert(maxGroup <= cap, s"index block of $maxGroup rows > cap")
    val hot = index.filter(col("band_hash") === 777L)
    assert(hot.select(col("gx")).distinct().count() === 5L)
    assert(hot.select(col("num_g")).distinct().head().getLong(0) === 5L)
  }

  test("band join: blocked self-join equals naive pairs with bounded fan-out") {
    // planted skew: one hot band bucket with 300 docs (what a
    // boilerplate-heavy corpus does to MinHash bands) plus a small tail
    val hot = (0L until 300L).map(i => (i, 0, 777L))
    val tail = (300L until 340L).map(i => (i, 1, i % 7))
    val bands = (hot ++ tail).toDF("doc_id", "band_idx", "band_hash")
    val naive = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = llm.Dedup.bandPairs(bands).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === naive, "blocking must not change the candidate set")
    assert(naive.size === 300 * 299 / 2 +
      (300L until 340L).groupBy(_ % 7).values.map(g => g.size * (g.size - 1) / 2).sum)
    // bounded fan-out: no single join group exceeds Cap² pair rows…
    val cap = llm.Dedup.BandBucketCap.toLong
    val keyed = llm.Dedup.bandPairsKeyed(bands)
    val maxGroup = keyed.groupBy(col("band_idx"), col("band_hash"),
        col("_gx"), col("_gy")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxGroup <= cap * cap, s"join group of $maxGroup pairs > cap²")
    // …and the hot bucket's work spreads over its 15 block-pair keys
    // (ceil(300/64) = 5 blocks → 5·6/2 ordered block pairs)
    val hotKeys = keyed.filter(col("band_hash") === 777L)
      .select(col("_gx"), col("_gy")).distinct().count()
    assert(hotKeys === 15L)
  }

  test("IVF index persists: a fresh session serves without retraining") {
    val index = llm.Similarity.ensureIvfIndex(spark, Sf)
    assert(new java.io.File(index, "centroids/_SUCCESS").exists() &&
      new java.io.File(index, "cells/_SUCCESS").exists(),
      "index written as parquet under a parameter-keyed name")
    val first = llm.Similarity.simsearchIvfTopK(spark, Sf).collect().toSeq
    val builds = llm.Similarity.ivfTrainCount.get()
    // simulate a fresh session: drop the JVM memo, serve purely from disk
    llm.Similarity.clearIvfMemo()
    val second = llm.Similarity.simsearchIvfTopK(spark, Sf).collect().toSeq
    assert(llm.Similarity.ivfTrainCount.get() === builds,
      "rebuilt-from-disk index must serve queries with no retraining")
    assert(second === first)
  }

  test("simhash flags the planted exact-shape near-dups") {
    val d = core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("text"))
    val sim = llm.Dedup.simhashPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = llm.Dedup.ngramJaccard(spark, Sf).collect()
      .filter(_.getDouble(2) >= 0.95)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    // hamming<=3 simhash is coarser than jaccard>=0.95 but must catch
    // the nearly-identical pairs
    val missed = planted -- sim
    assert(missed.size <= planted.size / 2,
      s"simhash missed too many planted dups: $missed")
  }

  test("codegen dot_product is bit-identical to the HOF spelling") {
    DotProduct.register(spark)
    val e = core.Tables.load(spark, Sf, "embeddings").limit(50)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ida") < col("idb"))
    val diff = pairs.select(
      expr("dot_product(ea, eb)").as("fast"),
      llm.Similarity.dotHof(col("ea"), col("eb")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("two dot_product calls in one projection survive codegen") {
    DotProduct.register(spark)
    // regression: fixed local identifiers in doGenCode would make janino
    // reject the duplicated declarations and fall back to interpreted.
    val row = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .selectExpr("dot_product(a, b) AS ab", "dot_product(a, a) AS aa",
        "dot_product(b, b) + dot_product(a, b) AS mix")
      .head()
    assert(row.getDouble(0) === 11.0 && row.getDouble(1) === 5.0)
    assert(row.getDouble(2) === 36.0)
  }

  test("multi-probe LSH simsearch lifts recall ≥ 0.9 at bounded candidate cost") {
    val exact = llm.Similarity.simsearch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(multiProbe: Boolean): Set[(Long, Long)] =
      llm.Similarity.simsearchLshImpl(spark, Sf, multiProbe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = run(multiProbe = false)
    val multi = run(multiProbe = true)
    def recall(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    assert(recall(single) >= 0.5,
      f"single-probe recall ${recall(single)}%.2f collapsed — bucketing broken?")
    // the production lever: probing 1-bit-flipped band buckets recovers
    // neighbors that fell one hyperplane away (r2 verdict ask: ≥ 0.9)
    assert(recall(multi) >= 0.9,
      f"multi-probe recall ${recall(multi)}%.2f below target (single ${recall(single)}%.2f)")
    assert(multi.size <= exact.size, "LSH must not return more than exact top-5")
    // cost bound: ≤ bits+1 bucket lookups per band, probe-side only
    val cSingle = llm.Similarity.simsearchCandidates(spark, Sf, multiProbe = false).count()
    val cMulti = llm.Similarity.simsearchCandidates(spark, Sf, multiProbe = true).count()
    assert(cMulti <= 5 * cSingle,
      s"multi-probe candidates $cMulti exceed the (bits+1)× bound over $cSingle")
    // the keyed query's one-pass tagged count must agree with the
    // two-pass ground truth
    assert(llm.Similarity.simsearchCandidateCounts(spark, Sf) ===
      ((cSingle, cMulti)))
    info(f"recall ${recall(single)}%.2f → ${recall(multi)}%.2f; " +
      f"candidates $cSingle → $cMulti (${cMulti.toDouble / cSingle}%.1fx)")
  }

  test("IVF simsearch prunes most of the corpus at usable recall") {
    val exact = llm.Similarity.simsearch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = llm.Similarity.simsearchIvfTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    val n = spark.read.parquet(s"$Sf/embeddings.parquet").count()
    val cand = llm.Similarity.simsearchIvfCandidates(spark, Sf).count()
    val frac = cand.toDouble / (10.0 * (n - 1)) // vs brute: n−1 per probe
    // 4-of-16 probed cells: recall and cost both follow the cell sizes
    assert(recall >= 0.5, f"IVF recall $recall%.2f collapsed — quantizer broken?")
    assert(frac <= 0.6, f"IVF scored $frac%.2f of the corpus — cells not pruning")
    assert(ivf.size <= exact.size)
    info(f"IVF recall $recall%.2f, scored fraction $frac%.2f (n=$n)")
  }

  test("word shingles generator: short docs, exact window count, null") {
    WordShingles.register(spark, 3)
    val df = Seq((1L, "a b c d e"), (2L, "a b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = df.selectExpr("id", "word_shingles_3(text) AS s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.count(_._1 == 1L) === 3) // 5 tokens → 3 windows
    assert(out.filter(_._1 == 1L).map(_._2).toSeq ===
      Seq("a b c", "b c d", "c d e"))
    assert(out.filter(_._1 == 2L).map(_._2).toSeq === Seq("a b")) // short doc
    assert(out.count(_._1 == 3L) === 0) // null → no rows
  }

  test("distinct shingles generator == plain generator + per-doc distinct (the r8 shuffle-free law)") {
    // shinglesOf now dedups INSIDE the generator (row-local set)
    // instead of a cluster-wide .distinct() on raw shingle strings —
    // the ~415M-row exchange the sf100 rung could not afford. This law
    // is what makes the respelling safe: on a repetitive synthetic doc
    // AND the real corpus, the generator's set equals the multiset's
    // frame-level distinct, per doc, exactly.
    WordShingles.register(spark, 3)
    WordShingles.registerDistinct(spark, 3)
    val rep = Seq((1L, "a b c a b c a b c"), (2L, "x y"), (3L, "a a a a"))
      .toDF("doc_id", "text")
    val corpus = core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("text"))
    for (d <- Seq(rep, corpus)) {
      val set = d.selectExpr("doc_id", "word_shingles_distinct_3(text) AS s")
      val ref = d.selectExpr("doc_id", "word_shingles_3(text) AS s").distinct()
      assert(set.count() === ref.count(), "set cardinality drifted")
      assert(set.exceptAll(ref).isEmpty && ref.exceptAll(set).isEmpty,
        "generator-distinct != frame-level per-doc distinct")
    }
    // and the multiset default is untouched: 7 windows, 3 distinct
    assert(rep.filter(col("doc_id") === 1L)
      .selectExpr("word_shingles_3(text)").count() === 7L)
    assert(rep.filter(col("doc_id") === 1L)
      .selectExpr("word_shingles_distinct_3(text)").count() === 3L)
  }

  test("shinglesOf spreads an under-split scan; leaves a well-split input alone") {
    // r13: losing the old distinct's incidental exchange left the
    // CPU-bound shingle generate on a small corpus's 1–2 scan splits
    // (brute-jaccard twin 23.6 s at sf1; 4.75 s once spread). The
    // spread must engage exactly when partitions < cores — and must
    // NOT add an exchange when the input is already parallel enough.
    val cores = spark.sparkContext.defaultParallelism
    val narrow = (1L to 40L).map(i => (i, s"w$i x y z")).toDF("doc_id", "text")
      .coalesce(1)
    assert(llm.Dedup.shinglesOf(spark, narrow).rdd.getNumPartitions === cores,
      "a 1-split input must spread to the core count")
    val wide = (1L to 40L).map(i => (i, s"w$i x y z")).toDF("doc_id", "text")
      .repartition(cores + 3)
    assert(llm.Dedup.shinglesOf(spark, wide).rdd.getNumPartitions === cores + 3,
      "an already-split input must not be re-exchanged")
  }

  test("fingerprints are stable (pinned values) and collision-free here") {
    val d = core.Tables.load(spark, Sf, "documents")
    val fp = llm.Text.fingerprintRaw(d)
    val n = fp.count()
    assert(fp.select("rolling_fp").distinct().count() ===
      d.select("text").distinct().count(),
      "distinct texts should get distinct rolling fingerprints")
    // pin one value: same input must hash identically forever
    assert(llm.Dedup.fnv1a("spark") === llm.Dedup.fnv1a("spark"))
    assert(llm.Dedup.fnv1a("spark") !== llm.Dedup.fnv1a("sparl"))
    // the keyed invariant row must be all-green before the driver sees it
    val keyed = llm.Text.fingerprint(spark, Sf)
    assert(keyed.count() === n)
    assert(keyed.filter(!col("fp_group_consistent") ||
      !col("fp_collision_free")).count() === 0)
  }

  test("exact dedup keeps one representative per normalized text") {
    val out = llm.Dedup.exactDedup(spark, Sf)
    val docs = core.Tables.load(spark, Sf, "documents").count()
    assert(out.agg(sum("n_copies")).as[Long].head() === docs)
  }

  test("SRP-LSH cosine dedup equals brute ground truth at sf0.001 and sf0.01") {
    // loose-threshold shallow-band regime (0.5, 2×16) on the raw corpus
    for (sf <- Seq(Sf, "/root/testdata/sf0.01")) {
      val e = core.Tables.load(spark, sf, "embeddings")
      val lsh = llm.Similarity.cosineDedupLshImpl(e, 2, 16, 0.5).collect().toSeq
      val brute = llm.Similarity.cosineDedupImpl(e, 0.5).collect().toSeq
      assert(lsh === brute, s"banded SRP must have perfect recall at $sf")
    }
    // the equality above is only meaningful if the ground truth is
    // non-vacuous somewhere: sf0.01 carries exactly the near-boundary
    // pairs the 0.5 threshold was chosen to catch.
    assert(llm.Similarity.cosineDedup(spark, "/root/testdata/sf0.01")
      .count() > 0, "sf0.01 should contain pairs above the 0.5 threshold")
  }

  test("keyed cosine-dedup LSH: planted corpus, production 8×8/0.9 regime") {
    val e = llm.Similarity.plantedEmbeddings(
      core.Tables.load(spark, Sf, "embeddings"))
    val keyed = llm.Similarity.cosineDedupLsh(spark, Sf)
    val brute = llm.Similarity.cosineDedupImpl(e, 0.9).collect().toSeq
    // both planted families land above the threshold and LSH keeps them
    assert(brute.size >= 50, s"planted pairs missing: ${brute.size}")
    assert(keyed.drop("cand_frac_lt_20pct").collect().toSeq === brute,
      "keyed LSH must equal the planted-corpus brute ground truth")
    // the production regime must demonstrate LSH *benefit*: <20% of all
    // pairs become candidates (the keyed boolean pins this at the gate)
    assert(keyed.filter(!col("cand_frac_lt_20pct")).count() === 0)
  }

  test("keyed ANN invariant rows are all-green at test scale") {
    for (df <- Seq(llm.Similarity.simsearchLsh(spark, Sf),
        llm.Similarity.simsearchIvf(spark, Sf))) {
      val row = df.head()
      assert(row.getLong(2) === 50L, "10 probes × top-5 = 50 exact pairs")
      assert(row.getBoolean(3) && row.getBoolean(4),
        s"ANN bound booleans must hold: $row")
    }
  }

  test("SRP-LSH prunes hard at a production threshold on planted near-dups") {
    // deterministic corpus: 200 gaussian base vectors + 20 planted
    // near-copies (tiny perturbation → cosine ≈ 0.99+). At thr=0.95
    // the LSH depth that is right for production (8 bits × 8 bands)
    // must keep perfect recall while discarding almost all pairs.
    val rnd = new scala.util.Random(42)
    val base = Array.fill(200)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val dups = (0 until 20).map { k =>
      val src = base(k * 7 % 200)
      (200L + k, src.map(x => x + 0.03f * rnd.nextGaussian().toFloat).toSeq)
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++ dups
    val e = rows.toSeq.toDF("vec_id", "embedding")
    val brute = llm.Similarity.cosineDedupImpl(e, 0.95).collect().toSeq
    val lsh = llm.Similarity.cosineDedupLshImpl(e, 8, 8, 0.95).collect().toSeq
    assert(brute.size >= 20, s"planted dups missing from ground truth: ${brute.size}")
    assert(lsh === brute, "deep-band SRP lost a planted near-dup")
    val n = rows.size
    val cand = llm.Similarity.cosineBandCandidates(e, 8, 8).count()
    assert(cand < n.toLong * (n - 1) / 2 / 10,
      s"8x8 banding should prune >90% of ${n.toLong * (n - 1) / 2} pairs, kept $cand")
  }

  test("containment: planted prefix-half sub-docs all detected at exactly 1.0") {
    val out = llm.Dedup.containment(spark, Sf)
    // the 10 source↔derivative pairs specifically (a planted sub-doc may
    // ALSO legitimately pair with near-dups of its source — not asserted here)
    val planted = out
      .filter(col("doc_b") === col("doc_a") + 400000000L).collect()
    assert(planted.length === 10)
    planted.foreach { r =>
      assert(r.getAs[Double]("cont_b_in_a") === 1.0,
        "a prefix-half sub-doc's shingles are a strict subset — containment exactly 1")
    }
    // Jaccard would NOT have flagged at least one of these pairs at 0.8:
    // that's the doc-in-doc blind spot the operator exists for
    val jac = llm.Dedup.ngramJaccard(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(planted.exists(r =>
      !jac.contains((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))))
  }

  test("containment: prefix filter loses no pair vs the full self-join") {
    val d = core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("text"))
    def pairs(prefix: Boolean) =
      llm.Dedup.containmentPairs(spark, d, prefix).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSet
    val filtered = pairs(true)
    val full = pairs(false)
    // exactness is a THEOREM for the prefix filter (the contained side
    // can miss at most n − ceil(t·n) of its own shingles), but the
    // implementation can still get ranks/lengths wrong — pin equality
    assert(filtered === full)
    assert(full.nonEmpty, "fixture should contain organic high-containment pairs")
  }

  test("containment: positional filter prunes candidates, never results (r10)") {
    // the PPJoin positional-filter law: candidates under the
    // positional bound are a SUBSET of the plain-prefix candidates,
    // and the final verified output is identical (the bound only
    // drops rows verification was going to reject)
    val d = llm.Dedup.containmentCorpus(spark, Sf)
    val sh = llm.Dedup.fingerprinted(
      llm.Dedup.shinglesOf(spark, d, 3)).localCheckpoint()
    def cands(positional: Boolean): Set[(Long, Long)] =
      llm.Dedup.prefixCandidates(sh, 9, 10, positional).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = cands(positional = false)
    val pos = cands(positional = true)
    assert(pos.subsetOf(plain), "positional candidates must be ⊆ plain prefix")
    // on the planted-sub-doc corpus the bound must actually bite —
    // a no-op filter would mean the rank columns aren't wired through
    assert(pos.size < plain.size,
      s"positional filter pruned nothing (plain=${plain.size}, pos=${pos.size})")
    // and every pair the exact verify keeps is still found: the keyed
    // query (positional path) equals the brute twin — pinned above in
    // "prefix filter loses no pair", re-checked here on the PLANTED
    // corpus where true containment pairs are guaranteed
    val out = llm.Dedup.containment(spark, Sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 10L).forall(i => out.exists(_._2 == i + 400000000L)),
      "all ten planted sub-docs must survive the positional filter")
  }

  test("dsir: target-domain docs score above the background on average") {
    val out = llm.Text.dsir(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val (tgt, raw) = out.partition(_._1 % 50 == 0)
    assert(tgt.nonEmpty && raw.nonEmpty)
    val tgtMean = tgt.map(_._2).sum / tgt.size
    val rawMean = raw.map(_._2).sum / raw.size
    // the target docs' own bigrams define the target LM — their mean
    // log-ratio must exceed the background's (the property DSIR
    // resamples by); equality would mean the weight carries no signal
    assert(tgtMean > rawMean,
      s"dsir weight carries no target signal: target=$tgtMean raw=$rawMean")
  }

  test("semdedup: drop rule replays exactly against brute within-cluster cosine") {
    val out = llm.Similarity.semDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    // both planted families preserve coordinate signs, so all 50
    // derived near-dups share their original's cluster and must drop
    assert(out.count(!_._3) == 50, s"expected the 50 planted drops, got ${out.count(!_._3)}")
    // brute reference: same partitioner (the shared adaptive sign-plane
    // definition — ONE source of truth), same threshold, no clustering
    // shortcut — a vec is dropped iff SOME lower-id same-cluster vec is
    // ≥ 0.9 round6-cosine
    DotProduct.register(spark)
    val planted = llm.Similarity.plantedEmbeddings(
      graft.core.Tables.load(spark, Sf, "embeddings"))
    val e = planted
      .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_corpus"))))
      .selectExpr("vec_id", "embedding",
        llm.Similarity.semCidSql(
          i => s"element_at(embedding, $i)", "n_corpus") + " AS cid")
    val pairs = e.as("a").join(e.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .selectExpr("b.vec_id AS v",
        "round(dot_product(a.embedding, b.embedding) / " +
          "(sqrt(dot_product(a.embedding, a.embedding)) * " +
          "sqrt(dot_product(b.embedding, b.embedding))), 6) AS cos")
      .filter(col("cos") >= 0.9)
      .select(col("v")).distinct().collect().map(_.getLong(0)).toSet
    out.foreach { case (id, _, kept) =>
      assert(kept == !pairs.contains(id), s"vec $id kept=$kept mismatch")
    }
    // and the pair join must stay an equi join on cid — the only
    // nested loops allowed are the Cross combines of the 1-row corpus
    // count (the broadcast(1-row agg) pattern ScanGuardRule
    // budget-checks)
    val p = llm.Similarity.semDedup(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.matches("(?s).*Join \\[cid#\\d+\\], \\[cid#\\d+\\],.*"),
      s"semdedup pair join must be cid-keyed:\n$p")
    val badNlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(_.contains("Cross"))
    assert(badNlj.isEmpty && !p.contains("CartesianProduct"),
      s"non-scalar nested loop in the semdedup pair path:\n$p")
  }

  test("bm25: scores positive and non-increasing; multi-term hits outrank by construction") {
    val rows = llm.Text.bm25(spark, Sf).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getDouble(1))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(r => (1L to 3L).contains(r.getLong(2))),
      "a doc can hit at most the 3 query terms")
  }

  test("winnowing: density bounds hold; a shared w+k-1 token run shares a fingerprint") {
    import spark.implicits._
    // keyed-output laws: each selection covers at most w windows
    val out = llm.Text.winnow(spark, Sf).collect()
    out.foreach { r =>
      val (nGrams, nFp) = (r.getLong(1), r.getLong(2))
      val nWin = nGrams - (llm.Text.WinnowW - 1)
      assert(nFp <= nWin && nFp.toDouble >= nWin.toDouble / llm.Text.WinnowW,
        s"density out of bounds: $nFp of $nWin windows")
    }
    // THE winnowing guarantee: two docs sharing a run of w+k-1 = 8
    // tokens (embedded at different offsets, different surroundings)
    // must share at least one fingerprint
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, s"zz yy xx ww $shared vv uu"),
      (2L, s"one two $shared three four five six seven")).toDF("doc_id", "text")
    val sel = llm.Text.winnowSelections(docs)
      .select(col("doc_id"), substring(col("fmin"), 1, 16).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fp1 = sel.filter(_._1 == 1L).map(_._2).toSet
    val fp2 = sel.filter(_._1 == 2L).map(_._2).toSet
    assert((fp1 & fp2).nonEmpty,
      "an 8-token shared run must produce a shared fingerprint")
  }

  test("PQ simsearch: ADC shortlist + exact rerank recovers the exact top-5") {
    val exact = llm.Similarity.simsearch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = llm.Similarity.simsearchPqTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // 8×256 codebooks + 50-deep shortlist: rerank is exact, so recall
    // only loses what ADC ranks below position 50
    assert(recall >= 0.7, f"PQ recall $recall%.2f collapsed — codebooks broken?")
    assert(pq.size <= exact.size)
    info(f"PQ recall $recall%.2f (shortlist 50, rerank exact)")
  }

  test("PQ index persists: fresh session serves from codes parquet, no retraining") {
    val index = llm.Similarity.ensurePqIndex(spark, Sf)
    assert(new java.io.File(index, "codebooks/_SUCCESS").exists() &&
      new java.io.File(index, "codes/_SUCCESS").exists())
    val first = llm.Similarity.simsearchPqTopK(spark, Sf).collect().toSeq
    val builds = llm.Similarity.pqTrainCount.get()
    llm.Similarity.clearPqMemo()
    val second = llm.Similarity.simsearchPqTopK(spark, Sf).collect().toSeq
    assert(llm.Similarity.pqTrainCount.get() === builds,
      "rebuilt-from-disk PQ index must serve queries with no retraining")
    assert(second === first)
    // the codes table IS the compression story: 8 small ints per vector
    val codes = spark.read.parquet(s"$index/codes")
    val badWidth = codes
      .filter(size(col("codes")) =!= 8).count()
    assert(badWidth === 0, "every vector must encode to exactly 8 codes")
    val outOfRange = codes
      .filter(exists(col("codes"), c => c < 0 || c > 255)).count()
    assert(outOfRange === 0, "codes must fit one byte (K=256)")
  }

  test("IVF-PQ: composed recall within both parents' regime; candidates are IVF's") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("probe_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(llm.Similarity.simsearch(spark, Sf))
    val ivf = pairs(llm.Similarity.simsearchIvfTopK(spark, Sf))
    val ivfpq = pairs(llm.Similarity.simsearchIvfPqTopK(spark, Sf))
    val rIvf = (exact & ivf).size.toDouble / exact.size
    val rIvfPq = (exact & ivfpq).size.toDouble / exact.size
    // the exact rerank recovers everything ADC ranks into the 50-deep
    // shortlist, so composing PQ can cost at most what ADC misses —
    // bounded here as "within 0.2 of plain IVF", measured ~equal
    assert(rIvfPq >= rIvf - 0.2,
      f"IVF-PQ recall $rIvfPq%.2f collapsed vs IVF's $rIvf%.2f")
    assert(rIvfPq >= 0.5, f"IVF-PQ recall $rIvfPq%.2f below floor")
    info(f"recall: IVF $rIvf%.2f, IVF-PQ $rIvfPq%.2f")
  }

  test("pqShortlistFor: floor of 50, then a constant 0.1% of the corpus") {
    // fixed codebooks fix the ADC distortion ε, and the vectors within
    // ε of the true top-5 boundary grow ∝ n — so pinned recall needs a
    // rerank depth that scales. The sf10 full gate caught the fixed-50
    // shortlist dropping below the 0.6 recall pin at 200k vectors.
    assert(llm.Similarity.pqShortlistFor(550) == 50)
    assert(llm.Similarity.pqShortlistFor(20050) == 50)
    assert(llm.Similarity.pqShortlistFor(200050) == 200)
    assert(llm.Similarity.pqShortlistFor(2000050) == 2000)
    val ns = Seq(1L, 500L, 50000L, 500000L, 5000000L)
    assert(ns.map(llm.Similarity.pqShortlistFor) == ns.map(llm.Similarity.pqShortlistFor).sorted,
      "rerank depth must be monotone in corpus size")
  }

  test("PQ ADC error is bounded by the quantization error (Cauchy–Schwarz)") {
    // on the REAL persisted artifacts: for unit q and unit x,
    // |dot(q,x) − ADC(q,codes(x))| = |dot(q, x − recon(x))| ≤ ‖x − recon(x)‖
    // — the ADC approximation can never be worse than the codebook's
    // reconstruction error. A broken encoder (wrong subspace slicing,
    // transposed codebooks) violates this immediately.
    val index = llm.Similarity.ensurePqIndex(spark, Sf)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); if (n == 0) v else v.map(_ / n)
    }
    val cbs = spark.read.parquet(s"$index/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1).map(_._2.sortBy(_._2).map(_._3))
    val sub = cbs(0)(0).length
    val codes = spark.read.parquet(s"$index/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val vecs = core.Tables.load(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> unit(r.getSeq[Float](1).map(_.toDouble).toArray))
    val q = vecs.find(_._1 == 0L).get._2
    var maxViolation = 0.0
    var reconSum = 0.0
    vecs.foreach { case (id, x) =>
      val recon = codes(id).zipWithIndex.flatMap { case (c, m) => cbs(m)(c) }
      val exact = q.zip(x).map { case (a, b) => a * b }.sum
      val adc = (0 until cbs.length).map { m =>
        (0 until sub).map(j => q(m * sub + j) * cbs(m)(codes(id)(m))(j)).sum
      }.sum
      val reconErr = math.sqrt(x.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum)
      maxViolation = math.max(maxViolation, math.abs(exact - adc) - reconErr)
      reconSum += reconErr
    }
    assert(maxViolation <= 1e-9,
      f"ADC error exceeded the reconstruction bound by $maxViolation%.2e")
    val meanRecon = reconSum / vecs.length
    assert(meanRecon < 0.9 && meanRecon > 0.0,
      f"codebooks must compress usefully (lossy but informative), got $meanRecon%.3f")
    info(f"mean reconstruction error $meanRecon%.3f over ${vecs.length} vectors")
  }

  test("span_dedup: spans are exactly 8 tokens, ≥2 docs each, capped at 100") {
    val out = llm.Dedup.spanDedup(spark, Sf).collect()
    assert(out.nonEmpty && out.length <= 100)
    out.foreach { r =>
      assert(r.getAs[String]("span").split(" ").length === 8)
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
    }
  }

  test("llm_entropy: bounds hold and every score matches a sequential reference") {
    import TestSpark.Sf
    val texts = graft.core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.llm.Text.entropy(spark, Sf).collect()
    assert(got.length == texts.size)
    got.foreach { r =>
      val (id, n, nd) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val h = r.getDouble(3)
      val counts = texts(id).split(" ", -1).groupBy(identity).map(_._2.length)
      assert(n == counts.sum && nd == counts.size)
      // exact reference via the same log2(n) − Σc·log2(c)/n algebra
      def log2(x: Double) = math.log(x) / math.log(2.0)
      val clog = counts.map(c => c.toDouble * log2(c.toDouble)).sum
      val ref = math.max(log2(n.toDouble) - clog / n.toDouble, 0.0)
      assert(math.abs(h - round6(ref)) <= 1e-6, s"doc $id: $h vs $ref")
      // bounds: 0 ≤ H ≤ log2(distinct); norm ∈ (0,1] iff distinct > 1
      assert(h >= 0.0 && h <= log2(nd.toDouble) + 1e-6)
      if (nd == 1) assert(h == 0.0 && r.isNullAt(4))
      else {
        val norm = r.getDouble(4)
        assert(norm >= 0.0 && norm <= 1.0 + 1e-9)
        assert(math.abs(norm - round6(ref / log2(nd.toDouble))) <= 1e-6)
      }
    }
    // a uniform (all-distinct) doc has norm exactly 1 — assert the law
    // holds for at least one corpus doc or vacuously for none
    val uniform = got.filter(r => r.getLong(1) == r.getLong(2) && r.getLong(1) > 1)
    uniform.foreach(r => assert(r.getDouble(4) == 1.0))
  }

  test("llm_classifier_score: every score matches a sequential hashed-linear reference") {
    import TestSpark.Sf
    val texts = graft.core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.llm.Text.classifierScore(spark, Sf).collect()
    assert(got.length == texts.size)
    got.foreach { r =>
      val toks = texts(r.getLong(0)).split(" ").filter(_.nonEmpty)
      val units = toks.map { t =>
        val b = (37L * t.length + 17L * t.head.toLong + t.last.toLong) % 64
        b * 2654435761L % 2001L - 1000L
      }.sum
      val n = toks.length.toLong
      assert(r.getLong(1) == n && r.getLong(2) == units)
      val score = units.toDouble / (1000.0 * n.toDouble)
      assert(r.getDouble(3) == score, s"doc ${r.getLong(0)}")
      assert(math.abs(score) <= 1.0, "milli-weights bound |score| by 1")
      val want = if (score >= 0.05) "high" else if (score >= -0.05) "mid" else "low"
      assert(r.getString(4) == want)
    }
  }

  test("llm_pmi: top-30 matches a sequential reference with identical double algebra") {
    import TestSpark.Sf
    val texts = graft.core.Tables.load(spark, Sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    var nBi = 0L
    texts.foreach { t =>
      val tk = t.split(" ", -1)
      tk.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      tk.sliding(2).filter(_.length == 2).foreach { p =>
        bi((p(0), p(1))) = bi.getOrElse((p(0), p(1)), 0L) + 1
      }
      nBi += (tk.length - 1).toLong
    }
    val nUni = uni.values.sum
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = bi.toSeq.collect { case ((a, b), cab) if cab >= 5 =>
      val pmi = round6(math.log(
        (cab.toDouble * nUni.toDouble * nUni.toDouble)
          / (nBi.toDouble * uni(a).toDouble * uni(b).toDouble)))
      (a, b, cab, pmi)
    }
    val want = scored.sortBy { case (a, b, _, pmi) => (-pmi, a, b) }.take(30).toSet
    val got = graft.llm.Text.pmi(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want, s"pmi top-30 disagrees:\n got=$got\nwant=$want")
  }

  test("llm_edit_distance: pairs are exactly the near-dup candidates; lev is a metric sample") {
    import TestSpark.{spark => s, Sf}
    val texts = graft.core.Tables.load(s, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.llm.Dedup.editDistance(s, Sf).collect()
    val nearPairs = graft.llm.Dedup
      .nearDedupPairs(s, graft.core.Tables.load(s, Sf, "documents"))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == nearPairs,
      "verify stage must cover exactly the candidate pairs")
    got.foreach { r =>
      val (ta, tb) = (texts(r.getLong(0)), texts(r.getLong(1)))
      val lev = r.getLong(2)
      val sim = r.getDouble(3)
      assert((lev == 0L) == (ta == tb), "lev=0 iff texts identical")
      // metric bounds: |len diff| ≤ lev ≤ max len; sim ∈ [0,1]
      assert(lev >= math.abs(ta.length - tb.length).toLong)
      assert(lev <= math.max(ta.length, tb.length).toLong)
      assert(sim >= 0.0 && sim <= 1.0)
      assert(sim == 1.0 - lev.toDouble / math.max(ta.length, tb.length).toDouble)
    }
  }

  test("llm_knn_join: audit invariants hold; every vector gets exactly k descending-scored edges") {
    val audit = llm.Similarity.knnJoin(TestSpark.spark, TestSpark.Sf).head()
    assert(audit.getAs[Boolean]("edges_complete"), "some vector found < k neighbours")
    assert(audit.getAs[Boolean]("recall_ge_bound"), "IVF knn recall fell below the pinned bound")
    assert(audit.getAs[Boolean]("scored_frac_le_bound"), "candidate pruning did not prune")
    val edges = llm.Similarity.knnJoinEdges(TestSpark.spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val n = audit.getAs[Long]("n_vectors")
    val byQ = edges.groupBy(_._1)
    assert(byQ.size.toLong == n)
    byQ.values.foreach { es =>
      assert(es.length == 3)
      val sorted = es.sortBy(_._4)
      // rn order must be score-descending (vec_id tiebreak)
      assert(sorted.sliding(2).forall { case Array(a, b) => a._3 >= b._3 })
      assert(es.map(_._2).distinct.length == 3, "duplicate neighbour")
      assert(!es.exists(e => e._2 == e._1), "self-edge")
    }
  }

  test("llm_knn_join: audit row unchanged; observed counts equal the standalone counts") {
    import llm.Similarity.{KnnK, KnnSliceN}
    for (sf <- Seq(Sf, s"${new java.io.File(Sf).getParent}/sf0.01")) {
      val (audit, nCand, nEdges) = llm.Similarity.knnJoinAudited(spark, sf)
      val n = core.Tables.load(spark, sf, "embeddings").count()
      assert(nCand == llm.Similarity.knnJoinCandidates(spark, sf).count(),
        s"$sf: observed candidate count differs from the candidate join's count")
      assert(nEdges == llm.Similarity.knnJoinEdges(spark, sf).count(),
        s"$sf: observed edge count differs from the edge frame's count")
      // the row the oracle replays: exact counts plus three pinned TRUEs
      val expected = Seq(n, KnnK.toLong, math.min(KnnSliceN.toLong, n) * KnnK,
        true, true, true)
      assert(audit.collect().map(_.toSeq).toSeq == Seq(expected), sf)
    }
  }

  test("indexed cells: the explicit read schema equals the schema Spark infers") {
    val n = core.Tables.load(spark, Sf, "embeddings").count()
    for (k <- Seq(llm.Similarity.IvfK, llm.Similarity.knnKFor(n)).distinct) {
      val inferred = spark.read
        .parquet(s"${llm.Similarity.ensureIvfIndex(spark, Sf, k)}/cells").schema
      assert(llm.Similarity.IndexedCellsSchema == inferred,
        s"k=$k: the index build writes ${inferred.simpleString}")
    }
  }

  test("knnKFor: tracks sqrt(n) as powers of two; ceiling lifted to 4096") {
    assert(llm.Similarity.knnKFor(500L) == 32)
    assert(llm.Similarity.knnKFor(200000L) == 512)
    assert(llm.Similarity.knnKFor(2000000L) == 2048,
      "2M vectors must clear the old 1024 driver-training cap")
    assert(llm.Similarity.knnKFor(8000000L) == 4096)
    assert(llm.Similarity.knnKFor(1L << 40) == llm.Similarity.KnnKCeiling)
  }

  test("distributed IVF trainer: bit-deterministic, unit centroids, Lloyd improves on init") {
    import TestSpark.{spark => s, Sf}
    val e = core.Tables.load(s, Sf, "embeddings")
    val k = 64
    val a = llm.Similarity.ivfCentroidsDistributed(e, k, 3)
    val b = llm.Similarity.ivfCentroidsDistributed(e, k, 3)
    assert(a.length == k)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "two identical training runs must produce bit-identical centroids")
    a.foreach { c =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-9, s"centroid norm $nrm != 1")
    }
    // Lloyd must not worsen the assignment objective vs its own init
    // (exact in real arithmetic; 1e-6 absorbs the 2^-24 fixed-point nudge)
    val init = llm.Similarity.ivfCentroidsDistributed(e, k, 0)
    val corpus = e.orderBy(col("vec_id")).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def objective(cents: Array[Array[Double]]): Double =
      corpus.map(v => cents.map(c => c.zip(v).map { case (x, y) => x * y }.sum).max).sum / corpus.length
    assert(objective(a) >= objective(init) - 1e-6,
      "3 Lloyd rounds must not worsen the spherical k-means objective")
  }

  test("distributed-path IVF index (k past the driver ceiling): builds once, serves candidates") {
    import TestSpark.{spark => s, Sf}
    val k = llm.Similarity.IvfDriverTrainK * 2 // forces the distributed trainer
    llm.Similarity.ensureIvfIndex(s, Sf, k)
    val before = llm.Similarity.ivfTrainCount.get()
    llm.Similarity.clearIvfMemo()
    val cand = llm.Similarity.knnJoinCandidatesAt(s, Sf, llm.Similarity.KnnProbes, k)
    assert(cand.count() > 0, "distributed-trained index must serve candidates")
    assert(llm.Similarity.ivfTrainCount.get() == before,
      "a persisted distributed-trained index must never retrain")
  }

  test("hierarchical probe: completeness law (rCoarse = Kc <=> flat), routing recall, determinism") {
    import TestSpark.{spark => s, Sf}
    // force the two-level path at small K (the quadratic-control
    // convention): 64 fine cells on the test corpus, 8-cell router
    val cents = s.read
      .parquet(s"${llm.Similarity.ensureIvfIndex(s, Sf, 64)}/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    assert(cents.length == 64)
    val e = core.Tables.load(s, Sf, "embeddings")
    def probes(u: org.apache.spark.sql.expressions.UserDefinedFunction) = e
      .select(col("vec_id"), u(col("embedding")).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val flat = probes(llm.Similarity.nearestCentroidsHier(cents, 12, 8))
    // completeness: routing through ALL coarse cells must equal the
    // exact flat probe on every vector — the law that pins the two
    // implementations to the same geometry
    val exact = probes({
      // private flat probe, reconstructed through the hier path at
      // rCoarse = Kc (scores every fine centroid by construction)
      llm.Similarity.nearestCentroidsHier(cents, 12, Int.MaxValue)
    })
    val viaSelector = probes(llm.Similarity.probeCells(cents, 12))
    assert(viaSelector == exact,
      "below HierProbeK the selector must be the exact flat probe")
    // routing recall at the shipped fraction (rCoarse = Kc/4 = 2 of 8):
    // mean overlap with the exact top-12 cells — pinned loosely; the
    // knob is rCoarse and the law is monotone improvement to 1.0
    val shipped = probes(llm.Similarity.nearestCentroidsHier(cents, 12, 2))
    def recall(a: Map[Long, Seq[Int]], b: Map[Long, Seq[Int]]): Double =
      a.keys.toSeq.map(k => (a(k).toSet & b(k).toSet).size.toDouble / b(k).size)
        .sum / a.size
    val r2 = recall(shipped, exact)
    val r4 = recall(flat /* rCoarse=8=Kc: must BE exact */, exact)
    assert(r4 == 1.0, "rCoarse = Kc must reproduce the flat probe exactly")
    // this synthetic near-uniform corpus is the WORST routing regime
    // (coarse cells barely separate); measured 0.48 vs the 0.25 a
    // random 2-of-8 coarse pick would give — pin above random-plus-
    // margin, and pin the knob's direction: more coarse cells probed
    // must monotonically recover recall toward the 1.0 completeness
    // law (clustered real embeddings route far better)
    assert(r2 >= 0.4, f"routing recall at Kc/4 fell to $r2%.2f on the test corpus")
    val r3 = recall(probes(llm.Similarity.nearestCentroidsHier(cents, 12, 4)), exact)
    assert(r3 > r2 && r3 <= 1.0,
      f"rCoarse knob must monotonically recover recall: Kc/4=$r2%.2f Kc/2=$r3%.2f")
    // determinism: same UDF twice, same routing
    val again = probes(llm.Similarity.nearestCentroidsHier(cents, 12, 2))
    assert(again == shipped, "hierarchical routing must be deterministic")
  }

  test("llm_mmr: first pick is max relevance, scores non-increasing, picks distinct, deterministic") {
    val res = llm.Similarity.mmr(TestSpark.spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(res.length == 5)
    assert(res.map(_._2).distinct.length == 5, "duplicate selection")
    // step 1 has an empty selected set: its objective is pure relevance,
    // so nothing can out-rank the globally most relevant candidate
    assert(res.head._3 == res.map(_._3).max, "rank 1 must be argmax relevance")
    assert(math.abs(res.head._4 - res.head._3 * 0.7) < 1e-6,
      "rank-1 mmr must be 0.7*relevance (no diversity penalty yet)")
    // the winner at step k was available at step k-1 with a no-larger
    // penalty, so greedy objectives never increase
    res.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 >= b._4 - 1e-9, s"mmr objective increased: $a -> $b")
    }
    val again = llm.Similarity.mmr(TestSpark.spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(again.toSeq == res.toSeq, "MMR must be deterministic")
  }

  test("lsh oracle slice: LSH == brute within the slice; boundary pairs cut by the FILTER, not recall") {
    // r13 advisor: cosineDedupLsh post-filters the full-corpus LSH
    // result to the oracle slice while the DuckDB oracle brutes the
    // slice — parity therefore additionally rests on LSH recall being
    // exact for every >=0.9 pair whose endpoints land in the slice.
    // This law pins that on a fixture BIGGER than the slice (the
    // shipped sf0.001 corpus is smaller, so the slice boundary was
    // exercised nowhere below the gated big rungs): 6000 synthetic
    // vectors with planted near-dup pairs inside the slice, straddling
    // its boundary, and fully outside it.
    import TestSpark.spark
    val spk = spark
    import spk.implicits._
    val dims = 64
    val n = 6000
    def vec(seed: Long): Array[Float] = {
      var x = seed * 0x9e3779b97f4a7c15L + 1
      Array.fill(dims) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        ((x % 1000).toDouble / 1000.0).toFloat
      }
    }
    // tiny relative perturbation => cos ~0.9999, far from both the 0.9
    // threshold and any rounding edge; deterministic SRP planes make
    // recall on it reproducible, not probabilistic
    def near(seed: Long): Array[Float] =
      vec(seed).zipWithIndex.map { case (v, i) =>
        (v.toDouble * (1.0 + 0.002 * math.sin(i.toDouble))).toFloat }
    val rows = (0 until n).map { i =>
      val e = i match {
        case 20   => near(10)   // in-slice pair (10, 20)
        case 5500 => near(30)   // straddles: 30 in slice, 5500 out
        case 5700 => near(5600) // fully outside the slice
        case _    => vec(i)
      }
      (i.toLong, e, 0)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_slice").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    val out = llm.Similarity.cosineDedupLsh(spark, tmp)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute ground truth in plain Scala over the slice members only
    // (slice = id < BruteSliceRows or id >= PlantedIdFloor), derived
    // families rebuilt with the identical double-then-float-cast math
    val base = rows.map { case (id, e, _) => id -> e }
    val planted = base ++
      base.filter(_._1 < 25).map { case (id, e) =>
        (id + 10000000L) -> e.map(x => (x.toDouble * 2.0).toFloat) } ++
      base.filter(_._1 < 25).map { case (id, e) =>
        (id + 20000000L) -> e.map(x => (x.toDouble + 0.05 * math.abs(x.toDouble)).toFloat) }
    val slice = planted.filter { case (id, _) =>
      id < llm.Similarity.BruteSliceRows.toLong ||
        id >= llm.Similarity.PlantedIdFloor }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / math.sqrt(na * nb)
    }
    val brute = (for {
      (ia, ea) <- slice; (ib, eb) <- slice
      if ia < ib && cos(ea, eb) >= 0.9
    } yield (ia, ib)).toSet
    assert(out == brute,
      s"slice recall broken: lsh-only=${(out -- brute).take(5)} " +
        s"brute-only=${(brute -- out).take(5)}")
    assert(out.contains((10L, 20L)), "in-slice planted pair lost")
    assert(!out.contains((30L, 5500L)) && !out.contains((5600L, 5700L)),
      "pair with an out-of-slice endpoint must be filtered")

    // the boundary pairs were dropped by the slice FILTER, not by an
    // LSH recall miss: the unsliced full-corpus pipeline finds both
    val full = llm.Similarity.cosineDedupLshImpl(
      llm.Similarity.plantedEmbeddings(
        core.Tables.load(spark, tmp, "embeddings")),
      llm.Similarity.srpBitsFor(planted.size.toLong), 8, 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((30L, 5500L)) && full.contains((5600L, 5700L)),
      "full-corpus LSH must find the boundary pairs the slice excludes")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }
}
