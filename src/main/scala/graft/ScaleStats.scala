package graft
import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Candidate-set cardinalities of the dedup family at a given scale
  * factor: `runMain graft.ScaleStats <sfDir> [<sfDir> ...]`.
  *
  * The dedup operators' 100 TB claim is that candidate GENERATION is
  * bounded (banded / prefix-filtered / bucket-blocked), so the verify
  * stage — the only quadratic-looking arithmetic — touches a set that
  * grows ~linearly with the corpus, not with its square. Timings alone
  * can't prove that (a small quadratic term hides at one scale factor);
  * these counts, recorded per SF in BASELINE.md, are the direct
  * evidence. All counts reuse the exact stage definitions of the keyed
  * queries ([[llm.Dedup.minhashBands]], [[llm.Dedup.prefixCandidates]],
  * [[llm.Similarity.cosineBandCandidates]]) — nothing re-derived.
  *
  * Prints one JSON line per input dir. */
object ScaleStats {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleStats <sfDir> [<sfDir> ...]")
    val spark = core.Sessions.build()

    for (dir <- args) {
      val d = core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val nDocs = d.count()

      // near-dedup (MinHash-LSH): banded candidates vs all-pairs
      val sh = llm.Dedup.shinglesOf(spark, d)
      val nearCand = llm.Dedup.bandPairs(llm.Dedup.minhashBands(sh)).count()

      // incremental dedup: candidates a ~10 % batch raises against the
      // stored corpus band index + itself — the work that must track
      // the BATCH, not the corpus (the full-corpus twin is nearCand).
      // Same candidate definition the keyed query verifies.
      val incrCand = llm.Dedup.incrementalCandidates(
        llm.Dedup.minhashBands(
          llm.Dedup.shinglesOf(spark, d.filter(llm.Dedup.isIncrementalBatch))),
        llm.Dedup.corpusBandIndexFixture(spark, dir)).count()

      // containment (PPJoin prefix filter) over the keyed corpus:
      // distinct prefix candidates vs the df-blocked all-pairs the
      // filter replaces (pairs sharing ≥1 shingle)
      val cc = llm.Dedup.containmentCorpus(spark, dir)
      // same 8-byte shingle fingerprint the keyed query carries (r8)
      val csh = llm.Dedup.fingerprinted(llm.Dedup.shinglesOf(spark, cc))
        .lineageCut()
      // plain-prefix count keeps the r9 series comparable; the
      // positional count is what the r10 keyed query actually verifies
      // (PPJoin positional filter — the verify-exchange cut)
      val contCand = llm.Dedup.prefixCandidates(csh, 9, 10, positional = false)
        .distinct().count()
      val contCandPos = llm.Dedup.prefixCandidates(csh, 9, 10)
        .distinct().count()
      // the df-blocked BASELINE the prefix filter replaces is itself
      // quadratic-ish (pairs sharing ≥1 shingle) — the point of
      // measuring it. Counting it stops being affordable right around
      // where it stops being informative (the ratio is established at
      // sf0.01–sf1); above 100k docs report -1 instead of running a
      // ~1G-pair join for a denominator nobody needs (r8, sf10 rung).
      val shareBlocked =
        if (nDocs > 100000L) -1L
        else csh.select(col("doc_id").as("a"), col("shingle"))
          .join(csh.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b")).distinct().count()

      // embedding dedup (SRP-LSH): banded candidates vs n·(n−1)/2 —
      // at FIXED 8-bit depth (the quadratic-in-disguise regime: a
      // constant fraction of all pairs collide by chance) and at the
      // keyed query's adaptive log₂(n) depth (occupancy-constant →
      // candidates track true near-dups, linear). Same definitions
      // the keyed query runs.
      val e = llm.Similarity.plantedEmbeddings(
        core.Tables.load(spark, dir, "embeddings"))
      val nVec = e.count()
      val adaptiveBits = llm.Similarity.srpBitsFor(nVec)
      // the fixed-8-bit count is the QUADRATIC CONTROL (bands·n²/2⁹ by
      // chance collisions — the regime the adaptive depth fixed); its
      // slope is established at sf0.01–sf1, and above 50k vectors the
      // control itself is a ~0.5G-pair join. Report -1 there (r8).
      val cosCandFixed =
        if (nVec > 50000L) -1L
        else llm.Similarity.cosineBandCandidates(
          e, llm.Similarity.DedupBandBits, llm.Similarity.DedupBands).count()
      val cosCandAdaptive =
        if (adaptiveBits == llm.Similarity.DedupBandBits && cosCandFixed >= 0)
          cosCandFixed
        else llm.Similarity.cosineBandCandidates(
          e, adaptiveBits, llm.Similarity.DedupBands).count()

      // semdedup: within-cell pairs Σ c·(c−1)/2 under the keyed
      // query's OWN cell definition (semCidSql — the string both
      // engines run), at the legacy fixed 4-plane depth (nExpr pinned
      // inside the floor regime) vs the adaptive ladder at this SF's
      // true corpus count. The pair count IS the verify-stage work.
      def semPairs(nExpr: String): Long = e
        .select(expr(llm.Similarity.semCidSql(
          i => s"element_at(embedding, $i)", nExpr)).as("cid"))
        .groupBy(col("cid")).count()
        .agg(sum(expr("count * (count - 1) / 2")).cast("long")).first().getLong(0)
      val semFixed4 = semPairs("50")
      val semAdaptive = semPairs(nVec.toString)

      // k-NN join (IVF cid equi-join): candidates at the FIXED K=16
      // control ((P/K)·n² — the quadratic regime the adaptive cell
      // count fixes; -1 above 50k vectors, same rule as the other
      // controls) vs the keyed query's adaptive K = knnKFor(n) ≈ √n
      // (P·n^{3/2}). Same candidate definitions the keyed query runs.
      val knnFixed16 =
        if (nVec > 50000L) -1L
        else llm.Similarity.knnJoinCandidatesAt(spark, dir,
          llm.Similarity.KnnProbes, 16).count()
      val knnAdaptiveK = llm.Similarity.knnKFor(nVec)
      // the cell-size spelling (≡ the join count, pinned in LlmSpec)
      // keeps this measurable at rungs where the join itself is the
      // ~10G-row workload being sized
      val knnAdaptive = llm.Similarity.knnCandidateCount(spark, dir, knnAdaptiveK)
      // cell-occupancy skew audit (r10): the P·n^{3/2} candidate math
      // assumes |cell| ≈ n/K — measure max/mean/p99 at every rung so a
      // clustered corpus (hot cells = mini all-pairs per probe) shows
      // up as a number, not an incident
      val (knnCells, knnCellMax, knnCellMean, knnCellP99) =
        llm.Similarity.ivfCellOccupancy(spark, dir, knnAdaptiveK)

      // image/video dedup band candidates (r12 verdict #5): both
      // modalities were re-banded after the sf10 gate caught their
      // narrow alphabets going quadratic (7×9→3×21→chained triples image,
      // 3×10→3×20→chained triples video) — these series institutionalize that check
      // as a per-decade measurement. Counts reuse the keyed queries'
      // OWN candidate stages ([[llm.Multimodal.imageCandidatesFrom]] /
      // [[llm.Multimodal.videoCandidatesFrom]]), nothing re-derived.
      // verified counts ride along: candidates/verified staying O(1)
      // is the proof the bands emit true near-dups — on the COMPOSED
      // rungs, verified pairs themselves grow super-10× per composition
      // level (ScaleUp's shard replicas are genuine near-duplicate
      // clusters whose size multiplies per level), so the candidate
      // slope must be read against the verified slope, not against 10×.
      val imgHashes = llm.Multimodal.imageHashes(spark, dir)
      val imgDocs = imgHashes.count()
      val imgCandDf = llm.Multimodal.imageCandidatesFrom(imgHashes).lineageCut()
      val imgCand = imgCandDf.count()
      val imgTrue = llm.Multimodal.imageVerifiedFrom(imgHashes, imgCandDf).count()
      val vidHashes = llm.Multimodal.videoFrameHashes(spark, dir)
      val vidFrames = vidHashes.count()
      val vidCandDf = llm.Multimodal.videoCandidatesFrom(vidHashes).lineageCut()
      val vidCand = vidCandDf.count()
      val vidTrue = llm.Multimodal.videoMatchedFrom(vidHashes, vidCandDf)
        .agg(coalesce(sum(col("matched_frames")), lit(0L))).head().getLong(0)

      // link-prediction wedge join (r9 cap): pair volume Σdeg²/2 — the
      // quantity the block cap spreads, NOT shrinks (the decomposition
      // is exact) — plus the degree profile that says where the cap
      // binds (nodes past WedgeBlockCap get multi-block adjacency)
      val (_, wedgeEdges) = ops.Graph.coOrderEdges(spark, dir)
      val wedgeCand = ops.Graph.wedgePairs(wedgeEdges).count()
      val degProfile = wedgeEdges.groupBy(col("src")).count()
        .agg(max(col("count")),
          count(when(col("count") > ops.Graph.WedgeBlockCap, lit(1))),
          count(lit(1))).head()
      val (wedgeMaxDeg, wedgeHotNodes, wedgeNodes) =
        (degProfile.getLong(0), degProfile.getLong(1), degProfile.getLong(2))

      println(
        s"""{"dir":"$dir","n_docs":$nDocs,""" +
          s""""neardup_band_candidates":$nearCand,""" +
          s""""incremental_candidates":$incrCand,""" +
          s""""containment_prefix_candidates":$contCand,""" +
          s""""containment_positional_candidates":$contCandPos,""" +
          s""""containment_sharing_pairs":$shareBlocked,""" +
          s""""n_vectors":$nVec,"all_pairs":${nVec * (nVec - 1) / 2},""" +
          s""""cosine_band_candidates_fixed8":$cosCandFixed,""" +
          s""""srp_bits_adaptive":$adaptiveBits,""" +
          s""""cosine_band_candidates_adaptive":$cosCandAdaptive,""" +
          s""""semdedup_cell_pairs_fixed4":$semFixed4,""" +
          s""""semdedup_cell_pairs_adaptive":$semAdaptive,""" +
          s""""knn_candidates_fixed16":$knnFixed16,""" +
          s""""knn_k_adaptive":$knnAdaptiveK,""" +
          s""""knn_candidates_adaptive":$knnAdaptive,""" +
          s""""knn_cells":$knnCells,""" +
          s""""knn_cell_max":$knnCellMax,""" +
          f""""knn_cell_mean":$knnCellMean%.1f,""" +
          s""""knn_cell_p99":$knnCellP99,""" +
          s""""image_docs":$imgDocs,""" +
          s""""image_band_candidates":$imgCand,""" +
          s""""image_verified_pairs":$imgTrue,""" +
          s""""video_frames":$vidFrames,""" +
          s""""video_band_candidates":$vidCand,""" +
          s""""video_matched_frames":$vidTrue,""" +
          s""""jaccard_wedge_pairs":$wedgeCand,""" +
          s""""jaccard_nodes":$wedgeNodes,""" +
          s""""jaccard_max_degree":$wedgeMaxDeg,""" +
          s""""jaccard_hot_nodes_past_cap":$wedgeHotNodes}""")
    }
    spark.stop()
  }
}
