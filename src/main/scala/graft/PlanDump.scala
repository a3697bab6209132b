package graft

import java.nio.file.{Files, Paths}


/** Dumps `explain`-style physical plans of the headline queries to
  * PLANS.md in the working directory — the reviewable evidence for the plan-shape claims made in
  * module scaladoc and pinned by PlanSpec (pushdown, broadcast vs SMJ,
  * bucketed no-exchange join, TakeOrderedAndProject top-k).
  *
  * Run: `sbt "runMain graft.PlanDump"` or `scripts/run_main.sh
  * graft.PlanDump` (both start in the repo root, so either regenerates
  * the repo's PLANS.md; run from a copy, it writes the copy's).
  */
object PlanDump {

  private val Headline = Seq(
    "agg_hash" -> "partial+final hash aggregate, filter pushed to scan",
    "scan_parquet" -> "filter pushdown + column pruning at the parquet scan",
    "join_broadcast" -> "broadcast hash join: the fact side never shuffles",
    "join_sortmerge" -> "pinned sort-merge join for fact x fact",
    "join_bucketed" -> "co-located SMJ over bucketed tables: zero exchange, zero sort",
    "join_salted" -> "salted skew join: hot keys split 8-way",
    "join_dpp" -> "dynamic partition pruning: fact scan pruned by a runtime subquery",
    "topk_global" -> "TakeOrderedAndProject: per-partition heap, k-row merge",
    "join_range" -> "band join keeps its equi component (no nested loop)",
    "llm_simsearch" -> "probe broadcast + windowed per-probe top-k",
    "llm_near_dedup" -> "MinHash-LSH band buckets (O(n) shuffle, no cross product)",
    "llm_contamination" -> "benchmark shingles broadcast to a left-semi probe (corpus never shuffled)",
    "llm_simsearch_ivf" -> "IVF cells: candidate equi-join on cluster id, probes broadcast",
    "llm_pii_redact" -> "single-pass columnar regex (no mid-plan exchange)",
    "etl_cdc_apply" -> "one hash exchange on the key, window last-wins",
    "agg_sketch_merge" -> "two-level sketch-then-merge HLL aggregation",
    "join_shuffle_hash" -> "shuffled hash join: build-side hashed per partition, no sort",
    "agg_bitmap_distinct" -> "exact distinct via mergeable bucket bitmaps (two-level agg)",
    "llm_packing" -> "distributed prefix sum: range partition + local windows + broadcast bases",
    "agg_hist" -> "histogram: one map-side-combined hash aggregate over a 2-col scan",
    "llm_heuristic_filter" -> "single-pass columnar rule evaluation (no mid-plan exchange)",
    "join_interval_bin" -> "interval overlap via day-cell equi join + residual (no nested loop)",
    "sql_tpch_q16" -> "NOT IN on nullable key: null-aware anti hash join (trailing `true` on the anti BHJ), no nested loop",
    "sql_lateral" -> "correlated LATERAL decorrelated: hash join + Partial/Final WindowGroupLimit (map-side top-N)",
    "join_existence" -> "disjunctive IN-subquery: ExistenceJoin appends a bool, no row explosion",
    "llm_containment" -> "prefix-filter candidates (df-ranked windowed prefix) + counting equi-joins, no self cross product",
    "win_funnel" -> "per-stage map-side-combined min aggs + user-keyed joins, shrinking probe side",
    "sql_tpch_q21" -> "double-correlated EXISTS/NOT-EXISTS: one LeftSemi + one LeftAnti hash join, no per-row subquery",
    "sample_stratified" -> "exact stratified sample: map-side WindowGroupLimit bounds memory at n rows/stratum",
    "llm_bpe_pairs" -> "BPE pair counts: HOF explode, map-side-combined count, TakeOrderedAndProject top-50",
    "llm_shuffle" -> "reproducible shuffle: range partition by hash key + local windows + broadcast bases, no global window",
    "win_streak" -> "gaps-and-islands: one user-keyed window + groupBy, no self-join",
    "llm_winnow" -> "winnowing: HOF grams, doc-keyed w-frame window, distinct frame-mins",
    "llm_bm25" -> "BM25: postings join, broadcast 3-row query, TakeOrdered top-20",
    "sql_tpch_q2" -> "correlated scalar agg-over-join decorrelated: one grouped MIN joined back, no per-row subquery",
    "agg_heavy_hitters" -> "Misra-Gries: one 64-entry mergeable map over the exchange + probe-filtered exact twin",
    "sample_bottomk" -> "bottom-k sample: TakeOrderedAndProject on the seeded hash, zero exchange",
    "sql_tpch_q19" -> "disjunctive join predicate: common equi conjunct pulled out into one hash join, OR-residual post-join",
    "sql_tpch_q13" -> "ON-residual pushed into the scan under a LeftOuter join + two-stage aggregate cascade",
    "join_nullsafe" -> "null-safe <=> key stays a hashed equi-join (broadcast) OVER per-side aggregates: count factorizes below the join, pair rows never materialize",
    "llm_curation_e2e" -> "curation cascade: columnar gate, one dedup hash exchange, one group exchange",
    "llm_semdedup" -> "semdedup: adaptive sign-plane cell id (broadcast 1-row corpus count), pair join equi-keyed on cid",
    "llm_simsearch_pq" -> "PQ: ADC pass scans ONLY <vec_id,codes> (32x I/O cut), map-side WindowGroupLimit shortlist, broadcast exact rerank",
    "ts_interpolate" -> "dual ignoreNulls frames (prev/next neighbor) share ONE Window node: one user_id shuffle, one sort",
    "sql_pipe" -> "|> stages compile to the ANSI twin's plan: WHERE pushed to the scan, AGGREGATE combines map-side",
    "sample_weighted" -> "weighted sample: row-local md5 replica-min (no explode, no regroup) + TakeOrderedAndProject heap",
    "ts_downsample" -> "OHLC candles: pure mergeable aggregates (min_by/max_by over a total-order key), map-side combine, no Window",
    "win_regression" -> "rolling OLS: five integer sufficient-statistic sums share ONE Window node over one user_id sort",
    "graph_degree" -> "degree histogram: two map-side-combinable hash aggs over the edge list",
    "win_ewma" -> "truncated EWMA: 16 integer-weight lags share ONE Window node over one user_id sort",
    "agg_listagg" -> "bounded listagg: map-side WindowGroupLimit top-5 heap BEFORE the sorted-collect aggregation",
    "llm_classifier_score" -> "hashed-linear inference: weights ride the codegen'd expression, explode + two-level doc agg, no join",
    "etl_retention_purge" -> "GDPR cascade: tombstones broadcast into semi/anti joins; lineitem leg keyed on l_orderkey",
    "fn_regex" -> "regex suite: five codegen'd per-row expressions inside one scan stage, zero shuffle",
    "join_bloom" -> "runtime bloom filter: might_contain(bloom, xxhash64(key)) injected into the fact scan",
    "win_median" -> "rolling exact median: one Window node, per-frame selection over integer cents",
    "etl_survivorship" -> "golden-record merge: ONE full-outer join, survivorship coalesce/CASE rides its project",
    "etl_dq_profile_approx" -> "sketch profile: per-column HLLs in ONE partial-merge aggregate (no Expand); exact twins ride separate column-pruned single-distinct aggs",
    "llm_dedup_incremental" -> "incremental dedup: batch probes the STORED corpus band index on (band,hash,gx) equi keys — block-capped at build time; candidate-only exact verify, corpus never re-shingled",
    "agg_corr" -> "correlation matrix: all 15 exact-decimal sufficient statistics ride ONE map-side-combined aggregate over one scan",
    "win_drawdown" -> "max drawdown: running-sum and running-max frames share ONE Window node; per-user max is a map-side agg on the same partitioning",
    "graph_jaccard" -> "link prediction: block-capped wedge join on (src,_gx,_gy) — a hub's deg^2 pairs spread over (deg/cap)^2 groups — + anti join vs the edge set, Jaccard row-local",
    "scan_skipping" -> "stats-pruned scan: the date-band aggregate reads ONLY the manifest-admitted files (pruned FileScan row-group)",
    "llm_knn_join" -> "k-NN join: adaptive-K cid equi-join against the cid-partitioned index + per-query top-k window",
    "llm_image_dedup" -> "perceptual-hash image dedup: partition-local dHash (no shuffle), capped chained-band-triple self-join candidates, bit_count Hamming verify — never all-pairs",
    "llm_video_dedup" -> "video near-dup: partition-local per-frame gradient hash (no shuffle), capped (frame_idx,band,value) self-join, per-frame Hamming verify, coverage agg per doc pair")

  private val Sf = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val spark = core.Sessions.build("4",
      Map("spark.sql.session.timeZone" -> "UTC"))
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"` on sf0.001. ")
    sb.append("These are the plan shapes PlanSpec pins; regenerate after ")
    sb.append("any operator change.\n")
    Headline.foreach { case (key, why) =>
      // sample_bottomk checkpoints its ranked subplan (reused twice),
      // which would hide the TakeOrdered shape — dump the subplan
      val df = key match {
        case "sample_bottomk" => ops.Relational.bottomKRanked(
          core.Tables.load(spark, Sf, "orders"), 100)
        // the keyed IVF and PQ queries are bound-summary rows; the
        // search plan worth documenting is the top-k pipeline itself
        case "llm_simsearch_ivf" =>
          llm.Similarity.simsearchIvfTopK(spark, Sf)
        case "llm_simsearch_pq" =>
          llm.Similarity.simsearchPqTopK(spark, Sf)
        // the keyed knn query is the audit-summary row; the graph
        // pipeline is the plan worth documenting
        case "llm_knn_join" =>
          llm.Similarity.knnJoinEdges(spark, Sf)
        case _ => SparkEntry.queries(key)(spark, Sf)
      }
      sb.append(s"\n## $key\n\n_${why}_\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(4000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Headline.size} plans)")
    spark.stop()
  }
}
