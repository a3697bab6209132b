package graft

import org.apache.spark.sql.functions.{col, max, min}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4): the properties that make
  * these operators survive a 100 TB scale-up are plan shapes, not
  * results — so they're pinned here. If Catalyst ever stops pushing a
  * filter or broadcasting a dim, this fails before a cluster burns.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}

  private def plan(key: String): String = {
    val df = SparkEntry.queries(key)(spark, Sf)
    df.queryExecution.executedPlan.toString
  }

  test("scan_parquet pushes the filter into the parquet scan") {
    val p = plan("scan_parquet")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]")
      || p.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(l_quantity.*"))
  }

  test("scan_parquet prunes columns to the 3 selected") {
    val p = plan("scan_parquet")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"))
  }

  test("join_broadcast plans a BroadcastHashJoin (fact never shuffles)") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sortmerge plans a SortMergeJoin (merge hint honored)") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("join_shuffle_hash plans a ShuffledHashJoin (hint honored, no sort)") {
    val p = plan("join_shuffle_hash")
    assert(p.contains("ShuffledHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("join_interval_bin: cell equi-join, never a nested-loop cross product") {
    val p = plan("join_interval_bin")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binning must give the overlap join an equi component")
  }

  test("topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("join_semi/anti plan semi/anti joins, not join+distinct") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
  }

  test("agg_hash runs as partial+final hash aggregate (map-side combine)") {
    val p = plan("agg_hash")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum"),
      "aggregation must split partial/final so the shuffle carries one row per group")
  }

  test("join_nullsafe: <=> stays a HASHED equi-join key, not a nested-loop residual") {
    val p = plan("join_nullsafe")
    assert(p.contains("BroadcastHashJoin"), s"expected hash join on <=>:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"null-safe equality degraded to a non-equi join:\n$p")
  }

  test("join_nullsafe: COUNT factorizes BELOW the join — pairs are never materialized") {
    // The sf1 bench caught the naive spelling (join-then-count) growing
    // 16x for 10x data: it materializes |bucket_l|x|bucket_r| rows just
    // to count them. The fixed shape pre-aggregates each side, so in
    // tree print order the join is the TOPMOST of the three (parents
    // print first): a respelling with any aggregate above the join
    // flips the order and fails here.
    val p = plan("join_nullsafe")
    val join = p.indexOf("BroadcastHashJoin")
    val agg = p.indexOf("HashAggregate")
    assert(join >= 0 && agg >= 0, s"expected hash join over hash aggregates:\n$p")
    assert(join < agg,
      s"aggregate sits ABOVE the <=> join — pair rows are being materialized:\n$p")
  }

  test("llm_frame_sample: the frame explode is shuffle-free (no hash exchange)") {
    // the only exchange allowed is the final presentation sort's range
    // partitioning (the `ordered` wrapper); the decode/explode path
    // itself must inherit the scan's partitioning
    val p = plan("llm_frame_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      s"frame sampling shuffled mid-plan:\n$p")
    assert(p.contains("MapPartitions"), s"expected a mapPartitions pass:\n$p")
  }

  test("llm_curation_e2e: gate fuses into the scan filter; exactly two hash exchanges") {
    // the cascade's scale claim: quality gate is a pushed columnar
    // filter (no materialization between stages), and only the content
    // dedup + final 2-column group shuffle
    val p = plan("llm_curation_e2e")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nHash === 2, s"expected dedup + group shuffles only, got $nHash:\n$p")
    assert(p.contains("Window [min"), s"content-hash dedup window missing:\n$p")
    // and the fusion claim itself: the gate's word-count conjunct sits
    // in a Filter directly over the parquet scan, not post-shuffle
    assert(p.matches("(?s).*Filter .*size\\(split\\(text.*FileScan parquet.*"),
      s"quality gate not fused into the scan stage:\n$p")
  }

  test("join_range keeps the equi component (no nested-loop join)") {
    val p = plan("join_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a cross product:\n$p")
  }

  test("filter_pred pushes all pushable predicates to the scan") {
    val p = plan("filter_pred")
    // plan strings truncate the PushedFilters list; the DataFilters echo
    // is complete enough to prove the LIKE reached the scan.
    assert(p.contains("PushedFilters: [IsNotNull(p_name)"))
    assert(p.contains("StringContains(p_name, wid") || p.contains("Contains(p_name#"))
  }

  test("join_bucketed: co-located sort-merge join with no exchange on the key") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
      !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join must not shuffle on the join key:\n$p")
    assert(p.contains("Bucketed: true"), "scan must be bucket-aware")
  }

  test("join_dpp: fact scan carries a dynamic partition pruning filter") {
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruning"),
      s"partitioned fact scan should be dynamically pruned:\n$p")
  }

  test("llm_simsearch broadcasts the probe side") {
    assert(plan("llm_simsearch").contains("BroadcastHashJoin") ||
      plan("llm_simsearch").contains("BroadcastNestedLoopJoin"))
  }

  test("llm_contamination: benchmark set broadcast, corpus never shuffled for the probe") {
    val p = plan("llm_contamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"decontamination must stream the corpus past a broadcast benchmark set:\n$p")
  }

  test("join_aqe_skew: AQE rewrites the hot partition (skew=true) at runtime") {
    // Thresholds scaled to test data (the default 256 MB trigger is
    // sized for production shuffles); forceOptimizeSkewedJoin because
    // the downstream groupBy means the skew split introduces an extra
    // shuffle — the exact trade AQE declines by default and the right
    // one here, since re-shuffling the joined rows is cheaper than one
    // reducer holding 1/3 of the fact. This is the regime where static
    // shuffle.partitions LOSES at any value: more partitions shrink the
    // healthy ones, but the hot key still lands whole in one reducer.
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sf0.01, not the default sf0.001: the hot partition must exceed
      // both the byte threshold and factor×median to register as skewed
      val df = ops.ScaleJoins.joinAqeSkew(spark, "/root/testdata/sf0.01")
      // execute THIS instance: AQE finalizes the plan only on execution
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"final adaptive plan must mark the skewed join:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("llm_pii_redact and llm_token_count are single-pass columnar (no mid-plan shuffle)") {
    for (key <- Seq("llm_pii_redact", "llm_token_count")) {
      val p = plan(key)
      // the only exchange allowed is the presentation sort's range
      // partitioning; a hash exchange would mean an accidental shuffle
      assert(!p.contains("Exchange hashpartitioning"),
        s"$key should be embarrassingly parallel:\n$p")
    }
  }

  test("join_existence plans an ExistenceJoin (semi family; appends a bool, no row explosion)") {
    val df = SparkEntry.queries("join_existence")(spark, Sf)
    // the existence variant only shows by name in the logical plan; the
    // physical BroadcastHashJoin carries it as its join type
    assert(df.queryExecution.optimizedPlan.toString.contains("ExistenceJoin"))
    assert(plan("join_existence").contains("ExistenceJoin"))
  }

  test("sql_tpch_q16: NOT IN plans a null-aware anti hash join, never a nested loop") {
    val p = plan("sql_tpch_q16")
    // the trailing `true` on the anti BHJ is isNullAwareAntiJoin — the
    // fallback for null-poisoned NOT IN is a BroadcastNestedLoopJoin,
    // which would be a scale-killer on the 100 TB probe side
    assert(p.matches("(?s).*BroadcastHashJoin .*LeftAnti, BuildRight, true.*"),
      s"expected null-aware anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("sql_lateral decorrelates to a hash join + map-side WindowGroupLimit") {
    val p = plan("sql_lateral")
    // a non-decorrelated lateral would re-run the subquery per outer
    // row; the decorrelated form is one join, and the per-key LIMIT
    // runs as a PARTIAL WindowGroupLimit before the exchange (top-N
    // pushdown — each mapper keeps 2 rows per key, the shuffle never
    // carries the full orders table)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert(p.contains("WindowGroupLimit"))
    assert(p.matches("(?s).*WindowGroupLimit .*Partial.*"),
      s"per-key limit should run map-side before the exchange:\n$p")
  }

  test("sql_tpch_q21: double correlation decorrelates to one semi + one anti join") {
    val p = plan("sql_tpch_q21")
    // EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both hash equi-joins on
    // l_orderkey with the suppkey-inequality as residual condition; a
    // re-execute-per-row subquery or nested loop would be the
    // scale-killer on a 100 TB lineitem
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"expected an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("sql_tpch_q4: date-correlated EXISTS decorrelates to one semi join, no nested loop") {
    val p = plan("sql_tpch_q4")
    // the o_orderdate comparison rides the semi join as a residual
    // condition; a nested loop or per-row re-execution would be the
    // 100 TB failure mode
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("sql_tpch_q2: correlated scalar aggregate-over-join decorrelates to one aggregate + join") {
    val p = plan("sql_tpch_q2")
    // the min(cost)-per-part subquery must run ONCE as a grouped
    // aggregate joined back on the correlation key, not once per outer
    // row; count the HashAggregate pairs — the whole plan carries the
    // outer agg-free join chain plus exactly one partial+final pair
    // for the decorrelated MIN (plus nothing per-row), and no nested
    // loop anywhere
    assert(p.contains("HashAggregate"), s"expected a decorrelated aggregate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested loop in:\n$p")
  }

  test("sql_tpch_q19: common equi key pulled out of the disjunctive join predicate") {
    val p = plan("sql_tpch_q19")
    // the OR-of-conjuncts condition repeats p_partkey = l_partkey in
    // every disjunct; Catalyst must extract it as the hash join key and
    // keep the disjunction as a residual — a nested loop here is the
    // 100 TB outage shape
    assert(p.contains("HashJoin"), s"expected a hash equi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested loop in:\n$p")
  }

  test("sql_tpch_q13: ON-residual pushed through the outer join, which stays LeftOuter") {
    val p = plan("sql_tpch_q13")
    // the <> predicate lives in the LEFT OUTER join's ON clause; it
    // references only the null-producing side, so Catalyst pushes it
    // below the join into the orders scan — while the join itself must
    // stay LeftOuter (a WHERE spelling would have turned it inner and
    // dropped the zero-order customers)
    assert(p.contains("LeftOuter"), s"outer join lost:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderstatus[^\\]]*\\].*"),
      s"ON-residual not pushed into the orders scan:\n$p")
    // aggregate-of-aggregate: two partial/final pairs
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"agg cascade missing:\n$p")
  }

  test("sample_bottomk ranks via TakeOrderedAndProject (per-partition heap, no global sort)") {
    // the mergeable-sample property in plan form: k-row heap per
    // partition, heaps merged at the driver — a global Sort or an
    // Exchange of the full input would be the 100 TB failure mode
    val o = core.Tables.load(spark, Sf, "orders")
    val p = ops.Relational.bottomKRanked(o, 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
  }

  test("sample_stratified compiles to a map-side WindowGroupLimit (top-n heap, no full sort)") {
    val p = plan("sample_stratified")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("llm_bpe_pairs: global top-50 is TakeOrdered, never a global sort") {
    val p = plan("llm_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("etl_late_dim: both passes broadcast the dim — the fact side never shuffle-joins") {
    val p = plan("etl_late_dim")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle for a dim lookup:\n$p")
  }

  test("win_pareto: both windows ride one segment exchange (shared partitioning)") {
    val df = SparkEntry.queries("win_pareto")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    // the running-share and total windows partition identically; a
    // second hashpartitioning(c_mktsegment) exchange would mean the
    // planner failed to reuse the sort order
    val segExchanges = "hashpartitioning\\(c_mktsegment".r
      .findAllIn(p).length
    assert(segExchanges <= 1, s"windows should share one segment exchange:\n$p")
  }

  test("ts_gapfill: spine join stays keyed — no cartesian calendar blowup") {
    val p = plan("ts_gapfill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gap-fill must never cross-join a calendar:\n$p")
    assert(p.contains("Generate explode"), s"spine should be generated:\n$p")
  }

  // ——— expensive-tail pins (r6 verdict task #3): the top cost centers
  // each carry the one plan property that makes their cost linear-ish,
  // asserted so a naive respelling fails here before it ships ———

  test("llm_containment: candidates come from the ranked PREFIX, never a full shingle self-join") {
    val p = plan("llm_containment")
    // the prefix filter's signature is the rarity-ranking window
    // (row_number over df ASC) feeding the candidate join; the brute
    // respelling (containmentPairs(prefixFilter = false)) has no
    // window at all — it joins the FULL shingle set to itself, m² rows
    // per shared shingle, the 100 TB outage shape
    assert(p.matches("(?s).*Window \\[row_number\\(\\).*"),
      s"prefix-rarity ranking window missing — full self-join?:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must stay equi-join shaped:\n$p")
    // r13: the verify attaches per-doc fingerprint arrays with
    // SHUFFLE_HASH builds — sort-merge would externally sort the wide
    // pair intermediate twice (~68 GB of scratch at sf100, measured);
    // hash builds stream it once. Hints outrank size-based selection,
    // so the shape is SF-independent.
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      s"verify array-attach joins must be shuffle-hash, not sort-merge:\n$p")
    assert(p.contains("array_intersect"),
      s"verify must intersect fingerprint arrays in the join stage:\n$p")
  }

  test("join_range: user_id stays the hash key — the range predicate rides as residual") {
    val p = plan("join_range")
    // the equi component is what keeps this a hash/merge join; losing
    // it (e.g. spelling the condition as pure range) plans a nested
    // loop over events×events
    assert(p.matches("(?s).*Join \\[user_id#\\d+L?\\], \\[uid2#\\d+L?\\],.*"),
      s"user_id must be the join's equi key:\n$p")
  }

  test("llm_near_dedup: band join is the CAPPED blocked shape (block ids in the join key)") {
    // the keyed query's final plan starts at the post-localCheckpoint
    // Scan ExistingRDD, so pin the candidate STAGE itself — the same
    // single definitions (minhashBands → bandPairsKeyed) the keyed
    // query composes, per the single-definition rule
    val stage = llm.Dedup.bandPairsKeyed(
      llm.Dedup.minhashBands(llm.Dedup.shingles(spark, Sf)))
    val p = stage.queryExecution.executedPlan.toString
    // bandPairsKeyed joins on (band_idx, band_hash, _gx, _gy) — the
    // block components bound any single join group at Cap² rows. A
    // naive respelling joins on (band_idx, band_hash) alone and hands
    // one hot boilerplate bucket O(m²) rows in a single group that
    // AQE cannot split (the skew is within one key)
    assert(p.matches(
      "(?s).*Join \\[band_idx#\\d+, band_hash#\\d+L?, _gx#\\d+L?, _gy#\\d+L?\\],.*"),
      s"block ids _gx/_gy missing from the band join key:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("scan_jdbc: predicates and projection PUSH DOWN to the JDBC scan (r10)") {
    // r9 verdict "what's missing" #3: JdbcSource partitions reads, but
    // no pin proved predicates reach the RDBMS. Build the Derby
    // fixture, read partitioned WITH a filter and a 2-column select,
    // and pin all three scan properties: the WHERE runs server-side
    // (PushedFilters), the extract fans out (numPartitions=4), and
    // only the selected columns cross the wire (ReadSchema pruning).
    ops.Scans.scanJdbc(spark, Sf).collect() // populates graft_supplier
    val url = s"jdbc:derby:${graft.core.Fixtures.path(Sf, "derby_db")};create=true"
    val bounds = core.Tables.load(spark, Sf, "supplier")
      .agg(min(col("s_suppkey")), max(col("s_suppkey"))).head()
    val scan = new sources.JdbcSource(url, "graft", "graft")
      .readPartitioned(spark, "graft_supplier", "s_suppkey",
        bounds.getLong(0), bounds.getLong(1), numPartitions = 4)
      .filter(col("s_acctbal") > 1000.0)
      .select(col("s_suppkey"), col("s_acctbal"))
    val p = scan.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(s_acctbal,1000.0)"),
      s"acctbal predicate must reach the JDBC scan:\n$p")
    assert(p.contains("numPartitions=4"),
      s"partitioned read must fan out over 4 range queries:\n$p")
    assert(!p.contains("s_name"),
      s"unselected columns must not cross the JDBC wire:\n$p")
  }

  test("scan_skipping: manifest prune reaches the scan as DYNAMIC PARTITION PRUNING (r10)") {
    // the no-collect form's whole point: the manifest join must turn
    // into a dynamicpruning PartitionFilter on the zoned data scan, so
    // pruned zones never schedule IO — a respelling that joins AFTER
    // reading (plain post-scan filter) leaves no dynamicpruning marker
    val p = plan("scan_skipping")
    assert(p.contains("dynamicpruning"),
      s"manifest join must prune the zid partitions at runtime:\n$p")
    assert(p.contains("PartitionFilters"),
      s"zid must be a partition column on the zoned layout:\n$p")
  }

  test("llm_image_dedup: band join is the CAPPED blocked shape, no all-pairs (r10)") {
    // the keyed plan starts at the post-localCheckpoint hash scan, so
    // the banded candidate join IS in the final plan: pin the blocked
    // join key (b, bv, _gx, _gy) and the absence of any nested-loop
    // shape — the brute respelling is hashes × hashes, n² rows
    val p = plan("llm_image_dedup")
    assert(p.matches(
      "(?s).*Join \\[cb#\\d+, k1#\\d+L?, k2#\\d+L?, k3#\\d+L?, _gx#\\d+L?, _gy#\\d+L?\\],.*"),
      s"chained-triple band key (cb,k1..k3) + block ids _gx/_gy missing from the pHash band join key:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"image dedup must stay equi-join shaped:\n$p")
    assert(p.contains("bit_count"),
      s"exact Hamming verify must ride bit_count(xor):\n$p")
  }

  test("llm_video_dedup: aligned band join is the CAPPED blocked shape, frame_idx in the key (r12)") {
    // same machinery as llm_image_dedup one level down the timeline:
    // the candidate join must carry frame_idx (alignment — and the
    // spread that keeps the 10-bit band alphabet shuffle-safe) plus
    // the selfPairs block ids, and stay equi-join shaped
    val p = plan("llm_video_dedup")
    assert(p.matches(
      "(?s).*Join \\[frame_idx#\\d+, cb#\\d+, k1#\\d+L?, k2#\\d+L?, k3#\\d+L?, _gx#\\d+L?, _gy#\\d+L?\\],.*"),
      s"frame_idx/chained-triple band key/block ids missing from the video band join key:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"video dedup must stay equi-join shaped:\n$p")
    assert(p.contains("bit_count"),
      s"exact per-frame Hamming verify must ride bit_count(xor):\n$p")
  }

  test("llm_simhash: band join is the CAPPED blocked shape") {
    // the keyed plan starts at the post-localCheckpoint pair scan, so
    // pin the pair STAGE the keyed query runs: joined on the 16-bit
    // band bucket alone, one hot bucket is a single m² join group;
    // the block ids spread it over block-pair keys
    val d = core.Tables.load(spark, Sf, "documents").select(col("doc_id"), col("text"))
    val p = llm.Dedup.simhashPairs(d).queryExecution.executedPlan.toString
    assert(p.matches(
      "(?s).*Join \\[band_idx#\\d+, band_hash#\\d+L?, _gx#\\d+L?, _gy#\\d+L?\\],.*"),
      s"block ids _gx/_gy missing from the SimHash band join key:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"SimHash dedup must stay equi-join shaped:\n$p")
    assert(p.contains("bit_count"),
      s"exact Hamming verify must ride bit_count(xor):\n$p")
  }

  test("graph_jaccard: wedge join is the CAPPED blocked shape (block ids in the join key)") {
    // same pin as the band join above, same shared machinery
    // (core.Blocked.selfPairs): block ids in the join key mean a hub
    // node's deg² wedges spread over (deg/cap)² independent groups —
    // the r8 verdict's named at-scale gap. The keyed query's plan
    // starts at the post-localCheckpoint edges scan, so pin the wedge
    // STAGE itself (the single definition the keyed query composes).
    val (_, edges) = ops.Graph.coOrderEdges(spark, Sf)
    val p = ops.Graph.wedgePairs(edges).queryExecution.executedPlan.toString
    assert(p.matches(
      "(?s).*Join \\[src#\\d+L?, _gx#\\d+L?, _gy#\\d+L?\\],.*"),
      s"block ids _gx/_gy missing from the wedge join key:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph_triangles: wedge closure is equi-joined; nested loops only for the 1-row scalars") {
    val p = plan("graph_triangles")
    // wedges: e1.b = e2.a (1-key join); closure: e3 probed on BOTH
    // endpoints (2-key join). Either degrading to a nested loop is the
    // Θ(V²) shape. The only BNLJs allowed are the Cross combines of
    // the three 1-row count scalars (the broadcast(1-row agg) pattern
    // ScanGuardRule budget-checks).
    assert(p.matches("(?s).*Join \\[b#\\d+L?\\], \\[a#\\d+L?\\],.*"),
      s"wedge join lost its equi key:\n$p")
    assert(p.matches("(?s).*Join \\[a#\\d+L?, b#\\d+L?\\], \\[a#\\d+L?, b#\\d+L?\\],.*"),
      s"closure join must probe both endpoints:\n$p")
    val badNlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(_.contains("Cross"))
    assert(badNlj.isEmpty,
      s"non-scalar nested loop in the wedge path:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("llm_bpe_pairs: pair count combines map-side; one shuffle total") {
    val p = plan("llm_bpe_pairs")
    // the at-scale work is the count — partial aggregation means the
    // exchange carries one row per distinct pair per mapper (~26²
    // keys), not one row per corpus character pair
    assert(p.contains("partial_count"),
      s"pair count must combine map-side:\n$p")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nHash === 1, s"expected exactly the final-agg shuffle, got $nHash:\n$p")
  }

  test("llm_cosine_dedup_lsh verifies candidates via equi-joins, never a nested loop") {
    // the whole point of the LSH path: the exact-cosine verify joins a
    // bounded candidate list by id — a BroadcastNestedLoopJoin here
    // would mean the O(n²) pair join snuck back in
    val p = plan("llm_cosine_dedup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"LSH dedup must not plan a nested-loop pair join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  // ---- round 8: the TpchSuite completion (Q1/Q6/.../Q22) plan pins ----

  test("sql_tpch_q6: every predicate pushed, 4-column read schema (scan IS the query)") {
    val p = plan("sql_tpch_q6")
    // the date band reaches the parquet scan...
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThanOrEqual\\(l_shipda.*"),
      s"date band not pushed to the scan:\n$p")
    // ...and the scan reads only the 4 referenced columns of 11
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp>"),
      s"column pruning lost:\n$p")
  }

  test("sql_tpch_q10: top-20-over-aggregate plans TakeOrderedAndProject, no global sort") {
    val p = plan("sql_tpch_q10")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"expected a 20-row heap merge above the aggregate:\n$p")
  }

  test("sql_tpch_q17: correlated per-part average decorrelates to ONE grouped aggregate") {
    val p = plan("sql_tpch_q17")
    // the per-part average is a single hash aggregate keyed on partkey,
    // broadcast back — never a per-probe-row re-scan of lineitem
    assert(p.matches("(?s).*HashAggregate\\(keys=\\[l_partkey#\\d+L\\].*"),
      s"per-part average must be one grouped aggregate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated avg degenerated to a nested loop:\n$p")
  }

  test("sql_tpch_q20: the IN-feeding-IN chain plans two semi joins, no re-execution") {
    val p = plan("sql_tpch_q20")
    val semis = "LeftSemi".r.findAllIn(p).size
    assert(semis === 2, s"expected part-filter + supplier-filter semi joins, got $semis:\n$p")
    // the 'small%' prefix filter reaches the part scan under the inner semi
    assert(p.contains("StringStartsWith(p_name,small)"),
      s"LIKE prefix not pushed to the part scan:\n$p")
  }

  test("sql_tpch_q22: anti join with the date residual pushed below it; scalar avg pushed into the scan") {
    val p = plan("sql_tpch_q22")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan an anti join:\n$p")
    // the date predicate references only the orders side → filters the
    // anti join's build input at the scan, never evaluated per pair
    assert(p.matches("(?s).*GreaterThanOrEqual\\(o_orderdate,2000-01-01.*"),
      s"date residual not pushed into the orders scan:\n$p")
    // and the uncorrelated average lands IN the customer scan's
    // pushed filters as a scalar-subquery literal
    assert(p.contains("GreaterThan(c_acctbal,ScalarSubquery"),
      s"scalar average not pushed into the customer scan:\n$p")
  }

  test("sql_tpch_q11: global-mean group filter is one broadcast scalar, not a per-group re-scan") {
    val p = plan("sql_tpch_q11")
    // the subquery mean is a SinglePartition aggregate evaluated once;
    // the group filter compares against its literal
    assert(p.matches("(?s).*Filter .*1\\.1 \\* Subquery subquery#\\d+.*"),
      s"threshold must reference the once-computed scalar:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  // ---- round 9: remaining TpchSuite pins + the new keys' shapes ----

  test("sql_tpch_q1: one pruned scan, map-side partial aggregation into 6 groups") {
    val p = plan("sql_tpch_q1")
    assert("partial_sum".r.findAllIn(p).nonEmpty && p.contains("HashAggregate"),
      s"Q1 must combine map-side:\n$p")
    // the date cutoff is the only predicate and reaches the scan
    assert(p.matches("(?s).*PushedFilters: \\[.*LessThanOrEqual\\(l_shipdate.*"),
      s"date cutoff not pushed:\n$p")
    // 7 of 16 lineitem columns read — the aggregate's inputs, nothing else
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_tax:double,l_returnflag:strin"),
      s"column pruning lost:\n$p")
  }

  test("sql_tpch_q7: every dim broadcast (fact never shuffles pre-agg); region filter pushed") {
    val p = plan("sql_tpch_q7")
    // 7 joins in the chain, all broadcast — the only exchanges the fact
    // sees are the agg shuffle and the presentation sort
    assert("BroadcastHashJoin".r.findAllIn(p).size === 7,
      s"expected all 7 dim joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the disjunctive region pair derives a pushable per-side IN-superset
    assert(p.contains("Or(EqualTo(r_name,ASIA),EqualTo(r_name,EUROPE))"),
      s"derived region superset not pushed to the region scan:\n$p")
  }

  test("sql_tpch_q8: per-group ratio rides ONE grouped aggregate (CASE-sum + total together)") {
    val p = plan("sql_tpch_q8")
    // numerator and denominator are functions of the SAME HashAggregate —
    // a respelling with two aggregation passes + join would double-scan
    assert(p.matches("(?s).*HashAggregate\\(keys=\\[o_year#\\d+L\\], functions=\\[sum\\(CASE WHEN .*sum\\(volume#\\d+\\).*"),
      s"ratio must be one grouped aggregate over CASE-sums:\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs === 2, s"expected exactly partial+final, got $aggs:\n$p")
  }

  test("sql_tpch_q9: LIKE '%gear%' reaches the part scan as StringContains") {
    val p = plan("sql_tpch_q9")
    assert(p.contains("StringContains(p_name,gear)"),
      s"LIKE not pushed to the part scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sql_tpch_q15: MAX revenue is a once-computed scalar subquery, not a per-row re-scan") {
    val p = plan("sql_tpch_q15")
    // equality against the max compares to `Subquery subquery#N` — one
    // SinglePartition max over the grouped CTE, evaluated once
    assert(p.matches("(?s).*Filter \\(isnotnull\\(total_rev#\\d+\\) AND \\(total_rev#\\d+ = Subquery subquery#\\d+.*"),
      s"max must be a scalar subquery:\n$p")
    // both the main CTE and the subquery's copy push the quarter band
    // into their lineitem scans (the honest cost: two pushed scans, not
    // a reused exchange — Spark materializes scalar subqueries separately)
    assert("GreaterThanOrEqual\\(l_shipdate,1997-01-01".r.findAllIn(p).size === 2,
      s"the quarter band must reach both lineitem scans:\n$p")
  }

  test("sql_pipe: |> stages compile to the pushed-filter + partial-agg plan of the ANSI twin") {
    val p = plan("sql_pipe")
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThanOrEqual\\(l_shipdate,1998-06-01.*"),
      s"pipe WHERE stage not pushed to the scan:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"pipe AGGREGATE stage must combine map-side:\n$p")
  }

  test("ts_interpolate: backward+forward frames share ONE Window node (one sort, one shuffle)") {
    val p = plan("ts_interpolate")
    // all four ignoreNulls frame functions (pv/pd/nv/nd) collapse into a
    // single Window operator over the user_id partitioning
    assert("Window \\[".r.findAllIn(p).size === 1,
      s"expected the dual frames to share one Window node:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("llm_simsearch_pq: ADC scan reads ONLY the codes table; shortlist is a map-side heap") {
    val p = llm.Similarity.simsearchPqTopK(spark, Sf)
      .queryExecution.executedPlan.toString
    // the first pass scans <vec_id, codes> — never the float vectors
    // (the 32x I/O cut that is the whole point of PQ)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>>"),
      s"ADC pass must scan the compressed codes only:\n$p")
    // shortlist is Partial+Final WindowGroupLimit: 50-row heaps per
    // partition, never a full per-probe sort of the corpus
    assert(p.contains("row_number(), 50, Partial"),
      s"shortlist must be a map-side WindowGroupLimit heap:\n$p")
    // rerank joins ride broadcasts of the tiny shortlist/probe sides
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ rerank must stay equi-join shaped:\n$p")
  }

  test("llm_simsearch_ivf and llm_knn_join: cid-keyed hash join, top-k as Partial+Final WindowGroupLimit") {
    // the IVF search and the k-NN graph (llm_knn_join's timed plan)
    // score only the probed cells' vectors: an equi-join on the cell id,
    // then per-query heaps before and after the query-keyed exchange
    Seq("simsearchIvfTopK" -> (llm.Similarity.simsearchIvfTopK(spark, Sf), 5),
      "knnJoinEdges" -> (llm.Similarity.knnJoinEdges(spark, Sf), llm.Similarity.KnnK))
      .foreach { case (name, (df, k)) =>
        val p = df.queryExecution.executedPlan.toString
        assert("(Broadcast|Shuffled)HashJoin \\[cid#\\d+\\], \\[cid#\\d+\\]".r
          .findFirstIn(p).isDefined, s"$name: candidates must be a cid hash join:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$name: no nested-loop or cartesian join:\n$p")
        for (mode <- Seq("Partial", "Final"))
          assert(p.contains(s"row_number(), $k, $mode"),
            s"$name: top-$k must run as a $mode WindowGroupLimit:\n$p")
      }
  }

  test("ts_downsample: candles are pure mergeable aggregates — no Window, map-side combine") {
    // the scale claim: bars (not ticks) cross the shuffle; a
    // row_number-over-window respelling would full-sort the fact table
    val p = plan("ts_downsample")
    assert(!p.contains("Window"), s"OHLC must not need a window sort:\n$p")
    assert(p.contains("partial_min_by") || "HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("win_regression: five frame sums share ONE Window node over one sort") {
    val p = plan("win_regression")
    val nWin = "\\bWindow \\[".r.findAllIn(p).size
    assert(nWin == 1, s"expected a single WindowExec, got $nWin:\n$p")
    // one user_id shuffle + the presentation sort's range exchange only
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nHash == 1, s"expected one user_id exchange, got $nHash:\n$p")
  }

  test("etl_dq_profile_approx: sketch profile plans NO Expand") {
    // the key's whole reason to exist: k mergeable HLL sketches ride
    // one ordinary partial-merge aggregate. The exact twin's k
    // count_distincts force the Expand rewrite (input ×(k+1) before
    // the exchange) — that shape must never leak into the approx key
    // (the exact-twin harness aggs are separate single-distinct
    // column-pruned passes precisely to keep it out).
    val p = plan("etl_dq_profile_approx")
    assert(!p.contains("Expand"), s"sketch profile must not Expand:\n$p")
    // and the exact sibling documents the shape being avoided
    assert(plan("etl_dq_profile").contains("Expand"),
      "exact profile is the Expand spelling (scaladoc'd) — if Catalyst " +
        "stopped rewriting via Expand, update both scaladocs")
  }

  test("inventory sweep: every non-equi join in every registered plan has a bounded side") {
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // A join with NO equi component executes as CartesianProduct /
    // BroadcastNestedLoopJoin — O(|L|·|R|) row visits. Lawful only
    // when one side is PROVABLY bounded in the plan itself
    // (maxRows: a grouping-less aggregate's 1-row scalar, a LIMIT,
    // a local relation) — the audit-scalar crossJoin(broadcast(agg))
    // idiom and the sliced brute twin. Everything else is the named
    // 100 TB killer and fails here, for all registered keys at once
    // (PlanSpec's named pins cover the expensive tail; this is the
    // universal negative guarantee — r7 verdict task #5).
    import org.apache.spark.sql.catalyst.planning.ExtractSingleColumnNullAwareAntiJoin
    val Bounded = 5000L // = Similarity.BruteSliceRows, the largest lawful slice
    val allow = Map(
      // deliberate whole-relation cartesian: the demo of the operator
      // itself (5-row region × 25-row nation, both unbounded-by-plan
      // but dimension tables by contract — justified in-code)
      "join_cross" -> "cartesian IS the operator; dims are contract-tiny")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { k =>
      val lp = SparkEntry.queries(k)(spark, Sf).queryExecution.optimizedPlan
      val bad = lp.collect {
        case j: Join
            if !ExtractEquiJoinKeys.unapply(j).exists(_._2.nonEmpty) &&
              !Seq(j.left, j.right).exists(_.maxRows.exists(_ <= Bounded)) &&
              // NOT IN's single-column null-aware anti join is
              // logically non-equi (cond = key=key OR isnull) but
              // plans as a hash join — sql_tpch_q16's named pin
              // asserts the BroadcastHashJoin; lawful here
              ExtractSingleColumnNullAwareAntiJoin.unapply(j).isEmpty =>
          j.joinType.toString
      }
      if (bad.nonEmpty && !allow.contains(k)) Some(s"$k(${bad.mkString(",")})")
      else None
    }
    assert(offenders.isEmpty,
      s"unbounded non-equi joins in: ${offenders.mkString("; ")}")
  }

  test("join_bloom: runtime bloom filter reaches the fact scan as might_contain") {
    // the scale claim: non-matching fact rows die AT THE SCAN, before
    // the shuffle — InjectRuntimeFilter must have fired despite test
    // scale. The keyed query now EXECUTES inside its conf window and
    // returns the checkpointed result (so consumers can't silently
    // re-optimize without the filter — r7 advice); the inner plan is
    // asserted via the window-scoped accessor.
    val p = ops.ScaleJoins.joinBloomPlan(spark, Sf).toLowerCase
    assert(p.contains("might_contain"),
      s"expected an injected runtime bloom filter on the fact side:\n$p")
    // and the keyed query's own plan must be the materialized scan —
    // proof the bloom-planned result is what downstream actions read
    val keyed = plan("join_bloom")
    assert(keyed.contains("Scan ExistingRDD"),
      s"expected the checkpointed result, got:\n$keyed")
  }

  test("win_median: bounded-frame median runs in ONE Window node over one shuffle") {
    val p = plan("win_median")
    val nWin = "\\bWindow \\[".r.findAllIn(p).size
    assert(nWin == 1, s"expected a single WindowExec, got $nWin:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected one user_id exchange:\n$p")
  }

  test("etl_survivorship: one full-outer join, survivorship rides its project") {
    // field-level survivorship must not become per-field joins
    val p = plan("etl_survivorship")
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(p).size
    assert(joins == 1, s"conforming must be ONE join, got $joins:\n$p")
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
  }

  test("win_ewma: 16 lags share ONE Window node over one user_id shuffle") {
    val p = plan("win_ewma")
    val nWin = "\\bWindow \\[".r.findAllIn(p).size
    assert(nWin == 1, s"expected a single WindowExec, got $nWin:\n$p")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nHash == 1, s"expected one user_id exchange, got $nHash:\n$p")
  }

  test("agg_listagg: the group is bounded by a map-side WindowGroupLimit heap") {
    // the scale claim: top-5-then-concat, never concat-then-anything —
    // the rank filter must compile to the partial/final group-limit
    // heaps so only ≤5 rows per nation reach the sort and the agg
    val p = plan("agg_listagg")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=5 must plan a WindowGroupLimit:\n$p")
  }

  test("llm_classifier_score: the model rides the expression — no join anywhere") {
    val p = plan("llm_classifier_score")
    assert(!p.contains("Join"), s"weight lookup must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final doc aggregation:\n$p")
  }

  test("sample_weighted: row-local replica-min + TakeOrdered heap, no explode/regroup") {
    // the replica lottery must never explode or re-group: the only
    // wide ops allowed are the k-row TakeOrdered heap merge, the
    // presentation sort, and the single keyed spread that sizes the
    // CPU-bound lottery map when the scan under-splits (r15: a
    // REPARTITION_BY_NUM hash spread on the row-unique key — carries
    // each row ONCE, never the w× amplification the pin bans, and
    // skips round-robin's sort-before-repartition). The regroup ban is
    // therefore spelled as "no aggregate, no generate, no
    // ENSURE_REQUIREMENTS exchange" rather than "no hash exchange".
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k must be a TakeOrdered heap:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("Generate") && !p.contains("ENSURE_REQUIREMENTS"),
      s"replica-min must stay row-local (no explode, no regroup):\n$p")
    assert(p.contains("minticket"),
      s"lottery must ride the codegen'd expression, not the HOF:\n$p")
  }
}
