package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}
import graft.functions.Udafs

/** SURVEY.md §2.4 — aggregations.
  *
  * Reference evidence: transformation + analysis claims in
  * /root/reference/README.md:2,10; approx/vector/UDAF aggregates are
  * north-star additions (BASELINE.json).
  *
  * 100 TB notes: every groupBy here runs as partial (map-side) + final
  * HashAggregate — the shuffle carries one row per (partition × group),
  * not per input row. Group cardinalities are tiny (flags, segments,
  * brands), so the exchange is negligible at any scale. Exact
  * `countDistinct` is the one op whose shuffle grows with distinct
  * values; `agg_approx_distinct` (HLL sketch, constant memory) is the
  * 100 TB counterpart.
  */
object Aggregates {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** TPC-H Q1-shaped pricing summary — also the flagship `entry`. */
  def aggHash(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumExpr(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .as("sum_disc_price"),
          dsumExpr(money(col("l_extendedprice")) * oneMinus(col("l_discount"))
            * onePlus(col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")))

  private val aggHashSql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${O.dsum("l_quantity")} AS sum_qty,
       |  ${O.dsum("l_extendedprice")} AS sum_base_price,
       |  ${O.dsumExpr(O.revenue)} AS sum_disc_price,
       |  ${O.dsumExpr(s"${O.revenue} * ${O.onePlus("l_tax")}")} AS sum_charge,
       |  ${O.davg("l_quantity")} AS avg_qty,
       |  ${O.davg("l_extendedprice")} AS avg_price,
       |  ${O.davg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |${O.OrderAll}"""

  /** Exact distinct per group. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          count(lit(1)).as("n_customers")))

  private val aggDistinctSql =
    s"""SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
       |  COUNT(*) AS n_customers
       |FROM customer GROUP BY c_mktsegment
       |${O.OrderAll}"""

  /** HLL approximate distinct — the constant-memory counterpart of
    * `agg_distinct` for 100 TB (sketches merge at the exchange; the
    * shuffle never carries the distinct values themselves). The raw
    * estimate is implementation-specific, so the ORACLE-FACING output
    * is the error bound itself: the exact twin rides along and the
    * query emits whether |approx − exact| / exact stays within 5× the
    * configured rsd (0.02) — the oracle pins the exact counts and
    * `TRUE`, so a sketch drifting out of bound turns the row red at
    * the driver gate instead of hiding behind `no_oracle`. (The exact
    * countDistinct is the verification harness, not the scale path —
    * at 100 TB you ship only the sketch column.) */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("_approx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("n_events"), col("exact_users"),
          (abs(col("_approx") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") <= 0.10).as("err_in_bound")))

  private val aggApproxDistinctSql =
    s"""SELECT event_type, COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS exact_users,
       |  TRUE AS err_in_bound
       |FROM events GROUP BY event_type
       |${O.OrderAll}"""

  /** Mergeable-sketch aggregation (Apache DataSketches HLL, Spark 4
    * `hll_sketch_agg`/`hll_union_agg`): per-nation distinct-customer
    * sketches built in one pass, then UNIONED into a global estimate —
    * without touching the raw keys again. This two-level
    * sketch-then-merge shape is the 100 TB pattern for anything
    * distinct-ish: sketches are a few KB each, so rollups across
    * partitions/days/tenants merge at the driver or in a tiny second
    * agg instead of re-scanning the corpus. The query also computes
    * the direct one-level sketch estimate and, since round 4, the
    * exact twin — the oracle-facing columns are the closeness/bound
    * booleans below, so the driver gate verifies the merge instead of
    * recording `no_oracle`. */
  def aggSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val perNation = cust.groupBy(col("c_nationkey"))
      .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
        count(lit(1)).as("n_rows"))
    val merged = perNation.agg(
      count(lit(1)).as("n_nations"),
      sum(col("n_rows")).as("n_rows"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("_merged"))
    val direct = cust.agg(
      hll_sketch_estimate(hll_sketch_agg(col("c_custkey"))).as("_direct"),
      countDistinct(col("c_custkey")).as("exact_distinct"))
    // Oracle-facing: merge-closeness (union-of-disjoint and the direct
    // one-level sketch must estimate within 5% of each other) and the
    // estimate's relative error vs the exact twin ≤ 5× the default-lgK
    // standard error (~1.6%). Both land as booleans the oracle pins to
    // TRUE — a broken merge (double counting = 2× off) goes red at the
    // driver gate instead of hiding behind `no_oracle`.
    //
    // Why 5%, not the 1% this pinned through round 6: below ~k/8
    // coupons the HLL_4 sketch is still in sparse mode, where union of
    // disjoint sets is lossless and the two paths agree to <1%
    // (sf0.001–sf0.1: ≤ 1500 customers/nation). At sf1 (6000/nation,
    // 150k global) the sketches go DENSE, and the union path
    // re-estimates through the composite estimator while the direct
    // sketch keeps its HIP estimator — a legitimate few-SE divergence
    // (measured at sf1: merged 153040 vs direct 151427, 1.07% apart,
    // both within 2.1% of the exact 150000), not a merge bug. 5% ≈ 3
    // combined SEs at lgK=12 keeps the pin scale-stable while still
    // failing loudly on any real merge defect (double counting = 2×).
    ordered(
      merged.crossJoin(direct)
        .select(col("n_nations"), col("n_rows"), col("exact_distinct"),
          (abs(col("_merged").cast("double") - col("_direct").cast("double")) /
            col("_direct").cast("double") <= 0.05).as("merge_close"),
          (abs(col("_merged").cast("double") -
            col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double") <= 0.08).as("est_in_bound")))
  }

  private val aggSketchMergeSql =
    s"""SELECT COUNT(DISTINCT c_nationkey) AS n_nations,
       |  COUNT(*) AS n_rows,
       |  COUNT(DISTINCT c_custkey) AS exact_distinct,
       |  TRUE AS merge_close,
       |  TRUE AS est_in_bound
       |FROM customer
       |${O.OrderAll}"""

  /** Rollup with subtotals + grand total (reporting). */
  def aggRollup(spark: SparkSession, dir: String): DataFrame = {
    val joined = t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
    ordered(
      joined.rollup(col("r_name"), col("n_name"))
        .agg(dsum(col("o_totalprice")).as("total"),
          count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("total"), col("n_orders")))
  }

  private val aggRollupSql =
    s"""SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       |  ${O.dsum("o_totalprice")} AS total, COUNT(*) AS n_orders
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP(r_name, n_name)
       |${O.OrderAll}"""

  /** Cube: all grouping combinations of (returnflag × linestatus). */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n")))

  private val aggCubeSql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  ${O.dsum("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |${O.OrderAll}"""

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: event_type → columns, decimal-exact sum(value) per bucket.
    * Pivot values are pinned (no discovery pass over the data). */
  def aggPivot(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "events")
        .groupBy((col("user_id") % 5).as("bucket"))
        .pivot("event_type", EventTypes)
        .agg(sum(money(col("value"))).cast("double")))

  private val aggPivotSql = {
    val cells = EventTypes.map(v =>
      s"CAST(SUM(CASE WHEN event_type = '$v' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS $v")
      .mkString(",\n|  ")
    s"""SELECT user_id % 5 AS bucket,
       |  $cells
       |FROM events GROUP BY user_id % 5
       |${O.OrderAll}"""
  }

  /** Custom typed UDAF (`Aggregator[IN,BUF,OUT]`): quantity-weighted
    * average discount, exact fixed-point buffer. */
  def aggUdaf(spark: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(Udafs.WeightedAvgDiscount)
    ordered(
      t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(wavg(col("l_quantity"), col("l_discount")).as("wavg_disc"),
          count(lit(1)).as("n")))
  }

  private val aggUdafSql =
    s"""SELECT l_returnflag,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
       |    / ${O.dsum("l_quantity")} AS wavg_disc,
       |  COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag
       |${O.OrderAll}"""

  /** Vector aggregate: element-wise mean embedding per label via a
    * custom Aggregator over array<float>, flattened to (label, pos,
    * mean_v) for exact comparison. */
  def aggVectorMean(spark: SparkSession, dir: String): DataFrame = {
    val vm = udaf(new Udafs.VecMean(64))
    ordered(
      t(spark, dir, "embeddings")
        .groupBy(col("label"))
        .agg(vm(col("embedding")).as("mean"))
        .select(col("label"), posexplode(col("mean")))
        .select(col("label"), col("pos"), round6(col("col")).as("mean_v")))
  }

  private val aggVectorMeanSql =
    s"""SELECT label, pos, round(avg(x), 6) AS mean_v FROM (
       |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
       |    generate_subscripts(embedding, 1) - 1 AS pos
       |  FROM embeddings)
       |GROUP BY label, pos
       |${O.OrderAll}"""

  /** Unpivot (stack): wide → long, the inverse of `agg_pivot`. */
  def aggUnpivot(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer").select(col("c_custkey"),
        expr("stack(2, 'acctbal', c_acctbal, " +
          "'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, value)")))

  private val aggUnpivotSql =
    s"""SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
       |UNION ALL
       |SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
       |${O.OrderAll}"""

  /** Exact interpolated percentiles per segment (both engines implement
    * the ANSI PERCENTILE_CONT definition: sort, index p·(n−1), linear
    * interpolation — identical doubles from identical inputs). At
    * 100 TB use approx_percentile (t-digest sketch) instead: exact
    * percentile must co-locate every group value. */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          expr("percentile(c_acctbal, 0.5)").as("median_bal"),
          expr("percentile(c_acctbal, 0.9)").as("p90_bal"),
          count(lit(1)).as("n")))

  private val aggPercentileSql =
    s"""SELECT c_mktsegment,
       |  quantile_cont(c_acctbal, 0.5) AS median_bal,
       |  quantile_cont(c_acctbal, 0.9) AS p90_bal,
       |  COUNT(*) AS n
       |FROM customer GROUP BY c_mktsegment
       |${O.OrderAll}"""

  /** Fixed-width histogram of order value: bucket = floor(price/25k).
    * The bucket id is per-row IEEE double arithmetic (identical bits on
    * both engines — no aggregation-order sensitivity), the sum is the
    * exact-decimal convention. One map-side-combined groupBy over a
    * 2-column scan: the 100 TB profile of every monitoring histogram. */
  def aggHist(spark: SparkSession, dir: String): DataFrame =
    ordered(
      Tables.load(spark, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price")))

  private val aggHistSql =
    s"""SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       |  COUNT(*) AS n,
       |  ${O.dsum("o_totalprice")} AS sum_price,
       |  MIN(o_totalprice) AS min_price,
       |  MAX(o_totalprice) AS max_price
       |FROM orders GROUP BY 1
       |${O.OrderAll}"""

  /** EXACT distinct counting with mergeable state — the bitmap
    * counterpart of `agg_sketch_merge`'s approximate HLL: per-segment
    * customer keys go into fixed 4096-bit bucket bitmaps
    * (`bitmap_bucket_number` / `bitmap_construct_agg`), which OR
    * together associatively. At 100 TB this is the standard exact
    * distinct-at-scale layout (Roaring-style): partial bitmaps merge
    * map-side and across days/partitions without rescanning keys —
    * COUNT(DISTINCT) recomputes from raw keys every time. The oracle
    * is plain COUNT(DISTINCT): the bitmap path must be exactly equal,
    * not approximately. */
  def aggBitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    ordered(
      Tables.load(spark, dir, "customer")
        .groupBy(col("c_mktsegment"),
          expr("bitmap_bucket_number(c_custkey)").as("_bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))")
          .as("_bm"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(expr("bitmap_count(_bm)")).as("n_distinct")))

  private val aggBitmapDistinctSql =
    s"""SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS n_distinct
       |FROM customer GROUP BY c_mktsegment
       |${O.OrderAll}"""

  /** Approximate percentiles (GK-style mergeable quantile sketch
    * behind `percentile_approx`) — the 100 TB companion of
    * `agg_percentile`'s exact sort-based path, exactly as
    * `agg_approx_distinct` companions `agg_distinct`: bounded-memory
    * partial sketches merge associatively, no global sort. The sketch
    * value is impl-specific, so the ORACLE-FACING output is the rank
    * guarantee itself: the returned element's rank fraction must sit
    * within ±0.001 of the requested quantile (10× the 1/accuracy
    * guarantee, slack for tie granularity), checked by one extra
    * aggregate pass over the data joined to the broadcast sketch
    * output. The oracle pins counts and `TRUE` — an out-of-guarantee
    * sketch goes red at the driver gate instead of hiding behind
    * `no_oracle`. OperatorsSpec still bounds the values against the
    * exact percentiles. */
  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val ap = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9)), lit(10000)).as("_p"))
      .select(col("l_returnflag"),
        element_at(col("_p"), 1).as("_p50"),
        element_at(col("_p"), 2).as("_p90"))
    val eps = 0.001
    def lt(p: String) =
      sum(when(col("l_extendedprice") < col(p), 1L).otherwise(0L))
    def le(p: String) =
      sum(when(col("l_extendedprice") <= col(p), 1L).otherwise(0L))
    def rankOk(ltC: Column, leC: Column, q: Double) =
      ltC <= (lit(q) + eps) * col("n_rows") &&
        leC >= (lit(q) - eps) * col("n_rows")
    ordered(
      li.join(broadcast(ap), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          lt("_p50").as("_lt50"), le("_p50").as("_le50"),
          lt("_p90").as("_lt90"), le("_p90").as("_le90"))
        .select(col("l_returnflag"), col("n_rows"),
          rankOk(col("_lt50"), col("_le50"), 0.5).as("p50_rank_ok"),
          rankOk(col("_lt90"), col("_le90"), 0.9).as("p90_rank_ok")))
  }

  private val aggApproxPercentileSql =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
       |  TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
       |FROM lineitem GROUP BY l_returnflag
       |${O.OrderAll}"""

  /** Statistical aggregate family — correlation, sample covariance,
    * stddev, variance of (quantity, price) per return flag. These are
    * single-pass mergeable moment aggregates (sum, sum², sum xy) — the
    * shape that scales — but their DOUBLE sums are partition-order
    * dependent in the low bits, so outputs are round6'd: the one case
    * Determinism.scala licenses rounding (genuinely different bits per
    * run, unlike exact rationals). */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    ordered(
      Tables.load(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          round6(covar_samp(col("l_quantity"), col("l_extendedprice")))
            .as("covar_qp"),
          round6(stddev_samp(col("l_quantity"))).as("stddev_qty"),
          round6(var_samp(col("l_quantity"))).as("var_qty")))

  private val aggStatsSql =
    s"""SELECT l_returnflag,
       |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
       |  round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qp,
       |  round(stddev_samp(l_quantity), 6) AS stddev_qty,
       |  round(var_samp(l_quantity), 6) AS var_qty
       |FROM lineitem GROUP BY l_returnflag
       |${O.OrderAll}"""

  /** min_by / max_by (argmin/argmax) — "the attribute of the earliest/
    * latest row per key" without a self-join or window: one mergeable
    * (key, extremal-ordering-value, payload) buffer per group. Ties
    * would make the result engine-dependent, so the ordering key is a
    * composite STRING (date + zero-padded unique orderkey) that totals
    * the order — the same tiebreak discipline every deterministic
    * query here follows, spelled the one way both engines' argmin
    * signatures accept. */
  def aggMinBy(spark: SparkSession, dir: String): DataFrame = {
    val key = concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
      lpad(col("o_orderkey").cast("string"), 12, "0"))
    ordered(
      Tables.load(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          min_by(col("o_orderkey"), key).as("first_orderkey"),
          min_by(col("o_totalprice"), key).as("first_price"),
          max_by(col("o_orderkey"), key).as("latest_orderkey"),
          max_by(col("o_orderpriority"), key).as("latest_priority")))
  }

  private val aggMinBySql = {
    val key = O.dateStr("o_orderdate") + " || " +
      "lpad(CAST(o_orderkey AS VARCHAR), 12, '0')"
    s"""SELECT o_custkey,
       |  arg_min(o_orderkey, $key) AS first_orderkey,
       |  arg_min(o_totalprice, $key) AS first_price,
       |  arg_max(o_orderkey, $key) AS latest_orderkey,
       |  arg_max(o_orderpriority, $key) AS latest_priority
       |FROM orders GROUP BY o_custkey
       |${O.OrderAll}"""
  }

  /** Count-min sketch point queries (`Udafs.CountMinSketch`) — the
    * mergeable FREQUENCY sketch completing the sketch family
    * (`agg_approx_distinct` = cardinality, `agg_approx_percentile` =
    * quantiles, `agg_sketch_merge` = partial-merge; this = per-key
    * counts). One pass builds a single 4×4096 counter sketch over all
    * lineitem supplier keys; ten fixed probe keys are then estimated
    * from the sketch and joined against their exact counts (the exact
    * twin runs in-query, same pattern as the ANN recall keys).
    *
    * Oracle-pinned guarantees, per probe: `overcount_ok` (est ≥ true —
    * a hard sketch invariant, counters only over-count) and
    * `within_bound` (est ≤ true + (e/w)·N — holds w.p. ≥ 1−e^−4 per
    * probe; the hash family is FIXED, so on fixed corpora the outcome
    * is deterministic and pinned TRUE like the r4 sketch keys). The
    * estimates themselves stay out of the oracle-compared columns —
    * they are hash-family-specific; the INVARIANTS are the contract.
    *
    * 100 TB: the sketch buffer is 128 KiB regardless of input size and
    * merges element-wise at the exchange — one sketch per mapper
    * crosses the wire, never keys. The exact twin's per-key groupBy is
    * itself scale-fine (distinct suppliers, not rows). */
  def aggCountMin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udafs.CountMin
    val li = t(spark, dir, "lineitem")
    val sketchDf = li.select(col("l_suppkey"))
      .as[Long]
      .select(Udafs.CountMinSketch.toColumn.name("sketch"))
    val sketch = sketchDf.head()
    // total stream mass N = any hash row's counter sum (every key
    // increments exactly one counter per row) — no second input pass
    val n = sketch.view.slice(0, CountMin.CmWidth).sum
    val bound = math.ceil(math.E / CountMin.CmWidth * n).toLong
    val probes = (1L to 10L)
    val est = probes.map(k => (k, CountMin.estimate(sketch, k))).toDF("probe_key", "_est")
    val exact = li.filter(col("l_suppkey").isin(probes: _*))
      .groupBy(col("l_suppkey").as("probe_key"))
      .agg(count(lit(1)).as("true_n"))
    ordered(est.join(exact, Seq("probe_key"), "left_outer")
      .select(col("probe_key"),
        coalesce(col("true_n"), lit(0L)).as("true_n"),
        (col("_est") >= coalesce(col("true_n"), lit(0L))).as("overcount_ok"),
        (col("_est") <= coalesce(col("true_n"), lit(0L)) + lit(bound))
          .as("within_bound")))
  }

  private val aggCountMinSql =
    s"""WITH probes AS (SELECT unnest(generate_series(1, 10)) AS probe_key),
       |exact AS (
       |  SELECT l_suppkey AS probe_key, COUNT(*) AS true_n
       |  FROM lineitem WHERE l_suppkey BETWEEN 1 AND 10 GROUP BY 1)
       |SELECT p.probe_key,
       |  COALESCE(e.true_n, 0) AS true_n,
       |  TRUE AS overcount_ok,
       |  TRUE AS within_bound
       |FROM probes p LEFT JOIN exact e ON e.probe_key = p.probe_key
       |${O.OrderAll}"""

  /** Heavy hitters via Misra–Gries ([[Udafs.MisraGries]], k=64) — the
    * approximate top-k sketch completing the family (HLL, KLL,
    * count-min; this = which keys dominate). Input key is DELIBERATELY
    * skewed so the guarantee is non-vacuous at every SF: every 4th
    * event contributes its event_type (5 keys carrying ~25% of mass,
    * each far above N/(k+1)), the rest contribute a unique per-event
    * tail key — thousands of distinct keys churning the 64 counters
    * with constant decrements.
    *
    * Ten fixed probes (the 5 heavy types, 4 existing tail keys, 1
    * absent key) against the exact in-query twin; oracle pins the
    * three DETERMINISTIC MG invariants (they hold under any merge
    * order — the mergeable-summaries theorem, see [[Udafs.MisraGries]]):
    * `underestimate_ok` (est ≤ true), `lower_bound_ok`
    * (est ≥ true − N/(k+1)), `covered_ok` (true > N/(k+1) ⇒ key is in
    * the summary). Estimates themselves stay out of the compared
    * columns — WHICH tail keys survive IS merge-order dependent; the
    * invariants are the contract (the `agg_count_min` pattern).
    *
    * 100 TB: ≤64-entry map per partial merging at the exchange; the
    * exact twin groups only the 10 probe keys after a pushed-down
    * filter. The driver-side `.head()` pulls one bounded summary. */
  def aggHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val e = t(spark, dir, "events")
    val keyed = e.select(Udafs.HeavyKey.column.as("key"))
    val summary = keyed.as[String]
      .select(new Udafs.MisraGries(k).toColumn.name("s")).head()
    val n = e.count()
    val bound = n / (k + 1) // decrements d satisfy d·(k+1) ≤ N ⇒ d ≤ ⌊N/(k+1)⌋
    val probes = Seq("signup", "error", "click", "view", "purchase",
      "t1", "t2", "t5", "t9", "t4")
    val est = probes.map(p => (p, summary.getOrElse(p, 0L), summary.contains(p)))
      .toDF("probe_key", "_est", "_in")
    val exact = keyed.filter(col("key").isin(probes: _*))
      .groupBy(col("key").as("probe_key"))
      .agg(count(lit(1)).as("true_n"))
    ordered(est.join(exact, Seq("probe_key"), "left_outer")
      .select(col("probe_key"),
        coalesce(col("true_n"), lit(0L)).as("true_n"),
        (col("_est") <= coalesce(col("true_n"), lit(0L)))
          .as("underestimate_ok"),
        (col("_est") >= coalesce(col("true_n"), lit(0L)) - lit(bound))
          .as("lower_bound_ok"),
        (coalesce(col("true_n"), lit(0L)) <= lit(bound) || col("_in"))
          .as("covered_ok")))
  }

  private val aggHeavyHittersSql =
    s"""WITH keyed AS (
       |  SELECT ${Udafs.HeavyKey.sql} AS key FROM events),
       |probes AS (SELECT unnest(['signup','error','click','view',
       |  'purchase','t1','t2','t5','t9','t4']) AS probe_key),
       |exact AS (
       |  SELECT key AS probe_key, COUNT(*) AS true_n FROM keyed
       |  WHERE key IN ('signup','error','click','view','purchase',
       |    't1','t2','t5','t9','t4')
       |  GROUP BY 1)
       |SELECT p.probe_key, COALESCE(e.true_n, 0) AS true_n,
       |  TRUE AS underestimate_ok, TRUE AS lower_bound_ok,
       |  TRUE AS covered_ok
       |FROM probes p LEFT JOIN exact e ON e.probe_key = p.probe_key
       |${O.OrderAll}"""

  /** Cohort RETENTION matrix — the standard product-analytics
    * aggregation: users cohorted by first-signup day; for each
    * (cohort, days-since-cohort) cell, how many distinct cohort
    * members were active. Two map-side-combined aggregations (first
    * signup per user; distinct actives per cell) joined on user_id —
    * the cohort table is one row per user (tiny relative to events),
    * so at 100 TB it broadcasts and the event log never shuffles for
    * the join; the cell aggregation shuffles (cohort, day, user) only.
    * Exact integer counts + date strings — bit-stable on both engines. */
  def aggRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val first = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(to_date(date_trunc("DAY", min(col("ts")))).as("_cohort"))
    ordered(e
      .join(broadcast(first), Seq("user_id"))
      .filter(col("ts") >= col("_cohort").cast("timestamp"))
      .groupBy(col("_cohort"), datediff(to_date(col("ts")), col("_cohort")).as("day_off"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(date_format(col("_cohort"), "yyyy-MM-dd").as("cohort"),
        col("day_off"), col("n_active")))
  }

  private val aggRetentionSql =
    s"""WITH first AS (
       |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
       |  FROM events WHERE event_type = 'signup' GROUP BY 1)
       |SELECT ${O.dateStr("f.cohort")} AS cohort,
       |  datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_off,
       |  COUNT(DISTINCT e.user_id) AS n_active
       |FROM events e JOIN first f ON f.user_id = e.user_id
       |WHERE e.ts >= CAST(f.cohort AS TIMESTAMP)
       |GROUP BY f.cohort, day_off
       |${O.OrderAll}"""

  /** Deterministic mode (most frequent value, lowest wins ties): the
    * per-group quantity mode with its frequency. `mode(e, true)` pins
    * Spark's tie behavior to "lowest value" so the oracle can replay it
    * relationally (count → rank by (n DESC, v ASC) → first). Without
    * the flag the result is whichever tie the hash table surfaces —
    * unverifiable and non-reproducible across runs.
    *
    * 100 TB: exact mode needs the full (group, value) count table —
    * two-level map-combined aggregation whose shuffle grows with
    * DISTINCT values per group (here quantities 1..50: tiny). For
    * unbounded value domains the scale answer is `agg_heavy_hitters`'
    * Misra–Gries sketch: the mode is its top entry, with an error
    * bound instead of an exact count. */
  def aggMode(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          mode(col("l_quantity"), deterministic = true).as("qty_mode"),
          count(lit(1)).as("n_rows")))

  private val aggModeSql =
    s"""WITH c AS (
       |  SELECT l_returnflag, l_quantity AS v, COUNT(*) AS n
       |  FROM lineitem GROUP BY 1, 2),
       |ranked AS (
       |  SELECT l_returnflag, v,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY n DESC, v ASC) AS rk
       |  FROM c),
       |tot AS (SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem GROUP BY 1)
       |SELECT t.l_returnflag, r.v AS qty_mode, t.n_rows
       |FROM tot t JOIN ranked r
       |  ON r.l_returnflag = t.l_returnflag AND r.rk = 1
       |${O.OrderAll}"""

  /** Ordered string aggregation (LISTAGG / string_agg): per nation, the
    * pipe-joined names of its top-5 suppliers by account balance, plus
    * their count and exact balance sum. The group is BOUNDED FIRST (a
    * per-nation top-5 via row_number, which Spark plans as a map-side
    * WindowGroupLimit heap) and only then concatenated — listagg over
    * an unbounded group is the classic driver-OOM/row-width bomb at
    * 100 TB (one group's string grows with the table), while
    * top-k-then-agg keeps every output cell ≤ k names at any scale.
    * Determinism: Spark has no ordered listagg, so the ordered
    * concatenation is array_join(array_sort(collect_list(struct(rk,
    * name)))) — struct sort on the rank prefix is a total order, and
    * collect_list's arrival order never surfaces. Oracle: string_agg
    * (… ORDER BY rk), DuckDB's native ordered aggregate. */
  def aggListagg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    val top = t(spark, dir, "supplier")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
    ordered(
      top.join(t(spark, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_top"),
          dsum(col("s_acctbal")).as("top_bal"),
          array_join(
            expr("transform(array_sort(collect_list(struct(rk, s_name)))," +
              " x -> x.s_name)"), "|").as("top_names")))
  }

  private val aggListaggSql =
    s"""WITH r AS (
       |  SELECT s_nationkey, s_name, s_acctbal,
       |    row_number() OVER (PARTITION BY s_nationkey
       |      ORDER BY s_acctbal DESC, s_suppkey) AS rk
       |  FROM supplier)
       |SELECT n_name, COUNT(*) AS n_top,
       |  ${O.dsum("s_acctbal")} AS top_bal,
       |  string_agg(s_name, '|' ORDER BY rk) AS top_names
       |FROM r JOIN nation ON n_nationkey = s_nationkey
       |WHERE rk <= 5
       |GROUP BY n_name
       |${O.OrderAll}"""

  /** Exact decimal(18,0) cents of a 2-decimal money/rate column —
    * `floor(v·100 + 0.5)` is IEEE-exact on both engines (the
    * win_regression spelling), and the decimal cast keeps downstream
    * products/sums exact where BIGINT would overflow (Σ(cx·cy) crosses
    * 2⁶³ near 10⁵ rows of 10⁷-cent values; DuckDB silently widens
    * SUM(BIGINT) to int128, Spark does not — decimal is the spelling
    * both engines sum exactly). */
  private def cents18(c: Column): Column =
    floor(c * 100 + 0.5).cast(org.apache.spark.sql.types.DecimalType(18, 0))

  private val CorrMeasures = Seq(
    "qty" -> "l_quantity", "price" -> "l_extendedprice",
    "disc" -> "l_discount", "tax" -> "l_tax")
  private val CorrPairs = for {
    i <- CorrMeasures.indices; j <- CorrMeasures.indices if i < j
  } yield (CorrMeasures(i)._1, CorrMeasures(j)._1)

  /** Pairwise Pearson correlation matrix of the four lineitem measures
    * per return flag — the feature-association scan every drift/EDA
    * pass runs before modeling. Built-in `corr()` streams doubles in
    * partition order (unverifiable bits), so the matrix is computed
    * from EXACT sufficient statistics instead: each measure → integer
    * cents in DECIMAL(18,0) ([[cents18]]), all 15 sums (4 linear, 4
    * square, 6 cross, 1 count) ride ONE map-side-combined aggregate —
    * a single scan, one shuffle row per (mapper × flag), no matter the
    * table size — then one mirrored double evaluation of
    * r = (nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) per pair (both
    * engines see bit-identical correctly-rounded sum doubles and apply
    * the identical op tree). Zero-variance measures → NULL. */
  def aggCorr(spark: SparkSession, dir: String): DataFrame = {
    val base0 = t(spark, dir, "lineitem").select(
      col("l_returnflag") +:
        CorrMeasures.map { case (n, c) => cents18(col(c)).as(n) }: _*)
    val base = CorrPairs.foldLeft(
      CorrMeasures.foldLeft(base0) { case (df, (n, _)) =>
        df.withColumn(s"${n}_sq", col(n) * col(n))
      }) { case (df, (a, b)) => df.withColumn(s"${a}_$b", col(a) * col(b)) }
    val aggs =
      CorrMeasures.map { case (n, _) => sum(col(n)).as(s"s_$n") } ++
        CorrMeasures.map { case (n, _) => sum(col(s"${n}_sq")).as(s"s_${n}_sq") } ++
        CorrPairs.map { case (a, b) => sum(col(s"${a}_$b")).as(s"s_${a}_$b") }
    val g = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), aggs: _*)
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    def corrCol(a: String, b: String): Column = {
      val vx = nD * d(s"s_${a}_sq") - d(s"s_$a") * d(s"s_$a")
      val vy = nD * d(s"s_${b}_sq") - d(s"s_$b") * d(s"s_$b")
      val num = nD * d(s"s_${a}_$b") - d(s"s_$a") * d(s"s_$b")
      when(vx > 0 && vy > 0, round6(num / (sqrt(vx) * sqrt(vy))))
    }
    ordered(g.select(
      col("l_returnflag") +: col("n") +:
        CorrPairs.map { case (a, b) => corrCol(a, b).as(s"corr_${a}_$b") }: _*))
  }

  private val aggCorrSql = {
    def vnum(a: String) =
      s"(CAST(n AS DOUBLE) * ${O.dbl(s"s_${a}_sq")} - ${O.dbl(s"s_$a")} * ${O.dbl(s"s_$a")})"
    def corr(a: String, b: String) =
      s"""CASE WHEN ${vnum(a)} > 0 AND ${vnum(b)} > 0 THEN
         |    round((CAST(n AS DOUBLE) * ${O.dbl(s"s_${a}_$b")} - ${O.dbl(s"s_$a")} * ${O.dbl(s"s_$b")}) /
         |      (sqrt(${vnum(a)}) * sqrt(${vnum(b)})), 6) END AS corr_${a}_$b""".stripMargin
    val centsSel = CorrMeasures.map { case (n, c) =>
      s"CAST(floor($c * 100 + 0.5) AS DECIMAL(18,0)) AS $n" }.mkString(", ")
    val sums = (
      CorrMeasures.map { case (n, _) => s"SUM($n) AS s_$n" } ++
        CorrMeasures.map { case (n, _) => s"SUM($n * $n) AS s_${n}_sq" } ++
        CorrPairs.map { case (a, b) => s"SUM($a * $b) AS s_${a}_$b" }
      ).mkString(", ")
    s"""WITH base AS (
       |  SELECT l_returnflag, $centsSel FROM lineitem),
       |g AS (
       |  SELECT l_returnflag, COUNT(*) AS n, $sums
       |  FROM base GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  ${CorrPairs.map { case (a, b) => corr(a, b) }.mkString(",\n  ")}
       |FROM g
       |${O.OrderAll}"""
  }

  /** Welch two-sample t-test per event type — the A/B-experiment
    * readout (unequal variances, unequal n): arms are a deterministic
    * user-id hash split (the `llm_split` convention), the metric is
    * event value in exact cents. Both arms' sufficient statistics
    * (n, Σy, Σy²) ride ONE conditional aggregate over one scan — the
    * experiment table is never joined, split, or shuffled per arm —
    * and t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂) plus the Welch–Satterthwaite df
    * are one mirrored double evaluation from correctly-rounded sum
    * doubles. Degenerate arms (n < 2 or zero variance) → NULL verdict;
    * the guard compares the EXACT-integer-derived variance numerators,
    * never a possibly-NaN quotient (DuckDB orders NaN above all values,
    * Spark's comparison returns false — the one place the engines'
    * double semantics genuinely diverge). */
  def aggAbTest(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "events").select(
      col("event_type"),
      (col("user_id") % 2).as("arm"),
      cents18(col("value")).as("y"))
      .withColumn("y_sq", col("y") * col("y"))
    val g = base.groupBy(col("event_type")).agg(
      count(when(col("arm") === 0, lit(1))).as("n_a"),
      count(when(col("arm") === 1, lit(1))).as("n_b"),
      sum(when(col("arm") === 0, col("y"))).as("s_a"),
      sum(when(col("arm") === 1, col("y"))).as("s_b"),
      sum(when(col("arm") === 0, col("y_sq"))).as("ss_a"),
      sum(when(col("arm") === 1, col("y_sq"))).as("ss_b"))
    def d(c: String) = col(c).cast("double")
    val (na, nb) = (d("n_a"), d("n_b"))
    val vaNum = na * d("ss_a") - d("s_a") * d("s_a")
    val vbNum = nb * d("ss_b") - d("s_b") * d("s_b")
    val va = vaNum / (na * (na - 1))
    val vb = vbNum / (nb * (nb - 1))
    val (sea, seb) = (va / na, vb / nb)
    val se2 = sea + seb
    val tstat = (d("s_a") / na - d("s_b") / nb) / sqrt(se2)
    val dfW = (se2 * se2) / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && vaNum > 0 && vbNum > 0
    ordered(g.select(
      col("event_type"), col("n_a"), col("n_b"),
      (d("s_a") / na).as("mean_a"), (d("s_b") / nb).as("mean_b"),
      when(ok, round6(tstat)).as("t_welch"),
      when(ok, round6(dfW)).as("df_welch"),
      when(ok, abs(tstat) > lit(1.96)).as("significant")))
  }

  private val aggAbTestSql = {
    val (na, nb) = ("CAST(n_a AS DOUBLE)", "CAST(n_b AS DOUBLE)")
    val vaNum = s"($na * ${O.dbl("ss_a")} - ${O.dbl("s_a")} * ${O.dbl("s_a")})"
    val vbNum = s"($nb * ${O.dbl("ss_b")} - ${O.dbl("s_b")} * ${O.dbl("s_b")})"
    val va = s"($vaNum / ($na * ($na - 1)))"
    val vb = s"($vbNum / ($nb * ($nb - 1)))"
    val sea = s"($va / $na)"
    val seb = s"($vb / $nb)"
    val se2 = s"($sea + $seb)"
    val tstat = s"((${O.dbl("s_a")} / $na - ${O.dbl("s_b")} / $nb) / sqrt($se2))"
    val dfW = s"(($se2 * $se2) / ($sea * $sea / ($na - 1) + $seb * $seb / ($nb - 1)))"
    val ok = s"n_a >= 2 AND n_b >= 2 AND $vaNum > 0 AND $vbNum > 0"
    s"""WITH base AS (
       |  SELECT event_type, user_id % 2 AS arm,
       |    CAST(floor("value" * 100 + 0.5) AS DECIMAL(18,0)) AS y
       |  FROM events),
       |g AS (
       |  SELECT event_type,
       |    COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
       |    COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
       |    SUM(CASE WHEN arm = 0 THEN y END) AS s_a,
       |    SUM(CASE WHEN arm = 1 THEN y END) AS s_b,
       |    SUM(CASE WHEN arm = 0 THEN y * y END) AS ss_a,
       |    SUM(CASE WHEN arm = 1 THEN y * y END) AS ss_b
       |  FROM base GROUP BY event_type)
       |SELECT event_type, n_a, n_b,
       |  ${O.dbl("s_a")} / $na AS mean_a,
       |  ${O.dbl("s_b")} / $nb AS mean_b,
       |  CASE WHEN $ok THEN round($tstat, 6) END AS t_welch,
       |  CASE WHEN $ok THEN round($dfW, 6) END AS df_welch,
       |  CASE WHEN $ok THEN abs($tstat) > 1.96 END AS significant
       |FROM g
       |${O.OrderAll}"""
  }

  val queries: Map[String, Q] = Map(
    "agg_corr" -> Q(aggCorr _, aggCorrSql),
    "agg_ab_test" -> Q(aggAbTest _, aggAbTestSql),
    "agg_listagg" -> Q(aggListagg _, aggListaggSql),
    "agg_mode" -> Q(aggMode _, aggModeSql),
    "agg_retention" -> Q(aggRetention _, aggRetentionSql),
    "agg_count_min" -> Q(aggCountMin _, aggCountMinSql),
    "agg_heavy_hitters" -> Q(aggHeavyHitters _, aggHeavyHittersSql),
    "agg_min_by" -> Q(aggMinBy _, aggMinBySql),
    "agg_stats" -> Q(aggStats _, aggStatsSql),
    "agg_approx_percentile" -> Q(aggApproxPercentile _, aggApproxPercentileSql),
    "agg_bitmap_distinct" -> Q(aggBitmapDistinct _, aggBitmapDistinctSql),
    "agg_hist" -> Q(aggHist _, aggHistSql),
    "agg_unpivot" -> Q(aggUnpivot _, aggUnpivotSql),
    "agg_percentile" -> Q(aggPercentile _, aggPercentileSql),
    "agg_hash" -> Q(aggHash _, aggHashSql),
    "agg_distinct" -> Q(aggDistinct _, aggDistinctSql),
    "agg_approx_distinct" -> Q(aggApproxDistinct _, aggApproxDistinctSql),
    "agg_sketch_merge" -> Q(aggSketchMerge _, aggSketchMergeSql),
    "agg_rollup" -> Q(aggRollup _, aggRollupSql),
    "agg_cube" -> Q(aggCube _, aggCubeSql),
    "agg_pivot" -> Q(aggPivot _, aggPivotSql),
    "agg_udaf" -> Q(aggUdaf _, aggUdafSql),
    "agg_vector_mean" -> Q(aggVectorMean _, aggVectorMeanSql)
  )
}
