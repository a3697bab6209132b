package graft.ops

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** SURVEY.md §2.2 (projection/filter), §2.3 (joins), §2.6 (sort/top-k),
  * §2.7 (set ops).
  *
  * Reference evidence: "transform it using PySpark" (README.md:10),
  * dim lookups for SCD (README.md:6), incremental-load delta detection
  * (README.md:4), integrity reconciliation (README.md:12).
  *
  * 100 TB notes per operator are inline; the recurring themes:
  *  - dimensions are broadcast (`broadcast(dim)`) so the fact table
  *    never shuffles for a lookup join;
  *  - fact⋈fact joins shuffle on the join key once and let AQE split
  *    skewed partitions;
  *  - global top-k compiles to TakeOrderedAndProject (per-partition
  *    heap + driver merge of k rows), never a full global sort.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // ---- §2.2 projection / filter ------------------------------------

  /** Projection with renames + derived net-price column (exact decimal
    * arithmetic per Determinism rules, surfaced as double). */
  def projectDerive(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").as("qty"),
        (money(col("l_extendedprice")) * oneMinus(col("l_discount"))
          * onePlus(col("l_tax"))).cast(DoubleType).as("net_price")))

  private val projectDeriveSql =
    s"""SELECT l_orderkey, l_linenumber, l_quantity AS qty,
       |  CAST(${O.revenue} * ${O.onePlus("l_tax")} AS DOUBLE) AS net_price
       |FROM lineitem
       |${O.OrderAll}"""

  /** Compound predicate: LIKE + BETWEEN + IN + IS NOT NULL, all pushed
    * into the parquet scan by Catalyst. */
  def filterPred(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "part").filter(
        col("p_name").like("%widget%") &&
          col("p_size").between(10, 40) &&
          col("p_type").isin("ECONOMY", "PROMO") &&
          col("p_retailprice") > 500.0 &&
          col("p_brand").isNotNull))

  private val filterPredSql =
    s"""SELECT * FROM part
       |WHERE p_name LIKE '%widget%' AND p_size BETWEEN 10 AND 40
       |  AND p_type IN ('ECONOMY','PROMO') AND p_retailprice > 500.0
       |  AND p_brand IS NOT NULL
       |${O.OrderAll}"""

  // ---- §2.3 joins ---------------------------------------------------

  /** Broadcast hash join: the fact side never shuffles — the dim ships
    * to every executor. At 100 TB this is the only sane plan for
    * fact⋈dim; Spark would pick it from stats, we pin it with a hint. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "lineitem")
        .join(broadcast(t(spark, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          dsumExpr(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items")))

  private val joinBroadcastSql =
    s"""SELECT p_brand, ${O.dsumExpr(O.revenue)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |${O.OrderAll}"""

  /** Big⋈big sort-merge join (merge hint pins the plan): both sides
    * shuffle-partition on the key; at scale, bucketing both tables on
    * orderkey would eliminate this exchange entirely. */
  def joinSortMerge(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders").hint("merge")
        .join(t(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("total_price")))

  private val joinSortMergeSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
       |  ${O.dsum("l_extendedprice")} AS total_price
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |${O.OrderAll}"""

  /** Left outer join keeps orders with zero lineitems (integrity). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders")
        .join(t(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_outer")
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(
          count(col("l_orderkey")).as("n_items"),
          coalesce(dsum(col("l_quantity")), lit(0.0)).as("sum_qty")))

  private val joinLeftOuterSql =
    s"""SELECT o_orderkey, o_orderstatus, COUNT(l_orderkey) AS n_items,
       |  COALESCE(${O.dsum("l_quantity")}, 0.0) AS sum_qty
       |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderkey, o_orderstatus
       |${O.OrderAll}"""

  /** Full outer join — the SCD2 delta-detection core: staged extract vs
    * current dim, detecting adds / drops / matches in one pass. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val a = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("a_key"), col("c_mktsegment").as("a_seg"))
    val b = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("b_key"), col("c_acctbal").as("b_bal"))
    ordered(
      a.join(b, col("a_key") === col("b_key"), "full_outer")
        .select(
          coalesce(col("a_key"), col("b_key")).as("c_custkey"),
          col("a_key").isNotNull.as("in_a"),
          col("b_key").isNotNull.as("in_b"),
          col("a_seg"), col("b_bal")))
  }

  private val joinFullOuterSql =
    s"""SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       |  a.c_custkey IS NOT NULL AS in_a,
       |  b.c_custkey IS NOT NULL AS in_b,
       |  a.c_mktsegment AS a_seg, b.c_acctbal AS b_bal
       |FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) a
       |FULL JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) b
       |  ON a.c_custkey = b.c_custkey
       |${O.OrderAll}"""

  /** Left semi: customers with ≥1 order (EXISTS). No row multiplication
    * — at scale this beats join+distinct because the probe side short-
    * circuits on first match. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer")
        .join(t(spark, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))

  private val joinSemiSql =
    s"""SELECT c_custkey, c_name, c_mktsegment FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       |${O.OrderAll}"""

  /** Left anti: new-records detection for incremental load (staged ∖
    * target) — here: customers with no orders (NOT EXISTS). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer")
        .join(t(spark, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")))

  private val joinAntiSql =
    s"""SELECT c_custkey, c_name, c_acctbal FROM customer c
       |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       |${O.OrderAll}"""

  /** Null-safe equi-join (`<=>` / SQL `IS NOT DISTINCT FROM`): NULL
    * keys compare EQUAL — the one equi-key semantic plain `=` cannot
    * express. A `=` join silently drops every null-key row (NULL = NULL
    * is unknown); the common workaround, coalescing to a sentinel,
    * corrupts any real occurrence of the sentinel value. Here the
    * nullable key is derived (`nullif(nationkey % 5, 0)`) so the NULL
    * bucket provably participates: the output's NULL row counts the
    * null-key customers × null-key suppliers.
    *
    * Scale note: Catalyst treats `<=>` as a HASHABLE join key (NULL
    * hashes like any other value), so this plans as a broadcast hash
    * join — NOT the BroadcastNestedLoopJoin a residual-only predicate
    * would force (pinned in PlanSpec). At 100 TB the caveat is skew:
    * a mostly-NULL key column makes NULL the hottest bucket of a
    * shuffled `<=>` join; broadcast the dim side or split the NULL
    * stripe out and union.
    *
    * The pair COUNT itself never materializes the many-to-many join:
    * with only the join key in scope, COUNT(*) per key factorizes into
    * count_left(key) × count_right(key), so each side pre-aggregates
    * (map-side partial, one row per key) and the `<=>` join runs on
    * the TINY aggregates. Catalyst does not push aggregates through
    * joins on its own — the sf1 bench caught the naive shape growing
    * 16× for 10× data (|bucket|² pair rows materialized just to be
    * counted); this shape grows with the KEY cardinality, not the
    * pair count. */
  def joinNullsafe(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(expr("nullif(c_nationkey % 5, 0)").as("ck"))
    val supp = t(spark, dir, "supplier")
      .select(expr("nullif(s_nationkey % 5, 0)").as("sk"))
    ordered(nullsafePairCounts(cust, "ck", supp, "sk"))
  }

  /** COUNT(*) per null-safe join key, factorized BELOW the join:
    * each side pre-aggregates to one row per key and the `<=>` join
    * multiplies the counts — pair rows never materialize. One
    * definition shared by the keyed query and PropertySpec's
    * `nullsafe-count-factorization` law (≡ join-then-count on
    * generated sides, nulls and one-sided keys included). */
  private[graft] def nullsafePairCounts(a: DataFrame, ak: String,
      b: DataFrame, bk: String): DataFrame = {
    val aN = a.groupBy(col(ak)).agg(count(lit(1)).as("nc"))
    val bN = b.groupBy(col(bk)).agg(count(lit(1)).as("ns"))
    aN.join(broadcast(bN), col(ak) <=> col(bk))
      .select(col(ak), (col("nc") * col("ns")).as("n_pairs"))
  }

  private val joinNullsafeSql =
    s"""SELECT a.ck, COUNT(*) AS n_pairs
       |FROM (SELECT NULLIF(c_nationkey % 5, 0) AS ck FROM customer) a
       |JOIN (SELECT NULLIF(s_nationkey % 5, 0) AS sk FROM supplier) b
       |  ON a.ck IS NOT DISTINCT FROM b.sk
       |GROUP BY a.ck
       |${O.OrderAll}"""

  /** Band/interval join: event pairs of the same user within 10 minutes.
    * The equi component (user_id) keeps this a hash/sort-merge join with
    * a residual range predicate — never a nested-loop cross product.
    * 100 TB: same-key co-location + AQE skew split; for pure range joins
    * (no equi key) bucketize time into coarse buckets first. */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val e1 = t(spark, dir, "events")
      .select(col("user_id"), col("ts").as("ts1"), col("event_id").as("id1"))
    val e2 = t(spark, dir, "events")
      .select(col("user_id").as("uid2"), col("ts").as("ts2"))
    ordered(
      e1.join(e2,
        col("user_id") === col("uid2") &&
          col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 10 MINUTES"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs")))
  }

  private val joinRangeSql =
    s"""SELECT e1.user_id, COUNT(*) AS n_pairs
       |FROM events e1 JOIN events e2
       |  ON e1.user_id = e2.user_id AND e2.ts > e1.ts
       | AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
       |GROUP BY e1.user_id
       |${O.OrderAll}"""

  /** Backward as-of core over any (user_id, ts, event_type, event_id)
    * frame — also exercised by PropertySpec on generated streams. */
  private[graft] def asofBackwardFrom(ev0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = ev0
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("type_rank", when(col("event_type") === "view", 0).otherwise(1))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("type_rank"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_us",
        max(when(col("event_type") === "view", epochUs(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        epochUs(col("ts")).as("ts_us"), col("last_view_us"))
  }

  /** As-of (point-in-time) join: for each purchase event, the latest
    * 'view' of the same user at-or-before it. Implemented the scalable
    * way — one shuffle on user_id, a single ordered window pass with a
    * running max — instead of a per-row range join. Views sort before
    * purchases at equal ts so ties are included (v.ts <= p.ts). */
  def joinAsof(spark: SparkSession, dir: String): DataFrame =
    ordered(asofBackwardFrom(t(spark, dir, "events")))

  private val joinAsofSql =
    s"""SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       |  epoch_us(max(v.ts)) AS last_view_us
       |FROM events p LEFT JOIN events v
       |  ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
       |WHERE p.event_type = 'purchase'
       |GROUP BY p.event_id, p.user_id, p.ts
       |${O.OrderAll}"""

  /** Forward as-of join (pandas merge_asof direction='forward'): each
    * purchase paired with the user's NEXT view at-or-after it — the
    * attribution-window twin of `join_asof`'s lookback. Same
    * window-over-union rewrite, mirrored: min over the FOLLOWING
    * frame, with views ranked AFTER purchases on ts ties (the reverse
    * of `join_asof`'s rank) so a same-instant view sits inside the
    * following frame and counts as "next" — exactly the oracle's
    * `v.ts >= p.ts`. One shuffle on user_id, sorted once — never the
    * per-row range join a naive spelling produces. */
  private[graft] def asofForwardFrom(ev0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = ev0
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("type_rank", when(col("event_type") === "view", 1).otherwise(0))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("type_rank"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.withColumn("next_view_us",
        min(when(col("event_type") === "view", epochUs(col("ts")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        epochUs(col("ts")).as("ts_us"), col("next_view_us"))
  }

  def joinAsofForward(spark: SparkSession, dir: String): DataFrame =
    ordered(asofForwardFrom(t(spark, dir, "events")))

  private val joinAsofForwardSql =
    s"""SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       |  epoch_us(min(v.ts)) AS next_view_us
       |FROM events p LEFT JOIN events v
       |  ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts >= p.ts
       |WHERE p.event_type = 'purchase'
       |GROUP BY p.event_id, p.user_id, p.ts
       |${O.OrderAll}"""

  /** Nearest as-of join (pandas merge_asof direction='nearest'): each
    * purchase paired with the view MINIMIZING |Δt|, either direction,
    * ties resolved to the earlier (backward) view. Completes the as-of
    * family (backward `join_asof`, forward `join_asof_forward`). Same
    * window-over-union rewrite run TWICE over one user_id shuffle —
    * the two window specs share partitioning, so Spark adds a second
    * per-partition sort but never a second exchange; the nearest pick
    * is then a pure row-local CASE. A naive spelling (theta join on
    * |Δt| argmin) is a per-row range scan — this is one shuffle. */
  private[graft] def asofNearestFrom(ev0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = ev0
      .filter(col("event_type").isin("view", "purchase"))
      // backward pass ranks same-ts views BEFORE purchases (v.ts <= p.ts),
      // forward pass ranks them AFTER (v.ts >= p.ts) — mirroring the
      // two oracle inequalities exactly
      .withColumn("rank_b", when(col("event_type") === "view", 0).otherwise(1))
      .withColumn("rank_f", when(col("event_type") === "view", 1).otherwise(0))
    val wB = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("rank_b"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("rank_f"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val viewUs = when(col("event_type") === "view", epochUs(col("ts")))
    ev.withColumn("_lv", max(viewUs).over(wB))
      .withColumn("_nv", min(viewUs).over(wF))
      .filter(col("event_type") === "purchase")
      .withColumn("_us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("_us").as("ts_us"),
        when(col("_lv").isNull, col("_nv"))
          .when(col("_nv").isNull, col("_lv"))
          .when(col("_us") - col("_lv") <= col("_nv") - col("_us"), col("_lv"))
          .otherwise(col("_nv")).as("nearest_view_us"))
  }

  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame =
    ordered(asofNearestFrom(t(spark, dir, "events")))

  private val joinAsofNearestSql =
    s"""SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       |  CASE WHEN lv IS NULL THEN nv WHEN nv IS NULL THEN lv
       |       WHEN epoch_us(p.ts) - lv <= nv - epoch_us(p.ts) THEN lv
       |       ELSE nv END AS nearest_view_us
       |FROM (
       |  SELECT p.event_id, p.user_id, p.ts,
       |    epoch_us(max(v.ts) FILTER (WHERE v.ts <= p.ts)) AS lv,
       |    epoch_us(min(v.ts) FILTER (WHERE v.ts >= p.ts)) AS nv
       |  FROM events p LEFT JOIN events v
       |    ON v.user_id = p.user_id AND v.event_type = 'view'
       |  WHERE p.event_type = 'purchase'
       |  GROUP BY p.event_id, p.user_id, p.ts) p
       |${O.OrderAll}"""

  /** Interval-overlap join via GRID BINNING — the scale path for
    * interval×interval joins (genomics, time-range analytics): a naive
    * theta join `a.start <= b.end AND b.start <= a.end` has no equi
    * component and degenerates to a nested-loop cross product. Binning
    * both sides to day cells restores an equi key (cell), the overlap
    * predicate runs as a residual on cell-collided pairs only, and a
    * final distinct removes pairs found via multiple shared cells.
    * At 100 TB, cell width is the knob: ~the typical interval length,
    * so each interval lands in O(1) cells and each cell holds a
    * bounded population. The DuckDB oracle runs the NAIVE theta join —
    * the bin join must produce exactly its result.
    *
    * Sides here: per-(user, day) activity spans from events × 10
    * deterministic 30-hour promo windows. */
  def joinIntervalBin(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "events")
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(min(col("ts")).as("a_start"), max(col("ts")).as("a_end"))
    val b = spark.range(10).select(
      col("id").as("promo_id"),
      expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id * 67, 0, 0)")
        .as("b_start"),
      expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id * 67 + 30, 0, 0)")
        .as("b_end"))
    val bCells = b.select(col("promo_id"), col("b_start"), col("b_end"),
      explode(expr(
        "sequence(date_trunc('DAY', b_start), date_trunc('DAY', b_end), interval 1 day)"))
        .as("day"))
    val pairs = a.join(bCells, Seq("day"))
      .filter(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .select(col("promo_id"), col("user_id"), col("day"))
      .distinct()
    ordered(
      pairs.groupBy(col("promo_id"))
        .agg(count(lit(1)).as("n_user_days"),
          countDistinct(col("user_id")).as("n_users")))
  }

  private val joinIntervalBinSql =
    s"""WITH a AS (
       |  SELECT user_id, date_trunc('day', ts) AS day,
       |    min(ts) AS a_start, max(ts) AS a_end
       |  FROM events GROUP BY 1, 2),
       |b AS (
       |  SELECT i AS promo_id,
       |    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 67) HOUR AS b_start,
       |    TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 67 + 30) HOUR AS b_end
       |  FROM range(10) t(i)),
       |p AS (
       |  SELECT promo_id, user_id, day
       |  FROM a JOIN b ON a.a_start <= b.b_end AND b.b_start <= a.a_end)
       |SELECT promo_id, COUNT(*) AS n_user_days,
       |  COUNT(DISTINCT user_id) AS n_users
       |FROM p GROUP BY promo_id
       |${O.OrderAll}"""

  /** Full star join: the big fact against every dimension at once —
    * the canonical warehouse query shape. All five dims broadcast, so
    * the fact streams through five build-side hash joins with zero
    * fact-side shuffles before the final aggregation exchange. */
  def joinStar(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    ordered(
      li.join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("p_type"))
        .agg(
          dsumExpr(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"),
          countDistinct(col("s_suppkey")).as("n_suppliers")))
  }

  private val joinStarSql =
    s"""SELECT r_name, p_type, ${O.dsumExpr(O.revenue)} AS revenue,
       |  COUNT(*) AS n_items, COUNT(DISTINCT s_suppkey) AS n_suppliers
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, p_type
       |${O.OrderAll}"""

  /** Cross join of two tiny axes for a dense reporting grid. */
  def joinCross(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "region").select(col("r_name"))
        .crossJoin(
          t(spark, dir, "lineitem").select(col("l_returnflag")).distinct()))

  private val joinCrossSql =
    s"""SELECT r_name, l_returnflag
       |FROM region CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)
       |${O.OrderAll}"""

  // ---- §2.6 sorts / top-k ------------------------------------------

  /** Global multi-key sort (range-partitioned exchange + local sort). */
  def sortMulti(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc,
        col("o_orderkey").asc)

  private val sortMultiSql =
    """SELECT o_orderpriority, o_totalprice, o_orderkey FROM orders
      |ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC"""

  /** Global top-k → TakeOrderedAndProject: per-partition heap of k, then
    * a k-row driver merge. No global sort, no full shuffle — the 100 TB
    * version is identical. */
  def topkGlobal(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .limit(10)

  private val topkGlobalSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 10"""

  /** Per-group top-k via ranking window (top-2 parts by revenue per
    * brand). One shuffle on the group key; the window is a single sorted
    * pass per partition. */
  def topkGrouped(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(dsumExpr(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
        .as("revenue"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey").asc)
    ordered(
      rev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2))
  }

  private val topkGroupedSql =
    s"""WITH rev AS (
       |  SELECT p_brand, p_partkey, ${O.dsumExpr(O.revenue)} AS revenue
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand, p_partkey)
       |SELECT * FROM (
       |  SELECT p_brand, p_partkey, revenue,
       |    ROW_NUMBER() OVER (PARTITION BY p_brand
       |      ORDER BY revenue DESC, p_partkey ASC) AS rn
       |  FROM rev)
       |WHERE rn <= 2
       |${O.OrderAll}"""

  // ---- §2.7 set operations -----------------------------------------

  /** Union-all + distinct: full-load re-pull ∪ incremental delta with an
    * overlapping window; distinct collapses the overlap. */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), dateStr(col("o_orderdate")).as("o_date"),
        col("o_orderstatus"))
    val a = o.filter(col("o_date") < "1999-01-01")
    val b = o.filter(col("o_date") >= "1998-01-01")
    ordered(a.unionByName(b).distinct())
  }

  private val setUnionSql =
    s"""SELECT o_orderkey, ${O.dateStr("o_orderdate")} AS o_date, o_orderstatus
       |FROM orders WHERE ${O.dateStr("o_orderdate")} < '1999-01-01'
       |UNION
       |SELECT o_orderkey, ${O.dateStr("o_orderdate")} AS o_date, o_orderstatus
       |FROM orders WHERE ${O.dateStr("o_orderdate")} >= '1998-01-01'
       |${O.OrderAll}"""

  /** Intersect: customers appearing in two independent extracts. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    ordered(
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(
          o.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey"))))
  }

  private val setIntersectSql =
    s"""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       |INTERSECT
       |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
       |${O.OrderAll}"""

  /** Except: load-integrity audit — keys present in the dim but missing
    * from the fact extract. */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "customer").select(col("c_custkey"))
        .except(
          t(spark, dir, "orders").select(col("o_custkey").as("c_custkey"))))

  private val setExceptSql =
    s"""SELECT c_custkey FROM customer
       |EXCEPT
       |SELECT o_custkey AS c_custkey FROM orders
       |${O.OrderAll}"""

  /** Bag-semantics except: one occurrence removed per match, duplicates
    * preserved — the multiset counterpart of `set_except` (load audits
    * care about *how many* copies went missing, not just which keys). */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders").select(col("o_custkey"))
        .exceptAll(
          t(spark, dir, "customer").select(col("c_custkey").as("o_custkey"))))

  private val setExceptAllSql =
    s"""SELECT o_custkey FROM orders
       |EXCEPT ALL
       |SELECT c_custkey AS o_custkey FROM customer
       |${O.OrderAll}"""

  /** Bag-semantics intersect: min(multiplicity) occurrences survive per
    * key — the multiset counterpart of `set_intersect`, completing the
    * §2.7 family (UNION / INTERSECT / EXCEPT each in both DISTINCT and
    * ALL flavors). A reconciliation between two fact extracts keeps as
    * many copies of a key as BOTH extracts agree on. Spark plans
    * `intersectAll` as count-per-key aggregation + generate — one
    * shuffle per side on the compared columns, no join explosion; at
    * 100 TB the shape is two hash aggs + an equi-join on the full row,
    * identical to `set_except_all`'s. */
  def setIntersectAll(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders").select(col("o_custkey"))
        .intersectAll(
          t(spark, dir, "lineitem")
            .select(col("l_suppkey").as("o_custkey"))))

  private val setIntersectAllSql =
    s"""SELECT o_custkey FROM orders
       |INTERSECT ALL
       |SELECT l_suppkey AS o_custkey FROM lineitem
       |${O.OrderAll}"""

  /** As-of join with a TOLERANCE bound (pandas `merge_asof(tolerance=)`):
    * the latest view at most 30 minutes before each purchase — matches
    * older than the bound are discarded, the left row survives with
    * NULL. Same single-shuffle union-window shape as `join_asof` (the
    * running max rides one user_id partition sort; the probe side never
    * joins row-by-row); the tolerance is applied as a row-local filter
    * on the matched timestamp, so it costs nothing at any scale. The
    * un-bounded `join_asof` match is emitted alongside for contrast.
    * Completes the as-of family: backward / forward / nearest / SCD2 /
    * tolerance. */
  private[graft] val AsofTolUs = 30L * 60L * 1000000L

  private[graft] def asofToleranceFrom(ev0: DataFrame): DataFrame =
    asofBackwardFrom(ev0)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_view_us"),
        when(col("ts_us") - col("last_view_us") <= AsofTolUs,
          col("last_view_us")).as("within_tol_us"))

  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame =
    ordered(asofToleranceFrom(t(spark, dir, "events")))

  private val joinAsofToleranceSql =
    s"""SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       |  epoch_us(max(v.ts)) AS last_view_us,
       |  CASE WHEN epoch_us(p.ts) - epoch_us(max(v.ts)) <= ${30 * 60 * 1000000L}
       |    THEN epoch_us(max(v.ts)) END AS within_tol_us
       |FROM events p LEFT JOIN events v
       |  ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
       |WHERE p.event_type = 'purchase'
       |GROUP BY p.event_id, p.user_id, p.ts
       |${O.OrderAll}"""

  // ---- sampling ------------------------------------------------------

  /** Exact, deterministic stratified sampling: the first 10 customers
    * per market segment under a content-keyed pseudo-random total order
    * (`md5(custkey)` — identical bytes on any engine, any partitioning,
    * any run). Spark's own `sampleBy` is Bernoulli per row: the stratum
    * sizes WOBBLE (binomial, not exact) and depend on a seed+partition
    * layout, so a resampled pipeline is neither reproducible across
    * engines nor auditable. This spelling trades one shuffle on the
    * stratum key for exact-n, engine-portable strata.
    *
    * 100 TB: window row_number over (stratum, hash-order) is one
    * hash-partitioned sort per stratum; with k strata ≪ cores, skew is
    * the stratum-size imbalance itself — for tiny n-per-stratum, a
    * TakeOrderedAndProject per stratum (`topk_grouped` shape) bounds
    * memory at n rows/partition, which is exactly what the rank filter
    * compiles to via WindowGroupLimit. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
    ordered(
      t(spark, dir, "customer")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("c_mktsegment"), col("rk"), col("c_custkey"),
          col("c_name")))
  }

  private val sampleStratifiedSql =
    s"""SELECT c_mktsegment, rk, c_custkey, c_name FROM (
       |  SELECT c_mktsegment, c_custkey, c_name,
       |    row_number() OVER (PARTITION BY c_mktsegment
       |      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rk
       |  FROM customer)
       |WHERE rk <= 10
       |${O.OrderAll}"""

  /** The ranked bottom-k subplan, pre-checkpoint — exposed so PlanSpec
    * can pin the TakeOrderedAndProject shape. */
  private[graft] def bottomKRanked(o: DataFrame, k: Int): DataFrame =
    o.select(col("o_orderkey"),
        md5(concat(lit("g6"), col("o_orderkey").cast("string"))).as("h"))
      .orderBy(col("h"), col("o_orderkey")).limit(k)

  /** Bottom-k (min-wise) UNIFORM sample — the mergeable sampling
    * sketch next to [[sampleStratified]]'s per-stratum quota: the k
    * rows whose seeded hash `md5('g6' ∥ key)` ranks smallest. Three
    * properties fall out of the hash ranking:
    * (1) uniform-without-replacement and REPRODUCIBLE — any engine,
    * any partitioning, any rerun draws the same sample (`rand()`
    * sampling is none of those; DuckDB replays this exactly);
    * (2) MERGEABLE — bottom-k of a union is bottom-k of the merged
    * per-part bottom-ks, which is precisely what Spark plans:
    * `TakeOrderedAndProject` keeps a k-row heap per partition and
    * merges heaps at the driver — no global sort, no shuffle of the
    * input (the same shape as `topk_global`); at 100 TB each of 10k
    * tasks ships 100 rows, nothing else moves;
    * (3) the sample IS a KMV cardinality sketch (Bar-Yossef et al.
    * 2002): normalizing the k-th smallest hash to u ∈ (0,1),
    * n̂ = (k−1)/u estimates |distinct keys| with σ ≈ n/√(k−2) —
    * pinned via `kmv_ok` (n̂ within 25% ≈ 2.5σ of the true count;
    * hash family fixed ⇒ deterministic on fixed corpora, verified at
    * all three SFs — the LSH-recall pinning pattern).
    * The one driver-side head() pulls a single k-th-hash row. */
  def sampleBottomK(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val o = t(spark, dir, "orders")
    val ranked = bottomKRanked(o, k)
      .lineageCut() // one job: reused for the k-th hash and the output
    val kth = ranked.agg(max(col("h"))).head().getString(0)
    val u = java.lang.Long.parseLong(kth.substring(0, 15), 16).toDouble /
      math.pow(16, 15)
    val est = (k - 1).toDouble / u
    val trueN = o.count()
    val kmvOk = math.abs(est - trueN) <= 0.25 * trueN
    ordered(ranked.select(col("o_orderkey"), col("h"), lit(kmvOk).as("kmv_ok")))
  }

  private val sampleBottomKSql =
    s"""SELECT o_orderkey, h, TRUE AS kmv_ok FROM (
       |  SELECT o_orderkey,
       |    md5('g6' || CAST(o_orderkey AS VARCHAR)) AS h
       |  FROM orders ORDER BY 2, 1 LIMIT 100)
       |${O.OrderAll}"""

  /** WEIGHTED sample without replacement — completing the sampling
    * family (exact-quota strata / uniform bottom-k / weighted): each
    * lineitem is drawn with probability increasing in its integer
    * weight (l_quantity ∈ 1..50) via hash replication: conceptually
    * the row enters the uniform bottom-k lottery w times, and its
    * ticket is the MINIMUM of w per-replica hashes — a row with twice
    * the weight holds twice the tickets, which is the min-wise
    * estimator behind weighted KMV / priority sampling (Duffield,
    * Lund, Thorup 2007; the exponential-rank A-ES scheme computes the
    * same order statistic in closed form but needs `ln(u)/w` floats
    * the oracle cannot replay bit-for-bit; the integer replica-min is
    * the cross-engine-exact spelling, and the weighting law itself is
    * pinned by a PropertySpec frequency test).
    *
    * The replica min is computed ROW-LOCALLY as
    * `array_min(transform(sequence(1, w), h))` — a ≤50-element array
    * per row inside whole-stage codegen, NO explode and NO groupBy: at
    * 100 TB the naive explode-then-regroup spelling shuffles w× the
    * input; this one shuffles nothing at all, because the global
    * bottom-k then compiles to TakeOrderedAndProject (per-partition
    * k-row heaps, driver merge — `sample_bottomk`'s shape). Per-replica
    * hashes are seeded md5 over (key, replica) — the engine-portable
    * family the whole §2.6 suite uses, and genuinely INDEPENDENT
    * draws: a linear congruential h(key, i) was measured (PropertySpec
    * frequency law) to under-weight heavy rows, because over i it is
    * an arithmetic progression whose min tracks the key's base hash,
    * not the replica count. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val k = 50
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("w"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("string").as("key"))
    // min_ticket = the codegen'd twin of the HOF spelling
    // array_min(transform(sequence(1,w), i -> md5('ws'||key||':'||i))):
    // bit-identical draws (PropertySpec pins HOF == expression ==
    // sequential reference), but one tight loop per row instead of four
    // interpreted expression nodes + three allocations per draw —
    // measured 13 s → <1 s at sf0.1 (600k rows × ~25 draws).
    graft.functions.MinTicket.register(spark)
    // CPU-heavy map over a small file: a ~10 MB fixture scans as ~3
    // splits, so the ~25-draw/row lottery would run on 3 of 32 cores —
    // floor the parallelism (see [[graft.core.Spread]]). Keyed on the
    // row-unique lottery key (r15): round-robin paid a 0.64 s
    // sort-before-repartition on the 600k-row exchange input.
    val spread = graft.core.Spread.cpuBound(spark, li, col("key"))
    ordered(
      spread.select(col("l_orderkey"), col("l_linenumber"), col("w"),
          expr("min_ticket(key, w)").as("ticket"))
        .orderBy(col("ticket"), col("l_orderkey"), col("l_linenumber"))
        .limit(k))
  }

  private val sampleWeightedSql =
    s"""SELECT l_orderkey, l_linenumber, w, ticket FROM (
       |  SELECT l_orderkey, l_linenumber,
       |    CAST(l_quantity AS BIGINT) AS w,
       |    list_min(list_transform(
       |      generate_series(1, CAST(l_quantity AS BIGINT)),
       |      i -> md5('ws' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)
       |                || ':' || CAST(i AS VARCHAR)))) AS ticket
       |  FROM lineitem
       |  ORDER BY 4, 1, 2 LIMIT 50)
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "sample_stratified" -> Q(sampleStratified _, sampleStratifiedSql),
    "sample_bottomk" -> Q(sampleBottomK _, sampleBottomKSql),
    "sample_weighted" -> Q(sampleWeighted _, sampleWeightedSql),
    "set_intersect_all" -> Q(setIntersectAll _, setIntersectAllSql),
    "set_except_all" -> Q(setExceptAll _, setExceptAllSql),
    "project_derive" -> Q(projectDerive _, projectDeriveSql),
    "filter_pred" -> Q(filterPred _, filterPredSql),
    "join_broadcast" -> Q(joinBroadcast _, joinBroadcastSql),
    "join_sortmerge" -> Q(joinSortMerge _, joinSortMergeSql),
    "join_left_outer" -> Q(joinLeftOuter _, joinLeftOuterSql),
    "join_full_outer" -> Q(joinFullOuter _, joinFullOuterSql),
    "join_semi" -> Q(joinSemi _, joinSemiSql),
    "join_anti" -> Q(joinAnti _, joinAntiSql),
    "join_nullsafe" -> Q(joinNullsafe _, joinNullsafeSql),
    "join_range" -> Q(joinRange _, joinRangeSql),
    "join_asof" -> Q(joinAsof _, joinAsofSql),
    "join_asof_nearest" -> Q(joinAsofNearest _, joinAsofNearestSql),
    "join_asof_tolerance" -> Q(joinAsofTolerance _, joinAsofToleranceSql),
    "join_asof_forward" -> Q(joinAsofForward _, joinAsofForwardSql),
    "join_interval_bin" -> Q(joinIntervalBin _, joinIntervalBinSql),
    "join_cross" -> Q(joinCross _, joinCrossSql),
    "join_star" -> Q(joinStar _, joinStarSql),
    "sort_multi" -> Q(sortMulti _, sortMultiSql),
    "topk_global" -> Q(topkGlobal _, topkGlobalSql),
    "topk_grouped" -> Q(topkGrouped _, topkGroupedSql),
    "set_union" -> Q(setUnion _, setUnionSql),
    "set_intersect" -> Q(setIntersect _, setIntersectSql),
    "set_except" -> Q(setExcept _, setExceptSql)
  )
}
