package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** SURVEY.md §2.5 — window functions.
  *
  * Reference evidence: latest-record / change-tracking patterns implied
  * by incremental load + SCD (README.md:4,6).
  *
  * 100 TB notes: a window = one shuffle on partitionBy keys + one sorted
  * pass per partition. All windows here partition on a high-cardinality
  * key (custkey/partkey/user_id), so partitions stay small and skew-free;
  * never run an empty-partitionBy window over big data (single-task
  * global sort).
  */
object Windows {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Ranking family: top-3 orders per customer. row_number gets the
    * orderkey tiebreak (total order); rank/dense_rank rank peers by
    * price only — both deterministic. */
  def winRank(spark: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    val total = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    ordered(
      t(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(total))
        .withColumn("rnk", rank().over(byPrice))
        .withColumn("drnk", dense_rank().over(byPrice))
        .filter(col("rn") <= 3))
  }

  private val winRankSql =
    s"""SELECT * FROM (
       |  SELECT o_custkey, o_orderkey, o_totalprice,
       |    ROW_NUMBER() OVER (PARTITION BY o_custkey
       |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
       |    RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
       |    DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk
       |  FROM orders)
       |WHERE rn <= 3
       |${O.OrderAll}"""

  /** lag/lead: successive-shipment price delta per part (change
    * tracking). Per-row double subtraction — deterministic. */
  def winLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    ordered(
      t(spark, dir, "lineitem")
        .withColumn("prev_price",
          lag(col("l_extendedprice"), 1).over(w))
        .withColumn("next_price",
          lead(col("l_extendedprice"), 1).over(w))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          dateStr(col("l_shipdate")).as("ship_date"), col("l_extendedprice"),
          col("prev_price"), col("next_price"),
          (col("l_extendedprice") - col("prev_price")).as("delta")))
  }

  private val winLagLeadSql =
    s"""SELECT l_partkey, l_orderkey, l_linenumber,
       |  ${O.dateStr("l_shipdate")} AS ship_date, l_extendedprice,
       |  LAG(l_extendedprice, 1) OVER w AS prev_price,
       |  LEAD(l_extendedprice, 1) OVER w AS next_price,
       |  l_extendedprice - LAG(l_extendedprice, 1) OVER w AS delta
       |FROM lineitem
       |WINDOW w AS (PARTITION BY l_partkey
       |  ORDER BY l_shipdate, l_orderkey, l_linenumber)
       |${O.OrderAll}"""

  /** Sliding ROWS frame: decimal-exact moving sum of the last 3 events
    * per user (frame sums are sequential → exact on both engines). */
  def winFrameRows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    ordered(
      t(spark, dir, "events")
        .withColumn("mov3",
          sum(money(col("value"))).over(w).cast("double"))
        .select(col("event_id"), col("user_id"), col("value"), col("mov3")))
  }

  private val winFrameRowsSql =
    s"""SELECT event_id, user_id, value,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov3
       |FROM events
       |${O.OrderAll}"""

  /** RANGE frame over time: trailing 1-hour event count per user, on an
    * epoch-µs order key (exact integer range on both engines). */
  def winFrameRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    ordered(
      t(spark, dir, "events")
        .select(col("event_id"), col("user_id"),
          epochUs(col("ts")).as("ts_us"))
        .withColumn("cnt_1h", count(lit(1)).over(w)))
  }

  private val winFrameRangeSql =
    s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
       |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS cnt_1h
       |FROM events
       |${O.OrderAll}"""

  /** Distribution family: acctbal quartiles per nation. Total ORDER BY
    * (acctbal, custkey) makes ntile/percent_rank/cume_dist deterministic.
    * percent_rank/cume_dist are exact rationals (k/n of the same ints on
    * both engines → bit-identical doubles), so they are NOT rounded:
    * round(·,6) of an exact value like 333/640 = 0.5203125 ties at the
    * 7th digit and the engines round ties differently (found at sf0.1). */
  def winDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    ordered(
      t(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w)))
  }

  private val winDistributionSql =
    s"""SELECT c_nationkey, c_custkey, c_acctbal,
       |  NTILE(4) OVER w AS quartile,
       |  PERCENT_RANK() OVER w AS pct_rank,
       |  CUME_DIST() OVER w AS cume
       |FROM customer
       |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
       |${O.OrderAll}"""

  /** first/last/nth over the full-partition frame: each customer's
    * first, latest, and second order. Total window order (date, key)
    * keeps the picks deterministic. */
  def winFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ordered(
      t(spark, dir, "orders")
        .select(col("o_custkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
        .distinct())
  }

  private val winFirstLastSql =
    s"""SELECT DISTINCT o_custkey,
       |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
       |  LAST_VALUE(o_orderkey) OVER w AS last_order,
       |  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
       |FROM orders
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |${O.OrderAll}"""

  /** Event-level sessionization seam — the lag+cumsum classic: a gap
    * ≥ `gapSec` starts a new session; a running sum of the gap flags
    * numbers the sessions per user. Exposed for the PropertySpec gap
    * law (every within-session gap < gapSec, every session break
    * ≥ gapSec, session count = 1 + #breaks) on generated timelines. */
  private[graft] def sessionized(events: DataFrame, gapSec: Long): DataFrame = {
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val running = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_session",
        when(col("ts").cast("long") - lag(col("ts"), 1).over(byTs).cast("long")
          >= gapSec, 1)
          .when(lag(col("ts"), 1).over(byTs).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(running))
  }

  /** Batch sessionization over the events table (gap 15 min). Same
    * semantics as the streaming `session_window` (its oracle is this
    * exact SQL), expressed as two chained windows. */
  def winSessionize(spark: SparkSession, dir: String): DataFrame = {
    ordered(
      sessionized(Tables.load(spark, dir, "events"), 15 * 60)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .drop("session_id"))
  }

  // epoch-second subtraction matches the streaming oracle's
  // ts - lag(ts) >= INTERVAL 15 MINUTE on µs-precision timestamps
  // (cast to long truncates µs identically on both engines).
  private val winSessionizeSql =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN epoch_us(ts) // 1000000
       |        - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
       |      >= 15 * 60 THEN 1
       |    WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
       |    ELSE 0 END AS new_session
       |  FROM events),
       |sessions AS (
       |  SELECT user_id, ts, value,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM marked)
       |SELECT user_id,
       |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       |  COUNT(*) AS n_events, ${O.dsum("value")} AS sum_value
       |FROM sessions GROUP BY user_id, session_id
       |${O.OrderAll}"""

  /** Running COUNT(DISTINCT) over a window — Spark (like ANSI engines
    * generally) refuses DISTINCT aggregates in window frames, so this
    * is the standard two-window rewrite: flag each row that is the
    * FIRST occurrence of its (part, supplier) pair in ship order, then
    * running-sum the flags per part. Same shuffle profile as any
    * windowed query (one exchange on the partition key, sorted within);
    * no distinct-set state materializes anywhere. Tiebreak on
    * (orderkey, linenumber) makes "first" total, so both engines flag
    * the same row. */
  def winCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val first = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    val run = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    ordered(
      Tables.load(spark, dir, "lineitem")
        .withColumn("_first",
          when(row_number().over(first) === 1, 1L).otherwise(0L))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          dateStr(col("l_shipdate")).as("ship_date"),
          sum(col("_first")).over(run).as("suppliers_so_far")))
  }

  private val winCountDistinctSql =
    s"""WITH f AS (
       |  SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
       |    CASE WHEN ROW_NUMBER() OVER (
       |        PARTITION BY l_partkey, l_suppkey
       |        ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC) = 1
       |      THEN 1 ELSE 0 END AS fst
       |  FROM lineitem)
       |SELECT l_partkey, l_orderkey, l_linenumber,
       |  ${O.dateStr("l_shipdate")} AS ship_date,
       |  CAST(SUM(fst) OVER (
       |    PARTITION BY l_partkey
       |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC)
       |    AS BIGINT) AS suppliers_so_far
       |FROM f
       |${O.OrderAll}"""

  /** Ordered time-constrained FUNNEL (ClickHouse `windowFunnel`, the
    * product-analytics staple), expressed relationally: per user, first
    * signup → first view within 1 day OF THAT signup → first purchase
    * within 1 day of that view; output = stage timestamps (epoch-µs,
    * NULL where the funnel broke) + deepest stage reached.
    *
    * Shape: one map-side-combined min-agg per stage + user-keyed
    * equi-joins whose probe side SHRINKS monotonically (stage N+1 only
    * scans events of users who completed stage N — at 100 TB the
    * conversion decay is the optimizer's friend: each later stage is a
    * smaller broadcast/semi filter). The single-pass alternative
    * (sessionize + per-user sorted scan via collect_list) holds whole
    * user histories in memory; the per-stage spelling never does —
    * each stage's agg carries one (user, min_ts) row per user per
    * mapper. Timestamps leave as epoch-µs longs (Determinism rule:
    * TimestampType never exits a query). */
  def winFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(t(spark, dir, "events"))

  /** The funnel over an arbitrary (user_id, ts, event_type) frame —
    * exposed so PropertySpec can pin the stage laws on generated event
    * sequences (boundary gaps, missing stages, pre-signup purchases). */
  private[graft] def funnelOf(e: DataFrame): DataFrame = {
    def stage(from: DataFrame, prevTs: String, typ: String, outTs: String) =
      e.filter(col("event_type") === typ)
        .join(from.select(col("user_id"), col(prevTs)), Seq("user_id"))
        .filter(col("ts") > col(prevTs) &&
          col("ts") <= col(prevTs) + expr("INTERVAL 1 DAY"))
        .groupBy(col("user_id")).agg(min(col("ts")).as(outTs))
    val s = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val v = stage(s, "t0", "view", "t1")
    val p = stage(v, "t1", "purchase", "t2")
    ordered(s
      .join(v, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        epochUs(col("t0")).as("signup_us"),
        epochUs(col("t1")).as("view_us"),
        epochUs(col("t2")).as("purchase_us"),
        (lit(1) + col("t1").isNotNull.cast("int")
          + col("t2").isNotNull.cast("int")).as("stage")))
  }

  private val winFunnelSql =
    s"""WITH s AS (
       |  SELECT user_id, min(ts) AS t0 FROM events
       |  WHERE event_type = 'signup' GROUP BY 1),
       |v AS (
       |  SELECT e.user_id, min(e.ts) AS t1 FROM events e
       |  JOIN s ON s.user_id = e.user_id
       |    AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL 1 DAY
       |  WHERE e.event_type = 'view' GROUP BY 1),
       |p AS (
       |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
       |  JOIN v ON v.user_id = e.user_id
       |    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
       |  WHERE e.event_type = 'purchase' GROUP BY 1)
       |SELECT s.user_id, epoch_us(t0) AS signup_us, epoch_us(t1) AS view_us,
       |  epoch_us(t2) AS purchase_us,
       |  1 + CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT) AS stage
       |FROM s
       |LEFT JOIN v ON v.user_id = s.user_id
       |LEFT JOIN p ON p.user_id = s.user_id
       |${O.OrderAll}"""

  /** Per-user event-SEQUENCE pattern matching — the relational stand-in
    * for MATCH_RECOGNIZE (which Spark lacks): each user's history is
    * collapsed to an ORDERED string of event-type initials (one
    * order-safe pass: collect_list of (ts, event_id, initial) structs,
    * array_sort — struct ordering is lexicographic by field, and
    * (ts, event_id) is a total order — then join), and sequence
    * patterns run as regexes over that string: adjacent view→purchase
    * conversions and error-eventually-purchase recoveries (leftmost
    * non-overlapping counts, identical in Java regex and RE2).
    *
    * 100 TB notes: one shuffle on user_id; per-user state is ~one byte
    * per event (the initial), 10⁴ events/user ≈ 10 KB — bounded, unlike
    * collecting full rows. The adversarial-history guard is the
    * [[EventPatternCap]] slice after the sort (r9): a bot account with
    * 10⁸ events can no longer build a 100 MB string in one task —
    * its sequence truncates to the time-earliest [[EventPatternCap]]
    * events. The cap sits far above any shipped corpus's max per-user
    * history (ScaleUp keeps per-user history shard-local and
    * constant), so every oracle compare is cap-free — the same
    * equality-at-every-shipped-SF law as the wedge block cap; the
    * spec plants an over-cap history to prove the guard bites. */
  private[graft] val EventPatternCap = 65536

  def winEventPattern(spark: SparkSession, dir: String): DataFrame =
    ordered(eventPatternOf(t(spark, dir, "events")))

  /** The pattern computation on an arbitrary events frame — one
    * definition for the keyed query and the cap-law spec. */
  private[graft] def eventPatternOf(e: DataFrame): DataFrame = {
    e
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))).as("_evs"))
      .select(col("user_id"),
        expr(s"array_join(transform(slice(array_sort(_evs), 1, $EventPatternCap), x -> x.c), '')")
          .as("seq"))
      .select(col("user_id"), col("seq"),
        length(col("seq")).as("n_events"),
        regexp_count(col("seq"), lit("vp")).as("n_view_purchase"),
        regexp_count(col("seq"), lit("e[csv]*p")).as("n_error_recovery"))
  }

  private val winEventPatternSql =
    s"""WITH seqs AS (
       |  SELECT user_id,
       |    string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS seq
       |  FROM events GROUP BY 1)
       |SELECT user_id, seq, len(seq) AS n_events,
       |  len(regexp_extract_all(seq, 'vp')) AS n_view_purchase,
       |  len(regexp_extract_all(seq, 'e[csv]*p')) AS n_error_recovery
       |FROM seqs
       |${O.OrderAll}"""

  /** The spine+fill core over any (user_id, day, day_value) frame —
    * also exercised by PropertySpec on generated series. */
  private[graft] def gapfillDaily(daily: DataFrame): DataFrame = {
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        last(col("day_value"), ignoreNulls = true).over(w).as("filled"),
        col("day_value").isNull.as("is_gap"))
  }

  /** Calendar gap-fill + forward fill (time-series resample): per-user
    * daily value series where missing days become explicit rows carrying
    * the last observed value — the transform every downstream
    * daily-grain model/report needs, and the one naive SQL silently
    * skips (absent rows are invisible to GROUP BY). Spine = per-user
    * `sequence(first_day, last_day)` exploded — generated, never read;
    * forward fill = running `last(value, ignoreNulls)` window, which
    * needs ONE pass per user partition.
    *
    * 100 TB: the spine explode multiplies per-user day-span rows, not
    * data rows — bounded by calendar days, not events; the left join is
    * user+day keyed (equi), and the fill window rides the same user_id
    * partitioning as the join output, so AQE coalesces without a second
    * exchange. Never gap-fill on a global calendar join (cross join
    * with a date dim explodes before filtering). */
  def tsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .filter(col("user_id") % 25 === 0)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(dsum(col("value")).as("day_value"))
    ordered(gapfillDaily(daily))
  }

  private val tsGapfillSql =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |    ${O.dsum("value")} AS day_value
       |  FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id,
       |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
       |        FROM daily GROUP BY user_id))
       |SELECT s.user_id, ${O.dateStr("s.day")} AS day,
       |  last_value(d.day_value IGNORE NULLS) OVER (
       |    PARTITION BY s.user_id ORDER BY s.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       |  d.day_value IS NULL AS is_gap
       |FROM spine s LEFT JOIN daily d
       |  ON s.user_id = d.user_id AND s.day = d.day
       |${O.OrderAll}"""

  /** Linear interpolation across gaps — the numeric complement of
    * `ts_gapfill`'s LOCF: a missing day gets the straight line between
    * its nearest observed neighbors, weighted by day distance. LOCF is
    * right for state-like series (a price holds until re-quoted);
    * interpolation is right for flow-like series (a sensor that kept
    * moving through the outage). Edge days with only one neighbor fall
    * back to that neighbor (constant extrapolation).
    *
    * Determinism: the interpolated value is
    * prev + (next − prev) · (Δprev / Δspan) in IEEE doubles — both
    * engines evaluate the identical expression tree over identical
    * inputs (day_value is an exact-decimal sum), and round6 absorbs
    * any last-ulp divergence in the division.
    *
    * 100 TB: identical shape to `ts_gapfill` — one shuffle on user_id,
    * two sorted passes (backward + forward frames over the same sort),
    * O(1) state per row. The forward-looking frame needs no second
    * shuffle: Spark reuses the partitioning and re-sorts within
    * partitions only. */
  def tsInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .filter(col("user_id") % 25 === 0)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(dsum(col("value")).as("day_value"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("day_value").isNotNull, col("day"))
    val joined = spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("day_value"),
        last(col("day_value"), ignoreNulls = true).over(back).as("pv"),
        last(obsDay, ignoreNulls = true).over(back).as("pd"),
        first(col("day_value"), ignoreNulls = true).over(fwd).as("nv"),
        first(obsDay, ignoreNulls = true).over(fwd).as("nd"))
    val interp = when(col("day_value").isNotNull, col("day_value"))
      .when(col("pv").isNull, col("nv"))
      .when(col("nv").isNull, col("pv"))
      .otherwise(col("pv") + (col("nv") - col("pv")) *
        (datediff(col("day"), col("pd")).cast("double") /
          datediff(col("nd"), col("pd")).cast("double")))
    ordered(joined.select(
      col("user_id"),
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      round6(interp).as("value_interp"),
      col("day_value").isNull.as("is_interp")))
  }

  private val tsInterpolateSql =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |    ${O.dsum("value")} AS day_value
       |  FROM events WHERE user_id % 25 = 0 GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id,
       |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
       |        FROM daily GROUP BY user_id)),
       |marked AS (
       |  SELECT s.user_id, s.day, d.day_value,
       |    last_value(d.day_value IGNORE NULLS) OVER (
       |      PARTITION BY s.user_id ORDER BY s.day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
       |    last_value(CASE WHEN d.day_value IS NOT NULL THEN s.day END
       |      IGNORE NULLS) OVER (
       |      PARTITION BY s.user_id ORDER BY s.day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
       |    first_value(d.day_value IGNORE NULLS) OVER (
       |      PARTITION BY s.user_id ORDER BY s.day
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
       |    first_value(CASE WHEN d.day_value IS NOT NULL THEN s.day END
       |      IGNORE NULLS) OVER (
       |      PARTITION BY s.user_id ORDER BY s.day
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
       |  FROM spine s LEFT JOIN daily d
       |    ON s.user_id = d.user_id AND s.day = d.day)
       |SELECT user_id, ${O.dateStr("day")} AS day,
       |  round(CASE
       |    WHEN day_value IS NOT NULL THEN day_value
       |    WHEN pv IS NULL THEN nv
       |    WHEN nv IS NULL THEN pv
       |    ELSE pv + (nv - pv) *
       |      (CAST(date_diff('day', pd, day) AS DOUBLE) /
       |       CAST(date_diff('day', pd, nd) AS DOUBLE))
       |  END, 6) AS value_interp,
       |  day_value IS NULL AS is_interp
       |FROM marked
       |${O.OrderAll}"""

  /** Rolling z-score anomaly detection: each event scored against the
    * trailing-20-event mean/stddev of its own user's series — the
    * streaming-friendly outlier signal (state = one bounded frame, no
    * global statistics). The anomaly FLAG compares the ROUNDED z (both
    * engines see identical bits after round6) so a last-ulp difference
    * in windowed double accumulation can never flip a row across the
    * threshold — windowed stddev is engine-order-dependent (Spark
    * accumulates in frame order, DuckDB may use a segment tree).
    *
    * 100 TB: one shuffle on user_id, one sorted pass, O(1) state per
    * row (incremental frame add/remove) — the same shape as
    * `win_frame_rows`; never compute anomalies against a global mean
    * (one all-rows aggregate + rebroadcast, and skewed users poison
    * the threshold anyway). */
  def winAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-19, Window.currentRow)
    val z = (col("value") - avg(col("value")).over(w)) /
      stddev_samp(col("value")).over(w)
    ordered(
      t(spark, dir, "events")
        .filter(col("user_id") % 50 === 0)
        .select(
          col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("value"),
          // the std>0 guard also dodges engine-divergent x/0 semantics
          // (Spark: NULL, DuckDB IEEE: inf)
          when(count(lit(1)).over(w) >= 10 &&
            stddev_samp(col("value")).over(w) > 0, round6(z)).as("z"))
        .withColumn("is_anomaly",
          coalesce(abs(col("z")) > 2.0, lit(false))))
  }

  private val winAnomalySql =
    s"""WITH scored AS (
       |  SELECT user_id, event_id,
       |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
       |    CASE WHEN COUNT(*) OVER w >= 10
       |        AND STDDEV_SAMP(value) OVER w > 0 THEN
       |      round((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 6)
       |    END AS z
       |  FROM events WHERE user_id % 50 = 0
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT user_id, event_id, ts_s, value, z,
       |  COALESCE(abs(z) > 2.0, false) AS is_anomaly
       |FROM scored
       |${O.OrderAll}"""

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands pattern: `day − row_number()` is constant within
    * a consecutive run (both engines do date−int day arithmetic), so
    * one window + one groupBy finds every island without self-joins or
    * iteration; the per-user argmax then rides a second window over the
    * tiny (user, island) table. Tie-break: longest, then earliest
    * start — total order, both engines agree.
    *
    * 100 TB: two shuffles on user_id (the distinct and the window
    * share partitioning; AQE reuses it) over day-grain rows — the
    * island trick is O(n), where the naive LEAD-chain or self-join
    * spelling goes quadratic in streak length. */
  def winStreak(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val wRn = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("grp", date_sub(col("day"), row_number().over(wRn)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak_len"),
        date_format(min(col("day")), "yyyy-MM-dd").as("streak_start"),
        date_format(max(col("day")), "yyyy-MM-dd").as("streak_end"))
    val wBest = Window.partitionBy(col("user_id"))
      .orderBy(col("streak_len").desc, col("streak_start").asc)
    ordered(
      islands.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("streak_len"),
          col("streak_start"), col("streak_end")))
  }

  private val winStreakSql =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |islands AS (
       |  SELECT user_id,
       |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
       |      AS INTEGER) AS grp,
       |    day
       |  FROM days),
       |streaks AS (
       |  SELECT user_id, COUNT(*) AS streak_len,
       |    ${O.dateStr("min(day)")} AS streak_start,
       |    ${O.dateStr("max(day)")} AS streak_end
       |  FROM islands GROUP BY user_id, grp)
       |SELECT user_id, streak_len, streak_start, streak_end FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY streak_len DESC, streak_start ASC) AS rn
       |  FROM streaks)
       |WHERE rn = 1
       |${O.OrderAll}"""

  /** Pareto / ABC analysis — within each market segment, rank customers
    * by lifetime revenue and classify by cumulative share (A ≤ 80 %,
    * B ≤ 95 %, C rest). The determinism trap this spelling dodges: a
    * cumulative sum of DOUBLES is accumulation-order-dependent (and
    * DuckDB's segment tree reorders it), so both the running and the
    * total revenue stay EXACT DECIMAL through the windows, each cast to
    * double once, divided once — the share is bit-identical on both
    * engines and the 0.80/0.95 class boundaries can never flip.
    *
    * 100 TB: one shuffle on segment, per-segment sorted pass. Five
    * segments means giant partitions at scale — the fix is the same
    * distributed prefix sum as `llm_shuffle`/`llm_packing` (range
    * partition within segment → local cumsum → broadcast bases),
    * documented here, demo'd there. */
  def winPareto(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(money(col("o_totalprice"))).as("rev_dec"))
    val seg = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val wCum = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("rev_dec").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("c_mktsegment"))
    val share = sum(col("rev_dec")).over(wCum).cast("double") /
      sum(col("rev_dec")).over(wAll).cast("double")
    ordered(
      rev.join(seg, col("o_custkey") === col("c_custkey"))
        .withColumn("cum_share", share)
        .select(col("c_mktsegment"), col("c_custkey"),
          col("rev_dec").cast("double").as("revenue"),
          col("cum_share"),
          when(col("cum_share") <= 0.80, "A")
            .when(col("cum_share") <= 0.95, "B")
            .otherwise("C").as("abc_class")))
  }

  private val winParetoSql =
    s"""WITH rev AS (
       |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
       |  FROM orders GROUP BY o_custkey)
       |SELECT c_mktsegment, c_custkey,
       |  CAST(rev_dec AS DOUBLE) AS revenue,
       |  CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment
       |      ORDER BY rev_dec DESC, c_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
       |    AS cum_share,
       |  CASE WHEN CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment
       |      ORDER BY rev_dec DESC, c_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
       |    <= 0.80 THEN 'A'
       |  WHEN CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment
       |      ORDER BY rev_dec DESC, c_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(SUM(rev_dec) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
       |    <= 0.95 THEN 'B'
       |  ELSE 'C' END AS abc_class
       |FROM rev JOIN customer ON o_custkey = c_custkey
       |${O.OrderAll}"""

  /** OHLC downsampling — time-series resampling to candle grain (the
    * tick→bar step of every market/metrics pipeline): per user per UTC
    * day, open/high/low/close of `value` plus exact volume. high/low/
    * count/volume are plain commutative aggregates; open and close are
    * `min_by`/`max_by` over a zero-padded `(epoch_µs, event_id)` string
    * key — a total order even under equal timestamps, so both engines
    * pick the identical row (struct-ordering `min_by` exists only on
    * the Spark side; the padded-string key is the cross-engine total
    * order, same family as `sample_stratified`'s md5 ranking).
    *
    * Deliberately a pure groupBy, NOT a window: all six candle fields
    * are mergeable aggregates, so the plan is one partial agg (map-side
    * combine collapses each input partition to ≤ |users × days| rows)
    * + one shuffle of the COMBINED candles + one final agg. The
    * row_number-over-window spelling sorts every raw tick inside a
    * user partition — at 100 TB that is a full sort of the fact table
    * versus this plan's shuffle of only the pre-aggregated bars. */
  def tsDownsample(spark: SparkSession, dir: String): DataFrame = {
    val ordKey = format_string("%020d%010d",
      unix_micros(col("ts")), col("event_id"))
    ordered(
      t(spark, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          min_by(col("value"), ordKey).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), ordKey).as("close"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("volume"))
        .withColumn("day", dateStr(col("day"))))
  }

  private val tsDownsampleSql = {
    val ordKey =
      "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 10, '0')"
    s"""SELECT user_id, ${O.dateStr("CAST(ts AS DATE)")} AS day,
       |  min_by("value", $ordKey) AS open,
       |  max("value") AS high,
       |  min("value") AS low,
       |  max_by("value", $ordKey) AS close,
       |  COUNT(*) AS n_events,
       |  ${O.dsum("\"value\"")} AS volume
       |FROM events GROUP BY 1, 2
       |${O.OrderAll}"""
  }

  /** Rolling least-squares trend — the regression window every
    * monitoring/forecast pipeline runs (is this metric drifting, and
    * how fast?): per user, over the trailing 20 events, the OLS slope
    * of value-in-cents against hours-since-epoch. ALL five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) are window sums of exact BIGINTs
    * — x = epoch-hours (≤ 10⁶, so x² ≤ 10¹², and 20-row sums stay
    * ≪ 2⁶³), y = cents via `floor(value·100 + 0.5)` (the corpus is
    * 2-decimal money; ·100 and floor are IEEE-exact on both engines) —
    * so slope numerator and denominator are identical integers on any
    * engine/partitioning, and the single final double division is
    * correctly rounded identically. Windowed SUM(double) would hit
    * partition-order (Spark) vs segment-tree (DuckDB) summation-order
    * divergence; integer sufficient statistics make the whole frame
    * algebra order-free. Collinear frames (all 20 events in one hour,
    * denominator 0) surface as NULL, not a division error.
    *
    * 100 TB: one shuffle on user_id + one sorted pass; the five sums
    * share ONE window frame, so Spark evaluates them in a single
    * WindowExec over a single sort — O(1) state per row, no
    * re-aggregation per column. */
  def winRegression(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-19, Window.currentRow)
    val base = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), epochUs(col("ts")).as("ts_us"),
        // `div`, not `/`: bigint `/` is DOUBLE division in Spark, and
        // epoch-µs exceeds 2^53 so the double round-trip is lossy
        expr("unix_micros(ts) div 3600000000").as("x"),
        floor(col("value") * 100 + 0.5).as("y"))
      // xy/xx PRE-computed: a window sum over a derived expression makes
      // ExtractWindowExpressions interleave Project+Window nodes (three
      // WindowExecs observed); over plain columns all five sums collapse
      // into ONE Window node — pinned in PlanSpec
      .withColumn("xy", col("x") * col("y"))
      .withColumn("xx", col("x") * col("x"))
    val stats = base
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("xy")).over(w))
      .withColumn("sxx", sum(col("xx")).over(w))
    ordered(stats.select(
      col("user_id"), col("event_id"), col("ts_us"), col("n"),
      when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
        round6((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
        .as("slope_cents_per_hour")))
  }

  private val winRegressionSql =
    s"""WITH base AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    epoch_us(ts) // 3600000000 AS x,
       |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS y,
       |    ts
       |  FROM events),
       |stats AS (
       |  SELECT user_id, event_id, ts_us,
       |    COUNT(*) OVER w AS n,
       |    SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
       |    SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx
       |  FROM base
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT user_id, event_id, ts_us, n,
       |  CASE WHEN n * sxx - sx * sx <> 0 THEN
       |    round(CAST(n * sxy - sx * sy AS DOUBLE)
       |          / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       |  END AS slope_cents_per_hour
       |FROM stats
       |${O.OrderAll}"""

  /** Exponentially-weighted moving average (α = 1/2) of each user's
    * event values — the standard smoother under monitoring dashboards
    * and trend features. Spelled as a TRUNCATED EWMA over the trailing
    * 16 observations with INTEGER weights 2^(15−k) on cents: the tail
    * beyond 16 lags carries < 2⁻¹⁶ of the mass (≪ one cent of any
    * realistic value), and the truncation is what makes the op exact
    * and frame-bounded — numerator Σ 2^(15−k)·y_{t−k} and weight mass
    * Σ 2^(15−k) are BIGINT sums (≤ 65535·maxcents ≪ 2⁶³), identical
    * integers on any engine/partition order, with ONE final double
    * division sequence mirrored verbatim on both sides. The untruncated
    * recursive spelling (ewma_t = αy + (1−α)ewma_{t−1}) needs either
    * running double products (order-divergent across engines) or
    * per-row pow (overflows past ~10³ rows) — and its infinite-memory
    * twin is a STREAMING op (`stream_stateful` holds exactly that
    * per-key scalar state).
    *
    * 100 TB: the 16 lag() calls share one (partition, order) spec →
    * ONE Window node, one shuffle on user_id, one sorted pass, O(16)
    * state per row (pinned in PlanSpec alongside win_regression's
    * same law). */
  def winEwma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val base = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), epochUs(col("ts")).as("ts_us"),
        floor(col("value") * 100 + 0.5).as("y"))
    val terms = (0 until 16).map { k =>
      val weight = 1L << (15 - k)
      val l = if (k == 0) col("y") else lag(col("y"), k).over(w)
      (coalesce(l, lit(0L)) * lit(weight),
        when(l.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    ordered(
      base.select(col("user_id"), col("event_id"), col("ts_us"),
        (num.cast("double") / den.cast("double") / lit(100.0)).as("ewma")))
  }

  private val winEwmaSql = {
    val num = (0 until 16).map { k =>
      val weight = 1L << (15 - k)
      if (k == 0) s"y * $weight"
      else s"COALESCE(lag(y, $k) OVER w, 0) * $weight"
    }.mkString(" + ")
    val den = (0 until 16).map { k =>
      val weight = 1L << (15 - k)
      if (k == 0) s"$weight"
      else s"CASE WHEN lag(y, $k) OVER w IS NOT NULL THEN $weight ELSE 0 END"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS y
       |  FROM events)
       |SELECT user_id, event_id, ts_us,
       |  CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / 100.0 AS ewma
       |FROM b
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |${O.OrderAll}"""
  }

  /** Rolling exact median — the robust companion of `win_ewma`'s mean
    * smoother (a median survives the spikes `win_anomaly` flags):
    * per user, the trailing-21-event median of value-in-cents. Exact
    * integers in, one deterministic double out: both engines
    * interpolate an even-count median as the mean of the two middle
    * values — integers < 2⁵³ whose sum halves exactly in IEEE double —
    * and the final /100 descale is the same correctly-rounded op on
    * identical bits. (A windowed median of raw DOUBLES would be safe
    * too — selection, not summation — but cents keep the middle-pair
    * mean provably exact rather than luckily so.)
    *
    * 100 TB: one user_id shuffle + one sorted pass; median is a
    * per-frame SELECTION (Spark buffers the 21-row frame per step —
    * O(frame) state, not O(partition)). For quantiles over UNBOUNDED
    * frames at scale the answer is the mergeable sketch
    * (`agg_approx_percentile`), not a bigger buffer — this operator is
    * deliberately the bounded-frame exact form. */
  def winMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-20, Window.currentRow)
    ordered(
      t(spark, dir, "events")
        .select(col("user_id"), col("event_id"), epochUs(col("ts")).as("ts_us"),
          floor(col("value") * 100 + 0.5).as("y"))
        .withColumn("med", percentile(col("y"), lit(0.5)).over(w) / lit(100.0))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("med")))
  }

  private val winMedianSql =
    s"""WITH b AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS y
       |  FROM events)
       |SELECT user_id, event_id, ts_us,
       |  median(y) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) / 100.0 AS med
       |FROM b
       |${O.OrderAll}"""

  /** Per-user maximum drawdown — the risk statistic every
    * trading/billing/quota series is summarized by: largest peak-to-
    * trough fall of the user's running net balance (credits = purchase/
    * signup values, debits = the rest — a signed random walk). The
    * whole statistic is THREE chained frame computations on exact
    * integer cents — running sum, running max of it, max of the gap —
    * so it is order-free by construction (no float accumulates across
    * the frame): both window passes share ONE (user_id) shuffle and one
    * (ts, event_id) sort (same-spec windows collapse into one
    * WindowExec), the final per-user max is a map-side-combinable agg
    * reusing that partitioning, and the ONLY double is the final /100
    * descale. 100 TB: state per row is O(1), no self-join against
    * history — the naive "max over all (i ≤ j) pairs of cum_i − cum_j"
    * spelling is the quadratic this operator exists to avoid. */
  def winDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), epochUs(col("ts")).as("ts_us"),
        when(col("event_type").isin("purchase", "signup"),
          floor(col("value") * 100 + 0.5))
          .otherwise(-floor(col("value") * 100 + 0.5)).as("y"))
    val walk = base
      .withColumn("cum", sum(col("y")).over(w))
      .withColumn("peak", max(col("cum")).over(w))
    ordered(walk.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      (max(col("peak")) / lit(100.0)).as("peak"),
      (max(col("peak") - col("cum")) / lit(100.0)).as("max_drawdown")))
  }

  private val winDrawdownSql =
    s"""WITH b AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    CASE WHEN event_type IN ('purchase', 'signup')
       |      THEN CAST(floor("value" * 100 + 0.5) AS BIGINT)
       |      ELSE -CAST(floor("value" * 100 + 0.5) AS BIGINT) END AS y
       |  FROM events),
       |cum AS (
       |  SELECT user_id, event_id, ts_us,
       |    SUM(y) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM b),
       |walk AS (
       |  SELECT user_id, cum,
       |    MAX(cum) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM cum)
       |SELECT user_id, COUNT(*) AS n_events,
       |  MAX(peak) / 100.0 AS peak,
       |  MAX(peak - cum) / 100.0 AS max_drawdown
       |FROM walk GROUP BY user_id
       |${O.OrderAll}"""

  /** Day-of-week seasonal adjustment — the first decomposition every
    * operational metric gets before trend/anomaly reading (the
    * weekday/weekend cycle dominates raw event values): per user,
    * deseasonalized value = v − mean(v | user, dow) + mean(v | user) —
    * the additive seasonal index in exact cents, the classic
    * seasonal-naive decomposition. Both means are UNBOUNDED-frame
    * window aggregates (exact BIGINT sums, one correctly-rounded
    * double division each, mirrored); the (user, dow) and (user)
    * windows are two exchanges by necessity (different keys) but no
    * join, no sort (frames are orderless). Engine trap dodged:
    * Spark's `dayofweek` is 1=Sunday..7, DuckDB's `dayofweek` is
    * 0=Sunday..6 — the oracle spells `dayofweek(ts) + 1`. */
  def winSeasonal(spark: SparkSession, dir: String): DataFrame = {
    val wDow = Window.partitionBy(col("user_id"), col("dow"))
    val wUser = Window.partitionBy(col("user_id"))
    val base = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), epochUs(col("ts")).as("ts_us"),
        dayofweek(col("ts")).as("dow"),
        floor(col("value") * 100 + 0.5).as("y"))
    val adj = base
      .withColumn("dow_mean",
        sum(col("y")).over(wDow).cast("double") /
          count(lit(1)).over(wDow).cast("double"))
      .withColumn("user_mean",
        sum(col("y")).over(wUser).cast("double") /
          count(lit(1)).over(wUser).cast("double"))
    ordered(adj.select(
      col("user_id"), col("event_id"), col("ts_us"), col("dow"),
      (col("y").cast("double") / 100.0).as("value"),
      ((col("y").cast("double") - col("dow_mean") + col("user_mean")) / 100.0)
        .as("deseasonalized")))
  }

  private val winSeasonalSql =
    s"""WITH b AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    dayofweek(ts) + 1 AS dow,
       |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS y
       |  FROM events)
       |SELECT user_id, event_id, ts_us, dow,
       |  CAST(y AS DOUBLE) / 100.0 AS value,
       |  (CAST(y AS DOUBLE)
       |    - CAST(CAST(SUM(y) OVER wd AS VARCHAR) AS DOUBLE)
       |      / CAST(COUNT(*) OVER wd AS DOUBLE)
       |    + CAST(CAST(SUM(y) OVER wu AS VARCHAR) AS DOUBLE)
       |      / CAST(COUNT(*) OVER wu AS DOUBLE)) / 100.0 AS deseasonalized
       |FROM b
       |WINDOW wd AS (PARTITION BY user_id, dow),
       |  wu AS (PARTITION BY user_id)
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "win_seasonal" -> Q(winSeasonal _, winSeasonalSql),
    "win_drawdown" -> Q(winDrawdown _, winDrawdownSql),
    "win_median" -> Q(winMedian _, winMedianSql),
    "win_ewma" -> Q(winEwma _, winEwmaSql),
    "ts_downsample" -> Q(tsDownsample _, tsDownsampleSql),
    "win_regression" -> Q(winRegression _, winRegressionSql),
    "win_pareto" -> Q(winPareto _, winParetoSql),
    "win_streak" -> Q(winStreak _, winStreakSql),
    "ts_gapfill" -> Q(tsGapfill _, tsGapfillSql),
    "ts_interpolate" -> Q(tsInterpolate _, tsInterpolateSql),
    "win_anomaly" -> Q(winAnomaly _, winAnomalySql),
    "win_funnel" -> Q(winFunnel _, winFunnelSql),
    "win_event_pattern" -> Q(winEventPattern _, winEventPatternSql),
    "win_count_distinct" -> Q(winCountDistinct _, winCountDistinctSql),
    "win_sessionize" -> Q(winSessionize _, winSessionizeSql),
    "win_first_last" -> Q(winFirstLast _, winFirstLastSql),
    "win_rank" -> Q(winRank _, winRankSql),
    "win_lag_lead" -> Q(winLagLead _, winLagLeadSql),
    "win_frame_rows" -> Q(winFrameRows _, winFrameRowsSql),
    "win_frame_range" -> Q(winFrameRange _, winFrameRangeSql),
    "win_distribution" -> Q(winDistribution _, winDistributionSql)
  )
}
