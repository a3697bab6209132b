package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Fixtures, Q, Sessions, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** SURVEY.md §2.9 — ETL composite operators, the reference's core
  * identity (the reference's README.md:4 incremental/full load, :6 SCD,
  * :12 integrity + audit logging).
  *
  * Each query is a full pipeline expressed as one deterministic
  * DataFrame so the DuckDB oracle can replay it in pure SQL. Batches
  * are deterministic date/key slices of the test tables (SURVEY.md
  * §2.9's cutover construction).
  *
  * Each stage that several keys share is written once, its oracle
  * twin beside it: the customer dimension (`customerDim`), the
  * urgent-buyer slice (`urgentBuyers`, `vipStaged`; oracle
  * `urgentCte`), the SCD2 fixture (`Scd2T1`/`Scd2T2`, `moved`,
  * `scd2Rows`), the DQ rules that both the gate and the quarantine
  * apply (`orphanOrders`, `negativeAcctbal`; oracle `orphansSql`, also
  * `etl_fk_check`'s), the column profile (`ProfileCols`,
  * `profileMinMax`, `profileRows`; oracle `profileSql`) and the
  * two-batch schema layout (`twoBatches`).
  */
object Etl {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** The customer dimension's business key and tracked attributes. */
  private val Key = Seq("c_custkey")
  private val Attrs = Seq("c_name", "c_mktsegment")
  private val dimCols: Seq[Column] = (Key ++ Attrs).map(col)

  /** The customer dimension every SCD key versions: key and attributes. */
  private def customerDim(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(dimCols: _*)

  /** Customers with any 1-URGENT order, found with a left-semi join:
    * the slice the SCD1, SCD3, SCD4 and bitemporal keys move to 'VIP'. */
  private def urgentBuyers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")), col("c_custkey") === col("o_custkey"),
        "left_semi")

  /** The urgent buyers re-segmented as 'VIP': the staged extract of the
    * SCD1, SCD3 and SCD4 keys. */
  private def vipStaged(spark: SparkSession, dir: String): DataFrame =
    urgentBuyers(spark, dir)
      .select(col("c_custkey"), col("c_name"), lit("VIP").as("c_mktsegment"))

  /** Oracle CTE `u`: the urgent buyers' keys. */
  private val urgentCte =
    """u AS (SELECT DISTINCT c_custkey FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c_custkey AND o.o_orderpriority = '1-URGENT'))"""

  /** Full load: truncate-and-reload the per-customer order summary from
    * the complete extract. 100 TB: this is the O(all-data) path you run
    * rarely; `etl_incremental` is the daily path (README.md:4's point). */
  def fullLoad(spark: SparkSession, dir: String): DataFrame =
    ordered(
      t(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("lifetime_value"),
          min(dateStr(col("o_orderdate"))).as("first_order"),
          max(dateStr(col("o_orderdate"))).as("last_order")))

  private val fullLoadSql =
    s"""SELECT o_custkey, COUNT(*) AS n_orders,
       |  ${O.dsum("o_totalprice")} AS lifetime_value,
       |  min(${O.dateStr("o_orderdate")}) AS first_order,
       |  max(${O.dateStr("o_orderdate")}) AS last_order
       |FROM orders GROUP BY o_custkey
       |${O.OrderAll}"""

  /** Incremental load via high-water mark: target = pre-cutover orders;
    * delta = source rows past max(target.o_orderdate); result = merged
    * target with an anti-join dedup guard (idempotent re-runs).
    * 100 TB: the delta filter prunes partitions at the scan when the
    * fact is date-partitioned — the whole point of incremental load. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val merged = incrementalMerge(t(spark, dir, "orders"), "1999-01-01")
    ordered(
      merged.select(col("o_orderkey"), dateStr(col("o_orderdate")).as("o_date"),
        col("o_orderstatus"), col("o_totalprice")))
  }

  /** High-water-mark merge seam: target = rows before `cutover`, delta
    * = source rows past max(target date), anti-join dedup guard makes
    * re-delivered keys a no-op. Exposed for the PropertySpec law:
    * for ANY key-unique order set (and any re-delivered delta), the
    * merge reproduces the full extract exactly — incremental ≡ full. */
  private[graft] def incrementalMerge(orders: DataFrame, cutover: String): DataFrame = {
    val target0 = orders.filter(col("o_orderdate") < lit(cutover).cast("timestamp"))
    val hwm = target0.agg(max(col("o_orderdate")).as("hwm"))
    val delta = orders.join(broadcast(hwm), col("o_orderdate") > col("hwm"))
      .drop("hwm")
      // dedup guard: never re-insert keys already in the target
      .join(target0.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
    target0.unionByName(
      delta.select(target0.columns.toIndexedSeq.map(col): _*))
  }

  private val incrementalSql =
    s"""WITH target0 AS (
       |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'),
       |hwm AS (SELECT max(o_orderdate) AS h FROM target0),
       |delta AS (SELECT o.* FROM orders o, hwm WHERE o.o_orderdate > hwm.h)
       |SELECT o_orderkey, ${O.dateStr("o_orderdate")} AS o_date,
       |  o_orderstatus, o_totalprice FROM target0
       |UNION ALL
       |SELECT o_orderkey, ${O.dateStr("o_orderdate")} AS o_date,
       |  o_orderstatus, o_totalprice FROM delta
       |${O.OrderAll}"""

  /** SCD Type 1: latest-wins overwrite. Staged extract = urgent buyers
    * re-segmented as 'VIP'; result = dim after in-place upsert. */
  def scd1(spark: SparkSession, dir: String): DataFrame =
    ordered(
      Scd.scd1Apply(customerDim(spark, dir), vipStaged(spark, dir), Key, Attrs))

  private val scd1Sql =
    s"""WITH $urgentCte
       |SELECT c.c_custkey, c.c_name,
       |  CASE WHEN u.c_custkey IS NOT NULL THEN 'VIP' ELSE c.c_mktsegment END AS c_mktsegment,
       |  u.c_custkey IS NOT NULL AND c.c_mktsegment <> 'VIP' AS changed
       |FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey
       |${O.OrderAll}"""

  /** The SCD2 keys' initial-load time T1 and merge time T2. */
  private val Scd2T1 = "2020-01-01 00:00:00"
  private val Scd2T2 = "2021-01-01 00:00:00"

  /** `dim` with every key %3 == 0 re-segmented 'MOVED': the changed
    * slice of the SCD2 fixture. */
  private def moved(dim: DataFrame): DataFrame =
    dim.withColumn("c_mktsegment",
      when(col("c_custkey") % 3 === 0, "MOVED").otherwise(col("c_mktsegment")))

  /** An SCD2 customer dim as output rows: key and attributes, the
    * validity interval as dates, and the current flag. */
  private def scd2Rows(merged: DataFrame): DataFrame =
    ordered(
      merged.select(dimCols ++ Seq(
        dateStr(col(Scd.FromCol)).as("effective_from"),
        dateStr(col(Scd.ToCol)).as("effective_to"),
        col(Scd.CurrentCol).as("is_current")): _*))

  /** SCD Type 2: initial load at T1 of a partial dim (keys %10 != 0),
    * then a T2 merge of the full extract where every key %3 == 0 moved
    * segment. Exercises unchanged / changed-close+reopen / brand-new
    * paths of [[Scd.scd2Merge]] in one deterministic result. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val base = customerDim(spark, dir)
    val dim = Scd.initialLoad(base.filter(col("c_custkey") % 10 =!= 0), Scd2T1)
    scd2Rows(Scd.scd2Merge(dim, moved(base), Key, Attrs, Scd2T2))
  }

  private val scd2Sql =
    s"""WITH b1 AS (
       |  SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 10 <> 0),
       |b2 AS (
       |  SELECT c_custkey, c_name,
       |    CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
       |  FROM customer)
       |SELECT b1.c_custkey, b1.c_name, b1.c_mktsegment,
       |  '2020-01-01' AS effective_from,
       |  CASE WHEN b1.c_mktsegment <> b2.c_mktsegment
       |    THEN '2021-01-01' ELSE '9999-12-31' END AS effective_to,
       |  b1.c_mktsegment = b2.c_mktsegment AS is_current
       |FROM b1 JOIN b2 ON b1.c_custkey = b2.c_custkey
       |UNION ALL
       |SELECT b2.c_custkey, b2.c_name, b2.c_mktsegment,
       |  '2021-01-01' AS effective_from, '9999-12-31' AS effective_to, true AS is_current
       |FROM b2 LEFT JOIN b1 ON b2.c_custkey = b1.c_custkey
       |WHERE b1.c_custkey IS NULL OR b1.c_mktsegment <> b2.c_mktsegment
       |${O.OrderAll}"""

  /** SCD2 soft delete: the T2 extract is an AUTHORITATIVE full extract
    * missing every key %7 == 0 — those keys' open versions close at T2
    * with no replacement ([[Scd.scd2Merge]] `closeDeparted = true`).
    * Kimball-standard "departed member" handling; the default merge
    * (used by `etl_scd2`) still never deletes, which is the right
    * semantics for incremental extracts where absence ≠ departure. */
  def scd2Delete(spark: SparkSession, dir: String): DataFrame = {
    val base = customerDim(spark, dir)
    val batch2 = moved(base.filter(col("c_custkey") % 7 =!= 0))
    scd2Rows(Scd.scd2Merge(Scd.initialLoad(base, Scd2T1), batch2,
      Key, Attrs, Scd2T2, closeDeparted = true))
  }

  private val scd2DeleteSql =
    s"""SELECT c_custkey, c_name, c_mktsegment,
       |  '2020-01-01' AS effective_from,
       |  CASE WHEN c_custkey % 7 = 0 OR c_custkey % 3 = 0
       |    THEN '2021-01-01' ELSE '9999-12-31' END AS effective_to,
       |  c_custkey % 7 <> 0 AND c_custkey % 3 <> 0 AS is_current
       |FROM customer
       |UNION ALL
       |SELECT c_custkey, c_name, 'MOVED' AS c_mktsegment,
       |  '2021-01-01' AS effective_from, '9999-12-31' AS effective_to,
       |  true AS is_current
       |FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey % 3 = 0
       |${O.OrderAll}"""

  /** Point-in-time (as-of) lookup against the SCD2 dimension — the
    * "historical analysis" the reference names as SCD2's purpose
    * (the reference's README.md:6). The dim is versioned at
    * T1 = 1992-01-01 (initial load, keys %10 != 0), T2 = 1996-01-01
    * (merge where keys %3 == 0 moved segment) and T3 = 1998-01-01
    * (merge where keys %4 == 0 went PROMO), so orders genuinely split
    * across versions: %12 == 0 keys carry a full three-version chain
    * with two CLOSED intervals ([T1,T2) original, [T2,T3) MOVED,
    * [T3,∞) PROMO), %10 == 0 keys have no version before T2 at all
    * (left join → NULL segment), and late-1998 orders land in
    * third-generation versions.
    *
    * 100 TB: this is an EQUI-join on the business key with the
    * validity interval as a residual predicate — Spark hash-partitions
    * on c_custkey (or broadcasts the dim, as here: a dimension is
    * small by definition) and evaluates `from <= d < to` post-match.
    * Never a range-only join: per key the intervals are disjoint, so
    * each fact row matches at most one version. */
  def asofScd2(spark: SparkSession, dir: String): DataFrame = {
    val t1 = "1992-01-01 00:00:00"
    val t2 = "1996-01-01 00:00:00"
    val t3 = "1998-01-01 00:00:00"
    val base = customerDim(spark, dir)
    val batch1 = base.filter(col("c_custkey") % 10 =!= 0)
    val batch2 = moved(base)
    val batch3 = batch2.withColumn("c_mktsegment",
      when(col("c_custkey") % 4 === 0, "PROMO").otherwise(col("c_mktsegment")))
    val dim = Scd.scd2Merge(
      Scd.scd2Merge(Scd.initialLoad(batch1, t1), batch2, Key, Attrs, t2),
      batch3, Key, Attrs, t3)
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    ordered(
      orders.join(broadcast(dim),
          col("o_custkey") === col("c_custkey") &&
            col(Scd.FromCol) <= col("o_orderdate") &&
            col("o_orderdate") < col(Scd.ToCol),
          "left_outer")
        .select(col("o_orderkey"), dateStr(col("o_orderdate")).as("o_date"),
          col("o_custkey"),
          col("c_mktsegment").as("segment_at_order"),
          dateStr(col(Scd.FromCol)).as("valid_from")))
  }

  private val asofScd2Sql =
    s"""WITH dim AS (
       |  -- v1: initial-load keys; closes at T2 if segment moved there,
       |  -- else at T3 if it went PROMO there, else stays open
       |  SELECT c_custkey, c_mktsegment,
       |    TIMESTAMP '1992-01-01 00:00:00' AS ef,
       |    CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1996-01-01 00:00:00'
       |         WHEN c_custkey % 4 = 0 THEN TIMESTAMP '1998-01-01 00:00:00'
       |         ELSE TIMESTAMP '9999-12-31 00:00:00' END AS et
       |  FROM customer WHERE c_custkey % 10 <> 0
       |  UNION ALL
       |  -- v2: opened at T2 for changed (%3=0) and brand-new (%10=0) keys
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END,
       |    TIMESTAMP '1996-01-01 00:00:00',
       |    CASE WHEN c_custkey % 4 = 0 THEN TIMESTAMP '1998-01-01 00:00:00'
       |         ELSE TIMESTAMP '9999-12-31 00:00:00' END
       |  FROM customer WHERE c_custkey % 10 = 0 OR c_custkey % 3 = 0
       |  UNION ALL
       |  -- v3: opened at T3 for every %4=0 key (PROMO differs from all)
       |  SELECT c_custkey, 'PROMO',
       |    TIMESTAMP '1998-01-01 00:00:00', TIMESTAMP '9999-12-31 00:00:00'
       |  FROM customer WHERE c_custkey % 4 = 0)
       |SELECT o.o_orderkey, ${O.dateStr("o.o_orderdate")} AS o_date,
       |  o.o_custkey, d.c_mktsegment AS segment_at_order,
       |  ${O.dateStr("d.ef")} AS valid_from
       |FROM orders o LEFT JOIN dim d
       |  ON d.c_custkey = o.o_custkey
       |  AND d.ef <= o.o_orderdate AND o.o_orderdate < d.et
       |${O.OrderAll}"""

  /** DQ rule `orphan_order_custkey`: the orders whose customer is
    * missing. The gate counts these rows and the quarantine routes them. */
  private def orphanOrders(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(customer, col("o_custkey") === col("c_custkey"), "left_anti")

  /** DQ rule `negative_acctbal`: the customers with a negative balance.
    * The gate counts these rows and the quarantine routes them. */
  private def negativeAcctbal(customer: DataFrame): DataFrame =
    customer.filter(col("c_acctbal") < 0)

  /** Oracle FROM clause: the rows of `fact` whose `fk` matches no `pk`
    * of `dim`. `etl_fk_check` reports one per edge; the orphan DQ rule
    * is the orders → customer edge. */
  private def orphansSql(fact: String, fk: String, dim: String, pk: String): String =
    s"$fact WHERE NOT EXISTS (SELECT 1 FROM $dim WHERE $pk = $fk)"

  private val orphanOrdersSql = orphansSql("orders", "o_custkey", "customer", "c_custkey")
  private val negativeAcctbalSql = "customer WHERE c_acctbal < 0"

  /** Data-quality gate: rule violations counted in one pass each; bad
    * rows would route to quarantine (README.md:12). Count may be zero —
    * the rule still runs and reports. */
  def dqCheck(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val lineitem = t(spark, dir, "lineitem")
    def violations(rule: String, rows: DataFrame) =
      rows.agg(count(lit(1)).as("n_violations"))
        .select(lit(rule).as("rule"), col("n_violations"))
    val rules = Seq(
      violations("orphan_order_custkey", orphanOrders(orders, customer)),
      violations("negative_acctbal", negativeAcctbal(customer)),
      violations("nonpositive_quantity",
        lineitem.filter(col("l_quantity") <= 0 || col("l_quantity").isNull)),
      violations("bad_order_status",
        orders.filter(!col("o_orderstatus").isin("F", "P", "O"))))
    ordered(
      rules.reduce(_ unionByName _)
        .withColumn("passed", col("n_violations") === 0))
  }

  private val dqCheckSql =
    s"""SELECT rule, n_violations, n_violations = 0 AS passed FROM (
       |  SELECT 'orphan_order_custkey' AS rule,
       |    (SELECT COUNT(*) FROM $orphanOrdersSql) AS n_violations
       |  UNION ALL
       |  SELECT 'negative_acctbal',
       |    (SELECT COUNT(*) FROM $negativeAcctbalSql)
       |  UNION ALL
       |  SELECT 'nonpositive_quantity',
       |    (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0 OR l_quantity IS NULL)
       |  UNION ALL
       |  SELECT 'bad_order_status',
       |    (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('F','P','O')))
       |${O.OrderAll}"""

  /** Audit log: per-stage row-count metrics with a fixed batch id
    * (README.md:12 "logging mechanisms throughout the ETL process"). */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val open = orders.filter(col("o_orderstatus") === "O")
    val enriched = open.join(t(spark, dir, "customer"),
      col("o_custkey") === col("c_custkey"))
    val nAll = orders.agg(count(lit(1)).as("n_all"))
    val nOpen = open.agg(count(lit(1)).as("n_open"))
    val nEnr = enriched.agg(count(lit(1)).as("n_enr"))
    val counts = nAll.crossJoin(nOpen).crossJoin(nEnr)
    val stages = counts.select(
      lit("batch_0001").as("batch_id"), lit("extract_orders").as("stage"),
      col("n_all").as("rows_in"), col("n_all").as("rows_out"),
      lit(0L).as("rejected"))
      .unionByName(counts.select(
        lit("batch_0001").as("batch_id"), lit("filter_open").as("stage"),
        col("n_all").as("rows_in"), col("n_open").as("rows_out"),
        (col("n_all") - col("n_open")).as("rejected")))
      .unionByName(counts.select(
        lit("batch_0001").as("batch_id"), lit("enrich_customer").as("stage"),
        col("n_open").as("rows_in"), col("n_enr").as("rows_out"),
        (col("n_open") - col("n_enr")).as("rejected")))
    ordered(stages)
  }

  private val auditSql =
    s"""WITH n AS (
       |  SELECT (SELECT COUNT(*) FROM orders) AS n_all,
       |    (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O') AS n_open,
       |    (SELECT COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey
       |     WHERE o_orderstatus = 'O') AS n_enr)
       |SELECT 'batch_0001' AS batch_id, 'extract_orders' AS stage,
       |  n_all AS rows_in, n_all AS rows_out, 0 AS rejected FROM n
       |UNION ALL
       |SELECT 'batch_0001', 'filter_open', n_all, n_open, n_all - n_open FROM n
       |UNION ALL
       |SELECT 'batch_0001', 'enrich_customer', n_open, n_enr, n_open - n_enr FROM n
       |${O.OrderAll}"""

  /** Quarantine routing: the DQ gate's bad rows themselves, tagged with
    * the violated rule, unioned into one quarantine table (README.md:12
    * "bad records routed to quarantine"). At scale this is the sink you
    * write PERMISSIVE-mode rejects and FK orphans to, partitioned by
    * rule for replay. */
  def quarantine(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val orphans = orphanOrders(orders, customer)
      .select(lit("orphan_order_custkey").as("rule"),
        col("o_orderkey").as("row_key"),
        dateStr(col("o_orderdate")).as("detail"))
    val negBal = negativeAcctbal(customer)
      .select(lit("negative_acctbal").as("rule"),
        col("c_custkey").as("row_key"),
        col("c_mktsegment").as("detail"))
    ordered(orphans.unionByName(negBal))
  }

  private val quarantineSql =
    s"""SELECT 'orphan_order_custkey' AS rule, o_orderkey AS row_key,
       |  ${O.dateStr("o_orderdate")} AS detail
       |FROM $orphanOrdersSql
       |UNION ALL
       |SELECT 'negative_acctbal' AS rule, c_custkey AS row_key,
       |  c_mktsegment AS detail
       |FROM $negativeAcctbalSql
       |${O.OrderAll}"""

  /** Partition backfill via dynamic partition overwrite: rewrite ONLY
    * the 1998 partition (prices re-stated +10%), leaving every other
    * year's files untouched. At 100 TB this is how corrections ship —
    * `partitionOverwriteMode=dynamic` replaces exactly the partitions
    * present in the written batch, never the whole table. */
  def backfill(spark: SparkSession, dir: String): DataFrame = {
    val fact = t(spark, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    // base layout: build-once fixture. A production backfill runs
    // against a table that EXISTS — rebuilding the full partitioned
    // layout per run measured as more than half the key and models
    // nothing. The fixture is a pure function of lineitem, keyed by its
    // corpus fingerprint so a rewritten lineitem rebuilds it; the
    // per-run work below is the operator itself: the dynamic-partition
    // overwrite of exactly the corrected partition, then the full
    // read-back. Idempotent at any
    // point: the restated batch derives from the SOURCE table, so
    // re-overwriting 1998 always lands identical content, and a crashed
    // partial overwrite is healed by the next run's overwrite.
    val path = Fixtures.once(dir, "etl_backfill", "lineitem") { tmp =>
      fact.write.partitionBy("ship_year").parquet(tmp)
    }
    // backfill batch: only 1998, restated
    val restated = fact.filter(col("ship_year") === 1998)
      .withColumn("l_extendedprice",
        (money(col("l_extendedprice")) * onePlus(lit(0.10))).cast("double"))
    Sessions.withConfs(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      restated.write.mode("overwrite").partitionBy("ship_year").parquet(path)
    }
    // restated prices are scale-3 decimals (2-dec × 1.10): aggregate at
    // scale 4 so no per-row cast ever rounds a .xx5 tie (Determinism
    // rule: round only where the engines compute different bits).
    ordered(
      spark.read.parquet(path)
        .groupBy(col("ship_year"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(14,4)")).cast("double")
            .as("total")))
  }

  private val backfillSql =
    s"""SELECT year(l_shipdate) AS ship_year, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN year(l_shipdate) = 1998
       |    THEN CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
       |      * CAST(1 + CAST(0.10 AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DOUBLE) AS DECIMAL(14,4))
       |    ELSE CAST(l_extendedprice AS DECIMAL(14,4)) END) AS DOUBLE) AS total
       |FROM lineitem
       |GROUP BY 1
       |${O.OrderAll}"""

  /** The CDC change set `etl_cdc_apply` and `stream_cdc_apply` share —
    * ONE definition so the batch key, the streaming key, and the
    * common oracle can never drift: snapshot at _seq 0, updates +
    * out-of-range inserts at _seq 1, delete tombstones at _seq 2. */
  private[graft] def cdcChangeSet(spark: SparkSession, dir: String): DataFrame = {
    val snap = t(spark, dir, "customer")
      .select(dimCols ++ Seq(lit(0L).as("_seq"), lit("U").as("_op")): _*)
    val base = t(spark, dir, "customer")
    val updates = base.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), col("c_name"), lit("CDC-U").as("c_mktsegment"),
        lit(1L).as("_seq"), lit("U").as("_op"))
    val deletes = base.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
        lit(null).cast("string").as("c_mktsegment"),
        lit(2L).as("_seq"), lit("D").as("_op"))
    // insert keys live OUTSIDE any rung's keyspace: at sf10 the corpus
    // passes 1M customers, so a +1e6 offset collided with real keys and
    // gave the collided key two _seq=1 rows ('CDC-U' update + 'CDC-I'
    // insert) — a row_number tie the two engines broke differently
    // (caught by the full sf10 hash gate; 4,476 diverging rows). A real
    // CDC feed never emits two ops for one key at one sequence number,
    // so the fixture must keep (key, _seq) unique at every scale.
    val inserts = base.filter(col("c_custkey") % 11 === 0)
      .select((col("c_custkey") + 10000000000L).as("c_custkey"),
        concat(lit("NEW-"), col("c_name")).as("c_name"),
        lit("CDC-I").as("c_mktsegment"),
        lit(1L).as("_seq"), lit("U").as("_op"))
    snap.unionByName(updates).unionByName(deletes).unionByName(inserts)
  }

  /** CDC apply: replay an ordered insert/update/delete change stream
    * onto a snapshot — the log-shipping complement to SCD (a CDC feed
    * is how README.md:4's incremental extract arrives in practice).
    * Changes are deterministic slices: %5 keys update segment, %7 keys
    * delete (so %35 keys update THEN delete — multi-change keys), %11
    * keys arrive as brand-new inserts. Last-wins per key by change
    * sequence, deletes drop the key.
    *
    * 100 TB: union + one window over (key, seq) — shuffle-partitioned
    * by key, map-side nothing to combine but the window needs only a
    * per-partition sort after the hash exchange. The same shape
    * handles billions of change rows; the snapshot never rewrites
    * more than once per batch. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val all = cdcChangeSet(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("_seq").desc)
    ordered(
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col("_op") =!= "D")
        .select(dimCols: _*))
  }

  private[graft] val cdcApplySql =
    s"""WITH changes AS (
       |  SELECT c_custkey, c_name, c_mktsegment, 0 AS seq, 'U' AS op FROM customer
       |  UNION ALL
       |  SELECT c_custkey, c_name, 'CDC-U', 1, 'U' FROM customer WHERE c_custkey % 5 = 0
       |  UNION ALL
       |  SELECT c_custkey, NULL, NULL, 2, 'D' FROM customer WHERE c_custkey % 7 = 0
       |  UNION ALL
       |  SELECT c_custkey + 10000000000, 'NEW-' || c_name, 'CDC-I', 1, 'U'
       |  FROM customer WHERE c_custkey % 11 = 0),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
       |  FROM changes)
       |SELECT c_custkey, c_name, c_mktsegment FROM ranked
       |WHERE rn = 1 AND op <> 'D'
       |${O.OrderAll}"""

  /** Small-file compaction — THE routine 100 TB maintenance job: a
    * fragmented layout (64 undersized files, the debris a streaming or
    * over-parallel writer leaves) is rewritten to ⌈rows/20k⌉
    * right-sized files. Output reports both layouts from the actual
    * filesystem (file counts come from `_metadata.file_path`, not the
    * plan) with a content checksum proving compaction moved bytes, not
    * data. At scale the same job targets
    * `spark.sql.files.maxPartitionBytes`-sized files per partition
    * and runs partition-by-partition behind the table's write lock. */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val comp = Fixtures.path(dir, "etl_compaction_out")
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // fragmented INPUT layout: build-once fixture — the 64-file
    // debris is the job's input (what a streaming writer left), not
    // its work; rebuilding it per run measured ~half the key. Keyed by
    // the orders fingerprint, so a rewritten orders rebuilds it. The
    // compaction rewrite below runs every time.
    val frag = Fixtures.once(dir, "etl_compaction_frag", "orders") { tmp =>
      orders.repartition(64).write.parquet(tmp)
    }
    val fragged = spark.read.parquet(frag)
    val nOut = math.ceil(fragged.count() / 20000.0).toInt // driver-side: one metadata count
    fragged.repartition(nOut).write.mode("overwrite").parquet(comp)
    def stats(path: String, stage: String) =
      spark.read.parquet(path).select(
        lit(stage).as("stage"),
        col("_metadata.file_path").as("f"),
        col("o_totalprice"))
        .groupBy(col("stage"))
        .agg(countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total"))
    ordered(stats(frag, "fragmented").unionByName(stats(comp, "compacted")))
  }

  private val compactionSql =
    s"""SELECT 'fragmented' AS stage, CAST(64 AS BIGINT) AS n_files, COUNT(*) AS n_rows,
       |  ${O.dsum("o_totalprice")} AS total FROM orders
       |UNION ALL
       |SELECT 'compacted', CAST(CEIL(COUNT(*) / 20000.0) AS BIGINT), COUNT(*),
       |  ${O.dsum("o_totalprice")} FROM orders
       |${O.OrderAll}"""

  /** The two-version layout of the schema keys: writes the orders
    * before 1998-01-01 as `batch=1` with columns `before` and the rest as
    * `batch=2` with columns `after`, under fixture dir `name`, and
    * returns that dir. */
  private def twoBatches(spark: SparkSession, dir: String, name: String,
      before: Seq[Column], after: Seq[Column]): String = {
    val path = Fixtures.path(dir, name)
    val orders = t(spark, dir, "orders")
    val cut = col("o_orderdate") >= lit("1998-01-01").cast("timestamp")
    orders.filter(!cut).select(before: _*)
      .write.mode("overwrite").parquet(s"$path/batch=1")
    orders.filter(cut).select(after: _*)
      .write.mode("overwrite").parquet(s"$path/batch=2")
    path
  }

  /** Schema evolution across layout versions — the ingest reality a
    * long-lived lake table faces: an upstream adds a column mid-stream.
    * Batch 1 (orders before 1998) lands WITHOUT o_orderpriority; batch
    * 2 (1998+) lands with it. A `mergeSchema` read unions the file
    * schemas, old rows surface NULL for the new column, and no rewrite
    * of historical files is needed. At 100 TB that no-rewrite property
    * is the whole point: schema changes must be metadata-only.
    * (Type CHANGE across versions is the riskier migration —
    * `etl_schema_drift` below covers that negative path.) */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val kept = Seq(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val path = twoBatches(spark, dir, "etl_schema_evo",
      kept, kept :+ col("o_orderpriority"))
    ordered(
      spark.read.option("mergeSchema", "true").parquet(path)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")))
  }

  private val schemaEvolutionSql =
    s"""SELECT o_orderkey, o_custkey, o_totalprice,
       |  CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
       |    THEN o_orderpriority END AS o_orderpriority
       |FROM orders
       |${O.OrderAll}"""

  /** Schema-evolution NEGATIVE path — a type CHANGE, not a column add
    * (README.md:12 "data integrity and consistency"): an upstream
    * starts shipping o_totalprice as DECIMAL(12,2) where history holds
    * DOUBLE. The integrity contract has two halves, both demonstrated:
    * (1) FAIL-FAST — a `mergeSchema` read over the mixed layout must
    * THROW ("Failed to merge incompatible data types"), never silently
    * coerce; the query records that the engine actually refused (the
    * oracle pins `merge_failed_fast = TRUE`, so if a future engine
    * version started coercing silently this row goes red); and
    * (2) the EXPLICIT migration — each batch read with its own declared
    * schema, cast to the canonical type on purpose, unioned. At 100 TB
    * the lesson is the same as `etl_schema_evolution`'s: additions are
    * metadata-only, but type changes demand a declared cast (or a
    * rewrite) — and the engine must make the unsafe path loud. */
  def schemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val path = twoBatches(spark, dir, "etl_schema_drift",
      Seq(col("o_orderkey"), col("o_totalprice")),
      Seq(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("o_totalprice")))
    // Only a SCHEMA-MERGE failure counts as the desired fail-fast; an
    // unrelated error (missing path, IO) must propagate, not quietly
    // satisfy the oracle's pinned TRUE. The merge
    // error may be wrapped, so the whole cause chain is searched.
    val mergeFailedFast =
      try {
        spark.read.option("mergeSchema", "true").parquet(path).schema
        false
      } catch {
        case e: Exception =>
          val messages = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).take(10)
            .flatMap(t => Option(t.getMessage)).mkString(" | ").toLowerCase
          if (messages.contains("merge") || messages.contains("incompatible"))
            true
          else throw e
      }
    val b1 = spark.read.schema("o_orderkey BIGINT, o_totalprice DOUBLE")
      .parquet(s"$path/batch=1")
    val b2 = spark.read
      .schema("o_orderkey BIGINT, o_totalprice DECIMAL(12,2)")
      .parquet(s"$path/batch=2")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    ordered(
      b1.unionByName(b2)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .withColumn("merge_failed_fast", lit(mergeFailedFast)))
  }

  private val schemaDriftSql =
    s"""SELECT COUNT(*) AS n_rows, ${O.dsum("o_totalprice")} AS total,
       |  TRUE AS merge_failed_fast
       |FROM orders
       |${O.OrderAll}"""

  /** SCD Type 3 (completing the Kimball trio beside `etl_scd1`/
    * `etl_scd2`): customers with an urgent order move segment to 'VIP';
    * the dimension keeps current AND immediately-prior segment in one
    * row per key, stamping `changed_at`. Same staged construction as
    * `etl_scd1`, so the three SCD flavors are directly comparable. */
  def scd3(spark: SparkSession, dir: String): DataFrame = {
    val batchTs = "2021-06-01 00:00:00"
    val dim = t(spark, dir, "customer")
      .select(dimCols ++ Seq(
        lit(null).cast("string").as("c_mktsegment_prev"),
        lit(null).cast("timestamp").as("changed_at")): _*)
    val merged = Scd.scd3Apply(dim.drop("c_name"),
      vipStaged(spark, dir).drop("c_name"), Key, "c_mktsegment", batchTs)
    ordered(
      merged.select(col("c_custkey"), col("c_mktsegment"),
        col("c_mktsegment_prev"),
        date_format(col("changed_at"), "yyyy-MM-dd HH:mm:ss").as("changed_at")))
  }

  private val scd3Sql =
    s"""WITH $urgentCte
       |SELECT c.c_custkey,
       |  CASE WHEN u.c_custkey IS NOT NULL THEN 'VIP' ELSE c.c_mktsegment END
       |    AS c_mktsegment,
       |  CASE WHEN u.c_custkey IS NOT NULL AND c.c_mktsegment <> 'VIP'
       |    THEN c.c_mktsegment END AS c_mktsegment_prev,
       |  CASE WHEN u.c_custkey IS NOT NULL AND c.c_mktsegment <> 'VIP'
       |    THEN '2021-06-01 00:00:00' END AS changed_at
       |FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey
       |${O.OrderAll}"""

  /** Snapshot diff — the reconciliation report behind README.md:12's
    * integrity checks: classify every business key across two table
    * snapshots as added / removed / changed / unchanged, comparing one
    * sha2 row-hash per side rather than column-by-column (the same
    * change-detection discipline as the SCD merges, so the diff scales
    * as one full-outer join on the key carrying (key, hash)).
    * Snapshots are deterministic date slices: orders before 1998 vs
    * orders before 1999 with 1997's priorities restated. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val hashCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority")
    def snap(df: DataFrame) = df.select(col("o_orderkey"),
      Scd.rowHash(hashCols).as("_h"))
    val a = snap(orders
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
    // snapshot B: one more year of orders, and 1997's priorities restated
    val b = snap(orders
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .withColumn("o_orderpriority",
        when(year(col("o_orderdate")) === 1997, lit("RESTATED"))
          .otherwise(col("o_orderpriority"))))
    val diff = a.select(col("o_orderkey"), col("_h").as("_ha"))
      .join(b.select(col("o_orderkey"), col("_h").as("_hb")),
        Seq("o_orderkey"), "full_outer")
      .withColumn("change",
        when(col("_ha").isNull, "added")
          .when(col("_hb").isNull, "removed")
          .when(col("_ha") =!= col("_hb"), "changed")
          .otherwise("unchanged"))
    ordered(
      diff.groupBy(col("change")).agg(count(lit(1)).as("n_keys")))
  }

  private val snapshotDiffSql =
    s"""WITH a AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
       |b AS (
       |  SELECT o_orderkey,
       |    year(o_orderdate) = 1997 AS restated
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'),
       |d AS (
       |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
       |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
       |         WHEN b.o_orderkey IS NULL THEN 'removed'
       |         WHEN b.restated THEN 'changed'
       |         ELSE 'unchanged' END AS change
       |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
       |SELECT change, COUNT(*) AS n_keys FROM d GROUP BY change
       |${O.OrderAll}"""

  /** Partition-scheme EVOLUTION (the Iceberg "partition evolution"
    * problem on plain parquet): a table laid out by coarse partitions
    * (order year) is migrated to a finer scheme (year, month) because
    * query patterns changed — month-selective scans were reading a
    * whole year. The migration is a read→rewrite of the SAME rows into
    * the new directory layout (no values change, only placement), and
    * the keyed output is the audit a production migration must emit:
    * per-(year, month) row counts + exact value checksum from the NEW
    * layout, plus an `intact` boolean proving the migrated table equals
    * the source (row count + total checksum equality — computed from
    * the actual files, so a lossy rewrite turns the row red).
    *
    * 100 TB notes: the rewrite is one shuffle-free pass (partition
    * columns are derived per-row, dynamic partition insert routes
    * files); you migrate partition-by-partition in production (here the
    * whole fixture, same code path). The audit aggregates are
    * map-side-combined counts/sums — negligible. Old-layout readers
    * keep working during migration because both layouts carry the data
    * columns; cutover is a path swap. */
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.path(dir, "etl_partition_evolution")
    val src = t(spark, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    // coarse base layout: build-once fixture — the pre-migration
    // table is the job's INPUT, not its work (a production migration
    // starts from a table that exists), keyed by the orders fingerprint
    // so a rewritten orders rebuilds it. The migration rewrite below
    // runs every time.
    val byYear = Fixtures.once(dir, "etl_partition_evolution_src", "orders") { tmp =>
      src.write.partitionBy("o_year").parquet(tmp)
    }
    // migration: same rows, finer (year, month) scheme
    spark.read.parquet(byYear)
      .withColumn("o_month", month(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year", "o_month")
      .parquet(s"$path/by_year_month")
    val migrated = spark.read.parquet(s"$path/by_year_month")
    val audit = migrated.agg(
      count(lit(1)).as("_n"), dsum(col("o_totalprice")).as("_sum"))
    val srcAudit = src.agg(
      count(lit(1)).as("_n_src"), dsum(col("o_totalprice")).as("_sum_src"))
    ordered(migrated
      .groupBy(col("o_year"), col("o_month"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .crossJoin(broadcast(audit)).crossJoin(broadcast(srcAudit))
      .select(col("o_year"), col("o_month"), col("n"), col("total"),
        (col("_n") === col("_n_src") && col("_sum") === col("_sum_src"))
          .as("intact")))
  }

  private val partitionEvolutionSql =
    s"""SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
       |  COUNT(*) AS n, ${O.dsum("o_totalprice")} AS total,
       |  TRUE AS intact
       |FROM orders
       |GROUP BY 1, 2
       |${O.OrderAll}"""

  /** The order columns both profiles report, each flagged numeric. */
  private val ProfileCols = Seq[(String, Boolean)](
    ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", false),
    ("o_totalprice", true), ("o_orderpriority", false))

  /** Null count of profiled column `c`. */
  private def profileNulls(c: String): Column =
    (count(lit(1)) - count(col(c))).as(s"${c}__nulls")

  /** Min and max of profiled column `c` as strings. A numeric column is
    * compared as DECIMAL(18,2), so the order is numeric and the string
    * plain (see [[dqProfile]]). */
  private def profileMinMax(c: String, numeric: Boolean): Seq[Column] = {
    val v = if (numeric) col(c).cast(DecimalType(18, 2)) else col(c).cast("string")
    Seq(min(v).cast("string").as(s"${c}__min"),
      max(v).cast("string").as(s"${c}__max"))
  }

  /** One row per profiled column from the 1-row aggregate `one`, by a
    * driver-free `stack` unpivot: (col_name, n_nulls, n_distinct,
    * min_val, max_val), with n_distinct read from `${c}__$distinct`,
    * then the `extra` column if given (its name, and its expression for
    * column `c`). */
  private def profileRows(one: DataFrame, distinct: String,
      extra: Option[(String, String => String)] = None): DataFrame = {
    val stackExpr = ProfileCols.map { case (c, _) =>
      (Seq(s"'$c'", s"${c}__nulls", s"${c}__$distinct", s"${c}__min", s"${c}__max") ++
        extra.map(_._2(c))).mkString(", ")
    }.mkString(s"stack(${ProfileCols.size}, ", ", ", ")")
    val names = Seq("col_name", "n_nulls", "n_distinct", "min_val", "max_val") ++
      extra.map(_._1)
    ordered(one.select(expr(s"$stackExpr AS (${names.mkString(", ")})")))
  }

  /** Oracle of both profiles: one SELECT per profiled column over
    * orders, with `extra` appended to its select list, unioned. */
  private def profileSql(extra: String): String =
    ProfileCols.map { case (c, numeric) =>
      def mm(f: String) =
        if (numeric) s"CAST($f(CAST($c AS DECIMAL(18,2))) AS VARCHAR)"
        else s"$f(CAST($c AS VARCHAR))"
      s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  ${mm("MIN")} AS min_val, ${mm("MAX")} AS max_val$extra FROM orders"""
    }.mkString("", "\nUNION ALL ", s"\n${O.OrderAll}")

  /** Whole-table column profile — the first thing a data engineer runs
    * on an unknown extract (and the input to `etl_dq_check` thresholds):
    * per column, null count, exact distinct count, min/max. The scale
    * point: TWO passes total, never k — all k distinct counts ride ONE
    * Expand aggregate, all nulls/min/max ride ONE plain fold, and the
    * 1-row results cross-join before a driver-free `stack` unpivot.
    * The naive spelling — one `SELECT count(distinct c) FROM t` job per
    * column — reads the table k times; at 100 TB × k columns that is
    * the difference between two passes and a week. Numeric min/max
    * aggregate on the NUMERIC value (comparison must not be
    * lexicographic — '999.00' > '6000.00' as strings) and only the
    * RESULT is rendered via DECIMAL(18,2) so the string form never
    * goes scientific (both engines print decimals plainly; doubles
    * diverge to 1.0E7-style above 10^7).
    *
    * Cost note: k EXACT count_distincts in one aggregate make Catalyst
    * rewrite via Expand — the aggregate input multiplies ×k, keyed by
    * the distinct values themselves. That is the audit-grade spelling,
    * kept for reconciliation runs at
    * bounded SF; the 100 TB profiling default is the sketch sibling
    * `etl_dq_profile_approx` ([[dqProfileApprox]] — mergeable HLL per
    * column, no Expand, no value-keyed shuffle). */
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    // Mixing the k exact count_distincts with the
    // string min/maxes in ONE aggregate forced the whole Expand×6
    // pipeline into SortAggregate — min(string)'s agg buffer is not
    // fixed-width, so HashAggregate is off the table and every
    // expanded row pays a 6-key Sort (measured: a 2.3 s single task
    // under a 2.9 s key; spreading it 32-way inflated total CPU 12×
    // on sort setup). Split by buffer type instead: the distinct
    // counts ride the Expand with EMPTY buffers (pure HashAggregate
    // dedup — no sort anywhere), the nulls/min/max ride a plain
    // grouping-less single-pass fold (SortAggregate degenerates to a
    // fold when there are no keys — no Sort node). Two scans of the
    // same file replace one sort of k×(rows) expanded rows — at any
    // scale the second scan is cheaper than that sort, and the
    // audit-grade exactness is unchanged (measured 3.6 s → 1.5 s).
    val dAggs = ProfileCols.map { case (c, _) =>
      count_distinct(col(c)).as(s"${c}__distinct") }
    val rAggs = ProfileCols.flatMap { case (c, numeric) =>
      profileNulls(c) +: profileMinMax(c, numeric) }
    val one = t(spark, dir, "orders").agg(dAggs.head, dAggs.tail: _*)
      .crossJoin(t(spark, dir, "orders").agg(rAggs.head, rAggs.tail: _*))
    profileRows(one, "distinct")
  }

  private val dqProfileSql = profileSql("")

  /** The 100 TB spelling of the whole-table profile (`etl_dq_profile`'s
    * k exact count_distincts plan an Expand — input
    * ×(k+1) before the exchange, 16.7 s at sf1 — which is the
    * audit-grade reconciliation form, not the daily profiler): null
    * counts, min/max, and PER-COLUMN HLL SKETCHES all ride ONE scan
    * and one ordinary partial-merge aggregate — no Expand, no
    * value-keyed shuffle, and the sketches are mergeable across
    * partitions/days/tenants (`agg_sketch_merge`'s property). Values
    * are sketched through their string cast (Spark's DataSketches agg
    * takes int/long/string/binary; long/double → string is injective,
    * so distinct counts are preserved exactly).
    *
    * The emitted `n_distinct` is the EXACT count and
    * `approx_in_bound` pins |HLL − exact| ≤ 8 % of exact (5× the
    * lgK=12 standard error ~1.6 % — the `agg_approx_distinct`
    * oracle convention): the exact twins are the verification
    * harness, computed as k SEPARATE single-column two-level
    * distinct aggregates over column-pruned scans precisely so the
    * production aggregate's plan stays Expand-free (PlanSpec pins
    * that). At 100 TB you ship only the sketch pass; the twins are
    * what lets the driver gate the estimate today. */
  def dqProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val aggs = ProfileCols.flatMap { case (c, numeric) =>
      Seq(profileNulls(c),
        hll_sketch_estimate(hll_sketch_agg(col(c).cast("string")))
          .as(s"${c}__approx")) ++
        profileMinMax(c, numeric)
    }
    val one = o.agg(aggs.head, aggs.tail: _*)
    val exacts = ProfileCols.map { case (c, _) =>
      o.select(col(c)).agg(count_distinct(col(c)).as(s"${c}__exact"))
    }.reduce(_.crossJoin(_))
    profileRows(one.crossJoin(exacts), "exact", Some("approx_in_bound" ->
      (c => s"abs(${c}__approx - ${c}__exact) <= 0.08 * ${c}__exact")))
  }

  private val dqProfileApproxSql = profileSql(", TRUE AS approx_in_bound")

  /** SCD Type 4 — history TABLE (vs SCD2's history rows): the current
    * dimension stays SCD1-thin (one row per key, always the latest —
    * every point lookup is a plain equi-join, no `is_current`
    * filtering), and each overwrite appends the PRE-image to a separate
    * history table stamped with its supersession time. Completes the
    * SCD family: 1 (overwrite), 2 (versioned rows), 3 (previous-value
    * column), 4 (history table). Both tables come out of ONE
    * `scd1Apply` pass — the `changed` flag the merge already computes
    * selects the history appends, so the source is read once.
    * Output = current ∪ history with a `table_role` discriminator
    * (one DataFrame so the oracle can check both tables at once; a real
    * deployment writes them to two sinks from the same lineage).
    *
    * 100 TB: history is append-only and never joined for current
    * queries — the whole point of Type 4: the hot path stays
    * history-free while SCD2 drags every superseded version through
    * each scan until partition-pruned. */
  def scd4(spark: SparkSession, dir: String): DataFrame = {
    val batchTs = "2021-06-01 00:00:00"
    val dim = customerDim(spark, dir)
    val applied = Scd.scd1Apply(dim, vipStaged(spark, dir), Key, Attrs)
    val current = applied.select(dimCols ++ Seq(
      lit("current").as("table_role"),
      lit(null).cast("string").as("superseded_at")): _*)
    val history = dim
      .join(applied.filter(col("changed")).select(col("c_custkey")),
        Key, "left_semi")
      .select(dimCols ++ Seq(
        lit("history").as("table_role"),
        lit(batchTs).as("superseded_at")): _*)
    ordered(current.unionByName(history))
  }

  private val scd4Sql =
    s"""WITH $urgentCte
       |SELECT c.c_custkey, c.c_name,
       |  CASE WHEN u.c_custkey IS NOT NULL THEN 'VIP' ELSE c.c_mktsegment END
       |    AS c_mktsegment,
       |  'current' AS table_role, CAST(NULL AS VARCHAR) AS superseded_at
       |FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey
       |UNION ALL
       |SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       |  'history', '2021-06-01 00:00:00'
       |FROM customer c JOIN u ON c.c_custkey = u.c_custkey
       |WHERE c.c_mktsegment <> 'VIP'
       |${O.OrderAll}"""

  /** Late-arriving dimension (Kimball's classic): fact rows land BEFORE
    * their dimension row exists. Batch 1 ships only part of the
    * customer dim (`c_custkey % 7 <> 0`); every order still loads —
    * matched rows enrich immediately, orphans get an INFERRED member
    * (placeholder attributes, flagged) instead of being dropped or
    * blocking the load. Batch 2 delivers the late dim rows and the
    * placeholder facts resolve scd1-style. Output = final enriched
    * facts with their resolution lineage ('immediate' /
    * 'resolved_batch2' / 'unresolved'), so the oracle can check both
    * the end state AND that no fact was ever lost (row count = orders).
    *
    * 100 TB: both passes are broadcast-dim joins (the fact table never
    * shuffles); the pending set is the natural delta — batch 2 joins
    * ONLY the placeholder keys against the dim delta, not the whole
    * fact history. The anti-pattern this replaces: failing the load on
    * referential integrity, which turns one late dim row into a stalled
    * pipeline. */
  def lateArrivingDim(spark: SparkSession, dir: String): DataFrame = {
    val dimB1 = t(spark, dir, "customer").filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val dimB2 = t(spark, dir, "customer").filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val facts = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    // batch 1: enrich what we can, infer the rest
    val b1 = facts.join(broadcast(dimB1),
      col("o_custkey") === col("c_custkey"), "left")
    val immediate = b1.filter(col("c_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"),
        col("c_mktsegment"), lit("immediate").as("resolution"))
    val pending = b1.filter(col("c_custkey").isNull)
      .select(col("o_orderkey"), col("o_custkey"))
    // batch 2: the late dim rows arrive; placeholders resolve in place
    val resolved = pending.join(broadcast(dimB2),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"),
        col("c_mktsegment"),
        when(col("c_custkey").isNotNull, "resolved_batch2")
          .otherwise("unresolved").as("resolution"))
    ordered(immediate.unionByName(resolved))
  }

  private val lateArrivingDimSql =
    s"""SELECT o_orderkey, o_custkey, c_mktsegment,
       |  CASE WHEN c_custkey IS NULL THEN 'unresolved'
       |    WHEN c_custkey % 7 = 0 THEN 'resolved_batch2'
       |    ELSE 'immediate' END AS resolution
       |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
       |${O.OrderAll}"""

  /** Referential-integrity audit (README.md:12 "data integrity and
    * consistency"): orphan counts for every FK edge of the star schema
    * in one report — fact keys with no matching dimension row. Each
    * edge is a LEFT ANTI join (the dimension side broadcasts; the fact
    * side never shuffles), counted; the report is a 4-row union. A red
    * row here is what `etl_late_dim` then handles gracefully.
    *
    * 100 TB: anti-join-then-count is one pass per edge; for many edges
    * over one fact table, fuse them into a single pass of left joins +
    * conditional counts — spelled here as separate edges because each
    * probes a different fact table. */
  def fkCheck(spark: SparkSession, dir: String): DataFrame = {
    def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
        edge: String): DataFrame =
      fact.join(broadcast(dim), fact(fk) === dim(pk), "left_anti")
        .agg(lit(edge).as("fk_edge"), count(lit(1)).as("n_orphans"))
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    ordered(
      orphans(orders, "o_custkey", t(spark, dir, "customer"), "c_custkey",
        "orders.o_custkey -> customer")
        .unionByName(orphans(lineitem, "l_orderkey", orders, "o_orderkey",
          "lineitem.l_orderkey -> orders"))
        .unionByName(orphans(lineitem, "l_partkey", t(spark, dir, "part"),
          "p_partkey", "lineitem.l_partkey -> part"))
        .unionByName(orphans(lineitem, "l_suppkey", t(spark, dir, "supplier"),
          "s_suppkey", "lineitem.l_suppkey -> supplier")))
  }

  private val fkCheckSql = {
    def edge(fact: String, fk: String, dim: String, pk: String) =
      s"""SELECT '$fact.$fk -> $dim' AS fk_edge, COUNT(*) AS n_orphans
         |FROM ${orphansSql(fact, fk, dim, pk)}"""
    s"""${edge("orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL ${edge("lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL ${edge("lineitem", "l_partkey", "part", "p_partkey")}
       |UNION ALL ${edge("lineitem", "l_suppkey", "supplier", "s_suppkey")}
       |${O.OrderAll}"""
  }

  /** Bitemporal dimension — TWO time axes where SCD2 has one:
    * VALID time (when the fact was true in the world) × TRANSACTION
    * time (when the warehouse believed it). The case SCD2 cannot
    * answer: a RETROACTIVE correction — at tx T2 we learn the segment
    * already changed at valid-time V1 < T2. SCD2 either rewrites
    * history (audit broken) or dates the change at T2 (world wrong);
    * bitemporal closes the old belief on the tx axis and inserts the
    * corrected validity, so "what did we believe at tx X about valid
    * time V?" has one answer for every (X, V).
    *
    * Fixture: load at tx T1 (segments valid from 2020-01-01,
    * believed-forever); at tx T2 = 2021-06-01 learn urgent-order
    * customers became VIP at valid-time 2021-01-01. Output = both
    * beliefs about valid-time 2021-03-01 — probed BEFORE and AFTER the
    * correction — per customer; the oracle replays both point-in-time
    * reads. The two probes are FILTERS on the same table (each a
    * half-open rectangle test on the two axes), joined by key.
    *
    * 100 TB: a bitemporal read is two range predicates → with the
    * table partitioned on tx_from and Z-ordered/min-maxed on
    * (valid_from, valid_to), both prune to a file subset
    * (`sink_zorder`'s machinery); the correction batch touches only
    * affected keys — never a table rewrite. */
  def bitemporal(spark: SparkSession, dir: String): DataFrame = {
    val Hi = "9999-12-31 00:00:00"
    val (t1, t2) = ("2020-01-01 00:00:00", "2021-06-01 00:00:00")
    val v1 = "2021-01-01 00:00:00"
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val vip = urgentBuyers(spark, dir).select(col("c_custkey"))
    // tx T1 belief: segment valid [2020-01-01, ∞), believed [T1, ∞)...
    val load = base.select(col("c_custkey"), col("c_mktsegment").as("seg"),
      lit(t1).as("valid_from"), lit(Hi).as("valid_to"),
      lit(t1).as("tx_from"), lit(Hi).as("tx_to"))
    // ...until the tx-T2 retroactive correction for VIP keys: the old
    // belief row CLOSES on the tx axis (tx_to = T2, history intact) and
    // two corrected-validity rows open (pre-V1 unchanged, post-V1 VIP)
    val closed = load.join(vip, Seq("c_custkey"), "left_semi")
      .withColumn("tx_to", lit(t2))
    val keptOpen = load.join(vip, Seq("c_custkey"), "left_anti")
    val corrected = closed.select(col("c_custkey"), col("seg"))
      .select(col("c_custkey"), col("seg"),
        lit(t1).as("valid_from"), lit(v1).as("valid_to"),
        lit(t2).as("tx_from"), lit(Hi).as("tx_to"))
      .unionByName(closed.select(col("c_custkey"),
        lit("VIP").as("seg"), lit(v1).as("valid_from"), lit(Hi).as("valid_to"),
        lit(t2).as("tx_from"), lit(Hi).as("tx_to")))
    val table = keptOpen.unionByName(closed).unionByName(corrected)
    // point-in-time probe: belief AT tx X about valid time V
    def believedAt(tx: String, v: String, as: String) =
      table.filter(col("tx_from") <= tx && col("tx_to") > tx &&
          col("valid_from") <= v && col("valid_to") > v)
        .select(col("c_custkey"), col("seg").as(as))
    ordered(
      believedAt("2021-03-01 00:00:00", "2021-03-01 00:00:00", "belief_before")
        .join(believedAt("2022-01-01 00:00:00", "2021-03-01 00:00:00",
          "belief_after"), Seq("c_custkey")))
  }

  private val bitemporalSql =
    s"""WITH $urgentCte
       |SELECT c.c_custkey,
       |  c.c_mktsegment AS belief_before,
       |  CASE WHEN u.c_custkey IS NOT NULL THEN 'VIP'
       |    ELSE c.c_mktsegment END AS belief_after
       |FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey
       |${O.OrderAll}"""

  /** Right-to-erasure purge (GDPR/CCPA delete): given a tombstone set
    * of customer keys (here the deterministic slice c_custkey % 97 = 0,
    * standing in for a deletion-request table), cascade the delete
    * through the FK chain — customer rows, their orders, those orders'
    * lineitems — and emit the per-table audit the DPO signs off on:
    * rows_before / rows_purged / rows_after, plus an `orphans_after`
    * proof column (rows in the purged child table still referencing a
    * purged parent — must be 0) so a green row certifies the cascade
    * was complete, not just attempted. The orphan counts are derived
    * independently of the purge joins — kept rows re-tested against
    * the tombstone PREDICATE (orders directly, lineitem through its
    * parent order) — so the column measures the cascade, not the
    * anti-join identity (`(X anti S) semi S` is zero by
    * construction and would certify nothing).
    *
    * 100 TB: the tombstone set is tiny → BROADCAST anti/semi joins on
    * customer and orders (no fact shuffle). The purged-orderkey set is
    * NOT broadcastable at scale (it grows with the fact table), so the
    * lineitem cascade is a shuffle semi-join on l_orderkey — exactly
    * the key lineitem is naturally bucketed/partitioned by, so with a
    * bucketed layout (`join_bucketed`) even that join is
    * exchange-free. Purges land as partition rewrites (`etl_backfill`'s
    * dynamic overwrite), never row-level updates. */
  def retentionPurge(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    val tomb = customer.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"))
    val deadOrders = orders.join(broadcast(tomb),
      col("o_custkey") === col("c_custkey"), "left_semi")
    val keptOrders = orders.join(broadcast(tomb),
      col("o_custkey") === col("c_custkey"), "left_anti")
    val deadLine = lineitem.join(deadOrders.select(col("o_orderkey")),
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    val keptLine = lineitem.join(deadOrders.select(col("o_orderkey")),
      col("l_orderkey") === col("o_orderkey"), "left_anti")
    // cascade-completeness proof: kept children referencing a purged
    // parent (must be 0 per table for the purge to be lawful). Derived
    // INDEPENDENTLY of the purge joins (`(X anti S) semi S`
    // is empty by the anti-join identity and certifies nothing): kept
    // orders re-test the tombstone PREDICATE on their own column —
    // catching a wrong tomb derivation or broken anti join — and kept
    // lineitems walk the parent chain through the orders table to the
    // predicate, catching an incomplete cascade (deadOrders built from
    // the wrong key would pass the tautological spelling, not this).
    val orphanOrders = keptOrders.filter(col("o_custkey") % 97 === 0)
    val orphanLine = keptLine
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") % 97 === 0)
    def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    val counts = n(customer, "c_all").crossJoin(n(tomb, "c_dead"))
      .crossJoin(n(orders, "o_all")).crossJoin(n(deadOrders, "o_dead"))
      .crossJoin(n(lineitem, "l_all")).crossJoin(n(deadLine, "l_dead"))
      .crossJoin(n(orphanOrders, "o_orph")).crossJoin(n(orphanLine, "l_orph"))
    def row(tbl: String, all: String, dead: String,
        orph: org.apache.spark.sql.Column) =
      counts.select(lit(tbl).as("table_name"), col(all).as("rows_before"),
        col(dead).as("rows_purged"), (col(all) - col(dead)).as("rows_after"),
        orph.as("orphans_after"))
    ordered(
      row("customer", "c_all", "c_dead", lit(0L))
        .unionByName(row("orders", "o_all", "o_dead", col("o_orph")))
        .unionByName(row("lineitem", "l_all", "l_dead", col("l_orph"))))
  }

  private val retentionPurgeSql =
    s"""WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
       |dead_o AS (SELECT o_orderkey, o_custkey FROM orders
       |  WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
       |n AS (SELECT
       |  (SELECT COUNT(*) FROM customer) AS c_all,
       |  (SELECT COUNT(*) FROM tomb) AS c_dead,
       |  (SELECT COUNT(*) FROM orders) AS o_all,
       |  (SELECT COUNT(*) FROM dead_o) AS o_dead,
       |  (SELECT COUNT(*) FROM lineitem) AS l_all,
       |  (SELECT COUNT(*) FROM lineitem
       |   WHERE l_orderkey IN (SELECT o_orderkey FROM dead_o)) AS l_dead)
       |SELECT 'customer' AS table_name, c_all AS rows_before,
       |  c_dead AS rows_purged, c_all - c_dead AS rows_after,
       |  0 AS orphans_after FROM n
       |UNION ALL
       |SELECT 'orders', o_all, o_dead, o_all - o_dead, 0 FROM n
       |UNION ALL
       |SELECT 'lineitem', l_all, l_dead, l_all - l_dead, 0 FROM n
       |${O.OrderAll}"""

  /** Conformed-dimension survivorship (the MDM golden-record merge):
    * two overlapping source systems disagree about the same customer —
    * a CRM extract (lowercased names, balances missing for a slice,
    * some customers absent) and a billing extract (canonical names,
    * fresh balances, only even keys) — and the golden record applies
    * field-level survivorship rules (billing wins names and balances
    * where present; CRM owns segmentation) with PROVENANCE columns
    * recording which system each surviving field came from, plus the
    * match class (both / crm_only / billing_only) every MDM audit
    * wants. The deterministic key slices stand in for real extracts so
    * the oracle can rebuild both sides exactly.
    *
    * 100 TB: conforming is ONE full-outer hash join on the natural key
    * (both extracts shuffle once, co-partitioned on c_custkey);
    * survivorship is row-local coalesce/CASE inside the join's
    * project — no second pass, no per-field joins. With both extracts
    * bucketed on the key the join is exchange-free. */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val crm = c.filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey").as("key"),
        lower(col("c_name")).as("crm_name"),
        when(col("c_custkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("crm_bal"),
        col("c_mktsegment").as("crm_seg"))
    val billing = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("key"),
        col("c_name").as("bill_name"),
        col("c_acctbal").as("bill_bal"))
    ordered(
      crm.join(billing, Seq("key"), "full_outer")
        .select(
          col("key").as("c_custkey"),
          coalesce(col("bill_name"), col("crm_name")).as("name"),
          when(col("bill_name").isNotNull, "billing").otherwise("crm")
            .as("name_src"),
          coalesce(col("bill_bal"), col("crm_bal")).as("acctbal"),
          when(col("bill_bal").isNotNull, "billing")
            .when(col("crm_bal").isNotNull, "crm")
            .otherwise("none").as("bal_src"),
          col("crm_seg").as("mktsegment"),
          when(col("crm_name").isNotNull && col("bill_name").isNotNull, "both")
            .when(col("crm_name").isNotNull, "crm_only")
            .otherwise("billing_only").as("match_class")))
  }

  private val survivorshipSql =
    s"""WITH crm AS (
       |  SELECT c_custkey AS key, lower(c_name) AS crm_name,
       |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS crm_bal,
       |    c_mktsegment AS crm_seg
       |  FROM customer WHERE c_custkey % 7 <> 0),
       |billing AS (
       |  SELECT c_custkey AS key, c_name AS bill_name, c_acctbal AS bill_bal
       |  FROM customer WHERE c_custkey % 2 = 0)
       |SELECT COALESCE(crm.key, billing.key) AS c_custkey,
       |  COALESCE(bill_name, crm_name) AS name,
       |  CASE WHEN bill_name IS NOT NULL THEN 'billing' ELSE 'crm' END AS name_src,
       |  COALESCE(bill_bal, crm_bal) AS acctbal,
       |  CASE WHEN bill_bal IS NOT NULL THEN 'billing'
       |    WHEN crm_bal IS NOT NULL THEN 'crm'
       |    ELSE 'none' END AS bal_src,
       |  crm_seg AS mktsegment,
       |  CASE WHEN crm_name IS NOT NULL AND bill_name IS NOT NULL THEN 'both'
       |    WHEN crm_name IS NOT NULL THEN 'crm_only'
       |    ELSE 'billing_only' END AS match_class
       |FROM crm FULL OUTER JOIN billing ON crm.key = billing.key
       |${O.OrderAll}"""

  /** Write-Audit-Publish — the lakehouse promotion gate (the pattern
    * Iceberg's WAP branch / Delta's staging tables encode): a batch
    * first LANDS in a stage location, the DQ audit runs on the STAGED
    * FILES (what actually landed, never what the job meant to write —
    * a truncated/corrupted write is exactly what the audit exists to
    * catch), and only a clean audit promotes the batch to the
    * published location; a dirty batch is withheld and the published
    * table never sees it. Batch A (clean slice) publishes; batch B
    * (every 17th key's custkey nulled — the injected violation) is
    * withheld. `published_rows` is counted from the PUBLISHED location
    * after both audits — the oracle pins it to exactly batch A's rows,
    * proving the gate both admitted A and stopped B. At 100 TB
    * publish is a metadata swap (branch fast-forward / manifest
    * commit), never a data copy — here it is a rewrite because the
    * sandbox has no table format, the gate logic is identical. */
  def wap(spark: SparkSession, dir: String): DataFrame = {
    val stageA = Fixtures.path(dir, "etl_wap_stage_a")
    val stageB = Fixtures.path(dir, "etl_wap_stage_b")
    val pub = Fixtures.path(dir, "etl_wap_published")
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    o.filter(col("o_orderkey") % 3 === 0)
      .write.mode("overwrite").parquet(stageA)
    o.filter(col("o_orderkey") % 3 === 1)
      .withColumn("o_custkey",
        when(col("o_orderkey") % 17 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")))
      .write.mode("overwrite").parquet(stageB)
    val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
    // the audit is a bounded driver scalar pair per batch (2 longs)
    def audit(path: String): (Long, Long) = {
      val r = spark.read.schema(schema).parquet(path).agg(
        count(lit(1)),
        count(when(col("o_custkey").isNull || col("o_totalprice") <= 0, lit(1))))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val (na, va) = audit(stageA)
    val (nb, vb) = audit(stageB)
    // clean batches publish via WRITE-TO-TEMP + RENAME (the
    // Fixtures.once idiom): the earlier form deleted the published
    // location BEFORE re-appending, so a crash
    // mid-publish (or a concurrent reader) saw a missing/partial
    // table. Now every clean batch lands in a temp dir first and the
    // published location is swapped in one rename — the closest a
    // filesystem gets to the metadata-swap commit the scaladoc
    // describes (the remaining delete→rename window is metadata-only;
    // a real table format closes it with a manifest pointer). The
    // filesystem is the PATH's own, not the default FS.
    val hconf = spark.sparkContext.hadoopConfiguration
    val pubPath = new org.apache.hadoop.fs.Path(pub)
    val fs = pubPath.getFileSystem(hconf)
    val tmpPath = new org.apache.hadoop.fs.Path(
      pub + ".publish." + ProcessHandle.current().pid())
    val oldPath = new org.apache.hadoop.fs.Path(pub + ".old")
    // Crash restore BEFORE the sweep: a crash
    // between the swap's two renames leaves the table absent with the
    // previous publish parked at <pub>.old — the sweep alone would
    // delete the only existing copy without restoring it. Put it back
    // first; the rebuild below then swaps it out normally, so readers
    // between the restore and the swap see the PREVIOUS publish, never
    // an absent table.
    if (!fs.exists(pubPath) && fs.exists(oldPath))
      require(fs.rename(oldPath, pubPath),
        s"WAP crash restore failed: $oldPath -> $pubPath")
    // Debris sweep: a publish that crashed in a
    // DIFFERENT JVM left a <pub>.publish.<otherpid> (or a .old from a
    // crashed swap whose <pub> survived) that a PID-keyed delete never
    // touches. Concurrent publishes to one table are unsupported, so
    // every matching sibling is a dead run's leftovers — sweep them.
    val pubName = pubPath.getName
    if (fs.exists(pubPath.getParent))
      fs.listStatus(pubPath.getParent).map(_.getPath)
        .filter(p => p.getName.startsWith(pubName + ".publish.") ||
          p.getName == pubName + ".old")
        .foreach(p => fs.delete(p, true))
    if (va == 0L)
      spark.read.schema(schema).parquet(stageA)
        .write.mode("append").parquet(tmpPath.toString)
    if (vb == 0L)
      spark.read.schema(schema).parquet(stageB)
        .write.mode("append").parquet(tmpPath.toString)
    if (fs.exists(tmpPath)) {
      // Two-rename swap: a delete→rename would leave
      // a window where a crash lost the ONLY copy of the table. Instead
      // the published data is renamed ASIDE first — a crash between
      // the renames leaves the table absent with the previous publish
      // at <pub>.old, and the next run RESTORES it (the crash-restore
      // step above) before rebuilding from the stages. Readers can
      // still observe the absent instant; a real table format closes
      // that with a manifest pointer, which a filesystem cannot
      // express.
      if (fs.exists(pubPath))
        require(fs.rename(pubPath, oldPath), s"WAP publish rename-aside failed: $pubPath -> $oldPath")
      require(fs.rename(tmpPath, pubPath), s"WAP publish rename failed: $tmpPath -> $pubPath")
      fs.delete(oldPath, true)
    } else {
      fs.delete(pubPath, true) // zero clean batches → absent table
    }
    val pubRows =
      if (fs.exists(pubPath))
        spark.read.schema(schema).parquet(pub).count()
      else 0L
    import spark.implicits._
    ordered(Seq(
      ("A", na, va, va == 0L, pubRows),
      ("B", nb, vb, vb == 0L, pubRows))
      .toDF("batch", "n_rows", "n_violations", "published", "published_rows"))
  }

  private val wapSql =
    s"""WITH a AS (
       |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |  WHERE o_orderkey % 3 = 0),
       |b AS (
       |  SELECT o_orderkey,
       |    CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
       |    o_totalprice
       |  FROM orders WHERE o_orderkey % 3 = 1),
       |s AS (
       |  SELECT 'A' AS batch, COUNT(*) AS n_rows,
       |    COUNT(CASE WHEN o_custkey IS NULL OR o_totalprice <= 0 THEN 1 END)
       |      AS n_violations
       |  FROM a
       |  UNION ALL
       |  SELECT 'B', COUNT(*),
       |    COUNT(CASE WHEN o_custkey IS NULL OR o_totalprice <= 0 THEN 1 END)
       |  FROM b)
       |SELECT batch, n_rows, n_violations, n_violations = 0 AS published,
       |  (SELECT COUNT(*) FROM a) AS published_rows
       |FROM s
       |${O.OrderAll}"""

  /** Manifest-driven VACUUM — the other half of `etl_compaction`'s
    * maintenance story: failed/zombie writers leave ORPHAN data files
    * beside a table (debris a committed manifest never references —
    * Delta's VACUUM, Iceberg's remove-orphan-files). The table's file
    * list is captured at commit time (the manifest — at 100 TB it IS
    * the table, listing is metadata not a directory walk), two
    * orphans are injected (byte-copies of real data files — the
    * dangerous kind: a naive directory-glob read silently
    * DOUBLE-COUNTS them, proven by the pinned `naive_read_inflated`
    * flag), and vacuum deletes exactly the unreferenced DATA files
    * (hidden/underscore metadata — commit markers, .crc sidecars — is the
    * layout's own, skipped by the same listing rule Delta's VACUUM
    * applies). The audit row carries the post-vacuum
    * count+sum (oracle recomputes from source: vacuum must delete
    * debris, never data) and the deterministic orphan count. */
  def vacuum(spark: SparkSession, dir: String): DataFrame = {
    val path = Fixtures.path(dir, "etl_vacuum_data")
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    o.repartition(4).write.mode("overwrite").parquet(path)
    val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
    // the committed manifest: the file list AT COMMIT TIME
    val manifest = spark.read.schema(schema).parquet(path)
      .select(input_file_name()).distinct()
      .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
    require(manifest.nonEmpty && manifest.forall(_.startsWith("/")),
      s"manifest must hold absolute local paths, got $manifest")
    // inject orphans: two byte-copies of real data files — the debris
    // a killed writer's un-committed task attempts leave behind
    val dataFiles = manifest.toSeq.sorted.take(2)
    val orphans = dataFiles.zipWithIndex.map { case (f, i) =>
      val dst = java.nio.file.Paths.get(s"$path/orphan-$i.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(f), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    // a glob read over the directory now double-counts the copies
    // (refresh first: Spark's FileStatusCache still holds the
    // at-commit listing for this path — which is itself the manifest
    // lesson in miniature)
    spark.catalog.refreshByPath(path)
    val naiveRows = spark.read.schema(schema).parquet(path).count()
    // vacuum: delete every DATA file the manifest doesn't reference.
    // Hidden/underscore-prefixed names are skipped — they are the
    // layout's own metadata (commit markers, .crc checksum sidecars), never
    // vacuum's business: the same listing rule Delta's VACUUM applies.
    def isData(f: java.io.File) =
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
    val deleted = new java.io.File(path).listFiles()
      .filter(isData)
      .filterNot(f => manifest.contains(f.getAbsolutePath))
      .map { f => require(f.delete(), s"could not delete ${f.getPath}"); f }
      .length
    val filesAfter = new java.io.File(path).listFiles().count(isData)
    spark.catalog.refreshByPath(path)
    val clean = spark.read.schema(schema).parquet(path)
    val cleanRows = clean.count()
    ordered(clean.groupBy()
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total_price"))
      .withColumn("orphans_deleted", lit(deleted.toLong))
      .withColumn("naive_read_inflated",
        lit(naiveRows > cleanRows && deleted == orphans.length))
      .withColumn("files_after_eq_manifest", lit(filesAfter == manifest.size)))
  }

  private val vacuumSql =
    s"""SELECT COUNT(*) AS n_rows, ${O.dsum("o_totalprice")} AS total_price,
       |  CAST(2 AS BIGINT) AS orphans_deleted,
       |  TRUE AS naive_read_inflated, TRUE AS files_after_eq_manifest
       |FROM orders
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "etl_vacuum" -> Q(vacuum _, vacuumSql),
    "etl_wap" -> Q(wap _, wapSql),
    "etl_survivorship" -> Q(survivorship _, survivorshipSql),
    "etl_retention_purge" -> Q(retentionPurge _, retentionPurgeSql),
    "etl_bitemporal" -> Q(bitemporal _, bitemporalSql),
    "etl_fk_check" -> Q(fkCheck _, fkCheckSql),
    "etl_late_dim" -> Q(lateArrivingDim _, lateArrivingDimSql),
    "etl_scd4" -> Q(scd4 _, scd4Sql),
    "etl_dq_profile" -> Q(dqProfile _, dqProfileSql),
    "etl_dq_profile_approx" -> Q(dqProfileApprox _, dqProfileApproxSql),
    "etl_partition_evolution" -> Q(partitionEvolution _, partitionEvolutionSql),
    "etl_snapshot_diff" -> Q(snapshotDiff _, snapshotDiffSql),
    "etl_scd3" -> Q(scd3 _, scd3Sql),
    "etl_schema_evolution" -> Q(schemaEvolution _, schemaEvolutionSql),
    "etl_schema_drift" -> Q(schemaDrift _, schemaDriftSql),
    "etl_cdc_apply" -> Q(cdcApply _, cdcApplySql),
    "etl_compaction" -> Q(compaction _, compactionSql),
    "etl_backfill" -> Q(backfill _, backfillSql),
    "etl_full_load" -> Q(fullLoad _, fullLoadSql),
    "etl_incremental" -> Q(incremental _, incrementalSql),
    "etl_scd1" -> Q(scd1 _, scd1Sql),
    "etl_scd2" -> Q(scd2 _, scd2Sql),
    "etl_scd2_delete" -> Q(scd2Delete _, scd2DeleteSql),
    "join_asof_scd2" -> Q(asofScd2 _, asofScd2Sql),
    "etl_dq_check" -> Q(dqCheck _, dqCheckSql),
    "etl_audit" -> Q(audit _, auditSql),
    "etl_quarantine" -> Q(quarantine _, quarantineSql)
  )
}
