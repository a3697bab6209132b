package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** The `spark.sql(...)` entry surface (SURVEY.md §1.3 API mapping): the
  * same engine is reachable through registered temp views + ANSI SQL —
  * Catalyst produces the identical plan as the DataFrame spelling, so
  * everything PlanSpec pins (pushdown, broadcast, partial aggregation)
  * holds here too. Query shape: TPC-H Q3 (shipping priority).
  */
object SqlApi {

  def sqlTpchQ3(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT l_orderkey,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
         |    AS revenue,
         |  date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
         |  o_orderpriority
         |FROM graft_customer
         |JOIN graft_orders ON c_custkey = o_custkey
         |JOIN graft_lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin))
  }

  private val sqlTpchQ3Sql =
    s"""SELECT l_orderkey,
       |  ${O.dsumExpr(O.revenue)} AS revenue,
       |  ${O.dateStr("o_orderdate")} AS o_date,
       |  o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |${O.OrderAll}"""

  /** GROUPING SETS — the general form rollup/cube specialize: exactly
    * the requested grouping combinations, nothing more. Region-level,
    * nation-level, and grand totals in one pass over the join. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer", "nation", "region").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT COALESCE(r_name, 'ALL') AS region,
         |  COALESCE(n_name, 'ALL') AS nation,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
         |  COUNT(*) AS n_orders
         |FROM graft_orders
         |JOIN graft_customer ON o_custkey = c_custkey
         |JOIN graft_nation ON c_nationkey = n_nationkey
         |JOIN graft_region ON n_regionkey = r_regionkey
         |GROUP BY GROUPING SETS ((r_name), (n_name), ())""".stripMargin))
  }

  private val aggGroupingSetsSql =
    s"""SELECT COALESCE(r_name, 'ALL') AS region,
       |  COALESCE(n_name, 'ALL') AS nation,
       |  ${O.dsum("o_totalprice")} AS total,
       |  COUNT(*) AS n_orders
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY GROUPING SETS ((r_name), (n_name), ())
       |${O.OrderAll}"""

  /** Correlated scalar subquery — Catalyst decorrelates it into an
    * aggregate + join (SURVEY.md §4.2 "subquery decorrelation"), so the
    * inner query runs once, not per row: orders 50% above their
    * customer's average order value. */
  def sqlCorrelated(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("graft_orders")
    ordered(spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM graft_orders o
         |WHERE o_totalprice > 1.5 * (
         |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE)
         |  FROM graft_orders i WHERE i.o_custkey = o.o_custkey)""".stripMargin))
  }

  private val sqlCorrelatedSql =
    s"""SELECT o_orderkey, o_custkey, o_totalprice
       |FROM orders o
       |WHERE o_totalprice > 1.5 * (
       |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE)
       |  FROM orders i WHERE i.o_custkey = o.o_custkey)
       |${O.OrderAll}"""

  /** TPC-H Q5 (local supplier volume): the 6-table snowflake join with
    * the local-supplier correlation (supplier and customer must share a
    * nation). Catalyst broadcasts the three dim tables and reorders the
    * join chain; the only big-big edge is orders⋈lineitem. The region
    * filter reaches the region scan and prunes the nation/supplier
    * sides through the join (PlanSpec pins broadcasts + pushdown on
    * the DataFrame twin `join_star`; this is the SQL spelling). */
  def sqlTpchQ5(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach { n =>
        Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
      }
    ordered(spark.sql(
      s"""SELECT n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
         |    AS revenue,
         |  COUNT(*) AS n_items
         |FROM graft_customer
         |JOIN graft_orders ON c_custkey = o_custkey
         |JOIN graft_lineitem ON l_orderkey = o_orderkey
         |JOIN graft_supplier ON l_suppkey = s_suppkey
         |  AND s_nationkey = c_nationkey
         |JOIN graft_nation ON c_nationkey = n_nationkey
         |JOIN graft_region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name""".stripMargin))
  }

  private val sqlTpchQ5Sql =
    s"""SELECT n_name,
       |  ${O.dsumExpr(O.revenue)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |${O.OrderAll}"""

  /** TPC-H Q18 (large-volume customers): GROUP BY + HAVING-style
    * subquery IN filter — Catalyst turns the IN-subquery into a
    * left-semi join against the pre-aggregated lineitem, so the big
    * table aggregates once, not once per outer row. Threshold scaled
    * to the synthetic data's order sizes (sum qty > 180). */
  def sqlTpchQ18(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT c_name, c_custkey, o_orderkey,
         |  date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
         |FROM graft_customer
         |JOIN graft_orders ON c_custkey = o_custkey
         |JOIN graft_lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM graft_lineitem
         |  GROUP BY l_orderkey
         |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180)
         |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate""".stripMargin))
  }

  private val sqlTpchQ18Sql =
    s"""SELECT c_name, c_custkey, o_orderkey,
       |  ${O.dateStr("o_orderdate")} AS o_date,
       |  ${O.dsum("l_quantity")} AS total_qty
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE o_orderkey IN (
       |  SELECT l_orderkey FROM lineitem
       |  GROUP BY l_orderkey
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 180)
       |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
       |${O.OrderAll}"""

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    * spelling of per-outer-row top-N (the DataFrame twin is
    * `topk_grouped`'s window). Catalyst decorrelates the lateral into
    * a join + per-key limit instead of executing the subquery once per
    * customer row — the property that makes the spelling survive a
    * 100 TB outer side (a re-execute-per-row strategy would be O(n)
    * subquery runs). Verified in the physical plan: the lateral
    * becomes one BroadcastHashJoin/SMJ, never an iterative subquery. */
  def sqlLateral(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         |FROM graft_customer c, LATERAL (
         |  SELECT o_orderkey, o_totalprice FROM graft_orders
         |  WHERE o_custkey = c.c_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
         |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin))
  }

  private val sqlLateralSql =
    s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
       |FROM customer c, LATERAL (
       |  SELECT o_orderkey, o_totalprice FROM orders
       |  WHERE o_custkey = c.c_custkey
       |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
       |WHERE c.c_mktsegment = 'BUILDING'
       |${O.OrderAll}"""

  /** Disjunctive IN-subquery — `IN (subquery) OR other_predicate`.
    * A plain IN becomes a left-semi join, but under an OR the semi
    * join can't filter rows outright; Catalyst plans an
    * EXISTENCE join (a semi-join variant that APPENDS a boolean
    * `exists` column instead of filtering) and evaluates the
    * disjunction afterwards — the third semi-join family member next
    * to `join_semi`/`join_anti`, pinned in PlanSpec. Same scale shape
    * as a semi join: one hash join on the subquery key, no row
    * explosion. */
  def joinExistence(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT c_custkey, c_acctbal FROM graft_customer
         |WHERE c_custkey IN (
         |    SELECT o_custkey FROM graft_orders WHERE o_totalprice > 400000)
         |  OR c_acctbal > 9000""".stripMargin))
  }

  private val joinExistenceSql =
    s"""SELECT c_custkey, c_acctbal FROM customer
       |WHERE c_custkey IN (
       |    SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
       |  OR c_acctbal > 9000
       |${O.OrderAll}"""

  /** TPC-H Q16 (parts/supplier relationship), adapted to the synthetic
    * schema (no partsupp table — lineitem is the part↔supplier
    * association; no s_comment — negative account balance stands in
    * for the excluded-supplier predicate). The interesting operator is
    * `NOT IN (subquery)` on a NULLABLE key: unlike NOT EXISTS, NOT IN
    * is null-poisoned (one NULL in the subquery empties the result),
    * so Catalyst cannot use a plain anti join — it plans a
    * NULL-AWARE anti join (BroadcastHashJoin with
    * `isNullAwareAntiJoin=true`, single-column broadcast case), the
    * fourth semi-join family member. Pinned in PlanSpec — the naive
    * fallback is a BroadcastNestedLoopJoin, which would be a
    * scale-killer on a 100 TB probe side. */
  def sqlTpchQ16(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "supplier", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
         |FROM graft_lineitem
         |JOIN graft_part ON p_partkey = l_partkey
         |WHERE p_brand <> 'Brand#1'
         |  AND p_size IN (1, 7, 14, 23, 36, 45)
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM graft_supplier WHERE s_acctbal < 0)
         |GROUP BY p_brand, p_size""".stripMargin))
  }

  private val sqlTpchQ16Sql =
    s"""SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |WHERE p_brand <> 'Brand#1'
       |  AND p_size IN (1, 7, 14, 23, 36, 45)
       |  AND l_suppkey NOT IN (
       |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |GROUP BY p_brand, p_size
       |${O.OrderAll}"""

  /** Recursive CTE (new SQL surface in Spark 4): bounded-depth BFS
    * reachability over the parts-co-ordered graph (a sparse
    * deterministic slice), depth ≤ 3 from the minimum part key, final
    * aggregation = parts first reached at each depth. The depth bound
    * carries IN the recursion (`WHERE depth < 3`) so UNION ALL
    * terminates on cyclic graphs; min-depth dedup happens in the final
    * aggregate — both engines execute the identical iteration.
    *
    * 100 TB: each recursive step is one equi-join of the frontier
    * against the edge list — the same per-round shape as
    * `llm_dup_clusters`' iterative components, now expressed in pure
    * SQL; the engine materializes each step, so bounding depth (or
    * deduping the frontier) is what keeps step size finite on dense
    * graphs — exactly what the depth column does here. */
  def sqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    // Materialize the edge list ONCE behind the recursion (r14, guide
    // §3.3 "materialising an intermediate truncates the plan"): Spark
    // inlines a CTE per reference, so the un-materialized spelling
    // re-derived `op` (lineitem scan + distinct) and `e` (the
    // self-join) inside EVERY recursive step: the per-job table showed
    // the op scan 8× and the e self-join 5× per run at sf0.1. This is the
    // exact hazard the DuckDB oracle already guards against with
    // WITH ... AS MATERIALIZED (dupClustersSql r13 note); Spark has no
    // MATERIALIZED hint, so the edge list is cut into a temp view and
    // the recursion — the operator under demonstration — runs over the
    // materialized relation.
    import graft.core.Lineage.LineageCutOps
    spark.sql(
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM graft_lineitem WHERE l_orderkey % 16 = 0)
         |SELECT DISTINCT x.p AS src, y.p AS dst
         |FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p""".stripMargin)
      .lineageCut()
      .createOrReplaceTempView("graft_recursive_e")
    ordered(spark.sql(
      s"""WITH RECURSIVE
         |seed AS (SELECT min(src) AS v FROM graft_recursive_e),
         |reach(v, depth) AS (
         |  SELECT v, 0 FROM seed
         |  UNION ALL
         |  SELECT e.dst, r.depth + 1
         |  FROM reach r JOIN graft_recursive_e e ON e.src = r.v
         |  WHERE r.depth < 3)
         |SELECT min_depth, COUNT(*) AS n_parts
         |FROM (SELECT v, min(depth) AS min_depth FROM reach GROUP BY v)
         |GROUP BY min_depth""".stripMargin))
  }

  private val sqlRecursiveSql =
    s"""WITH RECURSIVE
       |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |e AS (
       |  SELECT DISTINCT x.p AS src, y.p AS dst
       |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
       |seed AS (SELECT min(src) AS v FROM e),
       |reach(v, depth) AS (
       |  SELECT v, 0 FROM seed
       |  UNION ALL
       |  SELECT e.dst, r.depth + 1
       |  FROM reach r JOIN e ON e.src = r.v
       |  WHERE r.depth < 3)
       |SELECT min_depth, COUNT(*) AS n_parts
       |FROM (SELECT v, min(depth) AS min_depth FROM reach GROUP BY v)
       |GROUP BY min_depth
       |${O.OrderAll}"""

  /** TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    * synthetic schema: no receipt/commit dates, so a line is "late"
    * when it shipped more than 60 days after the order date; the
    * partsupp association is lineitem itself. The operator of interest
    * is the DOUBLE correlated quantifier pair on the same fact table —
    * `EXISTS (other supplier in this order)` AND `NOT EXISTS (other
    * supplier ALSO late in this order)` — i.e. blame suppliers who were
    * the sole late shipper on a multi-supplier finished order.
    *
    * Catalyst decorrelates each quantifier into a join on
    * `l_orderkey` with the `l_suppkey <> …` residual as a join
    * condition: EXISTS → LeftSemi, NOT EXISTS → LeftAnti — never a
    * per-row subquery re-execution. 100 TB: three passes over
    * lineitem, all equi-keyed on l_orderkey, so with lineitem bucketed
    * by orderkey (see `join_bucketed`) all three co-locate; nothing in
    * the plan is quadratic. The `late` CTE keeps the two quantifier
    * probes small (late lines only) before the semi/anti pair. */
  def sqlTpchQ21(spark: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "orders", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""WITH late AS (
         |  SELECT l_orderkey, l_suppkey
         |  FROM graft_lineitem JOIN graft_orders ON o_orderkey = l_orderkey
         |  WHERE o_orderstatus = 'F'
         |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         |SELECT s_name, COUNT(*) AS numwait
         |FROM graft_supplier
         |JOIN late l1 ON s_suppkey = l1.l_suppkey
         |WHERE EXISTS (
         |    SELECT 1 FROM graft_lineitem l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM late l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY s_name""".stripMargin))
  }

  private val sqlTpchQ21Sql =
    s"""WITH late AS (
       |  SELECT l_orderkey, l_suppkey
       |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |  WHERE o_orderstatus = 'F'
       |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       |SELECT s_name, COUNT(*) AS numwait
       |FROM supplier
       |JOIN late l1 ON s_suppkey = l1.l_suppkey
       |WHERE EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM late l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey)
       |GROUP BY s_name
       |${O.OrderAll}"""

  /** TPC-H Q4 (order priority checking), adapted: count orders per
    * priority where SOME line shipped more than 30 days after the
    * order date. The correlated EXISTS carries the outer's o_orderdate
    * INTO the subquery predicate — Catalyst decorrelates to a LeftSemi
    * join on l_orderkey with the date comparison as a residual join
    * condition (one hash join; the date residual evaluates per matched
    * pair, no re-execution). */
  def sqlTpchQ4(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS order_count
         |FROM graft_orders
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND EXISTS (
         |    SELECT 1 FROM graft_lineitem
         |    WHERE l_orderkey = o_orderkey
         |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         |GROUP BY o_orderpriority""".stripMargin))
  }

  private val sqlTpchQ4Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem
       |    WHERE l_orderkey = o_orderkey
       |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
       |GROUP BY o_orderpriority
       |${O.OrderAll}"""

  /** TPC-H Q12 (shipping modes / priority classes), adapted to the
    * synthetic schema (returnflag plays shipmode): per flag, how many
    * lines belong to critical- vs normal-priority orders — the
    * canonical conditional-aggregation-over-a-join shape (both counts
    * in ONE pass; the naive two-query spelling scans the join twice). */
  def sqlTpchQ12(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT l_returnflag,
         |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) AS high_line_count,
         |  SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) AS low_line_count
         |FROM graft_orders JOIN graft_lineitem ON o_orderkey = l_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_returnflag""".stripMargin))
  }

  private val sqlTpchQ12Sql =
    s"""SELECT l_returnflag,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY l_returnflag
       |${O.OrderAll}"""

  /** TPC-H Q14 (promotion effect), adapted (p_type prefix 'STANDARD'
    * plays PROMO%): promo revenue share as a percentage — a ratio of
    * two conditional sums computed in the SAME aggregate (exact decimal
    * sums per Determinism; ONE double division at the end, identical
    * on both engines). Single broadcast join, single pass. */
  def sqlTpchQ14(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT CAST(100.0 * SUM(CASE WHEN p_type LIKE 'STANDARD%'
         |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
         |      * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
         |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |      * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)))
         |    AS DOUBLE) AS promo_revenue_pct,
         |  COUNT(*) AS n_lines
         |FROM graft_lineitem JOIN graft_part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-09-01 00:00:00'""".stripMargin))
  }

  private val sqlTpchQ14Sql =
    s"""SELECT ${O.dbl(
         s"100.0 * SUM(CASE WHEN p_type LIKE 'STANDARD%' THEN ${O.revenue} " +
           "ELSE CAST(0 AS DECIMAL(12,2)) END)")}
       |  / ${O.dsumExpr(O.revenue)} AS promo_revenue_pct,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-09-01 00:00:00'
       |${O.OrderAll}"""

  /** TPC-H Q2 shape (minimum-cost supplier), adapted: no partsupp
    * table in the corpus, so lineitem rows play the part↔supplier
    * offer list with l_extendedprice as the supply cost. The point is
    * the one decorrelation family member the inventory lacked: a
    * correlated SCALAR subquery whose body is an AGGREGATE OVER A
    * MULTI-TABLE JOIN (`min(cost)` over offer⋈supplier⋈nation⋈region,
    * correlated on the outer part). Catalyst decorrelates it into one
    * grouped aggregate joined back on the correlation key — the inner
    * join pipeline runs ONCE, not once per outer row (PlanSpec pins a
    * single aggregate + join, no per-row re-execution). At 100 TB the
    * decorrelated form is a plain shuffle-join plan; the naive
    * interpretation would be O(outer × inner) scans.
    * Costs compare as DECIMAL(12,2) — exact equality, no float ties. */
  def sqlTpchQ2(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "supplier", "nation", "region").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
         |  s_name, n_name, p_partkey, p_brand,
         |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
         |    AS supply_cost
         |FROM graft_part
         |JOIN graft_lineitem ON p_partkey = l_partkey
         |JOIN graft_supplier ON l_suppkey = s_suppkey
         |JOIN graft_nation ON s_nationkey = n_nationkey
         |JOIN graft_region ON n_regionkey = r_regionkey
         |WHERE p_size = 15 AND r_name = 'EUROPE'
         |  AND CAST(l_extendedprice AS DECIMAL(12,2)) = (
         |    SELECT MIN(CAST(i.l_extendedprice AS DECIMAL(12,2)))
         |    FROM graft_lineitem i
         |    JOIN graft_supplier s2 ON i.l_suppkey = s2.s_suppkey
         |    JOIN graft_nation n2 ON s2.s_nationkey = n2.n_nationkey
         |    JOIN graft_region r2 ON n2.n_regionkey = r2.r_regionkey
         |    WHERE i.l_partkey = p_partkey AND r2.r_name = 'EUROPE')""".stripMargin))
  }

  private val sqlTpchQ2Sql =
    s"""SELECT CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
       |  s_name, n_name, p_partkey, p_brand,
       |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
       |    AS supply_cost
       |FROM part
       |JOIN lineitem ON p_partkey = l_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE p_size = 15 AND r_name = 'EUROPE'
       |  AND CAST(l_extendedprice AS DECIMAL(12,2)) = (
       |    SELECT MIN(CAST(i.l_extendedprice AS DECIMAL(12,2)))
       |    FROM lineitem i
       |    JOIN supplier s2 ON i.l_suppkey = s2.s_suppkey
       |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
       |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
       |    WHERE i.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
       |${O.OrderAll}"""

  /** TPC-H Q19 shape (discounted revenue over DISJUNCTIVE join
    * predicates) — the optimizer behavior no other key exercises:
    * the join condition is an OR of three conjunct bundles, each
    * repeating `p_partkey = l_partkey` plus different brand/size/
    * quantity bands. A naive planner sees a non-equi condition and
    * falls back to a nested loop — the 100 TB outage shape
    * `ScanGuardRule` exists to catch. Catalyst instead PULLS OUT the
    * common equi conjunct (CNF conversion), plans one hash equi-join
    * on partkey, and keeps the disjunction as a post-join residual
    * filter; PlanSpec pins hash-join-with-no-nested-loop. Revenue
    * stays exact decimal, ONE double cast at the end. */
  def sqlTpchQ19(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
         |    AS revenue,
         |  COUNT(*) AS n_lines
         |FROM graft_lineitem JOIN graft_part ON
         |  (p_partkey = l_partkey AND p_brand = 'Brand#12'
         |    AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
         |    AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_partkey = l_partkey AND p_brand = 'Brand#34'
         |    AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin))
  }

  private val sqlTpchQ19Sql =
    s"""SELECT ${O.dsumExpr(O.revenue)} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON
       |  (p_partkey = l_partkey AND p_brand = 'Brand#12'
       |    AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       |  OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
       |    AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       |  OR (p_partkey = l_partkey AND p_brand = 'Brand#34'
       |    AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
       |${O.OrderAll}"""

  /** TPC-H Q13 shape (customer distribution) — two semantics no other
    * key combines:
    *
    * 1. A residual predicate inside a LEFT OUTER join's ON clause
    *    (`o_orderstatus <> 'F'`). Moving it to WHERE would silently
    *    drop the null-extended customers — the classic outer-join
    *    trap. Because it references only the preserved-null side,
    *    Catalyst may legally push it below the join into the orders
    *    scan (PlanSpec pins the join stays LeftOuter and the filter
    *    does NOT sit above it, where it would break the semantics).
    * 2. Aggregate-of-aggregate: COUNT(o_orderkey) per customer (nulls
    *    from the outer join count as zero), then the DISTRIBUTION of
    *    those counts. At 100 TB the second Exchange's input is the
    *    first aggregate's output — one row per customer, then one row
    *    per distinct count — so the cascade gets cheaper per stage,
    *    the shape a histogram-of-activity query should have. */
  def sqlTpchQ13(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(s"graft_$n")
    }
    ordered(spark.sql(
      s"""SELECT c_count, COUNT(*) AS custdist
         |FROM (
         |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
         |  FROM graft_customer LEFT OUTER JOIN graft_orders
         |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
         |  GROUP BY c_custkey) c_orders
         |GROUP BY c_count""".stripMargin))
  }

  private val sqlTpchQ13Sql =
    s"""SELECT c_count, COUNT(*) AS custdist
       |FROM (
       |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
       |  FROM customer LEFT OUTER JOIN orders
       |    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
       |  GROUP BY c_custkey) c_orders
       |GROUP BY c_count
       |${O.OrderAll}"""

  /** SQL pipe syntax (Spark 4): the same relational algebra written as
    * a linear `|>` dataflow — `FROM … |> WHERE … |> EXTEND … |>
    * AGGREGATE … GROUP BY …` — matching how the DataFrame API and this
    * engine's users actually think about a pipeline. Catalyst parses
    * pipe operators into the IDENTICAL logical plan as the nested-ANSI
    * spelling (each `|>` stage is sugar over the child plan), so every
    * optimization PlanSpec pins — pushdown through EXTEND, partial
    * aggregation — applies unchanged; the oracle is the nested-ANSI
    * equivalent and must hash-match exactly. */
  def sqlPipe(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    ordered(spark.sql(
      s"""FROM graft_lineitem
         ||> WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
         ||> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
         |     * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS net
         ||> AGGREGATE COUNT(*) AS n_items, CAST(SUM(net) AS DOUBLE) AS revenue
         |     GROUP BY l_returnflag, l_linestatus""".stripMargin))
  }

  private val sqlPipeSql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       |  ${O.dsumExpr(O.revenue)} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "sql_recursive" -> Q(sqlRecursive _, sqlRecursiveSql),
    "sql_pipe" -> Q(sqlPipe _, sqlPipeSql),
    "sql_tpch_q13" -> Q(sqlTpchQ13 _, sqlTpchQ13Sql),
    "sql_tpch_q2" -> Q(sqlTpchQ2 _, sqlTpchQ2Sql),
    "sql_tpch_q19" -> Q(sqlTpchQ19 _, sqlTpchQ19Sql),
    "sql_tpch_q4" -> Q(sqlTpchQ4 _, sqlTpchQ4Sql),
    "sql_tpch_q12" -> Q(sqlTpchQ12 _, sqlTpchQ12Sql),
    "sql_tpch_q14" -> Q(sqlTpchQ14 _, sqlTpchQ14Sql),
    "sql_tpch_q21" -> Q(sqlTpchQ21 _, sqlTpchQ21Sql),
    "sql_tpch_q3" -> Q(sqlTpchQ3 _, sqlTpchQ3Sql),
    "sql_tpch_q5" -> Q(sqlTpchQ5 _, sqlTpchQ5Sql),
    "sql_tpch_q16" -> Q(sqlTpchQ16 _, sqlTpchQ16Sql),
    "sql_tpch_q18" -> Q(sqlTpchQ18 _, sqlTpchQ18Sql),
    "sql_lateral" -> Q(sqlLateral _, sqlLateralSql),
    "join_existence" -> Q(joinExistence _, joinExistenceSql),
    "agg_grouping_sets" -> Q(aggGroupingSets _, aggGroupingSetsSql),
    "sql_correlated" -> Q(sqlCorrelated _, sqlCorrelatedSql)
  )
}
