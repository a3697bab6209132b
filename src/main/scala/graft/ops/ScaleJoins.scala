package graft.ops

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixtures, Q, Sessions, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** Scale-path join techniques (SURVEY.md §4.2, §7.6; reference
  * README.md:8 "partitioning data, and leveraging parallel
  * processing"). Results are oracle-identical to their naive
  * formulations — what changes is the exchange structure, pinned by
  * PlanSpec.
  */
object ScaleJoins {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** The table `table` of `dir` bucketed and sorted on `key`, as a
    * build-once fixture keyed by the table's fingerprint, registered in
    * THIS session's catalog; returns the catalog name. The layout
    * write is paid at most once per version of the table — the whole
    * point of bucketing is that the one-time layout cost amortizes
    * across every later join on that key. The build writes through
    * `saveAsTable` (the writer that lays out buckets) into the staging
    * dir and drops that temporary table again; the published layout is
    * then registered as an external bucketed table over its location
    * (the catalog is session-local, the files are not). The name
    * carries the fixture's, so a rewritten table is never joined
    * through a stale registration. */
  private def bucketed(spark: SparkSession, dir: String, table: String,
      key: String): String = {
    val df = t(spark, dir, table)
    val loc = Fixtures.once(dir, s"bucketed_$table", table) { tmp =>
      val staging = new java.io.File(tmp).getName.replaceAll("\\W", "_")
      df.write.bucketBy(8, key).sortBy(key).option("path", tmp).saveAsTable(staging)
      spark.sql(s"DROP TABLE $staging")
    }
    val name = s"graft_${new java.io.File(dir).getName}_${new java.io.File(loc).getName}"
      .replaceAll("\\W", "_")
    if (!spark.catalog.tableExists(name))
      spark.sql(
        s"""CREATE TABLE $name (${df.schema.toDDL}) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
           |LOCATION '$loc'""".stripMargin)
    name
  }

  /** Co-located join via bucketing: both facts written bucketed+sorted
    * on the join key, so the sort-merge join runs with NO exchange and
    * NO sort on either side — at 100 TB this deletes the single most
    * expensive shuffle in the pipeline. The bucket write is a one-time
    * layout cost amortized over every downstream join on that key. */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val o = bucketed(spark, dir, "orders", "o_orderkey")
    val l = bucketed(spark, dir, "lineitem", "l_orderkey")
    ordered(
      // merge hint: at toy scale Spark would broadcast the small side,
      // which hides the point — bucketed SMJ with zero exchange/sort.
      spark.table(o).hint("merge")
        .join(spark.table(l), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("total_price")))
  }

  private val joinBucketedSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
       |  ${O.dsum("l_extendedprice")} AS total_price
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderstatus
       |${O.OrderAll}"""

  private[graft] val Salts = 8

  /** Deterministic salt in [0, Salts) for the fact side, derived from a
    * per-row unique column so a hot key's rows spread uniformly over
    * the salt space. Exposed for the skew-evidence test. */
  private[graft] def saltFact(fact: DataFrame, rowIdCol: String): DataFrame =
    fact.withColumn("salt", pmod(xxhash64(col(rowIdCol)), lit(Salts)))

  /** Explode the (pre-aggregated, small) dim side Salts× so every
    * (key, salt) combination on the fact finds its match. */
  private[graft] def explodeDimSalts(dim: DataFrame): DataFrame =
    dim.withColumn("salt", explode(array((0 until Salts).map(lit(_)): _*)))

  /** Salted skew join: the fact side gets a deterministic salt
    * (hash(row) mod 8) appended to its hot key; the dim side is
    * exploded 8× so every (key, salt) matches. The 8× dim blow-up buys
    * an 8-way split of each hot key's partition — the standard remedy
    * when one key holds >1/Nth of the fact and AQE's skew split can't
    * help (e.g. a subsequent stateful op pinned to key partitioning).
    * Result is oracle-identical to the unsalted join. */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    // 10 artificially hot keys: every order hits one of custkey % 10.
    val fact = saltFact(
      t(spark, dir, "orders").withColumn("hot_key", col("o_custkey") % 10),
      "o_orderkey")
    val dim = explodeDimSalts(
      t(spark, dir, "customer")
        .withColumn("hot_key", col("c_custkey") % 10)
        .groupBy(col("hot_key"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("seg_balance")))
    ordered(
      fact.join(dim, Seq("hot_key", "salt"))
        .groupBy(col("hot_key"), col("n_customers"), col("seg_balance"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_spend")))
  }

  private val joinSaltedSql =
    s"""WITH dim AS (
       |  SELECT c_custkey % 10 AS hot_key, COUNT(*) AS n_customers,
       |    ${O.dsum("c_acctbal")} AS seg_balance
       |  FROM customer GROUP BY 1)
       |SELECT hot_key, n_customers, seg_balance, COUNT(*) AS n_orders,
       |  ${O.dsum("o_totalprice")} AS total_spend
       |FROM orders JOIN dim ON o_custkey % 10 = hot_key
       |GROUP BY 1, 2, 3
       |${O.OrderAll}"""

  /** Dynamic partition pruning: the fact is laid out partitioned by
    * ship_year; the dim side's filter is only known at runtime, so
    * Catalyst injects a dynamic pruning subquery into the fact scan —
    * only the matching year directories are read. At 100 TB this is the
    * difference between scanning one date partition and the whole fact
    * for every dim-filtered join. PlanSpec asserts the
    * `dynamicpruningexpression` is present in the scan. */
  def joinDpp(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(Fixtures.once(dir, "fact_by_year", "lineitem") { tmp =>
      t(spark, dir, "lineitem")
        .withColumn("ship_year", year(col("l_shipdate")))
        .write.partitionBy("ship_year").parquet(tmp)
    })
    // the qualifying years are only knowable at runtime (price filter),
    // so Catalyst can't constant-fold a static partition filter — it
    // injects a dynamic pruning subquery instead. (With a literal year
    // filter here, Catalyst folds it statically — even better, but then
    // the demo demonstrates nothing.)
    val dim = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 450000)
      .select(year(col("o_orderdate")).as("ship_year")).distinct()
    ordered(
      fact.join(dim, Seq("ship_year"))
        .groupBy(col("ship_year"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total")))
  }

  private val joinDppSql =
    s"""SELECT year(l_shipdate) AS ship_year, COUNT(*) AS n,
       |  ${O.dsum("l_extendedprice")} AS total
       |FROM lineitem
       |WHERE year(l_shipdate) IN (
       |  SELECT DISTINCT year(o_orderdate) FROM orders
       |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000)
       |GROUP BY 1
       |${O.OrderAll}"""

  /** Shuffled hash join — the third physical equi-join strategy beside
    * broadcast (`join_broadcast`) and sort-merge (`join_sortmerge`),
    * forced via the `shuffle_hash` hint and pinned in PlanSpec. Both
    * sides shuffle on the key, but the smaller side is HASHED per
    * partition instead of both sides SORTING: at 100 TB this wins over
    * SMJ whenever the per-partition build side fits executor memory
    * (no sort CPU, no spill files), e.g. a mid-size dim too big to
    * broadcast. The skew caveat: one giant key overflows the hash
    * build, where SMJ degrades gracefully — AQE's skew-join split (or
    * `join_salted`) covers that regime. */
  def joinShuffleHash(spark: SparkSession, dir: String): DataFrame =
    ordered(
      Tables.load(spark, dir, "lineitem")
        .join(Tables.load(spark, dir, "orders").hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          dsumExpr(money(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .as("revenue")))

  private val joinShuffleHashSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${O.dsumExpr(O.revenue)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |${O.OrderAll}"""

  /** AQE skew-join demo (reference README.md:8 "fine-tuning Spark
    * configurations"): a sort-merge join where ONE key holds a third of
    * the fact — every l_partkey divisible by 3 collapses onto skew_key
    * 1, so with static `shuffle.partitions` one reducer gets ~1/3 of
    * lineitem while its siblings idle, and the stage runs at the
    * straggler's pace. This is the regime where a static partition
    * count LOSES no matter its value: more partitions shrink the
    * healthy ones but the hot key still lands whole in a single
    * reducer. AQE's skew-join rewrite (`OptimizeSkewedJoin`) splits the
    * oversized partition into advisory-sized slices at runtime and
    * replicates the matching dim partition — the result is identical
    * (PlanSpec pins `skew=true` on the SMJ under thresholds scaled to
    * test data, plus the oracle hash here), but the straggler is gone.
    * Unlike `join_salted` this needs no query rewrite or dim blow-up;
    * salting remains for the cases AQE can't touch (aggregation skew,
    * or when downstream ops must keep the key partitioning). The merge
    * hint keeps the demo an SMJ — at toy scale Spark would broadcast
    * the dim and there would be no shuffle to skew. */
  def joinAqeSkew(spark: SparkSession, dir: String): DataFrame = {
    // every third l_partkey collapses onto part 1 → one hot join key
    // holding ~1/3 of the fact. Both join inputs are PLAIN shuffles
    // (projected scans) — the shape OptimizeSkewedJoin rewrites; had
    // the dim side been an aggregate reusing its own exchange, the
    // rule's Sort-over-ShuffleStage pattern would not match and the
    // skew would silently survive (a real planning subtlety worth
    // pinning: keep skewed joins directly over their exchanges).
    // repartition(8): AQE's skew split slices a hot reduce partition
    // by MAPPER ranges, so a one-file test-scale scan (one map task)
    // is unsplittable no matter the thresholds — found empirically; at
    // 100 TB a fact scan has thousands of mappers and this fan-out is
    // the ambient reality, not an extra step.
    val fact = t(spark, dir, "lineitem").select(
      when(col("l_partkey") % 3 === 0, lit(1L)).otherwise(col("l_partkey"))
        .as("skew_key"),
      col("l_returnflag"), col("l_extendedprice"))
      .repartition(8)
    val dim = t(spark, dir, "part")
      .select(col("p_partkey").as("skew_key"), col("p_retailprice"))
    ordered(
      fact.join(dim.hint("merge"), Seq("skew_key"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("total_price"),
          dsum(col("p_retailprice")).as("matched_retail")))
  }

  private val joinAqeSkewSql =
    s"""SELECT l_returnflag, COUNT(*) AS n_items,
       |  ${O.dsum("l_extendedprice")} AS total_price,
       |  ${O.dsum("p_retailprice")} AS matched_retail
       |FROM (SELECT CASE WHEN l_partkey % 3 = 0 THEN 1 ELSE l_partkey END
       |        AS skew_key,
       |      l_returnflag, l_extendedprice FROM lineitem) f
       |JOIN part ON p_partkey = skew_key
       |GROUP BY l_returnflag
       |${O.OrderAll}"""

  /** Runtime bloom-filter join (Spark's InjectRuntimeFilter — the
    * row-level sibling of `join_dpp`'s partition-level pruning): a
    * selective filter on the dimension side is turned into a bloom
    * filter BUILT AT RUNTIME from the dim's join keys and pushed into
    * the fact scan as a `might_contain` data filter, so non-matching
    * fact rows die at the scan instead of crossing the shuffle into
    * the join. At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling the ~matching fraction — the
    * optimizer's automated version of the manual semi-join prefilter.
    *
    * Injection is threshold-gated for real clusters (application side
    * must look scan-heavy); the thresholds are lowered HERE so the
    * test-scale plan exercises the same rule a 100 TB plan hits by
    * default, and restored after. Because a consumer's later
    * transformation (`.count()`, `.coalesce(1).write`) builds a NEW
    * QueryExecution that would re-optimize under the RESTORED confs
    * (r7 advice — forcing `executedPlan` alone pins nothing for
    * downstream actions), the query is EXECUTED inside the conf
    * window via an eager localCheckpoint: the bloom-injected plan is
    * what actually runs, and every consumer reads the materialized
    * result. The conf mutation is session-wide for the window's
    * duration — safe here because Bench/Verify run keys sequentially
    * on one session; a concurrent deployment would scope it per
    * thread with SQLConf.withExistingConf. PlanSpec pins the injected
    * `might_contain` on the fact scan via [[joinBloomPlan]], which
    * plans inside the same window. */
  def joinBloom(spark: SparkSession, dir: String): DataFrame =
    withBloomConfs(spark) {
      // eager: executes the bloom plan while the confs are in force
      joinBloomQuery(spark, dir).lineageCut()
    }

  /** The executed plan string of the bloom join, materialized INSIDE
    * the conf window — what PlanSpec asserts `might_contain` on. */
  private[graft] def joinBloomPlan(spark: SparkSession, dir: String): String =
    withBloomConfs(spark) {
      joinBloomQuery(spark, dir).queryExecution.executedPlan.toString
    }

  private def joinBloomQuery(spark: SparkSession, dir: String): DataFrame = {
    val fact = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"))
    val dim = t(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY" && col("p_size") <= 5)
      .select(col("p_partkey"), col("p_retailprice"))
    ordered(
      fact.join(dim.hint("merge"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty")))
  }

  // InjectRuntimeFilter refuses when either side is broadcastable by
  // size (a broadcast join already row-filters): at 100 TB a real
  // semi-join dim exceeds the broadcast threshold naturally; at test
  // scale the threshold is lowered for the window so the same code
  // path fires.
  private def withBloomConfs[T](spark: SparkSession)(body: => T): T =
    Sessions.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private val joinBloomSql =
    s"""SELECT p_partkey, COUNT(*) AS n_items, ${O.dsum("l_quantity")} AS sum_qty
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_type = 'ECONOMY' AND p_size <= 5
       |GROUP BY p_partkey
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "join_bloom" -> Q(joinBloom _, joinBloomSql),
    "join_aqe_skew" -> Q(joinAqeSkew _, joinAqeSkewSql),
    "join_shuffle_hash" -> Q(joinShuffleHash _, joinShuffleHashSql),
    "join_bucketed" -> Q(joinBucketed _, joinBucketedSql),
    "join_salted" -> Q(joinSalted _, joinSaltedSql),
    "join_dpp" -> Q(joinDpp _, joinDppSql)
  )
}
