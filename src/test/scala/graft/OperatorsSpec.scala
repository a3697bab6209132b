package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Determinism
import graft.functions.Udafs

/** Relational / aggregate / scalar operator edge cases that the sf0.01
  * oracle can't reach (empty inputs, planted anti-join hits, UDAF edge
  * semantics), plus driver-contract smoke. */
class OperatorsSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}
  import spark.implicits._

  test("driver contract: entry returns rows; every query key has a fn") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("weighted-avg UDAF: hand-checked values and empty-group NaN") {
    val wavg = udaf(Udafs.WeightedAvgDiscount)
    val df = Seq((1.0, 0.10), (3.0, 0.02)).toDF("q", "d")
    val got = df.agg(wavg(col("q"), col("d"))).as[Double].head()
    // (1*0.10 + 3*0.02) / 4 = 0.04
    assert(math.abs(got - 0.04) < 1e-12)

    val empty = Seq.empty[(Double, Double)].toDF("q", "d")
    assert(empty.agg(wavg(col("q"), col("d"))).as[Double].head().isNaN)
  }

  test("vector-mean UDAF: element-wise means, hand-checked") {
    val vm = udaf(new Udafs.VecMean(2))
    val df = Seq((1, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 6.0f))).toDF("k", "v")
    val got = df.groupBy("k").agg(vm(col("v")).as("m"))
      .select("m").as[Seq[Double]].head()
    assert(got === Seq(2.0, 4.0))
  }

  test("anti join finds planted missing keys") {
    val dim = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val fact = Seq(1L, 1L, 3L).toDF("k")
    val missing = dim.join(fact, Seq("k"), "left_anti").select("k").as[Long].collect()
    assert(missing.toSeq === Seq(2L))
  }

  test("null-safe join: NULL keys match each other; plain = drops the whole bucket") {
    val out = ops.Relational.joinNullsafe(spark, Sf)
    val cust = graft.core.Tables.load(spark, Sf, "customer")
      .select(expr("nullif(c_nationkey % 5, 0)").as("ck"))
    val supp = graft.core.Tables.load(spark, Sf, "supplier")
      .select(expr("nullif(s_nationkey % 5, 0)").as("sk"))
    val nullCust = cust.filter(col("ck").isNull).count()
    val nullSupp = supp.filter(col("sk").isNull).count()
    assert(nullCust > 0 && nullSupp > 0, "fixture must produce null keys")
    val nullPairs = out.filter(col("ck").isNull)
      .select("n_pairs").as[Long].collect().toSeq
    assert(nullPairs === Seq(nullCust * nullSupp),
      "NULL <=> NULL must pair every null-key row on both sides")
    // the `=` spelling of the same join silently loses the NULL bucket
    val eqJoin = cust.join(supp, col("ck") === col("sk"))
    assert(eqJoin.filter(col("ck").isNull).count() === 0)
  }

  test("as-of join picks latest at-or-before, including equal timestamps") {
    // purchase at t=10 with views at 5 and 10 → asof = 10 (tie included)
    val out = ops.Relational.joinAsof(spark, Sf)
    assert(out.columns.toSeq ===
      Seq("event_id", "user_id", "ts_us", "last_view_us"))
    val bad = out.filter(col("last_view_us") > col("ts_us")).count()
    assert(bad === 0, "as-of must never pick a view after the purchase")
  }

  test("approx_count_distinct stays within its error bound vs exact") {
    val e = core.Tables.load(spark, Sf, "events")
    val exact = e.select(countDistinct("user_id")).as[Long].head()
    val approx = e.select(approx_count_distinct("user_id", 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.10)
  }

  test("HLL sketch union of disjoint groups tracks the direct sketch") {
    val row = ops.Aggregates.aggSketchMerge(spark, Sf).head()
    // the query itself now carries the verification columns the oracle
    // pins to TRUE — assert them here too, plus the exact twin's value.
    // (closeness, not equality: the DataSketches union gadget
    // re-estimates through a different representation than the HLL_4
    // sketches, so estimates coincide exactly only in sparse mode)
    assert(row.getAs[Boolean]("merge_close"),
      "union of per-nation sketches must estimate within 1% of one global sketch")
    assert(row.getAs[Boolean]("est_in_bound"),
      "sketch estimate too far from exact distinct")
    assert(row.getAs[Long]("exact_distinct") === row.getAs[Long]("n_rows"),
      "c_custkey is unique per row, so exact distinct == row count")
  }

  test("money decimal casts: HALF_UP on clean 2-decimal doubles") {
    val df = Seq(1.005, 2.675, 104.25).toDF("x")
    val got = df.select(Determinism.money(col("x")).cast("string")).as[String].collect()
    // string-based cast: 1.005 → 1.01 (not binary 1.00499…)
    assert(got.toSeq === Seq("1.01", "2.68", "104.25"))
  }

  test("ordered(): nulls sort first, total order over all columns") {
    val df = Seq[(java.lang.Long, String)]((null, "b"), (2L, "a"), (1L, "a"))
      .toDF("n", "s")
    val got = Determinism.ordered(df).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSeq
    assert(got === Seq((None, "b"), (Some(1L), "a"), (Some(2L), "a")))
  }

  test("etl incremental merge reproduces the full table (hwm invariant)") {
    val merged = etl.Etl.incremental(spark, Sf)
    val full = Determinism.ordered(
      core.Tables.load(spark, Sf, "orders").select(
        col("o_orderkey"), Determinism.dateStr(col("o_orderdate")).as("o_date"),
        col("o_orderstatus"), col("o_totalprice")))
    // full row equality, not just counts: incremental ≡ full load
    assert(merged.exceptAll(full).count() === 0)
    assert(full.exceptAll(merged).count() === 0)
  }

  test("observe() carries audit metrics through a batch action") {
    val obs = new org.apache.spark.sql.Observation("audit")
    val df = core.Tables.load(spark, Sf, "orders")
      .observe(obs, count(lit(1)).as("rows_in"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("open_rows"))
    val n = df.count()
    val m = obs.get
    // runtime metrics agree with the action's own result (README.md:12
    // "logging mechanisms throughout the ETL process" — the in-flight
    // counterpart of etl_audit's recomputed counts)
    assert(m("rows_in") === n)
    assert(m("open_rows").asInstanceOf[Long] > 0)
  }

  test("approx percentiles stay within 1% of the exact quantiles") {
    // value-level bound, computed the same way the keyed query builds
    // its sketch (the keyed query's own output is the rank-guarantee
    // booleans the oracle pins — asserted in the next test)
    val approx = core.Tables.load(spark, TestSpark.Sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.9)), lit(10000)).as("p"))
      .select(col("l_returnflag"),
        element_at(col("p"), 1).as("p50"), element_at(col("p"), 2).as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = core.Tables.load(spark, TestSpark.Sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, (e50, e90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - e50) / e50 < 0.01, s"$k p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) / e90 < 0.01, s"$k p90: $a90 vs $e90")
    }
  }

  test("agg_approx_percentile rank guarantee holds per group") {
    val rows = ops.Aggregates.aggApproxPercentile(spark, TestSpark.Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("p50_rank_ok"), s"p50 rank bound: $r")
      assert(r.getAs[Boolean]("p90_rank_ok"), s"p90 rank bound: $r")
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // the automatic counterpart of join_salted: one key carries ~90% of
    // the fact; with thresholds scaled to test data, AQE must detect
    // the oversized shuffle partition after the map stage and split it
    // (SortMergeJoin(skew=true) in the final adaptive plan) — no salting
    // code, no manual repartition.
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(200000).select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 64, "x").as("pad"))
      val dim = spark.range(64).select(col("id").as("k"), col("id").as("v"))
      val joined = fact.join(dim.hint("merge"), "k")
      // hot key matches dim 0 (180000 rows); tail keys k=id land in the
      // dim's [0,64) range only for id%10==9 → {9,19,29,39,49,59}.
      // collect() (not count()) so THIS DataFrame's own query execution
      // runs — AQE only materializes the final plan on the executed
      // instance
      assert(joined.collect().length === 180000 + 6)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"final adaptive plan must mark the skewed join:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join_salted: the salt actually splits a hot key") {
    // one pathologically hot key (90% of the fact) plus a long tail —
    // the exact shape AQE's skew split can't always fix (e.g. when a
    // downstream stateful op is pinned to the key partitioning).
    val skewed = spark.range(10000)
      .select(col("id"),
        when(col("id") < 9000, lit(0L)).otherwise(col("id") % 100).as("hot_key"))
    val salted = ops.ScaleJoins.saltFact(skewed, "id")

    // evidence 1: the hot key occupies ALL Salts salt groups…
    val hotGroups = salted.filter(col("hot_key") === 0)
      .groupBy(col("salt")).count().collect()
    assert(hotGroups.length === ops.ScaleJoins.Salts,
      "hot key must spread over every salt value")
    // …and the split is even: max group ≤ 1.25× the ideal 1/Salts share.
    val ideal = 9000.0 / ops.ScaleJoins.Salts
    val maxGroup = hotGroups.map(_.getLong(1)).max
    assert(maxGroup <= ideal * 1.25,
      s"salt split uneven: max=$maxGroup ideal=$ideal")

    // evidence 2: shuffling on (key, salt) evens the partitions that a
    // shuffle on the bare key would skew 90/10. With 4 partitions, the
    // biggest (key,salt) partition must be far below the 9000-row blob
    // a bare-key shuffle puts in one partition.
    val sizes = salted.repartition(4, col("hot_key"), col("salt"))
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.max < 6000,
      s"partition sizes after salting: ${sizes.toSeq} — hot key not split")

    // evidence 3: dim explosion covers every (key, salt) pair exactly once.
    val dim = Seq((0L, "x"), (1L, "y")).toDF("hot_key", "v")
    val exploded = ops.ScaleJoins.explodeDimSalts(dim)
    assert(exploded.count() === 2 * ops.ScaleJoins.Salts)
    assert(exploded.select("hot_key", "salt").distinct().count()
      === 2 * ops.ScaleJoins.Salts)
  }

  test("sinks: parquet round-trip and jdbc option plumbing") {
    TestSpark.withTempDir("graft_sink") { dir =>
      val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      new sinks.ParquetSink(dir).write(df, "t1", org.apache.spark.sql.SaveMode.Overwrite)
      assert(spark.read.parquet(s"$dir/t1").count() === 2)

      val jdbc = new sinks.JdbcSink("jdbc:sqlserver://host;db", "u", "p",
        batchSize = 500, numPartitions = 2)
      val opts = jdbc.options("dbo.target")
      assert(opts("dbtable") === "dbo.target" && opts("batchsize") === "500"
        && opts("numPartitions") === "2")
    }
  }

  test("asof nearest: picks the argmin of the backward/forward twins, ties backward") {
    def keyed(name: String, c: String) =
      SparkEntry.queries(name)(spark, Sf).collect()
        .map(r => (r.getAs[Long]("event_id"),
          (r.getAs[Long]("ts_us"), Option(r.getAs[java.lang.Long](c)).map(_.toLong))))
        .toMap
    val back = keyed("join_asof", "last_view_us")
    val fwd = keyed("join_asof_forward", "next_view_us")
    val near = keyed("join_asof_nearest", "nearest_view_us")
    assert(near.nonEmpty && near.keySet === back.keySet)
    near.foreach { case (id, (ts, got)) =>
      val lv = back(id)._2
      val nv = fwd(id)._2
      val want = (lv, nv) match {
        case (None, x) => x
        case (x, None) => x
        case (Some(l), Some(n)) => if (ts - l <= n - ts) Some(l) else Some(n)
      }
      assert(got === want, s"event $id: nearest != argmin(backward, forward)")
    }
  }

  test("retention: the day-0 cell counts the whole cohort") {
    val out = ops.Aggregates.aggRetention(spark, Sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    assert(out.nonEmpty)
    // every cohort member is active on its cohort day (the signup
    // itself) — day-0 count == cohort size
    val cohortSizes = core.Tables.load(spark, Sf, "events")
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"))
      .groupBy(date_format(date_trunc("DAY", col("t0")), "yyyy-MM-dd").as("cohort"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cohortSizes.foreach { case (cohort, size) =>
      assert(out((cohort, 0)) === size, s"day-0 cell of $cohort")
    }
  }

  test("event pattern: sequence length and pattern counts are consistent") {
    val out = ops.Windows.winEventPattern(spark, Sf).collect()
    val perUser = core.Tables.load(spark, Sf, "events")
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length === perUser.size)
    out.foreach { r =>
      val seq = r.getAs[String]("seq")
      assert(r.getAs[Int]("n_events").toLong === perUser(r.getAs[Long]("user_id")))
      assert(seq.length === r.getAs[Int]("n_events"))
      val vp = r.getAs[Int]("n_view_purchase")
      assert(vp <= math.min(seq.count(_ == 'v'), seq.count(_ == 'p')))
      assert(r.getAs[Int]("n_error_recovery") <= seq.count(_ == 'e'))
    }
    // cap law (r9): the adversarial-history guard is cap-free on every
    // shipped corpus (max per-user history far under the cap, so the
    // oracle compare above stays exact)...
    val maxHist = perUser.values.max
    assert(maxHist < ops.Windows.EventPatternCap / 4,
      s"corpus max history $maxHist approaching the cap — raise EventPatternCap")
    // ...and BITES on a planted bot account: a history one over the
    // cap truncates to the time-earliest cap events
    import spark.implicits._
    val n = ops.Windows.EventPatternCap + 1
    val bot = (0 until n).map(i =>
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00").toInstant
        .plusSeconds(i.toLong).toString, i.toLong, 9999L, "view"))
      .toDF("_ts", "event_id", "user_id", "event_type")
      .select(col("_ts").cast("timestamp").as("ts"), col("event_id"),
        col("user_id"), col("event_type"))
    val capped = ops.Windows.eventPatternOf(bot).collect()
    assert(capped.length == 1)
    assert(capped.head.getAs[Int]("n_events") == ops.Windows.EventPatternCap,
      "over-cap history must truncate to exactly the cap")
  }

  test("count-min sketch: never undercounts, merge is exact, bounds hold end-to-end") {
    import graft.functions.Udafs.{CountMin, CountMinSketch}
    // deterministic synthetic stream with heavy + rare keys
    val keys = (0 until 2000).map(i => (i % 97).toLong * 31 + 7) ++
      (0 until 50).map(i => 100000L + i)
    val trueCounts = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // split → partial sketches → merge must equal the one-pass sketch
    val (k1, k2) = keys.splitAt(keys.length / 3)
    val s1 = k1.foldLeft(CountMinSketch.zero)(CountMinSketch.reduce)
    val s2 = k2.foldLeft(CountMinSketch.zero)(CountMinSketch.reduce)
    val merged = CountMinSketch.merge(s1, s2)
    val whole = keys.foldLeft(CountMinSketch.zero)(CountMinSketch.reduce)
    assert(merged.sameElements(whole), "merge must be exact elementwise addition")
    // one-sided error: estimates never undercount
    val est = merged.toSeq
    trueCounts.foreach { case (k, n) =>
      assert(CountMin.estimate(est, k) >= n, s"undercount at key $k")
    }
    // keyed query invariants on the fixture
    val out = ops.Aggregates.aggCountMin(spark, Sf).collect()
    assert(out.length === 10)
    assert(out.forall(r => r.getAs[Boolean]("overcount_ok")
      && r.getAs[Boolean]("within_bound")))
  }

  test("pagerank: probability mass conserved within floor loss; floor of (1-d)/n") {
    val Scale = 1000000000000000L
    val rows = ops.Graph.pageRank(spark, Sf).collect()
    val n = rows.length.toLong
    val base = (Scale * 15L / 100L) / n
    val total = rows.map(_.getAs[Long]("rank_fp")).sum
    // every rank ≥ the damped floor, no rank above total mass
    assert(rows.forall(_.getAs[Long]("rank_fp") >= base))
    // fixed-point floors only ever LOSE mass: Σ ≤ SCALE, and after 8
    // iterations the loss is < (E + 2N) units per round — far under 1%
    assert(total <= Scale && total > (Scale * 99L) / 100L,
      s"mass drifted: $total of $Scale over $n nodes")
  }

  test("ts_gapfill: per-user days are contiguous and fill is never null") {
    val rows = ops.Windows.tsGapfill(spark, Sf).collect()
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(2)))
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val days = rs.map(_.getString(1)).sorted
      val span = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(days.head),
        java.time.LocalDate.parse(days.last)) + 1
      assert(days.length.toLong == span, "calendar spine must have no holes")
      // at least one gap row per multi-day user would be data-dependent;
      // instead pin the fill law: a gap row's value equals the latest
      // non-gap value at or before it
      val byDay = rs.sortBy(_.getString(1))
      var lastReal = Option.empty[Double]
      byDay.foreach { r =>
        if (!r.getAs[Boolean]("is_gap")) lastReal = Some(r.getDouble(2))
        else assert(lastReal.contains(r.getDouble(2)), "forward fill broke")
      }
    }
  }

  test("agg_mode: the mode's frequency is maximal and ties resolve to the lowest value") {
    val rows = ops.Aggregates.aggMode(spark, Sf).collect()
    assert(rows.nonEmpty)
    val li = core.Tables.load(spark, Sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    rows.foreach { r =>
      val flag = r.getString(0)
      val m = r.getDouble(1)
      val counts = li.filter(_._1 == flag).groupBy(_._2).view.mapValues(_.length)
      val maxN = counts.values.max
      assert(counts(m) === maxN, s"$flag: mode $m has count ${counts(m)}, max is $maxN")
      // deterministic=true pins ties to the LOWEST value
      val winners = counts.filter(_._2 == maxN).keys
      assert(m === winners.min, s"$flag: tie must resolve to ${winners.min}, got $m")
    }
  }

  test("ts_interpolate: observed days exact; gap days lie on the neighbor segment") {
    val rows = ops.Windows.tsInterpolate(spark, Sf).collect()
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(2)))
    assert(rows.exists(_.getAs[Boolean]("is_interp")), "fixture must have gaps")
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byDay = rs.sortBy(_.getString(1))
      // every interpolated value is bounded by its bracketing observations
      // (linear interpolation never overshoots), observed values pass through
      var i = 0
      while (i < byDay.length) {
        val r = byDay(i)
        if (r.getAs[Boolean]("is_interp")) {
          val prev = byDay.take(i).reverse.find(!_.getAs[Boolean]("is_interp"))
          val next = byDay.drop(i + 1).find(!_.getAs[Boolean]("is_interp"))
          (prev, next) match {
            case (Some(p), Some(n)) =>
              val lo = math.min(p.getDouble(2), n.getDouble(2)) - 1e-6
              val hi = math.max(p.getDouble(2), n.getDouble(2)) + 1e-6
              assert(r.getDouble(2) >= lo && r.getDouble(2) <= hi,
                s"interpolated value escaped its bracket: $r")
            case (Some(p), None) =>
              assert(math.abs(r.getDouble(2) - p.getDouble(2)) <= 1e-6)
            case (None, Some(n)) =>
              assert(math.abs(r.getDouble(2) - n.getDouble(2)) <= 1e-6)
            case _ => fail("an all-gap user cannot exist (spine is min..max)")
          }
        }
        i += 1
      }
    }
  }

  test("fn_variant: typed extraction agrees with the JSON-path twin; round-trip minifies") {
    val v = ops.Scalars.fnVariant(spark, Sf).collect()
    val j = ops.Scalars.fnJson(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(v.nonEmpty)
    v.foreach { r =>
      assert(r.getInt(1) === j(r.getLong(0)),
        "variant_get and get_json_object must extract the same int")
      assert(r.isNullAt(2), "try_variant_get on a missing path is NULL, not error")
      assert(r.getString(3) === "OBJECT<k: BIGINT>")
      val json = r.getString(4)
      assert(!json.contains(" ") && json == s"""{"k":${r.getInt(1)}}""",
        s"to_json(variant) must be canonical minified text, got $json")
    }
  }

  test("sql_pipe: the |> spelling computes exactly what the nested-ANSI spelling does") {
    val pipe = ops.SqlApi.sqlPipe(spark, Sf).collect().toSeq
    val ansi = Determinism.ordered(spark.sql(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
         |    AS revenue
         |FROM graft_lineitem
         |WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin)).collect().toSeq
    assert(pipe.nonEmpty && pipe === ansi,
      "pipe syntax must be pure sugar over the same algebra")
  }

  test("win_anomaly: warm-up rows unscored; flag agrees with rounded z") {
    val rows = ops.Windows.winAnomaly(spark, Sf).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val ordered = rs.sortBy(r => (r.getString(2), r.getLong(1)))
      ordered.take(9).foreach(r => assert(r.isNullAt(4), "z before 10 samples"))
    }
    rows.foreach { r =>
      val flagged = r.getAs[Boolean]("is_anomaly")
      val z = if (r.isNullAt(4)) None else Some(r.getDouble(4))
      assert(flagged == z.exists(v => math.abs(v) > 2.0))
    }
  }

  test("sample_stratified: exact-n per stratum and run-to-run identical") {
    val a = ops.Relational.sampleStratified(spark, Sf).collect()
    val perSeg = a.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perSeg.values.forall(_ == 10), s"strata sizes: ${perSeg.toMap}")
    val b = ops.Relational.sampleStratified(spark, Sf).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "content-keyed sampling must be reproducible")
  }

  test("llm_bpe_pairs: 2-char pairs, non-increasing counts, exactly top-50") {
    val rows = llm.Text.bpePairs(spark, Sf).collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getString(0).length == 2))
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y })
  }

  test("asof tolerance: match kept iff gap within bound, left rows always survive") {
    val base = ops.Relational.joinAsof(spark, Sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val tol = ops.Relational.joinAsofTolerance(spark, Sf).collect()
    assert(tol.length == base.size, "tolerance variant must not drop left rows")
    tol.foreach { r =>
      val asof = base(r.getLong(0))
      // same backward match as join_asof...
      assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == asof)
      // ...and the tolerant column nulls exactly the out-of-bound gaps
      val within = if (r.isNullAt(4)) None else Some(r.getLong(4))
      val expected = asof.filter(v => r.getLong(2) - v <= 30L * 60 * 1000000)
      assert(within == expected)
    }
  }

  test("ppl buckets: tercile sizes balanced, head scores ≤ middle ≤ tail per lang") {
    val rows = llm.Text.pplBuckets(spark, Sf).collect()
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_.getString(3)).view.mapValues(_.length)
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang tiles unbalanced: ${sizes.toMap}")
      def stats(b: String) = rs.filter(_.getString(3) == b).map(_.getDouble(2))
      // ties on the rounded score may straddle a boundary, so ≤ not <
      assert(stats("head").max <= stats("middle").min)
      assert(stats("middle").max <= stats("tail").min)
    }
  }

  test("late-arriving dim: no fact lost, placeholders resolve against the delta") {
    val out = etl.Etl.lateArrivingDim(spark, Sf).collect()
    val nOrders = graft.core.Tables.load(spark, Sf, "orders").count()
    assert(out.length.toLong == nOrders, "a late dim row must never drop a fact")
    val byRes = out.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(byRes.getOrElse("immediate", 0) > 0 &&
      byRes.getOrElse("resolved_batch2", 0) > 0,
      s"fixture must exercise both paths: $byRes")
    out.foreach { r =>
      val late = r.getLong(1) % 7 == 0
      r.getString(3) match {
        case "immediate" => assert(!late && !r.isNullAt(2))
        case "resolved_batch2" => assert(late && !r.isNullAt(2))
        case "unresolved" => assert(r.isNullAt(2))
      }
    }
  }

  test("win_pareto: shares monotone to exactly 1.0, classes follow the thresholds") {
    val rows = ops.Windows.winPareto(spark, Sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getDouble(3))
      // cumulative share is strictly increasing and ends at exactly 1.0
      // (exact-decimal running sum ÷ exact-decimal total)
      assert(math.abs(ordered.last.getDouble(3) - 1.0) == 0.0)
      ordered.foreach { r =>
        val (s, c) = (r.getDouble(3), r.getString(4))
        assert(c == (if (s <= 0.80) "A" else if (s <= 0.95) "B" else "C"))
      }
      assert(ordered.map(_.getString(4)).distinct.length >= 2,
        "fixture should populate more than one class")
    }
  }

  test("fk_check: four edges, zero orphans on the consistent fixture") {
    val rows = etl.Etl.fkCheck(spark, Sf).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Long]("n_orphans") == 0L),
      s"fixture FKs should hold: ${rows.mkString(", ")}")
  }

  test("win_streak: streaks are maximal consecutive runs (brute re-derivation)") {
    val out = ops.Windows.winStreak(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3))).toMap
    val days = graft.core.Tables.load(spark, Sf, "events")
      .select(col("user_id"), to_date(col("ts")).cast("string").as("d"))
      .distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).sorted.toList)
    days.foreach { case (u, ds) =>
      // brute: walk the sorted days, track the best (len, start) run
      val dates = ds.map(java.time.LocalDate.parse)
      var best = (1L, dates.head); var cur = (1L, dates.head)
      dates.sliding(2).foreach {
        case List(a, b) =>
          cur = if (b == a.plusDays(1)) (cur._1 + 1, cur._2) else (1L, b)
          if (cur._1 > best._1) best = cur
        case _ =>
      }
      val (len, start, end) = out(u)
      assert(len == best._1 && start == best._2.toString &&
        end == best._2.plusDays(best._1 - 1).toString,
        s"user $u: got ($len,$start,$end) want $best")
    }
  }

  test("etl_dq_profile: one row per column, sane bounds on a null-free table") {
    val rows = etl.Etl.dqProfile(spark, Sf).collect()
    assert(rows.length == 5)
    val total = graft.core.Tables.load(spark, Sf, "orders").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nulls") == 0L)
      val d = r.getAs[Long]("n_distinct")
      assert(d > 0 && d <= total)
      assert(r.getAs[String]("min_val") <= r.getAs[String]("max_val"))
    }
  }

  test("etl_dq_profile and etl_dq_profile_approx agree on every exact field; every sketch is in bound") {
    val fields = Seq("col_name", "n_nulls", "n_distinct", "min_val", "max_val").map(col)
    val exact = etl.Etl.dqProfile(spark, Sf).select(fields: _*).collect().toSeq
    val approx = etl.Etl.dqProfileApprox(spark, Sf)
    assert(exact.length == 5)
    assert(approx.select(fields: _*).collect().toSeq === exact)
    assert(approx.filter(!col("approx_in_bound")).count() === 0)
  }

  test("etl_quarantine routes exactly the rows etl_dq_check counts, rule by rule") {
    val sf01 = s"${new java.io.File(Sf).getParent}/sf0.01"
    val counted = etl.Etl.dqCheck(spark, sf01).select("rule", "n_violations")
      .as[(String, Long)].collect().toMap
    val routed = etl.Etl.quarantine(spark, sf01).groupBy("rule").count()
      .as[(String, Long)].collect().toMap
    // the two rules the quarantine routes; a rule with no bad rows
    // routes none, so it is absent from `routed`
    val shared = Seq("orphan_order_custkey", "negative_acctbal")
    assert(routed.keySet.subsetOf(shared.toSet))
    shared.foreach { rule =>
      assert(routed.getOrElse(rule, 0L) === counted(rule), rule)
    }
    assert(shared.exists(counted(_) > 0), "no shared rule has a violation to compare")
  }

  test("win_regression: every slope matches a sequential trailing-20 OLS reference") {
    val events = graft.core.Tables.load(spark, Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ref = events.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      sorted.indices.map { i =>
        val frame = sorted.slice(math.max(0, i - 19), i + 1)
        val xs = frame.map(_._3 / 3600000000L)
        val ys = frame.map(r => math.floor(r._4 * 100 + 0.5).toLong)
        val n = frame.length.toLong
        val (sx, sy) = (xs.sum, ys.sum)
        val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
        val sxx = xs.map(x => x * x).sum
        val den = n * sxx - sx * sx
        val slope = if (den == 0) None
          else Some(BigDecimal((n * sxy - sx * sy).toDouble / den.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        (sorted(i)._1, sorted(i)._2) -> slope
      }
    }.toMap
    val got = ops.Windows.winRegression(spark, Sf).collect()
    assert(got.length == events.length)
    got.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val slope = if (r.isNullAt(4)) None else Some(r.getDouble(4))
      assert(slope == ref(k), s"slope mismatch at $k: got $slope want ${ref(k)}")
    }
  }

  test("win_ewma: every value matches a sequential truncated-EWMA reference") {
    val events = graft.core.Tables.load(spark, Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ref = events.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val ys = sorted.map(r => math.floor(r._4 * 100 + 0.5).toLong)
      sorted.indices.map { i =>
        val lags = (0 until 16).filter(_ <= i)
        val num = lags.map(k => ys(i - k) * (1L << (15 - k))).sum
        val den = lags.map(k => 1L << (15 - k)).sum
        (sorted(i)._1, sorted(i)._2) -> num.toDouble / den.toDouble / 100.0
      }
    }.toMap
    val got = ops.Windows.winEwma(spark, Sf).collect()
    assert(got.length == events.length)
    got.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(3) == ref(k),
        s"ewma mismatch at $k: got ${r.getDouble(3)} want ${ref(k)}")
    }
  }

  test("agg_listagg: every cell is bounded at 5 names, balance-sorted") {
    val rows = ops.Aggregates.aggListagg(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTop = r.getLong(1)
      val names = r.getString(3).split('|')
      assert(nTop <= 5, s"group ${r.getString(0)} exceeds the top-5 bound")
      assert(names.length.toLong == nTop,
        s"listagg cell of ${r.getString(0)} disagrees with its count")
      assert(names.distinct.length == names.length, "duplicate name in cell")
    }
  }

  test("etl_retention_purge: counts reconcile, cascade leaves zero orphans") {
    val rows = etl.Etl.retentionPurge(spark, Sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem"))
    rows.foreach { case (t, (before, purged, after, orphans)) =>
      assert(before == purged + after, s"$t counts don't reconcile")
      assert(orphans == 0L, s"$t cascade left $orphans orphans")
    }
    // the tombstone slice really was purged (non-empty at this SF)
    assert(rows("customer")._2 > 0, "tombstone set unexpectedly empty")
    assert(rows("orders")._2 > 0, "no orders cascaded")
  }

  test("fn_regex: engine results match java.util.regex re-derivation") {
    val docs = graft.core.Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = ops.Scalars.fnRegex(spark, Sf).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getAs[Number](1).longValue ==
        "\\b[a-z]*a[a-z]*\\b".r.findAllIn(text).size.toLong)
      assert(r.getString(2) ==
        "\\b(s[a-z]{3,})\\b".r.findFirstMatchIn(text).map(_.group(1)).getOrElse(""))
      assert(r.getString(3) ==
        "\\b[a-z]+e\\b".r.findAllIn(text).mkString(","))
      assert(r.getString(4) == text.replaceAll("\\b(key) (value)\\b", "$2 $1"))
      assert(r.getBoolean(5) ==
        "join[a-z ]*merge".r.findFirstIn(text).isDefined)
    }
  }

  test("graph_cc: every support-2 edge is intra-cluster; sizes partition the nodes") {
    val out = ops.Graph.connectedComponents(spark, Sf).collect()
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sizes: per-cluster row counts must equal the emitted cluster_size
    out.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      rows.foreach(r => assert(r.getLong(2) == rows.length.toLong))
    }
    // re-derive the support-filtered edge set and check endpoints agree
    val li = graft.core.Tables.load(spark, Sf, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = li.groupBy(_._1).values.toSeq.flatMap { basket =>
      val ps = basket.map(_._2).sorted.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).collect { case (e, hits) if hits.size >= 2 => e }.toSeq
    assert(edges.nonEmpty, "fixture produced no support-2 edges")
    edges.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"edge ($a,$b) split across clusters")
    }
    assert(cluster.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet)
  }

  test("win_median: every value matches a sequential trailing-21 median reference") {
    val events = graft.core.Tables.load(spark, Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ref = events.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val ys = sorted.map(r => math.floor(r._4 * 100 + 0.5).toLong)
      sorted.indices.map { i =>
        val frame = ys.slice(math.max(0, i - 20), i + 1).sorted
        val n = frame.length
        val med =
          if (n % 2 == 1) frame(n / 2).toDouble
          else (frame(n / 2 - 1) + frame(n / 2)).toDouble / 2.0
        (sorted(i)._1, sorted(i)._2) -> med / 100.0
      }
    }.toMap
    val got = ops.Windows.winMedian(spark, Sf).collect()
    assert(got.length == events.length)
    got.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(3) == ref(k),
        s"median mismatch at $k: got ${r.getDouble(3)} want ${ref(k)}")
    }
  }

  test("etl_survivorship: provenance classes partition the keys; billing wins where present") {
    val rows = etl.Etl.survivorship(spark, Sf).collect()
    val custs = graft.core.Tables.load(spark, Sf, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // every source key appears exactly once in the golden record
    val expectKeys = custs.keySet.filter(k => k % 7 != 0 || k % 2 == 0)
    assert(rows.map(_.getLong(0)).toSet == expectKeys)
    rows.foreach { r =>
      val k = r.getLong(0)
      val (srcName, srcBal) = custs(k)
      val inCrm = k % 7 != 0
      val inBilling = k % 2 == 0
      val wantClass =
        if (inCrm && inBilling) "both" else if (inCrm) "crm_only" else "billing_only"
      assert(r.getString(6) == wantClass, s"key $k class")
      // billing survivorship: canonical casing and fresh balance win
      if (inBilling) {
        assert(r.getString(1) == srcName && r.getString(2) == "billing")
        assert(r.getDouble(3) == srcBal && r.getString(4) == "billing")
      } else {
        assert(r.getString(1) == srcName.toLowerCase && r.getString(2) == "crm")
        if (k % 5 == 0) assert(r.isNullAt(3) && r.getString(4) == "none")
        else assert(r.getDouble(3) == srcBal && r.getString(4) == "crm")
      }
    }
  }

  test("ts_downsample: candles match a sequential per-day reference, volume exact") {
    val events = graft.core.Tables.load(spark, Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val ref = events.groupBy(e => (e._1, e._4)).map { case (k, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val vol = rows.map(r => BigDecimal(r._5).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      k -> (sorted.head._5, rows.map(_._5).max, rows.map(_._5).min,
        sorted.last._5, rows.length.toLong, vol.toDouble)
    }
    val got = ops.Windows.tsDownsample(spark, Sf).collect()
    assert(got.length == ref.size)
    got.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      val want = ref(k)
      assert((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getLong(6), r.getDouble(7)) == want, s"candle mismatch at $k")
    }
  }

  test("graph_degree: histogram mass equals the directed edge count; graph is regular-degree symmetric") {
    val e = ops.Graph.coOrderEdges(spark, Sf, 16)
    val nEdges = e.count()
    val hist = ops.Graph.degreeHistogram(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // Σ degree·n_nodes = directed (symmetric) edge count, nodes consistent
    assert(hist.map { case (d, n) => d * n }.sum == nEdges)
    assert(hist.map(_._2).sum == e.select("src").distinct().count())
  }

  test("set_intersect_all keeps min(multiplicity) per key") {
    val a = Seq(1, 1, 1, 2, 3).toDF("k")
    val b = Seq(1, 1, 2, 2, 4).toDF("k")
    val got = a.intersectAll(b).groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 2L, 2 -> 1L))
  }

  test("agg_corr: every r in [-1,1]; one pair matches a sequential exact-sums reference") {
    val rows = ops.Aggregates.aggCorr(spark, Sf).collect()
    rows.foreach { r =>
      (2 until r.length).foreach { i =>
        if (!r.isNullAt(i)) assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-12)
      }
    }
    // reference: corr(qty, price) for one flag from BigInt sums
    val li = core.Tables.load(spark, Sf, "lineitem")
      .filter(col("l_returnflag") === "N")
      .select(col("l_quantity"), col("l_extendedprice")).collect()
      .map(r => (math.floor(r.getDouble(0) * 100 + 0.5).toLong,
        math.floor(r.getDouble(1) * 100 + 0.5).toLong))
    val n = li.length.toDouble
    val sx = li.map(p => BigInt(p._1)).sum.toDouble
    val sy = li.map(p => BigInt(p._2)).sum.toDouble
    val sxx = li.map(p => BigInt(p._1) * BigInt(p._1)).sum.toDouble
    val syy = li.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
    val sxy = li.map(p => BigInt(p._1) * BigInt(p._2)).sum.toDouble
    val ref = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val got = rows.find(_.getString(0) == "N").get
      .getAs[Double]("corr_qty_price")
    assert(math.abs(got - ref) < 1e-6, s"corr_qty_price $got vs ref $ref")
  }

  test("agg_ab_test: t matches a sequential Welch reference; arms partition the group") {
    val rows = ops.Aggregates.aggAbTest(spark, Sf).collect()
    val ev = core.Tables.load(spark, Sf, "events")
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1) % 2,
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    rows.foreach { r =>
      val typ = r.getString(0)
      val g = ev.filter(_._1 == typ)
      assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == g.length)
      val a = g.filter(_._2 == 0).map(_._3)
      val b = g.filter(_._2 == 1).map(_._3)
      def stats(xs: Array[Long]) = {
        val n = xs.length.toDouble
        val s = xs.map(BigInt(_)).sum.toDouble
        val ss = xs.map(x => BigInt(x) * BigInt(x)).sum.toDouble
        (n, s / n, (n * ss - s * s) / (n * (n - 1)))
      }
      val (na, ma, va) = stats(a)
      val (nb, mb, vb) = stats(b)
      val t = (ma - mb) / math.sqrt(va / na + vb / nb)
      assert(math.abs(r.getAs[Double]("t_welch") - t) < 1e-6,
        s"$typ: t ${r.getAs[Double]("t_welch")} vs ref $t")
      assert(r.getAs[Boolean]("significant") == (math.abs(t) > 1.96))
    }
  }

  test("win_drawdown: exact equality with a sequential per-user walk") {
    val got = ops.Windows.winDrawdown(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = core.Tables.load(spark, Sf, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        math.floor(r.getDouble(4) * 100 + 0.5).toLong))
      .groupBy(_._1)
      .map { case (uid, rows) =>
        var cum = 0L; var peak = Long.MinValue; var dd = Long.MinValue
        rows.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, typ, c) =>
          cum += (if (typ == "purchase" || typ == "signup") c else -c)
          peak = math.max(peak, cum)
          dd = math.max(dd, peak - cum)
        }
        uid -> (peak / 100.0, dd / 100.0)
      }
    assert(got == ref, "drawdown walk diverged from the sequential reference")
  }

  test("win_seasonal: additive index preserves per-user mass; one event replayed by hand") {
    val rows = ops.Windows.winSeasonal(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(4), r.getDouble(5)))
    rows.foreach { case (_, _, dow, _, _) => assert(dow >= 1 && dow <= 7) }
    // Σ(v − dow_mean + user_mean) over a user = Σv exactly in real
    // arithmetic (each dow's mean contributes its own total back)
    rows.groupBy(_._1).foreach { case (uid, es) =>
      val v = es.map(_._4).sum
      val d = es.map(_._5).sum
      assert(math.abs(v - d) < 1e-6 * es.length, s"user $uid mass drifted: $v vs $d")
    }
    // hand replay of one event's adjustment from the raw collected data
    val (uid, eid, dow, v, got) = rows.head
    val all = rows.filter(_._1 == uid)
    val dowMean = all.filter(_._3 == dow).map(_._4).sum / all.count(_._3 == dow)
    val userMean = all.map(_._4).sum / all.length
    assert(math.abs(got - (v - dowMean + userMean)) < 1e-6,
      s"event ($uid,$eid): $got vs replay ${v - dowMean + userMean}")
  }

  test("etl_vacuum: orphans gone, data intact, idempotent") {
    val r1 = etl.Etl.vacuum(spark, Sf).head()
    assert(r1.getAs[Long]("orphans_deleted") == 2L)
    assert(r1.getAs[Boolean]("naive_read_inflated"),
      "the orphan copies must inflate a naive glob read")
    assert(r1.getAs[Boolean]("files_after_eq_manifest"))
    val src = core.Tables.load(spark, Sf, "orders").count()
    assert(r1.getAs[Long]("n_rows") == src, "vacuum deleted live data")
    val dir = new java.io.File(core.Fixtures.path(Sf, "etl_vacuum_data"))
    assert(!dir.listFiles().exists(_.getName.startsWith("orphan-")))
    // second run rebuilds, re-injects, re-vacuums — same state
    val r2 = etl.Etl.vacuum(spark, Sf).head()
    assert(r2.toString == r1.toString, "vacuum must be idempotent per run")
  }

  test("etl_wap: the published table holds exactly the clean batch, zero violating rows") {
    val out = etl.Etl.wap(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Boolean]("published"))
    assert(!out("B").getAs[Boolean]("published"), "the dirty batch must be withheld")
    assert(out("B").getAs[Long]("n_violations") > 0, "the injected violations must exist")
    val pub = spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE")
      .parquet(core.Fixtures.path(Sf, "etl_wap_published"))
    assert(pub.count() == out("A").getAs[Long]("n_rows"))
    assert(pub.filter(col("o_custkey").isNull || col("o_totalprice") <= 0).count() == 0,
      "a violating row reached the published table")
    assert(pub.filter(col("o_orderkey") % 3 =!= 0).count() == 0,
      "a batch-B row reached the published table")
  }

  test("etl_wap: a crash MID-PUBLISH leaves the published table untouched (r10 failure law)") {
    // README.md:12 declares "error handling … throughout"; this is the
    // FAILURE half of the WAP gate. The r10 publish protocol writes to
    // a temp dir and swaps by ONE rename — so a task-level failure
    // mid-write must leave debris only in the temp dir, never a
    // partial published table, and the next run must converge.
    val published = etl.Etl.wap(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
    val pubPath = core.Fixtures.path(Sf, "etl_wap_published")
    def pubState(): (Long, Double) = {
      val r = spark.read.schema(schema).parquet(pubPath)
        .agg(count(lit(1)), sum(col("o_totalprice"))).head()
      (r.getLong(0), r.getDouble(1))
    }
    val before = pubState()
    assert(before._1 == published("A").getAs[Long]("n_rows"))
    // inject a mid-write task failure into a publish-shaped write
    // aimed at the SAME temp location the protocol uses
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k % 97 == 13) throw new RuntimeException("injected task failure"); k
    }
    val tmp = pubPath + ".publish." + ProcessHandle.current().pid()
    val failed = intercept[Exception] {
      spark.read.schema(schema).parquet(pubPath)
        .withColumn("o_orderkey", boom(col("o_orderkey")))
        .write.mode("append").parquet(tmp)
    }
    assert(failed.getMessage != null)
    // the published table is bit-for-bit what it was — the crash never
    // touched it (rename is the only mutation, and it never ran)
    assert(pubState() == before, "mid-publish crash corrupted the published table")
    // and a rerun clears the debris and converges to the same state
    etl.Etl.wap(spark, Sf).collect()
    assert(pubState() == before, "rerun after crash did not converge")
    // the rerun consumed the debris: temp dir deleted, then renamed away
    assert(!new java.io.File(tmp).exists(),
      "crash debris must not survive the next publish")
  }

  test("etl_wap: debris from a crashed publish in ANOTHER JVM is swept (r11)") {
    // the r10 cleanup was keyed by the CURRENT pid, so a
    // <pub>.publish.<otherpid> left by a crashed JVM — or a .old from
    // a crash between the two swap renames — survived forever
    // (advisor). The sweep now removes every matching sibling.
    val pubPath = core.Fixtures.path(Sf, "etl_wap_published")
    val alien = new java.io.File(pubPath + ".publish.424242")
    val old = new java.io.File(pubPath + ".old")
    alien.mkdirs(); old.mkdirs()
    new java.io.File(alien, "part-junk").createNewFile()
    new java.io.File(old, "part-junk").createNewFile()
    val out = etl.Etl.wap(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!alien.exists(), "other-JVM publish debris must be swept")
    assert(!old.exists(), "crashed-swap .old debris must be swept")
    val pub = spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE")
      .parquet(pubPath)
    assert(pub.count() == out("A").getAs[Long]("n_rows"),
      "publish did not converge after the sweep")
  }

  test("etl_wap: crash BETWEEN the swap renames is restored from <pub>.old (r12)") {
    // the r11 two-rename swap parks the previous publish at <pub>.old
    // before renaming the new one in; a crash between the renames
    // leaves the table ABSENT with .old holding the only copy. The
    // r11 debris sweep deleted .old without restoring it (advisor) —
    // the next run now renames it BACK first, so readers between the
    // restore and the rebuilt swap see the previous publish, and the
    // only copy of the table is never deleted.
    etl.Etl.wap(spark, Sf).collect() // ensure a published table exists
    val schema = "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
    val pubPath = core.Fixtures.path(Sf, "etl_wap_published")
    val before = spark.read.schema(schema).parquet(pubPath)
      .agg(count(lit(1)), sum(col("o_totalprice"))).head()
    // simulate the crash state: pub renamed aside, nothing renamed in
    val pubFile = new java.io.File(pubPath)
    val oldFile = new java.io.File(pubPath + ".old")
    assert(pubFile.renameTo(oldFile), "test setup rename failed")
    assert(!pubFile.exists() && oldFile.exists())
    val out = etl.Etl.wap(spark, Sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!oldFile.exists(), ".old must be consumed by restore + swap")
    val after = spark.read.schema(schema).parquet(pubPath)
      .agg(count(lit(1)), sum(col("o_totalprice"))).head()
    assert(after == before, "restore + republish did not converge")
    assert(after.getLong(0) == out("A").getAs[Long]("n_rows"))
  }

  test("graph_jaccard: bounds, non-adjacency, and set-arithmetic consistency") {
    val rows = ops.Graph.jaccardNeighbors(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty, "candidate generation produced nothing")
    // recompute the adjacency set: predicted links must be NEW links
    val op = core.Tables.load(spark, Sf, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val adj = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p"), col("y.p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (a, b, common, da, db, j) =>
      assert(a < b, "pairs must be normalized a < b")
      assert(!adj.contains((a, b)), s"($a,$b) is already an edge — not a prediction")
      assert(common >= 2 && common <= math.min(da, db),
        s"common $common out of [2, min($da,$db)]")
      assert(j > 0.0 && j <= 1.0, s"jaccard $j out of (0,1]")
      assert(j == common.toDouble / (da + db - common).toDouble)
    }
  }

  test("capped wedge join equals the naive self-join (cap law), incl. buckets past the cap") {
    import TestSpark.{spark => s}
    val (_, edges) = ops.Graph.coOrderEdges(s, Sf)
    val naive = edges.as("x").join(edges.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("common")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = ops.Graph.wedgePairs(edges)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == naive,
      "block-capped wedge decomposition must be exactly the naive self-join")
    // the corpus max degree (25 at sf0.001) sits under the cap, so the
    // multi-block arm needs a synthetic hub: one node of degree 200
    // (4 blocks) plus a small bucket — equality must survive blocks
    import s.implicits._
    val hub = (0L until 200L).map(d => (1L, d)) ++ Seq((2L, 10L), (2L, 11L))
    val hubEdges = hub.toDF("src", "dst")
    val hubNaive = hubEdges.as("x").join(hubEdges.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst"), col("y.dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val hubCapped = ops.Graph.wedgePairs(hubEdges)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hubCapped == hubNaive,
      "cap law must hold where the hub spans multiple blocks")
    assert(hubNaive.length == 200 * 199 / 2 + 1, "synthetic hub sanity")
  }

  test("graph_label_prop: sizes partition the nodes; communities refine graph_cc components; deterministic") {
    val lp = ops.Graph.labelProp(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // community_size is the exact member count of its community
    val byComm = lp.groupBy(_._2)
    lp.foreach { case (_, comm, size) =>
      assert(byComm(comm).length.toLong == size)
    }
    // LPA labels spread only along edges, so a community can never
    // span two connected components: it REFINES graph_cc's partition
    val cc = ops.Graph.connectedComponents(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp.map(_._1).toSet == cc.keySet)
    byComm.values.foreach { members =>
      assert(members.map(m => cc(m._1)).toSet.size == 1,
        "a community crossed a connected component")
    }
    val again = ops.Graph.labelProp(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == lp.toSet, "LPA must be deterministic")
  }
}
