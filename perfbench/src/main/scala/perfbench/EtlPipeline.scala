package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.etl.Scd
import graft.sinks.{JdbcSink, ParquetSink}
import graft.sources.JdbcSource

/** The paper's pipeline, driven through the program's public functions:
  * a full load of customers and orders, then seeded change-data-capture
  * batches. Each batch is split by a data-quality rule into accepted and
  * quarantined rows, merged into an SCD2 customer dimension
  * (`Scd.scd2Merge`) and an SCD1 one (`Scd.scd1Apply`), upserted into
  * embedded Derby (`JdbcSink.upsert`), and written to a parquet lake
  * (`ParquetSink`). The DQ rule checks nation keys against a reference
  * table read back from Derby through `JdbcSource`.
  *
  * One op is one batch; batch 0 is the full load. Each pass replays the
  * same batches from an empty target, so every pass does the same work.
  */
final class EtlPipeline(spark: SparkSession, workDir: String, cpus: Int) {
  import EtlPipeline._

  private val url = s"jdbc:derby:$workDir/derby/pb;create=true"
  private val lake = s"$workDir/lake"
  private val batchDir = s"$workDir/batches"

  /** Per-op timings and counts, reset by [[runBatch]]. */
  val m: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  private def timed[A](k: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally add(k, (System.nanoTime() - t0) / 1e9)
  }

  /** JDBC sink whose staging load is timed; `super` does all the work. */
  private final class TimedJdbcSink extends JdbcSink(url, "pb", "pb", numPartitions = cpus) {
    override protected def stageLoad(df: DataFrame, staging: String): Unit =
      timed("sinks.jdbc_stage_s")(super.stageLoad(df, staging))
  }
  private val sink = new TimedJdbcSink
  private val source = new JdbcSource(url, "pb", "pb")
  private val parquet = new ParquetSink(lake)

  private var dim2: DataFrame = _
  private var dim1: DataFrame = _
  /** Violations of the per-batch invariants, with the batch they hit. */
  val violations: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Number of CDC batches after the full load, from the batch files
    * (`b<k>_customers.parquet`, `b<k>_orders.parquet`, with the batch
    * number in `_batch`) the caller generated. */
  val cdcBatches: Int =
    Option(new java.io.File(batchDir).list()).toSeq.flatten.count(_.endsWith("_customers.parquet")) - 1

  /** Seed the Derby reference table the DQ rule reads back. */
  def setup(): Unit = {
    System.setProperty("derby.stream.error.file", s"$workDir/derby.log")
    sink.write(spark.range(25).select(col("id").cast("int").as("n_nationkey")),
      "REF_NATION", SaveMode.Overwrite)
  }

  /** Empty targets: the pass starts from nothing. */
  def reset(): Unit = {
    Util.rm(new java.io.File(lake))
    sink.write(batch(0).limit(0), DimTable, SaveMode.Overwrite)
    dim2 = null
    dim1 = null
    lastDim2Rows = 0.0
    lastDim1Rows = 0.0
  }

  private def batch(b: Int, table: String = "customers"): DataFrame =
    spark.read.parquet(s"$batchDir/b${b}_$table.parquet").drop("_batch")

  /** The DQ rule for customers, given the valid nation keys: complete
    * rows of a known nation and, as in the program's `etl_dq_check` and
    * `etl_quarantine` keys, no negative balance. */
  private def accepted(nations: Seq[Int]): org.apache.spark.sql.Column =
    col("c_custkey").isNotNull && col("c_name").isNotNull && col("c_mktsegment").isNotNull &&
      col("c_nationkey").isin(nations: _*) && col("c_acctbal") >= 0

  private def fp(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(df.col).toIndexedSeq: _*)
      .cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Run batch `b` (0 = full load) through every stage. */
  def runBatch(b: Int): Unit = {
    m.clear()
    val ts = f"2024-01-${b + 1}%02d 00:00:00"
    // DQ: the reference nation keys come back from Derby; one job
    // classifies and counts the batch, the quarantine reads its output
    val (valid, validOrders) = timed("etl.dq_s") {
      val nations = timed("sources.jdbc_read_s") {
        source.read(spark, "REF_NATION").collect().map(_.getInt(0)).toSet
      }
      add("sources.jdbc_rows", nations.size)
      val obs = Observation(Util.uniq(s"dq_c_$b"))
      val classified = batch(b).withColumn("_ok", coalesce(accepted(nations.toSeq), lit(false)))
        .observe(obs, count(lit(1)).as("in"), sum(when(col("_ok"), 1).otherwise(0)).as("out"),
          sum(when(col("_ok"), 0).otherwise(1)).as("rej"))
        .localCheckpoint(eager = true)
      val oObs = Observation(Util.uniq(s"dq_o_$b"))
      val okOrder = col("o_orderkey").isNotNull && col("o_custkey").isNotNull &&
        col("o_orderstatus").isin("F", "O", "P") && col("o_totalprice") > 0
      val orders = batch(b, "orders").withColumn("_ok", coalesce(okOrder, lit(false)))
        .observe(oObs, count(lit(1)).as("in"), sum(when(col("_ok"), 1).otherwise(0)).as("out"),
          sum(when(col("_ok"), 0).otherwise(1)).as("rej"))
        .localCheckpoint(eager = true)
      Seq(obs, oObs).foreach { o =>
        val r = o.get
        val (in, out, rej) = (num(r("in")), num(r("out")), num(r("rej")))
        add("etl.rows_in", in); add("etl.rows_out", out); add("etl.rows_rejected", rej)
        if (in != out + rej) violations += s"batch $b dq: rows_in $in != rows_out $out + rejected $rej"
      }
      timed("sinks.parquet_write_s") {
        parquet.write(classified.filter(!col("_ok")).drop("_ok"), "quarantine_customer", SaveMode.Append)
        parquet.write(orders.filter(!col("_ok")).drop("_ok"), "quarantine_orders", SaveMode.Append)
      }
      (classified.filter(col("_ok")).drop("_ok"), orders.filter(col("_ok")).drop("_ok"))
    }
    // SCD2: new versions for changed and new keys, materialised so the
    // next batch merges from this state; counts ride on the same job
    timed("etl.scd2_s") {
      val merged = if (dim2 == null) Scd.initialLoad(valid, ts)
        else Scd.scd2Merge(dim2, valid, Seq(Key), Attrs, ts)
      val obs = Observation(Util.uniq(s"scd2_$b"))
      dim2 = merged.observe(obs, count(lit(1)).as("rows"),
        sum(when(col(Scd.FromCol) === lit(ts).cast("timestamp"), 1).otherwise(0)).as("opened"))
        .localCheckpoint(eager = true)
      val r = obs.get
      val (rows, opened) = (num(r("rows")), num(r("opened")))
      val prev = lastDim2Rows
      if (rows != prev + opened)
        violations += s"batch $b scd2: dim rows $rows != previous $prev + opened $opened"
      lastDim2Rows = rows
      add("etl.dim_rows", rows)
      timed("sinks.parquet_write_s")(parquet.write(dim2, "dim_customer_scd2", SaveMode.Overwrite))
    }
    // SCD1: overwrite in place, then the same batch lands in Derby
    timed("etl.scd1_s") {
      val applied = if (dim1 == null) valid.withColumn("changed", lit(false))
        else Scd.scd1Apply(dim1, valid, Seq(Key), Attrs)
      val obs = Observation(Util.uniq(s"scd1_$b"))
      dim1 = applied.observe(obs, count(lit(1)).as("rows")).drop("changed").localCheckpoint(eager = true)
      val rows = num(obs.get("rows"))
      if (rows < lastDim1Rows)
        violations += s"batch $b scd1: dimension shrank from $lastDim1Rows to $rows rows"
      lastDim1Rows = rows
    }
    timed("sinks.jdbc_upsert_s")(sink.upsert(valid, DimTable, Seq(Key)))
    timed("sinks.parquet_write_s")(parquet.write(validOrders, "fact_orders",
      if (b == 0) SaveMode.Overwrite else SaveMode.Append))
    add("sinks.rows_written", m.getOrElse("etl.rows_out", 0.0))
  }
  private var lastDim2Rows = 0.0
  private var lastDim1Rows = 0.0

  /** Lake files and bytes, for the sink counters. */
  def lakeFiles(): (Long, Long) = {
    val fs = Util.files(new java.io.File(lake)).filter(_.getName.endsWith(".parquet"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  /** Post-run checks on the state the last pass left, each with its
    * failure message if it failed. Derby's table is also dumped for the
    * independent DuckDB check over the batch files. */
  def check(checkDir: String): Seq[(String, Option[String])] = {
    val lastBatch = cdcBatches
    val fails = mutable.ArrayBuffer[(String, Option[String])]()
    fails += "stage_conservation" -> (if (violations.isEmpty) None else Some(violations.mkString("; ")))
    // each SCD2 key has exactly one current row, and its intervals do
    // not overlap
    val w = org.apache.spark.sql.expressions.Window.partitionBy(Key).orderBy(Scd.FromCol)
    val bad = dim2.groupBy(Key).agg(sum(when(col(Scd.CurrentCol), 1).otherwise(0)).as("cur"))
      .filter(col("cur") =!= 1).count()
    fails += "scd2_one_current" -> Option.when(bad != 0)(s"scd2: $bad keys without exactly one current row")
    val overlap = dim2.withColumn("_prev_to", lag(col(Scd.ToCol), 1).over(w))
      .filter(col("_prev_to") > col(Scd.FromCol) || col(Scd.FromCol) >= col(Scd.ToCol)).count()
    fails += "scd2_intervals" -> Option.when(overlap != 0)(s"scd2: $overlap rows with overlapping or empty intervals")
    // Derby holds exactly the SCD2 dimension's current rows
    val derby = source.read(spark, DimTable).select((Key +: Attrs).map(col): _*)
    val current = dim2.filter(col(Scd.CurrentCol)).select((Key +: Attrs).map(col): _*)
    val diff = derby.exceptAll(current).count() + current.exceptAll(derby).count()
    fails += "derby_equals_scd2_current" -> Option.when(diff != 0)(s"derby vs scd2 current rows: $diff rows differ")
    derby.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/derby_dim.parquet")
    // re-applying the last batch leaves Derby unchanged
    val before = fp(source.read(spark, DimTable))
    sink.upsert(batch(lastBatch).filter(accepted(0 until 25)), DimTable, Seq(Key))
    val after = fp(source.read(spark, DimTable))
    fails += "reapply_idempotent" ->
      Option.when(before != after)(s"re-applying batch $lastBatch changed Derby: $before -> $after")
    fails.toSeq
  }
}

object EtlPipeline {
  val Key = "c_custkey"
  val Attrs: Seq[String] = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val DimTable = "DIM_CUSTOMER"
  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case null => 0.0
    case o => o.toString.toDouble
  }
}
