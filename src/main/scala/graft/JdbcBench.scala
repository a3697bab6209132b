package graft

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.functions._

/** One-shot JDBC parallelism measurement (r10, r9 verdict #7): writes
  * `orders` to embedded Derby through [[graft.sinks.JdbcSink]] at
  * 1 / 2 / 4 connection partitions and reads it back through
  * [[graft.sources.JdbcSource]] single-stream vs 4-way range-
  * partitioned, printing one JSON line for BASELINE.md. Derby is
  * single-JVM so absolute numbers are modest, but the SHAPE is the
  * claim: a partitioned extract/load must beat the one-connection
  * funnel, which is the difference between a 100 TB RDBMS pull that
  * finishes and one that doesn't. Usage:
  * `SPARK_GRAFT_SF_DIR=data/sf1 sbt "runMain graft.JdbcBench"`. */
object JdbcBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Sessions.build()
    val dbDir = core.Fixtures.path(sfDir, "derby_bench_db")
    System.setProperty("derby.stream.error.file", s"$dbDir.log")
    val url = s"jdbc:derby:$dbDir;create=true"
    val orders = core.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .lineageCut() // time JDBC IO, not the parquet scan
    val n = orders.count()
    val bounds = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val writes = Seq(1, 2, 4).map { p =>
      val t = timed(new sinks.JdbcSink(url, "graft", "graft", numPartitions = p)
        .write(orders, s"bench_orders_p$p", org.apache.spark.sql.SaveMode.Overwrite))
      p -> t
    }
    val src = new sources.JdbcSource(url, "graft", "graft")
    val readSingle = timed(
      assert(src.read(spark, "bench_orders_p4").count() == n))
    val readPart = timed(
      assert(src.readPartitioned(spark, "bench_orders_p4", "o_orderkey",
        bounds.getLong(0), bounds.getLong(1), numPartitions = 4).count() == n))
    // canary/epoch self-identification like every other artifact
    // (r13 verdict #7): same cross-VM comparability rule — absolute
    // numbers comparable only within a boot_epoch, normalized by the
    // canary. NOTE for readers of the numbers: embedded Derby is
    // single-JVM and saturates quickly — at sf1 the partitioned read
    // ties the single-stream read because Derby, not the fan-out, is
    // the wall; the SHAPE claim (partitioned ≥ single) is what this
    // probe pins, the fan-out BENEFIT needs a server that scales.
    val canarySec = core.HostProbe.canaryMin3()
    val bootEpoch = core.HostProbe.bootEpoch()
    println(
      s"""{"metric":"jdbc_parallelism","rows":$n,"sf":"$sfDir",""" +
        writes.map { case (p, t) => f""""write_p$p":$t%.1f""" }.mkString(",") +
        f""","read_single":$readSingle%.1f,"read_part4":$readPart%.1f""" +
        f""","canary_sec":$canarySec%.3f,"boot_epoch":$bootEpoch}""")
    spark.stop()
  }
}
