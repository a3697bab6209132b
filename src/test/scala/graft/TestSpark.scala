package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (UTC, small shuffle),
  * on the local filesystem the mains use ([[graft.core.Sessions.LocalFsConf]]). */
object TestSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.core.Sessions.LocalFsConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf = "/root/testdata/sf0.001"
}
