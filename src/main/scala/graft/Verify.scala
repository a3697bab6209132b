package graft
import graft.core.Lineage.LineageCutOps
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these keys (dev loop; the driver
    // passes exactly two args, so it always dumps the full inventory)
    val keys = SparkEntry.select(args.toSeq.drop(2))
    // streaming keys land in the harness's MEMORY sink, whose per-batch
    // task results ship to the driver; at sf10 stream_session's exceed
    // the 1g default of spark.driver.maxResultSize. Like every spark.*
    // conf it is read from a JVM system property
    // (`scripts/run_main.sh -Dspark.driver.maxResultSize=4g graft.Verify …`).
    val spark = core.Sessions.build(extra = Map("spark.sql.session.timeZone" -> "UTC"))
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      val t0 = System.nanoTime()
      try {
        // localCheckpoint BEFORE coalesce(1): a bare coalesce(1)
        // collapses the WHOLE upstream computation into one task (no
        // shuffle), which serialized per-row keys at the big rungs
        // (fn_variant 168 s / project_derive 100 s at sf10, measured
        // r10). The checkpoint materializes with full parallelism;
        // coalesce then concatenates checkpointed partitions IN ORDER,
        // so the ordered() global sort — which the driver's row-order-
        // sensitive compare depends on — survives, and the one write
        // task streams rows instead of computing them.
        SparkEntry.queries(name)(spark, sfDir).lineageCut().coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-key wall time on stderr: the big-rung gates pick their
        // key lists from these lines
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (<0x20) escaped. A tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
