package graft

import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Lineage
import scala.jdk.CollectionConverters._

/** Lineage durability's contract: with a checkpoint dir on the context
  * (`spark.checkpoint.dir` or `setCheckpointDir`) every per-round
  * lineage cut is a reliable checkpoint() into that dir instead of a
  * localCheckpoint(). That changes WHERE materialized rounds live and
  * nothing else — the iterative operators' results must be
  * bit-identical under both modes. Exercised on the three iterative
  * kernels that are structurally fragile under localCheckpoint:
  * PageRank rounds, the shared CC label-propagation kernel, and the
  * banded near-dup miner. */
class LineageSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}

  /** The reliable cuts under `dir`: setCheckpointDir creates a UUID
    * subdir at once, and each checkpointed RDD writes an `rdd-<id>` dir
    * into it (the test session keeps them: no cleanCheckpoints). */
  private def cutsUnder(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(sub => Option(sub.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.startsWith("rdd-"))

  /** Run `body(dir)` with the context's checkpoint dir set to a fresh
    * temp `dir`, check that the body's cuts landed there, then clear
    * the dir again so later suites stay local. */
  private def withReliable[T](body: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.sparkContext.setCheckpointDir(tmp)
    try {
      val r = body(tmp)
      assert(cutsUnder(tmp).nonEmpty,
        s"no reliable cut landed under the configured dir $tmp")
      r
    } finally {
      CheckpointDirs.clear(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** The materialized RDD of a fresh cut: its checkpoint file is
    * defined for a reliable cut, empty for a local one. */
  private def cutRdd(): org.apache.spark.rdd.RDD[_] = {
    val cut = Lineage.cut(spark.range(8).toDF())
    cut.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .filter(_.isCheckpointed)
      .getOrElse(fail(s"the cut is not a checkpointed RDD: ${cut.queryExecution.analyzed}"))
  }

  test("reliable checkpoint knob: pagerank bit-identical, and actually reliable") {
    val local = rows(ops.Graph.pageRank(spark, Sf))
    val reliable = withReliable(_ => rows(ops.Graph.pageRank(spark, Sf)))
    assert(local == reliable)
    withReliable { tmp =>
      val file = cutRdd().getCheckpointFile
      assert(file.exists(_.contains(tmp)),
        s"checkpoint dir $tmp set but the cut's RDD is checkpointed at $file")
    }
  }

  test("reliable checkpoint knob: pagerank iterations equal the reference on generated graphs") {
    import org.scalacheck.{Test => SCTest}
    val res = withReliable(_ => SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(7L))
        .withWorkers(1),
      PageRankReference.agrees(spark)))
    assert(res.passed, s"pagerank-reference (reliable): ${res.status}")
  }

  test("reliable checkpoint knob: connected components bit-identical") {
    val local = rows(ops.Graph.connectedComponents(spark, Sf))
    val reliable = withReliable(_ => rows(ops.Graph.connectedComponents(spark, Sf)))
    assert(local == reliable)
  }

  test("reliable checkpoint knob: banded near-dup bit-identical") {
    val local = rows(SparkEntry.queries("llm_near_dedup")(spark, Sf))
    val reliable =
      withReliable(_ => rows(SparkEntry.queries("llm_near_dedup")(spark, Sf)))
    assert(local == reliable)
  }

  test("default mode stays localCheckpoint (no per-round disk writes)") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    rows(ops.Graph.pageRank(spark, Sf))
    assert(cutRdd().getCheckpointFile.isEmpty)
  }

  test("a Verify run with spark.checkpoint.dir leaves no checkpoint tree behind") {
    // a main's own session (core.Sessions.build) in a child JVM, since
    // the tree is left when the application ends; the poll proves the
    // run's cuts did land in the dir before it was cleaned
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_run_").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out_").toFile
    try {
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
      val log = new java.io.File(out, "run.log")
      val pb = new ProcessBuilder((Seq(
        s"${System.getProperty("java.home")}/bin/java", "-Xmx1g",
        s"-Dspark.checkpoint.dir=$ckpt", "-cp", System.getProperty("java.class.path")) ++
        jvmArgs ++ Seq("graft.Verify", Sf, out.getPath, "graph_pagerank")).asJava)
        .redirectErrorStream(true)
        .redirectOutput(log)
      pb.environment().put(core.Sessions.CpusEnv, "2")
      val child = pb.start()
      val deadline = System.nanoTime() + 300L * 1000000000L
      var sawCut = false
      while (child.isAlive && System.nanoTime() < deadline) {
        sawCut ||= cutsUnder(ckpt.getPath).nonEmpty
        Thread.sleep(20)
      }
      if (child.isAlive) { child.destroyForcibly(); fail("the Verify run took over 300 s") }
      assert(child.exitValue() == 0, java.nio.file.Files.readString(log.toPath))
      assert(new java.io.File(out, "graph_pagerank/_SUCCESS").isFile, "the key did not run")
      assert(sawCut, s"no reliable cut landed under $ckpt during the run")
      assert(ckpt.list().isEmpty, s"left behind: ${ckpt.list().mkString(", ")}")
    } finally Seq(ckpt, out).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
