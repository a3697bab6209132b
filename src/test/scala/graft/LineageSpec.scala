package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Lineage

/** The fault-tolerance knob's contract (r12 verdict #2): flipping
  * every per-round lineage cut from localCheckpoint (fast, dies with
  * an executor) to reliable checkpoint() (durable in
  * spark.graft.checkpointDir) changes WHERE materialized rounds live
  * and nothing else — the iterative operators' results must be
  * bit-identical under both modes. Exercised on the three iterative
  * kernels the r12 bench flagged as structurally fragile under
  * localCheckpoint: PageRank rounds, the shared CC label-propagation
  * kernel, and the banded near-dup miner. */
class LineageSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}

  private def withReliable[T](body: => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.conf.set(Lineage.ConfKey, tmp)
    try {
      val r = body
      // the cut must land in the dir THIS block configured — the r13
      // "register only while getCheckpointDir is empty" bug sent every
      // later test's cuts into the first test's already-deleted dir
      // (Hadoop mkdirs silently recreated it). setCheckpointDir nests
      // a UUID subdir, so "landed here" = tmp gained a subdirectory.
      val sub = new java.io.File(tmp).listFiles()
      assert(sub != null && sub.exists(_.isDirectory),
        s"reliable cut did not checkpoint under the configured dir $tmp")
      r
    } finally {
      spark.conf.unset(Lineage.ConfKey)
      // the dir is re-registered per change now; the temp dir can be
      // reclaimed as soon as the suite's asserts are done
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("reliable checkpoint knob: pagerank bit-identical, and actually reliable") {
    val local = rows(ops.Graph.pageRank(spark, Sf))
    val reliable = withReliable {
      val r = rows(ops.Graph.pageRank(spark, Sf))
      assert(Lineage.lastCutReliable,
        "knob set but the cut still took the localCheckpoint path")
      assert(spark.sparkContext.getCheckpointDir.nonEmpty,
        "reliable mode must register a checkpoint dir on the context")
      r
    }
    assert(local == reliable)
  }

  test("reliable checkpoint knob: pagerank iterations equal the reference on generated graphs") {
    import org.scalacheck.{Test => SCTest}
    val res = withReliable(SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(7L))
        .withWorkers(1),
      PageRankReference.agrees(spark)))
    assert(res.passed, s"pagerank-reference (reliable): ${res.status}")
  }

  test("reliable checkpoint knob: connected components bit-identical") {
    val local = rows(ops.Graph.connectedComponents(spark, Sf))
    val reliable = withReliable(rows(ops.Graph.connectedComponents(spark, Sf)))
    assert(local == reliable)
  }

  test("reliable checkpoint knob: banded near-dup bit-identical") {
    val local = rows(SparkEntry.queries("llm_near_dedup")(spark, Sf))
    val reliable =
      withReliable(rows(SparkEntry.queries("llm_near_dedup")(spark, Sf)))
    assert(local == reliable)
  }

  test("default mode stays localCheckpoint (no per-round disk writes)") {
    spark.conf.unset(Lineage.ConfKey)
    rows(ops.Graph.pageRank(spark, Sf))
    assert(!Lineage.lastCutReliable)
  }
}
