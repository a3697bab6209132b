package graft

import org.scalatest.funsuite.AnyFunSuite

/** Crash semantics of the atomic multi-phase fixture builder: a body
  * that fails mid-build must leave NO visible fixture (the partial
  * stays in the `.build` sibling), and a retry must rebuild from
  * scratch and publish atomically. The bug class this pins: `_SUCCESS`
  * is written by the FIRST append job of a multi-job build, so a
  * naive exists-check calls a 1-of-3-phase partial complete. */
class FixturesSpec extends AnyFunSuite {
  import graft.core.Fixtures

  private val sfDir = "/tmp/graft_fixtures_spec_sf"

  private def file(name: String, parts: String*) =
    java.nio.file.Paths.get(Fixtures.path(sfDir, name), parts: _*).toFile

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  test("a body that crashes mid-build publishes nothing; retry rebuilds cleanly") {
    val name = s"atomic_crash_${System.nanoTime()}"
    rm(file(name).getParentFile)
    // phase 1 writes _SUCCESS (as Spark's first append job would),
    // phase 2 crashes
    val boom = intercept[RuntimeException] {
      Fixtures.buildAtomic(sfDir, name) { tmp =>
        val d = new java.io.File(tmp)
        d.mkdirs()
        new java.io.File(d, "_SUCCESS").createNewFile()
        new java.io.File(d, "part-0001").createNewFile()
        throw new RuntimeException("crash between phases")
      }
    }
    assert(boom.getMessage.contains("crash"))
    assert(!Fixtures.exists(sfDir, name),
      "a crashed build must not be visible as complete")
    assert(!file(name).exists(), "no final directory may appear")

    // retry: completes and publishes atomically, stale partial cleared
    Fixtures.buildAtomic(sfDir, name) { tmp =>
      val d = new java.io.File(tmp)
      d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile()
      new java.io.File(d, "part-0001").createNewFile()
      new java.io.File(d, "part-0002").createNewFile()
    }
    assert(Fixtures.exists(sfDir, name))
    assert(file(name, "part-0002").exists(), "full build published")
    assert(!new java.io.File(file(name).getParent, s"$name.build").exists(),
      "build staging dir renamed away")

    // idempotence: a complete fixture is never rebuilt
    Fixtures.buildAtomic(sfDir, name) { _ =>
      fail("body must not run when the fixture is complete")
    }
  }

  test("etl input fixtures are rebuilt when their source table is rewritten in place") {
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_fx_src").toString
    def writeSources(keep: Int): Unit =
      Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey").foreach { case (t, k) =>
        core.Tables.load(spark, TestSpark.Sf, t).filter(col(k) % keep === 0)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    def names(): Seq[String] = Seq(
      Fixtures.corpusKeyed(dir, "etl_backfill", "lineitem"),
      Fixtures.corpusKeyed(dir, "etl_compaction_frag", "orders"),
      Fixtures.corpusKeyed(dir, "etl_partition_evolution_src", "orders"))
    // each key's result must describe the source as it is now
    def check(): Unit = {
      val lineitem = core.Tables.load(spark, dir, "lineitem").count()
      val orders = core.Tables.load(spark, dir, "orders").count()
      val backfill = etl.Etl.backfill(spark, dir).collect()
      assert(backfill.map(_.getAs[Long]("n")).sum === lineitem, "etl_backfill")
      val frag = etl.Etl.compaction(spark, dir).collect()
        .filter(_.getAs[String]("stage") == "fragmented")
      assert(frag.map(_.getAs[Long]("n_rows")).toSeq === Seq(orders), "etl_compaction")
      val evo = etl.Etl.partitionEvolution(spark, dir).collect()
      assert(evo.map(_.getAs[Long]("n")).sum === orders, "etl_partition_evolution")
      assert(evo.forall(_.getAs[Boolean]("intact")), "etl_partition_evolution intact")
      names().foreach(n => assert(Fixtures.exists(dir, n), s"fixture $n not built"))
    }
    try {
      writeSources(1)
      check()
      val before = names()
      writeSources(2) // same path, half the rows
      val after = names()
      before.zip(after).foreach { case (b, a) =>
        assert(a !== b, s"fixture name $b must change with its source")
      }
      check()
    } finally {
      rm(new java.io.File(Fixtures.path(dir, "x")).getParentFile)
      rm(new java.io.File(dir))
    }
  }
}
