package graft

import org.scalatest.funsuite.AnyFunSuite

/** Crash semantics and keying of the build-once fixture call
  * [[core.Fixtures.once]]: a body that fails mid-build must leave NO
  * visible fixture, a retry must rebuild from scratch and publish
  * atomically, and a source table rewritten in place must map to a new
  * fixture. The bug classes this pins: `_SUCCESS` is written by the
  * FIRST append job of a multi-job build, so a naive exists-check
  * calls a 1-of-3-phase partial complete; and a fixture or memo keyed
  * by the sf dir NAME serves state built from files that are gone. */
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
    val root = file(name).getParentFile
    rm(root)
    def entries() = Option(root.list()).toSeq.flatten.filter(_.startsWith(name))
    // phase 1 writes _SUCCESS (as Spark's first append job would),
    // phase 2 crashes
    val boom = intercept[RuntimeException] {
      Fixtures.once(sfDir, name) { tmp =>
        val d = new java.io.File(tmp)
        d.mkdirs()
        new java.io.File(d, "_SUCCESS").createNewFile()
        new java.io.File(d, "part-0001").createNewFile()
        throw new RuntimeException("crash between phases")
      }
    }
    assert(boom.getMessage.contains("crash"))
    assert(!file(name).exists(), "a crashed build must not be visible as complete")
    assert(entries().isEmpty, "the crashed build's staging dir is deleted")

    // retry: completes and publishes atomically
    val published = Fixtures.once(sfDir, name) { tmp =>
      val d = new java.io.File(tmp)
      d.mkdirs()
      new java.io.File(d, "part-0001").createNewFile()
      new java.io.File(d, "part-0002").createNewFile()
    }
    assert(published === file(name).getPath)
    assert(file(name, "part-0002").exists(), "full build published")
    assert(file(name, "_SUCCESS").exists(), "published with its completion marker")
    assert(entries() === Seq(name), "build staging dir renamed away")

    // idempotence: a complete fixture is never rebuilt
    val again = Fixtures.once(sfDir, name) { _ =>
      fail("body must not run when the fixture is complete")
    }
    assert(again === published)
  }

  test("every build-once fixture is rebuilt when its source table is rewritten in place") {
    import org.apache.spark.sql.functions.{col, sum}
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_fx_src").toString
    val keys = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")
    def writeSources(keep: Int): Unit = keys.foreach { case (t, k) =>
      core.Tables.load(spark, TestSpark.Sf, t).filter(col(k) % keep === 0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    def load(t: String) = core.Tables.load(spark, dir, t)
    def total(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(sum(col(c))).head().getLong(0)
    def ids(df: org.apache.spark.sql.DataFrame, cs: String*): Set[Long] =
      cs.flatMap(c => df.select(col(c)).collect().map(_.getLong(0))).toSet
    def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // the fixtures published so far, per name (a name plus one
    // fingerprint per source table)
    val fixtures = Seq("etl_backfill", "etl_compaction_frag", "etl_partition_evolution_src",
      "events_stream_src", "stream_dedup_in", "events_stream_src_mb",
      "neardup_pairs_p64_r4_t80", s"neardup_index_p64_r4_c${llm.Dedup.BandBucketCap}",
      s"ivf_index_k${llm.Similarity.IvfK}i3", "pq_index_m8k256i3",
      "fact_by_year", "scan_skipping_zones", "bucketed_orders", "bucketed_lineitem")
    def published(): Map[String, Int] = {
      val names = Option(new java.io.File(Fixtures.path(dir, "x")).getParentFile.list())
        .toSeq.flatten
      fixtures.map(f => f -> names.count(_.matches(s"\\Q$f\\E_[0-9a-f]+"))).toMap
    }
    // each key's result must describe the source as it is now
    def check(): Unit = {
      val lineitem = load("lineitem").count()
      val orders = load("orders").count()
      val events = load("events").count()
      // lineitem and orders: the etl inputs, fact_by_year, the zoned
      // layout and the bucketed layouts
      val backfill = etl.Etl.backfill(spark, dir).collect()
      assert(backfill.map(_.getAs[Long]("n")).sum === lineitem, "etl_backfill")
      val frag = etl.Etl.compaction(spark, dir).collect()
        .filter(_.getAs[String]("stage") == "fragmented")
      assert(frag.map(_.getAs[Long]("n_rows")).toSeq === Seq(orders), "etl_compaction")
      val evo = etl.Etl.partitionEvolution(spark, dir).collect()
      assert(evo.map(_.getAs[Long]("n")).sum === orders, "etl_partition_evolution")
      assert(evo.forall(_.getAs[Boolean]("intact")), "etl_partition_evolution intact")
      val urgentYears = load("orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 450000)
        .select(org.apache.spark.sql.functions.year(col("o_orderdate"))).collect()
        .map(_.getInt(0)).toSet
      val dppRows = load("lineitem").collect()
        .count(r => urgentYears.contains(r.getAs[java.sql.Timestamp]("l_shipdate")
          .toLocalDateTime.getYear))
      val dpp = ops.ScaleJoins.joinDpp(spark, dir)
      assert((if (dpp.isEmpty) 0L else total(dpp, "n")) === dppRows, "join_dpp")
      val band = load("lineitem").filter(col("l_shipdate")
        .between(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("1996-06-30 00:00:00"))).count()
      assert(ops.Scans.scanSkipping(spark, dir).head().getAs[Long]("n") === band, "scan_skipping")
      val joined = load("lineitem").join(load("orders"), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(total(ops.ScaleJoins.joinBucketed(spark, dir), "n_lines") === joined,
        "join_bucketed")
      // events: the stream sources
      assert(total(stream.Streaming.tumbling(spark, dir), "n") === events, "stream_tumbling")
      assert(stream.Streaming.dedup(spark, dir).count() === events, "stream_dedup")
      assert(total(stream.Streaming.foreachBatchSink(spark, dir), "n") === events,
        "stream_foreach_batch")
      // documents: the stored near-dup pairs and the corpus band index
      val docs = llm.Dedup.docs(spark, dir)
      assert(sameRows(llm.Dedup.nearDupPairsFixture(spark, dir),
        llm.Dedup.nearDedupPairsRaw(spark, docs)), "near-dup pairs")
      val corpus = docs.filter(!llm.Dedup.isIncrementalBatch)
      assert(sameRows(llm.Dedup.corpusBandIndexFixture(spark, dir),
        llm.Dedup.indexBlockLayout(llm.Dedup.minhashBands(llm.Dedup.shinglesOf(spark, corpus)))),
        "corpus band index")
      // embeddings: the IVF and PQ indexes answer from the rows there
      // are now, and as a fresh session (no memo) would
      val vecs = ids(load("embeddings"), "vec_id")
      val ivf = llm.Similarity.simsearchIvfTopK(spark, dir)
      assert(ids(ivf, "probe_id", "vec_id").subsetOf(vecs), "llm_simsearch_ivf")
      val ivfRows = ivf.collect().toSeq
      llm.Similarity.clearIvfMemo()
      assert(llm.Similarity.simsearchIvfTopK(spark, dir).collect().toSeq === ivfRows,
        "llm_simsearch_ivf probed with stale centroids")
      val pq = llm.Similarity.simsearchPqTopK(spark, dir)
      assert(ids(pq, "probe_id", "vec_id").subsetOf(vecs), "llm_simsearch_pq")
      val pqRows = pq.collect().toSeq
      llm.Similarity.clearPqMemo()
      assert(llm.Similarity.simsearchPqTopK(spark, dir).collect().toSeq === pqRows,
        "llm_simsearch_pq scored with stale codebooks")
    }
    try {
      writeSources(1)
      check()
      assert(published() === fixtures.map(_ -> 1).toMap)
      val (ivfBuilds, pqBuilds) = (llm.Similarity.ivfTrainCount.get(),
        llm.Similarity.pqTrainCount.get())
      writeSources(2) // same path, half the rows
      check()
      assert(published() === fixtures.map(_ -> 2).toMap,
        "every fixture must get a new name with its rewritten source")
      assert(llm.Similarity.ivfTrainCount.get() > ivfBuilds, "IVF index retrained")
      assert(llm.Similarity.pqTrainCount.get() > pqBuilds, "PQ index retrained")
    } finally {
      rm(new java.io.File(Fixtures.path(dir, "x")).getParentFile)
      rm(new java.io.File(dir))
    }
  }
}
