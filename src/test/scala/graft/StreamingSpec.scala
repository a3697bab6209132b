package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics that the bounded driver queries can't show:
  * watermark late-data drop across micro-batches, stateful dedup of
  * re-delivered rows (SURVEY.md §2.10 "late-data handling" row). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermark drops rows later than the threshold across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .count()
    val name = s"wm_test_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: events at 10:00-10:09, then 11:00 (advances watermark to 10:50)
      in.addData((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 10:05:00"), "a"),
        (ts("2024-01-01 11:00:00"), "b"))
      q.processAllAvailable()
      // batch 2: a late row at 10:07 — older than the 10:50 watermark → dropped
      in.addData((ts("2024-01-01 10:07:00"), "a"))
      q.processAllAvailable()
      // batch 3: push watermark far ahead so every surviving window emits
      in.addData((ts("2024-01-01 12:00:00"), "c"))
      q.processAllAvailable()
      val out = spark.table(name)
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("k"), col("count"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // the 10:00 'a' window must count 2, NOT 3: the late row was dropped.
      assert(out.contains(("10:00", "a", 2L)), s"got $out")
      assert(!out.contains(("10:00", "a", 3L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark restores exactly-once across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val name = s"dd_test_${System.nanoTime()}"
    val q = dedup.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:01"), 1L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:05:00"), 1L), (ts("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      val ids = spark.table(name).select("id").as[Long].collect().toSeq
      assert(ids.sorted === Seq(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("multi-batch append run executes many micro-batches yet matches single-batch output") {
    val single = stream.Streaming.tumblingAppend(spark, TestSpark.Sf)
      .collect().toSeq
    assert(stream.Streaming.lastBatchId <= 1,
      s"single-batch variant unexpectedly split (batchId ${stream.Streaming.lastBatchId})")
    val multi = stream.Streaming.tumblingAppendMb(spark, TestSpark.Sf)
      .collect().toSeq
    // one micro-batch per fixture slice (batchId is 0-based; AvailableNow
    // may add a final empty batch) — the watermark advanced across commits
    assert(stream.Streaming.lastBatchId >= stream.Streaming.MbSlices - 1,
      s"expected ≥${stream.Streaming.MbSlices} micro-batches, " +
        s"last batchId was ${stream.Streaming.lastBatchId}")
    // append emits each window exactly once when the watermark passes it,
    // so the final content is identical however the input was split
    assert(multi === single, "multi-batch result must equal single-batch result")
  }

  test("update-mode stateful result is invariant to micro-batch splitting") {
    // the multi-batch source makes keys emit intermediate rows in several
    // batches; the post-aggregation to each key's final emission must
    // reproduce the plain batch GROUP BY (ADVICE r2)
    val multi = stream.Streaming.statefulFrom(spark,
      stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf))
    assert(stream.Streaming.lastBatchId >= stream.Streaming.MbSlices - 1)
    val batch = core.Tables.load(spark, TestSpark.Sf, "events")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn") === 1, col("event_type"))).as("last_type"))
    assert(multi.collect().toSet === core.Determinism.ordered(batch).collect().toSet)
  }

  test("stream_ewma: multi-batch fold equals single-batch; both match a sequential reference") {
    // the order-sensitive fold must survive micro-batch splitting when
    // the source is time-ordered (the contract the operator documents):
    // state carries the fold across the 6 time-sliced batches
    val single = stream.Streaming.ewma(spark, TestSpark.Sf).collect()
    val multi = stream.Streaming.ewmaFrom(spark,
      stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf)).collect()
    assert(single.toSet === multi.toSet,
      "micro-batch splitting changed the fold")
    // bit-exact sequential reference: same two roundings per step
    val ref = core.Tables.load(spark, TestSpark.Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .iterator
      .flatMap { case (_, rows) =>
        var e = 0.0
        var first = true
        rows.sortBy(r => (r._3, r._2)).toSeq.map { case (uid, id, _, v) =>
          e = if (first) v else 0.5 * v + 0.5 * e
          first = false
          (uid, id) -> e
        }
      }.toMap
    assert(single.length == ref.size)
    single.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(3) == ref(k), s"ewma mismatch at $k")
    }
  }

  test("streaming misra-gries state stays bounded at k entries across batches") {
    // the headline claim of stream_heavy_hitters: the per-shard state a
    // stateful processor carries forever is the SKETCH, never the key
    // universe — feed 3 micro-batches of (mostly) fresh unique keys
    // through the same fold and assert every emitted summary holds ≤ k
    // entries while the processed-row counter keeps the full count
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    val mg = new graft.functions.Udafs.MisraGries(k)
    val in = MemoryStream[String]
    val fn = (shard: Long, rows: Iterator[(Long, String)],
        state: GroupState[(Long, Map[String, Long])]) => {
      var (n, s) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
      rows.foreach { case (_, key) => s = mg.reduce(s, key); n += 1 }
      state.update((n, s))
      Iterator.single((shard, n, s))
    }
    val out = in.toDF().select(lit(0L).as("shard"), col("value"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
      .toDF("shard", "n_rows", "summary")
    val name = s"mg_state_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      for (b <- 0 until 3) {
        in.addData((0 until 100).map(i => s"u${b * 100 + i}") ++ Seq("hot", "hot", "hot"))
        q.processAllAvailable()
      }
      val rows = spark.table(name)
        .select(col("n_rows"), size(col("summary")).as("sz"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(rows.nonEmpty)
      assert(rows.forall(_._2 <= k), s"summary exceeded k: ${rows.mkString(",")}")
      assert(rows.map(_._1).max == 309L) // all 3×103 rows counted
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }

  // ——— state-size pins (r6 verdict task #4): the fixed-state claims,
  // asserted from StreamingQueryProgress.stateOperators — the store's
  // own row accounting — so an unbounded-state respelling (exact
  // counter map, per-key grouping, no watermark eviction) fails here ———

  test("stream_heavy_hitters: state store holds ≤ Shards rows, never the key universe") {
    val n = core.Tables.load(spark, TestSpark.Sf, "events").count()
    stream.Streaming.streamHeavyHitters(spark, TestSpark.Sf).collect()
    val peak = stream.Streaming.lastStateRowsPeak
    assert(peak >= 1 && peak <= stream.Streaming.HhShards,
      s"MG state must be one row per shard (≤${stream.Streaming.HhShards}), got $peak")
    assert(peak < n, s"state ($peak) grew with input ($n rows)")
  }

  test("stream_tws: state rows = distinct keys, not input rows") {
    val ev = core.Tables.load(spark, TestSpark.Sf, "events")
    val nRows = ev.count()
    val nKeys = ev.select("user_id").distinct().count()
    stream.Streaming.tws(spark, TestSpark.Sf).collect()
    val peak = stream.Streaming.lastStateRowsPeak
    assert(peak >= 1 && peak <= nKeys,
      s"per-key ValueState must hold ≤ $nKeys rows, got $peak")
    assert(peak < nRows, s"state ($peak) grew with input ($nRows rows)")
  }

  test("stream_dedup: state rows ≤ distinct ids — re-deliveries share one state row") {
    val ev = core.Tables.load(spark, TestSpark.Sf, "events")
    val nIds = ev.select("event_id").distinct().count()
    stream.Streaming.dedup(spark, TestSpark.Sf).collect()
    val peak = stream.Streaming.lastStateRowsPeak
    // input is the table UNIONed with itself (2·nIds rows); the dedup
    // store keys by event_id, so even before watermark eviction it can
    // never exceed nIds — an exact-history respelling would hold 2·nIds
    assert(peak >= 1 && peak <= nIds,
      s"dedup state must be ≤ $nIds (one row per id), got $peak")
  }

  test("stream_ewma: state rows = distinct users, not input rows") {
    val ev = core.Tables.load(spark, TestSpark.Sf, "events")
    val nRows = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    stream.Streaming.ewma(spark, TestSpark.Sf).collect()
    val peak = stream.Streaming.lastStateRowsPeak
    // the fold keeps (ewma, last ts, last id) per KEY — an
    // exact-history respelling (per-event state) would hold nRows
    assert(peak >= 1 && peak <= nUsers,
      s"per-key fold state must be ≤ $nUsers rows, got $peak")
    assert(peak < nRows, s"state ($peak) grew with input ($nRows rows)")
  }

  test("stream_session: state rows bounded by sessions, never by events") {
    val nRows = core.Tables.load(spark, TestSpark.Sf, "events").count()
    val nSessions = stream.Streaming.session(spark, TestSpark.Sf).count()
    val peak = stream.Streaming.lastStateRowsPeak
    // complete mode evicts nothing, so state = one row per session
    // window seen so far; the time-ordered single-source feed keeps
    // merges in-batch, so the peak never exceeds the final session
    // count (cross-batch unmerged pieces would show up here). The
    // scale claim is that state is SESSION-bounded, not EVENT-bounded
    // — on an unbounded stream the watermark evicts closed sessions
    // and the bound becomes open sessions only.
    assert(peak >= 1 && peak <= nSessions,
      s"session state must be ≤ $nSessions windows, got $peak")
    assert(peak < nRows, s"state ($peak) grew with input ($nRows rows)")
  }

  test("foreachBatch sink appends once per micro-batch and reruns are idempotent") {
    val first = stream.Streaming.foreachBatchSink(spark, TestSpark.Sf).collect().toSeq
    assert(stream.Streaming.lastBatchId >= stream.Streaming.MbSlices - 1,
      s"expected one append per slice, last batchId ${stream.Streaming.lastBatchId}")
    // a second full run must NOT double-count (the target is reset per run)
    val second = stream.Streaming.foreachBatchSink(spark, TestSpark.Sf).collect().toSeq
    assert(second === first, "re-running the sink query must be idempotent")
  }

  test("a stale scratch checkpoint under an old query name is never resumed") {
    val base = stream.Streaming.streamCkptBase
    assume(base.isDefined, "no scratch checkpoint base on this host")
    // what a run killed before its cleanup leaves behind: a checkpoint
    // that has already committed every file of the multi-batch source
    def plantStale(name: String): java.io.File = {
      val d = new java.io.File(base.get, name)
      core.Fixtures.rmTree(d)
      stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf).writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .option("checkpointLocation", d.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      assert(new java.io.File(d, "commits").list().nonEmpty)
      d
    }
    val full = stream.Streaming.foreachBatchSink(spark, TestSpark.Sf).collect().toSeq
    // the name every foreachBatch run used before names became unique
    val feb = plantStale("feb")
    try {
      val next = stream.Streaming.foreachBatchSink(spark, TestSpark.Sf).collect().toSeq
      assert(next === full, "the run after a killed one must return the full result")
    } finally core.Fixtures.rmTree(feb)
    // the delete before use on its own: handed the very name of a
    // stale checkpoint, a run still reads every batch
    plantStale("stale_probe")
    val seen = new java.util.concurrent.atomic.AtomicLong()
    stream.Streaming.withScratchCkpt("stale_probe") { dir =>
      val w = stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(b.count()); ()
        }
        .trigger(Trigger.AvailableNow())
      dir.foreach(d => w.option("checkpointLocation", d))
      w.start().awaitTermination()
    }
    assert(seen.get() === core.Tables.load(spark, TestSpark.Sf, "events").count())
    assert(!new java.io.File(base.get, "stale_probe").exists(),
      "the scratch checkpoint must be deleted after the run")
  }

  test("the sweep deletes scratch checkpoints of dead runs and keeps live ones") {
    val base = java.nio.file.Files.createTempDirectory("graft_sweep").toFile
    val live = ProcessHandle.current().pid()
    val dead = {
      val p = new ProcessBuilder("true").start()
      p.waitFor()
      p.pid()
    }
    // a name as this process gives its runs, and the same name as a
    // killed run of a process that is gone would have left it
    def asDead(name: String) = name.replace(s"_p${live}_", s"_p${dead}_")
    val liveName = core.Fixtures.runName("graft_ms")
    assert(liveName.contains(s"_p${live}_"), liveName)
    def plant(in: java.io.File, name: String): java.io.File = {
      val d = new java.io.File(in, name)
      assert(new java.io.File(d, "commits").mkdirs())
      d
    }
    val (liveDir, deadDir, other) =
      (plant(base, liveName), plant(base, asDead(liveName)), plant(base, "stale_probe"))
    // fixture staging dirs, as Fixtures.once names them, in the fixture
    // root of an sf dir no call has touched yet: its first once() sweeps
    val sf = base.getPath + "_sf"
    val root = new java.io.File(core.Fixtures.path(sf, "x")).getParentFile
    val stagingName = core.Fixtures.runName("x.build")
    val (liveStaging, deadStaging) = (plant(root, stagingName), plant(root, asDead(stagingName)))
    try {
      core.Fixtures.sweepDeadRuns(base)
      assert(!deadDir.exists(), "a dead run's checkpoint must be swept")
      assert(liveDir.exists(), "a live run's checkpoint must stay")
      assert(other.exists(), "a directory not named by runName must stay")
      core.Fixtures.once(sf, "y")(tmp => assert(new java.io.File(tmp).mkdirs()))
      assert(!deadStaging.exists(), "a dead build's staging dir must be swept")
      assert(liveStaging.exists(), "a live build's staging dir must stay")
    } finally Seq(base, root).foreach(core.Fixtures.rmTree)
  }

  test("checkpoint resume: second run ingests only the late-arriving files") {
    // force a fresh fixture build so both streaming runs happen now
    val src = core.Fixtures.path(TestSpark.Sf, "stream_resume_src")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(src))
    val out = stream.Streaming.checkpointResume(spark, TestSpark.Sf).cache()
    try {
      val total = core.Tables.load(spark, TestSpark.Sf, "events").count()
      val runs = stream.Streaming.resumeRunRows
      assert(runs.length === 2)
      assert(runs.sum === total,
        s"two runs must ingest every event exactly once (${runs.mkString("+")} vs $total)")
      assert(runs(1) > 0 && runs(1) < total,
        "second run must process only the files that arrived after run 1")
      // sink aggregate equals the batch aggregate → nothing lost/duplicated
      assert(out.agg(sum(col("n"))).head().getLong(0) === total)
    } finally out.unpersist()
  }

  test("bounded session windows match batch sessionization row counts") {
    val out = stream.Streaming.session(spark, TestSpark.Sf)
    // every (user, session) appears exactly once
    val dup = out.groupBy("user_id", "session_start").count()
      .filter(col("count") > 1).count()
    assert(dup === 0)
    assert(out.count() > 0)
  }

  test("late drop: exactly the below-watermark arrivals vanish, everything else survives") {
    val out = stream.Streaming.streamLateDrop(spark, TestSpark.Sf).collect()
      .map(_.getLong(0)).toSet
    val ev = graft.core.Tables.load(spark, TestSpark.Sf, "events")
    val wmUs = ev.filter(col("event_id") % 5 =!= 0 && col("event_id") % 5 =!= 2)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) - 30L * 60 * 1000000
    val all = ev.select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val dropped = all.filterNot { case (id, _) => out.contains(id) }
    assert(dropped.nonEmpty, "fixture must exercise the drop path")
    // every dropped row is a phase-3 arrival below the batch-1 watermark;
    // every survivor is either on time or arrived before the gate engaged
    dropped.foreach { case (id, us) =>
      assert(id % 5 == 0 && us < wmUs, s"on-time row $id dropped")
    }
    all.filter { case (id, us) => id % 5 == 0 && us >= wmUs }.foreach { case (id, _) =>
      assert(out.contains(id), s"above-watermark row $id missing")
    }
  }

  test("stream-static join: every matched row emits exactly once, none watermark-held") {
    val out = stream.Streaming.streamStaticJoin(spark, TestSpark.Sf)
    val ev = graft.core.Tables.load(spark, TestSpark.Sf, "events")
    val batch = ev.filter(col("event_type") === "purchase")
      .join(graft.core.Tables.load(spark, TestSpark.Sf, "customer"),
        col("user_id") === col("c_custkey"))
    // stateless: batch-equivalent cardinality, no duplicate emission
    assert(out.count() === batch.count())
    assert(out.distinct().count() === out.count())
    // and no watermark holdback: even the NEWEST purchase is emitted —
    // a stream-stream join (streamJoinOuter test above) holds rows
    // near max(ts) open in the state store
    val maxUs = ev.filter(col("event_type") === "purchase")
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    assert(out.filter(col("ts_us") === maxUs).count() > 0,
      "newest stream row missing — a watermark gate crept in")
  }

  test("stream-static join is micro-batch-split invariant (6-batch source == 1-batch)") {
    val one = stream.Streaming.streamStaticJoin(spark, TestSpark.Sf)
    val six = stream.Streaming.staticEnrich(spark, TestSpark.Sf,
      stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf))
    // stateless ⇒ how the stream is sliced into micro-batches (and how
    // far the watermark advances between commits) cannot change output
    assert(six.exceptAll(one).count() === 0)
    assert(one.exceptAll(six).count() === 0)
  }

  test("outer stream join ⊇ inner join; null-padded rows only below the watermark") {
    val inner = stream.Streaming.streamJoin(spark, TestSpark.Sf)
    val outer = stream.Streaming.streamJoinOuter(spark, TestSpark.Sf)
    // every inner match survives in the outer result
    assert(inner.exceptAll(outer).count() === 0,
      "outer join lost matched rows")
    // null-padded rows exist (bounded fixture has unmatched purchases)
    // and each sits strictly below the final watermark — rows at or
    // above it must still be open in the state store, not emitted
    val ev = graft.core.Tables.load(spark, TestSpark.Sf, "events")
    val wmUs = ev.filter(col("event_type") === "purchase")
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) min
      ev.filter(col("event_type") === "view")
        .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val nulls = outer.filter(col("v_id").isNull)
    assert(nulls.count() > 0, "fixture should contain unmatched purchases")
    assert(nulls.filter(col("p_us") >= wmUs - 3600L * 1000000L).count() === 0,
      "a null row emitted at/above the watermark")
  }

  test("RocksDB state store reproduces the default provider across all state machineries") {
    // The 100 TB state answer: HDFSBackedStateStoreProvider holds every
    // store's working set on the executor HEAP — at production key
    // cardinalities that is the streaming OOM shape, and the fix is the
    // spill-to-disk RocksDB provider. `stream_tws` already runs on it
    // (transformWithState requires it); this pins the rest of the
    // state-machinery zoo — windowed agg, dropDuplicates, symmetric
    // hash stream-stream join, session-window merge — byte-identical
    // under a provider swap, so the operators' semantics carry no
    // hidden dependency on the default store's in-heap behavior.
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // conf honored per-query: an unloadable provider must fail the
    // query, so a green RocksDB run below cannot be a silent fallback
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "graft.no.such.Provider")
    try {
      intercept[Exception] {
        stream.Streaming.tumbling(spark, TestSpark.Sf).collect()
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    for (key <- Seq("stream_tumbling", "stream_dedup", "stream_join",
        "stream_session")) {
      val run = SparkEntry.queries(key)
      val base = run(spark, TestSpark.Sf).collect().map(_.toString).sorted
      assert(base.nonEmpty, s"$key: vacuous")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocks)
      val swapped = try run(spark, TestSpark.Sf).collect().map(_.toString).sorted
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      assert(swapped === base, s"$key diverged under RocksDB")
    }
  }

  test("stream_anomaly: multi-batch fold equals single-batch; both match a sequential Welford reference") {
    val single = stream.Streaming.anomaly(spark, TestSpark.Sf).collect()
    val multi = stream.Streaming.anomalyFrom(spark,
      stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf)).collect()
    assert(single.map(_.toString).sorted.toSeq === multi.map(_.toString).sorted.toSeq,
      "micro-batch splitting changed the Welford fold")
    // bit-exact sequential reference, same op order as the processor
    val ref = core.Tables.load(spark, TestSpark.Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .iterator
      .flatMap { case (_, rows) =>
        var n = 0L; var mean = 0.0; var m2 = 0.0
        rows.sortBy(r => (r._3, r._2)).toSeq.map { case (uid, id, _, v) =>
          val fz =
            if (n >= 10) {
              val sd = math.sqrt(m2 / (n - 1))
              (Some(math.abs(v - mean) > 3 * sd),
                if (m2 != 0.0) Some((v - mean) / sd) else None)
            } else (None, None)
          if (n == 0) { n = 1; mean = v; m2 = 0.0 }
          else {
            val d1 = v - mean
            val nm = mean + d1 / (n + 1)
            m2 = m2 + d1 * (v - nm); mean = nm; n += 1
          }
          (uid, id) -> fz
        }
      }.toMap
    assert(single.length == ref.size)
    single.foreach { r =>
      val (flag, z) = ref((r.getLong(0), r.getLong(1)))
      assert((if (r.isNullAt(3)) None else Some(r.getBoolean(3))) == flag)
      assert((if (r.isNullAt(4)) None else Some(r.getDouble(4))) == z,
        s"z mismatch at ${(r.getLong(0), r.getLong(1))}")
    }
    // flags must actually fire somewhere, or the law is vacuous
    assert(single.exists(r => !r.isNullAt(3) && r.getBoolean(3)),
      "no anomaly fired on the whole corpus")
  }

  test("stream_cdc_apply: streaming materialization converges to the batch winner-per-key rule") {
    // THE correctness claim of incremental materialization: applying
    // the change stream batch-by-batch into keyed state ends at
    // exactly the state a from-scratch batch apply computes
    val streamed = stream.Streaming.cdcApplyStream(spark, TestSpark.Sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = etl.Etl.cdcApply(spark, TestSpark.Sf)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch, "streaming CDC apply diverged from the batch apply")
    // tombstones must actually remove keys (or the delete path is vacuous)
    val nKeys = core.Tables.load(spark, TestSpark.Sf, "customer").count()
    assert(streamed.size < nKeys + nKeys / 11 + 1,
      "no key was tombstoned")
  }

  test("stream_cusum: multi-batch fold equals single-batch; exact-integer reference; alarms fire") {
    val single = stream.Streaming.cusum(spark, TestSpark.Sf).collect()
    val multi = stream.Streaming.cusumFrom(spark,
      stream.Streaming.eventsStreamMultiBatch(spark, TestSpark.Sf)).collect()
    assert(single.map(_.toString).sorted.toSeq === multi.map(_.toString).sorted.toSeq,
      "micro-batch splitting changed the CUSUM fold")
    val ref = core.Tables.load(spark, TestSpark.Sf, "events")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
      .groupBy(_._1)
      .iterator
      .flatMap { case (_, rows) =>
        var s = 0L
        rows.sortBy(r => (r._3, r._2)).toSeq.map { case (uid, id, _, c) =>
          s = math.max(0L, s + (c - stream.Streaming.CusumDrift))
          (uid, id) -> s
        }
      }.toMap
    assert(single.length == ref.size)
    single.foreach { r =>
      val s = ref((r.getLong(0), r.getLong(1)))
      assert(r.getLong(3) == s, s"cusum mismatch at ${(r.getLong(0), r.getLong(1))}")
      assert(r.getBoolean(4) == (s > stream.Streaming.CusumAlarm))
    }
    assert(single.exists(_.getBoolean(4)), "no alarm fired on the whole corpus")
  }

  test("stream_tws leaves the session's state-store provider as it found it") {
    // transformWithState needs RocksDB for its own query only: a
    // provider the session chose stays chosen, an unset one stays unset
    val key = stream.Streaming.StateStoreProviderConf
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark.conf.set(key, rocks)
    try {
      stream.Streaming.tws(spark, TestSpark.Sf).collect()
      assert(spark.conf.getAll.get(key) === Some(rocks))
    } finally spark.conf.unset(key)
    assert(stream.Streaming.tws(spark, TestSpark.Sf).collect().nonEmpty)
    assert(!spark.conf.getAll.contains(key), spark.conf.getAll.get(key))
  }

  test("withConfs restores every conf when its body throws") {
    val (held, unset) = ("graft.test.held", "spark.sql.sources.partitionOverwriteMode")
    assert(!spark.conf.getAll.contains(unset))
    spark.conf.set(held, "before")
    try {
      intercept[IllegalStateException] {
        core.Sessions.withConfs(spark, held -> "inside", unset -> "dynamic") {
          assert(spark.conf.get(held) === "inside")
          assert(spark.conf.get(unset) === "dynamic")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(held) === "before")
      assert(!spark.conf.getAll.contains(unset), "an unset conf came back set")
    } finally spark.conf.unset(held)
  }

  test("stream_anomaly: state rows = distinct users, not input rows") {
    val ev = core.Tables.load(spark, TestSpark.Sf, "events")
    val nRows = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    stream.Streaming.anomaly(spark, TestSpark.Sf).collect()
    val peak = stream.Streaming.lastStateRowsPeak
    assert(peak >= 1 && peak <= nUsers,
      s"Welford state must be ≤ $nUsers rows (three doubles per key), got $peak")
    assert(peak < nRows, s"state ($peak) grew with input ($nRows rows)")
  }
}
