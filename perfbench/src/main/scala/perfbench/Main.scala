package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.core.{HostProbe, Sessions}

/** Benchmark harness: runs one workload in one JVM, a single client in a
  * closed loop (the next op starts when the previous one returned), and
  * writes one result record. See perfbench/README.md for the workloads,
  * the metrics and the layer each metric belongs to.
  *
  * An op of a keyed workload is `SparkEntry.queries(key)(spark, dir)`
  * taken to its complete result: the DataFrame is built, planned, and
  * its full `ordered()` result written to Spark's `noop` sink. In the
  * same job `Dataset.observe` collects the result fingerprint, `count`
  * plus `sum(xxhash64(all columns))` as decimal(38,0), which must equal
  * the committed expected fingerprint. An op of `etl_incremental` is one
  * pipeline batch ([[EtlPipeline]]).
  */
object Main {

  val Etl = "etl_incremental"
  /** Timed passes per run, the same on every workload, so every run
    * measures the same ops; `--seconds` only adds passes on a host fast
    * enough to finish them sooner. */
  val Passes = 2

  private val streamKeys = graft.stream.Streaming.queries.keySet
  private val llmKeys = graft.llm.Dedup.queries.keySet ++ graft.llm.Similarity.queries.keySet ++
    graft.llm.Text.queries.keySet ++ graft.llm.Multimodal.queries.keySet ++
    graft.llm.Curation.queries.keySet
  /** The program module a key's implementation lives in. */
  def layerOf(key: String): String =
    if (streamKeys(key)) "stream" else if (llmKeys(key)) "llm" else "ops"

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: String, sf: Double, cpus: Int, heap: String, t0Ms: Long, expected: Option[String],
      plantBad: Option[String], record: Option[String], keys: Seq[String], corpus: String,
      inputsS: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("run-dir"), req("sf").toDouble, req("cpus").toInt, req("heap"), req("t0-ms").toLong,
      m.get("expected"), m.get("plant-bad"), m.get("record"),
      m.getOrElse("keys", "").split(",").filter(_.nonEmpty).toSeq, req("corpus"),
      m.getOrElse("inputs-s", "0").toDouble)
  }

  /** One attempted op. Times are epoch ms. */
  final case class Op(id: Int, pass: Int, key: String, layer: String, traced: Boolean,
      start: Double, buildEnd: Double, end: Double, ok: Boolean, msg: String, rows: Long,
      extra: Map[String, Double]) {
    def wall: Double = (end - start) / 1000
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val mainEntered = System.currentTimeMillis()
    val statStart = HostProbe.procStat()
    val loadStart = loadAvg()

    val t0 = now()
    val spark = Sessions.build(o.cpus.toString, Map(
      "spark.local.dir" -> s"${o.runDir}/spark-local",
      "spark.sql.warehouse.dir" -> s"${o.runDir}/warehouse",
      "spark.sql.session.timeZone" -> "UTC"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (now() - t0) / 1000

    // inputs: run.py generated the corpus (under a scale-factor
    // directory name only this benchmark uses; the program keys its
    // fixtures on that name) and the etl batches; Derby's reference
    // table is seeded here
    val t1 = now()
    val corpus = o.corpus
    val etl = if (o.workload == Etl) Some(new EtlPipeline(spark, s"${o.runDir}/etl", o.cpus)) else None
    etl.foreach(_.setup())
    val inputsS = o.inputsS + (now() - t1) / 1000

    if (o.record.isDefined) { record(spark, o, corpus); spark.stop(); return }

    val expected: Map[String, (Long, String)] = o.expected.map(loadExpected(_, o.sf)).getOrElse(Map.empty)
      .map { case (k, (n, h)) => k -> (if (o.plantBad.contains(k)) (n, (BigInt(h) + 1).toString) else (n, h)) }
    val keys = o.keys
    keys.foreach(k => require(SparkEntry.queries.contains(k), s"unknown key $k"))
    if (etl.isEmpty) keys.foreach(k => require(expected.contains(k),
      s"no expected fingerprint for $k at sf ${o.sf}"))

    // warm-up: one untimed pass builds the program's fixtures, loads
    // classes, compiles code paths and starts the streaming engine. For
    // etl the full load and one CDC batch cover every code path.
    val t2 = now()
    val ids = Iterator.from(1)
    etl match {
      case Some(p) =>
        p.reset(); p.runBatch(0); p.runBatch(1)
      case None =>
        keys.foreach(k => keyedOp(spark, corpus, k, 0, 0, expected, traced = false))
    }
    val warmS = (now() - t2) / 1000

    // timed section: whole passes, each in its own seeded key order;
    // `Passes` of them, and more while --seconds have not passed.
    // A traced run alternates traced and untraced passes, traced first
    // (at least two), so the tracing overhead is measured in the run;
    // the traced pass being the colder one biases it up, never down.
    val tracer = new Tracer
    val ops = mutable.ArrayBuffer[Op]()
    val passWall = mutable.ArrayBuffer[(Boolean, Double)]()
    val passExtra = mutable.ArrayBuffer[Map[String, Double]]()
    val gcBefore = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val timedStart = now()
    var pass = 0
    while (pass < Passes || (now() - timedStart) / 1000 < o.seconds || (o.trace && pass % 2 == 1)) {
      pass += 1
      val traced = o.trace && pass % 2 == 1
      val rng = new Random(o.seed * 1000003L + pass)
      etl.foreach(_.reset())
      if (traced) listen(spark, tracer, on = true)
      val ps = now()
      val passOps = etl match {
        case Some(p) => (0 to p.cdcBatches).map(b => etlOp(spark, p, b, ids.next(), pass, traced))
        case None => rng.shuffle(keys).map(k => keyedOp(spark, corpus, k, ids.next(), pass, expected, traced))
      }
      passWall += traced -> (passOps.last.end - ps) / 1000
      spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
      spark.sparkContext.clearJobGroup()
      etl.foreach { p =>
        val (files, bytes) = p.lakeFiles()
        passExtra += Map("sinks.files_written" -> files.toDouble, "sinks.bytes_written_mb" -> bytes / 1048576.0)
      }
      if (traced) listen(spark, tracer, on = false)
      ops ++= passOps
    }
    val timedS = (now() - timedStart) / 1000
    val gcS = (gcMs() - gcBefore) / 1000.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    // post-run checks of the etl state the last pass left
    val checks: Seq[(String, Option[String])] = etl.map { p =>
      Files.createDirectories(Paths.get(s"${o.runDir}/check"))
      p.check(s"${o.runDir}/check")
    }.getOrElse(Nil)

    val firstOp = ops.head.start
    val setupS = (firstOp - o.t0Ms) / 1000
    val lat = ops.map(_.wall).toSeq
    val (tailQ, tail) = tailOf(ops.toSeq)
    val untracedWalls = passWall.filterNot(_._1).map(_._2).toSeq
    val rssMb = vmHwmMb()
    val failedOps = ops.filterNot(_.ok)
    val failedChecks = checks.filter(_._2.isDefined)
    val attempted = ops.size + checks.size
    val failed = failedOps.size + failedChecks.size

    val e2e = mutable.LinkedHashMap[String, Double](
      "op_p50_s" -> Util.median(lat), "op_tail_s" -> tail, "wall_s" -> Util.median(untracedWalls),
      "setup_s" -> setupS, "fail_frac" -> failed.toDouble / attempted, "peak_rss_mb" -> rssMb)

    // per-layer metrics, per traced pass
    val layer = mutable.LinkedHashMap[String, Double]()
    var traceSpans: Seq[Span] = Nil
    if (o.trace) {
      val tracedOps = ops.filter(_.traced).toSeq
      val nPass = passWall.count(_._1).toDouble
      val opSpans = tracedOps.flatMap { op =>
        Seq(Span("op", op.id, "", op.start, op.end, Map("key" -> op.key, "pass" -> op.pass,
          "ok" -> op.ok, "rows" -> op.rows)),
          Span("build", op.id, "op", op.start, op.buildEnd, Map("layer" -> op.layer)),
          Span("result", op.id, "op", op.buildEnd, op.end))
      }
      val child = tracer.spans(opSpans)
      traceSpans = opSpans ++ child
      layer ++= Layers.metrics(tracedOps, child, nPass, passExtra.toSeq)
      val tracedWalls = passWall.filter(_._1).map(_._2).toSeq
      layer("trace.overhead_s") = Util.median(tracedWalls) - Util.median(untracedWalls)
      layer("jvm.gc_s") = gcS / pass
      layer("jvm.heap_peak_mb") = heapPeakMb
      layer("setup.session_s") = sessionS
      layer("setup.inputs_s") = inputsS
      layer("setup.warm_s") = warmS
      layer("fail_frac") = e2e("fail_frac")
    }

    // host identity, measured after the timed section so the probes do
    // not compete with it
    val statEnd = HostProbe.procStat()
    val steal = stealPct(statStart, statEnd)
    val canary = HostProbe.canaryMin3()
    val canaryPar = parCanary(o.cpus)
    val loadEnd = loadAvg()
    val contendedWhy = Seq(
      Option.when(canary > CanaryBound)(f"canary $canary%.3f s > $CanaryBound"),
      Option.when(steal > StealBound)(f"steal $steal%.1f %% > $StealBound"),
      Option.when(loadStart > o.cpus)(f"loadavg at start $loadStart%.2f > ${o.cpus} cpus")).flatten
    if (contendedWhy.nonEmpty)
      System.err.println(s"[perfbench] CONTENDED HOST: ${contendedWhy.mkString("; ")}")

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "sf" -> o.sf, "cpus" -> o.cpus, "heap" -> o.heap,
      "trace" -> o.trace, "passes" -> pass, "pass_wall_s" -> passWall.map(_._2), "timed_s" -> timedS,
      "ops" -> ops.size,
      "attempted" -> attempted, "failed" -> failed,
      "op_tail_quantile" -> tailQ, "op_tail_samples" -> lat.size,
      "setup" -> Map("jvm_start_s" -> (mainEntered - o.t0Ms) / 1000.0, "session_s" -> sessionS,
        "inputs_s" -> inputsS, "warm_s" -> warmS),
      "host" -> mutable.LinkedHashMap[String, Any](
        "canary_s" -> canary, "canary_par_s" -> canaryPar, "steal_pct" -> steal,
        "boot_epoch" -> HostProbe.bootEpoch(), "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "contended" -> contendedWhy.nonEmpty, "contended_why" -> contendedWhy),
      "end_to_end" -> e2e, "per_layer" -> layer,
      "failures" -> (failedOps.map(f => Map("key" -> f.key, "op" -> f.id, "message" -> f.msg)) ++
        failedChecks.map { case (c, m) => Map("check" -> c, "message" -> m.get) }),
      "checks" -> checks.map(_._1),
      "per_key_p50_s" -> ops.groupBy(_.key).map { case (k, v) => k -> Util.median(v.map(_.wall).toSeq) })
    Files.writeString(Paths.get(s"${o.runDir}/result.json"), Util.json(rec))
    if (o.trace) {
      val lines = traceSpans.sortBy(s => (s.start, s.name)).map { s =>
        Util.json(mutable.LinkedHashMap[String, Any]("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
          "start_ms" -> s.start, "end_ms" -> s.end, "dur_s" -> s.dur) ++ s.attrs)
      } :+ Util.json(Map("summary" -> Layers.summary(ops.filter(_.traced).toSeq, traceSpans, layer)))
      Files.writeString(Paths.get(s"${o.runDir}/trace.jsonl"), lines.mkString("", "\n", "\n"))
    }
    // everything the run wrote lives in its run directory, which the
    // next run deletes, so the JVM ends without the orderly Spark and
    // Derby shutdown (about a second per run)
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** `HostProbe.canaryPar` with one timed rep per thread instead of a
    * min of three: the serial canary just ran, so the code is warm. */
  private def parCanary(n: Int): Double = {
    val times = new Array[Double](n)
    val ts = (0 until n).map(i => new Thread(() => { times(i) = HostProbe.canaryRep() }))
    ts.foreach(_.start()); ts.foreach(_.join())
    times.max
  }

  val CanaryBound = 0.30
  val StealBound = 10.0

  /** The highest percentile with at least ten samples beyond it, as
    * (quantile, value). Below 40 samples that percentile would be under
    * p75; the tail is then the slowest key's median latency, reported
    * as quantile 1.0. */
  def tailOf(ops: Seq[Op]): (Double, Double) = {
    val n = ops.size
    if (n < 40) (1.0, ops.groupBy(_.key).values.map(v => Util.median(v.map(_.wall))).max)
    else {
      val q = math.floor(100.0 * (n - 10) / n) / 100
      (q, Util.quantile(ops.map(_.wall), q))
    }
  }

  private def listen(spark: SparkSession, t: Tracer, on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.qeListener)
      spark.streams.addListener(t.streamListener)
    } else {
      // let queued events reach the listeners before they are removed
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(t.sparkListener)
      spark.listenerManager.unregister(t.qeListener)
      spark.streams.removeListener(t.streamListener)
    }

  private def tag(spark: SparkSession, id: Int, what: String): Unit = {
    spark.sparkContext.setLocalProperty(Tracer.OpProp, id.toString)
    spark.sparkContext.setJobGroup(s"perfbench-op-$id", what)
  }

  /** Fingerprint columns: row count and the exact sum of row hashes. */
  def fingerprintCols(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(df.col).toIndexedSeq: _*).cast(DecimalType(38, 0))).as("h"))

  private def keyedOp(spark: SparkSession, dir: String, key: String, id: Int, pass: Int,
      expected: Map[String, (Long, String)], traced: Boolean): Op = {
    tag(spark, id, key)
    val start = now()
    var buildEnd = start
    try {
      val df = SparkEntry.queries(key)(spark, dir)
      buildEnd = now()
      val obs = Observation(Util.uniq("fp"))
      val fp = fingerprintCols(df)
      df.observe(obs, fp.head, fp.tail: _*).write.format("noop").mode("overwrite").save()
      val end = now()
      val r = obs.get
      val n = r("n").asInstanceOf[Long]
      val h = Option(r("h")).map(_.toString).getOrElse("0")
      val msg = expected.get(key) match {
        case Some((en, eh)) if en == n && eh == h => ""
        case Some((en, eh)) => s"fingerprint ($n, $h) != expected ($en, $eh)"
        case None => "no expected fingerprint"
      }
      Op(id, pass, key, layerOf(key), traced, start, buildEnd, end, msg.isEmpty, msg, n, Map.empty)
    } catch {
      case e: Throwable =>
        Op(id, pass, key, layerOf(key), traced, start, buildEnd, now(), ok = false,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(400)}", 0, Map.empty)
    }
  }

  private def etlOp(spark: SparkSession, p: EtlPipeline, b: Int, id: Int, pass: Int,
      traced: Boolean): Op = {
    tag(spark, id, s"etl batch $b")
    val start = now()
    val key = if (b == 0) "full_load" else s"cdc_batch_$b"
    try {
      p.runBatch(b)
      val end = now()
      Op(id, pass, key, "etl", traced, start, end, end, ok = true, "",
        p.m.getOrElse("etl.rows_out", 0.0).toLong, p.m.toMap)
    } catch {
      case e: Throwable =>
        Op(id, pass, key, "etl", traced, start, now(), now(), ok = false,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(400)}", 0, p.m.toMap)
    }
  }

  /** Record mode: one fingerprint per key of every keyed workload. */
  private def record(spark: SparkSession, o: Opts, corpus: String): Unit = {
    val out = o.keys.sorted.map { k =>
      val df = SparkEntry.queries(k)(spark, corpus)
      val fp = fingerprintCols(df)
      val r = df.agg(fp.head, fp.tail: _*).head()
      System.err.println(s"[perfbench] recorded $k")
      k -> Map("rows" -> r.getLong(0), "hash" -> Option(r.get(1)).map(_.toString).getOrElse("0"))
    }
    Files.writeString(Paths.get(o.record.get), Util.json(mutable.LinkedHashMap(out: _*)))
  }

  /** `{"<sf>": {"<key>": {"rows": n, "hash": "h"}}}` → this sf's map. */
  private def loadExpected(path: String, sf: Double): Map[String, (Long, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val all = JsonMethods.parse(Files.readString(Paths.get(path)))
    (all \ sf.toString) match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> ((v \ "rows").asInstanceOf[JInt].num.toLong, (v \ "hash").asInstanceOf[JString].s)
      }.toMap
      case _ => Map.empty
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def vmHwmMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  } catch { case _: Throwable => Double.NaN }

  private def loadAvg(): Double = try {
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
  } catch { case _: Throwable => -1.0 }

  private def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) -1.0
    else {
      val total = b.zip(a).take(8).map { case (x, y) => x - y }.sum
      if (total <= 0) 0.0 else 100.0 * (b(7) - a(7)) / total
    }
}
