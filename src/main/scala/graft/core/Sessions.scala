package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** One construction path for every shipped main's SparkSession
  * (Verify / Bench / PlanDump / ScaleUp):
  * local[cpus], cpus shuffle partitions, UI off, and
  * [[graft.plans.GraftExtensions]] wired, so the ScanGuard plan lints
  * police every driver-gate and bench run at runtime, not only in the
  * PlanSpec/ExtensionSpec sweeps. The post-construction `require`
  * turns a silently-dropped extension conf (builder drift, a main that
  * stopped using this path) into a loud failure of the run itself; a
  * typo'd class name already fails session construction inside Spark.
  *
  * The local filesystem is replaced ([[LocalFsConf]]). Without
  * `libhadoop`, which the Apache Spark distribution does not ship,
  * Hadoop's stock one forks a `chmod` process for every file and
  * directory it creates and a `readlink` for every link-status lookup.
  * One `stream_micro` benchmark run started 1565 processes that way,
  * one `etl_incremental` run 306; with [[NioLocalFileSystem]] and
  * [[NioLocalFs]] they start 7 and 2 (BASELINE.md). */
object Sessions {
  val ExtensionsClass = "graft.plans.GraftExtensions"

  /** The Hadoop confs that put `file:` paths on [[NioLocalFileSystem]]
    * (`FileSystem` users: parquet, the commit protocol) and
    * [[NioLocalFs]] (`FileContext` users: streaming checkpoints). The
    * test session takes them from here too. */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** The one env knob for the session's task slots. */
  val CpusEnv = "SPARK_GRAFT_CPUS"

  /** Task slots from the [[CpusEnv]] value: the host's processors when
    * unset, else a positive integer. Anything else fails here, naming
    * the knob, instead of deep inside Spark's master-URL parsing. */
  def cpusFrom(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$CpusEnv must be a positive integer, got '$v'"))
  }

  def envCpus: Int = cpusFrom(sys.env.get(CpusEnv))

  /** Run `body` with each of `confs` set on the session, then put each
    * back as it was, also when `body` throws: its previous value if the
    * session had one set, unset if not. "Set" is what the session holds
    * (`getAll`), not a registered default, so a provider or mode that a
    * deployment chose session-wide survives and an unset key stays
    * unset. Confs a query captures at start (shuffle partitions, the
    * state-store provider) make this a per-query override. */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val held = spark.conf.getAll
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally confs.foreach { case (k, _) =>
      held.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  def build(cpus: String = envCpus.toString,
      extra: Map[String, String] = Map.empty): SparkSession = {
    // local[n, 4]: FOUR task attempts instead of local mode's
    // fail-fast single attempt. A contended box can fail one task
    // transiently (GC stall, fetch hiccup) — with maxFailures=1 that
    // killed the whole query (a bench run once lost graph_pagerank to
    // one STAGE_MATERIALIZATION failure); retries cost nothing when no
    // task fails, and the query paths are deterministic and
    // side-effect-free per task, so a re-run is always safe. The ONE
    // exception to "side-effect-free": JDBC loads (JdbcSink.write,
    // sink_jdbc_upsert's staging INSERT) commit a transaction per
    // task, so a task that commits and then fails to REPORT would
    // duplicate rows on retry. In local mode the commit and the report
    // are the same in-process thread (no network between them), which
    // is why the shipped gates tolerate it; a real-cluster deployment
    // of the JDBC sink should truncate-and-reload per attempt or
    // stage + MERGE (the upsert path already is a stage + MERGE).
    val b = SparkSession.builder()
      .master(s"local[$cpus,4]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", ExtensionsClass)
      // reliable lineage cuts (Lineage.cut with a checkpoint dir set)
      // would otherwise accumulate one rdd-N dir per cut per round,
      // unbounded over a long-running deployment — let the
      // ContextCleaner delete checkpoint files once their RDD is GC'd
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // file listing: above this many paths Spark launches a whole JOB
      // to list leaf files in parallel. The default 32 means every read of a cid-partitioned index fixture
      // (64 cells) or a 64-file compaction layout pays a 64-task
      // listing job (~0.2 s each, measured per job) where a
      // driver-side listing of ≤128 local/HDFS dirs is milliseconds.
      // 128 keeps the parallel path for genuinely wide tables
      // (thousands of partitions) on any deployment size — the
      // threshold is about path COUNT, not cluster size.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.ui.enabled", "false")
    LocalFsConf.foreach { case (k, v) => b.config(k, v) }
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    require(s.conf.get("spark.sql.extensions", "") == ExtensionsClass,
      s"GraftExtensions not wired into this session (spark.sql.extensions mismatch)")
    System.err.println(
      s"[graft] ScanGuard extensions active (spark.sql.extensions=$ExtensionsClass)")
    s.sparkContext.setLogLevel("WARN")
    // the cleaner deletes a cut's files only once its RDD is GC'd, so
    // the last cuts and the context's own <uuid> checkpoint dir outlive
    // the run; delete that dir when the application ends, or every run
    // leaves a tree in a long-lived spark.checkpoint.dir
    val sc = s.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
        sc.getCheckpointDir.map(new Path(_)).foreach { p =>
          p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
        }
    })
    s
  }
}
