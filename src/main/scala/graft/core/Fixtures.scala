package graft.core

/** Per-scale-factor scratch dirs for fixture round-trips (CSV/JSON/ORC
  * rewrites, streaming sources, partitioned layouts) — the sandbox's
  * only in-repo write target. One definition so the location/derivation
  * can never drift between call sites, and one build-once call
  * ([[once]]) for every fixture that is a pure function of its source
  * tables. */
object Fixtures {
  def path(sfDir: String, name: String): String = {
    val sf = new java.io.File(sfDir).getName
    s"/root/repo/target/fixtures/$sf/$name"
  }

  /** Fingerprint of a source table's files (file name + length +
    * mtime, order-independent fold), hex-encoded. A table regenerated
    * or rewritten in place has new mtimes, so everything keyed by this
    * (the [[once]] fixtures, per-table metadata memos) sees a new key
    * and never serves state built from the old files. */
  def corpusFingerprint(sfDir: String, table: String): String = {
    val root = {
      val d = new java.io.File(sfDir, table + ".parquet")
      if (d.exists()) d else new java.io.File(sfDir, table)
    }
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    // order-independent (sum of per-file hashes): listFiles order is
    // filesystem-dependent and must not change the key
    val h = walk(root).map { f =>
      var x = 1125899906842597L // prime seed
      (f.getName + "|" + f.length + "|" + f.lastModified).foreach { c =>
        x = x * 31 + c
      }
      x
    }.sum
    java.lang.Long.toHexString(h)
  }

  /** Fixture roots already swept by [[once]] in this JVM. */
  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The build-once fixture `name` over the tables `sources` of
    * `sfDir`, returning its published path.
    *
    * The fixture is named `name` plus the [[corpusFingerprint]] of
    * each source, so a source rewritten in place maps to a new fixture
    * and a rebuild, never to a stale one. `build` writes into a staging
    * dir named by [[runName]]; it is published by one rename (same
    * filesystem → atomic), with a `_SUCCESS` marker at its root, so the
    * published path exists only when the whole build, however many
    * jobs it ran, is complete. A crashed build leaves nothing visible
    * and its staging dir is deleted; a killed one leaves its staging
    * dir to the next JVM's sweep of the fixture root (the first call
    * per root runs [[sweepDeadRuns]] there). Safe under concurrent
    * builds: each stages under its own name, and a rename that loses
    * to a fixture another process published first is a win. */
  def once(sfDir: String, name: String, sources: String*)(build: String => Unit): String = {
    val fin = new java.io.File(
      path(sfDir, (name +: sources.map(corpusFingerprint(sfDir, _))).mkString("_")))
    if (fin.isDirectory) return fin.getPath
    val root = fin.getParentFile
    root.mkdirs()
    if (swept.add(root.getPath)) sweepDeadRuns(root)
    val tmp = new java.io.File(root, runName(fin.getName + ".build"))
    try {
      build(tmp.getPath)
      require(tmp.isDirectory, s"fixture build wrote nothing: $tmp")
      new java.io.File(tmp, "_SUCCESS").createNewFile()
      if (!tmp.renameTo(fin) && !fin.isDirectory)
        throw new IllegalStateException(s"fixture rename failed: $tmp -> $fin")
    } finally rmTree(tmp)
    fin.getPath
  }

  private val ctr = new java.util.concurrent.atomic.AtomicLong()

  /** A name no other run uses, in this JVM or an earlier one: fixture
    * staging dirs, streaming result tables and scratch checkpoints are
    * named with it. It carries the owner's PID, so [[sweepDeadRuns]]
    * can tell a killed run's leftovers from a live run's. */
  def runName(prefix: String): String =
    s"${prefix}_p${ProcessHandle.current().pid()}_${ctr.incrementAndGet()}_${System.nanoTime()}"

  private val RunOwner = raw".+_p(\d+)_\d+_\d+".r

  /** Delete the children of `base` named by a [[runName]] whose owning
    * process is no longer alive: the staging dirs and scratch
    * checkpoints of runs killed before their cleanup. Children of live
    * processes, and children not named by [[runName]], stay. */
  def sweepDeadRuns(base: java.io.File): Unit =
    Option(base.listFiles()).toSeq.flatten.foreach { f =>
      f.getName match {
        case RunOwner(pid) if !ProcessHandle.of(pid.toLong).filter(_.isAlive).isPresent =>
          rmTree(f)
        case _ =>
      }
    }

  /** Delete a file or directory tree; a missing path is a no-op. */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }
}
