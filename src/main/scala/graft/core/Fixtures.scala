package graft.core

/** Per-scale-factor scratch dirs for fixture round-trips (CSV/JSON/ORC
  * rewrites, streaming sources, partitioned layouts) — the sandbox's
  * only in-repo write target. One definition so the location/derivation
  * can never drift between call sites. */
object Fixtures {
  def path(sfDir: String, name: String): String = {
    val sf = new java.io.File(sfDir).getName
    s"/root/repo/target/fixtures/$sf/$name"
  }

  /** True if the fixture was already written by a successful job. */
  def exists(sfDir: String, name: String): Boolean =
    new java.io.File(path(sfDir, name), "_SUCCESS").exists()

  /** Fingerprint of a source table's files (relative path + length +
    * mtime, order-independent fold), hex-encoded. Build-once fixtures
    * that are pure functions of a CORPUS key their name with this
    * (r12, per advisor): regenerating `data/sf*` previously served a
    * stale zoned layout silently, because the fixture was keyed only
    * by the sf directory NAME. A regenerated corpus has new mtimes →
    * a new fixture name → a rebuild; the stale directory becomes
    * inert scratch under target/, cleaned by `sbt clean`. */
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

  /** Name of a build-once fixture that is a pure function of one corpus
    * table: `name` suffixed with that table's [[corpusFingerprint]], so
    * a source rewritten in place maps to a new fixture and a rebuild. */
  def corpusKeyed(sfDir: String, name: String, table: String): String =
    s"${name}_${corpusFingerprint(sfDir, table)}"

  /** Delete a file or directory tree; a missing path is a no-op. */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Build a MULTI-JOB fixture atomically. `_SUCCESS` is written by
    * the FIRST append job, so a crash between phases of a multi-phase
    * build would leave a partial directory that [[exists]] calls
    * complete — silently corrupting every later run (e.g. a 2-of-3
    * phase late-data source changes watermark semantics). The body
    * writes into a `<name>.build` sibling; only after it returns is
    * the directory renamed into place (same filesystem → atomic).
    * Stale partials from a previous crash are deleted first. No-op if
    * the fixture is already complete.
    *
    * Safe under concurrent builds: the staging dir is per-process
    * unique (`<name>.build.<pid>`), so two JVMs building the same
    * fixture never touch each other's staging; each process only ever
    * deletes its OWN stale staging dir and an incomplete (no
    * `_SUCCESS`) final dir. A failed rename re-checks [[exists]]: if
    * another process published a complete fixture first, that's a
    * win, not an error (stale `.build.<pid>` dirs from crashed builds
    * are inert scratch under target/, cleaned by the next same-pid run
    * or `sbt clean`). */
  def buildAtomic(sfDir: String, name: String)(body: String => Unit): Unit = {
    if (exists(sfDir, name)) return
    val fin = new java.io.File(path(sfDir, name))
    val pid = ProcessHandle.current().pid()
    val tmp = new java.io.File(fin.getParentFile, s"${fin.getName}.build.$pid")
    rmTree(tmp)
    rmTree(fin) // a final dir without _SUCCESS is itself a crashed partial
    tmp.getParentFile.mkdirs()
    body(tmp.getPath)
    if (!tmp.renameTo(fin)) {
      if (exists(sfDir, name)) { rmTree(tmp); return } // someone else won
      throw new IllegalStateException(s"fixture rename failed: $tmp -> $fin")
    }
  }
}
