package graft.core

/** Host-identity probes shared by the artifact-emitting main
  * (Bench) and by the perfbench harness: a fixed-work
  * single-thread CPU canary, its parallel variant, and the VM boot
  * epoch. One definition, called directly, so the cross-VM
  * comparability rule — compare absolute numbers only within a
  * `boot_epoch`, normalize by canary — is uniform across artifacts.
  *
  * Fixed-work CPU canary: sorting the same 2M
  * xorshift-filled longs is pure single-thread CPU with zero Spark
  * involvement, so every artifact carries its own normalizer — a
  * uniform query slowdown at an UNCHANGED canary is code; at an
  * inflated canary it's machine drift. Warmup rep first (JIT), then
  * min of 3. */
object HostProbe {
  def canaryRep(): Double = {
    val a = new Array[Long](2000000)
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1
    }
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }

  def canaryMin3(): Double = { canaryRep(); (1 to 3).map(_ => canaryRep()).min }

  /** Parallel canary: `n` concurrent copies of the same fixed
    * work, reported as the WALL time of the slowest thread's min-of-3.
    * A single-thread probe cannot see host-level effects that only
    * bind under concurrency (scheduler placement, SMT siblings,
    * cache/memory-bus sharing) — two same-day VM instances measured
    * indistinguishable solo canaries at ~1.5× different Spark
    * throughput. */
  def canaryPar(n: Int): Double = {
    val times = new Array[Double](n)
    val ts = (0 until n).map { i =>
      new Thread(() => { times(i) = canaryMin3() })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    times.max
  }

  /** First line of /proc/stat as longs (cpu aggregate counters). */
  def procStat(): Array[Long] = try {
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
  } catch { case _: Throwable => Array.empty[Long] }

  /** VM boot epoch (seconds). Two artifacts with different boot epochs
    * are different VM instances — absolute totals not comparable even
    * at identical canaries (~1.5× Spark drift measured across
    * same-spec instances, all probes clean). */
  def bootEpoch(): Long = try {
    val up = java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/uptime"))
      .split(" ")(0).toDouble
    System.currentTimeMillis() / 1000 - up.toLong
  } catch { case _: Throwable => -1L }
}
