package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scratch preflight's decision logic against synthetic disk
  * states (the real sf100 shortfall can't be reproduced in CI, so the
  * pure `warning` function is the tested surface — `check` only wires
  * it to a footer count and `getUsableSpace`). */
class PreflightSpec extends AnyFunSuite {

  test("scratch preflight fires on synthetic low disk, silent with headroom") {
    // the sf100 corpus (5M docs) must estimate in the ballpark of the
    // measured ~68 GB containment-verify peak — calibration drift law
    val est = core.ScratchPreflight.estimateBytes(5000000L)
    assert(est > 60L * 1000 * 1000 * 1000 && est < 90L * 1000 * 1000 * 1000,
      s"calibration drifted from the measured sf100 peak: $est bytes")
    // 10 GB free against a ~73 GB estimate → warn, and the warning
    // names the remedy
    val w = core.ScratchPreflight.warning(est, 10L << 30, Seq("/tmp"))
    assert(w.nonEmpty, "low-disk simulation must fire the preflight")
    assert(w.get.contains("SPARK_LOCAL_DIRS"), "warning must name the remedy")
    // 200 GB free → silent
    assert(core.ScratchPreflight.warning(est, 200L << 30, Seq("/tmp")).isEmpty)
    // end-to-end on the test corpus: a 500-doc estimate is KBs — the
    // real check must pass on any machine that can run the suite
    assert(core.ScratchPreflight.check(TestSpark.spark, TestSpark.Sf).isEmpty,
      "test-scale preflight must be silent")
  }

  test("free space dedupes by volume, not by path string (r10 advisor)") {
    // two dirs on ONE filesystem must not double-count the volume's
    // free bytes — SPARK_LOCAL_DIRS=/tmp/a,/tmp/b was silencing the
    // preflight exactly in the multi-dir config its warning recommends
    val base = java.nio.file.Files.createTempDirectory("graft_pf_").toFile
    try {
      val a = new java.io.File(base, "a"); a.mkdirs()
      val b = new java.io.File(base, "b"); b.mkdirs()
      val one = core.ScratchPreflight.usableAcross(Seq(a.getPath))
      val two = core.ScratchPreflight.usableAcross(Seq(a.getPath, b.getPath))
      // same volume: adding a second dir adds ~nothing (tolerance for
      // concurrent disk churn between the two measurements)
      assert(two < one * 1.05 + (1L << 26),
        s"same-volume dirs double-counted: one=$one two=$two")
      // a missing dir contributes nothing rather than throwing
      assert(core.ScratchPreflight.usableAcross(
        Seq(a.getPath, new java.io.File(base, "nope").getPath)) == two ||
        math.abs(core.ScratchPreflight.usableAcross(
          Seq(a.getPath, new java.io.File(base, "nope").getPath)) - two) < (1L << 26))
    } finally core.Fixtures.rmTree(base)
  }
}
