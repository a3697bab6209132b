package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two inputs every main reads the same way: its key list
  * ([[SparkEntry.select]]) and its task slots ([[core.Sessions.cpusFrom]]).
  * Both are outside input, so a bad value must fail the run up front and
  * say which value was bad. */
class MainsSpec extends AnyFunSuite {

  test("an empty key list selects every key, sorted") {
    val all = SparkEntry.select(Nil)
    assert(all.size === 245)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a known key selects that key alone") {
    assert(SparkEntry.select(Seq("agg_hash")) === Seq("agg_hash"))
  }

  test("an unknown key fails the selection and names the key") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("agg_hsh")))
    assert(e.getMessage.contains("agg_hsh"))
    val mixed = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("agg_hash", "agg_hsh")))
    assert(mixed.getMessage.endsWith("unknown query key(s): agg_hsh"))
  }

  test("cpus: unset means the host's processors, a positive integer is taken as is") {
    assert(core.Sessions.cpusFrom(None) === Runtime.getRuntime.availableProcessors)
    assert(core.Sessions.cpusFrom(Some("6")) === 6)
  }

  test("cpus: zero, negative, non-numeric and empty values fail and name the knob") {
    for (bad <- Seq("0", "-1", "x", "")) {
      val e = intercept[IllegalArgumentException](core.Sessions.cpusFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$bad': ${e.getMessage}")
    }
  }
}
