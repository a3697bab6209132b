package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The two inputs every main reads the same way: its key list
  * ([[SparkEntry.select]]) and its task slots ([[core.Sessions.cpusFrom]]).
  * Both are outside input, so a bad value must fail the run up front and
  * say which value was bad. The env knobs the program reads at all are
  * pinned here too. */
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

  private lazy val sourceFiles = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala")))(
    _.iterator.asScala.filter(_.toString.endsWith(".scala")).map(p => p -> Files.readString(p)).toList)
  private lazy val sources = sourceFiles.map(_._2)

  test("the program reads exactly the four SPARK_GRAFT_* knobs that README documents") {
    // a new knob must be added here and to README on purpose; a
    // Spark behaviour belongs in its spark.* conf instead
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    assert(sources.nonEmpty)
    val used = sources.flatMap(knob.findAllIn(_)).toSet
    val documented = Set("CPUS", "SF_DIR", "BENCH_OUT", "STREAM_CKPT").map("SPARK_GRAFT_" + _)
    assert(used === documented)
    val readme = Files.readString(Paths.get("README.md"))
    val undocumented = documented.filterNot(readme.contains)
    assert(undocumented.isEmpty, s"README does not document $undocumented")
  }

  test("no file under src/main/scala/graft/llm or graft/etl holds a round-history tag") {
    // a comment keeps its reason and measurement; which round of work
    // wrote it is the commit history's record, not the code's
    val dirs = Seq("llm", "etl").map(d => Paths.get(s"src/main/scala/graft/$d"))
    val pinned = sourceFiles.filter { case (p, _) => dirs.exists(p.startsWith) }
    assert(dirs.forall(d => pinned.exists(_._1.startsWith(d))))
    val tag = raw"\br[0-9]+\b".r
    val tagged = pinned.flatMap { case (p, src) =>
      tag.findAllIn(src).map(t => s"${p.getFileName}: $t") }
    assert(tagged.isEmpty, s"round-history tags: ${tagged.mkString(", ")}")
  }

  test("no scaladoc in src/main directly follows another") {
    // a doc stacked on the next one documents nothing: the definition
    // it was written for has no scaladoc of its own
    val stacked = sourceFiles.flatMap { case (p, src) =>
      src.split("\n").toSeq.zipWithIndex.sliding(2).collect {
        case Seq((a, i), (b, _)) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"${p.getFileName}:${i + 2}"
      }
    }
    assert(sourceFiles.nonEmpty)
    assert(stacked.isEmpty, s"stacked scaladocs: ${stacked.mkString(", ")}")
  }

  test("the program has exactly the four mains that README's Run section lists") {
    // a fifth main must be added here and to README on purpose; a
    // measurement belongs in a test or in Bench's record instead
    val mains = sources.flatMap { src =>
      val at = src.indexOf("def main(")
      if (at < 0) None
      else raw"object (\w+)".r.findAllMatchIn(src.take(at)).map(_.group(1)).toSeq.lastOption
    }.toSet
    val expected = Set("Bench", "Verify", "PlanDump", "ScaleUp")
    assert(mains === expected)
    val readme = Files.readString(Paths.get("README.md"))
    val run = readme.split("\n## ").find(_.startsWith("Run"))
      .getOrElse(fail("README has no Run section"))
    assert(raw"runMain graft\.(\w+)".r.findAllMatchIn(run).map(_.group(1)).toSet === expected)
  }
}
