package graft

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import scala.jdk.CollectionConverters._

/** Counts the child processes Hadoop's `org.apache.hadoop.util.Shell`
  * starts while `body` runs, from an in-process JFR recording of
  * `jdk.ProcessStart` with stack traces. A spec pins "no forks on this
  * path" with `assert(ShellForks.during(...)._2 == 0)`. */
object ShellForks {
  private val ShellClass = "org.apache.hadoop.util.Shell"

  /** `body`'s result and the number of processes started from `Shell`. */
  def during[A](body: => A): (A, Int) = {
    val out = Files.createTempFile("graft_forks", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val a = try body finally rec.stop()
      rec.dump(out)
      val n = RecordingFile.readAllEvents(out).asScala.count { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName == ShellClass))
      }
      (a, n)
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }
}
