package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional where
  * the source has nanosecond resolution). `op` is the op the span
  * belongs to; `parent` names the enclosing span ("op", "build",
  * "result", or a job/stage id). */
final case class Span(name: String, op: Int, parent: String, start: Double, end: Double,
    attrs: Map[String, Any] = Map.empty) {
  def dur: Double = (end - start) / 1000.0
}

/** Task-level counters summed per stage. */
final class StageAgg {
  var tasks = 0L; var failures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
  var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L; var inBytes = 0L; var inRows = 0L
}

/** Listeners the traced run registers: a SparkListener for jobs, stages
  * and tasks, a QueryExecutionListener for the planning phases of each
  * executed query, and a StreamingQueryListener for micro-batches.
  * Events arrive on Spark's listener bus, so they are only queued here
  * and tied to ops afterwards by their timestamps ([[Tracer.spans]]). */
final class Tracer {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
      prop: Option[String], var ok: Boolean)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Batch(runId: String, batchId: Long, start: Long, durMs: Map[String, Long],
      inputRows: Long, stateRows: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageAggs = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProp)))
      jobs.put(e.jobId, Job(e.jobId, e.time, e.time, e.stageIds, prop, ok = true))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageTimes.put(i.stageId, (s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) a.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillMem += m.memoryBytesSpilled; a.spillDisk += m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) => phases.add(Phase(name, p.startTimeMs, p.endTimeMs)) }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val state = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
      batches.add(Batch(p.runId.toString, p.batchId, start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, state))
    }
  }

  /** Spans of the Spark jobs, stages, planning phases and micro-batches.
    * A job belongs to the op id the harness set as a local property on
    * the thread that submitted it, or else to the op whose [start, end]
    * interval holds its start; the other spans go by their start time. */
  def spans(ops: Seq[Span]): Seq[Span] = {
    def opAt(t: Double): Option[Span] = ops.find(o => t >= o.start - 1 && t <= o.end + 1)
    val out = mutable.ArrayBuffer[Span]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val owner = j.prop.map(_.toInt).orElse(opAt(j.start.toDouble).map(_.op)).getOrElse(-1)
      val sub = ops.find(o => o.op == owner && o.name != "op" && j.start >= o.start - 1 && j.start <= o.end + 1)
      out += Span(s"job", owner, sub.map(_.name).getOrElse("op"), j.start, j.end,
        Map("job_id" -> j.id, "ok" -> j.ok, "stages" -> j.stages.size))
      j.stages.foreach { sid =>
        Option(stageTimes.get(sid)).foreach { case (s, c) =>
          val a = Option(stageAggs.get(sid)).getOrElse(new StageAgg)
          out += Span("stage", owner, s"job:${j.id}", s, c, Map(
            "stage_id" -> sid, "tasks" -> a.tasks, "task_failures" -> a.failures,
            "run_s" -> a.runMs / 1000.0, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1000.0,
            "peak_mem_mb" -> a.peakMem / 1048576.0,
            "shuffle_write_mb" -> a.shWrite / 1048576.0, "shuffle_read_mb" -> a.shRead / 1048576.0,
            "fetch_wait_s" -> a.fetchWaitMs / 1000.0,
            "spill_mem_mb" -> a.spillMem / 1048576.0, "spill_disk_mb" -> a.spillDisk / 1048576.0,
            "input_mb" -> a.inBytes / 1048576.0, "input_rows" -> a.inRows))
        }
      }
    }
    // planning phases of the query whose execution is the op's result
    // call; phases of queries run inside the build call stay in build
    phases.asScala.foreach { p =>
      ops.find(o => o.name == "result" && p.start >= o.start - 1 && p.end <= o.end + 1).foreach { r =>
        out += Span(s"plan.${p.name}", r.op, "result", p.start, p.end)
      }
    }
    batches.asScala.foreach { b =>
      val end = b.start + b.durMs.getOrElse("triggerExecution", 0L)
      val owner = opAt(b.start.toDouble).map(_.op).getOrElse(-1)
      out += Span("batch", owner, "build", b.start, end,
        Map("run_id" -> b.runId, "batch_id" -> b.batchId, "input_rows" -> b.inputRows,
          "state_rows" -> b.stateRows) ++ b.durMs.map { case (k, v) => s"${k}_ms" -> v })
    }
    out.toSeq
  }
}

object Tracer {
  /** Local property carrying the op id into every job an op submits. */
  val OpProp = "perfbench.op"
}
