package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, each summed over the traced
  * passes and divided by their number (so a figure is "per pass"),
  * except maxima and the final dimension size. */
object Layers {

  /** Length of the union of intervals, clipped to [lo, hi], in seconds. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total / 1000
  }

  private def attr(s: Span, k: String): Double = s.attrs.get(k) match {
    case Some(n: java.lang.Number) => n.doubleValue
    case Some(n: Int) => n.toDouble
    case Some(n: Long) => n.toDouble
    case Some(n: Double) => n
    case _ => 0.0
  }

  def metrics(ops: Seq[Main.Op], child: Seq[Span], nPass: Double,
      passExtra: Seq[Map[String, Double]]): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def per(x: Double) = if (nPass > 0) x / nPass else 0.0
    val keyed = ops.filter(_.layer != "etl")
    Seq("ops", "llm", "stream").foreach { l =>
      m(s"$l.build_s") = per(keyed.filter(_.layer == l).map(o => (o.buildEnd - o.start) / 1000).sum)
    }
    val plans = child.filter(_.name.startsWith("plan."))
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"plans.${p}_s") = per(plans.filter(_.name == s"plan.$p").map(_.dur).sum)
    }
    val jobs = child.filter(_.name == "job")
    val stages = child.filter(_.name == "stage")
    m("sched.jobs") = per(jobs.size)
    m("sched.stages") = per(stages.size)
    m("sched.tasks") = per(stages.map(attr(_, "tasks")).sum)
    m("sched.driver_gap_s") = per(ops.map { o =>
      o.wall - covered(jobs.filter(_.op == o.id).map(j => (j.start, j.end)), o.start, o.end)
    }.sum)
    m("sched.task_failures") = per(stages.map(attr(_, "task_failures")).sum)
    // the result call's own execution: its Spark jobs; what the result
    // call spends outside its plan phases and jobs is the residual
    val split = ops.map(o => opSplit(o, plans, jobs))
    m("exec.result_s") = per(split.map(_._3).sum)
    m("trace.residual_s") = per(split.map(_._4).sum)
    m("exec.run_s") = per(stages.map(attr(_, "run_s")).sum)
    m("exec.cpu_s") = per(stages.map(attr(_, "cpu_s")).sum)
    m("exec.gc_s") = per(stages.map(attr(_, "gc_s")).sum)
    m("exec.peak_mem_mb") = (0.0 +: stages.map(attr(_, "peak_mem_mb"))).max
    m("shuffle.write_mb") = per(stages.map(attr(_, "shuffle_write_mb")).sum)
    m("shuffle.read_mb") = per(stages.map(attr(_, "shuffle_read_mb")).sum)
    m("shuffle.fetch_wait_s") = per(stages.map(attr(_, "fetch_wait_s")).sum)
    m("spill.mem_mb") = per(stages.map(attr(_, "spill_mem_mb")).sum)
    m("spill.disk_mb") = per(stages.map(attr(_, "spill_disk_mb")).sum)
    m("scan.input_mb") = per(stages.map(attr(_, "input_mb")).sum)
    val inRows = stages.map(attr(_, "input_rows")).sum
    m("scan.input_rows") = per(inRows)
    val outRows = ops.map(_.rows).sum.toDouble
    m("scan.rows_per_result_row") = if (outRows > 0) inRows / outRows else 0.0
    def extra(k: String) = per(ops.map(_.extra.getOrElse(k, 0.0)).sum)
    Seq("etl.dq_s", "etl.scd2_s", "etl.scd1_s", "etl.rows_in", "etl.rows_out", "etl.rows_rejected")
      .foreach(k => m(k) = extra(k))
    m("etl.dim_rows") = (0.0 +: ops.map(_.extra.getOrElse("etl.dim_rows", 0.0))).max
    Seq("sinks.jdbc_upsert_s", "sinks.jdbc_stage_s", "sinks.parquet_write_s", "sinks.rows_written")
      .foreach(k => m(k) = extra(k))
    def passMean(k: String) =
      if (passExtra.isEmpty) 0.0 else passExtra.map(_.getOrElse(k, 0.0)).sum / passExtra.size
    m("sinks.bytes_written_mb") = passMean("sinks.bytes_written_mb")
    m("sinks.files_written") = passMean("sinks.files_written")
    m("sources.jdbc_read_s") = extra("sources.jdbc_read_s")
    m("sources.jdbc_rows") = extra("sources.jdbc_rows")
    val batches = child.filter(_.name == "batch")
    m("stream.batches") = per(batches.size)
    m("stream.trigger_s") = per(batches.map(attr(_, "triggerExecution_ms")).sum / 1000)
    m("stream.add_batch_s") = per(batches.map(attr(_, "addBatch_ms")).sum / 1000)
    m("stream.wal_commit_s") = per(batches.map(attr(_, "walCommit_ms")).sum / 1000)
    m("stream.query_planning_s") = per(batches.map(attr(_, "queryPlanning_ms")).sum / 1000)
    m("stream.input_rows") = per(batches.map(attr(_, "input_rows")).sum)
    m("stream.state_rows") = per(batches.map(attr(_, "state_rows")).sum)
    m
  }

  /** An op's wall time as (build, plans, result jobs, residual): the
    * build call, the planning phases and the Spark jobs inside the
    * result call, and the wall time none of them accounts for. */
  def opSplit(o: Main.Op, plans: Seq[Span], jobs: Seq[Span]): (Double, Double, Double, Double) = {
    val build = (o.buildEnd - o.start) / 1000
    val plan = plans.filter(_.op == o.id).map(_.dur).sum
    val result = covered(jobs.filter(j => j.op == o.id && j.parent == "result").map(j => (j.start, j.end)),
      o.buildEnd, o.end)
    (build, plan, result, o.wall - build - plan - result)
  }

  /** Self time per span name (its duration minus what its children
    * cover), and per op the wall split into build, plans, result jobs
    * and residual, next to the tracing overhead the residual is judged
    * against. */
  def summary(ops: Seq[Main.Op], spans: Seq[Span], layer: collection.Map[String, Double]): Map[String, Any] = {
    val byOp = spans.groupBy(_.op)
    val self = mutable.LinkedHashMap[String, Double]()
    spans.foreach { s =>
      val kids = byOp.getOrElse(s.op, Nil).filter { c =>
        c.parent == s.name || (s.name == "job" && c.parent == s"job:${s.attrs.getOrElse("job_id", "")}")
      }
      self(s.name) = self.getOrElse(s.name, 0.0) + s.dur - covered(kids.map(k => (k.start, k.end)), s.start, s.end)
    }
    val plans = spans.filter(_.name.startsWith("plan."))
    val jobs = spans.filter(_.name == "job")
    val perOp = ops.map { o =>
      val (build, plan, result, residual) = opSplit(o, plans, jobs)
      Map("op" -> o.id, "key" -> o.key, "wall_s" -> o.wall, "build_s" -> build, "plans_s" -> plan,
        "result_s" -> result, "residual_s" -> residual)
    }
    Map("self_s" -> self, "ops" -> perOp,
      "tracing_overhead_s" -> layer.getOrElse("trace.overhead_s", 0.0))
  }
}
