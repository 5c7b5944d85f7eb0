package graftbench

import scala.collection.mutable

/** Per-layer figures of a traced run, computed from the op records, the
  * spans and the listener events joined through each op's job group.
  *
  * Wall-time self times split every op exactly: `targets` self (frame
  * resolution minus analysis), Memo fingerprint (minus optimization),
  * the three planning phases, time inside Spark jobs, and the remaining
  * driver time between and around jobs. Task metrics (scan, kernels,
  * shuffle, spill, result) are task-time and byte counts inside the
  * jobs, reported per op. */
object Layers {
  final case class Extra(memoHits: Long = 0L, memoUsed: Long = 0L,
      gcMs: Double = 0.0, heapPeakMb: Double = 0.0,
      stageTimes: Map[String, (Double, String)] = Map.empty)

  def compute(ops: Ops, tr: Trace, extra: Extra): (mutable.LinkedHashMap[String, (Double, String)], Seq[String]) = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = out(n) = (if (v.isNaN) 0.0 else v, u)
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val timed = ops.list.filter(_.ok).toSeq
    val spans = tr.spans.toArray(Array.empty[Span]).groupBy(_.op)
    def spansOf(op: Op, name: String): Seq[Span] =
      spans.getOrElse(op.id, Array.empty[Span]).filter(_.name == name).toSeq
    def spanMs(op: Op, name: String): Double = spansOf(op, name).map(_.ms).sum
    // planning phases: read from the sketch's own QueryExecution when
    // available, else from every query the listener saw inside the op
    val qes = tr.queries.toArray(Array.empty[tr.QueryEv])
    def phase(op: Op, p: String): Double = ops.phases.get(op.id) match {
      case Some(m) => m.getOrElse(p, 0L).toDouble
      case None => qes.flatMap { q =>
        q.qe.tracker.phases.get(p).filter(s =>
          s.startTimeMs >= op.startMs && s.endTimeMs <= op.endMs).map(_.durationMs.toDouble)
      }.sum
    }

    final case class PerOp(op: Op, jobs: Int, stages: Int, tasks: Int, inJob: Double,
        t: Seq[tr.TaskEv], st: Seq[tr.StageEv], plan: Seq[Double], targets: Double,
        memo: Double, gap: Double)
    val per = timed.map { op =>
      val js = tr.jobsOf(op.group)
      val sIds = tr.stagesOf(js)
      val ts = tr.taskEvents(sIds)
      val ss = tr.stageEvents(sIds)
      val jobIv = js.map(j => (j.start.toDouble, math.max(j.end, j.start).toDouble))
      val inJob = Trace.unionMs(jobIv)
      // job time inside a span (eager jobs while a frame is built) is
      // job time, not the span's own
      def own(name: String): Double = spansOf(op, name).map { s =>
        val (a, b) = (Clock.epochMs(s.startNs), Clock.epochMs(s.endNs))
        s.ms - Trace.unionMs(jobIv.map { case (x, y) => (math.max(x, a), math.min(y, b)) })
      }.sum
      val plan = Seq("analysis", "optimization", "planning").map(phase(op, _))
      val targets = math.max(0.0, own("targets.resolve") - plan(0)) + own("targets.map")
      val memo = math.max(0.0, own("memo.fingerprint") - plan(1))
      val wall = op.wallNs / 1e6
      val gap = wall - inJob - plan.sum - targets - memo
      PerOp(op, js.size, ss.map(_.id).distinct.size, ts.size, inJob, ts, ss, plan,
        targets, memo, gap)
    }
    val sketches = per.filter(_.op.family == "sketch")
    val maps = per.filter(_.op.family == "map")
    val prog = per.filter(_.op.family == "progressive")
    // engine figures are means over the ops that run Spark work: sketch
    // and progressive gestures, pipeline stage calls (maps are lazy)
    val work = per.filter(_.op.family != "map")
    def perOp(f: PerOp => Double): Double = mean(work.map(f))
    def tsum(p: PerOp)(f: tr.TaskEv => Double): Double = p.t.map(f).sum

    put("targets.map_ms", mean(maps.map(_.targets)), "ms")
    put("targets.sketch_self_ms", mean(sketches.map(_.targets)), "ms")
    put("memo.hit_ratio", if (sketches.isEmpty) 0.0 else extra.memoHits.toDouble / sketches.size, "ratio")
    put("memo.fingerprint_ms", mean(sketches.map(_.memo)), "ms")
    put("memo.used_bytes", extra.memoUsed.toDouble, "bytes")
    put("plan.analysis_ms", perOp(_.plan(0)), "ms")
    put("plan.optimization_ms", perOp(_.plan(1)), "ms")
    put("plan.planning_ms", perOp(_.plan(2)), "ms")
    put("sched.jobs_per_op", perOp(_.jobs.toDouble), "count")
    put("sched.stages_per_op", perOp(_.stages.toDouble), "count")
    put("sched.tasks_per_op", perOp(_.tasks.toDouble), "count")
    put("sched.in_job_ms", perOp(_.inJob), "ms")
    put("sched.driver_gap_ms", perOp(p => math.max(0.0, p.gap)), "ms")
    put("sched.task_failures", work.map(_.t.count(_.failed)).sum.toDouble, "count")
    put("sched.stage_retries", work.map(_.st.count(_.attempt > 0)).sum.toDouble, "count")
    val inRows = work.map(tsum(_)(_.inRows.toDouble)).sum
    val inRunMs = work.map(p => p.t.filter(_.inRows > 0).map(_.runMs.toDouble).sum).sum
    put("scan.bytes", perOp(tsum(_)(_.inBytes.toDouble)), "bytes")
    put("scan.rows", perOp(tsum(_)(_.inRows.toDouble)), "rows")
    put("scan.mrows_per_s", if (inRunMs > 0) inRows / inRunMs / 1000.0 else 0.0, "Mrows/s")
    val cpu = work.map(tsum(_)(_.cpuNs / 1e9)).sum
    val run = work.map(tsum(_)(_.runMs / 1e3)).sum
    put("exec.cpu_s", perOp(tsum(_)(_.cpuNs / 1e9)), "s")
    put("exec.run_s", perOp(tsum(_)(_.runMs / 1e3)), "s")
    put("exec.gc_s", perOp(tsum(_)(_.gcMs / 1e3)), "s")
    put("exec.deserialize_s", perOp(tsum(_)(_.deserMs / 1e3)), "s")
    put("exec.cpu_util", if (run > 0) cpu / run else 0.0, "ratio")
    val skews = work.flatMap(_.t.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    })
    put("exec.task_skew", if (skews.isEmpty) 1.0 else mean(skews), "ratio")
    put("shuffle.exchanges", perOp(_.t.filter(_.shWRecs > 0).map(_.stage).distinct.size.toDouble), "count")
    put("shuffle.write_bytes", perOp(tsum(_)(_.shWBytes.toDouble)), "bytes")
    put("shuffle.read_bytes", perOp(tsum(_)(_.shRBytes.toDouble)), "bytes")
    put("shuffle.records", perOp(tsum(_)(_.shRRecs.toDouble)), "records")
    put("shuffle.fetch_wait_ms", perOp(tsum(_)(_.fetchWaitMs.toDouble)), "ms")
    put("shuffle.write_ms", perOp(tsum(_)(_.shWNs / 1e6)), "ms")
    put("spill.memory_bytes", perOp(tsum(_)(_.memSpill.toDouble)), "bytes")
    put("spill.disk_bytes", perOp(tsum(_)(_.diskSpill.toDouble)), "bytes")
    put("result.bytes", perOp(tsum(_)(_.resultBytes.toDouble)), "bytes")
    put("result.rows", perOp(_.op.resultRows.toDouble), "rows")
    put("progressive.first_partial_ms",
      mean(prog.flatMap(p => ops.firstPartialNs.get(p.op.id)).map(_ / 1e6)), "ms")
    put("progressive.partials", mean(prog.map(p => ops.partials.getOrElse(p.op.id, 0).toDouble)), "count")
    put("progressive.jobs", mean(prog.map(_.jobs.toDouble)), "count")
    put("progressive.cost_ratio",
      if (ops.oneShotNs > 0) prog.map(_.op.wallNs).sum.toDouble / ops.oneShotNs else 0.0, "ratio")
    // pipeline-only figures read 0 on the gesture workloads
    Seq("stage.dedup_s" -> "s", "stage.ann_s" -> "s", "stage.text_s" -> "s",
      "stage.pipeline_s" -> "s", "stage.construct_ms" -> "ms", "stage.exec_ms" -> "ms",
      "artifacts.builds" -> "count", "artifacts.serves" -> "count",
      "artifacts.publish_ms" -> "ms", "artifacts.bytes_written" -> "bytes",
      "artifacts.serve_ms" -> "ms").foreach { case (k, u) => put(k, 0.0, u) }
    extra.stageTimes.foreach { case (k, (v, u)) => put(k, v, u) }
    put("jvm.driver_gc_ms", extra.gcMs, "ms")
    put("jvm.heap_used_peak_mb", extra.heapPeakMb, "MB")
    put("trace.ops", per.size.toDouble, "count")
    put("trace.op_p50_ms", Pct.pct(work.map(_.op.wallNs / 1e6), 50), "ms")
    // self times must fit inside the op's wall time (1 ms slack for
    // clock granularity of listener and tracker timestamps)
    val unfit = per.filter(p => p.gap < -1.0).map(p =>
      f"op ${p.op.id} ${p.op.kind}: self times exceed wall by ${-p.gap}%.1f ms")
    put("trace.self_fit_ratio", if (per.isEmpty) 1.0 else 1.0 - unfit.size.toDouble / per.size, "ratio")
    (out, unfit)
  }
}

object Pct {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
