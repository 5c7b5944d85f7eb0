package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark driver JVM: one workload, one seed, one closed-loop client.
  * Writes `result.json` (with the per-layer figures when traced) and the
  * outputs to check into `--out`; `run.py` checks them against DuckDB and
  * prints the final line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val out = new java.io.File(a("out"))
    out.mkdirs()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.engine.Sessions.local(4, "perfbench")
    val errors = ArrayBuffer.empty[String]
    val sessionReady = System.currentTimeMillis()
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val ops = new Ops(spark, trace, record = true, errors)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, String]
    val window = new Window
    var extra = Layers.Extra()

    workload match {
      case "gestures_sf01" | "gestures_x16" =>
        val o = Gestures.run(spark, workload, seed, seconds, a("tables"), a("x16"), ops, window)
        extra = Layers.Extra(o.memoHits, o.memoUsed, window.gcMs, window.heapPeakMb)
        Gestures.writeAnswers(o.answers, new java.io.File(out, "answers.json"))
        metrics("setup_s") = (Pct.median(o.setupS), "s")
        val sk = ops.list.filter(o => o.ok && o.family != "map")
        metrics("ops_per_s") = (sk.size / o.timedS, "1/s")
        val fp = sk.flatMap(op => ops.firstPartialNs.get(op.id)).map(_ / 1e6).toSeq
        if (fp.nonEmpty) metrics("first_partial_p50_ms") = (Pct.median(fp), "ms")
        notes("sketch_gestures") = sk.size.toString
        notes("map_gestures") = ops.list.count(_.family == "map").toString
        notes("setup_reps_s") = o.setupS.map(x => f"$x%.3f").mkString(",")
        notes("timed_s") = f"${o.timedS}%.2f"
      case "pipeline_sf01" =>
        val o = Pipeline.run(spark, seed, seconds, a("corpus"), out, ops, window)
        extra = Layers.Extra(gcMs = window.gcMs, heapPeakMb = window.heapPeakMb,
          stageTimes = o.layerFigures)
        metrics("setup_s") = (Pct.median(o.setupS), "s")
        metrics("pipeline_s") = (Pct.median(o.passS), "s")
        metrics("build_s") = (Pct.median(o.buildS), "s")
        metrics("serve_p50_ms") = (Pct.median(o.serveMs), "ms")
        metrics("ops_per_s") = (ops.list.count(_.ok) / o.passS.sum, "1/s")
        notes("passes") = o.passS.size.toString
        notes("setup_reps_s") = o.setupS.map(x => f"$x%.3f").mkString(",")
    }

    // generic per-op figures, defined the same way on every workload:
    // sketch and progressive gestures, or pipeline stage calls
    val okLat = ops.list.filter(o => o.ok && o.family != "map").map(_.wallNs / 1e6).toSeq
    val attempted = ops.list.size
    val failed = errors.size // every failed call, timed or not, plus the self-test
    metrics("op_p50_ms") = (Pct.pct(okLat, 50), "ms")
    metrics("op_p90_ms") = (Pct.pct(okLat, 90), "ms")
    // every call weighs by its time, so a slower kind moves the mean by
    // its share of the session
    metrics("op_mean_ms") = (if (okLat.isEmpty) 0.0 else okLat.sum / okLat.size, "ms")
    if (workload.startsWith("gestures")) {
      metrics("gesture_p50_ms") = metrics("op_p50_ms")
      metrics("gesture_p90_ms") = metrics("op_p90_ms")
      metrics("gestures_per_s") = metrics("ops_per_s")
    }
    metrics("ops_failed_ratio") = (if (attempted > 0) failed.toDouble / attempted else 1.0, "ratio")
    metrics("peak_rss_mb") = (vmHwmMb(), "MB")
    metrics("heap_live_mb") = (window.heapLiveMb, "MB")

    notes("jvm_to_session_s") = f"${(sessionReady - jvmStart) / 1e3}%.2f"
    notes("jvm_total_s") = f"${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f"
    val layers = trace.map { tr =>
      tr.drain()
      val (l, unfit) = Layers.compute(ops, tr, extra)
      notes("self_time_violations") = unfit.take(5).mkString("; ")
      l
    }
    trace.foreach(_.stop())
    spark.stop()

    val m = new ObjectMapper()
    def obj(xs: collection.Map[String, (Double, String)]) = {
      val n = m.createObjectNode()
      xs.foreach { case (k, (v, u)) =>
        val e = n.putObject(k); e.put("value", v); e.put("unit", u) }
      n
    }
    val root = m.createObjectNode()
    root.put("workload", workload)
    root.put("seed", seed)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val errs = root.putArray("errors"); errors.foreach(errs.add)
    root.replace("metrics", obj(metrics))
    layers.foreach(l => root.replace("layers", obj(l)))
    val nn = root.putObject("notes"); notes.foreach { case (k, v) => nn.put(k, v) }
    val ops0 = root.putArray("ops")
    ops.list.foreach { o =>
      val e = ops0.addObject()
      e.put("kind", o.kind); e.put("family", o.family); e.put("ms", o.wallNs / 1e6)
      e.put("ok", o.ok); e.put("rows", o.resultRows)
      if (!o.ok) e.put("error", o.error)
    }
    m.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out, "result.json"), root)
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(
      _.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Driver JVM figures over the timed section: collector time, peak
  * heap, and the heap still live after a full collection at its end. */
final class Window {
  private def gcTotalMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum
  private var gc0 = 0.0
  var (gcMs, heapPeakMb, heapLiveMb) = (0.0, 0.0, 0.0)
  def start(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gc0 = gcTotalMs
  }
  def end(): Unit = {
    gcMs = gcTotalMs - gc0
    heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
    // the second collection frees what Spark's cleaner released after
    // the first (broadcast and shuffle blocks of dropped frames)
    System.gc(); Thread.sleep(300); System.gc()
    heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble / (1 << 20)
  }
}

object Window {
  /** Whole units of work (gesture cycles, pipeline passes) fill a timed
    * section of `seconds`: after `done` units in `elapsedS`, another
    * starts if it brings the total nearer to `seconds`. At least one
    * runs. */
  def more(elapsedS: Double, done: Int, seconds: Double): Boolean =
    done == 0 || elapsedS + elapsedS / done / 2 < seconds
}
