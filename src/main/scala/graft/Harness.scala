package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the mains (Bench, Verify, Plans, ScaleProbe) share: one session
  * factory, one query selection, one warm-up and quiesce, and one
  * stage/job listener — so every harness measures and checks the same
  * engine configuration. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def session(app: String): SparkSession = engine.Sessions.local(cpus, app)

  /** The registered queries, or only the comma-separated `names`. An
    * unknown name throws: a typo must not shrink a run silently. */
  def select(names: Option[String]): Map[String, Query] = {
    val all = SparkEntry.queries
    names.map(_.split(",").filter(_.nonEmpty).toSet).fold(all) { wanted =>
      val unknown = wanted -- all.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter { case (n, _) => wanted(n) }
    }
  }

  /** Warm the session (codegen, parquet footer cache, JIT) so the first
    * measured query doesn't absorb fixed startup cost. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
  }

  /** Cross-query hygiene (r5 verdict): `clearCache()` alone does not free
    * localCheckpoint RDD blocks, so the dedup family's checkpointed
    * signature RDDs stayed resident and inflated later measurements by
    * 3-5x (dedup_jaccard_3gram 4.20 s in-suite vs 1.09 s isolated on
    * identical code). Drop ALL persisted RDD blocks (covers caches and local
    * checkpoints), then GC-quiesce so a timed region starts with a quiet
    * heap. Call it outside the timed region. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = true) catch { case _: Throwable => () })
    System.gc()
  }

  /** First line of a throwable, for a one-line error report. */
  def message(e: Throwable): String =
    e.toString.linesIterator.nextOption().getOrElse("").take(500)

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL or an error message
    * would otherwise make a consumer's json.load fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonObj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")

  /** One timed run's layer split: ctor (building the frame), plan
    * (the action's QueryPlanningTracker phases), exec (the rest of the
    * action), plus the stage and job figures the listener saw. */
  final case class Run(ctor: Double, plan: Double, exec: Double,
      stages: Int, tasks: Int, shufWMB: Double, shufRMB: Double,
      cpuS: Double, runS: Double, spillMB: Double,
      jobs: Int, inJobS: Double, gapsS: Double) {
    def wall: Double = ctor + plan + exec
    def line(name: String): String =
      f"$name%-34s ctor=$ctor%6.3f plan=$plan%6.3f exec=$exec%6.3f " +
        f"stages=$stages%3d tasks=$tasks%4d shufW=$shufWMB%8.2fMB " +
        f"shufR=$shufRMB%8.2fMB cpu=$cpuS%7.2fs run=$runS%7.2fs " +
        f"spill=$spillMB%6.1fMB jobs=$jobs%3d inJob=$inJobS%6.2fs " +
        f"interJobGaps=$gapsS%6.2fs"
  }

  /** Stage, job and action events of the runs timed through [[time]]. */
  final class Layers(spark: SparkSession) {
    private case class Stage(tasks: Int, runMs: Long, cpuMs: Long,
        shufReadB: Long, shufWriteB: Long, spillB: Long)
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start, end
    private val jobStarts = new ConcurrentHashMap[Int, Long]()
    // planning ms of the last action to finish (the timed action reports last)
    private val planMs = new AtomicLong(0L)

    private val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val tm = sc.stageInfo.taskMetrics
        stages.add(Stage(sc.stageInfo.numTasks, tm.executorRunTime,
          tm.executorCpuTime / 1000000, tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled))
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStarts.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.add((j.jobId, Option(jobStarts.get(j.jobId)).getOrElse(j.time), j.time))
    }
    private val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        planMs.set(qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queries)

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }

    /** Time `build` (ctor) and then `action` over its frame; the layer
      * figures are read after the listener bus has drained, outside
      * the timed region. */
    def time(build: => DataFrame)(action: DataFrame => Any): Run = {
      stages.clear(); jobs.clear(); jobStarts.clear(); planMs.set(0L)
      val t0 = System.nanoTime()
      val df = build
      val tC = System.nanoTime()
      action(df)
      val t1 = System.nanoTime()
      org.apache.spark.sql.graftshim.drainListeners(spark)
      val plan = planMs.get / 1e3
      val act = (t1 - tC) / 1e9
      val rows = stages.toArray(Array.empty[Stage])
      val js = jobs.toArray(Array.empty[(Int, Long, Long)]).sortBy(_._1)
      val gaps = js.sliding(2).collect {
        case Array(a, b) => math.max(0L, b._2 - a._3) }.sum / 1e3
      Run((tC - t0) / 1e9, math.min(plan, act), math.max(0.0, act - plan),
        rows.length, rows.map(_.tasks).sum,
        rows.map(_.shufWriteB).sum / 1e6, rows.map(_.shufReadB).sum / 1e6,
        rows.map(_.cpuMs).sum / 1e3, rows.map(_.runMs).sum / 1e3,
        rows.map(_.spillB).sum / 1e6,
        js.length, js.map(j => j._3 - j._2).sum / 1e3, gaps)
    }
  }
}
