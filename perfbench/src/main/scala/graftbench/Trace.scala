package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed user operation: a gesture or a pipeline stage call.
  * Wall-clock millis bracket it for joining listener events; nanos give
  * its duration. `group` is the Spark job group its jobs ran under. */
final case class Op(id: Int, kind: String, family: String, group: String,
    startMs: Long, endMs: Long, wallNs: Long, ok: Boolean,
    resultRows: Long = 0L, error: String = "")

/** A traced call into one layer, made from the benchmark's own code. */
final case class Span(name: String, op: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** A nanoTime reading on the wall clock listener events use. */
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** Spans kept in memory plus a listener for job, stage and task events.
  * Events are joined to their op through the per-op job group at the
  * end of the run, after the listener bus has drained. */
final class Trace(spark: SparkSession) {
  final case class JobEv(id: Int, group: String, start: Long,
      var end: Long = -1L, stages: Seq[Int])
  final case class StageEv(id: Int, attempt: Int)
  final case class TaskEv(stage: Int, launch: Long, finish: Long, failed: Boolean,
      runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
      inBytes: Long, inRows: Long, shWBytes: Long, shWRecs: Long, shWNs: Long,
      shRBytes: Long, shRRecs: Long, fetchWaitMs: Long,
      memSpill: Long, diskSpill: Long, resultBytes: Long)
  final case class QueryEv(plan: String, durNs: Long, qe: QueryExecution)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val queries = new ConcurrentLinkedQueue[QueryEv]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, JobEv(e.jobId, g, e.time, stages = e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageEv(i.stageId, i.attemptNumber()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m == null) tasks.add(TaskEv(e.stageId, ti.launchTime, ti.finishTime,
        ti.failed, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(TaskEv(e.stageId, ti.launchTime, ti.finishTime, ti.failed,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.resultSize))
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      queries.add(QueryEv(qe.executedPlan.nodeName, d, qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Wait until every started job has been seen ending (bounded). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.end < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // task and stage events trail the job end
  }

  def span[T](name: String, op: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans.add(Span(name, op, t0, System.nanoTime()))
  }

  def jobsOf(group: String): Seq[JobEv] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.id)

  def stagesOf(js: Seq[JobEv]): Set[Int] = js.flatMap(_.stages).toSet

  def stageEvents(ids: Set[Int]): Seq[StageEv] =
    stages.asScala.filter(s => ids(s.id)).toSeq

  def taskEvents(ids: Set[Int]): Seq[TaskEv] =
    tasks.asScala.filter(t => ids(t.stage)).toSeq
}

object Trace {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.MinValue
    var curE = Double.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
