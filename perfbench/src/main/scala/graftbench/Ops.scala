package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import scala.collection.mutable.ArrayBuffer

/** Records timed ops. Each op runs under its own Spark job group so a
  * traced run can join listener events to it. A call that throws is
  * recorded as a failure with its error, never as a time. */
final class Ops(spark: SparkSession, val trace: Option[Trace],
    val record: Boolean, val errors: ArrayBuffer[String]) {
  val list = ArrayBuffer.empty[Op]
  /** Planning phase times per op id: analysis, optimization, planning. */
  val phases = scala.collection.mutable.Map.empty[Int, Map[String, Long]]
  val firstPartialNs = scala.collection.mutable.Map.empty[Int, Long]
  val partials = scala.collection.mutable.Map.empty[Int, Int]
  var oneShotNs = 0L
  private var next = 0

  /** Same error list, nothing recorded or traced: set-up and check
    * passes. */
  def untimed: Ops = new Ops(spark, None, record = false, errors)

  final class Handle(val id: Int, val group: String, t0: Long) {
    def trace: Option[Trace] = Ops.this.trace
    def span[T](name: String)(f: => T): T = trace match {
      case Some(tr) => tr.span(name, id)(f)
      case None => f
    }
    def partial(): Unit = {
      if (!firstPartialNs.contains(id)) firstPartialNs(id) = System.nanoTime() - t0
      partials(id) = partials.getOrElse(id, 0) + 1
    }
    def phases(t: QueryPlanningTracker): Unit =
      Ops.this.phases(id) = t.phases.map { case (k, v) => k -> v.durationMs }
  }

  def timed(kind: String, family: String)(f: Handle => Long): Boolean = {
    val id = next
    next += 1
    val group = if (record) s"op-$id" else "untimed"
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val h = new Handle(id, group, t0)
    val (ok, rows, err) =
      try { val n = h.span("op")(f(h)); (true, n, "") }
      catch { case e: Throwable =>
        val msg = s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        errors += msg
        (false, 0L, msg)
      } finally sc.clearJobGroup()
    val wall = System.nanoTime() - t0
    if (record) list += Op(id, kind, family, group, startMs,
      System.currentTimeMillis(), wall, ok, rows, err)
    ok
  }
}
