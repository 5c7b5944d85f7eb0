package graftbench

import graft.engine.TargetRegistry
import graft.operators.{DistinctAndFrequency, Histograms, NextK, Quantiles, Stats}
import graft.streaming.{Memo, Progressive}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One sketch call's rows plus the DuckDB query that answers the same
  * gesture over the sf0.1 tables. For a call on the ×16 replica the query
  * multiplies every count by 16, and every other value must be equal.
  * `mode` says how rows compare: `ordered`, `unordered`, `approx` (HLL
  * estimate vs exact distinct count) or `quantile` (rounded to 4
  * decimals). */
final case class Answer(step: Int, kind: String, mode: String, sql: String, rows: Array[Row])

/** Drives a seeded hillview session through `engine.TargetRegistry`:
  * map gestures register child targets, sketch gestures return rows
  * through `streaming.Memo`. Every sketch call is one timed op. */
final class GestureExec(spark: SparkSession, dirs: Map[String, String],
    refDirs: Map[String, String], scale: Int, roots: Seq[TableSpec], ops: Ops) {
  val reg = new TargetRegistry(spark)
  private val ids = mutable.Map.empty[Int, String]
  private val viewSql = mutable.Map.empty[Int, String]
  roots.zipWithIndex.foreach { case (t, i) =>
    ids(i) = reg.loadTable(dirs(t.name), t.name).id
    viewSql(i) = s"SELECT * FROM read_parquet('${refDirs(t.name)}/${t.name}.parquet')"
  }
  val answers = ArrayBuffer.empty[Answer]

  def runMap(m: MapStep): Unit = ops.timed("map", "map") { op =>
    val p = ids(m.view)
    val t = op.span("targets.map") { m.kind match {
      case "filter" => reg.filter(p, expr(m.args.head))
      case "jsFilter" => reg.jsFilter(p, m.args.head)
      case "withColumn" => reg.withColumn(p, m.args(0), expr(m.args(1)))
      case "project" => reg.project(p, m.args)
    } }
    ids(m.child) = t.id
    val v = viewSql(m.view)
    viewSql(m.child) = m.kind match {
      case "filter" => s"SELECT * FROM ($v) WHERE ${m.args.head}"
      case "jsFilter" => s"SELECT * FROM ($v) WHERE ${m.args(1)}"
      case "withColumn" => s"SELECT *, ${m.args(1)} AS ${m.args(0)} FROM ($v)"
      case "project" => s"SELECT ${m.args.mkString(", ")} FROM ($v)"
    }
    0L
  }

  def runSketch(i: Int, s: SketchStep): Unit = {
    // a view whose map gesture failed fails every sketch on it, inside
    // the op, so each one is counted
    def id = ids.getOrElse(s.view, throw new IllegalStateException(s"view ${s.view} missing"))
    val v = viewSql.getOrElse(s.view, "")
    val cnt = s"count(*) * $scale"
    def call(kind: String, mode: String, sql: String)(agg: DataFrame => DataFrame): Array[Row] = {
      var rows: Array[Row] = null
      ops.timed(kind, "sketch") { op => rows = sketch(op, id, agg); rows.length.toLong }
      if (rows != null) answers += Answer(i, kind, mode, sql, rows)
      rows
    }
    s.kind match {
      case "nextK" =>
        val order = s.args.init.map { a =>
          val Array(c, d) = a.split(":"); NextK.Order(c, d == "asc") }
        val keys = order.map(_.column).mkString(", ")
        val by = order.map(o => o.column + (if (o.ascending) " ASC NULLS LAST" else " DESC NULLS FIRST"))
        call("nextK", "ordered", s"SELECT $keys, $cnt AS cnt FROM ($v) GROUP BY $keys " +
          s"ORDER BY ${by.mkString(", ")} LIMIT ${s.args.last}")(
          NextK.nextK(_, order, s.args.last.toInt))
      case "range_cdf" =>
        val c = s.args(0)
        val range = call("dataRange", "unordered",
          s"SELECT min($c), max($c), count($c) * $scale, (count(*) - count($c)) * $scale FROM ($v)")(
          Stats.dataRange(_, c))
        if (range != null) {
          val (lo, hi) = GestureExec.bounds(range)
          val n = s.args(1).toInt
          val hist = s"SELECT coalesce(b, -1) AS bucket, $cnt AS cnt FROM " +
            s"(SELECT ${Session.bucketSql(c, lo, hi, n)} AS b FROM ($v)) GROUP BY 1"
          val b = Session.bucket(c, lo, hi, n)
          if (s.progressive) progressive(i, id, b, hist)
          else call("histogramCdf", "unordered", s"SELECT bucket, cnt, sum(cnt) OVER " +
            s"(ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf FROM ($hist)")(
            Histograms.histogramWithCdf(_, b))
        }
      case "hist2d" =>
        val n = s.args(6).toInt
        val (x, y) = (s.args(0), s.args(3))
        val (xl, xh, yl, yh) = (s.args(1).toDouble, s.args(2).toDouble,
          s.args(4).toDouble, s.args(5).toDouble)
        call("histogram2D", "unordered",
          s"SELECT ${Session.bucketSql(x, xl, xh, n)} AS bx, ${Session.bucketSql(y, yl, yh, n)} AS by, " +
            s"$cnt AS cnt FROM ($v) GROUP BY 1, 2")(
          Histograms.histogram2D(_, Session.bucket(x, xl, xh, n), Session.bucket(y, yl, yh, n)))
      case "heavy" =>
        val cols = s.args.init.mkString(", ")
        val eps = Session.dbl(s.args.last.toDouble)
        call("heavyHitters", "ordered", s"SELECT $cols, $cnt AS cnt FROM ($v) GROUP BY $cols " +
          s"HAVING $cnt >= ceil($eps * (SELECT $cnt FROM ($v))) ORDER BY cnt DESC, $cols")(
          DistinctAndFrequency.heavyHittersMG(_, s.args.init, s.args.last.toDouble))
      case "distinct" =>
        call("approxDistinct", "approx", s"SELECT count(DISTINCT ${s.args.head}) FROM ($v)")(
          DistinctAndFrequency.approxDistinctCount(_, s.args.head))
      case "quantiles" =>
        val c = s.args.head
        call("quantiles", "quantile", GestureExec.Quantiles.map(q =>
          s"quantile_cont($c, $q)").mkString("SELECT ", ", ", s" FROM ($v)"))(
          Quantiles.quantiles(_, c, GestureExec.Quantiles))
      case "summary" =>
        call("summary", "unordered", s"SELECT $cnt FROM ($v)")(Stats.rowCount)
    }
  }

  /** `TargetRegistry.sketch` made one call at a time (resolve the
    * target's frame, memoized collect), so a traced op gets a span for
    * each, plus one for Memo's fingerprint while Memo is on, and can read
    * the plan's phase times. */
  private def sketch(op: Ops#Handle, id: String, agg: DataFrame => DataFrame): Array[Row] = {
    val df = op.span("targets.resolve")(agg(reg.get(id).df))
    if (Memo.isEnabled) op.trace.foreach(tr => tr.span("memo.fingerprint", op.id)(Memo.fingerprint(df)))
    val rows = op.span("memo.collect")(Memo.collectMemoized(df))
    if (op.trace.isDefined) op.phases(df.queryExecution.tracker)
    rows
  }

  /** Histogram streamed through `streaming.Progressive`: partition chunks
    * aggregated once each, a partial emitted after every chunk. */
  private def progressive(i: Int, id: String, bucket: org.apache.spark.sql.Column,
      sql: String): Unit = {
    var counts: Map[Any, Long] = null
    ops.timed("progressiveHistogram", "progressive") { op =>
      val df = reg.get(id).df.select(bucket.as("bucket"))
      counts = Progressive.runIncremental[mutable.Map[Any, Long], Map[Any, Long]](
        df, GestureExec.ProgressiveSteps, op.group)(
        () => mutable.Map.empty[Any, Long],
        (m, r) => { val k = r.get(0); m.update(k, m.getOrElse(k, 0L) + 1L); m },
        (a, b) => { b.foreach { case (k, v) => a.update(k, a.getOrElse(k, 0L) + v) }; a },
        _.toMap) { _ => op.partial() }
      counts.size.toLong
    }
    // traced runs price progressive delivery against one collect of the
    // same aggregate
    ops.trace.foreach { _ =>
      val t0 = System.nanoTime()
      Histograms.histogram1D(reg.get(id).df, bucket).collect()
      ops.oneShotNs += System.nanoTime() - t0
    }
    if (counts != null) answers += Answer(i, "progressiveHistogram", "unordered", sql,
      counts.toSeq.map { case (k, v) => Row(k, v) }.toArray)
  }
}

object GestureExec {
  val ProgressiveSteps = 4
  val Quantiles = Seq(0.1, 0.25, 0.5, 0.75, 0.9)

  def bounds(range: Array[Row]): (Double, Double) = {
    val r = range.head
    if (r.isNullAt(0) || r.isNullAt(1)) (0.0, 1.0)
    else {
      val lo = r.getAs[Any](0).toString.toDouble
      val hi = r.getAs[Any](1).toString.toDouble
      if (hi > lo) (lo, hi) else (lo, lo + 1.0)
    }
  }
}

/** The two gesture workloads: repeated set-up, then a timed session. */
object Gestures {
  val SetupReps = 3

  final case class Outcome(setupS: Seq[Double], timedS: Double, answers: Seq[Answer],
      memoHits: Long, memoUsed: Long)

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      tablesDir: String, x16Dir: String, ops: Ops, window: Window): Outcome = {
    val x16 = workload == "gestures_x16"
    val roots = if (x16) Seq(Session.lineitem)
      else Seq(Session.lineitem, Session.orders, Session.events)
    val dirs = roots.map(t => t.name -> (if (x16) x16Dir else tablesDir)).toMap
    val refDirs = roots.map(_.name -> tablesDir).toMap
    val scale = if (x16) 16 else 1
    val (_, steps) = Session.generate(seed, roots, nSketch = 2000,
      replayEvery = if (x16) 0 else 5, progressive = x16)
    val warm = Session.warm(roots.head, progressive = x16)

    // set-up, repeated: fresh Memo at its default budget (off on the
    // replica, whose session has no replays), fresh registry with the
    // root tables opened, one warm gesture of every kind (the replica
    // warms on its sf0.1 base: the same plans, 1/16 the rows)
    val defaultBudget = Memo.budgetBytes
    val setupS = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Memo.clear(); Memo.setBudget(defaultBudget); Memo.setEnabled(!x16)
      val e = new GestureExec(spark, refDirs, refDirs, 1, roots, ops.untimed)
      warm.zipWithIndex.foreach { case (s, i) => e.runSketch(i, s) }
      Memo.clear()
      (System.nanoTime() - t0) / 1e9
    }

    // timed session: closed loop, one client, whole cycles of the kind
    // mix to fill the time
    val e = new GestureExec(spark, dirs, refDirs, scale, roots, ops)
    val hits0 = Memo.hits
    window.start()
    val t0 = System.nanoTime()
    val it = steps.iterator.zipWithIndex.buffered
    var cycle = 0
    def newCycle = it.head._1 match {
      case k: SketchStep => k.cycle > cycle
      case _ => false
    }
    while (it.hasNext &&
        !(newCycle && !Window.more((System.nanoTime() - t0) / 1e9, cycle + 1, seconds))) {
      it.next() match {
        case (m: MapStep, _) => e.runMap(m)
        case (k: SketchStep, i) => cycle = k.cycle; e.runSketch(i, k)
      }
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    window.end()
    Outcome(setupS, timedS, e.answers.toSeq, Memo.hits - hits0, Memo.usedBytes)
  }

  /** Every timed sketch call with its rows and reference query, for the
    * DuckDB check in run.py. A replayed gesture carries its own step
    * index and the same query as the gesture it repeats. */
  def writeAnswers(answers: Seq[Answer], f: java.io.File): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    answers.foreach { a =>
      val n = arr.addObject()
      n.put("step", a.step); n.put("kind", a.kind); n.put("mode", a.mode); n.put("sql", a.sql)
      val rows = n.putArray("rows")
      a.rows.foreach { r =>
        val row = rows.addArray()
        r.toSeq.foreach {
          case null => row.addNull()
          case x: Int => row.add(x)
          case x: Long => row.add(x)
          case x: Double => row.add(x)
          case x: Float => row.add(x.toDouble)
          case x: java.math.BigDecimal => row.add(x)
          case x => row.add(x.toString)
        }
      }
    }
    m.writeValue(f, arr)
  }
}
