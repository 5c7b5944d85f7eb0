package graftbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** A numeric column the generator can bucket and filter. A column with
  * `step > 0` holds values on that grid only: few distinct values, so
  * its exact quantiles survive replication unchanged. */
final case class NumCol(name: String, lo: Double, hi: Double, step: Double) {
  def discrete: Boolean = step > 0
}

final case class TableSpec(name: String, nums: Seq[NumCol],
    strs: Seq[(String, Seq[String])])

/** A view the session can run gestures on: a root table or a child
  * target made by a map gesture. */
final case class ViewSpec(table: TableSpec, nums: Seq[NumCol],
    strs: Seq[(String, Seq[String])])

/** One step of a seeded hillview session. Map steps create a new view;
  * sketch steps return rows. `replayOf` names an earlier sketch step
  * whose exact gesture is repeated (a Memo hit). */
sealed trait Step { def view: Int }
final case class MapStep(view: Int, kind: String, args: Seq[String], child: Int) extends Step
final case class SketchStep(view: Int, kind: String, args: Seq[String],
    replayOf: Option[Int] = None, progressive: Boolean = false, cycle: Int = 0) extends Step

object Session {
  val lineitem = TableSpec("lineitem",
    Seq(NumCol("l_quantity", 1, 50, 1), NumCol("l_extendedprice", 900, 105000, 0),
      NumCol("l_discount", 0, 0.1, 0.01), NumCol("l_tax", 0, 0.08, 0.01),
      NumCol("l_linenumber", 1, 7, 1)),
    Seq("l_returnflag" -> Seq("A", "N", "R"), "l_linestatus" -> Seq("F", "O")))
  val orders = TableSpec("orders",
    Seq(NumCol("o_totalprice", 800, 500000, 0), NumCol("o_custkey", 0, 14999, 1)),
    Seq("o_orderstatus" -> Seq("F", "O", "P"),
      "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
  val events = TableSpec("events",
    Seq(NumCol("value", 0, 200, 0), NumCol("user_id", 0, 1499, 1)),
    Seq("event_type" -> Seq("signup", "click", "error", "view", "purchase")))

  /** Sketch kinds, after paper Fig. 4 O1–O11. `range_cdf` is the
    * two-call dataRange → histogramCdf gesture. */
  val kinds = Seq("nextK", "range_cdf", "hist2d", "heavy", "distinct", "quantiles", "summary")

  /** `MapStep` args: filter = [SQL predicate]; jsFilter = [JS source,
    * equivalent SQL predicate]; withColumn = [name, SQL expression];
    * project = column names. */

  /** Generate `nSketch` sketch slots with map gestures interleaved. The
    * kind and table of each slot follow a fixed cycle (every kind on
    * every root table in turn), so any two seeds run the same mix in the
    * same order; the seed draws the views, columns and parameters, each
    * within a cost class. Every `replayEvery`-th slot replays an earlier
    * gesture; with `progressive` the cycle holds a second histogram
    * gesture that streams through `Progressive`. */
  def generate(seed: Long, roots: Seq[TableSpec], nSketch: Int,
      replayEvery: Int, progressive: Boolean): (Seq[ViewSpec], Seq[Step]) = {
    val rnd = new Random(seed)
    val views = ArrayBuffer.from(roots.map(t => ViewSpec(t, t.nums, t.strs)))
    val steps = ArrayBuffer.empty[Step]
    val sketchIdx = ArrayBuffer.empty[Int]
    val cycle = (kinds ++ (if (progressive) Seq("range_prog") else Nil))
      .flatMap(k => roots.indices.map(k -> _))
    var slot = 0
    var fresh = 0
    while (slot < nSketch) {
      if (slot > 0 && slot % 3 == 0 && views.size < 40) {
        val m = slot / 3
        val p = pickView(views, roots(m % roots.size), m)
        val (kind, args, child) = mapGesture(rnd, views(p), m / roots.size)
        views += child
        steps += MapStep(p, kind, args, views.size - 1)
      }
      if (replayEvery > 0 && slot % replayEvery == replayEvery - 1 && sketchIdx.nonEmpty) {
        val src = sketchIdx(rnd.nextInt(sketchIdx.size))
        val s = steps(src).asInstanceOf[SketchStep]
        steps += s.copy(replayOf = Some(src), cycle = fresh / cycle.size)
      } else {
        val (kind, t) = cycle(fresh % cycle.size)
        val v = pickView(views, roots(t), fresh)
        val prog = kind == "range_prog"
        val k = if (prog) "range_cdf" else kind
        sketchIdx += steps.size
        steps += SketchStep(v, k, sketchArgs(rnd, k, views(v), fresh / cycle.size),
          progressive = prog, cycle = fresh / cycle.size)
        fresh += 1
      }
      slot += 1
    }
    (views.toSeq, steps.toSeq)
  }

  /** One gesture of every kind on the first root, with fixed arguments:
    * the set-up's warm pass. */
  def warm(root: TableSpec, progressive: Boolean): Seq[SketchStep] = {
    val a = root.nums.head
    val b = root.nums.last
    val s = root.strs.head._1
    Seq(SketchStep(0, "nextK", Seq(s"${a.name}:asc", "20")),
      SketchStep(0, "range_cdf", Seq(a.name, "20")),
      SketchStep(0, "hist2d", Seq(a.name, fmt(a.lo), fmt(a.hi), b.name, fmt(b.lo), fmt(b.hi), "10")),
      SketchStep(0, "heavy", Seq(s, "0.05")),
      SketchStep(0, "distinct", Seq(s)),
      SketchStep(0, "quantiles", Seq(a.name)),
      SketchStep(0, "summary", Seq.empty)) ++
      (if (progressive) Seq(SketchStep(0, "range_cdf", Seq(a.name, "20"), progressive = true))
       else Nil)
  }

  /** The root of `table` or its newest descendant, alternating. */
  private def pickView(views: ArrayBuffer[ViewSpec], table: TableSpec, n: Int): Int = {
    val mine = views.indices.filter(views(_).table == table)
    if (n % 2 == 0) mine.head else mine.last
  }

  def fmt(d: Double): String = java.math.BigDecimal.valueOf(d)
    .setScale(6, java.math.RoundingMode.HALF_UP).stripTrailingZeros.toPlainString

  /** A range predicate keeping 60% of the column's domain at a seeded
    * position; bounds sit on the column's grid so the range is never
    * empty. */
  private def rangePred(rnd: Random, c: NumCol): (Double, Double) = {
    val step = if (c.discrete) c.step else 0.01
    val w = c.hi - c.lo
    val keep = 0.6
    val a = c.lo + math.floor((1 - keep) * w * rnd.nextDouble() / step) * step
    (fmt(a).toDouble, fmt(a + math.ceil(keep * w / step) * step).toDouble)
  }

  /** Map gestures rotate filter, jsFilter, withColumn, project. */
  private def mapGesture(rnd: Random, v: ViewSpec, n: Int): (String, Seq[String], ViewSpec) = {
    n % 4 match {
      case 1 if v.strs.exists(_._2.size > 2) =>
        val (s, vals) = v.strs.filter(_._2.size > 2).head
        val drop = vals(rnd.nextInt(vals.size))
        ("jsFilter", Seq(s"function filter(row) { return row.$s != '$drop'; }", s"$s != '$drop'"),
          v.copy(strs = v.strs.map(x => if (x._1 == s) (s, vals.filter(_ != drop)) else x)))
      case 0 | 1 =>
        val c = v.nums(n % v.nums.size)
        val (a, b) = rangePred(rnd, c)
        ("filter", Seq(s"${c.name} >= ${fmt(a)} AND ${c.name} <= ${fmt(b)}"),
          v.copy(nums = v.nums.map(x => if (x == c) x.copy(lo = a, hi = b) else x)))
      case 2 =>
        val a = v.nums(n % v.nums.size)
        val k = 2 + rnd.nextInt(8)
        val name = s"d${a.name}_x$k"
        if (v.nums.exists(_.name == name)) ("project", projectCols(v), v)
        else ("withColumn", Seq(name, s"${a.name} * $k + 1"),
          v.copy(nums = v.nums :+ NumCol(name, a.lo * k + 1, a.hi * k + 1, a.step * k)))
      case _ =>
        val cols = projectCols(v)
        ("project", cols, v.copy(nums = v.nums.filter(x => cols.contains(x.name)),
          strs = v.strs.filter(s => cols.contains(s._1))))
    }
  }

  /** Keep every string column, the first numeric column (discrete for
    * lineitem, so replicated quantile checks stay exact) and the widest
    * one (nextK's sort key). */
  private def projectCols(v: ViewSpec): Seq[String] = {
    val wide = v.nums.find(!_.discrete).toSeq
    ((v.nums.head +: wide).distinct ++ v.nums.drop(1).filterNot(wide.contains).take(1))
      .map(_.name) ++ v.strs.map(_._1)
  }

  /** Columns follow the slot number `n`, so the cost of a slot is the
    * same for every seed: nextK groups on the view's widest numeric
    * column, heavy hitters on every string column, quantiles on a
    * discrete column (exact percentiles of a discrete column survive
    * replication unchanged). The seed draws
    * directions, sizes, bucket counts and thresholds. */
  private def sketchArgs(rnd: Random, kind: String, v: ViewSpec, n: Int): Seq[String] = {
    def num(): NumCol = v.nums(n % v.nums.size)
    def dir(): String = if (rnd.nextBoolean()) ":asc" else ":desc"
    kind match {
      case "nextK" =>
        val wide = v.nums.find(!_.discrete).getOrElse(v.nums.head).name
        Seq(wide + dir(), Seq("20", "50", "100")(rnd.nextInt(3)))
      case "range_cdf" => Seq(num().name, Seq("20", "50", "100")(rnd.nextInt(3)))
      case "hist2d" =>
        val a = num()
        val b = v.nums((n + 1) % v.nums.size)
        Seq(a.name, fmt(a.lo), fmt(a.hi), b.name, fmt(b.lo), fmt(b.hi),
          Seq("10", "20")(rnd.nextInt(2)))
      case "heavy" =>
        v.strs.map(_._1) :+ Seq("0.01", "0.02", "0.05")(rnd.nextInt(3))
      case "distinct" =>
        val all = v.nums.map(_.name) ++ v.strs.map(_._1)
        Seq(all(n % all.size))
      case "quantiles" =>
        val pool = v.nums.filter(_.discrete)
        Seq((if (pool.nonEmpty) pool(n % pool.size) else v.nums.head).name)
      case "summary" => Seq.empty
    }
  }

  def bucket(c: String, lo: Double, hi: Double, n: Int): Column =
    graft.operators.Histograms.numericBucket(col(c), lo, hi, n)

  /** The same bucket as DuckDB SQL: identical IEEE operations on the
    * identical doubles (`Histograms.numericBucket`'s formula). */
  def bucketSql(c: String, lo: Double, hi: Double, n: Int): String = {
    val step = (hi - lo) / n.toDouble
    s"CAST(least(floor(($c - ${dbl(lo)}) / ${dbl(step)}), ${n - 1}) AS INTEGER)"
  }

  /** A double literal that parses back to exactly the same double. */
  def dbl(d: Double): String = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
}
