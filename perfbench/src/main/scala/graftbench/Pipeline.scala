package graftbench

import graft.SparkEntry
import graft.streaming.Memo
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The build-and-serve training-data pipeline: one pass runs registered
  * `SparkEntry.queries` stages over a corpus directory, each
  * materialized by a noop sink. Stored models are built once per pass
  * (the write) and then served `Serves` times (the read). */
object Pipeline {
  /** (stage, role): a `build` call publishes a stored model, a `serve`
    * call reads one, a `stage` call does neither. */
  val Serves = 2
  val Pass: Seq[(String, String)] = Seq(
    "dedup_exact" -> "stage", "dedup_minhash_lsh" -> "stage",
    "dedup_simhash" -> "stage", "text_tokens_bpe" -> "stage",
    "text_lm_backoff" -> "build") ++
    Seq.fill(Serves)("text_lm_backoff" -> "serve") ++
    Seq("ann_pq_build" -> "build") ++
    Seq.fill(Serves)("ann_ivfpq_topk" -> "serve") ++
    Seq("pipeline_end2end" -> "stage", "corpus_mix_temperature_tokens" -> "stage")

  def family(stage: String): String =
    if (stage.startsWith("dedup_")) "dedup"
    else if (stage.startsWith("ann_")) "ann"
    else if (stage.startsWith("pipeline_") || stage.startsWith("corpus_")) "pipeline"
    else "text"

  final case class Outcome(setupS: Seq[Double], passS: Seq[Double],
      buildS: Seq[Double], serveMs: Seq[Double], layerFigures: Map[String, (Double, String)])

  /** A fresh copy of the corpus under a new path: stored models and the
    * PQ index memo are keyed by the input path, so nothing built by an
    * earlier pass can be served to this one. */
  private def freshCorpus(src: String, out: java.io.File, tag: String): String = {
    val dst = new java.io.File(out, s"corpus_$tag")
    graft.engine.Artifacts.deleteRecursively(dst)
    dst.mkdirs()
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      java.nio.file.Files.copy(new java.io.File(src, f).toPath, new java.io.File(dst, f).toPath)
    }
    dst.getPath
  }

  /** One pass; `sink` materializes each call's frame. Returns each call's
    * row digest (see [[Digest]]), read after the op's time is taken; a
    * call that failed has none. */
  def pass(spark: SparkSession, dir: String, ops: Ops,
      sink: (String, DataFrame) => Unit): Seq[Option[String]] = {
    val queries = SparkEntry.queries
    val seen = ArrayBuffer.empty[Option[Observation]]
    Pass.foreach { case (stage, role) =>
      var obs: Option[Observation] = None
      ops.timed(stage, role) { op =>
        val df = op.span("stage.construct")(queries(stage)(spark, dir))
        val (observed, o) = Digest.observe(df)
        op.span("stage.exec")(sink(stage, observed))
        obs = Some(o)
        0L
      }
      seen += obs
    }
    seen.toSeq.map(_.map(Digest.get))
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, corpus: String,
      out: java.io.File, ops: Ops, window: Window): Outcome = {
    val noop = (_: String, df: DataFrame) => Materialize.noop(df)
    // set-up: fresh Memo, then the check pass: every stage over the run's
    // corpus under a fresh path (fresh stored-model lineage), each output
    // written as parquet for the DuckDB oracle. It warms the JVM for the
    // timed passes.
    val checkDir = new java.io.File(out, "check")
    val seen = mutable.Map.empty[String, Int]
    val write = (stage: String, df: DataFrame) => {
      val n = seen.getOrElse(stage, 0)
      seen(stage) = n + 1
      df.write.mode("overwrite").parquet(new java.io.File(checkDir, s"${stage}__$n").getPath)
    }
    val t0 = System.nanoTime()
    Memo.clear()
    val checkCorpus = freshCorpus(corpus, out, "check")
    val checked = pass(spark, checkCorpus, ops.untimed, write)
    val setupS = Seq((System.nanoTime() - t0) / 1e9)
    Materialize.selfTest(spark, SparkEntry.queries("text_tokens_bpe")(spark, checkCorpus))
      .foreach(e => ops.errors += s"materialize self-test: $e")

    // timed passes: whole passes to fill the time, at least one. Each
    // runs on its own fresh copy of the same corpus, so it builds its
    // stored models anew, and every call's digest must equal the checked
    // call's.
    window.start()
    val rt = artifactRoot()
    val bytes0 = dirBytes(rt)
    val passS = ArrayBuffer.empty[Double]
    val buildS = ArrayBuffer.empty[Double]
    val digests = ArrayBuffer.empty[Seq[Option[String]]]
    val p0 = System.nanoTime()
    while (Window.more((System.nanoTime() - p0) / 1e9, passS.size, seconds)) {
      val (t, n) = (System.nanoTime(), ops.list.size)
      digests += pass(spark, freshCorpus(corpus, out, s"p${passS.size}"), ops, noop)
      passS += (System.nanoTime() - t) / 1e9
      buildS += ops.list.drop(n).filter(_.family == "build").map(_.wallNs / 1e9).sum
    }
    window.end()
    for ((d, p) <- digests.zipWithIndex; ((got, want), i) <- d.zip(checked).zipWithIndex)
      if (got.isDefined && want.isDefined && got != want)
        ops.errors += s"timed pass $p call $i (${Pass(i)._1}): row digest ${got.get} " +
          s"differs from the checked output's ${want.get}"
    val bytesWritten = dirBytes(rt) - bytes0
    val timed = ops.list.toSeq
    val nPass = passS.size.toDouble
    val builds = timed.filter(o => o.ok && o.family == "build")
    val serves = timed.filter(o => o.ok && o.family == "serve")

    val oracle = SparkEntry.oracleSql
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("corpus", checkCorpus)
    val st = node.putObject("stages")
    Pass.map(_._1).distinct.foreach { s =>
      val e = st.putObject(s)
      e.put("calls", seen.getOrElse(s, 0))
      oracle.get(s).foreach(sql => e.put("oracle", sql))
    }
    val ds = node.putArray("digests")
    checked.foreach(d => ds.add(d.getOrElse("")))
    m.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out, "check.json"), node)

    val figs = mutable.LinkedHashMap.empty[String, (Double, String)]
    Seq("dedup", "ann", "text", "pipeline").foreach { f =>
      figs(s"stage.${f}_s") = (timed.filter(o => o.ok && family(o.kind) == f)
        .map(_.wallNs / 1e9).sum / nPass, "s")
    }
    ops.trace.foreach { tr =>
      val spans = tr.spans.toArray(Array.empty[Span])
      def spanMean(n: String) = {
        val xs = spans.filter(_.name == n).map(_.ms)
        if (xs.isEmpty) 0.0 else xs.sum / xs.length
      }
      figs("stage.construct_ms") = (spanMean("stage.construct"), "ms")
      figs("stage.exec_ms") = (spanMean("stage.exec"), "ms")
      tr.drain()
      val writes = tr.queries.toArray(Array.empty[tr.QueryEv])
        .filter(_.plan.contains("InsertIntoHadoopFsRelationCommand"))
      val publishMs = writes.filter(w => builds.exists { b =>
        w.qe.tracker.phases.get("analysis").exists(p =>
          p.startTimeMs >= b.startMs && p.startTimeMs <= b.endMs)
      }).map(_.durNs / 1e6).sum
      figs("artifacts.publish_ms") = (publishMs / nPass, "ms")
    }
    figs("artifacts.builds") = (builds.size / nPass, "count")
    figs("artifacts.serves") = (serves.size / nPass, "count")
    figs("artifacts.bytes_written") = (bytesWritten / nPass, "bytes")
    figs("artifacts.serve_ms") = (if (serves.isEmpty) 0.0
      else serves.map(_.wallNs / 1e6).sum / serves.size, "ms")
    Outcome(setupS, passS.toSeq, buildS.toSeq, serves.map(_.wallNs / 1e6), figs.toMap)
  }

  def artifactRoot(): java.io.File =
    new java.io.File(graft.sources.Sources.rtDir("")).getCanonicalFile

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length else 0L
}

/** An order-independent digest of a frame's rows, observed while the
  * action that materializes it runs: the row count and the sum of
  * per-row `xxhash64` values over every column, each reduced modulo a
  * prime so the sum cannot overflow. */
object Digest {
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    val h = pmod(xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*), lit(2147483647L))
    (df.observe(o, count(lit(1)).as("rows"), sum(h).as("hash")), o)
  }

  def get(o: Observation): String = {
    val r = scala.concurrent.Await.result(o.future, scala.concurrent.duration.Duration(60, "s"))
    s"${r.get(0)}:${r.get(1)}"
  }
}

/** The honest timed action: a noop sink writes every output column, so
  * Catalyst keeps every output expression (a `count()` lets it prune
  * them). */
object Materialize {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def computed(plan: LogicalPlan): Seq[Expression] = plan.collect {
    case p: Project => p.projectList
    case a: Aggregate => a.aggregateExpressions
  }.flatten.collect { case a: Alias => a.child }

  /** The timed action (a noop write of the frame under its digest
    * observation) keeps in its optimized plan every expression the frame
    * computes; the optimized plan of `count()` drops at least one. */
  def selfTest(spark: SparkSession, df: DataFrame): Option[String] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[LogicalPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = seen.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      noop(Digest.observe(df)._1)
      val written = Option(seen.poll(10, java.util.concurrent.TimeUnit.SECONDS))
      val want = computed(df.queryExecution.optimizedPlan)
      val counted = computed(df.groupBy().count().queryExecution.optimizedPlan)
      def covers(have: Seq[Expression]) = want.forall(e => have.exists(_.semanticEquals(e)))
      written match {
        case None => Some("noop write reported no query execution")
        case Some(p) if !covers(computed(p)) => Some("noop write dropped an output expression")
        case Some(_) if want.isEmpty || covers(counted) =>
          Some("count() kept every output expression; the test frame proves nothing")
        case _ => None
      }
    } finally spark.listenerManager.unregister(l)
  }
}
