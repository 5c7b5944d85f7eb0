package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** A query's fastest run and its slowest wall seconds, or the message
    * of the run that threw — a failure is never recorded as a time. */
  type Outcome = Either[String, (Harness.Run, Double)]

  /** The dedup/ANN family is the most GC/cache-sensitive (checkpointed
    * signatures, broadcast candidate sets); it gets `runsHeavy` runs so a
    * single perturbed execution can't define the reported minimum. */
  private def heavy(name: String): Boolean = name.startsWith("dedup_") || name.startsWith("ann_")

  /** Warm-run protocol, matching the reference's published numbers and
    * its own harness (paper §7.1 reports WARM latencies; in-repo
    * DPPerfBenchmarks uses runCount=7): each query runs `runs` times
    * (`runsHeavy` for [[heavy]] ones) and the minimum is reported.
    * Spark's data cache is cleared between runs — only code paths
    * (codegen, JIT) stay warm, the data is re-read every run. The
    * fastest run's layer line goes to stderr. */
  def measure(spark: SparkSession, sfDir: String, queries: Map[String, Harness.Query],
      runs: Int, runsHeavy: Int, layers: Harness.Layers): Map[String, Outcome] = {
    // Throwaway execution of one REAL query before any timing: the
    // generic warmup doesn't touch the aggregate/shuffle codegen paths,
    // so the first timed query absorbed ~1.6 s of residual session
    // warmup (r3: nextk_basic 1.78 s vs the identically-shaped
    // nextk_desc 0.17 s) — distorting cross-round comparisons whenever
    // Bench runs with SPARK_GRAFT_RUNS=1.
    val warmFailure = queries.headOption.flatMap { case (name, fn) =>
      val failed = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(name -> Harness.message(e)) }
      Harness.quiesce(spark)
      failed
    }.toMap
    queries.map { case (name, fn) =>
      name -> (warmFailure.get(name) match {
        case Some(err) => Left(err)
        case None =>
          try {
            val rs = (1 to (if (heavy(name)) runsHeavy else runs)).map { _ =>
              Harness.quiesce(spark)
              layers.time(fn(spark, sfDir))(_.count())
            }
            val best = rs.minBy(_.wall)
            System.err.println(best.line(name))
            Right((best, rs.map(_.wall).max))
          } catch { case e: Throwable => Left(Harness.message(e)) }
      })
    }
  }

  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Seconds of the queries that succeeded. */
  def total(results: Map[String, Outcome]): Double =
    results.values.collect { case Right((best, _)) => best.wall }.sum

  /** The `queries` (min seconds), `spread` and `errors` fields: a failed
    * query is null in `queries` and `spread` and has its message in
    * `errors`. The per-query run spread (max/min across this session's
    * runs) sits next to the min map because maps disagreed 1.3-2x on the
    * tail purely from host noise — a consumer can tell "this 2.1 swung
    * 1.9-3.8 across runs" from the line alone. Separate top-level fields
    * keep the `queries` name->seconds contract untouched. */
  def fields(results: Map[String, Outcome]): String = {
    def field(f: ((Harness.Run, Double)) => Double) = Harness.jsonObj(
      results.map { case (k, v) => k -> v.fold(_ => "null", r => fmt(f(r))) })
    val queries = field(_._1.wall)
    val spread = field { case (best, max) => if (best.wall > 0) max / best.wall else 1.0 }
    val errors = Harness.jsonObj(results.collect { case (k, Left(e)) => k -> Harness.jsonStr(e) })
    s""""queries":$queries,"spread":$spread,"errors":$errors"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated query-name filter for profiling runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = Harness.select(only)
    val spark = Harness.session("graft-bench")
    Harness.warm(spark, sfDir)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // The dedup_/ann_ family actually executes max(runs, 3) runs, so a
    // top-level "runs" alone would misstate the denominator behind
    // min/spread for exactly the noisiest family the spread field exists
    // for. `runs_heavy` is emitted next to it: the two fields plus the
    // name-prefix rule fully determine every query's run count.
    val runsHeavy = math.max(runs, 3)
    val results = measure(spark, sfDir, selected, runs, runsHeavy, new Harness.Layers(spark))
    // ann_pq_build phase attribution (train vs encode) from the build's
    // driver-side receipt — a separate top-level field, NOT a queries
    // entry (its two phases are already inside ann_pq_build's total).
    // Attached only when THIS run executed the build: the scratch dir
    // outlives JVMs, and a stale receipt must not pose as this run's.
    val buildSplit = try {
      val p = java.nio.file.Paths.get(
        SparkEntry.pqScratch(sfDir), "build_receipt.json")
      if (selected.contains("ann_pq_build") && java.nio.file.Files.exists(p)) {
        // parse before splicing: a truncated/corrupt receipt must not
        // break the whole bench JSON line — splice the re-serialized
        // (validated) object, or omit the field
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        if (node != null && node.isObject)
          s""","ann_pq_build_split":${node.toString}"""
        else ""
      } else ""
    } catch { case _: Throwable => "" }
    // round-stamped map filename, resolved BEFORE the JSON is built so
    // the line can carry it machine-readably: historically the round-N
    // bench map has landed in bench_out_r{N+1}.json (the CORRECTNESS
    // inference below runs before the driver commits round N's
    // artifact) — the "bench_map" field makes the offset self-describing
    // instead of tribal knowledge. Probe (SPARK_GRAFT_ONLY) runs write
    // no files and carry no field.
    val round = sys.env.get("SPARK_GRAFT_ROUND").orElse {
      // infer: this round = highest committed CORRECTNESS_r{N} + 1
      val re = "CORRECTNESS_r(\\d+)\\.json".r
      val prev = Option(new java.io.File(".").list()).toSeq.flatten
        .collect { case re(n) => n.toInt }
      prev.maxOption.map(n => (n + 1).toString)
    }
    // cpu-suffixed map files (r15 verdict #1): the driver's low-core
    // SCALING run used to clobber the 32-core primary map (r15 lost its
    // 32-core map to the 8-core rerun). Any run at a non-default core
    // count now writes bench_out_c{cpus}.json / bench_out_r{N}_c{cpus}
    // .json instead — the 32-core names are only ever written by 32-core
    // runs, so the primary map survives the scaling pass.
    val cpuSuffix = if (Harness.cpus == 32) "" else s"_c${Harness.cpus}"
    val benchMap = if (only.isEmpty)
      round.map(r => s"bench_out_r$r$cpuSuffix.json") else None
    val mapField = benchMap.map(f => s""","bench_map":"$f"""").getOrElse("")
    val json =
      s"""{"metric":"total","value":${fmt(total(results))},"unit":"sec","runs":$runs,"runs_heavy":$runsHeavy,"heavy_prefixes":["dedup_","ann_"],${fields(results)},"sf":"$sfDir"$buildSplit$mapField}"""
    spark.stop()
    // The full per-query line is >2 KB (150+ queries), so a 2000-char
    // stdout tail cannot hold it whole. Survival strategy:
    //   1. full JSON printed first (whole-capture consumers get it even
    //      if something after it fails),
    //   2. durable file artifacts: bench_out.json (driver contract) and
    //      a round-stamped bench_out_r{N}.json, both written ONLY by
    //      full runs — a SPARK_GRAFT_ONLY profiling/probe run must not
    //      clobber the full map (r4 lost bench_out.json to exactly such
    //      a probe) — with the round-stamped copy committed to git,
    //   3. the same full JSON again as the LAST line (the r3/r4 driver
    //      contract: one parseable {"metric",...,"queries"} line at the
    //      end, nothing after it).
    println(json)
    if (only.isEmpty) {
      val files = Seq(java.nio.file.Paths.get(s"bench_out$cpuSuffix.json")) ++
        benchMap.map(java.nio.file.Paths.get(_))
      files.foreach { p =>
        try java.nio.file.Files.writeString(p, json + "\n")
        catch { case _: Throwable => () }
      }
    }
    println(json)
    System.out.flush()
  }
}
