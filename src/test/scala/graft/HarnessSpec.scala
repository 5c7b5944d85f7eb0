package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files

/** The shared harness: query selection, Bench's failure reporting and
  * Verify's dump, driven with a small query map that includes failures
  * at frame construction and at execution. */
class HarnessSpec extends SparkSpec {
  private val queries: Map[String, Harness.Query] = Map(
    "ok" -> ((s, _) => s.range(10).toDF("id")),
    "boom_ctor" -> ((_, _) => throw new IllegalStateException("no frame")),
    // fails only when a task evaluates the filter
    "boom_exec" -> ((s, _) => s.range(3).toDF("id").filter("assert_true(id < 0) is null")))

  test("Harness.select throws on an unknown query name") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Some("q1_pricing_summary,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(Harness.select(Some("q1_pricing_summary")).keySet == Set("q1_pricing_summary"))
    assert(Harness.select(None).keySet == SparkEntry.queries.keySet)
  }

  test("Bench records a throwing query as null plus an errors entry, outside the total") {
    val layers = new Harness.Layers(spark)
    val results = try Bench.measure(spark, sf, queries, runs = 1, runsHeavy = 1, layers)
      finally layers.close()
    val json = new ObjectMapper().readTree(s"{${Bench.fields(results)}}")
    assert(json.get("queries").get("ok").isNumber)
    assert(json.get("errors").size == 2)
    Seq("boom_ctor", "boom_exec").foreach { n =>
      assert(json.get("queries").get(n).isNull, n)
      assert(json.get("spread").get(n).isNull, n)
      assert(json.get("errors").get(n).isTextual, n)
    }
    assert(json.get("errors").get("boom_ctor").asText.contains("no frame"))
    val ok = results("ok").toOption.get
    assert(Bench.total(results) == ok._1.wall)
    assert(ok._1.jobs >= 1 && ok._1.tasks >= 1, ok._1)
  }

  test("Verify's dump reports each failure and leaves no output directory for it") {
    val out = Files.createTempDirectory("graft_verify").toFile
    // an earlier run's output must not survive a failing rerun
    val stale = new java.io.File(out, "boom_exec")
    stale.mkdirs()
    Files.writeString(new java.io.File(stale, "part-0.parquet").toPath, "stale")
    val failures = Verify.dump(spark, sf, out.getPath, queries)
    assert(failures.map(_._1).toSet == Set("boom_ctor", "boom_exec"))
    assert(!stale.exists() && !new java.io.File(out, "boom_ctor").exists())
    assert(spark.read.parquet(s"$out/ok").count() == 10)
    engine.Artifacts.deleteRecursively(out)
  }
}
