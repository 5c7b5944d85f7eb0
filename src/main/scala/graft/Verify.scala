package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected query's result → parquet,
  * plus oracle_sql.json and gates.json (restricted to the selection) for
  * the DuckDB compare. Exits non-zero if any query failed; the JSON files
  * are written either way.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...] */
object Verify {
  /** Write each query to `$outDir/$name`, deleting what an earlier run
    * left there first, so a query that throws leaves no output at all
    * (an aborted write still leaves its empty directory; that goes too).
    * Returns the failures as (name, message). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, Harness.Query]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      val dir = new java.io.File(outDir, name)
      engine.Artifacts.deleteRecursively(dir)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(dir.getPath)
        None
      } catch { case e: Throwable =>
        engine.Artifacts.deleteRecursively(dir)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Harness.message(e))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — targeted re-checks
    val selected = Harness.select(args.lift(2))
    val spark = Harness.session("graft-verify")
    val failures = dump(spark, sfDir, outDir, selected)
    // oracleSql is read AFTER the dump: the PQ serve oracles render from
    // the model the dumped results used. Rows-only queries' gating specs
    // go to gates.json: the gate records these queries as rows-only,
    // and gates.json names the test that actually asserts each one.
    def write(file: String, m: Map[String, String]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), Harness.jsonObj(
        m.filter { case (k, _) => selected.contains(k) }
          .map { case (k, v) => k -> Harness.jsonStr(v) }))
    write("oracle_sql.json", SparkEntry.oracleSql)
    write("gates.json", SparkEntry.rowsOnlyGates)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} failed: ${failures.map(_._1).mkString(" ")}")
      sys.exit(1)
    }
  }
}
