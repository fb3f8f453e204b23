package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on the
  * [[EngineSession]] Bench times, so the checked plans are the timed
  * ones. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = EngineSession.build(EngineSession.cpus)
    // fail fast, with one clear message, if the driver regenerated the
    // fixtures under a different physical schema (r10: events.ts went
    // timestamp[ns] → timestamp[us] and 51 queries died one by one)
    graft.ops.Sources.assertFixtureSchemas(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for focused runs (same contract
    // as Bench); default = all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): the single-file dump is only
      // so the driver's DuckDB compare reads one parquet per query —
      // but coalesce(1) COLLAPSES the whole (shuffle-free) query into
      // one task, which at a scaled fixture serialized a broadcast
      // nested-loop query into a 12-minute single-thread grind (r20
      // sf2 pass). The repartition shuffle keeps the computation at
      // full parallelism and single-tasks only the (small) result.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
