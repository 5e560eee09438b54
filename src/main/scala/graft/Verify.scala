package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (iteration aid; the driver always runs the full suite)
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val spark = graft.jobs.Jobs.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // a thrown query is a hard failure: record it, keep dumping the
    // rest, and exit nonzero at the end — r4 proved a stderr line alone
    // lets breakage sail through the driver unseen
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries are independent; drop any frames a query persisted and
      // didn't release (mirrors Bench) so one leak can't pin memory for
      // the remaining ~200 queries
      spark.catalog.clearCache()
    }
    def q(s: String): String = Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
