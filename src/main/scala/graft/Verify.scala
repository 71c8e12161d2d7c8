package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-loop filter (comma-separated names); unset in full runs.
    val queries = Harness.selectFromEnv("SPARK_GRAFT_VERIFY_ONLY")
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    Harness.runEach(spark, queries, "verify") { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
