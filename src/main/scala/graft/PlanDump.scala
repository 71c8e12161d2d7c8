package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round plan artifacts: write `.explain("formatted")` for the
  * named declared queries (all by default) to <outDir>/<name>_<tag>.txt so
  * plan claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.PlanDump plans/r19 before q291_reach_sketch_census ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val tag = args.drop(1).headOption.getOrElse("before")
    val queries = Harness.select(args.drop(2).toSeq)
    val sfDir = Harness.sfDir
    val spark = GraftSession.create(confs = Harness.planConfs)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    Harness.runEach(spark, queries, "plandump") { (n, fn) =>
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
      println(s"[plandump] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
