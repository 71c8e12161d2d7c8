package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExtendedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Pinned

/** The plans of the pins a query builds. A pin truncates lineage, so a
  * pinned subplan (one vote round, one relaxation hop) never shows in the
  * query's own plan; Spark reports each pin as a `localCheckpoint` or
  * `checkpoint` execution, and this captures those. The plan guards in
  * [[PlanAssertionsSpec]] read them, and `main` writes the same captures
  * as plan artifacts:
  *
  *   sbt "Test/runMain graft.PinPlans plans/pins q294_label_propagation ..."
  *
  * writes `<outDir>/<query>_pin<k>.txt` (extended explain, pins in build
  * order) for each named query at `SPARK_GRAFT_SF_DIR` (default sf0.001).
  */
object PinPlans {

  /** `build`'s frame and its pins' executions, in the order they ran. */
  def of(spark: SparkSession)(build: => DataFrame): (DataFrame, Seq[QueryExecution]) = {
    val pins = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" || f == "checkpoint") pins.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      GraftListenerBus.drain(spark.sparkContext)
      (df, pins.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", TestSpark.sfDir)
    val spark = GraftSession.create(confs = Harness.planConfs)
    Files.createDirectories(Paths.get(outDir))
    args.tail.foreach { name =>
      val (_, pins) = of(spark)(SparkEntry.queries(name)(spark, sfDir))
      pins.zipWithIndex.foreach { case (qe, k) =>
        val path = Paths.get(outDir, s"${name}_pin${k + 1}.txt")
        Files.writeString(path, qe.explainString(ExtendedMode))
        println(s"[pinplans] wrote $path")
      }
      Pinned.release(spark)
    }
    spark.stop()
  }
}
