package graft

import java.util.concurrent.ExecutionException

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Pinned

class HarnessSpec extends SparkSpec {

  private val declared: Map[String, Harness.Query] =
    Seq("qa", "qb", "qc").map(n => n -> ((s: SparkSession, _: String) => s.range(1).toDF())).toMap

  test("select: unset, empty and blank filters mean every declared query") {
    val all = declared.toSeq.map(_._1)
    assert(Harness.select(Nil, declared).map(_._1) == all)
    assert(Harness.select("".split(",").toSeq, declared).map(_._1) == all)
    assert(Harness.select(" , ,".split(",").toSeq, declared).map(_._1) == all)
  }

  test("select: named queries run in the given order, once each") {
    assert(Harness.select(" qc, qa ,qc".split(",").toSeq, declared).map(_._1) == Seq("qc", "qa"))
  }

  test("select: unknown names fail up front and are all listed") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("qa", "q_typo", "qz"), declared))
    assert(e.getMessage.contains("unknown queries: q_typo, qz"))
    assert(Harness.select(Seq("q290_widest_path_census")).map(_._1) ==
      Seq("q290_widest_path_census"))
  }

  test("rootCause names an IllegalStateException wrapped twice, first message line only") {
    val root = new IllegalStateException("panel width 65 > 64\nsecond line")
    val wrapped = new SparkException("Job aborted", new ExecutionException("boom", root))
    assert(Harness.rootCause(wrapped) == "java.lang.IllegalStateException: panel width 65 > 64")
    assert(Harness.rootCause(new RuntimeException()) == "java.lang.RuntimeException: ")
  }

  test("runEach returns each failure's root cause, runs the rest, and releases pins after each") {
    Pinned.release(spark)
    val pinnedAtStart = ArrayBuffer[Int]()
    val out = Harness.runEach(spark, declared.toSeq, "spec") { (name, fn) =>
      pinnedAtStart += spark.sparkContext.getPersistentRDDs.size
      Pinned.pin(fn(spark, sfDir), eager = true)
      if (name == "qb") throw new SparkException("wrapper", new IllegalStateException("bad qb"))
      name
    }
    assert(pinnedAtStart == Seq(0, 0, 0))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(out == declared.toSeq.map { case (n, _) =>
      n -> (if (n == "qb") Left("java.lang.IllegalStateException: bad qb") else Right(n))
    })
  }

  test("Bench layer counters hold every event of a finished action, even behind a slow listener") {
    val sc = spark.sparkContext
    // a listener ahead of the counters on the same queue keeps task events
    // queued after the action returns, as a busy listener bus does
    val slow = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    val layers = new Bench.Layers(sc)
    sc.addSparkListener(slow)
    sc.addSparkListener(layers)
    try {
      (1 to 3).foreach { _ =>
        layers.reset()
        sc.parallelize(1 to 1000, 3).map(x => (x % 7, x)).reduceByKey(_ + _, 2).count()
        val got = Bench.Layers.fields.zip(layers.snapshot()).toMap
        assert((got("jobs"), got("stages"), got("tasks")) == ((1.0, 2.0, 5.0)))
        assert(got("shuffle_mb") > 0 && got("task_s") >= 0 && got("spill_mb") == 0)
      }
    } finally {
      sc.removeSparkListener(layers)
      sc.removeSparkListener(slow)
    }
  }

  test("plan tools' session explains q290 untruncated") {
    def explain(s: SparkSession): String = {
      SparkSession.setActiveSession(s)
      try SparkEntry.queries("q290_widest_path_census")(s, sfDir)
        .queryExecution.explainString(FormattedMode)
      finally { SparkSession.setActiveSession(spark); Pinned.release(spark) }
    }
    val tools = spark.newSession()
    Harness.planConfs.foreach { case (k, v) => tools.conf.set(k, v) }
    assert(explain(spark).contains("more fields")) // the default truncates
    assert(!explain(tools).contains("more fields"))
  }
}
