package perfbench

import java.io.{File, FileReader}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.pipeline.Listings

/** One benchmark run of one workload in one JVM.
  *
  *   java -cp <classes>:<spark jars> perfbench.Runner <plan.properties>
  *
  * The plan (written by perfbench/run.py) names the workload, its inputs,
  * the number of timed passes and whether to trace. The runner sets up a
  * session, runs one warm-up pass that also writes every output the
  * correctness check needs, then the timed passes. It records raw
  * timestamps only and writes them to `<out_dir>/result.json`; every
  * derived number is computed by perfbench/metrics.py.
  *
  * In a traced run, odd passes carry the tracing listeners and even passes
  * run without them, so the run also measures the tracing overhead.
  */
object Runner {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  /** Epoch seconds with nanosecond resolution, on the same clock as the
    * millisecond timestamps Spark puts on listener events. */
  def now(): Double = anchorMs / 1e3 + (System.nanoTime() - anchorNs) / 1e9

  /** A timed operation: `build` is the call that constructs the work (the
    * query function, including any eager actions inside it), `exec` runs it. */
  final case class Op(name: String, build: () => AnyRef, exec: AnyRef => Unit)

  def main(args: Array[String]): Unit = {
    val mainStart = now()
    val plan = new java.util.Properties
    val in = new FileReader(args(0))
    try plan.load(in) finally in.close()
    def p(k: String): String =
      Option(plan.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    val out = new File(p("out_dir"))
    val sfDir = p("sf_dir")
    val cpus = p("cpus").toInt
    val timedPasses = p("passes").toInt
    val trace = p("trace") == "1"
    val queryNames = p("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = now()

    val registry = SparkEntry.queries
    def query(name: String): Op = {
      val fn = registry.getOrElse(name, sys.error(s"unknown query $name"))
      Op(name, () => fn(spark, sfDir),
        df => df.asInstanceOf[DataFrame].write.mode("overwrite").format("noop").save())
    }

    val sink = new File(out, "sink")
    val readbacks = ArrayBuffer.empty[(Int, Map[String, Long])]
    var currentPass = -1
    val ops: Seq[Op] = p("kind") match {
      case "queries" => queryNames.map(query)
      case "etl" =>
        val html = p("listings_dir")
        val csvOut = new File(sink, "csv").getPath
        val pqOut = new File(sink, "parquet").getPath
        def listings(): AnyRef = Listings.extract(Listings.readHtmlDir(spark, html)).toDF()
        Seq(
          Op("Listings.csv", () => listings(),
            df => Listings.writeCsv(df.asInstanceOf[DataFrame], csvOut)),
          Op("Listings.parquet", () => listings(),
            df => Listings.writePartitionedParquet(df.asInstanceOf[DataFrame], pqOut)),
          Op("Listings.readback", () => readBack(spark, csvOut, pqOut),
            frames => readbacks += currentPass -> collectReadBack(frames))
        ) ++ queryNames.map(query)
    }

    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // Warm-up pass: JIT, codegen and file-listing caches start filling here,
    // and each query's result lands in verify/<name> for the check after
    // timing. Timed passes of these driver-bound workloads keep speeding up
    // for minutes, so a run times a fixed number of passes: every run's
    // median pass sits at the same point of that curve.
    val verifyDir = new File(out, "verify")
    val warmup = ops.map { op =>
      val t0 = now()
      val err = attempt {
        val built = op.build()
        if (queryNames.contains(op.name))
          built.asInstanceOf[DataFrame].coalesce(1).write.mode("overwrite")
            .parquet(new File(verifyDir, op.name).getPath)
        else op.exec(built)
      }
      release()
      Map("op" -> op.name, "s" -> (now() - t0), "error" -> err.orNull)
    }
    val oracles = SparkEntry.oracleSqlFor(sfDir)
    verifyDir.mkdirs()
    java.nio.file.Files.writeString(new File(verifyDir, "oracle_sql.json").toPath,
      Json(queryNames.filter(oracles.contains).map(q => q -> oracles(q)).toMap))
    readbacks.clear()
    val setupEnd = now()

    val tracer = new Tracer
    val rnd = new scala.util.Random(p("seed").toLong)
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    while (pass < timedPasses) {
      currentPass = pass
      val traced = trace && pass % 2 == 1
      if (traced) tracer.attach(spark)
      // The pipeline is a fixed linear dataflow; query passes are shuffled.
      val order = if (p("kind") == "etl") ops else rnd.shuffle(ops)
      val passStart = now()
      order.foreach { op =>
        val t0 = now()
        var t1 = Double.NaN
        val err = attempt {
          val built = op.build()
          t1 = now()
          op.exec(built)
        }
        val t2 = now()
        if (t1.isNaN) t1 = t2 // build threw: the whole op counts as build
        if (traced) ListenerBusDrain(spark.sparkContext)
        val t3 = now()
        release()
        samples += Map("pass" -> pass, "traced" -> traced, "op" -> op.name,
          "t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> t3, "error" -> err.orNull)
      }
      val passEnd = now()
      var extra = Map.empty[String, Any]
      if (traced) {
        // Layer probes outside the timed pass: one direct Tables.apply per
        // fixture table, and the bytes and files the sinks left behind.
        val loadMs = Tables.names.map { t =>
          val s = System.nanoTime(); Tables(spark, sfDir, t); (System.nanoTime() - s) / 1e6
        }.sum
        val files = listFiles(sink)
        extra = Map("tables_load_ms" -> loadMs,
          "sink_files" -> files.size, "sink_bytes" -> files.map(_.length).sum)
        tracer.detach(spark)
      }
      passes += Map("pass" -> pass, "traced" -> traced,
        "start" -> passStart, "end" -> passEnd) ++ extra
      pass += 1
    }
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)

    val result = Map(
      "workload" -> p("workload"), "cpus" -> cpus,
      "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3,
      "main_start" -> mainStart, "setup_end" -> setupEnd,
      "session_ready" -> sessionReady, "warmup" -> warmup,
      "samples" -> samples, "passes" -> passes,
      "readback" -> readbacks.map { case (ps, v) => Map("pass" -> ps) ++ v },
      "peak_rss_kb" -> peakRssKb) ++ tracer.records
    java.nio.file.Files.writeString(new File(out, "result.json").toPath, Json(result))
    spark.stop()
  }

  /** Run `body`; on failure return the error with its root cause (wrappers
    * such as ExecutionException and SparkException unwrapped). */
  def attempt(body: => Unit): Option[Map[String, Any]] =
    try { body; None } catch {
      case e: Throwable =>
        var root = e
        while (root.getCause != null && root.getCause != root) root = root.getCause
        val msg = String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse("")
        Some(Map("class" -> e.getClass.getName, "root_class" -> root.getClass.getName,
          "root_message" -> msg.take(400)))
    }

  private def readBack(spark: SparkSession, csvOut: String, pqOut: String): AnyRef = {
    val fields = Listings.csvHeader.tail
    val pq = spark.read.parquet(pqOut)
    val pqAgg = pq.agg(count(lit(1)).as("rows"),
      (fields.map(f => count_if(col(f).isNull).as(s"null_$f")) ++ Seq(
        sum(Listings.parseValorPesos(col("Valor"))).as("price_sum"),
        countDistinct(col("dt")).as("partitions"))): _*)
    val csv = spark.read.option("header", "true").csv(csvOut)
    val csvAgg = csv.agg(count(lit(1)).as("csv_rows"),
      fields.map(f => count_if(col(f) === "N/A").as(s"csv_na_$f")): _*)
    Seq(pqAgg, csvAgg)
  }

  private def collectReadBack(frames: AnyRef): Map[String, Long] =
    frames.asInstanceOf[Seq[DataFrame]].flatMap { df =>
      val row = df.collect().head
      df.columns.indices.map(i => df.columns(i) -> (if (row.isNullAt(i)) 0L else row.getLong(i)))
    }.toMap

  private def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }
}

/** Tracing listeners: Spark jobs, completed stages with their task metrics,
  * RDD blocks stored, and a rollup of each action's final physical plan's SQL
  * metrics. Events keep Spark's own timestamps where Spark gives one; block
  * and plan records carry their arrival time (the runner drains the bus after
  * every traced query, so arrival precedes the next query's start). */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]
  private val blocks = new ConcurrentLinkedQueue[Map[String, Any]]
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "blocks" -> blocks.asScala.toSeq, "plans" -> plans.asScala.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { start =>
      jobs.add(Map("id" -> e.jobId, "start" -> start / 1e3, "end" -> e.time / 1e3))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Map("id" -> i.stageId,
      "end" -> i.completionTime.map(_ / 1e3).getOrElse(Runner.now()),
      "tasks" -> i.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_read" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks.add(Map("at" -> Runner.now(), "bytes" -> (b.memSize + b.diskSize)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def seconds(p: SparkPlan): Double = p.metrics.values.map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => 0.0
      }
    }.sum
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        val cls = p.getClass.getSimpleName
        if (cls.contains("Scan")) acc("scan_s") += seconds(p)
        else if (cls.contains("Aggregate")) acc("agg_s") += seconds(p)
        else if (cls == "SortExec") acc("sort_s") += seconds(p)
        else if (cls == "BroadcastExchangeExec") acc("broadcast_s") += seconds(p)
        else if (cls == "GenerateExec")
          acc("generate_rows") += p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
    }
    visit(qe.executedPlan)
    plans.add(Map("at" -> Runner.now()) ++ acc)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
