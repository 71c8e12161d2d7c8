package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.TestCheckpointDir.withCheckpointDir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Pinned

/** The one pin policy: nothing outside [[Pinned]] pins, pins turn reliable
  * exactly when the SparkContext has a checkpoint directory, reliable pins
  * match local ones and compute their subplan once, and the keyed pins'
  * AQE-off planning never writes the caller's session conf. */
class PinnedSpec extends SparkSpec {

  private def sc = spark.sparkContext

  private def keyed: DataFrame = {
    val s = spark
    import s.implicits._
    spark.range(0, 2000).select(($"id" % 37).as("k"), ($"id" % 11).as("v"))
      .groupBy($"k").agg(sum($"v").as("sv"))
  }

  /** The hash placement a pin recorded, as (key names, partitions). */
  private def recorded(pinned: DataFrame): Option[(Seq[String], Int)] =
    pinned.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        Some((h.expressions.collect { case a: Attribute => a.name }, h.numPartitions))
      case _ => None
    }

  /** The RDD checkpoints Spark wrote under `dir` (one `rdd-<id>` each). */
  private def checkpointsUnder(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.getName.startsWith("rdd-")) Seq(f) else checkpointsUnder(f)
    }

  private def withReliablePins[T](body: File => T): T = {
    val dir = Files.createTempDirectory("graft-pins").toFile
    try withCheckpointDir(sc, dir.getPath)(body(dir))
    finally Pinned.release(spark)
  }

  test("no main source calls localCheckpoint or checkpoint outside Pinned") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val hits = sources(root).filter(_.getName != "Pinned.scala").flatMap { f =>
      val code = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
      call.findAllMatchIn(code).map(m => s"${f.getPath}: ${m.matched}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("with a checkpoint dir every pin is reliable: same rows and placement as local, files written") {
    val s = spark
    import s.implicits._
    val pins = Seq[DataFrame => DataFrame](
      Pinned.pin(_),
      Pinned.partitionedCheckpoint(_, $"k"),
      Pinned.checkpointAsIs(_, "k"))
    def observe(pinned: DataFrame) =
      (pinned.collect().map(_.toString).sorted.toSeq, recorded(pinned))
    val local = pins.map(p => observe(p(keyed)))
    val (reliable, written) = withReliablePins { dir =>
      (pins.map(p => observe(p(keyed))), checkpointsUnder(dir).size)
    }
    assert(reliable == local)
    assert(local.map(_._2.map(_._1)) == Seq(None, Some(Seq("k")), Some(Seq("k"))),
      "the keyed pins record hash(k); the plain pin records no placement")
    assert(written == pins.size, "one reliable checkpoint per pin")
    assert(sc.getCheckpointDir.isEmpty, "the spec restores local mode")
  }

  test("a pin computes its subplan once across two actions, reliable or local") {
    val rows = sc.longAccumulator("pinned-rows")
    val tick = udf((x: Long) => { rows.add(1); x })
    def twoActions(): Unit = {
      val p = Pinned.pin(spark.range(0, 500, 1, 4).select(tick(col("id")).as("id")))
      assert(p.count() == 500)
      assert(p.agg(sum("id")).head().getLong(0) == 124750L)
    }
    withReliablePins(_ => twoActions())
    assert(rows.value == 500, "the reliable checkpoint write must read the persisted rows")
    rows.reset()
    twoActions()
    assert(rows.value == 500)
  }

  test("keyed pins plan AQE-off without writing the caller's conf; consumers keep AQE") {
    val s = spark
    import s.implicits._
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) == "true")
    val sawOff = new AtomicBoolean(false)
    val done = new AtomicBoolean(false)
    val watcher = new Thread(() =>
      while (!done.get) if (spark.conf.get(aqe) != "true") sawOff.set(true))
    watcher.start()
    val pinned = try (1 to 20).flatMap { _ =>
      Seq(Pinned.partitionedCheckpoint(keyed, $"k"), Pinned.checkpointAsIs(keyed, "k"))
    } finally { done.set(true); watcher.join() }
    assert(!sawOff.get, s"the caller's session saw $aqe=false while pins were planned")
    pinned.foreach { p =>
      assert(p.sparkSession eq spark, "the pin comes back on the caller's session")
      assert(recorded(p).map(_._1).contains(Seq("k")))
      val consumer = p.groupBy($"sv").count()
      assert(consumer.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    }
  }

  test("q329 matches its DuckDB oracle with reliable pins") {
    val name = "q329_bpe_merge_loop"
    val out = Files.createTempDirectory("graft-q329").toFile
    val pinsWritten = withReliablePins { dir =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      checkpointsUnder(dir).size
    }
    assert(pinsWritten > 0, "q329's pins were not reliable")
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(java.util.Map.of(name, SparkEntry.oracleSqlFor(sfDir)(name)))
    Files.writeString(new File(out, "oracle_sql.json").toPath, oracle)
    val log = new StringBuilder
    val exit = Process(Seq("python3", "tools/check.py", out.getPath))
      .!(ProcessLogger(l => log ++= l + "\n", l => log ++= l + "\n"))
    assert(exit == 0 && log.toString.contains(s"PASS $name"), log.toString)
  }
}
