package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Fixpoint

/** The two shared loop operators on planted inputs: the min-label
  * fixpoint's labels and its one gate job per round, and the greedy
  * merge loop's rounds and its one driver collect per round. */
class FixpointSpec extends SparkSpec {

  /** A session clone with AQE and size-based broadcasts off: each action
    * is then exactly one Spark job, so job counts are action counts. */
  private lazy val plain: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Undirected edges both ways plus a self-loop per node, and (v, v) seeds. */
  private def graph(s: SparkSession, undirected: Seq[(Long, Long)]): (DataFrame, DataFrame) = {
    import s.implicits._
    val nodes = undirected.flatMap { case (a, b) => Seq(a, b) }.distinct
    val edges = (undirected ++ undirected.map(_.swap) ++ nodes.map(v => (v, v)))
      .toDF("src", "dst")
    (edges, nodes.map(v => (v, v)).toDF("node", "lab"))
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val chain = (1L to 4L).map(v => (v, v + 1))           // 1-2-3-4-5
  private val star = Seq(7L, 9L, 11L, 12L).map(v => (20L, v))   // center 20
  private val twoComponents = Seq((3L, 2L), (2L, 1L), (10L, 11L))

  for (jump <- Seq(false, true)) {
    test(s"minLabels labels each node with its component minimum (pointerJump=$jump)") {
      def run(g: Seq[(Long, Long)]): Map[Long, Long] = {
        val (edges, seeds) = graph(spark, g)
        labelsOf(Fixpoint.minLabels(edges, seeds, pointerJump = jump))
      }
      assert(run(chain) == (1L to 5L).map(_ -> 1L).toMap)
      assert(run(star) == Seq(20L, 7L, 9L, 11L, 12L).map(_ -> 7L).toMap)
      assert(run(twoComponents) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  /** Spark jobs `body` starts from this thread, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"fixpoint-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("minLabels runs exactly one Spark job per round: the label-sum gate") {
    // on the chain 1..5 the minimum moves one hop per plain round: labels
    // change in rounds 1-4 and round 5 confirms the fixpoint; with the
    // pointer jump it moves two hops, so rounds 1-2 change and round 3
    // confirms. One gate before the loop plus one per round.
    val (edges, seeds) = graph(plain, chain)
    assert(jobsOf(Fixpoint.minLabels(edges, seeds)) == 1 + 5)
    assert(jobsOf(Fixpoint.minLabels(edges, seeds, pointerJump = true)) == 1 + 3)
  }

  /** The test's BPE argmax: the most frequent adjacent pair, ties to the
    * lexicographically smallest, as a ≤1-row (pair, cnt) frame. */
  private def topPair(v: DataFrame): DataFrame =
    v.select(col("freq"), split(trim(col("seg")), "  ").as("syms"))
      .filter(size(col("syms")) > 1)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> syms[i - 1] || ' ' || syms[i])"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(1)

  test("greedyMerges merges greedily, stops when pairs run out, one collect per round") {
    val s = spark.newSession()
    import s.implicits._
    val collects = new AtomicInteger
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") collects.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // "a b" (5 + 1) beats "a a" (1); then only "a ab" is left; then none
    val vocab = Seq(("ab", 5L, " a  b "), ("aab", 1L, " a  a  b "))
      .toDF("w", "freq", "seg")
    val merges = Fixpoint.greedyMerges(vocab, 5, topPair)
    TestListenerBus.drain(s.sparkContext)
    assert(merges.map(m => (m.round, m.pair, m.merged, m.top.getLong(1), m.vocabSyms)) ==
      Seq((1, "a b", "ab", 6L, 2L), (2, "a ab", "aab", 1L, 2L)))
    assert(collects.get == 1 + merges.size) // the first argmax + one gate per round
    // a round cap below exhaustion stops the loop at the cap
    assert(Fixpoint.greedyMerges(vocab, 1, topPair).map(_.pair) == Seq("a b"))
  }
}
