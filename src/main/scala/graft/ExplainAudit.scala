package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit surface: execute the named declared queries (all of them by
  * default) and print each final physical plan — post-execution, so what
  * prints is the AQE-final plan, not the initial sketch. Plans drift with
  * parallelism (AQE coalescing at 32 cores differs from 4), so audits run
  * at the driver's CPU count:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "runMain graft.ExplainAudit q43_dedup_ngram_jaccard"
  *
  * docs/PLANS.md holds the checked-in audit notes.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val sweepAll = args.headOption.contains("sweep")
    val queries = Harness.select(if (sweepAll) Nil else args.toSeq)
    val spark = GraftSession.create(confs = Harness.planConfs)
    if (sweepAll) sweep(spark, queries.sortBy(_._1), sfDir) // name order, as in docs/PLANS.md
    else Harness.runEach(spark, queries, "explain") { (n, fn) =>
      val df = fn(spark, sfDir)
      df.collect()
      println(s"\n==== $n ====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }

  /** `runMain graft.ExplainAudit sweep` — plan-hygiene sweep over every
    * declared query: compile (not execute) each plan and report every
    * window with NO partition keys, i.e. the shape that plans
    * `Exchange SinglePartition` and funnels its whole input through one
    * task. For each hit, print what the window actually runs over: the
    * grouping keys of the first aggregate below it (a bounded table —
    * e.g. the two-pass pid offsets, a month lattice, a ≤k bucket) or
    * `RAW INPUT` (an un-collapsed relation — a scale bug; the round-9
    * q213 class can never silently re-enter). The checked-in sweep
    * output with the per-hit bounded/unbounded adjudication lives in
    * docs/PLANS.md.
    */
  private def sweep(spark: SparkSession, queries: Seq[(String, Harness.Query)],
      sfDir: String): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.LimitExec
    def basisBelow(p: SparkPlan): String = p match {
      case a: BaseAggregateExec =>
        if (a.groupingExpressions.isEmpty) "agg keys=[] (1 row)"
        else s"agg keys=[${a.groupingExpressions.map(_.name).mkString(",")}]"
      case l: LimitExec => s"limit(${l.nodeName})"
      // rank-filter top-k: the partial limit prunes each group to k rows
      // PER MAPPER before the shuffle — the window's input is bounded by
      // cluster·k, not by the data
      case g if g.nodeName.contains("WindowGroupLimit") => "group-limit"
      case leaf if leaf.children.isEmpty => "RAW INPUT"
      case other =>
        val kids = other.children.map(basisBelow)
        kids.find(_ == "RAW INPUT").getOrElse(kids.headOption.getOrElse("RAW INPUT"))
    }
    // Columns whose value domain is a handful of constants: a window
    // PARTITIONED solely on these over un-collapsed input is the q212
    // class — the cluster collapses to |domain| sort tasks.
    val lowCard = Set("o_orderpriority", "prio", "l_returnflag",
      "l_linestatus", "c_mktsegment", "o_orderstatus", "lang", "split",
      "event_type", "variant", "label", "n_name", "r_name", "p_brand")
    var hits = 0
    Harness.runEach(spark, queries, "sweep") { (n, fn) =>
      val plan = fn(spark, sfDir).queryExecution.sparkPlan
      plan.collect { case w: WindowExec => w }.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
        val global = keys.isEmpty
        val lowOnly = keys.nonEmpty && keys.forall(lowCard.contains)
        if (global || lowOnly) {
          val basis = basisBelow(w.child)
          // low-card keyed windows are only a finding when the input
          // is NOT already collapsed to a bounded table
          if (global || basis == "RAW INPUT") {
            hits += 1
            val head = w.windowExpression.map(_.name).mkString(",")
            val kind = if (global) "global window"
                       else s"low-card window [${keys.mkString(",")}]"
            println(s"SWEEP $n: $kind [$head] over $basis")
          }
        }
      }
    }
    println(s"SWEEP done: $hits window site(s) flagged across " +
      s"${queries.size} queries")
  }
}
