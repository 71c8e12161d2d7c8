package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftPlanBridgeImpl

/** Pin an immutable relation hash-partitioned on the keys its consumers
  * iterate against — the cluster contract for iterative algorithms:
  * partition the big relation ONCE, then every join/agg keyed on those
  * columns reads it exchange-free.
  *
  * Why this needs its own helper: `df.repartition(k).localCheckpoint()`
  * does NOT deliver that contract under AQE. `Dataset.checkpoint` copies
  * `executedPlan.outputPartitioning` into the pinned `LogicalRDD`, but
  * with adaptive execution the executed plan is an
  * `AdaptiveSparkPlanExec`, whose statically-known partitioning is
  * unknown (the final plan doesn't exist until runtime) — so the pin
  * records UnknownPartitioning and EVERY downstream consumer plans its
  * own redundant Exchange over the checkpointed rows (observed: 4 extra
  * src-exchanges in q197's plan; the same holds for `persist`, since
  * Spark 4 lets AQE re-plan cached relations too). The fix is to compile
  * just the pin's subplan with AQE off: the subplan is a single static
  * shuffle that adaptive re-planning couldn't improve anyway, and the
  * resulting `LogicalRDD` then carries `hashpartitioning(keys, N)` that
  * all consumers (and `newInstance` self-join copies, which rewrite the
  * partitioning expressions along with the output) can reuse.
  * Downstream consumers still get full AQE.
  */
object Pinned {

  /** The pin of `df`: a checkpoint that truncates its lineage, so every
    * consumer reads one materialization. Lazy by default, so plan-only
    * consumers (explain audits, plan-assertion specs) never pay for it;
    * `eager` mirrors Spark's own `localCheckpoint(eager)` and is chosen
    * per call site.
    *
    * This is the one place the pin mode is decided, and it follows the
    * deployment instead of a project setting: pins are RELIABLE exactly
    * when the SparkContext has a checkpoint directory (Spark's own
    * `spark.checkpoint.dir`, or `setCheckpointDir`), and LOCAL otherwise.
    *   - Local (the harness default): the pinned blocks live only in
    *     executor storage, so on a real cluster an executor loss
    *     mid-query kills the job instead of recomputing (Spark logs that
    *     warning at every pin). The pins exist to stop corpus-sized
    *     re-scans and re-shuffles inside ONE query, and Bench/Verify are
    *     single-process, so that is the right trade there.
    *   - Reliable (a deployment that points the checkpoint dir at
    *     durable storage): every pin is written there, survives executor
    *     loss, and keeps the same plan shape and recorded partitioning,
    *     at the cost of one distributed-FS write per pin. The frame is
    *     persisted first, so Spark's checkpoint-write job reads the
    *     cached blocks instead of recomputing the subtree; [[release]]
    *     drops them between queries. The checkpoint files stay in the
    *     directory unless Spark's
    *     `spark.cleaner.referenceTracking.cleanCheckpoints` is on.
    * Pin SIZE is bounded by the callers: every pinned relation is either
    * census/vocabulary-sized or one |V|/|E|-row iterate of a loop —
    * never a multiple of the corpus (the corpus-sized ensemble base pins
    * toks+digests once INSTEAD of seven corpus scans; that trade is
    * documented at its call site). */
  def pin(df: DataFrame, eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    if (spark.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager)
    else {
      df.persist()
      // a fresh plan, so the checkpoint reads the cache just registered
      GraftPlanBridgeImpl.ofRows(spark, df.queryExecution.analyzed)
        .checkpoint(eager)
    }
  }

  /** Release every pin and cached relation `spark` holds. Harnesses call
    * it after each query execution: several queries pin blocks for
    * intra-query reuse (`persist` / lazy pins) and nothing inside the
    * query can release them, because the pin must outlive the query's own
    * action. One JVM running hundreds of queries otherwise accumulates
    * storage memory, which in round 7 slowed UNCHANGED queries up to 10×
    * (q129 3.4 s → 35.5 s with an identical plan). Safe because
    * every run rebuilds its DataFrame from scratch, so no later action
    * re-reads these blocks. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Lazy [[pin]] of `df` hash-partitioned on `keys`, with the
    * partitioning preserved in the pinned plan (see class doc). */
  def partitionedCheckpoint(df: DataFrame, keys: Column*): DataFrame =
    pinnedWithoutAqe(df)(d => pin(d.repartition(keys: _*)))

  /** Lazy [[pin]] that preserves the partitioning `df`'s plan
    * ALREADY ends in — for frames whose last operator is a keyed
    * aggregation/shuffle on exactly the keys consumers want (e.g. a
    * `groupBy(src)` adjacency build): [[partitionedCheckpoint]] would
    * append a REDUNDANT exchange (an explicit repartition over an
    * identically-partitioned child is not removed statically), while
    * compiling the subplan AQE-off and checkpointing directly records
    * the aggregation's own hashpartitioning in the LogicalRDD. The
    * caller states the keys consumers will iterate against, and this
    * helper VERIFIES the plan tail actually carries them: the tail's
    * HashPartitioning expressions must match `keys` semantically
    * (same attribute set, compared by exprId — names are resolved
    * case-insensitively against the plan output). That catches BOTH
    * misuse directions a bare isInstanceOf check misses: a tail
    * partitioned on the WRONG keys (the hash(sk, b) coarser-key trap —
    * silently re-shuffles at every consumer), and a projection/filter
    * tail that drops the partitioning entirely (records
    * UnknownPartitioning — the regression [[partitionedCheckpoint]]
    * exists to prevent). A PartitioningCollection tail is accepted when
    * ANY member is a matching HashPartitioning (joins report their
    * reusable placements that way), so a legitimately-partitioned
    * SMJ/BHJ tail is pinnable rather than rejected on shape. */
  def checkpointAsIs(df: DataFrame, keys: String*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{
      HashPartitioning, Partitioning, PartitioningCollection}
    require(keys.nonEmpty,
      "checkpointAsIs needs the consumer keys to verify the pin against")
    pinnedWithoutAqe(df) { d =>
      val exec = d.queryExecution.executedPlan
      val resolver = d.sparkSession.sessionState.analyzer.resolver
      val expected = keys.map { k =>
        exec.output.find(a => resolver(a.name, k)).getOrElse(
          throw new IllegalArgumentException(
            s"checkpointAsIs: key '$k' is not an output column " +
              s"(${exec.output.map(_.name).mkString(", ")})"))
      }
      def hashMembers(p: Partitioning): Seq[HashPartitioning] = p match {
        case h: HashPartitioning => Seq(h)
        case c: PartitioningCollection => c.partitionings.flatMap(hashMembers)
        case _ => Nil
      }
      val members = hashMembers(exec.outputPartitioning)
      val ok = members.exists { h =>
        h.expressions.length == expected.length &&
          h.expressions.forall(e => expected.exists(_.semanticEquals(e))) &&
          expected.forall(k => h.expressions.exists(k.semanticEquals))
      }
      require(ok,
        s"checkpointAsIs precondition violated: plan tail must carry " +
          s"HashPartitioning(${keys.mkString(", ")}) for consumers to " +
          s"reuse, got ${exec.outputPartitioning} — " +
          s"use partitionedCheckpoint(df, keys*) instead")
      pin(d)
    }
  }

  /** `pinOf(df)` with `df` planned in a clone of its session that has AQE
    * off (see class doc), handed back to the caller's session. The clone
    * carries every conf of the caller's session, but the caller's own conf
    * is never written, so jobs compiled concurrently on it (q303, q206)
    * keep AQE, and so do the pin's consumers. */
  private def pinnedWithoutAqe(df: DataFrame)(
      pinOf: DataFrame => DataFrame): DataFrame = {
    val spark = df.sparkSession
    val scoped = GraftPlanBridgeImpl.cloneSession(spark)
    scoped.conf.set("spark.sql.adaptive.enabled", "false")
    val pinned = pinOf(GraftPlanBridgeImpl.ofRows(scoped, df.queryExecution.analyzed))
    GraftPlanBridgeImpl.ofRows(spark, pinned.queryExecution.analyzed)
  }
}
