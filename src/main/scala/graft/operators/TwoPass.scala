package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable global/grouped ranking — the two-pass range-partitioned form
  * of `row_number()` / cumulative sums over a TOTAL order, extracted from
  * q181's dense-id assignment so every "rank the whole table" query
  * shares one audited implementation.
  *
  * Why this exists: `Window.orderBy(...)` with no `partitionBy` (and its
  * low-cardinality `partitionBy(prio)` cousin) plans
  * `Exchange SinglePartition` — Spark funnels EVERY row through one task
  * to sort it. A global *sort* range-partitions across the cluster; a
  * global *window* does not (verified by plan execution in round 9's
  * audit of q213). At 10⁸–10⁹ rows that one task is the whole job's
  * wall-clock, so any rank/ntile/cumulative query over unbounded input
  * must not contain such a window.
  *
  * The two-pass form instead:
  *   1. `repartitionByRange` on the order keys (range-partitioned sort —
  *      the scalable total-order primitive), stamp
  *      `spark_partition_id()`, and PIN the result with a lazy
  *      [[Pinned.pin]]. The pin is load-bearing: `RangePartitioner`
  *      samples its boundaries per job, so without it the offsets job
  *      and the ranks job could observe DIFFERENT cuts and the offsets
  *      would not match the pids they are joined back to. With the pin,
  *      the result is also INVARIANT to wherever the sampled cuts land:
  *      within-partition rank + preceding-partition counts = global
  *      rank, for any cut placement.
  *   2. Aggregate per-(pid, group) partials (counts, value sums) — a
  *      ≤ numParts·|groups|-row table — and prefix-combine them over pid
  *      with a window over THAT tiny table (the only
  *      single-partition-per-group window left, bounded by numParts, not
  *      by the data).
  *   3. Rank WITHIN each range partition (parallel windows keyed on
  *      (pid, group)) and add the broadcast per-partition offsets.
  *
  * Ties: callers must supply a strict total order (tie-break on a key
  * column) when the rank itself is output — the same contract the
  * single-window form needs for engine-invariant results. Equal range
  * keys always land in one partition (`RangePartitioner` places by key
  * value), so order statistics at a given position are well-defined even
  * under ties.
  *
  * Fault-tolerance/footprint trade of the pin: the pinned copy holds a
  * data-sized footprint for the job's duration — the price of
  * cut-placement invariance. Without a checkpoint directory it is a
  * local checkpoint with lineage TRUNCATED, so losing an executor
  * mid-job fails the job (a retry re-runs the query; right for the
  * minutes-long batch shape here). A deployment that sets Spark's
  * checkpoint directory to durable storage gets a reliable pin instead
  * — same materialized cuts, survivable blocks, one distributed-FS
  * write ([[Pinned.pin]] documents the mode).
  */
object TwoPass {

  private val PID = "__tp_pid"
  private val LRN = "__tp_lrn"
  private val LCUM = "__tp_lcum"
  private val PN = "__tp_pn"
  private val PS = "__tp_ps"
  private val OFF = "__tp_off"
  private val COFF = "__tp_coff"

  /** Default partition count: the session's shuffle parallelism — the
    * cluster-sized choice (the offsets table stays ≤ that many rows per
    * group, trivially broadcastable at any setting). Platforms that set
    * `spark.sql.shuffle.partitions` to a non-numeric sentinel (e.g.
    * "auto" under Databricks AQE) fall back to the context's default
    * parallelism — any positive cluster-sized value is correct here,
    * the constant only sizes the range partitioning.
    */
  private def defaultParts(df: DataFrame): Int =
    scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)

  /** `df` + global 1-based `row_number` over `order` (`rnCol`, LongType)
    * + total row count (`nCol`, LongType) — no single-partition window
    * over the data.
    */
  def rankWithCount(df: DataFrame, rnCol: String, nCol: String,
                    order: Column*): DataFrame =
    ranked(df, defaultParts(df), Nil, order, None, rnCol, nCol, null)

  /** Per-`group` variant: 1-based `row_number` and row count WITHIN each
    * group value, over input range-partitioned on (group, order) — so
    * sort parallelism is O(cluster), not O(|groups|), even when `group`
    * has a handful of values (the q212/q281 shape).
    */
  def groupedRankWithCount(df: DataFrame, group: Seq[String], rnCol: String,
                           cntCol: String, order: Column*): DataFrame =
    ranked(df, defaultParts(df), group, order, None, rnCol, cntCol, null)

  /** Global rank + INCLUSIVE running sum of `value` over the total order
    * (`cumCol`, same type family as sum(value)): per-partition running
    * sums + broadcast prefix offsets.
    */
  def rankAndRunningSum(df: DataFrame, rnCol: String, nCol: String,
                        cumCol: String, value: Column,
                        order: Column*): DataFrame =
    ranked(df, defaultParts(df), Nil, order, Some(value), rnCol, nCol, cumCol)

  /** Per-`group` rank + count + INCLUSIVE running sum of `value` in one
    * two-pass — the scalable form of
    * `sum(v) OVER (PARTITION BY low_card_group ORDER BY ...)`, which
    * otherwise serializes the whole input onto |groups| sort tasks.
    */
  def groupedRankAndRunningSum(df: DataFrame, group: Seq[String],
                               rnCol: String, cntCol: String, cumCol: String,
                               value: Column, order: Column*): DataFrame =
    ranked(df, defaultParts(df), group, order, Some(value), rnCol, cntCol,
      cumCol)

  private def ranked(df: DataFrame, numParts: Int, group: Seq[String],
                     order: Seq[Column], value: Option[Column], rnCol: String,
                     nCol: String, cumCol: String): DataFrame = {
    val rangeKeys = group.map(col) ++ order
    // sortWithinPartitions before the pin looks redundant (the pid-keyed
    // windows sort again after their exchange), but it is measured-
    // faster: the pid exchange maps each stored partition to one target
    // wholesale, so arrival order IS the stored order and the window's
    // TimSort runs on presorted runs (sf10 soak: 13.7 s vs 15.2 s
    // without). Correctness needs only the PLACEMENT.
    val parts = Pinned.pin(df
      .repartitionByRange(numParts, rangeKeys: _*)
      .sortWithinPartitions(rangeKeys: _*)
      .withColumn(PID, spark_partition_id()))
    // Per-(pid, group) partials → prefix offsets. The prefix window runs
    // over ≤ numParts rows per group — bounded by configuration, not data.
    val partialAggs = count(lit(1)).as(PN) +:
      value.map(v => sum(v).as(PS)).toSeq
    val wPrefix = Window.partitionBy(group.map(col): _*).orderBy(col(PID).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wGroup = Window.partitionBy(group.map(col): _*)
    val offBase = parts
      .groupBy((col(PID) +: group.map(col)): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
      .withColumn(OFF, coalesce(sum(col(PN)).over(wPrefix), lit(0L)))
      .withColumn(nCol, sum(col(PN)).over(wGroup))
    val offDf = value.fold(offBase) { _ =>
      offBase.withColumn(COFF, coalesce(sum(col(PS)).over(wPrefix), lit(0L)))
    }.drop(PN, PS)
    // Within-partition ranks (parallel across partitions) + offsets.
    val wPart = Window.partitionBy((col(PID) +: group.map(col)): _*)
      .orderBy(order: _*)
    val wRun = wPart.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = value.foldLeft(
      parts.withColumn(LRN, row_number().over(wPart).cast("long"))
    ) { (d, v) => d.withColumn(LCUM, sum(v).over(wRun)) }
    val joined = local.join(broadcast(offDf), PID +: group)
      .withColumn(rnCol, col(LRN) + col(OFF))
    value.fold(joined) { _ =>
      joined.withColumn(cumCol, col(LCUM) + col(COFF))
    }.drop(PID, LRN, LCUM, OFF, COFF)
  }

  /** Exact SQL `NTILE(k)` from a global (rank, count) pair — so the
    * scalable two-pass rank can replace a global-window ntile without
    * changing a single output value. SQL semantics: with n rows and k
    * tiles, q = n div k and r = n mod k; tiles 1..r get q+1 rows, tiles
    * r+1..k get q rows (NOT `ceil(rn·k/n)`, which disagrees whenever
    * k ∤ n). All arithmetic is exact: the integral divides subtract the
    * remainder first, so the FP division result is an integer
    * representable exactly (operands < 2⁵³).
    */
  def ntileFromRank(rn: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val kL = lit(k.toLong)
    val q = idiv(n, kL)
    val r = n - q * kL
    val cut = r * (q + lit(1L))
    // CaseWhen evaluates lazily, so the q=0 (n < k) case never reaches
    // the idiv-by-zero in the otherwise branch.
    when(rn <= cut, idiv(rn - lit(1L), q + lit(1L)) + lit(1L))
      .otherwise(r + idiv(rn - lit(1L) - cut, q) + lit(1L))
  }
}
