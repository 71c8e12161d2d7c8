package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The engine's two driver-coordinated iteration loops, each held once:
  * min-label propagation to its fixpoint ([[minLabels]]: q76/q174/q328 dedup
  * clusters, q359 entities, q345/q361 DBSCAN cores) and K rounds of
  * greedy literal-replace merges over a (w, freq, seg) dictionary
  * ([[greedyMerges]]: q329 BPE, q374 WordPiece). Every round is one lazy
  * [[Pinned.pin]] of the new iterate plus ONE driver gate action that
  * both materializes the pin and decides whether to go on.
  *
  * NEGATIVE RESULTS (r19/r20, measured on these loops): the pins stay
  * plain lazy [[Pinned.pin]]s.
  *   - An eager pin per round paid two actions per round
  *     (materialization plus the gate); the lazy pin lets the gate job
  *     itself materialize the round's iterate.
  *   - An Observation-metric fusion of the gate into the pin job was
  *     SLOWER: listener-bus delivery lags each round by ~100 ms.
  *   - Hash-placing the edges and per-round labels on the join keys
  *     through [[Pinned.partitionedCheckpoint]] to make each round's
  *     join exchange-free was 1.5–3.5× SLOWER end to end (q345
  *     5.4→13.2 s, q361 5.9→18.3 s, q359 3.9→5.8 s; task time 2→277 s,
  *     5→354 s, 3.4→29.9 s): the keyed pins compile their subplan with
  *     AQE off, so every per-round stage ran at the static 32-partition
  *     width instead of AQE-coalescing to ~1 task. Keyed pins pay off
  *     for one-time corpus-scale relations (adjacency builds), not tiny
  *     per-round iterates.
  *   - A second pointer jump per DBSCAN round was SLOWER: the extra
  *     intermediate pin costs more than the ~3 rounds it saves.
  */
object Fixpoint {

  /** Min-label propagation to the unique fixpoint:
    * label(src) ← min over edges (src, dst) of label(dst), iterated until
    * no label drops. `edges` has columns (src, dst) and must carry a
    * self-loop (v, v) for every node so a node keeps its own label;
    * `seeds` has columns (node, lab) with every node's initial label.
    * Returns the fixpoint's (node, lab), lazily pinned.
    *
    * The gate is the label sum as decimal(38,0): monotone decreasing
    * round over round and wrap-free (a BIGINT sum wraps at ~10 max-long
    * labels, and a wrapped "increase" would exit before the fixpoint
    * with wrong labels and no error); `coalesce` makes an empty label
    * set sum to 0 instead of NULL. Each round's pin cuts lineage, so
    * the plan does not deepen with the round count. Rounds ≤ component
    * diameter; at adversarial long chains a large-star/small-star body
    * would cut that to O(log n) with the same fixpoint.
    *
    * `pointerJump` follows each propagated label one hop further per
    * round (label(v) ← label(label(v))), which needs every label to be a
    * node of `seeds` (true when seeds are (v, v)). Only DBSCAN passes
    * it: r19/r20 measured the jump caller by caller. */
  def minLabels(edges: DataFrame, seeds: DataFrame,
      pointerJump: Boolean = false): DataFrame = {
    val d38 = DecimalType(38, 0)
    var labels = Pinned.pin(seeds) // the first gate materializes it
    def labelSum(): java.math.BigDecimal = labels
      .agg(coalesce(sum(col("lab").cast(d38)), lit(BigDecimal(0)).cast(d38)))
      .head.getDecimal(0)
    var prevSum: java.math.BigDecimal = null
    var curSum = labelSum()
    while (prevSum == null || curSum.compareTo(prevSum) < 0) {
      val propagated = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("lab")).as("lab"))
        .select(col("src").as("node"), col("lab"))
      val next =
        if (!pointerJump) propagated
        else propagated.as("l")
          .join(propagated.select(col("node").as("ld"), col("lab").as("ll")).as("r"),
            col("l.lab") === col("r.ld"))
          .select(col("l.node").as("node"), col("r.ll").as("lab"))
      labels = Pinned.pin(next) // one job per round: the labelSum
      prevSum = curSum
      curSum = labelSum()
    }
    labels
  }

  /** One completed merge round of [[greedyMerges]]: the winning `pair`
    * ("a b"), its `merged` symbol, the caller's whole argmax row `top`
    * (pair first), and the distinct-symbol count of the merged vocab. */
  final case class Merge(round: Int, pair: String, merged: String, top: Row,
      vocabSyms: Long)

  /** Up to `rounds` greedy merge rounds over a weighted (w, freq, seg)
    * dictionary, where `seg` holds the word's symbols double-space
    * separated and space padded (" a  b  c "), so a non-overlapping
    * left-to-right literal replace of " a  b " by " ab " is exactly the
    * greedy merge rule, runs included. `argmax(v)` is the caller's ≤1-row
    * frame of the next pair to merge over vocab `v`; its first column is
    * the pair as "a b".
    *
    * Per round: the merge as a literal replace over the lazily pinned
    * dict, then ONE fused collect of round k's distinct-symbol census
    * and round k+1's argmax (both read the merged vocab, so they ride
    * one crossJoin'd 1-row action; NULL argmax columns mean the pair
    * census is exhausted). The corpus is never re-read; each round is
    * O(|vocab|). The loop is total: an exhausted vocab ends it early
    * with only the completed rounds. */
  def greedyMerges(vocab0: DataFrame, rounds: Int,
      argmax: DataFrame => DataFrame): Seq[Merge] = {
    var vocab = vocab0
    var top = argmax(vocab).collect().headOption
    val out = Seq.newBuilder[Merge]
    var k = 1
    while (k <= rounds && top.isDefined) {
      val pair = top.get.getString(0)
      val merged = pair.replace(" ", "")
      vocab = Pinned.pin(vocab.select(col("w"), col("freq"),
        replace(col("seg"), lit(" " + pair.replace(" ", "  ") + " "),
          lit(s" $merged ")).as("seg")))
      val g = vocab
        .select(explode(split(trim(col("seg")), "  ")).as("sym"))
        .agg(countDistinct(col("sym")).as("n_syms"))
        .join(argmax(vocab), lit(true), "left")
        .collect()(0) // the round's ONE driver gate
      out += Merge(k, pair, merged, top.get, g.getLong(0))
      top = if (g.isNullAt(1)) None else Some(Row.fromSeq(g.toSeq.tail))
      k += 1
    }
    out.result()
  }
}
