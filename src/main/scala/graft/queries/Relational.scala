package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.Tables
import graft.operators.Pinned
import Portable._

/** Join / sort / limit / set-operation surface (SURVEY.md §2.B).
  *
  * Scale stance (100 TB): fact⋈fact joins shuffle on their keys and rely on
  * AQE for skew; every dim small enough to fit an executor is explicitly
  * `broadcast(...)` so the fact side never shuffles for it; non-equi joins
  * are either dim×dim (tiny BNLJ) or carry an equi prefix so Catalyst plans
  * a hash join with the range as residual condition; as-of is the
  * shuffle-once window-rank formulation rather than a per-row lookup.
  *
  * The flagship generalizes the reference's analytical essence — "price per
  * neighborhood" (/root/reference/download_lambda.py:99-103) — to "revenue
  * per nation".
  */
object Relational {

  // kept as aliases: referenced by round-1 docs/tests
  def cents = Portable.cents _
  def centsSql = Portable.centsSql _

  /** Flagship: revenue per nation (lineitem ⋈ orders ⋈ customer ⋈ nation).
    * Two shuffled fact joins + one broadcast dim join + hash agg + sort.
    */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy($"n_name")
      .agg(
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("revenue_cents"),
        count(lit(1)).as("n_rows"))
      .orderBy($"n_name")
  }

  /** Projection + predicate family (SURVEY.md §2.B "Projection / filter /
    * predicates"; reference R12–R18 semantics): AND/OR/NOT, IN, BETWEEN,
    * LIKE, IS NOT NULL, casts, and the reference's "N/A" sentinel coalesce
    * (/root/reference/download_lambda.py:100,103,107-114) — all one
    * scan→filter→project, fully pushdown-friendly. */
  def projectFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter(
        $"o_orderstatus".isin("O", "F") &&
        $"o_totalprice".between(lit(1000.0), lit(250000.0)) &&
        ($"o_orderpriority".like("1-%") || $"o_orderpriority".like("2-%")) &&
        !($"o_orderkey" % lit(97L) === lit(0L)) &&
        nullif($"o_orderstatus", lit("ZZZ")).isNotNull)
      .select(
        $"o_orderkey",
        $"o_custkey".cast("int").as("cust_int"),
        cents($"o_totalprice").as("price_cents"),
        $"o_orderdate".cast("date").as("odate"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("N/A")).as("status_or_na"),
        when($"o_totalprice" > lit(150000.0), "big").otherwise("small").as("bucket"))
      .orderBy($"o_orderkey")
  }

  /** Broadcast hash join: the part dim ships to every executor; the fact
    * side stays put (zero shuffle for the join; one for the agg). */
  def broadcastDimJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val p  = Tables.part(s, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy($"p_brand")
      .agg(
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue_cents"),
        sumIntValued($"l_quantity").as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy($"p_brand")
  }

  /** Left outer join keeping order-less customers (count(col) skips nulls;
    * sum coalesced to 0). Shuffles both sides on the customer key. */
  def leftOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        coalesce(sum(cents($"o_totalprice")), lit(0L)).as("total_cents"))
      .orderBy($"c_custkey")
  }

  /** Right outer join — the symmetric twin of [[leftOuterJoin]] with the
    * fact table on the LEFT and the preserved (customer) side on the RIGHT,
    * closing the last open §2.B join bullet. Same shuffle shape as q03:
    * both sides exchange on the customer key; Spark's planner is free to
    * build the hash side either way (a right-outer SHJ can stream orders
    * and build customers), which is exactly why the variant deserves its
    * own declared plan rather than "it's just q03 flipped". */
  def rightOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        coalesce(sum(cents($"o_totalprice")), lit(0L)).as("total_cents"))
      .orderBy($"c_custkey")
  }

  /** Left semi: EXISTS without materializing the right side's columns. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.filter($"c_mktsegment" === "BUILDING")
      .join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  /** Left anti: NOT EXISTS; null-safe by construction (no NOT IN trap).
    * The right side is pre-filtered so the anti-join is selective. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Equi join with residual band predicate: planned as a hash join on
    * l_partkey with the BETWEEN as a cheap post-join filter — never a
    * cartesian, so it scales linearly with the fact table. */
  def equiRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val p  = Tables.part(s, dir)
    li.join(broadcast(p),
        li("l_partkey") === p("p_partkey") &&
        li("l_quantity") >= (p("p_size") - lit(5)) &&
        li("l_quantity") <= (p("p_size") + lit(5)))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_in_band"), sumIntValued($"l_quantity").as("sum_qty"))
      .orderBy($"p_brand")
  }

  /** As-of join (forward): FIRST event at-or-after each order date for the
    * order's customer — forward direction because the fixture events
    * (2024) all postdate the TPC-H order dates, so the backward variant
    * would be vacuously empty.
    *
    * Merge formulation, not join+rank: union orders and events into one
    * per-user timeline, sort once, and carry the next event to each order
    * row with an unbounded-following `first(..., ignoreNulls)` frame. A
    * range join would materialize |orders/user| × |future events/user|
    * candidate rows before ranking — a per-user PRODUCT; the merge is one
    * shuffle + one sort of |orders| + |events|, linear at any scale. Ties
    * at equal ts: the order row sorts before events (null event_id first),
    * so an event exactly at the order date is matched, and events tie on
    * event_id — exactly `ORDER BY ts, event_id` of the rank form. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select(
      $"o_custkey".as("uid"),
      // ntz→ltz cast so the union's ts column has one type (UTC session)
      $"o_orderdate".cast("timestamp").as("ts"),
      lit(null).cast("long").as("event_id"), $"o_orderkey")
    val e = Tables.events(s, dir).select(
      $"user_id".as("uid"), $"ts",
      $"event_id", lit(null).cast("long").as("o_orderkey"))
    val w = Window.partitionBy($"uid")
      .orderBy($"ts".asc, $"event_id".asc_nulls_first, $"o_orderkey".asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    o.unionByName(e)
      .withColumn("asof_event", first($"event_id", ignoreNulls = true).over(w))
      .withColumn("asof_ts",
        first(when($"event_id".isNotNull, $"ts"), ignoreNulls = true).over(w))
      .filter($"o_orderkey".isNotNull && $"asof_event".isNotNull)
      .select($"o_orderkey", $"asof_event", $"asof_ts")
      .orderBy($"o_orderkey")
  }

  /** FORWARD as-of join with a lag TOLERANCE — q07's inclusive forward
    * merge (first event at-or-after each order ts) plus a bound on HOW
    * FAR forward the match may be: a match further ahead than the
    * budget degrades to a -1 sentinel with the lag preserved, so
    * out-of-window pairings are surfaced as a first-class outcome
    * rather than silently merged. (This is the forward-direction
    * analogue of a feature store's backward staleness bound — here the
    * lag is POSITIVE: the matched event postdates the order.) Same
    * merge formulation (and cost) as q07 — one union, one window —
    * plus the per-row day-lag gate. The 9400-day budget is calibrated
    * to split the fixture (orders 1995-2001 vs events 2024, lags
    * 8190-10592 days). */
  def asofJoinTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select(
      $"o_custkey".as("uid"),
      $"o_orderdate".cast("timestamp").as("ts"),
      lit(null).cast("long").as("event_id"), $"o_orderkey")
    val e = Tables.events(s, dir).select(
      $"user_id".as("uid"), $"ts",
      $"event_id", lit(null).cast("long").as("o_orderkey"))
    val w = Window.partitionBy($"uid")
      .orderBy($"ts".asc, $"event_id".asc_nulls_first, $"o_orderkey".asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    o.unionByName(e)
      .withColumn("asof_event", first($"event_id", ignoreNulls = true).over(w))
      .withColumn("asof_ts",
        first(when($"event_id".isNotNull, $"ts"), ignoreNulls = true).over(w))
      .filter($"o_orderkey".isNotNull && $"asof_event".isNotNull)
      .withColumn("lag_days",
        datediff($"asof_ts".cast("date"), $"ts".cast("date")).cast("long"))
      .select($"o_orderkey",
        when($"lag_days" <= 9400L, $"asof_event").otherwise(lit(-1L)).as("matched_event"),
        $"lag_days", ($"lag_days" <= 9400L).as("fresh"))
      .orderBy($"o_orderkey")
  }

  /** Pure theta join (no equi prefix): dim×dim only — a broadcast
    * nested-loop over 25×5 rows. Theta joins on fact tables are banned at
    * scale; this documents the operator without the blowup. */
  def thetaJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    n.join(broadcast(r), n("n_regionkey") < r("r_regionkey"))
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"r_name")
  }

  /** Full outer join of two pre-aggregated sides (aggregate-then-join: the
    * join inputs are one row per key, so the outer join is tiny no matter
    * how large the base tables are). */
  def fullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val sp = Tables.supplier(s, dir)
    val ca = c.groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
    val sa = sp.groupBy($"s_nationkey").agg(count(lit(1)).as("n_supp"))
    ca.join(sa, ca("c_nationkey") === sa("s_nationkey"), "full")
      .select(
        coalesce(ca("c_nationkey"), sa("s_nationkey")).as("nationkey"),
        coalesce($"n_cust", lit(0L)).as("n_cust"),
        coalesce($"n_supp", lit(0L)).as("n_supp"))
      .orderBy($"nationkey")
  }

  /** Cross join, dim×dim only (25×5). */
  def crossJoinDims(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    r.crossJoin(n).select($"r_name", $"n_name").orderBy($"r_name", $"n_name")
  }

  /** TPC-H Q3 shape (shipping priority) adapted to fixture columns:
    * selective filters on both fact sides pushed to the scans, two shuffle
    * joins, agg, top-10 by revenue. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = "1995-03-15 00:00:00"
    val c = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val o = Tables.orders(s, dir)
      .filter($"o_orderdate" < to_timestamp(lit(cutoff)))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.lineitem(s, dir)
      .filter($"l_shipdate" > to_timestamp(lit(cutoff)))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue_cents"))
      .orderBy($"revenue_cents".desc, $"l_orderkey".asc)
      .limit(10)
      .orderBy($"revenue_cents".desc, $"l_orderkey".asc)
  }

  /** TPC-H Q5 shape (local-supplier volume): five-way join where the
    * supplier must be in the customer's nation, region-filtered; dims
    * broadcast, facts shuffle on their keys. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
    val sp = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir).filter($"r_name".isin("AMERICA", "ASIA"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(sp), li("l_suppkey") === sp("s_suppkey") &&
        c("c_nationkey") === sp("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"revenue_cents".desc, $"n_name")
  }

  /** TPC-H Q8 shape (market share): the widest join in the suite — fact
    * lineitem against part, orders, customer, supplier and TWO nation
    * legs plus region (8 relations). Every dimension leg broadcasts; the
    * only shuffles are the fact-fact joins on l_orderkey/o_custkey. The
    * share is a conditional-sum ratio: both numerator and denominator
    * are exact cent sums (order-independent), divided once per year row
    * — the q1 pattern lifted to a two-measure ratio. This is the query
    * shape AQE join-reordering and runtime broadcast-sizing exist for;
    * at 100 TB the dims stay broadcast-able (nation/region are KBs at
    * any SF) and the plan's shuffle count is invariant in data size. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("vol"))
    val p = Tables.part(s, dir).filter($"p_type" === "PROMO").select($"p_partkey")
    val o = Tables.orders(s, dir)
      .filter(year($"o_orderdate").between(1995, 1996))
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("o_year"))
    val c = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val nc = Tables.nation(s, dir).select($"n_nationkey".as("cn_key"), $"n_regionkey")
    val r = Tables.region(s, dir).filter($"r_name" === "EUROPE").select($"r_regionkey")
    val sp = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
    val ns = Tables.nation(s, dir).select($"n_nationkey".as("sn_key"), $"n_name".as("s_nation"))
    li.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(nc), $"c_nationkey" === $"cn_key")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .join(broadcast(sp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(ns), $"s_nationkey" === $"sn_key")
      .groupBy($"o_year")
      .agg(
        sum(when($"s_nation" === "NATION_3", $"vol").otherwise(lit(0L))).as("nation_cents"),
        sum($"vol").as("total_cents"))
      .select($"o_year", $"nation_cents", $"total_cents",
        ratio($"nation_cents", $"total_cents").as("mkt_share"))
      .orderBy($"o_year")
  }

  /** SCD Type-2 dimension build — turn a keyed event history (orders per
    * customer) into versioned rows with half-open validity intervals:
    * valid_from = the event's date, valid_to = the NEXT event's date
    * (sentinel 9999-12-31 on the open version), is_current on the last.
    * ONE window pass per customer (lead + row_number share the same sort)
    * — the shape every warehouse dimension refresh needs, and on Spark it
    * is a single shuffle on the key with no self-join (the naive form
    * joins the table to itself on "next date"). The (date, key) order is
    * total, so version numbers are deterministic. */
  def scd2Build(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderstatus")
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", $"o_orderdate")
      // sentinel cast to NTZ so valid_from/valid_to share one timestamp
      // family (orderdate is NTZ; a to_timestamp literal would be LTZ)
      .withColumn("valid_to",
        coalesce(lead($"o_orderdate", 1).over(w),
          lit("9999-12-31 00:00:00").cast("timestamp_ntz")))
      .withColumn("is_current", lead($"o_orderdate", 1).over(w).isNull)
      .select($"o_custkey", $"version", $"o_orderkey", $"o_orderstatus",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"o_custkey", $"version")
  }

  /** Relationship cardinality profiler — measure, don't assume, the
    * multiplicity class of each foreign-key edge (1:1 / 1:N / N:1 / N:M):
    * for each relationship the max per-key multiplicity on BOTH sides
    * plus orphan counts, classified into the label a modeling tool would
    * print. Broadcast-join planners, dedup assumptions, and join-fanout
    * estimates all silently rest on these classes; profiling them is one
    * keyed count per side. */
  def relationshipProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def profile(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val lc = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("ln"))
      val rc = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("rn"))
      lc.join(rc, Seq("k"), "full_outer")
        .agg(
          max(coalesce($"ln", lit(0L))).as("max_left"),
          max(coalesce($"rn", lit(0L))).as("max_right"),
          sum(when($"rn".isNull, 1L).otherwise(0L)).as("left_orphans"),
          sum(when($"ln".isNull, 1L).otherwise(0L)).as("right_only"))
        .select(lit(name).as("relationship"), $"max_left", $"max_right",
          $"left_orphans", $"right_only",
          concat(when($"max_left" > 1, lit("N")).otherwise(lit("1")),
            lit(":"),
            when($"max_right" > 1, lit("N")).otherwise(lit("1")))
            .as("cardinality"))
    }
    profile("orders->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey")
      .unionByName(profile("lineitem->orders", Tables.lineitem(s, dir),
        "l_orderkey", Tables.orders(s, dir), "o_orderkey"))
      .unionByName(profile("lineitem->part", Tables.lineitem(s, dir),
        "l_partkey", Tables.part(s, dir), "p_partkey"))
      .orderBy($"relationship")
  }

  /** Cross-system entity reconciliation — "which systems know this
    * entity": the master customer registry, the order system's observed
    * custkeys, and the event stream's user ids, three-way full-outer
    * joined and censused by PRESENCE PATTERN (in_crm, in_orders,
    * in_events). This is the report every data-integration project
    * starts with; the full-outer chain (never inner — an entity known to
    * one system only is the interesting row) and the pattern census make
    * every disposition explicit. Scale: three key projections (two
    * pre-collapsed by distinct), key-partitioned outer joins, 8-row
    * census. */
  def entityReconciliation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
      .select($"c_custkey".as("k")).withColumn("in_crm", lit(true))
    val o = Tables.orders(s, dir)
      .select($"o_custkey".as("ko")).distinct()
      .withColumn("in_orders", lit(true))
    val e = Tables.events(s, dir)
      .select($"user_id".as("ke")).distinct()
      .withColumn("in_events", lit(true))
    c.join(o, $"k" === $"ko", "full_outer")
      .select(coalesce($"k", $"ko").as("k"),
        coalesce($"in_crm", lit(false)).as("in_crm"),
        coalesce($"in_orders", lit(false)).as("in_orders"))
      .join(e, $"k" === $"ke", "full_outer")
      .select(
        coalesce($"in_crm", lit(false)).as("in_crm"),
        coalesce($"in_orders", lit(false)).as("in_orders"),
        coalesce($"in_events", lit(false)).as("in_events"))
      .groupBy($"in_crm", $"in_orders", $"in_events")
      .agg(count(lit(1)).as("n_entities"))
      .orderBy($"in_crm", $"in_orders", $"in_events")
  }

  /** CDC changelog apply — q100's missing half: q100 merges a single
    * batch of I/U/D rows, but a real change feed carries MULTIPLE ordered
    * ops per key and the LAST op wins (Debezium-style compaction before
    * merge). The changelog here is derived deterministically from orders
    * (each order is a 'U' setting the balance; every 7th orderkey is a
    * 'D'), compacted per key by one argmax over the (ts, seq) total
    * order, then merged full-outer into the customer base — deletes
    * drop, updates override, never-logged keys pass through. Scale: the
    * compaction is ONE key-partitioned argmax (no window sort needed),
    * the merge one custkey-keyed outer join; output is the applied state
    * with a disposition column so every branch is oracle-covered. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.orders(s, dir).select(
      $"o_custkey".as("ck"), $"o_orderdate".as("ts"),
      $"o_orderkey".as("seq"),
      when($"o_orderkey" % 7 === 0, "D").otherwise("U").as("op"),
      cents($"o_totalprice").as("new_bal"))
    val lastOp = log.groupBy($"ck")
      .agg(max_by(struct($"op", $"new_bal"), struct($"ts", $"seq")).as("b"))
      .select($"ck", $"b.op".as("op"), $"b.new_bal".as("new_bal"))
    Tables.customer(s, dir)
      .select($"c_custkey", cents($"c_acctbal").as("bal_cents"))
      .join(lastOp, $"c_custkey" === $"ck", "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select(
        coalesce($"c_custkey", $"ck").as("k"),
        when($"op" === "U", $"new_bal").otherwise($"bal_cents")
          .as("bal_cents"),
        when($"op".isNull, "unchanged")
          .when($"c_custkey".isNull, "inserted")
          .otherwise("updated").as("disposition"))
      .orderBy($"k")
  }

  /** Temporal (validity-interval) dimension lookup — the consumer side
    * of q151's SCD2 build: each lineitem finds the customer STATUS
    * VERSION in force on its ship date. The classic DW "as of fact
    * time" join, planned the scalable way: an EQUI join on custkey with
    * the interval containment as a residual condition — per-key
    * candidates are that customer's few version rows, so there is no
    * range-join explosion and no interval binning needed (contrast a
    * key-less interval join, q103's problem). Ship dates BEFORE the
    * customer's first version (the fixture's synthetic ship dates are
    * not ordered against order dates — ~15 % precede it at sf0.01) fall
    * in no interval; the LEFT join surfaces them as an explicit
    * UNMATCHED margin instead of dropping them — the same
    * margins-not-drops contract as q229/q236/q255. */
  def scd2AsofLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = scd2Build(s, dir).select(
      $"o_custkey".as("dk"), $"o_orderstatus".as("status_in_force"),
      $"valid_from", $"valid_to")
    val fact = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("fk"), $"l_shipdate")
    fact.join(dim,
        $"fk" === $"dk" && $"l_shipdate" >= $"valid_from" &&
          $"l_shipdate" < $"valid_to", "left")
      .groupBy(coalesce($"status_in_force", lit("UNMATCHED"))
        .as("status_in_force"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct($"fk").as("n_customers"))
      .orderBy($"status_in_force")
  }

  /** Schema-evolution union — `unionByName(allowMissingColumns = true)`
    * resolves columns BY NAME across frames with different column order
    * and a missing column (NULL-filled), the append every evolving
    * lakehouse table needs (positional UNION silently mis-binds after a
    * schema change — the failure mode this operator exists to prevent).
    * DuckDB twin: UNION ALL BY NAME. The (src, key, line) sort is total. */
  def unionByNameEvolved(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select(
      $"l_orderkey".as("key"), $"l_linenumber".cast("long").as("line_no"),
      $"l_quantity".cast("long").as("qty"),
      cents($"l_extendedprice").as("price_cents"), lit("li").as("src"))
    // different column ORDER and no qty column: by-name must still align
    val ord = Tables.orders(s, dir).select(
      lit("ord").as("src"), cents($"o_totalprice").as("price_cents"),
      $"o_orderkey".as("key"), lit(-1L).as("line_no"))
    li.unionByName(ord, allowMissingColumns = true)
      // price/qty in the sort: (key, line_no) alone is not total once a
      // scaled fixture replicates lines (sf1 soak caught the tie)
      .orderBy($"src", $"key", $"line_no", $"price_cents", $"qty")
  }

  /** INTERSECT ALL — the multiset twin of q27's distinct intersect (and
    * q28's EXCEPT ALL): multiplicities surface as min(left, right) per
    * value. Same compaction as q28: group-count the result so the
    * declared output is the multiplicity census, deterministic and
    * small. Plans as a left-semi-style shuffle on the compared row, with
    * counts carried — no explosion. */
  def intersectAllKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.orders(s, dir).filter($"o_orderstatus" === "O").select($"o_custkey")
    val b = Tables.orders(s, dir).filter($"o_orderstatus" === "F").select($"o_custkey")
    a.intersectAll(b).groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .orderBy($"o_custkey")
  }

  /** Policy-driven column masking — governance as DATA, not code: a
    * broadcast policy table maps customer segment → masking level
    * ('full' hashes the name and redacts the balance to a -1 sentinel,
    * 'partial' keeps the name but coarsens the balance to the nearest
    * 1000 cents, unmatched segments pass through). The enforcement is
    * one broadcast join + one codegen'd projection — at 100 TB the
    * policy changes by editing a 5-row table, never by redeploying a
    * query; the oracle states the same policy as literal CASE arms. */
  def policyMasking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val policy = Seq(("AUTOMOBILE", "full"), ("BUILDING", "partial"))
      .toDF("p_seg", "level")
    Tables.customer(s, dir)
      .join(broadcast(policy), $"c_mktsegment" === $"p_seg", "left")
      .withColumn("bal_cents", cents($"c_acctbal"))
      .select(
        $"c_custkey", $"c_mktsegment",
        when($"level" === "full", md5($"c_name".cast("binary")))
          .otherwise($"c_name").as("name_out"),
        when($"level" === "full", lit(-1L))
          .when($"level" === "partial", ($"bal_cents" - ($"bal_cents" % 100000L)))
          .otherwise($"bal_cents").as("bal_out"))
      .orderBy($"c_custkey")
  }

  /** Referential-integrity audit — orphan counts for every FK edge of
    * the star schema in ONE declared artifact (the DQ check every
    * warehouse load gates on): each edge is a LEFT ANTI join counting
    * fact rows whose dimension key is missing, unioned into an audit
    * table. Anti joins shuffle only the key columns; the four edges run
    * independently (no barrier between them in the plan). All-zero on
    * the fixtures — the value is the SHAPE: a load that breaks an edge
    * flips exactly one census row, and the hash compare catches it. */
  def fkOrphanAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def orphans(name: String, fact: DataFrame, key: String,
        dim: DataFrame, dimKey: String): DataFrame =
      fact.select(col(key))
        .join(dim.select(col(dimKey)), col(key) === col(dimKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), $"n_orphans")
    val li = Tables.lineitem(s, dir)
    orphans("lineitem.orderkey->orders", li, "l_orderkey",
        Tables.orders(s, dir), "o_orderkey")
      .unionByName(orphans("lineitem.partkey->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey"))
      .unionByName(orphans("lineitem.suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"))
      .unionByName(orphans("orders.custkey->customer", Tables.orders(s, dir),
        "o_custkey", Tables.customer(s, dir), "c_custkey"))
      .orderBy($"fk_edge")
  }

  /** Key-uniqueness audit — the PK half of the q189 DQ pair: per table,
    * the number of keys that occur more than once and the worst
    * multiplicity (group-count census, never a self-join). The fixture
    * answer is all-unique; the declared shape is what a double-applied
    * ingest batch flips. */
  def pkUniquenessAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dups(name: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(
          sum(when($"c" > 1, 1L).otherwise(0L)).as("n_dup_keys"),
          max($"c").as("max_multiplicity"))
        .select(lit(name).as("pk"), $"n_dup_keys", $"max_multiplicity")
    dups("customer.c_custkey", Tables.customer(s, dir), "c_custkey")
      .unionByName(dups("orders.o_orderkey", Tables.orders(s, dir), "o_orderkey"))
      .unionByName(dups("part.p_partkey", Tables.part(s, dir), "p_partkey"))
      .unionByName(dups("supplier.s_suppkey", Tables.supplier(s, dir), "s_suppkey"))
      .orderBy($"pk")
  }

  /** Correlated scalar subquery shape — "parts priced above their brand's
    * average" — written as aggregate-then-self-join (exactly what Catalyst
    * decorrelates a subquery into; formulated explicitly so the cents
    * arithmetic stays oracle-exact). */
  def aboveBrandAverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, dir)
    val brandAvg = p.groupBy($"p_brand".as("b_brand"))
      .agg(sum(cents($"p_retailprice")).as("b_sum"), count(lit(1)).as("b_n"))
    p.join(broadcast(brandAvg), $"p_brand" === $"b_brand")
      .filter(cents($"p_retailprice").cast("double") > ratio($"b_sum", $"b_n"))
      .select($"p_partkey", $"p_brand", cents($"p_retailprice").as("price_cents"),
        ratio($"b_sum", $"b_n").as("brand_avg_cents"))
      .orderBy($"p_partkey")
  }

  /** Salted join through the correctness gate: the salted plan must produce
    * exactly the rows of the plain join, so its oracle IS the plain join
    * SQL. The salt spreads any hot customer key over 8 reducers. */
  def saltedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select($"o_custkey", cents($"o_totalprice").as("pc"))
    val c = Tables.customer(s, dir).select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    graft.operators.SkewOps.saltedJoin(o, c, "o_custkey", salt = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), sum($"pc").as("sum_cents"))
      .orderBy($"c_mktsegment")
  }

  /** Two-phase salted aggregation through the gate: merged partials must
    * equal the direct groupBy (oracle = plain GROUP BY). */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag", cents($"l_extendedprice").as("pc"))
    graft.operators.SkewOps.saltedSumCount(li, "l_returnflag", "pc", salt = 8)
      .orderBy($"l_returnflag")
  }

  /** Data-driven salted join — closes the q198-advisor → q59-actuator loop:
    * instead of a hand-picked salt, a planning pass measures the hottest
    * join key's row count and derives the fan-out from its binary magnitude
    * (q198's integer log₂ — `length(bin(cnt)) − 1`, never IEEE log2 whose
    * exact-power rounding flips bucket boundaries between engines): one
    * salt lane per 2⁶ rows of the hottest key, clamped to [1, 32] (more
    * lanes than executor cores just multiplies the replicated small side).
    * The planning collect is ONE scalar row — the same runtime-stats shape
    * AQE itself uses — and the census pass is a keys-only map-side-combined
    * agg (the q198 cost: one pass at any scale). The chosen fan-out is
    * emitted as a column so the DATA-DRIVEN DECISION ITSELF is
    * oracle-checked, not just the salted join's row multiset. */
  def saltedJoinAutotuned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_suppkey", cents($"l_extendedprice").as("pc"))
    val hotBucket = li.groupBy($"l_suppkey").agg(count(lit(1)).as("cnt"))
      .agg(max(length(bin($"cnt")) - 1).cast("int").as("b"))
      .head().getInt(0)
    val salt = math.min(32, math.max(1, 1 << math.max(0, hotBucket - 6)))
    val sup = Tables.supplier(s, dir)
      .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
    graft.operators.SkewOps.saltedJoin(li, sup, "l_suppkey", salt)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"), sum($"pc").as("sum_cents"))
      .withColumn("salt_lanes", lit(salt))
      .orderBy($"s_nationkey")
  }

  /** Multi-key sort with an explicitly null-ordered synthetic null column
    * (Spark defaults NULLS FIRST on ASC, DuckDB NULLS LAST — always be
    * explicit). Global sort = range-partitioned exchange; LIMIT k makes it
    * a TakeOrdered at any scale. */
  def sortMultiKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .withColumn("maybe_status", nullif($"o_orderstatus", lit("O")))
      .select($"o_orderkey", $"maybe_status", $"o_totalprice", $"o_orderpriority")
      .orderBy($"maybe_status".asc_nulls_first, $"o_totalprice".desc, $"o_orderkey".asc)
      .limit(100)
      .orderBy($"maybe_status".asc_nulls_first, $"o_totalprice".desc, $"o_orderkey".asc)
  }

  /** Top-k by measure: TakeOrderedAndProject, no full sort materialized. */
  def topK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("price_cents"))
      .orderBy($"price_cents".desc, $"o_orderkey".asc)
      .limit(10)
      .orderBy($"price_cents".desc, $"o_orderkey".asc)
  }

  /** UNION ALL with provenance tag (no dedup ⇒ no shuffle beyond the sort). */
  def unionAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
      .select($"c_custkey".as("id"), $"c_name".as("name"), lit("customer").as("src"))
    val sp = Tables.supplier(s, dir)
      .select($"s_suppkey".as("id"), $"s_name".as("name"), lit("supplier").as("src"))
    c.unionByName(sp).orderBy($"src", $"id")
  }

  /** UNION DISTINCT: one hash-dedup shuffle on the output key. */
  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).select($"c_nationkey".cast("int").as("nationkey"))
    val sp = Tables.supplier(s, dir).select($"s_nationkey".cast("int").as("nationkey"))
    c.union(sp).distinct().orderBy($"nationkey")
  }

  /** INTERSECT (distinct semantics on both engines). */
  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).select($"c_custkey")
    val o = Tables.orders(s, dir).select($"o_custkey".as("c_custkey"))
    c.intersect(o).orderBy($"c_custkey")
  }

  /** EXCEPT ALL (multiplicity-preserving anti difference). */
  def exceptAllKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select($"o_custkey")
    val c = Tables.customer(s, dir).select($"c_custkey".as("o_custkey"))
    o.exceptAll(c).groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .orderBy($"o_custkey")
  }

  /** CDC MERGE/upsert — apply a change feed (insert/update/delete ops) onto
    * a keyed snapshot, the `MERGE INTO` shape every warehouse sync needs,
    * expressed Spark-first as ONE full-outer join on the key plus a
    * projection: unmatched-left rows pass through, 'U' rows take the new
    * values, 'I' rows materialize from the right side, 'D' rows are
    * filtered out. The change feed is derived deterministically from the
    * snapshot itself (key mod 10 → delete / update / insert-with-shifted-
    * key) so the oracle replays the identical relation. At scale this is
    * the standard shuffle-on-key SMJ both engines pick for big×big;
    * when the daily change feed is small relative to the snapshot the same
    * plan broadcast-joins instead — no code change. The null-guard on `op`
    * matters: `op <> 'D'` alone is three-valued and would drop every
    * unmatched snapshot row. */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = Tables.customer(s, dir).select(
      $"c_custkey".as("k"), cents($"c_acctbal").as("bal_cents"),
      $"c_mktsegment".as("seg"))
    val dels = snap.filter($"k" % 10 === 1).select(
      $"k".as("ck"), lit("D").as("op"),
      lit(null).cast("long").as("new_bal"), lit(null).cast("string").as("new_seg"))
    val upds = snap.filter($"k" % 10 === 0).select(
      $"k".as("ck"), lit("U").as("op"),
      ($"bal_cents" + 10000L).as("new_bal"), $"seg".as("new_seg"))
    val ins = snap.filter($"k" % 10 === 2).select(
      ($"k" + 1000000L).as("ck"), lit("I").as("op"),
      lit(77700L).as("new_bal"), lit("NEW").as("new_seg"))
    snap.join(dels.unionByName(upds).unionByName(ins), $"k" === $"ck", "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select(
        coalesce($"k", $"ck").as("mkey"),
        when($"op".isin("U", "I"), $"new_bal").otherwise($"bal_cents").as("bal_cents"),
        when($"op".isin("U", "I"), $"new_seg").otherwise($"seg").as("seg"),
        coalesce($"op", lit("=")).as("op"))
      .orderBy($"mkey")
  }

  /** Snapshot diff — GENERATE the change feed q100 applies: given two
    * keyed snapshots of the same table, classify every key as inserted /
    * deleted / updated / unchanged. This is the inverse primitive of
    * MERGE and the heart of incremental publishing (ship the diff, not
    * the table). The two snapshots derive deterministically from the
    * fixture (old = keys not ≡0 mod 7, new = keys not ≡0 mod 10, with
    * balances bumped on keys ≡0 mod 5) so the oracle replays them
    * exactly. One full-outer join on the key — the same shuffle-on-key
    * plan as q100, linear at snapshot scale — then a projection
    * classifies; the census aggregates per op so the declared output is
    * compact at any scale while the row-level feed is the pre-agg
    * DataFrame a caller would ship. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, dir).select(
      $"c_custkey".as("k"), cents($"c_acctbal").as("bal"))
    val oldSnap = base.filter($"k" % 7 =!= 0)
      .select($"k".as("ok"), $"bal".as("obal"))
    val newSnap = base.filter($"k" % 10 =!= 0)
      .select($"k".as("nk"),
        when($"k" % 5 === 0, $"bal" + 500L).otherwise($"bal").as("nbal"))
    oldSnap.join(newSnap, $"ok" === $"nk", "full_outer")
      .select(
        coalesce($"ok", $"nk").as("k"),
        when($"ok".isNull, "I")
          .when($"nk".isNull, "D")
          .when($"obal" =!= $"nbal", "U")
          .otherwise("=").as("op"))
      .groupBy($"op")
      .agg(count(lit(1)).as("n_keys"), min($"k").as("min_key"), max($"k").as("max_key"))
      .orderBy($"op")
  }

  /** Null-safe equality join (`<=>` / SQL `IS NOT DISTINCT FROM`) — the
    * join mode dirty keyed data actually needs: with plain `=`, null keys
    * silently drop from an inner join (three-valued logic), so two
    * records that BOTH lack a key never pair. Null-safe equality treats
    * null as a value (null matches null), which is the semantics of a
    * "match on possibly-missing natural key" reconciliation. Nullable
    * keys derive deterministically from the fixture (keys ≡3 mod 97 go
    * null on both sides — ~1% missing). Catalyst plans `<=>` as an
    * ordinary hash join — EqualNullSafe is a valid equi-join key, NOT a
    * nested loop — so the shape stays the q03 shuffle join at any scale.
    * The sharp edge this query is honest about: the null bucket is a
    * SELF-PRODUCT (every null-key left row pairs with every null-key
    * right row) hashed to one partition. A draft with 1/7 null density
    * measured 13.9 s at sf0.1 — a ~46 M-pair hot key; at production
    * null rates, pre-filter or salt the null bucket before a `<=>`
    * join. The declared form keeps nulls at the realistic 1% where the
    * null product stays bounded. */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).select(
      $"c_custkey",
      when($"c_custkey" % 97 === 3, lit(null).cast("long"))
        .otherwise($"c_custkey").as("ck"))
    val o = Tables.orders(s, dir).select(
      $"o_orderkey",
      when($"o_custkey" % 97 === 3, lit(null).cast("long"))
        .otherwise($"o_custkey").as("ok"))
    c.join(o, $"ck" <=> $"ok")
      .groupBy(isnull($"ck").as("key_missing"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"c_custkey").as("n_cust"),
        countDistinct($"o_orderkey").as("n_orders"))
      .orderBy($"key_missing")
  }

  /** Strict-forward as-of join — "first event STRICTLY AFTER the order
    * date per customer", the exclusive-boundary twin of [[asofJoin]]
    * (q07 merges the first event AT-OR-AFTER the order ts — inclusive
    * boundary; this excludes the exact-ts event and merges the next
    * strictly-later one). Same join-free sorted-merge shape: union both
    * sides on (uid, ts), one window pass.
    * Strictness comes from the SORT + FRAME pair: same-ts events sort
    * BEFORE the order row (`event_id ASC NULLS LAST` — non-null ids
    * first), and the frame starts at 1 FOLLOWING, so an event at exactly
    * the order timestamp is excluded while anything later is seen. One
    * shuffle on uid total — the same 100-TB argument as q07 (an
    * inequality join would be quadratic per user). */
  def asofForwardJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select(
      $"o_custkey".as("uid"),
      $"o_orderdate".cast("timestamp").as("ts"),
      lit(null).cast("long").as("event_id"), $"o_orderkey")
    val e = Tables.events(s, dir).select(
      $"user_id".as("uid"), $"ts",
      $"event_id", lit(null).cast("long").as("o_orderkey"))
    val w = Window.partitionBy($"uid")
      .orderBy($"ts".asc, $"event_id".asc_nulls_last, $"o_orderkey".asc_nulls_first)
      .rowsBetween(1, Window.unboundedFollowing)
    o.unionByName(e)
      .withColumn("next_event", first($"event_id", ignoreNulls = true).over(w))
      .withColumn("next_ts",
        first(when($"event_id".isNotNull, $"ts"), ignoreNulls = true).over(w))
      .filter($"o_orderkey".isNotNull && $"next_event".isNotNull)
      .select($"o_orderkey", $"next_event", $"next_ts")
      .orderBy($"o_orderkey")
  }

  /** Association-rule mining over the order market basket — which part
    * brands are bought TOGETHER, scored by the three classic measures
    * (support count, confidence, lift). The mechanics are a bipartite
    * projection: (order, brand) incidence pairs self-joined on the order
    * key to produce co-occurrence counts. The scale contract is that the
    * multiplicity of the self-join is bounded by ITEMS PER BASKET (≤ 17
    * lines per TPC-H order, and the brand projection collapses those
    * further), never by table size: the join shuffles both sides by
    * order key once and emits ≤ k² rows per order — linear in orders.
    * The per-brand support table and the 1-row basket total are
    * broadcast; the pair table itself is vocab-bounded (≤ |brands|² / 2
    * rows at ANY fact scale). Lift — P(a,b) / (P(a)·P(b)) — is formed as
    * the exact-integer cross-product `n_ab·N / (n_a·n_b)` with ONE IEEE
    * divide at the end (the Portable contract), so every score is
    * bit-identical across engines and parallelism. A support floor
    * (n_ab ≥ 5) mirrors real rule miners: rare pairs are noise, and
    * pruning them early keeps the output stable. */
  def brandAffinity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ob = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ok"), $"p_brand".as("brand"))
      .distinct() // one row per (order, brand): co-occurrence, not volume
    val a = ob.select($"ok", $"brand".as("brand_a"))
    val b = ob.select($"ok", $"brand".as("brand_b"))
    val pairs = a.join(b, "ok").filter($"brand_a" < $"brand_b")
      .groupBy($"brand_a", $"brand_b").agg(count(lit(1)).as("n_ab"))
    val sup = ob.groupBy($"brand").agg(count(lit(1)).as("n"))
    val tot = ob.select($"ok").distinct().agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(sup.select($"brand".as("brand_a"), $"n".as("n_a"))), "brand_a")
      .join(broadcast(sup.select($"brand".as("brand_b"), $"n".as("n_b"))), "brand_b")
      .crossJoin(broadcast(tot))
      .filter($"n_ab" >= 5)
      .select($"brand_a", $"brand_b", $"n_ab", $"n_a", $"n_b",
        ratio($"n_ab", $"n_a").as("confidence"),
        ratio($"n_ab" * $"n_orders", $"n_a" * $"n_b").as("lift"))
      .orderBy($"brand_a", $"brand_b")
  }

  /** TPC-H Q21's "suppliers who kept orders waiting" re-expressed
    * Spark-first. The classic text is EXISTS / NOT EXISTS over lineitem
    * three times; the equivalent dataflow is ONE pass: collapse lineitem to
    * (order, supplier, was_late) — late := any line shipped > 90 days after
    * the order date (the fixture has no receipt/commit dates; the margin is
    * the same "blew the SLA" predicate) — then per-order window counts
    * decide "multi-supplier order whose ONLY late supplier is this one".
    * Scale: the (ok, sk) agg shuffles lineitem once by its natural join
    * key; the window re-shuffles the *collapsed* (≤ suppliers-per-order ≈ 4
    * rows/order) relation, never raw lineitem; supplier names broadcast.
    * The three-self-join EXISTS form would scan lineitem 3× and shuffle it
    * twice — strictly worse at any scale. */
  def lateSupplierBlame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val osup = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy($"l_orderkey".as("ok"), $"l_suppkey".as("sk"))
      .agg(max(($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAYS"))
        .cast("int")).as("late"))
    val w = Window.partitionBy($"ok")
    osup
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum($"late").over(w))
      .filter($"late" === 1 && $"n_late" === 1 && $"n_supp" >= 2)
      .join(broadcast(Tables.supplier(s, dir)), $"sk" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(10)
  }

  /** TPC-H Q22's "global sales opportunity" shape: customers with
    * above-average positive balances who have gone dormant (no order since
    * a cutoff), rolled up by segment. Mechanics: a 1-row exact-integer
    * average broadcast to every executor (the scalar subquery), a
    * shuffle-on-key LEFT ANTI against the distinct recent-buyer set, then a
    * segment rollup. Scale: the anti join is key-partitioned on custkey
    * (never broadcast — the buyer set grows with the fact table); the
    * balance filter needs only the broadcast scalar, so the customer scan
    * stays one pass. */
  def dormantHighValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val avgPos = c.filter($"c_acctbal" > 0)
      .agg(sum(cents($"c_acctbal")).as("bal_sum"), count(lit(1)).as("bal_n"))
    val recent = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
      .select($"o_custkey").distinct()
    c.crossJoin(broadcast(avgPos))
      .filter(cents($"c_acctbal").cast("double") > ratio($"bal_sum", $"bal_n"))
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum(cents($"c_acctbal")).as("bal_cents"))
      .orderBy($"c_mktsegment")
  }

  /** TPC-H Q20's nested-aggregate shape, adapted to the fixture: suppliers
    * whose shipped quantity of a brand is over-concentrated — more than
    * 1.5× the uniform share (supp_qty · n_suppliers > 1.5 · brand_qty,
    * kept exact as 2·q·ns > 3·bq in integers; the fixture's max
    * concentration is 2.14×, p99 1.59×, so the band is selective but
    * non-empty at every SF). Scale: one lineitem shuffle to (supplier,
    * brand); the per-brand totals relation is vocab-bounded (≤ |brands|
    * rows at any fact scale) and broadcast, as is the supplier dim. */
  def promoSupplierShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sb = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey", $"p_brand")
      .agg(sumIntValued($"l_quantity").as("supp_qty"))
    val bt = sb.groupBy($"p_brand".as("bb"))
      .agg(sum($"supp_qty").as("brand_qty"), count(lit(1)).as("n_supp"))
    sb.join(broadcast(bt), $"p_brand" === $"bb")
      .filter($"supp_qty" * lit(2L) * $"n_supp" > lit(3L) * $"brand_qty")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .select($"s_name", $"p_brand", $"supp_qty", $"brand_qty", $"n_supp",
        ratio($"supp_qty" * $"n_supp", $"brand_qty").as("share_x_uniform"))
      .orderBy($"p_brand", $"s_name")
  }

  /** TPC-H Q18's "large-volume order" shape: HAVING over a per-order
    * quantity rollup, then re-attach order/customer context. Scale: the
    * rollup shuffles lineitem ONCE by its natural key; the HAVING
    * (> 300, ≈ p99.5 of the per-order distribution) collapses the relation
    * to a sliver before any further join, so the orders/customer joins see
    * thousands of rows, not the fact table — AQE turns both into broadcasts
    * at runtime, and at 100 TB they stay key-partitioned joins whose left
    * side is post-HAVING tiny. Top-20 by exact total cents, orderkey
    * tiebreak — fully deterministic. */
  def bigOrderCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sumIntValued($"l_quantity").as("order_qty"))
      .filter($"order_qty" > 300)
    big.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        cents($"o_totalprice").as("total_cents"), $"order_qty")
      .orderBy($"total_cents".desc, $"o_orderkey".asc)
      .limit(20)
  }

  /** TPC-H Q19's disjunctive multi-branch predicate: three conjunctive
    * (part-attribute × lineitem-range) branches OR'd together. The point
    * at scale is that the whole disjunction evaluates INSIDE the scan
    * stage — one codegen'd filter over the broadcast-joined rows, no
    * per-branch union of three scans (the naive translation reads the
    * fact table three times). Output is a single exact-cents row. */
  def disjunctivePredScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_type" === "PROMO" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 20)) ||
        ($"p_type" === "ECONOMY" && $"p_size".between(10, 30) &&
          $"l_quantity".between(10, 35)) ||
        ($"p_type" === "LARGE" && $"p_size".between(25, 50) &&
          $"l_quantity".between(20, 50)))
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("revenue_cents"), count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q7's bilateral trade-flow shape: volume between (supplier
    * nation, customer nation) pairs by ship year, excluding domestic
    * trade. Scale: ONE fact⋈fact shuffle (lineitem⋈orders on orderkey);
    * the customer side is a key-partitioned join on custkey (customers
    * grow with the data — never broadcast); supplier and nation are
    * broadcast dims. The group space is |nations|² × years — constant in
    * fact volume. */
  def nationTradeFlow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cn = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val sn = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"c_custkey")
      .join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
      .filter($"cust_nation" =!= $"supp_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("ship_year"))
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("volume_cents"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  /** TPC-H Q15's "top supplier" shape: revenue per supplier over a fixed
    * quarter, keep every supplier tied at the maximum (the classic
    * revenue = (SELECT max ...) correlated form). Exact integer cents make
    * the tie semantics reproducible — a double-sum formulation can
    * disagree with the oracle on who ties at the top. Scale: the date
    * filter pushes to the scan, one supplier-keyed agg, and the max is a
    * 1-row broadcast back onto the agg — no second fact pass. */
  def topSupplierInterval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1998-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("total_cents"))
    val mx = rev.agg(max($"total_cents").as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter($"total_cents" === $"mx")
      .join(broadcast(Tables.supplier(s, dir)),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_cents")
      .orderBy($"s_suppkey")
  }

  /** TPC-H Q16's supplier-count census, adapted to the fixture's star (no
    * partsupp: the observed (part, supplier) incidence from lineitem
    * stands in). Suppliers in deficit (s_acctbal < 0 — the "customer
    * complaints" analog) are excluded by broadcast anti-join BEFORE the
    * distinct, the brand/type/size screen is a broadcast dim filter, and
    * the count-distinct groups on part attributes — a vocab-bounded group
    * space. Scale: one distinct-pairs shuffle of the projected fact
    * columns; everything else broadcasts. */
  def brandSupplierCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val excl = Tables.supplier(s, dir)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey").distinct()
      .join(broadcast(excl), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .filter($"p_brand" =!= "Brand#13" && $"p_type" =!= "MEDIUM" &&
        $"p_size".isin(1, 4, 9, 16, 25, 36, 49))
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** TPC-H Q9's profit decomposition by (supplier nation, year). The
    * fixture has no partsupp cost, so unit cost is modeled as 40 % of
    * p_retailprice — kept EXACT: cost_cents = (retail_cents · qty · 2)
    * div 5, all longs, truncating division identical in Spark's `div`
    * and DuckDB's `//` for non-negative operands. Profit per row is
    * revenue cents − cost cents; sums are exact longs (headroom: ~10⁷
    * cents/row × 6·10⁹ rows at 100 TB ≈ 6·10¹⁶ ≪ 2⁶³). Scale: one
    * fact⋈fact shuffle on orderkey for the order year; part and the
    * supplier→nation map broadcast; group space |nations| × years. */
  def profitDecomposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sn = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("nation"))
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
      .withColumn("profit_cents",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")) -
          expr(s"(${centsSql("p_retailprice")}" +
            " * CAST(l_quantity AS BIGINT) * 2) div 5"))
      .groupBy($"nation", year($"o_orderdate").as("o_year"))
      .agg(sum($"profit_cents").as("profit_cents"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** Item-item collaborative-filtering similarity at PART granularity —
    * q199's basket projection, but with cosine over co-purchase vectors
    * (the classic item-based recommender score) instead of lift over
    * brands. Portability: cosine = n_ab / √(n_a·n_b) stays
    * bit-deterministic because IEEE-754 requires sqrt, ×, / to be
    * CORRECTLY ROUNDED — the whole score is a fixed three-op tree over
    * exact integers, no order-dependent float accumulation anywhere.
    * Scale: pair generation is basket-bounded (≤ C(17,2) rows per order
    * on the fixture — q255 measures the distribution);
    * the support counts attach via KEYED joins, not broadcast — the part
    * catalog grows with the corpus, unlike q199's 25-brand vocab. The
    * n_ab ≥ 3 support floor prunes the pair tail before those joins. */
  def itemCooccurrenceCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val op = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val pairs = op.select($"ok", $"pk".as("pa"))
      .join(op.select($"ok".as("ok2"), $"pk".as("pb")),
        $"ok" === $"ok2" && $"pa" < $"pb")
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 3)
    val sup = op.groupBy($"pk").agg(count(lit(1)).as("n"))
    val ord = Seq($"cosine".desc, $"pa".asc, $"pb".asc)
    pairs
      .join(sup.select($"pk".as("pa"), $"n".as("n_a")), "pa")
      .join(sup.select($"pk".as("pb"), $"n".as("n_b")), "pb")
      .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b",
        ($"n_ab".cast("double") /
          sqrt($"n_a".cast("double") * $"n_b".cast("double"))).as("cosine"))
      .orderBy(ord: _*).limit(50).orderBy(ord: _*)
  }

  /** Brand loyalty census — repeat-purchase rate per brand: of the
    * customers who ever bought the brand (reach), what fraction came back
    * for a second distinct order (loyal). Complements q199/q220's
    * within-basket co-occurrence with the ACROSS-TIME repeat dimension.
    * Scale: one fact⋈fact shuffle for custkey, broadcast part dim, one
    * distinct over (brand, cust, order) — basket-bounded fan-out — then
    * two vocab-bounded collapses to the 25-row brand table. The loyal
    * count is a conditional sum, exact; rate is one IEEE divide. */
  def brandLoyalty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bc = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"p_brand", $"o_custkey", $"o_orderkey").distinct()
      .groupBy($"p_brand", $"o_custkey").agg(count(lit(1)).as("n_ord"))
    bc.groupBy($"p_brand")
      .agg(count(lit(1)).as("reach"),
        sum(($"n_ord" >= 2).cast("long")).as("loyal"))
      .select($"p_brand", $"reach", $"loyal",
        ratio($"loyal", $"reach").as("repeat_rate"))
      .orderBy($"p_brand")
  }

  /** NEAREST as-of join — the fourth direction of the as-of family
    * (q07 backward-inclusive, q125 forward, q178 tolerance): each
    * purchase event matches the temporally NEAREST view event of the
    * same user, whichever side it lies on; exact ties prefer the earlier
    * (backward) candidate. Same join-free merge formulation: one union
    * of the two filtered streams, then BOTH direction windows hang off
    * the SAME sort exchange (the backward last-value and forward
    * first-value share partitioning AND ordering — one shuffle, one
    * sort, two frames). Gap arithmetic is integer seconds; the pick is
    * a three-way CASE on exact longs. Orders×events would be degenerate
    * here (the fixture's streams are years apart — q178's calibration
    * note), so the two sides are event-type slices of the SAME stream,
    * where both directions genuinely occur. */
  def asofNearestJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val views = ev.filter($"event_type" === "view").select(
      $"user_id".as("uid"), $"ts", $"event_id".as("view_id"),
      lit(null).cast("long").as("purch_id"))
    val purch = ev.filter($"event_type" === "purchase").select(
      $"user_id".as("uid"), $"ts", lit(null).cast("long").as("view_id"),
      $"event_id".as("purch_id"))
    val ord = Seq($"ts".asc, $"view_id".asc_nulls_first,
      $"purch_id".asc_nulls_first)
    val wB = Window.partitionBy($"uid").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy($"uid").orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    views.unionByName(purch)
      .withColumn("b_id", last($"view_id", ignoreNulls = true).over(wB))
      .withColumn("b_ts",
        last(when($"view_id".isNotNull, $"ts"), ignoreNulls = true).over(wB))
      .withColumn("f_id", first($"view_id", ignoreNulls = true).over(wF))
      .withColumn("f_ts",
        first(when($"view_id".isNotNull, $"ts"), ignoreNulls = true).over(wF))
      .filter($"purch_id".isNotNull)
      .withColumn("d_b", unix_timestamp($"ts") - unix_timestamp($"b_ts"))
      .withColumn("d_f", unix_timestamp($"f_ts") - unix_timestamp($"ts"))
      .select($"purch_id",
        when($"b_id".isNull, $"f_id")
          .when($"f_id".isNull, $"b_id")
          .when($"d_f" < $"d_b", $"f_id").otherwise($"b_id")
          .as("nearest_view"),
        when($"b_id".isNull, lit("forward"))
          .when($"f_id".isNull, lit("backward"))
          .when($"d_f" < $"d_b", lit("forward")).otherwise(lit("backward"))
          .as("direction"),
        when($"b_id".isNull, $"d_f")
          .when($"f_id".isNull, $"d_b")
          .when($"d_f" < $"d_b", $"d_f").otherwise($"d_b")
          .as("gap_s"))
      .filter($"nearest_view".isNotNull)
      .orderBy($"purch_id")
  }

  /** TPC-H Q2's min-cost-supplier shape (no partsupp in the fixture: the
    * observed per-(part, supplier) minimum unit price from lineitem
    * stands in for ps_supplycost). The correlated `= (SELECT min ...)`
    * becomes an argmin join: per-part cheapest (unit price, supplier),
    * tie-broken by suppkey. Unit price is ONE IEEE divide of two exact
    * ints per (part, supplier) — identical doubles on both engines, so
    * even the float ORDERING is engine-invariant (ties resolved on the
    * integer key). Scale: one (part, supp) collapse of the screened
    * fact, one part-keyed argmin — no correlated re-scan; the size
    * screen broadcast-prunes the fact first. */
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val screen = broadcast(Tables.part(s, dir)
      .filter($"p_size" <= 10).select($"p_partkey", $"p_brand"))
    val unit = Tables.lineitem(s, dir)
      .join(screen, $"l_partkey" === $"p_partkey")
      .groupBy($"p_partkey", $"p_brand", $"l_suppkey")
      .agg(min(ratio(cents($"l_extendedprice"),
        $"l_quantity".cast("long"))).as("unit_cents"))
    unit.groupBy($"p_partkey", $"p_brand")
      .agg(min_by(struct($"l_suppkey", $"unit_cents"),
        struct($"unit_cents", $"l_suppkey")).as("best"))
      .select($"p_partkey", $"p_brand",
        $"best.l_suppkey".as("cheapest_supp"),
        $"best.unit_cents".as("unit_cents"))
      .orderBy($"p_partkey")
  }

  /** TPC-H Q4's order-priority census over orders with at least one LATE
    * line (no l_commitdate in the fixture: "late" = shipped more than 60
    * days after the order date — the correlated predicate still spans
    * both tables, which is the shape's whole point). The EXISTS becomes a
    * LEFT SEMI join keyed on orderkey with the date comparison carried in
    * the join condition: one fact⋈fact shuffle, no pair materialization,
    * 5-row census. The date window keeps the orders side pruned at the
    * scan. */
  def priorityLateExists(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .join(Tables.lineitem(s, dir),
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        "semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** TPC-H Q6's forecasting-revenue-change: the PURE SCAN query — no
    * join, no window, one 1-row agg; its entire scale story is predicate
    * pushdown (all three filters reach the parquet reader, plan-guarded)
    * and map-side partial aggregation, so cost is one codegen pass over
    * the pruned scan at any SF. Revenue = Σ cents(extendedprice·discount)
    * — fixed-pointed per row FIRST, then an exact integer sum. */
  def scanOnlyRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
        $"l_quantity" < 24)
      .agg(sum(cents($"l_extendedprice" * $"l_discount"))
          .as("revenue_cents"),
        count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q10's returned-item revenue report: which customers sent the
    * most revenue back last quarter-pair. Scale: the returnflag filter
    * prunes the fact scan; fact⋈fact joins on the natural orderkey; the
    * per-customer collapse happens BEFORE the customer join, so the
    * growing customer dim joins a |customers|-bounded aggregate on its
    * own key (never broadcast); nation broadcasts; top-20 is
    * TakeOrdered with a custkey tiebreak (exact cents ⇒ the tie set is
    * engine-invariant). */
  def returnedRevenueTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byCust = Tables.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .join(Tables.orders(s, dir)
          .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-07-01").cast("timestamp")),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("rev_cents"))
    byCust
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name".as("nation"), $"rev_cents")
      .orderBy($"rev_cents".desc, $"c_custkey".asc)
      .limit(20)
  }

  /** TPC-H Q13's customer order-count distribution INCLUDING the
    * never-ordered zero bucket — the reason it must be a LEFT OUTER from
    * customer, not an orders groupBy (which silently drops the most
    * interesting cohort). The comment-pattern exclusion becomes a status
    * screen ('P' orders don't count), carried in the JOIN CONDITION so
    * excluded orders still yield count 0, not a dropped customer. Scale:
    * one custkey-keyed outer join (orders grow with facts — never
    * broadcast), per-customer count, then a ≤ max-orders-per-customer
    * histogram collapse. */
  def orderCountDistribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        $"c_custkey" === $"o_custkey" && $"o_orderstatus" =!= "P",
        "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** TPC-H Q14's promo revenue share for one month: two conditional
    * integer sums over a single broadcast-part-joined fact pass, then ONE
    * IEEE divide — the percentage the textbook computes with
    * 100·sum(case…)/sum(…) on doubles, kept bit-deterministic here by
    * fixed-pointing each row first. The date window prunes the fact
    * scan. */
  def promoRevenueShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1997-09-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-10-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .withColumn("pc", cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
      .agg(
        sum(when($"p_type" === "PROMO", $"pc").otherwise(lit(0L)))
          .as("promo_cents"),
        sum($"pc").as("total_cents"))
      .select($"promo_cents", $"total_cents",
        ratio($"promo_cents", $"total_cents").as("promo_share"))
  }

  /** TPC-H Q17's small-quantity-order revenue: lines whose quantity is
    * below 20 % of their part's average. The correlated scalar subquery
    * is rewritten as a partkey-keyed join against per-part integer
    * moments, and the 0.2·avg threshold stays EXACT: qty < 0.2·(Σq/n) ⇔
    * 5·qty·n < Σq — all longs, no division anywhere. Scale: the brand
    * screen is part-level, so it broadcast-prunes the FACT before the
    * per-part stats are computed (the stats are unchanged by a
    * partkey-functional filter — this is what makes the textbook's
    * whole-table subquery collapse to the filtered sliver); the stats
    * join is keyed on partkey. Output: one row, with the classic /7
    * yearly average as one IEEE divide. */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pb = broadcast(Tables.part(s, dir)
      .filter($"p_brand" === "Brand#23").select($"p_partkey"))
    val li = Tables.lineitem(s, dir)
      .join(pb, $"l_partkey" === $"p_partkey", "semi")
      .select($"l_partkey", $"l_quantity".cast("long").as("qty"),
        cents($"l_extendedprice").as("pc"))
    val pa = li.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"), sum($"qty").as("sq"))
    li.join(pa, "l_partkey")
      .filter(lit(5L) * $"qty" * $"n" < $"sq")
      .agg(count(lit(1)).as("n_rows"), sum($"pc").as("rev_cents"))
      .select($"n_rows", $"rev_cents",
        ratio($"rev_cents", lit(7L)).as("avg_yearly_cents"))
  }

  /** TPC-H Q11's important-stock screen — the GROUP-HAVING-AGAINST-A-
    * GLOBAL-SCALAR shape, adapted to the fixture (no partsupp table:
    * "stock value" = revenue attributable to each part through the
    * suppliers of ONE nation). A part survives iff its value exceeds
    * 2× the uniform share of the SAME filtered set — the threshold is
    * SELF-NORMALIZING (value·n_parts > 2·total — the q202 lesson: a
    * fixed fraction either admits everything at small SF or nothing at
    * large), and the screen cross-multiplies in decimal(38,0) so
    * value·n cannot wrap past 2⁶³ at any corpus (q197/q203 envelope).
    * Scale: nation's suppliers are a broadcast semi screen on the fact
    * scan; one partkey-keyed cents collapse; the scalar (total, n) is a
    * 1-row broadcast back — no correlated re-scan of the fact, which is
    * the trap the textbook Q11 subquery invites. */
  def importantPartsValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val natSupp = broadcast(
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          $"s_nationkey" === $"n_nationkey")
        .filter($"n_name" === "NATION_7")
        .select($"s_suppkey"))
    val value = Tables.lineitem(s, dir)
      .join(natSupp, $"l_suppkey" === $"s_suppkey", "semi")
      .groupBy($"l_partkey")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("value_cents"))
    val tot = value.agg(sum($"value_cents").as("total"),
      count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(tot))
      .filter($"value_cents".cast(d38) * $"n_parts".cast(d38) >
        lit(2L).cast(d38) * $"total".cast(d38))
      .select($"l_partkey", $"value_cents")
      .orderBy($"value_cents".desc, $"l_partkey".asc)
  }

  /** TPC-H Q12's two-flag shipping census — per "mode" (no l_shipmode in
    * the fixture: l_returnflag stands in), the count of HIGH-priority
    * (1-URGENT/2-HIGH) vs lower-priority orders among lines shipped
    * within the on-time sandwich (0 < ship − order ≤ 60 days, the
    * fixture's stand-in for the commit/receipt date ordering — the
    * cross-table date predicate is the shape's point). One fact⋈fact
    * orderkey shuffle with the year filter pruning the lineitem scan;
    * both flags are one conditional-sum pass; ≤|flags| rows out. */
  def shipPriorityCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hi = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("2000-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("2001-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .filter($"l_shipdate" > $"o_orderdate" &&
        $"l_shipdate" <= $"o_orderdate" + expr("INTERVAL 60 DAYS"))
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin(hi: _*), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority".isin(hi: _*), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** Join-path DISCOVERY via column sketches — the data-catalog
    * operator (Aurum/Sherlock-class schema matching, public
    * descriptions): which column PAIRS across tables look joinable,
    * WITHOUT any declared relationship? q275 profiles relationships
    * someone already knows about with an exact per-pair full-outer
    * join; this screens ALL pairs first, the way a catalog must at
    * thousands of tables. Each audited column gets ONE set-level
    * 12-hash MinHash signature (the q299 construction — and because
    * min ignores duplicates, the signature needs NO distinct: it is a
    * pure column scan folding into a 1-row map-side-combinable agg),
    * then the |columns|²/2 pair table compares signatures: matching
    * minima / 12 estimates the value-set Jaccard, and ≥8/12 flags the
    * pair joinable (J ≳ 0.67). Expected hits on this schema: the
    * key/FK pairs (orderkey↔orderkey, custkey↔custkey,
    * suppkey↔suppkey); everything else collides only by numeric-range
    * accident — exactly what the estimate is for. Scale: one scan per
    * audited column, six 1-row signatures, a bounded broadcast theta
    * join; nothing grows with the data. */
  def joinDiscovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
    // ONE scan per TABLE, however many of its columns are audited
    // (optimization-round rework, guide §1.2 step 1: the per-column form
    // scanned lineitem and orders twice each — the two fact scans were
    // the dominant cost of the screen; all 12·|cols| min-folds of a
    // table now ride a single map-side-combining agg over one scan).
    // Per-column digests are BOUND columns (h$k) so md5 runs once per
    // row per column, exactly as the per-column form did.
    def tableSigs(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
      val digests = cols.zipWithIndex.map { case ((_, c), k) =>
        conv(substring(md5(col(c).cast("string")), 1, 10), 16, 10)
          .cast("long").as(s"h$k")
      }
      val mins = cols.indices.flatMap { k =>
        (0 until 12).map(j =>
          min((lit(MinhashA(j)) * col(s"h$k") + lit(MinhashB(j)))
            % lit(MinhashPrime)).as(s"m${k}_$j"))
      }
      val oneLazy = df.select(digests: _*).agg(mins.head, mins.tail: _*)
      // multi-column tables: pin the 1-ROW signature block — without it,
      // column pruning specializes each per-column select into its own
      // agg-over-scan subtree and the table is scanned per column again
      val one =
        if (cols.size > 1) Pinned.pin(oneLazy)
        else oneLazy
      cols.zipWithIndex.map { case ((name, _), k) =>
        one.select(lit(name).as("col_name") +:
          (0 until 12).map(j => col(s"m${k}_$j").as(s"m$j")): _*)
      }.reduce(_ unionAll _)
    }
    val sigs = Seq(
      tableSigs(Tables.customer(s, dir),
        Seq("customer.c_custkey" -> "c_custkey")),
      tableSigs(Tables.lineitem(s, dir),
        Seq("lineitem.l_orderkey" -> "l_orderkey",
          "lineitem.l_suppkey" -> "l_suppkey")),
      tableSigs(Tables.orders(s, dir),
        Seq("orders.o_custkey" -> "o_custkey",
          "orders.o_orderkey" -> "o_orderkey")),
      tableSigs(Tables.supplier(s, dir),
        Seq("supplier.s_suppkey" -> "s_suppkey")))
      .reduce(_ unionAll _)
    val a = sigs.select($"col_name".as("col_a") +:
      (0 until 12).map(j => col(s"m$j").as(s"a$j")): _*)
    val b = sigs.select($"col_name".as("col_b") +:
      (0 until 12).map(j => col(s"m$j").as(s"b$j")): _*)
    val nMatch = (0 until 12)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, $"col_a" < $"col_b")
      .select($"col_a", $"col_b", nMatch.as("n_match"))
      .select($"col_a", $"col_b", $"n_match",
        ratio($"n_match", lit(12L)).as("est_jaccard"),
        ($"n_match" >= 8L).as("joinable"))
      .orderBy($"col_a", $"col_b")
  }

  /** The audited-column registry shared by [[joinDiscovery]] (sketch
    * screen) and [[inclusionDirection]] (exact verify): name → column
    * projection.
    *
    * NON-NULL PRECONDITION (advice r19): [[inclusionDirection]]'s
    * full-outer per-pair verdict counts `count(va)`/`count(vb)` and
    * null-side orphans, so a NULL value in a distinct set would be
    * dropped from its own cardinality and counted in BOTH orphan sums.
    * Every column registered here must therefore be non-nullable (all
    * current entries are TPC-H keys, NOT NULL by the spec); a nullable
    * candidate must be pre-filtered with `.filter($"v".isNotNull)` at
    * registration. */
  private def auditedColumns(s: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    "customer.c_custkey" -> Tables.customer(s, dir).select(col("c_custkey").cast("string").as("v")),
    "lineitem.l_orderkey" -> Tables.lineitem(s, dir).select(col("l_orderkey").cast("string").as("v")),
    "lineitem.l_suppkey" -> Tables.lineitem(s, dir).select(col("l_suppkey").cast("string").as("v")),
    "orders.o_custkey" -> Tables.orders(s, dir).select(col("o_custkey").cast("string").as("v")),
    "orders.o_orderkey" -> Tables.orders(s, dir).select(col("o_orderkey").cast("string").as("v")),
    "supplier.s_suppkey" -> Tables.supplier(s, dir).select(col("s_suppkey").cast("string").as("v")))

  /** Inclusion-dependency DIRECTION — phase two of the q302 catalog:
    * the sketch screen says WHICH pairs look joinable; this says WHICH
    * WAY (FK → PK): per surviving pair, exact distinct cardinalities
    * and both anti-join orphan counts classify the pair as
    * `equal` / `a_subset_of_b` / `b_subset_of_a` / `overlap` — the
    * label a modeling tool needs before it dares write a join. The
    * two-phase shape IS the scale story: exact set comparison per pair
    * costs a keyed distinct + two anti-joins, affordable only because
    * the O(schema²) sketch screen (one cheap scan per column) already
    * cut the candidate list; the screen result is a BOUNDED decision
    * gate (≤ C(6,2) rows — the `Sources` WAP-audit collect class, an
    * O(schema²) read, never O(data)). */
  def inclusionDirection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = auditedColumns(s, dir).toMap
    val screened = joinDiscovery(s, dir)
      .filter($"joinable")
      .select($"col_a", $"col_b")
      .collect() // bounded: ≤ C(|audited columns|, 2) = 15 rows
      .map(r => (r.getString(0), r.getString(1)))
    // each surviving column's distinct key set is PINNED once, hash-on-v:
    // a pair references its sides three times each (cardinality agg +
    // both anti-joins), and a column can survive in several pairs — the
    // lazy form re-ran the distinct (and its table scan) per reference.
    // The v-pin also lands both anti-joins exchange-free.
    val distincts: Map[String, DataFrame] = screened
      .flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(n => n -> Pinned.partitionedCheckpoint(
        cols(n).distinct(), $"v"))
      .toMap
    val perPairLazy = screened.toSeq.sorted.map { case (an, bn) =>
      val av = distincts(an)
      val bv = distincts(bn)
      // the whole per-pair verdict is ONE full-outer join + ONE 1-row
      // aggregate (optimization-round rework, guide §1.2 step 1: the
      // four-aggregate crossJoin form read each pinned side three times
      // and ran ~5 adaptive stages per pair; both cardinalities and both
      // orphan counts fall out of the single exchange-free v-keyed merge
      // of the two pins — n_a = rows with an a-side value, a_not_in_b =
      // rows whose b side is NULL, and symmetrically)
      (an, bn,
        av.select($"v".as("va"))
          .join(bv.select($"v".as("vb")), $"va" === $"vb", "full_outer")
          .agg(count($"va").as("n_a"), count($"vb").as("n_b"),
            sum(when($"vb".isNull, 1L).otherwise(0L)).as("a_not_in_b"),
            sum(when($"va".isNull, 1L).otherwise(0L)).as("b_not_in_a"))
          .select(lit(an).as("col_a"), lit(bn).as("col_b"),
            $"n_a", $"n_b", $"a_not_in_b", $"b_not_in_a")
          .withColumn("relation",
            when($"a_not_in_b" === 0L && $"b_not_in_a" === 0L, "equal")
              .when($"a_not_in_b" === 0L, "a_subset_of_b")
              .when($"b_not_in_a" === 0L, "b_subset_of_a")
              .otherwise("overlap")))
    }
    // Round-20 (guide §2.6 — overlap independent jobs; verdict r19 item):
    // behind the bounded collect gate everything is INDEPENDENT — each
    // column pin is a distinct over its own table scan, each pair verdict
    // reads two pins — but the lazy union materialized them one after
    // another, leaving the cluster idle through every subtree's tail.
    // Materialize the pins concurrently (noop actions), then the ≤C(6,2)
    // 1-row verdicts concurrently (eager 1-row pins); the returned frame
    // unions the pinned rows. All work stays inside this invocation —
    // nothing is reused across runs.
    graft.operators.Pool.runAll(4)(distincts.values.toSeq.map(df => () => {
      s.sparkContext.setJobDescription("q303: column distinct pin")
      df.write.mode("overwrite").format("noop").save()
    }))
    val perPair = graft.operators.Pool.runAll(4)(perPairLazy.map {
      case (an, bn, v) => () => {
        s.sparkContext.setJobDescription(s"q303: verdict $an vs $bn")
        Pinned.pin(v, eager = true) // 1-row verdict
      }
    })
    // an empty screen (no joinable pair) verifies nothing: zero verdicts
    perPair.reduceOption(_ unionAll _)
      .getOrElse(s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType.fromDDL("col_a STRING, col_b STRING, n_a BIGINT, " +
          "n_b BIGINT, a_not_in_b BIGINT, b_not_in_a BIGINT, relation STRING")))
      .orderBy($"col_a", $"col_b")
  }

  /** Incremental materialized-view maintenance with RETRACTIONS — the
    * aggregate-level delta protocol (Differential-Dataflow / Flink
    * retract-stream class, public semantics; q257 is the ROW-level
    * last-writer-wins sibling): a per-customer (n_orders, spend) MV
    * materialized as of a cutoff date is advanced by a delta batch —
    * new orders as (+1, +cents) and upstream cancellations of BASE
    * rows (every 7th orderkey) as (−1, −cents) retractions — via one
    * delta aggregate + one keyed full-outer merge; groups retracted to
    * zero DROP (the anti-join a naive implementation forgets). The
    * ORACLE is the full recompute over the post-delta fact set, so the
    * hash compare IS the theorem: maintained ≡ recomputed, key for
    * key, cent for cent. Scale: this is the whole point of MV deltas —
    * the base facts are NEVER rescanned on advance; the delta batch
    * aggregates map-side and the merge shuffles only |state|+|delta
    * keys| rows. */
  def incrementalMv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = "1997-01-01"
    val o = Tables.orders(s, dir)
      .select($"o_custkey".as("ck"), $"o_orderkey", $"o_orderdate",
        cents($"o_totalprice").as("pc"))
    val base = o.filter($"o_orderdate" < lit(cutoff))
      .groupBy($"ck")
      .agg(count(lit(1)).as("n"), sum($"pc").as("spend"))
    val inserts = o.filter($"o_orderdate" >= lit(cutoff))
      .select($"ck", lit(1L).as("dn"), $"pc".as("dc"))
    val retractions = o
      .filter($"o_orderdate" < lit(cutoff) && $"o_orderkey" % 7 === 0)
      .select($"ck", lit(-1L).as("dn"), (-$"pc").as("dc"))
    val delta = inserts.unionAll(retractions)
      .groupBy($"ck").agg(sum($"dn").as("dn"), sum($"dc").as("dc"))
    base.join(delta, Seq("ck"), "full_outer")
      .select($"ck",
        (coalesce($"n", lit(0L)) + coalesce($"dn", lit(0L))).as("n_orders"),
        (coalesce($"spend", lit(0L)) + coalesce($"dc", lit(0L)))
          .as("spend_cents"))
      .filter($"n_orders" > 0L)
      .orderBy($"ck")
  }

  /** Deletion-cascade audit — the GDPR / right-to-be-forgotten blast-
    * radius question q100/q257 (row-level CDC on ONE table) don't answer:
    * a tombstone CUSTOMER set (every 97th custkey — a deterministic ~1 %
    * request batch) propagates through orders → lineitem, and the audit
    * censuses, per nation, what a compliant purge removes from each
    * downstream table AND what it does to the derived revenue aggregate
    * (the flagship revenue-by-nation MV's delta, in exact integer cents).
    * The MAINTAINED side computes every delta INCREMENTALLY from the
    * cascade frontier alone — base tables are never re-aggregated; the
    * ORACLE recomputes before-minus-after from scratch, so the hash
    * compare proves incremental ≡ recomputed (the q305 pattern, extended
    * across a two-level cascade).
    *
    * Scale: the tombstone set is broadcast (a deletion request batch is
    * small by nature — that IS the GDPR contract); the order-frontier →
    * lineitem join stays KEYED on orderkey, because cascade frontiers
    * grow with fan-out (1 % of customers ⇒ 1 % of orders — gigabytes at
    * 100 TB, not broadcastable; AQE may still elect broadcast at runtime
    * when the batch is tiny). Per-nation censuses are ≤|nation|-row
    * partial aggs; the final assembly joins three ≤25-row frames onto
    * the nation dim. */
  def deletionCascade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tomb = Tables.customer(s, dir)
      .filter($"c_custkey" % 97 === 0)
      .select($"c_custkey", $"c_nationkey")
    val delOrders = Tables.orders(s, dir)
      .join(broadcast(tomb), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_nationkey")
    val delLines = Tables.lineitem(s, dir)
      .join(delOrders, $"l_orderkey" === $"o_orderkey")
      .select($"c_nationkey",
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    val cN = tomb.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust_deleted"))
    val oN = delOrders.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders_deleted"))
    val lN = delLines.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_lineitems_deleted"),
        sum($"rev").as("revenue_cents_delta"))
    Tables.nation(s, dir).select($"n_nationkey", $"n_name")
      .join(broadcast(cN), $"n_nationkey" === cN("c_nationkey"), "left")
      .drop(cN("c_nationkey"))
      .join(broadcast(oN), $"n_nationkey" === oN("c_nationkey"), "left")
      .drop(oN("c_nationkey"))
      .join(broadcast(lN), $"n_nationkey" === lN("c_nationkey"), "left")
      .drop(lN("c_nationkey"))
      .select($"n_name",
        coalesce($"n_cust_deleted", lit(0L)).as("n_cust_deleted"),
        coalesce($"n_orders_deleted", lit(0L)).as("n_orders_deleted"),
        coalesce($"n_lineitems_deleted", lit(0L)).as("n_lineitems_deleted"),
        coalesce($"revenue_cents_delta", lit(0L)).as("revenue_cents_delta"))
      .orderBy($"n_name")
  }

  /** k for the q331 anonymity census: at the gated sf0.01 fixture the QI
    * grid's group sizes run 2–47 (875 cells, median 16), so k = 10 splits
    * the census — 120 below-k cells — and the flag is evidence, not a
    * constant. (At sf0.1 every cell clears 10: dims and facts both scale,
    * so re-identification risk FALLS with corpus size — the flag goes
    * all-false there, which is itself the correct answer.) */
  val KAnonK = 10

  /** k-anonymity / quasi-identifier risk census — the privacy-audit
    * complement of [[deletionCascade]] (q326 measures what a deletion
    * removes; this measures what a RELEASE would expose): every order
    * record carries the quasi-identifier triple (customer nation, market
    * segment, order year) — the attacker-joinable attributes in the
    * Sweeney k-anonymity model (public description) — and the census
    * reports, per QI cell, the group size (a release is k-anonymous iff
    * every cell ≥ k) and the l-diversity of the sensitive column
    * (distinct order priorities: a cell where every record shares one
    * sensitive value leaks it even at size ≥ k). Global risk numbers
    * ride every row: k_anonymity = min cell size, l_diversity = min
    * distinct-sensitive, n_groups_below_k. Everything is exact integer
    * counting — one keyed fact⋈dim join, one grouped count, a ≤|cells|
    * second agg; the census is ≤ |nations|·|segments|·|years| rows at
    * any corpus size. */
  def kAnonymityCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 875-row census read twice (rows + global mins): pin, don't recompute
    // lazy (r20): the broadcast-tot build materializes it; eager paid an
    // extra action
    val g = Pinned.pin(Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nation"), $"c_mktsegment".as("mktsegment"),
        year($"o_orderdate").as("order_year"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"o_orderpriority").as("l_div")))
    val tot = g.agg(min($"n_rows").as("k_anonymity"),
      min($"l_div").as("l_diversity"),
      sum(when($"n_rows" < KAnonK, 1L).otherwise(0L)).as("n_groups_below_k"))
    g.crossJoin(broadcast(tot))
      .select($"nation", $"mktsegment", $"order_year", $"n_rows", $"l_div",
        ($"n_rows" < KAnonK).as("below_k"),
        $"k_anonymity", $"l_diversity", $"n_groups_below_k")
      .orderBy($"nation", $"mktsegment", $"order_year")
  }

  /** t-closeness line for q357: flag QI cells whose sensitive
    * distribution sits farther than this EMD from the global one. At the
    * gated sf0.01 fixture cell t runs 0.001–0.50 (median ≈ 0.083; 29 of
    * 875 cells clear 0.2), so 0.2 splits the census — evidence, not a
    * constant (the q331 KAnonK stance). */
  val TCloseT = 0.2

  /** t-closeness census (Li–Li–Venkatasubramanian 2007, public
    * description) — the distribution-level privacy audit k-anonymity
    * (q331) and l-diversity can't express: a cell can clear both and
    * still leak because its SENSITIVE distribution diverges from the
    * corpus's (e.g. a cell that is 100 % URGENT). Per q331 QI cell
    * (customer nation, market segment, order year), the Earth-Mover's
    * Distance between the cell's and the global order-priority
    * distributions under the ordered-domain metric: EMD =
    * (1/(m−1))·Σ_i |cum_cell(i)/n − cum_glob(i)/N| over the sorted
    * priority census. Every prefix gap is the q332 exact integer
    * cross-multiply d_i = cum_cell·N − cum_glob·n (the i = m term is
    * identically 0, so summing all m prefixes IS the m−1 sum); the one
    * IEEE divide lands at the end: t = Σ|d_i| / ((m−1)·n·N). Global
    * t_max / cells-above-t ride every row. Degenerate single-value
    * domain (m = 1): every distribution is identical, t defines to 0.
    *
    * Scale shape: one keyed fact⋈dim join collapses the corpus to the
    * (cell, priority) census (≤ |cells|·m rows at any SF); the full
    * grid is census × broadcast(priority domain) so absent priorities
    * count as zero mass; prefix sums are cell-keyed windows over
    * domain-bounded rows. Envelope: cum·N ≤ n·N < 2⁶³ to ~3·10⁹ rows
    * a side (the q332 bound); beyond, retype the cross-multiply to
    * decimal(38,0). */
  def tClosenessCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // read by the global census AND the cell grid (lazy, r20: first reader
    // materializes)
    val counts = Pinned.pin(Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nation"), $"c_mktsegment".as("mktsegment"),
        year($"o_orderdate").as("order_year"), $"o_orderpriority".as("prio"))
      .agg(count(lit(1)).as("c")))
    val glob = counts.groupBy($"prio").agg(sum($"c").as("g"))
      .withColumn("cum_g", sum($"g").over(Window.orderBy($"prio")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_total", sum($"g").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"prio", $"cum_g", $"n_total", $"m")
    val cellTot = counts.groupBy($"nation", $"mktsegment", $"order_year")
      .agg(sum($"c").as("n_rows"))
    val wCell = Window.partitionBy($"nation", $"mktsegment", $"order_year")
      .orderBy($"prio")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // read by the rows AND the riding globals (lazy, r20)
    val cells = Pinned.pin(cellTot
      .crossJoin(broadcast(glob)) // full grid: absent priorities = 0 mass
      .join(counts, Seq("nation", "mktsegment", "order_year", "prio"), "left")
      .withColumn("cum_c", sum(coalesce($"c", lit(0L))).over(wCell))
      .withColumn("d", abs($"cum_c" * $"n_total" - $"cum_g" * $"n_rows"))
      .groupBy($"nation", $"mktsegment", $"order_year")
      .agg(max($"n_rows").as("n_rows"), sum($"d").as("emd_num"),
        max($"n_total").as("n_total"), max($"m").as("m"))
      // denominator formed in DOUBLE (exact for these magnitudes): the
      // long product (m−1)·n·N would ANSI-overflow long before the
      // envelope on the numerator does
      .withColumn("t_closeness",
        when($"m" > 1L, $"emd_num".cast("double") /
          (($"m" - 1L).cast("double") * $"n_rows" * $"n_total"))
          .otherwise(lit(0.0)))
      .withColumn("above_t", $"t_closeness" > lit(TCloseT)))
    val tot = cells.agg(max($"t_closeness").as("t_max"),
      sum(when($"above_t", 1L).otherwise(0L)).as("n_cells_above"))
    cells.crossJoin(broadcast(tot))
      .select($"nation", $"mktsegment", $"order_year", $"n_rows",
        $"emd_num", $"t_closeness", $"above_t", $"t_max", $"n_cells_above")
      .orderBy($"nation", $"mktsegment", $"order_year")
  }

  /** q333 block-size cap: blocks larger than this are SKIPPED (and
    * censused) — the standard record-linkage guard that keeps candidate
    * volume ≤ N·cap instead of Σ|block|², because block sizes grow with
    * the corpus under any fixed key grammar. */
  val LinkMaxBlock = 64

  /** q333 match threshold on the integer Fellegi–Sunter score. Weights
    * are fixed dyadic log-odds (the q325 trained-model stance): name
    * edit-distance ≤ 1 agrees +8 / disagrees −4; balance within $100
    * agrees +4 / disagrees −2. Score lattice {−6, 0, 6, 12}: ≥ 10 needs
    * BOTH agreements (match), < 0 is neither (non-match), the two
    * single-agreement points land in `possible` — the clerical-review
    * band that is the F-S model's whole point. */
  val LinkMatchMin = 10L

  /** Blocked fuzzy entity linkage — the Fellegi–Sunter (1969, public
    * description) record-linkage operator q263's exact-key
    * reconciliation can't express: decide which customer RECORDS refer
    * to the same entity when keys don't match exactly. Three stages,
    * each the standard production shape: (1) BLOCKING — candidates are
    * pairs sharing (nation, segment, $1000 balance band); blocks over
    * [[LinkMaxBlock]] records are skipped and censused (real linkage
    * systems cap block size — it is what keeps candidates O(N) at
    * 100 TB); (2) COMPARISON — field comparators, integer-exact: q104's
    * bounded edit distance on the name (levenshtein is exact and
    * identical in both engines on ASCII) and exact-cents balance
    * proximity; (3) CLASSIFICATION — integer log-odds weights sum to a
    * score classed match / possible / non-match ([[LinkMatchMin]]).
    * Output is the per-class census (+ min/max score, the zero-padded
    * first pair as the resume cursor, and the block census riding every
    * row). The fixture has no planted duplicates, so its census is
    * non-match/possible mass only — the spec plants a typo'd duplicate
    * (must land in `match`) and an oversize block (its pairs must NOT
    * appear, the skip census must count it). */
  /** Shared q333/q359 stage: the blocked, capped, scored candidate
    * pairs (id_a < id_b, score, link_class) plus the block census.
    * See [[entityLinkage]] for the semantics of each stage. */
  private def linkageClassed(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val recs = Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment",
        cents($"c_acctbal").as("bal_c"))
      // band key portability: the fixtures carry NEGATIVE balances, and
      // Spark `div` and DuckDB `//` must agree on them for the candidate
      // sets to match. Both TRUNCATE TOWARD ZERO (verified:
      // -150000 div 100000 = -1 on both; floor division would give -2
      // and band (-$1000, $0) differently) — the spec plants a
      // negative-balance block that pairs only under truncation.
      .select($"c_custkey", $"c_name", $"bal_c",
        concat_ws(":", $"c_nationkey".cast("string"), $"c_mktsegment",
          expr("bal_c div 100000").cast("string")).as("blk"))
    val sized = recs.withColumn("bn",
      count(lit(1)).over(Window.partitionBy($"blk")))
    val blockStats = sized.groupBy().agg(
      countDistinct($"blk").as("n_blocks"),
      countDistinct(when($"bn" > LinkMaxBlock, $"blk")).as("n_blocks_skipped"))
    val usable = sized.filter($"bn" <= LinkMaxBlock)
    val a = usable.select($"blk", $"c_custkey".as("id_a"),
      $"c_name".as("name_a"), $"bal_c".as("bal_a"))
    val b = usable.select($"blk".as("blk2"), $"c_custkey".as("id_b"),
      $"c_name".as("name_b"), $"bal_c".as("bal_b"))
    val classed = a.join(b, $"blk" === $"blk2" && $"id_a" < $"id_b")
      .withColumn("score",
        when(levenshtein($"name_a", $"name_b") <= 1, 8L).otherwise(-4L) +
          when(abs($"bal_a" - $"bal_b") <= 10000L, 4L).otherwise(-2L))
      .withColumn("link_class",
        when($"score" >= LinkMatchMin, "match")
          .when($"score" < 0L, "non_match")
          .otherwise("possible"))
    (classed, blockStats)
  }

  def entityLinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (classed, blockStats) = linkageClassed(s, dir)
    val census = classed
      .groupBy($"link_class")
      .agg(count(lit(1)).as("n_pairs"),
        min($"score").as("min_score"), max($"score").as("max_score"),
        min(concat(lpad($"id_a".cast("string"), 10, "0"), lit(":"),
          lpad($"id_b".cast("string"), 10, "0"))).as("first_pair"))
    census.crossJoin(broadcast(blockStats))
      .select($"link_class", $"n_pairs", $"min_score", $"max_score",
        $"first_pair", $"n_blocks", $"n_blocks_skipped")
      .orderBy($"link_class")
  }

  /** Entity-cluster canonicalization (linkage → golden record) — the
    * stage q333 stops short of: its `match`-class pairs become edges,
    * connected components become ENTITIES (q76's min-label propagation,
    * run only over MATCHED records — the tiny slice with any edge; every
    * untouched record is its own entity via one left join, so the
    * fixpoint loop never scales with the corpus), and a survivorship
    * policy elects each entity's golden record: the LONGEST name (ties
    * to the smallest custkey — the q174 policy, because linkage clusters
    * usually hold one full record and several truncations) with the MAX
    * balance surviving field-wise. Output is the entity census BY
    * CLUSTER SIZE — one row per size with the count, exact golden-field
    * sums (Σ golden balance cents, Σ golden-name length, Σ survivor
    * custkey — three aggregates that pin every per-entity argmax choice
    * through the hash compare), and the zero-padded first entity as the
    * resume cursor; corpus totals (records, entities, merged records)
    * ride every row. The fixture plants no duplicates, so its census is
    * the single size-1 row with zero merged — the spec plants an
    * A≈B, B≈C, A≉C chain that must land in ONE entity with the longest
    * name and max balance surviving. Envelope: Σ survivor keys ≤ N·max
    * key stays in long to ~10⁹ records with 10⁹-range keys; beyond,
    * retype that one aggregate to decimal and surface a digit string
    * (the q356 pattern). */
  def entityCanonicalization(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (classed, _) = linkageClassed(s, dir)
    val matched = classed.filter($"link_class" === "match")
      .select($"id_a".as("src"), $"id_b".as("dst"))
    // min-label propagation to the fixpoint over matched records only
    val pairs = Pinned.pin(matched
      .unionAll(matched.select($"dst".as("src"), $"src".as("dst")))
      .distinct())
    val nodes = pairs.select($"src").distinct()
    val labels = graft.operators.Fixpoint.minLabels(
      pairs.unionByName(nodes.select($"src", $"src".as("dst"))),
      nodes.select($"src".as("node"), $"src".as("lab")))
    // every record gets an entity: its component label, or itself
    val ents = Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", cents($"c_acctbal").as("bal_c"))
      .join(labels, $"c_custkey" === $"node", "left")
      .withColumn("ent", coalesce($"lab", $"c_custkey"))
    val w = Window.partitionBy($"ent")
      .orderBy(length($"c_name").desc, $"c_custkey".asc)
    // read by the census AND the totals
    val per = Pinned.pin(ents.withColumn("rn", row_number().over(w))
      .groupBy($"ent")
      .agg(count(lit(1)).as("n_records"),
        max($"bal_c").as("golden_bal"),
        max(when($"rn" === 1, length($"c_name").cast("long")))
          .as("golden_name_len"),
        max(when($"rn" === 1, $"c_custkey")).as("survivor_key")))
    val tot = per.agg(sum($"n_records").as("n_records_total"),
      count(lit(1)).as("n_entities_total"))
      .select($"n_records_total", $"n_entities_total",
        ($"n_records_total" - $"n_entities_total").as("n_merged_records"))
    per.groupBy($"n_records".as("cluster_size"))
      .agg(count(lit(1)).as("n_entities"),
        sum($"golden_bal").as("sum_golden_bal_cents"),
        sum($"golden_name_len").as("sum_golden_name_len"),
        sum($"survivor_key").as("sum_survivor_key"),
        min(lpad($"ent".cast("string"), 10, "0")).as("first_entity"))
      .crossJoin(broadcast(tot))
      .orderBy($"cluster_size")
  }

  /** Truncation bound for the q339 noise distribution: |noise| ≤ 12.
    * P(|noise| = 12 or beyond in the untruncated geometric) < 2⁻¹¹ — the
    * truncated geometric mechanism (Ghosh–Roughgarden–Sundararajan 2009,
    * public description) trades that tail mass for a bounded, exactly
    * representable distribution. */
  val DpNoiseMax = 12

  private val dpWeights: Seq[Long] =
    (-DpNoiseMax to DpNoiseMax).map(j => 1L << (DpNoiseMax - j.abs))

  /** Σ 2^(12−|j|) = 12286 — the integer probability denominator. */
  val DpWeightTotal: Long = dpWeights.sum

  /** Inverse-CDF CASE chain mapping a uniform u ∈ [0, [[DpWeightTotal]])
    * to the noise value — one SQL string shared LITERALLY by the Spark
    * expression and the DuckDB oracle, so the mechanism cannot drift
    * between engines. Thresholds are exact integer cumulative weights.
    *
    * Modulo-bias bound: u is a 24-bit hash mod 12286, and 2²⁴ =
    * 12286·1365 + 6826, so residues 0..6825 are drawn 1366/2²⁴ instead
    * of 1365/2²⁴ — a relative over-weight of 1/1365 ≈ 7.3·10⁻⁴ on the
    * low tail of the ladder. Deterministic and bit-identical in both
    * engines (the oracle computes the same u), so the CORRECTNESS
    * contract is unaffected; a fidelity-critical deployment would
    * rejection-sample (retry on u ≥ 12286·1365 from the next hash
    * slice) at the cost of a second CASE tier. */
  def dpNoiseCaseSql(u: String): String = {
    val cums = dpWeights.scanLeft(0L)(_ + _).tail
    val cases = (-DpNoiseMax until DpNoiseMax).zip(cums).map {
      case (j, b) => s"WHEN $u < $b THEN ($j)"
    }.mkString(" ")
    s"(CASE $cases ELSE $DpNoiseMax END)"
  }

  /** Differentially-private released histogram — the RELEASE step the
    * q331 k-anonymity census audits for: per (nation, segment) cell of
    * the customer table, the count plus two-sided geometric noise — the
    * DISCRETE Laplace mechanism (Ghosh et al. 2009), the standard DP
    * mechanism for counting queries (sensitivity 1), at ε = ln 2
    * (weights halve per step: P(j±1)/P(j) = ½ exactly). Everything is
    * libm-free integer arithmetic — the repo's no-`ln` stance rules out
    * the continuous Laplace inverse CDF, and the geometric mechanism
    * needs only the integer weight ladder 2^(12−|j|): noise = inverse
    * CDF ([[dpNoiseCaseSql]]) of a uniform u derived from md5 of the
    * cell key (deterministic across engines — the q260 seeded-sampling
    * stance: a DP deployment would draw real randomness; the OPERATOR
    * under test is the mechanism, and determinism is what makes it
    * oracle-checkable). Negative noised counts clamp to 0 (standard
    * post-processing, DP-safe). Scale: one grouped count collapses the
    * corpus to a ≤|nations|·|segments| cell census; the mechanism is a
    * map-side expression over cells. */
  def dpNoisedHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_nationkey".cast("long").as("nation"),
        $"c_mktsegment".as("mktsegment"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        conv(substring(md5(concat(lit("dp:"), $"nation".cast("string"),
          lit(":"), $"mktsegment")), 1, 6), 16, 10).cast("long")
          % DpWeightTotal)
      .withColumn("noise", expr(dpNoiseCaseSql("u")).cast("long"))
      .select($"nation", $"mktsegment",
        greatest($"n_true" + $"noise", lit(0L)).as("n_noised"))
      .withColumn("suppressed", $"n_noised" === 0L)
      .orderBy($"nation", $"mktsegment")
  }

  /** Itemset support floor for q342, per mille of baskets: 0.4 %. A
    * RELATIVE floor (the q202 lift lesson): absolute counts grow with
    * SF while the brand domain stays 25, so any fixed count saturates
    * or starves as the corpus scales. At sf0.01 every brand pair
    * clears it (pair support ≈ 1.3–3.2 %) while triples straddle it
    * (0.14–0.6 %) — both the pass and prune paths are oracle-covered. */
  val AprioriMinSupPerMille = 4L

  /** Confidence line (percent) for a rule's `strong` flag. Pair-rule
    * confidence at the fixture runs ≈ 9–21 % and triple-rule ≈ 8–27 %,
    * so 15 % splits both families — evidence, not a constant. */
  val AprioriMinConfPct = 15L

  /** Apriori association rules (Agrawal–Srikant 1994) over order
    * baskets with brand items — the level-wise itemset operator next to
    * q199's pairwise affinity and q220's co-occurrence cosine: L2 and
    * L3 itemsets above a relative support floor, expanded to rules
    * X → y with exact confidence and lift and a `strong` flag decided
    * by INTEGER cross-multiplication (100·c_both ≥ 15·c_ante) so the
    * flag never hinges on a float compare; confidence and lift are the
    * only divides, over exact counts.
    *
    * Scale shape: the basket table folds dedup into ONE groupBy
    * (collect_set — basket size is order-bounded, ≤ q255's measured 17
    * lines); 2- and 3-combinations are generated WITHIN the basket row
    * by index-lambda transforms (map-side, Σ C(k,2)+C(k,3) rows per
    * basket, bounded by basket size, never a self-join shuffle), and
    * every downstream table is bounded by the BRAND DOMAIN (≤ 25³/6
    * itemsets at any SF), broadcast into the rule expansion. Envelope:
    * lift's cross products stay under 2⁵³ to ~10⁸ baskets per count —
    * beyond, promote the products to decimal before the one divide. */
  def aprioriRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // read by N + L1 + pairs + triples
    val baskets = Pinned.pin(Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey").agg(sort_array(collect_set($"p_brand")).as("bs")))
    val nDf = baskets.agg(count(lit(1)).as("n_baskets"))
    // ALL three itemset censuses in ONE pass: within-row combinations
    // (slice from the element AFTER each pick) for arities 1–3, tagged
    // by null-padding, concatenated and exploded together — one
    // Σ(k + C(k,2) + C(k,3))-row stream into one map-side-combining
    // groupBy (≤ 25 + 300 + 2300 groups at any SF). Three separate
    // explode passes measured 3.6 s at sf0.1/32c; fused ≈ half that.
    val nil = lit(null).cast("string")
    val combos = Pinned.pin(baskets.select(explode(concat(
        transform($"bs", x =>
          struct(x.as("i1"), nil.as("i2"), nil.as("i3"))),
        flatten(transform($"bs", (x, i) =>
          transform(slice($"bs", i + 2, size($"bs")),
            y => struct(x.as("i1"), y.as("i2"), nil.as("i3"))))),
        flatten(transform($"bs", (x, i) =>
          flatten(transform(slice($"bs", i + 2, size($"bs")), (y, j) =>
            transform(slice($"bs", i + j + 3, size($"bs")),
              z => struct(x.as("i1"), y.as("i2"), z.as("i3"))))))))).as("t"))
      .groupBy($"t.i1".as("i1"), $"t.i2".as("i2"), $"t.i3".as("i3"))
      .agg(count(lit(1)).as("c"))) // brand-domain-bounded, read 8×
    val singles = combos.filter($"i2".isNull)
      .select($"i1".as("item"), $"c".as("c_item"))
    val pairs = combos.filter($"i2".isNotNull && $"i3".isNull)
      .select($"i1".as("ia"), $"i2".as("ib"), $"c".as("c_pair"))
    val triples = combos.filter($"i3".isNotNull)
      .select($"i1".as("ia"), $"i2".as("ib"), $"i3".as("ic"),
        $"c".as("c_tri"))
    val l2 = pairs.crossJoin(broadcast(nDf))
      .filter($"c_pair" * 1000 >= lit(AprioriMinSupPerMille) * $"n_baskets")
    val l3 = triples.crossJoin(broadcast(nDf))
      .filter($"c_tri" * 1000 >= lit(AprioriMinSupPerMille) * $"n_baskets")
    val s1 = broadcast(singles)
    val p1 = broadcast(pairs.select($"ia".as("pa"), $"ib".as("pb"),
      $"c_pair".as("c_ante_pair")))
    // pair rules, both directions: {x} → y
    def pairRule(ante: Column, cons: Column) =
      l2.join(s1.select($"item".as("ante_i"), $"c_item".as("n_ante")),
          ante === $"ante_i")
        .join(s1.select($"item".as("cons_i"), $"c_item".as("n_cons")),
          cons === $"cons_i")
        .select(ante.as("antecedent"), cons.as("consequent"),
          $"n_ante", $"n_cons", $"c_pair".as("n_both"), $"n_baskets")
    // triple rules: {a,b} → c for each rotation; the antecedent-pair
    // count comes from the UNFILTERED pair table (Apriori monotonicity:
    // a frequent triple's sub-pairs are at least as frequent, so the
    // lookup always hits)
    def tripleRule(a1c: Column, a2c: Column, cons: Column) =
      l3.join(p1, a1c === $"pa" && a2c === $"pb")
        .join(s1.select($"item".as("cons_i"), $"c_item".as("n_cons")),
          cons === $"cons_i")
        .select(concat(a1c, lit("+"), a2c).as("antecedent"),
          cons.as("consequent"), $"c_ante_pair".as("n_ante"),
          $"n_cons", $"c_tri".as("n_both"), $"n_baskets")
    val rules = pairRule($"ia", $"ib")
      .unionAll(pairRule($"ib", $"ia"))
      .unionAll(tripleRule($"ia", $"ib", $"ic"))
      .unionAll(tripleRule($"ia", $"ic", $"ib"))
      .unionAll(tripleRule($"ib", $"ic", $"ia"))
    rules.select($"antecedent", $"consequent", $"n_ante", $"n_cons",
        $"n_both", ratio($"n_both", $"n_ante").as("confidence"),
        ratio($"n_baskets" * $"n_both", $"n_ante" * $"n_cons").as("lift"),
        (lit(100L) * $"n_both" >= lit(AprioriMinConfPct) * $"n_ante")
          .as("strong"))
      .orderBy($"antecedent", $"consequent")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q339_dp_noised_histogram" -> dpNoisedHistogram,
    "q342_apriori_rules" -> aprioriRules,
    "q333_entity_linkage" -> entityLinkage,
    "q359_entity_canonicalization" -> entityCanonicalization,
    "q331_k_anonymity_census" -> kAnonymityCensus,
    "q357_t_closeness_census" -> tClosenessCensus,
    "q326_deletion_cascade" -> deletionCascade,
    "q284_important_parts_value" -> importantPartsValue,
    "q285_ship_priority_census" -> shipPriorityCensus,
    "q302_join_discovery" -> joinDiscovery,
    "q303_inclusion_direction" -> inclusionDirection,
    "q305_incremental_mv" -> incrementalMv,
    "q253_join_asof_nearest" -> asofNearestJoin,
    "q254_min_cost_supplier" -> minCostSupplier,
    "q257_cdc_apply" -> cdcApply,
    "q263_entity_reconciliation" -> entityReconciliation,
    "q258_scd2_asof_lookup" -> scd2AsofLookup,
    "q233_priority_late_exists" -> priorityLateExists,
    "q234_scan_only_revenue" -> scanOnlyRevenue,
    "q235_returned_revenue_topk" -> returnedRevenueTopk,
    "q236_order_count_distribution" -> orderCountDistribution,
    "q237_promo_revenue_share" -> promoRevenueShare,
    "q238_small_qty_revenue" -> smallQtyRevenue,
    "q228_brand_loyalty" -> brandLoyalty,
    "q220_item_cooccurrence_cosine" -> itemCooccurrenceCosine,
    "q214_big_order_customers" -> bigOrderCustomers,
    "q215_disjunctive_pred_scan" -> disjunctivePredScan,
    "q216_nation_trade_flow" -> nationTradeFlow,
    "q217_top_supplier_interval" -> topSupplierInterval,
    "q218_brand_supplier_census" -> brandSupplierCensus,
    "q219_profit_decomposition" -> profitDecomposition,
    "q207_late_supplier_blame" -> lateSupplierBlame,
    "q208_dormant_high_value" -> dormantHighValue,
    "q209_promo_supplier_share" -> promoSupplierShare,
    "q199_brand_affinity" -> brandAffinity,
    "q150_market_share" -> marketShare,
    "q176_policy_masking" -> policyMasking,
    "q178_join_asof_tolerance" -> asofJoinTolerance,
    "q189_fk_orphan_audit" -> fkOrphanAudit,
    "q190_pk_uniqueness_audit" -> pkUniquenessAudit,
    "q151_scd2_build" -> scd2Build,
    "q152_union_by_name" -> unionByNameEvolved,
    "q153_intersect_all" -> intersectAllKeys,
    "q125_join_asof_forward" -> asofForwardJoin,
    "q29_project_filter" -> projectFilter,
    "q01_revenue_by_nation" -> revenueByNation,
    "q02_join_broadcast_dim" -> broadcastDimJoin,
    "q03_join_left_outer" -> leftOuterJoin,
    "q72_join_right_outer" -> rightOuterJoin,
    "q04_join_semi" -> semiJoin,
    "q05_join_anti" -> antiJoin,
    "q06_join_equirange" -> equiRangeJoin,
    "q07_join_asof" -> asofJoin,
    "q08_join_theta" -> thetaJoin,
    "q09_join_full_outer" -> fullOuterJoin,
    "q10_join_cross" -> crossJoinDims,
    "q54_shipping_priority" -> shippingPriority,
    "q55_local_supplier_volume" -> localSupplierVolume,
    "q56_above_brand_avg" -> aboveBrandAverage,
    "q59_salted_join" -> saltedJoinAgg,
    "q60_salted_agg" -> saltedAgg,
    "q205_salted_join_autotuned" -> saltedJoinAutotuned,
    "q23_sort_multikey_nulls" -> sortMultiKey,
    "q24_topk_limit" -> topK,
    "q25_union_all" -> unionAll,
    "q26_union_distinct" -> unionDistinct,
    "q27_intersect" -> intersectKeys,
    "q28_except_all" -> exceptAllKeys,
    "q100_merge_upsert" -> mergeUpsert,
    "q116_snapshot_diff" -> snapshotDiff,
    "q118_join_nullsafe" -> nullSafeJoin
  )

  val oracles: Map[String, String] = Map(
    "q339_dp_noised_histogram" ->
      s"""WITH cells AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         |         c_mktsegment AS mktsegment,
         |         CAST(count(*) AS BIGINT) AS n_true
         |  FROM customer GROUP BY 1, 2
         |), noised AS (
         |  SELECT nation, mktsegment, n_true,
         |         ${dpNoiseCaseSql("u")} AS noise
         |  FROM (SELECT *,
         |          CAST(('0x' || substr(md5('dp:' || CAST(nation AS VARCHAR)
         |                                    || ':' || mktsegment), 1, 6))
         |               AS BIGINT) % $DpWeightTotal AS u
         |        FROM cells)
         |)
         |SELECT nation, mktsegment,
         |       CAST(greatest(n_true + noise, 0) AS BIGINT) AS n_noised,
         |       greatest(n_true + noise, 0) = 0 AS suppressed
         |FROM noised ORDER BY nation, mktsegment""".stripMargin,
    "q342_apriori_rules" ->
      // the oracle generates itemsets by SELF-JOIN (DuckDB has no
      // index-lambda combination idiom) — provably the same multisets
      // the Spark side's within-basket combination transforms produce,
      // because both enumerate each basket's ordered item pairs/triples
      // exactly once (items are DISTINCT per basket on both sides)
      s"""WITH bi AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |), nb AS (SELECT count(DISTINCT ok) AS n FROM bi),
         |c1 AS MATERIALIZED (
         |  SELECT b AS item, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1
         |), c2 AS MATERIALIZED (
         |  SELECT x.b AS ia, y.b AS ib, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT * FROM bi) x JOIN (SELECT * FROM bi) y
         |    ON x.ok = y.ok AND x.b < y.b
         |  GROUP BY 1, 2
         |), c3 AS MATERIALIZED (
         |  SELECT x.b AS ia, y.b AS ib, z.b AS ic, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT * FROM bi) x
         |  JOIN (SELECT * FROM bi) y ON x.ok = y.ok AND x.b < y.b
         |  JOIN (SELECT * FROM bi) z ON y.ok = z.ok AND y.b < z.b
         |  GROUP BY 1, 2, 3
         |), l2 AS MATERIALIZED (
         |  SELECT c2.* FROM c2, nb WHERE c * 1000 >= $AprioriMinSupPerMille * n
         |), l3 AS MATERIALIZED (
         |  SELECT c3.* FROM c3, nb WHERE c * 1000 >= $AprioriMinSupPerMille * n
         |), rules AS (
         |  SELECT ia AS antecedent, ib AS consequent,
         |         a1.c AS n_ante, a2.c AS n_cons, l2.c AS n_both
         |  FROM l2 JOIN c1 a1 ON a1.item = ia JOIN c1 a2 ON a2.item = ib
         |  UNION ALL
         |  SELECT ib, ia, a1.c, a2.c, l2.c
         |  FROM l2 JOIN c1 a1 ON a1.item = ib JOIN c1 a2 ON a2.item = ia
         |  UNION ALL
         |  SELECT l3.ia || '+' || l3.ib, l3.ic, p.c, s.c, l3.c
         |  FROM l3 JOIN c2 p ON p.ia = l3.ia AND p.ib = l3.ib
         |          JOIN c1 s ON s.item = l3.ic
         |  UNION ALL
         |  SELECT l3.ia || '+' || l3.ic, l3.ib, p.c, s.c, l3.c
         |  FROM l3 JOIN c2 p ON p.ia = l3.ia AND p.ib = l3.ic
         |          JOIN c1 s ON s.item = l3.ib
         |  UNION ALL
         |  SELECT l3.ib || '+' || l3.ic, l3.ia, p.c, s.c, l3.c
         |  FROM l3 JOIN c2 p ON p.ia = l3.ib AND p.ib = l3.ic
         |          JOIN c1 s ON s.item = l3.ia
         |)
         |SELECT antecedent, consequent, n_ante, n_cons, n_both,
         |       ${ratioSql("n_both", "n_ante")} AS confidence,
         |       ${ratioSql("(SELECT n FROM nb) * n_both", "n_ante * n_cons")}
         |         AS lift,
         |       100 * n_both >= $AprioriMinConfPct * n_ante AS strong
         |FROM rules
         |ORDER BY antecedent, consequent""".stripMargin,
    // q333's blocked/capped/scored pairs → match edges → recursive-CTE
    // components (the q76 oracle pattern) → survivor window → size census;
    // the hash compare proves driver-gated propagation ≡ transitive closure
    // AND pins every argmax through the three golden-field sums
    "q359_entity_canonicalization" ->
      s"""WITH RECURSIVE recs AS MATERIALIZED (
         |  SELECT c_custkey, c_name, bal_c,
         |         concat_ws(':', CAST(c_nationkey AS VARCHAR), c_mktsegment,
         |                   CAST(bal_c // 100000 AS VARCHAR)) AS blk
         |  FROM (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |               ${centsSql("c_acctbal")} AS bal_c
         |        FROM customer)
         |), bn AS MATERIALIZED (
         |  SELECT blk, count(*) AS bn FROM recs GROUP BY 1
         |), usable AS MATERIALIZED (
         |  SELECT r.* FROM recs r JOIN bn USING (blk) WHERE bn <= $LinkMaxBlock
         |), mp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |           (CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
         |                 THEN 8 ELSE -4 END
         |            + CASE WHEN abs(a.bal_c - b.bal_c) <= 10000
         |                   THEN 4 ELSE -2 END) AS score
         |    FROM usable a JOIN usable b
         |      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
         |  ) WHERE score >= $LinkMatchMin
         |), edges AS MATERIALIZED (
         |  SELECT id_a AS s, id_b AS t FROM mp
         |  UNION SELECT id_b AS s, id_a AS t FROM mp
         |), reach(rec, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT x.rec, e.t FROM reach x JOIN edges e ON x.r = e.s
         |), labels AS MATERIALIZED (
         |  SELECT rec, min(r) AS lab FROM reach GROUP BY 1
         |), ents AS MATERIALIZED (
         |  SELECT c.c_custkey, c.c_name, c.bal_c,
         |         coalesce(l.lab, c.c_custkey) AS ent
         |  FROM (SELECT c_custkey, c_name, ${centsSql("c_acctbal")} AS bal_c
         |        FROM customer) c
         |  LEFT JOIN labels l ON c.c_custkey = l.rec
         |), per AS MATERIALIZED (
         |  SELECT ent, CAST(count(*) AS BIGINT) AS n_records,
         |         CAST(max(bal_c) AS BIGINT) AS golden_bal,
         |         CAST(max(CASE WHEN rn = 1 THEN length(c_name) END) AS BIGINT)
         |           AS golden_name_len,
         |         CAST(max(CASE WHEN rn = 1 THEN c_custkey END) AS BIGINT)
         |           AS survivor_key
         |  FROM (SELECT *, row_number() OVER (PARTITION BY ent
         |          ORDER BY length(c_name) DESC, c_custkey ASC) AS rn
         |        FROM ents)
         |  GROUP BY 1
         |), tot AS (
         |  SELECT ${sumLongSql("n_records")} AS n_records_total,
         |         CAST(count(*) AS BIGINT) AS n_entities_total,
         |         CAST(sum(n_records) - count(*) AS BIGINT) AS n_merged_records
         |  FROM per
         |)
         |SELECT n_records AS cluster_size, CAST(count(*) AS BIGINT) AS n_entities,
         |       ${sumLongSql("golden_bal")} AS sum_golden_bal_cents,
         |       ${sumLongSql("golden_name_len")} AS sum_golden_name_len,
         |       ${sumLongSql("survivor_key")} AS sum_survivor_key,
         |       min(lpad(CAST(ent AS VARCHAR), 10, '0')) AS first_entity,
         |       n_records_total, n_entities_total, n_merged_records
         |FROM per, tot
         |GROUP BY 1, n_records_total, n_entities_total, n_merged_records
         |ORDER BY 1""".stripMargin,
    "q333_entity_linkage" ->
      s"""WITH recs AS MATERIALIZED (
         |  SELECT c_custkey, c_name, bal_c,
         |         concat_ws(':', CAST(c_nationkey AS VARCHAR), c_mktsegment,
         |                   CAST(bal_c // 100000 AS VARCHAR)) AS blk
         |  FROM (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |               ${centsSql("c_acctbal")} AS bal_c
         |        FROM customer)
         |), bn AS MATERIALIZED (
         |  SELECT blk, count(*) AS bn FROM recs GROUP BY 1
         |), stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         |         CAST(sum(CASE WHEN bn > $LinkMaxBlock THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_blocks_skipped
         |  FROM bn
         |), usable AS MATERIALIZED (
         |  SELECT r.* FROM recs r JOIN bn USING (blk) WHERE bn <= $LinkMaxBlock
         |), classed AS (
         |  SELECT id_a, id_b, score,
         |         CASE WHEN score >= $LinkMatchMin THEN 'match'
         |              WHEN score < 0 THEN 'non_match'
         |              ELSE 'possible' END AS link_class
         |  FROM (
         |    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |           (CASE WHEN levenshtein(a.c_name, b.c_name) <= 1
         |                 THEN 8 ELSE -4 END
         |            + CASE WHEN abs(a.bal_c - b.bal_c) <= 10000
         |                   THEN 4 ELSE -2 END) AS score
         |    FROM usable a JOIN usable b
         |      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
         |  )
         |)
         |SELECT link_class, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(min(score) AS BIGINT) AS min_score,
         |       CAST(max(score) AS BIGINT) AS max_score,
         |       min(lpad(CAST(id_a AS VARCHAR), 10, '0') || ':'
         |           || lpad(CAST(id_b AS VARCHAR), 10, '0')) AS first_pair,
         |       (SELECT n_blocks FROM stats) AS n_blocks,
         |       (SELECT n_blocks_skipped FROM stats) AS n_blocks_skipped
         |FROM classed
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    // q331's QI grid × the sorted-priority domain; every prefix gap is
    // the exact cross-multiply, one shared divide at the end
    "q357_t_closeness_census" ->
      s"""WITH counts AS MATERIALIZED (
         |  SELECT c_nationkey AS nation, c_mktsegment AS mktsegment,
         |         CAST(year(o_orderdate) AS INT) AS order_year,
         |         o_orderpriority AS prio, CAST(count(*) AS BIGINT) AS c
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2, 3, 4
         |), gcen AS MATERIALIZED (
         |  SELECT prio,
         |         CAST(sum(g) OVER (ORDER BY prio
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_g,
         |         CAST(sum(g) OVER () AS BIGINT) AS n_total,
         |         CAST(count(*) OVER () AS BIGINT) AS m
         |  FROM (SELECT prio, CAST(sum(c) AS BIGINT) AS g
         |        FROM counts GROUP BY 1)
         |), celltot AS (
         |  SELECT nation, mktsegment, order_year,
         |         CAST(sum(c) AS BIGINT) AS n_rows
         |  FROM counts GROUP BY 1, 2, 3
         |), grid AS (
         |  SELECT ct.nation, ct.mktsegment, ct.order_year, ct.n_rows,
         |         g.prio, g.cum_g, g.n_total, g.m,
         |         CAST(sum(coalesce(c.c, 0)) OVER (
         |           PARTITION BY ct.nation, ct.mktsegment, ct.order_year
         |           ORDER BY g.prio
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_c
         |  FROM celltot ct CROSS JOIN gcen g
         |  LEFT JOIN counts c
         |    ON c.nation = ct.nation AND c.mktsegment = ct.mktsegment
         |   AND c.order_year = ct.order_year AND c.prio = g.prio
         |), cells AS MATERIALIZED (
         |  SELECT nation, mktsegment, order_year,
         |         CAST(max(n_rows) AS BIGINT) AS n_rows,
         |         CAST(sum(abs(cum_c * n_total - cum_g * n_rows)) AS BIGINT)
         |           AS emd_num,
         |         CAST(max(n_total) AS BIGINT) AS n_total,
         |         CAST(max(m) AS BIGINT) AS m
         |  FROM grid GROUP BY 1, 2, 3
         |), scored AS MATERIALIZED (
         |  SELECT nation, mktsegment, order_year, n_rows, emd_num,
         |         CASE WHEN m > 1 THEN CAST(emd_num AS DOUBLE)
         |                / (CAST(m - 1 AS DOUBLE) * n_rows * n_total)
         |              ELSE 0.0 END AS t_closeness
         |  FROM cells
         |), flagged AS MATERIALIZED (
         |  SELECT *, t_closeness > $TCloseT AS above_t FROM scored
         |), tot AS (
         |  SELECT max(t_closeness) AS t_max,
         |         ${sumLongSql("CASE WHEN above_t THEN 1 ELSE 0 END")}
         |           AS n_cells_above
         |  FROM flagged
         |)
         |SELECT nation, mktsegment, order_year, n_rows, emd_num,
         |       t_closeness, above_t, t_max, n_cells_above
         |FROM flagged, tot
         |ORDER BY nation, mktsegment, order_year""".stripMargin,
    "q331_k_anonymity_census" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT c_nationkey AS nation, c_mktsegment AS mktsegment,
         |         CAST(year(o_orderdate) AS INT) AS order_year,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_div
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2, 3
         |), tot AS (
         |  SELECT CAST(min(n_rows) AS BIGINT) AS k_anonymity,
         |         CAST(min(l_div) AS BIGINT) AS l_diversity,
         |         CAST(sum(CASE WHEN n_rows < $KAnonK THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_groups_below_k
         |  FROM g
         |)
         |SELECT nation, mktsegment, order_year, n_rows, l_div,
         |       n_rows < $KAnonK AS below_k,
         |       k_anonymity, l_diversity, n_groups_below_k
         |FROM g, tot
         |ORDER BY nation, mktsegment, order_year""".stripMargin,
    // Independent path on purpose: the oracle recomputes BEFORE-minus-
    // AFTER totals from scratch (full aggregates over all rows vs over
    // surviving rows), while the declared plan sums the cascade frontier
    // incrementally — agreement proves incremental ≡ recomputed across
    // the two-level cascade.
    "q326_deletion_cascade" ->
      s"""WITH co AS MATERIALIZED (
         |  SELECT o_orderkey, c_nationkey, (c_custkey % 97 = 0) AS tomb
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |), cu AS (
         |  SELECT c_nationkey AS nk,
         |         count(*) - ${sumLongSql("CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END")} AS n_cust_deleted
         |  FROM customer GROUP BY 1
         |), od AS (
         |  SELECT c_nationkey AS nk,
         |         count(*) - ${sumLongSql("CASE WHEN tomb THEN 0 ELSE 1 END")} AS n_orders_deleted
         |  FROM co GROUP BY 1
         |), li AS (
         |  SELECT c_nationkey AS nk,
         |         count(*) - ${sumLongSql("CASE WHEN tomb THEN 0 ELSE 1 END")} AS n_lineitems_deleted,
         |         ${sumLongSql(centsSql("l_extendedprice * (1.0 - l_discount)"))}
         |           - ${sumLongSql(s"CASE WHEN tomb THEN 0 ELSE ${centsSql("l_extendedprice * (1.0 - l_discount)")} END")}
         |           AS revenue_cents_delta
         |  FROM lineitem JOIN co ON l_orderkey = o_orderkey
         |  GROUP BY 1
         |)
         |SELECT n_name,
         |       coalesce(cu.n_cust_deleted, 0) AS n_cust_deleted,
         |       coalesce(od.n_orders_deleted, 0) AS n_orders_deleted,
         |       coalesce(li.n_lineitems_deleted, 0) AS n_lineitems_deleted,
         |       coalesce(li.revenue_cents_delta, 0) AS revenue_cents_delta
         |FROM nation
         |LEFT JOIN cu ON n_nationkey = cu.nk
         |LEFT JOIN od ON n_nationkey = od.nk
         |LEFT JOIN li ON n_nationkey = li.nk
         |ORDER BY n_name""".stripMargin,
    // The oracle IS the theorem: full recompute over the post-delta
    // fact set (new orders in; cancelled base orders out) — any
    // double-count, dropped retraction, or surviving empty group in
    // the incremental path breaks the hash.
    "q305_incremental_mv" ->
      s"""SELECT o_custkey AS ck,
         |       count(*) AS n_orders,
         |       CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS spend_cents
         |FROM orders
         |WHERE o_orderdate >= DATE '1997-01-01'
         |   OR (o_orderdate < DATE '1997-01-01' AND o_orderkey % 7 <> 0)
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "q303_inclusion_direction" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val reg = Seq(
        ("customer.c_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
        ("orders.o_orderkey", "orders", "o_orderkey"),
        ("supplier.s_suppkey", "supplier", "s_suppkey"))
      def sigSql(name: String, table: String, c: String): String = {
        val mins = (0 until 12).map(j =>
          s"min((${MinhashA(j)} * h + ${MinhashB(j)}) % $MinhashPrime) AS m$j")
          .mkString(", ")
        s"""SELECT '$name' AS col_name, $mins
           |  FROM (SELECT CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 10))
           |               AS BIGINT) AS h FROM $table)""".stripMargin
      }
      val matchSum = (0 until 12)
        .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      def exactSql(a: (String, String, String), b: (String, String, String)): String =
        s"""SELECT '${a._1}' AS col_a, '${b._1}' AS col_b,
           |  (SELECT count(DISTINCT ${a._3}) FROM ${a._2}) AS n_a,
           |  (SELECT count(DISTINCT ${b._3}) FROM ${b._2}) AS n_b,
           |  (SELECT count(*) FROM (SELECT DISTINCT CAST(${a._3} AS VARCHAR) AS v FROM ${a._2})
           |   WHERE v NOT IN (SELECT CAST(${b._3} AS VARCHAR) FROM ${b._2})) AS a_not_in_b,
           |  (SELECT count(*) FROM (SELECT DISTINCT CAST(${b._3} AS VARCHAR) AS v FROM ${b._2})
           |   WHERE v NOT IN (SELECT CAST(${a._3} AS VARCHAR) FROM ${a._2})) AS b_not_in_a""".stripMargin
      val allPairs = (for {
        i <- reg.indices; j <- reg.indices if i < j
      } yield exactSql(reg(i), reg(j))).mkString("\n  UNION ALL\n")
      s"""WITH sig AS MATERIALIZED (
         |  ${reg.map((sigSql _).tupled).mkString("\n  UNION ALL\n")}
         |), screen AS (
         |  SELECT a.col_name AS col_a, b.col_name AS col_b
         |  FROM sig a JOIN sig b ON a.col_name < b.col_name
         |  WHERE ($matchSum) >= 8
         |), ex AS (
         |  $allPairs
         |)
         |SELECT ex.col_a, ex.col_b,
         |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |       CAST(a_not_in_b AS BIGINT) AS a_not_in_b,
         |       CAST(b_not_in_a AS BIGINT) AS b_not_in_a,
         |       CASE WHEN a_not_in_b = 0 AND b_not_in_a = 0 THEN 'equal'
         |            WHEN a_not_in_b = 0 THEN 'a_subset_of_b'
         |            WHEN b_not_in_a = 0 THEN 'b_subset_of_a'
         |            ELSE 'overlap' END AS relation
         |FROM ex JOIN screen ON ex.col_a = screen.col_a AND ex.col_b = screen.col_b
         |ORDER BY ex.col_a, ex.col_b""".stripMargin
    },
    "q302_join_discovery" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      def sigSql(name: String, table: String, c: String): String = {
        val mins = (0 until 12).map(j =>
          s"min((${MinhashA(j)} * h + ${MinhashB(j)}) % $MinhashPrime) AS m$j")
          .mkString(", ")
        s"""SELECT '$name' AS col_name, $mins
           |  FROM (SELECT CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 10))
           |               AS BIGINT) AS h FROM $table)""".stripMargin
      }
      val matchSum = (0 until 12)
        .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val sigs = Seq(
        sigSql("customer.c_custkey", "customer", "c_custkey"),
        sigSql("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        sigSql("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        sigSql("orders.o_custkey", "orders", "o_custkey"),
        sigSql("orders.o_orderkey", "orders", "o_orderkey"),
        sigSql("supplier.s_suppkey", "supplier", "s_suppkey"))
        .mkString("\n  UNION ALL\n")
      s"""WITH sig AS MATERIALIZED (
         |  $sigs
         |), pairs AS (
         |  SELECT a.col_name AS col_a, b.col_name AS col_b,
         |         CAST($matchSum AS BIGINT) AS n_match
         |  FROM sig a JOIN sig b ON a.col_name < b.col_name
         |)
         |SELECT col_a, col_b, n_match,
         |       ${ratioSql("n_match", "12")} AS est_jaccard,
         |       n_match >= 8 AS joinable
         |FROM pairs
         |ORDER BY col_a, col_b""".stripMargin
    },
    "q284_important_parts_value" ->
      s"""WITH v AS (
         |  SELECT l_partkey,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS value_cents
         |  FROM lineitem
         |  WHERE l_suppkey IN (SELECT s_suppkey
         |                      FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |                      WHERE n_name = 'NATION_7')
         |  GROUP BY 1
         |), t AS (
         |  SELECT CAST(sum(value_cents) AS BIGINT) AS total,
         |         count(*) AS n_parts
         |  FROM v
         |)
         |SELECT l_partkey, value_cents
         |FROM v CROSS JOIN t
         |WHERE CAST(value_cents AS HUGEINT) * n_parts > 2 * CAST(total AS HUGEINT)
         |ORDER BY value_cents DESC, l_partkey ASC""".stripMargin,
    "q285_ship_priority_census" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q263_entity_reconciliation" ->
      """WITH c AS (SELECT c_custkey AS k FROM customer),
        |o AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |e AS (SELECT DISTINCT user_id AS k FROM events),
        |u AS (SELECT k FROM c UNION SELECT k FROM o UNION SELECT k FROM e)
        |SELECT (c.k IS NOT NULL) AS in_crm,
        |       (o.k IS NOT NULL) AS in_orders,
        |       (e.k IS NOT NULL) AS in_events,
        |       count(*) AS n_entities
        |FROM u
        |LEFT JOIN c ON u.k = c.k
        |LEFT JOIN o ON u.k = o.k
        |LEFT JOIN e ON u.k = e.k
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q257_cdc_apply" ->
      s"""WITH log AS (
         |  SELECT o_custkey AS ck, o_orderdate AS ts, o_orderkey AS seq,
         |         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
         |         ${centsSql("o_totalprice")} AS new_bal
         |  FROM orders
         |), last_op AS (
         |  SELECT ck, op, new_bal FROM (
         |    SELECT ck, op, new_bal,
         |           row_number() OVER (PARTITION BY ck ORDER BY ts DESC, seq DESC) AS rn
         |    FROM log
         |  ) WHERE rn = 1
         |)
         |SELECT coalesce(c_custkey, ck) AS k,
         |       CASE WHEN op = 'U' THEN new_bal ELSE bal_cents END AS bal_cents,
         |       CASE WHEN op IS NULL THEN 'unchanged'
         |            WHEN c_custkey IS NULL THEN 'inserted'
         |            ELSE 'updated' END AS disposition
         |FROM (SELECT c_custkey, ${centsSql("c_acctbal")} AS bal_cents FROM customer) base
         |FULL OUTER JOIN last_op ON c_custkey = ck
         |WHERE op IS NULL OR op <> 'D'
         |ORDER BY k""".stripMargin,
    "q258_scd2_asof_lookup" ->
      """WITH dim AS (
        |  SELECT o_custkey AS dk, o_orderstatus AS status_in_force,
        |         o_orderdate AS valid_from,
        |         coalesce(lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                    ORDER BY o_orderdate ASC, o_orderkey ASC),
        |                  TIMESTAMP '9999-12-31 00:00:00') AS valid_to
        |  FROM orders
        |), fact AS (
        |  SELECT o_custkey AS fk, l_shipdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |)
        |SELECT coalesce(status_in_force, 'UNMATCHED') AS status_in_force,
        |       count(*) AS n_lines,
        |       CAST(count(DISTINCT fk) AS BIGINT) AS n_customers
        |FROM fact
        |LEFT JOIN dim ON fk = dk AND l_shipdate >= valid_from
        |                         AND l_shipdate < valid_to
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q254_min_cost_supplier" ->
      s"""WITH unit AS (
         |  SELECT p_partkey, p_brand, l_suppkey,
         |         min(${ratioSql(centsSql("l_extendedprice"),
                                  "CAST(l_quantity AS BIGINT)")}) AS unit_cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_size <= 10
         |  GROUP BY 1, 2, 3
         |), best AS (
         |  SELECT p_partkey, p_brand, l_suppkey AS cheapest_supp, unit_cents,
         |         row_number() OVER (PARTITION BY p_partkey
         |                            ORDER BY unit_cents ASC, l_suppkey ASC) AS rn
         |  FROM unit
         |)
         |SELECT p_partkey, p_brand, cheapest_supp, unit_cents
         |FROM best WHERE rn = 1
         |ORDER BY p_partkey""".stripMargin,
    "q253_join_asof_nearest" ->
      """SELECT purch_id,
        |       CASE WHEN b_id IS NULL THEN f_id WHEN f_id IS NULL THEN b_id
        |            WHEN d_f < d_b THEN f_id ELSE b_id END AS nearest_view,
        |       CASE WHEN b_id IS NULL THEN 'forward' WHEN f_id IS NULL THEN 'backward'
        |            WHEN d_f < d_b THEN 'forward' ELSE 'backward' END AS direction,
        |       CASE WHEN b_id IS NULL THEN d_f WHEN f_id IS NULL THEN d_b
        |            WHEN d_f < d_b THEN d_f ELSE d_b END AS gap_s
        |FROM (
        |  SELECT purch_id, b_id, f_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(b_ts)) AS BIGINT) AS d_b,
        |         CAST(floor(epoch(f_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS d_f
        |  FROM (
        |    SELECT purch_id, ts,
        |           last_value(view_id IGNORE NULLS) OVER wb AS b_id,
        |           last_value(CASE WHEN view_id IS NOT NULL THEN ts END IGNORE NULLS) OVER wb AS b_ts,
        |           first_value(view_id IGNORE NULLS) OVER wf AS f_id,
        |           first_value(CASE WHEN view_id IS NOT NULL THEN ts END IGNORE NULLS) OVER wf AS f_ts
        |    FROM (
        |      SELECT user_id AS uid, ts, event_id AS view_id,
        |             CAST(NULL AS BIGINT) AS purch_id
        |      FROM events WHERE event_type = 'view'
        |      UNION ALL
        |      SELECT user_id, ts, CAST(NULL AS BIGINT), event_id
        |      FROM events WHERE event_type = 'purchase'
        |    )
        |    WINDOW wb AS (PARTITION BY uid
        |                  ORDER BY ts ASC, view_id ASC NULLS FIRST, purch_id ASC NULLS FIRST
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |           wf AS (PARTITION BY uid
        |                  ORDER BY ts ASC, view_id ASC NULLS FIRST, purch_id ASC NULLS FIRST
        |                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |  ) WHERE purch_id IS NOT NULL
        |)
        |WHERE (CASE WHEN b_id IS NULL THEN f_id WHEN f_id IS NULL THEN b_id
        |            WHEN d_f < d_b THEN f_id ELSE b_id END) IS NOT NULL
        |ORDER BY purch_id""".stripMargin,
    "q233_priority_late_exists" ->
      // no table alias: the Oracle rewriter re-aliases each table AS its
      // own name, so the outer reference uses the bare table name.
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = orders.o_orderkey
        |                AND l_shipdate > orders.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q234_scan_only_revenue" ->
      s"""SELECT ${sumLongSql(centsSql("l_extendedprice * l_discount"))}
         |         AS revenue_cents,
         |       count(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,
    "q235_returned_revenue_topk" ->
      s"""SELECT c_custkey, c_name, n_name AS nation,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))}
         |         AS rev_cents
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY rev_cents DESC, c_custkey ASC
         |LIMIT 20""".stripMargin,
    "q236_order_count_distribution" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q237_promo_revenue_share" ->
      s"""WITH pc AS (
         |  SELECT p_type, ${centsSql("l_extendedprice * (1 - l_discount)")} AS pc
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
         |)
         |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN pc ELSE 0 END) AS BIGINT)
         |         AS promo_cents,
         |       CAST(sum(pc) AS BIGINT) AS total_cents,
         |       ${ratioSql("sum(CASE WHEN p_type = 'PROMO' THEN pc ELSE 0 END)",
                           "sum(pc)")} AS promo_share
         |FROM pc""".stripMargin,
    "q238_small_qty_revenue" ->
      s"""WITH li AS (
         |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         |         ${centsSql("l_extendedprice")} AS pc
         |  FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM part
         |                      WHERE p_brand = 'Brand#23')
         |), pa AS (
         |  SELECT l_partkey, count(*) AS n, CAST(sum(qty) AS BIGINT) AS sq
         |  FROM li GROUP BY 1
         |)
         |SELECT count(*) AS n_rows, CAST(sum(pc) AS BIGINT) AS rev_cents,
         |       ${ratioSql("sum(pc)", "7")} AS avg_yearly_cents
         |FROM li JOIN pa USING (l_partkey)
         |WHERE 5 * qty * n < sq""".stripMargin,
    "q228_brand_loyalty" ->
      s"""WITH bc AS (
         |  SELECT p_brand, o_custkey, count(*) AS n_ord FROM (
         |    SELECT DISTINCT p_brand, o_custkey, o_orderkey
         |    FROM lineitem
         |    JOIN part ON l_partkey = p_partkey
         |    JOIN orders ON l_orderkey = o_orderkey)
         |  GROUP BY 1, 2
         |)
         |SELECT p_brand, count(*) AS reach,
         |       CAST(sum(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS loyal,
         |       ${ratioSql("sum(CASE WHEN n_ord >= 2 THEN 1 ELSE 0 END)", "count(*)")} AS repeat_rate
         |FROM bc GROUP BY 1
         |ORDER BY p_brand""".stripMargin,
    "q220_item_cooccurrence_cosine" ->
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
         |), pairs AS (
         |  SELECT a.pa, b.pb, count(*) AS n_ab
         |  FROM (SELECT ok, pk AS pa FROM op) a
         |  JOIN (SELECT ok, pk AS pb FROM op) b USING (ok)
         |  WHERE a.pa < b.pb
         |  GROUP BY 1, 2 HAVING count(*) >= 3
         |), sup AS (SELECT pk, count(*) AS n FROM op GROUP BY 1)
         |SELECT pa, pb, n_ab, sa.n AS n_a, sb.n AS n_b,
         |       CAST(n_ab AS DOUBLE)
         |         / sqrt(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS cosine
         |FROM pairs
         |JOIN sup sa ON pairs.pa = sa.pk
         |JOIN sup sb ON pairs.pb = sb.pk
         |ORDER BY cosine DESC, pa, pb
         |LIMIT 50""".stripMargin,
    "q214_big_order_customers" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS order_qty
         |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
         |)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
         |       ${centsSql("o_totalprice")} AS total_cents, order_qty
         |FROM big
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_cents DESC, o_orderkey
         |LIMIT 20""".stripMargin,
    "q215_disjunctive_pred_scan" ->
      s"""SELECT ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS revenue_cents,
         |       count(*) AS n_rows
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15
         |        AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30
         |        AND l_quantity BETWEEN 10 AND 35)
         |   OR (p_type = 'LARGE' AND p_size BETWEEN 25 AND 50
         |        AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "q216_nation_trade_flow" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS INT) AS ship_year,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS volume_cents
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN (SELECT * FROM nation) cn ON c_nationkey = cn.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN (SELECT * FROM nation) sn ON s_nationkey = sn.n_nationkey
         |WHERE cn.n_name <> sn.n_name
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
    "q217_top_supplier_interval" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS total_cents
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
         |    AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
         |  GROUP BY 1
         |)
         |SELECT s_suppkey, s_name, total_cents
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_cents = (SELECT max(total_cents) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q218_brand_supplier_census" ->
      s"""WITH ps AS (
         |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
         |)
         |SELECT p_brand, p_type, p_size,
         |       count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#13' AND p_type <> 'MEDIUM'
         |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q219_profit_decomposition" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |       ${sumLongSql(
               s"${centsSql("l_extendedprice * (1 - l_discount)")}" +
               s" - (${centsSql("p_retailprice")}" +
               " * CAST(l_quantity AS BIGINT) * 2) // 5")} AS profit_cents
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin,
    "q207_late_supplier_blame" ->
      s"""WITH osup AS (
         |  SELECT l_orderkey AS ok, l_suppkey AS sk,
         |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
         |                  THEN 1 ELSE 0 END) AS late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2
         |), flagged AS (
         |  SELECT sk, late,
         |         count(*)  OVER (PARTITION BY ok) AS n_supp,
         |         sum(late) OVER (PARTITION BY ok) AS n_late
         |  FROM osup
         |)
         |SELECT s_name, count(*) AS numwait
         |FROM flagged JOIN supplier ON sk = s_suppkey
         |WHERE late = 1 AND n_late = 1 AND n_supp >= 2
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name
         |LIMIT 10""".stripMargin,
    "q208_dormant_high_value" ->
      s"""WITH avg_pos AS (
         |  SELECT ${sumLongSql(centsSql("c_acctbal"))} AS bal_sum,
         |         count(*) AS bal_n
         |  FROM customer WHERE c_acctbal > 0
         |), recent AS (
         |  SELECT DISTINCT o_custkey FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
         |)
         |SELECT c_mktsegment, count(*) AS n_cust,
         |       ${sumLongSql(centsSql("c_acctbal"))} AS bal_cents
         |FROM customer CROSS JOIN avg_pos
         |WHERE CAST(${centsSql("c_acctbal")} AS DOUBLE)
         |        > ${ratioSql("bal_sum", "bal_n")}
         |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "q209_promo_supplier_share" ->
      s"""WITH sb AS (
         |  SELECT l_suppkey, p_brand,
         |         ${sumIntValuedSql("l_quantity")} AS supp_qty
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2
         |), bt AS (
         |  SELECT p_brand AS bb, CAST(sum(supp_qty) AS BIGINT) AS brand_qty,
         |         count(*) AS n_supp
         |  FROM sb GROUP BY 1
         |)
         |SELECT s_name, p_brand, supp_qty, brand_qty, n_supp,
         |       ${ratioSql("supp_qty * n_supp", "brand_qty")} AS share_x_uniform
         |FROM sb
         |JOIN bt ON p_brand = bb
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE supp_qty * 2 * n_supp > 3 * brand_qty
         |ORDER BY p_brand, s_name""".stripMargin,
    "q199_brand_affinity" ->
      s"""WITH ob AS (
         |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |), pairs AS (
         |  SELECT a.brand_a, b.brand_b, count(*) AS n_ab
         |  FROM (SELECT ok, brand AS brand_a FROM ob) a
         |  JOIN (SELECT ok, brand AS brand_b FROM ob) b USING (ok)
         |  WHERE a.brand_a < b.brand_b
         |  GROUP BY 1, 2
         |), sup AS (SELECT brand, count(*) AS n FROM ob GROUP BY 1),
         |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM ob)
         |SELECT brand_a, brand_b, n_ab, sa.n AS n_a, sb.n AS n_b,
         |       ${ratioSql("n_ab", "sa.n")} AS confidence,
         |       ${ratioSql("n_ab * n_orders", "sa.n * sb.n")} AS lift
         |FROM pairs
         |JOIN sup sa ON pairs.brand_a = sa.brand
         |JOIN sup sb ON pairs.brand_b = sb.brand
         |CROSS JOIN tot
         |WHERE n_ab >= 5
         |ORDER BY brand_a, brand_b""".stripMargin,
    "q189_fk_orphan_audit" ->
      """SELECT fk_edge, n_orphans FROM (
        |  SELECT 'lineitem.orderkey->orders' AS fk_edge,
        |         count(*) FILTER (o_orderkey IS NULL) AS n_orphans
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem.partkey->part',
        |         count(*) FILTER (p_partkey IS NULL)
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |  UNION ALL
        |  SELECT 'lineitem.suppkey->supplier',
        |         count(*) FILTER (s_suppkey IS NULL)
        |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |  UNION ALL
        |  SELECT 'orders.custkey->customer',
        |         count(*) FILTER (c_custkey IS NULL)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey)
        |ORDER BY fk_edge""".stripMargin,
    "q190_pk_uniqueness_audit" ->
      """SELECT pk, n_dup_keys, max_multiplicity FROM (
        |  SELECT 'customer.c_custkey' AS pk,
        |         CAST(count(*) FILTER (c > 1) AS BIGINT) AS n_dup_keys,
        |         max(c) AS max_multiplicity
        |  FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
        |  UNION ALL
        |  SELECT 'orders.o_orderkey', CAST(count(*) FILTER (c > 1) AS BIGINT), max(c)
        |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'part.p_partkey', CAST(count(*) FILTER (c > 1) AS BIGINT), max(c)
        |  FROM (SELECT count(*) AS c FROM part GROUP BY p_partkey)
        |  UNION ALL
        |  SELECT 'supplier.s_suppkey', CAST(count(*) FILTER (c > 1) AS BIGINT), max(c)
        |  FROM (SELECT count(*) AS c FROM supplier GROUP BY s_suppkey))
        |ORDER BY pk""".stripMargin,
    "q178_join_asof_tolerance" ->
      """SELECT o_orderkey,
        |       CASE WHEN lag_days <= 9400 THEN asof_event ELSE -1 END AS matched_event,
        |       lag_days,
        |       lag_days <= 9400 AS fresh
        |FROM (
        |  SELECT o_orderkey, asof_event,
        |         CAST(date_diff('day', CAST(ts AS DATE), CAST(asof_ts AS DATE)) AS BIGINT) AS lag_days
        |  FROM (
        |    SELECT o_orderkey, ts,
        |           first_value(event_id IGNORE NULLS) OVER w AS asof_event,
        |           first_value(CASE WHEN event_id IS NOT NULL THEN ts END IGNORE NULLS) OVER w AS asof_ts
        |    FROM (
        |      SELECT o_custkey AS uid, o_orderdate AS ts,
        |             CAST(NULL AS BIGINT) AS event_id, o_orderkey
        |      FROM orders
        |      UNION ALL
        |      SELECT user_id AS uid, ts, event_id, CAST(NULL AS BIGINT) AS o_orderkey
        |      FROM events
        |    )
        |    WINDOW w AS (PARTITION BY uid
        |                 ORDER BY ts ASC, event_id ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |  ) WHERE o_orderkey IS NOT NULL AND asof_event IS NOT NULL
        |)
        |ORDER BY o_orderkey""".stripMargin,
    "q176_policy_masking" ->
      s"""SELECT c_custkey, c_mktsegment,
         |       CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN md5(c_name)
         |            ELSE c_name END AS name_out,
         |       CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN -1
         |            WHEN c_mktsegment = 'BUILDING'
         |              THEN bc - (bc % 100000)
         |            ELSE bc END AS bal_out
         |FROM (SELECT c_custkey, c_mktsegment, c_name,
         |             ${centsSql("c_acctbal")} AS bc
         |      FROM customer)
         |ORDER BY c_custkey""".stripMargin,
    "q150_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |       ${sumLongSql(s"CASE WHEN ns.n_name = 'NATION_3' THEN ${centsSql("l_extendedprice * (1 - l_discount)")} ELSE 0 END")} AS nation_cents,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS total_cents,
         |       ${ratioSql(
              s"sum(CASE WHEN ns.n_name = 'NATION_3' THEN ${centsSql("l_extendedprice * (1 - l_discount)")} ELSE 0 END)",
              s"sum(${centsSql("l_extendedprice * (1 - l_discount)")})")} AS mkt_share
         |FROM lineitem
         |JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN (SELECT n_nationkey AS cn_key, n_regionkey FROM nation) nc
         |  ON c_nationkey = nc.cn_key
         |JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = 'EUROPE'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN (SELECT n_nationkey AS sn_key, n_name FROM nation) ns
         |  ON s_nationkey = ns.sn_key
         |WHERE year(o_orderdate) BETWEEN 1995 AND 1996
         |GROUP BY 1
         |ORDER BY o_year""".stripMargin,
    "q151_scd2_build" ->
      """SELECT o_custkey,
        |       CAST(row_number() OVER w AS BIGINT) AS version,
        |       o_orderkey, o_orderstatus,
        |       o_orderdate AS valid_from,
        |       coalesce(lead(o_orderdate, 1) OVER w,
        |                TIMESTAMP '9999-12-31 00:00:00') AS valid_to,
        |       lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, version""".stripMargin,
    "q152_union_by_name" ->
      s"""SELECT * FROM (
         |  SELECT l_orderkey AS key, CAST(l_linenumber AS BIGINT) AS line_no,
         |         CAST(l_quantity AS BIGINT) AS qty,
         |         ${centsSql("l_extendedprice")} AS price_cents, 'li' AS src
         |  FROM lineitem
         |  UNION ALL BY NAME
         |  SELECT 'ord' AS src, ${centsSql("o_totalprice")} AS price_cents,
         |         o_orderkey AS key, CAST(-1 AS BIGINT) AS line_no
         |  FROM orders)
         |ORDER BY src, key, line_no, price_cents, qty""".stripMargin,
    "q153_intersect_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q125_join_asof_forward" ->
      """SELECT o_orderkey, next_event, next_ts FROM (
        |  SELECT o_orderkey,
        |         first_value(event_id IGNORE NULLS) OVER w AS next_event,
        |         first_value(CASE WHEN event_id IS NOT NULL THEN ts END IGNORE NULLS) OVER w AS next_ts
        |  FROM (
        |    SELECT o_custkey AS uid, o_orderdate AS ts,
        |           CAST(NULL AS BIGINT) AS event_id, o_orderkey
        |    FROM orders
        |    UNION ALL
        |    SELECT user_id AS uid, ts, event_id, CAST(NULL AS BIGINT) AS o_orderkey
        |    FROM events
        |  )
        |  WINDOW w AS (PARTITION BY uid
        |               ORDER BY ts ASC, event_id ASC NULLS LAST, o_orderkey ASC NULLS FIRST
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |) WHERE o_orderkey IS NOT NULL AND next_event IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "q29_project_filter" ->
      s"""SELECT o_orderkey,
         |       CAST(o_custkey AS INT) AS cust_int,
         |       ${centsSql("o_totalprice")} AS price_cents,
         |       CAST(o_orderdate AS DATE) AS odate,
         |       coalesce(nullif(o_orderstatus, 'O'), 'N/A') AS status_or_na,
         |       CASE WHEN o_totalprice > 150000.0 THEN 'big' ELSE 'small' END AS bucket
         |FROM orders
         |WHERE o_orderstatus IN ('O', 'F')
         |  AND o_totalprice BETWEEN 1000.0 AND 250000.0
         |  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
         |  AND NOT (o_orderkey % 97 = 0)
         |  AND nullif(o_orderstatus, 'ZZZ') IS NOT NULL
         |ORDER BY o_orderkey""".stripMargin,
    "q01_revenue_by_nation" ->
      s"""SELECT n_name,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS revenue_cents,
         |       count(*) AS n_rows
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin,
    "q02_join_broadcast_dim" ->
      s"""SELECT p_brand,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS revenue_cents,
         |       ${sumIntValuedSql("l_quantity")} AS sum_qty,
         |       count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    "q03_join_left_outer" ->
      s"""SELECT c_custkey, c_name,
         |       count(o_orderkey) AS n_orders,
         |       coalesce(${sumLongSql(centsSql("o_totalprice"))}, 0) AS total_cents
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name
         |ORDER BY c_custkey""".stripMargin,
    "q72_join_right_outer" ->
      s"""SELECT c_custkey, c_name,
         |       count(o_orderkey) AS n_orders,
         |       coalesce(${sumLongSql(centsSql("o_totalprice"))}, 0) AS total_cents
         |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_custkey, c_name
         |ORDER BY c_custkey""".stripMargin,
    "q04_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q05_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q06_join_equirange" ->
      s"""SELECT p_brand, count(*) AS n_in_band, ${sumIntValuedSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN part
         |  ON l_partkey = p_partkey
         | AND l_quantity >= (p_size - 5) AND l_quantity <= (p_size + 5)
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    "q07_join_asof" ->
      """SELECT o_orderkey, asof_event, asof_ts FROM (
        |  SELECT o_orderkey,
        |         first_value(event_id IGNORE NULLS) OVER w AS asof_event,
        |         first_value(CASE WHEN event_id IS NOT NULL THEN ts END IGNORE NULLS) OVER w AS asof_ts
        |  FROM (
        |    SELECT o_custkey AS uid, o_orderdate AS ts,
        |           CAST(NULL AS BIGINT) AS event_id, o_orderkey
        |    FROM orders
        |    UNION ALL
        |    SELECT user_id AS uid, ts, event_id, CAST(NULL AS BIGINT) AS o_orderkey
        |    FROM events
        |  )
        |  WINDOW w AS (PARTITION BY uid
        |               ORDER BY ts ASC, event_id ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |) WHERE o_orderkey IS NOT NULL AND asof_event IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "q08_join_theta" ->
      """SELECT r_name, count(*) AS n_pairs
        |FROM nation JOIN region ON n_regionkey < r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "q09_join_full_outer" ->
      """SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |       coalesce(n_cust, 0) AS n_cust,
        |       coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) cagg
        |FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) sagg
        |  ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "q10_join_cross" ->
      """SELECT r_name, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "q54_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS revenue_cents
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue_cents DESC, l_orderkey ASC
         |LIMIT 10""".stripMargin,
    "q55_local_supplier_volume" ->
      s"""SELECT r_name, n_name,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS revenue_cents,
         |       count(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name IN ('AMERICA', 'ASIA')
         |GROUP BY r_name, n_name
         |ORDER BY r_name, revenue_cents DESC, n_name""".stripMargin,
    "q56_above_brand_avg" ->
      s"""SELECT p_partkey, p_brand,
         |       ${centsSql("p_retailprice")} AS price_cents,
         |       ${ratioSql("b_sum", "b_n")} AS brand_avg_cents
         |FROM part
         |JOIN (SELECT p_brand AS b_brand,
         |             ${sumLongSql(centsSql("p_retailprice"))} AS b_sum,
         |             count(*) AS b_n
         |      FROM part GROUP BY p_brand) b ON p_brand = b_brand
         |WHERE CAST(${centsSql("p_retailprice")} AS DOUBLE) > ${ratioSql("b_sum", "b_n")}
         |ORDER BY p_partkey""".stripMargin,
    "q59_salted_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |       ${sumLongSql(centsSql("o_totalprice"))} AS sum_cents
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "q205_salted_join_autotuned" ->
      s"""WITH ks AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
         |b AS (SELECT CAST(max(length(bin(cnt)) - 1) AS INT) AS bucket FROM ks),
         |sl AS (SELECT CAST(LEAST(32, GREATEST(1,
         |         (1 << GREATEST(0, bucket - 6)))) AS INT) AS salt_lanes
         |       FROM b)
         |SELECT s_nationkey, count(*) AS n_items,
         |       ${sumLongSql(centsSql("l_extendedprice"))} AS sum_cents,
         |       salt_lanes
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |CROSS JOIN sl
         |GROUP BY s_nationkey, salt_lanes
         |ORDER BY s_nationkey""".stripMargin,
    "q60_salted_agg" ->
      s"""SELECT l_returnflag, count(*) AS n_rows,
         |       ${sumLongSql(centsSql("l_extendedprice"))} AS sum_pc
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "q23_sort_multikey_nulls" ->
      """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS maybe_status,
        |       o_totalprice, o_orderpriority
        |FROM orders
        |ORDER BY maybe_status ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q24_topk_limit" ->
      s"""SELECT o_orderkey, o_custkey, ${centsSql("o_totalprice")} AS price_cents
         |FROM orders
         |ORDER BY price_cents DESC, o_orderkey ASC
         |LIMIT 10""".stripMargin,
    "q25_union_all" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
        |)
        |ORDER BY src, id""".stripMargin,
    "q26_union_distinct" ->
      """SELECT * FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION
        |  SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |)
        |ORDER BY nationkey""".stripMargin,
    "q27_intersect" ->
      """SELECT * FROM (
        |  SELECT c_custkey FROM customer
        |  INTERSECT
        |  SELECT o_custkey AS c_custkey FROM orders
        |)
        |ORDER BY c_custkey""".stripMargin,
    "q28_except_all" ->
      """SELECT o_custkey, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders
        |  EXCEPT ALL
        |  SELECT c_custkey AS o_custkey FROM customer
        |)
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q100_merge_upsert" ->
      s"""WITH snap AS (
         |  SELECT c_custkey AS k, ${centsSql("c_acctbal")} AS bal_cents,
         |         c_mktsegment AS seg
         |  FROM customer
         |), changes AS (
         |  SELECT k AS ck, 'D' AS op, CAST(NULL AS BIGINT) AS new_bal,
         |         CAST(NULL AS VARCHAR) AS new_seg
         |  FROM snap WHERE k % 10 = 1
         |  UNION ALL
         |  SELECT k, 'U', bal_cents + 10000, seg FROM snap WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT k + 1000000, 'I', 77700, 'NEW' FROM snap WHERE k % 10 = 2
         |)
         |SELECT coalesce(k, ck) AS mkey,
         |       CASE WHEN op IN ('U', 'I') THEN new_bal ELSE bal_cents END AS bal_cents,
         |       CASE WHEN op IN ('U', 'I') THEN new_seg ELSE seg END AS seg,
         |       coalesce(op, '=') AS op
         |FROM snap FULL OUTER JOIN changes ON k = ck
         |WHERE op IS NULL OR op <> 'D'
         |ORDER BY mkey""".stripMargin,
    "q116_snapshot_diff" ->
      s"""WITH base AS (
         |  SELECT c_custkey AS k, ${centsSql("c_acctbal")} AS bal FROM customer
         |), olds AS (
         |  SELECT k AS ok, bal AS obal FROM base WHERE k % 7 <> 0
         |), news AS (
         |  SELECT k AS nk,
         |         CASE WHEN k % 5 = 0 THEN bal + 500 ELSE bal END AS nbal
         |  FROM base WHERE k % 10 <> 0
         |)
         |SELECT op, count(*) AS n_keys, min(k) AS min_key, max(k) AS max_key
         |FROM (
         |  SELECT coalesce(ok, nk) AS k,
         |         CASE WHEN ok IS NULL THEN 'I'
         |              WHEN nk IS NULL THEN 'D'
         |              WHEN obal <> nbal THEN 'U'
         |              ELSE '=' END AS op
         |  FROM olds FULL OUTER JOIN news ON ok = nk
         |)
         |GROUP BY op
         |ORDER BY op""".stripMargin,
    "q118_join_nullsafe" ->
      """SELECT (ck IS NULL) AS key_missing, count(*) AS n_pairs,
        |       count(DISTINCT c_custkey) AS n_cust,
        |       count(DISTINCT o_orderkey) AS n_orders
        |FROM (SELECT c_custkey,
        |             CASE WHEN c_custkey % 97 = 3 THEN NULL
        |                  ELSE c_custkey END AS ck
        |      FROM customer) c
        |JOIN (SELECT o_orderkey,
        |             CASE WHEN o_custkey % 97 = 3 THEN NULL
        |                  ELSE o_custkey END AS ok
        |      FROM orders) o
        |  ON ck IS NOT DISTINCT FROM ok
        |GROUP BY 1
        |ORDER BY key_missing""".stripMargin
  )
}
