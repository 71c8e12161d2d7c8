package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{Pinned, TwoPass}
import Portable._

/** Aggregation surface (SURVEY.md §2.B): multi-measure hash agg, exact and
  * approximate distinct, rollup/cube, filtered agg, ordered string agg, and
  * a typed UDAF.
  *
  * Scale stance: everything here is a single hash-aggregate shuffle with
  * map-side partial aggregation (Catalyst plans partial+final automatically
  * for all built-ins and for the UDAF's merge). Exact `count(DISTINCT x, y)`
  * is the one expensive shape — Spark expands it to a double shuffle; the
  * HLL variant (`approx_count_distinct`) is the 100 TB path and is declared
  * alongside it.
  */
object Aggregates {

  /** TPC-H Q1 shape adapted to fixture columns: multi-measure agg with
    * exact-cents sums and ratio-from-exact-ints averages. */
  def multiMeasure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    li.filter($"l_shipdate" <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sumIntValued($"l_quantity").as("sum_qty"),
        sum(cents($"l_extendedprice")).as("sum_base_cents"),
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("sum_disc_cents"),
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"))).as("sum_charge_cents"),
        count(lit(1)).as("n_rows"))
      .withColumn("avg_qty", ratio($"sum_qty", $"n_rows"))
      .withColumn("avg_price_cents", ratio($"sum_base_cents", $"n_rows"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Exact multi-column count distinct (double-shuffle shape). */
  def countDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** ROLLUP over the region→nation hierarchy with explicit grouping flags
    * (grouping-ID *numbering* differs across engines; the per-column
    * `grouping()` flag is portable). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("n_cust"),
        sum(cents($"c_acctbal")).as("acctbal_cents"),
        grouping($"r_name").cast("int").as("g_region"),
        grouping($"n_name").cast("int").as("g_nation"))
      .orderBy($"g_region", $"g_nation",
        $"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** CUBE over two independent dimensions. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sumIntValued($"l_quantity").as("sum_qty"),
        grouping($"l_returnflag").cast("int").as("g_rf"),
        grouping($"l_linestatus").cast("int").as("g_ls"))
      .orderBy($"g_rf", $"g_ls",
        $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Explicit GROUPING SETS (the general form behind rollup/cube): the
    * (rf, ls) / (rf) / () sets, with portable per-column grouping() flags
    * (grouping-ID *numbering* differs across engines). */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq()),
        $"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sumIntValued($"l_quantity").as("sum_qty"),
        grouping($"l_returnflag").cast("int").as("g_rf"),
        grouping($"l_linestatus").cast("int").as("g_ls"))
      .orderBy($"g_rf", $"g_ls",
        $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Filtered / conditional aggregation (CASE-based, portable to FILTER). */
  def filteredAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        count(when($"o_orderstatus" === "F", lit(1))).as("n_finished"),
        count(when($"o_orderstatus" =!= "F", lit(1))).as("n_other"),
        sum(when($"o_orderstatus" === "F", cents($"o_totalprice")).otherwise(lit(0L))).as("finished_cents"),
        count(lit(1)).as("n_total"))
      .orderBy($"o_orderpriority")
  }

  /** Deterministically ordered distinct string aggregation (collect_set →
    * sort_array → join; DuckDB `string_agg(DISTINCT … ORDER BY …)`). */
  def stringAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy($"n_name")
      .agg(
        concat_ws(",", sort_array(collect_set($"c_mktsegment"))).as("segments"),
        count(lit(1)).as("n_cust"))
      .orderBy($"n_name")
  }

  /** Typed UDAF (Aggregator with exact integer buffer): weighted mean of
    * part retail price (cents) weighted by p_size. The buffer is two longs,
    * so partial-agg merge is exact and order-independent. */
  object WeightedMeanCents extends Aggregator[(Long, Long), (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), in: (Long, Long)): (Long, Long) =
      (b._1 + in._1 * in._2, b._2 + in._2)
    def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Long, Long)): Double = b._1.toDouble / b._2.toDouble
    def bufferEncoder: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  def udafWeightedMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wmean = udaf(WeightedMeanCents)
    Tables.part(s, dir)
      .groupBy($"p_brand")
      .agg(
        wmean(cents($"p_retailprice"), $"p_size".cast("long")).as("wmean_price_cents"),
        sum(cents($"p_retailprice") * $"p_size").as("wsum_cents"),
        sumIntValued($"p_size").as("wtot"))
      .orderBy($"p_brand")
  }

  /** Typed `KeyValueGroupedDataset.mapGroups` — the Dataset-API escape
    * hatch for genuinely SEQUENTIAL per-group logic (here: max gap in days
    * between a customer's consecutive orders, which needs the group's
    * rows in date order). Contract notes a production user must know,
    * stated here because this is the API-surface demo: (a) mapGroups gets
    * NO map-side partial aggregation — the whole group shuffles, so it
    * only belongs where window/agg genuinely can't express the logic or
    * group payloads are small (both true here: a customer's order DATES);
    * (b) the iterator's order is undefined — the group sorts its own rows
    * (dates, with epoch-day arithmetic under the session's fixed UTC) so
    * results are partitioning-independent; (c) per-group memory is the
    * group's row count — bounded by orders-per-customer, never corpus
    * size. Oracle twin: the lag/datediff window formulation. */
  def typedMapGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_custkey".as[Long],
        $"o_orderdate".cast("date").as[java.sql.Date])
      .groupByKey(_._1)
      .mapGroups { (cust, it) =>
        val days = it.map { case (_, d) =>
          java.time.LocalDate.parse(d.toString).toEpochDay
        }.toArray.sorted
        val maxGap =
          if (days.length < 2) 0L
          else days.sliding(2).map(w => w(1) - w(0)).max
        (cust, days.length.toLong, maxGap,
          java.time.LocalDate.ofEpochDay(days.head).toString,
          java.time.LocalDate.ofEpochDay(days.last).toString)
      }
      .toDF("custkey", "n_orders", "max_gap_days", "first_order", "last_order")
      .orderBy($"custkey")
  }

  /** Pivot: one column per l_returnflag value (explicit value list — never
    * let pivot scan for distinct values at scale), measures as exact cents.
    * Portable: a pivot with known values IS conditional aggregation, which
    * is how the oracle states it. */
  def pivotAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .withColumn("cents", cents($"l_extendedprice"))
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(coalesce(sum($"cents"), lit(0L)))
      .withColumnsRenamed(Map("A" -> "cents_a", "N" -> "cents_n", "R" -> "cents_r"))
      .orderBy($"l_linestatus")
  }

  /** Unpivot (melt) — the inverse of q58's pivot, closing the reshape
    * pair: two exact-integer measures per lineitem row melt into
    * (measure, value) rows, 2× the input cardinality, bounded here by the
    * orderkey filter purely to keep the declared output small. Spark's
    * `unpivot` plans as an Expand node (each input row emitted once per
    * measure — a projection, no shuffle, no join); the oracle states the
    * same semantics as a UNION ALL of per-measure projections. */
  def unpivotAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" < 100)
      .select(
        $"l_orderkey", $"l_linenumber",
        cents($"l_extendedprice").as("price_cents"),
        $"l_quantity".cast("long").as("qty_l"))
      .unpivot(
        Array($"l_orderkey", $"l_linenumber"),
        Array($"price_cents", $"qty_l"),
        "measure", "value")
      .orderBy($"l_orderkey", $"l_linenumber", $"measure")
  }

  /** Exact quartiles of integer cents per return flag. Quartile fractions
    * are dyadic (.25/.5/.75 = exact powers of two), so the linear
    * interpolation between two integer-valued doubles is bit-exact in IEEE
    * arithmetic whatever formula each engine uses — arbitrary percentiles
    * (p90 etc.) would NOT hash-match and belong to approx_percentile.
    *
    * Formulation: NOT `percentile(...)` — Spark's exact percentile is an
    * ObjectHashAggregate whose buffer holds every raw value per group (the
    * 32-core plan audit showed it as the most expensive query in the set),
    * which at 100 TB is an executor-OOM plan. Instead: count-by-value
    * (aggregate state bounded by the DOMAIN — distinct cent values — not by
    * row count, with map-side combine shrinking each partition to its
    * distinct values), then a cumulative-count window over the per-value
    * counts and the standard interpolation `v_lo + (v_hi - v_lo) * frac`
    * at 0-based position (n-1)*q, where the value at index i is the first
    * value whose cumulative count exceeds i. Identical exact result,
    * whole-stage-codegen aggregates, bounded memory. The window partitions
    * by l_returnflag (3 partitions) but its input is the distinct-value
    * table, so per-partition work is domain-bounded at any scale. */
  def quartilesAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(s, dir)
      .withColumn("pc", cents($"l_extendedprice"))
      .groupBy($"l_returnflag", $"pc")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"l_returnflag").orderBy($"pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"l_returnflag")
    val quartiles = Seq(0.25 -> "q1_cents", 0.5 -> "median_cents", 0.75 -> "q3_cents")
    val ranked = quartiles.foldLeft(
      counts
        .withColumn("cum", sum($"cnt").over(wCum))
        .withColumn("n", sum($"cnt").over(wAll))) { case (df, (q, name)) =>
      df.withColumn(s"pos_$name", ($"n" - 1) * lit(q))
    }
    val aggs = quartiles.map { case (_, name) =>
      val pos = col(s"pos_$name")
      val vLo = min(when($"cum" >= floor(pos) + 1, $"pc"))
      val vHi = min(when($"cum" >= ceil(pos) + 1, $"pc"))
      (vLo + (vHi - vLo) * max(pos - floor(pos))).as(name)
    }
    ranked
      .groupBy($"l_returnflag")
      .agg(aggs.head, aggs.tail :+ max($"n").as("n_rows"): _*)
      .orderBy($"l_returnflag")
  }

  /** approx_percentile for the non-dyadic percentiles (p90/p99) that q63
    * deliberately excludes — the 100 TB percentile path. The raw sketch
    * value is engine-specific (Spark's Greenwald-Khanna summary ≠ any
    * DuckDB structure), so the q18 trick applies: the DECLARED output is
    * the exact nearest-rank percentile (bit-exact integer cents — no
    * interpolation, so no cross-engine FP formula to disagree on) plus a
    * `within_bound` flag evaluating GK's deterministic contract in Spark;
    * the oracle recomputes the exact column and asserts the flag TRUE, so
    * a sketch regression flips the hash red.
    *
    * Bound: percentile_approx(pc, p, acc) guarantees rank error ≤ n/acc
    * (relative error 1/acc, deterministic — not probabilistic). The flag
    * checks the approx value lies between the exact values at ranks
    * ceil(p·n) ± (ceil(n/acc) + 1); the +1 absorbs the nearest-rank-vs-p·n
    * convention gap between this formulation and the sketch's target rank.
    * All rank arithmetic is integer (ceil(a/b) = (a+b-1) div b) — no FP.
    *
    * Exact side reuses q63's domain-bounded count-by-value shape: aggregate
    * state is bounded by distinct cent values, never an ObjectHashAggregate
    * holding raw rows — the executor-OOM plan this formulation replaces at
    * scale. The approx side is one codegen'd hash agg over raw rows with a
    * constant-size GK buffer per group; the two 3-row sides join broadcast. */
  val PercentileAccuracy = 1000

  def approxPercentileAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pc = Tables.lineitem(s, dir).withColumn("pc", cents($"l_extendedprice"))
    val counts = pc.groupBy($"l_returnflag", $"pc").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"l_returnflag").orderBy($"pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"l_returnflag")
    // exact integer floor-division on longs: (a - a mod b) / b, where the
    // double divide of an exact multiple below 2^53 is exact
    def idiv(a: Column, b: Int): Column =
      ((a - pmod(a, lit(b.toLong))).cast("double") / lit(b.toDouble)).cast("long")
    def ceilDiv(a: Column, b: Int): Column = idiv(a + lit(b.toLong - 1L), b)
    val ranked = counts
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(wAll))
      .withColumn("err", ceilDiv($"n", PercentileAccuracy) + lit(1L))
      .withColumn("r90", ceilDiv($"n" * 90, 100))
      .withColumn("r99", ceilDiv($"n" * 99, 100))
    def valueAt(rank: Column): Column = min(when($"cum" >= rank, $"pc"))
    val exact = ranked.groupBy($"l_returnflag").agg(
      max($"n").as("n_rows"),
      valueAt($"r90").as("p90_cents"),
      valueAt($"r99").as("p99_cents"),
      valueAt(greatest($"r90" - $"err", lit(1L))).as("lo90"),
      valueAt(least($"r90" + $"err", $"n")).as("hi90"),
      valueAt(greatest($"r99" - $"err", lit(1L))).as("lo99"),
      valueAt(least($"r99" + $"err", $"n")).as("hi99"))
    val approx = pc.groupBy($"l_returnflag").agg(
      percentile_approx($"pc", lit(0.90), lit(PercentileAccuracy)).as("a90"),
      percentile_approx($"pc", lit(0.99), lit(PercentileAccuracy)).as("a99"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(
        $"l_returnflag", $"n_rows", $"p90_cents", $"p99_cents",
        ($"a90" >= $"lo90" && $"a90" <= $"hi90").as("p90_within_bound"),
        ($"a99" >= $"lo99" && $"a99" <= $"hi99").as("p99_within_bound"))
      .orderBy($"l_returnflag")
  }

  /** HLL approximate distinct — the 100 TB substitute for exact distinct.
    * The raw sketch value is engine-specific (Spark HLL++ ≠ any DuckDB
    * sketch), so the DECLARED output is oracle-checkable instead: the exact
    * count plus `approx_within_5pct`, the documented ≤5% relative-error
    * bound evaluated in Spark. The oracle recomputes the exact column and
    * asserts the bound as TRUE — if HLL ever drifts outside its contract
    * the hash check goes red, which is exactly the failure we want caught.
    * The ScalaTest spec additionally checks the raw error magnitude. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"))
      .select(
        $"l_returnflag", $"exact_parts",
        (abs($"approx_parts" - $"exact_parts").cast("double")
          <= lit(0.05) * $"exact_parts".cast("double")).as("approx_within_5pct"))
      .orderBy($"l_returnflag")
  }

  /** Statistical-moment family: native `var_samp` / `stddev_samp` /
    * `covar_samp` / `corr` — the one agg family whose results are genuinely
    * FP-order-dependent (Welford-style streaming merges), so raw values can
    * never hash-match a second engine. Declared output therefore splits:
    *
    *   - values PROVABLY bit-exact cross-engine: `mean_price_cents` (exact
    *     long ratio) and `var_qty`/`stddev_qty`, whose portable tree
    *     `(n*Σy² − (Σy)²) / (n(n−1))` stays below 2^53 at sf ≤ 0.1
    *     (Σy² ≤ 6e5·2500 = 1.5e9, n·Σy² ≤ 9e14), so every long→double
    *     conversion and IEEE op is exact in both engines;
    *   - the price moments, whose exact sums (Σx² ≈ 6.6e19 at sf0.1) need
    *     DECIMAL(38,0) accumulation, surface as `*_ok` CONTRACT BOOLEANS:
    *     each engine checks its own native estimate against the exact
    *     decimal-sum tree within 1e-6 relative (hybrid `1e-6·(|x|+1)` so a
    *     near-zero corr can't fail on relative error) — the q18 pattern.
    *     The exact tree itself is NOT output: a ~1e24 integer's nearest
    *     double could differ by 1 ulp between Spark's BigDecimal path and
    *     DuckDB's two-half HUGEINT conversion.
    *
    * Scale: one codegen hash agg, map-side partials; decimal sums keep
    * exactness far past long overflow (100 TB row counts). */
  def statsMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 0)
    val li = Tables.lineitem(s, dir).select(
      $"l_returnflag",
      cents($"l_extendedprice").as("pc"),
      $"l_quantity".cast("long").as("qty"))
    val g = li.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum($"pc".cast(d38)).as("sx"),
      sum($"qty").as("sy"),
      sum(($"pc" * $"pc").cast(d38)).as("sxx"),
      sum(($"pc" * $"qty").cast(d38)).as("sxy"),
      sum($"qty" * $"qty").as("syy"),
      var_samp($"pc".cast(DoubleType)).as("v_n"),
      stddev_samp($"pc".cast(DoubleType)).as("s_n"),
      covar_samp($"pc".cast(DoubleType), $"qty".cast(DoubleType)).as("cv_n"),
      corr($"pc".cast(DoubleType), $"qty".cast(DoubleType)).as("cr_n"))
    val n38 = $"n".cast(d38)
    val numV = n38 * $"sxx" - $"sx" * $"sx"           // exact decimal ints
    val numC = n38 * $"sxy" - $"sx" * $"sy".cast(d38)
    val numYl = $"n" * $"syy" - $"sy" * $"sy"          // exact LONG (< 2^53)
    val denNm1 = ($"n" * ($"n" - lit(1L))).cast(DoubleType)
    val varPc = numV.cast(DoubleType) / denNm1
    val covPq = numC.cast(DoubleType) / denNm1
    val corPq = numC.cast(DoubleType) /
      (sqrt(numV.cast(DoubleType)) * sqrt(numYl.cast(DoubleType)))
    val varQty = numYl.cast(DoubleType) / denNm1
    def ok(native: Column, portable: Column): Column =
      abs(native - portable) <= lit(1e-6) * (abs(portable) + lit(1.0))
    g.select(
      $"l_returnflag",
      $"n".as("n_rows"),
      ratio($"sx".cast("long"), $"n").as("mean_price_cents"),
      varQty.as("var_qty"),
      sqrt(varQty).as("stddev_qty"),
      ok($"v_n", varPc).as("var_price_ok"),
      ok($"s_n", sqrt(varPc)).as("stddev_price_ok"),
      ok($"cv_n", covPq).as("covar_ok"),
      ok($"cr_n", corPq).as("corr_ok"))
      .orderBy($"l_returnflag")
  }

  /** Bitwise / boolean aggregate family over a 40-bit per-row digest
    * (`bit_and`/`bit_or`/`bit_xor`, `bool_and`/`bool_or`). Integer bit ops
    * are associative+commutative, so results are order-independent and
    * hash-exact in any engine at any parallelism — the same property that
    * makes them safe partial-aggregate reducers on a 1000-executor cluster
    * (XOR-fold is the classic distributed set-digest). */
  def bitwiseBoolAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select(
      $"o_orderpriority",
      cents($"o_totalprice").as("pc"),
      conv(substring(md5($"o_orderkey".cast("string")), 1, 10), 16, 10)
        .cast("long").as("h"))
    o.groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_rows"),
        bit_and($"h").as("h_and"),
        bit_or($"h").as("h_or"),
        bit_xor($"h").as("h_xor"),
        bool_and($"pc" > 0).as("all_positive"),
        bool_or($"pc" >= 45000000L).as("any_over_450k"))
      .orderBy($"o_orderpriority")
  }

  /** Arg-extremum family: `min_by`/`max_by` (DuckDB `arg_min`/`arg_max`),
    * `median`, `any_value`. Determinism contracts, stated and engineered:
    * min_by/max_by tie-break via a composite compare key
    * `pc·10^9 + o_orderkey`, unique while orderkey < 10^9 and pc < 9.2·10^9
    * (billions of orders; beyond that use a struct ordering, which both
    * engines compare lexicographically but DuckDB's arg_min cannot take);
    * `median` of integer cents interpolates the two middle values
    * as `(a+b)/2`, exact in IEEE for a+b < 2^53 in both engines; `any_value`
    * is only deterministic over an expression CONSTANT within its group
    * (here: the priority's leading digit). */
  def argExtremes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderpriority", $"o_orderkey", $"o_orderstatus",
        cents($"o_totalprice").as("pc"))
      .withColumn("cmp", $"pc" * lit(1000000000L) + $"o_orderkey")
    o.groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_rows"),
        median($"pc").as("median_price_cents"),
        min_by($"o_orderkey", $"cmp").as("cheapest_orderkey"),
        max_by($"o_orderkey", $"cmp").as("priciest_orderkey"),
        min_by($"o_orderstatus", $"cmp").as("cheapest_status"),
        any_value(substring($"o_orderpriority", 1, 1)).as("priority_digit"))
      .orderBy($"o_orderpriority")
  }

  /** Linear-regression aggregate family (`regr_slope` / `regr_intercept` /
    * `regr_r2` / `regr_count` / `regr_avgx` / `regr_avgy`), q87's split
    * applied again: avgx/avgy/count are exact long ratios (output values);
    * slope/intercept/r2 are FP-order-dependent natives gated by contract
    * booleans against the decimal-exact trees. Slope needs no n-scaling:
    * `(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)` is the same for population and
    * sample moments (the n cancels). y = price cents regressed on x = qty;
    * this fixture generates them independently, so slope ≈ 0 and the
    * hybrid band's +1 term carries the comparison. */
  def regressionAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 0)
    val li = Tables.lineitem(s, dir).select(
      $"l_returnflag",
      cents($"l_extendedprice").as("pc"),
      $"l_quantity".cast("long").as("qty"))
    val g = li.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum($"pc".cast(d38)).as("sx"),
      sum($"qty").as("sy"),
      sum(($"pc" * $"pc").cast(d38)).as("sxx"),
      sum(($"pc" * $"qty").cast(d38)).as("sxy"),
      sum($"qty" * $"qty").as("syy"),
      regr_slope($"pc".cast(DoubleType), $"qty".cast(DoubleType)).as("sl_n"),
      regr_intercept($"pc".cast(DoubleType), $"qty".cast(DoubleType)).as("ic_n"),
      regr_r2($"pc".cast(DoubleType), $"qty".cast(DoubleType)).as("r2_n"),
      regr_count($"pc".cast(DoubleType), $"qty".cast(DoubleType)).as("regr_n"))
    val n38 = $"n".cast(d38)
    val numV = n38 * $"sxx" - $"sx" * $"sx"
    val numC = n38 * $"sxy" - $"sx" * $"sy".cast(d38)
    val numYl = $"n" * $"syy" - $"sy" * $"sy"
    val slope = numC.cast(DoubleType) / numYl.cast(DoubleType)
    val avgx = ratio($"sy", $"n")
    val avgy = ratio($"sx".cast("long"), $"n")
    val intercept = avgy - slope * avgx
    val r2 = (numC.cast(DoubleType) * numC.cast(DoubleType)) /
      (numV.cast(DoubleType) * numYl.cast(DoubleType))
    def ok(native: Column, portable: Column): Column =
      abs(native - portable) <= lit(1e-6) * (abs(portable) + lit(1.0))
    g.select(
      $"l_returnflag",
      $"regr_n".as("regr_count"),
      avgx.as("regr_avgx"),
      avgy.as("regr_avgy"),
      ok($"sl_n", slope).as("slope_ok"),
      ok($"ic_n", intercept).as("intercept_ok"),
      ok($"r2_n", r2).as("r2_ok"))
      .orderBy($"l_returnflag")
  }

  /** Two-level mergeable-sketch rollup: DataSketches HLL partials per
    * (returnflag, linestatus) leaf, `hll_union_agg` re-rolled to the
    * returnflag parent, estimate checked against the exact distinct within
    * HLL's contract — the q18 pattern, but through a MERGE. This is the
    * operator that makes 100 TB rollups incremental: per-partition /
    * per-day sketch partials persist, and any coarser grouping or late
    * partition re-aggregates by unioning kilobyte sketches instead of
    * rescanning rows (exact distinct counts cannot be merged at all —
    * that's the whole point of the sketch column). */
  def hllMergeRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val leafSketches = li
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(hll_sketch_agg($"l_partkey").as("sk"))
    val merged = leafSketches
      .groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    exact.join(broadcast(merged), "l_returnflag")
      .select(
        $"l_returnflag", $"exact_parts",
        (abs($"est" - $"exact_parts".cast("double"))
          <= lit(0.05) * $"exact_parts".cast("double")).as("merged_within_5pct"))
      .orderBy($"l_returnflag")
  }

  /** Bitmap-index distinct rollup — the EXACT-mergeable twin of q92's HLL
    * sketches: each (group, bitmap_bucket_number(key)) cell folds its keys
    * into a fixed 4 KB bitmap (`bitmap_construct_agg` of
    * `bitmap_bit_position`), per-group distinct = sum of per-bucket
    * `bitmap_count` (buckets partition the key domain, so the sum is
    * exact), and the all-groups total re-rolls the SAME partials with
    * `bitmap_or_agg` — which dedups keys shared across groups, exactly
    * where a sum of per-group distincts double-counts. This is how exact
    * distinct counts stay incremental at 100 TB when the key domain is
    * dense/bounded (user ids, SKUs): persist bitmap partials per
    * partition, merge kilobytes instead of rescanning rows; HLL (q18/q92)
    * remains the unbounded-domain fallback. Only 4 KB bitmaps shuffle —
    * never raw keys. Oracle = plain exact COUNT(DISTINCT) at both levels. */
  def bitmapDistinctRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perBucket = Tables.orders(s, dir)
      .select($"o_orderpriority".as("prio"), $"o_custkey",
        expr("bitmap_bucket_number(o_custkey)").as("bucket"))
      .groupBy($"prio", $"bucket")
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bm"))
    val perGroup = perBucket
      .groupBy($"prio")
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_cust"))
    val global = perBucket
      .groupBy($"bucket")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_cust"))
      .select(lit("ALL").as("prio"), $"n_distinct_cust")
    perGroup.unionByName(global).orderBy($"prio")
  }

  /** Heavy hitters via the DataSketches frequent-items sketch
    * (`approx_top_k`) — the mergeable one-pass answer to "what dominates
    * this column" that exact groupBy-count-sort cannot give at 100 TB
    * without a full shuffle of every distinct key. The sketch is EXACT
    * whenever the column's distinct count fits its tracking map (default
    * 10⁴); beyond that it degrades to a documented ±n/maxMap count error.
    * The declared query pins the exact regime (5 priorities) so the
    * DuckDB oracle can hash-check it end to end — the q18/q92 contract
    * pattern — and explodes + re-sorts by item because the sketch's own
    * array order breaks ties arbitrarily (observed: equal-count items
    * swap positions), which a hash-compared artifact must not depend on.
    * The exact side rides the same scan; a sketch regression (lost item
    * or drifted count) flips `sketch_exact` and the hash goes red. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val sk = orders
      .agg(expr("approx_top_k(o_orderpriority, 5)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item".as("o_orderpriority"), $"e.count".as("sketch_cnt"))
    orders.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("exact_cnt"))
      .join(sk, Seq("o_orderpriority"), "left")
      .select($"o_orderpriority", $"exact_cnt",
        coalesce($"sketch_cnt", lit(-1L)).as("sketch_cnt"),
        ($"sketch_cnt" === $"exact_cnt").as("sketch_exact"))
      .orderBy($"o_orderpriority")
  }

  /** mode() — most-frequent-value aggregate, gated the q87/q91 way. The
    * native `mode` picks an ARBITRARY value on frequency ties (both
    * engines document this), so the declared output is the exact argmax
    * with a deterministic tie-break (highest count, then smallest value —
    * one groupBy + one window over the tiny (flag, qty) count table), and
    * the native aggregate is asserted through `native_ok`: it must equal
    * the exact argmax whenever the max is UNIQUE, and is excused (gate
    * true) only on a detected tie. A native-mode regression on untied
    * groups turns the row red; tied groups can never flake the hash. The
    * count table is ≤ |flags|·|qty domain| rows, so the window input is
    * domain-bounded, not data-bounded — the q63 scale argument. */
  def modeAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_quantity".cast("long").as("qty"))
    val counts = li.groupBy($"l_returnflag", $"qty").agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy($"l_returnflag")
    val wRank = Window.partitionBy($"l_returnflag").orderBy($"cnt".desc, $"qty".asc)
    val ranked = counts
      .withColumn("maxc", max($"cnt").over(wAll))
      .withColumn("n_tied",
        sum(when($"cnt" === $"maxc", lit(1L)).otherwise(lit(0L))).over(wAll))
      .withColumn("rn", row_number().over(wRank))
    val exact = ranked.filter($"rn" === 1)
      .select($"l_returnflag", $"qty".as("mode_qty"), $"cnt".as("mode_cnt"),
        ($"n_tied" > 1).as("tied"))
    val native = li.groupBy($"l_returnflag").agg(mode($"qty").as("native_mode"))
    exact.join(broadcast(native), "l_returnflag")
      .select($"l_returnflag", $"mode_qty", $"mode_cnt", $"tied",
        ($"tied" || $"native_mode" === $"mode_qty").as("native_ok"))
      .orderBy($"l_returnflag")
  }

  /** Native listagg WITHIN GROUP (Spark 4) — the ANSI form of q16's
    * ordered string aggregation (q16 proves the semantics via
    * sort_array(collect_list(...)); this declares the native aggregate
    * with its mandated ORDER BY, which is what makes a string agg
    * deterministic under any shuffle order). DuckDB twin:
    * string_agg(... ORDER BY ...). s_name is unique per nation → the
    * within-group order is total and the result hash-stable. */
  def listaggAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, dir)
      .groupBy($"s_nationkey")
      .agg(
        expr("listagg(s_name, ',') within group (order by s_name)").as("names"),
        count(lit(1)).as("n_supp"))
      .orderBy($"s_nationkey")
  }

  /** NATIVE exact percentile / median — the third corner of the
    * percentile triangle: q63 derives quartiles from domain-bounded
    * counts, q73 bounds `approx_percentile` against exact ranks; this
    * declares Spark's exact `percentile` / `median` aggregates
    * themselves, hash-compared against DuckDB's `quantile_cont`.
    *
    * Why this is hash-exact across engines (normally FP interpolation
    * forbids that): at quarter percentiles the interpolated position
    * (n-1)·p has fraction ∈ {0, ¼, ½, ¾} for EVERY n, and the data are
    * integer cents — so lo, hi and the interpolation weights are all
    * exact dyadic rationals and both `lo+(hi-lo)·f` and `lo·(1-f)+hi·f`
    * evaluate exactly, whatever formula each engine uses. p90-style
    * percentiles have no such lattice (0.9 isn't dyadic) — those stay
    * q73's error-bound territory by design.
    *
    * Scale note: exact percentile is an ObjectHashAggregate holding a
    * value→count map per group — declared here over l_quantity cents
    * (domain-bounded, ≤50 distinct per group, so partials stay tiny and
    * map-side combine works). For unbounded domains at 100 TB, use q73's
    * sketch; that split is the point of declaring all three. */
  def percentileExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", cents($"l_quantity").as("qc"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        percentile($"qc", lit(0.25)).cast("double").as("p25"),
        percentile($"qc", lit(0.5)).cast("double").as("p50"),
        percentile($"qc", lit(0.75)).cast("double").as("p75"),
        median($"qc").cast("double").as("med"))
      .orderBy($"l_returnflag")
  }

  /** df.stat.crosstab as a DECLARED contingency table — the two-variable
    * census behind every "priority × status" dashboard tile. crosstab
    * pivots value-derived column names, so the declared projection pins
    * the known domain (F/O/P) explicitly — a domain drift fails loudly
    * in the ANALYZER, not silently in the data. Oracle = FILTER-counted
    * pivot. Plans as one hash agg + pivot over a 5×3 domain: partials
    * collapse to the cell domain per partition, nothing else shuffles. */
  def crosstabAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .stat.crosstab("o_orderpriority", "o_orderstatus")
      .select(
        $"o_orderpriority_o_orderstatus".as("prio"),
        $"F".cast("long").as("n_f"),
        $"O".cast("long").as("n_o"),
        $"P".cast("long").as("n_p"))
      .orderBy($"prio")
  }

  /** Robust outlier census via MAD (median absolute deviation) — the
    * robust-statistics alternative to q87's moment-based z-scores (one
    * wild row corrupts a mean/stddev; the median pair shrugs it off).
    * Three passes over integer cents: median per group (1-row-per-group
    * broadcast back), median of |x − med| (values stay on the ½-lattice,
    * so the interpolated medians are exact dyadics — q144's argument one
    * level deeper), then the census of rows beyond 3·MAD. Every compare
    * is between exact dyadic rationals: bit-identical cross-engine. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag", cents($"l_quantity").as("qc"))
    val meds = li.groupBy($"l_returnflag").agg(median($"qc").as("med"))
    val withAd = li.join(broadcast(meds), "l_returnflag")
      .withColumn("ad", abs($"qc" - $"med"))
    val stats = withAd.groupBy($"l_returnflag")
      .agg(min($"med").as("med"), median($"ad").as("mad"), count(lit(1)).as("n"))
    val outliers = withAd.join(broadcast(stats.select($"l_returnflag", $"mad")),
        "l_returnflag")
      .filter($"ad" > $"mad" * lit(3.0))
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n_outliers"))
    stats.join(outliers, Seq("l_returnflag"), "left")
      .select($"l_returnflag", $"n", $"med", $"mad",
        coalesce($"n_outliers", lit(0L)).as("n_outliers"))
      .orderBy($"l_returnflag")
  }

  /** WEIGHTED median (discrete, lower) — "the price at which half the
    * QUANTITY trades", not half the rows: the smallest value whose
    * doubled cumulative weight reaches the total. Discrete selection —
    * no interpolation, pure integer compares, no lattice argument
    * needed.
    *
    * Two-phase BUCKET-THEN-REFINE formulation: the naive per-group
    * cumulative window sorts the whole fact table into |groups|
    * partitions — 3 reducers at any cluster size (the first cut of this
    * query cost 10.8 s at the sf1 soak for exactly that reason, and at
    * 100 TB it simply collapses). Instead: (1) value-level weight
    * partials (a normal hash agg — map-side combine, full parallelism),
    * (2) a cumulative window over 100k-cent BUCKET subtotals (≤ ~100
    * rows per group) finds the bucket that contains the median and its
    * preceding cumulative weight, (3) only THAT bucket's value rows —
    * broadcast-pruned — take the exact in-bucket cumulative walk. Every
    * window input is domain-bounded (q63's argument); the fact table
    * never enters a window. Same answer, same oracle. */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byVal = Tables.lineitem(s, dir)
      .select($"l_returnflag", cents($"l_extendedprice").as("pc"),
        $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_returnflag", $"pc").agg(sum($"qty").as("w"))
    val byBucket = byVal
      .withColumn("b", expr("pc div 100000L"))
      .groupBy($"l_returnflag", $"b").agg(sum($"w").as("bw"))
    val wB = Window.partitionBy($"l_returnflag").orderBy($"b".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byBucket.groupBy($"l_returnflag").agg(sum($"bw").as("w_total"))
    val cumB = byBucket.withColumn("cum", sum($"bw").over(wB))
      .join(broadcast(tot), "l_returnflag")
    // the median bucket: first whose cumulative crosses half the weight
    // (renamed key columns, not qualified refs — the lineage is a
    // self-join of cumB and trips the ambiguity check otherwise)
    val target = cumB.filter($"cum" * 2L >= $"w_total")
      .groupBy($"l_returnflag").agg(min($"b").as("tb"))
      .select($"l_returnflag".as("tflag"), $"tb")
    val tinfo = cumB.join(broadcast(target),
        $"b" === $"tb" && $"l_returnflag" === $"tflag")
      .select($"l_returnflag", $"tb", ($"cum" - $"bw").as("cum_before"),
        $"w_total")
    val wV = Window.partitionBy($"l_returnflag").orderBy($"pc".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal.join(broadcast(tinfo), Seq("l_returnflag"))
      .filter(expr("pc div 100000L") === $"tb")
      .withColumn("cumv", sum($"w").over(wV) + $"cum_before")
      .filter($"cumv" * 2L >= $"w_total")
      .groupBy($"l_returnflag")
      .agg(min($"pc").as("w_median_cents"), min($"w_total").as("w_total"))
      .orderBy($"l_returnflag")
  }

  /** Bloom-filter build + probe CONTRACT — the primitive behind the
    * runtime row-level join pruning this suite plan-guards (q54's bloom
    * rule): build one bloom per segment over its customer keys, probe
    * every member key (false negatives are IMPOSSIBLE — the hard
    * contract) and a disjoint shifted key set (false positives are
    * allowed but must stay under the sizing bound). The q18 pattern: the
    * probabilistic side is asserted as booleans the ORACLE states as
    * constants, so a sizing regression or hash change that breaks the
    * contract fails the hash compare. Both the build and the probes are
    * one pass each; the blooms broadcast (KBs per segment). */
  def bloomFilterContract(s: SparkSession, dir: String): DataFrame = {
    // might_contain requires the bloom side to be a CONSTANT or scalar
    // subquery (the engine evaluates it once and embeds the bitmap), so
    // the build is a 1-row scalar subquery the probe references — the
    // same shape Spark's own InjectRuntimeFilter produces.
    Tables.customer(s, dir).createOrReplaceTempView("bloom_customer")
    s.sql(
      """WITH bf AS (
        |  SELECT graft_bloom_agg(xxhash64(c_custkey), 100000L, 800000L) AS b
        |  FROM bloom_customer)
        |SELECT c_mktsegment,
        |       count(*) AS n_members,
        |       CAST(sum(CASE WHEN NOT graft_bloom_might_contain(
        |                       (SELECT b FROM bf), xxhash64(c_custkey))
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_member_misses,
        |       (sum(CASE WHEN graft_bloom_might_contain(
        |                    (SELECT b FROM bf), xxhash64(c_custkey + 1000000000))
        |                 THEN 1 ELSE 0 END) * 20 <= count(*)) AS fp_ok
        |FROM bloom_customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** Count-min-sketch frequency CONTRACT — the point-frequency member of
    * the sketch family (HLL distinct q18/q92, bloom membership q168,
    * MinHash similarity q41): build ONE mergeable CMS over the full
    * lineitem supplier stream with Spark's native `count_min_sketch`
    * aggregate (partials merge associatively — per-partition/per-day
    * sketch columns re-roll by cell-wise adds, the q92 incrementality
    * story at 160 KB per sketch), then probe a bounded supplier panel
    * ([[graft.functions.CmsEstimate]] — the probe Spark never shipped)
    * and assert BOTH sides of the CMS guarantee as booleans the oracle
    * states: estimates never underestimate (structural — counters only
    * ever add), and stay within exact + ε·N (ε = 1/1000, width 2000,
    * depth 10 at confidence 0.999 ⇒ a false flag is a 10⁻³-class event
    * frozen by the fixed seed, i.e. a broken merge, not noise). The
    * ε-band compare is INTEGER (est·1000 ≤ exact·1000 + N) — nothing FP
    * crosses the hash compare. Panel is orderBy+limit (the q288/q193
    * contract) and LEFT-joined so a supplier with zero lineitems stays
    * (exact 0 — the estimate may still collide upward; the band is the
    * claim that bounds it). Scale: the build is one map-side-combinable
    * object agg over the fact stream; exact counts shuffle only the
    * panel's keys after a broadcast semi screen; the probe is 10 rows
    * against a broadcast 1-row sketch. */
  def cmsFrequencyContract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, dir).select($"l_suppkey")
    val sk = items.agg(
      call_function("count_min_sketch",
        $"l_suppkey", lit(0.001d), lit(0.999d), lit(42)).as("sk"),
      count(lit(1)).as("n_total"))
    val panel = Tables.supplier(s, dir)
      .orderBy($"s_suppkey".asc).limit(10)
      .select($"s_suppkey")
    // separate DataFrame for the semi screen (same limit) — referencing
    // `panel` twice across nested joins trips self-join ambiguity
    val screen = Tables.supplier(s, dir)
      .orderBy($"s_suppkey".asc).limit(10)
      .select($"s_suppkey".as("pk"))
    val cnts = items.join(broadcast(screen), $"l_suppkey" === $"pk", "left_semi")
      .groupBy($"l_suppkey").agg(count(lit(1)).as("cnt"))
    val exact = panel.join(cnts, $"s_suppkey" === $"l_suppkey", "left")
      .select($"s_suppkey", coalesce($"cnt", lit(0L)).as("exact_cnt"))
    val est =
      if (s.catalog.functionExists(graft.functions.GraftFunctions.cmsEstimateName))
        call_function(graft.functions.GraftFunctions.cmsEstimateName,
          $"sk", $"s_suppkey".cast("long"))
      else {
        // foreign-session fallback: same helper, scalar UDF wrapper (the
        // probe is 10 rows — never a hot path)
        val f = udf((b: Array[Byte], k: Long) =>
          graft.functions.CmsEstimateHelper.estimate(b, k))
        f($"sk", $"s_suppkey".cast("long"))
      }
    exact.crossJoin(broadcast(sk))
      .select($"s_suppkey", $"exact_cnt", $"n_total",
        (est >= $"exact_cnt").as("cms_no_underestimate"),
        (est * 1000L <= $"exact_cnt" * 1000L + $"n_total").as("cms_within_eps"))
      .orderBy($"s_suppkey")
  }

  /** CMS join-size CONTRACT — the inner-product member of the sketch
    * family, and the cardinality-estimation primitive behind join
    * planning at scale: estimate |A ⋈_k B| from two count-min sketches
    * as min_d Σ_w A[d][w]·B[d][w] (AMS/CM inner product), never scanning
    * A and B together. Here A = 1996 shipments, B = 1997 shipments keyed
    * by supplier — "how large is the year-over-year self-join" is
    * exactly the question a cost-based planner asks before choosing a
    * strategy. The 100 TB shape: BOTH sketches build in the SAME single
    * pass over the pruned fact scan (two when()-filtered mergeable
    * object aggs — `count_min_sketch` skips nulls, spec-pinned), each
    * 160 KB regardless of data; the exact ground truth needs the full
    * keyed shuffle the sketch exists to avoid, affordable here precisely
    * because the fixture is small and the oracle must recompute it. Both
    * CM guarantees are asserted as booleans the oracle states (q292/q18
    * pattern): no-underestimate is structural (every true join pair
    * collides into the same cell of every row), and the ε-band
    * est ≤ exact + ε·N_A·N_B holds with δ = 10⁻³ frozen by the fixed
    * seed. All arithmetic that crosses the hash compare is exact
    * decimal(38,0): Σ ca·cb and N_A·N_B pass 2⁶³ at 100 TB (the
    * q197/q203 promotion), and [[graft.functions.CmsInnerProduct]]
    * itself folds cell products in BigInteger for the same reason. */
  def cmsJoinSizeContract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = DecimalType(38, 0)
    val t = Tables.lineitem(s, dir)
      .select($"l_suppkey", year($"l_shipdate").as("yr"))
      .filter($"yr" === 1996 || $"yr" === 1997)
    // one pass, two filtered sketch builds + both stream counts
    val sk = t.agg(
      call_function("count_min_sketch",
        when($"yr" === 1996, $"l_suppkey"),
        lit(0.001d), lit(0.999d), lit(42)).as("sk_a"),
      call_function("count_min_sketch",
        when($"yr" === 1997, $"l_suppkey"),
        lit(0.001d), lit(0.999d), lit(42)).as("sk_b"),
      sum(when($"yr" === 1996, 1L).otherwise(0L)).as("n_a"),
      sum(when($"yr" === 1997, 1L).otherwise(0L)).as("n_b"))
    // exact |A ⋈ B| — the one keyed shuffle, which is the oracle's
    // ground truth, not part of the estimator
    val exact = t.groupBy($"l_suppkey")
      .agg(sum(when($"yr" === 1996, 1L).otherwise(0L)).as("ca"),
        sum(when($"yr" === 1997, 1L).otherwise(0L)).as("cb"))
      .agg(coalesce(sum(($"ca" * $"cb").cast(dec)), lit(0).cast(dec))
        .as("n_pairs_exact"))
    val est =
      if (s.catalog.functionExists(graft.functions.GraftFunctions.cmsInnerProductName))
        call_function(graft.functions.GraftFunctions.cmsInnerProductName,
          $"sk_a", $"sk_b")
      else {
        // foreign-session fallback: same helper, scalar UDF wrapper (one
        // row — never a hot path)
        val f = udf((a: Array[Byte], b: Array[Byte]) =>
          graft.functions.CmsInnerProductHelper.inner(a, b).toJavaBigDecimal)
        f($"sk_a", $"sk_b").cast(dec)
      }
    // OUTPUT typing: the exact pair count leaves the query as BIGINT —
    // exact to 9.2×10¹⁸ pairs, far past the 100 TB envelope (two ~2⁴⁰-row
    // streams meeting on a key would need ~2⁴⁰ rows PER KEY on both sides
    // to overflow); beyond that, render as VARCHAR on both engines. The
    // internal fold stays decimal(38,0)/BigInteger — only the output
    // column narrows, per the repo portability rule (raw DECIMAL output
    // columns hash-diverge at the driver).
    sk.crossJoin(exact)
      .select($"n_a", $"n_b", $"n_pairs_exact".cast("long").as("n_pairs_exact"),
        (est >= $"n_pairs_exact").as("cms_no_underestimate"),
        (est * lit(1000).cast(dec) <=
          $"n_pairs_exact" * lit(1000).cast(dec) +
            $"n_a".cast(dec) * $"n_b".cast(dec)).as("cms_within_eps"))
  }

  /** EXACT quantile selection over an UNBOUNDED domain — the third member
    * of the percentile family and the one that works at 100 TB: q144 is
    * exact but only over domain-bounded columns (≤50 distinct values per
    * group keep its counts-map buffer tiny), q73 is the sketch; this is
    * exact selection over l_extendedprice cents (millions of distinct
    * values) WITHOUT the global sort that exact order statistics naively
    * require. Classic distributed selection by counting: 3 rounds of
    * 10-bit dyadic narrowing over the 2³⁰-bounded cents domain — each
    * round is ONE map-side-combinable conditional census (≤1024 buckets ×
    * ≤3 live prefixes), collected as a BOUNDED decision gate (the
    * Sources WAP-audit class: census size is DOMAIN-bound, 1024 rows,
    * independent of data volume) and narrowed driver-side. Total cost:
    * 3 column scans + 3 tiny aggregates — no shuffle ever carries more
    * than the census; a global sort at 100 TB shuffles EVERY row. The
    * round-2/3 screens are contiguous [lo, hi) ranges on the cents
    * column (sargable — at 100 TB they prune row groups once cents is a
    * stored column). Rank rule: value_p = min v with 100·#{x ≤ v} ≥ p·n
    * (discrete lower quantile, q144's convention) — the compare stays in
    * BIGINT (100·n < 2⁶³ to ~10¹⁶ rows). The 2³⁰ domain precondition is
    * asserted on the round-1 census (a violated bound fails loudly, not
    * silently wrong). */
  def exactQuantileSelection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ps = Seq(50, 90, 99)
    val t = Tables.lineitem(s, dir)
      .select(cents($"l_extendedprice").as("v"))
    // round 1: 10-bit census over v >> 20
    val c1 = t.groupBy(shiftright($"v", 20).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(c1.nonEmpty, "empty input: quantiles undefined")
    require(c1.head._1 >= 0L && c1.last._1 <= 1023L,
      s"cents domain exceeds 2^30 (top bucket ${c1.last._1}) — " +
        "the 3x10-bit narrowing precondition is violated")
    val n = c1.map(_._2).sum
    // walk a sorted census with `below` already-counted mass, return the
    // bucket where the rank target crosses and the mass strictly below it
    def pick(census: Seq[(Long, Long)], below: Long, p: Int): (Long, Long) = {
      var cum = below
      census.foreach { case (b, c) =>
        if ((cum + c) * 100L >= p.toLong * n) return (b, cum)
        cum += c
      }
      // unreachable: the parent bucket was chosen because the rank target
      // crosses inside it, so its children must cross too
      throw new IllegalStateException(
        s"rank target p=$p did not cross inside the selected bucket — " +
          "narrowing invariant broken")
    }
    val r1 = ps.map(p => p -> pick(c1.toSeq, 0L, p)).toMap
    // round 2: 10-bit census over v >> 10, screened to the ≤3 live
    // 10-bit prefixes as contiguous cents ranges
    val live1 = r1.values.map(_._1).toSeq.distinct.sorted
    val c2 = t.filter(live1.map(b =>
        $"v" >= b * 1048576L && $"v" < (b + 1L) * 1048576L)
        .reduce(_ || _))
      .groupBy(shiftright($"v", 10).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val r2 = ps.map { p =>
      val (b1, below) = r1(p)
      p -> pick(c2.filter(_._1 >> 10 == b1).toSeq, below, p)
    }.toMap
    // round 3: exact values within the ≤3 live 20-bit prefixes
    val live2 = r2.values.map(_._1).toSeq.distinct.sorted
    val c3 = t.filter(live2.map(b =>
        $"v" >= b * 1024L && $"v" < (b + 1L) * 1024L)
        .reduce(_ || _))
      .groupBy($"v").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val r3 = ps.map { p =>
      val (b2, below) = r2(p)
      p -> pick(c3.filter(_._1 >> 10 == b2).toSeq, below, p)._1
    }.toMap
    Seq((n, r3(50), r3(90), r3(99)))
      .toDF("n_lines", "p50_cents", "p90_cents", "p99_cents")
  }

  /** Log₂ bucket width of [[quantileSketchRollup]]'s histogram sketch:
    * 2¹⁶ cents per bucket over the 2³⁰ cents domain → ≤16 384 cells,
    * ~128 KB dense — the sketch ships, the rows don't. */
  private val QsBucketBits = 16

  /** Mergeable quantile-sketch ROLLUP — the percentile analogue of q92's
    * two-level HLL union (q73 bounds a single-level GK sketch; q309 is
    * exact selection; this is the MERGE story): leaf sketches per
    * returnflag are re-rolled to a global parent by CELL-WISE ADDITION,
    * and percentiles are read off both levels. The sketch is a
    * fixed-resolution dyadic histogram over the 2³⁰-bounded cents domain
    * (the q309 narrowing's mergeable cousin): (bucket = v >> 16) → count.
    * Addition is associative and commutative, so leaf→parent union is
    * EXACT — re-rolling per-day/per-partition sketch partials to any
    * coarser grouping merges ~128 KB cell maps instead of rescanning
    * rows, which is what makes 100 TB percentile rollups incremental
    * (KLL/GK is the unbounded-domain alternative; on a bounded integer
    * domain the histogram is simpler AND loses nothing). Both rollup
    * levels consume the SAME leaf census — one partial-agg exchange,
    * ReusedExchange plan-guarded like q97's bitmap rollup.
    *
    * Contract (q73's rank-error class, certified not assumed): the
    * sketch answers value_p = (min bucket b with 100·cum ≥ p·n) << 16 —
    * the q309 rank rule on bucketed mass — and the EXACT percentiles
    * (computed from a per-value census, the certification side a 100 TB
    * run would skip) must land INSIDE each estimate's bucket:
    * est ≤ exact < est + 2¹⁶, asserted per scope over p50/p90/p99 as one
    * boolean the oracle states TRUE. `domain_ok` asserts the 2³⁰ cents
    * precondition the same way (a violated bound is a red row, never
    * silently wrong). All arithmetic is integer; rank compares stay in
    * BIGINT to ~10¹⁶ rows. */
  def quantileSketchRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ps = Seq(50, 90, 99)
    val bw = 1L << QsBucketBits
    val v = Tables.lineitem(s, dir)
      .select($"l_returnflag".as("rf"), cents($"l_extendedprice").as("pc"))
    // THE sketch: per-leaf (bucket, count) cells — mergeable by addition.
    // PINNED (hash-on-b): the leaf census feeds BOTH rollup levels — a
    // lazy plan would rescan lineitem per reference (measured: 14 scans
    // unpinned across this query's shared frames) — and the b-pin lands
    // the parent merge exchange-free. The pin is ≤16 384 cells/leaf —
    // the sketch IS the thing that ships, that's the operator's point.
    val leaf = Pinned.partitionedCheckpoint(
      v.groupBy($"rf", shiftright($"pc", QsBucketBits).as("b"))
        .agg(count(lit(1)).as("c")),
      $"b")
    // parent rollup: cell-wise union of the leaf sketches (consumes the
    // pinned cells — the merge never touches rows), then both levels
    // union into ONE (scope, b, c) census so every window below carries
    // a REAL partition key (scopes 'A'/'N'/'R'/'*' — never the
    // no-partition WindowExec the sweep hunts)
    val parent = leaf.groupBy($"b").agg(sum($"c").as("c"))
    val sketchCensus = leaf.select($"rf".as("scope"), $"b", $"c")
      .unionByName(parent.select(lit("*").as("scope"), $"b", $"c"))
    // percentile reads ride the DOMAIN-bounded cell table (≤16 384
    // rows/scope), never the data
    val wCum = Window.partitionBy($"scope").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"scope")
    def selB(p: Int) = min(when($"cum" * 100L >= $"n" * p, $"b")) * bw
    val est = sketchCensus
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(wAll))
      .groupBy($"scope").agg(
        max($"n").as("n_rows"),
        (min($"b") >= 0L && max($"b") < (1L << (30 - QsBucketBits)))
          .as("domain_ok"),
        selB(50).as("p50_sketch_cents"),
        selB(90).as("p90_sketch_cents"),
        selB(99).as("p99_sketch_cents"))
    // certification side (the pass a 100 TB run would skip): exact
    // per-value censuses, two levels sharing one exchange like the
    // sketch. The global cum is DECOMPOSED per bucket — rank within
    // bucket (windows keyed on (scope, b): parallel at any value
    // cardinality) + broadcast bucket-prefix offsets from the bounded
    // bucket table — so no window ever rides an unbounded census (the
    // TwoPass offsets idea with the sketch's own buckets as the
    // deterministic cuts).
    val exLeaf = Pinned.partitionedCheckpoint(
      v.groupBy($"rf", $"pc").agg(count(lit(1)).as("c")), $"pc")
    val exParent = exLeaf.groupBy($"pc").agg(sum($"c").as("c"))
    // pinned on (scope, b): consumed three times (bucket offsets, totals,
    // the within-bucket rank window) and the pin partitioning matches the
    // window/offset keys
    val exCensus = Pinned.partitionedCheckpoint(
      exLeaf.select($"rf".as("scope"), $"pc", $"c")
        .unionByName(exParent.select(lit("*").as("scope"), $"pc", $"c"))
        .withColumn("b", shiftright($"pc", QsBucketBits)),
      $"scope", $"b")
    val bucketMass = exCensus.groupBy($"scope", $"b").agg(sum($"c").as("bc"))
    val wOff = Window.partitionBy($"scope").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketMass
      .withColumn("off", coalesce(sum($"bc").over(wOff), lit(0L)))
      .select($"scope", $"b", $"off")
    val totals = exCensus.groupBy($"scope").agg(sum($"c").as("n"))
    val wIn = Window.partitionBy($"scope", $"b").orderBy($"pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def selV(p: Int) = min(when($"cum" * 100L >= $"n" * p, $"pc"))
    val ex = exCensus
      .withColumn("icum", sum($"c").over(wIn))
      .join(broadcast(offs), Seq("scope", "b"))
      .join(broadcast(totals), "scope")
      .withColumn("cum", $"off" + $"icum")
      .groupBy($"scope").agg(
        selV(50).as("p50_exact"), selV(90).as("p90_exact"),
        selV(99).as("p99_exact"))
    val inBucket = ps.map { p =>
      col(s"p${p}_sketch_cents") <= col(s"p${p}_exact") &&
        col(s"p${p}_exact") < col(s"p${p}_sketch_cents") + bw
    }.reduce(_ && _)
    est.join(ex, "scope")
      .select($"scope", $"n_rows", $"domain_ok",
        $"p50_sketch_cents", $"p90_sketch_cents", $"p99_sketch_cents",
        $"p50_exact", $"p90_exact", $"p99_exact",
        inBucket.as("sketch_rank_ok"))
      .orderBy($"scope")
  }

  /** KMV (θ-sketch) set-operation census — the SET-OPS member of the
    * sketch family, estimating what HLL structurally cannot: the DISTINCT
    * INTERSECTION of two key sets (Bar-Yossef et al. 2002 "Counting
    * distinct elements in a data stream"; the k-minimum-values /
    * Datasketches-theta construction). Per side, the sketch is the k=256
    * smallest DISTINCT 40-bit portable digests (the TextOps md5-prefix
    * hash both engines reproduce); union merges by re-taking the k
    * smallest of the union (mergeable, associative); θ = the union
    * sketch's largest retained hash, and every retained hash stands for
    * 2⁴⁰/θ distinct keys — so |A∩B| ≈ n_match·2⁴⁰/θ where n_match counts
    * hashes the two k-sets share below θ. Everything up to the final
    * single IEEE divide is exact integer arithmetic on deterministic
    * digests, so the whole census (θ, match counts, estimate) is
    * recomputed identically by the oracle — no contract flags needed.
    * Scale: each side is a column-pruned distinct (map-side partial
    * dedup — the shuffle carries 8-byte DISTINCT digests, never rows)
    * followed by TakeOrdered k; the k-sets are broadcast-sized (≤256
    * rows) and every downstream op is on them. The exact ground truth
    * (one keyed agg over both years) rides along as the oracle-checkable
    * truth the estimate is judged against — at 100 TB you would ship
    * ONLY the two k-sets. */
  def kmvIntersectionCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 256
    val twoPow40 = 1099511627776L
    val t = Tables.lineitem(s, dir)
      .select($"l_partkey", year($"l_shipdate").as("yr"))
      .filter($"yr" === 1996 || $"yr" === 1997)
    def digest(c: Column): Column =
      conv(substring(md5(concat(lit("kmv:"), c.cast("string"))), 1, 10),
        16, 10).cast("long")
    def kmin(yr: Int): DataFrame =
      t.filter($"yr" === yr).select(digest($"l_partkey").as("h"))
        .distinct().orderBy($"h".asc).limit(k)
    val ka = kmin(1996)
    val kb = kmin(1997)
    val theta = ka.unionByName(kb).distinct()
      .orderBy($"h".asc).limit(k)
      .agg(max($"h").as("theta"))
    // matches below θ: rebuild the k-sets (self-join ambiguity — the
    // q292 screen/panel precedent) and keep shared hashes ≤ θ
    val nMatch = kmin(1996).withColumnRenamed("h", "h_a")
      .join(kmin(1997).withColumnRenamed("h", "h_b"),
        $"h_a" === $"h_b")
      .crossJoin(broadcast(
        kmin(1996).unionByName(kmin(1997)).distinct()
          .orderBy($"h".asc).limit(k).agg(max($"h").as("th2"))))
      .filter($"h_a" <= $"th2")
      .agg(count(lit(1)).as("n_match"))
    val exact = t.groupBy($"l_partkey")
      .agg(max(when($"yr" === 1996, 1).otherwise(0)).as("in_a"),
        max(when($"yr" === 1997, 1).otherwise(0)).as("in_b"))
      .agg(sum($"in_a").cast("long").as("n_a_distinct"),
        sum($"in_b").cast("long").as("n_b_distinct"),
        sum($"in_a" * $"in_b").cast("long").as("n_intersect_exact"))
    exact.crossJoin(broadcast(theta)).crossJoin(broadcast(nMatch))
      .select($"n_a_distinct", $"n_b_distinct", $"n_intersect_exact",
        $"theta", $"n_match",
        ratio($"n_match" * lit(twoPow40), $"theta").as("est_intersect"))
  }

  /** Pareto frontier (2-D skyline) — customers no other customer beats on
    * BOTH spend and order count: the multi-objective "best" query
    * recommendation and procurement analytics ask. The naive form is the
    * quadratic NOT EXISTS dominance anti-join; the declared form is the
    * LINEAR windowed formulation over the pre-aggregated points: sort by
    * spend, a point survives iff its count beats every strictly-richer
    * point's running max (frame excludes spend ties) and it holds its
    * spend-tie group's max. A single global RANGE window would plan
    * `Exchange SinglePartition` (one task scans every customer; round-9
    * plan audit), so the running max is the TwoPass shape applied to
    * MAX: range-repartition on (spend desc), pin the sampled cuts, take
    * each partition's strictly-richer local max (a pid-keyed RANGE
    * window — equal spend always co-locates, because RangePartitioner
    * places by key value, so "preceding partitions" are strictly
    * richer), and fold in the broadcast prefix-max of preceding
    * partitions. The tie-group max is a (pid, spend) window — co-located
    * for the same reason. Integer cents order keeps the strict-dominance
    * RANGE offset exact. */
  def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum(cents($"o_totalprice")).as("spend_cents"))
    val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = Pinned.pin(pts
      .repartitionByRange(nParts, $"spend_cents".desc)
      .sortWithinPartitions($"spend_cents".desc)
      .withColumn("pid", spark_partition_id()))
    // prefix max over preceding (strictly richer) partitions: a window
    // over the ≤ numParts-row per-pid max table, then broadcast back.
    val offDf = parts.groupBy($"pid").agg(max($"n_orders").as("pmax"))
      .withColumn("pre_max", max($"pmax").over(
        Window.orderBy($"pid".asc).rowsBetween(Window.unboundedPreceding, -1)))
      .select($"pid", $"pre_max")
    val wGt = Window.partitionBy($"pid").orderBy($"spend_cents".desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy($"pid", $"spend_cents")
    parts
      .withColumn("local_richer", max($"n_orders").over(wGt))
      .withColumn("best_tie", max($"n_orders").over(wEq))
      .join(broadcast(offDf), "pid")
      // greatest() skips NULLs: NULL only when BOTH sides are empty
      // (first tie-group of the first non-empty partition) — exactly the
      // single-window best_richer NULL contract.
      .withColumn("best_richer", greatest($"local_richer", $"pre_max"))
      .filter(($"best_richer".isNull || $"n_orders" > $"best_richer") &&
        $"n_orders" === $"best_tie")
      .select($"o_custkey", $"n_orders", $"spend_cents")
      .orderBy($"spend_cents".desc, $"o_custkey".asc)
  }

  /** Sliding 7-day distinct users via sketch UNION — the time-windowed
    * form of q92's rollup merge, and the only way "rolling 28-day MAU"
    * survives 100 TB: one HLL partial per DAY (persistable, incremental),
    * each day fanned to the ≤7 window starts it serves (bounded explode —
    * 7 rows of KB sketches per day, never row data), window estimate =
    * union of its days' sketches. The exact sliding distinct is computed
    * alongside (via the same day→window fan-out over (day, user) pairs)
    * as the gate: the declared output asserts the estimate within HLL's
    * 5 % contract, which the oracle states as TRUE (q18 pattern). */
  def slidingDistinctHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(to_date($"ts").as("day"), $"user_id")
    val fan = explode(sequence(lit(0), lit(6))).as("off")
    val daySketches = ev.groupBy($"day").agg(hll_sketch_agg($"user_id").as("sk"))
    val est = daySketches.select($"day", $"sk", fan)
      .withColumn("win_start", date_add($"day", $"off" - lit(6)))
      .select($"win_start", $"sk")
      .groupBy($"win_start")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
    val exact = ev.distinct().select($"day", $"user_id", fan)
      .withColumn("win_start", date_add($"day", $"off" - lit(6)))
      .select($"win_start", $"user_id")
      .groupBy($"win_start")
      .agg(countDistinct($"user_id").as("exact_users"))
    exact.join(est, "win_start")
      .select($"win_start", $"exact_users",
        (abs($"est" - $"exact_users".cast("double"))
          <= lit(0.05) * $"exact_users".cast("double")).as("est_ok"))
      .orderBy($"win_start")
  }

  /** Equal-DEPTH bucketing (quartile-bin census) — the discretization
    * step feature pipelines run before one-hot/WoE encoding: per-group
    * exact quartiles (q144's quarter-lattice broadcast) become bucket
    * edges, every row lands in its bin with closed-left comparisons, and
    * the census proves the depths are actually equal (±1 interpolation
    * row). One percentile agg + one broadcast + one count agg — the fact
    * table is scanned twice and never windowed. */
  def equiDepthBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag", cents($"l_quantity").as("qc"))
    val edges = li.groupBy($"l_returnflag").agg(
      percentile($"qc", lit(0.25)).as("p25"),
      percentile($"qc", lit(0.5)).as("p50"),
      percentile($"qc", lit(0.75)).as("p75"))
    li.join(broadcast(edges), "l_returnflag")
      .withColumn("bin",
        when($"qc" <= $"p25", 1)
          .when($"qc" <= $"p50", 2)
          .when($"qc" <= $"p75", 3)
          .otherwise(4))
      .groupBy($"l_returnflag", $"bin")
      .agg(count(lit(1)).as("n"), min($"qc").as("lo"), max($"qc").as("hi"))
      .orderBy($"l_returnflag", $"bin")
  }

  /** Min-max normalization — scale integer cents into [0, 1] per group:
    * broadcast the exact per-group extent, one IEEE divide per row over
    * exact-integer numerator/denominator (the q1 ratio contract, so the
    * doubles are bit-identical cross-engine). Declared as the per-group
    * census of the scaled column's exact mean — aggregating the scaled
    * DOUBLES would be order-dependent, so the mean is computed in
    * integer space and scaled once at the end (the portability rule
    * applied to normalization). */
  def minMaxNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag", cents($"l_extendedprice").as("pc"))
    val ext = li.groupBy($"l_returnflag")
      .agg(min($"pc").as("lo"), max($"pc").as("hi"),
        sum($"pc").as("s"), count(lit(1)).as("n"))
    ext.select($"l_returnflag", $"lo", $"hi",
        ratio($"s" - $"n" * $"lo", ($"hi" - $"lo") * $"n").as("scaled_mean"))
      .orderBy($"l_returnflag")
  }

  /** MULTI-MEASURE pivot — q58 pivots one aggregate; real reports pivot
    * several (count AND exact-cents sum per pivoted status), which Spark
    * emits as `<value>_<agg>` suffixed columns: the declared projection
    * pins that naming contract, aliased to stable names. Explicit pivot
    * values as always (no distinct-scan planning pass at 100 TB). Oracle
    * = FILTER-counted twin per (value × measure) cell. */
  def multiMeasurePivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_orderpriority", $"o_orderstatus", cents($"o_totalprice").as("pc"))
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), sum($"pc").as("cents"))
      .select($"o_orderpriority",
        coalesce($"F_n", lit(0L)).as("F_n"),
        coalesce($"F_cents", lit(0L)).as("F_cents"),
        coalesce($"O_n", lit(0L)).as("O_n"),
        coalesce($"O_cents", lit(0L)).as("O_cents"),
        coalesce($"P_n", lit(0L)).as("P_n"),
        coalesce($"P_cents", lit(0L)).as("P_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Nested struct-array higher-order surface — build a per-customer
    * array of (order, cents) STRUCTS and drive the lambda family through
    * it (filter on a struct field, transform projecting a field,
    * aggregate over a field), landing on SCALAR outputs only: lists of
    * structs hash differently across engines' writers, scalars don't
    * (the q149 lesson). The collect_list is bounded by orders-per-
    * customer — a natural per-entity cap, same contract as q113's
    * mapGroups. */
  def nestedStructHof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", cents($"o_totalprice").as("pc"))
      .groupBy($"o_custkey")
      .agg(sort_array(collect_list(struct($"o_orderkey", $"pc"))).as("arr"))
      .select($"o_custkey",
        size($"arr").as("n_orders"),
        size(filter($"arr", x => x.getField("pc") > 20000000L)).as("n_big"),
        aggregate(transform($"arr", x => x.getField("pc")), lit(0L),
          (acc, x) => acc + x).as("total_cents"),
        element_at(transform($"arr", x => x.getField("o_orderkey")), 1)
          .as("first_order"))
      .orderBy($"o_custkey")
  }

  /** Pairwise Pearson correlation census across the lineitem measures
    * (quantity, price cents, discount basis points) per return flag — the
    * feature-drift / collinearity dashboard every training pipeline keeps.
    * Spark ships `corr()`, but its double accumulation is shuffle-order
    * dependent (bits differ run to run at high parallelism), so the
    * declared form follows the q91 contract instead: EXACT integer moment
    * sums (decimal(38,0) — products fit 38 digits up to ~10¹¹-row groups
    * at cents scale), then one identical IEEE op tree per output row:
    * corr = (n·Sxy − SxSy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)). One hash
    * agg over the fact (partials collapse to 10 numbers per group), a
    * 3-row stack per group — dim-sized output at any scale. */
  def corrCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val d38 = DecimalType(38, 0)
    val li = Tables.lineitem(s, dir).select(
      $"l_returnflag",
      $"l_quantity".cast("long").as("q"),
      cents($"l_extendedprice").as("p"),
      floor($"l_discount" * lit(10000.0) + lit(0.5)).cast("long").as("d"))
    val g = li.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum($"q").as("sq0"), sum($"p".cast(d38)).as("sp"), sum($"d").as("sd0"),
      sum(($"q" * $"q").cast(d38)).as("sqq"),
      sum(($"p" * $"p").cast(d38)).as("spp"),
      sum(($"d" * $"d").cast(d38)).as("sdd"),
      sum(($"q" * $"p").cast(d38)).as("sqp"),
      sum(($"q" * $"d").cast(d38)).as("sqd"),
      sum(($"p" * $"d").cast(d38)).as("spd"))
    val n38 = $"n".cast(d38)
    def corrOf(sxy: Column, sx: Column, sy: Column,
               sxx: Column, syy: Column): Column =
      (n38 * sxy - sx * sy).cast(DoubleType) /
        (sqrt((n38 * sxx - sx * sx).cast(DoubleType)) *
          sqrt((n38 * syy - sy * sy).cast(DoubleType)))
    g.select($"l_returnflag", $"n",
        corrOf($"sqp", $"sq0".cast(d38), $"sp", $"sqq", $"spp").as("c_qty_price"),
        corrOf($"sqd", $"sq0".cast(d38), $"sd0".cast(d38), $"sqq", $"sdd").as("c_qty_disc"),
        corrOf($"spd", $"sp", $"sd0".cast(d38), $"spp", $"sdd").as("c_price_disc"))
      .selectExpr("l_returnflag", "n",
        "stack(3, 'qty_price', c_qty_price, 'qty_disc', c_qty_disc, " +
          "'price_disc', c_price_disc) AS (pair, corr)")
      .orderBy($"l_returnflag", $"pair")
  }

  /** Key-skew census — the shuffle-planning diagnostic behind every
    * salting decision in this library (q59/q60 salt, AQE skew-join
    * splits): per join key, bucket the key's row count by its binary
    * MAGNITUDE (bucket = ⌊log₂ cnt⌋) and report keys/rows per bucket.
    * The log₂ is computed as `length(bin(cnt)) − 1` — pure integer/string
    * ops, because IEEE `log(2^k)/log(2)` lands a hair under k and floors
    * to k−1 on exact powers, flipping bucket boundaries between engines.
    * Two keys censused side by side: l_orderkey (small bounded fan-out —
    * healthy) vs l_suppkey (hundreds of rows per key — the profile that
    * says "salt this or let AQE split it"). Per-key agg + a ≤64-row
    * bucket fold: the profile of a 100 TB shuffle costs one map-side
    * combine pass. */
  def skewCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def census(df: DataFrame, keyCol: String): DataFrame = df
      .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", (length(bin($"cnt")) - 1).cast("int"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"))
      .select(lit(keyCol).as("key_col"), $"bucket", $"n_keys", $"n_rows")
    val li = Tables.lineitem(s, dir)
    census(li, "l_orderkey").unionAll(census(li, "l_suppkey"))
      .orderBy($"key_col", $"bucket")
  }

  /** log10(1 + 1/d) for d = 1..9, as the double literals shared verbatim
    * with the q201 oracle SQL. */
  private val BenfordShares: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** Benford first-digit audit — the forensic-accounting screen for
    * fabricated or truncated numeric data: the first significant digit of
    * naturally occurring amounts follows log10(1 + 1/d), and a ledger that
    * deviates hard is worth a look. Amounts are first made exact (the q1
    * cents contract), the leading digit is string-extraction (no float
    * log10, whose edge behavior at exact powers differs per libm), and
    * the digit census is a 9-row map-side aggregate at any scale. The
    * expected Benford shares are DOUBLE LITERALS repeated verbatim in the
    * oracle — both engines parse the same decimal string to the same
    * IEEE double, so observed − expected is bit-deterministic. Rows whose
    * leading "digit" falls outside 1..9 (amounts < 0.005 cents→0, or
    * negative amounts whose string starts with '-') are excluded before
    * the share base — o_totalprice never produces them, but the audit is
    * reusable on any amount column without a 1-based element_at abort.
    * The only shuffle is the 9-group partial-agg collapse. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Scala double literals (not SQL-text decimals): a bare 0.30102… in
    // either engine's SQL parses as DECIMAL and the decimal→double
    // promotion paths diverge in the last bit. lit(Double) on this side
    // and CAST(… AS DOUBLE) in the oracle both take the
    // nearest-double-of-the-decimal-string route — bitwise identical.
    val expected = array(BenfordShares.map(lit): _*)
    Tables.orders(s, dir)
      .select(substring(cents($"o_totalprice").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .filter($"digit".between(1, 9))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over(Window.partitionBy(lit(1))))
      .select($"digit", $"n",
        ratio($"n", $"total").as("share"),
        (ratio($"n", $"total") - element_at(expected, $"digit"))
          .as("dev_from_benford"))
      .orderBy($"digit")
  }

  /** Winsorized robust stats — clip each order's price to its priority
    * class's exact [p01, p99] band before averaging, the standard
    * outlier-robust KPI. The percentile edges are ORDER STATISTICS, not
    * interpolated quantiles: the value at row ⌈q·n⌉ of the class's sort —
    * exactly replicable in any engine (interpolated `percentile`
    * definitions differ between Spark and DuckDB; rank positions do not).
    * Mechanics: a TwoPass GROUPED rank produces row_number + count per
    * class — a plain `partitionBy(prio)` window would collapse the whole
    * orders table onto |priorities| = 5 sort tasks at any cluster size,
    * so the sort is instead range-partitioned on (prio, pc) with
    * broadcast per-partition offsets (parallelism O(cluster), not
    * O(|classes|)); the two edge rows collapse to a ≤|classes|-row
    * broadcast, and the clip + integer re-aggregation is one
    * map-side-combined agg. */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderpriority".as("prio"), cents($"o_totalprice").as("pc"))
    val ranked = TwoPass.groupedRankWithCount(o, Seq("prio"), "rn", "n",
      $"pc".asc)
    // order statistics at ceil(0.01*n) and ceil(0.99*n): integer-exact
    val edges = ranked
      .filter($"rn" === ceil($"n" * lit(0.01)).cast("long") ||
              $"rn" === ceil($"n" * lit(0.99)).cast("long"))
      .groupBy($"prio".as("e_prio"))
      .agg(min($"pc").as("lo"), max($"pc").as("hi"))
    o.join(broadcast(edges), $"prio" === $"e_prio")
      .select($"prio",
        greatest(least($"pc", $"hi"), $"lo").as("clipped"),
        ($"pc" < $"lo" || $"pc" > $"hi").cast("long").as("was_clipped"))
      .groupBy($"prio")
      .agg(count(lit(1)).as("n_orders"),
        sum($"clipped").as("wsum_cents"),
        sum($"was_clipped").as("n_clipped"))
      .select($"prio", $"n_orders", $"wsum_cents", $"n_clipped",
        ratio($"wsum_cents", $"n_orders").as("winsor_mean_cents"))
      .orderBy($"prio")
  }

  /** Decile lift / gains table — the model-eval report scored here on
    * customer lifetime spend: rank customers by exact integer spend,
    * NTILE(10) them, and report each decile's share and cumulative share
    * of total revenue. Ties in spend are broken by custkey so the decile
    * assignment (and therefore every downstream number) is a pure function
    * of the data in both engines. Scale: per-customer spend is one
    * key-partitioned agg of the fact table; a GLOBAL-window ntile would
    * plan `Exchange SinglePartition` (one task sorts every customer —
    * a Spark window with no partitionBy does NOT range-partition, unlike
    * a global sort), so the decile comes from TwoPass.rankWithCount
    * (range-partitioned two-pass rank, q181's pattern) +
    * ntileFromRank — value-identical to NTILE(10), parallel at any
    * |customers|. The final cumulative window is over exactly 10 rows. */
  def decileLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spend = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(sum(cents($"o_totalprice")).as("spend"))
    val deciled = TwoPass
      .rankWithCount(spend, "rn", "n", $"spend".desc, $"o_custkey".asc)
      .withColumn("decile", TwoPass.ntileFromRank($"rn", $"n", 10))
    val tot = spend.agg(sum($"spend").as("total_spend"))
    val byDecile = deciled.groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"), sum($"spend").as("decile_spend"))
    val wc = Window.orderBy($"decile".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(broadcast(tot))
      .withColumn("cum_spend", sum($"decile_spend").over(wc))
      .select($"decile", $"n_cust", $"decile_spend",
        ratio($"decile_spend", $"total_spend").as("share"),
        ratio($"cum_spend", $"total_spend").as("cum_share"))
      .orderBy($"decile")
  }

  /** A/B contingency chi-square census — the experiment-analysis screen,
    * emitted PER CELL rather than as the summed statistic: a chi-square
    * total is an order-dependent float sum across cells, but each cell's
    * contribution (o·N − r·c)² / (N·r·c) is a fixed op tree — exact
    * decimal(38,0)/HUGEINT integers for the (o·N − r·c) difference
    * (≤ ~10²⁶ even at 10¹³ events, well inside 38 digits; only the
    * SQUARE would overflow, so the difference is cast to double first —
    * one correctly-rounded cast, then correctly-rounded ×, ×, ÷), so
    * every cell hash-compares. The reader (or a driver) sums the ≤
    * |variants|·|types| cells for the statistic. Variant assignment is
    * the deterministic user_id parity. Scale: one map-side partial-agg
    * collapse to the cell table; margins are 1-to-5-row broadcasts. */
  def abChiSquareCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val o = Tables.events(s, dir)
      .select(($"user_id" % 2).cast("int").as("variant"), $"event_type")
      .groupBy($"variant", $"event_type").agg(count(lit(1)).as("o"))
    val r = o.groupBy($"variant").agg(sum($"o").as("r"))
    val c = o.groupBy($"event_type").agg(sum($"o").as("c"))
    val n = o.agg(sum($"o").as("n"))
    o.join(broadcast(r), "variant")
      .join(broadcast(c), "event_type")
      .crossJoin(broadcast(n))
      .withColumn("dd",
        ($"o".cast(d38) * $"n".cast(d38) - $"r".cast(d38) * $"c".cast(d38))
          .cast("double"))
      .select($"variant", $"event_type", $"o", $"r", $"c", $"n",
        (($"dd" * $"dd") /
          (($"n".cast("double") * $"r".cast("double")) * $"c".cast("double")))
          .as("chi2_cell"))
      .orderBy($"variant", $"event_type")
  }

  /** RFM segmentation — the canonical customer-marketing rollup: quintile
    * scores for Recency (days since last order, vs a fixed anchor),
    * Frequency (order count) and Monetary (exact lifetime cents), crossed
    * into the ≤ 125-cell segment census. All three scores carry the q213
    * tie contract (custkey tiebreak makes the ntile assignment a total
    * order, hence engine-invariant) and all three are TwoPass
    * range-partitioned ranks + exact ntileFromRank — a global-window
    * NTILE here would be three `Exchange SinglePartition` sorts of the
    * whole customer table (Spark windows do not range-partition; round-9
    * plan audit). Scale: one orders shuffle to the per-customer triple;
    * three parallel two-pass ranks; the census is a ≤ 125-group
    * collapse. */
  def rfmSegmentation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rfm = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(
        datediff(lit("2002-01-01").cast("date"),
          max($"o_orderdate").cast("date")).as("rec_days"),
        count(lit(1)).as("freq"),
        sum(cents($"o_totalprice")).as("mon_cents"))
    def quint(df: DataFrame, out: String, order: Column*): DataFrame =
      TwoPass.rankWithCount(df, "__rn", "__n", order: _*)
        .withColumn(out, TwoPass.ntileFromRank($"__rn", $"__n", 5))
        .drop("__rn", "__n")
    val scored = quint(quint(quint(rfm,
        "r_q", $"rec_days".asc, $"o_custkey".asc),
        "f_q", $"freq".desc, $"o_custkey".asc),
        "m_q", $"mon_cents".desc, $"o_custkey".asc)
    scored.groupBy($"r_q", $"f_q", $"m_q")
      .agg(count(lit(1)).as("n_cust"), sum($"mon_cents").as("seg_cents"))
      .orderBy($"r_q", $"f_q", $"m_q")
  }

  /** Declarative data-quality EXPECTATION audit (the Deequ/
    * Great-Expectations shape): a battery of named assertions over
    * several tables, each emitted as (tbl, check, n_rows, n_violations) —
    * so a regression flips exactly one integer cell, and the suite is ONE
    * map-side conditional-sum pass per table regardless of how many
    * checks that table carries (contrast: one COUNT query per check =
    * one scan per check). Domain checks are range / set-membership /
    * non-null / positivity; the l_quantity ≤ 49 check is intentionally
    * violated by the fixture so the counting path itself is oracle-
    * covered, not just the all-zeros happy path. */
  def expectationAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def viol(tbl: String, df: DataFrame, checks: (String, Column)*): DataFrame = {
      val aggs = count(lit(1)).as("n_rows") +:
        checks.map { case (nm, bad) =>
          // when/otherwise (not a bare cast-sum): a predicate that is
          // NULL on every row must still count as 0 violations, matching
          // the oracle's CASE ... ELSE 0 END.
          sum(when(bad, lit(1L)).otherwise(lit(0L))).as(nm) }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = checks.map { case (nm, _) => s"'$nm', $nm" }
        .mkString(", ")
      one.selectExpr("n_rows",
          s"stack(${checks.size}, $stackArgs) AS (check_name, n_violations)")
        .select(lit(tbl).as("tbl"), $"check_name", $"n_rows", $"n_violations")
    }
    val li = viol("lineitem", Tables.lineitem(s, dir),
      "qty_le_49" -> ($"l_quantity" > 49),
      "disc_range" -> ($"l_discount" < 0 || $"l_discount" > 0.1),
      "price_positive" -> ($"l_extendedprice" <= 0))
    val o = viol("orders", Tables.orders(s, dir),
      "status_domain" -> !$"o_orderstatus".isin("O", "F", "P"),
      "total_positive" -> ($"o_totalprice" <= 0),
      "date_bounds" -> ($"o_orderdate" < lit("1995-01-01").cast("timestamp")))
    val c = viol("customer", Tables.customer(s, dir),
      "acctbal_not_null" -> $"c_acctbal".isNull,
      "segment_not_null" -> $"c_mktsegment".isNull)
    val p = viol("part", Tables.part(s, dir),
      "size_range" -> ($"p_size" < 1 || $"p_size" > 50))
    li.unionAll(o).unionAll(c).unionAll(p)
      .orderBy($"tbl", $"check_name")
  }

  /** Customer segment-migration matrix — spend quintile in an early
    * period vs a late period, full-outer-joined so churned (late = 0) and
    * newly-acquired (early = 0) customers land in explicit matrix margins
    * instead of disappearing: the classic cohort-migration report. Both
    * quintiles are custkey-tiebroken (the q213/q224 total-order
    * contract), computed as TwoPass range-partitioned ranks +
    * ntileFromRank — not global windows, which would single-task the
    * sort (round-9 plan audit). Scale: two period-filtered orders
    * collapses by custkey, two parallel two-pass ranks, one full-outer
    * custkey join, ≤ 36-cell census. */
  def segmentMigration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def quintiles(lo: String, hi: String) = {
      val spend = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit(lo).cast("timestamp") &&
          $"o_orderdate" < lit(hi).cast("timestamp"))
        .groupBy($"o_custkey")
        .agg(sum(cents($"o_totalprice")).as("spend"))
      TwoPass.rankWithCount(spend, "rn", "n", $"spend".desc, $"o_custkey".asc)
        .withColumn("q", TwoPass.ntileFromRank($"rn", $"n", 5))
        .select($"o_custkey", $"q")
    }
    val early = quintiles("1995-01-01", "1998-01-01")
      .select($"o_custkey".as("ck_e"), $"q".as("q_early"))
    val late = quintiles("1999-01-01", "2002-01-01")
      .select($"o_custkey".as("ck_l"), $"q".as("q_late"))
    early.join(late, $"ck_e" === $"ck_l", "full_outer")
      .select(coalesce($"q_early", lit(0L)).as("q_early"),
        coalesce($"q_late", lit(0L)).as("q_late"))
      .groupBy($"q_early", $"q_late")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy($"q_early", $"q_late")
  }

  /** Price-volume revenue decomposition (the finance waterfall): per
    * brand, the year-over-year revenue delta split into a VOLUME effect
    * ((q₂−q₁)·p̄₁) and a PRICE effect (r₂ − q₂·p̄₁ ≡ q₂·(p̄₂−p̄₁)) that sum
    * exactly to Δr. Portability: the four base measures are exact
    * integers (unit sums and cents sums); each effect is ONE integer
    * difference times ONE IEEE divide-result — a fixed two-op double
    * tree, no accumulation. Scale: one map-side (brand, year) collapse
    * of the broadcast-part-joined fact, then a 25-row self-pivot. */
  def priceVolumeDecomposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val by = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .filter(year($"l_shipdate").isin(1999, 2000))
      .groupBy($"p_brand", year($"l_shipdate").as("yr"))
      .agg(sumIntValued($"l_quantity").as("qty"),
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("rev_cents"))
    val y1 = by.filter($"yr" === 1999)
      .select($"p_brand", $"qty".as("q1"), $"rev_cents".as("r1"))
    val y2 = by.filter($"yr" === 2000)
      .select($"p_brand".as("pb2"), $"qty".as("q2"), $"rev_cents".as("r2"))
    y1.join(y2, $"p_brand" === $"pb2")
      .select($"p_brand", $"q1", $"q2", $"r1", $"r2",
        (($"q2" - $"q1").cast("double") * ratio($"r1", $"q1"))
          .as("volume_effect"),
        ($"r2".cast("double") - $"q2".cast("double") * ratio($"r1", $"q1"))
          .as("price_effect"))
      .orderBy($"p_brand")
  }

  /** Revenue concentration (the Pareto question asked directly): how many
    * customers, ranked by spend, make up 10 % / 50 % / 90 % of total
    * revenue. q213's decile table answers "what does each tenth of
    * customers buy"; this answers "how few customers carry the business"
    * — the number the board meeting actually quotes. All screening is
    * exact integer arithmetic (100·cum ≥ L·total in decimal(38,0) — the
    * oracle's HUGEINT twin, so the cross-multiplication cannot wrap even
    * past 2⁶³ total cents); the ranked cumulative sum is a TwoPass
    * range-partitioned rank+running-sum (a global cumulative window
    * would plan `Exchange SinglePartition` — one task sums every
    * customer; round-9 plan audit), and the census collapses to 3 rows
    * in one conditional-min pass. */
  def revenueConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val pc = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(sum(cents($"o_totalprice")).as("cents"))
    val ranked = TwoPass.rankAndRunningSum(pc, "rn", "n", "cum", $"cents",
      $"cents".desc, $"o_custkey".asc)
    val tot = ranked.agg(max($"rn").as("n_cust"), max($"cum").as("total"))
    val cumD = $"cum".cast(d38) * 100
    val totD = $"total".cast(d38)
    ranked.crossJoin(broadcast(tot))
      .agg(
        min(when(cumD >= lit(10L).cast(d38) * totD, $"rn")).as("c10"),
        min(when(cumD >= lit(50L).cast(d38) * totD, $"rn")).as("c50"),
        min(when(cumD >= lit(90L).cast(d38) * totD, $"rn")).as("c90"),
        max($"n_cust").as("n_cust"))
      .selectExpr("stack(3, 10, c10, 50, c50, 90, c90)" +
        " AS (pct_revenue, n_customers)", "n_cust")
      .select($"pct_revenue".cast("int").as("pct_revenue"), $"n_customers",
        ratio($"n_customers", $"n_cust").as("customer_share"))
      .orderBy($"pct_revenue")
  }

  /** Per-nation trade balance — each nation's EXPORT revenue (as the
    * supplying side) against its IMPORT revenue (as the buying side),
    * with q09's full-outer margins so a nation active on only one side
    * still appears (coalesced zeros, not dropped rows). q216 declares
    * the nation×nation flow matrix; this is the net ledger view derived
    * over all nations. Scale: exports = one fact pass + broadcast
    * supplier→nation; imports = the q216 fact⋈fact shape with the
    * customer leg keyed; both collapse to ≤|nations| rows before the
    * outer join. Balance is an exact integer difference; the ratio one
    * IEEE divide (NULL when imports are zero — 0-division stays NULL on
    * both engines via nullif). */
  def nationTradeBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))
    val sn = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("exp_nation"))
    val exports = Tables.lineitem(s, dir)
      .join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
      .groupBy($"exp_nation").agg(sum(rev).as("export_cents"))
    val cn = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("imp_nation"))
    val imports = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(cn, $"o_custkey" === $"c_custkey")
      .groupBy($"imp_nation").agg(sum(rev).as("import_cents"))
    exports.join(imports, $"exp_nation" === $"imp_nation", "full_outer")
      .select(
        coalesce($"exp_nation", $"imp_nation").as("nation"),
        coalesce($"export_cents", lit(0L)).as("export_cents"),
        coalesce($"import_cents", lit(0L)).as("import_cents"))
      .withColumn("balance_cents", $"export_cents" - $"import_cents")
      .withColumn("export_import_ratio",
        ratio($"export_cents", nullif($"import_cents", lit(0L))))
      .orderBy($"nation")
  }

  /** Basket-size histogram — the MEASURED form of the assumption half
    * the pair/wedge queries price in: q199/q202/q220's "basket-bounded
    * fan-out (pairs per order ≤ C(max_basket, 2))" contract. This query makes the
    * basket distribution a declared, hash-compared artifact (and the
    * spec asserts a ≤32 bound on the fixture — observed max 12–17 across
    * SFs, and the old ≤7 folklore this query retired), so a fixture or
    * upstream change that fattens baskets — and silently re-prices
    * every co-occurrence join — breaks CORRECTNESS here first. One
    * orderkey collapse + a ≤max-basket-row census. */
  def basketSizeHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LEFT OUTER from orders (the q236 lesson applied here too): the
    // fixture has line-less orders (27 at sf0.001) and a basket census
    // that silently drops the 0 bucket does not partition the orders.
    val per = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        $"o_orderkey" === $"l_orderkey", "left_outer")
      .groupBy($"o_orderkey")
      .agg(count($"l_orderkey").as("n_lines"),
        coalesce(sumIntValued($"l_quantity"), lit(0L)).as("qty_total"))
    val hist = per.groupBy($"n_lines")
      .agg(count(lit(1)).as("n_orders"), sum($"qty_total").as("qty_sum"))
    val tot = hist.agg(sum($"n_orders").as("total"))
    hist.crossJoin(broadcast(tot))
      .select($"n_lines", $"n_orders", $"qty_sum",
        ratio($"n_orders", $"total").as("share"))
      .orderBy($"n_lines")
  }

  /** Equi-WIDTH histogram with the extents computed IN-PLAN (q185 is the
    * equi-depth complement): a 1-row min/max broadcast, then the q206
    * band form ((v−lo)·16 div span — pure integer, no float binning) and
    * a 16-row census carrying each bucket's own observed envelope. The
    * profile-every-column pass a warehouse runs after load: one scan +
    * one 1-row agg at any scale. */
  def equiwidthHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.orders(s, dir)
      .select(cents($"o_totalprice").as("v"))
    val ext = c.agg(min($"v").as("lo"), max($"v").as("hi"))
    c.crossJoin(broadcast(ext))
      .withColumn("bucket",
        expr("((v - lo) * 16) div (hi - lo + 1)").cast("int"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
        min($"v").as("bucket_min_cents"),
        max($"v").as("bucket_max_cents"))
      .orderBy($"bucket")
  }

  /** Re-aggregation invariance — the correctness property every OLAP
    * cube / pre-aggregation / incremental-rollup architecture rests on:
    * a monthly total computed DIRECTLY equals the monthly total rolled
    * up FROM the daily pre-aggregate. With exact integer cents this is
    * an identity (associativity of integer addition at any grouping) —
    * with raw double sums it is NOT (FP addition re-associates across
    * the two paths), which is precisely why Portable fixed-points money.
    * The declared output carries both paths and their equality flag, so
    * a future formulation change that breaks reassociability (e.g.
    * reintroducing a double accumulator) fails CORRECTNESS, not a code
    * review. Cost: one fact collapse to days, one tiny re-roll, one
    * direct month collapse. */
  def reaggregationInvariance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))
    val daily = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag",
        (year($"l_shipdate") * 10000 + month($"l_shipdate") * 100 +
          dayofmonth($"l_shipdate")).as("day"))
      .agg(sum(rev).as("rev_cents"))
    val rolled = daily
      .groupBy($"l_returnflag", expr("day div 100").cast("int").as("mon"))
      .agg(sum($"rev_cents").as("rev_rolled"))
    val direct = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag",
        (year($"l_shipdate") * 100 + month($"l_shipdate")).as("mon"))
      .agg(sum(rev).as("rev_direct"))
    direct.join(rolled, Seq("l_returnflag", "mon"))
      .select($"l_returnflag", $"mon", $"rev_direct",
        ($"rev_direct" === $"rev_rolled").as("rollup_exact"))
      .orderBy($"l_returnflag", $"mon")
  }

  /** Ranked top-k as an ordered LIST per group — the "top 3 customers per
    * nation, one row per nation" report: rank window (custkey tiebreak)
    * → k-slice → rebuild the ORDERED list with q211's determinism trick
    * (collect_list alone is partition-order-dependent; sorting the
    * (rank, entry) structs restores it). Composes q22's group-top-k with
    * q16's listagg — the composed form is what BI exports actually ask
    * for. Scale: spend collapses per customer BEFORE the dim join; the
    * rank window partitions by nation over the collapsed table. */
  def topkListagg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spend = Tables.orders(s, dir)
      .groupBy($"o_custkey").agg(sum(cents($"o_totalprice")).as("cents"))
    val w = Window.partitionBy($"n_name")
      .orderBy($"cents".desc, $"o_custkey".asc)
    spend
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .groupBy($"n_name")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct($"rn",
            concat($"c_name", lit(":"), $"cents").as("entry")))),
            e => e("entry")), ",").as("top3"),
        sum($"cents").as("top3_cents"))
      .orderBy($"n_name")
  }

  /** Percent-of-parent (hierarchical share) — the OLAP drill-down
    * decoration: each (region, nation) revenue row carries its share of
    * the REGION and the region's share of the TOTAL, computed with two
    * window sums over the ≤|nations| collapsed grid (no re-scan, no
    * self-join). Shares are one IEEE divide each over exact cents. */
  def percentOfParent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val geo = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"n_name".as("nation"), $"r_name".as("region"))
    val grid = Tables.orders(s, dir)
      .groupBy($"o_custkey").agg(sum(cents($"o_totalprice")).as("cents"))
      .join(geo, $"o_custkey" === $"c_custkey")
      .groupBy($"region", $"nation").agg(sum($"cents").as("cents"))
    val wR = Window.partitionBy($"region")
    val wAll = Window.partitionBy()
    grid
      .withColumn("region_cents", sum($"cents").over(wR))
      .withColumn("total_cents", sum($"cents").over(wAll))
      .select($"region", $"nation", $"cents",
        ratio($"cents", $"region_cents").as("pct_of_region"),
        $"region_cents",
        ratio($"region_cents", $"total_cents").as("region_pct_of_total"))
      .orderBy($"region", $"nation")
  }

  /** Grouped mode — the most frequent event type per (user, week), then
    * a census of the modes: q124 declares the GLOBAL tie-broken mode;
    * this is the per-entity-per-period form (the "dominant behavior"
    * feature every user model derives). The argmax is
    * min_by(type, struct(−count, type)) — highest count, then smallest
    * type: a deterministic total order both engines replay (the oracle
    * uses the equivalent row_number). Two keyed collapses, then a
    * ≤weeks·|types| census. */
  def groupedMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .groupBy($"user_id",
        date_trunc("week", $"ts").cast("date").as("week"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy($"user_id", $"week")
      .agg(min_by($"event_type", struct((-$"cnt").as("nc"), $"event_type"))
        .as("mode_type"))
      .groupBy($"week", $"mode_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"week", $"mode_type")
  }

  /** Column profile — the post-load data-profiling table (nulls,
    * distincts, lexicographic extents per column) every warehouse emits
    * before anyone writes a query: one conditional-sum + multi-distinct
    * pass over orders, stacked to a row per column. Extents are profiled
    * AS STRINGS (lexicographic min/max — uniform across types, and what
    * a profile UI shows); distinct counts are EXACT (Spark plans
    * multi-column count-distinct via one expand — |columns|× the scan
    * rows shuffled as partials, the documented cost of exactness;
    * q18/q92 are the sketch alternative at 100 TB). */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Profile over a type-normalized projection: raw DOUBLE→string
    // rendering differs between engines (shortest-repr vs decimal), so
    // money profiles as exact cents and the timestamp as a DATE — both
    // string-stable everywhere.
    val o = Tables.orders(s, dir).select(
      $"o_orderkey", $"o_custkey", $"o_orderstatus",
      cents($"o_totalprice").as("price_cents"),
      to_date($"o_orderdate").as("order_date"),
      $"o_orderpriority")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "price_cents", "order_date", "o_orderpriority")
    // Stack FIRST, aggregate once: a wide multi-count-distinct plans as
    // an N-way expand (N× the scan shuffled); melting to (col, value)
    // pairs map-side and running ONE grouped count-distinct shuffles
    // only the (col, DISTINCT value) partials — the profiler shape that
    // survives wide tables.
    val stackArgs = cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
    o.selectExpr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
      .groupBy($"col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"v".isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct($"v").as("n_distinct"),
        min($"v").as("min_str"),
        max($"v").as("max_str"))
      .orderBy($"col_name")
  }

  /** Discount elasticity table — mean quantity per discount band, the
    * first-order "does discounting move volume" read: the band is an
    * EXACT integer percent (floor(d·100 + 0.5), the cents trick applied
    * to rates — float bands would bucket-flip at representation edges),
    * quantities sum exactly, the mean is one divide. One map-side
    * collapse to ≤11 bands. */
  def discountElasticity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select(
        floor($"l_discount" * 100.0 + 0.5).cast("int").as("discount_pct"),
        $"l_quantity".cast("long").as("qty"),
        cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rc"))
      .groupBy($"discount_pct")
      .agg(count(lit(1)).as("n_lines"), sum($"qty").as("sum_qty"),
        sum($"rc").as("rev_cents"))
      .select($"discount_pct", $"n_lines", $"sum_qty", $"rev_cents",
        ratio($"sum_qty", $"n_lines").as("avg_qty"))
      .orderBy($"discount_pct")
  }

  /** Shipping-delay SLA table — the p50/p90 delay per order priority as
    * EXACT ORDER STATISTICS (q212's rank-position argument: engine
    * quantile interpolations differ, rank positions cannot). Delay =
    * whole days ship − order (can be negative on this fixture — ship
    * dates are synthetic; the statistic is still well-defined). The
    * fact join output is never sorted AT ALL: delay is an integer with a
    * DOMAIN-bounded value space (whole days between two in-range dates —
    * a few thousand values however many rows exist), so the order
    * statistic comes from a VALUE CENSUS — one map-side-combined
    * (prio, delay) count collapse, then cumulative counts over that
    * ≤|classes|·|days| table (tiny by construction; its per-prio window
    * is the bounded-table exception class). Rank positions are exactly
    * recoverable from cumulative counts: tie groups occupy contiguous
    * rank runs, so "min delay at rank rn with k·rn ≥ m·n" ≡ "min delay
    * whose cumulative count c has k·c ≥ m·n" — the formulation a plain
    * per-row rank (one sort task per priority at any scale; the round-9
    * audit class) or even a two-pass rank (a full fact-sized range
    * shuffle + pin) would pay dearly for. q212 keeps the generic
    * two-pass rank for UNBOUNDED value domains; this is the
    * domain-bounded fast path. */
  def shippingDelaySla(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val census = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority".as("prio"),
        datediff(to_date($"l_shipdate"), to_date($"o_orderdate"))
          .cast("long").as("delay_days"))
      .groupBy($"prio", $"delay_days")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"prio").orderBy($"delay_days".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"prio")
    census
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("cnt", sum($"c").over(wAll))
      .groupBy($"prio")
      .agg(
        max($"cnt").as("n_lines"),
        min(when($"cum" * 2 >= $"cnt", $"delay_days")).as("p50_days"),
        min(when($"cum" * 10 >= $"cnt" * 9, $"delay_days")).as("p90_days"),
        max($"delay_days").as("max_days"))
      .orderBy($"prio")
  }

  /** Return-rate trend — the monthly share of returned lines with its
    * month-over-month delta: the quality-regression monitor every ops
    * team keeps. Share is one divide over exact counts; the delta is a
    * lag over the ≤|months| monthly table (q173's precedent), surfaced
    * as NULL for the first month (no fabricated zero). */
  def returnRateTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.lineitem(s, dir)
      .groupBy((year($"l_shipdate") * 100 + month($"l_shipdate")).as("mon"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("n_returned"))
      .withColumn("return_rate", ratio($"n_returned", $"n_lines"))
    val w = Window.orderBy($"mon".asc)
    monthly
      .withColumn("rate_delta", $"return_rate" - lag($"return_rate", 1).over(w))
      .orderBy($"mon")
  }

  /** Functional-dependency discovery census — the WITHIN-table profiling
    * op (Deequ-suggestor / Metanome class) next to q275's cross-table
    * join-cardinality profiler: for each candidate lhs → rhs, count the
    * lhs groups and the groups carrying MORE than one distinct rhs (FD
    * violations), and emit the verdict. The candidate set is fixed and
    * includes one FD that provably holds (a unique key determines
    * everything) so the zero-violation path is oracle-covered alongside
    * the violating ones (the q225 lesson). Scale: each candidate is one
    * two-level agg — (lhs, rhs) distinct collapse, then a per-lhs
    * distinct count folded to a 1-row verdict — all map-side-combinable,
    * no windows, candidates evaluated independently (embarrassingly
    * parallel across the union's branches). */
  def fdDiscovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    def fd(lhs: String, rhs: String): DataFrame =
      o.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
        .agg(count(lit(1)).as("n_lhs_groups"),
          sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(s"$lhs->$rhs").as("fd"), $"n_lhs_groups",
          $"n_violating", ($"n_violating" === 0L).as("holds"))
    fd("o_orderkey", "o_orderstatus")
      .unionAll(fd("o_custkey", "o_orderstatus"))
      .unionAll(fd("o_orderdate", "o_orderpriority"))
      .unionAll(fd("o_orderpriority", "o_orderstatus"))
      .orderBy($"fd")
  }

  /** (flag, quantity, discount-bps) cell census shared by the rank-
    * correlation pair q375/q376 — BOTH variables are domain-bounded
    * (quantity 1..50, discount 0..1000 bps), so every downstream moment,
    * marginal rank, and pair count is census-sized, corpus-size-free. */
  private def rankCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).select(
        $"l_returnflag",
        $"l_quantity".cast("long").as("q"),
        floor($"l_discount" * lit(10000.0) + lit(0.5)).cast("long").as("d"))
      .groupBy($"l_returnflag", $"q", $"d")
      .agg(count(lit(1)).as("cnt"))
  }

  /** OLS influence census — leverage and Cook's distance (Cook 1977,
    * public definition) for the price~quantity regression per return
    * flag: the regression family (q91 fits, q195 correlates) never says
    * WHICH rows own the fit — the audit question behind every "the
    * trend is three outliers" failure. Closed forms off ONE exact
    * moment agg (no residual re-aggregation): with D = nΣx²−(Σx)²,
    * slope = (nΣxy−ΣxΣy)/D, h_i = 1/n + (n·x−Σx)²/(n·D) (exact integer
    * numerators in decimal(38,0), VARCHAR-routed), s² from the closed
    * SSE = ((nΣy²−(Σy)²) − b(nΣxy−ΣxΣy))/(n(n−2)) — so no float SUM
    * ever crosses a shuffle — and D_i = e²h/(2s²(1−h)²) per row as one
    * fixed tree. Output: the global top-15 by (D_i, orderkey, line) —
    * a total order because the doubles are bitwise identical across
    * engines. NULL-free by the n > 2, D > 0 row gate. Scale: one scan
    * for moments (broadcast back), one scoring scan, one top-k. */
  def olsInfluence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = Tables.lineitem(s, dir).select(
      $"l_orderkey", $"l_linenumber", $"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      cents($"l_extendedprice").as("y"))
    val m = base.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
      sum($"x".cast(d38) * $"x").as("sxx"),
      sum($"x".cast(d38) * $"y").as("sxy"),
      sum($"y".cast(d38) * $"y").as("syy"))
    val dD = $"n".cast(d38) * $"sxx" - $"sx" * $"sx"
    val slope = ($"n".cast(d38) * $"sxy" - $"sx" * $"sy").cast("double") /
      dD.cast("double")
    val s2 = (($"n".cast(d38) * $"syy" - $"sy" * $"sy").cast("double") -
      slope * ($"n".cast(d38) * $"sxy" - $"sx" * $"sy").cast("double")) /
      ($"n".cast(d38) * ($"n" - 2L)).cast("double")
    val stats = m.filter($"n" > 2L && dD > 0)
      .select($"l_returnflag", $"n", $"sx", $"sy", dD.as("dd"),
        slope.as("slope"),
        (($"sy".cast("double") - slope * $"sx".cast("double")) /
          $"n".cast("double")).as("icept"),
        s2.as("s2"))
    val scored = base.join(broadcast(stats), Seq("l_returnflag"))
      .withColumn("resid",
        $"y".cast("double") - ($"icept" + $"slope" * $"x".cast("double")))
      .withColumn("leverage",
        lit(1.0) / $"n".cast("double") +
          (($"n" * $"x").cast(d38) - $"sx").cast("double") *
            (($"n" * $"x").cast(d38) - $"sx").cast("double") /
            ($"n".cast(d38) * $"dd").cast("double"))
      .withColumn("cooks_d",
        $"resid" * $"resid" * $"leverage" /
          (lit(2.0) * $"s2" * (lit(1.0) - $"leverage") *
            (lit(1.0) - $"leverage")))
    scored
      .orderBy($"cooks_d".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .limit(15)
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
        $"x".as("quantity"), $"y".as("price_cents"),
        $"slope", $"icept".as("intercept"), $"leverage", $"resid",
        $"cooks_d")
  }

  /** Partial correlation census (the classical first-order recursion,
    * public definition) — the CONFOUNDER-controlled member the
    * association family lacks: q195/q375 report pairwise r, but
    * "quantity drives revenue" is only meaningful once the discount's
    * shared influence is projected out — r_xy·z = (r_xy − r_xz·r_yz) /
    * (√(1−r_xz²)·√(1−r_yz²)). Per return flag over (x = quantity,
    * y = price cents, z = discount cents): ONE 10-cell exact moment agg
    * (sums and cross-products in decimal(38,0) — Σxy ≤ n·x_max·y_max
    * holds past 10¹⁵ rows), each pairwise r the q375 two-sqrt tree
    * (VARCHAR-routed in the oracle), the partial one fixed tree on
    * top. NULL on any zero variance or a |r·z| = 1 degenerate control.
    * Scale: one scan → 10 cells per flag, corpus-size-free. */
  def partialCorrelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val b = Tables.lineitem(s, dir).select(
      $"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      cents($"l_extendedprice").as("y"),
      cents($"l_discount").as("z"))
    val m = b.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
      sum($"z".cast(d38)).as("sz"),
      sum($"x".cast(d38) * $"x").as("sxx"),
      sum($"y".cast(d38) * $"y").as("syy"),
      sum($"z".cast(d38) * $"z").as("szz"),
      sum($"x".cast(d38) * $"y").as("sxy"),
      sum($"x".cast(d38) * $"z").as("sxz"),
      sum($"y".cast(d38) * $"z").as("syz"))
    def dv(aa: Column, a: Column) = ($"n".cast(d38) * aa - a * a)
    def rr(ab: Column, a: Column, b2: Column, daa: Column, dbb: Column) =
      ($"n".cast(d38) * ab - a * b2).cast("double") /
        (sqrt(daa.cast("double")) * sqrt(dbb.cast("double")))
    val (dxx, dyy, dzz) =
      (dv($"sxx", $"sx"), dv($"syy", $"sy"), dv($"szz", $"sz"))
    val rxy = rr($"sxy", $"sx", $"sy", dxx, dyy)
    val rxz = rr($"sxz", $"sx", $"sz", dxx, dzz)
    val ryz = rr($"syz", $"sy", $"sz", dyy, dzz)
    // the r divisions live ONLY inside when() BRANCHES: a when CONDITION
    // evaluates on every row, and ANSI arithmetic inside it would throw
    // on a zero-variance corpus before the guard could skip the branch —
    // so the partial is built from the already-guarded r columns
    val guard = dxx > 0 && dyy > 0 && dzz > 0
    m.select($"l_returnflag", $"n",
      when(guard, rxy).as("r_xy"),
      when(guard, rxz).as("r_xz"),
      when(guard, ryz).as("r_yz"))
      .select($"l_returnflag", $"n", $"r_xy", $"r_xz", $"r_yz",
        when($"r_xy".isNotNull &&
          lit(1.0) - $"r_xz" * $"r_xz" > 0.0 &&
          lit(1.0) - $"r_yz" * $"r_yz" > 0.0,
          ($"r_xy" - $"r_xz" * $"r_yz") /
            (sqrt(lit(1.0) - $"r_xz" * $"r_xz") *
              sqrt(lit(1.0) - $"r_yz" * $"r_yz")))
          .as("r_xy_given_z"))
      .orderBy($"l_returnflag")
  }

  /** Peak-over-threshold / mean-excess census (the EVT diagnostic —
    * Davison & Smith 1990, public description) over order values: the
    * TAIL-SHAPE audit the concentration family lacks (q251 says who
    * holds the mass, q384 how unequal; mean-excess says whether the
    * tail is heavy — a RISING mean excess in u is the Pareto
    * signature, the fact that decides outlier policy and sampling
    * caps): at each of the P90/P95/P99 thresholds — selected EXACTLY
    * on the value census (ceil rank (p·n+99) div 100; the run
    * containing the rank is the conditional min, the q390 stance) —
    * the exceedance count, mean excess Σc·(v−u)/n_exc (decimal(38,0)
    * numerator, one shared divide), the me/u ratio, and a DYADIC
    * Hill-style tail index Σc·(bits(v)−bits(u))/n_exc (the q131 log
    * quantization pointed at EVT — integer, hash-portable, ≈ 1/α·ln2
    * bits). Zero-exceedance thresholds keep NULLs. Scale: one scan →
    * value census (near-distinct prices — |distinct| sized, NOT
    * domain-bounded: the global cumulative window holds to ~10⁸
    * distinct values, past which the selection moves to q251's
    * TwoPass rank form) → three selections + one broadcast-theta fold
    * with the 3-row threshold table on the small side. */
  def meanExcessCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val census = Pinned.pin(Tables.orders(s, dir)
      .groupBy(cents($"o_totalprice").as("v"))
      .agg(count(lit(1)).as("c"))) // read by cums AND the excess fold
    val cums = census
      .withColumn("cum", sum($"c").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nTot = census.agg(sum($"c").as("n"))
    val thr = cums.crossJoin(broadcast(nTot))
      .select($"v", $"cum", $"n",
        explode(array(lit(90L), lit(95L), lit(99L))).as("pct"))
      .withColumn("rk", expr("(pct * n + 99) div 100"))
      .groupBy($"pct")
      .agg(max($"n").as("n"),
        min(when($"cum" >= $"rk" && $"rk" >= 1L, $"v")).as("u"))
    // the CENSUS is the big side (order values are near-distinct — NOT
    // domain-bounded); only the 3-row threshold table broadcasts
    val g = census.crossJoin(broadcast(thr.select($"pct", $"u")))
      .filter($"v" > $"u")
      .groupBy($"pct", $"u")
      .agg(sum($"c").as("n_exceed"),
        sum($"c".cast(d38) * ($"v" - $"u")).as("sum_excess"),
        sum($"c" * (bits($"v") - bits($"u"))).as("sum_bits"))
    thr.join(g.select($"pct", $"n_exceed", $"sum_excess", $"sum_bits"),
        Seq("pct"), "left")
      .select($"pct", $"n".as("n_orders"), $"u".as("threshold_cents"),
        coalesce($"n_exceed", lit(0L)).as("n_exceed"),
        when($"n_exceed" > 0L,
          $"sum_excess".cast("double") / $"n_exceed".cast("double"))
          .as("mean_excess_cents"),
        when($"n_exceed" > 0L && $"u" > 0L,
          $"sum_excess".cast("double") /
            ($"n_exceed".cast(d38) * $"u").cast("double")).as("me_over_u"),
        when($"n_exceed" > 0L, ratio($"sum_bits", $"n_exceed"))
          .as("dyadic_tail_bits"))
      .orderBy($"pct")
  }

  /** Simpson's-paradox reversal census (Simpson 1951, public
    * definition) — the aggregation-reversal audit q410 points at: a
    * pooled correlation whose SIGN flips inside every stratum is the
    * textbook way a dashboard lies, and nothing in the family checks
    * it. Per return flag: pooled r(quantity, price) and the per-
    * discount-stratum r (the discount domain is bounded, so the
    * stratum table is census-sized) — both the q410 exact-moment
    * two-sqrt trees — then the census counts strata whose r·r_pooled
    * is strictly negative; `all_reversed` (every defined stratum
    * disagrees with the pooled sign) is the paradox flag. Degenerate
    * strata (zero variance) are counted but never reversed. Scale: one
    * scan → two moment aggs (flag / flag×stratum) → a census-sized
    * join and fold. */
  def simpsonReversal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = Tables.lineitem(s, dir).select(
      $"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      cents($"l_extendedprice").as("y"),
      cents($"l_discount").as("z"))
    def mom(df: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
      df.agg(count(lit(1)).as("n"),
        sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
        sum($"x".cast(d38) * $"x").as("sxx"),
        sum($"y".cast(d38) * $"y").as("syy"),
        sum($"x".cast(d38) * $"y").as("sxy"))
    def rCol: Column = {
      val dxx = $"n".cast(d38) * $"sxx" - $"sx" * $"sx"
      val dyy = $"n".cast(d38) * $"syy" - $"sy" * $"sy"
      when(dxx > 0 && dyy > 0,
        ($"n".cast(d38) * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(dxx.cast("double")) * sqrt(dyy.cast("double"))))
    }
    val pooled = mom(base.groupBy($"l_returnflag"))
      .select($"l_returnflag", rCol.as("r_pooled"))
    val strata = mom(base.groupBy($"l_returnflag", $"z"))
      .select($"l_returnflag", $"z", rCol.as("r_stratum"))
    strata.join(broadcast(pooled), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(max($"r_pooled").as("r_pooled"),
        count(lit(1)).as("n_strata"),
        sum(when($"r_stratum".isNotNull, 1L).otherwise(0L))
          .as("n_strata_defined"),
        sum(when($"r_stratum" * $"r_pooled" < 0.0, 1L).otherwise(0L))
          .as("n_reversed"),
        min($"r_stratum").as("min_stratum_r"),
        max($"r_stratum").as("max_stratum_r"))
      .withColumn("all_reversed",
        $"n_strata_defined" > 0L && $"n_reversed" === $"n_strata_defined")
      .orderBy($"l_returnflag")
  }

  /** Mantel–Haenszel pooled odds ratio + Cochran–Mantel–Haenszel test
    * (Mantel & Haenszel 1959 / Cochran 1954, public definitions) —
    * the FIX for the aggregation lie q414 detects: q414 flags the
    * Simpson reversal; MH produces the stratum-adjusted association a
    * dashboard should report instead of the crude one. Strata are the
    * return-flag eras (the FIXED {A, N, R} literal domain — pivoted to
    * columns, so the three per-stratum rational terms combine in ONE
    * fixed-order IEEE expression tree, the q132 stance: never a float
    * groupBy sum whose order the shuffle owns); exposure = deep
    * discount (cents ≥ 5), outcome = bulk line (quantity > 25) — the
    * promo-targeting audit: is discounting associated with bulk buys
    * once the era mix is held fixed? Per stratum the
    * 2×2 margins are exact longs; OR_MH = Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ) with
    * each product exact in decimal(38,0) before its ONE divide; the
    * CMH χ² (no continuity correction — documented) uses E = r₁c₁/n
    * and V = (r₁r₀/n)·(c₁c₀/n)/(n−1) — the SPLIT tree keeps every
    * factor ≤ n²/4 (exact past 10¹⁷ rows/stratum, where the naive
    * r₁r₀c₁c₀ product overflows at 10⁹); flagged at the
    * [[graft.queries.LlmOps.Chi2Crit95]] df = 1 line. The crude
    * (stratum-ignoring) OR rides, and `reversal` = the crude and
    * adjusted estimates on opposite sides of 1 — the Simpson flag in
    * effect-size form. Zero-margin strata contribute nothing
    * (when-guarded); Σbc = 0 leaves OR NULL, ΣV = 0 leaves χ² NULL.
    * Laws (spec): uniform 1/1/1/1 strata pin OR_MH = crude = 1 and
    * χ² = 0 exactly; the classic two-stratum reversal plant pins
    * OR_MH < 1 < crude with both sides exact IEEE trees. Scale: one
    * scan → ONE 12-cell conditional agg → one row. */
  def mantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val rows = Tables.lineitem(s, dir).select(
      $"l_returnflag".as("g"),
      (cents($"l_discount") >= 5L).as("e"),
      ($"l_quantity" > 25.0).as("y"))
    def cell(f: String, e: Boolean, y: Boolean): Column =
      sum(when($"g" === f && $"e" === e && $"y" === y, 1L).otherwise(0L))
    val flags = Seq("A", "N", "R")
    val g = rows.agg(
      cell(flags.head, e = true, y = true).as("a0"),
      cell(flags.head, e = true, y = false).as("b0"),
      cell(flags.head, e = false, y = true).as("c0"),
      cell(flags.head, e = false, y = false).as("d0"),
      cell(flags(1), e = true, y = true).as("a1"),
      cell(flags(1), e = true, y = false).as("b1"),
      cell(flags(1), e = false, y = true).as("c1"),
      cell(flags(1), e = false, y = false).as("d1"),
      cell(flags(2), e = true, y = true).as("a2"),
      cell(flags(2), e = true, y = false).as("b2"),
      cell(flags(2), e = false, y = true).as("c2"),
      cell(flags(2), e = false, y = false).as("d2"))
    def n(i: Int): Column =
      col(s"a$i") + col(s"b$i") + col(s"c$i") + col(s"d$i")
    def term(x: String, yc: String, i: Int): Column =
      when(n(i) > 0L, (col(s"$x$i").cast(d38) * col(s"$yc$i"))
        .cast("double") / n(i).cast("double")).otherwise(lit(0.0))
    def eTerm(i: Int): Column =
      when(n(i) > 0L, ((col(s"a$i") + col(s"b$i")).cast(d38) *
        (col(s"a$i") + col(s"c$i"))).cast("double") / n(i).cast("double"))
        .otherwise(lit(0.0))
    def vTerm(i: Int): Column =
      when(n(i) > 1L,
        ((col(s"a$i") + col(s"b$i")).cast(d38) *
          (col(s"c$i") + col(s"d$i"))).cast("double") / n(i).cast("double") *
          (((col(s"a$i") + col(s"c$i")).cast(d38) *
            (col(s"b$i") + col(s"d$i"))).cast("double") /
            n(i).cast("double")) / (n(i) - 1L).cast("double"))
        .otherwise(lit(0.0))
    val orNum = term("a", "d", 0) + term("a", "d", 1) + term("a", "d", 2)
    val orDen = term("b", "c", 0) + term("b", "c", 1) + term("b", "c", 2)
    val sumA = ($"a0" + $"a1" + $"a2").cast("double")
    val sumE = eTerm(0) + eTerm(1) + eTerm(2)
    val sumV = vTerm(0) + vTerm(1) + vTerm(2)
    val chi2 = (sumA - sumE) * (sumA - sumE) / sumV
    val ca = $"a0" + $"a1" + $"a2"; val cb = $"b0" + $"b1" + $"b2"
    val cc = $"c0" + $"c1" + $"c2"; val cd = $"d0" + $"d1" + $"d2"
    val crude = when(cb > 0L && cc > 0L,
      (ca.cast(d38) * cd).cast("double") / (cb.cast(d38) * cc).cast("double"))
    g.select(
      (when(n(0) > 0L, 1L).otherwise(0L) + when(n(1) > 0L, 1L).otherwise(0L) +
        when(n(2) > 0L, 1L).otherwise(0L)).as("n_strata"),
      ca.as("n_exposed_bulk"), cb.as("n_exposed_small"),
      cc.as("n_unexposed_bulk"), cd.as("n_unexposed_small"),
      crude.as("crude_or"),
      when(orDen > 0.0, orNum / orDen).as("mh_or"),
      when(sumV > 0.0, chi2).as("chi2_cmh"),
      coalesce(when(sumV > 0.0, chi2 > lit(graft.queries.LlmOps.Chi2Crit95.head)),
        lit(false)).as("cmh_sig"),
      coalesce(when(orDen > 0.0 && crude.isNotNull,
        (crude - lit(1.0)) * (orNum / orDen - lit(1.0)) < 0.0), lit(false))
        .as("reversal"))
  }

  /** Spearman rank correlation census (Spearman 1904, public
    * description) with the Pearson contrast riding alongside — q195
    * stops at Pearson, which only sees LINEAR association; Spearman is
    * Pearson over midranks and sees any monotone relation (the spec pins
    * the law: a monotone-nonlinear series has r < 1 but ρ = 1 exactly).
    * Ranks are DOUBLED midranks from the marginal value censuses
    * (2·midrank of a tied run = 2·cum_before + w + 1 — always integer,
    * the q365 machinery), so every moment is an exact integer: cross
    * moments fold as decimal(38,0) over the (q, d) CELL census — the
    * cross moment needs no corpus join-back precisely because both
    * domains are bounded. The correlation trees are q195's verbatim
    * (num / (√varx·√vary), one shared IEEE shape), NULL-guarded on zero
    * variance. Envelope: n·Σcnt·dr² ≤ 4n⁴ in decimal(38,0) holds to
    * n ≈ 7·10⁸ rows per flag; doubled ranks ≤ 2n stay in long.
    * Scale: one map-side-combined census pass; everything after is
    * census-sized (≤ |q-domain|·|d-domain| rows per flag). */
  def spearmanCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    // read by two marginals + the moment agg (lazy, r20: first reader
    // materializes)
    val cells = Pinned.pin(rankCells(s, dir))
    def marg(keyCol: String, rankCol: String): DataFrame = {
      val w = Window.partitionBy($"l_returnflag").orderBy(col(keyCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.groupBy($"l_returnflag", col(keyCol))
        .agg(sum($"cnt").as("wv"))
        .withColumn("cum_before", sum($"wv").over(w) - $"wv")
        .select($"l_returnflag", col(keyCol),
          (lit(2L) * $"cum_before" + $"wv" + 1L).as(rankCol))
    }
    val joined = cells
      .join(marg("q", "drq"), Seq("l_returnflag", "q"))
      .join(marg("d", "drd"), Seq("l_returnflag", "d"))
    val g = joined.groupBy($"l_returnflag").agg(
      sum($"cnt").as("n"),
      sum($"cnt".cast(d38) * $"drq").as("sx"),
      sum($"cnt".cast(d38) * $"drd").as("sy"),
      sum($"cnt".cast(d38) * $"drq" * $"drq").as("sxx"),
      sum($"cnt".cast(d38) * $"drd" * $"drd").as("syy"),
      sum($"cnt".cast(d38) * $"drq" * $"drd").as("sxy"),
      sum($"cnt".cast(d38) * $"q").as("px"),
      sum($"cnt".cast(d38) * $"d").as("py"),
      sum($"cnt".cast(d38) * $"q" * $"q").as("pxx"),
      sum($"cnt".cast(d38) * $"d" * $"d").as("pyy"),
      sum($"cnt".cast(d38) * $"q" * $"d").as("pxy"))
    val n38 = $"n".cast(d38)
    def corrOf(sxy: Column, sx: Column, sy: Column,
               sxx: Column, syy: Column): Column = {
      val vx = n38 * sxx - sx * sx
      val vy = n38 * syy - sy * sy
      when(vx > 0 && vy > 0,
        (n38 * sxy - sx * sy).cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
    }
    g.select($"l_returnflag", $"n",
        corrOf($"pxy", $"px", $"py", $"pxx", $"pyy").as("r_pearson"),
        corrOf($"sxy", $"sx", $"sy", $"sxx", $"syy").as("rho_spearman"))
      .orderBy($"l_returnflag")
  }

  /** Kendall τ-b census (Kendall 1938, public description) — the
    * PAIR-ORDER member of the correlation family: the probability a
    * random pair is concordant minus discordant, tie-corrected. Never
    * the O(n²) row-pair join: both variables are domain-bounded, so
    * concordant/discordant counts decompose over the CELL census —
    * conc2 = Σ_{cells i,j} cnt_i·cnt_j·[sign(q_i−q_j)·sign(d_i−d_j) > 0]
    * (each unordered row pair counted twice, hence the 2-suffix; joint
    * cell self-pairs carry sign 0) — a census×census join per flag, the
    * q315 decomposition stance. τ-b = (conc2 − disc2) /
    * √((n(n−1) − Στq(τq−1))·(n(n−1) − Στd(τd−1))) with ONE sqrt over
    * the decimal(38,0) product (≤ n⁴, exact to n ≈ 3·10⁹/flag; the
    * single-sqrt tree keeps the no-tie perfect-concordance law exact:
    * √(42·42) = 42 while √42·√42 ≠ 42 in IEEE), NULL-guarded on
    * all-tied marginals. Scale: one census pass; the pair join is
    * census² (≤ (50·1001)², flag-keyed, broadcast), corpus-size-free. */
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    // read by the pair join (both sides) + margins (lazy, r20)
    val cells = Pinned.pin(rankCells(s, dir))
    val o = cells.select($"l_returnflag",
      $"q".as("oq"), $"d".as("od"), $"cnt".as("ocnt"))
    val pairSums = cells.join(broadcast(o), Seq("l_returnflag"))
      .withColumn("sgn",
        when(($"q" > $"oq" && $"d" > $"od") ||
          ($"q" < $"oq" && $"d" < $"od"), 1)
          .when(($"q" > $"oq" && $"d" < $"od") ||
            ($"q" < $"oq" && $"d" > $"od"), -1)
          .otherwise(0))
      .groupBy($"l_returnflag")
      .agg(sum(when($"sgn" === 1, $"cnt" * $"ocnt").otherwise(0L)).as("conc2"),
        sum(when($"sgn" === -1, $"cnt" * $"ocnt").otherwise(0L)).as("disc2"))
    val tq = cells.groupBy($"l_returnflag", $"q").agg(sum($"cnt").as("t"))
      .groupBy($"l_returnflag")
      .agg(sum($"t" * ($"t" - 1L)).as("tie_q2"), sum($"t").as("n"))
    val td = cells.groupBy($"l_returnflag", $"d").agg(sum($"cnt").as("t"))
      .groupBy($"l_returnflag").agg(sum($"t" * ($"t" - 1L)).as("tie_d2"))
    pairSums.join(tq, "l_returnflag").join(td, "l_returnflag")
      .withColumn("n0x2", $"n" * ($"n" - 1L))
      .select($"l_returnflag", $"n", $"conc2", $"disc2",
        when(($"n0x2" - $"tie_q2") > 0L && ($"n0x2" - $"tie_d2") > 0L,
          ($"conc2" - $"disc2").cast("double") /
            sqrt((($"n0x2" - $"tie_q2").cast(d38) * ($"n0x2" - $"tie_d2"))
              .cast("double"))).as("tau_b"))
      .orderBy($"l_returnflag")
  }

  /** Ordinal association panel — Goodman–Kruskal γ (1954), Somers' D
    * in both directions (Somers 1962), and Kendall's τ-a, all public
    * definitions, off q376's EXACT concordance decomposition: the four
    * statistics share one numerator (conc2 − disc2) and differ only in
    * which pairs the denominator admits — γ drops ALL ties (the
    * rank-order association among untied pairs), D_{d|q} drops only
    * q-ties (the asymmetric "how well does quantity predict discount
    * order", the regression-flavored member), D_{q|d} the converse,
    * τ-a keeps everything (so |τ-a| ≤ |τ-b| ≤ |γ| — spec-pinned).
    * Same census×census pair fold as q376 (bounded by the two value
    * DOMAINS, never row pairs), each statistic ONE exact-integer
    * divide, NULL-guarded when its denominator vanishes (an all-tied
    * axis). Envelope: conc2 ≤ n² holds in long to n ≈ 3·10⁹ rows/flag
    * (the q376 bound). Scale: one census pass; everything after is
    * census²-bounded and flag-keyed. */
  def ordinalAssocPanel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // read by the pair join (both sides) + margins (lazy, r20)
    val cells = Pinned.pin(rankCells(s, dir))
    val o = cells.select($"l_returnflag",
      $"q".as("oq"), $"d".as("od"), $"cnt".as("ocnt"))
    val pairSums = cells.join(broadcast(o), Seq("l_returnflag"))
      .withColumn("sgn",
        when(($"q" > $"oq" && $"d" > $"od") ||
          ($"q" < $"oq" && $"d" < $"od"), 1)
          .when(($"q" > $"oq" && $"d" < $"od") ||
            ($"q" < $"oq" && $"d" > $"od"), -1)
          .otherwise(0))
      .groupBy($"l_returnflag")
      .agg(sum(when($"sgn" === 1, $"cnt" * $"ocnt").otherwise(0L)).as("conc2"),
        sum(when($"sgn" === -1, $"cnt" * $"ocnt").otherwise(0L)).as("disc2"))
    val tq = cells.groupBy($"l_returnflag", $"q").agg(sum($"cnt").as("t"))
      .groupBy($"l_returnflag")
      .agg(sum($"t" * ($"t" - 1L)).as("tie_q2"), sum($"t").as("n"))
    val td = cells.groupBy($"l_returnflag", $"d").agg(sum($"cnt").as("t"))
      .groupBy($"l_returnflag").agg(sum($"t" * ($"t" - 1L)).as("tie_d2"))
    val cd = $"conc2" - $"disc2"
    pairSums.join(tq, "l_returnflag").join(td, "l_returnflag")
      .withColumn("n0x2", $"n" * ($"n" - 1L))
      .select($"l_returnflag", $"n", $"conc2", $"disc2",
        when($"conc2" + $"disc2" > 0L,
          cd.cast("double") / ($"conc2" + $"disc2").cast("double"))
          .as("gk_gamma"),
        when($"n0x2" - $"tie_q2" > 0L,
          cd.cast("double") / ($"n0x2" - $"tie_q2").cast("double"))
          .as("somers_d_given_q"),
        when($"n0x2" - $"tie_d2" > 0L,
          cd.cast("double") / ($"n0x2" - $"tie_d2").cast("double"))
          .as("somers_q_given_d"),
        when($"n0x2" > 0L, cd.cast("double") / $"n0x2".cast("double"))
          .as("tau_a"))
      .orderBy($"l_returnflag")
  }

  /** Jonckheere–Terpstra ordered-alternative test (Jonckheere 1954 /
    * Terpstra 1952, public definitions; tie-corrected variance per
    * Hollander & Wolfe's published form) — does line-item QUANTITY
    * trend monotonically across the five ORDERED priority classes?
    * q391's Kruskal–Wallis asks the unordered "any difference?"; JT
    * pools the pairwise MWU statistics along the priority order and is
    * the more powered test when the alternative IS the ordering. Both
    * axes are domain-bounded (5 priorities × 50 quantities), so
    * 2J = Σ_{g<g'} c·c'·(2·[v<v'] + [v=v']) folds exactly over the
    * census×census pairs (the q376 stance), and the three
    * tie-corrected variance terms are exact integer ratios —
    * Var = A/72 + B·C/(36·N(N−1)(N−2)) + D·E/(8·N(N−1)) with A..E the
    * published group/tie cubic sums in decimal(38,0) (VARCHAR-routed)
    * — summed in fixed order; z = (2·2J − (N²−Σn_g²))/(4√Var) at the
    * [[graft.queries.LlmOps.MwCritAlpha05]] line. The all-tied corpus
    * makes Var vanish EXACTLY (A/72 and the D·E term cancel in exact
    * rationals whose divides are power-of-two exact — spec-pinned) —
    * z NULL, unflagged; N ≤ 2 likewise NULL. Envelope: A ≤ 2N³ —
    * exact past 10¹¹ rows. Scale: one join pass to the ≤250-cell
    * census; everything after census²-bounded. */
  def jonckheereTerpstra(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val cells = Pinned.pin(Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity".cast("long").as("v"))
      .join(Tables.orders(s, dir)
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority".as("g")),
        Seq("l_orderkey"))
      .groupBy($"g", $"v").agg(count(lit(1)).as("c"))) // pair sides + both margins (lazy, r20)
    val pairs = cells
      .join(broadcast(cells.select($"g".as("gb"), $"v".as("vb"),
        $"c".as("cb"))), $"g" < $"gb")
      .agg(coalesce(sum($"c".cast(d38) * $"cb" *
        (when($"v" < $"vb", 2L).when($"v" === $"vb", 1L).otherwise(0L))),
        lit(BigDecimal(0)).cast(d38)).as("two_j"))
    val gm = cells.groupBy($"g").agg(sum($"c").as("ng"))
      .agg(sum($"ng").as("nn"),
        sum($"ng".cast(d38) * $"ng").as("sn2"),
        sum($"ng".cast(d38) * ($"ng" - 1L)).as("dd"),
        sum($"ng".cast(d38) * ($"ng" - 1L) * ($"ng" - 2L)).as("bb"),
        sum($"ng".cast(d38) * ($"ng" - 1L) * (lit(2L) * $"ng" + 5L))
          .as("ag"))
    val tm = cells.groupBy($"v").agg(sum($"c").as("t"))
      .agg(coalesce(sum($"t".cast(d38) * ($"t" - 1L)), lit(BigDecimal(0))
        .cast(d38)).as("ee"),
        coalesce(sum($"t".cast(d38) * ($"t" - 1L) * ($"t" - 2L)),
          lit(BigDecimal(0)).cast(d38)).as("cc"),
        coalesce(sum($"t".cast(d38) * ($"t" - 1L) * (lit(2L) * $"t" + 5L)),
          lit(BigDecimal(0)).cast(d38)).as("at"))
    val base = pairs.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
      .withColumn("four_e", $"nn".cast(d38) * $"nn" - $"sn2")
      .withColumn("z_num", lit(2L).cast(d38) * $"two_j" - $"four_e")
      .withColumn("a_term",
        $"nn".cast(d38) * ($"nn" - 1L) * (lit(2L) * $"nn" + 5L) -
          $"ag" - $"at")
      .withColumn("var_jt", when($"nn" > 2L,
        $"a_term".cast("double") / lit(72.0) +
          ($"bb" * $"cc").cast("double") /
            (lit(36L).cast(d38) * $"nn" * ($"nn" - 1L) * ($"nn" - 2L))
              .cast("double") +
          ($"dd" * $"ee").cast("double") /
            (lit(8L).cast(d38) * $"nn" * ($"nn" - 1L)).cast("double")))
    val z = $"z_num".cast("double") / (lit(4.0) * sqrt($"var_jt"))
    val ok = $"var_jt".isNotNull && $"var_jt" > 0.0
    base.select($"nn".as("n_rows"),
      $"two_j".cast("string").as("two_j"),
      $"four_e".cast("string").as("four_e"),
      $"var_jt",
      when(ok, z).as("z_jt"),
      coalesce(when(ok,
        abs(z) > lit(graft.queries.LlmOps.MwCritAlpha05)), lit(false))
        .as("ordered_trend"),
      when($"z_num" > 0, "increasing").when($"z_num" < 0, "decreasing")
        .otherwise("none").as("direction"))
  }

  /** Gini / Lorenz concentration census over per-customer revenue —
    * the INEQUALITY diagnostic beside q111's heavy hitters (hitters
    * name the top keys; Gini prices the whole distribution, the number
    * a mixture designer reads before rebalancing): with x sorted
    * ascending, G = (2Σi·x_(i) − (n+1)Σx)/(n·Σx). Ranks never need a
    * per-row window: over the revenue VALUE census a tied run of w
    * copies of x at positions cum_before+1..+w contributes
    * x·(2·w·cum_before + w(w+1)) to the DOUBLED rank sum — exact
    * decimal(38,0) throughout, ONE divide for G. The Lorenz headline
    * rides: the top-decile revenue share, selected EXACTLY on the
    * census (k = n div 10 units taken from the top, a straddling run
    * contributing min(w, k − cum_above) units). Closed-form laws
    * (spec): equal incomes ⇒ G = 0 and top share = k/n exactly; one
    * holder ⇒ G = (n−1)/n exactly. Scale: one grouped sum → value
    * census → two census-bounded windows; nothing per-row after the
    * first agg. */
  def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = Pinned.pin(Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(sum(cents($"o_totalprice")).as("x"))
      .groupBy($"x").agg(count(lit(1)).as("w"))) // read by both rank windows
    val wAsc = Window.orderBy($"x".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.orderBy($"x".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = Pinned.pin(census
      .withColumn("cum_before", sum($"w").over(wAsc) - $"w")
      .withColumn("cum_above", sum($"w").over(wDesc) - $"w")) // read by the moments + the top cut
    val g = ranked.agg(
      sum($"w").as("n"),
      sum($"w".cast(d38) * $"x").as("s"),
      sum($"x".cast(d38) *
        (lit(2L) * $"w" * $"cum_before" + $"w" * ($"w" + 1L))).as("s1x2"))
    val top = ranked.crossJoin(broadcast(g.select($"n".as("nn"))))
      .select((greatest(lit(0L),
        least($"w", expr("nn div 10") - $"cum_above")).cast(d38) * $"x")
        .as("take_x"))
      .agg(coalesce(sum($"take_x"), lit(BigDecimal(0)).cast(d38))
        .as("top_cents"))
    g.crossJoin(broadcast(top))
      .select($"n".as("n_customers"),
        $"s".cast("string").as("total_cents"),
        ($"s1x2" - ($"n" + 1L) * $"s").cast("string").as("gini_num"),
        when($"n" > 0L && $"s" > 0,
          ($"s1x2" - ($"n" + 1L) * $"s").cast("double") /
            ($"n".cast(d38) * $"s").cast("double")).as("gini"),
        expr("n div 10").as("top_decile_k"),
        when($"s" > 0, $"top_cents".cast("double") / $"s".cast("double"))
          .as("top_decile_share"))
  }

  /** Trimmed + winsorized mean census per order priority — the robust
    * LOCATION pair completing q166 (MAD spread) and q167 (weighted
    * median): a 10 %-per-tail trimmed mean DROPS the k = ⌊n/10⌋ most
    * extreme cents on each side; the winsorized mean CLAMPS them to the
    * surviving boundary values instead (keeping n constant — the
    * estimator regulators actually specify). Everything is EXACT
    * census selection, never a per-row sort: over the value census a
    * run of w copies at positions cum_before+1..+w contributes
    * max(0, min(cum_before+w, n−k) − max(cum_before, k)) units to the
    * trimmed window (straddling runs contribute partially), and the
    * boundary values x_lo/x_hi are the unique runs containing ranks
    * k+1 and n−k (a one-non-null conditional min per group — the q309
    * selection stance). Sums fold in decimal(38,0); the three means
    * are shared single divides. k = 0 (n < 10) collapses all three to
    * the plain mean — the documented small-group contract. Scale: one
    * grouped census; one census-bounded window per group. */
  def robustMeanCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = Tables.orders(s, dir)
      .groupBy($"o_orderpriority", cents($"o_totalprice").as("x"))
      .agg(count(lit(1)).as("w"))
    val wAsc = Window.partitionBy($"o_orderpriority").orderBy($"x".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = Pinned.pin(census
      .withColumn("cum_before", sum($"w").over(wAsc) - $"w")) // read by totals + the main agg
    val tot = ranked.groupBy($"o_orderpriority").agg(sum($"w").as("n"))
    val k = expr("n div 10")
    ranked.join(tot, "o_orderpriority")
      .groupBy($"o_orderpriority")
      .agg(max($"n").as("n"), max(k).as("trim_k"),
        sum($"w".cast(d38) * $"x").as("s_all"),
        sum((greatest(lit(0L),
          least($"cum_before" + $"w", $"n" - k) -
            greatest($"cum_before", k))).cast(d38) * $"x").as("s_trim"),
        min(when($"cum_before" < k + 1 &&
          $"cum_before" + $"w" >= k + 1, $"x")).as("x_lo"),
        min(when($"cum_before" < $"n" - k &&
          $"cum_before" + $"w" >= $"n" - k, $"x")).as("x_hi"))
      .select($"o_orderpriority", $"n", $"trim_k",
        ratio($"s_all", $"n").as("mean_cents"),
        ($"s_trim".cast("double") /
          ($"n" - lit(2L) * $"trim_k").cast("double")).as("trimmed_mean"),
        (($"s_trim" + $"trim_k".cast(d38) * $"x_lo" +
          $"trim_k".cast(d38) * $"x_hi").cast("double") /
          $"n".cast("double")).as("winsorized_mean"),
        $"x_lo", $"x_hi")
      .orderBy($"o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q289_fd_discovery" -> fdDiscovery,
    "q375_spearman_census" -> spearmanCensus,
    "q376_kendall_tau" -> kendallTau,
    "q423_ordinal_assoc_panel" -> ordinalAssocPanel,
    "q427_jonckheere_terpstra" -> jonckheereTerpstra,
    "q410_partial_correlation" -> partialCorrelation,
    "q412_ols_influence" -> olsInfluence,
    "q414_simpson_reversal" -> simpsonReversal,
    "q437_mantel_haenszel" -> mantelHaenszel,
    "q415_mean_excess_census" -> meanExcessCensus,
    "q389_robust_mean_census" -> robustMeanCensus,
    "q384_gini_concentration" -> giniConcentration,
    "q280_discount_elasticity" -> discountElasticity,
    "q281_shipping_delay_sla" -> shippingDelaySla,
    "q282_return_rate_trend" -> returnRateTrend,
    "q275_relationship_profile" -> Relational.relationshipProfile,
    "q276_column_profile" -> columnProfile,
    "q274_grouped_mode" -> groupedMode,
    "q266_topk_listagg" -> topkListagg,
    "q267_percent_of_parent" -> percentOfParent,
    "q259_reaggregation_invariance" -> reaggregationInvariance,
    "q255_basket_size_histogram" -> basketSizeHistogram,
    "q256_equiwidth_histogram" -> equiwidthHistogram,
    "q251_revenue_concentration" -> revenueConcentration,
    "q252_nation_trade_balance" -> nationTradeBalance,
    "q229_segment_migration" -> segmentMigration,
    "q230_price_volume_decomposition" -> priceVolumeDecomposition,
    "q224_rfm_segmentation" -> rfmSegmentation,
    "q225_expectation_audit" -> expectationAudit,
    "q222_ab_chi2_census" -> abChiSquareCensus,
    "q212_winsorized_stats" -> winsorizedStats,
    "q213_decile_lift" -> decileLift,
    "q201_benford_audit" -> benfordAudit,
    "q198_skew_census" -> skewCensus,
    "q195_corr_census" -> corrCensus,
    "q187_agg_multi_pivot" -> multiMeasurePivot,
    "q188_fn_nested_struct_hof" -> nestedStructHof,
    "q185_agg_equidepth_buckets" -> equiDepthBuckets,
    "q186_agg_minmax_normalize" -> minMaxNormalize,
    "q171_sliding_distinct_hll" -> slidingDistinctHll,
    "q169_pareto_frontier" -> paretoFrontier,
    "q168_agg_bloom_contract" -> bloomFilterContract,
    "q292_cms_frequency_contract" -> cmsFrequencyContract,
    "q308_cms_join_size_contract" -> cmsJoinSizeContract,
    "q309_exact_quantile_selection" -> exactQuantileSelection,
    "q313_quantile_sketch_rollup" -> quantileSketchRollup,
    "q310_kmv_intersection_census" -> kmvIntersectionCensus,
    "q166_agg_mad_outliers" -> madOutliers,
    "q167_agg_weighted_median" -> weightedMedian,
    "q162_stat_crosstab" -> crosstabAgg,
    "q144_agg_percentile_exact" -> percentileExact,
    "q137_agg_listagg" -> listaggAgg,
    "q124_agg_mode" -> modeAgg,
    "q91_agg_regression" -> regressionAgg,
    "q92_agg_hll_merge" -> hllMergeRollup,
    "q87_agg_stats_moments" -> statsMoments,
    "q88_agg_bitwise_bool" -> bitwiseBoolAgg,
    "q89_agg_arg_extremes" -> argExtremes,
    "q11_agg_multi_measure" -> multiMeasure,
    "q12_agg_count_distinct" -> countDistinctAgg,
    "q13_agg_rollup" -> rollupAgg,
    "q14_agg_cube" -> cubeAgg,
    "q36_grouping_sets" -> groupingSetsAgg,
    "q58_pivot" -> pivotAgg,
    "q79_unpivot" -> unpivotAgg,
    "q63_agg_quartiles" -> quartilesAgg,
    "q73_agg_approx_percentile" -> approxPercentileAgg,
    "q15_agg_filtered" -> filteredAgg,
    "q16_agg_string_agg" -> stringAgg,
    "q17_agg_udaf_weighted_mean" -> udafWeightedMean,
    "q18_agg_approx_distinct" -> approxDistinct,
    "q97_agg_bitmap_distinct" -> bitmapDistinctRollup,
    "q111_agg_heavy_hitters" -> heavyHitters,
    "q113_typed_mapgroups" -> typedMapGroups
  )

  /** Shared q375/q376 oracle prefix: the (flag, q, d) cell census. */
  private def rankCellsSql: String =
    s"""li AS (SELECT l_returnflag,
       |             CAST(l_quantity AS BIGINT) AS q,
       |             CAST(floor((l_discount) * 10000.0 + 0.5) AS BIGINT) AS d
       |      FROM lineitem),
       |cells AS MATERIALIZED (
       |  SELECT l_returnflag, q, d, CAST(count(*) AS BIGINT) AS cnt
       |  FROM li GROUP BY 1, 2, 3
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // census selection twins: partial-run trimming arithmetic, the two
    // boundary-rank conditional mins, VARCHAR-routed big casts
    "q389_robust_mean_census" ->
      s"""WITH census AS MATERIALIZED (
         |  SELECT o_orderpriority, x, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT o_orderpriority, ${centsSql("o_totalprice")} AS x
         |    FROM orders)
         |  GROUP BY 1, 2
         |), ranked AS MATERIALIZED (
         |  SELECT o_orderpriority, x, w,
         |         CAST(sum(w) OVER (PARTITION BY o_orderpriority
         |           ORDER BY x ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) - w AS cum_before
         |  FROM census
         |), tot AS (
         |  SELECT o_orderpriority, CAST(sum(w) AS BIGINT) AS n
         |  FROM ranked GROUP BY 1
         |), g AS (
         |  SELECT r.o_orderpriority, max(n) AS n,
         |         CAST(max(n // 10) AS BIGINT) AS trim_k,
         |         CAST(sum(CAST(w AS HUGEINT) * x) AS HUGEINT) AS s_all,
         |         CAST(sum(CAST(greatest(0,
         |               least(cum_before + w, n - n // 10)
         |                 - greatest(cum_before, n // 10)) AS HUGEINT) * x)
         |              AS HUGEINT) AS s_trim,
         |         min(CASE WHEN cum_before < n // 10 + 1
         |                   AND cum_before + w >= n // 10 + 1 THEN x END)
         |           AS x_lo,
         |         min(CASE WHEN cum_before < n - n // 10
         |                   AND cum_before + w >= n - n // 10 THEN x END)
         |           AS x_hi
         |  FROM ranked r JOIN tot t ON t.o_orderpriority = r.o_orderpriority
         |  GROUP BY 1
         |)
         |SELECT o_orderpriority, n, trim_k,
         |       CAST(CAST(s_all AS VARCHAR) AS DOUBLE)
         |         / CAST(n AS DOUBLE) AS mean_cents,
         |       CAST(CAST(s_trim AS VARCHAR) AS DOUBLE)
         |         / CAST(n - 2 * trim_k AS DOUBLE) AS trimmed_mean,
         |       CAST(CAST(s_trim + CAST(trim_k AS HUGEINT) * x_lo
         |                 + CAST(trim_k AS HUGEINT) * x_hi AS VARCHAR)
         |            AS DOUBLE) / CAST(n AS DOUBLE) AS winsorized_mean,
         |       CAST(x_lo AS BIGINT) AS x_lo, CAST(x_hi AS BIGINT) AS x_hi
         |FROM g
         |ORDER BY o_orderpriority""".stripMargin,
    // value census + doubled rank sums; the top-decile cut takes
    // min(w, k − cum_above) units from a straddling run
    "q384_gini_concentration" ->
      s"""WITH census AS MATERIALIZED (
         |  SELECT x, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT CAST(sum(c) AS BIGINT) AS x
         |    FROM (SELECT o_custkey, ${centsSql("o_totalprice")} AS c
         |          FROM orders)
         |    GROUP BY o_custkey)
         |  GROUP BY 1
         |), ranked AS MATERIALIZED (
         |  SELECT x, w,
         |         CAST(sum(w) OVER (ORDER BY x ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) - w AS cum_before,
         |         CAST(sum(w) OVER (ORDER BY x DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) - w AS cum_above
         |  FROM census
         |), g AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS n,
         |         CAST(sum(CAST(w AS HUGEINT) * x) AS HUGEINT) AS s,
         |         CAST(sum(CAST(x AS HUGEINT)
         |           * (2 * w * cum_before + w * (w + 1))) AS HUGEINT) AS s1x2
         |  FROM ranked
         |), topc AS (
         |  SELECT CAST(coalesce(sum(
         |           CAST(greatest(0, least(w, (SELECT n FROM g) // 10
         |                                    - cum_above)) AS HUGEINT) * x),
         |           0) AS HUGEINT) AS top_cents
         |  FROM ranked
         |)
         |SELECT n AS n_customers, CAST(s AS VARCHAR) AS total_cents,
         |       CAST(s1x2 - (n + 1) * s AS VARCHAR) AS gini_num,
         |       CASE WHEN n > 0 AND s > 0 THEN
         |         CAST(s1x2 - (n + 1) * s AS DOUBLE)
         |           / CAST(CAST(n AS HUGEINT) * s AS DOUBLE) END AS gini,
         |       n // 10 AS top_decile_k,
         |       CASE WHEN s > 0 THEN
         |         CAST(top_cents AS DOUBLE) / CAST(s AS DOUBLE)
         |       END AS top_decile_share
         |FROM g, topc""".stripMargin,
    // ONE 12-cell conditional agg over the fixed {A,N,R} strata →
    // fixed-order three-term rational sums → single-divide OR_MH +
    // the split-factor CMH variance tree
    "q437_mantel_haenszel" -> {
      def dbl(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
      def n(i: Int) = s"(a$i + b$i + c$i + d$i)"
      def term(x: String, y: String, i: Int) =
        s"CASE WHEN ${n(i)} > 0 THEN ${dbl(s"CAST($x$i AS HUGEINT) * $y$i")}" +
          s" / CAST(${n(i)} AS DOUBLE) ELSE 0.0 END"
      def eTerm(i: Int) =
        s"CASE WHEN ${n(i)} > 0 THEN " +
          dbl(s"CAST(a$i + b$i AS HUGEINT) * (a$i + c$i)") +
          s" / CAST(${n(i)} AS DOUBLE) ELSE 0.0 END"
      def vTerm(i: Int) =
        s"CASE WHEN ${n(i)} > 1 THEN " +
          dbl(s"CAST(a$i + b$i AS HUGEINT) * (c$i + d$i)") +
          s" / CAST(${n(i)} AS DOUBLE) * (" +
          dbl(s"CAST(a$i + c$i AS HUGEINT) * (b$i + d$i)") +
          s" / CAST(${n(i)} AS DOUBLE)) / CAST(${n(i)} - 1 AS DOUBLE) " +
          "ELSE 0.0 END"
      def cell(f: String, pfx: String, e: String, y: String) =
        s"CAST(sum(CASE WHEN g = '$f' AND e = $e AND y = $y THEN 1 ELSE 0 " +
          s"END) AS BIGINT) AS $pfx"
      val cells = Seq(("A", 0), ("N", 1), ("R", 2)).flatMap { case (f, i) =>
        Seq(cell(f, s"a$i", "TRUE", "TRUE"), cell(f, s"b$i", "TRUE", "FALSE"),
          cell(f, s"c$i", "FALSE", "TRUE"), cell(f, s"d$i", "FALSE", "FALSE"))
      }.mkString(",\n         |         ")
      val orNum = s"(${term("a", "d", 0)} + ${term("a", "d", 1)} + " +
        s"${term("a", "d", 2)})"
      val orDen = s"(${term("b", "c", 0)} + ${term("b", "c", 1)} + " +
        s"${term("b", "c", 2)})"
      val sumA = "CAST(a0 + a1 + a2 AS DOUBLE)"
      val sumE = s"(${eTerm(0)} + ${eTerm(1)} + ${eTerm(2)})"
      val sumV = s"(${vTerm(0)} + ${vTerm(1)} + ${vTerm(2)})"
      val chi2 = s"(($sumA - $sumE) * ($sumA - $sumE) / $sumV)"
      val crude = "CASE WHEN (b0 + b1 + b2) > 0 AND (c0 + c1 + c2) > 0 " +
        s"THEN ${dbl("CAST(a0 + a1 + a2 AS HUGEINT) * (d0 + d1 + d2)")} / " +
        s"${dbl("CAST(b0 + b1 + b2 AS HUGEINT) * (c0 + c1 + c2)")} END"
      s"""WITH g AS (
         |  SELECT $cells
         |  FROM (SELECT l_returnflag AS g,
         |               ${centsSql("l_discount")} >= 5 AS e,
         |               l_quantity > 25.0 AS y
         |        FROM lineitem)
         |)
         |SELECT CAST(CASE WHEN ${n(0)} > 0 THEN 1 ELSE 0 END
         |        + CASE WHEN ${n(1)} > 0 THEN 1 ELSE 0 END
         |        + CASE WHEN ${n(2)} > 0 THEN 1 ELSE 0 END AS BIGINT)
         |         AS n_strata,
         |       a0 + a1 + a2 AS n_exposed_bulk,
         |       b0 + b1 + b2 AS n_exposed_small,
         |       c0 + c1 + c2 AS n_unexposed_bulk,
         |       d0 + d1 + d2 AS n_unexposed_small,
         |       $crude AS crude_or,
         |       CASE WHEN $orDen > 0.0 THEN $orNum / $orDen END AS mh_or,
         |       CASE WHEN $sumV > 0.0 THEN $chi2 END AS chi2_cmh,
         |       coalesce(CASE WHEN $sumV > 0.0 THEN
         |                $chi2 > ${graft.queries.LlmOps.Chi2Crit95.head} END,
         |                FALSE) AS cmh_sig,
         |       coalesce(CASE WHEN $orDen > 0.0
         |                     AND ($crude) IS NOT NULL THEN
         |                (($crude) - 1.0) * ($orNum / $orDen - 1.0) < 0.0
         |                END, FALSE) AS reversal
         |FROM g""".stripMargin
    },
    // value census → three exact ceil-rank selections → broadcast-theta
    // excess fold (numerator HUGEINT, shared divides)
    "q415_mean_excess_census" ->
      s"""WITH census AS MATERIALIZED (
         |  SELECT ${centsSql("o_totalprice")} AS v,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM orders GROUP BY 1
         |), cums AS (
         |  SELECT v, CAST(sum(c) OVER (ORDER BY v
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |  FROM census
         |), nt AS (SELECT ${sumLongSql("c")} AS n FROM census),
         |thr AS MATERIALIZED (
         |  SELECT pct, max(n) AS n,
         |         min(CASE WHEN cum >= (pct * n + 99) // 100
         |                   AND (pct * n + 99) // 100 >= 1 THEN v END) AS u
         |  FROM cums, nt, (SELECT unnest([90, 95, 99]) AS pct)
         |  GROUP BY pct
         |), g AS (
         |  SELECT pct, u, ${sumLongSql("c")} AS n_exceed,
         |         CAST(sum(CAST(c AS HUGEINT) * (v - u)) AS HUGEINT)
         |           AS sum_excess,
         |         ${sumLongSql(
             "c * (CAST(length(bin(v)) AS BIGINT) - CAST(length(bin(u)) AS BIGINT))")}
         |           AS sum_bits
         |  FROM census, thr WHERE v > u
         |  GROUP BY 1, 2
         |)
         |SELECT CAST(t.pct AS BIGINT) AS pct, t.n AS n_orders,
         |       t.u AS threshold_cents,
         |       coalesce(g.n_exceed, 0) AS n_exceed,
         |       CASE WHEN g.n_exceed > 0 THEN
         |         CAST(CAST(g.sum_excess AS VARCHAR) AS DOUBLE)
         |           / CAST(g.n_exceed AS DOUBLE) END AS mean_excess_cents,
         |       CASE WHEN g.n_exceed > 0 AND t.u > 0 THEN
         |         CAST(CAST(g.sum_excess AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(CAST(g.n_exceed AS HUGEINT) * t.u AS VARCHAR)
         |                  AS DOUBLE) END AS me_over_u,
         |       CASE WHEN g.n_exceed > 0
         |            THEN ${ratioSql("g.sum_bits", "g.n_exceed")} END
         |         AS dyadic_tail_bits
         |FROM thr t LEFT JOIN g ON g.pct = t.pct
         |ORDER BY t.pct""".stripMargin,
    // the q410 r tree at two grains (flag / flag×stratum) → a
    // census-sized sign fold; NULL strata counted, never reversed
    "q414_simpson_reversal" -> {
      def rSql(pre: String) =
        s"CASE WHEN CAST(${pre}n AS HUGEINT) * ${pre}sxx " +
          s"- ${pre}sx * ${pre}sx > 0 " +
          s"AND CAST(${pre}n AS HUGEINT) * ${pre}syy " +
          s"- ${pre}sy * ${pre}sy > 0 THEN " +
          s"CAST(CAST(CAST(${pre}n AS HUGEINT) * ${pre}sxy " +
          s"- ${pre}sx * ${pre}sy AS VARCHAR) AS DOUBLE) " +
          s"/ (sqrt(CAST(CAST(CAST(${pre}n AS HUGEINT) * ${pre}sxx " +
          s"- ${pre}sx * ${pre}sx AS VARCHAR) AS DOUBLE)) " +
          s"* sqrt(CAST(CAST(CAST(${pre}n AS HUGEINT) * ${pre}syy " +
          s"- ${pre}sy * ${pre}sy AS VARCHAR) AS DOUBLE))) END"
      val momSql = "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy, " +
        "CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, " +
        "CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy, " +
        "CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy"
      s"""WITH b AS MATERIALIZED (
         |  SELECT l_returnflag,
         |         CAST(l_quantity AS BIGINT) AS x,
         |         ${centsSql("l_extendedprice")} AS y,
         |         ${centsSql("l_discount")} AS z
         |  FROM lineitem
         |), pooled AS (
         |  SELECT l_returnflag, ${rSql("")} AS r_pooled
         |  FROM (SELECT l_returnflag, $momSql FROM b GROUP BY 1)
         |), strata AS (
         |  SELECT l_returnflag, z, ${rSql("")} AS r_stratum
         |  FROM (SELECT l_returnflag, z, $momSql FROM b GROUP BY 1, 2)
         |)
         |SELECT s.l_returnflag, max(r_pooled) AS r_pooled,
         |       count(*) AS n_strata,
         |       ${sumLongSql("CASE WHEN r_stratum IS NOT NULL THEN 1 ELSE 0 END")}
         |         AS n_strata_defined,
         |       ${sumLongSql("CASE WHEN r_stratum * r_pooled < 0.0 THEN 1 ELSE 0 END")}
         |         AS n_reversed,
         |       min(r_stratum) AS min_stratum_r,
         |       max(r_stratum) AS max_stratum_r,
         |       (sum(CASE WHEN r_stratum IS NOT NULL THEN 1 ELSE 0 END) > 0
         |        AND sum(CASE WHEN r_stratum * r_pooled < 0.0
         |                THEN 1 ELSE 0 END)
         |            = sum(CASE WHEN r_stratum IS NOT NULL THEN 1 ELSE 0 END))
         |         AS all_reversed
         |FROM strata s JOIN pooled p ON p.l_returnflag = s.l_returnflag
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // one exact moment agg per flag (VARCHAR-routed), closed-form SSE
    // (no float sum crosses a shuffle), per-row influence trees, a
    // total-ordered top-15
    "q412_ols_influence" ->
      s"""WITH b AS (
         |  SELECT l_orderkey, l_linenumber, l_returnflag,
         |         CAST(l_quantity AS BIGINT) AS x,
         |         ${centsSql("l_extendedprice")} AS y
         |  FROM lineitem
         |), m AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS HUGEINT) AS sx,
         |         CAST(sum(y) AS HUGEINT) AS sy,
         |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM b GROUP BY 1
         |), st AS MATERIALIZED (
         |  SELECT l_returnflag, n, sx, sy,
         |         CAST(n AS HUGEINT) * sxx - sx * sx AS dd,
         |         CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(CAST(n AS HUGEINT) * sxx - sx * sx
         |                  AS VARCHAR) AS DOUBLE) AS slope,
         |         sxy, syy
         |  FROM m WHERE n > 2 AND CAST(n AS HUGEINT) * sxx - sx * sx > 0
         |), st2 AS MATERIALIZED (
         |  SELECT l_returnflag, n, sx, sy, dd, slope,
         |         (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
         |          - slope * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
         |           / CAST(n AS DOUBLE) AS icept,
         |         (CAST(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS VARCHAR)
         |               AS DOUBLE)
         |          - slope * CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy
         |                     AS VARCHAR) AS DOUBLE))
         |           / CAST(CAST(CAST(n AS HUGEINT) * (n - 2) AS VARCHAR)
         |                  AS DOUBLE) AS s2
         |  FROM st
         |), sc AS (
         |  SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.x, b.y,
         |         slope, icept,
         |         CAST(b.y AS DOUBLE)
         |           - (icept + slope * CAST(b.x AS DOUBLE)) AS resid,
         |         1.0 / CAST(n AS DOUBLE)
         |           + CAST(CAST(CAST(n * b.x AS HUGEINT) - sx AS VARCHAR)
         |                  AS DOUBLE)
         |             * CAST(CAST(CAST(n * b.x AS HUGEINT) - sx AS VARCHAR)
         |                    AS DOUBLE)
         |             / CAST(CAST(CAST(n AS HUGEINT) * dd AS VARCHAR)
         |                    AS DOUBLE) AS leverage,
         |         s2
         |  FROM b JOIN st2 USING (l_returnflag)
         |)
         |SELECT l_orderkey, l_linenumber, l_returnflag,
         |       x AS quantity, y AS price_cents,
         |       slope, icept AS intercept, leverage, resid,
         |       resid * resid * leverage
         |         / (2.0 * s2 * (1.0 - leverage) * (1.0 - leverage))
         |         AS cooks_d
         |FROM sc
         |ORDER BY cooks_d DESC, l_orderkey ASC, l_linenumber ASC
         |LIMIT 15""".stripMargin,
    // one 10-cell exact moment agg per flag; every r is the q375
    // two-sqrt tree (VARCHAR-routed), the partial one fixed tree on top
    "q410_partial_correlation" -> {
      def dSql(a: String) = s"CAST(CAST(CAST(n AS HUGEINT) * s$a$a " +
        s"- s$a * s$a AS VARCHAR) AS DOUBLE)"
      def rSql(a: String, b: String) =
        s"(CAST(CAST(CAST(n AS HUGEINT) * s$a$b - s$a * s$b AS VARCHAR) " +
          s"AS DOUBLE) / (sqrt(${dSql(a)}) * sqrt(${dSql(b)})))"
      val guard = "CAST(n AS HUGEINT) * sxx - sx * sx > 0 " +
        "AND CAST(n AS HUGEINT) * syy - sy * sy > 0 " +
        "AND CAST(n AS HUGEINT) * szz - sz * sz > 0"
      val pGuard = s"$guard AND 1.0 - ${rSql("x", "z")} * ${rSql("x", "z")} > 0.0 " +
        s"AND 1.0 - ${rSql("y", "z")} * ${rSql("y", "z")} > 0.0"
      s"""WITH b AS (
         |  SELECT l_returnflag,
         |         CAST(l_quantity AS BIGINT) AS x,
         |         ${centsSql("l_extendedprice")} AS y,
         |         ${centsSql("l_discount")} AS z
         |  FROM lineitem
         |), m AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS HUGEINT) AS sx,
         |         CAST(sum(y) AS HUGEINT) AS sy,
         |         CAST(sum(z) AS HUGEINT) AS sz,
         |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |         CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         |         CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
         |  FROM b GROUP BY 1
         |)
         |SELECT l_returnflag, n,
         |       CASE WHEN $guard THEN ${rSql("x", "y")} END AS r_xy,
         |       CASE WHEN $guard THEN ${rSql("x", "z")} END AS r_xz,
         |       CASE WHEN $guard THEN ${rSql("y", "z")} END AS r_yz,
         |       CASE WHEN $pGuard THEN
         |         (${rSql("x", "y")} - ${rSql("x", "z")} * ${rSql("y", "z")})
         |           / (sqrt(1.0 - ${rSql("x", "z")} * ${rSql("x", "z")})
         |              * sqrt(1.0 - ${rSql("y", "z")} * ${rSql("y", "z")}))
         |       END AS r_xy_given_z
         |FROM m ORDER BY l_returnflag""".stripMargin
    },
    "q375_spearman_census" ->
      s"""WITH $rankCellsSql,
         |qm AS (
         |  SELECT l_returnflag, q,
         |         2 * (CAST(sum(wv) OVER (PARTITION BY l_returnflag ORDER BY q
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) - wv) + wv + 1 AS drq
         |  FROM (SELECT l_returnflag, q, CAST(sum(cnt) AS BIGINT) AS wv
         |        FROM cells GROUP BY 1, 2)
         |),
         |dm AS (
         |  SELECT l_returnflag, d,
         |         2 * (CAST(sum(wv) OVER (PARTITION BY l_returnflag ORDER BY d
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) - wv) + wv + 1 AS drd
         |  FROM (SELECT l_returnflag, d, CAST(sum(cnt) AS BIGINT) AS wv
         |        FROM cells GROUP BY 1, 2)
         |),
         |g AS (
         |  SELECT c.l_returnflag, CAST(sum(c.cnt) AS BIGINT) AS n,
         |         sum(CAST(c.cnt AS HUGEINT) * qm.drq) AS sx,
         |         sum(CAST(c.cnt AS HUGEINT) * dm.drd) AS sy,
         |         sum(CAST(c.cnt AS HUGEINT) * qm.drq * qm.drq) AS sxx,
         |         sum(CAST(c.cnt AS HUGEINT) * dm.drd * dm.drd) AS syy,
         |         sum(CAST(c.cnt AS HUGEINT) * qm.drq * dm.drd) AS sxy,
         |         sum(CAST(c.cnt AS HUGEINT) * c.q) AS px,
         |         sum(CAST(c.cnt AS HUGEINT) * c.d) AS py,
         |         sum(CAST(c.cnt AS HUGEINT) * c.q * c.q) AS pxx,
         |         sum(CAST(c.cnt AS HUGEINT) * c.d * c.d) AS pyy,
         |         sum(CAST(c.cnt AS HUGEINT) * c.q * c.d) AS pxy
         |  FROM cells c
         |  JOIN qm ON qm.l_returnflag = c.l_returnflag AND qm.q = c.q
         |  JOIN dm ON dm.l_returnflag = c.l_returnflag AND dm.d = c.d
         |  GROUP BY 1
         |)
         |SELECT l_returnflag, n,
         |       CASE WHEN n * pxx - px * px > 0 AND n * pyy - py * py > 0 THEN
         |         CAST(CAST(n * pxy - px * py AS VARCHAR) AS DOUBLE) /
         |           (sqrt(CAST(CAST(n * pxx - px * px AS VARCHAR) AS DOUBLE)) *
         |            sqrt(CAST(CAST(n * pyy - py * py AS VARCHAR) AS DOUBLE))) END AS r_pearson,
         |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         |         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
         |           (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)) *
         |            sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))) END AS rho_spearman
         |FROM g
         |ORDER BY l_returnflag""".stripMargin,
    "q376_kendall_tau" ->
      s"""WITH $rankCellsSql,
         |ps AS (
         |  SELECT a.l_returnflag,
         |         ${sumLongSql("CASE WHEN (a.q > b.q AND a.d > b.d) OR (a.q < b.q AND a.d < b.d) THEN a.cnt * b.cnt ELSE 0 END")}
         |           AS conc2,
         |         ${sumLongSql("CASE WHEN (a.q > b.q AND a.d < b.d) OR (a.q < b.q AND a.d > b.d) THEN a.cnt * b.cnt ELSE 0 END")}
         |           AS disc2
         |  FROM cells a JOIN cells b ON a.l_returnflag = b.l_returnflag
         |  GROUP BY 1
         |),
         |tq AS (
         |  SELECT l_returnflag, ${sumLongSql("t * (t - 1)")} AS tie_q2,
         |         ${sumLongSql("t")} AS n
         |  FROM (SELECT l_returnflag, q, CAST(sum(cnt) AS BIGINT) AS t
         |        FROM cells GROUP BY 1, 2)
         |  GROUP BY 1
         |),
         |td AS (
         |  SELECT l_returnflag, ${sumLongSql("t * (t - 1)")} AS tie_d2
         |  FROM (SELECT l_returnflag, d, CAST(sum(cnt) AS BIGINT) AS t
         |        FROM cells GROUP BY 1, 2)
         |  GROUP BY 1
         |)
         |SELECT ps.l_returnflag, n, conc2, disc2,
         |       CASE WHEN (n * (n - 1) - tie_q2) > 0
         |             AND (n * (n - 1) - tie_d2) > 0 THEN
         |         CAST(conc2 - disc2 AS DOUBLE) /
         |           sqrt(CAST(CAST(CAST(n * (n - 1) - tie_q2 AS HUGEINT)
         |                          * (n * (n - 1) - tie_d2) AS VARCHAR) AS DOUBLE))
         |       END AS tau_b
         |FROM ps
         |JOIN tq ON tq.l_returnflag = ps.l_returnflag
         |JOIN td ON td.l_returnflag = ps.l_returnflag
         |ORDER BY ps.l_returnflag""".stripMargin,
    // q376's pair fold + tie margins feeding four single-divide trees
    "q423_ordinal_assoc_panel" ->
      s"""WITH $rankCellsSql,
         |ps AS (
         |  SELECT a.l_returnflag,
         |         ${sumLongSql("CASE WHEN (a.q > b.q AND a.d > b.d) OR (a.q < b.q AND a.d < b.d) THEN a.cnt * b.cnt ELSE 0 END")}
         |           AS conc2,
         |         ${sumLongSql("CASE WHEN (a.q > b.q AND a.d < b.d) OR (a.q < b.q AND a.d > b.d) THEN a.cnt * b.cnt ELSE 0 END")}
         |           AS disc2
         |  FROM cells a JOIN cells b ON a.l_returnflag = b.l_returnflag
         |  GROUP BY 1
         |),
         |tq AS (
         |  SELECT l_returnflag, ${sumLongSql("t * (t - 1)")} AS tie_q2,
         |         ${sumLongSql("t")} AS n
         |  FROM (SELECT l_returnflag, q, CAST(sum(cnt) AS BIGINT) AS t
         |        FROM cells GROUP BY 1, 2)
         |  GROUP BY 1
         |),
         |td AS (
         |  SELECT l_returnflag, ${sumLongSql("t * (t - 1)")} AS tie_d2
         |  FROM (SELECT l_returnflag, d, CAST(sum(cnt) AS BIGINT) AS t
         |        FROM cells GROUP BY 1, 2)
         |  GROUP BY 1
         |)
         |SELECT ps.l_returnflag, n, conc2, disc2,
         |       CASE WHEN conc2 + disc2 > 0 THEN
         |         CAST(conc2 - disc2 AS DOUBLE)
         |           / CAST(conc2 + disc2 AS DOUBLE) END AS gk_gamma,
         |       CASE WHEN n * (n - 1) - tie_q2 > 0 THEN
         |         CAST(conc2 - disc2 AS DOUBLE)
         |           / CAST(n * (n - 1) - tie_q2 AS DOUBLE) END
         |         AS somers_d_given_q,
         |       CASE WHEN n * (n - 1) - tie_d2 > 0 THEN
         |         CAST(conc2 - disc2 AS DOUBLE)
         |           / CAST(n * (n - 1) - tie_d2 AS DOUBLE) END
         |         AS somers_q_given_d,
         |       CASE WHEN n * (n - 1) > 0 THEN
         |         CAST(conc2 - disc2 AS DOUBLE)
         |           / CAST(n * (n - 1) AS DOUBLE) END AS tau_a
         |FROM ps
         |JOIN tq ON tq.l_returnflag = ps.l_returnflag
         |JOIN td ON td.l_returnflag = ps.l_returnflag
         |ORDER BY ps.l_returnflag""".stripMargin,
    // the (priority, quantity) census → ordered census² pair fold →
    // the three exact tie-corrected variance ratios, one z tree
    "q427_jonckheere_terpstra" -> {
      val zSql = "(CAST(CAST(z_num AS VARCHAR) AS DOUBLE) " +
        "/ (4.0 * sqrt(var_jt)))"
      val okSql = "var_jt IS NOT NULL AND var_jt > 0.0"
      s"""WITH cells AS MATERIALIZED (
         |  SELECT g, v, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT o.o_orderpriority AS g,
         |               CAST(l.l_quantity AS BIGINT) AS v
         |        FROM (SELECT l_orderkey, l_quantity FROM lineitem) l
         |        JOIN (SELECT o_orderkey, o_orderpriority FROM orders) o
         |          ON o.o_orderkey = l.l_orderkey)
         |  GROUP BY 1, 2
         |), pr AS (
         |  SELECT coalesce(sum(CAST(a.c AS HUGEINT) * b.c
         |           * (CASE WHEN a.v < b.v THEN 2
         |                   WHEN a.v = b.v THEN 1 ELSE 0 END)),
         |         CAST(0 AS HUGEINT)) AS two_j
         |  FROM cells a JOIN cells b ON a.g < b.g
         |), gm AS (
         |  SELECT CAST(sum(ng) AS BIGINT) AS nn,
         |         sum(CAST(ng AS HUGEINT) * ng) AS sn2,
         |         sum(CAST(ng AS HUGEINT) * (ng - 1)) AS dd,
         |         sum(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS bb,
         |         sum(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS ag
         |  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS ng
         |        FROM cells GROUP BY 1)
         |), tm AS (
         |  SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1)),
         |           CAST(0 AS HUGEINT)) AS ee,
         |         coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)),
         |           CAST(0 AS HUGEINT)) AS cc,
         |         coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)),
         |           CAST(0 AS HUGEINT)) AS at
         |  FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t
         |        FROM cells GROUP BY 1)
         |), base AS (
         |  SELECT nn, two_j,
         |         CAST(nn AS HUGEINT) * nn - sn2 AS four_e,
         |         2 * two_j - (CAST(nn AS HUGEINT) * nn - sn2) AS z_num,
         |         CAST(nn AS HUGEINT) * (nn - 1) * (2 * nn + 5) - ag - at
         |           AS a_term,
         |         bb, cc, dd, ee
         |  FROM pr, gm, tm
         |), vj AS (
         |  SELECT *, CASE WHEN nn > 2 THEN
         |    CAST(CAST(a_term AS VARCHAR) AS DOUBLE) / 72.0
         |    + CAST(CAST(bb * cc AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(36 * CAST(nn AS HUGEINT) * (nn - 1) * (nn - 2)
         |             AS VARCHAR) AS DOUBLE)
         |    + CAST(CAST(dd * ee AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(8 * CAST(nn AS HUGEINT) * (nn - 1)
         |             AS VARCHAR) AS DOUBLE)
         |    END AS var_jt
         |  FROM base
         |)
         |SELECT nn AS n_rows,
         |       CAST(two_j AS VARCHAR) AS two_j,
         |       CAST(four_e AS VARCHAR) AS four_e,
         |       var_jt,
         |       CASE WHEN $okSql THEN $zSql END AS z_jt,
         |       coalesce(CASE WHEN $okSql THEN abs($zSql)
         |                > ${graft.queries.LlmOps.MwCritAlpha05} END, FALSE)
         |         AS ordered_trend,
         |       CASE WHEN z_num > 0 THEN 'increasing'
         |            WHEN z_num < 0 THEN 'decreasing'
         |            ELSE 'none' END AS direction
         |FROM vj""".stripMargin
    },
    "q289_fd_discovery" -> {
      def fdSql(lhs: String, rhs: String): String =
        s"""SELECT '$lhs->$rhs' AS fd,
           |       count(*) AS n_lhs_groups,
           |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           |       (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS nd
           |      FROM orders GROUP BY 1)""".stripMargin
      Seq(
        fdSql("o_orderkey", "o_orderstatus"),
        fdSql("o_custkey", "o_orderstatus"),
        fdSql("o_orderdate", "o_orderpriority"),
        fdSql("o_orderpriority", "o_orderstatus"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)\nORDER BY fd")
    },
    "q229_segment_migration" ->
      s"""WITH early AS (
         |  SELECT o_custkey, ntile(5) OVER (ORDER BY spend DESC, o_custkey ASC) AS q_early
         |  FROM (SELECT o_custkey, ${sumLongSql(centsSql("o_totalprice"))} AS spend
         |        FROM orders
         |        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         |        GROUP BY 1)
         |), late AS (
         |  SELECT o_custkey, ntile(5) OVER (ORDER BY spend DESC, o_custkey ASC) AS q_late
         |  FROM (SELECT o_custkey, ${sumLongSql(centsSql("o_totalprice"))} AS spend
         |        FROM orders
         |        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
         |          AND o_orderdate <  TIMESTAMP '2002-01-01 00:00:00'
         |        GROUP BY 1)
         |)
         |SELECT coalesce(q_early, 0) AS q_early, coalesce(q_late, 0) AS q_late,
         |       count(*) AS n_cust
         |FROM early FULL OUTER JOIN late USING (o_custkey)
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "q259_reaggregation_invariance" ->
      // rollup_exact asserted TRUE: if the Spark-side daily→monthly
      // re-roll ever diverges from the direct monthly (a double
      // accumulator sneaking back in), the hash compare fails.
      s"""SELECT l_returnflag,
         |       CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS mon,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS rev_direct,
         |       TRUE AS rollup_exact
         |FROM lineitem
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "q280_discount_elasticity" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(l_discount * 100.0 + 0.5) AS INT) AS discount_pct,
         |         count(*) AS n_lines,
         |         ${sumIntValuedSql("l_quantity")} AS sum_qty,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS rev_cents
         |  FROM lineitem
         |  GROUP BY 1
         |)
         |SELECT discount_pct, n_lines, sum_qty, rev_cents,
         |       ${ratioSql("sum_qty", "n_lines")} AS avg_qty
         |FROM b
         |ORDER BY discount_pct""".stripMargin,
    "q281_shipping_delay_sla" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS prio,
        |         CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                        CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), r AS (
        |  SELECT prio, delay_days,
        |         row_number() OVER (PARTITION BY prio ORDER BY delay_days ASC) AS rn,
        |         count(*) OVER (PARTITION BY prio) AS cnt
        |  FROM d
        |)
        |SELECT prio, CAST(max(cnt) AS BIGINT) AS n_lines,
        |       CAST(min(CASE WHEN rn * 2 >= cnt THEN delay_days END) AS BIGINT) AS p50_days,
        |       CAST(min(CASE WHEN rn * 10 >= cnt * 9 THEN delay_days END) AS BIGINT) AS p90_days,
        |       CAST(max(delay_days) AS BIGINT) AS max_days
        |FROM r GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q282_return_rate_trend" ->
      s"""WITH m AS (
         |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS mon,
         |         count(*) AS n_lines,
         |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
         |  FROM lineitem GROUP BY 1
         |), r AS (
         |  SELECT mon, n_lines, n_returned,
         |         ${ratioSql("n_returned", "n_lines")} AS return_rate
         |  FROM m
         |)
         |SELECT mon, n_lines, n_returned, return_rate,
         |       return_rate - lag(return_rate) OVER (ORDER BY mon ASC) AS rate_delta
         |FROM r
         |ORDER BY mon""".stripMargin,
    "q275_relationship_profile" ->
      """SELECT * FROM (
        |  SELECT 'lineitem->orders' AS relationship,
        |         CAST(max(coalesce(ln, 0)) AS BIGINT) AS max_left,
        |         CAST(max(coalesce(rn, 0)) AS BIGINT) AS max_right,
        |         CAST(sum(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_orphans,
        |         CAST(sum(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS right_only,
        |         (CASE WHEN max(coalesce(ln, 0)) > 1 THEN 'N' ELSE '1' END || ':' ||
        |          CASE WHEN max(coalesce(rn, 0)) > 1 THEN 'N' ELSE '1' END) AS cardinality
        |  FROM (SELECT l_orderkey AS k, count(*) AS ln FROM lineitem GROUP BY 1) l
        |  FULL OUTER JOIN (SELECT o_orderkey AS k, count(*) AS rn FROM orders GROUP BY 1) r
        |    ON l.k = r.k
        |  UNION ALL
        |  SELECT 'lineitem->part',
        |         CAST(max(coalesce(ln, 0)) AS BIGINT),
        |         CAST(max(coalesce(rn, 0)) AS BIGINT),
        |         CAST(sum(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         (CASE WHEN max(coalesce(ln, 0)) > 1 THEN 'N' ELSE '1' END || ':' ||
        |          CASE WHEN max(coalesce(rn, 0)) > 1 THEN 'N' ELSE '1' END)
        |  FROM (SELECT l_partkey AS k, count(*) AS ln FROM lineitem GROUP BY 1) l
        |  FULL OUTER JOIN (SELECT p_partkey AS k, count(*) AS rn FROM part GROUP BY 1) r
        |    ON l.k = r.k
        |  UNION ALL
        |  SELECT 'orders->customer',
        |         CAST(max(coalesce(ln, 0)) AS BIGINT),
        |         CAST(max(coalesce(rn, 0)) AS BIGINT),
        |         CAST(sum(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         (CASE WHEN max(coalesce(ln, 0)) > 1 THEN 'N' ELSE '1' END || ':' ||
        |          CASE WHEN max(coalesce(rn, 0)) > 1 THEN 'N' ELSE '1' END)
        |  FROM (SELECT o_custkey AS k, count(*) AS ln FROM orders GROUP BY 1) l
        |  FULL OUTER JOIN (SELECT c_custkey AS k, count(*) AS rn FROM customer GROUP BY 1) r
        |    ON l.k = r.k
        |)
        |ORDER BY relationship""".stripMargin,
    "q276_column_profile" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         ${centsSql("o_totalprice")} AS price_cents,
         |         CAST(o_orderdate AS DATE) AS order_date,
         |         o_orderpriority
         |  FROM orders
         |)
         |SELECT col_name, n_rows, n_nulls, n_distinct, min_str, max_str FROM (
         |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
         |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         |         min(CAST(o_orderkey AS VARCHAR)) AS min_str,
         |         max(CAST(o_orderkey AS VARCHAR)) AS max_str FROM o
         |  UNION ALL
         |  SELECT 'o_custkey', count(*),
         |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |         CAST(count(DISTINCT o_custkey) AS BIGINT),
         |         min(CAST(o_custkey AS VARCHAR)), max(CAST(o_custkey AS VARCHAR)) FROM o
         |  UNION ALL
         |  SELECT 'o_orderstatus', count(*),
         |         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |         CAST(count(DISTINCT o_orderstatus) AS BIGINT),
         |         min(o_orderstatus), max(o_orderstatus) FROM o
         |  UNION ALL
         |  SELECT 'price_cents', count(*),
         |         CAST(sum(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |         CAST(count(DISTINCT price_cents) AS BIGINT),
         |         min(CAST(price_cents AS VARCHAR)), max(CAST(price_cents AS VARCHAR)) FROM o
         |  UNION ALL
         |  SELECT 'order_date', count(*),
         |         CAST(sum(CASE WHEN order_date IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |         CAST(count(DISTINCT order_date) AS BIGINT),
         |         min(CAST(order_date AS VARCHAR)), max(CAST(order_date AS VARCHAR)) FROM o
         |  UNION ALL
         |  SELECT 'o_orderpriority', count(*),
         |         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |         CAST(count(DISTINCT o_orderpriority) AS BIGINT),
         |         min(o_orderpriority), max(o_orderpriority) FROM o
         |)
         |ORDER BY col_name""".stripMargin,
    "q274_grouped_mode" ->
      """WITH counts AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
        |         event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), m AS (
        |  SELECT user_id, week, event_type AS mode_type,
        |         row_number() OVER (PARTITION BY user_id, week
        |                            ORDER BY cnt DESC, event_type ASC) AS rn
        |  FROM counts
        |)
        |SELECT week, mode_type, count(*) AS n_users
        |FROM m WHERE rn = 1
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q266_topk_listagg" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${sumLongSql(centsSql("o_totalprice"))} AS cents
         |  FROM orders GROUP BY 1
         |), ranked AS (
         |  SELECT n_name, c_name, cents,
         |         row_number() OVER (PARTITION BY n_name
         |                            ORDER BY cents DESC, o_custkey ASC) AS rn
         |  FROM spend
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |)
         |SELECT n_name,
         |       array_to_string(list(c_name || ':' || CAST(cents AS VARCHAR)
         |                            ORDER BY rn), ',') AS top3,
         |       CAST(sum(cents) AS BIGINT) AS top3_cents
         |FROM ranked WHERE rn <= 3
         |GROUP BY 1
         |ORDER BY n_name""".stripMargin,
    "q267_percent_of_parent" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${sumLongSql(centsSql("o_totalprice"))} AS cents
         |  FROM orders GROUP BY 1
         |), grid AS (
         |  SELECT r_name AS region, n_name AS nation,
         |         CAST(sum(cents) AS BIGINT) AS cents
         |  FROM spend
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  GROUP BY 1, 2
         |), dec AS (
         |  SELECT region, nation, cents,
         |         CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT) AS region_cents,
         |         CAST(sum(cents) OVER () AS BIGINT) AS total_cents
         |  FROM grid
         |)
         |SELECT region, nation, cents,
         |       ${ratioSql("cents", "region_cents")} AS pct_of_region,
         |       region_cents,
         |       ${ratioSql("region_cents", "total_cents")} AS region_pct_of_total
         |FROM dec
         |ORDER BY region, nation""".stripMargin,
    "q255_basket_size_histogram" ->
      s"""WITH per AS (
         |  SELECT o_orderkey, count(l_orderkey) AS n_lines,
         |         coalesce(${sumIntValuedSql("l_quantity")}, 0) AS qty_total
         |  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1
         |), hist AS (
         |  SELECT n_lines, count(*) AS n_orders,
         |         CAST(sum(qty_total) AS BIGINT) AS qty_sum
         |  FROM per GROUP BY 1
         |)
         |SELECT n_lines, n_orders, qty_sum,
         |       ${ratioSql("n_orders", "(SELECT sum(n_orders) FROM hist)")} AS share
         |FROM hist
         |ORDER BY n_lines""".stripMargin,
    "q256_equiwidth_histogram" ->
      s"""WITH c AS (
         |  SELECT ${centsSql("o_totalprice")} AS v FROM orders
         |), ext AS (SELECT min(v) AS lo, max(v) AS hi FROM c)
         |SELECT CAST(((v - lo) * 16) // (hi - lo + 1) AS INT) AS bucket,
         |       count(*) AS n_orders,
         |       min(v) AS bucket_min_cents, max(v) AS bucket_max_cents
         |FROM c CROSS JOIN ext
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "q251_revenue_concentration" ->
      s"""WITH pc AS (
         |  SELECT o_custkey, ${sumLongSql(centsSql("o_totalprice"))} AS cents
         |  FROM orders GROUP BY 1
         |), ranked AS (
         |  SELECT cents,
         |         CAST(row_number() OVER (ORDER BY cents DESC, o_custkey ASC) AS BIGINT) AS rn,
         |         sum(cents) OVER (ORDER BY cents DESC, o_custkey ASC
         |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM pc
         |), tot AS (
         |  SELECT CAST(max(rn) AS BIGINT) AS n_cust, CAST(max(cum) AS BIGINT) AS total
         |  FROM ranked
         |), c AS (
         |  SELECT CAST(min(CASE WHEN cum * 100 >= 10 * total THEN rn END) AS BIGINT) AS c10,
         |         CAST(min(CASE WHEN cum * 100 >= 50 * total THEN rn END) AS BIGINT) AS c50,
         |         CAST(min(CASE WHEN cum * 100 >= 90 * total THEN rn END) AS BIGINT) AS c90,
         |         CAST(max(n_cust) AS BIGINT) AS n_cust
         |  FROM ranked CROSS JOIN tot
         |)
         |SELECT pct_revenue, n_customers,
         |       ${ratioSql("n_customers", "n_cust")} AS customer_share
         |FROM (
         |  SELECT CAST(10 AS INT) AS pct_revenue, c10 AS n_customers, n_cust FROM c
         |  UNION ALL SELECT 50, c50, n_cust FROM c
         |  UNION ALL SELECT 90, c90, n_cust FROM c
         |)
         |ORDER BY pct_revenue""".stripMargin,
    "q252_nation_trade_balance" ->
      s"""WITH exports AS (
         |  SELECT n_name AS nation,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS export_cents
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY 1
         |), imports AS (
         |  SELECT n_name AS nation,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS import_cents
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1
         |)
         |SELECT coalesce(e.nation, i.nation) AS nation,
         |       coalesce(export_cents, 0) AS export_cents,
         |       coalesce(import_cents, 0) AS import_cents,
         |       coalesce(export_cents, 0) - coalesce(import_cents, 0) AS balance_cents,
         |       ${ratioSql("coalesce(export_cents, 0)",
                           "nullif(coalesce(import_cents, 0), 0)")} AS export_import_ratio
         |FROM exports e FULL OUTER JOIN imports i ON e.nation = i.nation
         |ORDER BY 1""".stripMargin,
    "q230_price_volume_decomposition" ->
      s"""WITH by_year AS (
         |  SELECT p_brand, CAST(year(l_shipdate) AS INT) AS yr,
         |         ${sumIntValuedSql("l_quantity")} AS qty,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS rev_cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE CAST(year(l_shipdate) AS INT) IN (1999, 2000)
         |  GROUP BY 1, 2
         |)
         |SELECT a.p_brand, a.qty AS q1, b.qty AS q2,
         |       a.rev_cents AS r1, b.rev_cents AS r2,
         |       CAST(b.qty - a.qty AS DOUBLE) * ${ratioSql("a.rev_cents", "a.qty")} AS volume_effect,
         |       CAST(b.rev_cents AS DOUBLE)
         |         - CAST(b.qty AS DOUBLE) * ${ratioSql("a.rev_cents", "a.qty")} AS price_effect
         |FROM (SELECT * FROM by_year WHERE yr = 1999) a
         |JOIN (SELECT * FROM by_year WHERE yr = 2000) b ON a.p_brand = b.p_brand
         |ORDER BY a.p_brand""".stripMargin,
    "q224_rfm_segmentation" ->
      s"""WITH rfm AS (
         |  SELECT o_custkey,
         |         date_diff('day', CAST(max(o_orderdate) AS DATE),
         |                   DATE '2002-01-01') AS rec_days,
         |         count(*) AS freq,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS mon_cents
         |  FROM orders GROUP BY 1
         |), scored AS (
         |  SELECT mon_cents,
         |         ntile(5) OVER (ORDER BY rec_days ASC, o_custkey ASC) AS r_q,
         |         ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_q,
         |         ntile(5) OVER (ORDER BY mon_cents DESC, o_custkey ASC) AS m_q
         |  FROM rfm
         |)
         |SELECT r_q, f_q, m_q, count(*) AS n_cust,
         |       ${sumLongSql("mon_cents")} AS seg_cents
         |FROM scored GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,
    "q225_expectation_audit" ->
      // The Spark side is one conditional-sum pass per table; the oracle
      // favors readability (one SELECT per check) — same integers.
      s"""SELECT * FROM (
         |SELECT 'lineitem' AS tbl, 'qty_le_49' AS check_name, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN l_quantity > 49 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
         |FROM lineitem
         |UNION ALL
         |SELECT 'lineitem', 'disc_range', count(*),
         |       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
         |FROM lineitem
         |UNION ALL
         |SELECT 'lineitem', 'price_positive', count(*),
         |       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |FROM lineitem
         |UNION ALL
         |SELECT 'orders', 'status_domain', count(*),
         |       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'orders', 'total_positive', count(*),
         |       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'orders', 'date_bounds', count(*),
         |       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'customer', 'acctbal_not_null', count(*),
         |       CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |FROM customer
         |UNION ALL
         |SELECT 'customer', 'segment_not_null', count(*),
         |       CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |FROM customer
         |UNION ALL
         |SELECT 'part', 'size_range', count(*),
         |       CAST(sum(CASE WHEN p_size < 1 OR p_size > 50 THEN 1 ELSE 0 END) AS BIGINT)
         |FROM part
         |)
         |ORDER BY tbl, check_name""".stripMargin,
    "q222_ab_chi2_census" ->
      s"""WITH o AS (
         |  SELECT CAST(user_id % 2 AS INT) AS variant, event_type,
         |         count(*) AS o
         |  FROM events GROUP BY 1, 2
         |), r AS (SELECT variant, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
         |c AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
         |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
         |cells AS (
         |  SELECT variant, event_type, o, r, c, n,
         |         CAST(CAST(o AS HUGEINT) * CAST(n AS HUGEINT)
         |              - CAST(r AS HUGEINT) * CAST(c AS HUGEINT) AS DOUBLE) AS dd
         |  FROM o JOIN r USING (variant) JOIN c USING (event_type) CROSS JOIN n
         |)
         |SELECT variant, event_type, o, r, c, n,
         |       (dd * dd) / ((CAST(n AS DOUBLE) * CAST(r AS DOUBLE)) * CAST(c AS DOUBLE)) AS chi2_cell
         |FROM cells
         |ORDER BY variant, event_type""".stripMargin,
    "q212_winsorized_stats" ->
      s"""WITH o AS (
         |  SELECT o_orderpriority AS prio, ${centsSql("o_totalprice")} AS pc
         |  FROM orders
         |), ranked AS (
         |  SELECT prio, pc,
         |         row_number() OVER (PARTITION BY prio ORDER BY pc ASC) AS rn,
         |         count(*) OVER (PARTITION BY prio) AS n
         |  FROM o
         |), edges AS (
         |  SELECT prio AS e_prio, min(pc) AS lo, max(pc) AS hi
         |  FROM ranked
         |  WHERE rn = CAST(ceil(n * 0.01) AS BIGINT)
         |     OR rn = CAST(ceil(n * 0.99) AS BIGINT)
         |  GROUP BY 1
         |)
         |SELECT prio, count(*) AS n_orders,
         |       ${sumLongSql("GREATEST(LEAST(pc, hi), lo)")} AS wsum_cents,
         |       ${sumLongSql("CASE WHEN pc < lo OR pc > hi THEN 1 ELSE 0 END")} AS n_clipped,
         |       ${ratioSql(s"${sumLongSql("GREATEST(LEAST(pc, hi), lo)")}", "count(*)")} AS winsor_mean_cents
         |FROM o JOIN edges ON prio = e_prio
         |GROUP BY prio
         |ORDER BY prio""".stripMargin,
    "q213_decile_lift" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${sumLongSql(centsSql("o_totalprice"))} AS spend
         |  FROM orders GROUP BY 1
         |), deciled AS (
         |  SELECT spend,
         |         ntile(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS decile
         |  FROM spend
         |), tot AS (SELECT ${sumLongSql("spend")} AS total_spend FROM spend),
         |by_decile AS (
         |  SELECT decile, count(*) AS n_cust, ${sumLongSql("spend")} AS decile_spend
         |  FROM deciled GROUP BY 1
         |)
         |SELECT decile, n_cust, decile_spend,
         |       ${ratioSql("decile_spend", "total_spend")} AS share,
         |       ${ratioSql(
             "sum(decile_spend) OVER (ORDER BY decile ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
             "total_spend")} AS cum_share
         |FROM by_decile CROSS JOIN tot
         |ORDER BY decile""".stripMargin,
    "q201_benford_audit" ->
      s"""WITH digits AS (
         |  SELECT CAST(substring(CAST(${centsSql("o_totalprice")} AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM orders
         |), census AS (
         |  SELECT digit, count(*) AS n FROM digits
         |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1
         |), tot AS (
         |  SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM census
         |)
         |SELECT digit, n,
         |       ${ratioSql("n", "total")} AS share,
         |       ${ratioSql("n", "total")} - list_extract(
         |         [${BenfordShares.map(d => s"${d}e0").mkString(", ")}],
         |         digit) AS dev_from_benford
         |FROM tot ORDER BY digit""".stripMargin,
    "q198_skew_census" ->
      """WITH ko AS (SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
        |ks AS (SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
        |co AS (SELECT 'l_orderkey' AS key_col,
        |              CAST(length(bin(cnt)) - 1 AS INT) AS bucket,
        |              count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows
        |       FROM ko GROUP BY 1, 2),
        |cs AS (SELECT 'l_suppkey' AS key_col,
        |              CAST(length(bin(cnt)) - 1 AS INT) AS bucket,
        |              count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows
        |       FROM ks GROUP BY 1, 2)
        |SELECT * FROM co UNION ALL SELECT * FROM cs
        |ORDER BY key_col, bucket""".stripMargin,
    "q195_corr_census" ->
      s"""WITH li AS (SELECT l_returnflag,
         |                   CAST(l_quantity AS BIGINT) AS q,
         |                   ${centsSql("l_extendedprice")} AS p,
         |                   CAST(floor((l_discount) * 10000.0 + 0.5) AS BIGINT) AS d
         |            FROM lineitem),
         |g AS (SELECT l_returnflag, count(*) AS n,
         |             CAST(sum(q) AS HUGEINT) AS sq0,
         |             CAST(sum(p) AS HUGEINT) AS sp,
         |             CAST(sum(d) AS HUGEINT) AS sd0,
         |             sum(CAST(q AS HUGEINT) * q) AS sqq,
         |             sum(CAST(p AS HUGEINT) * p) AS spp,
         |             sum(CAST(d AS HUGEINT) * d) AS sdd,
         |             sum(CAST(q AS HUGEINT) * p) AS sqp,
         |             sum(CAST(q AS HUGEINT) * d) AS sqd,
         |             sum(CAST(p AS HUGEINT) * d) AS spd
         |      FROM li GROUP BY 1),
         |c AS (SELECT l_returnflag, n,
         |             CAST(n * sqp - sq0 * sp AS DOUBLE) /
         |               (sqrt(CAST(n * sqq - sq0 * sq0 AS DOUBLE)) *
         |                sqrt(CAST(n * spp - sp * sp AS DOUBLE))) AS c_qty_price,
         |             CAST(n * sqd - sq0 * sd0 AS DOUBLE) /
         |               (sqrt(CAST(n * sqq - sq0 * sq0 AS DOUBLE)) *
         |                sqrt(CAST(n * sdd - sd0 * sd0 AS DOUBLE))) AS c_qty_disc,
         |             CAST(n * spd - sp * sd0 AS DOUBLE) /
         |               (sqrt(CAST(n * spp - sp * sp AS DOUBLE)) *
         |                sqrt(CAST(n * sdd - sd0 * sd0 AS DOUBLE))) AS c_price_disc
         |      FROM g)
         |SELECT l_returnflag, n, 'qty_price' AS pair, c_qty_price AS corr FROM c
         |UNION ALL
         |SELECT l_returnflag, n, 'qty_disc' AS pair, c_qty_disc AS corr FROM c
         |UNION ALL
         |SELECT l_returnflag, n, 'price_disc' AS pair, c_price_disc AS corr FROM c
         |ORDER BY l_returnflag, pair""".stripMargin,
    "q187_agg_multi_pivot" ->
      s"""SELECT o_orderpriority,
         |       count(*) FILTER (o_orderstatus = 'F') AS F_n,
         |       coalesce(${sumLongSql(s"CASE WHEN o_orderstatus = 'F' THEN ${centsSql("o_totalprice")} END")}, 0) AS F_cents,
         |       count(*) FILTER (o_orderstatus = 'O') AS O_n,
         |       coalesce(${sumLongSql(s"CASE WHEN o_orderstatus = 'O' THEN ${centsSql("o_totalprice")} END")}, 0) AS O_cents,
         |       count(*) FILTER (o_orderstatus = 'P') AS P_n,
         |       coalesce(${sumLongSql(s"CASE WHEN o_orderstatus = 'P' THEN ${centsSql("o_totalprice")} END")}, 0) AS P_cents
         |FROM orders
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q188_fn_nested_struct_hof" ->
      s"""SELECT o_custkey,
         |       CAST(len(arr) AS INT) AS n_orders,
         |       CAST(len(list_filter(arr, x -> x.pc > 20000000)) AS INT) AS n_big,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |              list_transform(arr, x -> x.pc)), (acc, x) -> acc + x)
         |            AS BIGINT) AS total_cents,
         |       arr[1].o_orderkey AS first_order
         |FROM (
         |  SELECT o_custkey,
         |         list_sort(list({'o_orderkey': o_orderkey, 'pc': pc})) AS arr
         |  FROM (SELECT o_custkey, o_orderkey,
         |               ${centsSql("o_totalprice")} AS pc
         |        FROM orders)
         |  GROUP BY o_custkey)
         |ORDER BY o_custkey""".stripMargin,
    "q185_agg_equidepth_buckets" ->
      s"""WITH li AS (
         |  SELECT l_returnflag, ${centsSql("l_quantity")} AS qc FROM lineitem
         |),
         |edges AS (
         |  SELECT l_returnflag,
         |         quantile_cont(qc, 0.25) AS p25,
         |         quantile_cont(qc, 0.5) AS p50,
         |         quantile_cont(qc, 0.75) AS p75
         |  FROM li GROUP BY l_returnflag
         |)
         |SELECT li.l_returnflag,
         |       CAST(CASE WHEN qc <= p25 THEN 1
         |                 WHEN qc <= p50 THEN 2
         |                 WHEN qc <= p75 THEN 3
         |                 ELSE 4 END AS INT) AS bin,
         |       count(*) AS n, min(qc) AS lo, max(qc) AS hi
         |FROM li JOIN edges USING (l_returnflag)
         |GROUP BY li.l_returnflag, bin
         |ORDER BY l_returnflag, bin""".stripMargin,
    "q186_agg_minmax_normalize" ->
      s"""SELECT l_returnflag, lo, hi,
         |       ${ratioSql("s - n * lo", "(hi - lo) * n")} AS scaled_mean
         |FROM (
         |  SELECT l_returnflag,
         |         min(pc) AS lo, max(pc) AS hi,
         |         ${sumLongSql("pc")} AS s, count(*) AS n
         |  FROM (SELECT l_returnflag, ${centsSql("l_extendedprice")} AS pc
         |        FROM lineitem)
         |  GROUP BY l_returnflag)
         |ORDER BY l_returnflag""".stripMargin,
    "q171_sliding_distinct_hll" ->
      """SELECT win_start, count(DISTINCT user_id) AS exact_users, TRUE AS est_ok
        |FROM (
        |  SELECT day - 6 + CAST(off AS INT) AS win_start, user_id
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |       unnest(range(0, 7)) t(off))
        |GROUP BY win_start
        |ORDER BY win_start""".stripMargin,
    "q169_pareto_frontier" ->
      s"""WITH pts AS (
         |  SELECT o_custkey, count(*) AS n_orders,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS spend_cents
         |  FROM orders GROUP BY o_custkey
         |),
         |w AS (
         |  SELECT o_custkey, n_orders, spend_cents,
         |         max(n_orders) OVER (ORDER BY spend_cents DESC
         |                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS best_richer,
         |         max(n_orders) OVER (PARTITION BY spend_cents) AS best_tie
         |  FROM pts
         |)
         |SELECT o_custkey, n_orders, spend_cents
         |FROM w
         |WHERE (best_richer IS NULL OR n_orders > best_richer)
         |  AND n_orders = best_tie
         |ORDER BY spend_cents DESC, o_custkey ASC""".stripMargin,
    // contract oracle (q18/q168 pattern): the exact panel counts and N
    // are re-derived from rows; both CMS guarantees are stated as the
    // constants the sketch must earn (no-underestimate is structural,
    // the eps-band is 4+ sigma at this sizing with the seed frozen).
    "q292_cms_frequency_contract" ->
      """WITH panel AS (
        |  SELECT s_suppkey FROM supplier ORDER BY s_suppkey LIMIT 10
        |), cnt AS (
        |  SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1
        |), n AS (SELECT count(*) AS n_total FROM lineitem)
        |SELECT s_suppkey,
        |       CAST(coalesce(c, 0) AS BIGINT) AS exact_cnt,
        |       (SELECT CAST(n_total AS BIGINT) FROM n) AS n_total,
        |       TRUE AS cms_no_underestimate,
        |       TRUE AS cms_within_eps
        |FROM panel LEFT JOIN cnt ON s_suppkey = l_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    // the KMV census is fully deterministic on the portable 40-bit digest,
    // so the oracle recomputes the ENTIRE sketch pipeline (k-sets, θ,
    // matches, estimate) — no contract flags, plain hash-exact agreement
    "q310_kmv_intersection_census" ->
      s"""WITH t AS (
         |  SELECT l_partkey, year(l_shipdate) AS yr FROM lineitem
         |  WHERE year(l_shipdate) IN (1996, 1997)
         |), ka AS MATERIALIZED (
         |  SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)), 1, 10)) AS BIGINT) AS h
         |  FROM t WHERE yr = 1996 ORDER BY h LIMIT 256
         |), kb AS MATERIALIZED (
         |  SELECT DISTINCT CAST(('0x' || substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)), 1, 10)) AS BIGINT) AS h
         |  FROM t WHERE yr = 1997 ORDER BY h LIMIT 256
         |), th AS (
         |  SELECT max(h) AS theta
         |  FROM (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
         |        ORDER BY h LIMIT 256)
         |), nm AS (
         |  SELECT count(*) AS n_match
         |  FROM ka JOIN kb USING (h)
         |  WHERE h <= (SELECT theta FROM th)
         |), ex AS (
         |  SELECT CAST(sum(in_a) AS BIGINT) AS n_a_distinct,
         |         CAST(sum(in_b) AS BIGINT) AS n_b_distinct,
         |         CAST(sum(in_a * in_b) AS BIGINT) AS n_intersect_exact
         |  FROM (SELECT l_partkey,
         |               max(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS in_a,
         |               max(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS in_b
         |        FROM t GROUP BY 1)
         |)
         |SELECT n_a_distinct, n_b_distinct, n_intersect_exact,
         |       theta, CAST(n_match AS BIGINT) AS n_match,
         |       ${ratioSql("n_match * 1099511627776", "theta")} AS est_intersect
         |FROM ex, th, nm""".stripMargin,
    // the oracle is the naive global-order formulation of the same rank
    // rule (min v with 100·cum ≥ p·n) — the narrowing must agree exactly
    "q309_exact_quantile_selection" ->
      s"""WITH v AS (SELECT ${centsSql("l_extendedprice")} AS v FROM lineitem),
         |n AS (SELECT count(*) AS n FROM v),
         |c AS (SELECT v, count(*) AS c FROM v GROUP BY 1),
         |w AS MATERIALIZED (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM c)
         |SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_lines,
         |       (SELECT min(v) FROM w WHERE cum * 100 >= (SELECT n FROM n) * 50) AS p50_cents,
         |       (SELECT min(v) FROM w WHERE cum * 100 >= (SELECT n FROM n) * 90) AS p90_cents,
         |       (SELECT min(v) FROM w WHERE cum * 100 >= (SELECT n FROM n) * 99) AS p99_cents""".stripMargin,
    // full replica oracle: the histogram sketch, its cell-wise rollup,
    // the rank reads, AND both contract flags are pure integer
    // arithmetic, so DuckDB re-derives every cell (stronger than the
    // stated-constant pattern — a broken merge diverges numerically,
    // not just boolean-ly). Window sums ride bounded censuses; HUGEINT
    // stays internal (n_rows is CAST).
    "q313_quantile_sketch_rollup" ->
      s"""WITH v AS (SELECT l_returnflag AS rf, ${centsSql("l_extendedprice")} AS pc FROM lineitem),
         |leaf AS (SELECT rf, (pc >> 16) AS b, count(*) AS c FROM v GROUP BY 1, 2),
         |parent AS (SELECT b, sum(c) AS c FROM leaf GROUP BY 1),
         |lc AS (SELECT rf AS scope, b, c FROM leaf UNION ALL SELECT '*', b, c FROM parent),
         |lw AS (SELECT scope, b,
         |              sum(c) OVER (PARTITION BY scope ORDER BY b) AS cum,
         |              sum(c) OVER (PARTITION BY scope) AS n
         |       FROM lc),
         |est AS (SELECT scope, CAST(max(n) AS BIGINT) AS n_rows,
         |               (min(b) >= 0 AND max(b) < 16384) AS domain_ok,
         |               CAST((min(b) FILTER (WHERE cum * 100 >= n * 50)) * 65536 AS BIGINT) AS p50_sketch_cents,
         |               CAST((min(b) FILTER (WHERE cum * 100 >= n * 90)) * 65536 AS BIGINT) AS p90_sketch_cents,
         |               CAST((min(b) FILTER (WHERE cum * 100 >= n * 99)) * 65536 AS BIGINT) AS p99_sketch_cents
         |        FROM lw GROUP BY scope),
         |exl AS (SELECT rf, pc, count(*) AS c FROM v GROUP BY 1, 2),
         |exp AS (SELECT pc, sum(c) AS c FROM exl GROUP BY 1),
         |exc AS (SELECT rf AS scope, pc, c FROM exl UNION ALL SELECT '*', pc, c FROM exp),
         |exw AS (SELECT scope, pc,
         |               sum(c) OVER (PARTITION BY scope ORDER BY pc) AS cum,
         |               sum(c) OVER (PARTITION BY scope) AS n
         |        FROM exc),
         |ex AS (SELECT scope,
         |              min(pc) FILTER (WHERE cum * 100 >= n * 50) AS p50_exact,
         |              min(pc) FILTER (WHERE cum * 100 >= n * 90) AS p90_exact,
         |              min(pc) FILTER (WHERE cum * 100 >= n * 99) AS p99_exact
         |       FROM exw GROUP BY scope)
         |SELECT e.scope, e.n_rows, e.domain_ok,
         |       e.p50_sketch_cents, e.p90_sketch_cents, e.p99_sketch_cents,
         |       x.p50_exact, x.p90_exact, x.p99_exact,
         |       (e.p50_sketch_cents <= x.p50_exact AND x.p50_exact < e.p50_sketch_cents + 65536
         |        AND e.p90_sketch_cents <= x.p90_exact AND x.p90_exact < e.p90_sketch_cents + 65536
         |        AND e.p99_sketch_cents <= x.p99_exact AND x.p99_exact < e.p99_sketch_cents + 65536) AS sketch_rank_ok
         |FROM est e JOIN ex x USING (scope)
         |ORDER BY scope""".stripMargin,
    // contract oracle (q292/q18 pattern): the exact join size is the
    // ground truth the sketch estimate is graded against; both CM
    // inner-product guarantees are stated as the constants the Spark
    // side must earn. Σ ca·cb folds in HUGEINT/decimal internally but
    // the OUTPUT column is BIGINT (exact to 9.2×10¹⁸ pairs) — raw
    // DECIMAL output columns violate the portability rule.
    "q308_cms_join_size_contract" ->
      """WITH t AS (
        |  SELECT l_suppkey, year(l_shipdate) AS yr
        |  FROM lineitem
        |  WHERE year(l_shipdate) IN (1996, 1997)
        |), per AS (
        |  SELECT l_suppkey,
        |         sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS cb
        |  FROM t GROUP BY 1
        |)
        |SELECT (SELECT CAST(count(*) FILTER (WHERE yr = 1996) AS BIGINT) FROM t) AS n_a,
        |       (SELECT CAST(count(*) FILTER (WHERE yr = 1997) AS BIGINT) FROM t) AS n_b,
        |       CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS n_pairs_exact,
        |       TRUE AS cms_no_underestimate,
        |       TRUE AS cms_within_eps
        |FROM per""".stripMargin,
    // contract oracle (q18 pattern): member misses MUST be zero (bloom
    // false negatives are impossible) and the FP rate must respect the
    // sizing bound — both stated as constants the Spark side must earn.
    "q168_agg_bloom_contract" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_members,
        |       CAST(0 AS BIGINT) AS n_member_misses,
        |       TRUE AS fp_ok
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q166_agg_mad_outliers" ->
      s"""WITH li AS (
         |  SELECT l_returnflag, ${centsSql("l_quantity")} AS qc FROM lineitem
         |),
         |meds AS (
         |  SELECT l_returnflag, quantile_cont(qc, 0.5) AS med
         |  FROM li GROUP BY l_returnflag
         |),
         |wad AS (
         |  SELECT li.l_returnflag, qc, med, abs(qc - med) AS ad
         |  FROM li JOIN meds USING (l_returnflag)
         |),
         |stats AS (
         |  SELECT l_returnflag, min(med) AS med, quantile_cont(ad, 0.5) AS mad,
         |         count(*) AS n
         |  FROM wad GROUP BY l_returnflag
         |)
         |SELECT s.l_returnflag, s.n, s.med, s.mad,
         |       coalesce(o.n_outliers, 0) AS n_outliers
         |FROM stats s
         |LEFT JOIN (
         |  SELECT w.l_returnflag, count(*) AS n_outliers
         |  FROM wad w JOIN stats st USING (l_returnflag)
         |  WHERE w.ad > st.mad * 3.0
         |  GROUP BY w.l_returnflag) o USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin,
    "q167_agg_weighted_median" ->
      s"""WITH li AS (
         |  SELECT l_returnflag, ${centsSql("l_extendedprice")} AS pc,
         |         CAST(l_quantity AS BIGINT) AS qty
         |  FROM lineitem
         |),
         |cum AS (
         |  SELECT l_returnflag, pc,
         |         CAST(sum(qty) OVER (PARTITION BY l_returnflag ORDER BY pc ASC
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) AS w_cum
         |  FROM li
         |),
         |tot AS (
         |  SELECT l_returnflag, CAST(sum(qty) AS BIGINT) AS w_total
         |  FROM li GROUP BY l_returnflag
         |)
         |SELECT l_returnflag,
         |       min(pc) AS w_median_cents,
         |       min(w_total) AS w_total
         |FROM cum JOIN tot USING (l_returnflag)
         |WHERE w_cum * 2 >= w_total
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "q162_stat_crosstab" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |       count(*) FILTER (o_orderstatus = 'O') AS n_o,
        |       count(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY prio""".stripMargin,
    "q144_agg_percentile_exact" ->
      s"""SELECT l_returnflag,
         |       count(*) AS n,
         |       CAST(quantile_cont(qc, 0.25) AS DOUBLE) AS p25,
         |       CAST(quantile_cont(qc, 0.5) AS DOUBLE) AS p50,
         |       CAST(quantile_cont(qc, 0.75) AS DOUBLE) AS p75,
         |       CAST(median(qc) AS DOUBLE) AS med
         |FROM (SELECT l_returnflag, ${centsSql("l_quantity")} AS qc
         |      FROM lineitem)
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "q137_agg_listagg" ->
      """SELECT s_nationkey,
        |       string_agg(s_name, ',' ORDER BY s_name) AS names,
        |       count(*) AS n_supp
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    "q124_agg_mode" ->
      """WITH li AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty
        |            FROM lineitem),
        |c AS (SELECT l_returnflag, qty, count(*) AS cnt FROM li GROUP BY 1, 2),
        |r1 AS (SELECT *, max(cnt) OVER (PARTITION BY l_returnflag) AS maxc FROM c),
        |r2 AS (SELECT *,
        |              row_number() OVER (PARTITION BY l_returnflag
        |                                 ORDER BY cnt DESC, qty ASC) AS rn,
        |              sum(CASE WHEN cnt = maxc THEN 1 ELSE 0 END)
        |                OVER (PARTITION BY l_returnflag) AS n_tied
        |       FROM r1),
        |n AS (SELECT l_returnflag, mode(qty) AS native_mode FROM li GROUP BY 1)
        |SELECT r2.l_returnflag,
        |       r2.qty AS mode_qty,
        |       CAST(r2.cnt AS BIGINT) AS mode_cnt,
        |       r2.n_tied > 1 AS tied,
        |       (r2.n_tied > 1 OR n.native_mode = r2.qty) AS native_ok
        |FROM r2 JOIN n ON r2.l_returnflag = n.l_returnflag
        |WHERE r2.rn = 1
        |ORDER BY r2.l_returnflag""".stripMargin,
    "q91_agg_regression" ->
      s"""WITH li AS (SELECT l_returnflag,
         |                   ${centsSql("l_extendedprice")} AS pc,
         |                   CAST(l_quantity AS BIGINT) AS qty
         |            FROM lineitem),
         |g AS (SELECT l_returnflag,
         |             count(*) AS n,
         |             CAST(sum(pc) AS HUGEINT) AS sx,
         |             CAST(sum(qty) AS BIGINT) AS sy,
         |             sum(CAST(pc AS HUGEINT) * pc) AS sxx,
         |             sum(CAST(pc AS HUGEINT) * qty) AS sxy,
         |             CAST(sum(qty * qty) AS BIGINT) AS syy,
         |             regr_slope(CAST(pc AS DOUBLE), CAST(qty AS DOUBLE)) AS sl_n,
         |             regr_intercept(CAST(pc AS DOUBLE), CAST(qty AS DOUBLE)) AS ic_n,
         |             regr_r2(CAST(pc AS DOUBLE), CAST(qty AS DOUBLE)) AS r2_n,
         |             regr_count(CAST(pc AS DOUBLE), CAST(qty AS DOUBLE)) AS regr_n
         |      FROM li GROUP BY l_returnflag),
         |d AS (SELECT *,
         |             n * sxx - sx * sx AS num_v,
         |             n * sxy - sx * CAST(sy AS HUGEINT) AS num_c,
         |             n * syy - sy * sy AS num_y
         |      FROM g),
         |e AS (SELECT *,
         |             CAST(num_c AS DOUBLE) / CAST(num_y AS DOUBLE) AS slope,
         |             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS avgx,
         |             CAST(CAST(sx AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE) AS avgy
         |      FROM d)
         |SELECT l_returnflag,
         |       CAST(regr_n AS BIGINT) AS regr_count,
         |       avgx AS regr_avgx,
         |       avgy AS regr_avgy,
         |       abs(sl_n - slope) <= 1e-6 * (abs(slope) + 1.0) AS slope_ok,
         |       abs(ic_n - (avgy - slope * avgx))
         |         <= 1e-6 * (abs(avgy - slope * avgx) + 1.0) AS intercept_ok,
         |       abs(r2_n - (CAST(num_c AS DOUBLE) * CAST(num_c AS DOUBLE))
         |                  / (CAST(num_v AS DOUBLE) * CAST(num_y AS DOUBLE)))
         |         <= 1e-6 * (abs((CAST(num_c AS DOUBLE) * CAST(num_c AS DOUBLE))
         |                  / (CAST(num_v AS DOUBLE) * CAST(num_y AS DOUBLE))) + 1.0) AS r2_ok
         |FROM e
         |ORDER BY l_returnflag""".stripMargin,
    // Oracle asserts the merged sketch's contract (q18 pattern, through a
    // union): exact recomputed from rows, within-5% flag expected TRUE.
    "q92_agg_hll_merge" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS merged_within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Portable trees mirror statsMoments exactly where output values are
    // bit-exact (< 2^53 longs); the price-moment booleans re-check DuckDB's
    // OWN natives against the HUGEINT-exact tree — same 1e-6 hybrid band.
    "q87_agg_stats_moments" ->
      s"""WITH li AS (SELECT l_returnflag,
         |                   ${centsSql("l_extendedprice")} AS pc,
         |                   CAST(l_quantity AS BIGINT) AS qty
         |            FROM lineitem),
         |g AS (SELECT l_returnflag,
         |             count(*) AS n,
         |             CAST(sum(pc) AS HUGEINT) AS sx,
         |             CAST(sum(qty) AS BIGINT) AS sy,
         |             sum(CAST(pc AS HUGEINT) * pc) AS sxx,
         |             sum(CAST(pc AS HUGEINT) * qty) AS sxy,
         |             CAST(sum(qty * qty) AS BIGINT) AS syy,
         |             var_samp(CAST(pc AS DOUBLE)) AS v_n,
         |             stddev_samp(CAST(pc AS DOUBLE)) AS s_n,
         |             covar_samp(CAST(pc AS DOUBLE), CAST(qty AS DOUBLE)) AS cv_n,
         |             corr(CAST(pc AS DOUBLE), CAST(qty AS DOUBLE)) AS cr_n
         |      FROM li GROUP BY l_returnflag),
         |d AS (SELECT *,
         |             n * sxx - sx * sx AS num_v,
         |             n * sxy - sx * CAST(sy AS HUGEINT) AS num_c,
         |             n * syy - sy * sy AS num_y,
         |             CAST(n * (n - 1) AS DOUBLE) AS den
         |      FROM g)
         |SELECT l_returnflag,
         |       n AS n_rows,
         |       CAST(CAST(sx AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE) AS mean_price_cents,
         |       CAST(num_y AS DOUBLE) / den AS var_qty,
         |       sqrt(CAST(num_y AS DOUBLE) / den) AS stddev_qty,
         |       abs(v_n - CAST(num_v AS DOUBLE) / den)
         |         <= 1e-6 * (abs(CAST(num_v AS DOUBLE) / den) + 1.0) AS var_price_ok,
         |       abs(s_n - sqrt(CAST(num_v AS DOUBLE) / den))
         |         <= 1e-6 * (abs(sqrt(CAST(num_v AS DOUBLE) / den)) + 1.0) AS stddev_price_ok,
         |       abs(cv_n - CAST(num_c AS DOUBLE) / den)
         |         <= 1e-6 * (abs(CAST(num_c AS DOUBLE) / den) + 1.0) AS covar_ok,
         |       abs(cr_n - CAST(num_c AS DOUBLE) / (sqrt(CAST(num_v AS DOUBLE)) * sqrt(CAST(num_y AS DOUBLE))))
         |         <= 1e-6 * (abs(CAST(num_c AS DOUBLE) / (sqrt(CAST(num_v AS DOUBLE)) * sqrt(CAST(num_y AS DOUBLE)))) + 1.0) AS corr_ok
         |FROM d
         |ORDER BY l_returnflag""".stripMargin,
    "q88_agg_bitwise_bool" ->
      s"""SELECT o_orderpriority,
         |       count(*) AS n_rows,
         |       bit_and(h) AS h_and,
         |       bit_or(h) AS h_or,
         |       bit_xor(h) AS h_xor,
         |       bool_and(pc > 0) AS all_positive,
         |       bool_or(pc >= 45000000) AS any_over_450k
         |FROM (SELECT o_orderpriority,
         |             ${centsSql("o_totalprice")} AS pc,
         |             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10)) AS BIGINT) AS h
         |      FROM orders)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q89_agg_arg_extremes" ->
      s"""SELECT o_orderpriority,
         |       count(*) AS n_rows,
         |       median(pc) AS median_price_cents,
         |       arg_min(o_orderkey, cmp) AS cheapest_orderkey,
         |       arg_max(o_orderkey, cmp) AS priciest_orderkey,
         |       arg_min(o_orderstatus, cmp) AS cheapest_status,
         |       any_value(substr(o_orderpriority, 1, 1)) AS priority_digit
         |FROM (SELECT o_orderpriority, o_orderkey, o_orderstatus,
         |             ${centsSql("o_totalprice")} AS pc,
         |             ${centsSql("o_totalprice")} * 1000000000 + o_orderkey AS cmp
         |      FROM orders)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q11_agg_multi_measure" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       ${sumIntValuedSql("l_quantity")} AS sum_qty,
         |       ${sumLongSql(centsSql("l_extendedprice"))} AS sum_base_cents,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS sum_disc_cents,
         |       ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)"))} AS sum_charge_cents,
         |       count(*) AS n_rows,
         |       ${ratioSql(sumIntValuedSql("l_quantity"), "count(*)")} AS avg_qty,
         |       ${ratioSql(sumLongSql(centsSql("l_extendedprice")), "count(*)")} AS avg_price_cents
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q12_agg_count_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q13_agg_rollup" ->
      s"""SELECT r_name, n_name, count(*) AS n_cust,
         |       ${sumLongSql(centsSql("c_acctbal"))} AS acctbal_cents,
         |       CAST(grouping(r_name) AS INT) AS g_region,
         |       CAST(grouping(n_name) AS INT) AS g_nation
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY g_region, g_nation, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q14_agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         |       ${sumIntValuedSql("l_quantity")} AS sum_qty,
         |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
         |       CAST(grouping(l_linestatus) AS INT) AS g_ls
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q36_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         |       ${sumIntValuedSql("l_quantity")} AS sum_qty,
         |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
         |       CAST(grouping(l_linestatus) AS INT) AS g_ls
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q63_agg_quartiles" ->
      s"""SELECT l_returnflag,
         |       quantile_cont(pc, 0.25) AS q1_cents,
         |       quantile_cont(pc, 0.5) AS median_cents,
         |       quantile_cont(pc, 0.75) AS q3_cents,
         |       count(*) AS n_rows
         |FROM (SELECT l_returnflag, ${centsSql("l_extendedprice")} AS pc FROM lineitem)
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // lag/datediff window twin of the sequential mapGroups computation;
    // ISO date strings render identically from Spark Date.toString and
    // DuckDB VARCHAR casts.
    "q113_typed_mapgroups" ->
      """SELECT o_custkey AS custkey,
        |       count(*) AS n_orders,
        |       coalesce(max(gap), 0) AS max_gap_days,
        |       CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS first_order,
        |       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS last_order
        |FROM (
        |  SELECT o_custkey, o_orderdate,
        |         date_diff('day',
        |           CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS DATE),
        |           CAST(o_orderdate AS DATE)) AS gap
        |  FROM orders
        |)
        |GROUP BY o_custkey
        |ORDER BY custkey""".stripMargin,
    // Frequent-items census in the sketch's exact regime: the oracle
    // recomputes exact counts and asserts the sketch agreed (TRUE flag);
    // a lost item or drifted count flips the hash red.
    "q111_agg_heavy_hitters" ->
      """SELECT o_orderpriority,
        |       count(*) AS exact_cnt,
        |       CAST(count(*) AS BIGINT) AS sketch_cnt,
        |       TRUE AS sketch_exact
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // Exact nearest-rank p90/p99 recomputed via the same integer-rank
    // window formulation; the within-bound flags assert GK's contract TRUE
    // (the q18 pattern: a sketch regression flips the hash red).
    "q73_agg_approx_percentile" ->
      s"""WITH counts AS (
         |  SELECT l_returnflag, ${centsSql("l_extendedprice")} AS pc, count(*) AS cnt
         |  FROM lineitem GROUP BY 1, 2
         |), ranked AS (
         |  SELECT l_returnflag, pc, cnt,
         |         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY pc
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM counts
         |)
         |SELECT l_returnflag,
         |       CAST(max(n) AS BIGINT) AS n_rows,
         |       min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN pc END) AS p90_cents,
         |       min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN pc END) AS p99_cents,
         |       TRUE AS p90_within_bound,
         |       TRUE AS p99_within_bound
         |FROM ranked
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "q58_pivot" ->
      s"""SELECT l_linestatus,
         |       coalesce(CAST(sum(CASE WHEN l_returnflag = 'A' THEN ${centsSql("l_extendedprice")} END) AS BIGINT), 0) AS cents_a,
         |       coalesce(CAST(sum(CASE WHEN l_returnflag = 'N' THEN ${centsSql("l_extendedprice")} END) AS BIGINT), 0) AS cents_n,
         |       coalesce(CAST(sum(CASE WHEN l_returnflag = 'R' THEN ${centsSql("l_extendedprice")} END) AS BIGINT), 0) AS cents_r
         |FROM lineitem
         |GROUP BY l_linestatus
         |ORDER BY l_linestatus""".stripMargin,
    "q79_unpivot" ->
      s"""SELECT l_orderkey, l_linenumber, measure, value FROM (
         |  SELECT l_orderkey, l_linenumber, 'price_cents' AS measure,
         |         ${centsSql("l_extendedprice")} AS value
         |  FROM lineitem WHERE l_orderkey < 100
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, 'qty_l' AS measure,
         |         CAST(l_quantity AS BIGINT) AS value
         |  FROM lineitem WHERE l_orderkey < 100
         |)
         |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q15_agg_filtered" ->
      s"""SELECT o_orderpriority,
         |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
         |       count(*) FILTER (WHERE o_orderstatus <> 'F') AS n_other,
         |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN ${centsSql("o_totalprice")} ELSE 0 END) AS BIGINT) AS finished_cents,
         |       count(*) AS n_total
         |FROM orders
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q16_agg_string_agg" ->
      """SELECT n_name,
        |       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        |       count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q17_agg_udaf_weighted_mean" ->
      s"""SELECT p_brand,
         |       ${ratioSql(sumLongSql(centsSql("p_retailprice") + " * p_size"), sumIntValuedSql("p_size"))} AS wmean_price_cents,
         |       ${sumLongSql(centsSql("p_retailprice") + " * p_size")} AS wsum_cents,
         |       ${sumIntValuedSql("p_size")} AS wtot
         |FROM part
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,
    // The oracle asserts HLL's documented contract: exact count recomputed,
    // within-5% flag expected TRUE. A sketch regression flips the hash red.
    "q18_agg_approx_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS approx_within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Bitmaps are exact, so the oracle is plain COUNT(DISTINCT) at both
    // rollup levels — any bit-position/bucket/merge defect flips the hash.
    "q97_agg_bitmap_distinct" ->
      """SELECT prio, n_distinct_cust FROM (
        |  SELECT o_orderpriority AS prio,
        |         count(DISTINCT o_custkey) AS n_distinct_cust
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', count(DISTINCT o_custkey) FROM orders
        |)
        |ORDER BY prio""".stripMargin
  )
}
