package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Pinned
import Portable._

/** Time-series operators: calendar-spine gap fill, forward-fill (LOCF)
  * imputation, and bounded-interval overlap counting — the densify/impute/
  * overlap trio every metrics pipeline needs and naive SQL gets wrong or
  * quadratic.
  *
  * Scale principles: spines are generated from ONE aggregated row (never
  * collected to the driver), imputation is a per-key window (parallel
  * across keys), and interval overlap explodes bounded-length intervals
  * into per-day rows instead of running an inequality join — linear in
  * rows × interval length, with only (day) partials shuffling.
  */
object TimeSeries {

  /** Calendar-spine gap fill — densify a sparse (month, group) aggregate so
    * months with zero orders appear explicitly (charting/forecasting input
    * contract). The spine is sequence(min, max) exploded from the ONE-row
    * global extent aggregate crossed with the distinct group dims — a few
    * hundred rows, both sides broadcastable; the left join back to the
    * post-agg counts is dim-sized at any fact scale. No driver-side
    * collect: the extent row stays in the plan. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.orders(s, dir)
      .select(trunc(to_date($"o_orderdate"), "month").as("mon"),
        $"o_orderpriority".as("prio"))
      .groupBy($"mon", $"prio").agg(count(lit(1)).as("n_orders"))
    val months = counts.agg(min($"mon").as("lo"), max($"mon").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 month"))).as("mon"))
    val prios = counts.select($"prio").distinct()
    months.crossJoin(prios)
      .join(counts, Seq("mon", "prio"), "left")
      .select($"mon", $"prio", coalesce($"n_orders", lit(0L)).as("n_orders"))
      .orderBy($"mon", $"prio")
  }

  /** Forward-fill (LOCF) imputation — replace nulls in a per-user series
    * with the last observed value: `last(v, ignoreNulls)` over a running
    * row frame, the canonical sensor/price-series cleaning step. Gaps are
    * synthesized deterministically (event_id % 3) so the oracle replays
    * the identical series; leading nulls (no prior observation) stay null
    * in both engines. Values are COPIED, never computed, so doubles stay
    * bitwise identical. The window partitions by user — parallel across
    * the key space, state = one value per key. */
  def forwardFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .filter($"user_id" < 50)
      .withColumn("v",
        when($"event_id" % 3 === 0, lit(null).cast("double")).otherwise($"value"))
      .withColumn("v_filled", last($"v", ignoreNulls = true).over(w))
      .withColumn("was_gap", $"v".isNull)
      .select($"user_id", $"ts", $"event_id", $"v_filled", $"was_gap")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** Bounded-interval overlap census — "how many shipments are in transit
    * on each day": each lineitem covers [ship, ship + transit] where
    * transit = orderkey % 7 + 1 days (synthesized deterministically; the
    * fixture carries no receipt date). Instead of a day×interval
    * inequality join (quadratic, unprunable), each interval EXPLODES into
    * its covered days — linear in rows × max-transit (≤ 8), a map-side
    * generator — and a plain (day) groupBy counts coverage; only per-day
    * partials shuffle. This is the scale form of range-overlap joins
    * whenever interval length is bounded. */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select(
        to_date($"l_shipdate").as("ship"),
        ($"l_orderkey" % 7 + 1).cast("int").as("transit"),
        $"l_quantity".cast("long").as("qty"))
      .select(
        explode(sequence($"ship", date_add($"ship", $"transit"),
          expr("interval 1 day"))).as("day"),
        $"qty")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_in_transit"), sum($"qty").as("sum_qty"))
      .orderBy($"day")
  }

  /** Sequential conversion funnel — per user, the earliest view, the
    * earliest click AFTER that view, and the earliest purchase AFTER that
    * click (strict event-order semantics, not mere presence). Each step is
    * one filtered min-aggregate shuffled by user_id joined back to the
    * event stream — the standard scalable funnel: three passes, all
    * key-partitioned, no per-user event buffering, no window over the raw
    * stream. Left joins keep drop-off visible; `step_reached` encodes how
    * deep each user got. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" >= $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" >= $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select($"user_id",
        when($"t_purchase".isNotNull, 3)
          .when($"t_click".isNotNull, 2).otherwise(1).cast("int").as("step_reached"),
        $"t_view", $"t_click", $"t_purchase")
      .orderBy($"user_id")
  }

  /** Last-touch attribution — q172's mirror: each conversion credits the
    * channel of the LAST event strictly before the session's first
    * purchase (the other default every marketing stack ships). Total
    * orders on (ts, event_id) everywhere, so both "first purchase" and
    * "last prior touch" are engine-invariant; conversions whose purchase
    * opens the session credit 'direct'. Scale: the q61 sessionization
    * (one user_id window), then every join/agg stays on the already-
    * shuffled (user_id, sess_id) key; the census is ≤|event_types|+1
    * rows. */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(running))
    val conv = sess.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"sess_id")
      .agg(min($"ts").as("cts"),
        min_by($"event_id", struct($"ts", $"event_id")).as("ceid"))
    val credited = sess.join(conv, Seq("user_id", "sess_id"))
      .filter($"ts" < $"cts" ||
        ($"ts" === $"cts" && $"event_id" < $"ceid"))
      .groupBy($"user_id", $"sess_id")
      .agg(max_by($"event_type", struct($"ts", $"event_id")).as("last_touch"))
    conv.join(credited, Seq("user_id", "sess_id"), "left")
      .groupBy(coalesce($"last_touch", lit("direct")).as("last_touch"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy($"last_touch")
  }

  /** Position-based (U-shaped) attribution — the third member of the
    * attribution family and the remaining industry default (q172 first-
    * touch, q242 last-touch; this is the 40/20/40 rule every marketing
    * stack ships): per conversion the FIRST and LAST touch each earn
    * 40 % of the credit and the middle touches split 20 %. Credit is
    * EXACT INTEGER basis points (10 000 per conversion): middles get
    * 2000 div (n−2) each with the division remainder assigned to the
    * EARLIEST middle (Hamilton-style; documented, deterministic), so
    * Σ credit over channels ≡ 10 000 × conversions — conservation the
    * oracle re-derives, never a float split. Degenerate paths follow the
    * standard convention: one touch → 100 %, two → 50/50, none →
    * 'direct'. Same q61 sessionization and (ts, event_id) total order
    * as its siblings; the position windows ride the (user, session)
    * key — everything after the one sessionization window stays on
    * already-shuffled keys, census ≤ |event_types|+1 rows. */
  def positionAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(running))
    val conv = sess.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"sess_id")
      .agg(min($"ts").as("cts"),
        min_by($"event_id", struct($"ts", $"event_id")).as("ceid"))
    val touches = sess.join(conv, Seq("user_id", "sess_id"))
      .filter($"ts" < $"cts" || ($"ts" === $"cts" && $"event_id" < $"ceid"))
    val ws = Window.partitionBy($"user_id", $"sess_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val wn = Window.partitionBy($"user_id", $"sess_id")
    val credited = touches
      .withColumn("rn", row_number().over(ws).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("credit_bp",
        when($"n" === 1L, lit(10000L))
          .when($"n" === 2L, lit(5000L))
          .when($"rn" === 1L || $"rn" === $"n", lit(4000L))
          .otherwise(expr("2000 div (n - 2)") +
            when($"rn" === 2L, expr("2000 % (n - 2)")).otherwise(lit(0L))))
      .groupBy($"user_id", $"sess_id", $"event_type".as("channel"))
      .agg(sum($"credit_bp").as("credit_bp"))
    val direct = conv
      .join(credited.select($"user_id", $"sess_id").distinct(),
        Seq("user_id", "sess_id"), "left_anti")
      .select(lit("direct").as("channel"), lit(10000L).as("credit_bp"))
    credited.select($"channel", $"credit_bp")
      .unionAll(direct)
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_conversions_touched"),
        sum($"credit_bp").as("credit_bp"))
      .orderBy($"channel")
  }

  /** Funnel with STEP TIMEOUTS — q105's funnel where each step must
    * happen within its window (click ≤ 1 h after first view, purchase
    * ≤ 24 h after the qualifying click), the form real conversion
    * reporting uses (an untimed funnel credits a purchase months after
    * the ad). Same scale contract as q105: three user-keyed min-aggs,
    * each joining the previous step's one-row-per-user table on the
    * already-shuffled key; census is 3 rows + one broadcast total for
    * the share. */
  def funnelTimeout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" >= $"t_view" &&
        $"ts" <= $"t_view" + expr("INTERVAL 1 HOUR"))
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" >= $"t_click" &&
        $"ts" <= $"t_click" + expr("INTERVAL 24 HOURS"))
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    val steps = v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(
        when($"t_purchase".isNotNull, 3)
          .when($"t_click".isNotNull, 2).otherwise(1).cast("int")
          .as("step_reached"))
      .groupBy($"step_reached").agg(count(lit(1)).as("n_users"))
    val total = steps.agg(sum($"n_users").as("total"))
    steps.crossJoin(broadcast(total))
      .select($"step_reached", $"n_users",
        ratio($"n_users", $"total").as("share"))
      .orderBy($"step_reached")
  }

  /** Ordered-sequence pattern census (MATCH_RECOGNIZE-lite / CEP): how
    * far each session advances through the subsequence view → click →
    * purchase, gaps allowed — the event-pattern query CEP engines sell,
    * here as a prefix-automaton fold over each session's deterministic
    * sequence (q211's array_sort(collect_list(struct(ts, event_id, …)))
    * — collect_list alone is partition-order-dependent; the struct sort
    * restores the total order). The automaton is ONE `aggregate` HOF per
    * session — state bounded by the pattern length, cost bounded by
    * session length, no self-joins, no per-step passes (contrast q105,
    * which re-joins per step). Census: sessions per final state 0–3. */
  def sequencePatternCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(running))
      .groupBy($"user_id", $"sess_id")
      .agg(array_sort(collect_list(
        struct($"ts", $"event_id", $"event_type"))).as("evs"))
      .select(expr(
        "aggregate(evs, 0, (s, x) -> CASE" +
          " WHEN s = 0 AND x.event_type = 'view' THEN 1" +
          " WHEN s = 1 AND x.event_type = 'click' THEN 2" +
          " WHEN s = 2 AND x.event_type = 'purchase' THEN 3" +
          " ELSE s END)").cast("int").as("stage_reached"))
      .groupBy($"stage_reached")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"stage_reached")
  }

  /** Rank movers — the "biggest climbers and fallers" leaderboard: each
    * brand's revenue rank within its month vs its previous OBSERVED
    * month (lag over the brand's own month series; a brand absent for a
    * month compares to its last active one — stated semantics, not an
    * accident). Month key is year·100+month INTEGER arithmetic (
    * date_trunc timestamps re-open engine formatting trouble), ranks and
    * deltas are exact ints with brand tiebreaks. Scale: ONE fact shuffle
    * to the (brand, month) grid — vocab × months rows — then two windows
    * over that tiny grid; |movers| output bounded at 25. */
  def rankMovers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bm = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand",
        (year($"l_shipdate") * 100 + month($"l_shipdate")).as("mon"))
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("rev_cents"))
    val wMon = Window.partitionBy($"mon")
      .orderBy($"rev_cents".desc, $"p_brand".asc)
    val wBrand = Window.partitionBy($"p_brand").orderBy($"mon".asc)
    val ord = Seq(abs($"rank_delta").desc, $"mon".asc, $"p_brand".asc)
    bm.withColumn("rnk", rank().over(wMon))
      .withColumn("prev_rnk", lag($"rnk", 1).over(wBrand))
      .filter($"prev_rnk".isNotNull)
      .select($"mon", $"p_brand", $"rev_cents",
        $"rnk".cast("long").as("rnk"),
        $"prev_rnk".cast("long").as("prev_rnk"),
        ($"prev_rnk" - $"rnk").cast("long").as("rank_delta"))
      .orderBy(ord: _*).limit(25).orderBy(ord: _*)
  }

  /** OHLC bars (time-bucket downsampling) — the metrics-store staple:
    * per month, the OPEN (first by the (date, orderkey) total order),
    * HIGH, LOW, CLOSE (last by the same order) and volume of order
    * totals. open/close are argmin/argmax with integer tiebreaks
    * (min_by/max_by over a struct key — engine-invariant), high/low are
    * plain min/max, everything exact cents. One map-side collapse to
    * ≤|months| rows: the downsampling that turns a billion ticks into a
    * chartable series at any scale. */
  def ohlcBars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(
        (year($"o_orderdate") * 100 + month($"o_orderdate")).as("mon"),
        $"o_orderdate".as("ts"), $"o_orderkey".as("seq"),
        cents($"o_totalprice").as("v"))
      .groupBy($"mon")
      .agg(
        min_by($"v", struct($"ts", $"seq")).as("open_cents"),
        max($"v").as("high_cents"),
        min($"v").as("low_cents"),
        max_by($"v", struct($"ts", $"seq")).as("close_cents"),
        count(lit(1)).as("volume"))
      .orderBy($"mon")
  }

  /** Cohorted funnel — q164's acquisition cohorts crossed with q243's
    * TIMEOUT funnel: per first-seen-DAY cohort, how far its users get
    * through view → click(≤1h) → purchase(≤24h). The cross that answers
    * "are newer cohorts converting better", which neither the flat
    * funnel nor the retention grid shows. (Daily cohorts and the
    * timeout-constrained steps deliberately — the fixture's events span
    * one month and every user eventually converts, so weekly cohorts ×
    * untimed steps collapse to a single cell; the timed form
    * discriminates.) Scale: all inputs are one-row-per-user tables keyed
    * on user_id, so the joins and census ride the already-shuffled key;
    * output is ≤|days|·3 rows. */
  def funnelCohorted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
    val cohort = ev.groupBy($"user_id")
      .agg(min($"ts").cast("date").as("cohort_day"))
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" >= $"t_view" &&
        $"ts" <= $"t_view" + expr("INTERVAL 1 HOUR"))
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" >= $"t_click" &&
        $"ts" <= $"t_click" + expr("INTERVAL 24 HOURS"))
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .join(cohort, "user_id")
      .select($"cohort_day",
        when($"t_purchase".isNotNull, 3)
          .when($"t_click".isNotNull, 2).otherwise(1).cast("int")
          .as("step_reached"))
      .groupBy($"cohort_day", $"step_reached")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day", $"step_reached")
  }

  /** Exact proration (allocation spread) — each order's total spread
    * evenly across its month's days the way an accountant does it:
    * base = cents div days to every day, and the remainder distributed
    * one cent each to the FIRST (cents mod days) days — all integer
    * arithmetic, so Σ daily allocations == the original total by
    * construction (no "lost cents", the bug every float-share proration
    * ships). The fan-out is a bounded explode (≤31 rows/order, the q103
    * pattern), then one (month, day) collapse. */
  def exactProration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(
        (year($"o_orderdate") * 100 + month($"o_orderdate")).as("mon"),
        dayofmonth(last_day($"o_orderdate")).as("days"),
        cents($"o_totalprice").as("v"))
      .select($"mon", $"days", $"v",
        explode(sequence(lit(1), $"days")).as("dom"))
      .select($"mon", $"dom",
        (expr("v div days") +
          when($"dom" <= expr("v % days"), 1L).otherwise(0L)).as("alloc"))
      .groupBy($"mon", $"dom")
      .agg(sum($"alloc").as("alloc_cents"), count(lit(1)).as("n_orders"))
      .orderBy($"mon", $"dom")
  }

  /** Clamped running inventory — stock level per supplier-day where the
    * level FLOORS AT ZERO (you cannot ship what you do not have). The
    * naive reading is a non-associative sequential fold — unparallelizable
    * and inexpressible as a window sum — but clamping has a closed form:
    * L_t = S_t − min(0, min_{j≤t} S_j) (prefix sum minus its running
    * floor), which turns the scan into TWO ordinary integer windows over
    * the same (supplier, day) sort — parallel across suppliers, exact,
    * and identical in both engines. A day is a STOCKOUT (clamp fired)
    * iff the unclamped step would have gone negative:
    * S_t − min(0, runmin_{t−1}) < 0, computable with the same window
    * lagged one row. In/out flows are synthesized deterministically
    * (even orderkeys receive, odd ship). */
  def clampedRunningInventory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.lineitem(s, dir)
      .select($"l_suppkey", to_date($"l_shipdate").as("day"),
        when($"l_orderkey" % 2 === 0, $"l_quantity".cast("long"))
          .otherwise(-$"l_quantity".cast("long")).as("net"))
      .groupBy($"l_suppkey", $"day").agg(sum($"net").as("net"))
    val w = Window.partitionBy($"l_suppkey").orderBy($"day".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    val lv = daily
      .withColumn("s", sum($"net").over(run))
      .withColumn("runmin", min($"s").over(run))
      .withColumn("prevmin", min($"s").over(prev))
      .withColumn("level", $"s" - least(lit(0L), $"runmin"))
      .withColumn("stockout",
        ($"s" - least(lit(0L), coalesce($"prevmin", lit(0L)))) < 0)
    lv.groupBy($"l_suppkey")
      .agg(max_by($"level", $"day").as("final_level"),
        sum(when($"stockout", 1L).otherwise(0L)).as("n_stockout_days"),
        count(lit(1)).as("n_days"))
      .orderBy($"l_suppkey")
  }

  /** Hysteresis (Schmitt-trigger) alerting — alert turns ON when daily
    * revenue exceeds 120 % of the priority's average and stays on until
    * it drops below 80 % (two thresholds, so the alert doesn't flap
    * around a single line — how every production alerting system works).
    * Like q268, the state LOOKS sequential but has a window closed form:
    * the alert state at day t is the direction of the LAST band EXIT
    * (`last(crossing, ignoreNulls)` over the running frame — in-band
    * days contribute NULL and inherit). Threshold comparisons are exact
    * cross-multiplications (5·n·cents vs 6·S / 4·S — no float average),
    * promoted to decimal(38,0)/HUGEINT on both sides so the n·cents and
    * 6·S products cannot wrap past 2⁶³ at any corpus (the q251/q203
    * envelope stance — LongType left only one order of magnitude of
    * headroom at sf100k-class totals), with the per-priority totals
    * attached by broadcast. Census: alert
    * days + flap count per priority. */
  def hysteresisAlerting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy($"o_orderpriority".as("prio"),
        to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("cents"))
    val tot = daily.groupBy($"prio")
      .agg(sum($"cents").as("s"), count(lit(1)).as("n"))
    val w = Window.partitionBy($"prio").orderBy($"day".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d38 = DecimalType(38, 0)
    val lhs = lit(5L).cast(d38) * $"n" * $"cents"
    val lv = daily.join(broadcast(tot), "prio")
      .withColumn("crossing",
        when(lhs > lit(6L).cast(d38) * $"s", 1)
          .when(lhs < lit(4L).cast(d38) * $"s", -1)
          .otherwise(lit(null).cast("int")))
      .withColumn("state",
        coalesce(last($"crossing", ignoreNulls = true).over(run), lit(-1)))
      .withColumn("alert", $"state" === 1)
      .withColumn("flap",
        $"alert" =!= coalesce(lag($"alert", 1).over(w), lit(false)))
    lv.groupBy($"prio")
      .agg(sum(when($"alert", 1L).otherwise(0L)).as("n_alert_days"),
        sum(when($"flap", 1L).otherwise(0L)).as("n_transitions"),
        count(lit(1)).as("n_days"))
      .orderBy($"prio")
  }

  /** Order-status transition matrix — the Markov census of consecutive
    * order statuses per customer (lag over the (orderdate, orderkey)
    * total order): the input every churn/state model starts from, and
    * the quick answer to "do customers move O→F or bounce to P". One
    * custkey window over orders, 9-cell census. */
  def statusTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey", $"o_orderstatus")
      .withColumn("prev_status", lag($"o_orderstatus", 1).over(w))
      .filter($"prev_status".isNotNull)
      .groupBy($"prev_status".as("from_status"),
        $"o_orderstatus".as("to_status"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy($"from_status", $"to_status")
  }

  /** Customer growth curve — monthly NEW customers (first-ever order
    * lands that month) next to the cumulative acquired base: the
    * top-left chart of every business review. First-order month is one
    * custkey collapse; the cumulative is a window over the ≤|months|
    * monthly table (the q173 single-partition-window-over-tiny-table
    * precedent). All exact integers. */
  def customerGrowthCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(min($"o_orderdate").as("first_order"))
      .groupBy((year($"first_order") * 100 + month($"first_order"))
        .as("mon"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy($"mon".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("cum_customers", sum($"n_new").over(w))
      .orderBy($"mon")
  }

  /** Monthly VWAP (volume-weighted average price) — q261's OHLC sibling:
    * per (month, returnflag), Σ(price_cents·qty) / Σqty with BOTH sums
    * exact integers (the price·qty products promoted to decimal(38,0) —
    * the q203 envelope argument: cents×qty×rows can pass 2⁶³ at large
    * SF) and ONE IEEE divide at the end. One map-side collapse. */
  def monthlyVwap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select(
        (year($"l_shipdate") * 100 + month($"l_shipdate")).as("mon"),
        $"l_returnflag",
        cents($"l_extendedprice").as("pc"),
        $"l_quantity".cast("long").as("qty"))
      .groupBy($"mon", $"l_returnflag")
      .agg(
        sum(($"pc" * $"qty").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("pv"),
        sum($"qty").as("v"))
      .select($"mon", $"l_returnflag", $"v".as("total_qty"),
        ratio($"pv", $"v").as("vwap_cents"))
      .orderBy($"mon", $"l_returnflag")
  }

  /** Retention cohort grid — the product-analytics staple: users bucketed
    * by first-seen week (their cohort), activity counted per (cohort,
    * week-offset) cell as DISTINCT active users, retention as the exact
    * ratio against cohort size. Two shuffles total at any scale: the
    * min-agg that assigns cohorts (one row per user) and the cell
    * count-distinct; the cohort table joins back on user_id, the only
    * key that was already shuffled. Week arithmetic stays on
    * Monday-truncated DATEs, so the offset division by 7 is exact in
    * both engines. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", trunc(to_date($"ts"), "week").as("wk"))
    val cohorts = ev.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    val cells = ev.distinct()
      .join(cohorts, "user_id")
      .withColumn("week_offset",
        (datediff($"wk", $"cohort_wk") / 7).cast("int"))
      .groupBy($"cohort_wk", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
    val sizes = cohorts.groupBy($"cohort_wk").agg(count(lit(1)).as("cohort_size"))
    cells.join(sizes, "cohort_wk")
      .select($"cohort_wk", $"week_offset", $"n_active", $"cohort_size",
        ratio($"n_active", $"cohort_size").as("retention"))
      .orderBy($"cohort_wk", $"week_offset")
  }

  /** Behavioral trigram mining — the top event-type 3-sequences across
    * user timelines (the "what do users do next" question sequence
    * miners answer): two lag windows per user build the trigram, a
    * vocab-bounded count agg (|event types|³ cells max) ranks them.
    * The per-user sort is the only data-sized shuffle; the count table
    * is domain-bounded like q119's histogram. The (ts, event_id) order
    * is total, so every trigram is deterministic. */
  def eventTrigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("g2", lag($"event_type", 2).over(w))
      .withColumn("tg", concat_ws(">",
        $"g2", lag($"event_type", 1).over(w), $"event_type"))
      .filter($"g2".isNotNull)
      .groupBy($"tg").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tg".asc)
      .limit(10)
  }

  /** First-touch attribution — conversion rate by the event type that
    * OPENED each session: q61's gap-based sessionization composed with a
    * per-session first-value + converted flag, rolled up to the channel
    * report every growth team ships. All three window passes (lag for
    * session breaks, running sum for ids, running first for the opener)
    * share ONE sort per user — Spark plans them in a single Window chain
    * on the same ordering, so the composition costs the same single
    * shuffle q61 pays. Conversion = the session contains a purchase. */
  def firstTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(running))
    val perSession = sess
      .groupBy($"user_id", $"sess_id")
      .agg(
        min_by($"event_type", struct($"ts", $"event_id")).as("first_touch"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("converted"),
        count(lit(1)).as("n_events"))
    perSession
      .groupBy($"first_touch")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum($"converted").as("n_converted"),
        ratio(sum($"converted"), count(lit(1))).as("conv_rate"))
      .orderBy($"first_touch")
  }

  /** Period-over-period report (MoM) — monthly order count + exact-cents
    * revenue, each with its previous-month twin, absolute delta and
    * growth ratio (two exact longs into one IEEE divide, the q1
    * contract). The lag window runs over the POST-AGG month table — ≤ a
    * few hundred rows at any fact scale, the q82 single-partition-window
    * precedent — so the fact table pays exactly one aggregate. First
    * month reports NULL prev/growth (no fabricated zero). */
  def periodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, dir)
      .groupBy(trunc(to_date($"o_orderdate"), "month").as("mon"))
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("rev_cents"))
    val w = Window.orderBy($"mon".asc)
    monthly
      .withColumn("prev_n", lag($"n", 1).over(w))
      .withColumn("prev_rev", lag($"rev_cents", 1).over(w))
      .select($"mon", $"n", $"rev_cents",
        $"prev_n", ($"n" - $"prev_n").as("delta_n"),
        when($"prev_rev" > 0, ratio($"rev_cents" - $"prev_rev", $"prev_rev"))
          .as("rev_growth"))
      .orderBy($"mon")
  }

  /** Rolling z-score anomaly detection over the daily event-count series —
    * the metrics-pipeline alerting shape — with the 3σ test carried out
    * ENTIRELY in integer arithmetic so the flag is bit-portable: for a
    * trailing window of n days with sum S and sum-of-squares SS,
    * |x − μ| > 3σ  ⟺  (n·x − S)² > 9·(n·SS − S²), which never forms a
    * float. (The naive stddev_samp route computes σ as a double whose
    * last bits depend on accumulation order — a flag that flips between
    * engines, or between runs at different parallelism, is an alert
    * pipeline bug.) The window is the 7 STRICTLY PRECEDING days (the
    * current day must not contaminate its own baseline) and only
    * full-history days are emitted. One shuffle to the (type, day) agg —
    * dim-sized — then per-type windows; at any fact scale the series
    * table is |types| × |days| rows. At extreme daily counts (≥ ~10⁹)
    * the squares outgrow BIGINT: promote the comparison to decimal(38,0)
    * / HUGEINT on both sides — same op tree, same exactness. */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("win_n", count($"n").over(w))
      .withColumn("ss", sum($"n").over(w))
      .withColumn("sq", sum($"n" * $"n").over(w))
      .filter($"win_n" === 7)
      .withColumn("dev", lit(7L) * $"n" - $"ss")
      .select($"event_type", $"day", $"n",
        ($"dev" * $"dev" > lit(9L) * (lit(7L) * $"sq" - $"ss" * $"ss"))
          .as("is_anomaly"))
      .orderBy($"event_type", $"day")
  }

  /** Sweep-line peak concurrency — the UNBOUNDED-length companion to
    * q103's bounded-interval explode: "what was the busiest moment per
    * supplier, and when". Each in-transit interval [ship, ship+transit]
    * (q103's deterministic synthesis) contributes exactly TWO delta
    * events — +1 at its start day, −1 the day after it ends — so cost is
    * independent of interval LENGTH, which is what kills the explode
    * form when intervals can span months. One (key, day) sum collapses
    * the deltas, a per-key running sum turns them into instantaneous
    * concurrency, and a same-partition max window (no extra exchange —
    * Spark chains it onto the running-sum sort) finds the peak; ties
    * resolve to the EARLIEST peak day via min(day), so the answer is
    * total-ordered. Everything is integer. Shuffle budget at any scale:
    * one hash partial-agg on (supp, day) + one window sort per key. */
  def peakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = Tables.lineitem(s, dir)
      .select($"l_suppkey".as("supp"),
        to_date($"l_shipdate").as("ship"),
        ($"l_orderkey" % 7 + 2).cast("int").as("end1")) // transit + 1 day
    val deltas = iv.select($"supp", $"ship".as("day"), lit(1L).as("d"))
      .unionAll(iv.select($"supp", date_add($"ship", $"end1").as("day"),
        lit(-1L).as("d")))
      .groupBy($"supp", $"day").agg(sum($"d").as("delta"))
    val w = Window.partitionBy($"supp").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("conc", sum($"delta").over(w))
      .withColumn("peak", max($"conc").over(Window.partitionBy($"supp")))
      .filter($"conc" === $"peak")
      .groupBy($"supp")
      .agg(max($"conc").as("peak_conc"), min($"day").as("peak_day"))
      .orderBy($"supp")
  }

  /** Time-weighted average (TWAP) — the finance/sensor aggregate where a
    * value holds until the NEXT observation, so each reading is weighted
    * by how long it was in force, not counted once. One lead() per user
    * assigns each event its holding duration (whole seconds — the q172
    * epoch contract); the last event has no successor and drops, like
    * every TWAP implementation. Portability: the value is fixed-pointed
    * to cents per row FIRST, so the weighted sum Σ cents·seconds is
    * exact integer arithmetic (order-independent — FP-summing value·dt
    * doubles would tie the result to shuffle layout), and the final
    * twap_cents is ONE IEEE divide of two exact integers. The weighted
    * sum runs in decimal(38,0) (HUGEINT in the oracle): a silent Long
    * wrap on cents×seconds would diverge from DuckDB (which errors or
    * promotes) for year-long gaps at large amounts, and 38 digits
    * covers any realizable Σ cents·seconds. Cost: one window sort per
    * user + one hash agg — both on the already-shuffled user key. */
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", cents($"value").as("v_cents"))
      .withColumn("next_ts", lead($"ts", 1).over(w))
      .filter($"next_ts".isNotNull)
      .withColumn("dur_s",
        unix_timestamp($"next_ts") - unix_timestamp($"ts"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"dur_s").as("total_s"),
        sum($"v_cents".cast("decimal(19,0)") * $"dur_s".cast("decimal(19,0)"))
          .as("wsum_cents_s"))
      .filter($"total_s" > 0)
      .select($"user_id", $"n_intervals", $"total_s",
        ratio($"wsum_cents_s", $"total_s").as("twap_cents"))
      .orderBy($"user_id")
  }

  /** Session path mining — the "what do the top user journeys look like"
    * report: q61's 30-min-gap sessionization, then each session's first
    * five event types joined into an ordered path string, then a frequency
    * table of paths. Determinism contract: the in-session order is the
    * total order (ts, event_id) — `collect_list` alone is
    * partition-order-dependent, so the structs are `array_sort`ed (ts
    * first, unique event_id as tiebreaker) before the types are extracted;
    * the oracle's `list(... ORDER BY ts, event_id)` mirrors it exactly.
    * Scale: both window passes and the session rollup share the one
    * per-user shuffle; state per group is ≤ the session's events, and the
    * path table is bounded by |event_types|^5, not by rows. */
  def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(running))
      .groupBy($"user_id", $"sess_id")
      .agg(array_sort(collect_list(
        struct($"ts", $"event_id", $"event_type"))).as("evs"))
      .select(concat_ws(">",
        slice(transform($"evs", e => e("event_type")), 1, 5)).as("path"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path".asc)
      .limit(15)
  }

  /** Inter-arrival (repeat-purchase latency) histogram — the classic
    * "how long between orders" distribution, bucketed by ⌊log₂⌋ into a
    * vocab-bounded census per market segment. The gap is exact integer
    * days from consecutive-order LAG (orderkey tiebreak makes the
    * per-customer sequence a total order); the bucket uses q198's
    * string-of-bits integer log₂ (length(bin(x)) − 1) because IEEE log2
    * floors exact powers of two inconsistently across libm builds.
    * Scale: one orders shuffle by custkey for the lag window, then a
    * map-side ≤ |segments|·~12-bucket collapse; the customer dim attaches
    * keyed (it grows with the data). */
  def interarrivalHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val gaps = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey")
      .withColumn("prev", lag($"o_orderdate", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"o_custkey",
        datediff($"o_orderdate".cast("date"), $"prev".cast("date"))
          .cast("long").as("gap_days"))
      .withColumn("bucket", (length(bin($"gap_days" + 1)) - 1).cast("int"))
    gaps
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"bucket")
      .agg(count(lit(1)).as("n_gaps"), sum($"gap_days").as("sum_days"))
      .orderBy($"c_mktsegment", $"bucket")
  }

  /** Weekday seasonality profile — per (event_type, day-of-week) traffic
    * lift vs the type's uniform expectation. Day-of-week is computed as
    * pure integer date arithmetic — days since a known Monday, mod 7 —
    * NOT dayofweek()/dow(), whose numbering conventions differ between
    * engines (Spark 1=Sunday, DuckDB 0=Sunday). Lift is the exact
    * integer cross-product o·7 over n_type with one IEEE divide. Scale:
    * one map-side (type, dow) collapse; the per-type totals re-aggregate
    * from the ≤ |types|·7 cell table itself — zero extra fact passes. */
  def weekdaySeasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, dir)
      .select($"event_type",
        (datediff($"ts".cast("date"), lit("1995-01-02").cast("date")) % 7)
          .cast("int").as("dow"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("o"))
    val totals = cells.groupBy($"event_type".as("et"))
      .agg(sum($"o").as("n_type"))
    cells.join(broadcast(totals), $"event_type" === $"et")
      .select($"event_type", $"dow", $"o", $"n_type",
        ratio($"o" * lit(7L), $"n_type").as("lift"))
      .orderBy($"event_type", $"dow")
  }

  /** Inter-arrival regularity census — the bot/automation detector for
    * behavioral event streams (publicly standard abuse heuristic:
    * humans arrive with high gap variance, scripts arrive on a
    * metronome): per user, the exact inter-arrival-gap moments in
    * MICROSECONDS and a coefficient-of-variation BAND, all in integer
    * arithmetic — the CV never becomes a float. cv_band counts how
    * many of the thresholds {1 %, 10 %, 50 %, 100 %} the CV exceeds,
    * via the squared comparison n·Σg² − (Σg)² vs k²·(Σg)² in
    * decimal(38,0) (µs gaps square past 2⁶³ — the q197/q203
    * promotion), so band 0 ⇌ CV ≤ 1 % ⇌ `metronomic` (with ≥4 gaps) —
    * a script; fixture humans land in bands 3–4. Scale: one keyed lag
    * window per user (never global), one map-side moment agg, output
    * |users| rows. */
  def arrivalRegularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val gaps = Tables.events(s, dir)
      .select($"user_id", $"event_id", $"ts",
        unix_micros($"ts").as("us"))
      .withColumn("gap", $"us" - lag($"us", 1).over(w))
    val m = gaps.groupBy($"user_id").agg(
      count(lit(1)).as("n_events"),
      count($"gap").as("n_gaps"),
      coalesce(sum($"gap"), lit(0L)).as("sum_gap_us"),
      coalesce(sum($"gap".cast(d38) * $"gap"), lit(0L).cast(d38)).as("sg2"))
    val varN = $"n_gaps" * $"sg2" - $"sum_gap_us".cast(d38) * $"sum_gap_us"
    val s2 = $"sum_gap_us".cast(d38) * $"sum_gap_us"
    def exceeds(pctSq: Long): Column = // CV² > (k%)² ⇔ varN·10⁴ > k²·s²
      when($"n_gaps" > 0L && varN * 10000L > lit(pctSq) * s2, 1L).otherwise(0L)
    m.select($"user_id", $"n_events", $"n_gaps", $"sum_gap_us",
        (exceeds(1L) + exceeds(100L) + exceeds(2500L) + exceeds(10000L))
          .as("cv_band"))
      .withColumn("metronomic", $"n_gaps" >= 4L && $"cv_band" === 0L)
      .orderBy($"user_id")
  }

  /** Dyadic EWMA spike alerting — the exponentially-weighted smoother
    * (the third member of the alerting family: q194 is the rolling
    * z-score, q273 the hysteresis band; EWMA is the canonical
    * recency-weighted baseline) made EXACT: α = ½ over a bounded
    * 8-observation horizon, so the weights are powers of two
    * (128, 64, …, 1) and the smoothed baseline is a pure integer pair
    * (num, den) — num = Σ qtyₜ₋ᵢ·2⁸⁻ⁱ, den = Σ 2⁸⁻ⁱ over the lags that
    * exist — truncation-normalized for short histories, no float ever
    * formed. A spike fires when qty·den > 2·num with ≥4 priors
    * (today ≥ 2× the recency-weighted baseline). One shipping year
    * (1995) keeps the census bounded and pushes a date predicate into
    * the scan. Scale: one (supp, day) pre-agg, one KEYED 8-lag window
    * per supplier (never global), |supplier·days| output. */
  def dyadicEwmaAlerts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1995-01-01") && $"l_shipdate" < lit("1996-01-01"))
      .groupBy($"l_suppkey", $"l_shipdate")
      .agg(sum($"l_quantity".cast("long")).as("qty"))
    val w = Window.partitionBy($"l_suppkey").orderBy($"l_shipdate".asc)
    val lags = (1 to 8).map(i => lag($"qty", i).over(w).as(s"l$i"))
    val withLags = daily.select(($"l_suppkey" +: $"l_shipdate".as("day") +:
      $"qty" +: lags): _*)
    val num = (1 to 8).map(i =>
      coalesce(col(s"l$i"), lit(0L)) * lit(1L << (8 - i))).reduce(_ + _)
    val den = (1 to 8).map(i =>
      when(col(s"l$i").isNotNull, lit(1L << (8 - i))).otherwise(0L))
      .reduce(_ + _)
    val nPrior = (1 to 8).map(i =>
      when(col(s"l$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    withLags
      .select($"l_suppkey", $"day", $"qty",
        nPrior.as("n_prior"), num.as("ewma_num"), den.as("ewma_den"))
      .withColumn("spike",
        $"n_prior" >= 4L && $"qty" * $"ewma_den" > lit(2L) * $"ewma_num")
      .orderBy($"l_suppkey", $"day")
  }

  /** CUSUM sustained-shift alerting — the fourth member of the alerting
    * family and the detector the others structurally miss: q194's z-score
    * and q307's EWMA flag SPIKES, q273's hysteresis flags level crossings;
    * CUSUM (Page 1954) accumulates small persistent deviations until the
    * evidence crosses a decision threshold — the "demand crept 50 % above
    * plan for two weeks" alarm. Made EXACT and one-pass-per-window via
    * the classical prefix identity: the recurrence
    * S_t = max(0, S_{t−1} + δ_t) equals P_t − min(0, min_{j≤t} P_j) with
    * P the prefix sums of δ — so the whole detector is TWO keyed windows
    * (running sum, running min of it), never a row-by-row recurrence.
    * Deviations stay integer by scaling: δ_t = 4·D·qtyc_t − 6·Σqtyc
    * (= 4·D·(x_t − 1.5µ), allowance 1.5µ), alarm at S ≥ 8·Σqtyc
    * (≈ two mean-days of cumulative excess) — discriminating on the
    * fixture (≈30 % of suppliers alarm, both branches oracle-covered, the
    * q225 lesson). Exactness envelope: |δ| ≤ 4·D·Σqtyc < 2⁶³ for
    * D ≤ 366 days and yearly supplier cents-quantity < 2⁵⁰ — far past
    * 100 TB-class volume; the prefix sums add ≤ log₂D more bits.
    * Scale: one pruned (supp, day) pre-agg, one keyed totals join, two
    * keyed windows — |supplier| output rows. */
  def cusumShiftAlerts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1995-01-01") && $"l_shipdate" < lit("1996-01-01"))
      .groupBy($"l_suppkey".as("sk"),
        datediff($"l_shipdate", lit("1995-01-01")).cast("long").as("dayi"))
      .agg(sum(cents($"l_quantity")).as("q"))
    val tot = t.groupBy($"sk").agg(sum($"q").as("tq"), count(lit(1)).as("nd"))
    val wCum = Window.partitionBy($"sk").orderBy($"dayi")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = t.join(tot, "sk")
      .withColumn("delta", lit(4L) * $"nd" * $"q" - lit(6L) * $"tq")
      .withColumn("pref", sum($"delta").over(wCum))
      .withColumn("pmin", min($"pref").over(wCum))
      .withColumn("alarm",
        ($"pref" - least($"pmin", lit(0L))) >= lit(8L) * $"tq")
    p.groupBy($"sk").agg(
        max($"nd").as("n_days"),
        sum(when($"alarm", 1L).otherwise(0L)).as("n_alarm_days"),
        coalesce(min(when($"alarm", $"dayi")), lit(-1L)).as("first_alarm_day"))
      .withColumn("shift_detected", $"n_alarm_days" > 0L)
      .orderBy($"sk")
  }

  /** FIFO lot matching — the inventory/cost-basis ALLOCATION operator
    * (match demand to supply lots in arrival order), the famously
    * quadratic-looking SQL problem done with KEYED WINDOWS ONLY: 1995
    * daily production lots (receipts) are consumed by 1996 daily demand
    * (issues) per supplier, first-in-first-out. The classical
    * relational form is an interval-overlap join of the two cumulative
    * ledgers (allocation (r, i) ⟺ [Rprev,Rcum) ∩ [Iprev,Icum) ≠ ∅) —
    * O(R·I) per key if planned naively. This plan uses the BOUNDARY
    * MERGE instead: every cumulative total from either ledger is a
    * breakpoint; consecutive breakpoints delimit a segment consumed by
    * EXACTLY ONE (receipt, issue) pair, and each side's covering row is
    * the one with the smallest cum ≥ boundary — an as-of lookup done as
    * LOCF over the per-supplier DESC-ordered union of boundaries and
    * ledger rows (tag orders receipts before boundaries at equal cum,
    * so a lot exactly exhausted at a boundary still covers it). Total
    * cost: keyed windows + keyed joins, O(R+I) rows per supplier —
    * never a pair table. Boundaries beyond a ledger's total inherit no
    * covering row (null → excluded); matched mass stops at
    * min(ΣR, ΣI) and the census reports unfilled/leftover remainders
    * exactly. Lot age = issue day − receipt day on a common 1995 epoch
    * (always ≥ 0 here); all quantities exact integer cents. */
  def fifoLotMatching(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def ledger(yr: Int): DataFrame = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit(s"$yr-01-01") &&
        $"l_shipdate" < lit(s"${yr + 1}-01-01"))
      .groupBy($"l_suppkey".as("sk"),
        datediff($"l_shipdate", lit("1995-01-01")).cast("long").as("day"))
      .agg(sum(cents($"l_quantity")).as("qty"))
    val wCum = Window.partitionBy($"sk").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // each ledger and the boundary set are consumed three times (bounds/
    // cover/totals resp. seg + both covers) — pin once, hash-on-sk, so
    // every downstream keyed window and join is exchange-free off the pin
    // checkpointAsIs (round-15): the cum window's own exchange already
    // placed each ledger hash-on-sk (WindowExec preserves its child's
    // partitioning), so the keyed pin's repartition was a redundant
    // ledger-sized shuffle; `bounds` keeps the keyed pin — its distinct
    // tail is hash(sk, b), which does NOT satisfy the sk consumers.
    val rec = Pinned.checkpointAsIs(
      ledger(1995).withColumn("cum", sum($"qty").over(wCum)), "sk")
    val iss = Pinned.checkpointAsIs(
      ledger(1996).withColumn("cum", sum($"qty").over(wCum)), "sk")
    val bounds = Pinned.partitionedCheckpoint(
      rec.select($"sk", $"cum".as("b"))
        .unionAll(iss.select($"sk", $"cum".as("b"))).distinct(), $"sk")
    // LOCF as-of: covering row = smallest cum ≥ b. In (cum DESC, tag ASC)
    // order the ledger row at cum ≥ b nearest above the boundary is the
    // last non-null seen; tag 0 puts an exactly-exhausting row first.
    def cover(led: DataFrame, pfx: String): DataFrame = {
      val u = led.select($"sk", $"cum".as("k"), lit(0).as("tag"),
          $"day".as("cday"))
        .unionAll(bounds.select($"sk", $"b".as("k"), lit(1).as("tag"),
          lit(null).cast("long").as("cday")))
      val w = Window.partitionBy($"sk").orderBy($"k".desc, $"tag".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("cd", last($"cday", ignoreNulls = true).over(w))
        .filter($"tag" === 1)
        .select($"sk", $"k".as("b"), $"cd".as(s"${pfx}_day"))
    }
    val seg = bounds
      .withColumn("pb", coalesce(lag($"b", 1).over(
        Window.partitionBy($"sk").orderBy($"b")), lit(0L)))
      .join(cover(rec, "r"), Seq("sk", "b"), "left")
      .join(cover(iss, "i"), Seq("sk", "b"), "left")
    val alloc = seg.filter($"r_day".isNotNull && $"i_day".isNotNull)
      .select($"sk", ($"b" - $"pb").as("q"), ($"i_day" - $"r_day").as("age"))
      .groupBy($"sk").agg(
        count(lit(1)).as("n_allocations"),
        sum($"q").as("matched_qty"),
        max($"age").as("max_lot_age_days"),
        sum($"q" * $"age").as("age_qty_days"))
    val totals = rec.groupBy($"sk")
      .agg(count(lit(1)).as("n_lots"), max($"cum").as("rtot"))
      .join(iss.groupBy($"sk")
        .agg(count(lit(1)).as("n_issues"), max($"cum").as("itot")),
        Seq("sk"), "full_outer")
    totals.join(alloc, Seq("sk"), "left")
      .select($"sk",
        coalesce($"n_lots", lit(0L)).as("n_lots"),
        coalesce($"n_issues", lit(0L)).as("n_issues"),
        coalesce($"n_allocations", lit(0L)).as("n_allocations"),
        coalesce($"matched_qty", lit(0L)).as("matched_qty"),
        (coalesce($"itot", lit(0L)) -
          least(coalesce($"rtot", lit(0L)), coalesce($"itot", lit(0L))))
          .as("unfilled_qty"),
        (coalesce($"rtot", lit(0L)) -
          least(coalesce($"rtot", lit(0L)), coalesce($"itot", lit(0L))))
          .as("leftover_qty"),
        coalesce($"max_lot_age_days", lit(-1L)).as("max_lot_age_days"),
        coalesce($"age_qty_days", lit(0L)).as("age_qty_days"))
      .orderBy($"sk")
  }

  /** Forecast-skill backtest census (MASE — Hyndman-Koehler 2006, the
    * M-competition standard): per supplier, walk the 1995 daily-demand
    * series and score the SEASONAL-naive forecaster (value 7
    * observations back — the weekly-pattern hypothesis) against the
    * naive one-step forecaster (previous observation) on every day with
    * ≥7 priors. The alerting family (q194/q273/q307/q317) DETECTS; this
    * EVALUATES whether a pattern-based predictor beats persistence — the
    * before-you-forecast question. Errors stay exact: both MAE
    * numerators are integer |Δcents| sums over the same eval rows, the
    * winner flag is an integer compare, and MASE = Σ|e_seasonal|/Σ|e_naive|
    * is the ONE final IEEE divide (q195 contract; 0 when the naive
    * error is 0 — a constant series, flag false). Scale: one pruned
    * (supp, day) pre-agg + ONE keyed window with two lags —
    * |supplier| output rows. */
  def maseBacktest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1995-01-01") && $"l_shipdate" < lit("1996-01-01"))
      .groupBy($"l_suppkey".as("sk"),
        datediff($"l_shipdate", lit("1995-01-01")).cast("long").as("dayi"))
      .agg(sum(cents($"l_quantity")).as("q"))
    val w = Window.partitionBy($"sk").orderBy($"dayi")
    val scored = t
      .withColumn("l1", lag($"q", 1).over(w))
      .withColumn("l7", lag($"q", 7).over(w))
      .filter($"l7".isNotNull) // ≥7 priors: both forecasters defined
      .select($"sk", abs($"q" - $"l1").as("e1"), abs($"q" - $"l7").as("e7"))
    scored.groupBy($"sk").agg(
        count(lit(1)).as("n_eval"),
        sum($"e1").as("sum_abs_err_naive"),
        sum($"e7").as("sum_abs_err_seasonal"))
      .select($"sk", $"n_eval", $"sum_abs_err_naive", $"sum_abs_err_seasonal",
        ($"sum_abs_err_seasonal" < $"sum_abs_err_naive").as("seasonal_better"),
        when($"sum_abs_err_naive" > 0L,
          $"sum_abs_err_seasonal".cast("double") /
            $"sum_abs_err_naive".cast("double"))
          .otherwise(lit(0.0)).as("mase"))
      .orderBy($"sk")
  }

  /** q340 censoring horizon: a customer whose last order is more than
    * this many days before the corpus end is an observed churn EVENT;
    * anyone active within the horizon is RIGHT-CENSORED (still alive as
    * far as the data can tell). 90 days splits the fixture ~57 % events
    * at sf0.01 — both branches carry real mass. */
  val KmChurnDays = 90

  /** Kaplan–Meier survival estimator (Kaplan & Meier 1958) over
    * customer lifetimes — THE right-censoring-aware lifetime operator
    * that q164's retention cohorts approximate away: duration = days
    * from first to last order (event = churn, per [[KmChurnDays]]) or
    * first order to corpus end (censored), and at each event time t_i
    * the survival curve multiplies by (1 − d_i/n_i) with n_i = at-risk
    * count (duration ≥ t_i, events AND censored — censoring reduces the
    * risk set without contributing a death; that asymmetry is the whole
    * estimator).
    *
    * Portability: the survival product is an ORDER-DEPENDENT float fold
    * — it runs inside ONE sorted struct-array row (the q327/q334
    * rank-ordered fold; census rows are bounded by the DAY-SPAN domain,
    * never corpus size), where each per-element prefix product re-folds
    * left-to-right (Σ O(n²) float ops over ≤ span-days elements — a few
    * million at a 10-year span, one task, SF-invariant). n_risk comes
    * from exact integer prefix sums over the same array; each factor is
    * one IEEE divide of exact longs, so the curve hash-compares
    * bitwise. Scale: the corpus collapses to the per-customer (first,
    * last) grouped agg (map-side), then to the duration value census;
    * the array stage is domain-bounded. Output: one row per EVENT time
    * (the KM curve's step points). */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("mday"))
    val census = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("f"),
        max(to_date($"o_orderdate")).as("l"))
      .crossJoin(broadcast(mx))
      .select(
        (datediff($"mday", $"l") > KmChurnDays).as("ev"),
        when(datediff($"mday", $"l") > KmChurnDays, datediff($"l", $"f"))
          .otherwise(datediff($"mday", $"f")).cast("long").as("t"))
      .groupBy($"t")
      .agg(sum(when($"ev", 1L).otherwise(0L)).as("d_ev"),
        count(lit(1)).as("d_tot"))
    val folded = census
      .agg(sort_array(collect_list(struct($"t", $"d_ev", $"d_tot"))).as("xs"))
      .select($"xs", aggregate($"xs", lit(0L),
        (a, x) => a + x.getField("d_tot")).as("n"))
    // n_risk(i) = N − Σ_{j<i} d_tot(j): exact integer prefix over the
    // sorted array (slice(xs, 1, i) is the strict prefix — i is the
    // 0-based transform index)
    val withRisk = folded.select($"xs", transform($"xs", (x, i) => struct(
      x.getField("t").as("t"), x.getField("d_ev").as("d_ev"),
      x.getField("d_tot").as("d_tot"),
      ($"n" - aggregate(slice($"xs", lit(1), i), lit(0L),
        (a, e) => a + e.getField("d_tot"))).as("n_risk"))).as("xs2"))
    // survival(i) = Π_{j≤i} (1 − d_ev/n_risk): each prefix re-folds
    // left-to-right — identical IEEE sequence to a running product
    val curve = withRisk.select(posexplode(transform($"xs2", (x, i) => struct(
      x.getField("t").as("t"), x.getField("n_risk").as("n_risk"),
      x.getField("d_ev").as("d_ev"),
      (x.getField("d_tot") - x.getField("d_ev")).as("d_cens"),
      aggregate(slice($"xs2", lit(1), i + 1), lit(1.0), (acc, e) =>
        acc * (lit(1.0) - e.getField("d_ev").cast("double") /
          e.getField("n_risk").cast("double"))).as("survival")))))
    curve.select($"col.t".as("t_days"), $"col.n_risk".as("n_risk"),
        $"col.d_ev".as("n_events"), $"col.d_cens".as("n_censored"),
        $"col.survival".as("survival"))
      .filter($"n_events" > 0L) // the curve steps only at event times
      .orderBy($"t_days")
  }

  /** Log-rank test (Mantel 1966 / Peto & Peto 1972, public definition)
    * between the BUILDING-segment customers and the rest, over the
    * SAME censored lifetimes q340 estimates — the two-sample INFERENCE
    * companion to the KM curve: q340 draws each group's survival;
    * log-rank says whether the curves differ beyond chance, correctly
    * crediting right-censored customers to the risk sets they occupy.
    * At each event time (exact longs off the grouped duration census):
    * d_a, d, and the at-risk counts n_a, n via reverse cumulative sums
    * over the day-domain-bounded census; E_a = d·n_a/n and the
    * hypergeometric V = (d·n_a/n)·((n−n_a)/n)·((n−d)/(n−1)) — each
    * factor ONE divide of exact integers (products ≤ n² in
    * decimal(38,0)), v = 0 where n ≤ 1. The pooled O−E and ΣV fold in
    * EVENT-TIME ORDER inside one sorted struct array (the q340 fold
    * stance — never a float groupBy sum), z = (O−E)/√ΣV at the
    * [[graft.queries.LlmOps.MwCritAlpha05]] line. Laws (spec): a
    * mirror-symmetric two-group corpus pins every per-time O−E = 0 and
    * z = 0 bitwise; a single-segment corpus zeroes every V (no
    * between-group information) and leaves z NULL. Output: one row per
    * event time with the pooled panel riding. Scale: per-customer
    * grouped agg → duration census → two census windows → bounded
    * array fold → event rows. */
  def logRankSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val mx = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("mday"))
    val seg = Tables.customer(s, dir)
      .select($"c_custkey", ($"c_mktsegment" === "BUILDING").as("ga"))
    val census = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("f"),
        max(to_date($"o_orderdate")).as("l"))
      .crossJoin(broadcast(mx))
      .join(broadcast(seg), $"o_custkey" === $"c_custkey", "left")
      .select(
        (datediff($"mday", $"l") > KmChurnDays).as("ev"),
        when(datediff($"mday", $"l") > KmChurnDays, datediff($"l", $"f"))
          .otherwise(datediff($"mday", $"f")).cast("long").as("t"),
        coalesce($"ga", lit(false)).as("ga"))
      .groupBy($"t")
      .agg(sum(when($"ev" && $"ga", 1L).otherwise(0L)).as("d_a"),
        sum(when($"ev", 1L).otherwise(0L)).as("d"),
        sum(when($"ga", 1L).otherwise(0L)).as("tot_a"),
        count(lit(1)).as("tot"))
    val w = Window.orderBy($"t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // read by the fold + the output
    val risk = Pinned.pin(census
      .withColumn("n_a", sum($"tot_a").over(w))
      .withColumn("n", sum($"tot").over(w))
      .filter($"d" > 0L)) // the test reads only event times
    val eA = ($"d".cast(d38) * $"n_a").cast("double") / $"n".cast("double")
    val vT = when($"n" > 1L,
      ($"d".cast(d38) * $"n_a").cast("double") / $"n".cast("double") *
        (($"n" - $"n_a").cast("double") / $"n".cast("double")) *
        (($"n" - $"d").cast("double") / ($"n" - 1L).cast("double")))
      .otherwise(lit(0.0))
    // read by the fold + the output
    val rows = Pinned.pin(risk.select($"t", $"n_a", $"n", $"d_a", $"d",
      eA.as("e_a"), vT.as("v_t"), ($"d_a".cast("double") - eA).as("oe")))
    val pooled = rows
      .agg(sort_array(collect_list(struct($"t", $"oe", $"v_t"))).as("xs"))
      .select(
        aggregate($"xs", lit(0.0), (a, x) => a + x.getField("oe"))
          .as("oe_sum"),
        aggregate($"xs", lit(0.0), (a, x) => a + x.getField("v_t"))
          .as("v_sum"))
    val z = $"oe_sum" / sqrt($"v_sum")
    rows.crossJoin(broadcast(pooled))
      .select($"t".as("t_days"), $"n_a".as("n_risk_a"), $"n".as("n_risk"),
        $"d_a".as("d_events_a"), $"d".as("d_events"), $"e_a", $"v_t",
        $"oe_sum", $"v_sum",
        when($"v_sum" > 0.0, z).as("z_logrank"),
        coalesce(when($"v_sum" > 0.0,
          abs(z) > lit(graft.queries.LlmOps.MwCritAlpha05)), lit(false))
          .as("groups_differ"))
      .orderBy($"t_days")
  }

  /** q341 trend window: Theil–Sen over the LAST this-many days of daily
    * revenue. A bounded window is the scale contract: the pair set is
    * C(window, 2) ≤ 66 430 FOREVER — SF grows daily row counts, not the
    * day domain — where all-history pairs would grow quadratically with
    * the time span. (It is also the honest semantics: the slope of a
    * decade is not a "trend".) */
  val TheilSenWindowDays = 365

  /** Theil–Sen robust trend (Theil 1950 / Sen 1968) of daily order
    * revenue — the median of all pairwise slopes, the robust-regression
    * complement of q91's least-squares fit (one corrupted day moves OLS
    * arbitrarily; Theil–Sen tolerates ~29 % outliers). Every pairwise
    * slope is ONE IEEE divide of exact integers (cents diff / day
    * diff); the median is an EXACT RANK SELECTION — the lower median,
    * element ⌈n/2⌉ of the sorted slope array (the q309 selection
    * applied to a bounded pair census; no averaging of middles, no
    * float summation anywhere). The intercept is the median residual
    * (Conover's estimator) at the window-start anchor, same selection
    * over ≤window residuals. Scale shape: the corpus pays one map-side
    * grouped sum to the ≤[[TheilSenWindowDays]]-row daily census
    * (pinned); pairs are a broadcast inequality self-join of that
    * census (SF-invariant row count); the sort lives in one
    * domain-bounded array row. */
  /** The last-[[TheilSenWindowDays]] daily revenue census (day, rev,
    * anchor), pinned — shared by q341's slope estimate and q404's
    * Mann–Kendall test so the estimator and its test read the SAME
    * window. The window keeps the pair census C(365,2) SF-invariant. */
  private def windowedDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("mday"))
    // read by pair sides + residuals
    Pinned.pin(Tables.orders(s, dir)
      .crossJoin(broadcast(mx))
      .filter(to_date($"o_orderdate") >=
        date_sub($"mday", TheilSenWindowDays - 1))
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"),
        max(date_sub($"mday", TheilSenWindowDays - 1)).as("anchor")))
  }

  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = windowedDaily(s, dir)
    def lowerMedian(df: DataFrame, c: String, m: String, n: String): DataFrame =
      df.agg(sort_array(collect_list(col(c))).as("xs"))
        .select(
          when(size($"xs") > 0,
            element_at($"xs", expr("(size(xs) + 1) div 2").cast("int")))
            .as(m),
          size($"xs").cast("long").as(n))
    val slopes = daily.select($"day".as("da"), $"rev".as("ra"))
      .join(broadcast(daily.select($"day".as("db"), $"rev".as("rb"))),
        $"da" < $"db")
      .select(ratio($"rb" - $"ra", datediff($"db", $"da")).as("slope"))
    // read by residuals + output
    val slopeM = Pinned.pin(lowerMedian(slopes, "slope", "slope", "n_pairs"))
    val resid = daily.crossJoin(broadcast(slopeM))
      .select(($"rev".cast("double") -
        $"slope" * datediff($"day", $"anchor").cast("double")).as("resid"))
    val interM = lowerMedian(resid, "resid", "intercept", "n_days")
    slopeM.crossJoin(interM)
      .select($"n_days", $"n_pairs",
        $"slope".as("slope_cents_per_day"),
        $"intercept".as("intercept_cents"))
      // degenerate-window contract (< 2 days → no pairwise slopes): emit
      // ZERO rows, matching the oracle's `coalesce(n_pairs, 0) > 0` guard
      // — DuckDB's list() over zero rows is NULL where Spark's
      // collect_list is [], so the 0-vs-NULL row would hash-diverge
      .filter($"n_pairs" > 0L)
  }

  /** Mann–Kendall trend test (Mann 1945 / Kendall, public definition)
    * over the q341 window — the SIGNIFICANCE companion to Theil–Sen
    * (q341 estimates the robust slope; MK says whether a monotone trend
    * exists at all, distribution-free): S = Σ_{i<j} sgn(x_j − x_i) over
    * the time-ordered daily census — exact integers off the SAME
    * bounded pair join as q341 — with the tie-corrected variance
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (exact longs; the
    * 365-day window bounds the cubic at ~10⁸) and the
    * continuity-corrected z = (S∓1)/√(Var) as one fixed IEEE tree,
    * flagged at the [[graft.queries.LlmOps.MwCritAlpha05]] normal
    * line. All-tied windows (Var = 0) keep z NULL and the flag false;
    * windows under 2 days emit zero rows (the q341 contract). Scale:
    * one windowed grouped sum → C(365,2)-bounded broadcast pair join →
    * one row. */
  def mannKendallTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = windowedDaily(s, dir)
    val nd = daily.agg(count(lit(1)).as("n"))
    val sp = daily.select($"day".as("da"), $"rev".as("ra"))
      .join(broadcast(daily.select($"day".as("db"), $"rev".as("rb"))),
        $"da" < $"db")
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when($"rb" > $"ra", 1L).when($"rb" < $"ra", -1L)
          .otherwise(0L)), lit(0L)).as("s_stat"))
    val tie = daily.groupBy($"rev").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)),
        lit(0L)).as("tie_term"))
    val g = nd.crossJoin(broadcast(sp)).crossJoin(broadcast(tie))
      .select($"n", $"n_pairs", $"s_stat",
        ($"n" * ($"n" - 1L) * (lit(2L) * $"n" + 5L) - $"tie_term")
          .as("var18"))
    val sd = sqrt($"var18".cast("double") / lit(18.0))
    val z = when($"s_stat" > 0L, ($"s_stat" - 1L).cast("double") / sd)
      .when($"s_stat" < 0L, ($"s_stat" + 1L).cast("double") / sd)
      .otherwise(lit(0.0))
    g.filter($"n" >= 2L)
      .select($"n".as("n_days"), $"n_pairs", $"s_stat", $"var18",
        when($"var18" > 0L, z).as("z_mk"),
        coalesce(when($"var18" > 0L,
          abs(z) > lit(graft.queries.LlmOps.MwCritAlpha05)), lit(false))
          .as("trending"),
        when($"s_stat" > 0L, "increasing").when($"s_stat" < 0L, "decreasing")
          .otherwise("none").as("direction"))
  }

  /** −ln(α/2) at α = 0.05 — the public rejection line for Pettitt's
    * approximate significance p ≈ 2·exp(−6K²/(n³+n²)): reject when the
    * exponent argument exceeds ln(40). The comparison is done on the
    * EXPONENT (exact integers, one divide) — never on exp() itself,
    * whose libm rounding is not bit-portable across engines (the q379
    * Walsh lesson). */
  val PettittCritLn = 3.6888794541139363

  /** Pettitt changepoint test (Pettitt 1979, public definition) over
    * the q341 window — the NONPARAMETRIC single-changepoint locator
    * beside q346's parametric AMOC: q404 says WHETHER the window
    * trends; Pettitt says WHERE the level shifts, rank-based so one
    * corrupted day cannot move it. U_t = Σ_{i≤t}Σ_{j>t} sgn(x_j − x_i)
    * is computed for every boundary via the endpoint decomposition
    * U_t = U_{t−1} + B_t − A_t (B_t / A_t = signed pair sums starting /
    * ending at t, two grouped aggs off the SAME bounded pair join q404
    * rides) — one cumulative window over the ≤365-row day census, never
    * a per-boundary rescan. K = max|U_t| with the EARLIEST argmax day
    * (total order: |U| desc, day asc — deterministic under ties); the
    * significance flag compares the exact exponent 6K²/(n³+n²) to the
    * [[PettittCritLn]] literal (all longs: K ≤ C(365,2), 6K² ≤ 2.7·10¹⁰
    * — exact forever under the pinned window). Laws (spec): a step
    * series with m low days then n−m high pins K = m·(n−m) at the step
    * day exactly; a constant series pins K = 0 and never flags. Windows
    * under 2 days emit zero rows (the q341 contract). Scale: one
    * windowed grouped sum → the bounded pair join → two census aggs →
    * one 365-row window → one selection row. */
  def pettittChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = windowedDaily(s, dir)
    val pairs = Pinned.pin(daily.select($"day".as("da"), $"rev".as("ra"))
      .join(broadcast(daily.select($"day".as("db"), $"rev".as("rb"))),
        $"da" < $"db")
      .select($"da", $"db",
        when($"rb" > $"ra", 1L).when($"rb" < $"ra", -1L).otherwise(0L)
          .as("sg"))) // read by BOTH endpoint censuses
    val bPer = pairs.groupBy($"da".as("day")).agg(sum($"sg").as("b_t"))
    val aPer = pairs.groupBy($"db".as("day")).agg(sum($"sg").as("a_t"))
    val nd = daily.agg(count(lit(1)).as("n"),
      max($"day").as("last_day"))
    val u = daily.select($"day")
      .join(bPer, Seq("day"), "left").join(aPer, Seq("day"), "left")
      .select($"day", (coalesce($"b_t", lit(0L)) -
        coalesce($"a_t", lit(0L))).as("d"))
      .withColumn("u_t", sum($"d").over(Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val best = u.crossJoin(broadcast(nd))
      .filter($"n" >= 2L && $"day" < $"last_day") // boundaries 1..n-1
      .orderBy(abs($"u_t").desc, $"day".asc).limit(1)
    val expArg = (lit(6L) * $"u_t" * $"u_t").cast("double") /
      ($"n" * $"n" * $"n" + $"n" * $"n").cast("double")
    best.select($"n".as("n_days"), $"day".as("split_day"),
      abs($"u_t").as("k_stat"), $"u_t".as("u_at_split"),
      expArg.as("pettitt_exponent"),
      (expArg > lit(PettittCritLn)).as("changepoint"),
      when($"u_t" > 0L, "level_up").when($"u_t" < 0L, "level_down")
        .otherwise("none").as("direction"))
  }

  /** q439 window: the most recent 2⁸ days — a dyadic span is what makes
    * the Haar transform EXACT (every block boundary is a power-of-two
    * split; no padding heuristics), and like [[TheilSenWindowDays]] it
    * pins the census size forever: SF grows daily order counts, never
    * the day domain. */
  val HaarWindowDays = 256

  /** Haar wavelet energy decomposition (Haar 1910; the standard DWT
    * energy census, public) of daily revenue over the last
    * [[HaarWindowDays]] days — the MULTI-RESOLUTION member of the
    * seasonality family: q227 reads one fixed period, q354 one
    * trend/seasonal split, q369/q378 fixed lags; the Haar energy ladder
    * asks at WHICH dyadic timescale (1–2 day jitter? 8–16 day cycles?
    * 64-day regime shifts?) the variance actually lives. Everything is
    * EXACT INTEGER arithmetic: level-l blocks fold as sums/differences
    * of cents (missing days contribute zero by construction — absent
    * rows simply don't join the block sums), the unnormalized detail
    * energy E_l = Σd² accumulates in decimal(38,0), and the Parseval
    * identity Σ_l E_l·2⁸⁻ˡ + S² = 256·Σx² holds as an exact integer
    * law (spec-pinned via BigInt). `var_frac` = E_l·2⁸⁻ˡ/(256·Σx² − S²)
    * is the fraction of total variance at level l, ONE divide
    * (VARCHAR-routed). Laws (spec): a constant full window zeroes every
    * detail level (var_frac NULL — no variance to place); an exactly
    * alternating series puts var_frac = 1.0 at level 1 bitwise.
    * Envelope: block sums ≤ 256·10¹² cents/day, squared ≈ 10²⁹ — exact
    * at any SF. Scale: one windowed grouped sum → 8 chained
    * census-sized aggs (each ≤ 256 rows, checkpointed — the q428
    * two-reader rule) → 8 rows. */
  def haarEnergyCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val mx = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("mday"))
    val base = Pinned.pin(Tables.orders(s, dir)
      .crossJoin(broadcast(mx))
      .filter(to_date($"o_orderdate") >= date_sub($"mday", HaarWindowDays - 1))
      .groupBy(datediff(to_date($"o_orderdate"),
        date_sub($"mday", HaarWindowDays - 1)).cast("long").as("i"))
      .agg(sum(cents($"o_totalprice")).as("v"))) // read by the ladder AND totals
    val tot = base.agg(count(lit(1)).as("n_days"),
      coalesce(sum($"v"), lit(0L)).as("s_tot"),
      coalesce(sum($"v".cast(d38) * $"v"), lit(BigDecimal(0)).cast(d38))
        .as("e0"))
    var cur = base
    val levels = (1 to 8).map { l =>
      val nxt = Pinned.pin(cur.groupBy(expr("i div 2").as("i2"))
        .agg(sum(when($"i" % 2 === 0L, $"v").otherwise(-$"v")).as("d"),
          sum($"v").as("sv"))
        .select($"i2".as("i"), $"d", $"sv".as("v"))) // read by the energy agg + level l+1
      val e = nxt
        .agg(coalesce(sum($"d".cast(d38) * $"d"),
          lit(BigDecimal(0)).cast(d38)).as("energy"))
        .select(lit(l.toLong).as("level"),
          lit(1L << (8 - l)).as("n_coeffs"), $"energy")
      cur = nxt.select($"i", $"v")
      e
    }
    val varDen = lit(HaarWindowDays.toLong).cast(d38) * $"e0" -
      $"s_tot".cast(d38) * $"s_tot"
    levels.reduce(_ unionAll _)
      .crossJoin(broadcast(tot))
      .select($"level", $"n_coeffs",
        $"energy".cast("string").as("energy"),
        ($"energy" * $"n_coeffs").cast("string").as("energy_scaled"),
        when(varDen > 0, ($"energy" * $"n_coeffs").cast("double") /
          varDen.cast("double")).as("var_frac"),
        $"n_days", $"s_tot".as("total_cents"),
        $"e0".cast("string").as("sum_sq_cents"))
      .orderBy($"level")
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack 1984, public
    * definition) over the q341 window — the DESEASONALIZED member
    * beside q404: the daily series carries the day-of-week structure
    * q354 decomposes, and q404's all-pairs S reads that cycle as
    * spurious (anti-)trend; the seasonal form compares only SAME-SEASON
    * pairs (season = day-of-week, the portable epoch-mod-7 — the q354
    * Sunday=0-vs-1 pin avoided entirely) and sums the seven per-season
    * statistics: S' = ΣS_d, 18·Var' = Σ[n_d(n_d−1)(2n_d+5) −
    * Σt(t−1)(2t+5)] — every term exact longs off the q404 machinery
    * applied per season, the pair join keyed by season (C(53,2)·7
    * pairs, SF-invariant), continuity-corrected z at the
    * [[graft.queries.LlmOps.MwCritAlpha05]] line. Output: one row per
    * season (dow, n_days, s_d, var18_d) with the pooled panel riding.
    * All-tied windows (Var' = 0) keep z NULL; < 2 days in every season
    * emits zero rows. Scale: one windowed grouped sum → season-keyed
    * bounded pair join → 7 rows. */
  def seasonalMannKendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // read by pair sides + ties + counts
    val daily = Pinned.pin(windowedDaily(s, dir)
      .withColumn("dow",
        pmod(datediff($"day", lit("1970-01-01")), lit(7)).cast("long")))
    val sp = daily.select($"dow", $"day".as("da"), $"rev".as("ra"))
      .join(broadcast(daily.select($"dow", $"day".as("db"),
        $"rev".as("rb"))), Seq("dow"))
      .filter($"da" < $"db")
      .groupBy($"dow")
      .agg(coalesce(sum(when($"rb" > $"ra", 1L).when($"rb" < $"ra", -1L)
        .otherwise(0L)), lit(0L)).as("s_d"))
    val tie = daily.groupBy($"dow", $"rev").agg(count(lit(1)).as("t"))
      .groupBy($"dow")
      .agg(coalesce(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)),
        lit(0L)).as("tie_d"), sum($"t").as("n_d"))
    val per = Pinned.pin(tie.join(sp, Seq("dow"), "left")
      .select($"dow", $"n_d", coalesce($"s_d", lit(0L)).as("s_d"),
        ($"n_d" * ($"n_d" - 1L) * (lit(2L) * $"n_d" + 5L) - $"tie_d")
          .as("var18_d"))) // read by the pool AND the rows
    val pool = per.agg(sum($"n_d").as("n_days"), sum($"s_d").as("s_tot"),
      sum($"var18_d").as("var18_tot"))
    val sd = sqrt($"var18_tot".cast("double") / lit(18.0))
    val z = when($"s_tot" > 0L, ($"s_tot" - 1L).cast("double") / sd)
      .when($"s_tot" < 0L, ($"s_tot" + 1L).cast("double") / sd)
      .otherwise(lit(0.0))
    val g = pool.filter($"n_days" >= 2L)
      .select($"n_days", $"s_tot", $"var18_tot",
        when($"var18_tot" > 0L, z).as("z_smk"),
        coalesce(when($"var18_tot" > 0L,
          abs(z) > lit(graft.queries.LlmOps.MwCritAlpha05)), lit(false))
          .as("trending"),
        when($"s_tot" > 0L, "increasing").when($"s_tot" < 0L, "decreasing")
          .otherwise("none").as("direction"))
    per.crossJoin(broadcast(g)).orderBy($"dow")
  }

  /** Wald–Wolfowitz runs test (Wald & Wolfowitz 1940, public
    * definition) on daily revenue around its median — the RANDOMNESS
    * test completing the serial family (q404 asks "monotone trend?",
    * q369/q383 "linear autocorrelation?"; runs catches ANY
    * sign-pattern structure, including the regime clumps neither
    * sees): days at the exact census-selected lower median are
    * EXCLUDED (the standard convention), the rest become an
    * above/below sequence whose run count R = 1 + #(sign changes)
    * falls out of ONE day-ordered lag window — no recursion. With n₁
    * above and n₂ below (m = n₁+n₂): μ = 2n₁n₂/m + 1,
    * σ² = 2n₁n₂(2n₁n₂−m)/(m²(m−1)) — numerator and denominator exact
    * in decimal(38,0) (VARCHAR-routed; 4n⁴ passes 2⁵³ near 10⁵ days),
    * z = (R−μ)/σ one fixed tree, flagged at the q365 1.96 line. A
    * one-sided or empty sequence (σ² = 0) keeps z NULL and the flag
    * false; under 2 days emits zero rows. Scale: one grouped day
    * census → one exact median selection → one lag window over the
    * census rows. */
  def runsTestDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = Pinned.pin(Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))) // read by the census AND the signs
    val cums = daily.groupBy($"rev").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(Window.orderBy($"rev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val med = cums.crossJoin(broadcast(nd))
      .withColumn("rk", expr("(n_days + 1) div 2"))
      .agg(min(when($"cum" >= $"rk" && $"rk" >= 1L, $"rev")).as("med"))
    val signed = daily.crossJoin(broadcast(med))
      .filter($"rev" =!= $"med")
      .withColumn("above", $"rev" > $"med")
      .withColumn("prev", lag($"above", 1).over(Window.orderBy($"day")))
    val g = signed.agg(
      coalesce(sum(when($"above", 1L).otherwise(0L)), lit(0L)).as("n_above"),
      coalesce(sum(when(!$"above", 1L).otherwise(0L)), lit(0L)).as("n_below"),
      (lit(1L) + coalesce(sum(when($"prev".isNotNull && $"prev" =!= $"above",
        1L).otherwise(0L)), lit(0L))).as("n_runs"))
    val m = $"n_above" + $"n_below"
    val twoAb = lit(2L) * $"n_above" * $"n_below"
    val mu = twoAb.cast("double") / m.cast("double") + lit(1.0)
    val varNum = twoAb.cast(d38) * (twoAb - m)
    val varDen = m.cast(d38) * m * (m - 1L)
    val sigma = sqrt(varNum.cast("double") / varDen.cast("double"))
    val z = ($"n_runs".cast("double") - mu) / sigma
    val ok = $"n_above" > 0L && $"n_below" > 0L && m > 1L
    g.crossJoin(broadcast(nd)).crossJoin(broadcast(med))
      .filter($"n_days" >= 2L)
      .select($"n_days", $"med".as("median_cents"),
        ($"n_days" - $"n_above" - $"n_below").as("n_excluded"),
        $"n_above", $"n_below",
        when(m > 0L, $"n_runs").as("n_runs"),
        when(ok, mu).as("mu_runs"),
        when(ok && varNum > 0, z).as("z_runs"),
        coalesce(when(ok && varNum > 0,
          abs(z) > lit(graft.queries.LlmOps.MwCritAlpha05)), lit(false))
          .as("nonrandom"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945, public definition) on
    * the week-over-week daily-revenue pairing — the PAIRED
    * nonparametric member completing the test family (q365's U is
    * unpaired, q396's McNemar is paired-binary; pairing day t with
    * day t−7 removes the day-of-week effect q354 decomposes, exactly
    * what a weekly-cadence revenue check wants). Zero diffs are
    * EXCLUDED (the standard convention); ranks of |d| are DOUBLED
    * midranks off the |d| value census (2·midrank of a tied run =
    * 2·cum_before + w + 1, always integer — the q365 machinery), so
    * 2W⁺ = Σ pos·(2·cum_before + w + 1) is an exact long. The
    * tie-corrected normal approximation runs on the exact integer
    * 12σ²(2W⁺) = 2n(n+1)(2n+1) − Σ(w³−w) (cube sum in decimal(38,0),
    * digit string under the gate); z = (2W⁺ − n(n+1)/2)/√(12σ²/12),
    * flagged at [[graft.queries.LlmOps.MwCritAlpha05]]. A no-pair or
    * all-zero-diff corpus leaves z NULL and the flag false. Scale: one
    * grouped day census → one keyed self-join on day−7 (census-sized)
    * → |d|-census window → one row. */
  def wilcoxonSignedRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = Pinned.pin(Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))) // both pairing sides
    val pairs = Pinned.pin(daily
      .join(daily.select(date_add($"day", 7).as("day"),
        $"rev".as("prev_rev")), Seq("day"))
      .select(($"rev" - $"prev_rev").as("dcents"))) // read by counts AND the census
    val pc = pairs.agg(count(lit(1)).as("n_pairs"),
      coalesce(sum(when($"dcents" === 0L, 1L).otherwise(0L)), lit(0L))
        .as("n_zero"))
    val census = pairs.filter($"dcents" =!= 0L)
      .groupBy(abs($"dcents").as("ad"))
      .agg(count(lit(1)).as("w"),
        sum(when($"dcents" > 0L, 1L).otherwise(0L)).as("pos"))
    val wWin = Window.orderBy($"ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = census
      .withColumn("cum_before", sum($"w").over(wWin) - $"w")
      .agg(sum($"w").as("n"),
        sum($"pos" * (lit(2L) * $"cum_before" + $"w" + 1L)).as("wp2"),
        sum($"w".cast(d38) * $"w" * $"w" - $"w").as("tie"))
    val var12 = lit(2L) * $"n".cast(d38) * ($"n" + 1L) *
      (lit(2L) * $"n" + 1L) - $"tie"
    val z = ($"wp2" - expr("(n * (n + 1)) div 2")).cast("double") /
      sqrt(var12.cast("double") / lit(12.0))
    val ok = $"n" > 0L && var12 > 0
    g.crossJoin(broadcast(pc))
      .select($"n_pairs", $"n_zero", $"n".as("n_nonzero"),
        $"wp2".as("w_plus2"),
        $"tie".cast("string").as("tie_term"),
        when(ok, z).as("z_wilcoxon"),
        coalesce(when(ok,
          abs(z) > lit(graft.queries.LlmOps.MwCritAlpha05)), lit(false))
          .as("shifted"))
  }

  /** Durbin–Watson statistic (Durbin & Watson 1950, public definition)
    * of mean-detrended daily revenue over the q341 window — the
    * FIRST-DIFFERENCE serial-correlation screen beside q369's ACF and
    * q383's Ljung–Box (DW reads lag-1 structure straight off the
    * residual steps; its DW ≈ 2(1−r₁) relation is surfaced as
    * `r1_implied`): with ê_t = n·rev_t − S (mean-deviation cleared of
    * the /n — exact longs in decimal(38,0)), DW = Σ(ê_t−ê_{t−1})² /
    * Σê_t² = n²·Σ(Δrev)² / Σ(n·rev−S)² — numerator and denominator
    * exact integers, ONE IEEE divide. `autocorrelated` applies the
    * textbook 1.5/2.5 screening band (the exact dL/dU bounds are
    * n-dependent tables; the band is the standard field heuristic,
    * documented as such — q369/q383 carry the calibrated tests).
    * Closed-form law (spec): a two-value alternating series pins
    * DW = 4(n−1)/n exactly; a constant window (Σê² = 0) leaves DW
    * NULL; windows under 2 days emit zero rows (the q341 contract).
    * Envelope: Σ(n·rev−S)² ≤ 365·(365·rev_max)² — exact in
    * decimal(38,0) to ~10¹⁶ daily cents. Scale: one windowed grouped
    * sum → one census-ordered lag window → one row. */
  def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = windowedDaily(s, dir)
    val nd = daily.agg(count(lit(1)).as("n"), sum($"rev").as("srev"))
    val diffs = daily.crossJoin(broadcast(nd))
      .withColumn("prev", lag($"rev", 1).over(Window.orderBy($"day")))
    val g = diffs.agg(
      max($"n").as("n"),
      coalesce(sum(when($"prev".isNotNull,
        ($"rev" - $"prev").cast(d38) * ($"rev" - $"prev"))),
        lit(BigDecimal(0)).cast(d38)).as("sd2"),
      sum(($"n".cast(d38) * $"rev" - $"srev") *
        ($"n".cast(d38) * $"rev" - $"srev")).as("den"))
    val dw = ($"n".cast(d38) * $"n" * $"sd2").cast("double") /
      $"den".cast("double")
    val ok = $"den" > 0
    g.filter($"n" >= 2L)
      .select($"n".as("n_days"),
        $"sd2".cast("string").as("sd2_num"),
        $"den".cast("string").as("den_num"),
        when(ok, dw).as("dw_stat"),
        when(ok, lit(1.0) - dw / lit(2.0)).as("r1_implied"),
        coalesce(when(ok, dw < lit(1.5) || dw > lit(2.5)), lit(false))
          .as("autocorrelated"))
  }

  /** Holt's linear (double-exponential) smoothing — the trend-aware
    * forecaster between q307's level-only EWMA and q322's seasonal
    * naive: level l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}), trend
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, over monthly revenue with
    * DYADIC α = 1/2, β = 1/4 (the q307 stance: dyadic smoothing weights
    * keep every multiply exact-IEEE, so the only portability question
    * is fold ORDER). The fold is inherently sequential — it runs over
    * the ≤|months| sorted struct array in one row (the q334 pattern:
    * month-domain-bounded, SF-invariant), initialized l₀ = y₀, b₀ = 0,
    * accumulating the one-step-ahead SSE along the way; both engines
    * replay the identical operation sequence, so level/trend/SSE
    * hash-compare bitwise. Forecasts are level + h·trend. Scale: the
    * corpus pays one map-side grouped sum to the monthly census;
    * everything after is a ≤10²-element array fold. */
  def holtLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthly = Tables.orders(s, dir)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("mon"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val st = monthly
      .agg(sort_array(collect_list(struct($"mon",
        $"rev".cast("double").as("y")))).as("xs"))
      .select(aggregate($"xs",
        struct(lit(0L).as("i"), lit(0.0).as("l"), lit(0.0).as("b"),
          lit(0.0).as("sse")),
        (acc, x) => {
          val y = x.getField("y")
          val pred = acc.getField("l") + acc.getField("b")
          val l2 = lit(0.5) * y + lit(0.5) * pred
          when(acc.getField("i") === 0L,
            struct(lit(1L).as("i"), y.as("l"), lit(0.0).as("b"),
              lit(0.0).as("sse")))
            .otherwise(struct(
              (acc.getField("i") + 1L).as("i"), l2.as("l"),
              (lit(0.25) * (l2 - acc.getField("l")) +
                lit(0.75) * acc.getField("b")).as("b"),
              (acc.getField("sse") + (y - pred) * (y - pred)).as("sse")))
        }).as("st"))
    st.select($"st.i".as("n_months"),
        when($"st.i" > 0L, $"st.l").as("level"),
        when($"st.i" > 0L, $"st.b").as("trend"),
        when($"st.i" > 0L, $"st.sse").as("sse"),
        when($"st.i" > 0L, $"st.l" + lit(1.0) * $"st.b").as("fc_1"),
        when($"st.i" > 0L, $"st.l" + lit(3.0) * $"st.b").as("fc_3"),
        when($"st.i" > 0L, $"st.l" + lit(6.0) * $"st.b").as("fc_6"),
        when($"st.i" > 0L, $"st.l" + lit(12.0) * $"st.b").as("fc_12"))
      // zero-months contract: the oracle's recursive CTE emits zero rows
      // on an empty orders table, so the degenerate n_months=0 row must
      // not exist here either (EmptyInputSpec pins both engines to the
      // zero-row shape)
      .filter($"n_months" > 0L)
  }

  /** q369 maximum autocorrelation lag (a weekly-cycle window: lags 1–7
    * see the day-of-week structure q354 decomposes). */
  val AcfMaxLag = 7

  /** Autocorrelation function at lags 1..[[AcfMaxLag]] of daily revenue
    * — the serial-dependence census the forecasting family (q307 EWMA,
    * q343 Holt, q354 seasonal) implicitly assumes and nothing yet
    * measures. The mean-centered products are made EXACT by clearing
    * denominators (the q332 cross-multiply applied to moments): with
    * S = Σx over n days, Σ(x_t − S/n)(x_{t+k} − S/n) multiplied by n²
    * is Σ(n·x_t − S)(n·x_{t+k} − S) — exact integers folded in
    * decimal(38,0) (n·x ≤ n·total-cents needs the headroom), as is the
    * n²-scaled variance; their ratio r_k is ONE IEEE divide because the
    * n² factors cancel. Positions are OBSERVED-sequence indices over
    * the sorted day array (gaps close up — q353's documented stance).
    * Output: one row per lag with the exact numerator (digit string),
    * r_k, and the |r_k| > 2/√n white-noise band flag. Scale: the
    * corpus collapses to the day census; the ACF is a bounded
    * array-row fold. */
  /** Shared q369/q378 chain: day census → n-scaled centered terms →
    * per-lag exact (n²-scaled) covariance and variance numerators. */
  private def acfLagTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val folded = Pinned.pin(daily
      .agg(sort_array(collect_list(struct($"day", $"rev"))).as("ds"))
      .select(transform($"ds", x => x.getField("rev")).as("xs"))
      .select($"xs", size($"xs").cast("long").as("n"),
        aggregate($"xs", lit(0L), (a, v) => a + v).as("s"))
      // centered terms scaled by n: c_t = n·x_t − S (exact longs to
      // ~10¹⁴ total cents at 10⁵ days; the fold below runs in decimal)
      .select($"n", transform($"xs", v => ($"n" * v - $"s")).as("cs"))) // read once per lag
    val den = folded.select($"n",
      aggregate($"cs", lit(BigDecimal(0)).cast(d38),
        (a, c) => a + c.cast(d38) * c).as("var_n2"))
    folded.crossJoin(broadcast(den.select($"var_n2")))
      .select($"n", $"cs", $"var_n2",
        explode(sequence(lit(1), lit(AcfMaxLag))).as("lag"))
      .filter($"lag" < $"n")
      .select($"lag", $"n", $"var_n2",
        aggregate(
          zip_with(slice($"cs", lit(1), (size($"cs") - $"lag").cast("int")),
            slice($"cs", $"lag" + 1, size($"cs")),
            (a, b) => struct(a.as("a"), b.as("b"))),
          lit(BigDecimal(0)).cast(d38),
          (acc, p) => acc + p.getField("a").cast(d38) * p.getField("b"))
          .as("cov_n2"))
  }

  def acfDailyRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lags = acfLagTerms(s, dir)
    lags.select($"lag".cast("long").as("lag"), $"n".as("n_days"),
        $"cov_n2".cast("string").as("cov_num"),
        when($"var_n2" > 0, $"cov_n2".cast("double") / $"var_n2".cast("double"))
          .as("acf"),
        coalesce(when($"var_n2" > 0,
          abs($"cov_n2".cast("double") / $"var_n2".cast("double")) >
            lit(2.0) / sqrt($"n".cast("double"))), lit(false))
          .as("significant"))
      .orderBy($"lag")
  }

  /** Holt–Winters additive seasonal smoothing (Winters 1960, public
    * description) over daily revenue with the weekly (m = 7) season —
    * the forecaster that closes the gap between q343 (Holt: level +
    * trend, no season) and q354 (seasonal decomposition: season, no
    * forecast): l_t = α(y_t − s_{t−7}) + (1−α)(l_{t−1} + b_{t−1}),
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},
    * s_t = γ(y_t − l_t) + (1−γ)s_{t−7}, DYADIC α = 1/2, β = γ = 1/4
    * (the q307/q343 stance: dyadic weights are exact IEEE multiplies, so
    * the only portability question is fold order). Initialization is the
    * public textbook form: l₇ = mean of the first week (one exact-int
    * sum, one divide), b₇ = 0, s_j = y_j − l₇ for j = 1..7; the fold
    * runs t = 8..n over the sorted day array in ONE row, carrying the
    * 7-slot seasonal vector as a rotating array — the q360 lesson
    * (vectors of recursion state replay fine) applied to q343's fold.
    * One-step-ahead SSE accumulates from t = 8. Fewer than 8 days ⇒
    * zero rows (the q343 empty contract). Oracle: a recursive CTE
    * carrying (level, trend, sse, s1..s7) — NEVER a list_reduce struct
    * fold (DuckDB mutates struct accumulators in place, the q343
    * lesson). Scale: the corpus pays one map-side grouped sum to the
    * day census; the fold is one array row. */
  def holtWintersSeasonal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val folded = daily
      .agg(sort_array(collect_list(struct($"day", $"rev"))).as("ds"))
      .select(transform($"ds", x => x.getField("rev")).as("xs"))
      .select($"xs", size($"xs").cast("long").as("n"))
      .filter($"n" >= 8L)
      .select($"n", $"xs",
        (aggregate(slice($"xs", lit(1), lit(7)), lit(0L), (a, v) => a + v)
          .cast("double") / lit(7.0)).as("l0"))
      .select($"n", $"xs", $"l0",
        transform(slice($"xs", lit(1), lit(7)),
          v => v.cast("double") - $"l0").as("ss0"))
    val st = folded.select($"n",
      aggregate(slice($"xs", lit(8), size($"xs") - 7),
        struct($"l0".as("l"), lit(0.0).as("b"), lit(0.0).as("sse"),
          $"ss0".as("ss")),
        (acc, x) => {
          val yd = x.cast("double")
          val l = acc.getField("l")
          val b = acc.getField("b")
          val ss = acc.getField("ss")
          val s1 = element_at(ss, 1)
          val l2 = lit(0.5) * (yd - s1) + lit(0.5) * (l + b)
          val b2 = lit(0.25) * (l2 - l) + lit(0.75) * b
          val sn = lit(0.25) * (yd - l2) + lit(0.75) * s1
          struct(l2.as("l"), b2.as("b"),
            (acc.getField("sse") +
              (yd - (l + b + s1)) * (yd - (l + b + s1))).as("sse"),
            concat(slice(ss, lit(2), lit(6)), array(sn)).as("ss"))
        }).as("st"))
    st.select(Seq($"n".as("n_days"),
        $"st.l".as("level"), $"st.b".as("trend"), $"st.sse".as("sse")) ++
        (1 to 7).map(i => element_at($"st.ss", i).as(s"s$i")) ++ Seq(
        ($"st.l" + lit(1.0) * $"st.b" + element_at($"st.ss", 1)).as("fc_1"),
        ($"st.l" + lit(7.0) * $"st.b" + element_at($"st.ss", 7)).as("fc_7")): _*)
  }

  /** Partial autocorrelation via Durbin–Levinson (Durbin 1960, public
    * description) over the q369 ACF lags — the AR-ORDER diagnostic the
    * ACF census cannot give (an AR(1) series has geometric ACF at every
    * lag, but PACF cuts off after lag 1; the cutoff, not the decay,
    * picks the model order): φ₁₁ = r₁, then for k = 2..7
    * φ_kk = (r_k − Σ_{j<k} φ_{k−1,j}·r_{k−j}) /
    * (1 − Σ_{j<k} φ_{k−1,j}·r_j) with the row update
    * φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}. The r_k are q369's exact
    * single divides; the recursion is a ≤7-step fold with a ≤7-slot
    * vector state, each inner Σ folded in ascending-j order — both
    * engines run the identical IEEE sequence (the q343/q360 stance).
    * Defined only when all [[AcfMaxLag]] ACFs exist (n > 7 and positive
    * variance); degenerate inputs emit ZERO rows. Oracle: the ACF chain
    * shared with q369, then a linear recursive CTE carrying (φ, pacf)
    * as LIST state (the q360 vector-state lesson; scalar/list recursion
    * state is immutable per step, unlike list_reduce struct
    * accumulators). Scale: the corpus collapses to the day census; the
    * recursion is driver-free, bounded, one array row. */
  def pacfDurbinLevinson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val racf = acfLagTerms(s, dir)
      .filter($"var_n2" > 0)
      .select($"lag", $"n",
        ($"cov_n2".cast("double") / $"var_n2".cast("double")).as("acf"))
      .agg(max($"n").as("n"), count(lit(1)).as("n_lags"),
        sort_array(collect_list(struct($"lag", $"acf"))).as("ra"))
      .select($"n", $"n_lags", transform($"ra", x => x.getField("acf")).as("r"))
    // the fold is gated by a row-level when(), not only the filter below:
    // CaseWhen branches evaluate lazily, so the degenerate empty-r row
    // can never reach element_at (a plain filter + project can end up in
    // one codegen stage where the ANSI element_at still trips)
    val st = racf.select($"n", $"n_lags", $"r",
      when($"n_lags" === AcfMaxLag.toLong,
        aggregate(sequence(lit(2), lit(AcfMaxLag)),
          struct(array(try_element_at($"r", lit(1))).as("phi"),
            array(try_element_at($"r", lit(1))).as("pacf")),
          (acc, k) => {
            val phi = acc.getField("phi")
            val num = element_at($"r", k) -
              aggregate(sequence(lit(1), k - 1), lit(0.0),
                (sm, j) => sm + element_at(phi, j) * element_at($"r", k - j))
            val den = lit(1.0) -
              aggregate(sequence(lit(1), k - 1), lit(0.0),
                (sm, j) => sm + element_at(phi, j) * element_at($"r", j))
            val a = num / den
            struct(
              concat(transform(sequence(lit(1), k - 1),
                j => element_at(phi, j) - a * element_at(phi, k - j)),
                array(a)).as("phi"),
              concat(acc.getField("pacf"), array(a)).as("pacf"))
          })).as("st"))
      .filter($"n_lags" === AcfMaxLag.toLong)
    st.select($"n", $"r", posexplode($"st.pacf"))
      .select(($"pos" + 1).cast("long").as("lag"), $"n".as("n_days"),
        element_at($"r", ($"pos" + 1).cast("int")).as("acf"),
        $"col".as("pacf"))
      .orderBy($"lag")
  }

  /** χ² upper-0.05 quantile at df = [[AcfMaxLag]] (public table value)
    * — the Ljung–Box rejection line, an authoring-time literal both
    * engines compare against (the q358 literal-table stance). */
  val LbCrit = 14.067140449340169

  /** Ljung–Box portmanteau test (Ljung & Box 1978, public description)
    * over the q369 ACF lags — the INFERENCE the ACF census points at:
    * q369 flags individual lags against the white-noise band; Q_LB =
    * n(n+2)·Σ_{k≤7} r_k²/(n−k) asks the JOINT question "is the series
    * white noise at all?", the standard residual-diagnostic after a
    * forecaster (q343/q377) is fit. The r_k are q369's exact single
    * divides; the Σ folds in ascending-k order over the lag-sorted
    * array, so both engines run the identical IEEE sequence; the
    * rejection line is the literal χ²₀.₉₅(7) quantile. Defined only
    * when all [[AcfMaxLag]] ACFs exist (n > 7, positive variance) —
    * degenerate inputs emit zero rows (the q378 contract; the fold is
    * seed-safe on the empty array, no element_at anywhere). Scale: the
    * shared acfLagTerms chain; the test is a ≤7-element fold. */
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = acfLagTerms(s, dir)
      .filter($"var_n2" > 0)
      .select($"lag", $"n",
        ($"cov_n2".cast("double") / $"var_n2".cast("double")).as("r"))
      .agg(max($"n").as("n"), count(lit(1)).as("n_lags"),
        sort_array(collect_list(struct($"lag", $"r"))).as("ra"))
      .select($"n", $"n_lags",
        aggregate($"ra", lit(0.0), (a, x) =>
          a + (x.getField("r") * x.getField("r")) /
            ($"n" - x.getField("lag")).cast("double")).as("ssum"))
      .filter($"n_lags" === AcfMaxLag.toLong)
    st.select($"n".as("n_days"), lit(AcfMaxLag.toLong).as("df"),
      ($"n".cast("double") * ($"n" + 2L).cast("double") * $"ssum").as("q_lb"),
      ($"n".cast("double") * ($"n" + 2L).cast("double") * $"ssum" >
        lit(LbCrit)).as("autocorrelated"))
  }

  /** Forecast-skill panel (Theil 1966's U², public definition) — the
    * model-selection verdict the forecaster family needs: q322 scores
    * the naive baselines against each other; this scores the FITTED
    * q377 Holt–Winters against both, on the identical evaluation
    * window. One fold over the sorted day array runs all three
    * one-step-ahead predictors simultaneously from t = 8 (naive
    * ŷ = y_{t−1}, seasonal-naive ŷ = y_{t−7}, and the exact q377
    * recursion — same dyadic trees, so the HW SSE here replays q377's
    * bitwise), carrying the 7-slot seasonal vector AND the 7-slot raw
    * lag window as rotating arrays. U²_hw = SSE_hw/SSE_naive (< 1 ⇒
    * the model beats persistence); skill vs seasonal-naive rides,
    * NULL-guarded on zero-SSE baselines (the exactly-periodic corpus,
    * spec-planted, where seasonal-naive is perfect). < 8 days ⇒ zero
    * rows. Oracle: the q377 recursive CTE widened to carry the raw lag
    * window and the three SSE columns. Scale: one grouped day census →
    * one array-row fold. */
  def forecastSkill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val folded = daily
      .agg(sort_array(collect_list(struct($"day", $"rev"))).as("ds"))
      .select(transform($"ds", x => x.getField("rev")).as("xs"))
      .select($"xs", size($"xs").cast("long").as("n"))
      .filter($"n" >= 8L)
      .select($"n", $"xs",
        (aggregate(slice($"xs", lit(1), lit(7)), lit(0L), (a, v) => a + v)
          .cast("double") / lit(7.0)).as("l0"))
      .select($"n", $"xs", $"l0",
        transform(slice($"xs", lit(1), lit(7)),
          v => v.cast("double") - $"l0").as("ss0"),
        transform(slice($"xs", lit(1), lit(7)),
          v => v.cast("double")).as("y70"))
    val st = folded.select($"n",
      aggregate(slice($"xs", lit(8), size($"xs") - 7),
        struct($"l0".as("l"), lit(0.0).as("b"), $"ss0".as("ss"),
          $"y70".as("y7"), lit(0.0).as("sen"), lit(0.0).as("ses"),
          lit(0.0).as("shw")),
        (acc, x) => {
          val yd = x.cast("double")
          val l = acc.getField("l")
          val b = acc.getField("b")
          val ss = acc.getField("ss")
          val y7 = acc.getField("y7")
          val s1 = element_at(ss, 1)
          val l2 = lit(0.5) * (yd - s1) + lit(0.5) * (l + b)
          val b2 = lit(0.25) * (l2 - l) + lit(0.75) * b
          val sn = lit(0.25) * (yd - l2) + lit(0.75) * s1
          val eN = yd - element_at(y7, 7)
          val eS = yd - element_at(y7, 1)
          val eH = yd - (l + b + s1)
          struct(l2.as("l"), b2.as("b"),
            concat(slice(ss, lit(2), lit(6)), array(sn)).as("ss"),
            concat(slice(y7, lit(2), lit(6)), array(yd)).as("y7"),
            (acc.getField("sen") + eN * eN).as("sen"),
            (acc.getField("ses") + eS * eS).as("ses"),
            (acc.getField("shw") + eH * eH).as("shw"))
        }).as("st"))
    st.select($"n".as("n_days"), ($"n" - 7L).as("n_eval"),
      $"st.sen".as("sse_naive"), $"st.ses".as("sse_snaive"),
      $"st.shw".as("sse_hw"),
      when($"st.sen" > 0.0, $"st.shw" / $"st.sen").as("theil_u2_hw"),
      when($"st.ses" > 0.0, lit(1.0) - $"st.shw" / $"st.ses")
        .as("skill_vs_snaive"),
      ($"st.shw" < $"st.sen").as("hw_beats_naive"),
      ($"st.shw" < $"st.ses").as("hw_beats_snaive"))
  }

  /** AR(p) fit via Yule–Walker / Durbin–Levinson + one-step backtest —
    * the MODEL the diagnostic stack selects but nothing yet fits (q369
    * measures the ACF, q378 the PACF cutoff, q383 the joint whiteness;
    * this solves the ≤7×7 Toeplitz system and scores the result):
    * Durbin–Levinson's full recursion (Durbin 1960) over the q369 exact
    * ACF divides keeps EVERY order's coefficient row; the model order
    * p* is the PACF rule — the largest k with |φ_kk| > 2/√n (0 if none
    * — the white-noise corpus honestly selects AR(0) = the mean); the
    * selected row IS the Yule–Walker solution at p*. The one-step
    * backtest then scores ŷ_t = μ + Σ_{j≤p*} φ_j(y_{t−j} − μ) against
    * the naive ŷ = y_{t−1} on q385's exact window t = 8..n, so sse_ar
    * is directly comparable to q385's panel. Everything integer until
    * the ACF divides (the q369 cleared-denominator moments); the DL
    * recursion, order argmax, and SSE folds are fixed ascending IEEE
    * sequences over ONE array row (the inner ŷ sum runs all 7 j-slots
    * with a j ≤ p* gate so both engines add the identical term list).
    * Degenerate inputs (n ≤ 7 or zero variance) emit ZERO rows — the
    * q378 contract. Oracle: the shared q369 chain, the q378 recursive
    * CTE keeping all k rows, one scalar-subquery order pick, and a
    * linear backtest recursion. Scale: one grouped day census; the fit
    * and backtest are driver-free single-row folds. */
  def arFitBacktest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val folded = daily
      .agg(sort_array(collect_list(struct($"day", $"rev"))).as("ds"))
      .select(transform($"ds", x => x.getField("rev")).as("xs"))
      .select($"xs", size($"xs").cast("long").as("n"),
        aggregate($"xs", lit(0L), (a, v) => a + v).as("s"))
      .filter($"n" > AcfMaxLag.toLong)
      .select($"xs", $"n", $"s",
        transform($"xs", v => ($"n" * v - $"s")).as("cs"))
      .select($"xs", $"n", $"s", $"cs",
        aggregate($"cs", lit(BigDecimal(0)).cast(d38),
          (a, c) => a + c.cast(d38) * c).as("var_n2"))
      .filter($"var_n2" > 0)
    // the q369 ACF divides, here as ONE in-row lag array (the fit needs
    // the raw series alongside every r_k, so the exploded acfLagTerms
    // rows would just be re-folded)
    val withR = folded.select($"xs", $"n", $"s",
      transform(sequence(lit(1), lit(AcfMaxLag)), k =>
        aggregate(
          zip_with(slice($"cs", lit(1), (size($"cs") - k).cast("int")),
            slice($"cs", k + 1, size($"cs")),
            (a, b) => struct(a.as("a"), b.as("b"))),
          lit(BigDecimal(0)).cast(d38),
          (acc, p) => acc + p.getField("a").cast(d38) * p.getField("b"))
          .cast("double") / $"var_n2".cast("double")).as("r"))
    // Durbin–Levinson keeping every order's φ row (q378 keeps only the
    // diagonal); pacf_k = φ row k's last slot
    val st = withR.select($"xs", $"n", $"s", $"r",
      aggregate(sequence(lit(2), lit(AcfMaxLag)),
        array(struct(lit(1).as("k"), array(try_element_at($"r", lit(1))).as("phi"))),
        (acc, k) => {
          val phi = element_at(acc, k - 1).getField("phi")
          val num = element_at($"r", k) -
            aggregate(sequence(lit(1), k - 1), lit(0.0),
              (sm, j) => sm + element_at(phi, j) * element_at($"r", k - j))
          val den = lit(1.0) -
            aggregate(sequence(lit(1), k - 1), lit(0.0),
              (sm, j) => sm + element_at(phi, j) * element_at($"r", j))
          val a = num / den
          concat(acc, array(struct(k.cast("int").as("k"),
            concat(transform(sequence(lit(1), k - 1),
              j => element_at(phi, j) - a * element_at(phi, k - j)),
              array(a)).as("phi"))))
        }).as("dl"))
    val sel = st.select($"xs", $"n", $"s", $"r", $"dl",
      aggregate(sequence(lit(1), lit(AcfMaxLag)), lit(0),
        (b, k) => when(
          abs(element_at(element_at($"dl", k).getField("phi"), k)) >
            lit(2.0) / sqrt($"n".cast("double")), k).otherwise(b)).as("ord"))
    val mu = ratio($"s", $"n")
    val phiSel = element_at($"dl", $"ord").getField("phi")
    val bt = sel.select($"n", $"ord", $"dl",
      aggregate(sequence(lit(8), $"n".cast("int")),
        struct(lit(0.0).as("sa"), lit(0.0).as("sn")),
        (acc, t) => {
          val yt = element_at($"xs", t).cast("double")
          val yhat = mu + aggregate(sequence(lit(1), lit(AcfMaxLag)), lit(0.0),
            (sm, j) => sm + when(j <= $"ord",
              element_at(phiSel, j) *
                (element_at($"xs", t - j).cast("double") - mu))
              .otherwise(lit(0.0)))
          val en = yt - element_at($"xs", t - 1).cast("double")
          struct((acc.getField("sa") + (yt - yhat) * (yt - yhat)).as("sa"),
            (acc.getField("sn") + en * en).as("sn"))
        }).as("bt"),
      mu.as("mean_cents"))
    bt.select(Seq($"n".as("n_days"), $"ord".cast("long").as("ar_order"),
      $"mean_cents") ++
      (1 to AcfMaxLag).map(j => when(lit(j) <= $"ord",
        element_at(element_at($"dl", $"ord").getField("phi"), j))
        .as(s"phi$j")) ++ Seq(
      $"bt.sa".as("sse_ar"), $"bt.sn".as("sse_naive"),
      when($"bt.sn" > 0.0, $"bt.sa" / $"bt.sn").as("theil_u2_ar"),
      ($"bt.sa" < $"bt.sn").as("ar_beats_naive")): _*)
  }

  /** Akaike FPE order selection (Akaike 1969's final prediction error,
    * public definition) over the Durbin–Levinson ladder — the
    * MODEL-SELECTION rule beside q398's PACF threshold: FPE(k) =
    * σ̂²_k·(n+k+1)/(n−k−1) prices fit against parameter count like AIC
    * but WITHOUT a logarithm, so the whole criterion stays a fixed
    * IEEE tree over exact inputs (the engine's log-free stance — AIC's
    * n·ln σ² would pit two libms against each other under the bitwise
    * gate). The innovation-variance ratios ride the recursion for
    * free: σ̂²_k/σ̂²_0 = Π_{j≤k}(1−φ_jj²) over q378's exact PACF
    * diagonal, so FPE is emitted RELATIVE to σ̂²_0 (the argmin is
    * invariant to the shared factor). Output: one row per order
    * k = 0..[[AcfMaxLag]] with pacf, the variance ratio, relative FPE,
    * and `selected` marking the argmin (ties break to the SMALLEST k —
    * parsimony). Degenerate inputs (n ≤ [[AcfMaxLag]] + 1 — the
    * FPE(7) denominator needs n > 8 — or zero variance) emit zero
    * rows, the q378 contract. Scale: the shared q369 chain → ≤8-row
    * ladder → one argmin. */
  def fpeOrderSelection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val racf = acfLagTerms(s, dir)
      .filter($"var_n2" > 0)
      .select($"lag", $"n",
        ($"cov_n2".cast("double") / $"var_n2".cast("double")).as("r"))
      .agg(max($"n").as("n"), count(lit(1)).as("n_lags"),
        sort_array(collect_list(struct($"lag", $"r"))).as("ra"))
      .select($"n", $"n_lags", transform($"ra", x => x.getField("r")).as("r"))
      .filter($"n_lags" === AcfMaxLag.toLong &&
        $"n" > (AcfMaxLag + 1).toLong)
    // q378's DL recursion keeping the diagonal (pacf) only
    val st = racf.select($"n",
      aggregate(sequence(lit(2), lit(AcfMaxLag)),
        struct(array(try_element_at($"r", lit(1))).as("phi"),
          array(try_element_at($"r", lit(1))).as("pacf")),
        (acc, k) => {
          val phi = acc.getField("phi")
          val num = element_at($"r", k) -
            aggregate(sequence(lit(1), k - 1), lit(0.0),
              (sm, j) => sm + element_at(phi, j) * element_at($"r", k - j))
          val den = lit(1.0) -
            aggregate(sequence(lit(1), k - 1), lit(0.0),
              (sm, j) => sm + element_at(phi, j) * element_at($"r", j))
          val a = num / den
          struct(
            concat(transform(sequence(lit(1), k - 1),
              j => element_at(phi, j) - a * element_at(phi, k - j)),
              array(a)).as("phi"),
            concat(acc.getField("pacf"), array(a)).as("pacf"))
        }).as("st"))
    // the variance-ratio ladder v_k = Π(1−φ_jj²), seeded at order 0
    val ladder = st.select($"n",
      aggregate(sequence(lit(1), lit(AcfMaxLag)),
        array(struct(lit(0L).as("k"),
          lit(null).cast("double").as("pacf"), lit(1.0).as("v"))),
        (acc, k) => {
          val a = element_at($"st.pacf", k)
          concat(acc, array(struct(k.cast("long").as("k"), a.as("pacf"),
            (element_at(acc, k).getField("v") * (lit(1.0) - a * a))
              .as("v"))))
        }).as("ladder"))
    val ex = Pinned.pin(ladder.select($"n", explode($"ladder").as("e"))
      .select($"e.k".as("order_k"), $"n", $"e.pacf".as("pacf"),
        $"e.v".as("sigma2_ratio"),
        ($"e.v" * (($"n" + $"e.k" + 1L).cast("double") /
          ($"n" - $"e.k" - 1L).cast("double"))).as("fpe_rel"))) // read by the argmin AND the rows
    val mn = ex.agg(min($"fpe_rel").as("mn"))
    val selK = ex.crossJoin(broadcast(mn)).filter($"fpe_rel" === $"mn")
      .agg(min($"order_k").as("sel_k"))
    ex.crossJoin(broadcast(selK))
      .select($"order_k", $"n".as("n_days"), $"pacf", $"sigma2_ratio",
        $"fpe_rel", ($"order_k" === $"sel_k").as("selected"))
      .orderBy($"order_k")
  }

  /** Cross-correlation function between daily REVENUE and daily ORDER
    * COUNT at lags −7..+7 — the two-series member of the q369/q378
    * serial-dependence family (ACF asks "does a series predict
    * itself?"; CCF asks "does volume lead or lag value?" — positive
    * lags test count leading revenue). Same cleared-denominator
    * construction as q369 applied to a PAIR: centered terms n·x−Sx and
    * n·y−Sy are exact longs, each lag's cross product folds in
    * decimal(38,0) (digit-string numerator), and the n² factors cancel
    * against √varx·√vary — the TWO-sqrt tree deliberately (the q375
    * stance: the single-sqrt product varx·vary ≈ n⁶·amplitudes⁴
    * overflows d38 at the 10× soak where the pair of casts never
    * does). |ccf| > 2/√n flags ride per lag; NULL ccf on a constant
    * series. Scale: one grouped day census; per-lag folds over two
    * array rows. */
  def ccfRevenueOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"), count(lit(1)).as("cnt"))
    val folded = Pinned.pin(daily
      .agg(sort_array(collect_list(struct($"day", $"rev", $"cnt"))).as("ds"))
      .select(transform($"ds", x => x.getField("rev")).as("xs"),
        transform($"ds", x => x.getField("cnt")).as("ys"))
      .select($"xs", $"ys", size($"xs").cast("long").as("n"),
        aggregate($"xs", lit(0L), (a, v) => a + v).as("sx"),
        aggregate($"ys", lit(0L), (a, v) => a + v).as("sy"))
      .select($"n",
        transform($"xs", v => ($"n" * v - $"sx")).as("cx"),
        transform($"ys", v => ($"n" * v - $"sy")).as("cy"))) // read by the variances + 15 lags
    val den = folded.select(
      aggregate($"cx", lit(BigDecimal(0)).cast(d38),
        (a, c) => a + c.cast(d38) * c).as("varx_n2"),
      aggregate($"cy", lit(BigDecimal(0)).cast(d38),
        (a, c) => a + c.cast(d38) * c).as("vary_n2"))
    val lags = folded.crossJoin(broadcast(den))
      .select($"n", $"cx", $"cy", $"varx_n2", $"vary_n2",
        explode(sequence(lit(-AcfMaxLag), lit(AcfMaxLag))).as("lag"))
      .filter(abs($"lag") < $"n")
      .select($"lag", $"n", $"varx_n2", $"vary_n2",
        // lag k ≥ 0: Σ cx_i·cy_{i+k} (count leads revenue at +k);
        // k < 0: Σ cx_{i+|k|}·cy_i — one slice pair covers both signs
        aggregate(
          zip_with(
            slice($"cx", when($"lag" < 0, -$"lag" + 1).otherwise(lit(1))
              .cast("int"), (size($"cx") - abs($"lag")).cast("int")),
            slice($"cy", when($"lag" > 0, $"lag" + 1).otherwise(lit(1))
              .cast("int"), (size($"cy") - abs($"lag")).cast("int")),
            (a, b) => struct(a.as("a"), b.as("b"))),
          lit(BigDecimal(0)).cast(d38),
          (acc, p) => acc + p.getField("a").cast(d38) * p.getField("b"))
          .as("cov_n2"))
    val ok = $"varx_n2" > 0 && $"vary_n2" > 0
    val ccf = $"cov_n2".cast("double") /
      (sqrt($"varx_n2".cast("double")) * sqrt($"vary_n2".cast("double")))
    lags.select($"lag".cast("long").as("lag"), $"n".as("n_days"),
        $"cov_n2".cast("string").as("ccf_num"),
        when(ok, ccf).as("ccf"),
        coalesce(when(ok, abs(ccf) > lit(2.0) / sqrt($"n".cast("double"))),
          lit(false)).as("significant"))
      .orderBy($"lag")
  }

  /** At-most-one-changepoint (AMOC) location — the WHERE to q317's
    * CUSUM WHETHER: the split k maximizing the scaled mean-contrast
    * statistic |S_k·n − k·S_n| over the daily-revenue series (the CUSUM
    * numerator at split k — cross-multiplied so the argmax is decided
    * on EXACT INTEGERS, never a float compare; the q332 stance). Ties
    * break to the earliest day; the split is proper (1 ≤ k < n), so
    * both segment means are defined. Segment means are the only
    * divides, over exact cents/counts. Scale: the corpus collapses to
    * the day census (map-side grouped sum); the prefix sum is one
    * global window over DOMAIN-bounded census rows (the q282 months
    * precedent); the argmax is a 1-row TakeOrdered. Envelope: S_k·n ≤
    * total-cents·days needs decimal(38,0) past ~10¹⁵ total cents —
    * promoted internally; only safe longs and doubles are output. */
  def amocChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum($"rev").as("s_n"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("k", row_number().over(Window.orderBy($"day")).cast("long"))
      .withColumn("s_k", sum($"rev").over(w))
      .crossJoin(broadcast(tot))
      .filter($"k" < $"n_days") // proper split: both segments non-empty
      .withColumn("stat",
        abs($"s_k".cast(d38) * $"n_days" - $"k".cast(d38) * $"s_n"))
      .orderBy($"stat".desc, $"day".asc)
      .limit(1)
      .select($"day".as("cp_day"), $"k".as("k_at_max"), $"n_days",
        ratio($"s_k", $"k").as("mean_before_cents"),
        ratio($"s_n" - $"s_k", $"n_days" - $"k").as("mean_after_cents"))
  }

  /** q353 window width (days) and the non-overlap exclusion band. */
  val MotifW = 7

  /** Motif + discord discovery (the matrix-profile pair, Yeh et al.
    * 2016's definitions computed exactly): over the last-365-day daily
    * revenue sequence, the MOTIF is the closest pair of non-overlapping
    * [[MotifW]]-wide windows (the repeated weekly pattern) and the
    * DISCORD is the window whose NEAREST non-overlapping neighbor is
    * farthest (the anomaly — no week looks like it). Distances are
    * exact integer Σ(Δdollars)² (dollar grain: cents² × 7 passes 2⁶³
    * within the fixture decade; beyond ~10⁹ daily dollars promote the
    * fold to decimal(38,0)), so both argmin and argmax are integer
    * compares with (i, j) ties — never a float decision. Windows slide
    * over OBSERVED-sequence positions (calendar gaps close up — the
    * honest choice for a sparse series, documented; the bounded-window
    * stance and pair census are [[theilSenTrend]]'s: C(359, 2)-ish
    * pairs FOREVER, SF-independent). The whole computation runs on the
    * one sorted array row + a bounded window self-join. */
  def motifDiscord(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mx = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("mday"))
    val daily = Tables.orders(s, dir)
      .crossJoin(broadcast(mx))
      .filter(to_date($"o_orderdate") >=
        date_sub($"mday", TheilSenWindowDays - 1))
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("revc"))
      .select($"day", expr("revc div 100").as("rev")) // dollar grain
    val arr = daily
      .agg(sort_array(collect_list(struct($"day", $"rev"))).as("xs"))
    val wins = Pinned.pin(arr
      .select(posexplode(transform(
        sequence(lit(0), greatest(size($"xs") - MotifW, lit(0))),
        i => struct(
          element_at($"xs", i + 1).getField("day").as("day"),
          transform(slice($"xs", i + 1, lit(MotifW)),
            e => e.getField("rev")).as("w")))))
      .filter(size($"col.w") === MotifW) // degenerate short series drop out
      .select($"pos".cast("long").as("i"), $"col.day".as("day"),
        $"col.w".as("w"))) // read by both pair-join sides
    val pairs = Pinned.pin(wins.select($"i".as("ia"), $"day".as("da"), $"w".as("wa"))
      .join(broadcast(wins.select($"i".as("ib"), $"day".as("db"),
        $"w".as("wb"))), $"ib" - $"ia" >= MotifW)
      .select($"ia", $"da", $"ib", $"db",
        aggregate(zip_with($"wa", $"wb", (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v).as("d2"))) // read by motif argmin + discord
    val motif = pairs
      .orderBy($"d2".asc, $"ia".asc, $"ib".asc).limit(1)
      .select(lit("motif").as("kind"), $"ia".as("i"), $"da".as("day_i"),
        $"ib".as("j"), $"db".as("day_j"), $"d2".as("dist2_dollars"))
    // nearest non-overlapping neighbor per window (both directions),
    // then the window whose NN is farthest
    val sym = pairs.select($"ia".as("i"), $"da".as("d"), $"ib".as("j"),
        $"db".as("dj"), $"d2")
      .unionAll(pairs.select($"ib".as("i"), $"db".as("d"), $"ia".as("j"),
        $"da".as("dj"), $"d2"))
    val nn = sym
      .withColumn("rn", row_number().over(Window.partitionBy($"i")
        .orderBy($"d2".asc, $"j".asc)))
      .filter($"rn" === 1)
    val discord = nn
      .orderBy($"d2".desc, $"i".asc).limit(1)
      .select(lit("discord").as("kind"), $"i", $"d".as("day_i"),
        $"j", $"dj".as("day_j"), $"d2".as("dist2_dollars"))
    motif.unionAll(discord).orderBy($"kind")
  }

  /** Classical seasonal decomposition (the moving-average + seasonal-
    * median recipe STL refines): daily revenue = trend (centered 7-day
    * mean over observed positions) + seasonal (per-day-of-week MEDIAN
    * of the detrended series, de-meaned so the seven effects sum to
    * ~0) + residual. Portability: the trend is one divide of an exact
    * 7-day integer sum; seasonal medians are exact rank selections over
    * per-dow sorted arrays (bounded by the day domain); the de-meaning
    * constant folds over the 7-element dow array in dow order; every
    * residual is two subtractions of already-agreed doubles — nothing
    * accumulates corpus-sized float sums. Output: interior days only
    * (a full centered window exists). Scale: one grouped sum to the
    * day census; everything after is array work on bounded rows. */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("rev"))
    val arr = daily
      .agg(sort_array(collect_list(struct($"day", $"rev"))).as("xs"))
    // interior positions: trend = (Σ rev over i−3..i+3) / 7, one divide
    // interior index list is EMPTY (not a descending sequence) when the
    // series is shorter than one full window
    val idxs = when(size($"xs") >= 7, sequence(lit(3), size($"xs") - 4))
      .otherwise(expr("CAST(array() AS array<int>)"))
    val base = Pinned.pin(arr
      .select(posexplode(transform(idxs,
        i => struct(
          element_at($"xs", i + 1).getField("day").as("day"),
          element_at($"xs", i + 1).getField("rev").as("rev"),
          (aggregate(slice($"xs", i - 2, lit(7)), lit(0L),
            (a, e) => a + e.getField("rev")).cast("double") /
            lit(7.0)).as("trend")))))
      .select($"col.day".as("day"), $"col.rev".as("rev"),
        $"col.trend".as("trend"))
      .withColumn("dow", dayofweek($"day").cast("long"))
      .withColumn("detr", $"rev".cast("double") - $"trend")) // read by the dow medians + output
    val dowMed = base.groupBy($"dow")
      .agg(sort_array(collect_list($"detr")).as("ds"))
      .select($"dow", element_at($"ds",
        expr("(size(ds) + 1) div 2").cast("int")).as("med"))
    val grand = dowMed
      .agg(sort_array(collect_list(struct($"dow", $"med"))).as("ms"))
      .select((aggregate($"ms", lit(0.0), (a, x) => a + x.getField("med"))
        / size($"ms").cast("double")).as("mbar"))
    val seas = dowMed.crossJoin(broadcast(grand))
      .select($"dow", ($"med" - $"mbar").as("seasonal"))
    base.join(broadcast(seas), "dow")
      .select($"day", $"rev".as("rev_cents"), $"trend", $"seasonal",
        ($"detr" - $"seasonal").as("residual"))
      .orderBy($"day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q353_motif_discord" -> motifDiscord,
    "q354_seasonal_decompose" -> seasonalDecompose,
    "q346_amoc_changepoint" -> amocChangepoint,
    "q369_acf_daily_revenue" -> acfDailyRevenue,
    "q377_holt_winters_seasonal" -> holtWintersSeasonal,
    "q378_pacf_durbin_levinson" -> pacfDurbinLevinson,
    "q383_ljung_box" -> ljungBox,
    "q385_forecast_skill" -> forecastSkill,
    "q398_ar_fit_backtest" -> arFitBacktest,
    "q404_mann_kendall" -> mannKendallTrend,
    "q409_runs_test_daily" -> runsTestDaily,
    "q421_wilcoxon_signed_rank" -> wilcoxonSignedRank,
    "q422_durbin_watson" -> durbinWatson,
    "q426_fpe_order_selection" -> fpeOrderSelection,
    "q431_seasonal_mann_kendall" -> seasonalMannKendall,
    "q438_pettitt_changepoint" -> pettittChangepoint,
    "q439_haar_energy" -> haarEnergyCensus,
    "q440_log_rank" -> logRankSegments,
    "q386_ccf_revenue_orders" -> ccfRevenueOrders,
    "q340_kaplan_meier" -> kaplanMeier,
    "q341_theil_sen_trend" -> theilSenTrend,
    "q343_holt_linear" -> holtLinear,
    "q322_mase_backtest" -> maseBacktest,
    "q323_position_attribution" -> positionAttribution,
    "q320_fifo_lot_matching" -> fifoLotMatching,
    "q317_cusum_shift_alerts" -> cusumShiftAlerts,
    "q226_interarrival_histogram" -> interarrivalHistogram,
    "q227_weekday_seasonality" -> weekdaySeasonality,
    "q211_session_paths" -> sessionPaths,
    "q203_time_weighted_avg" -> timeWeightedAvg,
    "q200_peak_concurrency" -> peakConcurrency,
    "q194_anomaly_zscore" -> anomalyZscore,
    "q173_period_over_period" -> periodOverPeriod,
    "q242_last_touch_attribution" -> lastTouchAttribution,
    "q243_funnel_timeout" -> funnelTimeout,
    "q245_sequence_pattern_census" -> sequencePatternCensus,
    "q246_rank_movers" -> rankMovers,
    "q261_ohlc_bars" -> ohlcBars,
    "q265_exact_proration" -> exactProration,
    "q268_clamped_running_inventory" -> clampedRunningInventory,
    "q273_hysteresis_alerting" -> hysteresisAlerting,
    "q277_status_transition_matrix" -> statusTransitionMatrix,
    "q278_customer_growth_curve" -> customerGrowthCurve,
    "q279_monthly_vwap" -> monthlyVwap,
    "q262_funnel_cohorted" -> funnelCohorted,
    "q172_first_touch_attribution" -> firstTouchAttribution,
    "q164_retention_cohorts" -> retentionCohorts,
    "q165_event_trigrams" -> eventTrigrams,
    "q101_gap_fill" -> gapFill,
    "q102_window_fill" -> forwardFill,
    "q103_interval_overlap" -> intervalOverlap,
    "q306_arrival_regularity" -> arrivalRegularity,
    "q307_dyadic_ewma_alerts" -> dyadicEwmaAlerts,
    "q105_funnel" -> funnel)

  /** Shared q369/q378 oracle prefix: day census → n-scaled centered
    * terms → per-lag exact covariance/variance numerators (HUGEINT
    * folds in ascending-t order). */
  private def acfChainSql: String =
    s"""daily AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
       |  FROM orders GROUP BY 1
       |), arr AS (
       |  SELECT list(rev ORDER BY day) AS xs FROM daily
       |), base AS (
       |  SELECT xs, CAST(len(xs) AS BIGINT) AS n,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
       |           (a, b) -> a + b) AS s
       |  FROM arr
       |), cs AS MATERIALIZED (
       |  SELECT n, list_transform(xs, v -> n * v - s) AS cs FROM base
       |), vr AS (
       |  SELECT list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |           list_transform(cs, c -> CAST(c AS HUGEINT) * c)),
       |           (a, b) -> a + b) AS var_n2
       |  FROM cs
       |), lagt AS MATERIALIZED (
       |  SELECT lag, n, var_n2,
       |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |           list_transform(range(1, CAST(n - lag + 1 AS BIGINT)), i ->
       |             CAST(cs[CAST(i AS INT)] AS HUGEINT)
       |               * cs[CAST(i + lag AS INT)])),
       |           (a, b) -> a + b) AS cov_n2
       |  FROM cs, vr, (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag)
       |  WHERE lag < n
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // q343's recursive-CTE stance with VECTOR state: (l, b, sse, s1..s7)
    // ride as columns; every arithmetic tree replicates the Spark fold
    "q377_holt_winters_seasonal" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT rn, CAST(rev AS DOUBLE) AS y, rev FROM (
         |    SELECT row_number() OVER (ORDER BY day) AS rn, rev FROM (
         |      SELECT CAST(o_orderdate AS DATE) AS day,
         |             ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |      FROM orders GROUP BY 1))
         |), init AS (
         |  SELECT CAST(7 AS BIGINT) AS k, l0 AS l,
         |         CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sse,
         |         y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3,
         |         y4 - l0 AS s4, y5 - l0 AS s5, y6 - l0 AS s6, y7 - l0 AS s7
         |  FROM (SELECT
         |          CAST(sum(CASE WHEN rn <= 7 THEN rev END) AS DOUBLE) / 7.0
         |            AS l0,
         |          max(CASE WHEN rn = 1 THEN y END) AS y1,
         |          max(CASE WHEN rn = 2 THEN y END) AS y2,
         |          max(CASE WHEN rn = 3 THEN y END) AS y3,
         |          max(CASE WHEN rn = 4 THEN y END) AS y4,
         |          max(CASE WHEN rn = 5 THEN y END) AS y5,
         |          max(CASE WHEN rn = 6 THEN y END) AS y6,
         |          max(CASE WHEN rn = 7 THEN y END) AS y7
         |        FROM daily)
         |  WHERE (SELECT count(*) FROM daily) >= 8
         |), st AS (
         |  SELECT * FROM init
         |  UNION ALL
         |  SELECT st.k + 1,
         |         0.5 * (d.y - st.s1) + 0.5 * (st.l + st.b),
         |         0.25 * ((0.5 * (d.y - st.s1) + 0.5 * (st.l + st.b)) - st.l)
         |           + 0.75 * st.b,
         |         st.sse + (d.y - (st.l + st.b + st.s1))
         |                * (d.y - (st.l + st.b + st.s1)),
         |         st.s2, st.s3, st.s4, st.s5, st.s6, st.s7,
         |         0.25 * (d.y - (0.5 * (d.y - st.s1) + 0.5 * (st.l + st.b)))
         |           + 0.75 * st.s1
         |  FROM st JOIN daily d ON d.rn = st.k + 1
         |), fin AS (SELECT * FROM st ORDER BY k DESC LIMIT 1)
         |SELECT k AS n_days, l AS level, b AS trend, sse,
         |       s1, s2, s3, s4, s5, s6, s7,
         |       l + (1.0 * b) + s1 AS fc_1, l + (7.0 * b) + s7 AS fc_7
         |FROM fin""".stripMargin,
    // q377's recursive CTE widened with the raw 7-lag window and the
    // three one-step SSE accumulators
    "q385_forecast_skill" ->
      s"""WITH RECURSIVE daily AS MATERIALIZED (
         |  SELECT rn, CAST(rev AS DOUBLE) AS y, rev FROM (
         |    SELECT row_number() OVER (ORDER BY day) AS rn, rev FROM (
         |      SELECT CAST(o_orderdate AS DATE) AS day,
         |             ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |      FROM orders GROUP BY 1))
         |), init AS (
         |  SELECT CAST(7 AS BIGINT) AS k, l0 AS l,
         |         CAST(0.0 AS DOUBLE) AS b,
         |         y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3,
         |         y4 - l0 AS s4, y5 - l0 AS s5, y6 - l0 AS s6, y7 - l0 AS s7,
         |         y1, y2, y3, y4, y5, y6, y7,
         |         CAST(0.0 AS DOUBLE) AS sen, CAST(0.0 AS DOUBLE) AS ses,
         |         CAST(0.0 AS DOUBLE) AS shw
         |  FROM (SELECT
         |          CAST(sum(CASE WHEN rn <= 7 THEN rev END) AS DOUBLE) / 7.0
         |            AS l0,
         |          max(CASE WHEN rn = 1 THEN y END) AS y1,
         |          max(CASE WHEN rn = 2 THEN y END) AS y2,
         |          max(CASE WHEN rn = 3 THEN y END) AS y3,
         |          max(CASE WHEN rn = 4 THEN y END) AS y4,
         |          max(CASE WHEN rn = 5 THEN y END) AS y5,
         |          max(CASE WHEN rn = 6 THEN y END) AS y6,
         |          max(CASE WHEN rn = 7 THEN y END) AS y7
         |        FROM daily)
         |  WHERE (SELECT count(*) FROM daily) >= 8
         |), st AS (
         |  SELECT * FROM init
         |  UNION ALL
         |  SELECT st.k + 1,
         |         0.5 * (d.y - st.s1) + 0.5 * (st.l + st.b),
         |         0.25 * ((0.5 * (d.y - st.s1) + 0.5 * (st.l + st.b)) - st.l)
         |           + 0.75 * st.b,
         |         st.s2, st.s3, st.s4, st.s5, st.s6, st.s7,
         |         0.25 * (d.y - (0.5 * (d.y - st.s1) + 0.5 * (st.l + st.b)))
         |           + 0.75 * st.s1,
         |         st.y2, st.y3, st.y4, st.y5, st.y6, st.y7, d.y,
         |         st.sen + (d.y - st.y7) * (d.y - st.y7),
         |         st.ses + (d.y - st.y1) * (d.y - st.y1),
         |         st.shw + (d.y - (st.l + st.b + st.s1))
         |                * (d.y - (st.l + st.b + st.s1))
         |  FROM st JOIN daily d ON d.rn = st.k + 1
         |), fin AS (SELECT * FROM st ORDER BY k DESC LIMIT 1)
         |SELECT k AS n_days, k - 7 AS n_eval,
         |       sen AS sse_naive, ses AS sse_snaive, shw AS sse_hw,
         |       CASE WHEN sen > 0.0 THEN shw / sen END AS theil_u2_hw,
         |       CASE WHEN ses > 0.0 THEN 1.0 - shw / ses END
         |         AS skill_vs_snaive,
         |       shw < sen AS hw_beats_naive,
         |       shw < ses AS hw_beats_snaive
         |FROM fin""".stripMargin,
    // the q369 construction on a series PAIR: shared centered arrays,
    // per-lag HUGEINT folds, the two-sqrt denominator
    "q386_ccf_revenue_orders" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders GROUP BY 1
         |), arr AS (
         |  SELECT list(rev ORDER BY day) AS xs,
         |         list(cnt ORDER BY day) AS ys
         |  FROM daily
         |), base AS (
         |  SELECT xs, ys, CAST(len(xs) AS BIGINT) AS n,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
         |           (a, b) -> a + b) AS sx,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), ys),
         |           (a, b) -> a + b) AS sy
         |  FROM arr
         |), cs2 AS MATERIALIZED (
         |  SELECT n, list_transform(xs, v -> n * v - sx) AS cx,
         |         list_transform(ys, v -> n * v - sy) AS cy
         |  FROM base
         |), vr2 AS (
         |  SELECT list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |           list_transform(cx, c -> CAST(c AS HUGEINT) * c)),
         |           (a, b) -> a + b) AS varx_n2,
         |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |           list_transform(cy, c -> CAST(c AS HUGEINT) * c)),
         |           (a, b) -> a + b) AS vary_n2
         |  FROM cs2
         |), lagt AS MATERIALIZED (
         |  SELECT lag, n, varx_n2, vary_n2,
         |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |           list_transform(range(1, CAST(n - abs(lag) + 1 AS BIGINT)), i ->
         |             CAST(cx[CAST(i + greatest(-lag, 0) AS INT)] AS HUGEINT)
         |               * cy[CAST(i + greatest(lag, 0) AS INT)])),
         |           (a, b) -> a + b) AS cov_n2
         |  FROM cs2, vr2,
         |       (SELECT unnest(range(${-AcfMaxLag}, ${AcfMaxLag + 1})) AS lag)
         |  WHERE abs(lag) < n
         |)
         |SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
         |       CAST(cov_n2 AS VARCHAR) AS ccf_num,
         |       CASE WHEN varx_n2 > 0 AND vary_n2 > 0 THEN
         |         CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |           / (sqrt(CAST(CAST(varx_n2 AS VARCHAR) AS DOUBLE))
         |              * sqrt(CAST(CAST(vary_n2 AS VARCHAR) AS DOUBLE))) END AS ccf,
         |       coalesce(CASE WHEN varx_n2 > 0 AND vary_n2 > 0 THEN
         |         abs(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |             / (sqrt(CAST(CAST(varx_n2 AS VARCHAR) AS DOUBLE))
         |                * sqrt(CAST(CAST(vary_n2 AS VARCHAR) AS DOUBLE))))
         |           > 2.0 / sqrt(CAST(n AS DOUBLE)) END, FALSE)
         |         AS significant
         |FROM lagt
         |ORDER BY lag""".stripMargin,
    // the q369 chain, then the ascending-k fold and the literal χ² line
    "q383_ljung_box" ->
      s"""WITH $acfChainSql,
         |rs AS (
         |  SELECT max(n) AS n, count(*) AS n_lags,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list((CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |                 / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE))
         |                * (CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |                   / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE))
         |                / CAST(n - lag AS DOUBLE) ORDER BY lag)),
         |           (a, b) -> a + b) AS ssum
         |  FROM lagt WHERE var_n2 > 0
         |)
         |SELECT n AS n_days, CAST($AcfMaxLag AS BIGINT) AS df,
         |       CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * ssum AS q_lb,
         |       CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * ssum > $LbCrit
         |         AS autocorrelated
         |FROM rs WHERE n_lags = $AcfMaxLag""".stripMargin,
    // day census → exact lower-median selection → one lag window for
    // the run count → fixed z tree (n⁴ moments HUGEINT → VARCHAR)
    "q409_runs_test_daily" -> {
      val muSql = "CAST(2 * n_above * n_below AS DOUBLE) " +
        "/ CAST(n_above + n_below AS DOUBLE) + 1.0"
      val sigSql = "sqrt(CAST(CAST(CAST(2 * n_above * n_below AS HUGEINT) " +
        "* (2 * n_above * n_below - (n_above + n_below)) AS VARCHAR) " +
        "AS DOUBLE) / CAST(CAST(CAST(n_above + n_below AS HUGEINT) " +
        "* (n_above + n_below) * (n_above + n_below - 1) AS VARCHAR) " +
        "AS DOUBLE))"
      val zSql = s"(CAST(n_runs AS DOUBLE) - ($muSql)) / $sigSql"
      s"""WITH daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders GROUP BY 1
         |), cums AS (
         |  SELECT rev, CAST(sum(cnt) OVER (ORDER BY rev
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |  FROM (SELECT rev, CAST(count(*) AS BIGINT) AS cnt
         |        FROM daily GROUP BY 1)
         |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
         |med AS MATERIALIZED (
         |  SELECT min(CASE WHEN cum >= (n_days + 1) // 2
         |                   AND (n_days + 1) // 2 >= 1 THEN rev END) AS med
         |  FROM cums, nd
         |), signed AS (
         |  SELECT day, rev > med AS above
         |  FROM daily, med WHERE rev <> med
         |), g AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN above THEN 1 ELSE 0 END), 0)
         |              AS BIGINT) AS n_above,
         |         CAST(coalesce(sum(CASE WHEN above THEN 0 ELSE 1 END), 0)
         |              AS BIGINT) AS n_below,
         |         1 + CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
         |                    AND prev <> above THEN 1 ELSE 0 END), 0)
         |              AS BIGINT) AS n_runs
         |  FROM (SELECT above, lag(above) OVER (ORDER BY day) AS prev
         |        FROM signed)
         |)
         |SELECT n_days, med AS median_cents,
         |       n_days - n_above - n_below AS n_excluded,
         |       n_above, n_below,
         |       CASE WHEN n_above + n_below > 0 THEN n_runs END AS n_runs,
         |       CASE WHEN n_above > 0 AND n_below > 0
         |             AND n_above + n_below > 1 THEN $muSql END AS mu_runs,
         |       CASE WHEN n_above > 0 AND n_below > 0
         |             AND n_above + n_below > 1
         |             AND CAST(2 * n_above * n_below AS HUGEINT)
         |                 * (2 * n_above * n_below - (n_above + n_below)) > 0
         |            THEN $zSql END AS z_runs,
         |       coalesce(CASE WHEN n_above > 0 AND n_below > 0
         |             AND n_above + n_below > 1
         |             AND CAST(2 * n_above * n_below AS HUGEINT)
         |                 * (2 * n_above * n_below - (n_above + n_below)) > 0
         |            THEN abs($zSql)
         |                 > ${graft.queries.LlmOps.MwCritAlpha05} END, FALSE)
         |         AS nonrandom
         |FROM g, nd, med WHERE n_days >= 2""".stripMargin
    },
    // the day census self-joined on day−7 → signed diffs → |d| census
    // with doubled midranks → the exact tie-corrected z
    "q421_wilcoxon_signed_rank" -> {
      val var12Sql = "2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie"
      val zSql = "CAST(wp2 - (n * (n + 1)) // 2 AS DOUBLE) " +
        s"/ sqrt(CAST(CAST($var12Sql AS VARCHAR) AS DOUBLE) / 12.0)"
      val okSql = s"n > 0 AND $var12Sql > 0"
      s"""WITH daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders GROUP BY 1
         |), pairs AS MATERIALIZED (
         |  SELECT t.rev - p.rev AS dcents
         |  FROM daily t JOIN daily p ON t.day = p.day + 7
         |), pc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(coalesce(sum(CASE WHEN dcents = 0 THEN 1 ELSE 0 END),
         |                       0) AS BIGINT) AS n_zero
         |  FROM pairs
         |), census AS (
         |  SELECT abs(dcents) AS ad, CAST(count(*) AS BIGINT) AS w,
         |         ${sumLongSql("CASE WHEN dcents > 0 THEN 1 ELSE 0 END")}
         |           AS pos
         |  FROM pairs WHERE dcents <> 0 GROUP BY 1
         |), g AS (
         |  SELECT ${sumLongSql("w")} AS n,
         |         ${sumLongSql("pos * (2 * cum_before + w + 1)")} AS wp2,
         |         sum(CAST(w AS HUGEINT) * w * w - w) AS tie
         |  FROM (SELECT w, pos,
         |               CAST(sum(w) OVER (ORDER BY ad
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                 AS BIGINT) - w AS cum_before
         |        FROM census)
         |)
         |SELECT n_pairs, n_zero, n AS n_nonzero, wp2 AS w_plus2,
         |       CAST(tie AS VARCHAR) AS tie_term,
         |       CASE WHEN $okSql THEN $zSql END AS z_wilcoxon,
         |       coalesce(CASE WHEN $okSql THEN abs($zSql)
         |                > ${graft.queries.LlmOps.MwCritAlpha05} END, FALSE)
         |         AS shifted
         |FROM g, pc""".stripMargin
    },
    // the q341 window → exact mean-deviation residuals cleared of /n →
    // one lag window → the single-divide DW tree
    "q422_durbin_watson" -> {
      val dwSql = "(CAST(CAST(CAST(n AS HUGEINT) * n * sd2 AS VARCHAR) " +
        "AS DOUBLE) / CAST(CAST(den AS VARCHAR) AS DOUBLE))"
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders, mx
         |  WHERE CAST(o_orderdate AS DATE) >= mday - ${TheilSenWindowDays - 1}
         |  GROUP BY 1
         |), nd AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(rev) AS BIGINT) AS srev
         |  FROM daily
         |), g AS (
         |  SELECT max(n) AS n,
         |         coalesce(sum(CASE WHEN prev IS NOT NULL
         |                  THEN CAST(rev - prev AS HUGEINT) * (rev - prev)
         |                  END), CAST(0 AS HUGEINT)) AS sd2,
         |         sum((CAST(n AS HUGEINT) * rev - srev)
         |             * (CAST(n AS HUGEINT) * rev - srev)) AS den
         |  FROM (SELECT rev, lag(rev) OVER (ORDER BY day) AS prev, n, srev
         |        FROM daily, nd)
         |)
         |SELECT n AS n_days,
         |       CAST(sd2 AS VARCHAR) AS sd2_num,
         |       CAST(den AS VARCHAR) AS den_num,
         |       CASE WHEN den > 0 THEN $dwSql END AS dw_stat,
         |       CASE WHEN den > 0 THEN 1.0 - $dwSql / 2.0 END AS r1_implied,
         |       coalesce(CASE WHEN den > 0
         |                THEN $dwSql < 1.5 OR $dwSql > 2.5 END, FALSE)
         |         AS autocorrelated
         |FROM g WHERE n >= 2""".stripMargin
    },
    // q404's machinery per epoch-mod-7 season: season-keyed pair join,
    // per-season tie-corrected variances, pooled continuity-corrected z
    "q431_seasonal_mann_kendall" -> {
      val zExpr = "CASE WHEN s_tot > 0 THEN CAST(s_tot - 1 AS DOUBLE) " +
        "/ sqrt(CAST(var18_tot AS DOUBLE) / 18.0) " +
        "WHEN s_tot < 0 THEN CAST(s_tot + 1 AS DOUBLE) " +
        "/ sqrt(CAST(var18_tot AS DOUBLE) / 18.0) ELSE 0.0 END"
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |daily AS MATERIALIZED (
         |  SELECT day, rev,
         |         CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS dow
         |  FROM (
         |    SELECT CAST(o_orderdate AS DATE) AS day,
         |           ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |    FROM orders, mx
         |    WHERE CAST(o_orderdate AS DATE) >= mday - ${TheilSenWindowDays - 1}
         |    GROUP BY 1)
         |), sp AS (
         |  SELECT a.dow,
         |         CAST(coalesce(${sumLongSql(
               "CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END")}, 0)
         |           AS BIGINT) AS s_d
         |  FROM daily a JOIN daily b ON a.dow = b.dow AND a.day < b.day
         |  GROUP BY 1
         |), tie AS (
         |  SELECT dow,
         |         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
         |           AS tie_d,
         |         ${sumLongSql("t")} AS n_d
         |  FROM (SELECT dow, rev, CAST(count(*) AS BIGINT) AS t
         |        FROM daily GROUP BY 1, 2)
         |  GROUP BY 1
         |), per AS MATERIALIZED (
         |  SELECT t.dow, t.n_d, CAST(coalesce(s.s_d, 0) AS BIGINT) AS s_d,
         |         t.n_d * (t.n_d - 1) * (2 * t.n_d + 5) - t.tie_d AS var18_d
         |  FROM tie t LEFT JOIN sp s USING (dow)
         |), pool AS (
         |  SELECT ${sumLongSql("n_d")} AS n_days, ${sumLongSql("s_d")} AS s_tot,
         |         ${sumLongSql("var18_d")} AS var18_tot
         |  FROM per
         |)
         |SELECT per.dow, per.n_d, per.s_d, per.var18_d,
         |       n_days, s_tot, var18_tot,
         |       CASE WHEN var18_tot > 0 THEN $zExpr END AS z_smk,
         |       coalesce(CASE WHEN var18_tot > 0
         |                THEN abs($zExpr) > ${graft.queries.LlmOps.MwCritAlpha05} END,
         |                FALSE) AS trending,
         |       CASE WHEN s_tot > 0 THEN 'increasing'
         |            WHEN s_tot < 0 THEN 'decreasing'
         |            ELSE 'none' END AS direction
         |FROM per, pool WHERE n_days >= 2
         |ORDER BY per.dow""".stripMargin
    },
    // the q341 window, the same bounded pair join with a sign fold,
    // the exact tie-corrected variance, one continuity-corrected z
    "q404_mann_kendall" -> {
      val zExpr = "CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) " +
        "/ sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
        "WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) " +
        "/ sqrt(CAST(var18 AS DOUBLE) / 18.0) ELSE 0.0 END"
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders, mx
         |  WHERE CAST(o_orderdate AS DATE) >= mday - ${TheilSenWindowDays - 1}
         |  GROUP BY 1
         |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
         |sp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(coalesce(${sumLongSql(
               "CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END")}, 0)
         |           AS BIGINT) AS s_stat
         |  FROM daily a JOIN daily b ON a.day < b.day
         |), tie AS (
         |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
         |           AS tie_term
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY rev)
         |), g AS (
         |  SELECT n, n_pairs, s_stat,
         |         n * (n - 1) * (2 * n + 5) - tie_term AS var18
         |  FROM nd, sp, tie
         |)
         |SELECT n AS n_days, n_pairs, s_stat, var18,
         |       CASE WHEN var18 > 0 THEN $zExpr END AS z_mk,
         |       coalesce(CASE WHEN var18 > 0
         |                THEN abs($zExpr) > ${graft.queries.LlmOps.MwCritAlpha05} END,
         |                FALSE) AS trending,
         |       CASE WHEN s_stat > 0 THEN 'increasing'
         |            WHEN s_stat < 0 THEN 'decreasing'
         |            ELSE 'none' END AS direction
         |FROM g WHERE n >= 2""".stripMargin
    },
    // the q404 pair join decomposed to endpoint censuses → one
    // cumulative window over the day census → earliest-argmax pick →
    // the exact-integer exponent against the ln(40) literal
    "q438_pettitt_changepoint" ->
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders, mx
         |  WHERE CAST(o_orderdate AS DATE) >= mday - ${TheilSenWindowDays - 1}
         |  GROUP BY 1
         |), pairs AS MATERIALIZED (
         |  SELECT a.day AS da, b.day AS db,
         |         CASE WHEN b.rev > a.rev THEN 1
         |              WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sg
         |  FROM daily a JOIN daily b ON a.day < b.day
         |), bper AS (SELECT da AS day, ${sumLongSql("sg")} AS b_t
         |            FROM pairs GROUP BY 1),
         |aper AS (SELECT db AS day, ${sumLongSql("sg")} AS a_t
         |         FROM pairs GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n, max(day) AS last_day
         |       FROM daily),
         |u AS (
         |  SELECT day, CAST(sum(d) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS u_t
         |  FROM (
         |    SELECT dd.day,
         |           coalesce(b.b_t, 0) - coalesce(a.a_t, 0) AS d
         |    FROM (SELECT day FROM daily) dd
         |    LEFT JOIN bper b USING (day) LEFT JOIN aper a USING (day))
         |), best AS (
         |  SELECT * FROM u, nd
         |  WHERE n >= 2 AND day < last_day
         |  ORDER BY abs(u_t) DESC, day ASC LIMIT 1
         |)
         |SELECT n AS n_days, day AS split_day, abs(u_t) AS k_stat,
         |       u_t AS u_at_split,
         |       CAST(6 * u_t * u_t AS DOUBLE)
         |         / CAST(n * n * n + n * n AS DOUBLE) AS pettitt_exponent,
         |       CAST(6 * u_t * u_t AS DOUBLE)
         |         / CAST(n * n * n + n * n AS DOUBLE) > $PettittCritLn
         |         AS changepoint,
         |       CASE WHEN u_t > 0 THEN 'level_up'
         |            WHEN u_t < 0 THEN 'level_down'
         |            ELSE 'none' END AS direction
         |FROM best""".stripMargin,
    // the q340 censored-duration census split by segment → reverse
    // cumulative risk sets → per-time hypergeometric terms → one
    // event-time-ordered list_reduce fold for the pooled O-E and V
    "q440_log_rank" -> {
      val eA = "(CAST(CAST(CAST(d AS HUGEINT) * n_a AS VARCHAR) AS DOUBLE)" +
        " / CAST(n AS DOUBLE))"
      val vT = "CASE WHEN n > 1 THEN " +
        "CAST(CAST(CAST(d AS HUGEINT) * n_a AS VARCHAR) AS DOUBLE) " +
        "/ CAST(n AS DOUBLE) * (CAST(n - n_a AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "* (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)) ELSE 0.0 END"
      val z = "(oe_sum / sqrt(v_sum))"
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |seg AS (SELECT c_custkey, c_mktsegment = 'BUILDING' AS ga
         |        FROM customer),
         |percust AS (
         |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f,
         |         max(CAST(o_orderdate AS DATE)) AS l
         |  FROM orders GROUP BY 1
         |), base AS (
         |  SELECT (mday - l > $KmChurnDays) AS ev,
         |         CAST(CASE WHEN mday - l > $KmChurnDays THEN l - f
         |              ELSE mday - f END AS BIGINT) AS t,
         |         coalesce(ga, FALSE) AS ga
         |  FROM percust CROSS JOIN mx LEFT JOIN seg ON o_custkey = c_custkey
         |), census AS (
         |  SELECT t,
         |         ${sumLongSql("CASE WHEN ev AND ga THEN 1 ELSE 0 END")}
         |           AS d_a,
         |         ${sumLongSql("CASE WHEN ev THEN 1 ELSE 0 END")} AS d,
         |         ${sumLongSql("CASE WHEN ga THEN 1 ELSE 0 END")} AS tot_a,
         |         CAST(count(*) AS BIGINT) AS tot
         |  FROM base GROUP BY 1
         |), risk AS MATERIALIZED (
         |  SELECT t, d_a, d,
         |         CAST(sum(tot_a) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_a,
         |         CAST(sum(tot) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
         |  FROM census
         |), rows_ AS MATERIALIZED (
         |  SELECT t, n_a, n, d_a, d, $eA AS e_a, $vT AS v_t,
         |         CAST(d_a AS DOUBLE) - $eA AS oe
         |  FROM risk WHERE d > 0
         |), pooled AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(oe ORDER BY t)), (x, y) -> x + y) AS oe_sum,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(v_t ORDER BY t)), (x, y) -> x + y) AS v_sum
         |  FROM rows_
         |)
         |SELECT t AS t_days, n_a AS n_risk_a, n AS n_risk,
         |       d_a AS d_events_a, d AS d_events, e_a, v_t,
         |       oe_sum, v_sum,
         |       CASE WHEN v_sum > 0.0 THEN $z END AS z_logrank,
         |       coalesce(CASE WHEN v_sum > 0.0 THEN
         |                abs($z) > ${graft.queries.LlmOps.MwCritAlpha05} END,
         |                FALSE) AS groups_differ
         |FROM rows_, pooled
         |ORDER BY t_days""".stripMargin
    },
    // the 256-day grouped census → 8 chained block-sum/difference CTEs
    // (missing days are zero by absence) → per-level HUGEINT energies
    // → the exact Parseval columns + one var_frac divide
    "q439_haar_energy" -> {
      val ladder = (1 to 8).map { l =>
        s"""lvl$l AS MATERIALIZED (
           |  SELECT i // 2 AS i,
           |         ${sumLongSql("CASE WHEN i % 2 = 0 THEN v ELSE -v END")}
           |           AS d,
           |         ${sumLongSql("v")} AS v
           |  FROM lvl${l - 1} GROUP BY 1
           |)""".stripMargin
      }.mkString(",\n")
      val eng = (1 to 8).map { l =>
        s"""SELECT CAST($l AS BIGINT) AS level,
           |       CAST(${1L << (8 - l)} AS BIGINT) AS n_coeffs,
           |       coalesce(sum(CAST(d AS HUGEINT) * d),
           |                CAST(0 AS HUGEINT)) AS energy
           |FROM lvl$l""".stripMargin
      }.mkString("\nUNION ALL\n")
      val varDen = s"(CAST($HaarWindowDays AS HUGEINT) * e0 " +
        "- CAST(s_tot AS HUGEINT) * s_tot)"
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |lvl0 AS MATERIALIZED (
         |  SELECT CAST(CAST(o_orderdate AS DATE)
         |              - (mday - ${HaarWindowDays - 1}) AS BIGINT) AS i,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS v
         |  FROM orders, mx
         |  WHERE CAST(o_orderdate AS DATE) >= mday - ${HaarWindowDays - 1}
         |  GROUP BY 1
         |),
         |$ladder,
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(coalesce(sum(v), 0) AS BIGINT) AS s_tot,
         |         coalesce(sum(CAST(v AS HUGEINT) * v),
         |                  CAST(0 AS HUGEINT)) AS e0
         |  FROM lvl0
         |),
         |eng AS (
         |$eng
         |)
         |SELECT level, n_coeffs, CAST(energy AS VARCHAR) AS energy,
         |       CAST(energy * n_coeffs AS VARCHAR) AS energy_scaled,
         |       CASE WHEN $varDen > 0 THEN
         |         CAST(CAST(energy * n_coeffs AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST($varDen AS VARCHAR) AS DOUBLE) END
         |         AS var_frac,
         |       n_days, s_tot AS total_cents,
         |       CAST(e0 AS VARCHAR) AS sum_sq_cents
         |FROM eng, tot
         |ORDER BY level""".stripMargin
    },
    // the q369 chain, q378's DL recursion keeping every k row, a
    // max(k) order pick, and a linear one-step backtest recursion; the
    // inner yhat sum runs all 7 j-slots with the j ≤ ord gate and a
    // 0.0 seed — the exact Spark fold tree
    "q398_ar_fit_backtest" -> {
      val yhatTerms = (1 to AcfMaxLag).map(j =>
        s"""CASE WHEN $j <= ord THEN phi[$j]
           |* (CAST(xs[CAST(b.t - ${j - 1} AS INT)] AS DOUBLE) - mu)
           |ELSE 0.0 END""".stripMargin.replace("\n", " "))
        .mkString("(CAST(0.0 AS DOUBLE) + ", " + ", ")")
      val phiCols = (1 to AcfMaxLag).map(j =>
        s"CASE WHEN $j <= sel.ord THEN (SELECT phi[$j] FROM pac WHERE k = sel.ord) END AS phi$j")
        .mkString(",\n         |       ")
      s"""WITH RECURSIVE $acfChainSql,
         |racf AS MATERIALIZED (
         |  SELECT max(n) AS n, count(*) AS n_lags,
         |         list(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |              / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE)
         |              ORDER BY lag) AS r
         |  FROM lagt WHERE var_n2 > 0
         |), rok AS MATERIALIZED (
         |  SELECT n, r FROM racf WHERE n_lags = $AcfMaxLag
         |), dl AS (
         |  SELECT CAST(1 AS BIGINT) AS k, [r[1]] AS phi
         |  FROM rok
         |  UNION ALL
         |  SELECT k + 1,
         |         list_append(list_transform(range(1, k + 1), j ->
         |           phi[CAST(j AS INT)] - a * phi[CAST(k + 1 - j AS INT)]), a)
         |  FROM (
         |    SELECT d.k, d.phi,
         |           (r[CAST(d.k + 1 AS INT)]
         |            - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, d.k + 1), j ->
         |                  d.phi[CAST(j AS INT)]
         |                    * r[CAST(d.k + 1 - j AS INT)])),
         |                (x, y) -> x + y))
         |           / (1.0 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, d.k + 1), j ->
         |                  d.phi[CAST(j AS INT)] * r[CAST(j AS INT)])),
         |                (x, y) -> x + y)) AS a
         |    FROM dl d, rok WHERE d.k < $AcfMaxLag
         |  )
         |), pac AS MATERIALIZED (
         |  SELECT k, phi, phi[CAST(k AS INT)] AS pacf FROM dl
         |), sel AS MATERIALIZED (
         |  SELECT coalesce((SELECT max(pac.k) FROM pac, rok
         |                   WHERE abs(pac.pacf)
         |                         > 2.0 / sqrt(CAST(rok.n AS DOUBLE))),
         |                  0) AS ord
         |  FROM rok
         |), env AS MATERIALIZED (
         |  SELECT base.xs, rok.n, ${ratioSql("base.s", "rok.n")} AS mu,
         |         sel.ord,
         |         CASE WHEN sel.ord >= 1
         |              THEN (SELECT phi FROM pac WHERE k = sel.ord) END AS phi
         |  FROM base, rok, sel
         |), bt AS (
         |  SELECT CAST(7 AS BIGINT) AS t,
         |         CAST(0.0 AS DOUBLE) AS sa, CAST(0.0 AS DOUBLE) AS sn
         |  FROM rok
         |  UNION ALL
         |  SELECT t + 1,
         |         sa + (yt - yhat) * (yt - yhat),
         |         sn + (yt - ylag) * (yt - ylag)
         |  FROM (
         |    SELECT b.t, b.sa, b.sn,
         |           CAST(xs[CAST(b.t + 1 AS INT)] AS DOUBLE) AS yt,
         |           CAST(xs[CAST(b.t AS INT)] AS DOUBLE) AS ylag,
         |           mu + $yhatTerms AS yhat
         |    FROM bt b, env WHERE b.t < env.n)
         |), fin AS (SELECT sa, sn FROM bt ORDER BY t DESC LIMIT 1)
         |SELECT rok.n AS n_days, CAST(sel.ord AS BIGINT) AS ar_order,
         |       ${ratioSql("base.s", "rok.n")} AS mean_cents,
         |       $phiCols,
         |       fin.sa AS sse_ar, fin.sn AS sse_naive,
         |       CASE WHEN fin.sn > 0.0 THEN fin.sa / fin.sn END
         |         AS theil_u2_ar,
         |       fin.sa < fin.sn AS ar_beats_naive
         |FROM rok, sel, base, fin""".stripMargin
    },
    // the q369 chain, then Durbin–Levinson as a linear recursion with
    // LIST state (immutable per step — never a list_reduce struct fold)
    "q378_pacf_durbin_levinson" ->
      s"""WITH RECURSIVE $acfChainSql,
         |racf AS MATERIALIZED (
         |  SELECT max(n) AS n, count(*) AS n_lags,
         |         list(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |              / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE)
         |              ORDER BY lag) AS r
         |  FROM lagt WHERE var_n2 > 0
         |), rok AS MATERIALIZED (
         |  SELECT n, r FROM racf WHERE n_lags = $AcfMaxLag
         |), dl AS (
         |  SELECT CAST(1 AS BIGINT) AS k,
         |         [r[1]] AS phi, [r[1]] AS pacf
         |  FROM rok
         |  UNION ALL
         |  SELECT k + 1,
         |         list_append(list_transform(range(1, k + 1), j ->
         |           phi[CAST(j AS INT)] - a * phi[CAST(k + 1 - j AS INT)]), a),
         |         list_append(pacf, a)
         |  FROM (
         |    SELECT d.k, d.phi, d.pacf,
         |           (r[CAST(d.k + 1 AS INT)]
         |            - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, d.k + 1), j ->
         |                  d.phi[CAST(j AS INT)]
         |                    * r[CAST(d.k + 1 - j AS INT)])),
         |                (x, y) -> x + y))
         |           / (1.0 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, d.k + 1), j ->
         |                  d.phi[CAST(j AS INT)] * r[CAST(j AS INT)])),
         |                (x, y) -> x + y)) AS a
         |    FROM dl d, rok WHERE d.k < $AcfMaxLag
         |  )
         |), fin AS (SELECT pacf FROM dl ORDER BY k DESC LIMIT 1)
         |SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
         |       r[CAST(lag AS INT)] AS acf, pacf[CAST(lag AS INT)] AS pacf
         |FROM fin, rok, (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag)
         |ORDER BY lag""".stripMargin,
    // q378's DL recursion → the variance-ratio ladder recursion seeded
    // at order 0 → the single-divide FPE tree and a min-k argmin
    "q426_fpe_order_selection" ->
      s"""WITH RECURSIVE $acfChainSql,
         |racf AS MATERIALIZED (
         |  SELECT max(n) AS n, count(*) AS n_lags,
         |         list(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |              / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE)
         |              ORDER BY lag) AS r
         |  FROM lagt WHERE var_n2 > 0
         |), rok AS MATERIALIZED (
         |  SELECT n, r FROM racf
         |  WHERE n_lags = $AcfMaxLag AND n > ${AcfMaxLag + 1}
         |), dl AS (
         |  SELECT CAST(1 AS BIGINT) AS k,
         |         [r[1]] AS phi, [r[1]] AS pacf
         |  FROM rok
         |  UNION ALL
         |  SELECT k + 1,
         |         list_append(list_transform(range(1, k + 1), j ->
         |           phi[CAST(j AS INT)] - a * phi[CAST(k + 1 - j AS INT)]), a),
         |         list_append(pacf, a)
         |  FROM (
         |    SELECT d.k, d.phi, d.pacf,
         |           (r[CAST(d.k + 1 AS INT)]
         |            - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, d.k + 1), j ->
         |                  d.phi[CAST(j AS INT)]
         |                    * r[CAST(d.k + 1 - j AS INT)])),
         |                (x, y) -> x + y))
         |           / (1.0 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                list_transform(range(1, d.k + 1), j ->
         |                  d.phi[CAST(j AS INT)] * r[CAST(j AS INT)])),
         |                (x, y) -> x + y)) AS a
         |    FROM dl d, rok WHERE d.k < $AcfMaxLag
         |  )
         |), fin AS (SELECT pacf FROM dl ORDER BY k DESC LIMIT 1),
         |ladder AS (
         |  SELECT CAST(0 AS BIGINT) AS k, CAST(NULL AS DOUBLE) AS pacf,
         |         CAST(1.0 AS DOUBLE) AS v
         |  FROM fin
         |  UNION ALL
         |  SELECT l.k + 1, f.pacf[CAST(l.k + 1 AS INT)],
         |         l.v * (1.0 - f.pacf[CAST(l.k + 1 AS INT)]
         |                      * f.pacf[CAST(l.k + 1 AS INT)])
         |  FROM ladder l, fin f WHERE l.k < $AcfMaxLag
         |), ex AS MATERIALIZED (
         |  SELECT k, n, pacf, v,
         |         v * (CAST(n + k + 1 AS DOUBLE)
         |              / CAST(n - k - 1 AS DOUBLE)) AS fpe
         |  FROM ladder, rok
         |), sel AS (
         |  SELECT min(k) AS sel_k FROM ex
         |  WHERE fpe = (SELECT min(fpe) FROM ex)
         |)
         |SELECT k AS order_k, n AS n_days, pacf, v AS sigma2_ratio,
         |       fpe AS fpe_rel, k = sel_k AS selected
         |FROM ex, sel ORDER BY k""".stripMargin,
    "q353_motif_discord" ->
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         CAST(${sumLongSql(centsSql("o_totalprice"))} // 100 AS BIGINT)
         |           AS rev
         |  FROM orders, mx
         |  WHERE CAST(o_orderdate AS DATE) >= mday - ${TheilSenWindowDays - 1}
         |  GROUP BY 1
         |), folded AS MATERIALIZED (
         |  SELECT list(struct_pack(day := day, rev := rev) ORDER BY day) AS xs
         |  FROM daily
         |), wins AS MATERIALIZED (
         |  SELECT p AS i, xs[CAST(p AS INT) + 1].day AS day,
         |         list_transform(xs[CAST(p AS INT) + 1:CAST(p AS INT) + $MotifW],
         |           e -> e.rev) AS w
         |  FROM (SELECT xs, unnest(range(0, greatest(len(xs) - ${MotifW - 1}, 0)))
         |          AS p FROM folded)
         |), pairs AS MATERIALIZED (
         |  SELECT a.i AS ia, a.day AS da, b.i AS ib, b.day AS db,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(a.w, (x, k) -> (x - b.w[k]) * (x - b.w[k]))),
         |           (s, v) -> s + v) AS d2
         |  FROM (SELECT * FROM wins) a JOIN (SELECT * FROM wins) b
         |    ON b.i - a.i >= $MotifW
         |), motif AS (
         |  SELECT 'motif' AS kind, ia AS i, da AS day_i, ib AS j,
         |         db AS day_j, d2 AS dist2_dollars
         |  FROM pairs ORDER BY d2 ASC, ia ASC, ib ASC LIMIT 1
         |), sym AS (
         |  SELECT ia AS i, da AS d, ib AS j, db AS dj, d2 FROM pairs
         |  UNION ALL SELECT ib, db, ia, da, d2 FROM pairs
         |), nn AS (
         |  SELECT * FROM (SELECT *, row_number() OVER (
         |    PARTITION BY i ORDER BY d2 ASC, j ASC) AS rn FROM sym)
         |  WHERE rn = 1
         |), discord AS (
         |  SELECT 'discord' AS kind, i, d AS day_i, j, dj AS day_j,
         |         d2 AS dist2_dollars
         |  FROM nn ORDER BY d2 DESC, i ASC LIMIT 1
         |)
         |SELECT * FROM (SELECT * FROM motif UNION ALL SELECT * FROM discord)
         |ORDER BY kind""".stripMargin,
    "q354_seasonal_decompose" ->
      // DuckDB dayofweek is Sunday=0; Spark's is Sunday=1 — the +1
      // aligns them
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders GROUP BY 1
         |), folded AS MATERIALIZED (
         |  SELECT list(struct_pack(day := day, rev := rev) ORDER BY day) AS xs
         |  FROM daily
         |), base AS MATERIALIZED (
         |  SELECT xs[CAST(i AS INT) + 1].day AS day,
         |         xs[CAST(i AS INT) + 1].rev AS rev,
         |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(xs[CAST(i AS INT) - 2:CAST(i AS INT) + 4],
         |             e -> e.rev)), (a, b) -> a + b) AS DOUBLE) / 7.0 AS trend
         |  FROM (SELECT xs, unnest(CASE WHEN len(xs) >= 7
         |          THEN range(3, len(xs) - 3)
         |          ELSE CAST([] AS BIGINT[]) END) AS i FROM folded)
         |), detrended AS MATERIALIZED (
         |  SELECT day, rev, trend,
         |         CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
         |         CAST(rev AS DOUBLE) - trend AS detr
         |  FROM base
         |), dowmed AS MATERIALIZED (
         |  SELECT dow, ds[(len(ds) + 1) // 2] AS med
         |  FROM (SELECT dow, list(detr ORDER BY detr) AS ds
         |        FROM detrended GROUP BY 1)
         |), grand AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(ms, x -> x.med)), (a, b) -> a + b)
         |         / CAST(len(ms) AS DOUBLE) AS mbar
         |  FROM (SELECT list(struct_pack(dow := dow, med := med)
         |                 ORDER BY dow) AS ms FROM dowmed)
         |), seas AS (SELECT dow, med - mbar AS seasonal FROM dowmed, grand)
         |SELECT d.day, d.rev AS rev_cents, d.trend, s.seasonal,
         |       d.detr - s.seasonal AS residual
         |FROM detrended d JOIN seas s ON d.dow = s.dow
         |ORDER BY d.day""".stripMargin,
    // observed-sequence centered terms scaled by n (denominators
    // cleared), HUGEINT folds per lag in ascending-t order, r_k as the
    // one shared divide (the n² factors cancel)
    "q369_acf_daily_revenue" ->
      s"""WITH $acfChainSql
         |SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
         |       CAST(cov_n2 AS VARCHAR) AS cov_num,
         |       CASE WHEN var_n2 > 0
         |            THEN CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |                 / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE)
         |       END AS acf,
         |       coalesce(CASE WHEN var_n2 > 0
         |            THEN abs(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         |                     / CAST(CAST(var_n2 AS VARCHAR) AS DOUBLE))
         |                 > 2.0 / sqrt(CAST(n AS DOUBLE))
         |       END, FALSE) AS significant
         |FROM lagt
         |ORDER BY lag""".stripMargin,
    "q346_amoc_changepoint" ->
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |  FROM orders GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(sum(rev) AS BIGINT) AS s_n
         |  FROM daily
         |), pre AS (
         |  SELECT day,
         |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
         |         CAST(sum(rev) OVER (ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS s_k
         |  FROM daily
         |), best AS (
         |  SELECT day, k, n_days, s_k, s_n
         |  FROM pre, tot
         |  WHERE k < n_days
         |  ORDER BY abs(CAST(s_k AS HUGEINT) * n_days
         |               - CAST(k AS HUGEINT) * s_n) DESC, day ASC
         |  LIMIT 1
         |)
         |SELECT day AS cp_day, k AS k_at_max, n_days,
         |       ${ratioSql("s_k", "k")} AS mean_before_cents,
         |       ${ratioSql("s_n - s_k", "n_days - k")} AS mean_after_cents
         |FROM best""".stripMargin,
    "q340_kaplan_meier" ->
      // DuckDB's 1-based lambda index i ↔ Spark's 0-based transform
      // index: strict prefix = xs[1:i-1] ↔ slice(xs, 1, i); inclusive
      // prefix = xs[1:i] ↔ slice(xs, 1, i+1). Each survival value
      // re-folds its prefix product left-to-right — the identical IEEE
      // sequence on both engines.
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |per AS (
         |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f,
         |         max(CAST(o_orderdate AS DATE)) AS l
         |  FROM orders GROUP BY 1
         |), census AS (
         |  SELECT t, CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d_ev,
         |         CAST(count(*) AS BIGINT) AS d_tot
         |  FROM (SELECT date_diff('day', l, mday) > $KmChurnDays AS ev,
         |               CAST(CASE WHEN date_diff('day', l, mday) > $KmChurnDays
         |                         THEN date_diff('day', f, l)
         |                         ELSE date_diff('day', f, mday) END AS BIGINT) AS t
         |        FROM per, mx)
         |  GROUP BY 1
         |), folded AS MATERIALIZED (
         |  SELECT list(struct_pack(t := t, d_ev := d_ev, d_tot := d_tot)
         |              ORDER BY t) AS xs
         |  FROM census
         |), withn AS (
         |  SELECT xs, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(xs, e -> e.d_tot)), (a, b) -> a + b) AS n
         |  FROM folded
         |), risk AS MATERIALIZED (
         |  SELECT list_transform(xs, (x, i) -> struct_pack(
         |           t := x.t, d_ev := x.d_ev, d_tot := x.d_tot,
         |           n_risk := n - list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(xs[1:i-1], e -> e.d_tot)),
         |             (a, b) -> a + b))) AS xs2
         |  FROM withn
         |), curve AS (
         |  SELECT unnest(list_transform(xs2, (x, i) -> struct_pack(
         |           t := x.t, n_risk := x.n_risk, d_ev := x.d_ev,
         |           d_cens := x.d_tot - x.d_ev,
         |           survival := list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
         |             list_transform(xs2[1:i], e ->
         |               1.0 - (CAST(e.d_ev AS DOUBLE)
         |                      / CAST(e.n_risk AS DOUBLE)))),
         |             (a, b) -> a * b)))) AS c
         |  FROM risk
         |)
         |SELECT c.t AS t_days, c.n_risk AS n_risk, c.d_ev AS n_events,
         |       c.d_cens AS n_censored, c.survival AS survival
         |FROM curve WHERE c.d_ev > 0 ORDER BY t_days""".stripMargin,
    "q341_theil_sen_trend" ->
      s"""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mday FROM orders),
         |daily AS MATERIALIZED (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev,
         |         max(mday - ${TheilSenWindowDays - 1}) AS anchor
         |  FROM orders, mx
         |  WHERE CAST(o_orderdate AS DATE) >= mday - ${TheilSenWindowDays - 1}
         |  GROUP BY 1
         |), slopes AS (
         |  SELECT ${ratioSql("(b.rev - a.rev)",
                              "date_diff('day', a.day, b.day)")} AS slope
         |  FROM (SELECT * FROM daily) a JOIN (SELECT * FROM daily) b
         |    ON a.day < b.day
         |), sm AS (
         |  SELECT CASE WHEN len(xs) > 0 THEN xs[(len(xs) + 1) // 2] END AS slope,
         |         CAST(len(xs) AS BIGINT) AS n_pairs
         |  FROM (SELECT list(slope ORDER BY slope) AS xs FROM slopes)
         |), resid AS (
         |  SELECT CAST(rev AS DOUBLE)
         |           - (slope * CAST(date_diff('day', anchor, day) AS DOUBLE)) AS r
         |  FROM daily, sm
         |), im AS (
         |  SELECT CASE WHEN len(xs) > 0 THEN xs[(len(xs) + 1) // 2] END AS intercept,
         |         CAST(len(xs) AS BIGINT) AS n_days
         |  FROM (SELECT list(r ORDER BY r) AS xs FROM resid)
         |)
         |SELECT n_days, n_pairs, slope AS slope_cents_per_day,
         |       intercept AS intercept_cents
         |FROM sm, im
         |WHERE coalesce(n_pairs, 0) > 0""".stripMargin,
    "q343_holt_linear" ->
      // RECURSIVE-CTE replay, not a list_reduce struct fold: DuckDB
      // 1.0's list_reduce mutates the accumulator struct IN PLACE field
      // by field, so a later field's formula (trend, which needs the
      // PRE-update level) silently reads the already-updated value —
      // measured divergence on the fixture; scalar-accumulator folds
      // (q340) are unaffected. The recursive step carries immutable
      // per-iteration state and replicates the Spark fold's arithmetic
      // tree operation-for-operation.
      s"""WITH RECURSIVE monthly AS (
         |  SELECT row_number() OVER (ORDER BY mon) AS rn,
         |         CAST(rev AS DOUBLE) AS y
         |  FROM (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS mon,
         |               ${sumLongSql(centsSql("o_totalprice"))} AS rev
         |        FROM orders GROUP BY 1)
         |), st AS (
         |  SELECT CAST(1 AS BIGINT) AS k, y AS l, CAST(0.0 AS DOUBLE) AS b,
         |         CAST(0.0 AS DOUBLE) AS sse
         |  FROM monthly WHERE rn = 1
         |  UNION ALL
         |  SELECT st.k + 1,
         |         0.5 * m.y + 0.5 * (st.l + st.b),
         |         0.25 * ((0.5 * m.y + 0.5 * (st.l + st.b)) - st.l)
         |           + 0.75 * st.b,
         |         st.sse + (m.y - (st.l + st.b)) * (m.y - (st.l + st.b))
         |  FROM st JOIN monthly m ON m.rn = st.k + 1
         |), fin AS (SELECT * FROM st ORDER BY k DESC LIMIT 1)
         |SELECT k AS n_months, l AS level, b AS trend, sse,
         |       l + (1.0 * b) AS fc_1, l + (3.0 * b) AS fc_3,
         |       l + (6.0 * b) AS fc_6, l + (12.0 * b) AS fc_12
         |FROM fin""".stripMargin,
    // same sessionization twin as q242; credits are exact integer basis
    // points with the remainder pinned to the earliest middle touch, so
    // the whole census (including conservation) replays in DuckDB
    "q323_position_attribution" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR CAST(floor(epoch(ts)) AS BIGINT)
         |                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |),
         |sess AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM marked
         |),
         |conv AS (
         |  SELECT user_id, sess_id, ts AS cts, event_id AS ceid FROM (
         |    SELECT user_id, sess_id, ts, event_id,
         |           row_number() OVER (PARTITION BY user_id, sess_id
         |                              ORDER BY ts ASC, event_id ASC) AS rn
         |    FROM sess WHERE event_type = 'purchase'
         |  ) WHERE rn = 1
         |),
         |touches AS (
         |  SELECT sess.user_id, sess.sess_id, sess.event_type, sess.ts, sess.event_id
         |  FROM sess
         |  JOIN conv ON sess.user_id = conv.user_id AND sess.sess_id = conv.sess_id
         |  WHERE sess.ts < conv.cts
         |     OR (sess.ts = conv.cts AND sess.event_id < conv.ceid)
         |),
         |pos AS (
         |  SELECT user_id, sess_id, event_type,
         |         CAST(row_number() OVER (PARTITION BY user_id, sess_id
         |                                 ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY user_id, sess_id) AS BIGINT) AS n
         |  FROM touches
         |),
         |cr AS (
         |  SELECT user_id, sess_id, event_type AS channel,
         |         CASE WHEN n = 1 THEN 10000
         |              WHEN n = 2 THEN 5000
         |              WHEN rn = 1 OR rn = n THEN 4000
         |              ELSE 2000 // (n - 2)
         |                   + CASE WHEN rn = 2 THEN 2000 % (n - 2) ELSE 0 END
         |         END AS credit_bp
         |  FROM pos
         |),
         |pc AS (
         |  SELECT user_id, sess_id, channel, CAST(sum(credit_bp) AS BIGINT) AS credit_bp
         |  FROM cr GROUP BY 1, 2, 3
         |),
         |u AS (
         |  SELECT channel, credit_bp FROM pc
         |  UNION ALL
         |  SELECT 'direct' AS channel, CAST(10000 AS BIGINT) AS credit_bp
         |  FROM conv
         |  WHERE NOT EXISTS (SELECT 1 FROM pc
         |                    WHERE pc.user_id = conv.user_id AND pc.sess_id = conv.sess_id)
         |)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions_touched,
         |       CAST(sum(credit_bp) AS BIGINT) AS credit_bp
         |FROM u GROUP BY 1
         |ORDER BY 1""".stripMargin,
    // full-replica oracle: row lags, integer |Δ| sums, one divide
    "q322_mase_backtest" ->
      s"""WITH t AS (
         |  SELECT l_suppkey AS sk,
         |         CAST(datediff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS dayi,
         |         sum(${centsSql("l_quantity")}) AS q
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
         |  GROUP BY 1, 2
         |), l AS (
         |  SELECT sk, q,
         |         lag(q, 1) OVER (PARTITION BY sk ORDER BY dayi) AS l1,
         |         lag(q, 7) OVER (PARTITION BY sk ORDER BY dayi) AS l7
         |  FROM t
         |), e AS (
         |  SELECT sk, abs(q - l1) AS e1, abs(q - l7) AS e7
         |  FROM l WHERE l7 IS NOT NULL
         |)
         |SELECT sk, CAST(count(*) AS BIGINT) AS n_eval,
         |       CAST(sum(e1) AS BIGINT) AS sum_abs_err_naive,
         |       CAST(sum(e7) AS BIGINT) AS sum_abs_err_seasonal,
         |       sum(e7) < sum(e1) AS seasonal_better,
         |       CASE WHEN sum(e1) > 0
         |            THEN CAST(sum(e7) AS DOUBLE) / CAST(sum(e1) AS DOUBLE)
         |            ELSE 0.0 END AS mase
         |FROM e GROUP BY sk
         |ORDER BY sk""".stripMargin,
    // INDEPENDENT oracle: DuckDB's native ASOF JOIN resolves each
    // boundary's covering ledger row (largest prev ≤ b−1 ⟺ smallest
    // cum ≥ b on contiguous positive-qty intervals), where the Spark
    // side uses the LOCF union-window — agreement proves the boundary
    // merge, not just replays it. All integer cents.
    "q320_fifo_lot_matching" ->
      s"""WITH rec0 AS (
         |  SELECT l_suppkey AS sk,
         |         CAST(datediff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS day,
         |         sum(${centsSql("l_quantity")}) AS qty
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
         |  GROUP BY 1, 2
         |), rec AS MATERIALIZED (
         |  SELECT sk, day, qty,
         |         CAST(sum(qty) OVER (PARTITION BY sk ORDER BY day) AS BIGINT) AS cum,
         |         CAST(sum(qty) OVER (PARTITION BY sk ORDER BY day) - qty AS BIGINT) AS prev
         |  FROM rec0
         |), iss0 AS (
         |  SELECT l_suppkey AS sk,
         |         CAST(datediff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS day,
         |         sum(${centsSql("l_quantity")}) AS qty
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
         |  GROUP BY 1, 2
         |), iss AS MATERIALIZED (
         |  SELECT sk, day, qty,
         |         CAST(sum(qty) OVER (PARTITION BY sk ORDER BY day) AS BIGINT) AS cum,
         |         CAST(sum(qty) OVER (PARTITION BY sk ORDER BY day) - qty AS BIGINT) AS prev
         |  FROM iss0
         |), bounds AS MATERIALIZED (
         |  SELECT DISTINCT sk, b FROM (
         |    SELECT sk, cum AS b FROM rec UNION ALL SELECT sk, cum AS b FROM iss)
         |), seg AS MATERIALIZED (
         |  SELECT sk, b, b - 1 AS bm1,
         |         coalesce(lag(b) OVER (PARTITION BY sk ORDER BY b), 0) AS pb
         |  FROM bounds
         |), rt AS (SELECT sk, CAST(count(*) AS BIGINT) AS n_lots, max(cum) AS rtot FROM rec GROUP BY 1),
         |it AS (SELECT sk, CAST(count(*) AS BIGINT) AS n_issues, max(cum) AS itot FROM iss GROUP BY 1),
         |segr AS (
         |  SELECT s.sk, s.b, s.pb, r.day AS r_day
         |  FROM (SELECT seg.* FROM seg JOIN rt USING (sk) WHERE seg.b <= rt.rtot) s
         |  ASOF JOIN rec r ON s.sk = r.sk AND s.bm1 >= r.prev
         |), segi AS (
         |  SELECT s.sk, s.b, i.day AS i_day
         |  FROM (SELECT seg.* FROM seg JOIN it USING (sk) WHERE seg.b <= it.itot) s
         |  ASOF JOIN iss i ON s.sk = i.sk AND s.bm1 >= i.prev
         |), alloc AS (
         |  SELECT sr.sk, sr.b - sr.pb AS q, si.i_day - sr.r_day AS age
         |  FROM segr sr JOIN segi si ON sr.sk = si.sk AND sr.b = si.b
         |), a AS (
         |  SELECT sk, CAST(count(*) AS BIGINT) AS n_allocations,
         |         CAST(sum(q) AS BIGINT) AS matched_qty,
         |         CAST(max(age) AS BIGINT) AS max_lot_age_days,
         |         CAST(sum(q * age) AS BIGINT) AS age_qty_days
         |  FROM alloc GROUP BY 1
         |), t AS (
         |  SELECT coalesce(rt.sk, it.sk) AS sk,
         |         coalesce(n_lots, 0) AS n_lots, coalesce(n_issues, 0) AS n_issues,
         |         coalesce(rtot, 0) AS rtot, coalesce(itot, 0) AS itot
         |  FROM rt FULL OUTER JOIN it ON rt.sk = it.sk
         |)
         |SELECT t.sk, t.n_lots, t.n_issues,
         |       coalesce(a.n_allocations, 0) AS n_allocations,
         |       coalesce(a.matched_qty, 0) AS matched_qty,
         |       CAST(t.itot - least(t.rtot, t.itot) AS BIGINT) AS unfilled_qty,
         |       CAST(t.rtot - least(t.rtot, t.itot) AS BIGINT) AS leftover_qty,
         |       coalesce(a.max_lot_age_days, -1) AS max_lot_age_days,
         |       coalesce(a.age_qty_days, 0) AS age_qty_days
         |FROM t LEFT JOIN a ON t.sk = a.sk
         |ORDER BY t.sk""".stripMargin,
    // full-replica oracle: the prefix-identity CUSUM is pure integer
    // arithmetic (scaled deviations, running sum + running min), so
    // DuckDB re-derives every alarm; HUGEINT stays internal (outputs CAST)
    "q317_cusum_shift_alerts" ->
      s"""WITH t AS (
         |  SELECT l_suppkey AS sk,
         |         CAST(datediff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS dayi,
         |         sum(${centsSql("l_quantity")}) AS q
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
         |  GROUP BY 1, 2
         |), tot AS (SELECT sk, sum(q) AS tq, count(*) AS nd FROM t GROUP BY 1),
         |j AS (SELECT t.sk, dayi, 4 * nd * q - 6 * tq AS delta, tq, nd
         |      FROM t JOIN tot USING (sk)),
         |p0 AS (SELECT sk, dayi, tq, nd,
         |              sum(delta) OVER (PARTITION BY sk ORDER BY dayi) AS pref
         |       FROM j),
         |p AS (SELECT sk, dayi, tq, nd, pref,
         |             min(pref) OVER (PARTITION BY sk ORDER BY dayi) AS pmin
         |      FROM p0),
         |a AS (SELECT sk, dayi, nd,
         |             (pref - least(pmin, 0)) >= 8 * tq AS alarm
         |      FROM p)
         |SELECT sk, CAST(max(nd) AS BIGINT) AS n_days,
         |       CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
         |       CAST(coalesce(min(CASE WHEN alarm THEN dayi END), -1) AS BIGINT) AS first_alarm_day,
         |       sum(CASE WHEN alarm THEN 1 ELSE 0 END) > 0 AS shift_detected
         |FROM a GROUP BY sk
         |ORDER BY sk""".stripMargin,
    "q307_dyadic_ewma_alerts" -> {
      val num = (1 to 8).map(i => s"coalesce(l$i, 0) * ${1L << (8 - i)}")
        .mkString(" + ")
      val den = (1 to 8).map(i =>
        s"(CASE WHEN l$i IS NOT NULL THEN ${1L << (8 - i)} ELSE 0 END)")
        .mkString(" + ")
      val np = (1 to 8).map(i =>
        s"(CASE WHEN l$i IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")
      val lagCols = (1 to 8).map(i =>
        s"lag(qty, $i) OVER (PARTITION BY l_suppkey ORDER BY day) AS l$i")
        .mkString(",\n         ")
      s"""WITH daily AS (
         |  SELECT l_suppkey, l_shipdate AS day,
         |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem
         |  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
         |  GROUP BY 1, 2
         |), lg AS (
         |  SELECT l_suppkey, day, qty,
         |         $lagCols
         |  FROM daily
         |)
         |SELECT l_suppkey, day, qty,
         |       CAST($np AS BIGINT) AS n_prior,
         |       CAST($num AS BIGINT) AS ewma_num,
         |       CAST($den AS BIGINT) AS ewma_den,
         |       (($np) >= 4 AND qty * ($den) > 2 * ($num)) AS spike
         |FROM lg
         |ORDER BY l_suppkey, day""".stripMargin
    },
    "q306_arrival_regularity" -> {
      def exceeds(pctSq: Long): String =
        s"(CASE WHEN n_gaps > 0 AND varn * 10000 > $pctSq * s2 THEN 1 ELSE 0 END)"
      s"""WITH g AS (
         |  SELECT user_id,
         |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS gap
         |  FROM events
         |), m AS (
         |  SELECT user_id, count(*) AS n_events, count(gap) AS n_gaps,
         |         CAST(coalesce(sum(gap), 0) AS BIGINT) AS sum_gap_us,
         |         coalesce(sum(CAST(gap AS HUGEINT) * gap), 0) AS sg2
         |  FROM g GROUP BY 1
         |), v AS (
         |  SELECT user_id, n_events, n_gaps, sum_gap_us,
         |         n_gaps * sg2 - CAST(sum_gap_us AS HUGEINT) * sum_gap_us AS varn,
         |         CAST(sum_gap_us AS HUGEINT) * sum_gap_us AS s2
         |  FROM m
         |), b AS (
         |  SELECT user_id, n_events, n_gaps, sum_gap_us,
         |         CAST(${exceeds(1L)} + ${exceeds(100L)} + ${exceeds(2500L)}
         |              + ${exceeds(10000L)} AS BIGINT) AS cv_band
         |  FROM v
         |)
         |SELECT user_id, n_events, CAST(n_gaps AS BIGINT) AS n_gaps,
         |       sum_gap_us, cv_band,
         |       (n_gaps >= 4 AND cv_band = 0) AS metronomic
         |FROM b
         |ORDER BY user_id""".stripMargin
    },
    "q226_interarrival_histogram" ->
      s"""WITH gaps AS (
         |  SELECT o_custkey,
         |         CAST(date_diff('day', CAST(prev AS DATE),
         |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
         |  FROM (SELECT o_custkey, o_orderdate,
         |               lag(o_orderdate) OVER (PARTITION BY o_custkey
         |                 ORDER BY o_orderdate, o_orderkey) AS prev
         |        FROM orders)
         |  WHERE prev IS NOT NULL
         |)
         |SELECT c_mktsegment, CAST(length(bin(gap_days + 1)) - 1 AS INT) AS bucket,
         |       count(*) AS n_gaps, ${sumLongSql("gap_days")} AS sum_days
         |FROM gaps JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2
         |ORDER BY c_mktsegment, bucket""".stripMargin,
    "q227_weekday_seasonality" ->
      s"""WITH cells AS (
         |  SELECT event_type,
         |         CAST(date_diff('day', DATE '1995-01-02', CAST(ts AS DATE)) % 7 AS INT) AS dow,
         |         count(*) AS o
         |  FROM events GROUP BY 1, 2
         |), totals AS (
         |  SELECT event_type AS et, CAST(sum(o) AS BIGINT) AS n_type
         |  FROM cells GROUP BY 1
         |)
         |SELECT event_type, dow, o, n_type,
         |       ${ratioSql("o * 7", "n_type")} AS lift
         |FROM cells JOIN totals ON event_type = et
         |ORDER BY event_type, dow""".stripMargin,
    "q211_session_paths" ->
      """WITH sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |           CASE WHEN lag(ts) OVER w IS NULL
        |                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |                THEN 1 ELSE 0 END AS new_sess
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  )
        |), p AS (
        |  SELECT array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>') AS path
        |  FROM sess GROUP BY user_id, sess_id
        |)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path ASC
        |LIMIT 15""".stripMargin,
    "q203_time_weighted_avg" ->
      s"""WITH iv AS (
         |  SELECT user_id, ${centsSql("value")} AS v_cents,
         |         lead(ts, 1) OVER w AS next_ts,
         |         CAST(floor(epoch(lead(ts, 1) OVER w)) AS BIGINT)
         |           - CAST(floor(epoch(ts)) AS BIGINT) AS dur_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |)
         |SELECT user_id, count(*) AS n_intervals,
         |       ${sumLongSql("dur_s")} AS total_s,
         |       ${ratioSql(s"sum(CAST(v_cents AS HUGEINT) * dur_s)", "sum(dur_s)")} AS twap_cents
         |FROM iv WHERE next_ts IS NOT NULL
         |GROUP BY user_id HAVING sum(dur_s) > 0
         |ORDER BY user_id""".stripMargin,
    "q200_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS ship,
        |         CAST(l_orderkey % 7 + 2 AS INT) AS end1
        |  FROM lineitem
        |), deltas AS (
        |  SELECT supp, day, CAST(sum(d) AS BIGINT) AS delta FROM (
        |    SELECT supp, ship AS day, 1 AS d FROM iv
        |    UNION ALL
        |    SELECT supp, ship + end1 AS day, -1 AS d FROM iv)
        |  GROUP BY 1, 2
        |), run AS (
        |  SELECT supp, day,
        |         CAST(sum(delta) OVER (PARTITION BY supp ORDER BY day ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |  FROM deltas
        |), pk AS (
        |  SELECT supp, day, conc, max(conc) OVER (PARTITION BY supp) AS peak
        |  FROM run)
        |SELECT supp, CAST(max(conc) AS BIGINT) AS peak_conc,
        |       min(day) AS peak_day
        |FROM pk WHERE conc = peak
        |GROUP BY supp ORDER BY supp""".stripMargin,
    "q194_anomaly_zscore" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), win AS (
        |  SELECT event_type, day, n,
        |         count(n) OVER w AS win_n,
        |         sum(n) OVER w AS ss,
        |         sum(n * n) OVER w AS sq
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n,
        |       (7 * n - ss) * (7 * n - ss) > 9 * (7 * sq - ss * ss) AS is_anomaly
        |FROM win WHERE win_n = 7
        |ORDER BY event_type, day""".stripMargin,
    "q173_period_over_period" ->
      s"""WITH monthly AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         |         count(*) AS n,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS rev_cents
         |  FROM orders GROUP BY 1
         |)
         |SELECT mon, n, rev_cents,
         |       lag(n, 1) OVER w AS prev_n,
         |       n - lag(n, 1) OVER w AS delta_n,
         |       CASE WHEN lag(rev_cents, 1) OVER w > 0 THEN
         |         ${ratioSql("rev_cents - lag(rev_cents, 1) OVER w", "lag(rev_cents, 1) OVER w")}
         |       END AS rev_growth
         |FROM monthly
         |WINDOW w AS (ORDER BY mon ASC)
         |ORDER BY mon""".stripMargin,
    "q277_status_transition_matrix" ->
      """SELECT prev_status AS from_status, o_orderstatus AS to_status,
        |       count(*) AS n_transitions
        |FROM (
        |  SELECT o_custkey, o_orderstatus,
        |         lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_status
        |  FROM orders
        |)
        |WHERE prev_status IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q278_customer_growth_curve" ->
      """WITH monthly AS (
        |  SELECT CAST(year(first_order) * 100 + month(first_order) AS INT) AS mon,
        |         count(*) AS n_new
        |  FROM (SELECT o_custkey, min(o_orderdate) AS first_order
        |        FROM orders GROUP BY 1)
        |  GROUP BY 1
        |)
        |SELECT mon, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY mon ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_customers
        |FROM monthly
        |ORDER BY mon""".stripMargin,
    "q279_monthly_vwap" ->
      s"""SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS mon,
         |       l_returnflag,
         |       ${sumIntValuedSql("l_quantity")} AS total_qty,
         |       ${ratioSql(
                   "sum(" + centsSql("l_extendedprice") + " * CAST(l_quantity AS BIGINT))",
                   "sum(CAST(l_quantity AS BIGINT))")} AS vwap_cents
         |FROM lineitem
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "q273_hysteresis_alerting" ->
      s"""WITH daily AS (
         |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
         |         ${sumLongSql(centsSql("o_totalprice"))} AS cents
         |  FROM orders GROUP BY 1, 2
         |), tot AS (
         |  SELECT prio, CAST(sum(cents) AS BIGINT) AS s, count(*) AS n
         |  FROM daily GROUP BY 1
         |), lv AS (
         |  SELECT daily.prio, day,
         |         CASE WHEN 5 * n * CAST(cents AS HUGEINT) > 6 * CAST(s AS HUGEINT) THEN 1
         |              WHEN 5 * n * CAST(cents AS HUGEINT) < 4 * CAST(s AS HUGEINT) THEN -1 END AS crossing
         |  FROM daily JOIN tot ON daily.prio = tot.prio
         |), st AS (
         |  SELECT prio, day,
         |         coalesce(last_value(crossing IGNORE NULLS) OVER (
         |           PARTITION BY prio ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS state
         |  FROM lv
         |), al AS (
         |  SELECT prio, (state = 1) AS alert,
         |         (state = 1) <> coalesce(lag(state = 1) OVER (
         |           PARTITION BY prio ORDER BY day), false) AS flap
         |  FROM st
         |)
         |SELECT prio,
         |       CAST(sum(CASE WHEN alert THEN 1 ELSE 0 END) AS BIGINT) AS n_alert_days,
         |       CAST(sum(CASE WHEN flap THEN 1 ELSE 0 END) AS BIGINT) AS n_transitions,
         |       count(*) AS n_days
         |FROM al GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "q268_clamped_running_inventory" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
        |         CAST(sum(CASE WHEN l_orderkey % 2 = 0
        |                       THEN CAST(l_quantity AS BIGINT)
        |                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS net
        |  FROM lineitem GROUP BY 1, 2
        |), s1 AS (
        |  SELECT l_suppkey, day,
        |         CAST(sum(net) OVER (PARTITION BY l_suppkey ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |  FROM daily
        |), s2 AS (
        |  SELECT l_suppkey, day, s,
        |         CAST(min(s) OVER (PARTITION BY l_suppkey ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runmin,
        |         CAST(min(s) OVER (PARTITION BY l_suppkey ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS prevmin
        |  FROM s1
        |), lv AS (
        |  SELECT l_suppkey, day,
        |         s - least(0, runmin) AS level,
        |         (s - least(0, coalesce(prevmin, 0))) < 0 AS stockout
        |  FROM s2
        |)
        |SELECT a.l_suppkey, a.final_level, b.n_stockout_days, b.n_days
        |FROM (
        |  SELECT l_suppkey, level AS final_level FROM (
        |    SELECT l_suppkey, level,
        |           row_number() OVER (PARTITION BY l_suppkey ORDER BY day DESC) AS rn
        |    FROM lv
        |  ) WHERE rn = 1
        |) a
        |JOIN (
        |  SELECT l_suppkey,
        |         CAST(sum(CASE WHEN stockout THEN 1 ELSE 0 END) AS BIGINT) AS n_stockout_days,
        |         count(*) AS n_days
        |  FROM lv GROUP BY 1
        |) b ON a.l_suppkey = b.l_suppkey
        |ORDER BY a.l_suppkey""".stripMargin,
    "q265_exact_proration" ->
      s"""WITH t AS (
         |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS mon,
         |         day(last_day(o_orderdate)) AS days,
         |         ${centsSql("o_totalprice")} AS v
         |  FROM orders
         |), x AS (
         |  SELECT mon, CAST(dom AS INT) AS dom,
         |         v // days + CASE WHEN dom <= v % days THEN 1 ELSE 0 END AS alloc
         |  FROM t, unnest(range(1, days + 1)) AS u(dom)
         |)
         |SELECT mon, dom, CAST(sum(alloc) AS BIGINT) AS alloc_cents,
         |       count(*) AS n_orders
         |FROM x GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "q261_ohlc_bars" ->
      s"""WITH t AS (
         |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS mon,
         |         o_orderdate AS ts, o_orderkey AS seq,
         |         ${centsSql("o_totalprice")} AS v
         |  FROM orders
         |), o AS (
         |  SELECT mon, v AS open_cents,
         |         row_number() OVER (PARTITION BY mon ORDER BY ts ASC, seq ASC) AS rn
         |  FROM t
         |), c AS (
         |  SELECT mon, v AS close_cents,
         |         row_number() OVER (PARTITION BY mon ORDER BY ts DESC, seq DESC) AS rn
         |  FROM t
         |)
         |SELECT t.mon, min(open_cents) AS open_cents,
         |       max(t.v) AS high_cents, min(t.v) AS low_cents,
         |       min(close_cents) AS close_cents, count(*) AS volume
         |FROM t
         |JOIN (SELECT mon, open_cents FROM o WHERE rn = 1) oo ON t.mon = oo.mon
         |JOIN (SELECT mon, close_cents FROM c WHERE rn = 1) cc ON t.mon = cc.mon
         |GROUP BY t.mon
         |ORDER BY t.mon""".stripMargin,
    "q262_funnel_cohorted" ->
      """WITH cohort AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY 1
        |), v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT events.user_id, min(ts) AS t_click
        |  FROM events JOIN v ON events.user_id = v.user_id
        |  WHERE event_type = 'click' AND ts >= t_view
        |    AND ts <= t_view + INTERVAL 1 HOUR
        |  GROUP BY 1
        |), p AS (
        |  SELECT events.user_id, min(ts) AS t_purchase
        |  FROM events JOIN c ON events.user_id = c.user_id
        |  WHERE event_type = 'purchase' AND ts >= t_click
        |    AND ts <= t_click + INTERVAL 24 HOUR
        |  GROUP BY 1
        |)
        |SELECT cohort_day,
        |       CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS step_reached,
        |       count(*) AS n_users
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |JOIN cohort ON v.user_id = cohort.user_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q245_sequence_pattern_census" ->
      // list_reduce has no init parameter: prepend the 0 start state (the
      // q78 precedent); event types are pre-encoded to automaton symbols
      // so the fold is integer-only on both engines.
      """WITH sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM (
        |    SELECT user_id, ts, event_id, event_type,
        |           CASE WHEN lag(ts) OVER w IS NULL
        |                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |                THEN 1 ELSE 0 END AS new_sess
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |  )
        |), folded AS (
        |  SELECT CAST(list_reduce(
        |           list_prepend(0, list_transform(
        |             list(event_type ORDER BY ts, event_id),
        |             t -> CASE t WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |                         WHEN 'purchase' THEN 3 ELSE 0 END)),
        |           (s, x) -> CASE WHEN s = 0 AND x = 1 THEN 1
        |                          WHEN s = 1 AND x = 2 THEN 2
        |                          WHEN s = 2 AND x = 3 THEN 3
        |                          ELSE s END) AS INT) AS stage_reached
        |  FROM sess GROUP BY user_id, sess_id
        |)
        |SELECT stage_reached, count(*) AS n_sessions
        |FROM folded GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q246_rank_movers" ->
      s"""WITH bm AS (
         |  SELECT p_brand,
         |         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS mon,
         |         ${sumLongSql(centsSql("l_extendedprice * (1 - l_discount)"))} AS rev_cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT mon, p_brand, rev_cents,
         |         rank() OVER (PARTITION BY mon ORDER BY rev_cents DESC, p_brand ASC) AS rnk
         |  FROM bm
         |), moved AS (
         |  SELECT mon, p_brand, rev_cents, rnk,
         |         lag(rnk) OVER (PARTITION BY p_brand ORDER BY mon ASC) AS prev_rnk
         |  FROM ranked
         |)
         |SELECT mon, p_brand, rev_cents,
         |       CAST(rnk AS BIGINT) AS rnk, CAST(prev_rnk AS BIGINT) AS prev_rnk,
         |       CAST(prev_rnk - rnk AS BIGINT) AS rank_delta
         |FROM moved WHERE prev_rnk IS NOT NULL
         |ORDER BY abs(prev_rnk - rnk) DESC, mon ASC, p_brand ASC
         |LIMIT 25""".stripMargin,
    "q242_last_touch_attribution" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR CAST(floor(epoch(ts)) AS BIGINT)
         |                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |),
         |sess AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM marked
         |),
         |conv AS (
         |  SELECT user_id, sess_id, ts AS cts, event_id AS ceid FROM (
         |    SELECT user_id, sess_id, ts, event_id,
         |           row_number() OVER (PARTITION BY user_id, sess_id
         |                              ORDER BY ts ASC, event_id ASC) AS rn
         |    FROM sess WHERE event_type = 'purchase'
         |  ) WHERE rn = 1
         |),
         |credited AS (
         |  SELECT user_id, sess_id, event_type AS last_touch FROM (
         |    SELECT sess.user_id, sess.sess_id, sess.event_type,
         |           row_number() OVER (PARTITION BY sess.user_id, sess.sess_id
         |                              ORDER BY sess.ts DESC, sess.event_id DESC) AS rn
         |    FROM sess
         |    JOIN conv ON sess.user_id = conv.user_id AND sess.sess_id = conv.sess_id
         |    WHERE sess.ts < conv.cts
         |       OR (sess.ts = conv.cts AND sess.event_id < conv.ceid)
         |  ) WHERE rn = 1
         |)
         |SELECT coalesce(last_touch, 'direct') AS last_touch,
         |       count(*) AS n_conversions
         |FROM conv LEFT JOIN credited USING (user_id, sess_id)
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "q243_funnel_timeout" ->
      s"""WITH v AS (
         |  SELECT user_id, min(ts) AS t_view FROM events
         |  WHERE event_type = 'view' GROUP BY 1
         |), c AS (
         |  SELECT events.user_id, min(ts) AS t_click
         |  FROM events JOIN v ON events.user_id = v.user_id
         |  WHERE event_type = 'click'
         |    AND ts >= t_view AND ts <= t_view + INTERVAL 1 HOUR
         |  GROUP BY 1
         |), p AS (
         |  SELECT events.user_id, min(ts) AS t_purchase
         |  FROM events JOIN c ON events.user_id = c.user_id
         |  WHERE event_type = 'purchase'
         |    AND ts >= t_click AND ts <= t_click + INTERVAL 24 HOUR
         |  GROUP BY 1
         |), steps AS (
         |  SELECT CASE WHEN t_purchase IS NOT NULL THEN 3
         |              WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS step_reached
         |  FROM v
         |  LEFT JOIN c ON v.user_id = c.user_id
         |  LEFT JOIN p ON v.user_id = p.user_id
         |), census AS (
         |  SELECT step_reached, count(*) AS n_users FROM steps GROUP BY 1
         |)
         |SELECT step_reached, n_users,
         |       ${ratioSql("n_users", "(SELECT sum(n_users) FROM census)")} AS share
         |FROM census
         |ORDER BY step_reached""".stripMargin,
    "q172_first_touch_attribution" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR CAST(floor(epoch(ts)) AS BIGINT)
         |                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
         |              THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |),
         |sess AS (
         |  SELECT user_id, ts, event_id, event_type,
         |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM marked
         |),
         |opened AS (
         |  SELECT user_id, sess_id, event_type,
         |         first_value(event_type) OVER (PARTITION BY user_id, sess_id
         |                                       ORDER BY ts ASC, event_id ASC) AS first_touch
         |  FROM sess
         |),
         |per_session AS (
         |  SELECT user_id, sess_id,
         |         max(first_touch) AS first_touch,
         |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |  FROM opened
         |  GROUP BY user_id, sess_id
         |)
         |SELECT first_touch,
         |       count(*) AS n_sessions,
         |       CAST(sum(converted) AS BIGINT) AS n_converted,
         |       ${ratioSql("sum(converted)", "count(*)")} AS conv_rate
         |FROM per_session
         |GROUP BY first_touch
         |ORDER BY first_touch""".stripMargin,
    "q164_retention_cohorts" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
         |),
         |cohorts AS (
         |  SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
         |),
         |cells AS (
         |  SELECT cohort_wk,
         |         CAST(date_diff('day', cohort_wk, wk) / 7 AS INT) AS week_offset,
         |         count(DISTINCT e.user_id) AS n_active
         |  FROM (SELECT DISTINCT user_id, wk FROM ev) e
         |  JOIN cohorts USING (user_id)
         |  GROUP BY 1, 2
         |),
         |sizes AS (
         |  SELECT cohort_wk, count(*) AS cohort_size FROM cohorts GROUP BY 1
         |)
         |SELECT cohort_wk, week_offset, n_active, cohort_size,
         |       ${ratioSql("n_active", "cohort_size")} AS retention
         |FROM cells JOIN sizes USING (cohort_wk)
         |ORDER BY cohort_wk, week_offset""".stripMargin,
    "q165_event_trigrams" ->
      """SELECT tg, count(*) AS cnt FROM (
        |  SELECT lag(event_type, 2) OVER w || '>' ||
        |         lag(event_type, 1) OVER w || '>' || event_type AS tg,
        |         lag(event_type, 2) OVER w AS g2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |WHERE g2 IS NOT NULL
        |GROUP BY tg
        |ORDER BY cnt DESC, tg ASC
        |LIMIT 10""".stripMargin,
    "q101_gap_fill" ->
      """WITH counts AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |         o_orderpriority AS prio, count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2
        |), months AS (
        |  SELECT CAST(unnest(gs) AS DATE) AS mon FROM (
        |    SELECT generate_series(CAST(min(mon) AS TIMESTAMP),
        |                           CAST(max(mon) AS TIMESTAMP),
        |                           INTERVAL 1 MONTH) AS gs
        |    FROM counts
        |  )
        |), prios AS (SELECT DISTINCT prio FROM counts)
        |SELECT mon, prio, coalesce(n_orders, 0) AS n_orders
        |FROM months CROSS JOIN prios LEFT JOIN counts USING (mon, prio)
        |ORDER BY mon, prio""".stripMargin,
    "q102_window_fill" ->
      """SELECT user_id, ts, event_id,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
        |       (v IS NULL) AS was_gap
        |FROM (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        |  FROM events WHERE user_id < 50
        |)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q103_interval_overlap" ->
      """SELECT day, count(*) AS n_in_transit,
        |       CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM (
        |  SELECT CAST(unnest(generate_series(CAST(ship AS TIMESTAMP),
        |                                     CAST(ship + transit AS TIMESTAMP),
        |                                     INTERVAL 1 DAY)) AS DATE) AS day,
        |         qty
        |  FROM (
        |    SELECT CAST(l_shipdate AS DATE) AS ship,
        |           CAST(l_orderkey % 7 + 1 AS INT) AS transit,
        |           CAST(l_quantity AS BIGINT) AS qty
        |    FROM lineitem
        |  )
        |)
        |GROUP BY day
        |ORDER BY day""".stripMargin,
    "q105_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM (SELECT user_id, event_type, ts FROM events) e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM (SELECT user_id, event_type, ts FROM events) e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |  GROUP BY e.user_id
        |)
        |SELECT user_id,
        |       CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |                 WHEN t_click IS NOT NULL THEN 2
        |                 ELSE 1 END AS INT) AS step_reached,
        |       t_view, t_click, t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin)
}
