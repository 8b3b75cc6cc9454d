package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/**
 * Classic analytic join/agg queries over the TPC-H-ish tables. The
 * reference has no equi-joins (SURVEY.md §2.7) — Spark provides them
 * natively; these queries pin the join planning the engine relies on at
 * scale: dimension tables broadcast (region/nation/customer), the fact
 * table streams through without a shuffle until the final aggregation.
 *
 * Money math: factors are cast to DECIMAL before multiplying/summing so
 * aggregation is exact and order-independent (a raw double sum is
 * accumulation-order dependent and won't hash-match an oracle), then
 * cast back to double for a stable output schema.
 */
object AnalyticsQueries {

  /** Revenue by region: lineitem |x| orders |x| customer |x| nation |x|
   *  region. Dims broadcast; one shuffle for the final group-by. */
  def revenueByRegion(spark: SparkSession, sfDir: String): DataFrame = {
    // fanOut: every dim broadcasts, so the probe + decimal revenue +
    // partial agg all execute with the fact scan's parallelism — a
    // one-file local scan serialized them (FanOut contract: a wide
    // scan at warehouse scale passes through untouched)
    val li = graft.ops.FanOut.fanOut(Tables.lineitem(spark, sfDir)).select(
      col("l_orderkey"),
      (col("l_extendedprice").cast("decimal(14,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(3,2)") -
          col("l_discount").cast("decimal(3,2)"))).as("rev"))
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_regionkey")
    val reg = Tables.region(spark, sfDir).select("r_regionkey", "r_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /**
   * Sessionization: gap-based session windows per user over the events
   * stream (30-minute inactivity gap). The reference has no session
   * windows (SURVEY.md §2.10) — this is native `session_window` in
   * Spark, and the same expression runs under Structured Streaming with
   * a watermark. Session start is emitted as epoch millis: the parquet
   * timestamps are nanosecond-precision, which Spark truncates to
   * micros — a raw timestamp output would diverge from the oracle in
   * sub-microsecond digits.
   */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionAgg(Tables.events(spark, sfDir), SessionGap)

  /** Gap duration for [[sessionize]] and its live form. */
  val SessionGap = "30 minutes"

  /** The session aggregation of [[sessionize]] over any (ts, user_id)
   *  frame — shared by the gated batch query and
   *  [[graft.streaming.StreamOps.sessionizeStream]] (the
   *  chunkProjection batch+live pattern): identical expression, so
   *  batch and stream agree wherever Append-mode finalization has
   *  closed the session (RunTopologySpec pins it). */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("w.start")).as("s_start_ms"), col("user_id"),
        col("n_events"))

  /** Skew-resistant exact distinct users per event type (the salted
   *  two-stage plan — oracle is the plain COUNT(DISTINCT), which the
   *  salting must reproduce exactly). */
  def saltedDistinct(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.WindowOps.saltedDistinct(Tables.events(spark, sfDir),
      col("event_type"), "event_type", col("user_id"), salts = 16)

  val RangeGapMs = 1800000L // 30 min attribution window

  /** As-of attribution: each purchase event joined to the same user's
   *  latest click at-or-before it (point-in-time join — JoinOps.asOfJoin,
   *  the no-join forward-fill plan). Timestamps compare at epoch-millis
   *  granularity so the oracle's arithmetic is integer-exact. */
  def asofClicks(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val probe = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"))
    val build = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"))
    graft.ops.JoinOps.asOfJoin(probe, build, Seq("user_id"), "ts_ms", "click_id")
      .withColumn("lag_ms", col("ts_ms") - col("asof_ts_ms"))
      .select(col("purchase_id"), col("user_id"), col("ts_ms"),
        col("click_id"), col("lag_ms"))
  }

  /** Banded range join: every (click, purchase) pair by the same user
   *  within a 30-minute window (JoinOps.bandedRangeJoin — the equi-join
   *  band plan, no theta join). */
  def rangePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_millis(col("ts")).as("c_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_millis(col("ts")).as("p_ms"))
    graft.ops.JoinOps.bandedRangeJoin(clicks, purchases, Seq("user_id"),
      "c_ms", "p_ms", RangeGapMs)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_ms") - col("c_ms")).as("gap_ms"))
  }

  /**
   * Value quantiles per event type: exact interpolated percentiles
   * (sort-based aggregate, mirrored by DuckDB quantile_cont) plus the
   * sketch contract — `percentile_approx` (the fixed-size-state 100 TB
   * path) must land within 5% of exact, emitted as a checked boolean so
   * the oracle verifies the accuracy guarantee, not the sketch internals.
   */
  def valueQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.95)").as("e95"),
        expr("percentile_approx(value, 0.5, 1000)").as("a50"),
        expr("percentile_approx(value, 0.95, 1000)").as("a95"))
      .select(col("event_type"), col("n"),
        round(col("e50"), 4).as("p50_r"), round(col("e95"), 4).as("p95_r"),
        (abs(col("a50") - col("e50")) <= abs(col("e50")) * 0.05).as("p50_ok"),
        (abs(col("a95") - col("e95")) <= abs(col("e95")) * 0.05).as("p95_ok"))

  /** Multi-level aggregation: ROLLUP over (event_type, day) — per-type
   *  per-day, per-type subtotals, and the grand total in one pass
   *  (Catalyst plans Expand + single hash agg). Decimal-exact sums;
   *  `day` emitted as string so null subtotal markers compare cleanly. */
  def eventRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_v"))
      .select(col("event_type"), col("day"), col("n"), col("sum_v"))

  /**
   * Arbitrary GROUPING SETS — the explicit-sets member beside ROLLUP's
   * prefix lattice and CUBE's full lattice: exactly the (type, day),
   * (type), (day) marginals with the uninteresting (type, day)-less
   * grand total OMITTED — the shape a dashboard wants when the full
   * cube wastes rows. One Expand + one hash agg, same as rollup/cube;
   * grouping_id disambiguates the all-NULL margins from genuine NULL
   * keys. The Spark 4 Dataset `groupingSets` API — no temp view, no
   * session-catalog side effect (the first cut registered one, the
   * registry's only catalog mutation; reviewed away).
   */
  def eventGroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")),
          Seq(col("day"))),
        col("event_type"), col("day"))
      .agg(grouping_id(col("event_type"), col("day")).cast("bigint")
          .as("gid"),
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_v"))
      .select(col("event_type"), col("day"), col("gid"), col("n"),
        col("sum_v"))

  /**
   * Join-key SKEW REPORT — the diagnostic an ops team runs BEFORE
   * choosing a skew mitigation ([[graft.ops.JoinOps.saltedJoin]] /
   * AQE skew-join / broadcast): per candidate key column, the key
   * count, row total, heaviest key and its frequency, the exact
   * median key frequency, and the max/median skew factor (the number
   * that says whether the heaviest shuffle partition is 2x or 2000x
   * the typical one). Hot-key tie-break is deterministic (highest
   * count, then smallest key — a struct min, no window). One
   * two-phase agg per profiled column over its own scan; the count
   * frames are key-sized. Complements [[eventProfile]], which
   * reports null/distinct/range per column but nothing about the
   * frequency DISTRIBUTION.
   */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame = {
    def one(label: String, df: DataFrame,
        key: org.apache.spark.sql.Column): DataFrame = {
      val c = df.groupBy(key.cast("string").as("k"))
        .agg(count(lit(1)).as("n"))
      c.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        min(struct((-col("n")).as("neg"), col("k"))).getField("k")
          .as("hot_key"),
        round(expr("percentile(n, 0.5)"), 4).as("p50_n"),
        round(max(col("n")) / expr("percentile(n, 0.5)"), 2).as("skew_r"))
        .select(lit(label).as("key_col"), col("n_keys"), col("n_rows"),
          col("max_n"), col("hot_key"), col("p50_n"), col("skew_r"))
    }
    val ev = Tables.events(spark, sfDir)
    one("user_id", ev, col("user_id"))
      .unionByName(one("event_type", ev, col("event_type")))
      .unionByName(one("source",
        Tables.documents(spark, sfDir), col("source")))
  }

  /**
   * RANGE-frame window analytics — the event-TIME frame member beside
   * [[movingAvg]]'s ROWS frame: per event, how many events (and how
   * much value) the same user produced in the trailing hour,
   * INCLUDING time-peers — a RANGE frame admits every row whose key
   * falls in [t-1h, t], however many, where a ROWS frame counts
   * physical rows (the difference is exactly ties and gaps; the
   * trailing-window rate metric ops teams alert on). Frame key is
   * exact integer MICROSECONDS (unix_micros ≡ DuckDB epoch_us —
   * sub-second timestamps make truncated seconds vs rounded doubles
   * an engine hazard; exact integers make ties identical in both).
   * Decimal-exact sum; one shuffle on user_id, per-partition sort —
   * the standard window shape at any scale.
   */
  def eventRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("n_1h"),
      sum(col("value").cast("decimal(14,2)")).over(w)
        .cast("double").as("sum_1h"))
  }

  /**
   * Row-frame window analytics: per-user moving average of `value` over
   * the current and 3 preceding events (ROWS frame, the streaming-ledger
   * idiom). Sum is decimal-exact inside the frame; the final divide is
   * one double op, so it hash-matches across engines.
   */
  def movingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value").cast("decimal(14,2)")).over(frame).cast("double") /
          count(lit(1)).over(frame), 4).as("ma_r"))
  }

  /** Anti join (set-difference): (user, day) pairs with a click but no
   *  purchase that day. Plans as a broadcast/shuffled anti join — the
   *  relational NOT EXISTS, no subquery re-scan. */
  def clickNoPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "day").distinct()
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "day")
    clicks.join(purchases, Seq("user_id", "day"), "left_anti")
  }

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot (long -> wide conditional aggregation): hourly event matrix,
   *  one count column per event type. Explicit pivot values, so Catalyst
   *  plans ONE hash aggregate — no type-discovery job, no per-type
   *  re-scan of the fact table. */
  def eventPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = Tables.events(spark, sfDir)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .groupBy(col("hour"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    wide.select(unix_millis(col("hour")).as("hour_ms") +:
      EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  /** Lag-window analytics: per-user inter-event gaps (lag over an
   *  event-time order with a deterministic tiebreak), then integer-exact
   *  gap aggregates — the funnel/latency idiom. */
  def eventGaps(spark: SparkSession, sfDir: String): DataFrame = {
    // order by the projected ts_ms (ts itself is projected away below);
    // the gap aggregates are invariant to which equal-ts_ms row comes
    // first, so this still matches the oracle's ORDER BY ts, event_id
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .filter(col("prev_ms").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        max(col("ts_ms") - col("prev_ms")).as("max_gap_ms"),
        sum(col("ts_ms") - col("prev_ms")).as("sum_gap_ms"))
  }

  /** CUBE over (event_type, day) with an explicit grouping-flag vector:
   *  all four aggregation levels in one Expand + single hash agg (the
   *  rollup's sibling; gid disambiguates real NULLs from subtotal
   *  markers — emitted as grouping(a)*2 + grouping(b) on both engines). */
  def eventCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .cube(col("event_type"), col("day"))
      .agg((grouping(col("event_type")) * 2 + grouping(col("day")))
          .cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_v"))
      .select(col("event_type"), col("day"), col("gid"), col("n"), col("sum_v"))

  /** Top-2 part brands per region by shipped quantity: the
   *  dense_rank-per-group idiom over a multi-way dim join (broadcast
   *  dims; one shuffle for the agg, one tiny one for the per-region
   *  rank — WindowGroupLimit prunes before the final sort). */
  def topBrandsPerRegion(spark: SparkSession, sfDir: String): DataFrame = {
    // fanOut: see revenueByRegion — the five broadcast probes and the
    // partial agg inherit the fact scan's one-file split locally
    val li = graft.ops.FanOut.fanOut(Tables.lineitem(spark, sfDir))
      .select("l_orderkey", "l_partkey", "l_quantity")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_regionkey")
    val reg = Tables.region(spark, sfDir).select("r_regionkey", "r_name")
    val part = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
    val qty = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("r_name"), col("p_brand"))
      .agg(sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("qty"))
    val rk = dense_rank().over(
      Window.partitionBy(col("r_name")).orderBy(col("qty").desc, col("p_brand")))
    qty.withColumn("rk", rk.cast("int")).filter(col("rk") <= 2)
  }

  /** Set intersection: users who both clicked and purchased. Spark plans
   *  INTERSECT as aggregate + left-semi join — no double scan union
   *  trick needed. */
  def clickAndPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "click").select("user_id")
      .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
  }

  /**
   * Time-series resample + gap fill: per-user hourly mean value on a
   * dense hourly grid (generated row-locally with sequence/explode
   * between each user's first and last active hour), missing hours
   * forward-filled with the last observation (LOCF — `last(ignoreNulls)`
   * over an ordered running frame). Grid generation is bounded fan-out
   * (hours in range), the fill is one window pass — no self-join, no
   * per-gap probing.
   */
  def eventResample(spark: SparkSession, sfDir: String): DataFrame =
    resampleLocf(Tables.events(spark, sfDir))

  /** [[eventResample]]'s engine over any (user_id, ts, value) frame —
   *  factored so the spec can hold it to the join+window reference.
   *
   *  Shape: the former formulation exploded the dense grid, LEFT-joined
   *  the hourly relation back on (user_id, h) — a sort-merge join with
   *  an exchange of BOTH sides — and ran the LOCF fill as a running
   *  `last(ignoreNulls)` window, whose sort touches every GRID row
   *  (~10× the hourly rows here: gap hours outnumber observations).
   *  Grid, join and fill are all per-user decisions over that user's
   *  own observations, so they now run ROW-LOCALLY over one per-user
   *  sorted observation array: each observation with a non-NULL hourly
   *  value opens a segment [its hour, next such observation − 1h] (the
   *  last one closes at max h), every hour in the segment carries its
   *  opener's value, and hours before the first opener are NULL —
   *  exactly LOCF on the dense grid, same rows, same values
   *  (spec-pinned against the join+window reference, NULL values
   *  included). Guide §2.4: the join and the window's grid-sized sort
   *  are gone; what remains is the hourly agg
   *  exchange plus ONE user-keyed agg exchange of hourly-sized rows.
   *  Per-user state is the observation array — bounded by hours in the
   *  time range (time-bounded, corpus-size-independent), the qForecast
   *  argument. */
  private[graft] def resampleLocf(events: DataFrame): DataFrame = {
    val HourMs = 3600000L
    val hourly = events
      .withColumn("h", date_trunc("hour", col("ts")))
      .groupBy(col("user_id"), col("h"))
      .agg((sum(col("value").cast("decimal(14,2)")).cast("double") /
        count(lit(1))).as("hv"))
    val perUser = hourly.groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(unix_millis(col("h")).as("hm"), col("hv")))).as("obs"))
      // a column of its own, so the lambda below reads it, not refilters
      .withColumn("nn", filter(col("obs"), o => o.getField("hv").isNotNull))
    // segment expansion: only observations with a non-NULL hv open a
    // segment (an hour whose values are all NULL carries the previous
    // value forward, as last(ignoreNulls) does); get(nn, i+1) is the
    // NEXT opener (0-indexed, NULL past the end — ANSI-safe, unlike
    // element_at), and the last segment closes at the user's last hour.
    // Hours before the first opener have nothing to carry: they form a
    // leading NULL segment, empty when the first hour has a value.
    val obs = col("obs")
    val nn = col("nn")
    val h0 = get(obs, lit(0)).getField("hm")
    val h1 = element_at(obs, -1).getField("hm")
    val leadEnd = coalesce(get(nn, lit(0)).getField("hm") - HourMs, h1)
    val lead = transform(
      filter(sequence(h0, greatest(h0, leadEnd), lit(HourMs)), _ <= leadEnd),
      hm => struct(hm.as("h_ms"), lit(null).cast("double").as("v_ff")))
    val segs = flatten(transform(nn, (o, i) =>
      transform(
        sequence(o.getField("hm"),
          coalesce(get(nn, i + 1).getField("hm") - HourMs, h1),
          lit(HourMs)),
        hm => struct(hm.as("h_ms"),
          round(o.getField("hv"), 4).as("v_ff")))))
    perUser.select(col("user_id"), explode(concat(lead, segs)).as("s"))
      .select(col("user_id"), col("s.h_ms").as("h_ms"),
        col("s.v_ff").as("v_ff"))
  }

  /**
   * Seasonal-naive FORECAST BACKTEST — the baseline every forecasting
   * pipeline reports before anything learned (Hyndman's "no model
   * beats it, no model ships" yardstick): predict each hour's
   * per-type event value as the SAME HOUR ONE SEASON (24 h) EARLIER,
   * then score the prediction against the actual per type — n_eval,
   * MAE, and signed BIAS. The season lookup is a gap-safe equi-join
   * on (type, hour − 24 h) — a lag(24 ROWS) window would silently
   * misalign across missing buckets. Hourly sums are DECIMAL-exact
   * (the float-ordering rule); the double division happens once per
   * output cell.
   *
   * Scale shape: ONE events scan into a two-phase (type, hour) agg;
   * everything after runs on the hourly relation (types × hours —
   * time-bounded, corpus-size-independent): one equi-join for the
   * season shift, one |types|-group agg, one broadcast join for the
   * bucket totals.
   */
  def qForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(14,2)")).as("y"))
      .localCheckpoint() // season join + totals both read it
    val totals = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"))
    val scored = hourly.as("c")
      .join(hourly.as("p"),
        col("c.event_type") === col("p.event_type") &&
          col("p.h") === col("c.h") - expr("INTERVAL 24 HOURS"))
      .select(col("c.event_type").as("event_type"),
        (col("c.y") - col("p.y")).as("err"))
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("err"))).as("sae"),
        sum(col("err")).as("se"))
      .join(broadcast(totals), "event_type")
      .select(col("event_type"), col("n_hours"), col("n_eval"),
        (col("sae").cast("double") / col("n_eval")).as("mae"),
        (col("se").cast("double") / col("n_eval")).as("bias"))
  }

  /** The salted-join plan under the correctness gate: events (power-law
   *  event_type key) salted-joined to a derived per-type dim table,
   *  then aggregated — the oracle is the PLAIN join+agg, which the
   *  salting must reproduce exactly (salts only route rows). */
  def saltedJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("event_type", "value")
    // deterministic little dim: weight = length of the type name
    val dim = ev.select(col("event_type")).distinct()
      .select(col("event_type"), length(col("event_type")).cast("long").as("weight"))
    graft.ops.JoinOps.saltedJoin(ev, dim, "event_type", salts = 8)
      .groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(14,2)") * col("weight"))
        .cast("double").as("wsum"), count(lit(1)).as("n"))
  }

  /** Data-profiling summary of the events table: one row per profiled
   *  column with count / nulls / exact distinct / min / max (stringly
   *  typed so heterogeneous columns stack) — the describe/profile
   *  staple, all in two-phase hash aggs over one scan per column
   *  branch, unioned. */
  def eventProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def prof(c: String, v: org.apache.spark.sql.Column): DataFrame =
      ev.agg(count(lit(1)).as("n_rows"),
        sum(when(v.isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(v).as("n_distinct"),
        min(v).cast("string").as("min_v"),
        max(v).cast("string").as("max_v"))
        .select(lit(c).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    prof("event_type", col("event_type"))
      .union(prof("user_id", col("user_id")))
      .union(prof("value", col("value").cast("decimal(14,2)")))
  }

  /**
   * Weekly COHORT RETENTION — of the users active in week w, how many
   * are active again in week w+1 (the product-analytics headline
   * metric). Weeks are fixed 7-day buckets from the epoch
   * (floor(unix_ts / 604800) — no calendar/locale dependence, so both
   * engines bucket identically). Scale shape: one distinct over
   * (user, week) — two-phase, the only corpus-sized exchange — then a
   * self-join ON (user, week+1) of two identically-keyed tiny frames
   * and a per-week rollup; retention is one division of two bigints.
   */
  def weeklyRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val active = Tables.events(spark, sfDir)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / lit(604800L))
          .cast("bigint").as("week"))
      .distinct()
    val next = active
      .select(col("user_id"), (col("week") - 1).as("week"))
    active.join(next.withColumn("ret", lit(1)),
        Seq("user_id", "week"), "left")
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"), count(col("ret")).as("n_retained"))
      .select(col("week"), col("n_active"), col("n_retained"),
        round(col("n_retained") / col("n_active"), 6).as("retention_r"))
  }

  /** Ordered funnel stages for [[eventFunnel]]. */
  val FunnelStages = Seq("view", "click", "purchase")
  /** Attribution window: a stage counts only within this many seconds
   *  of the user's qualifying previous-stage time (the standard 1-day
   *  window; without one, a month of dense synthetic activity funnels
   *  every user through every stage and the metric is vacuous). */
  val FunnelWindowSec = 86400L

  /**
   * Ordered FUNNEL — users progressing view → click → purchase, each
   * stage STRICTLY AFTER the user's qualifying previous-stage time
   * and within the [[FunnelWindowSec]] attribution window (first
   * view, then first click in the day after that view, then first
   * purchase in the day after that click — the standard
   * windowed first-touch funnel, not a bag-of-events count). Output:
   * one row per stage with the user count and conversion from the
   * previous stage. Scale shape: one filtered pass over events per
   * stage with the type filter pushed to the scan; the per-user
   * qualifying-time frames are user-sized and BROADCAST for each next
   * stage's join, so events never shuffle; the stage counts are 1-row
   * aggs unioned at the end.
   */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val frames = funnelStageFrames(Tables.events(spark, sfDir))
    val counts = frames.zipWithIndex.map { case ((tpe, f), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(tpe).as("event_type"),
          col("n_users"))
    }
    val all = counts.reduce(_.unionAll(_))
    val withPrev = all.withColumn("prev",
      lag(col("n_users"), 1).over(Window.orderBy(col("stage"))))
    withPrev.select(col("stage"), col("event_type"), col("n_users"),
      round(col("n_users") / coalesce(col("prev"), col("n_users")), 6)
        .as("conv_r"))
  }

  /** The per-stage qualifying frames of [[eventFunnel]] — one
   *  (user_id, t0) frame per stage, t0 = the user's first qualifying
   *  time — factored so the live funnel state machine
   *  (`StreamOps.funnelStream`) is pinned transition-for-transition
   *  against the identical relational chain. */
  def funnelStageFrames(ev: DataFrame): Seq[(String, DataFrame)] = {
    def stage(tpe: String, prev: Option[DataFrame]): DataFrame = {
      val base = ev.filter(col("event_type") === tpe)
        .select(col("user_id"), col("ts"))
      val qualified = prev match {
        case None => base
        case Some(p) => base.join(broadcast(p), "user_id")
          .filter(col("ts") > col("t0") &&
            col("ts") <= col("t0") + expr(s"INTERVAL $FunnelWindowSec SECOND"))
          .select(col("user_id"), col("ts"))
      }
      qualified.groupBy("user_id").agg(min(col("ts")).as("t0"))
    }
    FunnelStages.foldLeft(Seq.empty[(String, DataFrame)]) {
      case (acc, tpe) => acc :+ (tpe -> stage(tpe, acc.lastOption.map(_._2)))
    }
  }

  /** Z-score floor for [[eventAnomalies]] (the classic 3σ gate). */
  val AnomalySigma = 3.0

  /**
   * Per-type Z-SCORE ANOMALIES — flag events whose value sits more
   * than [[AnomalySigma]] population standard deviations from their
   * event_type's mean, the baseline outlier monitor over a metric
   * stream. Determinism device: the moments are DECIMAL-exact sums
   * (the eventProfile/kmeans device — decimal addition is
   * order-independent where a double sum would hash-diverge), cast to
   * double only once per type, so mean/σ are single double ops on
   * identical operands in any engine; the flag and z compare the RAW
   * double value against those. Scale shape: one two-phase agg with
   * |event_types| groups, the tiny stats frame BROADCAST back — the
   * events relation never shuffles; same 100 TB shape as
   * pipeline_quality_cut.
   */
  def eventAnomalies(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.join(broadcast(anomalyStats(ev)), "event_type")
      .filter(abs(col("value") - col("m")) > lit(AnomalySigma) * col("sd"))
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("m")) / col("sd"), 4).as("z_r"))
  }

  /** The per-type decimal-exact moment frame of [[eventAnomalies]] —
   *  (event_type, m, sd) — factored so the live `anomaly_gate`
   *  topology (`StreamOps.anomalyGateStream`) trains the identical
   *  model from a history table. */
  def anomalyStats(ev: DataFrame): DataFrame = {
    val dec = col("value").cast("decimal(14,2)")
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec).as("s1"), sum(dec * dec).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n")).as("m"),
        (col("s2").cast("double") / col("n")).as("msq"))
      .select(col("event_type"), col("m"),
        sqrt(col("msq") - col("m") * col("m")).as("sd"))
  }

  /** MAD multiplier for [[qMadOutliers]] (the conventional 3×). */
  val MadK = 3.0

  /**
   * ROBUST outlier flags by median absolute deviation — the
   * 50%-breakdown complement of [[eventAnomalies]]' z-score (whose
   * mean and sigma the outliers themselves drag: one 10⁶-valued spike
   * inflates sd until everything else looks normal; the median/MAD
   * pair is immune until half the data is corrupt — Hampel's
   * identifier): flag every event with |value − median(type)| >
   * [[MadK]]·MAD(type), reporting the deviation in exact floored
   * micro-units of one MAD. A zero-MAD type (over half its values
   * identical) has no robust scale — its rows are unflagged by the
   * guard rather than divided by zero.
   *
   * Scale shape: pass 1 = one two-phase interpolated-percentile agg
   * (the value_quantiles ≡ quantile_cont equivalence); pass 2 = scan
   * + BROADCAST median join + one more percentile agg (MAD needs the
   * median first — inherently two-pass); pass 3 = scan + broadcast
   * stats join + row-local flag. The events relation never shuffles;
   * the stats frame is |types| rows. Three scans beat checkpointing a
   * corpus-sized scored frame (the textPplBuckets trade inverted:
   * here the re-derived subtree is just the scan). CAVEAT: exact
   * `percentile` keeps distinct-value-sized aggregation state per
   * group — unbounded at adversarial double cardinality; the 100 TB
   * form is [[qMadOutliersApprox]] (fixed-size `percentile_approx`
   * sketch state, flags verified identical on the committed data —
   * the uv_approx contract convention). Exactness here is
   * oracle-required; the twin is the production path.
   */
  def qMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val st = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("med"))
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    ev.join(broadcast(st), Seq("event_type"))
      .filter(col("mad") > lit(0.0) &&
        abs(col("value") - col("med")) > lit(MadK) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        floor(((col("value") - col("med")) / col("mad")) * lit(1000000.0))
          .cast("bigint").as("dev_micro"))
  }

  /** `percentile_approx` accuracy for [[qMadOutliersApprox]] —
   *  rank error ≤ n/accuracy with O(accuracy) sketch state. */
  val MadApproxAcc = 10000

  /** Flag-disagreement tolerance for [[qMadOutliersApprox]], parts
   *  per million of the group size (0.1%). */
  val MadApproxFlagTolPpm = 1000L

  /**
   * The SKETCH twin of [[qMadOutliers]] — the 100 TB form (the
   * uv_approx / value_quantiles contract convention): exact
   * `percentile`'s aggregation buffer is distinct-value-sized per
   * group, unbounded at adversarial value cardinality, while
   * `percentile_approx` carries fixed O([[MadApproxAcc]])
   * Greenwald-Khanna sketch state per group at rank error ≤
   * n/accuracy. Same three-scan shape; both stat derivations run
   * side-by-side and the output is the CHECKED CONTRACT per type:
   * rows the two stat pairs flag DIFFERENTLY number at most
   * [[MadApproxFlagTolPpm]] per million (measured: 0 at sf0.01, 2 of
   * 20302 on one type at sf0.1 — a flags-IDENTICAL contract is
   * unattainable in principle, because `percentile_approx` returns an
   * actual data value while `percentile` interpolates between the two
   * middle ones, so rows inside the interpolation gap around the
   * k·MAD boundary can flip at ANY sketch accuracy), and approx
   * median and MAD within 5% of exact. The oracle re-derives the
   * exact side and emits literal TRUE booleans — deterministic on the
   * committed data, so the Spark side's sketch must land inside every
   * tolerance or the gate fails (accuracy verified, sketch internals
   * never compared). At 100 TB one drops the exact columns and keeps
   * the approx pair — this query is the evidence that swap flips
   * ≤ 0.1% of flags at the shipped accuracy.
   */
  def qMadOutliersApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med_e"),
        expr(s"percentile_approx(value, 0.5, $MadApproxAcc)").as("med_a"))
    val st = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("med_e"), col("med_a"))
      .agg(expr("percentile(abs(value - med_e), 0.5)").as("mad_e"),
        expr(s"percentile_approx(abs(value - med_a), 0.5, $MadApproxAcc)")
          .as("mad_a"))
    val fe = col("mad_e") > lit(0.0) &&
      abs(col("value") - col("med_e")) > lit(MadK) * col("mad_e")
    val fa = col("mad_a") > lit(0.0) &&
      abs(col("value") - col("med_a")) > lit(MadK) * col("mad_a")
    ev.join(broadcast(st), Seq("event_type"))
      .select(col("event_type"), fe.as("fe"), fa.as("fa"),
        (abs(col("med_a") - col("med_e")) <=
          abs(col("med_e")) * lit(0.05)).as("med_in"),
        (abs(col("mad_a") - col("mad_e")) <=
          abs(col("mad_e")) * lit(0.05)).as("mad_in"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("fe"), lit(1))).as("n_flag_exact"),
        count(when(col("fe") =!= col("fa"), lit(1))).as("n_diff"),
        min(col("med_in")).as("med_ok"),
        min(col("mad_in")).as("mad_ok"))
      .select(col("event_type"), col("n"), col("n_flag_exact"),
        (col("n_diff") * lit(1000000L) <=
          col("n") * lit(MadApproxFlagTolPpm)).as("flags_close"),
        col("med_ok"), col("mad_ok"))
  }

  val HistBuckets = 10

  /** Equi-width histogram of `value` between its min and max: bucket
   *  index via the standard width_bucket arithmetic (clamped so the max
   *  lands in the last bucket), one agg pass after a scalar-subquery
   *  style bounds broadcast. */
  def eventHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // degenerate hi==lo would divide by zero (NULL bucket, or a throw
    // under ANSI) — all-equal values belong in bucket 0 by definition
    ev.crossJoin(broadcast(bounds))
      .select(when(col("hi") === col("lo"), lit(0L)).otherwise(least(
        floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / HistBuckets)),
        lit(HistBuckets - 1L))).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** FULL OUTER join: per (user, day), click count vs purchase count,
   *  absent sides coalesced to zero — the reconciliation idiom. */
  def clickPurchaseMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")).cast("string"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_clicks"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_purch"))
    clicks.join(purchases, Seq("user_id", "day"), "full_outer")
      .select(col("user_id"), col("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purch"), lit(0L)).as("n_purch"))
  }

  /** Top part brands by shipped quantity, deterministic tiebreak. */
  def topBrands(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select("l_partkey", "l_quantity")
    val part = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("qty"),
        count(lit(1)).as("n_items"))
      .orderBy(col("qty").desc, col("p_brand"))
      .limit(10)
  }

  /** Unpivot/melt (`stack` — the inverse of [[eventPivot]]): per-type
   *  metrics to long (event_type, metric, val) format, the shape every
   *  metrics store and ML feature pipeline wants. One agg pass, then a
   *  row-local generator — no extra shuffle. Metrics are all DOUBLE so
   *  the melted column is one type; the sum goes through DECIMAL for
   *  order-independence (see class doc). */
  def eventUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_v"),
        count_distinct(col("user_id")).cast("double").as("n_users"))
      .select(col("event_type"), expr(
        "stack(3, 'n', n, 'sum_v', sum_v, 'n_users', n_users) AS (metric, val)"))

  /** JSON property extraction + aggregation over the semi-structured
   *  `props` column (`get_json_object` — Catalyst's codegen JSON path
   *  expression): the event-property analytics idiom. Integer-exact
   *  aggregates; the oracle re-casts DuckDB's HUGEINT sum to BIGINT. */
  def eventJsonProps(spark: SparkSession, sfDir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("bigint")
    // fanOut: the per-row JSON parse + partial agg inherit the
    // one-file scan's single split locally (identity on a wide scan)
    graft.ops.FanOut.fanOut(Tables.events(spark, sfDir))
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  }

  /** Distribution-rank window medley: quartile bucket (ntile),
   *  percent_rank and cume_dist per event over value within its type —
   *  the feature-scaling/outlier idiom. Deterministic: the window order
   *  carries an event_id tiebreak; both rank ratios are exact rationals
   *  ((rank-1)/(n-1), rank/n) rounded identically in both engines.
   *  ntile is cast to BIGINT to match DuckDB's type.
   *
   *  Scale design — range-partitioned TWO-PASS exact rank, not a
   *  per-type window: `ntile/percent_rank().over(partitionBy(type))`
   *  would push ~20% of the corpus through ONE task's sort (5 types =
   *  5 window partitions). Instead: (1) range-shuffle on the full
   *  (type, value, id) order so every task sorts an even slice;
   *  (2) local row_number per (physical partition, type), whose window
   *  groups are bounded by the slice size, never by type cardinality;
   *  (3) per-(partition, type) counts — a few-hundred-row aggregate —
   *  turned into cumulative boundary offsets and broadcast back;
   *  global rank = local row number + offset. The tiebroken order is
   *  total, so rank == row_number and all three functions are pure
   *  arithmetic on (rank, n): ntile's uneven-bucket rule
   *  (first n%4 buckets get one extra row), (rank-1)/(n-1), rank/n —
   *  bit-identical to the window functions they replace. At 100 TB the
   *  sketch-based rank estimate (`sk_kll_quantiles`) remains the
   *  cheaper one-pass alternative when 6-decimal exactness isn't
   *  required. */
  def eventRankFuncs(spark: SparkSession, sfDir: String): DataFrame =
    distributionRanks(Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value")))

  /** The two-pass core of [[eventRankFuncs]] over any
   *  (event_id, event_type, value) frame — factored out so the
   *  property suite can pin it against the window-function reference
   *  on arbitrary generated inputs (EngineProps). */
  def distributionRanks(ev: DataFrame): DataFrame = {
    val parts = ev.sparkSession.sessionState.conf.numShufflePartitions
    val ordCols = Seq(col("event_type"), col("value"), col("event_id"))
    val ranged = ev
      .repartitionByRange(parts, ordCols: _*)
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("pid"), col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val local = ranged.withColumn("local_rn", row_number().over(wLocal))
    // tiny side: one row per (partition, type); offsets = rows of the
    // same type in lower-range partitions (range order leads with type).
    // part_n = max(local_rn), not count(*): same value (the order is
    // total), and depending on the window output keeps this branch's
    // subtree identical to the main branch, letting exchange/stage
    // reuse share the shuffles instead of re-planning a pruned copy
    val counts = local.groupBy(col("pid"), col("event_type"))
      .agg(max(col("local_rn")).cast("bigint").as("part_n"))
    val offsets = counts
      .withColumn("offset",
        coalesce(sum(col("part_n")).over(
          Window.partitionBy(col("event_type")).orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("event_type"), col("offset"))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("part_n")).as("n"))
    local
      .join(broadcast(offsets), Seq("pid", "event_type"))
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("rn", col("local_rn") + col("offset"))
      .withColumn("q4", expr(
        """CAST(CASE WHEN rn - 1 < (n % 4) * (n DIV 4 + 1)
          |     THEN (rn - 1) DIV (n DIV 4 + 1) + 1
          |     ELSE n % 4 + (rn - 1 - (n % 4) * (n DIV 4 + 1)) DIV (n DIV 4) + 1
          |END AS BIGINT)""".stripMargin))
      .withColumn("pr", round(
        when(col("n") === 1, 0.0)
          .otherwise((col("rn") - 1).cast("double") / (col("n") - 1)), 6))
      .withColumn("cd", round(col("rn").cast("double") / col("n"), 6))
      .select(col("event_id"), col("event_type"), col("value"),
        col("q4"), col("pr"), col("cd"))
  }

  val PrIters = 8
  val PrScale = 1000000L // rank fixed-point: 1.0 == 1e6 micro-units

  /**
   * PageRank over the supplier–part co-occurrence graph — the
   * iterative-graph rung (Page et al. 1999; the Pregel-style
   * join–aggregate formulation every distributed graph engine lowers
   * to). Nodes are suppliers (2k) and parts (2k+1) from lineitem;
   * edges are the distinct supplier→part incidences, symmetrized so
   * the chain is irreducible with no dangling mass. Each of the
   * [[PrIters]] rounds is contribs = ranks ⋈ edges (shuffle join on
   * src — rank state is node-sized, too big to broadcast at graph
   * scale) then one two-phase sum by dst and the damping update.
   * All arithmetic is integer micro-units with explicit floors
   * (rank/outdeg and the 0.85 damping are floored double quotients of
   * exactly-representable ints — bit-stable across engines, the
   * graph-scale analogue of the decimal-money device), so iteration K
   * is a pure function of the edge set and the oracle's chained-CTE
   * recomputation ([[Oracles.graphPagerank]], the bpe_learn device)
   * lands on identical ranks. The edge relation is localCheckpoint-
   * materialized once (scanned [[PrIters]] times), and rank lineage
   * is truncated every 4 rounds — the bpeLearn stride.
   */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // global pagerank IS personalized pagerank with every node a seed
    // (teleport predicate literal-true — constant-folded, so the
    // arithmetic is the identical micro-unit chain it always was):
    // one copy of the trickiest loop in the file — the checkpoint
    // stride + releaseTruncated handle choreography — lives in [[ppr]]
    val e = Tables.lineitem(spark, sfDir)
      .select((col("l_suppkey") * 2).as("u"),
        (col("l_partkey") * 2 + 1).as("v"))
      .distinct()
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (rationale in
    // [[graft.ops.LocalGraph]]; bit-exactness argument in [[graphPpr]]
    // — global pagerank is the every-node-a-seed special case). The
    // incidence derivation (a lineitem-wide distinct) holds an
    // exchange, so the gate materializes it ONCE: the fallback's
    // symmetrizing union reads the SAME snapshot instead of
    // re-deriving the distinct per union branch.
    graft.ops.DriverGate("graph_pagerank", e,
        graft.ops.LocalGraph.MaxDriverPairs)(graft.ops.LocalGraph.pairOf) {
      pairs =>
        val r = graft.ops.LocalGraph.pprRanks(pairs,
          _ => true, PrIters, PrScale)
        Some(graft.ops.LocalGraph.pairFrame(spark,
          r.iterator, r.size.toLong, "node", "rank_micro"))
    } match {
      case Right(out) => out
      case Left(snap) => ppr(snap, lit(true), PrIters)
    }
  }

  /**
   * Triangle census of the co-purchase graph (parts sharing an
   * order): exact triangle count + global clustering coefficient via
   * the degree-orientation device (Schank & Wagner 2005; the
   * MapReduce formulation of Suri & Vassilvitskii 2011). Each
   * undirected edge is directed from its lower-(degree, id) endpoint
   * to the higher — a lexicographic total order compared as two
   * fields (never packed into one integer, which would corrupt past
   * 2³² ids), so every triangle is counted exactly ONCE at its
   * minimum vertex — and the wedge join fans out
   * by ORIENTED out-degree, which the orientation bounds at O(√|E|)
   * for every node REGARDLESS of raw degree: the hub that explodes a
   * naive wedge join contributes no wedges at all because its edges
   * all point into it. Σ C(outdeg, 2) ≤ |E|^(3/2) is the classic
   * wedge-volume bound.
   *
   * Scale shape: the edge build self-joins per-order part lists
   * (order sizes are bounded — ≤ 7 lineitems in TPC-H-shaped data —
   * so per-key fan-out is C(n,2) with tiny n); the edge list is
   * localCheckpoint-materialized once (it feeds the census, the
   * degree table, and the orientation — without the cut Catalyst
   * re-derives it per consumer); everything downstream is
   * distinct/agg/equi-join on fixed-width integer pairs — never a
   * cross product — and the output is ONE summary row. gcc =
   * 3·triangles / wedges, both exact integers, divided once.
   */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame =
    triangleCensusEdges(coPairsTable(spark, sfDir).select("u", "v"))

  /** Distinct undirected co-membership edges (u < v) of any (o, p)
   *  frame — the graph both [[triangleCensus]] and [[kCore]] analyze.
   *  Per-key fan-out is C(n, 2) over bounded order sizes. */
  private def coEdges(pairs: DataFrame): DataFrame = {
    val mem = pairs.distinct()
    mem.as("a").join(mem.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
  }

  /** (applicationId, sfDir) pairs whose [[coPairsTable]] is already
   *  written this JVM. Values are table-name strings (no DataFrame
   *  lineage pinned — nothing for an eviction hook to release; a new
   *  SparkContext gets a new applicationId and rebuilds). */
  private val coPairsBuilt =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** The SHARED weighted co-purchase pair artifact `(u, v, w)` —
   *  every part pair sharing an order with its co-occurrence count —
   *  materialized ONCE per (SparkContext, sfDir) as a managed parquet
   *  table bucketed + sorted on `u` (the [[graft.sources.BucketedTables]]
   *  device) and consumed by FOUR graph queries: [[graphTriangles]]
   *  and [[graphKcore]] take `select(u, v)` (a weight-1 threshold is
   *  the distinct pair set), [[graphLpa]] and [[graphBfs]] take the
   *  `w >= LpaMinWeight` backbone — a filter PUSHED to the bucketed
   *  scan, never a re-join. At 100 TB the per-order co-occurrence
   *  self-join is the dominant cost of the whole graph family; this
   *  runs it once per session, pays its shuffle at write time, and
   *  every consumer reads fixed-width integer triples back — u-keyed
   *  joins and aggregations plan with NO Exchange on the table side
   *  (bucket layout = valid HashPartitioning; plan-pinned). The table
   *  name is application-scoped (no cross-process shared state); a
   *  managed deployment promotes it to a governed derived table
   *  shared across jobs. [[graphPagerank]] alone stays
   *  off the artifact: its graph is the supplier→part INCIDENCE (one
   *  distinct of a two-column projection — no self-join to amortize,
   *  and a different node space). */
  private[graft] def coPairsTable(spark: SparkSession,
      sfDir: String): DataFrame = {
    val key = (spark.sparkContext.applicationId, sfDir)
    val table = coPairsBuilt.computeIfAbsent(key, _ => {
      // the name is scoped by applicationId: a shared fixed name
      // would make the drop-and-rebuild race across PROCESSES (JVM B
      // deleting parquet files JVM A's memoized reads still serve —
      // review-pass fix); app-unique names share nothing, so the only
      // possible leftover at this location is our own crashed staging
      // — swept defensively below. Dead applications leave small
      // orphan dirs in the scratch warehouse; a managed deployment
      // promotes this artifact to a governed derived table instead.
      val name = ("graft_graph_copairs_" +
        sfDir.replaceAll("[^a-zA-Z0-9]+", "_") + "_" +
        spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]+", "_"))
        .toLowerCase
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      val mem = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val pairs = mem.as("a").join(mem.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("w"))
      graft.sources.BucketedTables.writeBucketed(pairs, name, "u", 32)
      name
    })
    spark.table(table)
  }

  /** Both endpoint occurrences of every edge — degree = count. */
  private def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))

  /** Oriented edge sets at or under this size broadcast into the
   *  wedge-closing join (the wedge stream — the plan's BIGGEST
   *  relation, Σ C(outdeg, 2) rows — then never shuffles); larger
   *  sets fall back to the shuffled equi-join, the only honest form
   *  at graph scale. ~100 MB of (s, d, dd) longs at the cap. */
  val TriBroadcastEdges = 4000000L

  /** The census over any (o, p) membership frame: nodes are p values,
   *  edges join parts sharing an o. Factored for fixture tests. */
  def triangleCensus(pairs: DataFrame,
      driverCap: Long = graft.ops.LocalGraph.MaxDriverPairs): DataFrame =
    triangleCensusEdges(coEdges(pairs), driverCap)

  /** The [[triangleCensus]] engine over a prebuilt (u, v) edge frame
   *  — the [[coPairsTable]] consumers skip the co-membership join. */
  def triangleCensusEdges(edges0: DataFrame,
      driverCap: Long = graft.ops.LocalGraph.MaxDriverPairs): DataFrame = {
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] PLUS an exact
    // intersection-work budget (rationale in [[graft.ops.LocalGraph]]):
    // the census is one adjacency-intersection pass over oriented
    // out-lists — integer-exact, and the single float (gcc_r) is
    // computed through the IDENTICAL Spark expression over the
    // driver-counted longs, so both arms are bit-identical
    // (TriangleSpec pins kernel == brute force == the distributed
    // census on randomized fixtures). A dense graph under the pair cap
    // but over the work budget, an empty edge set (whose engine
    // n_wedges is NULL, not 0), and any graph past the pair cap all
    // take the distributed census below, unchanged. A table-backed
    // edge input (graphTriangles' co-pair table) is collected straight
    // off the scan; a computed one (coEdges' self-join) is snapshotted
    // once by the gate and the census reads that snapshot.
    val spark = edges0.sparkSession
    val edges = graft.ops.DriverGate("graph_triangles", edges0, driverCap)(
        graft.ops.LocalGraph.pairOf) { pairs =>
      if (pairs.isEmpty) None
      else graft.ops.LocalGraph.triangleCensus(pairs).map {
        case (nn, ne, nw, nt) =>
          spark.createDataFrame(
              java.util.Arrays.asList(org.apache.spark.sql.Row(nn, ne, nw, nt)),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("n_nodes",
                  org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("n_edges",
                  org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("n_wedges",
                  org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("n_triangles",
                  org.apache.spark.sql.types.LongType, nullable = false))))
            .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
              col("n_triangles"),
              round(lit(3.0) * col("n_triangles") /
                nullif(col("n_wedges").cast("double"), lit(0.0)), 6)
                .as("gcc_r"))
      }
    } match {
      case Right(out) => return out
      case Left(e) => e
    }
    val deg = endpoints(edges).groupBy("node").agg(count(lit(1)).as("deg"))
    // total orientation order: lexicographic (deg, node) — compared
    // as two fields, never packed into one integer (a deg·2³²+node
    // key would silently corrupt the order once ids reach 2³²)
    val ek = edges
      .join(deg.select(col("node").as("u"), col("deg").as("ud")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("vd")), "v")
    val uLtV = col("ud") < col("vd") ||
      (col("ud") === col("vd") && col("u") < col("v"))
    // THREE consumers (both wedge sides + the closing join, whose
    // different join keys defeat exchange reuse) — materialize once
    // partitioned on s at build (the partitioning-preserving
    // checkpoint): the adjacency-list agg (grouped by s) and BOTH
    // sides of the fallback wedge self-join (keyed s) then plan with
    // no Exchange over the preserved partitioning — a win in either
    // census regime for one build-time shuffle of the oriented edges
    // (the ppr device).
    // NOT adaptive-narrowed: the census's per-row work (adjacency-list
    // intersections) is the query's dominant COMPUTE — narrowing the
    // partitioning serializes it (measured: 3.9 → 6.0 s standalone at
    // sf0.1 when narrowed; the cheap-per-row engines bfs/sssp/kcore
    // are where the adaptive width wins)
    val ori = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointHashPartitioned(
        ek.select(
          when(uLtV, col("u")).otherwise(col("v")).as("s"),
          when(uLtV, col("v")).otherwise(col("u")).as("d"),
          when(uLtV, col("vd")).otherwise(col("ud")).as("dd")),
        Seq("s"))
    // the checkpointed frame's size is KNOWN — under the broadcast
    // budget, count by ADJACENCY-LIST INTERSECTION instead of the
    // wedge self-join: each triangle {s,x,y} with orientation s→x,
    // s→y, x→y is counted exactly once on its (s, x) edge as a common
    // out-neighbor y ∈ N⁺(s) ∩ N⁺(x), so n_triangles =
    // Σ_{(s,d)∈ori} |N⁺(s) ∩ N⁺(d)|. The wedge stream — Σ C(outdeg,2)
    // rows, the biggest relation of the old plan — never materializes
    // AT ALL: the oriented out-neighbor lists total exactly |E| longs
    // (the same bytes the old path broadcast as the closing side),
    // both joins broadcast, and the count reduces map-side with ZERO
    // exchanges over wedge-sized data (one 1-row final agg). Past the
    // budget the shuffled wedge join stands — per-edge neighbor
    // arrays attached to a SHUFFLED edge stream would carry
    // Σ outdeg² ≈ 2·wedges longs, re-creating the wedge volume in
    // shuffle bytes, so broadcast adjacency is the only form where
    // intersection wins and the honest giant-graph fallback remains
    // the oriented wedge equi-join.
    val nEdges = ori.count()
    val tri = if (nEdges <= TriBroadcastEdges) {
      val nbrs = ori.groupBy(col("s")).agg(collect_list(col("d")).as("ns"))
      ori.select(col("s"), col("d"))
        .join(broadcast(nbrs), Seq("s"))
        .join(broadcast(
          nbrs.select(col("s").as("d"), col("ns").as("ns2"))), Seq("d"))
        .agg(coalesce(sum(size(array_intersect(col("ns"), col("ns2")))
          .cast("bigint")), lit(0L)).as("n_triangles"))
    } else {
      // wedge at s → (x, y) in orientation order; the closing edge is
      // oriented x → y by construction, so one equi-join finishes it
      ori.as("e1").join(ori.as("e2"),
          col("e1.s") === col("e2.s") && (col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.d") < col("e2.d"))))
        .select(col("e1.d").as("x"), col("e2.d").as("y"))
        .join(ori.as("e3"),
          col("x") === col("e3.s") && col("y") === col("e3.d"))
        .agg(count(lit(1)).as("n_triangles"))
    }
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") /
          nullif(col("n_wedges").cast("double"), lit(0.0)), 6).as("gcc_r"))
  }

  /**
   * Type-2 slowly-changing-dimension BUILD from an event log (the
   * Kimball SCD2 shape every warehouse maintains): per user, collapse
   * consecutive equal states into validity intervals
   * [valid_from, valid_to) with the open interval marked current —
   * lag() detects change points, lead() closes each interval at the
   * next change. Keys are EXACT integer microseconds (unix_micros ≡
   * DuckDB epoch_us — truncated-seconds vs rounded-double frame keys
   * silently diverge on sub-second data), the order is totalized by
   * (ts_us, event_id), and the open end is the explicit Long.MaxValue
   * high-date sentinel rather than a NULL (Kimball's convention, and
   * null-free hash compares). Scale shape: ONE shuffle on user_id
   * feeds both window passes (same partitioning), everything else is
   * row-local; output is change-points only.
   */
  def scd2Build(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val ev = Tables.events(spark, sfDir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"),
      col("event_type"))
    val changes = ev
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("valid_to_us",
        coalesce(lead(col("ts_us"), 1).over(w), lit(Long.MaxValue)))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        (col("valid_to_us") === Long.MaxValue).as("is_current"))
  }

  /**
   * CDC apply — the MERGE INTO / upsert-and-delete shape of every
   * ingestion pipeline (apply a change batch to a snapshot,
   * latest-wins, deletes tombstone): here the change batch is derived
   * DETERMINISTICALLY from the snapshot keys (the engineered-fixture
   * convention — no CDC feed exists in the testdata): keys ≡ 0 mod 13
   * delete, keys ≡ 0 mod 7 (and not 13) update status to 'X' with a
   * decimal-exact +10.00 reprice, keys ≡ 0 mod 97 insert a fresh
   * −(key+1) row with status 'N' — orderkeys are ≥ 0 at every SF, so
   * the strictly-negative insert keyspace is DISJOINT by construction
   * (an additive offset would collide with real keys past SF ≈ 167 —
   * and plain negation would collide at key 0, which this corpus
   * has — making the latest-wins tie nondeterministic). Applied as ONE union + one
   * per-key latest-wins rank (seq 1 beats the snapshot's 0) + a
   * tombstone drop — the window form of MERGE that needs no join at
   * all; the rank cut is the WindowGroupLimit contract. Emits the
   * per-status reconciliation row a CDC operator actually monitors
   * (counts, exact key sums, decimal-exact price sums).
   */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val snap = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast("decimal(14,2)").as("price"),
        lit(0L).as("seq"), lit("U").as("op"))
    val del = snap.filter(col("k") % 13 === 0)
      .select(col("k"), col("status"), col("price"), lit(1L).as("seq"),
        lit("D").as("op"))
    val upd = snap.filter(col("k") % 13 =!= 0 && col("k") % 7 === 0)
      .select(col("k"), lit("X").as("status"),
        (col("price") + lit(BigDecimal("10.00"))).cast("decimal(14,2)")
          .as("price"),
        lit(1L).as("seq"), lit("U").as("op"))
    val ins = snap.filter(col("k") % 97 === 0)
      .select((-(col("k") + 1)).as("k"), lit("N").as("status"),
        col("price"), lit(1L).as("seq"), lit("I").as("op"))
    val all = snap.unionByName(del).unionByName(upd).unionByName(ins)
    val rk = row_number().over(
      Window.partitionBy("k").orderBy(col("seq").desc))
    val merged = all.withColumn("rk", rk).filter(col("rk") === 1)
      .filter(col("op") =!= "D")
    merged.groupBy("status")
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"),
        sum(col("price")).cast("double").as("price_sum"))
  }

  /**
   * Declarative data-quality EXPECTATIONS over the warehouse tables —
   * the Deequ/Great-Expectations shape every production pipeline runs
   * before publishing a partition: completeness (null fraction),
   * uniqueness (key duplicate count), range and domain conformance,
   * and cross-table referential integrity, each emitted as one
   * (constraint, violations, checked, pass) row.
   *
   * Scale shape: ALL single-table constraints evaluate in ONE
   * aggregation pass per table (conditional sums side by side — a
   * constraint battery must never scan per constraint); the exact
   * uniqueness check rides the same pass as count(distinct)'s Expand;
   * referential integrity is ONE left-anti join from the fact to the
   * broadcast-or-shuffled dimension keys. Output is |constraints|
   * rows however large the tables.
   */
  def dqCheck(spark: SparkSession, sfDir: String): DataFrame =
    dqCheckOf(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))

  /** The constraint battery of [[dqCheck]] over any (orders-shaped,
   *  lineitem-shaped) frames — factored so the spec can plant
   *  violations (the shipped tables are clean, so the gated query
   *  honestly reads all-pass; every violation path is exercised by
   *  DqCheckSpec's planted nulls/dups/negatives/orphans). */
  def dqCheckOf(o: DataFrame, li: DataFrame): DataFrame = {
    // sums over an EMPTY table are NULL — coalesce so a zero-row
    // input reports (0 violations, nonempty trips) instead of a
    // null-pass row (DqCheckSpec pins the empty-table path)
    val oAgg = o.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), lit(0L))
        .as("null_cust"),
      (count(lit(1)) - count_distinct(col("o_orderkey"))).as("dup_keys"),
      coalesce(sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)), lit(0L))
        .as("neg_price"),
      coalesce(sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)), lit(0L)).as("bad_status"))
    val liAgg = li.agg(count(lit(1)).as("n_li"))
    val orphans = li.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
    val m = oAgg.crossJoin(broadcast(liAgg)).crossJoin(broadcast(orphans))
    // ONE select over the single aggregated row generates all the
    // constraint rows (the eventUnpivot stack device) — a per-row
    // union would re-derive the agg/join subtree once per constraint
    // and lean on ReuseExchange to undo it (plan-pinned scan count)
    m.select(expr("""stack(6,
        'orders_nonempty', CAST(CASE WHEN n = 0 THEN 1 ELSE 0 END AS BIGINT), n,
        'o_custkey_not_null', null_cust, n,
        'o_orderkey_unique', dup_keys, n,
        'o_totalprice_nonneg', neg_price, n,
        'o_orderstatus_domain', bad_status, n,
        'lineitem_order_ri', orphans, n_li) AS (check_name, violations, checked)"""))
      .withColumn("pass", col("violations") === 0)
  }

  /** Core order for [[graphKcore]]: with co-purchase degrees ~42–222
   *  at both bench SFs, k = 80 peels for ~5 rounds to a genuinely
   *  PROPER subgraph (1857/2000 nodes at sf0.01) — neither the
   *  everything-core of small k nor the empty core past the
   *  degeneracy. */
  val KCoreK = 80

  /**
   * k-core decomposition member query (Matula & Beck 1983's peeling;
   * Batagelj & Zaveršnik 2003): the maximal subgraph in which every
   * node has degree ≥ k — the standard graph-mining density filter
   * (community seeds, spam/bot cores, influence backbones). Peeling
   * iterates: drop every node with CURRENT degree < k, which lowers
   * neighbors' degrees, until a fixpoint — the classic cascading
   * deletion that one degree filter cannot express. Emits every core
   * member with its within-core degree.
   *
   * Scale shape (the Pregel-in-SQL contract, like graphPagerank):
   * each round is one two-phase degree agg + a driver-side 1-scalar
   * convergence count + two anti-joins keyed on node ids — edge text
   * never shuffles (there is none), every shuffle is fixed-width
   * integer keys. Round count is data-dependent but small on dense
   * graphs (≤ 9 observed at both bench SFs); lineage truncates every
   * round via localCheckpoint with the releaseTruncated handle
   * discipline (superseded snapshots are released EAGERLY — the r14
   * block-manager-leak class). The DuckDB oracle unrolls peeling to
   * a fixed depth and FAILS LOUD if un-converged (the unigram-DP
   * guard device), so a corpus needing deeper peeling surfaces as an
   * oracle error, never a silent mismatch.
   */
  def graphKcore(spark: SparkSession, sfDir: String): DataFrame =
    kCore(coPairsTable(spark, sfDir).select("u", "v"), KCoreK)

  /** The peeling fixpoint over any (u, v) edge frame. `bcCap` is the
   *  broadcast budget for the cumulative drop set (default: the
   *  engine-wide measured verdict) — a parameter so the spec can force
   *  the rebase fallback on fixture graphs. */
  def kCore(edges0: DataFrame, k: Int,
      bcCap: Long = graft.ops.DedupOps.MaxBroadcastNodes,
      driverCap: Long = graft.ops.LocalGraph.MaxDriverPairs): DataFrame = {
    // ONE base edge materialization; each round's peel applies as a
    // pair of BROADCAST anti-joins of the CUMULATIVE drop set over it.
    // Node removal is set subtraction — order-independent — so pruning
    // against the union of every round's drops is exactly the graph
    // the round-by-round re-prune produced (KCoreSpec holds both
    // regimes to the same plain-Scala reference). The former loop
    // re-checkpointed the full surviving edge set EVERY round: an
    // edge-sized block write to carry a node-sized decision (guide
    // §1.2 — fix the distributed algorithm before the per-task work;
    // §5 — those blocks also squeezed execution memory suite-wide).
    // When the cumulative set outgrows the broadcast budget the loop
    // REBASES: materializes the pruned edges once and resets the set —
    // the honest fallback at graph scale, now paid once per ~budget
    // dropped nodes instead of every round.
    // Scale-adaptive READ WIDTH over the snapshot (guide §2): every
    // round scans `base` twice (the endpoints union), launching
    // 2×partitions tasks per round — task-launch-bound at small edge
    // sets. A small snapshot is therefore VIEWED through a coalesce to
    // ceil(rows / AdaptiveRowsPerPartition) partitions: a NARROW view
    // over the checkpointed blocks (no shuffle, nothing materialized,
    // handle discipline untouched); at scale the target reaches the
    // snapshot's own width and the view is the identity. The row count
    // is one cheap job per (re)base over in-memory blocks.
    def adaptView(b: DataFrame): DataFrame =
      graft.ops.DedupOps.adaptiveCoalesceView(b, b.count())
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (rationale in
    // [[graft.ops.LocalGraph]]): the peel launched 2 jobs per cascade
    // round — measured 28 jobs / 104 tasks / 0.00 MB shuffled for a
    // 3.06 s median (JobProbe, sf0.1/32c) — pure scheduling for
    // node-sized integer bookkeeping. Under the cap the collected
    // edge list peels in one driver pass (the k-core is unique, so the
    // queue cascade equals the synchronous rounds — KCoreSpec pins it
    // against the same reference, and forces THIS arm off with
    // driverCap = 0 to keep the distributed loop covered). Past the
    // cap the fixpoint below runs unchanged over the gate's frame:
    // edges0 itself when it is a table scan (graphKcore — re-scanning
    // the bucketed table is cheaper than materializing it into the
    // block manager, measured 2.3–6.9 s for the 19 MB sf0.1 edge set),
    // else the gate's one snapshot of the computed edge relation.
    var base = graft.ops.DriverGate("graph_kcore", edges0, driverCap)(
        graft.ops.LocalGraph.pairOf) { pairs =>
      val core = graft.ops.LocalGraph.corePeel(pairs, k)
      Some(graft.ops.LocalGraph.pairFrame(edges0.sparkSession,
        core.iterator, core.size.toLong, "node", "core_deg"))
    } match {
      case Right(out) => return out
      case Left(e) => e
    }
    var baseView = adaptView(base)
    var dropCkpts = List.empty[DataFrame] // live handles under dropCum
    var dropCum: Option[DataFrame] = None
    var nCum = 0L
    def pruned(of: DataFrame): DataFrame = dropCum match {
      case None => of
      case Some(d) => of
        .join(broadcast(d.select(col("node").as("u"))), Seq("u"), "left_anti")
        .join(broadcast(d.select(col("node").as("v"))), Seq("v"), "left_anti")
    }
    var done = false
    while (!done) {
      val drop = endpoints(pruned(baseView)).groupBy("node")
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select("node")
        .localCheckpoint() // reused by the count + the anti-joins
      val nDrop = drop.count()
      if (nDrop == 0) {
        graft.ops.DedupOps.releaseTruncated(drop)
        done = true
      } else if (nCum + nDrop <= bcCap) {
        // broadcast regime: the round's drops extend the cumulative
        // relation — a union of ≤ #rounds node-sized snapshots, so the
        // per-round plan depth stays constant and NOTHING edge-sized
        // materializes
        dropCum = Some(dropCum.map(_.unionAll(drop)).getOrElse(drop))
        dropCkpts ::= drop
        nCum += nDrop
      } else {
        // REBASE past the budget. The round's own drop set may itself
        // exceed it — then the anti-joins shuffle (MEASURED verdict
        // from the count the convergence check already pays, the ppr
        // device), the honest form for a giant peel wave.
        val bc = nDrop <= bcCap
        def dropAs(name: String) = {
          val s = drop.select(col("node").as(name))
          if (bc) broadcast(s) else s
        }
        val next = pruned(baseView)
          .join(dropAs("u"), Seq("u"), "left_anti")
          .join(dropAs("v"), Seq("v"), "left_anti")
          .localCheckpoint() // eager: safe to release the old base
        graft.ops.DedupOps.releaseTruncated(drop)
        // the caller's own frame (a scan the gate read directly) is
        // never ours to release
        (if (base eq edges0) dropCkpts else base :: dropCkpts)
          .foreach(graft.ops.DedupOps.releaseTruncated)
        base = next
        baseView = adaptView(base)
        dropCkpts = Nil
        dropCum = None
        nCum = 0L
      }
    }
    // the live snapshots (base + cumulative drop sets) stay under the
    // returned frame — left to the ContextCleaner (the pagerank
    // non-boundary convention)
    endpoints(pruned(baseView)).groupBy("node")
      .agg(count(lit(1)).as("core_deg"))
  }

  val LpaIters = 5

  /** Minimum co-purchase count for a [[graphLpa]] edge: the raw
   *  co-occurrence graph is so dense (degrees 42–222 at bench SFs)
   *  that label propagation collapses to ONE community in two rounds
   *  — the weight-≥2 backbone keeps only repeated co-purchases, on
   *  which the propagation finds real structure (356 communities at
   *  sf0.01, 2487 at sf0.1; at the 200-part smoke SF the backbone is
   *  still dense enough to merge — density-, not size-, driven). */
  val LpaMinWeight = 2

  /**
   * Community detection by synchronous LABEL PROPAGATION over the
   * repeated-co-purchase backbone (Raghavan et al. 2007) — the third
   * member of the iterative-graph family beside [[graphPagerank]]
   * and [[graphKcore]]: every node starts as its own community and
   * each of the [[LpaIters]] rounds reassigns it to the most frequent
   * label among its neighbors AND itself (the self-vote damps the
   * two-cycle oscillation synchronous LPA exhibits on near-bipartite
   * structure), ties to the SMALLEST label — a total deterministic
   * rule, so round K is a pure function of the edge set and the
   * oracle re-propagates INDEPENDENTLY ([[Oracles.graphLpa]], the
   * graphPagerank chained-CTE device).
   *
   * Scale shape: adjacency = symmetrized backbone edges + one
   * self-loop per node, localCheckpoint-materialized ONCE (scanned
   * every round); each round is one shuffle join of node-sized labels
   * onto the adjacency plus ONE two-phase aggregate — the per-node
   * argmax is max(struct(cnt, -label)), so votes combine map-side
   * and the shuffle carries one struct per (node, label), never a
   * window over the raw neighbor fan-out. Label lineage truncates on
   * the pagerank stride with the checkpoint-handle release
   * discipline.
   */
  def graphLpa(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coBackbone(spark, sfDir)
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (rationale in
    // [[graft.ops.LocalGraph]]): [[LpaIters]] synchronous integer-vote
    // rounds — exact smallest-label tie-break — over a backbone that
    // collects in one pass. LocalGraphSpec pins kernel == the `lpa`
    // engine on randomized fixtures. Past the cap the engine path
    // below runs unchanged.
    graft.ops.DriverGate("graph_lpa", e,
        graft.ops.LocalGraph.MaxDriverPairs)(graft.ops.LocalGraph.pairOf) {
      pairs =>
        val c = graft.ops.LocalGraph.lpaCommunities(pairs, LpaIters)
        Some(graft.ops.LocalGraph.pairFrame(spark,
          c.iterator, c.size.toLong, "node", "community"))
    } match {
      case Right(out) => out
      case Left(edges) => lpa(edges, LpaIters)
    }
  }

  /** The weight-≥[[LpaMinWeight]] repeated-co-purchase backbone
   *  (u, v) — shared by [[graphLpa]] and [[graphBfs]]: a pushed-down
   *  weight filter over the shared [[coPairsTable]] artifact
   *  (plan-pinned `GreaterThanOrEqual(w, ...)` in PushedFilters). */
  private[graft] def coBackbone(spark: SparkSession, sfDir: String): DataFrame =
    coPairsTable(spark, sfDir)
      .filter(col("w") >= LpaMinWeight)
      .select("u", "v")

  /** Seed rule for [[graphBfs]]: every part id ≡ 0 (mod 100). */
  val BfsSeedMod = 100

  /**
   * Multi-source BFS hop distances over the co-purchase backbone —
   * the fourth iterative-graph member (beside PageRank, k-core, LPA)
   * and the classic "distance to a seed set" primitive (spam-seed
   * proximity, influence radius): every node ≡ 0 mod [[BfsSeedMod]]
   * starts at distance 0, and each round advances the FRONTIER one
   * hop — frontier ⋈ adjacency, distinct, anti-joined against every
   * already-reached node — until the frontier empties (exact
   * fixpoint, the kCore convention: a driver-side emptiness scalar
   * per round, never a fixed iteration guess). Unreached nodes are
   * simply absent (the honest encoding — a NULL distance invites
   * accidental aggregation).
   *
   * Scale shape: adjacency localCheckpoint-materialized once; per
   * round ONE shuffle join of the frontier (shrinking) + one distinct
   * + one anti-join against the known set; frontier and known
   * checkpoints released with the handle discipline the round they
   * are superseded. The oracle UNROLLS to depth 16 and fails loud if
   * the last frontier is non-empty (the kcore unroll-guard device);
   * measured eccentricity from the seed set ≤ 7 at all three SFs.
   */
  def graphBfs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coBackbone(spark, sfDir)
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (rationale in
    // [[graft.ops.LocalGraph]]): 42 scheduled jobs for ~3 BFS waves at
    // sf0.1 (JobProbe) — frontier bookkeeping, zero shuffle bytes. The
    // backbone is a pushed-filter scan of the bucketed coPairs
    // artifact, so the gate's bounded collect is one cheap columnar
    // scan. Same seed rule evaluated driver-side; LocalGraphSpec pins
    // kernel == the `bfs` engine on randomized fixtures. Past the cap
    // the engine path below runs unchanged.
    val edges = graft.ops.DriverGate("graph_bfs", e,
        graft.ops.LocalGraph.MaxDriverPairs)(graft.ops.LocalGraph.pairOf) {
      pairs =>
        val d = graft.ops.LocalGraph.bfsDistances(pairs, _ % BfsSeedMod == 0)
        Some(graft.ops.LocalGraph.pairFrame(spark,
          d.iterator, d.size.toLong, "node", "dist"))
    } match {
      case Right(out) => return out
      case Left(f) => f
    }
    // adjacency partitioned on dst at build (the ppr device, via the
    // partitioning-preserving checkpoint): while a wave broadcasts
    // (every round at bench SFs — seeds are a 1/100 fraction), the
    // expansion's distinct on node (= dst, preserved through the
    // rename) needs no Exchange. ROW-COUNT-GATED (r22): a small
    // adjacency never amortizes the build over BFS's few waves (the
    // r21 0.71x finding) — below the gate the waves read a plain
    // snapshot through a narrow coalesce view and pay an
    // AQE-coalesced node-sized exchange per wave; large graphs keep
    // the zero-exchange wave plan.
    val adj = graft.ops.DedupOps.checkpointHashPartitionedGated(
      edges.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst"))),
      Seq("dst"))
    val seeds = adj.select(col("src").as("node")).distinct()
      .filter(col("node") % BfsSeedMod === 0)
    bfs(adj, seeds)
  }

  /**
   * PERSONALIZED PageRank from the [[graphBfs]] seed set — the
   * seed-proximity ranking that composes the two existing fixpoints
   * (the data-curation "influence of trusted seeds" primitive:
   * rank-by-closeness-to-curated-sources, Haveliwala 2002 /
   * Jeh & Widom 2003): the [[graphPagerank]] iteration over the
   * repeated-co-purchase backbone, but teleport mass lands ONLY on
   * the seed nodes (part id ≡ 0 mod [[BfsSeedMod]]) — rank_micro is
   * per-seed unit mass in the pagerank micro-unit fixed point, so a
   * node's score decays with its distance from the seed set and
   * seed-free components read exactly 0.
   *
   * Scale shape: identical to [[graphPagerank]] — backbone from the
   * shared [[coPairsTable]] artifact, edge relation checkpointed
   * once, [[PrIters]] rounds of ONE shuffle join (node-sized rank
   * state onto edges) + ONE two-phase sum, rank lineage truncated on
   * the stride with the handle-release discipline. The teleport term
   * is a row-local predicate on the aggregated node id — no extra
   * join, no seed-set broadcast. All arithmetic is floored integer
   * micro-units (bit-stable across engines), so round K is a pure
   * function of the edge set and the oracle's unrolled chained-CTE
   * recomputation lands on identical ranks.
   */
  def graphPpr(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coBackbone(spark, sfDir)
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (rationale in
    // [[graft.ops.LocalGraph]]): ppr's micro-unit arithmetic is
    // integer-exact (long contribution sums are order-independent;
    // the two floored double quotients are deterministic scalar ops —
    // LpaLinregSpec pins the engine to the identical plain-Scala
    // formula), so the driver ranks are bit-identical. The same
    // %-seed rule evaluates driver-side. Past the cap the engine
    // path below runs unchanged.
    graft.ops.DriverGate("graph_ppr", e,
        graft.ops.LocalGraph.MaxDriverPairs)(graft.ops.LocalGraph.pairOf) {
      pairs =>
        val r = graft.ops.LocalGraph.pprRanks(pairs,
          _ % BfsSeedMod == 0, PrIters, PrScale)
        Some(graft.ops.LocalGraph.pairFrame(spark,
          r.iterator, r.size.toLong, "node", "rank_micro"))
    } match {
      case Right(out) => out
      case Left(edges) => ppr(edges, col("node") % BfsSeedMod === 0, PrIters)
    }
  }

  /** The personalized-pagerank iteration over any (u, v) edge frame —
   *  the [[graphPpr]] engine, factored for fixture tests. `seedPred`
   *  is evaluated against the aggregated `node` column (row-local —
   *  never a membership join). */
  def ppr(e: DataFrame, seedPred: org.apache.spark.sql.Column,
      iters: Int): DataFrame = {
    // ONE derivation of the symmetrized edge relation: it used to
    // execute TWICE — once under the initial-ranks snapshot (via deg)
    // and again under the decorated-edge build — which for pagerank
    // re-ran the whole lineitem-distinct upstream (phase-probed: the
    // edgesDeg build was the largest single phase, ~1.0 s of the 2.0 s
    // warm total at sf0.1). Guide §1.2: remove redundant passes before
    // tuning anything else. Released below once edgesDeg supersedes it.
    val edgesSnap = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    // node-sized snapshot: read by the initial ranks AND the decorated
    // join's broadcast build — one agg execution instead of two
    val deg = edgesSnap.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val teleBase = when(seedPred, lit(PrScale * 15 / 100)).otherwise(lit(0L))
    // initial ranks MATERIALIZED (node-sized) so the broadcast verdict
    // below is one cheap count over the snapshot — the er_candidates
    // measured-hint device. Under the budget every round's join
    // broadcasts the rank state and the EDGE relation never shuffles
    // again (the checkpoint reports UnknownPartitioning + default
    // sizeInBytes, so the estimate-blind planner otherwise falls back
    // to a SortMergeJoin that re-shuffles and re-sorts the edges every
    // round once ranks are checkpoint-rooted — plan-measured this
    // round); past it the shuffled join stands, the honest form where
    // node state outgrows an executor.
    var ranks = deg.select(col("src").as("node"))
      .select(col("node"),
        when(seedPred, lit(PrScale)).otherwise(lit(0L)).as("rank"))
      .localCheckpoint()
    val bcastRanks = ranks.count() <= graft.ops.DedupOps.MaxBroadcastNodes
    // In the broadcast regime, hash-partition the edge snapshot on dst
    // ONCE at build (the partitioning-preserving checkpoint — plain
    // localCheckpoint records UnknownPartitioning under AQE): the
    // round's BroadcastHashJoin + Project preserve it, and the
    // per-round contribution sum (grouped by dst) then needs NO
    // Exchange at all — each round becomes one zero-shuffle codegen
    // span (plan-verified: Exchange count 1 → 0 in the round frame).
    // One edge-relation shuffle paid once replaces `iters` partial-agg
    // exchanges. Past the cap the rounds shuffle edges by src for the
    // join anyway (dst partitioning would be destroyed), so the build
    // repartition is skipped with the same measured verdict.
    // deg is node-sized exactly when ranks is (same key set), so the
    // measured verdict above also licenses broadcasting it here — the
    // estimate-blind default re-shuffled the edge snapshot by src to
    // meet a sort-merge join for a node-sized build side
    val edgesDeg0 = edgesSnap.join(
      if (bcastRanks) broadcast(deg) else deg, "src")
    // NOT adaptive-narrowed: each round's contribution product-sum is
    // real per-edge arithmetic ×iters — narrowing serializes it
    // (measured: pagerank 2.1 → 3.7 s standalone when narrowed)
    val edgesDeg =
      if (bcastRanks)
        org.apache.spark.sql.GraftColumnBridge
          .localCheckpointHashPartitioned(edgesDeg0, Seq("dst"))
      else edgesDeg0.localCheckpoint()
    // both superseded by the decorated snapshot (ranks is
    // checkpoint-rooted, so neither is reachable from live frames)
    graft.ops.DedupOps.releaseTruncated(edgesSnap)
    graft.ops.DedupOps.releaseTruncated(deg)
    var sinceTrunc = 0
    // the last CHECKPOINT HANDLE — releaseTruncated matches the plan
    // root, so superseded snapshots must be released via the handle,
    // never via the chained `ranks` frame built on top of it (whose
    // leaves also include the LIVE edgesDeg checkpoint)
    var lastCkpt: Option[DataFrame] = Some(ranks)
    for (_ <- 1 to iters) {
      val rside = if (bcastRanks) broadcast(ranks) else ranks
      val contribs = edgesDeg
        .join(rside, edgesDeg("src") === rside("node"))
        .select(col("dst"), floor(col("rank") / col("outdeg")).as("c"))
      val next = contribs.groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"),
          (teleBase + floor(col("s") * lit(85L) / lit(100.0))).as("rank"))
      sinceTrunc += 1
      if (sinceTrunc >= 4) {
        ranks = next.localCheckpoint()
        lastCkpt.foreach(graft.ops.DedupOps.releaseTruncated)
        lastCkpt = Some(ranks)
        sinceTrunc = 0
      } else ranks = next
    }
    val out = ranks.select(col("node"), col("rank").as("rank_micro"))
    // same boundary rule as graphPagerank: release the edge
    // checkpoint early only when the final ranks are checkpoint-rooted
    if (sinceTrunc == 0) graft.ops.DedupOps.releaseTruncated(edgesDeg)
    out
  }

  /** The BFS fixpoint over any symmetrized (src, dst) adjacency —
   *  factored for fixture tests. `adj` should be materialized by the
   *  caller (it is scanned every round). */
  /**
   * Connected-component SIZE DISTRIBUTION over the co-purchase
   * backbone — the graph-topology diagnostic beside the iterative
   * members (is the backbone one giant component or fragmented?
   * the first question a graph-algorithm operator asks before
   * trusting pagerank/LPA numbers), and the graph analogue of
   * `dedup_cluster_sizes`: min-label connected components
   * ([[graft.ops.DedupOps.connectedComponents]] — the dedup
   * fixpoint reused verbatim) rolled to
   * (component_size, n_components, n_nodes). Non-vacuous on the
   * committed corpus: the backbone fragments (BFS reaches only part
   * of it — measured), so the histogram carries a giant component
   * plus a tail.
   *
   * Scale shape: the CC fixpoint over backbone edges (per round one
   * shuffle join + min agg with checkpoint truncation — the
   * dedup_clusters cost class), then two fixed-width component-sized
   * aggs.
   */
  def graphComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coBackbone(spark, sfDir)
    val nodes = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id"))).distinct()
    graft.ops.DedupOps.connectedComponents(
        e.select(col("u").as("id1"), col("v").as("id2")), nodes)
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .select(col("component_size"), col("n_components"),
        (col("component_size") * col("n_components")).as("n_nodes"))
  }

  /** Edge length for [[graphSssp]]: strong ties are SHORT —
   *  1 + 100/w (integer division), monotone decreasing in the
   *  co-purchase count, exact integer arithmetic end to end. */
  private[graft] def ssspCost(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    lit(1L) + floor(lit(100L) / w)

  /**
   * WEIGHTED single-source-set shortest paths over the co-purchase
   * backbone — the fifth iterative-graph member, generalizing
   * [[graphBfs]]'s hop counts to tie-strength distances (the
   * "how cheaply does influence reach this node" primitive; strong
   * ties are short via [[ssspCost]]): multi-source Bellman–Ford from
   * the [[BfsSeedMod]] seed set with the frontier optimization — each
   * round relaxes ONLY edges out of nodes improved last round, and
   * the fixpoint is EXACT (a driver-side emptiness scalar on the
   * improved set, the bfs/kCore convention; positive integer costs
   * guarantee convergence). The weighted answer genuinely differs
   * from BFS: a two-hop path through strong ties undercuts a direct
   * weak edge (spec-pinned on a planted graph AND measured on the
   * corpus backbone).
   *
   * Scale shape: weighted adjacency checkpointed once; per round ONE
   * shuffle join of the (shrinking) improved frontier onto edges +
   * one two-phase min agg + one merge anti-join; superseded
   * dist/frontier checkpoints released with the handle discipline.
   * The oracle unrolls full-relaxation rounds and fails loud if the
   * last round still improved (the bfs unroll-guard device).
   */
  def graphSssp(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPairsTable(spark, sfDir)
      .filter(col("w") >= LpaMinWeight)
      .select(col("u"), col("v"), ssspCost(col("w")).as("cost"))
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (rationale in
    // [[graft.ops.LocalGraph]]): 57 scheduled jobs at sf0.1 (JobProbe)
    // for integer frontier relaxation. Dijkstra over positive long
    // costs equals the Bellman–Ford fixpoint exactly; LocalGraphSpec
    // pins kernel == the `sssp` engine on randomized weighted
    // fixtures. Past the cap the engine path below runs unchanged.
    val edges = graft.ops.DriverGate("graph_sssp", e,
        graft.ops.DriverGate.cap(graft.ops.DriverGate.TripleBytes))(
        graft.ops.LocalGraph.tripleOf) { t =>
      val d = graft.ops.LocalGraph.ssspDistances(t, _ % BfsSeedMod == 0)
      Some(graft.ops.LocalGraph.pairFrame(spark,
        d.iterator, d.size.toLong, "node", "dist"))
    } match {
      case Right(out) => return out
      case Left(f) => f
    }
    // weighted adjacency partitioned on dst at build (the graphBfs
    // rationale): the relax pass's per-node min (grouped on node = dst)
    // runs exchange-free while the frontier broadcasts. ROW-COUNT-GATED
    // like graphBfs (r22): small graphs skip the build.
    val adjW = graft.ops.DedupOps.checkpointHashPartitionedGated(
      edges.select(col("u").as("src"), col("v").as("dst"), col("cost"))
        .unionAll(edges.select(col("v").as("src"), col("u").as("dst"),
          col("cost"))),
      Seq("dst"))
    val seeds = adjW.select(col("src").as("node")).distinct()
      .filter(col("node") % BfsSeedMod === 0)
    sssp(adjW, seeds)
  }

  /** The [[graphSssp]] engine over any (src, dst, cost) weighted
   *  adjacency — factored for fixture tests. Positive costs
   *  required (Bellman–Ford convergence). */
  def sssp(adjW: DataFrame, seeds: DataFrame): DataFrame = {
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    // per-round MEASURED broadcast verdicts (the bfs device): the
    // improved-frontier size falls out of the count the emptiness
    // check already pays. Under the budget the weighted adjacency
    // never shuffles for the relax join and the dist merge's
    // anti-join streams dist unshuffled; past it the shuffled joins
    // stand (the honest giant-graph form).
    val cap = graft.ops.DedupOps.MaxBroadcastNodes
    var frontier = dist
    var frontierN = frontier.count()
    var done = false
    while (!done) {
      val fside = frontier.select(col("node").as("src"),
        col("dist").as("sd"))
      val improved = adjW
        .join(if (frontierN <= cap) broadcast(fside) else fside, Seq("src"))
        .select(col("dst").as("node"), (col("sd") + col("cost")).as("nd"))
        .groupBy("node").agg(min(col("nd")).as("nd"))
        .join(dist, Seq("node"), "left")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("node"), col("nd").as("dist"))
        .localCheckpoint()
      val impN = improved.count()
      if (impN == 0) {
        graft.ops.DedupOps.releaseTruncated(improved)
        done = true
      } else {
        val impKeys = improved.select(col("node"))
        val nd = dist
          .join(if (impN <= cap) broadcast(impKeys) else impKeys,
            Seq("node"), "left_anti")
          .unionAll(improved)
          .localCheckpoint()
        // nd is materialized eagerly — the superseded handles release
        // now (frontier == dist only on the first round)
        if (frontier ne dist) graft.ops.DedupOps.releaseTruncated(frontier)
        graft.ops.DedupOps.releaseTruncated(dist)
        dist = nd
        frontier = improved
        frontierN = impN
      }
    }
    // the final improved set's rows live inside dist's checkpoint —
    // its own handle is superseded (the returned frame is dist)
    if (frontier ne dist) graft.ops.DedupOps.releaseTruncated(frontier)
    dist
  }

  def bfs(adj: DataFrame, seeds: DataFrame): DataFrame = {
    var known = seeds.select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    // per-round MEASURED broadcast verdicts (the ppr/kCore device):
    // the frontier and known sizes fall out of counts the loop already
    // pays (the emptiness check becomes the frontier count; the known
    // size is seeds + Σ frontiers — no extra job). Under the budget
    // the adjacency and the expansion never shuffle for their joins;
    // past it the shuffled joins stand (a giant-component wave at
    // graph scale outgrows an executor).
    val cap = graft.ops.DedupOps.MaxBroadcastNodes
    var knownN = known.count()
    var frontier = known
    var frontierN = knownN
    var d = 0L
    var done = false
    while (!done) {
      val fside = frontier.select(col("node").as("src"))
      val kside = known.select("node")
      val next = adj
        .join(if (frontierN <= cap) broadcast(fside) else fside, Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(if (knownN <= cap) broadcast(kside) else kside,
          Seq("node"), "left_anti")
        .withColumn("dist", lit(d + 1))
        .localCheckpoint()
      val nextN = next.count()
      if (nextN == 0) {
        graft.ops.DedupOps.releaseTruncated(next)
        done = true
      } else {
        val nk = known.unionAll(next).localCheckpoint()
        // nk is materialized eagerly — the superseded handles release
        // now (frontier == known only on the first round)
        if (frontier ne known) graft.ops.DedupOps.releaseTruncated(frontier)
        graft.ops.DedupOps.releaseTruncated(known)
        known = nk
        knownN += nextN
        frontier = next
        frontierN = nextN
        d += 1
      }
    }
    // the final frontier's rows live inside `known`'s checkpoint —
    // its own handle is superseded (the returned frame is known)
    if (frontier ne known) graft.ops.DedupOps.releaseTruncated(frontier)
    known
  }

  /** Synchronous self-vote label propagation over any (u, v) edge
   *  frame — the [[graphLpa]] engine, factored for fixture tests. */
  def lpa(e: DataFrame, iters: Int): DataFrame = {
    val nodes = endpoints(e).distinct()
    // adj (and the final label checkpoint below) stays live under the
    // returned frame for all `iters` rounds — left to the
    // ContextCleaner (the pagerank/kcore non-boundary convention);
    // only SUPERSEDED mid-loop snapshots are released eagerly
    // initial labels MATERIALIZED (node-sized) so the broadcast
    // verdict is one count over the snapshot (the ppr device, same
    // rationale): under the budget each round is one
    // BroadcastHashJoin — the adjacency never shuffles again — where
    // the estimate-blind default re-shuffled and re-sorted the EDGE
    // side every round (plan-measured SortMergeJoin this round).
    var lbl = nodes.select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    val bcastLbl = lbl.count() <= graft.ops.DedupOps.MaxBroadcastNodes
    // broadcast regime: adjacency partitioned on dst once at build
    // (the partitioning-preserving checkpoint), so BOTH per-round
    // aggregates — the (dst, lbl) vote count and the per-dst argmax —
    // run with NO Exchange on the preserved partitioning (the ppr
    // device; {dst} ⊆ {dst, lbl} satisfies the vote agg's clustering).
    // Plan-verified: 2 Exchanges → 0 per round.
    val adj0 = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .unionAll(nodes.select(col("node").as("src"),
        col("node").as("dst")))
    // NOT adaptive-narrowed: the per-round (dst, lbl) vote count
    // hashes every adjacency row ×iters — probe read flat-to-worse
    // narrowed (1.9 → 2.1 s); the width stays with the compute
    val adj =
      if (bcastLbl)
        org.apache.spark.sql.GraftColumnBridge
          .localCheckpointHashPartitioned(adj0, Seq("dst"))
      else adj0.localCheckpoint()
    var sinceTrunc = 0
    var lastCkpt: Option[DataFrame] = Some(lbl)
    for (_ <- 1 to iters) {
      val lside = if (bcastLbl) broadcast(lbl) else lbl
      val votes = adj.join(lside, adj("src") === lside("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val next = votes.groupBy(col("dst").as("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      sinceTrunc += 1
      if (sinceTrunc >= 4) {
        lbl = next.localCheckpoint()
        lastCkpt.foreach(graft.ops.DedupOps.releaseTruncated)
        lastCkpt = Some(lbl)
        sinceTrunc = 0
      } else lbl = next
    }
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /**
   * Closed-form ordinary least squares per corpus source — the
   * regression-as-aggregation staple every warehouse ships
   * (REGR_SLOPE / REGR_INTERCEPT / REGR_R2), fit here to the
   * tokens-vs-characters scaling of each document source (slope ≈
   * tokens per character ≈ 1/avg-word-length; r² ≈ 0.99 on the
   * corpus — a real signal, not noise): all six sufficient
   * statistics (n, Σx, Σy, Σxx, Σxy, Σyy) reduce in ONE two-phase
   * hash aggregate over exact integer inputs (x = n_chars,
   * y = whitespace token count; the cross products accumulate in
   * DECIMAL so the sums are exact and order-independent at any
   * scale — Σy² overflows int64 past ~10⁵ rows/group), so the pass
   * is a single corpus scan and the shuffle carries six numbers per
   * group. The normal-equation quotients are then floored double
   * ratios of those exactly-summed statistics (the graphPagerank
   * micro-unit device: IEEE ops on identical inputs in identical
   * order — the oracle spells the same parenthesization).
   */
  def qLinreg(spark: SparkSession, sfDir: String): DataFrame =
    linregOf(Tables.documents(spark, sfDir).select(
      col("source"),
      col("n_chars").cast("decimal(18,0)").as("x"),
      graft.ops.TextAnalyticsOps.wsTokenCount(col("text"))
        .cast("decimal(18,0)").as("y")), "source")

  /** The six OLS sufficient-statistic aggregates over
   *  (x: decimal, y: decimal) — DECIMAL state (exact,
   *  order-independent, streaming-mergeable), cast to double only at
   *  output. Shared by [[linregOf]] and the live
   *  `StreamOps.linregStream` so batch and stream cannot drift. */
  private[graft] def linregSumExprs: Seq[org.apache.spark.sql.Column] =
    Seq(
      count(lit(1)).as("n"),
      count(lit(1)).cast("double").as("nd"),
      sum(col("x")).cast("double").as("sxd"),
      sum(col("y")).cast("double").as("syd"),
      sum(col("x") * col("x")).cast("double").as("sxxd"),
      sum(col("x") * col("y")).cast("double").as("sxyd"),
      sum(col("y") * col("y")).cast("double").as("syyd"))

  /** The normal-equation quotient tail over a sums frame — the ONE
   *  definition of the floored double ratios (shared batch/stream). */
  private[graft] def linregQuotients(s: DataFrame, key: String)
      : DataFrame = {
    val d = s
      .withColumn("numx", (col("nd") * col("sxyd")) - (col("sxd") * col("syd")))
      .withColumn("denx", (col("nd") * col("sxxd")) - (col("sxd") * col("sxd")))
      .withColumn("deny", (col("nd") * col("syyd")) - (col("syd") * col("syd")))
    // TOTAL over degenerate groups (one row, or constant x/y): the
    // fit is undefined there — emit NULL, never an ANSI
    // divide-by-zero crash (a live monitor's first tiny trigger hits
    // this immediately; the identical CASE guards the oracle)
    val xVaries = col("denx") =!= lit(0.0)
    d.select(col(key), col("n"),
      when(xVaries,
        floor((col("numx") / col("denx")) * lit(1000000.0)))
        .cast("bigint").as("slope_micro"),
      when(xVaries,
        floor(((col("syd") - ((col("numx") / col("denx")) * col("sxd"))) /
          col("nd")) * lit(1000000.0)))
        .cast("bigint").as("intercept_micro"),
      when(xVaries && col("deny") =!= lit(0.0),
        floor(((col("numx") * col("numx")) / (col("denx") * col("deny"))) *
          lit(1000000.0)))
        .cast("bigint").as("r2_micro"))
  }

  /** The OLS reduction + normal-equation quotients over any
   *  (key, x: decimal, y: decimal) frame — the [[qLinreg]] engine,
   *  factored for fixture tests and the live monitor. */
  def linregOf(b: DataFrame, key: String): DataFrame =
    linregQuotients(
      b.groupBy(key).agg(linregSumExprs.head, linregSumExprs.tail: _*),
      key)
}
