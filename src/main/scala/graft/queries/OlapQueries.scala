package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** OLAP / analytics operators around the log (SURVEY §2b).
  *
  * Conventions shared with the DuckDB oracles:
  *  - every floating aggregate is `round(x, 4)` (inputs have ≤4 exact
  *    decimal digits, so rounding is engine-stable),
  *  - timestamps are emitted as µs-since-epoch BIGINTs,
  *  - every query has a total deterministic ORDER BY.
  *
  * Scale notes: dimension sides of joins are `broadcast()`; windows
  * partition by high-cardinality keys; no driver-side loops anywhere.
  */
object OlapQueries {

  import graft.operators.SortUtil.sortSmall

  private def revenue: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(revenue), 4).as("sum_disc_price"),
        round(sum(revenue * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .transform(sortSmall(_, col("l_returnflag"), col("l_linestatus")))

  def q3Join(s: SparkSession, d: String): DataFrame = {
    val cust = Tables(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    Tables(s, d, "lineitem")
      .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey")
      .agg(
        round(sum(revenue), 4).as("revenue"),
        max(Tables.tsUsOf(col("o_orderdate"))).as("o_orderdate_us"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: revenue by nation, suppliers and customers
    * co-national, one region. All dims broadcast — lineitem never moves
    * except for the final small aggregation. */
  def q5Join(s: SparkSession, d: String): DataFrame = {
    val nation = Tables(s, d, "nation")
    val region = Tables(s, d, "region").filter(col("r_name") === "ASIA")
    val nr = broadcast(
      nation.join(region, col("n_regionkey") === col("r_regionkey")))
    Tables(s, d, "lineitem")
      .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(
        broadcast(Tables(s, d, "customer")),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(nr, col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(revenue), 4).as("revenue"))
      .transform(sortSmall(_, col("revenue").desc, col("n_name")))
  }

  def qTopkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables(s, d, "part")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("p_brand", "rank", "p_partkey", "p_name", "p_retailprice")
      .transform(sortSmall(_, col("p_brand"), col("rank")))
  }

  def qRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("running", round(sum("value").over(w), 2))
      .select("event_id", "user_id", "running")
      .orderBy("event_id")
  }

  val SessionGapUs = 1800000000L // 30 min

  /** THE session definition (one place — qSessionize, qJourneys, and
    * any future session consumer must agree): a > [[SessionGapUs]]
    * silence starts a new session; lag + cumulative-sum-of-boundaries,
    * two windows on one (user_id, ts) partitioning = a single
    * shuffle. Appends `session_id` per (user_id). */
  private def sessionized(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn(
        "boundary",
        when(
          col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > SessionGapUs,
          1L).otherwise(0L))
      .withColumn("session_id", sum("boundary").over(run))
  }

  /** Gap-based sessionization — see [[sessionized]] for the shared
    * definition and its single-shuffle shape. */
  def qSessionize(s: SparkSession, d: String): DataFrame = {
    sessionized(Tables.events(s, d))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("session_start_us"),
        max("ts_us").as("session_end_us"),
        round(sum("value"), 2).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Session entry/exit/bounce report — which event types OPEN
    * sessions, which CLOSE them, and how often an opener is the whole
    * session (bounce): the standard landing/exit-page analysis, on the
    * shared [[sessionized]] definition. First/last events come from
    * two row_numbers + the session size on ONE (user, session)
    * partitioning — a single exchange; the per-type rollup is
    * type-bounded; bounce rate is one IEEE division of exact counts. */
  def qEntryExit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "session_id")
    val wa = w.orderBy("ts_us", "event_id")
    val wd = w.orderBy(col("ts_us").desc, col("event_id").desc)
    val marked = sessionized(Tables.events(s, d))
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(w))
    val entries = marked
      .filter(col("rn_a") === 1)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_entries"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounces"))
    val exits = marked
      .filter(col("rn_d") === 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_exits"))
    entries
      .join(exits, Seq("event_type"), "full_outer")
      .select(
        col("event_type"),
        coalesce(col("n_entries"), lit(0L)).as("n_entries"),
        coalesce(col("n_exits"), lit(0L)).as("n_exits"),
        coalesce(col("n_bounces"), lit(0L)).as("n_bounces"),
        when(
          coalesce(col("n_entries"), lit(0L)) > 0,
          floor(
            coalesce(col("n_bounces"), lit(0L)).cast("double") /
              col("n_entries").cast("double") * 1000000.0d + 0.5d) / 1000000.0d)
          .as("bounce_rate"))
      .transform(sortSmall(_, col("event_type")))
  }

  val DebounceGapUs = 600000000L // 10 min

  /** Burst throttling (debounce): within each (user_id, event_type)
    * stream, keep an event only if its predecessor is > 10 min older
    * (or it is the first) — the standard duplicate-click / retry-storm
    * suppressor. One lag over one (user_id, event_type) partitioning =
    * a single shuffle; the filter is a narrow post-window predicate.
    * (This is the previous-occurrence rule, expressible as one window
    * in any engine; the last-KEPT-occurrence rule is a sequential
    * recurrence — that variant is the streaming
    * [[graft.streaming.StreamLog.debounce]], where per-key state makes
    * it natural.) */
  def qDebounce(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .filter(col("prev_us").isNull || col("ts_us") - col("prev_us") > DebounceGapUs)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("ts_us"),
        (col("ts_us") - col("prev_us")).as("gap_us"))
      .orderBy("event_id")
  }

  /** Top session journeys — the free-form cousin of [[qFunnel]]: every
    * 30-min-gap session (same boundary definition as [[qSessionize]])
    * collapsed to its ordered event-type path, then the 20 most common
    * paths. The path HOF runs once per SESSION over a short array, not
    * per event (the interpreted-HOF trap only bites row-hot kernels);
    * the top-20 head is TakeOrderedAndProject — no global sort. */
  def qJourneys(s: SparkSession, d: String): DataFrame = {
    sessionized(Tables.events(s, d))
      .groupBy("user_id", "session_id")
      .agg(
        array_join(
          transform(
            array_sort(
              collect_list(
                struct(col("ts_us"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(20)
      .transform(sortSmall(_, desc("n_sessions"), col("path")))
  }

  /** Tumbling 1-hour windows, expressed as epoch-µs bucket arithmetic so
    * it is identical over both physical ts encodings and in the oracle. */
  def qWindowTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn(
        "window_start_us",
        expr("(ts_us DIV 3600000000) * 3600000000"))
      .groupBy("window_start_us", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("window_start_us", "event_type")

  /** Sliding 1-hour windows every 15 minutes, as explicit bucket
    * arithmetic (each event belongs to 4 overlapping windows — the
    * explode-then-aggregate shape Spark's own `window(ts, len, slide)`
    * compiles to, but engine-portable µs arithmetic for the oracle). */
  def qWindowSliding(s: SparkSession, d: String): DataFrame = {
    val slide = 900000000L // 15 min in µs
    val len = 3600000000L // 1 h
    val k = len / slide // 4 overlapping windows per event
    Tables.events(s, d)
      .withColumn("k", explode(sequence(lit(0), lit(k - 1))))
      .withColumn(
        "window_start_us",
        expr(s"(ts_us DIV $slide) * $slide") - col("k") * slide)
      .groupBy("window_start_us", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("window_start_us", "event_type")
  }

  /** As-of join: each click is matched with the user's most recent
    * strictly-prior view. Expressed as a union + last(ignoreNulls) window
    * instead of a join — one shuffle, no range-join blowup. */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "click"))
      .withColumn(
        "view_value",
        when(col("event_type") === "view", col("value")))
      .withColumn("last_view_value", last("view_value", ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(
        col("event_id"),
        col("user_id"),
        col("ts_us"),
        col("value").as("click_value"),
        col("last_view_value"))
      .orderBy("event_id")
  }

  /** Range (interval) join: every error paired with the same user's
    * purchases within ±1 h. Implemented as a time-bucket equi-join —
    * the probe side explodes to its three adjacent hour buckets, the
    * build side keeps one — so candidates are bounded per (user, hour)
    * instead of a nested-loop range predicate; the exact |Δt| filter
    * runs on candidates only. Each true pair matches in exactly one
    * bucket (the build row's own), so no dedup is needed. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val h = 3600000000L
    val ev = Tables.events(s, d)
    val e = ev
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts_us").as("e_ts"))
      .withColumn(
        "bucket",
        explode(
          array(
            expr(s"e_ts DIV $h - 1"),
            expr(s"e_ts DIV $h"),
            expr(s"e_ts DIV $h + 1"))))
    val p = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us").as("p_ts"))
      .withColumn("bucket", expr(s"p_ts DIV $h"))
    e.join(p, Seq("user_id", "bucket"))
      .filter(abs(col("p_ts") - col("e_ts")) <= h)
      .select(
        col("user_id"),
        col("error_id"),
        col("purchase_id"),
        (col("p_ts") - col("e_ts")).as("delta_us"))
      .orderBy("user_id", "error_id", "purchase_id")
  }

  /** Per-user inter-arrival deltas + in-user sequence — the classic
    * event-stream feature pair. Both window functions share one
    * (user_id) partitioning, so a single shuffle feeds both; first
    * event's delta is pinned to -1 (engine-portable, no NULL-ordering
    * ambiguity in the compare). */
  def qEventDeltas(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .withColumn(
        "delta_us",
        coalesce(col("ts_us") - lag("ts_us", 1).over(w), lit(-1L)))
      .withColumn("seq_in_user", row_number().over(w).cast("long"))
      .select("event_id", "user_id", "delta_us", "seq_in_user")
      .orderBy("event_id")
  }

  /** Hourly OHLC bars per event type — the classic market-data rollup
    * (open/high/low/close/volume) applied to the event stream. Open and
    * close pick the bucket's first/last row under the total
    * (ts, event_id) order, derived from two row_number windows that
    * ride ONE (bucket, type) exchange with the final aggregate; raw
    * values carry no float arithmetic, so open/high/low/close are
    * bit-exact across engines. */
  def qOhlcBars(s: SparkSession, d: String): DataFrame = {
    val e = Tables
      .events(s, d)
      .withColumn("bucket_us", expr("(ts_us DIV 3600000000) * 3600000000"))
    val wAsc = Window
      .partitionBy("bucket_us", "event_type")
      .orderBy(col("ts_us"), col("event_id"))
    val wDesc = Window
      .partitionBy("bucket_us", "event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("bucket_us", "event_type")
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("volume"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("bucket_us", "event_type")
  }

  /** Per-user time-weighted average value (TWAP): each observation is
    * weighted by its holding time — the µs until the user's next event;
    * the last observation has no duration and drops out. The weighting
    * corrects the bias plain avg() has toward burst periods. One
    * (user_id) exchange serves both the lead() window and the final
    * aggregate. Users whose whole history shares one timestamp have
    * zero span and no row. */
  def qTwap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables
      .events(s, d)
      .withColumn("next_ts", lead("ts_us", 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("dt", col("next_ts") - col("ts_us"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum("dt").as("span_us"),
        round(sum(col("value") * col("dt")) / sum(col("dt")), 4).as("twap"))
      .filter(col("span_us") > 0)
      .orderBy("user_id")
  }

  /** EMA smoothing factor — an exact binary fraction (1/4), so
    * `α·x + (1−α)·acc` is the same two IEEE operations in every
    * engine; α and 1−α both round-trip through decimal literals. */
  val EmaAlpha = 0.25

  /** Per-user exponential moving average of `value` — the recursive
    * smoother `ema_i = α·x_i + (1−α)·ema_{i−1}` (seeded with the first
    * observation), which no fixed-frame window can express. Computed as
    * a deterministic LEFT FOLD over the user's (ts, event_id)-ordered
    * value sequence (`aggregate` HOF over a sorted array ≡ DuckDB
    * `list_reduce` over `list(... ORDER BY ...)`) — identical IEEE
    * operation order in both engines, so the result is bit-exact
    * before the final display round. Scale shape: one (user_id)
    * exchange; state is one array per user, bounded by per-user
    * history (for unbounded streams the stateful streaming monitor
    * pattern in StreamLog is the right home — this is the batch
    * replay). */
  def qEma(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .groupBy("user_id")
      .agg(
        sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("value"))))
          .as("seq"))
      .select(
        col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        round(
          aggregate(
            expr("slice(seq, 2, size(seq) - 1)"),
            element_at(col("seq"), 1).getField("value"),
            (acc, x) =>
              lit(EmaAlpha) * x.getField("value") + lit(1 - EmaAlpha) * acc),
          4).as("ema"))
      .orderBy("user_id")

  /** Session transition matrix (first-order Markov chain over event
    * types): within-session (event_type → next event_type) counts and
    * row-normalized probabilities — the session-flow model behind
    * next-step prediction and funnel discovery. Rides the SAME
    * (user_id) exchange as [[sessionized]] for both the lead() window
    * and the boundary windows (lead is computed per (user, session) by
    * guarding on the session change); the transition aggregate is
    * type-pair-sized. */
  def qTransitions(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val steps = sessionized(Tables.events(s, d))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .withColumn("next_session", lead("session_id", 1).over(byUser))
      .filter(col("next_type").isNotNull && col("next_session") === col("session_id"))
    val counts = steps
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy("from_type")
    counts
      .withColumn("p", round(col("n").cast("double") / sum("n").over(totals), 6))
      .transform(sortSmall(_, col("from_type"), col("to_type")))
  }

  /** Gap-allowed sequential-pattern support (the SPAM/PrefixSpan
    * objective, Agrawal–Srikant 1995): for every length-2 and length-3
    * type pattern `a>b(>c)`, how many users' event streams contain it
    * as a SUBSEQUENCE — events of other types may fall in between,
    * which is exactly what [[qTransitions]] (consecutive steps) and
    * [[qJourneys]] (whole paths) cannot see. Repeats allowed (`a>a` =
    * two a-events at distinct times).
    *
    * NEVER materializes subsequences: containment reduces to
    * first/last-occurrence algebra — `a>b` holds iff `min_ts(a) <
    * max_ts(b)`, and `a>b>c` iff the EARLIEST b after `min_ts(a)`
    * precedes `max_ts(c)` (greedy leftmost witness; standard
    * completeness argument — if any witness triple exists, the greedy
    * one does). Cost: one per-(user, type) min/max aggregate, then
    * per-user joins bounded by |types| × user's events and |types|³ —
    * alphabet-sized fan-outs on equi-joins, linear in the corpus at any
    * scale. Output is the |types|²+|types|³ pattern table with user
    * support counts and shares. */
  def qSeqPatterns(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(col("user_id"), col("event_type").as("t"), col("ts_us"))
    val mm = ev
      .groupBy("user_id", "t")
      .agg(min("ts_us").as("mn"), max("ts_us").as("mx"))
    // The three user-keyed joins below have corpus-∝ build sides (mm is
    // user×type-sized, ev is the events table itself) — exactly the
    // non-spillable pinned-SHJ class Dedup fences: keep the fast hash
    // build only while the per-partition share fits the measured budget,
    // otherwise run unhinted (spillable SMJ, AQE converting back where
    // runtime map sizes fit). Fence unit = events rows, the LARGEST of
    // the three build sides (one metadata-cheap count).
    val pinned = graft.dedup.Dedup.shjPinned(ev.count(), s)
    val nu = ev.agg(count_distinct(col("user_id")).as("n_total"))
    val pairs = mm
      .select(col("user_id"), col("t").as("ta"), col("mn"))
      .join(
        pinned(mm.select(col("user_id"), col("t").as("tb"), col("mx"))),
        "user_id")
      .filter(col("mn") < col("mx"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_users"))
    // earliest b-event strictly after the first a-event, per (user, a, b)
    val tab = mm
      .select(col("user_id"), col("t").as("ta"), col("mn"))
      .join(
        pinned(ev.select(col("user_id"), col("t").as("tb"), col("ts_us"))),
        "user_id")
      .filter(col("ts_us") > col("mn"))
      .groupBy("user_id", "ta", "tb")
      .agg(min("ts_us").as("t_ab"))
    val triples = tab
      .join(
        pinned(mm.select(col("user_id"), col("t").as("tc"), col("mx"))),
        "user_id")
      .filter(col("t_ab") < col("mx"))
      .groupBy("ta", "tb", "tc")
      .agg(count(lit(1)).as("n_users"))
    pairs
      .select(
        lit("pair").as("kind"),
        concat_ws(">", col("ta"), col("tb")).as("pattern"),
        col("n_users"))
      .unionByName(triples.select(
        lit("triple").as("kind"),
        concat_ws(">", col("ta"), col("tb"), col("tc")).as("pattern"),
        col("n_users")))
      .crossJoin(broadcast(nu))
      .select(
        col("kind"),
        col("pattern"),
        col("n_users"),
        round(col("n_users").cast("double") / col("n_total").cast("double"), 6)
          .as("support"))
      .transform(sortSmall(_, col("kind"), col("n_users").desc, col("pattern")))
  }

  /** Percentile-rank normalization: each event's cumulative
    * distribution position within its type — the feature-scaling
    * transform that is robust to any value distribution (vs z-scores,
    * which assume normality). The (value, event_id) tiebreak makes the
    * order TOTAL, so cume_dist is row_number/n — an exact rational,
    * identical in both engines. One (event_type) exchange. */
  def qCumeDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    Tables
      .events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pct", round(cume_dist().over(w), 6))
      .orderBy("event_id")
  }

  /** Per-group least-squares trend: slope / intercept / R² of `value`
    * against time, per event type — the "is this metric drifting"
    * answer as one aggregate, no ML library. Bit-exact across engines
    * by the fixed-point pattern: x = whole seconds since the GROUP's
    * first event (int64 — centering keeps x² sums in range; at ~1e18 /
    * x² rows per group, recenter per window or coarsen the unit),
    * y = centi-units via floor(value·100), all five co-moment sums
    * exact int64, and the final normal-equation arithmetic a fixed
    * association order of exact-integer doubles. The min(ts) window
    * and the sum aggregate ride ONE (event_type) exchange. */
  def qRegression(s: SparkSession, d: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val g = Tables
      .events(s, d)
      .withColumn("t0", min("ts_us").over(byType))
      .withColumn("x", expr("(ts_us - t0) DIV 1000000"))
      .withColumn("y", floor(col("value") * 100).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val dn = col("n").cast("double")
    val (dsx, dsy) = (col("sx").cast("double"), col("sy").cast("double"))
    val num = dn * col("sxy").cast("double") - dsx * dsy
    val denx = dn * col("sxx").cast("double") - dsx * dsx
    val deny = dn * col("syy").cast("double") - dsy * dsy
    g.withColumn("slope_per_day", round(num / denx * lit(864.0), 6))
      .withColumn(
        "intercept",
        round((dsy - num / denx * dsx) / dn / lit(100.0), 4))
      .withColumn("r2", round(num * num / (denx * deny), 6))
      .select("event_type", "n", "slope_per_day", "intercept", "r2")
      .transform(sortSmall(_, col("event_type")))
  }

  /** Benford's-law digit profile (data-quality / fraud screening):
    * first-significant-digit distribution of order totals vs the
    * log10(1+1/d) expectation. The digit is extracted from the DECIMAL
    * STRING, not via floor(log10) arithmetic — a 1-ulp log10 error at
    * a power of ten would misbin, while double→string formatting is
    * shortest-round-trip-identical in both engines. One narrow
    * aggregate to 9 rows; the share window runs over the 9-row
    * statistic. */
  def qBenford(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .filter(col("o_totalprice") > 0)
      .select(
        regexp_extract(col("o_totalprice").cast("string"), "[1-9]", 0)
          .cast("long")
          .as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "p",
        round(col("n").cast("double") / sum("n").over(Window.partitionBy()), 6))
      .withColumn(
        "benford_p",
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .transform(sortSmall(_, col("digit")))

  /** Marketing attribution: every purchase credited to the user's
    * FIRST and LAST preceding click (first-touch / last-touch — the
    * two standard models, emitted side by side), plus the µs lag from
    * the last click. One (user_id) exchange serves both running
    * `first/last(..., ignoreNulls)` windows — no self-join of the
    * event stream against itself, which is the naive O(clicks ×
    * purchases) shape this window formulation replaces. Purchases with
    * no prior click drop (nothing to attribute). */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickTs = when(col("event_type") === "click", col("ts_us"))
    Tables
      .events(s, d)
      .withColumn("first_click_id", first(clickId, ignoreNulls = true).over(w))
      .withColumn("last_click_id", last(clickId, ignoreNulls = true).over(w))
      .withColumn("last_click_ts", last(clickTs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click_id").isNotNull)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        col("first_click_id"),
        col("last_click_id"),
        (col("ts_us") - col("last_click_ts")).as("last_click_lag_us"))
      .orderBy("purchase_id")
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * fractional-credit upgrade of [[qAttribution]]'s first/last-touch
    * report: every click since the user's PREVIOUS purchase shares the
    * next purchase's credit — 40% first, 40% last, the middle 20%
    * split evenly (k=1 → 100%, k=2 → 50/50). Credit resets at each
    * purchase, so every click funds at most one purchase and the
    * output is click-bounded, never clicks×purchases. One (user_id)
    * exchange end to end: the exclusive running purchase count forms
    * the credit groups, the in-group rank/size windows reuse the same
    * partitioning, and the click→purchase join keys on (user, group).
    * Weights are identical double literals/divisions in both engines →
    * engine-exact before round(6). */
  def qAttributionU(s: SparkSession, d: String): DataFrame = {
    val base = Tables
      .events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
    val order = Seq(col("ts_us"), col("event_id"))
    // purchases BEFORE this row = credit-group id (exclusive frame)
    val prevPurchases = count(when(col("event_type") === "purchase", 1))
      .over(
        Window
          .partitionBy("user_id")
          .orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, -1))
    val grouped = base.withColumn("grp", coalesce(prevPurchases, lit(0L)))
    val clicks = grouped.filter(col("event_type") === "click")
    val purchases = grouped
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("grp"),
        col("event_id").as("purchase_id"))
    val gw = Window.partitionBy("user_id", "grp")
    val rankW = gw.orderBy(order: _*)
    val ranked = clicks
      .withColumn("pos", row_number().over(rankW).cast("long"))
      .withColumn("k", count(lit(1)).over(gw))
    val credit = when(col("k") === 1, lit(1.0d))
      .when(col("k") === 2, lit(0.5d))
      .when(col("pos") === 1 || col("pos") === col("k"), lit(0.4d))
      .otherwise(lit(0.2d) / (col("k") - 2).cast("double"))
    val position = when(col("k") === 1, lit("only"))
      .when(col("pos") === 1, lit("first"))
      .when(col("pos") === col("k"), lit("last"))
      .otherwise(lit("middle"))
    ranked
      .join(purchases, Seq("user_id", "grp"))
      .select(
        col("purchase_id"),
        col("event_id").as("click_id"),
        col("user_id"),
        position.as("position"),
        round(credit, 6).as("credit"))
      .orderBy("purchase_id", "click_id")
  }

  /** Half-life of [[qAttributionDecay]]'s touch credit (30 min —
    * the session gap, so credit roughly halves per session-width of
    * staleness). */
  val DecayHalflifeUs = 1800000000L

  /** Time-decay multi-touch attribution — the fourth standard model
    * beside first/last ([[qAttribution]]) and U-shaped
    * ([[qAttributionU]]): each click's credit halves per
    * [[DecayHalflifeUs]] of age at purchase time. The decay weight is
    * 2^(20−min(age_buckets, 20)) — an EXACT int64 (dyadic weights
    * chosen precisely so no pow/exp ulp can differ between engines);
    * the per-purchase normalizer is an integer window sum on the same
    * (user, group) partitioning the credit groups already use, and
    * each credit is ONE IEEE division. Click-bounded output, one
    * (user) exchange end to end. */
  def qAttributionDecay(s: SparkSession, d: String): DataFrame = {
    val base = Tables
      .events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
    val order = Seq(col("ts_us"), col("event_id"))
    val prevPurchases = sum((col("event_type") === "purchase").cast("long"))
      .over(
        Window
          .partitionBy("user_id")
          .orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, -1))
    val grouped = base.withColumn("grp", coalesce(prevPurchases, lit(0L)))
    val clicks = grouped.filter(col("event_type") === "click")
    val purchases = grouped
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("grp"),
        col("event_id").as("purchase_id"),
        col("ts_us").as("p_ts"))
    val joined = clicks
      .join(purchases, Seq("user_id", "grp"))
      .withColumn(
        "age_buckets",
        least(expr(s"(p_ts - ts_us) DIV $DecayHalflifeUs"), lit(20L)))
      .withColumn(
        "w_int",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(20 - age_buckets AS INT))"))
    val gw = Window.partitionBy("user_id", "grp")
    joined
      .withColumn("tot_w", sum("w_int").over(gw))
      .select(
        col("purchase_id"),
        col("event_id").as("click_id"),
        col("user_id"),
        col("age_buckets"),
        (floor(
          col("w_int").cast("double") / col("tot_w").cast("double") *
            1000000.0d + 0.5d) / 1000000.0d).as("credit"))
      .orderBy("purchase_id", "click_id")
  }

  /** Absorption-solve iterations and quantization for
    * [[qAttributionMarkov]]: 60 fixed steps on int64 probabilities at
    * 1e-10 units — enough for geometric convergence far below the
    * 6-dp display, and small enough that count·p products stay in
    * int64 at any SF this library meets (counts ≤ ~10⁶ · 10¹⁰ < 2⁶³). */
  val MarkovIters = 60
  val MarkovQ = 10000000000L

  /** Data-driven (Markov removal-effect) attribution — the FIFTH model
    * of the family, the one the heuristics (first/last, U-shaped,
    * time-decay) approximate: journeys = each user's touch sequence per
    * purchase credit-group, fitted as a first-order Markov chain
    * (start → touches → conv/null), channel value = its REMOVAL EFFECT
    * 1 − P_removed(conv)/P(conv) where removal redirects the channel to
    * the null absorber (Anderl et al. 2014). Shares normalize removal
    * effects to 1.
    *
    * Scale/parity shape: the corpus does ONE (user) exchange to build
    * credit groups and transitions, folds to the ≤(states+2)²
    * transition-count matrix — the ONLY thing the driver collects — and
    * the absorption solve runs driver-side (the qPcaTop/k-means
    * control-plane pattern): 60 fixed iterations on int64-quantized
    * probabilities with per-term integer division, so every engine
    * replays bit-equal state (the DuckDB oracle does the same solve as
    * a recursive CTE over a scenario-expanded transition table —
    * integer sums are order-free, no float fold to replay). */
  def qAttributionMarkov(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .filter(col("event_type").isin("view", "click", "signup", "error", "purchase"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val g = ev
      .withColumn(
        "grp",
        count(when(col("event_type") === "purchase", 1))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
    val gg = g
      .groupBy("user_id", "grp")
      .agg(
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"),
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("n_touch"))
    val byJourney =
      Window.partitionBy("user_id", "grp").orderBy(col("ts_us"), col("event_id"))
    val seqd = g
      .filter(col("event_type") =!= "purchase")
      .withColumn("nxt", lead("event_type", 1).over(byJourney))
      .withColumn("rn", row_number().over(byJourney))
    val touchTrans = seqd
      .join(gg.hint("shuffle_hash"), Seq("user_id", "grp"))
      .select(
        col("event_type").as("src"),
        coalesce(
          col("nxt"),
          when(col("conv") === 1, lit("conv")).otherwise(lit("null"))).as("dst"))
    val startTrans = seqd
      .filter(col("rn") === 1)
      .select(lit("start").as("src"), col("event_type").as("dst"))
    val directConv = gg
      .filter(col("conv") === 1 && col("n_touch") === 0L)
      .select(lit("start").as("src"), lit("conv").as("dst"))
    val tc = touchTrans
      .unionByName(startTrans)
      .unionByName(directConv)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    // ---- driver-side absorption solve (statistic-sized state) ----
    val tot: Map[String, Long] =
      tc.groupBy(_._1._1).map { case (src, m) => src -> m.values.sum }
    val touchStates = (tc.keysIterator.flatMap(k => Seq(k._1, k._2)).toSet --
      Set("start", "conv", "null")).toSeq.sorted
    def solve(removed: Option[String]): Long = {
      val transient = ("start" +: touchStates).filterNot(removed.contains)
      var p = Map("conv" -> MarkovQ, "null" -> 0L) ++
        ("start" +: touchStates).map(_ -> 0L)
      for (_ <- 1 to MarkovIters) {
        val next = transient.map { st =>
          val ct = tot.getOrElse(st, 0L)
          st -> (if (ct == 0L) 0L
                 else
                   tc.iterator
                     .filter(_._1._1 == st)
                     .map { case ((_, dst), c) => c * p(dst) / ct }
                     .sum)
        }.toMap
        p = p ++ next ++ removed.map(_ -> 0L)
      }
      p("start")
    }
    val pb = solve(None)
    val pConv =
      math.floor(pb.toDouble / MarkovQ.toDouble * 1000000.0d + 0.5d) / 1000000.0d
    val reqs = touchStates.map { st =>
      val req = if (pb == 0L) 0L else (pb - solve(Some(st))) * 1000000L / pb
      st -> req
    }
    val sreq = reqs.map(_._2).sum
    val out = reqs.map { case (st, req) =>
      val share =
        if (sreq == 0L) 0.0d
        else
          math.floor(req.toDouble / sreq.toDouble * 1000000.0d + 0.5d) / 1000000.0d
      (st, pConv, req.toDouble / 1000000.0d, share)
    }
    import s.implicits._
    out.toDF("state", "p_conv", "removal_effect", "share").orderBy("state")
  }

  /** Coalition-value quantization for [[qAttributionShapley]]: 1e-12
    * conversion-rate units — conv·Q products stay far inside int64 at
    * any journey count this library meets (≤ ~10⁶ · 10¹² < 2⁶³ / 8). */
  val ShapleyQ = 1000000000000L

  /** Shapley-value attribution (Shapley 1953; Zhao et al. 2018 for the
    * marketing formulation) — the SIXTH attribution model and the other
    * data-driven one beside [[qAttributionMarkov]]: each journey
    * contributes its touched-channel SET, the coalition value
    * v(S) = conversion rate of journeys reaching only channels ⊆ S, and
    * a channel's credit is its exact Shapley value
    * φ_c = Σ_S |S|!(n−1−|S|)!/n! · (v(S∪c) − v(S)).
    *
    * INTEGER-EXACT: v(S) is quantized to int64 1e-12 units via integer
    * DIV, factorial weights are integers with n! factored out, so φ·n!·Q
    * is an exact integer in BOTH engines — and the Shapley efficiency
    * identity Σφ = v(N) − v(∅) holds EXACTLY in those integers
    * (spec-asserted), not just approximately.
    *
    * Scale shape: ONE (user) exchange builds credit-group journeys;
    * each folds to a ≤2ⁿ-entry (mask, tot, conv) table (n = |channels|,
    * 4 here), and everything after — subset sums, the coalition grid,
    * the marginal-contribution join — is bounded 2ⁿ×2ⁿ broadcast
    * products over statistic tables, never the corpus. */
  def qAttributionShapley(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .filter(col("event_type").isin("view", "click", "signup", "error", "purchase"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val g = ev.withColumn(
      "grp",
      count(when(col("event_type") === "purchase", 1))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
    val chans = g
      .filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("ch"))
      .distinct()
      .withColumn("rk", dense_rank().over(Window.orderBy("ch")))
      .withColumn("bit", expr("shiftleft(CAST(1 AS BIGINT), CAST(rk - 1 AS INT))"))
    val nc = chans.count().toInt // channel-alphabet-sized control plane
    require(nc <= 5, s"Shapley coalition grid is 2^n — got n=$nc channels")
    val factN = (1 to nc).product.toLong
    // per-journey touched mask (+ conversion flag): purchases carry no
    // bit (left join misses → null → bit_or skips), touchless journeys
    // coalesce to the empty coalition
    val jm = g
      .join(broadcast(chans), col("event_type") === col("ch"), "left")
      .groupBy("user_id", "grp")
      .agg(
        coalesce(expr("bit_or(bit)"), lit(0L)).as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .groupBy("mask")
      .agg(count(lit(1)).as("tot"), sum("conv").as("conv"))
    // coalition table: v(S) over journeys with mask ⊆ S (subset check =
    // bounded non-equi broadcast product of two ≤2^n-row tables)
    val coalitions = s
      .range(0L, 1L << nc)
      .select(col("id").as("m"))
      .join(broadcast(jm), expr("(mask & m) = mask"), "left")
      .groupBy("m")
      .agg(
        coalesce(sum("tot"), lit(0L)).as("tot"),
        coalesce(sum("conv"), lit(0L)).as("conv"))
      .withColumn(
        "vq",
        when(col("tot") > 0, expr(s"(conv * $ShapleyQ) DIV tot")).otherwise(0L))
      .select("m", "vq")
    val fact = (k: Column) => // n ≤ 5 ⇒ factorials to 4! suffice
      when(k <= 1, 1L).when(k === 2, 2L).when(k === 3, 6L).otherwise(24L)
    val without = chans
      .join(broadcast(coalitions), expr("(m & bit) = 0"))
      .select(col("ch"), col("bit"), col("m").as("s0"), col("vq").as("vq0"))
    val phi = without
      .join(
        broadcast(coalitions.select(col("m").as("s1"), col("vq").as("vq1"))),
        expr("s1 = (s0 | bit)"))
      .withColumn("w", fact(expr("bit_count(s0)")) * fact(lit(nc.toLong) - 1L - expr("bit_count(s0)")))
      .groupBy("ch")
      .agg(sum(col("w") * (col("vq1") - col("vq0"))).as("phi_q"))
    val tot = phi.agg(sum("phi_q").as("sum_q"))
    phi
      .crossJoin(broadcast(tot))
      .select(
        col("ch").as("state"),
        (floor(
          col("phi_q").cast("double") / lit((factN * ShapleyQ).toDouble) *
            1000000.0d + 0.5d) / 1000000.0d).as("shapley_value"),
        when(col("sum_q") =!= 0L,
          floor(
            col("phi_q").cast("double") / col("sum_q").cast("double") *
              1000000.0d + 0.5d) / 1000000.0d).otherwise(0.0d).as("share"))
      .orderBy("state")
  }

  /** RFM segmentation (recency / frequency / monetary quintiles): one
    * per-user aggregate, then three ntile(5) rankings under TOTAL
    * deterministic orders (desc metric, user_id tiebreak) combined
    * into the classic 3-digit segment code. Recency ranks on the raw
    * last-event timestamp — monotone in any "days since" definition,
    * so no corpus-max cross join is needed. The ntile windows run over
    * the USER-sized aggregate (a statistic table), not the event
    * stream; monetary is rounded BEFORE ranking so the order is
    * engine-stable. */
  def qRfm(s: SparkSession, d: String): DataFrame = {
    def nt(order: Column*) = ntile(5).over(Window.orderBy(order: _*)).cast("long")
    Tables
      .events(s, d)
      .groupBy("user_id")
      .agg(
        max("ts_us").as("last_ts_us"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("monetary"))
      .withColumn("r", nt(col("last_ts_us").desc, col("user_id")))
      .withColumn("f", nt(col("n_events").desc, col("user_id")))
      .withColumn("m", nt(col("monetary").desc, col("user_id")))
      .withColumn("segment", col("r") * 100 + col("f") * 10 + col("m"))
      .orderBy("user_id")
  }

  /** Daily cohort retention: cohort = the user's first event day, one
    * cell per (cohort_day, day_offset) counting distinct returning
    * users. Shape at scale: the first-day aggregate and the re-join
    * shuffle on user_id; the cell count uses the two-phase distinct
    * (distinct (cohort, offset, user) triples shrink map-side before
    * the count — user activity is the skewed key). */
  def qRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(
        col("user_id"),
        to_date(timestamp_micros(col("ts_us"))).as("day"))
    val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(first, "user_id")
      .select(
        col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .transform(sortSmall(_, col("cohort_day"), col("day_offset")))
  }

  /** Grouped second-moment statistics (corr / covar / stddev) — one
    * map-side-combinable aggregate over the fact table; both engines
    * use the same single-pass co-moment recurrences, stable under
    * round(4). */
  def qGroupStats(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(corr("l_quantity", "l_extendedprice"), 4).as("corr_qty_price"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4)
          .as("covar_qty_price"),
        round(stddev_samp("l_discount"), 4).as("stddev_disc"))
      .transform(sortSmall(_, col("l_returnflag")))

  /** Semi-structured extraction: pull a typed field out of the JSON
    * `props` column and aggregate it. `get_json_object` is a codegen'd
    * path evaluation per row — no UDF, no schema inference pass; at
    * scale this is the "extract one field from a trillion JSON blobs"
    * shape, where inferring/parsing full JSON structs would be the
    * mistake. */
  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_parsed"),
        sum("k").as("sum_k"),
        round(avg("k"), 4).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .transform(sortSmall(_, col("event_type")))

  /** Order-exact conversion funnel (view → click → purchase): a click
    * counts only after the user's first view, a purchase only after
    * that first qualifying click. Three stacked running-min windows
    * share ONE (user_id) sort; the per-user flag rollup groups on the
    * same key, so the whole funnel is a single shuffle of the events
    * table. */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flag = (c: Column) => max(when(c.isNotNull, 1).otherwise(0))
    Tables.events(s, d)
      .withColumn(
        "t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn(
        "t_click",
        min(when(col("event_type") === "click" && col("t_view").isNotNull, col("ts_us"))).over(w))
      .withColumn(
        "t_purchase",
        min(when(col("event_type") === "purchase" && col("t_click").isNotNull, col("ts_us"))).over(w))
      .groupBy("user_id")
      .agg(
        flag(col("t_view")).as("v"),
        flag(col("t_click")).as("c"),
        flag(col("t_purchase")).as("p"))
      .agg(
        count(lit(1)).as("n_users"),
        sum("v").cast("long").as("reached_view"),
        sum("c").cast("long").as("reached_click"),
        sum("p").cast("long").as("reached_purchase"))
  }

  /** Exact interpolated percentiles per group (both engines implement
    * the same lo + (hi−lo)·frac linear interpolation over sorted
    * doubles, so values match bit-for-bit before rounding). */
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .transform(sortSmall(_, col("event_type")))

  /** ROLLUP over the Q1 grouping — subtotal + grand-total rows. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .transform(sortSmall(_, col("l_returnflag"), col("l_linestatus")))

  /** CUBE over return-flag × line-status with an explicit grouping id —
    * all four grouping sets in ONE pass: Spark expands the input once
    * (Expand operator) and runs a single partial+final hash aggregate,
    * instead of four scans. Same measures as qRollup; the operator under
    * test is the multi-set expansion + grouping-id disambiguation. */
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("long").as("gid"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        count(lit(1)).as("n"))
      .transform(sortSmall(_, col("gid"), col("l_returnflag"), col("l_linestatus")))

  /** Explicit GROUPING SETS — the general form [[qRollup]]/[[qCube]]
    * are shorthands of: daily type totals, per-type totals, and per-day
    * totals in ONE Expand + ONE hash aggregate (three grouping sets,
    * not the cube's four — the empty set is deliberately absent, and
    * the plan should not pay for it). */
  def qGroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_type"),
        to_date(timestamp_micros(col("ts_us"))).as("day"),
        col("value"))
      .groupingSets(
        Seq(
          Seq(col("event_type"), col("day")),
          Seq(col("event_type")),
          Seq(col("day"))),
        col("event_type"),
        col("day"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"))
      .transform(sortSmall(_, col("gid"), col("event_type"), col("day")))

  /** SCD-2 temporal view of the changelog: each user event's value is
    * valid from its timestamp until that user's next event (open
    * interval = still current) — the slowly-changing-dimension shape a
    * warehouse derives from an event log, and the batch analog of
    * as-of lookups ([[qAsofJoin]] queries a point; this materializes
    * every interval). One lead window on one (user_id) exchange. */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us").as("valid_from_us"), col("value"))
      .withColumn(
        "valid_to_us",
        lead("valid_from_us", 1).over(
          Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy("event_id")
  }

  /** Ratio-to-report (percent of total): each event type's share of
    * its day's traffic. Aggregate FIRST (map-side combinable, output ∝
    * days × types), then the total-per-day window runs over the tiny
    * aggregate — never a window over the raw corpus. One division per
    * output row keeps the float engine-stable. */
  def qShare(s: SparkSession, d: String): DataFrame = {
    val byDay = Window.partitionBy("day")
    Tables.events(s, d)
      .select(to_date(timestamp_micros(col("ts_us"))).as("day"), col("event_type"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "share",
        round(col("n").cast("double") / sum("n").over(byDay), 6))
      .transform(sortSmall(_, col("day"), col("event_type")))
  }

  /** Pivot event types into columns (explicit value list, so the plan —
    * and the oracle — is a fixed set of conditional aggregates). */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  def qDistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_users"))
      .transform(sortSmall(_, col("event_type")))

  /** HLL sketch distinct — approximate by design, so no SQL oracle
    * (driver records a rows-only check; PlanSpec bounds the error at 5%
    * vs [[qDistinctUsers]]). rsd 0.016 → 2^13 registers: measured ~2×
    * cheaper than rsd 0.01's 2^14 registers (the merge of
    * groups×partitions register banks dominates, not the per-row
    * update) while keeping a ~3σ margin under the 5% spec bound. */
  def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.016).as("approx_users"))
      .transform(sortSmall(_, col("event_type")))

  /** Rank-error budget for [[qApproxPercentiles]]: accuracy =
    * 10000 → rank error ≤ 1/10000 of the group (Greenwald–Khanna
    * sketch). Like [[qApproxDistinct]], the scale complement of an
    * exact operator ([[qPercentiles]] fully sorts each group's values;
    * the sketch keeps a bounded summary per task and merges) —
    * sketch contents are not engine-portable, so the guard is a
    * rank-error bound spec (PlanSpec) rather than a hash oracle. */
  val PctAccuracy = 10000

  /** Sketch-rollup (pre-aggregation) pattern: per-day HLL sketches of
    * distinct users, merged into a per-type global estimate — the shape
    * of a 100 TB dashboard, where daily sketch tables are SMALL
    * mergeable summaries (one pass over each day's partition, stored ∝
    * days × groups × 2^lgK bytes) and any date-range distinct count is
    * a union of sketches, never a re-scan of raw data. DataSketches
    * HLL buffers are not engine-portable → rows-only at the driver
    * gate; PlanSpec bounds the estimate against the exact count. */
  def qHllRollup(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .withColumn("day", expr("date_trunc('DAY', timestamp_micros(ts_us))"))
      .groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .groupBy("event_type")
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        count(lit(1)).as("n_days"))
      .transform(sortSmall(_, col("event_type")))

  def qApproxPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        expr(s"approx_percentile(value, 0.5, $PctAccuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.95, $PctAccuracy)").as("p95"),
        expr(s"approx_percentile(value, 0.99, $PctAccuracy)").as("p99"))
      .transform(sortSmall(_, col("event_type")))

  def qSemiJoin(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "customer")
      .join(Tables(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Orders with no line shipped after mid-2000 (anti join against a
    * filtered fact subset — non-empty at every SF, unlike raw-key antis
    * on this dense star schema). */
  def qAntiJoin(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .join(
        Tables(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("2000-06-01").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"),
        "left_anti")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Z-order (Morton) key over (user_id, event_id) — the clustering
    * key [[graft.sources.Layout.writeZOrdered]] lays files out by, so
    * the file-level manifest prunes on BOTH dimensions (LayoutSpec
    * proves the skipping). The first 50 events along the Z-curve.
    * `zvalue` interleaves the LOW 31 bits of each dimension (a 62-bit
    * long): ids ≥ 2^31 alias, so the head takes an explicit
    * (z, event_id) tiebreak — deterministic in both engines even where
    * z collides — and clustering quality above 2^31 degrades gracefully
    * rather than erroring (the usual fix at that scale is z-ordering on
    * rank-bucketed dimensions, [[graft.sources.Layout.zvalueRanked]]). */
  def qZorder(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(
        col("event_id"),
        col("user_id"),
        graft.sources.Layout.zvalue(col("user_id"), col("event_id")).as("z"))
      .orderBy("z", "event_id")
      .limit(50)
      .transform(sortSmall(_, col("z"), col("event_id")))

  val HilbertBits = 16

  /** Hilbert curve distance over (user_id, event_id) — [[qZorder]]'s
    * locality upgrade (consecutive positions are always grid
    * neighbors); the oracle replays the identical unrolled
    * quadrant walk as one CTE per bit. */
  def qHilbert(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(
        col("event_id"),
        col("user_id"),
        graft.sources.Layout
          .hilbertValue(col("user_id"), col("event_id"), HilbertBits)
          .as("h"))
      .orderBy("h", "event_id")
      .limit(50)
      .transform(sortSmall(_, col("h"), col("event_id")))

  /** Per-group decile banding (equi-depth histogram / feature
    * bucketing): `ntile(10)` over a TOTAL order (value, event_id) so
    * bucket membership is deterministic in every engine, then one
    * aggregate per (group, decile). The window's full per-group sort is
    * inherent to exact equi-depth banding; the scale alternative is the
    * sketch path ([[qApproxPercentiles]]) when rank error is
    * acceptable. */
  def qNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    Tables
      .events(s, d)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("event_type", "decile")
      .agg(
        count(lit(1)).as("n"),
        round(min("value"), 4).as("lo"),
        round(max("value"), 4).as("hi"),
        round(sum("value"), 2).as("sum_value"))
      .transform(sortSmall(_, col("event_type"), col("decile")))
  }

  /** Nearest-event temporal join: each click matched to the CLOSEST
    * view of the same user in either time direction (as-of is the
    * backward half of this). Both halves come from the same
    * (user_id)-partitioned order — last-view-before via a preceding
    * frame, first-view-after via a following frame — so the whole
    * operator is ONE shuffle of the filtered events, no join at all.
    * Ties (equal |Δt|) resolve to the earlier view; Δ is signed
    * (negative = matched view precedes the click). The forward probe
    * rides the REVERSED sort with a running (unboundedPreceding, -1)
    * frame — Spark executes moving-lower-bound/unbounded-FOLLOWING
    * frames by rescanning current→end per row (O(n²) per partition),
    * while a running frame is one incremental pass; same single
    * (user_id) exchange either way, just a second sort. */
  def qNearestEvent(s: SparkSession, d: String): DataFrame = {
    val base = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val prevF = base.rowsBetween(Window.unboundedPreceding, -1)
    // strictly-later rows in event order == strictly-earlier rows under
    // the reversed (ts desc, id desc) sort; last non-null = nearest
    val nextF = Window
      .partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val viewTs = when(col("event_type") === "view", col("ts_us"))
    val viewId = when(col("event_type") === "view", col("event_id"))
    val prevOk = col("prev_ts").isNotNull
    val nextOk = col("next_ts").isNotNull
    val usePrev =
      prevOk && (!nextOk || (col("ts_us") - col("prev_ts")) <= (col("next_ts") - col("ts_us")))
    Tables
      .events(s, d)
      .filter(col("event_type").isin("view", "click"))
      .withColumn("prev_ts", last(viewTs, ignoreNulls = true).over(prevF))
      .withColumn("prev_id", last(viewId, ignoreNulls = true).over(prevF))
      .withColumn("next_ts", last(viewTs, ignoreNulls = true).over(nextF))
      .withColumn("next_id", last(viewId, ignoreNulls = true).over(nextF))
      .filter(col("event_type") === "click")
      .select(
        col("event_id"),
        col("user_id"),
        when(usePrev, col("prev_id")).otherwise(col("next_id")).as("nearest_view_id"),
        when(usePrev, col("prev_ts") - col("ts_us"))
          .otherwise(when(nextOk, col("next_ts") - col("ts_us")))
          .as("delta_us"))
      .orderBy("event_id")
  }

  private val HourUs = 3600L * 1000000L

  /** Time-grid resample + forward fill (gap-filling): an hourly grid per
    * user between that user's first and last event, carrying the last
    * observed value across empty hours. The corpus is scanned ONCE: the
    * per-(user, hour) aggregate is materialized and both the grid
    * bounds (a second, per-hour-row aggregate) and the fill join read
    * it — grid size is Σ span-hours, never users × global-span. The
    * fill itself is one (user_id)-partitioned window. */
  def qResample(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("hour", expr(s"ts_us DIV $HourUs"))
    // ONE corpus scan: the grid's per-user bounds come from the per-hour
    // aggregate (already tiny), not a second pass over events
    val perHour = ev
      .groupBy("user_id", "hour")
      .agg(
        count(lit(1)).as("n_events"),
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value")
          .as("v"))
    // r14 shape (same rewrite as [[qInterpolate]]): the forward-fill
    // state is constant across each observation's gap span, so compute
    // it at the observation rows (lead + one running frame over the
    // TINY observed table) and EMIT the dense grid by exploding each
    // span — the old explode-grid + left-join + dense-grid window pass
    // (two grid-sized shuffles) disappears; rows and values identical.
    val obsW = Window.partitionBy("user_id").orderBy("hour")
    val obs = perHour
      .withColumn("nh", lead(col("hour"), 1).over(obsW))
      .withColumn(
        "fv",
        last(col("v"), ignoreNulls = true)
          .over(obsW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    obs
      .select(
        col("user_id"),
        col("hour"),
        col("n_events"),
        col("fv"),
        explode(expr("sequence(hour, coalesce(nh - 1, hour))")).as("g"))
      .select(
        col("user_id"),
        (col("g") * HourUs).as("hour_us"),
        when(col("g") === col("hour"), col("n_events"))
          .otherwise(lit(0L))
          .as("n_events"),
        col("fv").as("last_value"))
      .orderBy("user_id", "hour_us")
  }

  /** Trailing range-frame window (rate monitoring): for every event,
    * how many events the same user produced in the preceding hour —
    * a RANGE frame over event-time µs, not a ROWS frame, so ties and
    * gaps are handled by value. Pure integer counts → exact in every
    * engine. One (user_id) shuffle; the frame is computed in a single
    * ordered pass per partition. */
  def qRollingCount(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts_us")
      .rangeBetween(-HourUs, 0)
    Tables
      .events(s, d)
      .select(
        col("event_id"),
        col("user_id"),
        col("ts_us"),
        count(lit(1)).over(w).as("n_trailing_1h"))
      .orderBy("event_id")
  }

  /** Winsorized group stats (robust aggregation): exact p05/p95 fences
    * per group, then a clamp-and-aggregate pass — outlier counts and
    * the mean before/after winsorizing. The fence table is tiny →
    * broadcast; the fact table is scanned twice (exact per-group
    * percentiles cannot be map-side combined — that is inherent, and
    * the one-pass scale alternative is `approx_percentile` fences as in
    * [[qApproxPercentiles]]). */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val stats = Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    val clamped = least(greatest(col("value"), col("lo")), col("hi"))
    Tables
      .events(s, d)
      .join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(
        round(min("lo"), 4).as("p05"),
        round(min("hi"), 4).as("p95"),
        count(when(col("value") < col("lo"), 1)).as("n_lo"),
        count(when(col("value") > col("hi"), 1)).as("n_hi"),
        round(avg("value"), 4).as("avg_raw"),
        round(avg(clamped), 4).as("avg_winsorized"))
      .transform(sortSmall(_, col("event_type")))
  }

  /** Grouped median absolute deviation (robust dispersion — the
    * outlier-resistant complement of [[qGroupStats]]' stddev and
    * [[qWinsorize]]'s trimmed means): per group, the median and the
    * MAD (median of |x − median|). Same two-pass shape as winsorize —
    * exact per-group medians cannot be map-side combined, the tiny
    * median table broadcasts back over the fact scan. (Flagging points
    * beyond a k·MAD fence is then one more broadcast-clamp pass,
    * exactly [[qWinsorize]]'s second half.) */
  def qMad(s: SparkSession, d: String): DataFrame = {
    val med = Tables
      .events(s, d)
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    Tables
      .events(s, d)
      .join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(min("med"), 4).as("median"),
        round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      .transform(sortSmall(_, col("event_type")))
  }

  /** Key-distribution profiler (skew diagnostics): the per-key count
    * histogram reduced to one summary row — cardinality, max/avg group
    * size, p50/p99 group size, the heaviest key, and the max/avg skew
    * ratio that decides whether a downstream join needs
    * [[graft.operators.Skew]] salting. Two-level aggregate: the first
    * is map-side combinable on the (possibly skewed) key, the second
    * sees one row per key. */
  def qKeyProfile(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"),
        round(avg("cnt"), 4).as("avg_cnt"),
        round(expr("percentile(cnt, 0.5)"), 4).as("p50_cnt"),
        round(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"),
        max(struct(col("cnt"), col("user_id"))).getField("user_id").as("top_key"),
        round(max("cnt") / avg("cnt"), 4).as("skew_ratio"))

  private val DayUs = 86400000000L

  /** Per-(event_type, bucket) event counts `n` of `events`, the bucket
    * column named `bucket` holding `ts_us DIV bucketUs`. */
  private def eventCounts(events: DataFrame, bucketUs: Long, bucket: String): DataFrame =
    events
      .groupBy(col("event_type"), expr(s"ts_us DIV $bucketUs").as(bucket))
      .agg(count(lit(1)).as("n"))

  /** Each event type's dense bucket grid over [[eventCounts]]: every
    * bucket from the type's first to its last active one, built from a
    * per-type `sequence()`, never a cross join. `keep` adds per-type
    * columns of the `(event_type, lo, hi)` bounds row. */
  private def typeGrid(counts: DataFrame, bucket: String, keep: Column*): DataFrame =
    counts
      .groupBy("event_type")
      .agg(min(bucket).as("lo"), max(bucket).as("hi"))
      .select(
        (col("event_type") +: keep :+ explode(sequence(col("lo"), col("hi"))).as(bucket)): _*)

  /** The dense per-type event series `(event_type, bucket, n, x)`: the
    * [[typeGrid]] joined back to its counts, a missing bucket counting
    * `x = 0` (a statistic over only-active buckets would be biased). */
  private def denseEventSeries(s: SparkSession, d: String, bucketUs: Long, bucket: String): DataFrame = {
    val counts = eventCounts(Tables.events(s, d), bucketUs, bucket)
    typeGrid(counts, bucket)
      .join(counts, Seq("event_type", bucket), "left")
      .withColumn("x", coalesce(col("n"), lit(0L)))
  }

  /** The paired daily series `(dy, <x> = views, <y> = purchases)` on one
    * shared dense day grid, from the first to the last day either type
    * is active; a missing day counts 0. */
  private def viewPurchaseDays(s: SparkSession, d: String, x: String, y: String): DataFrame = {
    val counts = eventCounts(
      Tables.events(s, d).filter(col("event_type").isin("view", "purchase")), DayUs, "dy")
    val grid = counts
      .agg(min("dy").as("lo"), max("dy").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("dy"))
    def daily(eventType: String, n: String) =
      counts.filter(col("event_type") === eventType).select(col("dy"), col("n").as(n))
    grid
      .join(daily("view", "xn"), Seq("dy"), "left")
      .join(daily("purchase", "yn"), Seq("dy"), "left")
      .select(
        col("dy"),
        coalesce(col("xn"), lit(0L)).as(x),
        coalesce(col("yn"), lit(0L)).as(y))
  }

  /** Daily-activity streaks per user — the classic gaps-and-islands
    * rewrite: distinct active days, then `day - row_number()` collapses
    * each run of consecutive days to one constant group key, so streak
    * stats fall out of two ordinary aggregates. Everything is integer
    * arithmetic (engine-exact). Exactly TWO exchanges by design: the
    * (user_id, day) distinct ships map-side-deduped pairs (at 100 TB
    * the partial aggregate collapses each user-day's events to one row
    * before anything crosses the wire — the dominant saving), then the
    * pair-sized table re-shuffles once to (user_id) for the island
    * window; the streak aggregates reuse that partitioning. */
  def qStreaks(s: SparkSession, d: String): DataFrame = {
    val days = Tables
      .events(s, d)
      .select(col("user_id"), expr(s"ts_us DIV $DayUs").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(
        sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("max_streak"))
      .orderBy("user_id")
  }

  /** Peak concurrency per hour (capacity planning): sweep-line over
    * session intervals — +1 at each session start, −1 at each end
    * (inclusive overlap: starts order before ends at equal µs), running
    * sum = sessions live at that boundary, then max per hour bucket.
    *
    * The sweep is DISTRIBUTED, not a single global sort: the within-hour
    * prefix runs under a (hour) partitioning, and only the per-hour
    * delta totals — one row per hour — pass through the tiny carry
    * window whose cumulative sum seeds each hour. Identical result to
    * the textbook single-ordered-window formulation (the oracle), with
    * no all-boundaries-on-one-task stage at any scale. Boundaries are
    * 2 rows/session, so even the per-hour stage is session-sized, not
    * event-sized. Hours with no boundary carry no row (concurrency is
    * constant there). */
  def qConcurrency(s: SparkSession, d: String): DataFrame = {
    val sess = sessionized(Tables.events(s, d))
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))
    val pts = sess
      .select(
        col("user_id"), col("session_id"),
        col("start_us").as("pt_us"), lit(1L).as("delta"))
      .unionAll(sess.select(
        col("user_id"), col("session_id"),
        col("end_us").as("pt_us"), lit(-1L).as("delta")))
      .withColumn("hour_us", expr(s"(pt_us DIV $HourUs) * $HourUs"))
    val inHour = Window
      .partitionBy("hour_us")
      .orderBy(col("pt_us"), col("delta").desc, col("user_id"), col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perHour = pts
      .withColumn("prefix", sum("delta").over(inHour))
      .groupBy("hour_us")
      .agg(
        max("prefix").as("max_prefix"),
        sum("delta").as("hour_delta"),
        count(lit(1)).as("n_boundaries"))
    // carry-in = sessions still open when the hour begins: cumulative
    // delta of all PRIOR hours — a window over the hour-count-sized
    // aggregate, never the boundary table
    val carry = Window
      .orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, -1)
    perHour
      .withColumn(
        "max_concurrent",
        coalesce(sum("hour_delta").over(carry), lit(0L)) + col("max_prefix"))
      .select("hour_us", "max_concurrent", "n_boundaries")
      .orderBy("hour_us")
  }

  /** Hourly-count autocorrelation per event type (lag 1 h and lag 24 h —
    * burstiness and daily rhythm in one pass). The series is the DENSE
    * hour grid from the type's first to last active hour (missing hours
    * count 0 — an autocorrelation over only-active hours would be
    * biased), built from a per-type `sequence()`, never a cross join.
    * All six sufficient statistics per lag are integer sums (exact in
    * both engines); the only float math is the final textbook
    * `(nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))`, written with the same
    * association in Spark and the oracle so the IEEE results agree
    * bit-for-bit before the display round. */
  def qAutocorr(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, HourUs, "hr")
    val w = Window.partitionBy("event_type").orderBy("hr")
    // sufficient statistics go through decimal(38,0): the products stay
    // EXACT (then one double division/sqrt, same association as the
    // oracle) and n·Σx² cannot silently wrap int64 at petabyte counts
    def rOf(n0: Column, sx0: Column, sy0: Column, sxy0: Column,
        sxx0: Column, syy0: Column): Column = {
      val Seq(n, sx, sy, sxy, sxx, syy) =
        Seq(n0, sx0, sy0, sxy0, sxx0, syy0).map(_.cast("decimal(38,0)"))
      val num = (n * sxy - sx * sy).cast("double")
      val den = sqrt((n * sxx - sx * sx).cast("double") * (n * syy - sy * sy).cast("double"))
      round(num / den, 4)
    }
    val lagged = series
      .withColumn("y1", lead("x", 1).over(w))
      .withColumn("y24", lead("x", 24).over(w))
    def stats(y: String): Seq[Column] = Seq(
      count(col(y)).as(s"n_$y"),
      sum(when(col(y).isNotNull, col("x"))).as(s"sx_$y"),
      sum(col(y)).as(s"sy_$y"),
      sum(col("x") * col(y)).as(s"sxy_$y"),
      sum(when(col(y).isNotNull, col("x") * col("x"))).as(s"sxx_$y"),
      sum(col(y) * col(y)).as(s"syy_$y"))
    lagged
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), stats("y1") ++ stats("y24"): _*)
      .select(
        col("event_type"),
        col("n_hours"),
        rOf(col("n_y1"), col("sx_y1"), col("sy_y1"),
          col("sxy_y1"), col("sxx_y1"), col("syy_y1")).as("r_lag1"),
        rOf(col("n_y24"), col("sx_y24"), col("sy_y24"),
          col("sxy_y24"), col("sxx_y24"), col("syy_y24")).as("r_lag24"))
      .orderBy("event_type")
  }

  /** CUSUM changepoint detection on the daily count series per event
    * type. The classic statistic S_i = Σ_{j≤i}(x_j − x̄) needs the
    * fractional mean; scaling by n gives T_i = n·prefix_i − i·total —
    * INTEGER, argmax-equivalent, and therefore engine-exact: the
    * reported change day cannot flip on a 1-ulp float difference. Dense
    * day grid per type (zero days count); ties on |T| break to the
    * earliest day. Output keeps T and its n-scaled magnitude. */
  def qCusum(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, DayUs, "dy")
    val w = Window.partitionBy("event_type").orderBy("dy")
    val scored = series
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn(
        "prefix",
        sum("x").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("total", sum("x").over(Window.partitionBy("event_type")))
      .withColumn("t", col("n_days") * col("prefix") - col("i") * col("total"))
    val pick = Window
      .partitionBy("event_type")
      .orderBy(abs(col("t")).desc, col("dy"))
    scored
      .withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(
        col("event_type"),
        col("n_days"),
        col("total").as("n_events"),
        (col("dy") * DayUs).as("change_day_us"),
        col("t").as("t_scaled"),
        round(abs(col("t")).cast("double") / col("n_days"), 4).as("max_dev"))
      .orderBy("event_type")
  }

  /** `−ln(α/2)/6` at α = 0.05 — the one constant in Pettitt's critical
    * value K_crit = √(c·(T³+T²)); a Scala double literal baked into
    * BOTH engines' plans (Double.toString round-trips), so the only
    * float ops are one multiply and one correctly-rounded sqrt of
    * identical operands. */
  val PettittCritFactor: Double = -math.log(0.025) / 6.0

  /** Pettitt changepoint test per event type (Pettitt 1979) — the
    * rank-based, distribution-free complement of [[qCusum]]'s
    * mean-shift scan: U_t = Σ_{i≤t}Σ_{j>t} sgn(xᵢ−xⱼ) over the dense
    * daily series, K = max|U_t|, change day = the argmax. INTEGER-EXACT
    * throughout: per-day sgn mass s_i = 2·rank + ties − 2 − T (minrank
    * + tie count give #less/#greater without any midrank fraction), U_t
    * is the running integer sum of s_i, and the α = 0.05 significance
    * fence is one sqrt of identical doubles ([[PettittCritFactor]]).
    * Scale shape: the corpus folds to per-(type, day) counts in one
    * exchange; every window runs over the calendar-sized series table
    * partitioned by type. */
  def qPettitt(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, DayUs, "dy")
    val byType = Window.partitionBy("event_type")
    val byDay = byType.orderBy("dy")
    val scored = series
      .withColumn("t_days", count(lit(1)).over(byType))
      .withColumn("rk", rank().over(byType.orderBy("x")).cast("long"))
      .withColumn("ties", count(lit(1)).over(Window.partitionBy("event_type", "x")))
      .withColumn("s", lit(2L) * col("rk") + col("ties") - lit(2L) - col("t_days"))
      .withColumn(
        "u",
        sum("s").over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("i", row_number().over(byDay).cast("long"))
      .filter(col("i") < col("t_days")) // U_T ≡ 0: not a cut point
    val pick = Window
      .partitionBy("event_type")
      .orderBy(abs(col("u")).desc, col("dy"))
    val crit = sqrt(
      (col("t_days") * col("t_days") * col("t_days") +
        col("t_days") * col("t_days")).cast("double") * lit(PettittCritFactor))
    scored
      .withColumn("prk", row_number().over(pick))
      .filter(col("prk") === 1)
      .select(
        col("event_type"),
        col("t_days").as("n_days"),
        (col("dy") * DayUs).as("change_day_us"),
        abs(col("u")).as("k_stat"),
        round(crit, 4).as("k_crit"),
        (abs(col("u")).cast("double") > crit).as("significant"))
      .orderBy("event_type")
  }

  /** Page–Hinkley changepoint detector per event type (Page 1954,
    * Hinkley 1971) — the SEQUENTIAL complement of [[qCusum]]/
    * [[qPettitt]]: those scan a closed series for the single best cut;
    * PH tracks the running deviation m_t = Σ(xᵢ − x̄ᵢ) against its
    * running extremum, the statistic a live monitor would raise.
    * INTEGER-EXACT: each expanding mean x̄ᵢ = prefixᵢ/i is quantized
    * per-day to µ-units by integer DIV (order-free — quantize THEN
    * cumulate), so m, its running min/max, and both one-sided
    * statistics PH⁺ = m − min m, PH⁻ = max m − m are exact int64 in
    * µ-event units; only the two reported magnitudes divide back to
    * float. Scale shape: corpus → per-(type, day) counts in one
    * exchange; all windows run over the calendar-sized series. */
  def qPageHinkley(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, DayUs, "dy")
    val w = Window.partitionBy("event_type").orderBy("dy")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = series
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("prefix", sum("x").over(cum))
      .withColumn("qmean", expr("(prefix * 1000000L) DIV i"))
      .withColumn("m", col("prefix") * lit(1000000L) - sum("qmean").over(cum))
      .withColumn("ph_plus", col("m") - min("m").over(cum))
      .withColumn("ph_minus", max("m").over(cum) - col("m"))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy("event_type")))
    val pickUp = Window.partitionBy("event_type").orderBy(col("ph_plus").desc, col("dy"))
    val pickDn = Window.partitionBy("event_type").orderBy(col("ph_minus").desc, col("dy"))
    val up = scored
      .withColumn("rk", row_number().over(pickUp))
      .filter(col("rk") === 1)
      .select(
        col("event_type"),
        col("n_days"),
        (col("dy") * DayUs).as("up_day_us"),
        floor6(col("ph_plus").cast("double") / 1e6d).as("ph_up"))
    val dn = scored
      .withColumn("rk", row_number().over(pickDn))
      .filter(col("rk") === 1)
      .select(
        col("event_type").as("et2"),
        (col("dy") * DayUs).as("down_day_us"),
        floor6(col("ph_minus").cast("double") / 1e6d).as("ph_down"))
    up.join(dn, col("event_type") === col("et2"))
      .select(
        col("event_type"),
        col("n_days"),
        col("ph_up"),
        col("up_day_us"),
        col("ph_down"),
        col("down_day_us"))
      .orderBy("event_type")
  }

  /** Lead/lag cross-correlation (CCF) between the daily purchase and
    * view series at lags −3…+3: does view volume LEAD purchase volume,
    * and by how many days? r_ℓ = corr(view_t, purchase_{t+ℓ}), so a
    * peak at positive ℓ means views lead. Both series live on one
    * shared dense day grid; per lag the five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²) are exact decimal folds of the
    * calendar-sized aligned-pair table, and each r is one scalar IEEE
    * tree. Scale shape: corpus → per-(type, day) counts in one
    * exchange; the 7-lag explode runs over the day grid, never the
    * corpus. */
  def qCcf(s: SparkSession, d: String): DataFrame = {
    val series = viewPurchaseDays(s, d, "x", "y")
    val lags = s.range(-3, 4).select(col("id").as("lag"))
    val pairs = series
      .select(col("dy"), col("x"))
      .crossJoin(broadcast(lags))
      .join(
        series.select((col("dy")).as("dy2"), col("y")),
        col("dy2") === col("dy") + col("lag"))
    pairs
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_days"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(
        col("lag"),
        col("n_days"),
        floor6(
          (col("n_days").cast("decimal(38,0)") * col("sxy") -
            col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
            sqrt(
              (col("n_days").cast("decimal(38,0)") * col("sxx") -
                col("sx").cast("decimal(38,0)") * col("sx")).cast("double") *
                (col("n_days").cast("decimal(38,0)") * col("syy") -
                  col("sy").cast("decimal(38,0)") * col("sy")).cast("double")))
          .as("ccf"))
      .orderBy("lag")
  }

  /** Binary-segmentation multi-changepoint on daily counts (Scott–Knott
    * style, two levels): [[qCusum]] finds the single best cut; this
    * recurses once — re-running the same n-scaled INTEGER statistic
    * T_i = n·prefix_i − i·total inside each half — so a series with two
    * level shifts reports both (the single-cut scan provably lands
    * between them and misses each). Everything stays argmax-equivalent
    * integer algebra (no float can flip a reported day); level-2
    * windows run per (type, side) on the same calendar-sized series,
    * one extra exchange. Segments of length 1 have no interior cut and
    * emit nothing. */
  def qBinseg(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, DayUs, "dy")
      .select("event_type", "dy", "x")
    def cuts(df: DataFrame, keys: Seq[String], label: Column): DataFrame = {
      val part = Window.partitionBy(keys.map(col): _*)
      val byDay = part.orderBy("dy")
      val scored = df
        .withColumn("i", row_number().over(byDay).cast("long"))
        .withColumn(
          "prefix",
          sum("x").over(byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n_days", count(lit(1)).over(part))
        .withColumn("total", sum("x").over(part))
        .withColumn("t", col("n_days") * col("prefix") - col("i") * col("total"))
        .filter(col("i") < col("n_days"))
      val pick = Window
        .partitionBy(keys.map(col): _*)
        .orderBy(abs(col("t")).desc, col("dy"))
      scored
        .withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1)
        .select(
          col("event_type"),
          label.as("segment"),
          col("n_days"),
          col("dy").as("cut_dy"),
          abs(col("t")).as("k_stat"))
    }
    val level1 = cuts(series, Seq("event_type"), lit("all"))
    val sided = series
      .join(
        broadcast(level1.select(col("event_type"), col("cut_dy"))),
        Seq("event_type"))
      .withColumn("side", when(col("dy") <= col("cut_dy"), "L").otherwise("R"))
      .drop("cut_dy")
    val level2 = cuts(sided, Seq("event_type", "side"), col("side"))
    level1
      .withColumn("level", lit(1L))
      .unionByName(level2.withColumn("level", lit(2L)))
      .select(
        col("event_type"),
        col("level"),
        col("segment"),
        col("n_days"),
        (col("cut_dy") * DayUs).as("change_day_us"),
        col("k_stat"))
      .transform(graft.operators.SortUtil.sortSmall(
        _,
        col("event_type"),
        col("level"),
        col("segment")))
  }

  /** Kendall tau-b rank correlation between the daily view and purchase
    * series — the CONCORDANCE complement of [[qCcf]]'s linear
    * correlation (is the relation monotone at all, ties handled
    * exactly). The day-pair join runs on the calendar-sized aligned
    * series (|days|² pairs, bounded by the calendar, one side
    * broadcast — never the corpus); concordant/discordant/tie counts
    * are exact int64, the tie corrections n₁/n₂ are exact decimal
    * folds of the per-value tie histograms, and τ_b is one scalar IEEE
    * tree. */
  def qKendallTau(s: SparkSession, d: String): DataFrame = {
    val series = viewPurchaseDays(s, d, "x", "y")
    val pairs = series
      .join(
        broadcast(
          series.select(col("dy").as("dy2"), col("x").as("x2"), col("y").as("y2"))),
        col("dy") < col("dy2"))
      .select(((col("x") - col("x2")) * (col("y") - col("y2"))).as("prod"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("prod") > 0L, 1L).otherwise(0L)).as("nc"),
        sum(when(col("prod") < 0L, 1L).otherwise(0L)).as("nd"))
    val tieX = series
      .groupBy("x")
      .agg(count(lit(1)).as("t"))
      .agg(
        coalesce(
          sum(dec(col("t")) * (col("t") - 1) / 2),
          lit(0L).cast("decimal(38,0)")).as("n1"))
    val tieY = series
      .groupBy("y")
      .agg(count(lit(1)).as("t"))
      .agg(
        coalesce(
          sum(dec(col("t")) * (col("t") - 1) / 2),
          lit(0L).cast("decimal(38,0)")).as("n2"))
    val nDays = series.agg(count(lit(1)).as("n_days"))
    nDays
      .crossJoin(broadcast(pairs))
      .crossJoin(broadcast(tieX))
      .crossJoin(broadcast(tieY))
      // degenerate guard (mirrored in the oracle): a constant series
      // ties every pair (n_pairs = n1 or n2), making tau-b 0/0 —
      // emit zero rows instead of an engine-dependent NaN row.
      .filter(
        (col("n_pairs") - col("n1")) > 0 && (col("n_pairs") - col("n2")) > 0)
      .select(
        col("n_days"),
        col("nc"),
        col("nd"),
        floor6(
          (col("nc") - col("nd")).cast("double") /
            sqrt(
              (col("n_pairs").cast("decimal(38,0)") - col("n1")).cast("double") *
                (col("n_pairs").cast("decimal(38,0)") - col("n2")).cast("double")))
          .as("tau_b"))
  }

  /** Fano factor / index of dispersion of hourly counts per event type:
    * variance-to-mean ratio of the arrival process — 1 under Poisson,
    * > 1 for bursty traffic, < 1 for regularized. The capacity-planning
    * summary [[qConcurrency]]'s sweep-line doesn't give. Dense hour
    * grid (silent hours count), exact int64 sufficient statistics
    * (H, Σx, Σx² decimal), fano = H·(H·Σx² − (Σx)²)/((H−1)·H·Σx) as one
    * scalar IEEE tree per type. One corpus exchange. */
  def qFano(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, HourUs, "hr")
    series
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_hours"),
        sum("x").as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .select(
        col("event_type"),
        col("n_hours"),
        col("sx").as("n_events"),
        floor6(col("sx").cast("double") / col("n_hours").cast("double")).as("hourly_mean"),
        floor6(
          (col("n_hours").cast("decimal(38,0)") * col("sxx") -
            col("sx").cast("decimal(38,0)") * col("sx")).cast("double") /
            (col("n_hours").cast("double") * (col("n_hours") - lit(1L)).cast("double")))
          .as("hourly_var"),
        floor6(
          (col("n_hours").cast("decimal(38,0)") * col("sxx") -
            col("sx").cast("decimal(38,0)") * col("sx")).cast("double") /
            ((col("n_hours") - lit(1L)).cast("double") * col("sx").cast("double")))
          .as("fano"))
      .orderBy("event_type")
  }

  /** Poisson 2σ warning days (SPC warning limits) per event type: a day
    * is flagged when (x − x̄)² > 4·x̄, i.e. beyond two Poisson standard
    * deviations of the type's daily mean. Multiplying through by n²
    * gives (n·x − total)² > 4·total·n — integer on BOTH sides (128-bit
    * decimal for the square, which a billion-row day still fits), so
    * the FLAG ITSELF is engine-exact: no float boundary can flip a
    * day in or out of the report, the failure mode a naive
    * float-σ comparison invites. Dense day grid (a zero day CAN flag —
    * an outage is exactly what SPC must catch). */
  def qSpcDays(s: SparkSession, d: String): DataFrame = {
    val series = denseEventSeries(s, d, DayUs, "dy")
    val byType = Window.partitionBy("event_type")
    series
      .withColumn("n_days", count(lit(1)).over(byType))
      .withColumn("total", sum("x").over(byType))
      .withColumn(
        "dev",
        (col("n_days") * col("x") - col("total")).cast("decimal(38,0)"))
      .filter(
        col("dev") * col("dev") >
          lit(4).cast("decimal(38,0)") * col("total") * col("n_days"))
      .select(
        col("event_type"),
        (col("dy") * DayUs).as("day_us"),
        col("x").as("n_events"),
        round(col("total").cast("double") / col("n_days"), 4).as("daily_mean"),
        signum(col("dev").cast("double")).cast("long").as("direction"))
      .orderBy("event_type", "day_us")
  }

  /** Day-of-week × hour-of-day seasonality: the 168-cell activity
    * fingerprint with each cell's χ² contribution against the
    * independence expectation (row_total·col_total/grand_total).
    * Observed counts and all three totals are integers riding window
    * frames over the 168-row AGGREGATE (the raw stream is touched
    * once); expectation and χ² are the only float steps, same
    * association both engines. dow 0 = Sunday (epoch day 0 was a
    * Thursday). */
  def qSeasonality(s: SparkSession, d: String): DataFrame = {
    val cells = Tables
      .events(s, d)
      .groupBy(
        expr(s"(ts_us DIV $DayUs + 4) % 7").as("dow"),
        expr(s"(ts_us DIV $HourUs) % 24").as("hod"))
      .agg(count(lit(1)).as("n"))
    // decimal product: exact like the oracle's int128, and no silent
    // int64 wrap when row×column totals pass 9.2e18 at full scale
    val exp = (col("row_n").cast("decimal(38,0)") * col("col_n"))
      .cast("double") / col("grand_n")
    cells
      .withColumn("row_n", sum("n").over(Window.partitionBy("dow")))
      .withColumn("col_n", sum("n").over(Window.partitionBy("hod")))
      .withColumn("grand_n", sum("n").over(Window.partitionBy()))
      .select(
        col("dow"),
        col("hod"),
        col("n"),
        round(exp, 4).as("expected"),
        round((col("n") - exp) * (col("n") - exp) / exp, 4).as("chi2"))
      .orderBy("dow", "hod")
  }

  /** Two-proportion A/B z-test: users hash-split into arms by the
    * engine-portable md5 hash (assignment is reproducible across
    * engines AND across reruns — the property a real experiment
    * assigner needs), conversion = any purchase event. The whole test
    * reduces to ONE two-level aggregate — per-user conversion flags,
    * then conditional sums to a single row; no join, no pivot. Counts
    * are integers; the z statistic is the only float step, written with
    * the same association as the oracle (and NULL when an arm
    * saturates to p∈{0,1}, where the pooled variance is 0).
    *
    * Conversion = the user's FIRST event (by ts, id) is a purchase —
    * an activation metric that stays non-degenerate at every scale
    * factor, picked deterministically via min(struct(...)), the
    * engine-portable argmin. */
  def qAbTest(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hashing
    val users = Tables
      .events(s, d)
      .groupBy("user_id")
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_type"))
      .withColumn(
        "converted",
        when(col("first_type") === "purchase", 1L).otherwise(0L))
      .withColumn(
        "arm",
        Hashing.md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
    val agg = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_b"))
    val pA = col("conv_a").cast("double") / col("n_a")
    val pB = col("conv_b").cast("double") / col("n_b")
    val pPool = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val den = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    agg.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pA, 4).as("rate_a"),
      round(pB, 4).as("rate_b"),
      round(when(den =!= 0.0, (pA - pB) / den), 4).as("z"))
  }

  /** Linear-interpolation gap fill — the smooth twin of [[qResample]]'s
    * forward fill: missing hours take pv + (nv−pv)·frac between the
    * surrounding observed hourly values. Same one-corpus-scan shape as
    * qResample (grid bounds derived from the tiny per-hour aggregate).
    * The next-known probe is a `lead()` computed at the OBSERVED points
    * only (the tiny perHour table), then carried across the dense grid
    * by the same O(n) running-frame forward fill qResample uses — no
    * unbounded-FOLLOWING frame anywhere (Spark executes those by
    * rescanning current→end for every row: O(n²) per user partition
    * over a dense hour grid, and per-user grids grow with the time
    * span at scale). The grid spans each user's observed [min,max]
    * hour so prev/next always exist; at an observed hour the fraction
    * is 0 and the raw value passes through. frac is a ratio of exact
    * int64 hour deltas and the interpolation is written in one fixed
    * association order → bit-identical across engines. */
  def qInterpolate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("hour", expr(s"ts_us DIV $HourUs"))
    val perHour = ev
      .groupBy("user_id", "hour")
      .agg(
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value")
          .as("v"))
    // r14 shape: every window runs on the OBSERVATION-sized table, and
    // the dense grid is EMITTED (explode of each observation's gap span)
    // instead of built-joined-and-window-filled. The old shape exploded
    // a per-user [h0,h1] grid, left-joined the observations back on
    // (user, hour), and forward-filled (pv, ph, nh, nv) with four
    // running-frame windows OVER THE DENSE GRID — a grid-sized shuffle
    // + sort + window pass. But (pv, ph, nh, nv) at a grid hour are BY
    // DEFINITION constant across each observation's gap span [hour,
    // next_hour-1], so they can be attached at the observation row
    // (same four running frames, now over the tiny observed table) and
    // carried into the span by the explode itself. The grid rows,
    // their values, and the interpolation arithmetic are IDENTICAL —
    // only the join and the dense-grid window pass disappear (measured
    // 3.3 s → see OPTIMIZATION_r14.md; two grid-sized shuffles
    // removed, which at 100 TB is the difference between shuffling the
    // resampled output twice and not at all).
    val obsW = Window.partitionBy("user_id").orderBy("hour")
    val back = obsW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obs = perHour
      .withColumn("nh_all", lead(col("hour"), 1).over(obsW))
      .withColumn("nv_all", lead(col("v"), 1).over(obsW))
      // forward-filled fill-state at the observation rows: identical
      // running frames to the old dense-grid fill (incl. the v-null
      // guards, so a null-valued observation is carried over exactly as
      // before — the span anchored at it interpolates from the last
      // non-null observation's state)
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn(
        "ph",
        last(when(col("v").isNotNull, col("hour")), ignoreNulls = true).over(back))
      .withColumn(
        "nv",
        last(when(col("v").isNotNull, col("nv_all")), ignoreNulls = true).over(back))
      .withColumn(
        "nh",
        last(when(col("v").isNotNull, col("nh_all")), ignoreNulls = true).over(back))
    // gap span of each observation: [hour, next observed hour) — the
    // last observation contributes only itself, so per user the spans
    // tile exactly the old sequence(min hour, max hour) grid
    obs
      .select(
        col("user_id"),
        explode(expr("sequence(hour, coalesce(nh_all - 1, hour))")).as("g"),
        col("pv"),
        col("ph"),
        col("nv"),
        col("nh"))
      .select(
        col("user_id"),
        (col("g") * HourUs).as("hour_us"),
        // deliberately UNROUNDED: both engines run the identical
        // fixed-order IEEE ops, so the raw double is bit-exact — while
        // round() is the one place they can diverge (Spark rounds the
        // exact binary value HALF_UP, DuckDB rounds the shortest decimal
        // repr, so interpolation midpoints like 47.00375 split)
        when(col("g") === col("ph"), col("pv"))
          .otherwise(
            col("pv") + (col("nv") - col("pv")) *
              ((col("g") - col("ph")).cast("double") /
                (col("nh") - col("ph")).cast("double")))
          .as("v_interp"))
      .orderBy("user_id", "hour_us")
  }

  /** Conversion-latency distribution: per user, first view → first
    * purchase at-or-after that view, then exact interpolated
    * percentiles of the µs latencies. The qualifying-purchase probe is
    * the same running-min window as [[qFunnel]], so the whole query is
    * ONE (user_id) shuffle feeding a global 4-value aggregate; the
    * percentile input is one int64 per converted user. Latencies are
    * exact integers and both engines interpolate lo + (hi−lo)·frac
    * over sorted values → bit-identical before rounding. */
  def qFunnelLatency(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn(
        "t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("tv"),
        min(
          when(
            col("event_type") === "purchase" && col("t_view").isNotNull,
            col("ts_us"))).as("tc"))
      .where(col("tc").isNotNull)
      .select((col("tc") - col("tv")).as("lat"))
      .agg(
        count(lit(1)).as("n_converted"),
        round(expr("percentile(lat, 0.5)"), 4).as("p50_us"),
        round(expr("percentile(lat, 0.9)"), 4).as("p90_us"),
        round(expr("percentile(lat, 0.99)"), 4).as("p99_us"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic, each doc source vs
    * the REST of the corpus, over the document-length distribution —
    * the distribution-shift alarm for a corpus intake pipeline. The KS
    * supremum is attained at an observed value, so the scan is one
    * cumulative pass over the merged value spine: per-(source,len)
    * counts roll up once, the spine × |sources| grid comes from a
    * broadcast product with the ≤|sources|-row side (linear in the
    * spine, never in docs), and each source's CDF is a running sum on
    * one (source) exchange. The value axis is re-bucketed onto ≤ 2¹⁶
    * fixed-width integer buckets BEFORE the spine, so the global CDF's
    * single-partition window is bounded by the bucket constant, never
    * by #distinct values — the guard that keeps a continuous-valued
    * variable (where distinct values ≈ corpus size) from growing the
    * spine. Bucketing is injective whenever the integer value span ≤
    * 2¹⁶ (this dataset: exact KS); wider/continuous domains get the
    * KS of the 2¹⁶-bin grid distributions — the standard histogram KS,
    * a deterministic lower bound on the exact statistic. Numerators
    * stay int64 (c_s·n_rest − c_rest·n_s) until one final division →
    * engine-exact. */
  def qKsTest(s: SparkSession, d: String): DataFrame =
    graft.stats.Drift
      .ksTest(Tables(s, d, "documents"), col("source"), col("n_chars"))
      .withColumnRenamed("g", "source")
      .transform(sortSmall(_, col("source")))

  /** Population Stability Index, each doc source vs the REST of the
    * corpus — the industry-standard drift score (the binned complement
    * of [[qKsTest]]'s supremum statistic: PSI integrates shift across
    * ALL mass, KS takes the worst point). Thin delegation to
    * [[graft.stats.Drift.psi]] on the document-length column — see
    * there for the decile-bin derivation, Laplace smoothing, and the
    * statistic-sized scale contract. */
  def qPsiDrift(s: SparkSession, d: String): DataFrame =
    graft.stats.Drift
      .psi(Tables(s, d, "documents"), col("source"), col("n_chars"))
      .withColumnRenamed("g", "source")
      .transform(sortSmall(_, col("source")))

  /** Mann–Whitney U rank-sum drift test, each doc source vs the REST —
    * the rank-based member of the drift family (KS = worst-point CDF
    * gap, PSI = binned mass shift, MWU = stochastic dominance). Thin
    * delegation to [[graft.stats.Drift.mannWhitney]] — see there for
    * the exact ½-tie handling, tie-corrected variance, and decimal
    * integer arithmetic. */
  def qMwuDrift(s: SparkSession, d: String): DataFrame =
    graft.stats.Drift
      .mannWhitney(Tables(s, d, "documents"), col("source"), col("n_chars"))
      .withColumnRenamed("g", "source")
      .transform(sortSmall(_, col("source")))

  /** Benjamini–Hochberg FDR correction over the per-source KS drift
    * family — the MULTIPLE-TESTING closure the drift panel needs: 20
    * sources × one test each at α = 0.05 expects a false alarm per
    * run; BH bounds the false-discovery RATE instead. Each p-value is
    * the Kolmogorov asymptotic series 2Σ(−1)^{k−1}e^{−2k²λ²} (k ≤ 5,
    * Stephens' small-sample λ) — a fixed IEEE tree per source on the
    * ROUNDED KS statistic, floor6-quantized before any comparison so
    * the rank order and every threshold verdict are engine-exact. The
    * BH step-up runs on the 20-row statistic table (single-partition
    * windows by design). */
  def qFdrBh(s: SparkSession, d: String): DataFrame = {
    val alpha = 0.05d
    val ks = graft.stats.Drift
      .ksTest(Tables(s, d, "documents"), col("source"), col("n_chars"))
      .withColumnRenamed("g", "source")
    val ne = col("n_s").cast("double") * col("n_rest").cast("double") /
      (col("n_s") + col("n_rest")).cast("double")
    val lam = (sqrt(ne) + lit(0.12d) + lit(0.11d) / sqrt(ne)) * col("ks_stat")
    val l2 = lam * lam
    val pRaw = lit(2.0d) * (
      exp(lit(-2.0d) * l2) - exp(lit(-8.0d) * l2) + exp(lit(-18.0d) * l2) -
        exp(lit(-32.0d) * l2) + exp(lit(-50.0d) * l2))
    val scored = ks
      .withColumn(
        "p_value",
        floor(least(lit(1.0d), greatest(lit(0.0d), pRaw)) * 1000000.0d + 0.5d) /
          1000000.0d)
    val byP = Window.orderBy(col("p_value"), col("source"))
    val all = Window
      .partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("rank", row_number().over(byP).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(all))
      .withColumn(
        "bh_threshold",
        floor(
          col("rank").cast("double") * lit(alpha) / col("m_tests").cast("double") *
            1000000.0d) / 1000000.0d)
      .withColumn(
        "k_max",
        max(when(col("p_value") <= col("bh_threshold"), col("rank"))).over(all))
      .select(
        col("source"),
        col("n_s"),
        col("ks_stat"),
        col("p_value"),
        col("rank"),
        col("bh_threshold"),
        coalesce(col("rank") <= col("k_max"), lit(false)).as("rejected"))
      .transform(sortSmall(_, col("rank")))
  }

  /** Lag-1 Granger causality: do yesterday's VIEW counts help predict
    * today's PURCHASE counts beyond yesterday's purchases alone? The
    * F test between the restricted AR(1) and the unrestricted
    * two-predictor regression, computed entirely from EXACT decimal
    * co-moment sums over the shared dense day grid (both lags come
    * from one ordered window over the calendar-sized series). Both RSS
    * values and the Cramer's-rule 2×2 solve are scalar IEEE trees on
    * the exact sums; χ²(1) fence, large-n normal approximation of the
    * F(1, n−3) quantile documented. */
  def qGranger(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("dy") // single global series: calendar-sized
    val rows = viewPurchaseDays(s, d, "xv", "yv")
      .withColumn("y1", lag("yv", 1).over(w))
      .withColumn("x1", lag("xv", 1).over(w))
      .filter(col("y1").isNotNull)
    val sums = rows.agg(
      count(lit(1)).as("n"),
      sum(dec(col("yv"))).as("sy"),
      sum(dec(col("y1"))).as("sy1"),
      sum(dec(col("x1"))).as("sx1"),
      sum(dec(col("yv")) * col("yv")).as("syy"),
      sum(dec(col("yv")) * col("y1")).as("syy1"),
      sum(dec(col("yv")) * col("x1")).as("syx1"),
      sum(dec(col("y1")) * col("y1")).as("sy1y1"),
      sum(dec(col("x1")) * col("x1")).as("sx1x1"),
      sum(dec(col("y1")) * col("x1")).as("sy1x1"))
    sums
      .selectExpr(
        "n",
        // centered co-moments, each one scalar tree on exact decimals
        "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy",
        "CAST(syy1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n AS DOUBLE) AS cyy1",
        "CAST(syx1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cyx1",
        "CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n AS DOUBLE) AS cy1y1",
        "CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cx1x1",
        "CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cy1x1")
      .selectExpr(
        "n",
        "cyy - cyy1 * cyy1 / cy1y1 AS rss_r",
        "cyy - (cyy1 * cx1x1 - cyx1 * cy1x1) / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyy1" +
          " - (cyx1 * cy1y1 - cyy1 * cy1x1) / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyx1 AS rss_u")
      .select(
        col("n").as("n_days"),
        floor6(col("rss_r")).as("rss_restricted"),
        floor6(col("rss_u")).as("rss_unrestricted"),
        floor6(
          (col("rss_r") - col("rss_u")) /
            (col("rss_u") / (col("n") - lit(3L)).cast("double"))).as("f_stat"),
        ((col("rss_r") - col("rss_u")) /
          (col("rss_u") / (col("n") - lit(3L)).cast("double")) > lit(3.841459d))
          .as("significant"))
  }

  /** Market-basket part-pair affinity over the TPC-H star: orders are
    * baskets, distinct parts per order are items, and the output is the
    * top-20 co-occurring part pairs with support and lift. The pair
    * generator is an equi self-join on the ORDER key — candidate pairs
    * are bounded by Σ items-per-order², never |parts|² (baskets are
    * small by construction; at 100 TB the join stays shuffle-hash on
    * orderkey with map-side-deduped items). Lift = N·c_ab/(c_a·c_b)
    * with integer counts until two final divisions; top-20 under the
    * total (count desc, pa, pb) order via TakeOrderedAndProject. */
  def qBasketPairs(s: SparkSession, d: String): DataFrame = {
    val items = Tables(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // top-20 is decided by (n_both, pa, pb) ALONE, and the statistic
    // joins below are 1:1 (every co-bought part has a support row), so
    // the cut happens BEFORE them: TakeOrderedAndProject reduces the
    // pair table to 20 rows map-side instead of shuffling the whole
    // co-occurrence relation through two joins (r14, guide §2.3)
    val pairs = items
      .as("a")
      .join(
        items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("n_both"))
      .orderBy(col("n_both").desc, col("pa"), col("pb"))
      .limit(20)
    val partN = items.groupBy("pk").agg(count(lit(1)).as("n_part"))
    val tot = items.agg(count_distinct(col("ok")).as("n_orders"))
    pairs
      .join(partN.select(col("pk").as("pa"), col("n_part").as("n_a")), Seq("pa"))
      .join(partN.select(col("pk").as("pb"), col("n_part").as("n_b")), Seq("pb"))
      .crossJoin(broadcast(tot))
      .select(
        col("pa"),
        col("pb"),
        col("n_both"),
        round(col("n_both").cast("double") / col("n_orders").cast("double"), 6)
          .as("support"),
        round(
          (col("n_both") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"),
          6).as("lift"))
      .orderBy(col("n_both").desc, col("pa"), col("pb"))
      .limit(20)
  }

  val BasketRuleMinCount = 3
  val BasketRuleTopK = 20

  /** Directed association rules over the basket pair graph (the
    * consumer of [[qBasketPairs]]' symmetric affinity): for each
    * ordered (antecedent → consequent) part pair co-bought in ≥
    * [[BasketRuleMinCount]] orders, confidence = P(cons | ante) and
    * lift — the actual "customers who bought X buy Y" recommender
    * rule, where the symmetric pair table can't distinguish a popular
    * consequent from a predictive antecedent. Same scale shape as the
    * pair query (per-order self-join bounded by Σ basket², keyed on
    * the order key; support tables broadcast). Co-occurrence counts
    * are symmetric, so the join+aggregate runs UNDIRECTED (`<`, half
    * the shuffle of a directed generator — measured 2× at the sf1
    * scale point) and both rule orientations are derived from the
    * already-aggregated, min-count-filtered pair statistic. Top-k on
    * rounded confidence with id tie-breaks, so the cut is
    * engine-stable. */
  def qBasketRules(s: SparkSession, d: String): DataFrame = {
    val items = Tables(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val und = items
      .as("a")
      .join(
        items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= BasketRuleMinCount)
    val co = und
      .select(col("p1").as("ante"), col("p2").as("cons"), col("n_both"))
      .unionByName(
        und.select(col("p2").as("ante"), col("p1").as("cons"), col("n_both")))
    val partN = items.groupBy("pk").agg(count(lit(1)).as("n_part"))
    val tot = items.agg(count_distinct(col("ok")).as("n_orders"))
    co
      .join(partN.select(col("pk").as("ante"), col("n_part").as("n_a")), Seq("ante"))
      .join(partN.select(col("pk").as("cons"), col("n_part").as("n_c")), Seq("cons"))
      .crossJoin(broadcast(tot))
      .select(
        col("ante"),
        col("cons"),
        col("n_both"),
        round(col("n_both").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round(
          (col("n_both") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_c")).cast("double"),
          6).as("lift"))
      .orderBy(col("confidence").desc, col("n_both").desc, col("ante"), col("cons"))
      .limit(BasketRuleTopK)
  }

  /** Order-fulfillment latency profile per order priority — the
    * accumulating-snapshot shape of operational analytics: per order,
    * µs from order date to FIRST shipment and the first→last shipment
    * span, then exact interpolated percentiles per priority. One
    * (orderkey) aggregate over lineitem, an equi join back to orders
    * (stats pick the strategy — both sides are fact-sized), and a
    * |priorities|-row percentile aggregate. Integer µs latencies →
    * engine-exact before the final interpolation. */
  def qFulfillment(s: SparkSession, d: String): DataFrame =
    fulfillment(Tables(s, d, "orders"), Tables(s, d, "lineitem"))

  /** [[qFulfillment]]'s core on explicit frames — also driven by
    * SkewSpec under a hot-orderkey distribution. Skew safety is by
    * construction, not AQE rescue: the per-orderkey min/max collapses
    * a hot key MAP-SIDE (partial aggregation), so the (ok) exchange
    * carries at most one row per (input partition, key) and the join
    * probes exactly one row per key — no reducer ever sees the raw
    * fan-in of a hot order. PlanSpec pins the partial-before-exchange
    * shape. */
  private[graft] def fulfillment(
      orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val ships = lineitem
      .groupBy(col("l_orderkey").as("ok"))
      .agg(
        min(unix_micros(col("l_shipdate").cast("timestamp"))).as("first_ship"),
        max(unix_micros(col("l_shipdate").cast("timestamp"))).as("last_ship"))
    orders
      .select(
        col("o_orderkey").as("ok"),
        col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"))
      .join(ships, Seq("ok"))
      .select(
        col("o_orderpriority"),
        (col("first_ship") - col("order_us")).as("lead_us"),
        (col("last_ship") - col("first_ship")).as("span_us"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        round(expr("percentile(lead_us, 0.5)"), 4).as("p50_lead_us"),
        round(expr("percentile(lead_us, 0.95)"), 4).as("p95_lead_us"),
        round(expr("percentile(span_us, 0.95)"), 4).as("p95_span_us"))
      .transform(sortSmall(_, col("o_orderpriority")))
  }

  /** Rolling 7-day active users per day (WAU curve) — EXACT sliding-
    * window distinct, the dashboard metric sketches usually
    * approximate. The scale rewrite: distinct (user, day) pairs
    * contribute to the ≤7 window-end days they're visible from
    * (`sequence` explode), a second distinct collapses multi-day users
    * within a window, and the final count is a plain aggregate —
    * bounded ×7 row blowup with map-side partial dedup at every step,
    * never a per-window re-scan and no giant count(distinct) frame
    * (Spark windows can't do COUNT(DISTINCT) over a frame at all).
    * Early days report the partial lookback window, the standard
    * dashboard convention. */
  def qRollingActive(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables
      .events(s, d)
      .select(col("user_id"), expr(s"ts_us DIV $DayUs").as("day"))
      .distinct()
    val bounds = pairs.agg(min("day").as("d0"), max("day").as("d1"))
    pairs
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wday"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .where(col("wday").between(col("d0"), col("d1")))
      .groupBy("wday")
      .agg(count(lit(1)).as("wau_7d"))
      .select((col("wday") * DayUs).as("day_us"), col("wau_7d"))
      .orderBy("day_us")
  }

  /** Gini concentration of per-user value by event type — the
    * inequality statistic behind "do 1% of users drive 90% of X"
    * dashboards (Lorenz-curve area, 0 = uniform, →1 = concentrated).
    * One event-scan to per-(type, user) centi-unit totals, a per-type
    * rank under the total (value, user_id) order (the same
    * user-statistic-sized window shape as q_cume_dist — never over raw
    * events), then Gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) with
    * decimal-exact integer numerators and ONE final division →
    * engine-exact before round(6). */
  def qGini(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perUser = Tables
      .events(s, d)
      .groupBy("event_type", "user_id")
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
    val w = Window.partitionBy("event_type").orderBy(col("x"), col("user_id"))
    perUser
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_users"),
        sum("x").as("sx"),
        sum(dec(col("i")) * col("x")).as("six"))
      .select(
        col("event_type"),
        col("n_users"),
        (col("sx").cast("double") / 100.0d).as("total_value"),
        round(
          (col("six") * 2 - dec(col("n_users") + 1) * col("sx")).cast("double") /
            (dec(col("n_users")) * col("sx")).cast("double"),
          6).as("gini"))
      .transform(sortSmall(_, col("event_type")))
  }

  /** Referential-integrity audit across the star schema — the
    * load-time data-quality gate: orphan counts for every FK edge
    * (lineitem→orders, lineitem→part, lineitem→supplier,
    * orders→customer, customer→nation, supplier→nation) in ONE report
    * row per edge. Each edge is a left-anti join probing the child's
    * DISTINCT keys (map-side-deduped, so the shuffle carries keys, not
    * facts) against the parent's key column; at scale each probe is a
    * shuffle join on the key with the child side pre-collapsed. Row
    * counts ride the same pass. */
  def qRefIntegrity(s: SparkSession, d: String): DataFrame = {
    def edge(
        name: String,
        child: DataFrame,
        childKey: String,
        parent: DataFrame,
        parentKey: String): DataFrame = {
      val keys = child
        .select(col(childKey).as("k"))
        .where(col("k").isNotNull)
        .groupBy("k")
        .agg(count(lit(1)).as("n_rows"))
      val orphans = keys.join(
        parent.select(col(parentKey).as("k")).distinct(),
        Seq("k"),
        "left_anti")
      orphans
        .agg(
          coalesce(count(lit(1)), lit(0L)).as("orphan_keys"),
          coalesce(sum("n_rows"), lit(0L)).as("orphan_rows"))
        .select(lit(name).as("fk_edge"), col("orphan_keys"), col("orphan_rows"))
    }
    val li = Tables(s, d, "lineitem")
    val orders = Tables(s, d, "orders")
    val customer = Tables(s, d, "customer")
    val supplier = Tables(s, d, "supplier")
    val part = Tables(s, d, "part")
    val nation = Tables(s, d, "nation")
    edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
      .unionAll(edge("lineitem->part", li, "l_partkey", part, "p_partkey"))
      .unionAll(edge("lineitem->supplier", li, "l_suppkey", supplier, "s_suppkey"))
      .unionAll(edge("orders->customer", orders, "o_custkey", customer, "c_custkey"))
      .unionAll(edge("customer->nation", customer, "c_nationkey", nation, "n_nationkey"))
      .unionAll(edge("supplier->nation", supplier, "s_nationkey", nation, "n_nationkey"))
      .orderBy("fk_edge")
  }

  /** Pareto-frontier (skyline) of customers on (total spend, order
    * count) — the "best tradeoffs" operator relational engines lack as
    * a primitive: a customer survives iff no other is ≥ on both axes
    * and > on one. Two-phase distributed shape: each shuffle partition
    * computes its LOCAL skyline first (one desc-sort + two running/
    * whole-partition frames; a local skyline always contains every
    * global-skyline member in that partition, so the union is a tiny
    * superset of the answer and the partitioning may be arbitrary),
    * then the global pass runs the same frames over the survivors —
    * the full fact never crosses a single-partition stage. The strict
    * dominance probe is a RANGE frame offset −1 under the desc sort
    * (value-strictly-greater, O(n) incremental — not the banned
    * unbounded-FOLLOWING shape); equal-spend peers use a
    * whole-partition frame. Spend is centi-unit int64 (sum-order
    * exact), so dominance comparisons are integer-exact in both
    * engines. */
  def qSkyline(s: SparkSession, d: String): DataFrame = {
    val stats = Tables(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("spend_c"),
        count(lit(1)).as("n_orders"))
    def frontier(df: DataFrame, part: Seq[Column]): DataFrame = {
      val strict = Window
        .partitionBy(part: _*)
        .orderBy(col("spend_c").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val peers = Window.partitionBy((part :+ col("spend_c")): _*)
      df.withColumn("m1", max("n_orders").over(strict))
        .withColumn("m2", max("n_orders").over(peers))
        .where(
          (col("m1").isNull || col("m1") < col("n_orders")) &&
            col("m2") <= col("n_orders"))
        .drop("m1", "m2")
    }
    val local = frontier(stats.withColumn("p", spark_partition_id()), Seq(col("p")))
      .drop("p")
    frontier(local, Nil)
      .select(
        col("o_custkey"),
        (col("spend_c").cast("double") / 100.0d).as("total_spend"),
        col("n_orders"))
      .orderBy("o_custkey")
  }

  /** Correlated scalar-subquery decorrelation — the TPC-H Q17 pattern
    * ("revenue lost to small-quantity orders"): the per-part correlated
    * `avg(l_quantity)` subquery rewritten as a part-level aggregate
    * joined back to the fact, which is how EVERY engine must execute it
    * at scale (one fact scan for fences, one for the probe, equi join —
    * never a per-row subquery). Quantities are integer-valued doubles,
    * so the avg is sum-order-independent (exact int sums < 2⁵³) and the
    * 0.2·avg fence is one deterministic multiplication → the `<`
    * comparison is engine-exact. */
  def qSmallQty(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem")
    val fences = li
      .groupBy(col("l_partkey").as("pk"))
      .agg((avg("l_quantity") * 0.2d).as("fence"))
    li.join(fences, col("l_partkey") === col("pk"))
      .where(col("l_quantity") < col("fence"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum("l_extendedprice") / 7.0d, 2).as("avg_yearly"))
  }

  /** Chi-square independence test: is the language distribution
    * independent of the document source? The corpus-intake sibling of
    * the drift family — drift tests compare one source against the
    * rest on ONE variable; this tests the whole (lang × source)
    * contingency table at once. One corpus scan to cell counts, then
    * everything is |langs|·|sources| cells: margins, the expected
    * grid (a broadcast product of the two margin tables), χ² = Σ
    * (obs−e)²/e, dof, and Cramér's V. Integer counts until the
    * expected-value division; fixed association + round(6). */
  def qChi2Independence(s: SparkSession, d: String): DataFrame = {
    val cells = Tables(s, d, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
    val rl = cells.groupBy("lang").agg(sum("c").as("r"))
    val cs = cells.groupBy("source").agg(sum("c").as("s"))
    val tot = cells.agg(sum("c").as("n"))
    val dims = rl
      .agg(count(lit(1)).as("n_langs"))
      .crossJoin(broadcast(cs.agg(count(lit(1)).as("n_sources"))))
    // widen one margin before the product: r and s are counts up to
    // corpus size, so the int64 product r*s overflows past ~3e9 docs;
    // decimal(38,0) matches the widening convention used by the drift
    // family (and DuckDB's HUGEINT oracle arithmetic).
    val e = (col("r").cast("decimal(38,0)") * col("s")).cast("double") /
      col("n").cast("double")
    val obs = coalesce(col("c"), lit(0L)).cast("double")
    rl.crossJoin(broadcast(cs))
      .join(cells, Seq("lang", "source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("n"), ((obs - e) * (obs - e) / e).as("term"))
      .agg(max("n").as("n"), sum("term").as("chi2"))
      .crossJoin(broadcast(dims))
      .select(
        col("n").as("n_docs"),
        col("n_langs"),
        col("n_sources"),
        ((col("n_langs") - 1) * (col("n_sources") - 1)).as("dof"),
        round(col("chi2"), 6).as("chi2"),
        round(
          sqrt(
            col("chi2") /
              (col("n") * least(col("n_langs") - 1, col("n_sources") - 1))
                .cast("double")),
          6).as("cramers_v"))
  }

  /** Mutual information between the lang and source columns — the
    * effect-size companion of [[qChi2Independence]] (chi² says
    * "dependent", MI says how many nats of lang are explained by
    * source), plus the normalized NMI = MI/√(H_lang·H_source) that
    * makes corpora comparable. Every entropy/MI summand is
    * floor-quantized to int64 BEFORE its sum (the q_ndcg trick):
    * the three sums are order-free and engine-exact, not
    * last-ulp-dependent on aggregation order. Scale shape: one
    * (lang, source) aggregate over the corpus; everything after is
    * alphabet-sized (margins broadcast, one-row totals). */
  def qMutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = Tables(s, d, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c"))
      // cut: measured — margins and totals each re-scan the corpus uncut: sf0.01 best 0.717 → 0.804 s
      .transform(graft.operators.Materialize.cut)
    val rl = cells.groupBy("lang").agg(sum("c").as("r"))
    val cs = cells.groupBy("source").agg(sum("c").as("s"))
    val tot = cells.agg(sum("c").as("n"), count(lit(1)).as("n_cells"))
    def entQ(margin: DataFrame, m: String): DataFrame =
      margin
        .crossJoin(broadcast(tot.select("n")))
        .select(
          floor(
            -(col(m).cast("double") / col("n").cast("double")) *
              log(col(m).cast("double") / col("n").cast("double")) *
              lit(1.0e9d)).cast("long").as("q"))
        .agg(sum("q").as(s"h_$m"))
    // observed cells only: a zero cell contributes 0 to MI
    val miQ = cells
      .join(broadcast(rl), "lang")
      .join(broadcast(cs), "source")
      .crossJoin(broadcast(tot.select("n")))
      .select(
        floor(
          (col("c").cast("double") / col("n").cast("double")) *
            log(
              (col("c").cast("double") * col("n").cast("double")) /
                (col("r").cast("decimal(38,0)") * col("s")).cast("double")) *
            lit(1.0e9d)).cast("long").as("q"))
      .agg(sum("q").as("mi_q"))
    tot
      .crossJoin(broadcast(entQ(rl, "r")))
      .crossJoin(broadcast(entQ(cs, "s")))
      .crossJoin(broadcast(miQ))
      .select(
        col("n").as("n_docs"),
        col("n_cells"),
        round(col("h_r").cast("double") / 1.0e9d, 6).as("h_lang"),
        round(col("h_s").cast("double") / 1.0e9d, 6).as("h_source"),
        round(col("mi_q").cast("double") / 1.0e9d, 6).as("mi_nats"),
        round(
          (col("mi_q").cast("double") / 1.0e9d) /
            sqrt(
              (col("h_r").cast("double") / 1.0e9d) *
                (col("h_s").cast("double") / 1.0e9d)),
          6).as("nmi"))
  }

  /** Shannon language-diversity profile per source — the "how mixed is
    * this source" intake dashboard line: entropy of the language mix in
    * nats, its exp() as the effective number of languages, and the
    * majority-language share. One corpus scan to (source, lang) counts;
    * per-source terms are ≤|langs| rows riding one (source) exchange.
    * p = c/n_s is one division per term; round(6) absorbs the last-ulp
    * summation order. */
  def qSourceEntropy(s: SparkSession, d: String): DataFrame = {
    val cells = Tables(s, d, "documents")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("source").agg(sum("c").as("n_docs"))
    val p = col("c").cast("double") / col("n_docs").cast("double")
    cells
      .join(broadcast(totals), Seq("source"))
      .select(
        col("source"),
        col("n_docs"),
        col("c"),
        (negate(p) * log(p)).as("term"))
      .groupBy("source")
      .agg(
        max("n_docs").as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(sum("term"), 6).as("entropy_nats"),
        round(exp(sum("term")), 6).as("eff_langs"),
        round(max("c").cast("double") / max("n_docs").cast("double"), 6)
          .as("top_lang_share"))
      .transform(sortSmall(_, col("source")))
  }

  /** Daily new-vs-returning split of active users — the growth
    * dashboard's first panel (is today's traffic acquisition or
    * retention?). One distinct (user, day) pass; each user's FIRST
    * active day comes from the same pairs via a (user) aggregate, and
    * "new on day d" is first_day = d — no per-day re-scan, no window
    * over raw events. All counts are integers → bit-exact oracle. */
  def qNewReturning(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables
      .events(s, d)
      .select(col("user_id"), expr(s"ts_us DIV $DayUs").as("day"))
      .distinct()
    val firstDay =
      pairs.groupBy("user_id").agg(min("day").as("first_day"))
    pairs
      .join(firstDay.hint("shuffle_hash"), "user_id")
      .groupBy("day")
      .agg(
        count(lit(1)).as("active_users"),
        sum((col("day") === col("first_day")).cast("long")).as("new_users"))
      .select(
        (col("day") * DayUs).as("day_us"),
        col("active_users"),
        col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"))
      .orderBy("day_us")
  }

  val MauWindowDays = 28

  /** DAU/MAU stickiness curve — exact trailing-28-day distinct actives
    * per day, over the same bounded `sequence` explode as
    * [[qRollingActive]] (a (user, day) pair is visible from ≤ 28
    * window-end days; a second distinct collapses multi-day users; the
    * final count is a plain aggregate — never a count(distinct) frame).
    * DAU rides the SAME distinct-pairs table. Days with no
    * events still report their trailing MAU (dense via the mau frame),
    * with DAU coalesced to 0 — the dashboard convention. */
  def qStickiness(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables
      .events(s, d)
      .select(col("user_id"), expr(s"ts_us DIV $DayUs").as("day"))
      .distinct()
    val bounds = pairs.agg(min("day").as("d0"), max("day").as("d1"))
    val dau = pairs.groupBy(col("day").as("wday")).agg(count(lit(1)).as("dau"))
    val mau = pairs
      .select(
        col("user_id"),
        explode(expr(s"sequence(day, day + ${MauWindowDays - 1})")).as("wday"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .where(col("wday").between(col("d0"), col("d1")))
      .groupBy("wday")
      .agg(count(lit(1)).as("mau_28d"))
    mau
      .join(broadcast(dau), Seq("wday"), "left")
      .select(
        (col("wday") * DayUs).as("day_us"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        col("mau_28d"),
        round(
          coalesce(col("dau"), lit(0L)).cast("double") / col("mau_28d"),
          6).as("stickiness"))
      .orderBy("day_us")
  }

  /** Herfindahl–Hirschman concentration of customer spend within each
    * market segment — the antitrust-style "is this segment's revenue a
    * monopoly of a few accounts?" statistic (HHI = Σ shareᵢ², 1/n =
    * uniform → 1 = single buyer), plus the top account's share. Spend
    * is exact integer cents; Σxᵢ² accumulates in decimal(38,0) (a
    * cents² term is ~2⁵¹ — a long sum would overflow at corpus scale,
    * the same widening convention as [[qGini]]), and each output is ONE
    * division of exact integers → engine-exact before round(6).
    * Scale shape: orders fold to per-(segment, customer) cents on one
    * exchange (customer dim broadcast); the HHI aggregate runs over
    * customer-statistic rows, never raw orders. */
  def qHhi(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perCust = Tables(s, d, "orders")
      .join(broadcast(Tables(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "c_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    perCust
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        sum("cents").as("tot"),
        sum(dec(col("cents")) * col("cents")).as("sumsq"),
        max("cents").as("top"))
      .select(
        col("c_mktsegment"),
        col("n_customers"),
        (col("tot").cast("double") / 100.0d).as("segment_revenue"),
        round(
          col("sumsq").cast("double") /
            (dec(col("tot")) * col("tot")).cast("double"),
          6).as("hhi"),
        round(col("top").cast("double") / col("tot").cast("double"), 6)
          .as("top_share"))
      .transform(sortSmall(_, col("c_mktsegment")))
  }

  /** Holt smoothing factors — exact binary fractions (see [[EmaAlpha]]:
    * every `α·x` is the same IEEE multiply in every engine). */
  val HoltAlpha = 0.5
  val HoltBeta = 0.25

  /** Holt double-exponential (level + trend) smoothing of the daily
    * event-count series per type, with the 7-day-ahead linear forecast
    * — the capacity-planning companion of [[qEma]] (which has no trend
    * term and so lags any growing series). The coupled recurrences
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * admit no fixed-frame window: computed as a deterministic LEFT FOLD
    * over the dense daily grid (zeros filled, like [[qSpcDays]]),
    * seeded with l₂ = x₂, b₂ = x₂ − x₁ — the identical IEEE operation
    * sequence as the oracle's recursive CTE, so the result is bit-exact
    * before the display round. Scale shape: events collapse to
    * day-grid counts on one (type, day) aggregate; the fold state is
    * one array per type, bounded by the calendar, not the data. */
  def qHolt(s: SparkSession, d: String): DataFrame = {
    val counts = eventCounts(Tables.events(s, d), DayUs, "dy")
    val series = typeGrid(counts, "dy")
      .join(counts, Seq("event_type", "dy"), "left")
      .select(
        col("event_type"),
        col("dy"),
        coalesce(col("n"), lit(0L)).cast("double").as("x"))
    val lvl = (acc: Column, x: Column) =>
      lit(HoltAlpha) * x +
        lit(1 - HoltAlpha) * (acc.getField("l") + acc.getField("b"))
    series
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("dy"), col("x")))).as("s"))
      .filter(size(col("s")) >= 2)
      .select(
        col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        aggregate(
          expr("slice(s, 3, size(s) - 2)"),
          struct(
            element_at(col("s"), 2).getField("x").as("l"),
            (element_at(col("s"), 2).getField("x") -
              element_at(col("s"), 1).getField("x")).as("b")),
          (acc, e) => {
            val x = e.getField("x")
            struct(
              lvl(acc, x).as("l"),
              (lit(HoltBeta) * (lvl(acc, x) - acc.getField("l")) +
                lit(1 - HoltBeta) * acc.getField("b")).as("b"))
          }).as("st"))
      .select(
        col("event_type"),
        col("n_days"),
        round(col("st").getField("l"), 4).as("level"),
        round(col("st").getField("b"), 4).as("trend"),
        round(
          col("st").getField("l") + lit(7.0) * col("st").getField("b"),
          4).as("forecast_7d"))
      .transform(sortSmall(_, col("event_type")))
  }

  /** Holt–Winters smoothing factors — exact binary fractions like
    * [[HoltAlpha]], so every scaled term is one IEEE multiply. */
  /** Theta-method SES constant — exact binary (1/4), the [[HoltAlpha]]
    * convention (every scaled term is one IEEE multiply). */
  val ThetaAlpha = 0.25

  /** Theta(0,2) forecast (Assimakopoulos & Nikolopoulos 2000 — the M3
    * competition winner; Hyndman & Billah 2003 show it equals SES with
    * drift): per event type over the dense daily grid, (1) exact OLS
    * trend from integer sufficient statistics (slope and intercept are
    * one IEEE division each off decimal-exact sums), (2) the theta-2
    * line z_t = 2·x_t − (a + b·t) doubles local curvature and is
    * smoothed by SES (α = 1/4 — the [[qEma]]/[[qHolt]] fold contract:
    * Spark's `aggregate` fold and the oracle's recursive CTE replay the
    * identical IEEE sequence), (3) the forecast recombines the halves:
    * x̂_{T+h} = ½(a + b(T+h)) + ½·L_T at h = 7. Scale shape: the corpus
    * collapses to one (type, day) aggregate; fold state is ONE double
    * per type. */
  def qThetaForecast(s: SparkSession, d: String): DataFrame = {
    val counts = eventCounts(Tables.events(s, d), DayUs, "dy")
    val series = typeGrid(counts, "dy", col("lo"))
      .join(counts, Seq("event_type", "dy"), "left")
      .select(
        col("event_type"),
        (col("dy") - col("lo") + 1L).as("t"),
        coalesce(col("n"), lit(0L)).as("xl"))
    series
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum("t").as("s1"),
        sum(dec(col("t")) * col("t")).as("s2"),
        sum("xl").as("sx"),
        sum(dec(col("t")) * col("xl")).as("sxt"),
        sort_array(collect_list(struct(col("t"), col("xl").cast("double").as("x"))))
          .as("s"))
      .filter(col("n_days") >= 2L)
      .withColumn(
        "b",
        (dec(col("n_days")) * col("sxt") - dec(col("s1")) * col("sx")).cast("double") /
          (dec(col("n_days")) * col("s2") - dec(col("s1")) * col("s1")).cast("double"))
      .withColumn(
        "a",
        (col("sx").cast("double") - col("b") * col("s1").cast("double")) /
          col("n_days").cast("double"))
      .withColumn(
        "lvl",
        aggregate(
          expr("slice(s, 2, size(s) - 1)"),
          lit(2.0) * element_at(col("s"), 1).getField("x") -
            (col("a") + col("b") * lit(1.0)),
          (acc, e) =>
            lit(ThetaAlpha) * (lit(2.0) * e.getField("x") -
              (col("a") + col("b") * e.getField("t").cast("double"))) +
              lit(1 - ThetaAlpha) * acc))
      .select(
        col("event_type"),
        col("n_days"),
        round(col("b"), 6).as("trend_slope"),
        round(col("lvl"), 4).as("theta_level"),
        round(
          lit(0.5) * (col("a") + col("b") * (col("n_days") + lit(7L)).cast("double")) +
            lit(0.5) * col("lvl"),
          4).as("forecast_7d"))
      .transform(sortSmall(_, col("event_type")))
  }

  val HwAlpha = 0.5
  val HwBeta = 0.25
  val HwGamma = 0.25

  /** Holt–Winters additive triple-exponential smoothing (level +
    * trend + 7-day seasonality) of the daily count series per type,
    * with the next-week forecast — the seasonal completion of
    * [[qHolt]] (whose trend-only forecast lags any weekday-patterned
    * series). Recurrences (season length m = 7):
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
    * seeded the classic way from the first two weeks (l₇ = week-1
    * mean, b₇ = (week-2 mean − week-1 mean)/7, s_i = x_i − l₇).
    * The seasonal lag state is carried as a ROTATING 7-scalar queue
    * (q1 = s_{t−6} … q7 = s_t): each step reads q1, shifts, appends —
    * no array surgery, and the oracle's recursive CTE carries the
    * same seven columns, so the IEEE operation sequence replays
    * bit-exactly (the [[qHolt]]/qEma recursion contract). Forecast
    * x̂_{n+h} = l + h·b + s_{n+h−7} reads straight off the final
    * queue. Scale shape: the corpus collapses to day-grid counts on
    * one (type, day) aggregate; fold state is 9 doubles per type. */
  def qHoltWinters(s: SparkSession, d: String): DataFrame = {
    val counts = eventCounts(Tables.events(s, d), DayUs, "dy")
    val series = typeGrid(counts, "dy")
      .join(counts, Seq("event_type", "dy"), "left")
      .select(
        col("event_type"),
        col("dy"),
        coalesce(col("n"), lit(0L)).cast("double").as("x"))
    val folded = series
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("dy"), col("x")))).as("s"))
      .filter(size(col("s")) >= 14)
      .select(
        col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        {
          def x(i: Int) = element_at(col("s"), i).getField("x")
          val l0 = (x(1) + x(2) + x(3) + x(4) + x(5) + x(6) + x(7)) / lit(7.0d)
          val b0 =
            ((x(8) + x(9) + x(10) + x(11) + x(12) + x(13) + x(14)) / lit(7.0d) -
              l0) / lit(7.0d)
          val init = struct(
            (l0.as("l") +: b0.as("b") +:
              (1 to 7).map(i => (x(i) - l0).as(s"q$i"))): _*)
          // seeds define the state at t = 7; the fold replays t = 8…n
          aggregate(
            expr("slice(s, 8, size(s) - 7)"),
            init,
            (acc, e) => hwStep(acc, e.getField("x")),
            acc => acc).as("st")
        })
    folded
      .select(
        col("event_type"),
        col("n_days"),
        round(col("st.l"), 4).as("level"),
        round(col("st.b"), 4).as("trend"),
        explode(expr("sequence(1, 7)")).as("h"),
        col("st"))
      .select(
        col("event_type"),
        col("n_days"),
        col("level"),
        col("trend"),
        // BIGINT like the oracle: sequence() yields int32, and the
        // driver's hash is type-sensitive (the q_cms_counts bug class)
        col("h").cast("long").as("h"),
        round(
          col("st.l") + col("h").cast("double") * col("st.b") +
            element_at(
              array((1 to 7).map(i => col(s"st.q$i")): _*),
              col("h").cast("int")),
          4).as("forecast"))
      .transform(sortSmall(_, col("event_type"), col("h")))
  }

  /** One Holt–Winters step: read the 7-back seasonal (q1), rotate the
    * queue, append s_t. The l_t expression appears inside b_t and s_t
    * too (expression duplication, like the oracle's textual repeat) —
    * identical IEEE computation, identical value. */
  private def hwStep(acc: Column, x: Column): Column = {
    val lnew = lit(HwAlpha) * (x - acc.getField("q1")) +
      lit(1 - HwAlpha) * (acc.getField("l") + acc.getField("b"))
    struct(
      (lnew.as("l") +:
        (lit(HwBeta) * (lnew - acc.getField("l")) +
          lit(1 - HwBeta) * acc.getField("b")).as("b") +:
        ((2 to 7).map(i => acc.getField(s"q$i").as(s"q${i - 1}")) :+
          (lit(HwGamma) * (x - lnew) +
            lit(1 - HwGamma) * acc.getField("q1")).as("q7"))): _*)
  }

  /** Audience overlap matrix: for every pair of event types, how many
    * distinct users do BOTH (plus Jaccard and overlap coefficient) —
    * the segmentation question behind cross-sell and cannibalization
    * dashboards. The pair join is on user_id over the DISTINCT
    * (user, type) pairs, so the blowup is Σ_user types_u² ≤ |types|²·U
    * — bounded by the type-alphabet, never |users|²; per-type totals
    * are a broadcast. Integer counts → bit-exact oracle. */
  def qAudienceOverlap(s: SparkSession, d: String): DataFrame = {
    val ut = Tables
      .events(s, d)
      .select(col("user_id"), col("event_type"))
      .distinct()
    val totals = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    a.join(b.hint("shuffle_hash"), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
      .join(
        broadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        "type_a")
      .join(
        broadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        "type_b")
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        col("n_both"),
        round(
          col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")).cast("double"),
          6).as("jaccard"),
        round(
          col("n_both").cast("double") /
            least(col("n_a"), col("n_b")).cast("double"),
          6).as("overlap_coef"))
      .transform(sortSmall(_, col("type_a"), col("type_b")))
  }

  /** KMV sketch size. */
  val KmvK = 256

  /** [[graft.functions.Hashing.md5Long]]'s hash space: 15 hex chars =
    * 60 bits, so hashes are uniform on [0, 2⁶⁰). */
  val KmvM = 1152921504606846976L

  /** Distinct (type, user-day-hash) table — the KMV sketch input. The
    * sketched entity is active user-DAYS (user_id:day), chosen over
    * bare users so the per-type universe is large enough to exercise
    * the estimator at every test scale. */
  private def kmvHashes(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .select(
        col("event_type"),
        graft.functions.Hashing
          .md5Long(
            concat(
              col("user_id").cast("string"),
              lit(":"),
              expr(s"ts_us DIV $DayUs").cast("string")))
          .as("h"))
      .distinct()

  /** Per-type k smallest distinct hashes — the KMV sketch, ≤ k rows
    * per type. Two-phase rank: a per-scan-partition row_number prunes
    * to ≤ k·partitions survivors first (the global k smallest are a
    * subset of every partition's local k smallest, so the result is
    * invariant to the partitioning), then the global per-type rank
    * runs over the statistic-sized survivor set — the corpus never
    * feeds a full per-type window sort. */
  private def kmvSketchOf(th: DataFrame): DataFrame =
    th.withColumn("pid", spark_partition_id())
      .withColumn(
        "lrn",
        row_number().over(Window.partitionBy("event_type", "pid").orderBy("h")))
      .filter(col("lrn") <= KmvK)
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= KmvK)
      .select("event_type", "h", "rn")

  /** KMV (k-minimum-values) distinct-count sketch per event type
    * (Bar-Yossef et al. '02 / Beyer et al. SIGMOD'07), against the
    * exact count it estimates: n̂ = (k−1)·M/h₍k₎ with M the hash
    * space. The hash family is the engine-portable md5-derived 60-bit
    * one, so — unlike a sampled sketch — every estimate is
    * DETERMINISTIC and the oracle replays it bit-for-bit: the sketch
    * row is hash-checkable, not rows-only. Types whose universe is
    * smaller than k fall back to the exact count (the sketch IS the
    * set there). Scale shape: one distinct over (type, hash), then
    * the two-phase rank of [[kmvSketch]]; everything after is
    * alphabet-sized. */
  def qKmvSketch(s: SparkSession, d: String): DataFrame = {
    val th = kmvHashes(s, d)
    val kth = kmvSketchOf(th)
      .filter(col("rn") === KmvK)
      .select(col("event_type"), col("h").as("hk"))
    th.groupBy("event_type")
      .agg(count(lit(1)).as("n_exact"))
      .join(kth, Seq("event_type"), "left")
      .select(
        col("event_type"),
        col("n_exact"),
        round(
          when(col("hk").isNull, col("n_exact").cast("double"))
            .otherwise(
              lit((KmvK - 1).toDouble) * lit(KmvM.toDouble) /
                col("hk").cast("double")),
          4).as("n_kmv"))
      .withColumn(
        "rel_err",
        round(
          abs(col("n_kmv") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"),
          6))
      .transform(sortSmall(_, col("event_type")))
  }

  /** KMV sketch set algebra: pairwise union/intersection/Jaccard
    * estimates across event types from MERGED sketches — the
    * mergeable-sketch scale path of [[qAudienceOverlap]] (which joins
    * the full distinct membership table per pair). The k smallest of
    * A∪B are a subset of sk(A) ∪ sk(B), and any member of the merged
    * sketch that belongs to A is necessarily within sk(A) (h ≤
    * h₍k₎(A∪B) ≤ h₍k₎(A)), so union size, intersection share ρ and
    * Jaccard all read off the two k-row sketches — at 100 TB the
    * sketches are all that moves, one per (type, shard) partial then
    * merged, while the exact twin reshuffles the full membership
    * table. The exact Jaccard rides along as the evaluation column
    * (the [[qAnnRecall]] pattern: sketch + truth + error in one
    * report). Deterministic hash family → hash-checkable oracle. */
  def qKmvOverlap(s: SparkSession, d: String): DataFrame = {
    // cut: measured — uncut, the sketch's every consumer re-ranks the hashes: sf0.01 best 1.447 → 1.532 s
    val th = kmvHashes(s, d).transform(graft.operators.Materialize.cut)
    val sk =
      kmvSketchOf(th).drop("rn").transform(graft.operators.Materialize.cut) // cut: measured — as th
    val types = sk.select("event_type").distinct()
    val tp = types
      .select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val ma = tp
      .join(sk.withColumnRenamed("event_type", "type_a"), Seq("type_a"))
      .select(
        col("type_a"), col("type_b"), col("h"),
        lit(1L).as("ia"), lit(0L).as("ib"))
    val mb = tp
      .join(sk.withColumnRenamed("event_type", "type_b"), Seq("type_b"))
      .select(
        col("type_a"), col("type_b"), col("h"),
        lit(0L).as("ia"), lit(1L).as("ib"))
    val merged = ma
      .unionByName(mb)
      .groupBy("type_a", "type_b", "h")
      .agg(max("ia").as("ia"), max("ib").as("ib"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy("type_a", "type_b").orderBy("h")))
      .filter(col("rn") <= KmvK)
    val st = merged
      .groupBy("type_a", "type_b")
      .agg(
        count(lit(1)).as("n_merged"),
        max(when(col("rn") === KmvK, col("h"))).as("hk"),
        sum(col("ia") * col("ib")).as("n_inter_k"))
    val exact = th
      .select(col("event_type").as("type_a"), col("h"))
      .join(
        th.select(col("event_type").as("type_b"), col("h"))
          .hint("shuffle_hash"),
        "h")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
    val totals = th.groupBy("event_type").agg(count(lit(1)).as("n"))
    val estUnionRaw =
      when(col("hk").isNull, col("n_merged").cast("double"))
        .otherwise(
          lit((KmvK - 1).toDouble) * lit(KmvM.toDouble) /
            col("hk").cast("double"))
    val rho = col("n_inter_k").cast("double") / col("n_merged").cast("double")
    st.join(exact, Seq("type_a", "type_b"))
      .join(
        broadcast(totals.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        "type_a")
      .join(
        broadcast(totals.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        "type_b")
      .select(
        col("type_a"),
        col("type_b"),
        round(estUnionRaw, 4).as("est_union"),
        round(rho * estUnionRaw, 4).as("est_inter"),
        round(rho, 6).as("jaccard_kmv"),
        round(
          col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")).cast("double"),
          6).as("jaccard_exact"))
      .withColumn(
        "err",
        round(abs(col("jaccard_kmv") - col("jaccard_exact")), 6))
      .transform(sortSmall(_, col("type_a"), col("type_b")))
  }

  /** Step timeout of the time-constrained funnel — 1 h between
    * consecutive stages (the CEP "within" clause). */
  val FunnelStepUs = 3600000000L

  /** Time-constrained conversion funnel (CEP pattern match): users who
    * completed view → click → purchase with EACH step within 1 h of the
    * previous one, earliest-completion semantics (first view; first
    * click after it inside the window; first purchase after that click
    * inside the window). Unlike [[qFunnel]] (order-only), a stage that
    * arrives late kills the chain — the "within" clause of
    * CEP engines. Three chained full-partition window minima over ONE
    * (user_id) partitioning = a single exchange; the per-user chain
    * collapses via the same-key groupBy (no second shuffle), and the
    * stage table is integer-exact. */
  def qFunnelWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val perUser = Tables
      .events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn(
        "v_ts",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn(
        "c_ts",
        min(
          when(
            col("event_type") === "click" && col("ts_us") > col("v_ts") &&
              col("ts_us") - col("v_ts") <= FunnelStepUs,
            col("ts_us"))).over(w))
      .withColumn(
        "p_ts",
        min(
          when(
            col("event_type") === "purchase" && col("ts_us") > col("c_ts") &&
              col("ts_us") - col("c_ts") <= FunnelStepUs,
            col("ts_us"))).over(w))
      .groupBy("user_id")
      .agg(max("v_ts").as("v"), max("c_ts").as("c"), max("p_ts").as("p"))
    val agg = perUser.agg(
      sum(col("v").isNotNull.cast("long")).as("n_view"),
      sum(col("c").isNotNull.cast("long")).as("n_click_1h"),
      sum(col("p").isNotNull.cast("long")).as("n_purchase_1h"))
    agg.select(
      expr(
        "stack(3, '1_view', n_view, n_view," +
          " '2_click_1h', n_click_1h, n_view," +
          " '3_purchase_1h', n_purchase_1h, n_click_1h)")
        .as(Seq("stage", "n_users", "prev_users")))
      .select(
        col("stage"),
        col("n_users"),
        round(
          when(col("prev_users") > 0,
            col("n_users").cast("double") / col("prev_users")),
          6).as("conv_from_prev"))
      .transform(sortSmall(_, col("stage")))
  }

  /** Any-order funnel (the unordered complement of [[qFunnelWindow]]):
    * a user converts when SOME 1-hour window contains a view, a click,
    * and a purchase in ANY order — engagement-burst detection, where
    * the ordered funnel insists on the canonical sequence. The "exists
    * a window" scan needs no CEP engine: at each event, the per-type
    * RUNNING MAX timestamps say when each type was last seen, and the
    * window ending here contains all three iff the oldest of the three
    * is within [[FunnelStepUs]] — three running-max windows + one flag
    * max on ONE (user_id) partitioning, a single exchange, integer
    * arithmetic end to end. */
  def qFunnelAny(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def lastSeen(t: String): Column =
      max(when(col("event_type") === t, col("ts_us"))).over(w)
    val perUser = Tables
      .events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("lv", lastSeen("view"))
      .withColumn("lc", lastSeen("click"))
      .withColumn("lp", lastSeen("purchase"))
      .withColumn(
        "hit",
        (col("lv").isNotNull && col("lc").isNotNull && col("lp").isNotNull &&
          col("ts_us") - least(col("lv"), col("lc"), col("lp")) <= FunnelStepUs)
          .cast("long"))
      .groupBy("user_id")
      .agg(
        max("hit").as("converted"),
        (max(col("lv").isNotNull.cast("long")) +
          max(col("lc").isNotNull.cast("long")) +
          max(col("lp").isNotNull.cast("long")) === 3L).cast("long")
          .as("has_all_types"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum("has_all_types").as("n_all_types"),
      sum("converted").as("n_converted_1h"))
  }

  private val WeekDays = 7L

  /** Week-over-week revenue growth: weekly order revenue (exact integer
    * cents), WoW delta %, and the trailing-4-week moving average — the
    * standard BI growth panel. One aggregate over orders; the lag/avg
    * windows run over the week-count-bounded statistic table (a
    * calendar of weeks, never raw orders). */
  def qWowGrowth(s: SparkSession, d: String): DataFrame = {
    val weekly = Tables(s, d, "orders")
      .groupBy(
        expr(
          s"(unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV $DayUs) DIV $WeekDays")
          .as("week"))
      .agg(
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        count(lit(1)).as("n_orders"))
    val byWeek = Window.orderBy("week")
    val ma4 = byWeek.rowsBetween(-3, Window.currentRow)
    weekly
      .withColumn("prev_cents", lag("cents", 1).over(byWeek))
      .withColumn("ma4_sum", sum("cents").over(ma4))
      .withColumn("ma4_n", count(lit(1)).over(ma4))
      .select(
        (col("week") * WeekDays * DayUs).as("week_us"),
        col("n_orders"),
        (col("cents").cast("double") / 100.0d).as("revenue"),
        round(
          when(
            col("prev_cents") > 0,
            (col("cents") - col("prev_cents")).cast("double") /
              col("prev_cents").cast("double")),
          6).as("wow_growth"),
        round(
          col("ma4_sum").cast("double") /
            (lit(100.0d) * col("ma4_n").cast("double")),
          4).as("revenue_ma4"))
      .orderBy("week_us")
  }

  /** Cohort LTV curves: customers cohorted by their FIRST order week;
    * for each (cohort, age-in-weeks) the period revenue, the cumulative
    * revenue, and cumulative LTV per cohort member — the payback table
    * under every acquisition-spend decision. Per-customer first week is
    * one (custkey) aggregate joined back on the same key
    * (shuffle_hash — both sides customer-sized); the cumulative window
    * runs per cohort over age-bounded rows. Revenue is exact integer
    * cents until the final division. */
  def qCohortLtv(s: SparkSession, d: String): DataFrame = {
    val orders = Tables(s, d, "orders")
      .select(
        col("o_custkey"),
        expr(
          s"(unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV $DayUs) DIV $WeekDays")
          .as("week"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val cohorts =
      orders.groupBy("o_custkey").agg(min("week").as("cohort_week"))
    val cohortSize = cohorts
      .groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val cum = Window
      .partitionBy("cohort_week")
      .orderBy("age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .join(cohorts.hint("shuffle_hash"), "o_custkey")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_week"))
      .agg(sum("cents").as("period_cents"))
      .withColumn("cum_cents", sum("period_cents").over(cum))
      .join(broadcast(cohortSize), "cohort_week")
      .select(
        (col("cohort_week") * WeekDays * DayUs).as("cohort_week_us"),
        col("age_week"),
        col("cohort_users"),
        (col("period_cents").cast("double") / 100.0d).as("period_revenue"),
        (col("cum_cents").cast("double") / 100.0d).as("cum_revenue"),
        // explicit floor(x+0.5) tie rule: round() half-tie handling
        // differs across engines exactly when cents/users lands on a
        // 10⁻⁴ boundary (it did, at sf0.01 row 327)
        (floor(
          (col("cum_cents") * 100L).cast("double") /
            col("cohort_users").cast("double") + 0.5d)
          / 10000.0d).as("ltv_per_user"))
      .orderBy("cohort_week_us", "age_week")
  }

  /** Additive seasonal decomposition of the daily event count
    * (STL-lite): trend = centered 7-day moving average (defined only
    * where the full window exists), seasonal = mean detrended value per
    * day-of-week, residual = detrended − seasonal. The
    * trend/seasonality/anomaly split behind every traffic dashboard —
    * [[qSeasonality]] fingerprints the cycle, this SEPARATES it from
    * growth and noise.
    *
    * Exactness: detrended·7 = 7·count − Σ₇counts is an exact int64, so
    * trend, seasonal and residual are each ONE division (or one
    * fixed-order subtraction of two divisions) of exact integers —
    * engine-deterministic before the explicit floor(x·10⁴+0.5) tie
    * rule (round()'s half-tie handling is the one thing the engines do
    * differently). The day grid is dense (missing days = 0) so the
    * moving frame is truly 7 CALENDAR days. All windows run over the
    * day-count-bounded statistic table — never raw events. */
  def qSeasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val daily = Tables
      .events(s, d)
      .groupBy(expr(s"ts_us DIV $DayUs").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val dense = bounds
      .select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n_events"), lit(0L)).as("n_events"))
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val r4 = (c: Column) => floor(c * 10000.0d + 0.5d) / 10000.0d
    val det = dense
      .withColumn("sum7", sum("n_events").over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn(
        "det7",
        when(col("n7") === 7, col("n_events") * 7L - col("sum7")))
      .withColumn("dow", (col("day") + 4L) % 7L)
    val seasonal = det
      .filter(col("det7").isNotNull)
      .groupBy("dow")
      .agg(sum("det7").as("s_sum"), count(lit(1)).as("s_n"))
    det
      .join(broadcast(seasonal), Seq("dow"), "left")
      .select(
        (col("day") * DayUs).as("day_us"),
        col("dow"),
        col("n_events"),
        r4(
          when(col("n7") === 7, col("sum7").cast("double") / 7.0d))
          .as("trend"),
        r4(col("s_sum").cast("double") / (lit(7.0d) * col("s_n").cast("double")))
          .as("seasonal"),
        r4(
          col("det7").cast("double") / 7.0d -
            col("s_sum").cast("double") / (lit(7.0d) * col("s_n").cast("double")))
          .as("residual"))
      .orderBy("day_us")
  }

  val StlTopAnomalies = 5

  /** Seasonally-adjusted anomaly report — the days whose counts deviate
    * most AFTER removing trend and weekly seasonality (the complement
    * of [[qSpcDays]], which models raw counts and so re-flags every
    * weekend). Rides [[qSeasonalDecompose]]'s exact-integer residual:
    * |residual| ranks on the ROUNDED value (day tiebreak) so the top-k
    * cut is engine-stable; only full-frame days compete. */
  def qStlAnomaly(s: SparkSession, d: String): DataFrame = {
    val dec = qSeasonalDecompose(s, d)
    val w = Window.orderBy(abs(col("residual")).desc, col("day_us"))
    dec
      .filter(col("residual").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= StlTopAnomalies)
      .select("rank", "day_us", "dow", "n_events", "trend", "seasonal", "residual")
      .transform(sortSmall(_, col("rank")))
  }

  /** Seasonality / trend strength (Hyndman's Fs/Ft): how much of the
    * daily-count variance the weekly cycle and the trend each explain —
    * the one-number summary that says whether [[qSeasonalDecompose]]'s
    * components are signal or noise. Components arrive as 4-dp-rounded
    * doubles (already engine-exact); each is re-quantized to int64
    * ten-thousandths so every variance is decimal-exact sums of
    * integers — no float accumulates — and the two strength ratios are
    * scalar IEEE at the end. One row. */
  def qSeasonalStrength(s: SparkSession, d: String): DataFrame = {
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val q4 = (c: Column) => floor(c * 10000.0d + 0.5d).cast("long")
    val base = qSeasonalDecompose(s, d)
      .filter(col("residual").isNotNull)
      .select(
        q4(col("residual")).as("rq"),
        (q4(col("seasonal")) + q4(col("residual"))).as("dq"),
        (col("n_events") * 10000L - q4(col("seasonal"))).as("tq"))
    val g = base.agg(
      count(lit(1)).as("n"),
      sum("rq").as("sr"),
      sum(dec38(col("rq")) * col("rq")).as("srr"),
      sum("dq").as("sd"),
      sum(dec38(col("dq")) * col("dq")).as("sdd"),
      sum("tq").as("st"),
      sum(dec38(col("tq")) * col("tq")).as("stt"))
    g.selectExpr(
      "n",
      "CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS vr",
      "CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS vd",
      "CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS vt")
      .select(
        col("n").as("n_days"),
        floor6(greatest(lit(0.0d), lit(1.0d) - col("vr") / col("vd")))
          .as("strength_seasonal"),
        floor6(greatest(lit(0.0d), lit(1.0d) - col("vr") / col("vt")))
          .as("strength_trend"))
  }

  private def floor6(c: Column): Column =
    floor(c * 1000000.0d + 0.5d) / 1000000.0d

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** TPC-H Q15 shape (top supplier by period revenue): per-supplier
    * revenue over a ship-date quarter, keep the argmax — the correlated
    * `WHERE total = (SELECT max(...))` decorrelated into one supplier
    * aggregate + a one-row max broadcast. Revenue is EXACT int64
    * ten-thousandths (price-cents × (100−discount-cents)) so the max
    * comparison — the part a float sum would make engine-dependent — is
    * integer equality. */
  def qTopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables(s, d, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(
        sum(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)") *
            (lit(100L) - expr("CAST(round(l_discount * 100) AS BIGINT)")))
          .as("rev_e4"))
    val mx = rev.agg(max("rev_e4").as("mx"))
    rev
      .crossJoin(broadcast(mx))
      .filter(col("rev_e4") === col("mx"))
      .join(broadcast(Tables(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(
        col("s_suppkey"),
        col("s_name"),
        (col("rev_e4").cast("double") / 10000.0d).as("total_revenue"))
      .transform(sortSmall(_, col("s_suppkey")))
  }

  /** "Late" for [[qWaitingSuppliers]]: shipped > 90 days after the
    * order date (this schema has no commit/receipt dates). */
  val LateAfterDays = 90L

  /** TPC-H Q21 shape (suppliers who kept orders waiting): for
    * multi-supplier orders, the suppliers who were the ONLY late
    * shipper — the classic EXISTS / NOT EXISTS pair decorrelated into
    * ONE (orderkey, suppkey) aggregate + one orderkey aggregate: per
    * order, the distinct-supplier count, the late-supplier count, and
    * the single late supplier when there is exactly one (max over a
    * null-unless-late key — no second pass, no self-joins of the fact
    * table). Integer counts end to end. */
  def qWaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val perSupp = Tables(s, d, "lineitem")
      .join(
        Tables(s, d, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      // ONE fact shuffle for BOTH stacked aggregates (r15, guide §2.4):
      // hash(l_orderkey) satisfies the (l_orderkey, l_suppkey) grouping
      // AND the per-order rollup, where the natural plan exchanged the
      // fact rows twice — once per grouping key set. The traded-away
      // map-side partial agg bought ~nothing here ((order, supp) groups
      // ≈ lineitem rows on this schema).
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(
        max(
          (Tables.tsUsOf(col("l_shipdate")) - Tables.tsUsOf(col("o_orderdate")) >
            lit(LateAfterDays * DayUs)).cast("long")).as("late"))
    val perOrder = perSupp
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_supp"),
        sum("late").as("n_late"),
        max(when(col("late") === 1L, col("l_suppkey"))).as("lone_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1L)
    perOrder
      .groupBy(col("lone_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables(s, d, "supplier").select("s_suppkey", "s_name")), "s_suppkey")
      .select("s_suppkey", "s_name", "numwait")
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
      .transform(sortSmall(_, col("numwait").desc, col("s_suppkey")))
  }

  val BootstrapB = 64

  /** Poisson-bootstrap thresholds: cumulative Poisson(1) CDF scaled to
    * integer millionths — the weight is a pure integer-compare chain on
    * a 6-digit hash, identical in both engines. (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google TR'12 —
    * the standard way to bootstrap when you cannot materialize B
    * resamples: each row draws an independent Poisson(1) REPLICATION
    * WEIGHT per resample, so one pass computes all B statistics.) */
  private val PoissonCum: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L, 999990L)

  /** Bootstrap confidence interval for the mean order value — the
    * uncertainty attached to every dashboard number, computed the only
    * way that scales: B=64 Poisson(1) replication weights per row
    * (deterministic per (orderkey, b) from the shared md5 family), one
    * map-side-combinable (b) aggregate — the shuffle carries B·partitions
    * partial sums, never resampled data — then the 2.5%/97.5% order
    * statistics of the 64 exact-ratio means. Every mean is ONE division
    * of int64 sums; the CI picks are rank selections (no interpolation),
    * so the whole interval is engine-exact. */
  def qBootstrapCi(s: SparkSession, d: String): DataFrame = {
    // The B draws derive from TWO md5 digests per ORDER via the
    // m_b = a + b·step + b²·C family (the minhash-permutation trick,
    // same Hashing.md5Long/md5Long2 pair): a per-(order, b) digest
    // would hash B× the corpus and dominates the whole query at scale
    // (measured 8× superlinear in BENCH_SCALING before this form).
    // The quadratic b²·C term (C = Knuth's 2654435761) breaks the
    // arithmetic-lattice structure a purely linear a + b·step family
    // leaves mod 10⁶ (evenly spaced draws = stratified, mildly
    // underdispersed resamples); a ≤ 2⁶⁰ + B·2⁴⁰ + B²·2³² keeps the
    // chain overflow-free in both engines (DuckDB errors on int64
    // overflow rather than wrapping); % == pmod on non-negative
    // values. Residual tradeoff vs a true per-(order, b) digest: draws
    // within an order are still deterministic functions of two
    // digests, not 64 independent ones — the accepted cost of one
    // digest pass per order.
    val weight = {
      val m = (col("ha") + col("b") * col("hb") +
        col("b") * col("b") * lit(2654435761L)).mod(lit(1000000L))
      PoissonCum.zipWithIndex.foldRight(lit(PoissonCum.size.toLong)) {
        case ((thr, i), els) => when(m < thr, i.toLong).otherwise(els)
      }
    }
    val seed = concat(lit("bs:"), col("o_orderkey").cast("string"))
    val rs = Tables(s, d, "orders")
      .select(
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        graft.functions.Hashing.md5Long(seed).as("ha"),
        graft.functions.Hashing.md5Long2(seed).as("hb"))
      .select(
        col("cents"),
        col("ha"),
        col("hb"),
        explode(expr(s"sequence(1, $BootstrapB)")).as("b"))
      .select(col("b"), col("cents"), weight.as("w"))
      .groupBy("b")
      .agg(
        sum(col("w") * col("cents")).as("wc"),
        sum("w").as("wn"))
      .select(
        col("b"),
        (col("wc").cast("double") / (col("wn") * 100L).cast("double")).as("mean_b"))
    val ranked = rs
      .withColumn(
        "rk",
        row_number().over(Window.orderBy(col("mean_b"), col("b"))).cast("long"))
    val point = Tables(s, d, "orders")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("tot"))
      .select(
        col("n_orders"),
        (col("tot").cast("double") / (col("n_orders") * 100L).cast("double"))
          .as("mean_value"))
    val lo = math.max(1, (0.025 * BootstrapB).toInt + 1) // rank 2 of 64
    val hi = (0.975 * BootstrapB).toInt // rank 62 of 64
    point
      .crossJoin(broadcast(
        ranked.filter(col("rk") === lo).select(col("mean_b").as("ci_lo"))))
      .crossJoin(broadcast(
        ranked.filter(col("rk") === hi).select(col("mean_b").as("ci_hi"))))
      .select(
        col("n_orders"),
        lit(BootstrapB.toLong).as("n_resamples"),
        // floor tie rule: a mean of exact-integer ratios CAN land on a
        // 10⁻⁴ boundary, where round() half-ties diverge across engines
        (floor(col("mean_value") * 10000.0d + 0.5d) / 10000.0d).as("mean_value"),
        (floor(col("ci_lo") * 10000.0d + 0.5d) / 10000.0d).as("ci_lo"),
        (floor(col("ci_hi") * 10000.0d + 0.5d) / 10000.0d).as("ci_hi"))
  }

  /** ABC inventory classification: parts ranked by revenue, class A =
    * the head covering 80% of revenue, B to 95%, C the tail — the
    * classic Pareto segmentation behind stocking policy. Revenue is
    * exact int64 cents; the cumulative share runs over the PART-sized
    * statistic table (dimension-sized, like q_skyline's survivor stage
    * — never lineitem), and each share is one integer division. */
  def qAbcAnalysis(s: SparkSession, d: String): DataFrame = {
    val perPart = Tables(s, d, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
    val w = Window.orderBy(col("cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perPart
      .crossJoin(broadcast(perPart.agg(sum("cents").as("tot"))))
      .withColumn("cum", sum("cents").over(w))
      .withColumn(
        "abc_class",
        when(col("cum").cast("double") / col("tot").cast("double") <= 0.80d, "A")
          .when(col("cum").cast("double") / col("tot").cast("double") <= 0.95d, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(
        count(lit(1)).as("n_parts"),
        (sum("cents").cast("double") / 100.0d).as("revenue"),
        round(sum("cents").cast("double") / max("tot").cast("double"), 6)
          .as("revenue_share"))
      .transform(sortSmall(_, col("abc_class")))
  }

  /** Boundary for [[qDecileMigration]]'s two periods. */
  val MigrationSplit = "1998-01-01"

  /** Customer spend-quintile migration across two periods — the
    * "did our best customers stay our best customers" transition
    * matrix (upgrade/downgrade/churn/new flows). Per-period per-
    * customer cents (one aggregate each), quintiles via ntile over the
    * customer-sized statistic table (cents desc, custkey tiebreak —
    * fully ordered so ntile is deterministic), full-outer join on the
    * customer key; quintile 0 encodes absent-in-period. Integer-exact
    * end to end. */
  def qDecileMigration(s: SparkSession, d: String): DataFrame = {
    def period(pred: Column, q: String): DataFrame =
      Tables(s, d, "orders")
        .filter(pred)
        .groupBy("o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .withColumn(
          q,
          ntile(5).over(Window.orderBy(col("cents").desc, col("o_custkey")))
            .cast("long"))
        .select(col("o_custkey"), col(q))
    val split = lit(MigrationSplit).cast("timestamp")
    period(col("o_orderdate") < split, "q_from")
      .join(period(col("o_orderdate") >= split, "q_to"), Seq("o_custkey"), "full_outer")
      .groupBy(
        coalesce(col("q_from"), lit(0L)).as("q_from"),
        coalesce(col("q_to"), lit(0L)).as("q_to"))
      .agg(count(lit(1)).as("n_customers"))
      .transform(sortSmall(_, col("q_from"), col("q_to")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> q1Agg _,
    "q3_join" -> q3Join _,
    "q5_join" -> q5Join _,
    "q_topk_per_group" -> qTopkPerGroup _,
    "q_running_sum" -> qRunningSum _,
    "q_sessionize" -> qSessionize _,
    "q_debounce" -> qDebounce _,
    "q_journeys" -> qJourneys _,
    "q_window_tumbling" -> qWindowTumbling _,
    "q_window_sliding" -> qWindowSliding _,
    "q_asof_join" -> qAsofJoin _,
    "q_distinct_users" -> qDistinctUsers _,
    "q_range_join" -> qRangeJoin _,
    "q_percentiles" -> qPercentiles _,
    "q_event_deltas" -> qEventDeltas _,
    "q_ohlc_bars" -> qOhlcBars _,
    "q_twap" -> qTwap _,
    "q_ema" -> qEma _,
    "q_transitions" -> qTransitions _,
    "q_seq_patterns" -> qSeqPatterns _,
    "q_entry_exit" -> qEntryExit _,
    "q_funnel_any" -> qFunnelAny _,
    "q_attribution_decay" -> qAttributionDecay _,
    "q_attribution_markov" -> qAttributionMarkov _,
    "q_attribution_shapley" -> qAttributionShapley _,
    "q_attribution" -> qAttribution _,
    "q_rfm" -> qRfm _,
    "q_benford" -> qBenford _,
    "q_regression" -> qRegression _,
    "q_cume_dist" -> qCumeDist _,
    "q_retention" -> qRetention _,
    "q_group_stats" -> qGroupStats _,
    "q_json_extract" -> qJsonExtract _,
    "q_funnel" -> qFunnel _,
    "q_rollup" -> qRollup _,
    "q_cube" -> qCube _,
    "q_grouping_sets" -> qGroupingSets _,
    "q_share" -> qShare _,
    "q_scd2" -> qScd2 _,
    "q_pivot" -> qPivot _,
    "q_approx_distinct" -> qApproxDistinct _,
    "q_approx_percentiles" -> qApproxPercentiles _,
    "q_semi_join" -> qSemiJoin _,
    "q_anti_join" -> qAntiJoin _,
    "q_zorder" -> qZorder _,
    "q_hilbert" -> qHilbert _,
    "q_ntile" -> qNtile _,
    "q_nearest_event" -> qNearestEvent _,
    "q_resample" -> qResample _,
    "q_key_profile" -> qKeyProfile _,
    "q_rolling_count" -> qRollingCount _,
    "q_winsorize" -> qWinsorize _,
    "q_mad" -> qMad _,
    "q_hll_rollup" -> qHllRollup _,
    "q_streaks" -> qStreaks _,
    "q_concurrency" -> qConcurrency _,
    "q_autocorr" -> qAutocorr _,
    "q_cusum" -> qCusum _,
    "q_pettitt" -> qPettitt _,
    "q_page_hinkley" -> qPageHinkley _,
    "q_ccf" -> qCcf _,
    "q_kendall_tau" -> qKendallTau _,
    "q_binseg" -> qBinseg _,
    "q_fano" -> qFano _,
    "q_spc_days" -> qSpcDays _,
    "q_seasonality" -> qSeasonality _,
    "q_ab_test" -> qAbTest _,
    "q_interpolate" -> qInterpolate _,
    "q_funnel_latency" -> qFunnelLatency _,
    "q_ks_test" -> qKsTest _,
    "q_fdr_bh" -> qFdrBh _,
    "q_granger" -> qGranger _,
    "q_psi_drift" -> qPsiDrift _,
    "q_mwu_drift" -> qMwuDrift _,
    "q_basket_pairs" -> qBasketPairs _,
    "q_basket_rules" -> qBasketRules _,
    "q_fulfillment" -> qFulfillment _,
    "q_small_qty" -> qSmallQty _,
    "q_chi2_independence" -> qChi2Independence _,
    "q_mutual_info" -> qMutualInfo _,
    "q_source_entropy" -> qSourceEntropy _,
    "q_rolling_active" -> qRollingActive _,
    "q_skyline" -> qSkyline _,
    "q_attribution_u" -> qAttributionU _,
    "q_ref_integrity" -> qRefIntegrity _,
    "q_gini" -> qGini _,
    "q_new_returning" -> qNewReturning _,
    "q_stickiness" -> qStickiness _,
    "q_hhi" -> qHhi _,
    "q_holt" -> qHolt _,
    "q_theta_forecast" -> qThetaForecast _,
    "q_holt_winters" -> qHoltWinters _,
    "q_audience_overlap" -> qAudienceOverlap _,
    "q_kmv_sketch" -> qKmvSketch _,
    "q_kmv_overlap" -> qKmvOverlap _,
    "q_funnel_window" -> qFunnelWindow _,
    "q_wow_growth" -> qWowGrowth _,
    "q_cohort_ltv" -> qCohortLtv _,
    "q_seasonal_decompose" -> qSeasonalDecompose _,
    "q_seasonal_strength" -> qSeasonalStrength _,
    "q_stl_anomaly" -> qStlAnomaly _,
    "q_top_supplier" -> qTopSupplier _,
    "q_waiting_suppliers" -> qWaitingSuppliers _,
    "q_bootstrap_ci" -> qBootstrapCi _,
    "q_abc_analysis" -> qAbcAnalysis _,
    "q_decile_migration" -> qDecileMigration _
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT o_orderkey,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |       max(epoch_us(o_orderdate)) AS o_orderdate_us
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_join" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_topk_per_group" ->
      """SELECT p_brand,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rank,
        |       p_partkey, p_name, p_retailprice
        |FROM part
        |QUALIFY rank <= 3
        |ORDER BY p_brand, rank""".stripMargin,
    "q_running_sum" ->
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_sessionize" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM gaps),
        |sessions AS (
        |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |       round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_funnel_any" ->
      s"""WITH f AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         |r AS (
         |  SELECT user_id, ts_us,
         |         max(CASE WHEN event_type = 'view' THEN ts_us END) OVER w AS lv,
         |         max(CASE WHEN event_type = 'click' THEN ts_us END) OVER w AS lc,
         |         max(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER w AS lp
         |  FROM f
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |per AS (
         |  SELECT user_id,
         |         max(CASE WHEN lv IS NOT NULL AND lc IS NOT NULL AND lp IS NOT NULL
         |                  AND ts_us - least(lv, lc, lp) <= $FunnelStepUs THEN 1 ELSE 0 END) AS converted,
         |         CAST(max(CASE WHEN lv IS NOT NULL THEN 1 ELSE 0 END)
         |            + max(CASE WHEN lc IS NOT NULL THEN 1 ELSE 0 END)
         |            + max(CASE WHEN lp IS NOT NULL THEN 1 ELSE 0 END) = 3 AS BIGINT) AS has_all_types
         |  FROM r GROUP BY 1)
         |SELECT count(*) AS n_users,
         |       CAST(sum(has_all_types) AS BIGINT) AS n_all_types,
         |       CAST(sum(converted) AS BIGINT) AS n_converted_1h
         |FROM per""".stripMargin,
    "q_entry_exit" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM gaps),
        |sessions AS (
        |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |ranked AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts_us, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts_us DESC, event_id DESC) AS rn_d,
        |         count(*) OVER (PARTITION BY user_id, session_id) AS n
        |  FROM sessions),
        |entries AS (
        |  SELECT event_type, count(*) AS n_entries,
        |         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces
        |  FROM ranked WHERE rn_a = 1 GROUP BY 1),
        |exits AS (
        |  SELECT event_type, count(*) AS n_exits FROM ranked WHERE rn_d = 1 GROUP BY 1)
        |SELECT event_type,
        |       coalesce(n_entries, 0) AS n_entries,
        |       coalesce(n_exits, 0) AS n_exits,
        |       coalesce(n_bounces, 0) AS n_bounces,
        |       CASE WHEN coalesce(n_entries, 0) > 0
        |            THEN floor(CAST(coalesce(n_bounces, 0) AS DOUBLE) / CAST(n_entries AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |            END AS bounce_rate
        |FROM entries FULL OUTER JOIN exits USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q_journeys" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM gaps),
        |sessions AS (
        |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |paths AS (
        |  SELECT user_id, session_id,
        |         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT path, count(*) AS n_sessions
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q_window_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
        |w AS (SELECT event_type, value,
        |             (ts_us // 900000000) * 900000000 - k * 900000000 AS window_start_us
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
        |SELECT window_start_us, event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, value, event_type,
        |         CASE WHEN event_type = 'view' THEN value END AS view_value
        |  FROM events WHERE event_type IN ('view', 'click')),
        |filled AS (
        |  SELECT *, LAST_VALUE(view_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_value
        |  FROM ev)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS click_value, last_view_value
        |FROM filled WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_range_join" ->
      """WITH e AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_ts
        |           FROM events WHERE event_type = 'error'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT e.user_id, error_id, purchase_id, p_ts - e_ts AS delta_us
        |FROM e JOIN p ON e.user_id = p.user_id AND abs(p_ts - e_ts) <= 3600000000
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_event_deltas" ->
      """SELECT event_id, user_id,
        |       coalesce(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1) AS delta_us,
        |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq_in_user
        |FROM events
        |ORDER BY event_id""".stripMargin,
    // open/close via the same total (ts, event_id) order on both
    // engines; raw values carry no float arithmetic
    "q_ohlc_bars" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |         event_type, value, event_id
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY bucket_us, event_type ORDER BY ts_us, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY bucket_us, event_type ORDER BY ts_us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT bucket_us, event_type,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       count(*) AS volume,
        |       round(sum(value), 2) AS sum_value
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_twap" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
        |l AS (
        |  SELECT user_id, value,
        |         lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dt
        |  FROM e),
        |f AS (SELECT * FROM l WHERE dt IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(dt) AS BIGINT) AS span_us,
        |       round(sum(value * dt) / sum(dt), 4) AS twap
        |FROM f GROUP BY user_id HAVING sum(dt) > 0 ORDER BY user_id""".stripMargin,
    "q_ema" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
         |s AS (
         |  SELECT user_id, list(value ORDER BY ts_us, event_id) AS seq
         |  FROM e GROUP BY user_id)
         |SELECT user_id, CAST(len(seq) AS BIGINT) AS n_events,
         |       round(list_reduce(seq, (a, x) -> $EmaAlpha * x + ${1 - EmaAlpha} * a), 4) AS ema
         |FROM s ORDER BY user_id""".stripMargin,
    "q_seq_patterns" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS t, epoch_us(ts) AS ts_us FROM events),
        |mm AS (
        |  SELECT user_id, t, min(ts_us) AS mn, max(ts_us) AS mx
        |  FROM ev GROUP BY 1, 2),
        |nu AS (SELECT count(DISTINCT user_id) AS n_total FROM ev),
        |pairs AS (
        |  SELECT a.t AS ta, b.t AS tb, count(*) AS n_users
        |  FROM mm a JOIN mm b ON a.user_id = b.user_id AND a.mn < b.mx
        |  GROUP BY 1, 2),
        |tab AS (
        |  SELECT a.user_id, a.t AS ta, e.t AS tb, min(e.ts_us) AS t_ab
        |  FROM mm a JOIN ev e ON e.user_id = a.user_id AND e.ts_us > a.mn
        |  GROUP BY 1, 2, 3),
        |triples AS (
        |  SELECT tab.ta, tab.tb, c.t AS tc, count(*) AS n_users
        |  FROM tab JOIN mm c ON c.user_id = tab.user_id AND tab.t_ab < c.mx
        |  GROUP BY 1, 2, 3),
        |pat AS (
        |  SELECT 'pair' AS kind, ta || '>' || tb AS pattern, n_users FROM pairs
        |  UNION ALL
        |  SELECT 'triple', ta || '>' || tb || '>' || tc, n_users FROM triples)
        |SELECT kind, pattern, n_users,
        |       round(CAST(n_users AS DOUBLE) / n_total, 6) AS support
        |FROM pat CROSS JOIN nu
        |ORDER BY kind, n_users DESC, pattern""".stripMargin,
    "q_transitions" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM gaps),
        |sessions AS (
        |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |steps AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type,
        |         LEAD(session_id) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_session,
        |         session_id
        |  FROM sessions),
        |counts AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM steps WHERE to_type IS NOT NULL AND next_session = session_id
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |       round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM counts ORDER BY from_type, to_type""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |w AS (
        |  SELECT *,
        |         first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click_id,
        |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
        |         last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us,
        |       first_click_id, last_click_id, ts_us - last_click_ts AS last_click_lag_us
        |FROM w WHERE event_type = 'purchase' AND last_click_id IS NOT NULL
        |ORDER BY purchase_id""".stripMargin,
    "q_rfm" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |a AS (
        |  SELECT user_id, max(ts_us) AS last_ts_us, count(*) AS n_events,
        |         round(sum(value), 2) AS monetary
        |  FROM e GROUP BY user_id),
        |t AS (
        |  SELECT *,
        |         CAST(ntile(5) OVER (ORDER BY last_ts_us DESC, user_id) AS BIGINT) AS r,
        |         CAST(ntile(5) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS f,
        |         CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m
        |  FROM a)
        |SELECT user_id, last_ts_us, CAST(n_events AS BIGINT) AS n_events, monetary,
        |       r, f, m, r * 100 + f * 10 + m AS segment
        |FROM t ORDER BY user_id""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]', 0) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
        |SELECT digit, n, round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS p,
        |       round(log10(1.0 + 1.0 / digit), 6) AS benford_p
        |FROM g ORDER BY digit""".stripMargin,
    "q_cume_dist" ->
      """SELECT event_id, event_type, value,
        |       round(cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS pct
        |FROM events ORDER BY event_id""".stripMargin,
    "q_regression" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, value FROM events),
        |w AS (
        |  SELECT event_type,
        |         (ts_us - min(ts_us) OVER (PARTITION BY event_type)) // 1000000 AS x,
        |         CAST(floor(value * 100) AS BIGINT) AS y
        |  FROM e),
        |g AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
        |         CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM w GROUP BY event_type),
        |c AS (
        |  SELECT event_type, n,
        |         CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
        |         CAST(sxx AS DOUBLE) AS dsxx, CAST(sxy AS DOUBLE) AS dsxy, CAST(syy AS DOUBLE) AS dsyy
        |  FROM g),
        |f AS (
        |  SELECT event_type, n, dn, dsx, dsy,
        |         dn * dsxy - dsx * dsy AS num,
        |         dn * dsxx - dsx * dsx AS denx,
        |         dn * dsyy - dsy * dsy AS deny
        |  FROM c)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       round(num / denx * 864.0, 6) AS slope_per_day,
        |       round((dsy - num / denx * dsx) / dn / 100.0, 4) AS intercept,
        |       round(num * num / (denx * deny), 6) AS r2
        |FROM f ORDER BY event_type""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |cells AS (
        |  SELECT DISTINCT f.cohort_day,
        |         datediff('day', f.cohort_day, e.day) AS day_offset,
        |         e.user_id
        |  FROM e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
        |       count(*) AS n_users
        |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |       count(CAST(props->>'k' AS BIGINT)) AS n_parsed,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       round(avg(CAST(props->>'k' AS BIGINT)), 4) AS avg_k,
        |       min(CAST(props->>'k' AS BIGINT)) AS min_k,
        |       max(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_funnel" ->
      """WITH st AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, ts,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_view
        |  FROM events),
        |st2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND t_view IS NOT NULL THEN ts_us END)
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_click
        |  FROM st),
        |st3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t_click IS NOT NULL THEN ts_us END)
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_purchase
        |  FROM st2),
        |per_user AS (
        |  SELECT user_id,
        |         max(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS v,
        |         max(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS c,
        |         max(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS p
        |  FROM st3 GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |       CAST(sum(v) AS BIGINT) AS reached_view,
        |       CAST(sum(c) AS BIGINT) AS reached_click,
        |       CAST(sum(p) AS BIGINT) AS reached_purchase
        |FROM per_user""".stripMargin,
    "q_group_stats" ->
      """SELECT l_returnflag,
        |       count(*) AS n,
        |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        |       round(stddev_samp(l_discount), 4) AS stddev_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q_grouping_sets" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |SELECT event_type, day,
        |       CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       round(sum(value), 2) AS sum_value
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, day), (event_type), (day))
        |ORDER BY gid, event_type, day""".stripMargin,
    "q_share" ->
      """WITH a AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY day), 6) AS share
        |FROM a ORDER BY day, event_type""".stripMargin,
    "q_scd2" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS valid_from_us, value,
        |         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
        |  FROM events)
        |SELECT event_id, user_id, valid_from_us, value, valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM e ORDER BY event_id""".stripMargin,
    "q_debounce" ->
      s"""WITH g AS (
         |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
         |  FROM events)
         |SELECT event_id, user_id, event_type, ts_us, ts_us - prev_us AS gap_us
         |FROM g
         |WHERE prev_us IS NULL OR ts_us - prev_us > $DebounceGapUs
         |ORDER BY event_id""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '2000-06-01 00:00:00')
        |ORDER BY o_orderkey""".stripMargin,
    // same spread table (Layout.SpreadRounds) interpolated on both
    // engines — the bitwise formula cannot drift
    "q_zorder" ->
      s"""SELECT event_id, user_id,
         |       ${graft.sources.Layout.zvalueSql("user_id", "event_id")} AS z
         |FROM events ORDER BY z, event_id LIMIT 50""".stripMargin,
    "q_hilbert" -> {
      val bits = HilbertBits
      val mask = (1L << bits) - 1
      s"""WITH hb AS (
         |  SELECT event_id, user_id,
         |         CAST(user_id AS BIGINT) & $mask AS hx,
         |         CAST(event_id AS BIGINT) & $mask AS hy,
         |         CAST(0 AS BIGINT) AS hd
         |  FROM events),
         |${graft.sources.Layout.hilbertCtes("hb", bits, Seq("event_id", "user_id"))}
         |SELECT event_id, user_id, hd AS h
         |FROM hr$bits ORDER BY h, event_id LIMIT 50""".stripMargin
    },
    "q_ntile" ->
      """WITH banded AS (
        |  SELECT event_type, value,
        |         CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS decile
        |  FROM events)
        |SELECT event_type, decile, count(*) AS n,
        |       round(min(value), 4) AS lo,
        |       round(max(value), 4) AS hi,
        |       round(sum(value), 2) AS sum_value
        |FROM banded GROUP BY event_type, decile
        |ORDER BY event_type, decile""".stripMargin,
    "q_nearest_event" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, ts,
        |         CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_ts,
        |         CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('view', 'click')),
        |ctx AS (
        |  SELECT *,
        |         LAST_VALUE(view_ts IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
        |         LAST_VALUE(view_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
        |         FIRST_VALUE(view_ts IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts,
        |         FIRST_VALUE(view_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id
        |  FROM ev)
        |SELECT event_id, user_id,
        |       CASE WHEN prev_ts IS NOT NULL AND (next_ts IS NULL OR ts_us - prev_ts <= next_ts - ts_us)
        |            THEN prev_id ELSE next_id END AS nearest_view_id,
        |       CASE WHEN prev_ts IS NOT NULL AND (next_ts IS NULL OR ts_us - prev_ts <= next_ts - ts_us)
        |            THEN prev_ts - ts_us
        |            ELSE next_ts - ts_us END AS delta_us
        |FROM ctx WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "q_resample" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) // 3600000000 AS hour
        |  FROM events),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(min(hour), max(hour))) AS hour
        |  FROM ev GROUP BY user_id),
        |per_hour AS (
        |  SELECT user_id, hour, count(*) AS n_events,
        |         (max(struct_pack(t := ts_us, e := event_id, v := value))).v AS v
        |  FROM ev GROUP BY user_id, hour),
        |joined AS (
        |  SELECT g.user_id, g.hour, p.n_events, p.v
        |  FROM grid g LEFT JOIN per_hour p ON g.user_id = p.user_id AND g.hour = p.hour)
        |SELECT user_id, hour * 3600000000 AS hour_us,
        |       coalesce(n_events, 0) AS n_events,
        |       LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_value
        |FROM joined
        |ORDER BY user_id, hour_us""".stripMargin,
    "q_rolling_count" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_trailing_1h
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_mad" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |       round(min(m.med), 4) AS median,
        |       round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        |FROM events e JOIN med m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_winsorize" ->
      """WITH stats AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |       round(min(s.lo), 4) AS p05, round(min(s.hi), 4) AS p95,
        |       count(CASE WHEN e.value < s.lo THEN 1 END) AS n_lo,
        |       count(CASE WHEN e.value > s.hi THEN 1 END) AS n_hi,
        |       round(avg(e.value), 4) AS avg_raw,
        |       round(avg(least(greatest(e.value, s.lo), s.hi)), 4) AS avg_winsorized
        |FROM events e JOIN stats s USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_key_profile" ->
      """WITH counts AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
        |SELECT count(*) AS n_keys,
        |       CAST(sum(cnt) AS BIGINT) AS n_rows,
        |       max(cnt) AS max_cnt,
        |       round(avg(cnt), 4) AS avg_cnt,
        |       round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
        |       round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
        |       (max(struct_pack(c := cnt, u := user_id))).u AS top_key,
        |       round(max(cnt) / avg(cnt), 4) AS skew_ratio
        |FROM counts""".stripMargin,
    "q_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |st AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |       count(*) AS n_streaks, max(len) AS max_streak
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_concurrency" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |marked AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM gaps),
        |sessions AS (
        |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us
        |  FROM sessions GROUP BY user_id, session_id),
        |pts AS (
        |  SELECT user_id, session_id, start_us AS pt_us, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, session_id, end_us AS pt_us, CAST(-1 AS BIGINT) AS delta FROM sess),
        |swept AS (
        |  SELECT pt_us, delta,
        |         CAST(SUM(delta) OVER (ORDER BY pt_us, delta DESC, user_id, session_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrent
        |  FROM pts)
        |SELECT (pt_us // 3600000000) * 3600000000 AS hour_us,
        |       max(concurrent) AS max_concurrent, count(*) AS n_boundaries
        |FROM swept GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_autocorr" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM counts GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM bounds),
        |series AS (
        |  SELECT g.event_type, g.hr, CAST(coalesce(c.n, 0) AS BIGINT) AS x
        |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.hr = c.hr),
        |lagged AS (
        |  SELECT event_type, x,
        |         LEAD(x, 1) OVER (PARTITION BY event_type ORDER BY hr) AS y1,
        |         LEAD(x, 24) OVER (PARTITION BY event_type ORDER BY hr) AS y24
        |  FROM series),
        |agg AS (
        |  SELECT event_type, count(*) AS n_hours,
        |         CAST(count(y1) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN y1 IS NOT NULL THEN x END) AS BIGINT) AS sx1,
        |         CAST(sum(y1) AS BIGINT) AS sy1,
        |         CAST(sum(x * y1) AS BIGINT) AS sxy1,
        |         CAST(sum(CASE WHEN y1 IS NOT NULL THEN x * x END) AS BIGINT) AS sxx1,
        |         CAST(sum(y1 * y1) AS BIGINT) AS syy1,
        |         CAST(count(y24) AS BIGINT) AS n24,
        |         CAST(sum(CASE WHEN y24 IS NOT NULL THEN x END) AS BIGINT) AS sx24,
        |         CAST(sum(y24) AS BIGINT) AS sy24,
        |         CAST(sum(x * y24) AS BIGINT) AS sxy24,
        |         CAST(sum(CASE WHEN y24 IS NOT NULL THEN x * x END) AS BIGINT) AS sxx24,
        |         CAST(sum(y24 * y24) AS BIGINT) AS syy24
        |  FROM lagged GROUP BY event_type)
        |SELECT event_type, n_hours,
        |       round(CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE) /
        |             sqrt(CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE) * CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE)), 4) AS r_lag1,
        |       round(CAST(n24 * sxy24 - sx24 * sy24 AS DOUBLE) /
        |             sqrt(CAST(n24 * sxx24 - sx24 * sx24 AS DOUBLE) * CAST(n24 * syy24 - sy24 * sy24 AS DOUBLE)), 4) AS r_lag24
        |FROM agg ORDER BY event_type""".stripMargin,
    "q_cusum" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.event_type, g.dy, CAST(coalesce(c.n, 0) AS BIGINT) AS x
        |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
        |scored AS (
        |  SELECT event_type, dy, x,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY dy) AS BIGINT) AS i,
        |         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
        |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM series),
        |t AS (
        |  SELECT *, n_days * prefix - i * total AS t,
        |         row_number() OVER (PARTITION BY event_type ORDER BY abs(n_days * prefix - i * total) DESC, dy) AS rk
        |  FROM scored)
        |SELECT event_type, n_days, total AS n_events,
        |       dy * 86400000000 AS change_day_us, t AS t_scaled,
        |       round(CAST(abs(t) AS DOUBLE) / n_days, 4) AS max_dev
        |FROM t WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // Pettitt: integer rank algebra end to end (minrank + tie count
    // avoid midrank fractions); the only doubles are the critical-value
    // multiply+sqrt of identical operands in both engines
    "q_pettitt" ->
      s"""WITH counts AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
         |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
         |series AS (
         |  SELECT g.event_type, g.dy, CAST(coalesce(c.n, 0) AS BIGINT) AS x
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
         |scored AS (
         |  SELECT event_type, dy, x,
         |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS t_days,
         |         CAST(rank() OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS rk,
         |         CAST(count(*) OVER (PARTITION BY event_type, x) AS BIGINT) AS ties,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY dy) AS BIGINT) AS i
         |  FROM series),
         |u AS (
         |  SELECT *,
         |         CAST(sum(2 * rk + ties - 2 - t_days) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u
         |  FROM scored),
         |pick AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY abs(u) DESC, dy) AS prk
         |  FROM u WHERE i < t_days)
         |SELECT event_type, t_days AS n_days, dy * 86400000000 AS change_day_us,
         |       abs(u) AS k_stat,
         |       round(sqrt(CAST(t_days * t_days * t_days + t_days * t_days AS DOUBLE) * $PettittCritFactor), 4) AS k_crit,
         |       CAST(abs(u) AS DOUBLE) > sqrt(CAST(t_days * t_days * t_days + t_days * t_days AS DOUBLE) * $PettittCritFactor) AS significant
         |FROM pick WHERE prk = 1 ORDER BY event_type""".stripMargin,
    "q_page_hinkley" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.event_type, g.dy, CAST(coalesce(c.n, 0) AS BIGINT) AS x
        |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
        |sc AS (
        |  SELECT event_type, dy, x,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY dy) AS BIGINT) AS i,
        |         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
        |  FROM series),
        |q AS (SELECT *, (prefix * 1000000) // i AS qmean FROM sc),
        |m AS (
        |  SELECT *, prefix * 1000000 - CAST(sum(qmean) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m
        |  FROM q),
        |ph AS (
        |  SELECT *,
        |         m - min(m) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_plus,
        |         max(m) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS ph_minus
        |  FROM m),
        |up AS (
        |  SELECT event_type, n_days, dy * 86400000000 AS up_day_us,
        |         floor((CAST(ph_plus AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS ph_up,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ph_plus DESC, dy) AS rk
        |  FROM ph),
        |dn AS (
        |  SELECT event_type, dy * 86400000000 AS down_day_us,
        |         floor((CAST(ph_minus AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS ph_down,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ph_minus DESC, dy) AS rk
        |  FROM ph)
        |SELECT up.event_type, up.n_days, up.ph_up, up.up_day_us, dn.ph_down, dn.down_day_us
        |FROM up JOIN dn ON up.event_type = dn.event_type AND up.rk = 1 AND dn.rk = 1
        |WHERE up.rk = 1 AND dn.rk = 1
        |ORDER BY up.event_type""".stripMargin,
    "q_ccf" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
        |bounds AS (SELECT min(dy) AS lo, max(dy) AS hi FROM counts),
        |grid AS (SELECT unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.dy,
        |         CAST(coalesce(v.n, 0) AS BIGINT) AS x,
        |         CAST(coalesce(p.n, 0) AS BIGINT) AS y
        |  FROM grid g
        |  LEFT JOIN counts v ON v.event_type = 'view' AND v.dy = g.dy
        |  LEFT JOIN counts p ON p.event_type = 'purchase' AND p.dy = g.dy),
        |lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
        |pairs AS (
        |  SELECT l.lag, s.x, s2.y
        |  FROM lags l CROSS JOIN series s
        |  JOIN series s2 ON s2.dy = s.dy + l.lag),
        |agg AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT lag, n_days,
        |       floor((CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |              sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) * CAST(n_days * syy - sy * sy AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS ccf
        |FROM agg ORDER BY lag""".stripMargin,
    "q_kendall_tau" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
        |bounds AS (SELECT min(dy) AS lo, max(dy) AS hi FROM counts),
        |grid AS (SELECT unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.dy,
        |         CAST(coalesce(v.n, 0) AS BIGINT) AS x,
        |         CAST(coalesce(p.n, 0) AS BIGINT) AS y
        |  FROM grid g
        |  LEFT JOIN counts v ON v.event_type = 'view' AND v.dy = g.dy
        |  LEFT JOIN counts p ON p.event_type = 'purchase' AND p.dy = g.dy),
        |pairs AS (
        |  SELECT (s.x - s2.x) * (s.y - s2.y) AS prod
        |  FROM series s JOIN series s2 ON s.dy < s2.dy),
        |agg AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n_pairs,
        |         CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |         CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd
        |  FROM pairs),
        |tiex AS (
        |  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) // 2), 0) AS HUGEINT) AS n1
        |  FROM (SELECT count(*) AS t FROM series GROUP BY x)),
        |tiey AS (
        |  SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * (t - 1) // 2), 0) AS HUGEINT) AS n2
        |  FROM (SELECT count(*) AS t FROM series GROUP BY y)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM series)
        |SELECT n_days, nc, nd,
        |       floor((CAST(nc - nd AS DOUBLE) /
        |              sqrt(CAST(n_pairs - n1 AS DOUBLE) * CAST(n_pairs - n2 AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS tau_b
        |FROM nn, agg, tiex, tiey
        |WHERE n_pairs - n1 > 0 AND n_pairs - n2 > 0""".stripMargin,
    "q_binseg" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.event_type, g.dy, CAST(coalesce(c.n, 0) AS BIGINT) AS x
        |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
        |l1s AS (
        |  SELECT event_type, dy, x,
        |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY dy) AS BIGINT) AS i,
        |         CAST(sum(x) OVER (PARTITION BY event_type ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
        |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM series),
        |l1t AS (SELECT *, n_days * prefix - i * total AS t FROM l1s WHERE i < n_days),
        |l1 AS (
        |  SELECT event_type, 'all' AS segment, n_days, dy AS cut_dy, abs(t) AS k_stat,
        |         row_number() OVER (PARTITION BY event_type ORDER BY abs(t) DESC, dy) AS rk
        |  FROM l1t),
        |cut1 AS (SELECT event_type, cut_dy FROM l1 WHERE rk = 1),
        |sided AS (
        |  SELECT s.event_type, s.dy, s.x,
        |         CASE WHEN s.dy <= c.cut_dy THEN 'L' ELSE 'R' END AS side
        |  FROM series s JOIN cut1 c USING (event_type)),
        |l2s AS (
        |  SELECT event_type, side, dy, x,
        |         CAST(row_number() OVER (PARTITION BY event_type, side ORDER BY dy) AS BIGINT) AS i,
        |         CAST(sum(x) OVER (PARTITION BY event_type, side ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
        |         CAST(count(*) OVER (PARTITION BY event_type, side) AS BIGINT) AS n_days,
        |         CAST(sum(x) OVER (PARTITION BY event_type, side) AS BIGINT) AS total
        |  FROM sided),
        |l2t AS (SELECT *, n_days * prefix - i * total AS t FROM l2s WHERE i < n_days),
        |l2 AS (
        |  SELECT event_type, side AS segment, n_days, dy AS cut_dy, abs(t) AS k_stat,
        |         row_number() OVER (PARTITION BY event_type, side ORDER BY abs(t) DESC, dy) AS rk
        |  FROM l2t)
        |SELECT event_type, CAST(1 AS BIGINT) AS level, segment, n_days,
        |       cut_dy * 86400000000 AS change_day_us, k_stat
        |FROM l1 WHERE rk = 1
        |UNION ALL
        |SELECT event_type, CAST(2 AS BIGINT), segment, n_days,
        |       cut_dy * 86400000000, k_stat
        |FROM l2 WHERE rk = 1
        |ORDER BY event_type, level, segment""".stripMargin,
    "q_fano" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM counts GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM bounds),
        |series AS (
        |  SELECT g.event_type, g.hr, CAST(coalesce(c.n, 0) AS BIGINT) AS x
        |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.hr = c.hr),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM series GROUP BY 1)
        |SELECT event_type, n_hours, sx AS n_events,
        |       floor((CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS hourly_mean,
        |       floor((CAST(CAST(n_hours AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) /
        |              (CAST(n_hours AS DOUBLE) * CAST(n_hours - 1 AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS hourly_var,
        |       floor((CAST(CAST(n_hours AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) /
        |              (CAST(n_hours - 1 AS DOUBLE) * CAST(sx AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS fano
        |FROM agg ORDER BY event_type""".stripMargin,
    "q_spc_days" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.event_type, g.dy, CAST(coalesce(c.n, 0) AS BIGINT) AS x
        |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
        |stats AS (
        |  SELECT *, CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
        |         CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
        |  FROM series),
        |dev AS (
        |  SELECT *, CAST(n_days * x - total AS HUGEINT) AS dv FROM stats)
        |SELECT event_type, dy * 86400000000 AS day_us, x AS n_events,
        |       round(CAST(total AS DOUBLE) / n_days, 4) AS daily_mean,
        |       CAST(CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction
        |FROM dev WHERE dv * dv > 4 * CAST(total AS HUGEINT) * n_days
        |ORDER BY event_type, day_us""".stripMargin,
    "q_seasonality" ->
      """WITH cells AS (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |         (epoch_us(ts) // 3600000000) % 24 AS hod,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT dow, hod, CAST(n AS BIGINT) AS n,
        |         CAST(sum(n) OVER (PARTITION BY dow) AS BIGINT) AS row_n,
        |         CAST(sum(n) OVER (PARTITION BY hod) AS BIGINT) AS col_n,
        |         CAST(sum(n) OVER () AS BIGINT) AS grand_n
        |  FROM cells)
        |SELECT dow, hod, n,
        |       round(CAST(row_n * col_n AS DOUBLE) / grand_n, 4) AS expected,
        |       round((n - CAST(row_n * col_n AS DOUBLE) / grand_n) * (n - CAST(row_n * col_n AS DOUBLE) / grand_n) / (CAST(row_n * col_n AS DOUBLE) / grand_n), 4) AS chi2
        |FROM tot ORDER BY dow, hod""".stripMargin,
    "q_ab_test" -> {
      val armHash = graft.functions.Hashing.duckMd5Long("'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH users AS (
        |  SELECT user_id,
        |         CASE WHEN (min(struct_pack(t := epoch_us(ts), e := event_id, et := event_type))).et = 'purchase' THEN 1 ELSE 0 END AS converted,
        |         $armHash % 2 AS arm
        |  FROM events GROUP BY user_id),
        |agg AS (
        |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM users),
        |stats AS (
        |  SELECT *, sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
        |                 (1.0 / n_a + 1.0 / n_b)) AS den
        |  FROM agg)
        |SELECT n_a, n_b, conv_a, conv_b,
        |       round(CAST(conv_a AS DOUBLE) / n_a, 4) AS rate_a,
        |       round(CAST(conv_b AS DOUBLE) / n_b, 4) AS rate_b,
        |       round(CASE WHEN den <> 0 THEN (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) / den END, 4) AS z
        |FROM stats""".stripMargin
    },
    "q_interpolate" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) // 3600000000 AS hour
        |  FROM events),
        |per_hour AS (
        |  SELECT user_id, hour,
        |         (max(struct_pack(t := ts_us, e := event_id, v := value))).v AS v
        |  FROM ev GROUP BY user_id, hour),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(min(hour), max(hour))) AS hour
        |  FROM per_hour GROUP BY user_id),
        |j AS (
        |  SELECT g.user_id, g.hour, p.v
        |  FROM grid g LEFT JOIN per_hour p ON g.user_id = p.user_id AND g.hour = p.hour),
        |w AS (
        |  SELECT user_id, hour, v,
        |         LAST_VALUE(v IGNORE NULLS) OVER win_b AS pv,
        |         LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER win_b AS ph,
        |         FIRST_VALUE(v IGNORE NULLS) OVER win_f AS nv,
        |         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER win_f AS nh
        |  FROM j
        |  WINDOW win_b AS (PARTITION BY user_id ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         win_f AS (PARTITION BY user_id ORDER BY hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, hour * 3600000000 AS hour_us,
        |       CASE WHEN hour = ph THEN pv
        |            ELSE pv + (nv - pv) * (CAST(hour - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)) END AS v_interp
        |FROM w
        |ORDER BY user_id, hour_us""".stripMargin,
    "q_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |w AS (
        |  SELECT user_id, event_type, ts_us,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_view
        |  FROM ev),
        |u AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END) AS tv,
        |         min(CASE WHEN event_type = 'purchase' AND t_view IS NOT NULL THEN ts_us END) AS tc
        |  FROM w GROUP BY user_id),
        |lat AS (SELECT tc - tv AS lat FROM u WHERE tc IS NOT NULL)
        |SELECT count(*) AS n_converted,
        |       round(quantile_cont(lat, 0.5), 4) AS p50_us,
        |       round(quantile_cont(lat, 0.9), 4) AS p90_us,
        |       round(quantile_cont(lat, 0.99), 4) AS p99_us
        |FROM lat""".stripMargin,
    "q_ks_test" ->
      """WITH exact AS (
        |  SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY source, n_chars),
        |bounds AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM exact),
        |counts AS (
        |  SELECT source, ((n_chars - mn) * 65536) // (mx - mn + 1) AS bucket, sum(c) AS c
        |  FROM exact CROSS JOIN bounds GROUP BY 1, 2),
        |spine AS (
        |  SELECT bucket,
        |         sum(cv) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_all
        |  FROM (SELECT bucket, sum(c) AS cv FROM counts GROUP BY bucket)),
        |totals AS (SELECT source, sum(c) AS n_s FROM counts GROUP BY source),
        |grid AS (
        |  SELECT t.source, s.bucket, s.c_all,
        |         sum(coalesce(c.c, 0)) OVER (PARTITION BY t.source ORDER BY s.bucket
        |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_s,
        |         max(s.c_all) OVER (PARTITION BY t.source) AS n_total
        |  FROM spine s
        |  CROSS JOIN (SELECT source FROM totals) t
        |  LEFT JOIN counts c ON c.source = t.source AND c.bucket = s.bucket)
        |SELECT g.source,
        |       CAST(max(t.n_s) AS BIGINT) AS n_s,
        |       CAST(max(g.n_total) - max(t.n_s) AS BIGINT) AS n_rest,
        |       round(CAST(max(abs(g.c_s * g.n_total - g.c_all * t.n_s)) AS DOUBLE) /
        |             CAST(max(t.n_s) * (max(g.n_total) - max(t.n_s)) AS DOUBLE), 6) AS ks_stat
        |FROM grid g JOIN totals t ON g.source = t.source
        |GROUP BY g.source
        |ORDER BY g.source""".stripMargin,
    "q_fdr_bh" ->
      """WITH exact AS (
        |  SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY source, n_chars),
        |bounds AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM exact),
        |counts AS (
        |  SELECT source, ((n_chars - mn) * 65536) // (mx - mn + 1) AS bucket, sum(c) AS c
        |  FROM exact CROSS JOIN bounds GROUP BY 1, 2),
        |spine AS (
        |  SELECT bucket,
        |         sum(cv) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_all
        |  FROM (SELECT bucket, sum(c) AS cv FROM counts GROUP BY bucket)),
        |totals AS (SELECT source, sum(c) AS n_s FROM counts GROUP BY source),
        |grid AS (
        |  SELECT t.source, s.bucket, s.c_all,
        |         sum(coalesce(c.c, 0)) OVER (PARTITION BY t.source ORDER BY s.bucket
        |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_s,
        |         max(s.c_all) OVER (PARTITION BY t.source) AS n_total
        |  FROM spine s
        |  CROSS JOIN (SELECT source FROM totals) t
        |  LEFT JOIN counts c ON c.source = t.source AND c.bucket = s.bucket),
        |ks AS (
        |  SELECT g.source,
        |         CAST(max(t.n_s) AS BIGINT) AS n_s,
        |         CAST(max(g.n_total) - max(t.n_s) AS BIGINT) AS n_rest,
        |         round(CAST(max(abs(g.c_s * g.n_total - g.c_all * t.n_s)) AS DOUBLE) /
        |               CAST(max(t.n_s) * (max(g.n_total) - max(t.n_s)) AS DOUBLE), 6) AS ks_stat
        |  FROM grid g JOIN totals t ON g.source = t.source
        |  GROUP BY g.source),
        |lam AS (
        |  SELECT source, n_s, ks_stat,
        |         (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * ks_stat AS lam
        |  FROM (SELECT *, CAST(n_s AS DOUBLE) * CAST(n_rest AS DOUBLE) / CAST(n_s + n_rest AS DOUBLE) AS ne FROM ks) t1),
        |p AS (
        |  SELECT source, n_s, ks_stat,
        |         floor(least(1.0, greatest(0.0,
        |           2.0 * (exp(-2.0 * l2) - exp(-8.0 * l2) + exp(-18.0 * l2) - exp(-32.0 * l2) + exp(-50.0 * l2)))) * 1000000.0 + 0.5) / 1000000.0 AS p_value
        |  FROM (SELECT *, lam * lam AS l2 FROM lam) t2),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT) AS rank,
        |         CAST(count(*) OVER () AS BIGINT) AS m_tests
        |  FROM p),
        |th AS (
        |  SELECT *, floor(CAST(rank AS DOUBLE) * 0.05 / CAST(m_tests AS DOUBLE) * 1000000.0) / 1000000.0 AS bh_threshold
        |  FROM r),
        |km AS (
        |  SELECT *, max(CASE WHEN p_value <= bh_threshold THEN rank END) OVER () AS k_max FROM th)
        |SELECT source, n_s, ks_stat, p_value, rank, bh_threshold,
        |       coalesce(rank <= k_max, false) AS rejected
        |FROM km ORDER BY rank""".stripMargin,
    "q_granger" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
        |bounds AS (SELECT min(dy) AS lo, max(dy) AS hi FROM counts),
        |grid AS (SELECT unnest(generate_series(lo, hi)) AS dy FROM bounds),
        |series AS (
        |  SELECT g.dy,
        |         CAST(coalesce(v.n, 0) AS BIGINT) AS xv,
        |         CAST(coalesce(p.n, 0) AS BIGINT) AS yv
        |  FROM grid g
        |  LEFT JOIN counts v ON v.event_type = 'view' AND v.dy = g.dy
        |  LEFT JOIN counts p ON p.event_type = 'purchase' AND p.dy = g.dy),
        |lagged AS (
        |  SELECT yv, lag(yv) OVER (ORDER BY dy) AS y1, lag(xv) OVER (ORDER BY dy) AS x1
        |  FROM series),
        |rows_t AS (SELECT * FROM lagged WHERE y1 IS NOT NULL),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(yv) AS HUGEINT) AS sy, CAST(sum(y1) AS HUGEINT) AS sy1, CAST(sum(x1) AS HUGEINT) AS sx1,
        |         sum(CAST(yv AS HUGEINT) * yv) AS syy, sum(CAST(yv AS HUGEINT) * y1) AS syy1,
        |         sum(CAST(yv AS HUGEINT) * x1) AS syx1, sum(CAST(y1 AS HUGEINT) * y1) AS sy1y1,
        |         sum(CAST(x1 AS HUGEINT) * x1) AS sx1x1, sum(CAST(y1 AS HUGEINT) * x1) AS sy1x1
        |  FROM rows_t),
        |cm AS (
        |  SELECT n,
        |         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
        |         CAST(syy1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n AS DOUBLE) AS cyy1,
        |         CAST(syx1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cyx1,
        |         CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n AS DOUBLE) AS cy1y1,
        |         CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cx1x1,
        |         CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cy1x1
        |  FROM sums),
        |rss AS (
        |  SELECT n,
        |         cyy - cyy1 * cyy1 / cy1y1 AS rss_r,
        |         cyy - (cyy1 * cx1x1 - cyx1 * cy1x1) / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyy1
        |             - (cyx1 * cy1y1 - cyy1 * cy1x1) / (cy1y1 * cx1x1 - cy1x1 * cy1x1) * cyx1 AS rss_u
        |  FROM cm)
        |SELECT n AS n_days,
        |       floor(rss_r * 1000000.0 + 0.5) / 1000000.0 AS rss_restricted,
        |       floor(rss_u * 1000000.0 + 0.5) / 1000000.0 AS rss_unrestricted,
        |       floor(((rss_r - rss_u) / (rss_u / CAST(n - 3 AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS f_stat,
        |       (rss_r - rss_u) / (rss_u / CAST(n - 3 AS DOUBLE)) > 3.841459 AS significant
        |FROM rss""".stripMargin,
    "q_psi_drift" ->
      """WITH exact AS (
        |  SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY source, n_chars),
        |bounds AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM exact),
        |counts AS (
        |  SELECT source, ((n_chars - mn) * 65536) // (mx - mn + 1) AS bucket, sum(c) AS c
        |  FROM exact CROSS JOIN bounds GROUP BY 1, 2),
        |spine AS (
        |  SELECT bucket, cv,
        |         sum(cv) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
        |  FROM (SELECT bucket, sum(c) AS cv FROM counts GROUP BY bucket)),
        |tot AS (SELECT max(cdf) AS n_total FROM spine),
        |binned AS (
        |  SELECT bucket, cv, (cdf * 10 + n_total - 1) // n_total AS bin
        |  FROM spine CROSS JOIN tot),
        |all_bin AS (SELECT bin, sum(cv) AS c_bin FROM binned GROUP BY bin),
        |src_bin AS (
        |  SELECT c.source, b.bin, sum(c.c) AS c_s
        |  FROM counts c JOIN binned b ON c.bucket = b.bucket
        |  GROUP BY 1, 2),
        |totals AS (SELECT source, sum(c) AS n_s FROM counts GROUP BY source),
        |k AS (SELECT count(*) AS k_bins FROM all_bin),
        |grid AS (
        |  SELECT t.source, t.n_s, a.c_bin, coalesce(s.c_s, 0) AS c_s, n_total, k_bins
        |  FROM all_bin a
        |  CROSS JOIN totals t
        |  LEFT JOIN src_bin s ON s.source = t.source AND s.bin = a.bin
        |  CROSS JOIN tot CROSS JOIN k)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
        |       round(sum(
        |         (CAST(c_s + 1 AS DOUBLE) / CAST(n_s + k_bins AS DOUBLE)
        |          - CAST(c_bin - c_s + 1 AS DOUBLE) / CAST(n_total - n_s + k_bins AS DOUBLE))
        |         * ln((CAST(c_s + 1 AS DOUBLE) / CAST(n_s + k_bins AS DOUBLE))
        |              / (CAST(c_bin - c_s + 1 AS DOUBLE) / CAST(n_total - n_s + k_bins AS DOUBLE)))), 6) AS psi
        |FROM grid
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q_mwu_drift" ->
      """WITH exact AS (
        |  SELECT source, n_chars, count(*) AS c
        |  FROM documents GROUP BY source, n_chars),
        |bounds AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM exact),
        |counts AS (
        |  SELECT source, ((n_chars - mn) * 65536) // (mx - mn + 1) AS bucket, sum(c) AS c
        |  FROM exact CROSS JOIN bounds GROUP BY 1, 2),
        |spine AS (
        |  SELECT bucket, cv,
        |         sum(cv) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_all
        |  FROM (SELECT bucket, sum(c) AS cv FROM counts GROUP BY bucket)),
        |tot AS (SELECT max(c_all) AS n_total, sum(cv*cv*cv - cv) AS tie_sum FROM spine),
        |totals AS (SELECT source, sum(c) AS n_s FROM counts GROUP BY source),
        |grid AS (
        |  SELECT t.source, s.bucket, s.cv, s.c_all,
        |         coalesce(c.c, 0) AS c_s_b,
        |         sum(coalesce(c.c, 0)) OVER (PARTITION BY t.source ORDER BY s.bucket
        |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_s_cum
        |  FROM spine s
        |  CROSS JOIN (SELECT source FROM totals) t
        |  LEFT JOIN counts c ON c.source = t.source AND c.bucket = s.bucket),
        |u AS (
        |  SELECT source,
        |         sum(c_s_b * (((c_all - cv) - (c_s_cum - c_s_b)) * 2 + (cv - c_s_b))) AS u2
        |  FROM grid GROUP BY source)
        |SELECT u.source,
        |       CAST(t.n_s AS BIGINT) AS n_s,
        |       CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
        |       round((CAST(u2 - t.n_s * (n_total - t.n_s) AS DOUBLE) / 2.0) /
        |             sqrt(CAST(t.n_s * (n_total - t.n_s) AS DOUBLE) / 12.0 *
        |                  (CAST(n_total + 1 AS DOUBLE) -
        |                   CAST(tie_sum AS DOUBLE) / CAST(n_total * (n_total - 1) AS DOUBLE))), 6) AS z_score
        |FROM u JOIN totals t ON u.source = t.source CROSS JOIN tot
        |ORDER BY u.source""".stripMargin,
    "q_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_both
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |part_n AS (SELECT pk, count(*) AS n_part FROM items GROUP BY pk),
        |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM items)
        |SELECT pa, pb, n_both,
        |       round(CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS support,
        |       round(CAST(n_both * n_orders AS DOUBLE) / CAST(na.n_part * nb.n_part AS DOUBLE), 6) AS lift
        |FROM pairs
        |JOIN part_n na ON na.pk = pa
        |JOIN part_n nb ON nb.pk = pb
        |CROSS JOIN tot
        |ORDER BY n_both DESC, pa, pb
        |LIMIT 20""".stripMargin,
    "q_basket_rules" ->
      s"""WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |co AS (
         |  SELECT a.pk AS ante, b.pk AS cons, count(*) AS n_both
         |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $BasketRuleMinCount),
         |pn AS (SELECT pk, count(*) AS n_part FROM it GROUP BY pk),
         |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM it)
         |SELECT ante, cons, n_both,
         |       round(CAST(n_both AS DOUBLE) / CAST(na.n_part AS DOUBLE), 6) AS confidence,
         |       round(CAST(n_both * n_orders AS DOUBLE) / CAST(na.n_part * nc.n_part AS DOUBLE), 6) AS lift
         |FROM co
         |JOIN pn na ON na.pk = ante
         |JOIN pn nc ON nc.pk = cons
         |CROSS JOIN tot
         |ORDER BY confidence DESC, n_both DESC, ante, cons
         |LIMIT $BasketRuleTopK""".stripMargin,
    "q_fulfillment" ->
      """WITH ships AS (
        |  SELECT l_orderkey AS ok,
        |         min(epoch_us(l_shipdate)) AS first_ship,
        |         max(epoch_us(l_shipdate)) AS last_ship
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       round(quantile_cont(first_ship - epoch_us(o_orderdate), 0.5), 4) AS p50_lead_us,
        |       round(quantile_cont(first_ship - epoch_us(o_orderdate), 0.95), 4) AS p95_lead_us,
        |       round(quantile_cont(last_ship - first_ship, 0.95), 4) AS p95_span_us
        |FROM orders JOIN ships ON ok = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_small_qty" ->
      """WITH fences AS (
        |  SELECT l_partkey AS pk, avg(l_quantity) * 0.2 AS fence
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |       round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN fences ON l_partkey = pk
        |WHERE l_quantity < fence""".stripMargin,
    "q_chi2_independence" ->
      """WITH cells AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, sum(c) AS r FROM cells GROUP BY 1),
        |cs AS (SELECT source, sum(c) AS s FROM cells GROUP BY 1),
        |tot AS (SELECT sum(c) AS n FROM cells),
        |dims AS (SELECT (SELECT count(*) FROM rl) AS n_langs,
        |                (SELECT count(*) FROM cs) AS n_sources),
        |grid AS (
        |  SELECT coalesce(cells.c, 0) AS obs, r, s, n
        |  FROM rl CROSS JOIN cs
        |  LEFT JOIN cells ON cells.lang = rl.lang AND cells.source = cs.source
        |  CROSS JOIN tot),
        |agg AS (
        |  SELECT max(n) AS n,
        |         sum((CAST(obs AS DOUBLE) - CAST(r * s AS DOUBLE) / CAST(n AS DOUBLE))
        |             * (CAST(obs AS DOUBLE) - CAST(r * s AS DOUBLE) / CAST(n AS DOUBLE))
        |             / (CAST(r * s AS DOUBLE) / CAST(n AS DOUBLE))) AS chi2
        |  FROM grid)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |       CAST(n_langs AS BIGINT) AS n_langs,
        |       CAST(n_sources AS BIGINT) AS n_sources,
        |       CAST((n_langs - 1) * (n_sources - 1) AS BIGINT) AS dof,
        |       round(chi2, 6) AS chi2,
        |       round(sqrt(chi2 / CAST(n * least(n_langs - 1, n_sources - 1) AS DOUBLE)), 6) AS cramers_v
        |FROM agg CROSS JOIN dims""".stripMargin,
    // MI/entropy summands floor-quantize to int64 before each sum —
    // order-free, engine-exact (mirrors qMutualInfo)
    "q_mutual_info" ->
      """WITH cells AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, sum(c) AS r FROM cells GROUP BY 1),
        |cs AS (SELECT source, sum(c) AS s FROM cells GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        |hl AS (
        |  SELECT sum(CAST(floor(-(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |                         * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) * 1.0e9) AS BIGINT)) AS h_r
        |  FROM rl CROSS JOIN tot),
        |hs AS (
        |  SELECT sum(CAST(floor(-(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |                         * ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 1.0e9) AS BIGINT)) AS h_s
        |  FROM cs CROSS JOIN tot),
        |mi AS (
        |  SELECT sum(CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |                        * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
        |                             / CAST(CAST(r AS HUGEINT) * s AS DOUBLE)) * 1.0e9) AS BIGINT)) AS mi_q
        |  FROM cells
        |  JOIN rl USING (lang)
        |  JOIN cs USING (source)
        |  CROSS JOIN tot)
        |SELECT CAST(n AS BIGINT) AS n_docs, n_cells,
        |       round(CAST(h_r AS DOUBLE) / 1.0e9, 6) AS h_lang,
        |       round(CAST(h_s AS DOUBLE) / 1.0e9, 6) AS h_source,
        |       round(CAST(mi_q AS DOUBLE) / 1.0e9, 6) AS mi_nats,
        |       round((CAST(mi_q AS DOUBLE) / 1.0e9)
        |             / sqrt((CAST(h_r AS DOUBLE) / 1.0e9) * (CAST(h_s AS DOUBLE) / 1.0e9)), 6) AS nmi
        |FROM tot CROSS JOIN hl CROSS JOIN hs CROSS JOIN mi""".stripMargin,
    "q_gini" ->
      """WITH peru AS (
        |  SELECT event_type, user_id, sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, x,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
        |  FROM peru)
        |SELECT event_type,
        |       count(*) AS n_users,
        |       CAST(sum(x) AS DOUBLE) / 100.0 AS total_value,
        |       round(CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE) /
        |             CAST(count(*) * sum(x) AS DOUBLE), 6) AS gini
        |FROM ranked
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_ref_integrity" ->
      """WITH
        |e1 AS (SELECT 'lineitem->orders' AS fk_edge,
        |              count(*) AS orphan_keys, CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS orphan_rows
        |       FROM (SELECT l_orderkey AS k, count(*) AS n_rows FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1) c
        |       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = c.k)),
        |e2 AS (SELECT 'lineitem->part',
        |              count(*), CAST(coalesce(sum(n_rows), 0) AS BIGINT)
        |       FROM (SELECT l_partkey AS k, count(*) AS n_rows FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1) c
        |       WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = c.k)),
        |e3 AS (SELECT 'lineitem->supplier',
        |              count(*), CAST(coalesce(sum(n_rows), 0) AS BIGINT)
        |       FROM (SELECT l_suppkey AS k, count(*) AS n_rows FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1) c
        |       WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = c.k)),
        |e4 AS (SELECT 'orders->customer',
        |              count(*), CAST(coalesce(sum(n_rows), 0) AS BIGINT)
        |       FROM (SELECT o_custkey AS k, count(*) AS n_rows FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1) c
        |       WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.k)),
        |e5 AS (SELECT 'customer->nation',
        |              count(*), CAST(coalesce(sum(n_rows), 0) AS BIGINT)
        |       FROM (SELECT c_nationkey AS k, count(*) AS n_rows FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1) c
        |       WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c.k)),
        |e6 AS (SELECT 'supplier->nation',
        |              count(*), CAST(coalesce(sum(n_rows), 0) AS BIGINT)
        |       FROM (SELECT s_nationkey AS k, count(*) AS n_rows FROM supplier WHERE s_nationkey IS NOT NULL GROUP BY 1) c
        |       WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c.k))
        |SELECT * FROM (
        |  SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
        |  UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6)
        |ORDER BY fk_edge""".stripMargin,
    "q_attribution_u" ->
      """WITH base AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         coalesce(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |clicks AS (
        |  SELECT user_id, grp, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, grp ORDER BY ts_us, event_id) AS pos,
        |         count(*) OVER (PARTITION BY user_id, grp) AS k
        |  FROM base WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, grp, event_id AS purchase_id
        |  FROM base WHERE event_type = 'purchase')
        |SELECT p.purchase_id, c.event_id AS click_id, c.user_id,
        |       CASE WHEN k = 1 THEN 'only'
        |            WHEN pos = 1 THEN 'first'
        |            WHEN pos = k THEN 'last'
        |            ELSE 'middle' END AS position,
        |       round(CASE WHEN k = 1 THEN 1.0
        |                  WHEN k = 2 THEN 0.5
        |                  WHEN pos = 1 OR pos = k THEN 0.4
        |                  ELSE 0.2 / CAST(k - 2 AS DOUBLE) END, 6) AS credit
        |FROM clicks c JOIN purchases p ON c.user_id = p.user_id AND c.grp = p.grp
        |ORDER BY p.purchase_id, click_id""".stripMargin,
    "q_attribution_decay" ->
      s"""WITH base AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         |         coalesce(count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |clicks AS (
         |  SELECT user_id, grp, event_id, ts_us FROM base WHERE event_type = 'click'),
         |purchases AS (
         |  SELECT user_id, grp, event_id AS purchase_id, ts_us AS p_ts
         |  FROM base WHERE event_type = 'purchase'),
         |weighted AS (
         |  SELECT p.purchase_id, c.event_id AS click_id, c.user_id, c.grp,
         |         least((p_ts - c.ts_us) // $DecayHalflifeUs, 20) AS age_buckets,
         |         CAST(1 AS BIGINT) << CAST(20 - least((p_ts - c.ts_us) // $DecayHalflifeUs, 20) AS INTEGER) AS w_int
         |  FROM clicks c JOIN purchases p ON c.user_id = p.user_id AND c.grp = p.grp),
         |tot AS (
         |  SELECT *, CAST(sum(w_int) OVER (PARTITION BY user_id, grp) AS BIGINT) AS tot_w
         |  FROM weighted)
         |SELECT purchase_id, click_id, user_id, age_buckets,
         |       floor(CAST(w_int AS DOUBLE) / CAST(tot_w AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS credit
         |FROM tot ORDER BY purchase_id, click_id""".stripMargin,
    // Markov removal-effect attribution: the recursive CTE replays the
    // driver's absorption solve exactly — int64 probabilities at 1e-10
    // units, per-term integer division, 60 synchronous steps over a
    // scenario-expanded transition table (removal = the channel's
    // outgoing edges replaced by one edge to the null absorber; edges
    // INTO it contribute 0 through its pinned p). Integer sums are
    // order-free, so no float fold needs replaying.
    "q_attribution_markov" ->
      s"""WITH RECURSIVE evs AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         |         coalesce(count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
         |  FROM events
         |  WHERE event_type IN ('view', 'click', 'signup', 'error', 'purchase')),
         |gg AS (
         |  SELECT user_id, grp,
         |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         |         sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS n_touch
         |  FROM evs GROUP BY 1, 2),
         |seqd AS (
         |  SELECT user_id, grp, event_type,
         |         lead(event_type) OVER (PARTITION BY user_id, grp ORDER BY ts_us, event_id) AS nxt,
         |         row_number() OVER (PARTITION BY user_id, grp ORDER BY ts_us, event_id) AS rn
         |  FROM evs WHERE event_type <> 'purchase'),
         |trans AS (
         |  SELECT s.event_type AS src,
         |         coalesce(s.nxt, CASE WHEN g.conv = 1 THEN 'conv' ELSE 'null' END) AS dst
         |  FROM seqd s JOIN gg g USING (user_id, grp)
         |  UNION ALL
         |  SELECT 'start', event_type FROM seqd WHERE rn = 1
         |  UNION ALL
         |  SELECT 'start', 'conv' FROM gg WHERE conv = 1 AND n_touch = 0),
         |tcnt AS (SELECT src, dst, count(*) AS c FROM trans GROUP BY 1, 2),
         |tot AS (SELECT src, sum(c) AS ct FROM tcnt GROUP BY 1),
         |tstates AS (
         |  SELECT DISTINCT st FROM (
         |    SELECT src AS st FROM tcnt WHERE src <> 'start'
         |    UNION SELECT dst FROM tcnt WHERE dst NOT IN ('conv', 'null'))),
         |scen AS (SELECT 'base' AS scen UNION ALL SELECT st FROM tstates),
         |stc AS (
         |  SELECT s.scen, t.src, t.dst, t.c, o.ct
         |  FROM scen s CROSS JOIN tcnt t JOIN tot o ON o.src = t.src
         |  WHERE NOT (s.scen <> 'base' AND t.src = s.scen)
         |  UNION ALL
         |  SELECT s.scen, s.scen, 'null', 1, 1 FROM scen s WHERE s.scen <> 'base'
         |  UNION ALL
         |  SELECT s.scen, 'conv', 'conv', 1, 1 FROM scen s
         |  UNION ALL
         |  SELECT s.scen, 'null', 'null', 1, 1 FROM scen s),
         |allst AS (
         |  SELECT st FROM tstates
         |  UNION ALL SELECT 'start' UNION ALL SELECT 'conv' UNION ALL SELECT 'null'),
         |it AS (
         |  SELECT 0 AS k, s.scen, u.st,
         |         CAST(CASE WHEN u.st = 'conv' THEN $MarkovQ ELSE 0 END AS BIGINT) AS pq
         |  FROM scen s CROSS JOIN allst u
         |  UNION ALL
         |  SELECT it.k + 1, stc.scen, stc.src AS st,
         |         CAST(sum((stc.c * it.pq) // stc.ct) AS BIGINT) AS pq
         |  FROM it JOIN stc ON stc.scen = it.scen AND stc.dst = it.st
         |  WHERE it.k < $MarkovIters
         |  GROUP BY it.k + 1, stc.scen, stc.src),
         |fin AS (SELECT scen, pq FROM it WHERE k = $MarkovIters AND st = 'start'),
         |basep AS (SELECT pq AS pb FROM fin WHERE scen = 'base'),
         |req AS (
         |  SELECT f.scen AS state, b.pb,
         |         CASE WHEN b.pb = 0 THEN 0
         |              ELSE ((b.pb - f.pq) * 1000000) // b.pb END AS req
         |  FROM fin f CROSS JOIN basep b WHERE f.scen <> 'base'),
         |totreq AS (SELECT sum(req) AS sreq FROM req)
         |SELECT state,
         |       floor(CAST(pb AS DOUBLE) / ${MarkovQ.toDouble} * 1000000.0 + 0.5) / 1000000.0 AS p_conv,
         |       CAST(req AS DOUBLE) / 1000000.0 AS removal_effect,
         |       CASE WHEN sreq = 0 THEN 0.0
         |            ELSE floor(CAST(req AS DOUBLE) / CAST(sreq AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS share
         |FROM req CROSS JOIN totreq ORDER BY state""".stripMargin,
    // Shapley: v(S) quantized to int64 1e-12 units via integer //, the
    // factorial weights integer with n! factored out — φ·n!·Q is an
    // exact integer both engines agree on; only the two display
    // divisions are floats
    "q_attribution_shapley" ->
      s"""WITH evs AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         |         coalesce(count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
         |  FROM events
         |  WHERE event_type IN ('view', 'click', 'signup', 'error', 'purchase')),
         |cb AS (
         |  SELECT ch, CAST(1 AS BIGINT) << CAST(dense_rank() OVER (ORDER BY ch) - 1 AS INT) AS bit
         |  FROM (SELECT DISTINCT event_type AS ch FROM evs WHERE event_type <> 'purchase')),
         |ncnt AS (SELECT count(*) AS n FROM cb),
         |jm0 AS (
         |  SELECT e.user_id, e.grp,
         |         coalesce(bit_or(cb.bit), 0) AS mask,
         |         max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM evs e LEFT JOIN cb ON e.event_type = cb.ch
         |  GROUP BY 1, 2),
         |jm AS (SELECT mask, count(*) AS tot, sum(conv) AS conv FROM jm0 GROUP BY 1),
         |masks AS (SELECT unnest(generate_series(0, (CAST(1 AS BIGINT) << CAST(n AS INT)) - 1)) AS m FROM ncnt),
         |coal AS (
         |  SELECT m, coalesce(sum(tot), 0) AS tot, coalesce(sum(conv), 0) AS conv
         |  FROM masks LEFT JOIN jm ON (jm.mask & masks.m) = jm.mask GROUP BY 1),
         |vq AS (
         |  SELECT m, CASE WHEN tot > 0 THEN (conv * $ShapleyQ) // tot ELSE 0 END AS vq
         |  FROM coal),
         |marg AS (
         |  SELECT cb.ch, bit_count(s0.m) AS k, s0.vq AS vq0, s1.vq AS vq1
         |  FROM cb JOIN vq s0 ON (s0.m & cb.bit) = 0
         |          JOIN vq s1 ON s1.m = (s0.m | cb.bit)),
         |phi AS (
         |  SELECT ch,
         |         sum((CASE WHEN k <= 1 THEN 1 WHEN k = 2 THEN 2 WHEN k = 3 THEN 6 ELSE 24 END)
         |             * (CASE WHEN n - 1 - k <= 1 THEN 1 WHEN n - 1 - k = 2 THEN 2 WHEN n - 1 - k = 3 THEN 6 ELSE 24 END)
         |             * (vq1 - vq0)) AS phi_q
         |  FROM marg CROSS JOIN ncnt GROUP BY ch, n),
         |factn AS (
         |  SELECT CASE n WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 ELSE 120 END AS fn
         |  FROM ncnt),
         |tq AS (SELECT sum(phi_q) AS sum_q FROM phi)
         |SELECT ch AS state,
         |       floor(CAST(phi_q AS DOUBLE) / (CAST(fn AS DOUBLE) * ${ShapleyQ.toDouble}) * 1000000.0 + 0.5) / 1000000.0 AS shapley_value,
         |       CASE WHEN sum_q <> 0
         |            THEN floor(CAST(phi_q AS DOUBLE) / CAST(sum_q AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |            ELSE 0.0 END AS share
         |FROM phi CROSS JOIN factn CROSS JOIN tq ORDER BY state""".stripMargin,
    "q_skyline" ->
      """WITH stats AS (
        |  SELECT o_custkey,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey,
        |       CAST(spend_c AS DOUBLE) / 100.0 AS total_spend,
        |       n_orders
        |FROM stats s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM stats t
        |  WHERE t.spend_c >= s.spend_c AND t.n_orders >= s.n_orders
        |    AND (t.spend_c > s.spend_c OR t.n_orders > s.n_orders))
        |ORDER BY o_custkey""".stripMargin,
    "q_rolling_active" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + g AS wday
        |  FROM pairs CROSS JOIN generate_series(0, 6) t(g))
        |SELECT CAST(wday * 86400000000 AS BIGINT) AS day_us, count(*) AS wau_7d
        |FROM contrib JOIN b ON wday BETWEEN d0 AND d1
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_source_entropy" ->
      """WITH cells AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        |totals AS (SELECT source, sum(c) AS n_docs FROM cells GROUP BY 1),
        |terms AS (
        |  SELECT cells.source, n_docs, c,
        |         -(CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |           * ln(CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS term
        |  FROM cells JOIN totals ON cells.source = totals.source)
        |SELECT source,
        |       CAST(max(n_docs) AS BIGINT) AS n_docs,
        |       count(*) AS n_langs,
        |       round(sum(term), 6) AS entropy_nats,
        |       round(exp(sum(term)), 6) AS eff_langs,
        |       round(CAST(max(c) AS DOUBLE) / CAST(max(n_docs) AS DOUBLE), 6) AS top_lang_share
        |FROM terms
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q_new_returning" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM pairs GROUP BY 1)
        |SELECT day * 86400000000 AS day_us,
        |       count(*) AS active_users,
        |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |       CAST(count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
        |FROM pairs JOIN f USING (user_id)
        |GROUP BY day
        |ORDER BY day_us""".stripMargin,
    "q_stickiness" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
         |dau AS (SELECT day AS wday, count(*) AS dau FROM pairs GROUP BY 1),
         |expanded AS (
         |  SELECT user_id, unnest(generate_series(day, day + ${MauWindowDays - 1})) AS wday
         |  FROM pairs),
         |mau AS (
         |  SELECT wday, count(*) AS mau_28d FROM (
         |    SELECT DISTINCT user_id, wday FROM expanded), bounds
         |  WHERE wday BETWEEN d0 AND d1
         |  GROUP BY wday)
        |SELECT wday * 86400000000 AS day_us,
        |       CAST(coalesce(dau, 0) AS BIGINT) AS dau,
        |       mau_28d,
        |       round(CAST(coalesce(dau, 0) AS DOUBLE) / CAST(mau_28d AS DOUBLE), 6) AS stickiness
        |FROM mau LEFT JOIN dau USING (wday)
        |ORDER BY day_us""".stripMargin,
    "q_hhi" ->
      """WITH pc AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment,
        |       count(*) AS n_customers,
        |       CAST(sum(cents) AS DOUBLE) / 100.0 AS segment_revenue,
        |       round(CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) /
        |             CAST(CAST(sum(cents) AS HUGEINT) * sum(cents) AS DOUBLE), 6) AS hhi,
        |       round(CAST(max(cents) AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6) AS top_share
        |FROM pc
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_holt" ->
      s"""WITH RECURSIVE counts AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
         |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
         |series AS (
         |  SELECT g.event_type, ROW_NUMBER() OVER (PARTITION BY g.event_type ORDER BY g.dy) AS idx,
         |         CAST(coalesce(c.n, 0) AS DOUBLE) AS x
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
         |sizes AS (SELECT event_type, CAST(max(idx) AS BIGINT) AS n_days FROM series GROUP BY 1),
         |holt AS (
         |  SELECT s2.event_type, CAST(2 AS BIGINT) AS idx, s2.x AS l, s2.x - s1.x AS b
         |  FROM series s1 JOIN series s2
         |    ON s1.event_type = s2.event_type AND s1.idx = 1 AND s2.idx = 2
         |  UNION ALL
         |  SELECT h.event_type, h.idx + 1,
         |         $HoltAlpha * s.x + ${1 - HoltAlpha} * (h.l + h.b),
         |         $HoltBeta * (($HoltAlpha * s.x + ${1 - HoltAlpha} * (h.l + h.b)) - h.l) + ${1 - HoltBeta} * h.b
         |  FROM holt h JOIN series s ON s.event_type = h.event_type AND s.idx = h.idx + 1)
        |SELECT h.event_type, n_days,
        |       round(l, 4) AS level,
        |       round(b, 4) AS trend,
        |       round(l + 7.0 * b, 4) AS forecast_7d
        |FROM holt h JOIN sizes USING (event_type)
        |WHERE idx = n_days AND n_days >= 2
        |ORDER BY event_type""".stripMargin,
    "q_theta_forecast" ->
      s"""WITH RECURSIVE counts AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
         |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
         |series AS (
         |  SELECT g.event_type, ROW_NUMBER() OVER (PARTITION BY g.event_type ORDER BY g.dy) AS idx,
         |         CAST(coalesce(c.n, 0) AS BIGINT) AS xl
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
         |stats AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |         CAST(sum(idx) AS BIGINT) AS s1,
         |         CAST(sum(CAST(idx AS HUGEINT) * idx) AS HUGEINT) AS s2,
         |         CAST(sum(xl) AS BIGINT) AS sx,
         |         CAST(sum(CAST(idx AS HUGEINT) * xl) AS HUGEINT) AS sxt
         |  FROM series GROUP BY 1 HAVING count(*) >= 2),
         |ab AS (
         |  SELECT event_type, n_days,
         |         CAST(CAST(n_days AS HUGEINT) * sxt - CAST(s1 AS HUGEINT) * sx AS DOUBLE) /
         |         CAST(CAST(n_days AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS b
         |  FROM stats),
         |ab2 AS (
         |  SELECT ab.event_type, ab.n_days, ab.b,
         |         (CAST(sx AS DOUBLE) - ab.b * CAST(s1 AS DOUBLE)) / CAST(ab.n_days AS DOUBLE) AS a
         |  FROM ab JOIN stats USING (event_type)),
         |ses AS (
         |  SELECT s.event_type, CAST(1 AS BIGINT) AS idx,
         |         2.0 * CAST(s.xl AS DOUBLE) - (t.a + t.b * 1.0) AS l,
         |         t.a, t.b, t.n_days
         |  FROM series s JOIN ab2 t USING (event_type) WHERE s.idx = 1
         |  UNION ALL
         |  SELECT e.event_type, e.idx + 1,
         |         $ThetaAlpha * (2.0 * CAST(s.xl AS DOUBLE) - (e.a + e.b * CAST(s.idx AS DOUBLE)))
         |           + ${1 - ThetaAlpha} * e.l,
         |         e.a, e.b, e.n_days
         |  FROM ses e JOIN series s ON s.event_type = e.event_type AND s.idx = e.idx + 1)
         |SELECT event_type, n_days,
         |       round(b, 6) AS trend_slope,
         |       round(l, 4) AS theta_level,
         |       round(0.5 * (a + b * CAST(n_days + 7 AS DOUBLE)) + 0.5 * l, 4) AS forecast_7d
         |FROM ses WHERE idx = n_days
         |ORDER BY event_type""".stripMargin,
    // Holt–Winters: recursion carries the rotating 7-scalar seasonal
    // queue q1..q7 (q1 = s_{t-6} … q7 = s_t) — the l_t expression is
    // repeated textually so b_t/s_t use the identical IEEE value
    "q_holt_winters" -> {
      val lnew =
        s"($HwAlpha * (s.x - h.q1) + ${1 - HwAlpha} * (h.l + h.b))"
      val w1 = (1 to 7).map(i => s"x$i").mkString(" + ")
      val w2 = (8 to 14).map(i => s"x$i").mkString(" + ")
      val seedCols = (1 to 14)
        .map(i => s"max(CASE WHEN idx = $i THEN x END) AS x$i")
        .mkString(",\n         |         ")
      val qSeeds = (1 to 7)
        .map(i => s"x$i - ($w1) / 7.0 AS q$i")
        .mkString(",\n         |         ")
      val qCase = (1 to 7)
        .map(i => s"WHEN $i THEN q$i")
        .mkString(" ")
      s"""WITH RECURSIVE counts AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, min(dy) AS lo, max(dy) AS hi FROM counts GROUP BY 1),
         |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS dy FROM bounds),
         |series AS (
         |  SELECT g.event_type, ROW_NUMBER() OVER (PARTITION BY g.event_type ORDER BY g.dy) AS idx,
         |         CAST(coalesce(c.n, 0) AS DOUBLE) AS x
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
         |sizes AS (SELECT event_type, CAST(max(idx) AS BIGINT) AS n_days FROM series GROUP BY 1),
         |seeds AS (
         |  SELECT event_type,
         |         $seedCols
         |  FROM series GROUP BY event_type),
         |init AS (
         |  SELECT sd.event_type, CAST(7 AS BIGINT) AS idx,
         |         ($w1) / 7.0 AS l,
         |         (($w2) / 7.0 - ($w1) / 7.0) / 7.0 AS b,
         |         $qSeeds
         |  FROM seeds sd JOIN sizes z USING (event_type) WHERE z.n_days >= 14),
         |hw AS (
         |  SELECT * FROM init
         |  UNION ALL
         |  SELECT h.event_type, h.idx + 1,
         |         $lnew,
         |         $HwBeta * ($lnew - h.l) + ${1 - HwBeta} * h.b,
         |         h.q2, h.q3, h.q4, h.q5, h.q6, h.q7,
         |         $HwGamma * (s.x - $lnew) + ${1 - HwGamma} * h.q1
         |  FROM hw h JOIN series s ON s.event_type = h.event_type AND s.idx = h.idx + 1),
         |fin AS (
         |  SELECT hw.*, n_days FROM hw JOIN sizes USING (event_type) WHERE idx = n_days),
         |ks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS h)
         |SELECT event_type, n_days,
         |       round(l, 4) AS level, round(b, 4) AS trend,
         |       CAST(h AS BIGINT) AS h,
         |       round(l + CAST(h AS DOUBLE) * b + CASE h $qCase END, 4) AS forecast
         |FROM fin CROSS JOIN ks ORDER BY event_type, h""".stripMargin
    },
    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
        |       round(CAST(n_both AS DOUBLE) / CAST(ta.n + tb.n - n_both AS DOUBLE), 6) AS jaccard,
        |       round(CAST(n_both AS DOUBLE) / CAST(least(ta.n, tb.n) AS DOUBLE), 6) AS overlap_coef
        |FROM p JOIN tot ta ON p.type_a = ta.event_type
        |       JOIN tot tb ON p.type_b = tb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q_kmv_sketch" -> {
      val h = graft.functions.Hashing.duckMd5Long(
        "CAST(user_id AS VARCHAR) || ':' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR)")
      s"""WITH th AS (SELECT DISTINCT event_type, $h AS h FROM events),
         |rk AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM th),
         |kth AS (SELECT event_type, h AS hk FROM rk WHERE rn = $KmvK),
         |ex AS (SELECT event_type, count(*) AS n_exact FROM th GROUP BY 1),
         |sel AS (
         |  SELECT ex.event_type, n_exact,
         |         round(CASE WHEN hk IS NULL THEN CAST(n_exact AS DOUBLE)
         |                    ELSE ${KmvK - 1}.0 * $KmvM.0 / CAST(hk AS DOUBLE) END, 4) AS n_kmv
         |  FROM ex LEFT JOIN kth ON kth.event_type = ex.event_type)
         |SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact, n_kmv,
         |       round(abs(n_kmv - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_err
         |FROM sel ORDER BY event_type""".stripMargin
    },
    "q_kmv_overlap" -> {
      val h = graft.functions.Hashing.duckMd5Long(
        "CAST(user_id AS VARCHAR) || ':' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR)")
      s"""WITH th AS (SELECT DISTINCT event_type, $h AS h FROM events),
         |sk AS (
         |  SELECT event_type, h FROM (
         |    SELECT event_type, h,
         |           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |    FROM th)
         |  WHERE rn <= $KmvK),
         |tp AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM (SELECT DISTINCT event_type FROM sk) a
         |  JOIN (SELECT DISTINCT event_type FROM sk) b ON a.event_type < b.event_type),
         |mem AS (
         |  SELECT type_a, type_b, h, max(ia) AS ia, max(ib) AS ib FROM (
         |    SELECT tp.type_a, tp.type_b, s.h, 1 AS ia, 0 AS ib
         |    FROM tp JOIN sk s ON s.event_type = tp.type_a
         |    UNION ALL
         |    SELECT tp.type_a, tp.type_b, s.h, 0 AS ia, 1 AS ib
         |    FROM tp JOIN sk s ON s.event_type = tp.type_b)
         |  GROUP BY 1, 2, 3),
         |rk2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
         |  FROM mem),
         |st AS (
         |  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS nm,
         |         max(CASE WHEN rn = $KmvK THEN h END) AS hk,
         |         CAST(sum(ia * ib) AS BIGINT) AS ni
         |  FROM rk2 WHERE rn <= $KmvK GROUP BY 1, 2),
         |exp AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
         |  FROM th a JOIN th b ON a.h = b.h AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |tot AS (SELECT event_type, count(*) AS n FROM th GROUP BY 1),
         |base AS (
         |  SELECT st.type_a, st.type_b,
         |         CASE WHEN hk IS NULL THEN CAST(nm AS DOUBLE)
         |              ELSE ${KmvK - 1}.0 * $KmvM.0 / CAST(hk AS DOUBLE) END AS est_u_raw,
         |         CAST(ni AS DOUBLE) / CAST(nm AS DOUBLE) AS rho,
         |         n_both, ta.n AS n_a, tb.n AS n_b
         |  FROM st
         |  JOIN exp ON exp.type_a = st.type_a AND exp.type_b = st.type_b
         |  JOIN tot ta ON ta.event_type = st.type_a
         |  JOIN tot tb ON tb.event_type = st.type_b),
         |sel AS (
         |  SELECT type_a, type_b,
         |         round(est_u_raw, 4) AS est_union,
         |         round(rho * est_u_raw, 4) AS est_inter,
         |         round(rho, 6) AS jaccard_kmv,
         |         round(CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE), 6) AS jaccard_exact
         |  FROM base)
         |SELECT type_a, type_b, est_union, est_inter, jaccard_kmv, jaccard_exact,
         |       round(abs(jaccard_kmv - jaccard_exact), 6) AS err
         |FROM sel ORDER BY type_a, type_b""".stripMargin
    },
    "q_funnel_window" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         |w1 AS (
         |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
         |              OVER (PARTITION BY user_id) AS v_ts
         |  FROM ev),
         |w2 AS (
         |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > v_ts
         |                      AND ts_us - v_ts <= $FunnelStepUs THEN ts_us END)
         |              OVER (PARTITION BY user_id) AS c_ts
         |  FROM w1),
         |w3 AS (
         |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > c_ts
         |                      AND ts_us - c_ts <= $FunnelStepUs THEN ts_us END)
         |              OVER (PARTITION BY user_id) AS p_ts
         |  FROM w2),
         |pu AS (
         |  SELECT user_id, max(v_ts) AS v, max(c_ts) AS c, max(p_ts) AS p
         |  FROM w3 GROUP BY user_id),
         |agg AS (
         |  SELECT CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         |         CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_1h,
         |         CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_1h
         |  FROM pu),
         |st AS (
         |  SELECT '1_view' AS stage, n_view AS n_users, n_view AS prev_users FROM agg
         |  UNION ALL
         |  SELECT '2_click_1h', n_click_1h, n_view FROM agg
         |  UNION ALL
         |  SELECT '3_purchase_1h', n_purchase_1h, n_click_1h FROM agg)
         |SELECT stage, n_users,
         |       round(CASE WHEN prev_users > 0
         |                  THEN CAST(n_users AS DOUBLE) / CAST(prev_users AS DOUBLE) END,
         |             6) AS conv_from_prev
         |FROM st
         |ORDER BY stage""".stripMargin,
    "q_wow_growth" ->
      """WITH weekly AS (
        |  SELECT (epoch_us(o_orderdate) // 86400000000) // 7 AS week,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT *,
        |         lag(cents) OVER (ORDER BY week) AS prev_cents,
        |         CAST(sum(cents) OVER (ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma4_sum,
        |         count(*) OVER (ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ma4_n
        |  FROM weekly)
        |SELECT week * 7 * 86400000000 AS week_us,
        |       n_orders,
        |       CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |       round(CASE WHEN prev_cents > 0
        |                  THEN CAST(cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE) END,
        |             6) AS wow_growth,
        |       round(CAST(ma4_sum AS DOUBLE) / (100.0 * CAST(ma4_n AS DOUBLE)), 4) AS revenue_ma4
        |FROM w
        |ORDER BY week_us""".stripMargin,
    "q_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         (epoch_us(o_orderdate) // 86400000000) // 7 AS week,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |cohorts AS (SELECT o_custkey, min(week) AS cohort_week FROM o GROUP BY 1),
        |size_ AS (SELECT cohort_week, count(*) AS cohort_users FROM cohorts GROUP BY 1),
        |per AS (
        |  SELECT cohort_week, week - cohort_week AS age_week,
        |         CAST(sum(cents) AS BIGINT) AS period_cents
        |  FROM o JOIN cohorts USING (o_custkey)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, CAST(sum(period_cents) OVER (PARTITION BY cohort_week ORDER BY age_week
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM per)
        |SELECT cohort_week * 7 * 86400000000 AS cohort_week_us,
        |       age_week,
        |       cohort_users,
        |       CAST(period_cents AS DOUBLE) / 100.0 AS period_revenue,
        |       CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
        |       floor(CAST(cum_cents * 100 AS DOUBLE) / CAST(cohort_users AS DOUBLE) + 0.5) / 10000.0 AS ltv_per_user
        |FROM cum JOIN size_ USING (cohort_week)
        |ORDER BY cohort_week_us, age_week""".stripMargin,
    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |dense AS (
        |  SELECT g.day, CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) g
        |  LEFT JOIN daily ON g.day = daily.day),
        |w AS (
        |  SELECT *,
        |         CAST(sum(n_events) OVER win AS BIGINT) AS sum7,
        |         count(*) OVER win AS n7,
        |         (day + 4) % 7 AS dow
        |  FROM dense
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT *, CASE WHEN n7 = 7 THEN n_events * 7 - sum7 END AS det7 FROM w),
        |seas AS (
        |  SELECT dow, CAST(sum(det7) AS BIGINT) AS s_sum, count(*) AS s_n
        |  FROM det WHERE det7 IS NOT NULL GROUP BY dow)
        |SELECT day * 86400000000 AS day_us,
        |       dow,
        |       n_events,
        |       floor(CASE WHEN n7 = 7 THEN CAST(sum7 AS DOUBLE) / 7.0 END * 10000.0 + 0.5) / 10000.0 AS trend,
        |       floor(CAST(s_sum AS DOUBLE) / (7.0 * CAST(s_n AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS seasonal,
        |       floor((CAST(det7 AS DOUBLE) / 7.0 - CAST(s_sum AS DOUBLE) / (7.0 * CAST(s_n AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS residual
        |FROM det LEFT JOIN seas USING (dow)
        |ORDER BY day_us""".stripMargin,
    "q_seasonal_strength" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |dense AS (
        |  SELECT g.day, CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) g
        |  LEFT JOIN daily ON g.day = daily.day),
        |w AS (
        |  SELECT *,
        |         CAST(sum(n_events) OVER win AS BIGINT) AS sum7,
        |         count(*) OVER win AS n7,
        |         (day + 4) % 7 AS dow
        |  FROM dense
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT *, CASE WHEN n7 = 7 THEN n_events * 7 - sum7 END AS det7 FROM w),
        |seas AS (
        |  SELECT dow, CAST(sum(det7) AS BIGINT) AS s_sum, count(*) AS s_n
        |  FROM det WHERE det7 IS NOT NULL GROUP BY dow),
        |comp AS (
        |  SELECT n_events,
        |         floor(CAST(s_sum AS DOUBLE) / (7.0 * CAST(s_n AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS seasonal,
        |         floor((CAST(det7 AS DOUBLE) / 7.0 - CAST(s_sum AS DOUBLE) / (7.0 * CAST(s_n AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS residual
        |  FROM det LEFT JOIN seas USING (dow)
        |  WHERE det7 IS NOT NULL),
        |base AS (
        |  SELECT CAST(floor(residual * 10000.0 + 0.5) AS BIGINT) AS rq,
        |         CAST(floor(seasonal * 10000.0 + 0.5) AS BIGINT)
        |           + CAST(floor(residual * 10000.0 + 0.5) AS BIGINT) AS dq,
        |         n_events * 10000 - CAST(floor(seasonal * 10000.0 + 0.5) AS BIGINT) AS tq
        |  FROM comp),
        |g AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(rq) AS BIGINT) AS sr, sum(rq * rq) AS srr,
        |         CAST(sum(dq) AS BIGINT) AS sd, sum(dq * dq) AS sdd,
        |         CAST(sum(tq) AS BIGINT) AS st, sum(tq * tq) AS stt
        |  FROM base),
        |v AS (
        |  SELECT n,
        |         CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS vr,
        |         CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS vd,
        |         CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS vt
        |  FROM g)
        |SELECT n AS n_days,
        |       floor(greatest(0.0, 1.0 - vr / vd) * 1000000.0 + 0.5) / 1000000.0 AS strength_seasonal,
        |       floor(greatest(0.0, 1.0 - vr / vt) * 1000000.0 + 0.5) / 1000000.0 AS strength_trend
        |FROM v""".stripMargin,
    "q_stl_anomaly" -> {
      val dec = """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |dense AS (
        |  SELECT g.day, CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) g
        |  LEFT JOIN daily ON g.day = daily.day),
        |w AS (
        |  SELECT *,
        |         CAST(sum(n_events) OVER win AS BIGINT) AS sum7,
        |         count(*) OVER win AS n7,
        |         (day + 4) % 7 AS dow
        |  FROM dense
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT *, CASE WHEN n7 = 7 THEN n_events * 7 - sum7 END AS det7 FROM w),
        |seas AS (
        |  SELECT dow, CAST(sum(det7) AS BIGINT) AS s_sum, count(*) AS s_n
        |  FROM det WHERE det7 IS NOT NULL GROUP BY dow),
        |full_ AS (
        |  SELECT day * 86400000000 AS day_us, dow, n_events,
        |         floor(CASE WHEN n7 = 7 THEN CAST(sum7 AS DOUBLE) / 7.0 END * 10000.0 + 0.5) / 10000.0 AS trend,
        |         floor(CAST(s_sum AS DOUBLE) / (7.0 * CAST(s_n AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS seasonal,
        |         floor((CAST(det7 AS DOUBLE) / 7.0 - CAST(s_sum AS DOUBLE) / (7.0 * CAST(s_n AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS residual
        |  FROM det LEFT JOIN seas USING (dow))""".stripMargin
      dec + s"""
        |SELECT CAST(row_number() OVER (ORDER BY abs(residual) DESC, day_us) AS BIGINT) AS rank,
        |       day_us, dow, n_events, trend, seasonal, residual
        |FROM full_ WHERE residual IS NOT NULL
        |QUALIFY rank <= $StlTopAnomalies
        |ORDER BY rank""".stripMargin
    },
    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                  (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1),
        |mx AS (SELECT max(rev_e4) AS mx FROM rev),
        |top AS (SELECT l_suppkey, rev_e4 FROM rev CROSS JOIN mx WHERE rev_e4 = mx)
        |SELECT s_suppkey, s_name, CAST(rev_e4 AS DOUBLE) / 10000.0 AS total_revenue
        |FROM top JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "q_waiting_suppliers" ->
      """WITH ps AS (
        |  SELECT l_orderkey, l_suppkey,
        |         max(CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate) > 90 * 86400000000 THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |po AS (
        |  SELECT l_orderkey, count(*) AS n_supp,
        |         CAST(sum(late) AS BIGINT) AS n_late,
        |         max(CASE WHEN late = 1 THEN l_suppkey END) AS lone_supp
        |  FROM ps GROUP BY 1)
        |SELECT lone_supp AS s_suppkey, s_name, count(*) AS numwait
        |FROM po JOIN supplier ON lone_supp = s_suppkey
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 10""".stripMargin,
    "q_bootstrap_ci" -> {
      val ha = graft.functions.Hashing
        .duckMd5Long("'bs:' || CAST(o_orderkey AS VARCHAR)")
      val hb = graft.functions.Hashing
        .duckMd5Long2("'bs:' || CAST(o_orderkey AS VARCHAR)")
      val caseChain = PoissonCum.zipWithIndex
        .map { case (thr, i) => s"WHEN m < $thr THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${PoissonCum.size} END")
      s"""WITH seeded AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |         $ha AS ha, $hb AS hb
         |  FROM orders),
         |rs AS (
         |  SELECT b, cents, (ha + b * hb + b * b * 2654435761) % 1000000 AS m
         |  FROM seeded CROSS JOIN (SELECT unnest(generate_series(1, $BootstrapB)) AS b)),
         |wt AS (SELECT b, cents, $caseChain AS w FROM rs),
         |means AS (
         |  SELECT b, CAST(sum(w * cents) AS BIGINT) AS wc, CAST(sum(w) AS BIGINT) AS wn
         |  FROM wt GROUP BY b),
         |mb AS (SELECT b, CAST(wc AS DOUBLE) / CAST(wn * 100 AS DOUBLE) AS mean_b FROM means),
         |rk AS (SELECT *, row_number() OVER (ORDER BY mean_b, b) AS rk FROM mb),
         |point AS (
         |  SELECT count(*) AS n_orders,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS tot
         |  FROM orders)
         |SELECT n_orders,
         |       CAST($BootstrapB AS BIGINT) AS n_resamples,
         |       floor(CAST(tot AS DOUBLE) / CAST(n_orders * 100 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS mean_value,
         |       floor((SELECT mean_b FROM rk WHERE rk = 2) * 10000.0 + 0.5) / 10000.0 AS ci_lo,
         |       floor((SELECT mean_b FROM rk WHERE rk = 62) * 10000.0 + 0.5) / 10000.0 AS ci_hi
         |FROM point""".stripMargin
    },
    "q_abc_analysis" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |tt AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM pp),
        |c AS (
        |  SELECT l_partkey, cents, tot,
        |         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM pp CROSS JOIN tt),
        |cls AS (
        |  SELECT *, CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.80 THEN 'A'
        |                 WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
        |                 ELSE 'C' END AS abc_class
        |  FROM c)
        |SELECT abc_class, count(*) AS n_parts,
        |       CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue,
        |       round(CAST(sum(cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS revenue_share
        |FROM cls GROUP BY 1 ORDER BY abc_class""".stripMargin,
    "q_decile_migration" ->
      s"""WITH p1 AS (
         |  SELECT o_custkey,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$MigrationSplit 00:00:00' GROUP BY 1),
         |q1 AS (SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS q_from FROM p1),
         |p2 AS (
         |  SELECT o_custkey,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders WHERE o_orderdate >= TIMESTAMP '$MigrationSplit 00:00:00' GROUP BY 1),
         |q2 AS (SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS q_to FROM p2)
         |SELECT coalesce(q_from, 0) AS q_from, coalesce(q_to, 0) AS q_to,
         |       count(*) AS n_customers
         |FROM q1 FULL OUTER JOIN q2 USING (o_custkey)
         |GROUP BY 1, 2
         |ORDER BY q_from, q_to""".stripMargin
  )
}
