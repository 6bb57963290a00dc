package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Inferential statistics over the star schema (SURVEY §2b rows
  * 30bf–30bi): hypothesis tests and robust trend estimators whose
  * decision numbers must be ENGINE-EXACT to be trustworthy as a gate.
  *
  * The determinism recipe (shared with [[OlapQueries]] /
  * [[TpchQueries]]): aggregate in exact integer / decimal fixed point
  * (sums of cents, sums of squared cents, signed pair counts), convert
  * to float only in the FINAL scalar formula — identical IEEE operand
  * trees on identical exact inputs give identical doubles in every
  * engine — and emit through the `floor(x·10⁶ + 0.5)/10⁶` tie rule.
  * Nothing here depends on float accumulation order.
  */
object StatsQueries {

  import graft.operators.SortUtil.sortSmall

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  private def floor6(c: Column): Column =
    floor(c * 1000000.0d + 0.5d) / 1000000.0d

  private def floor6Sql(e: String): String =
    s"floor(($e) * 1000000.0 + 0.5) / 1000000.0"

  /** Month index of an order date: months since 1995-01. */
  private def monthIdx(c: Column): Column =
    ((year(c) - 1995) * 12 + month(c) - 1).cast("long")

  private val MonthIdxSql = "(year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1"

  // ---------------------------------------------------------------
  // Welch's t-test
  // ---------------------------------------------------------------

  /** Welch's unequal-variance t-test: do purchase events carry a
    * different mean value than non-purchase events? The scalable
    * shape: ONE map-side-combinable aggregate per group over exact
    * integer cents — n, Σc (int64), Σc² (decimal 38 — a cents² term
    * is ~2⁵¹, a long sum would overflow at corpus scale) — then the
    * t statistic and Welch–Satterthwaite df are pure scalar IEEE
    * arithmetic on the two exact triples. No per-row float ever sums. */
  def qWelchTtest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(
        (col("event_type") === "purchase").as("grp"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val g = ev
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n"),
        sum("c").as("sc"),
        sum(dec(col("c")) * col("c")).as("sq"))
    val a = g.filter(col("grp"))
      .select(col("n").as("n_a"), col("sc").as("sc_a"), col("sq").as("sq_a"))
    val b = g.filter(!col("grp"))
      .select(col("n").as("n_b"), col("sc").as("sc_b"), col("sq").as("sq_b"))
    a.crossJoin(broadcast(b))
      .selectExpr(
        "n_a",
        "n_b",
        "CAST(sc_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0) AS mean_a",
        "CAST(sc_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0) AS mean_b",
        "(CAST(sq_a AS DOUBLE) - CAST(sc_a AS DOUBLE) * CAST(sc_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / ((CAST(n_a AS DOUBLE) - 1.0) * 10000.0) AS var_a",
        "(CAST(sq_b AS DOUBLE) - CAST(sc_b AS DOUBLE) * CAST(sc_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / ((CAST(n_b AS DOUBLE) - 1.0) * 10000.0) AS var_b")
      .selectExpr(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        "var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) AS se2")
      .select(
        col("n_a"),
        col("n_b"),
        floor6(col("mean_a")).as("mean_a"),
        floor6(col("mean_b")).as("mean_b"),
        floor6((col("mean_a") - col("mean_b")) / sqrt(col("se2"))).as("t_stat"),
        floor6(
          col("se2") * col("se2") /
            ((col("var_a") / col("n_a")) * (col("var_a") / col("n_a")) /
              (col("n_a") - 1.0d) +
              (col("var_b") / col("n_b")) * (col("var_b") / col("n_b")) /
                (col("n_b") - 1.0d))).as("df"))
  }

  // ---------------------------------------------------------------
  // Mann–Kendall trend test
  // ---------------------------------------------------------------

  /** Two-sided 5% critical value, spelled to µ-precision so the
    * boundary compare runs on the exact same literal in both engines. */
  val MkCritical = 1.959964d

  /** Mann–Kendall monotonic-trend test on monthly order counts: the
    * non-parametric "is demand trending" gate. S = Σ sign(cⱼ−cᵢ) over
    * month pairs and the tie-corrected variance are EXACT int64 (the
    * pair join runs on the month-count statistic table — |months|²
    * pairs, bounded, broadcast — never on the fact table, which folds
    * to per-month counts first). Only the final z is float. */
  def qMannKendall(s: SparkSession, d: String): DataFrame = {
    val m = Tables(s, d, "orders")
      .groupBy(monthIdx(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("c"))
    val pairs = m
      .select(col("m").as("ma"), col("c").as("ca"))
      .join(broadcast(m.select(col("m").as("mb"), col("c").as("cb"))), col("ma") < col("mb"))
    val sStat = pairs.agg(
      sum(
        when(col("cb") > col("ca"), 1L)
          .when(col("cb") < col("ca"), -1L)
          .otherwise(0L)).as("s_stat"))
    val ties = m
      .groupBy("c")
      .agg(count(lit(1)).as("tk"))
      .filter(col("tk") > 1)
      .agg(
        coalesce(
          sum(col("tk") * (col("tk") - 1) * (lit(2L) * col("tk") + 5)),
          lit(0L)).as("tie_term"))
    val nn = m.agg(count(lit(1)).as("n_periods"))
    nn.crossJoin(broadcast(sStat))
      .crossJoin(broadcast(ties))
      .withColumn(
        "var18",
        col("n_periods") * (col("n_periods") - 1) *
          (lit(2L) * col("n_periods") + 5) - col("tie_term"))
      .withColumn(
        "z_stat",
        when(
          col("s_stat") > 0,
          (col("s_stat") - 1L).cast("double") /
            sqrt(col("var18").cast("double") / 18.0d))
          .when(
            col("s_stat") < 0,
            (col("s_stat") + 1L).cast("double") /
              sqrt(col("var18").cast("double") / 18.0d))
          .otherwise(0.0d))
      .select(
        col("n_periods"),
        col("s_stat"),
        (col("var18").cast("double") / 18.0d).as("var_s"),
        floor6(col("z_stat")).as("z_stat"),
        when(col("z_stat") > MkCritical, "increasing")
          .when(col("z_stat") < -MkCritical, "decreasing")
          .otherwise("none").as("trend"))
  }

  // ---------------------------------------------------------------
  // Theil–Sen robust trend line
  // ---------------------------------------------------------------

  /** Theil–Sen estimator on monthly order counts: the median of all
    * pairwise slopes (robust to outlier months where least squares is
    * not), intercept = median residual. Slopes are single IEEE
    * divisions of exact int64 deltas (identical doubles in every
    * engine); both medians are RANK PICKS over a deterministic
    * (value, key) order — the even-size case averages the two middle
    * doubles, also engine-exact. Pair set is |months|², statistic-
    * sized, broadcast. */
  def qTheilSen(s: SparkSession, d: String): DataFrame = {
    val m = Tables(s, d, "orders")
      .groupBy(monthIdx(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("c"))
    val pairs = m
      .select(col("m").as("ma"), col("c").as("ca"))
      .join(broadcast(m.select(col("m").as("mb"), col("c").as("cb"))), col("ma") < col("mb"))
      .select(
        ((col("cb") - col("ca")).cast("double") /
          (col("mb") - col("ma")).cast("double")).as("slope"),
        col("ma"),
        col("mb"))
    val ranked = pairs.withColumn(
      "rk",
      row_number().over(Window.orderBy("slope", "ma", "mb")).cast("long"))
    val cnt = ranked.agg(max("rk").as("n_pairs"))
    val slopeMed = ranked
      .crossJoin(broadcast(cnt))
      .filter(
        col("rk") === expr("(n_pairs + 1) DIV 2") ||
          col("rk") === expr("(n_pairs + 2) DIV 2"))
      .agg(avg("slope").as("slope_med"), max("n_pairs").as("n_pairs"))
    val resid = m
      .crossJoin(broadcast(slopeMed))
      .select(
        col("n_pairs"),
        col("slope_med"),
        (col("c").cast("double") - col("slope_med") * col("m").cast("double"))
          .as("r"),
        col("m"))
    val rankedR = resid.withColumn(
      "rk",
      row_number().over(Window.orderBy("r", "m")).cast("long"))
    val cntR = rankedR.agg(max("rk").as("n_points"))
    rankedR
      .crossJoin(broadcast(cntR))
      .filter(
        col("rk") === expr("(n_points + 1) DIV 2") ||
          col("rk") === expr("(n_points + 2) DIV 2"))
      .agg(
        max("n_pairs").as("n_pairs"),
        max("n_points").as("n_periods"),
        floor6(max("slope_med")).as("slope"),
        floor6(avg("r")).as("intercept"))
  }

  // ---------------------------------------------------------------
  // Monthly churn / retention
  // ---------------------------------------------------------------

  /** Monthly customer churn: per month, how many of last month's
    * active customers came back (retained) vs disappeared (churned).
    * One distinct (month, customer) pass over orders, a self-join on
    * the shifted month — both sides pre-aggregated, keyed and
    * co-partitioned on (month, customer) — then integer counts and ONE
    * division per month. Output is month-bounded. */
  def qChurnRate(s: SparkSession, d: String): DataFrame = {
    val am = Tables(s, d, "orders")
      .select(monthIdx(col("o_orderdate")).as("m"), col("o_custkey"))
      .distinct()
    val active = am.groupBy("m").agg(count(lit(1)).as("active"))
    val prevActive = active
      .select((col("m") + 1).as("m"), col("active").as("active_prev"))
    val retained = am
      .select((col("m") + 1).as("m"), col("o_custkey"))
      .join(am, Seq("m", "o_custkey"))
      .groupBy("m")
      .agg(count(lit(1)).as("retained"))
    active
      .join(prevActive, "m")
      .join(retained, Seq("m"), "left")
      .select(
        col("m").as("month_idx"),
        col("active_prev"),
        col("active"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        (col("active_prev") - coalesce(col("retained"), lit(0L))).as("churned"),
        floor6(
          (col("active_prev") - coalesce(col("retained"), lit(0L)))
            .cast("double") / col("active_prev").cast("double"))
          .as("churn_rate"),
        floor6(
          coalesce(col("retained"), lit(0L)).cast("double") /
            col("active_prev").cast("double")).as("retention_rate"))
      .transform(sortSmall(_, col("month_idx")))
  }

  // ---------------------------------------------------------------
  // Forecast backtest (naive vs seasonal-naive)
  // ---------------------------------------------------------------

  /** One-step-ahead forecast backtest on daily event counts per type:
    * naive (yesterday) vs seasonal-naive (same weekday last week),
    * scored with MAE, RMSE, and WAPE. The error sums the engines must
    * agree on are EXACT int64 (|err|, err², Σactual — never a float
    * accumulation); each score is one or two scalar IEEE ops per
    * group. Lags run over the dense per-type day grid (zeros filled —
    * skipping empty days would misalign every lag), a statistic-sized
    * table. */
  def qForecastEval(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .groupBy(col("event_type"), (col("ts_us") - (col("ts_us") % DayUs)).as("day_us"))
      .agg(count(lit(1)).as("c"))
    val bounds = ev.agg(min("day_us").as("mn"), max("day_us").as("mx"))
    val grid = ev
      .select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(
        col("event_type"),
        explode(expr(s"sequence(mn, mx, $DayUs)")).as("day_us"))
    val dense = grid
      .join(ev, Seq("event_type", "day_us"), "left")
      .select(
        col("event_type"),
        col("day_us"),
        coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day_us")
    dense
      .withColumn("naive", lag("c", 1).over(w))
      .withColumn("snaive", lag("c", 7).over(w))
      .filter(col("snaive").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum("c").as("actual_total"),
        sum(abs(col("c") - col("naive"))).as("ae_naive"),
        sum((col("c") - col("naive")) * (col("c") - col("naive"))).as("se_naive"),
        sum(abs(col("c") - col("snaive"))).as("ae_snaive"),
        sum((col("c") - col("snaive")) * (col("c") - col("snaive"))).as("se_snaive"))
      .select(
        col("event_type"),
        col("n_days"),
        floor6(col("ae_naive").cast("double") / col("n_days").cast("double"))
          .as("mae_naive"),
        floor6(sqrt(col("se_naive").cast("double") / col("n_days").cast("double")))
          .as("rmse_naive"),
        floor6(col("ae_naive").cast("double") / col("actual_total").cast("double"))
          .as("wape_naive"),
        floor6(col("ae_snaive").cast("double") / col("n_days").cast("double"))
          .as("mae_snaive"),
        floor6(sqrt(col("se_snaive").cast("double") / col("n_days").cast("double")))
          .as("rmse_snaive"),
        floor6(col("ae_snaive").cast("double") / col("actual_total").cast("double"))
          .as("wape_snaive"))
      .transform(sortSmall(_, col("event_type")))
  }

  private val DayUs = 86400000000L

  // ---------------------------------------------------------------
  // CUPED variance-reduced A/B readout
  // ---------------------------------------------------------------

  /** Experiment-period boundary: pre-period covariate = user spend
    * before this instant, post-period metric = spend after. */
  val CupedSplit = "2024-01-16"

  /** CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    * al., WSDM'13): the industry-standard variance reduction for A/B
    * readouts — adjust each user's post-period metric by their
    * pre-period baseline, Y' = Y − θ(X − E[X]), θ = cov(X,Y)/var(X).
    * Arms are the same md5 hash split as q_ab_test (reproducible
    * everywhere). The whole estimator is TWO aggregates: per-user
    * (pre, post) cents, then one global fold producing n, ΣX, ΣY,
    * ΣX², ΣY², ΣXY (squares/products in decimal-38 — cents² wraps
    * int64 at corpus scale) plus the per-arm conditional sums — θ,
    * the adjusted means, and the realized variance reduction (ρ²)
    * are scalar IEEE arithmetic on those exact sums. */
  def qCuped(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hashing
    val splitUs = java.time.LocalDate
      .parse(CupedSplit)
      .atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant
      .toEpochMilli * 1000L
    val per = Tables
      .events(s, d)
      .select(
        col("user_id"),
        col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id")
      .agg(
        sum(when(col("ts_us") < splitUs, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("ts_us") >= splitUs, col("cents")).otherwise(0L)).as("y"))
      .withColumn(
        "arm",
        Hashing.md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
    val g = per.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"),
      sum("y").as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("y")) * col("y")).as("syy"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy_b"))
    g.selectExpr(
      "n",
      "n_a",
      "n_b",
      "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS theta",
      "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS rho2",
      "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx",
      "CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS my_a",
      "CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS my_b",
      "CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mx_a",
      "CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mx_b")
      .select(
        col("n").as("n_users"),
        col("n_a"),
        col("n_b"),
        floor6(col("theta")).as("theta"),
        floor6(col("rho2")).as("var_reduction"),
        floor6(col("my_a") / 100.0d).as("mean_post_a"),
        floor6(col("my_b") / 100.0d).as("mean_post_b"),
        floor6((col("my_a") - col("theta") * (col("mx_a") - col("mx"))) / 100.0d)
          .as("mean_adj_a"),
        floor6((col("my_b") - col("theta") * (col("mx_b") - col("mx"))) / 100.0d)
          .as("mean_adj_b"))
  }

  // ---------------------------------------------------------------
  // Discrete-time conversion hazard (life table)
  // ---------------------------------------------------------------

  /** The (d, at_risk, n_convert) signup→purchase life table shared by
    * [[qHazardCurve]] and [[qKaplanMeier]]: for each day-since-signup
    * d, how many users were still at risk (observed through d, not
    * yet converted) and how many converted ON day d, with
    * right-censoring by each user's observation window (corpus end −
    * signup). Shape: two co-keyed (user) aggregates, a day-range
    * explode bounded by the observation window (the q_rolling_active
    * pattern), one day-grid aggregate. */
  private def hazardTable(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val endDf = ev.agg(max("ts_us").as("end_us"))
    val signups = ev
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min("ts_us").as("signup_us"))
    // the ≥-signup condition lives IN the join: a user whose only
    // purchases predate signup must stay (censored), not vanish
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts_us").as("p_us"))
    val firstConv = signups
      .join(
        purchases,
        col("user_id") === col("p_uid") && col("p_us") >= col("signup_us"),
        "left")
      .groupBy("user_id")
      .agg(
        min("signup_us").as("signup_us"),
        min("p_us").as("conv_us"))
    val perUser = firstConv
      .crossJoin(broadcast(endDf))
      .select(
        col("user_id"),
        expr(s"(end_us - signup_us) DIV $DayUs").as("censor_d"),
        when(
          col("conv_us").isNotNull,
          expr(s"(conv_us - signup_us) DIV $DayUs"))
          .as("conv_d"))
      .select(
        col("user_id"),
        col("conv_d"),
        least(coalesce(col("conv_d"), col("censor_d")), col("censor_d"))
          .as("last_risk_d"))
    perUser
      .select(
        col("conv_d"),
        explode(expr("sequence(0, last_risk_d)")).as("d"))
      .groupBy("d")
      .agg(
        count(lit(1)).as("at_risk"),
        sum(when(col("conv_d") === col("d"), 1L).otherwise(0L)).as("n_convert"))
  }

  /** Discrete-time hazard per day-since-signup — the life table with
    * the per-day conversion rate. Every count is an exact integer and
    * the hazard is ONE IEEE division, so every number is
    * engine-exact; the product-limit estimator lives in
    * [[qKaplanMeier]]. */
  def qHazardCurve(s: SparkSession, d: String): DataFrame =
    hazardTable(s, d)
      .select(
        col("d"),
        col("at_risk"),
        col("n_convert"),
        floor6(col("n_convert").cast("double") / col("at_risk").cast("double"))
          .as("hazard"))
      .transform(sortSmall(_, col("d")))

  /** Kaplan–Meier product-limit survival curve over the signup→
    * purchase life table: S(d) = Π_{i ≤ d} (1 − dᵢ/nᵢ) with
    * right-censoring — the standard "fraction still unconverted at
    * day d" read of [[qHazardCurve]]'s table. The running product is
    * order-sensitive float arithmetic, so it is computed as a
    * deterministic LEFT FOLD over the day-sorted life table (the
    * [[graft.queries.OlapQueries.qHolt]] / qEma recursion pattern):
    * the identical IEEE multiply sequence as the oracle's recursive
    * CTE, bit-exact before the display floor. Scale shape: the corpus
    * collapses to the day-grid life table first (statistic-sized, one
    * row per day-since-signup), so the collect_list fold is bounded
    * by the calendar, never the data. */
  def qKaplanMeier(s: SparkSession, d: String): DataFrame = {
    val rowT =
      "ARRAY<STRUCT<d: BIGINT, at_risk: BIGINT, n_convert: BIGINT, surv: DOUBLE>>"
    hazardTable(s, d)
      .agg(
        sort_array(
          collect_list(struct(col("d"), col("at_risk"), col("n_convert"))))
          .as("a"))
      .select(
        explode(
          aggregate(
            col("a"),
            struct(
              expr(s"CAST(array() AS $rowT)").as("rows"),
              lit(1.0d).as("s")),
            (acc, e) => {
              val s2 = acc.getField("s") *
                (lit(1.0d) -
                  e.getField("n_convert").cast("double") /
                  e.getField("at_risk").cast("double"))
              struct(
                concat(
                  acc.getField("rows"),
                  array(
                    struct(
                      e.getField("d").as("d"),
                      e.getField("at_risk").as("at_risk"),
                      e.getField("n_convert").as("n_convert"),
                      s2.as("surv")))).as("rows"),
                s2.as("s"))
            },
            acc => acc.getField("rows"))).as("r"))
      .select(
        col("r.d").as("d"),
        col("r.at_risk").as("at_risk"),
        col("r.n_convert").as("n_convert"),
        floor6(
          col("r.n_convert").cast("double") / col("r.at_risk").cast("double"))
          .as("hazard"),
        floor6(col("r.surv")).as("survival"))
      .transform(sortSmall(_, col("d")))
  }

  // ---------------------------------------------------------------
  // Rate/volume/mix decomposition (period-over-period variance bridge)
  // ---------------------------------------------------------------

  /** Boundary between the two compared periods. */
  val MixSplit = "1998-01-01"

  /** Period-over-period revenue bridge per market segment: the FP&A
    * classic that decomposes Δrevenue into a volume effect
    * ((n₂−n₁)·r₁), a rate effect (n₁·(r₂−r₁)), and the joint term —
    * "did we sell more orders, bigger orders, or both". ONE orders
    * aggregate with conditional per-period sums (segment dim
    * broadcast); counts and cents stay exact int64, rates are single
    * IEEE divisions, effects are products of those deterministic
    * doubles. Segment-bounded output. */
  def qMixShift(s: SparkSession, d: String): DataFrame = {
    val split = lit(MixSplit).cast("timestamp")
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val g = Tables(s, d, "orders")
      .join(
        broadcast(Tables(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(when(col("o_orderdate") < split, 1L).otherwise(0L)).as("n1"),
        sum(when(col("o_orderdate") < split, cents).otherwise(0L)).as("rev1"),
        sum(when(col("o_orderdate") >= split, 1L).otherwise(0L)).as("n2"),
        sum(when(col("o_orderdate") >= split, cents).otherwise(0L)).as("rev2"))
    g.selectExpr(
      "c_mktsegment",
      "n1",
      "n2",
      "rev1",
      "rev2",
      "CAST(rev1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS r1",
      "CAST(rev2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS r2")
      .select(
        col("c_mktsegment"),
        col("n1"),
        col("n2"),
        (col("rev1").cast("double") / 100.0d).as("revenue_1"),
        (col("rev2").cast("double") / 100.0d).as("revenue_2"),
        ((col("rev2") - col("rev1")).cast("double") / 100.0d).as("delta"),
        floor6((col("n2") - col("n1")).cast("double") * col("r1") / 100.0d)
          .as("volume_effect"),
        floor6(col("n1").cast("double") * (col("r2") - col("r1")) / 100.0d)
          .as("rate_effect"),
        floor6(
          (col("n2") - col("n1")).cast("double") * (col("r2") - col("r1")) /
            100.0d).as("joint_effect"))
      .transform(sortSmall(_, col("c_mktsegment")))
  }

  // ---------------------------------------------------------------
  // Wald–Wolfowitz runs test
  // ---------------------------------------------------------------

  /** Runs test for randomness on daily order counts: are above-median
    * and below-median days randomly interleaved, or do they cluster
    * (trend/regime) — the non-parametric sanity check next to
    * Mann–Kendall. Median = rank pick over the day-count statistic
    * table; the run count is a lag compare over the same table;
    * n₁/n₂/R stay exact int64 and only the final z is float. Days at
    * the median are excluded (the standard two-sample reduction). */
  def qRunsTest(s: SparkSession, d: String): DataFrame = {
    val days = Tables(s, d, "orders")
      .groupBy(
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV $DayUs").as("day"))
      .agg(count(lit(1)).as("c"))
    val ranked = days.withColumn(
      "rk",
      row_number().over(Window.orderBy("c", "day")).cast("long"))
    val cnt = ranked.agg(max("rk").as("n_days"))
    val med = ranked
      .crossJoin(broadcast(cnt))
      .filter(
        col("rk") === expr("(n_days + 1) DIV 2") ||
          col("rk") === expr("(n_days + 2) DIV 2"))
      .agg(avg(col("c").cast("double")).as("med"))
    val signed = days
      .crossJoin(broadcast(med))
      .filter(col("c").cast("double") =!= col("med"))
      .select(
        col("day"),
        (col("c").cast("double") > col("med")).cast("long").as("sgn"))
    val w = Window.orderBy("day")
    val runs = signed
      .withColumn("prev", lag("sgn", 1).over(w))
      .agg(
        sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
          .otherwise(0L)).as("runs"),
        sum(col("sgn")).as("n_above"),
        sum(lit(1L) - col("sgn")).as("n_below"))
    // degenerate guard (r15, mirrored in the oracle): with < 2 signed
    // days the variance denominator n²(n−1) is zero — the z statistic
    // is undefined, so emit NULL instead of a divide-by-zero error
    // (observed at sf0.001's single-non-median-day fixture only; every
    // n ≥ 2 input is bit-identical to the unguarded formula)
    runs.selectExpr(
      "n_above",
      "n_below",
      "runs",
      "2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) + 1.0 AS mu",
      "CASE WHEN n_above + n_below < 2 THEN CAST(NULL AS DOUBLE) ELSE 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE)) / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) - 1.0)) END AS var_r")
      .select(
        col("n_above"),
        col("n_below"),
        col("runs"),
        floor6(col("mu")).as("expected_runs"),
        // z is undefined at non-positive variance (one-sided or < 2
        // signed days) — NULL, not a 0/0 (ANSI throws on double 0/0)
        when(
          col("var_r") > 0.0d,
          floor6(
            (col("runs").cast("double") - col("mu")) / sqrt(col("var_r"))))
          .otherwise(lit(null).cast("double"))
          .as("z_stat"))
  }

  // ---------------------------------------------------------------

  /** Nelson–Aalen cumulative hazard over the same signup→purchase life
    * table as [[qKaplanMeier]] — the estimator KM textbooks pair with
    * the product-limit curve: H(d) = Σ_{d'≤d} dᵢ/nᵢ with variance
    * Σ dᵢ/nᵢ² (Aalen 1978). Each increment is floor-quantized to int64
    * BEFORE its cumulative sum (integer DIV at 1e-9 hazard / 1e-12
    * variance units), so the running sums are order-free integers and
    * the only doubles are two final divisions — engine-exact WITHOUT
    * replaying a sequential fold (the KM oracle needs a recursive CTE
    * for its product; the additive estimator doesn't). Scale shape:
    * rides the one-exchange [[hazardTable]]; the cumulative windows run
    * over the ≤ observation-window-days statistic table. */
  def qNelsonAalen(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hazardTable(s, d)
      .withColumn("hq", expr("(n_convert * 1000000000L) DIV at_risk"))
      .withColumn(
        "vq",
        expr("(n_convert * 1000000000000L) DIV (at_risk * at_risk)"))
      .select(
        col("d"),
        col("at_risk"),
        col("n_convert"),
        floor6(sum("hq").over(w).cast("double") / lit(1e9d)).as("cum_hazard"),
        floor6(sum("vq").over(w).cast("double") / lit(1e12d)).as("cum_var"))
      .transform(sortSmall(_, col("d")))
  }

  // ---------------------------------------------------------------
  // One-way ANOVA, Kruskal–Wallis, Cochran–Armitage
  // ---------------------------------------------------------------

  /** Exact integer floor-division for decimal operands:
    * `(a − a mod b) / b`. The subtraction makes the division REMAINDER-
    * FREE, so the decimal quotient is exact regardless of either
    * engine's division-scale rules — the int64-safe stand-in for `DIV` when
    * quotients past 2⁶³ (Spark's integral divide always returns long).
    * Callers guarantee a ≥ 0, b > 0. */
  private def divFloorSql(a: String, b: String): String =
    s"CAST((($a) - (($a) % ($b))) / ($b) AS DECIMAL(38,0))"

  /** One-way ANOVA F test: does mean event value differ across event
    * types? The k-group generalization of [[qWelchTtest]], same
    * sufficient-statistic discipline: ONE map-side-combinable aggregate
    * per group over exact integer cents (n, Σc int64, Σc² decimal 38),
    * then Σ_g S_g²/n_g — the one cross-group term a float sum would
    * make order-dependent — is folded as exact centi-unit integers
    * ([[divFloorSql]], quantization error ≤ 0.01 per group) so the
    * grand totals are order-free. F, η², and the group count are pure
    * scalar IEEE arithmetic on the exact totals. Scale shape: corpus →
    * k-row statistic table in one exchange; decimal 38 holds S_g²·100
    * to ~10¹⁸-row groups. */
  def qAnova(s: SparkSession, d: String): DataFrame = {
    val g = Tables
      .events(s, d)
      .select(
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("c").as("sc"),
        sum(dec(col("c")) * col("c")).as("sq"))
    g.select(
      col("n"),
      col("sc"),
      col("sq"),
      expr(divFloorSql(
        "CAST(sc AS DECIMAL(38,0)) * sc * 100",
        "CAST(n AS DECIMAL(38,0))")).as("tq"))
      .agg(
        count(lit(1)).as("k_groups"),
        sum("n").as("n_events"),
        sum(dec(col("sc"))).as("s_tot"),
        sum("sq").as("q_tot"),
        sum("tq").as("t_cq"))
      .selectExpr(
        "n_events",
        "k_groups",
        "CAST(t_cq AS DOUBLE) / 100.0 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_events AS DOUBLE) AS ssb",
        "CAST(q_tot AS DOUBLE) - CAST(t_cq AS DOUBLE) / 100.0 AS ssw")
      .select(
        col("n_events"),
        col("k_groups"),
        floor6(
          (col("ssb") / (col("k_groups") - lit(1L)).cast("double")) /
            (col("ssw") / (col("n_events") - col("k_groups")).cast("double")))
          .as("f_stat"),
        floor6(col("ssb") / (col("ssb") + col("ssw"))).as("eta_sq"))
  }

  /** Kruskal–Wallis H test: the rank-based, distribution-free sibling
    * of [[qAnova]] (same question, no normality assumption). NEVER
    * ranks the corpus row-by-row: values fold to per-(type, cent)
    * counts, the global midrank of each DISTINCT cent value comes from
    * one cumulative window over the value-histogram statistic table
    * (doubled to keep .5 midranks integer: r₂ = 2·(cum−t) + t + 1),
    * and each group's rank sum is Σ m·r₂ — exact decimal integers all
    * the way. Σ_g R_g²/n_g folds via [[divFloorSql]] at ×25 (= ×100/4,
    * un-doubling r₂; error ≤ 0.01/group), the tie term Σ(t³−t) is
    * exact decimal, and H, the tie correction, and H_corr are final
    * scalar IEEE trees. */
  def qKruskalWallis(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    val cnt = ev.groupBy("event_type", "v").agg(count(lit(1)).as("m"))
    val vtot = cnt.groupBy("v").agg(sum("m").as("t"))
    // value-histogram table: |distinct cents| rows — statistic-sized,
    // so the single-partition cumulative window is bounded by design
    val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = vtot
      .withColumn("cum", sum("t").over(wv))
      .select(
        col("v"),
        col("t"),
        (lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L)).as("r2"))
    val grp = cnt
      .join(ranked.select("v", "r2"), Seq("v"))
      .groupBy("event_type")
      .agg(
        sum("m").as("n"),
        sum(dec(col("m")) * col("r2")).as("rs2"))
    val tots = grp
      .select(
        col("n"),
        expr(divFloorSql("rs2 * rs2 * 25", "CAST(n AS DECIMAL(38,0))")).as("tq"))
      .agg(
        count(lit(1)).as("k_groups"),
        sum("n").as("n_events"),
        sum("tq").as("t_cq"))
    val tiesum = vtot
      .agg(
        coalesce(
          sum(dec(col("t")) * col("t") * col("t") - col("t")),
          lit(0L).cast("decimal(38,0)")).as("tie3"))
    tots
      .crossJoin(broadcast(tiesum))
      .selectExpr(
        "n_events",
        "k_groups",
        "12.0 * (CAST(t_cq AS DOUBLE) / 100.0) / (CAST(n_events AS DOUBLE) * (CAST(n_events AS DOUBLE) + 1.0)) - 3.0 * (CAST(n_events AS DOUBLE) + 1.0) AS h_raw",
        "1.0 - CAST(tie3 AS DOUBLE) / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) - CAST(n_events AS DOUBLE)) AS tie_c")
      .select(
        col("n_events"),
        col("k_groups"),
        floor6(col("h_raw")).as("h_stat"),
        floor6(col("tie_c")).as("tie_correction"),
        floor6(col("h_raw") / col("tie_c")).as("h_corrected"))
  }

  /** Cochran–Armitage trend test: does the return rate trend
    * monotonically across the 11 ordered discount levels? The
    * dose-response gate (binary outcome × ordered doses) that a plain
    * χ² can't answer — χ² sees ANY deviation, CA weights it by dose
    * order. Doses are exact integers (discount·100), so every
    * sufficient statistic (N, R, Σk·n_k, Σk²·n_k, Σk·r_k) is an exact
    * decimal fold of the 11-row dose table, and
    * z = (N·Σk·r_k − R·Σk·n_k) / √(R(N−R)(N·Σk²n_k − (Σk·n_k)²)/N)
    * is one scalar IEEE tree. Scale shape: fact table → 11-row
    * statistic table in one exchange. */
  def qCochranArmitage(s: SparkSession, d: String): DataFrame = {
    val doses = Tables(s, d, "lineitem")
      .select(
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("k"),
        (col("l_returnflag") === "R").cast("long").as("r"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum("r").as("rk"))
    doses
      .agg(
        count(lit(1)).as("n_doses"),
        sum("n").as("nn"),
        sum("rk").as("rr"),
        sum(dec(col("k")) * col("n")).as("s1"),
        sum(dec(col("k")) * col("k") * col("n")).as("s2"),
        sum(dec(col("k")) * col("rk")).as("t1"))
      .selectExpr(
        "nn AS n_lines",
        "rr AS n_returns",
        "n_doses",
        "CAST(CAST(nn AS DECIMAL(38,0)) * t1 - CAST(rr AS DECIMAL(38,0)) * s1 AS DOUBLE) AS num",
        "CAST(rr AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE)) * CAST(CAST(nn AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE) / CAST(nn AS DOUBLE) AS den2")
      .select(
        col("n_lines"),
        col("n_returns"),
        col("n_doses"),
        floor6(col("num") / sqrt(col("den2"))).as("z_stat"),
        floor6(col("num") * col("num") / col("den2")).as("chi2_trend"),
        (col("num") * col("num") / col("den2") > lit(3.841459d)).as("significant"))
  }

  /** Spearman rank correlation per source between document length
    * (chars) and token count — the monotonic-association audit (are
    * long docs just more tokens, or is char/token shape drifting?)
    * robust to the heavy length tails that bend Pearson. Midranks are
    * kept INTEGER by doubling (r₂ = 2·minrank + ties − 1, the
    * [[graft.queries.OlapQueries]] Pettitt rank algebra), every
    * sufficient statistic is an exact decimal fold, and ρ is one
    * scalar IEEE tree per source (the ×2 scale cancels). Scale shape:
    * two source-partitioned rank windows + one aggregate — no pair
    * joins, no global sort. */
  def qSpearman(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents")
      .select(
        col("source"),
        col("n_chars").as("x"),
        expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)")
          .as("y"))
    val bySrc = Window.partitionBy("source")
    val ranked = base
      .withColumn("rx", rank().over(bySrc.orderBy("x")).cast("long"))
      .withColumn("tx", count(lit(1)).over(Window.partitionBy("source", "x")))
      .withColumn("ry", rank().over(bySrc.orderBy("y")).cast("long"))
      .withColumn("ty", count(lit(1)).over(Window.partitionBy("source", "y")))
      .select(
        col("source"),
        (lit(2L) * col("rx") + col("tx") - lit(1L)).as("r2x"),
        (lit(2L) * col("ry") + col("ty") - lit(1L)).as("r2y"))
    ranked
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(dec(col("r2x"))).as("sx"),
        sum(dec(col("r2y"))).as("sy"),
        sum(dec(col("r2x")) * col("r2y")).as("sxy"),
        sum(dec(col("r2x")) * col("r2x")).as("sxx"),
        sum(dec(col("r2y")) * col("r2y")).as("syy"))
      .select(
        col("source"),
        col("n_docs"),
        floor6(
          (dec(col("n_docs")) * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(
              (dec(col("n_docs")) * col("sxx") - col("sx") * col("sx")).cast("double") *
                (dec(col("n_docs")) * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("spearman_rho"))
      .transform(sortSmall(_, col("source")))
  }

  /** Theil-T inequality of customer revenue, decomposed by market
    * segment — the inequality index that DECOMPOSES exactly
    * (T = T_between + Σ s_g·T_g), which [[graft.queries.OlapQueries]]'s
    * Gini can't do: is revenue concentration a between-segment story or
    * within-segment whales? Per-customer cents are exact; each
    * (x/μ)·ln(x/μ) term is a fixed IEEE tree on (x, N, S) /
    * (x, n_g, S_g) broadcast scalars, floor-quantized to µ-units BEFORE
    * its sum (order-free exact decimal folds); the 5 per-segment
    * between/within contributions quantize the same way. Population =
    * customers with ≥ 1 order (zero-revenue customers contribute 0·ln 0
    * = 0 and are excluded, the standard reduction). One fact exchange
    * (custkey aggregate → segment join), then segment-sized algebra. */
  def qTheilIndex(s: SparkSession, d: String): DataFrame = {
    val rev = Tables(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
      .join(
        Tables(s, d, "customer").select(
          col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment")),
        Seq("o_custkey"))
    val seg = rev
      .groupBy("segment")
      .agg(count(lit(1)).as("n_g"), sum(dec(col("x"))).as("s_g"))
    val tot = seg.agg(
      sum("n_g").as("nn"),
      sum("s_g").as("ss"),
      count(lit(1)).as("n_segments"))
    def xlnx(r: Column): Column = r * log(r) // r = x/μ as a double
    val rTot = col("x").cast("double") * col("nn").cast("double") / col("ss").cast("double")
    val rGrp = col("x").cast("double") * col("n_g").cast("double") / col("s_g").cast("double")
    val rowq = rev
      .join(broadcast(seg), "segment")
      .crossJoin(broadcast(tot))
      .select(
        col("segment"),
        floor(xlnx(rTot) * lit(1000000.0d)).cast("long").as("qt"),
        floor(xlnx(rGrp) * lit(1000000.0d)).cast("long").as("qg"))
    val perSeg = rowq
      .groupBy("segment")
      .agg(sum(dec(col("qt"))).as("sqt"), sum(dec(col("qg"))).as("sqg"))
      .join(broadcast(seg), "segment")
      .crossJoin(broadcast(tot))
      .select(
        col("sqt"),
        // within contribution s_g·T_g and between term s_g·ln(s_g/p_g),
        // each one fixed IEEE tree on exact operands, µ-quantized
        floor(
          (col("s_g").cast("double") / col("ss").cast("double")) *
            (col("sqg").cast("double") / (col("n_g").cast("double") * lit(1000000.0d))) *
            lit(1000000.0d)).cast("long").as("qw"),
        floor(
          (col("s_g").cast("double") / col("ss").cast("double")) *
            log(
              (col("s_g").cast("double") / col("ss").cast("double")) /
                (col("n_g").cast("double") / col("nn").cast("double"))) *
            lit(1000000.0d)).cast("long").as("qb"))
    perSeg
      .agg(sum(dec(col("sqt"))).as("tq"), sum("qw").as("wq"), sum("qb").as("bq"))
      .crossJoin(broadcast(tot))
      .select(
        col("nn").as("n_customers"),
        col("n_segments"),
        floor6(col("tq").cast("double") / (col("nn").cast("double") * lit(1000000.0d)))
          .as("theil_total"),
        floor6(col("bq").cast("double") / lit(1000000.0d)).as("theil_between"),
        floor6(col("wq").cast("double") / lit(1000000.0d)).as("theil_within"))
  }

  /** Bonferroni-corrected two-sided 5% normal critical value for the
    * 10 pairwise contrasts over 5 groups (α′ = 0.005), spelled to
    * µ-precision so both engines compare against one literal. The
    * normal approximation of the t quantile is documented: at the
    * suite's N−k (tens of thousands+) the difference is < 1e-3. */
  val BonferroniZ10 = 2.807034d

  /** Post-hoc pairwise mean contrasts after [[qAnova]] (Bonferroni
    * flavor of Tukey's HSD): which event-type PAIRS differ? Everything
    * reuses ANOVA's exact per-group triples — MSE = SSW/(N−k) via the
    * same remainder-free centi-unit fold, each pairwise t one scalar
    * IEEE tree on two triples, the k²/2 pair grid statistic-sized and
    * broadcast. Mean difference reported in value units (cents/100). */
  def qTukeyPairs(s: SparkSession, d: String): DataFrame = {
    val g = Tables
      .events(s, d)
      .select(
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("c").as("sc"),
        sum(dec(col("c")) * col("c")).as("sq"))
    val mse = g
      .select(
        col("n"),
        col("sq"),
        expr(divFloorSql(
          "CAST(sc AS DECIMAL(38,0)) * sc * 100",
          "CAST(n AS DECIMAL(38,0))")).as("tq"))
      .agg(
        count(lit(1)).as("k_groups"),
        sum("n").as("n_events"),
        sum("sq").as("q_tot"),
        sum("tq").as("t_cq"))
      .selectExpr(
        "k_groups",
        "(CAST(q_tot AS DOUBLE) - CAST(t_cq AS DOUBLE) / 100.0) / (CAST(n_events - k_groups AS DOUBLE) * 10000.0) AS mse")
    val a = g.select(
      col("event_type").as("type_a"),
      col("n").as("n_a"),
      col("sc").as("sc_a"))
    val b = g.select(
      col("event_type").as("type_b"),
      col("n").as("n_b"),
      col("sc").as("sc_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .crossJoin(broadcast(mse))
      .selectExpr(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "CAST(sc_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0) - CAST(sc_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0) AS diff",
        "mse * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)) AS se2")
      .select(
        col("type_a"),
        col("type_b"),
        col("n_a"),
        col("n_b"),
        floor6(col("diff")).as("mean_diff"),
        floor6(col("diff") / sqrt(col("se2"))).as("t_stat"),
        (abs(col("diff") / sqrt(col("se2"))) > lit(BonferroniZ10)).as("significant"))
      .transform(sortSmall(_, col("type_a"), col("type_b")))
  }

  /** Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    * test — the assumption check [[qAnova]] needs: W is the ANOVA F
    * computed on |x − median_g|. The per-group median comes from the
    * distinct-cent HISTOGRAM (cumulative window over an alphabet-sized
    * table, never a row sort of the corpus) as the exact two-middle
    * rank pick; working in doubled cents keeps |2x − (m₁+m₂)| integer
    * so the deviation ANOVA reuses the exact centi-unit fold. */
  def qLevene(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .select(
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    val cnt = ev.groupBy("event_type", "v").agg(count(lit(1)).as("m"))
    val wv = Window
      .partitionBy("event_type")
      .orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cnt
      .withColumn("cum", sum("m").over(wv))
      .withColumn("n", sum("m").over(Window.partitionBy("event_type")))
    val med = ranked
      .groupBy("event_type")
      .agg(
        (min(when(col("cum") >= expr("(n + 1) DIV 2"), col("v"))) +
          min(when(col("cum") >= expr("(n + 2) DIV 2"), col("v")))).as("m2"))
    val z = ev
      .join(broadcast(med), "event_type")
      .select(
        col("event_type"),
        abs(lit(2L) * col("v") - col("m2")).as("z"))
    val g = z
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("z").as("sz"),
        sum(dec(col("z")) * col("z")).as("zq"))
    g.select(
      col("n"),
      col("sz"),
      col("zq"),
      expr(divFloorSql(
        "CAST(sz AS DECIMAL(38,0)) * sz * 100",
        "CAST(n AS DECIMAL(38,0))")).as("tq"))
      .agg(
        count(lit(1)).as("k_groups"),
        sum("n").as("n_events"),
        sum(dec(col("sz"))).as("s_tot"),
        sum("zq").as("q_tot"),
        sum("tq").as("t_cq"))
      .selectExpr(
        "n_events",
        "k_groups",
        "CAST(t_cq AS DOUBLE) / 100.0 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_events AS DOUBLE) AS ssb",
        "CAST(q_tot AS DOUBLE) - CAST(t_cq AS DOUBLE) / 100.0 AS ssw")
      .select(
        col("n_events"),
        col("k_groups"),
        floor6(
          (col("ssb") / (col("k_groups") - lit(1L)).cast("double")) /
            (col("ssw") / (col("n_events") - col("k_groups")).cast("double")))
          .as("w_stat"))
  }

  /** Seasonal Mann–Kendall (Hirsch–Slack): the monotonic-trend test
    * with the yearly cycle removed — S sums sign comparisons only
    * WITHIN each calendar month across years, so a seasonal demand
    * curve can't masquerade as trend. Same exact integer machinery as
    * [[qMannKendall]] per season (month-pair grid statistic-sized and
    * broadcast, tie-corrected variance), seasons' S and Var18 sum
    * exactly, one final z with continuity correction. */
  def qMkSeasonal(s: SparkSession, d: String): DataFrame = {
    val m = Tables(s, d, "orders")
      .groupBy(
        monthIdx(col("o_orderdate")).as("m"),
        month(col("o_orderdate")).as("moy"))
      .agg(count(lit(1)).as("c"))
    val pairs = m
      .select(col("moy"), col("m").as("ma"), col("c").as("ca"))
      .join(
        broadcast(m.select(col("moy").as("moy2"), col("m").as("mb"), col("c").as("cb"))),
        col("moy") === col("moy2") && col("ma") < col("mb"))
    val sStat = pairs.agg(
      coalesce(
        sum(
          when(col("cb") > col("ca"), 1L)
            .when(col("cb") < col("ca"), -1L)
            .otherwise(0L)),
        lit(0L)).as("s_stat"))
    val perSeason = m
      .groupBy("moy")
      .agg(count(lit(1)).as("n"))
      .select(
        (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)).as("v18"))
      .agg(sum("v18").as("base18"))
    val ties = m
      .groupBy("moy", "c")
      .agg(count(lit(1)).as("tk"))
      .filter(col("tk") > 1)
      .agg(
        coalesce(
          sum(col("tk") * (col("tk") - 1) * (lit(2L) * col("tk") + 5)),
          lit(0L)).as("tie_term"))
    val counts = m.agg(
      count(lit(1)).as("n_periods"),
      countDistinct(col("moy")).as("n_seasons"))
    counts
      .crossJoin(broadcast(sStat))
      .crossJoin(broadcast(perSeason))
      .crossJoin(broadcast(ties))
      .withColumn("var18", col("base18") - col("tie_term"))
      .withColumn(
        "z_stat",
        when(
          col("s_stat") > 0,
          (col("s_stat") - 1L).cast("double") /
            sqrt(col("var18").cast("double") / 18.0d))
          .when(
            col("s_stat") < 0,
            (col("s_stat") + 1L).cast("double") /
              sqrt(col("var18").cast("double") / 18.0d))
          .otherwise(0.0d))
      .select(
        col("n_periods"),
        col("n_seasons"),
        col("s_stat"),
        (col("var18").cast("double") / 18.0d).as("var_s"),
        floor6(col("z_stat")).as("z_stat"),
        when(col("z_stat") > MkCritical, "increasing")
          .when(col("z_stat") < -MkCritical, "decreasing")
          .otherwise("none").as("trend"))
  }

  /** Two-group log-rank test on the signup→purchase life table:
    * do morning signups (hour-of-day < 12) convert on a different
    * schedule than afternoon ones? The cohorted twin of
    * [[qKaplanMeier]]'s single curve. Per conversion day the observed/
    * expected/variance terms are fixed IEEE trees on the exact integer
    * life-table counts, floor-quantized to µ-units BEFORE their sums
    * (order-free), and χ² = (ΣO−ΣE)²/ΣV is one final scalar tree.
    * Days with no conversion or a single subject at risk contribute
    * exactly zero in both engines and are excluded. Scale shape: one
    * (user) exchange to per-user rows, one day-range explode bounded
    * by the observation window, one (day, cohort) aggregate. */
  def qLogrank(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val endDf = ev.agg(max("ts_us").as("end_us"))
    val signups = ev
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min("ts_us").as("signup_us"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts_us").as("p_us"))
    val perUser = signups
      .join(
        purchases,
        col("user_id") === col("p_uid") && col("p_us") >= col("signup_us"),
        "left")
      .groupBy("user_id")
      .agg(min("signup_us").as("signup_us"), min("p_us").as("conv_us"))
      .crossJoin(broadcast(endDf))
      .select(
        when(expr("(signup_us DIV 3600000000L) % 24") < 12, "am")
          .otherwise("pm").as("cohort"),
        expr(s"(end_us - signup_us) DIV $DayUs").as("censor_d"),
        when(
          col("conv_us").isNotNull,
          expr(s"(conv_us - signup_us) DIV $DayUs"))
          .as("conv_d"))
      .select(
        col("cohort"),
        col("conv_d"),
        least(coalesce(col("conv_d"), col("censor_d")), col("censor_d"))
          .as("last_risk_d"))
    val table = perUser
      .select(
        col("cohort"),
        col("conv_d"),
        explode(expr("sequence(0, last_risk_d)")).as("dd"))
      .groupBy("dd", "cohort")
      .agg(
        count(lit(1)).as("r"),
        sum(when(col("conv_d") === col("dd"), 1L).otherwise(0L)).as("o"))
    val byDay = table
      .groupBy("dd")
      .agg(
        sum("r").as("rn"),
        sum("o").as("on"),
        coalesce(sum(when(col("cohort") === "am", col("r"))), lit(0L)).as("r1"),
        coalesce(sum(when(col("cohort") === "am", col("o"))), lit(0L)).as("o1"))
      .filter(col("on") > 0 && col("rn") > 1)
      .select(
        col("o1"),
        // e1 = O·r1/N, v1 = O·(r1/N)·(1−r1/N)·(N−O)/(N−1): fixed trees
        // on exact ints, µ-quantized before the day sums
        floor(
          col("on").cast("double") * col("r1").cast("double") /
            col("rn").cast("double") * lit(1000000.0d)).cast("long").as("eq"),
        floor(
          col("on").cast("double") *
            (col("r1").cast("double") / col("rn").cast("double")) *
            (lit(1.0d) - col("r1").cast("double") / col("rn").cast("double")) *
            (col("rn") - col("on")).cast("double") /
            (col("rn") - 1L).cast("double") * lit(1000000.0d)).cast("long")
          .as("vq"))
      .agg(
        sum("o1").as("o_am"),
        sum(dec(col("eq"))).as("eqs"),
        sum(dec(col("vq"))).as("vqs"))
    val cohortN = perUser
      .groupBy("cohort")
      .agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(when(col("cohort") === "am", col("n"))), lit(0L)).as("n_am"),
        coalesce(sum(when(col("cohort") === "pm", col("n"))), lit(0L)).as("n_pm"))
    byDay
      .crossJoin(broadcast(cohortN))
      .selectExpr(
        "n_am",
        "n_pm",
        "o_am",
        "CAST(eqs AS DOUBLE) / 1000000.0 AS e_am_raw",
        "(CAST(o_am AS DOUBLE) - CAST(eqs AS DOUBLE) / 1000000.0) AS diff",
        "CAST(vqs AS DOUBLE) / 1000000.0 AS v_raw")
      .select(
        col("n_am"),
        col("n_pm"),
        col("o_am"),
        floor6(col("e_am_raw")).as("e_am"),
        floor6(col("diff") * col("diff") / col("v_raw")).as("chi2"),
        (col("diff") * col("diff") / col("v_raw") > lit(3.841459d)).as("significant"))
  }

  /** Stratified average treatment effect (IPW with a discrete
    * propensity): does clicking on a day predict purchasing THAT DAY
    * once the day's overall activity is controlled for? Unit =
    * (user, active day); treatment = any click that day, outcome = any
    * purchase that day, strata = ⌊log₂(events that day)⌋ — the
    * deterministic integer stratifier (a decile ntile would need a
    * global sort), and exactly the confounder that makes the naive
    * difference lie (busy days have more of everything). Within a
    * stratum the propensity is constant, so IPW reduces to the
    * stratified estimator ATE = Σ_s (n_s/N)·(ȳ_t − ȳ_c); each stratum
    * term is a fixed IEEE tree on exact integer counts, µ-quantized
    * before the exact sum. Strata missing a treatment arm are excluded
    * (documented positivity violation — their weight is undefined),
    * and the naive unadjusted difference is emitted beside the ATE so
    * the confounding correction is visible. One (user, day) exchange,
    * then stratum-sized algebra. */
  def qUpliftIpw(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables
      .events(s, d)
      .groupBy(col("user_id"), expr(s"ts_us DIV $DayUs").as("dy"))
      .agg(
        count(lit(1)).as("n_events"),
        max((col("event_type") === "click").cast("long")).as("t"),
        max((col("event_type") === "purchase").cast("long")).as("y"))
      .select(
        expr("CAST(floor(log2(CAST(n_events AS DOUBLE))) AS BIGINT)").as("stratum"),
        col("t"),
        col("y"))
    val strata = perUser
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n_s"),
        sum("t").as("n_t"),
        sum(col("t") * col("y")).as("y_t"),
        sum((lit(1L) - col("t")) * col("y")).as("y_c"))
      .withColumn("n_c", col("n_s") - col("n_t"))
    val kept = strata.filter(col("n_t") > 0 && col("n_c") > 0)
    val tot = strata.agg(sum("n_s").as("nn"), count(lit(1)).as("n_strata"))
    val keptAgg = kept
      .select(
        col("n_s"),
        col("n_t"),
        col("n_c"),
        floor(
          col("n_s").cast("double") *
            (col("y_t").cast("double") / col("n_t").cast("double") -
              col("y_c").cast("double") / col("n_c").cast("double")) *
            lit(1000000.0d)).cast("long").as("qterm"))
      .agg(
        count(lit(1)).as("n_strata_kept"),
        sum("n_s").as("n_kept"),
        sum(dec(col("qterm"))).as("qsum"))
    val naive = perUser.agg(
      sum("t").as("nt"),
      sum(col("t") * col("y")).as("yt"),
      sum(lit(1L) - col("t")).as("nc"),
      sum((lit(1L) - col("t")) * col("y")).as("yc"))
    keptAgg
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(naive))
      .select(
        col("nn").as("n_users"),
        col("n_strata"),
        col("n_strata_kept"),
        floor6(
          col("qsum").cast("double") /
            (col("n_kept").cast("double") * lit(1000000.0d))).as("ate_stratified"),
        floor6(
          col("yt").cast("double") / col("nt").cast("double") -
            col("yc").cast("double") / col("nc").cast("double")).as("diff_naive"))
  }

  private val HourUs = 3600000000L

  /** λ = 1/4: exact in binary, so the recursion multipliers (λ and
    * 1 − λ = 3/4) are exact doubles and the EWMA chain is the same
    * IEEE tree in both engines. */
  val EwmaLambda = 0.25d

  /** EWMA control chart on daily counts per event type (Roberts 1959;
    * the small-persistent-shift detector the Shewhart/Poisson-SPC day
    * screen [[graft.queries.OlapQueries.qSpcDays]] misses). Center μ
    * and σ come from exact integer sums over the dense day grid; the
    * smoother z_i = λx_i + (1−λ)z_{i−1}, z_0 = μ is a per-type fold
    * over the calendar-sized series (the [[qEwmaChart]] twin of the
    * q_ema fold), re-folded per prefix — O(days²) per type, calendar²,
    * irrelevant at any corpus scale. Steady-state limits
    * ±3σ√(λ/(2−λ)) (no per-index pow: libm pow is not bit-portable,
    * sqrt is); the signal compare runs on floor6-quantized values so
    * a boundary ulp can't flip an emitted flag. */
  def qEwmaChart(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .groupBy(col("event_type"), (col("ts_us") - (col("ts_us") % DayUs)).as("day_us"))
      .agg(count(lit(1)).as("c"))
    val bounds = ev.agg(min("day_us").as("mn"), max("day_us").as("mx"))
    val dense = ev
      .select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr(s"sequence(mn, mx, $DayUs)")).as("day_us"))
      .join(ev, Seq("event_type", "day_us"), "left")
      .select(col("event_type"), col("day_us"), coalesce(col("c"), lit(0L)).as("c"))
    val stats = dense
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("c").as("sc"),
        sum(dec(col("c")) * col("c")).as("sq"))
      .select(
        col("event_type"),
        (col("sc").cast("double") / col("n").cast("double")).as("mu"),
        sqrt(
          (dec(col("n")) * col("sq") - dec(col("sc")) * col("sc")).cast("double") /
            (col("n").cast("double") * (col("n").cast("double") - 1.0d)) *
            (lit(EwmaLambda) / lit(2.0d - EwmaLambda))).as("sig_z"))
    val series = dense
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day_us"), col("c")))).as("seq"))
      .join(broadcast(stats), "event_type")
    series
      .select(
        col("event_type"),
        col("mu"),
        col("sig_z"),
        posexplode(expr(
          s"transform(sequence(1, size(seq)), i -> named_struct(" +
            "'day_us', seq[i-1].day_us, 'c', seq[i-1].c, " +
            "'z', aggregate(slice(seq, 1, i), mu, " +
            s"(a, x) -> $EwmaLambda * CAST(x.c AS DOUBLE) + ${1 - EwmaLambda} * a)))")))
      .select(
        col("event_type"),
        col("col.day_us").as("day_us"),
        col("col.c").as("c"),
        floor6(col("col.z")).as("ewma"),
        floor6(col("mu")).as("center"),
        (floor6(abs(col("col.z") - col("mu"))) > floor6(lit(3.0d) * col("sig_z")))
          .as("signal"))
      .transform(sortSmall(_, col("event_type"), col("day_us")))
  }

  /** Jonckheere–Terpstra ordered-alternative k-group test: does
    * quantity shift MONOTONICALLY with the discount level (the ordered
    * hypothesis [[qAnova]]/[[qKruskalWallis]] can't privilege and
    * [[qCochranArmitage]] only answers for binary outcomes)? The
    * corpus folds once to the (dose, quantity) histogram (11 × 50
    * exact cells); J = Σ_{i<j} [Σ_{a<b} nᵢ(a)nⱼ(b) + ½Σₐ nᵢ(a)nⱼ(a)]
    * is an exact decimal fold over the broadcast histogram self-pair
    * (doubled to keep the ½-tie term integer), and E[J], the
    * tie-uncorrected Var₀, and z are one scalar IEEE tree on exact
    * N/nₖ sums. */
  def qJonckheere(s: SparkSession, d: String): DataFrame = {
    val hist = Tables(s, d, "lineitem")
      .select(
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("k"),
        expr("CAST(l_quantity AS BIGINT)").as("q"))
      .groupBy("k", "q")
      .agg(count(lit(1)).as("m"))
    val a = hist.select(col("k").as("ka"), col("q").as("qa"), col("m").as("ma"))
    val b = hist.select(col("k").as("kb"), col("q").as("qb"), col("m").as("mb"))
    val j2 = a
      .join(broadcast(b), col("ka") < col("kb") && col("qa") <= col("qb"))
      .agg(
        coalesce(
          sum(
            when(col("qa") < col("qb"), lit(2L).cast("decimal(38,0)") * col("ma") * col("mb"))
              .otherwise(dec(col("ma")) * col("mb"))),
          lit(0L).cast("decimal(38,0)")).as("j2"))
    val sizes = hist
      .groupBy("k")
      .agg(sum("m").as("nk"))
      .agg(
        sum("nk").as("nn"),
        sum(dec(col("nk")) * col("nk")).as("sn2"),
        sum(dec(col("nk")) * col("nk") * (lit(2L).cast("decimal(38,0)") * col("nk") + 3L))
          .as("sn23"),
        count(lit(1)).as("n_doses"))
    sizes
      .crossJoin(broadcast(j2))
      .selectExpr(
        "nn AS n_lines",
        "n_doses",
        "CAST(j2 AS DOUBLE) / 2.0 AS j_stat",
        "CAST(CAST(nn AS DECIMAL(38,0)) * nn - sn2 AS DOUBLE) / 4.0 AS e_j",
        "CAST(CAST(nn AS DECIMAL(38,0)) * nn * (2 * CAST(nn AS DECIMAL(38,0)) + 3) - sn23 AS DOUBLE) / 72.0 AS var_j")
      .select(
        col("n_lines"),
        col("n_doses"),
        floor6(col("j_stat")).as("j_stat"),
        floor6(col("e_j")).as("e_j"),
        floor6((col("j_stat") - col("e_j")) / sqrt(col("var_j"))).as("z_stat"))
  }

  /** Friedman rank test across event types blocked by day (repeated
    * measures: are the k = |types| daily series at systematically
    * different levels once each DAY's overall traffic is controlled
    * for? — the blocked design [[qKruskalWallis]] ignores). Ranks live
    * inside each day's k-row block (a (day)-partitioned window over
    * the dense grid, never a global sort); doubled midranks keep ties
    * integer, so the tie-corrected χ²_F =
    * (k−1)·Σⱼ(R2ⱼ − b(k+1))² / (A2 − b·k(k+1)²) is ONE scalar division
    * of exact int64/decimal folds. */
  def qFriedman(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .groupBy(col("event_type"), expr(s"ts_us DIV $DayUs").as("dy"))
      .agg(count(lit(1)).as("c"))
    val bounds = ev.agg(min("dy").as("lo"), max("dy").as("hi"))
    val dense = ev
      .select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("dy"))
      .join(ev, Seq("event_type", "dy"), "left")
      .select(col("event_type"), col("dy"), coalesce(col("c"), lit(0L)).as("c"))
    val byDay = Window.partitionBy("dy").orderBy("c")
    val peers = Window.partitionBy("dy", "c")
    val ranked = dense
      .withColumn("r2", lit(2L) * rank().over(byDay) + count(lit(1)).over(peers) - 1L)
    val perType = ranked
      .groupBy("event_type")
      .agg(sum("r2").as("rr2"), count(lit(1)).as("b"))
    val tieTerm = ranked
      .agg(sum(dec(col("r2")) * col("r2")).as("a2"))
    val kk = perType.agg(count(lit(1)).as("k"))
    perType
      .crossJoin(broadcast(kk))
      .agg(
        max("k").as("k"),
        max("b").as("b"),
        sum(
          (dec(col("rr2")) - dec(col("b")) * (col("k") + 1L)) *
            (dec(col("rr2")) - dec(col("b")) * (col("k") + 1L))).as("num2"))
      .crossJoin(broadcast(tieTerm))
      .selectExpr(
        "b AS n_days",
        "k AS k_types",
        "a2 - CAST(b AS DECIMAL(38,0)) * k * (k + 1) * (k + 1) AS denom2",
        "CAST((k - 1) * num2 AS DOUBLE) AS num_d")
      // degenerate design (k = 1, or every day fully tied across all
      // types) zeroes the tie-corrected denominator: zero rows in both
      // engines beats an engine-dependent NaN/NULL row (house rule,
      // same as qKendallTau/qDupModularity)
      .filter(col("denom2") =!= lit(0))
      .select(
        col("n_days"),
        col("k_types"),
        floor6(col("num_d") / col("denom2").cast("double")).as("chi2_f"))
  }

  /** Difference-in-differences: the (md5-split twin of [[qCuped]])
    * quasi-experimental readout when assignment is a standing user
    * property rather than a randomized arm. Units are (group, day)
    * cells of daily purchase counts on the dense calendar; treated =
    * even user_id, post = second half of the observation window (an
    * integer day-index fence, engine-exact). DiD = (ȳ_T,post −
    * ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) with the day-level variance SE —
    * four exact (n, Σc, Σc²) triples, one scalar IEEE tree. */
  def qDid(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .filter(col("event_type") === "purchase")
      .select(
        (col("user_id") % 2L === 0L).as("treated"),
        expr(s"ts_us DIV $DayUs").as("dy"))
    val bounds = ev.agg(min("dy").as("lo"), max("dy").as("hi"))
    val daily = ev
      .groupBy("treated", "dy")
      .agg(count(lit(1)).as("c"))
    // dense (group × day) grid: a zero-purchase day is an observation
    val dense = daily
      .select(col("treated")).distinct()
      .crossJoin(broadcast(bounds))
      .select(
        col("treated"),
        explode(expr("sequence(lo, hi)")).as("dy"),
        expr("(lo + hi + 1) DIV 2").as("mid"))
      .join(daily, Seq("treated", "dy"), "left")
      .select(
        col("treated"),
        (col("dy") >= col("mid")).as("post"),
        coalesce(col("c"), lit(0L)).as("c"))
    val cells = dense
      .groupBy("treated", "post")
      .agg(
        count(lit(1)).as("n"),
        sum("c").as("sc"),
        sum(dec(col("c")) * col("c")).as("sq"))
      // a 1-day half-window has no day-level variance (se2's n−1 is
      // zero): zero rows in both engines, per the degenerate-input rule
      .filter(col("n") >= 2L)
      .select(
        col("treated"),
        col("post"),
        col("n"),
        (col("sc").cast("double") / col("n").cast("double")).as("mean"),
        ((dec(col("n")) * col("sq") - dec(col("sc")) * col("sc")).cast("double") /
          (col("n").cast("double") * (col("n").cast("double") - 1.0d)) /
          col("n").cast("double")).as("se2"))
    def cell(tr: Boolean, po: Boolean, suffix: String) =
      cells
        .filter(col("treated") === tr && col("post") === po)
        .select(
          col("n").as(s"n_$suffix"),
          col("mean").as(s"mean_$suffix"),
          col("se2").as(s"se2_$suffix"))
    cell(tr = true, po = false, "t_pre")
      .crossJoin(broadcast(cell(tr = true, po = true, "t_post")))
      .crossJoin(broadcast(cell(tr = false, po = false, "c_pre")))
      .crossJoin(broadcast(cell(tr = false, po = true, "c_post")))
      .select(
        col("n_t_pre"),
        col("n_t_post"),
        floor6(col("mean_t_pre")).as("mean_t_pre"),
        floor6(col("mean_t_post")).as("mean_t_post"),
        floor6(col("mean_c_pre")).as("mean_c_pre"),
        floor6(col("mean_c_post")).as("mean_c_post"),
        floor6(
          (col("mean_t_post") - col("mean_t_pre")) -
            (col("mean_c_post") - col("mean_c_pre"))).as("did"),
        floor6(
          ((col("mean_t_post") - col("mean_t_pre")) -
            (col("mean_c_post") - col("mean_c_pre"))) /
            sqrt(
              col("se2_t_pre") + col("se2_t_post") + col("se2_c_pre") +
                col("se2_c_post"))).as("t_stat"))
  }

  /** Croston α = 1/4 — exact binary, same rationale as [[EwmaLambda]]. */
  val CrostonAlpha = 0.25d

  /** Croston's method for intermittent demand (Croston 1972): hourly
    * event arrivals per type, smoothing demand SIZE z and demand
    * INTERVAL q separately on demand hours only — the forecast z/q is
    * the demand rate a plain EMA systematically over-forecasts right
    * after each arrival. State (z, q, gap, started) folds once over
    * the dense hourly series (calendar-sized per type); seeds are the
    * first demand's size and position; α = 1/4 keeps every multiplier
    * exact, and both engines run the identical CASE tree per step. */
  def qCroston(s: SparkSession, d: String): DataFrame = {
    val ev = Tables
      .events(s, d)
      .groupBy(col("event_type"), (col("ts_us") - (col("ts_us") % HourUs)).as("hour_us"))
      .agg(count(lit(1)).as("c"))
    val bounds = ev.agg(min("hour_us").as("mn"), max("hour_us").as("mx"))
    val dense = ev
      .select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr(s"sequence(mn, mx, $HourUs)")).as("hour_us"))
      .join(ev, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"), coalesce(col("c"), lit(0L)).as("c"))
    val a = CrostonAlpha
    dense
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hour_us"), col("c")))).as("seq"))
      .select(
        col("event_type"),
        size(col("seq")).cast("long").as("n_hours"),
        expr(
          "aggregate(seq, named_struct(" +
            "'z', CAST(0.0 AS DOUBLE), 'q', CAST(0.0 AS DOUBLE), " +
            "'gap', CAST(0 AS BIGINT), 'nd', CAST(0 AS BIGINT)), " +
            "(st, x) -> CASE " +
            // no demand this hour: the open interval grows
            "WHEN x.c = 0 THEN named_struct('z', st.z, 'q', st.q, 'gap', st.gap + CAST(1 AS BIGINT), 'nd', st.nd) " +
            // first demand: seed size with it, interval with its position
            "WHEN st.nd = 0 THEN named_struct('z', CAST(x.c AS DOUBLE), 'q', CAST(st.gap + 1 AS DOUBLE), 'gap', CAST(0 AS BIGINT), 'nd', CAST(1 AS BIGINT)) " +
            // demand: smooth size and the just-closed interval
            s"ELSE named_struct('z', $a * CAST(x.c AS DOUBLE) + ${1 - a} * st.z, " +
            s"'q', $a * CAST(st.gap + 1 AS DOUBLE) + ${1 - a} * st.q, " +
            "'gap', CAST(0 AS BIGINT), 'nd', st.nd + CAST(1 AS BIGINT)) END)")
          .as("st"))
      .select(
        col("event_type"),
        col("n_hours"),
        col("st.nd").as("n_demand_hours"),
        floor6(col("st.z")).as("size_smooth"),
        floor6(col("st.q")).as("interval_smooth"),
        floor6(col("st.z") / col("st.q")).as("rate_forecast"))
      .transform(sortSmall(_, col("event_type")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_welch_ttest" -> qWelchTtest _,
    "q_nelson_aalen" -> qNelsonAalen _,
    "q_mann_kendall" -> qMannKendall _,
    "q_theil_sen" -> qTheilSen _,
    "q_churn_rate" -> qChurnRate _,
    "q_forecast_eval" -> qForecastEval _,
    "q_cuped" -> qCuped _,
    "q_hazard_curve" -> qHazardCurve _,
    "q_kaplan_meier" -> qKaplanMeier _,
    "q_mix_shift" -> qMixShift _,
    "q_runs_test" -> qRunsTest _,
    "q_anova" -> qAnova _,
    "q_kruskal_wallis" -> qKruskalWallis _,
    "q_cochran_armitage" -> qCochranArmitage _,
    "q_spearman" -> qSpearman _,
    "q_theil_index" -> qTheilIndex _,
    "q_tukey_pairs" -> qTukeyPairs _,
    "q_levene" -> qLevene _,
    "q_mk_seasonal" -> qMkSeasonal _,
    "q_logrank" -> qLogrank _,
    "q_uplift_ipw" -> qUpliftIpw _,
    "q_ewma_chart" -> qEwmaChart _,
    "q_jonckheere" -> qJonckheere _,
    "q_friedman" -> qFriedman _,
    "q_did" -> qDid _,
    "q_croston" -> qCroston _
  )

  /** The signup→purchase life-table CTE chain ending in
    * `ht(d, at_risk, n_convert)` — shared by the q_hazard_curve and
    * q_kaplan_meier oracles (mirrors [[hazardTable]]). */
  private def hazardTableSql: String =
    s"""endv AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
       |signups AS (
       |  SELECT user_id, min(epoch_us(ts)) AS signup_us
       |  FROM events WHERE event_type = 'signup' GROUP BY 1),
       |conv AS (
       |  SELECT s.user_id, s.signup_us, min(epoch_us(e.ts)) AS conv_us
       |  FROM signups s LEFT JOIN events e
       |    ON e.user_id = s.user_id AND e.event_type = 'purchase'
       |       AND epoch_us(e.ts) >= s.signup_us
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT user_id,
       |         CASE WHEN conv_us IS NOT NULL
       |              THEN (conv_us - signup_us) // $DayUs END AS conv_d,
       |         least(coalesce((conv_us - signup_us) // $DayUs,
       |                        (end_us - signup_us) // $DayUs),
       |               (end_us - signup_us) // $DayUs) AS last_risk_d
       |  FROM conv, endv),
       |days AS (
       |  SELECT conv_d, unnest(range(0, last_risk_d + 1)) AS d FROM per),
       |ht AS (
       |  SELECT d, count(*) AS at_risk,
       |         CAST(sum(CASE WHEN conv_d = d THEN 1 ELSE 0 END) AS BIGINT) AS n_convert
       |  FROM days GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_welch_ttest" ->
      s"""WITH g AS (
         |  SELECT event_type = 'purchase' AS grp,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
         |         sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS sq
         |  FROM events GROUP BY 1),
         |ab AS (
         |  SELECT a.n AS n_a, a.sc AS sc_a, a.sq AS sq_a,
         |         b.n AS n_b, b.sc AS sc_b, b.sq AS sq_b
         |  FROM (SELECT * FROM g WHERE grp) a, (SELECT * FROM g WHERE NOT grp) b),
         |m AS (
         |  SELECT n_a, n_b,
         |         CAST(sc_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0) AS mean_a,
         |         CAST(sc_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0) AS mean_b,
         |         (CAST(sq_a AS DOUBLE) - CAST(sc_a AS DOUBLE) * CAST(sc_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / ((CAST(n_a AS DOUBLE) - 1.0) * 10000.0) AS var_a,
         |         (CAST(sq_b AS DOUBLE) - CAST(sc_b AS DOUBLE) * CAST(sc_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / ((CAST(n_b AS DOUBLE) - 1.0) * 10000.0) AS var_b
         |  FROM ab),
         |se AS (
         |  SELECT *, var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) AS se2 FROM m)
         |SELECT n_a, n_b,
         |       ${floor6Sql("mean_a")} AS mean_a,
         |       ${floor6Sql("mean_b")} AS mean_b,
         |       ${floor6Sql("(mean_a - mean_b) / sqrt(se2)")} AS t_stat,
         |       ${floor6Sql(
          "se2 * se2 / ((var_a / n_a) * (var_a / n_a) / (n_a - 1.0) + (var_b / n_b) * (var_b / n_b) / (n_b - 1.0))")} AS df
         |FROM se""".stripMargin,
    "q_mann_kendall" ->
      s"""WITH m AS (
         |  SELECT CAST($MonthIdxSql AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS c
         |  FROM orders GROUP BY 1),
         |s AS (
         |  SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM m a JOIN m b ON a.m < b.m),
         |ties AS (
         |  SELECT CAST(coalesce(sum(tk * (tk - 1) * (2 * tk + 5)), 0) AS BIGINT) AS tie_term
         |  FROM (SELECT c, count(*) AS tk FROM m GROUP BY 1) t WHERE tk > 1),
         |nn AS (SELECT count(*) AS n_periods FROM m),
         |v AS (
         |  SELECT n_periods, s_stat,
         |         n_periods * (n_periods - 1) * (2 * n_periods + 5) - tie_term AS var18
         |  FROM nn, s, ties),
         |z AS (
         |  SELECT *,
         |         CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
         |              WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
         |              ELSE 0.0 END AS z_stat
         |  FROM v)
         |SELECT n_periods, s_stat, CAST(var18 AS DOUBLE) / 18.0 AS var_s,
         |       ${floor6Sql("z_stat")} AS z_stat,
         |       CASE WHEN z_stat > $MkCritical THEN 'increasing'
         |            WHEN z_stat < -$MkCritical THEN 'decreasing'
         |            ELSE 'none' END AS trend
         |FROM z""".stripMargin,
    "q_theil_sen" ->
      s"""WITH m AS (
         |  SELECT CAST($MonthIdxSql AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS c
         |  FROM orders GROUP BY 1),
         |pairs AS (
         |  SELECT CAST(b.c - a.c AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope,
         |         a.m AS ma, b.m AS mb
         |  FROM m a JOIN m b ON a.m < b.m),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY slope, ma, mb) AS BIGINT) AS rk FROM pairs),
         |cnt AS (SELECT max(rk) AS n_pairs FROM ranked),
         |sm AS (
         |  SELECT avg(slope) AS slope_med, max(n_pairs) AS n_pairs
         |  FROM ranked, cnt
         |  WHERE rk = (n_pairs + 1) // 2 OR rk = (n_pairs + 2) // 2),
         |resid AS (
         |  SELECT n_pairs, slope_med,
         |         CAST(c AS DOUBLE) - slope_med * CAST(m AS DOUBLE) AS r, m
         |  FROM m, sm),
         |rankedr AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY r, m) AS BIGINT) AS rk FROM resid),
         |cntr AS (SELECT max(rk) AS n_points FROM rankedr)
         |SELECT max(n_pairs) AS n_pairs, max(n_points) AS n_periods,
         |       ${floor6Sql("max(slope_med)")} AS slope,
         |       ${floor6Sql("avg(r)")} AS intercept
         |FROM rankedr, cntr
         |WHERE rk = (n_points + 1) // 2 OR rk = (n_points + 2) // 2""".stripMargin,
    "q_forecast_eval" ->
      s"""WITH ev AS (
         |  SELECT event_type, epoch_us(ts) - epoch_us(ts) % $DayUs AS day_us,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(day_us) AS mn, max(day_us) AS mx FROM ev),
         |grid AS (
         |  SELECT t.event_type, g.day_us
         |  FROM (SELECT DISTINCT event_type FROM ev) t,
         |       (SELECT unnest(range(mn, mx + $DayUs, $DayUs)) AS day_us FROM bounds) g),
         |dense AS (
         |  SELECT grid.event_type, grid.day_us, coalesce(c, 0) AS c
         |  FROM grid LEFT JOIN ev ON grid.event_type = ev.event_type AND grid.day_us = ev.day_us),
         |lagged AS (
         |  SELECT event_type, c,
         |         lag(c, 1) OVER (PARTITION BY event_type ORDER BY day_us) AS naive,
         |         lag(c, 7) OVER (PARTITION BY event_type ORDER BY day_us) AS snaive
         |  FROM dense),
         |agg AS (
         |  SELECT event_type, count(*) AS n_days,
         |         CAST(sum(c) AS BIGINT) AS actual_total,
         |         CAST(sum(abs(c - naive)) AS BIGINT) AS ae_naive,
         |         CAST(sum((c - naive) * (c - naive)) AS BIGINT) AS se_naive,
         |         CAST(sum(abs(c - snaive)) AS BIGINT) AS ae_snaive,
         |         CAST(sum((c - snaive) * (c - snaive)) AS BIGINT) AS se_snaive
         |  FROM lagged WHERE snaive IS NOT NULL GROUP BY 1)
         |SELECT event_type, n_days,
         |       ${floor6Sql("CAST(ae_naive AS DOUBLE) / CAST(n_days AS DOUBLE)")} AS mae_naive,
         |       ${floor6Sql("sqrt(CAST(se_naive AS DOUBLE) / CAST(n_days AS DOUBLE))")} AS rmse_naive,
         |       ${floor6Sql("CAST(ae_naive AS DOUBLE) / CAST(actual_total AS DOUBLE)")} AS wape_naive,
         |       ${floor6Sql("CAST(ae_snaive AS DOUBLE) / CAST(n_days AS DOUBLE)")} AS mae_snaive,
         |       ${floor6Sql("sqrt(CAST(se_snaive AS DOUBLE) / CAST(n_days AS DOUBLE))")} AS rmse_snaive,
         |       ${floor6Sql("CAST(ae_snaive AS DOUBLE) / CAST(actual_total AS DOUBLE)")} AS wape_snaive
         |FROM agg ORDER BY event_type""".stripMargin,
    "q_cuped" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |         CAST(sum(CASE WHEN epoch_us(ts) < epoch_us(TIMESTAMP '$CupedSplit 00:00:00')
         |                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         |         CAST(sum(CASE WHEN epoch_us(ts) >= epoch_us(TIMESTAMP '$CupedSplit 00:00:00')
         |                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |armed AS (
         |  SELECT *, ${graft.functions.Hashing.duckMd5Long("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm
         |  FROM per),
         |g AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy,
         |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         |         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |         CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         |         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
         |  FROM armed),
         |m AS (
         |  SELECT n, n_a, n_b,
         |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS theta,
         |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS rho2,
         |         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         |         CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS my_a,
         |         CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS my_b,
         |         CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mx_a,
         |         CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mx_b
         |  FROM g)
         |SELECT n AS n_users, n_a, n_b,
         |       ${floor6Sql("theta")} AS theta,
         |       ${floor6Sql("rho2")} AS var_reduction,
         |       ${floor6Sql("my_a / 100.0")} AS mean_post_a,
         |       ${floor6Sql("my_b / 100.0")} AS mean_post_b,
         |       ${floor6Sql("(my_a - theta * (mx_a - mx)) / 100.0")} AS mean_adj_a,
         |       ${floor6Sql("(my_b - theta * (mx_b - mx)) / 100.0")} AS mean_adj_b
         |FROM m""".stripMargin,
    "q_mix_shift" ->
      s"""WITH g AS (
         |  SELECT c_mktsegment,
         |         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$MixSplit 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$MixSplit 00:00:00' THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev1,
         |         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '$MixSplit 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '$MixSplit 00:00:00' THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev2
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1),
         |r AS (
         |  SELECT *, CAST(rev1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS r1,
         |         CAST(rev2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS r2
         |  FROM g)
         |SELECT c_mktsegment, n1, n2,
         |       CAST(rev1 AS DOUBLE) / 100.0 AS revenue_1,
         |       CAST(rev2 AS DOUBLE) / 100.0 AS revenue_2,
         |       CAST(rev2 - rev1 AS DOUBLE) / 100.0 AS delta,
         |       ${floor6Sql("CAST(n2 - n1 AS DOUBLE) * r1 / 100.0")} AS volume_effect,
         |       ${floor6Sql("CAST(n1 AS DOUBLE) * (r2 - r1) / 100.0")} AS rate_effect,
         |       ${floor6Sql("CAST(n2 - n1 AS DOUBLE) * (r2 - r1) / 100.0")} AS joint_effect
         |FROM r ORDER BY c_mktsegment""".stripMargin,
    "q_runs_test" ->
      s"""WITH days AS (
         |  SELECT epoch_us(o_orderdate) // $DayUs AS day, CAST(count(*) AS BIGINT) AS c
         |  FROM orders GROUP BY 1),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY c, day) AS BIGINT) AS rk FROM days),
         |cnt AS (SELECT max(rk) AS n_days FROM ranked),
         |med AS (
         |  SELECT avg(CAST(c AS DOUBLE)) AS med
         |  FROM ranked, cnt
         |  WHERE rk = (n_days + 1) // 2 OR rk = (n_days + 2) // 2),
         |signed AS (
         |  SELECT day, CAST(CAST(c AS DOUBLE) > med AS BIGINT) AS sgn
         |  FROM days, med WHERE CAST(c AS DOUBLE) <> med),
         |lagged AS (
         |  SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM signed),
         |r AS (
         |  SELECT CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS runs,
         |         CAST(sum(sgn) AS BIGINT) AS n_above,
         |         CAST(sum(1 - sgn) AS BIGINT) AS n_below
         |  FROM lagged),
         |m AS (
         |  SELECT *,
         |         2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) + 1.0 AS mu,
         |         CASE WHEN n_above + n_below < 2 THEN CAST(NULL AS DOUBLE) ELSE 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE)) / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)) * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) - 1.0)) END AS var_r
         |  FROM r)
         |SELECT n_above, n_below, runs,
         |       ${floor6Sql("mu")} AS expected_runs,
         |       CASE WHEN var_r > 0.0 THEN ${floor6Sql(
          "(CAST(runs AS DOUBLE) - mu) / sqrt(var_r)")} ELSE CAST(NULL AS DOUBLE) END AS z_stat
         |FROM m""".stripMargin,
    "q_hazard_curve" ->
      s"""WITH $hazardTableSql
         |SELECT d, at_risk, n_convert,
         |       ${floor6Sql(
          "CAST(n_convert AS DOUBLE) / CAST(at_risk AS DOUBLE)")} AS hazard
         |FROM ht ORDER BY d""".stripMargin,
    // Nelson–Aalen: increments quantized to int64 BEFORE the cumulative
    // sum (integer //), so no recursive CTE is needed — integer running
    // sums are order-free
    "q_nelson_aalen" ->
      s"""WITH $hazardTableSql,
         |q AS (
         |  SELECT d, at_risk, n_convert,
         |         (n_convert * 1000000000) // at_risk AS hq,
         |         (n_convert * 1000000000000) // (at_risk * at_risk) AS vq
         |  FROM ht)
         |SELECT d, at_risk, n_convert,
         |       ${floor6Sql(
          "CAST(SUM(hq) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9")} AS cum_hazard,
         |       ${floor6Sql(
          "CAST(SUM(vq) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e12")} AS cum_var
         |FROM q ORDER BY d""".stripMargin,
    // Kaplan–Meier: the running product replays the Spark fold's exact
    // IEEE multiply sequence day by day (recursive CTE over the
    // day-ranked life table)
    "q_kaplan_meier" ->
      s"""WITH RECURSIVE $hazardTableSql,
         |rh AS (
         |  SELECT d, at_risk, n_convert,
         |         row_number() OVER (ORDER BY d) AS rn
         |  FROM ht),
         |rec AS (
         |  SELECT rn, d, at_risk, n_convert,
         |         1.0 * (1.0 - CAST(n_convert AS DOUBLE) / CAST(at_risk AS DOUBLE)) AS surv
         |  FROM rh WHERE rn = 1
         |  UNION ALL
         |  SELECT rh.rn, rh.d, rh.at_risk, rh.n_convert,
         |         rec.surv * (1.0 - CAST(rh.n_convert AS DOUBLE) / CAST(rh.at_risk AS DOUBLE))
         |  FROM rec JOIN rh ON rh.rn = rec.rn + 1)
         |SELECT d, at_risk, n_convert,
         |       ${floor6Sql(
          "CAST(n_convert AS DOUBLE) / CAST(at_risk AS DOUBLE)")} AS hazard,
         |       ${floor6Sql("surv")} AS survival
         |FROM rec ORDER BY d""".stripMargin,
    "q_churn_rate" ->
      s"""WITH am AS (
         |  SELECT DISTINCT CAST($MonthIdxSql AS BIGINT) AS m, o_custkey FROM orders),
         |active AS (SELECT m, count(*) AS active FROM am GROUP BY 1),
         |prev AS (SELECT m + 1 AS m, active AS active_prev FROM active),
         |ret AS (
         |  SELECT a.m + 1 AS m, count(*) AS retained
         |  FROM am a JOIN am b ON a.m + 1 = b.m AND a.o_custkey = b.o_custkey
         |  GROUP BY 1)
         |SELECT active.m AS month_idx, active_prev, active,
         |       coalesce(retained, 0) AS retained,
         |       active_prev - coalesce(retained, 0) AS churned,
         |       ${floor6Sql(
          "CAST(active_prev - coalesce(retained, 0) AS DOUBLE) / CAST(active_prev AS DOUBLE)")} AS churn_rate,
         |       ${floor6Sql(
          "CAST(coalesce(retained, 0) AS DOUBLE) / CAST(active_prev AS DOUBLE)")} AS retention_rate
         |FROM active JOIN prev ON active.m = prev.m
         |LEFT JOIN ret ON active.m = ret.m
         |ORDER BY month_idx""".stripMargin,
    "q_anova" ->
      s"""WITH g AS (
         |  SELECT event_type, count(*) AS n,
         |         sum(CAST(round(value * 100) AS BIGINT)) AS sc,
         |         sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) * CAST(round(value * 100) AS BIGINT)) AS sq
         |  FROM events GROUP BY 1),
         |tot AS (
         |  SELECT count(*) AS k_groups, sum(n) AS n_events,
         |         sum(CAST(sc AS HUGEINT)) AS s_tot, sum(sq) AS q_tot,
         |         sum((CAST(sc AS HUGEINT) * sc * 100) // n) AS t_cq
         |  FROM g),
         |ss AS (
         |  SELECT CAST(n_events AS BIGINT) AS n_events, CAST(k_groups AS BIGINT) AS k_groups,
         |         CAST(t_cq AS DOUBLE) / 100.0 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_events AS DOUBLE) AS ssb,
         |         CAST(q_tot AS DOUBLE) - CAST(t_cq AS DOUBLE) / 100.0 AS ssw
         |  FROM tot)
         |SELECT n_events, k_groups,
         |       ${floor6Sql(
          "(ssb / CAST(k_groups - 1 AS DOUBLE)) / (ssw / CAST(n_events - k_groups AS DOUBLE))")} AS f_stat,
         |       ${floor6Sql("ssb / (ssb + ssw)")} AS eta_sq
         |FROM ss""".stripMargin,
    "q_kruskal_wallis" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |cnt AS (SELECT event_type, v, count(*) AS m FROM ev GROUP BY 1, 2),
         |vtot AS (SELECT v, CAST(sum(m) AS BIGINT) AS t FROM cnt GROUP BY 1),
         |ranked AS (
         |  SELECT v, t,
         |         2 * (CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t) + t + 1 AS r2
         |  FROM vtot),
         |grp AS (
         |  SELECT c.event_type, CAST(sum(c.m) AS BIGINT) AS n,
         |         sum(CAST(c.m AS HUGEINT) * r.r2) AS rs2
         |  FROM cnt c JOIN ranked r ON c.v = r.v GROUP BY 1),
         |tots AS (
         |  SELECT count(*) AS k_groups, sum(n) AS n_events,
         |         sum((rs2 * rs2 * 25) // n) AS t_cq
         |  FROM grp),
         |ties AS (
         |  SELECT coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0) AS tie3 FROM vtot),
         |hs AS (
         |  SELECT CAST(n_events AS BIGINT) AS n_events, CAST(k_groups AS BIGINT) AS k_groups,
         |         12.0 * (CAST(t_cq AS DOUBLE) / 100.0) / (CAST(n_events AS DOUBLE) * (CAST(n_events AS DOUBLE) + 1.0)) - 3.0 * (CAST(n_events AS DOUBLE) + 1.0) AS h_raw,
         |         1.0 - CAST(tie3 AS DOUBLE) / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) - CAST(n_events AS DOUBLE)) AS tie_c
         |  FROM tots, ties)
         |SELECT n_events, k_groups,
         |       ${floor6Sql("h_raw")} AS h_stat,
         |       ${floor6Sql("tie_c")} AS tie_correction,
         |       ${floor6Sql("h_raw / tie_c")} AS h_corrected
         |FROM hs""".stripMargin,
    "q_cochran_armitage" ->
      s"""WITH doses AS (
         |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS k,
         |         count(*) AS n,
         |         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS rk
         |  FROM lineitem GROUP BY 1),
         |tot AS (
         |  SELECT count(*) AS n_doses, sum(n) AS nn, sum(rk) AS rr,
         |         sum(CAST(k AS HUGEINT) * n) AS s1,
         |         sum(CAST(k AS HUGEINT) * k * n) AS s2,
         |         sum(CAST(k AS HUGEINT) * rk) AS t1
         |  FROM doses),
         |z AS (
         |  SELECT CAST(nn AS BIGINT) AS n_lines, CAST(rr AS BIGINT) AS n_returns,
         |         CAST(n_doses AS BIGINT) AS n_doses,
         |         CAST(CAST(nn AS HUGEINT) * t1 - CAST(rr AS HUGEINT) * s1 AS DOUBLE) AS num,
         |         CAST(rr AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(rr AS DOUBLE)) * CAST(CAST(nn AS HUGEINT) * s2 - s1 * s1 AS DOUBLE) / CAST(nn AS DOUBLE) AS den2
         |  FROM tot)
         |SELECT n_lines, n_returns, n_doses,
         |       ${floor6Sql("num / sqrt(den2)")} AS z_stat,
         |       ${floor6Sql("num * num / den2")} AS chi2_trend,
         |       num * num / den2 > 3.841459 AS significant
         |FROM z""".stripMargin,
    "q_spearman" ->
      s"""WITH base AS (
         |  SELECT source, n_chars AS x,
         |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS y
         |  FROM documents),
         |ranked AS (
         |  SELECT source,
         |         2 * CAST(rank() OVER (PARTITION BY source ORDER BY x) AS BIGINT)
         |           + CAST(count(*) OVER (PARTITION BY source, x) AS BIGINT) - 1 AS r2x,
         |         2 * CAST(rank() OVER (PARTITION BY source ORDER BY y) AS BIGINT)
         |           + CAST(count(*) OVER (PARTITION BY source, y) AS BIGINT) - 1 AS r2y
         |  FROM base),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(r2x) AS HUGEINT) AS sx, CAST(sum(r2y) AS HUGEINT) AS sy,
         |         sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
         |         sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
         |         sum(CAST(r2y AS HUGEINT) * r2y) AS syy
         |  FROM ranked GROUP BY 1)
         |SELECT source, n_docs,
         |       ${floor6Sql(
          "CAST(n_docs * sxy - sx * sy AS DOUBLE) / sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE) * CAST(n_docs * syy - sy * sy AS DOUBLE))")} AS spearman_rho
         |FROM agg ORDER BY source""".stripMargin,
    "q_theil_index" ->
      s"""WITH rev AS (
         |  SELECT o.o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x, c.c_mktsegment AS segment
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         |  GROUP BY 1, 3),
         |seg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_g, CAST(sum(x) AS HUGEINT) AS s_g FROM rev GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn, CAST(sum(s_g) AS HUGEINT) AS ss, CAST(count(*) AS BIGINT) AS n_segments FROM seg),
         |rowq AS (
         |  SELECT r.segment,
         |         CAST(floor((CAST(r.x AS DOUBLE) * CAST(nn AS DOUBLE) / CAST(ss AS DOUBLE)) * ln(CAST(r.x AS DOUBLE) * CAST(nn AS DOUBLE) / CAST(ss AS DOUBLE)) * 1000000.0) AS BIGINT) AS qt,
         |         CAST(floor((CAST(r.x AS DOUBLE) * CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE)) * ln(CAST(r.x AS DOUBLE) * CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE)) * 1000000.0) AS BIGINT) AS qg
         |  FROM rev r JOIN seg USING (segment) CROSS JOIN tot),
         |per_seg AS (
         |  SELECT rowq.segment, CAST(sum(qt) AS HUGEINT) AS sqt, CAST(sum(qg) AS HUGEINT) AS sqg
         |  FROM rowq GROUP BY 1),
         |contrib AS (
         |  SELECT sqt,
         |         CAST(floor((CAST(s_g AS DOUBLE) / CAST(ss AS DOUBLE)) * (CAST(sqg AS DOUBLE) / (CAST(n_g AS DOUBLE) * 1000000.0)) * 1000000.0) AS BIGINT) AS qw,
         |         CAST(floor((CAST(s_g AS DOUBLE) / CAST(ss AS DOUBLE)) * ln((CAST(s_g AS DOUBLE) / CAST(ss AS DOUBLE)) / (CAST(n_g AS DOUBLE) / CAST(nn AS DOUBLE))) * 1000000.0) AS BIGINT) AS qb
         |  FROM per_seg JOIN seg USING (segment) CROSS JOIN tot),
         |fin AS (
         |  SELECT CAST(sum(sqt) AS HUGEINT) AS tq, CAST(sum(qw) AS BIGINT) AS wq, CAST(sum(qb) AS BIGINT) AS bq
         |  FROM contrib)
         |SELECT nn AS n_customers, n_segments,
         |       ${floor6Sql("CAST(tq AS DOUBLE) / (CAST(nn AS DOUBLE) * 1000000.0)")} AS theil_total,
         |       ${floor6Sql("CAST(bq AS DOUBLE) / 1000000.0")} AS theil_between,
         |       ${floor6Sql("CAST(wq AS DOUBLE) / 1000000.0")} AS theil_within
         |FROM fin, tot""".stripMargin,
    "q_tukey_pairs" ->
      s"""WITH g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
         |         sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) * CAST(round(value * 100) AS BIGINT)) AS sq
         |  FROM events GROUP BY 1),
         |mse AS (
         |  SELECT (CAST(sum(sq) AS DOUBLE) - CAST(sum((CAST(sc AS HUGEINT) * sc * 100) // n) AS DOUBLE) / 100.0)
         |           / (CAST(sum(n) - count(*) AS DOUBLE) * 10000.0) AS mse
         |  FROM g),
         |pairs AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |         a.n AS n_a, b.n AS n_b,
         |         CAST(a.sc AS DOUBLE) / (CAST(a.n AS DOUBLE) * 100.0) - CAST(b.sc AS DOUBLE) / (CAST(b.n AS DOUBLE) * 100.0) AS diff,
         |         mse * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)) AS se2
         |  FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN mse)
         |SELECT type_a, type_b, n_a, n_b,
         |       ${floor6Sql("diff")} AS mean_diff,
         |       ${floor6Sql("diff / sqrt(se2)")} AS t_stat,
         |       abs(diff / sqrt(se2)) > $BonferroniZ10 AS significant
         |FROM pairs ORDER BY type_a, type_b""".stripMargin,
    "q_levene" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |cnt AS (SELECT event_type, v, count(*) AS m FROM ev GROUP BY 1, 2),
         |ranked AS (
         |  SELECT event_type, v,
         |         CAST(sum(m) OVER (PARTITION BY event_type ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |         CAST(sum(m) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM cnt),
         |med AS (
         |  SELECT event_type,
         |         min(CASE WHEN cum >= (n + 1) // 2 THEN v END) +
         |         min(CASE WHEN cum >= (n + 2) // 2 THEN v END) AS m2
         |  FROM ranked GROUP BY 1),
         |z AS (
         |  SELECT ev.event_type, abs(2 * v - m2) AS z
         |  FROM ev JOIN med USING (event_type)),
         |g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(z) AS BIGINT) AS sz,
         |         sum(CAST(z AS HUGEINT) * z) AS zq
         |  FROM z GROUP BY 1),
         |tot AS (
         |  SELECT count(*) AS k_groups, sum(n) AS n_events,
         |         sum(CAST(sz AS HUGEINT)) AS s_tot, sum(zq) AS q_tot,
         |         sum((CAST(sz AS HUGEINT) * sz * 100) // n) AS t_cq
         |  FROM g),
         |ss AS (
         |  SELECT CAST(n_events AS BIGINT) AS n_events, CAST(k_groups AS BIGINT) AS k_groups,
         |         CAST(t_cq AS DOUBLE) / 100.0 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_events AS DOUBLE) AS ssb,
         |         CAST(q_tot AS DOUBLE) - CAST(t_cq AS DOUBLE) / 100.0 AS ssw
         |  FROM tot)
         |SELECT n_events, k_groups,
         |       ${floor6Sql(
          "(ssb / CAST(k_groups - 1 AS DOUBLE)) / (ssw / CAST(n_events - k_groups AS DOUBLE))")} AS w_stat
         |FROM ss""".stripMargin,
    "q_mk_seasonal" ->
      s"""WITH m AS (
         |  SELECT CAST($MonthIdxSql AS BIGINT) AS m, month(o_orderdate) AS moy, CAST(count(*) AS BIGINT) AS c
         |  FROM orders GROUP BY 1, 2),
         |s AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
         |  FROM m a JOIN m b ON a.moy = b.moy AND a.m < b.m),
         |base AS (
         |  SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS base18
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM m GROUP BY moy) t1),
         |ties AS (
         |  SELECT CAST(coalesce(sum(tk * (tk - 1) * (2 * tk + 5)), 0) AS BIGINT) AS tie_term
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS tk FROM m GROUP BY moy, c) t2 WHERE tk > 1),
         |cnts AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_periods, CAST(count(DISTINCT moy) AS BIGINT) AS n_seasons FROM m),
         |zc AS (
         |  SELECT n_periods, n_seasons, s_stat,
         |         base18 - tie_term AS var18,
         |         CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(base18 - tie_term AS DOUBLE) / 18.0)
         |              WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(base18 - tie_term AS DOUBLE) / 18.0)
         |              ELSE 0.0 END AS z
         |  FROM cnts, s, base, ties)
         |SELECT n_periods, n_seasons, s_stat,
         |       CAST(var18 AS DOUBLE) / 18.0 AS var_s,
         |       ${floor6Sql("z")} AS z_stat,
         |       CASE WHEN z > $MkCritical THEN 'increasing'
         |            WHEN z < -$MkCritical THEN 'decreasing'
         |            ELSE 'none' END AS trend
         |FROM zc""".stripMargin,
    "q_logrank" ->
      s"""WITH endv AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
         |signups AS (
         |  SELECT user_id, min(epoch_us(ts)) AS signup_us
         |  FROM events WHERE event_type = 'signup' GROUP BY 1),
         |conv AS (
         |  SELECT s.user_id, s.signup_us, min(epoch_us(e.ts)) AS conv_us
         |  FROM signups s LEFT JOIN events e
         |    ON e.user_id = s.user_id AND e.event_type = 'purchase'
         |       AND epoch_us(e.ts) >= s.signup_us
         |  GROUP BY 1, 2),
         |per AS (
         |  SELECT CASE WHEN (signup_us // 3600000000) % 24 < 12 THEN 'am' ELSE 'pm' END AS cohort,
         |         CASE WHEN conv_us IS NOT NULL
         |              THEN (conv_us - signup_us) // $DayUs END AS conv_d,
         |         least(coalesce((conv_us - signup_us) // $DayUs,
         |                        (end_us - signup_us) // $DayUs),
         |               (end_us - signup_us) // $DayUs) AS last_risk_d
         |  FROM conv, endv),
         |days AS (
         |  SELECT cohort, conv_d, unnest(range(0, last_risk_d + 1)) AS dd FROM per),
         |lt AS (
         |  SELECT dd, cohort, CAST(count(*) AS BIGINT) AS r,
         |         CAST(sum(CASE WHEN conv_d = dd THEN 1 ELSE 0 END) AS BIGINT) AS o
         |  FROM days GROUP BY 1, 2),
         |byday AS (
         |  SELECT dd, CAST(sum(r) AS BIGINT) AS rn, CAST(sum(o) AS BIGINT) AS onn,
         |         CAST(coalesce(sum(CASE WHEN cohort = 'am' THEN r END), 0) AS BIGINT) AS r1,
         |         CAST(coalesce(sum(CASE WHEN cohort = 'am' THEN o END), 0) AS BIGINT) AS o1
         |  FROM lt GROUP BY 1),
         |q AS (
         |  SELECT o1,
         |         CAST(floor(CAST(onn AS DOUBLE) * CAST(r1 AS DOUBLE) / CAST(rn AS DOUBLE) * 1000000.0) AS BIGINT) AS eq,
         |         CAST(floor(CAST(onn AS DOUBLE) * (CAST(r1 AS DOUBLE) / CAST(rn AS DOUBLE)) * (1.0 - CAST(r1 AS DOUBLE) / CAST(rn AS DOUBLE)) * CAST(rn - onn AS DOUBLE) / CAST(rn - 1 AS DOUBLE) * 1000000.0) AS BIGINT) AS vq
         |  FROM byday WHERE onn > 0 AND rn > 1),
         |sums AS (
         |  SELECT CAST(sum(o1) AS BIGINT) AS o_am, CAST(sum(eq) AS HUGEINT) AS eqs, CAST(sum(vq) AS HUGEINT) AS vqs FROM q),
         |cohn AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN cohort = 'am' THEN 1 END), 0) AS BIGINT) AS n_am,
         |         CAST(coalesce(sum(CASE WHEN cohort = 'pm' THEN 1 END), 0) AS BIGINT) AS n_pm
         |  FROM per)
         |SELECT n_am, n_pm, o_am,
         |       ${floor6Sql("CAST(eqs AS DOUBLE) / 1000000.0")} AS e_am,
         |       ${floor6Sql(
          "(CAST(o_am AS DOUBLE) - CAST(eqs AS DOUBLE) / 1000000.0) * (CAST(o_am AS DOUBLE) - CAST(eqs AS DOUBLE) / 1000000.0) / (CAST(vqs AS DOUBLE) / 1000000.0)")} AS chi2,
         |       (CAST(o_am AS DOUBLE) - CAST(eqs AS DOUBLE) / 1000000.0) * (CAST(o_am AS DOUBLE) - CAST(eqs AS DOUBLE) / 1000000.0) / (CAST(vqs AS DOUBLE) / 1000000.0) > 3.841459 AS significant
         |FROM sums, cohn""".stripMargin,
    "q_uplift_ipw" ->
      s"""WITH per_user AS (
         |  SELECT CAST(floor(log2(CAST(count(*) AS DOUBLE))) AS BIGINT) AS stratum,
         |         CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS t,
         |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY user_id, epoch_us(ts) // $DayUs),
         |strata AS (
         |  SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
         |         CAST(sum(t) AS BIGINT) AS n_t,
         |         CAST(sum(t * y) AS BIGINT) AS y_t,
         |         CAST(sum((1 - t) * y) AS BIGINT) AS y_c,
         |         CAST(count(*) - sum(t) AS BIGINT) AS n_c
         |  FROM per_user GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS n_strata FROM strata),
         |kept AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_strata_kept,
         |         CAST(sum(n_s) AS BIGINT) AS n_kept,
         |         CAST(sum(CAST(floor(CAST(n_s AS DOUBLE) * (CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE) - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * 1000000.0) AS BIGINT)) AS HUGEINT) AS qsum
         |  FROM strata WHERE n_t > 0 AND n_c > 0),
         |naive AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS nt, CAST(sum(t * y) AS BIGINT) AS yt,
         |         CAST(sum(1 - t) AS BIGINT) AS nc, CAST(sum((1 - t) * y) AS BIGINT) AS yc
         |  FROM per_user)
         |SELECT nn AS n_users, n_strata, n_strata_kept,
         |       ${floor6Sql(
          "CAST(qsum AS DOUBLE) / (CAST(n_kept AS DOUBLE) * 1000000.0)")} AS ate_stratified,
         |       ${floor6Sql(
          "CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE)")} AS diff_naive
         |FROM kept, tot, naive""".stripMargin,
    "q_ewma_chart" ->
      s"""WITH RECURSIVE counts AS (
         |  SELECT event_type, epoch_us(ts) - (epoch_us(ts) % 86400000000) AS day_us, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(day_us) AS mn, max(day_us) AS mx FROM counts),
         |grid AS (
         |  SELECT t.event_type, unnest(generate_series(mn, mx, 86400000000)) AS day_us
         |  FROM (SELECT DISTINCT event_type FROM counts) t, bounds),
         |dense AS (
         |  SELECT g.event_type, g.day_us, CAST(coalesce(c.c, 0) AS BIGINT) AS c
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.day_us = c.day_us),
         |stats AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
         |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq
         |  FROM dense GROUP BY 1),
         |params AS (
         |  SELECT event_type, CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |         sqrt(CAST(CAST(n AS HUGEINT) * sq - CAST(sc AS HUGEINT) * sc AS DOUBLE) /
         |              (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) * (0.25 / 1.75)) AS sig_z
         |  FROM stats),
         |series AS (
         |  SELECT event_type, day_us, c,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day_us) AS BIGINT) AS idx
         |  FROM dense),
         |rec AS (
         |  SELECT s.event_type, s.idx, s.day_us, s.c,
         |         0.25 * CAST(s.c AS DOUBLE) + 0.75 * p.mu AS z
         |  FROM series s JOIN params p USING (event_type) WHERE s.idx = 1
         |  UNION ALL
         |  SELECT s.event_type, s.idx, s.day_us, s.c,
         |         0.25 * CAST(s.c AS DOUBLE) + 0.75 * r.z
         |  FROM rec r JOIN series s ON s.event_type = r.event_type AND s.idx = r.idx + 1)
         |SELECT r.event_type, r.day_us, r.c,
         |       ${floor6Sql("z")} AS ewma,
         |       ${floor6Sql("mu")} AS center,
         |       ${floor6Sql("abs(z - mu)")} > ${floor6Sql("3.0 * sig_z")} AS signal
         |FROM rec r JOIN params p USING (event_type)
         |ORDER BY event_type, day_us""".stripMargin,
    "q_jonckheere" ->
      s"""WITH hist AS (
         |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS k,
         |         CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS m
         |  FROM lineitem GROUP BY 1, 2),
         |j2t AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN a.q < b.q THEN 2 * CAST(a.m AS HUGEINT) * b.m
         |                                ELSE CAST(a.m AS HUGEINT) * b.m END), 0) AS HUGEINT) AS j2
         |  FROM hist a JOIN hist b ON a.k < b.k AND a.q <= b.q),
         |sizes AS (SELECT k, CAST(sum(m) AS BIGINT) AS nk FROM hist GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(nk) AS BIGINT) AS nn,
         |         CAST(sum(CAST(nk AS HUGEINT) * nk) AS HUGEINT) AS sn2,
         |         CAST(sum(CAST(nk AS HUGEINT) * nk * (2 * CAST(nk AS HUGEINT) + 3)) AS HUGEINT) AS sn23,
         |         CAST(count(*) AS BIGINT) AS n_doses
         |  FROM sizes),
         |raw AS (
         |  SELECT nn, n_doses,
         |         CAST(j2 AS DOUBLE) / 2.0 AS j_stat,
         |         CAST(CAST(nn AS HUGEINT) * nn - sn2 AS DOUBLE) / 4.0 AS e_j,
         |         CAST(CAST(nn AS HUGEINT) * nn * (2 * CAST(nn AS HUGEINT) + 3) - sn23 AS DOUBLE) / 72.0 AS var_j
         |  FROM tot, j2t)
         |SELECT nn AS n_lines, n_doses,
         |       ${floor6Sql("j_stat")} AS j_stat,
         |       ${floor6Sql("e_j")} AS e_j,
         |       ${floor6Sql("(j_stat - e_j) / sqrt(var_j)")} AS z_stat
         |FROM raw""".stripMargin,
    "q_friedman" ->
      s"""WITH counts AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(dy) AS lo, max(dy) AS hi FROM counts),
         |grid AS (
         |  SELECT t.event_type, unnest(generate_series(lo, hi)) AS dy
         |  FROM (SELECT DISTINCT event_type FROM counts) t, bounds),
         |dense AS (
         |  SELECT g.event_type, g.dy, CAST(coalesce(c.c, 0) AS BIGINT) AS c
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.dy = c.dy),
         |ranked AS (
         |  SELECT event_type, dy, c,
         |         CAST(2 * rank() OVER (PARTITION BY dy ORDER BY c)
         |           + count(*) OVER (PARTITION BY dy, c) - 1 AS BIGINT) AS r2
         |  FROM dense),
         |pertype AS (
         |  SELECT event_type, CAST(sum(r2) AS BIGINT) AS rr2, CAST(count(*) AS BIGINT) AS b
         |  FROM ranked GROUP BY 1),
         |tie AS (SELECT CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS a2 FROM ranked),
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM pertype),
         |agg AS (
         |  SELECT max(k) AS k, max(b) AS b,
         |         CAST(sum((CAST(rr2 AS HUGEINT) - CAST(b AS HUGEINT) * (k + 1))
         |           * (CAST(rr2 AS HUGEINT) - CAST(b AS HUGEINT) * (k + 1))) AS HUGEINT) AS num2
         |  FROM pertype, kk)
         |SELECT b AS n_days, k AS k_types,
         |       ${floor6Sql(
          "CAST((k - 1) * num2 AS DOUBLE) / CAST(a2 - CAST(b AS HUGEINT) * k * (k + 1) * (k + 1) AS DOUBLE)")} AS chi2_f
         |FROM agg, tie
         |WHERE a2 - CAST(b AS HUGEINT) * k * (k + 1) * (k + 1) <> 0""".stripMargin,
    "q_did" ->
      s"""WITH ev AS (
         |  SELECT (user_id % 2 = 0) AS treated, epoch_us(ts) // 86400000000 AS dy
         |  FROM events WHERE event_type = 'purchase'),
         |bounds AS (SELECT min(dy) AS lo, max(dy) AS hi FROM ev),
         |daily AS (SELECT treated, dy, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
         |grid AS (
         |  SELECT t.treated, unnest(generate_series(lo, hi)) AS dy
         |  FROM (SELECT DISTINCT treated FROM daily) t, bounds),
         |dense AS (
         |  SELECT g.treated, g.dy >= ((b.lo + b.hi + 1) // 2) AS post,
         |         CAST(coalesce(d.c, 0) AS BIGINT) AS c
         |  FROM grid g CROSS JOIN bounds b
         |  LEFT JOIN daily d ON g.treated = d.treated AND g.dy = d.dy),
         |cells AS (
         |  SELECT treated, post, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
         |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq
         |  FROM dense GROUP BY 1, 2),
         |cm AS (
         |  SELECT treated, post, n, CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |         CAST(CAST(n AS HUGEINT) * sq - CAST(sc AS HUGEINT) * sc AS DOUBLE) /
         |           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE) AS se2
         |  FROM cells WHERE n >= 2)
         |SELECT tp.n AS n_t_pre, tq.n AS n_t_post,
         |       ${floor6Sql("tp.mean")} AS mean_t_pre,
         |       ${floor6Sql("tq.mean")} AS mean_t_post,
         |       ${floor6Sql("cp.mean")} AS mean_c_pre,
         |       ${floor6Sql("cq.mean")} AS mean_c_post,
         |       ${floor6Sql("(tq.mean - tp.mean) - (cq.mean - cp.mean)")} AS did,
         |       ${floor6Sql(
          "((tq.mean - tp.mean) - (cq.mean - cp.mean)) / sqrt(tp.se2 + tq.se2 + cp.se2 + cq.se2)")} AS t_stat
         |FROM (SELECT * FROM cm WHERE treated AND NOT post) tp,
         |     (SELECT * FROM cm WHERE treated AND post) tq,
         |     (SELECT * FROM cm WHERE NOT treated AND NOT post) cp,
         |     (SELECT * FROM cm WHERE NOT treated AND post) cq""".stripMargin,
    "q_croston" ->
      s"""WITH RECURSIVE counts AS (
         |  SELECT event_type, epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hour_us, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(hour_us) AS mn, max(hour_us) AS mx FROM counts),
         |grid AS (
         |  SELECT t.event_type, unnest(generate_series(mn, mx, 3600000000)) AS hour_us
         |  FROM (SELECT DISTINCT event_type FROM counts) t, bounds),
         |dense AS (
         |  SELECT g.event_type, g.hour_us, CAST(coalesce(c.c, 0) AS BIGINT) AS c
         |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.hour_us = c.hour_us),
         |series AS (
         |  SELECT event_type, hour_us, c,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour_us) AS BIGINT) AS idx
         |  FROM dense),
         |sizes AS (SELECT event_type, CAST(max(idx) AS BIGINT) AS n_hours FROM series GROUP BY 1),
         |rec AS (
         |  SELECT event_type, idx,
         |         -- CAST the anchors: a bare 0.0 is DECIMAL(2,1) and the
         |         -- recursive CTE would inherit that type for the whole chain
         |         CASE WHEN c = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(c AS DOUBLE) END AS z,
         |         CASE WHEN c = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS q,
         |         CAST(CASE WHEN c = 0 THEN 1 ELSE 0 END AS BIGINT) AS gap,
         |         CAST(CASE WHEN c = 0 THEN 0 ELSE 1 END AS BIGINT) AS nd
         |  FROM series WHERE idx = 1
         |  UNION ALL
         |  SELECT s.event_type, s.idx,
         |         CASE WHEN s.c = 0 THEN r.z WHEN r.nd = 0 THEN CAST(s.c AS DOUBLE)
         |              ELSE 0.25 * CAST(s.c AS DOUBLE) + 0.75 * r.z END,
         |         CASE WHEN s.c = 0 THEN r.q WHEN r.nd = 0 THEN CAST(r.gap + 1 AS DOUBLE)
         |              ELSE 0.25 * CAST(r.gap + 1 AS DOUBLE) + 0.75 * r.q END,
         |         CAST(CASE WHEN s.c = 0 THEN r.gap + 1 ELSE 0 END AS BIGINT),
         |         CAST(CASE WHEN s.c = 0 THEN r.nd WHEN r.nd = 0 THEN 1 ELSE r.nd + 1 END AS BIGINT)
         |  FROM rec r JOIN series s ON s.event_type = r.event_type AND s.idx = r.idx + 1)
         |SELECT r.event_type, z.n_hours, r.nd AS n_demand_hours,
         |       ${floor6Sql("r.z")} AS size_smooth,
         |       ${floor6Sql("r.q")} AS interval_smooth,
         |       ${floor6Sql("r.z / r.q")} AS rate_forecast
         |FROM rec r JOIN sizes z USING (event_type)
         |WHERE r.idx = z.n_hours
         |ORDER BY event_type""".stripMargin
  )
}
