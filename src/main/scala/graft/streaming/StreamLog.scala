package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.expressions.{NormalizeText, Tokens}
import graft.log.{EventLog, LogFs}

/** Streaming-side of the engine: the reference's live produce/subscribe
  * surface (reference: client.go:188-206, consumer_context.go) mapped
  * onto Structured Streaming.
  *
  *  - '''segmentStatuses''' ≡ SubscribeToSpace/Segment: a continuously
  *    updated stream of per-segment SegmentStatus (the reference pushes
  *    one per produce chunk; here each micro-batch updates the aggregate),
  *  - '''windowedCounts''' ≡ streaming analytics over a space with event
  *    -time windows + watermark-bounded state,
  *  - '''sequenceMonitor''' ≡ the produce-side contiguity guarantee
  *    (pebble/service.go:349) run continuously:
  *    `flatMapGroupsWithState` keeps last-seen sequence per segment and
  *    emits one gap report per violation,
  *  - '''appendSink''' ≡ the produce pipeline: `foreachBatch` appending
  *    each micro-batch to an [[EventLog]].
  *
  * Inputs are entry-shaped streaming DataFrames
  * `(space, segment, sequence, timestamp µs, payload)`.
  *
  * ==Delivery contract (follow / subscribe)==
  *
  * The reference delivers SegmentStatus over a live bidi push bus
  * (wsstream/bidi_stream.go, broker/bus.go); [[follow]] re-expresses it
  * as a polling file source. The resulting contract, in one place:
  *
  *  - '''at-least-once notification''': every committed entry is
  *    eventually read by the follower; a crash/restart of the follower
  *    replays from its streaming checkpoint, so a notification can be
  *    observed twice but never lost. The tickle→re-poll consumer loop
  *    (notification drives `consumeSpaceFromOffset` from the consumer's
  *    OWN offset, exclusive bounds) turns that into exactly-once DATA
  *    consumption — asserted by the "observer loop" spec (no loss, no
  *    dups).
  *  - '''latency is poll-interval-bound''', not push-immediate: an
  *    entry becomes visible at the follower's next trigger after its
  *    commit (trigger interval + one listing + one read), where the
  *    reference's bus tickles in-band. The "follow latency" spec pins
  *    an end-to-end bound. Size the trigger to the freshness the
  *    subscription needs — or pair follow with
  *    [[graft.log.PushBridge]], whose cross-process ack push (the
  *    mailbox + WatchService twin of the reference's wire transports)
  *    tells a consumer WHEN to poll instead of guessing a trigger.
  *  - '''lifecycle rewrites re-deliver''': `EventLog.compact`/`retain`
  *    rewrite a space's files, which a file source sees as brand-new
  *    input — a live follower re-receives the space (and can hit a
  *    deleted original mid-trigger). Run rewrites on spaces no follower
  *    tails, or rely on the re-poll loop's offset (re-notifications of
  *    an already-consumed position re-poll zero rows) / content dedup
  *    ([[dedupStream]]) downstream.
  */
object StreamLog {

  /** Continuously-maintained SegmentStatus per (space, segment).
    * Use OutputMode.Update (or Complete) on the sink. */
  def segmentStatuses(entries: DataFrame): DataFrame =
    entries
      .groupBy("space", "segment")
      .agg(
        min("sequence").as("firstSequence"),
        min("timestamp").as("firstTimestamp"),
        max("sequence").as("lastSequence"),
        max("timestamp").as("lastTimestamp"))

  /** Subscription filter — the notification feed for one space
    * (reference: SubcribeToSpace). */
  def subscribeToSpace(statuses: DataFrame, space: String): DataFrame =
    statuses.filter(col("space") === space)

  def subscribeToSegment(
      statuses: DataFrame,
      space: String,
      segment: String): DataFrame =
    statuses.filter(col("space") === space && col("segment") === segment)

  /** Event-time tumbling-window counts with watermark-bounded state.
    * `timestamp` (µs) is converted to a timestamp column for Spark's
    * native window/watermark machinery. */
  def windowedCounts(
      entries: DataFrame,
      watermark: String = "1 minute",
      windowLen: String = "1 hour"): DataFrame =
    entries
      .withColumn("event_time", timestamp_micros(col("timestamp")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("space"))
      .agg(count(lit(1)).as("n_entries"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("space"),
        col("n_entries"))

  final case class SeqState(lastSequence: Long)
  final case class SeqGap(
      space: String,
      segment: String,
      expected: Long,
      actual: Long)
  final case class InEntry(
      space: String,
      segment: String,
      sequence: Long,
      timestamp: Long,
      payload: String)

  /** Continuous sequence-contiguity monitor: per (space, segment), track
    * the last sequence across micro-batches and emit a [[SeqGap]] for
    * every record that does not extend the segment contiguously.
    * State is one Long per segment — bounded, no timeout needed. */
  def sequenceMonitor(entries: Dataset[InEntry]): Dataset[SeqGap] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(e => (e.space, e.segment))
      .flatMapGroupsWithState[SeqState, SeqGap](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case ((space, segment), rows, state: GroupState[SeqState]) =>
          var last = state.getOption.map(_.lastSequence).getOrElse(0L)
          val gaps = Seq.newBuilder[SeqGap]
          // project to (timestamp, sequence) BEFORE materializing for the
          // sort: a hot segment's micro-batch then buffers 16 bytes per
          // entry instead of full rows with payloads
          val order = rows.map(e => (e.timestamp, e.sequence)).toArray.sorted
          order.foreach { case (_, seq) =>
            if (seq != last + 1)
              gaps += SeqGap(space, segment, last + 1, seq)
            last = math.max(last, seq)
          }
          state.update(SeqState(last))
          gaps.result().iterator
      }
  }

  final case class WelfordState(n: Long, mean: Double, m2: Double)
  final case class Anomaly(
      space: String,
      timestamp: Long,
      value: Double,
      mean: Double,
      stddev: Double,
      n: Long)

  /** Minimum observations before [[anomalyMonitor]] starts flagging —
    * early stddev estimates are too noisy to gate on. */
  val AnomalyWarmup = 10L

  final case class EmaState(n: Long, ema: Double)
  final case class EmaPoint(
      space: String,
      timestamp: Long,
      value: Double,
      ema: Double,
      n: Long)

  /** Streaming twin of the batch `q_ema` recursive smoother: per key,
    * `ema_i = α·x_i + (1−α)·ema_{i−1}` seeded with the first
    * observation — the unbounded-stream form the batch query's
    * sorted-array fold cannot cover (its state is the whole history;
    * this is 16 bytes per key, no timeout needed). Same IEEE operation
    * order as the batch fold, so on the same ordered data the results
    * are bit-identical. Rows within a micro-batch are processed in
    * (timestamp, value) order for cross-run determinism. */
  def emaStream(
      points: Dataset[(String, Long, Double)],
      alpha: Double = 0.25): Dataset[EmaPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[EmaState, EmaPoint](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[EmaState]) =>
          var st = state.getOption.getOrElse(EmaState(0L, 0.0))
          val out = Seq.newBuilder[EmaPoint]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (ts, v) =>
            val ema1 = if (st.n == 0L) v else alpha * v + (1 - alpha) * st.ema
            st = EmaState(st.n + 1, ema1)
            out += EmaPoint(space, ts, v, ema1, st.n)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HoltState(n: Long, x1: Double, l: Double, b: Double)
  final case class HoltPoint(
      space: String,
      t: Long,
      value: Double,
      level: Double,
      trend: Double,
      forecast7: Double,
      n: Long)

  /** Streaming twin of the batch `q_holt` level+trend smoother
    * ([[graft.queries.OlapQueries.qHolt]]): per key, the classic Holt
    * recurrences
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    * seeded exactly like the batch fold (l₂ = x₂, b₂ = x₂ − x₁ — the
    * first observation is buffered, nothing is emitted until the seed
    * exists), with the live 7-step-ahead forecast l + 7·b on every
    * point. Same IEEE operation order as the batch `aggregate` fold
    * (α·x + (1−α)·(l+b); β·(l₁−l) + (1−β)·b with α, β exact binary
    * fractions), so on the same ordered series level/trend/forecast are
    * bit-identical to the batch query's columns — the emaStream parity
    * contract. State is 28 bytes per key — bounded, no timeout; rows
    * within a micro-batch fold in (t, value) order for cross-run
    * determinism. The batch query emits only the final state; the
    * stream emits the trajectory, so `forecast7` is live after every
    * arrival — the unbounded-ingest form a batch re-fold cannot serve. */
  def holtStream(
      points: Dataset[(String, Long, Double)],
      alpha: Double = 0.5,
      beta: Double = 0.25): Dataset[HoltPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0.0, 0.0, 0.0))
          val out = Seq.newBuilder[HoltPoint]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (t, x) =>
            if (st.n == 0L) st = HoltState(1L, x, 0.0, 0.0)
            else if (st.n == 1L) {
              // the batch fold's seed: l = x₂, b = x₂ − x₁
              st = HoltState(2L, st.x1, x, x - st.x1)
              out += HoltPoint(space, t, x, st.l, st.b, st.l + 7.0 * st.b, st.n)
            } else {
              val l1 = alpha * x + (1 - alpha) * (st.l + st.b)
              val b1 = beta * (l1 - st.l) + (1 - beta) * st.b
              st = HoltState(st.n + 1, st.x1, l1, b1)
              out += HoltPoint(space, t, x, l1, b1, l1 + 7.0 * b1, st.n)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HwStreamState(
      buf: Seq[(Long, Double)],
      n: Long,
      l: Double,
      b: Double,
      q: Seq[Double])
  final case class HwStreamPoint(
      space: String,
      t: Long,
      value: Double,
      level: Double,
      trend: Double,
      forecast1: Double,
      forecast7: Double,
      n: Long)

  /** Streaming twin of the batch Holt–Winters additive smoother
    * ([[graft.queries.OlapQueries.qHoltWinters]]): per key, the triple
    * recurrences (season length m = 7)
    *   l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(x_t − l_t) + (1−γ)s_{t−m}
    * seeded EXACTLY like the batch fold (the first 14 observations are
    * buffered; l₇ = week-1 mean, b₇ = (week-2 mean − week-1 mean)/7,
    * s_i = x_i − l₇ — same left-associated sums), with the live h = 1
    * and h = 7 forecasts l + h·b + s_{t+h−m} on every step. α, β, γ are
    * exact binary fractions and every step replays the batch
    * `aggregate` fold's IEEE tree, so on the same ordered series
    * level/trend/forecasts are bit-identical to the batch query's
    * final-state columns. State is ≤ 14 buffered points + 9 doubles
    * per key — bounded, no timeout; emission starts at the 8th point
    * (the first folded step, like the batch replay of t = 8…n). Rows
    * within a micro-batch fold in (t, value) order. */
  def holtWintersStream(
      points: Dataset[(String, Long, Double)],
      alpha: Double = 0.5,
      beta: Double = 0.25,
      gamma: Double = 0.25): Dataset[HwStreamPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[HwStreamState, HwStreamPoint](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[HwStreamState]) =>
          var st = state.getOption.getOrElse(
            HwStreamState(Seq.empty, 0L, 0.0, 0.0, Seq.empty))
          val out = Seq.newBuilder[HwStreamPoint]
          def step(t: Long, x: Double): Unit = {
            val lnew = alpha * (x - st.q.head) + (1 - alpha) * (st.l + st.b)
            val bnew = beta * (lnew - st.l) + (1 - beta) * st.b
            val qnew = st.q.tail :+ (gamma * (x - lnew) + (1 - gamma) * st.q.head)
            st = HwStreamState(Seq.empty, st.n + 1, lnew, bnew, qnew)
            out += HwStreamPoint(
              space, t, x, lnew, bnew,
              lnew + 1.0 * bnew + qnew.head,
              lnew + 7.0 * bnew + qnew.last,
              st.n)
          }
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (t, x) =>
            if (st.n < 14L && st.q.isEmpty) {
              val buf = (st.buf :+ (t, x)).sortBy(_._1)
              if (buf.size < 14) st = HwStreamState(buf, buf.size.toLong, 0.0, 0.0, Seq.empty)
              else {
                // the batch seed: state at t = 7, then replay t = 8…14
                val xs = buf.map(_._2)
                val l0 = xs.slice(0, 7).reduceLeft(_ + _) / 7.0
                val b0 = (xs.slice(7, 14).reduceLeft(_ + _) / 7.0 - l0) / 7.0
                st = HwStreamState(
                  Seq.empty, 7L, l0, b0, xs.take(7).map(_ - l0))
                buf.drop(7).foreach { case (bt, bx) => step(bt, bx) }
              }
            } else step(t, x)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class ThetaState(
      n: Long,
      s1: Long,
      s2: Long,
      sx: Double,
      sxt: Double,
      f: Double,
      tf: Double)
  final case class ThetaPoint(
      space: String,
      t: Long,
      value: Double,
      trendSlope: Double,
      thetaLevel: Double,
      forecast7: Double,
      n: Long)

  /** Streaming twin of the batch `q_theta_forecast` Theta(0,2) method
    * ([[graft.queries.OlapQueries.qThetaForecast]]) — the one forecaster
    * whose batch fold reads the WHOLE series twice: the theta-2 line
    * z_t = 2·x_t − (a + b·t) is built from the FULL-series OLS trend
    * (a, b) before the SES pass. The stream makes that incremental by
    * linearity: SES is a linear fold, so
    *   L_n(z) = F_n − a_n·P_n − b_n·T_n
    * where F/P/T are the SES folds of 2·x_t, 1, and t — and P_n ≡ 1
    * exactly (α + (1−α) = 1 for the exact-binary α = 1/4). State per
    * key is the exact OLS sufficient statistics (n, Σt, Σt², Σx, Σt·x —
    * integer/integral-double sums, bit-exact and order-free, matching
    * the batch DECIMAL sums while statistics stay below 2⁵³) plus the
    * two fold scalars F and T: 7 numbers, bounded, no timeout. Each
    * arrival re-derives (a_n, b_n) from the statistics (two IEEE
    * divisions — the batch expression replayed) and emits the live
    * level and 7-step forecast ½(a + b(n+7)) + ½L.
    *
    * Parity contract: trend_slope is BIT-equal to the batch column
    * (same exact sums, same division); the level/forecast agree with
    * the batch fold at its published 4-dp rounding — the linear
    * decomposition evaluates the same real number through a different
    * IEEE tree (relative divergence ~1e-12; the batch fold bakes the
    * final a, b into every step, which no bounded-state stream can
    * replay verbatim). The stream is bit-identical to ITSELF under any
    * micro-batch split (spec-asserted) — the holtStream determinism
    * contract. The grid index t is arrival rank per key (the batch
    * dense-grid position); emission starts at n = 2 (OLS needs two
    * points), like the batch `n_days >= 2` filter. */
  def thetaStream(
      points: Dataset[(String, Long, Double)],
      alpha: Double = 0.25): Dataset[ThetaPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[ThetaState, ThetaPoint](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[ThetaState]) =>
          var st = state.getOption.getOrElse(ThetaState(0L, 0L, 0L, 0.0, 0.0, 0.0, 0.0))
          val out = Seq.newBuilder[ThetaPoint]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (ts, x) =>
            val t = st.n + 1
            val f1 = if (t == 1L) 2.0 * x else alpha * (2.0 * x) + (1 - alpha) * st.f
            val tf1 = if (t == 1L) 1.0 else alpha * t.toDouble + (1 - alpha) * st.tf
            st = ThetaState(
              t, st.s1 + t, st.s2 + t * t, st.sx + x, st.sxt + t.toDouble * x, f1, tf1)
            if (t >= 2L) {
              // the batch OLS expression off the exact sums
              val b = (st.n.toDouble * st.sxt - st.s1.toDouble * st.sx) /
                (st.n.toDouble * st.s2.toDouble - st.s1.toDouble * st.s1.toDouble)
              val a = (st.sx - b * st.s1.toDouble) / st.n.toDouble
              val lvl = st.f - a - b * st.tf
              out += ThetaPoint(
                space, ts, x, b, lvl,
                0.5 * (a + b * (st.n + 7L).toDouble) + 0.5 * lvl,
                st.n)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class CrostonState(z: Double, q: Double, gap: Long, nd: Long)
  final case class CrostonPoint(
      space: String,
      t: Long,
      value: Long,
      sizeSmooth: Double,
      intervalSmooth: Double,
      rateForecast: Double,
      nDemand: Long)

  /** Streaming twin of the batch `q_croston` intermittent-demand
    * forecaster ([[graft.queries.StatsQueries.qCroston]], Croston 1972)
    * — the last forecaster in the batch/stream parity family: per key,
    * demand SIZE z and demand INTERVAL q are smoothed separately on
    * demand arrivals only, and the live forecast is the rate z/q a
    * plain EMA systematically over-forecasts right after each arrival.
    * Input is the DENSE counted series (the same windowed hourly count
    * aggregation the batch query folds, zeros included): a zero-count
    * row grows the open interval exactly like the batch fold's gap
    * counter and emits nothing (no smoothed value changes); a demand
    * row seeds (z = c, q = gap+1) on first demand, then replays the
    * batch CASE tree z ← α·c + (1−α)z, q ← α·(gap+1) + (1−α)q with the
    * exact-binary α = 1/4 — the identical IEEE operation order, so on
    * the same ordered series the emitted (size_smooth, interval_smooth,
    * rate_forecast) match the batch columns bit-for-bit at every demand
    * point (spec-asserted across micro-batch splits cutting inside a
    * zero run AND before the seed). State is two doubles + two longs
    * per key — bounded, no timeout; rows within a micro-batch fold in
    * (t, count) order for cross-run determinism. The batch query emits
    * only the final state; the stream emits the trajectory — the live
    * demand-pipeline form a batch re-fold cannot serve. */
  def crostonStream(
      points: Dataset[(String, Long, Long)],
      alpha: Double = 0.25): Dataset[CrostonPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[CrostonState, CrostonPoint](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[CrostonState]) =>
          var st = state.getOption.getOrElse(CrostonState(0.0, 0.0, 0L, 0L))
          val out = Seq.newBuilder[CrostonPoint]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (t, c) =>
            if (c == 0L) st = CrostonState(st.z, st.q, st.gap + 1L, st.nd)
            else {
              st =
                if (st.nd == 0L)
                  // first demand: seed size with it, interval with its position
                  CrostonState(c.toDouble, (st.gap + 1L).toDouble, 0L, 1L)
                else
                  CrostonState(
                    alpha * c.toDouble + (1 - alpha) * st.z,
                    alpha * (st.gap + 1L).toDouble + (1 - alpha) * st.q,
                    0L,
                    st.nd + 1L)
              out += CrostonPoint(space, t, c, st.z, st.q, st.z / st.q, st.nd)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class EwmaChartState(n: Long, z: Double)
  final case class EwmaChartSignal(
      space: String,
      timestamp: Long,
      value: Long,
      ewma: Double,
      n: Long)

  /** Streaming twin of the batch EWMA control chart
    * ([[graft.queries.StatsQueries.qEwmaChart]]): per key, fold each
    * count into z ← λx + (1−λ)z from z₀ = `center` and emit a signal
    * row when the floor6-quantized |z − center| crosses the
    * floor6-quantized 3·`sigmaZ` — the identical compare the batch
    * query emits, so on the same ordered series the signal set matches
    * it exactly (λ = 1/4 exact binary keeps the recursion the same
    * IEEE tree). `center`/`sigmaZ` come from a FROZEN baseline window
    * (the [[driftMonitor]] convention): a live chart cannot use the
    * in-sample mean the batch retrospective uses. State is one
    * (long, double) per key — bounded, no timeout; rows within a
    * micro-batch fold in (timestamp, value) order. */
  def ewmaChartMonitor(
      points: Dataset[(String, Long, Long)],
      center: Double,
      sigmaZ: Double,
      lambda: Double = 0.25d): Dataset[EwmaChartSignal] = {
    import points.sparkSession.implicits._
    def floor6(x: Double): Double = math.floor(x * 1000000.0d + 0.5d) / 1000000.0d
    val limit6 = floor6(3.0d * sigmaZ)
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaChartState, EwmaChartSignal](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[EwmaChartState]) =>
          var st = state.getOption.getOrElse(EwmaChartState(0L, center))
          val out = Seq.newBuilder[EwmaChartSignal]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (ts, x) =>
            val z1 = lambda * x.toDouble + (1 - lambda) * st.z
            st = EwmaChartState(st.n + 1, z1)
            if (floor6(math.abs(z1 - center)) > limit6)
              out += EwmaChartSignal(space, ts, x, floor6(z1), st.n)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class PhState(n: Long, prefix: Long, qsum: Long, minM: Long, maxM: Long)
  final case class PhAlert(
      space: String,
      timestamp: Long,
      value: Long,
      phUpMicro: Long,
      phDownMicro: Long,
      n: Long)

  /** Streaming twin of the batch Page–Hinkley changepoint
    * ([[graft.queries.OlapQueries]] `q_page_hinkley`) — the estimator
    * IS sequential, so the live form is its natural home: per key,
    * fold each count into the µ-unit INTEGER recurrence the batch
    * query uses (expanding mean quantized by integer division BEFORE
    * the cumulative sum, m = 10⁶·prefix − Σqmean, running min/max of
    * m), and emit an alert the moment either one-sided statistic
    * PH⁺ = m − min m or PH⁻ = max m − m crosses `lambdaMicro`. State
    * is five longs per key — bounded, no timeout — and the integer
    * algebra makes stream/batch parity EXACT: on the same ordered
    * series the emitted statistics equal the batch query's columns
    * bit-for-bit (spec-asserted), not merely approximately. Rows
    * within a micro-batch fold in (timestamp, value) order for
    * cross-run determinism. */
  def pageHinkleyMonitor(
      points: Dataset[(String, Long, Long)],
      lambdaMicro: Long): Dataset[PhAlert] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[PhState, PhAlert](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[PhState]) =>
          var st = state.getOption.getOrElse(PhState(0L, 0L, 0L, 0L, 0L))
          val out = Seq.newBuilder[PhAlert]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (ts, x) =>
            val n1 = st.n + 1
            val prefix1 = st.prefix + x
            val qmean = prefix1 * 1000000L / n1 // positive → same as the batch DIV
            val qsum1 = st.qsum + qmean
            val m = prefix1 * 1000000L - qsum1
            val minM1 = if (st.n == 0L) m else math.min(st.minM, m)
            val maxM1 = if (st.n == 0L) m else math.max(st.maxM, m)
            val phUp = m - minM1
            val phDown = maxM1 - m
            if (phUp > lambdaMicro || phDown > lambdaMicro)
              out += PhAlert(space, ts, x, phUp, phDown, n1)
            st = PhState(n1, prefix1, qsum1, minM1, maxM1)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Continuous anomaly monitor: per space, maintain running mean and
    * variance with Welford's online recurrence and flag any value more
    * than `k` estimated standard deviations from the running mean
    * (z-score change detection over an unbounded stream). State is 24
    * bytes per space — bounded, no timeout needed — and each anomaly is
    * judged against the statistics of the values that PRECEDED it, so
    * a level shift is flagged on arrival, then absorbed. Rows within a
    * micro-batch are processed in (timestamp, value) order for
    * cross-run determinism. */
  def anomalyMonitor(
      points: Dataset[(String, Long, Double)],
      k: Double = 4.0): Dataset[Anomaly] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[WelfordState, Anomaly](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (space, rows, state: GroupState[WelfordState]) =>
          var st = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          val out = Seq.newBuilder[Anomaly]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (ts, v) =>
            val stddev =
              if (st.n > 1) math.sqrt(st.m2 / (st.n - 1)) else 0.0
            // stddev == 0 is a perfectly constant signal — ANY
            // departure from it is the clearest anomaly there is, not
            // a reason to stand down
            val flagged =
              if (stddev > 0) math.abs(v - st.mean) > k * stddev
              else v != st.mean
            if (st.n >= AnomalyWarmup && flagged)
              out += Anomaly(space, ts, v, st.mean, stddev, st.n)
            val n1 = st.n + 1
            val d = v - st.mean
            val mean1 = st.mean + d / n1
            st = WelfordState(n1, mean1, st.m2 + d * (v - mean1))
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class ArmWelford(n: Long, mean: Double, m2: Double)
  final case class AbState(a: ArmWelford, b: ArmWelford)
  final case class ExperimentStat(
      experiment: String,
      nA: Long,
      nB: Long,
      meanA: Double,
      meanB: Double,
      tStat: Double,
      df: Double)

  /** Streaming twin of the batch Welch guardrail
    * ([[graft.queries.StatsQueries.qWelchTtest]]): per experiment,
    * fold every (arm, value) observation into one Welford accumulator
    * PER ARM and emit the running Welch t and Welch–Satterthwaite df
    * after each micro-batch — the live "stop the experiment" monitor,
    * where the batch twin is the end-of-day readout. State is two
    * 24-byte accumulators per experiment — bounded, no timeout.
    * Emits once both arms have ≥2 observations. Rows within a
    * micro-batch fold in (seq, arm, value) order for cross-run
    * determinism (same rows, same state, same t). */
  def experimentMonitor(
      points: Dataset[(String, Long, Long, Double)])
      : Dataset[ExperimentStat] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[AbState, ExperimentStat](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (exp, rows, state: GroupState[AbState]) =>
          var st = state.getOption.getOrElse(
            AbState(ArmWelford(0L, 0.0, 0.0), ArmWelford(0L, 0.0, 0.0)))
          rows.toArray.sortBy(r => (r._3, r._2, r._4)).foreach { r =>
            val w = if (r._2 == 0L) st.a else st.b
            val n1 = w.n + 1
            val d = r._4 - w.mean
            val mean1 = w.mean + d / n1
            val w1 = ArmWelford(n1, mean1, w.m2 + d * (r._4 - mean1))
            st = if (r._2 == 0L) st.copy(a = w1) else st.copy(b = w1)
          }
          state.update(st)
          if (st.a.n > 1 && st.b.n > 1) {
            val va = st.a.m2 / (st.a.n - 1)
            val vb = st.b.m2 / (st.b.n - 1)
            val se2 = va / st.a.n + vb / st.b.n
            val t =
              if (se2 > 0) (st.a.mean - st.b.mean) / math.sqrt(se2) else 0.0
            val df =
              if (se2 > 0)
                se2 * se2 /
                  ((va / st.a.n) * (va / st.a.n) / (st.a.n - 1) +
                    (vb / st.b.n) * (vb / st.b.n) / (st.b.n - 1))
              else 0.0
            Iterator.single(
              ExperimentStat(exp, st.a.n, st.b.n, st.a.mean, st.b.mean, t, df))
          } else Iterator.empty
      }
  }

  final case class DriftHistState(
      base: Seq[Long],
      win: Seq[Long],
      nBase: Long,
      nWin: Long,
      nSeen: Long)
  final case class DriftScore(
      key: String,
      nSeen: Long,
      nBase: Long,
      nWindow: Long,
      psi: Double)

  /** Streaming twin of the batch drift family (`q_psi_drift`): per key,
    * freeze the first `baselineN` values into a fixed-width histogram,
    * then score every subsequent `windowN`-value window against that
    * baseline with the SAME Laplace-smoothed PSI the batch query
    * computes — the live "did the intake distribution shift" alarm,
    * emitted as soon as a window fills instead of at the next batch
    * audit. State is 2·`bins` longs + 3 counters per key — bounded, no
    * timeout needed (the batch twin's decile edges need a global sort;
    * a stream can't see the future, so the bin edges are fixed [lo, hi)
    * buckets — document the contract when retuning). PSI terms fold in
    * bin order → deterministic; rows within a micro-batch are processed
    * in (timestamp, value) order for cross-run determinism. */
  def driftMonitor(
      points: Dataset[(String, Long, Double)],
      lo: Double,
      hi: Double,
      bins: Int = 16,
      baselineN: Long = 64L,
      windowN: Long = 32L): Dataset[DriftScore] = {
    import points.sparkSession.implicits._
    require(bins > 0 && hi > lo && baselineN > 0 && windowN > 0)
    def bucketOf(v: Double): Int =
      math.min(bins - 1, math.max(0, ((v - lo) / (hi - lo) * bins).toInt))
    def psiOf(base: Array[Long], nBase: Long, win: Array[Long], nWin: Long): Double = {
      var acc = 0.0
      var i = 0
      while (i < bins) {
        val p = (win(i) + 1).toDouble / (nWin + bins).toDouble
        val q = (base(i) + 1).toDouble / (nBase + bins).toDouble
        acc += (p - q) * math.log(p / q)
        i += 1
      }
      acc
    }
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[DriftHistState, DriftScore](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[DriftHistState]) =>
          var st = state.getOption.getOrElse(
            DriftHistState(Seq.fill(bins)(0L), Seq.fill(bins)(0L), 0L, 0L, 0L))
          val base = st.base.toArray
          val win = st.win.toArray
          var (nBase, nWin, nSeen) = (st.nBase, st.nWin, st.nSeen)
          val out = Seq.newBuilder[DriftScore]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (_, v) =>
            nSeen += 1
            val b = bucketOf(v)
            if (nBase < baselineN) { base(b) += 1; nBase += 1 }
            else {
              win(b) += 1; nWin += 1
              if (nWin == windowN) {
                out += DriftScore(key, nSeen, nBase, nWin, psiOf(base, nBase, win, nWin))
                java.util.Arrays.fill(win, 0L)
                nWin = 0
              }
            }
          }
          state.update(DriftHistState(base.toSeq, win.toSeq, nBase, nWin, nSeen))
          out.result().iterator
      }
  }

  final case class HhState(items: Seq[String], counts: Seq[Long], decr: Long, n: Long)
  final case class HhEntry(item: String, countLo: Long, countHi: Long)
  final case class HeavyHittersReport(key: String, nSeen: Long, top: Seq[HhEntry])

  /** Streaming twin of the batch `graft_topk` Misra–Gries aggregate
    * (`q_heavy_hitters`): per key, an MG(k) summary maintained across
    * micro-batches — ≤ k counters + one decrement total per key, the
    * bounded-state answer to "top items by frequency" on an unbounded
    * stream whose key space is too large to aggregate exactly. After
    * each micro-batch that touched a key, the current report is emitted
    * (item, count_lo, count_hi) sorted by (count_lo desc, item); the MG
    * guarantees carry over verbatim: count_lo ≤ true ≤ count_hi, and
    * any item with true frequency > n/(k+1) is present. Rows within a
    * micro-batch are processed in item order for cross-run
    * determinism. */
  def heavyHittersMonitor(
      items: Dataset[(String, String)],
      k: Int = 8): Dataset[HeavyHittersReport] = {
    import items.sparkSession.implicits._
    import graft.functions.expressions.MgSummary
    require(k > 0)
    items
      .groupByKey(_._1)
      .flatMapGroupsWithState[HhState, HeavyHittersReport](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[HhState]) =>
          val st = state.getOption.getOrElse(HhState(Nil, Nil, 0L, 0L))
          val mg = new MgSummary(k)
          st.items.zip(st.counts).foreach { case (i, c) => mg.counts.update(i, c) }
          mg.decr = st.decr
          var n = st.n
          rows.map(_._2).toArray.sorted.foreach { item =>
            mg.update(item); n += 1
          }
          val entries = mg.counts.toSeq
          state.update(HhState(entries.map(_._1), entries.map(_._2), mg.decr, n))
          val top = entries
            .map { case (i, c) => HhEntry(i, c, c + mg.decr) }
            .sortBy(e => (-e.countLo, e.item))
          Iterator.single(HeavyHittersReport(key, n, top))
      }
  }

  final case class KmvState(hashes: Seq[Long], n: Long)
  final case class KmvEstimate(
      key: String,
      nSeen: Long,
      nSketch: Int,
      estimate: Double)

  /** Streaming KMV distinct-count sketch per key — the live twin of
    * [[graft.queries.OlapQueries.qKmvSketch]]. State per key is the k
    * smallest DISTINCT 60-bit hashes of the values seen so far (≤ k
    * longs — bounded, mergeable, and ORDER-INSENSITIVE: any arrival
    * order, micro-batch split, or checkpoint restart yields the same
    * sketch, so stream/batch parity is exact rather than
    * approximate-on-approximate; the hash family is the same
    * engine-portable md5-60-bit one, via
    * [[graft.functions.Hashing.md5LongJvm]]). After each micro-batch
    * touching a key the monitor emits the running estimate
    * n̂ = (k−1)·2⁶⁰/h₍k₎ — exact while the seen universe is below k. */
  def kmvMonitor(
      items: Dataset[(String, String)],
      k: Int = 256): Dataset[KmvEstimate] = {
    import items.sparkSession.implicits._
    require(k > 0)
    val hashSpace = 1152921504606846976.0d // 2^60
    items
      .groupByKey(_._1)
      .flatMapGroupsWithState[KmvState, KmvEstimate](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[KmvState]) =>
          val st = state.getOption.getOrElse(KmvState(Nil, 0L))
          var set = scala.collection.immutable.TreeSet.empty[Long] ++ st.hashes
          var n = st.n
          rows.foreach { t =>
            n += 1
            val h = graft.functions.Hashing.md5LongJvm(t._2)
            if (set.size < k) set += h
            else if (h < set.max && !set.contains(h)) set = set - set.max + h
          }
          state.update(KmvState(set.toSeq, n))
          val est =
            if (set.size < k) set.size.toDouble
            else (k - 1).toDouble * hashSpace / set.max.toDouble
          Iterator.single(KmvEstimate(key, n, set.size, est))
      }
  }

  final case class PatternState(aUs: Long, bUs: Long, done: Boolean)
  final case class PatternMatch(key: String, aUs: Long, bUs: Long, cUs: Long)

  /** Streaming CEP pattern detector — the live twin of the batch
    * time-constrained funnel
    * ([[graft.queries.OlapQueries.qFunnelWindow]]): per key, match
    * stepA → stepB → stepC where each next step arrives within
    * `withinUs` of the matched previous one, earliest-completion
    * semantics (the FIRST stepA anchors; the first qualifying stepB
    * after it; the first qualifying stepC completes). At most one
    * [[PatternMatch]] is emitted per key, then the key is done — state
    * is 17 bytes per key, no timeout needed.
    *
    * Rows within a micro-batch are processed in (timestamp, step)
    * order for cross-run determinism; on ORDERED delivery the match
    * set is exactly the batch query's completion set (spec-asserted).
    * A stepA that arrives in a later micro-batch than a smaller-
    * timestamped stepB cannot retro-anchor — the arrival-order caveat
    * every bounded-state CEP engine shares. */
  def patternMonitor(
      steps: Dataset[(String, Long, String)],
      stepA: String = "view",
      stepB: String = "click",
      stepC: String = "purchase",
      withinUs: Long = 3600000000L): Dataset[PatternMatch] = {
    import steps.sparkSession.implicits._
    val unset = Long.MinValue
    steps
      .groupByKey(_._1)
      .flatMapGroupsWithState[PatternState, PatternMatch](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[PatternState]) =>
          var st = state.getOption.getOrElse(PatternState(unset, unset, false))
          val out = Seq.newBuilder[PatternMatch]
          rows.map(r => (r._2, r._3)).toArray.sorted.foreach { case (ts, step) =>
            if (!st.done) {
              if (step == stepA && st.aUs == unset)
                st = st.copy(aUs = ts)
              else if (step == stepB && st.bUs == unset && st.aUs != unset &&
                ts > st.aUs && ts - st.aUs <= withinUs)
                st = st.copy(bUs = ts)
              else if (step == stepC && st.bUs != unset &&
                ts > st.bUs && ts - st.bUs <= withinUs) {
                out += PatternMatch(key, st.aUs, st.bUs, ts)
                st = st.copy(done = true)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class SeqPatternState(
      mn: Map[String, Long],
      tab: Map[String, Long],
      emitted: Seq[String])
  final case class SeqPatternHit(user_id: Long, kind: String, pattern: String)

  /** Streaming gap-allowed sequential-pattern detection — the live twin
    * of [[graft.queries.OlapQueries.qSeqPatterns]]: per user, emit each
    * length-2/3 type pattern `a>b(>c)` the FIRST time the user's stream
    * contains it as a subsequence (strictly increasing timestamps, other
    * types free to fall in between). Support counts are then one
    * downstream `count(distinct user)` per pattern — the batch query's
    * numbers, maintained incrementally.
    *
    * State per user is ALPHABET-bounded, never stream-bounded: per-type
    * first-seen timestamps (≤ |types|; the batch algebra's max side is
    * not needed live — a triple closes the moment its c arrives), the
    * earliest-b-after-first-a witness map (≤ |types|²), and the
    * emitted-pattern set (≤ |types|² + |types|³) — the same min/max +
    * greedy-witness algebra the batch query runs, carried as state
    * instead of re-derived. Rows within a
    * micro-batch are processed in (timestamp, type) order for cross-run
    * determinism; on ORDERED per-user delivery the union of emissions
    * over ANY micro-batch split equals the batch query's supported
    * (user, pattern) set exactly (spec-asserted) — a late-arriving
    * out-of-order event shares the bounded-state CEP caveat
    * [[patternMonitor]] documents (a witness before the retained
    * min/max frontier cannot retro-form). */
  def seqPatternMonitor(
      events: Dataset[(Long, String, Long)]): Dataset[SeqPatternHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SeqPatternState, SeqPatternHit](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SeqPatternState]) =>
          val st = state.getOption.getOrElse(
            SeqPatternState(Map.empty, Map.empty, Nil))
          var mn = st.mn
          var tab = st.tab
          val emitted = scala.collection.mutable.Set[String](st.emitted: _*)
          val out = Seq.newBuilder[SeqPatternHit]
          def emit(kind: String, pattern: String): Unit =
            if (emitted.add(pattern)) out += SeqPatternHit(user, kind, pattern)
          rows.map(r => (r._3, r._2)).toArray.sorted.foreach { case (ts, t) =>
            // this event as the closing c of a>b>c: any witness pair
            // whose earliest-b sits strictly before it
            tab.foreach { case (pair, tAb) =>
              if (tAb < ts) emit("triple", s"$pair>$t")
            }
            // this event as the closing b of a>b: any type first seen
            // strictly before it; the first such b IS the greedy
            // witness (in-order processing), recorded once
            mn.foreach { case (a, mnA) =>
              if (mnA < ts) {
                val pair = s"$a>$t"
                emit("pair", pair)
                if (!tab.contains(pair)) tab = tab.updated(pair, ts)
              }
            }
            if (!mn.contains(t)) mn = mn.updated(t, ts)
          }
          state.update(SeqPatternState(mn, tab, emitted.toSeq))
          out.result().iterator
      }
  }

  final case class DebounceState(lastKeptUs: Long)

  /** True (kept-based) debounce: per key, emit an event only if it
    * arrives more than `gapUs` after the last EMITTED event of that key
    * — so a continuous burst collapses to its first event no matter how
    * long it lasts. This is a sequential recurrence over the kept
    * sequence, which batch SQL cannot express as a window (the batch
    * [[graft.queries.OlapQueries.qDebounce]] uses the
    * previous-occurrence rule instead); per-key streaming state makes
    * it one comparison per event with 8 bytes of state per key. Rows
    * within a micro-batch are processed in timestamp order for
    * cross-run determinism. */
  def debounce(
      events: Dataset[(String, Long)],
      gapUs: Long): Dataset[(String, Long)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[DebounceState, (String, Long)](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[DebounceState]) =>
          var last = state.getOption.map(_.lastKeptUs).getOrElse(Long.MinValue)
          val kept = Seq.newBuilder[(String, Long)]
          rows.map(_._2).toArray.sorted.foreach { ts =>
            if (last == Long.MinValue || ts - last > gapUs) {
              kept += ((key, ts))
              last = ts
            }
          }
          state.update(DebounceState(last))
          kept.result().iterator
      }
  }

  /** Stream-static enrichment join: each micro-batch of entries joined
    * to a small static dimension table. The static side is explicitly
    * broadcast — the stream side never shuffles and the join holds NO
    * streaming state (unlike [[correlate]], there is nothing to
    * watermark: the static side is re-planned per batch, so dimension
    * updates between batches are picked up for free). */
  def enrich(
      entries: DataFrame,
      dim: DataFrame,
      key: String = "space"): DataFrame =
    entries.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: correlate the entries of two spaces
    * on `segment`, pairing each left entry with right entries whose
    * event time falls within `[left - within, left + within]`. Both
    * sides carry watermarks so Spark bounds the join state (the
    * streaming analog of the batch as-of/range join). */
  def correlate(
      left: DataFrame,
      right: DataFrame,
      within: String = "30 minutes",
      watermark: String = "1 minute"): DataFrame = {
    val l = left
      .withColumn("l_time", timestamp_micros(col("timestamp")))
      .withWatermark("l_time", watermark)
      .select(
        col("space").as("l_space"),
        col("segment"),
        col("sequence").as("l_sequence"),
        col("l_time"),
        col("payload").as("l_payload"))
    val r = right
      .withColumn("r_time", timestamp_micros(col("timestamp")))
      .withWatermark("r_time", watermark)
      .select(
        col("space").as("r_space"),
        col("segment").as("r_segment"),
        col("sequence").as("r_sequence"),
        col("r_time"),
        col("payload").as("r_payload"))
    l.join(
      r,
      col("segment") === col("r_segment") &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $within") &&
        col("r_time") <= col("l_time") + expr(s"INTERVAL $within"))
      .drop("r_segment")
  }

  /** Event-time sessionization with a gap timeout — the streaming twin
    * of the batch gap-sessionize operator, on Spark's native
    * `session_window` (state merges adjacent windows and closes a
    * session `gap` after its last event, bounded by the watermark). */
  def sessionWindows(
      entries: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 minute"): DataFrame =
    entries
      .withColumn("event_time", timestamp_micros(col("timestamp")))
      .withWatermark("event_time", watermark)
      .groupBy(
        session_window(col("event_time"), gap),
        col("space"),
        col("segment"))
      .agg(count(lit(1)).as("n_entries"))
      .select(
        col("space"),
        col("segment"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_entries"))

  final case class ConsumerOffset(
      space: String,
      segment: String,
      timestamp: Long,
      sequence: Long)

  /** Continuously-maintained consumer resume positions (the reference's
    * ConsumerContext offset map, consumer_context.go): per (space,
    * segment), the highest `(timestamp, sequence)` consumed so far.
    * State is one offset per segment; each micro-batch emits the updated
    * position (use OutputMode.Update). Feeding a stored position into
    * [[graft.operators.EventOps.consumeSpaceFromOffset]] resumes the
    * scan exactly after the last consumed entry. */
  def consumerProgress(entries: Dataset[InEntry]): Dataset[ConsumerOffset] = {
    import entries.sparkSession.implicits._
    entries
      .groupByKey(e => (e.space, e.segment))
      .mapGroupsWithState[ConsumerOffset, ConsumerOffset](
        GroupStateTimeout.NoTimeout()) {
        case ((space, segment), rows, state: GroupState[ConsumerOffset]) =>
          var cur = state.getOption
            .getOrElse(ConsumerOffset(space, segment, 0L, 0L))
          rows.foreach { e =>
            if (e.timestamp > cur.timestamp ||
              (e.timestamp == cur.timestamp && e.sequence > cur.sequence))
              cur = ConsumerOffset(space, segment, e.timestamp, e.sequence)
          }
          state.update(cur)
          cur
      }
  }

  /** Streaming exact dedup: drop re-deliveries with the same content
    * digest within the watermark horizon. State is one digest per unique
    * payload, evicted as the watermark advances — bounded, unlike a
    * naive `dropDuplicates` whose state grows forever. */
  def dedupStream(
      entries: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    entries
      .withColumn("event_time", timestamp_micros(col("timestamp")))
      .withColumn("content_hash", md5(col("payload")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("event_time", "content_hash")

  /** Streaming corpus preparation — the streaming twin of
    * [[graft.pipeline.TrainingPipeline.prepare]] for live document
    * ingest: PII-scrub ([[graft.functions.TextScrub.scrub]]), score
    * with the SAME literal-weight model as the batch `q_quality_model`
    * ([[graft.functions.TextFns.qualityScore]] — one definition, no
    * drift), drop failing docs, and exact-dedup the scrubbed content
    * within the watermark horizon.
    *
    * Normalize + scrub + score are stateless per-row projections (they
    * fuse into the micro-batch scan); the only state is the dedup's one
    * digest per unique content, watermark-evicted. Input:
    * `(doc_id, text, event_time timestamp)`; output is
    * `(doc_id, event_time, clean_text, score)` — the raw `text` is
    * dropped (the scrubbed form is the one a downstream pipeline may
    * keep). */
  def prepareStream(
      docs: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val scored = docs
      // fix-encoding first (NFC + control collapse, no-copy on clean
      // rows), THEN the PII scrub — the scrub's regexes assume
      // canonical composition and real spaces
      .withColumn(
        "clean_text",
        graft.functions.TextScrub.scrub(NormalizeText.of(col("text"))))
      .withColumn("t", Tokens.of(col("clean_text")))
      .withColumn(
        "score",
        graft.functions.TextFns.qualityScore(
          size(col("t")).cast("long"),
          round(graft.functions.TextFns.stopwordRatioFrom(col("t")), 6),
          round(graft.functions.TextFns.distinctTokenRatioFrom(col("t")), 6),
          round(graft.functions.TextFns.punctRatio(col("clean_text")), 6)))
      .filter(col("score") >= graft.functions.TextFns.QualityThreshold)
    scored
      .withColumn("content_hash", md5(col("clean_text")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select("doc_id", "event_time", "clean_text", "score")
  }

  /** Live NEAR-dup corpus ingest — [[prepareStream]] completed with the
    * incremental near-dup stage the batch pipeline has always had
    * ([[graft.pipeline.TrainingPipeline.prepare]] stage 3): without it,
    * a streamed near-duplicate of an ARCHIVED doc (re-crawl with a
    * tweaked boilerplate line, syndicated copy) sails straight through
    * exact content-hash dedup into the corpus.
    *
    * Per micro-batch (after prepareStream's scrub/score/exact-dedup):
    *
    *  1. batch-internal near-dups collapse to their canonical min-id doc
    *     ([[graft.dedup.Dedup.minhashLsh]] over the batch — batch-sized,
    *     never corpus-sized — then clusters → keep-one);
    *  2. survivors probe the ARCHIVE by the row-64 contract
    *     ([[graft.dedup.Dedup.minhashLshAgainstTables]]): the batch's
    *     banded signatures BROADCAST against the archive's persisted
    *     band table — batch × corpus, never corpus × corpus, and the
    *     archived docs are never re-shingled (the band/shingle tables
    *     are part of the archive, appended as it grows);
    *  3. kept docs append to `archive/docs`, and their shingle + band
    *     rows append to `archive/shingles` / `archive/bands` — so the
    *     NEXT batch probes an archive that already knows this one.
    *
    * Exactly-once: the three tiers go through the staged publish of
    * [[graft.log.LogFs.exactlyOnce]] (staging under `_neardup_staging/`,
    * markers in `_neardup_commits/`). A replay re-runs the near-dup
    * decisions after the sweep has removed the batch's own rows, and
    * the decisions are deterministic given the archive state, so a
    * replayed batch reproduces them exactly. `sinkId` namespaces the
    * idempotence state — the (sinkId, checkpoint) reuse contract is
    * [[appendSink]]'s.
    *
    * Archive layout: `docs/` `(doc_id, event_time, clean_text, score)`,
    * `shingles/` `(doc_id, s)`, `bands/` `(doc_id, band_id,
    * band_hash)`. Scale: batch bands broadcast (a micro-batch is small
    * by nature); the archive band probe is one bucket equi-join;
    * verify traffic prunes to candidate archive docs. Reference:
    * fgrzl/streams has no dedup tier — this is the training-data
    * surface (SURVEY §2c row 82's live pipeline completed with row
    * 64's incremental contract). */
  def nearDupIngest(
      docs: DataFrame,
      archive: String,
      checkpoint: String,
      sinkId: String = "neardup0",
      watermark: String = "10 minutes",
      k: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery = {
    LogFs.requireId("sinkId", sinkId)
    import graft.dedup.Dedup
    prepareStream(docs, watermark).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val fs = LogFs.fs(session, archive)
        if (!batch.isEmpty)
          LogFs.exactlyOnce(
            fs, archive, s"$archive/_neardup_commits", s"$archive/_neardup_staging",
            sinkId, batchId) { staging =>
            // 1. batch-internal near-dup keep-one (batch-sized work)
            val clusters = Dedup.duplicateClusters(
              Dedup.minhashLsh(
                batch, "doc_id", "clean_text", k, numHashes, bands, threshold))
            val internal = Dedup.keepCanonical(batch, clusters)

            // 2. survivors vs the archive: batch bands broadcast against
            // the persisted corpus band table (row-64 contract); a replay
            // of the first batch can find the band dir swept empty
            // cut: actions — the archive probe and the staged shingle write read it
            val shSurv = graft.operators.Materialize.cut(
              Dedup.shingled(internal, "doc_id", "clean_text", k))
            val kept =
              if (LogFs.listParquet(fs, s"$archive/bands").nonEmpty) {
                val dupIds = Dedup
                  .minhashLshAgainstTables(
                    shSurv,
                    session.read.parquet(s"$archive/bands"),
                    session.read.parquet(s"$archive/shingles"),
                    "doc_id", numHashes, bands, threshold)
                  .select(col("new_id").as("doc_id"))
                  .distinct()
                internal.join(dupIds, Seq("doc_id"), "left_anti")
              } else internal

            // 3. stage docs + their shingle/band rows
            // cut: pin — kept reads the archive dirs a publish then rewrites
            val keptCut = graft.operators.Materialize.cut(kept)
            // cut: actions — the shingle and band writes read it
            val shKept = graft.operators.Materialize.cut(
              shSurv.join(keptCut.select("doc_id"), Seq("doc_id"), "left_semi"))
            keptCut.write.mode("overwrite").parquet(s"$staging/docs")
            shKept.write.mode("overwrite").parquet(s"$staging/shingles")
            Dedup
              .bandTable(shKept, "doc_id", numHashes, bands)
              .write.mode("overwrite").parquet(s"$staging/bands")
          }
        ()
      }
      .start()
  }

  /** Live subscription to a stored [[EventLog]]: a streaming DataFrame
    * of entries as they are committed (file-based tailing of the
    * space-partitioned log directory — the reference's
    * SubscribeToSpace/Segment push model re-expressed as a readStream;
    * feed it into [[segmentStatuses]] for the notification feed, or
    * filter by space/segment for a scoped subscription).
    *
    * File-tailing caveat: `EventLog.compact`/`retain` REWRITE a
    * space's files, which a file source sees as brand-new input — a
    * live follower would re-receive the whole space (and can hit a
    * deleted original mid-trigger). Run lifecycle rewrites on spaces
    * no follower is tailing (pause/restart the follower around them),
    * or give downstream consumers a content-keyed dedup
    * ([[dedupStream]]) if rewrites under a live tail are required. */
  def follow(spark: SparkSession, log: EventLog): DataFrame = {
    import org.apache.spark.sql.Encoders
    val dataDir = s"${log.path}/data"
    spark.readStream
      .schema(Encoders.product[graft.model.Entry].schema)
      .option("basePath", dataDir)
      .parquet(dataDir)
  }

  /** Produce pipeline: append each micro-batch of entry rows to the
    * parquet-backed log (partitioned by space, same layout as
    * [[EventLog]]). Returns a started query writing to `log.path/data`.
    *
    * foreachBatch is at-least-once — after a failure Structured
    * Streaming replays the last micro-batch — so the write goes through
    * the exactly-once staged publish of [[graft.log.LogFs.exactlyOnce]]
    * (staging under `log.path/stream-staging/`, markers in
    * `log.path/stream-commits/`): each micro-batch lands in the log
    * exactly once, preserving the per-segment contiguous-sequence
    * invariant produce/peek rely on. The log's peek cache is dropped
    * around the publish, which bypasses `EventLog.produce`.
    *
    * `sinkId` namespaces the idempotence state: batchIds restart at 0
    * for every new checkpoint, so WITHOUT a distinct sinkId a second
    * pipeline pointed at the same log would see the first pipeline's
    * markers and silently discard its own early batches as "replays".
    * Contract: a restart of the same logical pipeline reuses the same
    * (sinkId, checkpoint) pair; a NEW pipeline gets a new sinkId. */
  def appendSink(
      entries: DataFrame,
      log: EventLog,
      checkpoint: String,
      sinkId: String = "sink0"): org.apache.spark.sql.streaming.StreamingQuery = {
    LogFs.requireId("sinkId", sinkId)
    entries.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        LogFs.exactlyOnce(
          log.hfs, s"${log.path}/data", s"${log.path}/stream-commits",
          s"${log.path}/stream-staging", sinkId, batchId) { staging =>
          // invalidate BEFORE publishing, not only after: a crash
          // mid-publish leaves visible files, and a cache entry from
          // before this batch would under-report the high-water mark
          log.invalidateCache()
          batch.write.mode("overwrite").partitionBy("space").parquet(staging)
        }
        // published outside EventLog.produce → its peek cache is stale
        log.invalidateCache()
      }
      .start()
  }

  /** Live vector-ingest sink for a persisted IVF-PQ index
    * ([[graft.similarity.Ann.ivfPqBuild]]'s layout; a plain
    * [[graft.similarity.Ann.ivfBuild]] index works too): every
    * micro-batch of `(neighbor_id, c_v)` vectors lands through the
    * STORED quantizer (+ codebook) and runs the hot-cell maintenance
    * fence in the same call — the self-balancing serving-index loop as
    * a Structured Streaming sink (the recommender shape: embeddings
    * stream in, probes never retrain, skew never accumulates).
    *
    * Exactly-once: the index tiers go through the staged publish of
    * [[graft.log.LogFs.exactlyOnce]] (staged under `_ingest_staging/`
    * by [[graft.similarity.Ann.ivfAppend]]'s stager, markers in
    * `_ingest_commits/`), so each vector lands in each tier exactly
    * once through any crash window. Maintenance
    * ([[graft.similarity.Ann.ivfAppendMaintained]]'s rebalance loop)
    * runs AFTER the commit point (a crash between marker and
    * maintenance just defers the rebalance to the next batch's fence
    * check; [[graft.similarity.Ann.ivfRecover]] keeps the index
    * consistent through any maintenance crash). `sinkId` namespaces
    * markers and staging — the (sinkId, checkpoint) reuse contract is
    * [[appendSink]]'s.
    *
    * Codebook drift is the operator's axis: sample batches through
    * [[graft.similarity.Ann.ivfPqStaleness]] and retrain past
    * [[graft.similarity.Ann.IvfPqRetrainFence]]; watch the quantizer
    * axis with [[graft.similarity.Ann.ivfQuantizerStaleness]]. */
  def ivfPqIngest(
      vectors: DataFrame,
      path: String,
      checkpoint: String,
      sinkId: String = "ivfpq0",
      fence: Double = 2.0,
      splitInto: Int = 0,
      iters: Int = 2,
      maxRounds: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    LogFs.requireId("sinkId", sinkId)
    import graft.similarity.Ann
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val fs = LogFs.fs(session, path)
        val committed = !batch.isEmpty &&
          LogFs.exactlyOnce(
            fs, path, s"$path/_ingest_commits", s"$path/_ingest_staging",
            sinkId, batchId) { staging =>
            Ann.ivfStage(session, Ann.withNorm(batch, "c_v", "c_nrm"), path, staging)
          }
        // maintenance after the commit point — the self-balancing loop
        if (committed) Ann.ivfRebalance(session, path, fence, splitInto, iters, maxRounds)
        ()
      }
      .start()
  }

  /** Commit markers each streaming sink ([[appendSink]],
    * [[nearDupIngest]], [[ivfPqIngest]]) retains behind its latest
    * batch — far more than any restart can replay (replay reaches back
    * only to the checkpoint's last uncommitted batch), small enough
    * that the marker listing stays a trivial metadata op forever. */
  val IngestMarkerKeep = 1000L
}
