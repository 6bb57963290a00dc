package graft

import org.apache.spark.sql.functions._

import graft.queries.OlapQueries

/** Behavioral checks for OLAP queries whose driver oracle runs on the
  * full synthetic tables — crafted inputs here pin the exact semantics.
  */
class OlapSpec extends SparkSpec {

  import spark.implicits._

  test("seq patterns: min/max algebra matches a brute-force subsequence scan") {
    // ground truth: per user, literal gap-allowed subsequence containment
    // with STRICTLY increasing timestamps (the documented semantics)
    val ev = graft.sources.Tables
      .events(spark, SfDir)
      .select("user_id", "event_type", "ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(t => (t._2, t._3)).sortBy(_._2)
    }
    val types = ev.map(_._2).distinct.sorted
    def hasPair(seq: Array[(String, Long)], a: String, b: String): Boolean =
      seq.exists { case (ta, tsa) =>
        ta == a && seq.exists { case (tb, tsb) => tb == b && tsb > tsa }
      }
    def hasTriple(seq: Array[(String, Long)], a: String, b: String, c: String): Boolean =
      seq.exists { case (ta, tsa) =>
        ta == a && seq.exists { case (tb, tsb) =>
          tb == b && tsb > tsa && seq.exists { case (tc, tsc) => tc == c && tsc > tsb }
        }
      }
    val expected = (for {
      a <- types; b <- types
      n = byUser.count { case (_, s) => hasPair(s, a, b) } if n > 0
    } yield (s"pair", s"$a>$b", n.toLong)).toSet ++ (for {
      a <- types; b <- types; c <- types
      n = byUser.count { case (_, s) => hasTriple(s, a, b, c) } if n > 0
    } yield (s"triple", s"$a>$b>$c", n.toLong)).toSet
    val got = OlapQueries
      .qSeqPatterns(spark, SfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == expected, s"missing: ${expected diff got}; extra: ${got diff expected}")
  }

  test("mix-shift bridge: the three effects reconstruct delta per segment") {
    graft.queries.StatsQueries
      .qMixShift(spark, SfDir)
      .collect()
      .foreach { r =>
        val delta = r.getDouble(r.fieldIndex("delta"))
        val sum = r.getDouble(r.fieldIndex("volume_effect")) +
          r.getDouble(r.fieldIndex("rate_effect")) +
          r.getDouble(r.fieldIndex("joint_effect"))
        // effects are floor6-rounded: the identity holds to ~3 ulps of 1e-6
        assert(
          math.abs(delta - sum) < 1e-4,
          s"${r.getString(0)}: delta $delta vs effect sum $sum")
      }
  }

  test("entry/exit report: totals balance and bounces bound entries") {
    val rows = OlapQueries.qEntryExit(spark, SfDir).collect()
    val entries = rows.map(_.getLong(1)).sum
    val exits = rows.map(_.getLong(2)).sum
    // every session has exactly one entry and one exit
    assert(entries == exits && entries > 0)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), s"bounces exceed entries in $r")
    }
  }

  test("cohort retention matrix on crafted events") {
    val dir = tempDir("graft-ret").toString
    Seq(
      // user 1: cohort Jan 1, returns day+1 and day+3
      (1L, "2024-01-01 10:00:00"),
      (1L, "2024-01-02 09:00:00"),
      (1L, "2024-01-04 23:59:59"),
      // user 2: cohort Jan 2, two events on day 0 count once
      (2L, "2024-01-02 08:00:00"),
      (2L, "2024-01-02 20:00:00"),
      (2L, "2024-01-03 00:00:01"),
      // user 3: cohort Jan 1, returns day+1
      (3L, "2024-01-01 00:00:00"),
      (3L, "2024-01-02 12:00:00"))
      .toDF("user_id", "s")
      .select(col("user_id"), to_timestamp(col("s")).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val cells = OlapQueries
      .qRetention(spark, dir)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(cells == Map(
      ("2024-01-01", 0L) -> 2L, // users 1 and 3 on their first day
      ("2024-01-01", 1L) -> 2L, // both return the next day
      ("2024-01-01", 3L) -> 1L, // only user 1 at day+3
      ("2024-01-02", 0L) -> 1L, // user 2's double event counts once
      ("2024-01-02", 1L) -> 1L))
  }

  private def writeEvents(rows: Seq[(Long, Long, String, String, Double)]): String = {
    val dir = tempDir("graft-olap").toString
    rows
      .toDF("event_id", "user_id", "s", "event_type", "value")
      .select(
        col("event_id"),
        to_timestamp(col("s")).as("ts"),
        col("user_id"),
        col("event_type"),
        col("value"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("resample fills empty hours with the last observed value") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 00:10:00", "view", 5.0),
      (2L, 1L, "2024-01-01 00:50:00", "view", 7.0), // later in hour 0 wins
      (3L, 1L, "2024-01-01 03:30:00", "view", 9.0)))
    val rows = OlapQueries
      .qResample(spark, dir)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val hour0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val h = 3600L * 1000000L
    assert(rows.toSeq == Seq(
      (hour0, 2L, 7.0),        // two events; last by (ts, id) carries
      (hour0 + h, 0L, 7.0),    // empty hour forward-fills
      (hour0 + 2 * h, 0L, 7.0),
      (hour0 + 3 * h, 1L, 9.0)))
  }

  test("nearest event picks the closer view in either direction, ties to the earlier") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 00:01:40", "view", 0.0), // t=100s
      (2L, 1L, "2024-01-01 00:06:40", "view", 0.0), // t=400s
      (3L, 1L, "2024-01-01 00:02:30", "click", 0.0), // t=150: prev Δ50 < next Δ250
      (4L, 1L, "2024-01-01 00:06:30", "click", 0.0), // t=390: next Δ10 < prev Δ290
      (5L, 1L, "2024-01-01 00:04:10", "click", 0.0), // t=250: tie Δ150 → earlier view
      (6L, 2L, "2024-01-01 00:00:00", "click", 0.0))) // no view at all
    val rows = OlapQueries
      .qNearestEvent(spark, dir)
      .collect()
      .map(r =>
        r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))))
      .toMap
    assert(rows == Map(
      3L -> Some((1L, -50000000L)),
      4L -> Some((2L, 10000000L)),
      5L -> Some((1L, -150000000L)),
      6L -> None))
  }

  test("rolling count honors the trailing one-hour RANGE frame inclusively") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 00:00:00", "view", 0.0),
      (2L, 1L, "2024-01-01 00:30:00", "view", 0.0), // 0:00 still in range
      (3L, 1L, "2024-01-01 01:30:00", "view", 0.0), // 0:30 in, 0:00 out (> 1h)
      (4L, 2L, "2024-01-01 00:30:00", "view", 0.0))) // other user: own frame
    val counts = OlapQueries
      .qRollingCount(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(3))
      .toMap
    assert(counts == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("winsorize clamps to the exact percentile fences") {
    // 21 values: 0..19 plus one outlier 100 → p05 = 1, p95 = 19
    val dir = writeEvents(
      (0 to 19).map(i => (i.toLong, 1L, "2024-01-01 10:00:00", "view", i.toDouble)) :+
        (20L, 2L, "2024-01-01 10:00:00", "view", 100.0))
    val r = OlapQueries.qWinsorize(spark, dir).collect().head
    assert(r.getDouble(1) == 1.0) // p05
    assert(r.getDouble(2) == 19.0) // p95
    assert(r.getLong(3) == 1) // one value below the low fence
    assert(r.getLong(4) == 1) // the outlier above the high fence
    assert(r.getDouble(5) == 13.8095) // 290/21
    assert(r.getDouble(6) == 10.0) // 0→1, 100→19 ⇒ mean settles at 10
  }

  test("native session_window agrees with the portable gap definition") {
    // Spark's session_window is half-open (a gap of EXACTLY 30 min
    // starts a new session; the lag-based definition keeps it) — the
    // µs-resolution test data has no exact-boundary gap, so the two
    // must produce identical sessions on sf0.001
    val custom = graft.queries.OlapQueries
      .qSessionize(spark, SfDir)
      .select("user_id", "n_events", "session_start_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val native = graft.sources.Tables
      .events(spark, SfDir)
      .groupBy(
        col("user_id"),
        session_window(timestamp_micros(col("ts_us")), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min("ts_us").as("start_us"))
      .select("user_id", "n_events", "start_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(native == custom)
  }

  test("MAD shrugs off the outlier that inflates stddev") {
    // [1..7, 100]: median 4.5; |x−4.5| sorted → MAD (1.5+2.5)/2 = 2.0
    val dir = writeEvents(
      ((1 to 7).map(i => (i.toLong, 1L, "2024-01-01 10:00:00", "view", i.toDouble)) :+
        (8L, 2L, "2024-01-01 10:00:00", "view", 100.0)))
    val r = OlapQueries.qMad(spark, dir).collect().head
    assert(r.getLong(1) == 8)
    assert(r.getDouble(2) == 4.5)
    assert(r.getDouble(3) == 2.0)
  }

  test("key profile reports the skew stats of the group-size histogram") {
    val dir = writeEvents(
      (1 to 8).map(i => (i.toLong, 1L, "2024-01-01 10:00:00", "view", 0.0)) ++
        Seq(
          (9L, 2L, "2024-01-01 10:00:00", "view", 0.0),
          (10L, 3L, "2024-01-01 10:00:00", "view", 0.0)))
    val r = OlapQueries.qKeyProfile(spark, dir).collect().head
    assert(r.getLong(0) == 3) // n_keys
    assert(r.getLong(1) == 10) // n_rows
    assert(r.getLong(2) == 8) // max_cnt
    assert(r.getDouble(3) == 3.3333) // avg
    assert(r.getDouble(4) == 1.0) // p50 of [1,1,8]
    assert(r.getDouble(5) == 7.86) // p99: 1 + 0.98·(8−1)
    assert(r.getLong(6) == 1) // heaviest key
    assert(r.getDouble(7) == 2.4) // 8 / (10/3)
  }

  test("OHLC bars: open/close follow event order, extremes and volume per bucket") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 09:05:00", "trade", 10.0), // open of 09:00 bar
      (2L, 1L, "2024-01-01 09:20:00", "trade", 30.0), // high
      (3L, 1L, "2024-01-01 09:40:00", "trade", 5.0), // low
      (4L, 1L, "2024-01-01 09:55:00", "trade", 20.0), // close
      (5L, 1L, "2024-01-01 10:10:00", "trade", 7.0), // next bar, single event
      (6L, 1L, "2024-01-01 09:30:00", "view", 99.0))) // other type: own bar
    val bars = OlapQueries.qOhlcBars(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    val h9 = java.time.Instant.parse("2024-01-01T09:00:00Z").toEpochMilli * 1000
    val h10 = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000
    assert(bars((h9, "trade")) == ((10.0, 30.0, 5.0, 20.0, 4L)))
    assert(bars((h10, "trade")) == ((7.0, 7.0, 7.0, 7.0, 1L))) // single event: all four equal
    assert(bars((h9, "view")) == ((99.0, 99.0, 99.0, 99.0, 1L)))
  }

  test("new vs returning: a user is new only on their first active day") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 1L, "2024-01-02 10:00:00", "view", 0.0), // u1 returns
      (3L, 2L, "2024-01-02 10:00:00", "view", 0.0))) // u2 first seen day 2
    val rows = OlapQueries.qNewReturning(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(rows.map(_._2).toSeq == Seq((1L, 1L, 0L), (2L, 1L, 1L)))
  }

  test("stickiness: trailing-28d MAU accumulates, DAU/MAU ratio follows") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 2L, "2024-01-02 10:00:00", "view", 0.0)))
    val rows = OlapQueries.qStickiness(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // day1: dau 1 / mau 1; day2: dau 1 (u2) / mau 2 (u1 still in window)
    assert(rows.toSeq == Seq((1L, 1L, 1.0), (1L, 2L, 0.5)))
  }

  test("HHI: single-buyer segment scores 1.0, an even split scores 1/n") {
    val dir = tempDir("graft-olap").toString
    Seq(
      (1L, 10L, 100.0), // MONO: one customer
      (2L, 20L, 50.0), // DUO: two customers, even spend
      (3L, 21L, 50.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, "MONO"), (20L, "DUO"), (21L, "DUO"))
      .toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val rows = OlapQueries.qHhi(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows("MONO") == ((1L, 100.0, 1.0, 1.0)))
    assert(rows("DUO") == ((2L, 100.0, 0.5, 0.5)))
  }

  test("Holt tracks a perfectly linear daily series exactly") {
    // one event on day d has daily count 1; counts 1,2,3,4 via repeats
    val dir = writeEvents((1 to 4).flatMap(day =>
      (1 to day).map(i =>
        ((day * 10 + i).toLong, i.toLong,
         f"2024-01-0$day 10:00:00", "view", 0.0))))
    val r = OlapQueries.qHolt(spark, dir).collect().head
    // x = 1,2,3,4: l2=2, b2=1, then l follows x exactly and b stays 1
    assert(r.getLong(1) == 4L) // n_days
    assert(r.getDouble(2) == 4.0) // level = last count
    assert(r.getDouble(3) == 1.0) // trend = +1/day
    assert(r.getDouble(4) == 11.0) // forecast: 4 + 7·1
  }

  test("audience overlap counts distinct co-active users per type pair") {
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 10:00:00", "a", 0.0),
      (2L, 1L, "2024-01-01 11:00:00", "b", 0.0), // u1 does both
      (3L, 1L, "2024-01-01 12:00:00", "a", 0.0), // repeat must not double-count
      (4L, 2L, "2024-01-01 10:00:00", "a", 0.0),
      (5L, 3L, "2024-01-01 10:00:00", "b", 0.0)))
    val r = OlapQueries.qAudienceOverlap(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getString(0), row.getString(1)) == (("a", "b")))
    assert((row.getLong(2), row.getLong(3), row.getLong(4)) == ((2L, 2L, 1L)))
    assert(row.getDouble(5) == 0.333333) // jaccard 1/3
    assert(row.getDouble(6) == 0.5) // overlap coefficient
  }

  test("TWAP weights by holding time, drops the last observation") {
    val dir = writeEvents(Seq(
      // user 1: value 10 held 1h, value 100 held 3h, final 0 dropped
      (1L, 1L, "2024-01-01 00:00:00", "t", 10.0),
      (2L, 1L, "2024-01-01 01:00:00", "t", 100.0),
      (3L, 1L, "2024-01-01 04:00:00", "t", 0.0),
      // user 2: single event - no interval, no row
      (4L, 2L, "2024-01-01 00:00:00", "t", 5.0)))
    val rows = OlapQueries.qTwap(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // (10*1h + 100*3h) / 4h = 310/4 = 77.5 - NOT the plain avg 36.67
    assert(rows(1L) == ((2L, 4L * 3600L * 1000000L, 77.5)))
    assert(!rows.contains(2L))
  }

  test("time-constrained funnel: a late stage kills the chain") {
    val dir = writeEvents(Seq(
      // u1 completes: view 10:00 → click 10:30 → purchase 11:15
      (1L, 1L, "2024-01-01 10:00:00", "view", 0.0),
      (2L, 1L, "2024-01-01 10:30:00", "click", 0.0),
      (3L, 1L, "2024-01-01 11:15:00", "purchase", 0.0),
      // u2's click comes 2 h after the view — chain dies at stage 2,
      // and the purchase right after the late click must NOT count
      (4L, 2L, "2024-01-01 10:00:00", "view", 0.0),
      (5L, 2L, "2024-01-01 12:00:00", "click", 0.0),
      (6L, 2L, "2024-01-01 12:01:00", "purchase", 0.0),
      // u3 clicks in time but purchases 90 min later — dies at stage 3
      (7L, 3L, "2024-01-01 10:00:00", "view", 0.0),
      (8L, 3L, "2024-01-01 10:10:00", "click", 0.0),
      (9L, 3L, "2024-01-01 11:41:00", "purchase", 0.0),
      // u4 has a click with NO prior view — no chain at all
      (10L, 4L, "2024-01-01 10:00:00", "click", 0.0)))
    val rows = OlapQueries.qFunnelWindow(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map(
      "1_view" -> 3L, "2_click_1h" -> 2L, "3_purchase_1h" -> 1L))
  }

  test("funnel window uses the FIRST view as the anchor, not any view") {
    // view 09:00, view 10:50, click 10:55: earliest-completion semantics
    // anchor at 09:00, so the 10:55 click is out of window even though
    // the second view would admit it
    val dir = writeEvents(Seq(
      (1L, 1L, "2024-01-01 09:00:00", "view", 0.0),
      (2L, 1L, "2024-01-01 10:50:00", "view", 0.0),
      (3L, 1L, "2024-01-01 10:55:00", "click", 0.0)))
    val rows = OlapQueries.qFunnelWindow(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map(
      "1_view" -> 1L, "2_click_1h" -> 0L, "3_purchase_1h" -> 0L))
  }

  test("WoW growth: deltas and the trailing-4-week average") {
    val dir = tempDir("graft-olap").toString
    // weeks with revenue 100, 150, 150 (one missing week in between is
    // absent from the panel, not zero-filled — weeks are order weeks)
    Seq(
      (1L, 1L, "2024-01-01 00:00:00", 100.0),
      (2L, 1L, "2024-01-08 00:00:00", 150.0),
      (3L, 1L, "2024-01-15 00:00:00", 75.0),
      (4L, 1L, "2024-01-16 00:00:00", 75.0))
      .toDF("o_orderkey", "o_custkey", "s", "o_totalprice")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        to_timestamp(col("s")).as("o_orderdate"),
        col("o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val rows = OlapQueries.qWowGrowth(spark, dir).collect()
      .map(r =>
        (r.getLong(1), r.getDouble(2), Option(r.get(3)), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      (1L, 100.0, None, 100.0),
      (1L, 150.0, Some(0.5), 125.0),
      // ma4 of week 3 = (100+150+150)/3, rounded to 4 decimals
      (2L, 150.0, Some(0.0), 133.3333)))
  }

  test("cohort LTV accumulates per cohort and divides by cohort size") {
    val dir = tempDir("graft-olap").toString
    Seq(
      // cohort week 0: customers 1 and 2; week-1 repeat by customer 1
      (1L, 1L, "2024-01-01 00:00:00", 100.0),
      (2L, 2L, "2024-01-02 00:00:00", 50.0),
      (3L, 1L, "2024-01-08 00:00:00", 30.0),
      // cohort week 1: customer 3
      (4L, 3L, "2024-01-08 00:00:00", 10.0))
      .toDF("o_orderkey", "o_custkey", "s", "o_totalprice")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        to_timestamp(col("s")).as("o_orderdate"),
        col("o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val rows = OlapQueries.qCohortLtv(spark, dir).collect()
      .map(r =>
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))
    assert(rows.toSeq == Seq(
      (0L, 2L, 150.0, 150.0, 75.0),
      (1L, 2L, 30.0, 180.0, 90.0),
      (0L, 1L, 10.0, 10.0, 10.0)))
  }

  test("seasonal decompose: flat series has zero seasonal and residual") {
    // 14 days, exactly 2 events/day: trend = 2 wherever the 7-day
    // frame is full, detrended = 0 everywhere → seasonal = residual = 0
    val dir = writeEvents((0 until 14).flatMap(day =>
      Seq(
        ((day * 2).toLong, 1L, f"2024-01-${day + 1}%02d 10:00:00", "view", 0.0),
        ((day * 2 + 1).toLong, 2L, f"2024-01-${day + 1}%02d 11:00:00", "view", 0.0))))
    val rows = OlapQueries.qSeasonalDecompose(spark, dir).collect()
    assert(rows.length == 14)
    val full = rows.filter(r => !r.isNullAt(3))
    assert(full.length == 8) // days 4..11 have a full centered frame
    assert(full.forall(r => r.getDouble(3) == 2.0), "trend must equal the level")
    assert(rows.forall(r => r.getDouble(4) == 0.0), "flat series: no seasonality")
    assert(full.forall(r => r.getDouble(5) == 0.0), "flat series: no residual")
    // edge days: no trend, no residual, but dow seasonal still reported
    assert(rows.filter(r => r.isNullAt(3)).forall(r => r.isNullAt(5)))
  }

  test("seasonal decompose separates a weekly cycle from its level") {
    // 21 days: 1 event on all days, 8 on day-of-week of 2024-01-07
    // (a Sunday): the spike lands in the seasonal term, residual ~0 on
    // interior days whose frame holds exactly one spike
    val dir = writeEvents((0 until 21).flatMap { day =>
      val n = if (day % 7 == 6) 8 else 1
      (0 until n).map(i =>
        ((day * 10 + i).toLong, 1L,
          f"2024-01-${day + 1}%02d 10:00:00", "view", 0.0))
    })
    val rows = OlapQueries.qSeasonalDecompose(spark, dir).collect()
      .map(r => (r.getLong(1), Option(r.get(3)), r.getDouble(4)))
    // every full frame holds exactly one spike: trend = (6·1 + 8)/7 = 2
    assert(rows.collect { case (_, Some(t), _) => t }.forall(_ == 2.0))
    // spike dow carries +6 detrended, the rest −1 each: seasonal mean
    // is exactly det/7 per group since every interior frame is identical
    val bydow = rows.groupBy(_._1).map { case (k, v) => k -> v.head._3 }
    assert(bydow.values.count(_ > 5.0) == 1, s"one spiked dow: $bydow")
    assert(bydow.values.count(_ < 0.0) == 6)
  }

  test("stl anomaly ranks the seasonally-unexplained spike first") {
    // 21 flat days of 2 events, one day at 9 (a genuine anomaly; no
    // weekly pattern exists, so the whole deviation is residual)
    val dir = writeEvents((0 until 21).flatMap { day =>
      val n = if (day == 10) 9 else 2
      (0 until n).map(i =>
        ((day * 10 + i).toLong, 1L,
          f"2024-01-${day + 1}%02d 10:00:00", "view", 0.0))
    })
    val rows = OlapQueries.qStlAnomaly(spark, dir).collect()
    assert(rows.length == 5)
    val top = rows.head
    assert(top.getLong(0) == 1L)
    assert(top.getLong(3) == 9L, s"the spike day must rank first: $top")
    assert(top.getDouble(6) > 0.0)
  }

  test("top supplier: argmax on exact integer revenue, ties both kept") {
    val dir = tempDir("graft-olap").toString
    Seq(
      // suppliers 1 and 2 tie at 200.00 net; supplier 3 trails
      (1L, 1L, 100.0, 0.0, "1996-02-01 00:00:00"),
      (2L, 1L, 200.0, 0.5, "1996-02-01 00:00:00"),
      (3L, 2L, 200.0, 0.0, "1996-02-01 00:00:00"),
      (4L, 3L, 100.0, 0.5, "1996-02-01 00:00:00"),
      // outside the quarter: must not count
      (5L, 3L, 999.0, 0.0, "1996-06-01 00:00:00"))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "s")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"), to_timestamp(col("s")).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "Supp#1"), (2L, "Supp#2"), (3L, "Supp#3"))
      .toDF("s_suppkey", "s_name")
      .write.parquet(s"$dir/supplier.parquet")
    val rows = OlapQueries.qTopSupplier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 200.0), (2L, 200.0)))
  }

  test("waiting suppliers: only the sole late shipper of a multi-supplier order") {
    val dir = tempDir("graft-olap").toString
    // order 1: suppliers 1 (late) and 2 (on time) -> supplier 1 waits it
    // order 2: suppliers 1 and 2 BOTH late -> nobody counted
    // order 3: supplier 1 alone and late -> single-supplier, not counted
    Seq(
      (1L, 1L, "2024-05-01 00:00:00"), (1L, 2L, "2024-01-05 00:00:00"),
      (2L, 1L, "2024-05-01 00:00:00"), (2L, 2L, "2024-05-01 00:00:00"),
      (3L, 1L, "2024-05-01 00:00:00"))
      .toDF("l_orderkey", "l_suppkey", "s")
      .select(col("l_orderkey"), col("l_suppkey"),
        to_timestamp(col("s")).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:00:00"),
      (3L, "2024-01-01 00:00:00"))
      .toDF("o_orderkey", "s")
      .select(col("o_orderkey"), to_timestamp(col("s")).as("o_orderdate"))
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, "Supp#1"), (2L, "Supp#2"))
      .toDF("s_suppkey", "s_name")
      .write.parquet(s"$dir/supplier.parquet")
    val rows = OlapQueries.qWaitingSuppliers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 1L)))
  }

  test("bootstrap CI brackets the point estimate, zero-width on constant data") {
    val dir = tempDir("graft-olap").toString
    (1 to 30).map(i => (i.toLong, 1L, 100.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = OlapQueries.qBootstrapCi(spark, dir).collect().head
    assert(r.getLong(0) == 30L && r.getLong(1) == 64L)
    // constant values: every resample mean is exactly 100, CI is a point
    assert(r.getDouble(2) == 100.0)
    assert(r.getDouble(3) == 100.0 && r.getDouble(4) == 100.0)
  }

  test("ABC classification splits at the 80/95 cumulative-share fences") {
    val dir = tempDir("graft-olap").toString
    // parts with revenue 80, 15, 5: cum shares exactly 0.80 / 0.95 / 1.0
    Seq((1L, 80.0), (2L, 15.0), (3L, 5.0))
      .toDF("l_partkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = OlapQueries.qAbcAnalysis(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(rows == Map(
      "A" -> ((1L, 80.0, 0.8)),
      "B" -> ((1L, 15.0, 0.15)),
      "C" -> ((1L, 5.0, 0.05))))
  }

  test("decile migration: reversal lands on the anti-diagonal, entrants in row 0") {
    val dir = tempDir("graft-olap").toString
    val p1 = Seq(
      (1L, 500.0, "1995-01-01"), (2L, 400.0, "1995-01-01"),
      (3L, 300.0, "1995-01-01"), (4L, 200.0, "1995-01-01"),
      (5L, 100.0, "1995-01-01"))
    val p2 = Seq(
      (1L, 100.0, "1999-01-01"), (2L, 200.0, "1999-01-01"),
      (3L, 300.0, "1999-01-01"), (4L, 400.0, "1999-01-01"),
      (5L, 500.0, "1999-01-01"), (6L, 600.0, "1999-01-01"))
    (p1 ++ p2).zipWithIndex
      .map { case ((c, v, dt), i) => (i.toLong, c, v, dt) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "s")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_timestamp(col("s")).as("o_orderdate"))
      .write.parquet(s"$dir/orders.parquet")
    val rows = OlapQueries.qDecileMigration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // p2 has 6 customers: ntile(5) puts the top TWO (c6, c5) in bucket 1
    assert(rows == Set(
      (0L, 1L, 1L), // c6: new entrant straight into the top bucket
      (1L, 5L, 1L), (2L, 4L, 1L), (3L, 3L, 1L), (4L, 2L, 1L),
      (5L, 1L, 1L)))
  }

  test("distinctive terms surface a source-exclusive common token") {
    val dir = tempDir("graft-dist").toString
    import spark.implicits._
    // 'zebra' occurs often and ONLY in src_a; filler is shared
    val a = (1 to 10).map(i =>
      (i.toLong, "zebra common filler words here", "en", "src_a", 0L))
    val b = (11 to 20).map(i =>
      (i.toLong, "plain common filler words here", "en", "src_b", 0L))
    (a ++ b).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val top = graft.queries.PipelineQueries
      .qDistinctiveTerms(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(top.contains(("src_a", 1L, "zebra")))
    assert(top.contains(("src_b", 1L, "plain")))
  }

  test("Shapley attribution: efficiency identity and share normalization") {
    val out = OlapQueries.qAttributionShapley(spark, SfDir).collect()
    assert(out.nonEmpty)
    // independently recompute v(N) and v(empty): the conversion rate of
    // ALL journeys vs of touchless journeys, with the query's exact
    // quantization — Shapley efficiency says the values must sum to
    // v(N) − v(∅) (display rounding is the only slack)
    val ev = graft.sources.Tables
      .events(spark, SfDir)
      .filter(col("event_type")
        .isin("view", "click", "signup", "error", "purchase"))
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val j = ev
      .withColumn(
        "grp",
        count(when(col("event_type") === "purchase", 1)).over(
          byUser.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .groupBy("user_id", "grp")
      .agg(
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("nt"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .agg(
        count(lit(1)).as("tot"),
        sum("conv").as("conv"),
        sum(when(col("nt") === 0L, 1L).otherwise(0L)).as("tot0"),
        sum(when(col("nt") === 0L, col("conv")).otherwise(0L)).as("conv0"))
      .collect()(0)
    val q = OlapQueries.ShapleyQ
    def vq(c: Long, t: Long) = if (t == 0L) 0L else c * q / t
    val expect =
      (vq(j.getAs[Long]("conv"), j.getAs[Long]("tot")) -
        vq(j.getAs[Long]("conv0"), j.getAs[Long]("tot0"))).toDouble / q
    val sumShap = out.map(_.getAs[Double]("shapley_value")).sum
    assert(
      math.abs(sumShap - expect) < 1e-5,
      s"efficiency violated: sum=$sumShap expected=$expect")
    // shares normalize to 1 (display rounding slack)
    val sumShare = out.map(_.getAs[Double]("share")).sum
    assert(math.abs(sumShare - 1.0) < 1e-5, s"shares sum to $sumShare")
    // channel set = the four touch types, alphabetical
    assert(out.map(_.getAs[String]("state")).toSeq ==
      Seq("click", "error", "signup", "view"))
  }
}
