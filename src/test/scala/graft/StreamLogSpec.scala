package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.log.EventLog
import graft.streaming.StreamLog
import graft.streaming.StreamLog.{InEntry, SeqGap}

/** Structured-Streaming behaviors: live statuses, windowed aggregation,
  * the stateful sequence monitor, and the produce pipeline sink. */
class StreamLogSpec extends SparkSpec {

  import spark.implicits._

  private def entryStream(): MemoryStream[InEntry] =
    MemoryStream[InEntry](spark)

  test("segmentStatuses tracks first/last per segment across batches") {
    val mem = entryStream()
    val q = StreamLog
      .segmentStatuses(mem.toDF())
      .writeStream
      .format("memory")
      .queryName("statuses")
      .outputMode("complete")
      .start()
    try {
      mem.addData(InEntry("s0", "a", 1, 1000, "p1"), InEntry("s0", "a", 2, 2000, "p2"))
      q.processAllAvailable()
      mem.addData(InEntry("s0", "a", 3, 3000, "p3"), InEntry("s0", "b", 1, 500, "q1"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM statuses ORDER BY space, segment").collect()
      assert(rows.length == 2)
      val a = rows(0)
      assert(a.getString(1) == "a" && a.getLong(2) == 1 && a.getLong(4) == 3 &&
        a.getLong(5) == 3000)
    } finally q.stop()
  }

  test("subscribeToSpace filters the status feed") {
    val statuses = Seq(
      ("s0", "a", 1L, 1L, 1L, 1L),
      ("s1", "b", 1L, 1L, 1L, 1L))
      .toDF("space", "segment", "firstSequence", "firstTimestamp", "lastSequence", "lastTimestamp")
    assert(StreamLog.subscribeToSpace(statuses, "s0").count() == 1)
    assert(StreamLog.subscribeToSegment(statuses, "s1", "b").count() == 1)
  }

  test("windowedCounts buckets by event-time hour") {
    val mem = entryStream()
    val q = StreamLog
      .windowedCounts(mem.toDF(), watermark = "0 seconds", windowLen = "1 hour")
      .writeStream
      .format("memory")
      .queryName("wincounts")
      .outputMode("complete")
      .start()
    try {
      val h = 3600L * 1000000L
      mem.addData(
        InEntry("s0", "a", 1, 100, "p"),
        InEntry("s0", "a", 2, 200, "p"),
        InEntry("s0", "a", 3, h + 100, "p"))
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT window_start_us, n_entries FROM wincounts ORDER BY 1")
        .collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((0L, 2L), (h, 1L)))
    } finally q.stop()
  }

  test("sequenceMonitor reports gaps across micro-batches") {
    val mem = entryStream()
    val q = StreamLog
      .sequenceMonitor(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("gaps")
      .outputMode("append")
      .start()
    try {
      mem.addData(InEntry("s0", "a", 1, 1000, "p"), InEntry("s0", "a", 2, 2000, "p"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM gaps").count() == 0)
      // batch 2: gap (expected 3, got 5) in segment a; fresh segment b ok
      mem.addData(InEntry("s0", "a", 5, 3000, "p"), InEntry("s0", "b", 1, 100, "p"))
      q.processAllAvailable()
      val gaps = spark.sql("SELECT * FROM gaps").as[SeqGap].collect()
      assert(gaps.toSeq == Seq(SeqGap("s0", "a", 3, 5)))
    } finally q.stop()
  }

  test("correlate joins two streams within the time interval, state bounded by watermarks") {
    val clicks = entryStream()
    val views = entryStream()
    val q = StreamLog
      .correlate(clicks.toDF(), views.toDF(), within = "30 minutes", watermark = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("correlated")
      .outputMode("append")
      .start()
    try {
      val m = 60L * 1000000L
      views.addData(
        InEntry("view", "u1", 1, 10 * m, "v1"),
        InEntry("view", "u1", 2, 100 * m, "v2"), // outside ±30min of the click
        InEntry("view", "u2", 1, 12 * m, "v3")) // other segment
      clicks.addData(InEntry("click", "u1", 1, 20 * m, "c1"))
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT l_payload, r_payload FROM correlated ORDER BY r_payload")
        .collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.toSeq == Seq(("c1", "v1")))
    } finally q.stop()
  }

  test("sessionWindows closes a session after the gap") {
    val mem = entryStream()
    val q = StreamLog
      .sessionWindows(mem.toDF(), gap = "30 minutes", watermark = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode("complete")
      .start()
    try {
      val m = 60L * 1000000L // one minute in µs
      mem.addData(
        InEntry("s0", "a", 1, 0, "p"),
        InEntry("s0", "a", 2, 10 * m, "p"), // same session (10 < 30 min gap)
        InEntry("s0", "a", 3, 50 * m, "p")) // new session (40 min gap)
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT session_start_us, n_entries FROM sessions ORDER BY 1")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((0L, 2L), (50 * m, 1L)))
    } finally q.stop()
  }

  test("consumerProgress tracks resume offsets across micro-batches") {
    import StreamLog.ConsumerOffset
    val mem = entryStream()
    val q = StreamLog
      .consumerProgress(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("progress")
      .outputMode("update")
      .start()
    try {
      mem.addData(InEntry("s0", "a", 1, 1000, "p"), InEntry("s0", "a", 2, 2000, "p"))
      q.processAllAvailable()
      mem.addData(
        InEntry("s0", "a", 3, 2000, "p"), // same ts, higher seq
        InEntry("s0", "b", 1, 500, "p"))
      q.processAllAvailable()
      val last = spark
        .sql("""SELECT space, segment, max(timestamp) AS ts, max(sequence) AS seq
               |FROM progress GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(last.toSeq == Seq(("s0", "a", 2000L, 3L), ("s0", "b", 500L, 1L)))
    } finally q.stop()
  }

  test("dedupStream drops re-delivered payloads within the watermark") {
    val mem = entryStream()
    val q = StreamLog
      .dedupStream(mem.toDF(), watermark = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("deduped")
      .outputMode("append")
      .start()
    try {
      mem.addData(
        InEntry("s0", "a", 1, 1000, "payload-A"),
        InEntry("s0", "a", 2, 2000, "payload-A"), // duplicate content
        InEntry("s0", "a", 3, 3000, "payload-B"))
      q.processAllAvailable()
      // same micro-batch duplicate dropped
      assert(spark.sql("SELECT * FROM deduped").count() == 2)
      // cross-batch duplicate within the watermark also dropped
      mem.addData(InEntry("s0", "b", 1, 4000, "payload-B"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM deduped").count() == 2)
      mem.addData(InEntry("s0", "b", 2, 5000, "payload-C"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM deduped").count() == 3)
    } finally q.stop()
  }

  test("nearDupIngest: planted near-dup of an ARCHIVED doc caught live; batch-internal pair collapses; batch-arm parity") {
    import graft.dedup.Dedup
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val archive = tempDir("graft_neardup_arch").toString
    val ckpt = tempDir("graft_neardup_ck").toString
    // 20-token docs mixing stopwords and distinct nouns: they pass the
    // quality model, and changing ONLY the last token leaves 3-shingle
    // Jaccard at 17/19 ≈ 0.895 ≥ 0.8 — a NEAR dup (content hashes
    // differ, so exact dedup alone would keep it)
    def doc(tail: String, uniq: String) =
      s"the $uniq alpha and beta of gamma is delta to epsilon " +
        s"the zeta and eta of theta is iota to $tail"
    val docA = doc("kappa", "first")
    val docC = doc("lambda", "first") // near-dup of A, arrives LATER
    val docB = "completely different words about seven yellow submarines " +
      "sailing under nine crimson bridges toward quiet harbors at dawn tide"
    val docD = "fresh material concerning twelve silver rivers crossing " +
      "green valleys where old stone mills grind amber wheat all summer"
    // E and F near-dup each other (one changed token) while sitting
    // below threshold vs A (two changed tokens: 15/21 ≈ 0.714)
    val docE = doc("sigma", "second")
    val docF = doc("tau", "second")
    val q = StreamLog.nearDupIngest(
      mem.toDF().toDF("doc_id", "text", "event_time"), archive, ckpt)
    try {
      // batch 1: two distinct docs — both archived
      mem.addData(
        (1L, docA, ts("2024-01-01 00:00:00")),
        (2L, docB, ts("2024-01-01 00:00:05")))
      q.processAllAvailable()
      def keptIds() = spark.read.parquet(s"$archive/docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptIds() == Set(1L, 2L))
      // batch 2: C near-dups archived A (caught LIVE against the
      // persisted band table — exact dedup alone would have kept it);
      // D is fresh; E and F near-dup EACH OTHER (0.894) but sit at
      // 0.714 < 0.8 from A (two changed tokens), so the internal stage
      // collapses F into canonical E and E itself survives the archive
      mem.addData(
        (3L, docC, ts("2024-01-01 00:01:00")),
        (4L, docD, ts("2024-01-01 00:01:05")),
        (5L, docE, ts("2024-01-01 00:01:10")),
        (6L, docF, ts("2024-01-01 00:01:15")))
      q.processAllAvailable()
      assert(keptIds() == Set(1L, 2L, 4L, 5L))
      // the archive's probe tables grew with exactly the kept docs
      val bandIds = spark.read.parquet(s"$archive/bands")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      val shIds = spark.read.parquet(s"$archive/shingles")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(bandIds == Set(1L, 2L, 4L, 5L) && shIds == Set(1L, 2L, 4L, 5L))
      // committed markers namespaced per sink — one per NON-EMPTY batch
      // (the upstream watermark dedup inserts empty state-flush batches,
      // so the two data batches need not have consecutive ids)
      val markers = new java.io.File(s"$archive/_neardup_commits").listFiles()
        .map(_.getName).filter(_.endsWith(".done")).sorted.toSeq
      assert(
        markers.size == 2 &&
          markers.forall(_.matches("neardup0-batch-\\d+\\.done")),
        s"expected two namespaced markers, got $markers")
    } finally q.stop()
    // batch-arm parity: the same docs through the batch composition
    // (exact dedup is a no-op here — all contents distinct — then
    // minhash keep-canonical) keeps the same ids, because arrival
    // order here equals id order so "earliest archived wins" and
    // "canonical min-id wins" coincide
    val all = Seq(
      (1L, docA), (2L, docB), (3L, docC), (4L, docD), (5L, docE), (6L, docF))
      .toDF("doc_id", "text")
    val batchKept = Dedup.keepCanonical(
      all, Dedup.duplicateClusters(Dedup.minhashLsh(all)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept == Set(1L, 2L, 4L, 5L))
  }

  test("prepareStream scrubs PII, drops junk, and dedups within the watermark") {
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val q = StreamLog
      .prepareStream(
        mem.toDF().toDF("doc_id", "text", "event_time"),
        watermark = "10 minutes")
      .writeStream
      .format("memory")
      .queryName("prepared")
      .outputMode("append")
      .start()
    try {
      mem.addData(
        // stopword-heavy → survives; phone number must be redacted
        (1L, "the the the and of call 555-867-5309 now", ts("2024-01-01 00:00:00")),
        // pure punctuation → quality model rejects
        (2L, "!!!! ????", ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM prepared").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
      val clean = rows.head.getString(2)
      assert(clean.contains("[PHONE]") && !clean.contains("5309"))
      // same content re-delivered in a later batch inside the watermark
      mem.addData(
        (3L, "the the the and of call 555-867-5309 now", ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM prepared").count() == 1)
      // different content passes
      mem.addData(
        (4L, "the and is of to the and is of to", ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM prepared").count() == 2)
    } finally q.stop()
  }

  test("anomalyMonitor flags a spike against statistics from EARLIER batches") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = StreamLog
      .anomalyMonitor(mem.toDS(), k = 4.0)
      .writeStream
      .format("memory")
      .queryName("anomalies")
      .outputMode("append")
      .start()
    try {
      // 20 well-behaved points: mean ≈ 10.4, stddev ≈ 0.6
      mem.addData((1 to 20).map(i => ("cpu", i.toLong, 9.5 + (i % 10) * 0.2)): _*)
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM anomalies").count() == 0)
      mem.addData(
        ("cpu", 21L, 100.0), // >4σ from the running stats → flagged
        ("cpu", 22L, 10.1), // normal, judged AFTER the spike is absorbed
        ("mem", 1L, 50.0)) // fresh space: still warming up, never flagged
      q.processAllAvailable()
      val rows = spark.sql("SELECT space, timestamp, value, n FROM anomalies").collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "cpu")
      assert(rows.head.getLong(1) == 21L)
      assert(rows.head.getDouble(2) == 100.0)
      assert(rows.head.getLong(3) == 20L) // judged on exactly the 20 prior points
    } finally q.stop()
  }

  test("ewmaChartMonitor: small persistent shift signals, exact local-fold parity across batches") {
    // frozen baseline: mean 100, sigma_z 5 → quantized limit 15
    val (center, sigmaZ) = (100.0, 5.0)
    val mem = MemoryStream[(String, Long, Long)](spark)
    val q = StreamLog
      .ewmaChartMonitor(mem.toDS(), center = center, sigmaZ = sigmaZ)
      .writeStream
      .format("memory")
      .queryName("ewma_signals")
      .outputMode("append")
      .start()
    // flat at the center, then a +25 level shift a Shewhart 3σ-per-point
    // chart would call borderline but the EWMA accumulates quickly;
    // split across micro-batches so z crosses the batch boundary
    val xs = (1 to 8).map(i => ("ev", i.toLong, 100L)) ++
      (9 to 14).map(i => ("ev", i.toLong, 125L))
    try {
      mem.addData(xs.take(10): _*)
      q.processAllAvailable()
      mem.addData(xs.drop(10): _*)
      q.processAllAvailable()
      val got = spark
        .sql("SELECT timestamp, value, ewma, n FROM ewma_signals ORDER BY timestamp")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      // local fold with the identical double chain + quantized compare
      def f6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
      var (z, n) = (center, 0L)
      val want = xs.flatMap { case (_, ts, x) =>
        z = 0.25 * x.toDouble + 0.75 * z
        n += 1
        if (f6(math.abs(z - center)) > f6(3.0 * sigmaZ)) Some((ts, x, f6(z), n))
        else None
      }
      assert(want.nonEmpty, "the level shift must trip the local fold")
      assert(got.toSeq == want, "stream signals must equal the local fold exactly")
      assert(got.forall(_._1 >= 9L), "no signal before the shift")
    } finally q.stop()
  }

  test("pageHinkleyMonitor: integer PH statistics, level shift alerts, exact local-fold parity") {
    val lambda = 30L * 1000000L // 30 µ-unit events of accumulated deviation
    val mem = MemoryStream[(String, Long, Long)](spark)
    val q = StreamLog
      .pageHinkleyMonitor(mem.toDS(), lambdaMicro = lambda)
      .writeStream
      .format("memory")
      .queryName("ph_alerts")
      .outputMode("append")
      .start()
    // 10 flat days at 100, then a level shift to 200 — split across
    // micro-batches so state crosses the batch boundary
    val xs = (1 to 10).map(i => ("ev", i.toLong, 100L)) ++
      (11 to 16).map(i => ("ev", i.toLong, 200L))
    try {
      mem.addData(xs.take(8): _*)
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ph_alerts").count() == 0, "flat prefix: no alert")
      mem.addData(xs.drop(8): _*)
      q.processAllAvailable()
      val got = spark
        .sql("SELECT timestamp, value, phUpMicro, phDownMicro, n FROM ph_alerts ORDER BY timestamp")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // local fold with the identical integer algebra
      var (n, prefix, qsum, minM, maxM) = (0L, 0L, 0L, 0L, 0L)
      val want = xs.flatMap { case (_, ts, x) =>
        n += 1; prefix += x
        qsum += prefix * 1000000L / n
        val m = prefix * 1000000L - qsum
        minM = if (n == 1) m else math.min(minM, m)
        maxM = if (n == 1) m else math.max(maxM, m)
        val (up, down) = (m - minM, maxM - m)
        if (up > lambda || down > lambda) Some((ts, x, up, down, n)) else None
      }
      assert(want.nonEmpty, "the level shift must trip the local fold")
      assert(got.toSeq == want, "stream alerts must equal the local integer fold exactly")
      assert(got.forall(_._1 >= 11L), "alerts only after the shift")
    } finally q.stop()
  }

  test("experimentMonitor: running Welch t across micro-batches, bit-equal to a local fold") {
    val mem = MemoryStream[(String, Long, Long, Double)](spark)
    val q = StreamLog
      .experimentMonitor(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("ab_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: arm B has a single observation → no emit yet
      mem.addData(("exp1", 0L, 1L, 10.0), ("exp1", 0L, 2L, 12.0), ("exp1", 1L, 3L, 11.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM ab_out").count() == 0)
      // batch 2 completes both arms; state carries batch 1
      mem.addData(("exp1", 1L, 4L, 13.0), ("exp1", 0L, 5L, 14.0), ("exp1", 1L, 6L, 15.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM ab_out").collect()
      assert(rows.length == 1)
      val r = rows.head
      // replicate the exact fold: (seq, arm, value) order over the stream
      def fold(vals: Seq[Double]): (Long, Double, Double) =
        vals.foldLeft((0L, 0.0, 0.0)) { case ((n, m, m2), v) =>
          val n1 = n + 1; val d = v - m; val m1 = m + d / n1
          (n1, m1, m2 + d * (v - m1))
        }
      val (na, ma, m2a) = fold(Seq(10.0, 12.0, 14.0))
      val (nb, mb, m2b) = fold(Seq(11.0, 13.0, 15.0))
      val (va, vb) = (m2a / (na - 1), m2b / (nb - 1))
      val se2 = va / na + vb / nb
      assert(r.getLong(1) == na && r.getLong(2) == nb)
      assert(r.getDouble(3) == ma && r.getDouble(4) == mb)
      assert(r.getDouble(5) == (ma - mb) / math.sqrt(se2))
    } finally q.stop()
  }

  test("emaStream continues the recursion across micro-batches, bit-equal to a local fold") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = StreamLog
      .emaStream(mem.toDS(), alpha = 0.25)
      .writeStream
      .format("memory")
      .queryName("ema_out")
      .outputMode("append")
      .start()
    try {
      val batch1 = Seq(1.0, 3.0, 2.0, 8.0)
      val batch2 = Seq(4.0, 0.5)
      mem.addData(batch1.zipWithIndex.map { case (v, i) => ("cpu", i.toLong, v) }: _*)
      q.processAllAvailable()
      mem.addData(batch2.zipWithIndex.map { case (v, i) => ("cpu", (batch1.size + i).toLong, v) }: _*)
      mem.addData(("mem", 0L, 7.0)) // independent key: seeded fresh
      q.processAllAvailable()
      // the streaming recursion must equal the batch fold exactly —
      // same seed, same IEEE op order (this is q_ema's contract)
      val expected = (batch1 ++ batch2).tail
        .foldLeft(batch1.head)((acc, v) => 0.25 * v + 0.75 * acc)
      val last = spark
        .sql("SELECT ema, n FROM ema_out WHERE space = 'cpu' ORDER BY n DESC LIMIT 1")
        .collect()
        .head
      assert(last.getDouble(0) == expected) // bit-equal, not approx
      assert(last.getLong(1) == (batch1.size + batch2.size).toLong)
      val memRow = spark
        .sql("SELECT ema, n FROM ema_out WHERE space = 'mem'")
        .collect()
        .head
      assert(memRow.getDouble(0) == 7.0 && memRow.getLong(1) == 1L)
    } finally q.stop()
  }

  test("holtStream seeds like the batch fold and continues level+trend across micro-batches, bit-equal") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = StreamLog
      .holtStream(mem.toDS(), alpha = 0.5, beta = 0.25)
      .writeStream
      .format("memory")
      .queryName("holt_out")
      .outputMode("append")
      .start()
    try {
      val series = Seq(10.0, 14.0, 9.0, 22.0, 17.0, 3.0, 25.0)
      val (batch1, batch2) = series.zipWithIndex.map { case (v, i) => ("checkout", i.toLong, v) }.splitAt(3)
      mem.addData(batch1: _*)
      mem.addData(("signup", 0L, 5.0)) // single observation: no seed yet, no emit
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM holt_out WHERE space = 'signup'").count() == 0)
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // replicate the batch q_holt fold: seed (l, b) = (x₂, x₂ − x₁),
      // then l₁ = α·x + (1−α)(l+b); b₁ = β(l₁−l) + (1−β)b — bit-exact
      val expected = series.drop(2).foldLeft((series(1), series(1) - series(0))) {
        case ((l, b), x) =>
          val l1 = 0.5 * x + 0.5 * (l + b)
          (l1, 0.25 * (l1 - l) + 0.75 * b)
      }
      val rows = spark
        .sql("SELECT level, trend, forecast7, n FROM holt_out WHERE space = 'checkout' ORDER BY n")
        .collect()
      assert(rows.length == series.size - 1) // one point per arrival from the seed on
      val last = rows.last
      assert(last.getDouble(0) == expected._1) // bit-equal, not approx
      assert(last.getDouble(1) == expected._2)
      assert(last.getDouble(2) == expected._1 + 7.0 * expected._2)
      assert(last.getLong(3) == series.size.toLong)
      // the seed row is the batch seed verbatim
      assert(rows.head.getDouble(0) == series(1) && rows.head.getDouble(1) == series(1) - series(0))
      // the second signup arrival seeds that key independently
      mem.addData(("signup", 1L, 8.0))
      q.processAllAvailable()
      val sg = spark.sql("SELECT level, trend FROM holt_out WHERE space = 'signup'").collect()
      assert(sg.length == 1 && sg.head.getDouble(0) == 8.0 && sg.head.getDouble(1) == 3.0)
    } finally q.stop()
  }

  test("holtWintersStream seeds from the first two weeks and folds bit-equal to the batch recursion") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = StreamLog
      .holtWintersStream(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("hw_out")
      .outputMode("append")
      .start()
    try {
      // 18 points with a weekly pattern + trend; split mid-seed AND
      // mid-fold so both state phases cross micro-batch boundaries
      val series = (1 to 18).map(t => t.toDouble + Seq(5.0, 1.0, 2.0, 8.0, 3.0, 0.5, 4.0)((t - 1) % 7))
      val pts = series.zipWithIndex.map { case (v, i) => ("ops", (i + 1).toLong, v) }
      mem.addData(pts.take(5): _*)
      q.processAllAvailable()
      // seed needs 14 points: nothing emitted yet
      assert(spark.sql("SELECT * FROM hw_out").count() == 0)
      mem.addData(pts.slice(5, 15): _*)
      q.processAllAvailable()
      mem.addData(pts.drop(15): _*)
      q.processAllAvailable()
      // local replication of the batch fold (qHoltWinters IEEE order)
      val xs = series
      val l0 = xs.slice(0, 7).reduceLeft(_ + _) / 7.0
      val b0 = (xs.slice(7, 14).reduceLeft(_ + _) / 7.0 - l0) / 7.0
      var (l, b) = (l0, b0)
      var qq = xs.take(7).map(_ - l0)
      xs.drop(7).foreach { x =>
        val l1 = 0.5 * (x - qq.head) + 0.5 * (l + b)
        val b1 = 0.25 * (l1 - l) + 0.75 * b
        qq = qq.tail :+ (0.25 * (x - l1) + 0.75 * qq.head)
        l = l1; b = b1
      }
      val rows = spark
        .sql("SELECT level, trend, forecast1, forecast7, n FROM hw_out WHERE space = 'ops' ORDER BY n")
        .collect()
      assert(rows.length == series.size - 7) // one point per fold step (t = 8…18)
      val last = rows.last
      assert(last.getDouble(0) == l) // bit-equal, not approx
      assert(last.getDouble(1) == b)
      assert(last.getDouble(2) == l + 1.0 * b + qq.head)
      assert(last.getDouble(3) == l + 7.0 * b + qq.last)
      assert(last.getLong(4) == series.size.toLong)
    } finally q.stop()
  }

  test("crostonStream: seeds on first demand, grows intervals through zero hours, bit-equal to the batch fold across splits") {
    val mem = MemoryStream[(String, Long, Long)](spark)
    val q = StreamLog
      .crostonStream(mem.toDS(), alpha = 0.25)
      .writeStream
      .format("memory")
      .queryName("croston_out")
      .outputMode("append")
      .start()
    try {
      // intermittent demand over 12 dense hours; splits cut BEFORE the
      // seed (batch 1 is all zeros) and INSIDE a zero run (batch 2 ends
      // mid-gap), so both state phases cross micro-batch boundaries
      val counts = Seq[Long](0, 0, 3, 0, 0, 0, 2, 5, 0, 1, 0, 0)
      val pts = counts.zipWithIndex.map { case (c, i) => ("sku1", i.toLong, c) }
      mem.addData(pts.take(2): _*)
      q.processAllAvailable()
      // no demand yet: nothing emitted, but the gap is accumulating
      assert(spark.sql("SELECT * FROM croston_out").count() == 0)
      mem.addData(pts.slice(2, 6): _*)
      mem.addData(("sku2", 0L, 4L)) // independent key seeds on its own
      q.processAllAvailable()
      mem.addData(pts.drop(6): _*)
      q.processAllAvailable()
      // local replication of the batch qCroston aggregate CASE tree
      // (StatsQueries.scala) — the identical IEEE operation order
      var (z, qq, gap, nd) = (0.0, 0.0, 0L, 0L)
      val expected = Seq.newBuilder[(Double, Double, Double, Long)]
      counts.foreach { c =>
        if (c == 0L) gap += 1
        else {
          if (nd == 0L) { z = c.toDouble; qq = (gap + 1L).toDouble; nd = 1L }
          else {
            z = 0.25 * c.toDouble + 0.75 * z
            qq = 0.25 * (gap + 1L).toDouble + 0.75 * qq
            nd += 1
          }
          gap = 0L
          expected += ((z, qq, z / qq, nd))
        }
      }
      val exp = expected.result()
      val rows = spark
        .sql("""SELECT sizeSmooth, intervalSmooth, rateForecast, nDemand
                FROM croston_out WHERE space = 'sku1' ORDER BY nDemand""")
        .collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      assert(rows == exp) // bit-equal trajectory, not approx
      // seed row: size = first demand, interval = its 1-based position
      assert(rows.head == ((3.0, 3.0, 1.0, 1L)))
      // the other key seeded independently (first hour, no gap)
      val sk2 = spark
        .sql("SELECT sizeSmooth, intervalSmooth FROM croston_out WHERE space = 'sku2'")
        .collect()
      assert(sk2.length == 1 && sk2.head.getDouble(0) == 4.0 && sk2.head.getDouble(1) == 1.0)
    } finally q.stop()
  }

  test("thetaStream: exact OLS statistics, split-invariant folds, batch parity at published rounding") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = StreamLog
      .thetaStream(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("theta_out")
      .outputMode("append")
      .start()
    try {
      // integral counts (the batch query's domain): sums stay exact
      val series = Seq(10.0, 14.0, 9.0, 22.0, 17.0, 3.0, 25.0, 8.0, 12.0, 30.0)
      val one = series.zipWithIndex.map { case (v, i) => ("one", (i + 1).toLong, v) }
      val split = series.zipWithIndex.map { case (v, i) => ("split", (i + 1).toLong, v) }
      mem.addData(one: _*) // the whole series in ONE micro-batch
      mem.addData(split.take(3): _*) // ...and the same series in three
      q.processAllAvailable()
      assert( // OLS needs two points: nothing emitted at n = 1
        spark.sql("SELECT * FROM theta_out WHERE n < 2").count() == 0)
      mem.addData(split.slice(3, 7): _*)
      q.processAllAvailable()
      mem.addData(split.drop(7): _*)
      q.processAllAvailable()
      def rows(k: String) = spark
        .sql(s"SELECT trendSlope, thetaLevel, forecast7, n FROM theta_out WHERE space = '$k' ORDER BY n")
        .collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      // micro-batch splits do not change a single bit of the trajectory
      assert(rows("one") == rows("split"))
      assert(rows("one").size == series.size - 1)

      // local replication of the BATCH q_theta_forecast algebra
      val n = series.size
      val ts = (1 to n).map(_.toLong)
      val s1 = ts.sum
      val s2 = ts.map(t => t * t).sum
      val sx = series.sum
      val sxt = ts.zip(series).map { case (t, x) => t.toDouble * x }.sum
      val b = (n.toDouble * sxt - s1.toDouble * sx) /
        (n.toDouble * s2.toDouble - s1.toDouble * s1.toDouble)
      val a = (sx - b * s1.toDouble) / n.toDouble
      val lvl = ts.zip(series).tail
        .foldLeft(2.0 * series.head - (a + b * 1.0)) { case (acc, (t, x)) =>
          0.25 * (2.0 * x - (a + b * t.toDouble)) + 0.75 * acc
        }
      val fc = 0.5 * (a + b * (n + 7).toDouble) + 0.5 * lvl
      val last = rows("one").last
      // the OLS slope rides exact sums → BIT-equal to the batch column
      assert(last._1 == b)
      // level/forecast: the stream's linear decomposition of the SES
      // fold meets the batch fold at the published 4-dp rounding
      def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r4(last._2) == r4(lvl), s"level ${last._2} vs $lvl")
      assert(r4(last._3) == r4(fc), s"forecast ${last._3} vs $fc")
      assert(last._4 == n.toLong)
    } finally q.stop()
  }

  test("kmvMonitor: exact below k, batch-formula estimate above k, order-insensitive across batch splits") {
    import graft.functions.Hashing
    // JVM hash twin must equal the Column family the batch sketch uses
    val samples = Seq("a", "42:17", "user:19123", "")
    val colVals = samples
      .toDF("s")
      .select(Hashing.md5Long(org.apache.spark.sql.functions.col("s")))
      .collect()
      .map(_.getLong(0))
    assert(colVals.toSeq == samples.map(Hashing.md5LongJvm))

    val k = 16
    val vals = (1 to 100).map(i => s"v$i")
    val expectedBig = {
      val smallest = vals.map(Hashing.md5LongJvm).distinct.sorted.take(k)
      (k - 1).toDouble * 1152921504606846976.0d / smallest.last.toDouble
    }
    val mem = MemoryStream[(String, String)](spark)
    val q = StreamLog
      .kmvMonitor(mem.toDS(), k = k)
      .writeStream
      .format("memory")
      .queryName("kmv_out")
      .outputMode("append")
      .start()
    try {
      // "small": 10 distinct values (< k), with repeats -> exact count
      mem.addData((1 to 10).map(i => ("small", s"v$i")) ++ Seq(("small", "v1")): _*)
      // "fwd" in order, split across two micro-batches
      mem.addData(vals.take(50).map(("fwd", _)): _*)
      q.processAllAvailable()
      mem.addData(vals.drop(50).map(("fwd", _)): _*)
      // "rev" same values, reversed arrival order, one batch
      mem.addData(vals.reverse.map(("rev", _)): _*)
      q.processAllAvailable()
      val last = spark
        .sql("SELECT key, nSeen, nSketch, estimate FROM kmv_out")
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getInt(2), r.getDouble(3))))
        .groupBy(_._1)
        .map { case (key, rows) => key -> rows.map(_._2).maxBy(_._1) }
      assert(last("small") == ((11L, 10, 10.0)))
      assert(last("fwd") == ((100L, k, expectedBig)))
      assert(last("rev") == ((100L, k, expectedBig)))
    } finally q.stop()
  }

  test("patternMonitor matches the batch funnel and completes chains across micro-batches") {
    val hour = 3600000000L
    val mem = MemoryStream[(String, Long, String)](spark)
    val q = StreamLog
      .patternMonitor(mem.toDS(), withinUs = hour)
      .writeStream
      .format("memory")
      .queryName("cep_out")
      .outputMode("append")
      .start()
    try {
      // u1 completes within one batch; u2's click is 2h late (dies);
      // u3's purchase lands in the NEXT micro-batch, still in window
      mem.addData(
        ("u1", 0L, "view"), ("u1", hour / 2, "click"), ("u1", hour, "purchase"),
        ("u2", 0L, "view"), ("u2", 2 * hour, "click"), ("u2", 2 * hour + 1, "purchase"),
        ("u3", 0L, "view"), ("u3", hour / 4, "click"))
      q.processAllAvailable()
      mem.addData(("u3", hour, "purchase"))
      // u4: second view would admit the click, but the FIRST view anchors
      mem.addData(("u4", 0L, "view"), ("u4", 2 * hour, "view"), ("u4", 2 * hour + 1, "click"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, aUs, bUs, cUs FROM cep_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows == Set(
        ("u1", 0L, hour / 2, hour),
        ("u3", 0L, hour / 4, hour)))
      // a second purchase must not re-fire a completed key
      mem.addData(("u1", hour + 1, "purchase"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM cep_out").count() == 2)
    } finally q.stop()
  }

  test("driftMonitor freezes the baseline, scores windows across micro-batches, bit-equal to a local fold") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    // 4 bins over [0, 4): baseline 8 values, window 4 values
    val q = StreamLog
      .driftMonitor(mem.toDS(), lo = 0.0, hi = 4.0, bins = 4, baselineN = 8L, windowN = 4L)
      .writeStream
      .format("memory")
      .queryName("drift_out")
      .outputMode("append")
      .start()
    try {
      // baseline: uniform-ish over all 4 bins
      val baseline = Seq(0.5, 1.5, 2.5, 3.5, 0.5, 1.5, 2.5, 3.5)
      // window 1: same shape (low drift); window 2: all mass in bin 0
      // (high drift). Split window 2 across micro-batches to prove the
      // partial-window state carries over.
      val win1 = Seq(0.5, 1.5, 2.5, 3.5)
      val win2 = Seq(0.1, 0.2, 0.1, 0.3)
      def feed(vs: Seq[Double], t0: Long): Unit =
        mem.addData(vs.zipWithIndex.map { case (v, i) => ("len", t0 + i, v) }: _*)
      feed(baseline ++ win1 ++ win2.take(1), 0L)
      q.processAllAvailable()
      feed(win2.drop(1), 100L)
      q.processAllAvailable()
      def psi(baseCounts: Seq[Long], winCounts: Seq[Long]): Double =
        (0 until 4).map { i =>
          val p = (winCounts(i) + 1).toDouble / (4 + 4).toDouble
          val q0 = (baseCounts(i) + 1).toDouble / (8 + 4).toDouble
          (p - q0) * math.log(p / q0)
        }.sum
      val rows = spark
        .sql("SELECT nSeen, nBase, nWindow, psi FROM drift_out WHERE key = 'len' ORDER BY nSeen")
        .collect()
      assert(rows.length == 2, "two full windows → two scores")
      assert(rows.map(_.getLong(0)).toSeq == Seq(12L, 16L))
      assert(rows.forall(r => r.getLong(1) == 8L && r.getLong(2) == 4L))
      val expected1 = psi(Seq(2L, 2L, 2L, 2L), Seq(1L, 1L, 1L, 1L))
      val expected2 = psi(Seq(2L, 2L, 2L, 2L), Seq(4L, 0L, 0L, 0L))
      assert(rows(0).getDouble(3) == expected1, "same-shape window: exact PSI")
      assert(rows(1).getDouble(3) == expected2, "shifted window: exact PSI")
      assert(rows(1).getDouble(3) > rows(0).getDouble(3),
        "the shifted window must score strictly higher drift")
    } finally q.stop()
  }

  test("heavyHittersMonitor carries MG state across micro-batches and keeps every MG bound") {
    val mem = MemoryStream[(String, String)](spark)
    val q = StreamLog
      .heavyHittersMonitor(mem.toDS(), k = 3)
      .writeStream
      .format("memory")
      .queryName("hh_out")
      .outputMode("append")
      .start()
    try {
      // a heavy item, a medium item, and a spray of one-off keys that
      // forces decrements; split across batches so state must carry
      val batch1 = Seq.fill(10)("hot") ++ Seq.fill(4)("warm") ++ Seq("a", "b", "c")
      val batch2 = Seq.fill(8)("hot") ++ Seq.fill(3)("warm") ++ Seq("d", "e", "f", "g")
      mem.addData(batch1.map(("tokens", _)): _*)
      q.processAllAvailable()
      mem.addData(batch2.map(("tokens", _)): _*)
      q.processAllAvailable()
      val all = batch1 ++ batch2
      val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = all.size.toLong
      val last = spark
        .sql("SELECT nSeen, top FROM hh_out WHERE key = 'tokens' ORDER BY nSeen DESC LIMIT 1")
        .collect()
        .head
      assert(last.getLong(0) == n)
      val top = last
        .getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // every item with true frequency > n/(k+1) must be present
      for ((item, c) <- truth if c > n / 4)
        assert(top.exists(_._1 == item), s"guaranteed heavy hitter $item missing")
      // bounds: count_lo <= true <= count_hi
      for ((item, lo, hi) <- top)
        assert(lo <= truth(item) && truth(item) <= hi, s"$item bounds [$lo,$hi] vs ${truth(item)}")
      // at most k counters survive
      assert(top.size <= 3)
      assert(top.head._1 == "hot", "the dominant item must rank first")
    } finally q.stop()
  }

  test("seqPatternMonitor: emission union across any split equals the batch subsequence set") {
    val mem = MemoryStream[(Long, String, Long)](spark)
    val q = StreamLog
      .seqPatternMonitor(mem.toDS())
      .writeStream
      .format("memory")
      .queryName("seq_out")
      .outputMode("append")
      .start()
    try {
      // user 1: a<b<c plus a same-timestamp b (strictness check);
      // user 2: c first (no a>..>c), repeats of a (a>a pair);
      // the split lands MID-user-1 so the witness map must carry
      val batch1 = Seq(
        (1L, "a", 100L), (1L, "b", 100L), // same ts: never a pair
        (1L, "b", 200L),
        (2L, "c", 50L), (2L, "a", 60L))
      val batch2 = Seq(
        (1L, "c", 300L), (1L, "a", 400L),
        (2L, "a", 70L), (2L, "b", 90L))
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark
        .sql("SELECT user_id, kind, pattern FROM seq_out")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      // no duplicate emissions across batches
      assert(got.length == got.distinct.length, "duplicate pattern emission")
      // ground truth: literal subsequence scan with strict timestamps
      val all = batch1 ++ batch2
      val types = all.map(_._2).distinct.sorted
      def seqOf(u: Long) = all.filter(_._1 == u).map(t => (t._2, t._3))
      def hasPair(u: Long, a: String, b: String) = {
        val s = seqOf(u)
        s.exists { case (ta, tsa) =>
          ta == a && s.exists { case (tb, tsb) => tb == b && tsb > tsa }
        }
      }
      def hasTriple(u: Long, a: String, b: String, c: String) = {
        val s = seqOf(u)
        s.exists { case (ta, tsa) =>
          ta == a && s.exists { case (tb, tsb) =>
            tb == b && tsb > tsa && s.exists { case (tc, tsc) => tc == c && tsc > tsb }
          }
        }
      }
      val expected = (for {
        u <- Seq(1L, 2L); a <- types; b <- types if hasPair(u, a, b)
      } yield (u, "pair", s"$a>$b")).toSet ++ (for {
        u <- Seq(1L, 2L); a <- types; b <- types; c <- types if hasTriple(u, a, b, c)
      } yield (u, "triple", s"$a>$b>$c")).toSet
      assert(
        got.toSet == expected,
        s"missing: ${expected diff got.toSet}; extra: ${got.toSet diff expected}")
      // the strictness case really is excluded: user 1's a@100/b@100
      assert(!got.contains((1L, "pair", "b>a")) || hasPair(1L, "b", "a"))
    } finally q.stop()
  }

  test("debounce keeps gap-from-last-KEPT semantics across micro-batches") {
    val mem = MemoryStream[(String, Long)](spark)
    val q = StreamLog
      .debounce(mem.toDS(), gapUs = 100L)
      .writeStream
      .format("memory")
      .queryName("debounced")
      .outputMode("append")
      .start()
    try {
      // batch 1: 0 kept; 60 and 90 are ≤100 after the kept 0 → dropped
      mem.addData(("k", 0L), ("k", 60L), ("k", 90L))
      q.processAllAvailable()
      // batch 2: 150 is >100 after the last KEPT (0) → kept, even
      // though it is only 60 after the last SEEN event (90) — exactly
      // where this rule differs from the batch previous-occurrence
      // rule, which would drop it; 180 is 30 after the new kept 150 →
      // dropped; fresh key kept immediately. State carried across
      // batches: k's last-kept survived the batch boundary.
      mem.addData(("k", 150L), ("k", 180L), ("j", 5L))
      q.processAllAvailable()
      val kept = spark
        .sql("SELECT _1, _2 FROM debounced")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSet
      assert(kept == Set(("k", 0L), ("k", 150L), ("j", 5L)))
    } finally q.stop()
  }

  test("enrich joins each micro-batch against a broadcast static dimension") {
    import spark.implicits._
    val dim = Seq(("s0", "tier-a"), ("s1", "tier-b")).toDF("space", "tier")
    val mem = MemoryStream[(String, Long)](spark)
    val q = StreamLog
      .enrich(mem.toDF().toDF("space", "sequence"), dim)
      .writeStream
      .format("memory")
      .queryName("enriched")
      .outputMode("append")
      .start()
    try {
      mem.addData(("s0", 1L), ("s1", 2L), ("s9", 3L))
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT space, sequence, tier FROM enriched")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
        .toSet
      assert(rows == Set(
        ("s0", 1L, Some("tier-a")),
        ("s1", 2L, Some("tier-b")),
        ("s9", 3L, None))) // left join: unknown dims survive unenriched
    } finally q.stop()
  }

  test("anomalyMonitor flags a jump from a perfectly constant signal (stddev 0)") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = StreamLog
      .anomalyMonitor(mem.toDS(), k = 4.0)
      .writeStream
      .format("memory")
      .queryName("anomalies_const")
      .outputMode("append")
      .start()
    try {
      mem.addData((1 to 20).map(i => ("disk", i.toLong, 5.0)): _*)
      q.processAllAvailable()
      // stddev is exactly 0 — a departure from a constant signal is the
      // clearest anomaly there is, not a reason to stand down
      mem.addData(("disk", 21L, 1000.0), ("disk", 22L, 5.0))
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT timestamp, value, stddev FROM anomalies_const")
        .collect()
      assert(rows.length == 1)
      assert(rows.head.getLong(0) == 21L && rows.head.getDouble(2) == 0.0)
    } finally q.stop()
  }

  test("streaming heavy hitters merge sketch state across micro-batches") {
    // graft_topk's TypedImperativeAggregate buffer lives in the state
    // store between micro-batches (complete mode); with capacity
    // covering the key space the merged sketch is exact over ALL
    // batches seen so far
    GraftExtensions.register(spark)
    val mem = MemoryStream[String](spark)
    val q = mem
      .toDF()
      .withColumnRenamed("value", "tok")
      .agg(expr("graft_topk(tok, 8)").as("hh"))
      .writeStream
      .format("memory")
      .queryName("hh_stream")
      .outputMode("complete")
      .start()
    try {
      mem.addData("a", "a", "b")
      q.processAllAvailable()
      mem.addData("a", "c", "c", "c")
      q.processAllAvailable()
      val hh = spark
        .sql("SELECT hh FROM hh_stream")
        .collect()(0)
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(hh == Map(
        "a" -> (3L, 3L), // 2 in batch 1 + 1 in batch 2
        "c" -> (3L, 3L),
        "b" -> (1L, 1L)))
    } finally q.stop()
  }

  test("follow tails a stored log as entries are produced") {
    import graft.model.Record
    val dir = tempDir("graft-follow").toString
    val log = new EventLog(spark, dir)
    log.produce("s0", "a", spark.createDataset(Seq(Record(1, "p1"), Record(2, "p2"))), 1000L)
    val q = StreamLog
      .follow(spark, log)
      .writeStream
      .format("memory")
      .queryName("followed")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM followed").count() == 2)
      // live tail: a later produce shows up without restarting the query
      log.produce("s0", "a", spark.createDataset(Seq(Record(3, "p3"))), 2000L)
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT space, segment, sequence FROM followed ORDER BY sequence")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq(("s0", "a", 1L), ("s0", "a", 2L), ("s0", "a", 3L)))
    } finally q.stop()
  }

  test("follow latency: a committed entry is visible within a few poll intervals") {
    // the delivery contract (StreamLog doc): latency is bounded by the
    // trigger interval + one listing/read — poll-interval-bound, not
    // minutes. 250ms trigger, generous multi-interval bound so a noisy
    // host cannot flake the suite while a regression to (say) per-batch
    // full re-reads or a stuck source still fails it.
    import graft.model.Record
    val dir = tempDir("graft-follow-latency").toString
    val log = new EventLog(spark, dir)
    log.produce("s0", "a", spark.createDataset(Seq(Record(1, "p1"))), 1000L)
    val q = StreamLog
      .follow(spark, log)
      .writeStream
      .format("memory")
      .queryName("follow_latency")
      .outputMode("append")
      .trigger(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      q.processAllAvailable() // initial load consumed; steady state
      val t0 = System.nanoTime()
      log.produce("s0", "a", spark.createDataset(Seq(Record(2, "p2"))), 2000L)
      val deadlineNs = t0 + 15_000_000_000L
      var seen = false
      while (!seen && System.nanoTime() < deadlineNs) {
        seen = spark
          .sql("SELECT * FROM follow_latency WHERE sequence = 2")
          .count() == 1
        if (!seen) Thread.sleep(50)
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(seen, s"entry not delivered within 15s (trigger = 250ms)")
      info(s"follow end-to-end latency: ${elapsedMs}ms")
    } finally q.stop()
  }

  test("appendSink lands micro-batches in the EventLog layout") {
    val dir = tempDir("graft-streamlog").toString
    val log = new EventLog(spark, dir)
    val mem = entryStream()
    val entries = mem
      .toDF()
      .withColumn("trxNumber", lit(1L))
      .withColumn("metadata", map().cast("map<string,string>"))
    val q = StreamLog.appendSink(entries, log, s"$dir/ckpt")
    try {
      mem.addData(InEntry("s0", "a", 1, 1000, "p1"), InEntry("s0", "a", 2, 2000, "p2"))
      q.processAllAvailable()
      assert(log.consumeSegment("s0", "a").count() == 2)
      assert(log.peek("s0", "a").get.sequence == 2L)
    } finally q.stop()
  }

  test("observer loop: notifications drive offset re-polls, no loss, no dups") {
    // The reference's push model is a tickle, not a data channel: the
    // server notifies (observer.go), the client re-polls from its own
    // offset (client.go:188-206). Same loop here: `follow` +
    // `segmentStatuses` is the notification feed; on each tickle the
    // consumer re-polls the STORE via consumeSpaceFromOffset and
    // advances its offset to the last entry it saw.
    import graft.model.Record
    import graft.operators.EventOps
    val dir = tempDir("graft-observer").toString
    val log = new EventLog(spark, dir)
    def recs(from: Long, n: Long) =
      spark.createDataset((from until from + n).map(i => Record(i, s"p$i")))
    log.produce("s0", "a", recs(1, 3), 1000L)
    val q = StreamLog
      .segmentStatuses(StreamLog.follow(spark, log).toDF())
      .writeStream
      .format("memory")
      .queryName("observer_notify")
      .outputMode("complete")
      .start()
    try {
      var offset = (0L, "", 0L)
      val consumed = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      def notifiedSegments(): Long =
        spark.sql("SELECT count(*) FROM observer_notify").head().getLong(0)
      def tickleAndPoll(): Int = {
        q.processAllAvailable() // wait for the tickle
        val fresh = EventOps
          .consumeSpaceFromOffset(log.load(), "s0", offset._1, offset._2, offset._3)
          .select("timestamp", "segment", "sequence")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        consumed ++= fresh
        if (fresh.nonEmpty) offset = fresh.last
        fresh.length
      }
      assert(tickleAndPoll() == 3)
      assert(notifiedSegments() == 1)
      // two more produces, one to a brand-new segment with an EARLIER
      // timestamp than the other — the offset resume must pick up both
      log.produce("s0", "b", recs(1, 2), 1500L)
      log.produce("s0", "a", recs(4, 2), 2000L)
      assert(tickleAndPoll() == 4)
      assert(notifiedSegments() == 2)
      // idle tickle: nothing new, nothing re-delivered
      assert(tickleAndPoll() == 0)
      assert(consumed.size == 7 && consumed.distinct.size == 7)
      // incremental consumption ≡ one from-scratch space scan
      val full = EventOps
        .consumeSpace(log.load(), "s0")
        .select("timestamp", "segment", "sequence")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(consumed.toSeq == full.toSeq)
    } finally q.stop()
  }

  test("appendSink batch replay after a lost commit does not duplicate") {
    import graft.model.Record
    val dirA = tempDir("graft-replay-src").toString
    val dirB = tempDir("graft-replay-dst").toString
    val logA = new EventLog(spark, dirA)
    val logB = new EventLog(spark, dirB)
    logA.produce("s0", "a", spark.createDataset(Seq(Record(1, "p1"), Record(2, "p2"))), 1000L)
    val ckpt = s"$dirB/ckpt"
    val q = StreamLog.appendSink(StreamLog.follow(spark, logA), logB, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    assert(logB.consumeSegment("s0", "a").count() == 2)
    // crash simulation: the sink ran, but the streaming commit record
    // was lost — on restart Structured Streaming REPLAYS batch 0
    // (foreachBatch is at-least-once). The checkpoint is cloned to a
    // fresh path (same JVM re-use of a mutated checkpoint trips Spark's
    // concurrent-use guard; a real restart would reuse the path).
    val ckpt2 = s"$dirB/ckpt-replayed"
    val src = java.nio.file.Paths.get(ckpt)
    val dst = java.nio.file.Paths.get(ckpt2)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      // skip Hadoop checksum sidecars: a stale .crc under the clone makes
      // the checksum FS reject the re-written commit record
      else if (!p.getFileName.toString.endsWith(".crc")) Files.copy(p, t)
    } finally walk.close()
    val commit0 = dst.resolve("commits").resolve("0")
    assert(Files.exists(commit0))
    Files.delete(commit0)
    val q2 = StreamLog.appendSink(StreamLog.follow(spark, logA), logB, ckpt2)
    try q2.processAllAvailable()
    finally q2.stop()
    // batch-id marker made the replay a no-op: still exactly 2 entries,
    // contiguous sequences intact
    assert(logB.consumeSegment("s0", "a").count() == 2)
    assert(logB.peek("s0", "a").get.sequence == 2L)
  }
}
