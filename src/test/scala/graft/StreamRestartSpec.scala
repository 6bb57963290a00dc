package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamLog
import graft.streaming.StreamLog.InEntry

/** Restart-from-checkpoint parity for the stateful streaming monitors
  * (StreamLog): each monitor runs N micro-batches, is STOPPED, and a new
  * query is started from the same checkpoint directory — the surviving
  * emissions must equal an uninterrupted run bit-for-bit. This is the
  * failure mode the cross-batch specs can't see: HDFS/RocksDB state-store
  * snapshot + replay restoring `GroupState` exactly, not just carrying it
  * between batches of one live query.
  *
  * The final suite entry reruns two monitors under
  * `RocksDBStateStoreProvider` — the provider a 100 TB deployment needs
  * once per-key state outgrows the default in-memory HDFS-backed store.
  */
class StreamRestartSpec extends SparkSpec {

  import spark.implicits._

  /** Feed `batches` through `transform` twice — once uninterrupted, once
    * stopped after `stopAfter` batches and restarted from the same
    * checkpoint dir — and assert the emitted-row multisets are equal.
    * Each addData+processAllAvailable is one micro-batch, identical in
    * both runs, so per-batch emissions are deterministic and multiset
    * equality is exact parity. The sink is foreachBatch into a local
    * buffer (the memory sink refuses checkpoint recovery by design). */
  private def restartParity[I: Encoder](
      transform: Dataset[I] => Dataset[_],
      batches: Seq[Seq[I]],
      stopAfter: Int): Unit = {
    require(stopAfter > 0 && stopAfter < batches.size)
    def start(
        mem: MemoryStream[I],
        ckpt: String,
        sink: java.util.concurrent.ConcurrentLinkedQueue[String]) =
      transform(mem.toDS())
        .toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => sink.add(r.toString))
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    import scala.jdk.CollectionConverters._
    // uninterrupted reference
    val ref = {
      val mem = MemoryStream[I](spark)
      val ckpt = tempDir("graft_ckpt_ref").toString
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = start(mem, ckpt, sink)
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      sink.asScala.toSeq
    }
    // stop after `stopAfter` batches, restart from the same checkpoint
    val mem = MemoryStream[I](spark)
    val ckpt = tempDir("graft_ckpt_restart").toString
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q1 = start(mem, ckpt, sink)
    try batches.take(stopAfter).foreach { b =>
      mem.addData(b: _*); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start(mem, ckpt, sink)
    try batches.drop(stopAfter).foreach { b =>
      mem.addData(b: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(sink.asScala.toSeq.sorted == ref.sorted)
    assert(ref.nonEmpty, "parity trivially holds on zero emissions")
  }

  test("sequenceMonitor state survives restart (lastSequence restored)") {
    restartParity[InEntry](
      StreamLog.sequenceMonitor,
      Seq(
        Seq(InEntry("s0", "a", 1, 1000, "p"), InEntry("s0", "a", 2, 2000, "p")),
        Seq(InEntry("s0", "a", 5, 3000, "p")), // gap 3 → 5, emitted pre-stop
        // post-restart: 6 extends the RESTORED last=5 (no gap); 9 gaps
        Seq(InEntry("s0", "a", 6, 4000, "p"), InEntry("s0", "a", 9, 5000, "p"))),
      stopAfter = 2)
  }

  test("emaStream state survives restart (running ema continues the recurrence)") {
    restartParity[(String, Long, Double)](
      (ds: Dataset[(String, Long, Double)]) => StreamLog.emaStream(ds),
      Seq(
        Seq(("a", 1L, 10.0), ("a", 2L, 12.0), ("b", 1L, 100.0)),
        Seq(("a", 3L, 11.0), ("b", 2L, 90.0)),
        Seq(("a", 4L, 20.0), ("b", 3L, 80.0))),
      stopAfter = 2)
  }

  test("anomalyMonitor state survives restart (Welford mean/m2 restored)") {
    val warm = (1L to 12L).map(i => ("a", i, 10.0))
    restartParity[(String, Long, Double)](
      (ds: Dataset[(String, Long, Double)]) => StreamLog.anomalyMonitor(ds),
      Seq(
        warm, // constant warmup past AnomalyWarmup
        Seq(("a", 13L, 50.0)), // flagged pre-stop, then absorbed into state
        // post-restart flags are judged against the restored mean/m2
        // (which include the absorbed 50.0) — any drift would change
        // the emitted mean/stddev fields
        Seq(("a", 14L, 10.0), ("a", 15L, 99.0))),
      stopAfter = 2)
  }

  test("experimentMonitor state survives restart (both Welford arms restored)") {
    restartParity[(String, Long, Long, Double)](
      (ds: Dataset[(String, Long, Long, Double)]) => StreamLog.experimentMonitor(ds),
      Seq(
        // tuple is (experiment, arm, seq, value)
        Seq(("exp1", 0L, 1L, 1.0), ("exp1", 0L, 2L, 2.0), ("exp1", 1L, 3L, 5.0), ("exp1", 1L, 4L, 6.0)),
        Seq(("exp1", 0L, 5L, 1.5), ("exp1", 1L, 6L, 5.5)),
        // post-restart t/df fold the full history of both arms
        Seq(("exp1", 0L, 7L, 2.5), ("exp1", 1L, 8L, 4.5))),
      stopAfter = 2)
  }

  test("driftMonitor state survives restart (frozen baseline + partial window restored)") {
    val baseline = (1L to 8L).map(i => ("k", i, 10.0 + i)) // fills baselineN=8
    restartParity[(String, Long, Double)](
      (ds: Dataset[(String, Long, Double)]) =>
        StreamLog.driftMonitor(ds, lo = 0.0, hi = 100.0, bins = 4, baselineN = 8L, windowN = 4L),
      Seq(
        baseline,
        // 6 window values: one full window emits pre-stop, 2 remain
        // buffered in the PARTIAL window that must survive the restart
        (9L to 14L).map(i => ("k", i, 60.0 + i)),
        // 2 more complete the straddling window post-restart
        Seq(("k", 15L, 80.0), ("k", 16L, 81.0))),
      stopAfter = 2)
  }

  test("heavyHittersMonitor state survives restart (MG counters + decrement restored)") {
    restartParity[(String, String)](
      (ds: Dataset[(String, String)]) => StreamLog.heavyHittersMonitor(ds, k = 2),
      Seq(
        Seq(("k", "x"), ("k", "x"), ("k", "y"), ("k", "z")), // forces an MG decrement
        Seq(("k", "x"), ("k", "w")),
        Seq(("k", "y"), ("k", "y"), ("k", "x"))),
      stopAfter = 2)
  }

  test("patternMonitor state survives restart (partial match and done flag restored)") {
    restartParity[(String, Long, String)](
      (ds: Dataset[(String, Long, String)]) => StreamLog.patternMonitor(ds),
      Seq(
        // u1 completes pre-stop; u2 anchors A
        Seq(("u1", 1000L, "view"), ("u1", 2000L, "click"), ("u1", 3000L, "purchase"),
          ("u2", 1000L, "view")),
        Seq(("u2", 2000L, "click")),
        // post-restart: u2 completes off the restored aUs/bUs; u1's
        // restored done flag must suppress a second match
        Seq(("u2", 3000L, "purchase"),
          ("u1", 10000L, "view"), ("u1", 11000L, "click"), ("u1", 12000L, "purchase"))),
      stopAfter = 2)
  }

  test("debounce state survives restart (lastKeptUs restored)") {
    restartParity[(String, Long)](
      (ds: Dataset[(String, Long)]) => StreamLog.debounce(ds, gapUs = 15L),
      Seq(
        Seq(("k", 0L), ("k", 10L), ("k", 20L)), // keeps 0, 20
        Seq(("k", 30L), ("k", 40L)), // 30 dropped (last=20), 40 kept
        // post-restart: 50 must be DROPPED against the restored
        // lastKeptUs=40 — a reset state would wrongly keep it
        Seq(("k", 50L), ("k", 60L))),
      stopAfter = 2)
  }

  test("restart parity holds under RocksDBStateStoreProvider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(
      key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      restartParity[(String, Long, Double)](
        (ds: Dataset[(String, Long, Double)]) => StreamLog.emaStream(ds),
        Seq(
          Seq(("a", 1L, 10.0), ("a", 2L, 12.0)),
          Seq(("a", 3L, 11.0)),
          Seq(("a", 4L, 20.0))),
        stopAfter = 2)
      restartParity[(String, Long)](
        (ds: Dataset[(String, Long)]) => StreamLog.debounce(ds, gapUs = 15L),
        Seq(
          Seq(("k", 0L), ("k", 20L)),
          Seq(("k", 40L)),
          Seq(("k", 50L), ("k", 60L))),
        stopAfter = 2)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Forge the crash state between publish and marker for batch 0 of
    * the staged-publish sink `sinkId` writing into `root`: the batch's
    * prefixed files stay published, its staging dir under `stagingDir`
    * comes back holding the (now empty) dirs those files were published
    * from, its marker in `markerDir` is gone, and the streaming commit
    * log loses batch 0 so a restart REPLAYS it. `stagingDir` and
    * `markerDir` are relative to `root`, the files are looked for
    * under `root/liveDir`. */
  private def forgeHalfPublished(
      root: String,
      stagingDir: String,
      markerDir: String,
      sinkId: String,
      ckpt: String,
      liveDir: String = ""): Unit = {
    import scala.jdk.CollectionConverters._
    def fsf(p: String) = new java.io.File(p)
    val batch = s"$sinkId-batch-0"
    assert(fsf(s"$root/$markerDir/$batch.done").delete())
    val live = java.nio.file.Paths.get(root, liveDir)
    val walk = Files.walk(live)
    val published =
      try walk.iterator().asScala.filter(_.getFileName.toString.startsWith(s"$batch-")).toList
      finally walk.close()
    assert(published.nonEmpty)
    published.foreach(p =>
      fsf(s"$root/$stagingDir/$batch/${live.relativize(p.getParent)}").mkdirs())
    assert(fsf(s"$ckpt/commits/0").delete())
    fsf(s"$ckpt/commits/.0.crc").delete()
  }

  test("appendSink is exactly-once through the publish/marker crash window") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_append_eo").toString
    val ckpt = s"$dir/ckpt"
    val log = new graft.log.EventLog(spark, dir)
    val mem = MemoryStream[InEntry](spark)
    def start() = StreamLog.appendSink(
      mem.toDF()
        .withColumn("trxNumber", lit(1L))
        .withColumn("metadata", map().cast("map<string,string>")),
      log, ckpt)
    val q1 = start()
    try {
      mem.addData(
        InEntry("s0", "a", 1, 1000, "p1"), InEntry("s0", "a", 2, 2000, "p2"),
        InEntry("s1", "a", 1, 1000, "q1"))
      q1.processAllAvailable()
    } finally q1.stop()
    forgeHalfPublished(dir, "stream-staging", "stream-commits", "sink0", ckpt, liveDir = "data")
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()
    assert(log.consumeSegment("s0", "a").count() == 2L)
    assert(log.consumeSegment("s1", "a").count() == 1L)
    assert(log.peek("s0", "a").get.sequence == 2L)
    assert(new java.io.File(s"$dir/stream-commits/sink0-batch-0.done").exists)
    assert(!new java.io.File(s"$dir/stream-staging/sink0-batch-0").exists)
  }

  test("nearDupIngest is exactly-once through the publish/marker crash window") {
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val archive = tempDir("graft_neardup_eo").toString
    val ckpt = tempDir("graft_neardup_eo_ck").toString
    def start() = StreamLog.nearDupIngest(
      mem.toDF().toDF("doc_id", "text", "event_time"), archive, ckpt)
    val tiers = Seq("docs", "shingles", "bands")
    def rows() = tiers.map(t =>
      spark.read.parquet(s"$archive/$t").collect().map(_.toString).sorted.toSeq)
    // no state-flush batch after batch 0: constructing one commits
    // offset 0 to the MemoryStream, which then drops the data the replay
    // needs (a durable source keeps it)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val before =
      try {
        val q1 = start()
        try {
          mem.addData(
            (1L, "completely different words about seven yellow submarines " +
              "sailing under nine crimson bridges toward quiet harbors at dawn tide",
              java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
            (2L, "fresh material concerning twelve silver rivers crossing " +
              "green valleys where old stone mills grind amber wheat all summer",
              java.sql.Timestamp.valueOf("2024-01-01 00:00:05")))
          q1.processAllAvailable()
        } finally q1.stop()
        val before = rows()
        assert(before.head.size == 2, s"both docs archived: ${before.head}")
        forgeHalfPublished(archive, "_neardup_staging", "_neardup_commits", "neardup0", ckpt)
        val q2 = start()
        try q2.processAllAvailable()
        finally q2.stop()
        before
      } finally spark.conf.unset(noData)
    assert(rows() == before, "the replay must re-archive each row exactly once")
    assert(new java.io.File(s"$archive/_neardup_commits/neardup0-batch-0.done").exists)
    assert(!new java.io.File(s"$archive/_neardup_staging/neardup0-batch-0").exists)
  }

  test("exactlyOnce marker GC drops only its own sinkId's markers past IngestMarkerKeep") {
    import graft.log.LogFs
    val root = tempDir("graft_marker_gc").toString
    val markers = s"$root/_commits"
    val fs = LogFs.fs(spark, root)
    val keep = StreamLog.IngestMarkerKeep
    val batchId = keep + 2 // GC horizon: ids below batchId - keep = 2 go
    val own = Seq(0L, 1L, 2L, keep, keep + 1).map(i => s"sinkA-batch-$i.done")
    val foreign = Seq("sinkB-batch-0.done", "sinkB-batch-1.done", "sinkA-batch-junk.done")
    (own ++ foreign).foreach(n => LogFs.touch(fs, s"$markers/$n"))
    def commit() = LogFs.exactlyOnce(
      fs, s"$root/live", markers, s"$root/_staging", "sinkA", batchId) { staging =>
      Seq(1, 2).toDF("x").write.parquet(s"$staging/tier")
    }
    assert(commit())
    val left = new java.io.File(markers).list().filterNot(_.startsWith(".")).toSet
    assert(left == (own.drop(2) ++ foreign).toSet + s"sinkA-batch-$batchId.done")
    // the batch landed under its prefix, and its replay is a no-op
    val published = new java.io.File(s"$root/live/tier").list().filter(_.endsWith(".parquet"))
    assert(published.nonEmpty && published.forall(_.startsWith(s"sinkA-batch-$batchId-")))
    assert(!commit())
    assert(spark.read.parquet(s"$root/live/tier").count() == 2L)
  }

  test("ivfPqIngest is exactly-once through the publish/marker crash window; a second sinkId never drops batches") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    import graft.similarity.Ann
    def vec(xs: Double*) = xs.toSeq
    def corpusDf(rows: Seq[(Long, Seq[Double])]) = Ann.withNorm(
      rows.toDF("neighbor_id", "c_v"), "c_v", "c_nrm")
    val cents = Seq(
      (1L, vec(1, 0, 0, 0)), (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0, 1)))
      .toDF("cent_id", "cent_v")
      .withColumn("cent_nrm", VectorFns.norm(col("cent_v")))
    val base = (1 to 4).flatMap(i =>
      Seq.tabulate(3)(j =>
        (i * 10L + j) -> Seq.tabulate(4)(d => if (d == i - 1) 1.0 else 0.01 * (j + 1))))
    val cb = Ann.pqTrain(corpusDf(base), m = 2, ks = 2, dim = 4, iters = 1)
    val path = tempDir("graft_ingest_eo").toString
    val ckpt = tempDir("graft_ingest_eo_ck").toString
    Ann.ivfPqBuild(corpusDf(base), cents, cb, path)

    def counts(tier: String) = spark.read.parquet(s"$path/$tier")
      .groupBy("neighbor_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val mem = MemoryStream[(Long, Seq[Double])](spark)
    val q1 = StreamLog.ivfPqIngest(
      mem.toDS().toDF("neighbor_id", "c_v"), path, ckpt)
    val batch0 = Seq(301L -> vec(0, 1, 0.05, 0), 302L -> vec(0, 0, 0.05, 1))
    try {
      mem.addData(batch0: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(counts("lists").keySet.contains(301L))

    // forge the EXACT crash-between-publish-and-marker state (its
    // staging cent_id= subdirs name the touched partitions)
    def fsf(p: String) = new java.io.File(p)
    forgeHalfPublished(path, "_ingest_staging", "_ingest_commits", "ivfpq0", ckpt)

    // restart from the same (sinkId, checkpoint): batch 0 replays, the
    // sweep removes the half-published files, the republish lands each
    // vector EXACTLY once in each tier
    val q2 = StreamLog.ivfPqIngest(
      mem.toDS().toDF("neighbor_id", "c_v"), path, ckpt)
    try q2.processAllAvailable()
    finally q2.stop()
    val lc = counts("lists")
    val cc = counts("codes")
    assert(lc(301L) == 1L && lc(302L) == 1L, s"duplicate vectors in lists: $lc")
    assert(cc(301L) == 1L && cc(302L) == 1L, s"duplicate vectors in codes: $cc")
    assert(fsf(s"$path/_ingest_commits/ivfpq0-batch-0.done").exists)
    assert(!fsf(s"$path/_ingest_staging/ivfpq0-batch-0").exists)

    // a SECOND pipeline (fresh checkpoint, its own sinkId) against the
    // same index starts at batchId 0 again — its first batch must LAND,
    // not be discarded as a replay of the first pipeline's batch 0 (the
    // trap sinkId namespacing exists to prevent)
    val mem2 = MemoryStream[(Long, Seq[Double])](spark)
    val ckpt2 = tempDir("graft_ingest_eo_ck2").toString
    val q3 = StreamLog.ivfPqIngest(
      mem2.toDS().toDF("neighbor_id", "c_v"), path, ckpt2,
      sinkId = "ivfpq1")
    try {
      mem2.addData(Seq(401L -> vec(1, 0.05, 0, 0)): _*)
      q3.processAllAvailable()
    } finally q3.stop()
    val lc2 = counts("lists")
    assert(lc2.get(401L).contains(1L), s"second sinkId's batch dropped: $lc2")
    assert(fsf(s"$path/_ingest_commits/ivfpq1-batch-0.done").exists)

    // a stray non-numeric file in _ingest_commits must never break the
    // sink (marker GC parses names tolerantly)
    new java.io.FileOutputStream(
      s"$path/_ingest_commits/ivfpq1-batch-junk.done").close()
    val mem3 = MemoryStream[(Long, Seq[Double])](spark)
    val ckpt3 = tempDir("graft_ingest_eo_ck3").toString
    val q4 = StreamLog.ivfPqIngest(
      mem3.toDS().toDF("neighbor_id", "c_v"), path, ckpt3,
      sinkId = "ivfpq2")
    try {
      mem3.addData(Seq(402L -> vec(1, 0.06, 0, 0)): _*)
      q4.processAllAvailable()
    } finally q4.stop()
    assert(counts("lists").get(402L).contains(1L))
  }
}
