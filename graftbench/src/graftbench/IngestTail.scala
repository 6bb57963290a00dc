package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.log.{EventLog, PushNet, PushNetSubscriber, PushServer}
import graft.model.Record
import graft.streaming.GraftLogSource

/** `ingest_tail`: the reference's own traffic. One closed-loop producer
  * thread makes `Commits` sequenced commits of `RecordsPerCommit`
  * records, round-robin over a seeded order of `Spaces` × `Segments`,
  * waiting on each ack. A push-driven `graft-log` stream (PushNet
  * tickles, `foreachBatch` sink) consumes them meanwhile. Then a fresh
  * `EventLog` (cold peek cache) peeks and tail-consumes every segment
  * the round wrote.
  * A round is that fixed amount of work on a fresh log, so per-commit
  * cost never depends on how fast earlier rounds went; rounds repeat
  * until the run's seconds are spent. */
final class IngestTail(o: Main.Opts, res: Result) extends Workload {
  import IngestTail._

  private val rnd = new scala.util.Random(o.seed)
  // every space in turn (seeded space order, seeded segment order within
  // each space), so each seed spreads the commits over the spaces alike
  private val segments: IndexedSeq[(String, String)] = {
    val spaces = rnd.shuffle((0 until Spaces).map(s => s"space$s"))
    val perSpace = spaces.map(sp => rnd.shuffle((0 until Segments).map(g => (sp, s"seg$g"))))
    (0 until Segments).flatMap(i => perSpace.map(_(i)))
  }
  private val order: IndexedSeq[(String, String)] =
    (0 until Commits).map(i => segments(i % segments.size))
  private val payloadSalt = rnd.alphanumeric.take(16).mkString
  private var round = 0
  private var fx: Fixture = _

  /** One round's log, push server, subscribers and running stream. */
  private final class Fixture(spark: SparkSession) {
    val path = s"${o.workDir}/log-$round"
    val log = new EventLog(spark, path)
    val server: PushServer = PushNet.server(log, bindHost = "127.0.0.1")
    // (space, segment, lastSequence) → wall ms, per observer
    val busAt = new ConcurrentHashMap[(String, String, Long), java.lang.Double]()
    val netAt = new ConcurrentHashMap[(String, String, Long), java.lang.Double]()
    val busSub = log.bus.subscribeAll(st => {
      busAt.putIfAbsent((st.space, st.segment, st.lastSequence), Proc.nowMs); ()
    })
    val net: PushNetSubscriber = PushNet.connect("127.0.0.1", server.boundPort) { st =>
      netAt.putIfAbsent((st.space, st.segment, st.lastSequence), Proc.nowMs); ()
    }
    require(net.awaitReady(), "push subscriber never became ready")
    // every emitted (space, segment, sequence), the backlog each batch
    // found, and when each commit's last record was emitted
    val seen = mutable.ArrayBuffer.empty[(String, String, Long)]
    val backlog = mutable.ArrayBuffer.empty[Int]
    val visibleAt = new ConcurrentHashMap[(String, String, Long), java.lang.Double]()
    @volatile var acked: Vector[(String, String, Long)] = Vector.empty
    val query: StreamingQuery = spark.readStream
      .format("graft-log")
      .option("path", path)
      .option("pushHost", "127.0.0.1")
      .option("pushPort", server.boundPort.toString)
      .load()
      .writeStream
      .option("checkpointLocation", s"${o.workDir}/ckpt-$round")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select("space", "segment", "sequence").collect()
        val now = Proc.nowMs
        if (rows.nonEmpty) {
          val a = acked
          val pending = a.count(k => !visibleAt.containsKey(k))
          seen.synchronized {
            rows.foreach(r => seen += ((r.getString(0), r.getString(1), r.getLong(2))))
            backlog += pending
          }
          val hw = rows.groupBy(r => (r.getString(0), r.getString(1))).map { case (k, rs) =>
            k -> rs.map(_.getLong(2)).max
          }
          a.foreach { case k @ (sp, sg, last) =>
            if (hw.get((sp, sg)).exists(_ >= last)) visibleAt.putIfAbsent(k, now)
          }
        }
        ()
      }
      .start()

    /** Commits `RecordsPerCommit` records to (space, segment) after
      * `last`; returns the new last sequence. */
    def commit(sp: String, sg: String, last: Long, tracer: Tracer, req: String): Long = {
      val recs = records(spark, sp, sg, last)
      // registered before the call: the stream may emit the rows before
      // produce returns (the ack tickle goes out inside the call)
      val want = last + RecordsPerCommit
      acked = acked :+ ((sp, sg, want))
      val st = tracer.span("log.produce", req)(log.produce(sp, sg, recs, System.currentTimeMillis() * 1000L))
      res.check(st.last.lastSequence == want, s"$sp/$sg: ack says ${st.last.lastSequence}, expected $want")
      want
    }

    def awaitVisible(timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (acked.exists(k => !visibleAt.containsKey(k)) && System.currentTimeMillis() < deadline &&
        query.exception.isEmpty) Thread.sleep(2)
      acked.forall(visibleAt.containsKey)
    }

    def close(): Unit = {
      try query.stop()
      finally {
        net.close(); busSub.close(); server.close()
      }
    }
  }

  private def records(spark: SparkSession, sp: String, sg: String, last: Long): Dataset[Record] = {
    import spark.implicits._
    spark.createDataset(
      (last + 1 to last + RecordsPerCommit).map(i => Record(i, s"$payloadSalt/$sp/$sg/$i")))
  }

  private def newFixture(spark: SparkSession): Unit = {
    round += 1
    fx = new Fixture(spark)
    // warm-up commit through the whole path: produce, ack, tickle, batch
    fx.commit(WarmSpace, "seg0", 0L, new Tracer(spark, false), "warm")
    require(fx.awaitVisible(60000L), s"warm-up commit never became visible: ${fx.query.exception}")
    val cold = new EventLog(spark, fx.path)
    cold.peek(WarmSpace, "seg0")
    cold.consumeSegment(WarmSpace, "seg0").collect()
  }

  def setUp(spark: SparkSession): Unit = newFixture(spark)

  def tearDown(): Unit = if (fx != null) { fx.close(); fx = null }

  private val progress = new ProgressLog

  def run(spark: SparkSession, tracer: Tracer): Unit = {
    spark.streams.addListener(progress)
    val rounds = mutable.ArrayBuffer.empty[RoundOut]
    val budget = new Budget(o.seconds)
    try {
      while (budget.more(rounds.size)) {
        if (fx == null) newFixture(spark)
        rounds += tracer.span("ingest_tail.round", s"r$round")(runRound(spark, tracer))
        Proc.note(s"round $round done")
        tearDown()
      }
    } finally spark.streams.removeListener(progress)
    report(rounds.toSeq, tracer)
  }

  private final case class RoundOut(
      wallS: Double,
      cpuS: Double,
      ackMs: Seq[Double],
      visibleMs: Seq[Double],
      tickleMs: Seq[Double],
      delivered: Double,
      dropped: Long,
      peekMs: Seq[Double],
      tailMs: Seq[Double],
      peekGrowth: Double,
      backlogMax: Int,
      filesPerCommit: Double,
      dataFiles: Int,
      tickles: Long,
      queryId: String)

  private def runRound(spark: SparkSession, tracer: Tracer): RoundOut = {
    val f = fx
    val filesBefore = Proc.parquetFiles(s"${f.path}/data").size
    val lastSeq = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val starts = mutable.ArrayBuffer.empty[((String, String, Long), Double, Double)]
    var firstPeekMs = 0.0
    var lastPeekMs = 0.0
    def checkpointPeek(): Double = {
      val (sp, sg) = order.head
      val t = Proc.nowMs
      tracer.span("log.peek_checkpoint")(new EventLog(spark, f.path).peek(sp, sg))
      Proc.nowMs - t
    }
    val cpu0 = Proc.cpuS
    val w0 = Proc.nowMs
    order.zipWithIndex.foreach { case ((sp, sg), i) =>
      if (tracer.enabled && i == Commits / 5) firstPeekMs = checkpointPeek()
      val t = Proc.nowMs
      val last = f.commit(sp, sg, lastSeq((sp, sg)), tracer, s"r$round-c$i")
      starts += (((sp, sg, last), t, Proc.nowMs))
      lastSeq((sp, sg)) = last
    }
    val allVisible = f.awaitVisible(60000L)
    if (tracer.enabled) lastPeekMs = checkpointPeek()
    val cold = new EventLog(spark, f.path)
    val peekMs = mutable.ArrayBuffer.empty[Double]
    val tailMs = mutable.ArrayBuffer.empty[Double]
    val peeks = mutable.ArrayBuffer.empty[((String, String), Option[Long])]
    val tails = mutable.ArrayBuffer.empty[((String, String), Seq[Long])]
    order.distinct.foreach { case k @ (sp, sg) =>
      var t = Proc.nowMs
      val p = tracer.span("log.peek", s"r$round")(cold.peek(sp, sg))
      peekMs += Proc.nowMs - t
      peeks += ((k, p.map(_.sequence)))
      t = Proc.nowMs
      val rows = tracer.span("log.tail", s"r$round")(
        cold.consumeSegment(sp, sg, minSequence = math.max(0L, lastSeq(k) - RecordsPerCommit))
          .select("sequence").collect().map(_.getLong(0)).toSeq)
      tailMs += Proc.nowMs - t
      tails += ((k, rows))
    }
    val wallS = (Proc.nowMs - w0) / 1000.0
    val cpuS = Proc.cpuS - cpu0

    // correctness, outside the timed region
    res.check(allVisible && f.query.exception.isEmpty, s"round $round: not every ack became visible (${f.query.exception})")
    val seen = f.seen.synchronized(f.seen.toVector).filter(_._1 != WarmSpace)
    val bySeg = seen.groupBy(r => (r._1, r._2))
    order.distinct.foreach { k =>
      val got = bySeg.getOrElse(k, Vector.empty).map(_._3).sorted
      val want = 1L to lastSeq(k)
      res.check(got == want, s"round $round $k: stream emitted ${got.size} rows for ${want.size} acked (gap or duplicate)")
    }
    peeks.foreach { case (k, p) =>
      val want = Some(lastSeq(k))
      res.check(p == want, s"round $round $k: cold peek $p, last acked $want")
    }
    tails.foreach { case (k, rows) =>
      val want = (math.max(0L, lastSeq(k) - RecordsPerCommit) + 1) to lastSeq(k)
      res.check(rows == want, s"round $round $k: tail consume returned ${rows.size} rows")
    }

    val ack = starts.map { case (_, a, b) => b - a }.toSeq
    val vis = starts.flatMap { case (k, a, _) => Option(f.visibleAt.get(k)).map(_ - a) }.toSeq
    val tick = starts.flatMap { case (k, _, _) =>
      for (b <- Option(f.busAt.get(k)); n <- Option(f.netAt.get(k))) yield n - b
    }.toSeq
    val filesAfter = Proc.parquetFiles(s"${f.path}/data").size
    RoundOut(
      wallS, cpuS, ack, vis, tick,
      delivered = f.net.delivered.toDouble / (Commits + 1),
      dropped = f.server.droppedCount + f.log.bus.droppedCount,
      peekMs.toSeq, tailMs.toSeq,
      peekGrowth = if (firstPeekMs > 0) lastPeekMs / firstPeekMs else 0.0,
      backlogMax = (0 +: f.backlog.toSeq).max,
      filesPerCommit = (filesAfter - filesBefore).toDouble / Commits,
      dataFiles = filesAfter,
      tickles = GraftLogSource.ticklesDelivered(f.path),
      queryId = f.query.id.toString)
  }

  private def report(rs: Seq[RoundOut], tracer: Tracer): Unit = {
    val ack = rs.flatMap(_.ackMs)
    val vis = rs.flatMap(_.visibleMs)
    res.e2e("work_s", Stats.median(rs.map(_.wallS)), "s")
    res.e2e("latency_ms", Stats.median(vis), "ms")
    res.e2e("cpu_s", Stats.median(rs.map(_.cpuS)), "s")
    res.named("rounds", rs.size.toDouble, "count")
    res.named("ack_p50_ms", Stats.median(ack), "ms")
    res.named("ack_p90_ms", Stats.p90(ack), "ms")
    res.named("visible_p50_ms", Stats.median(vis), "ms")
    res.named("visible_p90_ms", Stats.p90(vis), "ms")
    res.named("cold_peek_ms", Stats.median(rs.flatMap(_.peekMs)), "ms")
    res.named("tail_consume_ms", Stats.median(rs.flatMap(_.tailMs)), "ms")
    if (tracer.enabled) {
      tracer.drain()
      Layers.log(res, tracer)
      res.layer("log.files_per_commit", Stats.median(rs.map(_.filesPerCommit)), "count")
      res.layer("log.data_files", Stats.median(rs.map(_.dataFiles.toDouble)), "count")
      res.layer("log.peek_growth", Stats.median(rs.map(_.peekGrowth)), "ratio")
      val tick = rs.flatMap(_.tickleMs)
      res.layer("push.tickle_p50_ms", Stats.median(tick), "ms")
      res.layer("push.tickle_p90_ms", Stats.p90(tick), "ms")
      res.layer("push.delivered_per_commit", Stats.median(rs.map(_.delivered)), "count")
      res.layer("push.dropped", rs.map(_.dropped).sum.toDouble, "count")
      Layers.streaming(res, tracer, progress.of(rs.map(_.queryId).toSet), rs.map(_.backlogMax).max,
        rs.map(_.tickles).sum)
    }
  }
}

object IngestTail {
  val Spaces = 5
  val Segments = 8
  val RecordsPerCommit = 100
  val Commits = 8
  val WarmSpace = "warmup"
}

/** Every progress event of every streaming query in the session. */
final class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = { events.add(e); () }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(ids: Set[String]): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.toSeq.map(_.progress).filter(p => ids.contains(p.id.toString))
}
