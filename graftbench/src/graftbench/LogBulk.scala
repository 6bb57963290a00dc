package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.EventLog
import graft.model.Record

/** `log_bulk`: the `log` layer used the other way from `ingest_tail`. A
  * round, on a fresh log, makes one large produce per (space, segment),
  * runs the scan set (`consumeSegment`, `consumeSpace`, multi-space
  * `consume`) into the noop sink, compacts every space, and runs the
  * scan set again. Rounds repeat until the run's seconds are spent. */
final class LogBulk(o: Main.Opts, res: Result) extends Workload {
  import LogBulk._

  private val salt = new scala.util.Random(o.seed).alphanumeric.take(12).mkString
  private val spaces = (0 until Spaces).map(s => s"bulk$s")
  private val segments = (0 until Segments).map(g => s"seg$g")
  private var round = 0

  /** `RecordsPerProduce` seeded records for one segment, built lazily
    * by Spark (payload: salt, segment and a seeded hash of the id). */
  private def records(spark: SparkSession, sp: String, sg: String): Dataset[Record] = {
    import spark.implicits._
    spark
      .range(1, RecordsPerProduce + 1)
      .select(
        col("id").as("sequence"),
        concat_ws("/", lit(salt), lit(sp), lit(sg), col("id"), xxhash64(col("id"), lit(o.seed))).as("payload"),
        typedLit(Map.empty[String, String]).as("metadata"))
      .as[Record]
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def setUp(spark: SparkSession): Unit = {
    // warm-up: a small produce, the scan set and a compaction on a scratch log
    val log = new EventLog(spark, s"${o.workDir}/bulk-warm")
    log.produce("w", "seg0", records(spark, "w", "seg0").limit(1000), 1L)
    noop(log.consumeSegment("w", "seg0"))
    noop(log.consumeSpace("w"))
    noop(log.consume(Map("w" -> None)))
    log.compact("w")
    Proc.rmTree(s"${o.workDir}/bulk-warm")
  }

  def tearDown(): Unit = ()

  private final case class RoundOut(
      wallS: Double,
      cpuS: Double,
      produceCallMs: Seq[Double],
      produceMs: Double,
      scanMs: Double,
      compactMs: Double,
      filesPerProduce: Double,
      dataFiles: Double,
      filesIn: Double,
      filesOut: Double,
      bytesRewrittenMb: Double,
      bytesPerUserByte: Double)

  def run(spark: SparkSession, tracer: Tracer): Unit = {
    val rounds = mutable.ArrayBuffer.empty[RoundOut]
    val budget = new Budget(o.seconds)
    while (budget.more(rounds.size))
      rounds += tracer.span("log_bulk.round", s"r${rounds.size + 1}")(runRound(spark, tracer))
    val rs = rounds.toSeq
    val records = Spaces * Segments * RecordsPerProduce
    res.e2e("work_s", Stats.median(rs.map(_.wallS)), "s")
    res.e2e("latency_ms", Stats.median(rs.map(r => Stats.mean(r.produceCallMs))), "ms")
    res.e2e("cpu_s", Stats.median(rs.map(_.cpuS)), "s")
    res.named("rounds", rs.size.toDouble, "count")
    res.named("produce_rec_per_s", records / (Stats.median(rs.map(_.produceMs)) / 1000.0), "1/s")
    res.named("scan_rec_per_s", 2 * ScanSetRows / (Stats.median(rs.map(_.scanMs)) / 1000.0), "1/s")
    res.named("compact_s", Stats.median(rs.map(_.compactMs)) / 1000.0, "s")
    res.named("space_amp", Stats.median(rs.map(_.bytesPerUserByte)), "ratio")
    if (tracer.enabled) {
      tracer.drain()
      Layers.log(res, tracer)
      Layers.operators(res, tracer)
      res.layer("log.files_per_commit", Stats.median(rs.map(_.filesPerProduce)), "count")
      res.layer("log.data_files", Stats.median(rs.map(_.dataFiles)), "count")
      res.layer("log.bytes_per_user_byte", Stats.median(rs.map(_.bytesPerUserByte)), "ratio")
      res.layer("log.compact_ms", Stats.median(tracer.named("log.compact").map(_.wallMs)), "ms")
      res.layer("log.compact_files_in", Stats.median(rs.map(_.filesIn)), "count")
      res.layer("log.compact_files_out", Stats.median(rs.map(_.filesOut)), "count")
      res.layer("log.compact_bytes_rewritten", Stats.median(rs.map(_.bytesRewrittenMb)), "MB")
    }
  }

  /** Rows the scan set returns: one segment, one space, every space. */
  private val ScanSetRows: Double =
    RecordsPerProduce.toDouble * (1 + Segments + Spaces * Segments)

  private def runRound(spark: SparkSession, tracer: Tracer): RoundOut = {
    round += 1
    val path = s"${o.workDir}/bulk-$round"
    val log = new EventLog(spark, path)
    val dataDir = s"$path/data"
    def timed(body: => Unit): Double = {
      val t = Proc.nowMs
      body
      Proc.nowMs - t
    }
    def scanSet(req: String): Double =
      timed(tracer.span("operators.consume_segment", req)(noop(log.consumeSegment(spaces.head, segments.head)))) +
        timed(tracer.span("operators.consume_space", req)(noop(log.consumeSpace(spaces.head)))) +
        timed(tracer.span("operators.consume_multi", req)(noop(log.consume(spaces.map(_ -> None).toMap))))
    val inputs = for (sp <- spaces; sg <- segments) yield (sp, sg, records(spark, sp, sg))

    // the round's timed phases; the digests between them are not timed
    var wallMs = 0.0
    var cpuS = 0.0
    def phase[A](body: => A): A = {
      val (t, c) = (Proc.nowMs, Proc.cpuS)
      try body
      finally { wallMs += Proc.nowMs - t; cpuS += Proc.cpuS - c }
    }
    val produceCalls = phase(inputs.map { case (sp, sg, recs) =>
      timed(tracer.span("log.produce", s"r$round")(log.produce(sp, sg, recs, round * 1000000L)))
    })
    var scanMs = phase(scanSet(s"r$round-before"))
    val pre = spaces.map(sp => sp -> spaceDigest(log, sp)).toMap
    val filesIn = Proc.parquetFiles(dataDir).size.toDouble
    val bytesIn = Proc.parquetFiles(dataDir).map(_.length).sum.toDouble
    val compactMs = phase(spaces.map(sp => timed(tracer.span("log.compact", s"r$round")(log.compact(sp)))).sum)
    scanMs += phase(scanSet(s"r$round-after"))

    // correctness, outside the timed phases
    spaces.foreach { sp =>
      val post = spaceDigest(log, sp)
      res.check(post == pre(sp), s"round $round $sp: compaction changed (rows, hash) ${pre(sp)} → $post")
      res.check(pre(sp)._1 == Segments.toLong * RecordsPerProduce, s"round $round $sp: ${pre(sp)._1} rows after produce")
    }
    val filesOut = Proc.parquetFiles(dataDir).size.toDouble
    val bytesOut = Proc.parquetFiles(dataDir).map(_.length).sum.toDouble
    val userBytes = log.load().agg(sum(length(col("payload")))).head().getLong(0).toDouble
    Proc.rmTree(path)
    RoundOut(
      wallS = wallMs / 1000.0, cpuS = cpuS,
      produceCallMs = produceCalls, produceMs = produceCalls.sum, scanMs = scanMs, compactMs = compactMs,
      filesPerProduce = filesIn / inputs.size, dataFiles = filesIn,
      filesIn = filesIn / Spaces, filesOut = filesOut / Spaces,
      bytesRewrittenMb = bytesIn / Spaces / Layers.MB,
      bytesPerUserByte = bytesOut / userBytes)
  }

  /** (rows, order-insensitive content hash) of one space. */
  private def spaceDigest(log: EventLog, sp: String): (Long, BigDecimal) = {
    val r = log
      .consumeSpace(sp)
      .agg(count(lit(1)), sum(xxhash64(col("segment"), col("sequence"), col("trxNumber"), col("payload")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

object LogBulk {
  val Spaces = 2
  val Segments = 2
  val RecordsPerProduce = 50000L
}
