package graft

import graft.log.EventLog
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Benchmark main: runs every registered query except
  * [[Bench.Excluded]], in name order, on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query is
  * executed to completion through the noop sink (full plan, no driver
  * collect, no disk write skew). */
object Bench {

  /** Registered queries the board does not run. q_dedup_clusters: its
    * clustering fixpoint is measured inside q_pipeline_e2e, which also
    * covers shingling, minhash, quality, and sampling in one composed
    * plan — expect that line to cost roughly the sum of its stages. */
  val Excluded: Set[String] = Set("q_dedup_clusters")

  /** SparkContext local property naming the metric pass a job runs for;
    * [[Counters]] attributes scheduler events by it. */
  val TagProperty = "graft.bench.tag"

  /** Scheduler counters of one tag. */
  final case class Stats(
      jobs: Long = 0L,
      stages: Long = 0L,
      tasks: Long = 0L,
      taskMs: Long = 0L,
      shuffleWriteBytes: Long = 0L,
      shuffleReadBytes: Long = 0L,
      spillBytes: Long = 0L)

  /** Listener summing jobs, completed stages, tasks, executor run time,
    * shuffle bytes and disk spill per [[TagProperty]] value: the
    * "overhead-bound or compute-bound?" breakdown next to each wall time.
    * A job carries the tag of the thread that submitted it (Spark copies
    * local properties into the threads AQE broadcasts and subqueries run
    * on); its stages and their tasks inherit the tag of the job that
    * first lists them. Events arrive on the async listener bus, so a
    * tag's counts are final only once the bus has drained — Bench reads
    * them after `spark.stop()`. */
  final class Counters extends SparkListener {
    private val stageTag = mutable.HashMap.empty[Int, String]
    private val byTag = mutable.HashMap.empty[String, Stats]

    private def update(tag: String)(f: Stats => Stats): Unit =
      byTag(tag) = f(byTag.getOrElse(tag, Stats()))

    def apply(tag: String): Stats = synchronized(byTag.getOrElse(tag, Stats()))

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty(TagProperty))).foreach { tag =>
        update(tag)(c => c.copy(jobs = c.jobs + 1))
        j.stageIds.foreach(id => stageTag.getOrElseUpdate(id, tag))
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stageTag.get(s.stageInfo.stageId).foreach(update(_)(c => c.copy(stages = c.stages + 1)))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      stageTag.get(t.stageId).foreach { tag =>
        val m = t.taskMetrics
        update(tag) { c =>
          if (m == null) c.copy(tasks = c.tasks + 1)
          else
            c.copy(
              tasks = c.tasks + 1,
              taskMs = c.taskMs + m.executorRunTime,
              shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
              shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
              spillBytes = c.spillBytes + m.diskBytesSpilled)
        }
      }
    }
  }

  /** The best pass of one metric: wall seconds, the GC time and process
    * CPU of that same pass, and its [[TagProperty]] tag. */
  final case class Best(seconds: Double, gcMs: Long, cpuMs: Long, tag: String)

  /** Best-of-passes record per metric name. Per-query GC time and process
    * CPU ride along with the wall time, from the SAME pass that produced
    * the best-of wall number: the marathon-vs-quiet gap question ("host
    * steal or plan regression?") becomes mechanical — a query whose wall
    * inflates while cpu_ms stays flat was descheduled, one whose cpu_ms
    * inflates grew work. */
  final class Board(sc: SparkContext) {
    private val best = mutable.HashMap.empty[String, Best]
    private var runs = 0
    private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    private val osBean =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => Some(b)
        case _ => None
      }
    private def gcMsNow(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    private def cpuNsNow(): Long = osBean.map(_.getProcessCpuTime).getOrElse(0L)

    /** Best pass of `name`; None = no successful pass yet. */
    def apply(name: String): Option[Best] = best.get(name)

    /** Times one pass of `name` with its jobs tagged for [[Counters]].
      * Returns whether `body` completed. A FAILED pass never records a
      * wall time: a fast failure would masquerade as the best-of minimum
      * (observed: an OOM'd sf100 pass recorded 0.011 s over a successful
      * 229 s pass). */
    def time(name: String)(body: => Unit): Boolean = {
      runs += 1
      val tag = s"$name#$runs"
      val g0 = gcMsNow()
      val c0 = cpuNsNow()
      val t0 = System.nanoTime()
      sc.setLocalProperty(TagProperty, tag)
      val ok =
        try { body; true }
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        finally sc.setLocalProperty(TagProperty, null)
      val wall = (System.nanoTime() - t0) / 1e9
      if (ok && best.get(name).forall(wall < _.seconds))
        best(name) = Best(wall, gcMsNow() - g0, (cpuNsNow() - c0) / 1000000L, tag)
      ok
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, sfDir)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val board = new Board(spark.sparkContext)

    // JVM/codegen warmup on the smallest table so the first measured
    // query does not pay one-time session costs.
    spark.read.parquet(s"$sfDir/region.parquet").write
      .format("noop").mode("overwrite").save()

    // Three full passes over the query set, best-of per query: a single
    // run pays per-plan codegen + JIT warmth (which rivals execution
    // time at this data size), and the host VM shows multi-second
    // noisy-neighbor windows — interleaving the passes keeps one bad
    // window from covering every run of the same query.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // Optional regex filter for local iteration on a subset ("store_.*",
    // "q_dedup_.*"); the driver never sets it, so round benches run all.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    def keep(name: String): Boolean =
      filter.forall(_.pattern.matcher(name).matches())

    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(Excluded).filter(keep)
    for (_ <- 1 to passes; name <- names) {
      val fn = SparkEntry.queries(name)
      board.time(name) { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
    }
    // Storage-layer throughput (the reference is an event store — its
    // core metric is produce/consume, not just the query layer): produce
    // 100k records into a fresh space-partitioned log, then consume the
    // segment and the space back. Fresh directory per pass (produce is
    // stateful), best-of reported like the queries.
    // Two sizes (100k and 1M rows) so the log tier has its OWN scaling
    // evidence — the query metrics scale with the SF dirs, but the store
    // fixtures are generated, so without the 1M twin every store number
    // is a single point and says nothing about how produce/compact grow.
    // The 10M-row decade is OPT-IN (SPARK_GRAFT_STORE_10M=1): it is the
    // store tier's scaling evidence, not a per-round regression row —
    // best-of-3 at 10M rows would dominate the round bench's wall time.
    val store10m = sys.env.contains("SPARK_GRAFT_STORE_10M")
    def storeRecords(n: Long) = {
      import spark.implicits._
      spark
        .range(1, n + 1)
        .select(
          org.apache.spark.sql.functions.col("id").as("sequence"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("payload-"),
            org.apache.spark.sql.functions.col("id")).as("payload"),
          org.apache.spark.sql.functions.typedLit(Map.empty[String, String]).as("metadata"))
        .as[graft.model.Record]
    }
    def rmTree(dir: String): Unit = {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try
        stream
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      finally stream.close()
    }
    // The store steps, each reading the log its block's produce wrote.
    val consumeSegment: EventLog => Unit =
      _.consumeSegment("bench", "seg0").write.format("noop").mode("overwrite").save()
    val consumeSpace: EventLog => Unit =
      _.consumeSpace("bench").write.format("noop").mode("overwrite").save()
    // hot peek: served from the produce-warmed offset cache — zero Spark
    // jobs (reference: server/cache.go); 1000 calls timed so the metric
    // is measurable at all
    val peekHot: EventLog => Unit = log => {
      var i = 0
      while (i < 1000) { log.peek("bench", "seg0"); i += 1 }
    }
    // compaction: the produce wrote one file per 10k-row chunk, so
    // compact has real small-file work to do at every size
    val compact: EventLog => Unit = _.compact("bench")
    case class StoreBlock(rows: Long, produce: String, steps: Seq[(String, EventLog => Unit)]) {
      val names: Seq[String] = produce +: steps.map(_._1)
    }
    val storeBlocks = Seq(
      StoreBlock(100000L, "store_produce_100k", Seq(
        "store_consume_segment" -> consumeSegment, "store_consume_space" -> consumeSpace,
        "store_peek_hot" -> peekHot, "store_compact_100k" -> compact)),
      StoreBlock(1000000L, "store_produce_1m", Seq(
        "store_consume_segment_1m" -> consumeSegment, "store_consume_space_1m" -> consumeSpace,
        "store_compact_1m" -> compact))) ++
      (if (store10m)
        Seq(StoreBlock(10000000L, "store_produce_10m", Seq(
          "store_consume_segment_10m" -> consumeSegment,
          "store_consume_space_10m" -> consumeSpace, "store_compact_10m" -> compact)))
      else Nil)
    // The steps depend on their block's produce, so a block runs whole —
    // the filter only selects which store metrics are reported (and
    // whether the block runs at all). A failed produce skips the rest of
    // its pass, a failed step records nothing for itself, and the temp
    // log is removed either way.
    for (block <- storeBlocks if block.names.exists(keep); _ <- 1 to passes) {
      val dir = java.nio.file.Files.createTempDirectory("graft-bench-log").toString
      try {
        val log = new EventLog(spark, dir)
        if (board.time(block.produce) {
            log.produce("bench", "seg0", storeRecords(block.rows), 1000000L)
          })
          block.steps.foreach { case (name, step) => board.time(name)(step(log)) }
      } finally rmTree(dir)
    }

    // k-core convergence audit at THIS SF: qKcore peels a FIXED number
    // of rounds for plan determinism; if one more round would still
    // change the core, the fixed depth silently under-peels — surface
    // it here, where the data scale is the bench's, not the spec
    // fixture's.
    // JSON literal: "true"/"false" from the audit, or the distinct
    // string "audit_error" when the audit itself crashed — a failed
    // check must never read as a passing one.
    val kcoreConverged: Option[String] =
      if (keep("q_kcore")) {
        val v =
          try {
            val ok = graft.queries.PipelineQueries.kcoreConverged(spark, sfDir)
            if (!ok)
              System.err.println(
                s"[bench] WARNING: q_kcore fixed rounds did NOT converge at $sfDir")
            ok.toString
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] kcore audit crashed: $e")
              "\"audit_error\""
          }
        Some(v)
      } else None

    spark.stop() // drains the listener bus: every counter below is final

    val reported = names ++ storeBlocks.flatMap(_.names).filter(keep)
    // a metric with NO successful pass reports JSON null (and its name in
    // "failed") — an explicit failure marker, never a 0.0 a reader could
    // mistake for a sub-millisecond timing (scaling_table.py /
    // diff_bench.py both drop null/non-positive entries as unusable); its
    // entries in the parallel maps below are null too
    val failed = reported.filter(board(_).isEmpty)
    def perMetric(value: Best => String): String =
      reported
        .map(k => "\"" + k + "\":" + board(k).fold("null")(value))
        .mkString("{", ",", "}")
    def mb(bytes: Long): String = f"${bytes / 1e6}%.3f"
    val qs = perMetric(b => f"${b.seconds}%.3f")
    val total = reported.flatMap(board(_)).map(_.seconds).sum
    // Full per-query map goes to a file: with ~100 metrics the one-line
    // form is several KB and the driver's tail capture truncates its
    // FRONT, leaving unparseable JSON (BENCH_r03 "parsed": null). The
    // stdout contract is a SHORT line — and it must be the LAST line.
    // "queries" stays name→seconds (the cross-round comparison format);
    // gc_ms / cpu_ms and the scheduler counters (jobs … spill_mb, from
    // [[Counters]]) are ADDITIVE parallel maps from the best-of pass, and
    // "cpus" sizes the core budget tools/overhead_share.py divides by.
    val auxJson = Seq[(String, Best => String)](
      "gc_ms" -> (_.gcMs.toString),
      "cpu_ms" -> (_.cpuMs.toString),
      "jobs" -> (b => counters(b.tag).jobs.toString),
      "stages" -> (b => counters(b.tag).stages.toString),
      "tasks" -> (b => counters(b.tag).tasks.toString),
      "task_ms" -> (b => counters(b.tag).taskMs.toString),
      "shuffle_write_mb" -> (b => mb(counters(b.tag).shuffleWriteBytes)),
      "shuffle_read_mb" -> (b => mb(counters(b.tag).shuffleReadBytes)),
      "spill_mb" -> (b => mb(counters(b.tag).spillBytes)))
      .map { case (k, value) => s""","$k":${perMetric(value)}""" }
      .mkString
    val kcJson =
      kcoreConverged.map(v => s""","kcore_converged":$v""").getOrElse("")
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    // standing annotation: store_peek_hot measures the warm-path peek
    // and legitimately reads ~0.000 s (a driver-cache hit) — since the
    // r13 null convention makes 0.0 look like a suspicious sentinel,
    // say so in-band rather than in a doc nobody reads next to the JSON
    val notesJson =
      if (keep("store_peek_hot"))
        ""","notes":{"store_peek_hot":"cache-hit: ~0s by design (warm driver peek), not a failure sentinel"}"""
      else ""
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$auxJson$kcJson$failedJson$notesJson,"sf":"$sfDir","cpus":$cpus}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The stdout contract line now carries the per-query map itself
    // (round-15, additions-only): the round-14 PERF comparator had
    // per_query/scaling empty and geomean null because the map lived only
    // in BENCH_FULL.json, which the driver does not read. gc_ms/cpu_ms
    // and the counter maps stay file-only to keep this line as short as
    // possible; it is still the LAST stdout line.
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_metrics":${reported.size},"queries":$qs$kcJson$failedJson$notesJson,"sf":"$sfDir","queries_file":"$outFile"}""")
  }
}
