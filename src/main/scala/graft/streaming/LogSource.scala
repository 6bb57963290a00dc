package graft.streaming

import java.util

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.log.{PushBridge, PushNet}
import graft.model.Entry

/** Push-driven DataSource-v2 micro-batch source over an
  * [[graft.log.EventLog]] — the Structured Streaming face of the
  * reference's subscribe-then-consume loop (reference:
  * consumer_context.go:1, client.go:188 SubscribeToSpace → Consume
  * from own offsets). `StreamLog.follow` tails the log's FILES, so its
  * latency is the file-listing poll and lifecycle rewrites confuse it;
  * this source instead tracks the log's own offset model — per-(space,
  * segment) last sequence, exactly the reference's ConsumerContext map
  * — and advances availability the moment a produce ack arrives:
  *
  *  - '''offsets''' are a per-segment high-water map, serialized
  *    sorted (v2 `Offset` equality is json equality).
  *  - '''latestOffset''' merges two feeds: push tickles (a
  *    [[PushNet]] TCP subscription and/or the [[PushBridge]] mailbox —
  *    post-commit acks, so an offset a tickle advanced is always fully
  *    readable) and a rate-limited poll reconcile (one max(sequence)
  *    aggregate per `pollMs`) that bootstraps and recovers dropped
  *    tickles. With a push transport configured there is NO polling
  *    interval in the latency path: produce → ack → next trigger reads.
  *    The TCP feed is a [[PushNet.dial]] client: it re-dials (capped
  *    backoff) after a server restart, and a push host that is down
  *    when the stream starts only delays the feed; acks missed while
  *    it is down are recovered by the poll reconcile.
  *  - '''planInputPartitions''' lists only the spaces with a delta and
  *    emits one partition per data file; readers push the per-segment
  *    `(from, to]` sequence ranges into parquet as a FilterPredicate,
  *    so row-group statistics skip everything but the tail the batch
  *    actually needs — re-listing is O(files), re-reading is O(delta).
  *  - '''exactly-once''': sequences are per-segment contiguous, so a
  *    `(from, to]` range is an idempotent, replayable batch — the
  *    checkpointed offset map resumes mid-stream without loss or dup.
  *
  * Poll-reconcile caveat (shared with every offset poller over a
  * multi-file atomic-rename commit): a produce becomes visible
  * file-at-a-time, so a reconcile that lands mid-rename can compute a
  * max(sequence) whose lower sequences are in a not-yet-renamed file.
  * The push path cannot hit this (acks are post-commit); with only
  * polling, the streaming gap monitor (§2a row 20) is the detector,
  * and `pollMs` should be generous since it is only a fallback.
  *
  * Options: `path` (log root, required); `space` (restrict to one
  * space); `pushHost`+`pushPort` (PushNet TCP tickles); `pushMailbox`
  * (`true` = PushBridge filesystem mailbox tickles); `pollMs`
  * (reconcile cadence, default 2000); `startingOffsets`
  * (`earliest` default / `latest`); `offsetMode` (`segment` default —
  * precise per-segment sequence map, O(segments) checkpoint state — /
  * `spaceWatermark` — one max-timestamp per space, O(spaces) state for
  * unbounded-segment logs; see the field doc for the monotone-timestamp
  * contract it trades for that bound — violations are observable via
  * [[GraftLogSource.watermarkSkippedRows]] and, with
  * `failOnWatermarkRegression=true`, fail the stream).
  *
  * Usage: `spark.readStream.format("graft-log").option("path", p).load()`
  * (or the fully-qualified `graft.streaming.GraftLogSource`).
  */
class GraftLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLogSource.EntrySchema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftLogTable(properties.get("path"), properties)
}

object GraftLogSource {
  val EntrySchema: StructType = Encoders.product[Entry].schema

  /** Push tickles delivered, keyed by log path — monotonic, never
    * reset. The test-observable proof that the PUSH path (not the
    * fallback poll) advanced availability: wall-clock "push beat the
    * poll" assertions flake under full-suite CPU contention, a
    * delivered-count delta does not. Per-PATH (not JVM-global) so a
    * spec's delta can't be satisfied by tickles delivered to a
    * different concurrently-running stream in the same process. */
  private val ticklesByPath =
    new util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  def ticklesDelivered(logPath: String): Long =
    Option(ticklesByPath.get(logPath)).map(_.get()).getOrElse(0L)

  private[streaming] def recordTickle(logPath: String): Unit = {
    ticklesByPath
      .computeIfAbsent(logPath, _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet()
    ()
  }

  /** Rows skipped by the `spaceWatermark` contract, keyed by log path
    * (the [[ticklesDelivered]] pattern — monotonic, never reset): a
    * producer that regresses below a space's already-established
    * watermark violates the mode's documented contract and its rows are
    * silently undeliverable; this counter makes that observable. The
    * poll reconcile detects it ROW-exactly for the cannot-advance
    * class — a space whose row count grew while its max timestamp did
    * not advance got ONLY at-or-below-watermark rows (any row above
    * would have moved the max), so the count delta IS the skipped-row
    * count. A mixed produce (some rows below the watermark, tail above)
    * advances the watermark and its below-rows are not separable from
    * driver-side aggregates — that remains the mode's documented
    * trade; use `offsetMode=segment` when producers can interleave.
    * `failOnWatermarkRegression=true` turns a detection into a stream
    * failure instead of a counter increment. */
  private val skippedByPath =
    new util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  def watermarkSkippedRows(logPath: String): Long =
    Option(skippedByPath.get(logPath)).map(_.get()).getOrElse(0L)

  private[streaming] def recordSkippedRows(logPath: String, n: Long): Unit = {
    skippedByPath
      .computeIfAbsent(logPath, _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .addAndGet(n)
    ()
  }

  /** `(space, segment) → lastSequence`, serialized sorted + URL-encoded
    * (segment names with tabs/newlines survive; json equality IS offset
    * equality in the v2 contract). MUST stay single-line: the offsets
    * checkpoint file is line-based, one line per SOURCE — an embedded
    * newline would make a multi-segment offset parse as extra sources
    * on restart ("[2] sources in the checkpoint ... [1] requested").
    * URL-encoding escapes ';'/'\t' in names, so both are free. */
  private[graft] def encodeOffset(m: Map[(String, String), Long]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    m.toSeq
      .map { case ((sp, seg), n) => s"${enc(sp)}\t${enc(seg)}\t$n" }
      .sorted
      .mkString(";")
  }

  private[graft] def decodeOffset(json: String): Map[(String, String), Long] =
    if (json.isEmpty) Map.empty
    else
      json
        .split(';')
        .map { line =>
          val Array(sp, seg, n) = line.split('\t')
          def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
          (dec(sp), dec(seg)) -> n.toLong
        }
        .toMap

  /** `space → max(timestamp µs)` — the `spaceWatermark` offset mode's
    * state (same single-line/URL-encoding rules as [[encodeOffset]]). */
  private[graft] def encodeSpaceOffset(m: Map[String, Long]): String =
    m.toSeq
      .map { case (sp, ts) => s"${java.net.URLEncoder.encode(sp, "UTF-8")}\t$ts" }
      .sorted
      .mkString(";")

  private[graft] def decodeSpaceOffset(json: String): Map[String, Long] =
    if (json.isEmpty) Map.empty
    else
      json
        .split(';')
        .map { line =>
          val Array(sp, ts) = line.split('\t')
          java.net.URLDecoder.decode(sp, "UTF-8") -> ts.toLong
        }
        .toMap
}

private[streaming] case class GraftLogOffset(seqs: Map[(String, String), Long])
    extends Offset {
  override def json(): String = GraftLogSource.encodeOffset(seqs)
}

/** `spaceWatermark` mode offset: one `max(timestamp)` per SPACE —
  * O(spaces) driver state and checkpoint bytes where [[GraftLogOffset]]
  * is O(segments) (with segment := user_id that map is
  * segment-cardinality-sized; this is the bounded form). */
private[streaming] case class GraftLogSpaceOffset(ts: Map[String, Long])
    extends Offset {
  override def json(): String = GraftLogSource.encodeSpaceOffset(ts)
}

private[streaming] class GraftLogTable(
    path: String,
    properties: util.Map[String, String])
    extends Table
    with SupportsRead {
  require(path != null, "graft-log source requires the 'path' option")
  override def name(): String = s"graft-log:$path"
  override def schema(): StructType = GraftLogSource.EntrySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftLogSource.EntrySchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftLogMicroBatchStream(path, options)
      }
    }
}

private[streaming] class GraftLogMicroBatchStream(
    logPath: String,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream {

  private val dataDir = s"$logPath/data"
  private val spaceFilter = Option(options.get("space"))
  private val pollMs = Option(options.get("pollMs")).map(_.toLong).getOrElse(2000L)
  private val starting = Option(options.get("startingOffsets")).getOrElse("earliest")

  /** `segment` (default): offsets are the per-(space, segment)
    * high-water SEQUENCE map — the precise mode, replay-exact for any
    * timestamp pattern, O(segments) driver state + checkpoint bytes.
    * Use it when segment cardinality is bounded (devices, shards).
    *
    * `spaceWatermark`: offsets are one max(TIMESTAMP µs) per space —
    * O(spaces) state, the bounded form for segment := user_id logs
    * (millions of segments would otherwise serialize per micro-batch).
    * Its contract: a space's produce timestamps must not regress below
    * an already-checkpointed watermark (the log stamps a produce call's
    * entries with its `ts` argument, so monotone producer clocks per
    * space satisfy this); a late entry AT or BELOW the watermark is
    * skipped — choose `segment` mode when that can happen. */
  private val offsetMode = Option(options.get("offsetMode")).getOrElse("segment")
  require(
    offsetMode == "segment" || offsetMode == "spaceWatermark",
    s"offsetMode must be 'segment' or 'spaceWatermark', got '$offsetMode'")
  private val watermarkMode = offsetMode == "spaceWatermark"

  /** `spaceWatermark` regression handling: detections (see
    * [[GraftLogSource.watermarkSkippedRows]]) either bump the per-path
    * counter (default — monitor it like ticklesDelivered) or, with
    * `failOnWatermarkRegression=true`, fail the stream on the driver —
    * for pipelines where a silently-skipped row is worse than an
    * outage. */
  private val failOnRegression =
    Option(options.get("failOnWatermarkRegression")).exists(_.toBoolean)
  // per-space row count at the last reconcile — the regression detector's
  // memory (driver-side, O(spaces), same bound as the offset itself)
  private val lastCounts =
    new util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  // tickle-fed high-water marks: acks are post-commit, so merging
  // max(lastSequence)/max(lastTimestamp) here is always safe and never
  // early. Only the active mode's map is populated.
  private val highWater =
    new util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private val highWaterTs =
    new util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var lastReconcile = 0L

  private def tickle(sp: String, seg: String, lastSeq: Long, lastTs: Long): Unit =
    if (spaceFilter.forall(_ == sp)) {
      if (watermarkMode)
        highWaterTs.merge(
          sp,
          java.lang.Long.valueOf(lastTs),
          (a, b) => if (a >= b) a else b)
      else
        highWater.merge(
          (sp, seg),
          java.lang.Long.valueOf(lastSeq),
          (a, b) => if (a >= b) a else b)
      ()
    }

  private def snapshot: Map[(String, String), Long] =
    highWater.asScala.map { case (k, v) => k -> v.longValue() }.toMap

  private def snapshotTs: Map[String, Long] =
    highWaterTs.asScala.map { case (k, v) => k -> v.longValue() }.toMap

  private val pushClient =
    (Option(options.get("pushHost")), Option(options.get("pushPort"))) match {
      case (Some(h), Some(p)) =>
        Some(PushNet.dial(h, p.toInt, spaceFilter) { st =>
          tickle(st.space, st.segment, st.lastSequence, st.lastTimestamp)
          GraftLogSource.recordTickle(logPath)
        })
      case _ => None
    }

  private val mailboxSub =
    if (Option(options.get("pushMailbox")).exists(_.toBoolean)) {
      val fs = new HPath(logPath).getFileSystem(new Configuration())
      Some(PushBridge.subscriber(fs, logPath, spaceFilter) { st =>
        tickle(st.space, st.segment, st.lastSequence, st.lastTimestamp)
      })
    } else None

  /** Poll reconcile: one per-segment max(sequence)+max(timestamp)
    * aggregate (`spaceWatermark` mode groups by space alone — its
    * result is space-cardinality-sized end to end). Runs in the
    * consuming session's driver; bounded by the log, not the batch. */
  private def scanStatuses(): Map[(String, String), (Long, Long)] = {
    val spark = SparkSession.active
    val fs = new HPath(dataDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(new HPath(dataDir))) Map.empty
    else {
      val base = spark.read
        .schema(GraftLogSource.EntrySchema)
        .option("basePath", dataDir)
        .parquet(dataDir)
      val filtered =
        spaceFilter.foldLeft(base)((df, sp) => df.filter(col("space") === sp))
      if (watermarkMode)
        // the count rides the same aggregate — it feeds the regression
        // detector (count grew + max did not advance ⇒ all new rows are
        // at/below the watermark)
        filtered
          .groupBy("space")
          .agg(max("timestamp").as("lastTs"), org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("cnt"))
          .collect()
          .map(r => (r.getString(0), "") -> (r.getLong(2), r.getLong(1)))
          .toMap
      else
        filtered
          .groupBy("space", "segment")
          .agg(max("sequence").as("last"), max("timestamp").as("lastTs"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
    }
  }

  private def reconcile(force: Boolean): Unit = {
    val now = System.currentTimeMillis()
    if (force || lastReconcile == 0L || now - lastReconcile >= pollMs) {
      lastReconcile = now
      scanStatuses().foreach { case ((sp, seg), (n, ts)) =>
        if (watermarkMode) {
          // regression detector: `n` is the space's row count. If it
          // grew while max(ts) stayed at/below the established
          // watermark, every new row is undeliverable in this mode —
          // count them (row-exact for this class), or fail if asked.
          val wm = highWaterTs.get(sp)
          val prev = lastCounts.put(sp, java.lang.Long.valueOf(n))
          if (prev != null && n > prev.longValue() && wm != null &&
            ts <= wm.longValue()) {
            val delta = n - prev.longValue()
            GraftLogSource.recordSkippedRows(logPath, delta)
            if (failOnRegression)
              throw new IllegalStateException(
                s"spaceWatermark contract violated: $delta row(s) arrived in " +
                  s"space '$sp' at or below its checkpointed watermark " +
                  s"${wm.longValue()} µs (producer timestamps must not " +
                  "regress — use offsetMode=segment for non-monotone " +
                  "producers). Set failOnWatermarkRegression=false to " +
                  "count skips instead of failing.")
          }
        }
        tickle(sp, seg, n, ts)
      }
    }
  }

  private def currentOffset: Offset =
    if (watermarkMode) GraftLogSpaceOffset(snapshotTs) else GraftLogOffset(snapshot)

  override def initialOffset(): Offset =
    if (starting == "latest") { reconcile(force = true); currentOffset }
    else if (watermarkMode) GraftLogSpaceOffset(Map.empty)
    else GraftLogOffset(Map.empty)

  override def latestOffset(): Offset = {
    reconcile(force = false)
    currentOffset
  }

  override def deserializeOffset(json: String): Offset =
    if (watermarkMode) GraftLogSpaceOffset(GraftLogSource.decodeSpaceOffset(json))
    else GraftLogOffset(GraftLogSource.decodeOffset(json))

  /** One partition per data file of every space owing this batch a
    * delta; `segment` mode pushes per-segment `(from, to]` SEQUENCE
    * ranges, `spaceWatermark` mode one `(from, to]` TIMESTAMP range per
    * space — either way row-group statistics skip all but the tail. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val bySpace: Map[String, Either[Map[String, (Long, Long)], (Long, Long)]] =
      if (watermarkMode) {
        val from = start.asInstanceOf[GraftLogSpaceOffset].ts
        val to = end.asInstanceOf[GraftLogSpaceOffset].ts
        to.flatMap { case (sp, hi) =>
          val lo = from.getOrElse(sp, 0L)
          if (hi > lo) Some(sp -> Right((lo, hi))) else None
        }
      } else {
        val from = start.asInstanceOf[GraftLogOffset].seqs
        val to = end.asInstanceOf[GraftLogOffset].seqs
        val delta = to.flatMap { case (k, hi) =>
          val lo = from.getOrElse(k, 0L)
          if (hi > lo) Some(k -> (lo, hi)) else None
        }
        delta.groupBy(_._1._1).map { case (sp, perSpace) =>
          sp -> Left(perSpace.map { case ((_, seg), r) => seg -> r })
        }
      }
    if (bySpace.isEmpty) Array.empty
    else {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val fs = new HPath(dataDir).getFileSystem(conf)
      bySpace.iterator.flatMap { case (space, ranges) =>
        val dir =
          new HPath(s"$dataDir/space=${ExternalCatalogUtils.escapePathName(space)}")
        val files: Array[FileStatus] =
          if (fs.exists(dir))
            fs.listStatus(dir)
              .filter(st =>
                st.isFile && {
                  val n = st.getPath.getName
                  !n.startsWith("_") && !n.startsWith(".")
                })
          else Array.empty
        ranges match {
          case Left(segRanges) =>
            files.map(f =>
              GraftLogInputPartition(f.getPath.toString, space, segRanges))
          case Right(tsRange) =>
            files.map(f =>
              GraftLogInputPartition(f.getPath.toString, space, Map.empty, Some(tsRange)))
        }
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = {
    pushClient.foreach(_.close())
    mailboxSub.foreach(_.close())
  }
}

/** One data file + the ranges its space owes this batch: per-segment
  * `(from, to]` SEQUENCE ranges (`segment` mode) or one `(from, to]`
  * TIMESTAMP range (`spaceWatermark` mode — `ranges` empty). Files
  * belong to one space (partition dir), so the space value rides the
  * partition, not the file. */
private[streaming] case class GraftLogInputPartition(
    file: String,
    space: String,
    ranges: Map[String, (Long, Long)],
    tsRange: Option[(Long, Long)] = None)
    extends InputPartition

private[streaming] class GraftLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftLogPartitionReader(partition.asInstanceOf[GraftLogInputPartition])
}

/** Executor-side reader: parquet-hadoop with the batch's sequence
  * ranges as a FilterPredicate — row-group statistics skip everything
  * outside the delta, so re-reading a file across batches costs its
  * footer plus only the new tail. Emits [[Entry]]-shaped InternalRows. */
private[streaming] class GraftLogPartitionReader(p: GraftLogInputPartition)
    extends PartitionReader[InternalRow] {

  private val predicate: FilterPredicate = p.tsRange match {
    case Some((from, to)) =>
      val ts = FilterApi.longColumn("timestamp")
      FilterApi.and(
        FilterApi.gt(ts, java.lang.Long.valueOf(from)),
        FilterApi.ltEq(ts, java.lang.Long.valueOf(to)))
    case None =>
      val seg = FilterApi.binaryColumn("segment")
      val seq = FilterApi.longColumn("sequence")
      p.ranges
        .map { case (s, (from, to)) =>
          FilterApi.and(
            FilterApi.eq(seg, Binary.fromString(s)),
            FilterApi.and(
              FilterApi.gt(seq, java.lang.Long.valueOf(from)),
              FilterApi.ltEq(seq, java.lang.Long.valueOf(to))))
        }
        .reduce(FilterApi.or)
  }

  private val reader: ParquetReader[Group] = ParquetReader
    .builder(new GroupReadSupport(), new HPath(p.file))
    .withConf(new Configuration())
    .withFilter(FilterCompat.get(predicate))
    .build()

  private val spaceUtf8 = UTF8String.fromString(p.space)
  private var current: Group = _

  override def next(): Boolean = {
    current = reader.read()
    // filter2 already does row-group + record filtering; re-check in
    // case a writer produced stats-free files (belt and braces, cheap)
    while (current != null && !inRange(current)) current = reader.read()
    current != null
  }

  private def inRange(g: Group): Boolean = p.tsRange match {
    case Some((from, to)) =>
      val ts = g.getLong("timestamp", 0)
      ts > from && ts <= to
    case None =>
      p.ranges.get(g.getString("segment", 0)) match {
        case Some((from, to)) =>
          val s = g.getLong("sequence", 0)
          s > from && s <= to
        case None => false
      }
  }

  override def get(): InternalRow = {
    val g = current
    val metadata =
      if (g.getFieldRepetitionCount("metadata") == 0)
        new ArrayBasedMapData(
          new GenericArrayData(Array.empty[Any]),
          new GenericArrayData(Array.empty[Any]))
      else {
        val mg = g.getGroup("metadata", 0)
        val n = mg.getFieldRepetitionCount(0)
        val keys = new Array[Any](n)
        val values = new Array[Any](n)
        var i = 0
        while (i < n) {
          val kv = mg.getGroup(0, i)
          keys(i) = UTF8String.fromString(kv.getString("key", 0))
          values(i) =
            if (kv.getFieldRepetitionCount("value") == 0) null
            else UTF8String.fromString(kv.getString("value", 0))
          i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
      }
    new GenericInternalRow(
      Array[Any](
        spaceUtf8,
        UTF8String.fromString(g.getString("segment", 0)),
        g.getLong("sequence", 0),
        g.getLong("timestamp", 0),
        g.getLong("trxNumber", 0),
        UTF8String.fromString(g.getString("payload", 0)),
        metadata))
  }

  override def close(): Unit =
    try reader.close()
    catch { case NonFatal(_) => () }
}
