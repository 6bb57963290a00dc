package graft.log

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.roaringbitmap.RoaringBitmap

import graft.model.{Entry, Record, SegmentStatus}
import graft.operators.EventOps

/** A parquet-backed spaces/segments event store with the reference's
  * produce/consume semantics (reference: server/pebble/service.go),
  * re-expressed on Spark:
  *
  *  - entries live in an append-only parquet table partitioned by `space`
  *    (partition pruning ≡ the reference's key-prefix scans; at cluster
  *    scale the same layout holds on object storage),
  *  - produce stamps and writes a batch in one Spark job that also
  *    validates its sequence contiguity *distributively* (an exact
  *    bitmap aggregate observed on the write, not a per-record loop),
  *    and chunks the batch into fixed-size transactions exactly like the
  *    reference's 10 000-entry produce chunks (pebble/service.go:307);
  *    nothing is published until the check has passed,
  *  - reads delegate to [[graft.operators.EventOps]] so consume plans are
  *    identical whether the log came from this store or any other source.
  *
  * Single-writer-per-SEGMENT is assumed (same as the reference, where
  * the segment leader serializes writes — sequence validation enforces
  * it); concurrent producers to DIFFERENT spaces/segments of one log
  * are safe: every append goes through the staged publish of
  * [[LogFs]] under a per-call directory, so no two jobs ever share
  * committer staging.
  */
final class EventLog(
    val spark: SparkSession,
    val path: String,
    peekCacheTtlMs: Long = 2 * 60 * 1000L,
    peekCacheSweepMs: Long = 60 * 1000L,
    peekCacheClock: () => Long = () => System.currentTimeMillis()) {
  import spark.implicits._

  private val dataDir = s"$path/data"

  /** All control-plane file ops go through the Hadoop FS of `path`, so
    * the store runs on file://, hdfs://, abfs://, s3a:// alike (see
    * [[LogFs]] for the S3 rename caveat). */
  private[graft] val hfs = LogFs.fs(spark, path)

  def isEmpty: Boolean = !LogFs.exists(hfs, dataDir)

  /** Driver-side hot-path cache of each segment's last committed entry —
    * the reference keeps exactly this cache in front of its LSM so Peek
    * and produce-validation don't scan per call (reference:
    * server/cache.go:1). Correct under the store's
    * single-writer-per-segment rule: every mutation issued through THIS
    * instance maintains it (produce, and publish through it, puts the
    * key from the batch's validated bounds once its publish returns; a
    * publish that throws leaves the key dropped, a refused batch, which
    * publishes nothing, leaves it as it was; synchronize/compact/
    * retain invalidate;
    * [[TxnLog]] commits and [[graft.streaming.StreamLog.appendSink]]
    * batches invalidate). A writer outside this instance must call
    * [[invalidateCache]] — same contract as the reference, whose cache
    * is only coherent on the segment-leader node — but entries also TTL
    * out ([[ExpiringCache]], default 2 min like the reference's
    * pebble/service.go:102), so a forgotten invalidate bounds staleness
    * instead of persisting it for the session. Size is bounded by the
    * (space, segment) pairs this driver actually touches within the
    * TTL, one entry payload each — the reference's expiring envelope. */
  private val peekCache =
    new ExpiringCache[(String, String), Option[Entry]](
      peekCacheTtlMs,
      peekCacheSweepMs,
      peekCacheClock)

  /** Push-notification fan-out for this log: produce/publish (and
    * [[TxnLog.commit]]) publish their [[SegmentStatus]] acks here the
    * moment the write is durably visible — see [[NotificationBus]] for
    * the delivery contract and the reference mapping
    * (broker/bus.go, client.go SubscribeToSpace). */
  val bus = new NotificationBus

  /** Drop every cached segment position (all spaces). */
  def invalidateCache(): Unit = peekCache.clear()

  /** Drop cached positions of one space. */
  def invalidateCache(space: String): Unit =
    peekCache.removeIf(_._1 == space)

  /** The committed log as a DataFrame: the data columns in file order,
    * then `space` as a string. Read with the stored schema, not an
    * inferred one: no footer job, and a space named `007` stays `007`
    * (partition inference would read it back as the int 7). */
  def load(): DataFrame =
    if (isEmpty)
      spark.emptyDataset[Entry].toDF()
    else spark.read.schema(EventLog.StoredSchema).parquet(dataDir)

  /** Append `records` to one segment. Sequences must continue the
    * segment's last committed sequence contiguously. The batch is
    * stamped, chunked into transactions of `chunkSize` and written in
    * one Spark job that validates it as it writes ([[stage]]); it is
    * published only once the check has passed. Returns one
    * [[SegmentStatus]] per chunk, in order.
    * (reference: Produce, pebble/service.go:296-343)
    *
    * The acks and the peek-cache entry come from the bounds validation
    * has proven, not from the written rows: the batch is exactly
    * `[lo, hi]`, so chunk `i` is `[lo + i·chunkSize, min(hi, lo +
    * (i+1)·chunkSize − 1)]` with trxNumber `lastTrx + 1 + i` — the same
    * arithmetic as the `trxNumber` column — and no Spark job runs after
    * the write. */
  def produce(
      space: String,
      segment: String,
      records: Dataset[Record],
      timestampUs: Long,
      chunkSize: Int = 10000): Seq[SegmentStatus] = {
    require(chunkSize > 0, "chunkSize must be positive")
    val last = peek(space, segment)
    val lastTrx = last.map(_.trxNumber).getOrElse(0L)
    val lastSeq = last.map(_.sequence).getOrElse(0L)
    val trx = expr(s"CAST($lastTrx + 1 + (sequence - ${lastSeq + 1}) DIV $chunkSize AS BIGINT)")
    appendEntries(_ == ((space, segment)))(
      stage(space, segment, records, timestampUs, lastSeq, _)(trx))
      .fold(Seq.empty[SegmentStatus]) { b =>
        val statuses =
          EventLog.chunkStatuses(space, segment, b.lo, b.hi, timestampUs, chunkSize)
        peekCache.put(
          (space, segment),
          Some(Entry(
            space = space,
            segment = segment,
            sequence = b.hi,
            timestamp = timestampUs,
            trxNumber = lastTrx + statuses.size,
            payload = b.lastPayload,
            metadata = b.lastMetadata)))
        // push AFTER the cache reflects the commit, so a subscriber that
        // peeks from its callback sees the acknowledged position
        bus.publish(statuses)
        statuses
      }
  }

  /** The one-pass stager shared with [[TxnLog.write]]: writes `records`
    * into `dir`, stamped as entries of `space`/`segment` at
    * `timestampUs` with the trxNumber column `trx`, in ONE Spark job
    * that also checks them. One `observe` on the write carries the
    * batch's count/min/max, the exact contiguity check
    * ([[EventLog.Contiguous]]) and the payload and metadata at the
    * highest sequence for the peek cache, so a single evaluation of
    * `records` feeds both the check and the files — a nondeterministic
    * plan cannot stage rows other than the ones checked. The observe
    * node sits in the write's result stage with no exchange above it:
    * Spark merges a result task's accumulator update once per
    * partition, even on retry.
    *
    * A batch whose estimated size fits one read split
    * (`spark.sql.files.maxPartitionBytes`) is written as one file;
    * a larger one keeps its input partitioning and its parallel write.
    *
    * Returns the batch's bounds and last payload/metadata, or None for
    * an empty batch. Throws `sequence mismatch` unless the batch is
    * exactly `[lastSeq + 1, lastSeq + n]`. On None or a throw `dir` is
    * deleted: nothing of a refused batch stays staged. */
  private[log] def stage(
      space: String,
      segment: String,
      records: Dataset[Record],
      timestampUs: Long,
      lastSeq: Long,
      dir: String)(trx: Column): Option[EventLog.Staged] = {
    val base = lastSeq + 1
    val batch = Observation()
    val entries = records
      .select(
        lit(space).as("space"),
        lit(segment).as("segment"),
        col("sequence"),
        lit(timestampUs).as("timestamp"),
        trx.as("trxNumber"),
        col("payload"),
        col("metadata"))
      .observe(
        batch,
        count(lit(1)).as("n"),
        min("sequence").as("lo"),
        max("sequence").as("hi"),
        udaf(EventLog.Contiguous(base), Encoders.scalaLong)(col("sequence")).as("contiguous"),
        max_by(col("payload"), col("sequence")).as("payload"),
        max_by(col("metadata"), col("sequence")).as("metadata"))
    val oneSplit = records.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.filesMaxPartitionBytes
    var staged: Option[EventLog.Staged] = None
    try {
      (if (oneSplit) entries.coalesce(1) else entries).write
        .mode(SaveMode.Overwrite)
        .partitionBy("space")
        .parquet(dir)
      val m = batch.get
      def metric[T](name: String): T = m(name).asInstanceOf[T]
      val n = metric[Long]("n")
      if (n > 0) {
        val (lo, hi) = (metric[Long]("lo"), metric[Long]("hi"))
        require(
          metric[Boolean]("contiguous"),
          s"sequence mismatch: expected contiguous [$base, ${lastSeq + n}], " +
            s"got [$lo, $hi] in $n records")
        staged = Some(EventLog.Staged(
          lo, hi, metric[String]("payload"),
          metric[scala.collection.Map[String, String]]("metadata").toMap))
      }
    } finally if (staged.isEmpty) LogFs.deleteRecursive(hfs, dir)
    staged
  }

  /** Append through the staged publish of [[LogFs]]: `write` stages into
    * a call-unique dir, whose files are published under its `<token>-`
    * prefix iff `write` returns a result. Staging per call is what makes
    * producers to different segments safe to run concurrently (other
    * threads or other processes). A publish is not transactional across
    * part files, and a throw can leave some of them published, so every
    * publish, failed or not, drops the cached positions `written` selects:
    * the next peek re-scans and validation sees what did land (produce
    * then caches its new position from the batch bounds). A hard crash
    * can leave an inert staging dir under `produce-staging/` — swept
    * here, age-gated so an in-flight concurrent produce is never
    * touched. */
  private def appendEntries[T](written: ((String, String)) => Boolean)(
      write: String => Option[T]): Option[T] = {
    val token = java.util.UUID.randomUUID().toString
    val stagingRoot = s"$path/produce-staging"
    val staging = s"$stagingRoot/$token"
    try {
      val staged = write(staging)
      if (staged.nonEmpty)
        try LogFs.publish(hfs, staging, dataDir, s"$token-")
        finally peekCache.removeIf(written)
      staged
    } finally {
      LogFs.deleteRecursive(hfs, staging)
      // age-gated sweep of staging dirs a crashed producer left behind.
      // The age of a dir is the NEWEST mtime anywhere under it, not the
      // top-level dir mtime: a staging dir's own mtime is set at creation
      // and does not advance while tasks write deep inside _temporary, so
      // gating on it alone could delete a legitimately in-flight produce
      // whose write phase outlives the TTL. A live produce keeps creating
      // files, so its recursive-newest mtime stays fresh.
      try {
        val root = new HPath(stagingRoot)
        if (hfs.exists(root)) {
          val cutoff = System.currentTimeMillis() - 60 * 60 * 1000L
          hfs
            .listStatus(root)
            .filter(s => s.isDirectory && newestMtime(s) < cutoff)
            .foreach(s => { hfs.delete(s.getPath, true); () })
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Newest modification time of `s` or anything beneath it — the
    * liveness signal for the crashed-producer sweep. Bounded: staging
    * trees are one produce's part files plus the committer's
    * `_temporary` (both O(tasks)), and the sweep only recurses into
    * dirs that already LOOK stale at the top. */
  private def newestMtime(s: org.apache.hadoop.fs.FileStatus): Long = {
    var newest = s.getModificationTime
    if (s.isDirectory) {
      try
        hfs.listStatus(s.getPath).foreach { c =>
          val m = newestMtime(c)
          if (m > newest) newest = m
        }
      // a child vanishing mid-scan means the owner is alive: treat as fresh
      catch { case scala.util.control.NonFatal(_) => newest = Long.MaxValue }
    }
    newest
  }

  /** One-off append at peek+1 (reference: Publish, client.go:149):
    * a one-record [[produce]], whose own peek is served from the cache
    * this call's peek has just warmed. */
  def publish(
      space: String,
      segment: String,
      payload: String,
      timestampUs: Long,
      metadata: Map[String, String] = Map.empty): SegmentStatus = {
    val next = peek(space, segment).map(_.sequence).getOrElse(0L) + 1
    produce(
      space, segment, spark.createDataset(Seq(Record(next, payload, metadata))),
      timestampUs).head
  }

  /** Last entry of a segment (reference: Peek, pebble/service.go:224).
    * Served from the driver-side cache when warm — a Peek on a hot
    * segment runs zero Spark jobs, matching the reference's cache-first
    * read (server/cache.go:1); a cold key costs one partition-pruned
    * TakeOrdered scan and warms the cache. */
  def peek(space: String, segment: String): Option[Entry] =
    peekCache.getOrElseUpdate(
      (space, segment), {
        if (isEmpty) None
        else
          load()
            .filter(col("space") === space && col("segment") === segment)
            .orderBy(col("sequence").desc)
            .limit(1)
            .as[Entry]
            .collect()
            .headOption
      })

  def getSpaces(): DataFrame = EventOps.getSpaces(load())

  def getSegments(space: String): DataFrame =
    EventOps.getSegments(load(), space)

  def segmentStatus(): DataFrame = EventOps.segmentStatus(load())

  def consumeSegment(
      space: String,
      segment: String,
      minSequence: Long = 0L,
      maxSequence: Long = 0L,
      minTimestamp: Long = 0L,
      maxTimestamp: Long = 0L): DataFrame =
    EventOps.consumeSegment(
      load(), space, segment, minSequence, maxSequence, minTimestamp,
      maxTimestamp)

  def consumeSpace(
      space: String,
      minTimestamp: Long = 0L,
      maxTimestamp: Long = 0L): DataFrame =
    EventOps.consumeSpace(load(), space, minTimestamp, maxTimestamp)

  def consume(
      offsets: Map[String, Option[(Long, String, Long)]]): DataFrame =
    EventOps.consume(load(), offsets)

  def spaceOffsets(): DataFrame = EventOps.spaceOffsets(load())

  /** Compact one space's partition into ~`targetFileBytes` files. Every
    * produce/commit appends files, so a hot segment accumulates small
    * parquet files — the classic log-store compaction (the reference's
    * LSM store compacts in Pebble; a parquet log does it by rewrite).
    *
    * Crash-safe swap protocol: the compacted generation is written to a
    * staging dir, a `_compact.manifest` (originals + target names) is
    * recorded BEFORE any move, and a `_compact.commit` marker separates
    * the two generations — a crash anywhere leaves enough state for
    * [[recoverCompaction]] to roll back (no marker: originals are all
    * intact, drop the partial new generation) or roll forward (marker:
    * the new generation is fully in place, drop leftover originals).
    * Every compact() first recovers any interrupted predecessor.
    * Single-writer-per-segment is assumed, as everywhere else; a
    * concurrent reader can still observe both generations during the
    * brief move window (the leading-underscore control files themselves
    * are ignored by Spark's file listing) — readers that must never
    * double-read should snapshot before compaction, or the log should
    * live on a store with atomic multi-file commit.
    *
    * Operational ordering: repair any partially-published transaction
    * (`TxnLog.abort(trxId)`) BEFORE compacting or retention-sweeping
    * the space — the rewrite folds `trx-<id>.`-prefixed files into
    * `compacted-*` files, after which the abort sweep can no longer
    * identify that transaction's rows (QuorumLog's inconsistency error
    * names the replicas needing repair).
    * Returns the resulting file count (0 if the space does not exist). */
  def compact(space: String, targetFileBytes: Long = 128L * 1024 * 1024): Int =
    rewriteSpace(space, targetFileBytes)(in => (in, 1.0))

  /** Retention / TTL enforcement: drop every entry of `space` with
    * `timestamp < minTimestamp` — the third log-lifecycle operation
    * next to produce and [[compact]], sharing compact's crash-safe
    * manifest + commit-marker swap (and its failpoints, so the same
    * roll-back/roll-forward guarantees are tested for both).
    *
    * Each segment's max-sequence entry is ALWAYS kept, even when it is
    * older than the cutoff: the high-water mark is derived from the
    * data (peek), so expiring a whole segment would silently restart
    * its numbering at 1 — re-issuing sequences consumers have already
    * seen and making stored offsets filter out everything new. Keeping
    * that one row per segment preserves producer continuity and offset
    * validity through total expiry (and through caller-supplied
    * non-monotonic timestamps, where the newest sequence need not be
    * the newest timestamp). */
  def retain(
      space: String,
      minTimestamp: Long,
      targetFileBytes: Long = 128L * 1024 * 1024): Int =
    rewriteSpace(space, targetFileBytes) { in =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("segment")
      val kept = in
        .withColumn("__hwm", max("sequence").over(w))
        .filter(col("timestamp") >= minTimestamp || col("sequence") === col("__hwm"))
        .drop("__hwm")
      // size the output from the survivors: a retention pass that drops
      // most of the space must not shatter them into pre-retention-many
      // tiny files (the row-count ratio is a fair size proxy; both
      // counts are cheap next to the rewrite)
      val total = in.count()
      (kept, if (total == 0L) 0.0 else kept.count().toDouble / total)
    }

  /** Partition dir name as Spark's `partitionBy` writes it: partition
    * VALUES are escaped (`/`, `=`, `%`, `:`, …), so a raw
    * `space=$space` interpolation would silently miss — and never
    * compact or retention-sweep — any space whose name needs escaping. */
  private def spacePartDir(space: String): String =
    "space=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(space)

  /** Rewrite one space's partition through `transform`, which returns
    * the rows to keep and their estimated fraction of the partition's
    * bytes (the output is sized from it, in ~`targetFileBytes` files). */
  private def rewriteSpace(space: String, targetFileBytes: Long)(
      transform: DataFrame => (DataFrame, Double)): Int = {
    // a rewrite preserves peek semantics (retain keeps each segment's
    // max-sequence row), but invalidating is free and removes any
    // dependence of cache coherence on that invariant
    invalidateCache(space)
    recoverCompaction(space)
    val partPath = s"$dataDir/${spacePartDir(space)}"
    if (!LogFs.exists(hfs, partPath)) return 0
    val (transformed, kept) =
      transform(spark.read.schema(EventLog.DataSchema).parquet(partPath))
    val keptBytes = (LogFs.totalBytes(hfs, partPath) * kept).toLong
    val nFiles =
      math.max(1L, (keptBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val staging = s"$path/compacting-${spacePartDir(space).stripPrefix("space=")}"
    transformed
      .repartition(nFiles)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(staging)
    val originals = LogFs.listParquet(hfs, partPath)
    val stagedFiles = LogFs.listParquet(hfs, staging)
    val targetNames = stagedFiles.zipWithIndex.map { case (p, i) =>
      s"compacted-$i-${p.getName}"
    }
    // manifest first: from here a crash is recoverable in both directions
    val manifestLines =
      staging +:
        (originals.map(p => s"O ${p.getName}") ++ targetNames.map(n => s"S $n"))
    LogFs.writeText(hfs, manifestPath(partPath), manifestLines.mkString("\n"))
    stagedFiles.zip(targetNames).foreach { case (p, name) =>
      LogFs.move(hfs, p, new HPath(partPath, name))
    }
    failpoint("after-moves")
    // commit point: the compacted generation is complete — recovery now
    // rolls forward instead of back
    LogFs.touch(hfs, commitMarkerPath(partPath))
    failpoint("after-marker")
    originals.foreach(p => LogFs.deleteFile(hfs, p))
    LogFs.deleteRecursive(hfs, staging)
    // manifest BEFORE marker: a crash between the deletes then leaves
    // marker-only (harmless, swept by recovery) — the reverse order
    // would leave manifest-only, which recovery reads as "not yet
    // committed" and rolls back the ONLY remaining generation
    LogFs.deleteFile(hfs, new HPath(manifestPath(partPath)))
    LogFs.deleteFile(hfs, new HPath(commitMarkerPath(partPath)))
    stagedFiles.size
  }

  /** Complete or undo a compaction swap interrupted by a crash (see
    * [[compact]]). No-op when no manifest is present. Safe to call on
    * restart for every known space; NOT safe concurrently with an
    * in-flight compact() of the same space (single-writer rule). */
  def recoverCompaction(space: String): Unit = {
    val partPath = s"$dataDir/${spacePartDir(space)}"
    val mf = manifestPath(partPath)
    if (!LogFs.exists(hfs, mf)) {
      // a marker without a manifest = compaction fully applied, crash
      // fell between the two final deletes — sweep the stale marker
      LogFs.deleteFile(hfs, new HPath(commitMarkerPath(partPath)))
      return
    }
    val lines = LogFs.readLines(hfs, mf)
    val staging = lines.head
    val originals = lines.tail.collect { case l if l.startsWith("O ") => l.drop(2) }
    val staged = lines.tail.collect { case l if l.startsWith("S ") => l.drop(2) }
    if (LogFs.exists(hfs, commitMarkerPath(partPath))) {
      // roll forward: every compacted file was moved in before the
      // marker appeared; only original deletion / cleanup can be pending
      originals.foreach(n => LogFs.deleteFile(hfs, new HPath(partPath, n)))
      LogFs.deleteRecursive(hfs, staging)
      LogFs.deleteFile(hfs, new HPath(mf))
      LogFs.deleteFile(hfs, new HPath(commitMarkerPath(partPath)))
      return
    } else {
      // roll back: no original was deleted yet — drop whatever part of
      // the new generation made it in, and the staging dir
      staged.foreach(n => LogFs.deleteFile(hfs, new HPath(partPath, n)))
      LogFs.deleteRecursive(hfs, staging)
    }
    LogFs.deleteFile(hfs, new HPath(mf))
  }

  /** Test hook: crash-point name ("after-moves" | "after-marker") at
    * which [[compact]] throws, simulating a mid-swap crash. */
  private[graft] var compactFailpoint: Option[String] = None

  private def failpoint(name: String): Unit =
    if (compactFailpoint.contains(name))
      throw new IllegalStateException(s"injected compaction crash at $name")

  private def manifestPath(partPath: String) =
    s"$partPath/_compact.manifest"

  private def commitMarkerPath(partPath: String) =
    s"$partPath/_compact.commit"

  /** Anti-entropy catch-up from a peer log (reference: Synchronize /
    * SynchronizeSpace / SynchronizeSegment, pebble/service.go:532):
    * append every entry the peer holds beyond this log's per-segment
    * high-water marks. Runs as one distributed plan — the peer's
    * entries join (broadcast) against this log's per-segment max
    * sequences; only the missing tail is written. Returns the number of
    * entries pulled. Idempotent: a second call pulls 0. */
  def synchronize(remote: EventLog, space: Option[String] = None, segment: Option[String] = None): Long = {
    var remoteDf = remote.load()
    space.foreach(sp => remoteDf = remoteDf.filter(col("space") === sp))
    segment.foreach(sg => remoteDf = remoteDf.filter(col("segment") === sg))

    val localHw =
      if (isEmpty) null
      else
        load()
          .groupBy(col("space").as("hw_space"), col("segment").as("hw_segment"))
          .agg(max("sequence").as("hw_seq"))
    val missing =
      if (localHw == null) remoteDf
      else
        remoteDf
          .join(
            broadcast(localHw),
            col("space") === col("hw_space") && col("segment") === col("hw_segment"),
            "left")
          .filter(col("hw_seq").isNull || col("sequence") > col("hw_seq"))
          .drop("hw_space", "hw_segment", "hw_seq")

    // counted as it is written; the pulled tail may advance any
    // segment's high-water mark
    val pulled = Observation()
    appendEntries(k => space.forall(_ == k._1)) { dir =>
      missing
        .observe(pulled, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).partitionBy("space").parquet(dir)
      Some(pulled.get("n").asInstanceOf[Long]).filter(_ > 0)
    }.getOrElse(0L)
  }
}

private[graft] object EventLog {

  /** The columns of a data file, in file order: every [[Entry]] field
    * but `space`, which lives in the partition path. Nullable, as a
    * parquet read reports them. */
  val DataSchema: StructType = StructType(
    Encoders.product[Entry].schema.fields.collect {
      case f if f.name != "space" => f.copy(nullable = true)
    })

  /** The schema [[EventLog.load]] reads with: the data columns, then
    * the `space` partition column as a string. */
  val StoredSchema: StructType = DataSchema.add("space", StringType)

  /** A staged, validated batch: its sequence bounds and the payload and
    * metadata of the row at `hi`. */
  final case class Staged(
      lo: Long,
      hi: Long,
      lastPayload: String,
      lastMetadata: Map[String, String])

  /** Set in a [[Contiguous]] bitmap when the batch is already known bad.
    * No valid offset reaches it: offsets ≥ `Int.MaxValue` are bad. */
  private val Bad = Int.MaxValue

  /** The exact contiguity check: true iff the sequences are exactly
    * `base, base + 1, …, base + n − 1` in any order. Each sequence sets
    * bit `sequence − base` of a RoaringBitmap. An offset < 0 or
    * ≥ `Int.MaxValue` (a `Long` wrap lands there too), a bit already
    * set, or two partial bitmaps that intersect at merge set the [[Bad]]
    * bit instead; a batch without it is contiguous iff its bitmap is
    * `[0, cardinality − 1]`. The bitmap needs one container per 65 536
    * offsets, and is serialized once per task. */
  final case class Contiguous(base: Long) extends Aggregator[Long, RoaringBitmap, Boolean] {
    def zero: RoaringBitmap = new RoaringBitmap
    def reduce(bits: RoaringBitmap, sequence: Long): RoaringBitmap = {
      val offset = sequence - base
      if (offset < 0 || offset >= Bad || !bits.checkedAdd(offset.toInt)) bits.add(Bad)
      bits
    }
    def merge(a: RoaringBitmap, b: RoaringBitmap): RoaringBitmap = {
      if (RoaringBitmap.intersects(a, b)) a.add(Bad)
      a.or(b)
      a
    }
    def finish(bits: RoaringBitmap): Boolean =
      bits.isEmpty ||
        (!bits.contains(Bad) && bits.first == 0 && bits.last == bits.getLongCardinality - 1)
    def bufferEncoder: Encoder[RoaringBitmap] = Encoders.javaSerialization[RoaringBitmap]
    def outputEncoder: Encoder[Boolean] = Encoders.scalaBoolean
  }

  /** The acks of a batch proven to be exactly `[lo, hi]`, stamped at
    * `timestampUs`: one per `chunkSize` sequences, in order. */
  def chunkStatuses(
      space: String,
      segment: String,
      lo: Long,
      hi: Long,
      timestampUs: Long,
      chunkSize: Long): Seq[SegmentStatus] =
    (lo to hi by chunkSize).map(first =>
      SegmentStatus(
        space = space,
        segment = segment,
        firstSequence = first,
        firstTimestamp = timestampUs,
        lastSequence = math.min(hi, first + chunkSize - 1),
        lastTimestamp = timestampUs))
}
