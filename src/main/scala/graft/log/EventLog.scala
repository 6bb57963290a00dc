package graft.log

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Entry, Record, SegmentStatus}
import graft.operators.EventOps

/** A parquet-backed spaces/segments event store with the reference's
  * produce/consume semantics (reference: server/pebble/service.go),
  * re-expressed on Spark:
  *
  *  - entries live in an append-only parquet table partitioned by `space`
  *    (partition pruning ≡ the reference's key-prefix scans; at cluster
  *    scale the same layout holds on object storage),
  *  - produce validates sequence contiguity *distributively* (an
  *    aggregate over the batch, not a per-record loop) and chunks the
  *    batch into fixed-size transactions exactly like the reference's
  *    10 000-entry produce chunks (pebble/service.go:307),
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
    * key from the batch's validated bounds once its append returns; an
    * append that throws leaves the key dropped; synchronize/compact/
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

  /** The committed log as a DataFrame in canonical schema. */
  def load(): DataFrame =
    if (isEmpty)
      spark.emptyDataset[Entry].toDF()
    else spark.read.parquet(dataDir)

  /** Append `records` to one segment. Sequences must continue the
    * segment's last committed sequence contiguously — the batch is
    * validated with one aggregate (min/max/count/distinct) instead of a
    * sequential scan, then stamped and chunked into transactions of
    * `chunkSize`. Returns one [[SegmentStatus]] per chunk, in order.
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

    // one materialization feeds validation and the write: uncached, a
    // nondeterministic plan could validate one set of rows and persist
    // another
    val cached = records.cache()
    try {
      val stamped = stampValidated(
        space, segment, cached, timestampUs, last.map(_.sequence).getOrElse(0L))(lo =>
        expr(s"CAST($lastTrx + 1 + (sequence - $lo) DIV $chunkSize AS BIGINT)"))
      stamped.fold(Seq.empty[SegmentStatus]) { b =>
        appendEntries(b.entries, _ == ((space, segment)))
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
    } finally cached.unpersist(false)
  }

  /** The produce checks shared with [[TxnLog.write]]: one aggregate
    * (count/min/max/distinct — distributed, not a per-record loop)
    * proves `records` continue `lastSeq` contiguously, then the rows are
    * stamped as entries of `space`/`segment` at `timestampUs`, with the
    * trxNumber column `trx` builds from the batch's first sequence. The
    * same aggregate carries the payload and metadata at `hi` for the
    * peek cache. None for an empty batch. */
  private[log] def stampValidated(
      space: String,
      segment: String,
      records: Dataset[Record],
      timestampUs: Long,
      lastSeq: Long)(trx: Long => Column): Option[EventLog.Stamped] = {
    val stats = records
      .agg(
        count(lit(1)).as("n"),
        min("sequence").as("lo"),
        max("sequence").as("hi"),
        count_distinct(col("sequence")).as("nd"),
        max_by(col("payload"), col("sequence")),
        max_by(col("metadata"), col("sequence")))
      .head()
    val n = stats.getLong(0)
    if (n == 0) return None // before getLong on lo/hi: both null here
    val (lo, hi, nd) = (stats.getLong(1), stats.getLong(2), stats.getLong(3))
    require(
      lo == lastSeq + 1 && hi == lastSeq + n && nd == n,
      s"sequence mismatch: expected contiguous [${lastSeq + 1}, ${lastSeq + n}], " +
        s"got [$lo, $hi] with $nd distinct of $n")
    val entries = records.select(
      lit(space).as("space"),
      lit(segment).as("segment"),
      col("sequence"),
      lit(timestampUs).as("timestamp"),
      trx(lo).as("trxNumber"),
      col("payload"),
      col("metadata"))
    Some(EventLog.Stamped(
      lo, hi, stats.getString(4), stats.getMap[String, String](5).toMap, entries))
  }

  /** Multi-file append through the staged publish of [[LogFs]], under a
    * call-unique `<token>-` prefix. Staging per call is what makes
    * producers to different segments safe to run concurrently (other
    * threads or other processes). An append is not transactional across
    * part files, and a throw can leave some of them published, so every
    * append, failed or not, drops the cached positions `written` selects:
    * the next peek re-scans and validation sees what did land (produce
    * then caches its new position from the batch bounds). A hard crash
    * can leave an inert staging dir under `produce-staging/` — swept
    * here, age-gated so an in-flight concurrent produce is never
    * touched. */
  private def appendEntries(entries: DataFrame, written: ((String, String)) => Boolean): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val stagingRoot = s"$path/produce-staging"
    val staging = s"$stagingRoot/$token"
    try {
      entries.write.mode(SaveMode.Overwrite).partitionBy("space").parquet(staging)
      LogFs.publish(hfs, staging, dataDir, s"$token-")
    } finally {
      peekCache.removeIf(written)
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
    rewriteSpace(space, identity, targetFileBytes)

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
    rewriteSpace(
      space,
      df => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("segment")
        df.withColumn("__hwm", max("sequence").over(w))
          .filter(col("timestamp") >= minTimestamp || col("sequence") === col("__hwm"))
          .drop("__hwm")
      },
      targetFileBytes)

  /** Partition dir name as Spark's `partitionBy` writes it: partition
    * VALUES are escaped (`/`, `=`, `%`, `:`, …), so a raw
    * `space=$space` interpolation would silently miss — and never
    * compact or retention-sweep — any space whose name needs escaping. */
  private def spacePartDir(space: String): String =
    "space=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(space)

  private def rewriteSpace(
      space: String,
      transform: DataFrame => DataFrame,
      targetFileBytes: Long): Int = {
    // a rewrite preserves peek semantics (retain keeps each segment's
    // max-sequence row), but invalidating is free and removes any
    // dependence of cache coherence on that invariant
    invalidateCache(space)
    recoverCompaction(space)
    val partPath = s"$dataDir/${spacePartDir(space)}"
    if (!LogFs.exists(hfs, partPath)) return 0
    val bytes = LogFs.totalBytes(hfs, partPath)
    val in = spark.read.parquet(partPath)
    val transformed = transform(in)
    // size the output from the POST-transform data: a retention pass
    // that drops most of the space must not shatter the survivors into
    // pre-transform-many tiny files (row-count ratio × bytes is a fair
    // size proxy; both counts are cheap next to the rewrite). Ratio in
    // floating point: bytes × rows would overflow Long at TB scale.
    val keptBytes = {
      val total = in.count()
      if (total == 0L) 0L
      else (bytes * (transformed.count().toDouble / total)).toLong
    }
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
    if (remoteDf.isEmpty) return 0L

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

    val toWrite = missing.cache()
    try {
      val n = toWrite.count()
      // the pulled tail may advance any segment's high-water mark
      if (n > 0) appendEntries(toWrite, k => space.forall(_ == k._1))
      n
    } finally toWrite.unpersist()
  }
}

private[log] object EventLog {

  /** A validated batch: its sequence bounds, the payload and metadata of
    * the row at `hi`, and the rows stamped as entries. */
  final case class Stamped(
      lo: Long,
      hi: Long,
      lastPayload: String,
      lastMetadata: Map[String, String],
      entries: DataFrame)

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
