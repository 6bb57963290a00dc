package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.log.LogFs

/** Incrementally-maintained rollup: a streaming sink that keeps a
  * per-(space, day) aggregate table up to date as entries arrive — the
  * incremental-view-maintenance twin of the q_hll_rollup
  * pre-aggregation pattern (dashboards read summaries, never the raw
  * log).
  *
  * Storage layout is a PARTIAL-aggregate table, not a merged one:
  * every micro-batch lands as one small parquet directory of partial
  * rows (`parts/part-<sinkId>-b<batchId>`), and [[view]] re-aggregates
  * the partials on read. All maintained statistics are mergeable
  * (count-sum / min / max), so merge-on-read is exact, and the read
  * cost is ∝ batches × groups — summary-sized, never log-sized.
  * [[compact]] folds the accumulated partials into one directory when
  * the batch count grows.
  *
  * Exactly-once without a transaction log:
  *   - the sink is idempotent on `(sinkId, batchId)` (foreachBatch is
  *     at-least-once): a batch whose part directory exists is skipped,
  *     and the directory appears via a SINGLE rename of the
  *     fully-written staging dir — the commit point is one atomic FS
  *     operation, so a replay never observes (or produces) a
  *     half-batch. [[compact]] in turn never consumes a sink's newest
  *     batch partial (see its doc): a replayed batch always still finds
  *     its own part dir, so sink ∥ compact cannot double-count;
  *   - [[compact]] uses a manifest + the same single-rename commit
  *     point: a crash before the merged dir's rename rolls BACK (the
  *     staged merge is discarded, original partials intact); a crash
  *     after rolls FORWARD (consumed partials are re-deleted). Either
  *     way [[view]] never double-counts: it recovers the roll-forward
  *     direction itself and ignores an uncommitted manifest (whose
  *     consumed partials are all still present). Roll-back happens
  *     ONLY inside [[compact]] — the sink and [[view]] run safely
  *     concurrently with an in-flight compaction, but at most one
  *     compact() at a time (single maintenance writer, as with
  *     [[graft.log.EventLog.compact]]). One reader caveat, same as
  *     EventLog's: a [[view]] plan EXECUTED across a concurrent
  *     compaction commit can hit deleted partial dirs
  *     (FileNotFoundException) — collect promptly, or pause
  *     compaction around long-lived readers.
  *
  * Like every store path in this library the control plane goes
  * through the Hadoop FileSystem API, so `dir` may be file://, hdfs://,
  * abfs://, s3a:// — note the rename-commit assumes a store with
  * atomic rename (true of HDFS/ABFS; S3A renames are copies, where a
  * real deployment would point `dir` at an HDFS/ABFS scratch tier or
  * swap the commit for a conditional PUT).
  */
object Rollup {

  private val DayUs = 86400000000L

  val partialSchema: StructType = StructType(Seq(
    StructField("space", StringType),
    StructField("day_us", LongType),
    StructField("n", LongType),
    StructField("min_ts", LongType),
    StructField("max_ts", LongType)))

  /** Partial aggregate of one batch of entries (µs `timestamp`). */
  def partials(entries: DataFrame): DataFrame =
    entries
      .withColumn("day_us", expr(s"(timestamp DIV $DayUs) * $DayUs"))
      .groupBy("space", "day_us")
      .agg(
        count(lit(1)).as("n"),
        min("timestamp").as("min_ts"),
        max("timestamp").as("max_ts"))

  /** Batch-partial dir name. `sinkId` namespaces the idempotence state:
    * batchIds restart at 0 for every new checkpoint, so without a
    * distinct sinkId a SECOND pipeline (fresh checkpoint) pointed at the
    * same dir would see the first pipeline's part dirs and silently
    * discard its own early batches as replays — the same contract as
    * [[StreamLog.appendSink]]. */
  private[streaming] def partName(sinkId: String, batchId: Long): String =
    s"part-$sinkId-b$batchId"

  private val PartB = raw"part-(.+)-b(\d+)".r

  /** A compacted generation's dir name. A sink's batch dir never matches
    * (its name ends in `-b<digits>`), whichever letter its id starts
    * with. */
  private val PartC = raw"part-c(\d+)".r

  private def validateSinkId(sinkId: String): Unit =
    require(
      sinkId.nonEmpty && sinkId.forall(c => c.isLetterOrDigit || c == '_'),
      s"sinkId must be [A-Za-z0-9_]+ (it delimits part dir names): '$sinkId'")

  /** Idempotent per-batch write (public so a replay is directly
    * testable): skip if committed, else stage fully and commit with
    * one rename. */
  def writeBatch(
      batch: DataFrame,
      batchId: Long,
      dir: String,
      sinkId: String = "sink0"): Unit = {
    validateSinkId(sinkId)
    val hfs = LogFs.fs(batch.sparkSession, dir)
    // deliberately NO manifest recovery here: the sink's idempotence is
    // self-contained (its own part dir is the marker), and a recover
    // that rolled back would destroy an IN-FLIGHT compaction's staged
    // merge from under it (the sink runs concurrently with compact by
    // design; only compact itself may roll back)
    val target = s"$dir/parts/${partName(sinkId, batchId)}"
    val staging = s"$dir/staging/${partName(sinkId, batchId)}"
    if (!LogFs.exists(hfs, target)) {
      LogFs.deleteRecursive(hfs, staging) // half-written previous attempt
      partials(batch).coalesce(1).write.mode("overwrite").parquet(staging)
      LogFs.move(hfs, new HPath(staging), new HPath(target)) // commit point
    }
  }

  /** Start the maintenance sink. A restart of the same logical pipeline
    * reuses the same (sinkId, checkpoint) pair; a NEW pipeline gets a
    * new sinkId. */
  def sink(
      entries: DataFrame,
      dir: String,
      checkpoint: String,
      sinkId: String = "sink0"): StreamingQuery = {
    validateSinkId(sinkId)
    entries.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, dir, sinkId)
      }
      .start()
  }

  /** The current rollup: partials re-aggregated (exact — every
    * statistic is mergeable). */
  def view(spark: SparkSession, dir: String): DataFrame = {
    val hfs = LogFs.fs(spark, dir)
    val partDirs = resolveParts(hfs, dir)
    if (partDirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], partialSchema)
    else
      spark.read
        .parquet(partDirs.map(p => s"$dir/parts/$p"): _*)
        .groupBy("space", "day_us")
        .agg(
          sum("n").as("n"),
          min("min_ts").as("min_ts"),
          max("max_ts").as("max_ts"))
  }

  /** Fold partial dirs into one. Manifest-guarded: crash-safe in both
    * directions around the single rename commit point.
    *
    * The NEWEST batch partial of every sink is always left out: the
    * streaming checkpoint commits AFTER foreachBatch returns, so the
    * latest batch may be replayed after a crash — if compact() had
    * already folded (and deleted) its part dir, the replaying sink would
    * rewrite it and the batch would count twice. Replay only ever
    * concerns batches the checkpoint has not committed past, which
    * trails by at most one per sink, so skipping each sink's max batch
    * keeps sink ∥ compact exactly-once. Callers that know better can
    * pass `committedHorizons` (sinkId → all batchIds < h are durably in
    * the checkpoint): then only batches ≥ h are skipped — and a sink
    * that is STOPPED compacts fully with `Long.MaxValue`. */
  def compact(
      spark: SparkSession,
      dir: String,
      committedHorizons: Map[String, Long] = Map.empty): Unit = {
    val hfs = LogFs.fs(spark, dir)
    recover(hfs, dir)
    val all = listParts(hfs, dir)
    val maxBatch: Map[String, Long] = all
      .collect { case PartB(sinkId, id) => (sinkId, id.toLong) }
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    def uncommitted(p: String): Boolean = p match {
      case PartB(sinkId, id) =>
        committedHorizons.get(sinkId) match {
          case Some(h) => id.toLong >= h
          case None    => id.toLong == maxBatch(sinkId)
        }
      case _ => false
    }
    val parts = all.filterNot(uncommitted)
    if (parts.size < 2) return
    val gen = 1L + parts
      .collect { case PartC(g) => g.toLong }
      .foldLeft(-1L)(math.max)
    val target = s"part-c$gen"
    val staging = s"$dir/staging/$target"
    LogFs.deleteRecursive(hfs, staging)
    spark.read
      .parquet(parts.map(p => s"$dir/parts/$p"): _*)
      .groupBy("space", "day_us")
      .agg(
        sum("n").as("n"),
        min("min_ts").as("min_ts"),
        max("max_ts").as("max_ts"))
      .coalesce(1)
      .write.mode("overwrite").parquet(staging)
    // manifest BEFORE the commit rename: first line = target, rest =
    // consumed partial dirs (atomic write — a truncated manifest is
    // impossible to observe)
    LogFs.writeText(hfs, s"$dir/compact-manifest", (target +: parts).mkString("\n"))
    LogFs.move(hfs, new HPath(staging), new HPath(s"$dir/parts/$target"))
    parts.foreach(p => LogFs.deleteRecursive(hfs, s"$dir/parts/$p"))
    LogFs.deleteRecursive(hfs, s"$dir/compact-manifest")
  }

  /** Full manifest recovery — compact() only (it is the single
    * maintenance writer): target present → roll forward (finish
    * deleting consumed partials); absent → roll back (discard the
    * staged merge). Rolling back is safe ONLY here: anywhere else the
    * manifest-present/target-absent state is indistinguishable from a
    * compaction that is mid-flight right now. */
  private def recover(hfs: FileSystem, dir: String): Unit = {
    val manifest = s"$dir/compact-manifest"
    if (!LogFs.exists(hfs, manifest)) return
    LogFs.readLines(hfs, manifest) match {
      case target :: consumed =>
        if (LogFs.exists(hfs, s"$dir/parts/$target"))
          consumed.foreach(p => LogFs.deleteRecursive(hfs, s"$dir/parts/$p"))
        else
          LogFs.deleteRecursive(hfs, s"$dir/staging/$target")
      case Nil => ()
    }
    LogFs.deleteRecursive(hfs, manifest)
  }

  /** Read-side part resolution — [[view]] NEVER mutates (every delete
    * belongs to [[compact]], the single maintenance writer), it only
    * decides which part dirs constitute one exact copy of the data:
    *   - manifest with its target present (committed, cleanup maybe
    *     pending or mid-flight): the target IS the merge of the
    *     consumed dirs → read the target, exclude the consumed;
    *   - manifest without its target (crashed before the rename, or a
    *     compaction mid-flight right now): the consumed dirs are the
    *     live data → read them, exclude the target name (it could
    *     appear between this decision and the listing);
    *   - manifest unreadable/vanished mid-read (compact() just
    *     finished): its consumed dirs are already deleted → plain
    *     listing is exact.
    * Every branch yields exactly-once coverage under any interleaving
    * with one concurrent compact(). */
  private def resolveParts(hfs: FileSystem, dir: String): Seq[String] = {
    def readManifest(): List[String] =
      try {
        val m = s"$dir/compact-manifest"
        if (LogFs.exists(hfs, m)) LogFs.readLines(hfs, m) else Nil
      } catch { case scala.util.control.NonFatal(_) => Nil } // vanished mid-read
    // stability loop: a compact cycle RUNNING between these reads
    // perturbs the manifest or the listing (its deletes precede the
    // manifest delete, and its rename changes the listing), so an
    // unchanged (manifest, listing) snapshot is consistent — decide on
    // it; otherwise re-read (bounded: cleanup windows are short)
    var attempt = 0
    while (true) {
      val m1 = readManifest()
      val l1 = listParts(hfs, dir)
      val l2 = listParts(hfs, dir)
      val m2 = readManifest()
      if ((m1 == m2 && l1 == l2) || attempt >= 5) {
        return m1 match {
          case target :: consumed =>
            if (l1.contains(target)) l1.filterNot(consumed.toSet)
            else l1.filterNot(_ == target)
          case Nil => l1
        }
      }
      attempt += 1
    }
    Nil // unreachable
  }

  private def listParts(hfs: FileSystem, dir: String): Seq[String] = {
    val parts = new HPath(s"$dir/parts")
    if (!hfs.exists(parts)) Seq.empty
    else
      hfs
        .listStatus(parts)
        .toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith("part-"))
        .sorted
  }
}
