package graft.log

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.lit

import graft.model.{Record, SegmentStatus}

/** Two-phase write staging on top of [[EventLog]] — the reference's
  * Write / Commit / Rollback protocol (reference: pebble/service.go:
  * 414-530) mapped onto the staged publish of [[LogFs]]:
  *
  *  - `write` stages a batch under `path/staged/<trxId>/` in the one
  *    Spark job that also validates it (invisible to readers —
  *    `EventLog.load` only reads `path/data`; a refused batch leaves no
  *    staged dir) and rejects a trxId that is already staged (the
  *    reference's checkExistingTransaction),
  *  - `commit` publishes the staged files into the data dir under the
  *    `trx-<id>.` prefix ([[LogFs.publish]]): re-calling `commit` with
  *    the same trxId after a crash resumes the publish. The reference
  *    applies the whole batch atomically inside Pebble; matching that on
  *    a filesystem log would need an fs/object store with multi-file
  *    atomic commit or a manifest-based reader.
  *  - `rollback` deletes the staged directory — mirrors the reference
  *    deleting the staged transaction key; `abort` also deletes the
  *    files a half-finished commit published, found by their prefix.
  *
  * Single-writer-per-segment is assumed, as in the reference.
  */
final class TxnLog(val log: EventLog) {
  private val hfs = log.hfs
  private val stagedRoot = s"${log.path}/staged"
  private val dataDir = s"${log.path}/data"

  /** trxIds go into the `trx-<id>.` prefix: the '.' delimiter, which
    * [[LogFs.requireId]] keeps out of ids, makes it unambiguous —
    * abort("job1") can never match files of "job1-retry". */
  private def validateTrxId(trxId: String): Unit = LogFs.requireId("trxId", trxId)

  /** Whether `trxId` currently has a staged directory. */
  def isStaged(trxId: String): Boolean = {
    validateTrxId(trxId)
    LogFs.exists(hfs, s"$stagedRoot/$trxId")
  }

  /** Stage a contiguous batch under `trxId`. Validation is
    * [[EventLog.produce]]'s, in the same one-pass write
    * ([[EventLog.stage]]), but nothing becomes visible: the rows staged
    * are exactly the rows checked, and a refused or empty batch leaves
    * no staged dir. */
  def write(
      trxId: String,
      space: String,
      segment: String,
      records: Dataset[Record],
      timestampUs: Long,
      trxNumber: Long): Unit = {
    require(!isStaged(trxId), s"transaction already staged: $trxId")
    val last = log.peek(space, segment)
    val lastTrx = last.map(_.trxNumber).getOrElse(0L)
    require(
      trxNumber == lastTrx + 1,
      s"transaction number mismatch: expected ${lastTrx + 1}, got $trxNumber")
    val staged = log.stage(
      space, segment, records, timestampUs, last.map(_.sequence).getOrElse(0L),
      s"$stagedRoot/$trxId")(lit(trxNumber))
    require(staged.nonEmpty, s"empty batch staging trx $trxId")
    val batch = staged.get
    // status sidecar (non-parquet: the publish walk skips it, the
    // staged-dir delete removes it): commit() reads it back so the
    // bus notification carries exact ack bounds without an
    // O(segment-history) readback. AFTER the parquet write — Overwrite
    // recreates the directory.
    LogFs.writeText(
      hfs,
      s"$stagedRoot/$trxId/_status",
      s"${enc(space)} ${enc(segment)} ${batch.lo} ${batch.hi} $timestampUs")
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** The acks the staged sidecar records — one status for the whole
    * batch — or none for dirs staged by pre-sidecar versions (commit
    * then skips the push). */
  private def stagedStatus(trxId: String): Seq[SegmentStatus] = {
    val p = s"$stagedRoot/$trxId/_status"
    if (!LogFs.exists(hfs, p)) Seq.empty
    else
      LogFs.readLines(hfs, p).headOption.toSeq.flatMap { line =>
        line.split(' ') match {
          case Array(sp, seg, lo, hi, ts) =>
            EventLog.chunkStatuses(
              dec(sp), dec(seg), lo.toLong, hi.toLong, ts.toLong,
              chunkSize = hi.toLong - lo.toLong + 1)
          case _ => Seq.empty
        }
      }
  }

  /** Publish a staged transaction into the data dir (see the class doc);
    * an interrupted commit is resumed by calling commit(trxId) again. */
  def commit(trxId: String): Unit = {
    validateTrxId(trxId)
    val stagedDir = s"$stagedRoot/$trxId"
    require(LogFs.exists(hfs, stagedDir), s"transaction not found: $trxId")
    // read the ack sidecar BEFORE the move (the staged dir is deleted on
    // success) — pushed to the bus only after the publish completes
    val acks = stagedStatus(trxId)
    // finally, not post-hoc: a commit dying MID-publish has already made
    // files visible, and a peek cache still holding the pre-commit
    // position would let a later produce validate against a stale
    // high-water mark
    try {
      LogFs.publish(hfs, stagedDir, dataDir, s"trx-$trxId.")
      LogFs.deleteRecursive(hfs, stagedDir)
    } finally log.invalidateCache()
    // after the cache drop: a subscriber peeking from its callback
    // re-scans and sees the committed position, never the stale cache
    log.bus.publish(acks)
  }

  /** Drop a staged transaction (reference: Rollback — delete the staged
    * key, no-op if absent). */
  def rollback(trxId: String): Unit = {
    validateTrxId(trxId)
    LogFs.deleteRecursive(hfs, s"$stagedRoot/$trxId")
  }

  /** Remove every trace of a transaction whose commit failed midway:
    * the staged remainder AND any `trx-<id>.` files the interrupted
    * publish already moved into the data dir. Restores the store to its
    * pre-transaction state so replication can re-pull the committed
    * data from a peer. The sweep is exact: the '.' delimiter cannot
    * appear in a trxId, so `trx-a.` never matches files of `trx-a2` or
    * `trx-a-retry`. */
  def abort(trxId: String): Unit = {
    rollback(trxId)
    if (LogFs.exists(hfs, dataDir)) {
      // finally: deleting published files moves a segment's high-water
      // back — even a PARTIAL sweep must drop the cached position
      try
        LogFs
          .walkParquet(hfs, dataDir)
          .filter(_.getName.startsWith(s"trx-$trxId."))
          .foreach(p => LogFs.deleteFile(hfs, p))
      finally log.invalidateCache()
    }
  }

  def staged(): Seq[String] =
    if (!LogFs.exists(hfs, stagedRoot)) Seq.empty
    else
      hfs
        .listStatus(new HPath(stagedRoot))
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .toSeq
        .sorted
}
