package graft

import java.net.URI

import org.apache.hadoop.fs.{FileUtil, Path => HPath, RawLocalFileSystem}

import graft.log.{EventLog, TxnLog}
import graft.model.Record

/** S3A-style mock filesystem: registered under its own scheme (so every
  * path the store builds must survive URI parsing, not just local path
  * strings) and with rename implemented as copy+delete — the
  * non-atomicity the LogFs doc warns about. An observer between the
  * copy and the delete sees BOTH src and dst. */
class NonAtomicRenameFs extends RawLocalFileSystem {
  import org.apache.hadoop.fs.FileStatus
  import org.apache.hadoop.fs.permission.FsPermission

  override def getScheme: String = "mock3"
  override def getUri: URI = URI.create("mock3:///")
  override def rename(src: HPath, dst: HPath): Boolean = {
    if (!exists(src)) return false
    FileUtil.copy(this, src, this, dst, false, getConf)
    delete(src, true)
    true
  }

  // RawLocal's lazy permission loading does `new java.io.File(uri)`,
  // which rejects a non-file scheme — return statuses with permissions
  // materialized instead (the real object-store connectors do the same:
  // permissions are synthetic there)
  private def scrub(st: FileStatus): FileStatus =
    new FileStatus(
      st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime,
      FsPermission.getDefault, "", "", st.getPath)
  override def listStatus(p: HPath): Array[FileStatus] =
    super.listStatus(p).map(scrub)
  override def getFileStatus(p: HPath): FileStatus =
    scrub(super.getFileStatus(p))
}

/** The store's object-store contract, exercised rather than assumed:
  * every control-plane op goes through the Hadoop FileSystem API, so the
  * whole produce/consume/txn/compact/retain lifecycle must run unchanged
  * on a registered non-file:// scheme — including spaces whose partition
  * dirs need escaping — and the marker/manifest recovery protocols must
  * stay correct when rename is copy+delete (S3A), since they only
  * require that a rename eventually lands, never that it is atomic.
  *
  * Per-scheme rename notes (documented here as the matrix the mock
  * stands in for): file:// and hdfs:// rename atomically; abfs:// renames
  * atomically within a filesystem; s3a:// renames by copy+delete —
  * mid-"rename" both names exist, exactly what this mock reproduces.
  * The store's manifests are torn-write-safe (tmp + rename, complete
  * content before visibility), and both compaction recovery directions
  * tolerate src+dst coexisting, so correctness holds on all four; only
  * the performance of a rename differs.
  */
class ObjectStoreFsSpec extends SparkSpec {

  private def freshLog(): EventLog = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3.impl", classOf[NonAtomicRenameFs].getName)
    val local = tempDir("graft-mock3").toString
    new EventLog(spark, s"mock3://$local")
  }

  private def records(from: Long, n: Long) = {
    import spark.implicits._
    spark.createDataset((from until from + n).map(i => Record(i, s"payload $i")))
  }

  test("full lifecycle on a scheme URI: produce, peek, consume, compact, retain") {
    val log = freshLog()
    assert(log.path.startsWith("mock3://"))
    for (i <- 0 until 3)
      log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))
    // a space whose partition dir needs escaping, through the same URI
    log.produce("logs/2026=a", "seg0", records(1, 5), 1000L)
    assert(log.peek("s0", "seg0").get.sequence == 30L)
    assert(log.consumeSegment("s0", "seg0").count() == 30L)
    assert(log.consumeSpace("logs/2026=a").count() == 5L)
    // lifecycle rewrites: compact + retain over the copy+delete rename
    assert(log.compact("s0") == 1)
    assert(log.consumeSegment("s0", "seg0").count() == 30L)
    log.retain("s0", minTimestamp = 2000L)
    val kept = log.consumeSegment("s0", "seg0").collect()
    assert(kept.map(_.getAs[Long]("sequence")).sorted.toSeq == (11L to 30L))
    assert(log.compact("logs/2026=a") == 1)
    assert(log.consumeSpace("logs/2026=a").count() == 5L)
  }

  test("transactions publish by copy+delete rename: commit resumes, abort purges") {
    val log = freshLog()
    val txn = new TxnLog(log)
    log.produce("s0", "seg0", records(1, 5), 1000L)
    txn.write("trx-a", "s0", "seg0", records(6, 5), 2000L, trxNumber = 2L)
    assert(log.consumeSegment("s0", "seg0").count() == 5) // staged: invisible
    txn.commit("trx-a")
    assert(log.consumeSegment("s0", "seg0").count() == 10)
    // re-calling commit on the published id must not duplicate
    intercept[IllegalArgumentException](txn.commit("trx-a")) // staged dir gone
    txn.write("trx-b", "s0", "seg0", records(11, 5), 3000L, trxNumber = 3L)
    txn.abort("trx-b")
    assert(log.consumeSegment("s0", "seg0").count() == 10)
  }

  test("interrupted compaction recovers in both directions under non-atomic rename") {
    val log = freshLog()
    for (i <- 0 until 3)
      log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))
    val before = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    // crash after the staged files moved in but before the commit marker:
    // recovery must roll BACK to exactly the original rows
    log.compactFailpoint = Some("after-moves")
    intercept[IllegalStateException](log.compact("s0"))
    log.compactFailpoint = None
    log.recoverCompaction("s0")
    assert(log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet == before)
    // crash after the marker: the next lifecycle op rolls FORWARD
    log.compactFailpoint = Some("after-marker")
    intercept[IllegalStateException](log.compact("s0"))
    log.compactFailpoint = None
    assert(log.compact("s0") == 1)
    assert(log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet == before)
  }
}
