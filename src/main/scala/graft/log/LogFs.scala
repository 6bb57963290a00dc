package graft.log

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Thin Hadoop-FileSystem helpers for the store's control-plane file
  * operations (markers, manifests, staged-file publishes).
  *
  * Everything the log does to files goes through the Hadoop FS API, so
  * the store runs unchanged on any Hadoop-compatible filesystem —
  * `file://` locally, `hdfs://`, `abfs://`, `s3a://` on a cluster (the
  * reference's Azure blob tier, server/azure/, falls out of the same
  * abstraction). Atomicity caveat: `rename` is atomic on local/HDFS/ABFS
  * but copy+delete on S3A — on S3, front the data dir with a
  * manifest-committing layer or use a table format; the marker-based
  * recovery protocols here stay correct either way (they only require
  * that a rename eventually lands, not that it is instant).
  *
  * ==Staged publish: the one way a file enters a live directory==
  *
  * Every writer that appends parquet to a directory readers are listing
  * (the log's `data/`, a dedup archive, an IVF-PQ index) uses one
  * protocol, the filesystem form of the reference's two-phase
  * Write → Commit (pebble/service.go:414-530):
  *
  *  1. '''Stage.''' The Spark job writes into a private staging dir, so
  *     no other writer shares its committer's `_temporary` tree (a
  *     shared-output `SaveMode.Append` loses files that way) and readers
  *     never see a half-written file.
  *  1. '''Prefixed rename''' ([[publish]]). Each staged file moves to
  *     `<root>/<same relative dir>/<prefix><name>`. A rename is atomic
  *     per file, so readers only ever see whole files; the batch as a
  *     whole is not atomic, and a reader between renames can see part
  *     of it. The prefix names the batch, so what a crash mid-publish
  *     left behind is exactly the live files carrying it. A rename
  *     refused because the target exists counts as already published,
  *     so re-running a publish resumes it.
  *  1. '''Marker''' ([[exactlyOnce]]). A streaming sink touches
  *     `<markers>/<sinkId>-batch-<id>.done` after the last rename and
  *     only then drops its staging dir. The marker is the commit point:
  *     a replayed micro-batch (foreachBatch is at-least-once) whose
  *     marker exists is committed, and its only possible leftover is
  *     the staging dir of a crash between marker and cleanup.
  *  1. '''Sweep.''' A replay with no marker but with a staging dir may
  *     have crashed mid-publish. Its staging tree still names every
  *     directory the publish could have written to (renames move files,
  *     never dirs), so the sweep lists only those live directories and
  *     deletes the batch's prefixed files before staging again. Its cost
  *     follows the batch, not the size of the live tree.
  *  1. '''Marker GC.''' A restart replays only batches the streaming
  *     checkpoint has not committed past, so each commit deletes the
  *     sink's markers more than
  *     [[graft.streaming.StreamLog.IngestMarkerKeep]] batches behind it.
  *     Other sinkIds' markers and unparseable names are left alone.
  *
  * `EventLog.produce` and [[TxnLog.commit]] use steps 1-2 with a
  * call-unique or `trx-<id>.` prefix; the three streaming sinks use all
  * five through [[exactlyOnce]]. Compaction's manifest-and-marker swap
  * ([[EventLog.compact]]) and `Rollup`'s single-directory rename are
  * different protocols and do not go through here.
  */
private[graft] object LogFs {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(fs: FileSystem, p: String): Boolean = fs.exists(new Path(p))

  /** Ids that end up in file names (trxIds, sinkIds) are restricted to
    * letters, digits, `_` and `-`: the publish prefixes delimit them
    * with `.` or `-batch-`, and an id holding `.` or `/` would let one
    * id's sweep match another id's files. */
  def requireId(kind: String, id: String): Unit =
    require(
      id.nonEmpty && id.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"invalid $kind (allowed: letters, digits, _, -): '$id'")

  /** Non-recursive list of the .parquet files directly under `dir`. */
  def listParquet(fs: FileSystem, dir: String): Seq[Path] =
    if (!fs.exists(new Path(dir))) Seq.empty
    else
      fs.listStatus(new Path(dir))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
        .toSeq
        .sortBy(_.getName)

  /** All .parquet files under `dir`, any depth. */
  def walkParquet(fs: FileSystem, dir: String): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(new Path(dir), true)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) out += s.getPath
    }
    out.result().sortBy(_.toString)
  }

  def totalBytes(fs: FileSystem, dir: String): Long =
    fs.getContentSummary(new Path(dir)).getLength

  /** Step 2 of the staged publish (see the object doc): move every
    * parquet file under `staging` to
    * `<root>/<same relative dir>/<prefix><name>`. Non-parquet files
    * (committer markers, sidecars) stay behind for the caller's
    * staging-dir delete. */
  def publish(fs: FileSystem, staging: String, root: String, prefix: String): Unit = {
    val base = fs.makeQualified(new Path(staging)).toString
    walkParquet(fs, staging).groupBy(_.getParent).toSeq.sortBy(_._1.toString).foreach {
      case (dir, files) =>
        val rel = dir.toString.stripPrefix(base).stripPrefix("/")
        val dest = new Path(if (rel.isEmpty) root else s"$root/$rel")
        fs.mkdirs(dest)
        files.foreach { p =>
          val target = new Path(dest, prefix + p.getName)
          val moved =
            try fs.rename(p, target)
            catch { case _: FileAlreadyExistsException => false }
          // target names are deterministic: an existing one was
          // published by an earlier, interrupted attempt
          if (!moved) {
            if (fs.exists(target)) fs.delete(p, false)
            else throw new java.io.IOException(s"rename failed: $p -> $target")
          }
        }
    }
  }

  /** Steps 1-5 of the staged publish (see the object doc) for
    * micro-batch `batchId` of streaming sink `sinkId`: `stage` writes the
    * batch into the staging dir it is handed, which is then published
    * into `root` under the `<sinkId>-batch-<batchId>-` prefix and sealed
    * with a marker in `markers`. Returns false, without calling `stage`,
    * when the batch was already committed. */
  def exactlyOnce(
      fs: FileSystem,
      root: String,
      markers: String,
      stagingRoot: String,
      sinkId: String,
      batchId: Long)(stage: String => Unit): Boolean = {
    requireId("sinkId", sinkId)
    val name = s"$sinkId-batch-$batchId"
    val marker = s"$markers/$name.done"
    val staging = s"$stagingRoot/$name"
    if (exists(fs, marker)) {
      deleteRecursive(fs, staging)
      return false
    }
    if (exists(fs, staging)) sweep(fs, new Path(staging), new Path(root), s"$name-")
    stage(staging)
    publish(fs, staging, root, s"$name-")
    touch(fs, marker)
    deleteRecursive(fs, staging)
    val keep = graft.streaming.StreamLog.IngestMarkerKeep
    val own = s"$sinkId-batch-"
    if (batchId >= keep)
      fs.listStatus(new Path(markers)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(own) && n.endsWith(".done"))
          n.stripPrefix(own).stripSuffix(".done").toLongOption match {
            case Some(id) if id < batchId - keep => deleteFile(fs, st.getPath)
            case _                               => ()
          }
      }
    true
  }

  /** Delete the `prefix` files in `live` and in every live directory the
    * staging tree under `staged` names. */
  private def sweep(fs: FileSystem, staged: Path, live: Path, prefix: String): Unit = {
    if (fs.exists(live))
      fs.listStatus(live)
        .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
        .foreach(s => fs.delete(s.getPath, false))
    fs.listStatus(staged)
      .filter(_.isDirectory)
      .foreach(s => sweep(fs, s.getPath, new Path(live, s.getPath.getName), prefix))
  }

  def move(fs: FileSystem, src: Path, dst: Path): Unit = {
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  def deleteRecursive(fs: FileSystem, p: String): Unit =
    fs.delete(new Path(p), true)

  def deleteFile(fs: FileSystem, p: Path): Unit = fs.delete(p, false)

  /** Create an empty marker file (parents included). */
  def touch(fs: FileSystem, p: String): Unit = {
    val path = new Path(p)
    fs.mkdirs(path.getParent)
    fs.create(path, true).close()
  }

  /** Torn-write-safe text write: write to a `.tmp` sibling, then rename
    * into place — a crash mid-write never leaves a truncated file at
    * `p` (recovery protocols read these files and act on their
    * contents, so a partial manifest must be impossible to observe).
    * NOT an atomic replace: overwriting an existing `p` deletes it
    * first (plain HDFS rename won't clobber), so a crash between the
    * delete and the rename leaves NO file — every current caller
    * writes fresh control files whose absence reads as "no operation
    * in progress", the safe direction. A caller that needs
    * replace-atomicity must use FileContext rename with OVERWRITE. */
  def writeText(fs: FileSystem, p: String, text: String): Unit = {
    val target = new Path(p)
    val tmp = new Path(p + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename failed: $tmp -> $target")
  }

  def readLines(fs: FileSystem, p: String): List[String] = {
    val in = fs.open(new Path(p))
    try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }
}
