package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Rollup

/** Incrementally-maintained rollup: exactness vs batch recompute,
  * batch-replay idempotence, and crash-safe compaction in both
  * roll-back and roll-forward directions. */
class RollupSpec extends SparkSpec {

  import spark.implicits._

  private val Day = 86400000000L

  private def entryDf(rows: (String, Long)*) =
    rows.toDF("space", "timestamp")

  test("sink maintains the exact per-(space, day) rollup across batches") {
    val dir = tempDir("graft-rollup").toString
    val mem = MemoryStream[(String, Long)](spark)
    val q = Rollup.sink(
      mem.toDF().toDF("space", "timestamp"), dir, s"$dir/ckpt")
    try {
      mem.addData(("s0", 10L), ("s0", 20L), ("s1", Day + 5L))
      q.processAllAvailable()
      mem.addData(("s0", 30L), ("s0", Day + 1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = Rollup
      .view(spark, dir)
      .orderBy("space", "day_us")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("s0", 0L, 3L, 10L, 30L),
      ("s0", Day, 1L, Day + 1L, Day + 1L),
      ("s1", Day, 1L, Day + 5L, Day + 5L)))
  }

  test("a replayed batch id is a no-op (single-rename commit point)") {
    val dir = tempDir("graft-rollup").toString
    Rollup.writeBatch(entryDf(("s0", 1L), ("s0", 2L)), 0L, dir)
    Rollup.writeBatch(entryDf(("s0", 1L), ("s0", 2L)), 0L, dir) // replay
    Rollup.writeBatch(entryDf(("s0", 3L)), 1L, dir)
    val got = Rollup.view(spark, dir).collect()
    assert(got.length == 1)
    assert(got.head.getLong(2) == 3L) // not 5: batch 0 counted once
  }

  test("end-to-end: follow a live EventLog into the rollup; view equals batch recompute") {
    import graft.model.Record
    val logDir = tempDir("graft-rollup-log").toString
    val dir = tempDir("graft-rollup-view").toString
    val log = new graft.log.EventLog(spark, logDir)
    def recs(from: Long, n: Int) =
      spark.createDataset((0 until n).map(i => Record(from + i, s"p${from + i}")))
    log.produce("s0", "a", recs(1, 3), 1000L)
    val q = Rollup.sink(
      graft.streaming.StreamLog.follow(spark, log).select("space", "timestamp"),
      dir, s"$dir/ckpt")
    try {
      q.processAllAvailable()
      log.produce("s0", "a", recs(4, 2), Day + 7L)
      log.produce("s1", "b", recs(1, 4), Day + 9L)
      q.processAllAvailable()
    } finally q.stop()
    val got = Rollup.view(spark, dir).orderBy("space", "day_us").collect().map(_.toSeq).toSeq
    val want = Rollup.partials(log.load().select("space", "timestamp"))
      .orderBy("space", "day_us").collect().map(_.toSeq).toSeq
    assert(got == want && got.size == 3)
  }

  test("compact folds partials; view identical before and after") {
    val dir = tempDir("graft-rollup").toString
    (0 until 4).foreach(i =>
      Rollup.writeBatch(entryDf(("s0", 10L * i + 1), ("s1", Day + i)), i.toLong, dir))
    val before = Rollup.view(spark, dir).orderBy("space").collect().toSeq
    Rollup.compact(spark, dir)
    val after = Rollup.view(spark, dir).orderBy("space").collect().toSeq
    assert(before == after)
    // folded all but the sink's newest batch (replay protection); a
    // second compact without new batches is a no-op
    def parts() =
      new java.io.File(s"$dir/parts").list().filter(_.startsWith("part-")).sorted.toSeq
    assert(parts() == Seq("part-c0", "part-sink0-b3"))
    Rollup.compact(spark, dir)
    assert(parts() == Seq("part-c0", "part-sink0-b3"))
    assert(Rollup.view(spark, dir).orderBy("space").collect().toSeq == before)
    // sink stopped -> an explicit horizon folds everything
    Rollup.compact(spark, dir, Map("sink0" -> Long.MaxValue))
    assert(parts() == Seq("part-c1"))
    assert(Rollup.view(spark, dir).orderBy("space").collect().toSeq == before)
  }

  test("compact reads only part-c<digits> as a generation: a sink id starting with c compacts") {
    val dir = tempDir("graft-rollup").toString
    (0 until 3).foreach(i =>
      Rollup.writeBatch(entryDf(("s0", 10L * i + 1), ("s1", Day + i)), i.toLong, dir, "cdc"))
    val before = Rollup.view(spark, dir).orderBy("space").collect().toSeq
    Rollup.compact(spark, dir)
    assert(Rollup.view(spark, dir).orderBy("space").collect().toSeq == before)
    val parts = new java.io.File(s"$dir/parts").list().filter(_.startsWith("part-")).sorted.toSeq
    assert(parts == Seq("part-c0", "part-cdc-b2"))
  }

  test("compact never consumes a sink's newest batch: a checkpoint-lagged replay stays a no-op") {
    val dir = tempDir("graft-rollup").toString
    (0 until 3).foreach(i => Rollup.writeBatch(entryDf(("s0", i.toLong)), i.toLong, dir))
    val want = Rollup.view(spark, dir).collect().toSeq
    Rollup.compact(spark, dir)
    // the newest batch partial must survive compaction...
    assert(new java.io.File(s"$dir/parts/part-sink0-b2").exists())
    // ...because a crash BEFORE the streaming checkpoint commits batch 2
    // makes foreachBatch replay it — the part dir still being present is
    // exactly what makes the replay a no-op instead of a double count
    Rollup.writeBatch(entryDf(("s0", 2L)), 2L, dir)
    assert(Rollup.view(spark, dir).collect().toSeq == want)
  }

  test("distinct sinkIds namespace batch idempotence (two pipelines, one rollup dir)") {
    val dir = tempDir("graft-rollup").toString
    Rollup.writeBatch(entryDf(("s0", 1L)), 0L, dir, "p1")
    // a NEW pipeline's batchIds restart at 0 — its batch must not be
    // mistaken for p1's committed batch 0
    Rollup.writeBatch(entryDf(("s0", 2L)), 0L, dir, "p2")
    val got = Rollup.view(spark, dir).collect()
    assert(got.length == 1 && got.head.getLong(2) == 2L)
    intercept[IllegalArgumentException](
      Rollup.writeBatch(entryDf(("s0", 1L)), 0L, dir, "bad-id"))
  }

  test("compaction crash windows: roll back before the rename, roll forward after") {
    val dir = tempDir("graft-rollup").toString
    (0 until 3).foreach(i => Rollup.writeBatch(entryDf(("s0", i.toLong)), i.toLong, dir))
    val want = Rollup.view(spark, dir).collect().toSeq

    // crash (or in-flight compaction) BEFORE the commit rename: staged
    // merge + manifest exist, target does not. view must stay exact and
    // must NOT touch the state — roll-back is compact()'s exclusive
    // right, because this state is indistinguishable from a compaction
    // running right now
    val hfs = graft.log.LogFs.fs(spark, dir)
    Rollup.partials(entryDf(("s0", 0L), ("s0", 1L), ("s0", 2L)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/staging/part-c0")
    graft.log.LogFs.writeText(
      hfs, s"$dir/compact-manifest",
      Seq("part-c0", "part-sink0-b0", "part-sink0-b1", "part-sink0-b2").mkString("\n"))
    assert(Rollup.view(spark, dir).collect().toSeq == want)
    assert(new java.io.File(s"$dir/staging/part-c0").exists())
    assert(new java.io.File(s"$dir/compact-manifest").exists())
    // ... and a batch write is also safe against the same state
    Rollup.writeBatch(entryDf(("s1", 5L)), 99L, dir)
    assert(new java.io.File(s"$dir/compact-manifest").exists())
    // compact() rolls the crashed attempt back, then folds cleanly
    Rollup.compact(spark, dir)
    assert(!new java.io.File(s"$dir/compact-manifest").exists())
    val wantPlus = want.map(_.toSeq).toSet + Seq("s1", 0L, 1L, 5L, 5L)
    assert(Rollup.view(spark, dir).collect().map(_.toSeq).toSet == wantPlus)
    // remove the extra batch's contribution for the roll-forward half
    // below by rebuilding the fixture
    graft.log.LogFs.deleteRecursive(hfs, s"$dir/parts")
    (0 until 3).foreach(i => Rollup.writeBatch(entryDf(("s0", i.toLong)), i.toLong, dir))

    // crash AFTER the rename but before cleanup: target AND consumed
    // partials both present. view must read the target and EXCLUDE the
    // consumed partials (no double count) — but, being a reader, it
    // deletes nothing; the next compact() rolls the crash forward
    Rollup.partials(entryDf(("s0", 0L), ("s0", 1L), ("s0", 2L)))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/parts/part-c0")
    graft.log.LogFs.writeText(
      hfs, s"$dir/compact-manifest",
      Seq("part-c0", "part-sink0-b0", "part-sink0-b1", "part-sink0-b2").mkString("\n"))
    assert(Rollup.view(spark, dir).collect().toSeq == want)
    assert(new java.io.File(s"$dir/parts/part-sink0-b0").exists()) // reader left state alone
    Rollup.compact(spark, dir) // maintenance writer finishes the cleanup
    val parts = new java.io.File(s"$dir/parts").list().filter(_.startsWith("part-"))
    assert(parts.toSeq == Seq("part-c0"))
    assert(Rollup.view(spark, dir).collect().toSeq == want)
  }
}
