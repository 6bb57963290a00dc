package graft

import graft.log.{EventLog, TxnLog}
import graft.model.{Entry, Record, SegmentStatus}

/** Produce / peek / publish / transaction round-trips on a scratch log —
  * the write-side behaviors of the reference store (reference:
  * test/streams_test.go TestProduce/TestPeek + pebble 2PC). */
class EventLogSpec extends SparkSpec {

  private def freshLog(): EventLog =
    new EventLog(
      spark,
      tempDir("graft-log").toString)

  private def records(from: Long, n: Long): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset((from until from + n).map(i => Record(i, s"payload $i")))
  }

  /** The status aggregate produce used to run over the rows it had just
    * written, kept as the reference formulation the bound arithmetic
    * must match: one row per trxNumber of the segment's entries past
    * `after`, with the last row's payload and metadata. */
  private def readback(
      log: EventLog,
      space: String,
      segment: String,
      after: Long): (Seq[SegmentStatus], Entry) = {
    import org.apache.spark.sql.functions.{col, max, max_by, min}
    val rows = log.load()
      .filter(col("space") === space && col("segment") === segment && col("sequence") > after)
      .groupBy("trxNumber")
      .agg(
        min("sequence").as("firstSequence"),
        min("timestamp").as("firstTimestamp"),
        max("sequence").as("lastSequence"),
        max("timestamp").as("lastTimestamp"),
        max_by(col("payload"), col("sequence")).as("lastPayload"),
        max_by(col("metadata"), col("sequence")).as("lastMetadata"))
      .orderBy("trxNumber")
      .collect()
      .toSeq
    val statuses = rows.map(r =>
      SegmentStatus(
        space, segment,
        r.getAs[Long]("firstSequence"), r.getAs[Long]("firstTimestamp"),
        r.getAs[Long]("lastSequence"), r.getAs[Long]("lastTimestamp")))
    val l = rows.last
    val peek = Entry(
      space, segment, l.getAs[Long]("lastSequence"), l.getAs[Long]("lastTimestamp"),
      l.getAs[Long]("trxNumber"), l.getAs[String]("lastPayload"),
      l.getAs[scala.collection.Map[String, String]]("lastMetadata").toMap)
    (statuses, peek)
  }

  private def tagged(from: Long, n: Long): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset(
      (from until from + n).map(i => Record(i, s"payload $i", Map("k" -> s"v$i"))))
  }

  test("produce appends, chunks into transactions, and reports statuses") {
    val log = freshLog()
    val statuses = log.produce("s0", "seg0", records(1, 253), 1000L, chunkSize = 100)
    assert(statuses.map(s => (s.firstSequence, s.lastSequence)) ==
      Seq((1L, 100L), (101L, 200L), (201L, 253L)))
    assert(log.peek("s0", "seg0").get.sequence == 253L)
    assert(log.consumeSegment("s0", "seg0").count() == 253L)
    // the acks and peek of the write that just ran must equal the
    // reference aggregate over what it wrote; so must a cold peek
    def check(segment: String, after: Long, acks: Seq[SegmentStatus]): Unit = {
      val (statuses, last) = readback(log, "s0", segment, after)
      assert(acks == statuses, s"$segment after $after")
      assert(log.peek("s0", segment).contains(last), s"$segment cached peek")
      assert(new EventLog(spark, log.path).peek("s0", segment).contains(last))
    }
    for {
      lastSeq <- Seq(0L, 7L)
      chunk <- Seq(1, 3, 10000)
      n <- Seq(1, chunk - 1, chunk, 2 * chunk + 1).filter(_ > 0).distinct
    } {
      val seg = s"seg-$lastSeq-$chunk-$n"
      // a 7-record prefix in chunks of 2 ends at trxNumber 4
      if (lastSeq > 0) log.produce("s0", seg, tagged(1, lastSeq), 500L, chunkSize = 2)
      val acks = log.produce("s0", seg, tagged(lastSeq + 1, n), 1000L + n, chunkSize = chunk)
      check(seg, lastSeq, acks)
      val one = log.publish("s0", seg, "one-off", 2000L, Map("p" -> "1"))
      check(seg, lastSeq + n, Seq(one))
    }
    // lastTrx from a transaction: the produce continues its trxNumber
    val txn = new TxnLog(log)
    txn.write("trx-p", "s0", "seg-txn", tagged(1, 5), 500L, trxNumber = 1L)
    txn.commit("trx-p")
    check("seg-txn", 5L, log.produce("s0", "seg-txn", tagged(6, 7), 1000L, chunkSize = 3))
  }

  test("a produce whose publish dies midway drops the cached position; its retry is refused") {
    import org.apache.spark.sql.functions.col
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrn.impl", classOf[FailingRenameFs].getName)
    val local = tempDir("graft-failrn").toString
    val log = new EventLog(spark, s"failrn://$local")
    log.produce("s0", "seg0", records(1, 5), 1000L)
    assert(log.peek("s0", "seg0").get.sequence == 5L)
    val batch = spread(6L until 14L, 4) // several part files: one lands, the next rename fails
    FailingRenameFs.arm(s"$local/data/")
    try intercept[java.io.IOException](log.produce("s0", "seg0", batch, 2000L))
    finally FailingRenameFs.disarm()
    // peek re-scans the log and sees the part file that did land
    val landed = new EventLog(spark, log.path).peek("s0", "seg0").get.sequence
    assert(landed > 5L && landed < 13L)
    assert(log.peek("s0", "seg0").get.sequence == landed)
    val e = intercept[IllegalArgumentException](log.produce("s0", "seg0", batch, 3000L))
    assert(e.getMessage.contains("sequence mismatch"))
    val dups = log.load().groupBy("space", "segment", "sequence").count()
      .filter(col("count") > 1)
    assert(dups.isEmpty, "every (space, segment, sequence) at most once")
  }

  test("produce rejects non-contiguous sequences") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 5), 1000L)
    intercept[IllegalArgumentException] {
      log.produce("s0", "seg0", records(7, 3), 2000L) // gap: expected 6
    }
    intercept[IllegalArgumentException] {
      log.produce("s0", "seg0", records(3, 3), 2000L) // replay: expected 6
    }
    assert(log.peek("s0", "seg0").get.sequence == 5L)
  }

  test("publish appends a single record at peek+1") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 3), 1000L)
    val st = log.publish("s0", "seg0", "one-off", 2000L)
    assert(st.firstSequence == 4L && st.lastSequence == 4L)
    assert(log.peek("s0", "seg0").get.payload == "one-off")
  }

  test("multi-space consume interleaves all produced spaces") {
    val log = freshLog()
    for (i <- 0 until 3; j <- 0 until 2)
      log.produce(s"space$i", s"seg$j", records(1, 10), 1000L + i)
    assert(log.getSpaces().count() == 3)
    assert(log.getSegments("space0").count() == 2)
    val all = log.consume(
      Map("space0" -> None, "space1" -> None, "space2" -> None))
    assert(all.count() == 60)
  }

  test("compact collapses a space's small files without changing its rows") {
    val log = freshLog()
    for (i <- 0 until 5)
      log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))
    val part = java.nio.file.Paths.get(s"${log.path}/data/space=s0")
    def fileCount = {
      val s = java.nio.file.Files.list(part)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally s.close()
    }
    val before = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    assert(fileCount >= 5)
    assert(log.compact("s0") == 1)
    assert(fileCount == 1)
    val after = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    assert(after == before && after.size == 50)
    assert(log.compact("missing-space") == 0)
  }

  test("synchronize pulls only the missing tail from a peer, idempotently") {
    val a = freshLog()
    val b = freshLog()
    a.produce("s0", "seg0", records(1, 10), 1000L)
    a.produce("s1", "segX", records(1, 4), 1000L)
    b.produce("s0", "seg0", records(1, 6), 1000L) // prefix of a
    assert(b.synchronize(a) == 8L) // 4 tail entries of s0/seg0 + all 4 of s1
    assert(b.consumeSegment("s0", "seg0").count() == 10L)
    assert(b.peek("s1", "segX").get.sequence == 4L)
    assert(b.synchronize(a) == 0L) // idempotent
    // scoped variant: only one space
    val c = freshLog()
    assert(c.synchronize(a, space = Some("s1")) == 4L)
    assert(c.getSpaces().collect().map(_.getString(0)).toSeq == Seq("s1"))
  }

  test("TxnLog: staged writes are invisible until commit; rollback drops them") {
    val log = freshLog()
    val txn = new TxnLog(log)
    log.produce("s0", "seg0", records(1, 5), 1000L)

    txn.write("trx-a", "s0", "seg0", records(6, 5), 2000L, trxNumber = 2L)
    assert(log.consumeSegment("s0", "seg0").count() == 5) // still staged
    txn.commit("trx-a")
    assert(log.consumeSegment("s0", "seg0").count() == 10)
    assert(log.peek("s0", "seg0").get.trxNumber == 2L)

    txn.write("trx-b", "s0", "seg0", records(11, 5), 3000L, trxNumber = 3L)
    txn.rollback("trx-b")
    assert(log.consumeSegment("s0", "seg0").count() == 10)
    assert(txn.staged().isEmpty)
  }

  test("TxnLog rejects wrong transaction numbers") {
    val log = freshLog()
    val txn = new TxnLog(log)
    log.produce("s0", "seg0", records(1, 5), 1000L)
    intercept[IllegalArgumentException] {
      txn.write("trx-x", "s0", "seg0", records(6, 5), 2000L, trxNumber = 7L)
    }
  }

  test("TxnLog rejects re-staging an existing trxId") {
    val log = freshLog()
    val txn = new TxnLog(log)
    txn.write("trx-dup", "s0", "seg0", records(1, 5), 1000L, trxNumber = 1L)
    val e = intercept[IllegalArgumentException] {
      txn.write("trx-dup", "s0", "seg0", records(1, 5), 1000L, trxNumber = 1L)
    }
    assert(e.getMessage.contains("already staged"))
    txn.commit("trx-dup")
    assert(log.consumeSegment("s0", "seg0").count() == 5)
  }

  test("TxnLog commit resumes after a partial publish without duplicating") {
    val log = freshLog()
    val txn = new TxnLog(log)
    txn.write("trx-r", "s0", "seg0", records(1, 5), 1000L, trxNumber = 1L)
    // simulate a crash mid-commit: one staged file already moved to its
    // deterministic target name, the staged copy left behind is what a
    // re-run must not double-publish
    val staged = java.nio.file.Paths.get(s"${log.path}/staged/trx-r/space=s0")
    val first = {
      val s = java.nio.file.Files.list(staged)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList.head
      } finally s.close()
    }
    val target = java.nio.file.Paths.get(s"${log.path}/data/space=s0")
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.copy(first, target.resolve(s"trx-trx-r.${first.getFileName}"))
    txn.commit("trx-r") // resumed: skips the already-published file
    assert(log.consumeSegment("s0", "seg0").count() == 5)
    assert(txn.staged().isEmpty)
  }

  test("interrupted compaction before the commit marker rolls back") {
    val log = freshLog()
    for (i <- 0 until 3)
      log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))
    val before = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    log.compactFailpoint = Some("after-moves")
    intercept[IllegalStateException](log.compact("s0"))
    log.compactFailpoint = None
    // both generations are on disk right now; recovery must restore
    // exactly the original rows
    log.recoverCompaction("s0")
    val after = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    assert(after == before && after.size == 30)
    // and a fresh compact over the recovered space succeeds
    assert(log.compact("s0") == 1)
    assert(log.consumeSegment("s0", "seg0").count() == 30)
  }

  test("interrupted compaction after the commit marker rolls forward") {
    val log = freshLog()
    for (i <- 0 until 3)
      log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))
    val before = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    log.compactFailpoint = Some("after-marker")
    intercept[IllegalStateException](log.compact("s0"))
    log.compactFailpoint = None
    // recovery happens implicitly on the next compact() of the space
    assert(log.compact("s0") == 1)
    val after = log.consumeSegment("s0", "seg0").collect().map(_.toSeq).toSet
    assert(after == before && after.size == 30)
  }

  test("retain drops the old prefix, keeps sequences, and survives a mid-swap crash") {
    val log = freshLog()
    // three chunks at timestamps 1000/2000/3000, sequences 1..30
    for (i <- 0 until 3)
      log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))
    log.retain("s0", minTimestamp = 2000L)
    val kept = log.consumeSegment("s0", "seg0").collect()
    assert(kept.length == 20)
    // retention truncates a history PREFIX: surviving sequences are the
    // original 11..30, numbering never restarts
    assert(kept.map(_.getAs[Long]("sequence")).sorted.toSeq == (11L to 30L))
    assert(kept.forall(_.getAs[Long]("timestamp") >= 2000L))

    // crash between the marker and the cleanup: recovery (run by the
    // next lifecycle op) rolls the swap forward, not double-reads
    log.compactFailpoint = Some("after-moves")
    intercept[IllegalStateException](log.retain("s0", minTimestamp = 3000L))
    log.compactFailpoint = None
    log.recoverCompaction("s0")
    val after = log.consumeSegment("s0", "seg0").collect()
    // rollback direction: nothing was lost — still all 20 rows
    assert(after.map(_.getAs[Long]("sequence")).sorted.toSeq == (11L to 30L))
    // and the re-run applies cleanly
    log.retain("s0", minTimestamp = 3000L)
    assert(
      log.consumeSegment("s0", "seg0").collect()
        .map(_.getAs[Long]("sequence")).sorted.toSeq == (21L to 30L))
  }

  test("concurrent writer: produce during mid-swap crash windows loses nothing, offsets stay valid, acks exactly once") {
    // The reference's 2PC store serves concurrent clients; EventLog's
    // single-writer rule covers the REWRITE (one compact/retain at a
    // time), not produce — new trx files are never named in a rewrite
    // manifest, so a produce landing inside either crash window must
    // survive both recovery directions, and the ack bus must deliver
    // every produce status exactly once (lifecycle rewrites publish no
    // acks). This pins that contract under injected mid-swap crashes.
    val log = freshLog()
    val acks = scala.collection.mutable.Buffer.empty[graft.model.SegmentStatus]
    val sub = log.bus.subscribeAll { st => acks.synchronized { acks += st; () } }
    try {
      for (i <- 0 until 3)
        log.produce("s0", "seg0", records(1 + i * 10, 10), 1000L * (i + 1))

      // window 1: compact crashes BEFORE the commit marker (roll-back
      // direction) — both generations are on disk when produce lands
      log.compactFailpoint = Some("after-moves")
      intercept[IllegalStateException](log.compact("s0"))
      log.compactFailpoint = None
      // the concurrent produce: peek must validate contiguity off the
      // (duplicated but agreeing) high-water mark and append cleanly
      log.produce("s0", "seg0", records(31, 5), 4000L)
      log.recoverCompaction("s0")
      val afterRollback = log.consumeSegment("s0", "seg0").collect()
      assert(
        afterRollback.map(_.getAs[Long]("sequence")).sorted.toSeq == (1L to 35L),
        "rollback recovery must keep originals + the mid-window produce, no dups")

      // window 2: retain crashes AFTER the commit marker (roll-forward
      // direction); recovery runs implicitly on the next lifecycle op
      log.compactFailpoint = Some("after-marker")
      intercept[IllegalStateException](log.retain("s0", minTimestamp = 500L))
      log.compactFailpoint = None
      log.produce("s0", "seg0", records(36, 5), 5000L)
      log.compact("s0") // implicit recoverCompaction, then a clean rewrite
      val afterForward = log.consumeSegment("s0", "seg0").collect()
      assert(
        afterForward.map(_.getAs[Long]("sequence")).sorted.toSeq == (1L to 40L),
        "roll-forward recovery must keep the new generation + the mid-window produce")

      // offsets stayed valid throughout: the high-water mark is the last
      // produced sequence and the NEXT produce validates contiguously
      assert(log.peek("s0", "seg0").get.sequence == 40L)
      log.produce("s0", "seg0", records(41, 2), 6000L)
      assert(log.peek("s0", "seg0").get.sequence == 42L)

      // the follower saw every produce ack exactly once, in order, with
      // the right ranges — and no ack from compact/retain/recovery
      val ranges = acks.synchronized(acks.toVector)
        .map(st => (st.firstSequence, st.lastSequence))
      assert(
        ranges == Vector((1L, 10L), (11L, 20L), (21L, 30L), (31L, 35L), (36L, 40L), (41L, 42L)),
        s"ack stream must be exactly the produce statuses, once each: $ranges")
    } finally {
      sub.close()
    }
  }

  test("retain of a fully-expired segment keeps the high-water entry (no sequence restart)") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 10), 1000L)
    log.produce("s0", "segX", records(1, 5), 1000L)
    // cutoff far past everything: without the high-water guard this
    // would empty both segments and the next produce would restart at 1
    log.retain("s0", minTimestamp = 999999L)
    val kept = log.consumeSegment("s0", "seg0").collect()
    assert(kept.map(_.getAs[Long]("sequence")).toSeq == Seq(10L))
    assert(log.peek("s0", "segX").get.sequence == 5L)
    // producer continuity: the next append continues the old numbering
    log.produce("s0", "seg0", records(11, 3), 2000L)
    assert(
      log.consumeSegment("s0", "seg0").collect()
        .map(_.getAs[Long]("sequence")).sorted.toSeq == Seq(10L, 11L, 12L, 13L))
  }

  test("empty produce batch is a no-op, not an NPE; empty txn write diagnoses") {
    import spark.implicits._
    val log = freshLog()
    val empty = spark.emptyDataset[graft.model.Record]
    assert(log.produce("s0", "seg0", empty, 1000L).isEmpty)
    val txn = new TxnLog(log)
    val e = intercept[IllegalArgumentException](
      txn.write("t1", "s0", "seg0", empty, 1000L, 1L))
    assert(e.getMessage.contains("empty batch"))
  }

  test("compaction and retention find spaces whose names need path escaping") {
    val log = freshLog()
    // '/' and '=' are escaped by partitionBy; raw interpolation would
    // look up a nonexistent dir and silently no-op
    log.produce("logs/2026=a", "seg0", records(1, 10), 1000L)
    log.produce("logs/2026=a", "seg0", records(11, 10), 2000L)
    assert(log.compact("logs/2026=a") == 1)
    assert(log.consumeSegment("logs/2026=a", "seg0").count() == 20)
    log.retain("logs/2026=a", minTimestamp = 2000L)
    assert(log.consumeSegment("logs/2026=a", "seg0").count() == 10)
  }

  test("TxnLog rejects trxIds that would make file prefixes ambiguous") {
    val log = freshLog()
    val txn = new TxnLog(log)
    intercept[IllegalArgumentException](txn.rollback("job.1"))
    intercept[IllegalArgumentException](txn.rollback("a/b"))
    intercept[IllegalArgumentException](txn.rollback(""))
    txn.rollback("ok_id-1") // valid charset: no-op, no throw
  }

  test("TxnLog abort only sweeps its own transaction's files") {
    val log = freshLog()
    val txn = new TxnLog(log)
    // commit trx "job1-retry", then abort "job1": the retry's committed
    // files must survive (the '.' delimiter makes the prefix exact)
    txn.write("job1-retry", "s0", "seg0", records(1, 5), 1000L, trxNumber = 1L)
    txn.commit("job1-retry")
    assert(log.consumeSegment("s0", "seg0").count() == 5)
    txn.abort("job1")
    assert(log.consumeSegment("s0", "seg0").count() == 5)
  }

  test("TxnLog abort purges a half-published commit completely") {
    val log = freshLog()
    val txn = new TxnLog(log)
    log.produce("s0", "seg0", records(1, 5), 1000L)
    txn.write("trx-h", "s0", "seg0", records(6, 5), 2000L, trxNumber = 2L)
    // simulate a commit that died mid-publish: one staged file moved to
    // its deterministic target, the rest still staged
    val staged = java.nio.file.Paths.get(s"${log.path}/staged/trx-h/space=s0")
    val first = {
      val s = java.nio.file.Files.list(staged)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList.head
      } finally s.close()
    }
    val target = java.nio.file.Paths.get(s"${log.path}/data/space=s0")
    java.nio.file.Files.move(first, target.resolve(s"trx-trx-h.${first.getFileName}"))
    txn.abort("trx-h")
    // pre-transaction state restored: no staged dir, no published files
    assert(txn.staged().isEmpty)
    assert(log.consumeSegment("s0", "seg0").count() == 5)
    // the same trxId can be staged and committed cleanly afterwards
    txn.write("trx-h", "s0", "seg0", records(6, 5), 2000L, trxNumber = 2L)
    txn.commit("trx-h")
    assert(log.consumeSegment("s0", "seg0").count() == 10)
  }

  test("a stale commit marker without a manifest is swept, data untouched") {
    // the final cleanup deletes manifest THEN marker; a crash between
    // the two leaves marker-only — recovery must treat the compaction
    // as fully applied (sweeping the marker), never roll anything back
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 10), 1000L)
    assert(log.compact("s0") == 1)
    val marker = java.nio.file.Paths.get(
      s"${log.path}/data/space=s0/_compact.commit")
    java.nio.file.Files.createFile(marker)
    log.recoverCompaction("s0")
    assert(!java.nio.file.Files.exists(marker))
    assert(log.consumeSegment("s0", "seg0").count() == 10)
  }

  test("peek is served from the offset cache: zero Spark jobs on a hot segment") {
    // the reference fronts its LSM with an offset cache so Peek never
    // scans per call (reference: server/cache.go:1) — produce itself
    // warms the cache from the batch's own aggregate
    val log = freshLog()
    log.produce(
      "s0", "seg0",
      spark.createDataset(
        (1L to 7L).map(i => Record(i, s"payload $i", Map("k" -> s"v$i"))))(
        org.apache.spark.sql.Encoders.product[Record]),
      1000L, chunkSize = 3)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    // listener events are async: wait until the count stops moving
    def settled(): Int = {
      var prev = -1
      while (jobs != prev) { prev = jobs; Thread.sleep(150) }
      jobs
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = settled()
      val hot = log.peek("s0", "seg0").get
      assert(log.peek("s0", "seg0").contains(hot))
      assert(settled() == before, "hot peek must not launch a Spark job")
      // the cached entry is exactly what a cold scan reads back
      val cold = new EventLog(spark, log.path).peek("s0", "seg0").get
      assert(hot == cold)
      assert(hot.sequence == 7L && hot.payload == "payload 7" &&
        hot.trxNumber == 3L && hot.metadata == Map("k" -> "v7"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("peek cache stays coherent across publish, compact, txn commit, and synchronize") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 5), 1000L)
    assert(log.peek("s0", "seg0").get.sequence == 5L)
    // publish updates the cached position in place
    log.publish("s0", "seg0", "one-off", 2000L)
    assert(log.peek("s0", "seg0").get.payload == "one-off")
    // compact invalidates; the re-scan sees the same logical entry
    log.compact("s0")
    assert(log.peek("s0", "seg0").get.sequence == 6L)
    // a TxnLog publish lands outside produce — commit must invalidate
    val txn = new TxnLog(log)
    txn.write("trx-c", "s0", "seg0", records(7, 3), 3000L, trxNumber = 3L)
    assert(log.peek("s0", "seg0").get.sequence == 6L) // staged: invisible
    txn.commit("trx-c")
    assert(log.peek("s0", "seg0").get.sequence == 9L)
    // synchronize appends from a peer — pulled tail invalidates
    val peer = freshLog()
    peer.produce("s1", "segX", records(1, 4), 1000L)
    assert(log.peek("s1", "segX").isEmpty) // caches the miss
    log.synchronize(peer)
    assert(log.peek("s1", "segX").get.sequence == 4L)
  }

  test("peek cache TTL: a stale entry re-reads after expiry; sweep reclaims slots") {
    // the reference TTLs its cached status state (server/cache.go:18,
    // 2 min in pebble/service.go:102) so a writer that never calls
    // invalidate bounds staleness instead of persisting it — two
    // EventLog instances over one directory model exactly that
    // a MANUAL clock (no sleeps): the TTL boundary is asserted exactly
    // at expiresAt / expiresAt+1, and suite load can't expire an entry
    // between the write and the "within TTL" assertion
    val dir = tempDir("graft-ttl").toString
    var now = 0L
    val a = new EventLog(
      spark, dir,
      peekCacheTtlMs = 800L, peekCacheSweepMs = 200L,
      peekCacheClock = () => now)
    val b = new EventLog(spark, dir) // the "other writer": default TTL
    a.produce("s0", "seg0", records(1, 5), 1000L)
    assert(a.peek("s0", "seg0").get.sequence == 5L)
    // b appends WITHOUT touching a's cache — a's peek is stale but
    // bounded: within the TTL it serves 5, after expiry it MUST
    // re-scan and see 8
    b.produce("s0", "seg0", records(6, 3), 2000L)
    now = 800L // exactly expiresAt: still fresh (<= bound, reference Set semantics)
    assert(a.peek("s0", "seg0").get.sequence == 5L, "within TTL: cached")
    now = 801L // one tick past expiry
    assert(a.peek("s0", "seg0").get.sequence == 8L, "after TTL: re-read")
    // standalone cache: expired-but-unswept slots are reclaimed by the
    // amortized sweep, and reads treat them as absent either way
    var cNow = 0L
    val c = new graft.log.ExpiringCache[Int, Int](
      ttlMs = 100L, sweepIntervalMs = 100L, nowMs = () => cNow)
    c.put(1, 10); c.put(2, 20)
    assert(c.get(1).contains(10) && c.size == 2)
    cNow = 250L
    assert(c.get(1).isEmpty && c.size == 0)
    assert(c.rawSize >= 1, "key 2 not yet swept (never re-read)")
    c.sweepNow()
    assert(c.rawSize == 0, "sweep must reclaim expired slots")
    // writes re-arm the TTL
    c.put(3, 30)
    cNow = 310L
    c.put(3, 31)
    cNow = 370L // past the FIRST write's expiry, inside the second's
    assert(c.get(3).contains(31), "a write must re-arm the entry's TTL")
  }

  /** Every file under `dir` (relative path), for before/after diffs. */
  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(root.relativize(_).toString).toSet
      } finally s.close()
    }
  }

  private def parquetFiles(log: EventLog): Set[String] =
    filesUnder(s"${log.path}/data").filter(_.endsWith(".parquet"))

  private def seqs(xs: Long*): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset(xs.map(i => Record(i, s"payload $i")))
  }

  /** A batch with no size estimate (RDD-backed) in `parts` partitions:
    * produce keeps its partitioning, one task and one file per part. */
  private def spread(xs: Seq[Long], parts: Int): org.apache.spark.sql.Dataset[Record] =
    spark.createDataset(
      spark.sparkContext.parallelize(xs.map(i => Record(i, s"payload $i")), parts))(
      org.apache.spark.sql.Encoders.product[Record])

  /** Spark jobs `body` launches (listener events are async: wait until
    * the count stops moving on both sides). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      var prev = -1
      while (jobs.get != prev) { prev = jobs.get; Thread.sleep(150) }
      prev
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = settled()
      val out = body
      (out, settled() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("spaces named 7 and 007 stay two string spaces") {
    import spark.implicits._
    val log = freshLog()
    for (space <- Seq("7", "007")) {
      val one = spark.createDataset(Seq(Record(1L, s"in $space")))
      assert(log.produce(space, "seg0", one, 1000L).map(_.lastSequence) == Seq(1L), space)
    }
    for (space <- Seq("7", "007")) {
      val cold = new EventLog(spark, log.path).peek(space, "seg0")
      assert(cold.map(e => (e.space, e.payload)) == Some((space, s"in $space")), space)
    }
    val seven = log.consumeSegment("7", "seg0").collect()
    assert(seven.map(r => (r.getAs[String]("space"), r.getAs[String]("payload"))).toSeq ==
      Seq(("7", "in 7")))
    val spaces = log.getSpaces()
    assert(spaces.schema("space").dataType == org.apache.spark.sql.types.StringType)
    assert(spaces.collect().map(_.getString(0)).sorted.toSeq == Seq("007", "7"))
  }

  test("load reads the schema parquet inference gives string-named spaces") {
    val log = freshLog()
    log.produce("s0", "seg0", tagged(1, 3), 1000L)
    assert(log.load().schema == spark.read.parquet(s"${log.path}/data").schema)
  }

  test("a refused batch publishes nothing, stages nothing and keeps peek") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 5), 1000L)
    val files = parquetFiles(log)
    val peek = log.peek("s0", "seg0")
    val refused = Seq(
      "duplicate" -> seqs(6L, 7L, 7L, 9L), // count, min and max alone pass
      "gap" -> seqs(6L, 8L),
      "stale" -> seqs(5L, 6L),
      "replay" -> records(3, 3),
      // the offset 2 + 2^32 would wrap to 2 as an Int
      "past Int.MaxValue" -> seqs(6L, 7L, 8L + (1L << 32)),
      "offset Int.MaxValue" -> seqs(6L + Int.MaxValue),
      "duplicate across partitions" -> spread(Seq(6L, 7L, 7L, 9L), 2))
    for ((name, batch) <- refused) {
      val e = intercept[IllegalArgumentException](log.produce("s0", "seg0", batch, 2000L))
      assert(e.getMessage.contains("sequence mismatch: expected contiguous [6, "), name)
      assert(parquetFiles(log) == files, name)
      assert(filesUnder(s"${log.path}/produce-staging").isEmpty, name)
      assert(log.peek("s0", "seg0") == peek, name)
      assert(new EventLog(spark, log.path).peek("s0", "seg0") == peek, name)
    }
    // the same refusals through TxnLog leave no staged dir
    val txn = new TxnLog(log)
    for ((name, batch) <- refused) {
      intercept[IllegalArgumentException](txn.write("trx-bad", "s0", "seg0", batch, 2000L, 2L))
      assert(!txn.isStaged("trx-bad"), name)
    }
    assert(log.consumeSegment("s0", "seg0").count() == 5L)
  }

  test("accepted batches: one record, reordered, and 100k rows across partitions") {
    val log = freshLog()
    assert(log.produce("s0", "seg0", seqs(1L), 1000L) ==
      Seq(SegmentStatus("s0", "seg0", 1L, 1000L, 1L, 1000L)))
    assert(log.produce("s0", "seg0", seqs(4L, 2L, 6L, 3L, 5L), 2000L).map(s =>
      (s.firstSequence, s.lastSequence)) == Seq((2L, 6L)))
    assert(log.peek("s0", "seg0").map(e => (e.sequence, e.payload)) == Some((6L, "payload 6")))
    // interleaved over 4 partitions: every task sees a sparse bitmap,
    // only the merge is contiguous
    val big = (7L until 100007L).sortBy(i => (i % 4, i))
    val before = parquetFiles(log)
    val acks = log.produce("s0", "seg0", spread(big, 4), 3000L)
    assert(acks.size == 10)
    assert((parquetFiles(log) -- before).size >= 2)
    val (statuses, last) = readback(log, "s0", "seg0", 6L)
    assert(acks == statuses)
    assert(log.peek("s0", "seg0").contains(last))
    assert(new EventLog(spark, log.path).peek("s0", "seg0").contains(last))
    assert(log.consumeSegment("s0", "seg0").count() == 100006L)
  }

  test("an empty batch acks nothing and writes no file") {
    import spark.implicits._
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 5), 1000L)
    val files = parquetFiles(log)
    assert(log.produce("s0", "seg0", spark.emptyDataset[Record], 2000L).isEmpty)
    assert(parquetFiles(log) == files)
    assert(filesUnder(s"${log.path}/produce-staging").isEmpty)
    assert(log.peek("s0", "seg0").get.sequence == 5L)
  }

  test("a warm-peek produce is one Spark job; a small batch is one file, a large one several") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 100), 1000L)
    val before = parquetFiles(log)
    val (acks, jobs) = jobsOf(log.produce("s0", "seg0", records(101, 100), 2000L))
    assert(acks.map(s => (s.firstSequence, s.lastSequence)) == Seq((101L, 200L)))
    assert(jobs == 1, "stage, check and write in one job")
    assert((parquetFiles(log) -- before).size == 1, "100 records publish one file")
    // a range batch whose estimate exceeds one read split keeps its
    // parallel write
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, typedLit}
    val large = spark.range(201, 201 + 500000)
      .select(
        col("id").as("sequence"),
        concat(lit("payload-"), col("id")).as("payload"),
        typedLit(Map.empty[String, String]).as("metadata"))
      .as[Record]
    assert(large.queryExecution.optimizedPlan.stats.sizeInBytes >
      spark.sessionState.conf.filesMaxPartitionBytes)
    val mid = parquetFiles(log)
    log.produce("s0", "seg0", large, 3000L)
    assert((parquetFiles(log) -- mid).size >= 2)
    assert(log.peek("s0", "seg0").get.sequence == 500200L)
  }

  test("TxnLog.write stages exactly the rows it checked") {
    import org.apache.spark.sql.functions.{col, concat, lit, typedLit, udf}
    import spark.implicits._
    val log = freshLog()
    val txn = new TxnLog(log)
    val n = 10L
    // contiguous on the first evaluation of the batch, shifted by 100 on
    // any later one
    NondetSequences.calls.set(0L)
    val sequence = udf((id: Long) =>
      if (NondetSequences.calls.getAndIncrement() < n) id else id + 100L).asNondeterministic()
    val batch = spark.range(1, n + 1)
      .select(
        sequence(col("id")).as("sequence"),
        concat(lit("payload "), col("id")).as("payload"),
        typedLit(Map.empty[String, String]).as("metadata"))
      .as[Record]
    scala.util.Try(txn.write("trx-nd", "s0", "seg0", batch, 1000L, 1L)) match {
      case scala.util.Success(_) =>
        txn.commit("trx-nd")
        assert(log.consumeSegment("s0", "seg0").collect()
          .map(_.getAs[Long]("sequence")).sorted.toSeq == (1L to n))
      case scala.util.Failure(e) =>
        assert(e.getMessage.contains("sequence mismatch"))
        assert(!txn.isStaged("trx-nd"))
    }
  }

  test("the contiguity aggregate is exact across partitions and offsets") {
    def contiguous(base: Long)(parts: Seq[Long]*): Boolean = {
      val agg = EventLog.Contiguous(base)
      agg.finish(parts.map(_.foldLeft(agg.zero)(agg.reduce)).reduce(agg.merge))
    }
    assert(contiguous(6)(Seq(6L, 7L, 8L)))
    assert(contiguous(6)(Seq(8L, 6L), Seq(7L)))
    assert(contiguous(6)(Seq.empty, Seq(6L)))
    assert(!contiguous(6)(Seq(6L, 7L, 7L, 9L)), "duplicate within a partition")
    assert(!contiguous(6)(Seq(6L, 7L), Seq(7L, 9L)), "duplicate across partitions")
    assert(!contiguous(6)(Seq(6L, 8L)), "gap")
    assert(!contiguous(6)(Seq(5L, 6L)), "stale")
    assert(!contiguous(6)(Seq(7L, 8L)), "does not start at base")
    assert(!contiguous(6)(Seq(6L, 7L, 8L + (1L << 32))), "no Int wrap")
    assert(!contiguous(6)(Seq(6L + Int.MaxValue)), "offset Int.MaxValue")
    assert(!contiguous(6)(Seq(Long.MinValue)), "no Long wrap")
    assert(!contiguous(6)(Seq(6L), Seq(Long.MaxValue)))
  }

  test("consume with zero subscriptions returns an empty canonical frame") {
    val log = freshLog()
    log.produce("s0", "seg0", records(1, 5), 1000L)
    val out = log.consume(Map.empty)
    assert(out.count() == 0)
    assert(out.columns.contains("space") && out.columns.contains("sequence"))
  }
}

/** [[NonAtomicRenameFs]] under its own scheme, whose rename fails on
  * demand: once armed with a directory, the second rename into it throws,
  * so a staged publish dies with one part file live. */
class FailingRenameFs extends NonAtomicRenameFs {
  override def getScheme: String = "failrn"
  override def getUri: java.net.URI = java.net.URI.create("failrn:///")
  override def rename(
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val into = FailingRenameFs.armedDir
    if (into.exists(dst.toUri.getPath.startsWith) &&
      FailingRenameFs.renamesInto.incrementAndGet() == 2)
      throw new java.io.IOException(s"injected rename failure: $src -> $dst")
    super.rename(src, dst)
  }
}

object FailingRenameFs {
  @volatile private var armedDir: Option[String] = None
  private val renamesInto = new java.util.concurrent.atomic.AtomicInteger

  def arm(dir: String): Unit = { renamesInto.set(0); armedDir = Some(dir) }
  def disarm(): Unit = armedDir = None
}

/** The evaluation counter behind the nondeterministic batch of "TxnLog.write
  * stages exactly the rows it checked" (executors share the driver JVM
  * in local mode). */
object NondetSequences {
  val calls = new java.util.concurrent.atomic.AtomicLong
}
