package graft

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.log.{EventLog, PushBridge}
import graft.model.{Record, SegmentStatus}

/** Cross-process push transport: produce acks cross the JVM boundary
  * through the filesystem mailbox (reference: broker/bus.go
  * Notify/Subscribe over wsstream/bidi_stream.go + http2/
  * http2_stream_bus.go; client.go:188 SubscribeToSpace). The consumer
  * side here is built on an INDEPENDENT Hadoop FileSystem handle from a
  * fresh Configuration — no shared in-memory state with the producing
  * EventLog beyond the directory, which is exactly what a second
  * process would hold. */
class PushBridgeSpec extends SparkSpec {

  private def freshLog(): EventLog =
    new EventLog(spark, tempDir("graft-push").toString)

  /** The "other process": its own FileSystem from a bare Configuration. */
  private def foreignFs(path: String): FileSystem =
    new Path(path).getFileSystem(new Configuration())

  private def records(from: Long, n: Long): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset((from until from + n).map(i => Record(i, s"payload $i")))
  }

  private def awaitUntil(timeoutMs: Long = 30000L)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(done, s"condition not reached within ${timeoutMs}ms")
  }

  test("produce acks reach a foreign-FS subscriber in publish order, post-commit") {
    val log = freshLog()
    val pub = PushBridge.publisher(log)
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushBridge.subscriber(foreignFs(log.path), log.path) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      val statuses = log.produce("s0", "seg0", records(1, 250), 1000L, chunkSize = 100)
      assert(statuses.size == 3)
      awaitUntil()(got.synchronized(got.size) == 3)
      assert(got.synchronized(got.toSeq) == statuses,
        "mailbox must deliver the exact bus acks, in order")
      // post-commit: the acked range is already readable from the log
      assert(log.peek("s0", "seg0").get.sequence == 250L)
    } finally { sub.close(); pub.close() }
  }

  test("segment filter routes; names needing encoding survive the wire") {
    val log = freshLog()
    val pub = PushBridge.publisher(log)
    val seg = mutable.Buffer.empty[SegmentStatus]
    val all = mutable.Buffer.empty[SegmentStatus]
    val subSeg = PushBridge.subscriber(
      foreignFs(log.path), log.path, Some("sp a/ce"), Some("seg#1")) { st =>
      seg.synchronized { seg += st; () }
    }
    val subAll = PushBridge.subscriber(foreignFs(log.path), log.path) { st =>
      all.synchronized { all += st; () }
    }
    try {
      assert(subSeg.awaitReady() && subAll.awaitReady())
      log.produce("sp a/ce", "seg#1", records(1, 5), 1000L)
      log.produce("other", "segX", records(1, 5), 1000L)
      awaitUntil()(all.synchronized(all.size) == 2)
      awaitUntil()(seg.synchronized(seg.size) == 1)
      val st = seg.synchronized(seg.head)
      assert(st.space == "sp a/ce" && st.segment == "seg#1")
      assert(st.firstSequence == 1L && st.lastSequence == 5L)
      assert(all.synchronized(all.map(_.segment).toSeq) == Seq("seg#1", "segX"))
    } finally { subSeg.close(); subAll.close(); pub.close() }
  }

  test("live-only contract: acks published before subscribe are not replayed") {
    val log = freshLog()
    val pub = PushBridge.publisher(log)
    try {
      log.produce("s0", "seg0", records(1, 5), 1000L)
      awaitUntil()(pub.filesWritten >= 1) // the early ack is on disk
      val got = mutable.Buffer.empty[SegmentStatus]
      val sub = PushBridge.subscriber(foreignFs(log.path), log.path) { st =>
        got.synchronized { got += st; () }
      }
      try {
        assert(sub.awaitReady())
        log.produce("s0", "seg0", records(6, 5), 2000L)
        awaitUntil()(got.synchronized(got.size) == 1)
        assert(got.synchronized(got.head).firstSequence == 6L,
          "only the post-subscribe ack may be delivered")
      } finally sub.close()
    } finally pub.close()
  }

  test("push-tickled consumer loop: cross-process acks drive offset re-polls, no loss, no dups") {
    // The reference's push model is a tickle, not a data channel: the
    // server notifies over the wire, the client re-polls from its OWN
    // offset (client.go:188-206). The polling twin of this loop lives in
    // StreamLogSpec ("observer loop"); here the tickle is the
    // cross-process push ack itself — zero guessed trigger interval.
    import graft.operators.EventOps
    val log = freshLog()
    val pub = PushBridge.publisher(log)
    val tickles = new java.util.concurrent.atomic.AtomicLong(0L)
    val sub = PushBridge.subscriber(foreignFs(log.path), log.path, Some("s0")) { _ =>
      tickles.incrementAndGet(); ()
    }
    try {
      assert(sub.awaitReady())
      var offset = (0L, "", 0L)
      val consumed = mutable.Buffer.empty[(Long, String, Long)]
      def poll(): Int = {
        val fresh = EventOps
          .consumeSpaceFromOffset(log.load(), "s0", offset._1, offset._2, offset._3)
          .select("timestamp", "segment", "sequence")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        consumed ++= fresh
        if (fresh.nonEmpty) offset = fresh.last
        fresh.length
      }
      def produceAwaitingTickle(seg: String, from: Long, n: Long, ts: Long): Unit = {
        val before = tickles.get()
        log.produce("s0", seg, records(from, n), ts)
        awaitUntil()(tickles.get() > before) // the push IS the poll trigger
      }
      produceAwaitingTickle("a", 1, 3, 1000L)
      assert(poll() == 3)
      // a brand-new segment with an EARLIER timestamp than the next
      // produce — the offset resume must pick up both, exactly once
      produceAwaitingTickle("b", 1, 2, 1500L)
      produceAwaitingTickle("a", 4, 2, 2000L)
      assert(poll() == 4)
      assert(poll() == 0, "idle poll must re-deliver nothing")
      assert(consumed.size == 7 && consumed.distinct.size == 7)
      val full = EventOps
        .consumeSpace(log.load(), "s0")
        .select("timestamp", "segment", "sequence")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(consumed.toSeq == full.toSeq,
        "push-driven incremental consumption must equal one from-scratch scan")
    } finally { sub.close(); pub.close() }
  }

  test("non-local filesystem degrades to the bounded-interval scan (poll branch)") {
    // On an object-store scheme there is no WatchService — the
    // subscriber must fall back to pollMs scans and still deliver.
    // Reuses the S3A-style mock scheme from ObjectStoreFsSpec.
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3.impl", classOf[NonAtomicRenameFs].getName)
    val conf = new Configuration()
    conf.set("fs.mock3.impl", classOf[NonAtomicRenameFs].getName)
    val local = tempDir("graft-push-mock3").toString
    val log = new EventLog(spark, s"mock3://$local")
    val pub = PushBridge.publisher(log)
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushBridge.subscriber(
      new Path(log.path).getFileSystem(conf), log.path, pollMs = 50L) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      val statuses = log.produce("s0", "seg0", records(1, 5), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1)
      assert(got.synchronized(got.toSeq) == statuses)
    } finally { sub.close(); pub.close() }
  }

  test("two concurrent publishers interleave without loss; per-publisher order holds") {
    // Two logs in the same process stand in for two producing processes
    // sharing one mailbox directory (distinct publisher pids are the
    // real-world case; here the (time, seq) file names still interleave
    // cleanly because each publisher seals its own files).
    val logA = freshLog()
    val logB = new EventLog(spark, logA.path) // same directory, own bus
    val pubA = PushBridge.publisher(logA)
    val pubB = PushBridge.publisher(logB)
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushBridge.subscriber(foreignFs(logA.path), logA.path) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      val ta = new Thread(() =>
        for (i <- 0 until 5)
          logA.produce("a", "s", records(i * 3 + 1, 3), 1000L + i))
      val tb = new Thread(() =>
        for (i <- 0 until 5)
          logB.produce("b", "s", records(i * 3 + 1, 3), 1000L + i))
      ta.start(); tb.start(); ta.join(); tb.join()
      awaitUntil()(got.synchronized(got.size) == 10)
      val bySpace = got.synchronized(got.toList).groupBy(_.space)
      // no loss: all five acks from each producer arrived...
      assert(bySpace("a").size == 5 && bySpace("b").size == 5)
      // ...and per-publisher FIFO held (sequence ranges ascend)
      for (sp <- Seq("a", "b"))
        assert(bySpace(sp).map(_.firstSequence) == bySpace(sp).map(_.firstSequence).sorted,
          s"space $sp acks out of publish order")
    } finally { sub.close(); pubA.close(); pubB.close() }
  }

  test("publisher close flushes queued acks; expired mailbox files are pruned") {
    val log = freshLog()
    val notify = s"${log.path}/notify"
    def ackFiles(): Set[String] = {
      val fs = foreignFs(log.path)
      if (!graft.log.LogFs.exists(fs, notify)) Set.empty
      else
        fs.listStatus(new Path(notify))
          .collect {
            case s if s.isFile && s.getPath.getName.endsWith(".statuses") =>
              s.getPath.getName
          }
          .toSet
    }
    // long-ttl publisher: close() must flush every queued ack to disk
    val pub = PushBridge.publisher(log)
    val statuses = log.produce("s0", "seg0", records(1, 100), 1000L, chunkSize = 10)
    assert(statuses.size == 10)
    pub.close()
    assert(pub.filesWritten == 10, "close must drain the full queue")
    val old = ackFiles()
    assert(old.nonEmpty)
    // short-ttl publisher: its sweep removes the expired files above
    val pub2 = PushBridge.publisher(log, ttlMs = 1L)
    try {
      Thread.sleep(5) // put `old` past the 1ms ttl
      log.produce("s0", "seg0", records(101, 1), 2000L)
      awaitUntil()(ackFiles().intersect(old).isEmpty)
    } finally pub2.close()
    // pruning never breaks a live subscriber: it joins after the sweep
    // and still receives the next ack
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushBridge.subscriber(foreignFs(log.path), log.path) { st =>
      got.synchronized { got += st; () }
    }
    val pub3 = PushBridge.publisher(log)
    try {
      assert(sub.awaitReady())
      log.produce("s0", "seg0", records(102, 1), 3000L)
      awaitUntil()(got.synchronized(got.exists(_.firstSequence == 102L)))
    } finally { sub.close(); pub3.close() }
  }
}
