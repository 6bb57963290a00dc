package graft

import scala.collection.mutable

import graft.log.{EventLog, TxnLog}
import graft.model.{Record, SegmentStatus}

/** Push-notification bus: produce/publish/txn-commit acks fan out to
  * space/segment subscribers synchronously, post-commit — the push half
  * of the reference's delivery transports (broker/bus.go fan-out,
  * client.go SubscribeToSpace). Contrast with StreamLog.follow, whose
  * latency is poll-interval bound: bus delivery completes BEFORE the
  * producing call returns, i.e. zero added latency. */
class BusSpec extends SparkSpec {

  private def freshLog(): EventLog =
    new EventLog(spark, tempDir("graft-bus").toString)

  private def records(from: Long, n: Long): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset((from until from + n).map(i => Record(i, s"payload $i")))
  }

  test("produce pushes its exact statuses to space, segment, and firehose subscribers before returning") {
    val log = freshLog()
    val bySpace = mutable.Buffer.empty[SegmentStatus]
    val bySeg = mutable.Buffer.empty[SegmentStatus]
    val all = mutable.Buffer.empty[SegmentStatus]
    log.bus.subscribeToSpace("s0")(bySpace += _)
    log.bus.subscribeToSegment("s0", "seg0")(bySeg += _)
    log.bus.subscribeAll(all += _)
    val statuses = log.produce("s0", "seg0", records(1, 250), 1000L, chunkSize = 100)
    // synchronous: already delivered when produce returned (no sleep, no poll)
    assert(bySpace.toSeq == statuses)
    assert(bySeg.toSeq == statuses)
    assert(all.toSeq == statuses)
    assert(statuses.size == 3) // 100+100+50
  }

  test("filters route: other spaces/segments stay silent, firehose hears everything") {
    val log = freshLog()
    val otherSpace = mutable.Buffer.empty[SegmentStatus]
    val otherSeg = mutable.Buffer.empty[SegmentStatus]
    val all = mutable.Buffer.empty[SegmentStatus]
    log.bus.subscribeToSpace("elsewhere")(otherSpace += _)
    log.bus.subscribeToSegment("s0", "segX")(otherSeg += _)
    log.bus.subscribeAll(all += _)
    log.produce("s0", "seg0", records(1, 5), 1000L)
    log.produce("s1", "seg1", records(1, 5), 1000L)
    assert(otherSpace.isEmpty && otherSeg.isEmpty)
    assert(all.map(s => (s.space, s.segment)).toSeq == Seq(("s0", "seg0"), ("s1", "seg1")))
  }

  test("a throwing subscriber is isolated and counted; closed subscriptions stop delivering") {
    val log = freshLog()
    val healthy = mutable.Buffer.empty[SegmentStatus]
    log.bus.subscribeAll(_ => sys.error("bad subscriber"))
    val sub = log.bus.subscribeAll(healthy += _)
    assert(log.bus.subscriberCount == 2)
    val statuses = log.produce("s0", "seg0", records(1, 5), 1000L)
    assert(statuses.nonEmpty, "produce must succeed despite the throwing callback")
    assert(healthy.size == 1)
    assert(log.bus.droppedCount == 1)
    sub.close()
    assert(!sub.isActive && log.bus.subscriberCount == 1)
    log.produce("s0", "seg0", records(6, 5), 2000L)
    assert(healthy.size == 1) // closed: no further delivery
  }

  test("failed produce pushes nothing; publish() pushes one ack; subscriber peek sees the committed position") {
    val log = freshLog()
    val acks = mutable.Buffer.empty[SegmentStatus]
    val peeked = mutable.Buffer.empty[Long]
    log.bus.subscribeToSpace("s0") { st =>
      acks += st
      peeked += log.peek(st.space, st.segment).get.sequence
    }
    intercept[IllegalArgumentException] {
      log.produce("s0", "seg0", records(2, 3), 1000L) // gap: must start at 1
    }
    assert(acks.isEmpty, "a rejected produce must not notify")
    val st = log.publish("s0", "seg0", "hello", 1000L)
    assert(acks.toSeq == Seq(st))
    assert(peeked.toSeq == Seq(1L), "callback peek must see the acknowledged position")
  }

  test("txn write stays silent; commit pushes the staged ack after publish") {
    val log = freshLog()
    val txn = new TxnLog(log)
    val acks = mutable.Buffer.empty[SegmentStatus]
    log.bus.subscribeToSegment("sp a/ce", "seg#1")(acks += _) // names that need encoding
    txn.write("t1", "sp a/ce", "seg#1", records(1, 7), 500L, trxNumber = 1L)
    assert(acks.isEmpty, "staging must not notify — nothing is visible yet")
    txn.commit("t1")
    assert(acks.map(s => (s.space, s.segment, s.firstSequence, s.lastSequence)).toSeq ==
      Seq(("sp a/ce", "seg#1", 1L, 7L)))
    assert(log.consumeSegment("sp a/ce", "seg#1").count() == 7L)
    // rollback path: staged then dropped — never notified
    txn.write("t2", "sp a/ce", "seg#1", records(8, 2), 600L, trxNumber = 2L)
    txn.rollback("t2")
    assert(acks.size == 1)
  }
}
