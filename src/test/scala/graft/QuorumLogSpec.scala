package graft

import graft.log.{EventLog, QuorumLog}
import graft.model.Record

/** The quorum write path: majority-gated two-phase produce over replica
  * logs — no partial visibility on any replica, under any outcome
  * (reference: pebble/quorum.go + supervisor.go Write/Commit/Rollback). */
class QuorumLogSpec extends SparkSpec {

  private def freshQuorum(n: Int): QuorumLog =
    new QuorumLog(Seq.fill(n)(
      new EventLog(spark, tempDir("graft-quorum").toString)))

  private def records(from: Long, n: Long): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset((from until from + n).map(i => Record(i, s"payload $i")))
  }

  test("healthy quorum commits on every replica") {
    val q = freshQuorum(3)
    assert(q.majority == 2)
    assert(q.produce("t1", "s0", "seg0", records(1, 5), 1000L, 1L) == 3)
    q.participants.foreach { log =>
      assert(log.consumeSegment("s0", "seg0").count() == 5)
      assert(log.peek("s0", "seg0").get.trxNumber == 1L)
    }
  }

  test("one down replica: majority commits, straggler reconciles later") {
    val q = freshQuorum(3)
    q.downReplicas = Set(2)
    assert(q.produce("t1", "s0", "seg0", records(1, 5), 1000L, 1L) == 2)
    assert(q.participants(0).consumeSegment("s0", "seg0").count() == 5)
    assert(q.participants(1).consumeSegment("s0", "seg0").count() == 5)
    // the down replica holds NOTHING — no partial transaction
    assert(q.participants(2).isEmpty)
    // node rejoins: anti-entropy brings it level
    q.downReplicas = Set.empty
    assert(q.reconcile() == 5L)
    assert(q.participants(2).consumeSegment("s0", "seg0").count() == 5)
    assert(q.reconcile() == 0L) // idempotent
  }

  test("lost quorum: produce fails and leaves zero visibility anywhere") {
    val q = freshQuorum(3)
    q.produce("t1", "s0", "seg0", records(1, 5), 1000L, 1L)
    q.downReplicas = Set(1, 2)
    val e = intercept[IllegalStateException] {
      q.produce("t2", "s0", "seg0", records(6, 5), 2000L, 2L)
    }
    assert(e.getMessage.contains("quorum not reached"))
    // the surviving replica staged the batch and must have rolled back:
    // nothing visible, nothing staged
    q.participants.foreach { log =>
      assert(log.consumeSegment("s0", "seg0").count() == 5)
      assert(new graft.log.TxnLog(log).staged().isEmpty)
    }
    // quorum restored: the same transaction can be re-produced cleanly
    q.downReplicas = Set.empty
    assert(q.produce("t2", "s0", "seg0", records(6, 5), 2000L, 2L) == 3)
    q.participants.foreach(log =>
      assert(log.consumeSegment("s0", "seg0").count() == 10))
  }

  test("a write that dies after staging is cleaned up, trxId stays usable") {
    val q = freshQuorum(3)
    q.failAfterStageReplicas = Set(2)
    assert(q.produce("t1", "s0", "seg0", records(1, 5), 1000L, 1L) == 2)
    // the failed replica's partial staged dir was rolled back — the
    // trxId is not poisoned there and nothing is staged anywhere
    q.participants.foreach(log =>
      assert(new graft.log.TxnLog(log).staged().isEmpty))
    assert(q.participants(2).isEmpty)
    q.failAfterStageReplicas = Set.empty
    assert(q.reconcile() == 5L)
    assert(q.participants(2).consumeSegment("s0", "seg0").count() == 5)
  }

  test("a replica with divergent state NACKs instead of corrupting the quorum") {
    val q = freshQuorum(3)
    // replica 2 has state the coordinator does not know about -> its
    // sequence/trx validation rejects the write (a natural NACK), but
    // the other two still form a majority
    q.participants(2).produce("s0", "seg0", records(1, 2), 500L)
    assert(q.produce("t1", "s0", "seg0", records(1, 5), 1000L, 1L) == 2)
    assert(q.participants(0).consumeSegment("s0", "seg0").count() == 5)
    assert(q.participants(2).consumeSegment("s0", "seg0").count() == 2)
  }

  test("with a Membership the write bar follows the LIVE node view") {
    var now = 0L
    val m = new graft.log.Membership("n1", ttlMs = 15000L, clock = () => now)
    m.heartbeat("n2"); m.heartbeat("n3"); m.heartbeat("n4"); m.heartbeat("n5")
    val q = new QuorumLog(
      Seq.fill(5)(new EventLog(
        spark, tempDir("graft-quorum").toString)),
      Some(m))
    assert(q.majority == 3) // 5 live -> same bar as the static arithmetic
    // two nodes expire (TTL, no sweeper) -> the bar follows the live
    // view down to 2 — the reference's GetWriteCount semantics; the
    // split-brain caveat is documented on Membership
    now = 20000L
    m.heartbeat("n2"); m.heartbeat("n3")
    assert(q.majority == 2)
    q.downReplicas = Set(3, 4) // the expired nodes' replicas are down too
    assert(q.produce("t1", "s0", "seg0", records(1, 5), 1000L, 1L) == 3)
    assert(q.participants(0).consumeSegment("s0", "seg0").count() == 5)
  }
}
