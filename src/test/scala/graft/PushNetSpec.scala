package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.log.{EventLog, PushNet, PushNetSubscriber}
import graft.model.{Record, SegmentStatus}

/** Network push transport: produce acks cross the process boundary over
  * a loopback TCP socket — the subscriber side holds NO filesystem
  * handle, no Spark session, and no shared state with the producing
  * JVM beyond the (host, port) route, which is exactly what a machine
  * on the other side of the network would hold (reference:
  * wsstream/bidi_stream.go:1, http2/http2_stream_bus.go:1;
  * client.go:188 SubscribeToSpace). Same delivery assertions as
  * PushBridgeSpec: FIFO, no loss, no dups, post-commit, live-only. */
class PushNetSpec extends SparkSpec {

  private def freshLog(): EventLog =
    new EventLog(spark, Files.createTempDirectory("graft-pushnet").toString)

  private def records(from: Long, n: Long): org.apache.spark.sql.Dataset[Record] = {
    import spark.implicits._
    spark.createDataset((from until from + n).map(i => Record(i, s"payload $i")))
  }

  private def awaitUntil(timeoutMs: Long = 30000L)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(done, s"condition not reached within ${timeoutMs}ms")
  }

  test("acks reach a socket-only subscriber in publish order, no loss, no dups, post-commit") {
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1")
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushNet.connect("127.0.0.1", srv.boundPort) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      // multi-chunk produce + a second produce: ordering must hold
      // ACROSS batches, not just within one drained mailbox frame
      val s1 = log.produce("s0", "seg0", records(1, 250), 1000L, chunkSize = 100)
      val s2 = log.produce("s0", "seg1", records(1, 50), 2000L, chunkSize = 100)
      assert(s1.size == 3 && s2.size == 1)
      awaitUntil()(got.synchronized(got.size) == 4)
      assert(got.synchronized(got.toSeq) == s1 ++ s2,
        "socket must deliver the exact bus acks, in order, exactly once")
      assert(srv.droppedCount == 0L)
      // post-commit: the acked range is already readable from the log
      assert(log.peek("s0", "seg0").get.sequence == 250L)
    } finally { sub.close(); srv.close() }
  }

  test("space/segment filter routes; names needing encoding survive the wire") {
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1")
    val seg = mutable.Buffer.empty[SegmentStatus]
    val all = mutable.Buffer.empty[SegmentStatus]
    val subSeg =
      PushNet.connect("127.0.0.1", srv.boundPort, Some("sp a/ce"), Some("seg#1")) { st =>
        seg.synchronized { seg += st; () }
      }
    val subAll = PushNet.connect("127.0.0.1", srv.boundPort) { st =>
      all.synchronized { all += st; () }
    }
    try {
      assert(subSeg.awaitReady() && subAll.awaitReady())
      assert(srv.connectionCount == 2)
      log.produce("sp a/ce", "seg#1", records(1, 5), 1000L)
      log.produce("other", "segX", records(1, 5), 1000L)
      awaitUntil()(all.synchronized(all.size) == 2)
      awaitUntil()(seg.synchronized(seg.size) == 1)
      val st = seg.synchronized(seg.head)
      assert(st.space == "sp a/ce" && st.segment == "seg#1")
      assert(st.firstSequence == 1L && st.lastSequence == 5L)
      assert(all.synchronized(all.map(_.segment).toSeq) == Seq("seg#1", "segX"))
    } finally { subSeg.close(); subAll.close(); srv.close() }
  }

  test("live-only contract: acks published before connect are not replayed") {
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1")
    try {
      log.produce("s0", "seg0", records(1, 5), 1000L)
      val got = mutable.Buffer.empty[SegmentStatus]
      val sub = PushNet.connect("127.0.0.1", srv.boundPort) { st =>
        got.synchronized { got += st; () }
      }
      try {
        assert(sub.awaitReady())
        log.produce("s0", "seg0", records(6, 5), 2000L)
        awaitUntil()(got.synchronized(got.size) == 1)
        assert(got.synchronized(got.head).firstSequence == 6L,
          "only the post-connect ack may be delivered")
      } finally sub.close()
    } finally srv.close()
  }

  test("a dead subscriber neither stalls produce nor starves its peers") {
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1")
    val got = mutable.Buffer.empty[SegmentStatus]
    val dead = PushNet.connect("127.0.0.1", srv.boundPort) { _ => () }
    val live = PushNet.connect("127.0.0.1", srv.boundPort) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(dead.awaitReady() && live.awaitReady())
      dead.close() // peer vanishes; server discovers on next write
      log.produce("s0", "seg0", records(1, 5), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1)
      assert(got.synchronized(got.head).lastSequence == 5L)
      awaitUntil()(srv.connectionCount == 1) // dead conn unregistered
    } finally { live.close(); srv.close() }
  }

  test("push-tickled consumer loop over the socket: acks drive offset re-polls, no loss, no dups") {
    // The push is a tickle, not a data channel: the subscriber re-polls
    // from its OWN offset on each ack (client.go:188-206) — the data
    // plane stays the log, only the wake-up crosses the socket.
    import graft.operators.EventOps
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1")
    val tickles = new java.util.concurrent.atomic.AtomicLong(0L)
    val sub = PushNet.connect("127.0.0.1", srv.boundPort, Some("s0")) { _ =>
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
      produceAwaitingTickle("b", 1, 2, 2000L)
      produceAwaitingTickle("a", 4, 2, 3000L)
      assert(poll() == 4)
      assert(consumed.size == 7 && consumed.distinct.size == 7, "no loss, no dups")
    } finally { sub.close(); srv.close() }
  }

  test("dialer auto-reconnects after a server restart and receives post-restart acks") {
    val log = freshLog()
    val srv1 = PushNet.server(log, bindHost = "127.0.0.1")
    val port = srv1.boundPort
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushNet.dial("127.0.0.1", port) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      log.produce("s0", "seg0", records(1, 5), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1)
      srv1.close() // server dies mid-stream
      val srv2 = PushNet.server(log, port = port, bindHost = "127.0.0.1")
      try {
        // no manual intervention: the dialer re-dials and resubscribes
        assert(sub.awaitSessions(2), "dialer must resubscribe on its own")
        log.produce("s0", "seg0", records(6, 5), 2000L)
        awaitUntil()(got.synchronized(got.size) == 2)
        assert(got.synchronized(got.last).firstSequence == 6L &&
          got.synchronized(got.last).lastSequence == 10L)
        assert(sub.sessionCount == 2L && sub.delivered == 2L)
      } finally srv2.close()
    } finally sub.close()
  }

  test("push-tickled consumer loop stays exactly-once across a server restart") {
    // Acks published while the dialer is down are gone (live feed, not
    // a store) — but the NEXT tickle's offset re-poll recovers them:
    // the data plane is the log, so restart costs latency, never data.
    import graft.operators.EventOps
    val log = freshLog()
    val srv1 = PushNet.server(log, bindHost = "127.0.0.1")
    val port = srv1.boundPort
    val tickles = new java.util.concurrent.atomic.AtomicLong(0L)
    val sub = PushNet.dial("127.0.0.1", port, Some("s0")) { _ =>
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
      val before = tickles.get()
      log.produce("s0", "a", records(1, 3), 1000L)
      awaitUntil()(tickles.get() > before)
      assert(poll() == 3)
      srv1.close()
      // produced while the transport is down: its ack is lost by design
      log.produce("s0", "a", records(4, 2), 2000L)
      val srv2 = PushNet.server(log, port = port, bindHost = "127.0.0.1")
      try {
        assert(sub.awaitSessions(2))
        val beforeRestartTickle = tickles.get()
        log.produce("s0", "b", records(1, 2), 3000L)
        awaitUntil()(tickles.get() > beforeRestartTickle)
        // ONE post-restart poll recovers both the missed ack's rows and
        // the new ones, each exactly once
        assert(poll() == 4)
        assert(consumed.size == 7 && consumed.distinct.size == 7, "no loss, no dups")
      } finally srv2.close()
    } finally sub.close()
  }

  test("mux: two filtered channels share ONE socket, server-side routing") {
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1")
    val mux = PushNet.mux("127.0.0.1", srv.boundPort)
    val a = mutable.Buffer.empty[SegmentStatus]
    val b = mutable.Buffer.empty[SegmentStatus]
    val all = mutable.Buffer.empty[SegmentStatus]
    val chA = mux.subscribe(Some("sp a/ce"), Some("seg#1")) { st =>
      a.synchronized { a += st; () }
    }
    val chB = mux.subscribe(Some("other")) { st =>
      b.synchronized { b += st; () }
    }
    val chAll = mux.subscribe() { st => all.synchronized { all += st; () } }
    try {
      assert(mux.awaitReady())
      assert(chA.awaitReady() && chB.awaitReady() && chAll.awaitReady())
      // the whole point: three subscriptions, ONE connection
      assert(srv.connectionCount == 1)
      assert(mux.channelCount == 3)
      log.produce("sp a/ce", "seg#1", records(1, 5), 1000L)
      log.produce("other", "segX", records(1, 5), 2000L)
      log.produce("neither", "segY", records(1, 5), 3000L)
      awaitUntil()(all.synchronized(all.size) == 3)
      awaitUntil()(a.synchronized(a.size) == 1)
      awaitUntil()(b.synchronized(b.size) == 1)
      val stA = a.synchronized(a.head)
      assert(stA.space == "sp a/ce" && stA.segment == "seg#1")
      assert(stA.firstSequence == 1L && stA.lastSequence == 5L)
      assert(b.synchronized(b.head).segment == "segX")
      assert(all.synchronized(all.map(_.segment).toSeq) == Seq("seg#1", "segX", "segY"))
      assert(chA.delivered == 1L && chB.delivered == 1L && chAll.delivered == 3L)
      // unsubscribe stops exactly that channel; the socket stays up
      chAll.close()
      log.produce("neither", "segY", records(6, 5), 4000L)
      log.produce("other", "segX", records(6, 5), 5000L)
      awaitUntil()(b.synchronized(b.size) == 2)
      assert(all.synchronized(all.size) == 3, "closed channel must stop receiving")
      assert(srv.connectionCount == 1 && mux.channelCount == 2)
    } finally { mux.close(); srv.close() }
  }

  test("mux: server restart re-registers ALL channels over one fresh socket") {
    val log = freshLog()
    val srv1 = PushNet.server(log, bindHost = "127.0.0.1")
    val port = srv1.boundPort
    val mux = PushNet.mux("127.0.0.1", port)
    val a = mutable.Buffer.empty[SegmentStatus]
    val b = mutable.Buffer.empty[SegmentStatus]
    mux.subscribe(Some("s0")) { st => a.synchronized { a += st; () } }
    mux.subscribe(Some("s1")) { st => b.synchronized { b += st; () } }
    try {
      assert(mux.awaitReady())
      log.produce("s0", "seg0", records(1, 5), 1000L)
      log.produce("s1", "seg0", records(1, 5), 1000L)
      awaitUntil()(a.synchronized(a.size) == 1 && b.synchronized(b.size) == 1)
      assert(srv1.connectionCount == 1)
      srv1.close() // server dies mid-stream
      val srv2 = PushNet.server(log, port = port, bindHost = "127.0.0.1")
      try {
        // no manual intervention: one re-dial re-registers BOTH channels
        assert(mux.awaitSessions(2), "mux must resubscribe on its own")
        log.produce("s0", "seg0", records(6, 5), 2000L)
        log.produce("s1", "seg0", records(6, 5), 2000L)
        awaitUntil()(a.synchronized(a.size) == 2 && b.synchronized(b.size) == 2)
        assert(a.synchronized(a.last).firstSequence == 6L)
        assert(b.synchronized(b.last).firstSequence == 6L)
        awaitUntil()(srv2.connectionCount == 1) // still ONE socket
      } finally srv2.close()
    } finally mux.close()
  }

  test("mux: push-tickled consumer loop stays exactly-once across a restart") {
    // the mux twin of the dialer exactly-once test: two spaces, two
    // channels, one socket; a restart costs latency, never data
    import graft.operators.EventOps
    val log = freshLog()
    val srv1 = PushNet.server(log, bindHost = "127.0.0.1")
    val port = srv1.boundPort
    val mux = PushNet.mux("127.0.0.1", port)
    val tickles = new java.util.concurrent.atomic.AtomicLong(0L)
    mux.subscribe(Some("s0")) { _ => tickles.incrementAndGet(); () }
    mux.subscribe(Some("s1")) { _ => tickles.incrementAndGet(); () }
    try {
      assert(mux.awaitReady())
      var off0 = (0L, "", 0L)
      var off1 = (0L, "", 0L)
      val consumed = mutable.Buffer.empty[(String, Long, String, Long)]
      def poll(space: String): Int = {
        val off = if (space == "s0") off0 else off1
        val fresh = EventOps
          .consumeSpaceFromOffset(log.load(), space, off._1, off._2, off._3)
          .select("timestamp", "segment", "sequence")
          .collect()
          .map(r => (space, r.getLong(0), r.getString(1), r.getLong(2)))
        consumed ++= fresh
        if (fresh.nonEmpty) {
          val last = (fresh.last._2, fresh.last._3, fresh.last._4)
          if (space == "s0") off0 = last else off1 = last
        }
        fresh.length
      }
      val before = tickles.get()
      log.produce("s0", "a", records(1, 3), 1000L)
      log.produce("s1", "a", records(1, 2), 1000L)
      awaitUntil()(tickles.get() >= before + 2)
      assert(poll("s0") == 3 && poll("s1") == 2)
      srv1.close()
      // produced while the transport is down: acks lost by design
      log.produce("s0", "a", records(4, 2), 2000L)
      val srv2 = PushNet.server(log, port = port, bindHost = "127.0.0.1")
      try {
        assert(mux.awaitSessions(2))
        val beforeRestart = tickles.get()
        log.produce("s0", "b", records(1, 2), 3000L)
        log.produce("s1", "b", records(1, 2), 3000L)
        awaitUntil()(tickles.get() >= beforeRestart + 2)
        // ONE post-restart poll per space recovers missed + new rows,
        // each exactly once
        assert(poll("s0") == 4 && poll("s1") == 2)
        assert(consumed.size == 11 && consumed.distinct.size == 11, "no loss, no dups")
      } finally srv2.close()
    } finally mux.close()
  }

  // ---- authentication seam (reference: http2/context.go:9 WithJWT —
  // every transport call carries a bearer token; wsstream/dialer.go:40
  // NewDefaultWebSocketDialer(tokenFunc) — evaluated per dial)

  private val Tok = "s3cret token/with#specials%25"

  test("auth: a bad-token dial is dropped and counted; zero acks flow to it") {
    val log = freshLog()
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1", verify = Some(PushNet.tokenVerifier(Tok)))
    val got = mutable.Buffer.empty[SegmentStatus]
    val bad = PushNet.connect(
      "127.0.0.1", srv.boundPort, tokenFunc = Some(() => "wrong")) { st =>
      got.synchronized { got += st; () }
    }
    try {
      awaitUntil()(srv.rejectedCount == 1L)
      assert(!bad.awaitReady(500), "a rejected dial must never see the greeting")
      log.produce("s0", "seg0", records(1, 5), 1000L)
      Thread.sleep(300) // would-be delivery window
      assert(got.synchronized(got.isEmpty), "no acks may reach a rejected connection")
      assert(bad.delivered == 0L)
    } finally { bad.close(); srv.close() }
  }

  test("auth: an unauthenticated mux client (control line before #auth) is rejected") {
    val log = freshLog()
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1", verify = Some(PushNet.tokenVerifier(Tok)))
    // no tokenFunc: the mux's first line is #mux, which an auth-required
    // server treats as an unauthorized dial
    val mux = PushNet.mux("127.0.0.1", srv.boundPort, maxBackoffMs = 100L)
    try {
      awaitUntil()(srv.rejectedCount >= 1L)
      assert(!mux.awaitReady(500))
    } finally { mux.close(); srv.close() }
  }

  test("auth: good tokens flow on subscriber, mux channels, and survive encoding") {
    val log = freshLog()
    // rejectedCount == 0 below is strict on purpose: it caught a real
    // ordering race (a concurrent subscribe()'s #sub slipping ahead of
    // the mux session's #auth line under load) — fixed by writing auth
    // inside the writer-publish lock
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1", verify = Some(PushNet.tokenVerifier(Tok)))
    val subGot = mutable.Buffer.empty[SegmentStatus]
    val chGot = mutable.Buffer.empty[SegmentStatus]
    val sub = PushNet.connect(
      "127.0.0.1", srv.boundPort, tokenFunc = Some(() => Tok)) { st =>
      subGot.synchronized { subGot += st; () }
    }
    val mux = PushNet.mux("127.0.0.1", srv.boundPort, tokenFunc = Some(() => Tok))
    val ch = mux.subscribe(space = Some("s0")) { st =>
      chGot.synchronized { chGot += st; () }
    }
    try {
      assert(sub.awaitReady() && mux.awaitReady() && ch.awaitReady())
      log.produce("s0", "seg0", records(1, 5), 1000L)
      log.produce("other", "segX", records(1, 5), 1000L)
      awaitUntil()(subGot.synchronized(subGot.size) == 2)
      awaitUntil()(chGot.synchronized(chGot.size) == 1)
      assert(chGot.synchronized(chGot.head).space == "s0", "server-side filter post-auth")
      assert(srv.rejectedCount == 0L)
    } finally { sub.close(); mux.close(); srv.close() }
  }

  test("auth: re-dial re-auths with a FRESH tokenFunc evaluation (rotation-safe)") {
    val log = freshLog()
    val verify = Some(PushNet.tokenVerifier(Tok))
    val srv1 = PushNet.server(log, bindHost = "127.0.0.1", verify = verify)
    val port = srv1.boundPort
    val evals = new java.util.concurrent.atomic.AtomicLong(0L)
    val got = mutable.Buffer.empty[SegmentStatus]
    val dialer = PushNet.dial(
      "127.0.0.1", port, maxBackoffMs = 100L,
      tokenFunc = Some(() => { evals.incrementAndGet(); Tok })) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(dialer.awaitReady())
      val evalsFirst = evals.get()
      assert(evalsFirst >= 1L)
      log.produce("s0", "seg0", records(1, 3), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1)
      srv1.close()
      val srv2 = PushNet.server(log, port = port, bindHost = "127.0.0.1", verify = verify)
      try {
        assert(dialer.awaitSessions(2), "the dialer must re-auth and re-register")
        assert(evals.get() > evalsFirst, "re-dial must evaluate tokenFunc afresh")
        log.produce("s0", "seg0", records(4, 3), 2000L)
        awaitUntil()(got.synchronized(got.size) == 2)
        assert(got.synchronized(got.last).lastSequence == 6L)
        assert(srv2.rejectedCount == 0L)
      } finally srv2.close()
    } finally dialer.close()
  }

  test("auth: a silent dial is dropped at the handshake deadline, counted, and unregistered") {
    val log = freshLog()
    // 2 s deadline: prompt for the silent socket, but wide enough that
    // the GOOD subscriber below still auths in time on a loaded box
    // (its first write races the same clock — 200 ms flaked under the
    // full parallel suite)
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1",
      verify = Some(PushNet.tokenVerifier(Tok)), authTimeoutMs = 2000L)
    // raw socket that authenticates NOTHING: without the deadline this
    // connection would hold a writer thread + conns slot forever
    val silent = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      awaitUntil()(srv.rejectedCount == 1L)
      awaitUntil()(srv.connectionCount == 0)
      // the server is still healthy for authenticated peers afterwards
      val got = mutable.Buffer.empty[SegmentStatus]
      val sub = PushNet.connect(
        "127.0.0.1", srv.boundPort, tokenFunc = Some(() => Tok)) { st =>
        got.synchronized { got += st; () }
      }
      try {
        assert(sub.awaitReady())
        log.produce("s0", "seg0", records(1, 3), 1000L)
        awaitUntil()(got.synchronized(got.size) == 1)
      } finally sub.close()
    } finally { silent.close(); srv.close() }
  }

  test("auth: a slow-loris trickle cannot outlive the absolute handshake deadline") {
    val log = freshLog()
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1",
      verify = Some(PushNet.tokenVerifier(Tok)), authTimeoutMs = 600L)
    // one byte every 100 ms, never a newline: each byte resets a
    // per-read SO_TIMEOUT, so only an ABSOLUTE deadline drops this dial
    val loris = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      val out = loris.getOutputStream
      val stop = System.currentTimeMillis() + 3000L
      var dropped = false
      while (!dropped && System.currentTimeMillis() < stop) {
        try { out.write('x'); out.flush() }
        catch { case _: java.io.IOException => dropped = true }
        Thread.sleep(100L)
      }
      awaitUntil()(srv.rejectedCount == 1L)
      awaitUntil()(srv.connectionCount == 0)
      // a kernel buffer can absorb writes after the server closed, so
      // the rejected/conn counters above are the real assertion; the
      // server must still serve authenticated peers afterwards
      val got = mutable.Buffer.empty[SegmentStatus]
      val sub = PushNet.connect(
        "127.0.0.1", srv.boundPort, tokenFunc = Some(() => Tok)) { st =>
        got.synchronized { got += st; () }
      }
      try {
        assert(sub.awaitReady())
        log.produce("s0", "seg0", records(1, 3), 1000L)
        awaitUntil()(got.synchronized(got.size) == 1)
      } finally sub.close()
    } finally { loris.close(); srv.close() }
  }

  test("auth: a malformed percent-encoded token is refused AND counted") {
    val log = freshLog()
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1", verify = Some(PushNet.tokenVerifier(Tok)))
    val s = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
      w.write("#auth %zz"); w.newLine(); w.flush() // URLDecoder.decode throws on %zz
      awaitUntil()(srv.rejectedCount == 1L)
      awaitUntil()(srv.connectionCount == 0)
    } finally { s.close(); srv.close() }
  }

  test("auth: the wire rides a pluggable socket factory (TLS seam)") {
    val log = freshLog()
    // javax.net default factories exercise the seam end-to-end; an
    // SSLServerSocketFactory/SSLSocketFactory pair plugs in identically
    val srv = PushNet.server(
      log, bindHost = "127.0.0.1",
      verify = Some(PushNet.tokenVerifier(Tok)),
      socketFactory = Some(javax.net.ServerSocketFactory.getDefault))
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushNet.connect(
      "127.0.0.1", srv.boundPort, tokenFunc = Some(() => Tok),
      socketFactory = Some(javax.net.SocketFactory.getDefault)) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      log.produce("s0", "seg0", records(1, 4), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1)
      assert(srv.rejectedCount == 0L)
    } finally { sub.close(); srv.close() }
  }

  test("TLS: auth + acks + re-dial ride a real SSL handshake; plaintext peers cannot speak to the wire") {
    // self-signed keypair via the JDK's own keytool — the same material
    // an operator would provision (reference: the JWT rides TLS-capable
    // transports, wss/http2 — http2/context.go:9)
    val dir = java.nio.file.Files.createTempDirectory("graft_tls")
    val ksPath = dir.resolve("server.p12").toString
    val pass = "graft-spec-pass"
    import scala.sys.process._
    val gen = Seq(
      "keytool", "-genkeypair", "-alias", "push", "-keyalg", "RSA",
      "-keysize", "2048", "-storetype", "PKCS12", "-keystore", ksPath,
      "-storepass", pass, "-dname", "CN=127.0.0.1", "-validity", "1",
      "-ext", "SAN=IP:127.0.0.1").!(ProcessLogger(_ => ()))
    assert(gen == 0, "keytool must generate the self-signed keystore")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(ksPath)
    try ks.load(in, pass.toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory
      .getInstance(javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, pass.toCharArray)
    val tmf = javax.net.ssl.TrustManagerFactory
      .getInstance(javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks) // trust exactly the self-signed cert, nothing else
    val srvCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    srvCtx.init(kmf.getKeyManagers, null, null)
    val cliCtx = javax.net.ssl.SSLContext.getInstance("TLS")
    cliCtx.init(null, tmf.getTrustManagers, null)

    val log = freshLog()
    val srv1 = PushNet.server(
      log, bindHost = "127.0.0.1",
      verify = Some(PushNet.tokenVerifier(Tok)), authTimeoutMs = 1000L,
      socketFactory = Some(srvCtx.getServerSocketFactory))
    val port = srv1.boundPort
    val got = mutable.Buffer.empty[SegmentStatus]
    // the auto-reconnect dialer, so the RE-dial also rides the handshake
    val sub = PushNet.dial(
      "127.0.0.1", port, tokenFunc = Some(() => Tok),
      socketFactory = Some(cliCtx.getSocketFactory)) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady(), "authenticated TLS dial must become ready")
      log.produce("s0", "seg0", records(1, 4), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1) // ack over the encrypted wire
      assert(srv1.rejectedCount == 0L)

      // a PLAINTEXT client cannot speak to the TLS listener: its #auth
      // line is handshake garbage to the server, which drops it at the
      // auth deadline — this is the assertion that fails if the framing
      // ever bypasses the factory seam
      val plain = PushNet.connect("127.0.0.1", port, tokenFunc = Some(() => Tok)) { _ => () }
      try {
        assert(!plain.awaitReady(2500), "a plaintext dial must never see the TLS greeting")
        awaitUntil()(srv1.rejectedCount >= 1L)
      } finally plain.close()

      // server restart: the dialer re-handshakes and resubscribes on its
      // own, still over TLS
      srv1.close()
      val srv2 = PushNet.server(
        log, port = port, bindHost = "127.0.0.1",
        verify = Some(PushNet.tokenVerifier(Tok)),
        socketFactory = Some(srvCtx.getServerSocketFactory))
      try {
        assert(sub.awaitSessions(2), "dialer must re-dial through the TLS factory")
        log.produce("s0", "seg0", records(5, 3), 2000L)
        awaitUntil()(got.synchronized(got.size) == 2)
        assert(got.synchronized(got.last).lastSequence == 7L)
      } finally srv2.close()
    } finally sub.close()
  }

  test("auth: a hook-less server ignores #auth — token-bearing clients interoperate") {
    val log = freshLog()
    val srv = PushNet.server(log, bindHost = "127.0.0.1") // no verify hook
    val got = mutable.Buffer.empty[SegmentStatus]
    val sub = PushNet.connect(
      "127.0.0.1", srv.boundPort, tokenFunc = Some(() => Tok)) { st =>
      got.synchronized { got += st; () }
    }
    try {
      assert(sub.awaitReady())
      log.produce("s0", "seg0", records(1, 5), 1000L)
      awaitUntil()(got.synchronized(got.size) == 1)
      assert(srv.rejectedCount == 0L)
    } finally { sub.close(); srv.close() }
  }

  // ---- readiness: the greeting alone does not prove a channel is
  // matched server-side; a session counts once every channel has its #ok

  /** Run `open` against a fake server that greets at once, reads the
    * client's `#sub <id>`, and holds back `#ok` until the not-ready
    * assertions are done. */
  private def assertReadyOnlyAfterOk(label: String)(open: Int => PushNetSubscriber): Unit = {
    val fake = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    fake.setSoTimeout(10000)
    val client = open(fake.getLocalPort)
    try {
      val s = fake.accept()
      try {
        s.setSoTimeout(10000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        val out = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        def send(line: String): Unit = { out.write(line); out.newLine(); out.flush() }
        send("#hello")
        val id = Iterator.continually(in.readLine()).takeWhile(_ != null)
          .find(_.startsWith("#sub ")).map(_.split(' ')(1))
        assert(id.isDefined, s"$label: the client never registered its channel")
        assert(!client.awaitReady(300), s"$label: ready on #hello before #ok")
        assert(client.sessionCount == 0L, s"$label: session counted before #ok")
        send(s"#ok ${id.get}")
        assert(client.awaitReady(), s"$label: #ok must complete the session")
        assert(client.awaitSessions(1) && client.sessionCount == 1L)
      } finally s.close()
    } finally { client.close(); fake.close() }
  }

  test("readiness: a session counts only after #hello AND every registered channel's #ok") {
    assertReadyOnlyAfterOk("connect")(port => PushNet.connect("127.0.0.1", port) { _ => () })
    assertReadyOnlyAfterOk("mux") { port =>
      val mux = PushNet.mux("127.0.0.1", port)
      mux.subscribe(Some("s0")) { _ => () }
      mux
    }
  }

  test("a refused connect returns a client that is never ready and closes promptly") {
    val dead = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val port = dead.getLocalPort
    dead.close() // nothing listens on `port` now
    val sub = PushNet.connect("127.0.0.1", port) { _ => () }
    try {
      assert(!sub.awaitReady(500))
      assert(sub.sessionCount == 0L)
    } finally {
      val t0 = System.nanoTime()
      sub.close()
      assert((System.nanoTime() - t0) / 1000000L < 5000L, "close() must not hang")
    }
  }
}
