package graft.log

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.util.control.NonFatal

import graft.model.SegmentStatus

/** Network push transport for [[SegmentStatus]] acks — the
  * shared-filesystem-free leg of the delivery story. [[PushBridge]]
  * crosses the process boundary through the log's filesystem, which is
  * the right medium when every participant already mounts the log; the
  * reference additionally delivers acks to machines that share NOTHING
  * with the producer but a network route, over resident bidi streams
  * (reference: wsstream/bidi_stream.go:1, http2/http2_stream_bus.go:1,
  * routed by server/observer.go:100; client.go:188 SubscribeToSpace).
  * This is that leg: the producing driver — the one resident,
  * non-ephemeral process in a Spark deployment — serves a TCP port;
  * remote subscribers hold a connection open and receive each ack the
  * moment the bus fans it out.
  *
  * Wire format is the mailbox's, framed on a stream instead of files,
  * in ONE mode: the client registers channels (`#sub <id> <space>
  * <segment>`, answered by `#ok <id>`), and the server filters each ack
  * per channel and sends it as a `#c <id> <ack>` line carrying the
  * [[PushBridge.encode]] form; one batch is closed by the
  * [[PushBridge.sentinel]] `#n` line (URL-encoding guarantees no ack
  * line starts with '#', so control lines are unambiguous — same
  * argument as the mailbox). TCP replaces the rename-atomicity story:
  * in-order, no torn frames, per-publisher FIFO for free.
  *
  * One client class, [[PushNetSubscriber]], three entry points:
  * [[connect]] (one channel, one session), [[dial]] (one channel,
  * re-dials) and [[mux]] (channels added with `subscribe`, re-dials).
  * A session is ready once the `#hello` greeting is read AND every
  * channel registered on it has its `#ok` — from then on every
  * matching ack is delivered.
  *
  * Delivery contract (mirrors [[NotificationBus]] / [[PushBridge]]):
  *  - '''per-publisher FIFO''': one writer thread per connection drains
  *    a per-connection queue in bus-publish order.
  *  - '''live feed, at-most-once''': a channel receives acks
  *    published after the server registers it (`#ok` = registered);
  *    no replay — resume-from-offset readers belong to
  *    `StreamLog.follow` / `ConsumerContext`, exactly as the reference
  *    routes replay through Consume, not the ack bus.
  *  - '''post-commit''': the bus publishes after the write is durably
  *    visible, so a delivered ack is always readable from the log.
  *  - '''slow subscribers drop, counted''': a connection that stops
  *    draining backs up its own bounded queue only; overflow drops the
  *    oldest pending acks for THAT connection and counts them
  *    ([[PushServer.droppedCount]]) — a stalled reader can neither
  *    stall produce nor starve its peers. The feed is a signal, not a
  *    store; a dropped tickle is recovered by the subscriber's next
  *    offset re-poll.
  */
object PushNet {

  private[log] val Hello = "#hello"

  // ---- authentication (reference: http2/context.go:9 WithJWT — every
  // transport call carries a bearer token; wsstream/dialer.go:40
  // NewDefaultWebSocketDialer(tokenFunc) — the dialer evaluates a token
  // FUNCTION per dial, so rotated credentials ride each reconnect).
  // Wire: the client's FIRST line is `#auth <url-encoded-token>`; a
  // server with a verify hook sends nothing (no greeting, no acks)
  // until it accepts one, and drops + counts a connection whose first
  // line is anything else or whose token the hook refuses. A server
  // WITHOUT a hook ignores `#auth` lines (a token-bearing client can
  // talk to an open server), and a hook-less line protocol stays
  // exactly the pre-auth wire format.
  private[log] val CtlAuthPrefix = "#auth "

  /** Hard cap on the handshake line: an unauthenticated peer may hold at
    * most this many bytes of server memory before being dropped. */
  private[log] val MaxAuthLineBytes = 64 * 1024
  private[log] def ctlAuth(token: String): String =
    CtlAuthPrefix + java.net.URLEncoder.encode(token, "UTF-8")

  /** Constant-time equality verify hook for a static shared token —
    * the simplest credential the seam supports; a JWT validator plugs
    * in the same way (any `String => Boolean`). Both sides are hashed
    * to fixed-length digests before the compare, so the timing is
    * independent of token length as well as content
    * (`MessageDigest.isEqual` short-circuits on unequal lengths). */
  def tokenVerifier(expected: String): String => Boolean = { presented =>
    def d(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.security.MessageDigest.isEqual(d(expected), d(presented))
  }

  // ---- channel control lines (reference: wsstream/muxer.go:22 — many
  // logical streams over ONE connection, each keyed by a channel id;
  // wsstream/bus.go:63 — every channel re-registers over a freshly
  // dialed stream). All control lines start with '#', which an encoded
  // ack line never does (URLEncoder escapes '#'), so the wire stays
  // unambiguous. `#mux` opens every client session (after `#auth`);
  // the server ignores it like any unknown control line, but it means
  // a token-less client's FIRST line is always a control line, which an
  // auth-required server refuses at once instead of at its deadline.
  private[log] val CtlMux = "#mux"
  private[log] val WildFilter = "*"
  private[log] def encFilter(v: Option[String]): String =
    v.map(java.net.URLEncoder.encode(_, "UTF-8")).getOrElse(WildFilter)
  private[log] def decFilter(v: String): Option[String] =
    if (v == WildFilter) None
    else Some(java.net.URLDecoder.decode(v, "UTF-8"))
  private[log] def ctlSub(id: String, space: Option[String], segment: Option[String]): String =
    s"#sub $id ${encFilter(space)} ${encFilter(segment)}"
  private[log] def ctlUnsub(id: String): String = s"#unsub $id"
  private[log] def ctlOk(id: String): String = s"#ok $id"
  private[log] def ctlChan(id: String, ackLine: String): String = s"#c $id $ackLine"

  /** Serve `log`'s ack bus on a TCP port. `port` 0 = ephemeral (read
    * [[PushServer.boundPort]]); `bindHost` defaults to all interfaces —
    * the publisher is a server, remote subscribers dial in. `verify` is
    * the pluggable authentication hook (reference http2/context.go:9
    * WithJWT): when present, a connection receives nothing until its
    * first line is an accepted `#auth` token; a refused token or any
    * other first line drops the connection and bumps
    * [[PushServer.rejectedCount]]. Use [[tokenVerifier]] for a static
    * shared token. A verify-enabled server also enforces
    * `authTimeoutMs`: a connection whose accepted `#auth` has not
    * arrived within the deadline is dropped and counted — a silent
    * dial cannot park a socket + writer thread forever.
    *
    * Security note: the token rides the wire url-encoded but CLEARTEXT,
    * so the seam authenticates peers only on networks where the route
    * itself is trusted (same host, a private mesh, or an encrypted
    * tunnel). The reference carries its JWT over TLS
    * (http2/client.go, wss://); to match that here, pass an
    * `SSLServerSocketFactory` as `socketFactory` (and the client-side
    * `SSLSocketFactory` to connect/dial/mux) — the framing is
    * stream-agnostic, so the same wire protocol rides the encrypted
    * socket unchanged. */
  def server(
      log: EventLog,
      port: Int = 0,
      bindHost: String = "0.0.0.0",
      backlog: Int = 8192,
      verify: Option[String => Boolean] = None,
      authTimeoutMs: Long = 5000L,
      socketFactory: Option[javax.net.ServerSocketFactory] = None): PushServer = {
    val srv = new PushServer(port, bindHost, backlog, verify, authTimeoutMs, socketFactory)
    srv.attach(log.bus)
    srv
  }

  /** One-session client: dial a [[PushServer]] from THIS process — no
    * filesystem, no Spark session, no shared state with the producing
    * JVM beyond the route — and register one channel. `space`/`segment`
    * filter like the bus's subscribeToSpace / subscribeToSegment
    * (enforced server-side); both-None is the firehose. Runs ONE
    * session and never re-dials: a refused dial or a rejected token
    * gives a client that never becomes ready, and a dropped session
    * delivers nothing more — nothing is thrown. Ready per
    * [[PushNetSubscriber]]'s readiness rule. */
  def connect(
      host: String,
      port: Int,
      space: Option[String] = None,
      segment: Option[String] = None,
      tokenFunc: Option[() => String] = None,
      socketFactory: Option[javax.net.SocketFactory] = None)(
      cb: SegmentStatus => Unit): PushNetSubscriber = {
    val c = new PushNetSubscriber(host, port, redial = false, 0L, 0L, tokenFunc, socketFactory)
    c.subscribe(space, segment)(cb)
    c.start()
  }

  /** Resilient variant of [[connect]]: the same one-channel client, but
    * it re-dials with capped exponential backoff whenever the
    * connection drops (server restart, network blip) and re-registers
    * its channel on reconnect — the reference's client holds its feed
    * through a dialer for the same reason (reference:
    * wsstream/dialer.go:1, wsstream/bus.go:63 — subscriptions
    * re-register over a freshly dialed stream). The delivery contract
    * per SESSION is the live feed, at-most-once; acks published while
    * disconnected are NOT replayed — continuity is the subscriber's
    * offset re-poll, exactly the recovery path a dropped
    * slow-subscriber tickle already takes. Backoff starts at
    * `backoffMs`, doubles per failed dial, and caps at `maxBackoffMs`;
    * a session that becomes ready resets it. */
  def dial(
      host: String,
      port: Int,
      space: Option[String] = None,
      segment: Option[String] = None,
      backoffMs: Long = 50L,
      maxBackoffMs: Long = 2000L,
      tokenFunc: Option[() => String] = None,
      socketFactory: Option[javax.net.SocketFactory] = None)(
      cb: SegmentStatus => Unit): PushNetSubscriber = {
    val c = new PushNetSubscriber(
      host, port, redial = true, backoffMs, maxBackoffMs, tokenFunc, socketFactory)
    c.subscribe(space, segment)(cb)
    c.start()
  }

  /** Channel-multiplexed resilient client: MANY space/segment
    * subscriptions over ONE dialed connection, each keyed by a channel
    * id (reference: wsstream/muxer.go:22 — the WebSocketMuxer carries
    * many logical bidi streams over a single socket). A process
    * consuming N spaces holds 1 socket, not N; filters are enforced
    * SERVER-side, so a narrow channel costs the wire only its own acks
    * — the bandwidth shape that matters when one driver serves hundreds
    * of consumers. Starts with no channels and re-dials like [[dial]],
    * re-registering EVERY channel over the fresh connection
    * (wsstream/bus.go:63); per-channel delivery contract is the
    * at-most-once live feed. Channels may be added/removed while
    * connected or disconnected ([[PushNetSubscriber.subscribe]] /
    * [[PushNetMuxChannel.close]]). */
  def mux(
      host: String,
      port: Int,
      backoffMs: Long = 50L,
      maxBackoffMs: Long = 2000L,
      tokenFunc: Option[() => String] = None,
      socketFactory: Option[javax.net.SocketFactory] = None): PushNetSubscriber =
    new PushNetSubscriber(
      host, port, redial = true, backoffMs, maxBackoffMs, tokenFunc, socketFactory).start()
}

/** Producer side: accepts subscriber connections and fans each bus ack
  * onto every connection's bounded queue; a per-connection writer
  * thread drains its queue into sentinel-framed batches. The bus
  * callback itself is a queue offer — produce latency is untouched, a
  * dead or slow connection only ever hurts itself. */
final class PushServer private[log] (
    port: Int,
    bindHost: String,
    backlog: Int,
    verify: Option[String => Boolean] = None,
    authTimeoutMs: Long = 5000L,
    socketFactory: Option[javax.net.ServerSocketFactory] = None)
    extends AutoCloseable {

  private val open = new AtomicBoolean(true)
  private val dropped = new AtomicLong(0L)
  private val rejected = new AtomicLong(0L)
  private val server = socketFactory
    .map(_.createServerSocket())
    .getOrElse(new ServerSocket())
  server.setReuseAddress(true)
  server.bind(new InetSocketAddress(bindHost, port))
  @volatile private var sub: Option[NotificationBus#Subscription] = None

  /** The actual listening port (for `port = 0` ephemeral binds). */
  def boundPort: Int = server.getLocalPort

  /** Acks dropped across all connections (slow-subscriber overflow). */
  def droppedCount: Long = dropped.get()

  /** Connections dropped by the authentication hook (refused token, a
    * first line that was not `#auth` while a hook is configured, an
    * `#auth` token whose percent-encoding fails to decode, a silent
    * dial that sent nothing before the `authTimeoutMs` deadline, or a
    * transport handshake the socket factory refused — e.g. a plaintext
    * peer dialing a TLS listener). */
  def rejectedCount: Long = rejected.get()

  /** Live subscriber connections. */
  def connectionCount: Int = conns.size()

  private val conns =
    ConcurrentHashMap.newKeySet[Conn]()

  private final class Conn(socket: Socket) {
    socket.setTcpNoDelay(true)
    // handshake deadline: while unauthenticated, reads time out so a
    // silent dial cannot hold the socket + writer thread forever (the
    // timeout is lifted the moment the hook accepts an #auth line)
    if (verify.isDefined) socket.setSoTimeout(math.max(1L, authTimeoutMs).toInt)
    private val queue = new LinkedBlockingQueue[SegmentStatus](backlog)
    // control replies (#ok) ride their own unbounded lane — bounded by
    // the client's subscribe rate, and drop-oldest must never eat a
    // handshake line
    private val ctl = new LinkedBlockingQueue[String]()
    private val out = new BufferedWriter(
      new OutputStreamWriter(socket.getOutputStream, UTF_8))
    // authed = no hook configured, or the hook accepted this
    // connection's #auth line. Until then the connection receives
    // NOTHING (no greeting, no acks) and offer() discards — safe,
    // because the delivery guarantee starts at the greeting the client
    // has not been sent yet.
    @volatile private var authed = verify.isEmpty
    private val channels =
      new ConcurrentHashMap[String, (Option[String], Option[String])]()

    def offer(st: SegmentStatus): Unit =
      if (authed) {
        while (!queue.offer(st)) {
          // drop-oldest: the freshest position is the useful tickle
          if (queue.poll() != null) dropped.incrementAndGet()
          ()
        }
      }

    private def writeCtl(): Boolean = {
      var wrote = false
      var line = ctl.poll()
      while (line != null) {
        out.write(line); out.newLine()
        wrote = true
        line = ctl.poll()
      }
      wrote
    }

    private val writer = new Thread(() => {
      val batch = new java.util.ArrayList[SegmentStatus]()
      try {
        // auth gate: nothing goes out before the hook accepts. The
        // clientReader closes the socket on rejection, which exits
        // this wait; a silent client on an auth-required server is
        // simply never registered into the feed.
        while (open.get() && !socket.isClosed && !authed) Thread.sleep(10)
        if (!open.get() || socket.isClosed) throw new java.io.IOException("unauthenticated")
        out.write(PushNet.Hello); out.newLine(); out.flush()
        while (open.get() && !socket.isClosed) {
          val head = queue.poll(50, TimeUnit.MILLISECONDS)
          var wrote = writeCtl()
          if (head != null) {
            batch.clear()
            batch.add(head)
            queue.drainTo(batch)
            // server-side filtering: each ack goes out once per
            // registered channel it matches, tagged with the channel id
            batch.forEach { st =>
              channels.forEach { (id, f) =>
                if (f._1.forall(_ == st.space) && f._2.forall(_ == st.segment)) {
                  out.write(PushNet.ctlChan(id, PushBridge.encode(st)))
                  out.newLine()
                }
              }
            }
            out.write(PushBridge.sentinel(batch.size())); out.newLine()
            wrote = true
          }
          if (wrote) out.flush()
        }
      } catch { case NonFatal(_) => () } // peer went away: unregister below
      finally {
        conns.remove(Conn.this)
        try socket.close()
        catch { case NonFatal(_) => () }
      }
    }, "graft-push-server-conn")
    writer.setDaemon(true)

    // Client reader: clients send control lines and then stay quiet,
    // so a read returning EOF (or erroring) is the prompt peer-gone
    // signal — a one-batch write to a closed loopback
    // socket lands in the kernel buffer without an error, so write
    // failures alone detect a dead peer only on the SECOND batch.
    private val clientReader = new Thread(() => {
      try {
        val raw = socket.getInputStream
        // Handshake: with a hook configured the FIRST line is read
        // byte-wise under an ABSOLUTE deadline. SO_TIMEOUT alone is
        // per-READ — a slow-loris dial trickling one byte per window
        // resets it forever — so the remaining budget is recomputed
        // before every byte and the total unauthenticated lifetime is
        // bounded by authTimeoutMs regardless of trickle pace. Returns
        // null on clean EOF (silent hangup: closed, not counted);
        // throws SocketTimeoutException on deadline or an absurdly long
        // line (counted as a rejection below).
        def readAuthLine(): String = {
          val deadline =
            System.nanoTime() + math.max(1L, authTimeoutMs) * 1000000L
          val buf = new java.io.ByteArrayOutputStream(64)
          var b = 0
          while (b != -1) {
            val remainMs = (deadline - System.nanoTime()) / 1000000L
            if (remainMs <= 0 || buf.size > PushNet.MaxAuthLineBytes)
              throw new java.net.SocketTimeoutException("handshake deadline")
            socket.setSoTimeout(math.min(remainMs, Int.MaxValue.toLong).toInt)
            b = raw.read()
            if (b == '\n')
              return new String(buf.toByteArray, UTF_8).stripSuffix("\r")
            if (b != -1) buf.write(b)
          }
          null
        }
        val in = new BufferedReader(new InputStreamReader(raw, UTF_8))
        var line =
          if (verify.isEmpty) in.readLine()
          else
            try readAuthLine()
            catch {
              // handshake deadline expired (silence OR trickle): a
              // refused dial like any other — counted, then dropped
              case _: java.net.SocketTimeoutException =>
                rejected.incrementAndGet()
                null
              // transport handshake failure (a plaintext peer dialing a
              // TLS listener, a cert the factory refuses): equally a
              // refused dial — the auth line never legibly arrived
              case _: javax.net.ssl.SSLException =>
                rejected.incrementAndGet()
                null
            }
        // auth-required: the FIRST line must be an accepted #auth —
        // anything else (wrong token, a #mux/#sub from an unauthed
        // client, garbage, a token whose percent-encoding won't decode)
        // drops the connection, counted. One TCP stream keeps
        // client-side ordering, so token-bearing clients always satisfy
        // this by sending #auth before anything else.
        if (verify.isDefined && line != null) {
          val ok = line.startsWith(PushNet.CtlAuthPrefix) &&
            scala.util.Try(
              java.net.URLDecoder.decode(
                line.substring(PushNet.CtlAuthPrefix.length), "UTF-8"))
              .toOption.exists(tok => verify.exists(_(tok)))
          if (ok) {
            socket.setSoTimeout(0) // authenticated: reads may block freely
            authed = true; line = in.readLine()
          } else {
            rejected.incrementAndGet()
            line = null // fall through to the finally: unregister + close
          }
        }
        while (line != null && open.get()) {
          val parts = line.split(' ')
          line match {
            case l if l.startsWith("#sub ") && parts.length == 4 =>
              channels.put(
                parts(1),
                (PushNet.decFilter(parts(2)), PushNet.decFilter(parts(3))))
              // registered BEFORE the ack goes out: once the client
              // reads #ok, every later bus ack is matched vs the channel
              ctl.put(PushNet.ctlOk(parts(1)))
            case l if l.startsWith("#unsub ") && parts.length == 2 =>
              channels.remove(parts(1)); ()
            case _ => () // unknown control line: ignore (forward compat)
          }
          line = in.readLine()
        }
      } catch { case NonFatal(_) => () }
      finally {
        conns.remove(Conn.this)
        try socket.close()
        catch { case NonFatal(_) => () }
      }
    }, "graft-push-server-read")
    clientReader.setDaemon(true)

    /** Called AFTER the conn is in `conns`: the greeting must not go out
      * before registration, or an ack in that window could miss the
      * queue despite the client having read #hello. */
    def start(): Unit = { writer.start(); clientReader.start() }

    def shutdown(): Unit = {
      try socket.close()
      catch { case NonFatal(_) => () }
      writer.join(5000)
    }
  }

  private[log] def attach(bus: NotificationBus): Unit = {
    sub = Some(bus.subscribeAll { st =>
      if (open.get()) conns.forEach(c => c.offer(st))
    })
  }

  private val acceptor = new Thread(() => {
    while (open.get()) {
      try {
        val s = server.accept()
        // register BEFORE the greeting goes out: once a client reads
        // #hello, every later bus ack is guaranteed to hit its queue
        val c = new Conn(s)
        conns.add(c)
        c.start()
      } catch { case NonFatal(_) => () } // closed during accept: loop exits
    }
  }, "graft-push-server-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Detach from the bus, close the port and every connection. */
  def close(): Unit = if (open.getAndSet(false)) {
    sub.foreach(_.close())
    try server.close()
    catch { case NonFatal(_) => () }
    conns.forEach(_.shutdown())
    conns.clear()
    acceptor.join(5000)
  }
}

/** One logical subscription riding a [[PushNetSubscriber]] session.
  * Ready = the server acknowledged the registration (`#ok`) for the
  * CURRENT session; acks published after that are matched against this
  * channel server-side. `close()` unregisters (live sessions stop
  * sending immediately; the client also forgets it for future
  * re-dials). */
final class PushNetMuxChannel private[log] (
    client: PushNetSubscriber,
    private[log] val id: String,
    private[log] val space: Option[String],
    private[log] val segment: Option[String],
    private[log] val cb: SegmentStatus => Unit) {

  private[log] val deliveredCount = new AtomicLong(0L)
  private[log] val ready = new CountDownLatch(1)

  /** Acks delivered to this channel's callback. */
  def delivered: Long = deliveredCount.get()

  /** True once the server has acknowledged this channel's registration
    * (first session it completes on). */
  def awaitReady(timeoutMs: Long = 10000L): Boolean =
    ready.await(timeoutMs, TimeUnit.MILLISECONDS)

  def close(): Unit = client.unsubscribe(this)
}

/** Consumer side, the one client behind [[PushNet.connect]],
  * [[PushNet.dial]] and [[PushNet.mux]]: one daemon thread owns the
  * dial → `#auth` → `#mux` → register-every-channel → read-until-drop
  * loop, followed by capped backoff and a re-dial when `redial` is set
  * (the entry point fixes it: `connect` runs one session, `dial` and
  * `mux` re-dial). Every channel re-registers over each freshly dialed
  * connection (reference: wsstream/bus.go:63) with no caller
  * intervention. Channel callbacks run on the reader thread in wire
  * order — per-publisher FIFO per channel.
  *
  * Readiness: a session counts (`sessionCount`, `awaitSessions`,
  * `awaitReady`) once the `#hello` greeting has been read AND every
  * channel whose `#sub` went out on that session before then has its
  * `#ok`. The server writes `#hello` as soon as a connection is authed,
  * without waiting for the client's `#sub` lines, so the greeting alone
  * does not prove a channel is matched; with both, every later matching
  * ack is delivered. */
final class PushNetSubscriber private[log] (
    host: String,
    port: Int,
    redial: Boolean,
    backoffMs: Long,
    maxBackoffMs: Long,
    tokenFunc: Option[() => String],
    socketFactory: Option[javax.net.SocketFactory])
    extends AutoCloseable {

  private val open = new AtomicBoolean(true)
  private val deliveredCount = new AtomicLong(0L)
  private val sessions = new AtomicLong(0L)
  private val ready = new CountDownLatch(1)
  private val channels = new ConcurrentHashMap[String, PushNetMuxChannel]()
  @volatile private var current: Socket = null
  @volatile private var writer: BufferedWriter = null
  // channel ids registered on the live session whose #ok is still due
  @volatile private var pending: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  private val writeLock = new Object

  /** Acks handed to any channel's callback — the sum over its channels,
    * closed ones included. */
  def delivered: Long = deliveredCount.get()

  /** Completed sessions (see the readiness rule above); increments on
    * every re-dial. */
  def sessionCount: Long = sessions.get()

  /** Live channels registered on this client. */
  def channelCount: Int = channels.size()

  /** True once the FIRST session is ready. */
  def awaitReady(timeoutMs: Long = 10000L): Boolean =
    ready.await(timeoutMs, TimeUnit.MILLISECONDS)

  /** Await the `n`-th completed session — `awaitSessions(2)` = "the
    * client has re-dialed and re-registered every channel after a
    * drop". */
  def awaitSessions(n: Long, timeoutMs: Long = 30000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (sessions.get() < n && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    sessions.get() >= n
  }

  /** Register a channel. Safe whether the client is currently connected
    * (registration line goes out immediately) or mid-backoff (the next
    * session registers it with the rest). */
  def subscribe(
      space: Option[String] = None,
      segment: Option[String] = None)(cb: SegmentStatus => Unit): PushNetMuxChannel = {
    val ch = new PushNetMuxChannel(
      this, java.util.UUID.randomUUID().toString, space, segment, cb)
    channels.put(ch.id, ch)
    register(ch)
    ch
  }

  private[log] def unsubscribe(ch: PushNetMuxChannel): Unit =
    if (channels.remove(ch.id) != null) send(PushNet.ctlUnsub(ch.id))

  /** `#sub` on the live session, if any. The id joins the session's
    * pending set BEFORE the line goes out, so its `#ok` cannot race it. */
  private def register(ch: PushNetMuxChannel): Unit = writeLock.synchronized {
    if (writer != null) {
      pending.add(ch.id)
      send(PushNet.ctlSub(ch.id, ch.space, ch.segment))
    }
  }

  /** Best-effort write to the live session; a broken/absent connection
    * is fine — the next session re-registers everything anyway. */
  private def send(line: String): Unit = writeLock.synchronized {
    val w = writer
    if (w != null) {
      try { w.write(line); w.newLine(); w.flush() }
      catch { case NonFatal(_) => () }
    }
  }

  /** Route one `#c <id> <ack>` payload to its channel's callback. */
  private def deliver(tagged: String): Unit = {
    val sp = tagged.indexOf(' ')
    if (sp > 0) {
      val ch = channels.get(tagged.substring(0, sp))
      if (ch != null)
        PushBridge.decode(tagged.substring(sp + 1)).foreach { st =>
          try ch.cb(st)
          catch { case NonFatal(_) => () } // channel isolation, as on the bus
          ch.deliveredCount.incrementAndGet()
          deliveredCount.incrementAndGet()
          ()
        }
    }
  }

  private val runner = new Thread(() => {
    var backoff = backoffMs
    var again = true
    while (again && open.get()) {
      try {
        // Unconnected socket + bounded connect: close() cannot unblock
        // socket I/O via interrupt(), so the connect window must bound
        // itself — and close() can only tear down a socket it can SEE,
        // so publish to `current` first and re-check `open` after, which
        // catches a close() that raced the dial (its `current` snapshot
        // was null); the finally below then closes the socket and the
        // loop exits instead of reading past close().
        val s = socketFactory.map(_.createSocket()).getOrElse(new Socket())
        try {
          s.setTcpNoDelay(true)
          s.connect(new InetSocketAddress(host, port), 1000)
          current = s
          if (open.get()) {
            // this session: auth first (re-dial re-auths with a fresh
            // tokenFunc() evaluation) + `#mux`, written INSIDE the
            // writer-publish lock — a concurrent subscribe()'s #sub
            // could otherwise win the lock between the publish and the
            // auth send and reach an auth-required server as the FIRST
            // line (one counted rejection + a needless re-dial); the
            // auth-before-anything ordering must hold against every
            // client thread, not just this one. Channels register
            // after, through the normal send path.
            writeLock.synchronized {
              val w = new BufferedWriter(
                new OutputStreamWriter(s.getOutputStream, UTF_8))
              // deliberately NOT caught: a tokenFunc() throw or a broken
              // pipe here must propagate to the outer re-dial loop
              // (fresh backoff, fresh token) — publishing a writer for a
              // session that never authed would look healthy while
              // every channel silently starves
              tokenFunc.foreach { tf =>
                w.write(PushNet.ctlAuth(tf())); w.newLine()
              }
              w.write(PushNet.CtlMux); w.newLine()
              w.flush()
              pending = ConcurrentHashMap.newKeySet[String]()
              writer = w
            }
            val in = new BufferedReader(
              new InputStreamReader(s.getInputStream, UTF_8))
            channels.forEach((_, ch) => register(ch))
            var hello = false
            var counted = false
            var line = in.readLine()
            while (open.get() && line != null) {
              if (line == PushNet.Hello) hello = true
              else if (line.startsWith("#ok ")) {
                val id = line.substring(4)
                pending.remove(id)
                val ch = channels.get(id)
                if (ch != null) ch.ready.countDown()
              } else if (line.startsWith("#c ")) deliver(line.substring(3))
              // else: sentinel/unknown control — ignore
              if (!counted && hello && pending.isEmpty) {
                counted = true
                sessions.incrementAndGet()
                ready.countDown()
                backoff = backoffMs // healthy session: reset the backoff
              }
              line = in.readLine()
            }
          }
        } finally {
          writeLock.synchronized { writer = null }
          try s.close()
          catch { case NonFatal(_) => () }
        }
      } catch { case NonFatal(_) => () } // dial failed or read dropped
      again = redial
      if (again && open.get()) {
        try Thread.sleep(backoff)
        catch { case _: InterruptedException => () }
        backoff = math.min(backoff * 2, maxBackoffMs)
      }
    }
  }, "graft-push-client")
  runner.setDaemon(true)

  /** Called by the entry point once its initial channel (if any) is
    * registered, so the first session already counts that channel. */
  private[log] def start(): this.type = { runner.start(); this }

  def close(): Unit = if (open.getAndSet(false)) {
    val s = current
    if (s != null) {
      try s.close()
      catch { case NonFatal(_) => () }
    }
    runner.interrupt()
    runner.join(5000)
  }
}
