package graft.nats

import java.io.EOFException
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** NATS subject wildcard matching per the public protocol: a subject is a
  * '.'-separated token list; in a subscription pattern `*` matches exactly
  * one token and `>` — valid only as the final token — matches one or
  * more trailing tokens. (This is the broker-side routing rule; the CDC
  * channel hierarchy inside payloads uses MQTT '/' patterns — see
  * [[graft.cdc.MqttPattern]] — exactly like the reference, which runs
  * MQTT routing *over* a constant NATS subject, lib/nats.js:92-95.) */
object NatsSubject {
  def matches(pattern: String, subject: String): Boolean =
    matches(tokens(pattern), subject)

  /** A pattern split into its tokens, once per subscription. */
  private[nats] def tokens(pattern: String): Array[String] = pattern.split("\\.", -1)

  /** [[matches]] against pre-split pattern tokens, walking the subject's
    * tokens in place (no split, no allocation). */
  private[nats] def matches(pattern: Array[String], subject: String): Boolean = {
    var start = 0 // start of the subject's next token; -1 when none is left
    var i = 0
    while (i < pattern.length) {
      val p = pattern(i)
      if (p == ">" && i == pattern.length - 1) return start >= 0
      if (start < 0) return false
      val dot = subject.indexOf('.', start)
      val end = if (dot < 0) subject.length else dot
      if (p != "*" && !(p.length == end - start && subject.startsWith(p, start))) return false
      start = if (dot < 0) -1 else dot + 1
      i += 1
    }
    start < 0
  }
}

/** A [[NatsChannel]] over a live TCP socket — the dial seam made real.
  * `read()` is non-blocking (the shared-session drain loop polls): it
  * returns whatever the kernel has buffered, empty when nothing is
  * pending, and raises EOF when the peer closed — which
  * [[TextProtocolBroker]] turns into a connection reset + redial, the
  * same recovery path as a server `-ERR`. */
final class TcpChannel(socket: Socket) extends NatsChannel {
  socket.setTcpNoDelay(true)
  // 1 ms probe window: distinguishes "no bytes yet" from "peer closed"
  // without turning the poll into a blocking read
  socket.setSoTimeout(1)
  private val in = socket.getInputStream
  private val out = socket.getOutputStream
  private val buf = new Array[Byte](1 << 16)

  override def read(): Array[Byte] =
    try {
      val k = in.read(buf) // returns what is buffered; blocks ≤ soTimeout only when nothing is
      if (k < 0) throw new EOFException("NATS server closed the connection")
      java.util.Arrays.copyOf(buf, k)
    } catch { case _: SocketTimeoutException => Array.emptyByteArray }

  override def write(bytes: Array[Byte]): Unit = { out.write(bytes); out.flush() }
  override def close(): Unit = socket.close()
}

/** The live TCP-dialing broker: [[TextProtocolBroker]] with the socket
  * seam filled in. The dial target comes from the `graft.nats.server`
  * system property, defaulting to `127.0.0.1:4222` — the canonical NATS
  * default address the reference connects to (`nats://localhost:4222`).
  * The target is folded into the session key, so brokers aimed at
  * different servers never share a connection/sequence/replay buffer.
  *
  * Usage: `spark.readStream.format("graft.nats.NatsSource")` — this is
  * the DEFAULT broker — with a NATS-protocol server (e.g. the embedded
  * [[NatsServer]], or a real deployment's nats-server) listening at the
  * target. */
class TcpBroker extends TextProtocolBroker {
  protected def target: String = TcpBroker.target
  override protected def sessionKey: String = target
  override protected def dial(): NatsChannel = {
    val (host, port) = TcpBroker.parseTarget(target)
    new TcpChannel(new Socket(host, port))
  }
}

object TcpBroker {
  /** System property naming the `host:port` to dial. */
  val TargetProperty = "graft.nats.server"
  def target: String = sys.props.getOrElse(TargetProperty, "127.0.0.1:4222")
  def parseTarget(t: String): (String, Int) = t.lastIndexOf(':') match {
    case -1 => (t, 4222)
    case i  => (t.take(i), t.drop(i + 1).toInt)
  }
}

/** A minimal embedded NATS server speaking the public text protocol over
  * real loopback TCP sockets — the broker process the reference assumes
  * is already running (`nats-server` behind lib/nats.js:49-65), provided
  * in-process so the full client dialogue (INFO → CONNECT → SUB → PUB →
  * MSG fan-out, PING/PONG, ±OK, -ERR, UNSUB auto-unsubscribe, queue
  * groups) runs end-to-end with no external binary. Semantics per the
  * public protocol docs:
  *
  *   - every PUB is routed to all matching plain subscriptions
  *     ([[NatsSubject]] wildcards); each QUEUE group among the matches
  *     receives exactly one copy (round-robin over members);
  *   - `UNSUB <sid> [max]` removes the subscription immediately, or
  *     after `max` total messages have been delivered on it (the
  *     auto-unsubscribe behind the reference's take(n), lib/nats.js:98);
  *   - `CONNECT {"verbose":true}` switches the connection to +OK acks;
  *   - an unparseable line draws `-ERR 'Unknown Protocol Operation'`
  *     and closes the connection (clients redial — the
  *     [[TextProtocolBroker]] recovery path);
  *   - core-NATS delivery: at-most-once, no replay — a message published
  *     with no matching subscriber is dropped, exactly like the
  *     reference's transport.
  *
  * One thread accepts; one thread serves each connection (blocking reads
  * feeding an incremental [[NatsWire.ClientParser]]). A PUB is routed on
  * its publisher's thread through a snapshot of every subscription, which
  * SUB, UNSUB (also an UNSUB max running out) and disconnect replace;
  * routing reads it without a lock.
  *
  * Flush rule: what the server writes to a connection (MSG, PONG, +OK)
  * goes into that connection's buffer, and the thread that handled an
  * inbound read chunk flushes every connection it wrote to once, after
  * the whole chunk. INFO is flushed at connect, and -ERR before the
  * hang-up. A buffer that reaches 64 KiB mid-chunk is written out at
  * once. Backpressure is unchanged by the buffering: a full subscriber
  * socket still blocks the publisher's thread in that write. */
final class NatsServer(requestedPort: Int = 0) extends AutoCloseable {
  import NatsServer.FlushAt

  private val serverSocket = new ServerSocket()
  serverSocket.setReuseAddress(true)
  serverSocket.bind(new InetSocketAddress(InetAddress.getLoopbackAddress, requestedPort), 64)

  def port: Int = serverSocket.getLocalPort
  def target: String = s"127.0.0.1:$port"

  /** `limit` < 0 means unlimited; an UNSUB max sets it to the total
    * deliveries allowed. */
  private final class Subscription(val conn: Conn, val sid: Long, pattern: String,
                                   val queue: Option[String]) {
    val tokens: Array[String] = NatsSubject.tokens(pattern)
    val delivered = new AtomicInteger(0)
    @volatile var limit: Int = -1
  }

  private val connSeq = new AtomicLong(0L)
  private final class Conn(val socket: Socket) {
    val id: Long = connSeq.incrementAndGet()
    socket.setTcpNoDelay(true)
    private val out = socket.getOutputStream
    private val pending = new NatsWire.WireBuffer(FlushAt + 1024)
    /** Guarded by `routesLock`. */
    val subs = scala.collection.mutable.LongMap.empty[Subscription]
    @volatile var verbose = false
    private val writeLock = new Object

    // buffer writes; the caller flushes (see the flush rule above)
    def write(bytes: Array[Byte]): Unit =
      writeLock.synchronized { pending.put(bytes); spill() }
    def writeMsg(subject: String, sid: Long, replyTo: Option[String],
                 payload: Array[Byte]): Unit =
      writeLock.synchronized { NatsWire.writeMsg(pending, subject, sid, replyTo, payload); spill() }
    def flush(): Unit = writeLock.synchronized(pending.writeTo(out))
    private def spill(): Unit = if (pending.size >= FlushAt) pending.writeTo(out)
  }

  /** Every live subscription: plain ones in (connection, sid) order, then
    * queue groups in name order, members in (connection, sid) order. */
  private final class Routes(val plain: Array[Subscription], val groups: Array[QueueGroup])
  private final class QueueGroup(val members: Array[Subscription], val next: AtomicLong)

  private val conns = ConcurrentHashMap.newKeySet[Conn]()
  private val queueRoundRobin = new ConcurrentHashMap[String, AtomicLong]
  private val routesLock = new Object
  @volatile private var routes = new Routes(Array.empty, Array.empty)
  @volatile private var closed = false

  /** Replace the routing snapshot; call under `routesLock` after changing
    * a connection's subscriptions or the connection set. */
  private def rebuildRoutes(): Unit = {
    import scala.jdk.CollectionConverters._
    val all = conns.asScala.toArray.flatMap(_.subs.values).sortBy(s => (s.conn.id, s.sid))
    val (queued, plain) = all.partition(_.queue.isDefined)
    val groups = queued.groupBy(_.queue.get).toArray.sortBy(_._1).map { case (q, members) =>
      new QueueGroup(members, queueRoundRobin.computeIfAbsent(q, _ => new AtomicLong(0L)))
    }
    routes = new Routes(plain, groups)
  }

  private def unsubscribe(conn: Conn, sid: Long): Unit = routesLock.synchronized {
    if (conn.subs.remove(sid).isDefined) rebuildRoutes()
  }

  private def disconnect(conn: Conn): Unit = routesLock.synchronized {
    if (conns.remove(conn)) rebuildRoutes()
  }

  private def spawn(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  spawn(s"nats-server-accept-$port") {
    try while (!closed) {
      val s = serverSocket.accept()
      val c = new Conn(s)
      conns.add(c)
      spawn(s"nats-server-conn-${c.id}")(serve(c))
    } catch { case _: java.io.IOException => () /* closed */ }
  }

  /** Flush every connection in `written`, then forget them. */
  private def flushAll(written: java.util.HashSet[Conn]): Unit = {
    written.forEach { c =>
      try c.flush() catch { case _: java.io.IOException => disconnect(c) }
    }
    written.clear()
  }

  private def serve(conn: Conn): Unit = {
    // connections written to while handling the current read chunk
    val written = new java.util.HashSet[Conn]
    try {
      conn.write(NatsWire.info(
        s"""{"server_id":"graft-embedded","host":"127.0.0.1","port":$port,"proto":1,"max_payload":1048576}"""))
      conn.flush()
      val parser = new NatsWire.ClientParser
      val in = conn.socket.getInputStream
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0 && !closed) {
        parser.feedEach(buf, 0, n)(handle(conn, _, written))
        flushAll(written)
        n = in.read(buf)
      }
    } catch {
      case _: java.io.IOException => () // peer gone — drop the connection
      case _: IllegalArgumentException =>
        // real servers answer garbage with -ERR and hang up; the client's
        // redial path takes over. Ops before the bad line still go out.
        flushAll(written)
        try { conn.write(NatsWire.err("Unknown Protocol Operation")); conn.flush() }
        catch { case _: java.io.IOException => () }
    } finally {
      flushAll(written)
      disconnect(conn)
      try conn.socket.close() catch { case _: java.io.IOException => () }
    }
  }

  private def handle(conn: Conn, op: NatsWire.ClientOp,
                     written: java.util.HashSet[Conn]): Unit = op match {
    case NatsWire.Pub(subject, replyTo, payload) =>
      route(subject, payload, replyTo, written)
      ack(conn, written)
    case NatsWire.Connect(json) =>
      conn.verbose = json.replaceAll("\\s", "").contains("\"verbose\":true")
      ack(conn, written)
    case NatsWire.SubOp(subject, queue, sid) =>
      routesLock.synchronized {
        conn.subs.put(sid, new Subscription(conn, sid, subject, queue))
        rebuildRoutes()
      }
      ack(conn, written)
    case NatsWire.UnsubOp(sid, max) =>
      max match {
        case None => unsubscribe(conn, sid)
        case Some(m) =>
          routesLock.synchronized {
            conn.subs.get(sid).foreach { sub =>
              if (sub.delivered.get() >= m) unsubscribe(conn, sid)
              else sub.limit = m
            }
          }
      }
      ack(conn, written)
    case NatsWire.Ping => conn.write(NatsWire.pong); written.add(conn)
    case NatsWire.Pong => ()
  }

  private def ack(conn: Conn, written: java.util.HashSet[Conn]): Unit =
    if (conn.verbose) { conn.write(NatsWire.ok); written.add(conn) }

  private def route(subject: String, payload: Array[Byte], replyTo: Option[String],
                    written: java.util.HashSet[Conn]): Unit = {
    def deliver(sub: Subscription): Unit = {
      val nth = sub.delivered.incrementAndGet()
      val cap = sub.limit
      if (cap < 0 || nth <= cap) {
        try { sub.conn.writeMsg(subject, sub.sid, replyTo, payload); written.add(sub.conn) }
        catch { case _: java.io.IOException => disconnect(sub.conn) }
      }
      if (cap >= 0 && nth >= cap) unsubscribe(sub.conn, sub.sid)
    }
    val r = routes
    var i = 0
    while (i < r.plain.length) {
      if (NatsSubject.matches(r.plain(i).tokens, subject)) deliver(r.plain(i))
      i += 1
    }
    i = 0
    while (i < r.groups.length) {
      // one copy per group: round-robin over the members this subject matches
      val members = r.groups(i).members
      var matching = 0
      var j = 0
      while (j < members.length) {
        if (NatsSubject.matches(members(j).tokens, subject)) matching += 1
        j += 1
      }
      if (matching > 0) {
        var skip = r.groups(i).next.getAndIncrement() % matching
        j = 0
        while (!NatsSubject.matches(members(j).tokens, subject) || { skip -= 1; skip >= 0 })
          j += 1
        deliver(members(j))
      }
      i += 1
    }
  }

  override def close(): Unit = {
    closed = true
    try serverSocket.close() catch { case _: java.io.IOException => () }
    import scala.jdk.CollectionConverters._
    conns.iterator().asScala.foreach(c =>
      try c.socket.close() catch { case _: java.io.IOException => () })
    conns.clear()
  }
}

object NatsServer {
  /** Bytes a connection buffers before they are written out mid-chunk. */
  private val FlushAt: Int = 1 << 16
}
