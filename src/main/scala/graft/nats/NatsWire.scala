package graft.nats

import java.nio.charset.StandardCharsets.US_ASCII

/** The NATS client text protocol — the wire dialogue the reference's
  * `nats` dependency speaks against the broker (reference
  * `lib/nats.js:62-64` subscribes the bus subject; the nats@1.3.2 client
  * under it frames CONNECT/SUB/PUB/MSG/PING/PONG exactly as below, per
  * the public NATS protocol documentation).
  *
  * Framing rules implemented from the public protocol spec:
  *   - control lines are ASCII, terminated by CRLF;
  *   - server → client: `INFO {json}`, `MSG <subject> <sid> [reply-to]
  *     <#bytes>` followed by exactly #bytes of payload and a CRLF,
  *     `PING`, `PONG`, `+OK`, `-ERR 'message'`;
  *   - client → server: `CONNECT {json}`, `PUB <subject> [reply-to]
  *     <#bytes>` + payload + CRLF, `SUB <subject> [queue] <sid>`,
  *     `UNSUB <sid> [max]`, `PING`, `PONG`;
  *   - payloads are raw bytes (MAY contain CRLF — the length prefix, not
  *     a delimiter, bounds them);
  *   - protocol verbs are case-insensitive.
  *
  * [[NatsWire.Parser]] is incremental: bytes arrive in arbitrary chunks
  * (TCP segmentation) and ops are emitted once complete — the
  * NatsWireSpec property test re-splits whole dialogues at every byte
  * boundary.
  */
object NatsWire {

  private val CRLF = "\r\n".getBytes(US_ASCII)

  /** A server→client protocol operation. */
  sealed trait ServerOp
  /** A client→server protocol operation (what an embedded server parses). */
  sealed trait ClientOp
  final case class Info(json: String) extends ServerOp
  final case class Msg(subject: String, sid: Long, replyTo: Option[String],
                       payload: Array[Byte]) extends ServerOp {
    override def equals(o: Any): Boolean = o match {
      case m: Msg => subject == m.subject && sid == m.sid && replyTo == m.replyTo &&
        java.util.Arrays.equals(payload, m.payload)
      case _ => false
    }
    override def hashCode(): Int =
      (subject, sid, replyTo, java.util.Arrays.hashCode(payload)).hashCode()
  }
  // PING/PONG flow in both directions (keepalive is symmetric in the
  // protocol), so the ops belong to both alphabets
  case object Ping extends ServerOp with ClientOp
  case object Pong extends ServerOp with ClientOp
  case object Ok extends ServerOp
  final case class Err(message: String) extends ServerOp

  final case class Connect(json: String) extends ClientOp
  final case class Pub(subject: String, replyTo: Option[String],
                       payload: Array[Byte]) extends ClientOp {
    override def equals(o: Any): Boolean = o match {
      case p: Pub => subject == p.subject && replyTo == p.replyTo &&
        java.util.Arrays.equals(payload, p.payload)
      case _ => false
    }
    override def hashCode(): Int =
      (subject, replyTo, java.util.Arrays.hashCode(payload)).hashCode()
  }
  final case class SubOp(subject: String, queue: Option[String], sid: Long) extends ClientOp
  final case class UnsubOp(sid: Long, max: Option[Int]) extends ClientOp

  // ---- client → server serialization ---------------------------------

  private def line(s: String): Array[Byte] = (s + "\r\n").getBytes(US_ASCII)

  def connect(json: String): Array[Byte] = line(s"CONNECT $json")

  def pub(subject: String, payload: Array[Byte],
          replyTo: Option[String] = None): Array[Byte] = {
    val head = replyTo match {
      case Some(r) => s"PUB $subject $r ${payload.length}"
      case None    => s"PUB $subject ${payload.length}"
    }
    line(head) ++ payload ++ CRLF
  }

  def sub(subject: String, sid: Long, queue: Option[String] = None): Array[Byte] =
    line(queue match {
      case Some(q) => s"SUB $subject $q $sid"
      case None    => s"SUB $subject $sid"
    })

  def unsub(sid: Long, max: Option[Int] = None): Array[Byte] =
    line(max match {
      case Some(m) => s"UNSUB $sid $m"
      case None    => s"UNSUB $sid"
    })

  def ping: Array[Byte] = line("PING")
  def pong: Array[Byte] = line("PONG")

  // ---- server-side serialization (for in-memory/spec servers) --------

  def info(json: String): Array[Byte] = line(s"INFO $json")

  def msg(subject: String, sid: Long, payload: Array[Byte],
          replyTo: Option[String] = None): Array[Byte] = {
    val b = new WireBuffer(subject.length + payload.length + 64)
    writeMsg(b, subject, sid, replyTo, payload)
    b.toArray
  }

  def ok: Array[Byte] = line("+OK")
  def err(message: String): Array[Byte] = line(s"-ERR '$message'")

  private val MsgVerb = "MSG ".getBytes(US_ASCII)

  /** Serialize one MSG frame (header, payload, CRLF) straight into `b`:
    * the header's subject, sid, reply-to and length are written as bytes,
    * with no intermediate String. */
  private[nats] def writeMsg(b: WireBuffer, subject: String, sid: Long,
                             replyTo: Option[String], payload: Array[Byte]): Unit = {
    b.put(MsgVerb)
    b.putAscii(subject); b.put(' ')
    b.putDecimal(sid); b.put(' ')
    replyTo match {
      case Some(r) => b.putAscii(r); b.put(' ')
      case None    => ()
    }
    b.putDecimal(payload.length.toLong)
    b.put(CRLF); b.put(payload); b.put(CRLF)
  }

  /** A growable byte buffer that frames are serialized into in place.
    * Not thread-safe: the owner serializes access. */
  private[nats] final class WireBuffer(initialCapacity: Int) {
    private var bytes = new Array[Byte](initialCapacity)
    private var used = 0

    def size: Int = used

    private def reserve(n: Int): Unit =
      if (used + n > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, used + n))

    def put(c: Char): Unit = { reserve(1); bytes(used) = c.toByte; used += 1 }

    def put(a: Array[Byte]): Unit = {
      reserve(a.length)
      System.arraycopy(a, 0, bytes, used, a.length)
      used += a.length
    }

    /** `s` in US-ASCII; a non-ASCII char becomes '?', as `String.getBytes`
      * does. */
    def putAscii(s: String): Unit = {
      reserve(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        bytes(used + i) = if (c < 0x80) c.toByte else '?'.toByte
        i += 1
      }
      used += s.length
    }

    /** `v` in decimal ASCII, like `v.toString`. */
    def putDecimal(v: Long): Unit = {
      // digits are taken from the non-positive magnitude, so Long.MinValue
      // needs no special case
      var x = if (v < 0) v else -v
      var digits = 1
      var t = x
      while (t <= -10) { t /= 10; digits += 1 }
      val sign = if (v < 0) 1 else 0
      reserve(sign + digits)
      if (sign == 1) bytes(used) = '-'.toByte
      var p = used + sign + digits - 1
      while (p >= used + sign) {
        bytes(p) = ('0' - (x % 10)).toByte
        x /= 10
        p -= 1
      }
      used += sign + digits
    }

    /** Hand the buffered bytes to `out` and empty the buffer. */
    def writeTo(out: java.io.OutputStream): Unit =
      if (used > 0) { out.write(bytes, 0, used); used = 0 }

    def toArray: Array[Byte] = java.util.Arrays.copyOf(bytes, used)
  }

  // ---- incremental parsers --------------------------------------------

  /** Incremental CRLF-line + length-prefixed-payload framer shared by the
    * two protocol directions. Feed arbitrary byte chunks; complete
    * operations are emitted as they materialize. Control lines are parsed
    * from the bytes in place: the verb is matched case-insensitively and
    * the fields are split on whitespace (the runs `\s+` matches, after
    * trimming the line like `String.trim`). State between feeds: the
    * unconsumed bytes + the length of a pending payload-carrying header
    * (MSG / PUB) waiting for its body. Not thread-safe (one parser per
    * connection, like one reader per socket). */
  sealed abstract class WireParser[Op] {
    // unconsumed bytes live in buf[off, end); consumption advances `off`
    // and the live bytes move to the front only when a chunk does not fit
    private var buf = new Array[Byte](4096)
    private var off = 0
    private var end = 0
    // body length awaited by the last MSG / PUB header; -1 = none
    private var pendingLen = -1

    /** Parse the control line `buf[from, until)` (CRLF excluded): emit
      * completed ops, or call [[awaitPayload]] for a length-prefixed body. */
    protected def parseLine(buf: Array[Byte], from: Int, until: Int, emit: Op => Unit): Unit

    /** The op whose header announced `payload`. */
    protected def payloadOp(payload: Array[Byte]): Op

    /** The op's payload (`n` bytes + CRLF) follows the control line. */
    protected final def awaitPayload(n: Int): Unit = {
      if (n < 0) throw new IllegalArgumentException(s"negative payload length $n")
      pendingLen = n
    }

    private def append(chunk: Array[Byte], from: Int, len: Int): Unit = {
      if (end + len > buf.length) {
        val live = end - off
        val target =
          if (live + len > buf.length) new Array[Byte](math.max(buf.length * 2, live + len))
          else buf
        System.arraycopy(buf, off, target, 0, live)
        buf = target
        off = 0
        end = live
      }
      System.arraycopy(chunk, from, buf, end, len)
      end += len
    }

    private def indexOfCrlf(): Int = {
      var i = off
      while (i + 1 < end) {
        if (buf(i) == '\r' && buf(i + 1) == '\n') return i
        i += 1
      }
      -1
    }

    /** Parse `chunk[from, from + len)`, passing each completed op to `emit`
      * in wire order. The parser copies what it keeps, so the caller may
      * reuse `chunk` once this returns. */
    final def feedEach(chunk: Array[Byte], from: Int, len: Int)(emit: Op => Unit): Unit = {
      append(chunk, from, len)
      var progress = true
      while (progress) {
        progress = false
        if (pendingLen >= 0) {
          val n = pendingLen
          if (end - off >= n + 2) { // payload + CRLF
            if (buf(off + n) != '\r' || buf(off + n + 1) != '\n')
              throw new IllegalArgumentException(s"payload of $n bytes not terminated by CRLF")
            val payload = java.util.Arrays.copyOfRange(buf, off, off + n)
            off += n + 2
            pendingLen = -1
            emit(payloadOp(payload))
            progress = true
          }
        } else {
          val eol = indexOfCrlf()
          if (eol >= 0) {
            val from = off
            off = eol + 2
            parseLine(buf, from, eol, emit)
            progress = true
          }
        }
      }
    }

    /** Parse `chunk` and return the completed ops in wire order. */
    final def feed(chunk: Array[Byte]): Seq[Op] = {
      val out = Vector.newBuilder[Op]
      feedEach(chunk, 0, chunk.length)(out += _)
      out.result()
    }

    // ---- control-line fields, read from the bytes ----------------------

    // [start, end) of the first four fields of the line last tokenized
    private val fields = new Array[Int](8)
    private var lastSubjectBytes = Array.emptyByteArray
    private var lastSubject = ""

    /** End of the verb: the first ' ' or '\t' of the line. */
    protected final def verbEnd(buf: Array[Byte], from: Int, until: Int): Int = {
      var i = from
      while (i < until && buf(i) != ' ' && buf(i) != '\t') i += 1
      i
    }

    /** Whether `buf[from, until)` is `verb` (upper case), ignoring case. */
    protected final def isVerb(buf: Array[Byte], from: Int, until: Int,
                               verb: Array[Byte]): Boolean =
      until - from == verb.length && {
        var i = 0
        while (i < verb.length && {
          val b = buf(from + i)
          (if (b >= 'a' && b <= 'z') b - 32 else b) == verb(i)
        }) i += 1
        i == verb.length
      }

    /** The text after the verb, trimmed. */
    protected final def restOf(buf: Array[Byte], verbEnd: Int, until: Int): String =
      new String(buf, verbEnd, until - verbEnd, US_ASCII).trim

    /** Split `buf[from, until)` into fields and return how many there
      * are; the `*Field` readers take the first four. A blank rest is one
      * empty field, as `"".split` gives. */
    protected final def tokenize(buf: Array[Byte], from: Int, until: Int): Int = {
      var s = from
      var e = until
      while (s < e && (buf(s) & 0xFF) <= ' ') s += 1
      while (e > s && (buf(e - 1) & 0xFF) <= ' ') e -= 1
      if (s == e) { fields(0) = s; fields(1) = s; return 1 }
      var n = 0
      var i = s
      while (i < e) {
        val t = i
        while (i < e && !isSpace(buf(i))) i += 1
        if (n < 4) { fields(2 * n) = t; fields(2 * n + 1) = i }
        n += 1
        while (i < e && isSpace(buf(i))) i += 1
      }
      n
    }

    // the characters of the regex class \s
    private def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0B || b == '\f'

    protected final def fieldString(buf: Array[Byte], k: Int): String =
      new String(buf, fields(2 * k), fields(2 * k + 1) - fields(2 * k), US_ASCII)

    /** Field `k` as a subject: a repeat of the previous subject (the bus's
      * constant subject) returns the same String without decoding it. */
    protected final def subjectField(buf: Array[Byte], k: Int): String = {
      val s = fields(2 * k)
      val e = fields(2 * k + 1)
      if (!java.util.Arrays.equals(buf, s, e, lastSubjectBytes, 0, lastSubjectBytes.length)) {
        lastSubjectBytes = java.util.Arrays.copyOfRange(buf, s, e)
        lastSubject = new String(lastSubjectBytes, US_ASCII)
      }
      lastSubject
    }

    /** Field `k` as a Long, with `String.toLong`'s grammar and errors. */
    protected final def longField(buf: Array[Byte], k: Int): Long = {
      val s = fields(2 * k)
      val e = fields(2 * k + 1)
      if (e - s < 1 || e - s > 18) return fieldString(buf, k).toLong
      var v = 0L
      var i = s
      while (i < e) {
        val d = buf(i) - '0'
        if (d < 0 || d > 9) return fieldString(buf, k).toLong
        v = v * 10 + d
        i += 1
      }
      v
    }

    /** Field `k` as an Int, with `String.toInt`'s grammar and errors. */
    protected final def intField(buf: Array[Byte], k: Int): Int = {
      val v = longField(buf, k)
      if (v < Int.MinValue || v > Int.MaxValue) fieldString(buf, k).toInt else v.toInt
    }

    protected final def malformed(what: String, buf: Array[Byte], from: Int,
                                  until: Int): Nothing =
      throw new IllegalArgumentException(
        s"malformed $what: ${new String(buf, from, until - from, US_ASCII)}")

    protected final def unknownVerb(buf: Array[Byte], from: Int, verbEnd: Int): Nothing =
      throw new IllegalArgumentException(
        s"unknown protocol verb: ${new String(buf, from, verbEnd - from, US_ASCII).toUpperCase}")
  }

  private def verb(s: String): Array[Byte] = s.getBytes(US_ASCII)
  private val MSG = verb("MSG"); private val PUB = verb("PUB")
  private val INFO = verb("INFO"); private val CONNECT = verb("CONNECT")
  private val PING = verb("PING"); private val PONG = verb("PONG")
  private val OK = verb("+OK"); private val ERR = verb("-ERR")
  private val SUB = verb("SUB"); private val UNSUB = verb("UNSUB")

  /** Parser for the server→client stream (what a client reads). */
  final class Parser extends WireParser[ServerOp] {
    // the MSG header awaiting its payload
    private var subject: String = _
    private var sid = 0L
    private var replyTo: Option[String] = None

    protected def payloadOp(payload: Array[Byte]): ServerOp = Msg(subject, sid, replyTo, payload)

    protected def parseLine(buf: Array[Byte], from: Int, until: Int,
                            emit: ServerOp => Unit): Unit = {
      val v = verbEnd(buf, from, until)
      if (isVerb(buf, from, v, MSG)) {
        val n = tokenize(buf, v, until)
        if (n != 3 && n != 4) malformed("MSG header", buf, from, until)
        subject = subjectField(buf, 0)
        sid = longField(buf, 1)
        replyTo = if (n == 4) Some(fieldString(buf, 2)) else None
        awaitPayload(intField(buf, n - 1))
      }
      else if (isVerb(buf, from, v, PING)) emit(Ping)
      else if (isVerb(buf, from, v, PONG)) emit(Pong)
      else if (isVerb(buf, from, v, OK)) emit(Ok)
      else if (isVerb(buf, from, v, INFO)) emit(Info(restOf(buf, v, until)))
      else if (isVerb(buf, from, v, ERR))
        emit(Err(restOf(buf, v, until).stripPrefix("'").stripSuffix("'")))
      else unknownVerb(buf, from, v)
    }
  }

  /** Parser for the client→server stream (what a server reads) —
    * CONNECT / PUB / SUB / UNSUB / PING / PONG per the public protocol
    * grammar; the exact inverse of the client serializers above, and
    * byte-split-proven the same way as [[Parser]]. */
  final class ClientParser extends WireParser[ClientOp] {
    // the PUB header awaiting its payload
    private var subject: String = _
    private var replyTo: Option[String] = None

    protected def payloadOp(payload: Array[Byte]): ClientOp = Pub(subject, replyTo, payload)

    protected def parseLine(buf: Array[Byte], from: Int, until: Int,
                            emit: ClientOp => Unit): Unit = {
      val v = verbEnd(buf, from, until)
      if (isVerb(buf, from, v, PUB)) {
        val n = tokenize(buf, v, until)
        if (n != 2 && n != 3) malformed("PUB header", buf, from, until)
        subject = subjectField(buf, 0)
        replyTo = if (n == 3) Some(fieldString(buf, 1)) else None
        awaitPayload(intField(buf, n - 1))
      }
      else if (isVerb(buf, from, v, PING)) emit(Ping)
      else if (isVerb(buf, from, v, PONG)) emit(Pong)
      else if (isVerb(buf, from, v, SUB)) {
        val n = tokenize(buf, v, until)
        if (n != 2 && n != 3) malformed("SUB line", buf, from, until)
        val queue = if (n == 3) Some(fieldString(buf, 1)) else None
        emit(SubOp(fieldString(buf, 0), queue, longField(buf, n - 1)))
      }
      else if (isVerb(buf, from, v, UNSUB)) {
        val n = tokenize(buf, v, until)
        if (n != 1 && n != 2) malformed("UNSUB line", buf, from, until)
        val max = if (n == 2) Some(intField(buf, 1)) else None
        emit(UnsubOp(longField(buf, 0), max))
      }
      else if (isVerb(buf, from, v, CONNECT)) emit(Connect(restOf(buf, v, until)))
      else unknownVerb(buf, from, v)
    }
  }
}

/** A byte-stream connection to a NATS server — the ONLY remaining
  * environment seam (a deployment backs it with a TCP socket; specs back
  * it with in-memory byte queues). */
trait NatsChannel {
  /** Next available chunk, empty when the server has nothing buffered. */
  def read(): Array[Byte]
  def write(bytes: Array[Byte]): Unit
  def close(): Unit
}

object TextProtocolBroker {
  /** One live protocol session per (broker class, subject) per JVM. The
    * micro-batch source reflectively instantiates its broker at every
    * use site — the driver for offsets and each partition reader for
    * fetches — and plain NATS cannot replay, so a fresh connection per
    * instance could never serve the (start, end] ranges the driver's
    * offsets refer to. All instances of the same broker class therefore
    * BIND THE SAME session: one connection, one replay buffer, one
    * sequence counter. (Executors in separate JVMs still can't see the
    * driver's buffer — a multi-JVM cluster needs a JetStream-backed
    * [[NatsBroker]] whose server-side replay makes fetch independent of
    * local state; core NATS is at-most-once, exactly like the
    * reference.) */
  private[nats] final class Session {
    var channel: NatsChannel = _
    var parser = new NatsWire.Parser
    /** Delivered frames in seq order with no gaps: frames(i).seq ==
      * frames(0).seq + i. Appends come from drain; commit drops a prefix. */
    val frames = scala.collection.mutable.ArrayDeque.empty[NatsFrame]
    var seq = 0L
    /** PONGs received — lets [[TextProtocolBroker.flush]] match its PING. */
    var pongs = 0L
    /** Drop the connection (dead socket / server -ERR) so the next use
      * redials with a FRESH parser; buffered frames and the sequence
      * counter survive — they index delivered history, not the
      * connection. */
    def resetConnection(): Unit = {
      if (channel != null) {
        try channel.close() catch { case _: Throwable => () }
      }
      channel = null
      parser = new NatsWire.Parser
    }
  }
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, Session]
  private[nats] def sessionFor(key: String): Session =
    sessions.computeIfAbsent(key, _ => new Session)

  private[nats] def keyOf(brokerClass: Class[_], subject: String,
                          sessionKey: String): String =
    brokerClass.getName + "#" + subject + "#" + sessionKey

  /** Evict one session: close its connection and forget its replay
    * buffer / sequence counter. For harnesses that stand up a
    * THROWAWAY server per run (ephemeral port in the session key) —
    * without eviction every run leaks one Session for the JVM
    * lifetime, and OS-level port reuse would hand a NEW server a STALE
    * counter, failing the run's delivery check spuriously. Not for the
    * steady-state path: a long-lived broker's session must survive
    * redials (the buffer indexes delivered history, see [[Session]]). */
  def dropSession(brokerClass: Class[_], subject: String,
                  sessionKey: String): Unit = {
    val s = sessions.remove(keyOf(brokerClass, subject, sessionKey))
    if (s != null) s.resetConnection()
  }
}

/** A [[NatsBroker]] that SPEAKS the NATS text protocol over a
  * [[NatsChannel]]: performs the reference client's connection dialogue
  * (read INFO → CONNECT → SUB the bus subject, reference
  * `lib/nats.js:62-64`), answers PING with PONG, and buffers delivered
  * MSG frames with arrival sequence numbers so the micro-batch source
  * can serve replayable (start, end] ranges. Session state is shared
  * per (class, subject) within the JVM — see
  * [[TextProtocolBroker$.sessionFor]] for why. Only [[dial]] — the
  * socket itself — is left to the environment. */
abstract class TextProtocolBroker extends NatsBroker {

  /** Open the byte stream to the server. The zero-egress build cannot;
    * a deployment returns a TCP-socket-backed channel. */
  protected def dial(): NatsChannel

  /** Bus subject to subscribe (reference default "cdc.client"). */
  protected def subject: String = "cdc.client"

  /** Discriminator folded into the shared-session key. Two instances of
    * one broker class dialing DIFFERENT servers (or with different
    * options) must NOT share a connection, sequence counter, and replay
    * buffer — a subclass whose `dial()` is parameterized returns its
    * dial target (e.g. "host:port") here. The default is constant, which
    * keeps the DataSourceV2 local-mode behavior: one session per
    * (class, subject) in the JVM. */
  protected def sessionKey: String = ""

  private lazy val session =
    TextProtocolBroker.sessionFor(
      TextProtocolBroker.keyOf(getClass, subject, sessionKey))

  private def ensureConnected(): Unit =
    if (session.channel == null) {
      session.channel = dial()
      try {
        // INFO may not have arrived yet; CONNECT/SUB regardless (the real
        // client pipelines exactly this way)
        session.channel.write(NatsWire.connect(
          """{"verbose":false,"pedantic":false,"protocol":1,"name":"graft"}"""))
        session.channel.write(NatsWire.sub(subject, 1L))
      } catch {
        case e: java.io.IOException =>
          session.resetConnection()
          throw new IllegalStateException(s"NATS connection lost: ${e.getMessage}", e)
      }
      drain()
    }

  /** Pull everything the server has buffered, answering pings and
    * sequencing MSG frames. A server `-ERR` — or a dead byte stream
    * (EOF / socket error) — resets the connection before propagating, so
    * the NEXT call redials instead of reusing a poisoned channel forever
    * (the shared session must never become a JVM-lifetime dead end). */
  private def drain(): Unit =
    try {
      var chunk = session.channel.read()
      while (chunk.nonEmpty) {
        val arrivalMicros = System.currentTimeMillis() * 1000L
        session.parser.feedEach(chunk, 0, chunk.length) {
          case NatsWire.Ping => session.channel.write(NatsWire.pong)
          case m: NatsWire.Msg =>
            session.seq += 1
            session.frames += NatsFrame(session.seq, arrivalMicros, m.payload)
          case NatsWire.Err(msg) =>
            session.resetConnection()
            throw new IllegalStateException(s"NATS server error: $msg")
          case NatsWire.Pong => session.pongs += 1
          case _ => () // INFO / +OK need no action here
        }
        chunk = session.channel.read()
      }
    } catch {
      case e: java.io.IOException =>
        session.resetConnection()
        throw new IllegalStateException(s"NATS connection lost: ${e.getMessage}", e)
    }

  /** PING → PONG round-trip — the standard NATS client `flush()` idiom:
    * the server processes a connection's ops in order, so when the PONG
    * arrives, everything written before the PING (CONNECT, the SUB, any
    * PUBs) has been fully processed server-side. Call after connecting
    * and before publishing to guarantee the subscription is live —
    * core NATS is at-most-once, so a frame published before the SUB
    * registers is silently gone. */
  def flush(timeoutMs: Long = 10000L): Unit = session.synchronized {
    ensureConnected()
    val p0 = session.pongs
    session.channel.write(NatsWire.ping)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (session.pongs == p0 && System.nanoTime() < deadline) {
      drain()
      if (session.pongs == p0) Thread.sleep(1)
    }
    if (session.pongs == p0)
      throw new IllegalStateException(s"NATS flush timed out after $timeoutMs ms")
  }

  /** Drain the socket and return the highest sequence number buffered.
    *
    * Known limit: the drain loops until the socket has been quiet for the
    * 1 ms read probe, so a publisher whose gaps stay under a millisecond
    * holds the trigger here for its whole burst, and the burst's ingest
    * time lands before the micro-batch's job. Reading the socket on a
    * background thread would lift this, at a cost to per-frame latency
    * that needs its own measurement. */
  override def latestSeq(): Long = session.synchronized {
    ensureConnected(); drain(); session.seq
  }

  /** Frames in (start, end] of `shard`, sliced by index from the buffer:
    * `end` came from [[latestSeq]], which already drained the socket. */
  override def fetch(start: Long, end: Long, shard: Int,
                     shards: Int): Iterator[NatsFrame] = session.synchronized {
    val frames = session.frames
    if (frames.isEmpty) Iterator.empty
    else {
      val base = frames.head.seq
      val first = math.max(start + 1, base)
      val last = math.min(end, frames.last.seq)
      // snapshot: the iterator is consumed outside the lock while drain()
      // may keep appending and commit() trimming
      val out = Array.newBuilder[NatsFrame]
      var seq = first + Math.floorMod(shard - first, shards.toLong)
      while (seq <= last) {
        out += frames((seq - base).toInt)
        seq += shards
      }
      out.result().iterator
    }
  }

  /** Committed offsets make old frames unreachable — drop them so the
    * shared session's replay buffer is bounded by in-flight batches, not
    * the subject's lifetime volume. */
  override def commit(upTo: Long): Unit = session.synchronized {
    val frames = session.frames
    if (frames.nonEmpty) {
      val n = math.min(upTo - frames.head.seq + 1, frames.size.toLong)
      if (n > 0) frames.remove(0, n.toInt)
    }
  }
}
