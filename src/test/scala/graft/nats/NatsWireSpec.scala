package graft.nats

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSession

/** The NATS text-protocol codec (the dialogue the reference's nats client
  * speaks at lib/nats.js:62-64): framing round-trips, incremental parsing
  * at every byte boundary, binary payloads containing CRLF, and the full
  * connection dialogue of [[TextProtocolBroker]] against an in-memory
  * channel — zero sockets. */
class NatsWireSpec extends AnyFunSuite with SharedSession {

  import NatsWire._

  test("server op serialize → parse round-trips") {
    val p = new Parser
    assert(p.feed(NatsWire.info("""{"server_id":"x"}""")) === Seq(Info("""{"server_id":"x"}""")))
    assert(p.feed(msg("cdc.client", 1L, "hello".getBytes(US_ASCII)))
      === Seq(Msg("cdc.client", 1L, None, "hello".getBytes(US_ASCII))))
    assert(p.feed(msg("a.b", 7L, Array[Byte](1, 2), replyTo = Some("inbox.1")))
      === Seq(Msg("a.b", 7L, Some("inbox.1"), Array[Byte](1, 2))))
    assert(p.feed("PING\r\n".getBytes(US_ASCII)) === Seq(Ping))
    assert(p.feed("PONG\r\n".getBytes(US_ASCII)) === Seq(Pong))
    assert(p.feed(ok) === Seq(Ok))
    assert(p.feed(err("Unknown Protocol Operation")) ===
      Seq(Err("Unknown Protocol Operation")))
  }

  test("client op serialization matches the protocol grammar") {
    assert(new String(connect("""{"verbose":false}"""), US_ASCII)
      === "CONNECT {\"verbose\":false}\r\n")
    assert(new String(sub("cdc.client", 1L), US_ASCII) === "SUB cdc.client 1\r\n")
    assert(new String(sub("q.subj", 2L, queue = Some("workers")), US_ASCII)
      === "SUB q.subj workers 2\r\n")
    assert(new String(unsub(2L), US_ASCII) === "UNSUB 2\r\n")
    assert(new String(unsub(2L, Some(5)), US_ASCII) === "UNSUB 2 5\r\n")
    assert(new String(pub("s", "hi".getBytes(US_ASCII)), US_ASCII)
      === "PUB s 2\r\nhi\r\n")
    assert(new String(pub("s", "hi".getBytes(US_ASCII), Some("rep")), US_ASCII)
      === "PUB s rep 2\r\nhi\r\n")
    assert(new String(ping, US_ASCII) === "PING\r\n")
    assert(new String(pong, US_ASCII) === "PONG\r\n")
  }

  test("binary payloads containing CRLF survive (length-prefixed, not delimited)") {
    val payload = "ab\r\ncd\r\n".getBytes(US_ASCII) ++ Array[Byte](0, -1, 13, 10)
    val p = new Parser
    val got = p.feed(msg("s", 3L, payload))
    assert(got === Seq(Msg("s", 3L, None, payload)))
  }

  test("incremental: a full dialogue re-split at EVERY byte boundary parses identically") {
    val envelope = CdcProto.encode(CdcProto.CdcMsg(
      "nms", "cdc/click/7", "json", "http", "", 1, true, """{"k":9}""".getBytes(US_ASCII)))
    val stream = NatsWire.info("""{"max_payload":1048576}""") ++
      msg("cdc.client", 1L, envelope) ++
      "PING\r\n".getBytes(US_ASCII) ++
      msg("cdc.client", 1L, "x".getBytes(US_ASCII), Some("inbox.9")) ++
      ok
    val whole = new Parser().feed(stream)
    assert(whole.length === 5)
    (1 until stream.length).foreach { cut =>
      val p = new Parser
      val got = p.feed(stream.take(cut)) ++ p.feed(stream.drop(cut))
      assert(got === whole, s"split at byte $cut diverged")
    }
    // and byte-at-a-time
    val p1 = new Parser
    val dribble = stream.flatMap(b => p1.feed(Array(b))).toSeq
    assert(dribble === whole)
  }

  /** Feed `stream` whole, split at every byte boundary, and byte-at-a-time;
    * every way must yield `want`. */
  private def assertParsesAtEverySplit[Op](stream: Array[Byte], want: Seq[Op],
                                           parser: () => WireParser[Op]): Unit = {
    assert(parser().feed(stream) === want)
    (1 until stream.length).foreach { cut =>
      val p = parser()
      assert(p.feed(stream.take(cut)) ++ p.feed(stream.drop(cut)) === want,
        s"split at byte $cut diverged")
    }
    val p1 = parser()
    assert(stream.toSeq.flatMap(b => p1.feed(Array(b))) === want)
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)

  test("grammar at every byte split: lowercase verbs, tab and repeated separators, " +
      "reply-to, zero-length and CRLF payloads (server→client)") {
    val stream = ascii(
      "msg a.b 7 3\r\nabc\r\n" +
      "MSG\tcdc.client\t1\tinbox.9\t2\r\nhi\r\n" +
      "MsG s 2 0\r\n\r\n" +
      "MSG s  3 \t r.1  6\r\nab\r\ncd\r\n" +
      "MSG s 4 2 \r\nxy\r\n" +
      "info\t{\"a\":1}\r\n" +
      "ping\r\npong\r\n+ok\r\n-err 'Slow Consumer'\r\n")
    assertParsesAtEverySplit(stream, Seq(
      Msg("a.b", 7L, None, ascii("abc")),
      Msg("cdc.client", 1L, Some("inbox.9"), ascii("hi")),
      Msg("s", 2L, None, Array.emptyByteArray),
      Msg("s", 3L, Some("r.1"), ascii("ab\r\ncd")),
      Msg("s", 4L, None, ascii("xy")),
      Info("{\"a\":1}"),
      Ping, Pong, Ok, Err("Slow Consumer")), () => new Parser)
  }

  test("grammar at every byte split: lowercase verbs, tab and repeated separators, " +
      "reply-to, zero-length and CRLF payloads (client→server)") {
    val stream = ascii(
      "connect {\"verbose\":false}\r\n" +
      "pub s.t 2\r\nhi\r\n" +
      "PUB\ts\tinbox.1\t0\r\n\r\n" +
      "Pub s  4\r\n\r\n\r\n\r\n" +
      "sub a.* q 3\r\n" +
      "sub\tb  4\r\n" +
      "unsub 3 10\r\n" +
      "UNSUB\t4\r\n" +
      "ping\r\npong\r\n")
    assertParsesAtEverySplit(stream, Seq(
      Connect("{\"verbose\":false}"),
      Pub("s.t", None, ascii("hi")),
      Pub("s", Some("inbox.1"), Array.emptyByteArray),
      Pub("s", None, ascii("\r\n\r\n")),
      SubOp("a.*", Some("q"), 3L),
      SubOp("b", None, 4L),
      UnsubOp(3L, Some(10)),
      UnsubOp(4L, None),
      Ping, Pong), () => new ClientParser)
  }

  test("malformed headers throw IllegalArgumentException: non-numeric or negative " +
      "length, non-numeric sid, missing or extra fields, unterminated payload") {
    // each input carries its payload bytes, so a parser that checks a field
    // only once the payload is complete is held to the same contract
    val serverSide = Seq(
      "MSG s 1 x\r\nabc\r\n", "MSG s 1 -1\r\nx\r\n", "MSG s x 1\r\na\r\n",
      "MSG s 1 99999999999\r\na\r\n", "MSG s 1\r\n", "MSG s\r\n", "MSG\r\n",
      "MSG s 1 r 2 3\r\nab\r\n", "MSG s 1 2\r\nabXY")
    serverSide.foreach { in =>
      intercept[IllegalArgumentException](new Parser().feed(ascii(in)))
    }
    val clientSide = Seq(
      "PUB s x\r\nab\r\n", "PUB s -2\r\nab\r\n", "PUB s\r\n", "PUB\r\n",
      "PUB s r 2 3\r\nab\r\n", "SUB s x\r\n", "SUB s\r\n", "SUB a b 1 2\r\n",
      "UNSUB x\r\n", "UNSUB 1 x\r\n", "UNSUB\r\n", "UNSUB 1 2 3\r\n")
    clientSide.foreach { in =>
      intercept[IllegalArgumentException](new ClientParser().feed(ascii(in)))
    }
  }

  test("verbs are case-insensitive; malformed MSG header and unknown verbs throw") {
    assert(new Parser().feed("ping\r\n".getBytes(US_ASCII)) === Seq(Ping))
    assert(new Parser().feed("Info {}\r\n".getBytes(US_ASCII)) === Seq(Info("{}")))
    intercept[IllegalArgumentException] {
      new Parser().feed("MSG onlysubject\r\n".getBytes(US_ASCII))
    }
    intercept[IllegalArgumentException] {
      new Parser().feed("BOGUS stuff\r\n".getBytes(US_ASCII))
    }
  }

  /** In-memory duplex channel with a scripted server behind it: responds
    * to the CONNECT/SUB handshake, delivers frames, and pings. */
  private class ScriptedServer extends NatsChannel {
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    private val toClient = scala.collection.mutable.Queue.empty[Array[Byte]]
    private var closed = false

    queue(NatsWire.info("""{"server_id":"mem","max_payload":1048576}"""))

    def queue(bytes: Array[Byte]): Unit = toClient.enqueue(bytes)

    override def read(): Array[Byte] =
      if (toClient.isEmpty) Array.emptyByteArray else toClient.dequeue()

    override def write(bytes: Array[Byte]): Unit = {
      assert(!closed)
      received += new String(bytes, US_ASCII)
    }
    override def close(): Unit = closed = true
  }

  test("TextProtocolBroker: handshake, MSG sequencing, PING→PONG, shard fetch") {
    val server = new ScriptedServer
    val broker = new TextProtocolBroker {
      override protected def dial(): NatsChannel = server
    }

    assert(broker.latestSeq() === 0L)
    // the client side of the reference dialogue went out: CONNECT then SUB
    assert(server.received.exists(_.startsWith("CONNECT {")), s"${server.received}")
    assert(server.received.exists(_ === "SUB cdc.client 1\r\n"), s"${server.received}")

    // deliver 6 envelopes (+ a PING in the middle of the stream)
    val msgs = (1 to 6).map { i =>
      CdcProto.CdcMsg(s"pub$i", s"cdc/click/$i", "json", "http", "", 0, false,
        Array[Byte](i.toByte))
    }
    msgs.take(3).foreach(m =>
      server.queue(NatsWire.msg("cdc.client", 1L, CdcProto.encode(m))))
    server.queue("PING\r\n".getBytes(US_ASCII))
    msgs.drop(3).foreach(m =>
      server.queue(NatsWire.msg("cdc.client", 1L, CdcProto.encode(m))))

    assert(broker.latestSeq() === 6L)
    assert(server.received.last === "PONG\r\n", "PING must be answered with PONG")

    // fetch shards the sequence range exactly like the micro-batch planner
    val all = (0 until 2).flatMap(sh => broker.fetch(0L, 6L, sh, 2).toSeq)
      .sortBy(_.seq)
    assert(all.map(_.seq) === (1L to 6L))
    assert(all.map(f => CdcProto.decode(f.bytes)) === msgs)
    // range replay: (2, 4] on shard parity
    val range = (0 until 2).flatMap(sh => broker.fetch(2L, 4L, sh, 2).toSeq)
      .map(_.seq).sorted
    assert(range === Seq(3L, 4L))
  }

  test("shared session: commit trims the replay buffer; -ERR resets for redial") {
    val server = new ScriptedServer
    val server2 = new ScriptedServer
    var dials = 0
    class TrimBroker extends TextProtocolBroker {
      override protected def dial(): NatsChannel = {
        dials += 1
        if (dials == 1) server else server2
      }
    }
    val broker = new TrimBroker
    (1 to 20).foreach(i =>
      server.queue(NatsWire.msg("cdc.client", 1L, Array[Byte](i.toByte))))
    assert(broker.latestSeq() === 20L)
    assert(broker.fetch(0L, 20L, 0, 1).size === 20)

    // a SECOND instance of the same class binds the SAME session — the
    // DataSourceV2 instantiates a broker per reader, and its fetches
    // must see the frames the driver's offsets refer to
    assert(new TrimBroker().fetch(10L, 20L, 0, 1).size === 10)
    assert(dials === 1, "same session: the second instance must NOT redial")

    // commit makes (0, 10] unreachable and drops it from the buffer;
    // uncommitted ranges still serve, sequencing continues across the trim
    broker.commit(10L)
    assert(broker.fetch(0L, 20L, 0, 1).map(_.seq).toSeq === (11L to 20L))
    server.queue(NatsWire.msg("cdc.client", 1L, Array[Byte](21)))
    assert(broker.latestSeq() === 21L)

    // a server -ERR resets the connection: the NEXT use redials with the
    // buffered history intact instead of reusing a poisoned channel (or
    // failing) for the JVM lifetime
    server.queue(NatsWire.err("Slow Consumer"))
    intercept[IllegalStateException] { broker.latestSeq() }
    server2.queue(NatsWire.msg("cdc.client", 1L, Array[Byte](22)))
    assert(broker.latestSeq() === 22L, "redial must resume the session")
    assert(dials === 2, "recovery must have dialed a fresh connection")
    assert(broker.fetch(20L, 22L, 0, 1).map(_.seq).toSeq === Seq(21L, 22L))
  }

  test("sessionKey: same class dialing different servers gets DISTINCT sessions") {
    val serverA = new ScriptedServer
    val serverB = new ScriptedServer
    // one broker class, two dial targets — without the key discriminator
    // these would silently share one connection, sequence counter, and
    // replay buffer (ADVICE r5)
    class TargetedBroker(target: String) extends TextProtocolBroker {
      override protected def sessionKey: String = target
      override protected def dial(): NatsChannel =
        if (target == "a:4222") serverA else serverB
    }
    val a = new TargetedBroker("a:4222")
    val b = new TargetedBroker("b:4222")
    serverA.queue(NatsWire.msg("cdc.client", 1L, Array[Byte](1)))
    serverA.queue(NatsWire.msg("cdc.client", 1L, Array[Byte](2)))
    serverB.queue(NatsWire.msg("cdc.client", 1L, Array[Byte](9)))
    assert(a.latestSeq() === 2L)
    assert(b.latestSeq() === 1L, "b must have its own sequence counter")
    assert(a.fetch(0L, 2L, 0, 1).map(_.bytes.head.toInt).toSeq === Seq(1, 2))
    assert(b.fetch(0L, 1L, 0, 1).map(_.bytes.head.toInt).toSeq === Seq(9))
    // both servers got their own handshake — two real connections
    assert(serverA.received.exists(_ === "SUB cdc.client 1\r\n"))
    assert(serverB.received.exists(_ === "SUB cdc.client 1\r\n"))
    // and a SECOND instance with the SAME key still shares (the default
    // DataSourceV2 per-reader fan-out must keep working)
    assert(new TargetedBroker("a:4222").fetch(0L, 2L, 0, 1).size === 2)
  }

  test("wire bytes → protocol → readStream: the reference pub→broker→sub loop " +
      "end-to-end (NatsWire framing under the DataSourceV2)") {
    val server = new ScriptedServer
    WireTestBroker.underlying = new TextProtocolBroker {
      override protected def dial(): NatsChannel = server
    }
    // the publisher side of examples/cdc-pub.js: CDCMsg → proto bytes →
    // NATS MSG frame on the constant bus subject
    def envelope(i: Long) = CdcProto.CdcMsg(
      "nms", s"cdc/${Seq("click", "error", "view")((i % 3).toInt)}/$i",
      "json", "http", "", 0, false, s"""{"k": $i}""".getBytes(US_ASCII))
    (1L to 30L).foreach(i =>
      server.queue(NatsWire.msg("cdc.client", 1L, CdcProto.encode(envelope(i)))))

    val q = spark.readStream
      .format(classOf[NatsSource].getName)
      .option("broker", classOf[WireTestBroker].getName)
      .option("shards", 2)
      .load()
      .writeStream.format("memory").queryName("wire_bus").start()
    try {
      q.processAllAvailable()
      val bus = spark.table("wire_bus")
      assert(bus.count() === 30L)
      // frames decoded through the REAL wire dialogue route like any bus
      import org.apache.spark.sql.functions._
      val errs = bus.filter(
        graft.functions.GraftFunctions.mqtt_matches(lit("cdc/error/#"), col("channel")))
      assert(errs.count() === (1L to 30L).count(_ % 3 == 1).toLong)
      // late frames arrive on the same protocol session; offsets advance
      (31L to 40L).foreach(i =>
        server.queue(NatsWire.msg("cdc.client", 1L, CdcProto.encode(envelope(i)))))
      q.processAllAvailable()
      assert(spark.table("wire_bus").count() === 40L)
      assert(spark.table("wire_bus").select("seq").distinct().count() === 40L,
        "no frame lost or duplicated across shards/batches")
    } finally q.stop()
  }

  test("FULL loop: client PUB frames → broker → readStream → captureTo → " +
      "BusLayout re-read routes and counts like the in-memory bus") {
    // the reference's complete pub→sub cycle (examples/cdc-pub.js →
    // cdc-sub.js) over REAL framing at every hop: envelopes are encoded
    // and framed with the CLIENT's PUB bytes, a loopback 'server' parses
    // those frames and delivers them as MSG frames, the DataSourceV2
    // consumes them through the text-protocol dialogue, captureTo lands
    // them in the partitioned storage layout, and the re-read must
    // route (mqtt patterns) and count (per-sub counters) exactly like
    // an in-memory frame of the same envelopes.
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.mqtt_matches

    val types = Seq("click", "error", "view")
    def envelope(i: Long) = CdcProto.CdcMsg(
      "loop-pub", s"cdc/${types((i % 3).toInt)}/u${i % 7}",
      "json", "http", "", 0, false, s"""{"k": $i}""".getBytes(US_ASCII))
    val msgs = (1L to 60L).map(envelope)

    // 1. publisher: CDCMsg → proto bytes → the client's own PUB framing
    val pubFrames = msgs.map(m => NatsWire.pub("cdc.client", CdcProto.encode(m)))

    // 2. loopback server: parse each PUB frame the way a server would
    // (header + exact payload length) and deliver it back as a MSG frame
    val server = new ScriptedServer
    val PubHead = """PUB (\S+) (\d+)""".r
    pubFrames.foreach { f =>
      val headEnd = f.indexOfSlice("\r\n".getBytes(US_ASCII))
      assert(headEnd > 0, "PUB frame must carry a CRLF-terminated header")
      val (subject, len) = new String(f.take(headEnd), US_ASCII) match {
        case PubHead(subj, n) => (subj, n.toInt)
        case h => fail(s"malformed PUB header: $h")
      }
      assert(subject === "cdc.client", "publish goes to the constant bus subject")
      val payload = f.slice(headEnd + 2, headEnd + 2 + len)
      assert(f.length === headEnd + 2 + len + 2, "payload must be length-framed exactly")
      server.queue(NatsWire.msg(subject, 1L, payload))
    }
    WireTestBroker.underlying = new TextProtocolBroker {
      override protected def dial(): NatsChannel = server
    }

    // 3. subscriber: real readStream through the protocol session, then
    // continuous capture into the partitioned bus layout
    val dir = java.nio.file.Files.createTempDirectory("wire_loop").toString
    val bus = spark.readStream
      .format(classOf[NatsSource].getName)
      .option("broker", classOf[WireTestBroker].getName)
      .option("shards", 2)
      .load()
      .withColumn("event_type", element_at(split(col("channel"), "/"), 2))
    val q = graft.stream.Streams.captureTo(bus, s"$dir/bus", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()

    // 4. re-read the captured layout; parity vs the in-memory bus
    val reread = graft.sources.BusLayout.readPartitioned(spark, s"$dir/bus")
    assert(reread.count() === 60L)
    val mem = {
      val s2 = spark; import s2.implicits._
      msgs.map(m => (m.channel, new String(m.payload, US_ASCII))).toDF("channel", "payload_s")
    }
    // routing parity: pruned-subscribe over storage ≡ pattern filter in memory
    for (pat <- Seq("cdc/error/#", "cdc/click/#", "cdc/+/u3", "cdc/#")) {
      val viaLayout = graft.sources.BusLayout.subscribe(reread, pat).count()
      val viaMem = mem.filter(mqtt_matches(lit(pat), col("channel"))).count()
      assert(viaLayout === viaMem, s"routing diverged for $pat")
      assert(viaMem > 0L, s"degenerate pattern $pat matched nothing")
    }
    // per-sub counters parity (the reference's received counters)
    val gotCounts = reread.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val memCounts = mem
      .withColumn("event_type", element_at(split(col("channel"), "/"), 2))
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotCounts === memCounts)
    // payload survives the whole loop byte-for-byte
    val k17 = reread.filter(col("channel") === "cdc/error/u3")
      .select(col("payload")).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), US_ASCII)).sorted
    val m17 = msgs.filter(_.channel == "cdc/error/u3")
      .map(m => new String(m.payload, US_ASCII)).sorted
    assert(k17 === m17 && k17.nonEmpty)
  }

  test("server -ERR propagates as a client error (reference error path, lib/nats.js:29-44)") {
    val server = new ScriptedServer
    server.queue(NatsWire.err("Authorization Violation"))
    val broker = new TextProtocolBroker {
      override protected def dial(): NatsChannel = server
    }
    val ex = intercept[IllegalStateException] { broker.latestSeq() }
    assert(ex.getMessage.contains("Authorization Violation"))
  }

  test("UnavailableBroker fails only at the socket dial, with the documented error") {
    val ex = intercept[UnsupportedOperationException] {
      new UnavailableBroker().latestSeq()
    }
    assert(ex.getMessage.contains("socket dial"))
  }
}
