package graft.nats

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSession

/** The live TCP layer: the embedded [[NatsServer]] speaking the public
  * text protocol over real loopback sockets, the [[TcpChannel]]-backed
  * [[TcpBroker]] dial, and the full socket → protocol → DataSourceV2 →
  * query loop. Everything here runs over actual TCP connections — this
  * closes the one seam NatsWireSpec drives with in-memory channels. */
class NatsTcpSpec extends AnyFunSuite with SharedSession {

  import NatsWire._

  // ---- subject wildcard semantics (public protocol) -------------------

  test("NatsSubject: '.' tokens, '*' one token, '>' one-or-more trailing") {
    val cases = Seq(
      ("cdc.client", "cdc.client", true),
      ("cdc.client", "cdc.other", false),
      ("cdc.*", "cdc.client", true),
      ("cdc.*", "cdc", false),
      ("cdc.*", "cdc.a.b", false),
      ("*.client", "cdc.client", true),
      ("cdc.>", "cdc.client", true),
      ("cdc.>", "cdc.a.b.c", true),
      ("cdc.>", "cdc", false), // '>' needs at least one token
      (">", "anything", true),
      (">", "a.b", true),
      ("a.*.c", "a.b.c", true),
      ("a.*.c", "a.b.d", false),
      ("a.b", "a.b.c", false))
    cases.foreach { case (pat, subj, want) =>
      assert(NatsSubject.matches(pat, subj) === want, s"$pat vs $subj")
    }
  }

  // ---- client-op parser (the server's read side) ----------------------

  test("ClientParser: serialize → parse round-trips every client op") {
    val p = new ClientParser
    assert(p.feed(connect("""{"verbose":true}""")) === Seq(Connect("""{"verbose":true}""")))
    assert(p.feed(pub("s.t", "hi".getBytes(US_ASCII)))
      === Seq(Pub("s.t", None, "hi".getBytes(US_ASCII))))
    assert(p.feed(pub("s", Array[Byte](1, 2), Some("inbox.1")))
      === Seq(Pub("s", Some("inbox.1"), Array[Byte](1, 2))))
    assert(p.feed(sub("cdc.client", 7L)) === Seq(SubOp("cdc.client", None, 7L)))
    assert(p.feed(sub("q.s", 8L, Some("workers"))) === Seq(SubOp("q.s", Some("workers"), 8L)))
    assert(p.feed(unsub(7L)) === Seq(UnsubOp(7L, None)))
    assert(p.feed(unsub(8L, Some(5))) === Seq(UnsubOp(8L, Some(5))))
    assert(p.feed(ping) === Seq(Ping))
    assert(p.feed(pong) === Seq(Pong))
    intercept[IllegalArgumentException] {
      new ClientParser().feed("MSG s 1 2\r\n".getBytes(US_ASCII)) // server-side verb
    }
  }

  test("ClientParser: a client dialogue re-split at EVERY byte boundary parses identically") {
    val crlfPayload = "ab\r\ncd".getBytes(US_ASCII) ++ Array[Byte](0, -1, 13, 10)
    val stream = connect("""{"verbose":false}""") ++
      sub("cdc.client", 1L) ++
      pub("cdc.client", crlfPayload) ++
      ping ++
      pub("cdc.client", "x".getBytes(US_ASCII), Some("inbox.2")) ++
      unsub(1L, Some(3))
    val whole = new ClientParser().feed(stream)
    assert(whole.length === 6)
    assert(whole(2) === Pub("cdc.client", None, crlfPayload),
      "binary payload containing CRLF must survive (length-framed)")
    (1 until stream.length).foreach { cut =>
      val p = new ClientParser
      val got = p.feed(stream.take(cut)) ++ p.feed(stream.drop(cut))
      assert(got === whole, s"split at byte $cut diverged")
    }
  }

  // ---- raw-socket client helper ---------------------------------------

  /** A bare protocol client over a real socket — deliberately NOT the
    * broker classes, so server behavior is asserted against independent
    * client machinery. */
  private class RawClient(port: Int) extends AutoCloseable {
    val socket = new java.net.Socket(java.net.InetAddress.getLoopbackAddress, port)
    socket.setTcpNoDelay(true)
    socket.setSoTimeout(30000)
    private val in = socket.getInputStream
    private val out = socket.getOutputStream
    private val parser = new Parser
    private val pendingOps = scala.collection.mutable.Queue.empty[ServerOp]

    def send(bytes: Array[Byte]): Unit = { out.write(bytes); out.flush() }

    /** Blocking read of the next server op (30 s timeout — sized for a
      * busy shared box; a wedged server still fails, just not spuriously). */
    def next(): ServerOp = {
      val buf = new Array[Byte](8192)
      while (pendingOps.isEmpty) {
        val n = in.read(buf)
        assert(n >= 0, "server closed the connection while an op was expected")
        pendingOps ++= parser.feed(java.util.Arrays.copyOf(buf, n))
      }
      pendingOps.dequeue()
    }

    /** Collect ops until `n` MSG frames have arrived. */
    def nextMsgs(n: Int): Seq[Msg] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Msg]
      while (got.length < n) next() match {
        case m: Msg => got += m
        case _      => ()
      }
      got.toSeq
    }

    def handshake(verbose: Boolean = false): Unit = {
      assert(next().isInstanceOf[Info], "server must greet with INFO")
      send(connect(s"""{"verbose":$verbose,"protocol":1,"name":"raw"}"""))
    }

    /** PING/PONG round-trip: everything sent before is processed. */
    def flush(): Unit = {
      send(ping)
      var op = next()
      while (op != Pong) op = next()
    }

    override def close(): Unit = socket.close()
  }

  // ---- embedded server over real sockets ------------------------------

  test("NatsServer: INFO greeting, verbose +OK acks, PING→PONG, pub/sub delivery") {
    val server = new NatsServer()
    try {
      val sub1 = new RawClient(server.port)
      val pub1 = new RawClient(server.port)
      try {
        sub1.handshake(verbose = true)
        assert(sub1.next() === Ok, "verbose connection acks CONNECT with +OK")
        sub1.send(NatsWire.sub("metrics.cpu", 11L))
        assert(sub1.next() === Ok, "verbose connection acks SUB with +OK")
        sub1.flush()

        pub1.handshake()
        pub1.send(ping)
        var op = pub1.next()
        while (op != Pong) op = pub1.next()

        val payload = "load=0.93\r\nnext".getBytes(US_ASCII)
        pub1.send(NatsWire.pub("metrics.cpu", payload))
        pub1.send(NatsWire.pub("metrics.mem", "unsubscribed".getBytes(US_ASCII)))
        pub1.flush()

        val got = sub1.nextMsgs(1)
        assert(got.head === Msg("metrics.cpu", 11L, None, payload),
          "subject, sid, and exact payload bytes must survive the socket hop")
        // metrics.mem had no subscriber: at-most-once drops it — confirmed
        // by a subsequent flush finding no second MSG queued
        sub1.send(ping)
        assert(sub1.next() === Pong, "nothing but the PONG may be pending")
      } finally { sub1.close(); pub1.close() }
    } finally server.close()
  }

  // The server buffers its writes and flushes once per inbound read chunk;
  // each reply below must arrive with the client sending nothing further,
  // so a write left in a buffer fails the read's timeout.
  test("NatsServer flush points: INFO on connect, PONG, verbose +OK, and a MSG " +
      "routed from another connection's PUB arrive with no further client traffic") {
    val server = new NatsServer()
    try {
      val sub1 = new RawClient(server.port)
      val pub1 = new RawClient(server.port)
      try {
        Seq(sub1, pub1).foreach(_.socket.setSoTimeout(5000))
        assert(sub1.next().isInstanceOf[Info], "INFO must be flushed at connect")
        sub1.send(connect("""{"verbose":true}"""))
        assert(sub1.next() === Ok, "+OK must be flushed after CONNECT")
        sub1.send(NatsWire.sub("flush.x", 3L))
        assert(sub1.next() === Ok, "+OK must be flushed after SUB")
        sub1.send(ping)
        assert(sub1.next() === Pong, "PONG must be flushed after PING")

        pub1.handshake()
        pub1.send(NatsWire.pub("flush.x", "m".getBytes(US_ASCII))) // no PING behind it
        assert(sub1.next() === Msg("flush.x", 3L, None, "m".getBytes(US_ASCII)),
          "the publisher's chunk must flush the subscriber it wrote to")
      } finally { sub1.close(); pub1.close() }
    } finally server.close()
  }

  test("NatsServer: a 10k-frame PUB burst reaches plain, '*'/'>', queue-group and " +
      "UNSUB-max subscriptions with exact per-sid counts, order and payload bytes") {
    val n = 10000
    val subjects = Seq("burst.a", "burst.b", "burst.c.d")
    def subjectOf(i: Int) = subjects(i % 3)
    def payloadOf(i: Int): Array[Byte] =
      if (i % 101 == 0) Array.emptyByteArray
      else (s"$i|" + (if (i % 5 == 0) "\r\n" else "")).getBytes(US_ASCII) ++
        Array.fill(i % 13)(i.toByte)
    def frames(sid: Long, ids: Seq[Int]): Seq[Msg] =
      ids.map(i => Msg(subjectOf(i), sid, None, payloadOf(i)))
    val all = 0 until n
    val starMatches = all.filter(_ % 3 != 2) // burst.* skips burst.c.d
    val expectA = frames(1L, all.filter(_ % 3 == 0)) ++ frames(2L, starMatches) ++
      frames(3L, all) ++ frames(4L, all.take(25))

    val server = new NatsServer()
    try {
      val subA = new RawClient(server.port)
      val qw1 = new RawClient(server.port)
      val qw2 = new RawClient(server.port)
      val pub1 = new RawClient(server.port)
      try {
        subA.handshake()
        subA.send(NatsWire.sub("burst.a", 1L))
        subA.send(NatsWire.sub("burst.*", 2L))
        subA.send(NatsWire.sub("burst.>", 3L))
        subA.send(NatsWire.sub("burst.>", 4L))
        subA.send(NatsWire.unsub(4L, Some(25)))
        subA.flush()
        qw1.handshake(); qw1.send(NatsWire.sub("burst.*", 10L, Some("workers"))); qw1.flush()
        qw2.handshake(); qw2.send(NatsWire.sub("burst.*", 11L, Some("workers"))); qw2.flush()
        pub1.handshake()

        // one write of the whole burst, from its own thread: the readers
        // below must drain concurrently or the sockets fill up
        val burst = new java.io.ByteArrayOutputStream()
        all.foreach(i => burst.write(NatsWire.pub(subjectOf(i), payloadOf(i))))
        val publisher = new Thread(() => pub1.send(burst.toByteArray))
        publisher.start()

        // per sid the frames keep publish order; one connection's sids
        // arrive interleaved, so compare each sid's own sequence
        def bySid(ms: Seq[Msg]): Map[Long, Seq[Msg]] = ms.groupBy(_.sid)
        assert(bySid(subA.nextMsgs(expectA.length)) === bySid(expectA))
        // the queue group alternates over its members in connection order
        val (even, odd) = starMatches.zipWithIndex.partition(_._2 % 2 == 0)
        assert(qw1.nextMsgs(even.length) === frames(10L, even.map(_._1)))
        assert(qw2.nextMsgs(odd.length) === frames(11L, odd.map(_._1)))
        publisher.join(30000)

        // and nothing beyond the expected frames was delivered
        Seq(subA, qw1, qw2).foreach { c => c.send(ping); assert(c.next() === Pong) }
      } finally { subA.close(); qw1.close(); qw2.close(); pub1.close() }
    } finally server.close()
  }

  test("NatsServer: wildcard routing over TCP ('*' and '>') with reply-to pass-through") {
    val server = new NatsServer()
    try {
      val star = new RawClient(server.port)
      val full = new RawClient(server.port)
      val pub1 = new RawClient(server.port)
      try {
        star.handshake(); full.handshake(); pub1.handshake()
        star.send(NatsWire.sub("ev.*", 1L)); star.flush()
        full.send(NatsWire.sub("ev.>", 2L)); full.flush()

        pub1.send(NatsWire.pub("ev.click", "a".getBytes(US_ASCII), Some("inbox.7")))
        pub1.send(NatsWire.pub("ev.click.deep", "b".getBytes(US_ASCII)))
        pub1.flush()

        // 'ev.*' sees only the two-token subject; 'ev.>' sees both
        assert(star.nextMsgs(1) ===
          Seq(Msg("ev.click", 1L, Some("inbox.7"), "a".getBytes(US_ASCII))))
        star.send(ping); assert(star.next() === Pong)
        assert(full.nextMsgs(2).map(m => (m.subject, m.sid)) ===
          Seq(("ev.click", 2L), ("ev.click.deep", 2L)))
      } finally { star.close(); full.close(); pub1.close() }
    } finally server.close()
  }

  test("NatsServer: queue group delivers each message to exactly ONE member") {
    val server = new NatsServer()
    try {
      val members = (1 to 3).map(_ => new RawClient(server.port))
      val pub1 = new RawClient(server.port)
      try {
        members.zipWithIndex.foreach { case (m, i) =>
          m.handshake()
          m.send(NatsWire.sub("jobs.run", 100L + i, queue = Some("workers")))
          m.flush()
        }
        pub1.handshake()
        (1 to 30).foreach(i => pub1.send(NatsWire.pub("jobs.run", Array(i.toByte))))
        pub1.flush()

        // drain each member: flush marks the end of its delivery stream
        val perMember = members.map { m =>
          m.send(ping)
          val got = scala.collection.mutable.ArrayBuffer.empty[Msg]
          var op = m.next()
          while (op != Pong) { op match { case msg: Msg => got += msg; case _ => () }; op = m.next() }
          got.toSeq
        }
        val total = perMember.map(_.length).sum
        assert(total === 30, s"every message delivered exactly once, got $total")
        assert(perMember.forall(_.nonEmpty), "round-robin must spread over all members")
        val seen = perMember.flatten.map(_.payload.head.toInt).sorted
        assert(seen === (1 to 30).toList, "no duplicate or lost payloads")
      } finally { members.foreach(_.close()); pub1.close() }
    } finally server.close()
  }

  test("NatsServer: UNSUB max auto-unsubscribes after exactly max deliveries (take-n seam)") {
    val server = new NatsServer()
    try {
      val sub1 = new RawClient(server.port)
      val pub1 = new RawClient(server.port)
      try {
        sub1.handshake(); pub1.handshake()
        sub1.send(NatsWire.sub("feed", 5L))
        sub1.send(NatsWire.unsub(5L, Some(3))) // reference take(3): lib/nats.js:98-107
        sub1.flush()
        (1 to 10).foreach(i => pub1.send(NatsWire.pub("feed", Array(i.toByte))))
        pub1.flush()
        val got = sub1.nextMsgs(3).map(_.payload.head.toInt)
        assert(got === Seq(1, 2, 3), "exactly the first max messages arrive")
        sub1.send(ping)
        assert(sub1.next() === Pong, "no fourth delivery may be pending")
        // and a plain UNSUB removes immediately
        sub1.send(NatsWire.sub("feed", 6L))
        sub1.send(NatsWire.unsub(6L))
        sub1.flush()
        pub1.send(NatsWire.pub("feed", Array(99.toByte))); pub1.flush()
        sub1.send(ping)
        assert(sub1.next() === Pong)
      } finally { sub1.close(); pub1.close() }
    } finally server.close()
  }

  test("NatsServer: garbage draws -ERR and a hang-up") {
    val server = new NatsServer()
    try {
      val c = new RawClient(server.port)
      try {
        c.handshake()
        c.send("BOGUS stuff\r\n".getBytes(US_ASCII))
        assert(c.next() === Err("Unknown Protocol Operation"))
        // connection is closed after the -ERR, like a real server
        val buf = new Array[Byte](16)
        assert(c.socket.getInputStream.read(buf) === -1)
      } finally c.close()
    } finally server.close()
  }

  // ---- TcpBroker: the real dial behind TextProtocolBroker -------------

  test("TcpBroker dials, handshakes, sequences frames, and survives a server restart") {
    val server = new NatsServer()
    val port = server.port
    sys.props(TcpBroker.TargetProperty) = server.target
    try {
      val broker = new TcpBroker
      broker.flush() // SUB is live server-side from here on

      val pub1 = new RawClient(port)
      try {
        pub1.handshake()
        (1 to 5).foreach(i =>
          pub1.send(NatsWire.pub("cdc.client", CdcProto.encode(CdcProto.CdcMsg(
            "p", s"cdc/click/$i", "json", "http", "", 0, false, Array(i.toByte))))))
        pub1.flush()
      } finally pub1.close()

      val deadline = System.nanoTime() + 30000000000L
      while (broker.latestSeq() < 5 && System.nanoTime() < deadline) Thread.sleep(2)
      assert(broker.latestSeq() === 5L)
      val frames = broker.fetch(0L, 5L, 0, 1).toVector
      assert(frames.map(_.seq) === (1L to 5L))
      assert(frames.map(f => CdcProto.decode(f.bytes).channel) ===
        (1 to 5).map(i => s"cdc/click/$i"))

      // kill the server: the dead socket surfaces as a connection-lost
      // error (NOT a silent stall), and the session resets for redial
      server.close()
      val ex = intercept[IllegalStateException] {
        val d2 = System.nanoTime() + 5000000000L
        while (System.nanoTime() < d2) { broker.latestSeq(); Thread.sleep(5) }
      }
      assert(ex.getMessage.contains("connection lost"))

      // restart on the SAME port: next use redials and re-subscribes;
      // buffered history and the sequence counter survive the reconnect.
      // The rebind can race a parallel suite grabbing the just-freed
      // ephemeral port (observed as a flaky BindException) — retry
      // briefly; a port held past the window is a genuine failure
      val server2 = {
        def bind(attempt: Int): NatsServer =
          try new NatsServer(port)
          catch {
            case _: java.net.BindException if attempt < 50 =>
              Thread.sleep(100); bind(attempt + 1)
          }
        bind(0)
      }
      try {
        broker.flush()
        val pub2 = new RawClient(port)
        try {
          pub2.handshake()
          pub2.send(NatsWire.pub("cdc.client", CdcProto.encode(CdcProto.CdcMsg(
            "p", "cdc/click/6", "json", "http", "", 0, false, Array(6.toByte)))))
          pub2.flush()
        } finally pub2.close()
        val d3 = System.nanoTime() + 30000000000L
        while (broker.latestSeq() < 6 && System.nanoTime() < d3) Thread.sleep(2)
        assert(broker.latestSeq() === 6L, "sequencing must resume after redial")
        assert(broker.fetch(5L, 6L, 0, 1).map(_.seq).toSeq === Seq(6L))
      } finally server2.close()
    } finally { server.close(); sys.props.remove(TcpBroker.TargetProperty) }
  }

  // ---- the full loop: sockets → protocol → DataSourceV2 → query -------

  test("FULL TCP loop: executor-side PUB over sockets → embedded server → " +
      "readStream on the default broker → routing parity with the in-memory bus") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.mqtt_matches

    val dir = "/root/testdata/sf0.001"
    val result = graft.cdc.CdcBus.wireTcp(spark, dir)
    // the graded aggregate equals the same aggregate computed WITHOUT the
    // wire in the path — the loop transported the slice losslessly
    val direct = graft.Tables.bus(spark, dir)
      .filter(col("event_id") % 10 === 0)
      .withColumn("etype", element_at(split(col("channel"), "/"), 2))
      .withColumn("uid", element_at(split(col("channel"), "/"), 3))
      .groupBy(col("etype"))
      .agg(countDistinct(col("uid")).as("n_users"),
           count(lit(1)).as("n"),
           sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .orderBy(col("etype"))
    assert(result.collect().toSeq === direct.collect().toSeq)
    assert(result.count() > 0)

    // and the re-received bus still routes with the mqtt machinery
    val sinkTables = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("wire_tcp_"))
    val bus = spark.table(sinkTables.max) // latest run's sink
    val viaPattern = bus.filter(mqtt_matches(lit("cdc/#"), col("channel"))).count()
    assert(viaPattern === bus.count(), "every transported frame routes under cdc/#")
  }

  test("multi-subscription workload: wildcard matrix + queue group + UNSUB-max delivery " +
      "counts over real sockets equal the batch matchCounts on the same slice") {
    import org.apache.spark.sql.functions._

    // deterministic slice of the real bus table; every channel has
    // exactly 3 tokens (cdc/<type>/<uid>), so the MQTT patterns below
    // and their NATS translations ('#'→'>', '+'→'*') agree on every row
    val slice = graft.Tables.bus(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") % 7 === 0)
      .select(col("channel"))
    val channels = slice.collect().map(_.getString(0)).toSeq
    assert(channels.nonEmpty && channels.forall(_.split("/").length == 3))

    val patterns = Seq("cdc/#", "cdc/click/#", "cdc/+/1", "cdc/nosuch/#")
    val batch = graft.cdc.CdcBus.matchCounts(slice.toDF("channel"), patterns)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def want(p: String): Long = batch.getOrElse(p, 0L)
    assert(want("cdc/#") === channels.length.toLong, "cdc/# must match the whole slice")

    val server = new NatsServer()
    try {
      val subA  = new RawClient(server.port) // plain wildcard matrix + UNSUB-max
      val qw1   = new RawClient(server.port) // queue group member 1
      val qw2   = new RawClient(server.port) // queue group member 2
      val pub1  = new RawClient(server.port)
      try {
        subA.handshake()
        subA.send(NatsWire.sub("cdc.>", 1L))
        subA.send(NatsWire.sub("cdc.click.>", 2L))
        subA.send(NatsWire.sub("cdc.*.1", 3L))
        subA.send(NatsWire.sub("cdc.nosuch.>", 4L))
        subA.send(NatsWire.sub("cdc.>", 20L))
        subA.send(NatsWire.unsub(20L, Some(5))) // reference take(5)
        subA.flush()
        qw1.handshake(); qw1.send(NatsWire.sub("cdc.>", 10L, queue = Some("workers"))); qw1.flush()
        qw2.handshake(); qw2.send(NatsWire.sub("cdc.>", 11L, queue = Some("workers"))); qw2.flush()

        pub1.handshake()
        channels.foreach { ch =>
          pub1.send(NatsWire.pub(ch.replace('/', '.'), ch.getBytes(US_ASCII)))
        }
        pub1.flush() // server processed every PUB → all MSGs already routed

        def drain(c: RawClient): Map[Long, Long] = {
          c.send(ping)
          val got = scala.collection.mutable.ArrayBuffer.empty[Msg]
          var op = c.next()
          while (op != Pong) { op match { case m: Msg => got += m; case _ => () }; op = c.next() }
          got.groupBy(_.sid).view.mapValues(_.length.toLong).toMap
        }
        val a = drain(subA)
        val q1 = drain(qw1).getOrElse(10L, 0L)
        val q2 = drain(qw2).getOrElse(11L, 0L)

        // wildcard matrix: per-subscription wire deliveries == batch counts
        assert(a.getOrElse(1L, 0L) === want("cdc/#"))
        assert(a.getOrElse(2L, 0L) === want("cdc/click/#"))
        assert(a.getOrElse(3L, 0L) === want("cdc/+/1"))
        assert(a.getOrElse(4L, 0L) === want("cdc/nosuch/#"))
        assert(want("cdc/click/#") > 0 && want("cdc/+/1") > 0,
          "slice must exercise the narrow patterns")
        // queue group: ONE copy of each matching message across members
        assert(q1 + q2 === want("cdc/#"), "queue group total = per-pattern count")
        assert(q1 > 0 && q2 > 0, "round-robin spread both members")
        // UNSUB-max: exactly max deliveries then auto-unsubscribe
        assert(a.getOrElse(20L, 0L) === math.min(5L, want("cdc/#")))
      } finally { subA.close(); qw1.close(); qw2.close(); pub1.close() }
    } finally server.close()
  }

  test("CONCURRENT wire clients: 8 parallel publishers + 5 subscribers (plain + " +
      "queue group) interleave frames over real sockets; aggregate delivery " +
      "counts equal batch matchCounts") {
    import org.apache.spark.sql.functions._

    val slice = graft.Tables.bus(spark, "/root/testdata/sf0.001")
      .filter(col("event_id") % 3 === 0)
      .select(col("channel"))
    val channels = slice.collect().map(_.getString(0)).toSeq
    assert(channels.length > 100, "need a slice big enough to interleave")

    val patterns = Seq("cdc/#", "cdc/click/#", "cdc/+/1")
    val batch = graft.cdc.CdcBus.matchCounts(slice.toDF("channel"), patterns)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def want(p: String): Long = batch.getOrElse(p, 0L)

    val server = new NatsServer()
    try {
      // 5 concurrent subscriber connections: 3 plain + a 2-member queue group
      val subAll   = new RawClient(server.port)
      val subClick = new RawClient(server.port)
      val subU1    = new RawClient(server.port)
      val qw1      = new RawClient(server.port)
      val qw2      = new RawClient(server.port)
      try {
        subAll.handshake();   subAll.send(NatsWire.sub("cdc.>", 1L));       subAll.flush()
        subClick.handshake(); subClick.send(NatsWire.sub("cdc.click.>", 2L)); subClick.flush()
        subU1.handshake();    subU1.send(NatsWire.sub("cdc.*.1", 3L));      subU1.flush()
        qw1.handshake(); qw1.send(NatsWire.sub("cdc.>", 10L, queue = Some("workers"))); qw1.flush()
        qw2.handshake(); qw2.send(NatsWire.sub("cdc.>", 11L, queue = Some("workers"))); qw2.flush()

        // 8 publisher connections publishing disjoint shards IN PARALLEL —
        // a start latch maximizes frame interleaving at the server; each
        // publisher's closing flush() proves its PUBs were all processed
        val nPub = 8
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nPub)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val start = new java.util.concurrent.CountDownLatch(1)
        val futures = (0 until nPub).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                val c = new RawClient(server.port)
                try {
                  c.handshake()
                  start.await()
                  channels.zipWithIndex.collect { case (ch, j) if j % nPub == i => ch }
                    .foreach { ch =>
                      c.send(NatsWire.pub(ch.replace('/', '.'), ch.getBytes(US_ASCII)))
                    }
                  c.flush()
                } finally c.close()
              } catch { case t: Throwable => errs.add(t) }
          })
        }
        start.countDown()
        futures.foreach(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
        pool.shutdown()
        assert(errs.isEmpty, s"publisher failures: ${errs.toArray.mkString("; ")}")

        def drain(c: RawClient): Map[Long, Long] = {
          c.send(ping)
          val got = scala.collection.mutable.ArrayBuffer.empty[Msg]
          var op = c.next()
          while (op != Pong) { op match { case m: Msg => got += m; case _ => () }; op = c.next() }
          got.groupBy(_.sid).view.mapValues(_.length.toLong).toMap
        }
        // no frame lost, duplicated, or corrupted across 13 concurrent
        // sockets: per-subscription totals equal the batch dispatch
        assert(drain(subAll).getOrElse(1L, 0L) === want("cdc/#"))
        assert(drain(subClick).getOrElse(2L, 0L) === want("cdc/click/#"))
        assert(drain(subU1).getOrElse(3L, 0L) === want("cdc/+/1"))
        val q1 = drain(qw1).getOrElse(10L, 0L)
        val q2 = drain(qw2).getOrElse(11L, 0L)
        assert(q1 + q2 === want("cdc/#"), "queue group total = per-pattern count")
        assert(q1 > 0 && q2 > 0, "concurrent load must spread across the group")
      } finally Seq(subAll, subClick, subU1, qw1, qw2).foreach(_.close())
    } finally server.close()
  }

  test("Graft.live: the reference's connect-by-url over the short-name source") {
    val server = new NatsServer()
    try {
      // new NATS({url}) → a streaming Bus on the live transport; the url
      // lands in the dial-target property the default broker reads
      val bus = graft.cdc.Graft.live(spark, server.target)
      val probe = new TcpBroker
      probe.flush() // subscription live before any publish (at-most-once)

      val pub1 = new RawClient(server.port)
      try {
        pub1.handshake()
        val types = Seq("click", "error", "view")
        (1L to 30L).foreach { i =>
          val env = CdcProto.CdcMsg("live-pub", s"cdc/${types((i % 3).toInt)}/u$i",
            "json", "http", "", 0, false, Array(i.toByte))
          pub1.send(NatsWire.pub("cdc.client", CdcProto.encode(env)))
        }
        pub1.flush()
      } finally pub1.close()
      val deadline = System.nanoTime() + 30000000000L
      while (probe.latestSeq() < 30 && System.nanoTime() < deadline) Thread.sleep(2)

      // subscribe() on the LIVE bus is a streaming view; errors land in
      // every third frame (i % 3 == 1)
      // wave 1 → the streaming complete-mode counters (reference per-sub
      // received) consume the live TCP bus
      val q1 = graft.stream.Streams
        .subCounters(bus.frame, Seq("cdc/error/#", "cdc/#"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("live_counts").start()
      try q1.processAllAvailable() finally q1.stop()
      val counts = spark.table("live_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map("cdc/error/#" -> 10L, "cdc/#" -> 30L))

      // Wave 1 is consumed; trim it. The running query's own commit does
      // this too (NatsMicroBatchStream.commit → broker.commit), but the
      // FINAL batch's commit races with stop(), so the spec pins the trim
      // explicitly — after it, a second consumer cannot replay consumed
      // frames (core NATS at-most-once, faithful to the reference's
      // transport). A second wave then feeds the subscribe view.
      probe.commit(30L)
      val pub2 = new RawClient(server.port)
      try {
        pub2.handshake()
        val types = Seq("click", "error", "view")
        (31L to 60L).foreach { i =>
          val env = CdcProto.CdcMsg("live-pub", s"cdc/${types((i % 3).toInt)}/u$i",
            "json", "http", "", 0, false, Array(i.toByte))
          pub2.send(NatsWire.pub("cdc.client", CdcProto.encode(env)))
        }
        pub2.flush()
      } finally pub2.close()
      val d2 = System.nanoTime() + 30000000000L
      while (probe.latestSeq() < 60 && System.nanoTime() < d2) Thread.sleep(2)

      val q2 = bus.subscribe("cdc/error/#")
        .writeStream.format("memory").queryName("live_errs").start()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.table("live_errs").count() ===
        (31L to 60L).count(_ % 3 == 1).toLong)
    } finally { server.close(); sys.props.remove(TcpBroker.TargetProperty) }
  }
}
