package perfbench

import java.io.{BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{MqttPattern, MqttTrie}
import graft.functions.GraftFunctions.mqtt_dispatch
import graft.nats.{CdcProto, NatsServer, NatsWire, TcpBroker, TextProtocolBroker}
import graft.stream.Streams

/** The reference's own job over real loopback TCP: a generator publishes
  * CDC frames to the embedded [[NatsServer]]; `Graft.live` reads them back
  * through the NATS micro-batch source (TcpBroker, protobuf decode), the
  * engine's redelivery gate (`Streams.dedupStream`, RocksDB state) passes
  * each frame once, `mqtt_dispatch` routes it over 600 subscriptions, and a
  * sink counts per-subscription hits and stamps each frame's completion.
  *
  * Phase 1 publishes open-loop at a fixed rate and times each frame from
  * when it was due; phase 2 publishes a burst as fast as the socket takes
  * it and times its drain. */
object BusLive {
  val Subject = "cdc.client"
  val Types: Seq[String] = Seq("click", "view", "error", "signup", "purchase")
  val Users = 1500
  val WarmFrames = 3000
  val SetupRounds = 5
  val Bursts = 6
  /** Event-time horizon of the redelivery gate's state. */
  val DedupWatermark = "5 seconds"
  /** Frames per burst, and the rate phase's frames per second. */
  val BurstFrames = 200000
  val Rate = 500
  /** Trigger interval of the rate phase's stream. */
  val RateTriggerMs = 1000L
  /** Leading seconds of phase 1 whose latencies are not reported. */
  val RampSeconds = 2

  /** 600 subscriptions: exact, single-level `+` and multi-level `#`. */
  val patterns: Seq[String] =
    Seq("cdc/#", "cdc/click/#", "cdc/error/#", "cdc/nosuch/#", "cdc/+/1") ++
      (0 until 250).map(u => s"cdc/+/$u") ++
      Types.flatMap(t => (0 until 60).map(u => s"cdc/$t/$u")) ++
      Types.map(t => s"+/$t/#") ++ Types.map(t => s"cdc/$t/+") ++
      (250 until 285).map(u => s"cdc/+/$u/#")

  /** Frame channels: uniform event type, Zipf(1.1)-skewed user. */
  def channels(seed: Long, n: Int): Array[String] = {
    val rnd = new scala.util.Random(seed)
    val w = (1 to Users).map(r => 1.0 / math.pow(r, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    Array.fill(n) {
      val t = Types(rnd.nextInt(Types.size))
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"cdc/$t/${if (i >= 0) i else math.min(-i - 1, Users - 1)}"
    }
  }

  /** The CDC envelope: payload = frame id and creation stamp, 8 bytes each. */
  def envelope(ch: String, id: Long, stampNs: Long): CdcProto.CdcMsg =
    CdcProto.CdcMsg("perfbench", ch, "application/octet-stream", "nats", "", 0, false,
      ByteBuffer.allocate(16).putLong(id).putLong(stampNs).array())

  /** One generator connection: publishes pre-encoded PUB frames, patching
    * each frame's creation stamp (the payload's last 8 bytes) at send. */
  final class Generator(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    private val in: InputStream = sock.getInputStream
    val blockedNs = new AtomicLong(0L)
    out.write(NatsWire.connect("""{"verbose":false,"pedantic":false,"name":"perfbench-gen"}"""))
    flush()

    def write(pub: Array[Byte], stampNs: Long, flushNow: Boolean): Unit = {
      ByteBuffer.wrap(pub).putLong(pub.length - 10, stampNs)
      val t0 = System.nanoTime()
      out.write(pub)
      if (flushNow) out.flush()
      blockedNs.addAndGet(System.nanoTime() - t0)
    }

    /** PING and wait for its PONG: the server has handled every PUB before. */
    def flush(): Unit = {
      out.write(NatsWire.ping); out.flush()
      val pong = "PONG\r\n".getBytes("US-ASCII")
      var matched = 0
      while (matched < pong.length) {
        val b = in.read()
        if (b < 0) throw new java.io.EOFException("NATS server closed the generator connection")
        matched = if (b == pong(matched)) matched + 1 else if (b == pong(0)) 1 else 0
      }
    }

    def close(): Unit = { flush(); sock.close() }
  }

  /** Per-frame sink state, written only by the running stream's batch
    * thread. Ids below `warm` are warm-up frames, republished by every
    * stream, and only counted. */
  final class Sink(n: Int, warm: Int, nPatterns: Int, dropId: Long) {
    val doneNs = new Array[Long](n)
    val hits = new Array[Array[Int]](n)
    val counts = new Array[Long](nPatterns)
    val dups = new AtomicLong(0L)
    val sunk = new AtomicLong(0L)
    val warmSunk = new AtomicLong(0L)
    val batchRows = new java.util.concurrent.ConcurrentLinkedQueue[Int]

    val fn: VoidFunction2[Dataset[Row], java.lang.Long] = (df: Dataset[Row], _: java.lang.Long) => {
      val rows = df.collect()
      val done = System.nanoTime()
      rows.foreach { r =>
        val id = ByteBuffer.wrap(r.getAs[Array[Byte]](0)).getLong(0).toInt
        if (id < warm) warmSunk.incrementAndGet()
        else if (id != dropId) {
          if (doneNs(id) != 0L) dups.incrementAndGet()
          else {
            val hs = r.getSeq[Int](1).toArray
            hits(id) = hs
            hs.foreach(i => counts(i) += 1)
            doneNs(id) = done
            sunk.incrementAndGet()
          }
        }
      }
      batchRows.add(rows.length)
    }
  }

  /** One live bus: an embedded server, the `Graft.live` stream into the
    * sink under `trigger`, and the generator's connection. */
  final class Live(ctx: Ctx, sink: Sink, trigger: Trigger) {
    val server = new NatsServer()
    private val bus = graft.cdc.Graft.live(ctx.spark, server.target)
    // the subscription is live server-side before the first PUB
    new TcpBroker().flush()
    // the engine's redelivery gate (state store) ahead of the routing
    val query: StreamingQuery = Streams.dedupStream(bus.frame.withColumn("event_id", col("seq")),
        DedupWatermark)
      .select(col("payload"), mqtt_dispatch(col("channel"), patterns).as("hits"))
      .writeStream.trigger(trigger).foreachBatch(sink.fn).start()
    val gen = new Generator(server.port)

    def await(counter: AtomicLong, count: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (counter.get() < count && System.currentTimeMillis() < deadline) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(1)
      }
      counter.get() >= count
    }

    /** Publish the warm-up frames and wait until they are sunk. */
    def warm(pubs: Array[Array[Byte]]): Unit = {
      val base = sink.warmSunk.get()
      (0 until WarmFrames).foreach(i => gen.write(pubs(i), System.nanoTime(), flushNow = false))
      gen.flush()
      require(await(sink.warmSunk, base + WarmFrames, 60000L),
        s"warm frames not delivered: ${sink.warmSunk.get() - base} of $WarmFrames")
    }

    /** Stop the stream, drop the broker session and the server. */
    def close(): Unit = {
      try gen.close() catch { case _: java.io.IOException => () }
      query.stop()
      TextProtocolBroker.dropSession(classOf[TcpBroker], Subject, server.target)
      server.close()
    }
  }

  def run(ctx: Ctx): Outcome = {
    val c = ctx.conf
    val nb = Bursts * BurstFrames
    val n1 = Rate * (RampSeconds + math.max(1, c.seconds * 8 / 10))
    val p1 = WarmFrames + nb // first rate-phase id
    val n = p1 + n1
    val ch = channels(c.seed, n)
    val pubs = Array.tabulate(n)(i =>
      NatsWire.pub(Subject, CdcProto.encode(envelope(ch(i), i.toLong, 0L))))
    val dropId = if (c.inject.contains("drop_frame")) (p1 + n1 / 2).toLong else -1L
    def expected(from: Int, until: Int): Long =
      until - from - (if (dropId >= from && dropId < until) 1 else 0)
    val sink = new Sink(n, WarmFrames, patterns.size, dropId)
    // the state store the engine's graded streaming gates run on
    ctx.spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val progress = if (c.trace) {
      val l = new ProgressLog; ctx.spark.streams.addListener(l); Some(l)
    } else None

    // set-up, repeated: server + stream + subscription + warm frames;
    // every round but the last is torn down with its broker session
    val rounds = mutable.ArrayBuffer.empty[Double]
    var live: Live = null
    (1 to SetupRounds).foreach { _ =>
      val r0 = System.nanoTime()
      if (live != null) live.close()
      live = new Live(ctx, sink, Trigger.ProcessingTime(0L))
      live.warm(pubs)
      rounds += (System.nanoTime() - r0) / 1e9
    }
    val setupS = (ctx.epochNs - ctx.jvmStartNs) / 1e9 + Stats.median(rounds.toSeq)
    ctx.armTracing()
    val t0 = System.nanoTime()

    // burst phase: backlog bursts, each published as fast as the socket
    // accepts it and drained before the next; micro-batches run back to back
    val drains = (0 until Bursts).map { b =>
      val from = WarmFrames + b * BurstFrames
      val b0 = System.nanoTime()
      (from until from + BurstFrames).foreach(i => live.gen.write(pubs(i), System.nanoTime(), flushNow = false))
      live.gen.flush()
      if (c.trace) ctx.tracer.add(Span(ctx.tracer.newId(), 0L, 0L, "publish/burst", b0, System.nanoTime()))
      val ok = live.await(sink.sunk, expected(WarmFrames, from + BurstFrames), 60000L)
      (ok, b0, (from until from + BurstFrames).map(sink.doneNs(_)).max)
    }
    val pubBlockedNs = live.gen.blockedNs.get()
    live.close()

    // rate phase: open loop at a fixed rate, each frame due at r0 + j/rate,
    // on a stream triggered every RateTriggerMs
    live = new Live(ctx, sink, Trigger.ProcessingTime(RateTriggerMs))
    live.warm(pubs)
    val periodNs = 1000000000L / Rate
    val lateNs = new Array[Long](n1)
    val backlog = mutable.ArrayBuffer.empty[Long]
    val r0 = System.nanoTime() + 20000000L
    def due(j: Int): Long = r0 + j * periodNs
    var pubSpan0 = r0
    (0 until n1).foreach { j =>
      val d = due(j)
      var now = System.nanoTime()
      while (now < d) { LockSupport.parkNanos(d - now); now = System.nanoTime() }
      live.gen.write(pubs(p1 + j), now, flushNow = true)
      lateNs(j) = now - d
      if (j % math.max(1, Rate / 10) == 0) backlog += expected(WarmFrames, p1 + j) - sink.sunk.get()
      if (c.trace && (j + 1) % 100 == 0) {
        val e = System.nanoTime()
        val op = ctx.tracer.newId()
        ctx.tracer.add(Span(op, 0L, op, "publish", pubSpan0, e))
        pubSpan0 = e
      }
    }
    val rateOk = live.await(sink.sunk, expected(WarmFrames, n), 30000L)
    val t2 = System.nanoTime()
    val pubBlockedMs = (pubBlockedNs + live.gen.blockedNs.get()) / 1e6
    live.close()
    progress.foreach(_.settle(10000L))

    // correctness, outside the timed window: every timed frame sunk once,
    // routed to exactly the subscriptions an independent scan finds (the
    // scan runs once per distinct channel)
    val matchers = patterns.toArray
    val scan = mutable.Map.empty[String, Array[Int]]
    val errors = mutable.ArrayBuffer.empty[String]
    var lost = 0L
    var wrong = 0L
    val expectCounts = new Array[Long](matchers.length)
    (WarmFrames until n).foreach { i =>
      val expect = scan.getOrElseUpdate(ch(i),
        matchers.indices.filter(k => MqttPattern.matches(matchers(k), ch(i))).toArray)
      expect.foreach(k => expectCounts(k) += 1)
      if (sink.doneNs(i) == 0L) lost += 1
      else if (!java.util.Arrays.equals(sink.hits(i).sorted, expect)) wrong += 1
    }
    val dups = sink.dups.get()
    val badCounters = matchers.indices.count(k => expectCounts(k) != sink.counts(k))
    if (lost > 0) errors += s"$lost frames lost"
    if (dups > 0) errors += s"$dups frames delivered twice"
    if (wrong > 0) errors += s"$wrong frames routed to the wrong subscriptions"
    if (badCounters > 0) errors += s"$badCounters subscription counters differ from the scan"

    // rate-phase latency from each frame's due time, per one-second window
    // after the ramp; the run reports the median window, so one stalled
    // second moves it no more than any other
    val windows = (0 until n1).grouped(Rate).drop(RampSeconds)
      .map(_.filter(j => sink.doneNs(p1 + j) != 0L)
      .map(j => (sink.doneNs(p1 + j) - due(j)) / 1e6)).filter(_.nonEmpty).toSeq
    val late = lateNs.map(_ / 1e6).toSeq
    // backlog samples after the ramp, halves compared: growth by more than
    // one trigger's worth of frames means the rate is not sustainable
    val settled = backlog.drop(RampSeconds * 10)
    val (early, lateHalf) = settled.splitAt(settled.size / 2)
    val growth = if (early.isEmpty || lateHalf.isEmpty) 0L else lateHalf.max - early.max
    val invalid =
      if (Stats.quantile(late, 0.99) > 50.0)
        Some(f"generator ran late: p99 ${Stats.quantile(late, 0.99)}%.1f ms past due")
      else if (growth > Rate * RateTriggerMs / 1000)
        Some(s"backlog grew by $growth frames at the fixed rate")
      else if (!rateOk || drains.exists(!_._1)) Some("frames still undelivered at the deadline")
      else None

    // the first burst also warms the server's and parser's hot paths; the
    // run reports the fastest of the others, since interference from
    // outside the benchmark only ever slows a drain
    val drainS = drains.drop(1).map { case (_, b0, b1) => (b1 - b0) / 1e9 }.min
    val p50 = Stats.median(windows.map(Stats.median))
    val metrics = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> p50,
      "op_tail_ms" -> Stats.quantile(windows.flatten, 0.99),
      "pass_s" -> drainS)

    val layers = if (!c.trace) Map.empty[String, Double] else {
      val batches = progress.get.between(t0, t2)
      // micro-batch spans from the progress reports: each batch ends when
      // its report is posted and lasts its triggerExecution time
      val opSpans = batches.map { b =>
        val op = ctx.tracer.newId()
        val s = Span(op, 0L, op, "micro-batch", b.atNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L, b.atNs)
        ctx.tracer.add(s); s
      }
      val hitsPerFrame = Stats.mean((WarmFrames until n).filter(sink.hits(_) != null)
        .map(i => sink.hits(i).length.toDouble))
      ctx.sparkLayers(opSpans, t0, t2) ++ ctx.selfLayers(opSpans.size) ++
        progress.get.layerMetrics(batches) ++ replay(ch.slice(WarmFrames, WarmFrames + 50000)) ++ Map(
        "nats.pub_blocked_ms" -> pubBlockedMs,
        "nats.backlog_frames_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "nats.frames_per_batch" -> Stats.mean(sink.batchRows.asScala.map(_.toDouble)),
        "nats.lost_frames" -> lost.toDouble,
        "nats.dup_frames" -> dups.toDouble,
        "bus.gen_late_ms" -> Stats.quantile(late, 0.99),
        "cdc.hits_per_frame" -> hitsPerFrame / patterns.size,
        "trace.pass_s" -> drainS,
        "trace.op_p50_ms" -> p50)
    }
    Outcome(n - WarmFrames, lost + dups + wrong + badCounters, errors.toSeq, metrics, layers,
      invalid = invalid)
  }

  /** Per-frame layer costs, timed by replaying the run's own frames through
    * the wire encoder and parser, the envelope decoder and both routers. */
  def replay(ch: Array[String]): Map[String, Double] = {
    val msgs = ch.indices.map(i => envelope(ch(i), i.toLong, i.toLong))
    def nsPer(k: Int)(body: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / k
    })
    var encoded: IndexedSeq[Array[Byte]] = null
    val encode = nsPer(msgs.size) { encoded = msgs.map(CdcProto.encode) }
    val wire = new java.io.ByteArrayOutputStream()
    encoded.foreach(b => wire.write(NatsWire.msg(Subject, 1L, b)))
    val chunks = wire.toByteArray.grouped(1 << 16).toSeq
    var parsed = 0
    val parse = nsPer(encoded.size) {
      val p = new NatsWire.Parser
      parsed = chunks.map(p.feed(_).size).sum
    }
    require(parsed == encoded.size, s"parser returned $parsed of ${encoded.size} frames")
    val decode = nsPer(encoded.size)(encoded.foreach(CdcProto.decodeToRow))
    val build = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); MqttTrie(patterns); (System.nanoTime() - t0) / 1e6
    })
    // both routers at 5, 150 and all 600 subscriptions: the trie walk
    // against the reference's per-message loop over every pattern
    val sample = ch.take(5000)
    val routers = Seq(5, 150, patterns.size).flatMap { k =>
      val trie = MqttTrie(patterns.take(k))
      val pats = patterns.take(k).toArray
      val sfx = if (k == patterns.size) "" else s".k$k"
      Seq(s"cdc.dispatch_ns_per_frame$sfx" -> nsPer(ch.length)(ch.foreach(trie.dispatch)),
        s"cdc.linear_dispatch_ns_per_frame$sfx" ->
          nsPer(sample.length)(sample.foreach(t => pats.count(MqttPattern.matches(_, t)))))
    }
    Map("nats.encode_ns_per_frame" -> encode, "nats.parse_ns_per_frame" -> parse,
      "nats.decode_ns_per_frame" -> decode, "cdc.trie_build_ms" -> build) ++ routers
  }
}
