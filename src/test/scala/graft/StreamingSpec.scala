package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.Streams
import graft.stream.Streams.BusEvent

/** Structured-Streaming semantics the DuckDB oracle cannot grade:
  * windowed aggregation under a watermark, late-data drop, and the
  * stateful take(n) gate (FIXTURES.md §B.5). */
class StreamingSpec extends AnyFunSuite with SharedSession with BeforeAndAfterAll {

  /** Unload every loaded state-store provider and stop the maintenance
    * thread before the suite exits: the RocksDB provider's native
    * statistics object is otherwise closed by JVM shutdown concurrently
    * with a still-running maintenance tick (observed SIGSEGV in
    * rocksdb::StatisticsImpl::getTickerCountLocked). */
  override def afterAll(): Unit = {
    StateStore.stop()
    super.afterAll()
  }

  private def ts(min: Int): Timestamp = new Timestamp(1704067200000L + min * 60000L) // 2024-01-01 UTC

  private def ev(id: Long, min: Int, user: Long, typ: String): BusEvent =
    BusEvent(id, ts(min), user, typ, 1.0, "{}")

  /** Scope the RocksDB state store provider (required by
    * transformWithState) to `body`, restoring the prior provider after —
    * the rest of the suite (and later suites sharing the JVM-wide
    * session) stays on the default provider. */
  private def withRocksDbProvider[A](body: => A): A =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  test("tumbling window counts on a bounded stream match batch semantics") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[BusEvent]
    in.addData(ev(1, 0, 1, "click"), ev(2, 1, 1, "click"), ev(3, 6, 2, "error"),
               ev(4, 7, 1, "click"), ev(5, 40, 2, "view"))
    val q = Streams.tumblingCounts(Streams.withChannel(in.toDF()))
      .writeStream.outputMode("complete").format("memory").queryName("tumbling").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumbling")
      .select(col("w_start"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got === Set(
      (ts(0), "click", 2L), (ts(5), "error", 1L), (ts(5), "click", 1L), (ts(40), "view", 1L)))
  }

  test("watermark drops late rows in append mode") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[BusEvent]
    val q = Streams.tumblingCounts(Streams.withChannel(in.toDF()), "5 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    in.addData(ev(1, 0, 1, "click"), ev(2, 3, 1, "click"))
    q.processAllAvailable()
    in.addData(ev(3, 60, 1, "view")) // advances watermark to min 50, closes window [0,5)
    q.processAllAvailable()
    in.addData(ev(4, 1, 1, "click")) // late beyond watermark -> dropped
    q.processAllAvailable()
    in.addData(ev(5, 120, 1, "view")) // close everything still open
    q.processAllAvailable(); q.stop()
    val got = spark.table("late").select(col("w_start"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    // the [0,5) click window must have count 2 — the late 4th row was dropped
    assert(got.contains((ts(0), "click", 2L)))
    assert(!got.contains((ts(0), "click", 3L)))
  }

  test("session_window groups events separated by < gap") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[BusEvent]
    in.addData(ev(1, 0, 7, "click"), ev(2, 10, 7, "click"), // session 1 (gap 30m)
               ev(3, 60, 7, "click"),                        // session 2
               ev(4, 0, 8, "view"))                          // other user
    val q = Streams.sessionCounts(Streams.withChannel(in.toDF()))
      .writeStream.outputMode("complete").format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions")
      .select(col("user_id"), col("n")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got === Map(7L -> Seq(1L, 2L), 8L -> Seq(1L)))
  }

  test("stateful take(n) delivers exactly max matches then auto-unsubscribes") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[(String, BusEvent)]
      val q = Streams.takeNPerKey(in.toDS(), max = 3)
        .writeStream.outputMode("append").format("memory").queryName("taken").start()
      try {
        in.addData(("s1", ev(1, 0, 1, "click")), ("s1", ev(2, 1, 1, "click")))
        q.processAllAvailable()
        in.addData(("s1", ev(3, 2, 1, "click")), ("s1", ev(4, 3, 1, "click")),
                   ("s2", ev(5, 4, 2, "view")))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("taken").as[Streams.Delivery].collect()
    // s1 saw 4 matching messages but max=3 -> exactly 3 delivered (the first 3)
    assert(got.filter(_.sub == "s1").map(_.event_id).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(got.filter(_.sub == "s2").map(_.event_id).toSeq === Seq(5L))
  }

  test("streaming SCD2 closes versions as events arrive; parity with batch intervals") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[(String, BusEvent)]
      val q = Streams.scd2Stream(in.toDS())
        .writeStream.outputMode("append").format("memory").queryName("scd2s").start()
      try {
        // channel c1: three versions across two batches; c2: one (stays open)
        in.addData(("c1", ev(1, 0, 1, "click")), ("c1", ev(2, 5, 1, "click")),
                   ("c2", ev(3, 1, 2, "view")))
        q.processAllAvailable()
        in.addData(("c1", ev(4, 9, 1, "click")))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("scd2s").as[Streams.VersionRow].collect()
      .sortBy(v => (v.channel, v.valid_from.getTime))
    // exactly the CLOSED intervals: (1: 0->5) and (2: 5->9); c2 never closes
    assert(got.map(v => (v.channel, v.event_id, v.valid_from, v.valid_to)).toSeq ===
      Seq(("c1", 1L, ts(0), ts(5)), ("c1", 2L, ts(5), ts(9))))
    // batch parity: the window-lead form over the same rows yields the
    // same closed intervals (its null-valid_to rows are the open state)
    val batch = Seq(("c1", ev(1, 0, 1, "click")), ("c1", ev(2, 5, 1, "click")),
                    ("c2", ev(3, 1, 2, "view")), ("c1", ev(4, 9, 1, "click")))
      .toDF("channel", "e").select(col("channel"), col("e.*"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel")).orderBy(col("ts"), col("event_id"))
    val closed = batch.withColumn("valid_to", lead(col("ts"), 1).over(w))
      .filter(col("valid_to").isNotNull)
      .select(col("channel"), col("event_id"), col("ts"), col("valid_to"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
      .sortBy(v => (v._1, v._3.getTime)).toSeq
    assert(got.map(v => (v.channel, v.event_id, v.valid_from, v.valid_to)).toSeq === closed)
  }

  test("streaming seq-gap audit reports a hole when the message after it arrives") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[(String, Long)]
      val q = Streams.seqGapStream(in.toDS())
        .writeStream.outputMode("append").format("memory").queryName("gaps").start()
      try {
        // click: 1,2,5 (hole 3-4); view: 10 (nothing to compare yet)
        in.addData(("click", 1L), ("click", 2L), ("click", 5L), ("view", 10L))
        q.processAllAvailable()
        // across batches: click 6 is contiguous with held 5; a REDELIVERY
        // of click 2 must not regress the high-water mark (no false gap
        // on the next arrival); view 13 gaps 11-12
        in.addData(("click", 2L), ("click", 6L), ("view", 13L))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("gaps").as[Streams.SeqGap].collect()
      .sortBy(g => (g.event_type, g.next_seq))
    assert(got.map(g => (g.event_type, g.prev_seq, g.next_seq, g.missing)).toSeq ===
      Seq(("click", 2L, 5L, 2L), ("view", 10L, 13L, 2L)))
  }

  test("streaming RPC: first response wins; unanswered request times out 408 via event-time timer") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[Streams.RpcMsg]
      val q = Streams.rpcStream(in.toDS(), timeoutMs = 10000L)
        .writeStream.outputMode("append").format("memory").queryName("rpc").start()
      try {
        // req 1 and 2 at t=0; two responses for 1 (first at 5s wins, by
        // (ts, event_id) order); nothing for 2 — its deadline is t=10s
        in.addData(
          Streams.RpcMsg(1L, "req", ts(0), 100L, "ping"),
          Streams.RpcMsg(2L, "req", ts(0), 101L, "ping"),
          Streams.RpcMsg(1L, "res", ts(5), 200L, "pong-fast"),
          Streams.RpcMsg(1L, "res", ts(7), 201L, "pong-slow"))
        q.processAllAvailable()
        // advance event time past req 2's deadline (watermark moves at the
        // END of this batch; the timer fires in the NEXT one)
        in.addData(Streams.RpcMsg(3L, "req", ts(60), 102L, "ping"))
        q.processAllAvailable()
        in.addData(Streams.RpcMsg(4L, "req", ts(61), 103L, "ping"))
        q.processAllAvailable()
        // a response arriving AFTER the timeout is dropped (unsubscribed;
        // post-cleanup state is gone, the no-deadline guard drops it)
        in.addData(Streams.RpcMsg(2L, "res", ts(62), 300L, "too-late"))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("rpc").as[Streams.RpcOutcome].collect()
    // req 1: exactly ONE outcome — the earlier response; the 7-min one lost
    assert(got.filter(_.req_id == 1L).map(o => (o.code, o.event_id, o.payload)).toSeq ===
      Seq((200L, 200L, "pong-fast")))
    // req 2: exactly ONE outcome — the 408 sentinel; the t=62 response
    // arrived after the timeout and was dropped (unsubscribed)
    assert(got.filter(_.req_id == 2L).map(o => (o.code, o.event_id, o.payload)).toSeq ===
      Seq((408L, -1L, "request time out")))
    // the watermark-advance scaffolding requests only ever time out
    assert(got.filter(o => o.req_id > 2L && o.code != 408L).isEmpty)
  }

  test("asOfStream: stream-stream as-of — probes emit at the watermark with " +
       "the latest click ≤ ts; exact ties match; same-instant dups collapse " +
       "to max id; tail probes stay buffered") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[(String, Long, Long, Timestamp)]
      // a micro-precision instant: 10 min + 800 µs
      val tMicro = { val t = new Timestamp(ts(10).getTime); t.setNanos(800000); t }
      val q = Streams.asOfStream(
          in.toDS().toDF("side", "user_id", "event_id", "ts"))
        .writeStream.outputMode("append").format("memory")
        .queryName("asof_ss").start()
      try {
        // batch 1 — history before/at the probe; wm ends at t=5
        in.addData(
          ("c", 1L, 10L, ts(0)), ("c", 1L, 11L, ts(0)), // same-instant dup
          ("p", 1L, 101L, ts(2)),                       // sees only the t=0 pair
          ("p", 1L, 100L, ts(5)),
          ("c", 1L, 12L, ts(5)),                        // exact tie: must win
          ("c", 2L, 20L, ts(1)))
        q.processAllAvailable()
        // batch 2 — more probes; u1's probe still pends (wm=5 < its timer);
        // the t=6 click must NOT match the t=5 probe (backward only)
        in.addData(
          ("p", 2L, 200L, ts(20)),
          ("p", 3L, 300L, ts(10)),                      // no history at all
          ("p", 4L, 400L, tMicro),
          ("c", 4L, 40L, tMicro),                       // µs-precision tie
          ("c", 1L, 13L, ts(6)))
        q.processAllAvailable()
        // batch 3 — wm jumps to 60: every earlier probe's timer fires
        in.addData(("c", 2L, 21L, ts(60)))
        q.processAllAvailable()
        // batch 4 — a probe AT the final watermark instant: stays buffered
        in.addData(("p", 2L, 201L, ts(60)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("asof_ss").as[Streams.AsOfHit].collect()
      .map(h => h.event_id -> h).toMap
    assert(got.keySet === Set(100L, 101L, 200L, 300L, 400L)) // 201 still pending
    assert(got(101L).last_click_id === Some(11L)) // same-instant dup → max id
    assert(got(100L).last_click_id === Some(12L)) // exact tie beats t=0; t=6 ignored
    assert(got(100L).last_click_us === Some(ts(5).getTime * 1000L))
    assert(got(200L).last_click_id === Some(20L)) // t=60 click is after the probe
    assert(got(300L).last_click_id === None)      // LEFT-outer miss
    assert(got(400L).last_click_id === Some(40L)) // µs-precision exact tie
    assert(got(400L).purchase_us === ts(10).getTime * 1000L + 800L)
  }

  test("asOfStream recovers pending probes and history from a checkpoint; a " +
       "redelivered watermark-legal probe emits exactly once") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val dir = java.nio.file.Files.createTempDirectory("asof_restart").toString
      val in = MemoryStream[(String, Long, Long, Timestamp)]
      def start() = Streams.asOfStream(
          in.toDS().toDF("side", "user_id", "event_id", "ts")).writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.AsOfHit], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        // history + a probe that must still PEND at shutdown (wm == its ts)
        in.addData(("c", 1L, 10L, ts(0)), ("p", 1L, 100L, ts(5)))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // the probe redelivered (ts 5 ≥ wm 5 — watermark-legal), a second
        // probe that can only match the RECOVERED t=0 history row, and a
        // click advancing the watermark over both
        in.addData(("p", 1L, 100L, ts(5)), ("p", 1L, 101L, ts(20)),
                   ("c", 1L, 11L, ts(60)))
        q2.processAllAvailable()
        // fire the remaining timers once the watermark reaches t=60
        in.addData(("c", 2L, 12L, ts(90)))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.AsOfHit].collect()
      assert(got.length === 2, s"exactly one row per probe, got ${got.toSeq}")
      val byId = got.map(h => h.event_id -> h).toMap
      // both matched the pre-restart t=0 click — rights state recovered
      assert(byId(100L).last_click_id === Some(10L))
      assert(byId(101L).last_click_id === Some(10L))
    }
  }

  test("scd2Stream state survives a stop/restart from its checkpoint") {
    // the recovery contract a production capture relies on: the OPEN
    // version held in RocksDB state must be restored when the query
    // restarts from its checkpoint, so the first post-restart event
    // still closes the pre-restart version — no hole, no duplicate
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val dir = java.nio.file.Files.createTempDirectory("scd2_restart").toString
      val in = MemoryStream[(String, Streams.BusEvent)]
      def start() = Streams.scd2Stream(in.toDS()).writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.VersionRow], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        in.addData(("c1", ev(1, 0, 1, "click")), ("c2", ev(2, 1, 2, "view")))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // closes c1's pre-restart open version; c2 stays open throughout
        in.addData(("c1", ev(3, 5, 1, "click")))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.VersionRow].collect()
        .map(v => (v.channel, v.event_id, v.valid_from, v.valid_to)).sorted.toSeq
      assert(got === Seq(("c1", 1L, ts(0), ts(5))),
        "the pre-restart open version must close exactly once after recovery")
    }
  }

  test("streaming RPC at zero lateness: a req_id reused with ts >= its deadline " +
       "in the batch right after cleanup starts a new conversation") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[Streams.RpcMsg]
      val q = Streams.rpcStream(in.toDS(), timeoutMs = 10000L,
          watermarkDelay = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName("rpc_reuse").start()
      def outcomes(id: Long): Seq[(Long, Long, String)] =
        spark.table("rpc_reuse").as[Streams.RpcOutcome].collect()
          .filter(_.req_id == id).map(o => (o.code, o.event_id, o.payload)).toSeq.sorted
      try {
        in.addData(Streams.RpcMsg(5L, "req", ts(0), 100L, "ping"))
        q.processAllAvailable()
        // the watermark passes req 5's deadline (t=10s) at the end of this
        // batch; the no-data batch that follows fires its cleanup timer
        in.addData(Streams.RpcMsg(6L, "req", ts(1), 101L, "scaffold"))
        q.processAllAvailable()
        assert(outcomes(5L) === Seq((408L, -1L, "request time out")),
          "premise: req 5 timed out and its state was cleaned up")
        // the very next batch reuses req_id 5 past its old deadline
        in.addData(
          Streams.RpcMsg(5L, "req", ts(2), 102L, "ping-again"),
          Streams.RpcMsg(5L, "res", ts(2), 103L, "pong-again"))
        q.processAllAvailable()
      } finally q.stop()
      assert(outcomes(5L) === Seq((200L, 103L, "pong-again"), (408L, -1L, "request time out")),
        "the reused req_id must resolve as a second conversation")
    }
  }

  test("rpcStream recovers from a checkpoint: the armed timer fires exactly once, the tombstone survives") {
    // the production recovery contract for the RPC gate: a request whose
    // deadline timer was armed BEFORE the crash must still 408 exactly
    // once after restart (RocksDB restores the timer), and the
    // tombstone written by that 408 must keep dropping watermark-legal
    // redeliveries across ANOTHER restart — no hole, no duplicate
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val dir = java.nio.file.Files.createTempDirectory("rpc_restart").toString
      val in = MemoryStream[Streams.RpcMsg]
      def start() = Streams.rpcStream(in.toDS(), timeoutMs = 10000L,
          watermarkDelay = "30 minutes")
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.RpcOutcome], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        in.addData(Streams.RpcMsg(7L, "req", ts(0), 100L, "ping"))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // watermark passes req 7's recovered deadline -> its restored
        // timer fires the 408 in this incarnation
        in.addData(Streams.RpcMsg(8L, "req", ts(41), 101L, "scaffold"))
        q2.processAllAvailable()
        in.addData(Streams.RpcMsg(8L, "res", ts(42), 102L, "pong"))
        q2.processAllAvailable()
      } finally q2.stop()
      val q3 = start()
      try {
        // watermark-legal redelivery after ANOTHER restart: the
        // tombstone must have been recovered along with everything else
        in.addData(
          Streams.RpcMsg(7L, "req", ts(18), 100L, "ping-retry"),
          Streams.RpcMsg(7L, "res", ts(20), 200L, "dup-pong"))
        q3.processAllAvailable()
      } finally q3.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.RpcOutcome].collect()
      assert(got.filter(_.req_id == 7L).map(_.code).toSeq === Seq(408L),
        "exactly one 408 across three incarnations — timer re-fires once, tombstone holds")
      assert(got.filter(_.req_id == 8L).map(_.code).toSeq === Seq(200L))
    }
  }

  test("streamingNearDup recovers bucket state from a checkpoint without re-emitting pairs") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
      val dir = java.nio.file.Files.createTempDirectory("neardup_restart").toString
      val in = MemoryStream[(Long, String)]
      def start() = Streams.streamingNearDup(in.toDF().toDF("doc_id", "text"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.CandidatePair], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        in.addData((1L, base))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // doc 1's bucket membership lives only in recovered RocksDB
        // state — the arriving copy must still pair with it
        in.addData((2L, base))
        q2.processAllAvailable()
      } finally q2.stop()
      val q3 = start()
      try {
        // a third copy after another restart: pairs with BOTH residents,
        // and the pre-restart (1,2) pairs must not re-emit
        in.addData((4L, base))
        q3.processAllAvailable()
      } finally q3.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.CandidatePair].collect()
        .map(p => (p.a, p.b))
      assert(got.groupBy(identity).view.mapValues(_.length).toMap ===
        Map((1L, 2L) -> 4, (1L, 4L) -> 4, (2L, 4L) -> 4),
        "each pair exactly once per shared band (4), none re-emitted after recovery")
    }
  }

  test("streamingSubstringDup recovers its fingerprint index across a restart") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      val b = "qq ww ee rr delta epsilon zeta eta theta iota ss dd ff gg"
      val dir = java.nio.file.Files.createTempDirectory("subdup_restart").toString
      val in = MemoryStream[(Long, String)]
      def start() = Streams.streamingSubstringDup(in.toDF().toDF("doc_id", "text"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (bt: org.apache.spark.sql.Dataset[Streams.CandidatePair], _: Long) =>
          bt.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        in.addData((1L, a))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        in.addData((2L, b)) // shares a 6-token run with pre-restart doc 1
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.CandidatePair].collect()
      assert(got.nonEmpty, "the recovered fingerprint index must catch the partial copy")
      assert(got.map(p => (p.a, p.b)).distinct.toSeq === Seq((1L, 2L)),
        "only the true substring-dup pair may emit after recovery")
    }
  }

  test("firstArrivalPerKey claims once per fingerprint, survives a restart, and " +
      "ignores redelivered content") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val dir = java.nio.file.Files.createTempDirectory("first_arrival").toString
      val in = MemoryStream[(String, Long)]
      def start() = Streams.firstArrivalPerKey(in.toDS())
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (bt: org.apache.spark.sql.Dataset[Streams.RepClaim], _: Long) =>
          bt.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        // two docs share content: one claim, smallest id
        in.addData(("fpA", 7L), ("fpA", 3L), ("fpB", 10L))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // post-restart: fpA redelivered (crawler re-fetch) must NOT
        // re-claim; a new fingerprint still claims
        in.addData(("fpA", 99L), ("fpC", 20L))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.RepClaim].collect()
        .map(c => c.fp -> c.doc_id).sorted.toSeq
      assert(got === Seq("fpA" -> 3L, "fpB" -> 10L, "fpC" -> 20L),
        "exactly one claim per fingerprint, min id, across the restart")
    }
  }

  test("streaming incremental gate drops snapshot members, passes fresh docs, every batch") {
    implicit val sq = spark.sqlContext
    val s = spark; import s.implicits._
    val snapshot = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = Streams.incrementalGate(in.toDF().toDF("doc_id", "text"), snapshot)
      .writeStream.outputMode("append").format("memory").queryName("inc_gate").start()
    try {
      // batch 1: one resident duplicate, one fresh doc
      in.addData((1L, "alpha beta gamma"), (2L, "totally new content here"))
      q.processAllAvailable()
      assert(spark.table("inc_gate").select("doc_id").as[Long].collect().sorted.toSeq
        === Seq(2L), "the snapshot member must be gated out")
      // batch 2: the gate is per-batch stateless — snapshot still filters
      in.addData((3L, "delta epsilon zeta"), (4L, "another brand new doc"))
      q.processAllAvailable()
      assert(spark.table("inc_gate").select("doc_id").as[Long].collect().sorted.toSeq
        === Seq(2L, 4L))
    } finally q.stop()
  }

  test("streaming near-dup emits the candidate pair when the duplicate ARRIVES") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
      val in = MemoryStream[(Long, String)]
      val q = Streams.streamingNearDup(in.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append").format("memory").queryName("neardup").start()
      try {
        in.addData((1L, base), (3L, "totally different words here nothing shared " +
          "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll"))
        q.processAllAvailable()
        assert(spark.table("neardup").count() === 0,
          "no pair may exist before a duplicate arrives")
        in.addData((2L, base)) // the near-dup arrives later, on the live stream
        q.processAllAvailable()
        val pairs = spark.table("neardup").as[Streams.CandidatePair].collect()
        assert(pairs.map(p => (p.a, p.b)).distinct.toSeq === Seq((1L, 2L)),
          "the arriving duplicate must pair with the resident doc, nothing else")
        assert(pairs.length === 4, "an exact copy collides in all 4 bands")
      } finally q.stop()
    }
  }

  test("vocabNoveltyStream: each (source, token) emits exactly once; wave " +
      "totals equal the batch Heaps curve; redelivery adds nothing") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      // the vocab_growth spec's corpus, fed as two crawl waves: source a
      // adds one new token pair per doc, source b is pure repetition
      val waveA = (0L to 9L).map(i => (i, s"t$i c", "a"))
      val waveB = (10L to 19L).map(i => (i, "x x x", "b"))
      val in = MemoryStream[(Long, String, String)]
      val q = Streams.vocabNoveltyStream(in.toDF().toDF("doc_id", "text", "source"))
        .writeStream.outputMode("append").format("memory").queryName("novelty").start()
      def counts(): Map[String, Long] = spark.table("novelty")
        .groupBy("source").count().as[(String, Long)].collect().toMap
      try {
        in.addData(waveA: _*)
        q.processAllAvailable()
        assert(counts() === Map("a" -> 11L), // 10 t-tokens + 'c': cum_vocab@100
          "wave 1 must emit source a's full batch-curve vocabulary")
        in.addData(waveB: _*)
        q.processAllAvailable()
        assert(counts() === Map("a" -> 11L, "b" -> 1L),
          "pure repetition contributes exactly one first-seen token")
        in.addData(waveA: _*) // source retry: full redelivery of wave 1
        q.processAllAvailable()
        assert(counts() === Map("a" -> 11L, "b" -> 1L),
          "redelivered documents must add no novelty")
        // exactly-once per key, not just right totals
        val emitted = spark.table("novelty").as[Streams.TokenFirstSeen]
          .collect().map(t => (t.source, t.tok))
        assert(emitted.distinct.length === emitted.length,
          "a (source, token) pair emitted more than once")
      } finally q.stop()
    }
  }

  test("vocabNoveltyStream recovers first-seen state from a checkpoint: " +
      "a token known before the restart cannot re-emit after it") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val dir = java.nio.file.Files.createTempDirectory("novelty_restart").toString
      val in = MemoryStream[(Long, String, String)]
      def start() = Streams.vocabNoveltyStream(
          in.toDF().toDF("doc_id", "text", "source"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.TokenFirstSeen], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        in.addData((0L, "alpha beta", "a"))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        // 'alpha' is known only through recovered RocksDB state; 'gamma'
        // is genuinely new and must still pass
        in.addData((1L, "alpha gamma", "a"))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.TokenFirstSeen]
        .collect().map(t => (t.tok, t.doc_id)).sortBy(_._1)
      assert(got.toSeq === Seq(("alpha", 0L), ("beta", 0L), ("gamma", 1L)),
        "recovered state must suppress the redelivered token and only it")
    }
  }

  test("mixShiftStream: running TV drops to exactly 0 once the stream matches the reference, " +
      "batch-by-batch scores are the integer-exact TV") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val static = Seq((1L, "a a a b b c", "en", "s1", 11L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val ref = Streams.mixShiftReference(static)
      assert(ref === Map("s1" -> Map("a" -> 3L, "b" -> 2L, "c" -> 1L)))
      val in = MemoryStream[(Long, String, String)]
      val q = Streams.mixShiftStream(in.toDF().toDF("doc_id", "text", "source"), ref)
        .writeStream.outputMode("append").format("memory").queryName("drift").start()
      try {
        in.addData((10L, "a a a", "s1")); q.processAllAvailable()
        in.addData((11L, "b b c", "s1")); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("drift").as[Streams.DriftScore].collect()
        .map(d => (d.n_occ, d.tv_dist)).sortBy(_._1).toSeq
      // batch 1: cur={a:3}, ts=3, tr=6 → Σ|cs·Tr−cr·Ts| = 9+6+3 = 18 → 18/36 = 0.5
      // batch 2: cur == ref scaled → 0
      assert(got === Seq((3L, 0.5), (6L, 0.0)))
    }
  }

  test("mixShiftStream resumes its running distribution from a checkpoint: " +
      "the post-restart score reflects PRE-restart arrivals") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val ref = Map("s1" -> Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
      val dir = java.nio.file.Files.createTempDirectory("drift_restart").toString
      val in = MemoryStream[(Long, String, String)]
      def start() = Streams.mixShiftStream(in.toDF().toDF("doc_id", "text", "source"), ref)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.DriftScore], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try { in.addData((10L, "a a a", "s1")); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { in.addData((11L, "b b c", "s1")); q2.processAllAvailable() } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.DriftScore].collect()
        .map(d => (d.n_occ, d.tv_dist)).sortBy(_._1).toSeq
      // lost state would make the post-restart batch score {b:2,c:1}
      // alone (TV 0.5, n_occ 3); recovery must land the full-corpus 0.0
      assert(got === Seq((3L, 0.5), (6L, 0.0)),
        "post-restart score must include pre-restart counts")
    }
  }

  test("logregStream: a full-corpus micro-batch replays batch GD — two " +
      "batches reproduce logreg_step's step-1 and step-2 weights exactly") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[(Long, String, String)]
      val q = Streams.logregStream(in.toDF().toDF("doc_id", "text", "lang"))
        .writeStream.outputMode("append").format("memory").queryName("lr").start()
      try {
        // the logreg_step fixture: (en, "the a"), (fr, "zz zz zz")
        in.addData((0L, "the a", "en"), (1L, "zz zz zz", "fr"))
        q.processAllAvailable()
        in.addData((2L, "the a", "en"), (3L, "zz zz zz", "fr"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("lr").as[Streams.LrUpdate].collect()
        .map(u => (u.n_seen, u.w0, u.w1, u.w2)).sortBy(_._1).toSeq
      assert(got === Seq(
        (2L, 0.0, -0.0001, 0.025),
        (4L, -0.0003, -0.0003, 0.0497)),
        "full-corpus micro-batches must replay logreg_step's trajectory")
    }
  }

  test("logregStream partial-map cap: high-cardinality features stream " +
      "through as exact count-1 partials — trajectory identical to uncapped") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    // 60 distinct lengths -> >= 60 distinct feature vectors per batch,
    // far past a cap of 2: almost every row overflows the group map
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(1 + (i % 57).toInt)("w").mkString(" "),
        if (i % 2 == 0) "en" else "fr")
    }
    def run(cap: Int): Seq[(Long, Double, Double, Double)] = withRocksDbProvider {
      val in = MemoryStream[(Long, String, String)]
      val name = s"lr_cap_$cap"
      val q = Streams.logregStream(in.toDF().toDF("doc_id", "text", "lang"),
          partialCap = cap)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        in.addData(docs.take(30): _*); q.processAllAvailable()
        in.addData(docs.drop(30): _*); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[Streams.LrUpdate].collect()
        .map(u => (u.n_seen, u.w0, u.w1, u.w2)).sortBy(_._1).toSeq
    }
    val capped = run(2)
    val uncapped = run(1 << 14)
    assert(capped.nonEmpty && capped.map(_._1) === Seq(30L, 60L))
    // any (vector, count) decomposition is the same exact sufficient
    // statistic; the deterministic fold order makes it bit-equal here
    assert(capped === uncapped,
      s"capped trajectory $capped must equal uncapped $uncapped")
  }

  test("logregStream resumes training from a checkpoint: the post-restart " +
      "step starts at the recovered weights, not zero") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val dir = java.nio.file.Files.createTempDirectory("lr_restart").toString
      val in = MemoryStream[(Long, String, String)]
      def start() = Streams.logregStream(in.toDF().toDF("doc_id", "text", "lang"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.LrUpdate], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try {
        in.addData((0L, "the a", "en"), (1L, "zz zz zz", "fr"))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        in.addData((2L, "the a", "en"), (3L, "zz zz zz", "fr"))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.LrUpdate].collect()
        .map(u => (u.n_seen, u.w0, u.w1, u.w2)).sortBy(_._1).toSeq
      // lost state would repeat step 1's weights; recovery must continue
      // the trajectory to step 2's
      assert(got === Seq(
        (2L, 0.0, -0.0001, 0.025),
        (4L, -0.0003, -0.0003, 0.0497)),
        "post-restart step must start from recovered weights")
    }
  }

  test("userFeaturesStream: per-user rows re-emit with running totals; " +
      "silent users emit nothing") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val q = Streams.userFeaturesStream(
          in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
        .writeStream.outputMode("append").format("memory").queryName("uf").start()
      try {
        in.addData((10L, t0, 1L, "click", 1.5), (11L, t0, 2L, "view", 0.25))
        q.processAllAvailable()
        // only user 1 appears in batch 2: user 2 must NOT re-emit
        in.addData((12L, t1, 1L, "purchase", 2.5))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("uf").as[Streams.UserFeats].collect()
        .map(u => (u.user_id, u.n_events, u.n_purchases, u.total_value, u.last_us))
        .sortBy(r => (r._1, r._2)).toSeq
      val us0 = t0.getTime * 1000L
      val us1 = t1.getTime * 1000L
      assert(got === Seq(
        (1L, 1L, 0L, 1.5, us0), (1L, 2L, 1L, 4.0, us1),
        (2L, 1L, 0L, 0.25, us0)))
    }
  }

  test("userFeaturesStream resumes running totals from a checkpoint: the " +
      "post-restart row carries pre-restart counts and spend") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
      val dir = java.nio.file.Files.createTempDirectory("uf_restart").toString
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      def start() = Streams.userFeaturesStream(
          in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.UserFeats], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try { in.addData((10L, t0, 1L, "click", 1.5)); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { in.addData((11L, t1, 1L, "purchase", 2.5)); q2.processAllAvailable() } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.UserFeats].collect()
        .map(u => (u.n_events, u.n_purchases, u.total_value)).sortBy(_._1).toSeq
      // lost state would report (1, 1, 2.5) after the restart; recovery
      // must carry the pre-restart click and spend forward
      assert(got === Seq((1L, 0L, 1.5), (2L, 1L, 4.0)),
        "post-restart features must include pre-restart history")
    }
  }

  test("centroidDriftStream: running centroid scores against the static " +
      "reference; the batch twin's 3-4-5 fixture reproduces drift 5") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      // reference = the even parity slice of the embed_centroid_drift
      // fixture: label 0 → centroid (2,0); label 1 → (1,1)
      val static = Seq((0L, Array(1f, 0f), 0), (2L, Array(3f, 0f), 0),
                       (4L, Array(1f, 1f), 1))
        .toDF("vec_id", "embedding", "label")
      val ref = Streams.centroidDriftReference(static)
      assert(ref(0).toSeq === Seq(2.0, 0.0) && ref(1).toSeq === Seq(1.0, 1.0))
      val in = MemoryStream[(Long, Array[Float], Int)]
      val q = Streams.centroidDriftStream(
          in.toDF().toDF("vec_id", "embedding", "label"), ref)
        .writeStream.outputMode("append").format("memory").queryName("cdrift").start()
      try {
        // odd slice: label 0 gets (5,4) → drift √(9+16) = 5; label 1
        // matches its reference exactly → drift 0
        in.addData((1L, Array(5f, 4f), 0), (5L, Array(1f, 1f), 1))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("cdrift").as[Streams.CentroidDrift].collect()
        .map(c => (c.label, c.n_seen, c.drift)).sortBy(_._1).toSeq
      assert(got === Seq((0, 1L, 5.0), (1, 1L, 0.0)))
    }
  }

  test("centroidDriftStream resumes its running centroid from a checkpoint: " +
      "the post-restart score averages PRE-restart vectors in") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val ref = Map(0 -> Array(2.0, 0.0))
      val dir = java.nio.file.Files.createTempDirectory("cdrift_restart").toString
      val in = MemoryStream[(Long, Array[Float], Int)]
      def start() = Streams.centroidDriftStream(
          in.toDF().toDF("vec_id", "embedding", "label"), ref)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.CentroidDrift], _: Long) =>
          b.write.mode("append").parquet(s"$dir/out")
        }
        .start()
      val q1 = start()
      try { in.addData((1L, Array(5f, 4f), 0)); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { in.addData((3L, Array(1f, 0f), 0)); q2.processAllAvailable() } finally q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[Streams.CentroidDrift].collect()
        .map(c => (c.n_seen, c.drift)).sortBy(_._1).toSeq
      // lost state would score (1,0) alone (drift 1); recovery must land
      // the running mean (3,2) → drift √5
      assert(got === Seq((1L, 5.0), (2L, 2.23607)),
        "post-restart drift must average pre-restart vectors in")
    }
  }

  test("streaming near-dup refresh gate pairs an arriving crawl doc with the static snapshot index") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val snapshot = Seq(
      (10L, base),
      (11L, "some other resident snapshot document with distinct words " +
        "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg")).toDF("doc_id", "text")
    // the persisted artifact: build once, write, probe the RELOADED table
    val storePath = java.nio.file.Files
      .createTempDirectory("graft_stream_store").toString + "/bands.parquet"
    graft.llm.HashDedup.bandStoreOf(snapshot).write.mode("overwrite").parquet(storePath)
    val store = spark.read.parquet(storePath)
    val in = MemoryStream[(Long, String)]
    val q = Streams.incrementalNearDupGate(in.toDF().toDF("doc_id", "text"), store)
      .writeStream.outputMode("append").format("memory").queryName("nd_refresh").start()
    try {
      in.addData((20L, "entirely fresh crawl content sharing nothing at all " +
        "zz xx cc vv bb nn mm k1 k2 k3 k4 k5 k6 k7 k8"))
      q.processAllAvailable()
      assert(spark.table("nd_refresh").count() === 0,
        "a genuinely new document must pass without candidates")
      in.addData((21L, base.replace("sigma", "SIGMA"))) // near-copy of snapshot 10
      q.processAllAvailable()
      val pairs = spark.table("nd_refresh").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.toSet === Set((21L, 10L)),
        "the arriving near-dup must pair with its snapshot original, nothing else")
    } finally q.stop()
  }

  test("streaming RPC buffers a response that lands before its late request") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[Streams.RpcMsg]
      // 30-minute allowed lateness: a request row OLDER than already-seen
      // responses is still watermark-legal — the exact window where an
      // unconditional orphan-response drop loses the 200 outcome
      val q = Streams.rpcStream(in.toDS(), timeoutMs = 10000L,
          watermarkDelay = "30 minutes")
        .writeStream.outputMode("append").format("memory").queryName("rpc_early").start()
      try {
        in.addData(Streams.RpcMsg(9L, "res", ts(5), 500L, "early-pong"))
        q.processAllAvailable()
        assert(spark.table("rpc_early").count() === 0,
          "a response with no request yet must not emit an outcome")
        in.addData(Streams.RpcMsg(9L, "req", ts(0), 100L, "ping"))
        q.processAllAvailable()
        val got = spark.table("rpc_early").as[Streams.RpcOutcome].collect()
        assert(got.map(o => (o.req_id, o.code, o.event_id, o.payload)).toSeq ===
          Seq((9L, 200L, 500L, "early-pong")),
          "the buffered early response must resolve the request on arrival")
        // advance far past every deadline: cleanup timers fire, and the
        // resolved request must NOT also emit a 408
        in.addData(Streams.RpcMsg(10L, "req", ts(120), 101L, "ping"))
        q.processAllAvailable()
        in.addData(Streams.RpcMsg(11L, "req", ts(180), 102L, "ping"))
        q.processAllAvailable()
        val fin = spark.table("rpc_early").as[Streams.RpcOutcome].collect()
        assert(fin.filter(_.req_id == 9L).map(_.code).toSeq === Seq(200L))
      } finally q.stop()
    }
  }

  test("randomized parity: scd2Stream and seqGapStream are invariant to micro-batch splits") {
    // the class of bug the r5 hardening fixed by hand (monotone
    // high-water, early buffering) — now pinned under a generator:
    // random per-key streams, random cross-key interleavings, random
    // batch boundaries, random redeliveries; stream output must equal
    // the closed-form batch answer on every draw
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    var qn = 0
    for (seed <- Seq(11, 47, 101)) {
      val rnd = new scala.util.Random(seed)
      qn += 1

      def randomMerge[A](perKey: Seq[(String, Seq[A])]): Seq[A] = {
        val queues = scala.collection.mutable.LinkedHashMap(
          perKey.map { case (k, v) => k -> scala.collection.mutable.Queue(v: _*) }: _*)
        val out = scala.collection.mutable.ArrayBuffer.empty[A]
        while (queues.values.exists(_.nonEmpty)) {
          val live = queues.collect { case (k, q) if q.nonEmpty => k }.toSeq
          out += queues(live(rnd.nextInt(live.length))).dequeue()
        }
        out.toSeq
      }
      def randomSplits[A](xs: Seq[A]): Seq[Seq[A]] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[Seq[A]]
        var rest = xs
        while (rest.nonEmpty) {
          val k = 1 + rnd.nextInt(math.min(6, rest.length))
          out += rest.take(k); rest = rest.drop(k)
        }
        out.toSeq
      }

      // ---- SCD2: per-channel (ts, event_id)-ordered delivery (the
      // transport's FIFO guarantee), arbitrary interleaving + splits
      var id = 0L
      val perChan = Seq("c1", "c2", "c3").map { c =>
        var t = rnd.nextInt(5)
        c -> (1 to (2 + rnd.nextInt(8))).map { _ =>
          id += 1; t += 1 + rnd.nextInt(7)
          (c, ev(id, t, 1L, "click"))
        }
      }
      withRocksDbProvider {
        val in = MemoryStream[(String, Streams.BusEvent)]
        val q = Streams.scd2Stream(in.toDS()).writeStream
          .outputMode("append").format("memory").queryName(s"scd2_rand_$qn").start()
        try randomSplits(randomMerge(perChan)).foreach { b =>
          in.addData(b); q.processAllAvailable()
        } finally q.stop()
      }
      val gotScd2 = spark.table(s"scd2_rand_$qn").as[Streams.VersionRow].collect()
        .map(v => (v.channel, v.event_id, v.valid_from.getTime, v.valid_to.getTime))
        .sortBy(x => (x._1, x._3)).toSeq
      val expScd2 = perChan.flatMap { case (c, evs) =>
        evs.map(_._2).sliding(2).collect {
          case Seq(a, b) => (c, a.event_id, a.ts.getTime, b.ts.getTime)
        }
      }.sortBy(x => (x._1, x._3))
      assert(gotScd2 === expScd2, s"scd2 split-parity failed at seed=$seed")

      // ---- seq gaps: increasing new sequences with random holes,
      // redeliveries of already-delivered values injected anywhere
      // AFTER first delivery — gaps must be exactly the first-delivery
      // consecutive diffs, on every split
      val keys = Seq("click", "view")
      val perKeySeqs = keys.map { k =>
        var sq0 = 0L
        k -> (1 to (3 + rnd.nextInt(10))).map { _ => sq0 += 1 + rnd.nextInt(4); sq0 }
      }
      val seen = scala.collection.mutable.Map(keys.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Long]): _*)
      val arrival = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      randomMerge(perKeySeqs.map { case (k, v) => k -> v.map((k, _)) }).foreach { case (k, s) =>
        arrival += ((k, s)); seen(k) += s
        if (rnd.nextDouble() < 0.3) {
          val k2 = keys(rnd.nextInt(keys.length))
          if (seen(k2).nonEmpty)
            arrival += ((k2, seen(k2)(rnd.nextInt(seen(k2).length))))
        }
      }
      withRocksDbProvider {
        val in = MemoryStream[(String, Long)]
        val q = Streams.seqGapStream(in.toDS()).writeStream
          .outputMode("append").format("memory").queryName(s"gaps_rand_$qn").start()
        try randomSplits(arrival.toSeq).foreach { b =>
          in.addData(b); q.processAllAvailable()
        } finally q.stop()
      }
      val gotGaps = spark.table(s"gaps_rand_$qn").as[Streams.SeqGap].collect()
        .map(g => (g.event_type, g.prev_seq, g.next_seq, g.missing)).sorted.toSeq
      val expGaps = perKeySeqs.flatMap { case (k, sqs) =>
        sqs.sliding(2).collect {
          case Seq(p, q) if q - p > 1 => (k, p, q, q - p - 1)
        }
      }.sorted
      assert(gotGaps === expGaps, s"seqGap split-parity failed at seed=$seed")

      // ---- take(n): the auto-unsubscribe COUNT contract is
      // split-invariant even though WHICH ids win may depend on
      // arrival order — per sub, exactly min(n, delivered) rows, all
      // drawn from that sub's own stream, no id twice
      var tid = 0L
      val perSub = Seq("s1", "s2", "s3").map { sub =>
        sub -> (1 to (1 + rnd.nextInt(9))).map { _ =>
          tid += 1; (sub, ev(tid, rnd.nextInt(60), 1L, "click"))
        }
      }
      withRocksDbProvider {
        val in = MemoryStream[(String, Streams.BusEvent)]
        val q = Streams.takeNPerKey(in.toDS(), max = 3).writeStream
          .outputMode("append").format("memory").queryName(s"take_rand_$qn").start()
        try randomSplits(randomMerge(perSub)).foreach { b =>
          in.addData(b); q.processAllAvailable()
        } finally q.stop()
      }
      val bySub = spark.table(s"take_rand_$qn").as[Streams.Delivery].collect()
        .groupBy(_.sub)
      perSub.foreach { case (sub, evs) =>
        val got = bySub.getOrElse(sub, Array.empty).map(_.event_id)
        assert(got.length === math.min(3, evs.length),
          s"take(3) count contract broken for $sub at seed=$seed")
        assert(got.distinct.length === got.length, s"$sub delivered an id twice")
        assert(got.toSet.subsetOf(evs.map(_._2.event_id).toSet), sub)
      }
    }
  }

  test("intervalMs parses every withWatermark delay string Spark itself accepts") {
    assert(Streams.intervalMs("0 seconds") === 0L)
    assert(Streams.intervalMs("30 minutes") === 30L * 60 * 1000)
    assert(Streams.intervalMs("2 hours") === 2L * 3600 * 1000)
    assert(Streams.intervalMs("1 day") === 86400000L)
    assert(Streams.intervalMs("1500 milliseconds") === 1500L)
    assert(Streams.intervalMs("  45 SECONDS ") === 45000L)
    // multi-unit and 'interval'-prefixed forms are valid withWatermark
    // input — the gate must accept exactly what Spark accepts (ADVICE r6)
    assert(Streams.intervalMs("1 hour 30 minutes") === 90L * 60 * 1000)
    assert(Streams.intervalMs("interval 30 seconds") === 30000L)
    assert(Streams.intervalMs("1 minute 15 seconds 500 milliseconds") === 75500L)
    intercept[IllegalArgumentException] { Streams.intervalMs("10 fortnights") }
    intercept[IllegalArgumentException] { Streams.intervalMs("whenever") }
  }

  test("streaming RPC tombstone: watermark-legal redelivery after the 408 cannot re-resolve") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[Streams.RpcMsg]
      // 30-minute allowed lateness: after req 7's cleanup timer fires the
      // 408, an at-least-once producer retries the conversation with
      // refreshed timestamps that are STILL >= the watermark — the exact
      // window where clearing all state would re-arm and emit a second
      // outcome (a 200 after the 408). The tombstone must drop both rows.
      val q = Streams.rpcStream(in.toDS(), timeoutMs = 10000L,
          watermarkDelay = "30 minutes")
        .writeStream.outputMode("append").format("memory").queryName("rpc_redeliver").start()
      try {
        in.addData(Streams.RpcMsg(7L, "req", ts(0), 100L, "ping"))
        q.processAllAvailable()
        // scaffold: max event time 41 min → watermark 11 min > req 7's
        // 10 s deadline; its timer fires in the NEXT batch
        in.addData(Streams.RpcMsg(8L, "req", ts(41), 101L, "scaffold"))
        q.processAllAvailable()
        in.addData(Streams.RpcMsg(8L, "res", ts(42), 102L, "pong"))
        q.processAllAvailable()
        assert(spark.table("rpc_redeliver").as[Streams.RpcOutcome].collect()
          .filter(_.req_id == 7L).map(_.code).toSeq === Seq(408L))
        // redelivery inside the lateness window: both rows ≥ the 12-min
        // watermark, so both survive the late-row filter and reach the gate
        in.addData(
          Streams.RpcMsg(7L, "req", ts(18), 100L, "ping-retry"),
          Streams.RpcMsg(7L, "res", ts(20), 200L, "dup-pong"))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("rpc_redeliver").as[Streams.RpcOutcome].collect()
    assert(got.filter(_.req_id == 7L).map(_.code).toSeq === Seq(408L),
      "one outcome per req_id, ever — the redelivered pair must not add a 200")
    assert(got.filter(_.req_id == 8L).map(_.code).toSeq === Seq(200L))
  }

  test("streaming RPC orphan-response cleanup leaves NO tombstone — a later legal request still earns its 408") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      val in = MemoryStream[Streams.RpcMsg]
      val q = Streams.rpcStream(in.toDS(), timeoutMs = 10000L,
          watermarkDelay = "30 minutes")
        .writeStream.outputMode("append").format("memory").queryName("rpc_orphan").start()
      try {
        // a response with no request: buffers, arms the orphan-cleanup timer
        in.addData(Streams.RpcMsg(9L, "res", ts(0), 300L, "lost-pong"))
        q.processAllAvailable()
        // scaffold advances the watermark past the orphan's cleanup point;
        // the timer fires with NO request state (hadReq=false). Installing
        // a tombstone here would extend the drop window for req 9 with no
        // conversation to protect (ADVICE r6) — the fix emits nothing and
        // installs nothing. Two scaffold batches (the redelivery spec's
        // pattern) guarantee the timer has fired before req 9 returns.
        in.addData(Streams.RpcMsg(11L, "req", ts(41), 301L, "scaffold"))
        q.processAllAvailable()
        in.addData(Streams.RpcMsg(11L, "res", ts(42), 304L, "pong"))
        q.processAllAvailable()
        assert(spark.table("rpc_orphan").as[Streams.RpcOutcome].collect()
          .filter(_.req_id == 9L).isEmpty)
        // a watermark-legal request for req 9 (ts 15 min ≥ the 12-min
        // watermark): with the phantom tombstone it would be silently
        // dropped; without it the conversation arms normally...
        in.addData(Streams.RpcMsg(9L, "req", ts(15), 302L, "ping-late"))
        q.processAllAvailable()
        // ...and times out once the watermark passes its deadline
        in.addData(Streams.RpcMsg(12L, "req", ts(100), 303L, "scaffold2"))
        q.processAllAvailable()
      } finally q.stop()
    }
    val got = spark.table("rpc_orphan").as[Streams.RpcOutcome].collect()
    assert(got.filter(_.req_id == 9L).map(_.code).toSeq === Seq(408L),
      "the orphan cleanup must not tombstone an unseen conversation")
    assert(got.filter(_.req_id == 11L).map(_.code).toSeq === Seq(200L))
  }

  test("streaming substring-dup gate pairs a shared 6-token run on arrival") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    withRocksDbProvider {
      // doc 2 embeds a contiguous 6-token slice of doc 1 (= w+k-1, the
      // winnowing minimum catchable run) inside unrelated filler
      val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      val b = "qq ww ee rr delta epsilon zeta eta theta iota ss dd ff gg"
      val c = "totally different words here nothing shared with anything at all"
      val in = MemoryStream[(Long, String)]
      val q = Streams.streamingSubstringDup(in.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append").format("memory").queryName("subdup").start()
      try {
        in.addData((1L, a), (3L, c))
        q.processAllAvailable()
        assert(spark.table("subdup").count() === 0)
        in.addData((2L, b)) // the partial copy arrives on the live stream
        q.processAllAvailable()
        val pairs = spark.table("subdup").as[Streams.CandidatePair].collect()
        assert(pairs.map(p => (p.a, p.b)).distinct.toSeq === Seq((1L, 2L)),
          "the shared run must pair exactly docs 1 and 2")
      } finally q.stop()
    }
  }

  test("per-sub counters in update mode accumulate across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[BusEvent]
    val patterns = Seq("cdc/click/#", "cdc/error/#", "cdc/nosuch/#")
    val q = Streams.subCounters(Streams.withChannel(in.toDF()), patterns)
      .writeStream.outputMode("update").format("memory").queryName("counters").start()
    // batch 1: 2 clicks, 1 error
    in.addData(ev(1, 0, 1, "click"), ev(2, 1, 2, "click"), ev(3, 2, 1, "error"))
    q.processAllAvailable()
    val after1 = spark.table("counters").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(after1 === Map("cdc/click/#" -> 2L, "cdc/error/#" -> 1L),
      "batch-1 counts wrong (nosuch has no state row yet — zero matches)")
    // batch 2: 1 more click, 2 more errors → counters REVISE upward
    in.addData(ev(4, 3, 3, "click"), ev(5, 4, 1, "error"), ev(6, 5, 2, "error"))
    q.processAllAvailable(); q.stop()
    // update-mode memory sink appends each revision; the running value is
    // the max per key — counts must have accumulated across batches, not
    // restarted per batch
    val all = spark.table("counters").as[(String, Long)].collect()
    val fin = all.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(fin === Map("cdc/click/#" -> 3L, "cdc/error/#" -> 3L))
    assert(all.toSet.contains(("cdc/error/#", 1L)) && all.toSet.contains(("cdc/error/#", 3L)),
      "update mode must emit the batch-1 value AND the accumulated revision")
  }

  test("captureTo: streaming bus lands in the partitioned layout and routes on re-read") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_capture").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_capture_ckpt").toString
    val in = MemoryStream[BusEvent]
    val q = Streams.captureTo(Streams.withChannel(in.toDF()), dir, ckpt)
    try {
      in.addData(ev(1, 0, 1, "click"), ev(2, 1, 2, "error"))
      q.processAllAvailable()
      in.addData(ev(3, 2, 1, "error"), ev(4, 3, 3, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val re = graft.sources.BusLayout.readPartitioned(spark, dir)
    assert(re.count() === 4)
    // partitioned layout + routing both work on the captured stream
    val errs = graft.sources.BusLayout.subscribe(re, "cdc/error/#")
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(errs === Seq(2L, 3L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "event_type=error")), "hive-partitioned dirs")
  }

  test("streaming retained cache revises to the latest event per channel") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[BusEvent]
    val q = Streams.retained(Streams.withChannel(in.toDF()))
      .writeStream.outputMode("update").format("memory").queryName("retained").start()
    in.addData(ev(1, 0, 1, "click"), ev(2, 5, 1, "click"), ev(3, 0, 2, "view"))
    q.processAllAvailable()
    // a later event on the same channel supersedes the retained value
    in.addData(ev(9, 30, 1, "click"))
    q.processAllAvailable(); q.stop()
    val latest = spark.table("retained").as[(String, Long, java.sql.Timestamp, Double)]
      .collect().groupBy(_._1).view
      // update-mode memory sink appends revisions; latest = max event ts
      .mapValues(_.maxBy(_._3.getTime)._2).toMap
    assert(latest === Map("cdc/click/1" -> 9L, "cdc/view/2" -> 3L))
  }

  test("r13: IVM changelog gate — retraction deltas telescope across " +
       "batches, redelivery never double-applies, equal-cents updates " +
       "stay silent") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    def e(id: Long, min: Int, user: Long, v: Double): BusEvent =
      BusEvent(id, ts(min), user, "click", v, "{}")
    withRocksDbProvider {
      val in = MemoryStream[(String, BusEvent)]
      val q = Streams.ivmChangelog(in.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("ivmlog").start()
      try {
        // batch 1: c1 first seen at 2.00, then updated to 3.50 IN-BATCH
        // (collapses: one +350 first-sight row); c2 first seen at 1.00
        in.addData(("c1", e(1, 0, 1, 2.00)), ("c1", e(2, 1, 1, 3.50)),
                   ("c2", e(3, 0, 2, 1.00)))
        q.processAllAvailable()
        // batch 2: c1 updated to 1.25 (retraction −225); c2's event 3
        // redelivered verbatim — the high-water mark must skip it
        in.addData(("c1", e(4, 2, 1, 1.25)), ("c2", e(3, 0, 2, 1.00)))
        q.processAllAvailable()
        // batch 3: c2 updated to the SAME cents — no emission
        in.addData(("c2", e(5, 3, 2, 1.004)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val log = spark.table("ivmlog").as[Streams.ViewDelta].collect().toSeq
    // exactly three adjustment rows: (+350, first), (+100, first), (−225)
    assert(log.sortBy(d => (d.dcents)).map(d => (d.dcents, d.dn)) ===
      Seq((-225L, 0L), (100L, 1L), (350L, 1L)))
    // the fold equals the final state: c1=125, c2=100 → 225 cents, 2 channels
    assert(log.map(_.dcents).sum === 225L && log.map(_.dn).sum === 2L)
  }

  test("r14: MIN/MAX changelog gate — the poison transition (max channel " +
       "drops) reconstructs the right extremes, redelivery re-emits " +
       "nothing, equal-cents updates stay silent") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    def e(id: Long, min: Int, user: Long, v: Double): BusEvent =
      BusEvent(id, ts(min), user, "click", v, "{}")
    withRocksDbProvider {
      val in = MemoryStream[(String, BusEvent)]
      val q = Streams.minmaxChangelog(in.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("mmlog").start()
      try {
        // batch 1: c1 = 5.00 (the max), c2 = 1.00 (the min)
        in.addData(("c1", e(1, 0, 1, 5.00)), ("c2", e(2, 0, 2, 1.00)))
        q.processAllAvailable()
        // batch 2: the POISON transition — the max channel drops to
        // 0.50 (now the min); c2's event 2 redelivered (no emission)
        in.addData(("c1", e(3, 2, 1, 0.50)), ("c2", e(2, 0, 2, 1.00)))
        q.processAllAvailable()
        // batch 3: c2 updated to the SAME cents — silent
        in.addData(("c2", e(4, 3, 2, 1.004)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val log = spark.table("mmlog").as[Streams.ChannelValue].collect().toSeq
    assert(log.length === 3, s"expected 3 transitions, got $log")
    // consumer reconstruction: per-channel argmax by (ts_us, event_id),
    // then the group extremes — a fold of scalar max-deltas would
    // still answer 500 here, which is exactly why the changelog
    // carries channel state
    val cur = log.groupBy(_.channel).view
      .mapValues(_.maxBy(t => (t.ts_us, t.event_id)).cents).toMap
    assert(cur === Map("c1" -> 50L, "c2" -> 100L))
    assert(cur.values.max === 100L && cur.values.min === 50L)
  }

  test("r16: distinct-count over the value changelog — the LAST-HOLDER " +
       "poison transition decrements, a shared-holder transition does " +
       "not, and redelivery re-emits nothing") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    def e(id: Long, min: Int, user: Long, v: Double): BusEvent =
      BusEvent(id, ts(min), user, "click", v, "{}")
    withRocksDbProvider {
      val in = MemoryStream[(String, BusEvent)]
      val q = Streams.minmaxChangelog(in.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("ddlog").start()
      try {
        // batch 1: cents 100 held TWICE (c1, c2), 70 once (c3) →
        // distinct = 2
        in.addData(("c1", e(1, 0, 1, 1.00)), ("c2", e(2, 0, 2, 1.00)),
                   ("c3", e(3, 0, 3, 0.70)))
        q.processAllAvailable()
        // batch 2: POISON — c3, the ONLY holder of 70, moves onto the
        // already-present 100 (distinct 2 → 1); c1, one of TWO holders
        // of 100, would NOT have decremented had it moved instead —
        // exercised below by moving c1 to a fresh value (1 → 2); c2's
        // event 2 is redelivered verbatim (the recovered high-water
        // mark must refuse it — a re-emitted transition would double a
        // row in the appended log)
        in.addData(("c3", e(4, 2, 3, 1.00)), ("c1", e(5, 2, 1, 0.55)),
                   ("c2", e(2, 0, 2, 1.00)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val log = spark.table("ddlog")
    // 3 first-sight + 2 accepted transitions; the redelivery emitted
    // nothing
    assert(log.count() === 5L)
    val got = graft.stream.StreamGrade.distinctFold(
        log.withColumn("event_type", lit("click")))
      .collect().map(_.toString).toSeq
    // current values: c1=55, c2=100, c3=100 → 3 channels, 2 distinct
    // (the last-holder retraction of 70 decremented; c1's shared-holder
    // retraction of 100 did not — c2 still holds it)
    assert(got === Seq("[click,3,2]"),
      s"distinct fold wrong: $got")
  }

  test("r16: the JOIN view over the value changelog — pair multiset " +
       "folds per bucket, a value transition re-prices every pair the " +
       "channel participates in, a partnerless side emits nothing, and " +
       "redelivery re-emits nothing") {
    implicit val sq = spark.sqlContext
    implicit val sp: SparkSession = spark
    import spark.implicits._
    def e(id: Long, min: Int, user: Long, et: String, v: Double): BusEvent =
      BusEvent(id, ts(min), user, et, v, "{}")
    withRocksDbProvider {
      val in = MemoryStream[(String, BusEvent)]
      val q = Streams.minmaxChangelog(in.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("jlog").start()
      try {
        // bucket 1 (users 1, 26, 51 ≡ 1 mod 25): TWO purchase channels
        // × ONE click channel = 2 pairs; bucket 2: a click with NO
        // purchase partner — the inner pair join must emit nothing
        in.addData(
          ("cdc/purchase/1",  e(1, 0, 1,  "purchase", 1.00)),
          ("cdc/purchase/26", e(2, 0, 26, "purchase", 2.00)),
          ("cdc/click/51",    e(3, 0, 51, "click",    0.10)),
          ("cdc/click/2",     e(4, 0, 2,  "click",    0.20)))
        q.processAllAvailable()
        // purchase/1 transitions 100 → 300 cents: BOTH of grp 1's
        // pair prices move through the one current-state row; click
        // event 3 is redelivered verbatim (refused by the recovered
        // high-water mark, no duplicate transition row)
        in.addData(
          ("cdc/purchase/1", e(5, 2, 1, "purchase", 3.00)),
          ("cdc/click/51",   e(3, 0, 51, "click",   0.10)))
        q.processAllAvailable()
      } finally q.stop()
    }
    val log = spark.table("jlog")
    // 4 first-sights + 1 accepted transition; redelivery emitted nothing
    assert(log.count() === 5L)
    val got = graft.cdc.CdcBus.ivmJoinFold(log)
      .orderBy(col("grp")).collect().map(_.toString).toSeq
    // grp 1: pairs (300+10) + (200+10) = 520; grp 2 absent
    assert(got === Seq("[1,2,520]"), s"join fold wrong: $got")
  }

  test("stream-static enrich broadcasts the dimension, no stream state") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[BusEvent]
    in.addData(ev(1, 0, 1, "click"), ev(2, 1, 2, "view"), ev(3, 2, 9, "click"))
    val q = Streams.enrich(Streams.withChannel(in.toDF()), dim, "user_id")
      .select(col("event_id"), col("tier"))
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched").as[(Long, Option[String])].collect().toMap
    assert(got === Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
  }

  test("streaming dedup within watermark removes re-deliveries") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[BusEvent]
    in.addData(ev(1, 0, 1, "click"), ev(1, 0, 1, "click"), ev(2, 1, 1, "view"))
    withRocksDbProvider {
      val q = Streams.dedupStream(Streams.withChannel(in.toDF()))
        .writeStream.outputMode("append").format("memory").queryName("deduped").start()
      q.processAllAvailable(); q.stop()
    }
    assert(spark.table("deduped").count() === 2)
  }
}
