package graft

import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.StreamGrade
import graft.StreamGradeSpec.Run

/** The oracle-gated streaming queries (SURVEY §2b streaming — the
  * reference's native domain driven through the hash gate): each graded
  * streaming result must equal its Spark BATCH twin row-for-row, and the
  * 3-slice bus replay must execute as three genuine micro-batches so the
  * cross-batch state (running counters, the retained cache's revisions,
  * the SCD2 open version riding ValueState over a batch boundary) is
  * actually exercised — not one batch in disguise. */
class StreamGradeSpec extends AnyFunSuite with SharedSession with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    StateStore.stop()
    super.afterAll()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` and return its value and the streaming query lifetimes
    * it started, in start order. `onQueryStarted` runs before `start()` returns, so the
    * provider read there is the one the query started with; the other
    * events arrive on the listener bus, so wait until every run has
    * terminated (its progress events precede its termination event). */
  private def runsOf[A](body: => A): (A, Seq[Run]) = {
    import java.util.UUID
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(UUID, Option[String])]()
    val batches = new java.util.concurrent.ConcurrentHashMap[UUID, Integer]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.add(e.runId -> spark.conf.getOption(ProviderKey))
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0L) batches.merge(e.progress.runId, 1, _ + _)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    val value = try {
      val v = body
      val deadline = System.nanoTime() + 60L * 1000000000L
      def open = started.asScala.filterNot(r => ended.contains(r._1))
      while (open.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(open.isEmpty, "a started query never reported its termination")
      v
    } finally spark.streams.removeListener(listener)
    (value, started.asScala.toSeq.map { case (id, p) =>
      Run(p, batches.getOrDefault(id, 0).intValue) })
  }

  test("cdc_stream_counters: streaming == batch subCounters, across 3 micro-batches") {
    val got = rows(StreamGrade.streamCounters(spark, dir))
    assert(StreamGrade.batchCount("stream_counters") === 3)
    val want = rows(graft.cdc.CdcBus.subCounters(spark, dir))
    assert(got === want)
  }

  test("cdc_stream_retained: streaming cache == batch window twin, across 3 micro-batches") {
    val got = rows(StreamGrade.streamRetained(spark, dir))
    assert(StreamGrade.batchCount("stream_retained") === 3)
    val want = rows(graft.cdc.CdcBus.retained(spark, dir))
    assert(got === want)
  }

  test("cdc_stream_gaps: streamed gap rows == batch lag-window gaps, across 3 micro-batches") {
    val got = rows(StreamGrade.streamGaps(spark, dir))
    assert(StreamGrade.batchCount("stream_gaps") === 3)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    val want = rows(graft.Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"))
      .withColumn("prev_seq", lag(col("event_id"), 1).over(w))
      .filter(col("prev_seq").isNotNull && col("event_id") - col("prev_seq") > 1)
      .select(col("event_type"), col("prev_seq"),
              col("event_id").as("next_seq"),
              (col("event_id") - col("prev_seq") - 1).as("missing"))
      .orderBy(col("event_type"), col("next_seq")))
    assert(got.nonEmpty && got === want)
  }

  test("cdc_stream_dedup: overlapped slices REALLY redeliver frames, and the " +
      "dedup gate restores exactly-once") {
    val got = rows(StreamGrade.streamDedup(spark, dir))
    assert(StreamGrade.batchCount("stream_dedup") === 3)
    val want = rows(graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"),
           round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type")))
    assert(got === want)
  }

  test("cdc_stream_tumbling: streamed 5-min window counts == batch window agg, across 3 micro-batches") {
    val got = rows(StreamGrade.streamTumbling(spark, dir))
    assert(StreamGrade.batchCount("stream_tumbling") === 3)
    val want = rows(graft.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .orderBy(col("w_start"), col("event_type")))
    assert(got.nonEmpty && got === want)
  }

  test("cdc_stream_sliding: streamed 1h/30min hop counts == the batch " +
      "events_sliding query, across 3 micro-batches") {
    val got = rows(StreamGrade.streamSliding(spark, dir))
    assert(StreamGrade.batchCount("stream_sliding") === 3)
    val want = rows(graft.rel.RelQueries.queries("events_sliding")(spark, dir))
    assert(got.nonEmpty && got === want)
    // genuinely overlapping: the hop total is ~2x the event count (every
    // event lands in window/slide = 2 windows)
    val hopTotal = StreamGrade.streamSliding(spark, dir)
      .agg(sum(col("n"))).head().getLong(0)
    val nEvents = graft.Tables.events(spark, dir).count()
    assert(hopTotal === 2L * nEvents,
      s"each event must land in exactly 2 hop windows ($hopTotal vs $nEvents)")
  }

  test("cdc_stream_capture: the checkpointed foreachBatch capture lands the " +
      "full replay in the partitioned layout — re-read aggregate == events direct") {
    val got = rows(StreamGrade.streamCapture(spark, dir))
    assert(StreamGrade.batchCount("stream_capture") === 3)
    val want = rows(graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"),
           round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type")))
    assert(got.nonEmpty && got === want)
  }

  test("cdc_stream_sessions: streamed gap sessions == batch session_window, " +
      "MERGING sessions across micro-batch boundaries") {
    val got = rows(StreamGrade.streamSessions(spark, dir))
    assert(StreamGrade.batchCount("stream_sessions") === 3)
    val want = rows(graft.rel.RelQueries.queries("events_session_native")(spark, dir))
    assert(got.nonEmpty && got === want)
  }

  test("cdc_stream_user_features: final re-emission per user == batch aggregate") {
    val got = rows(StreamGrade.streamUserFeatures(spark, dir))
    assert(StreamGrade.batchCount("stream_user_features") === 3)
    val want = rows(graft.Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
           round(sum(col("value")), 2).as("total_value"),
           max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("user_id")))
    assert(got.nonEmpty && got === want)
  }

  test("doc_stream_neardup: live LSH pair emissions == batch minhash_pairs, across 3 crawl batches") {
    val got = rows(StreamGrade.streamNearDup(spark, dir))
    assert(StreamGrade.batchCount("stream_neardup") === 3)
    val want = rows(graft.llm.HashDedup.queries("minhash_pairs")(spark, dir))
    assert(got === want)
  }

  test("doc_stream_vocab_novelty: one emission per (source, token) at its first sighting") {
    val got = rows(StreamGrade.streamVocabNovelty(spark, dir))
    assert(StreamGrade.batchCount("stream_vocab_novelty") === 3)
    val want = rows(graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
      .select(col("source"), col("tok"), col("first_doc"))
      .orderBy(col("source"), col("tok")))
    assert(got.nonEmpty && got === want)
  }

  test("doc_stream_incr_neardup: streamed increment probes == batch incremental_neardup") {
    val got = rows(StreamGrade.streamIncrNearDup(spark, dir))
    assert(StreamGrade.batchCount("stream_incr_neardup") >= 1) // increment rows may skip empty slices
    val want = rows(graft.llm.HashDedup.queries("incremental_neardup")(spark, dir))
    assert(got === want)
  }

  test("doc_stream_logreg: the 3-slice mini-batch SGD trajectory emits one " +
      "update per crawl batch, cumulative counts covering the corpus") {
    val out = StreamGrade.streamLogreg(spark, dir).collect()
    assert(StreamGrade.batchCount("stream_logreg") === 3)
    assert(out.length === 3, "one weight update per mini-batch")
    val nTotal = graft.Tables.documents(spark, dir).count()
    assert(out.map(_.getLong(0)).toSeq == out.map(_.getLong(0)).toSeq.sorted)
    assert(out.last.getLong(0) === nTotal, "final n_seen covers the corpus")
  }

  test("cdc_stream_rpc: timer-fired outcomes == event-time arithmetic, both codes present") {
    val out = StreamGrade.streamRpc(spark, dir).collect()
    val codes = out.map(_.getLong(1)).toSet
    assert(codes === Set(200L, 408L), s"both outcomes must occur, got $codes")
    // event-time model: 200 iff the %8==1 successor exists; 408 iff
    // unanswered AND deadline < the message stream's max ts; else silent
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("user_id"))
    val msgs = ev.filter(col("event_id") % 4 === 0 || col("event_id") % 8 === 1)
    val maxTs = msgs.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val reqs = ev.filter(col("event_id") % 4 === 0)
      .select(col("event_id").as("req_id"), unix_micros(col("ts")).as("rus"))
    val res = ev.filter(col("event_id") % 8 === 1)
      .select((col("event_id") - 1).as("req_id"), col("event_id").as("res_id"))
    val want = reqs.join(res, Seq("req_id"), "left")
      .filter(col("res_id").isNotNull ||
        col("rus") + 5L * 24 * 3600 * 1000000 < maxTs)
      .select(col("req_id"),
        when(col("res_id").isNotNull, 200L).otherwise(408L).as("code"))
      .orderBy(col("req_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === want)
  }

  test("cdc_stream_take: the take(5) gate caps per-sub delivery ACROSS micro-batches, " +
      "zero-delivery subs kept") {
    val got = StreamGrade.streamTake(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(StreamGrade.batchCount("stream_take") === 3)
    val bus = graft.Tables.bus(spark, dir)
    val want = graft.cdc.CdcBus.subs.map { case (n, p) =>
      val m = bus.filter(
        graft.functions.GraftFunctions.mqtt_matches(lit(p), col("channel"))).count()
      (n, math.min(m, 5L))
    }.sortBy(_._1)
    assert(got === want)
    // both regimes must be exercised: a silent sub stays at 0, a busy
    // sub is capped at exactly 5 (its slice-1 matches alone exceed 5)
    assert(want.exists(_._2 == 0L) && want.exists(_._2 == 5L))
  }

  test("cdc_stream_rpc_join: stream-stream interval join == the event-time twin, " +
      "and the 30-min window excludes real pairs") {
    import org.apache.spark.sql.functions.expr
    val got = rows(StreamGrade.streamRpcJoin(spark, dir))
    assert(StreamGrade.batchCount("stream_rpc_join") === 3)
    val bus = graft.Tables.bus(spark, dir)
    val reqs = bus.filter(col("event_id") % 4 === 0)
      .select(col("event_id").as("req_id"), col("ts").as("req_ts"))
    val ress = bus.filter(col("event_id") % 8 === 1)
      .select((col("event_id") - 1).as("req_id"), col("ts").as("res_ts"),
              col("channel").as("res_channel"))
    val all = reqs.join(ress, Seq("req_id"))
    val want = rows(all
      .filter(col("res_ts") >= col("req_ts") &&
        col("res_ts") <= col("req_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("req_id"), col("req_ts"), col("res_ts"), col("res_channel"))
      .orderBy(col("req_id"), col("res_ts")))
    assert(got.nonEmpty && got === want)
    // the window must do real work: some correlated pairs fall outside it
    assert(all.count() > want.length, "every pair inside the window — widen the test")
  }

  test("cdc_stream_enrich: stream-static broadcast enrichment + complete-mode " +
      "rollup == the batch join") {
    val got = rows(StreamGrade.streamEnrich(spark, dir))
    assert(StreamGrade.batchCount("stream_enrich") === 3)
    val want = rows(graft.Tables.bus(spark, dir)
      .join(graft.Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
        Seq("user_id"), "left")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type")))
    assert(got.nonEmpty && got === want)
  }

  test("cdc_stream_asof: stream-static broadcast as-of enrichment == the batch " +
      "native operator, across 3 micro-batches") {
    val got = rows(StreamGrade.streamAsOfEnrich(spark, dir))
    assert(StreamGrade.batchCount("stream_asof") === 3)
    val want = rows(graft.rel.RelQueries.queries("asof_native")(spark, dir))
    assert(got.nonEmpty && got === want)
    // the enrichment does real work: matched and unmatched probes both occur
    val matched = StreamGrade.streamAsOfEnrich(spark, dir)
      .filter(col("last_click_id").isNotNull).count()
    val total = want.length
    assert(matched > 0 && matched < total,
      s"degenerate corpus: $matched of $total purchases matched")
  }

  test("cdc_stream_asof_join: stream-STREAM as-of == the batch native operator " +
      "on the watermark-covered prefix, across 3 micro-batches") {
    val got = rows(StreamGrade.streamAsOfJoin(spark, dir))
    assert(StreamGrade.batchCount("stream_asof_join") === 3)
    // the stream's final watermark: ms-floor of max event time over the
    // purchase+click subset it actually carried (delay 0)
    val wmUs = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .agg(expr("max(unix_micros(ts))")).head.getLong(0) / 1000L * 1000L
    val want = rows(graft.rel.RelQueries.queries("asof_native")(spark, dir)
      .filter(expr(s"unix_micros(purchase_ts) < $wmUs")))
    assert(got.nonEmpty && got === want)
    // real work on both sides of the outer join
    val matched = StreamGrade.streamAsOfJoin(spark, dir)
      .filter(col("last_click_id").isNotNull).count()
    assert(matched > 0 && matched < want.length,
      s"degenerate corpus: $matched of ${want.length} purchases matched")
  }

  test("cdc_stream_rpc_outer: left-outer interval join — 200s on arrival, 408s by " +
      "watermark eviction, unanswered tail held in state") {
    import org.apache.spark.sql.functions.expr
    val out = StreamGrade.streamRpcOuter(spark, dir).collect()
    assert(StreamGrade.batchCount("stream_rpc_outer") === 3)
    val codes = out.map(_.getLong(3)).toSet
    assert(codes === Set(200L, 408L), s"both outcomes must occur, got $codes")
    val bus = graft.Tables.bus(spark, dir)
    val reqs = bus.filter(col("event_id") % 4 === 0)
      .select(col("event_id").as("req_id"), col("ts").as("req_ts"))
    val ress = bus.filter(col("event_id") % 8 === 1)
      .select((col("event_id") - 1).as("rid"), col("ts").as("res_ts"), col("channel"))
    val t = expr("INTERVAL 30 MINUTES")
    val mr = reqs.agg(max(col("req_ts"))).head.getTimestamp(0)
    val ms = ress.agg(max(col("res_ts"))).head.getTimestamp(0)
    val wm = if (mr.before(ms)) mr else ms
    val matched = reqs.join(ress, col("req_id") === col("rid") &&
        col("res_ts") >= col("req_ts") && col("res_ts") <= col("req_ts") + t)
      .select(col("req_id"), col("req_ts"), col("channel").as("res_channel"),
        lit(200L).as("code"))
    val timeouts = reqs.join(matched.select(col("req_id").as("mid")),
        col("req_id") === col("mid"), "left_anti")
      .filter(col("req_ts") + t < lit(wm) - t)
      .select(col("req_id"), col("req_ts"), lit("__timeout__").as("res_channel"),
        lit(408L).as("code"))
    val want = rows(matched.unionByName(timeouts).orderBy(col("req_id"), col("req_ts")))
    assert(out.map(_.toString).toSeq === want)
    // the tail does real work: some unanswered requests are newer than
    // the eviction horizon and must NOT have emitted
    val allUnmatched = reqs.join(matched.select(col("req_id").as("mid")),
      col("req_id") === col("mid"), "left_anti").count()
    assert(allUnmatched > out.count(_.getLong(3) == 408L),
      "every unanswered request emitted — the watermark tail is vacuous")
  }

  test("doc_stream_substring_dup: live winnowing-gate emission counts == batch " +
      "winnow_pairs shared-fingerprint counts") {
    val got = rows(StreamGrade.streamSubstringDup(spark, dir))
    assert(StreamGrade.batchCount("stream_subdup") === 3)
    val want = rows(graft.llm.HashDedup.queries("winnow_pairs")(spark, dir))
    assert(got === want)
  }

  test("doc_stream_pipeline: the composed live gates (rep claim + near-dup + length) " +
      "== the batch pipeline_kept audit") {
    val ambient = spark.conf.get("spark.sql.shuffle.partitions")
    val got = rows(StreamGrade.streamPipeline(spark, dir))
    // its two concurrent sinks share one conf window: neither restores
    // the other's setting, so the ambient one comes back
    assert(spark.conf.get("spark.sql.shuffle.partitions") === ambient)
    assert(StreamGrade.batchCount("stream_pipe_pairs") === 3)
    val want = rows(graft.llm.HashDedup.queries("pipeline_kept")(spark, dir))
    assert(got.nonEmpty && got === want)
  }

  test("doc_stream_cms: the streaming-maintained CMS grid serves the batch audit " +
      "bit-identically") {
    val got = rows(StreamGrade.streamCms(spark, dir))
    assert(StreamGrade.batchCount("stream_cms") === 3)
    val want = rows(graft.llm.TextOps.queries("cms_heavy_hitters")(spark, dir))
    assert(got.nonEmpty && got === want)
  }

  test("doc_stream_mix_shift: final live TV drift per source == the batch mix_shift audit") {
    val got = rows(StreamGrade.streamMixShift(spark, dir))
    assert(StreamGrade.batchCount("stream_mix_shift") === 3)
    val want = rows(graft.llm.TextOps.queries("mix_shift")(spark, dir)
      .filter(col("tv_dist").isNotNull)
      .select(col("source"), col("n_t_occ").as("n_occ"), col("tv_dist"))
      .orderBy(col("source")))
    assert(got.nonEmpty && got === want)
  }

  test("emb_stream_centroid_drift: final live drift per label == the batch " +
      "embed_centroid_drift audit") {
    val got = rows(StreamGrade.streamCentroidDrift(spark, dir))
    assert(StreamGrade.batchCount("stream_centroid_drift") === 3)
    val want = rows(graft.llm.VectorOps.queries("embed_centroid_drift")(spark, dir)
      .select(col("label"), col("n_b").as("n_seen"), col("drift"))
      .orderBy(col("label")))
    assert(got.nonEmpty && got === want)
  }

  test("mm_stream_phash_dup: live pHash-banded pair emissions score to the " +
      "batch band join's near set, across 3 crawl batches") {
    val got = rows(StreamGrade.streamPhashDup(spark, dir))
    assert(StreamGrade.batchCount("stream_mm_phash") === 3)
    // batch twin in Spark: distinct band-join pairs, hamming <= 3
    val banded = graft.llm.Multimodal.phashArrivals(
      graft.Tables.documents(spark, dir))
    val sigs = graft.llm.Multimodal.phashSigs(spark, dir)
    val x = banded.select(col("doc_id").as("a"), col("band_id"), col("bh"))
    val y = banded.select(col("doc_id").as("b"), col("band_id"), col("bh"))
    val want = rows(x.join(y, Seq("band_id", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
      .withColumn("ham", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("ham") <= 3)
      .select(col("a"), col("b"), col("ham"))
      .orderBy(col("a"), col("b")))
    assert(got.nonEmpty && got === want)
  }

  test("emb_stream_ann: live-served top-3 per arriving query == the batch IVF " +
      "probe over the same halves, across 3 micro-batches") {
    val got = rows(StreamGrade.streamAnn(spark, dir))
    assert(StreamGrade.batchCount("stream_ann") === 3)
    // batch twin: route each sampled query to 2 cells of the even-half
    // corpus, rank candidates (cos desc, vec_id)
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.embeddings(spark, dir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("n2", expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0d, (a, x) -> a + x)"))
    val ee = e.filter(col("vec_id") % 2 === 0)
    val q = e.filter(col("vec_id") % 26 === 1 && col("n2") > 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val cents = ee
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("xq", floor(col("x") * 1000).cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("xq")).cast("double") / count(lit(1)) / 1000d).as("m"))
      .groupBy(col("label").as("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("cv"))
      .withColumn("cn2", expr("aggregate(zip_with(cv, cv, (x, y) -> x * y), 0d, (a, x) -> a + x)"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("cellcos").desc, col("cell"))
    val routed = q.crossJoin(broadcast(cents))
      .withColumn("cellcos",
        expr("aggregate(zip_with(qv, cv, (x, y) -> x * y), 0d, (a, x) -> a + x)")
          / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("crk", row_number().over(wc)).filter(col("crk") <= 2)
      .select(col("qid"), col("qv"), col("qn2"), col("cell"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    val want = rows(routed
      .join(ee.filter(col("n2") > 0), col("label") === col("cell") && col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        expr("aggregate(zip_with(qv, v, (x, y) -> x * y), 0d, (a, x) -> a + x)")
          / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(wr).cast("long")).filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("cos_raw"), 5).as("cos"))
      .orderBy(col("qid"), col("rank")))
    assert(got.nonEmpty && got === want)
  }

  test("cdc_stream_ts_sim: the live-maintained hourly series serves the " +
      "identical top-3 the batch search computes, across 3 micro-batches") {
    val got = rows(StreamGrade.streamTsSim(spark, dir))
    assert(StreamGrade.batchCount("stream_ts_sim") === 3)
    val want = rows(graft.rel.RelQueries.queries("ts_user_similarity")(spark, dir))
    assert(got.nonEmpty && got === want)
  }

  test("emb_stream_maintained: micro-batch appends build the same index a " +
      "frozen-codebook rebuild would, and a REPLAYED stream is absorbed by " +
      "the journal — the second run serves identical rows") {
    val got = rows(StreamGrade.streamIndexMaint(spark, dir))
    // graded shape: 5 queries x ranks 1..3, deterministic
    assert(got.size === 15)
    // rerun: the bounded stream redelivers every delta micro-batch under
    // its original op id; the journal refuses each (no double-applied
    // codes — doubled ADC sums would reorder the candidates) and the
    // serve is bit-identical
    val again = rows(StreamGrade.streamIndexMaint(spark, dir))
    assert(again === got,
      "a replayed maintenance stream must be absorbed, not re-applied")
  }

  test("cdc_stream_restart_scd2: a SECOND query lifetime recovers the open-version " +
      "state from the checkpoint and completes the identical closed set") {
    val got = StreamGrade.streamRestartScd2(spark, dir).collect()
    val want = graft.cdc.CdcBus.scd2(spark, dir)
      .filter(col("valid_to").isNotNull)
      .select(col("channel"), col("event_id"), col("valid_from"),
              col("valid_to"), col("value"))
      .orderBy(col("channel"), col("valid_from"), col("event_id")).collect()
    assert(got.map(_.toString).toSeq === want.map(_.toString).toSeq)
    // recovery did real work: some version OPENED before the restart cut
    // and CLOSED after it — only correct if the recovered state held it
    val cut = java.sql.Timestamp.valueOf(StreamGrade.cuts(1))
    assert(got.exists(r =>
      r.getTimestamp(2).before(cut) && !r.getTimestamp(3).before(cut)),
      "no version straddles the restart boundary — the recovery claim is vacuous")
  }

  test("each restart row == its uninterrupted sibling, and every query lifetime " +
      "processes data") {
    type Row = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame
    val table: Seq[(String, Row, Row, Int)] = Seq(
      ("cdc_stream_restart_scd2", StreamGrade.streamRestartScd2, StreamGrade.streamScd2, 2),
      ("cdc_stream_restart_ivm", StreamGrade.streamRestartIvm, StreamGrade.streamIvm, 2),
      ("cdc_stream_restart_ivm_minmax", StreamGrade.streamRestartIvmMinMax,
        StreamGrade.streamIvmMinMax, 2),
      ("cdc_stream_restart_ivm_distinct", StreamGrade.streamRestartIvmDistinct,
        StreamGrade.streamIvmDistinct, 2),
      ("cdc_stream_restart_ivm_join", StreamGrade.streamRestartIvmJoin,
        StreamGrade.streamIvmJoin, 2),
      ("cdc_stream_restart_asof", StreamGrade.streamRestartAsOf, StreamGrade.streamAsOfJoin, 2),
      // the third lifetime redelivers the whole stream from a fresh checkpoint
      ("emb_stream_restart_maintained", StreamGrade.streamRestartIndexMaint,
        StreamGrade.streamIndexMaint, 3))
    for ((name, restart, uninterrupted, lifetimes) <- table) {
      val (got, runs) = runsOf(rows(restart(spark, dir)))
      assert(runs.size === lifetimes, s"$name: query lifetimes")
      assert(runs.forall(_.dataBatches > 0), s"$name: a lifetime processed no data: $runs")
      val want = rows(uninterrupted(spark, dir))
      assert(got.nonEmpty && got === want, s"$name differs from its uninterrupted sibling")
    }
  }

  test("the state-store provider of every graded row, called directly, follows its " +
      "plan: RocksDB exactly where the stream holds a transformWithState") {
    val rocks = Set(
      "cdc_stream_scd2", "cdc_stream_gaps", "cdc_stream_rpc", "cdc_stream_take",
      "cdc_stream_user_features", "cdc_stream_asof_join", "cdc_stream_dedup",
      "cdc_stream_ivm", "cdc_stream_ivm_minmax", "cdc_stream_ivm_distinct",
      "cdc_stream_ivm_join", "cdc_stream_restart_scd2", "cdc_stream_restart_asof",
      "cdc_stream_restart_ivm", "cdc_stream_restart_ivm_minmax",
      "cdc_stream_restart_ivm_distinct", "cdc_stream_restart_ivm_join",
      "doc_stream_neardup", "doc_stream_vocab_novelty", "doc_stream_substring_dup",
      "doc_stream_logreg", "doc_stream_mix_shift", "doc_stream_pipeline",
      "emb_stream_centroid_drift", "mm_stream_phash_dup")
    assert(StreamGrade.raw.size === 43 && rocks.subsetOf(StreamGrade.raw.keySet))
    // unset, the key reads as Spark's default provider
    val ambient = spark.conf.get(ProviderKey)
    assert(ambient != RocksClass)
    for ((name, row) <- StreamGrade.raw.toSeq.sortBy(_._1)) {
      val (_, runs) = runsOf(row(spark, dir))
      val want = if (rocks(name)) RocksClass else ambient
      assert(runs.nonEmpty && runs.forall(_.provider.contains(want)), s"$name: $runs")
      assert(spark.conf.get(ProviderKey) === ambient, s"$name leaked its provider")
    }
    // a transformWithState row outside any window restores whatever
    // provider the session held, not Spark's default (this class name is
    // never loaded: the row runs under RocksDB)
    withConf(ProviderKey -> "graft.AmbientProvider") {
      val (_, runs) = runsOf(StreamGrade.streamScd2(spark, dir))
      assert(runs.nonEmpty && runs.forall(_.provider.contains(RocksClass)))
      assert(spark.conf.get(ProviderKey) === "graft.AmbientProvider")
    }
  }

  test("cdc_stream_scd2: streamed closed versions == batch SCD2 closed rows, across 3 micro-batches") {
    val got = rows(StreamGrade.streamScd2(spark, dir))
    assert(StreamGrade.batchCount("stream_scd2") === 3)
    val want = rows(graft.cdc.CdcBus.scd2(spark, dir)
      .filter(col("valid_to").isNotNull)
      .select(col("channel"), col("event_id"), col("valid_from"),
              col("valid_to"), col("value"))
      .orderBy(col("channel"), col("valid_from"), col("event_id")))
    assert(got === want)
  }

  test("a graded run outside a family window restores ambient shuffle partitions, " +
      "also when they equal the grade's own 2") {
    val key = "spark.sql.shuffle.partitions"
    withConf(key -> "2") {
      for (ambient <- Seq("2", "7")) {
        spark.conf.set(key, ambient)
        // one member alone, outside any window
        StreamGrade.streamRpcJoin(spark, dir).collect()
        assert(spark.conf.get(key) === ambient)
      }
      // a whole family under its window: the first member runs its
      // sibling too and parks the result, which the second call consumes
      spark.conf.set(key, "2")
      StreamGrade.queries("cdc_stream_rpc_join")(spark, dir).collect()
      assert(spark.conf.get(key) === "2")
      StreamGrade.queries("cdc_stream_rpc_outer")(spark, dir).collect()
      assert(spark.conf.get(key) === "2")
    }
  }
}

object StreamGradeSpec {
  /** One query lifetime (one run id) started while `runsOf`'s body ran:
    * the session's state-store provider at its start and its
    * data-carrying micro-batch count. */
  final case class Run(provider: Option[String], dataBatches: Int)
}
