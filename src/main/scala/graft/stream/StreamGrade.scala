package graft.stream

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables

/** ORACLE-GATED streaming queries — the reference's native domain
  * (lib/nats.js is entirely streaming semantics: per-subscription
  * counters, the retained-message cache, per-channel version history)
  * driven through the hash-checked correctness gate, not just scalatest.
  *
  * Pattern (the `cdc_wire_tcp` lineage): the events bus is replayed as a
  * BOUNDED STREAM — three time-sliced parquet files consumed oldest-first
  * by the file source under `Trigger.AvailableNow` with
  * `maxFilesPerTrigger=1`, so each graded run executes THREE micro-batches
  * whose state genuinely accumulates/revises across batches — into a
  * memory sink, and the sink is the returned DataFrame. The DuckDB twin
  * computes the same answer from the parquet directly, so the STREAMING
  * engine (stateful aggregation / transformWithState), not its batch
  * shadow, produces the hash-matched rows.
  *
  * Determinism: the graded views are arrival-order-insensitive by
  * construction — counts, `max_by((ts, event_id))` and exact dedup are
  * commutative, and the SCD2/seq-gap gates sort within batch while the
  * slice cut preserves per-channel (and per-type sequence) order ACROSS
  * batches: slices are half-open ts ranges consumed oldest-first, and
  * event_id is monotone in ts on this bus. The dedup grade runs the
  * slices OVERLAPPED — deliberate at-least-once redelivery the gate
  * must absorb.
  */
object StreamGrade {

  // memory-sink names must be unique per invocation (the bench re-runs
  // each query within one JVM)
  private val runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Graded streaming runs mutate shared session conf (shuffle
    * partitions, state-store provider) around a set/restore window; two
    * concurrent EXTERNAL graded invocations in one session would race
    * the restore and leak an override onto unrelated batch queries. The
    * [[queries]]-map entry wrapper serializes on this lock; the family
    * co-schedule below runs its member sinks concurrently INSIDE one
    * lock hold, under ONE conf window. */
  private val gradeLock = new java.util.concurrent.locks.ReentrantLock()

  private val RocksClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The state partition count of every graded streaming run (see
    * [[runToSink]]). */
  private val GradePartitions = "2"

  /** The session whose graded conf window ([[withGradeConf]]) is open
    * on this thread. The members of a family co-schedule and the
    * concurrent sinks of one graded run work on threads started inside
    * the window, which inherit it; they must not set or restore conf
    * themselves, or the last to finish restores the window's value for
    * good. */
  private val openWindow = new InheritableThreadLocal[Option[SparkSession]] {
    override def initialValue(): Option[SparkSession] = None
  }

  /** Run `body` with [[GradePartitions]] shuffle partitions, restoring
    * the prior setting after — or as is, inside `s`'s open window,
    * which already set them. */
  private def withGradePartitions[A](s: SparkSession)(body: => A): A =
    if (openWindow.get.exists(_ eq s)) body
    else {
      val key = "spark.sql.shuffle.partitions"
      val prior = s.conf.getOption(key)
      s.conf.set(key, GradePartitions)
      try body finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
    }

  /** One conf window for a whole graded run (single query or a family
    * co-schedule): [[GradePartitions]] shuffle partitions + optionally
    * the RocksDB provider, set once, restored once — the concurrent
    * member sinks inside never touch conf. */
  private def withGradeConf[A](s: SparkSession, rocksdb: Boolean)(body: => A): A =
    withGradePartitions(s) {
      val outer = openWindow.get
      openWindow.set(Some(s))
      try { if (rocksdb) withRocksDb(s)(body) else body }
      finally openWindow.set(outer)
    }

  /** GRADE FAMILIES — the multi-sink co-schedule (r9 Next #3): graded
    * streaming cost is dominated by per-query fixed overhead (streaming
    * startup, 3-4 micro-batch plans, state-store setup — ~1.3 s floor
    * even for a trivial operator at sf0.1), not the operators. Queries
    * sharing a replay source and a state-store need are grouped; the
    * FIRST member invoked runs ITS OWN sink on the calling thread and
    * every sibling's sink CONCURRENTLY on worker threads (one lock hold,
    * one conf window, local[32] has the headroom), parking sibling
    * results in [[pending]]; a sibling's later invocation consumes its
    * parked result. Every graded operator is still executed by the
    * streaming engine on every pass — the co-schedule only overlaps the
    * fixed overhead, so a family costs ~max(member) wall-clock instead
    * of ~sum(member). Timing attribution: the family's wall-clock bills
    * to the first-invoked member; siblings bill ~0 (the committed bench
    * records this shape). Results are deterministic, so a parked result
    * equals a fresh run bit-for-bit — the oracle gate is unaffected. */
  private val families: Seq[(Set[String], Boolean)] = Seq(
    // bus replay, no transformWithState (default state provider)
    (Set("cdc_stream_counters", "cdc_stream_retained", "cdc_stream_tumbling",
         "cdc_stream_sliding", "cdc_stream_sessions",
         "cdc_stream_enrich", "cdc_stream_asof", "cdc_stream_capture",
         "cdc_stream_ts_sim", "cdc_stream_dtw"), false),
    // bus replay, transformWithState (RocksDB)
    (Set("cdc_stream_scd2", "cdc_stream_gaps", "cdc_stream_rpc",
         "cdc_stream_take", "cdc_stream_user_features",
         "cdc_stream_asof_join", "cdc_stream_ivm",
         "cdc_stream_ivm_minmax", "cdc_stream_ivm_distinct",
         "cdc_stream_ivm_join", "cdc_stream_dedup"), true),
    // bus replay, stream-stream interval joins
    (Set("cdc_stream_rpc_join", "cdc_stream_rpc_outer"), false),
    // document-crawl replay (mixed: the TWS members need RocksDB; the
    // agg/stateless members are provider-agnostic). mm_stream_phash_dup
    // was split OUT of this family (r13 VERDICT Next #6): the r14
    // per-member telemetry showed its sink is the family's critical
    // path (~19 s of the ~19.6 s bill, vs 2-7 s for every doc member),
    // so one line absorbed every transient and hid the other eight —
    // it now bills alone as a RocksDB singleton
    (Set("doc_stream_neardup", "doc_stream_vocab_novelty",
         "doc_stream_substring_dup", "doc_stream_logreg", "doc_stream_cms",
         "doc_stream_mix_shift", "doc_stream_pipeline",
         "doc_stream_incr_neardup"), true),
    // embeddings-crawl replay
    (Set("emb_stream_centroid_drift", "emb_stream_ann",
         "emb_stream_maintained", "emb_stream_maxsim"), true),
    // the restart grades (r16 optimization, guide §2.6 "overlap
    // independent jobs"): each member still runs its OWN two (or
    // three) sequential query lifetimes over its own fresh
    // checkpoint/out dirs — the sequence is the graded recovery
    // semantics and is untouched — but the seven members are mutually
    // independent harnesses, so they overlap under one conf window
    // like every other family instead of paying seven serial
    // stream-startup/lifetime bills (~25 s serial at r16-pre; the
    // family bills ~max(member)). Their shuffle-partition and
    // provider scopes pass through inside the family window.
    (Set("cdc_stream_restart_scd2", "cdc_stream_restart_asof",
         "emb_stream_restart_maintained", "cdc_stream_restart_ivm",
         "cdc_stream_restart_ivm_minmax", "cdc_stream_restart_ivm_distinct",
         "cdc_stream_restart_ivm_join"), true))

  // singletons (no co-schedule): mm_stream_phash_dup bills alone BY
  // ADJUDICATION (r13 VERDICT Next #6: its sink is a family critical
  // path that absorbs every transient and hides sibling drift)
  private val rocksSingletons = Set("mm_stream_phash_dup")

  /** member → billing-family id (the alphabetically first member) for
    * bench artifacts: a co-schedule bills the family's wall-clock to
    * its FIRST-INVOKED member and siblings bill ~0, so any
    * round-over-round comparer must fold members by this map before
    * ratioing — member-level times are attribution noise whenever the
    * catalog gains an alphabetically earlier member. Emitted into the
    * bench JSON (`"families"`) so the artifact is self-describing;
    * `tools/bench_compare.py` folds by it. */
  private[graft] def billingFamilies: Map[String, String] =
    families.flatMap { case (ms, _) => val id = ms.min; ms.map(_ -> id) }.toMap

  private def familyOf(name: String): (Set[String], Boolean) =
    families.find(_._1.contains(name))
      .getOrElse((Set(name), rocksSingletons.contains(name)))

  /** Parked sibling results of a family co-schedule, keyed
    * (query, sf dir); consumed once. Deterministic results make a parked
    * frame identical to a fresh run. */
  private val pending = new java.util.concurrent.ConcurrentHashMap[
    (String, String), scala.util.Try[DataFrame]]()

  /** Per-member concurrent-sink seconds, recorded at every family
    * co-schedule (first member and parked siblings alike) and drained
    * by [[graft.Bench]] into the committed artifact — the family bill
    * stays attributed to the first-invoked member, but member drift is
    * no longer invisible inside it (r13 VERDICT Next #6: a 15 s family
    * line absorbed every box transient and hid which member moved).
    * Times include each member's full sink run under the co-schedule's
    * thread contention, so they sum to MORE than the family wall-clock
    * — they are drift telemetry, not a billing decomposition. */
  private val memberTimes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()

  private def recordMemberTime(name: String, sec: Double): Unit =
    memberTimes.computeIfAbsent(name,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]).add(sec)

  private[graft] def drainMemberTimes(): Map[String, Seq[Double]] = {
    import scala.jdk.CollectionConverters._
    val out = memberTimes.asScala.map { case (k, q) =>
      k -> q.asScala.toSeq
    }.toMap
    memberTimes.clear()
    out
  }

  /** The [[queries]]-map wrapper: lock, consume a parked result if one
    * exists, otherwise run the whole family under one conf window. */
  private def entry(name: String, fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, d) => {
    gradeLock.lock()
    try {
      Option(pending.remove((name, d))) match {
        case Some(t) => t.get
        case None =>
          val (members, rocks) = familyOf(name)
          withGradeConf(s, rocks) {
            val peers = (members - name).toSeq.sorted
            val latch = new java.util.concurrent.CountDownLatch(peers.size)
            peers.foreach { p =>
              val t = new Thread(() => {
                // parked results are MATERIALIZED inside the family's
                // lock hold (localCheckpoint(true)), so a sibling's
                // post-sink batch tail — e.g. mm_stream_phash_dup's
                // signature scoring — bills to the family's wall-clock
                // like everything else, and the sibling's own later
                // invocation is the ~0 the billing contract promises
                // (r12 VERDICT #7: a lazy parked tail showed up as a
                // phantom member-level regression in the raw bench)
                try {
                  val t0 = System.nanoTime()
                  val r = scala.util.Try(raw(p)(s, d).localCheckpoint(true))
                  recordMemberTime(p, (System.nanoTime() - t0) / 1e9)
                  pending.put((p, d), r)
                } finally latch.countDown()
              }, s"grade-$p")
              t.setDaemon(true)
              t.start()
            }
            val t0 = System.nanoTime()
            val mine = scala.util.Try(fn(s, d))
            recordMemberTime(name, (System.nanoTime() - t0) / 1e9)
            if (!latch.await(600, java.util.concurrent.TimeUnit.SECONDS))
              throw new IllegalStateException(s"family of $name did not finish")
            mine.get
          }
      }
    } finally gradeLock.unlock()
  }

  /** Slice boundaries inside the testdata's Jan-2024 span: three
    * non-empty half-open ranges at every sf. */
  private[graft] val cuts = Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00")

  /** Replay the captured bus as a bounded 3-file stream: write time
    * slices with strictly increasing modification times (the file
    * source processes oldest-first), stream them one file per trigger,
    * hand the streaming frame to `body`, and clean up. The slice write
    * is part of the harness, not the graded operator — production would
    * `readStream` the live bus ([[graft.nats.NatsSource]]); this replay
    * exists so the DuckDB oracle can grade the same rows.
    *
    * `overlapDays > 0` widens each later slice's lower bound backwards,
    * REDELIVERING the tail of the previous slice — the harness's
    * at-least-once transport emulation ([[streamDedup]] grades the gate
    * that absorbs it). Slices stay disjoint at 0. */
  // Slice builds are memoized for the JVM: the bench re-runs each
  // streaming query 4× and all 8 graded queries share the disjoint
  // replay — rebuilding identical slice files every invocation would
  // bill ~1 s of harness cost to every run.
  private def busSlices(s: SparkSession, d: String, overlapDays: Int): Path =
    graft.Artifacts.jvm(s"stream.busSlices.$overlapDays", d, "events.parquet")(
      buildSlices(s, d, overlapDays))

  private def buildSlices(s: SparkSession, d: String, overlapDays: Int): Path = {
    val tmp = graft.Artifacts.tempDir("graft_stream_bus_")
    val bus = Tables.bus(s, d)
    def t(c: String): org.apache.spark.sql.Column = lit(c).cast("timestamp")
    def back(c: String): org.apache.spark.sql.Column =
      t(c) - expr(s"INTERVAL $overlapDays DAYS")
    val bounds = Seq(
      col("ts") < t(cuts(0)),
      col("ts") >= back(cuts(0)) && col("ts") < t(cuts(1)),
      col("ts") >= back(cuts(1)))
    val inDir = Files.createDirectory(tmp.resolve("in"))
    val base = System.currentTimeMillis() - 60000L
    bounds.zipWithIndex.foreach { case (pred, i) =>
      import scala.jdk.CollectionConverters._
      val stage = tmp.resolve(s"w_$i")
      bus.filter(pred).coalesce(1).write
        .mode("overwrite").parquet(stage.toString)
      val src = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
      val dst = inDir.resolve(s"slice_$i.parquet")
      Files.move(src, dst)
      // strictly increasing mtimes => oldest-first == ts order
      dst.toFile.setLastModified(base + i * 2000L)
    }
    inDir
  }

  private def withBusStream[A](s: SparkSession, d: String, overlapDays: Int = 0)
                              (body: DataFrame => A): A = {
    val inDir = busSlices(s, d, overlapDays)
    val streamed = s.readStream.schema(Tables.bus(s, d).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
    body(streamed)
  }

  /** Data-carrying micro-batch count per sink base name (the `name`
    * argument of [[runToSink]]) — the spec hook asserting the 3-slice
    * replay genuinely multi-batches (state accumulates ACROSS batches,
    * not one batch in disguise). Keyed per sink, not a last-writer-wins
    * global: family co-schedules and the multi-sink pipeline run sinks
    * CONCURRENTLY, so "the last run's count" is not well defined —
    * "this sink's last count" is. */
  private val batchCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** The data-carrying micro-batch count of sink `name`'s most recent
    * completed run (-1 if it never ran in this JVM). */
  private[graft] def batchCount(name: String): Int =
    batchCounts.getOrDefault(name, -1)

  /** Run a streaming frame to completion under `Trigger.AvailableNow`
    * into a uniquely-named memory sink; return the sink table.
    *
    * The streaming query plans with 2 shuffle partitions (scoped —
    * restored after stop): state-store INSTANCES scale with the state
    * partition count (a stream-stream join opens four per partition,
    * per micro-batch), and at the graded replay's row volume the
    * per-instance open/commit overhead dominates — measured at sf0.1,
    * 32 partitions cost ~12 s, 8 ~2.6 s, 2 ~2.0 s per graded query
    * (1 is no better: the residual is per-micro-batch planning, not
    * stores). Every graded view is an order-insensitive reduction, so
    * the partition count cannot change a result. A production
    * deployment sizes this to its state volume; the replay's state is
    * tiny. */
  private def runToSink(s: SparkSession, out: DataFrame, mode: String,
                        name: String): DataFrame = {
    val sink = s"${name}_${runs.incrementAndGet()}"
    withGradePartitions(s) {
      val q = out.writeStream.outputMode(mode).format("memory")
        .queryName(sink).trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException(s"streaming query $sink did not finish")
        batchCounts.put(name, q.recentProgress.count(_.numInputRows > 0L))
        // measurement hook (guide §1): SPARK_GRAFT_STREAM_PROGRESS=1 dumps
        // each micro-batch's durationMs breakdown so the per-lifetime fixed
        // costs (planning, state commit, walCommit) are visible per batch
        if (sys.env.get("SPARK_GRAFT_STREAM_PROGRESS").contains("1"))
          q.recentProgress.foreach { p =>
            System.err.println(s"progress $sink batch=${p.batchId} " +
              s"rows=${p.numInputRows} durationMs=${p.durationMs}")
            p.stateOperators.foreach { so =>
              System.err.println(s"progress $sink batch=${p.batchId} stateOp=" +
                s"${so.operatorName} commitMs=${so.commitTimeMs} " +
                s"procMs=${so.allUpdatesTimeMs} removalMs=${so.allRemovalsTimeMs} " +
                s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes} " +
                s"custom=${so.customMetrics}")
            }
          }
      } finally q.stop()
    }
    s.table(sink)
  }

  /** Scope the RocksDB state store provider (required by
    * `transformWithState`) to `body`, restoring the prior provider — and
    * unload the loaded providers afterwards so the RocksDB maintenance
    * thread never races JVM shutdown (the StreamingSpec discipline). */
  private def withRocksDb[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // already preset by the family window — a concurrent member thread
    // must neither restore conf nor unload stores mid-family
    if (s.conf.getOption(key).contains(RocksClass)) body
    else {
      val prior = s.conf.getOption(key)
      s.conf.set(key, RocksClass)
      try body
      finally {
        prior.fold(s.conf.unset(key))(s.conf.set(key, _))
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      }
    }
  }

  /** STREAMING per-subscription delivery counters, graded: the
    * reference's `sub.received += 1` (lib/nats.js:97) executed by the
    * streaming engine — the k-way trie dispatch runs map-side on each
    * micro-batch and the running `groupBy(pattern).count()` state REVISES
    * across the three batches (complete mode); the sink holds the final
    * revision. Shares [[graft.cdc.CdcBus.subCounters]]'s oracle shape:
    * the ≤k-row counter table broadcast-joins back onto the subscription
    * dim so zero-delivery subs surface as 0. */
  def streamCounters(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      val counts = runToSink(s,
        Streams.subCounters(busStream, graft.cdc.CdcBus.subs.map(_._2)),
        "complete", "stream_counters")
      graft.cdc.CdcBus.subs.toDF("sub", "pattern")
        .join(broadcast(counts), Seq("pattern"), "left")
        .select(col("sub"), coalesce(col("received"), lit(0L)).as("received"))
        .orderBy(col("sub"))
    }

  /** STREAMING time-series similarity state (the EDBT'19 setting: the
    * series index lives in the stream processor): the per-(user, hour)
    * integer series `ts_user_similarity` searches is MAINTAINED LIVE —
    * a complete-mode aggregation revising across the three
    * micro-batches, exact because the per-row floor quantization
    * commutes with the running sum — and the FINAL state serves the
    * identical top-3 ranking through the shared densify-and-rank tail.
    * Twin: ts_user_similarity's, verbatim — the hash proves the live
    * state equals the batch-built series to the last integer. */
  def streamTsSim(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val series = runToSink(s,
        busStream
          .groupBy(col("user_id"), hour(col("ts")).cast("int").as("h"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("x")),
        "complete", "stream_ts_sim")
      graft.rel.RelQueries.tsRankFromSeries(s, series)
    }

  /** LIVE-MAINTAINED banded-DTW search, graded: [[streamTsSim]]'s
    * complete-mode integer series state (per-(user, hour) exact sums,
    * revised across the three micro-batches) served through the
    * warping-tolerant rank tail instead of lockstep L2 —
    * [[graft.rel.RelQueries.tsDtwRankFromSeries]], shared verbatim
    * with the batch `ts_dtw_topk`, whose twin grades the whole
    * composition. Completes the family symmetry: ts_user_similarity ↔
    * cdc_stream_ts_sim :: ts_dtw_topk ↔ cdc_stream_dtw. */
  def streamDtw(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val series = runToSink(s,
        busStream
          .groupBy(col("user_id"), hour(col("ts")).cast("int").as("h"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("x")),
        "complete", "stream_dtw")
      graft.rel.RelQueries.tsDtwRankFromSeries(s, series)
    }

  /** STREAMING retained-message cache, graded: the last-value cache a
    * new subscriber receives ([[graft.cdc.CdcBus.retained]]'s semantics)
    * as a continuously-revising `max_by` aggregation — state is one row
    * per channel, revised across the three micro-batches; the sink's
    * final revision hash-matches the batch window-rank twin. */
  def streamRetained(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val cache = runToSink(s,
        Streams.retained(busStream.filter(col("user_id") < 20)),
        "complete", "stream_retained")
      cache.select(col("channel"), col("event_id"), col("ts"),
          round(col("value"), 2).as("value"))
        .orderBy(col("channel"))
    }

  /** STREAMING SCD2, graded: [[Streams.scd2Stream]]'s per-channel
    * version gate (transformWithState + RocksDB) emits each version row
    * THE MOMENT the channel's next event closes it — the open version
    * rides ValueState across micro-batch boundaries, so a version opened
    * in slice 1 and closed in slice 3 proves genuine cross-batch state.
    * The sink accumulates closed intervals in append mode; the DuckDB
    * twin is the batch SCD2 restricted to closed rows
    * (`valid_to IS NOT NULL` — a stream cannot emit the still-open
    * version, which is exactly the state). */
  def streamScd2(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val typed = busStream.filter(col("user_id") < 20)
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val closed = withRocksDb(s) {
        runToSink(s, Streams.scd2Stream(typed).toDF(), "append", "stream_scd2")
      }
      closed.select(col("channel"), col("event_id"), col("valid_from"),
          col("valid_to"), round(col("value"), 2).as("value"))
        .orderBy(col("channel"), col("valid_from"), col("event_id"))
    }

  /** STREAMING IVM changelog, graded (`cdc_stream_ivm`): the batch
    * retract/insert rule (`cdc_ivm_agg`) executed LIVE as a
    * retraction stream — [[Streams.IvmChangelogGate]] keeps each
    * channel's current value in exact cents and emits ONE `new − old`
    * adjustment per (channel, batch) in APPEND mode; the sink is the
    * CHANGELOG, and the graded view is its fold (Σ dcents telescopes
    * to each channel's final value, Σ dn counts first-sights), which
    * must hash-match the FULL-RECOMPUTE twin shared with the batch IVM
    * rows. This is the production warehouse-feed shape: the stream
    * ships deltas, the consumer folds them — state one 3-long row per
    * channel, emissions bounded by touched channels per batch, never a
    * complete-mode re-emission of the whole view. */
  def streamIvm(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val typed = busStream
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val deltas = withRocksDb(s) {
        runToSink(s, Streams.ivmChangelog(typed).toDF(), "append",
          "stream_ivm")
      }
      deltas.groupBy(col("event_type"))
        .agg(sum(col("dn")).as("n_channels"),
             sum(col("dcents")).as("total_cents"))
        .orderBy(col("event_type"))
    }

  /** STREAMING MIN/MAX view maintenance, graded: the live form of
    * `cdc_ivm_minmax` — [[Streams.minmaxChangelog]] emits each
    * channel's accepted value transitions (MIN/MAX is not
    * self-maintainable, so the changelog carries channel state, not
    * scalar deltas), and the consumer reconstructs the per-channel
    * state relation from the changelog (argmax over each channel's
    * (ts_us, event_id)-stamped transitions) and derives the group
    * extremes from it — exactly what a downstream maintainer of a
    * MIN/MAX view must hold. Twin: the full recompute at the bus head
    * ([[graft.cdc.CdcBus.IvmMinMaxRecomputeTwin]], shared verbatim
    * with the batch row) — the changelog reconstruction invents
    * nothing, whatever the batching. */
  def streamIvmMinMax(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val typed = busStream
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val log = withRocksDb(s) {
        runToSink(s, Streams.minmaxChangelog(typed).toDF(), "append",
          "stream_ivm_minmax")
      }
      minmaxFold(log).orderBy(col("event_type"))
    }

  /** Reconstruct the per-channel state relation from the appended
    * value-transition changelog (argmax over each channel's (ts_us,
    * event_id)-stamped transitions) and derive the group MIN/MAX view
    * from it. */
  private def minmaxFold(log: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
           max(col("cents")).as("max_cents"),
           min(col("cents")).as("min_cents"))
  }

  /** The DISTINCT-COUNT consumer of the SAME changelog — the point the
    * distinct tiers exist to make: ONE value-transition changelog
    * ([[Streams.MinMaxChangelogGate]]) serves EVERY
    * non-self-maintainable downstream view. Distinct-count, like
    * MIN/MAX, cannot fold scalar deltas (retracting a value's LAST
    * holder decrements the count, retracting one of several holders
    * does not — invisible to the view alone), so the consumer
    * reconstructs the per-channel state relation and counts distinct
    * current values per group; the changelog side needs nothing new.
    * The last-holder poison transition is pinned by StreamingSpec. */
  private[graft] def distinctFold(log: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
           countDistinct(col("cents")).as("n_distinct"))
  }

  /** STREAMING DISTINCT-COUNT view maintenance, graded
    * (`cdc_stream_ivm_distinct`, r15 VERDICT Next #2): the live tier of
    * `cdc_ivm_distinct` — the value-transition changelog (shared with
    * the MIN/MAX tier; see [[distinctFold]] for why the SAME changelog
    * is the correct feed) folded into per-group distinct current
    * values. Twin: the full recompute at the bus head
    * ([[graft.cdc.CdcBus.IvmDistinctRecomputeTwin]], shared verbatim
    * with the batch row). */
  def streamIvmDistinct(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val typed = busStream
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val log = withRocksDb(s) {
        runToSink(s, Streams.minmaxChangelog(typed).toDF(), "append",
          "stream_ivm_distinct")
      }
      distinctFold(log).orderBy(col("event_type"))
    }

  /** STREAMING JOIN-VIEW maintenance, graded (`cdc_stream_ivm_join`,
    * r16): the live tier of `cdc_ivm_join` — the SAME value-transition
    * changelog the MIN/MAX and distinct tiers ride (one log serves
    * every non-self-maintainable downstream view, now including the
    * two-relation one) folded by
    * [[graft.cdc.CdcBus.ivmJoinFold]] into the per-bucket joined
    * purchase×click pair count and exact-cents pair total. Twin: the
    * full recompute at the bus head
    * ([[graft.cdc.CdcBus.IvmJoinRecomputeTwin]], shared verbatim with
    * the batch rows). */
  def streamIvmJoin(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val typed = busStream
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val log = withRocksDb(s) {
        runToSink(s, Streams.minmaxChangelog(typed).toDF(), "append",
          "stream_ivm_join")
      }
      graft.cdc.CdcBus.ivmJoinFold(log).orderBy(col("grp"))
    }

  /** STREAMING sequence-gap audit, graded: [[Streams.seqGapStream]]'s
    * per-sub-stream high-water gate emits a gap row THE MOMENT the
    * message after a hole arrives. Safe across the 3-batch replay
    * because event_id is monotone in ts on this bus (verified), so the
    * ts slicing preserves per-type sequence order and the gate's
    * in-order contract holds exactly as it would on a FIFO transport.
    * The DuckDB twin derives the same gap rows with one lag window. */
  def streamGaps(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val typed = busStream
        .select(col("event_type").as("_1"), col("event_id").as("_2"))
        .as[(String, Long)]
      val gaps = withRocksDb(s) {
        runToSink(s, Streams.seqGapStream(typed).toDF(), "append", "stream_gaps")
      }
      gaps.select(col("event_type"), col("prev_seq"), col("next_seq"), col("missing"))
        .orderBy(col("event_type"), col("next_seq"))
    }

  /** STREAMING exact-dedup under at-least-once REDELIVERY, graded: the
    * replay overlaps each slice 2 days back, so the transport delivers
    * the previous slice's tail AGAIN (~thousands of duplicate frames);
    * [[Streams.dedupStream]]'s watermark-bounded gate must restore
    * exactly-once before the aggregate — the DuckDB twin computes from
    * the parquet, which never had duplicates, so any frame counted twice
    * (or dropped) breaks the hash. The overlap sits INSIDE the 2-day
    * allowed lateness, so duplicates are absorbed by dedup STATE, not by
    * the late-row filter. The gate is a `transformWithState` (RocksDB). */
  def streamDedup(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d, overlapDays = 2) { busStream =>
      val once = withRocksDb(s) {
        runToSink(s, Streams.dedupStream(busStream, watermark = "2 days"),
          "append", "stream_dedup")
      }
      once.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_users"),
             round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type"))
    }

  /** STREAMING tumbling event-time windows, graded: the watermarked
    * 5-minute window counts ([[Streams.tumblingCounts]]) revise across
    * the three micro-batches in complete mode — the windowed-aggregation
    * family's first hash-checked row (it was scalatest-only before r9).
    * The twin floors the epoch to the same 5-minute grid. */
  def streamTumbling(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val wins = runToSink(s, Streams.tumblingCounts(busStream),
        "complete", "stream_tumbling")
      wins.select(col("w_start"), col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))
    }

  /** STREAMING sliding event-time windows, graded: the watermarked
    * 1-hour/30-minute hop counts ([[Streams.slidingCounts]]) revise
    * across the three micro-batches in complete mode — each event feeds
    * TWO concurrently-open windows, the overlap state the tumbling
    * grade never exercises. Shares the batch `events_sliding` twin
    * verbatim (each event unnested into its 2 hop windows). */
  def streamSliding(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val wins = runToSink(s, Streams.slidingCounts(busStream),
        "complete", "stream_sliding")
      wins.select(col("w_start"), col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))
    }

  /** STREAMING session windows, graded: gap-based per-user sessions
    * ([[Streams.sessionCounts]], 30-minute gap) built by the streaming
    * engine's session-merge state across the three micro-batches — a
    * session straddling a slice boundary MUST merge, which is exactly
    * the state machinery the batch shadow never exercises. Shares the
    * batch `events_session_native` oracle verbatim. */
  def streamSessions(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val sess = runToSink(s, Streams.sessionCounts(busStream),
        "complete", "stream_sessions")
      sess.select(col("s_start"), col("s_end"), col("user_id"), col("n"))
        .orderBy(col("user_id"), col("s_start"))
    }

  /** STREAMING feature store, graded: [[Streams.userFeaturesStream]]
    * re-emits a user's running feature row on every micro-batch that
    * touches the user; the LATEST emission per user (greatest n_events —
    * strictly increasing per touch) must equal the batch aggregate the
    * twin computes from parquet. This grades the live serving path: the
    * row an online ranker would read after the final batch. */
  def streamUserFeatures(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      implicit val ss: SparkSession = s
      val feats = withRocksDb(s) {
        runToSink(s, Streams.userFeaturesStream(busStream).toDF(),
          "append", "stream_user_features")
      }
      feats.groupBy(col("user_id"))
        .agg(max_by(
          struct(col("n_events"), col("n_purchases"),
                 col("total_value"), col("last_us")),
          col("n_events")).as("f"))
        .select(col("user_id"), col("f.n_events").as("n_events"),
                col("f.n_purchases").as("n_purchases"),
                col("f.total_value").as("total_value"),
                col("f.last_us").as("last_us"))
        .orderBy(col("user_id"))
    }

  /** STREAMING RPC, graded: [[Streams.rpcStream]]'s per-request state
    * machine — first-response-wins 200, event-time TIMER-fired 408, and
    * the tombstone discipline — producing hash-checked outcomes. The
    * conversation stream derives from the bus: every event_id % 4 == 0
    * is a request; only the % 8 == 0 half gets a response (the % 8 == 1
    * successor event), so both codes are exercised. The 5-day timeout
    * dwarfs every adjacent-event gap AND every slice-boundary lag, so
    * the outcome is pure event-time arithmetic the twin reproduces:
    * 200 with the response payload when a response exists, 408 once the
    * final watermark passes the request's deadline, and NO row for the
    * unanswered tail the watermark never reaches — exactly what a
    * restarted consumer would see. (The watermark is the max ts of the
    * FILTERED message stream — the twin's `mx` mirrors that, not the
    * bus max.) */
  def streamRpc(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val msgs = busStream
        .filter(col("event_id") % 4 === 0 || col("event_id") % 8 === 1)
        .select(
          when(col("event_id") % 8 === 1, col("event_id") - 1)
            .otherwise(col("event_id")).as("req_id"),
          when(col("event_id") % 8 === 1, lit("res"))
            .otherwise(lit("req")).as("kind"),
          col("ts"), col("event_id"), col("channel").as("payload"))
        .as[Streams.RpcMsg]
      val outcomes = withRocksDb(s) {
        runToSink(s,
          Streams.rpcStream(msgs, timeoutMs = 5L * 24 * 3600 * 1000).toDF(),
          "append", "stream_rpc")
      }
      outcomes.select(col("req_id"), col("code"), col("event_id"), col("payload"))
        .orderBy(col("req_id"))
    }

  /** STREAMING take(n)/auto-unsubscribe, graded: the reference's core
    * subscription contract (lib/nats.js:98-107) live — each bus event
    * dispatches MAP-SIDE to every matching subscription (the same
    * pattern set as the batch counters) and [[Streams.takeNPerKey]]'s
    * per-subscription ValueState count-gate stops delivery at 5 ACROSS
    * micro-batches: a sub that drank 3 in slice 1 gets at most 2 more,
    * ever. Within-batch arrival order at the state operator is not
    * deterministic under a parallel shuffle, so the graded view is the
    * ORDER-INSENSITIVE delivery count — the cap contract itself,
    * `least(matching, 5)` per subscription with zero-delivery subs kept
    * (the reference keeps silent subs alive). The exact
    * first-n-by-arrival selection is pinned by StreamingSpec's in-order
    * and randomized replays. */
  def streamTake(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      val pats = graft.cdc.CdcBus.subs
      val subCol = explode(filter(array(pats.map { case (n, p) =>
        when(graft.functions.GraftFunctions.mqtt_matches(lit(p), col("channel")), lit(n))
      }: _*), x => x.isNotNull))
      val typed = busStream
        .select(subCol.as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val taken = withRocksDb(s) {
        runToSink(s, Streams.takeNPerKey(typed, max = 5).toDF(), "append", "stream_take")
      }
      pats.toDF("sub", "pattern")
        .join(broadcast(taken.groupBy(col("sub")).agg(count(lit(1)).as("delivered"))),
          Seq("sub"), "left")
        .select(col("sub"), coalesce(col("delivered"), lit(0L)).as("delivered"))
        .orderBy(col("sub"))
    }

  // ---- document-stream grades: the ingestion-pipeline gates live ----

  /** Replay the documents table as a bounded 3-file stream sliced by
    * doc_id thirds (crawl arrival order) — the ingestion-side twin of
    * [[withBusStream]], feeding the live dedup/novelty gates. */
  private def withDocStream[A](s: SparkSession, d: String)(body: DataFrame => A): A = {
    val docs = Tables.documents(s, d)
    val inDir = graft.Artifacts.jvm("stream.docSlices", d, "documents.parquet") {
      val tmp = graft.Artifacts.tempDir("graft_stream_docs_")
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val bounds = Seq(
        col("doc_id") < mx / 3,
        col("doc_id") >= mx / 3 && col("doc_id") < 2 * mx / 3,
        col("doc_id") >= 2 * mx / 3)
      val in = Files.createDirectory(tmp.resolve("in"))
      val base = System.currentTimeMillis() - 60000L
      bounds.zipWithIndex.foreach { case (pred, i) =>
        import scala.jdk.CollectionConverters._
        val stage = tmp.resolve(s"w_$i")
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val src = Files.list(stage).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
        val dst = in.resolve(s"slice_$i.parquet")
        Files.move(src, dst)
        dst.toFile.setLastModified(base + i * 2000L)
      }
      in
    }
    body(s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString))
  }

  /** STREAMING MinHash-LSH near-dup gate, graded: every arriving doc is
    * banded map-side and paired against its buckets' existing members
    * ([[Streams.streamingNearDup]]'s `transformWithState` list state —
    * pairs emit AS THE DUPLICATE ARRIVES, across the three crawl
    * batches). The distinct emitted pair set must equal the batch
    * `minhash_pairs` candidate set (its oracle verbatim): the bucket
    * membership an arrival joins is exactly the batch bucket, and
    * graded buckets stay under the cap (HashDedupSpec's zero-skip pin),
    * so the live gate loses no pair the batch audit would find. */
  def streamNearDup(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      implicit val ss: SparkSession = s
      val pairs = withRocksDb(s) {
        runToSink(s,
          Streams.streamingNearDupBatches(
            docStream.filter(size(split(col("text"), " ")) >= 3)).toDF(),
          "append", "stream_neardup")
      }
      pairs.select(col("doc_id"), explode(col("others")).as("m"))
        .select(least(col("m"), col("doc_id")).as("a"),
                greatest(col("m"), col("doc_id")).as("b"))
        .distinct()
        .orderBy(col("a"), col("b"))
    }

  /** STREAMING vocabulary-novelty gate, graded: each (source, token)
    * emits exactly once, on the micro-batch where it first appears,
    * carrying the smallest doc_id of that batch
    * ([[Streams.vocabNoveltyStream]]). With the crawl replayed in
    * doc_id order, that doc_id IS the global first sighting — the
    * twin's plain `min(doc_id)` GROUP BY. Redelivery-safe novelty is
    * what makes live Heaps-curve monitoring trustworthy; this pins it
    * to the hash gate. */
  def streamVocabNovelty(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      implicit val ss: SparkSession = s
      val first = withRocksDb(s) {
        runToSink(s, Streams.vocabNoveltyStream(docStream).toDF(),
          "append", "stream_vocab_novelty")
      }
      first.select(col("source"), col("tok"), col("doc_id").as("first_doc"))
        .orderBy(col("source"), col("tok"))
    }

  /** STREAMING incremental near-dup probe, graded: the persisted-index
    * refresh story live — the 90% snapshot's band store is built
    * batch-side ([[graft.llm.HashDedup.bandStoreOf]]), the 10%
    * increment ARRIVES as a stream, and each arrival probes the static
    * store by stream-static equi-join ([[Streams.incrementalNearDupGate]]
    * — stateless: the store IS the state). Shares the batch
    * `incremental_neardup` twin verbatim. */
  // STATIC references are parameters of their monitors (the "yesterday"
  // distribution, the snapshot band store, the reference centroids) —
  // memoized like the slices: harness cost, not operator cost. The band
  // store is a checkpointed frame, so it is session-bound.
  def streamIncrNearDup(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      val store = graft.Artifacts.session(s, "stream.bandStore", d, "documents.parquet") {
        val snapshot = Tables.documents(s, d)
          .withColumn("bkt", graft.llm.HashDedup.refreshBucket)
          .filter(col("bkt") =!= 9).drop("bkt")
        graft.llm.HashDedup.bandStoreOf(snapshot).localCheckpoint()
      }
      val incr = docStream
        .withColumn("bkt", graft.llm.HashDedup.refreshBucket)
        .filter(col("bkt") === 9).drop("bkt")
      val pairs = runToSink(s,
        Streams.incrementalNearDupGate(incr, store), "append", "stream_incr_neardup")
      pairs.select(col("a"), col("b")).distinct()
        .orderBy(col("a"), col("b"))
    }

  /** STREAMING online SGD, graded: [[Streams.logregStream]] takes one
    * mini-batch step per crawl slice — the weight trajectory
    * w₀=0 → w₁ → w₂ → w₃, each gradient evaluated AT THE RUNNING
    * WEIGHTS over that slice's feature rows — and every rounded
    * emission must hash-match the twin's three unrolled CTE steps.
    * This grades online learning END-TO-END: the map-side partial
    * sufficient statistics, the single weight state, and the
    * mini-batch trajectory itself. */
  def streamLogreg(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      implicit val ss: SparkSession = s
      val updates = withRocksDb(s) {
        runToSink(s, Streams.logregStream(docStream).toDF(),
          "append", "stream_logreg")
      }
      updates.select(col("n_seen"), col("w0"), col("w1"), col("w2"))
        .orderBy(col("n_seen"))
    }

  /** STREAMING winnowing substring-dup gate, graded:
    * [[Streams.streamingSubstringDup]]'s fingerprint-keyed bucket state
    * pairs each arriving document against every earlier holder of a
    * shared winnowing fingerprint — emissions counted per pair equal the
    * batch `winnow_pairs` shared-fingerprint counts (its oracle
    * verbatim): each (doc, fp) arrives exactly once (the expression form
    * is array_distinct, parity-spec'd against the batch selection), so
    * the per-pair emission count IS n_shared, and graded buckets stay
    * under the member cap (the zero-skip pin). The SIGMOD'03 ≥6-token-run
    * guarantee is thereby hash-checked as executed by the live gate. */
  def streamSubstringDup(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      implicit val ss: SparkSession = s
      val pairs = withRocksDb(s) {
        runToSink(s, Streams.streamingSubstringDupBatches(docStream).toDF(),
          "append", "stream_subdup")
      }
      // multiplicity preserved: the explode emits one row per
      // (arrival, earlier member) per shared fingerprint, exactly the
      // per-pair rows the exploded sink produced
      pairs.select(col("doc_id"), explode(col("others")).as("m"))
        .select(least(col("m"), col("doc_id")).as("a"),
                greatest(col("m"), col("doc_id")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
        .orderBy(col("a"), col("b"))
    }

  /** STREAMING RPC as a stream-STREAM interval join, graded:
    * [[Streams.rpcJoin]] — the watermarked two-sided join form of the
    * reference's reply-subject round trip (the state-machine form is
    * [[streamRpc]]; this grades Spark's interval-join state machinery
    * itself). Requests and responses are two filtered views of the same
    * replayed bus; a response matches within [req_ts, req_ts + 30 min],
    * so pairs whose successor event lags the window are EXCLUDED — the
    * window cut does real work. Parity with the pure event-time twin
    * holds because the ts-sliced replay is in order: a row is never
    * late, and any cross-slice match's request is still within its
    * watermark-bounded state lifetime when the response arrives (the
    * eviction bound T_prev_max − 2·timeout always precedes the earliest
    * next-slice match). */
  def streamRpcJoin(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val reqs = busStream.filter(col("event_id") % 4 === 0)
        .select(col("event_id").as("req_id"), col("ts"))
      val ress = busStream.filter(col("event_id") % 8 === 1)
        .select((col("event_id") - 1).as("req_id"), col("ts"), col("channel"))
      val joined = runToSink(s,
        Streams.rpcJoin(reqs, ress, timeout = "30 minutes"),
        "append", "stream_rpc_join")
      joined.select(col("req_id"), col("req_ts"), col("res_ts"), col("res_channel"))
        .orderBy(col("req_id"), col("res_ts"))
    }

  /** STREAMING curation pipeline COMPOSED, graded: the full
    * "what reaches training" audit with every gate verdict produced by
    * the streaming engine — [[Streams.firstArrivalPerKey]] claims one
    * representative per md5 content fingerprint as the crawl arrives
    * (doc_id-ordered replay ⇒ the claim is the batch min-id canonical
    * rep), [[Streams.streamingNearDup]] emits LSH candidate pairs as
    * the duplicate arrives (== the batch candidate set, proved by
    * `doc_stream_neardup`), and the length gate is stateless. The
    * composition — kept ⟺ rep ∧ ≥30 tokens ∧ not the later side of a
    * near-dup pair, reduced to per-source survival — shares the batch
    * `pipeline_kept` twin VERBATIM: the live gates compose to exactly
    * the offline audit. */
  def streamPipeline(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      val spark = s; import spark.implicits._
      implicit val ss: SparkSession = s
      // the two gate sinks are independent — run them CONCURRENTLY under
      // ONE conf window (the multi-sink discipline): the composed
      // pipeline costs one streaming-startup window, not two. The inner
      // guards pass through inside it, so neither thread restores conf
      // or unloads stores while the other sink runs.
      val (reps, drops) = withGradeConf(s, rocksdb = true) {
        val repsF = new java.util.concurrent.FutureTask(() =>
          runToSink(s,
            Streams.firstArrivalPerKey(
              docStream.select(md5(col("text")).as("_1"), col("doc_id").as("_2"))
                .as[(String, Long)]).toDF(),
            "append", "stream_pipe_reps"))
        val repsT = new Thread(repsF, "grade-pipe-reps")
        repsT.setDaemon(true); repsT.start()
        val dropsDf = runToSink(s,
            Streams.streamingNearDup(
              docStream.filter(size(split(col("text"), " ")) >= 3)).toDF(),
            "append", "stream_pipe_pairs")
          .select(col("b").as("doc_id")).distinct()
          .withColumn("neardup", lit(1))
        (repsF.get(600, java.util.concurrent.TimeUnit.SECONDS)
          .select(col("doc_id"), lit(1).as("isrep")), dropsDf)
      }
      Tables.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tok"))
        .join(reps, Seq("doc_id"), "left")
        .join(drops, Seq("doc_id"), "left")
        .withColumn("kept",
          col("isrep").isNotNull && col("n_tok") >= 30 && col("neardup").isNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_pct",
          round(col("n_kept").cast("double") * 100d / col("n_docs"), 2))
        .orderBy(col("source"))
    }

  /** STREAMING Count-Min sketch, graded: the 4×16 counter grid as a
    * complete-mode streaming aggregation — exactly how a live
    * heavy-hitter monitor runs (state is depth·width = 64 rows FOREVER,
    * regardless of stream length — the sketch IS the state bound). The
    * batch top-20 audit then reads its estimates from the sketch the
    * STREAMING engine maintained across the three crawl batches; the
    * result shares the batch `cms_heavy_hitters` twin verbatim, so the
    * hash proves the live grid bit-identical to the batch grid (exact
    * integer counts over md5 buckets — a fully checkable sketch). */
  def streamCms(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      val sketch = runToSink(s,
        docStream.select(explode(split(col("text"), " ")).as("word"))
          .select(posexplode(graft.llm.TextOps.cmsBuckets(col("word")))
            .as(Seq("seed", "bucket")))
          .groupBy(col("seed"), col("bucket")).agg(count(lit(1)).as("c")),
        "complete", "stream_cms")
      graft.llm.TextOps.cmsAudit(s, d, sketch)
    }

  /** STREAMING CHECKPOINT RECOVERY, graded: the SCD2 version gate run
    * as TWO SEPARATE QUERY LIFETIMES against one checkpoint — slices
    * 1-2, clean stop, a NEW query start that must RECOVER the RocksDB
    * ValueState (every channel's open version) from the checkpoint,
    * then slice 3. The combined appended output hash-matches the same
    * closed-intervals twin as `cdc_stream_scd2`: a version OPENED
    * before the restart and CLOSED after it only lands correctly if
    * recovery restored the open-version state exactly — so recovery is
    * a graded row, not just a spec. Fresh checkpoint/output dirs per
    * invocation (a reused checkpoint would make the second lifetime a
    * no-op); the slice files come from the shared replay cache. */
  def streamRestartScd2(s: SparkSession, d: String): DataFrame = {
    val spark = s; import spark.implicits._
    implicit val ss: SparkSession = s
    val srcAll = busSlices(s, d, 0)
    // fresh dirs per invocation (a reused checkpoint would make lifetime
    // 2 a no-op) — deleted EAGERLY in the finally below, not by a
    // shutdown hook: the bench re-runs this 4×/JVM and per-run hooks +
    // on-disk checkpoint copies would accumulate for the JVM lifetime
    val tmp = Files.createTempDirectory("graft_stream_restart_")
    val in = Files.createDirectory(tmp.resolve("in"))
    val ckpt = tmp.resolve("ckpt").toString
    val outDir = tmp.resolve("out").toString
    import scala.jdk.CollectionConverters._
    val slices = Files.list(srcAll).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    def copySlice(i: Int): Unit = {
      val dst = in.resolve(slices(i).getFileName.toString)
      Files.copy(slices(i), dst)
      dst.toFile.setLastModified(slices(i).toFile.lastModified)
    }
    def runLifetime(): Unit = {
      val typed = s.readStream.schema(Tables.bus(s, d).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
        .filter(col("user_id") < 20)
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val q = Streams.scd2Stream(typed).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (bt: DataFrame, _: Long) =>
          bt.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException("restart-grade query did not finish")
      } finally q.stop()
    }
    try {
      withRocksDb(s) {
        withGradePartitions(s) {
          copySlice(0); copySlice(1)
          runLifetime() // lifetime 1: two micro-batches, state into ckpt
          copySlice(2)
          runLifetime() // lifetime 2: RECOVERS state, processes slice 3
        }
      }
      // materialize (localCheckpoint is eager) BEFORE deleting outDir
      s.read.parquet(outDir)
        .select(col("channel"), col("event_id"), col("valid_from"),
          col("valid_to"), round(col("value"), 2).as("value"))
        .localCheckpoint()
        .orderBy(col("channel"), col("valid_from"), col("event_id"))
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  /** IVM CHANGELOG RESTART + REDELIVERY, graded
    * (`cdc_stream_restart_ivm`): the retraction changelog's correctness
    * contract — the fold equals the full recompute — is only as strong
    * as its behavior across the two production failure modes, so this
    * row runs [[Streams.IvmChangelogGate]] as TWO QUERY LIFETIMES over
    * one checkpoint (slices 1-2, clean stop, recover, slice 3) AND
    * redelivers the ENTIRE second slice inside lifetime 2: the
    * recovered per-channel high-water marks must absorb every
    * redelivered event emission-free, or the fold double-applies and
    * the hash breaks. Same full-recompute twin as the other IVM rows —
    * recovery + at-least-once replay must be indistinguishable from
    * one uninterrupted exactly-once pass. The
    * [[streamRestartScd2]] dir discipline: fresh checkpoint/out dirs
    * per invocation, deleted eagerly. */
  def streamRestartIvm(s: SparkSession, d: String): DataFrame = {
    val spark = s; import spark.implicits._
    implicit val ss: SparkSession = s
    val srcAll = busSlices(s, d, 0)
    val tmp = Files.createTempDirectory("graft_stream_rivm_")
    val in = Files.createDirectory(tmp.resolve("in"))
    val ckpt = tmp.resolve("ckpt").toString
    val outDir = tmp.resolve("out").toString
    import scala.jdk.CollectionConverters._
    val slices = Files.list(srcAll).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    def copySlice(i: Int, as: String = null): Unit = {
      val name = Option(as).getOrElse(slices(i).getFileName.toString)
      val dst = in.resolve(name)
      Files.copy(slices(i), dst)
      if (as == null)
        dst.toFile.setLastModified(slices(i).toFile.lastModified)
    }
    def runLifetime(): Unit = {
      val typed = s.readStream.schema(Tables.bus(s, d).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val q = Streams.ivmChangelog(typed).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (bt: DataFrame, _: Long) =>
          bt.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException("restart-grade query did not finish")
      } finally q.stop()
    }
    try {
      withRocksDb(s) {
        withGradePartitions(s) {
          copySlice(0); copySlice(1)
          runLifetime() // lifetime 1: two micro-batches, state into ckpt
          // lifetime 2: the real third slice PLUS the whole second
          // slice again under a new name — a full at-least-once
          // redelivery the RECOVERED high-water marks must absorb
          copySlice(2)
          copySlice(1, as = "z_redelivered_slice2.parquet")
          runLifetime()
        }
      }
      s.read.parquet(outDir)
        .groupBy(col("event_type"))
        .agg(sum(col("dn")).as("n_channels"),
             sum(col("dcents")).as("total_cents"))
        .localCheckpoint()
        .orderBy(col("event_type"))
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  /** MIN/MAX CHANGELOG CHECKPOINT RECOVERY, graded
    * (`cdc_stream_restart_ivm_minmax`): [[streamRestartIvm]]'s shape
    * for the non-self-maintainable view — two query lifetimes over one
    * checkpoint, with the entire second slice REDELIVERED under a new
    * name in lifetime 2. The recovered per-channel (ts, event_id)
    * high-water marks must refuse every redelivered row (a re-emitted
    * transition would be invisible to the argmax reconstruction ONLY
    * if identical — the gate must not rely on that; refusal is the
    * contract), and the reconstruction over both lifetimes' appended
    * transitions must equal the full recompute at the head
    * ([[graft.cdc.CdcBus.IvmMinMaxRecomputeTwin]], shared verbatim
    * with the batch and live rows). */
  def streamRestartIvmMinMax(s: SparkSession, d: String): DataFrame =
    restartValueChangelog(s, d, "graft_stream_rivmm_")(minmaxFold)

  /** DISTINCT-COUNT CHANGELOG CHECKPOINT RECOVERY, graded
    * (`cdc_stream_restart_ivm_distinct`, r15 VERDICT Next #2):
    * [[streamRestartIvmMinMax]]'s two-lifetime / redelivered-slice
    * shape with the [[distinctFold]] consumer — the recovered
    * high-water marks must refuse every redelivered transition (a
    * double-applied transition row is invisible to the argmax
    * reconstruction only when identical; refusal is the contract), and
    * the distinct-count reconstruction over both lifetimes must equal
    * the full recompute at the head
    * ([[graft.cdc.CdcBus.IvmDistinctRecomputeTwin]], shared verbatim
    * with the batch and live rows). */
  def streamRestartIvmDistinct(s: SparkSession, d: String): DataFrame =
    restartValueChangelog(s, d, "graft_stream_rivmd_")(distinctFold)

  /** JOIN-VIEW CHANGELOG CHECKPOINT RECOVERY, graded
    * (`cdc_stream_restart_ivm_join`, r16): the two-lifetime /
    * redelivered-slice shape with the TWO-RELATION consumer
    * ([[graft.cdc.CdcBus.ivmJoinFold]]) — the recovered high-water
    * marks must refuse every redelivered transition (a double-applied
    * transition is invisible to the argmax reconstruction only when
    * identical; refusal is the contract), and the joined pair roll-up
    * over both lifetimes must equal the full recompute at the head
    * ([[graft.cdc.CdcBus.IvmJoinRecomputeTwin]], shared verbatim with
    * the batch rows). */
  def streamRestartIvmJoin(s: SparkSession, d: String): DataFrame =
    restartValueChangelog(s, d, "graft_stream_rivmj_", orderCol = "grp")(
      graft.cdc.CdcBus.ivmJoinFold)

  /** The shared two-lifetime harness of the value-changelog restart
    * rows: lifetime 1 consumes slices 1-2 into one checkpoint, lifetime
    * 2 recovers and consumes slice 3 PLUS the whole second slice
    * REDELIVERED under a new file name; `fold` reconstructs the graded
    * view from the appended transitions of both lifetimes. */
  private def restartValueChangelog(s: SparkSession, d: String,
      tmpPrefix: String, orderCol: String = "event_type")
      (fold: DataFrame => DataFrame): DataFrame = {
    val spark = s; import spark.implicits._
    implicit val ss: SparkSession = s
    val srcAll = busSlices(s, d, 0)
    val tmp = Files.createTempDirectory(tmpPrefix)
    val in = Files.createDirectory(tmp.resolve("in"))
    val ckpt = tmp.resolve("ckpt").toString
    val outDir = tmp.resolve("out").toString
    import scala.jdk.CollectionConverters._
    val slices = Files.list(srcAll).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    def copySlice(i: Int, as: String = null): Unit = {
      val name = Option(as).getOrElse(slices(i).getFileName.toString)
      val dst = in.resolve(name)
      Files.copy(slices(i), dst)
      if (as == null)
        dst.toFile.setLastModified(slices(i).toFile.lastModified)
    }
    def runLifetime(): Unit = {
      val typed = s.readStream.schema(Tables.bus(s, d).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
        .select(col("channel").as("_1"),
          struct(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")).as("_2"))
        .as[(String, Streams.BusEvent)]
      val q = Streams.minmaxChangelog(typed).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (bt: DataFrame, _: Long) =>
          bt.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException("restart-grade query did not finish")
      } finally q.stop()
    }
    try {
      withRocksDb(s) {
        withGradePartitions(s) {
          copySlice(0); copySlice(1)
          runLifetime() // lifetime 1: two micro-batches, state into ckpt
          copySlice(2)
          copySlice(1, as = "z_redelivered_slice2.parquet")
          runLifetime() // lifetime 2: slice 3 + slice 2 redelivered
        }
      }
      fold(s.read.parquet(outDir))
        .localCheckpoint()
        .orderBy(col(orderCol))
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  /** AS-OF GATE CHECKPOINT RECOVERY, graded: [[Streams.asOfStream]]
    * holds the richest state of any processor here — pending probes,
    * the compacted history, and their event-time timers — and this row
    * grades that ALL of it survives a restart: the stream-stream as-of
    * join runs as TWO QUERY LIFETIMES over one checkpoint (slices 1-2,
    * clean stop, recover, slice 3). Probes near the end of slice 2 sit
    * at-or-above the lifetime-1 watermark, so they are still BUFFERED
    * at the stop and can only emit correctly in lifetime 2 if recovery
    * restored both them and the history rows they must match (the
    * StreamingSpec restart test pins that crossing on crafted data;
    * this row grades it at corpus scale). The combined appended output
    * must hash-match `cdc_stream_asof_join`'s twin VERBATIM — recovery
    * is only correct if the two-lifetime run is indistinguishable from
    * the uninterrupted one. Fresh checkpoint/output dirs per
    * invocation, deleted eagerly (the [[streamRestartScd2]]
    * discipline). */
  def streamRestartAsOf(s: SparkSession, d: String): DataFrame = {
    implicit val ss: SparkSession = s
    val srcAll = busSlices(s, d, 0)
    val tmp = Files.createTempDirectory("graft_stream_restart_asof_")
    val in = Files.createDirectory(tmp.resolve("in"))
    val ckpt = tmp.resolve("ckpt").toString
    val outDir = tmp.resolve("out").toString
    import scala.jdk.CollectionConverters._
    val slices = Files.list(srcAll).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    def copySlice(i: Int): Unit = {
      val dst = in.resolve(slices(i).getFileName.toString)
      Files.copy(slices(i), dst)
      dst.toFile.setLastModified(slices(i).toFile.lastModified)
    }
    def runLifetime(): Unit = {
      val msgs = s.readStream.schema(Tables.bus(s, d).schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
        .filter(col("event_type").isin("purchase", "click"))
        .select(
          when(col("event_type") === "purchase", lit("p")).otherwise(lit("c"))
            .as("side"),
          col("user_id"), col("event_id"), col("ts"))
      val q = Streams.asOfStream(msgs).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (bt: DataFrame, _: Long) =>
          bt.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException("asof-restart query did not finish")
      } finally q.stop()
    }
    try {
      withRocksDb(s) {
        withGradePartitions(s) {
          copySlice(0); copySlice(1)
          runLifetime() // lifetime 1: pending probes + history into ckpt
          copySlice(2)
          runLifetime() // lifetime 2: RECOVERS the gate, drains slice 3
        }
      }
      s.read.parquet(outDir)
        .select(col("event_id"), col("user_id"),
          expr("timestamp_micros(purchase_us)").as("purchase_ts"),
          col("last_click_id"),
          expr("timestamp_micros(last_click_us)").as("last_click_ts"))
        .localCheckpoint()
        .orderBy(col("event_id"))
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  /** STREAMING live-bus→table capture, graded: [[Streams.captureTo]]'s
    * checkpointed foreachBatch append — the last spec-only stream op —
    * run end to end: the replayed bus lands in the partitioned
    * [[graft.sources.BusLayout]] (one append per micro-batch), is
    * RE-READ from the layout, and aggregated; the twin aggregates the
    * events parquet directly, so a frame lost or duplicated anywhere in
    * the capture→layout→re-read loop breaks the hash (the
    * `cdc_wire_tcp` discipline with the capture leg executed by the
    * streaming engine). Fresh layout/checkpoint dirs per invocation,
    * deleted eagerly after the result materializes. */
  def streamCapture(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_stream_capture_")
    try {
      val layout = tmp.resolve("layout").toString
      val ckpt = tmp.resolve("ckpt").toString
      withBusStream(s, d) { busStream =>
        val q = Streams.captureTo(busStream, layout, ckpt,
          Some(Trigger.AvailableNow()))
        try {
          if (!q.awaitTermination(180000L))
            throw new IllegalStateException("capture-grade query did not finish")
          batchCounts.put("stream_capture",
            q.recentProgress.count(_.numInputRows > 0L))
        } finally q.stop()
      }
      graft.sources.BusLayout.readPartitioned(s, layout)
        .groupBy(col("event_type").cast("string").as("event_type"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_users"),
             round(sum(col("value")), 2).as("total_value"))
        .localCheckpoint()
        .orderBy(col("event_type"))
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  /** STREAMING stream-static broadcast enrichment, graded:
    * [[Streams.enrich]] — the reference-data-lookup shape (the
    * customer dim ships to every executor once per micro-batch, the
    * stream never shuffles, no streaming state for the join) — feeding
    * a complete-mode per-(segment, type) revenue rollup whose state
    * revises across the three batches. The last previously
    * scalatest-only stream shape; the twin is the plain batch join. */
  def streamEnrich(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val agg = runToSink(s,
        Streams.enrich(busStream, dim, "user_id")
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value")),
        "complete", "stream_enrich")
      agg.orderBy(col("c_mktsegment"), col("event_type"))
    }

  /** STREAM-STATIC AS-OF ENRICHMENT, graded: the SCD2/dimension-history
    * READ path live — each ARRIVING purchase is enriched with the
    * user's latest click at-or-before its timestamp from the STATIC
    * click history, through the native operator's broadcast path
    * ([[graft.plans.BroadcastAsOfJoinExec]]): the deduped history ships
    * to the executors once per micro-batch and the stream is probed
    * MAP-SIDE by binary search — no shuffle on the stream, no streaming
    * state for the join ([[streamEnrich]]'s reference-lookup shape
    * upgraded from equi-join to as-of semantics). Enrichment is
    * per-row and arrival-order-insensitive, so the appended sink equals
    * the batch operator row-for-row; the twin is `asof_native`'s DuckDB
    * ASOF text VERBATIM (one text now graded across FOUR surfaces:
    * DataFrame merge, DataFrame broadcast, spark.sql, and the streaming
    * ingestion gate). */
  def streamAsOfEnrich(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val clicks = Tables.events(s, d).filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id").as("cu"), col("ts").as("cts"), col("click_id"))
      val purchases = busStream.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
      val enriched = graft.plans.AsOf.join(purchases, broadcast(clicks),
        Seq("user_id"), Seq("cu"), "purchase_ts", "cts")
      runToSink(s, enriched, "append", "stream_asof")
        .select(col("event_id"), col("user_id"), col("purchase_ts"),
          col("click_id").as("last_click_id"), col("cts").as("last_click_ts"))
        .orderBy(col("event_id"))
    }

  /** STREAM-STREAM AS-OF JOIN, graded: BOTH sides live —
    * [[streamAsOfEnrich]]'s static click history is itself still being
    * written while the purchases flow, so the engine must decide WHEN a
    * purchase's "latest click ≤ ts" is final. [[Streams.asOfStream]]'s
    * per-user state machine buffers each probe until the event-time
    * watermark passes it (the only instant the match is provably
    * final), keeps the click history compacted to what a future
    * watermark-legal probe can still reach, and emits exactly the batch
    * as-of row. The twin is the batch ASOF text with the watermark's
    * one honest consequence modeled: purchases AT the stream's final
    * watermark instant (`ts ≥ ms-floor of max event time`) are still
    * buffered when the replay ends — a restarted consumer would emit
    * them on the next arrival — so the twin excludes exactly those
    * (same discipline as `cdc_stream_rpc_outer`'s eviction tail). */
  def streamAsOfJoin(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      implicit val sp: SparkSession = s
      val msgs = busStream
        .filter(col("event_type").isin("purchase", "click"))
        .select(
          when(col("event_type") === "purchase", lit("p")).otherwise(lit("c"))
            .as("side"),
          col("user_id"), col("event_id"), col("ts"))
      val hits = Streams.asOfStream(msgs)
      withRocksDb(s) { runToSink(s, hits.toDF(), "append", "stream_asof_join") }
        .select(col("event_id"), col("user_id"),
          expr("timestamp_micros(purchase_us)").as("purchase_ts"),
          col("last_click_id"),
          expr("timestamp_micros(last_click_us)").as("last_click_ts"))
        .orderBy(col("event_id"))
    }

  /** STREAMING RPC with the 408 fallback as a LEFT-OUTER interval join,
    * graded: [[Streams.rpcJoinWithTimeout]] — this grades Spark's
    * outer-join WATERMARK EVICTION machinery itself (the third
    * implementation of the reference's timeout semantics after the
    * batch coalesce and the event-time-timer state machine, each a
    * different engine path). Matched requests emit 200 on arrival;
    * an unmatched request emits its 408 row only once the global
    * watermark (min of both sides' max ts − 30 min) proves no
    * watermark-legal response can still match — requests nearer the
    * stream end than 2·timeout stay in state forever, exactly what a
    * restarted consumer would see, and the twin reproduces that tail
    * arithmetic. */
  def streamRpcOuter(s: SparkSession, d: String): DataFrame =
    withBusStream(s, d) { busStream =>
      val reqs = busStream.filter(col("event_id") % 4 === 0)
        .select(col("event_id").as("req_id"), col("ts"))
      val ress = busStream.filter(col("event_id") % 8 === 1)
        .select((col("event_id") - 1).as("req_id"), col("ts"), col("channel"))
      val joined = runToSink(s,
        Streams.rpcJoinWithTimeout(reqs, ress, timeout = "30 minutes"),
        "append", "stream_rpc_outer")
      joined.select(col("req_id"), col("req_ts"),
          col("res_channel"), col("code").cast("long").as("code"))
        .orderBy(col("req_id"), col("req_ts"))
    }

  /** Reference distribution for [[streamMixShift]]: per-source counts
    * of the global top-[[graft.llm.TextOps.MixShiftTerms]] terms over
    * the "yesterday" hash-buckets (0-8), ZERO-FILLED over the full
    * vocabulary so the gate's in-vocab pre-filter sees every reference
    * term (a term yesterday never used must still be counted when today
    * uses it). ≤ sources × 100 entries — driver-bounded by
    * construction, the [[Streams.centroidDriftReference]] discipline. */
  private def mixShiftReference(s: SparkSession, d: String): Map[String, Map[String, Long]] = {
    val toks = Tables.documents(s, d)
      .withColumn("bkt", graft.llm.HashDedup.refreshBucket)
      .select(col("source"), col("bkt"), explode(split(col("text"), " ")).as("tok"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(graft.llm.TextOps.MixShiftTerms)
      .select(col("tok"))
    val vocab = top.collect().map(_.getString(0))
    toks.filter(col("bkt") <= 8)
      .join(broadcast(top), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cy"))
      .select(col("source"), col("tok"), col("cy"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        val m = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
        src -> vocab.map(t => t -> m.getOrElse(t, 0L)).toMap
      }
  }

  /** STREAMING distribution-drift monitor, graded:
    * [[Streams.mixShiftStream]]'s per-source running token distribution
    * (MapState over the top-100 reference vocabulary) scored against
    * the static "yesterday" distribution as the crawl's "today" half
    * arrives in three batches. The LATEST emission per source (greatest
    * running occurrence count — strictly increasing per touch) must
    * equal the batch `mix_shift` audit's TV distance: the live alarm
    * and the offline audit agree to the digit. */
  def streamMixShift(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      implicit val ss: SparkSession = s
      val ref = graft.Artifacts.jvm("stream.mixRef", d, "documents.parquet")(
        mixShiftReference(s, d))
      val today = docStream
        .withColumn("bkt", graft.llm.HashDedup.refreshBucket)
        .filter(col("bkt") >= 1).drop("bkt")
      val scores = withRocksDb(s) {
        runToSink(s, Streams.mixShiftStream(today, ref).toDF(),
          "append", "stream_mix_shift")
      }
      scores.groupBy(col("source"))
        .agg(max_by(struct(col("n_occ"), col("tv_dist")), col("n_occ")).as("f"))
        .select(col("source"), col("f.n_occ").as("n_occ"),
                col("f.tv_dist").as("tv_dist"))
        .orderBy(col("source"))
    }

  /** Replay the embeddings table as a bounded 3-file stream sliced by
    * vec_id thirds — the vector-side twin of [[withDocStream]]. */
  private def withEmbStream[A](s: SparkSession, d: String)(body: DataFrame => A): A = {
    val embs = Tables.embeddings(s, d)
    val inDir = embSlices(s, d)
    body(s.readStream.schema(embs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString))
  }

  /** The cached slice directory behind [[withEmbStream]] — also read
    * file-by-file by the restart grade, which stages slices into its
    * own source dir across query lifetimes. */
  private def embSlices(s: SparkSession, d: String): Path = {
    val embs = Tables.embeddings(s, d)
    graft.Artifacts.jvm("stream.embSlices", d, "embeddings.parquet") {
      val tmp = graft.Artifacts.tempDir("graft_stream_embs_")
      val mx = embs.agg(max(col("vec_id"))).head().getLong(0)
      val bounds = Seq(
        col("vec_id") < mx / 3,
        col("vec_id") >= mx / 3 && col("vec_id") < 2 * mx / 3,
        col("vec_id") >= 2 * mx / 3)
      val in = Files.createDirectory(tmp.resolve("in"))
      val base = System.currentTimeMillis() - 60000L
      bounds.zipWithIndex.foreach { case (pred, i) =>
        import scala.jdk.CollectionConverters._
        val stage = tmp.resolve(s"w_$i")
        embs.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val src = Files.list(stage).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
        val dst = in.resolve(s"slice_$i.parquet")
        Files.move(src, dst)
        dst.toFile.setLastModified(base + i * 2000L)
      }
      in
    }
  }

  /** STREAMING embedding-centroid drift, graded:
    * [[Streams.centroidDriftStream]]'s per-label running centroid
    * (quantized-integer sums in ValueState — exact, arrival-order-free)
    * scored against the even-vec_id half's static reference centroids
    * as the odd half arrives in three batches. The LATEST emission per
    * label must equal the batch `embed_centroid_drift` audit (its twin,
    * re-keyed): the live "did the new crawl's clusters move" alarm and
    * the offline audit agree to the digit. */
  def streamCentroidDrift(s: SparkSession, d: String): DataFrame =
    withEmbStream(s, d) { embStream =>
      implicit val ss: SparkSession = s
      val ref = graft.Artifacts.jvm("stream.centroidRef", d, "embeddings.parquet")(
        Streams.centroidDriftReference(
          Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0)))
      val arriving = embStream.filter(col("vec_id") % 2 === 1)
      val drifts = withRocksDb(s) {
        runToSink(s, Streams.centroidDriftStream(arriving, ref).toDF(),
          "append", "stream_centroid_drift")
      }
      drifts.groupBy(col("label"))
        .agg(max_by(struct(col("n_seen"), col("drift")), col("n_seen")).as("f"))
        .select(col("label").cast("long").as("label"),
                col("f.n_seen").as("n_seen"), col("f.drift").as("drift"))
        .orderBy(col("label"))
    }

  /** The raw graded bodies — what a family co-schedule executes for each
    * member. External callers go through [[queries]]' entry wrapper
    * (lock + conf window + co-schedule); specs may call the public
    * methods directly (suites are serial, `Test/parallelExecution :=
    * false`). */
  private val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_stream_take"          -> (streamTake _),
    "cdc_stream_rpc_join"      -> (streamRpcJoin _),
    "cdc_stream_rpc_outer"     -> (streamRpcOuter _),
    "cdc_stream_enrich"        -> (streamEnrich _),
    "cdc_stream_asof"          -> (streamAsOfEnrich _),
    "cdc_stream_asof_join"     -> (streamAsOfJoin _),
    "cdc_stream_capture"       -> (streamCapture _),
    "cdc_stream_restart_scd2"  -> (streamRestartScd2 _),
    "cdc_stream_restart_ivm"   -> (streamRestartIvm _),
    "cdc_stream_restart_ivm_minmax" -> (streamRestartIvmMinMax _),
    "cdc_stream_restart_ivm_distinct" -> (streamRestartIvmDistinct _),
    "cdc_stream_restart_ivm_join" -> (streamRestartIvmJoin _),
    "cdc_stream_restart_asof"  -> (streamRestartAsOf _),
    "emb_stream_restart_maintained" -> (streamRestartIndexMaint _),
    "doc_stream_substring_dup" -> (streamSubstringDup _),
    "doc_stream_cms"           -> (streamCms _),
    "doc_stream_pipeline"      -> (streamPipeline _),
    "doc_stream_mix_shift"     -> (streamMixShift _),
    "emb_stream_centroid_drift" -> (streamCentroidDrift _),
    "emb_stream_ann"           -> (streamAnn _),
    "emb_stream_maintained"    -> (streamIndexMaint _),
    "emb_stream_maxsim"        -> (streamMaxsim _),
    "doc_stream_neardup"       -> (streamNearDup _),
    "doc_stream_vocab_novelty" -> (streamVocabNovelty _),
    "doc_stream_incr_neardup"  -> (streamIncrNearDup _),
    "mm_stream_phash_dup"      -> (streamPhashDup _),
    "doc_stream_logreg"        -> (streamLogreg _),
    "cdc_stream_rpc"      -> (streamRpc _),
    "cdc_stream_counters" -> (streamCounters _),
    "cdc_stream_ts_sim"   -> (streamTsSim _),
    "cdc_stream_dtw"      -> (streamDtw _),
    "cdc_stream_retained" -> (streamRetained _),
    "cdc_stream_scd2"     -> (streamScd2 _),
    "cdc_stream_gaps"     -> (streamGaps _),
    "cdc_stream_dedup"    -> (streamDedup _),
    "cdc_stream_tumbling" -> (streamTumbling _),
    "cdc_stream_sliding"  -> (streamSliding _),
    "cdc_stream_sessions" -> (streamSessions _),
    "cdc_stream_user_features" -> (streamUserFeatures _),
    "cdc_stream_ivm"      -> (streamIvm _),
    "cdc_stream_ivm_minmax" -> (streamIvmMinMax _),
    "cdc_stream_ivm_distinct" -> (streamIvmDistinct _),
    "cdc_stream_ivm_join"   -> (streamIvmJoin _))

  /** STREAMING MULTIMODAL near-dup gate, graded: the pHash analogue of
    * [[streamNearDup]] — each arriving document's media payload is
    * banded to its 16-bit-signature (band, nib) coordinates map-side
    * ([[graft.llm.Multimodal.phashArrivals]], the batch `mm_phash_pairs`
    * lineage) and paired against the bucket's earlier members by the
    * same bounded [[Streams.bucketPairs]] state machine; the candidate
    * audit then scores each distinct emitted pair by signature hamming
    * and keeps the near ones (≤3 bits). Buckets stay under the member
    * cap at graded scale (max occupancy 355 at sf0.1 vs the 1024 cap),
    * so the live candidate set equals the batch band join — the twin
    * derives the same near pairs from the parquet directly. */
  def streamPhashDup(s: SparkSession, d: String): DataFrame =
    withDocStream(s, d) { docStream =>
      implicit val ss: SparkSession = s
      // the PACKED sink: the pHash gate's 256 dense buckets emit
      // ~12.5 M candidate pairs per replay at sf0.1, and materializing
      // them through the memory sink dominated the row (~15 s); one
      // array row per arrival crosses the sink instead and the pairs
      // explode batch-side
      val pairs = withRocksDb(s) {
        runToSink(s,
          Streams.bucketPairBatches(
            graft.llm.Multimodal.phashArrivals(docStream)).toDF(),
          "append", "stream_mm_phash")
      }.select(col("doc_id"), explode(col("others")).as("m"))
        .select(least(col("m"), col("doc_id")).as("a"),
                greatest(col("m"), col("doc_id")).as("b"))
      val sigs = graft.llm.Multimodal.phashSigs(s, d)
      // r17 (§2.3): score BEFORE deduplicating — the hamming gate is two
      // map-side sig probes + a filter and kills ~all of the ~12.5 M
      // exploded candidates, so the distinct()'s corpus-wide exchange now
      // moves only the near-pair survivors instead of every candidate
      // (ham is a pure function of (a, b), so filter∘distinct ≡
      // distinct∘filter row-for-row)
      pairs
        .join(sigs.select(col("doc_id").as("a"), col("sig").as("sa")), Seq("a"))
        .join(sigs.select(col("doc_id").as("b"), col("sig").as("sb")), Seq("b"))
        .withColumn("ham", expr("bit_count(sa ^ sb)").cast("long"))
        .filter(col("ham") <= 3)
        .select(col("a"), col("b"), col("ham"))
        .distinct()
        .orderBy(col("a"), col("b"))
    }

  /** LIVE ANN SERVING, graded: [[graft.llm.VectorOps.annServeStream]] —
    * arriving query vectors (vec_id ≡ 1 mod 26, the odd sample) route
    * map-side to their 2 nearest cells of the STATIC even-half corpus
    * and probe only those cells by stream-static equi-join; each
    * query's top-3 lives in the mergeable TopKByScoreAgg whose
    * serialize/deserialize IS the streaming state encoding, revised in
    * complete mode across the three crawl batches. The twin is the
    * batch IVF probe over the same halves — the online vector-search
    * serving path agrees with the offline index to the digit. */
  def streamAnn(s: SparkSession, d: String): DataFrame =
    withEmbStream(s, d) { embStream =>
      val served = runToSink(s,
        graft.llm.VectorOps.annServeStream(
          embStream.filter(col("vec_id") % 26 === 1),
          Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0)),
        "complete", "stream_ann")
      served.select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
          col("t.w").cast("long").as("vec_id"),
          round(col("t.score"), 5).as("cos"))
        .orderBy(col("qid"), col("rank"))
    }

  /** LIVE LATE-INTERACTION SERVING, graded (r12 VERDICT #3): the
    * two-stage retrieve-then-rerank pipeline `maxsim_rerank_ivf`
    * grades, with stage 1 executed by the STREAMING engine — arriving
    * query vectors cut their depth-20 ADC pool from the PERSISTED
    * IVF-PQ store ([[graft.llm.VectorOps.maxsimPoolStream]]: map-side
    * literal-codebook routing + integer ADC, one complete-mode top-k
    * aggregation), and the post-stream re-rank fetches ONLY the pool's
    * raw token grids through the fused MaxSim kernel
    * ([[graft.llm.VectorOps.maxsimRerankFromPool]], shared verbatim
    * with the batch operator). Twin: `maxsim_rerank_ivf`'s, verbatim —
    * the online serving path and the offline two-stage pipeline agree
    * to the digit. */
  def streamMaxsim(s: SparkSession, d: String): DataFrame =
    withEmbStream(s, d) { embStream =>
      val store = graft.llm.VectorOps.ivfPqStorePath(s, d)
      val pool = runToSink(s,
        graft.llm.VectorOps.maxsimPoolStream(s, embStream, store, d),
        "complete", "stream_maxsim")
      val cands = pool
        .select(col("qid"), posexplode(col("pool")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.w").cast("long").as("vec_id"),
          (col("pos") + 1).cast("long").as("adc_rank"))
      graft.llm.VectorOps.maxsimRerankFromPool(s, d, cands)
    }

  // one maintained IVF-PQ store per corpus per JVM: the STREAM is what
  // maintains it — the first invocation's micro-batches append the delta
  // thirds through the journal, and every re-invocation replays the same
  // bounded stream so the journal ABSORBS the redelivery
  // (absorbIvfPqAppend returns false) — the at-least-once contract
  // exercised for real on every rerun.
  /** STREAMING index maintenance, graded — the CDC→serving-index
    * pipeline composed end-to-end: the IVF-PQ store is built once from
    * the replay's first third (yesterday's snapshot), the remaining
    * thirds arrive as micro-batches absorbed by
    * [[graft.llm.VectorOps.absorbIvfPqAppend]] in a `foreachBatch`
    * consumer (codebook FROZEN, journal advancing; each op id derives
    * from the batch's vec_id range, so a redelivered batch — including
    * the whole replayed stream on a bench rerun — is refused
    * idempotently instead of double-appended), and the post-stream
    * serve goes through [[graft.llm.VectorOps.loadIvfPq]]'s staleness
    * gate. The twin is the frozen-codebook rebuild: centroids over the
    * base third, codes over the full corpus — a dropped batch, a
    * double-applied batch, or a batch encoded against retrained
    * centroids all break the hash. */
  def streamIndexMaint(s: SparkSession, d: String): DataFrame =
    withEmbStream(s, d) { embStream =>
      val embs = Tables.embeddings(s, d)
      val fp = graft.llm.VectorOps.embFingerprint(d)
      val boundary = embs.agg(max(col("vec_id"))).head().getLong(0) / 3
      val store = graft.Artifacts.jvm("stream.ivfpqMaint", d, "embeddings.parquet") {
        val tmp = graft.Artifacts.tempDir("graft_stream_ivfpq_").toString
        graft.llm.VectorOps.writeIvfPqFrom(
          graft.llm.VectorOps.vecsOf(embs.filter(col("vec_id") < boundary)),
          tmp, d, "base:" + fp)
        tmp
      }
      val q = embStream.filter(col("vec_id") >= boundary)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val range = batch.agg(min(col("vec_id")), max(col("vec_id"))).head()
          if (!range.isNullAt(0)) {
            graft.llm.VectorOps.absorbIvfPqAppend(s, store,
              graft.llm.VectorOps.vecsOf(batch), d, fp,
              opId = s"vec:${range.getLong(0)}-${range.getLong(1)}")
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException("stream_index_maint did not finish")
      } finally q.stop()
      graft.llm.VectorOps.serveIvfPqStore(s, store, d)
    }

  /** STREAMING index maintenance ACROSS RECOVERY, graded (r12 VERDICT
    * #5): [[streamIndexMaint]] proves idempotent absorb within one
    * query lifetime; this runs the SAME consumer as THREE lifetimes —
    * the `cdc_stream_restart_asof` discipline applied to the index
    * pipeline, where the double-append corruption would actually happen
    * in production:
    *
    *   1. lifetime 1 (slices 0+1 visible, fresh checkpoint): the base
    *      store is built from the first third, slice 1's delta absorbs
    *      through the journal;
    *   2. lifetime 2 (slice 2 added, SAME checkpoint): the restarted
    *      query recovers its offsets and drains only the new slice —
    *      offset recovery, no re-append;
    *   3. lifetime 3 (FRESH checkpoint over all 3 slices): the whole
    *      stream REDELIVERS — every micro-batch re-offers its delta
    *      under its original vec-range op id and the journal must
    *      refuse each one ([[graft.llm.VectorOps.absorbIvfPqAppend]]
    *      returns false), the at-least-once no-op graded for real.
    *
    * The post-recovery serve must still equal the frozen-codebook
    * rebuild: [[graft.llm.VectorOps.MaintainedStreamTwin]] verbatim — a
    * dropped batch (lifetime 2 failing to resume), a double-applied
    * batch (lifetime 3 appending), or codes against retrained centroids
    * all break the hash. Fresh store/checkpoint/source dirs per
    * invocation (the restart mechanics re-exercise on every pass); the
    * lifetimes run sequentially WITHIN this member even when the
    * restart family co-schedules it alongside its peers. */
  def streamRestartIndexMaint(s: SparkSession, d: String): DataFrame = {
    val embs = Tables.embeddings(s, d)
    val fp = graft.llm.VectorOps.embFingerprint(d)
    val boundary = embs.agg(max(col("vec_id"))).head().getLong(0) / 3
    val srcAll = embSlices(s, d)
    val tmp = Files.createTempDirectory("graft_stream_restart_maint_")
    val in = Files.createDirectory(tmp.resolve("in"))
    val store = tmp.resolve("store").toString
    import scala.jdk.CollectionConverters._
    val slices = Files.list(srcAll).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    def copySlice(i: Int): Unit = {
      val dst = in.resolve(slices(i).getFileName.toString)
      Files.copy(slices(i), dst)
      dst.toFile.setLastModified(slices(i).toFile.lastModified)
      ()
    }
    def runLifetime(ckpt: String): Unit = {
      val q = s.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
        .filter(col("vec_id") >= boundary)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val range = batch.agg(min(col("vec_id")), max(col("vec_id"))).head()
          if (!range.isNullAt(0)) {
            graft.llm.VectorOps.absorbIvfPqAppend(s, store,
              graft.llm.VectorOps.vecsOf(batch), d, fp,
              opId = s"vec:${range.getLong(0)}-${range.getLong(1)}")
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(180000L))
          throw new IllegalStateException("restart-maint lifetime did not finish")
      } finally q.stop()
    }
    try {
      graft.llm.VectorOps.writeIvfPqFrom(
        graft.llm.VectorOps.vecsOf(embs.filter(col("vec_id") < boundary)),
        store, d, "base:" + fp)
      val ckpt = tmp.resolve("ckpt").toString
      copySlice(0); copySlice(1)
      runLifetime(ckpt) // lifetime 1: base + slice-1 delta into journal
      copySlice(2)
      runLifetime(ckpt) // lifetime 2: RECOVERS offsets, drains only slice 3
      // lifetime 3: fresh checkpoint => full redelivery; journal refuses
      // every delta and the store must be byte-stable
      runLifetime(tmp.resolve("ckpt2").toString)
      graft.llm.VectorOps.serveIvfPqStore(s, store, d)
        .localCheckpoint(true)
        .orderBy(col("qid"), col("rank"))
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    raw.map { case (n, f) => n -> entry(n, f) }

  // family membership must stay in lockstep with the catalog: a new
  // graded query must be placed in a family (or declared a singleton)
  // in the same commit, or the object fails to initialize
  require(families.flatMap(_._1).toSet ++ rocksSingletons == raw.keySet,
    "grade families + singletons must partition the graded catalog")
  require(families.map(_._1.size).sum == families.flatMap(_._1).toSet.size,
    "grade families must be disjoint")

  private def rx(pattern: String): String = graft.cdc.MqttPattern.toRegex(pattern)

  /** Batch SCD2 restricted to CLOSED intervals — shared by
    * `cdc_stream_scd2` and the checkpoint-recovery grade
    * `cdc_stream_restart_scd2` (the recovered run must produce the
    * identical closed set). */
  private val Scd2ClosedTwin =
    s"""${Tables.BusCte}
       |SELECT channel, event_id, ts AS valid_from,
       |       lead(ts) OVER w AS valid_to,
       |       round(value, 2) AS value
       |FROM ev WHERE user_id < 20
       |WINDOW w AS (PARTITION BY channel ORDER BY ts, event_id)
       |QUALIFY valid_to IS NOT NULL
       |ORDER BY channel, valid_from, event_id""".stripMargin

  /** Stream-STREAM as-of twin, shared by `cdc_stream_asof_join` and the
    * checkpoint-recovery grade `cdc_stream_restart_asof` (the recovered
    * two-lifetime run must be indistinguishable from the uninterrupted
    * one). */
  private val AsOfStreamJoinTwin =
    """WITH mx AS (SELECT date_trunc('milliseconds', max(ts)) AS m
      |            FROM events WHERE event_type IN ('click', 'purchase')),
      |c AS (
      |  SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (
      |  SELECT event_id, user_id, ts
      |  FROM events, mx WHERE event_type = 'purchase' AND ts < mx.m)
      |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |       c.click_id AS last_click_id, CAST(c.ts AS TIMESTAMP) AS last_click_ts
      |FROM p ASOF LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // recovery graded: two query lifetimes over one checkpoint must
    // reproduce the single-lifetime closed-interval set exactly
    "cdc_stream_restart_scd2" -> Scd2ClosedTwin,

    // two lifetimes + a full slice redelivery must fold to the same
    // full recompute — recovery and at-least-once replay absorbed
    "cdc_stream_restart_ivm" -> graft.cdc.CdcBus.IvmFullRecomputeTwin,
    // the cap contract, order-insensitive: exactly min(matching, 5)
    // deliveries per subscription, zero-delivery subs kept
    "cdc_stream_take" ->
      s"""${Tables.BusCte}
         |SELECT sub, least(count(channel), CAST(5 AS BIGINT)) AS delivered
         |FROM (VALUES ${graft.cdc.CdcBus.subs.map { case (n, p) => s"('$n', '${rx(p)}')" }.mkString(", ")}) pats(sub, pat_rx)
         |LEFT JOIN ev ON regexp_matches(ev.channel, pats.pat_rx)
         |GROUP BY sub ORDER BY sub""".stripMargin,

    // pure event-time interval-join twin: the successor response within
    // [req_ts, req_ts + 30 min]; out-of-window successors excluded
    "cdc_stream_rpc_join" ->
      s"""${Tables.BusCte}
         |SELECT r.event_id AS req_id, r.ts AS req_ts,
         |       s.ts AS res_ts, s.channel AS res_channel
         |FROM (SELECT event_id, ts FROM ev WHERE event_id % 4 = 0) r
         |JOIN (SELECT event_id - 1 AS rid, ts, channel FROM ev
         |      WHERE event_id % 8 = 1) s
         |  ON r.event_id = s.rid
         |WHERE s.ts >= r.ts AND s.ts <= r.ts + INTERVAL 30 MINUTE
         |ORDER BY req_id, res_ts""".stripMargin,

    // stream-static broadcast enrichment + complete-mode rollup: the
    // twin is the plain batch join over the same dim
    "cdc_stream_enrich" ->
      s"""${Tables.BusCte}
         |SELECT c.c_mktsegment AS c_mktsegment, ev.event_type AS event_type,
         |       count(*) AS n, round(sum(ev.value), 2) AS total_value
         |FROM ev LEFT JOIN customer c ON ev.user_id = c.c_custkey
         |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin,

    // stream-static broadcast AS-OF enrichment: per-row and
    // order-insensitive, so the live sink shares the batch operator's
    // ASOF twin text verbatim (RelQueries.AsOfSqlText)
    "cdc_stream_asof" -> graft.rel.RelQueries.AsOfSqlText,

    // stream-STREAM as-of: the batch ASOF text over the same sides, with
    // the final-watermark tail modeled — the stream's watermark is the
    // ms-floor of max(ts) over the purchase+click subset (delay 0), and
    // a purchase emits only at ts strictly below it; clicks need no tail
    // term (a click influences output only through some emitted purchase
    // at-or-after it)
    "cdc_stream_asof_join" -> AsOfStreamJoinTwin,
    // gate recovery graded: two query lifetimes over one checkpoint
    // (pending probes + history crossing the restart) must reproduce
    // the uninterrupted run's rows exactly — same twin verbatim
    "cdc_stream_restart_asof" -> AsOfStreamJoinTwin,

    // the outer-join eviction arithmetic: a 408 row exists iff the
    // request is unmatched AND its deadline precedes the final global
    // watermark min(max req ts, max res ts) - 30 min (probed exact —
    // the boundary predicate was verified empirically at two SFs)
    "cdc_stream_rpc_outer" ->
      s"""${Tables.BusCte}
         |, req AS (SELECT event_id AS req_id, ts AS req_ts FROM ev
         |          WHERE event_id % 4 = 0),
         |res AS (SELECT event_id - 1 AS rid, ts AS res_ts, channel FROM ev
         |        WHERE event_id % 8 = 1),
         |mr AS (SELECT max(req_ts) AS m FROM req),
         |ms AS (SELECT max(res_ts) AS m FROM res),
         |matched AS (
         |  SELECT r.req_id, r.req_ts, s.channel AS res_channel,
         |         CAST(200 AS BIGINT) AS code
         |  FROM req r JOIN res s ON r.req_id = s.rid
         |  WHERE s.res_ts >= r.req_ts
         |    AND s.res_ts <= r.req_ts + INTERVAL 30 MINUTE),
         |timeouts AS (
         |  SELECT r.req_id, r.req_ts, '__timeout__' AS res_channel,
         |         CAST(408 AS BIGINT) AS code
         |  FROM req r CROSS JOIN mr CROSS JOIN ms
         |  WHERE NOT EXISTS (SELECT 1 FROM res s WHERE s.rid = r.req_id
         |        AND s.res_ts >= r.req_ts
         |        AND s.res_ts <= r.req_ts + INTERVAL 30 MINUTE)
         |    AND r.req_ts + INTERVAL 30 MINUTE
         |        < least(mr.m, ms.m) - INTERVAL 30 MINUTE)
         |SELECT req_id, req_ts, res_channel, code FROM matched
         |UNION ALL SELECT req_id, req_ts, res_channel, code FROM timeouts
         |ORDER BY req_id, req_ts""".stripMargin,

    // shares the batch winnow_pairs twin verbatim: per-pair emission
    // count == shared-fingerprint count (each (doc, fp) arrives once)
    "doc_stream_substring_dup" ->
      s"""WITH ${graft.llm.HashDedup.WinnowCte},
         |fps AS (SELECT DISTINCT doc_id, wmin AS fp FROM w WHERE pos <= n - 3)
         |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         |FROM fps x JOIN fps y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2
         |ORDER BY a, b""".stripMargin,

    // shares the batch cms_heavy_hitters twin verbatim: the live grid
    // must be bit-identical to the batch grid
    "doc_stream_cms" -> graft.llm.TextOps.oracle("cms_heavy_hitters"),

    // shares the batch pipeline_kept twin verbatim: the composed live
    // gates must reproduce the offline survival audit exactly
    "doc_stream_pipeline" -> graft.llm.HashDedup.oracle("pipeline_kept"),

    // the batch mix_shift audit re-keyed to (source, today-total, tv):
    // yesterday = hash-buckets 0-8 (the gate's static reference), today
    // = buckets 1-9 (the replayed stream); sources with an empty side
    // never emit and are excluded
    "doc_stream_mix_shift" ->
      s"""WITH toks AS (
         |  SELECT source,
         |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bkt,
         |         unnest(str_split(text, ' ')) AS tok
         |  FROM documents),
         |top AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM toks GROUP BY 1)
         |        ORDER BY c DESC, tok LIMIT ${graft.llm.TextOps.MixShiftTerms}),
         |counts AS (
         |  SELECT source, tok,
         |         CAST(sum(CASE WHEN bkt <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS cy,
         |         CAST(sum(CASE WHEN bkt >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM toks JOIN top USING (tok) GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(cy) AS BIGINT) AS ty,
         |               CAST(sum(ct) AS BIGINT) AS tt FROM counts GROUP BY 1)
         |SELECT source, tt AS n_occ,
         |       round(CAST(sum(abs(ct * ty - cy * tt)) AS DOUBLE)
         |             / CAST(ty * tt * 2 AS DOUBLE), 4) AS tv_dist
         |FROM counts JOIN tot USING (source)
         |WHERE ty * tt <> 0
         |GROUP BY source, ty, tt ORDER BY source""".stripMargin,

    // the batch pHash band join's near pairs (ham <= 3), distinct over
    // bands, a < b — graded buckets stay under the member cap so the
    // live gate's candidate set equals this exactly
    "mm_stream_phash_dup" -> {
      val bits = (0 until 16).map { i =>
        s"(CASE WHEN CAST(concat('0x', substr(hx, ${(i % 16) * 2 + 1}, 2)) AS BIGINT) " +
          s"> ${graft.llm.Multimodal.PhashThresholds(i / 16)} " +
          s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" | ")
      s"""WITH mm AS (SELECT doc_id, md5(text) AS hx FROM documents),
         |sig AS (SELECT doc_id, $bits AS sig FROM mm),
         |banded AS (
         |  SELECT doc_id, sig, band, (sig >> (band * 4)) & 15 AS nib
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
         |cands AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS sa, y.sig AS sb
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.nib = y.nib AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS ham
         |FROM cands WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY a, b""".stripMargin
    },

    // the batch IVF probe over the same halves: queries = arriving
    // vec_id % 26 == 1 sample, corpus/centroids = the static even half;
    // route to 2 cells, rank candidates (cos desc, vec_id)
    "emb_stream_ann" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |             list_dot_product(CAST(embedding AS DOUBLE[]),
         |               CAST(embedding AS DOUBLE[])) AS n2
         |           FROM embeddings),
         |ee AS (SELECT * FROM e WHERE vec_id % 2 = 0),
         |cq AS (
         |  SELECT label, px.pos AS pos, CAST(floor(px.x * 1000) AS BIGINT) AS xq
         |  FROM (SELECT label,
         |               unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS px
         |        FROM ee)),
         |cm AS (
         |  SELECT label, pos,
         |         CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000.0 AS m
         |  FROM cq GROUP BY 1, 2),
         |cents AS (
         |  SELECT cell, cv, list_dot_product(cv, cv) AS cn2 FROM (
         |    SELECT label AS cell, list(m ORDER BY pos) AS cv FROM cm GROUP BY label)),
         |q AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e
         |      WHERE vec_id % 26 = 1 AND n2 > 0),
         |routed AS (
         |  SELECT qid, qv, qn2, cell FROM (
         |    SELECT qid, qv, qn2, cell,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY cellcos DESC, cell) AS crk
         |    FROM (SELECT qid, qv, qn2, cell,
         |                 list_dot_product(qv, cv) / (sqrt(qn2) * sqrt(cn2)) AS cellcos
         |          FROM q CROSS JOIN cents))
         |  WHERE crk <= 2),
         |cand AS (
         |  SELECT r.qid AS qid, c.vec_id AS vec_id,
         |         list_dot_product(r.qv, c.v) / (sqrt(r.qn2) * sqrt(c.n2)) AS cos_raw
         |  FROM routed r JOIN ee c ON c.label = r.cell AND c.vec_id != r.qid
         |  WHERE c.n2 > 0)
         |SELECT qid, rank, vec_id, round(cos_raw, 5) AS cos FROM (
         |  SELECT qid, vec_id, cos_raw,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY cos_raw DESC, vec_id) AS BIGINT) AS rank
         |  FROM cand)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // the streaming-maintained store's twin lives with the rest of the
    // IVF-PQ CTE machinery in VectorOps: frozen codebook over the base
    // third, codes over the full corpus
    "emb_stream_maintained" -> graft.llm.VectorOps.MaintainedStreamTwin,

    // live two-stage retrieval serves EXACTLY like the offline pipeline:
    // maxsim_rerank_ivf's twin verbatim (stage-1 pool from the persisted
    // store ≡ the inline index — ann_ivfadc_loaded's already-graded
    // equivalence — and the rerank tail is shared code)
    "emb_stream_maxsim" -> graft.llm.VectorOps.oracle("maxsim_rerank_ivf"),

    // maintenance ACROSS RECOVERY must serve exactly the frozen-codebook
    // rebuild — the single-lifetime twin, verbatim: offsets recovered,
    // redelivered deltas refused, nothing dropped or doubled
    "emb_stream_restart_maintained" -> graft.llm.VectorOps.MaintainedStreamTwin,

    // the batch embed_centroid_drift twin re-keyed: reference = even
    // half (a), stream = odd half (b); n_seen = odd-half count
    "emb_stream_centroid_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |cq AS (
        |  SELECT label, CAST(vec_id % 2 AS INTEGER) AS half, px.pos AS pos,
        |         CAST(floor(px.x * 1000) AS BIGINT) AS xq
        |  FROM (SELECT label, vec_id,
        |               unnest(list_transform(v, (x, i) -> struct_pack(pos := i, x := x))) AS px
        |        FROM e)),
        |cm AS (
        |  SELECT label, half, pos,
        |         CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000.0 AS m,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM cq GROUP BY 1, 2, 3)
        |SELECT CAST(a.label AS BIGINT) AS label, max(b.n) AS n_seen,
        |       round(sqrt(sum((b.m - a.m) * (b.m - a.m))), 5) AS drift
        |FROM (SELECT * FROM cm WHERE half = 0) a
        |JOIN (SELECT * FROM cm WHERE half = 1) b
        |  ON a.label = b.label AND a.pos = b.pos
        |GROUP BY 1 ORDER BY label""".stripMargin,
    // shares cdc_sub_counters' twin verbatim — the stream transports and
    // counts losslessly, so the direct batch count is the contract
    "cdc_stream_counters" ->
      s"""${Tables.BusCte}
         |SELECT sub, count(channel) AS received
         |FROM (VALUES ${graft.cdc.CdcBus.subs.map { case (n, p) => s"('$n', '${rx(p)}')" }.mkString(", ")}) pats(sub, pat_rx)
         |LEFT JOIN ev ON regexp_matches(ev.channel, pats.pat_rx)
         |GROUP BY sub ORDER BY sub""".stripMargin,

    // the live-maintained series must serve exactly the batch search:
    // ts_user_similarity's twin, verbatim
    "cdc_stream_ts_sim" -> graft.rel.RelQueries.oracle("ts_user_similarity"),

    // the same maintained series through the warping-tolerant tail:
    // ts_dtw_topk's recursive-DP twin, verbatim
    "cdc_stream_dtw" -> graft.rel.RelQueries.oracle("ts_dtw_topk"),

    "cdc_stream_retained" ->
      s"""${Tables.BusCte}
         |SELECT channel, event_id, ts, round(value, 2) AS value FROM (
         |  SELECT channel, event_id, ts, value,
         |         row_number() OVER (PARTITION BY channel
         |           ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ev WHERE user_id < 20)
         |WHERE rn = 1 ORDER BY channel""".stripMargin,

    // batch SCD2 restricted to CLOSED intervals: the open version is
    // held state, not an emitted row
    "cdc_stream_scd2" -> Scd2ClosedTwin,

    // the live changelog's fold must equal the full recompute — the
    // SAME twin the batch IVM rows grade against (cdc_ivm_agg)
    "cdc_stream_ivm" -> graft.cdc.CdcBus.IvmFullRecomputeTwin,
    "cdc_stream_ivm_minmax" -> graft.cdc.CdcBus.IvmMinMaxRecomputeTwin,
    "cdc_stream_restart_ivm_minmax" -> graft.cdc.CdcBus.IvmMinMaxRecomputeTwin,
    "cdc_stream_ivm_distinct" -> graft.cdc.CdcBus.IvmDistinctRecomputeTwin,
    "cdc_stream_restart_ivm_distinct" ->
      graft.cdc.CdcBus.IvmDistinctRecomputeTwin,
    // the two-relation view: live fold and restart reconstruction both
    // grade against the SAME full-recompute twin as the batch rows
    "cdc_stream_ivm_join" -> graft.cdc.CdcBus.IvmJoinRecomputeTwin,
    "cdc_stream_restart_ivm_join" -> graft.cdc.CdcBus.IvmJoinRecomputeTwin,

    "cdc_stream_gaps" ->
      """SELECT event_type, prev_seq, next_seq, next_seq - prev_seq - 1 AS missing
        |FROM (
        |  SELECT event_type,
        |         lag(event_id) OVER (PARTITION BY event_type
        |           ORDER BY event_id) AS prev_seq,
        |         event_id AS next_seq
        |  FROM events)
        |WHERE prev_seq IS NOT NULL AND next_seq - prev_seq > 1
        |ORDER BY event_type, next_seq""".stripMargin,

    // the parquet never had duplicates — a redelivered frame surviving
    // the dedup gate inflates n and breaks the hash
    "cdc_stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // same twin shape as cdc_stream_dedup, but the Spark side aggregates
    // the RE-READ partitioned capture the streaming engine wrote — a
    // frame lost/duplicated in the capture loop breaks the hash
    "cdc_stream_capture" ->
      """SELECT event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // Spark's window() buckets on the epoch-aligned 5-minute grid
    "cdc_stream_tumbling" ->
      """SELECT TIMESTAMP '1970-01-01 00:00:00'
        |         + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 AS BIGINT)
        |           * INTERVAL 1 SECOND AS w_start,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // shares the batch events_sliding twin verbatim: the hop family's
    // windowed state graded live next to tumbling and session
    "cdc_stream_sliding" -> graft.rel.RelQueries.oracle("events_sliding"),

    // shares the batch events_session_native twin verbatim: gap-based
    // session reconstruction, s_end = last event + gap
    "cdc_stream_sessions" -> """
      SELECT min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             user_id, count(*) AS n
      FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN gap_us IS NULL OR gap_us >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
          FROM (
            SELECT user_id, ts, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP))
                     - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events)))
      GROUP BY user_id, sess_id ORDER BY user_id, s_start""",

    // the final re-emission per user == the batch aggregate
    "cdc_stream_user_features" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_purchases,
        |       round(sum(value), 2) AS total_value,
        |       epoch_us(max(CAST(ts AS TIMESTAMP))) AS last_us
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    // pure event-time outcome: 200 with the response payload when the
    // %8==1 successor exists, 408 once the final watermark (max ts)
    // passes the 5-day deadline, NO row for the unanswered tail
    "cdc_stream_rpc" ->
      s"""${Tables.BusCte}
         |, mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS maxts FROM ev
         |         WHERE event_id % 4 = 0 OR event_id % 8 = 1),
         |req AS (SELECT event_id AS req_id, CAST(ts AS TIMESTAMP) AS rts
         |        FROM ev WHERE event_id % 4 = 0),
         |res AS (SELECT event_id - 1 AS req_id, event_id, channel AS payload
         |        FROM ev WHERE event_id % 8 = 1)
         |SELECT r.req_id,
         |       CAST(CASE WHEN s.req_id IS NOT NULL THEN 200 ELSE 408 END AS BIGINT) AS code,
         |       coalesce(s.event_id, -1) AS event_id,
         |       coalesce(s.payload, 'request time out') AS payload
         |FROM req r LEFT JOIN res s USING (req_id) CROSS JOIN mx
         |WHERE s.req_id IS NOT NULL OR r.rts + INTERVAL 5 DAY < mx.maxts
         |ORDER BY req_id""".stripMargin,

    // shares the batch minhash_pairs twin verbatim (the cap-free
    // candidate set — graded buckets stay under the cap)
    "doc_stream_neardup" ->
      s"""WITH ${graft.llm.HashDedup.ShingleCte}, ${graft.llm.HashDedup.HashCte},
         |${graft.llm.HashDedup.SigCte}, ${graft.llm.HashDedup.BandsCte}
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bands x JOIN bands y
         |  ON x.band_id = y.band_id AND x.bh = y.bh AND x.doc_id < y.doc_id
         |ORDER BY a, b""".stripMargin,

    // first sighting per (source, token) — the crawl replays in doc_id
    // order, so the first-batch minimum is the global minimum
    "doc_stream_vocab_novelty" ->
      """SELECT source, tok, min(doc_id) AS first_doc
        |FROM (SELECT source, doc_id, unnest(str_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY source, tok""".stripMargin,

    // shares the batch incremental_neardup twin verbatim: arrivals are
    // the doc_id-hash bucket 9, the store holds buckets 0-8
    "doc_stream_incr_neardup" ->
      s"""WITH ${graft.llm.HashDedup.ShingleCte}, ${graft.llm.HashDedup.HashCte},
         |${graft.llm.HashDedup.SigCte}, ${graft.llm.HashDedup.BandsCte},
         |k AS (SELECT doc_id, band_id, bh,
         |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |          AS BIGINT) % 10 AS bkt
         |      FROM bands)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM k x JOIN k y ON x.band_id = y.band_id AND x.bh = y.bh
         |WHERE x.bkt = 9 AND y.bkt <> 9
         |ORDER BY a, b""".stripMargin,

    // the 3-step mini-batch SGD trajectory, unrolled: gradient of slice
    // k evaluated AT the weights after slice k-1 (w0 = 0, lr = 0.1);
    // features and constants spelled exactly as the logreg_step twin
    "doc_stream_logreg" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |f AS (
        |  SELECT CASE WHEN doc_id < m // 3 THEN 1
        |              WHEN doc_id < 2 * m // 3 THEN 2 ELSE 3 END AS slice,
        |         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |         1.0 AS x0,
        |         CAST(least(len(ws), 200) AS DOUBLE) / 200.0 AS x1,
        |         CAST(len(list_filter(ws, w -> list_contains(
        |           ['the', 'a', 'of', 'and', 'to', 'in', 'is'], w))) AS DOUBLE)
        |           / len(ws) AS x2
        |  FROM (SELECT doc_id, lang, str_split(text, ' ') AS ws FROM documents)
        |  CROSS JOIN mx),
        |s1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         -0.1 * sum(x0 * (0.5 - y)) / count(*) AS w0,
        |         -0.1 * sum(x1 * (0.5 - y)) / count(*) AS w1,
        |         -0.1 * sum(x2 * (0.5 - y)) / count(*) AS w2
        |  FROM f WHERE slice = 1),
        |s2 AS (
        |  SELECT CAST(s1.n + count(*) AS BIGINT) AS n,
        |         s1.w0 - 0.1 * sum(x0 * (1.0 / (1.0 + exp(-(s1.w0 * x0 + s1.w1 * x1 + s1.w2 * x2))) - y)) / count(*) AS w0,
        |         s1.w1 - 0.1 * sum(x1 * (1.0 / (1.0 + exp(-(s1.w0 * x0 + s1.w1 * x1 + s1.w2 * x2))) - y)) / count(*) AS w1,
        |         s1.w2 - 0.1 * sum(x2 * (1.0 / (1.0 + exp(-(s1.w0 * x0 + s1.w1 * x1 + s1.w2 * x2))) - y)) / count(*) AS w2
        |  FROM f CROSS JOIN s1 WHERE slice = 2
        |  GROUP BY s1.n, s1.w0, s1.w1, s1.w2),
        |s3 AS (
        |  SELECT CAST(s2.n + count(*) AS BIGINT) AS n,
        |         s2.w0 - 0.1 * sum(x0 * (1.0 / (1.0 + exp(-(s2.w0 * x0 + s2.w1 * x1 + s2.w2 * x2))) - y)) / count(*) AS w0,
        |         s2.w1 - 0.1 * sum(x1 * (1.0 / (1.0 + exp(-(s2.w0 * x0 + s2.w1 * x1 + s2.w2 * x2))) - y)) / count(*) AS w1,
        |         s2.w2 - 0.1 * sum(x2 * (1.0 / (1.0 + exp(-(s2.w0 * x0 + s2.w1 * x1 + s2.w2 * x2))) - y)) / count(*) AS w2
        |  FROM f CROSS JOIN s2 WHERE slice = 3
        |  GROUP BY s2.n, s2.w0, s2.w1, s2.w2)
        |SELECT n AS n_seen, round(w0, 4) AS w0, round(w1, 4) AS w1,
        |       round(w2, 4) AS w2
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |      UNION ALL SELECT * FROM s3)
        |ORDER BY n_seen""".stripMargin)
}
