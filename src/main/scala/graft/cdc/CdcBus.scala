package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.GraftFunctions.mqtt_matches

/** The CDC-bus operator set — Spark-first re-expression of the reference's
  * entire computational surface (SURVEY §2a #1-#10):
  * scan-once/filter-many routing, per-subscription take(n), delivery
  * counters, first-response-wins RPC with timeout fallback, JSON payload
  * access, channel-level extraction.
  *
  * Every query is deterministic (total ORDER BY) and has a DuckDB twin in
  * [[oracle]] whose MQTT regexes are compiled by the same
  * [[MqttPattern.toRegex]] the Spark expression uses.
  */
object CdcBus {

  private def rx(pattern: String): String = MqttPattern.toRegex(pattern)

  /** Flagship: hottest channels among those routed to the error
    * subscription (`cdc/error/#`) — scan → synthesize channel → custom
    * predicate → agg → sort → limit. */
  def routeHot(s: SparkSession, d: String): DataFrame =
    Tables.bus(s, d)
      .filter(mqtt_matches(lit("cdc/error/#"), col("channel")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("n").desc, col("channel"))
      .limit(20)

  /** The reference's per-subscription `received` counters
    * (lib/nats.js:97) over a dynamic subscription table — exercises the
    * non-constant-pattern path of the matcher.
    *
    * Scale shape: the bus NEVER moves. Each bus row evaluates the k
    * patterns in place (array-filter + explode — the reference's own
    * per-message dispatch loop, lib/nats.js:92-95), partial-aggregates to
    * a ≤k-row count table, and that tiny table broadcast-joins back onto
    * the subscription dimension (left join keeps zero-delivery subs at 0).
    * The naive alternative — non-equi-joining the pattern table against
    * the bus — would force a BroadcastNestedLoopJoin with the BUS on the
    * build side, which dies at 100 TB; PlanShapeSpec asserts the executed
    * plan never contains a BNLJ/cartesian. */
  def subCounters(s: SparkSession, d: String): DataFrame = {
    val spark = s; import spark.implicits._
    val pats = subs.toDF("sub", "pattern")
    val counts = matchCounts(Tables.bus(s, d), subs.map(_._2))
    pats.join(broadcast(counts), Seq("pattern"), "left")
      .select(col("sub"), coalesce(col("hits"), lit(0L)).as("received"))
      .orderBy(col("sub"))
  }

  /** Per-pattern match counts computed bus-side: one scan, per-row
    * dispatch, hash-aggregate on the pattern INDEX. Output ≤ k rows.
    * Patterns are deduplicated first — two subscriptions sharing a pattern
    * must each see the true per-pattern count, not a doubled explode
    * (the join-back on `pattern` fans the one count out to both subs).
    *
    * The dispatch itself is ONE compiled [[MqttTrie]] walk per row
    * (`mqtt_dispatch`) — the reference's O(#subs) per-message loop
    * (lib/nats.js:92-95) collapsed to O(topic depth), so a bus with
    * thousands of logical subscriptions pays the same per-row cost as
    * one with five. Aggregation runs on the integer index; the pattern
    * string is attached to the ≤ k result rows afterwards. */
  private[graft] def matchCounts(bus: DataFrame, patterns: Seq[String]): DataFrame = {
    val pats = patterns.distinct
    bus.select(explode(
        graft.functions.GraftFunctions.mqtt_dispatch(col("channel"), pats)).as("pi"))
      .groupBy(col("pi"))
      .agg(count(lit(1)).as("hits"))
      .select(element_at(typedlit(pats), col("pi") + 1).as("pattern"), col("hits"))
  }

  private[graft] val subs = Seq(
    "s_all"      -> "cdc/#",
    "s_click"    -> "cdc/click/#",
    "s_err"      -> "cdc/error/#",
    "s_none"     -> "cdc/nosuch/#",
    "s_user1"    -> "cdc/+/1")

  /** take(n)/auto-unsubscribe (lib/nats.js:98-107): exactly the first
    * `max=5` messages matching the subscription, in arrival (event_id)
    * order. `orderBy(...).limit(n)` plans TakeOrderedAndProject —
    * per-partition top-n, then a single-partition reduce over n·P rows —
    * never a global single-partition sort (the window-rank formulation
    * would funnel every match through one task). */
  def takeN(s: SparkSession, d: String): DataFrame =
    Tables.bus(s, d)
      .filter(mqtt_matches(lit("cdc/signup/#"), col("channel")))
      .select(col("event_id"), col("channel"), col("ts"))
      .orderBy(col("event_id"))
      .limit(5)

  /** RPC first-response-wins (lib/nats.js:216-223): k response-pattern
    * subscriptions, earliest arrival wins. The k subscriptions are one
    * disjunctive predicate over ONE scan (a per-pattern filter + union
    * would read the bus k times); the plan is per-partition top-1 then a
    * 1-row reduce (TakeOrderedAndProject), never a global sort. */
  def rpcFirst(s: SparkSession, d: String): DataFrame = {
    val resPatterns = Seq("cdc/purchase/#", "cdc/error/#")
    Tables.bus(s, d)
      .filter(resPatterns.map(p => mqtt_matches(lit(p), col("channel"))).reduce(_ || _))
      .select(col("event_id"), col("channel"), col("ts"), lit(200).as("code"))
      .orderBy(col("ts"), col("event_id"))
      .limit(1)
  }

  /** RPC timeout fallback (lib/nats.js:238-247): no response on the
    * subscribed patterns → soft-resolve a 408 sentinel row. Set-based
    * COALESCE: union the would-be response with the default row, keep the
    * lowest code (a real response's 200 outranks the 408 default). */
  def rpcTimeout(s: SparkSession, d: String): DataFrame = {
    val hit = Tables.bus(s, d)
      .filter(mqtt_matches(lit("cdc/nosuch/#"), col("channel")))
      .select(col("event_id"), lit(200).as("code"))
    val fallback = s.range(1).select(lit(-1L).as("event_id"), lit(408).as("code"))
    hit.unionByName(fallback)
      .orderBy(col("code"), col("event_id"))
      .limit(1)
  }

  /** Opaque JSON payload access (`contentType:"json"` convention,
    * examples/cdc-pub.js:34,39): extract `$.k` from `props`, aggregate per
    * routed event_type. */
  def jsonPayload(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
           sum(col("k")).as("sum_k"),
           round(avg(col("k").cast("double")), 3).as("avg_k"))
      .orderBy(col("event_type"))

  /** Channel-level extraction (mqtt-pattern named wildcards `+name`):
    * split the topic path and group on the extracted parameter levels. */
  def channelExtract(s: SparkSession, d: String): DataFrame =
    Tables.bus(s, d)
      .withColumn("etype", element_at(split(col("channel"), "/"), 2))
      .withColumn("uid", element_at(split(col("channel"), "/"), 3))
      .groupBy(col("etype"))
      .agg(countDistinct(col("uid")).as("n_users"), count(lit(1)).as("n"))
      .orderBy(col("etype"))

  /** Named-wildcard captures (mqtt-pattern `exec`, reference dep
    * yarn.lock:77-81): route by `cdc/+etype/#rest` and extract BOTH named
    * parameters via [[MqttPattern.toExtractRegex]] — the same compiler
    * emits the oracle's regex, so Spark and DuckDB run the identical
    * capture-group extraction. `#rest` here captures the joined tail
    * (user id), `+etype` the routed level. */
  def extractNamed(s: SparkSession, d: String): DataFrame = {
    val pat = "cdc/+etype/#rest"
    val (erx, names) = MqttPattern.toExtractRegex(pat)
    def grp(n: String): Int = names.indexOf(n) + 1
    Tables.bus(s, d)
      .filter(mqtt_matches(lit(pat), col("channel")))
      .withColumn("etype", regexp_extract(col("channel"), erx, grp("etype")))
      .withColumn("rest", regexp_extract(col("channel"), erx, grp("rest")))
      .groupBy(col("etype"))
      .agg(countDistinct(col("rest")).as("n_rest"),
           min(col("rest")).as("first_rest"),
           count(lit(1)).as("n"))
      .orderBy(col("etype"))
  }

  /** The routing surface through the SQL entry point: registered
    * `mqtt_matches` + the prefix-pushdown rule apply to `spark.sql` text
    * exactly as to the DataFrame API — a reference user's subscription
    * runs as ANSI SQL. ([[graft.GraftSession.install]] registers the
    * functions in a session built without extensions.) */
  def sqlRoute(s: SparkSession, d: String): DataFrame = {
    graft.GraftSession.install(s)
    Tables.bus(s, d).createOrReplaceTempView("graft_bus_v")
    s.sql("""
      SELECT element_at(split(channel, '/'), 2) AS etype,
             count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM graft_bus_v
      WHERE mqtt_matches('cdc/+/1', channel)
      GROUP BY 1 ORDER BY etype""")
  }

  /** Deeper topic hierarchy: a 4-level channel
    * `cdc/<etype>/<uid>/v<value-bucket>` routed by a mixed pattern
    * (`cdc/+/+/v5`) — wildcard depth beyond the basic 3-level layout,
    * with named-level extraction of the tail. */
  def deepRoute(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("channel", concat_ws("/",
        Tables.channelCol(col("event_type"), col("user_id")),
        concat(lit("v"), floor(col("value") / 10).cast("long").cast("string"))))
      .filter(mqtt_matches(lit("cdc/+/+/v5"), col("channel")))
      .withColumn("vbucket", element_at(split(col("channel"), "/"), 4))
      .groupBy(col("event_type"), col("vbucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("vbucket"))

  /** Retained-message view (the MQTT semantics the envelope's `retain`
    * flag implies — reference CDCMsg field, examples/cdc-pub.js:38): the
    * LAST message per channel, i.e. the last-value cache a new subscriber
    * would receive. Partitioned window, newest-first rank 1; bounded to
    * user_id < 20 channels for a stable graded output. */
  def retained(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.bus(s, d)
      .filter(col("user_id") < 20)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("channel"), col("event_id"), col("ts"),
              round(col("value"), 2).as("value"))
      .orderBy(col("channel"))
  }

  /** SCD2 materialization of the CDC stream — the canonical CDC→warehouse
    * shape: every envelope becomes a version row with a validity interval
    * [valid_from, valid_to) closed by the NEXT event on the same channel
    * (lead over the channel partition); the open interval is the current
    * version. One shuffle on the channel key, no self-join — at 100 TB
    * the window partitions by entity key exactly like the retained cache.
    * Reference analogue: the subscriber replaying a channel's history
    * (lib/nats.js:109-111) — here as one declarative pass. */
  def scd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("channel")).orderBy(col("ts"), col("event_id"))
    Tables.bus(s, d)
      .filter(col("user_id") < 20)
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("channel"), col("event_id"), col("ts").as("valid_from"),
              col("valid_to"), col("is_current"),
              round(col("value"), 2).as("value"))
      .orderBy(col("channel"), col("valid_from"), col("event_id"))
  }

  /** Point-in-time REPLAY — the snapshot a subscriber reconstructs by
    * replaying the bus up to a cutoff T: the last event per channel with
    * ts ≤ T, plus the version number that channel had reached by T. The
    * time-travel companion to [[scd2]] (its interval containing T) and
    * [[retained]] (T = now), answered with ONE channel-partitioned window
    * over the time-pruned scan — the cutoff predicate pushes down to the
    * parquet row groups, so replaying "as of last week" on a 100 TB bus
    * reads only the history up to T, and a date-partitioned layout
    * ([[graft.sources.BusLayout]]) prunes whole partitions. */
  def replay(s: SparkSession, d: String): DataFrame = {
    val cutoff = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.eventsUpTo(s, d, cutoff)
      .withColumn("channel", Tables.channelCol(col("event_type"), col("user_id")))
      .filter(col("user_id") < 20)
      .withColumn("rn", row_number().over(w))
      .withColumn("version_no",
        count(lit(1)).over(Window.partitionBy(col("channel"))))
      .filter(col("rn") === 1)
      .select(col("channel"), col("event_id"), col("ts").as("as_of_ts"),
              col("version_no"), round(col("value"), 2).as("value"))
      .orderBy(col("channel"))
  }

  // ---- incremental view maintenance (IVM) over the bus ----

  /** Per-channel retained state of an event frame in exact integer
    * cents — the supporting relation every IVM step joins deltas
    * against (channel, event_type, cents of the channel's CURRENT
    * value). One channel-partitioned window, the [[retained]] shape. */
  private def lastPerChannel(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("channel",
        Tables.channelCol(col("event_type"), col("user_id")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("channel"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
  }

  /** The materialized state+view pair at T0 — in production this is
    * the PERSISTED output of the previous maintenance run; here it is
    * built once from the time-pruned base scan ([[Tables.eventsUpTo]]
    * pushes the cutoff to parquet row groups) and checkpointed so no
    * later step can re-read the base history. View: per event_type,
    * live-channel count and the sum of current values in exact cents
    * (integer arithmetic — maintenance adjustments must be exact, a
    * float view would drift batch over batch). */
  private[graft] def ivmBase(s: SparkSession, d: String,
                      t0: java.time.Instant): (DataFrame, DataFrame) = {
    val state = lastPerChannel(Tables.eventsUpTo(s, d, t0))
      .localCheckpoint(true)
    val view = state.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"), sum(col("cents")).as("total_cents"))
    (state, view)
  }

  /** ONE maintenance step — the delta rule for a grouped SUM under CDC
    * UPDATE semantics, where blind addition is wrong because an update
    * REPLACES its channel's current value: each channel changed in the
    * batch RETRACTS its old current value and INSERTS its new one
    * (old looked up in the state relation), and channels first seen in
    * the batch raise the group's count. Returns (state', view').
    *
    * Cost shape at 100 TB: the step reads the DELTA scan + |changed
    * channels| state lookups + the |groups|-row view — never the base
    * history. With the state bucketed by channel the lookup join is
    * co-located; the view join is a ≤|groups|-row broadcast. */
  private[graft] def ivmStep(state: DataFrame, view: DataFrame,
                      deltaEv: DataFrame): (DataFrame, DataFrame) = {
    val delta = lastPerChannel(deltaEv).localCheckpoint(true)
    val adj = delta
      .join(state.select(col("channel"), col("cents").as("old_cents")),
        Seq("channel"), "left")
      .groupBy(col("event_type"))
      .agg(sum(when(col("old_cents").isNull, 1L).otherwise(0L)).as("dn"),
           sum(col("cents") - coalesce(col("old_cents"), lit(0L))).as("dcents"))
    val view2 = view.join(adj, Seq("event_type"), "full")
      .select(col("event_type"),
        (coalesce(col("n_channels"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_channels"),
        (coalesce(col("total_cents"), lit(0L)) +
          coalesce(col("dcents"), lit(0L))).as("total_cents"))
    val state2 = state
      .join(delta.select(col("channel")), Seq("channel"), "left_anti")
      .unionByName(delta)
    (state2, view2)
  }

  /** INCREMENTAL VIEW MAINTENANCE of a grouped aggregate
    * (`cdc_ivm_agg`): the view "per event_type: live channels + sum of
    * each channel's CURRENT value" is materialized at T0 and MAINTAINED
    * to the head of the bus by applying only the `(T0, ∞)` delta batch
    * — the retract/insert discipline (updates are not self-maintainable
    * by addition). The graded output must equal the twin's FULL
    * recompute at the head: maintenance invents nothing. */
  def ivmAgg(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val (state, view) = ivmBase(s, d, t0)
    val (_, v) = ivmStep(state, view,
      Tables.eventsBetween(s, d, Some(t0), None))
    v.orderBy(col("event_type"))
  }

  /** [[ivmAgg]] COMPOSED over two successive delta batches
    * (`cdc_ivm_compose`) — the production loop shape: base at T0,
    * apply `(T0, T1]`, persist, apply `(T1, ∞)` on the MAINTAINED
    * state, never revisiting either the base or the first batch. Same
    * full-recompute twin: step composition must be associative. */
  def ivmCompose(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val t1 = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val (s0, v0) = ivmBase(s, d, t0)
    val (s1, v1) = ivmStep(s0, v0,
      Tables.eventsBetween(s, d, Some(t0), Some(t1)))
    val (_, v2) = ivmStep(s1.localCheckpoint(true), v1,
      Tables.eventsBetween(s, d, Some(t1), None))
    v2.orderBy(col("event_type"))
  }

  /** The state+view pair at T0 for the MIN/MAX view — [[ivmBase]]'s
    * shape with the NON-self-maintainable aggregates: per event_type,
    * the max and min of the channels' current cents. */
  private[graft] def ivmBaseMinMax(s: SparkSession, d: String,
                      t0: java.time.Instant): (DataFrame, DataFrame) = {
    val state = lastPerChannel(Tables.eventsUpTo(s, d, t0))
      .localCheckpoint(true)
    val view = state.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
           max(col("cents")).as("max_cents"), min(col("cents")).as("min_cents"))
    (state, view)
  }

  /** ONE maintenance step for the MIN/MAX view — the textbook
    * NON-self-maintainable case [[ivmStep]]'s delta rule cannot cover:
    * an INSERT can only raise a max (`greatest(old, delta)` is exact),
    * but a RETRACTION of the value that WAS the max needs
    * re-derivation, because the view alone cannot say what the
    * second-largest was. The step stays delta-bounded by splitting
    * groups:
    *
    *   - CLEAN (the common case): no changed channel's OLD value
    *     equalled the group's extreme, or the replacement re-establishes
    *     it (`d_max >= max_cents`) — every extreme-holder survives in
    *     the unchanged state or the delta, so
    *     `greatest(max_cents, d_max)` / `least(min_cents, d_min)` is
    *     exact and costs only the |delta|-row adjustment join.
    *   - DIRTY (the poison case — the max channel updated DOWNWARD):
    *     re-aggregate that group's rows from the MAINTAINED state
    *     relation. Bounded: |dirty groups| ≤ |changed channels|, the
    *     probe is a broadcast semi-join of group names, and the base
    *     event history is NEVER re-read — state' is the first-layer
    *     materialization the maintenance loop already owns.
    *
    * Returns (state', view'). */
  private[graft] def ivmStepMinMax(state: DataFrame, view: DataFrame,
                      deltaEv: DataFrame): (DataFrame, DataFrame) = {
    val delta = lastPerChannel(deltaEv).localCheckpoint(true)
    val state2 = state
      .join(delta.select(col("channel")), Seq("channel"), "left_anti")
      .unionByName(delta).localCheckpoint(true)
    val adj = delta
      .join(state.select(col("channel"), col("cents").as("old_cents")),
        Seq("channel"), "left")
      .groupBy(col("event_type"))
      .agg(sum(when(col("old_cents").isNull, 1L).otherwise(0L)).as("dn"),
           max(col("cents")).as("d_max"), min(col("cents")).as("d_min"),
           max(col("old_cents")).as("d_old_max"),
           min(col("old_cents")).as("d_old_min"))
    // tiny (≤|groups| + |touched groups| rows) and read twice below —
    // materialize so the delta/state join runs once
    val merged = view.join(adj, Seq("event_type"), "full")
      .localCheckpoint(true)
    val dirty = merged.filter(
        (col("d_old_max") === col("max_cents") &&
         col("d_max") < col("max_cents")) ||
        (col("d_old_min") === col("min_cents") &&
         col("d_min") > col("min_cents")))
      .select(col("event_type"))
    val clean = merged.join(dirty, Seq("event_type"), "left_anti")
      .select(col("event_type"),
        (coalesce(col("n_channels"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_channels"),
        greatest(coalesce(col("max_cents"), col("d_max")),
                 coalesce(col("d_max"), col("max_cents"))).as("max_cents"),
        least(coalesce(col("min_cents"), col("d_min")),
              coalesce(col("d_min"), col("min_cents"))).as("min_cents"))
    val reagg = state2.join(broadcast(dirty), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
           max(col("cents")).as("max_cents"), min(col("cents")).as("min_cents"))
    (state2, clean.unionByName(reagg))
  }

  /** INCREMENTAL VIEW MAINTENANCE of grouped MIN/MAX
    * (`cdc_ivm_minmax`): the view "per event_type: live channels, max
    * and min of each channel's CURRENT cents" materialized at T0 and
    * maintained to the head of the bus by one delta batch — closing
    * the IVM family's textbook gap ([[ivmAgg]] covers the
    * self-maintainable count/sum). Graded against the full recompute
    * at the head: the dirty-group re-derivation must agree exactly
    * with never having maintained at all. */
  def ivmMinMax(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val (state, view) = ivmBaseMinMax(s, d, t0)
    val (_, v) = ivmStepMinMax(state, view,
      Tables.eventsBetween(s, d, Some(t0), None))
    v.orderBy(col("event_type"))
  }

  /** [[ivmMinMax]] COMPOSED over two successive delta batches
    * (`cdc_ivm_minmax_compose`) — [[ivmCompose]]'s production-loop
    * shape for the non-self-maintainable view: the second step's
    * dirty-group detection runs against the FIRST step's maintained
    * view and state, so a batch-1 re-derived extreme retracted again
    * in batch 2 must re-derive again from state₁ (never from the base
    * history). Same full-recompute twin: composition must be
    * associative. */
  def ivmMinMaxCompose(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val t1 = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val (s0, v0) = ivmBaseMinMax(s, d, t0)
    val (s1, v1) = ivmStepMinMax(s0, v0,
      Tables.eventsBetween(s, d, Some(t0), Some(t1)))
    val (_, v2) = ivmStepMinMax(s1, v1.localCheckpoint(true),
      Tables.eventsBetween(s, d, Some(t1), None))
    v2.orderBy(col("event_type"))
  }

  /** The state+view pair at T0 for the DISTINCT-COUNT view — the
    * remaining textbook non-self-maintainable aggregate after MIN/MAX
    * (r14 VERDICT Next #3): per event_type, the live channels and the
    * number of DISTINCT current cents values. */
  private[graft] def ivmBaseDistinct(s: SparkSession, d: String,
                      t0: java.time.Instant): (DataFrame, DataFrame) = {
    val state = lastPerChannel(Tables.eventsUpTo(s, d, t0))
      .localCheckpoint(true)
    val view = state.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
           countDistinct(col("cents")).as("n_distinct"))
    (state, view)
  }

  /** ONE maintenance step for the DISTINCT-COUNT view. Like MIN/MAX,
    * the view alone cannot absorb a retraction — removing the LAST
    * holder of a value decrements the count, removing one of several
    * holders does not, and the view cannot tell the cases apart. The
    * step stays delta-bounded without a dirty/clean split: the only
    * values whose PRESENCE can change are the TOUCHED ones — each
    * value the delta lands plus each old value its channels retract,
    * ≤ 2·|delta| (event_type, cents) pairs. For exactly those pairs,
    * compare presence in the maintained state before and after the
    * channel replacement (two broadcast-semi-restricted grouped
    * passes over the state relation — the base event history is never
    * re-read) and add the signed presence flips to the view. A
    * retraction whose value is still held elsewhere flips nothing; a
    * landed value that already existed flips nothing — the two poison
    * shapes CdcBusSpec pins.
    *
    * Returns (state', view'). */
  private[graft] def ivmStepDistinct(state: DataFrame, view: DataFrame,
                      deltaEv: DataFrame): (DataFrame, DataFrame) = {
    val delta = lastPerChannel(deltaEv).localCheckpoint(true)
    val state2 = state
      .join(delta.select(col("channel")), Seq("channel"), "left_anti")
      .unionByName(delta).localCheckpoint(true)
    // the touched (event_type, cents) pairs: landed ∪ retracted values
    val touched = delta.select(col("event_type"), col("cents"))
      .unionByName(
        state.join(delta.select(col("channel")), Seq("channel"), "left_semi")
          .select(col("event_type"), col("cents")))
      .distinct().localCheckpoint(true)
    def present(st: DataFrame, flag: String): DataFrame =
      st.join(broadcast(touched), Seq("event_type", "cents"), "left_semi")
        .select(col("event_type"), col("cents")).distinct()
        .withColumn(flag, lit(1L))
    val flips = touched
      .join(present(state, "was"), Seq("event_type", "cents"), "left")
      .join(present(state2, "is_now"), Seq("event_type", "cents"), "left")
      .groupBy(col("event_type"))
      .agg(sum(coalesce(col("is_now"), lit(0L)) -
               coalesce(col("was"), lit(0L))).as("d_distinct"))
    val dn = delta
      .join(state.select(col("channel")), Seq("channel"), "left_anti")
      .groupBy(col("event_type")).agg(count(lit(1)).as("dn"))
    val view2 = view
      .join(flips, Seq("event_type"), "full")
      .join(dn, Seq("event_type"), "left")
      .select(col("event_type"),
        (coalesce(col("n_channels"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_channels"),
        (coalesce(col("n_distinct"), lit(0L)) +
          coalesce(col("d_distinct"), lit(0L))).as("n_distinct"))
    (state2, view2)
  }

  /** INCREMENTAL VIEW MAINTENANCE of grouped COUNT(DISTINCT)
    * (`cdc_ivm_distinct`): the view "per event_type: live channels and
    * distinct current cents values" materialized at T0 and maintained
    * to the head of the bus by one delta batch — closing the IVM
    * family's last textbook non-self-maintainable aggregate. Graded
    * against the full recompute at the head. */
  def ivmDistinct(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val (state, view) = ivmBaseDistinct(s, d, t0)
    val (_, v) = ivmStepDistinct(state, view,
      Tables.eventsBetween(s, d, Some(t0), None))
    v.orderBy(col("event_type"))
  }

  /** The two sub-streams of the JOIN view — the reference's own
    * two-stream shape (request↔response correlation, lib/nats.js:
    * 216-223) mapped onto the bus: purchase-channel state correlated
    * with click-channel state by a shared key. `grp` (user_id mod
    * [[IvmJoinBuckets]]) is deliberately COARSER than the channel key
    * so the join has real multiplicity (~6×6 pairs per group at
    * sf0.01) — a 1:1 key would never exercise the delta rule's
    * multiset weights. */
  private val IvmJoinTypeA = "purchase"
  private val IvmJoinTypeB = "click"
  private val IvmJoinBuckets = 25

  /** Per-channel retained state of ONE sub-stream in join-view shape:
    * (channel, grp, cents). [[lastPerChannel]] with the join key kept. */
  private def ivmJoinSideState(ev: DataFrame, etype: String): DataFrame = {
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.filter(col("event_type") === etype)
      .withColumn("channel",
        Tables.channelCol(col("event_type"), col("user_id")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("channel"),
        (col("user_id") % IvmJoinBuckets).as("grp"),
        floor(col("value") * 100).cast("long").as("cents"))
  }

  /** BOTH sides' per-channel current rows from ONE pass over `ev`
    * (r16 optimization): the channel key embeds the event_type, so the
    * two sides' channels are disjoint and one window over `channel`
    * computes each side's latest-row ranking exactly as the two
    * single-side passes did — row-for-row identical
    * ([[ivmJoinSideState]] stays as the per-side definition; the
    * equivalence is pinned by CdcBusSpec). One materialization job and
    * one delta scan instead of two — the cost shape a 100 TB
    * maintenance loop wants, since the delta batch is read once. The
    * returned frame is eagerly checkpointed; split it with
    * [[ivmJoinSideOf]] (a filter over the materialized rows, no
    * recompute). */
  private def ivmJoinSidesBoth(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.filter(col("event_type") === IvmJoinTypeA ||
        col("event_type") === IvmJoinTypeB)
      .withColumn("channel",
        Tables.channelCol(col("event_type"), col("user_id")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_type").as("side"), col("channel"),
        (col("user_id") % IvmJoinBuckets).as("grp"),
        floor(col("value") * 100).cast("long").as("cents"))
      .localCheckpoint(true)
  }

  private def ivmJoinSideOf(both: DataFrame, etype: String): DataFrame =
    both.filter(col("side") === etype).drop("side")

  /** The per-group roll-up of the joined pair multiset — shared by the
    * T0 materialization and (in signed form) the delta rule: per grp,
    * pair count and the exact-cents sum of both sides' contributions. */
  private def ivmJoinView(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("grp"), col("cents").as("a_cents"))
      .join(b.select(col("grp"), col("cents").as("b_cents")), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(col("a_cents") + col("b_cents")).as("total_cents"))

  /** The (stateA, stateB, view) triple at T0 for the JOIN view — the
    * first TWO-RELATION member of the IVM family ([[ivmStep]] /
    * [[ivmStepMinMax]] / [[ivmStepDistinct]] all maintain views over
    * one relation). Both state relations and the view are what a
    * production maintenance loop persists between batches. */
  private[graft] def ivmBaseJoin(s: SparkSession, d: String,
                      t0: java.time.Instant)
      : (DataFrame, DataFrame, DataFrame) = {
    // one history pass materializes both side states ([[ivmJoinSidesBoth]])
    val both = ivmJoinSidesBoth(Tables.eventsUpTo(s, d, t0))
    val stA = ivmJoinSideOf(both, IvmJoinTypeA)
    val stB = ivmJoinSideOf(both, IvmJoinTypeB)
    (stA, stB, ivmJoinView(stA, stB).localCheckpoint(true))
  }

  /** ONE maintenance step for the JOIN view — the textbook delta-join
    * rule. With the CDC replace semantics rendered as a SIGNED multiset
    * (each changed channel RETRACTS its old state row at weight −1 and
    * INSERTS its new one at +1, so ΔA/ΔB carry ≤ 2·|touched channels|
    * rows each), the joined pair multiset moves by exactly
    *
    *   Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    *
    * against the OLD states, a pair's weight being the product of its
    * sides' weights — the identity (A+ΔA)⋈(B+ΔB) − A⋈B expanded, exact
    * for any multiplicity, including a replace that MOVES a row
    * between join groups (its −1 pairs drain the old group while its
    * +1 pairs fill the new one — the poison shape CdcBusSpec pins).
    * The grouped count/sum view then folds the signed pair deltas
    * (count and sum ARE self-maintainable over a signed stream; the
    * non-self-maintainable part of the problem is the JOIN, not the
    * aggregate).
    *
    * Cost shape at 100 TB: the two delta scans + |touched channels|
    * retract lookups + two broadcast-delta⋈state joins + one
    * delta⋈delta join + the |groups|-row view adjustment — the base
    * event history is NEVER re-read (both deltas are eagerly
    * materialized, so the step's own plan holds no file scan at all —
    * plan-asserted by CdcBusSpec). A group whose pairs drain to zero
    * leaves the view (the recompute twin has no such row; a later
    * insert re-creates it through the full-outer fold).
    *
    * Returns (stateA', stateB', view'). */
  private[graft] def ivmStepJoin(stA: DataFrame, stB: DataFrame,
                      view: DataFrame, deltaEvA: DataFrame,
                      deltaEvB: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // r16: both sides' delta currents and both sides' signed multisets
    // each materialize in ONE job (side-tagged unions; the channel key
    // embeds the event_type, so per-side derivations off the shared
    // frame are row-identical to the old per-side checkpoints) — the
    // step pays 2 materialization jobs instead of 4, and when both
    // sub-streams ride one delta batch (the graded shape) the batch is
    // scanned once, not twice.
    def tag(df: DataFrame, etype: String): DataFrame =
      df.select(lit(etype).as("side"), col("*"))
    val dBothNew =
      if (deltaEvA eq deltaEvB) ivmJoinSidesBoth(deltaEvA)
      else tag(ivmJoinSideState(deltaEvA, IvmJoinTypeA), IvmJoinTypeA)
        .unionByName(tag(ivmJoinSideState(deltaEvB, IvmJoinTypeB), IvmJoinTypeB))
        .localCheckpoint(true)
    val dAn = ivmJoinSideOf(dBothNew, IvmJoinTypeA)
    val dBn = ivmJoinSideOf(dBothNew, IvmJoinTypeB)
    // signed form: +1 for each landed current, −1 retracting the OLD
    // state row of every touched channel (side-disjoint channels make
    // the one semi-join exactly the two per-side semi-joins)
    val dSignedBoth = dBothNew.withColumn("w", lit(1L))
      .unionByName(
        tag(stA, IvmJoinTypeA).unionByName(tag(stB, IvmJoinTypeB))
          .join(dBothNew.select(col("channel")), Seq("channel"), "left_semi")
          .withColumn("w", lit(-1L)))
      .localCheckpoint(true)
    val dA = ivmJoinSideOf(dSignedBoth, IvmJoinTypeA)
    val dB = ivmJoinSideOf(dSignedBoth, IvmJoinTypeB)
    def aSide(df: DataFrame, w: Boolean): DataFrame =
      if (w) df.select(col("grp"), col("cents").as("a_cents"), col("w").as("wa"))
      else df.select(col("grp"), col("cents").as("a_cents"), lit(1L).as("wa"))
    def bSide(df: DataFrame, w: Boolean): DataFrame =
      if (w) df.select(col("grp"), col("cents").as("b_cents"), col("w").as("wb"))
      else df.select(col("grp"), col("cents").as("b_cents"), lit(1L).as("wb"))
    // the three delta-join terms; deltas broadcast against the states
    val pairDelta =
      broadcast(aSide(dA, w = true)).join(bSide(stB, w = false), Seq("grp"))
        .unionByName(
          aSide(stA, w = false).join(broadcast(bSide(dB, w = true)), Seq("grp")))
        .unionByName(
          aSide(dA, w = true).join(bSide(dB, w = true), Seq("grp")))
    val adj = pairDelta.groupBy(col("grp"))
      .agg(sum(col("wa") * col("wb")).as("dn"),
           sum(col("wa") * col("wb") * (col("a_cents") + col("b_cents")))
             .as("dcents"))
    val view2 = view.join(adj, Seq("grp"), "full")
      .select(col("grp"),
        (coalesce(col("n_pairs"), lit(0L)) +
          coalesce(col("dn"), lit(0L))).as("n_pairs"),
        (coalesce(col("total_cents"), lit(0L)) +
          coalesce(col("dcents"), lit(0L))).as("total_cents"))
      .filter(col("n_pairs") > 0L)
    def advance(st: DataFrame, dNew: DataFrame): DataFrame =
      st.join(dNew.select(col("channel")), Seq("channel"), "left_anti")
        .unionByName(dNew)
    (advance(stA, dAn), advance(stB, dBn), view2)
  }

  /** JOIN-VIEW consumer of the per-channel value-transition changelog
    * (the r16 live/restart tiers' fold — the point the changelog
    * tiers keep making: ONE transition log serves EVERY
    * non-self-maintainable downstream view, now including the
    * TWO-RELATION one). Reconstructs each channel's current row by
    * argmax over its (ts_us, event_id)-stamped transitions, splits
    * the currents into the two side-state relations (the join key
    * re-derived from the channel layout — routing is data), and rolls
    * up the joined pair multiset exactly as [[ivmJoinView]] does at
    * T0. Must hash-match [[IvmJoinRecomputeTwin]], shared verbatim
    * with the batch rows. */
  private[graft] def ivmJoinFold(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val cur = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    def side(et: String, as: String): DataFrame = cur
      .filter(col("event_type") === et)
      .select(
        (split(col("channel"), "/").getItem(2).cast("long")
          % IvmJoinBuckets).as("grp"),
        col("cents").as(as))
    side(IvmJoinTypeA, "a_cents")
      .join(side(IvmJoinTypeB, "b_cents"), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(col("a_cents") + col("b_cents")).as("total_cents"))
  }

  /** INCREMENTAL VIEW MAINTENANCE of a JOIN view (`cdc_ivm_join`, r15
    * VERDICT Next #1): the view "per user-bucket: joined
    * purchase×click pair count and exact-cents pair total" materialized
    * at T0 and maintained to the head of the bus by ONE delta batch on
    * EACH side via the delta-join rule ([[ivmStepJoin]]). Graded
    * against the full recompute at the head — the first IVM row whose
    * maintained object is a two-relation view. */
  def ivmJoin(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val (stA, stB, view) = ivmBaseJoin(s, d, t0)
    val delta = Tables.eventsBetween(s, d, Some(t0), None)
    val (_, _, v) = ivmStepJoin(stA, stB, view, delta, delta)
    v.orderBy(col("grp"))
  }

  /** [[ivmJoin]] COMPOSED over two successive delta batches
    * (`cdc_ivm_join_compose`) — the production-loop shape for the
    * two-relation view: the second step's retract lookups and
    * delta-join terms run against the FIRST step's maintained states,
    * never the base or the first batch. Same full-recompute twin:
    * composition must be associative. */
  def ivmJoinCompose(s: SparkSession, d: String): DataFrame = {
    val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val t1 = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val (a0, b0, v0) = ivmBaseJoin(s, d, t0)
    val d1 = Tables.eventsBetween(s, d, Some(t0), Some(t1))
    val (a1, b1, v1) = ivmStepJoin(a0, b0, v0, d1, d1)
    val d2 = Tables.eventsBetween(s, d, Some(t1), None)
    // persist step 1's states in one side-tagged job (r16; the split is
    // a filter over the materialized rows, not a recompute)
    val st1 = a1.select(lit(IvmJoinTypeA).as("side"), col("*"))
      .unionByName(b1.select(lit(IvmJoinTypeB).as("side"), col("*")))
      .localCheckpoint(true)
    val (_, _, v2) = ivmStepJoin(ivmJoinSideOf(st1, IvmJoinTypeA),
      ivmJoinSideOf(st1, IvmJoinTypeB), v1.localCheckpoint(true), d2, d2)
    v2.orderBy(col("grp"))
  }

  /** Sequence-gap audit — the lost/duplicate-message check of an
    * at-least-once transport: within each event_type sub-stream, compare
    * consecutive global sequence numbers (the JetStream-sequence
    * analogue [[graft.nats.NatsSource]] uses as offsets) and report gap
    * statistics. A transport replaying correctly shows gaps only where
    * OTHER sub-streams' messages interleave; a broken shard shows a
    * max_gap spike. lag over the sub-stream partition — one shuffle. */
  def seqGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    Tables.bus(s, d)
      .withColumn("gap", col("event_id") - lag(col("event_id"), 1).over(w) - 1L)
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_steps"),
           sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gapped"),
           sum(when(col("gap") > 0, col("gap")).otherwise(0L)).as("missing_total"),
           max(col("gap")).as("max_gap"))
      .orderBy(col("event_type"))
  }

  // memory-sink names must be unique per invocation (the bench re-runs
  // each query; an ephemeral port CAN repeat within a JVM)
  private val wireRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The LIVE ingestion loop, graded end-to-end over real TCP: a
    * deterministic slice of `events` (event_id % 10 = 0) is encoded as
    * protobuf CDC envelopes and PUBLISHED from executor partitions over
    * loopback sockets — the reference's `examples/cdc-pub.js` role, one
    * client socket per partition, batched client PUB framing, no driver
    * collect — routed by the embedded text-protocol
    * [[graft.nats.NatsServer]], consumed back through the DataSourceV2
    * micro-batch stream on the default TCP-dialing broker
    * ([[graft.nats.TcpBroker]]), and aggregated from the re-received
    * bus. Everything between the parquet scan and the result — client
    * framing, server parse + route, MSG fan-out, connector offsets,
    * envelope decode — is the live wire path; the oracle computes the
    * same aggregate straight from `events`, so any dropped, duplicated,
    * or corrupted frame fails the row/hash gate.
    *
    * Determinism: arrival order and sequence numbers are
    * transport-nondeterministic, so the result aggregates only
    * order-insensitive columns. The subscription is confirmed live
    * before any PUB via the client `flush()` (PING/PONG round-trip) —
    * core NATS, like the reference, is at-most-once. */
  def wireTcp(s: SparkSession, d: String): DataFrame = {
    val server = new graft.nats.NatsServer()
    val prevTarget = sys.props.get(graft.nats.TcpBroker.TargetProperty)
    try {
      sys.props(graft.nats.TcpBroker.TargetProperty) = server.target
      // subscriber FIRST, confirmed with a protocol round-trip
      val probe = new graft.nats.TcpBroker
      probe.flush()
      val slice = Tables.bus(s, d).filter(col("event_id") % 10 === 0)
        .select(col("channel"), col("props"))
      val expected = slice.count()
      val host = "127.0.0.1"
      val port = server.port
      slice.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val sock = new java.net.Socket(host, port)
          try {
            sock.setTcpNoDelay(true)
            val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
            rows.foreach { r =>
              val env = graft.nats.CdcProto.CdcMsg("cdc-pub", r.getString(0),
                "json", "http", "", 0, false,
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              out.write(graft.nats.NatsWire.pub(
                "cdc.client", graft.nats.CdcProto.encode(env)))
            }
            // flush-before-close, the standard NATS client discipline:
            // PING after the last PUB and wait for the PONG, which the
            // server can only send after processing everything written
            // before it. Closing without this is NOT just a race — the
            // server's unread INFO greeting on this socket would turn
            // close() into a TCP RST, destroying any still-buffered PUB
            // bytes server-side (observed at sf0.1: ~70% frame loss).
            // Reading until PONG both confirms delivery and drains the
            // inbound side so close() sends a clean FIN.
            out.write(graft.nats.NatsWire.ping)
            out.flush()
            val in = sock.getInputStream
            val pong = "PONG\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            var matched = 0
            while (matched < pong.length) {
              val b = in.read()
              if (b < 0) throw new java.io.EOFException(
                "NATS server closed before acknowledging published frames")
              matched = if (b == pong(matched)) matched + 1
                        else if (b == pong(0)) 1 else 0
            }
          } finally sock.close()
        }
      }
      // all frames sequenced in the shared session before the stream
      // computes its offsets
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (probe.latestSeq() < expected && System.nanoTime() < deadline)
        Thread.sleep(5)
      require(probe.latestSeq() == expected,
        s"wire loop lost frames: ${probe.latestSeq()} of $expected arrived")
      val sink = s"wire_tcp_${wireRuns.incrementAndGet()}"
      val q = s.readStream.format(classOf[graft.nats.NatsSource].getName)
        .option("shards", 4).load() // default broker IS the TCP dialer
        .writeStream.format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .withColumn("etype", element_at(split(col("channel"), "/"), 2))
        .withColumn("uid", element_at(split(col("channel"), "/"), 3))
        .groupBy(col("etype"))
        .agg(countDistinct(col("uid")).as("n_users"),
             count(lit(1)).as("n"),
             sum(get_json_object(col("payload").cast("string"), "$.k")
               .cast("long")).as("sum_k"))
        .orderBy(col("etype"))
    } finally {
      server.close()
      // Evict the per-ephemeral-target broker session: leaving it
      // leaks one Session per run for the JVM lifetime, and if the OS
      // reuses the port a later run would inherit this run's stale
      // sequence counter and fail its delivery check spuriously.
      graft.nats.TextProtocolBroker.dropSession(
        classOf[graft.nats.TcpBroker], "cdc.client", server.target)
      prevTarget match {
        case Some(t) => sys.props(graft.nats.TcpBroker.TargetProperty) = t
        case None    => sys.props.remove(graft.nats.TcpBroker.TargetProperty)
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_wire_tcp"        -> (wireTcp _),
    "cdc_replay"          -> (replay _),
    "cdc_seq_gaps"        -> (seqGaps _),
    "cdc_scd2"            -> (scd2 _),
    "cdc_retained"        -> (retained _),
    "cdc_deep_route"      -> (deepRoute _),
    "cdc_route_hot"       -> (routeHot _),
    "cdc_sub_counters"    -> (subCounters _),
    "cdc_take_n"          -> (takeN _),
    "cdc_rpc_first"       -> (rpcFirst _),
    "cdc_rpc_timeout"     -> (rpcTimeout _),
    "cdc_json_payload"    -> (jsonPayload _),
    "cdc_channel_extract" -> (channelExtract _),
    "cdc_extract_named"   -> (extractNamed _),
    "cdc_sql_route"       -> (sqlRoute _),
    "cdc_ivm_agg"         -> (ivmAgg _),
    "cdc_ivm_minmax"      -> (ivmMinMax _),
    "cdc_ivm_distinct"    -> (ivmDistinct _),
    "cdc_ivm_minmax_compose" -> (ivmMinMaxCompose _),
    "cdc_ivm_join"        -> (ivmJoin _),
    "cdc_ivm_join_compose" -> (ivmJoinCompose _),
    "cdc_ivm_compose"     -> (ivmCompose _))

  /** The IVM rows' shared twin: per event_type, live-channel count and
    * the exact-cents sum of every channel's CURRENT value over the
    * WHOLE bus — what the maintained view must equal regardless of how
    * many delta batches produced it. */
  private[graft] val IvmFullRecomputeTwin: String =
    s"""${Tables.BusCte}
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_channels,
       |       CAST(sum(cents) AS BIGINT) AS total_cents
       |FROM (SELECT channel, event_type,
       |        CAST(floor(value * 100) AS BIGINT) AS cents,
       |        row_number() OVER (PARTITION BY channel
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM ev) t
       |WHERE rn = 1 GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The MIN/MAX view's full recompute at the bus head — shared by the
    * batch maintenance row (`cdc_ivm_minmax`) and the live changelog
    * row (`cdc_stream_ivm_minmax`). */
  private[graft] val IvmMinMaxRecomputeTwin: String =
    s"""${Tables.BusCte}
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_channels,
       |       CAST(max(cents) AS BIGINT) AS max_cents,
       |       CAST(min(cents) AS BIGINT) AS min_cents
       |FROM (SELECT channel, event_type,
       |        CAST(floor(value * 100) AS BIGINT) AS cents,
       |        row_number() OVER (PARTITION BY channel
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM ev) t
       |WHERE rn = 1 GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The JOIN view's full recompute at the bus head — shared by the
    * one-batch and composed maintenance rows: per user-bucket, the
    * joined purchase×click pair count and exact-cents pair total over
    * each channel's CURRENT value. Whatever batching produced the
    * maintained view, it must equal this. */
  private[graft] val IvmJoinRecomputeTwin: String =
    s"""${Tables.BusCte},
       |cur AS (SELECT channel, event_type,
       |          user_id % $IvmJoinBuckets AS grp,
       |          CAST(floor(value * 100) AS BIGINT) AS cents,
       |          row_number() OVER (PARTITION BY channel
       |            ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM ev),
       |a AS (SELECT grp, cents FROM cur
       |      WHERE rn = 1 AND event_type = '$IvmJoinTypeA'),
       |b AS (SELECT grp, cents FROM cur
       |      WHERE rn = 1 AND event_type = '$IvmJoinTypeB')
       |SELECT a.grp AS grp, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(a.cents + b.cents) AS BIGINT) AS total_cents
       |FROM a JOIN b ON a.grp = b.grp
       |GROUP BY 1 ORDER BY grp""".stripMargin

  /** The DISTINCT-COUNT view's full recompute at the bus head — shared
    * by the batch maintenance row (`cdc_ivm_distinct`) and the live /
    * restart changelog rows (`cdc_stream_ivm_distinct`,
    * `cdc_stream_restart_ivm_distinct`). */
  private[graft] val IvmDistinctRecomputeTwin: String =
    s"""${Tables.BusCte}
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_channels,
       |       CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct
       |FROM (SELECT channel, event_type,
       |        CAST(floor(value * 100) AS BIGINT) AS cents,
       |        row_number() OVER (PARTITION BY channel
       |          ORDER BY ts DESC, event_id DESC) AS rn
       |      FROM ev) t
       |WHERE rn = 1 GROUP BY 1 ORDER BY event_type""".stripMargin

  val oracle: Map[String, String] = Map(
    // the two-relation JOIN view grades against the full recompute at
    // the head — the delta-join rule invents nothing, one batch or two
    "cdc_ivm_join" -> IvmJoinRecomputeTwin,
    "cdc_ivm_join_compose" -> IvmJoinRecomputeTwin,
    // the wire loop transports the slice losslessly, so the oracle is the
    // same aggregate computed directly from events (channel re-synthesized
    // by the BusCte exactly as the published envelopes carried it)
    "cdc_wire_tcp" ->
      s"""${Tables.BusCte}
         |SELECT str_split(channel, '/')[2] AS etype,
         |       count(DISTINCT str_split(channel, '/')[3]) AS n_users,
         |       count(*) AS n,
         |       CAST(sum(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS BIGINT) AS sum_k
         |FROM ev WHERE event_id % 10 = 0
         |GROUP BY 1 ORDER BY etype""".stripMargin,

    "cdc_replay" ->
      s"""${Tables.BusCte}
         |SELECT channel, event_id, ts AS as_of_ts, version_no,
         |       round(value, 2) AS value FROM (
         |  SELECT channel, event_id, ts, value,
         |         row_number() OVER (PARTITION BY channel
         |           ORDER BY ts DESC, event_id DESC) AS rn,
         |         CAST(count(*) OVER (PARTITION BY channel) AS BIGINT) AS version_no
         |  FROM ev
         |  WHERE user_id < 20 AND ts <= TIMESTAMP '2024-01-15 00:00:00')
         |WHERE rn = 1 ORDER BY channel""".stripMargin,

    "cdc_seq_gaps" ->
      s"""${Tables.BusCte}
         |SELECT event_type, count(*) AS n_steps,
         |       CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gapped,
         |       CAST(sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) AS BIGINT) AS missing_total,
         |       max(gap) AS max_gap
         |FROM (
         |  SELECT event_type,
         |         event_id - lag(event_id) OVER (PARTITION BY event_type
         |           ORDER BY event_id) - 1 AS gap
         |  FROM ev)
         |WHERE gap IS NOT NULL
         |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "cdc_scd2" ->
      s"""${Tables.BusCte}
         |SELECT channel, event_id, ts AS valid_from,
         |       lead(ts) OVER w AS valid_to,
         |       lead(ts) OVER w IS NULL AS is_current,
         |       round(value, 2) AS value
         |FROM ev WHERE user_id < 20
         |WINDOW w AS (PARTITION BY channel ORDER BY ts, event_id)
         |ORDER BY channel, valid_from, event_id""".stripMargin,

    "cdc_retained" ->
      s"""${Tables.BusCte}
         |SELECT channel, event_id, ts, round(value, 2) AS value FROM (
         |  SELECT channel, event_id, ts, value,
         |         row_number() OVER (PARTITION BY channel
         |           ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ev WHERE user_id < 20)
         |WHERE rn = 1 ORDER BY channel""".stripMargin,

    // both IVM rows grade against the FULL RECOMPUTE at the head of
    // the bus — maintenance must invent nothing, whether it applied
    // one delta batch or two composed ones
    "cdc_ivm_agg" -> IvmFullRecomputeTwin,
    "cdc_ivm_compose" -> IvmFullRecomputeTwin,
    // MIN/MAX maintenance must equal the same full recompute — the
    // dirty-group re-derivation invents nothing (shared verbatim with
    // the LIVE form, cdc_stream_ivm_minmax)
    "cdc_ivm_minmax" -> IvmMinMaxRecomputeTwin,
    // distinct-count: the full recompute at the head — the signed
    // presence-flip maintenance must agree exactly with never having
    // maintained at all (shared with the live and restart tiers)
    "cdc_ivm_distinct" -> IvmDistinctRecomputeTwin,
    "cdc_ivm_minmax_compose" -> IvmMinMaxRecomputeTwin,

    "cdc_deep_route" ->
      s"""WITH dv AS (
         |  SELECT *, 'cdc/' || event_type || '/' || CAST(user_id AS VARCHAR)
         |           || '/v' || CAST(CAST(floor(value / 10) AS BIGINT) AS VARCHAR) AS channel
         |  FROM events)
         |SELECT event_type, str_split(channel, '/')[4] AS vbucket, count(*) AS n
         |FROM dv WHERE regexp_matches(channel, '${rx("cdc/+/+/v5")}')
         |GROUP BY 1, 2 ORDER BY event_type, vbucket""".stripMargin,
    "cdc_route_hot" ->
      s"""${Tables.BusCte}
         |SELECT channel, count(*) AS n, round(sum(value), 2) AS total_value
         |FROM ev WHERE regexp_matches(channel, '${rx("cdc/error/#")}')
         |GROUP BY channel ORDER BY n DESC, channel LIMIT 20""".stripMargin,

    "cdc_sub_counters" ->
      s"""${Tables.BusCte}
         |SELECT sub, count(channel) AS received
         |FROM (VALUES ${subs.map { case (n, p) => s"('$n', '${rx(p)}')" }.mkString(", ")}) pats(sub, pat_rx)
         |LEFT JOIN ev ON regexp_matches(ev.channel, pats.pat_rx)
         |GROUP BY sub ORDER BY sub""".stripMargin,

    "cdc_take_n" ->
      s"""${Tables.BusCte}
         |SELECT event_id, channel, ts FROM ev
         |WHERE regexp_matches(channel, '${rx("cdc/signup/#")}')
         |ORDER BY event_id LIMIT 5""".stripMargin,

    "cdc_rpc_first" ->
      s"""${Tables.BusCte}
         |SELECT event_id, channel, ts, 200 AS code FROM ev
         |WHERE regexp_matches(channel, '${rx("cdc/purchase/#")}')
         |   OR regexp_matches(channel, '${rx("cdc/error/#")}')
         |ORDER BY ts, event_id LIMIT 1""".stripMargin,

    "cdc_rpc_timeout" ->
      s"""${Tables.BusCte}
         |SELECT event_id, code FROM (
         |  SELECT event_id, 200 AS code FROM ev
         |  WHERE regexp_matches(channel, '${rx("cdc/nosuch/#")}')
         |  UNION ALL SELECT CAST(-1 AS BIGINT), 408
         |) ORDER BY code, event_id LIMIT 1""".stripMargin,

    "cdc_json_payload" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |       round(avg(CAST(k AS DOUBLE)), 3) AS avg_k
        |FROM (SELECT event_type,
        |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cdc_channel_extract" ->
      s"""${Tables.BusCte}
         |SELECT str_split(channel, '/')[2] AS etype,
         |       count(DISTINCT str_split(channel, '/')[3]) AS n_users,
         |       count(*) AS n
         |FROM ev GROUP BY 1 ORDER BY etype""".stripMargin,

    "cdc_sql_route" ->
      s"""${Tables.BusCte}
         |SELECT str_split(channel, '/')[2] AS etype, count(*) AS n,
         |       round(sum(value), 2) AS total_value
         |FROM ev WHERE regexp_matches(channel, '${rx("cdc/+/1")}')
         |GROUP BY 1 ORDER BY etype""".stripMargin,

    "cdc_extract_named" -> {
      val pat = "cdc/+etype/#rest"
      val (erx, names) = MqttPattern.toExtractRegex(pat)
      def grp(n: String): Int = names.indexOf(n) + 1
      s"""${Tables.BusCte}
         |SELECT regexp_extract(channel, '$erx', ${grp("etype")}) AS etype,
         |       count(DISTINCT regexp_extract(channel, '$erx', ${grp("rest")})) AS n_rest,
         |       min(regexp_extract(channel, '$erx', ${grp("rest")})) AS first_rest,
         |       count(*) AS n
         |FROM ev WHERE regexp_matches(channel, '${rx(pat)}')
         |GROUP BY 1 ORDER BY etype""".stripMargin
    })
}
