package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcBus

/** Reference-semantics checks of the CDC-bus operators on a hand-built
  * bus (FIXTURES.md §B.3/§B.4): take(n) delivers exactly min(n, matches);
  * RPC first-wins picks the earliest response across response patterns;
  * counters count only matching deliveries. */
class CdcBusSpec extends AnyFunSuite with SharedSession {

  /** 10 events: 6 signup (match for take-n), interleaved error/purchase
    * for rpc ordering, one view. Mirrors events.parquet's schema. */
  private lazy val dir: String = {
    val tmp = Files.createTempDirectory("graft_bus2").toString
    val s = spark; import s.implicits._
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val rows = Seq(
      (1L, t(0), 1L, "signup", 1.0, "{\"k\": 1}"),
      (2L, t(1), 2L, "signup", 1.0, "{\"k\": 2}"),
      (3L, t(2), 1L, "error", 5.0, "{\"k\": 3}"),
      (4L, t(3), 3L, "signup", 1.0, "{\"k\": 4}"),
      (5L, t(1), 2L, "purchase", 9.0, "{\"k\": 5}"),  // earliest ts among rpc matches is event 3? no: t(1) < t(2)
      (6L, t(4), 4L, "signup", 1.0, "{\"k\": 6}"),
      (7L, t(5), 5L, "signup", 1.0, "{\"k\": 7}"),
      (8L, t(6), 6L, "signup", 1.0, "{\"k\": 8}"),
      (9L, t(7), 1L, "view", 2.0, "{\"k\": 9}"),
      (10L, t(8), 2L, "error", 5.0, "{\"k\": 10}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("take(5) delivers exactly the first 5 of 6 matches, in arrival order") {
    val got = CdcBus.takeN(spark, dir).collect().map(_.getLong(0))
    assert(got === Array(1L, 2L, 4L, 6L, 7L))
  }

  test("rpc first-wins = earliest (ts, event_id) across both response patterns") {
    val row = CdcBus.rpcFirst(spark, dir).collect().head
    // purchase event 5 at t(1) beats error event 3 at t(2)
    assert(row.getLong(0) === 5L)
    assert(row.getInt(3) === 200)
  }

  test("counters: only matching deliveries increment, zero-match sub stays 0") {
    val m = CdcBus.subCounters(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("s_all") === 10L)
    assert(m("s_err") === 2L)
    assert(m("s_click") === 0L)
    assert(m("s_none") === 0L)
    assert(m("s_user1") === 3L) // events 1, 3, 9 are user 1
  }

  test("json payload extraction reads $.k per event_type") {
    val m = CdcBus.jsonPayload(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap // sum_k
    assert(m("signup") === 1L + 2 + 4 + 6 + 7 + 8)
    assert(m("error") === 3L + 10)
  }

  test("NULL event_type: channel synthesis skips the segment on every path") {
    val s = spark; import s.implicits._
    val df = Seq((1L, Option("click"), 7L), (2L, Option.empty[String], 7L))
      .toDF("event_id", "event_type", "user_id")
      .withColumn("channel",
        Tables.channelCol(org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("user_id")))
    val chans = df.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // concat_ws skips the NULL segment (both engines) — never "cdc/null/7",
    // never NULL: the row stays routable
    assert(chans(1L) === "cdc/click/7")
    assert(chans(2L) === "cdc/7")
    assert(chans(2L) === Tables.channelString(null, 7L))
    // the 2-level channel still routes under the bus-wide '#' but not
    // under 3-level patterns
    import graft.cdc.MqttPattern.matches
    assert(matches("cdc/#", chans(2L)) && !matches("cdc/+/7", chans(2L)))
  }

  test("r13: IVM grouped aggregate — empty delta is identity, the " +
       "maintained view equals the full recompute, the retraction path " +
       "is actually exercised, and the delta scan pushes its bounds") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // full recompute, straight Spark — the ground truth both rows and
    // the DuckDB twin encode
    def recompute(d: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("channel")).orderBy(col("ts").desc, col("event_id").desc)
      Tables.bus(spark, d)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_channels"),
          sum(floor(col("value") * 100).cast("long")).as("total_cents"))
        .orderBy(col("event_type"))
        .collect().map(_.toString).toSeq
    }
    assert(CdcBus.queries("cdc_ivm_agg")(spark, sf).collect()
      .map(_.toString).toSeq === recompute(sf))
    assert(CdcBus.queries("cdc_ivm_compose")(spark, sf).collect()
      .map(_.toString).toSeq === recompute(sf))
    // the fixture bus ends 2024-01-01: ivmAgg's T0 (Jan 15) makes the
    // delta batch EMPTY — maintenance of nothing must change nothing
    assert(CdcBus.queries("cdc_ivm_agg")(spark, dir).collect()
      .map(_.toString).toSeq === recompute(dir))
    // the compose batches are non-empty at sf0.001 (the grade means
    // something) and some channel UPDATES across T0 — so the
    // retract/insert rule, not blind addition, is what passes above
    val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val t1 = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val b1 = Tables.eventsBetween(spark, sf, Some(t0), Some(t1))
    val b2 = Tables.eventsBetween(spark, sf, Some(t1), None)
    assert(b1.count() > 0 && b2.count() > 0)
    val chan = (df: org.apache.spark.sql.DataFrame) => df
      .select(Tables.channelCol(col("event_type"), col("user_id")).as("c"))
      .distinct()
    val updated = chan(Tables.eventsUpTo(spark, sf, t0))
      .join(chan(b1), Seq("c"), "left_semi").count()
    assert(updated > 0, "no channel crosses T0 — the retraction path is" +
      " untested on this corpus")
    // both delta bounds reach the parquet scan (row-group pruning at
    // 100 TB hangs on this)
    val scan = b1.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(ts") &&
           scan.contains("LessThanOrEqual(ts"),
      s"delta bounds did not push down:\n$scan")
  }

  test("r14: IVM MIN/MAX — the poison case (extreme channel updated " +
       "toward the middle) re-derives from the maintained state, the " +
       "clean path stays incremental, and the graded row equals the " +
       "full recompute") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    // state at T0: group g holds channels 1..3 with cents 100/50/70 —
    // 1 is the max holder, 2 the min holder
    val state = Seq(("cdc/g/1", "g", 100L), ("cdc/g/2", "g", 50L),
                    ("cdc/g/3", "g", 70L))
      .toDF("channel", "event_type", "cents")
    val view = Seq(("g", 3L, 100L, 50L))
      .toDF("event_type", "n_channels", "max_cents", "min_cents")
    // POISON delta: the max channel (1) drops to 0.30 AND the min
    // channel (2) rises to 0.80 — blind greatest/least would answer
    // (100, 50); the truth is max = 80 (channel 2's new value), min =
    // 30 (channel 1's new value)
    val poison = Seq((ts(10), 11L, "g", 1L, 0.30),
                     (ts(11), 12L, "g", 2L, 0.80))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val (st2, v2) = CdcBus.ivmStepMinMax(state, view, poison)
    assert(v2.orderBy(col("event_type")).collect().map(_.toString).toSeq ===
      Seq("[g,3,80,30]"), "poison case: dirty re-derivation wrong")
    assert(st2.count() === 3L)
    // CLEAN path: a non-extreme channel (3) moves within the range —
    // no re-derivation needed and the incremental merge is exact;
    // a NEW channel extends the range through greatest/least alone
    val clean = Seq((ts(20), 13L, "g", 3L, 0.90),
                    (ts(21), 14L, "g", 4L, 0.10))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val (_, v3) = CdcBus.ivmStepMinMax(state, view, clean)
    assert(v3.orderBy(col("event_type")).collect().map(_.toString).toSeq ===
      Seq("[g,4,100,10]"), "clean path: incremental merge wrong")
    // and the graded row equals the full recompute at the head
    val sf = "/root/testdata/sf0.001"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel")).orderBy(col("ts").desc, col("event_id").desc)
    val want = Tables.bus(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
        max(col("cents")).as("max_cents"), min(col("cents")).as("min_cents"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq
    assert(CdcBus.queries("cdc_ivm_minmax")(spark, sf).collect()
      .map(_.toString).toSeq === want)
  }

  test("r15: IVM DISTINCT-COUNT — retracting a value's LAST holder " +
       "decrements, retracting one of SEVERAL holders does not, landing " +
       "an already-present value does not, and the graded row equals " +
       "the full recompute") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    // state at T0: cents 100 held TWICE (channels 1, 2), 70 once (3)
    val state = Seq(("cdc/g/1", "g", 100L), ("cdc/g/2", "g", 100L),
                    ("cdc/g/3", "g", 70L))
      .toDF("channel", "event_type", "cents")
    val view = Seq(("g", 3L, 2L))
      .toDF("event_type", "n_channels", "n_distinct")
    // POISON 1: channel 3 — the ONLY holder of 70 — moves to 1.00,
    // which is ALREADY present: the retraction flips 70 off, the
    // landing flips nothing → n_distinct 2 → 1
    val d1 = Seq((ts(10), 11L, "g", 3L, 1.00))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val (st1, v1) = CdcBus.ivmStepDistinct(state, view, d1)
    assert(v1.orderBy(col("event_type")).collect().map(_.toString).toSeq ===
      Seq("[g,3,1]"), "last-holder retraction onto a present value wrong")
    assert(st1.count() === 3L)
    // POISON 2 (fresh from T0): channel 1 — one of TWO holders of 100
    // — moves to 0.55: the retraction flips nothing (channel 2 still
    // holds 100), the landing adds a new value → n_distinct 2 → 3
    val d2 = Seq((ts(20), 12L, "g", 1L, 0.55))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val (_, v2) = CdcBus.ivmStepDistinct(state, view, d2)
    assert(v2.orderBy(col("event_type")).collect().map(_.toString).toSeq ===
      Seq("[g,3,3]"), "shared-holder retraction must not decrement")
    // a NEW channel landing a present value: channels 3 → 4, distinct
    // unchanged
    val d3 = Seq((ts(30), 13L, "g", 9L, 1.00))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val (_, v3) = CdcBus.ivmStepDistinct(state, view, d3)
    assert(v3.orderBy(col("event_type")).collect().map(_.toString).toSeq ===
      Seq("[g,4,2]"), "new-channel present-value landing wrong")
    // and the graded row equals the full recompute at the head
    val sf = "/root/testdata/sf0.001"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel")).orderBy(col("ts").desc, col("event_id").desc)
    val want = Tables.bus(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_channels"),
        countDistinct(col("cents")).as("n_distinct"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq
    assert(CdcBus.queries("cdc_ivm_distinct")(spark, sf).collect()
      .map(_.toString).toSeq === want)
  }

  test("r16: IVM JOIN view — a replace that MOVES a row between join " +
       "groups drains the old group's pairs and fills the new one, the " +
       "delta×delta term lands, and the step plan re-reads no base " +
       "history") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    // states at T0 — the A row sits in grp 3 under the OLD key mapping
    // (the delta rule must take the retraction's group from the STATE
    // row and the insert's from the delta: a view keyed on a DERIVED
    // attribute moves rows between groups exactly like this)
    val stA = Seq(("cdc/purchase/7", 3L, 100L))
      .toDF("channel", "grp", "cents")
    val stB = Seq(("cdc/click/3", 3L, 10L), ("cdc/click/7", 7L, 20L))
      .toDF("channel", "grp", "cents")
    val view = Seq((3L, 1L, 110L)).toDF("grp", "n_pairs", "total_cents")
    // POISON batch: purchase/7 re-keys to grp 7 (user_id 7 % 25) at
    // 2.00 AND click/7 replaces 20 → 50 in the same batch — the old
    // grp-3 pair must drain (view row leaves), and the only correct
    // grp-7 total is 200+50: the ΔA⋈B term (+220 against click/7's OLD
    // 20) must be cancelled by the ΔA⋈ΔB cross term (−220, +250)
    val dA = Seq((ts(10), 11L, "purchase", 7L, 2.00))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val dB = Seq((ts(11), 12L, "click", 7L, 0.50))
      .toDF("ts", "event_id", "event_type", "user_id", "value")
    val (a2, b2, v2) = CdcBus.ivmStepJoin(stA, stB, view, dA, dB)
    assert(v2.orderBy(col("grp")).collect().map(_.toString).toSeq ===
      Seq("[7,1,250]"), "group-moving replace mis-maintained")
    assert(a2.collect().map(_.toString).toSeq === Seq("[cdc/purchase/7,7,200]"))
    assert(b2.count() === 2L)
    // and on the real corpus: the graded step's plan holds NO file
    // scan — states and deltas are materialized, so the maintenance
    // arithmetic can never silently re-read the base event history
    val sf = "/root/testdata/sf0.001"
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val (sa, sb, v0) = CdcBus.ivmBaseJoin(spark, sf, t0)
    val delta = Tables.eventsBetween(spark, sf, Some(t0), None)
    val (_, _, vStep) = CdcBus.ivmStepJoin(sa, sb, v0, delta, delta)
    val plan = vStep.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan"),
      s"join-IVM step re-reads base history:\n$plan")
    // and the graded row equals the full recompute at the head
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel")).orderBy(col("ts").desc, col("event_id").desc)
    val cur = Tables.bus(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("grp", col("user_id") % 25)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val want = cur.filter(col("event_type") === "purchase")
      .select(col("grp"), col("cents").as("a_cents"))
      .join(cur.filter(col("event_type") === "click")
        .select(col("grp"), col("cents").as("b_cents")), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a_cents") + col("b_cents")).as("total_cents"))
      .orderBy(col("grp")).collect().map(_.toString).toSeq
    assert(CdcBus.queries("cdc_ivm_join")(spark, sf).collect()
      .map(_.toString).toSeq === want)
  }
}
