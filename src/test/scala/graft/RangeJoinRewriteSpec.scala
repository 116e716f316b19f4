package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The transparent range-join rewrite ([[graft.plans.RangeJoinRewrite]],
  * VERDICT r12 #1/#2/#8): a RAW theta join — DataFrame or SQL text, no
  * [[graft.rel.RangeJoin]] call anywhere — whose only condition is a
  * point-in-interval / band / overlap predicate must execute
  * nested-loop-free AND row-identical to the naive plan it replaces;
  * the rule must stand down on an equi conjunct; the stats-derived bin
  * width is pinned on adversarial corpora. */
class RangeJoinRewriteSpec extends AnyFunSuite with SharedSession with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  /** Collect rows as sorted strings with the rewrite DISABLED — the
    * ground truth the transparent plan must reproduce bit-for-bit. */
  private def naiveRows(df: => DataFrame): Seq[String] =
    withDisabled { df.collect().map(_.toString).sorted.toSeq }

  private def withDisabled[A](body: => A): A =
    withConf(graft.plans.RangeJoinRewrite.EnabledKey -> "false")(body)

  private def executedPlan(df: DataFrame): String = {
    df.collect() // finalize adaptive re-planning before inspecting
    df.queryExecution.executedPlan.toString
  }

  private def assertNoNestedLoop(plan: String, what: String): Unit =
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"$what fell back to a nested loop:\n$plan")

  // the raw point-in-interval theta join over the corpus, built fresh
  // per call (fresh exprIds — exactly what a user query looks like)
  private def rawPointJoin(): DataFrame = {
    val ev = Tables.events(spark, sf)
    val wins = ev.select(date_trunc("DAY", col("ts")).as("day")).distinct()
      .select(col("day"), (col("day") + expr("INTERVAL 10 HOURS")).as("lo"),
        (col("day") + expr("INTERVAL 14 HOURS")).as("hi"))
    ev.join(wins, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select(col("event_id"), col("day"))
  }

  test("raw point-in-interval theta join: executes nested-loop-free with " +
       "the rule, row-identical to the disabled (BNLJ) plan — and the " +
       "disabled plan really is a nested loop") {
    val withRule = rawPointJoin()
    val plan = executedPlan(withRule)
    assertNoNestedLoop(plan, "raw point-in-interval join")
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"no interval explode in the rewritten plan — did the rule fire?\n$plan")
    val got = withRule.collect().map(_.toString).sorted.toSeq
    assert(got === naiveRows(rawPointJoin()))
    // the kill really is the rule's: disabled, the same query nested-loops
    withDisabled {
      val off = executedPlan(rawPointJoin())
      assert(off.contains("BroadcastNestedLoopJoin") ||
             off.contains("CartesianProduct"),
        s"disabled baseline did not nested-loop — test premise broken:\n$off")
    }
  }

  test("negative: an extra equi conjunct makes the rule stand down — " +
       "Spark's own hash join, no Generate synthesized") {
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"),
        col("ts").as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    def q(): DataFrame = p.join(c,
        col("pu") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 DAY") &&
        col("cts") < col("pts"))
      .select(col("pid"), col("cts"))
    val plan = executedPlan(q())
    assert(!plan.contains("Generate"),
      s"rule fired despite the equi conjunct (bins synthesized):\n$plan")
    assertNoNestedLoop(plan, "equi-keyed interval join")
    assert(q().collect().map(_.toString).sorted.toSeq === naiveRows(q()))
  }

  test("raw band join (DataFrame) and raw overlap join: nested-loop-free " +
       "and row-identical to the disabled plans, null values included") {
    // band — with nulls on both sides to pin inherited null semantics
    val lv = spark.range(0, 200).select(col("id").as("lid"),
      when(col("id") % 17 === 0, lit(null)).otherwise(col("id") * 0.013d).as("lv"))
    val rv = spark.range(0, 200).select(col("id").as("rid"),
      when(col("id") % 13 === 0, lit(null)).otherwise(col("id") * 0.017d).as("rv"))
    def band(): DataFrame =
      lv.join(rv, abs(col("lv") - col("rv")) <= 0.05d)
        .select(col("lid"), col("rid"))
    val bandPlan = executedPlan(band())
    assertNoNestedLoop(bandPlan, "raw band join")
    assert(bandPlan.contains("Generate"),
      s"band rule did not fire:\n$bandPlan")
    assert(band().collect().map(_.toString).sorted.toSeq === naiveRows(band()))

    // overlap — the spans corpus of overlap_join_binned, raw predicate
    val spans = Tables.events(spark, sf).filter(col("user_id") < 20)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .localCheckpoint(true)
    val a = spans.select(col("user_id").as("ua"), col("day").as("da"),
      col("lo").as("alo"), col("hi").as("ahi"))
    val b = spans.select(col("user_id").as("ub"), col("day").as("db"),
      col("lo").as("blo"), col("hi").as("bhi"))
    def ov(): DataFrame =
      a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"))
        .select(col("ua"), col("da"), col("ub"), col("db"))
    val ovPlan = executedPlan(ov())
    assertNoNestedLoop(ovPlan, "raw overlap join")
    val got = ov().collect().map(_.toString).sorted.toSeq
    assert(got === got.distinct,
      "canonical-bin rule failed through the rewrite: a pair matched twice")
    assert(got === naiveRows(ov()))
  }

  test("raw SQL text plans binned too: the graded range_join_sql query " +
       "executes nested-loop-free") {
    val df = graft.rel.RelQueries.queries("range_join_sql")(spark, sf)
    val plan = executedPlan(df)
    assertNoNestedLoop(plan, "SQL-text range join")
    assert(plan.contains("Generate"),
      s"SQL-text range join was not rewritten:\n$plan")
  }

  test("graded auto rows execute nested-loop-free (the plan contract of " +
       "the correctness rows)") {
    for (name <- Seq("range_join_auto", "band_join_auto", "overlap_join_auto")) {
      val df = graft.rel.RelQueries.queries(name)(spark, sf)
      assertNoNestedLoop(executedPlan(df), name)
    }
  }

  test("numeric axis: a raw DOUBLE point-in-interval theta join plans " +
       "binned, razor-edge values included, and the explode ceiling " +
       "widens the width for a pathological interval") {
    // razor-edge corpus: points sitting exactly on / one ulp around
    // multiples of plausible power-of-two widths, intervals with
    // razor endpoints — binned must equal naive pair-for-pair (the
    // monotone-division coverage argument, exercised where it bites)
    val pts = (-40 to 400).flatMap { k =>
      val v = k * 0.0625d
      Seq(v, math.nextAfter(v, Double.NegativeInfinity),
        math.nextAfter(v, Double.PositiveInfinity), v + 0.031d)
    }.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val p = spark.createDataFrame(pts).toDF("id", "v")
    val ivs = (0 until 60).map { k =>
      (k.toLong, k * 0.34d - 2d, k * 0.34d - 2d + (k % 7 + 1) * 0.11d)
    }
    val iv = spark.createDataFrame(ivs).toDF("iid", "lo", "hi")
    def q(): DataFrame = p.join(iv, col("v") >= col("lo") && col("v") < col("hi"))
      .select(col("id"), col("iid"))
    val plan = executedPlan(q())
    assertNoNestedLoop(plan, "raw numeric point-in-interval join")
    assert(plan.contains("Generate"), s"numeric rule did not fire:\n$plan")
    assert(q().collect().map(_.toString).sorted.toSeq === naiveRows(q()))
    // explode ceiling: one interval 10^6 wide among unit-scale ones
    // must NOT produce a million-bin sequence — the width widens until
    // the longest interval spans <= 4096 bins, and rows still match
    val skew = spark.createDataFrame(
      ivs :+ (999L, -500000d, 500000d)).toDF("iid", "lo", "hi")
    def sq(): DataFrame = p.join(skew, col("v") >= col("lo") && col("v") < col("hi"))
      .select(col("id"), col("iid"))
    val sPlan = executedPlan(sq()) // completing at all proves the bound
    assertNoNestedLoop(sPlan, "skew-interval numeric join")
    assert(sq().collect().map(_.toString).sorted.toSeq === naiveRows(sq()))
    // the graded numeric row, nested-loop-free
    val g = graft.rel.RelQueries.queries("range_join_values")(spark, sf)
    assertNoNestedLoop(executedPlan(g), "range_join_values")
    // DATE endpoints bin through unix_timestamp like timestamps
    val dp = spark.range(0, 300).select(col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 90).cast("int"))
        .as("d"))
    val di = spark.range(0, 12).select(col("id").as("iid"),
      date_add(lit("2024-01-01").cast("date"), (col("id") * 7).cast("int"))
        .as("dlo"))
      .withColumn("dhi", date_add(col("dlo"), 5))
    def dq(): DataFrame = dp.join(di, col("d") >= col("dlo") && col("d") < col("dhi"))
      .select(col("id"), col("iid"))
    val dPlan = executedPlan(dq())
    assertNoNestedLoop(dPlan, "raw date point-in-interval join")
    assert(dPlan.contains("Generate"), s"date rule did not fire:\n$dPlan")
    assert(dq().collect().map(_.toString).sorted.toSeq === naiveRows(dq()))
  }

  // sparse windows: only every 4th day — most events UNMATCHED, so the
  // outer/anti semantics actually bite
  private def sparseWins(): DataFrame = {
    val ev = Tables.events(spark, sf)
    ev.select(date_trunc("DAY", col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) % 4 === 0)
      .select(col("day"), (col("day") + expr("INTERVAL 9 HOURS")).as("lo"),
        (col("day") + expr("INTERVAL 17 HOURS")).as("hi"))
  }

  test("LEFT OUTER point-in-interval: the rewrite fires (preserved side " +
       "is the single-bin point side), null-pads unmatched rows, and is " +
       "row-identical to the disabled BNLJ plan") {
    def q(): DataFrame = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"))
      .join(sparseWins(), col("ts") >= col("lo") && col("ts") < col("hi"),
        "left")
      .select(col("event_id"), col("day"))
    val plan = executedPlan(q())
    assertNoNestedLoop(plan, "LEFT OUTER point-in-interval join")
    assert(plan.contains("Generate"),
      s"left-outer rule did not fire:\n$plan")
    val got = q().collect()
    assert(got.exists(_.isNullAt(1)),
      "no null-padded row — the outer semantics were lost or the corpus" +
        " is not sparse")
    assert(got.map(_.toString).sorted.toSeq === naiveRows(q()))
    // disabled baseline really nested-loops, so the kill is the rule's
    withDisabled {
      val off = executedPlan(q())
      assert(off.contains("BroadcastNestedLoopJoin") ||
             off.contains("CartesianProduct"),
        s"disabled left-outer baseline did not nested-loop:\n$off")
    }
  }

  test("LEFT SEMI and LEFT ANTI point-in-interval: both fire, partition " +
       "the left side exactly, and match the disabled plans") {
    def semi(): DataFrame = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"))
      .join(sparseWins(), col("ts") >= col("lo") && col("ts") < col("hi"),
        "left_semi")
    def anti(): DataFrame = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"))
      .join(sparseWins(), col("ts") >= col("lo") && col("ts") < col("hi"),
        "left_anti")
    val sPlan = executedPlan(semi())
    val aPlan = executedPlan(anti())
    assertNoNestedLoop(sPlan, "LEFT SEMI range join")
    assertNoNestedLoop(aPlan, "LEFT ANTI range join")
    assert(sPlan.contains("Generate") && aPlan.contains("Generate"),
      s"semi/anti rules did not fire:\n$sPlan\n$aPlan")
    val sGot = semi().collect().map(_.toString).sorted.toSeq
    val aGot = anti().collect().map(_.toString).sorted.toSeq
    assert(sGot === naiveRows(semi()))
    assert(aGot === naiveRows(anti()))
    // semi ∪ anti = the whole left side, disjointly
    val total = Tables.events(spark, sf).count()
    assert(sGot.size + aGot.size === total,
      "semi and anti do not partition the left side")
  }

  test("RIGHT OUTER with the point on the right fires; LEFT OUTER with " +
       "the point on the RIGHT (preserved side would explode) stands " +
       "down; FULL OUTER fires via the aggregate-anti decomposition") {
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    def ro(): DataFrame = sparseWins()
      .join(ev, col("ts") >= col("lo") && col("ts") < col("hi"),
        "right")
      .select(col("event_id"), col("day"))
    val roPlan = executedPlan(ro())
    assertNoNestedLoop(roPlan, "RIGHT OUTER point-in-interval join")
    assert(roPlan.contains("Generate"),
      s"right-outer rule did not fire:\n$roPlan")
    assert(ro().collect().map(_.toString).sorted.toSeq === naiveRows(ro()))
    // preserved side = intervals → binning would duplicate it → stand down
    def lo(): DataFrame = sparseWins()
      .join(ev, col("ts") >= col("lo") && col("ts") < col("hi"), "left")
      .select(col("event_id"), col("day"))
    assert(!executedPlan(lo()).contains("Generate"),
      "rule fired on a LEFT OUTER whose preserved side is the interval" +
        " side — outer rows would be duplicated")
    assert(lo().collect().map(_.toString).sorted.toSeq === naiveRows(lo()))
    // FULL OUTER: since r16 the point-in-interval form FIRES (inner ∪
    // single-bin point anti ∪ aggregate interval anti) — the dedicated
    // r16 tests pin the decomposition's row classes; here the matrix
    // row just asserts fire + equality
    def fo(): DataFrame = ev
      .join(sparseWins(), col("ts") >= col("lo") && col("ts") < col("hi"),
        "full")
      .select(col("event_id"), col("day"))
    val foPlan = executedPlan(fo())
    assertNoNestedLoop(foPlan, "FULL OUTER point-in-interval join")
    assert(foPlan.contains("Union"),
      s"full-outer point-in-interval decomposition did not fire:\n$foPlan")
    assert(fo().collect().map(_.toString).sorted.toSeq === naiveRows(fo()))
  }

  test("band LEFT OUTER fires (band-left side is single-bin); overlap " +
       "LEFT OUTER stands down (both sides explode)") {
    val lv = spark.range(0, 200).select(col("id").as("lid"),
      (col("id") * 0.013d).as("lv"))
    val rv = spark.range(0, 40).select(col("id").as("rid"),
      (col("id") * 0.29d).as("rv"))
    def band(): DataFrame =
      lv.join(rv, abs(col("lv") - col("rv")) <= 0.05d, "left")
        .select(col("lid"), col("rid"))
    val bPlan = executedPlan(band())
    assertNoNestedLoop(bPlan, "band LEFT OUTER join")
    assert(bPlan.contains("Generate"), s"band left-outer did not fire:\n$bPlan")
    val bGot = band().collect()
    assert(bGot.exists(_.isNullAt(1)), "no null-padded band row")
    assert(bGot.map(_.toString).sorted.toSeq === naiveRows(band()))

    val a = spark.range(0, 50).select(col("id").as("ia"),
      (col("id") * 3.0d).as("alo"), (col("id") * 3.0d + 2.5d).as("ahi"))
    val b = spark.range(0, 50).select(col("id").as("ib"),
      (col("id") * 7.0d).as("blo"), (col("id") * 7.0d + 4.0d).as("bhi"))
    def ov(): DataFrame =
      a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"), "left")
        .select(col("ia"), col("ib"))
    assert(!executedPlan(ov()).contains("Generate"),
      "rule fired on a LEFT OUTER overlap join — both sides explode")
    assert(ov().collect().map(_.toString).sorted.toSeq === naiveRows(ov()))
  }

  test("graded outer/semi/anti/right rows execute nested-loop-free") {
    for (name <- Seq("range_join_left_auto", "range_join_semi_auto",
                     "range_join_anti_auto", "range_join_right_auto")) {
      val df = graft.rel.RelQueries.queries(name)(spark, sf)
      assertNoNestedLoop(executedPlan(df), name)
    }
  }

  test("range_join_right_auto: the graded RIGHT OUTER row fires the " +
       "rewrite and matches its disabled-baseline rows") {
    def q(): DataFrame =
      graft.rel.RelQueries.queries("range_join_right_auto")(spark, sf)
    val plan = executedPlan(q())
    assertNoNestedLoop(plan, "range_join_right_auto")
    assert(plan.contains("Generate"),
      s"right-outer rewrite did not fire on the graded row:\n$plan")
    assert(q().collect().map(_.toString).sorted.toSeq === naiveRows(q()))
  }

  test("r15: band FULL OUTER fires — inner ∪ left-anti ∪ right-anti, " +
       "nested-loop-free, row-identical to the disabled baseline with " +
       "the null-padded rows of BOTH sides included") {
    // values engineered so all three classes are non-empty: matched
    // pairs, unmatched left rows, unmatched right rows
    val lv = spark.range(0, 200).select(col("id").as("lid"),
      (col("id") * 0.013d).as("lv"))
    val rv = spark.range(0, 60).select(col("id").as("rid"),
      (col("id") * 0.29d).as("rv"))
    def fo(): DataFrame =
      lv.join(rv, abs(col("lv") - col("rv")) <= 0.05d, "full")
        .select(col("lid"), col("rid"))
    val plan = executedPlan(fo())
    assertNoNestedLoop(plan, "band FULL OUTER join")
    assert(plan.contains("Union"),
      s"full-outer decomposition did not fire:\n$plan")
    val rows = fo().collect()
    assert(rows.exists(r => !r.isNullAt(0) && r.isNullAt(1)) &&
           rows.exists(r => r.isNullAt(0) && !r.isNullAt(1)) &&
           rows.exists(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "test corpus degenerate: a presence class is empty")
    assert(rows.map(_.toString).sorted.toSeq === naiveRows(fo()))
    // and the graded row
    def q(): DataFrame =
      graft.rel.RelQueries.queries("range_join_full_auto")(spark, sf)
    val qPlan = executedPlan(q())
    assertNoNestedLoop(qPlan, "range_join_full_auto")
    assert(q().collect().map(_.toString).sorted.toSeq === naiveRows(q()))
  }

  test("r16: point-in-interval FULL OUTER fires via the aggregate anti " +
       "— nested-loop-free, row-identical to the disabled baseline, " +
       "null-bounded interval rows survive null-padded exactly once") {
    val ev = Tables.events(spark, sf)
    // sparse short windows + a far-future window (guaranteed unmatched)
    // + a NULL-bounds window (the explode_outer survival case)
    val wins = ev.select(date_trunc("DAY", col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) % 4 === 0)
      .select(col("day"), (col("day") + expr("INTERVAL 10 HOURS")).as("lo"),
        (col("day") + expr("INTERVAL 14 HOURS")).as("hi"))
      .unionByName(spark.sql(
        """SELECT TIMESTAMP'2030-01-01' AS day,
          |  TIMESTAMP'2030-01-01 10:00:00' AS lo,
          |  TIMESTAMP'2030-01-01 14:00:00' AS hi
          |UNION ALL SELECT TIMESTAMP'2031-01-01',
          |  CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP)""".stripMargin))
      .localCheckpoint(true)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts")).localCheckpoint(true)
    def fo(): DataFrame =
      p.join(wins, col("ts") >= col("lo") && col("ts") < col("hi"), "full")
        .select(col("event_id"), col("day"))
    val plan = executedPlan(fo())
    assertNoNestedLoop(plan, "point-in-interval FULL OUTER join")
    assert(plan.contains("Union"),
      s"full-outer decomposition did not fire:\n$plan")
    val rows = fo().collect()
    // all three presence classes non-empty, and BOTH adversarial
    // windows surface exactly once as right_only
    assert(rows.exists(r => !r.isNullAt(0) && r.isNullAt(1)) &&
           rows.exists(r => r.isNullAt(0) && !r.isNullAt(1)) &&
           rows.exists(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "test corpus degenerate: a presence class is empty")
    val farFuture = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    assert(rows.count(r => !r.isNullAt(1) &&
      r.getTimestamp(1) == farFuture) === 1,
      "unmatched multi-bin window must emit exactly once")
    val nullWin = java.sql.Timestamp.valueOf("2031-01-01 00:00:00")
    assert(rows.count(r => !r.isNullAt(1) &&
      r.getTimestamp(1) == nullWin) === 1,
      "null-bounded window must survive exactly once (explode_outer)")
    assert(rows.map(_.toString).sorted.toSeq === naiveRows(fo()))
    // mirrored: the point on the RIGHT side
    def foR(): DataFrame =
      wins.join(p, col("ts") >= col("lo") && col("ts") < col("hi"), "full")
        .select(col("day"), col("event_id"))
    val planR = executedPlan(foR())
    assertNoNestedLoop(planR, "mirrored point-in-interval FULL OUTER")
    assert(planR.contains("Union"))
    assert(foR().collect().map(_.toString).sorted.toSeq === naiveRows(foR()))
  }

  test("r16: interval-overlap FULL OUTER fires — both anti branches " +
       "aggregate-based, nested-loop-free, row-identical to the " +
       "disabled baseline on a corpus with unmatched rows BOTH sides") {
    // numeric axis: sparse left intervals vs differently-spaced right
    // ones + a null-bounds row EACH side
    val a = spark.range(0, 120).select(col("id").as("aid"),
        (col("id") * 17.0d).as("alo"))
      .withColumn("ahi", col("alo") + 3.0d)
      .unionByName(spark.sql(
        "SELECT -1 AS aid, CAST(NULL AS DOUBLE) AS alo, CAST(NULL AS DOUBLE) AS ahi"))
      .localCheckpoint(true)
    val b = spark.range(0, 80).select(col("id").as("bid"),
        (col("id") * 29.0d).as("blo"))
      .withColumn("bhi", col("blo") + 5.0d)
      .unionByName(spark.sql(
        "SELECT -1 AS bid, CAST(NULL AS DOUBLE) AS blo, CAST(NULL AS DOUBLE) AS bhi"))
      .localCheckpoint(true)
    def fo(): DataFrame =
      a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"), "full")
        .select(col("aid"), col("bid"))
    val plan = executedPlan(fo())
    assertNoNestedLoop(plan, "overlap FULL OUTER join")
    assert(plan.contains("Union"),
      s"full-outer decomposition did not fire:\n$plan")
    val rows = fo().collect()
    assert(rows.exists(r => !r.isNullAt(0) && r.isNullAt(1)) &&
           rows.exists(r => r.isNullAt(0) && !r.isNullAt(1)) &&
           rows.exists(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "test corpus degenerate: a presence class is empty")
    // the null-bounds rows survive exactly once each
    assert(rows.count(r => !r.isNullAt(0) && r.getLong(0) == -1L) === 1)
    assert(rows.count(r => !r.isNullAt(1) && r.getLong(1) == -1L) === 1)
    assert(rows.map(_.toString).sorted.toSeq === naiveRows(fo()))
    // graded rows execute nested-loop-free too
    for (q <- Seq("range_join_full_pit", "overlap_join_full")) {
      def g(): DataFrame = graft.rel.RelQueries.queries(q)(spark, sf)
      val gp = executedPlan(g())
      assertNoNestedLoop(gp, q)
      assert(g().collect().map(_.toString).sorted.toSeq === naiveRows(g()))
    }
  }

  test("stats-derived width: the integer decision is the documented " +
       "power-of-two clamp, pinned on adversarial corpora (many short " +
       "intervals vs few long ones)") {
    import graft.rel.RangeJoin
    // pure integer decision
    assert(RangeJoin.widthFromStats(0L, 0L) === 1L)      // degenerate
    assert(RangeJoin.widthFromStats(10L, 100L) === 1L)   // sub-second mean
    assert(RangeJoin.widthFromStats(9000L, 100L) === 64L)   // mean 90 s
    assert(RangeJoin.widthFromStats(1800000L, 100L) === 16384L) // mean 5 h
    assert(RangeJoin.widthFromStats(Long.MaxValue / 4, 1L) ===
      RangeJoin.MaxBinSeconds) // ceiling holds
    // one-pass derivation over frames: many short intervals...
    def ivs(n: Int, lenSec: Int): DataFrame =
      spark.range(0, n).select(
        (lit("2024-01-01 00:00:00").cast("timestamp") +
          expr(s"make_interval(0,0,0,0,0,0, id * 400)")).as("lo"))
        .withColumn("hi", col("lo") + expr(s"INTERVAL $lenSec SECONDS"))
    def derive(df: DataFrame): Long = RangeJoin.binsFor(timeAxis = true,
      RangeJoin.lengthStats(df, col("lo"), col("hi"), timeAxis = true).toSeq) match {
      case RangeJoin.SecondBins(seconds) => seconds
      case other => fail(s"time axis binned as $other")
    }
    assert(derive(ivs(500, 90)) === 64L)
    // ...vs few long ones
    assert(derive(ivs(3, 18000)) === 16384L)
    // empty / all-null interval side falls back to the default
    assert(derive(ivs(0, 90)) ===
      RangeJoin.DefaultBinSeconds)
    // and the auto API matches the fixed-width form row-for-row
    val ev = Tables.events(spark, sf)
    val wins = ev.select(date_trunc("DAY", col("ts")).as("day")).distinct()
      .select(col("day"), (col("day") + expr("INTERVAL 10 HOURS")).as("lo"),
        (col("day") + expr("INTERVAL 14 HOURS")).as("hi"))
    val auto = RangeJoin.pointInInterval(ev, "ts", wins, "lo", "hi",
        derive(wins))
      .select(col("event_id"), col("day")).collect().map(_.toString).sorted.toSeq
    val naive = ev.join(wins, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select(col("event_id"), col("day"))
    assert(auto === naiveRows(naive))
  }

  test("the stats pass is memoized across invocations: re-building the " +
       "same query (fresh exprIds) plans without running a job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    rawPointJoin().queryExecution.optimizedPlan // fills the memo
    // built before listening: reading the parquet schema runs a job
    val again = rawPointJoin()
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = again.queryExecution.optimizedPlan.toString
      assert(plan.contains(graft.rel.RangeJoin.BinCol), s"rule did not fire:\n$plan")
      // the listener bus delivers in order: once the sentinel job shows,
      // every job the planning started has shown too
      spark.sparkContext.setJobDescription("sentinel")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val before = Iterator.continually(
          Option(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
            .getOrElse(fail("the sentinel job never reported")))
        .takeWhile(_ != "sentinel").toList
      assert(before.isEmpty, s"planning a re-built query ran jobs: $before")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- rule on ≡ rule off over random corpora ----

  /** One endpoint axis: the raw value of grid step `k` with jitter `j`
    * (ulps on the double axis, milliseconds on the timestamp axis), its
    * raw Spark type, the conversion to the axis type, and the grid step
    * of an interval long enough to trip the 4096-bins-per-interval
    * explode ceiling. */
  private case class Axis(name: String, raw: org.apache.spark.sql.types.DataType,
                          enc: (Long, Int) => Any,
                          conv: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                          huge: Long, numeric: Boolean)

  private def ulps(v: Double, j: Int): Double =
    if (j < 0) math.nextDown(v) else if (j > 0) math.nextUp(v) else v

  private val Axes = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    Seq(
      Axis("timestamp", LongType, (k, j) => (1704067200L + k * 600L) * 1000L + j,
        timestamp_millis, 1L << 24, numeric = false),
      Axis("date", IntegerType, (k, _) => (19723L + k).toInt,
        date_from_unix_date, 1L << 19, numeric = false),
      Axis("double", DoubleType, (k, j) => ulps(k / 20d, j), identity, 1L << 40,
        numeric = true),
      Axis("long", LongType, (k, _) => k, identity, 1L << 40, numeric = true))
  }

  /** A grid point (step, jitter); None is a null value. */
  private type V = Option[(Long, Int)]

  /** Random frames plus fixed edge rows: null endpoints, a reversed and
    * a zero-length interval, points exactly on `lo`/`hi`, the band pair
    * (nextDown(0), 0.05) two bins apart at eps 0.05, the 0.95/1.00
    * pair, and optionally the ceiling-tripping interval. */
  private case class Corpus(pointsA: Seq[V], pointsB: Seq[V],
                            ivsA: Seq[(V, V)], ivsB: Seq[(V, V)], huge: Boolean)

  private val corpusGen = {
    import org.scalacheck.Gen
    val jitter = Gen.frequency(4 -> Gen.const(0), 1 -> Gen.const(-1), 1 -> Gen.const(1))
    val value: Gen[V] = Gen.frequency(1 -> Gen.const(None),
      8 -> Gen.zip(Gen.choose(-3L, 25L), jitter).map(Some(_)))
    val interval: Gen[(V, V)] = for {
      lo <- value
      len <- Gen.choose(-2L, 8L)
      j <- jitter
      hiNull <- Gen.frequency(1 -> true, 8 -> false)
      other <- value
    } yield (lo, lo match {
      case Some((k, _)) => if (hiNull) None else Some((k + len, j))
      case None => other
    })
    val edgePoints: Seq[V] = Seq(Some((0L, -1)), Some((1L, 0)), Some((19L, 0)),
      Some((20L, 0)), Some((5L, 0)), None)
    val edgeIvs: Seq[(V, V)] = Seq((Some((5L, 0)), Some((9L, 0))),
      (Some((1L, 0)), Some((5L, 0))), (Some((5L, 0)), Some((5L, 0))),
      (Some((8L, 0)), Some((3L, 0))), (None, Some((4L, 0))), (Some((2L, 0)), None))
    for {
      pa <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, value))
      pb <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, value))
      ia <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, interval))
      ib <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, interval))
      huge <- Gen.oneOf(true, false)
    } yield Corpus(pa ++ edgePoints, edgePoints.reverse ++ pb, ia ++ edgeIvs,
      edgeIvs.take(3) ++ ib, huge)
  }

  /** `rows` as a frame `(id, cols...)` on `axis`, ids in row order. */
  private def axisFrame(axis: Axis, id: String, cols: Seq[String],
                        rows: Seq[Seq[V]]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val schema = StructType(StructField(id, LongType) +:
      cols.map(StructField(_, axis.raw)))
    val data = rows.zipWithIndex.map { case (vs, i) =>
      org.apache.spark.sql.Row.fromSeq(i.toLong +: vs.map(
        _.map { case (k, j) => axis.enc(k, j) }.orNull))
    }
    spark.createDataFrame(data.asJava, schema)
      .select(col(id) +: cols.map(c => axis.conv(col(c)).as(c)): _*)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val JoinTypes =
    Seq("inner", "left_outer", "right_outer", "left_semi", "left_anti", "full_outer")

  test("scalacheck: rule on ≡ rule off for every shape, axis and join " +
       "type on random corpora with null, reversed, zero-length, " +
       "on-the-edge and ceiling-tripping rows; the explicit RangeJoin " +
       "API ≡ the naive join at random widths") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.rng.Seed
    import graft.rel.RangeJoin
    val hugeIv: Axis => (V, V) = a => (Some((-a.huge, 0)), Some((a.huge, 0)))
    val widths = Gen.zip(Gen.oneOf(7L, 60L, 600L, 3600L, 86400L),
      Gen.oneOf(0.05d, 0.1d, 0.35d, 1d))
    val prop = Prop.forAllNoShrink(corpusGen, widths) { case (c, (secs, eps)) =>
      val failures = Seq.newBuilder[String]
      for (axis <- Axes) {
        def ivs(rows: Seq[(V, V)], pre: String, huge: Boolean): DataFrame =
          axisFrame(axis, s"${pre}id", Seq(s"${pre}lo", s"${pre}hi"),
            (if (huge) rows :+ hugeIv(axis) else rows).map { case (l, h) => Seq(l, h) })
        def pts(rows: Seq[V], pre: String): DataFrame =
          axisFrame(axis, s"${pre}id", Seq(s"${pre}v"), rows.map(Seq(_)))
        val pa = pts(c.pointsA, "a")
        val pb = pts(c.pointsB, "b")
        val ia = ivs(c.ivsA, "i", c.huge)
        val ib = ivs(c.ivsB, "j", c.huge)
        val bandEps = if (axis.raw == org.apache.spark.sql.types.LongType) lit(3) else lit(0.05d)
        val shapes: Seq[(String, DataFrame, DataFrame, org.apache.spark.sql.Column)] =
          Seq(
            ("point left", pa, ia, col("av") >= col("ilo") && col("av") < col("ihi")),
            ("point right", ia, pb, col("ilo") < col("bv") && col("bv") <= col("ihi")),
            ("overlap", ia, ib, col("ilo") < col("jhi") && col("jlo") < col("ihi"))) ++
          (if (axis.numeric)
            Seq(("band", pa, pb, abs(col("av") - col("bv")) <= bandEps))
          else Nil)
        for ((shape, l, r, cond) <- shapes; jt <- JoinTypes) {
          val what = s"${axis.name} $shape $jt"
          val on = l.join(r, cond, jt)
          val fired = on.queryExecution.optimizedPlan.toString
            .contains("__graft_range_bin")
          val fires = jt match {
            case "inner" | "full_outer" => true
            case "right_outer" => shape == "point right" || shape == "band"
            case _ => shape == "point left" || shape == "band"
          }
          if (fired != fires) failures += s"$what: rule fired=$fired, expected $fires"
          if (sortedRows(on) != naiveRows(l.join(r, cond, jt)))
            failures += s"$what: rows differ from the disabled rule"
        }
        // the explicit API at a random width (the ceiling-tripping row is
        // left out: the explicit width has no explode ceiling)
        if (axis.name == "timestamp") {
          val ia0 = ivs(c.ivsA, "i", huge = false)
          val ib0 = ivs(c.ivsB, "j", huge = false)
          val pit = RangeJoin.pointInInterval(pa, "av", ia0, "ilo", "ihi", secs)
            .select(col("aid"), col("iid"))
          if (sortedRows(pit) != naiveRows(pa.join(ia0,
              col("av") >= col("ilo") && col("av") < col("ihi")).select(col("aid"), col("iid"))))
            failures += s"pointInInterval at $secs s differs from the naive join"
          val ov = RangeJoin.intervalOverlap(ia0, "ilo", "ihi", ib0, "jlo", "jhi", secs)
            .select(col("iid"), col("jid"))
          if (sortedRows(ov) != naiveRows(ia0.join(ib0,
              col("ilo") < col("jhi") && col("jlo") < col("ihi")).select(col("iid"), col("jid"))))
            failures += s"intervalOverlap at $secs s differs from the naive join"
        }
        if (axis.numeric) {
          val band = RangeJoin.bandJoin(pa, "av", pb, "bv", eps)
            .select(col("aid"), col("bid"))
          if (sortedRows(band) != naiveRows(pa.join(pb,
              abs(col("av") - col("bv")) <= eps).select(col("aid"), col("bid"))))
            failures += s"${axis.name} bandJoin at eps $eps differs from the naive join"
        }
      }
      val f = failures.result()
      f.isEmpty :| f.mkString("; ")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6)
        .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, s"range-join parity failed: ${res.status}")
  }
}
