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
    assert(RangeJoin.deriveBinSeconds(ivs(500, 90), "lo", "hi") === 64L)
    // ...vs few long ones
    assert(RangeJoin.deriveBinSeconds(ivs(3, 18000), "lo", "hi") === 16384L)
    // empty / all-null interval side falls back to the default
    assert(RangeJoin.deriveBinSeconds(ivs(0, 90), "lo", "hi") ===
      RangeJoin.DefaultBinSeconds)
    // and the auto API matches the fixed-width form row-for-row
    val ev = Tables.events(spark, sf)
    val wins = ev.select(date_trunc("DAY", col("ts")).as("day")).distinct()
      .select(col("day"), (col("day") + expr("INTERVAL 10 HOURS")).as("lo"),
        (col("day") + expr("INTERVAL 14 HOURS")).as("hi"))
    val auto = RangeJoin.pointInInterval(ev, "ts", wins, "lo", "hi",
        RangeJoin.deriveBinSeconds(wins, "lo", "hi"))
      .select(col("event_id"), col("day")).collect().map(_.toString).sorted.toSeq
    val naive = ev.join(wins, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select(col("event_id"), col("day"))
    assert(auto === naiveRows(naive))
  }
}
