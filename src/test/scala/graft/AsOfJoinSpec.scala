package graft

import java.sql.Timestamp

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOf, AsOfJoinExec}
import graft.rel.RelQueries

/** The native as-of join operator ([[graft.plans.AsOfJoin]] →
  * [[AsOfJoinExec]]): semantics against an independent driver-side
  * reference and against the engine's own window re-expression, edge
  * cases (null keys/times, ties, empty sides, unmatched keys), the
  * executed plan shape (one exchange + one sort per side, no window, no
  * join fan-out), API error modes, and strategy self-registration in a
  * session built without GraftExtensions. */
class AsOfJoinSpec extends AnyFunSuite with SharedSession with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  import scala.jdk.CollectionConverters._
  private def df(rows: Seq[(java.lang.Long, java.lang.Long, String)],
                 kCol: String, tCol: String, pCol: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(kCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(tCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(pCol, org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
  }

  test("edge semantics: latest <=, inclusive tie, null key/time, unmatched, empty right") {
    val left = df(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, "l-a"),
      (1L: java.lang.Long, 20L: java.lang.Long, "l-b"),
      (1L: java.lang.Long, 5L: java.lang.Long, "l-early"),
      (2L: java.lang.Long, 10L: java.lang.Long, "l-c"),
      (3L: java.lang.Long, 10L: java.lang.Long, "l-nokey"),
      (null, 10L: java.lang.Long, "l-nullk"),
      (4L: java.lang.Long, null, "l-nullt")), "k", "t", "lp")
    val right = df(Seq(
      (1L: java.lang.Long, 7L: java.lang.Long, "r-7"),
      (1L: java.lang.Long, 10L: java.lang.Long, "r-10"),   // tie: inclusive
      (1L: java.lang.Long, 15L: java.lang.Long, "r-15"),
      (1L: java.lang.Long, 99L: java.lang.Long, "r-late"),
      (2L: java.lang.Long, 11L: java.lang.Long, "r-after"), // after left t=10
      (2L: java.lang.Long, null, "r-nullt"),               // never matches
      (null, 1L: java.lang.Long, "r-nullk"),               // never matches
      (4L: java.lang.Long, 1L: java.lang.Long, "r-k4")), "rk", "rt", "rp")

    val got = AsOf.join(left, right, Seq("k"), Seq("rk"), "t", "rt")
      .select(col("lp"), col("rp")).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map(
      "l-a" -> "r-10",      // tie at t=10 matches inclusively, beats r-7
      "l-b" -> "r-15",      // latest <= 20
      "l-early" -> null,    // nothing at or before 5
      "l-c" -> null,        // only r-after (t=11) and a null-time row
      "l-nokey" -> null, "l-nullk" -> null, "l-nullt" -> null))

    // empty right: all left rows survive with null payload
    val gotEmpty = AsOf.join(left, right.filter(col("rt") < 0),
        Seq("k"), Seq("rk"), "t", "rt")
      .select(col("lp"), col("rp")).collect()
    assert(gotEmpty.length == left.count() && gotEmpty.forall(_.isNullAt(1)))

    // empty left: empty result
    assert(AsOf.join(left.filter(col("t") < 0), right,
      Seq("k"), Seq("rk"), "t", "rt").count() == 0)
  }

  test("forward direction: earliest >=, inclusive tie, tolerance, null paths") {
    val left = df(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, "l-a"),
      (1L: java.lang.Long, 16L: java.lang.Long, "l-b"),
      (1L: java.lang.Long, 100L: java.lang.Long, "l-late"),
      (2L: java.lang.Long, 10L: java.lang.Long, "l-c"),
      (null, 10L: java.lang.Long, "l-nullk")), "k", "t", "lp")
    val right = df(Seq(
      (1L: java.lang.Long, 5L: java.lang.Long, "r-5"),     // behind: never forward-matches
      (1L: java.lang.Long, 10L: java.lang.Long, "r-10"),   // tie: inclusive
      (1L: java.lang.Long, 15L: java.lang.Long, "r-15"),
      (1L: java.lang.Long, 40L: java.lang.Long, "r-40"),
      (2L: java.lang.Long, 9L: java.lang.Long, "r-9")), "rk", "rt", "rp")
    def run(tol: Option[Long]) =
      AsOf.join(left, right, Seq("k"), Seq("rk"), "t", "rt", tol,
          graft.plans.AsOfForward)
        .select(col("lp"), col("rp")).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
    assert(run(None) == Map(
      "l-a" -> "r-10",    // inclusive tie beats r-15
      "l-b" -> "r-40",    // earliest >= 16
      "l-late" -> null,   // nothing at or after 100
      "l-c" -> null,      // r-9 is behind
      "l-nullk" -> null))
    // tolerance bounds the forward gap: r-40 is 24 units ahead of l-b
    assert(run(Some(10L)) == Map(
      "l-a" -> "r-10", "l-b" -> null, "l-late" -> null,
      "l-c" -> null, "l-nullk" -> null))
  }

  test("nearest direction: min gap either side, tie backward, per-candidate tolerance") {
    val left = df(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, "l-backNearer"),  // gaps 2 back, 5 fwd
      (1L: java.lang.Long, 18L: java.lang.Long, "l-fwdNearer"),   // gaps 10 back, 2 fwd
      (1L: java.lang.Long, 30L: java.lang.Long, "l-tie"),         // gaps 10 back, 10 fwd
      (2L: java.lang.Long, 10L: java.lang.Long, "l-onlyFwd"),
      (3L: java.lang.Long, 10L: java.lang.Long, "l-none")), "k", "t", "lp")
    val right = df(Seq(
      (1L: java.lang.Long, 8L: java.lang.Long, "r-8"),
      (1L: java.lang.Long, 15L: java.lang.Long, "r-15"),
      (1L: java.lang.Long, 20L: java.lang.Long, "r-20"),
      (1L: java.lang.Long, 40L: java.lang.Long, "r-40"),
      (2L: java.lang.Long, 13L: java.lang.Long, "r-13")), "rk", "rt", "rp")
    def run(tol: Option[Long]) =
      AsOf.join(left, right, Seq("k"), Seq("rk"), "t", "rt", tol,
          graft.plans.AsOfNearest)
        .select(col("lp"), col("rp")).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
    assert(run(None) == Map(
      "l-backNearer" -> "r-8",   // 2 behind beats 5 ahead
      "l-fwdNearer" -> "r-20",   // 2 ahead beats 10 behind
      "l-tie" -> "r-20",         // 10 either way: backward wins
      "l-onlyFwd" -> "r-13",
      "l-none" -> null))
    // tolerance filters each candidate BEFORE the choice: at tol=5 the
    // tie row keeps neither (both gaps 10), fwdNearer keeps its forward
    assert(run(Some(5L)) == Map(
      "l-backNearer" -> "r-8", "l-fwdNearer" -> "r-20",
      "l-tie" -> null, "l-onlyFwd" -> "r-13", "l-none" -> null))
  }

  test("strict mode (allowExactMatches=false): boundary exclusion, all directions") {
    val left = df(Seq(
      (1L: java.lang.Long, 10L: java.lang.Long, "l-10"),
      (1L: java.lang.Long, 20L: java.lang.Long, "l-20"),
      (2L: java.lang.Long, 10L: java.lang.Long, "l-only-eq")), "k", "t", "lp")
    val right = df(Seq(
      (1L: java.lang.Long, 5L: java.lang.Long, "r-5"),
      (1L: java.lang.Long, 10L: java.lang.Long, "r-10"),  // equal: excluded strictly
      (1L: java.lang.Long, 12L: java.lang.Long, "r-12"),
      (1L: java.lang.Long, 20L: java.lang.Long, "r-20"),  // equal for l-20
      (1L: java.lang.Long, 30L: java.lang.Long, "r-30"),
      (2L: java.lang.Long, 10L: java.lang.Long, "r-eq")), "rk", "rt", "rp")
    def run(dir: graft.plans.AsOfDirection, bc: Boolean) =
      AsOf.join(left, right, Seq("k"), Seq("rk"), "t", "rt", None, dir,
          broadcastRight = Some(bc), allowExactMatches = false)
        .select(col("lp"), col("rp")).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
    for (bc <- Seq(false, true)) {
      assert(run(graft.plans.AsOfBackward, bc) == Map(
        "l-10" -> "r-5",       // r-10 excluded
        "l-20" -> "r-12",      // r-20 excluded
        "l-only-eq" -> null),  // the only row is the equal one
        s"backward bc=$bc")
      assert(run(graft.plans.AsOfForward, bc) == Map(
        "l-10" -> "r-12",      // r-10 excluded, first strictly later
        "l-20" -> "r-30",
        "l-only-eq" -> null), s"forward bc=$bc")
      assert(run(graft.plans.AsOfNearest, bc) == Map(
        "l-10" -> "r-12",      // gaps: 5 back vs 2 fwd (r-10 excluded)
        "l-20" -> "r-12",      // 8 back vs 10 fwd (r-20 excluded)
        "l-only-eq" -> null), s"nearest bc=$bc")
      // the equal row excluded for l-10 must still serve l-20 backward
      // via the stash (merge path) / index (broadcast path): raise l-20
      // to 11 so r-10 becomes its nearest-behind
      val l2 = df(Seq(
        (1L: java.lang.Long, 10L: java.lang.Long, "l-10"),
        (1L: java.lang.Long, 11L: java.lang.Long, "l-11")), "k", "t", "lp")
      val got = AsOf.join(l2, right, Seq("k"), Seq("rk"), "t", "rt", None,
          graft.plans.AsOfNearest, broadcastRight = Some(bc),
          allowExactMatches = false)
        .select(col("lp"), col("rp")).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(got == Map("l-10" -> "r-12", "l-11" -> "r-10"),
        s"stashed equal row lost (bc=$bc): $got")
    }
  }

  test("randomized parity against a driver-side reference") {
    val rnd = new scala.util.Random(20260814L)
    def nk(): java.lang.Long = if (rnd.nextInt(20) == 0) null else (rnd.nextInt(15).toLong: java.lang.Long)
    def nt(): java.lang.Long = if (rnd.nextInt(25) == 0) null else (rnd.nextInt(50).toLong: java.lang.Long)
    val lRows = Seq.tabulate(400)(i => (nk(), nt(), s"L$i"))
    // distinct (key, time) on the right so the as-of match is unique and
    // the reference needs no tie-break (mirrors the graded query's dedup)
    val rRows = Seq.tabulate(300)(i => (nk(), nt(), s"R$i"))
      .filter(r => r._1 != null && r._2 != null)
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val expected = {
      val byKey = rRows.groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._2.longValue()) }
      lRows.map { case (k, t, lp) =>
        val m = if (k == null || t == null) None
                else byKey.getOrElse(k, Seq.empty).takeWhile(_._2.longValue() <= t.longValue()).lastOption
        (lp, m.map(_._3).orNull)
      }.toMap
    }
    val got = AsOf.join(df(lRows, "k", "t", "lp"), df(rRows, "rk", "rt", "rp"),
        Seq("k"), Seq("rk"), "t", "rt")
      .select(col("lp"), col("rp")).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == expected)
    // forward over the same data, against the mirrored reference
    val expectedF = {
      val byKey = rRows.groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._2.longValue()) }
      lRows.map { case (k, t, lp) =>
        val m = if (k == null || t == null) None
                else byKey.getOrElse(k, Seq.empty).dropWhile(_._2.longValue() < t.longValue()).headOption
        (lp, m.map(_._3).orNull)
      }.toMap
    }
    val gotF = AsOf.join(df(lRows, "k", "t", "lp"), df(rRows, "rk", "rt", "rp"),
        Seq("k"), Seq("rk"), "t", "rt", None, graft.plans.AsOfForward)
      .select(col("lp"), col("rp")).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(gotF == expectedF)
    // nearest = argmin gap over the two directional candidates, tie backward
    val expectedN = lRows.map { case (_, t, lp) =>
      val b = expected(lp); val f = expectedF(lp)
      val bT = rRows.collectFirst { case (_, rt, rp) if rp == b => rt }
      val fT = rRows.collectFirst { case (_, rt, rp) if rp == f => rt }
      val pick = (bT, fT) match {
        case (Some(bt), Some(ft)) =>
          if (t.longValue() - bt.longValue() <= ft.longValue() - t.longValue()) b else f
        case (Some(_), None) => b
        case (None, Some(_)) => f
        case _ => null
      }
      (lp, pick)
    }.toMap
    val gotN = AsOf.join(df(lRows, "k", "t", "lp"), df(rRows, "rk", "rt", "rp"),
        Seq("k"), Seq("rk"), "t", "rt", None, graft.plans.AsOfNearest)
      .select(col("lp"), col("rp")).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(gotN == expectedN)
  }

  test("randomized grid: direction x strictness x tolerance vs a driver model") {
    val rnd = new scala.util.Random(424242L)
    def reference(lRows: Seq[(java.lang.Long, java.lang.Long, String)],
                  rRows: Seq[(java.lang.Long, java.lang.Long, String)],
                  dir: graft.plans.AsOfDirection, exact: Boolean,
                  tol: Option[Long]): Map[String, String] = {
      val byKey = rRows.filter(r => r._1 != null && r._2 != null)
        .groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._2.longValue()) }
      lRows.map { case (k, t, lp) =>
        val pick: Option[(java.lang.Long, java.lang.Long, String)] =
          if (k == null || t == null) None
          else {
            val seq = byKey.getOrElse(k, Seq.empty)
            val lt = t.longValue()
            val back = seq.filter(r => if (exact) r._2.longValue() <= lt
                                       else r._2.longValue() < lt)
              .lastOption.filter(r => tol.forall(lt - r._2.longValue() <= _))
            val fwd = seq.filter(r => if (exact) r._2.longValue() >= lt
                                      else r._2.longValue() > lt)
              .headOption.filter(r => tol.forall(r._2.longValue() - lt <= _))
            dir match {
              case graft.plans.AsOfBackward => back
              case graft.plans.AsOfForward  => fwd
              case graft.plans.AsOfNearest  => (back, fwd) match {
                case (Some(b), Some(f)) =>
                  Some(if (lt - b._2.longValue() <= f._2.longValue() - lt) b else f)
                case (b, f) => b.orElse(f)
              }
            }
          }
        (lp, pick.map(_._3).orNull)
      }.toMap
    }
    for (trial <- 1 to 5) {
      // small, tie-dense datasets: keys 0..3, times 0..12, plus nulls
      def nk(): java.lang.Long = if (rnd.nextInt(10) == 0) null else (rnd.nextInt(4).toLong: java.lang.Long)
      def nt(): java.lang.Long = if (rnd.nextInt(12) == 0) null else (rnd.nextInt(13).toLong: java.lang.Long)
      val lRows = Seq.tabulate(20 + rnd.nextInt(30))(i => (nk(), nt(), s"L$i"))
      val rRows = Seq.tabulate(15 + rnd.nextInt(25))(i => (nk(), nt(), s"R$i"))
        .filter(r => r._1 != null && r._2 != null)
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val l = df(lRows, "k", "t", "lp"); val r = df(rRows, "rk", "rt", "rp")
      for (dir <- Seq(graft.plans.AsOfBackward, graft.plans.AsOfForward,
                      graft.plans.AsOfNearest);
           exact <- Seq(true, false);
           tol <- Seq(None, Some(3L))) {
        val bc = (trial + (if (exact) 1 else 0)) % 2 == 0
        val got = AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt", tol, dir,
            broadcastRight = Some(bc), allowExactMatches = exact)
          .select(col("lp"), col("rp")).collect()
          .map(x => (x.getString(0), x.getString(1))).toMap
        val want = reference(lRows, rRows, dir, exact, tol)
        assert(got == want,
          s"trial=$trial dir=$dir exact=$exact tol=$tol bc=$bc\n" +
            s"diff=${(got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
      }
    }
  }

  test("asof_native matches the window re-expression row for row, with real matches") {
    val native = RelQueries.queries("asof_native")(spark, sfDir).collect()
    // the engine's own composed form: one window over the interleaved
    // click/purchase stream; (ts, kind, event_id) ordering makes the
    // same-ts click inclusive and reproduces the max-event_id dedup
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
              when(col("event_type") === "click", 0).otherwise(1).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val composed = ev
      .withColumn("last_click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
              col("last_click_id"), col("last_click_ts"))
      .orderBy(col("event_id"))
      .collect()
    assert(native.length == composed.length && native.length > 0)
    native.zip(composed).foreach { case (n, c) => assert(n == c, s"$n != $c") }
    // non-degenerate both ways: matches exist AND the outer path fires
    assert(native.exists(!_.isNullAt(3)), "no purchase matched any click")
    assert(native.exists(_.isNullAt(3)), "outer-null path never exercised")
  }

  test("asof_tolerance equals asof_native with stale candidates nullified") {
    val native = RelQueries.queries("asof_native")(spark, sfDir).collect()
    val tol = RelQueries.queries("asof_tolerance")(spark, sfDir).collect()
    assert(native.length == tol.length)
    val hourUs = 3600L * 1000000L
    def us(t: Timestamp) = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    native.zip(tol).foreach { case (n, t) =>
      assert(n.getLong(0) == t.getLong(0))
      val keep = !n.isNullAt(3) &&
        us(n.getTimestamp(2)) - us(n.getTimestamp(4)) <= hourUs
      if (keep) assert(t.getLong(3) == n.getLong(3) &&
                       t.getTimestamp(4) == n.getTimestamp(4))
      else assert(t.isNullAt(3) && t.isNullAt(4), s"stale match kept: $n -> $t")
    }
    // the tolerance must genuinely bite: strictly fewer matches, not zero
    val nMatched = native.count(!_.isNullAt(3))
    val tMatched = tol.count(!_.isNullAt(3))
    assert(tMatched > 0 && tMatched < nMatched,
      s"tolerance degenerate: $tMatched of $nMatched")
  }

  test("plan shape: AsOfJoinExec, one exchange and one sort per side, no window") {
    val ev = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderdate").cast("timestamp").as("ots"))
    val joined = AsOf.join(ord, ev, Seq("o_custkey"), Seq("user_id"), "ots", "ts",
      tolerance = None, broadcastRight = Some(false))
    joined.collect()
    val plan = joined.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) { case e: AsOfJoinExec => e }.size == 1,
      s"no AsOfJoinExec in:\n$plan")
    val shuffles = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    // one shuffle for the events groupBy, one per join side; the join's
    // left side reuses nothing (orders arrives unshuffled), so <= 3 total
    assert(shuffles.size <= 3, s"extra exchanges:\n$plan")
    val sorts = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.SortExec => e }
    assert(sorts.size == 2, s"expected exactly the two (key, time) sorts:\n$plan")
    val s = plan.toString
    assert(!s.contains("Window") && !s.contains("BroadcastNestedLoopJoin") &&
           !s.contains("CartesianProduct"), s"bad shape:\n$s")
  }

  test("broadcast path: parity with the merge path on random data, all directions") {
    val rnd = new scala.util.Random(77001L)
    def nk(): java.lang.Long = if (rnd.nextInt(15) == 0) null else (rnd.nextInt(12).toLong: java.lang.Long)
    def nt(): java.lang.Long = if (rnd.nextInt(20) == 0) null else (rnd.nextInt(60).toLong: java.lang.Long)
    val lRows = Seq.tabulate(300)(i => (nk(), nt(), s"L$i"))
    val rRows = Seq.tabulate(200)(i => (nk(), nt(), s"R$i"))
      .filter(r => r._1 != null && r._2 != null)
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val l = df(lRows, "k", "t", "lp"); val r = df(rRows, "rk", "rt", "rp")
    for (dir <- Seq(graft.plans.AsOfBackward, graft.plans.AsOfForward,
                    graft.plans.AsOfNearest);
         tol <- Seq(None, Some(7L));
         exact <- Seq(true, false)) {
      val merge = AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt", tol, dir,
          broadcastRight = Some(false), allowExactMatches = exact)
        .select(col("lp"), col("rp")).collect()
        .map(x => (x.getString(0), x.getString(1))).toMap
      val bcast = AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt", tol, dir,
          broadcastRight = Some(true), allowExactMatches = exact)
        .select(col("lp"), col("rp")).collect()
        .map(x => (x.getString(0), x.getString(1))).toMap
      assert(bcast == merge, s"divergence at dir=$dir tol=$tol exact=$exact")
    }
  }

  test("broadcast path plan: BroadcastExchange, zero shuffles/sorts on the probe side") {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))
    val joined = AsOf.join(purchases, broadcast(clicks),
        Seq("user_id"), Seq("cu"), "pts", "cts")
    joined.collect()
    val plan = joined.queryExecution.executedPlan
    val bj = collectWithSubqueries(plan) {
      case e: graft.plans.BroadcastAsOfJoinExec => e }
    assert(bj.size == 1, s"no BroadcastAsOfJoinExec:\n$plan")
    // the probe (left) subtree must be exchange- and sort-free: the scan
    // flows straight into the join
    val probe = bj.head.left
    assert(probe.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      case e: org.apache.spark.sql.execution.SortExec => e }.isEmpty,
      s"probe side pays an exchange/sort:\n$probe")
    assert(plan.toString.contains("BroadcastExchange"), s"no broadcast:\n$plan")
    // stats-driven auto-choice: with no hint and a tiny right side, the
    // planner should also pick the broadcast exec on its own
    val auto = AsOf.join(purchases, clicks.limit(50), Seq("user_id"), Seq("cu"),
        "pts", "cts")
    auto.collect()
    assert(collectWithSubqueries(auto.queryExecution.executedPlan) {
      case e: graft.plans.BroadcastAsOfJoinExec => e }.nonEmpty,
      s"auto-broadcast not chosen:\n${auto.queryExecution.executedPlan}")
  }

  test("optimizer: projection prunes both scans, left filter reaches PushedFilters") {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
              col("event_id").as("click_id"), col("props").as("cprops"),
              col("value").as("cvalue"))
    val purchases = ev.filter(col("event_type") === "purchase")
    // join carries WIDE rows; the query reads only ids + times
    val narrow = AsOf.join(purchases, clicks, Seq("user_id"), Seq("cu"), "ts", "cts")
      .filter(col("value") > 10d) // left-side predicate, post-join
      .select(col("event_id"), col("click_id"))
    narrow.collect()
    val planStr = narrow.queryExecution.executedPlan.toString
    // pruning: neither side's scan reads props (left) / cprops (right);
    // events stores props as a top-level column, so ReadSchema shows it
    assert(!planStr.contains("props"),
      s"props survived into a scan despite the narrow projection:\n$planStr")
    // the left-only value predicate commutes with the join and reaches
    // the left scan's pushed filters
    assert(planStr.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,10.0)]") ||
           planStr.contains("GreaterThan(value,10.0)"),
      s"left predicate not pushed:\n$planStr")
    // and it must sit BELOW the as-of join in the optimized plan
    val opt = narrow.queryExecution.optimizedPlan
    val joins = opt.collect { case j: graft.plans.AsOfJoin => j }
    assert(joins.size == 1)
    assert(joins.head.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("value") => f }.isDefined ||
      joins.head.left.toString.contains("value"),
      s"filter not inside the left child:\n$opt")
    // a RIGHT-side predicate must NOT move below the join (it would
    // change which row is latest and break null extension)
    val rightFiltered = AsOf.join(purchases.select(col("event_id"), col("user_id"), col("ts")),
        clicks, Seq("user_id"), Seq("cu"), "ts", "cts")
      .filter(col("cvalue") > 10d)
    val opt2 = rightFiltered.queryExecution.optimizedPlan
    val j2 = opt2.collect { case j: graft.plans.AsOfJoin => j }
    assert(j2.size == 1 && !j2.head.right.toString.contains("cvalue > 10"),
      s"right predicate was pushed:\n$opt2")
  }

  test("API errors: unknown column, shared attributes, key arity") {
    val a = df(Seq((1L: java.lang.Long, 1L: java.lang.Long, "x")), "k", "t", "p")
    val b = df(Seq((1L: java.lang.Long, 1L: java.lang.Long, "y")), "rk", "rt", "rp")
    intercept[AnalysisException] { AsOf.join(a, b, Seq("nope"), Seq("rk"), "t", "rt") }
    intercept[AnalysisException] { AsOf.join(a, a, Seq("k"), Seq("k"), "t", "t") }
    intercept[IllegalArgumentException] { AsOf.join(a, b, Seq("k", "t"), Seq("rk"), "t", "rt") }
    // aliasing one side un-shares the attributes: the self-join works
    val selfed = AsOf.join(a, a.select(col("k").as("rk"), col("t").as("rt"),
        col("p").as("rp")), Seq("k"), Seq("rk"), "t", "rt")
    assert(selfed.collect().map(r => (r.getString(2), r.getString(5))).toSeq ==
      Seq(("x", "x")))
  }

  // 90% of probes on key 1; times deterministic, right times unique
  // (so tie-breaks cannot differ between plans under comparison)
  private def hotLeft = spark.range(0, 20000, 1, 4).select(
    when(col("id") % 10 < 9, 1L).otherwise(col("id") % 90 + 2).as("k"),
    ((col("id") * 2654435761L) % 1000003L).as("t"),
    col("id").as("lid"))
  private def hotRight = spark.range(0, 2000).select(
    when(col("id") % 10 < 9, 1L).otherwise(col("id") % 90 + 2).as("rk"),
    (col("id") * 487L).as("rt"),
    col("id").as("rid"))

  test("honest skew contract: OptimizeSkewedJoin splits a skewed SMJ but NOT " +
      "the custom as-of shuffle — the scaladoc's claim, pinned") {
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def skewedReads(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect() // execute THIS QueryExecution (count() would plan a new one)
        collectWithSubqueries(df.queryExecution.executedPlan) {
          case r: AQEShuffleReadExec if r.hasSkewedPartition => r
        }.size
      }
      // control: the SAME skewed probe side through a stock sort-merge
      // join — AQE must split it, proving these thresholds bite. The dim
      // side must shuffle DIRECTLY into the join (OptimizeSkewedJoin
      // pattern-matches SMJ(Sort(Stage), Sort(Stage)); an aggregate in
      // between defeats it even for stock joins) and have unique keys so
      // the left join does not fan out
      val dim = spark.range(0, 100)
        .select((col("id") + 1).as("rk"), (col("id") * 487L).as("rt"))
      val smj = hotLeft.join(dim, col("k") === col("rk"), "left")
      assert(skewedReads(smj) > 0,
        "thresholds too lax: the control SMJ did not skew-split")
      // the custom operator: same corpus, same confs — NO split (the
      // hot key serializes in one task; that is the honest contract,
      // remedied by joinSalted below)
      val asof = AsOf.join(hotLeft, hotRight, Seq("k"), Seq("rk"), "t", "rt",
        tolerance = None, broadcastRight = Some(false))
      assert(skewedReads(asof) === 0,
        "OptimizeSkewedJoin split a custom BinaryExecNode — the scaladoc " +
          "and joinSalted rationale need updating")
    }
  }

  test("joinSalted: parity with the unsalted merge on the 90%-hot corpus " +
      "across direction/strictness/tolerance, and the exchange is salted") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val variants = Seq[(String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame))](
      ("backward", (l, r) => (
        AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt",
          tolerance = None, broadcastRight = Some(false)),
        AsOf.joinSalted(l, r, Seq("k"), Seq("rk"), "t", "rt", buckets = 8))),
      ("forward-strict", (l, r) => (
        AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt", tolerance = None,
          direction = graft.plans.AsOfForward, broadcastRight = Some(false),
          allowExactMatches = false),
        AsOf.joinSalted(l, r, Seq("k"), Seq("rk"), "t", "rt", buckets = 8,
          direction = graft.plans.AsOfForward, allowExactMatches = false))),
      ("backward-tolerance", (l, r) => (
        AsOf.join(l, r, Seq("k"), Seq("rk"), "t", "rt",
          tolerance = Some(50000L), broadcastRight = Some(false)),
        AsOf.joinSalted(l, r, Seq("k"), Seq("rk"), "t", "rt", buckets = 8,
          tolerance = Some(50000L)))))
    variants.foreach { case (name, mk) =>
      val (plainDf, saltedDf) = mk(hotLeft, hotRight)
      assert(rows(saltedDf) === rows(plainDf), s"salted parity broke: $name")
    }
    // the salted plan really spreads the hot key: its exchange hashes on
    // (key, salt), not key alone
    val salted = AsOf.joinSalted(hotLeft, hotRight,
      Seq("k"), Seq("rk"), "t", "rt", buckets = 8)
    val exchanges = collectWithSubqueries(salted.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty && exchanges.forall(
      _.outputPartitioning.toString.contains("__graft_asof_salt")),
      "salt column missing from the shuffle partitioning")
    // reserved-name and bucket-count guards
    intercept[IllegalArgumentException] {
      AsOf.joinSalted(hotLeft, hotRight, Seq("k"), Seq("rk"), "t", "rt",
        buckets = 1)
    }
    intercept[IllegalArgumentException] {
      AsOf.joinSalted(hotLeft.withColumn("__graft_asof_salt", lit(1)),
        hotRight, Seq("k"), Seq("rk"), "t", "rt")
    }
  }

  test("keyless (global) as-of: merge fallback, broadcast path and the bucketed " +
      "scale path agree across direction/strictness/tolerance") {
    // right rows extend OUTSIDE the left span on both ends (the
    // bucket-clamping edge); times strictly increasing => unique, so
    // tie-breaks cannot differ between plans
    val left = spark.range(0, 5000, 1, 4).select(
      ((col("id") * 2654435761L) % 100000L + 5000L).as("t"), col("id").as("lid"))
    val right = spark.range(0, 700).select(
      (col("id") * 171L - 3000L).as("rt"), col("id").as("rid"))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val variants: Seq[(String, Option[Long], graft.plans.AsOfDirection, Boolean)] = Seq(
      ("backward", None, graft.plans.AsOfBackward, true),
      ("backward-strict-tol", Some(4000L), graft.plans.AsOfBackward, false),
      ("forward", None, graft.plans.AsOfForward, true),
      ("nearest", Some(9000L), graft.plans.AsOfNearest, true))
    variants.foreach { case (name, tol, dir, exact) =>
      val merged = rows(AsOf.join(left, right, Seq(), Seq(), "t", "rt",
        tol, dir, broadcastRight = Some(false), exact))
      val bcast = rows(AsOf.join(left, right, Seq(), Seq(), "t", "rt",
        tol, dir, broadcastRight = Some(true), exact))
      val bucketed = rows(AsOf.joinKeylessBucketed(left, right, "t", "rt",
        buckets = 16, tol, dir, exact))
      assert(bcast === merged, s"broadcast keyless parity broke: $name")
      assert(bucketed === merged, s"bucketed keyless parity broke: $name")
    }
    // the bucketed plan genuinely distributes: its exchange hashes on
    // the bucket column
    val bucketedDf = AsOf.joinKeylessBucketed(left, right, "t", "rt", buckets = 16)
    val exchanges = collectWithSubqueries(bucketedDf.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.exists(
      _.outputPartitioning.toString.contains("__graft_asof_bucket")))
    // empty probe side: schema survives, result empty
    assert(AsOf.joinKeylessBucketed(left.filter(col("t") < 0), right,
      "t", "rt").count() === 0)
  }

  test("broadcast index is memoized per executor: one build across an " +
      "8-partition probe, zero on re-execution") {
    import graft.plans.BroadcastAsOfJoinExec
    val left = spark.range(0, 1000, 1, 8)
      .select((col("id") % 10).as("k"), (col("id") * 3).as("t"))
    val right = spark.range(0, 50)
      .select((col("id") % 10).as("rk"), (col("id") * 7).as("rt"))
    val joined = AsOf.join(left, broadcast(right),
      Seq("k"), Seq("rk"), "t", "rt")
    val before = BroadcastAsOfJoinExec.buildCount.get()
    assert(joined.count() === 1000L)
    assert(collectWithSubqueries(joined.queryExecution.executedPlan) {
      case e: graft.plans.BroadcastAsOfJoinExec => e }.nonEmpty)
    val afterFirst = BroadcastAsOfJoinExec.buildCount.get()
    assert(afterFirst - before === 1L,
      s"expected ONE index build for 8 probe tasks on one executor, " +
        s"got ${afterFirst - before}")
    // a fresh action re-plans and re-broadcasts (new broadcast id), so
    // it builds exactly once more — the memo's scope is one broadcast
    // variable: all tasks of all stages consuming it share one build
    assert(joined.count() === 1000L)
    assert(BroadcastAsOfJoinExec.buildCount.get() === afterFirst + 1,
      "a new broadcast builds once, never per task")
  }

  test("self-registers its strategy in a session without GraftExtensions") {
    withPlainSession { plain =>
      val a = plain.range(0, 10).select(col("id").as("k"), (col("id") * 10).as("t"))
      val b = plain.range(0, 5).select(col("id").as("rk"), (col("id") * 10 - 5).as("rt"))
      val out = AsOf.join(a, b, Seq("k"), Seq("rk"), "t", "rt")
      // rk=k has rt=10k-5 <= t=10k for k in 0..4; keys 5..9 have no right row
      val rows = out.collect()
      assert(rows.length == 10 && rows.count(!_.isNullAt(2)) == 5)
    }
  }
}
