package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOf, AsOfForward, AsOfJoinExec, AsOfSqlRewrite,
  BroadcastAsOfJoinExec}

/** The SQL entry point for the native as-of join (VERDICT r10 #1):
  * `spark.sql` accepts DuckDB's `ASOF [LEFT] JOIN` syntax
  * ([[graft.plans.GraftSqlParser]] + [[graft.plans.AsOfSqlResolution]])
  * and must plan the SAME physical execs as [[AsOf.join]] — plus the
  * rewrite's token discipline (strings/comments/identifiers are never
  * rewritten) and every loud-error mode (no ON, USING, unsupported join
  * kinds, non-as-of shapes — a marker must never silently degrade to a
  * plain left join). */
class AsOfSqlSpec extends AnyFunSuite with SharedSession with AdaptiveSparkPlanHelper {

  private def mkViews(): Unit = {
    import scala.jdk.CollectionConverters._
    val lschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lp", org.apache.spark.sql.types.StringType)))
    val rschema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rk", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rt", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rp", org.apache.spark.sql.types.StringType)))
    val l = Seq((1L, 10L, "l-a"), (1L, 20L, "l-b"), (1L, 5L, "l-early"),
      (2L, 10L, "l-c"), (3L, 10L, "l-nokey"))
      .map { case (a, b, c) => org.apache.spark.sql.Row(a, b, c) }
    val r = Seq((1L, 7L, "r-7"), (1L, 10L, "r-10"), (1L, 15L, "r-15"),
      (2L, 11L, "r-after"))
      .map { case (a, b, c) => org.apache.spark.sql.Row(a, b, c) }
    spark.createDataFrame(l.asJava, lschema).createOrReplaceTempView("lv")
    spark.createDataFrame(r.asJava, rschema).createOrReplaceTempView("rv")
  }

  private def asofExecs(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (collectWithSubqueries(plan) { case e: AsOfJoinExec => e }.size,
     collectWithSubqueries(plan) { case e: BroadcastAsOfJoinExec => e }.size)
  }

  // ---------- rewrite: token discipline ----------

  test("rewrite leaves non-ASOF text untouched, including strings/comments/identifiers") {
    assert(AsOfSqlRewrite.rewrite("SELECT * FROM a LEFT JOIN b ON a.x = b.x").isEmpty)
    assert(AsOfSqlRewrite.rewrite("SELECT 'asof join me' AS s FROM t").isEmpty)
    assert(AsOfSqlRewrite.rewrite(
      "SELECT x FROM t -- asof join in a comment\nWHERE x > 0").isEmpty)
    assert(AsOfSqlRewrite.rewrite(
      "SELECT x /* asof /* nested */ join */ FROM t").isEmpty)
    assert(AsOfSqlRewrite.rewrite("SELECT `asof join` FROM t").isEmpty)
    assert(AsOfSqlRewrite.rewrite("SELECT a.asof FROM t a").isEmpty)
  }

  test("rewrite forms: ASOF JOIN / ASOF LEFT JOIN / ASOF LEFT OUTER JOIN") {
    val inner = AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF JOIN b ON b.t <= a.t").get
    assert(inner.contains("LEFT JOIN b ON graft_asof_marker(false) AND"))
    val outer = AsOfSqlRewrite.rewrite(
      "SELECT * FROM a ASOF LEFT JOIN b ON b.t <= a.t").get
    assert(outer.contains("LEFT JOIN b ON graft_asof_marker(true) AND"))
    assert(!outer.toLowerCase.contains("asof left"))
    val outer2 = AsOfSqlRewrite.rewrite(
      "SELECT * FROM a ASOF LEFT OUTER JOIN b ON b.t <= a.t").get
    assert(outer2.contains("LEFT OUTER JOIN b ON graft_asof_marker(true) AND"))
    // a subquery rhs with its own parenthesized ON is skipped by the
    // depth tracking; the marker lands on the OUTER join's ON
    val sub = AsOfSqlRewrite.rewrite(
      "SELECT * FROM a ASOF LEFT JOIN (SELECT * FROM x JOIN y ON x.i = y.i) s " +
        "ON s.t <= a.t").get
    assert(sub.contains("ON x.i = y.i) s ON graft_asof_marker(true) AND "))
    // an ASOF join NESTED in the parenthesized right side (between the
    // outer JOIN and its ON) must be rewritten too — left raw, the stock
    // parser would read the inner `ASOF` as a table alias and run a
    // plain inner join with silently different semantics
    val nested = AsOfSqlRewrite.rewrite(
      "SELECT * FROM a ASOF JOIN " +
        "(SELECT * FROM x ASOF LEFT JOIN y ON y.t <= x.t) s ON s.t <= a.t").get
    assert("graft_asof_marker".r.findAllMatchIn(nested).length === 2,
      s"both ASOF joins must carry a marker: $nested")
    assert(!nested.split("[^A-Za-z_]+").exists(_.equalsIgnoreCase("asof")),
      s"no raw ASOF token may survive the rewrite: $nested")
  }

  test("nested ASOF in a subquery right side executes: two native execs, == composed API") {
    mkViews()
    val sql = spark.sql(
      "SELECT l.lp, s.rp FROM lv l ASOF LEFT JOIN " +
        "(SELECT a.k AS sk, a.t AS st, r.rp AS rp FROM lv a " +
        " ASOF JOIN rv r ON a.k = r.rk AND r.rt <= a.t) s " +
        "ON l.k = s.sk AND s.st <= l.t ORDER BY l.lp, s.rp")
    val (m, b) = asofExecs(sql)
    assert(m + b === 2, s"expected two native as-of execs, got merge=$m bcast=$b")
    val innerApi = AsOf.join(spark.table("lv").as("a"), spark.table("rv"),
        Seq("k"), Seq("rk"), "t", "rt")
      .filter(col("rt").isNotNull) // inner ASOF JOIN = matched rows only
      .select(col("k").as("sk"), col("t").as("st"), col("rp"))
    val api = AsOf.join(spark.table("lv"), innerApi, Seq("k"), Seq("sk"), "t", "st")
      .select(col("lp"), col("rp")).orderBy(col("lp"), col("rp"))
    assert(sql.collect().toSeq.map(_.toString) ===
      api.collect().toSeq.map(_.toString))
  }

  test("r12: left-deep CHAINED ASOF joins in one FROM clause — two native " +
      "execs, == composed API; nested-right double-ON spelling stays loud") {
    mkViews()
    // the ordinary SQL chain: no parentheses anywhere
    val sql = spark.sql(
      "SELECT l.lp, r1.rp AS p1, r2.rp AS p2 FROM lv l " +
        "ASOF LEFT JOIN rv r1 ON l.k = r1.rk AND r1.rt <= l.t " +
        "ASOF LEFT JOIN rv r2 ON l.k = r2.rk AND r2.rt < l.t " +
        "ORDER BY l.lp, p1, p2")
    val (m, b) = asofExecs(sql)
    assert(m + b === 2, s"expected two native as-of execs, got merge=$m bcast=$b")
    val step1 = AsOf.join(spark.table("lv"), spark.table("rv").as("r1"),
        Seq("k"), Seq("rk"), "t", "rt")
      .select(col("lp"), col("k"), col("t"), col("rp").as("p1"))
    val api = AsOf.join(step1, spark.table("rv").as("r2"),
        Seq("k"), Seq("rk"), "t", "rt", tolerance = None,
        direction = graft.plans.AsOfBackward, broadcastRight = None,
        allowExactMatches = false)
      .select(col("lp"), col("p1"), col("rp").as("p2"))
      .orderBy(col("lp"), col("p1"), col("p2"))
    assert(sql.collect().toSeq.map(_.toString) ===
      api.collect().toSeq.map(_.toString))
    // the nested-right spelling (two consecutive ONs) cannot place
    // markers — it must refuse loudly, never run as a plain join. In
    // practice Spark's own grammar already rejects double-ON join
    // nesting (PARSE_SYNTAX_ERROR); the AsOfSqlResolution two-marker
    // guard is the defense-in-depth behind it
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM lv l ASOF JOIN rv r1 ASOF JOIN rv r2 " +
          "ON r2.rk = r1.rk AND r2.rt <= r1.rt " +
          "ON l.k = r1.rk AND r1.rt <= l.t").collect()
    }
    assert(e.isInstanceOf[ParseException] ||
      e.isInstanceOf[org.apache.spark.sql.AnalysisException],
      s"nested-right chain did not fail loudly: $e")
  }

  test("rewrite errors: missing ON, USING, unsupported join kinds") {
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF JOIN b WHERE a.x = 1")
    }
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF JOIN b USING (k)")
    }
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF RIGHT JOIN b ON b.t <= a.t")
    }
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF FULL OUTER JOIN b ON b.t <= a.t")
    }
    // these would otherwise slip through every branch and let `ASOF`
    // parse as a table alias — they must refuse loudly instead
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF LEFT SEMI JOIN b ON b.t <= a.t")
    }
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF LEFT ANTI JOIN b ON b.t <= a.t")
    }
    intercept[ParseException] {
      AsOfSqlRewrite.rewrite("SELECT * FROM a ASOF NATURAL JOIN b")
    }
  }

  // ---------- SQL == DataFrame API, same physical operator ----------

  test("ASOF LEFT JOIN == AsOf.join, and plans a native as-of exec") {
    mkViews()
    val sql = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t ORDER BY l.lp")
    val api = AsOf.join(spark.table("lv"), spark.table("rv"),
        Seq("k"), Seq("rk"), "t", "rt")
      .select(col("lp"), col("rp")).orderBy(col("lp"))
    assert(sql.collect().toSeq.map(_.toString) ===
      api.collect().toSeq.map(_.toString))
    val (m, b) = asofExecs(sql)
    assert(m + b === 1, s"expected exactly one native as-of exec, got merge=$m bcast=$b")
    // semantic spot-check: inclusive tie, latest-<=, unmatched key nulls
    val got = sql.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === Map("l-a" -> "r-10", "l-b" -> "r-15", "l-early" -> null,
      "l-c" -> null, "l-nokey" -> null))
  }

  test("physical selection from SQL: small right broadcasts; threshold -1 forces the merge") {
    mkViews()
    val q = "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
      "ON l.k = r.rk AND r.rt <= l.t"
    val (m1, b1) = asofExecs(spark.sql(q))
    assert(b1 === 1 && m1 === 0, "tiny right side must take the broadcast exec")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (m2, b2) = asofExecs(spark.sql(q))
      assert(m2 === 1 && b2 === 0, "threshold -1 must take the co-partitioned merge")
    }
  }

  test("inner ASOF JOIN drops unmatched probes; strict and forward inequalities map") {
    mkViews()
    val inner = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(inner === Seq("l-a" -> "r-10", "l-b" -> "r-15"))
    // strict backward: the t=10 tie must NOT match (r-7 wins for l-a)
    val strict = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt < l.t ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(strict("l-a") === "r-7")
    val strictApi = AsOf.join(spark.table("lv"), spark.table("rv"),
        Seq("k"), Seq("rk"), "t", "rt", tolerance = None,
        allowExactMatches = false)
      .select(col("lp"), col("rp")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(strict === strictApi)
    // forward: earliest >= — l-c now matches r-after
    val fwd = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt >= l.t ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val fwdApi = AsOf.join(spark.table("lv"), spark.table("rv"),
        Seq("k"), Seq("rk"), "t", "rt", tolerance = None,
        direction = AsOfForward)
      .select(col("lp"), col("rp")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(fwd === fwdApi && fwd("l-c") === "r-after")
    // flipped operand order reads identically (lt >= rt == rt <= lt)
    val flipped = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND l.t >= r.rt ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(flipped("l-a") === "r-10" && flipped("l-b") === "r-15")
  }

  test("shape errors are loud: OR-rooted ON, two inequalities, no time bound, no key") {
    mkViews()
    // OR above the conjunction hides the marker from splitting — the
    // check rule must reject, never run as a plain left join
    val or = intercept[AnalysisException] {
      spark.sql("SELECT * FROM lv l ASOF LEFT JOIN rv r " +
        "ON (l.k = r.rk AND r.rt <= l.t) OR l.k = 99").collect()
    }
    assert(or.getMessage.contains("ASOF"))
    // two inequalities that do NOT form a tolerance band stay loud
    val two = intercept[AnalysisException] {
      spark.sql("SELECT * FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t AND r.rt >= l.t").collect()
    }
    assert(two.getMessage.toLowerCase.contains("tolerance band"))
    // a STRICT band is not pandas tolerance: also loud
    val strictBand = intercept[AnalysisException] {
      spark.sql("SELECT * FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t AND r.rt > l.t - 5").collect()
    }
    assert(strictBand.getMessage.toLowerCase.contains("tolerance band"))
    val notime = intercept[AnalysisException] {
      spark.sql("SELECT * FROM lv l ASOF LEFT JOIN rv r ON l.k = r.rk").collect()
    }
    assert(notime.getMessage.toLowerCase.contains("time inequality"))
  }

  test("join-strategy hints steer the ASOF physical path: BROADCAST(r) beats a " +
      "disabled threshold, MERGE(r) beats a tiny-side estimate") {
    mkViews()
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val hinted = spark.sql(
        "SELECT /*+ BROADCAST(r) */ l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
          "ON l.k = r.rk AND r.rt <= l.t")
      val (m, b) = asofExecs(hinted)
      assert(b === 1 && m === 0, "BROADCAST(r) hint must force the broadcast exec")
    }
    val merged = spark.sql(
      "SELECT /*+ MERGE(r) */ l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t")
    val (m2, b2) = asofExecs(merged)
    assert(m2 === 1 && b2 === 0,
      "MERGE(r) hint must force the co-partitioned merge despite the tiny side")
  }

  test("tolerance as the inclusive SQL band: integral offsets and interval " +
      "arithmetic both map to the operator's tolerance") {
    mkViews()
    // backward band, integral: rv has rt 7/10/15 for k=1; probe l-b t=20
    // takes r-15 unbanded but NOTHING within 4 units
    val banded = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t AND r.rt >= l.t - 4 ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(banded("l-a") === "r-10" && banded("l-b") === null)
    val apiTol = AsOf.join(spark.table("lv"), spark.table("rv"),
        Seq("k"), Seq("rk"), "t", "rt", tolerance = Some(4L))
      .select(col("lp"), col("rp")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(banded === apiTol)
    // flipped operand order reads identically
    val flipped = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt <= l.t AND l.t - 4 <= r.rt ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(flipped === apiTol)
    // forward band mirrors (+ offset on the left time)
    val fwd = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r " +
        "ON l.k = r.rk AND r.rt >= l.t AND r.rt <= l.t + 2 ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val fwdApi = AsOf.join(spark.table("lv"), spark.table("rv"),
        Seq("k"), Seq("rk"), "t", "rt", tolerance = Some(2L),
        direction = AsOfForward)
      .select(col("lp"), col("rp")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(fwd === fwdApi)
    // timestamp + INTERVAL arithmetic (DatetimeSub/TimestampAddInterval
    // shapes): 1-minute band over second-spaced timestamps
    spark.range(0, 4)
      .select(col("id").as("k"), (col("id") * 90).cast("timestamp").as("ts"),
        col("id").as("lid"))
      .createOrReplaceTempView("tlv")
    spark.range(0, 4)
      .select(col("id").as("rk"), ((col("id") * 90) - 30).cast("timestamp").as("rts"),
        col("id").as("rid"))
      .createOrReplaceTempView("trv")
    val ivl = spark.sql(
      "SELECT l.lid, r.rid FROM tlv l ASOF LEFT JOIN trv r " +
        "ON l.k = r.rk AND r.rts <= l.ts AND r.rts >= l.ts - INTERVAL 1 MINUTE " +
        "ORDER BY l.lid")
      .collect().map(_.toString).toSeq
    val ivlApi = AsOf.join(spark.table("tlv"), spark.table("trv"),
        Seq("k"), Seq("rk"), "ts", "rts", tolerance = Some(60L * 1000000L))
      .select(col("lid"), col("rid")).orderBy(col("lid"))
      .collect().map(_.toString).toSeq
    assert(ivl === ivlApi && ivl.nonEmpty)
  }

  test("keyless ASOF from SQL: inequality-only ON matches the global history") {
    mkViews()
    // rv times: 7, 10, 11, 15 globally; backward keyless
    val got = spark.sql(
      "SELECT l.lp, r.rp FROM lv l ASOF LEFT JOIN rv r ON r.rt <= l.t " +
        "ORDER BY l.lp")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === Map("l-a" -> "r-10", "l-b" -> "r-15", "l-early" -> null,
      "l-c" -> "r-10", "l-nokey" -> "r-10"))
    val api = graft.plans.AsOf.join(spark.table("lv"), spark.table("rv"),
        Seq(), Seq(), "t", "rt")
      .select(col("lp"), col("rp")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === api)
  }

  test("AsOfSql self-installs in a session without GraftExtensions") {
    withPlainSession { plain =>
      plain.range(0, 10).select(col("id").as("k"), (col("id") * 10).as("t"))
        .createOrReplaceTempView("pa")
      plain.range(0, 5).select(col("id").as("rk"), (col("id") * 10 - 5).as("rt"))
        .createOrReplaceTempView("pb")
      val out = graft.plans.AsOfSql(plain,
        "SELECT a.k, a.t, b.rt FROM pa a ASOF LEFT JOIN pb b " +
          "ON a.k = b.rk AND b.rt <= a.t")
      val rows = out.collect()
      assert(rows.length == 10 && rows.count(!_.isNullAt(2)) == 5)
      val (m, b) = {
        val plan = out.queryExecution.executedPlan
        (collectWithSubqueries(plan) { case e: AsOfJoinExec => e }.size,
         collectWithSubqueries(plan) { case e: BroadcastAsOfJoinExec => e }.size)
      }
      assert(m + b === 1, "plain session must still plan the native exec")
      // the loud-error discipline holds without the injected check rule
      intercept[AnalysisException] {
        graft.plans.AsOfSql(plain,
          "SELECT * FROM pa a ASOF LEFT JOIN pb b " +
            "ON (a.k = b.rk AND b.rt <= a.t) OR a.k = 99").collect()
      }
    }
  }

  test("scalacheck: rewrite marks EXACTLY the ASOF joins of arbitrary join chains " +
      "(decoy strings/comments/identifiers untouched) and is idempotent") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val decoy = Gen.oneOf(
      "'asof join me'", "\"asof left join\"", "`asof join`",
      "/* asof join */ 1", "1 -- asof join\n")
    val joinKind = Gen.oneOf(0, 1, 2) // plain, ASOF JOIN, ASOF LEFT JOIN
    val chain = for {
      n <- Gen.choose(0, 4)
      kinds <- Gen.listOfN(n, joinKind)
      d <- decoy
    } yield {
      val joins = kinds.zipWithIndex.map { case (k, i) =>
        val kw = k match {
          case 0 => "JOIN"
          case 1 => "ASOF JOIN"
          case 2 => "ASOF LEFT JOIN"
        }
        s"$kw t$i x$i ON x$i.rt <= a.t" +
          (if (k == 0) s" AND x$i.k = a.k" else s" AND x$i.k = a.k")
      }.mkString(" ")
      (s"SELECT $d, a.x FROM base a $joins WHERE a.x > 0",
        kinds.count(_ != 0))
    }
    val prop = Prop.forAll(chain) { case (sql, nAsof) =>
      AsOfSqlRewrite.rewrite(sql) match {
        case None => nAsof == 0
        case Some(out) =>
          val markers = "graft_asof_marker\\(".r.findAllIn(out).length
          // idempotent: the rewritten text has no ASOF-join sequence left
          markers == nAsof && nAsof > 0 && AsOfSqlRewrite.rewrite(out).isEmpty
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200)
        .withInitialSeed(Seed(20260815L)), prop)
    assert(res.passed, s"rewrite property failed: ${res.status}")
  }

  test("scalacheck: SQL ASOF == AsOf.join on random corpora across all four " +
      "inequality forms") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    import graft.plans.{AsOfBackward, AsOfForward}
    val rows = for {
      n <- Gen.choose(0, 25)
      m <- Gen.choose(0, 20)
      l <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 30L)))
      r <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 30L)))
      op <- Gen.oneOf("<=", "<", ">=", ">")
    } yield (l, r.distinct, op) // unique (rk, rt): ties would make the
                                // matched PAYLOAD row ambiguous
    val prop = Prop.forAll(rows) { case (l, r, op) =>
      import scala.jdk.CollectionConverters._
      def mk(data: Seq[(Long, Long)], kc: String, tc: String, pc: String) = {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(kc, org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(tc, org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(pc, org.apache.spark.sql.types.LongType)))
        spark.createDataFrame(data.zipWithIndex.map { case ((k, t), i) =>
          org.apache.spark.sql.Row(k, t, i.toLong) }.asJava, schema)
      }
      val lv = mk(l, "k", "t", "lid")
      val rv = mk(r, "rk", "rt", "rid")
      lv.createOrReplaceTempView("pl")
      rv.createOrReplaceTempView("pr")
      val sql = spark.sql(
        s"SELECT l.lid, r.rid FROM pl l ASOF LEFT JOIN pr r " +
          s"ON l.k = r.rk AND r.rt $op l.t")
        .collect().map(_.toString).sorted.toSeq
      val (dir, exact) = op match {
        case "<=" => (AsOfBackward, true)
        case "<"  => (AsOfBackward, false)
        case ">=" => (AsOfForward, true)
        case ">"  => (AsOfForward, false)
      }
      val api = graft.plans.AsOf.join(lv, rv, Seq("k"), Seq("rk"), "t", "rt",
          tolerance = None, direction = dir, broadcastRight = Some(false),
          allowExactMatches = exact)
        .select(col("lid"), col("rid"))
        .collect().map(_.toString).sorted.toSeq
      sql == api
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15)
        .withInitialSeed(Seed(20260815L)), prop)
    assert(res.passed, s"SQL/API asof divergence: ${res.status}")
  }

  test("graded rows: asof_sql text == asof_native result; inner is the matched subset") {
    val d = "/root/testdata/sf0.001"
    val sqlRows = graft.rel.RelQueries.queries("asof_sql")(spark, d)
      .collect().map(_.toString).toSeq
    val nativeRows = graft.rel.RelQueries.queries("asof_native")(spark, d)
      .collect().map(_.toString).toSeq
    assert(sqlRows === nativeRows)
    val innerRows = graft.rel.RelQueries.queries("asof_sql_inner")(spark, d)
      .collect().map(_.toString).toSeq
    assert(innerRows === nativeRows.filterNot(_.contains("null")) &&
      innerRows.nonEmpty && innerRows.length < nativeRows.length)
  }
}
