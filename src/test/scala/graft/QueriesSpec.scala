package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Multimodal

/** Invariant checks of the graded query catalog on sf0.001 (the DuckDB
  * hash-compare itself is driver-side; these assert semantic invariants
  * and keep every query executable). */
class QueriesSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("graph_pagerank: 3 exact-integer power iterations — every supplier " +
       "rank sits above the teleport floor, authority is not raw degree, " +
       "and reruns are bit-identical") {
    val fn = graft.rel.RelQueries.queries("graph_pagerank")
    val got = fn(spark, sf).collect()
    val nSup = graft.Tables.supplier(spark, sf).count()
    assert(got.length === math.min(20L, nSup).toInt)
    val ranks = got.map(_.getLong(1)).toSeq
    // the symmetric purchase graph leaves no supplier without inflow
    assert(ranks.forall(_ > 150000000L))
    assert(ranks === ranks.sortBy(-_), "ordered by rank desc")
    // supplier keys are real suppliers
    val sup = graft.Tables.supplier(spark, sf)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(0)).forall(sup.contains))
    // authority ≠ raw weighted in-degree: the damped propagation must
    // change at least one relative order among the ranked suppliers
    // (2c prefix-encoding inverted to compare on the same key space)
    import org.apache.spark.sql.functions._
    val byDegree = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("l_suppkey"))
      .collect().map(_.getLong(0)).take(got.length).toSeq
    assert(got.map(_.getLong(0)).toSeq !== byDegree,
      "pagerank collapsed to the raw degree ranking — iterations inert?")
    // determinism: exact fixed-point arithmetic reruns bit-identically
    assert(fn(spark, sf).collect().map(_.toString).toSeq ===
      got.map(_.toString).toSeq)
  }

  test("graph_trustrank: trust reaches suppliers only through seed-connected " +
       "paths and genuinely reorders the authority ranking") {
    import org.apache.spark.sql.functions._
    val trust = graft.rel.RelQueries.queries("graph_trustrank")(spark, sf).collect()
    val page = graft.rel.RelQueries.queries("graph_pagerank")(spark, sf).collect()
    assert(trust.nonEmpty && trust.length === page.length)
    // the seed bias bites: the two rankings disagree somewhere
    assert(trust.map(_.getLong(0)).toSeq !== page.map(_.getLong(0)).toSeq,
      "trustrank collapsed to plain pagerank — seeds inert?")
    // trust is seed-derived: with NO seeds the whole frame is zero, so
    // every positive rank witnesses a seed-connected path
    val seeds = graft.Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(seeds > 0, "corpus has no BUILDING customers — pick another seed segment")
    assert(trust.exists(_.getLong(1) > 0L), "no trust propagated at all")
    // every supplier ranked by trust is also a real supplier
    val sup = graft.Tables.supplier(spark, sf)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    assert(trust.map(_.getLong(0)).forall(sup.contains))
  }

  test("graph_converged: the delta sequence is positive, strictly shrinking " +
       "(damped contraction), and reads the same memoized iterations as " +
       "graph_pagerank") {
    val rows = graft.rel.RelQueries.queries("graph_converged")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val deltas = rows.map(_.getLong(1)).toSeq
    assert(deltas.forall(_ > 0L), s"an iteration changed nothing: $deltas")
    assert(deltas === deltas.sortBy(-_) && deltas.distinct === deltas,
      s"damped power iteration must contract strictly: $deltas")
    // the graded boolean mirrors the contraction: NULL, then true, true
    assert(rows(0).isNullAt(2) && rows(1).getBoolean(2) && rows(2).getBoolean(2))
  }

  test("graph_pagerank_dyn: the halt iteration is one constant inside " +
       "[2, cap], consistent with the committed rule over the audited " +
       "deltas, and the run is deterministic") {
    val got = graft.rel.RelQueries.queries("graph_pagerank_dyn")(spark, sf)
      .collect()
    assert(got.nonEmpty)
    val halts = got.map(_.getLong(2)).distinct.toSeq
    assert(halts.length === 1, s"halt must be a single constant: $halts")
    val halt = halts.head
    assert(halt >= 2L && halt <= 6L, s"halt $halt outside [2, 6]")
    // cross-check against graph_converged's audited deltas (d1..d3, the
    // shared memoized iterations): if the rule (10*d_i < 6*d_1) fires
    // within the audited range the engine must have halted exactly
    // there; if it doesn't, the engine must have kept iterating
    val conv = graft.rel.RelQueries.queries("graph_converged")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (2 to 3).find(i => 10L * conv(i.toLong) < 6L * conv(1L)) match {
      case Some(i) => assert(halt === i.toLong,
        s"rule fired at audited iteration $i but engine halted at $halt")
      case None => assert(halt > 3L,
        s"engine halted at $halt but the rule had not fired by iteration 3")
    }
    // a halt at 3 must reproduce the fixed-3 graded ranking verbatim
    if (halt == 3L)
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        graft.rel.RelQueries.queries("graph_pagerank")(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(graft.rel.RelQueries.queries("graph_pagerank_dyn")(spark, sf)
      .collect().map(_.toString).toSeq === got.map(_.toString).toSeq)
  }

  test("r12: ts_prune_audit — replicated in plain Scala: the reference-point " +
       "lower bound never exceeds the true L1 distance (pruning at tau is " +
       "recall-lossless) and the graded counts match exactly") {
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.events(spark, sf)
      .select(col("user_id"), hour(col("ts")).as("h"),
        floor(col("value") * 100).cast("long").as("v"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val series: Map[Long, Array[Long]] = rows.groupBy(_._1).map { case (u, rs) =>
      val a = Array.fill(24)(0L)
      rs.foreach { case (_, h, v) => a(h) += v }
      u -> a
    }
    def l1(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    val users = series.keys.toSeq.sorted
    val refIds = users.filter(_ >= 10L).take(3)
    assert(refIds.length === 3, "fixture needs 3 reference users")
    val vd: Map[Long, Seq[Long]] =
      users.map(u => u -> refIds.map(r => l1(series(u), series(r)))).toMap
    val got = graft.rel.RelQueries.queries("ts_prune_audit")(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq === (0L until 5L))
    for (row <- got) {
      val qid = row.getLong(0)
      val cands = users.filter(_ != qid)
      val dists = cands.map(u => u -> l1(series(u), series(qid)))
      // the triangle-inequality invariant behind recall-lossless pruning
      dists.foreach { case (u, d) =>
        val lb = refIds.indices.map(i => math.abs(vd(u)(i) - vd(qid)(i))).max
        assert(lb <= d, s"bound $lb exceeds true distance $d for ($qid, $u)")
      }
      val tau = dists.map(_._2).sorted.apply(2)
      val pruned = dists.count { case (u, _) =>
        refIds.indices.map(i => math.abs(vd(u)(i) - vd(qid)(i))).max > tau
      }
      assert(row.getLong(1) === tau && row.getLong(2) === cands.length.toLong &&
        row.getLong(3) === pruned.toLong,
        s"audit row mismatch for query $qid")
    }
  }

  test("r12: RangeJoin.pointInInterval — matches the naive theta join " +
       "row-for-row, boundaries are [lo, hi) sub-second-exact, intervals " +
       "spanning many bins match once, and the plan is nested-loop-free") {
    import org.apache.spark.sql.functions._
    val spark2 = spark; import spark2.implicits._
    // synthetic boundary fixture: one interval [10:00, 11:00) over 30-min
    // bins (spans 3 bin ids), points at lo (in), hi (out), hi - 1ms (in),
    // mid-bin (in), far outside (out)
    val iv = Seq(("w1", "2024-01-01 10:00:00", "2024-01-01 11:00:00"))
      .toDF("w", "lo_s", "hi_s")
      .select(col("w"), col("lo_s").cast("timestamp").as("lo"),
        col("hi_s").cast("timestamp").as("hi"))
    val pts = Seq(
      ("at_lo", "2024-01-01 10:00:00"), ("at_hi", "2024-01-01 11:00:00"),
      ("pre_hi", "2024-01-01 10:59:59.999"), ("mid", "2024-01-01 10:30:00"),
      ("far", "2024-01-02 10:30:00")).toDF("p", "ts_s")
      .select(col("p"), col("ts_s").cast("timestamp").as("pts"))
    val got = graft.rel.RangeJoin
      .pointInInterval(pts, "pts", iv, "lo", "hi", binSeconds = 1800L)
      .select(col("p")).collect().map(_.getString(0)).sorted.toSeq
    assert(got === Seq("at_lo", "mid", "pre_hi"))
    // corpus-scale equivalence: binned == naive theta join, exactly
    val ev = graft.Tables.events(spark, sf)
    val wins = ev.select(date_trunc("DAY", col("ts")).as("day")).distinct()
      .select(col("day"), (col("day") + expr("INTERVAL 10 HOURS")).as("lo"),
        (col("day") + expr("INTERVAL 14 HOURS")).as("hi"))
    val binned = graft.rel.RangeJoin
      .pointInInterval(ev, "ts", wins, "lo", "hi", binSeconds = 3600L)
      .select(col("event_id"), col("day"))
    val naive = ev.join(wins, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select(col("event_id"), col("day"))
    assert(binned.collect().map(_.toString).sorted.toSeq ===
      naive.collect().map(_.toString).sorted.toSeq)
    // the whole point: the rewrite must plan as an equi join on the bin
    val df = graft.rel.RelQueries.queries("range_join_binned")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"binned range join fell back to a nested loop:\n$plan")
    // band form, boundary-ADVERSARIAL property: values on and one ulp
    // around every multiple of eps (the razor edges where FP division
    // rounding shifts a floor) — binned must equal the naive band join
    // pair-for-pair, whatever the doubles decide
    val edge = (-3 to 60).flatMap { k =>
      val v = k * 0.05d
      Seq(v, math.nextAfter(v, Double.NegativeInfinity),
        math.nextAfter(v, Double.PositiveInfinity), v + 0.025d)
    }.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val lv = edge.toDF("lid", "lv")
    val rv = edge.map { case (i, v) => (i, v) }.toDF("rid", "rv")
    val bandGot = graft.rel.RangeJoin.bandJoin(lv, "lv", rv, "rv", eps = 0.05d)
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val bandWant = lv.join(rv, abs(col("lv") - col("rv")) <= 0.05d)
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(bandGot === bandWant,
      s"binned band join diverges from naive at band edges: " +
        s"${bandGot.diff(bandWant)} extra, ${bandWant.diff(bandGot)} missing")
    val pv = ev.filter(col("event_type") === "purchase" && col("user_id") < 10)
      .select(col("event_id").as("pid"), col("value").as("pv"))
    val cv = ev.filter(col("event_type") === "click")
      .select(col("value").as("cv"))
    val bandBinned = graft.rel.RangeJoin.bandJoin(pv, "pv", cv, "cv", 0.05d)
      .select(col("pid"), col("cv"))
    val bandNaive = pv.join(cv, abs(col("pv") - col("cv")) <= 0.05d)
      .select(col("pid"), col("cv"))
    assert(bandBinned.collect().map(_.toString).sorted.toSeq ===
      bandNaive.collect().map(_.toString).sorted.toSeq)
    val bd = graft.rel.RelQueries.queries("band_join_binned")(spark, sf)
    bd.collect()
    val bp = bd.queryExecution.executedPlan.toString
    assert(!bp.contains("BroadcastNestedLoopJoin") &&
      !bp.contains("CartesianProduct"),
      s"binned band join fell back to a nested loop:\n$bp")
    // interval-overlap form: partial overlap, containment, [lo, hi)
    // touch-at-boundary excluded, disjoint excluded — and a multi-bin
    // overlap matched EXACTLY once (the canonical-bin rule)
    val ivA = Seq(("p", "2024-01-01 10:00:00", "2024-01-01 12:00:00"))
      .toDF("a", "alo_s", "ahi_s")
      .select(col("a"), col("alo_s").cast("timestamp").as("alo"),
        col("ahi_s").cast("timestamp").as("ahi"))
    val ivB = Seq(
      ("partial", "2024-01-01 11:00:00", "2024-01-01 13:00:00"),
      ("contained", "2024-01-01 10:30:00", "2024-01-01 10:45:00"),
      ("touching", "2024-01-01 12:00:00", "2024-01-01 14:00:00"),
      ("disjoint", "2024-01-02 10:00:00", "2024-01-02 12:00:00"))
      .toDF("b", "blo_s", "bhi_s")
      .select(col("b"), col("blo_s").cast("timestamp").as("blo"),
        col("bhi_s").cast("timestamp").as("bhi"))
    val ovGot = graft.rel.RangeJoin
      .intervalOverlap(ivA, "alo", "ahi", ivB, "blo", "bhi", binSeconds = 1800L)
      .select(col("b")).collect().map(_.getString(0)).sorted.toSeq
    assert(ovGot === Seq("contained", "partial"),
      s"overlap boundary semantics wrong (or a multi-bin dup): $ovGot")
    // corpus scale: exactly-once pre-aggregation and naive equivalence
    val spans = ev.filter(col("user_id") < 20)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .localCheckpoint(true)
    val sa = spans.select(col("user_id").as("ua"), col("day").as("da"),
      col("lo").as("alo"), col("hi").as("ahi"))
    val sb = spans.select(col("user_id").as("ub"), col("day").as("db"),
      col("lo").as("blo"), col("hi").as("bhi"))
    val ovBinned = graft.rel.RangeJoin
      .intervalOverlap(sa, "alo", "ahi", sb, "blo", "bhi", 3600L)
      .select(col("ua"), col("da"), col("ub"), col("db"))
    val binRows = ovBinned.collect().map(_.toString).sorted.toSeq
    assert(binRows === binRows.distinct,
      "canonical-bin rule failed: an overlapping pair matched twice")
    val ovNaive = sa.join(sb, col("alo") < col("bhi") && col("blo") < col("ahi"))
      .select(col("ua"), col("da"), col("ub"), col("db"))
    assert(binRows === ovNaive.collect().map(_.toString).sorted.toSeq)
    val od = graft.rel.RelQueries.queries("overlap_join_binned")(spark, sf)
    od.collect()
    val op = od.queryExecution.executedPlan.toString
    assert(!op.contains("BroadcastNestedLoopJoin") &&
      !op.contains("CartesianProduct"),
      s"binned overlap join fell back to a nested loop:\n$op")
  }

  test("r12: graphCache revalidates the input-table fingerprint — a dir " +
       "rewritten in-session rebuilds the prep instead of serving stale frames") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_graph_fresh").toString
    for (t <- Seq("lineitem", "orders"))
      spark.read.parquet(s"$sf/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    val fn = graft.rel.RelQueries.queries("graph_pagerank")
    val before = fn(spark, tmp).collect().map(_.toString).toSeq
    assert(before.nonEmpty)
    Thread.sleep(1100) // distinct mtime even on coarse filesystems
    // rewrite the purchase facts under the SAME path: half the orders gone
    spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val after = fn(spark, tmp).collect().map(_.toString).toSeq
    assert(after !== before,
      "graphCache served the pre-rewrite ranking — fingerprint revalidation inert")
  }

  test("every declared query executes and oracle keys are a subset") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    // zero gray rows, LOCKED: every graded query carries a DuckDB twin —
    // a new query without an oracle would grade rows-only and regress
    // the r9 "every row hash-checked" state
    qs.keys.foreach(k =>
      assert(SparkEntry.oracleSql.contains(k), s"query without oracle: $k"))
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // must execute
    }
  }

  test("cdc take(n) delivers exactly 5, in event_id order") {
    val rows = SparkEntry.queries("cdc_take_n")(spark, sf).collect()
    assert(rows.length === 5)
    val ids = rows.map(_.getLong(0))
    assert(ids.sorted.sameElements(ids))
  }

  test("logreg_infer: the deployed gate agrees with a driver-side replay at the " +
      "quantized logreg_step weights") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("logreg_infer")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    got.values.foreach { case (nDocs, nKeep, avgScore) =>
      assert(nKeep >= 0L && nKeep <= nDocs)
      assert(avgScore > 0.0 && avgScore < 1.0)
    }
    // the deployed weights ARE logreg_step's rounded w_step2 column
    val w = SparkEntry.queries("logreg_step")(spark, sf).collect()
      .map(r => r.getString(0) -> math.rint(r.getDouble(2) * 1e4) / 1e4).toMap
    val (w0, w1, w2) = (w("bias"), w("len"), w("stop_ratio"))
    val stops = Set("the", "a", "of", "and", "to", "in", "is")
    val want = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).split(" ", -1)
        val x1 = math.min(ws.length, 200).toDouble / 200.0
        val x2 = ws.count(stops).toDouble / ws.length
        (r.getString(0), if (w0 * 1.0 + w1 * x1 + w2 * x2 > 0) 1L else 0L)
      }
      .groupBy(_._1).view.mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
    want.foreach { case (src, (nDocs, nKeep)) =>
      assert(got(src)._1 === nDocs, s"$src doc count")
      assert(got(src)._2 === nKeep, s"$src keep count at the quantized weights")
    }
  }

  test("rpc timeout resolves the 408 sentinel when nothing matches") {
    val row = SparkEntry.queries("cdc_rpc_timeout")(spark, sf).collect().head
    assert(row.getInt(1) === 408)
  }

  test("rpc first-wins returns exactly one earliest response") {
    val rows = SparkEntry.queries("cdc_rpc_first")(spark, sf).collect()
    assert(rows.length === 1)
    assert(rows.head.getInt(3) === 200)
  }

  test("sub counters include zero-delivery subscriptions") {
    val m = SparkEntry.queries("cdc_sub_counters")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("s_none") === 0L)
    assert(m("s_all") > 0L)
    assert(m.values.forall(_ <= m("s_all")))
  }

  test("minhash signature: identical docs get identical signatures") {
    // dedup invariant on real data: signature determinism across two runs
    val a = SparkEntry.queries("minhash_sig")(spark, sf).collect()
    val b = SparkEntry.queries("minhash_sig")(spark, sf).collect()
    assert(a.sameElements(b))
  }

  test("cosine top-k scores are within [-1, 1] and ranked descending per query") {
    val rows = SparkEntry.queries("cos_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, c) => c >= -1.0 && c <= 1.0 })
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
  }

  test("approx_count_distinct stays within its error bound of the exact count") {
    import org.apache.spark.sql.functions._
    val exact = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.rel.RelQueries.approxDistinct(spark, sf).collect().foreach { r =>
      val (flag, approx) = (r.getString(0), r.getLong(1))
      val e = exact(flag).toDouble
      assert(math.abs(approx - e) / e < 0.1, s"$flag: approx=$approx exact=$e")
    }
  }

  test("table_profile_approx: sketch NDV within bound, exact stats identical, no Expand") {
    val exact = SparkEntry.queries("table_profile")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val df = graft.rel.RelQueries.tableProfileApprox(spark, sf)
    df.collect().foreach { r =>
      val c = r.getString(0)
      val e = exact(c)
      // min/max/nulls take the SAME exact path as the graded profile —
      // only NDV is sketched, and it must stay inside the HLL bound
      assert(r.getDouble(1) === e.getDouble(1), s"$c min_v")
      assert(r.getDouble(2) === e.getDouble(2), s"$c max_v")
      assert(r.getLong(4) === e.getLong(4), s"$c n_nulls")
      val (ndv, en) = (r.getLong(3), e.getLong(3).toDouble)
      assert(math.abs(ndv - en) / en < 0.1, s"$c: approx=$ndv exact=$en")
    }
    // the point of the sketch form: ONE pass, no 4× Expand of every value
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"sketch profile must not plan the multi-countDistinct Expand:\n$plan")
  }

  test("mm_phash_pairs: identical payloads collide in EVERY band (pigeonhole floor)") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("mm_phash_pairs")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1), "near ⊆ candidates"))
    // identical signatures (from identical payloads OR birthday
    // collisions in the 16-bit space) share every nibble → a hamming-0
    // candidate in ALL 4 bands: every band's near count is floored by
    // the same-signature pair count, computed here independently from
    // the signature definition
    val sigPairs = {
      val sigExpr = (0 until 16).map { i =>
        when(conv(substring(md5(col("text")), i * 2 + 1, 2), 16, 10)
               .cast("long") > 127L, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      graft.Tables.documents(spark, sf).select(sigExpr.as("sig"))
        .groupBy(col("sig")).count().filter(col("count") > 1)
        .select(coalesce(sum((col("count") * (col("count") - 1) / 2).cast("long")),
                         lit(0L)).cast("long"))
        .collect()(0).getLong(0)
    }
    assert(sigPairs > 0L, "fixture must contain at least one signature collision")
    rows.foreach { r =>
      assert(r.getLong(2) >= sigPairs,
        s"band ${r.getLong(0)}: near count below the same-signature floor")
      assert(r.getLong(3) === 0L, "a same-signature pair has hamming 0")
    }
  }

  test("bloom_decontam: no false negatives — bloom hits always cover the exact hits") {
    val rows = SparkEntry.queries("bloom_decontam")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (src, grams, bloom, exact, fp) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bloom >= exact, s"$src: a Bloom filter can never miss a member")
      assert(fp === bloom - exact, src)
      assert(fp <= grams, src)
    }
    // the filter must be USEFUL at the graded scale: hits are a small
    // fraction of probes (a saturated filter flags everything)
    val (allGrams, allBloom) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    assert(allBloom.toDouble / allGrams < 0.25,
      s"filter saturated: $allBloom of $allGrams grams flagged")
  }

  test("ivf_recall_sweep: recall non-decreasing in nprobe, hits bounded by the exact set") {
    val rows = SparkEntry.queries("ivf_recall_sweep")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    rows.foreach { r =>
      assert(r.getLong(2) === 3L * r.getLong(1), "exact top-3 per query")
      assert(r.getLong(3) <= r.getLong(2), "hits cannot exceed the exact set")
    }
    // more probes may only ADD scanned cells — recall must not regress
    rows.map(_.getDouble(4)).sliding(2).foreach {
      case Array(lo, hi) => assert(lo <= hi, "recall regressed as nprobe grew")
      case _ => ()
    }
  }

  test("curriculum_bins: four bins per source, ranges ordered, counts cover the source") {
    val bySource = SparkEntry.queries("curriculum_bins")(spark, sf).collect()
      .groupBy(_.getString(0))
    val totals = graft.Tables.documents(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L, 4L), src)
      assert(rows.map(_.getLong(2)).sum === totals(src), s"$src: bins must partition the source")
      // quartile score ranges must be non-decreasing across bins
      val byBin = rows.sortBy(_.getLong(1))
      byBin.sliding(2).foreach {
        case Array(lo, hi) => assert(lo.getLong(4) <= hi.getLong(3) ||
          lo.getLong(4) <= hi.getLong(4), s"$src: bin ranges out of order")
        case _ => ()
      }
    }
  }

  test("incremental_dedup: new + dup = batch, and dup count matches exact membership") {
    val rows = SparkEntry.queries("incremental_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) === r.getLong(1),
        s"${r.getString(0)}: n_new + n_dup_vs_snapshot must equal n_batch")
    }
    assert(rows.map(_.getLong(1)).sum > 0L, "the 10% hash bucket must be non-empty")
  }

  test("cluster_size_hist: every cluster has >= 2 docs; absorbed = size * clusters") {
    val rows = SparkEntry.queries("cluster_size_hist")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) >= 2L, "a component needs at least one edge")
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1))
    }
    // histogram mass equals the component inventory it summarizes
    val compDocs = SparkEntry.queries("dedup_components")(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(rows.map(_.getLong(2)).sum === compDocs)
  }

  test("domain_caps: kept bounded by the cap, kept+dropped = n_docs") {
    import graft.llm.TextOps
    SparkEntry.queries("domain_caps")(spark, sf).collect().foreach { r =>
      val (n, kept, dropped) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept <= TextOps.DomainCap)
      assert(kept + dropped === n)
      assert(kept === math.min(n, TextOps.DomainCap.toLong))
    }
  }

  test("doc_chunks: dedup rate sane, chunk inventory covers every doc") {
    val nDocs = graft.Tables.documents(spark, sf).count()
    val rows = SparkEntry.queries("doc_chunks")(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total >= nDocs) // at least one chunk per document
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1))) // uniq <= total
  }

  test("bigram_lift: support floor respected, lift positive, sorted by count") {
    import graft.llm.TextOps
    val rows = SparkEntry.queries("bigram_lift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 15)
    assert(rows.forall(_.getLong(1) >= TextOps.BigramMinCount))
    assert(rows.forall(_.getDouble(4) > 0.0))
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("quality_filter_pct keeps the upper half per source") {
    val perSource = graft.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    SparkEntry.queries("quality_filter_pct")(spark, sf).collect().foreach { r =>
      val (src, kept) = (r.getString(0), r.getLong(1))
      val n = perSource(src)
      assert(kept > 0 && kept <= n)
      // percent_rank >= 0.5 over a total order keeps the upper half
      // (n - ceil((n-1)/2) docs — within 1 of n/2 for any n)
      assert(math.abs(kept - n / 2.0) <= 1.0, s"$src kept=$kept of $n")
    }
  }

  test("quality_filter_pct_approx agrees with the windowed gate within the tie group") {
    import org.apache.spark.sql.functions._
    val exact = SparkEntry.queries("quality_filter_pct")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = graft.llm.TextOps.qualityFilterPctApprox(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet === exact.keySet)
    val ties = graft.Tables.documents(spark, sf)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("source"), col("n_tok")).count()
      .groupBy(col("source")).agg(max(col("count")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, (nE, minE)) <- exact) {
      val (nA, minA) = approx(src)
      assert(math.abs(nA - nE) <= ties(src), s"$src: $nA vs $nE (ties ${ties(src)})")
      assert(minA <= minE, s"$src: approx min_kept $minA above exact $minE")
    }
  }

  test("curriculum_bins_approx bins agree with ntile within edge tie runs, totals exact") {
    val exact = SparkEntry.queries("curriculum_bins")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val approx = graft.llm.TextOps.curriculumBinsApprox(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sources = exact.keySet.map(_._1)
    import org.apache.spark.sql.functions._
    val ties = graft.Tables.documents(spark, sf)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("source"), col("n_tok")).count()
      .groupBy(col("source")).agg(max(col("count")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (src <- sources) {
      for (bin <- 1L to 4L) {
        val e = exact.getOrElse((src, bin), 0L)
        val a = approx.getOrElse((src, bin), 0L)
        assert(math.abs(a - e) <= 2 * ties(src) + 1, s"$src bin $bin: $a vs $e")
      }
      val eTot = (1L to 4L).map(b => exact.getOrElse((src, b), 0L)).sum
      val aTot = (1L to 4L).map(b => approx.getOrElse((src, b), 0L)).sum
      assert(aTot === eTot, s"$src: totals $aTot vs $eTot")
    }
  }

  test("approx_percentiles stays within sketch tolerance of the exact percentile") {
    import org.apache.spark.sql.functions._
    val exact = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
           percentile(col("l_quantity"), lit(0.9)).as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    graft.rel.RelQueries.approxPercentiles(spark, sf).collect().foreach { r =>
      val (flag, a50, a90) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      assert(math.abs(a50 - exact(flag)._1) <= 2.0, s"$flag p50: $a50 vs ${exact(flag)._1}")
      assert(math.abs(a90 - exact(flag)._2) <= 2.0, s"$flag p90: $a90 vs ${exact(flag)._2}")
    }
  }

  test("editdist_pairs: symmetric-free (a<b), distance within the gate") {
    import graft.llm.TextOps
    val rows = SparkEntry.queries("editdist_pairs")(spark, sf).collect()
    assert(rows.nonEmpty) // corpus has exact dups -> dist-0 pairs exist
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0 && r.getLong(2) <= TextOps.EditMaxDist)
    }
  }

  test("zorder_layout: every z-bucket is a bounded rectangle on BOTH dims") {
    val rows = SparkEntry.queries("zorder_layout")(spark, sf).collect()
    assert(rows.length > 1 && rows.length <= 32)
    rows.foreach { r =>
      val (minA, maxA, minB, maxB) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // top-5 z-bits fix x's top-2 and y's top-3 bits (10-bit dims)
      assert(maxA - minA <= 255, s"a-span ${maxA - minA}")
      assert(maxB - minB <= 127, s"b-span ${maxB - minB}")
    }
  }

  test("curation_funnel: stage counts are monotonically non-increasing") {
    import graft.llm.TextOps
    SparkEntry.queries("curation_funnel")(spark, sf).collect().foreach { r =>
      val (n, ex, q, fin) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n >= ex && ex >= q && q >= fin, s"funnel not monotone: $n>=$ex>=$q>=$fin")
      assert(fin <= TextOps.DomainCap)
    }
  }

  test("cdc_scd2: exactly one current version per channel, intervals chain") {
    val rows = SparkEntry.queries("cdc_scd2")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byChannel = rows.groupBy(_.getString(0))
    byChannel.foreach { case (ch, vs) =>
      assert(vs.count(_.getBoolean(4)) === 1, s"$ch: != 1 current version")
      // versions ordered by valid_from: each valid_to equals the next valid_from
      val sorted = vs.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(1)))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getTimestamp(3) === b.getTimestamp(2), s"$ch: gap")
        case _ =>
      }
      assert(sorted.last.getTimestamp(3) === null)
    }
  }

  test("asof_enrich: one row per purchase; matched clicks never post-date it, and matches exist") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf)
    val nPurchases = ev.filter(col("event_type") === "purchase").count()
    val df = SparkEntry.queries("asof_enrich")(spark, sf)
    assert(df.count() === nPurchases)
    // re-derive the match and check the as-of bound holds — and that the
    // row is substantive (matches AND outer-nulls both present)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts").as("purchase_ts"))
    val joined = df.filter(col("last_click_id").isNotNull)
      .join(clicks, col("last_click_id") === col("cid"))
      .join(purchases, "event_id")
    assert(joined.filter(col("click_ts") > col("purchase_ts")).count() === 0)
    val matched = df.filter(col("last_click_id").isNotNull).count()
    assert(matched > 0 && matched < nPurchases,
      s"degenerate: $matched of $nPurchases matched")
  }

  test("dedup_semantic_verify scores every LSH candidate pair, cos in [-1,1]") {
    val nPairs = graft.llm.HashDedup.minhashPairs(spark, sf).count()
    val rows = SparkEntry.queries("dedup_semantic_verify")(spark, sf).collect()
    assert(rows.length.toLong === nPairs,
      "every lexical candidate pair must get a semantic verdict")
    assert(rows.forall { r =>
      val c = r.getDouble(2); c >= -1.0001 && c <= 1.0001
    })
  }

  test("shard_assign partitions the corpus exactly once, shards in [0,16)") {
    val rows = SparkEntry.queries("shard_assign")(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    assert(rows.forall { r => val sh = r.getLong(0); sh >= 0 && sh < 16 })
  }

  test("bigram_novelty fractions are well-formed and cover all multi-token docs") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("bigram_novelty")(spark, sf).collect()
    val covered = rows.map(_.getAs[Long]("n_docs")).sum
    val expected = graft.Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(covered === expected)
    assert(rows.forall { r =>
      val f = r.getAs[Double]("novel_frac"); f >= 0.0 && f <= 1.0
    })
  }

  test("mix_apply: per-source kept mass never exceeds the source total") {
    import org.apache.spark.sql.functions._
    val totals = graft.Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
           sum(size(split(col("text"), " ")).cast("long")).as("tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    SparkEntry.queries("mix_apply")(spark, sf).collect().foreach { r =>
      val (n, tok) = totals(r.getString(0))
      assert(r.getAs[Long]("n_docs_kept") <= n)
      assert(r.getAs[Long]("n_tokens_kept") <= tok)
      val thr = r.getAs[Long]("thr")
      assert(thr > 0 && thr <= (1L << 20))
      // an at-or-under-target source keeps every doc (thr saturates)
      if (thr == (1L << 20)) assert(r.getAs[Long]("n_docs_kept") === n)
    }
  }

  test("split_leakage: leaks flag is exactly split_a != split_b") {
    SparkEntry.queries("split_leakage")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Boolean]("leaks") === (r.getString(0) != r.getString(1)))
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("lm_xent: self-scored cross-entropy is positive and bounded by the uniform LM") {
    val rows = SparkEntry.queries("lm_xent")(spark, sf).collect()
    assert(rows.nonEmpty)
    // uniform-over-(V+1) is the worst self-scored unigram model: any LM
    // trained ON the corpus must beat it on average; and entropy of a
    // discrete distribution is strictly positive here (no degenerate
    // single-token corpus in the testdata)
    val vPlus1 = {
      import org.apache.spark.sql.functions._
      Tables.documents(spark, sf)
        .select(explode(split(col("text"), " ")).as("t"))
        .agg(countDistinct(col("t"))).head.getLong(0) + 1
    }
    val bound = math.log(vPlus1.toDouble * 2) / math.log(2) // + slack for smoothing mass
    rows.foreach { r =>
      val xent = r.getDouble(r.fieldIndex("avg_xent_bits"))
      assert(xent > 0.0 && xent < bound,
        s"${r.getString(0)}/${r.getString(1)}: xent $xent outside (0, $bound)")
    }
  }

  test("gopher_rules: rule counts bounded by n_docs; kept ≤ every individual rule") {
    val rows = SparkEntry.queries("gopher_rules")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    assert(total === Tables.documents(spark, sf).count(), "partition of the corpus by lang")
    rows.foreach { r =>
      val Seq(n, wc, mwl, sym, stop, kept) = (1 to 6).map(r.getLong)
      Seq(wc, mwl, sym, stop).foreach(c => assert(c >= 0 && c <= n))
      assert(kept <= Seq(wc, mwl, sym, stop).min,
        s"lang ${r.getString(0)}: conjunction exceeds a conjunct")
    }
  }

  test("snapshot_delta: retained = today - added; an all-duplicate corpus has zero content churn") {
    val s = spark; import s.implicits._
    val rows = SparkEntry.queries("snapshot_delta")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val Seq(ny, nt, na, nr, nk) = (1 to 5).map(r.getLong)
      assert(na <= nt && nr <= ny && nk === nt - na, s"${r.getString(0)}: inconsistent delta")
    }
    // one shared text everywhere → every fp is in both slices: no churn
    val tmp = java.nio.file.Files.createTempDirectory("graft_delta").toString
    (1L to 200L).map(i => (i, "same text body here", "en", s"s${i % 3}", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.llm.TextOps.snapshotDelta(s, tmp).collect().foreach { r =>
      assert(r.getLong(3) === 0L && r.getLong(4) === 0L,
        "identical content must never count as added or removed")
    }
  }

  test("mix_shift is a [0,1] distance, zero for identical slices; lsh_plan's kept never exceeds cand") {
    val s = spark; import s.implicits._
    SparkEntry.queries("mix_shift")(spark, sf).collect().foreach { r =>
      if (!r.isNullAt(3)) {
        val tv = r.getDouble(3)
        assert(tv >= 0.0 && tv <= 1.0, s"${r.getString(0)}: TV $tv outside [0,1]")
      }
    }
    // a single-doc-per-id corpus whose every doc lands in BOTH slices
    // (buckets 1..8 only) has identical distributions → TV exactly 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_mixshift").toString
    val both = (1L to 4000L).filter { i =>
      val b = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString).take(8), 16) % 10
      b >= 1 && b <= 8
    }
    both.map(i => (i, s"w${i % 50} common tokens here", "en", s"s${i % 3}", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.llm.TextOps.mixShift(s, tmp).collect().foreach { r =>
      assert(r.getDouble(3) === 0.0, s"${r.getString(0)}: identical slices must have TV 0")
    }
    val plan = SparkEntry.queries("lsh_plan")(spark, sf).collect()
    assert(plan.nonEmpty)
    plan.foreach { r =>
      val (nb, mx, cand, kept) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(kept <= cand && mx >= 1 && nb >= 1)
      assert(cand >= mx * (mx - 1) / 2, "cand must cover the worst bucket alone")
    }
    // the plan must UPPER-BOUND reality: every distinct candidate pair
    // comes from at least one kept bucket, so Σ kept_pairs across bands
    // ≥ the deduplicated pair count the actual expansion produces
    val keptTotal = plan.map(_.getLong(4)).sum
    val actual = SparkEntry.queries("minhash_pairs")(spark, sf).count()
    assert(keptTotal >= actual,
      s"plan says $keptTotal kept pairs but the expansion produced $actual")
  }

  test("event_transitions: rows are a row-stochastic matrix (per-from p sums to 1 within rounding)") {
    val rows = SparkEntry.queries("event_transitions")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val pSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) <= 0.0005 * rs.length,
        s"$from: probabilities sum to $pSum")
      assert(rs.forall(_.getLong(2) > 0))
    }
  }

  test("length_zipf buckets are exact log2 ranges; vocab_oov_rate and bucket_balance invariants") {
    SparkEntry.queries("length_zipf")(spark, sf).collect().foreach { r =>
      val (b, mn, mx) = (r.getLong(1), r.getLong(4), r.getLong(5))
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"bucket $b holds [$mn,$mx] outside [2^$b, 2^${b + 1})")
    }
    val oov = SparkEntry.queries("vocab_oov_rate")(spark, sf).collect()
    assert(oov.nonEmpty)
    oov.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val bb = SparkEntry.queries("bucket_balance")(spark, sf).collect()
    assert(bb.map(_.getLong(1)).sum === graft.Tables.documents(spark, sf).count())
    assert(bb.length <= 32 && bb.map(_.getLong(0)).forall(b => b >= 0 && b < 32))
  }

  test("sketch bound twins: every within-bound boolean is true on the graded tables") {
    for (name <- Seq("approx_distinct_bound", "approx_percentiles_bound",
                     "profile_approx_bound", "curriculum_bins_bound",
                     "quality_pct_bound")) {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      rows.foreach { r =>
        (1 until r.length).foreach { i =>
          assert(r.getBoolean(i), s"$name: ${r.get(0)} col ${r.schema(i).name} false")
        }
      }
    }
  }

  test("gopher_rules: backslash counts as a symbol, and the oracle regex literal " +
      "ships the same class byte-for-byte") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_gopher_bs").toString
    // 10 tokens, exactly ONE symbol — a literal backslash. With '\' in
    // the class: n_sym=1 → 1*10 < 10 is false → n_sym_ok=0. A regex
    // that lost the backslash (the pre-fix DuckDB literal) sees n_sym=0
    // → n_sym_ok=1. The count is the divergence detector.
    Seq((0L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 back\\slash", "en", "s0", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.llm.TextOps.gopherRules(s, tmp).collect().head
    assert(r.getLong(r.fieldIndex("n_sym_ok")) === 0L,
      "backslash must be counted by the Spark symbol class")
    // DuckDB receives the SQL after Scala escape processing: the class
    // must contain \\ (escaped backslash), i.e. 4 backslashes in source
    // → 2 in the shipped literal. Pin the shipped form.
    assert(SparkEntry.oracleSql("gopher_rules").contains("""[#$%{}<>\\^~|]"""),
      "oracle symbol class must ship a literal backslash escape to DuckDB")
  }

  test("rep_ngram_frac: pure stutter scores 1.0 dup occupancy; distinct text 0; " +
      "sub-3-word docs excluded from every gram size") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rep").toString
    Seq(
      // 2-grams: {a b}×3 {b a}×2 → 5/5 dup; 3-grams: {a b a}×2 {b a b}×2 → 4/4
      (0L, "a b a b a b", "en", "src0", 11L),
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8", "en", "src0", 23L), // all grams unique
      (2L, "x y", "en", "src0", 3L)) // no 3-gram exists: excluded outright
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = SparkEntry.queries("rep_ngram_frac")(spark, tmp).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(m(2) === ((2L, 1L, 0.4167))) // 5 dup of 12 occurrences = 0.41̂3
    assert(m(3) === ((2L, 1L, 0.4)))    // 4 dup of 10
    // graded table: flag count bounded, the one FP ratio stays in [0, 1]
    SparkEntry.queries("rep_ngram_frac")(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("bpe_merge_step: Sennrich's low/lower/lowest example ranks exactly; " +
      "word frequency weights the mass, vocabulary spread does not") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    Seq((0L, "low low lower lowest", "en", "src0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("bpe_merge_step")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 'lo'/'ow' carry low×2 + lower + lowest = 4 occurrences over 3 word
    // forms; the tie between them breaks on pair text
    assert(rows.toSeq === Seq(
      ("lo", 3L, 4L), ("ow", 3L, 4L), ("we", 2L, 2L),
      ("er", 1L, 1L), ("es", 1L, 1L), ("st", 1L, 1L)))
    // graded table: a pair's word spread never exceeds its occurrence mass
    val g = SparkEntry.queries("bpe_merge_step")(spark, sf).collect()
    assert(g.length === 20)
    g.foreach(r => assert(r.getLong(1) <= r.getLong(2)))
  }

  test("bpe_merge_k: the k=3 greedy loop replays Sennrich's low/lower/lowest " +
      "merges; overlapping pairs fuse left-to-right; greedy mass is monotone") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpek").toString
    Seq((0L, "low low lower lowest", "en", "src0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("bpe_merge_k")(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // merge 1: l+o and o+w tie at mass 4 over 3 word forms; pair text
    // breaks it to "l o". merge 2 fuses the resulting (lo, w); merge 3
    // fuses (low, e), carried by lower + lowest only.
    assert(rows.toSeq === Seq(
      (1, "l o", "lo", 3L, 4L),
      (2, "lo w", "low", 3L, 4L),
      (3, "low e", "lowe", 2L, 2L)))
    // greedy left-to-right: "aaa" counts the (a,a) position twice but
    // fuses to [aa, a] — so merge 2 is (aa, a), and after it the word is
    // a single symbol: stage 3 has no pairs and emits nothing.
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_bpek2").toString
    Seq((0L, "aaa aaa", "en", "src0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val ovl = SparkEntry.queries("bpe_merge_k")(spark, tmp2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(ovl.toSeq === Seq(
      (1, "a a", "aa", 1L, 4L),
      (2, "aa a", "aaa", 1L, 2L)))
    // graded table: 3 steps, and greedy argmax mass can never increase
    // (a merge only removes or splits existing pair mass)
    val g = SparkEntry.queries("bpe_merge_k")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(g.map(_._1).toSeq === Seq(1, 2, 3))
    assert(g.sliding(2).forall { case Array(a, b) => a._5 >= b._5 })
    g.foreach { r =>
      assert(r._3 === r._2.replace(" ", ""))
      assert(r._4 <= r._5)
    }
  }

  test("bpe_apply: segmentation under the 3 learned merges compresses " +
      "low/lower/lowest from 17 char tokens to 7; graded ratios stay >= 1") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpea").toString
    Seq((0L, "low low lower lowest", "en", "src0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("bpe_apply")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // merges l+o, lo+w, low+e segment low→[low], lower→[lowe,r],
    // lowest→[lowe,s,t]: chars 2·3+5+6 = 17, bpe tokens 2·1+2+3 = 7
    assert(rows.toSeq === Seq(("src0", 3L, 17L, 7L, 2.4286)))
    // graded table: merges can only fuse, so every source compresses
    // (ratio >= 1) and bpe mass never exceeds char mass
    val g = SparkEntry.queries("bpe_apply")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getDouble(4) >= 1.0)
    }
  }

  test("token_budget: waterfilling takes small sources whole and splits the " +
      "rest at the integer waterline; the remainder goes in sorted order") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_budget").toString
    def doc(id: Long, src: String, n: Int) =
      (id, Seq.fill(n)("t").mkString(" "), "en", src, n.toLong)
    // avails a=2 b=5 c=100 d=101 → T=208, B=104: a and b saturate
    // (rem stays huge), waterline = (104-7) div 2 = 48 with remainder 1
    // handed to c (first unsaturated in (avail, source) order)
    Seq(doc(0, "a", 2), doc(1, "b", 5), doc(2, "c", 100), doc(3, "d", 101))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("token_budget")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4)))
    assert(rows.toSeq === Seq(
      ("a", 2L, 2L, true, 1.0), ("b", 5L, 5L, true, 1.0),
      ("c", 100L, 49L, false, 0.49), ("d", 101L, 48L, false, 0.4752)))
    // graded table: Σ alloc = T div 2 exactly; saturation ⇔ full take
    val g = SparkEntry.queries("token_budget")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val t = g.map(_._1).sum
    assert(g.map(_._2).sum === t / 2)
    g.foreach { case (avail, alloc, sat) =>
      assert(if (sat) alloc === avail else alloc <= avail)
    }
  }

  test("bigram_xent: hand-computed order-2 cross-entropy; sub-bigram docs " +
      "are excluded; scrambled word order separates from lm_xent") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bixent").toString
    // bigrams: (a,b)x3, (b,a)x1; contexts a=3, b=1; V=2, α=0.5:
    //   p(b|a) = 3.5/4.5, p(a|b) = 1.5/2.5
    // doc0 "a b a b": nll = 2·ln(9/7) + ln(5/3) over 3 bigrams → 0.4874 bits
    // doc1 "a b":     nll = ln(9/7) over 1 bigram            → 0.3626 bits
    // doc2 "z" has no bigram: excluded from n_docs entirely
    Seq((0L, "a b a b", "en", "src0", 7L), (1L, "a b", "en", "src0", 3L),
        (2L, "z", "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("bigram_xent")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(("en", "src0", 2L, 0.425)))
    // graded table: every group scores positive finite bits
    val g = SparkEntry.queries("bigram_xent")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getLong(2) > 0)
      assert(r.getDouble(3) > 0.0 && !r.getDouble(3).isNaN)
    }
  }

  test("logreg_step: two hand-computed GD steps on a 2-doc corpus; step 1 " +
      "is the closed σ=0.5 form, step 2 evaluates the sigmoid") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lr").toString
    // doc0 (en, y=1): x = (1, 2/200, stop ratio 1.0)
    // doc1 (fr, y=0): x = (1, 3/200, 0.0)
    // w1 = 0.1·Σx(y−.5)/2 = (0, −0.000125, 0.025) → rounds (0, −0.0001, 0.025)
    // step 2 (python-mirrored): (−0.0003, −0.0003, 0.0497)
    Seq((0L, "the a", "en", "src0", 5L), (1L, "zz zz zz", "fr", "src0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("logreg_step")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq === Seq(
      ("bias", 0.0, -0.0003), ("len", -0.0001, -0.0003),
      ("stop_ratio", 0.025, 0.0497)))
    // graded table: 3 finite weight rows inside the learning-rate bound
    // |w_stepK| ≤ K·lr·max|x·(σ−y)| = K·0.05 (all features lie in [0,1])
    val g = SparkEntry.queries("logreg_step")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(g.map(_._1).toSeq === Seq("bias", "len", "stop_ratio"))
    g.foreach { r =>
      assert(math.abs(r._2) <= 0.05)
      assert(math.abs(r._3) <= 0.10)
    }
  }

  test("hard_negatives: every mined negative carries a FOREIGN label; " +
      "per-query ranks are {1,2} with monotone cosine") {
    val rows = SparkEntry.queries("hard_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val label = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (qid, negId, _, cos) =>
      assert(label(negId) !== label(qid),
        s"negative $negId shares query $qid's label")
      assert(cos >= -1.0001 && cos <= 1.0001)
    }
    rows.groupBy(_._1).values.foreach { qr =>
      val byRank = qr.sortBy(_._3)
      assert(byRank.map(_._3).toSeq === (1L to byRank.length).toSeq)
      assert(byRank.length <= 2)
      if (byRank.length == 2) assert(byRank(0)._4 >= byRank(1)._4)
    }
  }

  test("embed_centroid_drift: hand-computed displacement between parity " +
      "slices; identical slices drift exactly 0") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdrift").toString
    // label 0: even slice {(1,0),(3,0)} → μ_a=(2,0); odd {(5,4)} → μ_b=(5,4)
    //   drift = √(9+16) = 5. label 1: both slices {(1,1)} → drift 0.
    Seq((0L, Array(1f, 0f), 0), (2L, Array(3f, 0f), 0), (1L, Array(5f, 4f), 0),
        (4L, Array(1f, 1f), 1), (5L, Array(1f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = SparkEntry.queries("embed_centroid_drift")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq((0L, 2L, 1L, 5.0), (1L, 1L, 1L, 0.0)))
    // graded table: drift is nonnegative and both slices are populated
    val g = SparkEntry.queries("embed_centroid_drift")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("pii_redact: placeholder deltas are exact; a clean doc changes " +
      "nothing; changed-doc counts brace pii_scan's per-type incidence") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_redact").toString
    // 'bob@example.com' (15) → '<email>' (7) removes 8; '10.0.0.1' (8)
    // → '<ip>' (4) removes 4
    Seq((0L, "contact Bob@Example.COM or 10.0.0.1 now", "en", "src0", 39L),
        (1L, "nothing sensitive here", "en", "src0", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("pii_redact")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 1)
    val (src, nDocs, changed, removed, fp) = rows.head
    assert((src, nDocs, changed, removed) === (("src0", 2L, 1L, 12L)))
    assert(fp != 0L)
    // graded table vs pii_scan: a doc changes iff it holds an email OR an
    // ip, so changed ∈ [max(per-type docs), their sum]
    val scan = SparkEntry.queries("pii_scan")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    SparkEntry.queries("pii_redact")(spark, sf).collect().foreach { r =>
      val (em, ip) = scan(r.getString(0))
      val ch = r.getLong(2)
      assert(ch >= math.max(em, ip) && ch <= em + ip,
        s"${r.getString(0)}: changed $ch outside [${math.max(em, ip)}, ${em + ip}]")
    }
  }

  test("pca_power_step: two power iterations on a hand-computed 2x2 Gram " +
      "matrix; graded steps stay unit-norm") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pca").toString
    // vectors (1,1), (2,0) → C = [[5e6, 1e6], [1e6, 1e6]] (quantized);
    // v1 = normalize(C·e0), v2 = normalize(C·v1) — python-mirrored
    Seq((0L, Array(1f, 1f), 0), (1L, Array(2f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = SparkEntry.queries("pca_power_step")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq === Seq(
      (0L, 0.980581, 0.974391), (1L, 0.196116, 0.22486)))
    // graded table: both step vectors are unit-norm to the rounding
    val g = SparkEntry.queries("pca_power_step")(spark, sf).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(g.nonEmpty)
    val (s1, s2) = (g.map(v => v._1 * v._1).sum, g.map(v => v._2 * v._2).sum)
    assert(math.abs(s1 - 1.0) < 1e-4 && math.abs(s2 - 1.0) < 1e-4,
      s"step vectors not unit-norm: $s1, $s2")
  }

  test("bm25_top_terms: python-mirrored scores on a 2-doc corpus — the " +
      "rare term in the SHORT doc outranks the common term; tf-idf cannot " +
      "see the difference") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    // docs 'a a b' (dl 3) and 'b c' (dl 2): idf(a)=idf(c)=ln 2, but c sits
    // in the shorter doc so its normalized score beats b everywhere
    Seq((0L, "a a b", "en", "src0", 5L), (1L, "b c", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("bm25_top_terms")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(
      ("src0", "a", 1L, 0.902), ("src0", "c", 2L, 0.755), ("src0", "b", 3L, 0.367)))
    // graded table: 3 ranked rows per source, positive scores, rank-monotone
    val g = SparkEntry.queries("bm25_top_terms")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(g.nonEmpty)
    g.groupBy(_._1).values.foreach { sc =>
      val byRank = sc.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to byRank.length).toSeq)
      assert(byRank.sliding(2).forall {
        case Array(x, y) => x._3 >= y._3; case _ => true })
      byRank.foreach(r => assert(r._3 > 0.0))
    }
  }

  test("token_entropy: uniform source scores exactly ln 2 with normalized " +
      "entropy 1; skew lowers both; graded values stay in [0, 1]") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ent").toString
    Seq((0L, "a a b b", "en", "u", 7L), (1L, "x x x y", "en", "v", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("token_entropy")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq === Seq(
      ("u", 4L, 2L, 0.6931, 1.0), ("v", 4L, 2L, 0.5623, 0.8113)))
    val g = SparkEntry.queries("token_entropy")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getDouble(3) >= 0.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("user_features: one feature row per user from a hand-built event " +
      "stream; graded counts are consistent and rates bounded") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_uf").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    Seq((10L, t0, 1L, "click", 1.5, "{}"), (11L, t1, 1L, "purchase", 2.5, "{}"),
        (12L, t0, 2L, "view", 0.25, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = SparkEntry.queries("user_features")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getDouble(5), r.getLong(6), r.getLong(7),
                 r.getDouble(8)))
    assert(rows.toSeq === Seq(
      (1L, 2L, 1L, 0L, 1L, 4.0, 2L, 86400000000L, 0.5),
      (2L, 1L, 0L, 1L, 0L, 0.25, 1L, 0L, 0.0)))
    // graded table: per-type counts never exceed the total; rate in [0,1]
    val g = SparkEntry.queries("user_features")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) <= r.getLong(1))
      assert(r.getDouble(8) >= 0.0 && r.getDouble(8) <= 1.0)
      assert(r.getLong(7) >= 0L)
    }
  }

  test("props_profile: a new payload key appears as a row with partial " +
      "coverage; non-numeric values don't break the stats; invalid JSON " +
      "contributes nothing") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_props").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((10L, t0, 1L, "click", 0.0, """{"k": 1, "m": "x"}"""),
        (11L, t0, 2L, "click", 0.0, """{"k": 3}"""),
        (12L, t0, 3L, "click", 0.0, "not json"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = SparkEntry.queries("props_profile")(spark, tmp).collect()
    // 3 click events total; 'k' on 2 of them (numeric 1 and 3), the
    // drifted 'm' on 1 (non-numeric), the bad payload on none
    assert(rows.length === 2)
    val k = rows(0); val m = rows(1)
    assert((k.getString(1), k.getLong(2), k.getDouble(3), k.getLong(4),
            k.getLong(5), k.getLong(6), k.getDouble(7)) ===
      (("k", 2L, 0.6667, 2L, 1L, 3L, 2.0)))
    assert((m.getString(1), m.getLong(2), m.getDouble(3), m.getLong(4)) ===
      (("m", 1L, 0.3333, 0L)))
    assert(m.isNullAt(5) && m.isNullAt(6) && m.isNullAt(7))
    // graded table: coverage in (0, 1]; numeric count never exceeds n
    val g = SparkEntry.queries("props_profile")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(4) <= r.getLong(2))
    }
  }

  test("ccnet_buckets: hand-built corpus terciles by rarity (common-word " +
      "docs head, rare-word docs tail); graded buckets are balanced and " +
      "bits/token nondecreasing head->tail") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ccnet").toString
    // 'a' is common (10 occurrences), 'z' rare (3): docs of only-'a' rank
    // ahead of docs touching 'z'; within-ppl ties break by doc_id
    Seq((0L, "a a a", "en", "s"), (1L, "a a a", "en", "s"),
        (2L, "a a", "en", "s"), (3L, "a a", "en", "s"),
        (4L, "a z", "en", "s"), (5L, "z z", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("ccnet_buckets")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getDouble(4)))
    assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSeq === Seq(
      ("s", 0L, 2L, 6L), ("s", 1L, 2L, 4L), ("s", 2L, 2L, 4L)),
      s"tercile membership wrong: ${rows.mkString(", ")}")
    assert(rows(0)._5 <= rows(1)._5 && rows(1)._5 < rows(2)._5,
      "rare-word tail must cost more bits/token")
    // graded table: per source exactly 3 buckets, sizes within 1 of each
    // other, and bits/token nondecreasing head -> tail
    val g = SparkEntry.queries("ccnet_buckets")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(g.nonEmpty)
    g.groupBy(_._1).values.foreach { bs =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === Seq(0L, 1L, 2L))
      assert(sorted.map(_._3).max - sorted.map(_._3).min <= 1L,
        "terciles must be balanced within 1 doc")
      val bits = sorted.map(_._4)
      assert(bits.zip(bits.tail).forall { case (x, y) => x <= y },
        s"bits/token must not decrease head->tail: $bs")
    }
  }

  test("props_schema: the drifted fixture infers all four types, NOT NULL " +
      "only at full coverage, and the DDL is deterministic") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_props_ddl").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // k: all ints; b: all booleans; d: mixed int/decimal -> DOUBLE;
    // s: mixed -> STRING; m: drifted-in on one event only (nullable);
    // the invalid payload keeps every key under full coverage
    Seq((10L, t0, 1L, "click", 0.0,
          """{"k": 1, "b": "true", "d": "1.5", "s": "x", "m": 2}"""),
        (11L, t0, 2L, "click", 0.0,
          """{"k": 3, "b": "false", "d": "2", "s": "7"}"""),
        (12L, t0, 3L, "click", 0.0, "not json"),
        (13L, t0, 4L, "view", 0.0, """{"k": 9}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = SparkEntry.queries("props_schema")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq === Seq(
      ("click", 5L,
        "STRUCT<`b`: BOOLEAN, `d`: DOUBLE, `k`: BIGINT, `m`: BIGINT, `s`: STRING>"),
      ("view", 1L, "STRUCT<`k`: BIGINT NOT NULL>")))
    // deterministic: a second run yields the identical DDL strings
    val again = SparkEntry.queries("props_schema")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(again.toSeq === rows.toSeq)
    // graded table: every type's DDL is well-formed and key counts agree
    // with props_profile's per-key rows
    val g = SparkEntry.queries("props_schema")(spark, sf).collect()
    assert(g.nonEmpty)
    val prof = SparkEntry.queries("props_profile")(spark, sf).collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    g.foreach { r =>
      assert(r.getString(2).startsWith("STRUCT<") && r.getString(2).endsWith(">"))
      assert(r.getLong(1) === prof(r.getString(0)),
        s"${r.getString(0)}: n_keys must equal props_profile's key rows")
    }
  }

  test("anomaly_days: a 10x traffic spike flags exactly its day; steady " +
      "days pass; graded flags genuinely deviate from their mean") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_anom").toString
    // 10 days of 10 clicks + one day of 100: mean 18.18, only the spike
    // clears the squared 1.5σ gate
    val rowsIn = (0 until 10).flatMap { day =>
      val t = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00")
      (0 until 10).map(i => (day * 100L + i, t, i.toLong, "click", 1.0, "{}"))
    } ++ (0 until 100).map { i =>
      (9000L + i, java.sql.Timestamp.valueOf("2024-01-11 12:00:00"),
        i.toLong, "click", 1.0, "{}")
    }
    rowsIn.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = SparkEntry.queries("anomaly_days")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(("click", "2024-01-11", 100L, 18.18)))
    // graded table: flagged days exist and really deviate
    val g = SparkEntry.queries("anomaly_days")(spark, sf).collect()
    assert(g.nonEmpty)
    g.foreach(r => assert(math.abs(r.getLong(2).toDouble - r.getDouble(3)) > 0.0))
  }

  test("scalacheck: waterfilling holds its contract on ARBITRARY " +
      "availability sets — exact budget, caps, max-min fairness") {
    val s = spark; import s.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val genCase: Gen[List[Long]] = for {
      n      <- Gen.choose(1, 9)
      avails <- Gen.listOfN(n, Gen.choose(1L, 500L))
    } yield avails
    val prop = Prop.forAll(genCase) { avails =>
      val per = avails.zipWithIndex
        .map { case (a, i) => (f"s$i%02d", a) }.toDF("source", "avail")
      val rows = graft.llm.TextOps.tokenBudgetFrom(per).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      val t = avails.sum
      val b = t / 2
      val sat = rows.filter(_._4)
      val unsat = rows.filterNot(_._4)
      import Prop.propBoolean
      Prop.all(
        (rows.map(_._3).sum == b)
          :| s"sum(alloc)=${rows.map(_._3).sum} != B=$b for $avails",
        rows.forall(r => r._3 <= r._2 && r._3 >= 0)
          :| s"alloc outside [0, avail] in ${rows.toSeq}",
        sat.forall(r => r._3 == r._2)
          :| s"saturated source not taken whole in ${rows.toSeq}",
        (unsat.isEmpty ||
          unsat.map(_._3).max - unsat.map(_._3).min <= 1L)
          :| s"unsaturated allocs not max-min fair in ${rows.toSeq}",
        (sat.isEmpty || unsat.isEmpty ||
          sat.map(_._2).max <= unsat.map(_._3).min)
          :| s"a saturated avail exceeds the waterline in ${rows.toSeq}")
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(12)
        .withInitialSeed(Seed(0xF00DL)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("scalacheck: the boundary-delimited BPE fuse equals a reference " +
      "greedy left-to-right fold for ARBITRARY words and merge chains") {
    val s = spark; import s.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.functions.{col, expr, regexp_replace, split, trim}
    // reference: standard BPE apply — scan symbols left to right, fuse
    // each non-overlapping (a, b) occurrence
    def fuse(syms: List[String], a: String, b: String): List[String] = syms match {
      case x :: y :: rest if x == a && y == b => (a + b) :: fuse(rest, a, b)
      case x :: rest => x :: fuse(rest, a, b)
      case Nil => Nil
    }
    val sym = Gen.choose(1, 2).flatMap(n =>
      Gen.listOfN(n, Gen.choose('a', 'c')).map(_.mkString))
    val genCase = for {
      wlen   <- Gen.choose(1, 12)
      word   <- Gen.listOfN(wlen, Gen.choose('a', 'c')).map(_.mkString)
      merges <- Gen.listOfN(3, Gen.zip(sym, sym))
    } yield (word, merges)
    val prop = Prop.forAll(genCase) { case (word, merges) =>
      val base = Seq(word).toDF("w")
        .withColumn("s", regexp_replace(col("w"), "(.)", " $1 "))
      val fused = merges.foldLeft(base) { case (d, (a, b)) =>
        d.withColumn("s", expr(s"replace(s, ' $a  $b ', ' $a$b ')"))
      }
      val got = fused.select(split(trim(col("s")), "  ")).collect()
        .head.getSeq[String](0).toList
      val want = merges.foldLeft(word.map(_.toString).toList) {
        case (syms, (a, b)) => fuse(syms, a, b)
      }
      import Prop.propBoolean
      (got == want) :| s"word=$word merges=$merges got=$got want=$want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(16)
        .withInitialSeed(Seed(0xCAFEL)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("vocab_growth: hand-computed Heaps curve; empty deciles carry the " +
      "cumulative forward on both sides of the grid") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_heaps").toString
    // source a occupies the first half of the doc_id range (deciles 1-5,
    // one new token pair per doc), source b the second half (identical
    // docs: token mass grows, vocabulary stays at 1)
    val docs =
      (0L to 9L).map(i => (i, s"t$i c", "en", "a", 4L)) ++
      (10L to 19L).map(i => (i, "x x x", "en", "b", 5L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("vocab_growth")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val a = Seq(3L, 5L, 7L, 9L, 11L)
    assert(rows.toSeq ===
      (1 to 10).map(k => ("a", k * 10, math.min(k, 5) * 4L, a(math.min(k, 5) - 1))) ++
      (1 to 10).map(k => ("b", k * 10, math.max(k - 5, 0) * 6L,
        if (k >= 6) 1L else 0L)))
    // graded table: both curves are monotone non-decreasing per source
    val g = SparkEntry.queries("vocab_growth")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    g.groupBy(_._1).values.foreach { sc =>
      val byPct = sc.sortBy(_._2)
      assert(byPct.sliding(2).forall {
        case Array(p, q) => p._3 <= q._3 && p._4 <= q._4
        case _ => true
      })
    }
  }

  test("embed_outliers: a flipped vector ranks first against its own centroid; " +
      "cosine ties break on vec_id") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_outl").toString
    // centroid of label 0 = (0.5, 0): the three aligned vectors score
    // cos = 1, the flipped one cos = -1 and must surface as rank 1
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = SparkEntry.queries("embed_outliers")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq ===
      Seq((0L, 1L, 3L, -1.0), (0L, 2L, 0L, 1.0), (0L, 3L, 1L, 1.0)))
    // graded table: every label contributes exactly ranks 1..3 with
    // non-decreasing cosine
    val g = SparkEntry.queries("embed_outliers")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    g.groupBy(_._1).values.foreach { lab =>
      assert(lab.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)))
      val byRnk = lab.sortBy(_._2).map(_._3)
      assert(byRnk.sliding(2).forall {
        case Array(a, b) => a <= b
        case _ => true
      })
    }
  }

  test("label_purity: co-located minority label is the mislabel suspect; " +
      "agreement pools exactly from cell counts") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_purity").toString
    // four IDENTICAL vectors land in one LSH bucket regardless of the
    // hyperplane draw: the lone label-1 vector has 3 neighbors, all
    // disagreeing (minority); each label-0 vector agrees with 2 of 3
    val v = Array.fill(64)(0.1f)
    Seq((0L, v, 0), (1L, v, 0), (2L, v, 0), (3L, v, 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val rows = SparkEntry.queries("label_purity")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq((0L, 3L, 0L, 0.6667), (1L, 1L, 1L, 0.0)))
    // graded table: minority count bounded, pooled ratio in [0, 1]
    SparkEntry.queries("label_purity")(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("multimodal feature extraction: real PNG codec round trip per row") {
    val feats = Multimodal.extractFeatures(spark, sf).collect()
    assert(feats.length === 500)
    assert(feats.forall(_.n_px === 16))    // 4×4 grayscale thumbnail
    assert(feats.forall(_.feature.length === 8))
    val f0 = feats.find(_.doc_id == 0L).get
    assert(f0.mean_px > 0.0 && f0.mean_px < 255.0)
  }

  test("bpe: a corpus with no fusable pair fuses as a NO-OP, not an empty frame (ADVICE r8)") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_nofuse").toString
    // every word is a single character: no step ever finds an adjacent
    // symbol pair, so all 3 argmaxes are empty
    Seq((1L, "a b c", "en", "s1", 5L), (2L, "x y", "en", "s2", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(SparkEntry.queries("bpe_merge_k")(spark, tmp).collect().isEmpty,
      "no fusable pair must yield an empty merge table")
    val applied = SparkEntry.queries("bpe_apply")(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(applied === Map("s1" -> 1.0, "s2" -> 1.0),
      "bpe_apply must report compression 1 per source, never zero rows")
  }

  test("bpe merge-table lifecycle: persist -> reload -> apply is row-identical; " +
      "stale or fingerprint-less stores fail fast") {
    import graft.llm.TextOps
    val store = java.nio.file.Files.createTempDirectory("graft_bpe_store")
      .resolve("merges").toString
    TextOps.writeMerges(spark, sf, store)
    // round trip: application from the persisted artifact must be
    // row-identical to the in-session training loop's application
    val fromStore = TextOps.bpeApplyFrom(spark, sf,
      TextOps.loadMerges(spark, store, sf)).collect().toSeq.map(_.toString)
    val inSession = TextOps.bpeApply(spark, sf).collect().toSeq.map(_.toString)
    assert(fromStore === inSession)
    // stale store: a DIFFERENT corpus fingerprint must refuse to load
    val stale = intercept[IllegalArgumentException] {
      TextOps.loadMerges(spark, store, "/root/testdata/sf0.01")
    }
    assert(stale.getMessage.contains("stale merge table"))
    // fingerprint-less store: refuse, with the rebuild hint
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(store, "_built_from.json"))
    val bare = intercept[IllegalArgumentException] {
      TextOps.loadMerges(spark, store, sf)
    }
    assert(bare.getMessage.contains("_built_from.json"))
  }

  test("scalacheck: props_profile's parse surfaces EXACTLY the documented " +
      "(key, value) pairs on adversarial payloads — dirty-bus contract") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val s = spark; import s.implicits._

    // structured value space rendered to JSON text, with the model of
    // what Spark's map<string,string> + try_cast(BIGINT) surfaces
    sealed trait JV
    case class JInt(n: Long) extends JV
    case class JStr(v: String) extends JV
    case object JFloat extends JV
    case object JTrue extends JV
    case object JNull extends JV
    case object JArr extends JV
    case class JObj(inner: Long) extends JV
    def esc(str: String): String = str.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def render(v: JV): String = v match {
      case JInt(n)  => n.toString
      case JStr(x)  => "\"" + esc(x) + "\""
      case JFloat   => "1.5"
      case JTrue    => "true"
      case JNull    => "null"
      case JArr     => "[1,2]"
      case JObj(n)  => s"""{"e":$n}"""
    }
    // the numeric contract: integral text (space padding allowed), Long
    // range — Spark's try_cast; the DuckDB twin pins itself to the same
    // rule with the regex gate
    def vnOf(v: JV): Option[Long] = v match {
      case JInt(n) => Some(n)
      case JStr(x) =>
        val t = x.trim
        if (t.matches("[+-]?[0-9]+") && scala.util.Try(t.toLong).isSuccess)
          Some(t.toLong)
        else None
      case _ => None
    }
    val valGen: Gen[JV] = Gen.oneOf(
      Gen.choose(-1000000L, 1000000L).map(JInt),
      Gen.oneOf("42", " 7 ", "+5", "-0", "1.5", "1e3", "0x10", "abc", "",
        "9223372036854775808").map(JStr),
      Gen.const(JFloat), Gen.const(JTrue), Gen.const(JNull),
      Gen.const(JArr), Gen.choose(0L, 9L).map(JObj))
    val objGen: Gen[(String, Seq[(String, JV)])] = for {
      n  <- Gen.choose(0, 4)
      ks <- Gen.pick(n, Seq("plain", "a.b", "a\"b", "a\\b", "$.x", "arr[0]",
              "sp ace", "dash-key", "ключ"))
      vs <- Gen.listOfN(n, valGen)
    } yield {
      val entries = ks.toSeq.zip(vs) // distinct keys by construction
      val json = entries.map { case (k, v) => "\"" + esc(k) + "\":" + render(v) }
        .mkString("{", ",", "}")
      (json, entries)
    }
    val invalidGen: Gen[(String, Seq[(String, JV)])] =
      Gen.oneOf("not json", "{\"a\":1", "", "   ", "42", "[1,2]", "\"s\"",
        "{", "null", "true", "{]").map(p => (p, Nil))
    val docGen = Gen.frequency(3 -> objGen, 1 -> invalidGen)
    val caseGen: Gen[List[(String, Seq[(String, JV)])]] =
      Gen.listOfN(6, docGen).map(_.toList)

    val mapDdl = org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")
    val prop = Prop.forAll(caseGen) { docs =>
      val df = docs.map(_._1).zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "props")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.from_json(
              org.apache.spark.sql.functions.col("props"), mapDdl))
            .as(Seq("key", "v")))
        .selectExpr("id", "key", "try_cast(v AS BIGINT) AS vn")
      val got = df.collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      val want = docs.zipWithIndex.flatMap { case ((_, entries), i) =>
        entries.map { case (k, v) => (i.toLong, k, vnOf(v)) }
      }.toSet
      import Prop.propBoolean
      (got == want) :| s"surfaced=$got expected=$want docs=${docs.map(_._1)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(15)
        .withInitialSeed(Seed(0xD17L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("r13: dtw_band kernel — band 0 is exactly lockstep L1, identity is 0, " +
       "warping absorbs a one-hour shift lockstep cannot, and the graded " +
       "ranking agrees with L2 on monotone-aligned fixtures") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.dtw_band
    val rnd = new scala.util.Random(41)
    val n = 24
    def series(): Seq[Long] = Seq.fill(n)(rnd.nextInt(2000).toLong - 1000L)
    val fixtures = Seq.fill(40)((series(), series()))
    val df = spark.createDataFrame(fixtures.zipWithIndex.map {
      case ((a, b), i) => (i.toLong, a, b)
    }).toDF("id", "a", "b")
    // band 0 == Σ|a_i − b_i| exactly, on every fixture
    val got0 = df.select(col("id"), dtw_band(col("a"), col("b"), n, 0).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fixtures.zipWithIndex.foreach { case ((a, b), i) =>
      val l1 = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
      assert(got0(i.toLong) === l1, s"band-0 DTW != lockstep L1 at fixture $i")
    }
    // identity: dtw(a, a, k) == 0 for every band
    for (k <- Seq(0, 2, 5)) {
      val z = df.select(dtw_band(col("a"), col("a"), n, k).as("d"))
        .agg(max(col("d"))).head().getLong(0)
      assert(z === 0L, s"dtw(a, a, band=$k) != 0")
    }
    // a one-step shift: banded DTW sees near-zero where lockstep sees
    // the full displacement (the reason the operator exists)
    val base = (0 until n).map(i => (i * 37L % 211L) * 100L)
    val shifted = base.drop(1) :+ base.last
    val sd = spark.createDataFrame(Seq((1L, base, shifted)))
      .toDF("id", "a", "b")
    val lockstep = sd.select(dtw_band(col("a"), col("b"), n, 0)).head().getLong(0)
    val warped = sd.select(dtw_band(col("a"), col("b"), n, 2)).head().getLong(0)
    assert(warped < lockstep,
      s"band-2 DTW ($warped) did not beat lockstep ($lockstep) on a shift")
    // the only unavoidable cost is the mandatory (0,0) start cell,
    // |a0 − b0| = |a0 − a1|; everything after aligns a_i ↔ b_{i−1} = a_i
    assert(warped <= math.abs(base.head - base(1)),
      "a 1-shift should cost at most the mandatory start cell")
    // hand-computed 3-point example: a=[0,10,0], b=[10,0,0], band 1:
    // path (0,0)=10 →(1,0)diag? cells: d00=10, d01(b=0):|0-0|+10=10,
    // d10:|10-10|+10=10, d11:|10-0|+min(10,10,10)=20, d12:|10-0|+min(10,20)...
    // cheapest: d22 = |0-0| + min(d12, d21, d11); d21=|0-0|+min(d11,d10)=10;
    // d12=|10-0|+min(d01,d11)=20 → d22 = min(20,10,20) = 10
    val tiny = spark.createDataFrame(Seq(
      (1L, Seq(0L, 10L, 0L), Seq(10L, 0L, 0L)))).toDF("id", "a", "b")
    assert(tiny.select(dtw_band(col("a"), col("b"), 3, 1)).head().getLong(0) === 10L)
    // null poisoning: null element or wrong length → NULL
    val bad = spark.createDataFrame(Seq(
      (1L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (2L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L))))
      .toDF("id", "a", "b")
    assert(bad.select(dtw_band(col("a").cast("array<long>"),
        col("b").cast("array<long>"), 3, 1).as("d"))
      .collect().forall(_.isNullAt(0)))
    // ranking parity with L2 on monotone-aligned fixtures: candidates at
    // well-separated uniform offsets from the query — every alignment
    // cost is dominated by the offset, so DTW(any band), L1 and L2 agree
    val q = (0 until n).map(i => 1000L * i)
    val cands = Seq(5L, 1L, 9L, 3L, 7L).zipWithIndex.map { case (off, i) =>
      (i.toLong, q.map(_ + off * 10000L))
    }
    val cd = spark.createDataFrame(cands.map { case (i, xs) => (i, q, xs) })
      .toDF("uid", "q", "xs")
    val byDtw = cd.select(col("uid"), dtw_band(col("q"), col("xs"), n, 2).as("d"))
      .orderBy(col("d"), col("uid")).collect().map(_.getLong(0)).toSeq
    val byL2 = cands.sortBy { case (_, xs) =>
      q.zip(xs).map { case (a, b) => (a - b) * (a - b) }.sum
    }.map(_._1)
    assert(byDtw === byL2, "DTW ranking diverged from L2 on aligned fixtures")
    // the SQL surface: registered builder, plan-time-specialized grid
    assert(spark.sql(
      "SELECT dtw_band(array(0L, 10L, 0L), array(10L, 0L, 0L), 3, 1) AS d")
      .head().getLong(0) === 10L)
    // the graded query itself: 3 rows per query user, distances
    // non-decreasing per rank, reruns bit-identical
    val fn = graft.rel.RelQueries.queries("ts_dtw_topk")
    val rows = fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.grouped(3).forall { g =>
      g.map(_.getLong(3)).toSeq == g.map(_.getLong(3)).sorted.toSeq
    })
    assert(fn(spark, sf).collect().map(_.toString).toSeq ===
      rows.map(_.toString).toSeq)
    // LB_Keogh soundness — the zero-recall-loss guarantee the audit
    // sells: the envelope bound must sit at or below the true banded
    // DTW on EVERY (query, candidate) pair, recomputed independently
    // in Scala from the raw series
    val pairs = graft.rel.RelQueries.tsDtwDistances(spark, sf)
      .select(col("qid"), col("user_id"), col("qxs"), col("xs"), col("dtw"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val qxs = r.getSeq[Long](2)
      val xs = r.getSeq[Long](3)
      val lb = (0 until 24).map { h =>
        val w = qxs.slice(math.max(h - 2, 0), math.min(h + 2, 23) + 1)
        math.max(math.max(xs(h) - w.max, w.min - xs(h)), 0L)
      }.sum
      assert(lb <= r.getLong(4),
        s"LB_Keogh ($lb) exceeded DTW (${r.getLong(4)}) for " +
          s"qid=${r.getLong(0)} cand=${r.getLong(1)} — the prune is unsound")
    }
    // and the graded audit itself prunes something on this corpus
    // without ever pruning a true top-3 row (lb > tau excludes by
    // construction given lb <= dtw; assert the frame shape)
    val audit = graft.rel.RelQueries.queries("ts_dtw_lb_audit")(spark, sf).collect()
    assert(audit.length === 5 &&
      audit.forall(a => a.getLong(3) >= 0 && a.getLong(3) <= a.getLong(2)))
  }

  test("r13: graph_triangles — degree-oriented count is exact on K4, a " +
       "star (0), and a triangle-with-pendant (1); each triangle counted " +
       "once despite hub-skewed degrees") {
    def run(orders: Seq[(Long, Long)]): (Long, Long, Long) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_tri").toString
      val s = spark; import s.implicits._
      orders.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val r = graft.rel.RelQueries.queries("graph_triangles")(spark, tmp).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // K4 via one order containing 4 parts: C(4,2)=6 edges, C(4,3)=4 triangles
    assert(run(Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L))) === ((4L, 6L, 4L)))
    // star: hub part 1 co-ordered pairwise with 2..5, leaves never
    // co-ordered → 4 edges, 0 triangles (the hub-skew shape the
    // orientation exists for: all wedges sit at the hub unoriented,
    // none after orienting hub-last)
    assert(run(Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L),
                   (3L, 1L), (3L, 4L), (4L, 1L), (4L, 5L))) ===
      ((5L, 4L, 0L)))
    // triangle {1,2,3} + pendant 4 on node 1; edge (1,2) repeated in a
    // second order — dedup keeps the count at exactly 1
    assert(run(Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 4L),
                   (3L, 1L), (3L, 2L))) === ((4L, 4L, 1L)))
  }

  test("r14: coOrderEdges memo revalidates the lineitem fingerprint — a " +
       "dir rewritten in-session rebuilds the edge frame instead of " +
       "serving stale co-order edges (the graphCache discipline)") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_coedge_fresh").toString
    // K4: one order with 4 parts → 6 edges, 4 triangles
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val fn = graft.rel.RelQueries.queries("graph_triangles")
    val before = fn(spark, tmp).head()
    assert((before.getLong(0), before.getLong(1), before.getLong(2)) ===
      ((4L, 6L, 4L)))
    // a second invocation against the UNCHANGED dir serves the memo
    // (same result; the build-once claim is ScanAudit territory)
    assert(fn(spark, tmp).head() === before)
    Thread.sleep(1100) // distinct mtime even on coarse filesystems
    // rewrite under the SAME path: triangle {1,2,3} only → 3 edges, 1 tri
    Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val after = fn(spark, tmp).head()
    assert((after.getLong(0), after.getLong(1), after.getLong(2)) ===
      ((3L, 3L, 1L)),
      "coOrderEdges served the pre-rewrite edge frame — fingerprint " +
        "revalidation inert")
  }

  test("r14: skyline_parts3 — exact duplicates both survive, a point " +
       "dominated ONLY via the sales criterion is killed, a point beaten " +
       "on price+size is saved by sales alone, and zero-sales parts " +
       "participate") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sky3").toString
    // (pk, price, size): A/B exact duplicates; C = A but fewer sales;
    // F beaten by E on price (case 1); G beaten by E on size at the
    // same price (case 2a); H has no sales rows at all; I loses on
    // price and size but has the most sales
    Seq((1L, 10.00, 10), (2L, 10.00, 10), (3L, 10.00, 10),
        (4L, 9.00, 5), (5L, 11.00, 12), (6L, 11.50, 12),
        (7L, 11.00, 11), (8L, 8.00, 1), (9L, 12.00, 12))
      .toDF("p_partkey", "p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$tmp/part.parquet")
    val salesOf = Map(1L -> 5, 2L -> 5, 3L -> 4, 4L -> 1, 5L -> 3,
                      6L -> 3, 7L -> 3, 9L -> 10)
    salesOf.toSeq.flatMap { case (pk, n) => Seq.fill(n)(pk) }
      .toDF("l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = graft.rel.RelQueries.queries("skyline_parts3")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got.keySet === Set(1L, 2L, 4L, 5L, 8L, 9L),
      s"3-D skyline membership wrong: $got")
    assert(got(8L) === 0L, "zero-sales part must carry n_sales = 0")
    assert(got(9L) === 10L, "the sales-saved point must report its count")
  }

  test("r14: HIndexExpr — the compiled kernel matches the definitional " +
       "h-index (largest h with >= h elements >= h) on random arrays " +
       "and the edge shapes") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def kernel(a: Seq[Long]): Long =
      graft.functions.HIndexExpr.hIndex(new GenericArrayData(a.toArray))
    def reference(a: Seq[Long]): Long =
      if (a.isEmpty) 0L
      else (0L to a.length.toLong).filter(h => a.count(_ >= h) >= h).max
    assert(kernel(Nil) === 0L)
    assert(kernel(Seq(0L, 0L, 0L)) === 0L)
    assert(kernel(Seq(5L, 4L, 2L)) === 2L)
    assert(kernel(Seq(3L, 3L, 3L)) === 3L)
    val rnd = new scala.util.Random(14)
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong)
      assert(kernel(a) === reference(a), s"h-index wrong on $a")
    }
  }

  test("r14: corenessOf — textbook corenesses on hand graphs (path, " +
       "clique, barbell) and the loud guard fires when the unroll depth " +
       "is too shallow") {
    val s = spark; import s.implicits._
    def coreness(edges: Seq[(Long, Long)], maxRounds: Int = 32) =
      graft.rel.RelQueries.corenessOf(
          edges.toDF("u", "v"), maxRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4: every node has coreness 1
    assert(coreness(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // K5: everyone coreness 4
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    assert(coreness(k5) === (1L to 5L).map(_ -> 4L).toMap)
    // barbell: two K4s joined by the bridge edge (4,5), plus a pendant
    // node hanging off 4 — the cliques keep coreness 3 (the bridge and
    // pendant raise degrees but no core), the pendant gets 1
    val k4a = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val k4b = for { a <- 5L to 8L; b <- (a + 1) to 8L } yield (a, b)
    val barbell = k4a ++ k4b ++ Seq((4L, 5L), (4L, 100L))
    val got = coreness(barbell)
    assert((1L to 8L).forall(got(_) === 3L) && got(100L) === 1L,
      s"barbell corenesses wrong: $got")
    // guard: a depth the iteration cannot finish in must throw loudly,
    // never return a half-converged labeling (the path's interior
    // values drop in round 1, so the settling pass is round 2 — K5
    // would NOT do: its degrees already equal its corenesses)
    val err = intercept[IllegalArgumentException](
      coreness(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 1))
    assert(err.getMessage.contains("CorenessTwinRounds"))
  }

  test("r13: graph_triangles_approx — the md5 edge sample sits near " +
       "p = 1/4, the estimate is 64x the sampled count, and reruns are " +
       "bit-identical (deterministic sampling, no RNG)") {
    val exact = graft.rel.RelQueries.queries("graph_triangles")(spark, sf)
      .head()
    val apx = graft.rel.RelQueries.queries("graph_triangles_approx")(spark, sf)
      .head()
    val frac = apx.getLong(0).toDouble / exact.getLong(1)
    assert(frac > 0.15 && frac < 0.35, s"sample fraction $frac far from 1/4")
    assert(apx.getLong(2) === apx.getLong(1) * 64L)
    assert(graft.rel.RelQueries.queries("graph_triangles_approx")(spark, sf)
      .head().toString === apx.toString)
  }

  test("r13: kcoreOf — the peel fixpoint on hand graphs: K4 + tail " +
       "(3-core = K4, multi-round peel), empty core, and the loud " +
       "max-rounds guard") {
    val s = spark; import s.implicits._
    // cycle {1,2,3,4} with a pendant path 4–5–6–7–8: at k=2 the path
    // peels ONE node per round (8 first — its removal lowers 7 below
    // k, and so on: a genuine cascade), leaving the cycle, all deg 2
    val cyclePath = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L)).toDF("u", "v")
    val core = graft.rel.RelQueries.kcoreOf(cyclePath, 2, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(core === Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 2L)))
    // a star has no 2-core: leaves drop, then the stranded hub — empty
    val star = (2L to 6L).map(i => (1L, i)).toDF("u", "v")
    assert(graft.rel.RelQueries.kcoreOf(star, 2, 8).count() === 0L)
    // a cascade deeper than the unroll depth fails LOUDLY instead of
    // silently diverging from the twin
    val longPath = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)) ++
      (4L to 20L).map(i => (i, i + 1))).toDF("u", "v")
    val e = intercept[IllegalArgumentException] {
      graft.rel.RelQueries.kcoreOf(longPath, 2, 4).collect()
    }
    assert(e.getMessage.contains("more than 4 rounds"))
  }

  test("r13: skyline_parts — the window/broadcast decomposition equals " +
       "brute-force NOT-EXISTS dominance, duplicates both survive, " +
       "same-price strict-size and same-bucket strict-price kills work") {
    import org.apache.spark.sql.functions._
    // brute force over the real corpus
    val pts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice").as("pr"),
        col("p_size").cast("long").as("sz")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val brute = pts.filter { case (_, pp, ps) =>
      !pts.exists { case (_, qp, qs) =>
        qp <= pp && qs >= ps && (qp < pp || qs > ps) }
    }.map(_._1).sorted.toSeq
    val got = graft.rel.RelQueries.queries("skyline_parts")(spark, sf)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === brute)
    // hand-built edge cases through the same decomposition: write a
    // tiny part table and run the graded query on it
    val tmp = java.nio.file.Files.createTempDirectory("graft_sky").toString
    val s = spark; import s.implicits._
    Seq(
      (1L, 10.00, 5),  // skyline; duplicated by 2 — neither dominates
      (2L, 10.00, 5),  //   the other (strict-in-one), BOTH survive
      (3L, 10.00, 4),  // same price, strictly smaller size — dominated
      (4L, 9.99, 4),   // cheaper but smaller: dominates 3, not 1/2; skyline
      (5L, 120.00, 6), // killed by 6 (cheaper, same size)
      (6L, 119.99, 6), // skyline
      (7L, 130.00, 6)  // same size as 6, pricier, later bucket — dominated
    ).toDF("p_partkey", "p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$tmp/part.parquet")
    val tiny = graft.rel.RelQueries.queries("skyline_parts")(spark, tmp)
      .collect().map(_.getLong(0)).toSeq
    // ordered by (price, partkey): 4 (9.99), the duplicate pair, 6
    assert(tiny === Seq(4L, 1L, 2L, 6L))
  }

  test("r13: interval_concurrency — closed-interval sweep semantics on a " +
       "hand-built day: shared-instant handoff counts both sessions, " +
       "instantaneous sessions count, days are independent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sweep").toString
    val s = spark; import s.implicits._
    def t(day: Int, min: Int) =
      new java.sql.Timestamp(1704067200000L + day * 86400000L + min * 60000L)
    // u1 [1,3], u2 [3,5] — handoff at minute 3 must count BOTH (peak 2);
    // u3 [7,7] instantaneous; day 2: u4 alone (peak 1, independent)
    Seq(
      (1L, t(0, 1), 1L, "click", 1.0, "{}"),
      (2L, t(0, 3), 1L, "click", 1.0, "{}"),
      (3L, t(0, 3), 2L, "click", 1.0, "{}"),
      (4L, t(0, 5), 2L, "click", 1.0, "{}"),
      (5L, t(0, 7), 3L, "click", 1.0, "{}"),
      (6L, t(1, 2), 4L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.rel.RelQueries.queries("interval_concurrency")(spark, tmp)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(("2024-01-01", 3L, 2L), ("2024-01-02", 1L, 1L)))
  }

  test("r13: ts_dtw_pruned — the LB_Keogh-served search returns EXACTLY " +
       "the brute-force top-3 (prune is physical, not semantic) and the " +
       "cut strictly shrinks the kernel set") {
    val brute = graft.rel.RelQueries.queries("ts_dtw_topk")(spark, sf)
      .collect().map(_.toString).toSeq
    val pruned = graft.rel.RelQueries.queries("ts_dtw_pruned")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(pruned === brute,
      "the served ranking diverged from the brute-force ground truth")
    // the cut must actually bite: at sf0.001 the 14-candidate corpus is
    // too small for the envelope bound to exclude anyone (the audit
    // measures 0% there too), so the shrink assertion runs at sf0.01 —
    // 149 candidates/query, where the audit's exact-τ prune is ~5%
    // and the serving τ ≥ τ* keeps a subset of that
    val sf01 = "/root/testdata/sf0.01"
    val nPairs = graft.rel.RelQueries.tsDtwDistances(spark, sf01).count()
    val nSurvivors = graft.rel.RelQueries.tsDtwSurvivors(spark, sf01).count()
    assert(nSurvivors < nPairs,
      s"the LB cut pruned nothing ($nSurvivors of $nPairs survived) — " +
        "the serving path degenerated to brute force")
    // and the sf0.01 served ranking still equals brute force
    assert(graft.rel.RelQueries.queries("ts_dtw_pruned")(spark, sf01)
             .collect().map(_.toString).toSeq ===
           graft.rel.RelQueries.queries("ts_dtw_topk")(spark, sf01)
             .collect().map(_.toString).toSeq)
  }

  test("r15: HIndexHistExpr kernel — histogram h-index matches the " +
       "expanded-multiset kernel on random data, split-count rows, and " +
       "the edge shapes") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def hist(pairs: Seq[(Long, Long)]): Long =
      graft.functions.HIndexExpr.hIndexHist(new GenericArrayData(
        pairs.map { case (v, c) =>
          new GenericInternalRow(Array[Any](v, c)) }.toArray[Any]))
    def flat(a: Seq[Long]): Long =
      graft.functions.HIndexExpr.hIndex(new GenericArrayData(a.toArray))
    assert(hist(Nil) === 0L)
    assert(hist(Seq((0L, 5L))) === 0L)
    assert(hist(Seq((3L, 3L))) === 3L)
    // duplicate VALUE across rows (a split count) folds identically
    assert(hist(Seq((3L, 1L), (3L, 2L))) === 3L)
    assert(hist(Seq((3L, 2L), (5L, 1L), (3L, 1L))) === 3L)
    val rnd = new scala.util.Random(15)
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(25).toLong)
      val grouped = a.groupBy(identity).toSeq
        .map { case (v, g) => (v, g.size.toLong) }
      // shuffled row order: the kernel must not assume sorted input
      val shuffled = rnd.shuffle(grouped)
      assert(hist(shuffled) === flat(a), s"hist h-index wrong on $a")
    }
  }

  test("r15: coreness gather is label-bounded, not degree-bounded — a " +
       "40-leaf star hub's gathered histogram is ONE row (clamped at " +
       "the leaves' shared label), and the star corenesses are exact") {
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val edges = (1L to 40L).map(l => (0L, l)).toDF("u", "v")
    val sym = edges.union(edges.select(col("v"), col("u")))
      .toDF("u", "v").localCheckpoint(true)
    val cv = sym.groupBy(col("u")).agg(count(lit(1)).as("cv"))
      .select(col("u").as("node"), col("cv")).localCheckpoint(true)
    val hist = graft.rel.RelQueries.corenessGatherHist(sym, cv)
      .collect().groupBy(_.getLong(0))
    // hub: degree 40, ONE histogram row — (hv = 1, cnt = 40): the 40
    // gathered leaf labels collapse in the grouped pre-aggregation
    val hub = hist(0L).map(r => (r.getLong(1), r.getLong(2)))
    assert(hub.toSeq === Seq((1L, 40L)),
      s"hub gathered state not label-bounded: ${hub.toSeq}")
    // every leaf gathers the hub's label 40 CLAMPED at its own label 1
    (1L to 40L).foreach { l =>
      assert(hist(l).map(r => (r.getLong(1), r.getLong(2))).toSeq ===
        Seq((1L, 1L)), s"leaf $l clamp wrong")
    }
    // and the full fixpoint still lands the textbook star corenesses
    val labels = graft.rel.RelQueries.corenessOf(
        (1L to 40L).map(l => (0L, l)).toDF("u", "v"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (0L to 40L).map(_ -> 1L).toMap,
      s"star corenesses wrong: $labels")
  }

  test("r15: lpaOf — a clique converges in ONE round (the self-vote), " +
       "two cliques joined by a bridge keep SEPARATE communities, and " +
       "the propagation is deterministic under reruns") {
    val s = spark; import s.implicits._
    def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
      graft.rel.RelQueries.lpaOf(edges.toDF("u", "v"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k4a = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val k4b = for { a <- 5L to 8L; b <- (a + 1) to 8L } yield (a, b)
    // a clique floods to its min id in a single round: every node sees
    // all ids with one vote each and the tie breaks to the smallest
    assert(lpa(k4a, 1) === (1L to 4L).map(_ -> 1L).toMap,
      "K4 did not converge in one round")
    // the bridge edge (4,5) must NOT merge the cliques: node 5's brief
    // round-1 capture by the smaller bridge label is out-voted by its
    // clique in round 2
    val got = lpa(k4a ++ k4b ++ Seq((4L, 5L)), 4)
    assert(got === ((1L to 4L).map(_ -> 1L) ++ (5L to 8L).map(_ -> 5L)).toMap,
      s"bridged cliques wrong: $got")
    assert(lpa(k4a ++ k4b ++ Seq((4L, 5L)), 4) === got,
      "LPA rerun diverged — the tie-break is not deterministic")
  }

  test("r16: lpaOfGuarded — the convergence require FIRES on a corpus " +
       "still moving at the fixed round count and passes once the " +
       "count covers the diameter") {
    val s = spark; import s.implicits._
    // a 6-node path: min-label floods one hop per round (every vote
    // set ties, min wins), so node 6 reaches label 1 only at round 5 —
    // rounds 3≠4 AND 4≠5, exactly the movement the guard must see
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("u", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.rel.RelQueries.lpaOfGuarded(path, 4).collect()
    }
    assert(ex.getMessage.contains("LpaRounds"),
      s"guard message must name the constant to raise: ${ex.getMessage}")
    val done = graft.rel.RelQueries.lpaOfGuarded(path, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(done === (1L to 6L).map(_ -> 1L).toMap,
      s"path did not flood to its min id: $done")
    // the guard must not perturb the labels the unguarded run produces
    assert(done === graft.rel.RelQueries.lpaOf(path, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("r16: modularityStats — exact-integer q_num ranks the bridged-" +
       "cliques partition strictly above the one-community labeling, " +
       "and the one-community numerator is exactly zero") {
    val s = spark; import s.implicits._
    val k4a = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val k4b = for { a <- 5L to 8L; b <- (a + 1) to 8L } yield (a, b)
    val edges = (k4a ++ k4b ++ Seq((4L, 5L))).toDF("u", "v")
    def qnum(labels: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
      val r = graft.rel.Modularity
        .stats(edges, labels.toDF("node", "part"), "t")
        .collect().head
      (r.getAs[Long]("q_num"), r.getAs[Long]("m"),
       r.getAs[Long]("intra_edges"), r.getAs[Long]("sum_deg_sq"))
    }
    val two = (1L to 4L).map(_ -> 1L) ++ (5L to 8L).map(_ -> 5L)
    val one = (1L to 8L).map(_ -> 1L)
    val (q2, m, intra, sds) = qnum(two)
    val (q1, _, _, _) = qnum(one)
    // hand arithmetic: m=13, intra=12, per-clique degree sum 13 each →
    // Σd² = 338, q_num = 4·13·12 − 338 = 286
    assert((m, intra, sds, q2) === ((13L, 12L, 338L, 286L)),
      s"bridged-clique integers wrong: m=$m intra=$intra sds=$sds q=$q2")
    // one community: intra = m and Σd² = (2m)², so q_num ≡ 0 exactly
    assert(q1 === 0L, s"one-community numerator must be exactly 0: $q1")
    assert(q2 > q1, "the true 2-community split must score strictly above")
  }

  test("r16: the pagerank rank sequences persist as warehouse tables — " +
       "a fresh session replays all four graph queries with ZERO new " +
       "iterations, and a dropped-catalog session ADOPTS the files") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pr_persist")
      .toString
    // 2 customers (1 BUILDING seed) x 2 suppliers bipartite purchases
    Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 2L))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val fam = Seq("graph_pagerank", "graph_trustrank",
                  "graph_pagerank_dyn", "graph_converged")
    def runAll(sess: SparkSession): Map[String, Seq[String]] =
      fam.map(q => q -> graft.rel.RelQueries.queries(q)(sess, tmp)
        .collect().map(_.toString).toSeq).toMap
    val i0 = graft.rel.RelQueries.pagerankIterationsRun.get()
    val expect = runAll(s)
    assert(graft.rel.RelQueries.pagerankIterationsRun.get() > i0,
      "cold build must have iterated")
    val i1 = graft.rel.RelQueries.pagerankIterationsRun.get()
    // fresh session (fresh memo): the persisted tables answer all four
    // queries — zero new graphIterate materializations, and the lazy
    // prep means the edge frame is never even built
    assert(runAll(s.newSession()) === expect)
    assert(graft.rel.RelQueries.pagerankIterationsRun.get() === i1,
      "a fresh session re-iterated despite the persisted rank tables")
    // "new JVM": catalog forgets the external tables, files survive —
    // the next session must ADOPT all three, still zero iterations
    val fp = graft.rel.RelQueries.graphFp(tmp)
    for (t <- Seq(graft.rel.RelQueries.prSeqTable(fp),
                  graft.rel.RelQueries.prDynTable(fp),
                  graft.rel.RelQueries.trTable(fp)))
      s.sql(s"DROP TABLE $t")
    val a0 = graft.rel.Warehouse.adopted.get()
    assert(runAll(s.newSession()) === expect)
    assert(graft.rel.RelQueries.pagerankIterationsRun.get() === i1,
      "adoption path re-ran the iteration")
    assert(graft.rel.Warehouse.adopted.get() === a0 + 3,
      "dropped-catalog restart did not adopt the three rank tables")
  }

  test("r15: coreness labels and co-order edges persist as warehouse " +
       "tables — a fresh session reuses them with ZERO fixpoint rounds, " +
       "and a session whose catalog forgot them ADOPTS the files " +
       "instead of rebuilding") {
    val s = spark; import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_core_persist")
      .toString
    // K4 co-order graph: one order with 4 parts — corenesses all 3
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val fn = graft.rel.RelQueries.queries("graph_coreness")
    def labelsOf(sess: SparkSession): Map[Long, Long] =
      fn(sess, tmp).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (1L to 4L).map(_ -> 3L).toMap
    val c0 = graft.rel.RelQueries.corenessRoundsRun.get()
    assert(labelsOf(s) === expect)
    assert(graft.rel.RelQueries.corenessRoundsRun.get() > c0,
      "cold build must have iterated")
    // same session, second invocation: memoized frame, zero new rounds
    val c1 = graft.rel.RelQueries.corenessRoundsRun.get()
    assert(labelsOf(s) === expect)
    assert(graft.rel.RelQueries.corenessRoundsRun.get() === c1)
    // fresh session (fresh memo), catalog entry still present: the
    // label table answers — zero rounds
    assert(labelsOf(s.newSession()) === expect)
    assert(graft.rel.RelQueries.corenessRoundsRun.get() === c1,
      "a fresh session re-ran the fixpoint despite the label table")
    // "new JVM": the catalog forgets the (external) tables, the files
    // survive — the next session must ADOPT, zero rounds, no rewrite
    val fp = graft.Fingerprint.ofTables(tmp, "lineitem.parquet")
    s.sql(s"DROP TABLE ${graft.rel.RelQueries.corenessTable(fp)}")
    s.sql(s"DROP TABLE ${graft.rel.RelQueries.coOrderEdgesTable(fp)}")
    val a0 = graft.rel.Warehouse.adopted.get()
    assert(labelsOf(s.newSession()) === expect)
    assert(graft.rel.RelQueries.corenessRoundsRun.get() === c1,
      "adoption path re-ran the fixpoint")
    assert(graft.rel.Warehouse.adopted.get() === a0 + 2,
      "dropped-catalog restart did not adopt the surviving tables")
  }
}
