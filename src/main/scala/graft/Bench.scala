package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Hygiene contract:
  *   - queries run in sorted-name order (stable run-to-run comparison);
  *   - a full untimed warm pass precedes the timed pass, so timings are
  *     steady-state (JIT/codegen/parquet-footing warm) not first-touch;
  *   - failures are never masked: a crashing query is listed in "failed"
  *     and excluded from "value" (the summed ok time), so a crash can
  *     never IMPROVE the bench;
  *   - the JSON line is flushed before spark.stop() so trailing shutdown
  *     noise cannot swallow it.
  */
object Bench {
  private def fmt(v: Double): String = math.rint(v * 1000) / 1000 match {
    case r => java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // SPARK_GRAFT_ONLY=a,b,c — time just those queries (local iteration).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    ordered.foreach { case (_, fn) => // untimed warm pass
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () } // timed pass reports it
    }

    // SPARK_GRAFT_BENCH_RUNS timed passes per query (default 3), MEDIAN
    // reported: the r4->r5 history showed single-shot timings can be
    // box-noise-dominated, which made round-over-round regression
    // comparisons untrustworthy. Passes are INTERLEAVED — the whole
    // catalog runs once, then again, then again — not 3 back-to-back
    // runs per query: back-to-back sampling puts all of a query's
    // samples inside the same seconds-long window, so one transient box
    // disturbance poisons every sample of the queries it overlaps (the
    // r7 driver run showed exactly that — two alphabetically CONTIGUOUS
    // slow blocks). With pass-wise interleaving each query's samples
    // are minutes apart and the median shakes off any single-window
    // disturbance. Per-query run lists are persisted in the committed
    // file so the spread stays auditable. A query that crashes on any
    // pass is failed outright (skipping its remaining passes) — a crash
    // can never improve the bench. NonFatal only: an OOM/JVM error
    // must crash the run visibly, not be recorded as a query failure.
    val nRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // UNTIMED warmup passes before the recorded ones (default 1,
    // SPARK_GRAFT_BENCH_WARMUP=0 to disable): every adjudicated bench
    // flag of r13 (mm_phash_pairs, dsir_weights, grouping_sets,
    // domain_caps_salted) had the same signature — first recorded
    // passes inflated by page-cache/JIT pressure from the full
    // suite/Verify run just before, last pass at the historical
    // median. A warmup pass absorbs that window so a 3-pass median
    // measures the operator, not the box's recovery curve.
    val nWarmup = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt)
    val times = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val okFlag = scala.collection.mutable.Map.empty[String, Boolean]
    ordered.foreach { case (name, _) =>
      times(name) = scala.collection.mutable.ArrayBuffer.empty[Double]
      okFlag(name) = true
    }
    def medianOf(ts: Seq[Double]): Double =
      if (ts.isEmpty) 0.0 else {
        val s = ts.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      }
    def timedPass(subset: Set[String], label: Int => String): Unit =
      ordered.foreach { case (name, fn) =>
        if (okFlag(name) && subset.contains(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            times(name) += (System.nanoTime() - t0) / 1e9
          } catch { // fail the query, but never silently: the committed bench
            case scala.util.control.NonFatal(e) => // is the audit trail for crashes too
              System.err.println(s"bench fail: $name ${label(0)}: $e")
              okFlag(name) = false
          }
        }
      }
    val allNames = ordered.map(_._1).toSet
    var pass = -nWarmup // negative passes run but record nothing
    while (pass < nRuns) {
      val p = pass
      ordered.foreach { case (name, fn) =>
        if (okFlag(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            if (p >= 0) times(name) += (System.nanoTime() - t0) / 1e9
          } catch { // fail the query, but never silently
            case scala.util.control.NonFatal(e) =>
              // a warmup-only failure still disqualifies the query (zero
              // recorded times, listed in "failed") BY DESIGN: a query
              // that crashes on any execution cannot be trusted on the
              // recorded ones either, and a crash must never improve
              // the bench by skipping work
              val label = if (p < 0) s"warmup pass ${p + nWarmup + 1}"
                          else s"pass ${p + 1}"
              System.err.println(s"bench fail: $name $label: $e")
              okFlag(name) = false
          }
        }
      }
      pass += 1
    }
    // SUB-SECOND queries get extra interleaved passes to a total of
    // SPARK_GRAFT_BENCH_RUNS_SUBSEC (default 5, r14 VERDICT Next #5):
    // every adjudicated bench flag of r13/r14 was a CHEAP query whose
    // 3-sample median landed on a transient box window covering two of
    // the three passes — queries where box noise dominates the
    // operator's own cost are exactly the ones needing more samples,
    // and their extra passes are bounded by their own sub-second
    // medians (≤ ~2 × Σ sub-second cost of wall-clock). The committed
    // per-query run lists keep the widened spread auditable; comparers
    // take the per-pass MIN, which the extra samples stabilize.
    val nRunsSub = math.max(nRuns,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS_SUBSEC", "5").toInt)
    var extra = nRuns
    while (extra < nRunsSub) {
      val e = extra
      val subsec = allNames.filter(n =>
        okFlag(n) && times(n).nonEmpty && medianOf(times(n).toSeq) <= 1.0)
      timedPass(subsec, _ => s"sub-second pass ${e + 1}")
      extra += 1
    }
    val results = ordered.map { case (name, _) =>
      val ts = times(name).toSeq
      (name, medianOf(ts), okFlag(name), ts)
    }
    val failed = results.collect { case (n, _, false, _) => n }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, _, ts) =>
      "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // member → billing-family id for the streaming co-schedules: the
    // family's wall-clock bills to its first-invoked member (siblings
    // ~0), so comparers must fold these entries before ratioing. Emitted
    // here so the raw artifact is self-describing (bench_compare.py
    // reads this field instead of guessing from name patterns).
    val famJson = graft.stream.StreamGrade.billingFamilies.toSeq
      .filter { case (m, _) => times.contains(m) }.sorted
      .map { case (m, f) => "\"" + m + "\":\"" + f + "\"" }
      .mkString("{", ",", "}")
    // per-member concurrent-sink seconds recorded inside the family
    // co-schedules (every pass, warmup included): the family bill stays
    // on its first-invoked member, but drift of an individual member is
    // auditable here instead of hiding inside the family line. These
    // run under co-schedule thread contention — telemetry, not billing.
    val memberJson = graft.stream.StreamGrade.drainMemberTimes().toSeq.sortBy(_._1)
      .map { case (m, ts) => "\"" + m + "\":" + ts.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val okTotal = results.collect { case (_, v, true, _) => v }.sum
    // ONE set of summary fields, interpolated into both lines — the
    // short tail-capture summary and the full per-query line can never
    // drift field-for-field
    val head = s""""metric":"total","value":${fmt(okTotal)},"unit":"sec""""
    val tail = s""""n_ok":${results.count(_._3)},"n_fail":${failed.length},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""bench_runs":$nRuns,"sf":"$sfDir""""
    val json = s"""{$head,"queries":$qs,"runs":$runsJson,"families":$famJson,""" +
      s""""stream_members":$memberJson,$tail}"""
    val summary = s"""{$head,$tail}"""
    println(json)
    System.out.flush()
    // ALSO persist the full per-query map: the driver's tail capture
    // clips the stdout line past ~60 queries, so the committed file is
    // the only place every timing stays auditable round over round
    // a SPARK_GRAFT_ONLY-filtered run must never clobber the default
    // full-suite recording (comparers normalize off its canary set —
    // a 2-query debug file there poisons every later comparison), so
    // filtered runs divert to a _partial file unless explicitly routed
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_local_partial.json" else "BENCH_local.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { // an unwritable cwd must not fail the bench — but say so
      case e: java.io.IOException =>
        System.err.println(s"warn: could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // repeat as the process's final lines: shutdown noise can push the first
    // print out of a bounded tail capture. The LAST line is a SHORT summary
    // (no per-query map) so a bounded tail always captures a parseable JSON
    // head even when the full per-query line is longer than the capture.
    println(json)
    println(summary)
    System.out.flush()
  }
}
