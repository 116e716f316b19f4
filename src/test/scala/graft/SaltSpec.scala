package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rel.Salt

/** Salting must be a pure physical rewrite: identical results to the
  * naive aggregation/join on heavily skewed data (90% one key). */
class SaltSpec extends AnyFunSuite with SharedSession {

  private lazy val skewed = {
    val s = spark; import s.implicits._
    (1L to 10000L).map { i =>
      val key = if (i % 10 != 0) "hot" else s"cold_${i % 97}"
      (i, key, (i % 13).toDouble)
    }.toDF("id", "k", "v")
  }

  test("salted sum/count equals naive groupBy on 90%-hot-key data") {
    val naive = skewed.groupBy(col("k"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Salt.saltedSumCount(skewed, "k", "v", "id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === naive)
  }

  test("two-phase salted domain cap is row-identical to the windowed form on a dominant source") {
    val s = spark; import s.implicits._
    // one source owns 90% of the corpus — the exact case where the
    // windowed form serializes one task and the salted form must NOT
    // change a single output row
    val docs = (1L to 5000L).map { i =>
      val src = if (i % 10 != 0) "dominant.com" else s"site_${i % 7}.org"
      (i, src, (i % 400) + 20L)
    }.toDF("doc_id", "source", "n_chars")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                             r.getLong(3), r.getLong(4))).toSeq
    val windowed = rows(graft.llm.TextOps.domainCapsOf(docs))
    for (salts <- Seq(2, 16, 64)) {
      val salted = rows(graft.llm.TextOps.domainCapsSaltedOf(docs, salts))
      assert(salted === windowed, s"salted cap diverged at salts=$salts")
    }
    // sanity: the cap actually engaged (dominant source dropped rows)
    assert(windowed.exists(r => r._1 == "dominant.com" && r._4 > 0L))
  }

  test("salted join is row-identical to the plain join") {
    val s = spark; import s.implicits._
    val dim = Seq(("hot", "H"), ("cold_1", "C1"), ("cold_2", "C2"))
      .toDF("k", "label")
    val naive = skewed.join(dim, Seq("k")).select(col("id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // the big (skewed) side gets a deterministic per-row salt; the small
    // side is replicated across all 16 salt values
    val salted = skewed.withColumn("_salt", Salt.saltCol(col("id"), 16))
      .join(dim.withColumn("_salt", explode(sequence(lit(0), lit(15)))), Seq("k", "_salt"))
      .select(col("id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted === naive)
    assert(salted.nonEmpty)
  }

  /** 90 %-dominant corpus with deliberate token-count ties — the case
    * where the windowed quantile forms serialize one sort task and the
    * sketch forms must agree within the tie group at each cut point. */
  private lazy val dominantDocs = {
    val s = spark; import s.implicits._
    (1L to 5000L).map { i =>
      val src = if (i % 10 != 0) "dominant.com" else s"site_${i % 7}.org"
      val nTok = (i % 120) + 10L // ~42 docs per value in the dominant source
      (i, src, nTok, nTok * 6L)
    }.toDF("doc_id", "source", "n_tok", "n_chars")
  }

  test("salted funnel chars is row-identical to the windowed funnel on a 90%-dominant corpus, " +
      "and no Window totals-orders the unbounded survivor stream") {
    import org.apache.spark.sql.expressions.Window
    val s = spark; import s.implicits._
    // 90% of docs from one source; exact duplicates and sub-30-token
    // docs present so every funnel stage drops rows; the dominant
    // source has far more than DomainCap survivors so the cap engages
    val docs = (1L to 4000L).map { i =>
      val src = if (i % 10 != 0) "dominant.com" else s"site_${i % 7}.org"
      val nTok = 20 + (i % 40).toInt // 20..59 tokens: some fail the >=30 gate
      val text = if (i % 13 == 0) s"dup ${"w " * 40}body" // exact-dup group
                 else (0 until nTok).map(j => s"t${(i * 31 + j) % 997}").mkString(" ")
      (i, src, text, text.length.toLong)
    }.toDF("doc_id", "source", "text", "n_chars")
    // windowed reference, built inline the way the DuckDB twin does it
    val wExact = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val wCap = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val g = docs
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("fp", md5(col("text")))
      .withColumn("ex", row_number().over(wExact) === 1)
      .withColumn("q", col("ex") && col("n_tok") >= 30)
    val fin = g.filter(col("q"))
      .withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= graft.llm.TextOps.DomainCap)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("k_final"), sum(col("n_chars")).as("k_chars"))
    val want = g.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("raw_chars"),
           sum(when(col("ex"), 1L).otherwise(0L)).as("n_exact"),
           sum(when(col("ex"), col("n_chars")).otherwise(0L)).as("exact_chars"),
           sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
           sum(when(col("q"), col("n_chars")).otherwise(0L)).as("quality_chars"))
      .join(fin, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("raw_chars"), col("n_exact"),
              col("exact_chars"), col("n_quality"), col("quality_chars"),
              coalesce(col("k_final"), lit(0L)).as("n_final"),
              coalesce(col("k_chars"), lit(0L)).as("final_chars"))
      .orderBy(col("source"))
      .collect().map(_.toSeq).toSeq
    for (salts <- Seq(2, 16, 64)) {
      val got = graft.llm.TextOps.curationFunnelCharsOf(docs, salts)
      val rows = got.collect().map(_.toSeq).toSeq
      assert(rows === want, s"salted funnel diverged at salts=$salts")
      // the 100 TB claim, machine-checked on the logical plan: any
      // Window partitioned by `source` ALONE (the refine) must sit
      // above the brn bucket-cap filter, so its input is bounded by
      // salts·cap rows per source — never the raw survivor stream
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Window => LWindow}
      val plan = got.queryExecution.optimizedPlan
      val refines = plan.collect {
        case w: LWindow if w.partitionSpec.length == 1 &&
          w.partitionSpec.head.references.map(_.name).toSeq == Seq("source") => w
      }
      assert(refines.nonEmpty, "expected a refine window in the cap branch")
      refines.foreach { w =>
        val bounded = w.child.collectFirst {
          case f: LFilter if f.condition.references.map(_.name).exists(_ == "brn") => f
        }.isDefined
        assert(bounded, "refine window must consume the brn-capped frame, " +
          "not the unbounded survivor stream")
      }
    }
    // sanity: the cap engaged on the dominant source, dup + quality drops happened
    val dom = want.find(_.head == "dominant.com").get
    assert(dom(7).asInstanceOf[Long] === graft.llm.TextOps.DomainCap.toLong)
    assert(dom(3).asInstanceOf[Long] < dom(1).asInstanceOf[Long], "exact stage dropped")
    assert(dom(5).asInstanceOf[Long] < dom(3).asInstanceOf[Long], "quality stage dropped")
  }

  test("sketch quality gate matches the windowed gate within the threshold tie group on a dominant corpus") {
    val exact = graft.llm.TextOps.qualityFilterPctOf(dominantDocs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approxDf = graft.llm.TextOps.qualityFilterPctApproxOf(dominantDocs)
    // the 100 TB claim, machine-checked: no window operator anywhere in
    // the sketch form's executed plan (the windowed form has one)
    approxDf.collect()
    assert(!approxDf.queryExecution.executedPlan.toString.contains("Window"),
      "sketch form must not contain a Window node")
    val approx = approxDf.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet === exact.keySet)
    val ties = dominantDocs.groupBy(col("source"), col("n_tok"))
      .count().groupBy(col("source")).agg(max(col("count")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, (nExact, minExact)) <- exact) {
      val (nApprox, minApprox) = approx(src)
      assert(math.abs(nApprox - nExact) <= ties(src),
        s"$src: approx n_kept=$nApprox exact=$nExact tie-bound=${ties(src)}")
      // the sketch threshold can only admit MORE of the tie group, so its
      // kept minimum is at or below the windowed form's
      assert(minApprox <= minExact, s"$src: $minApprox > $minExact")
    }
  }

  test("sketch curriculum bins match ntile bins within the edge tie runs on a dominant corpus") {
    val exact = graft.llm.TextOps.curriculumBinsOf(dominantDocs)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val approxDf = graft.llm.TextOps.curriculumBinsApproxOf(dominantDocs)
    approxDf.collect()
    assert(!approxDf.queryExecution.executedPlan.toString.contains("Window"),
      "sketch form must not contain a Window node")
    val approx = approxDf.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ties = dominantDocs.groupBy(col("source"), col("n_tok"))
      .count().groupBy(col("source")).agg(max(col("count")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sources = exact.keySet.map(_._1)
    for (src <- sources; bin <- 1L to 4L) {
      val e = exact.getOrElse((src, bin), 0L)
      val a = approx.getOrElse((src, bin), 0L)
      // a value edge cannot split a tie group; ntile can — each bin may
      // shift by at most one tie run per adjacent edge
      assert(math.abs(a - e) <= 2 * ties(src) + 1,
        s"$src bin $bin: approx=$a exact=$e tie-bound=${2 * ties(src) + 1}")
    }
    // totals per source are exact — binning only reassigns, never drops
    for (src <- sources) {
      val eTot = (1L to 4L).map(b => exact.getOrElse((src, b), 0L)).sum
      val aTot = (1L to 4L).map(b => approx.getOrElse((src, b), 0L)).sum
      assert(aTot === eTot, s"$src: total approx=$aTot exact=$eTot")
    }
  }
}
