package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyless point-in-interval RANGE JOIN executed as an EQUI join on
  * time bins — the optimization Spark itself lacks (a pure range
  * predicate with no equi conjunct plans as BroadcastNestedLoopJoin:
  * O(|points|·|intervals|), the first thing to die at corpus scale).
  *
  * Shape: points land in the single bin containing their timestamp;
  * each interval EXPLODES to every bin it overlaps (⌈len/width⌉ + 1
  * rows — intervals are short relative to the corpus, so this is the
  * cheap side); the join is then a plain equi join on the bin id —
  * hash-partitioned, broadcastable, AQE-skew-splittable, everything a
  * real join gets — and the exact range predicate filters within the
  * bin-matched candidates. Each (point, interval) match survives
  * EXACTLY once: the point occupies one bin, so no dedup step is
  * needed. Work is O(|points| + Σ interval-bins + matches·density)
  * instead of the nested-loop product.
  *
  * Bin width tunes the trade: wider bins → fewer interval rows but
  * more false candidates per bin; the right width is ~the typical
  * interval length (every interval then covers ≤2 bins). Binning uses
  * whole-second timestamps (`unix_timestamp` truncation) — safe for
  * any width ≥ 1s because bin assignment only needs monotonicity; the
  * EXACT predicate runs on the full-precision timestamps, so boundary
  * semantics ([lo, hi)) are sub-second-exact.
  */
object RangeJoin {

  /** Fallback bin width when the interval side is empty or all-null —
    * any width is correct there (the exact predicate decides matches);
    * an hour is the corpus's natural granularity. */
  val DefaultBinSeconds = 3600L

  /** Width ceiling: 2²⁰ s (~12 days) — beyond this, per-bin density
    * dominates and wider bins only concentrate skew. */
  val MaxBinSeconds = 1L << 20

  /** The STATS→WIDTH integer decision (shared by [[deriveBinSeconds]]
    * and the transparent rewrite [[graft.plans.RangeJoinRewrite]], and
    * pinned by spec on adversarial corpora): the bin width is the
    * largest power of two ≤ the MEAN interval length in seconds,
    * clamped to [1, 2²⁰]. Rationale: at ~the mean length every interval
    * covers ≤ 2-3 bins (the explode stays linear in the interval
    * count), while points per bin stay bounded by the corpus's density
    * over one mean interval — the balance the scaladoc of
    * [[pointInInterval]] describes. Exact integer arithmetic end to
    * end (long sum, floor division, highest-one-bit), so engine and
    * any replaying twin decide identically on any corpus. */
  def widthFromStats(sumSeconds: Long, n: Long): Long = {
    val mean = if (n <= 0L) 1L else math.max(1L, sumSeconds / n)
    java.lang.Long.highestOneBit(math.min(mean, MaxBinSeconds))
  }

  /** Derive the bin width from the interval side in ONE aggregation
    * pass (exact integer sum/count of lengths — order-insensitive), per
    * [[widthFromStats]]. At 100 TB this is a column-pruned scan of the
    * (small) interval side — strictly cheaper than one iteration of the
    * nested loop the binned join replaces. */
  def deriveBinSeconds(intervals: DataFrame, lo: String, hi: String): Long = {
    val len = unix_timestamp(col(hi)) - unix_timestamp(col(lo))
    val row = intervals.agg(sum(len).as("s"), count(len).as("n")).head()
    if (row.isNullAt(0) || row.getLong(1) == 0L) DefaultBinSeconds
    else widthFromStats(row.getLong(0), row.getLong(1))
  }

  /** [[intervalOverlap]] with the width stats-derived from BOTH sides'
    * pooled interval lengths. */
  def intervalOverlapAuto(left: DataFrame, leftLo: String, leftHi: String,
                          right: DataFrame, rightLo: String, rightHi: String): DataFrame = {
    def lenStats(df: DataFrame, lo: String, hi: String): (Long, Long) = {
      val len = unix_timestamp(col(hi)) - unix_timestamp(col(lo))
      val row = df.agg(sum(len).as("s"), count(len).as("n")).head()
      if (row.isNullAt(0)) (0L, 0L) else (row.getLong(0), row.getLong(1))
    }
    val (sl, nl) = lenStats(left, leftLo, leftHi)
    val (sr, nr) = lenStats(right, rightLo, rightHi)
    val width = if (nl + nr == 0L) DefaultBinSeconds
                else widthFromStats(sl + sr, nl + nr)
    intervalOverlap(left, leftLo, leftHi, right, rightLo, rightHi, width)
  }

  /** Join `points` to every row of `intervals` whose [lo, hi) contains
    * the point's `pointTs`. Column arguments are NAMES (the frames are
    * re-rooted internally); `binSeconds` is the bin width. */
  def pointInInterval(points: DataFrame, pointTs: String,
                      intervals: DataFrame, lo: String, hi: String,
                      binSeconds: Long): DataFrame = {
    require(binSeconds >= 1L, "bin width must be at least one second")
    val pb = points.withColumn("__bin",
      floor(unix_timestamp(col(pointTs)) / binSeconds))
    val ib = intervals.withColumn("__bin",
      explode(sequence(floor(unix_timestamp(col(lo)) / binSeconds),
                       floor(unix_timestamp(col(hi)) / binSeconds))))
    pb.join(ib, Seq("__bin"))
      .filter(col(pointTs) >= col(lo) && col(pointTs) < col(hi))
      .drop("__bin")
  }

  /** Keyless INTERVAL-OVERLAP join: every (left, right) pair whose
    * [lo, hi) intervals intersect. BOTH sides explode to their covered
    * bins, so an overlapping pair meets in every shared bin — the
    * exactly-once discipline is the CANONICAL-BIN rule (the standard
    * genomics-overlap-join technique): a match counts only in the bin
    * containing max(leftLo, rightLo), the first instant of the overlap,
    * which exists in both sides' bin ranges by construction. No
    * distinct step, no shuffle of duplicates — the canonical-bin filter
    * runs right after the exact overlap predicate. Binning is
    * whole-second integer arithmetic (no FP-jitter slack needed: the
    * division error is orders of magnitude below the floor spacing for
    * integer-second inputs). */
  def intervalOverlap(left: DataFrame, leftLo: String, leftHi: String,
                      right: DataFrame, rightLo: String, rightHi: String,
                      binSeconds: Long): DataFrame = {
    require(binSeconds >= 1L, "bin width must be at least one second")
    def bin(c: org.apache.spark.sql.Column) =
      floor(unix_timestamp(c) / binSeconds)
    val lb = left.withColumn("__bin",
      explode(sequence(bin(col(leftLo)), bin(col(leftHi)))))
    val rb = right.withColumn("__bin",
      explode(sequence(bin(col(rightLo)), bin(col(rightHi)))))
    lb.join(rb, Seq("__bin"))
      .filter(col(leftLo) < col(rightHi) && col(rightLo) < col(leftHi))
      .filter(col("__bin") === bin(greatest(col(leftLo), col(rightLo))))
      .drop("__bin")
  }

  /** Keyless NUMERIC point-in-interval join: every row of `intervals`
    * whose [lo, hi) contains the point's value — [[pointInInterval]]
    * over a numeric axis (price bands, score ranges, histogram
    * buckets) instead of time. Coverage needs NO float slack, unlike
    * [[bandJoin]]'s ±2: IEEE division is correctly rounded and
    * therefore MONOTONE, so lo ≤ p ≤ hi ⟹ lo/w ≤ p/w ≤ hi/w ⟹
    * bin(p) ∈ [bin(lo), bin(hi)] exactly — the band join's failure
    * mode is the DIFFERENCE of two independently-rounded divisions
    * drifting two bins apart, which a direct ordering of the raw
    * values never invokes. The exact predicate still decides every
    * candidate. Exactly-once: the point occupies one bin. */
  def pointInIntervalNumeric(points: DataFrame, pointVal: String,
                             intervals: DataFrame, lo: String, hi: String,
                             width: Double): DataFrame = {
    require(width > 0d && !width.isInfinite, "bin width must be positive")
    val pb = points.withColumn("__bin",
      floor(col(pointVal) / width).cast("long"))
    val ib = intervals.withColumn("__bin",
      explode(sequence(floor(col(lo) / width).cast("long"),
                       floor(col(hi) / width).cast("long"))))
    pb.join(ib, Seq("__bin"))
      .filter(col(pointVal) >= col(lo) && col(pointVal) < col(hi))
      .drop("__bin")
  }

  /** The numeric width decision (the [[widthFromStats]] twin for a
    * double axis): largest power of two ≤ the mean interval length —
    * including NEGATIVE powers for sub-unit widths — clamped to
    * [2⁻²⁰, 2²⁰]. Exact: means of doubles are compared against exact
    * powers of two, and the chosen width is itself a power of two, so
    * `v / width` is an exponent shift (no mantissa rounding beyond the
    * value's own). */
  def widthFromMeanLength(mean: Double): Double = {
    val m = if (mean.isNaN || mean <= 0d) 1d else mean
    val clamped = math.min(math.max(m, math.pow(2d, -20)), math.pow(2d, 20))
    // Math.getExponent is the EXACT binary exponent (2^e ≤ x < 2^{e+1})
    // — a log-based floor can come out one low at exact powers of two
    math.pow(2d, Math.getExponent(clamped))
  }

  /** [[pointInIntervalNumeric]] with the width derived from the
    * interval side's mean length in one pass. */
  def pointInIntervalNumericAuto(points: DataFrame, pointVal: String,
                                 intervals: DataFrame, lo: String,
                                 hi: String): DataFrame = {
    val row = intervals.agg(avg(col(hi) - col(lo)).as("m")).head()
    val width = if (row.isNullAt(0)) 1d else widthFromMeanLength(row.getDouble(0))
    pointInIntervalNumeric(points, pointVal, intervals, lo, hi, width)
  }

  /** Keyless numeric BAND join: every (left, right) pair with
    * |leftVal − rightVal| ≤ eps, as an equi join on value bins of width
    * `eps`. The left row lands in its own bin; the right row explodes
    * to bin−2 .. bin+2, and a pair still matches EXACTLY once because
    * the left side occupies a single bin. The exact band predicate then
    * filters the candidates — false bin candidates are harmless, missed
    * bins would be silent wrong answers, hence the slack: in exact
    * arithmetic an in-band pair sits at most ONE bin apart, but each
    * `floor(v / eps)` carries division rounding that can shift a
    * boundary value's floor by one (measured: 0.95/0.05 → 18.999…996 →
    * bin 18 while 1.00/0.05 → 20.000…004 → bin 20, two bins apart at a
    * razor-exact band edge), so ±2 absorbs one floor-jitter on each
    * side of the mathematical ±1 (boundary-adversarial property test in
    * QueriesSpec pins binned ≡ naive). Same scale contract as
    * [[pointInInterval]]: a hash-partitioned equi join plus per-bin
    * density instead of the nested-loop product. */
  def bandJoin(left: DataFrame, leftVal: String,
               right: DataFrame, rightVal: String, eps: Double): DataFrame = {
    require(eps > 0d, "band width must be positive")
    val lb = left.withColumn("__bin", floor(col(leftVal) / eps).cast("long"))
    val rb = right.withColumn("__bin",
      explode(array((-2 to 2).map(o =>
        floor(col(rightVal) / eps).cast("long") + lit(o.toLong)): _*)))
    lb.join(rb, Seq("__bin"))
      .filter(abs(col(leftVal) - col(rightVal)) <= eps)
      .drop("__bin")
  }
}
