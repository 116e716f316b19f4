package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
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
  *
  * This object is the one place that knows how a range shape is binned
  * ([[Bins]]) and how wide its bins are ([[binsFor]]); the transparent
  * rewrite [[graft.plans.RangeJoinRewrite]] takes all of its bins from
  * here.
  */
object RangeJoin {

  /** The synthesized bin column, dropped again before any result is
    * returned. A user column of the same name would collide: the
    * explicit API rejects it, the rewrite stands down. */
  val BinCol = "__graft_range_bin"

  /** Fallback bin width when the interval side is empty or all-null —
    * any width is correct there (the exact predicate decides matches);
    * an hour is the corpus's natural granularity. */
  val DefaultBinSeconds = 3600L

  /** Width ceiling: 2²⁰ s (~12 days) — beyond this, per-bin density
    * dominates and wider bins only concentrate skew. */
  val MaxBinSeconds = 1L << 20

  /** Per-interval bin-count ceiling: one pathological row (a
    * decade-long interval in a corpus of minutes, a matched pair of
    * unrelated id inequalities) must never become a million-element
    * `sequence` explode. [[binsFor]] widens the width — always sound,
    * bins only cover — until the longest interval spans ≤ this many
    * bins, past the density-motivated 2²⁰ clamp if need be. */
  val MaxBinsPerInterval = 4096L

  /** How an axis maps a value to its bin id at one width. Every form
    * only has to COVER each satisfying pair — the exact predicate
    * decides it — so false candidates are harmless and a missed bin
    * would be a silent wrong answer. A null value gets a null bin. */
  sealed trait Bins {
    /** The single bin holding `v`. */
    def of(v: Column): Column

    /** One row per bin from `lo`'s to `hi`'s. `sequence` enumerates
      * them in either direction, so a reversed interval is covered too;
      * `outer` keeps a row whose bin array is null (a null endpoint). */
    def covering(lo: Column, hi: Column, outer: Boolean = false): Column = {
      val bins = sequence(of(lo), of(hi))
      if (outer) explode_outer(bins) else explode(bins)
    }

    /** The band's other side: bin−2 .. bin+2. In exact arithmetic an
      * in-band pair sits at most ONE bin apart, but each `floor(v / eps)`
      * carries division rounding that can shift a boundary value's floor
      * by one (measured: 0.95/0.05 → 18.999…996 → bin 18 while
      * 1.00/0.05 → 20.000…004 → bin 20), so ±2 absorbs one floor-jitter
      * on each side of the mathematical ±1. */
    def spread(v: Column): Column =
      explode(array((-2 to 2).map(o => of(v) + lit(o.toLong)): _*))

    /** The overlap's exactly-once rule: both sides explode, so an
      * overlapping pair meets in every shared bin; it counts only in the
      * bin of max(leftLo, rightLo), the overlap's first instant, which
      * lies in both sides' bin ranges by construction. */
    def canonical(leftLo: Column, rightLo: Column): Column =
      col(BinCol) === of(greatest(leftLo, rightLo))
  }

  /** Timestamps and dates: whole seconds (a date is its midnight). */
  final case class SecondBins(seconds: Long) extends Bins {
    def of(v: Column): Column = floor(unix_timestamp(v) / seconds)
  }

  /** Numbers: `floor(v / width)`. Covering needs no float slack, unlike
    * [[Bins.spread]]: IEEE division is correctly rounded and therefore
    * MONOTONE, so lo ≤ p ≤ hi ⟹ bin(p) ∈ [bin(lo), bin(hi)] exactly —
    * the band's failure mode is the DIFFERENCE of two
    * independently-rounded divisions, which an ordering of raw values
    * never invokes. */
  final case class ValueBins(width: Double) extends Bins {
    def of(v: Column): Column = floor(v.cast("double") / width).cast("long")
  }

  /** The STATS→WIDTH integer decision (used by [[binsFor]] and pinned by
    * spec on adversarial corpora): the bin width is the largest power
    * of two ≤ the MEAN interval length in seconds, clamped to [1, 2²⁰].
    * Rationale: at ~the mean length every interval covers ≤ 2-3 bins
    * (the explode stays linear in the interval count), while points per
    * bin stay bounded by the corpus's density over one mean interval —
    * the balance the scaladoc of [[pointInInterval]] describes. Exact
    * integer arithmetic end to end (long sum, floor division,
    * highest-one-bit), so engine and any replaying twin decide
    * identically on any corpus. */
  def widthFromStats(sumSeconds: Long, n: Long): Long = {
    val mean = if (n <= 0L) 1L else math.max(1L, sumSeconds / n)
    java.lang.Long.highestOneBit(math.min(mean, MaxBinSeconds))
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

  /** Interval lengths of one interval side in the axis's unit (whole
    * seconds, or the value): Σ length, the count of intervals with both
    * ends, and the longest |length|. A time-axis Σ is a long in Spark;
    * as a double it stays exact below 2⁵³ s. */
  final case class LengthStats(sum: Double, n: Long, maxAbs: Double)

  /** [[LengthStats]] of `hi − lo` over `intervals` in ONE aggregation
    * pass — at 100 TB a column-pruned scan of the (small) interval side,
    * strictly cheaper than one iteration of the nested loop the binned
    * join replaces. None when no interval has both ends. */
  def lengthStats(intervals: DataFrame, lo: Column, hi: Column,
                  timeAxis: Boolean): Option[LengthStats] = {
    val len =
      if (timeAxis) unix_timestamp(hi) - unix_timestamp(lo)
      else hi.cast("double") - lo.cast("double")
    val row = intervals.select(sum(len), count(len), max(abs(len))).head()
    def num(i: Int) = row.get(i).asInstanceOf[Number].doubleValue
    if (row.isNullAt(0) || row.getLong(1) == 0L) None
    else Some(LengthStats(num(0), row.getLong(1), num(2)))
  }

  /** The bins for the pooled stats of a shape's interval sides: the
    * mean-length width ([[widthFromStats]] / [[widthFromMeanLength]]),
    * widened to the smallest power of two that keeps the longest
    * interval within [[MaxBinsPerInterval]] bins (power-of-two-exact via
    * the binary exponent, so a value's division stays an exponent
    * shift). No stats: [[DefaultBinSeconds]], or width 1 on a numeric
    * axis. */
  def binsFor(timeAxis: Boolean, stats: Seq[LengthStats]): Bins =
    if (stats.isEmpty) {
      if (timeAxis) SecondBins(DefaultBinSeconds) else ValueBins(1d)
    } else {
      val total = stats.map(_.sum).sum
      val n = stats.map(_.n).sum
      val maxAbs = stats.map(_.maxAbs).max
      val ceiling =
        if (!(maxAbs > 0d)) 0d
        else {
          val need = maxAbs / MaxBinsPerInterval
          val p = math.pow(2d, Math.getExponent(need))
          if (p >= need) p else 2 * p
        }
      if (timeAxis) SecondBins(math.max(widthFromStats(total.toLong, n), ceiling.toLong))
      else ValueBins(math.max(widthFromMeanLength(total / n), ceiling))
    }

  private def requireNoBin(frames: DataFrame*): Unit =
    require(frames.forall(!_.columns.contains(BinCol)),
      s"column $BinCol is reserved for the range join's bins")

  /** Join `points` to every row of `intervals` whose [lo, hi) contains
    * the point's `pointTs`. Column arguments are NAMES (the frames are
    * re-rooted internally); `binSeconds` is the bin width. */
  def pointInInterval(points: DataFrame, pointTs: String,
                      intervals: DataFrame, lo: String, hi: String,
                      binSeconds: Long): DataFrame = {
    require(binSeconds >= 1L, "bin width must be at least one second")
    requireNoBin(points, intervals)
    val bins = SecondBins(binSeconds)
    points.withColumn(BinCol, bins.of(col(pointTs)))
      .join(intervals.withColumn(BinCol, bins.covering(col(lo), col(hi))), Seq(BinCol))
      .filter(col(pointTs) >= col(lo) && col(pointTs) < col(hi))
      .drop(BinCol)
  }

  /** Keyless INTERVAL-OVERLAP join: every (left, right) pair whose
    * [lo, hi) intervals intersect. BOTH sides explode to their covered
    * bins and the [[Bins.canonical]] filter (the standard
    * genomics-overlap-join technique) keeps each pair once — no
    * distinct step, no shuffle of duplicates. Binning is whole-second
    * integer arithmetic (no FP-jitter slack needed: the division error
    * is orders of magnitude below the floor spacing for integer-second
    * inputs). */
  def intervalOverlap(left: DataFrame, leftLo: String, leftHi: String,
                      right: DataFrame, rightLo: String, rightHi: String,
                      binSeconds: Long): DataFrame = {
    require(binSeconds >= 1L, "bin width must be at least one second")
    requireNoBin(left, right)
    val bins = SecondBins(binSeconds)
    left.withColumn(BinCol, bins.covering(col(leftLo), col(leftHi)))
      .join(right.withColumn(BinCol, bins.covering(col(rightLo), col(rightHi))), Seq(BinCol))
      .filter(col(leftLo) < col(rightHi) && col(rightLo) < col(leftHi))
      .filter(bins.canonical(col(leftLo), col(rightLo)))
      .drop(BinCol)
  }

  /** Keyless numeric BAND join: every (left, right) pair with
    * |leftVal − rightVal| ≤ eps, as an equi join on value bins of width
    * `eps`. The left row lands in its own bin; the right row takes the
    * [[Bins.spread]], and a pair still matches EXACTLY once because the
    * left side occupies a single bin. The exact band predicate then
    * filters the candidates (boundary-adversarial property tests in
    * QueriesSpec and RangeJoinRewriteSpec pin binned ≡ naive). Same
    * scale contract as [[pointInInterval]]: a hash-partitioned equi join
    * plus per-bin density instead of the nested-loop product. */
  def bandJoin(left: DataFrame, leftVal: String,
               right: DataFrame, rightVal: String, eps: Double): DataFrame = {
    require(eps > 0d, "band width must be positive")
    requireNoBin(left, right)
    val bins = ValueBins(eps)
    left.withColumn(BinCol, bins.of(col(leftVal)))
      .join(right.withColumn(BinCol, bins.spread(col(rightVal))), Seq(BinCol))
      .filter(abs(col(leftVal) - col(rightVal)) <= eps)
      .drop(BinCol)
  }
}
