package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Abs, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, PredicateHelper, SubqueryExpression, Subtract}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{abs, array, col, count, explode, explode_outer, first, floor, greatest, lit, max, monotonically_increasing_id, sequence, struct, sum, unix_timestamp}
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampType}

/** Optimizer rule: a join whose condition is a keyless
  * point-in-interval / interval-overlap / numeric-band predicate is
  * rewritten to [[graft.rel.RangeJoin]]'s binned EQUI-join form — so the
  * user who writes the natural theta join
  * (`a.join(b, $"ts" >= $"lo" && $"ts" < $"hi")`, or the same text in
  * SQL) gets the hash join instead of the BroadcastNestedLoopJoin Spark
  * plans for a pure range predicate: O(|points| + Σ interval-bins +
  * matches·density) instead of the O(n·m) nested-loop product that is
  * the canonical silent scale-killer at 100 TB. The
  * [[BusPartitionPruning]] precedent — derive what the user didn't
  * write — applied to join planning. Both AXES are covered: timestamp
  * endpoints bin on whole seconds; numeric endpoints (price bands,
  * score ranges) bin on `floor(v / width)`, sound without float slack
  * because IEEE division is monotone
  * ([[graft.rel.RangeJoin.pointInIntervalNumeric]]).
  *
  * Soundness: the rewrite keeps the ORIGINAL predicate as a post-join
  * filter, so the bins only have to COVER every satisfying pair, never
  * decide it (the [[graft.rel.RangeJoin]] coverage arguments, which
  * hold for any comparison strictness and even for reversed intervals —
  * `sequence(lo, hi)` enumerates every bin between its endpoints in
  * either direction). Null handling is inherited: a null
  * timestamp/value produces a null bin, which an inner equi join drops,
  * exactly as the original theta condition's null verdict drops the
  * pair. Exactly-once: the point (band-left) side occupies ONE bin; the
  * overlap form applies the canonical-bin rule (count only in the bin
  * of `greatest(lLo, rLo)`).
  *
  * Non-inner joins are covered exactly when the PRESERVED (or probe)
  * side of the join is the SINGLE-BIN side of the shape — the point
  * side of a point-in-interval, either side of a band (the other side
  * takes the ±2 explode): LEFT OUTER / LEFT SEMI / LEFT ANTI with the
  * point/band value on the left, RIGHT OUTER with it on the right. A
  * preserved row is never duplicated by binning (one bin per row), so
  * outer semantics survive: the FULL original predicate moves INTO the
  * join condition beside the bin equality, and since the predicate
  * implies bin equality on the (unique) covering interval copy, a
  * preserved row null-pads (outer) / is kept (anti) / passes (semi)
  * exactly when the naive theta join says so. Overlap shapes explode
  * BOTH sides, so they stay inner-only; a point-in-interval whose
  * point sits on the NON-preserved side would duplicate the preserved
  * (interval) side and stands down.
  *
  * The rule stands DOWN (leaves the join untouched) when:
  *   - the join type is not Inner/LeftOuter/RightOuter/LeftSemi/
  *     LeftAnti, the non-inner side discipline above fails, the join
  *     carries a hint, or either side is streaming;
  *   - any conjunct is a cross-side EQUI condition (Spark already plans
  *     an equi-keyed join as a hash join — the range conjuncts ride
  *     along as post-join predicates bounded by the key's density);
  *   - no conjunct subset forms one of the three shapes (extra NON-equi
  *     conjuncts are fine — they ride in the reapplied full predicate,
  *     which the covering argument never depends on);
  *   - the condition is non-deterministic or contains a subquery;
  *   - `spark.graft.rangeJoinRewrite.enabled` is `false`.
  *
  * Bin width is STATS-DERIVED, not guessed (a too-narrow width explodes
  * the interval side, a too-wide one turns bins into skew): one
  * aggregation pass over the interval side computes the exact integer
  * sum/count of interval lengths, and the width is the largest power of
  * two ≤ the mean length, clamped to [1, 2²⁰] seconds
  * ([[graft.rel.RangeJoin.widthFromStats]] — an integer decision, the
  * `ann_filtered_auto` discipline, pinned by spec on adversarial
  * corpora). The pass is memoized per canonicalized interval plan; at
  * production scale it is one column-pruned scan of the (small)
  * interval side — strictly cheaper than a single iteration of the
  * nested loop it replaces. The band form needs no stats: the predicate
  * literal `eps` IS the bin width.
  *
  * Wiring: injected by [[graft.GraftExtensions]] into the operator-
  * optimization batch (so the rewritten plan re-enters pushdown/pruning
  * in the same fixed point); [[graft.GraftSession.install]] appends it
  * to `experimental.extraOptimizations` for sessions built without the
  * extensions (idempotent — once rewritten, the join has an equi
  * conjunct and no longer matches).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Kill switch (default on): `spark.graft.rangeJoinRewrite.enabled`. */
  val EnabledKey = "spark.graft.rangeJoinRewrite.enabled"

  /** The synthesized bin column — dropped again before the rewrite's
    * final projection; a (vanishingly unlikely) user column of the same
    * name makes the rule stand down rather than collide. */
  private val BinCol = "__graft_range_bin"

  /** Helper columns of the FULL OUTER aggregate anti ([[rewriteFullOuter]]):
    * the synthetic preserved-row id, the probe marker, and the packed
    * preserved-row struct — all dropped before the branch's final
    * projection; same collision discipline as [[BinCol]]. */
  private val IdCol = "__graft_range_id"
  private val MarkCol = "__graft_range_hit"
  private val PackCol = "__graft_range_row"

  // ---- condition classification ----

  private sealed trait Shape
  /** `timeAxis`: endpoints are timestamps (bin on whole seconds) vs a
    * numeric axis (bin on `floor(v / width)` — sound without slack
    * because IEEE division is monotone, see
    * [[graft.rel.RangeJoin.pointInIntervalNumeric]]). */
  private case class PointInInterval(point: Expression, pointOnLeft: Boolean,
                                     lo: Expression, hi: Expression,
                                     timeAxis: Boolean) extends Shape
  private case class Overlap(lLo: Expression, lHi: Expression,
                             rLo: Expression, rHi: Expression,
                             timeAxis: Boolean) extends Shape
  private case class Band(lVal: Expression, rVal: Expression,
                          eps: Double) extends Shape

  /** Normalize a comparison conjunct to `smaller ≤/< larger`. */
  private def asLt(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThan(a, b)           => Some((a, b))
    case LessThanOrEqual(a, b)    => Some((a, b))
    case GreaterThan(a, b)        => Some((b, a))
    case GreaterThanOrEqual(a, b) => Some((b, a))
    case _                        => None
  }

  /** Some(true) iff `e` reads only `left`'s columns (at least one),
    * Some(false) iff only `right`'s — the cross-side discipline every
    * participating endpoint must satisfy. */
  private def sideOf(e: Expression, left: LogicalPlan,
                     right: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty || !e.deterministic ||
        e.exists(_.isInstanceOf[SubqueryExpression])) None
    else if (e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet)) Some(false)
    else None

  /** Time-axis endpoint types: timestamps and dates both bin through
    * `unix_timestamp` (whole seconds; a date is its midnight — monotone
    * either way). Mixed date/timestamp comparisons never reach the rule
    * un-unified: the analyzer has already coerced them with casts. */
  private def isTs(es: Expression*): Boolean =
    es.forall(e => e.dataType == TimestampType ||
      e.dataType == org.apache.spark.sql.types.DateType)

  private val BandableTypes =
    Set[org.apache.spark.sql.types.DataType](
      DoubleType, FloatType, LongType, IntegerType, ShortType, ByteType)

  /** `abs(a − b) ≤/< eps` with a positive foldable numeric eps and the
    * operands on opposite sides. */
  private def bandOf(e: Expression, left: LogicalPlan,
                     right: LogicalPlan): Option[Band] = {
    def mk(a: Expression, b: Expression, epsE: Expression): Option[Band] = {
      if (!epsE.foldable || !BandableTypes.contains(a.dataType) ||
          !BandableTypes.contains(b.dataType)) return None
      val eps = epsE.eval(null) match {
        case n: java.lang.Number => n.doubleValue()
        case _ => return None
      }
      if (!(eps > 0d) || eps.isInfinite) return None
      (sideOf(a, left, right), sideOf(b, left, right)) match {
        case (Some(true), Some(false)) => Some(Band(a, b, eps))
        case (Some(false), Some(true)) => Some(Band(b, a, eps))
        case _ => None
      }
    }
    e match {
      case LessThanOrEqual(Abs(Subtract(a, b, _), _), eps) => mk(a, b, eps)
      case LessThan(Abs(Subtract(a, b, _), _), eps)        => mk(a, b, eps)
      case GreaterThanOrEqual(eps, Abs(Subtract(a, b, _), _)) => mk(a, b, eps)
      case GreaterThan(eps, Abs(Subtract(a, b, _), _))     => mk(a, b, eps)
      case _ => None
    }
  }

  /** A cross-side equality — with one present, Spark already extracts
    * equi join keys and plans a hash join (the range conjuncts ride
    * along as post-join predicates bounded by the key's density), so
    * the rule must stand down. */
  private def isEqui(e: Expression, left: LogicalPlan,
                     right: LogicalPlan): Boolean = {
    def cross(a: Expression, b: Expression): Boolean =
      (sideOf(a, left, right), sideOf(b, left, right)) match {
        case (Some(x), Some(y)) => x != y
        case _ => false
      }
    e match {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(a, b) => cross(a, b)
      case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(a, b) => cross(a, b)
      case _ => false
    }
  }

  /** Find ONE rewriteable shape among the conjuncts. Extra non-equi
    * conjuncts are harmless residue: the rewrite reapplies the FULL
    * original condition as the post-join filter, and the bins only have
    * to cover every pair satisfying the full condition — which the
    * shape conjuncts alone already imply (a superset). A cross-side
    * EQUI conjunct stands the rule down instead ([[isEqui]] — Spark's
    * hash join is already the right plan there); preference order when
    * several shapes match is point-in-interval (single-bin point side,
    * trivially exactly-once) > band (no stats pass) > overlap. */
  private def classify(cond: Expression, left: LogicalPlan,
                       right: LogicalPlan): Option[Shape] = {
    if (!cond.deterministic ||
        cond.exists(_.isInstanceOf[SubqueryExpression])) return None
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.exists(isEqui(_, left, right))) return None
    val lts = conjuncts.flatMap(asLt)
    def axisOf(es: Expression*): Option[Boolean] =
      if (isTs(es: _*)) Some(true)
      else if (es.forall(e => BandableTypes.contains(e.dataType))) Some(false)
      else None
    val pairShapes: Seq[Shape] = for {
      i <- lts.indices
      j <- lts.indices if i != j
      (a1, b1) = lts(i)
      (a2, b2) = lts(j)
      timeAxis <- axisOf(a1, b1, a2, b2).toSeq
      // orient to x(L) < y(R) ∧ u(R) < w(L)
      if sideOf(a1, left, right).contains(true) &&
         sideOf(b1, left, right).contains(false) &&
         sideOf(a2, left, right).contains(false) &&
         sideOf(b2, left, right).contains(true)
      (x, y, u, w) = (a1, b1, a2, b2)
    } yield {
      if (x.semanticEquals(w)) PointInInterval(x, pointOnLeft = true,
        lo = u, hi = y, timeAxis)
      else if (y.semanticEquals(u)) PointInInterval(y,
        pointOnLeft = false, lo = x, hi = w, timeAxis)
      else Overlap(lLo = x, lHi = w, rLo = u, rHi = y, timeAxis)
    }
    pairShapes.collectFirst { case p: PointInInterval => p }
      .orElse(conjuncts.flatMap(bandOf(_, left, right)).headOption)
      .orElse(pairShapes.headOption)
  }

  // ---- stats-derived bin width ----

  /** Exact (sumSeconds, n) of interval lengths over one plan — memoized
    * per canonicalized (plan, lo, hi) so REPEATED executions of the
    * same query text pay the pass once per JVM, not once per
    * optimization. Key discipline: `plan.canonicalized` normalizes the
    * PLAN's exprIds positionally, so the lo/hi expressions must be
    * normalized against the same frame — their attribute refs are
    * rebound to output ORDINALS ([[ordinalKey]]); keying on the raw
    * exprIds would miss on every re-invocation (each mints fresh ids)
    * and re-run the pass per bench pass. Bounded: the keys retain plan
    * trees, so the cache clears past 64 entries. */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    (LogicalPlan, Expression, Expression), Option[(Long, Long, Long)]]()

  /** Per-interval bin-count ceiling: the rewrite must never turn one
    * pathological row (a decade-long interval in a corpus of minutes, a
    * matched pair of unrelated id inequalities) into a million-element
    * `sequence` explode. The WIDTH is widened — always sound, bins only
    * cover — until the longest observed interval spans ≤ this many
    * bins. */
  private val MaxBinsPerInterval = 4096L

  /** Smallest power of two ≥ `maxAbsLen / MaxBinsPerInterval` — the
    * width floor the ceiling imposes (may exceed the density-motivated
    * 2²⁰ clamp: bounding the explode dominates). */
  private def widthFloor(maxAbsLen: Long): Long = {
    val need = math.max(1L, maxAbsLen / MaxBinsPerInterval)
    val hob = java.lang.Long.highestOneBit(need)
    if (hob == need) hob else hob << 1
  }

  /** `e` with every attribute replaced by its ordinal in `plan.output`
    * — a canonical, invocation-independent cache-key form. */
  private def ordinalKey(e: Expression, plan: LogicalPlan): Expression =
    e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          plan.output.indexWhere(_.exprId == a.exprId), a.dataType, a.nullable)
    }.canonicalized

  private def lengthStats(s: SparkSession, plan: LogicalPlan,
                          lo: Expression, hi: Expression): Option[(Long, Long, Long)] = {
    if (statsCache.size() > 64) statsCache.clear()
    statsCache.computeIfAbsent(
      (plan.canonicalized, ordinalKey(lo, plan), ordinalKey(hi, plan)), _ => {
        val len = unix_timestamp(GraftBridge.column(hi)) -
          unix_timestamp(GraftBridge.column(lo))
        val row = GraftBridge.ofRows(s, plan)
          .select(sum(len).as("s"), count(len).as("n"),
            max(abs(len)).as("m")).head()
        if (row.isNullAt(0) || row.getLong(1) == 0L) None
        else Some((row.getLong(0), row.getLong(1), row.getLong(2)))
      })
  }

  private def derivedWidth(s: SparkSession,
                           sides: Seq[(LogicalPlan, Expression, Expression)]): Long = {
    val stats = sides.flatMap { case (p, lo, hi) => lengthStats(s, p, lo, hi) }
    if (stats.isEmpty) graft.rel.RangeJoin.DefaultBinSeconds
    else math.max(
      graft.rel.RangeJoin.widthFromStats(
        stats.map(_._1).sum, stats.map(_._2).sum),
      widthFloor(stats.map(_._3).max))
  }

  /** Numeric-axis twin of [[lengthStats]]: (Σ(hi−lo) as double, n).
    * The double sum's reduction order can wiggle the mean's last bits —
    * harmless: the width only shapes the plan (the exact predicate
    * decides every match), and the power-of-two clamp makes a flip
    * possible only when the mean sits exactly on a boundary. */
  private val numStatsCache = new java.util.concurrent.ConcurrentHashMap[
    (LogicalPlan, Expression, Expression), Option[(Double, Long, Double)]]()

  private def numericLengthStats(s: SparkSession, plan: LogicalPlan,
                                 lo: Expression, hi: Expression): Option[(Double, Long, Double)] = {
    if (numStatsCache.size() > 64) numStatsCache.clear()
    numStatsCache.computeIfAbsent(
      (plan.canonicalized, ordinalKey(lo, plan), ordinalKey(hi, plan)), _ => {
        val len = GraftBridge.column(hi).cast("double") -
          GraftBridge.column(lo).cast("double")
        val row = GraftBridge.ofRows(s, plan)
          .select(sum(len).as("s"), count(len).as("n"),
            max(abs(len)).as("m")).head()
        if (row.isNullAt(0) || row.getLong(1) == 0L) None
        else Some((row.getDouble(0), row.getLong(1), row.getDouble(2)))
      })
  }

  private def derivedNumericWidth(s: SparkSession,
                                  sides: Seq[(LogicalPlan, Expression, Expression)]): Double = {
    val stats = sides.flatMap { case (p, lo, hi) => numericLengthStats(s, p, lo, hi) }
    if (stats.isEmpty) 1d
    else {
      val mean = graft.rel.RangeJoin.widthFromMeanLength(
        stats.map(_._1).sum / stats.map(_._2).sum)
      // the MaxBinsPerInterval explode ceiling, numeric form: smallest
      // power of two ≥ maxAbsLen / cap (power-of-two-exact via the
      // binary exponent, so the division below is an exponent shift)
      val maxAbs = stats.map(_._3).max
      val floorW =
        if (maxAbs.isNaN || maxAbs <= 0d) mean
        else {
          val need = maxAbs / MaxBinsPerInterval
          val e = Math.getExponent(need)
          val cand = math.pow(2d, e)
          if (cand >= need) cand else math.pow(2d, e + 1)
        }
      math.max(mean, floorW)
    }
  }

  // ---- the rewrite ----

  private def rewrite(s: SparkSession, j: Join, shape: Shape): Option[LogicalPlan] = {
    if (j.output.exists(_.name == BinCol)) return None
    val lDf = GraftBridge.ofRows(s, j.left)
    val rDf = GraftBridge.ofRows(s, j.right)
    def c(e: Expression): Column = GraftBridge.column(e)
    val joined: DataFrame = shape match {
      case PointInInterval(p, onLeft, lo, hi, timeAxis) =>
        val ivSide = if (onLeft) j.right else j.left
        val bin: Column => Column =
          if (timeAxis) {
            val width = derivedWidth(s, Seq((ivSide, lo, hi)))
            x => floor(unix_timestamp(x) / width)
          } else {
            val width = derivedNumericWidth(s, Seq((ivSide, lo, hi)))
            x => floor(x.cast("double") / width).cast("long")
          }
        val (pts, ivs) = if (onLeft) (lDf, rDf) else (rDf, lDf)
        val pb = pts.withColumn(BinCol, bin(c(p)))
        val ib = ivs.withColumn(BinCol,
          explode(sequence(bin(c(lo)), bin(c(hi)))))
        pb.join(ib, Seq(BinCol))
      case Overlap(lLo, lHi, rLo, rHi, timeAxis) =>
        val sides = Seq((j.left, lLo, lHi), (j.right, rLo, rHi))
        val bin: Column => Column =
          if (timeAxis) {
            val width = derivedWidth(s, sides)
            x => floor(unix_timestamp(x) / width)
          } else {
            val width = derivedNumericWidth(s, sides)
            x => floor(x.cast("double") / width).cast("long")
          }
        val lb = lDf.withColumn(BinCol,
          explode(sequence(bin(c(lLo)), bin(c(lHi)))))
        val rb = rDf.withColumn(BinCol,
          explode(sequence(bin(c(rLo)), bin(c(rHi)))))
        lb.join(rb, Seq(BinCol))
          .filter(col(BinCol) === bin(greatest(c(lLo), c(rLo))))
      case Band(l, r, eps) =>
        val lb = lDf.withColumn(BinCol,
          floor(c(l).cast("double") / eps).cast("long"))
        val rb = rDf.withColumn(BinCol, explode(array((-2 to 2).map(o =>
          floor(c(r).cast("double") / eps).cast("long") + lit(o.toLong)): _*)))
        lb.join(rb, Seq(BinCol))
    }
    val out = joined
      .filter(c(j.condition.get))
      .select(j.output.map(a => c(a)): _*)
    Some(GraftBridge.analyzed(out))
  }

  /** Non-inner forms — see the class doc's preserved-side discipline.
    * The preserved/probe side must be the single-bin side, so it is
    * never duplicated by binning; the FULL original predicate joins
    * the bin equality inside the join condition (not as a post-filter,
    * which an outer join would pad past), and the covering argument —
    * predicate ⇒ bin equality on the unique covering copy — makes the
    * binned condition match exactly the pairs the theta condition
    * does. Null single-side values produce a null bin → no match →
    * null-pad/keep/drop, the theta condition's own null verdict. */
  private def rewriteNonInner(s: SparkSession, j: Join, jt: JoinType,
                              shape: Shape): Option[LogicalPlan] = {
    if (j.output.exists(_.name == BinCol)) return None
    val preservedLeft = jt != RightOuter
    val typeStr = jt match {
      case LeftOuter  => "left_outer"
      case RightOuter => "right_outer"
      case LeftSemi   => "left_semi"
      case LeftAnti   => "left_anti"
      case _          => return None
    }
    val lDf = GraftBridge.ofRows(s, j.left)
    val rDf = GraftBridge.ofRows(s, j.right)
    def c(e: Expression): Column = GraftBridge.column(e)
    val frames: Option[(DataFrame, DataFrame)] = shape match {
      case PointInInterval(p, onLeft, lo, hi, timeAxis)
          if onLeft == preservedLeft =>
        val ivSide = if (onLeft) j.right else j.left
        val bin: Column => Column =
          if (timeAxis) {
            val width = derivedWidth(s, Seq((ivSide, lo, hi)))
            x => floor(unix_timestamp(x) / width)
          } else {
            val width = derivedNumericWidth(s, Seq((ivSide, lo, hi)))
            x => floor(x.cast("double") / width).cast("long")
          }
        val ivBins = explode(sequence(bin(c(lo)), bin(c(hi))))
        if (onLeft) Some((lDf.withColumn(BinCol, bin(c(p))),
                          rDf.withColumn(BinCol, ivBins)))
        else        Some((lDf.withColumn(BinCol, ivBins),
                          rDf.withColumn(BinCol, bin(c(p)))))
      case Band(l, r, eps) =>
        def single(v: Expression): Column =
          floor(c(v).cast("double") / eps).cast("long")
        def spread(v: Expression): Column =
          explode(array((-2 to 2).map(o => single(v) + lit(o.toLong)): _*))
        if (preservedLeft) Some((lDf.withColumn(BinCol, single(l)),
                                 rDf.withColumn(BinCol, spread(r))))
        else               Some((lDf.withColumn(BinCol, spread(l)),
                                 rDf.withColumn(BinCol, single(r))))
      case _ => None // overlap explodes both sides; a point on the
                     // non-preserved side would duplicate the preserved one
    }
    frames.map { case (lb, rb) =>
      val joined = lb.join(rb,
        lb(BinCol) === rb(BinCol) && c(j.condition.get), typeStr)
      GraftBridge.analyzed(joined.select(j.output.map(a => c(a)): _*))
    }
  }

  /** FULL OUTER over any classified shape — decomposed as binned INNER
    * ∪ null-padded LEFT ANTI ∪ null-padded RIGHT ANTI (r14 VERDICT
    * Next #2 for the band; r15 Next #3 for the rest):
    *
    *   - BAND: EITHER side can be the single-bin side (the other takes
    *     the ±2 explode), so each anti runs with ITS preserved side
    *     single-bin and unmatched rows emit exactly once.
    *   - POINT-IN-INTERVAL / OVERLAP: the anti whose preserved side is
    *     an INTERVAL side must explode that side over its covering
    *     bins, so a plain anti join is wrong two ways (a row unmatched
    *     in one of its k bins but matched in another would survive; a
    *     truly unmatched row would survive k times). The AGGREGATE
    *     anti closes both: tag each preserved row with a synthetic
    *     per-row id BEFORE exploding (`monotonically_increasing_id` —
    *     evaluated in ONE plan subtree only, so per-run stability is
    *     irrelevant: the ids never cross an evaluation boundary),
    *     left-outer join the exploded copies against the probe side
    *     under bin-equality ∧ the FULL predicate, and a row is
    *     unmatched iff NO copy acquired a probe marker —
    *     `max(mark) IS NULL` after grouping back on the id. The
    *     preserved row's own columns ride through the group as a
    *     packed struct (copies are identical, `first` is exact). The
    *     preserved side explodes with `explode_outer`: a null-bounded
    *     interval yields a null bin array, and the row must SURVIVE to
    *     the null-pad (the theta condition's own verdict), not vanish
    *     with the explode.
    *
    * In every shape the inner emits each satisfying pair exactly once
    * (single point bin / canonical greatest-lo bin / single band bin),
    * each anti emits each unmatched preserved row exactly once, and
    * the three multisets partition the naive FULL theta join's
    * output.
    *
    * The union keeps the FIRST branch's (= the join's own) attribute
    * ids, so the parent plan's references resolve unchanged; the pad
    * branches cast typed nulls positionally. */
  private def rewriteFullOuter(s: SparkSession, j: Join,
                               shape: Shape): Option[LogicalPlan] = {
    if (j.output.exists(a => a.name == BinCol || a.name == IdCol ||
        a.name == MarkCol || a.name == PackCol)) return None
    val lDf = GraftBridge.ofRows(s, j.left)
    val rDf = GraftBridge.ofRows(s, j.right)
    def c(e: Expression): Column = GraftBridge.column(e)
    val cond = c(j.condition.get)
    val lNulls = j.left.output.map(a =>
      lit(null).cast(a.dataType).as(a.name))
    val rNulls = j.right.output.map(a =>
      lit(null).cast(a.dataType).as(a.name))
    def innerSelect(df: DataFrame): DataFrame =
      df.select(j.left.output.map(a => c(a)) ++
                j.right.output.map(a => c(a)): _*)
    /** The aggregate-based anti: preserved rows of `pres` (attribute
      * list `attrs`, exploded bin column `bins`) that match NO probe
      * row under bin-equality ∧ the full predicate. `padsLeft = true`
      * puts the null pads BEFORE the survivors' columns (the preserved
      * side is the join's RIGHT side), false after. */
    def aggAnti(pres: DataFrame,
                attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
                bins: Column, probe: DataFrame,
                pads: Seq[Column], padsLeft: Boolean): DataFrame = {
      val pExp = pres.withColumn(IdCol, monotonically_increasing_id())
        .withColumn(BinCol, bins)
      val pr = probe.withColumn(MarkCol, lit(1))
      val packed = struct(attrs.zipWithIndex.map {
        case (a, i) => c(a).as(s"f$i") }: _*)
      val survivors = pExp
        .join(pr, pExp(BinCol) === pr(BinCol) && cond, "left_outer")
        .groupBy(col(IdCol))
        .agg(first(packed).as(PackCol), max(col(MarkCol)).as(MarkCol))
        .filter(col(MarkCol).isNull)
      val fields = attrs.indices.map(i => col(s"$PackCol.f$i"))
      survivors.select(
        (if (padsLeft) pads ++ fields else fields ++ pads): _*)
    }
    shape match {
      case Band(l, r, eps) =>
        def single(v: Expression): Column =
          floor(c(v).cast("double") / eps).cast("long")
        def spread(v: Expression): Column =
          explode(array((-2 to 2).map(o => single(v) + lit(o.toLong)): _*))
        val inner = innerSelect(
          lDf.withColumn(BinCol, single(l))
            .join(rDf.withColumn(BinCol, spread(r)), Seq(BinCol))
            .filter(cond))
        val la = lDf.withColumn(BinCol, single(l))
        val lb = rDf.withColumn(BinCol, spread(r))
        val leftAnti = la.join(lb, la(BinCol) === lb(BinCol) && cond, "left_anti")
          .select(j.left.output.map(a => c(a)) ++ rNulls: _*)
        val ra = rDf.withColumn(BinCol, single(r))
        val rb = lDf.withColumn(BinCol, spread(l))
        val rightAnti = ra.join(rb, ra(BinCol) === rb(BinCol) && cond, "left_anti")
          .select(lNulls ++ j.right.output.map(a => c(a)): _*)
        Some(GraftBridge.analyzed(inner.union(leftAnti).union(rightAnti)))
      case PointInInterval(p, onLeft, lo, hi, timeAxis) =>
        val ivPlan = if (onLeft) j.right else j.left
        val bin: Column => Column =
          if (timeAxis) {
            val width = derivedWidth(s, Seq((ivPlan, lo, hi)))
            x => floor(unix_timestamp(x) / width)
          } else {
            val width = derivedNumericWidth(s, Seq((ivPlan, lo, hi)))
            x => floor(x.cast("double") / width).cast("long")
          }
        val (ptDf, ivDf) = if (onLeft) (lDf, rDf) else (rDf, lDf)
        val ptAttrs = (if (onLeft) j.left else j.right).output
        val ivAttrs = (if (onLeft) j.right else j.left).output
        def ivBins(outer: Boolean): Column = {
          val seqc = sequence(bin(c(lo)), bin(c(hi)))
          if (outer) explode_outer(seqc) else explode(seqc)
        }
        val inner = innerSelect(
          ptDf.withColumn(BinCol, bin(c(p)))
            .join(ivDf.withColumn(BinCol, ivBins(outer = false)), Seq(BinCol))
            .filter(cond))
        // preserved POINT side: single-bin, the plain anti discipline
        val pa = ptDf.withColumn(BinCol, bin(c(p)))
        val pb = ivDf.withColumn(BinCol, ivBins(outer = false))
        val ptAnti0 = pa.join(pb, pa(BinCol) === pb(BinCol) && cond, "left_anti")
        val ptAnti =
          if (onLeft) ptAnti0.select(ptAttrs.map(a => c(a)) ++ rNulls: _*)
          else ptAnti0.select(lNulls ++ ptAttrs.map(a => c(a)): _*)
        // preserved INTERVAL side: the aggregate anti — pads sit where
        // the POINT side's columns would (before the interval's when
        // the interval is the right side, after when it is the left)
        val ivAnti = aggAnti(ivDf, ivAttrs, ivBins(outer = true),
          ptDf.withColumn(BinCol, bin(c(p))),
          if (onLeft) lNulls else rNulls, padsLeft = onLeft)
        Some(GraftBridge.analyzed(
          if (onLeft) inner.union(ptAnti).union(ivAnti)
          else inner.union(ivAnti).union(ptAnti)))
      case Overlap(lLo, lHi, rLo, rHi, timeAxis) =>
        val sides = Seq((j.left, lLo, lHi), (j.right, rLo, rHi))
        val bin: Column => Column =
          if (timeAxis) {
            val width = derivedWidth(s, sides)
            x => floor(unix_timestamp(x) / width)
          } else {
            val width = derivedNumericWidth(s, sides)
            x => floor(x.cast("double") / width).cast("long")
          }
        def bins(lo: Expression, hi: Expression, outer: Boolean): Column = {
          val seqc = sequence(bin(c(lo)), bin(c(hi)))
          if (outer) explode_outer(seqc) else explode(seqc)
        }
        val inner = innerSelect(
          lDf.withColumn(BinCol, bins(lLo, lHi, outer = false))
            .join(rDf.withColumn(BinCol, bins(rLo, rHi, outer = false)),
              Seq(BinCol))
            .filter(col(BinCol) === bin(greatest(c(lLo), c(rLo))))
            .filter(cond))
        // BOTH sides are interval sides: each anti is aggregate-based
        // (overlapping intervals share ≥1 bin — the greatest-lo bin —
        // so "no copy matched" ⟺ "no overlap partner exists")
        val leftAnti = aggAnti(lDf, j.left.output, bins(lLo, lHi, outer = true),
          rDf.withColumn(BinCol, bins(rLo, rHi, outer = false)),
          rNulls, padsLeft = false)
        val rightAnti = aggAnti(rDf, j.right.output, bins(rLo, rHi, outer = true),
          lDf.withColumn(BinCol, bins(lLo, lHi, outer = false)),
          lNulls, padsLeft = true)
        Some(GraftBridge.analyzed(inner.union(leftAnti).union(rightAnti)))
    }
  }

  private def supported(jt: JoinType): Boolean = jt match {
    case Inner | FullOuter | LeftOuter | RightOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession match {
      case Some(s) if conf.getConfString(EnabledKey, "true") == "true" =>
        plan.transformUp {
          case j @ Join(left, right, jt, Some(cond), JoinHint.NONE)
              if supported(jt) && !left.isStreaming && !right.isStreaming =>
            classify(cond, left, right).flatMap { shape =>
              try {
                if (jt == Inner) rewrite(s, j, shape)
                else if (jt == FullOuter) rewriteFullOuter(s, j, shape)
                else rewriteNonInner(s, j, jt, shape)
              } catch {
                case scala.util.control.NonFatal(e) =>
                  logWarning(s"range-join rewrite stood down: $e")
                  None
              }
            }.getOrElse(j)
        }
      case _ => plan
    }
}
