package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Abs, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, PredicateHelper, SubqueryExpression, Subtract}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, first, lit, max, monotonically_increasing_id, struct}
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampType}

import graft.rel.RangeJoin
import graft.rel.RangeJoin.{BinCol, Bins}

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
  * because IEEE division is monotone ([[graft.rel.RangeJoin.ValueBins]]).
  * The rule classifies the condition and assembles the join type; every
  * bin column and width comes from [[graft.rel.RangeJoin]].
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
  * FULL OUTER takes every shape ([[assemble]]).
  *
  * The rule stands DOWN (leaves the join untouched) when:
  *   - the join type is not Inner/FullOuter/LeftOuter/RightOuter/
  *     LeftSemi/LeftAnti, the non-inner side discipline above fails, the
  *     join carries a hint, either side is streaming, or a side has a
  *     column named like one of the rule's helper columns;
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
  * aggregation pass over the interval side computes the sum, count and
  * longest of the interval lengths, and the width is the largest power
  * of two ≤ the mean length, clamped to [1, 2²⁰] seconds and widened
  * until the longest interval spans ≤ 4096 bins
  * ([[graft.rel.RangeJoin.binsFor]] — an integer decision on the time
  * axis, the `ann_filtered_auto` discipline, pinned by spec on
  * adversarial corpora). The pass is memoized per canonicalized
  * interval plan; at production scale it is one column-pruned scan of
  * the (small) interval side — strictly cheaper than a single iteration
  * of the nested loop it replaces. The band form needs no stats: the
  * predicate literal `eps` IS the bin width.
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

  /** Helper columns of the FULL OUTER aggregate anti ([[assemble]]):
    * the synthetic preserved-row id, the probe marker, and the packed
    * preserved-row struct — all dropped before the branch's final
    * projection. A (vanishingly unlikely) user column named like one of
    * these or [[graft.rel.RangeJoin.BinCol]] makes the rule stand down
    * rather than collide. */
  private val IdCol = "__graft_range_id"
  private val MarkCol = "__graft_range_hit"
  private val PackCol = "__graft_range_row"
  private val Reserved = Set(BinCol, IdCol, MarkCol, PackCol)

  // ---- condition classification ----

  private sealed trait Shape
  /** `timeAxis`: endpoints are timestamps or dates
    * ([[graft.rel.RangeJoin.SecondBins]]) vs a numeric axis
    * ([[graft.rel.RangeJoin.ValueBins]]). */
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

  /** Whether the join type keeps the preserved (or probe) side
    * single-bin — the class doc's discipline. Inner and full outer take
    * every shape. */
  private def fits(jt: JoinType, shape: Shape): Boolean = jt match {
    case Inner | FullOuter => true
    case LeftOuter | LeftSemi | LeftAnti => singleSide(shape, preferLeft = true).contains(true)
    case RightOuter => singleSide(shape, preferLeft = false).contains(false)
    case _ => false
  }

  /** Which side takes a single bin: the point side of a
    * point-in-interval, the `preferLeft` side of a band (either side can
    * take it), neither side of an overlap. */
  private def singleSide(shape: Shape, preferLeft: Boolean): Option[Boolean] =
    shape match {
      case p: PointInInterval => Some(p.pointOnLeft)
      case _: Band => Some(preferLeft)
      case _: Overlap => None
    }

  // ---- stats-derived bin width ----

  /** Interval-length stats of one plan ([[graft.rel.RangeJoin.lengthStats]])
    * — memoized per canonicalized (plan, lo, hi) so REPEATED executions
    * of the same query text pay the pass once per JVM, not once per
    * optimization. Key discipline: `plan.canonicalized` normalizes the
    * PLAN's exprIds positionally, so the lo/hi expressions must be
    * normalized against the same frame — their attribute refs are
    * rebound to output ORDINALS ([[ordinalKey]]); keying on the raw
    * exprIds would miss on every re-invocation (each mints fresh ids)
    * and re-run the pass per bench pass. The endpoints' types fix the
    * axis, so one memo serves both. Bounded: the keys retain plan
    * trees, so the memo clears past 64 entries. */
  private val statsMemo = new java.util.concurrent.ConcurrentHashMap[
    (LogicalPlan, Expression, Expression), Option[RangeJoin.LengthStats]]()

  /** `e` with every attribute replaced by its ordinal in `plan.output`
    * — a canonical, invocation-independent cache-key form. */
  private def ordinalKey(e: Expression, plan: LogicalPlan): Expression =
    e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          plan.output.indexWhere(_.exprId == a.exprId), a.dataType, a.nullable)
    }.canonicalized

  private def lengthStats(s: SparkSession, timeAxis: Boolean, plan: LogicalPlan,
                          lo: Expression, hi: Expression): Option[RangeJoin.LengthStats] = {
    if (statsMemo.size() > 64) statsMemo.clear()
    statsMemo.computeIfAbsent(
      (plan.canonicalized, ordinalKey(lo, plan), ordinalKey(hi, plan)),
      _ => RangeJoin.lengthStats(GraftBridge.ofRows(s, plan), c(lo), c(hi), timeAxis))
  }

  /** The shape's bins: the band's eps IS its width; an interval shape
    * pools its interval sides' memoized stats ([[RangeJoin.binsFor]]). */
  private def binsOf(s: SparkSession, j: Join, shape: Shape): Bins = {
    def derived(timeAxis: Boolean, sides: (LogicalPlan, Expression, Expression)*) =
      RangeJoin.binsFor(timeAxis, sides.flatMap { case (p, lo, hi) =>
        lengthStats(s, timeAxis, p, lo, hi) })
    shape match {
      case Band(_, _, eps) => RangeJoin.ValueBins(eps)
      case PointInInterval(_, onLeft, lo, hi, timeAxis) =>
        derived(timeAxis, (if (onLeft) j.right else j.left, lo, hi))
      case Overlap(lLo, lHi, rLo, rHi, timeAxis) =>
        derived(timeAxis, (j.left, lLo, lHi), (j.right, rLo, rHi))
    }
  }

  // ---- the rewrite ----

  private def c(e: Expression): Column = GraftBridge.column(e)

  /** One side's bin column: the single side's one bin, the other side's
    * covering explode (or the band's spread). `outer` keeps an interval
    * row whose bin array is null. */
  private def sideBins(shape: Shape, bins: Bins, left: Boolean,
                       singleLeft: Option[Boolean], outer: Boolean = false): Column =
    shape match {
      case PointInInterval(p, onLeft, lo, hi, _) =>
        if (left == onLeft) bins.of(c(p)) else bins.covering(c(lo), c(hi), outer)
      case Overlap(lLo, lHi, rLo, rHi, _) =>
        if (left) bins.covering(c(lLo), c(lHi), outer)
        else bins.covering(c(rLo), c(rHi), outer)
      case Band(l, r, _) =>
        val v = c(if (left) l else r)
        if (singleLeft.contains(left)) bins.of(v) else bins.spread(v)
    }

  /** The binned form of join `j`. INNER is an equi join on the bin,
    * single-bin side first, then the overlap's canonical-bin filter and
    * the ORIGINAL predicate.
    *
    * LEFT/RIGHT OUTER, SEMI and ANTI ([[fits]]): the preserved/probe side
    * is the single-bin side, so it is never duplicated by binning; the
    * FULL original predicate joins the bin equality inside the join
    * condition (not as a post-filter, which an outer join would pad
    * past), and the covering argument — predicate ⇒ bin equality on the
    * unique covering copy — makes the binned condition match exactly
    * the pairs the theta condition does. A null single-side value gets
    * a null bin → no match → null-pad/keep/drop, the theta condition's
    * own null verdict.
    *
    * FULL OUTER: binned INNER ∪ null-padded anti of the left side ∪
    * null-padded anti of the right side. A side that can take a single
    * bin (a point side, either band side) gets a plain anti join, and
    * its unmatched rows emit exactly once. An INTERVAL side explodes
    * over its covering bins, so a plain anti join is wrong two ways (a
    * row unmatched in one of its k bins but matched in another would
    * survive; a truly unmatched row would survive k times); the
    * AGGREGATE anti closes both: tag each preserved row with a synthetic
    * per-row id BEFORE exploding (`monotonically_increasing_id` —
    * evaluated in ONE plan subtree only, so per-run stability is
    * irrelevant: the ids never cross an evaluation boundary), left-outer
    * join the exploded copies against the probe side under
    * bin-equality ∧ the FULL predicate, and a row is unmatched iff NO
    * copy acquired a probe marker — `max(mark) IS NULL` after grouping
    * back on the id. The preserved row's own columns ride through the
    * group as a packed struct (copies are identical, `first` is exact).
    * The preserved side explodes with `explode_outer`: a null-bounded
    * interval yields a null bin array, and the row must SURVIVE to the
    * null-pad, not vanish with the explode. Overlapping intervals share
    * ≥ 1 bin (the greatest-lo bin), so "no copy matched" ⟺ "no overlap
    * partner exists". The three multisets partition the naive FULL theta
    * join's output. The union keeps the FIRST branch's (= the join's
    * own) attribute ids, so the parent plan's references resolve
    * unchanged; the pad branches cast typed nulls positionally. */
  private def assemble(s: SparkSession, j: Join, shape: Shape): DataFrame = {
    val bins = binsOf(s, j, shape)
    val lDf = GraftBridge.ofRows(s, j.left)
    val rDf = GraftBridge.ofRows(s, j.right)
    val cond = c(j.condition.get)
    def binned(df: DataFrame, left: Boolean, singleLeft: Option[Boolean]): DataFrame =
      df.withColumn(BinCol, sideBins(shape, bins, left, singleLeft))
    def inner: DataFrame = {
      val sl = singleSide(shape, preferLeft = true)
      val (lb, rb) = (binned(lDf, left = true, sl), binned(rDf, left = false, sl))
      val joined =
        if (sl.contains(false)) rb.join(lb, Seq(BinCol)) else lb.join(rb, Seq(BinCol))
      val exactlyOnce = shape match {
        case o: Overlap => joined.filter(bins.canonical(c(o.lLo), c(o.rLo)))
        case _ => joined
      }
      exactlyOnce.filter(cond).select((j.left.output ++ j.right.output).map(a => c(a)): _*)
    }
    def anti(presLeft: Boolean): DataFrame = {
      val (pres, probe) = if (presLeft) (lDf, rDf) else (rDf, lDf)
      val (attrs, other) =
        if (presLeft) (j.left.output, j.right.output) else (j.right.output, j.left.output)
      val pads = other.map(a => lit(null).cast(a.dataType).as(a.name))
      val sl = singleSide(shape, preferLeft = presLeft)
      val pb = binned(probe, left = !presLeft, sl)
      val (survivors, cols) =
        if (sl.contains(presLeft)) {
          val pa = binned(pres, left = presLeft, sl)
          (pa.join(pb, pa(BinCol) === pb(BinCol) && cond, "left_anti"),
           attrs.map(a => c(a)))
        } else {
          val pExp = pres.withColumn(IdCol, monotonically_increasing_id())
            .withColumn(BinCol, sideBins(shape, bins, presLeft, sl, outer = true))
          val pr = pb.withColumn(MarkCol, lit(1))
          val packed = struct(attrs.zipWithIndex.map {
            case (a, i) => c(a).as(s"f$i") }: _*)
          (pExp.join(pr, pExp(BinCol) === pr(BinCol) && cond, "left_outer")
             .groupBy(col(IdCol))
             .agg(first(packed).as(PackCol), max(col(MarkCol)).as(MarkCol))
             .filter(col(MarkCol).isNull),
           attrs.indices.map(i => col(s"$PackCol.f$i")))
        }
      survivors.select((if (presLeft) cols ++ pads else pads ++ cols): _*)
    }
    j.joinType match {
      case Inner => inner
      case FullOuter => inner.union(anti(presLeft = true)).union(anti(presLeft = false))
      case jt =>
        val sl = singleSide(shape, preferLeft = jt != RightOuter)
        val (lb, rb) = (binned(lDf, left = true, sl), binned(rDf, left = false, sl))
        lb.join(rb, lb(BinCol) === rb(BinCol) && cond, jt.sql.replace(' ', '_'))
          .select(j.output.map(a => c(a)): _*)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession match {
      case Some(s) if conf.getConfString(EnabledKey, "true") == "true" =>
        plan.transformUp {
          case j @ Join(left, right, jt, Some(cond), JoinHint.NONE)
              if !left.isStreaming && !right.isStreaming &&
                 !(left.output ++ right.output).exists(a => Reserved(a.name)) =>
            classify(cond, left, right).filter(fits(jt, _)).flatMap { shape =>
              try Some(GraftBridge.analyzed(assemble(s, j, shape)))
              catch {
                case scala.util.control.NonFatal(e) =>
                  logWarning(s"range-join rewrite stood down: $e")
                  None
              }
            }.getOrElse(j)
        }
      case _ => plan
    }
}
