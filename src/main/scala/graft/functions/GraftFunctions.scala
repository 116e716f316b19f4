package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, GraftBridge}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{AsOfMarkerExpr, AsOfSqlRewrite}

/** Column-level API + SQL registration for graft's custom expressions. */
object GraftFunctions {

  /** `mqtt_matches(pattern, channel)` as a `Column` predicate. */
  def mqtt_matches(pattern: Column, channel: Column): Column =
    GraftBridge.column(MqttMatchesExpr(
      GraftBridge.expression(pattern),
      GraftBridge.expression(channel)))

  /** `mqtt_dispatch(channel)` against a plan-time subscription set: the
    * ARRAY<INT> of indices into `patterns` that match — one compiled
    * topic-trie walk per row instead of #patterns separate matches. */
  def mqtt_dispatch(channel: Column, patterns: Seq[String]): Column =
    GraftBridge.column(MqttDispatchExpr(GraftBridge.expression(channel), patterns))

  /** Codegen'd sequential-fold dot product over ARRAY<DOUBLE> columns. */
  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd late-interaction (MaxSim) score: the two ARRAY<DOUBLE>
    * columns read as `tokens`×`dim` token grids,
    * Σᵢ maxⱼ floor(10⁶·⟨qᵢ, dⱼ⟩) as an exact BIGINT. */
  def max_sim(q: Column, d: Column, tokens: Int, dim: Int): Column =
    GraftBridge.column(MaxSimExpr(
      GraftBridge.expression(q), GraftBridge.expression(d), tokens, dim))

  /** Codegen'd Sakoe-Chiba banded DTW over two length-`n` ARRAY<BIGINT>
    * integer series: min-cost monotone alignment within |i−j| ≤ band,
    * L1 cell cost, exact BIGINT DP (band 0 ≡ Σ|xᵢ−yᵢ|). */
  def dtw_band(x: Column, y: Column, n: Int, band: Int): Column =
    GraftBridge.column(DtwBandExpr(
      GraftBridge.expression(x), GraftBridge.expression(y), n, band))

  /** One-pass marker-word counts + CJK flag (lang-id kernel):
    * STRUCT<h_<name> INT…, cjk BOOLEAN>. */
  def marker_counts(text: Column, sets: Seq[(String, Seq[String])]): Column =
    GraftBridge.column(MarkerCountsExpr(GraftBridge.expression(text), sets))

  /** Decode a protobuf-encoded CDCMsg envelope (BINARY → STRUCT). */
  def decode_cdc_msg(bytes: Column): Column =
    GraftBridge.column(DecodeCdcMsgExpr(GraftBridge.expression(bytes)))

  /** SQL builder for mqtt_dispatch: the pattern set must be a foldable
    * ARRAY<STRING> literal (the trie is compiled at plan time). */
  private def dispatchBuilder(exprs: Seq[Expression]): Expression = {
    // element type and nullness are validated BEFORE eval so a wrong
    // literal gets the friendly message, not a ClassCastException/NPE
    val pats = exprs(1) match {
      case e if e.foldable && (e.dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => true
          // the empty literal array() types as ARRAY<NULL>: a legal
          // zero-route dispatch (matches nothing), not a type error —
          // non-empty NULL-element arrays are rejected by the null check
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.NullType, _) => true
          case _ => false
        }) =>
        e.eval(null) match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            val arr = a.toObjectArray(org.apache.spark.sql.types.StringType)
            if (arr.exists(_ == null)) throw new IllegalArgumentException(
              "mqtt_dispatch(channel, patterns): patterns must not contain NULL")
            arr.map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
              .toSeq
          case other => throw new IllegalArgumentException(
            s"mqtt_dispatch(channel, patterns): patterns must be an ARRAY<STRING> literal, got $other")
        }
      case other => throw new IllegalArgumentException(
        "mqtt_dispatch(channel, patterns): patterns must be a foldable " +
          s"ARRAY<STRING> literal, got ${other.sql}")
    }
    MqttDispatchExpr(exprs(0), pats)
  }

  /** Deterministic bottom-k-by-hash sample aggregate over a LONG column. */
  def bottomk_by_hash(c: Column, k: Int): Column =
    GraftBridge.column(
      BottomKByHashAgg(GraftBridge.expression(c), k).toAggregateExpression())

  /** Mergeable per-group top-k by score over (STRING term, DOUBLE score)
    * — rank order (score desc, term asc), row-identical to the
    * equivalent row_number window without its per-group sort. */
  def topk_by_score(term: Column, score: Column, k: Int): Column =
    GraftBridge.column(
      TopKByScoreAgg(GraftBridge.expression(term),
        GraftBridge.expression(score), k).toAggregateExpression())

  /** SQL builder for bottomk_by_hash: k must be a foldable integer
    * literal (the buffer bound is fixed at plan time). */
  private def bottomkBuilder(exprs: Seq[Expression]): Expression = {
    val k = exprs(1) match {
      case e if e.foldable => e.eval(null) match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long if l.longValue() == l.intValue() => l.intValue()
        case s: java.lang.Short => s.intValue()
        case b: java.lang.Byte => b.intValue()
        case other => throw new IllegalArgumentException(
          s"bottomk_by_hash(v, k): k must be an integer literal, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"bottomk_by_hash(v, k): k must be an integer literal, got ${other.sql}")
    }
    BottomKByHashAgg(exprs(0), k)
  }

  /** SQL builder for max_sim(q, d, tokens, dim): the grid shape must be
    * foldable INT literals — the kernel specializes its loops at plan
    * time. */
  private def maxSimBuilder(exprs: Seq[Expression]): Expression = {
    def intLit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
            v: Int, org.apache.spark.sql.types.IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"max_sim: $name must be an INT literal (the loops specialize at " +
          s"plan time), got $other")
    }
    MaxSimExpr(exprs(0), exprs(1),
      intLit(exprs(2), "tokens"), intLit(exprs(3), "dim"))
  }

  /** SQL builder for dtw_band(x, y, n, band): the series length and
    * band must be foldable INT literals — the DP loops and rolling-row
    * width specialize at plan time (the [[maxSimBuilder]] discipline). */
  private def dtwBandBuilder(exprs: Seq[Expression]): Expression = {
    def intLit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
            v: Int, org.apache.spark.sql.types.IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"dtw_band: $name must be an INT literal (the DP specializes at " +
          s"plan time), got $other")
    }
    DtwBandExpr(exprs(0), exprs(1), intLit(exprs(2), "n"), intLit(exprs(3), "band"))
  }

  /** One SQL function: identifier, catalog info and an arity-checked
    * builder. */
  private def fn(name: String, cls: Class[_], n: Int)(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), exprs => {
      // Spark's own builder arity error: a clean AnalysisException naming
      // the function, never an IndexOutOfBoundsException or extra
      // arguments silently dropped
      if (exprs.length != n) throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs)
    })

  /** graft's SQL functions, declared once: [[graft.GraftExtensions]]
    * injects them and [[graft.GraftSession.install]] registers them in a
    * plain session. */
  private[graft] val sqlFunctions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("mqtt_matches", classOf[MqttMatchesExpr], 2)(e => MqttMatchesExpr(e(0), e(1))),
    fn("dot_product", classOf[DotProductExpr], 2)(e => DotProductExpr(e(0), e(1))),
    fn("bottomk_by_hash", classOf[BottomKByHashAgg], 2)(bottomkBuilder),
    fn("decode_cdc_msg", classOf[DecodeCdcMsgExpr], 1)(e => DecodeCdcMsgExpr(e(0))),
    fn("mqtt_dispatch", classOf[MqttDispatchExpr], 2)(dispatchBuilder),
    fn("max_sim", classOf[MaxSimExpr], 4)(maxSimBuilder),
    fn("dtw_band", classOf[DtwBandExpr], 4)(dtwBandBuilder),
    fn("winnow_fps", classOf[WinnowFpsExpr], 1)(
      e => WinnowFpsExpr(e(0), graft.llm.HashDedup.shingleKernel)),
    fn("band_hashes", classOf[BandHashesExpr], 1)(
      e => BandHashesExpr(e(0), graft.llm.HashDedup.shingleKernel)),
    // the marker the ASOF JOIN rewrite leaves for resolution
    // (graft.plans.AsOfSql)
    fn(AsOfSqlRewrite.MarkerFn, classOf[AsOfMarkerExpr], 1)(e => AsOfMarkerExpr(e(0))))
}
