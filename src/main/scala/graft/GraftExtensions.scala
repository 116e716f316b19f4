package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DecodeCdcMsgExpr, DotProductExpr, GraftFunctions, MqttMatchesExpr}
import graft.plans.MqttPrefixPushdown

/** Session extensions wiring for the graft engine:
  *   - SQL functions `mqtt_matches(pattern, channel)`, `dot_product(a, b)`,
  *     `max_sim(q, d, tokens, dim)` (codegen'd Catalyst expressions) and
  *     `bottomk_by_hash(v, k)` (the deterministic KMV sample aggregate);
  *   - the `ASOF [LEFT] JOIN` SQL surface ([[graft.plans.AsOfSql]]):
  *     delegating parser + `graft_asof_marker` function + resolution
  *     rule + the no-marker-survives check rule;
  *   - optimizer rules [[MqttPrefixPushdown]] (constant routing
  *     patterns → parquet-pushdown-able prefix predicates),
  *     [[graft.plans.BusPartitionPruning]] (pattern → partition-value
  *     pruning), [[graft.plans.AsOfJoinPushdown]] (column pruning +
  *     left-predicate pushdown through the custom as-of node) and
  *     [[graft.plans.RangeJoinRewrite]] (raw point-in-interval / band /
  *     overlap theta joins → the binned equi-join form, stats-derived
  *     bin width);
  *   - the [[graft.plans.AsOfJoinStrategy]] planner strategy backing the
  *     native as-of join operator ([[graft.plans.AsOfJoin]]);
  *   - the spawn-free `file:` filesystem pair for checkpoint I/O
  *     ([[graft.fs.SpawnFreeLocalFs]]), installed once per JVM.
  *
  * Use: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Mirror Spark's built-in ExpressionBuilder arity errors: a wrong
    * argument count must be a clean AnalysisException naming the function,
    * not an IndexOutOfBoundsException (and extra args must not be silently
    * dropped). */
  private def arity(name: String, n: Int)(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Unit =
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> n.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  override def apply(e: SparkSessionExtensions): Unit = {
    graft.fs.SpawnFreeLocalFs.install()
    e.injectFunction((
      FunctionIdentifier("mqtt_matches"),
      new ExpressionInfo(classOf[MqttMatchesExpr].getName, "mqtt_matches"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("mqtt_matches", 2)(exprs)
        MqttMatchesExpr(exprs(0), exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("dot_product", 2)(exprs)
        DotProductExpr(exprs(0), exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("bottomk_by_hash"),
      new ExpressionInfo(classOf[graft.functions.BottomKByHashAgg].getName, "bottomk_by_hash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftFunctions.bottomkBuilder(exprs)))
    e.injectFunction((
      FunctionIdentifier("decode_cdc_msg"),
      new ExpressionInfo(classOf[DecodeCdcMsgExpr].getName, "decode_cdc_msg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("decode_cdc_msg", 1)(exprs)
        DecodeCdcMsgExpr(exprs(0))
      }))
    e.injectFunction((
      FunctionIdentifier("mqtt_dispatch"),
      new ExpressionInfo(classOf[graft.functions.MqttDispatchExpr].getName, "mqtt_dispatch"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftFunctions.dispatchBuilder(exprs)))
    e.injectFunction((
      FunctionIdentifier("max_sim"),
      new ExpressionInfo(classOf[graft.functions.MaxSimExpr].getName, "max_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftFunctions.maxSimBuilder(exprs)))
    e.injectFunction((
      FunctionIdentifier("dtw_band"),
      new ExpressionInfo(classOf[graft.functions.DtwBandExpr].getName, "dtw_band"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        GraftFunctions.dtwBandBuilder(exprs)))
    e.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[graft.functions.WinnowFpsExpr].getName, "winnow_fps"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("winnow_fps", 1)(exprs)
        graft.functions.WinnowFpsExpr(exprs(0), graft.llm.HashDedup.shingleKernel)
      }))
    e.injectFunction((
      FunctionIdentifier("band_hashes"),
      new ExpressionInfo(classOf[graft.functions.BandHashesExpr].getName, "band_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity("band_hashes", 1)(exprs)
        graft.functions.BandHashesExpr(exprs(0), graft.llm.HashDedup.shingleKernel)
      }))
    // the SQL ASOF JOIN surface: marker function + delegating parser +
    // resolution rule + the no-marker-survives analysis check
    // (graft.plans.AsOfSql)
    e.injectFunction((
      FunctionIdentifier(graft.plans.AsOfSqlRewrite.MarkerFn),
      new ExpressionInfo(classOf[graft.plans.AsOfMarkerExpr].getName,
        graft.plans.AsOfSqlRewrite.MarkerFn),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        arity(graft.plans.AsOfSqlRewrite.MarkerFn, 1)(exprs)
        graft.plans.AsOfMarkerExpr(exprs(0))
      }))
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    e.injectResolutionRule(_ => graft.plans.AsOfSqlResolution)
    e.injectCheckRule(_ => graft.plans.AsOfSqlCheck)
    e.injectOptimizerRule(_ => MqttPrefixPushdown)
    e.injectOptimizerRule(_ => graft.plans.BusPartitionPruning)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinPushdown)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
