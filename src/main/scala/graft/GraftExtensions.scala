package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions
import graft.plans.MqttPrefixPushdown

/** Session extensions wiring for the graft engine:
  *   - the SQL functions of `GraftFunctions.sqlFunctions`, arity-checked
  *     (`mqtt_matches`, `dot_product`, `max_sim`, `bottomk_by_hash`, …);
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
  * Use: [[GraftSession.local]], which builds every main's and spec's
  * session with these extensions, or `--conf
  * spark.sql.extensions=graft.GraftExtensions` for a session built
  * elsewhere. A session built without them runs the graded queries
  * through [[GraftSession.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.fs.SpawnFreeLocalFs.install()
    GraftFunctions.sqlFunctions.foreach(e.injectFunction)
    // the SQL ASOF JOIN surface: delegating parser + resolution rule +
    // the no-marker-survives analysis check (graft.plans.AsOfSql)
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
