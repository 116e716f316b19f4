package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, RangeJoinRewrite}

/** The one way to set up a session for the engine.
  *
  *   - [[local]] builds the session every main and spec runs on.
  *   - [[install]] makes a session built WITHOUT [[GraftExtensions]]
  *     usable by the graded queries (the single idempotent setup point
  *     of Pathling's `SqlStrategy.setup`); in an extensions session it
  *     does nothing.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the box: an under-threaded
    * default would mis-report every query as slower than the engine is. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Janino class cache entries (static conf, Spark default 100). The
    * catalog compiles ~5-10 codegen units per query, so the default
    * evicts everything between two runs of the same query and every run
    * re-compiles; 8000 measured −27% on the sf0.1 bench total
    * (OPTIMIZATION_r16.md §1). */
  private val CodegenCacheEntries = 8000

  /** A `local[cores]` session with [[GraftExtensions]], `cores` shuffle
    * partitions, the codegen cache above, UTC session time, no UI and
    * WARN logging. Returns the live session when one exists. */
  def local(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Make graft's SQL functions, the as-of join strategy and the range
    * join rewrite visible to `s`. A no-op when `s` was built with
    * [[GraftExtensions]] (which inject all three, the rewrite inside the
    * operator-optimization batch). In a plain session it registers each
    * function not already registered and appends the strategy and the
    * rule to `experimental` once; no parser, resolution rule or other
    * optimizer rule is added, so the `ASOF JOIN` keyword and the
    * pushdown rules stay extension-only. */
  def install(s: SparkSession): Unit =
    if (!GraftBridge.injects(s, AsOfJoinStrategy)) synchronized {
      val reg = s.sessionState.functionRegistry
      GraftFunctions.sqlFunctions.foreach { case (id, info, build) =>
        if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
      }
      val x = s.experimental
      if (!x.extraStrategies.contains(AsOfJoinStrategy))
        x.extraStrategies = x.extraStrategies :+ AsOfJoinStrategy
      if (!x.extraOptimizations.contains(RangeJoinRewrite))
        x.extraOptimizations = x.extraOptimizations :+ RangeJoinRewrite
    }
}
