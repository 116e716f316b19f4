package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling primitives: deterministic salting for hot keys.
  *
  * Spark's hash aggregation already combines map-side, and AQE splits
  * skewed JOIN partitions at runtime — this covers the case left: a
  * reduction whose single hot key overwhelms one reducer even after
  * partial aggregation (very high-cardinality per-key state, e.g.
  * collect-style aggs).
  *
  * Salt is derived deterministically (`pmod(hash(saltFrom), buckets)`)
  * so retries/speculative tasks reproduce the same assignment.
  */
object Salt {

  private[graft] def saltCol(saltFrom: Column, buckets: Int): Column =
    pmod(hash(saltFrom), lit(buckets))

  /** Two-phase salted sum/count per key: partial by (key, salt) spreads a
    * hot key over `buckets` reducers, final by key combines the partials. */
  def saltedSumCount(df: DataFrame, key: String, value: String,
                     saltFrom: String, buckets: Int = 16): DataFrame =
    df.withColumn("_salt", saltCol(col(saltFrom), buckets))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(value)).as("_s"), count(lit(1)).as("_c"))
      .groupBy(col(key))
      .agg(sum(col("_s")).as("total"), sum(col("_c")).as("n"))
}
