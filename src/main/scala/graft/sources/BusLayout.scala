package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.cdc.MqttPattern
import graft.functions.GraftFunctions.mqtt_matches

/** Storage layout for the captured bus at scale.
  *
  * Routing is data (the reference's publish quirk, lib/nats.js:175), so
  * the dominant predicate on a 100 TB bus is the channel's leading
  * levels. Hive-partitioning the capture by the first routing level
  * (event_type here) turns every constant-prefix subscription into
  * partition pruning — the scan never opens non-matching directories —
  * and the MqttPrefixPushdown StartsWith handles the finer levels via
  * row-group stats inside each partition.
  */
object BusLayout {

  /** Write the bus partitioned by its first routing level. */
  def writePartitioned(bus: DataFrame, path: String): Unit =
    bus.write.partitionBy("event_type").mode("overwrite").parquet(path)

  /** Read it back; subscription filters on event_type prune partitions. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a partitioned capture — the small-files problem: a
    * long-running streaming capture leaves one file per (micro-batch ×
    * task) in every partition directory, and scan/open overhead
    * eventually dominates reads. One hash repartition on the partition
    * key routes each event_type entirely to one task → one file per
    * directory (`maxRecordsPerFile` re-splits oversized ones). Routing
    * results are identical by construction — only the file layout
    * changes. */
  def compact(spark: SparkSession, path: String, out: String,
              maxRecordsPerFile: Long = 8L * 1024 * 1024): Unit =
    readPartitioned(spark, path)
      .repartition(col("event_type"))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("event_type").mode("overwrite").parquet(out)

  /** A subscription over the re-read layout, with partition pruning made
    * explicit: the canonical channel is `cdc/<event_type>/…`, so a
    * pattern whose SECOND level is literal pins `event_type` — conjoin
    * that equality and the scan prunes to one directory before the
    * per-row mqtt match runs. Wildcard second levels fall back to the
    * plain filter (every partition scanned, as they must be). */
  def subscribe(df: DataFrame, pattern: String): DataFrame = {
    val base = df.filter(mqtt_matches(lit(pattern), col("channel")))
    val levels = pattern.split("/", -1)
    // the event_type conjunct is only implied by the CANONICAL layout
    // (channel = cdc/<event_type>/…): require the literal prefix to pin
    // both the "cdc" root and the second level
    val prefix = MqttPattern.literalPrefix(pattern)._1.split("/", -1)
    val secondLiteral = prefix.length > 1 && prefix(0) == "cdc"
    if (secondLiteral) base.filter(col("event_type") === levels(1)) else base
  }
}
