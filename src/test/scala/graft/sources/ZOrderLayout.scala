package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The Z-clustered layout [[ZOrderSpec]] proves pruning on. */
object ZOrderLayout {

  /** Z-clustered write: range-partition by the Morton code and sort each
    * partition by it, so every output parquet file covers a compact
    * rectangle of the (x, y) key space and its min/max column stats
    * prune range predicates on EITHER dimension (ZOrderSpec proves the
    * pruning on the files this writes). The range exchange is the one
    * shuffle; sortWithinPartitions never spills more than a partition. */
  def writeClustered(df: DataFrame, path: String,
                     x: String, y: String, files: Int = 8): Unit =
    df.withColumn("zval", ZOrder.interleave(col(x), col(y)))
      .repartitionByRange(files, col("zval"))
      .sortWithinPartitions("zval")
      .drop("zval")
      .write.mode("overwrite").parquet(path)
}
