package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving for multi-dimensional data layout —
  * the clustering trick that makes range predicates on EITHER dimension
  * prune files/row-groups after a single sort (the layout analogue of
  * what Delta/Iceberg `ZORDER BY` does).
  *
  * At 100 TB the intended use is `df.repartitionByRange(col(zval))`
  * followed by a sorted write, so every parquet file covers a small
  * rectangle of the (x, y) key space and min/max row-group stats prune
  * on both dimensions. The interleave itself is a pure bit expression —
  * whole-stage-codegen'd, no UDF.
  */
object ZOrder {

  /** Bits taken from each dimension; z-value occupies 2·[[Bits]] bits. */
  val Bits = 16

  /** Interleave the low [[Bits]] bits of `x` and `y` into a Morton code:
    * z = Σᵢ ((x≫i & 1) ≪ 2i) | ((y≫i & 1) ≪ (2i+1)). Both inputs must be
    * non-negative and fit in [[Bits]] bits (mask upstream if not). */
  def interleave(x: Column, y: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** The same interleave as DuckDB SQL over column expressions `x`/`y` —
    * generated from the one [[Bits]] constant so the oracle can never
    * drift from the Spark expression. */
  def interleaveSql(x: String, y: String): String =
    (0 until Bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")
}
