package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

/** The per-scheme form of [[RelQueries.graphModularity]]'s statistics,
  * pinned by the hand-graph spec. */
object Modularity {

  /** Exact-integer partition-quality statistics of one labeling of
    * a graph. Newman modularity is
    * Q = Σ_c [e_c/m − (d_c/2m)²]; publishing Q itself would put a
    * float in the hash, so the row carries the exact INTEGER
    * numerator `q_num = 4m²·Q = 4·m·Σe_c − Σd_c²` beside its three
    * integer ingredients (m, intra-edge count, Σ per-part
    * degree-sum²) — the graph_converged discipline: grade the
    * mechanism through integer sums the twin reproduces bit-for-bit.
    * Scalar attaches are two 1-row aggregate frames crossed — the
    * repo's broadcast scalar pattern, never a data-sized cartesian. */
  def stats(edges: DataFrame, labels: DataFrame, tag: String): DataFrame = {
    val lab = labels.toDF("node", "part")
    val eL = edges
      .join(lab.select(col("node").as("u"), col("part").as("pu")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("part").as("pv")), Seq("v"))
    val mIntra = eL.agg(
      count(lit(1)).as("m"),
      sum(when(col("pu") === col("pv"), 1L).otherwise(0L)).as("intra_edges"))
    val degSq = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(lab, Seq("node"))
      .groupBy(col("part")).agg(sum(col("deg")).as("dc"))
      .agg(count(lit(1)).as("n_parts"),
           sum(col("dc") * col("dc")).as("sum_deg_sq"))
    mIntra.crossJoin(degSq).select(
      lit(tag).as("scheme"), col("n_parts"), col("m"), col("intra_edges"),
      col("sum_deg_sq"),
      (lit(4L) * col("m") * col("intra_edges") - col("sum_deg_sq"))
        .as("q_num"))
  }
}
