package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The OTHER skew tool, demonstrated: AQE's runtime skew-join split.
  * The manual `Salt` path (SaltSpec) rewrites the plan at authoring
  * time; AQE re-plans at runtime from observed partition sizes. A 100 TB
  * deployment runs with BOTH armed — salt for aggregations and the
  * joins you know are skewed, AQE for the ones you discover in
  * production. docs/SCALE.md §"Skew" records the tradeoff. */
class AqeSkewSpec extends AnyFunSuite with SharedSession {

  /** A forced sort-merge join under AQE skew splitting, thresholds at
    * test-corpus scale. */
  private val skewConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB")

  test("AQE splits the skewed join partition at runtime; rows identical to the un-split join") {
    val s = spark; import s.implicits._
    // 99% of fact rows share one key; the pad column gives the hot
    // partition real bytes so the size-based skew detector can see it
    val fact = (1L to 60000L).map { i =>
      val k = if (i % 100 != 0) "hot" else s"cold_${i % 37}"
      (i, k, "x" * 64)
    }.toDF("id", "k", "pad")
    val dim = (Seq("hot") ++ (0 until 37).map(i => s"cold_$i"))
      .zipWithIndex.map { case (k, v) => (k, v.toLong) }.toDF("k", "label")

    def joined() = fact.join(dim, Seq("k")).select(col("id"), col("label"))

    // force a sort-merge join (no broadcast escape hatch), and lower
    // the skew thresholds to test-corpus scale — at 100 TB the
    // DEFAULTS (256 MB threshold, 5x median) fire on real skew
    withConf(skewConfs: _*) {
      val df = joined()
      val withAqe = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"the final AQE plan must mark the join skew-split; got:\n$plan")

      // correctness is non-negotiable: the split must be a pure physical
      // rewrite, identical to the same join with AQE off
      val without = withConf("spark.sql.adaptive.enabled" -> "false") {
        joined().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(withAqe === without)
      assert(withAqe.length === 60000)
    }
  }

  test("r13: a hot-bin BINNED range join (transparent rewrite) is " +
       "skew-split by AQE at runtime — the composition the rewrite " +
       "exists to enable, since a BNLJ can never be skew-split") {
    val s = spark; import s.implicits._
    // 99% of points land in ONE stats-derived bin (the [0.5, 1) hot
    // hour); the interval side covers it with one fat interval among
    // 37 cold ones — so the binned equi join's shuffle has one huge
    // partition, exactly the shape a production corpus produces when
    // traffic clusters. pad gives the hot partition real bytes.
    val pts = (1L to 60000L).map { i =>
      val v = if (i % 100 != 0) 0.5 + (i % 997) * 1e-6 else 100.0 + (i % 37)
      (i, v, "x" * 64)
    }.toDF("id", "v", "pad")
    val ivs = ((0 until 37).map(k => (k.toLong, 100.0 + k, 100.5 + k)) :+
      (99L, 0.0, 1.0)).toDF("iid", "lo", "hi")
    def q() = pts.join(ivs, col("v") >= col("lo") && col("v") < col("hi"))
      .select(col("id"), col("iid"))

    withConf(skewConfs: _*) {
      val df = q()
      val withAqe = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Generate"), s"rewrite did not fire:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("CartesianProduct"), s"fell back to BNLJ:\n$plan")
      assert(plan.contains("skew=true"),
        s"the binned join's hot partition was not skew-split:\n$plan")
      // physical rewrite only: rows identical to the un-split,
      // un-rewritten nested loop
      withConf("spark.sql.adaptive.enabled" -> "false",
               graft.plans.RangeJoinRewrite.EnabledKey -> "false") {
        val naive = q().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(withAqe === naive)
        assert(withAqe.length === 60000)
      }
    }
  }
}
