package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** Bucketed tables joined on the bucket key must plan with zero shuffle
  * exchanges (co-located join). */
class BucketingSpec extends AnyFunSuite with SharedSession {

  test("bucket-key join plans without any Exchange; results match plain join") {
    val d = "/root/testdata/sf0.001"
    // the tables live in a throwaway database, and the forced sort-merge
    // join ends with the test: later suites share this session
    val db = "graft_bucketing_spec"
    spark.sql(s"CREATE DATABASE $db LOCATION '${Files.createTempDirectory("graft_wh")}'")
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Bucketing.writeBucketed(
        Tables.orders(spark, d).withColumnRenamed("o_custkey", "custkey"),
        s"$db.orders_b", "custkey")
      Bucketing.writeBucketed(
        Tables.customer(spark, d).withColumnRenamed("c_custkey", "custkey"),
        s"$db.customer_b", "custkey")

      val joined = Bucketing.read(spark, s"$db.orders_b")
        .join(Bucketing.read(spark, s"$db.customer_b"), Seq("custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))

      val plan = joined.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last // below the agg: the join subtree
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"expected co-located (shuffle-free) join:\n$plan")

      val naive = Tables.orders(spark, d)
        .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val got = joined.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === naive)
    } finally spark.sql(s"DROP DATABASE $db CASCADE")
  }
}
