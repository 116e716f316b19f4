package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bucketed co-located join's plan contract: with auto-broadcast
  * disabled, the fact-fact join over the bucketed tables must plan as a
  * sort-merge join with ZERO Exchange — each task reads bucket i of
  * both sides. The raw-parquet form of the same join MUST show an
  * Exchange (the assertion is not vacuous). */
class BucketedJoinSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("bucketed_join: exchange-free sort-merge join over the bucketed " +
       "tables; the raw-parquet twin of the same join shuffles") {
    import org.apache.spark.sql.functions._
    val s = spark
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val full = executed(graft.rel.Bucketed.bucketedJoin(s, sf))
      // the AQE dump appends the pre-adaptive "Initial Plan" — only the
      // Final Plan is what executed
      val plan = full.split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"),
        s"bucketed join did not plan as SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scans did not report the bucket layout:\n$plan")
      // the aggregation after the join IS allowed to exchange (its key
      // is o_orderpriority, not the bucket key) — assert no exchange
      // below the join by checking the join's own subtree
      val joinIdx = plan.indexOf("SortMergeJoin")
      val below = plan.substring(joinIdx)
      assert(!below.contains("Exchange"),
        s"bucketed join re-shuffled its inputs:\n$plan")
      // non-vacuous: the same join over raw parquet must exchange
      val raw = executed(
        Tables.lineitem(s, sf)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .join(Tables.orders(s, sf).select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n")))
        .split("== Initial Plan ==").head
      val rawJoinIdx = raw.indexOf("SortMergeJoin")
      assert(rawJoinIdx >= 0 && raw.substring(rawJoinIdx).contains("Exchange"),
        s"raw join did not shuffle — the bucketed assertion proves nothing:\n$raw")
    }
  }

  test("bucketed tables are reused across invocations and rebuilt for a " +
       "different source dir") {
    val s = spark
    val before = s.catalog.listTables().count()
    graft.rel.Bucketed.bucketedJoin(s, sf).collect()
    val after1 = s.catalog.listTables().count()
    graft.rel.Bucketed.bucketedJoin(s, sf).collect()
    assert(s.catalog.listTables().count() === after1,
      "re-invocation must reuse the bucketed tables, not rebuild")
    assert(after1 >= before)
  }

  test("r15: bucketed_agg — groupBy(l_orderkey) over the bucketed table " +
       "plans with ZERO Exchange below the per-order aggregation (the " +
       "scan's bucket distribution satisfies it); the raw-parquet " +
       "control shuffles") {
    import org.apache.spark.sql.functions._
    val s = spark
    val full = executed(graft.rel.Bucketed.bucketedAgg(s, sf))
    val plan = full.split("== Initial Plan ==").head
    assert(plan.contains("Bucketed: true"),
      s"agg scan did not report the bucket layout:\n$plan")
    // the per-order aggregate is the LAST HashAggregate block printed
    // (deepest in the tree); no Exchange may sit below it — everything
    // from it to the scan runs inside the bucket
    val aggIdx = plan.lastIndexOf("HashAggregate(keys=[l_orderkey")
    assert(aggIdx >= 0, s"no per-order HashAggregate in plan:\n$plan")
    assert(!plan.substring(aggIdx).contains("Exchange"),
      s"bucketed per-order aggregation re-shuffled:\n$plan")
    // non-vacuous control: the same aggregate over raw parquet shuffles
    val raw = executed(
      Tables.lineitem(s, sf)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1d) - col("l_discount")))
          .as("rev")))
      .split("== Initial Plan ==").head
    val rawAgg = raw.lastIndexOf("HashAggregate(keys=[l_orderkey")
    assert(rawAgg >= 0 && raw.substring(0, rawAgg).contains("Exchange"),
      s"raw per-order agg did not shuffle — the assertion proves " +
        s"nothing:\n$raw")
  }

  test("r15: a session whose catalog forgot the bucketed tables ADOPTS " +
       "the surviving files (no rewrite, no delete) and the adopted " +
       "tables still plan the exchange-free SMJ") {
    val s = spark
    val expect = graft.rel.Bucketed.bucketedJoin(s, sf).collect().toSeq
    val fp = graft.Fingerprint.ofTables(
      sf, "lineitem.parquet", "orders.parquet")
    val loc = new java.io.File(
      graft.rel.Warehouse.dir(s), s"graft_bkt_lineitem_$fp")
    val marker = new java.io.File(loc, "_SUCCESS")
    assert(marker.exists(), "bucketed write left no _SUCCESS commit marker")
    val mtime = marker.lastModified()
    // the tables are EXTERNAL: dropping the catalog entries (what a JVM
    // exit does implicitly) must leave the files in place
    s.sql(s"DROP TABLE graft_bkt_lineitem_$fp")
    s.sql(s"DROP TABLE graft_bkt_orders_$fp")
    assert(marker.exists(), "DROP TABLE deleted an external location")
    val a0 = graft.rel.Warehouse.adopted.get()
    // a new session (its own SQL conf) stands in for a restarted JVM
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = graft.rel.Bucketed.bucketedJoin(s2, sf)
    assert(df.collect().toSeq === expect,
      "adopted bucketed tables answered differently")
    assert(graft.rel.Warehouse.adopted.get() === a0 + 2,
      "restart did not adopt the surviving bucketed tables")
    assert(marker.lastModified() === mtime,
      "adoption rewrote the bucketed files")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange"),
      s"adopted bucketed join re-shuffled:\n$plan")
  }
}
