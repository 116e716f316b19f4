package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Graft

/** The user-facing facade: every reference API verb maps onto a working
  * view of the shared bus scan. */
class GraftFacadeSpec extends AnyFunSuite with SharedSession {

  private lazy val bus = Graft.connect(spark, "/root/testdata/sf0.001")

  test("subscribe filters by pattern") {
    val errs = bus.subscribe("cdc/error/#")
    assert(errs.count() > 0)
    assert(errs.select("event_type").distinct().collect().map(_.getString(0)).toSeq === Seq("error"))
  }

  test("take(n) bounds a subscription") {
    assert(bus.take("cdc/click/#", 7).count() === 7)
  }

  test("counters cover zero-delivery subscriptions") {
    val m = bus.counters(Map("e" -> "cdc/error/#", "none" -> "cdc/zzz/#"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("e") > 0 && m("none") === 0)
  }

  test("counters: two subs sharing a pattern each get the true count") {
    val solo = bus.counters(Map("only" -> "cdc/error/#"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dup = bus.counters(Map("e1" -> "cdc/error/#", "e2" -> "cdc/error/#"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dup("e1") === solo("only") && dup("e2") === solo("only"))
  }

  test("counters(Map.empty) is an empty (sub, received) frame, not an error") {
    val df = bus.counters(Map.empty)
    assert(df.columns.toSeq === Seq("sub", "received"))
    assert(df.count() === 0)
  }

  test("rpc resolves first response, or 408 when nothing matches") {
    val hit = bus.rpc(Seq("cdc/purchase/#", "cdc/error/#")).collect().head
    assert(hit.getInt(2) === 200)
    val miss = bus.rpc(Seq("cdc/zzz/#")).collect().head
    assert(miss.getInt(2) === 408 && miss.getLong(0) === -1L)
  }

  test("extract adds one column per named wildcard") {
    val ex = bus.extract("cdc/+etype/#rest")
    assert(ex.columns.contains("etype") && ex.columns.contains("rest"))
    val r = ex.filter(org.apache.spark.sql.functions.col("event_type") === "error")
      .select("etype", "rest", "channel").collect().head
    assert(r.getString(0) === "error")
    assert(r.getString(2) === s"cdc/error/${r.getString(1)}")
  }

  test("rpc with resProcess maps the winning response but not the 408 fallback") {
    import org.apache.spark.sql.functions._
    val mapped = bus.rpc(Seq("cdc/purchase/#", "cdc/error/#"),
      df => df.withColumn("payload_k",
        get_json_object(col("props"), "$.k").cast("int")))
    val hit = mapped.collect().head
    assert(hit.getAs[Int]("code") === 200)
    assert(mapped.columns.contains("payload_k"))
    val miss = bus.rpc(Seq("cdc/zzz/#"),
      df => df.withColumn("payload_k", lit(42))).collect().head
    assert(miss.getAs[Int]("code") === 408)
    assert(miss.getAs[Long]("event_id") === -1L)
    assert(miss.isNullAt(miss.fieldIndex("payload_k")), "fallback row is unprocessed")
  }

  test("retained keeps one current row per channel; replay(T) is retained over history <= T") {
    import org.apache.spark.sql.functions.{col, countDistinct, max}
    val r = bus.retained()
    assert(r.groupBy(col("channel")).count().filter(col("count") > 1).count() === 0)
    val cutoff = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val snap = bus.replay(cutoff).retained()
    // replay is INCLUSIVE (ts <= cutoff): assert not-after, so boundary
    // data at exactly the cutoff doesn't reject a correct implementation
    assert(!snap.agg(max(col("ts"))).head().getTimestamp(0)
      .after(java.sql.Timestamp.from(cutoff)))
    // every channel active before the cutoff has exactly one snapshot row
    assert(snap.select(countDistinct(col("channel"))).head().getLong(0) === snap.count())
  }

  test("scd2 intervals chain gap-free with one open version per channel") {
    import org.apache.spark.sql.functions.col
    val v = bus.scd2()
    assert(v.filter(col("is_current")).groupBy(col("channel")).count()
      .filter(col("count") > 1).count() === 0)
    // closed intervals: valid_to equals the next version's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("channel")).orderBy(col("valid_from"), col("event_id"))
    val chained = v.withColumn("next_from",
        org.apache.spark.sql.functions.lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull)
    assert(chained.filter(col("valid_to") =!= col("next_from")).count() === 0)
  }

  test("publish writes the routed layout, over() re-wraps it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub").toString
    bus.publish(bus.subscribe("cdc/error/#"), dir)
    val republished = Graft.over(spark.read.parquet(dir))
    assert(republished.subscribe("cdc/error/#").count() === bus.subscribe("cdc/error/#").count())
  }
}
