package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BusLayout

/** Partitioned bus layout: routing filters become partition pruning. */
class BusLayoutSpec extends AnyFunSuite with SharedSession {

  test("event_type filter prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft_layout").toString
    BusLayout.writePartitioned(Tables.events(spark, "/root/testdata/sf0.001"), dir)
    val df = BusLayout.readPartitioned(spark, dir)
      .filter(col("event_type") === "error")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    assert(plan.contains("(event_type"), plan)
    assert(df.collect().length > 0) // executes THIS queryExecution's plan
    // pruning is real: the scan reads fewer files than the layout holds
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    val readFiles = scan.metrics("numFiles").value
    val allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(readFiles > 0 && readFiles < allFiles,
      s"expected pruning: read $readFiles of $allFiles files")
  }

  test("publish → re-read round trip: routing results identical to the in-memory " +
      "bus; literal-level patterns prune partitions on re-read") {
    val dir = Files.createTempDirectory("graft_roundtrip").toString
    val bus = graft.cdc.Graft.connect(spark, "/root/testdata/sf0.001")
    // reference pub→sub loop (examples/cdc-pub.js → cdc-sub.js): publish
    // the whole bus to the constant physical address, re-read, re-route
    bus.publish(bus.frame, dir)
    val re = BusLayout.readPartitioned(spark, dir)

    for (pat <- Seq("cdc/error/#", "cdc/+/1", "cdc/click/#", "cdc/#", "cdc/nosuch/#")) {
      val mem = bus.subscribe(pat).select(col("event_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      val disk = BusLayout.subscribe(re, pat).select(col("event_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(disk === mem, s"routing diverged after publish→re-read for $pat")
    }

    // counters parity over the written copy
    val subs = Map("errs" -> "cdc/error/#", "u1" -> "cdc/+/1", "none" -> "cdc/nosuch/#")
    val memC = bus.counters(subs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val diskC = graft.cdc.Graft.over(re).counters(subs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(diskC === memC, "delivery counters diverged after publish→re-read")

    // pruning is real for the literal-second-level subscription
    val sub = BusLayout.subscribe(re, "cdc/error/#")
    sub.collect()
    val plan = sub.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition filter:\n$plan")
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = plan.collectLeaves().collectFirst { case f: FileSourceScanExec => f }.get
    val readFiles = scan.metrics("numFiles").value
    val allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(readFiles > 0 && readFiles < allFiles,
      s"expected pruned re-read: read $readFiles of $allFiles files")
  }

  test("compact: one file per partition dir, identical rows and routing") {
    val dir = Files.createTempDirectory("graft_smallfiles").toString
    val out = Files.createTempDirectory("graft_compacted").toString
    // simulate a fragmented capture: 8-way repartition → ~8 files per dir
    BusLayout.writePartitioned(
      Tables.bus(spark, "/root/testdata/sf0.001").repartition(8), dir)
    def files(p: String) = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      .filter(f => f.toString.endsWith(".parquet")).count()
    val before = files(dir)
    BusLayout.compact(spark, dir, out)
    val after = files(out)
    assert(before > 5 && after === 5L,
      s"expected 5 compacted files (one per event_type), got $after of $before")
    // routing unchanged
    val a = BusLayout.subscribe(BusLayout.readPartitioned(spark, dir), "cdc/error/#")
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    val b = BusLayout.subscribe(BusLayout.readPartitioned(spark, out), "cdc/error/#")
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b && a.nonEmpty)
  }

  test("streaming rpc join matches responses within the timeout, first wins") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.stream.Streams
    implicit val sq = spark.sqlContext
    val s = spark; import s.implicits._
    def t(sec: Int) = new Timestamp(1704067200000L + sec * 1000L)
    val reqs = MemoryStream[(Long, Timestamp)]
    val ress = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.rpcJoin(
      reqs.toDF().toDF("req_id", "ts"),
      ress.toDF().toDF("req_id", "ts", "channel"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("rpc").start()
    reqs.addData((1L, t(0)), (2L, t(1)))
    ress.addData((1L, t(3), "cdc/res/a"),   // within 10s -> match
                 (1L, t(5), "cdc/res/b"),   // second response, also joins
                 (2L, t(30), "cdc/res/c"))  // beyond timeout -> no match
    q.processAllAvailable(); q.stop()
    val rows = spark.table("rpc")
      .select(col("req_id"), col("res_channel")).as[(Long, String)].collect()
    assert(rows.toSet === Set((1L, "cdc/res/a"), (1L, "cdc/res/b")),
      "req 1 matches both in-window responses; req 2's late response is excluded")
  }

  test("streaming rpc timeout: unmatched request soft-resolves 408 after watermark") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.stream.Streams
    implicit val sq = spark.sqlContext
    val s = spark; import s.implicits._
    def t(sec: Int) = new Timestamp(1704067200000L + sec * 1000L)
    val reqs = MemoryStream[(Long, Timestamp)]
    val ress = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.rpcJoinWithTimeout(
      reqs.toDF().toDF("req_id", "ts"),
      ress.toDF().toDF("req_id", "ts", "channel"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("rpc_to").start()
    reqs.addData((1L, t(0)), (2L, t(0)))
    ress.addData((1L, t(2), "cdc/res/ok"))
    q.processAllAvailable()
    // advance BOTH watermarks far past t(0)+timeout to close req 2
    reqs.addData((99L, t(600)))
    ress.addData((98L, t(600), "x"))
    q.processAllAvailable()
    reqs.addData((97L, t(1200))); ress.addData((96L, t(1200), "y"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("rpc_to")
      .select(col("req_id"), col("code")).as[(Long, Int)].collect().toSet
    assert(rows.contains((1L, 200)), s"req 1 matched: $rows")
    assert(rows.contains((2L, 408)), s"req 2 must soft-resolve 408: $rows")
  }
}
