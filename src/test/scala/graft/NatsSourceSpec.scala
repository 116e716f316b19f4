package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.mqtt_matches
import graft.nats.{CdcProto, InMemoryBroker, NatsSource, UnavailableBroker}

/** The NATS DataSourceV2 driven END-TO-END through a real readStream with
  * an injected in-memory broker: sequence offsets advance across
  * micro-batches, the range is sharded round-robin across partitions, and
  * every frame's protobuf envelope decodes through CdcProto — then the
  * graft operators (mqtt routing, counters) apply unchanged on top. */
class NatsSourceSpec extends AnyFunSuite with SharedSession {

  private def msg(i: Long): CdcProto.CdcMsg = {
    val types = Seq("click", "view", "error", "signup")
    CdcProto.CdcMsg(
      publisher = "nms",
      channel = s"cdc/${types((i % 4).toInt)}/${i % 7}",
      contentType = "json", protocol = "http", reply = "",
      qos = (i % 3).toInt, retain = i % 10 == 0,
      payload = s"""{"k": $i}""".getBytes("UTF-8"))
  }

  private def readBus(): DataFrame =
    spark.readStream
      .format(classOf[NatsSource].getName)
      .option("broker", classOf[InMemoryBroker].getName)
      .option("shards", 4)
      .load()

  test("readStream end-to-end: offsets, sharding, decode, routing, counters") {
    InMemoryBroker.reset()
    (1L to 100L).foreach(i => InMemoryBroker.publish(i, 1700000000000000L + i, msg(i)))

    val q = readBus().writeStream.format("memory").queryName("nats_bus").start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("nats_bus")
      assert(batch1.count() === 100L)

      // decode round-trip: every envelope field survives the wire
      val r = batch1.filter(col("seq") === 42L).collect().head
      val expected = msg(42L)
      assert(r.getAs[String]("channel") === expected.channel)
      assert(r.getAs[String]("publisher") === "nms")
      assert(r.getAs[String]("contentType") === "json")
      assert(r.getAs[Int]("qos") === expected.qos)
      assert(r.getAs[Boolean]("retain") === expected.retain)
      assert(new String(r.getAs[Array[Byte]]("payload"), "UTF-8") === """{"k": 42}""")

      // sharding: the batch fanned out to 4 round-robin shard fetches
      // covering (0, 100]
      val shardsSeen = InMemoryBroker.recordedFetches
        .filter { case (s, e, _, _) => s == 0L && e == 100L }.map(_._3).sorted
      assert(shardsSeen === Seq(0, 1, 2, 3))
      // ...and no seq was lost or duplicated across shards
      assert(batch1.select("seq").distinct().count() === 100L)

      // offsets: new frames after the first batch arrive incrementally.
      // The query is LIVE while this publish loop runs, so a trigger may
      // legally grab a partial range mid-loop — assert the committed-
      // offset contract on the UNION of incremental fetches (start at
      // the committed 100, contiguously cover to 120, no gap or rewind),
      // not on any single fetch's shape
      (101L to 120L).foreach(i => InMemoryBroker.publish(i, 1700000000000000L + i, msg(i)))
      q.processAllAvailable()
      val batch2 = spark.table("nats_bus")
      assert(batch2.count() === 120L)
      val incr = InMemoryBroker.recordedFetches
        .filter(_._1 >= 100L).map(f => (f._1, f._2)).distinct.sorted
      assert(incr.nonEmpty && incr.head._1 === 100L && incr.last._2 === 120L &&
        incr.sliding(2).forall {
          case Seq((_, e1), (s2, _)) => s2 == e1
          case _ => true
        },
        s"incremental fetches must contiguously cover (100, 120]: $incr")

      // graft operators apply unchanged on the streamed frame:
      // mqtt routing + delivery counters (reference subscribe + received)
      val routed = batch2.filter(mqtt_matches(lit("cdc/error/#"), col("channel")))
      val expectedErrors = (1L to 120L).count(i => msg(i).channel.startsWith("cdc/error/"))
      assert(routed.count() === expectedErrors.toLong)
      val counters = graft.cdc.Graft.over(batch2)
        .counters(Map("err" -> "cdc/error/#", "all" -> "cdc/#", "none" -> "cdc/zzz/#"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(counters === Map("err" -> expectedErrors.toLong, "all" -> 120L, "none" -> 0L))
    } finally q.stop()
  }

  private def errChain(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: errChain(t.getCause)

  test("default broker dials the canonical local NATS address; no server → honest connect failure") {
    // like the real client's nats://127.0.0.1:4222 default: with nothing
    // listening, the failure is a connection error, not a silent stall
    sys.props.remove(graft.nats.TcpBroker.TargetProperty) // no leftover test target
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(classOf[NatsSource].getName).load()
        .writeStream.format("memory").queryName("nats_dial").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(errChain(err).exists(_.isInstanceOf[java.net.ConnectException]),
      s"expected a ConnectException in: ${errChain(err).map(_.getClass.getName)}")
  }

  test("UnavailableBroker, explicitly selected, refuses the dial with the documented error") {
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(classOf[NatsSource].getName)
        .option("broker", classOf[UnavailableBroker].getName).load()
        .writeStream.format("memory").queryName("nats_stub").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(errChain(err).flatMap(t => Option(t.getMessage))
      .exists(_.contains("socket dial refused")))
  }
}
