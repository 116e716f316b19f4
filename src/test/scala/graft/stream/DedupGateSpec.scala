package graft.stream

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSession

/** `Streams.dedupStream`'s sharded gate against Spark's own
  * `dropDuplicatesWithinWatermark`, the reference lineage: both read one
  * stream, and after every micro-batch the rows each emitted must be the
  * same rows. */
class DedupGateSpec extends AnyFunSuite with SharedSession with BeforeAndAfterAll {
  import DedupGateSpec._

  override def afterAll(): Unit = {
    StateStore.stop()
    super.afterAll()
  }

  private val Delay = "10 seconds"
  private val DelayMs = 10000L

  private def rocksDb[A](body: => A): A =
    withConf(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "2")(body)

  /** The reference: Spark's operator on the same watermark. */
  private def reference(df: DataFrame): DataFrame =
    df.withWatermark("ts", Delay).dropDuplicatesWithinWatermark("event_id")

  /** A started query into a sink that keeps every row it is handed. */
  private final class Run(plan: => DataFrame, name: String) {
    val rows = new ConcurrentLinkedQueue[Frame]
    private val ckpt = Files.createTempDirectory(s"graft_dedup_$name").toUri.toString
    private var q: StreamingQuery = _
    private val sink: VoidFunction2[Dataset[Row], java.lang.Long] = (df: Dataset[Row], _: java.lang.Long) =>
      df.select(col("event_id"), col("ts"), col("seq")).collect().foreach { r =>
        rows.add(Frame(if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getTimestamp(1), r.getLong(2)))
      }
    def start(): Unit =
      q = plan.writeStream.option("checkpointLocation", ckpt).foreachBatch(sink).start()
    /** Rows emitted since the last call. */
    def drain(): List[Frame] = {
      q.processAllAvailable()
      Iterator.continually(rows.poll()).takeWhile(_ != null).toList
    }
    def stop(): Unit = q.stop()
    start()
  }

  /** Feed `steps` to the gate and to the reference; a step may first
    * restart both from their checkpoints. Returns the first step whose
    * emitted rows differ, with both sides' rows. */
  private def diverges(steps: Seq[(Seq[Frame], Boolean)]): Option[String] = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Frame]
    val gate = new Run(Streams.dedupStream(in.toDF(), Delay), "gate")
    val ref = new Run(reference(in.toDF()), "ref")
    try {
      steps.iterator.zipWithIndex.map { case ((rows, restart), i) =>
        if (restart) { gate.stop(); ref.stop(); gate.start(); ref.start() }
        in.addData(rows: _*)
        val (g, r) = (gate.drain().sortBy(_.seq), ref.drain().sortBy(_.seq))
        if (g == r) None else Some(s"step $i (input $rows): gate $g, reference $r")
      }.collectFirst { case Some(d) => d }
    } finally { gate.stop(); ref.stop() }
  }

  test("scalacheck: the sharded gate emits what dropDuplicatesWithinWatermark emits, batch by batch") {
    val prop = Prop.forAll(scenario(DelayMs)) { steps =>
      val d = rocksDb(diverges(steps))
      d.isEmpty :| d.getOrElse("")
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1)
        .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, s"gate/reference divergence: ${res.status}")
  }

  test("redeliveries around an idle shard's expiry, across a restart") {
    // id 1 alone in its shard; ids 2.. only push the watermark to id 1's
    // expiry minus one ms, to it, and past it, each followed by a
    // redelivery of id 1 that is not late
    val t0 = 1704067200000L
    def f(id: Long, ms: Long, seq: Long) = Frame(Some(id), new Timestamp(t0 + ms), seq)
    val steps = Seq(
      Seq(f(1, 0, 1), f(1, 0, 2)) -> false,
      Seq(f(2, 2 * DelayMs - 1, 3)) -> false,
      Seq(f(1, DelayMs + 5, 4)) -> false,
      Seq(f(3, 2 * DelayMs, 5)) -> true,
      Seq(f(1, DelayMs + 6, 6)) -> false,
      Seq(f(4, 3 * DelayMs + 10, 7)) -> false,
      Seq(f(1, 2 * DelayMs + 20, 8), f(4, 3 * DelayMs + 10, 9)) -> false)
    val d = rocksDb(diverges(steps))
    assert(d.isEmpty, d.getOrElse(""))
  }

  test("the gate keeps the input schema, ts watermark included") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val df = MemoryStream[Frame].toDF()
    assert(Streams.dedupStream(df, Delay).schema === reference(df).schema)
  }

  test("a non-LONG event_id fails when the plan is built") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val df = MemoryStream[Frame].toDF()
    val e = intercept[IllegalArgumentException](
      Streams.dedupStream(df.withColumn("event_id", col("event_id").cast("string")), Delay))
    assert(e.getMessage.contains("LONG event_id") && e.getMessage.contains("STRING"), e.getMessage)
    val none = intercept[IllegalArgumentException](Streams.dedupStream(df.drop("event_id"), Delay))
    assert(none.getMessage.contains("got none"), none.getMessage)
  }
}

object DedupGateSpec {
  /** One frame: `seq` is unique, so the spec sees which copy passed. */
  case class Frame(event_id: Option[Long], ts: Timestamp, seq: Long)

  /** What a generated row is, relative to the frames before it. */
  private sealed trait Op
  /** A new id, `aheadMs` past the clock, plus `us` microseconds. */
  private case class Fresh(aheadMs: Int, us: Int) extends Op
  /** A redelivery of an earlier frame `back` frames ago, at its own ts
    * plus `laterMs`. */
  private case class Redeliver(back: Int, laterMs: Int) extends Op
  /** A new id that puts the watermark `offMs` from an earlier frame's
    * expiry (ts = its ts + 2 x delay + offMs), then that frame again,
    * not late, first in the next micro-batch. */
  private case class Push(back: Int, offMs: Int) extends Op
  /** A new id well behind the watermark. */
  private case class Late(behindMs: Int) extends Op
  /** A frame without an id. */
  private case class NullId(aheadMs: Int) extends Op

  private def op(delayMs: Long): Gen[Op] = Gen.frequency(
    5 -> Gen.zip(Gen.choose(0, 3000), Gen.oneOf(0, 0, 1, 499, 999)).map(Fresh.tupled),
    2 -> Gen.zip(Gen.choose(0, 30), Gen.const(0)).map(Redeliver.tupled),
    3 -> Gen.zip(Gen.choose(0, 30),
      Gen.oneOf(Gen.choose(1, 3000), Gen.oneOf(delayMs.toInt - 1, delayMs.toInt, delayMs.toInt + 1),
        Gen.choose(delayMs.toInt, 3 * delayMs.toInt))).map(Redeliver.tupled),
    3 -> Gen.zip(Gen.choose(0, 30), Gen.oneOf(-1, 0, 1, 700, 2600)).map(Push.tupled),
    1 -> Gen.choose(delayMs.toInt, 3 * delayMs.toInt).map(Late),
    1 -> Gen.choose(0, 2000).map(NullId))

  /** Micro-batches of 0-12 rows each, and whether to restart before one. */
  def scenario(delayMs: Long): Gen[Seq[(Seq[Frame], Boolean)]] = for {
    n <- Gen.choose(4, 8)
    batches <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 12).flatMap(Gen.listOfN(_, op(delayMs))),
      Gen.frequency(5 -> false, 1 -> true)))
  } yield frames(batches, delayMs)

  /** Interpret the ops in order: the clock only moves forward. */
  private def frames(batches: Seq[(Seq[Op], Boolean)], delayMs: Long): Seq[(Seq[Frame], Boolean)] = {
    val t0 = 1704067200000000L // 2024-01-01 UTC, micros
    val seen = scala.collection.mutable.ArrayBuffer.empty[Frame]
    var clockUs = t0
    var next = 0L
    var redeliver = List.empty[Frame]
    def ts(us: Long) = { val t = new Timestamp(Math.floorDiv(us, 1000L)); t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt); t }
    def us(t: Timestamp) = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def back(k: Int) = seen(seen.size - 1 - k % seen.size)
    def fresh(atUs: Long, id: Option[Long]) = { next += 1; Frame(id.map(_ => next), ts(atUs), next) }
    batches.map { case (ops, restart) =>
      val again = redeliver.map { f => next += 1; f.copy(ts = ts(clockUs), seq = next) }
      redeliver = Nil
      val rows = again ++ ops.map {
        case Fresh(ahead, u) => clockUs += ahead * 1000L; fresh(clockUs + u, Some(0L))
        case Redeliver(_, _) | Push(_, _) if seen.isEmpty => fresh(clockUs, Some(0L))
        case Redeliver(k, later) =>
          val f = back(k); next += 1
          f.copy(ts = ts(us(f.ts) + later * 1000L), seq = next)
        case Push(k, off) =>
          val f = back(k)
          val at = us(f.ts) + 2 * delayMs * 1000L + off * 1000L
          clockUs = math.max(clockUs, at); redeliver ::= f; fresh(at, Some(0L))
        case Late(behind) => fresh(clockUs - (delayMs + behind) * 1000L, Some(0L))
        case NullId(ahead) => fresh(clockUs + ahead * 1000L, None)
      }
      seen ++= rows
      (rows, restart)
    }
  }
}
