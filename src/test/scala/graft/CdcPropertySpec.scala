package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Graft, MqttPattern}

/** Seeded randomized invariants (SURVEY §5.2.3) checked against a
  * brute-force in-memory model of the reference semantics. */
class CdcPropertySpec extends AnyFunSuite with SharedSession {

  private val rnd = new scala.util.Random(2024)
  private val types = Seq("click", "view", "error", "signup", "purchase")
  private val patterns = Seq("cdc/#", "cdc/error/#", "cdc/+/3", "cdc/click/#",
    "cdc/+/+", "cdc/zzz/#", "#", "cdc/error/3")

  private def randomEvents(n: Int): Seq[(Long, Timestamp, Long, String, Double, String)] =
    (1L to n.toLong).map { i =>
      (i, new Timestamp(1704067200000L + rnd.nextInt(100000) * 1000L),
        rnd.nextInt(6).toLong, types(rnd.nextInt(types.length)), 1.0, "{}")
    }

  test("randomized: take(n) = first min(n, matches) ids; counters = match counts; rpc = min id") {
    val s = spark; import s.implicits._
    (1 to 8).foreach { trial =>
      val events = randomEvents(40 + rnd.nextInt(60))
      val df = events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val bus = Graft.over(df)
      val model = events.map { case (id, _, uid, tpe, _, _) => (id, s"cdc/$tpe/$uid") }

      val pat = patterns(rnd.nextInt(patterns.length))
      val matches = model.filter { case (_, ch) => MqttPattern.matches(pat, ch) }.map(_._1).sorted

      // take(n)
      val n = 1 + rnd.nextInt(10)
      val got = bus.take(pat, n).select("event_id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq === matches.take(n), s"trial $trial take($pat, $n)")

      // counters
      val cnt = bus.counters(Map("p" -> pat)).collect().head.getLong(1)
      assert(cnt === matches.length.toLong, s"trial $trial counters($pat)")

      // rpc first-wins (facade contract: lowest event_id wins; 408 sentinel when none)
      val rpcRow = bus.rpc(Seq(pat)).collect().head
      if (matches.isEmpty) assert(rpcRow.getInt(2) === 408, s"trial $trial rpc($pat) empty")
      else assert(rpcRow.getLong(0) === matches.head && rpcRow.getInt(2) === 200,
        s"trial $trial rpc($pat)")
    }
  }
}
