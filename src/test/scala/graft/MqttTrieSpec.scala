package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{MqttPattern, MqttTrie}

/** The compiled dispatch trie must agree with the level-wise matcher on
  * EVERY (pattern-set, topic) — dispatch(topic) ≡ the indices i where
  * matches(patterns(i), topic). Randomized over the full pattern grammar
  * (literals, '+', named '+', terminal bare/named '#', empty levels,
  * dead mid-'#' patterns, duplicates in the set). */
class MqttTrieSpec extends AnyFunSuite with SharedSession {

  test("hand cases: bare vs named '#', empty levels, dead mid-'#', duplicates") {
    val pats = Seq(
      "cdc/#",            // 0: everything under cdc (incl. the parent)
      "cdc/error/#",      // 1
      "cdc/+/1",          // 2
      "cdc/+etype/#rest", // 3: named '#' — needs a non-empty tail level
      "cdc/error/1",      // 4
      "#",                // 5: everything
      "a/#/c",            // 6: dead — '#' not last
      "cdc/#",            // 7: duplicate of 0
      "x//y",             // 8: empty mid level
      "+")                // 9: one non-empty level
    val trie = MqttTrie(pats)
    def d(t: String) = trie.dispatch(t).toSeq
    assert(d("cdc/error/1") === Seq(0, 1, 2, 3, 4, 5, 7))
    assert(d("cdc/error") === Seq(0, 1, 5, 7))      // 3 has no tail level → no
    assert(d("cdc") === Seq(0, 5, 7, 9))            // bare '#' matches the parent; '+' the single level
    assert(d("x//y") === Seq(5, 8))
    assert(d("x/") === Seq(5))                      // '+' needs a NON-empty level... and x/ has 2 levels
    assert(d("q") === Seq(5, 9))
    assert(d("a/b/c") === Seq(5))                   // dead pattern 6 never fires
  }

  test("randomized equivalence: dispatch ≡ per-pattern matches on 3000 rounds") {
    val rnd = new scala.util.Random(4242)
    val segs = Seq("a", "b", "cdc", "click", "err", "42", "")
    def seg() = segs(rnd.nextInt(segs.length))
    def topic() = Seq.fill(rnd.nextInt(5))(seg()).mkString("/")
    def patSeg() = rnd.nextInt(5) match {
      case 0 => "+"
      case 1 => "+id"
      case _ => seg()
    }
    def pattern() = {
      val base = Seq.fill(rnd.nextInt(4))(patSeg()).mkString("/")
      rnd.nextInt(4) match {
        case 0 => if (base.isEmpty) "#" else base + "/#"
        case 1 => if (base.isEmpty) "#rest" else base + "/#rest"
        case 2 => base + (if (rnd.nextBoolean()) "/#/x" else "") // some dead
        case _ => base
      }
    }
    (1 to 3000).foreach { _ =>
      val pats = Seq.fill(1 + rnd.nextInt(8))(pattern())
      val t = topic()
      val trie = MqttTrie(pats)
      val expected = pats.zipWithIndex
        .collect { case (p, i) if MqttPattern.matches(p, t) => i }
      assert(trie.dispatch(t).toSeq === expected,
        s"divergence: patterns=$pats topic='$t'")
      // third leg: the COMPILED-REGEX path (what constant-pattern
      // filters execute after plan-time compilation) must agree with
      // the interpreter on every (pattern, topic) the generator emits —
      // all three dispatch paths are now pairwise-pinned under ONE
      // generator, closing the named-'#' empty-tail fix for good
      pats.foreach { p =>
        assert(MqttPattern.matchesCached(p, t) === MqttPattern.matches(p, t),
          s"regex/interpreter divergence: pattern='$p' topic='$t'")
      }
    }
  }

  test("matchCounts through the trie equals per-pattern filter counts (SQL level)") {
    val d = "/root/testdata/sf0.001"
    val bus = Tables.bus(spark, d)
    val pats = Seq("cdc/#", "cdc/error/#", "cdc/+/1", "cdc/nosuch/#", "cdc/+e/#r")
    val viaTrie = graft.cdc.CdcBus.matchCounts(bus, pats).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaFilter = pats.map { p =>
      p -> bus.filter(graft.functions.GraftFunctions.mqtt_matches(
        org.apache.spark.sql.functions.lit(p),
        org.apache.spark.sql.functions.col("channel"))).count()
    }.filter(_._2 > 0).toMap
    assert(viaTrie === viaFilter)

    // SQL surface: mqtt_dispatch with an ARRAY<STRING> literal
    bus.createOrReplaceTempView("graft_trie_bus_v")
    val viaSql = spark.sql(
      """SELECT pi, count(*) AS hits
        |FROM (SELECT explode(mqtt_dispatch(channel,
        |        array('cdc/#', 'cdc/error/#', 'cdc/nosuch/#'))) AS pi
        |      FROM graft_trie_bus_v)
        |GROUP BY pi ORDER BY pi""".stripMargin).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaSql === Map(0 -> viaTrie("cdc/#"), 1 -> viaTrie("cdc/error/#")))
    // a non-literal pattern set must fail loudly at plan time
    intercept[Exception] {
      spark.sql("SELECT mqtt_dispatch(channel, array(channel)) FROM graft_trie_bus_v")
        .collect()
    }
    // the empty literal array() (ARRAY<NULL>) is a legal zero-route
    // dispatch that matches nothing — not a type error
    val empty = spark.sql(
      "SELECT sum(size(mqtt_dispatch(channel, array()))) FROM graft_trie_bus_v")
      .collect().head.getLong(0)
    assert(empty === 0L)
    // a wrong element type and NULL elements get the FRIENDLY message
    for (bad <- Seq("array(1, 2)", "array('a', NULL)")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT mqtt_dispatch(channel, $bad) FROM graft_trie_bus_v")
          .collect()
      }
      assert(e.getMessage.contains("ARRAY<STRING>") ||
        e.getMessage.contains("must not contain NULL"), s"$bad: ${e.getMessage}")
    }
  }
}
