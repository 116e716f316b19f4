package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKAggregator

/** The typed top-k Aggregator: partial-per-partition + merge equals the
  * brute-force answer (no global sort involved). */
class TopKAggregatorSpec extends AnyFunSuite with SharedSession {

  test("top-3 across many partitions matches brute force, ties by id") {
    val s = spark; import s.implicits._
    val data = (1L to 1000L).map(i => (i, (i % 97).toDouble))
    val ds = s.createDataset(data).repartition(8)
    val got = ds.select(new TopKAggregator(3).toColumn).collect().head
    val want = data.sortBy { case (id, sc) => (-sc, id) }.take(3)
    assert(got === want) // (96,96.0) then (193,96.0) then (290,96.0)
  }

  test("bottomk_by_hash sample is invariant to partition layout") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.bottomk_by_hash
    val s = spark; import s.implicits._
    val df = (1L to 5000L).map(i => (s"g${i % 7}", i)).toDF("g", "v")
    def sample(parts: Int) = df.repartition(parts)
      .groupBy(col("g")).agg(bottomk_by_hash(col("v"), 4).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val a = sample(2)
    val b = sample(17)
    assert(a === b, "sample must be a pure function of the value set")
    assert(a.values.forall(_.length === 4))
  }

  test("topk_by_score equals the row_number window under random scores and ties, any layout") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.topk_by_score
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(0x7007)
    // coarse scores force ties; term strings break them
    val data = (1 to 3000).map { i =>
      (s"g${i % 11}", s"term_${rnd.nextInt(400)}", rnd.nextInt(12).toDouble)
    }.distinct
    val df = data.toDF("g", "w", "score")
    val win = Window.partitionBy(col("g")).orderBy(col("score").desc, col("w"))
    val want = df.withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("g"), col("w"), col("rnk"), col("score"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    for (parts <- Seq(1, 4, 23)) {
      val got = df.repartition(parts)
        .groupBy(col("g")).agg(topk_by_score(col("w"), col("score"), 5).as("tops"))
        .select(col("g"), posexplode(col("tops")).as(Seq("pos", "t")))
        .select(col("g"), col("t.w"), (col("pos") + 1).cast("long"), col("t.score"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3))
      assert(got === want, s"diverged at $parts partitions")
    }
  }

  test("topk_by_score breaks score ties in UTF-8 binary order, incl. non-BMP terms") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.topk_by_score
    val s = spark; import s.implicits._
    // All four terms tie at score 1.0. JVM String '<' (UTF-16 code-unit
    // order) ranks the surrogate-pair term 𝕏 (U+1D54F, UTF-16 D835 DD4F)
    // BEFORE the high-BMP term ﬀ (U+FB00), while UTF-8 binary order —
    // what the row_number window and DuckDB use — ranks it AFTER. A
    // String-comparing buffer diverges on exactly this fixture.
    val terms = Seq("𝕏", "ﬀ", "zeta", "éclair")
    val df = terms.map(("g", _, 1.0)).toDF("g", "w", "score")
    val win = Window.partitionBy(col("g")).orderBy(col("score").desc, col("w"))
    val want = df.withColumn("rnk", row_number().over(win))
      .orderBy(col("rnk")).select(col("w")).as[String].collect().toSeq
    val got = df.repartition(3)
      .groupBy(col("g")).agg(topk_by_score(col("w"), col("score"), 4).as("tops"))
      .select(explode(col("tops.w")).as("w")).as[String].collect().toSeq
    assert(got === want)
    assert(want.last === "𝕏", "UTF-8 order puts the supplementary-plane term last")
  }

  test("grouped top-2 per key") {
    val s = spark; import s.implicits._
    val data = Seq(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 7.0),
                   ("b", 4L, 1.0), ("b", 5L, 2.0))
    val got = s.createDataset(data)
      .groupByKey(_._1)
      .mapValues { case (_, id, sc) => (id, sc) }
      .agg(new TopKAggregator(2).toColumn)
      .collect().toMap
    assert(got("a") === Seq((2L, 9.0), (3L, 7.0)))
    assert(got("b") === Seq((5L, 2.0), (4L, 1.0)))
  }
}
