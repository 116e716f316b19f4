package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Side-by-side: the native as-of operator vs the union-merge window
  * re-expression, with a multi-field right payload — the shape where
  * the window form pays one carried `last(..., ignoreNulls)` column
  * PER payload field plus the null-padded union, while
  * [[graft.plans.AsOfJoinExec]] carries the whole row through one
  * merge (the SCALE.md argument, measured). A `sum(hash(*))` checksum
  * forces every payload column to materialize so column pruning cannot
  * hollow out either side, and the checksums must agree.
  * Usage: runMain graft.tools.AsOfBench */
object AsOfBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ev = graft.Tables.events(spark, d)
    val payload = Seq("click_id", "cts", "c_value", "c_props", "c_day")

    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"),
           max(col("value")).as("c_value"),
           max(col("props")).as("c_props"),
           max(to_date(col("ts"))).as("c_day"))
      .select(col("user_id").as("cu"), col("ts").as("cts"),
              col("click_id"), col("c_value"), col("c_props"), col("c_day"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("pts"))

    def native(): DataFrame =
      graft.plans.AsOf.join(purchases, clicks,
          Seq("user_id"), Seq("cu"), "pts", "cts",
          tolerance = None, broadcastRight = Some(false))
        .select(Seq("event_id", "user_id", "pts").map(col) ++ payload.map(col): _*)

    def bcast(): DataFrame =
      graft.plans.AsOf.join(purchases, clicks,
          Seq("user_id"), Seq("cu"), "pts", "cts",
          tolerance = None, broadcastRight = Some(true))
        .select(Seq("event_id", "user_id", "pts").map(col) ++ payload.map(col): _*)

    def window(): DataFrame = {
      val cSide = clicks.select(col("cu").as("k"), col("cts").as("t"),
        lit(0).as("kind"), lit(null).cast("long").as("event_id"),
        col("click_id"), col("c_value"), col("c_props"), col("c_day"))
      val pSide = purchases.select(col("user_id").as("k"), col("pts").as("t"),
        lit(1).as("kind"), col("event_id"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("double").as("c_value"),
        lit(null).cast("string").as("c_props"),
        lit(null).cast("date").as("c_day"))
      val w = Window.partitionBy(col("k")).orderBy(col("t"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cSide.unionByName(pSide)
        .withColumn("o_click_id", last(col("click_id"), ignoreNulls = true).over(w))
        .withColumn("o_cts", last(when(col("kind") === 0, col("t")), ignoreNulls = true).over(w))
        .withColumn("o_c_value", last(col("c_value"), ignoreNulls = true).over(w))
        .withColumn("o_c_props", last(col("c_props"), ignoreNulls = true).over(w))
        .withColumn("o_c_day", last(col("c_day"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(Seq(col("event_id"), col("k").as("user_id"), col("t").as("pts")) ++
          payload.map(c => col(s"o_$c").as(c)): _*)
    }

    def checksum(df: DataFrame): Long =
      df.agg(sum(hash(df.columns.map(col): _*)).cast("long")).head().getLong(0)

    val sums = scala.collection.mutable.Map[String, Long]()
    for (r <- 1 to 4; (name, f) <- Seq("native" -> (native _),
        "bcast" -> (bcast _), "window" -> (window _))) {
      val t0 = System.nanoTime(); sums(name) = checksum(f())
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 1) println(f"[asof] $name round$r: $dt%.3f s")
    }
    require(sums("native") == sums("window") && sums("native") == sums("bcast"),
      s"checksum mismatch: $sums — the forms disagree")
    println(s"[asof] checksums agree: ${sums("native")}")

    // SKEW section: 90% of 2M probes on ONE key. The plain merge
    // serializes the hot key in one task (OptimizeSkewedJoin never
    // splits a custom exec — the honest contract); joinSalted spreads
    // it over 32 hash(time) buckets; the broadcast path has no shuffle
    // to skew. Right (key, time) pairs are unique so every form picks
    // identical payload rows — checksums must agree.
    val n = 2000000L
    val hotLeft = spark.range(0, n, 1, 32).select(
      when(col("id") % 10 < 9, 1L).otherwise(col("id") % 997 + 2).as("k"),
      ((col("id") * 2654435761L) % 100000000L).as("t"),
      col("id").as("lid"))
    val hotRight = spark.range(0, 20000).select(
      when(col("id") % 10 < 9, 1L).otherwise(col("id") % 997 + 2).as("rk"),
      (col("id") * 4999L).as("rt"),
      col("id").as("rid"))
    def plainSkew(): DataFrame =
      graft.plans.AsOf.join(hotLeft, hotRight, Seq("k"), Seq("rk"), "t", "rt",
          tolerance = None, broadcastRight = Some(false))
        .select(col("lid"), col("rid"))
    def saltedSkew(): DataFrame =
      graft.plans.AsOf.joinSalted(hotLeft, hotRight, Seq("k"), Seq("rk"),
          "t", "rt", buckets = 32)
        .select(col("lid"), col("rid"))
    def bcastSkew(): DataFrame =
      graft.plans.AsOf.join(hotLeft, hotRight, Seq("k"), Seq("rk"), "t", "rt",
          tolerance = None, broadcastRight = Some(true))
        .select(col("lid"), col("rid"))
    val skewSums = scala.collection.mutable.Map[String, Long]()
    for (r <- 1 to 3; (name, f) <- Seq("skew-plain" -> (plainSkew _),
        "skew-salted" -> (saltedSkew _), "skew-bcast" -> (bcastSkew _))) {
      val t0 = System.nanoTime(); skewSums(name) = checksum(f())
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 1) println(f"[asof] $name round$r: $dt%.3f s")
    }
    require(skewSums.values.toSet.size == 1,
      s"skew checksum mismatch: $skewSums — the forms disagree")
    println(s"[asof] skew checksums agree: ${skewSums("skew-plain")}")
    spark.stop()
  }
}
