package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.mqtt_matches

/** The MqttPrefixPushdown optimizer rule: rewrite correctness + the fact
  * that the derived prefix actually reaches the parquet scan as a pushed
  * filter (row-group skipping — the 100 TB story). */
class MqttPushdownSpec extends AnyFunSuite with SharedSession {

  private lazy val busDir: String = {
    val dir = Files.createTempDirectory("graft_bus").toString
    val spark2 = spark; import spark2.implicits._
    Seq(
      (1L, "cdc/error/1"), (2L, "cdc/error/2"), (3L, "cdc/click/1"),
      (4L, "cdc/view/9"), (5L, "cdc/error"), (6L, "other/error/1"))
      .toDF("event_id", "channel")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("constant '#' pattern adds a StartsWith that reaches PushedFilters") {
    val df = spark.read.parquet(busDir)
      .filter(mqtt_matches(lit("cdc/error/#"), col("channel")))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("StartsWith") || optimized.contains("startswith"),
      s"no StartsWith in optimized plan:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(channel), StringStartsWith(channel,cdc/error)]"),
      s"prefix not pushed to parquet:\n$physical")
    assert(df.select("event_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 5L)) // zero-tail 'cdc/error' matches too
  }

  test("constant '+' pattern pushes prefix with trailing slash") {
    val df = spark.read.parquet(busDir)
      .filter(mqtt_matches(lit("cdc/+/1"), col("channel")))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("StringStartsWith(channel,cdc/)"), physical)
    assert(df.select("event_id").collect().map(_.getLong(0)).sorted === Array(1L, 3L))
  }

  test("wildcard-free pattern collapses to pure equality (no custom predicate left)") {
    val df = spark.read.parquet(busDir)
      .filter(mqtt_matches(lit("cdc/click/1"), col("channel")))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("mqtt_matches"), s"custom predicate survived:\n$optimized")
    assert(df.queryExecution.executedPlan.toString
      .contains("EqualTo(channel,cdc/click/1)"))
    assert(df.select("event_id").collect().map(_.getLong(0)) === Array(3L))
  }

  test("leading-wildcard pattern is left untouched and still correct") {
    val df = spark.read.parquet(busDir)
      .filter(mqtt_matches(lit("+/error/#"), col("channel")))
    assert(df.select("event_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 5L, 6L)) // '#' zero-tail: 'cdc/error' matches too
  }

  test("rule preserves results vs brute-force matcher on every pattern") {
    import graft.cdc.MqttPattern
    val rows = spark.read.parquet(busDir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    for (pat <- Seq("cdc/#", "cdc/error/#", "cdc/+/1", "cdc/click/1", "#", "+/+/+", "cdc/+/#")) {
      val viaSpark = spark.read.parquet(busDir)
        .filter(mqtt_matches(lit(pat), col("channel")))
        .collect().map(_.getLong(0)).sorted
      val viaRef = rows.filter { case (_, ch) => MqttPattern.matches(pat, ch) }
        .map(_._1).sorted
      assert(viaSpark === viaRef, s"pattern $pat")
    }
  }

  test("SQL registration via extensions works") {
    spark.read.parquet(busDir).createOrReplaceTempView("bus_t")
    val n = spark.sql(
      "SELECT count(*) FROM bus_t WHERE mqtt_matches('cdc/#', channel)")
      .collect().head.getLong(0)
    assert(n === 5L)
    val d = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect().head.getDouble(0)
    assert(d === 11.0)
    // null element / ragged input poison the fold (zip_with semantics)
    assert(spark.sql("SELECT dot_product(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d))")
      .collect().head.isNullAt(0))
    assert(spark.sql("SELECT dot_product(array(1.0d), array(3.0d, 4.0d))")
      .collect().head.isNullAt(0))
    // max_sim: 2 tokens x 2 dims — token grids ((1,0),(0,1)) vs
    // ((0,2),(3,0)): q-token 1 best-matches d-token 2 (dot 3), q-token 2
    // best-matches d-token 1 (dot 2) -> floor(5e6) total
    val ms = spark.sql(
      "SELECT max_sim(array(1.0d, 0.0d, 0.0d, 1.0d), " +
        "array(0.0d, 2.0d, 3.0d, 0.0d), 2, 2)")
      .collect().head.getLong(0)
    assert(ms === 5000000L)
    // wrong length -> NULL; non-literal grid shape refused at plan time
    assert(spark.sql(
      "SELECT max_sim(array(1.0d, 2.0d), array(3.0d, 4.0d), 2, 2)")
      .collect().head.isNullAt(0))
    val bad = intercept[Exception] {
      spark.sql("SELECT max_sim(array(1.0d), array(1.0d), CAST(rand() AS INT), 1)")
        .collect()
    }
    assert(bad.getMessage.contains("INT literal"))
  }

  test("BusPartitionPruning: a PLAIN mqtt filter over the partitioned layout " +
      "prunes partitions — no manual conjunct needed") {
    val dir = Files.createTempDirectory("graft_rule_prune").toString
    graft.sources.BusLayout.writePartitioned(
      Tables.events(spark, "/root/testdata/sf0.001"), dir)
    val re = graft.sources.BusLayout.readPartitioned(spark, dir)
      .withColumn("channel", concat_ws("/",
        lit("cdc"), col("event_type"), col("user_id").cast("string")))
    val df = re.filter(mqtt_matches(lit("cdc/error/#"), col("channel")))
    val got = df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters"), s"no partition filter:\n$plan")
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = plan.collectLeaves().collectFirst { case f: FileSourceScanExec => f }.get
    val readFiles = scan.metrics("numFiles").value
    val allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(readFiles > 0 && readFiles < allFiles,
      s"rule should prune: read $readFiles of $allFiles files")
    // semantics intact: identical row set to the unpartitioned bus filter
    val want = Tables.bus(spark, "/root/testdata/sf0.001")
      .filter(mqtt_matches(lit("cdc/error/#"), col("channel"))).count()
    assert(got.length.toLong === want)
  }

  test("BusPartitionPruning: a level-3 literal pattern prunes BOTH directory " +
      "levels of the two-level layout") {
    val dir = Files.createTempDirectory("graft_rule_prune2").toString
    // the two-level hive layout: event_type, then user_id
    val writeTwoLevel = (bus: org.apache.spark.sql.DataFrame, path: String) =>
      bus.write.partitionBy("event_type", "user_id").mode("overwrite").parquet(path)
    writeTwoLevel(
      Tables.events(spark, "/root/testdata/sf0.001"), dir)
    val re = graft.sources.BusLayout.readPartitioned(spark, dir)
      .withColumn("channel", concat_ws("/",
        lit("cdc"), col("event_type"), col("user_id").cast("string")))
    val df = re.filter(mqtt_matches(lit("cdc/error/7/#"), col("channel")))
    val got = df.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    val readFiles = scan.metrics("numFiles").value
    // both levels must prune: strictly fewer files than event_type=error
    // alone holds (one user directory inside one event_type directory)
    val errorFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir, "event_type=error"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val oneUserFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(dir, "event_type=error", "user_id=7"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(readFiles === oneUserFiles && readFiles < errorFiles,
      s"level-3 literal should prune to one user dir: read $readFiles, " +
        s"error-dir total $errorFiles")
    // semantics intact vs the unpartitioned bus
    val want = Tables.bus(spark, "/root/testdata/sf0.001")
      .filter(mqtt_matches(lit("cdc/error/7/#"), col("channel"))).count()
    assert(got.length.toLong === want && want > 0)
  }

  test("BusPartitionPruning preserves semantics on ADVERSARIAL second levels " +
      "(null, embedded '/', prefix near-misses)") {
    val spark2 = spark; import spark2.implicits._
    val ets = Seq(null, "error", "error/x", "err", "errorx", "e/rror", "", "other")
    val rows = ets.zipWithIndex.map { case (et, i) => (i.toLong, et) }
    val df = rows.toDF("uid", "et")
      .withColumn("channel", concat_ws("/",
        lit("cdc"), col("et"), col("uid").cast("string")))
    for (pat <- Seq("cdc/error/#", "cdc/error/+", "cdc/+/0", "cdc/error")) {
      val got = df.filter(mqtt_matches(lit(pat), col("channel")))
        .select(col("uid")).collect().map(_.getLong(0)).toSet
      val want = rows.filter { case (i, et) =>
        // concat_ws skips NULL args (empty strings stay)
        val ch = Seq(Option("cdc"), Option(et), Option(i.toString))
          .flatten.mkString("/")
        graft.cdc.MqttPattern.matches(pat, ch)
      }.map(_._1).toSet
      assert(got === want, s"pattern $pat diverged under the pruning rule")
    }
  }

  test("BusPartitionPruning preserves semantics on ADVERSARIAL level-2 x " +
      "level-3 combinations (nulls, embedded '/', empties, near-misses)") {
    val spark2 = spark; import spark2.implicits._
    val l2s = Seq(null, "error", "error/login", "err", "")
    val l3s = Seq(null, "login", "login/x", "log", "", "l/ogin")
    val rows = for { (a, i) <- l2s.zipWithIndex; (b, j) <- l3s.zipWithIndex }
      yield (i.toLong * 10 + j, a, b)
    val df = rows.toDF("uid", "l2", "l3")
      .withColumn("channel", concat_ws("/",
        lit("cdc"), col("l2"), col("l3"), col("uid").cast("string")))
    for (pat <- Seq("cdc/error/login/#", "cdc/error/login/+", "cdc/+/login/#",
                    "cdc/error/login", "cdc/error/l/ogin/#")) {
      val got = df.filter(mqtt_matches(lit(pat), col("channel")))
        .select(col("uid")).collect().map(_.getLong(0)).toSet
      val want = rows.filter { case (i, a, b) =>
        // concat_ws skips NULL args (empty strings stay)
        val ch = Seq(Option("cdc"), Option(a), Option(b), Option(i.toString))
          .flatten.mkString("/")
        graft.cdc.MqttPattern.matches(pat, ch)
      }.map(_._1).toSet
      assert(got === want, s"pattern $pat diverged under the deep pruning rule")
    }
  }

  test("bottomk_by_hash via SQL: deterministic, k validated") {
    val a = spark.sql("SELECT bottomk_by_hash(id, 3) FROM range(100)")
      .collect().head.getSeq[Long](0)
    val b = spark.sql("SELECT bottomk_by_hash(id, 3) FROM range(100)")
      .collect().head.getSeq[Long](0)
    assert(a === b && a.length === 3)
    val err = intercept[Exception] {
      spark.sql("SELECT bottomk_by_hash(id, 3.9) FROM range(10)").collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      err.getCause != null && err.getCause.getMessage.contains("integer literal"))
  }
}
