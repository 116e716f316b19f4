package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Result of one workload run, written as JSON for run.py. `dumps` are the
  * first result of each query, written as parquet for the oracle check. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         metrics: Map[String, Double], layers: Map[String, Double],
                         dumps: Seq[(String, String)] = Nil, invalid: Option[String] = None,
                         perOp: Map[String, Double] = Map.empty)

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, out: String, master: String,
                      inject: Option[String], list: Option[String])

/** Everything a workload needs: the session, the clock origin and, in a
  * traced run, the span recorder and the layer listeners. */
final class Ctx(val spark: SparkSession, val conf: Conf, val jvmStartNs: Long) {
  val epochNs: Long = System.nanoTime()
  val epochWallMs: Long = System.currentTimeMillis()
  val tracer = new Tracer(conf.trace)
  lazy val jobs: JobLayers = {
    val l = new JobLayers(tracer, epochWallMs, epochNs)
    spark.sparkContext.addSparkListener(l); l
  }
  lazy val plans: PlanLayers = {
    val l = new PlanLayers
    spark.listenerManager.register(l); l
  }
  private val held = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]

  /** Register the traced-run listeners (no-op untraced). */
  def armTracing(): Unit = if (conf.trace) { jobs; plans }

  /** RDD blocks still held after an operation (traced runs only). */
  def sampleHeld(): Unit = if (conf.trace) {
    val infos = spark.sparkContext.getRDDStorageInfo
    held.add((infos.map(i => (i.memSize + i.diskSize).toDouble).sum, infos.length.toDouble))
  }

  /** spark.* and plans.* layer metrics over the operations `ops` (op
    * spans) run in [fromNs, untilNs), as means per operation. */
  def sparkLayers(ops: Seq[Span], fromNs: Long, untilNs: Long): Map[String, Double] = {
    jobs.settle(10000L)
    val n = math.max(1, ops.size).toDouble
    val (nJobs, covered) = jobs.attribute(ops, fromNs, untilNs)
    def sum(k: String) = Option(jobs.sums.get(k)).map(_.doubleValue).getOrElse(0.0)
    val outside = ops.map(o => (o.endNs - o.startNs - covered.getOrElse(o.op, 0L)) / 1e9)
    val fromMs = epochWallMs + (fromNs - epochNs) / 1000000L
    val untilMs = epochWallMs + (untilNs - epochNs) / 1000000L
    val ph = plans.seen.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs < untilMs)
    val hs = held.asScala.toSeq
    Map(
      "spark.jobs_per_op" -> nJobs / n,
      "spark.stages" -> sum("stages") / n,
      "spark.tasks" -> sum("tasks") / n,
      "spark.outside_jobs_s" -> Stats.mean(outside),
      "spark.sched_delay_ms" -> sum("sched_delay_ms") / n,
      "spark.executor_run_s" -> sum("executor_run_s") / n,
      "spark.executor_cpu_s" -> sum("executor_cpu_s") / n,
      "spark.gc_s" -> sum("gc_s") / n,
      "spark.input_bytes" -> sum("input_bytes") / n,
      "spark.shuffle_write_bytes" -> sum("shuffle_write_bytes") / n,
      "spark.shuffle_read_bytes" -> sum("shuffle_read_bytes") / n,
      "spark.spill_bytes" -> sum("spill_bytes") / n,
      "spark.held_block_bytes" -> Stats.mean(hs.map(_._1)),
      "spark.held_rdds" -> Stats.mean(hs.map(_._2)),
      "plans.analysis_ms" -> ph.map(_.analysisMs.toDouble).sum / n,
      "plans.optimize_ms" -> ph.map(_.optimizeMs.toDouble).sum / n,
      "plans.physical_ms" -> ph.map(_.physicalMs.toDouble).sum / n)
  }

  /** Self time per span name, in seconds per operation. */
  def selfLayers(nOps: Int): Map[String, Double] =
    tracer.selfTimes.map { case (name, (_, self)) =>
      s"trace.self_s.$name" -> self / math.max(1, nOps)
    }

  /** Heap still in use after a full collection, in MB: the least of three
    * collections, since a collection can leave garbage a later one frees. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

/** The benchmark harness: runs one workload against the engine's public
  * entry points and writes `result.json` (and, traced, `spans.jsonl`) to
  * `--out`. `perfbench/run.py` builds the classpath, launches this, checks
  * the dumped results against their DuckDB twins and prints the metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR [--master local[4]] [--list FILE]
  *   [--inject drop_frame|wrong_result]
  */
object Main {
  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("out"), m.getOrElse("master", "local[4]"), m.get("inject"), m.get("list"))
  }

  def session(c: Conf): SparkSession = {
    val cores = """local\[(\d+)\]""".r.findFirstMatchIn(c.master).map(_.group(1)).getOrElse("4")
    val s = SparkSession.builder()
      .master(c.master)
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(c.out, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(c.out, "spark-local").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def need(v: Option[String], k: String): String =
    v.getOrElse(throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmStartNs = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    Files.createDirectories(Paths.get(c.out))
    val spark = session(c)
    val ctx = new Ctx(spark, c, jvmStartNs)
    val res = try {
      val r = c.workload match {
        case "bus_live" => BusLive.run(ctx)
        case "catalog_batch" => Queries.run(ctx, Queries.readList(need(c.list, "list")))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      // measured once the workload's own inputs and results are released,
      // so only what the engine and its session still hold counts
      r.copy(metrics = r.metrics + ("retained_heap_mb" -> ctx.retainedHeapMb()))
    } finally spark.stop()
    if (c.trace) ctx.tracer.write(Paths.get(c.out, "spans.jsonl"), ctx.epochNs)
    val json = Json.obj(Seq(
      "workload" -> Json.str(c.workload),
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "errors" -> res.errors.take(50).map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.nums(res.metrics),
      "layers" -> Json.nums(res.layers),
      "dumps" -> Json.obj(res.dumps.map { case (q, p) => q -> Json.str(p) }),
      "oracle" -> Json.obj(res.dumps.map { case (q, _) => q -> Json.str(graft.SparkEntry.oracleSql(q)) }),
      "per_op_s" -> Json.nums(res.perOp),
      "invalid" -> res.invalid.map(Json.str).getOrElse("null")))
    Files.writeString(Paths.get(c.out, "result.json"), json)
  }
}
