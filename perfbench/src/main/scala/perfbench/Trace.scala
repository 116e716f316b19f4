package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One traced interval. `op` groups the spans of one operation (a query,
  * a micro-batch or a publish batch); `parent` is the enclosing span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder, written out once when the run ends. Off
  * (the untraced runs) it records nothing and only runs the body. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0L)

  def newId(): Long = ids.incrementAndGet()

  def span[A](name: String, parent: Long, op: Long, id0: Long = 0L)(body: Long => A): A =
    if (!on) body(0L) else {
      val id = if (id0 > 0L) id0 else newId()
      val t0 = System.nanoTime()
      try body(id) finally add(Span(id, parent, op, name, t0, System.nanoTime()))
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span kind (the name up to its first '/'): total duration and self
    * time (duration minus the part of it covered by child spans). */
  def selfTimes: Map[String, (Double, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '/')).map { case (name, ss) =>
      val total = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
      val self = ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        (s.endNs - s.startNs - Intervals.covered(kids)) / 1e9
      }.sum
      name -> (total, self)
    }
  }

  def write(path: java.nio.file.Path, epochNs: Long): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num((s.startNs - epochNs) / 1e6)},"end_ms":${Json.num((s.endNs - epochNs) / 1e6)}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length covered by the union of [start, end) intervals. */
  def covered(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark jobs, stages and tasks of the traced run, each job recorded as a
  * span under the operation whose job group the benchmark set (or, for
  * jobs of streaming threads that run under their own group, the
  * operation whose interval holds the job's start). Traced runs only. */
final class JobLayers(tracer: Tracer, epochWallMs: Long, epochNs: Long) extends SparkListener {
  private final class Job(val group: Option[String], val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
  private val started = new AtomicLong(0L)
  private val ended = new AtomicLong(0L)

  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, new Job(group, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    ended.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      add("executor_run_s", m.executorRunTime / 1e3)
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null && i.finishTime > 0) {
      // the Spark UI's scheduler delay: task wall-clock not spent
      // deserializing, running, serializing or fetching the result
      val delay = (i.finishTime - i.launchTime) - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime - i.gettingResultTime
      add("sched_delay_ms", math.max(0L, delay).toDouble)
    }
  }

  /** Block until every started job has ended (listener events arrive
    * asynchronously), at most `ms`. */
  def settle(ms: Long): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  /** Jobs per op of the last [[attribute]] call. */
  @volatile var lastCounts: Map[Long, Int] = Map.empty

  private def toNs(wallMs: Long): Long = epochNs + (wallMs - epochWallMs) * 1000000L

  /** Jobs started inside [fromNs, toNs); each one is added as a `job` span
    * under the matching op span. Returns (job count, covered ns per op). */
  def attribute(ops: Seq[Span], fromNs: Long, untilNs: Long): (Int, Map[Long, Long]) = {
    val inWindow = jobs.values().asScala.toSeq.filter { j =>
      val s = toNs(j.startMs); s >= fromNs && s < untilNs && j.endMs >= 0
    }
    val byGroup = ops.map(o => o.op.toString -> o).toMap
    val cover = mutable.Map.empty[Long, Seq[(Long, Long)]]
    inWindow.foreach { j =>
      val (s, e) = (toNs(j.startMs), toNs(j.endMs))
      val owner = j.group.flatMap(byGroup.get)
        .orElse(ops.find(o => s >= o.startNs && s < o.endNs))
      owner.foreach { o =>
        tracer.add(Span(tracer.newId(), o.id, o.op, "job", s, e))
        cover(o.op) = cover.getOrElse(o.op, Nil) :+ (math.max(s, o.startNs), math.min(e, o.endNs))
      }
    }
    lastCounts = cover.map { case (k, v) => k -> v.size }.toMap
    (inWindow.size, cover.map { case (k, v) => k -> Intervals.covered(v) }.toMap)
  }
}

/** Planning phases of every Dataset action (QueryPlanningTracker), kept
  * with the analysis start time so they can be assigned to the operation
  * that ran them. Traced runs only. */
final case class Phases(startMs: Long, analysisMs: Long, optimizeMs: Long, physicalMs: Long)

final class PlanLayers extends QueryExecutionListener {
  val seen = new ConcurrentLinkedQueue[Phases]
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    seen.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** One micro-batch's progress report, stamped when it was received. */
final case class Batch(query: String, atNs: Long, durations: Map[String, Long], rows: Long,
                       state: Seq[org.apache.spark.sql.streaming.StateOperatorProgress])

/** Micro-batch progress of every streaming query: sub-phase durations and
  * state-operator numbers, keyed by query name. Traced runs only. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]
  private val started = new AtomicLong(0L)
  private val terminated = new AtomicLong(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.incrementAndGet()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Batch(Option(p.name).getOrElse(""), System.nanoTime(),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, p.stateOperators.toSeq))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.incrementAndGet()

  /** Wait until every started query's termination has been delivered. */
  def settle(ms: Long): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (terminated.get() < started.get() && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def between(fromNs: Long, untilNs: Long): Seq[Batch] =
    batches.asScala.toSeq.filter(b => b.atNs >= fromNs && b.atNs < untilNs)

  /** Per-layer means over batches: stream.* and state.* metrics. */
  def layerMetrics(bs: Seq[Batch]): Map[String, Double] = {
    def meanOf(f: Batch => Double) = Stats.mean(bs.map(f))
    def dur(k: String)(b: Batch) = b.durations.getOrElse(k, 0L).toDouble
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(b: Batch) =
      b.state.map(f).sum
    def custom(k: String)(o: org.apache.spark.sql.streaming.StateOperatorProgress) =
      Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    Map(
      "stream.batches" -> bs.size.toDouble,
      "stream.rows_per_batch" -> meanOf(_.rows.toDouble),
      "stream.trigger_ms" -> meanOf(dur("triggerExecution")),
      "stream.planning_ms" -> meanOf(dur("queryPlanning")),
      "stream.add_batch_ms" -> meanOf(dur("addBatch")),
      "stream.wal_commit_ms" -> meanOf(dur("walCommit")),
      "stream.commit_offsets_ms" -> meanOf(dur("commitOffsets")),
      "nats.latest_offset_ms" -> meanOf(dur("latestOffset")),
      "nats.get_batch_ms" -> meanOf(dur("getBatch")),
      "state.rows_total" -> meanOf(st(_.numRowsTotal.toDouble)),
      "state.memory_bytes" -> meanOf(st(_.memoryUsedBytes.toDouble)),
      "state.commit_ms" -> meanOf(st(_.commitTimeMs.toDouble)),
      "state.update_ms" -> meanOf(st(_.allUpdatesTimeMs.toDouble)),
      "state.removal_ms" -> meanOf(st(_.allRemovalsTimeMs.toDouble)),
      "state.rocksdb_gets" -> meanOf(st(custom("rocksdbGetCount"))),
      "state.rocksdb_puts" -> meanOf(st(custom("rocksdbPutCount"))),
      "state.rows_dropped_late" -> bs.map(st(_.numRowsDroppedByWatermark.toDouble)).sum)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
