package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The closed-loop catalog workload over `graft.SparkEntry.queries`: one
  * query at a time, each result fully consumed (`collect`, so no output
  * column can be pruned and final sorts stay in the plan), fingerprinted
  * outside the timed window and dumped once for the oracle check. */
object Queries {

  /** Timed passes run until --seconds is spent, and at least this many. */
  val MinPasses = 3

  /** The catalog's tail: with 12 queries × 3 passes, the highest
    * percentile that leaves at least 10 executions beyond it. */
  val TailQuantile = 0.70

  def readList(path: String): Seq[String] =
    java.nio.file.Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.replaceAll("#.*", "").trim).filter(_.nonEmpty)

  /** Order-insensitive fingerprint: row count and the sum of row hashes.
    * Doubles hash at 10 significant digits, so a re-association in a
    * floating-point sum does not read as a different result. */
  def fingerprint(rows: Array[Row]): (Long, Long) = {
    def h(v: Any): Int = v match {
      case null => 0
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case d: Double => java.lang.String.format(java.util.Locale.ROOT, "%.10g", Double.box(d)).##
      case f: Float => h(f.toDouble)
      case r: Row => scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map(h))
      case m: scala.collection.Map[_, _] =>
        m.iterator.map { case (k, x) => h(k) * 31 + h(x) }.sum
      case s: scala.collection.Iterable[_] => scala.util.hashing.MurmurHash3.orderedHash(s.map(h))
      case x => x.##
    }
    (rows.length.toLong, rows.iterator.map(r => h(r).toLong).sum)
  }

  private final case class First(rows: Array[Row], schema: StructType, fp: (Long, Long))

  def run(ctx: Ctx, listed: Seq[String]): Outcome = {
    val spark = ctx.spark
    val c = ctx.conf
    val fns = graft.SparkEntry.queries
    val missing = listed.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val names = new scala.util.Random(c.seed).shuffle(listed)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    // untimed warm pass: JIT, codegen and artifact caches
    val warmS = names.map { n =>
      val w0 = System.nanoTime()
      try fns(n)(spark, c.data).collect()
      catch { case NonFatal(e) => errors += s"$n warm: $e" }
      s"warm.$n" -> (System.nanoTime() - w0) / 1e9
    }
    val setupS = (System.nanoTime() - ctx.jvmStartNs) / 1e9
    ctx.armTracing()

    val first = mutable.Map.empty[String, First]
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val opNames = mutable.Map.empty[Long, String]
    var passes = 0
    val t0 = System.nanoTime()
    val deadline = t0 + c.seconds * 1000000000L
    while (passes < MinPasses || System.nanoTime() < deadline) {
      names.foreach { n =>
        attempted += 1
        val op = ctx.tracer.newId()
        try {
          if (c.trace) spark.sparkContext.setJobGroup(op.toString, n)
          val s0 = System.nanoTime()
          val (rows, schema) = ctx.tracer.span(s"query/$n", 0L, op, op) { id =>
            val df = ctx.tracer.span("plan", id, op) { _ =>
              val d: DataFrame = fns(n)(spark, c.data)
              d.queryExecution.executedPlan
              d
            }
            ctx.tracer.span("execute", id, op)(_ => (df.collect(), df.schema))
          }
          val s1 = System.nanoTime()
          if (c.trace) {
            spark.sparkContext.clearJobGroup()
            opSpans += Span(op, 0L, op, "query", s0, s1)
            opNames(op) = n
            ctx.sampleHeld()
          }
          lat.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (s1 - s0) / 1e9
          val fp = fingerprint(rows)
          first.get(n) match {
            case None => first(n) = First(rows, schema, fp)
            case Some(f) if f.fp != fp =>
              failed += 1
              errors += s"$n: result changed between executions: ${f.fp} then $fp"
            case _ => ()
          }
        } catch {
          case NonFatal(e) =>
            failed += 1
            errors += s"$n: $e"
        }
      }
      passes += 1
    }
    val t1 = System.nanoTime()

    // a pass is reported as the sum of each query's median execution, so
    // one disturbed execution moves it no more than the query's median
    val passS = lat.values.map(xs => Stats.median(xs.toSeq)).sum
    val execMs = lat.values.flatten.map(_ * 1e3).toSeq
    val p50 = Stats.median(execMs)
    val tail = Stats.quantile(execMs, TailQuantile)
    val metrics = Map("setup_s" -> setupS, "op_p50_ms" -> p50, "op_tail_ms" -> tail,
      "pass_s" -> passS)

    val layers = if (!c.trace) Map.empty[String, Double] else
      ctx.sparkLayers(opSpans.toSeq, t0, t1) ++ ctx.selfLayers(opSpans.size) ++
        Map("trace.pass_s" -> passS, "trace.op_p50_ms" -> p50)

    // outside the timed window: dump each query's first result for the
    // DuckDB twin (an injected fault corrupts one dump, to prove the check)
    val checked = first.toSeq.sortBy(_._1).filter { case (n, _) =>
      graft.SparkEntry.oracleSql.contains(n)
    }
    val corrupt = if (c.inject.contains("wrong_result")) checked.find(_._2.rows.nonEmpty).map(_._1)
                  else None
    val dumps = checked.map { case (n, f) =>
      val rows = if (corrupt.contains(n)) f.rows.drop(1) else f.rows
      val path = Paths.get(c.out, "results", n).toAbsolutePath.toString
      spark.createDataFrame(rows.toSeq.asJava, f.schema).coalesce(1)
        .write.mode("overwrite").parquet(path)
      n -> path
    }
    Outcome(attempted, failed, errors.toSeq, metrics, layers, dumps,
      perOp = lat.map { case (n, xs) => n -> Stats.median(xs.toSeq) }.toMap ++ warmS ++
        (if (!c.trace) Map.empty else opNames.map { case (op, n) =>
          s"$n.jobs" -> ctx.jobs.lastCounts.getOrElse(op, 0).toDouble }))
  }
}
