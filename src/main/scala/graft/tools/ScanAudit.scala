package graft.tools

/** Executed-plan parquet-scan counts per graded query (flags avoidable
  * fact re-scans). The counting logic is shared with ScanBudgetSpec,
  * which gates the full catalog against the committed budget file
  * (tools/scan_budget.tsv) in CI — a refactor cannot silently
  * re-introduce a double scan. */
object ScanAudit {

  /** Per-table parquet-scan counts in the EXECUTED (post-AQE) plan of an
    * already-collected DataFrame. */
  def tableScanCounts(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    plan.linesIterator.filter(_.contains("Scan parquet")).toSeq
      .map { l =>
        "([a-z_]+)\\.parquet".r.findFirstMatchIn(l).map(_.group(1))
          // catalog tables print as spark_catalog.default.<name>; strip
          // the per-dir fingerprint suffix so budget keys stay stable
          .orElse("spark_catalog\\.[a-z_]+\\.([a-z_0-9]+)".r
            .findFirstMatchIn(l)
            .map(m => m.group(1).replaceAll("_[0-9a-f]{16}$", "")))
          .getOrElse("?")
      }
      .groupBy(identity).view.mapValues(_.length).toMap
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        df.collect()
        val dup = tableScanCounts(df).filter(_._2 > 1)
          .map { case (t, n) => s"$t x$n" }.mkString(",")
        if (dup.nonEmpty) println(s"SCANAUDIT $name DUP $dup")
      } catch { case e: Exception => println(s"SCANAUDIT $name ERR ${e.getClass.getSimpleName}") }
    }
    spark.stop()
  }
}
