package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scan-count ratchet over the FULL graded catalog: every query's
  * executed plan is audited (ScanAudit.tableScanCounts) against the
  * committed budget in tools/scan_budget.tsv. Any table scanned more
  * often than budgeted fails the build — the r5 purge fixed a family of
  * silent double scans (q21 3→1 etc.) query-by-query in PlanShapeSpec;
  * this spec closes the class: a refactor cannot re-introduce one
  * anywhere in the catalog without editing the budget file in the same
  * commit. Queries absent from the file budget at ONE scan per table. */
class ScanBudgetSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"
  private val budgetFile = java.nio.file.Paths.get("tools/scan_budget.tsv")

  test("no graded query exceeds its committed per-table scan budget") {
    import scala.jdk.CollectionConverters._
    val budget: Map[(String, String), Int] =
      java.nio.file.Files.readAllLines(budgetFile).asScala
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(q, t, n) = l.split("\t")
          (q, t) -> n.toInt
        }.toMap

    // stale entries rot the ratchet: a renamed/removed query must drop
    // its budget line in the same commit
    val qnames = SparkEntry.queries.keySet
    budget.keys.foreach { case (q, _) =>
      assert(qnames.contains(q), s"stale budget entry for unknown query '$q'")
    }

    val over = scala.collection.mutable.ArrayBuffer.empty[String]
    val under = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      df.collect()
      graft.tools.ScanAudit.tableScanCounts(df).foreach { case (table, n) =>
        val allowed = budget.getOrElse((name, table), 1)
        if (n > allowed)
          over += s"$name scans $table x$n (budget $allowed)"
        else if (n < allowed)
          under += s"$name scans $table x$n (budget $allowed — tighten the file)"
      }
    }
    assert(over.isEmpty,
      s"scan budget exceeded:\n${over.mkString("\n")}\n" +
        "either remove the re-scan or raise tools/scan_budget.tsv deliberately")
    // improvements don't fail the build, but surface them so the budget
    // ratchets down in the next commit
    under.foreach(u => info(u))
  }
}
