package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Nothing memoized for one session may be served to a later session
  * of the same JVM: each test runs a query, stops the session, builds a
  * fresh one and runs the query again. */
class SessionRestartSpec extends AnyFunSuite with BeforeAndAfterAll with SharedSession {

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    StateStore.stop()
    super.afterAll()
  }

  private def restart(s: SparkSession): SparkSession = {
    StateStore.stop()
    s.stop()
    session()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  test("stream_incr_neardup answers the same in a fresh session after a stop") {
    val s = session()
    val before = rows(graft.stream.StreamGrade.streamIncrNearDup(s, dir))
    assert(before.nonEmpty)
    assert(rows(graft.stream.StreamGrade.streamIncrNearDup(restart(s), dir)) === before)
  }

  test("dedup_components answers the same in a fresh session after a stop") {
    val s = session()
    val before = rows(graft.llm.HashDedup.dedupComponents(s, dir))
    assert(before.nonEmpty)
    assert(rows(graft.llm.HashDedup.dedupComponents(restart(s), dir)) === before)
  }
}
