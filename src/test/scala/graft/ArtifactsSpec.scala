package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** One test per clause of the [[Artifacts]] rule: once-only builds,
  * nested builds, fingerprint revalidation, context end, and the
  * least-recently-used session bound. */
class ArtifactsSpec extends AnyFunSuite with SharedSession {

  /** A data dir holding one input table `t` of `n` bytes. */
  private def dataDir(n: Int): Path = {
    val d = Files.createTempDirectory("graft_artifacts_spec")
    Files.write(d.resolve("t"), Array.fill[Byte](n)(1))
    d
  }

  private final class Held(val id: Int) extends AutoCloseable {
    @volatile var closed = false
    override def close(): Unit = closed = true
  }

  test("concurrent callers of one key build it once") {
    val d = dataDir(1).toString
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((1 to 8).map(_ => Future(
        Artifacts.jvm("spec.concurrent", d, "t") {
          builds.incrementAndGet(); Thread.sleep(200); 42
        }))), 30.seconds)
      assert(got.forall(_ == 42))
      assert(builds.get === 1)
    } finally pool.shutdown()
  }

  test("a build that itself looks up other artifacts neither throws nor deadlocks") {
    val d = dataDir(1).toString
    val s = session()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def outer(): Int = Artifacts.session(s, "spec.outer", d, "t") {
      Artifacts.session(s, "spec.inner", d, "t") {
        Artifacts.jvm("spec.leaf", d, "t")(1) + 1
      } + 1
    }
    try {
      val got = Await.result(Future.sequence((1 to 4).map(_ => Future(outer()))),
        30.seconds)
      assert(got === Seq(3, 3, 3, 3))
    } finally pool.shutdown()
  }

  test("a fingerprint change rebuilds and releases the replaced value") {
    val dir = dataDir(1)
    val d = dir.toString
    val s = session()
    val builds = new AtomicInteger
    def held(): Held = Artifacts.session(s, "spec.stale", d, "t")(
      new Held(builds.incrementAndGet()))
    val first = held()
    assert(held() eq first)
    Files.write(dir.resolve("t"), Array.fill[Byte](2)(1))
    val second = held()
    assert(second.id === 2)
    assert(first.closed, "the replaced value was not released")
    assert(!second.closed)
  }

  test("a fifth live session releases the least recently used one") {
    val d = dataDir(1).toString
    val base = session()
    val sessions = (1 to Artifacts.MaxSessions + 1).map(_ => base.newSession())
    val held = sessions.zipWithIndex.map { case (s, i) =>
      Artifacts.session(s, "spec.lru", d, "t")(new Held(i))
    }
    assert(held.head.closed, "the least recently used session was not released")
    assert(Artifacts.sessionEntries(sessions.head) === 0)
    assert(held.tail.forall(!_.closed))
    assert(sessions.tail.forall(Artifacts.sessionEntries(_) === 1))
  }

  test("stopping a session drops its entries") {
    val d = dataDir(1).toString
    val s = session()
    val h = Artifacts.session(s, "spec.stop", d, "t")(new Held(0))
    assert(Artifacts.sessionEntries(s) > 0)
    s.stop()
    assert(Artifacts.sessionEntries(s) === 0)
    // a stopped context's values are dropped, not released into it
    assert(!h.closed)
    val next = session()
    assert(next ne s)
    assert(Artifacts.session(next, "spec.stop", d, "t")(new Held(1)).id === 1)
  }
}
