package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one memo for derived artifacts (replay slices, index stores,
  * checkpointed frames, graph preps). An entry is keyed by
  * (scope, name, dir) and carries [[Fingerprint.ofTables]] of its input
  * tables under `dir`; every lookup recomputes that fingerprint and
  * rebuilds a stale entry, so data rewritten under a live JVM is never
  * served from an old build.
  *
  * Scopes:
  *   - [[jvm]] holds plain values and temp-dir paths for the JVM's life;
  *   - [[session]] holds anything bound to a session (DataFrames, graph
  *     preps). A frame references its context's blocks, so entries end
  *     with their context's application (one listener per context), and
  *     at most [[MaxSessions]] sessions are held: a fifth releases the
  *     least recently used. A replaced or evicted value that is
  *     `AutoCloseable` is closed.
  *
  * A key builds at most once even under concurrent callers, and builds
  * may nest (a build that itself looks up other keys): each entry is a
  * once-only holder, and no registry-wide lock is held while it builds. */
object Artifacts {

  private[graft] val MaxSessions = 4

  private final case class Key(scope: AnyRef, name: String, dir: String)

  private final class Slot(val fp: String) {
    @volatile private var built = false
    private var value: Any = _
    def get[A](build: => A): A = {
      if (!built) synchronized {
        if (!built) { value = build; built = true }
      }
      value.asInstanceOf[A]
    }
    def isBuilt: Boolean = built
    def peek: Any = value
  }

  private val JvmScope = new Object
  private val entries = new ConcurrentHashMap[Key, Slot]()
  // access-ordered: the eldest entry is the least recently used session
  private val sessions = new java.util.LinkedHashMap[SparkSession, SparkContext](
    16, 0.75f, true)
  private val contexts = new java.util.HashSet[SparkContext]()

  /** The JVM-scoped artifact `name` for `dir`, rebuilt when the
    * fingerprint of `tables` under `dir` changes. */
  def jvm[A](name: String, dir: String, tables: String*)(build: => A): A =
    lookup(Key(JvmScope, name, dir), Fingerprint.ofTables(dir, tables: _*), build)

  /** The artifact `name` for `dir` bound to session `s`, under the
    * session rule in the object doc. */
  def session[A](s: SparkSession, name: String, dir: String, tables: String*)
                (build: => A): A = {
    touch(s)
    lookup(Key(s, name, dir), Fingerprint.ofTables(dir, tables: _*), build)
  }

  private def lookup[A](key: Key, fp: String, build: => A): A = {
    var replaced: Slot = null
    val slot = entries.compute(key, (_, old) =>
      if (old != null && old.fp == fp) old
      else { replaced = old; new Slot(fp) })
    if (replaced != null) close(replaced)
    try slot.get(build)
    catch { case e: Throwable => entries.remove(key, slot); throw e }
  }

  /** Mark `s` most recently used, registering its context's end
    * listener on first sight; past the bound, release the least
    * recently used sessions' entries. */
  private def touch(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val (newContext, evicted) = sessions.synchronized {
      val fresh = sessions.put(s, sc) == null && contexts.add(sc)
      val over = sessions.size > MaxSessions
      if (over) sessions.remove(sessions.keySet.iterator.next())
      (fresh, over)
    }
    // outside the lock: a stopping context holds its bus lock while the
    // end listener below waits for this one
    if (newContext) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        sessions.synchronized {
          contexts.remove(sc)
          sessions.values.removeIf(_ eq sc)
        }
        sweep()
      }
    })
    if (evicted) sweep()
  }

  /** Drop the entries of every session no longer held. A value whose
    * context has stopped is not released: its blocks went with the
    * context, and releasing would call into a stopped context. */
  private def sweep(): Unit = {
    val held = sessions.synchronized { new java.util.HashSet(sessions.keySet) }
    val it = entries.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      e.getKey.scope match {
        case s: SparkSession if !held.contains(s) =>
          it.remove()
          if (!s.sparkContext.isStopped) close(e.getValue)
        case _ =>
      }
    }
  }

  private def close(slot: Slot): Unit =
    if (slot.isBuilt) slot.peek match {
      case c: AutoCloseable => c.close()
      case _ =>
    }

  /** Live entries for `s` — the spec hook for the session rule. */
  private[graft] def sessionEntries(s: SparkSession): Int =
    entries.keySet.toArray.count(_.asInstanceOf[Key].scope eq s)

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    tempDirs.forEach(p => deleteRecursively(p))))

  /** A fresh temp directory that one registry-wide shutdown hook
    * deletes. */
  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p
  }

  def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
