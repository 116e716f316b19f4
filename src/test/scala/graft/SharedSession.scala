package graft

import org.apache.spark.sql.{PlainSession, SparkSession}

/** The specs' session: one JVM-wide [[GraftSession.local]] session with
  * the extensions, so no spec's master, extensions or static confs
  * depend on which suite ran first. */
trait SharedSession {

  /** The shared session, rebuilt only after a spec has stopped it. */
  protected def session(): SparkSession = SharedSession.get()

  lazy val spark: SparkSession = session()

  /** Run `body` with the SQL confs `kvs` set on [[spark]], then restore
    * each to its prior value (or unset it). */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prior = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prior.foreach { case (k, p) => p.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Run `f` on a fresh session of the same context built WITHOUT the
    * extensions — the plain-session contract of `SparkEntry` callers —
    * active and default while `f` runs; the shared session is restored
    * after. */
  def withPlainSession[A](f: SparkSession => A): A = {
    val shared = spark
    val plain = PlainSession.on(shared.sparkContext)
    SparkSession.setActiveSession(plain)
    SparkSession.setDefaultSession(plain)
    try f(plain)
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}

object SharedSession {
  /** Every spec runs on 4 cores, whatever the box has. */
  private val Cores = 4

  private var current: SparkSession = _

  def get(): SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = GraftSession.local(Cores)
    current
  }
}
