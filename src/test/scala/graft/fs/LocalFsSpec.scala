package graft.fs

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSession
import graft.stream.Streams
import graft.stream.Streams.BusEvent

/** The spawn-free `file:` pair: a streaming checkpoint forks no shell,
  * the overridden calls answer as the stock `RawLocalFileSystem` does,
  * and a deployment's own `file:` implementation wins. */
class LocalFsSpec extends AnyFunSuite with SharedSession with BeforeAndAfterAll {

  override def afterAll(): Unit = {
    StateStore.stop()
    super.afterAll()
  }

  private def tmpDir(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))))
    d
  }

  /** The command lines of every process started while `body` ran. */
  private def spawnsDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  private def isChmodOrReadlink(cmd: String): Boolean =
    cmd.split("\\s+").headOption.exists(h => h.endsWith("chmod") || h.endsWith("readlink"))

  test("a 3-batch RocksDB dedup stream with a file: checkpoint forks no chmod or readlink") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // The query's Hadoop conf bypasses the JVM's FileSystem cache:
    // earlier suites in this shared test JVM may have cached a stock
    // file: FileSystem before any engine session installed the pair,
    // and a cached instance is never replaced.
    val scoped = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "fs.file.impl.disable.cache" -> "true")
    val ckpt = tmpDir("graft_localfs_ckpt_").toUri.toString
    assert(ckpt.startsWith("file:/"))
    def ev(id: Long, min: Int) =
      BusEvent(id, new java.sql.Timestamp(1704067200000L + min * 60000L), 1L, "click", 1.0, "{}")
    val in = MemoryStream[BusEvent]
    var batches = 0L
    val spawns = withConf(scoped: _*) { try spawnsDuring {
      // the recording sees spawns: one deliberate, outside Hadoop
      new ProcessBuilder("true").start().waitFor()
      val q = Streams.dedupStream(Streams.withChannel(in.toDF()))
        .writeStream.outputMode("append").format("memory").queryName("localfs_dedup")
        .option("checkpointLocation", ckpt).start()
      try {
        Seq(Seq(ev(1, 0), ev(1, 0), ev(2, 1)), Seq(ev(2, 1), ev(3, 2)), Seq(ev(4, 3), ev(1, 0)))
          .foreach { rows => in.addData(rows: _*); q.processAllAvailable() }
        batches = q.recentProgress.count(_.numInputRows > 0L)
      } finally q.stop()
    } finally StateStore.stop() }
    assert(batches === 3L)
    assert(spark.table("localfs_dedup").count() === 4L)
    assert(spawns.exists(_.trim == "true"), spawns)
    assert(spawns.filter(isChmodOrReadlink) === Seq.empty)
  }

  private def pair(umask: String): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(FsPermission.UMASK_LABEL, umask)
    def init(fs: RawLocalFileSystem) = { fs.initialize(FileSystem.getDefaultUri(conf), conf); fs }
    (init(new RawLocalFileSystem), init(new SpawnFreeRawLocalFileSystem))
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("create and mkdirs leave the stock permission bits under the session umask") {
    val d = tmpDir("graft_localfs_perm_")
    for (umask <- Seq("022", "027", "077", "002")) {
      val (base, ours) = pair(umask)
      def made(fs: RawLocalFileSystem, tag: String): (Int, Int, Int) = {
        val f = d.resolve(s"f_${tag}_$umask")
        fs.create(new Path(f.toUri)).close()
        val dir = d.resolve(s"d_${tag}_$umask")
        assert(fs.mkdirs(new Path(dir.resolve("a/b").toUri)))
        (mode(f), mode(dir), mode(dir.resolve("a/b")))
      }
      assert(made(ours, "ours") === made(base, "stock"), s"umask $umask")
    }
    // explicit modes, the sticky one on the stock path
    val (base, ours) = pair("022")
    for (m <- Seq(0, 0x1ff, 0x1c0, 0x1a4, 0x124, 0x3ff)) {
      val bd = Files.createDirectory(d.resolve(f"sb_$m%o"))
      val od = Files.createDirectory(d.resolve(f"so_$m%o"))
      base.setPermission(new Path(bd.toUri), new FsPermission(m.toShort))
      ours.setPermission(new Path(od.toUri), new FsPermission(m.toShort))
      assert(mode(od) === mode(bd), f"mode $m%o")
    }
    // a missing path fails as the stock call does
    val missing = new Path(d.resolve("nope").toUri)
    val be = intercept[java.io.IOException](base.setPermission(missing, new FsPermission(0x1a4.toShort)))
    val oe = intercept[java.io.IOException](ours.setPermission(missing, new FsPermission(0x1a4.toShort)))
    assert(oe.getClass === be.getClass)
  }

  private def outcome(fs: RawLocalFileSystem, p: Path): Either[Class[_], Seq[Any]] =
    try {
      val s: FileStatus = fs.getFileLinkStatus(p)
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
        if (s.isSymlink) s.getSymlink else null))
    } catch { case e: FileNotFoundException => Left(e.getClass) }

  test("getFileLinkStatus answers as the stock call on files, dirs, missing paths and symlinks") {
    val d = tmpDir("graft_localfs_link_")
    val file = Files.write(d.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val (base, ours) = pair("022")
    val cases = Seq("file" -> file, "dir" -> dir, "missing" -> d.resolve("missing"),
      "link" -> link, "dangling" -> dangling)
    for ((name, p) <- cases; hp <- Seq(new Path(p.toUri), new Path(p.toString))) {
      val want = outcome(base, hp)
      assert(outcome(ours, hp) === want, s"$name as $hp")
      if (name == "missing") assert(want === Left(classOf[FileNotFoundException]))
    }
  }

  test("the engine session's file: FileSystem and FileContext use the spawn-free pair") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    assert(conf.get(SpawnFreeLocalFs.AfsKey) === classOf[SpawnFreeLocalFs].getName)
    assert(AbstractFileSystem.get(java.net.URI.create("file:///"), conf)
      .isInstanceOf[SpawnFreeLocalFs])
    assert(FileSystem.newInstance(java.net.URI.create("file:///"), conf)
      .isInstanceOf[SpawnFreeLocalFileSystem])
    // a key set in code (spark.hadoop.*) beats the resource
    conf.set(SpawnFreeLocalFs.AfsKey, "org.apache.hadoop.fs.local.LocalFs")
    assert(FileContext.getFileContext(java.net.URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
  }

  test("a deployment-set fs.AbstractFileSystem.file.impl is kept") {
    val site = tmpDir("graft_localfs_site_")
    Files.writeString(site.resolve("core-site.xml"),
      """<?xml version="1.0"?><configuration><property>
        |<name>fs.AbstractFileSystem.file.impl</name>
        |<value>org.apache.hadoop.fs.local.LocalFs</value>
        |</property></configuration>""".stripMargin)
    def probe(cp: String): Seq[String] = {
      val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val p = new ProcessBuilder(javaBin, "-cp", cp, InstallProbe.getClass.getName.stripSuffix("$"))
        .start()
      val out = new String(p.getInputStream.readAllBytes()).trim.split("\n").toSeq
      assert(p.waitFor() === 0, out)
      out
    }
    val cp = System.getProperty("java.class.path")
    assert(probe(site.toString + java.io.File.pathSeparator + cp) ===
      Seq("installed=false", "org.apache.hadoop.fs.local.LocalFs", "null"))
    assert(probe(cp) === Seq("installed=true", classOf[SpawnFreeLocalFs].getName,
      classOf[SpawnFreeLocalFileSystem].getName))
  }
}

/** Run in a fresh JVM by [[LocalFsSpec]]: install, then print what a new
  * `Configuration` resolves for the two `file:` keys. */
object InstallProbe {
  def main(args: Array[String]): Unit = {
    val installed = SpawnFreeLocalFs.install()
    val c = new Configuration()
    println(s"installed=$installed")
    println(c.get(SpawnFreeLocalFs.AfsKey))
    println(c.get(SpawnFreeLocalFs.FsKey))
  }
}
