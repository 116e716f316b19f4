package graft.fs

import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its two per-file shell-outs.
  *
  * Without `libhadoop` the stock class forks `chmod` for every file and
  * directory it creates (`setPermission`), and `readlink` in every
  * `getFileLinkStatus` — the latter on the scheme-qualified
  * `file:/…` string, which never resolves, so the stock answer for a
  * qualified path is always `getFileStatus(f)`. A streaming query pays
  * both on every offset-log, commit-log and state-store file it writes.
  *
  * Only those two calls change; everything else is the stock code:
  *   - `setPermission` sets the same nine bits with
  *     `Files.setPosixFilePermissions`. A sticky bit, a store without
  *     POSIX attributes, or an I/O error takes the stock path, so an
  *     error surfaces exactly as before.
  *   - `getFileLinkStatus` of a path that is not a symlink is
  *     `getFileStatus(f)` (a missing path throws its
  *     `FileNotFoundException`); a symlink takes the stock path.
  */
class SpawnFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit ||
        Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. the
      // octal mode's bits 8 … 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { pp =>
        if ((bits & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(file, perms)
      catch { case _: FileSystemException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` half (`fs.file.impl`): stock `LocalFileSystem`
  * checksumming over [[SpawnFreeRawLocalFileSystem]]. */
class SpawnFreeLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
  new SpawnFreeRawLocalFileSystem)

/** The raw `AbstractFileSystem` (what `FileContext` uses): the stock
  * `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[SpawnFreeRawLocalFileSystem]]. */
class SpawnFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SpawnFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The `AbstractFileSystem` half (`fs.AbstractFileSystem.file.impl`):
  * stock `ChecksumFs` over [[SpawnFreeRawLocalFs]]. Streaming's
  * `FileContextBasedCheckpointFileManager` writes the offset and commit
  * logs and the state-store files through it. */
class SpawnFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new SpawnFreeRawLocalFs(uri, conf))

/** Installs the `file:` pair as Hadoop defaults, once per JVM.
  *
  * The keys come from the classpath resource `graft-localfs.xml`, added with
  * `Configuration.addDefaultResource`, so every `Configuration` — the
  * ones already built included — reads them. A deployment keeps its own
  * choice:
  *   - a key set in code (Spark's `spark.hadoop.*`) overrides any
  *     resource;
  *   - if `core-site.xml` or another site resource already sets either
  *     key, the resource is not added at all.
  *
  * Hadoop caches `FileSystem` instances per JVM, so a `file:`
  * `FileSystem` created before the install stays stock; `FileContext`
  * builds its `AbstractFileSystem` per call and always sees the pair.
  */
object SpawnFreeLocalFs {
  val FsKey = "fs.file.impl"
  val AfsKey = "fs.AbstractFileSystem.file.impl"
  private val Resource = "graft-localfs.xml"

  private lazy val installed: Boolean = {
    val probe = new Configuration()
    // a key set by any resource but Hadoop's own core-default.xml is the
    // deployment's choice
    val deploymentSet = Seq(FsKey, AfsKey).exists { k =>
      Option(probe.getPropertySources(k)).exists(_.exists(_ != "core-default.xml"))
    }
    if (!deploymentSet) Configuration.addDefaultResource(Resource)
    !deploymentSet
  }

  /** Idempotent; true if the pair is the JVM's default. */
  def install(): Boolean = installed
}
