package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's local file system with its permission and link calls made
  * through the JDK instead of a child process.
  *
  * Without `libhadoop` (Spark ships none), `RawLocalFileSystem` runs
  * `chmod` for every `setPermission` — which every file or directory
  * create calls — and `readlink` for every `getFileLinkStatus` — which
  * a `FileContext` rename calls twice per file and twice per `.crc`. A
  * streaming micro-batch writes offset and commit logs, state-store
  * deltas and sink files this way, so it paid about 80 process starts,
  * tens of milliseconds each, per batch. Files, `.crc` checksums,
  * permission bits and rename semantics are Hadoop's own: only the two
  * calls change, and each falls back to Hadoop where the JDK call would
  * differ (a sticky bit, a real symlink). */
class JdkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]()
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission, x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) bits.add(r)
        if (a.implies(FsAction.WRITE)) bits.add(w)
        if (a.implies(FsAction.EXECUTE)) bits.add(x)
      }
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`) over
  * [[JdkRawLocalFileSystem]]. */
class JdkLocalFileSystem extends LocalFileSystem(new JdkRawLocalFileSystem)

object JdkLocalFileSystem {

  /** The session confs that make Hadoop serve `file:` paths with these
    * classes, both through `FileSystem` and through `FileContext` (the
    * path Spark's streaming checkpoint manager takes). */
  val SparkConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[JdkLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[JdkLocalFs].getName)
}

/** `FileContext`'s unchecksummed `file:` file system over
  * [[JdkRawLocalFileSystem]]; mirrors Hadoop's `RawLocalFs`, whose
  * constructors are package-private. */
private[sources] class JdkRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new JdkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem method", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`), like Hadoop's `LocalFs`. Hadoop
  * builds it reflectively from `(URI, Configuration)`. */
class JdkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new JdkRawLocalFs(conf))
