package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without the shell forks.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks `chmod` for
  * every file and dir it creates (and for each `.crc` sidecar) and
  * `readlink` for every `getFileLinkStatus`, which FileContext calls on
  * both sides of each rename, milliseconds a fork. This raw layer differs
  * from Hadoop's in those two methods only:
  *  - `setPermission` calls `Files.setPosixFilePermissions`. A sticky
  *    bit, a directory holding setuid/setgid bits (which `chmod` with a
  *    4-digit mode keeps and java.nio would clear) or a filesystem
  *    without POSIX permissions goes to Hadoop's `chmod`.
  *  - `getFileLinkStatus` of a path that is not a symlink returns
  *    `getFileStatus`, which is what Hadoop returns after an empty
  *    `readlink`; a symlink goes to Hadoop's code.
  *
  * Everything else, checksums included, is Hadoop's: [[NioLocalFileSystem]]
  * is a `LocalFileSystem` and [[NioLocalFs]] a `ChecksumFs` (Hadoop's
  * `LocalFs`) over it, so files, modes and `.crc` sidecars on disk are
  * the same.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !nioChmod(file, permission))
      super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object NioRawLocalFileSystem {
  private val DirType = 0x4000 // S_IFDIR
  private val TypeMask = 0xf000 // S_IFMT
  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID

  /** Set `file`'s rwx bits; false where only `chmod` gives Hadoop's
    * result. */
  private def nioChmod(file: JPath, permission: FsPermission): Boolean =
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val keepsSetId = (mode & TypeMask) == DirType && (mode & SetIdBits) != 0
      !keepsSetId && {
        Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
          permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
            permission.getOtherAction.SYMBOL))
        true
      }
    } catch { case _: UnsupportedOperationException => false }
}

/** `fs.file.impl` for graft's own local writes — see
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (FileContext, which Spark's
  * checkpoint logs write through): Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]]. Like `LocalFs`, it ignores `uri`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private there) over the fork-free
  * raw layer. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  // local filesystems differ in their rules; the OS checks the name
  override def isValidName(src: String): Boolean = true
}

object NioLocalFileSystem {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[NioLocalFileSystem])
  private val FsKey = "fs.file.impl"
  private val FileContextKey = "fs.AbstractFileSystem.file.impl"

  /** The keys that route `conf`'s `file:` FileSystem through
    * [[NioLocalFileSystem]], none when `conf` names an implementation of
    * its own. They also turn off the `file:` instance cache: the
    * JVM-wide cached instance ignores `fs.file.impl`. */
  private def keys(conf: Configuration): Seq[(String, String)] = {
    val own = conf.get(FsKey)
    if (own != null && own != classOf[LocalFileSystem].getName) Nil
    else Seq(FsKey -> classOf[NioLocalFileSystem].getName,
      s"$FsKey.disable.cache" -> "true")
  }

  /** Set [[keys]] on `conf`. Returns `conf`. */
  def install(conf: Configuration): Configuration = {
    keys(conf).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Set [[keys]] on `spark`'s SQL conf, which every Hadoop conf the
    * session builds copies: its reads, writes and their tasks then
    * fork no `chmod`. For a session of graft's own, such as the
    * segment runner's clone; a caller's session is left as it is. */
  def install(spark: SparkSession): Unit =
    keys(spark.sessionState.newHadoopConf()).foreach {
      case (k, v) => spark.conf.set(k, v)
    }

  /** Route FileContext's `file:` filesystem — Spark's checkpoint logs —
    * through [[NioLocalFs]] on `sc`'s Hadoop conf, unless it names an
    * implementation other than Hadoop's `LocalFs`. FileContext has no
    * instance cache, so every log a query builds after this call uses
    * it. Logs once when it installs, and at each call that keeps a
    * user's implementation. */
  def installFileContext(sc: SparkContext): Unit = {
    val conf = sc.hadoopConfiguration
    val (ours, hadoops) = (classOf[NioLocalFs].getName, classOf[LocalFs].getName)
    conf.synchronized {
      conf.get(FileContextKey) match {
        case `ours` =>
        case null | `hadoops` =>
          conf.set(FileContextKey, ours)
          log.info(s"$FileContextKey=$ours on the SparkContext's Hadoop " +
            "conf: checkpoint logs set permissions without forking chmod")
        case own =>
          log.info(s"keeping $FileContextKey=$own; checkpoint logs on " +
            "file: paths fork chmod/readlink unless it avoids them")
      }
    }
  }
}
