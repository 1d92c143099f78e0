package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem (`fs.file.impl`) without a
  * process fork per file. Without libhadoop (`NativeIO.isAvailable`
  * false, as in a plain `local[n]` JVM), Hadoop's
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `org.apache.hadoop.util.Shell` for every file, `.crc` file and
  * directory a write creates, and `getFileLinkStatus` forks `readlink`.
  * [[LocalFs.RawFileSystem]] does both through `java.nio` instead; file
  * modes, checksums and every other call are Hadoop's own.
  *
  * The `FileSystem` cache is JVM-wide and keyed by scheme, so this
  * class takes effect only if it creates the JVM's first `file:`
  * FileSystem (GraftSession's builder sets it before its session
  * starts; a `file:` FileSystem made earlier from another
  * configuration stays in use). */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFs.RawFileSystem)

/** The `FileContext` twin (`fs.AbstractFileSystem.file.impl`) of
  * `org.apache.hadoop.fs.local.LocalFs`, over [[LocalFs.RawFileSystem]]:
  * Structured Streaming's checkpoint manager renames its offset and
  * commit log entries through `FileContext`, which looks up the link
  * status of source and destination on every rename. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.RawFs(conf))

object LocalFs {

  /** `RawLocalFileSystem` that sets the nine rwx bits and reads link
    * status without forking. Anything else — libhadoop loaded, a sticky
    * bit, a non-POSIX path, a real symlink — goes to Hadoop's code. */
  private[sources] class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 ||
          !file.getFileSystem.supportedFileAttributeViews.contains("posix")) {
        super.setPermission(p, permission)
      } else {
        // PosixFilePermission lists owner, group, others, each r, w, x:
        // the same order as the mode's bits from 0400 down to 0001
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(b)
        }
        try Files.setPosixFilePermissions(file, perms)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[RawFileSystem]]. */
  private[sources] class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1 // file:/// has no port
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("use getServerDefaults(Path)", "hadoop 2.x")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    // the OS validates local names, as RawLocalFileSystem leaves it to
    override def isValidName(src: String): Boolean = true
  }
}
