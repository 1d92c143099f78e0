package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}

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
  * directory a write creates, `getFileLinkStatus` forks `readlink`, and
  * the first read of a status's permission, owner or group forks
  * `ls -ld`. [[LocalFs.RawFileSystem]] does all three through
  * `java.nio` instead; file modes, checksums and every other call are
  * Hadoop's own.
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

  /** `RawLocalFileSystem` that sets the nine rwx bits, reads link
    * status and loads a status's permission, owner and group without
    * forking. Anything else — libhadoop loaded, setting a sticky bit, a
    * non-POSIX path, a real symlink — goes to Hadoop's code. */
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

    override def getFileStatus(f: Path): FileStatus = lazyOwnership(super.getFileStatus(f))

    // a directory's entries come through getFileStatus; a file's own
    // listing does not
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(lazyOwnership)

    private def lazyOwnership(st: FileStatus): FileStatus = st match {
      case s: PosixStatus => s
      case _ =>
        val file = pathToFile(st.getPath).toPath
        if (NativeIO.isAvailable || !file.getFileSystem.supportedFileAttributeViews.contains("unix")) st
        else new PosixStatus(st, file)
    }
  }

  /** `st` with its permission, owner and group loaded on first read by
    * one `lstat` of `file` — the link itself, as Hadoop's `ls -ld`
    * reads it. The permission keeps the rwx and sticky bits, as
    * `FsPermission.valueOf` parses them from `ls` output; a file that
    * is gone keeps the defaults and is read again next time, as in
    * Hadoop. */
  private final class PosixStatus(st: FileStatus, file: java.nio.file.Path) extends FileStatus(
      st.getLen, st.isDirectory, st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, null, null, null, if (st.isSymlink) st.getSymlink else null, st.getPath) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) try {
        val a = Files.readAttributes(file, "unix:mode,owner,group", LinkOption.NOFOLLOW_LINKS)
        super.setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        super.setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        super.setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      } catch { case _: NoSuchFileException => () }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
    override def write(out: java.io.DataOutput): Unit = { load(); super.write(out) }
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
