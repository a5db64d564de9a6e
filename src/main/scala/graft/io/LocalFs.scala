package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The local filesystem graft sessions use: Hadoop's checksummed
 * `LocalFileSystem` over a raw filesystem that answers in-process what
 * Hadoop's `RawLocalFileSystem` forks a process for when the Hadoop
 * native library is absent (as in a plain Spark install):
 *
 *  - `setPermission` runs `chmod` — once per file a Spark job or a
 *    commit writes, and once per directory it makes;
 *  - the permission, owner and group of a `FileStatus` are read lazily
 *    by `ls -ld` — on any `getPermission`, and always for each file of a
 *    `listFiles`, whose `LocatedFileStatus` copies them;
 *  - `getFileLinkStatus` runs `readlink` — on every `FileContext`
 *    rename, which is how streaming checkpoints commit.
 *
 * Here permissions are set with `Files.setPosixFilePermissions`,
 * statuses come with one `Files.readAttributes`, and links are read with
 * `Files.readSymbolicLink`. Everything else is Hadoop's, checksums
 * included: the `.crc` sidecars still catch a torn or corrupted local
 * file.
 *
 * [[conf]] binds both of Hadoop's entry points to it: `FileSystem`
 * (Spark's reads and writes, the index families' commits) and
 * `FileContext` (streaming checkpoints), whose local binding would
 * otherwise build Hadoop's own raw filesystem. `FileSystem` instances
 * are cached per JVM, so the first session to touch `file:` decides the
 * class for every later one.
 */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The Spark settings that bind `file:` to it. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, perms(permission.toShort))

    override def getFileStatus(p: Path): FileStatus = status(p)

    override def listStatus(p: Path): Array[FileStatus] = {
      val f = pathToFile(p)
      // a directory's entries come through getFileStatus above
      if (f.isFile) Array(getFileStatus(p)) else super.listStatus(p)
    }

    override def getFileLinkStatus(p: Path): FileStatus = {
      val link = pathToFile(p).toPath
      if (!Files.isSymbolicLink(link)) getFileStatus(p)
      else {
        val target = new Path(Files.readSymbolicLink(link).toString)
        val qualified = FSLinkResolver.qualifySymlinkTarget(getUri, makeQualified(p), target)
        // a dangling link has no target status: its own attributes stand in
        val st = try getFileStatus(p) catch {
          case _: FileNotFoundException => status(p, LinkOption.NOFOLLOW_LINKS)
        }
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, qualified, st.getPath)
      }
    }

    override def getLinkTarget(p: Path): Path =
      new Path(Files.readSymbolicLink(pathToFile(p).toPath).toString)

    private def status(p: Path, opts: LinkOption*): FileStatus = {
      val f = pathToFile(p)
      val a = try Files.readAttributes(f.toPath, classOf[PosixFileAttributes], opts: _*)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      }
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(p),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        new FsPermission(mode(a.permissions)), a.owner.getName, a.group.getName,
        new Path(f.getPath).makeQualified(getUri, getWorkingDirectory))
    }
  }

  /** `FileContext`'s binding: Hadoop's `local.LocalFs` over [[Raw]]. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `local.RawLocalFs`, delegating to [[Raw]]. */
  final class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(p: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  // POSIX permission bits, owner read (0400) first
  private val bits: Array[PosixFilePermission] = Array(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE,
    PosixFilePermission.GROUP_READ, PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE)

  private def perms(m: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (m & (0x100 >> i)) != 0) s.add(bits(i))
    s
  }

  private def mode(s: java.util.Set[PosixFilePermission]): Short =
    bits.indices.foldLeft(0) { (m, i) => if (s.contains(bits(i))) m | (0x100 >> i) else m }.toShort
}
