package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, with permissions set by one
  * `chmod(2)` through java.nio instead of a forked `chmod` process.
  *
  * Without Hadoop's native library (the Spark distribution ships none),
  * `RawLocalFileSystem.setPermission` runs `chmod <mode> <file>` as a
  * child process, and every directory, data file and `.crc` file a write
  * creates passes through it once. [[Sessions.builder]] registers this
  * class for the `file` scheme.
  *
  * The bits set are exactly the stock path's: `FsPermission.toShort`,
  * the umask already applied by the caller. The stock path still runs
  * when NIO cannot reproduce its result:
  *  - the requested mode carries the sticky bit (NIO sets rwx only);
  *  - the target already has a setuid, setgid or sticky bit (GNU
  *    `chmod` given a four-digit mode keeps a directory's setuid/setgid,
  *    which the NIO call would clear — a directory created under a
  *    setgid parent inherits it);
  *  - the filesystem exposes no POSIX mode, or the target is missing
  *    (the stock path reports the error). */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private final val RwxBits = 0x1ff    // 0777
  private final val SpecialBits = 0xe00 // 07000: setuid, setgid, sticky

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      val file = pathToFile(p).toPath
      if ((mode & ~RwxBits) != 0 || !onlyRwxSet(file))
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(mode))
    }
  }

  private def onlyRwxSet(file: JPath): Boolean =
    try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0
    catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException |
           _: java.io.IOException => false
    }

  /** The rwx bits of `mode` as NIO permissions. The enum declares
    * OWNER_READ … OTHERS_EXECUTE in mode-bit order, 0400 down to 0001. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }
}
