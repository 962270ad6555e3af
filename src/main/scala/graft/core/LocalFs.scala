package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local file system, setting permissions in the
  * JVM instead of in a child process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` (~3 ms each), and Hadoop calls it for every directory
  * `mkdirs` makes and every file `create` opens: each part file and its
  * `.crc`, `_SUCCESS` and its `.crc`, and the commit protocol's
  * `_temporary` tree. Here the raw layer sets the same bits through
  * `Files.setPosixFilePermissions`. Hadoop applies its umask before it
  * calls `setPermission`, so the bits on disk are the stock path's.
  *
  * It extends `LocalFileSystem` because `FileSystem.getLocal` casts to
  * that type. [[graft.sql.GraftExtensions]] makes it the default
  * `fs.file.impl`; see [[LocalFs.installDefault]]. */
class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFileSystem)

object LocalFs {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.core.LocalFs")

  /** Hadoop's conf key naming the `file:` FileSystem class. */
  val ImplKey = "fs.file.impl"

  /** `RawLocalFileSystem` whose `setPermission` calls java.nio. Bits a
    * `rwx` set cannot express (the sticky bit) and stores without POSIX
    * attributes take the stock path. */
  class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }

  // OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 0001
  private val rwx = PosixFilePermission.values

  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- rwx.indices if (bits & (0x100 >> i)) != 0) s.add(rwx(i))
    s
  }

  /** Give `conf` [[LocalFs]] as its `file:` FileSystem unless
    * [[ImplKey]] is already set (an explicit value always wins), and
    * return the class `file:` paths now resolve to.
    *
    * Hadoop caches one FileSystem per scheme, authority and user, not
    * per conf. So if another class got there first (a session built
    * without the extension, or an explicit [[ImplKey]]), the default
    * changes nothing. When that class forks `chmod` (no native Hadoop),
    * one WARN says so. */
  def installDefault(conf: Configuration): Class[_ <: FileSystem] = {
    conf.setIfUnset(ImplKey, classOf[LocalFs].getName)
    // a copy, as Spark hands FileSystem.get: the cached instance keeps
    // the conf it was created with
    val inUse = FileSystem.getLocal(new Configuration(conf)).getClass
    if (!classOf[LocalFs].isAssignableFrom(inUse) && !NativeIO.isAvailable)
      log.warn(s"local file: paths resolve to the cached ${inUse.getName}, " +
        s"not ${classOf[LocalFs].getName}: local writes will fork chmod " +
        "per file and directory")
    inUse
  }
}
