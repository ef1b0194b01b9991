package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

/** The `file` scheme without child processes. With no libhadoop on
  * the library path, Hadoop's [[RawLocalFileSystem]] runs `chmod` as a
  * process for every file create and mkdir, and `readlink` as a
  * process for every `getFileLinkStatus` (four per `FileContext`
  * rename, which is how Spark commits each offset and commit log
  * entry): over 30 forks of ~3 ms each per landing micro-batch. This
  * subclass does the same two things through `java.nio`, with the
  * results Hadoop's own path produces (LocalFsSpec compares them
  * against stock).
  *
  * `src/main/resources/core-site.xml` binds `fs.file.impl` to
  * [[ForkFreeLocalFileSystem]] and `fs.AbstractFileSystem.file.impl`
  * to [[ForkFreeLocalFs]], so every JVM that carries the program's
  * resources picks them up from its Hadoop `Configuration`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through `Files.setPosixFilePermissions`; a mode
    * with the sticky bit takes Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort & 0x1ff
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 .. bit 0
      PosixFilePermission.values.foreach { b =>
        if (((mode >> (8 - b.ordinal)) & 1) != 0) bits.add(b)
      }
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, bits); () }
      catch { case e: NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage) }
    }

  /** Hadoop's path forks `readlink` and, when it prints nothing (not a
    * symlink, or missing), returns `getFileStatus`; symlinks keep it.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file` [[org.apache.hadoop.fs.FileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext`'s raw `file` scheme: Hadoop's `RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s `file` scheme: Hadoop's `LocalFs` (checksummed)
  * over [[ForkFreeRawLocalFs]].
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
