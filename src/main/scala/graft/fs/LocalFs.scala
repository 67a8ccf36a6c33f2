package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without a process per file.
  *
  * Spark ships no `libhadoop`, and without it Hadoop's
  * `RawLocalFileSystem` forks `chmod` for every `create` and `mkdirs`
  * (`setPermission`) and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both of its paths. A streaming query's
  * offset and commit logs, the epoch ledger's markers and every parquet
  * part file pay those forks, a few milliseconds each.
  *
  * [[ForkFreeRawLocalFileSystem]] overrides only those two calls, through
  * `java.nio.file`; checksums, renames and every other call are Hadoop's
  * own. `src/main/resources/core-site.xml` registers the two wrappers
  * below as `fs.file.impl` (the `FileSystem` API) and
  * `fs.AbstractFileSystem.file.impl` (the `FileContext` API), so every
  * Hadoop `Configuration` in the JVM picks them up; a deployment
  * `core-site.xml` earlier on the classpath wins over this one.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits as `chmod`, set in-process. Bits outside 0777
    * (sticky, setuid, setgid) and stores without POSIX permissions go to
    * the forking parent.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE are bits 8 .. 0 in declaration order
      PosixFilePermission.values.foreach { b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A non-link's status is its `getFileStatus`, exactly as the parent's
    * `readlink` path returns it (`FileNotFoundException` for a missing
    * path included); only real links go to the parent.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` twin of Hadoop's `RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]]: no default port, local server
  * defaults, and no name validation (the OS validates).
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("overrides a deprecated AbstractFileSystem method", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` local
  * file system over [[ForkFreeRawLocalFs]], as Hadoop's `LocalFs` is over
  * `RawLocalFs`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
