package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.util.control.NonFatal

/** Hadoop's raw local file system with its two process spawns answered
  * in-JVM.
  *
  * Without libhadoop (`NativeIO.isAvailable` false — Spark's binary
  * distribution ships none) `RawLocalFileSystem` forks a process for
  * two calls that every local commit makes:
  *
  *  - `setPermission` runs `chmod` (every FileContext create, every
  *    `mkdirs` with a permission);
  *  - `getFileLinkStatus` runs `readlink` through `FileUtil.readLink`
  *    (every FileContext rename).
  *
  * Measured in a Spark driver JVM (4 GB heap, 4-core host), a forking
  * call costs 4.2–4.8 ms against 0.006–0.035 ms for the java.nio one,
  * and a streaming gate's state-store commits make hundreds. Both
  * overrides return what Hadoop's own method returns and hand every
  * case java.nio cannot reproduce back to it.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` through `Files.setPosixFilePermissions` (which, like
    * `chmod`, follows symlinks). Hadoop's method takes over when the
    * mode has the sticky bit (NIO cannot express it), when the target
    * is a directory with setuid/setgid (`chmod` with a 4-digit octal
    * mode keeps those bits on a directory, NIO clears them), and on any
    * error, so a failure reads exactly as Hadoop's.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & Sticky) != 0 || !nioChmod(pathToFile(p), mode))
      super.setPermission(p, permission)
  }

  /** Hadoop asks `readlink <f.toString>`, and for a `file:/…` path that
    * string names a relative path under the working directory, so the
    * answer is almost always "not a link". When `lstat` of that same
    * string agrees, the result is `getFileStatus(f)`, which is what
    * Hadoop returns for a non-link (missing paths throw
    * `FileNotFoundException` from it, as they do in Hadoop); when it is
    * a link, Hadoop's method runs unchanged. This mirrors Hadoop's
    * default branch; `RawLocalFileSystem.useStatIfAvailable` is a test
    * hook that switches Hadoop to a `stat` fork instead.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (readlinkFindsLink(f)) super.getFileLinkStatus(f) else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // Mode bits, as octal 01000, 06000, 0170000 and 0040000.
  private val Sticky = 0x200
  private val SetId = 0xc00
  private val FileType = 0xf000
  private val Directory = 0x4000

  /** Applies the 9 permission bits of `mode` with java.nio; false when
    * Hadoop's `chmod` must decide instead.
    */
  private def nioChmod(file: File, mode: Int): Boolean =
    try {
      val path = file.toPath
      val current = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val keepsSetId = (current & FileType) == Directory && (current & SetId) != 0
      !keepsSetId && {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission is declared owner r,w,x … others r,w,x:
        // ordinal i is octal bit 0400 >> i.
        PosixFilePermission.values.foreach(q => if ((mode & (0x100 >> q.ordinal)) != 0) perms.add(q))
        Files.setPosixFilePermissions(path, perms)
        true
      }
    } catch { case NonFatal(_) => false }

  /** Whether `readlink <f.toString>` would print a target: the same
    * string, resolved against the same working directory, is a link.
    */
  private def readlinkFindsLink(f: Path): Boolean =
    try Files.isSymbolicLink(new File(f.toString).toPath)
    catch { case _: InvalidPathException => false }
}

/** The `file:` FileSystem the engine's posture installs
  * (`fs.file.impl`): Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. It must be a `LocalFileSystem`, because
  * `FileSystem.getLocal` casts to it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext side (`fs.AbstractFileSystem.file.impl`), mirroring
  * Hadoop's `RawLocalFs`, whose constructors are package-private.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed FileContext file system over [[NioRawLocalFs]],
  * mirroring Hadoop's `LocalFs` (which also ignores the URI it is given).
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
