package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without its per-file forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` in a child
  * process for every file and directory it creates, `readlink` for
  * every `getFileLinkStatus` (each `FileContext` rename asks for it) and
  * `ls -ld` for the permission of a status it returns. Measured on
  * ext4 (100 of each, 3 rounds): one create with its `.crc` in a new
  * directory took 15-22 ms (3 forks) and one `FileContext` rename
  * 43-44 ms; through these classes, after JIT warm-up, 0.2-0.4 ms and
  * 0.3-0.5 ms; plain `java.nio` doing the same file work 0.06-0.13 ms
  * and 0.04-0.07 ms.
  *
  * This class does those calls in-process and leaves everything else
  * (`.crc` sidecars, umask, rename) to Hadoop:
  *  - `setPermission` sets the nine mode bits with
  *    `Files.setPosixFilePermissions`. A mode above `0777` (the sticky
  *    bit) and any I/O error go to Hadoop's `chmod`, so they behave and
  *    fail exactly as before.
  *  - `getFileLinkStatus` is `getFileStatus` unless the path is a
  *    symbolic link; a link goes to Hadoop's own code.
  *  - `getFileStatus` and `listStatus` return [[NioFileStatus]].
  *
  * [[NioLocalFileSystem]] wraps it for the `FileSystem` API and
  * [[NioLocalFs]] for the `FileContext` API; `GraftSession.builder()`
  * names both for the `file` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]
      // enum order is OWNER_READ .. OTHERS_EXECUTE, i.e. bits 8 .. 0
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits): Unit
      catch { case _: IOException | _: UnsupportedOperationException =>
        super.setPermission(p, permission)
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def getFileStatus(f: Path): FileStatus =
    new NioFileStatus(super.getFileStatus(f))

  // a directory's entries already come through getFileStatus
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map {
      case s: NioFileStatus => s
      case s => new NioFileStatus(s)
    }
}

/** Hadoop's local `FileStatus` with its permission, owner and group
  * read on first use through `java.nio` — Hadoop's own loads them by
  * forking `ls -ld` on the canonical path (Spark's `listLocatedStatus`
  * asks for them). Like that, it follows symbolic links, and it keeps
  * the mode bits `FsPermission.valueOf` keeps from `ls`'s mode string
  * (`01777`). If the attributes cannot be read, `hadoop`'s own getters
  * answer. */
private final class NioFileStatus(hadoop: FileStatus) extends FileStatus(
    hadoop.getLen, hadoop.isDirectory, hadoop.getReplication,
    hadoop.getBlockSize, hadoop.getModificationTime, hadoop.getAccessTime,
    null, null, null, hadoop.getPath) {
  @transient private lazy val attrs: Option[java.util.Map[String, AnyRef]] =
    try Some(Files.readAttributes(new java.io.File(getPath.toUri).toPath,
      "unix:mode,owner,group"))
    catch { case _: IOException | _: UnsupportedOperationException => None }

  private def name(key: String): Option[String] =
    attrs.map(_.get(key).asInstanceOf[java.security.Principal].getName)

  override def getPermission: FsPermission = attrs.fold(hadoop.getPermission)(
    a => new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
  override def getOwner: String = name("owner").getOrElse(hadoop.getOwner)
  override def getGroup: String = name("group").getOrElse(hadoop.getGroup)
}

/** The checksummed `FileSystem` (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]: Spark's writers and commit protocol,
  * `KeyedTable`, `GroupCommit`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed `FileContext` filesystem
  * (`fs.AbstractFileSystem.file.impl`) over [[NioRawLocalFileSystem]]:
  * Spark's streaming checkpoint manager and state stores. Like Hadoop's
  * `LocalFs`, it ignores `uri` and serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[NioRawLocalFileSystem]]. That class cannot be subclassed (its
  * constructors are package-private), so its three overrides are
  * copied here. */
private[sources] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
