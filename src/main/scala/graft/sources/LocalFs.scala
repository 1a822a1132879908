package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its per-file shell-outs. Without the
  * native Hadoop library (`NativeCodeLoader` warns at start-up),
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both ends. A streaming checkpoint commit
  * is a create-temp-then-rename of a few small files (offsets, commits,
  * state deltas, their checksum and `.crc` files), so those processes, not
  * the bytes, are what a bounded replay's micro-batches wait on.
  *
  * The overrides below make the same system calls in-process; everything
  * else, including written bytes and checksums, is Hadoop's.
  * `core-site.xml` installs the checksummed wrappers below for `file:`
  * URIs, so every `Configuration` in the JVM picks them up. */
class LocalFs extends RawLocalFileSystem {

  /** `chmod` with an octal mode, as `chmod(2)`: it follows symlinks, and
    * like GNU chmod it keeps a directory's set-user/group-ID bits. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val keep =
      if (Files.isDirectory(file)) Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & LocalFs.SetId
      else 0
    Files.setAttribute(file, "unix:mode", Int.box(keep | (permission.toShort & LocalFs.ModeBits)))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, step for step, with
    * `FileUtil.readLink`'s `readlink` process replaced by
    * `Files.readSymbolicLink` on the same `File` argument. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: Exception => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object LocalFs {
  private val ModeBits = Integer.parseInt("1777", 8)
  private val SetId = Integer.parseInt("6000", 8)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[LocalFs]]. */
class ChecksumLocalFs extends LocalFileSystem(new LocalFs)

/** Hadoop's `RawLocalFs` (the `AbstractFileSystem` behind `FileContext`)
  * over [[LocalFs]]. */
class RawLocalAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new LocalFs, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs`
  * (writes `.crc` files, verifies them on read) over [[RawLocalAfs]]. */
class ChecksumLocalAfs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalAfs(uri, conf))
