package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two forking primitives done in the JVM.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod` for
  * every file or directory it creates with a permission, and `readlink` for
  * every link-status lookup, which `AbstractFileSystem.renameInternal` makes
  * twice per `FileContext` rename. Every streaming checkpoint write pays both:
  * the offset WAL, the commit log, each state-store delta and checksum file,
  * and each `.crc` sidecar. This subclass sets the same mode bits through
  * `java.nio` and reads links with `Files.readSymbolicLink`; everything else,
  * results included, is `RawLocalFileSystem`'s.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  /** `chmod` with the 4-digit octal mode Hadoop passes. Sticky, setuid and
    * setgid bits go to `super`: NIO cannot set them, and GNU `chmod` keeps a
    * directory's setuid/setgid bits under such a mode where NIO would clear
    * them.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val path = pathToFile(p).toPath
    if ((mode & ~ModeBits) != 0 || specialDirectory(path))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posixPermissions(mode))
  }

  /** As `RawLocalFileSystem`: the link is read at `new File(f.toString)`, so
    * a scheme-qualified path never reads as a link, and a dangling link gets
    * a zero-length status that carries its target.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val status = linkStatus(f)
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri,
        status.getPath, status.getSymlink))
    status
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString).toPath)
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case e: java.io.FileNotFoundException =>
        if (target.isEmpty) throw e
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object ForkFreeRawLocalFileSystem {
  // PosixFilePermission's ordinals run OWNER_READ (bit 8) to OTHERS_EXECUTE
  // (bit 0)
  private def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (p <- PosixFilePermission.values if (mode & (1 << (8 - p.ordinal))) != 0)
      set.add(p)
    set
  }

  private val ModeBits = 0x1ff  // 0777
  private val SetUidGid = 0xc00 // 06000
  private val DirType = 0x4000  // S_IFDIR
  private val TypeMask = 0xf000 // S_IFMT

  /** A directory that carries setuid or setgid, which GNU `chmod` keeps. */
  private def specialDirectory(path: NioPath): Boolean =
    try {
      val m = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      (m & TypeMask) == DirType && (m & SetUidGid) != 0
    } catch {
      // no unix view on this platform: let `super` decide
      case _: UnsupportedOperationException | _: IllegalArgumentException => true
    }

  /** `readlink`'s output, trimmed as `FileUtil.readLink` trims it: the raw
    * target of a link, "" for anything else.
    */
  private def readLink(path: NioPath): String =
    try {
      if (Files.isSymbolicLink(path)) Files.readSymbolicLink(path).toString.trim
      else ""
    } catch { case _: java.io.IOException => "" }
}

/** `fs.file.impl`: the checksummed local `FileSystem`, so `.crc` sidecars are
  * still written and verified, over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side of [[ForkFreeRawLocalFileSystem]], as Hadoop's
  * `RawLocalFs` is of `RawLocalFileSystem`.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed like Hadoop's `LocalFs`.
  * `FileContext`, and so Spark's checkpoint file manager, resolves `file:`
  * through this class.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
