package graft.load

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{FileTime, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the shell-outs. Without
  * `libhadoop` (no NativeIO), `RawLocalFileSystem` forks `chmod` for
  * every `setPermission` (so for every file `create` and `mkdirs`
  * makes), `readlink` for every `getFileLinkStatus`, and `ls -ld` the
  * first time a status's permission, owner or group is read — about
  * 7 ms each, several per commit-log write. This class answers those
  * calls from `java.nio` and leaves every other method to Hadoop.
  *
  * The answers are the stock ones, field for field (`NioLocalFsSpec`
  * pins them against the stock classes): a status follows symlinks, as
  * `java.io.File` and Hadoop's `ls -ld` of the canonical path do, and
  * its mode keeps the sticky bit and drops setuid/setgid, as
  * `FsPermission.valueOf` does. Where nio cannot do what `chmod` does —
  * a sticky permission, or a target already carrying setuid/setgid
  * bits, which chmod's numeric mode keeps on directories — and on
  * platforms without the `unix` attribute view, the call goes to
  * Hadoop's forking implementation. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    // one stat, following symlinks as java.io.File and `ls -ld` on the
    // canonical path do; `null` where the platform has no `unix` view
    val a: java.util.Map[String, AnyRef] =
      try Files.readAttributes(file.toPath, "unix:mode,owner,group,size," +
        "lastModifiedTime,lastAccessTime,isDirectory")
      catch {
        case _: FileSystemException =>
          throw new FileNotFoundException(s"File $f does not exist")
        case _: UnsupportedOperationException => null
      }
    if (a == null) return super.getFileStatus(f)
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[java.security.Principal].getName
    // 0x3ff = 01777: rwx for user, group and other plus the sticky bit
    new FileStatus(a.get("size").asInstanceOf[Long],
      a.get("isDirectory") == java.lang.Boolean.TRUE, 1,
      getDefaultBlockSize(f),
      millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      name("owner"), name("group"),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A directory's entries already come from [[getFileStatus]]; only
    * the listing of a single file builds Hadoop's lazy status. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.exists && !file.isDirectory) Array(getFileStatus(f))
    else super.listStatus(f)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode =
      try Some(Files.getAttribute(path, "unix:mode").asInstanceOf[Int])
      catch { case _: UnsupportedOperationException => None }
    // 0xc00 = 06000, the setuid and setgid bits
    if (permission.getStickyBit || mode.forall(m => (m & 0xc00) != 0))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's link status with `Files.readSymbolicLink` in place of
    * `readlink`, which it runs on the path's string form — so, as in
    * Hadoop, a scheme-qualified path never reads as a link. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException | _: UnsupportedOperationException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
    } catch { case _: FileNotFoundException if target.nonEmpty =>
      new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
        new Path(target), f)
    }
  }
}

/** graft's checksummed `file:` FileSystem (`fs.file.impl`): Hadoop's
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** graft's checksummed `file:` AbstractFileSystem
  * (`fs.AbstractFileSystem.file.impl`, the `FileContext` side:
  * commit-log renames, streaming checkpoints): Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]]. Like `LocalFs` it ignores `uri` and
  * serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]:
  * the same overrides (symlinks and their qualified targets come from
  * the delegate). */
private[load] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
