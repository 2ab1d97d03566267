package graft.util

import java.nio.file.Files
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without forked processes. When libhadoop is
  * absent, `RawLocalFileSystem` forks a `chmod` for every `setPermission`
  * (each directory and file an output committer creates, checksum files
  * included: 8 forks per parquet append) and an `ls -ld` the first time a
  * status's permission, owner or group is read (every entry a `listFiles`
  * returns). This one does both in process through java.nio, as Hadoop's
  * `NativeIO` does when the library is present: a chmod, and a stat read
  * lazily on first use. `GraftSession.builder` binds it as `fs.file.impl`.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))
      ()
    }

    override def getFileStatus(f: Path): FileStatus = lazily(super.getFileStatus(f))

    // a directory's entries already come through getFileStatus
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(lazily)

    private def lazily(st: FileStatus): FileStatus = st match {
      case s: Status => s
      case s => new Status(s, pathToFile(s.getPath).toPath)
    }
  }

  /** `st` with its permission, owner and group read from `file` on first
    * use; its other fields are the ones RawLocalFileSystem read. */
  private final class Status(st: FileStatus, file: java.nio.file.Path) extends FileStatus(
      st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, null, null, st.getPath) {
    @volatile private var loaded = false

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val a = Files.readAttributes(file, "unix:mode,owner,group")
        // permission bits and the sticky bit, as `ls -ld` parses them
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
