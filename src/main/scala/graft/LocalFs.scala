package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` FileSystem: Hadoop's checksummed
  * `LocalFileSystem` over a raw local filesystem that sets permissions
  * without starting a process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod`
  * for every file create and mkdir, on the micro-batch and staging-write
  * critical path. [[LocalFs.Raw]] sets the same nine mode bits through
  * java.nio instead. Two cases keep Hadoop's forked `chmod`, because
  * nio cannot express them: a requested sticky bit, and a target that
  * carries a setuid or setgid bit (`chmod` keeps a directory's setgid
  * bit, a nio chmod clears it). A missing path throws an IOException,
  * as the forked `chmod` does.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val path = pathToFile(p).toPath
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      // 0xc00 = setuid 04000 | setgid 02000. Without a sticky bit,
      // toString is the nine-letter `rwxr-x---` form nio parses.
      if (perm.getStickyBit || (mode & 0xc00) != 0) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(perm.toString))
    }
  }
}
