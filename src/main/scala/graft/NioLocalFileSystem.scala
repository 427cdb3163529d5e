package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file` scheme with `setPermission` and `getFileLinkStatus`
  * done in-process.
  *
  * Without libhadoop's `NativeIO`, `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every file and directory Hadoop creates: each
  * parquet part and its `.crc`, each committer directory. A cron cycle
  * of the three Ingest tables forks about a hundred of them, at ~2 ms
  * each from a multi-GB JVM; `Files.setPosixFilePermissions` sets the
  * same bits in microseconds. Hadoop's link status forks a `readlink`
  * per lookup, about 150 per streaming micro-batch through
  * `FileContext`; java.nio reads the same link. Reads, writes, checksums
  * and renames stay Hadoop's own `LocalFileSystem`.
  * [[GraftSession.tuned]] registers it, and [[NioLocalFs]] for the
  * `FileContext` API.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

/** The same raw layer behind the `FileContext` API, which Spark's
  * streaming checkpoints write through: Hadoop's `LocalFs` (a
  * checksummed `RawLocalFs`) with [[NioLocalFileSystem.Raw]] underneath.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFileSystem.RawFs(uri, conf))

object NioLocalFileSystem {

  /** `RawLocalFileSystem` that sets the nine rwx bits through java.nio.
    * A sticky bit, which java.nio cannot express, and a filesystem
    * without POSIX attributes take Hadoop's own path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

    /** Hadoop's own link status, with the link read through java.nio in
      * place of a forked `readlink`. Like Hadoop, it reads the link at
      * the path's string form, so a scheme-qualified path (`file:/…`,
      * what `FileContext` passes) is never reported as a link and its
      * status follows the link.
      */
    override def getFileLinkStatus(p: Path): FileStatus = {
      val link = new File(p.toString).toPath
      if (!Files.isSymbolicLink(link)) return getFileStatus(p)
      val target = new Path(Files.readSymbolicLink(link).toString)
      val st =
        try {
          val s = getFileStatus(p)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup,
            target, p)
        } catch {
          case _: FileNotFoundException => // a dangling link
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, p)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, target))
      st
    }
  }

  /** Hadoop's `RawLocalFs` over [[Raw]] (its own constructor is not
    * public and always builds a plain `RawLocalFileSystem`).
    */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "Hadoop 2.7")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  // OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 .. 0001, in that order
  private val rwx = PosixFilePermission.values.toSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    rwx.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) s.add(b) }
    s
  }
}
