package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system (`fs.file.impl`) of the harness JVM, with
  * one change: graft's gates keep their scratch output under fixed
  * paths `/tmp/graft-*`, and this maps those paths into the directory
  * named by the `perfbench.scratch` system property, so a run writes
  * only inside its checkout. Every client still maps a gate to the
  * same path, so clients share scratch output exactly as they would
  * under `/tmp`.
  */
final class ScratchLocalFs extends LocalFileSystem(new ScratchLocalFs.Raw)

object ScratchLocalFs {
  final class Raw extends RawLocalFileSystem {
    private lazy val root = Option(System.getProperty("perfbench.scratch")).map(new File(_).getAbsolutePath)

    override def pathToFile(path: Path): File = {
      val f = super.pathToFile(path)
      root match {
        case Some(r) if f.getPath.startsWith("/tmp/graft-") => new File(r, f.getPath.stripPrefix("/tmp/"))
        case _ => f
      }
    }

    // Statuses carry the path the caller asked for, not the mapped one:
    // Spark's file index looks a directory's files up by its own path.
    override def getFileStatus(f: Path): FileStatus = unmap(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(unmap)

    private def unmap(s: FileStatus): FileStatus = {
      val p = s.getPath.toUri.getPath
      root match {
        case Some(r) if p.startsWith(r + "/graft-") =>
          new Renamed(s, new Path("file", null, "/tmp/" + p.stripPrefix(r + "/")))
        case _ => s
      }
    }
  }

  /** `s` under another path. Permission and owner are read from `s`
    * when asked for, as the local file system's own statuses do. */
  final class Renamed(s: FileStatus, p: Path)
      extends FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
        s.getModificationTime, p) {
    override def getAccessTime: Long = s.getAccessTime
    override def getPermission = s.getPermission
    override def getOwner: String = s.getOwner
    override def getGroup: String = s.getGroup
  }
}
