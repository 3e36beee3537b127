package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The engine keys its persisted layout stores under the fixed root
  * `/tmp/graft_layout`. The benchmark keeps every byte it writes inside
  * its own work directory, so it installs this local file system (see
  * `core-site.xml`) and maps that one root onto the directory named by
  * the `perfbench.layoutRoot` system property. Every other path, and the
  * behaviour of every call, is the stock local file system's. */
object LayoutFs {
  val EngineRoot = "/tmp/graft_layout"

  def root: Option[String] = sys.props.get("perfbench.layoutRoot")

  def redirect(f: File): File = root match {
    case Some(r) =>
      val p = f.getPath
      if (p == EngineRoot || p.startsWith(EngineRoot + "/"))
        new File(r + p.substring(EngineRoot.length))
      else f
    case None => f
  }
}

/** Statuses keep the path the caller asked for: Spark's file index
  * looks files up under the root path it listed. */
class LayoutRawLocalFs extends RawLocalFileSystem {
  override def pathToFile(path: Path): File = LayoutFs.redirect(super.pathToFile(path))

  private def callerPath(st: FileStatus): FileStatus = {
    LayoutFs.root.foreach { r =>
      val p = st.getPath.toUri.getPath
      if (p == r || p.startsWith(r + "/"))
        st.setPath(makeQualified(new Path(LayoutFs.EngineRoot + p.substring(r.length))))
    }
    st
  }

  override def getFileStatus(p: Path): FileStatus = callerPath(super.getFileStatus(p))
  override def getFileLinkStatus(p: Path): FileStatus = callerPath(super.getFileLinkStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(callerPath)
}

class LayoutLocalFs extends LocalFileSystem(new LayoutRawLocalFs)
