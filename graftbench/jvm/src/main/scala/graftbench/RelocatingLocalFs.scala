package graftbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Local file system that stores the program's `/tmp/graft_*` tables
  * inside the benchmark's run directory instead.
  *
  * The program writes its substrate tables and staged dedup rounds to
  * fixed `/tmp/graft_*` paths. `core-site.xml` on the benchmark's class
  * path installs this class as `fs.file.impl`, so those bytes land under
  * the directory named by the `graftbench.tmp` system property: a run
  * reads and writes only inside its checkout, and `stored_mb` can measure
  * them. Paths keep their `/tmp/graft_...` names in the program's view;
  * only the backing file moves. Every other path is left alone.
  */
class RelocatingRawLocalFs extends RawLocalFileSystem {
  import RelocatingLocalFs.{Prefix, root}

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    val p = f.getPath
    if (root != null && p.startsWith(Prefix)) new File(root + p.substring("/tmp".length))
    else f
  }

  // statuses are built from the backing file; give them back their
  // `/tmp/graft_...` names so listings stay under the path that was listed
  private def logical(st: FileStatus): FileStatus = {
    val p = st.getPath.toUri.getPath
    if (root != null && p.startsWith(root + "/graft_"))
      st.setPath(makeQualified(new Path("/tmp" + p.substring(root.length))))
    st
  }

  override def getFileStatus(f: Path): FileStatus = logical(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = logical(super.getFileLinkStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(logical)
}

class RelocatingLocalFs extends LocalFileSystem(new RelocatingRawLocalFs)

object RelocatingLocalFs {
  val Prefix = "/tmp/graft_"
  /** Directory that stands in for `/tmp` for the relocated paths. */
  val root: String = System.getProperty("graftbench.tmp")
}
