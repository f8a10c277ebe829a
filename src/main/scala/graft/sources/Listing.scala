package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One Hadoop FS listing of an input: the input itself when it is a file,
  * else every file below it (recursively, bookkeeping files included; the
  * local FS hides its `.crc` checksum files). It works on any Hadoop
  * filesystem and on `file:` URIs alike. `root` is fully qualified, and so
  * are the leaf paths listed below it, so the walk up from a leaf in
  * [[dataLeaves]] stops at it even when the input was named by a relative
  * path (otherwise it would escape the input and judge a hidden ancestor
  * such as a `.work` home component).
  */
final case class Listing(root: Path, isDirectory: Boolean, leaves: Vector[Listing.Leaf]) {

  /** The leaves that hold data: the input itself when it is a file; below a
    * directory, every leaf whose path under `root` has no component starting
    * with `_` or `.` (`_SUCCESS`, `.crc` files, `_spark_metadata/`, temp
    * dirs), sorted by path.
    */
  def dataLeaves: Vector[Listing.Leaf] =
    if (!isDirectory) leaves
    else leaves.filter { l =>
      Iterator.iterate(l.path)(_.getParent)
        .takeWhile(p => p != null && p != root)
        .forall { p => val n = p.getName; !n.startsWith("_") && !n.startsWith(".") }
    }.sortBy(_.path.toString)
}

object Listing {

  /** One file of a [[Listing]]. */
  final case class Leaf(path: Path, len: Long)

  /** The listing of `path`, or None when it names nothing (a missing path,
    * or a glob pattern — both left to the reader to report or expand). */
  def of(spark: SparkSession, path: String): Option[Listing] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st.map { s =>
      val root = fs.makeQualified(s.getPath)
      if (!s.isDirectory) Listing(root, isDirectory = false, Vector(Leaf(root, s.getLen)))
      else {
        // plain `listStatus`, not `listFiles`: on the local FS `listFiles`
        // builds a LocatedFileStatus per file, which loads the file's
        // permissions by forking a process — 7.5 s for 2,000 part files
        def walk(dir: Path): Iterator[Leaf] = fs.listStatus(dir).iterator.flatMap { f =>
          if (f.isDirectory) walk(f.getPath) else Iterator(Leaf(f.getPath, f.getLen))
        }
        Listing(root, isDirectory = true, walk(root).toVector)
      }
    }
  }
}
