package graft.connectors

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one directory-commit discipline every sink, publish and compaction
  * in the library shares, over Hadoop `FileSystem` — the same layer Spark
  * writes through, so a plain path, a `file:` URI or any other Hadoop
  * scheme lists and commits exactly what Spark wrote there.
  *
  * A directory is COMMITTED when it holds the `_SUCCESS` marker Spark's
  * output committer writes as its last step; anything without it is torn
  * or in flight and no reader may trust it. A directory is swapped in by
  * writing it under a staging name readers skip (`.` or `_` prefix), then
  * [[promote]]-renaming it into place — atomic on HDFS and local disks (on
  * an object store, where rename is a copy, a manifest pointer swap has to
  * replace it). The `FileSystem` comes from the path's scheme and the
  * active session's Hadoop configuration.
  */
object AtomicDir {

  private def fs(p: Path): FileSystem =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  /** The child directories of `root` whose names start with `prefix`; a
    * root that does not exist (nothing written yet) lists as empty. */
  def list(root: Path, prefix: String): Seq[Path] = {
    val f = fs(root)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
  }

  /** `dir` was fully written: its `_SUCCESS` marker is present. */
  def committed(dir: Path): Boolean = fs(dir).exists(new Path(dir, "_SUCCESS"))

  /** Rename `staging` to `target`. `target` must not exist: Hadoop `rename`
    * onto an existing directory would move `staging` INTO it. */
  def promote(staging: Path, target: Path): Unit = {
    val f = fs(target)
    require(!f.exists(target), s"promote target exists: $target")
    require(f.rename(staging, target), s"rename failed: $staging -> $target")
  }

  /** Delete `dir` and everything under it; a missing `dir` is a no-op. */
  def remove(dir: Path): Unit = { fs(dir).delete(dir, true); () }
}
