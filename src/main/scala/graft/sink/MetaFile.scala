package graft.sink

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small metadata files — manifests, `_LATEST`, `_BASE_VERSION` markers:
  * read whole, published atomically. */
private[sink] object MetaFile {

  /** Text of `p`; None when it does not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Publish `text` at `p` atomically: write a tmp file (overwriting one a
    * crash left), delete a stale destination, rename. Rename results are
    * checked: on HDFS a rename onto an existing destination returns false
    * instead of overwriting (a replayed commit hits this), so the stale
    * destination goes first and a false return is an error, never
    * silence. A reader sees the old text, no file, or the new text —
    * never a partial one. */
  def publish(fs: FileSystem, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"failed to publish $p")
  }
}

/** The `_BASE_VERSION` marker under `dir` of a target derived from a base
  * [[ParquetTarget]] ([[ValueIndex]], [[BloomIndex]], [[JoinView]]): the
  * last base version the derived target has applied. */
private[sink] final class BaseVersionMarker(spark: SparkSession, dir: String) {
  private val path = new Path(new Path(dir), "_BASE_VERSION")
  private def fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def get: Option[Long] = MetaFile.read(fs, path).map(_.trim.toLong)
  def set(v: Long): Unit = MetaFile.publish(fs, path, v.toString)
}
