package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one filesystem layer for store, table and fixture paths: every
  * probe goes through the Hadoop `FileSystem` the path's scheme names, so
  * a `file:` URI, an hdfs/s3a path or a glob answers exactly like a plain
  * local path. ([[StoreLock]] resolves its own: the local hard-link
  * create needs the scheme check.) */
object Fs {
  /** the `FileSystem` that serves `p` */
  def of(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, p: String): Boolean =
    of(spark, p).exists(new Path(p))

  /** what a path or glob matches (empty when nothing does) */
  private def matches(fs: FileSystem, p: String): Seq[FileStatus] =
    Option(fs.globStatus(new Path(p))).toSeq.flatten

  /** total bytes of the files under a path or glob, recursively */
  def bytes(spark: SparkSession, p: String): Long = {
    val fs = of(spark, p)
    matches(fs, p).map(st => fs.getContentSummary(st.getPath).getLength).sum
  }

  /** freshness stamp of a path or glob: each match's name, mtime and
    * length, and a directory's children's — a file rewritten in place or
    * a directory rewritten with new part files changes it. None when
    * nothing matches (a missing path cannot be stamped). */
  def stamp(spark: SparkSession, p: String): Option[String] = {
    val fs = of(spark, p)
    def one(st: FileStatus) =
      s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}"
    Some(matches(fs, p)).filter(_.nonEmpty).map(_.map { st =>
      if (!st.isDirectory) one(st)
      else (one(st) +: fs.listStatus(st.getPath).map(one).sorted).mkString(",")
    }.mkString(";"))
  }

  def deleteRecursively(spark: SparkSession, p: String): Unit =
    of(spark, p).delete(new Path(p), true): Unit
}
