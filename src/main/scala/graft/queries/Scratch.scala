package graft.queries

import graft.store.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A gate's scratch store: a fresh temp dir plus the warehouse tables
  * the gate names. The body's result comes back detached as a local
  * relation, so it reads nothing the cleanup removes; then the tables
  * are dropped and the dir deleted, also when the body throws — no
  * Verify run or Bench round leaves a store behind. The tables are
  * dropped before the body too, in case a killed run left them. */
private[queries] object Scratch {
  def apply(s: SparkSession, prefix: String, tables: String*)(
      body: String => DataFrame): DataFrame = {
    def drop(): Unit = tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try { drop(); local(body(dir)) }
    finally { drop(); Fs.deleteRecursively(s, dir) }
  }

  /** `df` collected into a local relation, one collect job: gate results
    * and leg pages are small, and a pinned leg page stays what it was
    * across the fixture's later mutations */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** micro-batches a stream's checkpoint at `ck` committed offsets for */
  def offsetBatches(s: SparkSession, ck: String): Int = {
    val offsets = new org.apache.hadoop.fs.Path(s"$ck/offsets")
    val fs = Fs.of(s, ck)
    if (!fs.exists(offsets)) 0
    else fs.listStatus(offsets).map(_.getPath.getName)
      .count(f => !f.endsWith(".tmp") && !f.startsWith("."))
  }
}
