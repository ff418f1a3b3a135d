package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table support — the 100 TB co-location strategy (SURVEY §4):
  * write both sides of a recurring equi-join bucketed (and sorted) on the
  * join key, and every subsequent join is a zero-shuffle sort-merge join —
  * each task zips bucket i with bucket i. The shuffle is paid ONCE at
  * write time instead of per query; for a frames/sketches/cards store
  * queried repeatedly by the same key (frame id, entity), that is the
  * difference between a per-query terabyte shuffle and none.
  *
  * Analogue in the reference: the fixed on-disk frame ordering + TOC that
  * lets every track resolve frame ids without re-sorting
  * (src/toc.rs:113-154).
  */
object Bucketing {

  /** write `df` as a parquet bucketed+sorted managed table. A leftover
    * warehouse directory from a PREVIOUS session's metastore (fresh derby,
    * old spark-warehouse) fails CREATE with LOCATION_ALREADY_EXISTS even
    * under overwrite — drop both the catalog entry and the stale location
    * first so the write is idempotent across JVMs. */
  def writeBucketed(df: DataFrame, tableName: String, nBuckets: Int,
                    keys: Seq[String],
                    partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    graft.store.Fs.deleteRecursively(spark,
      spark.conf.get("spark.sql.warehouse.dir") + "/" + tableName.toLowerCase)
    val w = df.write
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .format("parquet")
    // directory partitioning COMPOSES with bucketing: a scan predicate
    // on a partition column prunes whole directories before the
    // bucket-satisfied distribution even enters the plan
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .saveAsTable(tableName)
  }

  /** equi-join of two bucketed tables on their bucket keys — plans as a
    * shuffle-free sort-merge join when bucket specs match */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)

  /** number of shuffle exchanges in the executed plan (0 = co-located) */
  def shuffleExchangeCount(df: DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
}
