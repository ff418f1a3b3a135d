package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every reader is a plain `spark.read.parquet` so Catalyst keeps full
  * pushdown freedom (column pruning + predicate pushdown reach the scan).
  * At 100 TB these would be partitioned/bucketed tables behind a catalog;
  * the call sites below never assume single-file layout.
  */
object Tables {
  /** Schema cache per file path (r19): a bare `spark.read.parquet` runs a
    * 1-task schema-inference JOB per call, and the registry opens these
    * immutable driver fixtures hundreds of times per bench/verify run —
    * infer once, then pass the schema explicitly (same footer, same
    * types; pushdown freedom unchanged). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.F.ensureRegistered(spark)
    val p = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, p)).parquet(p)
  }

  /** stamp-cache-served schema of a parquet file, dir or glob — shared
    * by the streaming drains, which pay the same footer-inference job per
    * readStream otherwise (r20). The key is [[graft.store.Fs.stamp]]: a
    * regenerated fixture at the same path invalidates the cached schema
    * (ADVICE r19: a path-only key silently served stale schemas), and an
    * unstampable path (missing, or a glob with no match) is never cached. */
  def schemaOf(spark: SparkSession, p: String): org.apache.spark.sql.types.StructType = {
    val st = graft.store.Fs.stamp(spark, p)
    Option(schemaCache.get(p)) match {
      case Some((cached, s)) if st.contains(cached) => s
      case _ =>
        val s = spark.read.parquet(p).schema
        if (schemaCache.size > 256) schemaCache.clear() // bound (ADVICE r19)
        st.foreach(k => schemaCache.put(p, (k, s)))
        s
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet stores `ts` as INT64 TIMESTAMP(NANOS) which Spark's
    * parquet reader rejects; sessions set spark.sql.legacy.parquet.nanosAsLong
    * so it arrives as a Long, normalized here to a proper TimestampType.
    * `div` (integer division) is load-bearing: ns epochs exceed 2^53 and a
    * double-valued `/` would silently lose microseconds.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
