package graft.streaming

import graft.functions.F
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest — the reference's WAL/instant-index model mapped onto
  * Structured Streaming (SURVEY §2.9): the WAL is the micro-batch source,
  * `commit` is the epoch, checkpointing is the stream checkpoint (ST1);
  * frames are searchable as soon as the raw append lands, while enrichment
  * (sketches, cards, embeddings) runs as a second incremental stage keyed
  * by an enrichment log (ST2/ST5 — EnrichmentManifest::needs_enrichment,
  * src/types/memories_track.rs:147-232, becomes an anti-join).
  */
object StreamingIngest {

  /** Stage 1 — instant index: text files appearing under `inputDir` become
    * searchable frame rows in `framesDir` within one micro-batch. */
  def ingestFiles(spark: SparkSession, inputDir: String, framesDir: String,
                  checkpointDir: String): StreamingQuery = {
    val raw = spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", 64)
      .load(inputDir)
      .withColumn("uri", input_file_name())
      .withColumn("text", col("value"))
      .withColumn("ingestTs", current_timestamp())
      .drop("value")
    raw.writeStream
      .format("parquet")
      .option("path", framesDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Failure-injection hook for the restart-recovery gate: while armed
    * with a uri fragment, [[poisonCheck]] throws when it processes a
    * matching row, killing the stream mid-drain exactly once. In-process
    * only (local master shares the JVM, so executors see the flag) —
    * it is a correctness-harness control, not a production feature. */
  @volatile var poisonUri: Option[String] = None

  /** passthrough of the text column that detonates on the armed uri */
  def poisonCheck: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((uri: String, text: String) => {
      poisonUri match {
        case Some(p) if uri != null && uri.contains(p) =>
          throw new RuntimeException(s"injected crash at $p")
        case _ => text
      }
    })

  /** Stage 2 — incremental enrichment: frames not yet in the enrichment log
    * get sketches (tokens/simhash-ready hashes) appended; idempotent via
    * left-anti join, exactly the manifest check of the reference. */
  def enrichIncrement(spark: SparkSession, framesDir: String,
                      sketchesDir: String, logDir: String): Long = {
    F.ensureRegistered(spark)
    val frames = spark.read.parquet(framesDir)
    val done: DataFrame =
      if (graft.store.Fs.exists(spark, logDir)) spark.read.parquet(logDir)
      else spark.emptyDataFrame.withColumn("uri", lit(""))
    val todo = if (done.columns.contains("uri"))
      frames.join(done.select("uri"), Seq("uri"), "left_anti") else frames
    val n = todo.count()
    if (n > 0) {
      todo.select(col("uri"),
          F.tokens(col("text")).as("tokens"),
          F.polyHash(col("text")).as("contentHash"))
        .write.mode("append").parquet(sketchesDir)
      todo.select("uri").write.mode("append").parquet(logDir)
    }
    n
  }

  /** Streaming exact dedup: drop payloads whose content hash was already
    * seen, with a watermark bounding the dedup state — the streaming form
    * of the ingest dedup short-circuit (mutation.rs:3300-3316). */
  def dedupStream(frames: DataFrame, tsCol: String, textCol: String,
                  watermark: String): DataFrame = {
    F.ensureRegistered(frames.sparkSession)
    frames
      .withColumn("contentHash", F.polyHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("contentHash")
  }

  /** Stream-stream interval join — the streaming form of the temporal
    * overlap join (F6): correlate two event streams on a key where the
    * right event lands within `within` after the left event. Both sides
    * carry watermarks so Spark can bound the join state (left rows are
    * dropped once the right watermark passes their ts + within).
    */
  def correlateStreams(left: DataFrame, leftTs: String,
                       right: DataFrame, rightTs: String,
                       key: String, within: String,
                       watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs AND " +
      s"r.$rightTs <= l.$leftTs + interval $within"))
  }

  /** Scoped shuffle-partition override for the one-shot drains: a
    * Structured Streaming query fixes its STATE-STORE partition count
    * from the session conf at start(), and the drains' state is bounded
    * (windowed counts / one interval join over one directory), so 32
    * state stores are pure per-micro-batch overhead. Results are
    * order-free aggregates/joins — partitioning cannot change values.
    * The conf is restored in finally so batch queries are untouched. */
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** SCALE-ADAPTIVE state-partition count for a one-shot drain (r20,
    * guide §2.7 — derive partitioning from input size, not a constant):
    * every state partition pays fixed per-micro-batch cost (HDFS-backed
    * store open + delta file + commit), so the count should amortize over
    * real state. One partition per `spark.graft.stream.bytesPerStatePartition`
    * (default 64 MB) of input, clamped to [1, session shuffle partitions]
    * — a few-MB fixture drains through 1 store instead of 8, a TB-scale
    * directory still fans out to the full session width. Values are
    * unaffected: the drains' aggregates/joins are partitioning-free. */
  private[graft] def drainPartitions(spark: SparkSession, dir: String,
                                     glob: String): Int = {
    val bytes = graft.store.Fs.bytes(spark, s"$dir/$glob")
    val per = spark.conf.getOption("spark.graft.stream.bytesPerStatePartition")
      .map(_.toLong).getOrElse(64L << 20)
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(cap, math.ceil(bytes.toDouble / per).toInt))
  }

  /** One-shot STREAMING aggregation over a static parquet directory: the
    * same windowed count runs as a genuine Structured Streaming query
    * (readStream → watermark → window agg → memory sink, complete mode,
    * Trigger.AvailableNow) and the final result comes back as a batch
    * DataFrame — which is what lets a streaming plan face the DuckDB
    * oracle hash-exactly (`stream_windowed_counts`). With AvailableNow the
    * stream drains everything and stops, so the complete-mode table equals
    * the batch aggregate by Structured Streaming's own correctness
    * contract — the gate PROVES it per value. The value sum is the e4
    * fixed-point BIGINT (order-free) like every money aggregate here.
    */
  def runWindowedOnce(spark: SparkSession, dir: String, glob: String,
                      windowDur: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val schema = graft.Tables.schemaOf(spark, s"$dir/$glob")
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir)
    val ev =
      if (schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw.withColumn("ts", col("ts").cast("timestamp"))
    val agg = ev
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          * 10000).cast("long")).as("value_e4"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_e4"))
    val name = "graft_stream_gate_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val out = withShufflePartitions(spark, drainPartitions(spark, dir, glob)) {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).localCheckpoint()
    }
    // The checkpoint detached the result from the memory sink; drop the
    // uniquely-named temp view so repeated Verify/bench rounds in one
    // long-lived session don't accumulate complete-mode tables on the
    // driver.
    spark.catalog.dropTempView(name)
    out
  }

  /** One-shot STREAMING stream-stream interval join over a static parquet
    * directory (the [[runWindowedOnce]] pattern applied to
    * [[correlateStreams]]): both sides read from the same file stream,
    * carry watermarks so the join state is bounded, and AvailableNow
    * drains everything — the append-mode result equals the batch interval
    * join by Structured Streaming's correctness contract, which the
    * `stream_interval_join` gate proves per value against DuckDB. */
  def runCorrelateOnce(spark: SparkSession, dir: String, glob: String,
                       leftType: String, rightType: String,
                       within: String, watermark: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val schema = graft.Tables.schemaOf(spark, s"$dir/$glob")
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir)
    val ev =
      if (schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw.withColumn("ts", col("ts").cast("timestamp"))
    val l = ev.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("lts"))
    val r = ev.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id"), col("ts").as("rts"))
    val joined = correlateStreams(l, "lts", r, "rts", "user_id", within,
        watermark)
      .select(col("l_id"), col("r_id"), col("l.user_id").as("user_id"),
        col("lts"), col("rts"))
    val name = "graft_stream_join_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val out = withShufflePartitions(spark, drainPartitions(spark, dir, glob)) {
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).localCheckpoint()
    }
    spark.catalog.dropTempView(name) // same driver-hygiene as runWindowedOnce
    out
  }

  /** One-shot STREAMING exact-dedup drain over a static parquet directory
    * (the [[runWindowedOnce]] pattern applied to [[dedupStream]]): the
    * first-seen row per content hash survives, watermark bounds the dedup
    * state, AvailableNow drains everything. Row CHOICE within a hash
    * group is batch-order-dependent, so the caller should project only
    * hash-determined columns (the `stream_dedup_drain` gate projects the
    * hash itself) — that projection is exactly the batch DISTINCT, which
    * the DuckDB oracle replays. `tsFromIdCol` synthesizes an event-time
    * column from a numeric id so the watermark path is exercised even on
    * tables without timestamps. */
  def runDedupOnce(spark: SparkSession, dir: String, glob: String,
                   textCol: String, tsFromIdCol: String): DataFrame = {
    F.ensureRegistered(spark)
    val schema = graft.Tables.schemaOf(spark, s"$dir/$glob")
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir)
    val ev = raw.withColumn("__ts", timestamp_micros(
      lit(1700000000000000L) + (col(tsFromIdCol) % 1000) * 1000000L))
    val dd = dedupStream(ev, "__ts", textCol, "1 hour")
      .select(col("contentHash"))
    val name = "graft_stream_dedup_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val out = withShufflePartitions(spark, drainPartitions(spark, dir, glob)) {
      val q = dd.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).localCheckpoint()
    }
    spark.catalog.dropTempView(name) // same driver-hygiene as runWindowedOnce
    out
  }

  /** Streaming maintenance of the PERSISTED lexical index — the
    * reference's instant index updates Tantivy WITHIN the frame commit
    * (src/memvid/search/builders.rs:12-44: new frames join the index as
    * they land, a merge is bookkeeping); here every micro-batch's docs
    * are tokenized and appended into the bucketed
    * [[graft.search.Bm25Index]] postings table via foreachBatch, so the
    * durable index tracks the stream batch-by-batch with |batch|-sized
    * work — no rebuild, no corpus re-scan, and scoring stays
    * exchange-free after any number of batches.
    *
    * Idempotence is the enrichment-manifest pattern ([[enrichIncrement]]
    * / EnrichmentManifest::needs_enrichment): each batch anti-joins its
    * doc ids against the index's own doc_id set before appending, so a
    * replayed micro-batch (foreachBatch is at-least-once on restart)
    * re-appends NOTHING — and the guard is cheap at any scale because a
    * doc_id-distinct over a doc_id-bucketed table plans without a
    * data-sized exchange. Delta-file accumulation across many batches is
    * [[graft.search.Bm25Index.compact]]'s job.
    *
    * @param toDocs maps the raw file-stream batch (uri, text) to
    *               (doc_id, text) rows — id minting is the caller's
    *               contract, same as [[graft.search.Bm25Index.write]]
    * @param trackCol when the maintained table is track-PARTITIONED,
    *               the doc column `toDocs` emits that routes each delta
    *               row into its partition directory (the steady-state
    *               form of the round-17 tracked layout: every trigger
    *               appends one file per touched (partition, bucket),
    *               and [[graft.search.Bm25Index.compact]] folds the
    *               debt back — SCALE.md round-18 carries the 20-trigger
    *               flatness measurement) */
  /** @param compactFileBudget opt-in ADAPTIVE COMPACTION (the reference's
    *        continuous Tantivy merge policy folds small segments as it
    *        ingests, src/search/tantivy/engine.rs — without it each
    *        trigger's append leaves files per bucket forever and
    *        scan-open cost creeps, the sawtooth SCALE.md r18 §2 bounded
    *        with MANUAL compacts): after each batch's append, when the
    *        table's data-file count exceeds the budget (the doctor's
    *        `bm25_file_debt` signal, measured with the same
    *        [[graft.search.Bm25Index.dataFileCount]] probe), the batch
    *        runs [[graft.search.Bm25Index.compact]] inline — value-
    *        neutral by the compact gate, so the steady-state loop is
    *        self-contained with a bounded file count. */
  def runBm25IndexStream(spark: SparkSession, inputDir: String,
                         tableName: String, checkpointDir: String,
                         toDocs: DataFrame => DataFrame,
                         stemmed: Boolean = false, nBuckets: Int = 16,
                         maxFilesPerTrigger: Int = 8,
                         trackCol: Option[String] = None,
                         compactFileBudget: Option[Long] = None): StreamingQuery = {
    val raw = spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(inputDir)
      .withColumn("uri", input_file_name())
      .withColumn("text", col("value"))
      .drop("value")
    raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val docs = toDocs(batch)
        val fresh =
          if (spark.catalog.tableExists(tableName))
            docs.join(spark.table(tableName).select("doc_id").distinct(),
              Seq("doc_id"), "left_anti")
          else docs
        graft.search.Bm25Index.append(fresh, "doc_id", "text", tableName,
          stemmed, nBuckets, trackCol = trackCol)
        // the append ran under the micro-batch's CLONED session, which
        // invalidates its own relation cache, not this one's — without
        // the refresh the outer session (and the next batch's anti-join
        // guard) keeps serving the stale file listing
        spark.catalog.refreshTable(tableName)
        compactFileBudget.foreach { budget =>
          if (graft.search.Bm25Index.dataFileCount(spark, tableName) > budget) {
            // value-neutral; the swap carries a facade-attached table's
            // serving stamp, so it stays indexed-served
            graft.search.Bm25Index.compact(spark, tableName, nBuckets)
            spark.catalog.refreshTable(tableName)
          }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming maintenance of the PERSISTED vector index — the twin of
    * [[runBm25IndexStream]] for the IVF side, matching the reference's
    * continuous enrichment worker, which embeds new frames and folds them
    * into the standing vec index as they arrive
    * (src/enrichment_worker.rs:270-360): each micro-batch of vectors is
    * assigned against the CURRENT codebook and lands as its own committed
    * delta dir via [[graft.vector.IvfIndex.append]] — |batch|-sized work,
    * no corpus re-scan, partition-level nprobe pruning preserved per
    * delta leg. A retrain stays a separate, drift-triggered batch job
    * (the doctor's contract), exactly as the reference reserves k-means
    * retraining for its rebuild path.
    *
    * Idempotence (foreachBatch is at-least-once on restart): each batch
    * anti-joins its ids against the index's OWN id set before appending,
    * so a replayed micro-batch re-appends nothing — the same
    * enrichment-manifest guard [[runBm25IndexStream]] uses, and cheap
    * because the id projection reads one narrow column off the
    * cluster-partitioned index. A fully-deduped batch skips the append
    * entirely (no empty delta dirs accumulate). Delta-dir debt across
    * many batches is [[graft.vector.IvfIndex.compactDeltas]]'s job —
    * the doctor's `vec_delta_debt` signal plans it.
    *
    * Contract: the index EXISTS before the stream starts (gen-0 build is
    * [[graft.vector.IvfIndex.write]]'s job — the worker maintains an
    * index, it doesn't train one). */
  def runVecIndexStream(spark: SparkSession, inputDir: String,
                        indexPath: String, checkpointDir: String,
                        idCol: String, vecCol: String,
                        schema: org.apache.spark.sql.types.StructType,
                        maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val indexed = graft.vector.IvfIndex.read(spark, indexPath)
          .assigned.select(col(idCol))
        val fresh = batch.select(col(idCol), col(vecCol))
          .join(indexed, Seq(idCol), "left_anti")
        if (!fresh.isEmpty)
          graft.vector.IvfIndex.append(spark, indexPath, fresh,
            idCol, vecCol): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** ST4 extension: tumbling-window event counts with a watermark for state
    * cleanup (the reference has no event-time windows; `events` testdata
    * lets us expose them as an engine extension). */
  def windowedEventCounts(events: DataFrame, windowDur: String,
                          watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("total_value"))
}
