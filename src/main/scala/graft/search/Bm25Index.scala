package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted BM25 index — the durable, cross-process form of the lexical
  * build-once idiom (the EdgeCache token-table share amortizes within ONE
  * process; a pipeline writes THIS once per run and every later job opens
  * it). The artifact is the tf-aggregated postings table (doc_id, term,
  * tf) written parquet BUCKETED + SORTED by doc_id via [[graft.ops
  * .Bucketing]]: scoring's only data-sized shuffle is the doc-keyed
  * aggregation, and a bucketed-by-doc_id read satisfies that distribution
  * at the scan, so a persisted-index query plans ZERO data-sized
  * exchanges — the write-time shuffle is paid once, not per query
  * (plan-locked in PlanPropertiesSpec).
  *
  * Reference framing: Tantivy's on-disk segments inside the .mv2
  * container (src/search/tantivy/engine.rs) play this role; the
  * Spark-native artifact is a bucketed table, and incremental
  * maintenance stays available through [[BM25.mergeIndexStats]].
  */
object Bm25Index {

  /** Index mutations run under the same exclusive-lockfile discipline as
    * store mutations (reference: every mutation takes the lock first,
    * src/lockfile.rs:121) — two maintainers racing the staged-rebuild /
    * rename-aside swaps, or double-appending a replayed delta's files,
    * would otherwise interleave catalog renames. The lock anchors on the
    * warehouse path of the TABLE NAME (stable across the swap's
    * location changes): `<warehouse>/<table>.lock`. */
  private def withTableLock[T](spark: SparkSession, tableName: String)(body: => T): T =
    graft.store.StoreLock.withLock(spark,
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/" + tableName,
      graft.store.StoreLock.Options(timeoutMs = 120000L,
        staleGraceMs = 120000L, command = "bm25-index-maintenance"))(body)

  /** The table's maintenance lock, for callers composing a LARGER atomic
    * section than one append — [[graft.api.Graft.refreshLexIndex]] holds
    * it across its stamp-read → append → restamp so two maintainers
    * cannot both classify against the same stale stamp and double-append
    * the delta. The lock is NOT re-entrant: bodies must use
    * [[appendUnlocked]], never the self-locking public calls. */
  private[graft] def maintenanceLock[T](spark: SparkSession,
                                        tableName: String)(body: => T): T =
    withTableLock(spark, tableName)(body)

  /** tf-aggregated postings, optionally carrying a `track` column (the
    * doc-level field the index can be DIRECTORY-PARTITIONED by — track
    * is functionally dependent on doc_id, so the extra group key changes
    * nothing about the aggregate) and/or a `positions` column (sorted
    * 0-based token positions per (doc, term) — the freq+positions layout
    * Tantivy records, src/search/tantivy/schema.rs:19-21, which lets the
    * indexed route answer PHRASE membership by adjacent-position checks
    * and never read stored text; tf ≡ size(positions), kept separate so
    * scoring stays one sum). */
  private def postingsFor(docs: DataFrame, idCol: String, textCol: String,
                          stemmed: Boolean,
                          trackCol: Option[String],
                          withPositions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    if (trackCol.isEmpty && !withPositions)
      BM25.postings(BM25.tokenTable(docs, idCol, textCol, stemmed))
    else {
      graft.functions.F.ensureRegistered(docs.sparkSession)
      val trackSel = trackCol.map(tc => col(tc).cast("string").as("track")).toSeq
      val base = docs.select(col(idCol).as("doc_id") +: trackSel :+
        posexplode(graft.functions.F.tokens(col(textCol)))
          .as(Seq("pos", "term")): _*)
      val toks = if (stemmed)
        base.withColumn("term", graft.functions.F.porterStem(col("term")))
      else base
      val groupCols = (trackCol.map(_ => "track").toSeq ++
        Seq("doc_id", "term")).map(col)
      val grouped = toks.groupBy(groupCols: _*)
      if (withPositions)
        grouped.agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
      else grouped.agg(count(lit(1)).as("tf"))
    }
  }

  /** does the live postings table carry the positions column? (layout
    * auto-detect, same contract as [[isTracked]]) */
  private def isPositioned(spark: SparkSession, tableName: String): Boolean =
    spark.catalog.tableExists(tableName) &&
      spark.table(tableName).columns.contains("positions")

  /** does the live postings table carry the track partition column?
    * (false for a table that doesn't exist yet — the streaming path's
    * first append CREATES the table) */
  private def isTracked(spark: SparkSession, tableName: String): Boolean =
    spark.catalog.tableExists(tableName) &&
      spark.table(tableName).columns.contains("track")

  /** the LIVE table's bucket count (None when the table doesn't exist):
    * appends and compaction must match the existing spec — the caller's
    * parameter only decides a CREATE (r20: write() sizes tracked tables
    * adaptively, so a fixed caller-side count could silently mismatch) */
  private def catalogBuckets(spark: SparkSession,
                             tableName: String): Option[Int] =
    if (!spark.catalog.tableExists(tableName)) None
    else spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName))
      .bucketSpec.map(_.numBuckets)

  /** A rename-aside swap MOVES a managed table's directory, but a
    * PARTITIONED table's per-partition catalog locations still point at
    * the old path — every read then plans zero files. Resync (drop
    * vanished, add discovered) after any swap that renamed a
    * partitioned table into place. */
  private def recoverPartitionsIfAny(spark: SparkSession,
                                     tableName: String): Unit =
    if (isTracked(spark, tableName))
      spark.sql(s"MSCK REPAIR TABLE `$tableName` SYNC PARTITIONS")

  /** Build and persist the index; pays the one write-time shuffle.
    *
    * REBUILD over an existing table (the doctor's rebuild_lex_index
    * path) stages under `<table>__rebuild` and swaps with the same
    * rename-aside discipline as [[compact]] — the live index keeps
    * serving for the whole build and the no-live-table window shrinks
    * from O(full build) to two catalog renames. A fresh name writes
    * directly.
    *
    * @param trackCol when set, the postings CARRY that doc column as
    *        `track` and the table is directory-partitioned by it (on
    *        top of the doc_id bucketing): a `track:` field predicate
    *        then prunes whole partition directories out of the postings
    *        scan at plan time — the fix for the measured 1000× finding
    *        that a highly-selective field filter favored the pruned
    *        corpus scan over re-aggregating full-corpus postings
    *        (SCALE.md round-17 §2). Low-cardinality fields only (it is
    *        a directory per value). NOTE: rebuilding an existing
    *        TRACKED table with trackCol = None REPLACES the layout with
    *        an unpartitioned one — callers that must preserve it
    *        auto-detect first ([[graft.api.Graft.buildLexIndex]] and
    *        the doctor's standalone rebuild both do). */
  def write(docs: DataFrame, idCol: String, textCol: String,
            tableName: String, stemmed: Boolean = false,
            nBuckets: Int = 16,
            trackCol: Option[String] = None,
            withPositions: Boolean = false): Unit =
    writeLayout(docs, idCol, textCol, tableName, stemmed, nBuckets, trackCol,
      withPositions, bucketsPerTrack = false)

  /** [[write]] over `docs` in the live table's own layout: its bucket
    * count (per track, for a tracked table — not re-divided), track
    * partitioning and positions. A tracked table's `docs` carry `track`.
    * A missing table builds untracked with 16 buckets. */
  def rebuild(docs: DataFrame, idCol: String, textCol: String,
              tableName: String, stemmed: Boolean): Unit = {
    val spark = docs.sparkSession
    writeLayout(docs, idCol, textCol, tableName, stemmed,
      catalogBuckets(spark, tableName).getOrElse(16),
      Option.when(isTracked(spark, tableName))("track"),
      withPositions = false, bucketsPerTrack = true)
  }

  /** @param bucketsPerTrack `nBuckets` is already the per-track count
    *        (a rebuild keeping its table's spec), not a total budget */
  private def writeLayout(docs: DataFrame, idCol: String, textCol: String,
            tableName: String, stemmed: Boolean, nBuckets: Int,
            trackCol: Option[String], withPositions: Boolean,
            bucketsPerTrack: Boolean): Unit = withTableLock(docs.sparkSession, tableName) {
    val spark = docs.sparkSession
    // rebuilding an existing POSITIONED table keeps the layout even when
    // the flag is omitted (the doctor's heal path rebuilds by table name
    // only) — same auto-detect contract as the track layout
    val positioned = withPositions || isPositioned(spark, tableName)
    val postings0 = postingsFor(docs, idCol, textCol, stemmed, trackCol,
      positioned)
    // PARTITION-AWARE bucket count + one-file-per-bucket layout for the
    // TRACKED build (r20, guide §6): directory partitioning MULTIPLIES
    // the file count — each write task emits one file per (track, bucket)
    // it holds, so a 20-track × 16-bucket build from 32 tasks left ~640
    // tiny files (measured, plans/r20/tracked_files_*.txt). For tracked
    // tables `nBuckets` is therefore a TOTAL-file budget: buckets =
    // max(1, nBuckets / #tracks), and the same repartition(buckets,
    // doc_id) compact() uses aligns tasks with buckets so the build
    // emits exactly one file per (track, bucket). Untracked builds stay
    // shuffle-free (bulk path; compact() owns their file debt).
    val (postings, effBuckets) = trackCol match {
      case Some(tc) =>
        import org.apache.spark.sql.functions.col
        val nb = if (bucketsPerTrack) nBuckets else math.max(1,
          (nBuckets.toLong / math.max(1L, docs.select(col(tc)).distinct().count())).toInt)
        (postings0.repartition(nb, col("doc_id")), nb)
      case None => (postings0, nBuckets)
    }
    val parts = trackCol.map(_ => "track").toSeq
    if (!spark.catalog.tableExists(tableName)) {
      // sweep residue of a swap torn mid-rename (write = full rebuild
      // from `docs`, so the staged leftover is stale, never recovered)
      Seq(tableName + "__rebuild", tableName + "__old").foreach { t =>
        if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE `$t`")
      }
      graft.ops.Bucketing.writeBucketed(postings, tableName, effBuckets,
        Seq("doc_id"), parts)
    } else {
      val tmpName = tableName + "__rebuild"
      val oldName = tableName + "__old"
      if (spark.catalog.tableExists(tmpName)) spark.sql(s"DROP TABLE `$tmpName`")
      if (spark.catalog.tableExists(oldName)) spark.sql(s"DROP TABLE `$oldName`")
      graft.ops.Bucketing.writeBucketed(postings, tmpName, effBuckets,
        Seq("doc_id"), parts)
      if (parts.isEmpty) {
        spark.sql(s"ALTER TABLE `$tableName` RENAME TO `$oldName`")
        spark.sql(s"ALTER TABLE `$tmpName` RENAME TO `$tableName`")
        spark.sql(s"DROP TABLE `$oldName`")
      } else {
        // a PARTITIONED managed table cannot swap by rename-aside: its
        // partition entries keep ABSOLUTE locations, so after the two
        // renames the aside table's partitions still point INTO the
        // live directory and dropping it purges the NEW data (observed:
        // a tracked rebuild emptied the index). Stage fully, then
        // drop → rename → partition resync; the no-live-table window is
        // three catalog ops, and a crash inside it leaves the staged
        // table for the fresh-name branch's sweep to rebuild from.
        spark.sql(s"DROP TABLE `$tableName`")
        spark.sql(s"ALTER TABLE `$tmpName` RENAME TO `$tableName`")
        recoverPartitionsIfAny(spark, tableName)
      }
      spark.catalog.refreshTable(tableName)
    }
  }

  /** Incremental maintenance: append a DELTA batch's postings INTO the
    * same bucketed layout — the path that makes the persisted index a
    * living artifact instead of a rebuild-per-ingest one (the reference's
    * Tantivy segment merge, src/search/tantivy/engine.rs: new segments
    * join the index; a merge is bookkeeping, never a corpus re-scan).
    *
    * Cost is |delta| tokenization + one delta-sized bucket shuffle. The
    * delta lands as new files per bucket; Spark verifies the bucket spec
    * matches at write time, and a bucketed read over multiple files per
    * bucket still satisfies the doc_id distribution — scoring after any
    * number of appends plans the same ZERO data-sized exchanges.
    *
    * Contract (same as [[BM25.mergeIndexStats]]): the delta's doc ids are
    * DISJOINT from what's indexed — re-ingesting a doc would double-count
    * its term frequencies. `search_bm25_append` gates build(A)+append(B)
    * against the full A∪B rebuild, hash-exact. */
  def append(delta: DataFrame, idCol: String, textCol: String,
             tableName: String, stemmed: Boolean = false,
             nBuckets: Int = 16,
             trackCol: Option[String] = None,
             withPositions: Boolean = false): Unit = withTableLock(delta.sparkSession, tableName) {
    appendUnlocked(delta, idCol, textCol, tableName, stemmed, nBuckets,
      trackCol, withPositions)
  }

  /** [[append]] body without the lock acquisition — for callers already
    * inside [[maintenanceLock]] (the lock is not re-entrant) */
  private[graft] def appendUnlocked(delta: DataFrame, idCol: String,
             textCol: String, tableName: String, stemmed: Boolean,
             nBuckets: Int, trackCol: Option[String],
             withPositions: Boolean = false): Unit = {
    val spark = delta.sparkSession
    val tracked = isTracked(spark, tableName)
    require(!tracked || trackCol.isDefined,
      s"$tableName is track-partitioned: append needs trackCol so the " +
      "delta lands in the right partition directories")
    // the existing table's layout wins (a delta must land in the same
    // schema); the flag only decides a CREATE (streaming's first append)
    val positioned =
      if (spark.catalog.tableExists(tableName)) isPositioned(spark, tableName)
      else withPositions
    val postings = postingsFor(delta, idCol, textCol, stemmed,
      if (tracked) trackCol else None, positioned)
    val w = postings.write
      .bucketBy(catalogBuckets(spark, tableName).getOrElse(nBuckets),
        "doc_id").sortBy("doc_id")
      .mode("append").format("parquet")
    (if (tracked) w.partitionBy("track") else w).saveAsTable(tableName)
    // saveAsTable(append) invalidates the WRITING session's relation
    // cache; if this session is a clone (or another session reads the
    // table), a later spark.table can serve a pre-append file listing —
    // same scores-from-stale-postings flake the streaming maintenance
    // path hit (streaming/StreamingIngest.scala). Refresh explicitly so
    // the merged artifact is what every subsequent read plans over.
    delta.sparkSession.catalog.refreshTable(tableName)
  }

  /** Segment-merge compaction — the missing third of build→serve→
    * maintain (the reference's Tantivy merge policy continuously folds
    * small segments into larger ones, src/search/tantivy/engine.rs;
    * without it [[append]] accumulates delta files per bucket forever
    * and scan-open cost creeps). Rewrites the postings into ONE file per
    * bucket: `repartition(nBuckets, doc_id)` uses the SAME
    * pmod(murmur3, n) formula as the bucket-id assignment, so each task
    * holds exactly one bucket and the bucketed write emits exactly one
    * file for it. The (doc_id, term) re-aggregation makes compaction
    * idempotent and heals a double-ingested delta's split tf rows; under
    * the disjoint-doc append contract it is value-neutral — sum over one
    * row. Scoring after compaction still plans ZERO data-sized exchanges
    * and is hash-exact vs the full rebuild (`search_bm25_compact`).
    *
    * Swap is catalog-level: the compacted table materializes under
    * `<table>__compact` (never reading and replacing the same storage),
    * then the LIVE table is renamed aside to `<table>__old`, `__compact`
    * renamed in, and `__old` dropped last. Under the single-writer
    * contract the no-live-table window shrinks to the two catalog
    * renames (a concurrent reader's spark.table in that window fails and
    * retries — same as [[write]]'s rebuild swap). A crash at any point
    * leaves either the old index live or the new one; the only residue
    * is a stale `__old` / `__compact` table, and re-running compact
    * FINISHES the torn swap and returns (recovery branch below) — run
    * compact once more for a fresh pass over any debt appended since. */
  def compact(spark: SparkSession, tableName: String,
              nBuckets: Int = 16): Unit = withTableLock(spark, tableName) {
    import org.apache.spark.sql.functions._
    val tmpName = tableName + "__compact"
    val oldName = tableName + "__old"
    // recovery: a prior compact crashed after renaming the live table
    // aside but before renaming the compacted one in — finish the swap
    if (!spark.catalog.tableExists(tableName) &&
        spark.catalog.tableExists(tmpName)) {
      spark.sql(s"ALTER TABLE `$tmpName` RENAME TO `$tableName`")
      if (spark.catalog.tableExists(oldName)) spark.sql(s"DROP TABLE `$oldName`")
      recoverPartitionsIfAny(spark, tableName)
      spark.catalog.refreshTable(tableName)
      return
    }
    // residue sweep from a crash before the aside-rename (live intact)
    if (spark.catalog.tableExists(tmpName)) spark.sql(s"DROP TABLE `$tmpName`")
    if (spark.catalog.tableExists(oldName)) spark.sql(s"DROP TABLE `$oldName`")
    // a track-partitioned table keeps its layout through compaction
    // (track is functionally dependent on doc_id — the extra group key
    // is value-neutral); "one file per bucket" becomes one per
    // (partition, bucket)
    val tracked = isTracked(spark, tableName)
    val positioned = isPositioned(spark, tableName)
    val groupCols = if (tracked) Seq("track", "doc_id", "term")
                    else Seq("doc_id", "term")
    // a positioned table merges split rows' position lists the same way
    // tf sums — sort_array(flatten) is deterministic and value-neutral
    // under the disjoint-doc append contract (one row per group)
    val aggCols = sum(col("tf")).as("tf") +: (if (positioned)
      Seq(sort_array(flatten(collect_list(col("positions")))).as("positions"))
    else Nil)
    // the LIVE table's bucket spec wins (r20): write() sizes tracked
    // tables adaptively, so a caller's fixed count could silently
    // re-bucket the table mid-life
    val nb = catalogBuckets(spark, tableName).getOrElse(nBuckets)
    val merged = spark.table(tableName)
      .groupBy(groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      .repartition(nb, col("doc_id"))
    graft.ops.Bucketing.writeBucketed(merged, tmpName, nb, Seq("doc_id"),
      if (tracked) Seq("track") else Nil)
    // the swap installs a NEW catalog table: carry the live table's
    // `graft.` properties (serving stamp, torn-refresh marker) onto the
    // staged one under this lock, so compaction — value-neutral — never
    // drops a marker or restamps behind a concurrent refresh, and a
    // recovered torn swap carries them too
    val carried = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName))
      .properties.filter(_._1.startsWith("graft."))
    if (carried.nonEmpty)
      spark.sql(s"ALTER TABLE `$tmpName` SET TBLPROPERTIES (" +
        carried.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    if (!tracked) {
      spark.sql(s"ALTER TABLE `$tableName` RENAME TO `$oldName`")
      spark.sql(s"ALTER TABLE `$tmpName` RENAME TO `$tableName`")
      spark.sql(s"DROP TABLE `$oldName`")
    } else {
      // partitioned swap: see write() — rename-aside would leave the
      // aside table's absolute partition locations pointing into the
      // live dir and its drop would purge the compacted data. The
      // staged write above completed (read and write never shared a
      // directory), so drop → rename → resync; a crash inside the
      // window leaves `__compact` for the recovery branch to finish.
      spark.sql(s"DROP TABLE `$tableName`")
      spark.sql(s"ALTER TABLE `$tmpName` RENAME TO `$tableName`")
      recoverPartitionsIfAny(spark, tableName)
    }
    spark.catalog.refreshTable(tableName)
  }

  /** number of data files currently backing the index table — the
    * observable compaction shrinks (bounded: one recursive FS listing,
    * which also sees a track-partitioned table's per-directory files) */
  def dataFileCount(spark: SparkSession, tableName: String): Long = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)).location
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = graft.store.Fs.of(spark, loc.toString)
    def walk(dir: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(dir).map { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0L
        else if (st.isFile) 1L
        else walk(st.getPath)
      }.sum
    walk(p)
  }

  /** score a query against a persisted index (see [[BM25.scorePostings]]) */
  def search(spark: SparkSession, tableName: String, queryTerms: Seq[String],
             topK: Int = 10): DataFrame =
    BM25.scorePostings(spark.table(tableName), queryTerms, topK)
}
