package graft.api

import java.sql.Timestamp
import graft.ask.{Ask, Embedder}
import graft.memory.MemoryCards
import graft.search.{FrameCols, Search, SketchFilter}
import graft.store.FrameStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade — the Spark-native `Memvid` handle: a directory of
  * parquet tables instead of one `.mv2` file, with the same verbs
  * (put/search/ask/timeline/memory — reference API surface:
  * src/memvid/lifecycle.rs:448 open, mutation.rs:3090 put,
  * search/mod.rs:46 search, ask.rs:23 ask, timeline.rs:20 timeline,
  * memory.rs:269-494 memory ops).
  */
/** @param autoRefreshIndexes the reference's instant-index semantics
  *        (src/memvid/search/builders.rs:12-44: a put updates the
  *        engine WITHIN the commit): every facade put() immediately
  *        catches attached serving indexes up via
  *        [[Graft.refreshLexIndex]]/[[Graft.refreshVecIndex]] — an
  *        O(delta) append per put, and append-only workloads never
  *        leave the indexed route. Off by default: batch pipelines
  *        prefer one refresh per ingest epoch over one per put.
  * @param healOnRead the read-side symmetry of the same idea (the
  *        reference's lazy engine init, search/mod.rs:47-57: a read
  *        brings the engine up to date): a search()/ask() that finds an
  *        attached index stale first probes whether the post-stamp delta
  *        is APPEND-ONLY and, if so, runs the O(delta) refresh and
  *        serves indexed. A delta with deletes/supersedes (or past a
  *        vacuum) falls back to the corpus path unchanged — a read never
  *        triggers a corpus-sized rebuild. Off by default: reads that
  *        mutate derived state deserve an explicit opt-in. */
final class Graft(val spark: SparkSession, basePath: String,
                  embedder: Option[Embedder] = None,
                  autoRefreshIndexes: Boolean = false,
                  healOnRead: Boolean = false) {
  import spark.implicits._

  val frames = new FrameStore(spark, s"$basePath/frames")
  private val cardsPath = s"$basePath/cards"

  private def frameCols = FrameCols(
    text = coalesce(col("text"), lit("")),
    uri = col("uri"),
    track = col("track"),
    kind = col("kind"),
    tags = col("tags"),
    labels = col("labels"),
    timestamp = col("timestamp"))

  // ---- replay recording (reference: Memvid::start_session/end_session +
  // auto record_put/find/ask while a session is active,
  // src/memvid/replay_ops.rs:24-210) ----
  val recorder = new graft.replay.Replay.Recorder()
  def startSession(name: String, autoCheckpointInterval: Long = 0L): String =
    recorder.startSession(name, autoCheckpointInterval)
  def endSession(): graft.replay.Replay.SessionSummary = recorder.endSession()
  def isRecording: Boolean = recorder.isRecording
  def listSessions: Seq[graft.replay.Replay.SessionSummary] =
    recorder.listSessions

  // ---- ingest ----
  /** @param metadata frame policy/extra metadata (e.g. the ACL contract
    *        keys, src/types/acl.rs:6-19); chunks inherit it.
    *        Content-hash dedup ignores metadata: re-putting existing
    *        content returns None and leaves the existing frame's policy
    *        in force — change a policy via [[update]], never a re-put
    *        (see [[graft.store.FrameStore.put]]). */
  def put(uri: String, text: String, track: Option[String] = None,
          tags: Seq[String] = Nil,
          ts: Timestamp = new Timestamp(1700000000000L),
          metadata: Map[String, String] = Map.empty): Option[Long] = {
    val ids = frames.put(Seq((uri, text)), track = track, tags = tags, ts = ts,
      metadata = metadata)
    // rules-engine enrichment mints memory cards (enrichment stage ST2)
    ids.foreach(mintCards(_, text, ts))
    // checkpoint-snapshot args are by-name — only paid if one fires,
    // and then from the store's held live view (the size of its key set;
    // a put rolls it forward, so a fire costs no Spark job)
    ids.foreach(id => recorder.recordPut(id,
      frames.liveCount, currentVersion))
    // instant-index: the commit catches attached serving indexes up
    // before returning (see the constructor param's scaladoc). The
    // catch-up is BEST-EFFORT per artifact: the commit has already
    // landed, so a maintenance lock contended past its acquire timeout
    // (N writers racing one artifact — measured in the 5-writer soak)
    // must not fail the put; serving just stays on the documented
    // stale→corpus fallback until the next refresh wins the lock.
    if (autoRefreshIndexes && ids.nonEmpty) {
      def bestEffort(run: => Unit): Unit =
        try run catch {
          case _: graft.store.StoreLock.StoreLockedException => ()
        }
      if (lexIndex.isDefined) bestEffort(refreshLexIndex(): Unit)
      if (vecIndex.isDefined) bestEffort(refreshVecIndex(): Unit)
      if (sketchTable.isDefined) bestEffort(refreshSketchTable(): Unit)
    }
    ids.headOption
  }

  /** mint fact cards for a frame's text; returns the asserted (entity,
    * slot) pairs. 20-bit stride keeps card ids unique for up to 2^19
    * facts per frame (retracts use the upper half) and must stay
    * identical to repairCards' derivation so a rebuild is id-stable. */
  private def mintCards(frameId: Long, text: String, ts: Timestamp): Set[(String, String)] = {
    val facts = graft.ingest.Enrich.extractCards(text)
    if (facts.nonEmpty) {
      val rows = facts.zipWithIndex.map { case (f, i) =>
        ((frameId << 20) + i, f.entity, f.slot, f.value, "fact", "sets", ts, frameId)
      }
      rows.toDF("cardId", "entity", "slot", "value", "kind", "relation", "ts", "sourceFrameId")
        .coalesce(1) // one file per driver-resident card batch (r20 §6)
        .write.mode(SaveMode.Append).parquet(cardsPath)
    }
    facts.map(f => (f.entity, f.slot)).toSet
  }

  /** append 'retracts' cards for every (entity, slot) the frame asserted,
    * minus `except` — the memory view's counterpart of superseding or
    * tombstoning the frame (getCurrent hides a slot whose latest card
    * retracts; A10). Retract ids live in the upper half of the frame's
    * 20-bit card-id range so they never collide with its fact ids. */
  private def retractCards(sourceId: Long, except: Set[(String, String)],
                           ts: Timestamp): Unit = {
    val pairs = cards
      .filter(col("sourceFrameId") === sourceId && col("relation") =!= "retracts")
      .select("entity", "slot").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filterNot(except.contains).sortBy(identity)
    if (pairs.nonEmpty) {
      val rows = pairs.toSeq.zipWithIndex.map { case ((e, sl), i) =>
        ((sourceId << 20) + (1L << 19) + i, e, sl, "", "retract", "retracts", ts, sourceId)
      }
      rows.toDF("cardId", "entity", "slot", "value", "kind", "relation", "ts", "sourceFrameId")
        .coalesce(1) // one file per driver-resident card batch (r20 §6)
        .write.mode(SaveMode.Append).parquet(cardsPath)
    }
  }

  /** reference update_frame (mutation.rs:3150): append a superseding
    * version, mint cards for the new text, and retract slots the old
    * version asserted that the new one no longer does — getCurrent then
    * serves the new facts, not the superseded frame's. */
  def update(id: Long, newText: String, uri: String,
             ts: Timestamp = new Timestamp(1700000001000L),
             metadata: Map[String, String] = Map.empty): Long = {
    val newId = frames.update(id, newText, uri, ts, metadata)
    val asserted = mintCards(newId, newText, ts)
    retractCards(id, asserted, ts)
    newId
  }

  /** reference delete_frame (mutation.rs:3230): tombstone, visible to
    * as-of reads before the tombstone's commit; the frame's asserted
    * slots are retracted from the memory view */
  def delete(id: Long, ts: Timestamp = new Timestamp(1700000002000L)): Unit = {
    frames.delete(id, ts)
    retractCards(id, Set.empty, ts)
  }

  /** reference vacuum (mutation.rs:2999): compact superseded/tombstoned
    * versions out of the log */
  def vacuum(): Unit = frames.vacuum()

  /** Pin the latest-active view to a read-optimized parquet copy for a
    * read-mostly phase (a curation run, a bulk query session): every
    * search/ask/timeline/embeddings read scans the copy instead of paying
    * the per-id window + supersedes anti-join. Mutations drop the pin. */
  def snapshotCurrent(outPath: String): Unit = frames.snapshotCurrent(outPath)

  /** back to live-log reads */
  def releaseSnapshot(): Unit = frames.releaseSnapshot()

  // ---- persisted-index serving (reference: lazy engine init opens the
  // on-disk Tantivy segments once they exist, src/memvid/search/mod.rs:
  // 47-57, and the vector path switches off brute force once an index is
  // worth it, src/vec.rs:23). The Spark-native form: a bucketed BM25
  // postings table and a generation-dir IVF index, each stamped with the
  // store's commit version at build time. search()/ask() route through a
  // FRESH index (stamp == current commit version) and fall back to the
  // corpus path the moment the store moves past the stamp — results are
  // bit-equal either way (`search_facade_indexed`/`ask_facade_indexed`
  // gate that), the index only changes WHERE the work happens. The
  // freshness verdict is cached per store mutation epoch, which the
  // single-writer contract makes exact: the one writer observes every
  // mutation it performs. ----

  private var lexIndex: Option[(String, Boolean)] = None // (table, stemmed)
  private var lexFreshCache: Option[((Long, Long), Boolean)] = None
  private var vecIndex: Option[(String, Int)] = None // (path, nprobe)
  private var vecHandleCache: Option[((Long, Long), Option[graft.vector.IvfIndex.Handle])] = None
  private var sketchTable: Option[String] = None
  private var liveSketchCache: Option[((Long, Long), Option[Option[SketchFilter.Live]])] = None

  /** freshness-cache key: the in-process mutation epoch AND the
    * persisted cross-process watermark — a FOREIGN writer's commit (two
    * handles under the store lock) moves the watermark, so this handle's
    * next query re-derives the verdict and falls back to the corpus path
    * instead of serving a silently-stale index. One tiny FS read per
    * query; the single-writer fast path is unchanged. */
  private def storeMovedKey: (Long, Long) =
    (frames.mutationEpoch, frames.persistedWatermark)

  /** route the LAST search()/ask() retrieval took: "indexed" | "corpus" —
    * the observable the serving gates and the doctor's serve-path
    * re-probe lock on */
  @volatile var lastSearchRoute: String = "corpus"
  @volatile var lastAskVecRoute: String = "corpus"
  @volatile var lastAskLexRoute: String = "corpus"

  /** everything search() scans, in index form: ALL live frames
    * (documents AND chunks — chunk-level retrieval is part of the search
    * surface), id + text only */
  private def searchableFrames: DataFrame =
    frames.latestActive.select(col("id"),
      coalesce(col("text"), lit("")).as("text"))

  /** Build (or rebuild) the persisted BM25 postings table over the CURRENT
    * live frames, stamp it with the store's commit version, and attach it
    * for serving. Re-running after mutations is the maintenance loop:
    * rebuild → restamp → serving returns to the indexed path.
    * @param partitionByTrack directory-partition the postings by the
    *        frames' track (low-cardinality by contract): a `track:`
    *        conjunct then prunes whole directories out of the indexed
    *        scan (SCALE.md round-17 §2 — the fix for selective field
    *        filters beating unpruned postings). A REBUILD of a table
    *        that is already track-partitioned keeps the layout even if
    *        the flag is omitted (the doctor's heal path rebuilds by
    *        table name only). */
  def buildLexIndex(table: String, stemmed: Boolean = true,
                    nBuckets: Int = 16,
                    partitionByTrack: Boolean = false,
                    withPositions: Boolean = false): Unit = {
    val tracked = partitionByTrack || (spark.catalog.tableExists(table) &&
      spark.table(table).columns.contains("track"))
    val src = if (!tracked) searchableFrames
      else frames.latestActive.select(col("id"),
        coalesce(col("text"), lit("")).as("text"), col("track"))
    graft.search.Bm25Index.write(src, "id", "text", table,
      stemmed = stemmed, nBuckets = nBuckets,
      trackCol = if (tracked) Some("track") else None,
      withPositions = withPositions)
    // stamp AFTER the build/swap: a crash in between leaves an unstamped
    // (= stale-looking) index and serving falls back to the corpus — the
    // safe direction
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
      s"('graft.store.version' = '$currentVersion')")
    attachLexIndex(table, stemmed)
  }

  /** Attach an existing postings table for serving (no build). Serving
    * uses it only while its version stamp matches the store. */
  def attachLexIndex(table: String, stemmed: Boolean = true): Unit = {
    lexIndex = Some((table, stemmed)); lexFreshCache = None
  }

  def detachLexIndex(): Unit = { lexIndex = None; lexFreshCache = None }

  /** stemming of the ATTACHED serving index, if `table` is it — the
    * doctor's rebuild consults this so a facade-served index is rebuilt
    * through [[buildLexIndex]] (same content contract: live frames
    * INCLUDING chunks, version restamp, serving returns to the indexed
    * route) instead of the standalone doc-only rebuild */
  private[api] def attachedLexStemmed(table: String): Option[Boolean] =
    lexIndex.collect { case (t, st) if t == table => st }

  /** doctor hook: maintenance rewrote an attached index artifact under
    * the same name/path (compact swap, retrain generation) — drop the
    * cached serving verdict/handle so the next query reopens the current
    * artifact instead of a deleted generation */
  private[api] def invalidateIndexCaches(): Unit = {
    lexFreshCache = None; vecHandleCache = None; liveSketchCache = None
  }

  /** (store-version stamp, torn-refresh pending) of a catalog-table
    * serving artifact; None when the table is missing */
  private def tableStamp(table: String): Option[(Option[Long], Boolean)] =
    if (!spark.catalog.tableExists(table)) None
    else {
      val props = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).properties
      Some((props.get("graft.store.version").flatMap(_.toLongOption),
        props.get("graft.refresh.pending").contains("1")))
    }

  private def stampCurrent(table: String): Boolean =
    tableStamp(table).exists(_._1.contains(currentVersion))

  // ---- F10 sketch pre-filter as FACADE behavior (reference: applied
  // inside search() by default with a `no_sketch` opt-out,
  // src/memvid/search/mod.rs:190-232 — hamming ≤ 32, keep ≥
  // max(topK·10, 500)): a (doc_id, simhash) table maintained alongside
  // the lex index shrinks the candidate set BEFORE the postings scorer.
  // The shrunken set rides the indexed route's allowedIds semi-join
  // (`search_sketch_indexed` proved the composition; this wires it into
  // the verbs). Candidate shrink trades recall for speed exactly like
  // the reference (BM25 re-ranks survivors; a match beyond the hamming
  // cut is dropped) — `noSketch = true` restores exhaustive ranking.
  //
  // Serving is per watermark and runs on the driver: the live sketch
  // (the table's distinct rows of live frames) is query-independent, so
  // the first sketch-using search on a (mutation epoch, persisted
  // watermark) key collects it once — a bounded limit(cap + 1) collect —
  // and every later search on that key hashes the query and picks its
  // candidates with no Spark job; the kept ids reach the ranking as a
  // local relation. A live sketch over [[SketchFilter.LiveCap]] rows
  // stays in Spark: the same selection as a plan over sketch ⋈ live ids
  // ([[SketchFilter.candidates]]). Puts, refreshes and noSketch searches
  // never fill the cache.
  //
  // Maintenance is APPEND-ONLY SAFE by construction: sketch rows are
  // per-doc-version and ids are never reused, so a superseded/tombstoned
  // version's row is INERT (its id no longer joins any live posting) and
  // only MISSING rows (live frames past the stamp) lose recall. The
  // refresh therefore always appends the post-stamp Active frames'
  // sketches and restamps — no rebuild case, even across vacuum (the
  // compacted log keeps live rows' commitSeq). ----

  /** Build (or rebuild) the sketch table over the CURRENT live frames
    * (documents AND chunks — the same population search() ranks), stamp
    * it with the store's commit version, and attach it: search() then
    * pre-filters by default (opt out per call with `noSketch`). */
  def buildSketchTable(table: String): Unit = {
    // same maintenance-lock discipline as the postings rebuild: two
    // builders (or a builder racing a refresher's append) would otherwise
    // interleave the overwrite with an append and strand a torn table
    graft.search.Bm25Index.maintenanceLock(spark, table) {
      val sk = graft.search.SketchFilter.build(searchableFrames, "id", "text")
      sk.write.mode(SaveMode.Overwrite).saveAsTable(table)
      spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
        s"('graft.store.version' = '$currentVersion', " +
        "'graft.refresh.pending' = '0')")
    }
    attachSketchTable(table)
  }

  /** Attach an existing sketch table; the pre-filter only applies while
    * its version stamp matches the store (a stale sketch is missing the
    * newest docs' rows — skipping it is the lossless direction). */
  def attachSketchTable(table: String): Unit = {
    sketchTable = Some(table); liveSketchCache = None
  }

  def detachSketchTable(): Unit = { sketchTable = None; liveSketchCache = None }

  /** live-sketch rows above which serving stays in Spark; a test seam */
  private[api] var liveSketchCap: Int = SketchFilter.LiveCap

  /** is a live sketch (or its over-cap verdict) cached? */
  private[api] def liveSketchCached: Boolean = liveSketchCache.isDefined

  /** the attached sketch's serving state on the current watermark,
    * cached per [[storeMovedKey]]: None = stale or missing stamp (skip
    * the filter), Some(Some(live)) = held on the driver, Some(None) =
    * fresh but over [[liveSketchCap]] (the Spark plan serves it) */
  private def liveSketch(table: String): Option[Option[SketchFilter.Live]] = {
    val key = storeMovedKey
    liveSketchCache match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = if (!stampCurrent(table)) None
          else Some(SketchFilter.Live.collect(liveSketchRows(table), liveSketchCap))
        liveSketchCache = Some((key, v))
        v
    }
  }

  /** sketch rows of LIVE frames only: superseded/tombstoned versions'
    * rows are inert for membership but would still count toward the
    * minKeep floor and occupy hamming-nearest slots — on a churned store
    * the effective live keep would fall below the reference's
    * max(topK·10, 500) contract. The semi-join moves only the id column. */
  private def liveSketchRows(table: String): DataFrame =
    spark.table(table).join(
      frames.latestActive.select(col("id").cast("long").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Catch the attached sketch table up to the store: sketches of the
    * post-stamp ACTIVE frames append, then the stamp advances. Always
    * O(delta) — dead versions' rows are inert (see the section comment),
    * so unlike the lex/vec refresh there is no delete/supersede rebuild
    * case (only a missing/never-stamped/torn table rebuilds).
    *
    * Concurrent-maintainer + torn-refresh safety (same discipline as
    * [[refreshLexIndex]]): the stamp-read → append → restamp leg runs
    * atomically under the table's maintenance lock with an in-lock
    * re-classification — two refreshers racing one stale stamp
    * serialize and the loser reads the winner's restamp ("fresh")
    * instead of double-appending the same delta (duplicate (doc_id,
    * simhash) rows inflate [[graft.search.SketchFilter.candidates]]'
    * floor count and silently suppress the relaxation — recall loss
    * beyond the documented trade). A `graft.refresh.pending` marker
    * lands before the append and clears in the same ALTER as the
    * restamp; a crash in between leaves it set and the next refresh
    * rebuilds instead of re-appending.
    * @return "fresh" | "appended" | "rebuilt" */
  def refreshSketchTable(): String = sketchTable match {
    case None => throw new IllegalStateException(
      "refreshSketchTable: no attached sketch table (attachSketchTable first)")
    case Some(table) =>
      liveSketchCache = None
      def snapshot(): (Option[Long], Boolean) =
        tableStamp(table).getOrElse((None, false))
      val cur0 = currentVersion
      val (stamp0, pending0) = snapshot()
      // lock-free only on a STABLE observation (see refreshLexIndex: a
      // pending marker seen from outside the lock can be a peer's healthy
      // in-flight append — it must re-classify under the lock)
      if (!pending0 && stamp0.contains(cur0)) "fresh"
      else {
        val outcome = graft.search.Bm25Index.maintenanceLock(spark, table) {
          val cur = currentVersion
          val (stamp, pending) = snapshot()
          if (!pending && stamp.contains(cur)) "fresh"
          else if (stamp.isEmpty || pending) "needs_rebuild"
          else {
            val delta = frames.log.filter(
                col("commitSeq") > stamp.get && col("commitSeq") <= cur)
              .filter(col("status") === graft.model.Frame.Active)
              .select(col("id"), coalesce(col("text"), lit("")).as("text"))
            spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
              "('graft.refresh.pending' = '1')")
            graft.search.SketchFilter.build(delta, "id", "text")
              .write.mode(SaveMode.Append).saveAsTable(table)
            spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
              s"('graft.store.version' = '$cur', 'graft.refresh.pending' = '0')")
            "appended"
          }
        }
        if (outcome == "needs_rebuild") { // missing/never-stamped/torn
          buildSketchTable(table)
          "rebuilt"
        } else outcome
      }
  }

  /** did the LAST search() apply the sketch pre-filter? — the gate/spec
    * observable (like lastSearchRoute) */
  @volatile var lastSketchApplied: Boolean = false

  /** the facade-ATTACHED sketch table, if any — the doctor's sketch
    * probe consults this (a standalone table has no serving contract) */
  private[api] def attachedSketchTable: Option[String] = sketchTable

  /** is the attached sketch table's serving stamp behind the store, its
    * refresh torn, or the table missing? — the doctor's `sketch_stale`
    * probe. A stale sketch silently degrades search() to no-prefilter
    * (correct but slower at scale — the F10 candidate shrink stops
    * applying), so the doctor plans the always-append refresh. */
  private[api] def sketchStampStale(table: String): Boolean =
    !tableStamp(table).exists { case (stamp, pending) =>
      stamp.contains(currentVersion) && !pending }

  private def lexIndexFresh(table: String): Boolean = {
    val key = storeMovedKey
    lexFreshCache match {
      case Some((k, v)) if k == key => v
      case _ =>
        val fresh = stampCurrent(table)
        lexFreshCache = Some((key, fresh))
        fresh
    }
  }

  /** Build (or rebuild) the persisted IVF index over the live documents'
    * embeddings, stamp, and attach. Centroids train with Lloyd iterations
    * over the current embedding table (deterministic seed rows). */
  def buildVecIndex(path: String, k: Int = 4, iters: Int = 2,
                    nprobe: Int = 4): Unit = {
    // pin: the embedder UDF runs once, not once per Lloyd iteration
    val emb = embeddingsTable.localCheckpoint()
    // deterministic seeds: the k lowest-id live vectors
    val seeds = emb.orderBy(col("id")).limit(k).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble).toArray) }
      .toSeq
    require(seeds.nonEmpty, "buildVecIndex: store has no live documents")
    val (cents, _) =
      graft.vector.VectorSearch.kmeansLloyd(emb, "vector", seeds, iters)
    graft.vector.IvfIndex.write(emb, "id", "vector", path,
      cents.map { case (cid, c) => (cid, c.map(_.toFloat)) })
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_GRAFT_STORE_VERSION"), true)
    out.write(currentVersion.toString.getBytes("UTF-8")); out.close()
    attachVecIndex(path, nprobe)
  }

  /** Attach an existing IVF index for ask()'s vector rung; served only
    * while its version stamp matches the store. @param nprobe clusters
    * probed per query (pass the index's cluster count for exact parity
    * with brute force) */
  def attachVecIndex(path: String, nprobe: Int = 4): Unit = {
    vecIndex = Some((path, nprobe)); vecHandleCache = None
  }

  def detachVecIndex(): Unit = { vecIndex = None; vecHandleCache = None }

  /** fresh handle or None, cached per (mutation epoch, persisted
    * watermark) — see [[storeMovedKey]] */
  private def vecServingHandle(path: String): Option[graft.vector.IvfIndex.Handle] = {
    val key = storeMovedKey
    vecHandleCache match {
      case Some((k, h)) if k == key => h
      case _ =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val stampPath = new org.apache.hadoop.fs.Path(s"$path/_GRAFT_STORE_VERSION")
        val fresh = graft.vector.IvfIndex.exists(spark, path) &&
          fs.exists(stampPath) && {
            val in = fs.open(stampPath)
            val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
            s == currentVersion.toString
          }
        val h = if (fresh) Some(graft.vector.IvfIndex.read(spark, path)) else None
        vecHandleCache = Some((key, h))
        h
    }
  }

  // ---- incremental serving catch-up (reference: instant-index updates
  // the engine WITHIN the commit, src/memvid/search/builders.rs:12-44 —
  // a mutation keeps the serving index current instead of exiling
  // queries to a corpus scan until a full rebuild). The Spark-native
  // form is explicit maintenance: refresh*Index() computes the frames
  // past the index's version stamp and APPENDS them through the gated
  // incremental primitives ([[graft.search.Bm25Index.append]] /
  // [[graft.vector.IvfIndex.append]]), then restamps — O(|delta|) work.
  // A delta that breaks the append contract (tombstones or superseding
  // versions invalidate already-indexed postings/vectors) falls back to
  // the full rebuild EXPLICITLY. At 100 TB the difference is the
  // corpus/delta ratio: one put() no longer costs a corpus-sized
  // rebuild to restore indexed serving.
  //
  // Torn-refresh safety: a 'refresh pending' marker lands BEFORE the
  // append and clears only after (lex: in the same ALTER as; vec:
  // after) the restamp. A crash between append and restamp leaves the
  // marker set; the next refresh sees it and takes the rebuild path
  // instead of re-appending the same delta (which would double-count
  // postings / duplicate candidate ids). Concurrent-maintainer safety:
  // the whole stamp-read → append → restamp leg runs ATOMICALLY under
  // the index artifact's maintenance lock with an in-lock
  // re-classification, so two refreshers racing one stale stamp
  // serialize and the loser returns "fresh" — across threads AND
  // processes (the lock is the cross-process lockfile).

  /** Catch the attached BM25 serving index up to the store's current
    * version. @return "fresh" (stamp already current — nothing to do),
    * "appended" (post-stamp delta appended into the bucketed postings +
    * restamped; serving returns to the indexed route at delta cost), or
    * "rebuilt" (the delta contained deletes/supersedes — beyond the
    * append contract — or a prior refresh was torn, so the index was
    * fully rebuilt via [[buildLexIndex]]). */
  def refreshLexIndex(): String = lexIndex match {
    case None => throw new IllegalStateException(
      "refreshLexIndex: no attached lexical index (attachLexIndex first)")
    case Some((table, stemmed)) =>
      // (exists, stamp, torn-refresh pending, bucket count)
      def snapshot(): (Boolean, Option[Long], Boolean, Int) = {
        val exists = spark.catalog.tableExists(table)
        val meta = if (exists) Some(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))) else None
        (exists,
         meta.flatMap(_.properties.get("graft.store.version")).flatMap(_.toLongOption),
         meta.exists(_.properties.get("graft.refresh.pending").contains("1")),
         meta.flatMap(_.bucketSpec.map(_.numBuckets)).getOrElse(16))
      }
      // a vacuum AFTER the stamp purged the very rows this classification
      // reads (a deleted doc's tombstone vanishes from the log, the delta
      // looks empty/append-only, and an append would restamp an index
      // still carrying the ghost postings) — the log cannot answer, so
      // rebuild. `lastVacuumSeq == stampV` is safe: the index was current
      // at the vacuum and compaction is value-neutral for the live view.
      def breaksAppend(stampV: Long, cur: Long): Boolean =
        frames.lastVacuumSeq > stampV ||
        frames.log.filter(
            col("commitSeq") > stampV && col("commitSeq") <= cur)
          .filter(col("status") =!= graft.model.Frame.Active ||
            col("supersedes").isNotNull)
          .limit(1).count() > 0
      def rebuild(nBuckets: Int): String = {
        buildLexIndex(table, stemmed, nBuckets)
        spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
          "('graft.refresh.pending' = '0')")
        "rebuilt"
      }
      val cur0 = currentVersion
      val (exists0, stamp0, pending0, nb0) = snapshot()
      // Unlocked fast paths may only act on STABLE observations. A
      // pending marker or a missing/unreadable stamp seen from OUTSIDE
      // the lock can be another process's healthy in-flight append (the
      // marker is set and cleared inside its locked leg) — classifying
      // it as torn here raced a REBUILD against that append (found by
      // SoakMultiWriter: spurious 'rebuilt' outcomes in an append-only
      // workload). Only a current stamp ("fresh") or a present-stamp
      // delta with deletes/supersedes ("rebuild" — a delta never
      // un-breaks) are lock-free decisions; everything else
      // re-classifies under the lock, where pending genuinely means
      // torn.
      if (!pending0 && stamp0.contains(cur0)) "fresh"
      else if (exists0 && !pending0 && stamp0.isDefined &&
               breaksAppend(stamp0.get, cur0)) rebuild(nb0)
      else {
        // the append leg is ATOMIC under the table's maintenance lock,
        // RE-classified inside it: two maintainers racing one stale
        // stamp serialize, and the loser re-reads the winner's restamp
        // ("fresh") instead of double-appending the same delta
        val outcome = graft.search.Bm25Index.maintenanceLock(spark, table) {
          val cur = currentVersion
          val (exists, stamp, pending, nb) = snapshot()
          if (!pending && stamp.contains(cur)) "fresh"
          else if (!exists || stamp.isEmpty || pending ||
                   breaksAppend(stamp.get, cur)) "needs_rebuild"
          else {
            // bound the delta by BOTH stamps so the restamp covers
            // exactly the appended rows even if a foreign writer
            // commits mid-refresh
            val delta = frames.log.filter(
              col("commitSeq") > stamp.get && col("commitSeq") <= cur)
            spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
              "('graft.refresh.pending' = '1')")
            // a track-partitioned table's delta must land in the right
            // partition directories — carry the frames' track through
            val tracked = spark.table(table).columns.contains("track")
            graft.search.Bm25Index.appendUnlocked(
              delta.select(col("id") +:
                coalesce(col("text"), lit("")).as("text") +:
                (if (tracked) Seq(col("track")) else Nil): _*),
              "id", "text", table, stemmed, nb,
              trackCol = if (tracked) Some("track") else None)
            // restamp + clear in ONE catalog update: either both land
            // (refresh complete) or neither (marker still set → rebuild)
            spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
              s"('graft.store.version' = '$cur', 'graft.refresh.pending' = '0')")
            lexFreshCache = None
            "appended"
          }
        }
        if (outcome == "needs_rebuild") rebuild(nb0) else outcome
      }
  }

  /** Can the stamped postings table catch up by APPEND? — the doctor's
    * plan-time probe, the same classification [[refreshLexIndex]] runs:
    * true = the post-stamp delta is append-only; false = a rebuild is
    * needed (missing/unparseable stamp, torn-refresh marker, or
    * deletes/supersedes in the delta). One limit(1) count over the
    * commitSeq-filtered log. */
  private[api] def lexDeltaAppendable(table: String): Boolean =
    tableStamp(table) match {
      case Some((Some(stamp), false)) =>
        frames.lastVacuumSeq <= stamp && // else the log is purged past the stamp
        frames.log.filter(
            col("commitSeq") > stamp && col("commitSeq") <= currentVersion)
          .filter(col("status") =!= graft.model.Frame.Active ||
            col("supersedes").isNotNull)
          .limit(1).count() == 0
      case _ => false // missing table, unparseable stamp or torn refresh
    }

  /** the lex freshness check, with the [[healOnRead]] rung in front: a
    * stale stamp whose delta is append-only heals via the O(delta)
    * refresh and serves indexed; anything else (deletes, supersedes,
    * vacuumed-past deltas, torn markers) reports stale and the caller
    * falls back to the corpus — a read never runs a rebuild. (A foreign
    * writer racing between the probe and the refresh could still push
    * the refresh to its rebuild path; the refresh lock re-classifies, so
    * the result is correct either way — the probe is the cost bound for
    * the single-writer case, not a semantic gate.) */
  /** is `anchor`'s maintenance lock currently unheld? — the read-path
    * heal's cheap skip probe: if a peer is mid-maintenance, the read
    * serves corpus NOW instead of queueing up to the full acquire
    * timeout behind it (the peer's restamp serves the next read
    * indexed anyway). One FS existence check; non-atomic by design —
    * the refresh keeps its own lock for correctness, and the
    * StoreLockedException catch below backstops the race window. */
  private def maintenanceIdle(anchor: String): Boolean =
    graft.store.StoreLock.currentOwner(spark, anchor).isEmpty

  private def lexLockAnchor(table: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/" + table

  private def lexFreshOrHealed(table: String): Boolean =
    lexIndexFresh(table) ||
      (healOnRead && maintenanceIdle(lexLockAnchor(table)) &&
        lexDeltaAppendable(table) && {
        // the heal is best-effort INSIDE a read: under maintenance-lock
        // contention (N writers racing one artifact) the refresh can
        // time out on acquire — a READ must degrade to the corpus path,
        // never die for maintenance it didn't need (the 5-writer soak
        // killed a reader exactly here before this catch)
        try { refreshLexIndex(): Unit } catch {
          case _: graft.store.StoreLock.StoreLockedException => ()
        }
        lexIndexFresh(table)
      })

  private def vecStampPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_GRAFT_STORE_VERSION")
  private def vecPendingPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_GRAFT_REFRESH_PENDING")
  private def hfs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Outer None = stamp file ABSENT (the index never participated in
    * serving — not stale, nothing to heal). Inner None = stamp file
    * PRESENT but unreadable/unparseable — a torn or corrupt stamp, which
    * must read as STALE (serving already falls back to the corpus on the
    * string compare; without this distinction the doctor would never
    * plan the refresh that re-stamps it and the index stays silently
    * unserved until a manual rebuild). */
  private def readVecStampRaw(path: String): Option[Option[Long]] = {
    val fs = hfs(path)
    try {
      if (!fs.exists(vecStampPath(path))) None
      else Some {
        val in = fs.open(vecStampPath(path))
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        s.toLongOption
      }
    } catch {
      // exists() succeeded but the read failed → present-but-unreadable;
      // if even exists() throws, surface as absent (nothing provable)
      case scala.util.control.NonFatal(_) =>
        try { if (fs.exists(vecStampPath(path))) Some(None) else None }
        catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  private def readVecStamp(path: String): Option[Long] =
    readVecStampRaw(path).flatten

  /** nprobe of the ATTACHED vector index, if `path` is it — the doctor
    * consults this so staleness healing only applies to an index the
    * facade actually serves from (a standalone artifact has no serving
    * stamp contract) */
  private[api] def attachedVec(path: String): Option[Int] =
    vecIndex.collect { case (p, np) if p == path => np }

  /** can the stamped IVF index catch up by APPEND? — the vector twin of
    * [[lexDeltaAppendable]] (same classification [[refreshVecIndex]]
    * runs): false on a missing/unparseable stamp, a torn-refresh marker,
    * deletes/supersedes in the delta, or a vacuum past the stamp. */
  private[api] def vecDeltaAppendable(path: String): Boolean = {
    if (!graft.vector.IvfIndex.exists(spark, path)) return false
    val stamp = readVecStamp(path)
    if (stamp.isEmpty || hfs(path).exists(vecPendingPath(path))) false
    else if (frames.lastVacuumSeq > stamp.get) false
    else frames.log.filter(
        col("commitSeq") > stamp.get && col("commitSeq") <= currentVersion)
      .filter(col("status") =!= graft.model.Frame.Active ||
        col("supersedes").isNotNull)
      .limit(1).count() == 0
  }

  /** [[vecServingHandle]] with the [[healOnRead]] rung — see
    * [[lexFreshOrHealed]] for the contract */
  private def vecHandleOrHealed(path: String): Option[graft.vector.IvfIndex.Handle] =
    vecServingHandle(path).orElse {
      if (healOnRead && maintenanceIdle(path) && vecDeltaAppendable(path)) {
        // best-effort inside a read — see lexFreshOrHealed: a contended
        // maintenance lock must degrade the read to corpus, not kill it
        try { refreshVecIndex(): Unit } catch {
          case _: graft.store.StoreLock.StoreLockedException => ()
        }
        vecServingHandle(path)
      } else None
    }

  /** is the serving stamp of an attached vector index behind the store
    * (or a refresh torn)? — the doctor's vec_index_stale probe. An
    * UNSTAMPED index is not "stale": it never participated in serving.
    * A stamp that is present but unparseable IS stale (see
    * [[readVecStampRaw]] — the doctor must heal it). */
  private[api] def vecStampStale(path: String): Boolean =
    readVecStampRaw(path).exists(_.forall(_ != currentVersion)) ||
      hfs(path).exists(vecPendingPath(path))

  /** Catch the attached IVF serving index up to the store: new document
    * frames past the stamp are embedded and appended as a committed
    * delta under the STANDING codebook (no retrain — drift-triggered
    * retraining stays the doctor's job), then the stamp advances and
    * ask()'s vector rung routes back through the index. Same
    * return/fallback contract as [[refreshLexIndex]]; the rebuild path
    * retrains via [[buildVecIndex]] with the index's own cluster count.
    * @param rebuildIters Lloyd iterations if a full rebuild is forced */
  def refreshVecIndex(rebuildIters: Int = 2): String = vecIndex match {
    case None => throw new IllegalStateException(
      "refreshVecIndex: no attached vector index (attachVecIndex first)")
    case Some((path, nprobe)) =>
      val fs = hfs(path)
      // (index exists, stamp, torn-refresh marker)
      def snapshot(): (Boolean, Option[Long], Boolean) =
        (graft.vector.IvfIndex.exists(spark, path), readVecStamp(path),
         fs.exists(vecPendingPath(path)))
      // vacuum-blindness guard — see refreshLexIndex's breaksAppend
      def breaksAppend(stampV: Long, cur: Long): Boolean =
        frames.lastVacuumSeq > stampV ||
        frames.log.filter(
            col("commitSeq") > stampV && col("commitSeq") <= cur)
          .filter(col("status") =!= graft.model.Frame.Active ||
            col("supersedes").isNotNull)
          .limit(1).count() > 0
      def rebuild(exists: Boolean): String = {
        val k = if (exists)
          graft.vector.IvfIndex.read(spark, path).centroids.size else 4
        buildVecIndex(path, k = math.max(k, 1), iters = rebuildIters,
          nprobe = nprobe)
        fs.delete(vecPendingPath(path), false)
        "rebuilt"
      }
      val cur0 = currentVersion
      val (exists0, stamp0, pending0) = snapshot()
      // unlocked fast paths act on STABLE observations only — see
      // refreshLexIndex (pending/unreadable-stamp must classify under
      // the lock, or a peer's in-flight append reads as torn)
      if (exists0 && !pending0 && stamp0.contains(cur0)) "fresh"
      else if (exists0 && !pending0 && stamp0.isDefined &&
               breaksAppend(stamp0.get, cur0)) rebuild(exists0)
      else {
        // ATOMIC append leg (see refreshLexIndex): re-classify under the
        // index's maintenance lock so racing maintainers serialize
        val outcome = graft.vector.IvfIndex.maintenanceLock(spark, path) {
          val cur = currentVersion
          val (exists, stamp, pending) = snapshot()
          if (exists && !pending && stamp.contains(cur)) "fresh"
          else if (!exists || stamp.isEmpty || pending ||
                   breaksAppend(stamp.get, cur)) "needs_rebuild"
          else {
            val delta = frames.log.filter(
              col("commitSeq") > stamp.get && col("commitSeq") <= cur)
            val e = activeEmbedder
            val embedUdf = udf((t: String) => e.embed(if (t == null) "" else t))
            // the vector index covers DOCUMENT frames only (same
            // population as embeddingsTable); delta is driver-small
            val deltaVecs = delta.filter(col("role") === "document")
              .select(col("id"),
                embedUdf(coalesce(col("text"), lit(""))).as("vector"))
              .localCheckpoint()
            if (deltaVecs.isEmpty) {
              val out = fs.create(vecStampPath(path), true)
              out.write(cur.toString.getBytes("UTF-8")); out.close()
            } else {
              fs.create(vecPendingPath(path), true).close()
              graft.vector.IvfIndex.appendUnlocked(spark, path, deltaVecs,
                "id", "vector"): Unit
              // restamp FIRST, then clear the marker: a crash in between
              // costs one spurious rebuild, never a double-append
              val out = fs.create(vecStampPath(path), true)
              out.write(cur.toString.getBytes("UTF-8")); out.close()
              fs.delete(vecPendingPath(path), false)
            }
            vecHandleCache = None
            "appended"
          }
        }
        if (outcome == "needs_rebuild")
          rebuild(graft.vector.IvfIndex.exists(spark, path))
        else outcome
      }
  }

  // ---- query ----
  /** @param acl optional per-caller ACL check, applied post-ranking over
    *        the bounded hit page exactly where the reference applies it
    *        (src/memvid/search/mod.rs:267-276): Enforce drops disallowed
    *        hits (the page may shrink below topK, as there), Audit keeps
    *        them annotated. Either model: [[graft.acl.Acl.Request]]
    *        (rule table) or [[graft.acl.Acl.MetadataCheck]] (the
    *        reference's per-frame policy-metadata contract — evaluated
    *        against the frames' `extraMetadata`, deny-by-default on a
    *        missing/invalid policy; Enforce re-ranks survivors densely
    *        as `acl_rank`). Both touch only the topK hits. */
  /** @param noSketch opt OUT of the sketch pre-filter for this call
    *        (reference `no_sketch`, search/mod.rs:191): with a fresh
    *        attached sketch table the filter is ON by default — BM25
    *        ranks only the hamming-near candidates (≥ max(topK·10, 500)
    *        kept), the reference's recall-for-speed trade. */
  def search(query: String, topK: Int = 10,
             acl: Option[graft.acl.Acl.Check] = None,
             noSketch: Boolean = false): DataFrame = {
    lastSketchApplied = false
    // engine selection mirrors the reference (search/mod.rs:47-57): with
    // an attached lexical index, queries get BM25 ranking — served from
    // the postings table while the stamp is fresh, recomputed from the
    // corpus (same scores) while it is stale; without one, the fallback
    // occurrence scorer
    val ranked = lexIndex match {
      case Some((t, stemmed)) =>
        val opts = Search.Options(topK = topK,
          engine = Search.BM25Engine, stemmed = stemmed)
        if (lexFreshOrHealed(t)) {
          lastSearchRoute = "indexed"
          // the sketch pre-filter rides the indexed route's allowed-id
          // semi-join; it applies only with TEXT terms to rank (the
          // reference's has_text_terms guard), only when the query has
          // tokens to sketch, and only while the sketch covers the whole
          // store (stale sketch = missing newest docs — skipping is the
          // lossless direction)
          val allowed = for {
            sk <- sketchTable if !noSketch
            if graft.search.QExpr
              .words(graft.search.QueryParser.parse(query)).exists(_.nonEmpty)
            qh <- SketchFilter.queryHash(query)
            live <- liveSketch(sk)
          } yield {
            lastSketchApplied = true
            live match {
              case Some(l) => l.candidates(qh, topK).toSeq.toDF("doc_id")
              case None => SketchFilter.candidates(liveSketchRows(sk), qh, topK)
            }
          }
          Search.searchIndexed(frames.latestActive, "id", frameCols, query,
            t, opts, allowedIds = allowed)
        } else {
          lastSearchRoute = "corpus"
          Search.search(frames.latestActive, "id", frameCols, query, opts)
        }
      case None =>
        lastSearchRoute = "corpus"
        Search.search(frames.latestActive, "id", frameCols, query,
          Search.Options(topK = topK))
    }
    val hits = acl match {
      case None => ranked
      case Some(check) =>
        // the ACL decoration needs ONE frame column (uri / policy
        // metadata) for the BOUNDED hit page only — pin the page once
        // and push its id list into the frame scan (the snippet-lookup
        // shape) instead of joining the page against a corpus-column
        // scan per query. Values are identical: the join was already
        // id-equi over the page's ids; the isin only prunes the scan.
        // One collect serves both consumers (id list + local relation) —
        // a localCheckpoint + collect pair cost two jobs here (r19).
        val pageRows = ranked.collect()
        val page = spark.createDataFrame(
          java.util.Arrays.asList(pageRows: _*), ranked.schema)
        val idIdx = ranked.schema.fieldIndex("id")
        val ids = pageRows.map(_.getLong(idIdx)).toSeq
        def withFrameCol(c: org.apache.spark.sql.Column, as: String) =
          page.join(
            frames.latestActive.filter(col("id").isin(ids: _*))
              .select(col("id"), c.as(as)), Seq("id"), "left")
        check match {
          case req: graft.acl.Acl.Request =>
            graft.acl.Acl(withFrameCol(col("uri"), "__acl_uri"),
                col("__acl_uri"), req.rules, req.principal,
                req.mode, req.defaultAllow)
              .drop("__acl_uri")
              .orderBy(col("score").desc, col("id"))
          case mc: graft.acl.Acl.MetadataCheck =>
            // a hit with no metadata row degrades to NULL policy → the
            // evaluator's missing_metadata deny (reference frame_by_id
            // Err → deny_missing_metadata, acl.rs:118-121)
            graft.acl.Acl.applyMetadata(
                withFrameCol(col("extraMetadata"), "__acl_meta"),
                col("__acl_meta"), mc.ctx, mc.mode,
                rankBy = Seq(col("score").desc, col("id")))
              .drop("__acl_meta")
              .orderBy(col("score").desc, col("id"))
        }
    }
    if (recorder.isRecording) {
      // materialize ONCE (topK-bounded): the recorded id list and the
      // returned frame come from the same execution — the search job
      // doesn't run twice and an unstable tie can't diverge. Recording
      // happens AFTER ACL, like the reference (mod.rs:282-291 records
      // the post-ACL response hits). One collect feeds both the recorded
      // ids and the returned local relation (was localCheckpoint +
      // collect — two jobs per recorded search, r19).
      val rows = hits.collect()
      val idIdx = hits.schema.fieldIndex("id")
      recorder.recordFind(query, "lex", rows.map(_.getLong(idIdx)).toSeq)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), hits.schema)
    } else hits
  }

  def ask(question: String, topK: Int = 5,
          acl: Option[graft.acl.Acl.Check] = None): Ask.Response = {
    // a FRESH attached IVF index turns on the vector rung: candidates
    // come from the nprobe index search (reference ≥1000-vector ANN
    // switch, src/vec.rs:23) and the semantic re-rank reads the same
    // persisted vectors; stale or absent → the pre-attach ladder
    val vecServing = vecIndex.flatMap { case (p, nprobe) =>
      vecHandleOrHealed(p).map { h =>
        (h.assigned.select(col("id"), col("vector")),
         (qv: Array[Float], k: Int) => h.search("id", "vector", qv, k, nprobe))
      }
    }
    lastAskVecRoute = if (vecServing.isDefined) "indexed" else "corpus"
    // an attached lexical index routes ask's LEXICAL rungs through the
    // same engine selection search() uses (reference: ask retrieves
    // through the live engine, search/mod.rs:47-57): BM25 from the
    // postings while the stamp is fresh, corpus-BM25 while stale — the
    // scores are bit-equal either way, only WHERE the work happens moves
    val lexServing: Option[(String, Int) => DataFrame] =
      lexIndex.map { case (t, stemmed) =>
        (q: String, k: Int) => {
          val opts = Search.Options(topK = k, withSnippets = false,
            engine = Search.BM25Engine, stemmed = stemmed)
          if (lexFreshOrHealed(t)) {
            lastAskLexRoute = "indexed"
            Search.searchIndexed(frames.latestActive, "id", frameCols, q,
              t, opts)
          } else {
            lastAskLexRoute = "corpus"
            Search.search(frames.latestActive, "id", frameCols, q, opts)
          }
        }
      }
    if (lexServing.isEmpty) lastAskLexRoute = "corpus"
    val resp = Ask.ask(spark, Ask.Corpus(frames.latestActive, "id", frameCols,
        embeddings = vecServing.map(_._1),
        meta = Some(col("extraMetadata")),
        // relational questions route through the QueryPlanner over the
        // store's memory cards (reference QueryPlanner + hybrid_search)
        cards = Some(cards),
        ann = vecServing.map(_._2),
        lexSearch = lexServing),
      question, if (vecServing.isDefined) Some(activeEmbedder) else embedder,
      topK, acl)
    if (recorder.isRecording)
      recorder.recordAsk(question, "local", "graft-extractive", 0L,
        resp.citations.map(_.id))
    resp
  }

  /** A18/T3 timeline: time-ordered frames with preview */
  def timeline(since: Option[Timestamp] = None, until: Option[Timestamp] = None,
               limit: Int = 100, reverse: Boolean = true): DataFrame = {
    var df = frames.latestActive.filter(col("role") === "document")
    since.foreach(t => df = df.filter(col("timestamp") >= t))
    until.foreach(t => df = df.filter(col("timestamp") <= t))
    df.select(col("id"), col("uri"), col("timestamp"),
        substring(coalesce(col("text"), lit("")), 1, 120).as("preview"))
      .orderBy(if (reverse) col("timestamp").desc else col("timestamp").asc, col("id"))
      .limit(limit)
  }

  // ---- vector search over hash-embedded frames ----
  private def activeEmbedder: Embedder =
    embedder.getOrElse(new graft.ask.HashEmbedder(64))

  /** enrichment-stage embedding build: one vector per live document frame.
    * The embedder runs once per DISTINCT content hash, not per frame —
    * the reference's embedding LRU-cache-by-text (text_embed.rs:310-330,
    * SURVEY §4 O11) expressed as dropDuplicates + join back; duplicated
    * payloads cost one inference at any corpus size. */
  def embeddingsTable: DataFrame = {
    graft.Sessions.ensureFunctions(spark)
    val e = activeEmbedder
    val embedUdf = udf((t: String) => e.embed(if (t == null) "" else t))
    // 128-bit content hash: a 64-bit-or-less key (polyHash) would collide
    // by the birthday bound at ~50k docs and silently give one doc the
    // other's embedding; md5 keeps the dedup deterministic and exact for
    // any realistic corpus
    val docs = frames.latestActive.filter(col("role") === "document")
      .select(col("id"), coalesce(col("text"), lit("")).as("__text"))
      .withColumn("__h", md5(col("__text").cast("binary")))
    val uniq = docs.select("__h", "__text").dropDuplicates("__h")
      .withColumn("vector", embedUdf(col("__text")))
      .select("__h", "vector")
    docs.join(uniq, "__h").select(col("id"), col("vector"))
  }

  /** semantic search: cosine k-NN of the query embedding (vec path A4) */
  def vectorSearch(query: String, topK: Int = 10): DataFrame = {
    graft.functions.F.ensureRegistered(spark)
    val qv = org.apache.spark.sql.functions.typedlit(activeEmbedder.embed(query))
    embeddingsTable
      .withColumn("score", graft.functions.F.cosineSim(col("vector"), qv))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  /** frames most similar to an existing frame (similar-documents) */
  def similar(id: Long, topK: Int = 10): DataFrame = {
    graft.functions.F.ensureRegistered(spark)
    val emb = embeddingsTable
    val q = emb.filter(col("id") === id).select("vector").head.getSeq[Float](0).toArray
    emb.filter(col("id") =!= id)
      .withColumn("score", graft.functions.F.cosineSim(col("vector"),
        org.apache.spark.sql.functions.typedlit(q)))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  // ---- structured memory ----
  def cards: DataFrame = {
    // a missing table with a .__rebuild/.__old sibling is a crashed
    // repairCards swap — recover the orphan instead of serving empty
    // (ADVICE r19); no-cost for healthy stores (guarded on absence)
    if (!new java.io.File(cardsPath).exists) {
      val dst = new org.apache.hadoop.fs.Path(cardsPath)
      val hfs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(s"$cardsPath.__rebuild", s"$cardsPath.__old").foreach { cand =>
        val p = new org.apache.hadoop.fs.Path(cand)
        if (!hfs.exists(dst) && hfs.exists(p)) hfs.rename(p, dst): Unit
      }
    }
    // explicit schema (the table is only ever written with this shape):
    // skips the 1-task footer-inference job per open (r19)
    if (new java.io.File(cardsPath).exists)
      spark.read.schema(Graft.cardsSchema).parquet(cardsPath)
    else Seq.empty[(Long, String, String, String, String, String, Timestamp, Long)]
      .toDF("cardId", "entity", "slot", "value", "kind", "relation", "ts", "sourceFrameId")
  }

  def remember(entity: String, slot: String, value: String, relation: String = "sets",
               ts: Timestamp = new Timestamp(1700000000000L)): Unit =
    Seq((ts.getTime * 1000 + math.abs((entity + slot + value).hashCode % 1000).toLong,
         entity, slot, value, "fact", relation, ts, -1L))
      .toDF("cardId", "entity", "slot", "value", "kind", "relation", "ts", "sourceFrameId")
      .coalesce(1) // one file per driver-resident card batch (r20 §6)
      .write.mode(SaveMode.Append).parquet(cardsPath)

  def getCurrent(entity: String, slot: String): Option[String] =
    MemoryCards.getCurrent(cards)
      .filter(col("entity") === entity && col("slot") === slot)
      .select("value").collect().headOption.map(_.getString(0))

  def aggregateSlot(entity: String, slot: String): Seq[String] =
    MemoryCards.aggregateSlot(cards)
      .filter(col("entity") === entity && col("slot") === slot)
      .select("values_newest_first").collect().headOption
      .map(_.getString(0).split(",").toSeq).getOrElse(Seq.empty)

  def stats: Map[String, Long] = {
    val (total, live, tomb) = frames.stats
    Map("total_versions" -> total, "live_frames" -> live, "tombstoned" -> tomb)
  }

  // ---- doctor: integrity scan + derived-table rebuild (SURVEY O17;
  // reference doctor.rs rebuilds corrupted indexes — here the frames log
  // is the source of truth and every derived table can be re-derived) ----

  /** consistency counters over the store's tables. The latest-active
    * view (a per-id window + supersedes anti-join over the log) feeds
    * three counters — pin it for the probe so the view is computed once,
    * not three times (at 100 TB that is two full log shuffles saved per
    * doctor run); values are identical either way. */
  def doctor: Map[String, Long] = doctorCounters()

  /** [[doctor]] plus caller-supplied probe branches, ALL as one union
    * job (r19 optimization, guide §2.4 "remove shuffles/actions
    * outright"): the six store counters used to run as three separate
    * actions (log aggregate, live count, 3-way counter union) and the
    * doctor's per-index staleness counts as one action EACH — and the
    * doctor probes this 4× per run (dry plan, dry verify, apply plan,
    * apply verify). Every branch is the same aggregate it was
    * standalone; only the number of Spark actions changes (5+ → 1 per
    * probe). `extra` receives the persisted live view so staleness
    * branches reuse it instead of recomputing the live view;
    * each returned (key, df) is counted — count(df) joins the union.
    * Keys whose semantics are "present only when positive" are the
    * CALLER's post-filter; this returns every branch's count. */
  private[api] def doctorCounters(
      extra: DataFrame => Seq[(String, DataFrame)] = _ => Nil)
      : Map[String, Long] = {
    val live = frames.latestActive
      .select(col("id"), col("parentId"), col("role"), col("uri"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val liveDocIds = live.filter(col("role") === "document").select(col("id"))
      // chunks whose parent document is gone (e.g. tombstoned parent)
      val orphanChunks = live.filter(col("role") === "chunk")
        .join(liveDocIds.withColumnRenamed("id", "parentId"), Seq("parentId"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orphan_chunks").as("k"), col("n"))
      // cards pointing at frames that never existed in the log (facade
      // `remember` uses the -1 sentinel deliberately — not dangling)
      val danglingCards = cards.filter(col("sourceFrameId") >= 0)
        .join(frames.log.select(col("id").as("sourceFrameId")), Seq("sourceFrameId"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("dangling_cards").as("k"), col("n"))
      val dupLiveUris = live.filter(col("role") === "document")
        .groupBy(col("uri")).count().filter(col("count") > 1)
        .agg(count(lit(1)).as("n"))
        .select(lit("duplicate_live_uris").as("k"), col("n"))
      // the two log-shaped counters share one scan (the former
      // FrameStore.stats aggregate), reshaped to (k, n) rows
      val logCounters = frames.log.agg(
          count(lit(1)).as("tv"),
          countDistinct(when(col("status") === graft.model.Frame.Tombstoned,
            col("id"))).as("tb"))
        .select(explode(map(
          lit("total_versions"), col("tv"),
          lit("tombstoned"), col("tb"))).as(Seq("k", "n")))
      val liveFrames = live.agg(count(lit(1)).as("n"))
        .select(lit("live_frames").as("k"), col("n"))
      val extraBranches = extra(live).map { case (key, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(key).as("k"), col("n"))
      }
      (Seq(orphanChunks, danglingCards, dupLiveUris,
          logCounters, liveFrames) ++ extraBranches)
        .reduce(_ unionByName _)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    } finally live.unpersist(blocking = false): Unit
  }

  /** ordered repair plan WITHOUT executing (reference doctor_plan,
    * doctor.rs:76-88 + DoctorOptions.dry_run) — see [[Doctor]] */
  def doctorPlan(opts: Doctor.DoctorOptions = Doctor.DoctorOptions(),
                 lexTable: Option[String] = None,
                 vecPath: Option[String] = None,
                 vecIdCol: String = "vec_id",
                 vecCol: String = "embedding"): Doctor.Report =
    Doctor.plan(this, opts, lexTable, vecPath, vecIdCol, vecCol)

  /** plan + execute + verify (reference doctor_run, doctor.rs:162-173);
    * dry_run plans and probes but mutates nothing.
    * @param lexStemmed the stemming the BM25 index was BUILT with — a
    *        doctor rebuild must reproduce the index's own analyzer, not
    *        silently change scores */
  def doctorRun(opts: Doctor.DoctorOptions = Doctor.DoctorOptions(),
                lexTable: Option[String] = None,
                vecPath: Option[String] = None,
                lexStemmed: Boolean = false,
                vecIdCol: String = "vec_id",
                vecCol: String = "embedding"): Doctor.Report =
    Doctor.run(this, opts, lexTable, vecPath, lexStemmed, vecIdCol, vecCol)

  /** rebuild the memory-cards table from the LIVE frames — the doctor's
    * index-rebuild analogue: derived state recomputes from the log, so
    * cards for deleted/superseded frames disappear. One distributed pass
    * (rules UDF + posexplode); nothing is collected. Returns card count. */
  def repairCards(): Long = {
    val extractUdf = udf((t: String) =>
      graft.ingest.Enrich.extractCards(if (t == null) "" else t)
        .map(f2 => (f2.entity, f2.slot, f2.value)))
    val rebuilt = frames.latestActive.filter(col("role") === "document")
      .select(col("id"), col("timestamp"),
        posexplode(extractUdf(coalesce(col("text"), lit("")))).as(Seq("__i", "__fact")))
      .select((shiftleft(col("id"), 20) + col("__i")).as("cardId"), // same stride as put()
        col("__fact._1").as("entity"), col("__fact._2").as("slot"),
        col("__fact._3").as("value"), lit("fact").as("kind"),
        lit("sets").as("relation"), col("timestamp").as("ts"),
        col("id").as("sourceFrameId"))
    // rewrite via temp dir: the rebuild reads the same store it replaces.
    // The swap is an FS rename (the vacuum() pattern) — the former
    // read-tmp-and-rewrite was a second full pass over the rebuilt table
    // for no value (guide §1.2: don't compute things you throw away).
    // Hadoop FS, not java.io.File: the store path may be non-local (hdfs/s3a)
    val tmp = s"$cardsPath.__rebuild"
    rebuilt.write.mode(SaveMode.Overwrite).parquet(tmp)
    val n = spark.read.parquet(tmp).count()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val dstPath = new org.apache.hadoop.fs.Path(cardsPath)
    val oldPath = new org.apache.hadoop.fs.Path(s"$cardsPath.__old")
    val hfs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rename-rename-delete (ADVICE r19): the former delete(dst)+rename
    // left NO cards dir if crashed between the two — cards() then
    // silently served empty. Now the old table is renamed ASIDE first,
    // and [[cards]] recovers an orphan .__rebuild/.__old if a crash
    // lands between the renames.
    hfs.delete(oldPath, true) // clear residue from a prior crashed swap
    if (hfs.exists(dstPath) && !hfs.rename(dstPath, oldPath))
      throw new java.io.IOException(
        s"repairCards: rename $cardsPath -> $oldPath failed")
    if (!hfs.rename(tmpPath, dstPath)) {
      if (hfs.exists(oldPath)) hfs.rename(oldPath, dstPath): Unit // restore
      throw new java.io.IOException(s"repairCards: rename $tmp -> $cardsPath failed")
    }
    hfs.delete(oldPath, true)
    n
  }

  // ---- training-data pipeline ops over the live corpus ----
  private def liveDocs: DataFrame =
    frames.latestActive.filter(col("role") === "document")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))

  /** verified near-duplicate pairs among live documents (MinHash+LSH +
    * exact-Jaccard verification) */
  def nearDuplicates(threshold: Double = 0.7): DataFrame =
    graft.dedup.Dedup.verifiedNearDuplicates(liveDocs, "id", "text", threshold)

  /** live documents sharing ≥ minShared word-shingles with any probe doc
    * (benchmark decontamination; probe is broadcast) */
  def contaminatedBy(probe: DataFrame, probeIdCol: String, probeTextCol: String,
                     minShared: Int = 5): DataFrame =
    graft.dedup.Dedup.contaminationCheck(
      liveDocs, probe.select(col(probeIdCol).as("id"), col(probeTextCol).as("text")),
      "id", "text", minShared = minShared)

  /** Duplicate CLUSTERS (not just pairs) among live documents, with one
    * elected keeper per cluster: verified MinHash near-dup pairs →
    * connected components → longest-content canonical election. The
    * end-to-end "which documents do I drop" answer a curation run wants
    * (pipeline/Curation over this store's own corpus).
    * @return (doc_id, component, canonical_id, is_canonical) */
  def duplicateClusters(threshold: Double = 0.7): DataFrame = {
    val pairs = nearDuplicates(threshold).select("doc_a", "doc_b")
    val labeled = graft.pipeline.Curation.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component"))
      .join(liveDocs.select(col("id").as("doc_id"),
        length(col("text")).as("__len")), "doc_id")
    graft.pipeline.Curation.electCanonical(labeled, "doc_id", "__len")
      .select("doc_id", "component", "canonical_id", "is_canonical")
  }

  /** PageRank over the entity mesh: which entities does this memory orbit?
    * Edges are entity→value card triples (symmetrized). String nodes get
    * 64-bit xxhash64 ids — NOT the mesh sketches' 1e9+7 polynomial key,
    * whose birthday bound silently merges unrelated nodes around ~37k
    * distinct strings (a routine corpus size). A 64-bit space pushes that
    * to ~5e9 strings, and because even "unlikely" must not mean "silently
    * wrong", the id table is checked and the call FAILS LOUDLY on a
    * collision instead of ranking a merged node. The check doubles as the
    * eager materialization of the persisted id table, so both joins below
    * are guaranteed to read the same assignment.
    * @return (name, rank_fp) — top entities by fixed-point rank */
  def entityRank(iterations: Int = 3, topK: Int = 20): DataFrame = {
    val tri = cards.filter(col("entity").isNotNull && col("value").isNotNull)
      .select(col("entity").as("sname"), col("value").as("dname"))
    val ids = tri.select(col("sname").as("name"))
      .union(tri.select(col("dname").as("name")))
      .distinct()
      .select(col("name"), xxhash64(col("name")).as("nid"))
      .persist()
    val nCollisions = ids.groupBy("nid").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L).count()
    if (nCollisions > 0) {
      ids.unpersist()
      throw new IllegalStateException(
        s"entityRank: $nCollisions xxhash64 node-id collisions among distinct " +
        "entity names — ranks would silently merge unrelated nodes")
    }
    val dir = tri
      .join(ids.select(col("name").as("sname"), col("nid").as("src")), "sname")
      .join(ids.select(col("name").as("dname"), col("nid").as("dst")), "dname")
      .select("src", "dst")
    val sym = dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
    val out = graft.graph.GraphAlgos.pageRank(sym, iterations)
      .join(ids.select(col("nid").as("node"), col("name")), "node")
      .select(col("name"), col("rank_fp"))
      .orderBy(col("rank_fp").desc, col("name")).limit(topK)
      .localCheckpoint()
    ids.unpersist()
    out
  }

  /** documents SUBSUMED by another live document (containment ≥ threshold
    * in the sub→super direction) — the asymmetric complement of
    * nearDuplicates for quoted/boilerplate-wrapped content */
  def subsumedDocuments(threshold: Double = 0.75): DataFrame =
    graft.dedup.Dedup.containmentPairs(liveDocs, "id", "text", threshold)

  /** curation-ladder attrition report over live documents: survivors
    * after C4 line/doc rules → Gopher quality rules → CCNet LM tail cut
    * (terciles trained on the structural survivors) */
  def curationFunnel(minKeptLines: Int = 3): DataFrame =
    graft.pipeline.Curation.filterFunnel(liveDocs, "id", "text", minKeptLines)

  /** top-k TF-IDF keywords per live document */
  def keywords(k: Int = 3): DataFrame =
    graft.text.Keywords.tfidfTopK(liveDocs, "id", "text", k)

  /** DSIR-style importance selection of live documents toward a target
    * subset (predicate over document columns): (id, weight, keep) with
    * keep decided at the exact `keepQuantile` percentile */
  def importanceSelect(isTarget: org.apache.spark.sql.Column,
                       keepQuantile: Double = 0.75): DataFrame =
    graft.pipeline.Dsir.select(liveDocs, "id", "text", isTarget,
      keepQuantile = keepQuantile)

  /** train a BPE merge table over the live corpus (rank, lft, rgt,
    * pair_freq) — see text/Bpe */
  def trainTokenizer(rounds: Int = 32): DataFrame =
    graft.text.Bpe.trainMerges(liveDocs, "text", rounds)

  /** per-document token counts under a trained merge table (whitespace
    * vs BPE subtokens) — the packing/budgeting signal */
  def tokenCounts(merges: Seq[(String, String)]): DataFrame =
    graft.text.Bpe.encodeTokenCounts(liveDocs, "id", "text", merges)

  /** SymSpell-repair a (id, typo) relation against a dictionary trained
    * on the live corpus */
  def spellRepair(typos: DataFrame, maxEdit: Int = 1): DataFrame = {
    val dict = graft.text.SpellRepair.corpusDictionary(liveDocs, "text")
    graft.text.SpellRepair.repair(
      typos.withColumnRenamed(typos.columns.head, "doc_id"), dict, maxEdit).toDF()
  }

  /** current commit watermark — capture before a batch of writes, then
    * [[changesSince]] that value to get the delta. Served from the
    * store's persisted `_graft_seq` watermark when present (one FS read,
    * no log scan, and it sees FOREIGN writers' commits); a pre-watermark
    * legacy log falls back to the scan. A freshly-created store has an
    * empty commit log (max → NULL): return 0, which `asOf` treats as
    * "before everything" (commitSeq values start at 1). Note the
    * watermark survives [[vacuum]] while the log's own max shrinks to
    * the max LIVE commitSeq — the watermark is the correct version here
    * (compaction is value-neutral for the live view, so index stamps
    * keyed on it stay valid across a vacuum instead of forcing a
    * spurious rebuild). */
  def currentVersion: Long =
    frames.persistedWatermark match {
      case -1L =>
        frames.log.agg(coalesce(max(col("commitSeq")), lit(0L))).head.getLong(0)
      case w => w
    }

  /** snapshot delta vs an earlier commit: every live uri classified
    * added/removed/changed/unchanged (incremental-reprocessing input) */
  def changesSince(commitSeq: Long): DataFrame =
    graft.store.SnapshotDiff.diff(frames.asOf(commitSeq), frames.latestActive,
      "uri", "text")

  /** per-document quality signals: token counts + duplicate-ngram fraction */
  def qualityReport(): DataFrame = {
    graft.Sessions.ensureFunctions(spark)
    import graft.functions.F
    liveDocs
      .withColumn("__toks", F.tokens(col("text")))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("__sh", F.shinglesFromTokens(col("__toks"), 3))
      .withColumn("dup_ngram_fraction",
        when(size(col("__sh")) > 0,
          lit(1.0) - size(array_distinct(col("__sh"))).cast("double") / size(col("__sh")))
        .otherwise(0.0))
      .select("id", "n_tokens", "dup_ngram_fraction")
  }
}

object Graft {
  /** the cards table's on-disk schema (every writer emits this shape) */
  private[api] val cardsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("cardId", LongType), StructField("entity", StringType),
      StructField("slot", StringType), StructField("value", StringType),
      StructField("kind", StringType), StructField("relation", StringType),
      StructField("ts", TimestampType), StructField("sourceFrameId", LongType)))
  }
}
