package graft.api

import java.sql.Timestamp
import graft.ask.{Ask, Embedder}
import graft.memory.MemoryCards
import graft.search.{FrameCols, Search, SketchFilter}
import graft.store.{FrameStore, Fs, Generations}
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
  *        [[Graft.refreshLexIndex]]/[[Graft.refreshVecIndex]]/
  *        [[Graft.refreshSketchTable]] — an O(delta) append per put, and
  *        append-only workloads never leave the indexed route. The delta
  *        is the put's own rows, still held on the driver, so no refresh
  *        scans or re-reads the log (the same holds for an explicit
  *        refresh right after the put). Off by default: batch pipelines
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
      if (lex.isDefined) bestEffort(refreshLexIndex(): Unit)
      if (vec.isDefined) bestEffort(refreshVecIndex(): Unit)
      if (sketch.isDefined) bestEffort(refreshSketchTable(): Unit)
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
        .write.mode(SaveMode.Append).parquet(cardsDir)
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
        .write.mode(SaveMode.Append).parquet(cardsDir)
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

  // ---- persisted-index serving: the BM25 postings table, the sketch
  // table and the IVF index, each a [[ServingArtifact]] (stamp, torn-
  // refresh marker, maintenance lock, append and rebuild — see its
  // scaladoc). Below, once for all three: the per-key serving cache,
  // the refresh state machine, the doctor's stamp and catch-up probes and
  // the healOnRead rung. ----

  private var lex: Option[ServingArtifact.LexPostings] = None
  private var vec: Option[ServingArtifact.IvfDir] = None
  private var sketch: Option[ServingArtifact.SketchTable] = None

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
    val a = new ServingArtifact.LexPostings(this, table, stemmed)
    a.build(nBuckets, partitionByTrack, withPositions)
    lex = Some(a)
  }

  /** Attach an existing postings table for serving (no build). Serving
    * uses it only while its version stamp matches the store. */
  def attachLexIndex(table: String, stemmed: Boolean = true): Unit =
    lex = Some(new ServingArtifact.LexPostings(this, table, stemmed))

  def detachLexIndex(): Unit = lex = None

  /** the ATTACHED postings table, if `table` is it — the doctor rebuilds
    * a facade-served index through [[buildLexIndex]] with its stemming
    * (live frames INCLUDING chunks, restamp, serving returns to the
    * indexed route) and may plan the incremental refresh for it */
  private[api] def attachedLex(table: String): Option[ServingArtifact.LexPostings] =
    lex.filter(_.table == table)

  /** doctor hook: maintenance rewrote an attached index artifact under
    * the same name/path (compact swap, retrain generation) — drop the
    * cached serving verdict/handle so the next query reopens the current
    * artifact instead of a deleted generation */
  private[api] def invalidateIndexCaches(): Unit =
    attachedArtifacts.foreach(_.served = None)

  private[api] def attachedArtifacts: Seq[ServingArtifact[_]] =
    Seq(lex, vec, sketch).flatten

  /** Build (or rebuild) the sketch table over the CURRENT live frames
    * (documents AND chunks — the same population search() ranks), stamp
    * it with the store's commit version, and attach it: search() then
    * pre-filters by default (opt out per call with `noSketch`). The F10
    * pre-filter as FACADE behavior (reference: applied inside search()
    * by default with a `no_sketch` opt-out, src/memvid/search/mod.rs:
    * 190-232 — hamming ≤ 32, keep ≥ max(topK·10, 500)): the shrunken
    * candidate set rides the indexed route's allowedIds semi-join, a
    * recall-for-speed trade exactly like the reference's. */
  def buildSketchTable(table: String): Unit = {
    val a = new ServingArtifact.SketchTable(this, table)
    a.rebuild()
    sketch = Some(a)
  }

  /** Attach an existing sketch table; the pre-filter only applies while
    * its version stamp matches the store (a stale sketch is missing the
    * newest docs' rows — skipping it is the lossless direction). */
  def attachSketchTable(table: String): Unit =
    sketch = Some(new ServingArtifact.SketchTable(this, table))

  def detachSketchTable(): Unit = sketch = None

  /** live-sketch rows above which serving stays in Spark; a test seam */
  private[api] var liveSketchCap: Int = SketchFilter.LiveCap

  /** is a live sketch (or its over-cap verdict) cached? */
  private[api] def liveSketchCached: Boolean = sketch.exists(_.served.isDefined)

  /** Catch the attached sketch table up to the store: sketches of the
    * post-stamp ACTIVE frames append, then the stamp advances. Always
    * O(delta): dead versions' rows are inert, so unlike the lex/vec
    * refresh there is no delete/supersede rebuild case (only a
    * missing/never-stamped/torn table rebuilds).
    * @return "fresh" | "appended" | "rebuilt" */
  def refreshSketchTable(): String = sketch match {
    case None => throw new IllegalStateException(
      "refreshSketchTable: no attached sketch table (attachSketchTable first)")
    case Some(a) => refresh(a, a.rebuild())
  }

  /** did the LAST search() apply the sketch pre-filter? — the gate/spec
    * observable (like lastSearchRoute) */
  @volatile var lastSketchApplied: Boolean = false

  /** the facade-ATTACHED sketch table, if any — the doctor's sketch
    * probe consults this (a standalone table has no serving contract) */
  private[api] def attachedSketch: Option[ServingArtifact.SketchTable] = sketch

  /** Build (or rebuild) the persisted IVF index over the live documents'
    * embeddings, stamp, and attach. Centroids train with Lloyd iterations
    * over the current embedding table (deterministic seed rows). */
  def buildVecIndex(path: String, k: Int = 4, iters: Int = 2,
                    nprobe: Int = 4): Unit = {
    val a = new ServingArtifact.IvfDir(this, path, nprobe, activeEmbedder)
    a.build(k, iters)
    vec = Some(a)
  }

  /** Attach an existing IVF index for ask()'s vector rung; served only
    * while its version stamp matches the store. @param nprobe clusters
    * probed per query (pass the index's cluster count for exact parity
    * with brute force) */
  def attachVecIndex(path: String, nprobe: Int = 4): Unit =
    vec = Some(new ServingArtifact.IvfDir(this, path, nprobe, activeEmbedder))

  def detachVecIndex(): Unit = vec = None

  /** the ATTACHED vector index, if `path` is it — staleness healing only
    * applies to an index the facade actually serves from (a standalone
    * artifact has no serving stamp contract) */
  private[api] def attachedVec(path: String): Option[ServingArtifact.IvfDir] =
    vec.filter(_.path == path)

  /** Catch the attached BM25 serving index up to the store's current
    * version (reference instant-index, src/memvid/search/builders.rs:
    * 12-44). @return "fresh" (stamp already current — nothing to do),
    * "appended" (post-stamp delta appended into the bucketed postings +
    * restamped; serving returns to the indexed route at delta cost), or
    * "rebuilt" (the delta contained deletes/supersedes — beyond the
    * append contract — or a prior refresh was torn, so the index was
    * fully rebuilt in its own layout). */
  def refreshLexIndex(): String = lex match {
    case None => throw new IllegalStateException(
      "refreshLexIndex: no attached lexical index (attachLexIndex first)")
    case Some(a) => refresh(a, a.rebuild())
  }

  /** Catch the attached IVF serving index up to the store: new document
    * frames past the stamp are embedded and appended as a committed
    * delta under the STANDING codebook (no retrain — drift-triggered
    * retraining stays the doctor's job), then the stamp advances and
    * ask()'s vector rung routes back through the index. Same
    * return/fallback contract as [[refreshLexIndex]]; the rebuild path
    * retrains with the index's own cluster count.
    * @param rebuildIters Lloyd iterations if a full rebuild is forced */
  def refreshVecIndex(rebuildIters: Int = 2): String = vec match {
    case None => throw new IllegalStateException(
      "refreshVecIndex: no attached vector index (attachVecIndex first)")
    case Some(a) => refresh(a, a.rebuildWith(rebuildIters))
  }

  /** The refresh state machine of every artifact. Lock-free, only
    * STABLE observations decide: a current stamp is "fresh", and a
    * present stamp whose delta breaks the append contract rebuilds (a
    * delta never un-breaks). A marker or a missing/unreadable stamp seen
    * here can be a peer's healthy in-flight append (SoakMultiWriter found
    * spurious rebuilds in an append-only workload when this classified
    * it as torn), so it re-classifies under the lock, where a marker
    * genuinely means torn: fresh, rebuild, or mark → append → restamp.
    * The delta is bounded by BOTH stamps, so the restamp covers exactly
    * the appended rows even if a foreign writer commits mid-refresh. The
    * rebuild runs outside the lock (the builds take it themselves). */
  private def refresh(a: ServingArtifact[_], rebuild: => Unit): String =
    try {
      val cur0 = currentVersion
      val s0 = a.stamp()
      val outcome =
        if (s0.fresh(cur0)) "fresh"
        else if (a.rebuildsOnDelta &&
                 s0.stable.exists(catchUp(a, _, cur0) == ServingArtifact.Rebuild)) "rebuild"
        else a.withLock {
          val cur = currentVersion
          val s = a.stamp()
          lazy val how = s.stable.map(catchUp(a, _, cur))
          if (s.fresh(cur)) "fresh"
          else if (how.forall(_ == ServingArtifact.Rebuild)) "rebuild"
          else {
            a.delta(how.get).foreach { rows => a.markPending(); a.appendDelta(rows) }
            a.restamp(cur)
            "appended"
          }
        }
      if (outcome == "rebuild") { rebuild; "rebuilt" } else outcome
    } finally a.served = None

  /** How an artifact stamped at `stamp` catches up to `cur`. When
    * `(stamp, cur]` is exactly this handle's last put, from its rows held
    * on the driver ([[FrameStore.ownDelta]]: append-only by construction,
    * no scan). Otherwise, for an artifact that rebuilds on a broken
    * delta, one limit(1) scan of the log's delta decides: a tombstone or
    * a superseding version invalidates indexed rows, so rebuild. So does
    * a vacuum AFTER the stamp: it purged the very rows this scan reads (a
    * deleted doc's tombstone vanishes, the delta looks append-only, and an
    * append would restamp an index still carrying the ghost postings).
    * `lastVacuumSeq == stamp` is safe: the artifact was current at the
    * vacuum and compaction is value-neutral for the live view. */
  private def catchUp(a: ServingArtifact[_], stamp: Long, cur: Long): ServingArtifact.CatchUp = {
    lazy val log = frames.log.filter(col("commitSeq") > stamp && col("commitSeq") <= cur)
    frames.ownDelta(stamp, cur) match {
      case Some(rows) => ServingArtifact.OwnRows(rows)
      case None if a.rebuildsOnDelta && (frames.lastVacuumSeq > stamp ||
          log.filter(col("status") =!= graft.model.Frame.Active ||
            col("supersedes").isNotNull).limit(1).count() > 0) => ServingArtifact.Rebuild
      case None => ServingArtifact.LogRows(
        log.filter(col("status") === graft.model.Frame.Active).toDF())
    }
  }

  /** the artifact's serving value on the current store key, cached per
    * [[storeMovedKey]]: None while its stamp is behind the store. A stale
    * verdict keeps the stamp it compared and re-reads only that stamp:
    * another handle's refresh restamps without moving the key. */
  private def serving[S](a: ServingArtifact[S]): Option[S] = {
    val key = storeMovedKey
    def fill(st: ServingArtifact.Stamp): Option[S] = {
      val v = if (st.fresh(currentVersion)) Right(a.open()) else Left(st)
      a.served = Some((key, v))
      v.toOption
    }
    a.served match {
      case Some((`key`, Right(v))) => Some(v)
      case Some((`key`, Left(st))) =>
        val now = a.stamp()
        if (now == st) None else fill(now)
      case _ => fill(a.stamp())
    }
  }

  /** [[serving]] with the [[healOnRead]] rung in front: a stale stamp
    * whose delta is append-only heals via the O(delta) refresh and
    * serves indexed; anything else (deletes, supersedes, vacuumed-past
    * deltas, torn markers, a peer mid-maintenance) serves the corpus — a
    * read never runs a rebuild. (A foreign writer racing between the
    * probe and the refresh could still push the refresh to its rebuild
    * path; the lock re-classifies, so the result is correct either way.)
    * The heal is best-effort INSIDE a read: under maintenance-lock
    * contention the refresh can time out on acquire, and the read must
    * degrade to the corpus, never die (the 5-writer soak killed a reader
    * here before this catch). */
  private def healed[S](a: ServingArtifact[S]): Option[S] =
    serving(a).orElse {
      if (healOnRead && a.idle && appendable(a)) {
        try { refresh(a, a.rebuild()): Unit } catch {
          case _: graft.store.StoreLock.StoreLockedException => ()
        }
        serving(a)
      } else None
    }

  /** Can the artifact catch up by APPEND? — the doctor's plan-time probe
    * and the heal's gate, the classification refresh runs: false on a
    * missing artifact, an unparseable stamp, a torn-refresh marker, or a
    * delta with deletes/supersedes or past a vacuum. */
  private[api] def appendable(a: ServingArtifact[_]): Boolean =
    a.stamp().stable.exists(catchUp(a, _, currentVersion) != ServingArtifact.Rebuild)

  /** the doctor's `vec_index_stale` / `sketch_stale` probe: is the
    * attached artifact's stamp behind the store, its refresh torn, or
    * (sketch) the table missing? See [[ServingArtifact.stale]]. */
  private[api] def stampStale(a: ServingArtifact[_]): Boolean =
    a.stale(a.stamp(), currentVersion)

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
    val ranked = lex match {
      case Some(l) =>
        val opts = Search.Options(topK = topK,
          engine = Search.BM25Engine, stemmed = l.stemmed)
        if (healed(l).isDefined) {
          lastSearchRoute = "indexed"
          // the sketch pre-filter rides the indexed route's allowed-id
          // semi-join; it applies only with TEXT terms to rank (the
          // reference's has_text_terms guard), only when the query has
          // tokens to sketch, and only while the sketch covers the whole
          // store (stale sketch = missing newest docs — skipping is the
          // lossless direction)
          val allowed = for {
            sk <- sketch if !noSketch
            if graft.search.QExpr
              .words(graft.search.QueryParser.parse(query)).exists(_.nonEmpty)
            qh <- SketchFilter.queryHash(query)
            live <- serving(sk)
          } yield {
            lastSketchApplied = true
            live match {
              case Some(l) => l.candidates(qh, topK).toSeq.toDF("doc_id")
              case None => SketchFilter.candidates(sk.liveRows, qh, topK)
            }
          }
          Search.searchIndexed(frames.latestActive, "id", frameCols, query,
            l.table, opts, allowedIds = allowed)
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
    val vecServing = vec.flatMap { v =>
      healed(v).map { h =>
        (h.assigned.select(col("id"), col("vector")),
         (qv: Array[Float], k: Int) => h.search("id", "vector", qv, k, v.nprobe))
      }
    }
    lastAskVecRoute = if (vecServing.isDefined) "indexed" else "corpus"
    // an attached lexical index routes ask's LEXICAL rungs through the
    // same engine selection search() uses (reference: ask retrieves
    // through the live engine, search/mod.rs:47-57): BM25 from the
    // postings while the stamp is fresh, corpus-BM25 while stale — the
    // scores are bit-equal either way, only WHERE the work happens moves
    val lexServing: Option[(String, Int) => DataFrame] =
      lex.map { l =>
        (q: String, k: Int) => {
          val opts = Search.Options(topK = k, withSnippets = false,
            engine = Search.BM25Engine, stemmed = l.stemmed)
          if (healed(l).isDefined) {
            lastAskLexRoute = "indexed"
            Search.searchIndexed(frames.latestActive, "id", frameCols, q,
              l.table, opts)
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
  /** the cards table's live dir: the generation [[repairCards]] last
    * swapped in, else `cardsPath` itself ([[graft.store.Generations]]);
    * no listing */
  private[graft] def cardsDir: String =
    Generations.pointed(spark, cardsPath).getOrElse(cardsPath)

  def cards: DataFrame = {
    val dir = cardsDir
    // explicit schema (the table is only ever written with this shape):
    // skips the 1-task footer-inference job per open (r19)
    if (Fs.exists(spark, dir))
      spark.read.schema(Graft.cardsSchema).parquet(dir)
    else Seq.empty[(Long, String, String, String, String, String, Timestamp, Long)]
      .toDF("cardId", "entity", "slot", "value", "kind", "relation", "ts", "sourceFrameId")
  }

  def remember(entity: String, slot: String, value: String, relation: String = "sets",
               ts: Timestamp = new Timestamp(1700000000000L)): Unit =
    Seq((ts.getTime * 1000 + math.abs((entity + slot + value).hashCode % 1000).toLong,
         entity, slot, value, "fact", relation, ts, -1L))
      .toDF("cardId", "entity", "slot", "value", "kind", "relation", "ts", "sourceFrameId")
      .coalesce(1) // one file per driver-resident card batch (r20 §6)
      .write.mode(SaveMode.Append).parquet(cardsDir)

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
    // the rebuild lands as the table's next generation and the pointer
    // swap publishes it: a crash leaves the old table or the new one,
    // and a reader of the old one keeps its files until the next rebuild
    val next = Generations.number(cardsPath, cardsDir) + 1
    val dir = Generations.write(spark, cardsPath, next)(rebuilt.write.parquet(_))
    Generations.swap(spark, cardsPath, next)
    spark.read.schema(Graft.cardsSchema).parquet(dir).count()
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
