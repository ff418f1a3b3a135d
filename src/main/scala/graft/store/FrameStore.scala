package graft.store

import java.sql.Timestamp
import graft.model.Frame
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Append-only frame log with mutable-feeling semantics on immutable
  * storage (SURVEY §7.3): put/update/supersede/tombstone are appended
  * version rows (reference mutation path: src/memvid/mutation.rs:3090-3316);
  * the current state is the latest-active window view; `vacuum` is the
  * compaction batch job (mutation.rs:2999).
  *
  * The live view is a filter on the log: [[latestActive]] keeps the rows
  * whose `(id, commitSeq)` version key is live. The keys are held on the
  * driver per store state and keyed on `(mutationEpoch,
  * persistedWatermark)`, so a commit by this handle or by any other
  * handle or process is seen on the next read. Over the cap, and for
  * [[asOf]], the view is the per-id row_number window plus a
  * `supersedes` anti-join — the idiom Delta-style MVCC compactions use.
  *
  * Writer discipline (reference src/lock.rs + src/lockfile.rs): every
  * mutation — put / update / delete / vacuum — runs under the exclusive
  * [[StoreLock]] for this path, and the minted watermarks (max id, max
  * commitSeq) are persisted to `_graft_seq` inside the log dir (an
  * underscore file, invisible to the parquet reader) as part of the same
  * locked section. Two handles — two processes — on one store therefore
  * serialize their commits and each mints from the OTHER's persisted
  * watermark, never from a stale in-memory cache: no duplicate ids, no
  * commitSeq collisions, no double-ingest of the same content hash
  * through the dedup check's read-then-write window. Ids are never
  * reused, even across [[vacuum]] (the watermark survives compaction —
  * the reference's monotonic frame ids). Reads take no lock: the held
  * live keys are re-derived when either key part moves, and a fill is
  * cached only once the log shows the watermark's commit (see
  * [[liveState]]). A pinned [[snapshotCurrent]] copy is the exception:
  * only this handle's own mutations unpin it.
  *
  * Layout: the log's files live in the store dir until the first
  * [[vacuum]], then in the generation `CURRENT` names ([[Generations]]);
  * `_graft_seq` stays in the store dir, which is never deleted.
  *
  * The last put commit this handle wrote is held too: its frames' narrow
  * serving rows (id, role, track, text — no payload), keyed on the
  * watermark it read, the one it minted and the mutation epoch after it.
  * The next put replaces it; update, delete, vacuum and a put over the
  * live-key cap drop it. The serving artifacts catch up from these rows
  * instead of re-scanning the log ([[ownDelta]]).
  */
final class FrameStore(spark: SparkSession, path: String,
                       lockOptions: StoreLock.Options =
                         FrameStore.defaultLockOptions) {
  import spark.implicits._

  /** one FS probe: under the explicit [[log]] schema a dir holding only
    * `_graft_seq` reads as 0 rows, so existence is the whole test */
  private def logExists: Boolean = Fs.exists(spark, path)

  // a store the pre-generation vacuum left between its delete and its
  // rename — the store dir gone, the complete compacted copy (its
  // watermark written last) beside it — becomes the store again
  if (!logExists && Fs.exists(spark, s"${path}_vacuum/_graft_seq"))
    mutate(Generations.adopt(spark, path, s"${path}_vacuum"))

  def log: Dataset[Frame] =
    // explicit schema: the log is only ever written from Dataset[Frame],
    // so the encoder schema IS the file schema — skipping inference
    // saves a 1-task footer-read job on every open (r19; the log is
    // opened once or more per store verb)
    if (logExists) spark.read.schema(FrameStore.frameSchema).parquet(liveDir)
      .as[Frame]
    else spark.emptyDataset[Frame]

  /** The dir the log's files live in: the generation the pointer names,
    * else the store dir. A log never vacuumed resolves with failed
    * opens, no listing. */
  private[store] def liveDir: String =
    Generations.pointed(spark, path).getOrElse(path)

  // ---- minted-watermark persistence (multi-writer id safety) ----
  private def seqFile = new org.apache.hadoop.fs.Path(
    path.stripSuffix("/") + "/_graft_seq")
  private def fs = Fs.of(spark, path)

  /** (maxId, maxSeq, lastVacuumSeq) — the third field records the commit
    * watermark AT THE TIME of the most recent [[vacuum]] (0 = never, and
    * the legacy two-field form reads as 0). Vacuum purges tombstone/
    * superseded rows from the log, so any consumer classifying the
    * (stamp, watermark] delta FROM THE LOG (the facade's refresh-vs-
    * rebuild probe) is blind past a vacuum: a purged delete looks like an
    * empty append-only delta. `lastVacuumSeq > stamp` is the exact "the
    * log cannot answer" predicate those consumers test.
    *
    * ROLLING-UPGRADE CONSTRAINT (documented, not enforced): fields are
    * strictly ADDITIVE — this reader treats any ≥2-field record as a
    * prefix (unknown trailing fields ignored), so a NEWER writer's file
    * stays readable here and the watermark is never silently dropped.
    * The r18 two-field→three-field transition predates this rule: a
    * pre-r18 binary matching exactly two fields reads a three-field file
    * as ABSENT and falls back to the compacted log's max-id scan — in a
    * mixed-version multi-writer deployment it could re-mint ids a newer
    * binary's vacuum purged. Deployments that vacuum must therefore
    * upgrade writers in lockstep ACROSS the r18 boundary; from r19 on,
    * the prefix rule makes field additions rolling-safe. */
  private def readSeqFile(): Option[(Long, Long, Long)] =
    try {
      if (!fs.exists(seqFile)) None
      else {
        val in = fs.open(seqFile)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        line.split('\t') match {
          case a if a.length >= 3 =>
            Some((a(0).toLong, a(1).toLong, a(2).toLong))
          case Array(i, s) => Some((i.toLong, s.toLong, 0L))
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeSeqFile(maxId: Long, maxSeq: Long, vacSeq: Long): Unit = {
    val out = fs.create(seqFile, true)
    try out.write(s"$maxId\t$maxSeq\t$vacSeq\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** acquire the store's exclusive lockfile around a mutation — every
    * commit (id mint + parquet append + watermark persist) is one locked
    * section, so concurrent handles serialize (reference: every mutation
    * takes the exclusive lock first, src/lockfile.rs:121) */
  private def mutate[T](body: => T): T =
    StoreLock.withLock(spark, path, lockOptions)(body)

  private var counters: Option[(Long, Long, Long)] = None // (maxId, maxSeq, lastVacuumSeq)

  /** Mint a block of ids + the next commitSeq. Caller holds the store
    * lock. The persisted `_graft_seq` watermark is authoritative when
    * present (another HANDLE may have committed since our cache was
    * filled); the in-memory cache only serves a pre-watermark legacy log,
    * and the one-time scan only a store that predates this handle. */
  private def nextIds(n: Int): (Long, Long) = synchronized {
    val (maxId, maxSeq, vacSeq) = readSeqFile().orElse(counters).getOrElse {
      if (logExists) {
        val r = log.agg(max("id"), max("commitSeq")).head
        (if (r.isNullAt(0)) 0L else r.getLong(0),
         if (r.isNullAt(1)) 0L else r.getLong(1), 0L)
      } else (0L, 0L, 0L)
    }
    counters = Some((maxId + n, maxSeq + 1, vacSeq))
    (maxId, maxSeq)
  }

  /** bumped on every mutation (append or vacuum) — consumers caching a
    * derived verdict about the store (e.g. the facade's index-freshness
    * check) key their cache on this and re-derive only after a change.
    * In-process signal; the CROSS-process signal is
    * [[persistedWatermark]], and the facade keys its caches on both. */
  @volatile private[graft] var mutationEpoch: Long = 0L

  /** the persisted commit watermark (max commitSeq written by ANY
    * writer, from `_graft_seq`) — the cross-process observable of store
    * movement. One tiny FS read; -1 for a pre-watermark legacy log
    * (where only the in-process epoch can signal movement). Unlike the
    * log's own max(commitSeq), this SURVIVES vacuum (compaction is
    * value-neutral for the live view, so derived-state stamps keyed on
    * it stay valid across it). */
  private[graft] def persistedWatermark: Long =
    readSeqFile().map(_._2).getOrElse(-1L)

  /** Commit watermark at the time of the most recent [[vacuum]] (0 =
    * never vacuumed, including pre-tracking legacy stores). A derived-
    * state consumer whose stamp is OLDER than this cannot classify its
    * catch-up delta from the log — vacuum purged the tombstone/superseded
    * rows the classification needs — and must rebuild instead of
    * appending (the ghost-postings hazard: delete → vacuum → refresh
    * would otherwise see an empty "append-only" delta and restamp an
    * index still carrying the deleted doc). One tiny FS read. */
  private[graft] def lastVacuumSeq: Long =
    readSeqFile().map(_._3).orElse(counters.map(_._3)).getOrElse(0L)

  // ---- the live view, held per store state ----

  /** the most log rows a fill collects, and so the largest live key set
    * held on the driver (16 bytes a key); a private seam so tests can
    * drive the over-cap route, not an option */
  private[store] var liveCap: Int = graft.search.SketchFilter.LiveCap

  /** the live view's state for one `(mutationEpoch, persistedWatermark)`
    * key. A put by this handle rolls it forward under the store lock
    * ([[appendFrames]]); update, delete and vacuum drop it. */
  @volatile private var liveCache: Option[((Long, Long), FrameStore.LiveState)] = None

  /** the store-state key and the last-vacuum seq, from one `_graft_seq`
    * read */
  private def liveKey(): ((Long, Long), Long) = {
    val epoch = mutationEpoch
    val rec = readSeqFile()
    ((epoch, rec.map(_._2).getOrElse(-1L)), rec.map(_._3).getOrElse(0L))
  }

  /** The live view on the current key. A miss runs one narrow log scan
    * of `(id, commitSeq, active, supersedes)` bounded by `liveCap + 1`
    * rows, in one task, and derives the live keys on the driver; past the
    * bound the state is [[FrameStore.OverCap]] and reads use the window
    * plan.
    *
    * Completeness: `appendFrames` persists the watermark before its rows
    * land, so a reader can see a commit's watermark while its rows are
    * still being written. A fill is cached only if it saw the key's
    * commit — the log's max commitSeq reaches the watermark, or a vacuum
    * at or past the watermark compacted the log (read before the scan).
    * An incomplete fill serves this one read and is not cached. */
  private def liveState: FrameStore.LiveState = {
    val (key, vac) = liveKey()
    liveCache match {
      case Some((k, st)) if k == key => st
      case _ =>
        // one partition, so the bounded collect is one job: a limit over
        // p partitions scans them in ~log4(p) successive jobs
        val scan = log.select($"id", $"commitSeq",
          coalesce($"status" === Frame.Active, lit(false)), $"supersedes")
          .coalesce(1)
        graft.ops.Bounded.collectAtMost(scan, liveCap) match {
          case None =>
            liveCache = Some((key, FrameStore.OverCap(None)))
            FrameStore.OverCap(None)
          case Some(rows) =>
            val held = FrameStore.Held(FrameStore.LiveKeys.derive(rows))
            val maxSeq = rows.iterator.map(_.getLong(1)).maxOption.getOrElse(-1L)
            if (maxSeq >= key._2 || vac >= key._2) liveCache = Some((key, held))
            held
        }
    }
  }

  /** live frame count (documents + chunks): the size of the held live
    * key set. Over the cap, the window plan's count, kept in the same
    * cache entry once the log is seen to hold the key's commit (checked
    * BEFORE counting, so the count includes that commit's rows). */
  def liveCount: Long = liveState match {
    case FrameStore.Held(keys) => keys.size.toLong
    case FrameStore.OverCap(Some(n)) => n
    case FrameStore.OverCap(None) =>
      val (key, vac) = liveKey()
      val complete = vac >= key._2 || {
        val r = log.agg(max("commitSeq")).head
        (if (r.isNullAt(0)) -1L else r.getLong(0)) >= key._2
      }
      val n = latestActiveAsOf(None).count()
      liveCache match {
        case Some((k, FrameStore.OverCap(None))) if complete && k == key =>
          liveCache = Some((key, FrameStore.OverCap(Some(n))))
        case _ => ()
      }
      n
  }

  private def appendFrames(frames: Seq[Frame], put: Boolean = false): Unit = {
    val preW = persistedWatermark
    // persist the minted watermark BEFORE the rows land (same locked
    // section): a crash between the two steps then wastes an id block (a
    // safe gap), whereas the reverse order would leave committed rows
    // ABOVE the persisted watermark and the next handle — which trusts
    // the watermark over a log rescan — would re-mint colliding
    // id/commitSeq version keys. The NEXT writer (any handle, any
    // process) minting from the persisted value is what makes ids
    // globally unique.
    counters.foreach { case (i, s, v) => writeSeqFile(i, s, v) }
    // ONE task, ONE file per commit (r20, guide §6/§1): the batch is
    // driver-resident and bounded by the put contract, but toDS slices
    // it over defaultParallelism — 10-32 scheduled tasks and as many
    // tiny log files PER COMMIT, which every later log scan re-lists
    // and re-opens. One file per commit is also the reference's WAL
    // segment shape.
    frames.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(liveDir)
    // roll the live view forward only when it was current as of the
    // pre-mutation key AND the commit is a put (every appended frame is
    // new, Active and supersedes nothing, so it only adds keys);
    // otherwise drop it and let the next read refill
    liveCache = for {
      (k, st) <- liveCache
      if put && k == ((mutationEpoch, preW))
      nw <- counters.map(_._2)
      next <- st match {
        case FrameStore.Held(keys) =>
          Some(keys.plus(frames.map(f => (f.id, f.commitSeq))))
            .filter(_.size <= liveCap).map(FrameStore.Held)
        case FrameStore.OverCap(n) => Some(FrameStore.OverCap(n.map(_ + frames.size)))
      }
    } yield ((mutationEpoch + 1, nw), next)
    // roll the dedup-hash cache forward the same way: every appended
    // Active row's hash joins the set (tombstones carry no hash); a
    // foreign commit in between keys the cache stale instead
    hashCache = for {
      (k, v, s) <- hashCache
      if k == preW
      nw <- counters.map(_._2)
    } yield {
      frames.foreach(f =>
        if (f.status == Frame.Active) f.sourceSha256.foreach(s += _))
      (nw, v, s)
    }
    if (hashCache.exists(_._3.size > FrameStore.HashCacheMax)) hashCache = None
    // hold a put's serving rows for the artifacts' catch-up ([[ownDelta]]);
    // any other commit, or a put over the cap, holds nothing
    lastPut = for {
      nw <- counters.map(_._2)
      if put && frames.size <= liveCap
    } yield FrameStore.OwnCommit(preW, nw, mutationEpoch + 1, frames.map(f =>
      FrameStore.ServingRow(f.id, f.role, f.track, f.text.getOrElse(""))))
    currentSnapshot = None // the pinned copy no longer reflects the log
    mutationEpoch += 1
  }

  /** the narrow serving rows of the last put this handle committed */
  @volatile private var lastPut: Option[FrameStore.OwnCommit] = None

  /** The rows of the commits `(stamp, cur]` when they are exactly this
    * handle's last put: `stamp` is the watermark the put read, `cur` the
    * one it minted, no mutation of this handle followed, the persisted
    * watermark is still `cur` and no vacuum ran past `stamp` (both from
    * one `_graft_seq` read). Such a delta is append-only by construction:
    * every row is a new Active frame that supersedes nothing. None
    * otherwise — the caller classifies the delta from the log. */
  private[graft] def ownDelta(stamp: Long, cur: Long): Option[Seq[FrameStore.ServingRow]] =
    lastPut.filter(c => c.preW == stamp && c.newW == cur && c.epoch == mutationEpoch &&
      readSeqFile().exists { case (_, w, vac) => w == cur && vac <= stamp }).map(_.rows)

  /** J8 dedup plan: stage the incoming batch's hashes and left-anti join
    * them against the live log on sourceSha256 (reference BLAKE3 dedup
    * short-circuit, mutation.rs:3300-3316). The log side is never collected
    * to the driver — only the SURVIVING hashes of the (small) incoming
    * batch come back, so the live set can be billions of rows. */
  private[graft] def freshHashes(hashes: Seq[String]): DataFrame =
    hashes.distinct.toDF("sourceSha256").join(
      log.filter($"status" === Frame.Active && $"sourceSha256".isNotNull)
        .select($"sourceSha256"),
      Seq("sourceSha256"), "left_anti")

  /** Dedup-identity cache (r19): the set of Active log rows' content
    * hashes, keyed on (persisted watermark, last-vacuum seq) — exactly
    * the two observables that change when the answer can change (any
    * commit, ours or foreign, bumps the watermark; vacuum purges dead
    * Active rows WITHOUT bumping it, hence the second key). Bounded: a
    * store past [[FrameStore.HashCacheMax]] active hashes stops caching
    * and [[put]] falls back to the anti-join plan above (the
    * billions-of-rows path is unchanged). Maintained under the store
    * lock only, rolled forward by [[appendFrames]], dropped by
    * [[vacuum]]. Saves the one per-commit dedup JOB on every put of a
    * driver-resident batch. */
  private var hashCache:
    Option[(Long, Long, scala.collection.mutable.HashSet[String])] = None

  /** batch hashes NOT already in the Active log — the cache-served form
    * of [[freshHashes]] (caller holds the store lock). */
  private def freshHashSet(hashes: Seq[String]): Set[String] = {
    val w = persistedWatermark
    val vac = lastVacuumSeq
    val set = hashCache match {
      case Some((cw, cv, s)) if cw == w && cv == vac => Some(s)
      case _ =>
        // rebuild if the active-hash population is cacheable
        graft.ops.Bounded.collectAtMost(
            log.filter($"status" === Frame.Active && $"sourceSha256".isNotNull)
              .select($"sourceSha256").distinct(), FrameStore.HashCacheMax) match {
          case Some(rows) =>
            val s = scala.collection.mutable.HashSet.empty[String]
            s ++= rows.iterator.map(_.getString(0))
            hashCache = Some((w, vac, s))
            Some(s)
          case None => hashCache = None; None
        }
    }
    set match {
      case Some(s) => hashes.distinct.filterNot(s.contains).toSet
      case None => freshHashes(hashes).as[String].collect().toSet
    }
  }

  /** ingest texts; content-hash dedup skips payloads already in the log
    * (reference BLAKE3 dedup short-circuit, mutation.rs:3300-3316).
    *
    * Dedup identity is the CONTENT hash only — `metadata` (and tags/
    * track/kind) play no part, exactly like the reference, whose
    * short-circuit fires before metadata is examined. Consequence: a
    * re-put of existing content with a new or changed ACL policy is a
    * no-op and the OLD policy stays in force (no error is raised; the
    * returned ids omit the skipped texts). Policy changes must go
    * through [[update]], which supersedes the old version and applies
    * the new metadata; alternatively pass `dedup = false` to force a
    * new version. */
  def put(texts: Seq[(String, String)], // (uri, text)
          track: Option[String] = None, kind: Option[String] = None,
          ts: Timestamp = new Timestamp(1700000000000L),
          tags: Seq[String] = Nil, dedup: Boolean = true,
          enrich: Boolean = true, chunkLargeDocs: Boolean = true,
          metadata: Map[String, String] = Map.empty): Seq[Long] = mutate {
    // the dedup read runs INSIDE the locked section: two writers racing
    // the same content would otherwise both pass the anti-join and
    // double-ingest (read-then-write window)
    val hashed = texts.map { case (u, t) => (u, t, sha(t)) }
    val fresh: Seq[(String, String)] =
      if (dedup && logExists) {
        val keep = freshHashSet(hashed.map(_._3))
        hashed.collect { case (u, t, h) if keep.contains(h) => (u, t) }
      } else texts
    if (fresh.isEmpty) Seq.empty else putFresh(fresh, track, kind, ts, tags,
      enrich, chunkLargeDocs, metadata)
  }

  private def putFresh(fresh: Seq[(String, String)], track: Option[String],
                       kind: Option[String], ts: Timestamp,
                       tags: Seq[String], enrich: Boolean,
                       chunkLargeDocs: Boolean,
                       metadata: Map[String, String]): Seq[Long] = {
    val (idBase, seqBase) = nextIds(fresh.size * 8)
    var id = idBase
    val frames = fresh.flatMap { case (uri, text) =>
      id += 1
      val docId = id
      val docTags = if (enrich) (tags ++ graft.ingest.Enrich.autoTags(text)).distinct else tags
      val dates = if (enrich) graft.ingest.Enrich.contentDates(text) else Nil
      val chunks =
        if (chunkLargeDocs && text.length > 1200) graft.ingest.Structure.chunk(text)
        else Seq(graft.ingest.Structure.Chunk(0, text))
      val doc = Frame(docId, seqBase + 1, ts, kind, track, Some(uri), None,
        text.getBytes("UTF-8"), Some(text), docTags, Nil, metadata, dates,
        "document", None, None, Some(chunks.size), Frame.Active, None, Some(sha(text)))
      // chunks INHERIT the document's metadata: an ACL policy on the
      // parent must govern its chunk hits too, or a restricted document
      // leaks through chunk-level retrieval
      val children = if (chunks.size > 1) chunks.map { c =>
        id += 1
        Frame(id, seqBase + 1, ts, kind, track, Some(s"$uri#${c.index}"), None,
          Array.empty[Byte], Some(c.text), docTags, Nil, metadata, Nil,
          "chunk", Some(docId), Some(c.index), Some(chunks.size),
          Frame.Active, None, None)
      } else Nil
      doc +: children
    }
    appendFrames(frames, put = true)
    frames.filter(_.role == "document").map(_.id)
  }

  /** update = append a superseding version (new id, supersedes old id).
    * `metadata` is the NEW version's policy/extra metadata — NOT
    * inherited from the superseded frame: under the ACL metadata
    * contract an omitted policy denies by default (the safe direction),
    * so a caller maintaining restricted content must re-supply it. */
  def update(oldId: Long, newText: String, uri: String,
             ts: Timestamp = new Timestamp(1700000001000L),
             metadata: Map[String, String] = Map.empty): Long =
    updateMany(Seq((oldId, newText, uri)), ts, metadata).head

  /** batch supersede: N updates in ONE log append (one commit). The
    * per-call form costs one parquet write job per update; a curation
    * pass rewriting thousands of documents wants them as one commit —
    * same appended rows, same latest-active result, one write. */
  def updateMany(updates: Seq[(Long, String, String)], // (oldId, text, uri)
                 ts: Timestamp = new Timestamp(1700000001000L),
                 metadata: Map[String, String] = Map.empty): Seq[Long] =
    if (updates.isEmpty) Nil else mutate {
    val (idBase, seqBase) = nextIds(updates.size)
    val frames = updates.zipWithIndex.map { case ((oldId, newText, uri), i) =>
      Frame(idBase + i + 1, seqBase + 1, ts, None, None, Some(uri), None,
        newText.getBytes("UTF-8"), Some(newText), Nil, Nil, metadata,
        graft.ingest.Enrich.contentDates(newText), "document", None, None,
        None, Frame.Active, Some(oldId), Some(sha(newText)))
    }
    appendFrames(frames)
    frames.map(_.id)
  }

  /** delete = append a tombstone version of the same id */
  def delete(id: Long, ts: Timestamp = new Timestamp(1700000002000L)): Unit =
    deleteMany(Seq(id), ts)

  /** batch tombstone: N deletes in ONE log append (one commit) */
  def deleteMany(ids: Seq[Long],
                 ts: Timestamp = new Timestamp(1700000002000L)): Unit =
    if (ids.nonEmpty) mutate {
      val (_, seqBase) = nextIds(0)
      appendFrames(ids.map(id =>
        Frame(id, seqBase + 1, ts, None, None, None, None,
          Array.empty[Byte], None, Nil, Nil, Map.empty, Nil,
          "document", None, None, None, Frame.Tombstoned, None, None)))
    }

  /** When set, `latestActive` serves this read-optimized parquet copy
    * instead of the log. Any mutation by this handle invalidates it (the
    * log has moved past the copy). */
  private var currentSnapshot: Option[DataFrame] = None

  /** current state: newest version per id, active only, superseded hidden.
    * In order of precedence:
    *  - the pinned [[snapshotCurrent]] copy, a plain parquet scan;
    *  - with the live keys held ([[liveState]]), the log filtered by one
    *    `in_live_version(id, commitSeq)` predicate: a narrow scan with no
    *    Exchange. It keeps the same rows as the window plan because
    *    `(id, commitSeq)` is unique in the log and a live key names
    *    exactly the row the window keeps for its id;
    *  - over the cap, the window plan: a per-id row_number window and a
    *    `supersedes` anti-join, two shuffles per read. */
  def latestActive: DataFrame = currentSnapshot.getOrElse(liveState match {
    case FrameStore.Held(keys) =>
      graft.functions.F.ensureRegistered(spark)
      log.toDF.filter(keys.filter)
    case FrameStore.OverCap(_) => latestActiveAsOf(None)
  })

  /** F7 time travel: state as of a commitSeq */
  def asOf(commitSeq: Long): DataFrame = latestActiveAsOf(Some(commitSeq))

  private def latestActiveAsOf(seq: Option[Long]): DataFrame = {
    val snapshot = seq.map(s => log.filter($"commitSeq" <= s)).getOrElse(log.toDF)
    val w = Window.partitionBy($"id").orderBy($"commitSeq".desc)
    val latest = snapshot
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1 && $"status" === Frame.Active)
      .drop("__rn")
    val superseded = snapshot.filter($"supersedes".isNotNull)
      .select($"supersedes".as("id")).distinct()
    latest.join(superseded, Seq("id"), "left_anti")
  }

  /** Materialize the latest-active view as a read-optimized parquet copy,
    * leaving the log (and so as-of history) intact. Over the live-key cap
    * the view costs two shuffles per read — the per-id window plus the
    * supersedes anti-join — which is fine for one query and wasteful for
    * a curation run that reads "current" dozens of times: pay the two
    * shuffles once, then every consumer scans a plain table. At 100 TB,
    * write it through `ops.Bucketing` keyed on `id` instead and the
    * downstream joins are exchange-free too (SCALE.md "latest-active
    * view"). `vacuum()` is the destructive in-place variant of the same
    * idea. @return the materialized view, re-read from `outPath` */
  def materializeCurrent(outPath: String): DataFrame = {
    latestActiveAsOf(None).write.mode(SaveMode.Overwrite).parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** Materialize AND pin: every subsequent `latestActive` read — search,
    * ask, timeline, embeddings, the whole curation surface — scans the
    * parquet copy until a mutation lands or [[releaseSnapshot]] is called.
    * This is the multi-read consumer of [[materializeCurrent]]: a curation
    * run that reads "current" N times pays the window + anti-join once
    * (below the cap, reads are a filtered log scan without it anyway). */
  def snapshotCurrent(outPath: String): DataFrame = {
    val df = materializeCurrent(outPath)
    currentSnapshot = Some(df)
    df
  }

  /** drop the pinned snapshot; reads recompute from the live log again */
  def releaseSnapshot(): Unit = currentSnapshot = None

  /** Compaction: rewrite only the live view, dropping dead versions
    * (reference vacuum, mutation.rs:2999), as the next generation:
    *  1. `_graft_seq` records the vacuum (`lastVacuumSeq` = watermark);
    *     ids keep minting from the watermark, not the compacted log;
    *  2. the live view streams into `gen-N+1`, marker last;
    *  3. the pointer swaps to it.
    * The seq goes first because torn-swap recovery may adopt the new
    * generation: no artifact may then classify a delta from a log
    * compacted past its stamp. A crash before the swap costs artifacts
    * stamped below the watermark one needless rebuild. */
  def vacuum(): Unit = mutate {
    val watermark = readSeqFile().orElse(counters).getOrElse {
      val r = log.agg(max("id"), max("commitSeq")).head
      (if (r.isNullAt(0)) 0L else r.getLong(0),
       if (r.isNullAt(1)) 0L else r.getLong(1), 0L)
    }
    writeSeqFile(watermark._1, watermark._2, watermark._2)
    val next = Generations.number(path, liveDir) + 1
    Generations.write(spark, path, next)(
      latestActiveAsOf(None).as[Frame].write.parquet(_))
    Generations.swap(spark, path, next)
    currentSnapshot = None
    counters = Some((watermark._1, watermark._2, watermark._2))
    // vacuum purges dead Active rows without moving the commit watermark
    // — the dedup-hash population changed, so the cache must re-derive
    // (lastVacuumSeq, the cache's second key, advanced in step 1)
    hashCache = None
    liveCache = None
    lastPut = None
    mutationEpoch += 1
  }

  def stats: (Long, Long, Long) = {
    // one log pass for both log-shaped counters (countDistinct skips the
    // NULL the `when` leaves on non-tombstones — same value as the former
    // filter → distinct → count, one Spark job instead of two); the live
    // count rides the watermark-keyed cache
    val r = log.agg(count(lit(1)),
      countDistinct(when($"status" === Frame.Tombstoned, $"id"))).head
    (r.getLong(0), liveCount, r.getLong(1))
  }

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object FrameStore {
  /** the frame log's on-disk schema (what Dataset[Frame] writes) */
  private[store] val frameSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Frame].schema

  /** dedup-hash cache population bound — past this, puts fall back to
    * the anti-join plan (the log-side set stays distributed) */
  private[store] val HashCacheMax = 200000

  /** what the serving artifacts index of one frame */
  private[graft] final case class ServingRow(id: Long, role: String, track: Option[String], text: String)

  /** a put commit: the watermark it read and the one it minted, the
    * mutation epoch after it, and its frames' serving rows */
  private[store] final case class OwnCommit(preW: Long, newW: Long, epoch: Long,
                                     rows: Seq[ServingRow])

  /** the live view's state on one store key */
  private[store] sealed trait LiveState
  /** live version keys held on the driver */
  private[store] final case class Held(keys: LiveKeys) extends LiveState
  /** the log is over the cap: reads use the window plan; the live count
    * once computed */
  private[store] final case class OverCap(count: Option[Long]) extends LiveState

  /** The live version keys: ids ascending, with each id's live commitSeq
    * in the parallel array. */
  private[store] final class LiveKeys private (ids: Array[Long], seqs: Array[Long]) {
    def size: Int = ids.length

    /** the keys plus versions a put appended (ids not yet in the set) */
    def plus(added: Seq[(Long, Long)]): LiveKeys =
      LiveKeys(ids ++ added.map(_._1), seqs ++ added.map(_._2))

    /** the log rows these keys name (built once: the literal arrays
      * convert once per key set, not once per read) */
    lazy val filter: org.apache.spark.sql.Column =
      graft.functions.F.inLiveVersion(col("id"), col("commitSeq"), ids, seqs)
  }

  private[store] object LiveKeys {
    def apply(ids: Array[Long], seqs: Array[Long]): LiveKeys = {
      val (i, s) = graft.functions.InLiveVersionExpr.sortedKeys(ids, seqs)
      new LiveKeys(i, s)
    }

    /** the live keys of log rows `(id, commitSeq, active, supersedes)`:
      * per id the newest row, kept when it is active and no row of the
      * log supersedes its id — the window plan's rule */
    def derive(rows: Array[org.apache.spark.sql.Row]): LiveKeys = {
      val newest = scala.collection.mutable.LongMap.empty[Int]
      val superseded = scala.collection.mutable.LongMap.empty[Unit]
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        val id = r.getLong(0)
        if (newest.get(id).forall(j => rows(j).getLong(1) < r.getLong(1)))
          newest(id) = i
        if (!r.isNullAt(3)) superseded(r.getLong(3)) = ()
        i += 1
      }
      val live = newest.iterator.collect {
        case (id, j) if rows(j).getBoolean(2) && !superseded.contains(id) => j
      }.toArray
      LiveKeys(live.map(rows(_).getLong(0)), live.map(rows(_).getLong(1)))
    }
  }

  /** Mutation-lock defaults: patient acquire (a contending writer WAITS
    * for a live peer's commit rather than erroring — commits are seconds,
    * not the reference's in-process microseconds), generous stale grace
    * (no heartbeats run mid-append), no stale takeover unless the caller
    * opts in. The reference's tighter 250 ms/10 s defaults remain
    * [[StoreLock.Options]]'s own defaults for direct users. */
  val defaultLockOptions: StoreLock.Options = StoreLock.Options(
    timeoutMs = 120000L, heartbeatMs = 2000L, staleGraceMs = 120000L,
    command = "framestore-mutation", forceStale = false)
}
