package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Doctor plan/phase orchestration — the reference's repair PLANNER
  * (src/memvid/doctor.rs:176-360 `Planner::compute`) and executor
  * (doctor_run / doctor_apply, doctor.rs:140-173) re-expressed over the
  * parquet frame store. Types mirror src/types/verification.rs:
  * `DoctorOptions` (selective rebuilds, vacuum, dry_run),
  * `DoctorPhaseKind` (Probe→…→Vacuum→IndexRebuild→Finalize→Verify) and
  * per-action `required`/`reasons`/`detail` — minus the phases a
  * parquet-backed store structurally cannot need: there is no header to
  * heal and no WAL to replay (the commit log IS the durable log; every
  * append is already "replayed"), so HeaderHealing/WalReplay never plan,
  * the way the reference plans them only when its probe finds the
  * corresponding byte-level damage.
  *
  * Probe findings map 1:1 onto [[Graft.doctor]]'s counters plus index
  * freshness:
  *  - orphan_chunks (live chunks without a live parent) — the
  *    SegmentCatalogInconsistent analogue; repaired by tombstoning +
  *    vacuum, planned in the Vacuum phase (the reference runs vacuum
  *    BEFORE index rebuild "to avoid orphaning segments" — same order).
  *  - dangling_cards — TimeIndexMissing/corrupt analogue (cards are the
  *    derived table); repaired by [[Graft.repairCards]].
  *  - duplicate_live_uris — a WARNING finding with no auto-repair:
  *    electing which version to supersede is destructive, the caller
  *    resolves it through update()/delete() (the reference likewise
  *    reports without destroying).
  *  - lex_index_stale — LexIndexMissing analogue over a persisted
  *    [[graft.search.Bm25Index]] table: live docs absent from the
  *    postings' doc_id set.
  *  - vec_index_requested — RebuildVecIndex is option-driven here (the
  *    persisted IVF artifact carries its own drift signal +
  *    [[graft.vector.IvfIndex.retrain]]).
  *  - tombstone_debt — VacuumStats detail (non-live version rows).
  *
  * dry_run plans everything and executes NOTHING (verified by the
  * `store_doctor_plan` gate: counters are bit-identical after a dry
  * run). The executed plan ends with the reference's Verify phase: a
  * fresh probe whose counters the report carries.
  */
object Doctor {

  /** reference DoctorOptions (verification.rs:9-23); rebuildCards is
    * rebuild_time_index (cards are this store's derived time-keyed
    * index), quiet is dropped (nothing here prints).
    *
    * The two maintenance budgets are opt-in probe thresholds (the
    * reference's planner likewise plans from probe findings,
    * doctor.rs:176-360):
    *  - bm25FileBudget: when set (and lexTable given), the probe counts
    *    data files beyond the budget (`bm25_file_debt`) — append debt the
    *    Tantivy merge policy folds continuously in the reference — and
    *    plans `compact_lex_index` in the Vacuum phase.
    *  - vecDriftMeanMax: when set (and vecPath given), the probe counts
    *    clusters whose mean distortion exceeds it (`vec_index_drift`,
    *    via [[graft.vector.VectorSearch.ivfDriftStats]]) and plans
    *    `rebuild_vec_index` with reason "drift".
    *  - vecDeltaBudget: when set (and vecPath given), the probe counts
    *    committed append-delta dirs beyond the budget (`vec_delta_debt`)
    *    and plans `compact_vec_index` in the Vacuum phase
    *    ([[graft.vector.IvfIndex.compactDeltas]] — the IVF analogue of
    *    the BM25 segment merge). */
  final case class DoctorOptions(rebuildCards: Boolean = false,
                                 rebuildLexIndex: Boolean = false,
                                 rebuildVecIndex: Boolean = false,
                                 vacuum: Boolean = false,
                                 dryRun: Boolean = false,
                                 bm25FileBudget: Option[Long] = None,
                                 vecDriftMeanMax: Option[Double] = None,
                                 vecDeltaBudget: Option[Long] = None)

  /** one planned (or executed) row: finding, action, or post counter —
    * a single schema so plan + report face one oracle */
  final case class Row(ord: Long, rowType: String, phase: String,
                       name: String, required: Boolean, reason: String,
                       detailN: Long, executed: Boolean)

  final case class Report(rows: Seq[Row]) {
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      rows.toDF("ord", "row_type", "phase", "name", "required", "reason",
        "detail_n", "executed")
    }
  }

  /** bounded probe: the doctor counters (six store-wide aggregates) plus
    * per-index staleness counts — every value is a COUNT, never data.
    * Opt-in maintenance probes (file debt, drift) appear only when their
    * threshold is set AND the debt is positive, so always-on reports stay
    * byte-stable for callers that never opted in. */
  private def probe(g: Graft, opts: DoctorOptions, lexTable: Option[String],
                    vecPath: Option[String], vecIdCol: String,
                    vecCol: String): Map[String, Long] = {
    // Spark-countable probes ride [[Graft.doctorCounters]]' single union
    // job (r19: a probe used to be 5+ actions and runs 4× per doctor
    // run); each branch is the exact aggregate it was standalone, and
    // the present-only-when-positive keys are filtered AFTER the collect
    // exactly as the guards did before. FS/catalog-only probes (file
    // debt, stamps) stay outside — they schedule no Spark job.
    val lexExists = lexTable.exists(g.spark.catalog.tableExists)
    val driftReady = for {
      p <- vecPath
      _ <- opts.vecDriftMeanMax
      if graft.vector.IvfIndex.exists(g.spark, p)
    } yield graft.vector.IvfIndex.read(g.spark, p)
    val counters = g.doctorCounters { live =>
      val liveDocs = live.filter(col("role") === "document")
      val lexStaleBranch = lexTable.map { t =>
        "lex_index_stale" -> (
          if (!lexExists) liveDocs
          else liveDocs.select(col("id").as("doc_id"))
            .join(g.spark.table(t).select("doc_id").distinct(),
              Seq("doc_id"), "left_anti"))
      }
      val driftBranch = for {
        h <- driftReady
        thr <- opts.vecDriftMeanMax
      } yield "vec_index_drift" ->
        graft.vector.VectorSearch.ivfDriftStats(h.assigned, vecCol,
            h.centroids.map { case (cid, c) => (cid, c.map(_.toFloat)) })
          .filter(col("mean_distortion") > thr)
      lexStaleBranch.toSeq ++ driftBranch.toSeq
    }
    val lexStale = lexTable.map(_ => counters("lex_index_stale"))
    // append-file debt of the persisted BM25 index (one FS listing)
    val bm25Debt = for {
      t <- lexTable
      budget <- opts.bm25FileBudget
      if lexExists
      debt = graft.search.Bm25Index.dataFileCount(g.spark, t) - budget
      if debt > 0
    } yield "bm25_file_debt" -> debt
    // drifted-cluster count of the persisted IVF index (k-row aggregate);
    // both vec probes guard on a committed index existing at the path —
    // same shape as the bm25 probe's tableExists guard — so a configured
    // vecPath with no index yet probes clean instead of throwing
    val vecDrift = for {
      _ <- driftReady
      n = counters("vec_index_drift")
      if n > 0
    } yield "vec_index_drift" -> n
    // serving-stamp staleness of a facade-ATTACHED IVF index (one FS
    // read) — the vector twin of lex_index_stale: a put() past the
    // stamp exiles ask()'s vector rung to the corpus path until healed
    val vecStale = for {
      p <- vecPath
      a <- g.attachedVec(p)
      if graft.vector.IvfIndex.exists(g.spark, p)
      if g.stampStale(a)
    } yield "vec_index_stale" -> 1L
    // append-delta debt of the persisted IVF index (one FS listing)
    val vecDelta = for {
      p <- vecPath
      budget <- opts.vecDeltaBudget
      if graft.vector.IvfIndex.exists(g.spark, p)
      debt = graft.vector.IvfIndex.deltaCount(g.spark, p) - budget
      if debt > 0
    } yield "vec_delta_debt" -> debt
    // serving-stamp staleness of the facade-ATTACHED sketch table (one
    // catalog read) — the F10 pre-filter twin of vec_index_stale, except
    // the degradation is PERFORMANCE, not serving: a stale sketch makes
    // search() silently skip the candidate shrink (lossless direction),
    // so severity is warning and the heal is the always-append refresh
    // (dead rows are inert — ServingArtifact owns that argument)
    val sketchStale = for {
      a <- g.attachedSketch
      if g.stampStale(a)
    } yield "sketch_stale" -> 1L
    // the union computed lex_index_stale / vec_index_drift counts
    // unconditionally; re-apply the presence rules they always had
    // (lex: iff a lexTable is configured; drift: iff positive)
    (counters -- Seq("lex_index_stale", "vec_index_drift")) ++
      lexStale.map("lex_index_stale" -> _) ++ bm25Debt ++
      vecDrift ++ vecStale ++ vecDelta ++ sketchStale +
      ("tombstone_debt" -> (counters("total_versions") - counters("live_frames")))
  }

  /** Compute the ordered phase plan from a probe — pure planning, no
    * mutation (the dry_run contract). Mirrors Planner::compute's
    * assembly order: findings, Vacuum (before IndexRebuild), rebuilds,
    * Finalize iff anything planned, Verify always. */
  def plan(g: Graft, opts: DoctorOptions,
           lexTable: Option[String] = None,
           vecPath: Option[String] = None,
           vecIdCol: String = "vec_id",
           vecCol: String = "embedding"): Report =
    planWithProbe(g, opts, lexTable, vecPath, vecIdCol, vecCol)._1

  /** What a probe reads that another handle or process can change: the
    * commit watermark and the last vacuum's, the cards table's live dir
    * and its files, every attached serving artifact's stamp, and the
    * committed state of each IVF dir in play (live generation, its
    * marker nonce, its committed deltas). A foreign vacuum, cards
    * rebuild, refresh or compaction changes what the probe counts
    * without moving the watermark. */
  private def probeKey(g: Graft, vecPath: Option[String]): Seq[Any] = {
    val attached = g.attachedArtifacts
    val vecPaths = (vecPath.toSeq ++ attached.collect {
      case v: ServingArtifact.IvfDir => v.path
    }).distinct.filter(graft.vector.IvfIndex.exists(g.spark, _))
    val cards = g.cardsDir
    (Seq(g.frames.persistedWatermark, g.frames.lastVacuumSeq, cards,
      graft.store.Fs.stamp(g.spark, cards)) ++ attached.map(_.stamp())) ++
      vecPaths.map(graft.vector.IvfIndex.version(g.spark, _))
  }

  /** [[plan]] that also returns the probe counters it planned from plus
    * the [[probeKey]] read BEFORE the probe — [[run]] reuses them for
    * the dry-run post-verify (r20, guide §1.2): dry_run executes
    * NOTHING, so when the key has not moved the verify counters are
    * definitionally the plan counters and the second union job is pure
    * duplication. */
  private[api] def planWithProbe(g: Graft, opts: DoctorOptions,
                                 lexTable: Option[String],
                                 vecPath: Option[String],
                                 vecIdCol: String,
                                 vecCol: String): (Report, Map[String, Long], Seq[Any]) = {
    val key = probeKey(g, vecPath)
    val p = probe(g, opts, lexTable, vecPath, vecIdCol, vecCol)
    var ord = 0L
    def row(rowType: String, phase: String, name: String, required: Boolean,
            reason: String, detailN: Long): Row = {
      ord += 1
      Row(ord, rowType, phase, name, required, reason, detailN, executed = false)
    }
    val findings = Seq(
      ("orphan_chunks", "error"), ("dangling_cards", "error"),
      ("duplicate_live_uris", "warning"), ("lex_index_stale", "error"),
      ("bm25_file_debt", "info"), ("vec_index_drift", "warning"),
      ("vec_index_stale", "error"), ("sketch_stale", "warning"),
      ("vec_delta_debt", "info"), ("tombstone_debt", "info")).collect {
      case (k, sev) if p.getOrElse(k, 0L) > 0 =>
        row("finding", "probe", k, sev == "error", sev, p(k))
    }
    val vacuumActions =
      (if (p("orphan_chunks") > 0)
        Seq(row("action", "vacuum", "prune_orphan_chunks", required = true,
          "orphan_chunks", p("orphan_chunks")))
      else Nil) ++
      (if (opts.vacuum)
        Seq(row("action", "vacuum", "vacuum_compaction", required = true,
          "requested", p("tombstone_debt")))
      else Nil) ++
      // maintain-side symmetry with the reference's continuous Tantivy
      // merge policy: fold append-delta files back to one per bucket
      (if (p.getOrElse("bm25_file_debt", 0L) > 0)
        Seq(row("action", "vacuum", "compact_lex_index", required = true,
          "bm25_file_debt", p("bm25_file_debt")))
      else Nil) ++
      (if (p.getOrElse("vec_delta_debt", 0L) > 0)
        Seq(row("action", "vacuum", "compact_vec_index", required = true,
          "vec_delta_debt", p("vec_delta_debt")))
      else Nil)
    val rebuildActions =
      (if (p("dangling_cards") > 0 || opts.rebuildCards)
        Seq(row("action", "index_rebuild", "rebuild_cards",
          required = p("dangling_cards") > 0 || opts.rebuildCards,
          if (p("dangling_cards") > 0) "dangling_cards" else "requested",
          p("dangling_cards")))
      else Nil) ++
      (lexTable match {
        case Some(t) if p.getOrElse("lex_index_stale", 0L) > 0 || opts.rebuildLexIndex =>
          // the cheaper heal wins when it is sufficient (reference
          // instant-index, builders.rs:12-44): a facade-attached table
          // whose post-stamp delta is append-only plans an INCREMENTAL
          // refresh (O(delta) via Bm25Index.append + restamp) instead
          // of the corpus-sized rebuild; an explicit rebuild request,
          // an unattached table, or a delta with deletes/supersedes
          // keeps the rebuild
          val canRefresh = !opts.rebuildLexIndex &&
            g.attachedLex(t).exists(g.appendable)
          Seq(row("action", "index_rebuild",
            if (canRefresh) "refresh_lex_index" else "rebuild_lex_index",
            required = true,
            if (p.getOrElse("lex_index_stale", 0L) > 0) "lex_index_stale"
            else "requested",
            p.getOrElse("lex_index_stale", 0L)))
        case _ => Nil
      }) ++
      (vecPath match {
        // staleness of an ATTACHED serving index heals incrementally:
        // refreshVecIndex appends the post-stamp delta under the
        // standing codebook (falls back to rebuild itself if the delta
        // breaks the append contract). Runs BEFORE a drift retrain so
        // the retrain re-centers over the caught-up corpus.
        case Some(_) if p.getOrElse("vec_index_stale", 0L) > 0 =>
          Seq(row("action", "index_rebuild", "refresh_vec_index",
            required = true, "vec_index_stale", 1L))
        case _ => Nil
      }) ++
      // a stale attached sketch table heals by the always-append refresh
      // (no rebuild case beyond a missing/torn table, which the refresh
      // classifies itself) — planned after the lex/vec heals so the
      // pre-filter catches up against the same store version they did
      (if (p.getOrElse("sketch_stale", 0L) > 0)
        Seq(row("action", "index_rebuild", "refresh_sketch_table",
          required = true, "sketch_stale", 1L))
      else Nil) ++
      (vecPath match {
        // drift-driven planning (the reference's probe-driven Planner,
        // doctor.rs:176-360): the finding wins over the option's bare
        // "requested" — the report then carries WHY the rebuild runs
        case Some(_) if p.getOrElse("vec_index_drift", 0L) > 0 =>
          Seq(row("action", "index_rebuild", "rebuild_vec_index",
            required = true, "drift", p("vec_index_drift")))
        case Some(_) if opts.rebuildVecIndex =>
          Seq(row("action", "index_rebuild", "rebuild_vec_index",
            required = true, "requested", 0L))
        case _ => Nil
      })
    val finalize =
      if (vacuumActions.nonEmpty || rebuildActions.nonEmpty)
        Seq(row("action", "finalize", "refresh_snapshot", required = true, "", 0L))
      else Nil
    val verify = Seq(row("action", "verify", "deep_verify", required = true, "", 0L))
    (Report(findings ++ vacuumActions ++ rebuildActions ++ finalize ++ verify), p, key)
  }

  /** Plan, then execute unless dry_run — doctor_run (doctor.rs:162-173).
    * Actions run in plan order; the Verify phase re-probes and appends
    * the post counters as `post_verify` rows, so the report carries the
    * evidence of repair (or, under dry_run, of UNTOUCHED state). */
  def run(g: Graft, opts: DoctorOptions,
          lexTable: Option[String] = None,
          vecPath: Option[String] = None,
          lexStemmed: Boolean = false,
          vecIdCol: String = "vec_id",
          vecCol: String = "embedding"): Report =
    runPlanned(g, opts, planWithProbe(g, opts, lexTable, vecPath, vecIdCol, vecCol),
      lexTable, vecPath, lexStemmed, vecIdCol, vecCol)

  /** [[run]] from a [[planWithProbe]] result */
  private[api] def runPlanned(g: Graft, opts: DoctorOptions,
                              plan: (Report, Map[String, Long], Seq[Any]),
                              lexTable: Option[String], vecPath: Option[String],
                              lexStemmed: Boolean, vecIdCol: String,
                              vecCol: String): Report = {
    val (planned, preProbe, preKey) = plan
    val executed = planned.rows.map { r =>
      if (r.rowType != "action" || opts.dryRun) r
      else {
        r.name match {
          case "prune_orphan_chunks" =>
            // orphan ids are corruption residue — bounded by the damage,
            // not the corpus (the reference's segment catalog repair has
            // the same shape); collect is of the orphan id set only
            val ids = g.frames.latestActive.filter(col("role") === "chunk")
              .join(g.frames.latestActive.filter(col("role") === "document")
                .select(col("id").as("parentId")), Seq("parentId"), "left_anti")
              .select("id").collect().map(_.getLong(0)).toSeq.sorted
            g.frames.deleteMany(ids)
          case "vacuum_compaction" => g.vacuum()
          case "rebuild_cards" => g.repairCards(): Unit
          case "refresh_vec_index" =>
            g.refreshVecIndex(): Unit
          case "refresh_sketch_table" =>
            g.refreshSketchTable(): Unit
          case "refresh_lex_index" =>
            // refreshLexIndex re-classifies at execution time, so a
            // store that moved past the plan (new deletes) rebuilds
            // anyway — the action name records the PLAN, the facade
            // owns the safe execution either way
            g.refreshLexIndex(): Unit
          case "rebuild_lex_index" =>
            lexTable.foreach { t =>
              g.attachedLex(t) match {
                // the facade SERVES this table: rebuild through the
                // facade's own build (live frames INCLUDING chunks, the
                // index's own analyzer, version restamp) so serving
                // returns to the indexed route — the maintain→serve loop
                // the reference's doctor verify closes (doctor.rs:140-173)
                case Some(a) => g.buildLexIndex(t, stemmed = a.stemmed)
                case None =>
                  // a standalone tracked table keeps its layout through
                  // the doctor rebuild (same auto-detect the facade
                  // build does)
                  val tracked = g.spark.catalog.tableExists(t) &&
                    g.spark.table(t).columns.contains("track")
                  graft.search.Bm25Index.write(
                    g.frames.latestActive.filter(col("role") === "document")
                      .select(col("id").as("doc_id") +:
                        coalesce(col("text"), lit("")).as("text") +:
                        (if (tracked) Seq(col("track")) else Nil): _*),
                    "doc_id", "text", t, stemmed = lexStemmed,
                    trackCol = if (tracked) Some("track") else None)
              }
            }
          case "compact_lex_index" =>
            lexTable.foreach { t =>
              // value-neutral: the swap keeps the live table's bucket
              // spec and carries its serving stamp and torn-refresh
              // marker (Bm25Index.compact), so only the cached serving
              // verdicts drop
              graft.search.Bm25Index.compact(g.spark, t)
              g.invalidateIndexCaches()
            }
          case "compact_vec_index" =>
            vecPath.foreach { p =>
              graft.vector.IvfIndex.compactDeltas(g.spark, p)
              // the path-root version stamp survives (compaction swaps
              // generation DIRS under it), but a cached serving handle
              // points at the deleted generation — reopen on next query
              g.invalidateIndexCaches()
            }
          case "rebuild_vec_index" =>
            vecPath.foreach { p =>
              graft.vector.IvfIndex.retrain(g.spark, p, vecIdCol, vecCol)
              g.invalidateIndexCaches()
            }
          case "refresh_snapshot" => g.releaseSnapshot()
          case "deep_verify" => () // the re-probe below IS the deep verify
          case other => throw new IllegalStateException(s"unplanned action $other")
        }
        r.copy(executed = true)
      }
    }
    // dry_run executed nothing: when no foreign writer moved the probe
    // key, the verify counters ARE the plan counters — reuse them instead
    // of paying a second identical probe union job (r20 §1.2)
    val post =
      if (opts.dryRun && probeKey(g, vecPath) == preKey) preProbe
      else probe(g, opts, lexTable, vecPath, vecIdCol, vecCol)
    val base = executed.map(_.ord).max
    val postRows = post.toSeq.sortBy(_._1).zipWithIndex.map { case ((k, v), i) =>
      Row(base + i + 1, "post_verify", "verify", k, required = false,
        if (opts.dryRun) "dry_run" else "repaired", v, executed = !opts.dryRun)
    }
    Report(executed ++ postRows)
  }
}
