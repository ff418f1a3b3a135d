package graft.queries

import graft.{QueryDef, Tables}
import graft.store.FrameStore
import org.apache.spark.sql.functions._

/** Oracle gate for the S1–S3/F8 store lifecycle — put (batch append with
  * content-hash dedup), update (supersede), delete (tombstone), and the
  * latest-active window view, end to end against the DuckDB oracle
  * (reference mutation path src/memvid/mutation.rs:3090-3316).
  *
  * The fixture batch is collected driver-side deliberately: `put` IS the
  * reference's driver-batch ingestion API (one document per call there;
  * bulk ingestion at scale is native partitioned reads, S4). 60 rows,
  * bounded, all < 1000 chars so every document is single-chunk and the
  * oracle needs no chunk-boundary replay.
  */
object StoreQueries {

  def defs: Map[String, QueryDef] = Map(

    "store_put_lifecycle" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_store_gate") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://gate/${r.getLong(0)}", r.getString(1))).toSeq
        val store = new FrameStore(s, dir)
        // batch 1: docs 0..39
        val ids1 = store.put(docs.take(40))
        // batch 2: docs 40..59 PLUS a re-put of 0..9 — the content-hash
        // anti-join must skip the 10 duplicates, so ids2 covers 40..59 only
        val ids2 = store.put(docs.drop(40) ++ docs.take(10))
        // supersede docs 0..4 with edited text (new id, supersedes old)
        docs.take(5).zip(ids1.take(5)).foreach { case ((u, t), oldId) =>
          store.update(oldId, t + " v2", u)
        }
        // tombstone docs 40..44 (first five ids of the second batch)
        ids2.take(5).foreach(store.delete(_))
        // current = newest version per id, active only, superseded hidden
        store.latestActive
          .select(col("uri"), col("text"))
          .orderBy(col("uri"))
      },
      """WITH base AS (
        |  SELECT doc_id, 'mv2://gate/' || doc_id AS uri, text
        |  FROM documents WHERE doc_id < 60)
        |SELECT uri,
        |       CASE WHEN doc_id < 5 THEN text || ' v2' ELSE text END AS text
        |FROM base
        |WHERE doc_id NOT BETWEEN 40 AND 44
        |ORDER BY uri""".stripMargin),

    // ---- F7 + snapshot delta: diff two as-of views of the store
    // (store/SnapshotDiff) — the incremental-reprocessing primitive.
    // v1 = state after batch 1; v2 = current state after a second batch,
    // five supersedes, and two tombstones. The oracle states the expected
    // classification per uri directly from the fixture's construction. ----
    "store_version_diff" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_store_diff") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://gate/${r.getLong(0)}", r.getString(1))).toSeq
        val store = new FrameStore(s, dir)
        val ids1 = store.put(docs.take(40))
        val seq1 = store.log.agg(max(col("commitSeq"))).head.getLong(0)
        store.put(docs.drop(40))
        store.updateMany(docs.take(5).zip(ids1.take(5))
          .map { case ((u, t), oldId) => (oldId, t + " v2", u) })
        store.deleteMany(Seq(30, 31).map(ids1(_)))
        graft.store.SnapshotDiff.diff(
            store.asOf(seq1), store.latestActive, "uri", "text")
          .select(col("key").as("uri"), col("status"))
          .orderBy(col("uri"))
      },
      """WITH base AS (
        |  SELECT doc_id, 'mv2://gate/' || doc_id AS uri
        |  FROM documents WHERE doc_id < 60)
        |SELECT uri,
        |       CASE WHEN doc_id BETWEEN 0 AND 4 THEN 'changed'
        |            WHEN doc_id IN (30, 31) THEN 'removed'
        |            WHEN doc_id >= 40 THEN 'added'
        |            ELSE 'unchanged' END AS status
        |FROM base ORDER BY uri""".stripMargin),

    // ---- S11 blob round-trip: the payload BINARY column through the
    // store's append-only parquet log and latest-active view. put()
    // stores the document's UTF-8 bytes as the payload, so the oracle
    // recomputes the md5 and byte length straight from the text (DuckDB
    // md5() hashes UTF-8; strlen() counts bytes, not codepoints) — any
    // corruption, truncation, or re-encode of the binary column between
    // write and read breaks the hash. ----
    "store_blob_roundtrip" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_blob_gate") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://blob/${r.getLong(0)}", r.getString(1))).toSeq
        val store = new FrameStore(s, dir)
        store.put(docs, chunkLargeDocs = false)
        store.latestActive
          .select(
            regexp_extract(col("uri"), "mv2://blob/(\\d+)", 1)
              .cast("long").as("doc_id"),
            md5(col("payload")).as("payload_md5"),
            length(col("payload")).cast("long").as("n_bytes"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id, md5(text) AS payload_md5,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin),

    // ---- O17 doctor integrity scan (reference doctor.rs:76-162 repair
    // report): a store with three SEEDED inconsistencies — a chunked
    // document whose parent is tombstoned (orphan chunks), one uri put
    // twice with different payloads (duplicate live uris), and a card
    // whose sourceFrameId never existed in the log (dangling card,
    // planted by writing the cards table directly: doctor hunts
    // corruption the facade itself would never produce). The remember()
    // sentinel (-1) card must NOT count as dangling — the gate includes
    // one to prove the exemption. Every counter is a literal the fixture
    // construction implies; the big doc splits into exactly 2 chunks
    // (two ~816-char paragraphs vs the 1200-char chunk budget). ----
    "store_doctor_report" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_doctor_gate") { dir =>
        import s.implicits._
        val docs = Tables.documents(s, d).filter(col("doc_id") < 10)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://doc/${r.getLong(0)}", r.getString(1))).toSeq
        val g = new graft.api.Graft(s, dir)
        // one batch append for the healthy corpus — ten per-doc facade
        // puts cost ten write jobs for identical doctor counts (the
        // facade put only adds card minting, which no counter reads)
        g.frames.put(docs)
        val para = "spark merge row scan value table. " * 24
        val bigId = g.put("mv2://doc/big", para + "\n\n" + para).get
        g.delete(bigId) // parent gone, chunks remain live → orphaned
        g.put("mv2://dup/1", "alpha beta gamma one")
        g.put("mv2://dup/1", "alpha beta gamma two")
        Seq((424242L << 20, "ghost", "slot", "v", "fact", "sets",
             new java.sql.Timestamp(1700000003000L), 424242L))
          .toDF("cardId", "entity", "slot", "value", "kind", "relation",
            "ts", "sourceFrameId")
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/cards")
        g.remember("user", "color", "blue")
        g.doctor.toSeq.toDF("metric", "value").orderBy(col("metric"))
      },
      """SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
        |  ('dangling_cards', 1),
        |  ('duplicate_live_uris', 1),
        |  ('live_frames', 14),
        |  ('orphan_chunks', 2),
        |  ('tombstoned', 1),
        |  ('total_versions', 16)) t(metric, value)
        |ORDER BY metric""".stripMargin),

    // ---- doctor plan/phase ORCHESTRATION (reference planner + executor:
    // src/memvid/doctor.rs:176-360 Planner::compute, 140-173
    // doctor_run; types src/types/verification.rs:9-56 — DoctorOptions
    // with dry_run, DoctorPhaseKind Probe→Vacuum→IndexRebuild→Finalize→
    // Verify in the reference's vacuum-before-rebuild order): the
    // store_doctor_report corruption fixture (orphan chunks, duplicate
    // live uris, a planted dangling card) PLUS a persisted BM25 index
    // made stale by two late puts. Locked observables: the DRY run plans
    // every repair with the right phase/required/reason/detail and
    // executes NOTHING (its verify re-probe equals the original
    // counters bit-for-bit), the APPLY run executes the same plan and
    // its re-probe shows every repair landed — while the duplicate-uri
    // WARNING survives untouched (electing a version is destructive;
    // doctor reports, never destroys). Every row is fixture-implied. ----
    "store_doctor_plan" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_doctor_plan_gate", "doctor_lex_gate") { dir =>
        import s.implicits._
        val docs = Tables.documents(s, d).filter(col("doc_id") < 10)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://doc/${r.getLong(0)}", r.getString(1))).toSeq
        val g = new graft.api.Graft(s, dir)
        g.frames.put(docs)
        val para = "spark merge row scan value table. " * 24
        val bigId = g.put("mv2://doc/big", para + "\n\n" + para).get
        g.delete(bigId) // parent gone, chunks remain live → orphaned
        g.put("mv2://dup/1", "alpha beta gamma one")
        g.put("mv2://dup/1", "alpha beta gamma two")
        Seq((424242L << 20, "ghost", "slot", "v", "fact", "sets",
             new java.sql.Timestamp(1700000003000L), 424242L))
          .toDF("cardId", "entity", "slot", "value", "kind", "relation",
            "ts", "sourceFrameId")
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/cards")
        // persisted lex index over the CURRENT live docs …
        graft.search.Bm25Index.write(
          g.frames.latestActive.filter(col("role") === "document")
            .select(col("id").as("doc_id"), col("text")),
          "doc_id", "text", "doctor_lex_gate", stemmed = false)
        // … which two late puts leave stale (LexIndexMissing analogue)
        g.put("mv2://late/1", "late doc about spark windows")
        g.put("mv2://late/2", "late doc about merge joins")
        val opts = graft.api.Doctor.DoctorOptions(vacuum = true)
        val dry = g.doctorRun(opts.copy(dryRun = true),
          lexTable = Some("doctor_lex_gate"))
        val app = g.doctorRun(opts, lexTable = Some("doctor_lex_gate"))
        dry.toDF(s).withColumn("run", lit("dry"))
          .unionByName(app.toDF(s).withColumn("run", lit("apply")))
          .orderBy(col("run"), col("ord"))
      },
      """SELECT CAST(ord AS BIGINT) AS ord, row_type, phase, name, required,
        |  reason, CAST(detail_n AS BIGINT) AS detail_n, executed, run
        |FROM (VALUES
        |  (1,'finding','probe','orphan_chunks',TRUE,'error',2,FALSE,'dry'),
        |  (2,'finding','probe','dangling_cards',TRUE,'error',1,FALSE,'dry'),
        |  (3,'finding','probe','duplicate_live_uris',FALSE,'warning',1,FALSE,'dry'),
        |  (4,'finding','probe','lex_index_stale',TRUE,'error',2,FALSE,'dry'),
        |  (5,'finding','probe','tombstone_debt',FALSE,'info',2,FALSE,'dry'),
        |  (6,'action','vacuum','prune_orphan_chunks',TRUE,'orphan_chunks',2,FALSE,'dry'),
        |  (7,'action','vacuum','vacuum_compaction',TRUE,'requested',2,FALSE,'dry'),
        |  (8,'action','index_rebuild','rebuild_cards',TRUE,'dangling_cards',1,FALSE,'dry'),
        |  (9,'action','index_rebuild','rebuild_lex_index',TRUE,'lex_index_stale',2,FALSE,'dry'),
        |  (10,'action','finalize','refresh_snapshot',TRUE,'',0,FALSE,'dry'),
        |  (11,'action','verify','deep_verify',TRUE,'',0,FALSE,'dry'),
        |  (12,'post_verify','verify','dangling_cards',FALSE,'dry_run',1,FALSE,'dry'),
        |  (13,'post_verify','verify','duplicate_live_uris',FALSE,'dry_run',1,FALSE,'dry'),
        |  (14,'post_verify','verify','lex_index_stale',FALSE,'dry_run',2,FALSE,'dry'),
        |  (15,'post_verify','verify','live_frames',FALSE,'dry_run',16,FALSE,'dry'),
        |  (16,'post_verify','verify','orphan_chunks',FALSE,'dry_run',2,FALSE,'dry'),
        |  (17,'post_verify','verify','tombstone_debt',FALSE,'dry_run',2,FALSE,'dry'),
        |  (18,'post_verify','verify','tombstoned',FALSE,'dry_run',1,FALSE,'dry'),
        |  (19,'post_verify','verify','total_versions',FALSE,'dry_run',18,FALSE,'dry'),
        |  (1,'finding','probe','orphan_chunks',TRUE,'error',2,FALSE,'apply'),
        |  (2,'finding','probe','dangling_cards',TRUE,'error',1,FALSE,'apply'),
        |  (3,'finding','probe','duplicate_live_uris',FALSE,'warning',1,FALSE,'apply'),
        |  (4,'finding','probe','lex_index_stale',TRUE,'error',2,FALSE,'apply'),
        |  (5,'finding','probe','tombstone_debt',FALSE,'info',2,FALSE,'apply'),
        |  (6,'action','vacuum','prune_orphan_chunks',TRUE,'orphan_chunks',2,TRUE,'apply'),
        |  (7,'action','vacuum','vacuum_compaction',TRUE,'requested',2,TRUE,'apply'),
        |  (8,'action','index_rebuild','rebuild_cards',TRUE,'dangling_cards',1,TRUE,'apply'),
        |  (9,'action','index_rebuild','rebuild_lex_index',TRUE,'lex_index_stale',2,TRUE,'apply'),
        |  (10,'action','finalize','refresh_snapshot',TRUE,'',0,TRUE,'apply'),
        |  (11,'action','verify','deep_verify',TRUE,'',0,TRUE,'apply'),
        |  (12,'post_verify','verify','dangling_cards',FALSE,'repaired',0,TRUE,'apply'),
        |  (13,'post_verify','verify','duplicate_live_uris',FALSE,'repaired',1,TRUE,'apply'),
        |  (14,'post_verify','verify','lex_index_stale',FALSE,'repaired',0,TRUE,'apply'),
        |  (15,'post_verify','verify','live_frames',FALSE,'repaired',14,TRUE,'apply'),
        |  (16,'post_verify','verify','orphan_chunks',FALSE,'repaired',0,TRUE,'apply'),
        |  (17,'post_verify','verify','tombstone_debt',FALSE,'repaired',0,TRUE,'apply'),
        |  (18,'post_verify','verify','tombstoned',FALSE,'repaired',0,TRUE,'apply'),
        |  (19,'post_verify','verify','total_versions',FALSE,'repaired',14,TRUE,'apply'))
        | t(ord, row_type, phase, name, required, reason, detail_n, executed, run)
        |ORDER BY run, ord""".stripMargin),

    // ---- doctor MAINTENANCE planning from live index-health signals
    // (reference: probe-driven Planner doctor.rs:176-360 + Tantivy's
    // continuous merge policy): a persisted BM25 index carries two
    // append-delta files beyond its one-per-bucket budget
    // (`bm25_file_debt` = 2 → compact_lex_index planned in the Vacuum
    // phase) and a persisted IVF index has one drifted cluster — seeds
    // (0,0)/(10,0) with cluster-1 vectors at L2 distances 4/3/2, mean
    // distortion 3.0 > the 1.0 budget (`vec_index_drift` = 1 →
    // rebuild_vec_index planned with reason "drift", the probe-driven
    // trigger vec_ivf_drift computes) — plus one committed append delta
    // over the 0 budget (`vec_delta_debt` = 1 → compact_vec_index, the
    // IVF fold). Locked: the DRY run plans all three repairs and
    // executes nothing (all three debts still present in its re-probe),
    // the APPLY run executes them and its re-probe shows all cleared —
    // lex compaction folded files back under budget (nBuckets=1 →
    // exactly one file), the delta folded into a fresh generation, and
    // the retrained centroid (13,0) has mean distortion 2/3 < 1. Every
    // number is fixture arithmetic. ----
    "store_doctor_maintain" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_doctor_maint_gate", "doctor_maint_lex") { dir =>
        import s.implicits._
        val g = new graft.api.Graft(s, dir)
        g.frames.put(Seq(
          ("mv2://m/0", "alpha bravo packet"),
          ("mv2://m/1", "charlie delta packet"),
          ("mv2://m/2", "echo foxtrot packet"),
          ("mv2://m/3", "golf hotel packet")))
        // persisted BM25 index, nBuckets=1: compact → exactly ONE file
        graft.search.Bm25Index.write(
          g.frames.latestActive.filter(col("role") === "document")
            .select(col("id").as("doc_id"), col("text")),
          "doc_id", "text", "doctor_maint_lex", stemmed = false, nBuckets = 1)
        graft.search.Bm25Index.compact(s, "doctor_maint_lex", nBuckets = 1)
        // two appends, each a one-posting delta → one data file each
        Seq("zzzalpha", "zzzbeta").foreach { term =>
          val idNew = g.put(s"mv2://m/$term", term).get
          graft.search.Bm25Index.append(
            Seq((idNew, term)).toDF("doc_id", "text"),
            "doc_id", "text", "doctor_maint_lex", stemmed = false,
            nBuckets = 1)
        }
        // persisted IVF index with one drifted cluster (exact arithmetic)
        val vdir = s"$dir/vec"
        val vecs = Seq(
          (0L, Array(0f, 0f)), (1L, Array(0f, 0f)), (2L, Array(0f, 0f)),
          (3L, Array(14f, 0f)), (4L, Array(13f, 0f)), (5L, Array(12f, 0f)))
          .toDF("vec_id", "embedding")
        graft.vector.IvfIndex.write(vecs, "vec_id", "embedding", vdir,
          Seq(0 -> Array(0f, 0f), 1 -> Array(10f, 0f)))
        // one committed append delta → vec_delta_debt = 1 over budget 0;
        // the (0,0) vector joins cluster 0 (distortion 0 — drift math
        // untouched, still exactly one drifted cluster)
        graft.vector.IvfIndex.append(s, vdir,
          Seq((6L, Array(0f, 0f))).toDF("vec_id", "embedding"),
          "vec_id", "embedding")
        val opts = graft.api.Doctor.DoctorOptions(
          bm25FileBudget = Some(1L), vecDriftMeanMax = Some(1.0),
          vecDeltaBudget = Some(0L))
        val dry = g.doctorRun(opts.copy(dryRun = true),
          lexTable = Some("doctor_maint_lex"), vecPath = Some(vdir))
        val app = g.doctorRun(opts,
          lexTable = Some("doctor_maint_lex"), vecPath = Some(vdir))
        dry.toDF(s).withColumn("run", lit("dry"))
          .unionByName(app.toDF(s).withColumn("run", lit("apply")))
          .orderBy(col("run"), col("ord"))
      },
      """SELECT CAST(ord AS BIGINT) AS ord, row_type, phase, name, required,
        |  reason, CAST(detail_n AS BIGINT) AS detail_n, executed, run
        |FROM (VALUES
        |  (1,'finding','probe','bm25_file_debt',FALSE,'info',2,FALSE,'dry'),
        |  (2,'finding','probe','vec_index_drift',FALSE,'warning',1,FALSE,'dry'),
        |  (3,'finding','probe','vec_delta_debt',FALSE,'info',1,FALSE,'dry'),
        |  (4,'action','vacuum','compact_lex_index',TRUE,'bm25_file_debt',2,FALSE,'dry'),
        |  (5,'action','vacuum','compact_vec_index',TRUE,'vec_delta_debt',1,FALSE,'dry'),
        |  (6,'action','index_rebuild','rebuild_vec_index',TRUE,'drift',1,FALSE,'dry'),
        |  (7,'action','finalize','refresh_snapshot',TRUE,'',0,FALSE,'dry'),
        |  (8,'action','verify','deep_verify',TRUE,'',0,FALSE,'dry'),
        |  (9,'post_verify','verify','bm25_file_debt',FALSE,'dry_run',2,FALSE,'dry'),
        |  (10,'post_verify','verify','dangling_cards',FALSE,'dry_run',0,FALSE,'dry'),
        |  (11,'post_verify','verify','duplicate_live_uris',FALSE,'dry_run',0,FALSE,'dry'),
        |  (12,'post_verify','verify','lex_index_stale',FALSE,'dry_run',0,FALSE,'dry'),
        |  (13,'post_verify','verify','live_frames',FALSE,'dry_run',6,FALSE,'dry'),
        |  (14,'post_verify','verify','orphan_chunks',FALSE,'dry_run',0,FALSE,'dry'),
        |  (15,'post_verify','verify','tombstone_debt',FALSE,'dry_run',0,FALSE,'dry'),
        |  (16,'post_verify','verify','tombstoned',FALSE,'dry_run',0,FALSE,'dry'),
        |  (17,'post_verify','verify','total_versions',FALSE,'dry_run',6,FALSE,'dry'),
        |  (18,'post_verify','verify','vec_delta_debt',FALSE,'dry_run',1,FALSE,'dry'),
        |  (19,'post_verify','verify','vec_index_drift',FALSE,'dry_run',1,FALSE,'dry'),
        |  (1,'finding','probe','bm25_file_debt',FALSE,'info',2,FALSE,'apply'),
        |  (2,'finding','probe','vec_index_drift',FALSE,'warning',1,FALSE,'apply'),
        |  (3,'finding','probe','vec_delta_debt',FALSE,'info',1,FALSE,'apply'),
        |  (4,'action','vacuum','compact_lex_index',TRUE,'bm25_file_debt',2,TRUE,'apply'),
        |  (5,'action','vacuum','compact_vec_index',TRUE,'vec_delta_debt',1,TRUE,'apply'),
        |  (6,'action','index_rebuild','rebuild_vec_index',TRUE,'drift',1,TRUE,'apply'),
        |  (7,'action','finalize','refresh_snapshot',TRUE,'',0,TRUE,'apply'),
        |  (8,'action','verify','deep_verify',TRUE,'',0,TRUE,'apply'),
        |  (9,'post_verify','verify','dangling_cards',FALSE,'repaired',0,TRUE,'apply'),
        |  (10,'post_verify','verify','duplicate_live_uris',FALSE,'repaired',0,TRUE,'apply'),
        |  (11,'post_verify','verify','lex_index_stale',FALSE,'repaired',0,TRUE,'apply'),
        |  (12,'post_verify','verify','live_frames',FALSE,'repaired',6,TRUE,'apply'),
        |  (13,'post_verify','verify','orphan_chunks',FALSE,'repaired',0,TRUE,'apply'),
        |  (14,'post_verify','verify','tombstone_debt',FALSE,'repaired',0,TRUE,'apply'),
        |  (15,'post_verify','verify','tombstoned',FALSE,'repaired',0,TRUE,'apply'),
        |  (16,'post_verify','verify','total_versions',FALSE,'repaired',6,TRUE,'apply'))
        | t(ord, row_type, phase, name, required, reason, detail_n, executed, run)
        |ORDER BY run, ord""".stripMargin),

    // ---- snapshot pin lifecycle (the read-optimized latest-active copy,
    // lifecycle.rs open-for-read analogue): snapshotCurrent() pins the
    // view to a parquet copy (count taken through the pin proves it
    // serves), and a MUTATION must drop the pin — the final read carries
    // the post-mutation texts, so a stale-pin bug (serving the copy after
    // the log moved) fails the hash on the v2 rows. ----
    "store_snapshot_pin" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_pin_gate") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 30)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://pin/${r.getLong(0)}", r.getString(1))).toSeq
        val store = new FrameStore(s, s"$dir/frames")
        val ids = store.put(docs, chunkLargeDocs = false)
        store.snapshotCurrent(s"$dir/snap")
        val pinnedCount = store.latestActive.count() // served from the pin
        store.updateMany(docs.take(3).zip(ids.take(3))
          .map { case ((u, t), oldId) => (oldId, t + " v2", u) }) // drops pin
        store.latestActive
          .select(col("uri"),
            octet_length(col("text")).cast("long").as("n_chars_stored"))
          .withColumn("pinned_count", lit(pinnedCount))
          .orderBy(col("uri"))
      },
      """SELECT 'mv2://pin/' || doc_id AS uri,
        |  CAST(strlen(text) + CASE WHEN doc_id < 3 THEN 3 ELSE 0 END
        |       AS BIGINT) AS n_chars_stored,
        |  CAST(30 AS BIGINT) AS pinned_count
        |FROM documents WHERE doc_id < 30 ORDER BY uri""".stripMargin),

    // ---- O17 second half: repairCards index REBUILD (reference
    // doctor.rs rebuild of corrupted derived indexes — here the cards
    // table re-derives from the live frame log). Fixture: three frames
    // minting known rule-extracted facts, one superseded (its facts must
    // vanish and the new version's appear), one tombstoned (facts
    // vanish), plus a GARBAGE card row appended directly to the cards
    // table (the corruption doctor exists for). After repairCards(), the
    // cards table must equal exactly the rules output over live frames —
    // ids rebuilt on the same (frameId << 20) + idx stride, garbage and
    // retract rows gone. The oracle is the literal expected card set;
    // card_idx also locks the RULE ORDER (location fires before name in
    // Enrich.defaultRules). ----
    "store_repair_cards" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_repair_gate") { dir =>
        import s.implicits._
        val g = new graft.api.Graft(s, dir)
        // one batch append (ids come back in order); rebuild-from-log
        // doesn't read the put-time cards, so skipping their minting
        // changes nothing the gate locks
        val ids = g.frames.put(Seq(
          "mv2://repair/1" -> "My name is Alice. I live in Paris.",
          "mv2://repair/2" -> "My email is bob@example.com",
          "mv2://repair/3" -> "I work at Initech."))
        val (f2, f3) = (ids(1), ids(2))
        g.update(f2, "My email is bob@corp.example", "mv2://repair/2")
        g.delete(f3)
        Seq((777777L << 20, "ghost", "slot", "v", "fact", "sets",
             new java.sql.Timestamp(1700000003000L), 777777L))
          .toDF("cardId", "entity", "slot", "value", "kind", "relation",
            "ts", "sourceFrameId")
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/cards")
        val total = g.repairCards()
        g.cards
          .join(g.frames.latestActive.select(col("id").as("sourceFrameId"),
            col("uri")), "sourceFrameId")
          .select(col("uri"),
            (col("cardId") - shiftleft(col("sourceFrameId"), 20))
              .cast("long").as("card_idx"),
            col("entity"), col("slot"), col("value"))
          .withColumn("n_cards_total", lit(total))
          .orderBy(col("uri"), col("card_idx"))
      },
      """SELECT uri, CAST(card_idx AS BIGINT) AS card_idx, entity, slot,
        |       value, CAST(3 AS BIGINT) AS n_cards_total
        |FROM (VALUES
        |  ('mv2://repair/1', 0, 'user', 'location', 'Paris'),
        |  ('mv2://repair/1', 1, 'user', 'name', 'Alice'),
        |  ('mv2://repair/2', 0, 'user', 'email', 'bob@corp.example')
        |) t(uri, card_idx, entity, slot, value)
        |ORDER BY uri, card_idx""".stripMargin),

    // ---- vacuum/compaction (reference vacuum, mutation.rs:2999): after
    // put + supersede + tombstone mutations, vacuum() rewrites the log to
    // the live view only. The gate locks BOTH invariants: the log
    // physically shrinks to exactly the live row count (47 → 38: 40 puts
    // + 5 update appends + 2 tombstone appends collapse to 33 untouched
    // + 5 v2), and the latest-active view re-derived from the compacted
    // log is unchanged — per-uri stored text lengths replay from the
    // source table. ----
    // ---- writer discipline (reference src/lock.rs + src/lockfile.rs):
    // TWO FrameStore handles mutate ONE store path — handle B must mint
    // past handle A's persisted watermark (not from a stale log rescan),
    // and cross-handle supersede/tombstone must land on the other
    // handle's ids. The locked observables are the log's version
    // accounting: 42 appended rows (20+20 mints, 1 supersede mint, 1
    // tombstone), 41 DISTINCT ids (an id collision between the handles
    // drops this), 4 serialized commits. The ScalaTest side
    // (StoreLockSpec) covers the genuinely-concurrent interleavings,
    // contender timeout with owner hint, and stale takeover; this gate
    // locks the cross-handle VALUE semantics against the oracle. ----
    "store_lock_discipline" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_lock_gate") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://lock/${r.getLong(0)}", r.getString(1))).toSeq
        val a = new FrameStore(s, dir)
        val idsA = a.put(docs.take(20), chunkLargeDocs = false)
        val b = new FrameStore(s, dir) // separate handle, separate cache
        val idsB = b.put(docs.drop(20), chunkLargeDocs = false)
        // B supersedes a frame A minted; A tombstones a frame B minted
        b.update(idsA.head, docs.head._2 + " v2", docs.head._1)
        a.delete(idsB.head)
        val log = a.log
        val acct = log.agg(
          count(lit(1)).as("log_rows"),
          countDistinct(col("id")).as("n_distinct_ids"),
          countDistinct(col("commitSeq")).as("n_commits")).head
        a.latestActive
          .select(col("uri"), col("text"))
          .withColumn("log_rows", lit(acct.getLong(0)))
          .withColumn("n_distinct_ids", lit(acct.getLong(1)))
          .withColumn("n_commits", lit(acct.getLong(2)))
          .orderBy(col("uri"))
      },
      """SELECT 'mv2://lock/' || doc_id AS uri,
        |  CASE WHEN doc_id = 0 THEN text || ' v2' ELSE text END AS text,
        |  CAST(42 AS BIGINT) AS log_rows,
        |  CAST(41 AS BIGINT) AS n_distinct_ids,
        |  CAST(4 AS BIGINT) AS n_commits
        |FROM documents WHERE doc_id < 40 AND doc_id <> 20
        |ORDER BY uri""".stripMargin),

    "store_vacuum_compact" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_vacuum_gate") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://vac/${r.getLong(0)}", r.getString(1))).toSeq
        val store = new FrameStore(s, dir)
        val ids = store.put(docs, chunkLargeDocs = false)
        store.updateMany(docs.take(5).zip(ids.take(5))
          .map { case ((u, t), oldId) => (oldId, t + " v2", u) })
        store.deleteMany(Seq(ids(30), ids(31)))
        val before = store.log.count()
        store.vacuum()
        val after = store.log.count()
        store.latestActive
          .select(col("uri"), // octet/strlen: BYTE counts on both engines
            octet_length(col("text")).cast("long").as("n_chars_stored"))
          .withColumn("log_rows_before", lit(before))
          .withColumn("log_rows_after", lit(after))
          .orderBy(col("uri"))
      },
      """SELECT 'mv2://vac/' || doc_id AS uri,
        |  CAST(strlen(text) + CASE WHEN doc_id < 5 THEN 3 ELSE 0 END
        |       AS BIGINT) AS n_chars_stored,
        |  CAST(47 AS BIGINT) AS log_rows_before,
        |  CAST(38 AS BIGINT) AS log_rows_after
        |FROM documents
        |WHERE doc_id < 40 AND doc_id NOT IN (30, 31)
        |ORDER BY uri""".stripMargin),

    // ---- stats report (ticket.rs:8-60): the store's (metric, value)
    // accounting block over a log carrying live, superseded, and
    // tombstoned versions — live vs log bytes, the reclaimable delta
    // vacuum would free, round2 fixed-point percentage, DIV average.
    // The oracle rebuilds every metric from the fixture's construction
    // (60 puts + 5 supersedes + 5 tombstones). ----
    "store_stats_report" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_store_stats") { dir =>
        val docs = Tables.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (s"mv2://stats/${r.getLong(0)}", r.getString(1))).toSeq
        val store = new FrameStore(s, dir)
        // chunkLargeDocs=false: the oracle counts exactly one frame per
        // document; do not depend on every fixture text staying <1200
        // chars (r11 ADVICE).
        val ids = store.put(docs, chunkLargeDocs = false)
        store.updateMany(docs.take(5).zip(ids.take(5))
          .map { case ((u, t), oldId) => (oldId, t + " v2", u) })
        store.deleteMany((40 to 44).map(ids(_)))
        graft.store.StoreStats.report(store)
      },
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 60),
        |rows_log AS MATERIALIZED (
        |  SELECT strlen(text) AS b FROM base
        |  UNION ALL SELECT strlen(text || ' v2') FROM base WHERE doc_id < 5
        |  UNION ALL SELECT 0 FROM base WHERE doc_id BETWEEN 40 AND 44),
        |live AS MATERIALIZED (
        |  SELECT CASE WHEN doc_id < 5 THEN strlen(text || ' v2')
        |              ELSE strlen(text) END AS b
        |  FROM base WHERE doc_id NOT BETWEEN 40 AND 44),
        |m AS MATERIALIZED (SELECT
        |  (SELECT COUNT(*) FROM rows_log) AS log_rows,
        |  (SELECT CAST(SUM(b) AS BIGINT) FROM rows_log) AS log_bytes,
        |  (SELECT COUNT(*) FROM live) AS active_frames,
        |  (SELECT CAST(SUM(b) AS BIGINT) FROM live) AS payload_bytes)
        |SELECT 'active_frames' AS metric, active_frames AS value FROM m
        |UNION ALL SELECT 'avg_payload', payload_bytes // active_frames FROM m
        |UNION ALL SELECT 'log_bytes', log_bytes FROM m
        |UNION ALL SELECT 'log_rows', log_rows FROM m
        |UNION ALL SELECT 'payload_bytes', payload_bytes FROM m
        |UNION ALL SELECT 'reclaim_pct_e2',
        |  CAST(floor((log_bytes - payload_bytes) * 10000.0 / log_bytes + 0.5)
        |       AS BIGINT) FROM m
        |UNION ALL SELECT 'reclaimable_bytes', log_bytes - payload_bytes FROM m
        |UNION ALL SELECT 'superseded_versions', CAST(5 AS BIGINT) FROM m
        |UNION ALL SELECT 'tombstoned_ids', CAST(5 AS BIGINT) FROM m
        |ORDER BY metric""".stripMargin))
}
