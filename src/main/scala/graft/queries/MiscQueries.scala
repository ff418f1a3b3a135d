package graft.queries

import graft.{QueryDef, Tables}
import graft.ask.{Ask, HashEmbedder}
import graft.functions.F
import graft.search.FrameCols
import graft.tables.ExtractedTables
import org.apache.spark.sql.functions._

/** Remaining inventory: embedding-quality analytics A13, the ask() RAG
  * pipeline end-to-end (rows-only — its ladder is not SQL-expressible),
  * table extraction S7-S9 over synthetic markdown, and BM25-engine search.
  */
object MiscQueries {

  private[queries] def duckCos(a: String, b: String) = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($x, $y), p -> p[1]*p[2])), (u,v)->u+v)"
    def nsq(x: String) =
      s"list_reduce(list_prepend(0.0, list_transform($x, z->z*z)), (u,v)->u+v)"
    s"${dot(a, b)} / (sqrt(${nsq(a)}) * sqrt(${nsq(b)}))"
  }

  /** oracle-side tokenizer fragment (must mirror F.tokens) */
  private val duckToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9&@+/_]+'), x -> regexp_matches(x, '[a-z0-9]'))"

  /** the ask() gate's fixed question; its HashEmbedder query vector is
    * computed here (pure JVM, deterministic) and inlined into the oracle
    * SQL as an exact double-literal list — same floats the engine uses. */
  private[queries] val AskQuestion = "how do spark joins merge batches"
  private val AskTerms = Seq("spark", "joins", "merge", "batches")

  /** the shared CTE chain replaying ask()'s ranking pipeline (OR list +
    * vector list → RRF → semantic boost) up to `fin(doc_id, score)`;
    * ask_citations and ask_audit_report both build on it. */
  private[queries] def askRankingCtes: String = {
    val qv = new HashEmbedder(64).embed(AskQuestion)
      .map(f => f.toDouble.toString).mkString("[", ", ", "]")
    val anyTerm = AskTerms.map(t => s"contains(tl, '$t')").mkString(" OR ")
    val allTerms = AskTerms.map(t => s"contains(tl, '$t')").mkString(" AND ")
    val occSum = AskTerms.map(t =>
      s"(length(tl) - length(replace(tl, '$t', ''))) // length('$t')").mkString(" + ")
    val cos = duckCos("CAST(embedding AS DOUBLE[])", qv)
    s"""WITH d AS (SELECT doc_id, lower(text) AS tl FROM documents),
       |orl AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) - 1 AS r
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN $allTerms THEN CAST($occSum AS DOUBLE) ELSE 0.0 END AS score
       |    FROM d WHERE $anyTerm
       |    ORDER BY score DESC, doc_id LIMIT 10)),
       |vec AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) - 1 AS r
       |  FROM (
       |    SELECT vec_id AS doc_id, $cos AS score
       |    FROM embeddings ORDER BY score DESC, doc_id LIMIT 10)),
       |rrf AS (
       |  SELECT doc_id, SUM(1.0 / (61 + r)) AS rrf
       |  FROM (SELECT * FROM orl UNION ALL SELECT * FROM vec) GROUP BY doc_id),
       |sem AS (SELECT vec_id AS doc_id, $cos AS cos FROM embeddings),
       |fin AS (
       |  SELECT r.doc_id, r.rrf * (1.0 + COALESCE(s.cos, 0.0)) AS score
       |  FROM rrf r JOIN documents dd ON dd.doc_id = r.doc_id
       |  LEFT JOIN sem s ON s.doc_id = r.doc_id)""".stripMargin
  }

  private[queries] def askCitationsOracle: String =
    s"""$askRankingCtes
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS citation_idx,
       |       doc_id, ROUND(score, 9) AS score
       |FROM fin ORDER BY score DESC, doc_id LIMIT 5""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ---- A13 embedding quality: sampled pairwise-similarity stats.
    // The vec_id < 1000 bound caps each side at ≤100 rows, so the pair
    // count is O(1) in corpus size (≤10k pairs at ANY scale) — a pure
    // scan predicate, pushed to parquet, no sort or shuffle to sample. ----
    "vec_embedding_quality" -> QueryDef.sql(
      (s, d) => {
        F.ensureRegistered(s)
        val emb = Tables.embeddings(s, d)
        val a = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 1000)
          .select(col("vec_id").as("ia"), col("embedding").as("ea"))
        val b = emb.filter(col("vec_id") % 10 === 5 && col("vec_id") < 1000)
          .select(col("vec_id").as("ib"), col("embedding").as("eb"))
        a.crossJoin(b).filter(col("ia") < col("ib"))
          .withColumn("cos", F.cosineSim(col("ea"), col("eb")))
          .agg(count(lit(1)).as("n_pairs"),
               round(avg(col("cos")), 6).as("avg_sim"),
               round(min(col("cos")), 6).as("min_sim"),
               round(max(col("cos")), 6).as("max_sim"),
               sum(when(col("cos") > 0.3, 1L).otherwise(0L)).as("n_close"))
          .withColumn("quality",
            when(col("avg_sim").between(-0.2, 0.2), lit("well_spread"))
              .otherwise(lit("collapsed")))
      },
      s"""WITH a AS (SELECT vec_id AS ia, CAST(embedding AS DOUBLE[]) AS ea
         |           FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 1000),
         |b AS (SELECT vec_id AS ib, CAST(embedding AS DOUBLE[]) AS eb
         |      FROM embeddings WHERE vec_id % 10 = 5 AND vec_id < 1000),
         |pairs AS (SELECT ia, ib, ${duckCos("ea", "eb")} AS cos
         |          FROM a, b WHERE ia < ib)
         |SELECT COUNT(*) AS n_pairs,
         |  ROUND(AVG(cos), 6) AS avg_sim,
         |  ROUND(MIN(cos), 6) AS min_sim,
         |  ROUND(MAX(cos), 6) AS max_sim,
         |  CAST(SUM(CASE WHEN cos > 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
         |  CASE WHEN ROUND(AVG(cos), 6) BETWEEN -0.2 AND 0.2
         |       THEN 'well_spread' ELSE 'collapsed' END AS quality
         |FROM pairs""".stripMargin),

    // ---- ST6 replay loop, hash-gated: record five deterministic searches
    // (Replay.Action rows with resultHash outputs), re-execute them through
    // Replay.replayAndCompare, and emit the match table. The oracle
    // recomputes every result hash independently — the same per-row
    // md5(sorted-column concat) → sorted-rowhash md5 chain resultHash uses
    // — and pins matched = TRUE, so a drift anywhere in the record → hash
    // → replay → compare machinery fails the gate. (As-of replay against
    // a mutated store stays covered by ReplaySpec; the gated corpus is an
    // immutable snapshot by construction.) ----
    "replay_match_rate" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val terms = Seq("data", "spark", "join", "stream", "window")
        def run(t: String) = docs.filter(col("text").contains(t))
          .select(col("doc_id"), col("lang"))
        val recorded = terms.zipWithIndex.map { case (t, i) =>
          graft.replay.Replay.Action("gate", i.toLong, "search", t,
            graft.replay.Replay.resultHash(run(t)), Nil, 0L)
        }
        val (cmp, _) = graft.replay.Replay.replayAndCompare(
          s, s.createDataset(recorded).toDF(), "gate", run)
        cmp.select(col("seq"), col("input"),
            col("actualHash").as("result_hash"), col("matched"))
          .orderBy("seq")
      },
      {
        val terms = Seq("data", "spark", "join", "stream", "window")
        val values = terms.zipWithIndex
          .map { case (t, i) => s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")
        // resultHash joins the sorted columns with \u0001 (nulls -> \u0000)
        // before the per-row md5; chr(1) below mirrors that separator
        s"""SELECT seq, input,
           |  (SELECT md5(COALESCE(string_agg(h, '' ORDER BY h), ''))
           |   FROM (SELECT md5(CAST(doc_id AS VARCHAR) || chr(1) || lang) AS h
           |         FROM documents WHERE contains(text, input)) t) AS result_hash,
           |  TRUE AS matched
           |FROM (VALUES $values) AS acts(seq, input)
           |ORDER BY seq""".stripMargin
      }),

    // ---- ST6 second half: compare_sessions (engine.rs:542). Two recorded
    // sessions — B reproduces three of A's searches exactly, re-runs one
    // with a different input, answers one with a different action type,
    // adds one action A never ran, and misses two of A's — every
    // classification the reference emits (matches / differs /
    // type_differs / only_in_a / only_in_b) appears, and the oracle
    // recomputes every recorded result hash independently (the
    // replay_match_rate md5-chain), so drift in hashing, the full-outer
    // classification, or the fixed-point match-rate summary fails the
    // gate. ----
    "replay_compare_sessions" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        import graft.replay.Replay
        val docs = Tables.documents(s, d)
        def searchHash(t: String) = Replay.resultHash(
          docs.filter(col("text").contains(t)).select(col("doc_id"), col("lang")))
        def askHash(t: String) = Replay.resultHash(
          docs.filter(col("text").contains(t)).select(col("doc_id")))
        val shared = Seq("data", "spark", "join")
        val a = shared.zipWithIndex.map { case (t, i) =>
          Replay.Action("a", i.toLong, "search", t, searchHash(t), Nil, 0L)
        } ++ Seq(
          Replay.Action("a", 3L, "search", "stream", searchHash("stream"), Nil, 0L),
          Replay.Action("a", 4L, "search", "window", searchHash("window"), Nil, 0L),
          Replay.Action("a", 6L, "search", "batch", searchHash("batch"), Nil, 0L),
          Replay.Action("a", 7L, "search", "quality", searchHash("quality"), Nil, 0L))
        val b = shared.zipWithIndex.map { case (t, i) =>
          Replay.Action("b", i.toLong, "search", t, searchHash(t), Nil, 0L)
        } ++ Seq(
          Replay.Action("b", 3L, "search", "shuffle", searchHash("shuffle"), Nil, 0L),
          Replay.Action("b", 4L, "ask", "window", askHash("window"), Nil, 0L),
          Replay.Action("b", 5L, "search", "filter", searchHash("filter"), Nil, 0L))
        Replay.compareSessionsDetailed(
            s.createDataset(a).toDF(), s.createDataset(b).toDF())
          .orderBy(col("seq"))
      },
      {
        def sh(t: String) =
          s"""(SELECT md5(COALESCE(string_agg(h, '' ORDER BY h), ''))
             | FROM (SELECT md5(CAST(doc_id AS VARCHAR) || chr(1) || lang) AS h
             |       FROM documents WHERE contains(text, '$t')) z)""".stripMargin
            .replace("\n", " ")
        def ah(t: String) =
          s"""(SELECT md5(COALESCE(string_agg(h, '' ORDER BY h), ''))
             | FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS h
             |       FROM documents WHERE contains(text, '$t')) z)""".stripMargin
            .replace("\n", " ")
        val aVals = Seq(
          (0, "search", "data"), (1, "search", "spark"), (2, "search", "join"),
          (3, "search", "stream"), (4, "search", "window"),
          (6, "search", "batch"), (7, "search", "quality"))
          .map { case (i, tp, t) =>
            s"(CAST($i AS BIGINT), '$tp', '$t', ${sh(t)})" }.mkString(",\n")
        val bVals = (Seq(
          (0, "search", "data"), (1, "search", "spark"), (2, "search", "join"),
          (3, "search", "shuffle"), (5, "search", "filter"))
          .map { case (i, tp, t) =>
            s"(CAST($i AS BIGINT), '$tp', '$t', ${sh(t)})" } :+
          s"(CAST(4 AS BIGINT), 'ask', 'window', ${ah("window")})")
          .mkString(",\n")
        s"""WITH a AS (SELECT * FROM (VALUES
           |$aVals) t(seq, type_a, input_a, hash_a)),
           |b AS (SELECT * FROM (VALUES
           |$bVals) t(seq, type_b, input_b, hash_b)),
           |j AS (SELECT seq, type_a, input_a, hash_a, type_b, input_b, hash_b
           |      FROM a FULL OUTER JOIN b USING (seq)),
           |c AS (SELECT *, CASE
           |        WHEN type_b IS NULL THEN 'only_in_a'
           |        WHEN type_a IS NULL THEN 'only_in_b'
           |        WHEN type_a != type_b THEN 'type_differs'
           |        WHEN input_a != input_b OR hash_a != hash_b THEN 'differs'
           |        ELSE 'matches' END AS status FROM j),
           |s AS (SELECT
           |  CAST(SUM(CASE WHEN status = 'matches' THEN 1 ELSE 0 END) AS BIGINT) AS n_matching,
           |  CAST(SUM(CASE WHEN status IN ('differs', 'type_differs') THEN 1 ELSE 0 END) AS BIGINT) AS n_differing,
           |  CAST(SUM(CASE WHEN status = 'only_in_a' THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
           |  CAST(SUM(CASE WHEN status = 'only_in_b' THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
           |  CAST(SUM(CASE WHEN type_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS na,
           |  CAST(SUM(CASE WHEN type_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nb
           |  FROM c)
           |SELECT seq, type_a, input_a, hash_a, type_b, input_b, hash_b, status,
           |  n_matching, n_differing, n_only_a, n_only_b,
           |  (n_matching * 1000) // greatest(na, 1) AS rate_a_pm,
           |  (n_matching * 1000) // greatest(nb, 1) AS rate_b_pm,
           |  (n_matching * 1000) // greatest(na, 1)
           |    - (n_matching * 1000) // greatest(nb, 1) AS rate_delta_pm
           |FROM c, s ORDER BY seq""".stripMargin
      }),

    // ---- ask() end-to-end, hash-gated: the full facade runs (classify →
    // lexical/OR/vector/correction candidate lists → RRF → semantic
    // rerank → citations) and the oracle replays the SAME deterministic
    // arithmetic in SQL. For this question+corpus the 4-term AND rungs
    // (primary, expanded) match nothing at every SF (asserted in AskSpec),
    // so the contributing lists are the OR list (AND-score 0 → ranked by
    // id) and the HashEmbedder cosine top-10; each doc gets ≤2 RRF terms
    // so the sum is order-exact. Snippet text stays covered by AskSpec —
    // the gate hashes the ranking/score pipeline. ----
    "ask_citations" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
        val f = FrameCols(text = col("text"), uri = col("uri"),
                          track = col("source"))
        val emb = new HashEmbedder(64)
        val vectors = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("embedding").as("vector"))
        val corpus = Ask.Corpus(docs, "doc_id", f, embeddings = Some(vectors),
                                correctionUriPrefix = "doc://correction/")
        val resp = Ask.ask(s, corpus, AskQuestion, Some(emb))
        resp.citations.map(c => (c.index.toLong, c.id, c.score))
          .toDF("citation_idx", "doc_id", "score")
          .withColumn("score", round(col("score"), 9))
      },
      askCitationsOracle),

    // ---- X20 audit report rows, hash-gated (SourceSpan audit.rs:17-59;
    // to_text/to_markdown audit.rs:134,274 at the reference default
    // include_snippets=false): the full ask() pipeline runs on the same
    // corpus/question as ask_citations, then each citation becomes a
    // SourceSpan row — 1-based index, frame id, uri, whole-frame byte
    // range, 9-place-stabilized score — plus BOTH rendered line forms.
    // The oracle reuses the ranking CTEs and rebuilds the rendered
    // strings with printf (Java %.4f and DuckDB printf agree on doubles:
    // decimal midpoints at the 4th place are non-dyadic, so the exact
    // binary value is never a tie and both round to nearest). ----
    "ask_audit_report" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
        val f = FrameCols(text = col("text"), uri = col("uri"),
                          track = col("source"))
        val vectors = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("embedding").as("vector"))
        val corpus = Ask.Corpus(docs, "doc_id", f, embeddings = Some(vectors),
                                correctionUriPrefix = "doc://correction/")
        val resp = Ask.ask(s, corpus, AskQuestion, Some(new HashEmbedder(64)))
        Ask.auditRows(docs, "doc_id", col("uri"), col("text"), resp)
      },
      s"""$askRankingCtes,
         |cit AS (
         |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS citation_idx,
         |         doc_id, ROUND(score, 9) AS score
         |  FROM fin ORDER BY score DESC, doc_id LIMIT 5),
         |sp AS (
         |  SELECT c.citation_idx, c.doc_id,
         |         'doc://' || dd.source || '/' || dd.doc_id AS uri,
         |         CAST(0 AS BIGINT) AS byte_start,
         |         CAST(strlen(dd.text) AS BIGINT) AS byte_end,
         |         c.score
         |  FROM cit c JOIN documents dd ON dd.doc_id = c.doc_id)
         |SELECT citation_idx, doc_id, uri, byte_start, byte_end, score,
         |  printf('[%d] %s | frame=%d score=%.4f bytes=%d-%d',
         |         citation_idx, uri, doc_id, score, byte_start, byte_end) AS txt_line,
         |  printf('- [%d] %s (frame %d, score %.4f, bytes %d-%d)',
         |         citation_idx, uri, doc_id, score, byte_start, byte_end) AS md_line
         |FROM sp ORDER BY citation_idx""".stripMargin),

    // ---- F9 ACL through the ask() facade end-to-end (apply point
    // ask.rs:372-380: AFTER every rerank, BEFORE the top-k cut and
    // citations). Same corpus/question as ask_citations; the rule set
    // allows everything under doc://src, denies the doc://src1 prefix
    // (src1 + src10..src19 — half the corpus), and re-allows doc://src12
    // (nested longest-prefix exception INSIDE a denied range). Two full
    // facade runs: Audit's top-5 equals ask_citations' with per-hit
    // acl_allowed annotations; Enforce's top-5 is the filter-then-rank
    // page — denied candidates never consume a citation slot, allowed
    // ones BACKFILL (top5-then-filter would hash-differ whenever a
    // denied doc ranks top-5, which the half-denied rule set forces).
    // The oracle replays the shared ranking CTEs + longest-prefix ACL. ----
    "ask_acl_enforce" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
        val f = FrameCols(text = col("text"), uri = col("uri"),
                          track = col("source"))
        val vectors = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("embedding").as("vector"))
        val corpus = Ask.Corpus(docs, "doc_id", f, embeddings = Some(vectors),
                                correctionUriPrefix = "doc://correction/")
        val rules = Seq(
          ("analyst", "doc://src", true),
          ("analyst", "doc://src1", false),
          ("analyst", "doc://src12", true)).toDF("principal", "uriPrefix", "allow")
        def run(mode: graft.acl.Acl.Mode) =
          Ask.ask(s, corpus, AskQuestion, Some(new HashEmbedder(64)), topK = 5,
            acl = Some(graft.acl.Acl.Request(rules, "analyst", mode)))
        val audit = run(graft.acl.Acl.Audit)
        val enforced = run(graft.acl.Acl.Enforce)
        val rows =
          audit.citations.map(c =>
            ("audit", c.index.toLong, c.id, c.score, c.aclAllowed.getOrElse(false))) ++
          enforced.citations.map(c =>
            ("enforce", c.index.toLong, c.id, c.score, c.aclAllowed.getOrElse(false)))
        rows.toDF("mode", "citation_idx", "doc_id", "score", "acl_allowed")
          .withColumn("score", round(col("score"), 9))
          .orderBy(col("mode"), col("citation_idx"))
      },
      s"""$askRankingCtes,
         |u AS (SELECT f.doc_id, f.score,
         |        'doc://' || dd.source || '/' || dd.doc_id AS uri
         |      FROM fin f JOIN documents dd USING (doc_id)),
         |al AS (SELECT doc_id, score, COALESCE((
         |        SELECT r.allow FROM (VALUES ('doc://src', TRUE),
         |          ('doc://src1', FALSE), ('doc://src12', TRUE)) r(pfx, allow)
         |        WHERE starts_with(uri, r.pfx)
         |        ORDER BY length(r.pfx) DESC LIMIT 1), FALSE) AS ok
         |      FROM u),
         |aud AS (SELECT 'audit' AS mode,
         |        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS citation_idx,
         |        doc_id, ROUND(score, 9) AS score, ok AS acl_allowed
         |        FROM al ORDER BY score DESC, doc_id LIMIT 5),
         |enf AS (SELECT 'enforce' AS mode,
         |        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS citation_idx,
         |        doc_id, ROUND(score, 9) AS score, TRUE AS acl_allowed
         |        FROM al WHERE ok ORDER BY score DESC, doc_id LIMIT 5)
         |SELECT * FROM aud UNION ALL SELECT * FROM enf
         |ORDER BY mode, citation_idx""".stripMargin),

    // ---- ask() correction-promotion rung end-to-end (ask.rs:1437-1498):
    // the corpus is the documents table PLUS deterministic corrections
    // (every doc_id % 29 == 3 spawns "correction: spark guidance <id>"
    // under doc://correction/), so the correction list is live. The
    // corrections contain ONE query term ('spark'): the AND rungs stay
    // empty, the OR list ranks by id and their 1e7-offset ids keep them
    // out of it, so their ONLY score is the corrections-list RRF term —
    // yet promotion must put them ABOVE every fused real doc. The oracle
    // pins exactly that: top-5 = first corrections by id with scores
    // 1/(61+rank); any promotion drift surfaces real docs and fails the
    // hash. ----
    "ask_corrections" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("source"),
            concat(lit("doc://"), col("source"), lit("/"), col("doc_id")).as("uri"))
        val corrections = Tables.documents(s, d)
          .filter(col("doc_id") % 29 === 3)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("correction: spark guidance "), col("doc_id")).as("text"),
            lit("correction").as("source"),
            concat(lit("doc://correction/"), col("doc_id") + 10000000L).as("uri"))
        val docs = base.unionByName(corrections)
        val f = FrameCols(text = col("text"), uri = col("uri"),
                          track = col("source"))
        val vectors = Tables.embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("embedding").as("vector"))
        val corpus = Ask.Corpus(docs, "doc_id", f, embeddings = Some(vectors),
                                correctionUriPrefix = "doc://correction/")
        val resp = Ask.ask(s, corpus, AskQuestion, Some(new HashEmbedder(64)))
        resp.citations.map(c => (c.index.toLong, c.id, c.score))
          .toDF("citation_idx", "doc_id", "score")
          .withColumn("score", round(col("score"), 9))
      },
      """WITH corr AS (
        |  SELECT 10000000 + doc_id AS doc_id,
        |         row_number() OVER (ORDER BY doc_id) - 1 AS r
        |  FROM documents WHERE doc_id % 29 = 3
        |  ORDER BY doc_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY r) AS BIGINT) AS citation_idx,
        |       doc_id,
        |       ROUND(CAST(1 AS DOUBLE) / (61 + r), 9) AS score
        |FROM corr ORDER BY r LIMIT 5""".stripMargin),

    // ---- ask() fallback ladder end-to-end (ask.rs:131-210): two dry-
    // primary scenarios over one corpus, rung firing order locked via
    // Response.sources. 'plural_expansion': "Customers merge?" — the AND
    // primary is dry ('customers' occurs nowhere), the OR rung ranks
    // merge-docs by id at AND-score 0, and the singular/plural rung
    // "(customers OR customer) (merge OR merges)" adds customer∧merge
    // docs; RRF fuses the two lists so docs on both rungs outrank
    // either alone. 'timeline_last_resort': every lexical rung including
    // the proper-noun pick ("gnarfle") is dry, so the ladder degrades to
    // newest-frames sampling over the synthesized timestamps — the
    // answer is "most recent context", never emptiness. The oracle
    // replays both lists, the RRF sums, and the rung tags exactly. ----
    "ask_fallback_ladder" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
          .withColumn("created", timestamp_micros(
            lit(1700000000000000L) + (col("doc_id") * 37 % 1000) * 1000000L))
        val f = FrameCols(text = col("text"), uri = col("uri"),
          track = col("source"), timestamp = col("created"))
        val corpus = Ask.Corpus(docs, "doc_id", f,
          correctionUriPrefix = "doc://correction/")
        Seq("plural_expansion" -> "Customers merge?",
            "timeline_last_resort" -> "Gnarfle the blorp")
          .flatMap { case (nm, q) =>
            val r = Ask.ask(s, corpus, q)
            r.citations.map(c =>
              (nm, r.sources.mkString(","), c.index.toLong, c.id, c.score))
          }
          .toDF("scenario", "rungs", "citation_idx", "doc_id", "score")
          .withColumn("score", round(col("score"), 9))
          .orderBy(col("scenario"), col("citation_idx"))
      },
      """WITH orl AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |            FROM documents WHERE contains(lower(text), 'merge')
        |            ORDER BY doc_id LIMIT 10),
        |exl AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |        FROM documents
        |        WHERE (contains(lower(text), 'customers') OR contains(lower(text), 'customer'))
        |          AND (contains(lower(text), 'merge') OR contains(lower(text), 'merges'))
        |        ORDER BY doc_id LIMIT 10),
        |fused AS (SELECT COALESCE(o.doc_id, e.doc_id) AS doc_id,
        |            COALESCE(CAST(1 AS DOUBLE) / (60 + o.rn), 0)
        |              + COALESCE(CAST(1 AS DOUBLE) / (60 + e.rn), 0) AS rrf
        |          FROM orl o FULL OUTER JOIN exl e ON o.doc_id = e.doc_id),
        |ctop AS (SELECT doc_id, rrf,
        |           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
        |         FROM fused ORDER BY rrf DESC, doc_id LIMIT 5),
        |tl AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY (doc_id * 37) % 1000 DESC, doc_id) AS rn
        |       FROM documents
        |       ORDER BY (doc_id * 37) % 1000 DESC, doc_id LIMIT 5)
        |SELECT scenario, rungs, citation_idx, doc_id, score FROM (
        |  SELECT 'plural_expansion' AS scenario, 'or,expanded' AS rungs,
        |         CAST(rn AS BIGINT) AS citation_idx, doc_id, ROUND(rrf, 9) AS score
        |  FROM ctop
        |  UNION ALL
        |  SELECT 'timeline_last_resort', 'timeline', CAST(rn AS BIGINT), doc_id,
        |         ROUND(CAST(1 AS DOUBLE) / (60 + rn), 9)
        |  FROM tl) z
        |ORDER BY scenario, citation_idx""".stripMargin),

    // ---- A16 session diversification (ask.rs:1300-1334) end-to-end: an
    // AGGREGATION-classified question ("list all ...") widens the fetch
    // (×5 multiplier → 50-row OR list) and then divides each candidate's
    // RRF score by its rank WITHIN its base-uri session (5 synthetic
    // sessions via doc_id % 5), so no single session floods the answer.
    // The oracle replays the OR ranking, the 1/(61+r) RRF, the per-
    // session row_number division, and the final top-5 — wrong session
    // grouping, a missing multiplier, or dividing by the wrong rank all
    // fail the hash. ----
    "ask_diversify_sessions" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://s"), col("doc_id") % 5,
            lit("/"), col("doc_id")))
        val f = FrameCols(text = col("text"), uri = col("uri"),
          track = col("source"))
        val corpus = Ask.Corpus(docs, "doc_id", f,
          correctionUriPrefix = "doc://correction/")
        val r = Ask.ask(s, corpus, "list all merge notes")
        r.citations.map(c => (c.index.toLong, c.id, c.score))
          .toDF("citation_idx", "doc_id", "score")
          .withColumn("score", round(col("score"), 9))
          .orderBy(col("citation_idx"))
      },
      s"""WITH toked AS (SELECT doc_id, ${DedupQueries.duckToks} AS tk
         |              FROM documents),
        |orl AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM toked
        |  WHERE list_contains(tk, 'list') OR list_contains(tk, 'all')
        |     OR list_contains(tk, 'merge') OR list_contains(tk, 'notes')
        |  ORDER BY doc_id LIMIT 50),
        |rrf AS (SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rn) AS s,
        |               doc_id % 5 AS sess
        |        FROM orl),
        |div AS (SELECT doc_id,
        |          s / row_number() OVER (PARTITION BY sess
        |                                 ORDER BY s DESC, doc_id) AS adj
        |        FROM rrf),
        |top AS (SELECT doc_id, adj,
        |          row_number() OVER (ORDER BY adj DESC, doc_id) AS rn2
        |        FROM div ORDER BY adj DESC, doc_id LIMIT 5)
        |SELECT CAST(rn2 AS BIGINT) AS citation_idx, doc_id,
        |       ROUND(adj, 9) AS score
        |FROM top ORDER BY citation_idx""".stripMargin),

    // ---- W3 temporal-extremes promotion (ask.rs:1500-1575) end-to-end:
    // a recency+update question ("latest merge update?") doubles the
    // fetch (×2 multiplier → 20-row OR list) and must add +1.0 to the
    // NEWEST candidate — which sits mid-list by lexical rank, so the
    // promotion visibly reorders citation 1. Timestamps are synthesized
    // ((doc_id·37)%1000 seconds past a fixed epoch) so "newest" is a
    // pure function both engines compute; ties break (ts desc, id). ----
    "ask_recency_promotion" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
          .withColumn("created", timestamp_micros(
            lit(1700000000000000L) + (col("doc_id") * 37 % 1000) * 1000000L))
        val f = FrameCols(text = col("text"), uri = col("uri"),
          track = col("source"), timestamp = col("created"))
        val corpus = Ask.Corpus(docs, "doc_id", f,
          correctionUriPrefix = "doc://correction/")
        val r = Ask.ask(s, corpus, "latest merge update?")
        r.citations.map(c => (c.index.toLong, c.id, c.score))
          .toDF("citation_idx", "doc_id", "score")
          .withColumn("score", round(col("score"), 9))
          .orderBy(col("citation_idx"))
      },
      s"""WITH toked AS (SELECT doc_id, ${DedupQueries.duckToks} AS tk
         |              FROM documents),
        |orl AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM toked
        |  WHERE list_contains(tk, 'latest') OR list_contains(tk, 'merge')
        |     OR list_contains(tk, 'update')
        |  ORDER BY doc_id LIMIT 20),
        |sc AS (SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rn) AS s,
        |              (doc_id * 37) % 1000 AS tkey
        |       FROM orl),
        |promoted AS (
        |  SELECT doc_id,
        |    CASE WHEN row_number() OVER (ORDER BY tkey DESC, doc_id) = 1
        |         THEN s + CAST(1 AS DOUBLE) ELSE s END AS s2
        |  FROM sc),
        |top AS (SELECT doc_id, s2,
        |          row_number() OVER (ORDER BY s2 DESC, doc_id) AS rn2
        |        FROM promoted ORDER BY s2 DESC, doc_id LIMIT 5)
        |SELECT CAST(rn2 AS BIGINT) AS citation_idx, doc_id,
        |       ROUND(s2, 9) AS score
        |FROM top ORDER BY citation_idx""".stripMargin),

    // ---- NL relational QueryPlanner routed through the facade's ask()
    // (reference QueryPlanner + hybrid_search, src/graph_search.rs:18-186,
    // 311-440): third-person enrichment rules mint (entity, slot, value)
    // cards at put; relational questions (all three value-bearing
    // EntityPattern families + the possessive form) answer from the graph
    // match — citations are the matching cards' source frames at score
    // specificity × (1 − 1/(1+n)) — while a dry graph falls through to
    // the retrieval ladder (here: all lex rungs dry → timeline sampling,
    // rrf 1/(60+rank)). Frame ids are the facade's 8k+1 put scheme, so
    // the oracle re-derives every id, score, snippet, and answer string
    // closed-form. ----
    "ask_graph_route" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_askroute_gate") { dir =>
        import s.implicits._
        val g = new graft.api.Graft(s, dir)
        Seq("Alice lives in Lisbon.",
            "Bob Stone works at Acme Corp.",
            "Carol loves sushi.",
            "General spark notes about shuffle.")
          .zipWithIndex.foreach { case (t, i) => g.put(s"mv2://route/$i", t) }
        val scenarios = Seq(
          "location" -> "who lives in Lisbon",
          "employer" -> "who works at Acme",
          "preference" -> "who likes sushi",
          "possessive" -> "what is carol's favorite",
          "fallback" -> "fans of zorkmids")
        val rows = scenarios.flatMap { case (nm, q) =>
          val r = g.ask(q)
          r.citations.map(c => (nm, r.engine, r.sources.mkString(","),
            c.index.toLong, c.id, c.score, c.snippet, r.answer))
        }
        rows.toDF("scenario", "engine", "rungs", "citation_idx",
            "cit_id", "score", "snippet", "answer")
          .withColumn("score", round(col("score"), 9))
          .orderBy(col("scenario"), col("citation_idx"))
      },
      s"""WITH g AS (SELECT ROUND(CAST(2 AS DOUBLE)/3 * (CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE)/2), 9) AS s),
         |r(scenario, engine, rungs, citation_idx, cit_id, score, snippet, answer) AS (
         |  SELECT 'location', 'graph', 'graph', CAST(1 AS BIGINT), CAST(1 AS BIGINT), s,
         |         'Alice lives in Lisbon.', 'Alice: Alice lives in Lisbon. [1]' FROM g
         |  UNION ALL SELECT 'employer', 'graph', 'graph', 1, 9, s,
         |         'Bob Stone works at Acme Corp.',
         |         'Bob Stone: Bob Stone works at Acme Corp. [1]' FROM g
         |  UNION ALL SELECT 'preference', 'graph', 'graph', 1, 17, s,
         |         'Carol loves sushi.', 'Carol: Carol loves sushi. [1]' FROM g
         |  UNION ALL SELECT 'possessive', 'graph', 'graph', 1, 17, s,
         |         'Carol loves sushi.', 'carol''s preference is sushi. [1]' FROM g
         |  UNION ALL SELECT 'fallback', 'lex', 'timeline', 1, 1, ROUND(CAST(1 AS DOUBLE)/61, 9),
         |         'Alice lives in Lisbon.',
         |         'Alice lives in Lisbon. [1] Bob Stone works at Acme Corp. [2] Carol loves sushi. [3]' FROM g
         |  UNION ALL SELECT 'fallback', 'lex', 'timeline', 2, 9, ROUND(CAST(1 AS DOUBLE)/62, 9),
         |         'Bob Stone works at Acme Corp.',
         |         'Alice lives in Lisbon. [1] Bob Stone works at Acme Corp. [2] Carol loves sushi. [3]' FROM g
         |  UNION ALL SELECT 'fallback', 'lex', 'timeline', 3, 17, ROUND(CAST(1 AS DOUBLE)/63, 9),
         |         'Carol loves sushi.',
         |         'Alice lives in Lisbon. [1] Bob Stone works at Acme Corp. [2] Carol loves sushi. [3]' FROM g
         |  UNION ALL SELECT 'fallback', 'lex', 'timeline', 4, 25, ROUND(CAST(1 AS DOUBLE)/64, 9),
         |         'General spark notes about shuffle.',
         |         'Alice lives in Lisbon. [1] Bob Stone works at Acme Corp. [2] Carol loves sushi. [3]' FROM g)
         |SELECT * FROM r ORDER BY scenario, citation_idx""".stripMargin),

    // ---- S7-S9: table extraction + cell model over synthetic markdown ----
    "table_extract_cells" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        // deterministic markdown tables derived from the region table
        val mdDocs = Tables.region(s, d)
          .select(col("r_regionkey").cast("long").as("id"),
            concat(lit("| key | name |\n| --- | --- |\n| "),
              col("r_regionkey"), lit(" | "), col("r_name"), lit(" |")).as("text"))
        val tables = ExtractedTables.extract(mdDocs, "id", "text")
        ExtractedTables.cells(tables)
          .orderBy(col("tableId"), col("rowIdx"), col("colIdx"))
      },
      """SELECT r_regionkey * 1048576 AS tableId, 0 AS rowIdx, 0 AS colIdx,
        |       CAST(r_regionkey AS VARCHAR) AS text
        |FROM region
        |UNION ALL
        |SELECT r_regionkey * 1048576, 0, 1, r_name FROM region
        |ORDER BY tableId, rowIdx, colIdx""".stripMargin),

    // ---- S10 export round-trip (storage.rs:498,543): the nation dim is
    // rendered as one markdown table, extracted (the S7/S8 path), then
    // written through the SHARDED CSV sink (4 range-partitioned part
    // files, each with a header, globally ordered by row index) and read
    // back with Spark's CSV reader. The oracle replays the source rows
    // directly, so a drop, reorder, mis-quote, or header mix-up anywhere
    // in extract → export → re-read fails the hash. ----
    "table_export_roundtrip" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft-export") { dir =>
        import s.implicits._
        val ns = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long"), col("n_name"))
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        val md = "| key | name |\n| --- | --- |\n" +
          ns.map { case (k, n) => s"| $k | $n |" }.mkString("\n")
        val tables = ExtractedTables.extract(
          Seq((9L, md)).toDF("id", "text"), "id", "text")
        ExtractedTables.exportCsvSharded(tables, 9L * 1048576, dir, n = 4)
        s.read.option("header", "true").csv(dir)
          .select(col("key").cast("long").as("key"), col("name"))
          .orderBy(col("key"))
      },
      """SELECT n_nationkey AS key, n_name AS name
        |FROM nation ORDER BY key""".stripMargin),

    // ---- S7 lattice-mode PDF table extraction + multi-page merge: a
    // deterministic two-page ruled-grid PDF is synthesized from the region
    // dim (PdfGen), page 2 repeats the header; the extractor must detect
    // the grids from painted line segments, merge the continuation, and
    // yield ONE table whose cells replay from region. tableId encodes the
    // lattice detector tag: 7<<20 | 2<<16 | 0 = 7471104. ----
    "table_extract_lattice" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val regions = Tables.region(s, d)
          .select(col("r_regionkey").cast("long"), col("r_name"))
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        val header = Seq("key", "name")
        val rows = regions.map { case (k, n) => Seq(k.toString, n) }.toSeq
        val bytes = graft.tables.PdfGen.pdf(Seq(
          graft.tables.PdfGen.gridPage(header, rows.take(3)),
          graft.tables.PdfGen.gridPage(header, rows.drop(3))))
        val tables = ExtractedTables.fromPdf(7L, bytes)
        ExtractedTables.cells(tables.toDF())
          .orderBy(col("tableId"), col("rowIdx"), col("colIdx"))
      },
      """SELECT CAST(7471104 AS BIGINT) AS tableId,
        |       CAST(r_regionkey AS INTEGER) AS rowIdx, 0 AS colIdx,
        |       CAST(r_regionkey AS VARCHAR) AS text
        |FROM region
        |UNION ALL
        |SELECT CAST(7471104 AS BIGINT), CAST(r_regionkey AS INTEGER), 1, r_name
        |FROM region
        |ORDER BY tableId, rowIdx, colIdx""".stripMargin),

    // ---- F9 ACL: audit-mode annotation with longest-prefix rules ----
    "acl_audit" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
        val rules = Seq(
          ("analyst", "doc://src1", true),
          ("analyst", "doc://src12", false),
          ("analyst", "doc://src3", true)).toDF("principal", "uriPrefix", "allow")
        graft.acl.Acl(docs.select("doc_id", "uri"), col("uri"), rules,
            "analyst", graft.acl.Acl.Audit)
          .select(col("doc_id"), col("acl_allowed"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  COALESCE((
        |    SELECT r.allow FROM (VALUES ('doc://src1', TRUE), ('doc://src12', FALSE),
        |                                ('doc://src3', TRUE)) r(pfx, allow)
        |    WHERE starts_with('doc://' || source || '/' || doc_id, r.pfx)
        |    ORDER BY length(r.pfx) DESC LIMIT 1), FALSE) AS acl_allowed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- F9 ACL Enforce mode (acl.rs applied post-search at
    // src/memvid/search/mod.rs:267-276; AclEnforcementMode at
    // src/types/acl.rs:26-40): the SAME rule set runs in Audit and in
    // Enforce over one search hit set ('merge' matches). Enforce must
    // drop exactly the hits Audit marks disallowed — the gate locks the
    // surviving hit set AND the audit/enforce row-count delta, so a
    // default-allow drift, a prefix-specificity bug, or Enforce dropping
    // the wrong side all fail the hash. Nested prefixes (doc://src1 allow
    // vs doc://src12 deny) exercise most-specific-wins inside Enforce. ----
    "acl_enforce" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
        val hits = docs.filter(lower(col("text")).contains("merge"))
          .select("doc_id", "uri")
        val rules = Seq(
          ("analyst", "doc://src1", true),
          ("analyst", "doc://src12", false),
          ("analyst", "doc://src3", true)).toDF("principal", "uriPrefix", "allow")
        val audit = graft.acl.Acl(hits, col("uri"), rules,
          "analyst", graft.acl.Acl.Audit)
        val enforced = graft.acl.Acl(hits, col("uri"), rules,
          "analyst", graft.acl.Acl.Enforce)
        val counts = audit.agg(
          count(lit(1)).as("n_audit"),
          sum(when(col("acl_allowed"), 1L).otherwise(0L)).as("n_audit_allowed"))
        enforced.select("doc_id").crossJoin(counts)
          .withColumn("n_denied", col("n_audit") - col("n_audit_allowed"))
          .orderBy(col("doc_id"))
      },
      """WITH hits AS (
        |  SELECT doc_id, 'doc://' || source || '/' || doc_id AS uri
        |  FROM documents WHERE contains(lower(text), 'merge')),
        |al AS (
        |  SELECT doc_id, COALESCE((
        |    SELECT r.allow FROM (VALUES ('doc://src1', TRUE), ('doc://src12', FALSE),
        |                                ('doc://src3', TRUE)) r(pfx, allow)
        |    WHERE starts_with(uri, r.pfx)
        |    ORDER BY length(r.pfx) DESC LIMIT 1), FALSE) AS ok
        |  FROM hits),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_audit,
        |             CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_audit_allowed
        |      FROM al)
        |SELECT doc_id, n_audit, n_audit_allowed,
        |       n_audit - n_audit_allowed AS n_denied
        |FROM al, c WHERE ok ORDER BY doc_id""".stripMargin),

    // ---- F9 deep form: the reference's ACTUAL metadata-contract ACL
    // (src/memvid/acl.rs:60-258; keys src/types/acl.rs:6-19) — per-frame
    // policy metadata (tenant, visibility, JSON role/group/principal
    // allow-lists) evaluated against the caller context. Synthesized
    // metadata covers EVERY branch: absent tenant key and an invalid
    // visibility (→ missing_metadata, deny-by-default), a malformed
    // non-JSON list ('eng,ops' → missing_metadata — acl.rs's own unit
    // fixture), cross-tenant denial, legacy JSON-quoted + mixed-case
    // scalars ('"Tenant-A"' → tenant-a, the normalize_scalar unwrap),
    // public short-circuit, and restricted allows via each of principal
    // ('["User-123"]' vs subject user-123 — case normalization), role
    // (analyst) and group (eng) intersections. Audit annotates all
    // rows; Enforce's dense re-rank (hit.rank = index+1, acl.rs:129-133)
    // rides as acl_rank; the AclFilterStats counters ride as constants.
    // The oracle replays normalization with DuckDB's JSON functions. ----
    "acl_metadata_enforce" -> QueryDef.sql(
      (s, d) => {
        import graft.acl.Acl
        val id = col("doc_id")
        val meta = map_filter(map(
          lit(Acl.TenantKey),
          when(id % 23 === 0, lit(null).cast("string"))
            .when(id % 17 === 0, lit("\"Tenant-A\""))
            .when(id % 3 === 0, lit("tenant-a"))
            .otherwise(lit("tenant-b")),
          lit(Acl.VisibilityKey),
          when(id % 19 === 0, lit("secret"))
            .when(id % 29 === 0, lit("\"Public\""))
            .when(id % 2 === 0, lit("public"))
            .otherwise(lit("restricted")),
          lit(Acl.ReadRolesKey),
          when(id % 13 === 0, lit("eng,ops"))
            .when(id % 31 === 0, lit("[1, 2]")) // valid JSON, non-string elems
            .when(id % 5 < 2, lit("[\"admin\",\"analyst\"]"))
            .otherwise(lit(null).cast("string")),
          lit(Acl.ReadPrincipalsKey),
          when(id % 7 === 0, lit("[\"User-123\"]"))
            .otherwise(lit(null).cast("string")),
          lit(Acl.ReadGroupsKey),
          when(id % 11 === 0, lit("[\"eng\"]"))
            .otherwise(lit(null).cast("string"))
        ), (_, v) => v.isNotNull)
        val hits = Tables.documents(s, d).filter(id < 200)
          .select(id, meta.as("__meta"))
        val ctx = Acl.Context("tenant-a", subjectId = Some("user-123"),
          roles = Seq("viewer", "analyst"), groupIds = Seq("ENG "))
        val audit = Acl.applyMetadata(hits, col("__meta"), ctx, Acl.Audit,
          rankBy = Seq(col("doc_id")))
        val enforced = Acl.applyMetadata(hits, col("__meta"), ctx, Acl.Enforce,
            rankBy = Seq(col("doc_id")))
          .select(col("doc_id"), col("acl_rank"))
        val stats = audit.agg(
          sum(when(col("acl_allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!col("acl_allowed"), 1L).otherwise(0L)).as("n_denied"),
          sum(when(col("acl_decision") === "cross_tenant", 1L).otherwise(0L))
            .as("n_cross_tenant"),
          sum(when(col("acl_decision") === "missing_metadata", 1L).otherwise(0L))
            .as("n_missing"))
        audit.join(enforced, Seq("doc_id"), "left")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("acl_decision"), col("acl_allowed"),
            col("acl_rank").cast("long").as("acl_rank"),
            col("n_allowed"), col("n_denied"), col("n_cross_tenant"),
            col("n_missing"))
          .orderBy(col("doc_id"))
      },
      {
        val norm = (x: String) =>
          s"NULLIF(lower(trim(COALESCE(CASE WHEN json_valid(trim($x)) THEN json_extract_string(trim($x), '$$') END, trim($x)))), '')"
        // TRY_CAST guards: DuckDB's AND does not short-circuit, so every
        // json function must see NULL (not raw invalid text) on bad rows.
        // The regexp mirrors Acl.AllStringElementsRe: serde's
        // Vec<String> rejects non-string elements ([1,2]) that json
        // casts would coerce — a valid array is all-strings iff the raw
        // text is a sequence of quoted tokens.
        val listOk = (x: String) =>
          s"($x IS NULL OR (COALESCE(json_type(TRY_CAST($x AS JSON)) = 'ARRAY', FALSE)" +
            s""" AND regexp_matches($x, '^\\s*\\[\\s*(("([^"\\\\]|\\\\.)*")(\\s*,\\s*"([^"\\\\]|\\\\.)*")*)?\\s*\\]\\s*$$')))"""
        val listNorm = (x: String) =>
          s"CASE WHEN $x IS NULL THEN CAST([] AS VARCHAR[]) ELSE list_transform(TRY_CAST(json_extract(TRY_CAST($x AS JSON), '$$') AS VARCHAR[]), e -> ${norm("e")}) END"
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 23 = 0 THEN NULL
           |         WHEN doc_id % 17 = 0 THEN '"Tenant-A"'
           |         WHEN doc_id % 3 = 0 THEN 'tenant-a'
           |         ELSE 'tenant-b' END AS t_raw,
           |    CASE WHEN doc_id % 19 = 0 THEN 'secret'
           |         WHEN doc_id % 29 = 0 THEN '"Public"'
           |         WHEN doc_id % 2 = 0 THEN 'public'
           |         ELSE 'restricted' END AS v_raw,
           |    CASE WHEN doc_id % 13 = 0 THEN 'eng,ops'
           |         WHEN doc_id % 31 = 0 THEN '[1, 2]'
           |         WHEN doc_id % 5 < 2 THEN '["admin","analyst"]' END AS r_raw,
           |    CASE WHEN doc_id % 7 = 0 THEN '["User-123"]' END AS p_raw,
           |    CASE WHEN doc_id % 11 = 0 THEN '["eng"]' END AS g_raw
           |  FROM documents WHERE doc_id < 200),
           |n AS (
           |  SELECT doc_id, ${norm("t_raw")} AS tenant, ${norm("v_raw")} AS vis,
           |    ${listOk("r_raw")} AND ${listOk("g_raw")} AND ${listOk("p_raw")} AS lists_ok,
           |    ${listNorm("r_raw")} AS roles, ${listNorm("p_raw")} AS principals,
           |    ${listNorm("g_raw")} AS groups
           |  FROM d),
           |dec AS (
           |  SELECT doc_id, CASE
           |    WHEN tenant IS NULL OR vis IS NULL OR vis NOT IN ('public', 'restricted')
           |         OR NOT lists_ok THEN 'missing_metadata'
           |    WHEN tenant != 'tenant-a' THEN 'cross_tenant'
           |    WHEN vis = 'public' THEN 'allow'
           |    WHEN list_contains(principals, 'user-123')
           |         OR list_has_any(roles, ['viewer', 'analyst'])
           |         OR list_has_any(groups, ['eng']) THEN 'allow'
           |    ELSE 'restricted' END AS acl_decision
           |  FROM n),
           |rk AS (
           |  SELECT doc_id,
           |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS acl_rank
           |  FROM dec WHERE acl_decision = 'allow'),
           |st AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN acl_decision = 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
           |    CAST(SUM(CASE WHEN acl_decision != 'allow' THEN 1 ELSE 0 END) AS BIGINT) AS n_denied,
           |    CAST(SUM(CASE WHEN acl_decision = 'cross_tenant' THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_tenant,
           |    CAST(SUM(CASE WHEN acl_decision = 'missing_metadata' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
           |  FROM dec)
           |SELECT dec.doc_id, dec.acl_decision,
           |  dec.acl_decision = 'allow' AS acl_allowed, rk.acl_rank,
           |  st.n_allowed, st.n_denied, st.n_cross_tenant, st.n_missing
           |FROM dec LEFT JOIN rk USING (doc_id), st
           |ORDER BY dec.doc_id""".stripMargin
      }),

    // ---- BM25-engine search through the full facade, hash-gated: the
    // oracle replays the Okapi formula (like text_bm25) PLUS the facade's
    // steps — stemmed tokenization, ×4 over-fetch to top-80 on the
    // 6dp-rounded score, AND-membership (all 3 query terms present), then
    // the final top-20 page. Stemming note: the corpus vocabulary is
    // stem-invariant for these query terms (no token stems into
    // spark/join/window except themselves — asserted in TextCoreSpec), so
    // the unstemmed SQL replay is exact. ----
    "search_bm25_engine" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.search.Search.search(docs, "doc_id",
          FrameCols(text = col("text")), "spark join window",
          graft.search.Search.Options(topK = 20, withSnippets = false,
            engine = graft.search.Search.BM25Engine, stemmed = true))
          .drop("snippets")
      },
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |                 CAST(SUM(dl) AS DOUBLE) AS total FROM dl),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
         |       WHERE term IN ('spark','join','window') GROUP BY term),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN ('spark','join','window') GROUP BY doc_id, term),
         |contrib AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (stats.total / stats.n_docs))) AS c
         |  FROM tf JOIN df ON tf.term = df.term
         |          JOIN dl ON tf.doc_id = dl.doc_id, stats),
         |agg AS (
         |  SELECT doc_id,
         |    COALESCE(SUM(CASE WHEN term = 'spark' THEN c END), 0)
         |    + COALESCE(SUM(CASE WHEN term = 'join' THEN c END), 0)
         |    + COALESCE(SUM(CASE WHEN term = 'window' THEN c END), 0) AS score,
         |    COUNT(DISTINCT term) AS n_terms
         |  FROM contrib GROUP BY doc_id),
         |top80 AS (
         |  SELECT doc_id, ROUND(score, 6) AS score, n_terms FROM agg
         |  ORDER BY score DESC, doc_id LIMIT 80)
         |SELECT doc_id AS id, score FROM top80 WHERE n_terms = 3
         |ORDER BY score DESC, id LIMIT 20""".stripMargin),

    // ---- A15 build_context: base-uri grouping for the LLM context block.
    // Hits input is a deterministic <=24-row set so the cap is a no-op
    // (buildContext's limit is order-insensitive only when input fits). ----
    "ask_build_context" -> QueryDef.sql(
      (s, d) => {
        val hits = Tables.documents(s, d)
          .filter(col("doc_id") < 24)
          .withColumn("uri", concat(lit("doc://"), col("source"), lit("/"), col("doc_id")))
        Ask.buildContext(hits, "uri", "text")
          .orderBy(col("base_uri"))
      },
      """WITH hits AS (
        |  SELECT 'doc://' || source || '/' || doc_id AS uri, text
        |  FROM documents WHERE doc_id < 24)
        |SELECT regexp_extract(uri, '^(.*/)[^/]*$', 1) AS base_uri,
        |  COUNT(*) AS n_hits,
        |  '## ' || regexp_extract(uri, '^(.*/)[^/]*$', 1) || chr(10) ||
        |    string_agg('- ' || text, chr(10) ORDER BY '- ' || text) AS context
        |FROM hits GROUP BY 1 ORDER BY base_uri""".stripMargin),

    // ---- A11 memory entities / slots-for-entity ----
    "mem_entities" -> QueryDef.sql(
      (s, d) => {
        val cards = Tables.events(s, d).select(
          concat(lit("user:"), col("user_id")).as("entity"),
          col("event_type").as("slot"))
        graft.memory.MemoryCards.entities(cards).orderBy(col("entity"))
      },
      """SELECT DISTINCT 'user:' || user_id AS entity
        |FROM events ORDER BY entity""".stripMargin),

    // ---- ASCII space-aligned table detection (detector.rs:417-589):
    // the non-markdown structure detector — ≥2-space column starts,
    // ±3-char tolerance row matching, header-anchored cell split, blank-
    // line termination, ≥2 consistent lines. The fixture synthesizes an
    // obstacle course per doc_id: a 2–4-col table with 2–5 data rows
    // (shifted-by-one-space rows exercise the tolerance), prose lines
    // that must NOT trigger, a single consistent line that must be
    // rejected, and a second table that must get its own counter id.
    // The oracle rebuilds headers and the raw-text md5 from the same
    // arithmetic (nested list_transform + rpad). ----
    "table_detect_ascii" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id")).as[Long]
          .map(id => (id, synthAsciiDoc(id))).toDF("doc_id", "text")
        docs.as[(Long, String)].flatMap { case (id, text) =>
            graft.tables.AsciiTables.detect(text).map(t =>
              (id, t.tableId, t.headers.length.toLong,
                t.dataRows.length.toLong, t.headers.mkString("|"), t.rawText))
          }
          .toDF("doc_id", "table_id", "n_cols", "n_data_rows", "headers", "raw")
          .select(col("doc_id"), col("table_id"), col("n_cols"),
            col("n_data_rows"), col("headers"), md5(col("raw")).as("fp"))
          .orderBy(col("doc_id"), col("table_id"))
      },
      """WITH d AS (SELECT doc_id, doc_id % 3 AS m3, doc_id % 4 AS m4,
        |    doc_id % 6 AS m6, doc_id % 7 AS m7
        |  FROM documents WHERE doc_id < 40),
        |t1 AS (
        |  SELECT doc_id, 'ascii_tbl_0001' AS table_id,
        |    CAST(2 + m3 AS BIGINT) AS n_cols,
        |    CAST(2 + m4 AS BIGINT) AS n_data_rows,
        |    array_to_string(list_transform(range(2 + m3), jj -> 'h' || jj), '|') AS headers,
        |    md5(
        |      array_to_string(list_transform(range(2 + m3), jj ->
        |        CASE WHEN jj < 1 + m3 THEN rpad('h' || jj, 10, ' ')
        |             ELSE 'h' || jj END), '')
        |      || chr(10) ||
        |      array_to_string(list_transform(range(2 + m4), ii ->
        |        (CASE WHEN m6 = 0 THEN ' ' ELSE '' END) ||
        |        array_to_string(list_transform(range(2 + m3), jj ->
        |          CASE WHEN jj < 1 + m3 THEN rpad('r' || ii || 'c' || jj, 10, ' ')
        |               ELSE 'r' || ii || 'c' || jj END), '')), chr(10))
        |    ) AS fp
        |  FROM d),
        |t2 AS (
        |  SELECT doc_id, 'ascii_tbl_0002' AS table_id,
        |    CAST(2 AS BIGINT) AS n_cols, CAST(2 AS BIGINT) AS n_data_rows,
        |    'x0|x1' AS headers,
        |    md5('x0        x1' || chr(10) || 's0c0      s0c1' || chr(10)
        |        || 's1c0      s1c1') AS fp
        |  FROM d WHERE m7 = 0)
        |SELECT doc_id, table_id, n_cols, n_data_rows, headers, fp FROM t1
        |UNION ALL
        |SELECT doc_id, table_id, n_cols, n_data_rows, headers, fp FROM t2
        |ORDER BY doc_id, table_id""".stripMargin),

    // ---- ST6 checkpoint-resume replay (engine.rs:137-209): a session
    // of 8 actions with a checkpoint at sequence 4 — only seq >= 4
    // replays; the range holds one clean search (matched), one 'put'
    // skipped by config without executing, one action whose RECORDED
    // hash is corrupted (the mismatch path no other replay gate
    // exercises), and one more clean search. The ReplayResult counters
    // ride as constant columns; the oracle recomputes the two live
    // hashes and states the rest. ----
    // ---- ST6 recording lifecycle (replay_ops.rs:24-210, ActiveSession
    // mod.rs:67-130): two sessions recorded through the facade. Session 1
    // ("ingest", auto-checkpoint every 3): 20 puts — the interval rule
    // the reference actually implements (the checkpoint ACTION counts
    // toward the next interval) puts checkpoint actions at seq 3k, so 20
    // puts yield 9 checkpoints / 29 actions. Session 2 ("search"): 5
    // finds whose affected_count is the REAL number of matching docs,
    // one ask, one manual checkpoint. The injected clock ticks once per
    // event, so every ts/created/ended/duration is exact; the oracle
    // re-derives the interleaved sequence numbering arithmetically and
    // the find counts from the documents table. ----
    "replay_record_sessions" -> QueryDef.sql(
      (s, d) => {
        import graft.replay.Replay
        val docs = Tables.documents(s, d)
        val terms = Seq("spark", "join", "data", "stream", "quality")
        val cRow = docs.agg(
          sum(when(lower(col("text")).contains(terms.head), 1L).otherwise(0L)).as(terms.head),
          terms.tail.map(t =>
            sum(when(lower(col("text")).contains(t), 1L).otherwise(0L)).as(t)): _*).head
        val nByTerm = terms.zipWithIndex.map { case (t, i) => t -> cRow.getLong(i) }.toMap

        val rec = new Replay.Recorder()
        rec.startSession("ingest", autoCheckpointInterval = 3)
        (0 until 20).foreach(i => rec.recordPut(i.toLong, i + 1L, i.toLong))
        rec.endSession()
        rec.startSession("search")
        terms.foreach(t => rec.recordFind(t, "lex", (1L to nByTerm(t)).toSeq))
        rec.recordAsk("what changed last week", "prov", "model-x", 42L, Seq(1L, 2L, 3L))
        rec.createCheckpoint(frameCount = 20L, walSequence = 19L)
        rec.endSession()

        val acts = rec.actionsDF(s)
        val typeCounts = acts.groupBy(col("sessionId").as("tc_sid")).agg(
          sum(when(col("actionType") === "put", 1L).otherwise(0L)).as("n_put"),
          sum(when(col("actionType") === "find", 1L).otherwise(0L)).as("n_find"),
          sum(when(col("actionType") === "ask", 1L).otherwise(0L)).as("n_ask"),
          sum(when(col("actionType") === "checkpoint", 1L).otherwise(0L)).as("n_checkpoint"))
        acts
          .join(broadcast(rec.summariesDF(s)), Seq("sessionId"))
          .join(broadcast(typeCounts), col("sessionId") === col("tc_sid"))
          .select(col("sessionId").as("session_id"), col("seq"),
            col("actionType").as("action_type"), col("input"),
            col("affectedCount").as("affected_count"),
            col("durationMs").as("duration_ms"), col("tsSecs").as("ts_secs"),
            col("actionCount").as("action_count"),
            col("checkpointCount").as("checkpoint_count"),
            col("createdSecs").as("created_secs"),
            col("endedSecs").as("ended_secs"),
            col("durationSecs").as("duration_secs"),
            col("n_put"), col("n_find"), col("n_ask"), col("n_checkpoint"))
          .orderBy(col("session_id"), col("seq"))
      },
      """WITH s1put AS (
        |  SELECT 'sess-001' AS session_id,
        |    CAST(doc_id + GREATEST(0, (doc_id - 1) // 2) AS BIGINT) AS seq,
        |    'put' AS action_type, 'frame:' || doc_id AS input,
        |    1 AS affected_count, CAST(0 AS BIGINT) AS duration_ms
        |  FROM documents WHERE doc_id < 20),
        |s1cp AS (
        |  SELECT 'sess-001', CAST(3 * k AS BIGINT), 'checkpoint',
        |    'checkpoint:' || (k - 1), 0, CAST(0 AS BIGINT)
        |  FROM (SELECT unnest(range(1, 10)) AS k)),
        |t2 AS (SELECT * FROM (VALUES
        |  (0, 'spark'), (1, 'join'), (2, 'data'), (3, 'stream'),
        |  (4, 'quality')) v(i, term)),
        |s2find AS (
        |  SELECT 'sess-002', CAST(t.i AS BIGINT), 'find', 'lex:' || t.term,
        |    CAST((SELECT COUNT(*) FROM documents d
        |          WHERE contains(lower(d.text), t.term)) AS INT),
        |    CAST(0 AS BIGINT)
        |  FROM t2 t),
        |s2rest AS (
        |  SELECT 'sess-002', CAST(5 AS BIGINT), 'ask',
        |    'prov/model-x:what changed last week', 3, CAST(42 AS BIGINT)
        |  UNION ALL
        |  SELECT 'sess-002', CAST(6 AS BIGINT), 'checkpoint', 'checkpoint:0',
        |    0, CAST(0 AS BIGINT)),
        |acts AS (
        |  SELECT * FROM s1put UNION ALL SELECT * FROM s1cp
        |  UNION ALL SELECT * FROM s2find UNION ALL SELECT * FROM s2rest),
        |summ AS (SELECT * FROM (VALUES
        |  ('sess-001', CAST(29 AS BIGINT), CAST(9 AS BIGINT),
        |   CAST(1 AS BIGINT), CAST(31 AS BIGINT), CAST(30 AS BIGINT),
        |   CAST(20 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(9 AS BIGINT)),
        |  ('sess-002', CAST(7 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(32 AS BIGINT), CAST(40 AS BIGINT), CAST(8 AS BIGINT),
        |   CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT),
        |   CAST(1 AS BIGINT))) v(session_id, action_count,
        |   checkpoint_count, created_secs, ended_secs, duration_secs,
        |   n_put, n_find, n_ask, n_checkpoint))
        |SELECT a.session_id, a.seq, a.action_type, a.input,
        |  a.affected_count, a.duration_ms,
        |  CAST(s.created_secs + 1 + a.seq AS BIGINT) AS ts_secs,
        |  s.action_count, s.checkpoint_count, s.created_secs,
        |  s.ended_secs, s.duration_secs, s.n_put, s.n_find, s.n_ask,
        |  s.n_checkpoint
        |FROM acts a JOIN summ s USING (session_id)
        |ORDER BY a.session_id, a.seq""".stripMargin),

    // ---- FACADE CAPSTONE: the whole reference lifecycle through one
    // Graft handle (tests/replay_integrity.rs + tests/search.rs:9-80
    // shape) — put → search → ask → record → auto-checkpoint → replay →
    // compare. A fresh store ingests 12 documents under a recording
    // session (auto-checkpoint every 4: the interval rule puts cp
    // actions at seq 4/8/12 — the checkpoint action counts toward the
    // next interval), three facade searches and one ask record, the
    // session ends, and the recorded searches REPLAY against the live
    // store via the hash chain (replayAndCompare re-executes g.search).
    // Locked: per-replay result hashes + matched, the session summary
    // (19 actions / 3 checkpoints / injected-clock timestamps), per-type
    // action counts, and the fixed-point match rate. The oracle
    // re-derives frame ids from the store's 8-per-put id reservation
    // (id = 8k+1), replays token-membership search, and recomputes every
    // md5 result hash; topK=12 ≥ corpus so the hash is pure set
    // semantics (no rank cut to replay). Search terms are outside the
    // auto-tag vocabulary, so the Word predicate reduces to tokens. ----
    "replay_e2e_session" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_e2e_gate") { dir =>
        import s.implicits._
        import graft.replay.Replay
        val fixture = Tables.documents(s, d).filter(col("doc_id") < 12)
          .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        val g = new graft.api.Graft(s, dir)
        g.startSession("e2e", autoCheckpointInterval = 4)
        fixture.foreach { case (id, text) => g.put(s"mv2://e2e/$id", text) }
        val terms = Seq("data", "spark", "join")
        // record the hash chain off the SAME pinned page the recorder
        // logged (g.search localCheckpoints while recording)
        val recorded = terms.zipWithIndex.map { case (t, i) =>
          Replay.Action("e2e", i.toLong, "search", t,
            Replay.resultHash(g.search(t, topK = 12).select("id")), Nil, 0L)
        }
        g.ask("how do spark joins merge batches")
        val summary = g.endSession()
        // replay: re-execute each recorded search through the facade
        val (cmp, _) = Replay.replayAndCompare(s,
          s.createDataset(recorded).toDF(), "e2e",
          t => g.search(t, topK = 12).select("id"))
        val matchedN = cmp.filter(col("matched")).count()
        val totalN = cmp.count()
        val tc = g.recorder.actionsDF(s).agg(
          sum(when(col("actionType") === "put", 1L).otherwise(0L)).as("n_put"),
          sum(when(col("actionType") === "find", 1L).otherwise(0L)).as("n_find"),
          sum(when(col("actionType") === "ask", 1L).otherwise(0L)).as("n_ask"),
          sum(when(col("actionType") === "checkpoint", 1L).otherwise(0L))
            .as("n_checkpoint")).head
        cmp
          .select(col("seq"), col("input"),
            col("actualHash").as("result_hash"), col("matched"))
          .withColumn("session_id", lit(summary.sessionId))
          .withColumn("action_count", lit(summary.actionCount))
          .withColumn("checkpoint_count", lit(summary.checkpointCount))
          .withColumn("created_secs", lit(summary.createdSecs))
          .withColumn("ended_secs", lit(summary.endedSecs))
          .withColumn("duration_secs", lit(summary.durationSecs))
          .withColumn("n_put", lit(tc.getLong(0)))
          .withColumn("n_find", lit(tc.getLong(1)))
          .withColumn("n_ask", lit(tc.getLong(2)))
          .withColumn("n_checkpoint", lit(tc.getLong(3)))
          .withColumn("match_rate_pm",
            lit(if (totalN == 0) 1000L else matchedN * 1000L / totalN))
          .orderBy(col("seq"))
      },
      s"""WITH t AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'data'),
         |  (CAST(1 AS BIGINT), 'spark'), (CAST(2 AS BIGINT), 'join')) v(seq, input)),
         |h AS (SELECT seq, input,
         |  (SELECT md5(COALESCE(string_agg(x, '' ORDER BY x), ''))
         |   FROM (SELECT md5(CAST(8 * doc_id + 1 AS VARCHAR)) AS x
         |         FROM documents
         |         WHERE doc_id < 12 AND list_contains($duckToks, input)) z)
         |    AS result_hash
         |  FROM t)
         |SELECT seq, input, result_hash, TRUE AS matched,
         |  'sess-001' AS session_id, CAST(19 AS BIGINT) AS action_count,
         |  CAST(3 AS BIGINT) AS checkpoint_count,
         |  CAST(1 AS BIGINT) AS created_secs, CAST(21 AS BIGINT) AS ended_secs,
         |  CAST(20 AS BIGINT) AS duration_secs,
         |  CAST(12 AS BIGINT) AS n_put, CAST(3 AS BIGINT) AS n_find,
         |  CAST(1 AS BIGINT) AS n_ask, CAST(3 AS BIGINT) AS n_checkpoint,
         |  CAST(1000 AS BIGINT) AS match_rate_pm
         |FROM h ORDER BY seq""".stripMargin),

    "replay_from_checkpoint" -> QueryDef.sql(
      (s, d) => {
        import s.implicits._
        import graft.replay.Replay
        val docs = Tables.documents(s, d)
        def run(t: String) = docs.filter(col("text").contains(t))
          .select(col("doc_id"), col("lang"))
        def sh(t: String) = Replay.resultHash(run(t))
        val acts = Seq("data", "spark", "join", "stream").zipWithIndex.map {
          case (t, i) => Replay.Action("ck", i.toLong, "search", t, sh(t), Nil, 0L)
        } ++ Seq(
          Replay.Action("ck", 4L, "search", "window", sh("window"), Nil, 0L),
          Replay.Action("ck", 5L, "put", "doc upload", "n/a", Nil, 0L),
          Replay.Action("ck", 6L, "search", "batch", "deadbeef", Nil, 0L),
          Replay.Action("ck", 7L, "search", "quality", sh("quality"), Nil, 0L))
        Replay.replayFrom(s, s.createDataset(acts).toDF(), "ck",
          fromSeq = Some(4L), exec = run, skipTypes = Set("put"))
      },
      {
        def sh(t: String) =
          s"""(SELECT md5(COALESCE(string_agg(h, '' ORDER BY h), ''))
             | FROM (SELECT md5(CAST(doc_id AS VARCHAR) || chr(1) || lang) AS h
             |       FROM documents WHERE contains(text, '$t')) z)""".stripMargin
            .replace("\n", " ")
        s"""SELECT * FROM (
           |  SELECT CAST(4 AS BIGINT) AS seq, 'search' AS action_type,
           |    'window' AS input, 'matched' AS status, ${sh("window")} AS actual_hash
           |  UNION ALL SELECT 5, 'put', 'doc upload', 'skipped', NULL
           |  UNION ALL SELECT 6, 'search', 'batch', 'mismatched', ${sh("batch")}
           |  UNION ALL SELECT 7, 'search', 'quality', 'matched', ${sh("quality")}
           |) a CROSS JOIN (
           |  SELECT CAST(4 AS BIGINT) AS total_actions,
           |    CAST(2 AS BIGINT) AS matched_actions,
           |    CAST(1 AS BIGINT) AS mismatched_actions,
           |    CAST(1 AS BIGINT) AS skipped_actions) b
           |ORDER BY seq""".stripMargin
      })
  )

  /** ASCII-table obstacle course for table_detect_ascii: a parameterized
    * main table (10-wide cells, last cell unpadded; data rows lead with
    * one space when id%6==0 to exercise the ±3 tolerance), prose that
    * must not trigger, a single consistent line (rejected: <2 lines),
    * and a second table when id%7==0. */
  def synthAsciiDoc(id: Long): String = {
    val ncols = 2 + (id % 3).toInt
    val nrows = 2 + (id % 4).toInt
    def line(cells: Seq[String], lead: String): String =
      lead + cells.zipWithIndex.map { case (c, j) =>
        if (j < cells.length - 1) c.padTo(10, ' ') else c
      }.mkString
    val lead = if (id % 6 == 0) " " else ""
    val hdr = line((0 until ncols).map(j => s"h$j"), "")
    val data = (0 until nrows).map(i =>
      line((0 until ncols).map(j => s"r${i}c$j"), lead))
    val parts = Seq(s"Intro line for document $id.", "", hdr) ++ data ++
      Seq("", "Trailing prose here.") ++
      (if (id % 5 == 0) Seq("", "a1  b2  c3") else Nil) ++
      (if (id % 7 == 0) Seq("", line(Seq("x0", "x1"), ""),
        line(Seq("s0c0", "s0c1"), ""), line(Seq("s1c0", "s1c1"), ""))
       else Nil)
    parts.mkString("\n")
  }
}
