package graft.ask

import graft.functions.F
import graft.search.{FrameCols, Lexical, QExpr, QueryParser, Snippets}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The RAG `ask()` orchestrator — Spark-native reimplementation of the
  * reference lifecycle (src/memvid/ask.rs:23-437, SURVEY §3.2):
  * classify → rewrite → retrieve candidate lists (lexical, OR-expanded,
  * vector, corrections) → RRF fusion → re-rank ladder (temporal extremes,
  * session diversification, semantic re-rank, correction promotion) →
  * citations + extractive synthesis.
  *
  * Each candidate list is a bounded top-k' page collected to the driver;
  * fusion and every re-rank then run on the driver over those lists (tens
  * of rows), with Spark reading only the candidates' metadata, vectors
  * and snippets. The expensive part remains the retrieval scans.
  */
object Ask {

  /** @param meta optional binding for the frames' policy/extra metadata
    *        (map&lt;string,string&gt;) — required when asking with an
    *        [[graft.acl.Acl.MetadataCheck]] */
  /** @param cards optional memory-cards binding (entity, slot, value,
    *        sourceFrameId) — when present, [[ask]] first routes the
    *        question through [[graft.graph.QueryPlanner]] and answers
    *        relational questions from the graph match (reference
    *        QueryPlanner + hybrid_search, src/graph_search.rs) */
  /** @param ann optional indexed vector-candidate source: (query
    *        embedding, k) → ranked (id, score) DataFrame. When present
    *        (and an embedder is given) the vector rung's candidates come
    *        from it instead of brute-force cosine over `embeddings` —
    *        the persisted-IVF serving path ([[graft.api.Graft.ask]]
    *        binds [[graft.vector.IvfIndex.Handle.search]] here). The
    *        semantic re-rank still reads `embeddings` (candidate-id
    *        bounded), so bind both for the full ladder. */
  /** @param lexSearch optional engine-routed lexical-candidate source:
    *        (query, k) → ranked (id, score) DataFrame. When present,
    *        every LEXICAL rung of the ladder (primary, OR, expanded,
    *        proper-noun) retrieves through it instead of the fallback
    *        occurrence scorer — the reference's ask retrieves through
    *        whatever search engine is live (lazy engine init,
    *        src/memvid/search/mod.rs:47-57), so an attached BM25 index
    *        changes ask's lexical scoring to BM25 exactly as it changes
    *        search()'s ([[graft.api.Graft.ask]] binds the same routed
    *        path its search() uses: indexed while fresh, corpus-BM25
    *        while stale). */
  final case class Corpus(docs: DataFrame, idCol: String, f: FrameCols,
                          embeddings: Option[DataFrame] = None, // (id, vector)
                          correctionUriPrefix: String = "mv2://correction/",
                          meta: Option[Column] = None,
                          cards: Option[DataFrame] = None,
                          ann: Option[(Array[Float], Int) => DataFrame] = None,
                          lexSearch: Option[(String, Int) => DataFrame] = None)

  /** @param aclAllowed Some(verdict) when the request carried an ACL
    *        context (Audit mode annotates without blocking — the
    *        reference's deny-signal collection; Enforce-mode survivors
    *        are always Some(true)); None when no ACL was requested */
  final case class Citation(index: Int, id: Long, score: Double, snippet: String,
                            aclAllowed: Option[Boolean] = None)
  /** @param sources names of the candidate lists that contributed ≥1 hit,
    *        in ladder order (lex, or, expanded, proper_noun, timeline,
    *        vector, correction) — the observable record of which fallback
    *        rung(s) fired (reference ask.rs:131-210) */
  final case class Response(answer: String, citations: Seq[Citation],
                            engine: String, question: String,
                            classification: Map[String, Boolean],
                            sources: Seq[String] = Seq.empty)

  /** the Spark local properties a caller's jobs carry that the candidate
    * legs' pooled threads must carry too */
  private val CallerProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  def ask(spark: SparkSession, corpus: Corpus, question: String,
          embedder: Option[Embedder] = None, topK: Int = 5,
          acl: Option[graft.acl.Acl.Check] = None): Response = {
    val terms = Classify.contentTokens(question)
    val effectiveK = topK * Classify.topKMultiplier(question)
    val docs = corpus.docs
    val id = corpus.idCol
    val f = corpus.f

    // NL relational routing (reference QueryPlanner.plan,
    // graph_search.rs:94-150): when the corpus carries memory cards and
    // the question matches a relational EntityPattern, the card-backed
    // graph match answers directly — citations are the matched source
    // frames, engine = "graph". An empty graph match falls through to
    // the retrieval ladder below (the reference's hybrid fallback,
    // graph_search.rs:382-415, whose first rung is the same lexical
    // search). ACL'd requests skip the route: the ladder owns the
    // candidate-pool ACL pass (the reference's hybrid_search carries no
    // acl context either).
    if (acl.isEmpty) for (cards <- corpus.cards) {
      graft.graph.QueryPlanner.plan(question, topK) match {
        case h: graft.graph.QueryPlanner.Hybrid =>
          // possessive form ("alice's employer") resolves through the
          // CURRENT card view — the reference's get_current_memory path
          // (graph_search.rs:247-258); value-bearing patterns scan all
          // cards like GraphMatcher's ?entity:slot:"value" arm
          val isPossessive = h.entity.isDefined && h.valueContains.isEmpty
          val cardSet =
            if (isPossessive) graft.memory.MemoryCards.getCurrent(cards)
            else cards
          val hits = graft.graph.GraphSearch.graphHits(cardSet, docs, id, f,
            h.entity, h.slot, h.valueContains, topK)
          for (df <- hits) {
            val rows = df.collect() // ≤ topK by construction
            // the card value a possessive can answer from even when its
            // source frame is gone (remember()'s -1 sentinel, superseded
            // or tombstoned frames): deterministic newest-card pick —
            // matchTriple is case-insensitive while getCurrent dedupes
            // per exact-case key, so 'Carol'/'carol' can both survive and
            // an unordered limit(1) would be plan-dependent
            val possessiveValue: Option[String] =
              if (isPossessive)
                graft.graph.LogicMesh
                  .matchTriple(cardSet, h.entity, h.slot, None)
                  .orderBy(col("ts").desc, col("cardId").desc)
                  .select(col("value")).limit(1).collect()
                  .headOption.map(_.getString(0))
              else None
            // graphHits decides Some/None on the CARD match alone; the
            // left-semi join to live frames can still come back empty
            // (stale/sentinel cards). The reference's hybrid_search falls
            // back to lexical search on an empty candidate set
            // (graph_search.rs:382-415) — do the same: only answer from
            // the graph when it produced citations, or when the
            // possessive arm holds a card value to state
            if (rows.nonEmpty || possessiveValue.isDefined) {
              val citations = rows.zipWithIndex.map { case (r, i) =>
                val preview = Option(r.getAs[String]("preview")).getOrElse("")
                Citation(i + 1, r.getAs[Long]("id"), r.getAs[Double]("score"),
                  preview.replaceAll("\\s+", " ").trim.take(160))
              }.toSeq
              // card-backed exact answer: the possessive form states the
              // current slot value; value-bearing patterns list the matched
              // entities, then cite the source frames
              val answer =
                if (isPossessive) {
                  s"${h.entity.get}'s ${h.slot.get} is ${possessiveValue.getOrElse("")}. " +
                    citations.take(1).map(c => s"[${c.index}]").mkString
                } else {
                  val entities = rows.flatMap(r =>
                    Option(r.getAs[String]("matched_entity"))).distinct
                  val who = if (entities.nonEmpty) entities.mkString(", ") + ": "
                            else ""
                  who + citations.take(3)
                    .map(c => s"${c.snippet} [${c.index}]").mkString(" ")
                }
              return Response(answer, citations, "graph", question,
                classification(question), sources = Seq("graph"))
            }
            // else: graph matched cards but no live frames and no value —
            // fall through to the retrieval ladder below
          }
        case _ => () // no relational pattern — ordinary ladder
      }
    }

    // --- candidate lists (ask.rs:216-297), each collected as a bounded
    // top-k' (≤ effectiveK*2 rows by construction — exactly the reference's
    // in-memory fuse_hits_rrf inputs), so fusing the COLLECTED lists on the
    // driver is not a distributed-design violation, it is the reference's
    // own shape. The payoff: the retrieval queries stay small independent
    // plans instead of one mega-union whose Catalyst + codegen time
    // dominates wall clock; and the primary list's own (eager) emptiness
    // gates the fallback ladder — no separate probe query needed.
    def collectRanked(df: DataFrame): Array[(Long, Double)] =
      df.select(col("id").cast("long").as("id"), col("score").cast("double").as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (i2, s2) => (-s2, i2) } // rank order: score desc, id asc

    def lexList(q: String): Option[Array[(Long, Double)]] =
      try {
        val ranked = corpus.lexSearch match {
          case Some(fn) => fn(q, effectiveK * 2) // engine-routed (see Corpus)
          case None => graft.search.Search.search(docs, id, f, q,
            graft.search.Search.Options(topK = effectiveK * 2, withSnippets = false))
        }
        Some(collectRanked(ranked))
      } catch { case _: graft.search.QueryParseException => None }

    val primaryQ = terms.mkString(" ")
    // the four unconditional candidate queries (primary, OR, vector,
    // corrections) are independent bounded top-k' plans — launch them
    // concurrently so their Catalyst+codegen compile times overlap
    // instead of summing (each is small; wall clock was compile-bound)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // pooled threads do not inherit the caller's Spark local properties:
    // each leg sets the caller's job group, description, tags and pool
    // for its own jobs, and puts the pooled thread's back after
    val sc = spark.sparkContext
    def props() = CallerProps.map(k => k -> sc.getLocalProperty(k))
    val caller = props()
    def leg[T](body: => T): Future[T] = Future {
      val pooled = props()
      caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body finally pooled.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val primaryF = leg(lexList(primaryQ).filter(_.nonEmpty))
    val orListF = leg(lexList(Classify.disjunctive(question)))

    val vectorListF = leg((corpus.ann, embedder) match {
      // indexed path: candidates from the attached ANN search (same
      // bounded top-k' contract; the fn owns metric + pruning)
      case (Some(annFn), Some(e)) =>
        Some(collectRanked(annFn(e.embed(question), effectiveK * 2)))
      case _ => for {
        emb <- corpus.embeddings
        e <- embedder
      } yield {
        F.ensureRegistered(spark)
        val qv = typedlit(e.embed(question))
        collectRanked(
          emb.select(col(id).as("id"), F.cosineSim(col("vector"), qv).as("score"))
            .orderBy(col("score").desc, col("id"))
            .limit(effectiveK * 2))
      }
    })

    val correctionsF = leg {
      val pred = f.uri.startsWith(corpus.correctionUriPrefix) &&
        terms.map(t => lower(f.text).contains(t)).reduceOption(_ || _).getOrElse(lit(false))
      // bounded like the reference's correction search (ask.rs:278-297 runs
      // a normal top-k search under the correction uri prefix)
      Some(collectRanked(docs.filter(pred)
        .select(col(id).as("id"), lit(1.0).as("score"))
        .orderBy(col("id")).limit(effectiveK * 2)))
    }

    val primary = Await.result(primaryF, Duration.Inf)
    val orList = Await.result(orListF, Duration.Inf)
    // fallback ladder (ask.rs:131-210): disjunctive OR → proper-noun pick
    // → singular/plural expansion → timeline sampling last resort — the
    // rungs stay sequential, each gated on the previous being dry
    val expanded = if (primary.isEmpty) lexList(Classify.expandedQuery(question)) else None
    val lexDry = primary.isEmpty && orList.forall(_.isEmpty) && expanded.forall(_.isEmpty)
    val properNoun =
      if (lexDry) Classify.properNounFallback(question).flatMap(lexList).filter(_.nonEmpty)
      else None
    // ask.rs:196-210: when every lexical rung is dry, sample the newest
    // frames so the answer degrades to "most recent context" not emptiness
    val timelineList =
      if (lexDry && properNoun.isEmpty)
        Some(collectRanked(docs.select(col(id).as("id"),
            coalesce(unix_micros(f.timestamp.cast("timestamp")).cast("double"), lit(0.0))
              .as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(effectiveK)))
      else None
    val vectorList = Await.result(vectorListF, Duration.Inf)
    val correctionsList = Await.result(correctionsF, Duration.Inf)

    val collected: Seq[(String, Array[(Long, Double)])] = Seq(
      primary.map("lex" -> _),
      orList.map("or" -> _),
      expanded.map("expanded" -> _),
      properNoun.map("proper_noun" -> _),
      timelineList.map("timeline" -> _),
      vectorList.map("vector" -> _),
      correctionsList.map("correction" -> _)
    ).flatten

    if (collected.isEmpty)
      return Response("No relevant memories found.", Seq.empty, "none", question,
        classification(question))

    // --- RRF fusion, driver-side over the bounded lists (ask.rs:1381-1432)
    val rrf = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    collected.foreach { case (_, entries) =>
      entries.zipWithIndex.foreach { case ((docId, _), rank0) =>
        rrf(docId) = rrf.getOrElse(docId, 0.0) + 1.0 / (Fusion.RrfK + rank0 + 1)
      }
    }
    // one small lookup for the ladder's metadata (ts, uri) on candidates only
    val metaRows = docs.filter(col(id).isin(rrf.keys.toSeq: _*))
      .select(col(id).cast("long").as("id"), f.timestamp.as("__ts"), f.uri.as("__uri"))
      .collect()
    val tsOf = metaRows.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getTimestamp(1)))).toMap
    val uriOf = metaRows.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) "" else r.getString(2))).toMap
    // inner-join semantics with the corpus (as the previous plan-side
    // fused.join(meta, "id") had): ids with no doc row — e.g. stale
    // embeddings for since-deleted frames — must not become ghost
    // citations with empty snippets
    val candIds = rrf.keys.toSeq.filter(tsOf.contains).sorted

    // temporal extremes promotion (ask.rs:1500-1575): +1.0 to the newest
    // candidate — ts desc nulls last, id asc tiebreak
    if (Classify.isUpdate(question) || Classify.isRecency(question)) {
      val newest = candIds.sortBy(i2 => (tsOf.get(i2).flatten.isEmpty,
        tsOf.get(i2).flatten.map(t => -t.getTime).getOrElse(0L), i2)).headOption
      newest.foreach(i2 => rrf(i2) = rrf(i2) + 1.0)
    }

    // session diversification for aggregation questions (ask.rs:1300-1334):
    // rank within base-uri session by (rrf desc, id), divide score by rank
    if (Classify.isAggregation(question)) {
      val baseUriRe = java.util.regex.Pattern.compile("^(.*/)[^/]*$")
      def baseUri(u: String): String = {
        val m = baseUriRe.matcher(u); if (m.matches()) m.group(1) else ""
      }
      candIds.groupBy(i2 => baseUri(uriOf.getOrElse(i2, ""))).values.foreach { grp =>
        grp.sortBy(i2 => (-rrf(i2), i2)).zipWithIndex.foreach { case (i2, k0) =>
          rrf(i2) = rrf(i2) / (k0 + 1)
        }
      }
    }

    // semantic re-rank by cosine to query embedding (ask.rs:476-553) —
    // cosine computed by the engine for candidate ids only
    var engine = if (vectorList.isDefined) "hybrid" else "lex"
    for (emb <- corpus.embeddings; e <- embedder) {
      val qv = typedlit(e.embed(question))
      val sem = emb.filter(col(id).isin(candIds: _*))
        .select(col(id).cast("long").as("id"), F.cosineSim(col("vector"), qv).as("__sem"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      candIds.foreach(i2 => rrf(i2) = rrf(i2) * (1.0 + sem.getOrElse(i2, 0.0)))
    }

    // correction promotion LAST (ask.rs:1437-1498), then final order
    def isCorr(i2: Long): Boolean =
      uriOf.getOrElse(i2, "").startsWith(corpus.correctionUriPrefix)
    val rankedIds = candIds.sortBy(i2 => (!isCorr(i2), -rrf(i2), i2))

    // per-request ACL exactly where the reference applies it (ask.rs:
    // 372-380 — after every rerank, before context/citations): the SAME
    // Acl operator runs over the bounded candidate pool's (id, uri) rows;
    // Enforce drops denied candidates BEFORE the top-k cut (a denied hit
    // never consumes a citation slot — allowed hits backfill), Audit only
    // annotates. The pool is top-k'-bounded, so the collect is bounded.
    val aclVerdict: Map[Long, Boolean] = acl match {
      case None => Map.empty
      case Some(req: graft.acl.Acl.Request) =>
        import spark.implicits._
        val pool = rankedIds.map(i2 => (i2, uriOf.getOrElse(i2, "")))
          .toDF("id", "__uri")
        graft.acl.Acl(pool, col("__uri"), req.rules, req.principal,
            graft.acl.Acl.Audit, req.defaultAllow)
          .select("id", "acl_allowed").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      case Some(mc: graft.acl.Acl.MetadataCheck) =>
        // metadata model: evaluate the contract on the bounded candidate
        // pool's policy metadata (one small lookup, like the ts/uri one)
        val metaBinding = corpus.meta.getOrElse(throw new IllegalArgumentException(
          "ask(): Acl.MetadataCheck requires the Corpus.meta binding"))
        val pool = docs.filter(col(id).isin(rankedIds: _*))
          .select(col(id).cast("long").as("id"), metaBinding.as("__meta"))
        graft.acl.Acl.applyMetadata(pool, col("__meta"), mc.ctx,
            graft.acl.Acl.Audit, rankBy = Seq(col("id")))
          .select("id", "acl_allowed").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val filteredIds = acl match {
      case Some(c) if c.mode == graft.acl.Acl.Enforce =>
        val default = c match {
          case r: graft.acl.Acl.Request => r.defaultAllow
          case _ => false // metadata contract: deny-by-default
        }
        rankedIds.filter(i2 => aclVerdict.getOrElse(i2, default))
      case _ => rankedIds
    }
    val topIds = filteredIds.take(topK)

    // final small query: text + sentence-aware snippets for the top-k only
    val snipRows = docs.filter(col(id).isin(topIds: _*))
      .select(col(id).cast("long").as("id"), f.text.as("__text"))
      .withColumn("snips", Snippets.snippets(col("__text"), typedlit(terms)))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](2), if (r.isNullAt(1)) "" else r.getString(1))).toMap

    // --- citations + extractive synthesis (ask.rs:766-813) ---
    val citations = topIds.zipWithIndex.map { case (docId, i) =>
      val (snips, text) = snipRows.getOrElse(docId, (Seq.empty[String], ""))
      val snippet = if (snips.nonEmpty) snips.head else text.take(160)
      Citation(i + 1, docId, rrf(docId), snippet.replaceAll("\\s+", " ").trim,
        aclAllowed = if (acl.isDefined) aclVerdict.get(docId) else None)
    }
    val answer =
      if (citations.isEmpty) "No relevant memories found."
      else citations.take(3).map(c => s"${c.snippet} [${c.index}]").mkString(" ")

    Response(answer, citations.toSeq, engine, question, classification(question),
      sources = collected.filter(_._2.nonEmpty).map(_._1))
  }

  /** A15 build_context (search/helpers.rs:77-150): group hits by base URI
    * (cap 24 hits), emit an LLM-ready context block per group. */
  def buildContext(hits: DataFrame, uriCol: String, textCol: String,
                   maxHits: Int = 24): DataFrame = {
    val baseUri = regexp_extract(col(uriCol), "^(.*/)[^/]*$", 1)
    hits.limit(maxHits)
      .groupBy(baseUri.as("base_uri"))
      .agg(count(lit(1)).as("n_hits"),
           concat_ws("\n", sort_array(collect_list(
             concat(lit("- "), col(textCol))))).as("context_block"))
      .withColumn("context",
        concat(lit("## "), col("base_uri"), lit("\n"), col("context_block")))
      .drop("context_block")
  }

  /** W5 token-match reorder (search/helpers.rs:207-260): sort hits by
    * (#distinct query tokens present, total occurrences, prior score). */
  def reorderByTokenMatches(hits: DataFrame, textCol: String, scoreCol: String,
                            terms: Seq[String],
                            tieBreak: Option[Column] = None): DataFrame = {
    val lowered = lower(col(textCol))
    val uniques = terms.map(t =>
      when(lowered.contains(t.toLowerCase), 1).otherwise(0)).reduce(_ + _)
    val occs = terms.map(t => graft.functions.F.occurrences(lowered, t.toLowerCase))
      .reduce(_ + _)
    val order = Seq(col("__uniq").desc, col("__occ").desc, col(scoreCol).desc) ++
      tieBreak.map(_.asc)
    hits.withColumn("__uniq", uniques).withColumn("__occ", occs)
      .orderBy(order: _*)
      .drop("__uniq", "__occ")
  }

  /** X20 audit report: provenance of an answer as text/markdown
    * (reference: SourceSpan src/types/audit.rs:17-59; to_text/to_markdown
    * at audit.rs:134,274). */
  def auditReport(r: Response, markdown: Boolean = true): String = {
    val header =
      if (markdown) s"# Audit: ${r.question}\n\nEngine: ${r.engine}\n"
      else s"AUDIT: ${r.question}\nEngine: ${r.engine}\n"
    val flags = r.classification.filter(_._2).keys.toSeq.sorted
    val cls = if (flags.isEmpty) "none" else flags.mkString(", ")
    val sources = r.citations.map { c =>
      if (markdown) s"- [${c.index}] frame ${c.id} (score ${f"${c.score}%.4f"}): ${c.snippet}"
      else s"[${c.index}] frame=${c.id} score=${f"${c.score}%.4f"} :: ${c.snippet}"
    }.mkString("\n")
    s"$header\nClassification: $cls\n\nAnswer: ${r.answer}\n\nSources:\n$sources\n"
  }

  /** X20 audit report, row form: one row per SourceSpan (reference:
    * SourceSpan src/types/audit.rs:17-59 — 1-based index, frame id, uri,
    * chunk byte range, score — rendered per to_text/to_markdown at
    * audit.rs:134,274 with the reference default include_snippets=false).
    * Frames are whole documents in this corpus model, so chunk_range is
    * [0, octet_length(text)). The citation list is top-k-sized and
    * broadcast to the corpus scan — one narrow pass at any corpus size. */
  def auditRows(docs: DataFrame, idCol: String, uriCol: Column,
                textCol: Column, r: Response): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cites = r.citations.map(c => (c.index.toLong, c.id, c.score))
      .toDF("citation_idx", "cit_doc_id", "score")
    docs.select(col(idCol).as("doc_id"), uriCol.as("uri"),
        octet_length(textCol).cast("long").as("byte_end"))
      .join(broadcast(cites), col("doc_id") === col("cit_doc_id"))
      // 9-place score stabilization BEFORE rendering: the %.4f in the
      // rendered lines must be a pure function of the stabilized value,
      // never of sub-1e-9 float noise (determinism convention)
      .withColumn("score", round(col("score"), 9))
      .withColumn("byte_start", lit(0L))
      .withColumn("txt_line", format_string(
        "[%d] %s | frame=%d score=%.4f bytes=%d-%d",
        col("citation_idx"), col("uri"), col("doc_id"), col("score"),
        col("byte_start"), col("byte_end")))
      .withColumn("md_line", format_string(
        "- [%d] %s (frame %d, score %.4f, bytes %d-%d)",
        col("citation_idx"), col("uri"), col("doc_id"), col("score"),
        col("byte_start"), col("byte_end")))
      .select(col("citation_idx"), col("doc_id"), col("uri"),
        col("byte_start"), col("byte_end"), col("score"),
        col("txt_line"), col("md_line"))
      .orderBy(col("citation_idx"))
  }

  def classification(q: String): Map[String, Boolean] = Map(
    "update" -> Classify.isUpdate(q),
    "aggregation" -> Classify.isAggregation(q),
    "recency" -> Classify.isRecency(q),
    "analytical" -> Classify.isAnalytical(q))
}
