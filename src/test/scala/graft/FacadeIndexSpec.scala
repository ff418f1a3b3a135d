package graft

import graft.api.Graft
import graft.search.{FrameCols, Search}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted-index SERVING through the facade (reference lazy engine
  * init, src/memvid/search/mod.rs:47-57 + the ANN switch, src/vec.rs:23):
  * attach/build route search()/ask() through the BM25 postings table /
  * IVF index, staleness falls back to the corpus path, and results are
  * bit-equal either way.
  */
class FacadeIndexSpec extends SparkSpec with TempStores {

  private def tmpStore(): String =
    tempDir("graft_facade_idx")

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("id"), round(col("score"), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val texts = Seq(
    "spark joins shuffle data across partitions",
    "window functions rank rows per partition in spark",
    "broadcast joins avoid the shuffle entirely",
    "a note about gardening and tomatoes",
    "spark window joins combine both worlds")

  private def freshStore(): Graft = {
    val g = new Graft(spark, tmpStore())
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
    g
  }

  test("buildLexIndex: search serves from the index, bit-equal to corpus BM25") {
    val g = freshStore()
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine))
    g.buildLexIndex("facade_lex_spec")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(served) == rows(corpusPath))
    assert(rows(served).nonEmpty)
    spark.sql("DROP TABLE IF EXISTS `facade_lex_spec`")
  }

  test("lex staleness: mutation falls back to corpus; rebuild re-serves") {
    val g = freshStore()
    g.buildLexIndex("facade_lex_stale_spec")
    g.search("spark", topK = 10).collect()
    assert(g.lastSearchRoute == "indexed")
    g.put("mv2://t/new", "fresh spark doc about joins")
    val afterMut = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "corpus")
    // the corpus fallback SEES the new doc (same engine semantics)
    assert(afterMut.collect().map(_.getLong(0)).contains(41L))
    // rebuild → restamp → indexed again, including the new doc
    g.buildLexIndex("facade_lex_stale_spec")
    val reServed = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(reServed) == rows(afterMut))
    spark.sql("DROP TABLE IF EXISTS `facade_lex_stale_spec`")
  }

  test("indexed search with field pre-filter semi-joins and stays bit-equal") {
    val g = freshStore()
    g.buildLexIndex("facade_lex_filter_spec")
    val fcols = FrameCols(text = coalesce(col("text"), lit("")),
      uri = col("uri"), track = col("track"), kind = col("kind"),
      tags = col("tags"), labels = col("labels"), timestamp = col("timestamp"))
    // uri-scoped query: not a pure word-AND, so the indexed path
    // evaluates the predicate to an allowed-id set and semi-joins the
    // postings; stats must come from the FILTERED subset on both paths
    val q = "scope:mv2://t/ AND spark"
    val corpusPath = Search.search(g.frames.latestActive, "id", fcols, q,
      Search.Options(topK = 10, engine = Search.BM25Engine))
    val served = Search.searchIndexed(g.frames.latestActive, "id", fcols, q,
      "facade_lex_filter_spec", Search.Options(topK = 10, engine = Search.BM25Engine))
    assert(rows(served) == rows(corpusPath))
    assert(rows(served).nonEmpty)
    spark.sql("DROP TABLE IF EXISTS `facade_lex_filter_spec`")
  }

  test("buildVecIndex: ask's vector rung serves from the IVF index, bit-equal to brute force") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    val q = "gardening tomatoes"
    val served = g.ask(q, topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    assert(served.engine == "hybrid", served.engine)
    // brute-force reference: same corpus, embeddings bound directly
    val emb = g.embeddingsTable
    val brute = graft.ask.Ask.ask(spark,
      graft.ask.Ask.Corpus(g.frames.latestActive, "id",
        FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
          track = col("track"), kind = col("kind"), tags = col("tags"),
          labels = col("labels"), timestamp = col("timestamp")),
        embeddings = Some(emb), meta = Some(col("extraMetadata")),
        cards = Some(g.cards)),
      q, Some(new graft.ask.HashEmbedder(64)), topK = 3)
    assert(served.citations.map(c => (c.id, c.score)) ==
      brute.citations.map(c => (c.id, c.score)))
    assert(served.citations.nonEmpty)
  }

  test("vec staleness: mutation drops the rung; rebuild restores it") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    g.put("mv2://t/extra", "another doc about window joins")
    val resp = g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "corpus")
    assert(resp.engine == "lex") // vector rung gone, ladder still answers
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
  }

  test("refreshLexIndex: append path catches the index up — no rebuild, bit-equal") {
    val g = freshStore()
    g.buildLexIndex("facade_lex_refresh_spec")
    assert(g.refreshLexIndex() == "fresh") // nothing moved yet
    g.put("mv2://t/new", "fresh spark doc about joins")
    val corpusView = g.search("spark joins", topK = 10) // stale → corpus
    assert(g.lastSearchRoute == "corpus")
    val before = graft.search.Bm25Index.dataFileCount(spark, "facade_lex_refresh_spec")
    assert(g.refreshLexIndex() == "appended")
    val after = graft.search.Bm25Index.dataFileCount(spark, "facade_lex_refresh_spec")
    assert(after > before, "append must ADD delta files, not rewrite the table")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(served) == rows(corpusView))
    assert(g.refreshLexIndex() == "fresh")
    spark.sql("DROP TABLE IF EXISTS `facade_lex_refresh_spec`")
  }

  test("refreshLexIndex appends a CHUNKED put's delta (doc + chunk rows)") {
    val g = freshStore()
    g.buildLexIndex("facade_lex_refresh_chunk_spec", stemmed = false)
    // > 1200 chars forces chunking: the delta carries the parent doc AND
    // its chunk frames, all Active — the append path must index both
    // (the build indexes chunks too)
    val long = ("sparkly filler sentence about nothing in particular. " * 25) +
      "the zanzibar clause hides in chunk two of this document."
    assert(long.length > 1200)
    g.put("mv2://t/long", long)
    assert(g.refreshLexIndex() == "appended")
    val served = g.search("zanzibar", topK = 5)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(served).nonEmpty, "chunk content must be indexed by the refresh")
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "zanzibar", Search.Options(topK = 5, engine = Search.BM25Engine,
        stemmed = false))
    assert(rows(served) == rows(corpusPath))
    spark.sql("DROP TABLE IF EXISTS `facade_lex_refresh_chunk_spec`")
  }

  test("refreshLexIndex: a delete breaks the append contract → explicit rebuild") {
    val g = freshStore()
    g.buildLexIndex("facade_lex_refresh_del_spec")
    val dropId = g.frames.latestActive.filter(col("uri") === "mv2://t/3")
      .select("id").collect().head.getLong(0)
    g.delete(dropId)
    assert(g.refreshLexIndex() == "rebuilt")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(!rows(served).map(_._1).contains(dropId))
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine))
    assert(rows(served) == rows(corpusPath))
    spark.sql("DROP TABLE IF EXISTS `facade_lex_refresh_del_spec`")
  }

  test("refreshLexIndex: an UPDATE (Active + supersedes) also forces the rebuild") {
    // a superseding version is an ACTIVE row — only the supersedes
    // disjunct of the append-contract check catches it; appending it
    // would leave the old version's postings serving alongside the new
    val g = freshStore()
    g.buildLexIndex("facade_lex_refresh_upd_spec", stemmed = false)
    val oldId = g.frames.latestActive.filter(col("uri") === "mv2://t/0")
      .select("id").collect().head.getLong(0)
    val newId = g.update(oldId, "rewritten spark doc about joins", "mv2://t/0")
    assert(g.refreshLexIndex() == "rebuilt")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    val ids = rows(served).map(_._1)
    assert(ids.contains(newId) && !ids.contains(oldId),
      "rebuilt index must serve the superseding version only")
    spark.sql("DROP TABLE IF EXISTS `facade_lex_refresh_upd_spec`")
  }

  test("racing refreshers serialize under the artifact lock: exactly one appends") {
    val g = freshStore()
    val dir = tmpStore()
    val (lexT, skT) = ("facade_lex_race_spec", "facade_sketch_race_spec")
    g.buildLexIndex(lexT, stemmed = false)
    g.buildSketchTable(skT)
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    g.put("mv2://t/new", "fresh spark doc about joins")
    // per artifact, both threads classify the same stale stamp unlocked;
    // the maintenance lock serializes the append leg and the loser
    // re-reads the winner's restamp — never a second append of the delta
    Seq[(String, () => String)]("lex" -> (() => g.refreshLexIndex()),
        "sketch" -> (() => g.refreshSketchTable()),
        "vec" -> (() => g.refreshVecIndex())).foreach { case (name, refresh) =>
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ts = (1 to 2).map(_ => new Thread(() =>
        try results.add(refresh())
        catch { case t: Throwable => errors.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join(300000))
      assert(errors.isEmpty, s"$name refresher failed: ${errors.peek()}")
      val rs = results.toArray(Array.empty[String]).toSeq.sorted
      assert(rs == Seq("appended", "fresh"), s"$name got $rs")
    }
    // a double append would double the new doc's term frequencies and
    // move every score off the corpus engine's
    val served = g.search("spark joins", topK = 10, noSketch = true)
    assert(g.lastSearchRoute == "indexed")
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine,
        stemmed = false))
    assert(rows(served) == rows(corpusPath))
    // ... duplicate the new doc's sketch row ...
    val liveIds = g.frames.latestActive.select(col("id").as("doc_id"))
    val rebuiltSketch = graft.search.SketchFilter.build(
      g.frames.latestActive.select(col("id"),
        coalesce(col("text"), lit("")).as("text")), "id", "text")
    assert(spark.table(skT).join(liveIds, Seq("doc_id"), "left_semi").count() ==
      rebuiltSketch.count())
    // ... and duplicate its (id, cluster) row in the IVF index
    val h = graft.vector.IvfIndex.read(spark, s"$dir/vec")
    val want =
      if (h.floatKernel) graft.vector.VectorSearch.assignClusters(g.embeddingsTable,
        "vector", h.centroids.map { case (cid, c) => (cid, c.map(_.toFloat)) })
      else graft.vector.VectorSearch.assignClustersD(g.embeddingsTable, "vector",
        h.centroids)
    val (got, exp) = (h.assigned.select("id", "cluster"), want.select("id", "cluster"))
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
      "IVF (id, cluster) rows differ from a rebuild under the same centroids")
    Seq(lexT, skT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("torn lex refresh: the pending marker forces rebuild, never a double append") {
    val g = freshStore()
    g.buildLexIndex("facade_lex_torn_spec")
    g.put("mv2://t/new", "fresh spark doc about joins")
    // simulate a crash between append and restamp: marker set, stamp stale
    spark.sql("ALTER TABLE `facade_lex_torn_spec` SET TBLPROPERTIES " +
      "('graft.refresh.pending' = '1')")
    assert(g.refreshLexIndex() == "rebuilt")
    // scores over the rebuilt index match the corpus engine — a double
    // append would have doubled the new doc's term frequencies
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine))
    assert(rows(served) == rows(corpusPath))
    spark.sql("DROP TABLE IF EXISTS `facade_lex_torn_spec`")
  }

  test("compaction keeps the torn-refresh marker: the next refresh rebuilds, never a double append") {
    val g = freshStore()
    val t = "facade_lex_compact_torn_spec"
    g.buildLexIndex(t)
    g.put("mv2://t/new", "fresh spark doc about joins")
    // simulate a crash after the append and before the restamp
    spark.sql(s"ALTER TABLE `$t` SET TBLPROPERTIES ('graft.refresh.pending' = '1')")
    graft.search.Bm25Index.append(
      g.frames.latestActive.filter(col("uri") === "mv2://t/new")
        .select(col("id"), coalesce(col("text"), lit("")).as("text")),
      "id", "text", t, stemmed = true)
    // the doctor folds the append files; the swap must carry the marker
    g.doctorRun(graft.api.Doctor.DoctorOptions(bm25FileBudget = Some(0L)),
      lexTable = Some(t))
    assert(g.refreshLexIndex() == "rebuilt")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine))
    assert(rows(served) == rows(corpusPath))
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("refreshVecIndex: append restores the vector rung under the standing codebook") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    assert(g.refreshVecIndex() == "fresh")
    g.put("mv2://t/extra", "another doc about window joins")
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "corpus") // stale
    val gensBefore = graft.vector.IvfIndex.read(spark, s"$dir/vec").generation
    assert(g.refreshVecIndex() == "appended")
    val h = graft.vector.IvfIndex.read(spark, s"$dir/vec")
    assert(h.generation == gensBefore, "append must not mint a new generation")
    assert(graft.vector.IvfIndex.deltaCount(spark, s"$dir/vec") == 1)
    val served = g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    // nprobe = all clusters → bit-equal to brute force over the corpus
    val brute = graft.ask.Ask.ask(spark,
      graft.ask.Ask.Corpus(g.frames.latestActive, "id",
        FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
          track = col("track"), kind = col("kind"), tags = col("tags"),
          labels = col("labels"), timestamp = col("timestamp")),
        embeddings = Some(g.embeddingsTable), meta = Some(col("extraMetadata")),
        cards = Some(g.cards)),
      "spark joins", Some(new graft.ask.HashEmbedder(64)), topK = 3)
    assert(served.citations.map(c => (c.id, c.score)) ==
      brute.citations.map(c => (c.id, c.score)))
  }

  test("torn vec refresh: pending marker forces rebuild; tombstone forces rebuild") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    g.put("mv2://t/extra", "another doc about window joins")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/vec")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/vec/_GRAFT_REFRESH_PENDING"), true).close()
    assert(g.refreshVecIndex() == "rebuilt")
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    // a tombstone is beyond the append contract
    val dropId = g.frames.latestActive.filter(col("uri") === "mv2://t/3")
      .select("id").collect().head.getLong(0)
    g.delete(dropId)
    assert(g.refreshVecIndex() == "rebuilt")
    val h = graft.vector.IvfIndex.read(spark, s"$dir/vec")
    assert(h.assigned.filter(col("id") === dropId).isEmpty,
      "rebuilt index must not contain the tombstoned doc")
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
  }

  test("track-partitioned facade index: filtered serving bit-equal; refresh and rebuild keep the layout") {
    val g = new Graft(spark, tmpStore())
    texts.zipWithIndex.foreach { case (t, i) =>
      g.put(s"mv2://t/$i", t, track = Some(if (i % 2 == 0) "even" else "odd"))
    }
    val tbl = "facade_tracked_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    g.buildLexIndex(tbl, stemmed = false, partitionByTrack = true)
    assert(spark.table(tbl).columns.contains("track"))
    val fcols = FrameCols(text = coalesce(col("text"), lit("")),
      uri = col("uri"), track = col("track"), kind = col("kind"),
      tags = col("tags"), labels = col("labels"), timestamp = col("timestamp"))
    val q = "track:even AND spark"
    def corpus() = Search.search(g.frames.latestActive, "id", fcols, q,
      Search.Options(topK = 10, engine = Search.BM25Engine, stemmed = false))
    val served = g.search(q, topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(served) == rows(corpus()) && rows(served).nonEmpty)
    // refresh append carries the track column into the right partition
    g.put("mv2://t/new", "fresh spark doc about joins", track = Some("even"))
    assert(g.refreshLexIndex() == "appended")
    val afterRefresh = g.search(q, topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(afterRefresh) == rows(corpus()))
    val newId = g.frames.latestActive.filter(col("uri") === "mv2://t/new")
      .select("id").collect().head.getLong(0)
    assert(rows(afterRefresh).map(_._1).contains(newId),
      "appended doc must be served from its track partition")
    // a by-name rebuild (the doctor's heal shape) keeps the partitioning
    g.buildLexIndex(tbl, stemmed = false)
    assert(spark.table(tbl).columns.contains("track"),
      "rebuild by table name must keep the track layout")
    val afterRebuild = g.search(q, topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(rows(afterRebuild) == rows(corpus()))
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("autoRefreshIndexes: a put keeps serving on the indexed route (instant index)") {
    val g = new Graft(spark, tmpStore(), autoRefreshIndexes = true)
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
    val tbl = "facade_auto_refresh_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    g.buildLexIndex(tbl, stemmed = false)
    g.put("mv2://t/new", "fresh spark doc about joins") // refreshes in-commit
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed",
      "append-only put must never leave the indexed route")
    val newId = g.frames.latestActive.filter(col("uri") === "mv2://t/new")
      .select("id").collect().head.getLong(0)
    assert(rows(served).map(_._1).contains(newId))
    // and the served page equals the corpus engine over the moved corpus
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine,
        stemmed = false))
    assert(rows(served) == rows(corpusPath))
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("a FOREIGN writer's commit flips serving to the corpus path") {
    val dir = tmpStore()
    val g = new Graft(spark, dir)
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
    g.buildLexIndex("facade_foreign_spec", stemmed = false)
    assert(rows(g.search("spark joins", topK = 10)).nonEmpty)
    assert(g.lastSearchRoute == "indexed")
    // a SECOND handle on the same store (another process in production —
    // the store lock serializes the write) commits a matching doc; this
    // handle's in-process epoch never moves, only the persisted
    // watermark does
    val foreign = new Graft(spark, dir)
    foreign.put("mv2://t/foreign", "spark joins from a foreign writer")
    val served = g.search("spark joins", topK = 10)
    val ids = rows(served).map(_._1)
    assert(g.lastSearchRoute == "corpus",
      "foreign commit must flip the stale index to the corpus path")
    // and the answer INCLUDES the foreign document (fresh corpus scan)
    val foreignId = foreign.frames.latestActive
      .filter(col("uri") === "mv2://t/foreign")
      .select("id").collect().head.getLong(0)
    assert(ids.contains(foreignId))
    spark.sql("DROP TABLE IF EXISTS `facade_foreign_spec`")
  }

  test("a FOREIGN lex refresh restamps the index: the stale handle serves indexed again, no commit in between") {
    val dir = tmpStore()
    val tbl = "facade_foreign_refresh_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    try {
      val g = new Graft(spark, dir)
      texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
      g.buildLexIndex(tbl, stemmed = false)
      val other = new Graft(spark, dir)
      other.put("mv2://t/foreign", "spark joins from a foreign writer")
      g.search("spark joins", topK = 10)
      assert(g.lastSearchRoute == "corpus") // stale verdict cached
      other.attachLexIndex(tbl, stemmed = false)
      assert(other.refreshLexIndex() == "appended")
      val served = g.search("spark joins", topK = 10)
      assert(g.lastSearchRoute == "indexed",
        "a foreign restamp must be seen without a commit")
      val corpus = Search.search(g.frames.latestActive, "id",
        FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
          track = col("track"), kind = col("kind"), tags = col("tags"),
          labels = col("labels"), timestamp = col("timestamp")),
        "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine,
          stemmed = false))
      assert(rows(served) == rows(corpus) && rows(served).nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("a tracked lex rebuild keeps its bucket count on every rebuild") {
    val g = new Graft(spark, tmpStore())
    val ids = (0 until 8).map { i =>
      g.put(s"mv2://t/$i", texts(i % texts.size) + s" doc$i",
        track = Some(if (i % 2 == 0) "even" else "odd")).get
    }
    val tbl = "facade_tracked_rebuild_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    try {
      g.buildLexIndex(tbl, stemmed = false, partitionByTrack = true)
      def buckets = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec.get.numBuckets
      assert(buckets == 8) // 16 split over two tracks
      val fcols = FrameCols(text = coalesce(col("text"), lit("")),
        uri = col("uri"), track = col("track"), kind = col("kind"),
        tags = col("tags"), labels = col("labels"), timestamp = col("timestamp"))
      Seq(ids(0), ids(1), ids(2)).foreach { id =>
        g.delete(id)
        assert(g.refreshLexIndex() == "rebuilt")
        assert(buckets == 8)
        Seq("spark joins", "track:odd AND spark").foreach { q =>
          val served = g.search(q, topK = 10)
          assert(g.lastSearchRoute == "indexed")
          assert(rows(served) == rows(Search.search(g.frames.latestActive, "id",
            fcols, q, Search.Options(topK = 10, engine = Search.BM25Engine,
              stemmed = false))), q)
        }
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("doctor heals a stale vec serving stamp with the incremental refresh") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    g.put("mv2://t/extra", "another doc about window joins")
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "corpus") // stamp stranded by the put
    val r = g.doctorRun(vecPath = Some(s"$dir/vec"),
      vecIdCol = "id", vecCol = "vector")
    assert(r.rows.exists(x => x.name == "vec_index_stale" &&
      x.rowType == "finding"), "doctor must probe the stale serving stamp")
    assert(r.rows.exists(x => x.name == "refresh_vec_index" && x.executed),
      "the cheaper incremental heal must run")
    assert(!r.rows.exists(x => x.name == "rebuild_vec_index"),
      "no drift, no retrain")
    val served = g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed",
      "doctor heal must return the vector rung to the indexed route")
    assert(served.citations.nonEmpty)
    // an unattached path never probes stale (standalone artifacts have
    // no serving-stamp contract)
    g.detachVecIndex()
    val r2 = g.doctorPlan(vecPath = Some(s"$dir/vec"),
      vecIdCol = "id", vecCol = "vector")
    assert(!r2.rows.exists(_.name == "vec_index_stale"))
  }

  test("doctor vec maintenance reopens the serving handle (no stale generation read)") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    val before = g.ask("gardening tomatoes", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    // drift threshold 0 forces a retrain: the doctor rewrites the index
    // as a NEW generation and deletes the one the cached handle points
    // at — without invalidateIndexCaches the next ask reads deleted
    // parquet; with it, serving reopens and (nprobe = all clusters) the
    // answer is unchanged
    val r = g.doctorRun(
      graft.api.Doctor.DoctorOptions(vecDriftMeanMax = Some(0.0)),
      vecPath = Some(s"$dir/vec"), vecIdCol = "id", vecCol = "vector")
    assert(r.rows.exists(x => x.name == "rebuild_vec_index" && x.executed))
    val after = g.ask("gardening tomatoes", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    assert(after.citations.map(c => (c.id, c.score)) ==
      before.citations.map(c => (c.id, c.score)))
  }

  test("streaming maintenance of a TRACK-PARTITIONED postings table keeps layout, scores, and compacts flat") {
    import spark.implicits._
    val tbl = "facade_stream_tracked_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val tmp = java.nio.file.Paths.get(tempDir("graft_stream_tracked"))
    val src = tmp.resolve("src").toString
    new java.io.File(src).mkdirs()
    val ck = tmp.resolve("ck").toString
    val corpus = Seq(
      (1L, "even", "spark joins shuffle data"),
      (2L, "odd", "window functions rank rows in spark"),
      (3L, "even", "broadcast joins avoid the shuffle"),
      (4L, "odd", "spark window joins combine both"),
      (5L, "even", "gardening and tomatoes"),
      (6L, "odd", "spark shuffle join window notes"))
    // gen-0 tracked table from the first two docs
    graft.search.Bm25Index.write(
      corpus.take(2).toDF("doc_id", "track", "text"),
      "doc_id", "text", tbl, stemmed = false, nBuckets = 2,
      trackCol = Some("track"))
    def toDocs(b: org.apache.spark.sql.DataFrame) = b
      .select(split(col("text"), "\\t", 3).as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("track"), col("p").getItem(2).as("text"))
    // two streaming triggers append the rest, routed into track dirs
    corpus.drop(2).grouped(2).zipWithIndex.foreach { case (batch, i) =>
      batch.map { case (id, tr, tx) => s"$id\t$tr\t$tx" }
        .toDF("text").coalesce(1).write.mode("append").text(src)
      val q = graft.streaming.StreamingIngest.runBm25IndexStream(
        spark, src, tbl, ck, toDocs, stemmed = false, nBuckets = 2,
        maxFilesPerTrigger = 1, trackCol = Some("track"))
      q.awaitTermination()
      assert(spark.table(tbl).columns.contains("track"),
        s"trigger $i lost the track partition column")
    }
    // every doc is served from its partition; scores equal the rebuild
    def page(t: String) = graft.search.Bm25Index
      .search(spark, t, Seq("spark", "join", "window"), topK = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    spark.sql(s"DROP TABLE IF EXISTS `${tbl}_ref`")
    graft.search.Bm25Index.write(corpus.toDF("doc_id", "track", "text"),
      "doc_id", "text", s"${tbl}_ref", stemmed = false, nBuckets = 2,
      trackCol = Some("track"))
    assert(page(tbl) == page(s"${tbl}_ref"), "streamed != one-shot rebuild")
    // compaction folds the per-trigger delta files back and keeps both
    // the layout and every score
    val before = graft.search.Bm25Index.dataFileCount(spark, tbl)
    graft.search.Bm25Index.compact(spark, tbl, nBuckets = 2)
    val after = graft.search.Bm25Index.dataFileCount(spark, tbl)
    assert(after < before, s"compact did not shrink files ($before -> $after)")
    assert(spark.table(tbl).columns.contains("track"))
    assert(page(tbl) == page(s"${tbl}_ref"), "compaction moved a score")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.sql(s"DROP TABLE IF EXISTS `${tbl}_ref`")
  }

  test("adaptive compaction: the streamed index compacts itself under a file budget (r19 opt-in)") {
    import spark.implicits._
    val tbl = "facade_stream_selfcompact_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.sql(s"DROP TABLE IF EXISTS `${tbl}_ref`")
    val tmp = java.nio.file.Paths.get(tempDir("graft_stream_selfc"))
    val src = tmp.resolve("src").toString
    new java.io.File(src).mkdirs()
    val ck = tmp.resolve("ck").toString
    val corpus = (1L to 16L).map(i =>
      (i, s"spark join window doc$i unique token$i"))
    graft.search.Bm25Index.write(corpus.take(2).toDF("doc_id", "text"),
      "doc_id", "text", tbl, stemmed = false, nBuckets = 2)
    val budget = graft.search.Bm25Index.dataFileCount(spark, tbl) + 3
    def toDocs(b: org.apache.spark.sql.DataFrame) = b
      .select(split(col("text"), "\\t", 2).as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("text"))
    // 7 triggers (1 file each); the budget forces compacts mid-stream —
    // NO manual compact anywhere in this test
    corpus.drop(2).grouped(2).foreach { batch =>
      batch.map { case (id, tx) => s"$id\t$tx" }
        .toDF("text").coalesce(1).write.mode("append").text(src)
    }
    val q = graft.streaming.StreamingIngest.runBm25IndexStream(
      spark, src, tbl, ck, toDocs, stemmed = false, nBuckets = 2,
      maxFilesPerTrigger = 1, compactFileBudget = Some(budget))
    q.awaitTermination()
    val files = graft.search.Bm25Index.dataFileCount(spark, tbl)
    assert(files <= budget,
      s"self-compaction failed to bound file debt: $files > $budget")
    // and the self-compacted index scores bit-equal to the one-shot build
    graft.search.Bm25Index.write(corpus.toDF("doc_id", "text"),
      "doc_id", "text", s"${tbl}_ref", stemmed = false, nBuckets = 2)
    def page(t: String) = graft.search.Bm25Index
      .search(spark, t, Seq("spark", "join", "window"), topK = 16)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(page(tbl) == page(s"${tbl}_ref"),
      "self-compacted stream != one-shot rebuild")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    spark.sql(s"DROP TABLE IF EXISTS `${tbl}_ref`")
  }

  test("healOnRead under a CONTENDED maintenance lock: the read degrades to corpus, never blocks or throws") {
    val g = new Graft(spark, tmpStore(), healOnRead = true)
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://hc/$i", t) }
    val tbl = "facade_heal_contended_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    g.buildLexIndex(tbl, stemmed = false)
    g.put("mv2://hc/new", "fresh spark doc about joins") // stale, append-only
    // a peer holds the table's maintenance lock (mid-refresh): the
    // 5-writer soak killed a reader that queued behind this for the
    // full acquire timeout — the read must skip the heal and serve
    // corpus promptly (the peer's restamp serves the NEXT read indexed)
    val anchor = spark.conf.get("spark.sql.warehouse.dir")
      .stripSuffix("/") + "/" + tbl
    val lock = graft.store.StoreLock.acquire(spark, anchor,
      graft.store.StoreLock.Options(command = "peer-maintenance"))
    try {
      val t0 = System.nanoTime()
      val served = g.search("spark joins", topK = 10)
      assert(rows(served).nonEmpty)
      val dt = (System.nanoTime() - t0) / 1e9
      assert(g.lastSearchRoute == "corpus",
        "contended heal must degrade to corpus")
      assert(dt < 30, f"read blocked $dt%.1f s behind the maintenance lock")
    } finally lock.release()
    // lock free again → the next read heals and serves indexed
    val after = g.search("spark joins", topK = 10)
    assert(rows(after).nonEmpty)
    assert(g.lastSearchRoute == "indexed", "post-contention read must heal")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("healOnRead: a stale append-only delta heals INSIDE the read — search stays indexed via append") {
    val g = new Graft(spark, tmpStore(), healOnRead = true)
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
    val tbl = "facade_heal_read_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    g.buildLexIndex(tbl, stemmed = false)
    // a rebuild swaps in a NEW table and would lose this marker; the
    // in-read heal must be the O(delta) APPEND (ALTER-only), keeping it
    spark.sql(s"ALTER TABLE `$tbl` SET TBLPROPERTIES ('spec.marker' = 'kept')")
    g.put("mv2://t/new", "fresh spark doc about joins") // stamp stale
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed",
      "append-only staleness must heal inside the read")
    val newId = g.frames.latestActive.filter(col("uri") === "mv2://t/new")
      .select("id").collect().head.getLong(0)
    assert(rows(served).map(_._1).contains(newId))
    assert(g.refreshLexIndex() == "fresh", "the read left the index current")
    assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties.get("spec.marker").contains("kept"),
      "the in-read heal rebuilt instead of appending")
    // scores equal the corpus engine over the moved corpus
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine,
        stemmed = false))
    assert(rows(served) == rows(corpusPath))
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("healOnRead: a delete delta falls back to corpus — a read NEVER rebuilds") {
    val g = new Graft(spark, tmpStore(), healOnRead = true)
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
    val tbl = "facade_heal_del_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    g.buildLexIndex(tbl, stemmed = false)
    spark.sql(s"ALTER TABLE `$tbl` SET TBLPROPERTIES ('spec.marker' = 'kept')")
    val dropId = g.frames.latestActive.filter(col("uri") === "mv2://t/3")
      .select("id").collect().head.getLong(0)
    g.delete(dropId)
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "corpus",
      "a delete delta must fall back, not rebuild inside a read")
    assert(!rows(served).map(_._1).contains(dropId))
    assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .properties.get("spec.marker").contains("kept"),
      "the read mutated the index artifact")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("healOnRead: ask()'s vector rung heals via append; a delete leaves it corpus") {
    val g = new Graft(spark, tmpStore(), healOnRead = true)
    texts.zipWithIndex.foreach { case (t, i) => g.put(s"mv2://t/$i", t) }
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    g.put("mv2://t/extra", "another doc about window joins") // stamp stale
    val genBefore = graft.vector.IvfIndex.read(spark, s"$dir/vec").generation
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed",
      "append-only staleness must heal the vector rung inside the read")
    val h = graft.vector.IvfIndex.read(spark, s"$dir/vec")
    assert(h.generation == genBefore,
      "the in-read vec heal must append under the standing codebook, not retrain")
    assert(graft.vector.IvfIndex.deltaCount(spark, s"$dir/vec") == 1)
    // a delete delta: the read falls back and mutates nothing
    val dropId = g.frames.latestActive.filter(col("uri") === "mv2://t/3")
      .select("id").collect().head.getLong(0)
    g.delete(dropId)
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "corpus",
      "a delete delta must not retrain inside a read")
    assert(graft.vector.IvfIndex.read(spark, s"$dir/vec").generation == genBefore)
  }

  test("delete → vacuum → refresh REBUILDS: the purged log can't classify the delta") {
    // vacuum purges the tombstone row the append-contract check reads;
    // without vacuum tracking the refresh would see an empty
    // "append-only" delta, restamp, and serve GHOST postings/vectors of
    // the deleted doc from the indexed route
    val g = freshStore()
    g.buildLexIndex("facade_vac_ghost_spec", stemmed = false)
    val vdir = tmpStore()
    g.buildVecIndex(s"$vdir/vec", k = 2, iters = 1, nprobe = 2)
    val dropId = g.frames.latestActive.filter(col("uri") === "mv2://t/3")
      .select("id").collect().head.getLong(0)
    g.delete(dropId)
    g.vacuum() // tombstone row GONE from the log; watermark survives
    assert(g.refreshLexIndex() == "rebuilt",
      "a post-stamp vacuum must force the rebuild path")
    val served = g.search("gardening tomatoes", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(!rows(served).map(_._1).contains(dropId),
      "indexed serving must not surface the deleted doc's ghost postings")
    assert(g.refreshVecIndex() == "rebuilt")
    val h = graft.vector.IvfIndex.read(spark, s"$vdir/vec")
    assert(h.assigned.filter(col("id") === dropId).isEmpty,
      "refreshed vec index must not carry the deleted doc's vector")
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    spark.sql("DROP TABLE IF EXISTS `facade_vac_ghost_spec`")
  }

  test("vacuum at a FRESH stamp keeps later deltas append-classifiable") {
    // compaction is value-neutral for the live view: an index stamped at
    // exactly the vacuum's watermark must NOT be forced to rebuild, and
    // a later append-only put still takes the O(delta) path
    val g = freshStore()
    g.buildLexIndex("facade_vac_fresh_spec", stemmed = false)
    g.vacuum()
    assert(g.refreshLexIndex() == "fresh",
      "a vacuum under a current stamp must not invalidate it")
    g.put("mv2://t/new", "fresh spark doc about joins")
    assert(g.refreshLexIndex() == "appended",
      "post-vacuum append-only delta must keep the O(delta) path")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    val corpusPath = Search.search(g.frames.latestActive, "id",
      FrameCols(text = coalesce(col("text"), lit("")), uri = col("uri"),
        track = col("track"), kind = col("kind"), tags = col("tags"),
        labels = col("labels"), timestamp = col("timestamp")),
      "spark joins", Search.Options(topK = 10, engine = Search.BM25Engine,
        stemmed = false))
    assert(rows(served) == rows(corpusPath))
    spark.sql("DROP TABLE IF EXISTS `facade_vac_fresh_spec`")
  }

  test("corrupt vec stamp reads as STALE: the doctor heals it instead of stranding the index") {
    val g = freshStore()
    val dir = tmpStore()
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    // corrupt the stamp in place (torn write / foreign garbage): serving
    // already falls back to the corpus on the string compare — the probe
    // must ALSO see it, or no heal is ever planned and the index stays
    // silently unserved
    val fs = new org.apache.hadoop.fs.Path(s"$dir/vec")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/vec/_GRAFT_STORE_VERSION"), true)
    out.write("not-a-version".getBytes("UTF-8")); out.close()
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "corpus") // unparseable stamp never serves
    val r = g.doctorRun(vecPath = Some(s"$dir/vec"),
      vecIdCol = "id", vecCol = "vector")
    assert(r.rows.exists(x => x.name == "vec_index_stale" &&
      x.rowType == "finding"),
      "present-but-unparseable stamp must probe as stale")
    assert(r.rows.exists(x => x.name == "refresh_vec_index" && x.executed))
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed",
      "heal must restore the vector rung")
    // an index with NO stamp file stays exempt (never attached to serving)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/vec/_GRAFT_STORE_VERSION"), false)
    val r2 = g.doctorPlan(vecPath = Some(s"$dir/vec"),
      vecIdCol = "id", vecCol = "vector")
    assert(!r2.rows.exists(_.name == "vec_index_stale"),
      "an absent stamp is 'never attached', not stale")
  }
}
