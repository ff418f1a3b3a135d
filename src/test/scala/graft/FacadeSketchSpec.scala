package graft

import graft.api.Graft
import graft.search.{Bm25Index, FrameCols, Search, SketchFilter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch pre-filter as FACADE behavior (reference: on by default inside
  * search() with a `no_sketch` opt-out, src/memvid/search/mod.rs:190-232).
  * The oracle gate (`search_facade_sketch`) locks the lossless small-corpus
  * case; this spec covers what the oracle can't — a corpus big enough that
  * the hamming cut genuinely BINDS (shrink > 0), bit-parity with the
  * explicit allowedIds composition, and the staleness ladder (a stale
  * sketch is skipped, never applied lossily).
  */
class FacadeSketchSpec extends SparkSpec with TempStores {

  private def tmpStore(): String =
    tempDir("graft_facade_sketch")

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("id"), round(col("score"), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val fcols = FrameCols(text = coalesce(col("text"), lit("")),
    uri = col("uri"), track = col("track"), kind = col("kind"),
    tags = col("tags"), labels = col("labels"), timestamp = col("timestamp"))

  test("facade sketch filter: binds above the floor, bit-equal to the explicit allowedIds composition") {
    val g = new Graft(spark, tmpStore())
    // 800 docs: a small on-topic cluster plus far-vocabulary bulk, so the
    // hamming-32 cut + 500-floor keeps a strict subset (deterministic —
    // same tokens, same simhash, every run)
    val docs = (0 until 800).map { i =>
      if (i % 8 == 0)
        (s"mv2://sk/$i", s"spark join window shuffle partition stage$i")
      else
        (s"mv2://sk/$i", s"meadow${i % 97} orchard${i % 89} fern${i % 83} " +
          s"bramble${i % 79} thicket${i % 73} hollow${i % 71} glade moss")
    }
    g.frames.put(docs)
    val lex = "facade_sketch_spec_lex"; val skt = "facade_sketch_spec_sk"
    spark.sql(s"DROP TABLE IF EXISTS `$lex`")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
    g.buildLexIndex(lex, stemmed = false)
    g.buildSketchTable(skt)
    val q = "spark join window"
    val served = g.search(q, topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(g.lastSketchApplied, "fresh sketch must apply by default")
    // the filter genuinely shrank the candidate set (not the whole corpus)
    val qh = SketchFilter.querySimhash(spark, q)
    val cand = SketchFilter.candidates(spark.table(skt), qh, topK = 10)
    val nCand = cand.count()
    assert(nCand < 800 && nCand >= 500,
      s"expected the cut to bind between the 500-floor and the corpus, got $nCand")
    // facade page == the explicit sketch → indexed composition
    val explicit = Search.searchIndexed(g.frames.latestActive, "id", fcols, q,
      lex, Search.Options(topK = 10, engine = Search.BM25Engine,
        stemmed = false), allowedIds = Some(cand))
    assert(rows(served) == rows(explicit) && rows(served).nonEmpty)
    // opt-out restores exhaustive ranking (full-corpus stats)
    val exhaustive = g.search(q, topK = 10, noSketch = true)
    assert(!g.lastSketchApplied)
    val corpusIdx = Search.searchIndexed(g.frames.latestActive, "id", fcols, q,
      lex, Search.Options(topK = 10, engine = Search.BM25Engine, stemmed = false))
    assert(rows(exhaustive) == rows(corpusIdx))
    spark.sql(s"DROP TABLE IF EXISTS `$lex`")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
  }

  test("stale sketch is SKIPPED (lossless direction); refresh re-applies it") {
    val g = new Graft(spark, tmpStore())
    g.frames.put((0 until 20).map(i => (s"mv2://sks/$i",
      s"spark join window doc$i with shared vocabulary")))
    val lex = "facade_sketch_stale_lex"; val skt = "facade_sketch_stale_sk"
    spark.sql(s"DROP TABLE IF EXISTS `$lex`")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
    g.buildLexIndex(lex, stemmed = false)
    g.buildSketchTable(skt)
    g.search("spark join", topK = 5)
    assert(g.lastSketchApplied)
    // a put strands BOTH stamps; heal only the lex index — the sketch is
    // now missing the newest doc's row, so applying it would silently
    // drop that doc from every result: it must be skipped instead
    g.put("mv2://sks/new", "fresh spark join window doc")
    assert(g.refreshLexIndex() == "appended")
    val served = g.search("spark join", topK = 5)
    assert(g.lastSearchRoute == "indexed")
    assert(!g.lastSketchApplied, "stale sketch must be skipped, not applied lossily")
    val newId = g.frames.latestActive.filter(col("uri") === "mv2://sks/new")
      .select("id").collect().head.getLong(0)
    assert(rows(served).map(_._1).contains(newId),
      "the un-sketched page must still see the new doc")
    // the O(delta) sketch refresh re-arms the filter
    assert(g.refreshSketchTable() == "appended")
    g.search("spark join", topK = 5)
    assert(g.lastSketchApplied)
    // update/delete deltas stay append-safe for the SKETCH (dead ids are
    // inert — they join no live posting), unlike the lex index
    val someId = g.frames.latestActive.filter(col("uri") === "mv2://sks/0")
      .select("id").collect().head.getLong(0)
    g.delete(someId)
    assert(g.refreshLexIndex() == "rebuilt") // delete breaks lex append
    assert(g.refreshSketchTable() == "appended") // sketch never rebuilds
    val afterDel = g.search("spark join", topK = 5)
    assert(g.lastSketchApplied)
    assert(!rows(afterDel).map(_._1).contains(someId),
      "inert sketch row must not resurrect a deleted doc")
    spark.sql(s"DROP TABLE IF EXISTS `$lex`")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
  }

  test("torn sketch refresh (pending marker) rebuilds instead of re-appending") {
    val g = new Graft(spark, tmpStore())
    g.frames.put((0 until 12).map(i => (s"mv2://sktorn/$i",
      s"spark join window doc$i")))
    val skt = "facade_sketch_torn_sk"
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
    g.buildSketchTable(skt)
    g.put("mv2://sktorn/new", "fresh spark join window doc")
    // simulate a refresh crash between append and restamp: the marker is
    // set, the stamp is stale, and the delta's rows ALREADY landed once —
    // a naive refresh would re-append them (duplicate (doc_id, simhash)
    // rows inflating the candidate floor)
    val cur = g.currentVersion
    g.refreshSketchTable(): Unit // the real append (advances the stamp)
    spark.sql(s"ALTER TABLE `$skt` SET TBLPROPERTIES " +
      s"('graft.refresh.pending' = '1', 'graft.store.version' = '${cur - 1}')")
    assert(g.refreshSketchTable() == "rebuilt",
      "a torn refresh must rebuild, never re-append")
    // rebuilt = exactly one row per live frame, stamp current
    assert(spark.table(skt).count() == g.frames.latestActive.count())
    assert(g.refreshSketchTable() == "fresh")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
  }

  /** the 800-doc store of the first test: the hamming cut binds */
  private def bindingStore(lex: String, skt: String): Graft = {
    val g = new Graft(spark, tmpStore())
    g.frames.put((0 until 800).map { i =>
      if (i % 8 == 0)
        (s"mv2://skj/$i", s"spark join window shuffle partition stage$i")
      else
        (s"mv2://skj/$i", s"meadow${i % 97} orchard${i % 89} fern${i % 83} " +
          s"bramble${i % 79} thicket${i % 73} hollow${i % 71} glade moss")
    } :+ ("mv2://skj/cjk", "日本 spark"))
    spark.sql(s"DROP TABLE IF EXISTS `$lex`")
    spark.sql(s"DROP TABLE IF EXISTS `$skt`")
    g.buildLexIndex(lex, stemmed = false)
    g.buildSketchTable(skt)
    g
  }

  private def dropTables(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  test("a query with no tokenizer tokens skips the pre-filter instead of throwing") {
    val lex = "facade_sketch_notok_lex"; val skt = "facade_sketch_notok_sk"
    try {
      val g = bindingStore(lex, skt)
      // the Spark query sketch has no row to take the head of
      intercept[NoSuchElementException](SketchFilter.querySimhash(spark, "日本"))
      assert(SketchFilter.queryHash("日本").isEmpty)
      val served = g.search("日本", topK = 10)
      assert(g.lastSearchRoute == "indexed")
      assert(!g.lastSketchApplied, "nothing to sketch: the filter must not apply")
      assert(rows(served) == rows(g.search("日本", topK = 10, noSketch = true)))
    } finally dropTables(lex, skt)
  }

  test("warm default search launches no more Spark jobs than a noSketch search") {
    val lex = "facade_sketch_jobs_lex"; val skt = "facade_sketch_jobs_sk"
    try {
      val g = bindingStore(lex, skt)
      val sc = spark.sparkContext
      def jobs(run: => Unit): Int = {
        val group = s"facade-sketch-jobs-${java.util.UUID.randomUUID}"
        sc.setJobGroup(group, group)
        try run finally sc.clearJobGroup()
        org.apache.spark.TestListenerBus.drain(sc)
        sc.statusTracker.getJobIdsForGroup(group).length
      }
      val q = "spark join window"
      // warm both routes: the first sketch-using search collects the live
      // sketch for this watermark
      g.search(q, topK = 10).collect(): Unit
      g.search(q, topK = 10, noSketch = true).collect(): Unit
      val withSketch = jobs(g.search(q, topK = 10).collect(): Unit)
      assert(g.lastSketchApplied)
      val without = jobs(g.search(q, topK = 10, noSketch = true).collect(): Unit)
      assert(withSketch <= without,
        s"default search ran $withSketch jobs, noSketch ran $without")
    } finally dropTables(lex, skt)
  }

  test("duplicate sketch rows never change the candidate set (dedup defense)") {
    import spark.implicits._
    // deterministic pseudo-hashes; pick a query hash that leaves the
    // strict hamming-32 cut BELOW the 500 floor so the relaxation path
    // (nearest-minKeep) is the one under test — duplicates there would
    // both inflate the floor COUNT and crowd the nearest slots
    val sk = (0L until 600L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "simhash")
    val dup = sk.unionAll(sk.limit(250)) // a re-appended delta
    def ids(s: org.apache.spark.sql.DataFrame) =
      SketchFilter.candidates(s, 0L, topK = 10)
        .collect().map(_.getLong(0)).toSet
    val clean = ids(sk)
    assert(ids(dup) == clean,
      "duplicate rows changed the candidate set")
    assert(clean.size >= 500, "floor must keep >= max(topK*10, 500)")
  }
}
