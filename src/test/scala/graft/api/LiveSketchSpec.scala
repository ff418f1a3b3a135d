package graft.api

import graft.SparkSpec
import graft.search.{FrameCols, Search, SketchFilter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sketch pre-filter served from the per-watermark live sketch held on
  * the driver: the driver selection equals the Spark plan's
  * ([[SketchFilter.candidates]]) on the same rows, a store over the cap
  * keeps the Spark plan, and every event that can change the live sketch
  * drops the cached one.
  */
class LiveSketchSpec extends SparkSpec with graft.TempStores {
  import spark.implicits._

  private def tmpStore(): String =
    tempDir("graft_live_sketch")

  private def page(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val fcols = FrameCols(text = coalesce(col("text"), lit("")),
    uri = col("uri"), track = col("track"), kind = col("kind"),
    tags = col("tags"), labels = col("labels"), timestamp = col("timestamp"))

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  test("query sketch on the driver is bit-identical to the Spark one-row sketch") {
    Seq("spark join window", "track:src3 AND spark join", "\"exact phrase\" val*",
        "Mixed CASE tokens & symbols + more_words / x@y", "a")
      .foreach(q => assert(SketchFilter.queryHash(q).contains(
        SketchFilter.querySimhash(spark, q)), q))
    assert(SketchFilter.queryHash("日本 ...").isEmpty)
  }

  test("driver selection returns exactly SketchFilter.candidates' id set (seeded)") {
    val Mask60 = (1L << 60) - 1
    var regimes = Set.empty[String]
    (0 until 24).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val topK = Seq(1, 10, 50, 51, 80)(rnd.nextInt(5))
      val minKeep = math.max(topK * 10, SketchFilter.MinCandidates)
      val qh = rnd.nextLong() & Mask60
      // a hash at exactly hamming distance d from the query's
      def at(d: Int): Long =
        rnd.shuffle((0 until 60).toList).take(d).foldLeft(qh)((h, b) => h ^ (1L << b))
      val dists = seed % 3 match {
        case 0 => // the strict cut alone keeps >= minKeep
          Seq.fill(minKeep + rnd.nextInt(200))(rnd.nextInt(33)) ++
            Seq.fill(rnd.nextInt(200))(33 + rnd.nextInt(28))
        case 1 => // relaxation, heavy hamming ties at the minKeep boundary
          Seq.fill(rnd.nextInt(minKeep))(rnd.nextInt(33)) ++
            Seq.fill(minKeep + rnd.nextInt(300))(33 + rnd.nextInt(3))
        case _ => // fewer rows than minKeep: everything is kept
          Seq.fill(rnd.nextInt(minKeep))(rnd.nextInt(61))
      }
      val ids = rnd.shuffle((0L until dists.size.toLong * 3).toList).take(dists.size)
      val clean = ids.zip(dists.map(at))
      // a replayed append: exact duplicate rows
      val rows = if (seed % 2 == 0) clean ++ rnd.shuffle(clean).take(clean.size / 4)
        else clean
      val driver = SketchFilter.Live(rows).candidates(qh, topK)
      val viaSpark = SketchFilter.candidates(rows.toDF("doc_id", "simhash"), qh, topK)
        .collect().map(_.getLong(0))
      assert(driver.toSet == viaSpark.toSet, s"seed $seed")
      assert(driver.length == driver.toSet.size, s"seed $seed: duplicate ids")
      val within = clean.count { case (_, h) =>
        java.lang.Long.bitCount(h ^ qh) <= SketchFilter.DefaultMaxHamming }
      regimes ++= Seq(
        if (within >= minKeep) Some("strict") else None,
        if (within < minKeep && clean.size > minKeep) Some("relaxed") else None,
        if (rows.size > clean.size) Some("duplicates") else None,
        if (topK * 10 > SketchFilter.MinCandidates) Some("topK-floor") else None
      ).flatten
    }
    assert(regimes == Set("strict", "relaxed", "duplicates", "topK-floor"))
  }

  /** 800 docs: a small on-topic cluster plus far-vocabulary bulk, so the
    * hamming cut binds */
  private def bindingStore(lex: String, skt: String): Graft = {
    val g = new Graft(spark, tmpStore())
    g.frames.put((0 until 800).map { i =>
      if (i % 8 == 0)
        (s"mv2://lsk/$i", s"spark join window shuffle partition stage$i")
      else
        (s"mv2://lsk/$i", s"meadow${i % 97} orchard${i % 89} fern${i % 83} " +
          s"bramble${i % 79} thicket${i % 73} hollow${i % 71} glade moss")
    })
    drop(lex, skt)
    g.buildLexIndex(lex, stemmed = false)
    g.buildSketchTable(skt)
    g
  }

  test("over the cap the Spark plan serves; both routes give the explicit allowedIds page") {
    val lex = "live_sketch_cap_lex"; val skt = "live_sketch_cap_sk"
    try {
    val g = bindingStore(lex, skt)
    val q = "spark join window"
    val cand = SketchFilter.candidates(spark.table(skt),
      SketchFilter.querySimhash(spark, q), topK = 10)
    assert(cand.count() < 800, "the cut must bind for this check to mean anything")
    val explicit = page(Search.searchIndexed(g.frames.latestActive, "id", fcols, q,
      lex, Search.Options(topK = 10, engine = Search.BM25Engine, stemmed = false),
      allowedIds = Some(cand)))
    assert(explicit.nonEmpty)
    val onDriver = page(g.search(q, topK = 10))
    assert(g.lastSketchApplied && g.liveSketchCached)
    g.liveSketchCap = 10
    g.attachSketchTable(skt) // drop the driver copy: the cap applies at collect
    val overCap = page(g.search(q, topK = 10))
    assert(g.lastSketchApplied && g.liveSketchCached)
    assert(onDriver == explicit && overCap == explicit)
    } finally drop(lex, skt)
  }

  test("a foreign commit stales the cached live sketch; sketch maintenance drops it") {
    val lex = "live_sketch_inval_lex"; val skt = "live_sketch_inval_sk"
    val dir = tmpStore()
    try {
    val g = new Graft(spark, dir)
    g.frames.put((0 until 20).map(i => (s"mv2://lsi/$i",
      s"spark join window doc$i with shared vocabulary")))
    drop(lex, skt)
    g.buildLexIndex(lex, stemmed = false)
    g.buildSketchTable(skt)
    def warm(): Unit = {
      g.search("spark join", topK = 50)
      assert(g.lastSketchApplied && g.liveSketchCached)
    }
    warm()
    // a second handle commits and catches only the lex index up
    val other = new Graft(spark, dir)
    val newId = other.put("mv2://lsi/new", "fresh spark join window doc").get
    other.attachLexIndex(lex, stemmed = false)
    assert(other.refreshLexIndex() == "appended")
    val stale = g.search("spark join", topK = 50)
    assert(g.lastSearchRoute == "indexed")
    assert(!g.lastSketchApplied, "the old live sketch must not serve a moved watermark")
    assert(page(stale).map(_._1).contains(newId))
    // the foreign sketch refresh does not move the watermark, but it
    // restamps the table: this handle's stale verdict re-reads the stamp
    // and the filter re-arms with the new row, no commit in between
    other.attachSketchTable(skt)
    assert(other.refreshSketchTable() == "appended")
    g.search("spark join", topK = 50)
    assert(g.lastSketchApplied)
    assert(g.refreshSketchTable() == "fresh")
    val fresh = g.search("spark join", topK = 50)
    assert(g.lastSketchApplied)
    assert(page(fresh).map(_._1).contains(newId))
    // every sketch maintenance entry point drops the cached copy
    Seq[(String, () => Unit)](
      "refreshSketchTable" -> (() => g.refreshSketchTable(): Unit),
      "buildSketchTable" -> (() => g.buildSketchTable(skt)),
      "attachSketchTable" -> (() => g.attachSketchTable(skt)),
      "invalidateIndexCaches" -> (() => g.invalidateIndexCaches()),
      "detachSketchTable" -> (() => g.detachSketchTable())
    ).foreach { case (name, op) =>
      warm(); op()
      assert(!g.liveSketchCached, s"$name kept the cached live sketch")
    }
    } finally drop(lex, skt)
  }
}
