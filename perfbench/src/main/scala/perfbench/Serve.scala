package perfbench

import graft.acl.Acl
import graft.api.Graft
import graft.search.{FrameCols, QueryParser, Search, SketchFilter}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The serving workloads. One client thread drives the public facade in
  * a closed loop; every result is checked after the timed window. */
final class Serve(spark: SparkSession, root: String, runId: String, seed: Long,
                  seconds: Int, tracer: Tracer, report: Report) {

  val TopK = 10
  val AskTopK = 5

  private val storeDir = s"$root/store"
  private val lexTable = s"pb_lex_$runId"
  private val sketchTable = s"pb_sketch_$runId"
  private val vecPath = s"$root/ivf"

  // what the benchmark knows about every live id, from the puts it made
  private val trackOf = mutable.HashMap.empty[Long, Int]
  private var userBytes = 0L

  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(kind: String, ms: Double): Unit =
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  // layer metric → (unit, samples); reported as the median
  private val layer = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  private def layerSample(name: String, v: Double, unit: String = "ms"): Unit =
    layer.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty))._2 += v
  private var facadeCalls = 0L

  private def meta(track: Int) =
    Map(Acl.TenantKey -> Mix.tenantOf(track), Acl.VisibilityKey -> "public")

  private lazy val frameCols = FrameCols(
    text = coalesce(col("text"), lit("")), uri = col("uri"), track = col("track"),
    kind = col("kind"), tags = col("tags"), labels = col("labels"),
    timestamp = col("timestamp"))

  // ---- set-up: the store and its three serving artifacts, then the
  // corpus check of the run's searches, which also warms every search shape

  def setUp(docs: IndexedSeq[Mix.Doc], pool: IndexedSeq[Mix.Op]): Graft = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val g = new Graft(spark, storeDir)
    var t = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      report.info(s"setup.$name") = f"${(now - t) / 1e9}%.2fs"
      t = now
    }
    docs.groupBy(_.track).toSeq.sortBy(_._1).foreach { case (t, batch) =>
      val ids = g.frames.put(batch.map(d => (d.uri, d.text)),
        track = Some(Mix.trackName(t)), metadata = meta(t))
      require(ids.size == batch.size, s"track $t: ${ids.size} of ${batch.size} docs stored")
      ids.foreach(trackOf(_) = t)
      userBytes += batch.map(_.text.getBytes("UTF-8").length.toLong).sum
    }
    phase("puts")
    // The corpus route: a second handle whose lexical index does not
    // exist. It only reads the store, so its pages are computed on another
    // thread while this one builds the serving artifacts.
    val searches = pool.collect { case s: Mix.SearchOp => s }
    val corpus = new Graft(spark, storeDir)
    corpus.attachLexIndex(s"${lexTable}_absent", stemmed = true)
    val viaCorpus = Future(pages(corpus, searches))
    g.buildLexIndex(lexTable, stemmed = true, partitionByTrack = true)
    phase("lex")
    g.buildSketchTable(sketchTable)
    phase("sketch")
    g.buildVecIndex(vecPath)
    phase("vec")
    val indexed = pages(g, searches)
    Await.result(viaCorpus, Duration.Inf).zip(indexed).foreach {
      case (scala.util.Success(x), scala.util.Success(y)) =>
        report.attempted += 1
        report.expect("search.corpus_mismatch", x == y)
      case (x, y) =>
        report.attempted += 1
        report.fail("search.corpus_check_threw")
        Seq(x, y).foreach(_.failed.foreach(e => System.err.println(s"[perfbench] $e")))
    }
    // one ask from a separate seed stream warms the ask path
    Mix.pool(seed, 20, docs, asks = 1)
      .collect { case a: Mix.AskOp => g.ask(a.question, AskTopK) }
    phase("checks_and_warmup")
    g
  }

  // ---- one facade call, timed; the result is materialised inside the window

  private def aclFor(tenant: Option[String]) =
    tenant.map(t => Acl.MetadataCheck(Acl.Context(t), Acl.Enforce))

  /** run `op` through the facade; None if it threw (counted as failed) */
  def call(g: Graft, op: Mix.Op, record: Boolean): Option[Done] = {
    tracer.op(op.kind)
    try op match {
      case s: Mix.SearchOp =>
        var planMs = 0.0
        val ((rows, cols), span) = tracer.time("api.search") {
          val df = g.search(s.query, TopK, acl = aclFor(s.tenant), noSketch = s.exhaustive)
          val p0 = System.nanoTime()
          df.queryExecution.executedPlan
          planMs = (System.nanoTime() - p0) / 1e6
          (df.collect(), df.columns.toSeq)
        }
        facadeCalls += 1
        if (record) {
          sample("search", span.ms); sample(s"search.${s.shape}", span.ms)
          layerSample("api.search.plan_ms", planMs)
          callCost("api.search", span)
        }
        Some(Done(op, rows, cols, None))
      case a: Mix.AskOp =>
        val (resp, span) = tracer.time("api.ask")(g.ask(a.question, AskTopK))
        facadeCalls += 1
        if (record) { sample("ask", span.ms); callCost("api.ask", span) }
        Some(Done(op, Array.empty, Nil, Some(resp)))
    } catch {
      case e: Exception =>
        if (record) {
          report.fail(s"${op.kind}.threw")
          sample(op.kind, Double.MaxValue) // a failed call is never a fast one
        }
        System.err.println(s"[perfbench] ${op.kind} threw: $e")
        None
    }
  }

  private def callCost(prefix: String, span: Span): Unit = if (tracer.enabled) {
    layerSample(s"$prefix.jobs", span.jobs, "count")
    layerSample(s"$prefix.job_ms", span.jobMs)
    layerSample(s"$prefix.driver_ms", math.max(0.0, span.ms - span.jobMs))
  }

  // ---- checks, run outside the timed window

  private def liveIds: collection.Set[Long] = trackOf.keySet

  def checkSearch(d: Done, s: Mix.SearchOp): Unit = {
    val idI = d.cols.indexOf("id"); val scI = d.cols.indexOf("score")
    val ids = d.rows.map(_.getLong(idI)).toSeq
    val scores = d.rows.map(r => r.getAs[Number](scI).doubleValue()).toSeq
    report.expect("search.hits_over_topk", ids.size <= TopK)
    report.expect("search.scores_not_descending",
      scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
    report.expect("search.dead_id", ids.forall(liveIds.contains))
    s.track.foreach(t => report.expect("search.off_track",
      ids.forall(i => trackOf.get(i).contains(t))))
    s.tenant.foreach(t => report.expect("search.cross_tenant",
      ids.forall(i => trackOf.get(i).exists(Mix.tenantOf(_) == t))))
  }

  def checkAsk(d: Done): Unit = d.ask.foreach { r =>
    report.expect("ask.citations_over_topk", r.citations.size <= AskTopK)
    report.expect("ask.dead_citation", r.citations.forall(c => liveIds.contains(c.id)))
  }

  /** Every distinct search of the run, with `noSketch = true`: the
    * indexed route must return exactly what the corpus route returns. */
  private def pages(h: Graft, searches: Seq[Mix.SearchOp]): Seq[scala.util.Try[Seq[Seq[String]]]] =
    searches.map { s => scala.util.Try {
      val df = h.search(s.query, TopK, acl = aclFor(s.tenant), noSketch = true)
      val cols = df.columns.toSeq
      df.collect().map(r => cols.map(c => String.valueOf(r.get(r.fieldIndex(c))))).toSeq
    } }

  // ---- per-layer probes: public layer calls timed from outside (traced
  // runs only; they run after the facade call they explain)

  def probeSearch(g: Graft, s: Mix.SearchOp, hits: Int): Unit = {
    val (_, parse) = tracer.time("search.parse")(QueryParser.parse(s.query))
    layerSample("search.parse_ms", parse.ms)
    val opts = Search.Options(topK = TopK, engine = Search.BM25Engine, stemmed = true)
    val (_, idx) = tracer.time("search.indexed")(
      Search.searchIndexed(g.frames.latestActive, "id", frameCols, s.query,
        lexTable, opts).collect())
    layerSample("search.indexed_ms", idx.ms); layerSample("search.indexed.jobs", idx.jobs, "count")
    val (kept, sk) = tracer.time("search.sketch") {
      val qh = SketchFilter.querySimhash(spark, s.query)
      val live = g.frames.latestActive.select(col("id").cast("long").as("doc_id"))
      SketchFilter.candidates(spark.table(sketchTable).join(live, Seq("doc_id"), "left_semi"),
        qh, TopK).count()
    }
    layerSample("search.sketch_ms", sk.ms); layerSample("search.sketch.jobs", sk.jobs, "count")
    layerSample("search.sketch_kept", kept.toDouble, "count")
    if (kept > 0) layerSample("search.sketch_yield", hits.toDouble / kept, "ratio")
    val (_, ver) = tracer.time("store.version_probe")(g.currentVersion)
    layerSample("store.version_probe_ms", ver.ms)
    val (_, la) = tracer.time("store.latest_active_plan")(
      g.frames.latestActive.queryExecution.executedPlan)
    layerSample("store.latest_active_plan_ms", la.ms)
    s.tenant.foreach { t =>
      // the ACL layer alone, over the page the unfiltered search returns
      val page = g.search(s.query, TopK)
      val rows = page.collect()
      val ids = rows.map(_.getLong(page.schema.fieldIndex("id"))).toSeq
      val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), page.schema)
      val withMeta = local.join(g.frames.latestActive.filter(col("id").isin(ids: _*))
        .select(col("id"), col("extraMetadata").as("__meta")), Seq("id"), "left")
      val (allowed, en) = tracer.time("acl.enforce")(
        Acl.applyMetadata(withMeta, col("__meta"), Acl.Context(t), Acl.Enforce,
          Seq(col("score").desc, col("id"))).collect().length)
      layerSample("acl.enforce_ms", en.ms); layerSample("acl.enforce.jobs", en.jobs, "count")
      if (rows.nonEmpty) layerSample("acl.allowed_ratio", allowed.toDouble / rows.length, "ratio")
    }
  }

  private lazy val ivf = graft.vector.IvfIndex.read(spark, vecPath)
  private val embedder = new graft.ask.HashEmbedder(64)

  def probeAsk(g: Graft, a: Mix.AskOp, resp: graft.ask.Ask.Response): Unit = {
    layerSample("ask.rungs", resp.sources.size, "count")
    val k = AskTopK * graft.ask.Classify.topKMultiplier(a.question) * 2
    val q = graft.ask.Classify.contentTokens(a.question).mkString(" ")
    val (_, lex) = tracer.time("ask.lex_rung")(
      Search.searchIndexed(g.frames.latestActive, "id", frameCols, q, lexTable,
        Search.Options(topK = k, withSnippets = false, engine = Search.BM25Engine,
          stemmed = true)).collect())
    layerSample("ask.lex_rung_ms", lex.ms)
    val (qv, emb) = tracer.time("vector.embed")(embedder.embed(a.question))
    layerSample("vector.embed_ms", emb.ms)
    val (_, ann) = tracer.time("vector.ann")(ivf.search("id", "vector", qv, k, 4).collect())
    layerSample("vector.ann_ms", ann.ms); layerSample("vector.ann.jobs", ann.jobs, "count")
  }

  // ---- workloads

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def setupDone(): Unit = {
    facadeCalls = 0
    report.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3, "s",
      "process start to first timed call")
  }

  /** The window lasts at least `seconds` and ends on a whole round, so
    * every window has the same mix: a read round runs each read of the
    * pool once ([[Mix.schedule]]); an ingest round is two cycles, one
    * ending in a relational ask and one in an ask from the mix. */
  private def windowOpen(t0: Long, done: Int, round: Int): Boolean =
    done % round != 0 || (System.nanoTime() - t0) / 1e9 < seconds

  private def windowEnd(t0: Long): Unit = {
    val window = (System.nanoTime() - t0) / 1e9
    report.put("ops_per_s", facadeCalls / window, "1/s", f"calls=$facadeCalls window=$window%.1fs")
  }

  private def checkAll(done: Seq[Done]): Unit = done.foreach { d =>
    report.attempted += 1
    d.op match {
      case s: Mix.SearchOp => checkSearch(d, s)
      case _: Mix.AskOp => checkAsk(d)
    }
  }

  /** traced runs: every search shape and one ask once more through the
    * facade, each followed by the public layer calls that explain it */
  private def probeSet(g: Graft, pool: IndexedSeq[Mix.Op]): Unit = if (tracer.enabled) {
    val searches = pool.collect { case s: Mix.SearchOp => s }
    val ask = pool.collectFirst { case a: Mix.AskOp => a }.toSeq
    (searches ++ ask).foreach { op =>
      call(g, op, record = true).foreach { d =>
        checkAll(Seq(d))
        op match {
          case s: Mix.SearchOp => probeSearch(g, s, d.rows.length)
          case a: Mix.AskOp => probeAsk(g, a, d.ask.get)
        }
      }
    }
  }

  def serveRead(): Unit = {
    val docs = Mix.corpus(seed)
    val pool = Mix.pool(seed, 10, docs, asks = 3)
    val g = setUp(docs, pool)
    val sched = Mix.schedule(seed, pool)
    val done = mutable.ArrayBuffer.empty[Done]
    setupDone()
    val t0 = System.nanoTime()
    var n = 0
    while (windowOpen(t0, n, pool.size)) {
      call(g, sched.next(), record = true).foreach(done += _)
      n += 1
    }
    windowEnd(t0)
    checkAll(done.toSeq)
    Seq("search", "ask").foreach(k => report.latency(k, lat.getOrElse(k, Nil).toSeq))
    probeSet(g, pool)
    storeBytes()
    finish()
  }

  /** one ingest cycle: put a note, refresh the three artifacts, search
    * (exhaustively: the sketch pre-filter may drop any one document) for
    * the note's unique token until the note is found, up to three tries;
    * returns the new id if it became visible */
  private def ingestCycle(g: Graft, note: Mix.Note, record: Boolean,
                          outcomes: mutable.ArrayBuffer[String],
                          done: mutable.ArrayBuffer[Done]): Option[Long] = {
    tracer.op("ingest")
    val start = System.nanoTime()
    val filesBefore = if (tracer.enabled) DiskUsage.files(storeDir) else 0L
    val (id, put) = tracer.time("store.put")(g.put(note.uri, note.text,
      track = Some(Mix.trackName(note.track)), metadata = meta(note.track)))
    facadeCalls += 1
    if (!report.expect("ingest.put_deduped", id.isDefined)) {
      if (record) sample("fresh", Double.MaxValue)
      return None
    }
    trackOf(id.get) = note.track
    userBytes += note.text.getBytes("UTF-8").length
    if (record) {
      layerSample("store.put_ms", put.ms)
      if (tracer.enabled) {
        layerSample("store.put.jobs", put.jobs, "count")
        layerSample("store.files_per_put", (DiskUsage.files(storeDir) - filesBefore).toDouble,
          "count")
      }
    }
    Seq[(String, () => String)](
      "search.refresh_lex" -> (() => g.refreshLexIndex()),
      "search.refresh_sketch" -> (() => g.refreshSketchTable()),
      "vector.refresh_vec" -> (() => g.refreshVecIndex())).foreach { case (n, f) =>
      val (o, sp) = tracer.time(n)(f())
      facadeCalls += 1
      if (record) {
        outcomes += o
        layerSample(s"${n}_ms", sp.ms)
        if (tracer.enabled) layerSample(s"$n.jobs", sp.jobs, "count")
      }
    }
    var seen = false; var tries = 0
    while (!seen && tries < 3) {
      tries += 1
      call(g, Mix.SearchOp("visible", note.token, exhaustive = true), record).foreach { d =>
        if (record) done += d
        seen = d.rows.exists(_.getLong(d.cols.indexOf("id")) == id.get)
      }
    }
    val fresh = (System.nanoTime() - start) / 1e6
    if (report.expect("ingest.not_visible", seen)) {
      if (record) sample("fresh", fresh)
      id
    } else {
      if (record) sample("fresh", Double.MaxValue)
      None
    }
  }

  /** a relational ask about the note's fact; it must cite the note */
  private def relationalAsk(g: Graft, note: Mix.Note, id: Long, record: Boolean): Unit = {
    tracer.op("ask")
    val (resp, sp) = tracer.time("api.ask")(g.ask(note.relationalQuestion, AskTopK))
    facadeCalls += 1
    report.expect("graph.missing_citation", resp.citations.exists(_.id == id))
    checkAsk(Done(Mix.AskOp(note.relationalQuestion), Array.empty, Nil, Some(resp)))
    if (record) {
      sample("ask", sp.ms); callCost("api.ask", sp)
      layerSample("graph.relational_ask_ms", sp.ms)
    }
  }

  def serveIngest(): Unit = {
    val docs = Mix.corpus(seed)
    val pool = Mix.pool(seed, 10, docs, asks = 3)
    val g = setUp(docs, pool)
    val outcomes = mutable.ArrayBuffer.empty[String]
    val done = mutable.ArrayBuffer.empty[Done]
    // one untimed cycle on a note from its own seed stream warms the
    // commit and refresh legs
    val warm = Mix.note(seed, Mix.WarmNote)
    ingestCycle(g, warm, record = false, outcomes, done)
      .foreach(relationalAsk(g, warm, _, record = false))
    val asks = Mix.schedule(seed, pool).collect { case a: Mix.AskOp => a }
    setupDone()
    val t0 = System.nanoTime()
    var i = 0
    while (windowOpen(t0, i, 2)) {
      val note = Mix.note(seed, i)
      report.attempted += 1
      try ingestCycle(g, note, record = true, outcomes, done).foreach { id =>
        // then one ask: alternately a relational ask about the new fact
        // (the card graph) and an ask from the serve_read mix (the lexical
        // and vector rungs, right after their indexes moved)
        if (i % 2 == 0) { report.attempted += 1; relationalAsk(g, note, id, record = true) }
        else call(g, asks.next(), record = true).foreach(done += _)
      } catch { case e: Exception =>
        report.fail("ingest.threw"); sample("fresh", Double.MaxValue)
        System.err.println(s"[perfbench] ingest cycle $i threw: $e")
      }
      i += 1
    }
    windowEnd(t0)
    checkAll(done.toSeq)
    Seq("fresh", "search", "ask").foreach(k => report.latency(k, lat.getOrElse(k, Nil).toSeq))
    if (outcomes.nonEmpty)
      report.put("refresh.append_ratio", outcomes.count(_ == "appended").toDouble / outcomes.size,
        "ratio", s"n=${outcomes.size}")
    probeSet(g, pool)
    report.put("store.log_files", DiskUsage.files(s"$storeDir/frames").toDouble, "count")
    storeBytes()
    finish()
  }

  private def storeBytes(): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val log = DiskUsage.bytes(s"$storeDir/frames")
    val post = DiskUsage.bytes(s"$wh/$lexTable")
    val sk = DiskUsage.bytes(s"$wh/$sketchTable")
    val ivfB = DiskUsage.bytes(vecPath)
    report.put("store.log_bytes", log.toDouble, "bytes")
    report.put("search.postings_bytes", post.toDouble, "bytes")
    report.put("search.sketch_bytes", sk.toDouble, "bytes")
    report.put("vector.ivf_bytes", ivfB.toDouble, "bytes")
    report.put("bytes_per_user_byte", (log + post + sk + ivfB).toDouble / userBytes, "ratio",
      s"user_bytes=$userBytes")
  }

  private def finish(): Unit = {
    Mix.Shapes.foreach { sh =>
      lat.get(s"search.$sh").foreach(xs =>
        report.put(s"api.search.${sh}_p50_ms", Stats.median(xs.toSeq), "ms", s"n=${xs.size}"))
    }
    layer.foreach { case (k, (unit, xs)) =>
      report.put(k, Stats.median(xs.toSeq), unit, s"median n=${xs.size}")
    }
  }
}

/** one completed facade call and what it returned */
final case class Done(op: Mix.Op, rows: Array[Row], cols: Seq[String],
                      ask: Option[graft.ask.Ask.Response])

/** Local-filesystem sizes of the artifacts a run wrote. */
object DiskUsage {
  private def walk(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => walk(c.getPath))
  }
  def bytes(dir: String): Long = walk(dir).map(_.length).sum
  def files(dir: String): Long = walk(dir).size.toLong
}
