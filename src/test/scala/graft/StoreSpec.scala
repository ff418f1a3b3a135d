package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.api.Graft
import graft.ingest.{Enrich, Structure}
import graft.store.FrameStore

class StoreSpec extends SparkSpec with TempStores {

  private def tmpDir: String =
    tempDir("graft-test")

  private def ts(ms: Long) = new Timestamp(ms)

  test("lifecycle: put -> search -> reopen (mirrors tests/lifecycle.rs)") {
    val dir = tmpDir
    val g = new Graft(spark, dir)
    g.put("mv2://physics/quantum", "Quantum mechanics describes the behavior of particles at the atomic scale")
    g.put("mv2://physics/classical", "Classical mechanics describes motion of macroscopic objects")
    g.put("mv2://bio/cells", "Cells are the basic unit of life in biology")
    val hits = g.search("quantum").collect()
    assert(hits.length == 1 && hits.head.getDouble(1) > 0)
    // reopen: a fresh handle over the same path sees the data
    val g2 = new Graft(spark, dir)
    assert(g2.search("mechanics").count() == 2)
    assert(g2.stats("live_frames") == 3)
  }

  test("mutation: update supersedes, delete tombstones, as-of time-travel") {
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    val Seq(id1) = store.put(Seq(("mv2://a", "original content alpha")), ts = ts(1000))
    val seqAfterPut = 1L
    val id2 = store.update(id1, "updated content beta", "mv2://a", ts = ts(2000))
    // latest view shows only the update
    val live = store.latestActive.select("id").collect().map(_.getLong(0)).toSet
    assert(live == Set(id2))
    // as-of before the update shows the original (F7 time travel)
    val old = store.asOf(seqAfterPut).select("id").collect().map(_.getLong(0)).toSet
    assert(old == Set(id1))
    // delete hides from latest
    store.delete(id2)
    assert(store.latestActive.count() == 0)
    val (total, liveN, tomb) = store.stats
    assert(total == 3 && liveN == 0 && tomb == 1)
  }

  test("vacuum preserves the latest view (mirrors tests/mutation.rs)") {
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    val Seq(a) = store.put(Seq(("mv2://a", "keep me around")), ts = ts(1000))
    val Seq(b) = store.put(Seq(("mv2://b", "delete me later")), ts = ts(1000))
    store.delete(b)
    val before = store.latestActive.select("id").collect().map(_.getLong(0)).toSet
    store.vacuum()
    val after = store.latestActive.select("id").collect().map(_.getLong(0)).toSet
    assert(before == after && after == Set(a))
    assert(store.log.count() == 1) // dead versions physically gone
  }

  test("materializeCurrent: read-optimized copy matches the live view, log intact") {
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    val Seq(a) = store.put(Seq(("mv2://a", "stays live")), ts = ts(1000))
    val Seq(b) = store.put(Seq(("mv2://b", "gets deleted")), ts = ts(1000))
    store.update(a, "stays live v2", "mv2://a")
    store.delete(b)
    val mat = store.materializeCurrent(s"$dir/current")
    val live = store.latestActive.select("id").collect().map(_.getLong(0)).toSet
    assert(mat.select("id").collect().map(_.getLong(0)).toSet == live)
    // non-destructive: the full log (and as-of history) is untouched
    assert(store.log.count() > store.latestActive.count())
    // and the copy is a plain scan — no window/anti-join in its plan
    val plan = mat.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.toLowerCase.contains("anti"))
  }

  test("snapshotCurrent: N reads pay the window+anti-join once, mutation unpins") {
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    val Seq(a) = store.put(Seq(("mv2://a", "alpha lives here")), ts = ts(1000))
    val Seq(b) = store.put(Seq(("mv2://b", "beta gets deleted")), ts = ts(1000))
    store.update(a, "alpha version two", "mv2://a")
    store.delete(b)
    val liveBefore = store.latestActive.select("id").collect().map(_.getLong(0)).toSet
    // which copy a read scans: every input file under one directory
    def scans(sub: String): Boolean = {
      val files = store.latestActive.inputFiles
      files.nonEmpty && files.forall(_.contains(s"$dir/$sub/"))
    }
    // unpinned, the live view is computed from the log on every read
    assert(scans("frames"))
    store.snapshotCurrent(s"$dir/current")
    // every read while pinned is a plain parquet scan — the two shuffles
    // were paid once at materialization
    (1 to 3).foreach { _ =>
      val plan = store.latestActive.queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.toLowerCase.contains("anti"))
      assert(scans("current"))
    }
    assert(store.latestActive.select("id").collect().map(_.getLong(0)).toSet
      == liveBefore)
    // a mutation invalidates the pin: the new row is visible immediately
    val Seq(c) = store.put(Seq(("mv2://c", "gamma arrives")), ts = ts(2000))
    val afterIds = store.latestActive.select("id").collect().map(_.getLong(0)).toSet
    assert(afterIds == liveBefore + c)
    assert(scans("frames"))
    // explicit release also unpins
    store.snapshotCurrent(s"$dir/current2")
    assert(scans("current2"))
    store.releaseSnapshot()
    assert(scans("frames"))
    assert(store.latestActive.select("id").collect().map(_.getLong(0)).toSet
      == liveBefore + c)
  }

  test("graft facade: snapshotCurrent serves search/ask surface from the copy") {
    val dir = tmpDir
    val g = new Graft(spark, dir)
    g.put("mv2://doc/1", "the aurora was visible from the cabin")
    g.put("mv2://doc/2", "cabin maintenance scheduled for spring")
    g.snapshotCurrent(s"$dir/current")
    assert(g.search("cabin").count() == 2)
    assert(g.timeline().count() == 2)
    val plan = g.frames.latestActive.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    // a put drops the pin and the new doc is searchable
    g.put("mv2://doc/3", "a new cabin appears")
    assert(g.search("cabin").count() == 3)
    g.releaseSnapshot()
  }

  test("graft facade: update/delete/vacuum mirror the store mutations") {
    val dir = tmpDir
    val g = new Graft(spark, dir)
    val id = g.put("mv2://note/1", "the sky is blue today").get
    val id2 = g.update(id, "the sky is grey now", "mv2://note/1")
    assert(g.search("grey").count() == 1 && g.search("blue").count() == 0)
    g.delete(id2)
    assert(g.search("grey").count() == 0)
    g.vacuum()
    assert(g.frames.log.count() == 0) // all versions dead -> compacted away
  }

  test("graft facade: update re-mints cards, delete retracts them (memory view stays fresh)") {
    val dir = tmpDir
    val g = new Graft(spark, dir)
    val id = g.put("mv2://me", "I live in Paris. I have a dog.",
      ts = ts(1000)).get
    assert(g.getCurrent("user", "location").contains("Paris"))
    // update re-asserts location with a new value and drops the pet fact
    val id2 = g.update(id, "I live in Berlin.", "mv2://me", ts = ts(2000))
    assert(g.getCurrent("user", "location").contains("Berlin"))
    assert(g.getCurrent("user", "pet").isEmpty, "dropped slot must be retracted")
    // delete retracts everything the live version asserted
    g.delete(id2, ts = ts(3000))
    assert(g.getCurrent("user", "location").isEmpty)
  }

  test("graft facade: per-request ACL on search and ask (mod.rs:267, ask.rs:372)") {
    import spark.implicits._
    val dir = tmpDir
    val g = new Graft(spark, dir)
    g.put("mv2://open/1", "the cabin by the lake")
    g.put("mv2://secret/2", "the cabin blueprints")
    g.put("mv2://open/3", "cabin weather report")
    val rules = Seq(("bob", "mv2://open/", true))
      .toDF("principal", "uriPrefix", "allow")
    // no ACL: all three hits
    assert(g.search("cabin").count() == 3)
    // Enforce: the denied-by-default secret frame drops from the page
    val enforced = g.search("cabin",
      acl = Some(graft.acl.Acl.Request(rules, "bob", graft.acl.Acl.Enforce)))
    assert(enforced.count() == 2)
    assert(!enforced.columns.contains("acl_allowed"))
    // Audit: all hits kept, annotated
    val audited = g.search("cabin",
      acl = Some(graft.acl.Acl.Request(rules, "bob", graft.acl.Acl.Audit)))
      .select("id", "acl_allowed").collect()
    assert(audited.length == 3 && audited.count(!_.getBoolean(1)) == 1)
    // ask Enforce: citations exclude the denied uri end-to-end
    val resp = g.ask("cabin blueprints",
      acl = Some(graft.acl.Acl.Request(rules, "bob", graft.acl.Acl.Enforce)))
    assert(resp.citations.nonEmpty)
    assert(resp.citations.forall(_.aclAllowed.contains(true)))
    val secretId = g.search("blueprints").select("id").head.getLong(0)
    assert(!resp.citations.exists(_.id == secretId))
    // ask Audit: denied citation present but flagged
    val audResp = g.ask("cabin blueprints",
      acl = Some(graft.acl.Acl.Request(rules, "bob", graft.acl.Acl.Audit)))
    assert(audResp.citations.exists(c => c.id == secretId &&
      c.aclAllowed.contains(false)))
  }

  test("dedup-by-content skips duplicate payloads (mutation.rs:3300)") {
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    assert(store.put(Seq(("mv2://a", "same text"))).size == 1)
    assert(store.put(Seq(("mv2://b", "same text"))).isEmpty)
    assert(store.latestActive.count() == 1)
  }

  test("large docs chunk with parent/child frames") {
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    val long = (1 to 100).map(i => s"Sentence number $i about various topics.").mkString(" ")
    store.put(Seq(("mv2://long", long)))
    val live = store.latestActive
    val doc = live.filter(live("role") === "document").collect()
    val chunks = live.filter(live("role") === "chunk").collect()
    assert(doc.length == 1)
    assert(chunks.length > 1)
    assert(chunks.forall(_.getAs[Long]("parentId") == doc.head.getAs[Long]("id")))
  }

  test("structural chunker: headers propagate, code whole, tables split with header") {
    val md =
      """# Title
        |Some intro paragraph.
        |```scala
        |val x = 1
        |```
        || h1 | h2 |
        || --- | --- |
        || a | b |
        || c | d |
        |""".stripMargin
    val els = Structure.detect(md)
    assert(els.exists(_.isInstanceOf[Structure.Heading]))
    assert(els.exists(_.isInstanceOf[Structure.CodeBlock]))
    assert(els.collect { case t: Structure.TableBlock => t }.head.rows.length == 2)
    val chunks = Structure.chunk(md, maxChars = 60)
    assert(chunks.nonEmpty)
    // code block stays intact in some chunk
    assert(chunks.exists(_.text.contains("val x = 1")))
    // table rows carry the header when split
    val tableChunks = chunks.filter(_.text.contains("| a | b |"))
    assert(tableChunks.forall(_.text.contains("| h1 | h2 |")))
  }

  test("enrichment: auto-tags, content dates, pii, rules cards") {
    val text = "Meeting on 2024-03-05 about the deploy. Email bob@example.com, " +
      "call 555-123-4567. I live in Lisbon. My name is Bob. I am 34 years old."
    assert(Enrich.autoTags(text).contains("meeting"))
    assert(Enrich.autoTags(text).contains("release"))
    assert(Enrich.contentDates(text) == Seq("2024-03-05"))
    assert(Enrich.contentDates("due 15/03/2024 and January 5th, 2024") ==
      Seq("2024-01-05", "2024-03-15"))
    val masked = Enrich.maskPii(text)
    assert(!masked.contains("bob@example.com") && masked.contains("[EMAIL]"))
    assert(masked.contains("[PHONE]"))
    val cards = Enrich.extractCards(text)
    assert(cards.contains(Enrich.CardFact("user", "location", "Lisbon")))
    assert(cards.contains(Enrich.CardFact("user", "name", "Bob")))
    assert(cards.contains(Enrich.CardFact("user", "age", "34")))
  }

  test("graft facade: vector search and similar-documents") {
    val dir = tmpDir
    val g = new Graft(spark, dir)
    g.put("mv2://a", "quantum physics particles and wave functions")
    g.put("mv2://b", "quantum physics experiments with particles")
    g.put("mv2://c", "cooking pasta with tomato sauce tonight")
    val hits = g.vectorSearch("quantum particle physics", topK = 2).collect()
    assert(hits.length == 2)
    val ids = g.frames.latestActive.select("id", "uri").collect()
      .map(r => r.getAs[String]("uri") -> r.getAs[Long]("id")).toMap
    val sim = g.similar(ids("mv2://a"), topK = 2).collect()
    assert(sim.head.getLong(0) == ids("mv2://b")) // b more similar than c
  }

  test("graft facade: memory ops and timeline") {
    val dir = tmpDir
    val g = new Graft(spark, dir)
    g.put("mv2://notes/1", "My name is Alice. I live in Oslo.", ts = ts(1000))
    g.put("mv2://notes/2", "Second note much later", ts = ts(500000))
    assert(g.getCurrent("user", "location") == Some("Oslo"))
    g.remember("user", "location", "Bergen", ts = ts(2000))
    assert(g.getCurrent("user", "location") == Some("Bergen"))
    assert(g.aggregateSlot("user", "location") == Seq("Bergen", "Oslo"))
    val tl = g.timeline(limit = 10).collect()
    assert(tl.length == 2 && tl.head.getAs[Long]("id") != tl.last.getAs[Long]("id"))
    assert(tl.head.getAs[Timestamp]("timestamp").getTime == 500000L) // newest first
  }

  test("same-uri re-put appends (no panic) and empty content is storable (mutation.rs:210,352)") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-uri")
    val g = new Graft(spark, dir)
    assert(g.put("mv2://unique", "First").isDefined)
    // reference contract: replace OR append, but never a crash
    g.put("mv2://unique", "Second")
    val withUri = g.frames.latestActive.filter(col("uri") === "mv2://unique").count()
    assert(withUri >= 1)

    // empty payload is accepted and retrievable by uri
    assert(g.put("mv2://empty", "").isDefined)
    assert(g.frames.latestActive.filter(col("uri") === "mv2://empty").count() == 1)
  }

  test("graft facade: near-duplicates, contamination, quality report") {
    import spark.implicits._
    val dir = tempDir("graft-pipeline")
    val g = new Graft(spark, dir)
    g.put("mv2://a", "the quick brown fox jumps over the lazy dog near the river bank")
    g.put("mv2://b", "the quick brown fox jumps over the lazy dog near the river delta")
    g.put("mv2://c", "completely different content about spark query engines and shuffles")

    val dups = g.nearDuplicates(threshold = 0.5).collect()
    assert(dups.length == 1 && dups.head.getDouble(2) >= 0.5)

    val probe = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("pid", "ptext")
    val cont = g.contaminatedBy(probe, "pid", "ptext", minShared = 3).collect()
    assert(cont.length == 2) // both fox docs share >=3 shingles with the probe

    val q = g.qualityReport().collect()
    assert(q.length == 3)
    assert(q.forall(_.getLong(1) > 0))
    assert(q.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0))

    // subsumption: the two fox docs contain each other at high containment
    val sub = g.subsumedDocuments(threshold = 0.5).collect()
    assert(sub.length == 2 && sub.forall(_.getDouble(2) >= 0.5))

    // funnel: ingest row always present, counts monotone
    val fun = g.curationFunnel(minKeptLines = 1).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(fun("ingest") == 3 && fun.size == 4)

    // keywords: every doc gets ranked terms, rank 1 first
    val kw = g.keywords(k = 2).collect()
    assert(kw.nonEmpty && kw.forall(_.getLong(1) >= 1))
  }

  test("doctor reports orphans and dangling cards; repairCards rebuilds from live frames") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-doctor")
    val g = new Graft(spark, dir)
    val bigDoc = (1 to 80).map(i => s"Paragraph $i about spark engines.").mkString(" ")
    val id1 = g.put("mv2://doc/1", bigDoc + " I live in Berlin.").get     // chunks + a card
    g.put("mv2://doc/2", "My name is Alice and I work at Initech.")       // cards only

    val healthy = g.doctor
    assert(healthy("orphan_chunks") == 0L)
    assert(healthy("dangling_cards") == 0L)
    assert(healthy("duplicate_live_uris") == 0L)

    // tombstone the chunked parent -> its chunks orphan; its cards dangle
    // from the LIVE view but still reference a real log id (not dangling)
    g.frames.delete(id1)
    val after = g.doctor
    assert(after("orphan_chunks") > 0L)
    assert(after("dangling_cards") == 0L)

    // rebuild: cards re-derive from live frames only -> doc/1 cards gone
    val n = g.repairCards()
    assert(n > 0L)
    val entities = g.cards.select("slot").collect().map(_.getString(0)).toSet
    assert(entities.contains("name") || entities.contains("employer"))
    assert(g.cards.filter(col("sourceFrameId") === id1).isEmpty) // doc/1 cards gone
  }

  test("doctorRun rebuild_lex_index reproduces the index's OWN analyzer (stemmed stays stemmed)") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-doctor-stem")
    val g = new Graft(spark, dir)
    g.put("mv2://s/1", "running jumps quickly")
    g.put("mv2://s/2", "walked runner jumping")
    // STEMMED persisted index over the live docs
    graft.search.Bm25Index.write(
      g.frames.latestActive.filter(col("role") === "document")
        .select(col("id").as("doc_id"), col("text")),
      "doc_id", "text", "doctor_stem_lex", stemmed = true)
    val stemmedTerms = spark.table("doctor_stem_lex")
      .select("term").collect().map(_.getString(0)).toSet
    assert(stemmedTerms.contains("run") && !stemmedTerms.contains("running"))
    // a late put leaves it stale; the doctor rebuild must stay stemmed
    g.put("mv2://s/3", "sprinting hurdles")
    g.doctorRun(graft.api.Doctor.DoctorOptions(),
      lexTable = Some("doctor_stem_lex"), lexStemmed = true)
    val rebuilt = spark.table("doctor_stem_lex")
      .select("term").collect().map(_.getString(0)).toSet
    assert(rebuilt.contains("sprint") && !rebuilt.contains("sprinting"),
      s"doctor rebuild dropped the stemmed analyzer: $rebuilt")
    assert(rebuilt.contains("run"))
    spark.sql("DROP TABLE IF EXISTS doctor_stem_lex")
  }

  test("repair after a destroyed card index restores memory answers " +
      "(mirrors doctor_rebuild_produces_searchable_index)") {
    val dir = tempDir("graft-rebuild")
    val g = new Graft(spark, dir)
    g.put("mv2://doc/1", "My name is Alice. I work at Initech.")
    assert(g.getCurrent("user", "name").contains("Alice"))

    // destroy the derived card index entirely (the reference's corrupted-
    // index scenario: frames survive, the searchable index does not)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(s"$dir/cards"))
    assert(g.getCurrent("user", "name").isEmpty, "index is gone")

    // doctor-style rebuild re-derives every card from the live frames —
    // the memory answers again without re-ingesting anything
    assert(g.repairCards() > 0L)
    assert(g.getCurrent("user", "name").contains("Alice"))
    assert(g.getCurrent("user", "employer").contains("Initech"))
  }

  test("stats report: empty store yields zeros, lifecycle counts add up") {
    val dir = tempDir("graft-stats")
    val store = new FrameStore(spark, dir)
    val empty = graft.store.StoreStats.report(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(empty.values.forall(_ == 0L), "empty store is all zeros")

    val ids = store.put(Seq(("u/1", "aaaa"), ("u/2", "bbbbbbbb")))
    store.update(ids.head, "aaaa v2", "u/1")
    store.delete(ids(1))
    val m = graft.store.StoreStats.report(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("log_rows") == 4L)
    assert(m("active_frames") == 1L)
    assert(m("payload_bytes") == 7L)           // "aaaa v2"
    assert(m("log_bytes") == 4L + 8L + 7L)     // tombstone stores nothing
    assert(m("reclaimable_bytes") == 12L)
    assert(m("avg_payload") == 7L)
    assert(m("superseded_versions") == 1L)
    assert(m("tombstoned_ids") == 1L)
    // round2 fixed point: 12/19*10000 + .5 floor = 6316
    assert(m("reclaim_pct_e2") == math.floor(12.0 * 10000 / 19 + 0.5).toLong)
  }

  test("updateMany/deleteMany: one commit each, same rows as per-call") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val dir = tempDir("graft-batchmut")
    val store = new FrameStore(spark, dir)
    val ids = store.put(Seq(("b/1", "one"), ("b/2", "two"), ("b/3", "three")))
    val newIds = store.updateMany(Seq(
      (ids(0), "one v2", "b/1"), (ids(1), "two v2", "b/2")))
    assert(newIds.length == 2 && newIds.distinct.length == 2)
    store.deleteMany(Seq(ids(2)))
    // batched mutations share one commitSeq per batch: 3 commits total
    assert(store.log.select(countDistinct(col("commitSeq"))).head.getLong(0) == 3L)
    val live = store.latestActive.select("uri", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(live == Map("b/1" -> "one v2", "b/2" -> "two v2"))
    assert(store.updateMany(Nil).isEmpty) // empty batches are no-ops
    store.deleteMany(Nil)
    assert(store.log.count() == 6L)
  }

  test("stats after vacuum: reclaimable space drops to zero") {
    val dir = tempDir("graft-statsvac")
    val store = new FrameStore(spark, dir)
    val ids = store.put(Seq(("v/1", "aaaa"), ("v/2", "bbbb"), ("v/3", "cc")))
    store.update(ids.head, "aaaa v2", "v/1")
    store.delete(ids(1))
    val before = graft.store.StoreStats.report(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before("reclaimable_bytes") > 0L)
    store.vacuum()
    val after = graft.store.StoreStats.report(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("reclaimable_bytes") == 0L && after("reclaim_pct_e2") == 0L)
    assert(after("active_frames") == before("active_frames"))
    assert(after("payload_bytes") == before("payload_bytes"))
    assert(after("log_rows") == before("active_frames"))
  }

  test("each put commit lands exactly ONE log file (r20 one-file-per-commit)") {
    // appendFrames coalesces the driver-resident batch to one task — a
    // commit is one parquet file (the WAL segment shape); the former
    // defaultParallelism slicing left 4-32 tiny files per commit
    val dir = tmpDir
    val store = new FrameStore(spark, s"$dir/frames")
    def logFiles: Int = Option(new java.io.File(s"$dir/frames").listFiles)
      .map(_.count(f => f.getName.startsWith("part-"))).getOrElse(0)
    store.put(Seq(("mv2://one/1", "alpha beta"), ("mv2://one/2", "gamma"),
      ("mv2://one/3", "delta"), ("mv2://one/4", "epsilon")), ts = ts(1000))
    assert(logFiles == 1, s"first commit: $logFiles files")
    store.put(Seq(("mv2://one/5", "zeta")), ts = ts(2000))
    assert(logFiles == 2, s"second commit: $logFiles files")
    assert(store.latestActive.count() == 5)
  }
}
