package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.api.Graft
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

/** The generation swap behind vacuum and the cards rebuild: a store
  * reopened from every state a vacuum can stop in reads the state before
  * it or after it, readers planned before a swap keep their files, and a
  * log that was never vacuumed resolves without listing its dir. */
class GenerationsSpec extends graft.SparkSpec with graft.TempStores {

  /** (id, commitSeq, uri, text) rows, sorted */
  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "commitSeq", "uri", "text").collect().map(_.mkString("|")).toSeq.sorted

  private def cardRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** what a reopened store must still answer */
  private final case class View(live: Long, asOf: Seq[String], changes: Seq[String])

  private def view(g: Graft, w: Long): View = View(g.frames.liveCount,
    rows(g.frames.asOf(w)), g.changesSince(w).collect().map(_.mkString("|")).toSeq.sorted)

  /** a store with history: three puts, an update and a delete */
  private def storeWithHistory(root: String): Graft = {
    val g = new Graft(spark, root)
    g.put("mv2://gen/a", "Alpha notes on river sediment.")
    g.put("mv2://gen/b", "Beta notes on harbor tides.")
    val c = g.put("mv2://gen/c", "Gamma notes on orchard pruning.").get
    val a = g.frames.put(Seq(("mv2://gen/d", "Delta notes on kernel latency."))).head
    g.frames.update(a, "Delta notes, revised.", "mv2://gen/d")
    g.frames.delete(c)
    g
  }

  private def seqFile(root: String) = Paths.get(s"$root/frames/_graft_seq")

  /** the (maxId, maxSeq, lastVacuumSeq) record */
  private def seq(root: String): Array[Long] =
    new String(Files.readAllBytes(seqFile(root)), UTF_8).trim.split('\t').map(_.toLong)

  /** overwrite a small file through the store's filesystem (which keeps
    * its checksum in step) */
  private def overwrite(at: String, text: String): Unit = {
    val out = Fs.of(spark, at).create(new Path(at), true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def writeSeq(at: String, r: Seq[Long]): Unit =
    overwrite(at, r.mkString("\t") + "\n")

  private def setPointer(root: String, gen: Int): Unit =
    overwrite(s"$root/frames/CURRENT", s"gen-$gen")

  /** reopen and check the view, that the next put mints above every id
    * ever minted, and that it lands in the live generation */
  private def assertReopensAs(root: String, w: Long, expected: View): Unit = {
    val g = new Graft(spark, root)
    assert(view(g, w) == expected)
    val maxId = seq(root)(0)
    val id = g.put("mv2://gen/next", "A note put after the reopen.").get
    assert(id > maxId, s"id $id minted again (max minted $maxId)")
    assert(new Graft(spark, root).frames.liveCount == expected.live + 1)
  }

  test("a store left between the old vacuum's delete and rename is adopted on open") {
    val root = tempDir("graft-gen-p3")
    val g = storeWithHistory(root)
    val w = g.currentVersion
    val before = view(g, w)
    // what the vacuum that deleted the store dir and then renamed its
    // tmp copy into place left when it stopped between the two: the
    // compacted live view beside the store, its watermark written last
    val frames = s"$root/frames"
    val tmp = s"${frames}_vacuum"
    g.frames.latestActive.write.parquet(tmp)
    val r = seq(root)
    writeSeq(s"$tmp/_graft_seq", Seq(r(0), r(1), r(1)))
    Fs.deleteRecursively(spark, frames)
    assertReopensAs(root, w, before)
    assert(!Files.exists(Paths.get(tmp)))
  }

  test("vacuum: the generation and the seq written but the pointer not swapped reads the old state") {
    val root = tempDir("graft-gen-unswapped")
    val g = storeWithHistory(root)
    g.frames.vacuum()
    g.put("mv2://gen/e", "Epsilon notes on tidal charts.")
    g.frames.delete(g.put("mv2://gen/f", "Phi notes, soon deleted.").get)
    val w = g.currentVersion
    val before = view(g, w)
    val logRows = g.frames.log.count()
    g.frames.vacuum()
    assert(seq(root)(2) == w)
    setPointer(root, 1) // the pointer before the second vacuum's swap
    val reopened = new Graft(spark, root)
    assert(reopened.frames.log.count() == logRows, "the uncompacted generation is live")
    assertReopensAs(root, w, before)
  }

  test("vacuum: a generation's files written before its marker and the pointer read as the old state") {
    val root = tempDir("graft-gen-unmarked")
    val g = storeWithHistory(root)
    val w = g.currentVersion
    val before = view(g, w)
    val logRows = rows(g.frames.log.toDF)
    // gen-1 as the vacuum's write job leaves it before the marker: a
    // reader of the flat generation 0 must not read it, whether it
    // resolved before the seq write or after it
    g.frames.latestActive.write.parquet(s"$root/frames/gen-1")
    assert(rows(new Graft(spark, root).frames.log.toDF) == logRows)
    val r = seq(root)
    writeSeq(s"$root/frames/_graft_seq", Seq(r(0), r(1), r(1)))
    val h = new Graft(spark, root)
    assert(rows(h.frames.log.toDF) == logRows)
    assert(view(h, w) == before)
    assertReopensAs(root, w, before)
    val v = new Graft(spark, root)
    v.frames.vacuum()
    assert(v.frames.log.count() == before.live + 1, "the next vacuum replaces the leftover")
  }

  test("vacuum: a swap torn between the pointer's delete and rename recovers the new generation") {
    val root = tempDir("graft-gen-torn")
    val g = storeWithHistory(root)
    val w = g.currentVersion
    val before = view(g, w)
    g.frames.vacuum()
    // the swap's pointer deleted, its tmp not yet renamed into place
    Files.move(Paths.get(s"$root/frames/CURRENT"), Paths.get(s"$root/frames/CURRENT.tmp"))
    val reopened = new Graft(spark, root)
    assert(reopened.frames.log.count() == before.live, "the compacted generation is live")
    assertReopensAs(root, w, before)
  }

  test("vacuum: the seq rewritten but no generation swapped rebuilds a stale artifact, never appends") {
    val lex = "graft_gen_seq_lex"
    val root = tempDir("graft-gen-seq", lex)
    val g = storeWithHistory(root)
    g.buildLexIndex(lex, stemmed = true)
    g.put("mv2://gen/e", "Epsilon notes on tidal charts.") // append-only delta
    val w = g.currentVersion
    val before = view(g, w)
    // vacuum's first step only: the seq records a vacuum at the watermark
    val r = seq(root)
    writeSeq(s"$root/frames/_graft_seq", Seq(r(0), r(1), r(1)))
    val h = new Graft(spark, root)
    assert(view(h, w) == before)
    h.attachLexIndex(lex, stemmed = true)
    assert(h.refreshLexIndex() == "rebuilt")
    assert(h.search("epsilon").collect().nonEmpty)
    assertReopensAs(root, w, before)
  }

  test("vacuum: the pointer swapped but the older generation not yet collected reads the new state") {
    val root = tempDir("graft-gen-uncollected")
    val g = storeWithHistory(root)
    val frames = Paths.get(s"$root/frames")
    def flatFiles = Files.list(frames).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    val saved = Files.createDirectory(Paths.get(s"$root/saved"))
    flatFiles.foreach(f => Files.copy(f, saved.resolve(f.getFileName)))
    g.frames.vacuum()
    g.put("mv2://gen/e", "Epsilon notes on tidal charts.")
    g.frames.vacuum()
    assert(flatFiles.isEmpty, "the flat generation is collected two swaps on")
    val w = g.currentVersion
    val after = view(g, w)
    // the flat generation 0 as a crash before the collection left it
    Files.list(saved).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .foreach(f => Files.copy(f, frames.resolve(f.getFileName)))
    assert(Files.exists(frames.resolve("gen-1")), "one superseded generation is kept")
    val reopened = new Graft(spark, root)
    assert(reopened.frames.log.count() == after.live, "only the live generation is read")
    assertReopensAs(root, w, after)
  }

  test("a latestActive planned before another handle's vacuum collects the same rows after it") {
    val root = tempDir("graft-gen-reader")
    val g = storeWithHistory(root)
    val reader = new FrameStore(spark, s"$root/frames")
    (1 to 2).foreach { round =>
      val planned = reader.latestActive
      val expected = rows(planned)
      g.frames.vacuum()
      assert(rows(planned) == expected, s"vacuum $round")
      g.put(s"mv2://gen/r$round", s"Round $round notes on river charts.")
    }
  }

  test("cards planned before another handle's repairCards collect the same rows after it") {
    val root = tempDir("graft-gen-cards")
    val g = new Graft(spark, root)
    g.put("mv2://gen/p1", "My name is Alice. I work at Initech.")
    g.put("mv2://gen/p2", "Bob lives in Paris.")
    val reader = new Graft(spark, root)
    (1 to 2).foreach { round =>
      val planned = reader.cards
      val expected = cardRows(planned)
      assert(expected.nonEmpty)
      assert(g.repairCards() > 0L)
      assert(cardRows(planned) == expected, s"repair $round")
      assert(reader.getCurrent("user", "name").contains("Alice"))
    }
  }

  test("cards: a rebuild's files written before its marker and the pointer read as the old table") {
    val root = tempDir("graft-gen-cards-unmarked")
    val g = new Graft(spark, root)
    g.put("mv2://gen/p1", "My name is Alice. I work at Initech.")
    g.put("mv2://gen/p2", "Bob lives in Paris.")
    val before = cardRows(g.cards)
    assert(before.nonEmpty)
    g.cards.write.parquet(s"$root/cards/gen-1") // the rebuild's job output, unmarked
    val h = new Graft(spark, root)
    assert(cardRows(h.cards) == before)
    assert(h.getCurrent("user", "name").contains("Alice"))
    val n = h.repairCards()
    assert(h.cards.count() == n, "the rebuild replaces the leftover")
  }

  test("resolving a log that was never vacuumed lists no directory and runs no Spark job") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.listcount.impl", classOf[GenerationsSpec.ListCountingFs].getName)
    conf.setBoolean("fs.listcount.impl.disable.cache", true)
    val root = tempDir("graft-gen-resolve")
    val store = new FrameStore(spark, s"listcount://$root/frames")
    store.put(Seq(("mv2://gen/a", "Alpha notes."), ("mv2://gen/b", "Beta notes.")))
    val sc = spark.sparkContext
    val group = s"gen-resolve-${java.util.UUID.randomUUID}"
    GenerationsSpec.lists.set(0)
    sc.setJobGroup(group, group)
    val dir = try store.liveDir finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    assert(dir == s"listcount://$root/frames")
    assert(GenerationsSpec.lists.get == 0, "the store dir was listed")
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
    // nor does one whose seq records a vacuum that left no pointer (the
    // old flat vacuum, or a first vacuum stopped before its swap)
    val r = new String(Files.readAllBytes(Paths.get(s"$root/frames/_graft_seq")), UTF_8)
      .trim.split('\t').map(_.toLong)
    writeSeq(s"$root/frames/_graft_seq", Seq(r(0), r(1), r(1)))
    GenerationsSpec.lists.set(0)
    assert(store.liveDir == s"listcount://$root/frames")
    assert(GenerationsSpec.lists.get == 0, "the store dir was listed")
    // a vacuumed log still resolves through the pointer, no listing
    store.vacuum()
    GenerationsSpec.lists.set(0)
    assert(store.liveDir == s"listcount://$root/frames/gen-1")
    assert(GenerationsSpec.lists.get == 0)
    assert(store.liveCount == 2L)
  }

  test("resolving a cards table that was never rebuilt lists no directory") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.listcount.impl", classOf[GenerationsSpec.ListCountingFs].getName)
    conf.setBoolean("fs.listcount.impl.disable.cache", true)
    val root = tempDir("graft-gen-cards-resolve")
    val g = new Graft(spark, root)
    g.put("mv2://gen/p1", "My name is Alice. I work at Initech.")
    val h = new Graft(spark, s"listcount://$root")
    GenerationsSpec.lists.set(0)
    assert(h.cardsDir == s"listcount://$root/cards")
    assert(GenerationsSpec.lists.get == 0, "the cards dir was listed")
    g.repairCards()
    GenerationsSpec.lists.set(0)
    assert(h.cardsDir == s"listcount://$root/cards/gen-1")
    assert(GenerationsSpec.lists.get == 0)
  }
}

object GenerationsSpec {
  val lists = new java.util.concurrent.atomic.AtomicInteger

  /** the local filesystem under the `listcount:` scheme, counting listings */
  class ListCountingFs extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("listcount:///")
    override def listStatus(p: Path): Array[FileStatus] = {
      lists.incrementAndGet()
      super.listStatus(p)
    }
  }
}
