package graft.api

import graft.SparkSpec
import graft.vector.{IvfIndex, VectorSearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The serving artifacts' catch-up from this handle's own last put: the
  * held rows replace the log classification scan and the log re-read
  * ([[graft.store.FrameStore.ownDelta]]). After any catch-up, hit or miss,
  * each artifact must hold the rows a full rebuild over the same store
  * holds — postings, sketch rows, and IVF assignments under the index's
  * own centroids. */
class OwnCommitRefreshSpec extends SparkSpec with graft.TempStores {

  private val lex = "own_commit_spec_lex"
  private val skt = "own_commit_spec_sk"
  private val refLex = "own_commit_spec_ref_lex"
  private val refSkt = "own_commit_spec_ref_sk"

  /** a two-track store with a stemmed, track-partitioned postings table,
    * the sketch table and the IVF index attached */
  private def withStore(body: (Graft, String) => Unit): Unit = {
    val dir = tempDir("graft_own_commit", lex, skt, refLex, refSkt)
    val g = new Graft(spark, dir)
    Seq("river delta sediment", "kernel scheduler latency").zipWithIndex.foreach {
      case (t, k) => g.frames.put((0 until 10).map(i =>
        (s"mv2://own/$k/$i", s"note $i on $t with word$i")), track = Some(s"track$k"))
    }
    g.buildLexIndex(lex, stemmed = true, partitionByTrack = true)
    g.buildSketchTable(skt)
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    body(g, dir)
  }

  /** over 1200 characters: the put writes a document and its chunks */
  private val longDoc = (0 until 40).map(i =>
    s"Paragraph $i covers harbor tide charts and river sediment, entry $i.")
    .mkString("\n\n")

  private def jobs(run: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"own-commit-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try run finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def refreshAll(g: Graft): Seq[String] =
    Seq(g.refreshLexIndex(), g.refreshSketchTable(), g.refreshVecIndex())

  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    val cols = got.columns.sorted.toSeq
    assert(want.columns.sorted.toSeq == cols, s"$what columns")
    val (a, b) = (got.select(cols.map(col): _*), want.select(cols.map(col): _*))
    assert(a.count() > 0, s"$what is empty")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what differs from a full rebuild")
  }

  /** every artifact, as a multiset, equals a full rebuild over the store.
    * Sketch rows of dead versions stay in the table by design (they are
    * inert: serving joins the sketch to the live ids), so the sketch
    * compares its live rows. */
  private def assertMatchesRebuild(g: Graft, dir: String): Unit = {
    val ref = new Graft(spark, dir)
    ref.buildLexIndex(refLex, stemmed = true, partitionByTrack = true)
    ref.buildSketchTable(refSkt)
    assertSameRows("postings", spark.table(lex), spark.table(refLex))
    val live = g.frames.latestActive.select(col("id").as("doc_id"))
    assertSameRows("sketch rows", spark.table(skt).join(live, Seq("doc_id"), "left_semi"),
      spark.table(refSkt))
    val h = IvfIndex.read(spark, s"$dir/vec")
    val emb = g.embeddingsTable
    val want =
      if (h.floatKernel) VectorSearch.assignClusters(emb, "vector",
        h.centroids.map { case (cid, c) => (cid, c.map(_.toFloat)) })
      else VectorSearch.assignClustersD(emb, "vector", h.centroids)
    assertSameRows("IVF assignments", h.assigned.select("id", "cluster"),
      want.select("id", "cluster"))
  }

  test("own put: each refresh serves the held rows and matches a full rebuild") {
    withStore { (g, dir) =>
      val pre = g.currentVersion
      val id = g.put("mv2://own/long", longDoc, track = Some("track1")).get
      assert(g.frames.latestActive.filter(col("parentId") === id).count() > 1)
      assert(g.frames.ownDelta(pre, g.currentVersion).exists(_.size > 2))
      val lexJobs = jobs(assert(g.refreshLexIndex() == "appended"))
      val sketchJobs = jobs(assert(g.refreshSketchTable() == "appended"))
      val vecJobs = jobs(assert(g.refreshVecIndex() == "appended"))
      info(s"lex $lexJobs, sketch $sketchJobs, vec $vecJobs jobs")
      // the log path runs the classification scans, the log re-read and
      // the vec leg's UDF pass on top of the appends
      assert(lexJobs <= 2 && sketchJobs <= 1 && vecJobs <= 2)
      assertMatchesRebuild(g, dir)
      g.search("harbor tide charts").collect(): Unit
      assert(g.lastSearchRoute == "indexed")
    }
  }

  test("a second handle's put between own put and refresh misses, still exact") {
    withStore { (g, dir) =>
      val pre = g.currentVersion
      g.put("mv2://own/a", longDoc, track = Some("track0"))
      new Graft(spark, dir).put("mv2://other/b", "foreign note on harbor tides",
        track = Some("track1"))
      assert(g.frames.ownDelta(pre, g.currentVersion).isEmpty)
      assert(refreshAll(g) == Seq("appended", "appended", "appended"))
      assertMatchesRebuild(g, dir)
    }
  }

  test("two own puts before one refresh miss, still exact") {
    withStore { (g, dir) =>
      val pre = g.currentVersion
      g.put("mv2://own/a", "first new note on harbor tides", track = Some("track0"))
      g.put("mv2://own/b", longDoc, track = Some("track1"))
      assert(g.frames.ownDelta(pre, g.currentVersion).isEmpty)
      assert(refreshAll(g) == Seq("appended", "appended", "appended"))
      assertMatchesRebuild(g, dir)
    }
  }

  test("an own update or delete after the put misses and rebuilds") {
    Seq("update", "delete").foreach { op =>
      withStore { (g, dir) =>
        val pre = g.currentVersion
        val id = g.put("mv2://own/a", longDoc, track = Some("track0")).get
        if (op == "update") g.update(id, "rewritten note on kernel latency", "mv2://own/a")
        else g.delete(id)
        assert(g.frames.ownDelta(pre, g.currentVersion).isEmpty, op)
        // the sketch refresh always appends: dead versions' rows are inert
        assert(refreshAll(g) == Seq("rebuilt", "appended", "rebuilt"), op)
        assertMatchesRebuild(g, dir)
      }
    }
  }

  test("a torn refresh marker rebuilds even when the put's rows are held") {
    withStore { (g, dir) =>
      val pre = g.currentVersion
      g.put("mv2://own/a", longDoc, track = Some("track0"))
      assert(g.frames.ownDelta(pre, g.currentVersion).isDefined)
      Seq(lex, skt).foreach(t => spark.sql(
        s"ALTER TABLE `$t` SET TBLPROPERTIES ('graft.refresh.pending' = '1')"))
      val vecPending = new org.apache.hadoop.fs.Path(s"$dir/vec/_GRAFT_REFRESH_PENDING")
      vecPending.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(vecPending, true).close()
      assert(refreshAll(g) == Seq("rebuilt", "rebuilt", "rebuilt"))
      assertMatchesRebuild(g, dir)
    }
  }

  test("a vacuum after the put misses: lex and vec rebuild, sketch appends") {
    withStore { (g, dir) =>
      val pre = g.currentVersion
      g.put("mv2://own/a", longDoc, track = Some("track0"))
      g.vacuum()
      assert(g.frames.ownDelta(pre, g.currentVersion).isEmpty)
      assert(refreshAll(g) == Seq("rebuilt", "appended", "rebuilt"))
      assertMatchesRebuild(g, dir)
    }
  }
}
