package graft

import graft.api.Graft

/** Spark-job ceilings for warm serving calls and for an own-commit put
  * with its catch-up, on a small indexed store (lex, sketch and vec
  * attached). A change that adds a job fails here instead of hiding in
  * benchmark noise; a change that removes jobs lowers the ceiling to its
  * new count. */
class JobBudgetSpec extends SparkSpec with TempStores {

  /** ceilings: the counts measured when each was last lowered */
  private val SearchJobs = 5
  private val AskJobs = 16
  /** a put plus the lex, sketch and vec catch-up from its held rows */
  private val PutRefreshJobs = 7

  /** the jobs `run` starts, counted by the caller's job group and by a
    * listener that sees every job: the two agree, so no job of the call
    * escapes the group */
  private def jobs(run: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try run finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    val byGroup = sc.statusTracker.getJobIdsForGroup(group).length
    assert(byGroup == started.get,
      s"$byGroup jobs in the caller's group, ${started.get} started")
    byGroup
  }

  private val lex = "job_budget_spec_lex"
  private val skt = "job_budget_spec_sk"

  /** a 60-doc, four-track store with all three artifacts built */
  private def withStore(body: (Graft, String) => Unit): Unit = {
    val dir = tempDir("graft_job_budget", lex, skt)
    val g = new Graft(spark, dir)
    val topics = Seq("river delta sediment", "orchard pruning season",
      "kernel scheduler latency", "harbor tide charts")
    topics.zipWithIndex.foreach { case (t, k) =>
      g.frames.put((0 until 15).map(i =>
        (s"mv2://budget/$k/$i", s"note $i on $t with detail word$i and track$k")),
        track = Some(s"track$k"))
    }
    g.buildLexIndex(lex, stemmed = true, partitionByTrack = true)
    g.buildSketchTable(skt)
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 2)
    body(g, dir)
  }

  /** a note whose fact sentence mints a memory card, as an agent's is */
  private def note(i: Int) = s"Budget note $i on harbor tides. Ada Lovelace works at Acme$i."

  test("warm default search and ask stay within their job budgets") {
    withStore { (g, _) =>
      val q = "river sediment"
      val question = "what do the notes say about orchard pruning?"
      // warm: the first calls on this watermark fill the serving caches
      (1 to 2).foreach { _ =>
        g.search(q).collect(): Unit
        g.ask(question): Unit
      }
      val search = jobs(g.search(q).collect(): Unit)
      assert(g.lastSearchRoute == "indexed" && g.lastSketchApplied)
      val ask = jobs(g.ask(question): Unit)
      assert(g.lastAskLexRoute == "indexed" && g.lastAskVecRoute == "indexed")
      info(s"warm search: $search jobs, warm ask: $ask jobs")
      assert(search <= SearchJobs, s"warm search ran $search jobs (budget $SearchJobs)")
      assert(ask <= AskJobs, s"warm ask ran $ask jobs (budget $AskJobs)")
    }
  }

  test("an own-commit put and its three refreshes stay within their job budget") {
    withStore { (g, _) =>
      g.put("mv2://budget/warm", note(0)) // fills the put's dedup-hash cache
      Seq(g.refreshLexIndex(), g.refreshSketchTable(), g.refreshVecIndex())
      val explicit = jobs {
        g.put("mv2://budget/explicit", note(1), track = Some("track1"))
        assert(Seq(g.refreshLexIndex(), g.refreshSketchTable(), g.refreshVecIndex())
          == Seq("appended", "appended", "appended"))
      }
      info(s"put + three refreshes: $explicit jobs")
      assert(explicit <= PutRefreshJobs,
        s"put + refreshes ran $explicit jobs (budget $PutRefreshJobs)")
    }
  }

  test("a put on an autoRefreshIndexes handle stays within the same budget") {
    withStore { (_, dir) =>
      val g = new Graft(spark, dir, autoRefreshIndexes = true)
      g.attachLexIndex(lex, stemmed = true)
      g.attachSketchTable(skt)
      g.attachVecIndex(s"$dir/vec", nprobe = 2)
      g.put("mv2://budget/warm", note(0)) // fills the put's dedup-hash cache
      val auto = jobs(g.put("mv2://budget/auto", note(1), track = Some("track2")): Unit)
      info(s"auto-refreshing put: $auto jobs")
      assert(auto <= PutRefreshJobs, s"put ran $auto jobs (budget $PutRefreshJobs)")
      g.search("harbor tides").collect(): Unit
      assert(g.lastSearchRoute == "indexed")
    }
  }
}
