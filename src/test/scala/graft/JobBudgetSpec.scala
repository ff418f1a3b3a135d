package graft

import graft.api.Graft

/** Spark-job ceilings for warm serving calls on a small indexed store
  * (lex, sketch and vec attached). A change that adds a job to a warm
  * `search` or `ask` fails here instead of hiding in benchmark noise;
  * a change that removes jobs lowers the ceiling to its new count. */
class JobBudgetSpec extends SparkSpec {

  /** ceilings: the counts measured when each was last lowered */
  private val SearchJobs = 5
  private val AskJobs = 4

  private def jobs(run: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try run finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("warm default search and ask stay within their job budgets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_budget").toString
    val lex = "job_budget_spec_lex"; val skt = "job_budget_spec_sk"
    def drop(): Unit = Seq(lex, skt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    drop()
    try {
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
    } finally drop()
  }
}
