package graft.api

/** A dry run's verify reuses the plan's probe counters only while nothing
  * the probe reads has moved: not the watermark, and not an artifact's
  * stamp, which another handle's refresh moves on its own. */
class DoctorDryRunSpec extends graft.SparkSpec with graft.TempStores {

  test("a dry run re-probes when another handle refreshes the lex index between plan and verify") {
    val lex = "doctor_dry_run_spec_lex"
    val dir = tempDir("graft_doctor_dry", lex)
    val g = new Graft(spark, dir)
    (0 until 6).foreach(i => g.put(s"mv2://dry/$i", s"note $i on river sediment and word$i"))
    g.buildLexIndex(lex, stemmed = true)
    g.put("mv2://dry/late", "a late note on harbor tides") // the index is now one doc behind
    val other = new Graft(spark, dir)
    other.attachLexIndex(lex, stemmed = true)
    val opts = Doctor.DoctorOptions(dryRun = true)
    val plan = Doctor.planWithProbe(g, opts, Some(lex), None, "vec_id", "embedding")
    assert(plan._2("lex_index_stale") == 1L)
    assert(other.refreshLexIndex() == "appended") // the watermark does not move
    val report = Doctor.runPlanned(g, opts, plan, Some(lex), None,
      lexStemmed = true, "vec_id", "embedding")
    val post = report.rows.filter(_.rowType == "post_verify")
      .map(r => r.name -> r.detailN).toMap
    assert(post("lex_index_stale") == 0L, "the verify reused the plan's stale count")
    // with nothing moved, the verify is the plan's probe
    val again = Doctor.run(g, opts, lexTable = Some(lex), lexStemmed = true)
    assert(again.rows.filter(_.rowType == "post_verify")
      .exists(r => r.name == "lex_index_stale" && r.detailN == 0L))
  }

  test("a dry run re-probes when another handle rebuilds the cards between plan and verify") {
    val dir = tempDir("graft_doctor_dry_cards")
    val g = new Graft(spark, dir)
    val alice = g.put("mv2://dry/alice", "My name is Alice. I work at Initech.").get
    g.put("mv2://dry/bob", "Bob lives in Paris.")
    g.delete(alice)
    g.frames.vacuum() // Alice's frames are purged: her cards now dangle
    val opts = Doctor.DoctorOptions(dryRun = true)
    val plan = Doctor.planWithProbe(g, opts, None, None, "vec_id", "embedding")
    assert(plan._2("dangling_cards") > 0L)
    new Graft(spark, dir).repairCards() // the watermark does not move
    val report = Doctor.runPlanned(g, opts, plan, None, None,
      lexStemmed = true, "vec_id", "embedding")
    val post = report.rows.filter(_.rowType == "post_verify")
      .map(r => r.name -> r.detailN).toMap
    assert(post("dangling_cards") == 0L, "the verify reused the plan's stale count")
  }
}
