package graft

import graft.replay.Replay

/** ST6 recording lifecycle (reference replay_ops.rs:24-210). */
class RecorderSpec extends SparkSpec with TempStores {

  test("one active session at a time; end requires an active session") {
    val rec = new Replay.Recorder()
    assert(!rec.isRecording)
    val id = rec.startSession("a")
    assert(rec.isRecording && rec.activeSessionId.contains(id))
    intercept[IllegalArgumentException](rec.startSession("b"))
    rec.endSession()
    assert(!rec.isRecording)
    intercept[IllegalStateException](rec.endSession())
    intercept[IllegalStateException](rec.createCheckpoint(0L, 0L))
  }

  test("auto-checkpoint: the checkpoint action counts toward the next interval") {
    val rec = new Replay.Recorder()
    rec.startSession("ingest", autoCheckpointInterval = 3)
    (0 until 7).foreach(i => rec.recordPut(i.toLong, i + 1L, i.toLong))
    val s = rec.endSession()
    // puts at seq 0,1,2 -> cp action seq 3 (counts toward next interval),
    // puts 4,5 -> cp 6, puts 7,8 -> cp 9: every 2 puts after the first 3
    assert(s.actionCount == 10) // 7 puts + 3 checkpoints
    assert(s.checkpointCount == 3)
    val cps = rec.checkpointsDF(spark).collect()
      .map(r => (r.getAs[Long]("checkpointId"), r.getAs[Long]("atSequence")))
      .sortBy(_._1)
    assert(cps.toSeq == Seq((0L, 2L), (1L, 5L), (2L, 8L)))
  }

  test("record is a no-op with no active session; recording resumes cleanly") {
    val rec = new Replay.Recorder()
    rec.recordPut(9L, 1L, 0L) // reference record_* guards on active_session
    rec.recordFind("q", "lex", Seq(1L))
    val id1 = rec.startSession("s1")
    rec.recordFind("q", "lex", Seq(1L, 2L))
    rec.endSession()
    val id2 = rec.startSession("s2")
    assert(id1 != id2)
    rec.recordAsk("q", "p", "m", 10L, Seq.empty)
    val s2 = rec.endSession()
    assert(s2.actionCount == 1)
    assert(rec.listSessions.map(_.actionCount) == Seq(1L, 1L))
  }

  test("facade auto-records put/find/ask while a session is active (replay_ops wiring)") {
    val dir = tempDir("graft-rec-api")
    val g = new graft.api.Graft(spark, dir)
    g.put("mv2://pre/0", "before recording - never recorded")
    assert(!g.isRecording)
    g.startSession("agent-run", autoCheckpointInterval = 2)
    g.put("mv2://a/1", "spark merges batches quickly")
    g.put("mv2://a/2", "joins shuffle on their keys")
    // 2 puts -> auto-checkpoint fires with REAL snapshot values
    g.search("spark")
    g.ask("how do spark joins work?")
    val s = g.endSession()
    assert(s.actionCount == 5) // 2 puts + 1 checkpoint + find + ask
    assert(s.checkpointCount == 1)
    val acts = g.recorder.actionsDF(spark).collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[String]("actionType")))
      .sortBy(_._1)
    assert(acts.map(_._2).toSeq ==
      Seq("put", "put", "checkpoint", "find", "ask"))
    val cp = g.recorder.checkpointsDF(spark).head
    assert(cp.getAs[Long]("frameCount") == 3L) // pre-put + 2 recorded
    assert(cp.getAs[Long]("walSequence") >= 1L)
    // find recorded the real hit list; ask the real citation list
    val find = g.recorder.actionsDF(spark)
      .filter(org.apache.spark.sql.functions.col("actionType") === "find").head
    assert(find.getAs[String]("input") == "lex:spark")
    assert(find.getAs[Int]("affectedCount") >= 1)
  }

  test("injected clock: created/ended/duration and per-action ts are exact") {
    val rec = new Replay.Recorder()
    rec.startSession("s") // tick 1
    rec.recordFind("a", "lex", Seq.empty) // tick 2
    rec.recordFind("b", "lex", Seq.empty) // tick 3
    val s = rec.endSession() // tick 4
    assert(s.createdSecs == 1 && s.endedSecs == 4 && s.durationSecs == 3)
    val ts = rec.actionsDF(spark).collect()
      .map(r => r.getAs[Long]("tsSecs")).sorted
    assert(ts.toSeq == Seq(2L, 3L))
  }
}
