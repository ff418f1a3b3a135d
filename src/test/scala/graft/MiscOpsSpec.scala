package graft

import graft.replay.Replay
import graft.text.LangId
import graft.vector.ProductQuantizer
import org.apache.spark.sql.functions._

class MiscOpsSpec extends SparkSpec with TempStores {
  import spark.implicits._

  test("langid: stopword profiles and cjk detection") {
    assert(LangId.detect("the cat and the dog went to the market")._1 == "en")
    assert(LangId.detect("el perro y la casa de los vecinos que ladra")._1 == "es")
    assert(LangId.detect("der Hund und die Katze von dem Haus mit der Maus")._1 == "de")
    assert(LangId.detect("le chien et les chats des voisins dans une maison")._1 == "fr")
    assert(LangId.detect("你好世界这是中文文本测试内容")._1 == "zh")
    assert(LangId.detect("xyzzy plugh 12345")._1 == "unknown")
  }

  test("replay: record, replay with match_rate, compare sessions") {
    val dir = tempDir("graft-replay")
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    base.createOrReplaceTempView("replay_base")
    def exec(input: String) = spark.sql(input)
    val q1 = "SELECT * FROM replay_base WHERE id > 1"
    val q2 = "SELECT count(*) AS n FROM replay_base"
    val actions = Seq(
      Replay.Action("s1", 1, "find", q1, Replay.resultHash(exec(q1)), Seq(2L, 3L), 1000L),
      Replay.Action("s1", 2, "stats", q2, Replay.resultHash(exec(q2)), Seq.empty, 2000L))
    Replay.record(spark, dir, actions)
    val (cmp, rate) = Replay.replayAndCompare(spark, Replay.load(spark, dir), "s1", exec)
    assert(rate == 1.0)
    assert(cmp.filter(col("matched")).count() == 2)
    // mutate the base → replay detects divergence
    Seq((4L, "d")).toDF("id", "v").union(base).createOrReplaceTempView("replay_base")
    val (_, rate2) = Replay.replayAndCompare(spark, Replay.load(spark, dir), "s1", exec)
    assert(rate2 < 1.0)
    // compareSessions flags hash mismatches
    val recA = Replay.load(spark, dir)
    val recB = recA.withColumn("outputHash",
      when(col("seq") === 2, lit("different")).otherwise(col("outputHash")))
    val diff = Replay.compareSessions(recA, recB)
    assert(diff.filter(!col("matched")).count() == 1)
  }

  test("compareSessionsDetailed: every classification + per-mille rate summary") {
    def act(sid: String, seq: Long, tp: String, in: String, h: String) =
      Replay.Action(sid, seq, tp, in, h, Seq.empty, 0L)
    val a = Seq(act("a", 0, "find", "x", "h0"), act("a", 1, "find", "y", "h1"),
      act("a", 2, "find", "z", "h2"), act("a", 3, "ask", "w", "h3")).toDF()
    val b = Seq(act("b", 0, "find", "x", "h0"),          // matches
      act("b", 1, "find", "y", "DIFFERENT"),             // differs (hash)
      act("b", 2, "stats", "z", "h2"),                   // type_differs
      act("b", 4, "find", "extra", "h4")).toDF()         // only_in_b; seq 3 only_in_a
    val out = Replay.compareSessionsDetailed(a, b)
      .select("seq", "status", "n_matching", "n_differing", "n_only_a",
        "n_only_b", "rate_a_pm", "rate_b_pm", "rate_delta_pm")
      .orderBy("seq").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toSeq == Seq(
      0L -> "matches", 1L -> "differs", 2L -> "type_differs",
      3L -> "only_in_a", 4L -> "only_in_b"))
    val r0 = out.head
    assert((r0.getLong(2), r0.getLong(3), r0.getLong(4), r0.getLong(5)) == ((1L, 2L, 1L, 1L)))
    // 1 match of 4 actions per session → 250 pm each, delta 0
    assert((r0.getLong(6), r0.getLong(7), r0.getLong(8)) == ((250L, 250L, 0L)))
    // an empty side classifies everything only_in_a and divides safely
    val empty = spark.emptyDataset[Replay.Action].toDF()
    val onlyA = Replay.compareSessionsDetailed(a, empty).collect()
    assert(onlyA.length == 4 && onlyA.forall(_.getAs[String]("status") == "only_in_a"))
    assert(onlyA.forall(_.getAs[Long]("rate_b_pm") == 0L))
  }

  test("product quantizer: asymmetric distance approximates L2, exact on centroids") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    // clustered data (PQ's operating regime): 10 centers + small noise
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextFloat() * 10))
    val vecs = Array.tabulate(200) { i =>
      val c = centers(i % 10)
      c.map(x => x + rnd.nextFloat() * 0.5f)
    }
    val pq = new ProductQuantizer(numSubspaces = 4, numCentroids = 8)
    val model = pq.train(vecs)
    assert(model.codebooks.length == 4 && model.codebooks.head.length == 8)
    val df = vecs.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val encoded = pq.encode(df, "vec", model)
    assert(encoded.select("pq_codes").head.getSeq[Int](0).length == 4)
    // PQ top-10 should overlap substantially with exact top-10
    val query = vecs(0)
    val pqTop = pq.search(encoded, "id", query, model, 10)
      .collect().map(_.getLong(0)).toSet
    graft.functions.F.ensureRegistered(spark)
    val exactTop = df.withColumn("d", graft.functions.F.l2Distance(col("vec"), typedlit(query)))
      .orderBy(col("d"), col("id")).limit(10).collect().map(_.getLong(0)).toSet
    assert((pqTop & exactTop).size >= 5, s"overlap too low: ${(pqTop & exactTop).size}")
    // the query itself (a training point) must rank first
    assert(pq.search(encoded, "id", query, model, 1).head.getLong(0) == 0L)
  }

  test("parser properties: words round-trip, AND/OR associativity shape") {
    import graft.search.{QExpr, QueryParser}
    val rnd = new scala.util.Random(42)
    def word(): String = {
      var w = ""
      while (w.isEmpty || Set("and", "or", "not").contains(w))
        w = (1 to (1 + rnd.nextInt(7))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      w
    }
    for (_ <- 1 to 200) {
      // implicit adjacency: N words parse to nested ANDs preserving order
      val ws = (1 to (1 + rnd.nextInt(5))).map(_ => word())
      assert(QExpr.words(QueryParser.parse(ws.mkString(" "))) == ws)
    }
    for (_ <- 1 to 200) {
      val (a, b, c) = (word(), word(), word())
      assert(QueryParser.parse(s"$a OR $b OR $c") ==
        QueryParser.parse(s"($a OR $b) OR $c"))
      assert(QueryParser.parse(s"$a $b AND $c") ==
        QueryParser.parse(s"($a $b) AND $c"))
      assert(QueryParser.parse(s"NOT $a") == QExpr.Not(QExpr.Word(a)))
    }
  }

  test("replayFrom: checkpoint bounds the range, skips and mismatches " +
      "counted per the reference") {
    import graft.replay.Replay
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    def run(t: String) = docs.filter(col("text").contains(t)).select(col("doc_id"))
    def h(t: String) = Replay.resultHash(run(t))
    val acts = Seq(
      Replay.Action("s", 0L, "search", "alpha", h("alpha"), Nil, 0L),
      Replay.Action("s", 1L, "search", "beta", h("beta"), Nil, 0L),
      Replay.Action("s", 2L, "put", "x", "n/a", Nil, 0L),
      Replay.Action("s", 3L, "search", "gamma", "wrong", Nil, 0L))
    val out = Replay.replayFrom(spark, spark.createDataset(acts).toDF(), "s",
      fromSeq = Some(1L), exec = run, skipTypes = Set("put")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // seq 0 restored
    assert(out.map(_.getString(3)).toSeq ==
      Seq("matched", "skipped", "mismatched"))
    val r = out.head
    assert((r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)) ==
      ((3L, 1L, 1L, 1L)))
    // no checkpoint: the whole session replays
    assert(Replay.replayFrom(spark, spark.createDataset(acts).toDF(), "s",
      None, run, Set("put")).count() == 4)
  }
}
