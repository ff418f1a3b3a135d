package graft

import graft.graph.GraphAlgos
import graft.ops.{Funnel, Sketches}
import graft.pipeline.Curation
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec with TempStores {
  import spark.implicits._

  // ---- PageRank ----

  test("pageRank: uniform ranks on a symmetric cycle, mass conserved") {
    // 4-cycle (symmetrized): perfectly regular, so every node keeps the
    // same rank at every iteration
    val dir = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val sym = dir.union(dir.select($"dst".as("src"), $"src".as("dst")))
    val r = GraphAlgos.pageRank(sym, iterations = 3).collect()
    assert(r.length == 4)
    val ranks = r.map(_.getLong(1)).toSet
    assert(ranks.size == 1, s"regular graph must stay uniform, got $ranks")
    // teleport + 85% of uniform contribution ≈ scale/n (integer-rounded)
    assert(math.abs(ranks.head - 250000000000L) < 10)
  }

  test("pageRank: hub outranks spokes on a star") {
    // star: spokes 2..6 ↔ hub 1 (symmetric)
    val dir = (2L to 6L).map(v => (v, 1L)).toDF("src", "dst")
    val sym = dir.union(dir.select($"dst".as("src"), $"src".as("dst")))
    val r = GraphAlgos.pageRank(sym, iterations = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > r(2L) * 3, s"hub must dominate: $r")
    assert((2L to 6L).map(r).toSet.size == 1, "spokes are symmetric")
  }

  test("weighted pageRank shifts rank toward the heavy edge") {
    // triangle a-b-c, symmetric; edge a-b carries 10x the weight of the
    // others, so b (a's dominant neighbor) must outrank c
    val dir = Seq((1L, 2L, 10L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val sym = dir.union(dir.select($"dst".as("src"), $"src".as("dst"), $"w"))
    val r = GraphAlgos.pageRank(sym, 3, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > r(3L), s"heavy-edge endpoint must outrank: $r")
    // unweighted on the same shape is symmetric between b and c
    val u = GraphAlgos.pageRank(sym.drop("w"), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(u(2L) == u(3L), s"unweighted b and c are symmetric: $u")
  }

  test("pageRank: empty edge set yields an empty result, not a crash") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphAlgos.pageRank(none, 3).count() == 0)
  }

  test("pageRank is deterministic across partitionings") {
    val dir = (1 to 60).map(i => (i.toLong, (i * 7 % 60 + 1).toLong))
      .toDF("src", "dst")
    val sym = dir.union(dir.select($"dst".as("src"), $"src".as("dst")))
    val a = GraphAlgos.pageRank(sym.repartition(1), 3)
      .orderBy("node").collect().toSeq
    val b = GraphAlgos.pageRank(sym.repartition(13), 3)
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  // ---- triangle counting ----

  test("triangleCounts: K4 has 4 triangles, 3 per node") {
    val nodes = 1L to 4L
    val edges = (for (a <- nodes; b <- nodes if a < b) yield (a, b))
      .toDF("src", "dst")
    val r = GraphAlgos.triangleCounts(edges)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == nodes.map(_ -> 3L).toMap)
  }

  test("triangleCounts: square has none; direction and dupes ignored") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (2L, 1L), (1L, 2L), (3L, 3L)).toDF("src", "dst")
    assert(GraphAlgos.triangleCounts(square).count() == 0)
    // closing one diagonal makes two triangles sharing that diagonal
    val closed = square.union(Seq((1L, 3L)).toDF("src", "dst"))
    val r = GraphAlgos.triangleCounts(closed)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 3L -> 2L, 2L -> 1L, 4L -> 1L))
  }

  // ---- KMV sketch ----

  test("kmvDistinct: exact below k, estimate within 25% above k") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "big" else "small",
      if (i % 2 == 0) i.toLong else (i % 60).toLong)).toDF("g", "id")
    val r = Sketches.kmvDistinct(df, "g", "id", k = 64)
      .collect().map(x => (x.getString(0), x.getLong(3), x.getLong(4))).toList
    val small = r.find(_._1 == "small").get
    assert(small._2 == small._3, "below k the sketch is exact")
    val big = r.find(_._1 == "big").get
    assert(big._3 == 1000L)
    assert(math.abs(big._2 - 1000L) < 250, s"estimate off: $big")
  }

  test("kmvDistinct: two-stage prune returns the true k minima") {
    val df = (1L to 500L).map(("g", _)).toDF("g", "id").repartition(7)
    val kth = Sketches.kmvDistinct(df, "g", "id", k = 16)
      .collect().head.getLong(2)
    val expected = (1L to 500L)
      .map(i => (i * Curation.KnuthMult) % Curation.HashMod)
      .sorted.apply(15)
    assert(kth == expected)
  }

  // ---- neighbor Jaccard ----

  test("neighborJaccard: path endpoints share their middle; K3 pairs share one") {
    // path 1-2-3: N(1)={2}, N(3)={2} → jaccard(1,3) = 1/1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = GraphAlgos.neighborJaccard(path)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(3)).toMap
    assert(r == Map((1L, 3L) -> 1000000L))
    // triangle: N(1)={2,3}, N(2)={1,3} → common {3}, union size 3 → 1/3
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val t = GraphAlgos.neighborJaccard(k3)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(3)).toMap
    assert(t == Map((1L, 2L) -> 333333L, (1L, 3L) -> 333333L, (2L, 3L) -> 333333L))
  }

  test("neighborJaccard: hub cap bounds wedge fan-out; exact when non-binding") {
    // one 10k-neighbor hub: uncapped it would emit C(10k,2) ≈ 50M wedge
    // rows; with cap 64 the hub contributes exactly C(64,2) sampled pairs
    // (leaves have degree 1, so only the hub is a wedge center)
    val hub = (1 to 10000).map(i => (0L, i.toLong)).toDF("src", "dst")
    val capped = GraphAlgos.neighborJaccard(hub, maxCenterDegree = 64)
    assert(capped.count() == 64L * 63 / 2)
    // the bottom-k hash sample is deterministic across runs
    val r1 = capped.orderBy("a", "b").collect().toSeq
    val r2 = GraphAlgos.neighborJaccard(hub, maxCenterDegree = 64)
      .orderBy("a", "b").collect().toSeq
    assert(r1 == r2)
    // every surviving pair: common = 1 (the hub), full degrees 1 each →
    // jaccard = 1/1 (endpoint degrees are NOT affected by the cap)
    assert(r1.forall(row => row.getLong(2) == 1L && row.getLong(3) == 1000000L))
    // a non-binding cap returns the exact result
    val small = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val exact = GraphAlgos.neighborJaccard(small, maxCenterDegree = Long.MaxValue)
      .orderBy("a", "b").collect().toSeq
    val dflt = GraphAlgos.neighborJaccard(small).orderBy("a", "b").collect().toSeq
    assert(dflt == exact && exact.nonEmpty)
  }

  // ---- Count-Min sketch ----

  test("countMin: est >= exact always; heavy hitter exact at ample width") {
    val occ = ((1 to 500).map(_ => "hot") ++
      (1 to 3000).map(i => s"t${i % 700}")).toDF("term")
    val r = graft.ops.Sketches.countMinTopK(occ, "term", k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.head._1 == "hot" && r.head._2 == 500L)
    assert(r.forall { case (_, exact, est) => est >= exact },
      "CMS can only overcount")
    // 704 distinct terms vs 4*8192 counters → the top term is collision-free
    assert(r.head._3 == 500L, s"heavy hitter should estimate exactly: ${r.head}")
  }

  test("countMin overcounts under a tiny sketch, deterministically") {
    val occ = (1 to 4000).map(i => s"t${i % 900}").toDF("term")
    val a = graft.ops.Sketches.countMinTopK(occ, "term", k = 5, width = 16)
      .collect().toSeq
    val b = graft.ops.Sketches.countMinTopK(occ.repartition(9), "term", k = 5, width = 16)
      .collect().toSeq
    assert(a == b, "sketch must be partition-independent")
    assert(a.exists(_.getLong(3) > 0), "900 terms into 4x16 cells must collide")
  }

  // ---- stratified sampling ----

  test("stratifiedSample: exact quota per stratum, deterministic") {
    val df = (1 to 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "str")
    val r = Curation.stratifiedSample(df, "id", "str", 20)
    val counts = r.groupBy("str").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(counts.values.toSet == Set(20L))
    // small stratum: takes everything
    val tiny = Curation.stratifiedSample(df.filter($"id" <= 5), "id", "str", 20)
    assert(tiny.count() == 5)
    // same draw regardless of partitioning
    val again = Curation.stratifiedSample(df.repartition(11), "id", "str", 20)
    assert(r.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
  }

  // ---- funnel / retention ----

  test("funnel: strict ordering — early events don't count") {
    val us = (t: Long) => new java.sql.Timestamp(t * 1000)
    val ev = Seq(
      // u1 completes in order
      (1L, us(10), "signup"), (1L, us(20), "view"), (1L, us(30), "click"),
      // u2's view precedes signup → stops at signup
      (2L, us(50), "view"), (2L, us(60), "signup"),
      // u3 never signs up
      (3L, us(5), "view"), (3L, us(6), "click")
    ).toDF("user_id", "ts", "event_type")
    val r = Funnel.conversion(ev, "user_id", "ts", "event_type",
        Seq("signup", "view", "click"))
      .collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(r == Map("signup" -> 2L, "view" -> 1L, "click" -> 1L))
  }

  test("funnel: same-timestamp event counts (at-or-after)") {
    val us = (t: Long) => new java.sql.Timestamp(t * 1000)
    val ev = Seq((1L, us(10), "signup"), (1L, us(10), "view"))
      .toDF("user_id", "ts", "event_type")
    val r = Funnel.conversion(ev, "user_id", "ts", "event_type",
        Seq("signup", "view"))
      .collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(r("view") == 1L)
  }

  test("retention: cohort day-offsets count distinct users") {
    val day = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val ev = Seq(
      (1L, day(1)), (1L, day(2)), (1L, day(2)), (1L, day(4)),
      (2L, day(1)), (2L, day(4)),
      (3L, day(2))
    ).toDF("user_id", "ts")
    val r = Funnel.retention(ev, "user_id", "ts")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val d1 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000
    val d2 = java.time.Instant.parse("2024-01-02T00:00:00Z").toEpochMilli * 1000
    assert(r == Map((d1, 0L) -> 2L, (d1, 1L) -> 1L, (d1, 3L) -> 2L,
      (d2, 0L) -> 1L))
  }

  // ---- bigram LM scoring ----

  test("bigram LM: repeated fluent bigrams outscore unseen ones") {
    val docs = Seq(
      (1L, "the quick fox jumps the quick fox jumps the quick fox"),
      (2L, "the quick fox jumps again and again"),
      (3L, "zebra quantum paperclip volcano")  // all unique bigrams
    ).toDF("doc_id", "text")
    val r = graft.text.BigramLM.score(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(1L) > r(2L), s"repetition of corpus bigrams must score higher: $r")
    assert(r(2L) > r(3L), s"shared bigrams must beat singletons: $r")
  }

  test("bigram LM is deterministic across partitionings, drops <2-token docs") {
    val docs = (1 to 50).map(i => (i.toLong,
      s"token${i % 7} token${i % 5} token${i % 3} token${i % 7}"))
      .toDF("doc_id", "text")
      .union(Seq((99L, "solo")).toDF("doc_id", "text"))
    val a = graft.text.BigramLM.score(docs.repartition(1), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = graft.text.BigramLM.score(docs.repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(!a.exists(_.getLong(0) == 99L), "a 1-token doc has no pairs")
  }

  // ---- facade integration: entityRank + duplicateClusters ----

  test("graft facade: entityRank orbits the hub entity") {
    val dir = tempDir("graft-rank")
    val g = new api.Graft(spark, dir)
    // star: alice links to four values; bob links to one
    g.remember("alice", "pet", "rex")
    g.remember("alice", "city", "paris")
    g.remember("alice", "job", "pilot")
    g.remember("alice", "food", "ramen")
    g.remember("bob", "city", "paris")
    val r = g.entityRank().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("alice") > r("bob"), s"hub entity must outrank: $r")
    assert(r("paris") > r("rex"), s"shared value must outrank private one: $r")
  }

  test("graft facade: duplicateClusters elects one keeper per cluster") {
    val dir = tempDir("graft-dup")
    val g = new api.Graft(spark, dir)
    val body = "the quick brown fox jumps over the lazy dog again and again " * 8
    g.put("mem://a", body + "tail one")
    g.put("mem://b", body + "tail two longer")
    g.put("mem://c", "completely different content about spark query planning")
    val r = g.duplicateClusters(threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getBoolean(3)))
    assert(r.length == 2, s"only the near-dup pair clusters: ${r.toSeq}")
    assert(r.count(_._2) == 1, "exactly one canonical per cluster")
  }

  // ---- the new gates run end-to-end on real testdata ----

  test("analytics gates produce rows at sf0.001") {
    for (name <- Seq("graph_pagerank", "sketch_kmv_distinct",
        "pipe_stratified_sample", "events_funnel", "events_retention",
        "rel_cube_returns", "text_lm_bigram", "rel_histogram",
        "events_moving_window", "rel_topk_per_group", "rel_full_outer",
        "sketch_countmin_freq", "rel_rank_zoo", "rel_sorted_export",
        "text_readability", "graph_pagerank_weighted",
        "graph_neighbor_jaccard", "events_zscore_outliers")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
    }
    // sf0.001's 5-edge sampled graph is legitimately triangle-free; the
    // structure check needs the gated SF
    val tri = SparkEntry.queries("graph_triangles")(spark, "/root/testdata/sf0.01")
    assert(tri.count() > 0, "graph_triangles returned no rows at sf0.01")
  }

  test("labelPropagation: two cliques joined by a bridge resolve to two communities") {
    import graft.graph.GraphAlgos
    // clique A = {1,2,3}, clique B = {10,11,12}, bridge 3–10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                    (10L, 11L), (10L, 12L), (11L, 12L),
                    (3L, 10L)).toDF("src", "dst")
    val out = GraphAlgos.labelPropagation(edges, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // min-tie-break drives both cliques to their smallest member's label
    assert(out(1L) == out(2L) && out(2L) == out(3L), s"clique A split: $out")
    assert(out(10L) == out(11L) && out(11L) == out(12L), s"clique B split: $out")
    assert(out(1L) != out(10L), s"communities merged: $out")
  }

  test("labelPropagation degreeCap: no-op when cap covers all degrees; bounded and deterministic when it bites") {
    import graft.graph.GraphAlgos
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                    (10L, 11L), (10L, 12L), (11L, 12L),
                    (3L, 10L)).toDF("src", "dst")
    // cap >= max degree: identical to exact LPA
    val exact = GraphAlgos.labelPropagation(edges, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val wide = GraphAlgos.labelPropagation(edges, iterations = 3,
        degreeCap = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(exact.sameElements(wide))
    // a star + ring: hub 0 touches all 20 spokes; cap=2 keeps every node
    // (union re-symmetrization never isolates) and is partition-invariant
    val star = ((1L to 20L).map(i => (0L, i)) ++
      (1L until 20L).map(i => (i, i + 1))).toDF("src", "dst")
    val c1 = GraphAlgos.labelPropagation(star, iterations = 3,
        degreeCap = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val c2 = GraphAlgos.labelPropagation(star.repartition(13), iterations = 3,
        degreeCap = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(c1.sameElements(c2))
    assert(c1.map(_._1).toSet == (0L to 20L).toSet, "cap isolated a node")
  }

  test("kcorePeel: pendant chain peels over successive rounds, K4 core survives with full degree") {
    import graft.graph.GraphAlgos
    // K4 on {1,2,3,4} plus a chain 4-5-6 (5 and 6 below k=2 once the tail goes)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
                    (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r1 = GraphAlgos.kcorePeel(edges, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: only 6 (degree 1) peels; 5 keeps degree 2 until its tail goes
    assert(r1.keySet == Set(1L, 2L, 3L, 4L, 5L), s"round1: $r1")
    val r2 = GraphAlgos.kcorePeel(edges, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 2: 5 lost 6, now degree 1 -> peels; the K4 core is stable
    assert(r2.keySet == Set(1L, 2L, 3L, 4L), s"round2: $r2")
    assert(r2.values.toSet == Set(3L), "K4 members keep within-core degree 3")
  }

  test("labelPropagation is deterministic across partitionings") {
    import graft.graph.GraphAlgos
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40)).toDF("src", "dst")
    val a = GraphAlgos.labelPropagation(edges, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = GraphAlgos.labelPropagation(edges.repartition(17), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
  }

  test("graft facade: tokenizer train -> encode and importance selection") {
    val dir = tempDir("graft-tok")
    val g = new api.Graft(spark, dir)
    g.put("mv2://a", "alpha beta alpha beta gamma")
    g.put("mv2://b", "alpha beta alpha alpha beta")
    g.put("mv2://c", "delta epsilon zeta")
    val merges = g.trainTokenizer(rounds = 4).orderBy("mrank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val counts = g.tokenCounts(merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // BPE can only shrink relative to characters and never below the
    // whitespace token count
    counts.values.foreach { case (ws, bpe) => assert(bpe >= ws) }
    val sel = g.importanceSelect(col("text").contains("alpha"),
      keepQuantile = 0.5).collect()
    assert(sel.length == 3 && sel.count(_.getInt(2) == 1) >= 1)
  }

  test("graft facade: changesSince classifies the delta") {
    val dir = tempDir("graft-diff")
    val g = new api.Graft(spark, dir)
    val id1 = g.put("mv2://x", "original text here").get
    g.put("mv2://y", "stays the same")
    val seq1 = g.currentVersion
    g.update(id1, "edited text here", "mv2://x")
    g.put("mv2://z", "brand new doc")
    val r = g.changesSince(seq1).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(r == Map("mv2://x" -> "changed", "mv2://y" -> "unchanged",
      "mv2://z" -> "added"))
  }
}
