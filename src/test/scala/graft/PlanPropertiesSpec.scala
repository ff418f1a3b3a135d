package graft

import org.apache.spark.sql.DataFrame

/** Locks in the physical-plan properties the 100 TB design depends on —
  * a regression here means a plan quietly degraded even if results stay
  * correct. Complements SCALE.md's claims with executable checks.
  */
class PlanPropertiesSpec extends SparkSpec with TempStores {
  import spark.implicits._

  private def plan(name: String): String = {
    val df: DataFrame = Registry.all(name).fn(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("rel_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"), "global sort crept in")
  }

  test("brute-force knn is narrow: no shuffle at all") {
    val p = plan("vec_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"), "knn must not shuffle")
  }

  test("ivf search is narrow: cluster pruning + top-k without exchanges") {
    val p = plan("vec_ivf_search")
    assert(!p.contains("Exchange hashpartitioning"), "ivf scan must not shuffle")
  }

  test("filter + projection reach the parquet scan") {
    val p = plan("rel_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), "no pushed filters in scan")
    // column pruning: the lineitem scan must not read all 16 columns
    val readSchema = "ReadSchema: struct<l_orderkey".r
    assert(readSchema.findFirstIn(p).isDefined)
    assert(!p.contains("l_comment"), "unused column read from parquet")
  }

  test("dimension tables are broadcast in the revenue join") {
    val p = plan("rel_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("simhash sketch build has no explode or doc-keyed aggregation") {
    val sim = graft.dedup.Dedup.simhash(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val p = sim.queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"), "sketch build must be per-row")
    assert(!p.contains("Exchange hashpartitioning"), "sketch build must not shuffle")
  }

  test("minhash signature build has no explode or shuffle") {
    val sig = graft.dedup.Dedup.minhashSignatures(
      graft.dedup.Dedup.shingleSets(Tables.documents(spark, sfDir), "doc_id", "text"))
    val p = sig.queryExecution.executedPlan.toString
    assert(!p.contains("Generate explode"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("registered interval join runs binned, not nested-loop") {
    // the query sets the bin conf itself; the rewrite must hold in the
    // registered plan, not just the RangeJoinSpec micro-cases
    val p = plan("temporal_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("__graft_bin"), "binning rule did not fire")
  }

  test("as-of join plans one shuffle and no join node") {
    val p = plan("rel_asof_event_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"), p)
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected 1 key shuffle, got $shuffles")
  }

  test("store put dedup is a left-anti join, not a driver hash set") {
    val store = new graft.store.FrameStore(spark,
      tempDir("graft-put-anti") + "/frames")
    store.put(Seq(("u://a", "seed text for the anti-join dedup plan")))
    val p = store.freshHashes(Seq("deadbeef")).queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"put dedup must plan an anti-join:\n$p")
  }

  test("no empty-partition windows in rrf fusion or cursor paging") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def emptyPartWindows(name: String): Int =
      Registry.all(name).fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
    assert(emptyPartWindows("rel_rrf_fusion") == 0,
      "rrf fusion must rank partitioned by list_id")
    val cursor = Registry.all("rel_cursor_page").fn(spark, sfDir)
    assert(cursor.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "cursor paging must be window-free (double TakeOrdered)")
    val p = cursor.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("persisted BM25 search reads co-located buckets: zero data-sized exchanges") {
    graft.search.Bm25Index.write(
      Tables.documents(spark, sfDir).select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")),
      "doc_id", "text", "bm25_plan_spec", stemmed = false)
    val df = graft.search.Bm25Index.search(spark, "bm25_plan_spec",
      Seq("spark", "join"), topK = 10)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"doc-keyed aggregation must be satisfied by the bucketed scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // append a delta batch into the same layout: multiple files per bucket
    // must still satisfy the doc_id distribution — the scoring plan stays
    // exchange-free after any number of appends
    import org.apache.spark.sql.functions.col
    graft.search.Bm25Index.append(
      Tables.documents(spark, sfDir)
        .select(col("doc_id") + 1000000L as "doc_id", col("text")),
      "doc_id", "text", "bm25_plan_spec", stemmed = false)
    val df2 = graft.search.Bm25Index.search(spark, "bm25_plan_spec",
      Seq("spark", "join"), topK = 10)
    val p2 = df2.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange hashpartitioning"),
      s"post-append scoring must stay exchange-free:\n$p2")
    // compact the multi-file layout back to one file per bucket: the
    // catalog swap must carry the bucket spec, so scoring is STILL
    // exchange-free over the compacted table
    val filesBefore = graft.search.Bm25Index.dataFileCount(spark, "bm25_plan_spec")
    graft.search.Bm25Index.compact(spark, "bm25_plan_spec")
    val filesAfter = graft.search.Bm25Index.dataFileCount(spark, "bm25_plan_spec")
    assert(filesAfter <= 16L && filesAfter < filesBefore,
      s"compaction must shrink to ≤ one file per bucket ($filesBefore -> $filesAfter)")
    val df3 = graft.search.Bm25Index.search(spark, "bm25_plan_spec",
      Seq("spark", "join"), topK = 10)
    val p3 = df3.queryExecution.executedPlan.toString
    assert(!p3.contains("Exchange hashpartitioning"),
      s"post-compaction scoring must stay exchange-free:\n$p3")
  }

  test("persisted edge table: per-round scatter reads co-located buckets") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val pairs = (1L to 400L).map(i => (i % 37, (i * 7) % 41 + 100))
      .distinct.toDF("src", "dst")
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    graft.graph.EdgeIndex.write(sym, "edge_plan_spec", nBuckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val pr = graft.graph.EdgeIndex.pageRank(spark, "edge_plan_spec",
        iterations = 1, release = false)
      val p = pr.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"the scatter join must read the bucketed scan:\n$p")
      // counterfactual, apples-to-apples: ONE prStep with the SAME
      // (pinned) node/rank inputs, over the bucketed scan vs a plain
      // parquet copy — the plain side pays exactly one extra exchange,
      // the edge-sized one the bucketed layout eliminates every round
      val tmp = tempDir("edge-plain")
      spark.table("edge_plan_spec").write.mode("overwrite").parquet(tmp)
      val edPlain = spark.read.parquet(tmp)
      val nodes = spark.table("edge_plan_spec").select(col("src").as("node"))
        .dropDuplicates("node").localCheckpoint()
      val ranks = nodes.withColumn("rank_fp", lit(100L))
      val stepB = graft.graph.GraphAlgos.prStep(
        spark.table("edge_plan_spec"), nodes, ranks, 1L)
      val stepP = graft.graph.GraphAlgos.prStep(edPlain, nodes, ranks, 1L)
      val bucketed = graft.ops.Bucketing.shuffleExchangeCount(stepB)
      val plain = graft.ops.Bucketing.shuffleExchangeCount(stepP)
      assert(plain == bucketed + 1,
        s"bucketed scatter must save exactly the edge-sized exchange " +
          s"(bucketed=$bucketed, plain=$plain)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS edge_plan_spec")
    }
  }

  test("persisted IVF search prunes unprobed clusters at the partition level") {
    val dir = tempDir("graft-ivf-plan")
    val emb = Tables.embeddings(spark, sfDir).select(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"))
    val cents = Seq(0L, 1L, 2L).map(i => (i.toInt,
      graft.vector.VectorSearch.queryVector(emb, "vec_id", "embedding", i)))
    val idx = graft.vector.IvfIndex.write(emb, "vec_id", "embedding", dir, cents)
    val q = graft.vector.VectorSearch.queryVector(emb, "vec_id", "embedding", 5L)
    val p = idx.search("vec_id", "embedding", q, k = 15, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cluster"),
      s"cluster IN must prune partitions at the persisted scan:\n$p")
  }

  test("audit rows broadcast the citation list to the corpus scan") {
    val p = plan("ask_audit_report")
    assert(p.contains("BroadcastHashJoin"),
      "the top-k citation side must broadcast — never shuffle the corpus")
    assert(!p.contains("Exchange hashpartitioning"),
      "audit row assembly must not shuffle corpus-sized data")
  }

  test("segment planner has no unpartitioned window at any row count") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // r12: the global prefix is a distributed prefix-sum (per-partition
    // partials -> driver bases over P rows -> broadcast map). Both the
    // logical plan of the gate AND the physical plan must be free of a
    // single-task WindowExec; the localCheckpoint truncates the upstream
    // lineage, so this covers everything that executes per-row.
    val df = Registry.all("ingest_segment_plan").fn(spark, sfDir)
    val global = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "segment numbering must not use a global window")
    val phys = df.queryExecution.executedPlan.toString
    phys.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(!l.contains("windowspecdefinition()"), s"unpartitioned WindowExec:\n$l")
    }
  }

  test("rollup expands in one pass: a single Expand node, one agg shuffle") {
    val p = plan("rel_rollup_status_priority")
    assert(p.linesIterator.count(_.contains("Expand [")) == 1, p)
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggShuffles == 1, s"expected 1 grouping shuffle, got $aggShuffles")
  }

  test("mixture sampling broadcasts the weights dim and filters pre-shuffle") {
    val sampled = graft.pipeline.Curation.mixtureSample(
      Tables.documents(spark, sfDir), "doc_id", "source",
      Seq("src0" -> 0.5, "src1" -> 1.0))
    val p = sampled.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "weights dim must broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      "the sampling decision must be narrow — no data-sized shuffle")
  }

  test("sequence packing windows are shard-partitioned, never global") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = Tables.documents(spark, sfDir)
      .withColumn("tok", org.apache.spark.sql.functions.ceil(
        org.apache.spark.sql.functions.col("n_chars") / 4.0).cast("long"))
    val packed = graft.pipeline.Curation.packGreedy(
      docs, "doc_id", "tok", budget = 2048L, nShards = 8)
    val global = packed.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "packing cumsum must partition by shard")
  }

  test("stratified sample and KMV windows are partitioned, never global") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def globalWindows(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
    val strat = graft.pipeline.Curation.stratifiedSample(
      Tables.documents(spark, sfDir), "doc_id", "lang", 40)
    assert(globalWindows(strat) == 0, "stratum draw must rank per stratum")
    val kmv = graft.ops.Sketches.kmvDistinct(
      Tables.events(spark, sfDir), "event_type", "user_id", 64)
    assert(globalWindows(kmv) == 0, "KMV minima must rank per group")
  }

  test("triangle wedge join never joins on the raw hub-keyed edge id") {
    // degree orientation: the join keys must be the oriented src/dst pair,
    // and the closing edge must come in as an equi-join (no nested loop).
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val lazyPlan = graft.graph.GraphAlgos.triangleCountsPlan(
      e, assumeCanonical = false)
    val p = lazyPlan.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      "wedge closing must stay an equi-join")
    assert(p.toLowerCase.contains("join"), "plan must contain the wedge joins")
  }

  test("cube expands in one pass: a single Expand node, one agg shuffle") {
    val p = plan("rel_cube_returns")
    assert(p.linesIterator.count(_.contains("Expand [")) == 1, p)
    val aggShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggShuffles == 1, s"expected 1 grouping shuffle, got $aggShuffles")
  }

  test("count-min probe joins the broadcast counter matrix, never sort-merges") {
    val occ = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.F.tokens(org.apache.spark.sql.functions.col("text"))).as("term"))
    // assert on the pre-checkpoint plan: the public method materializes
    // (localCheckpoint) to release its cache, which hides the join shape
    val (lazyPlan, hashed) =
      graft.ops.Sketches.countMinTopKPlan(occ, "term", 20, 4, 8192)
    val p = lazyPlan.queryExecution.executedPlan.toString
    hashed.unpersist()
    assert(p.contains("BroadcastHashJoin"), "counter matrix must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a fixed-size sketch must never be the big side of a shuffle join")
  }

  test("sorted export range-partitions (the one place a global sort belongs)") {
    val p = plan("rel_sorted_export")
    assert(p.contains("Exchange rangepartitioning"),
      "a total-order export must sample split points and range-partition")
    assert(!p.contains("TakeOrderedAndProject"), "export must not truncate")
  }

  test("pagerank gate ends in a bounded top-k, not a global sort") {
    val p = plan("graph_pagerank")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("Exchange rangepartitioning"), "global sort crept in")
  }

  test("prPrepare pays exactly one full-edge exchange, output partitioned on src") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val e = Tables.documents(s2, sfDir).select(
        pmod(col("doc_id"), lit(97)).cast("long").as("src"),
        pmod(col("doc_id") * 31 + 7, lit(97)).cast("long").as("dst"))
      .withColumn("w", lit(1L)).distinct()
    val (deg, ed, nodes) = graft.graph.GraphAlgos.prPrepare(e, assumeSymmetric = true)
    try {
      // the exchanges live under the InMemoryRelation's cached plan, so
      // assert on the rendered tree (collect() does not descend into it)
      val p = ed.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      // the distinct's own exchange plus ONE repartition(src) — the former
      // agg→join→repartition prepare paid an extra node shuffle and, on a
      // broadcast degree join, a second full-edge pass
      assert(exchanges == 2, s"expected distinct + repartition(src) only:\n$p")
      assert(p.contains("REPARTITION_BY_COL"), s"missing the src repartition:\n$p")
      assert(p.contains("Window"), s"wsum must be window-fused, not joined:\n$p")
      // deg is a narrow derivation of the persisted table: no new exchange
      val dp = deg.queryExecution.executedPlan.toString
      val degExchanges = dp.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(degExchanges == 2, s"deg must reuse ed's partitioning, none added:\n$dp")
      assert(!dp.contains("SortMergeJoin") && !dp.contains("BroadcastHashJoin"),
        s"deg is a projection of ed, not a join:\n$dp")
    } finally { ed.unpersist(); nodes.sparkSession } // nodes lazy here
  }

  test("pagerank iteration moves only node-sized rows, never the edge table") {
    // AQE off so the tree is plain; broadcast off to force the SMJ path a
    // billion-node graph would take — that is the plan that must hold.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs = Tables.documents(s2, sfDir)
    val e = docs.select(
        pmod(col("doc_id"), lit(97)).cast("long").as("src"),
        pmod(col("doc_id") * 31 + 7, lit(97)).cast("long").as("dst"))
      .withColumn("w", lit(1L)).distinct()
    val (deg, ed, nodes) = graft.graph.GraphAlgos.prPrepare(e, assumeSymmetric = false)
    try {
      ed.count(); nodes.count() // materialize the loop-invariant caches
      val ranks = nodes.withColumn("rank_fp", lit(1000L))
      val step = graft.graph.GraphAlgos.prStep(ed, nodes, ranks, teleport = 7L)
      val phys = step.queryExecution.executedPlan
      val shuffles = phys.collect { case ex: ShuffleExchangeExec => ex }
      // exactly 1: the gather groupBy(dst). The persisted edge table is
      // partitioned on src at prepare time; the ranks side arrives
      // partitioned on node from the previous gather and alias-propagates
      // node→src, so the scatter join is exchange-free on BOTH sides; the
      // nodes⋈sums join has both sides on node.
      assert(shuffles.size == 1,
        s"expected 1 node-sized shuffle per iteration, got ${shuffles.size}:\n$phys")
      // what moves through that shuffle is the map-side-combined (node,
      // partial sum) pairs — 2 columns — never the edge table's rows
      val moved = shuffles.head.child.output.map(_.name)
      assert(moved.size == 2 && moved.contains("node"),
        s"the iteration shuffle moves $moved, not node-sized messages:\n$phys")
    } finally { ed.unpersist(); deg.unpersist(); nodes.unpersist() }
  }

  test("IVF index stored partitionBy(cluster): probe scan prunes partitions") {
    import org.apache.spark.sql.functions._
    // the 100 TB IVF contract (VectorSearch scaladoc): write the assigned
    // table partitioned by cluster so an nprobe query READS nprobe/k of
    // the data — partition pruning at the file listing, not a post-filter
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Seq(0L, 1L, 2L, 3L).map(i =>
      (i.toInt, graft.vector.VectorSearch.queryVector(emb, "vec_id", "embedding", i)))
    val dir = tempDir("ivf_part")
    graft.vector.VectorSearch.assignClusters(emb, "embedding", cents)
      .write.mode("overwrite").partitionBy("cluster").parquet(dir)
    val probe = spark.read.parquet(dir).filter(col("cluster").isin(0, 2))
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("cluster"),
      s"cluster filter did not reach partition pruning:\n$p")
    // the pruned read must touch only the 2 probed cluster directories
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount == 2,
      s"pruned listing has ${scan.selectedPartitions.partitionCount} partitions, expected 2")
    // sanity: the unfiltered table really has all 4 cluster partitions
    val fullScan = spark.read.parquet(dir).queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(fullScan.selectedPartitions.partitionCount == 4)
    val all = spark.read.parquet(dir).select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(all == Set(0, 1, 2, 3))
  }

  test("graph-route hits: semi-join membership, bounded top-k, no cartesian") {
    import org.apache.spark.sql.functions._
    // the ask() relational route's scale shape: candidate membership
    // reaches the frames through a LEFT-SEMI join (no payload moves for
    // the test), the result is a bounded TakeOrdered, and nothing
    // degenerates to a cartesian product
    val dir = tempDir("graphroute_plan")
    Tables.orders(spark, sfDir).select(
        concat(lit("cust:"), col("o_custkey")).as("entity"),
        lit("order_priority").as("slot"),
        col("o_orderpriority").as("value"),
        pmod(col("o_orderkey"), lit(500)).cast("long").as("sourceFrameId"))
      .write.mode("overwrite").parquet(s"$dir/cards")
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$dir/frames")
    val hits = graft.graph.GraphSearch.graphHits(
      spark.read.parquet(s"$dir/cards"), spark.read.parquet(s"$dir/frames"),
      "doc_id", graft.search.FrameCols(text = col("text")),
      entity = None, slot = Some("order_priority"),
      valueContains = Some("urgent"), topK = 10).get
    val p = hits.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(p.contains("LeftSemi"), s"membership must be a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must stay bounded, not a global sort:\n$p")
    rmDir(new java.io.File(dir))
  }

  test("appended IVF index: cluster pruning holds on BOTH union legs") {
    import org.apache.spark.sql.functions._
    // the r15 delta-dir contract: read() unions base + committed deltas,
    // and the nprobe `cluster IN` filter pushes through the Union so
    // EVERY leg prunes at the partition level
    val dir = tempDir("ivf_union_prune")
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array((i % 4) * 3f, (i % 4) * 3f))
    }.toDF("vec_id", "embedding")
    val seeds = (0 until 4).map(c => c -> Array(c * 3f, c * 3f))
    graft.vector.IvfIndex.write(vecs.filter($"vec_id" < 30),
      "vec_id", "embedding", dir, seeds)
    graft.vector.IvfIndex.append(spark, dir,
      vecs.filter($"vec_id" >= 30), "vec_id", "embedding")
    val h = graft.vector.IvfIndex.read(spark, dir)
    val probe = h.assigned.filter(col("cluster").isin(0, 2))
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"expected base + delta scans, got ${scans.size}")
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        "cluster IN must reach partition pruning on every union leg")
      assert(s.selectedPartitions.partitionCount == 2,
        s"leg read ${s.selectedPartitions.partitionCount} partitions, expected 2")
    }
    rmDir(new java.io.File(dir))
  }

  private def rmDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmDir))
    f.delete(): Unit
  }

  test("facade indexed search under a pinned snapshot: zero data-sized exchanges") {
    import org.apache.spark.sql.functions._
    // the 100 TB serving shape: latest-active pinned to a plain scan
    // (read-mostly phase) + BM25 scoring satisfied by the bucketed
    // postings read + the rank page joined back via broadcast — no
    // data-sized shuffle anywhere in the serve path
    val dir = tempDir("facade_plan")
    val g = new graft.api.Graft(spark, dir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    g.frames.put(docs.map { case (i, t) => (s"mv2://plan/$i", t) }.toSeq)
    g.buildLexIndex("facade_plan_spec_idx", stemmed = false)
    g.snapshotCurrent(s"$dir/snap")
    val df = g.search("spark join window", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"indexed serve path must plan zero data-sized exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(df.count() > 0)
    // snippets decorate the PAGE, not the corpus: the snippet-text scan
    // must be pruned by the served page's id IN list (pushed into the
    // parquet reader) — the corpus-text join this replaced would read
    // every document's bytes at 100 TB. String-form check because AQE
    // query stages hide their children from plan.collect.
    assert(p.contains("In(id"),
      s"text lookup must push the page-id IN list:\n$p")
    spark.sql("DROP TABLE IF EXISTS `facade_plan_spec_idx`")
    rmDir(new java.io.File(dir))
  }

  test("facade-built IVF index prunes unprobed clusters at the partition level") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("facade_vec_plan")
    val g = new graft.api.Graft(spark, dir)
    Seq("alpha beta gamma", "delta epsilon zeta", "eta theta iota",
        "kappa lambda mu").zipWithIndex
      .foreach { case (t, i) => g.put(s"mv2://planvec/$i", t) }
    g.buildVecIndex(s"$dir/vec", k = 2, iters = 1, nprobe = 1)
    val h = graft.vector.IvfIndex.read(spark, s"$dir/vec")
    val qv = new graft.ask.HashEmbedder(64).embed("sprockets assemble")
    val probe = h.search("id", "vector", qv, 3, nprobe = 1)
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters: ["),
      s"cluster probe did not reach partition pruning:\n$scan")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"nprobe=1 read ${scan.selectedPartitions.partitionCount} cluster dirs")
    rmDir(new java.io.File(dir))
  }

  test("filtered/sketch-allowed indexed ranking: only bare id lists cross exchanges") {
    import org.apache.spark.sql.functions._
    // the F2/F10 × indexed-engine composition at 100 TB: a compiled
    // field predicate or a sketch candidate set evaluates to an id list
    // that semi-joins into the bucketed postings — the ONLY thing a
    // shuffle may carry in the ranking plan is that bare id list (or it
    // broadcasts); postings rows and text never cross an exchange. AQE
    // off for the check so plan.collect sees the raw exchanges.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val tbl = "plan_filtered_idx_spec"
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("source")).limit(300)
        .localCheckpoint()
      graft.search.Bm25Index.write(docs, "doc_id", "text", tbl, stemmed = false)
      val f = graft.search.FrameCols(text = col("text"), track = col("source"))
      val opts = graft.search.Search.Options(topK = 10,
        engine = graft.search.Search.BM25Engine, stemmed = false,
        withSnippets = false)
      def lockExchanges(q: String, allowed: Option[org.apache.spark.sql.DataFrame]): Unit = {
        val ast = graft.search.QueryParser.parse(q)
        val (ranked, _) = graft.search.Search.indexedRanking(
          docs, "doc_id", f, ast, tbl, opts, allowed)
        // SinglePartition exchanges carry the 1-row corpus-stats
        // aggregate (bounded by construction) — the lock is about
        // DATA-SIZED shuffles, i.e. hash-partitioned ones. Allowed
        // across them: bare id lists, the NARROW metadata columns the
        // compiled predicate reads (here `source`), and the bounded
        // per-doc matched-query-term set (`__qterms`, ≤ #query words).
        // NEVER the corpus text or postings rows (term + tf) — those
        // are the 100 TB-sized payloads the route exists to keep put.
        val exchanges = ranked.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions > 1 => e
        }
        exchanges.foreach { e =>
          val names = e.output.map(_.name.toLowerCase).toSet
          // __wc_N (per-wildcard hit flag: one boolean) and __ph_I_J
          // (per-phrase-token position list: ints bounded by the token's
          // tf in that doc) are r19 membership-flag columns — per-doc
          // bounded like __qterms, never corpus-sized
          val fixed = Set("doc_id", "id", "__mid", "__qterms", "source")
          val extra = names.filterNot(fixed)
            .filterNot(n => n.startsWith("__wc_") || n.startsWith("__ph_"))
          assert(extra.isEmpty,
            s"exchange in the indexed ranking carries more than ids/narrow metadata: $names")
          assert(!names.contains("text") && !names.contains("__text") &&
            !names.contains("tf"),
            s"exchange carries corpus text or postings rows: $names")
        }
        // word membership comes from the POSTINGS on this (unstemmed)
        // index — the ranking plan must never tokenize the text column
        // (SCALE.md §2b named the corpus tokenize the shared route floor)
        val planStr = ranked.queryExecution.executedPlan.toString
        assert(!planStr.toLowerCase.contains("tokenize"),
          s"indexed ranking for `$q` still tokenizes the corpus text:\n$planStr")
        assert(ranked.count() > 0, s"fixture returned no rows for $q")
      }
      lockExchanges("track:src1 AND spark join", None)
      lockExchanges("spark join",
        Some(docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))))
      // r19: WILDCARD membership from the term dictionary — the glob's
      // regex runs over the postings' narrow term column, the corpus
      // text is never read or tokenized (query.rs:115-126 semantics)
      lockExchanges("track:src1 AND val* spark", None)
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      // r19: PHRASE membership from postings POSITIONS — a positioned
      // table answers adjacency without the corpus text (schema.rs:19-21)
      val ptbl = "plan_positioned_idx_spec"
      spark.sql(s"DROP TABLE IF EXISTS `$ptbl`")
      graft.search.Bm25Index.write(docs, "doc_id", "text", ptbl,
        stemmed = false, withPositions = true)
      val past = graft.search.QueryParser.parse("track:src1 AND \"spark join\"")
      val (pranked, _) = graft.search.Search.indexedRanking(
        docs, "doc_id", f, past, ptbl, opts, None)
      val pplan = pranked.queryExecution.executedPlan.toString
      assert(!pplan.toLowerCase.contains("tokenize"),
        s"positioned-phrase indexed ranking still tokenizes the corpus:\n$pplan")
      // capital-C Contains = Catalyst's string-substring predicate (the
      // corpus-path phrase compile); array_contains (the flag lookup)
      // prints lowercase and is expected
      assert(!pplan.contains("Contains("),
        s"positioned-phrase indexed ranking still substring-scans the corpus:\n$pplan")
      spark.sql(s"DROP TABLE IF EXISTS `$ptbl`")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("track-partitioned postings: a track: conjunct prunes partition dirs") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val tbl = "plan_tracked_idx_spec"
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("source")).limit(300)
        .localCheckpoint()
      val nTracks = docs.select("source").distinct().count()
      assert(nTracks > 1, "fixture needs multiple tracks")
      graft.search.Bm25Index.write(docs, "doc_id", "text", tbl,
        stemmed = false, trackCol = Some("source"))
      val ast = graft.search.QueryParser.parse("track:src1 AND spark join")
      val (ranked, _) = graft.search.Search.indexedRanking(
        docs, "doc_id", graft.search.FrameCols(text = col("text"),
          track = col("source")), ast, tbl,
        graft.search.Search.Options(topK = 10,
          engine = graft.search.Search.BM25Engine, stemmed = false,
          withSnippets = false), None)
      val postingsScan = ranked.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.output.exists(_.name == "term") => f
      }
      assert(postingsScan.nonEmpty, "no postings scan found in the plan")
      postingsScan.foreach { sc =>
        assert(sc.partitionFilters.nonEmpty,
          s"track conjunct did not reach partition pruning:\n$sc")
        assert(sc.selectedPartitions.partitionCount == 1,
          s"expected 1 of $nTracks track dirs, read " +
            s"${sc.selectedPartitions.partitionCount}")
      }
      assert(ranked.count() > 0)
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("DSIR weight join broadcasts the bucket-sized feature table") {
    val w = graft.pipeline.Dsir.importanceWeights(
      Tables.documents(spark, sfDir), "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en")
    val p = w.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "per-feature ilr table (<= buckets rows) must broadcast")
  }

  test("record-linkage blocking compiles to an equi-join, never a cartesian") {
    val e = graft.dedup.RecordLinkage.linkEdges(
      Tables.part(spark, sfDir), "p_partkey", "p_name",
      Seq("p_brand", "p_type"), maxDist = 2)
    val p = e.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "block keys must drive an equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("scalar-quant shortlist is a bounded TakeOrdered over a narrow scan") {
    val emb = Tables.embeddings(spark, sfDir)
    val (mins, scales) = graft.vector.ScalarQuant.calibrate(emb, "embedding", 64)
    val q = graft.vector.VectorSearch.queryVector(emb, "vec_id", "embedding", 5L)
    val out = graft.vector.ScalarQuant.search(
      graft.vector.ScalarQuant.encode(emb, "embedding", mins, scales),
      "vec_id", "embedding", q, mins, scales, k = 10, shortlist = 40)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"),
      "SQ index scan must not shuffle")
  }
}
