package graft

import graft.vector.{AdaptiveCutoff, VectorSearch}
import org.apache.spark.sql.functions._

class VectorSpec extends SparkSpec {
  import spark.implicits._

  private def embDf = Seq(
    (0L, Array(1f, 0f, 0f), 0),
    (1L, Array(0.9f, 0.1f, 0f), 0),
    (2L, Array(0f, 1f, 0f), 1),
    (3L, Array(0f, 0.9f, 0.1f), 1),
    (4L, Array(0f, 0f, 1f), 2),
    (5L, Array(0.7f, 0.7f, 0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force knn cosine returns exact neighbors in order") {
    val hits = VectorSearch.knn(embDf, "vec_id", "embedding",
      Array(1f, 0f, 0f), k = 3).collect()
    assert(hits.map(_.getLong(0)).toSeq == Seq(0L, 1L, 5L))
    assert(hits.head.getDouble(1) == 1.0)
  }

  test("knn l2 with candidate filter excludes filtered rows") {
    val hits = VectorSearch.knn(embDf, "vec_id", "embedding",
      Array(0f, 0f, 1f), k = 2, metric = "l2",
      candidateFilter = Some(col("label") =!= 2)).collect()
    assert(!hits.map(_.getLong(0)).contains(4L))
    assert(hits.head.getLong(0) == 3L) // closest non-label-2
  }

  test("cluster assignment picks nearest centroid, ties to lowest id") {
    val cents = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
    val assigned = VectorSearch.assignClusters(embDf, "embedding", cents)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned(0L) == 0 && assigned(1L) == 0)
    assert(assigned(2L) == 1 && assigned(3L) == 1)
    assert(assigned(5L) == 0) // equidistant -> lowest centroid id
  }

  test("ivf search prunes to probed clusters") {
    val cents = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)),
                    (2, Array(0f, 0f, 1f)))
    val withCluster = VectorSearch.assignClusters(embDf, "embedding", cents)
    val hits = VectorSearch.ivfSearch(withCluster, "vec_id", "embedding",
      cents, Array(0.95f, 0.05f, 0f), k = 10, nprobe = 1).collect()
    // only cluster 0 members scanned
    assert(hits.map(_.getLong(0)).toSet == Set(0L, 1L, 5L))
  }

  test("ivfSearchEmbedded: exact mode matches brute-force l2 within probed clusters") {
    val cents = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
    val assigned = VectorSearch.assignClusters(embDf, "embedding", cents)
    val q = Array(0.8f, 0.2f, 0f)
    val viaHnswPath = VectorSearch.ivfSearchEmbedded(assigned, "vec_id",
        "embedding", cents, q, k = 3, nprobe = 1, switchThreshold = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaScan = VectorSearch.ivfSearch(assigned, "vec_id", "embedding",
        cents, q, k = 3, nprobe = 1, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaHnswPath == viaScan && viaHnswPath.nonEmpty)
  }

  test("ivfSearchEmbedded: >=1000-vector cluster takes the HNSW branch — " +
       "deterministic, high recall vs brute force") {
    val emb = new graft.ask.HashEmbedder(32)
    // one cluster of 1500 vectors (past the reference switch) near axis 0
    val rows = (0 until 1500).map { i =>
      (i.toLong, emb.embed(s"document number ${i * 3} topic ${(i * 7) % 50}"), 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val cents = Seq((0, rows.head._2))
    val assigned = VectorSearch.assignClusters(df, "embedding", cents)
    val q = emb.embed("topic 13 probe")
    def run() = VectorSearch.ivfSearchEmbedded(assigned, "vec_id", "embedding",
        cents, q, k = 10, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = run()
    assert(got == run(), "HNSW branch must replay identically")
    val truth = rows.map { case (id, v, _) =>
      var d = 0.0; var j = 0
      while (j < 32) { val t = v(j).toDouble - q(j).toDouble; d += t * t; j += 1 }
      (id, d)
    }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val recall = (truth intersect got.map(_._1).toSet).size / 10.0
    assert(recall >= 0.8, s"recall $recall < 0.8")
  }

  test("ivfSearchEmbedded: maxClusterSize sub-shards a deliberately skewed " +
       "cluster — per-task bound holds and the merged result is exact") {
    val emb = new graft.ask.HashEmbedder(16)
    // worst case: ALL 1200 vectors land in ONE cluster (total skew)
    val rows = (0 until 1200).map { i =>
      (i.toLong, emb.embed(s"skewed payload $i"), 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val cents = Seq((0, rows.head._2))
    val assigned = VectorSearch.assignClusters(df, "embedding", cents)
    // the bound: 1200-vector cluster at max 200 → 6 sub-shards, each a
    // brute-force (< switchThreshold) group, so the merge is EXACT
    assert(VectorSearch.subShardCounts(Map(0 -> 1200L), 200) == Map(0 -> 6))
    assert(VectorSearch.subShardCounts(Map(0 -> 200L), 200) == Map(0 -> 1))
    assert(VectorSearch.subShardCounts(Map(0 -> 201L), 200) == Map(0 -> 2))
    val q = emb.embed("skewed probe")
    val got = VectorSearch.ivfSearchEmbedded(assigned, "vec_id", "embedding",
        cents, q, k = 10, nprobe = 1, maxClusterSize = 200)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val truth = rows.map { case (id, v, _) =>
      var d = 0.0; var j = 0
      while (j < 16) { val t = v(j).toDouble - q(j).toDouble; d += t * t; j += 1 }
      (id, math.sqrt(d))
    }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    assert(got.map(_._1) == truth,
      "sub-sharded groups fall under the brute-force threshold, so the " +
      "merged top-k must equal the exact answer")
  }

  test("ivfPqSearch: probed-cluster shortlist, exact re-rank equals brute l2") {
    // 32-dim so the 8-subspace PQ has 4-dim subspaces; 3 separated bands
    // of vectors so cluster probing is meaningful
    val dim = 32
    def v(base: Int, j: Int): Array[Float] =
      Array.tabulate(dim)(i => (((i * 7 + base * 13 + j * 3) % 17) / 17.0f) + base * 2.0f)
    val rows = for (b <- 0 until 3; j <- 0 until 12) yield (b * 100L + j, v(b, j), b)
    val df = rows.toDF("vec_id", "embedding", "label")
    val pq = new graft.vector.ProductQuantizer(numSubspaces = 8, numCentroids = 4)
    val model = pq.train(rows.map(_._2).toArray)
    val cents = (0 until 3).map(b => (b, v(b, 0)))
    val assigned = VectorSearch.assignClusters(df, "embedding", cents)
    val enc = pq.encode(assigned, "embedding", model)
    val q = v(1, 5)
    val got = pq.ivfPqSearch(enc, "vec_id", "embedding", cents, q, model,
      k = 5, nprobe = 1, refine = 3).collect()
    // exact re-rank over a shortlist >= cluster size == brute force l2
    // restricted to the probed cluster (cluster 1: ids 100..111)
    val brute = VectorSearch.knn(df.filter(col("label") === 1), "vec_id",
      "embedding", q, k = 5, metric = "l2").collect()
    assert(got.map(_.getLong(0)).toSeq == brute.map(_.getLong(0)).toSeq)
    assert(got.map(_.getDouble(1)).toSeq == brute.map(_.getDouble(1)).toSeq)
    assert(got.head.getLong(0) == 105L) // the query vector itself
  }

  test("PQ codegen expressions are bit-equal to the reference kernels (r20)") {
    // encode/asymmetricDistance became codegen Expressions over plan-time
    // literals (PqEncodeExpr/PqAsymmetricExpr); the contract is
    // BIT-identical arithmetic to the former UDFs: per-element
    // float->double widening, sequential double accumulation, strict-<
    // argmin. The reference below replays exactly that on the driver.
    val dim = 32
    def v(j: Int): Array[Float] =
      Array.tabulate(dim)(i => (((i * 11 + j * 5) % 23) / 23.0f) - 0.4f)
    val rows = (0 until 40).map(j => (j.toLong, v(j)))
    val pq = new graft.vector.ProductQuantizer(numSubspaces = 8, numCentroids = 4)
    val model = pq.train(rows.map(_._2).toArray)
    val df = rows.toDF("vec_id", "embedding")
    val encDf = pq.encode(df, "embedding", model)
    val enc = encDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    def refCodes(x: Array[Float]): Seq[Int] = (0 until 8).map { s =>
      val cents = model.codebooks(s)
      val sub = x.slice(s * model.subDim, (s + 1) * model.subDim)
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var k = 0
        while (k < sub.length) {
          val t = cents(c)(k).toDouble - sub(k).toDouble; d += t * t; k += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    rows.foreach { case (id, x) =>
      assert(enc(id) == refCodes(x), s"codes diverge for vec $id") }
    val q = v(7)
    val table = pq.distanceTable(q, model)
    val scored = pq.encode(df, "embedding", model)
      .withColumn("d", pq.asymmetricDistance(q, model)(col("pq_codes")))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("d")).toMap
    rows.foreach { case (id, _) =>
      val codes = enc(id)
      var s = 0; var dd = 0.0
      while (s < codes.length) { dd += table(s)(codes(s)); s += 1 }
      assert(scored(id) == math.sqrt(dd), s"adist diverges for vec $id")
    }
  }

  test("pq_encode / pq_adist reject a non-literal or mistyped second argument at analysis") {
    graft.functions.F.ensureRegistered(spark)
    Seq((Seq(1f, 2f), Seq(Seq(Seq(1f, 2f))), Seq(0), Seq(Seq(1.0))))
      .toDF("v", "cb", "codes", "tbl").createOrReplaceTempView("pq_args_spec")
    Seq("SELECT pq_encode(v, cb) FROM pq_args_spec" -> "pq_encode",
        "SELECT pq_encode(v, array(1.0D)) FROM pq_args_spec" -> "pq_encode",
        "SELECT pq_adist(codes, tbl) FROM pq_args_spec" -> "pq_adist",
        "SELECT pq_adist(codes, array(array(1.0F))) FROM pq_args_spec" -> "pq_adist")
      .foreach { case (q, fn) =>
        val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q))
        assert(e.getMessage.contains(fn), e.getMessage)
      }
    // the literal forms the quantizer emits still analyze and run
    assert(spark.sql("SELECT pq_adist(codes, array(array(1.0D))) AS d FROM pq_args_spec")
      .head.getDouble(0) == 1.0)
    spark.catalog.dropTempView("pq_args_spec")
  }

  test("adaptive cutoff strategies on a crafted score ladder") {
    // FIXTURES.md §3: [0.9, 0.88, 0.85, 0.4, 0.39] -> cliff cut at index 3
    val ranked = Seq((1L, 0.9), (2L, 0.88), (3L, 0.85), (4L, 0.4), (5L, 0.39))
      .toDF("id", "score")
    val cliff = AdaptiveCutoff(ranked, "score", AdaptiveCutoff.Cliff(0.3))
      .collect().map(_.getLong(0)).toSet
    assert(cliff == Set(1L, 2L, 3L))
    val rel = AdaptiveCutoff(ranked, "score", AdaptiveCutoff.Relative(0.9))
      .collect().map(_.getLong(0)).toSet
    assert(rel == Set(1L, 2L, 3L)) // >= 0.81
    val abs = AdaptiveCutoff(ranked, "score", AdaptiveCutoff.Absolute(0.5))
      .collect().map(_.getLong(0)).toSet
    assert(abs == Set(1L, 2L, 3L))
    val elbow = AdaptiveCutoff(ranked, "score", AdaptiveCutoff.Elbow)
      .collect().map(_.getLong(0)).toSet
    assert(elbow == Set(1L, 2L, 3L)) // largest gap 0.85 -> 0.4
    val combined = AdaptiveCutoff(ranked, "score",
      AdaptiveCutoff.Combined(0.5, 0.9, 0.3)).collect().map(_.getLong(0)).toSet
    assert(combined == Set(1L, 2L, 3L))
    // no cliff -> keep all
    val flat = Seq((1L, 0.9), (2L, 0.89), (3L, 0.88)).toDF("id", "score")
    assert(AdaptiveCutoff(flat, "score", AdaptiveCutoff.Cliff(0.3)).count() == 3)
  }

  test("hyperplane LSH: identical vectors always collide; results subset of brute force") {
    import graft.vector.HyperplaneLSH
    import org.apache.spark.sql.functions._
    val dim = 8
    val vecs = Seq(
      (1L, Array( 1f, 2f, 3f, 4f, -1f, -2f, 0.5f, 1f)),
      (2L, Array( 1f, 2f, 3f, 4f, -1f, -2f, 0.5f, 1f)),  // identical to 1
      (3L, Array(-4f, 3f, -2f, 1f, 2f, -3f, 4f, -1f)),
      (4L, Array( 2f, 4f, 6f, 8f, -2f, -4f, 1f, 2f))      // parallel to 1 (cos 1.0)
    ).toDF("vec_id", "embedding")
    val pairs = HyperplaneLSH.cosineNearDuplicates(vecs, "vec_id", "embedding",
        dim = dim, threshold = 0.9, nBands = 2, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical and parallel vectors share every sign bit -> every band collides
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0))
    assert(pairs.exists(p => p._1 == 2L && p._2 == 4L))
    // subset-of-brute-force: every reported pair really has cos >= 0.9
    assert(pairs.forall(_._3 >= 0.9))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hyperplane LSH signatures are deterministic integer planes") {
    import graft.vector.HyperplaneLSH
    val w = HyperplaneLSH.planeWeights(0, 4)
    assert(w.toSeq == Seq(((1000003L + 7919L*1) % 1999 - 999).toFloat,
                          ((1000003L + 7919L*2) % 1999 - 999).toFloat,
                          ((1000003L + 7919L*3) % 1999 - 999).toFloat,
                          ((1000003L + 7919L*4) % 1999 - 999).toFloat))
    assert(w.forall(x => x == x.toLong.toFloat)) // exact small ints in float
  }

  test("MLlib-trained IVF: seeded KMeans centers, full assignment, decent recall") {
    import graft.vector.VectorSearch
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sfDir)
    val cents = VectorSearch.trainCentroids(emb, "embedding", k = 4)
    assert(cents.map(_._1) == Seq(0, 1, 2, 3))
    assert(cents.forall(_._2.length == 64))
    // same seed -> same centers (reproducible index build)
    val cents2 = VectorSearch.trainCentroids(emb, "embedding", k = 4)
    assert(cents.map(_._2.toSeq) == cents2.map(_._2.toSeq))

    val assigned = VectorSearch.assignClusters(emb, "embedding", cents)
    assert(assigned.filter(col("cluster").isNull).count() == 0)
    assert(assigned.select("cluster").distinct().count() > 1)

    val q = VectorSearch.queryVector(emb, "vec_id", "embedding", 5L)
    val exact = VectorSearch.knn(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = VectorSearch.ivfSearch(assigned, "vec_id", "embedding",
        cents, q, 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    // nprobe=2 of 4 clusters: expect at least half the true neighbors
    assert(approx.intersect(exact).size >= 5,
      s"recall too low: ${approx.intersect(exact).size}/10")
  }

  test("mixed embedding dimensions raise an error (mutation.rs:239 contract)") {
    import org.apache.spark.sql.functions._
    import graft.functions.F
    val df = Seq((1L, Array(1f, 2f, 3f), Array(1f, 2f))).toDF("id", "a", "b")
    val ex = intercept[Exception] {
      df.select(F.cosineSim(col("a"), col("b"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null && c.getMessage.contains("dimension mismatch")))
  }

  test("binary quantization: self-match at hamming 0 ranks first; shortlist contains brute-force winners") {
    import graft.vector.BinaryQuant
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(13)._2
    val out = BinaryQuant.search(BinaryQuant.encode(df, "embedding"),
      "vec_id", "embedding", q, k = 5, shortlist = 20).collect()
    assert(out.head.getLong(0) == 13L && out.head.getLong(1) == 0L)
    assert(out.head.getDouble(2) == 1.0)
    // brute-force top-1 (the query itself) must be found; top-5 overlap is
    // the recall contract at this shortlist size on random data
    val brute = VectorSearch.knn(df, "vec_id", "embedding", q, k = 5)
      .collect().map(_.getLong(0)).toSet
    val got = out.map(_.getLong(0)).toSet
    assert((brute intersect got).size >= 3, s"poor recall: brute=$brute got=$got")
  }

  test("SemDeDup prunes the higher-id member of a near-identical pair, within clusters only") {
    val cents = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
    val cl = VectorSearch.assignClusters(embDf, "embedding", cents)
    val out = graft.vector.SemDedup.prune(cl, "vec_id", "embedding", tau = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    // cos(0,1)=0.994 -> 1 removed with witness 0; cos(2,3)=0.994 -> 3 removed
    assert(out(0L) == ((false, None)) && out(1L) == ((true, Some(0L))))
    assert(out(2L) == ((false, None)) && out(3L) == ((true, Some(2L))))
    // 5 is in cluster 0 but cos(5, 0)=0.707 < tau -> kept; 4 alone in its space
    assert(out(5L)._1 == false && out(4L)._1 == false)
    // keep() returns exactly the non-removed rows
    val kept = graft.vector.SemDedup.keep(cl, "vec_id", "embedding", tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 4L, 5L))
  }
}
