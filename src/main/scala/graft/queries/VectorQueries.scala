package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.F
import graft.vector.{AdaptiveCutoff, VectorSearch}
import org.apache.spark.sql.functions._

/** Vector operator inventory over the `embeddings` table (64-dim float):
  * brute-force k-NN A4 (src/vec.rs:232-260), adaptive cutoff A7
  * (src/types/adaptive.rs:141-203), IVF cluster pruning as the 100 TB ANN
  * path (stands in for HNSW per SURVEY §7.2), norm/quality stats A13.
  *
  * Oracle note: cosine/L2 are expressed in DuckDB as explicit sequential
  * list folds in double precision, which bit-match the engine's codegen
  * kernels (verified 500/500) — no rounding needed on similarity outputs.
  */
object VectorQueries {

  // ---- shared IVF-family inputs (EdgeCache, the r10 build-once idiom) --
  // Seven gates use the same three centroid vectors (ids 0/1/2), the same
  // query vector (id 5), and the same assigned table; each used to re-run
  // the point-lookup jobs and the assignment scan per gate.

  /** centroid vectors 0/1/2 — one bounded driver lookup per process */
  private[queries] def ivfCents(s: org.apache.spark.sql.SparkSession,
                       d: String): Seq[(Int, Array[Float])] =
    graft.graph.EdgeCache.cachedValue(s, s"$d#vecCents012") {
      val emb = Tables.embeddings(s, d)
      Seq(0L, 1L, 2L).map(i =>
        (i.toInt, VectorSearch.queryVector(emb, "vec_id", "embedding", i)))
    }

  /** query vector by id — one bounded driver lookup per process */
  private def queryVec(s: org.apache.spark.sql.SparkSession, d: String,
                       id: Long): Array[Float] =
    graft.graph.EdgeCache.cachedValue(s, s"$d#vecQv$id") {
      VectorSearch.queryVector(Tables.embeddings(s, d),
        "vec_id", "embedding", id)
    }

  /** the brute-force cosine truth set (top-15 vec_ids for query vec 5) —
    * the most expensive shared input of the recall gates: vec_ivf_recall
    * and all four vec_ann_dashboard rows measure against the SAME truth,
    * so one process computes the full-corpus TakeOrdered exactly once.
    * 15 longs — squarely inside cachedValue's bounded-value contract. */
  private def bruteTruth15(s: org.apache.spark.sql.SparkSession,
                           d: String): Seq[Long] =
    graft.graph.EdgeCache.cachedValue(s, s"$d#bruteTruth15") {
      VectorSearch.knn(Tables.embeddings(s, d), "vec_id", "embedding",
          queryVec(s, d, 5L), k = 15)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    }

  /** sign-bit BQ codes for the whole corpus, pinned — shared by
    * vec_binary_quant and both vec_ann_dashboard runs (the encode is a
    * full-corpus 64-dim lambda scan; one process pays it once) */
  private def bqEncoded(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    graft.graph.EdgeCache.cached(s, s"$d#bqEncoded", corpusScale = true) {
      graft.vector.BinaryQuant.encode(Tables.embeddings(s, d), "embedding")
    }

  /** int8 SQ codes (64-bucket calibration), pinned — shared by
    * vec_scalar_quant and vec_ann_dashboard */
  private def sqEncoded(s: org.apache.spark.sql.SparkSession, d: String,
                        mins: Array[Double], scales: Array[Double])
      : org.apache.spark.sql.DataFrame =
    graft.graph.EdgeCache.cached(s, s"$d#sqEncoded64", corpusScale = true) {
      graft.vector.ScalarQuant.encode(Tables.embeddings(s, d), "embedding",
        mins, scales)
    }

  /** embeddings with their 0/1/2-centroid cluster assignment, pinned;
    * shared with pipe_cluster_balance */
  private[queries] def sharedAssigned(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = ivfAssigned(s, d)

  private def ivfAssigned(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    graft.graph.EdgeCache.cached(s, s"$d#vecAssigned012", corpusScale = true) {
      VectorSearch.assignClusters(Tables.embeddings(s, d),
        "embedding", ivfCents(s, d))
    }


  /** DuckDB fold fragments mirroring VectorKernels */
  private def duckDot(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1]*p[2])), (x,y)->x+y)"
  private def duckNormSq(a: String) =
    s"list_reduce(list_prepend(0.0, list_transform($a, x->x*x)), (x,y)->x+y)"
  private def duckCos(a: String, b: String) =
    s"${duckDot(a, b)} / (sqrt(${duckNormSq(a)}) * sqrt(${duckNormSq(b)}))"
  private def duckL2(a: String, b: String) =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))), (x,y)->x+y))"

  private val qVec = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)"
  private val qVec5 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 5)"
  private val e = "CAST(embedding AS DOUBLE[])"

  // -- PQ gate fixtures: deterministic, data-independent training sample +
  // query so the trained model is a pure function of code (inlinable) --
  private lazy val Pq = new graft.vector.ProductQuantizer(numSubspaces = 8, numCentroids = 16)
  private lazy val PqModel = {
    val emb = new graft.ask.HashEmbedder(64)
    Pq.train(Array.tabulate(256)(i => emb.embed(s"pq train vector $i")))
  }
  private lazy val PqQuery = new graft.ask.HashEmbedder(64).embed("pq probe query")

  // NOTE the explicit DOUBLE cast: DuckDB types a bare 17-digit numeric
  // literal as DECIMAL, and decimal accumulation rounds differently than
  // IEEE double — 1-ULP drift vs the engine without the cast
  private def dlist(xs: Iterable[Double]): String =
    xs.map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")

  private def duckL2sq(c: String, v: String) =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($c, $v), p -> (p[1]-p[2])*(p[1]-p[2]))), (x,y)->x+y)"

  /** codebook literal for subspace s — a DuckDB list of centroid lists */
  private def cbLit(s: Int): String =
    PqModel.codebooks(s).map(c => dlist(c.map(_.toDouble))).mkString("[", ", ", "]")

  /** per-subspace 1-based argmin code exprs over a DOUBLE[] column `v` —
    * the SQL replay of ProductQuantizer.encode's nearest() */
  private def codeExprs: Seq[String] = {
    val sub = PqModel.subDim // 8
    (0 until Pq.numSubspaces).map { s =>
      val cb = cbLit(s)
      val slice = s"v[${s * sub + 1}:${(s + 1) * sub}]"
      s"array_position(list_transform($cb, c -> ${duckL2sq("c", slice)}), " +
        s"list_min(list_transform($cb, c -> ${duckL2sq("c", slice)})))"
    }
  }

  private def pqOracle: String = {
    val table = Pq.distanceTable(PqQuery, PqModel)
    val distSum = table.indices.map(s => s"${dlist(table(s))}[c$s]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |codes AS (
       |  SELECT vec_id, ${codeExprs.zipWithIndex.map { case (x, s) => s"$x AS c$s" }.mkString(", ")}
       |  FROM e)
       |SELECT vec_id, sqrt($distSum) AS pq_dist
       |FROM codes ORDER BY pq_dist, vec_id LIMIT 15""".stripMargin
  }

  /** shared oracle: IVF nprobe=2 / k=15 search for query vec 5 — used by
    * vec_ivf_search (in-session index) and vec_ivf_persisted (the same
    * index written to parquet and reopened); both must match it exactly. */
  private def ivfSearchOracle: String = ivfSearchOracleCols("")

  /** same oracle with extra projected literal columns (e.g. the stream
    * gate's multi_batch bit) — the search answer itself never varies */
  private def ivfSearchOracleCols(extra: String): String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
       |probed AS (
       |  SELECT c.cid FROM cents c, q
       |  ORDER BY ${duckL2("c.cv", "q.qv")}, c.cid LIMIT 2),
       |assigned AS (
       |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev,
       |    (SELECT c.cid FROM cents c
       |     ORDER BY ${duckL2("CAST(e.embedding AS DOUBLE[])", "c.cv")}, c.cid
       |     LIMIT 1) AS cluster
       |  FROM embeddings e)
       |SELECT a.vec_id, ROUND(${duckCos("a.ev", "q.qv")}, 6) AS score$extra
       |FROM assigned a, q
       |WHERE a.cluster IN (SELECT cid FROM probed)
       |ORDER BY ${duckCos("a.ev", "q.qv")} DESC, a.vec_id LIMIT 15""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ---- A4 brute-force cosine top-k ----
    "vec_knn_cosine" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 0L)
        VectorSearch.knn(emb, "vec_id", "embedding", q, k = 20, metric = "cosine")
      },
      s"""SELECT vec_id, ${duckCos(e, "q.qv")} AS score
         |FROM embeddings, (SELECT $qVec AS qv) q
         |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),

    // ---- A4 L2 variant with a candidate (scope) filter ----
    "vec_knn_l2" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 0L)
        VectorSearch.knn(emb, "vec_id", "embedding", q, k = 20, metric = "l2",
          candidateFilter = Some(col("label") =!= 2))
      },
      s"""SELECT vec_id, ${duckL2(e, "q.qv")} AS dist
         |FROM embeddings, (SELECT $qVec AS qv) q
         |WHERE label != 2
         |ORDER BY dist, vec_id LIMIT 20""".stripMargin),

    // ---- A4 MIPS variant: max-inner-product top-k (recommender
    // retrieval — no norm division, so long vectors legitimately win) ----
    "vec_knn_dot" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 0L)
        VectorSearch.knn(emb, "vec_id", "embedding", q, k = 20, metric = "dot")
      },
      s"""SELECT vec_id, ${duckDot(e, "q.qv")} AS score
         |FROM embeddings, (SELECT $qVec AS qv) q
         |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin),

    // ---- A7 adaptive cutoff (relative threshold) over over-fetched list ----
    "vec_knn_adaptive" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 0L)
        val ranked = VectorSearch.knn(emb, "vec_id", "embedding", q, k = 50,
          candidateFilter = Some(col("vec_id") =!= 0))
        AdaptiveCutoff(ranked, "score", AdaptiveCutoff.Relative(0.7))
          .orderBy(col("score").desc, col("vec_id"))
      },
      s"""WITH ranked AS (
         |  SELECT vec_id, ${duckCos(e, "q.qv")} AS score
         |  FROM embeddings, (SELECT $qVec AS qv) q
         |  WHERE vec_id != 0
         |  ORDER BY score DESC, vec_id LIMIT 50)
         |SELECT vec_id, score FROM ranked
         |WHERE score >= 0.7 * (SELECT max(score) FROM ranked)
         |ORDER BY score DESC, vec_id""".stripMargin),

    // ---- A7 breadth: ALL FIVE cutoff strategies over ONE ranked list
    // (src/types/adaptive.rs:141-203 — Absolute/Relative/ScoreCliff/
    // Elbow/Combined). Each strategy's survivor COUNT, id-sum (set
    // checksum), and boundary scores are locked; the oracle replays the
    // windowed cliff/elbow cut arithmetic and Combined's sequential
    // composition (absolute → relative-on-filtered → cliff-on-filtered),
    // so a drift in any one strategy or in how they chain fails the
    // hash. Ties never straddle a cut: cliff/elbow only cut on strictly
    // decreasing scores, so tie order inside the window is immaterial. ----
    "vec_cutoff_matrix" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 0L)
        val ranked = VectorSearch.knn(emb, "vec_id", "embedding", q, k = 50,
          candidateFilter = Some(col("vec_id") =!= 0)).localCheckpoint()
        val strategies: Seq[(String, AdaptiveCutoff.Strategy)] = Seq(
          "absolute" -> AdaptiveCutoff.Absolute(0.25),
          "cliff" -> AdaptiveCutoff.Cliff(0.08),
          "combined" -> AdaptiveCutoff.Combined(0.25, 0.7, 0.08),
          "elbow" -> AdaptiveCutoff.Elbow,
          "relative" -> AdaptiveCutoff.Relative(0.7))
        strategies.map { case (nm, st) =>
          AdaptiveCutoff(ranked, "score", st).agg(
              count(lit(1)).as("n_kept"),
              coalesce(sum(col("vec_id")), lit(0L)).cast("long").as("id_sum"),
              coalesce(min(col("score")), lit(0.0)).as("worst_score"),
              coalesce(max(col("score")), lit(0.0)).as("best_score"))
            .select(lit(nm).as("strategy"), col("n_kept"), col("id_sum"),
              col("worst_score"), col("best_score"))
        }.reduce(_ unionByName _).orderBy(col("strategy"))
      },
      s"""WITH ranked AS (
         |  SELECT vec_id, ${duckCos(e, "q.qv")} AS score
         |  FROM embeddings, (SELECT $qVec AS qv) q
         |  WHERE vec_id != 0
         |  ORDER BY score DESC, vec_id LIMIT 50),
         |abs_k AS (SELECT * FROM ranked WHERE score >= 0.25),
         |rel_k AS (SELECT * FROM ranked
         |          WHERE score >= (SELECT max(score) FROM ranked) * 0.7),
         |cl0 AS (SELECT vec_id, score,
         |          row_number() OVER (ORDER BY score DESC, vec_id) AS rn,
         |          lag(score) OVER (ORDER BY score DESC, vec_id) AS prev
         |        FROM ranked),
         |cliff_k AS (SELECT vec_id, score FROM cl0
         |  WHERE rn < COALESCE((SELECT min(rn) FROM cl0 c2
         |    WHERE c2.prev IS NOT NULL AND c2.score < c2.prev * 0.92), 2147483647)),
         |el0 AS (SELECT vec_id, score,
         |          row_number() OVER (ORDER BY score DESC, vec_id) AS rn,
         |          COALESCE(lag(score) OVER (ORDER BY score DESC, vec_id) - score,
         |                   -1.0) AS gap
         |        FROM ranked),
         |elbow_k AS (SELECT vec_id, score FROM el0
         |  WHERE rn < COALESCE((SELECT min(rn) FROM el0 e2
         |    WHERE e2.gap = (SELECT max(gap) FROM el0) AND e2.gap > 0), 2147483647)),
         |co_b AS (SELECT * FROM abs_k
         |         WHERE score >= (SELECT max(score) FROM abs_k) * 0.7),
         |co0 AS (SELECT vec_id, score,
         |          row_number() OVER (ORDER BY score DESC, vec_id) AS rn,
         |          lag(score) OVER (ORDER BY score DESC, vec_id) AS prev
         |        FROM co_b),
         |comb_k AS (SELECT vec_id, score FROM co0
         |  WHERE rn < COALESCE((SELECT min(rn) FROM co0 c2
         |    WHERE c2.prev IS NOT NULL AND c2.score < c2.prev * 0.92), 2147483647))
         |SELECT strategy, CAST(n_kept AS BIGINT) AS n_kept,
         |       CAST(id_sum AS BIGINT) AS id_sum, worst_score, best_score
         |FROM (
         |  SELECT 'absolute' AS strategy, COUNT(*) AS n_kept,
         |    COALESCE(SUM(vec_id), 0) AS id_sum, COALESCE(MIN(score), 0) AS worst_score,
         |    COALESCE(MAX(score), 0) AS best_score FROM abs_k
         |  UNION ALL SELECT 'cliff', COUNT(*), COALESCE(SUM(vec_id), 0),
         |    COALESCE(MIN(score), 0), COALESCE(MAX(score), 0) FROM cliff_k
         |  UNION ALL SELECT 'combined', COUNT(*), COALESCE(SUM(vec_id), 0),
         |    COALESCE(MIN(score), 0), COALESCE(MAX(score), 0) FROM comb_k
         |  UNION ALL SELECT 'elbow', COUNT(*), COALESCE(SUM(vec_id), 0),
         |    COALESCE(MIN(score), 0), COALESCE(MAX(score), 0) FROM elbow_k
         |  UNION ALL SELECT 'relative', COUNT(*), COALESCE(SUM(vec_id), 0),
         |    COALESCE(MIN(score), 0), COALESCE(MAX(score), 0) FROM rel_k) z
         |ORDER BY strategy""".stripMargin),

    // ---- IVF: nearest-centroid assignment (inverted-list build) ----
    "vec_ivf_assign" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = ivfCents(s, d)
        ivfAssigned(s, d)
          .groupBy(col("cluster"), col("label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("cluster"), col("label"))
      },
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |assigned AS (
         |  SELECT e.vec_id, e.label,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY ${duckL2("CAST(e.embedding AS DOUBLE[])", "c.cv")}, c.cid
         |     LIMIT 1) AS cluster
         |  FROM embeddings e)
         |SELECT cluster, label, COUNT(*) AS n FROM assigned
         |GROUP BY cluster, label ORDER BY cluster, label""".stripMargin),

    // ---- A6 end-to-end IVF search: prune to the nprobe nearest clusters
    // of the query, then exact cosine top-k within the surviving lists ----
    "vec_ivf_search" -> QueryDef.sql(
      (s, d) => {
        F.ensureRegistered(s)
        val emb = Tables.embeddings(s, d)
        val cents = ivfCents(s, d)
        val assigned = ivfAssigned(s, d)
        val q = queryVec(s, d, 5L)
        VectorSearch.ivfSearch(assigned, "vec_id", "embedding", cents, q,
            k = 15, nprobe = 2)
          .withColumn("score", round(col("score"), 6))
      },
      ivfSearchOracle),

    // ---- persisted IVF index (the durable build-once artifact): the
    // index is WRITTEN to disk — assigned table partitioned by cluster +
    // centroid codebook — re-OPENED as a later process would open it,
    // and the nprobe search runs over the persisted form, where the
    // cluster-IN-probed predicate is a PARTITION filter: unprobed
    // cluster directories are never read (plan-locked in
    // PlanPropertiesSpec). Same fixture and oracle as vec_ivf_search —
    // persistence must not change a single bit of the answer. ----
    "vec_ivf_persisted" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_ivf_idx") { dir =>
        F.ensureRegistered(s)
        val idx = graft.vector.IvfIndex.write(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", dir, ivfCents(s, d))
        idx.search("vec_id", "embedding", queryVec(s, d, 5L),
            k = 15, nprobe = 2)
          .withColumn("score", round(col("score"), 6))
      },
      ivfSearchOracle),

    // ---- incremental vector APPEND into the persisted IVF index
    // (IvfIndex.append; the other half of the upkeep contract —
    // MV2_SPEC.md index rebuild + src/vec.rs:57-60: new vectors join the
    // standing index, a full retrain waits for the drift signal): the
    // index is built from the vec_id % 10 != 0 majority, the delta batch
    // is assigned against the SAME gen-0 codebook with the SAME float
    // kernel write() used and lands as new files inside the existing
    // cluster partitions — |delta| work, no corpus re-scan — and the
    // nprobe search runs over the merged artifact. The oracle IS the
    // full-corpus build (identical to vec_ivf_search/vec_ivf_persisted):
    // a lost delta vector, a kernel drift, or a partition misroute
    // hash-fails. ----
    "vec_ivf_append" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_ivf_append") { dir =>
        F.ensureRegistered(s)
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        graft.vector.IvfIndex.write(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", dir, ivfCents(s, d))
        val idx = graft.vector.IvfIndex.append(s, dir,
          emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding")
        idx.search("vec_id", "embedding", queryVec(s, d, 5L),
            k = 15, nprobe = 2)
          .withColumn("score", round(col("score"), 6))
      },
      ivfSearchOracle),

    // ---- STREAMING maintenance of the persisted IVF index (the vector
    // twin of stream_bm25_append; reference: the enrichment worker folds
    // newly-embedded frames into the standing vec index continuously,
    // src/enrichment_worker.rs:270-360): gen-0 is built from the
    // vec_id % 10 != 0 majority, the % 10 == 0 delta arrives as FOUR
    // parquet files draining at one file per micro-batch (multi_batch
    // locks that several batches really ran), each batch appending its
    // own committed delta dir — and a FIFTH file replays vectors the
    // base already indexed, which the anti-join idempotence guard must
    // drop. The oracle IS the full-corpus IVF search (identical to
    // vec_ivf_search): a lost batch, a double-appended replay, or a
    // codebook/kernel drift all hash-fail. ----
    "stream_vec_append" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft-st-vec") { dir =>
        F.ensureRegistered(s)
        val in = s"$dir/in"
        val idxDir = s"$dir/idx"
        val ck = s"$dir/ck"
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        graft.vector.IvfIndex.write(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", idxDir, ivfCents(s, d))
        Seq(col("vec_id") % 40 === 0, col("vec_id") % 40 === 10,
            col("vec_id") % 40 === 20, col("vec_id") % 40 === 30,
            col("vec_id") % 10 === 1) // already indexed: pure replay
          .foreach(p => emb.filter(p).coalesce(1)
            .write.mode("append").parquet(in))
        val q = graft.streaming.StreamingIngest.runVecIndexStream(
          s, in, idxDir, ck, "vec_id", "embedding", emb.schema)
        q.awaitTermination()
        val nBatches = Scratch.offsetBatches(s, ck)
        val idx = graft.vector.IvfIndex.read(s, idxDir)
        idx.search("vec_id", "embedding", queryVec(s, d, 5L),
            k = 15, nprobe = 2)
          .withColumn("score", round(col("score"), 6))
          .withColumn("multi_batch", lit(nBatches >= 3))
      },
      ivfSearchOracleCols(", TRUE AS multi_batch")),

    // ---- drift-triggered RE-TRAIN of the persisted IVF index
    // (IvfIndex.retrain; reference upkeep contract: k-means retraining
    // src/vec_pq.rs:106-150 + MV2_SPEC.md index rebuild — vec_ivf_drift
    // computes the signal, this executes it): build the persisted index
    // from the 0/1/2 seed centroids, run ONE Lloyd update from the
    // persisted assignments (exact-DECIMAL per-dim means → 6dp doubles,
    // empty clusters keep their centroid), re-assign everything in
    // double, and REWRITE the cluster-partitioned layout + codebook via
    // the FS-rename swap. The gate locks per-cluster populations BEFORE
    // and AFTER (the drifted cluster re-balances) plus each centroid's
    // shift_l2, all read back from the REWRITTEN artifact; the oracle
    // replays assign → means → re-assign with the vec_kmeans_lloyd CTE
    // chain seeded by the IVF assignment. ----
    "vec_ivf_retrain" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft_ivf_retrain") { dir =>
        import s.implicits._
        F.ensureRegistered(s)
        val idx = graft.vector.IvfIndex.write(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", dir, ivfCents(s, d))
        // bounded (k rows): populations of the gen-0 artifact, collected
        // BEFORE the rewrite replaces the directory
        val nBefore = idx.assigned.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val oldCents = idx.centroids
        val idx2 = graft.vector.IvfIndex.retrain(s, dir, "vec_id", "embedding")
        val shifts = oldCents.map { case (cid, c0) =>
          val c1 = idx2.centroids.find(_._1 == cid).get._2
          val l2 = math.sqrt(
            c0.zip(c1).map { case (a, b) => (a - b) * (a - b) }.sum)
          (cid, nBefore.getOrElse(cid, 0L),
            math.BigDecimal(l2)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        s.createDataFrame(shifts)
          .toDF("cluster", "n_before", "shift_l2")
          .join(idx2.assigned.groupBy(col("cluster"))
            .agg(count(lit(1)).as("n_after")), Seq("cluster"), "left")
          .select(col("cluster"), col("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"), col("shift_l2"))
          .orderBy(col("cluster"))
      },
      s"""WITH c0 AS (SELECT CAST(vec_id AS INT) AS cid, $e AS cv
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |ev AS (SELECT vec_id, $e AS v FROM embeddings),
         |a0 AS MATERIALIZED (SELECT ev.vec_id, ev.v,
         |    (SELECT c.cid FROM c0 c
         |     ORDER BY ${duckL2("ev.v", "c.cv")}, c.cid LIMIT 1) AS cluster
         |  FROM ev),
         |m AS (SELECT a0.cluster, dd.d,
         |    ROUND(CAST(SUM(CAST(v[CAST(dd.d AS INT)+1] AS DECIMAL(38,12)))
         |      / COUNT(*) AS DOUBLE), 6) AS mv
         |  FROM a0, (SELECT unnest(range(64)) AS d) dd
         |  GROUP BY a0.cluster, dd.d),
         |ml AS (SELECT cluster, list(mv ORDER BY d) AS l FROM m GROUP BY cluster),
         |c1 AS MATERIALIZED (SELECT c0.cid, COALESCE(ml.l, c0.cv) AS cv
         |  FROM c0 LEFT JOIN ml ON ml.cluster = c0.cid),
         |a1 AS (SELECT ev.vec_id,
         |    (SELECT c.cid FROM c1 c
         |     ORDER BY ${duckL2sq("c.cv", "ev.v")}, c.cid LIMIT 1) AS cluster
         |  FROM ev),
         |nb AS (SELECT cluster, COUNT(*) AS n_before FROM a0 GROUP BY cluster),
         |na AS (SELECT cluster, COUNT(*) AS n_after FROM a1 GROUP BY cluster),
         |sh AS (SELECT c0.cid AS cluster,
         |    ROUND(sqrt(${duckL2sq("c0.cv", "c1.cv")}), 6) AS shift_l2
         |  FROM c0 JOIN c1 ON c1.cid = c0.cid)
         |SELECT s2.cluster, COALESCE(nb.n_before, 0) AS n_before,
         |  COALESCE(na.n_after, 0) AS n_after, s2.shift_l2
         |FROM sh s2 LEFT JOIN nb USING (cluster) LEFT JOIN na USING (cluster)
         |ORDER BY s2.cluster""".stripMargin),

    // ---- A6 IVF + embedded per-cluster index (the HNSW wiring): vectors
    // shuffle once keyed by cluster, each cluster is answered locally by
    // Hnsw.searchAuto, per-cluster top-k merge in one bounded TakeOrdered.
    // The gate pins switchThreshold = MaxValue — the EXACT brute branch —
    // because a graph walk is not SQL-replayable; the ≥1000 HNSW branch is
    // the same code path with the default threshold and its approximate
    // contract (recall vs brute force) is asserted in VectorSpec/HnswSpec.
    "vec_ivf_hnsw" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = ivfCents(s, d)
        val assigned = ivfAssigned(s, d)
        val q = queryVec(s, d, 5L)
        VectorSearch.ivfSearchEmbedded(assigned, "vec_id", "embedding", cents,
          q, k = 15, nprobe = 2, switchThreshold = Int.MaxValue)
      },
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
         |probed AS (
         |  SELECT c.cid FROM cents c, q
         |  ORDER BY ${duckL2("c.cv", "q.qv")}, c.cid LIMIT 2),
         |assigned AS (
         |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY ${duckL2("CAST(e.embedding AS DOUBLE[])", "c.cv")}, c.cid
         |     LIMIT 1) AS cluster
         |  FROM embeddings e)
         |SELECT a.vec_id, ${duckL2("a.ev", "q.qv")} AS dist
         |FROM assigned a, q
         |WHERE a.cluster IN (SELECT cid FROM probed)
         |ORDER BY dist, a.vec_id LIMIT 15""".stripMargin),

    // ---- ANN observability: measured recall@15 of IVF(nprobe=2) against
    // the brute-force truth — the index-quality report an operator reads
    // next to vec_ivf_drift before deciding to re-train or raise nprobe.
    // Both sides are deterministic, so even the recall NUMBER replays. ----
    "vec_ivf_recall" -> QueryDef.sql(
      (s, d) => {
        val cents = ivfCents(s, d)
        val assigned = ivfAssigned(s, d)
        val q = queryVec(s, d, 5L)
        val ivf = VectorSearch.ivfSearch(assigned, "vec_id", "embedding",
          cents, q, k = 15, nprobe = 2).select("vec_id")
        import s.implicits._
        val brute = bruteTruth15(s, d).toDF("vec_id")
        ivf.join(brute, "vec_id")
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(15L).as("k"), col("n_overlap"),
            round(col("n_overlap") / 15.0, 6).as("recall"))
      },
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
         |probed AS (
         |  SELECT c.cid FROM cents c, q
         |  ORDER BY ${duckL2("c.cv", "q.qv")}, c.cid LIMIT 2),
         |assigned AS (
         |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY ${duckL2("CAST(e.embedding AS DOUBLE[])", "c.cv")}, c.cid
         |     LIMIT 1) AS cluster
         |  FROM embeddings e),
         |ivf AS (
         |  SELECT a.vec_id FROM assigned a, q
         |  WHERE a.cluster IN (SELECT cid FROM probed)
         |  ORDER BY ${duckCos("a.ev", "q.qv")} DESC, a.vec_id LIMIT 15),
         |brute AS (
         |  SELECT vec_id FROM embeddings, q
         |  ORDER BY ${duckCos(e, "q.qv")} DESC, vec_id LIMIT 15)
         |SELECT CAST(15 AS BIGINT) AS k, COUNT(*) AS n_overlap,
         |  ROUND(COUNT(*) / 15.0, 6) AS recall
         |FROM ivf JOIN brute USING (vec_id)""".stripMargin),

    // ---- ANN quality dashboard: recall@15 of every approximate index
    // family — IVF (nprobe 2), sign-bit BQ (shortlist 40), int8 SQ
    // (shortlist 40) — against the same brute-force truth, in one report.
    // The recall NUMBERS are deterministic and the oracle replays all
    // three methods end to end; this is the index-selection evidence an
    // operator reads before choosing a compression point. ----
    "vec_ann_dashboard" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 5L)
        import s.implicits._
        // 15-row truth set, referenced by all four overlap joins AND by
        // vec_ivf_recall: cachedValue computes the brute TakeOrdered once
        // per process; here it is a 15-row local relation (broadcast side)
        val brute = bruteTruth15(s, d).toDF("vec_id")
        def row(ids: org.apache.spark.sql.DataFrame, name: String) =
          ids.select("vec_id").join(brute, "vec_id")
            .agg(count(lit(1)).as("n_overlap"))
            .select(lit(name).as("method"), lit(15L).as("k"),
              col("n_overlap"), round(col("n_overlap") / 15.0, 6).as("recall"))
        val cents = ivfCents(s, d)
        val ivf = VectorSearch.ivfSearch(
          ivfAssigned(s, d),
          "vec_id", "embedding", cents, q, k = 15, nprobe = 2)
        val bq = graft.vector.BinaryQuant.search(
          bqEncoded(s, d),
          "vec_id", "embedding", q, k = 15, shortlist = 40)
        val (mins, scales) = graft.graph.EdgeCache.cachedValue(s, s"$d#sqCal64") {
          graft.vector.ScalarQuant.calibrate(emb, "embedding", 64) }
        val sq = graft.vector.ScalarQuant.search(
          sqEncoded(s, d, mins, scales),
          "vec_id", "embedding", q, mins, scales, k = 15, shortlist = 40)
        // SQ8-for-cosine: quantize the NORMALIZED vectors — dot order on
        // the unit sphere IS cosine order, so the same integer shortlist
        // becomes angle-faithful (raw-SQ is a MIPS index; compare rows)
        val normEmb = graft.graph.EdgeCache.cached(s, s"$d#embNorm", corpusScale = true) {
          graft.vector.ScalarQuant.normalize(emb, "embedding", "embn")
        }
        val (minsN, scalesN) = graft.graph.EdgeCache.cachedValue(s, s"$d#sqCalNorm64") {
          graft.vector.ScalarQuant.calibrate(normEmb, "embn", 64) }
        val qn = {
          val n = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
          if (n > 0) q.map(_.toDouble / n) else q.map(_ => 0.0)
        }
        // asymmetric SQ distance: shortlist ranks by the dot of the
        // DEQUANTIZED corpus codes against the float query (Faiss's SQ
        // search) — a raw code·code dot is biased by the per-dim affine
        // offsets (Σ mn_d·v_d varies per vector) and ranks wrongly
        val sqn = graft.vector.ScalarQuant.encode(normEmb, "embn", minsN, scalesN)
          .withColumn("sdot", aggregate(
            transform(sequence(lit(0), lit(63)),
              dd => (element_at(typedlit(minsN), dd + 1) +
                     when(element_at(typedlit(scalesN), dd + 1) > 0,
                       element_at(col("codes"), dd + 1) /
                         element_at(typedlit(scalesN), dd + 1))
                       .otherwise(lit(0.0))) *
                    element_at(typedlit(qn), dd + 1)),
            lit(0.0), (a, b) => a + b))
          .orderBy(col("sdot").desc, col("vec_id")).limit(40)
          .withColumn("dotn", aggregate(
            transform(sequence(lit(0), lit(63)),
              dd => element_at(col("embn"), dd + 1) *
                    element_at(typedlit(qn), dd + 1)),
            lit(0.0), (a, b) => a + b))
          .orderBy(col("dotn").desc, col("vec_id")).limit(15)
        row(ivf, "ivf").unionByName(row(bq, "bq")).unionByName(row(sq, "sq"))
          .unionByName(row(sqn, "sq_norm"))
          .orderBy(col("method"))
      },
      {
        def w(v: String, off: Int) =
          s"list_reduce(list_transform(range(32), i -> CASE WHEN $v[i+${off + 1}] > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END), (a,b)->a+b)"
        s"""WITH e AS (SELECT vec_id, $e AS v FROM embeddings),
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 5),
           |brute AS (SELECT vec_id FROM e, q
           |          ORDER BY ${duckCos("e.v", "q.qv")} DESC, vec_id LIMIT 15),
           |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN (0, 1, 2)),
           |probed AS (SELECT c.cid FROM cents c, q
           |           ORDER BY ${duckL2("c.cv", "q.qv")}, c.cid LIMIT 2),
           |assigned AS (SELECT e.vec_id, e.v AS ev,
           |    (SELECT c.cid FROM cents c
           |     ORDER BY ${duckL2("e.v", "c.cv")}, c.cid LIMIT 1) AS cluster
           |  FROM e),
           |ivf AS (SELECT a.vec_id FROM assigned a, q
           |        WHERE a.cluster IN (SELECT cid FROM probed)
           |        ORDER BY ${duckCos("a.ev", "q.qv")} DESC, a.vec_id LIMIT 15),
           |bits AS (SELECT vec_id, v, ${w("v", 0)} AS b0, ${w("v", 32)} AS b1 FROM e),
           |qb AS (SELECT ${w("qv", 0)} AS q0, ${w("qv", 32)} AS q1 FROM q),
           |bshort AS (SELECT b.vec_id, b.v,
           |    CAST(bit_count(xor(b.b0, qb.q0)) + bit_count(xor(b.b1, qb.q1)) AS BIGINT) AS hamming
           |  FROM bits b, qb ORDER BY hamming, vec_id LIMIT 40),
           |bq AS (SELECT s2.vec_id FROM bshort s2, q
           |       ORDER BY ROUND(${duckCos("s2.v", "q.qv")}, 6) DESC, vec_id LIMIT 15),
           |cal AS (SELECT d2, MIN(v[CAST(d2 AS INT)+1]) AS mn, MAX(v[CAST(d2 AS INT)+1]) AS mx
           |        FROM e, (SELECT unnest(range(64)) AS d2) ds GROUP BY d2),
           |sc AS (SELECT d2, mn, CASE WHEN mx > mn THEN 254.0/(mx - mn) ELSE 0.0 END AS s FROM cal),
           |cd AS (SELECT e.vec_id, s.d2,
           |         CAST(greatest(0.0, least(254.0,
           |           floor((e.v[CAST(s.d2 AS INT)+1] - s.mn) * s.s + 0.5))) AS BIGINT) AS c
           |       FROM e, sc s),
           |qc AS (SELECT s.d2,
           |         CAST(greatest(0.0, least(254.0,
           |           floor((q.qv[CAST(s.d2 AS INT)+1] - s.mn) * s.s + 0.5))) AS BIGINT) AS c
           |       FROM q, sc s),
           |dot AS (SELECT cd.vec_id, CAST(SUM(cd.c * qc.c) AS BIGINT) AS qdot
           |        FROM cd JOIN qc USING (d2) GROUP BY cd.vec_id),
           |sshort AS (SELECT d3.vec_id, d3.qdot, e.v FROM dot d3 JOIN e USING (vec_id)
           |           ORDER BY d3.qdot DESC, vec_id LIMIT 40),
           |sq AS (SELECT s3.vec_id FROM sshort s3, q
           |       ORDER BY ROUND(${duckCos("s3.v", "q.qv")}, 6) DESC, vec_id LIMIT 15),
           |en2 AS (SELECT vec_id,
           |    CASE WHEN ${duckNormSq("v")} > 0
           |      THEN list_transform(v, x -> x / sqrt(${duckNormSq("v")}))
           |      ELSE list_transform(v, x -> 0.0) END AS vn
           |  FROM e),
           |qn AS (SELECT list_transform(qv, x -> x / sqrt(${duckNormSq("qv")})) AS qnv FROM q),
           |caln AS (SELECT d4, MIN(vn[CAST(d4 AS INT)+1]) AS mn, MAX(vn[CAST(d4 AS INT)+1]) AS mx
           |         FROM en2, (SELECT unnest(range(64)) AS d4) ds2 GROUP BY d4),
           |scn AS (SELECT d4, mn, CASE WHEN mx > mn THEN 254.0/(mx - mn) ELSE 0.0 END AS s FROM caln),
           |cdn AS (SELECT en2.vec_id, s.d4,
           |          CAST(greatest(0.0, least(254.0,
           |            floor((en2.vn[CAST(s.d4 AS INT)+1] - s.mn) * s.s + 0.5))) AS BIGINT) AS c
           |        FROM en2, scn s),
           |codesn AS (SELECT vec_id, list(c ORDER BY d4) AS cl FROM cdn GROUP BY vec_id),
           |scl AS (SELECT list(mn ORDER BY d4) AS mnl, list(s ORDER BY d4) AS sl FROM scn),
           |deqdot AS (SELECT c2.vec_id,
           |    list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
           |      (mnl[CAST(dd AS INT)+1] + CASE WHEN sl[CAST(dd AS INT)+1] > 0
           |         THEN cl[CAST(dd AS INT)+1] / sl[CAST(dd AS INT)+1] ELSE 0.0 END)
           |      * qnv[CAST(dd AS INT)+1])), (a,b) -> a + b) AS sdot
           |  FROM codesn c2, scl, qn),
           |nshort AS (SELECT d5.vec_id, d5.sdot, en2.vn
           |           FROM deqdot d5 JOIN en2 USING (vec_id)
           |           ORDER BY d5.sdot DESC, vec_id LIMIT 40),
           |sqn AS (SELECT s4.vec_id FROM nshort s4, qn
           |        ORDER BY ${duckDot("s4.vn", "qn.qnv")} DESC, vec_id LIMIT 15)
           |SELECT method, CAST(15 AS BIGINT) AS k, n_overlap,
           |  ROUND(n_overlap / 15.0, 6) AS recall
           |FROM (
           |  SELECT 'ivf' AS method, COUNT(*) AS n_overlap FROM ivf JOIN brute USING (vec_id)
           |  UNION ALL SELECT 'bq', COUNT(*) FROM bq JOIN brute USING (vec_id)
           |  UNION ALL SELECT 'sq', COUNT(*) FROM sq JOIN brute USING (vec_id)
           |  UNION ALL SELECT 'sq_norm', COUNT(*) FROM sqn JOIN brute USING (vec_id)
           |) z ORDER BY method""".stripMargin
      }),

    // ---- fully-replayable Lloyd k-means (VectorSearch.kmeansLloyd, vs
    // the seeded-MLlib black box behind IVF): assign → exact-DECIMAL
    // per-dim means rounded to 6dp doubles → reassign; the oracle replays
    // BOTH rounds — assignments, centroid updates, final populations, and
    // the seed→trained centroid shift. Empty clusters keep their seed. ----
    "vec_kmeans_lloyd" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val seeds = Seq(0L, 1L, 2L, 3L).map(i => (i.toInt,
          VectorSearch.queryVector(emb, "vec_id", "embedding", i)
            .map(_.toDouble)))
        val (cents, assigned) =
          VectorSearch.kmeansLloyd(emb, "embedding", seeds, iterations = 2)
        val shifts = seeds.map { case (cid, s0) =>
          val c1 = cents.find(_._1 == cid).get._2
          val l2 = math.sqrt(
            s0.zip(c1).map { case (a, b) => (a - b) * (a - b) }.sum)
          (cid, math.BigDecimal(l2)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        val shiftDf = s.createDataFrame(shifts).toDF("cluster", "shift_l2")
        shiftDf.join(
            assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n")),
            Seq("cluster"), "left")
          .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
            col("shift_l2"))
          .orderBy(col("cluster"))
      },
      s"""WITH c0 AS (SELECT CAST(vec_id AS INT) AS cid, $e AS cv
         |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
         |ev AS (SELECT vec_id, $e AS v FROM embeddings),
         |a1 AS MATERIALIZED (SELECT ev.vec_id, ev.v,
         |    (SELECT c.cid FROM c0 c
         |     ORDER BY ${duckL2sq("c.cv", "ev.v")}, c.cid LIMIT 1) AS cluster
         |  FROM ev),
         |m AS (SELECT a1.cluster, dd.d,
         |    ROUND(CAST(SUM(CAST(v[CAST(dd.d AS INT)+1] AS DECIMAL(38,12)))
         |      / COUNT(*) AS DOUBLE), 6) AS mv
         |  FROM a1, (SELECT unnest(range(64)) AS d) dd
         |  GROUP BY a1.cluster, dd.d),
         |ml AS (SELECT cluster, list(mv ORDER BY d) AS l FROM m GROUP BY cluster),
         |c1 AS MATERIALIZED (SELECT c0.cid, COALESCE(ml.l, c0.cv) AS cv
         |  FROM c0 LEFT JOIN ml ON ml.cluster = c0.cid),
         |a2 AS (SELECT ev.vec_id,
         |    (SELECT c.cid FROM c1 c
         |     ORDER BY ${duckL2sq("c.cv", "ev.v")}, c.cid LIMIT 1) AS cluster
         |  FROM ev),
         |cnt AS (SELECT cluster, COUNT(*) AS n FROM a2 GROUP BY cluster),
         |shift AS (SELECT c0.cid AS cluster,
         |    ROUND(sqrt(${duckL2sq("c0.cv", "c1.cv")}), 6) AS shift_l2
         |  FROM c0 JOIN c1 ON c1.cid = c0.cid)
         |SELECT s2.cluster, COALESCE(cnt.n, 0) AS n, s2.shift_l2
         |FROM shift s2 LEFT JOIN cnt USING (cluster)
         |ORDER BY s2.cluster""".stripMargin),

    // ---- IVF index upkeep: per-cluster population + distortion stats,
    // the "does the index need re-training" signal. Per-row L2 distortions
    // bit-match the oracle's double folds; the cross-row mean goes through
    // exact DECIMAL sums on both sides (no raw double aggregation). ----
    "vec_ivf_drift" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = ivfCents(s, d)
        VectorSearch.ivfDriftStats(
          ivfAssigned(s, d), "embedding", cents)
      },
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |assigned AS (
         |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         |    (SELECT c.cid FROM cents c
         |     ORDER BY ${duckL2("CAST(e.embedding AS DOUBLE[])", "c.cv")}, c.cid
         |     LIMIT 1) AS cluster
         |  FROM embeddings e),
         |dd AS (
         |  SELECT a.cluster,
         |    CAST(${duckL2("a.v", "c.cv")} AS DECIMAL(38,12)) AS d
         |  FROM assigned a JOIN cents c ON c.cid = a.cluster)
         |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
         |  ROUND(CAST(SUM(d) / COUNT(*) AS DOUBLE), 6) AS mean_distortion,
         |  ROUND(CAST(MAX(d) AS DOUBLE), 6) AS max_distortion
         |FROM dd GROUP BY cluster ORDER BY cluster""".stripMargin),

    // ---- A5+A6 composed: IVF-PQ with exact re-rank (FAISS IVFPQ shape).
    // The corpus pass touches only (cluster, 8 byte-codes); raw vectors are
    // read for the 45-row shortlist only. The oracle replays centroid
    // assignment, probe, per-subspace argmin codes, the asymmetric distance
    // sums, both cut points, and the exact re-rank — all double-exact. ----
    "vec_ivfpq_search" -> QueryDef.sql(
      (s, d) => {
        F.ensureRegistered(s)
        val emb = Tables.embeddings(s, d)
        val cents = ivfCents(s, d)
        val q = queryVec(s, d, 5L)
        val assigned = ivfAssigned(s, d)
        val enc = Pq.encode(assigned, "embedding", PqModel)
        Pq.ivfPqSearch(enc, "vec_id", "embedding", cents, q, PqModel,
          k = 15, nprobe = 2, refine = 3)
      },
      {
        val sub = PqModel.subDim
        val terms = (0 until Pq.numSubspaces).map(s =>
          duckL2sq(s"${cbLit(s)}[c$s]", s"qv[${s * sub + 1}:${(s + 1) * sub}]"))
          .mkString(" + ")
        s"""WITH cents AS (
           |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
           |probed AS (
           |  SELECT c.cid FROM cents c, q
           |  ORDER BY ${duckL2("c.cv", "q.qv")}, c.cid LIMIT 2),
           |assigned AS (
           |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
           |    (SELECT c.cid FROM cents c
           |     ORDER BY ${duckL2("CAST(e.embedding AS DOUBLE[])", "c.cv")}, c.cid
           |     LIMIT 1) AS cluster
           |  FROM embeddings e),
           |codes AS (
           |  SELECT vec_id, ${codeExprs.zipWithIndex.map { case (x, s) => s"$x AS c$s" }.mkString(", ")}
           |  FROM assigned WHERE cluster IN (SELECT cid FROM probed)),
           |short AS (
           |  SELECT vec_id, sqrt($terms) AS pq_dist FROM codes, q
           |  ORDER BY pq_dist, vec_id LIMIT 45)
           |SELECT a.vec_id, ${duckL2("a.v", "q.qv")} AS dist
           |FROM assigned a, q
           |WHERE a.vec_id IN (SELECT vec_id FROM short)
           |ORDER BY dist, a.vec_id LIMIT 15""".stripMargin
      }),

    // ---- binary quantization ANN: sign-bit words (2 BIGINTs per vector,
    // the 16-byte index the corpus pass scans), Hamming shortlist of 40,
    // exact cosine re-rank to 15. Every stage deterministic; the oracle
    // rebuilds the bit words, the xor/bit_count shortlist, and the
    // re-rank double-exact. ----
    "vec_binary_quant" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 5L)
        graft.vector.BinaryQuant.search(
          bqEncoded(s, d),
          "vec_id", "embedding", q, k = 15, shortlist = 40)
      },
      {
        def w(v: String, off: Int) =
          s"list_reduce(list_transform(range(32), i -> CASE WHEN $v[i+${off + 1}] > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END), (a,b)->a+b)"
        s"""WITH e AS (SELECT vec_id, $e AS v FROM embeddings),
           |q AS (SELECT $qVec5 AS qv),
           |bits AS (SELECT vec_id, v, ${w("v", 0)} AS b0, ${w("v", 32)} AS b1 FROM e),
           |qb AS (SELECT ${w("qv", 0)} AS q0, ${w("qv", 32)} AS q1 FROM q),
           |short AS (
           |  SELECT b.vec_id, b.v,
           |    CAST(bit_count(xor(b.b0, qb.q0)) + bit_count(xor(b.b1, qb.q1)) AS BIGINT) AS hamming
           |  FROM bits b, qb ORDER BY hamming, vec_id LIMIT 40)
           |SELECT s.vec_id, s.hamming, ROUND(${duckCos("s.v", "q.qv")}, 6) AS score
           |FROM short s, q ORDER BY score DESC, vec_id LIMIT 15""".stripMargin
      }),

    // ---- MMR diversified retrieval (vector/Mmr, Carbonell & Goldstein
    // 1998): cosine shortlist (bounded TakeOrdered), then the greedy
    // λ·rel − (1−λ)·max-sim-to-picked loop over the collected shortlist
    // (the sanctioned bounded-top-k′ driver reduction, as in Ask fusion).
    // The oracle unrolls all 10 picks; every sim is the same index-ordered
    // double fold, ties break on id, so the whole greedy trajectory
    // replays hash-exactly. The redundancy coefficient is written
    // (1.0 - 0.7) on BOTH sides — the literal 0.3 is a different double
    // (1 ulp) and can flip a greedy argmax on near-tie data. ----
    "vec_mmr_diversify" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = queryVec(s, d, 5L)
        graft.vector.Mmr.diversify(emb, "vec_id", "embedding", q,
          k = 10, shortlist = 40, lambda = 0.7)
      },
      {
        val rounds = (2 to 10).map { r =>
          val pk = r - 1
          s"""c$r AS (SELECT c.vec_id, c.v, c.rel,
             |  0.7*c.rel - (1.0 - 0.7)*(SELECT MAX(${duckCos("c.v", "pw.v")}) FROM pk$pk pw) AS mmr
             |  FROM sh c WHERE c.vec_id NOT IN (SELECT vec_id FROM pk$pk)),
             |p$r AS MATERIALIZED (SELECT * FROM c$r ORDER BY mmr DESC, vec_id LIMIT 1),
             |pk$r AS MATERIALIZED (SELECT vec_id, v FROM pk$pk
             |                      UNION ALL SELECT vec_id, v FROM p$r)""".stripMargin
        }.mkString(",\n")
        val union = (1 to 10).map(r =>
          s"SELECT CAST($r AS BIGINT) AS rank, vec_id, rel, mmr FROM p$r")
          .mkString("\nUNION ALL ")
        s"""WITH e AS (SELECT vec_id, $e AS v FROM embeddings),
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 5),
           |sh AS MATERIALIZED (SELECT vec_id, v, ${duckCos("v", "q.qv")} AS rel
           |                    FROM e, q ORDER BY rel DESC, vec_id LIMIT 40),
           |p1 AS MATERIALIZED (SELECT vec_id, v, rel, 0.7*rel AS mmr FROM sh
           |                    ORDER BY mmr DESC, vec_id LIMIT 1),
           |pk1 AS MATERIALIZED (SELECT vec_id, v FROM p1),
           |$rounds
           |SELECT rank, vec_id, ROUND(rel, 6) AS relevance, ROUND(mmr, 6) AS mmr
           |FROM ($union) u ORDER BY rank""".stripMargin
      }),

    // ---- int8-style scalar quantization (vector/ScalarQuant): per-dim
    // min/max calibration → codes 0..254 → integer-dot shortlist → exact
    // re-rank. floor(x·s + 0.5) with an identical operation sequence on
    // both sides (never round(), whose half-way semantics differ), so
    // codes, shortlist, and re-rank all replay hash-exactly. ----
    "vec_scalar_quant" -> QueryDef.sql(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val (mins, scales) = graft.graph.EdgeCache.cachedValue(s, s"$d#sqCal64") {
          graft.vector.ScalarQuant.calibrate(emb, "embedding", 64) }
        val q = queryVec(s, d, 5L)
        graft.vector.ScalarQuant.search(
          sqEncoded(s, d, mins, scales),
          "vec_id", "embedding", q, mins, scales, k = 15, shortlist = 40)
      },
      s"""WITH e AS (SELECT vec_id, $e AS v FROM embeddings),
         |cal AS (SELECT d, MIN(v[CAST(d AS INT)+1]) AS mn, MAX(v[CAST(d AS INT)+1]) AS mx
         |        FROM e, (SELECT unnest(range(64)) AS d) ds GROUP BY d),
         |sc AS (SELECT d, mn,
         |         CASE WHEN mx > mn THEN 254.0/(mx - mn) ELSE 0.0 END AS s
         |       FROM cal),
         |cd AS (SELECT e.vec_id, s.d,
         |         CAST(greatest(0.0, least(254.0,
         |           floor((e.v[CAST(s.d AS INT)+1] - s.mn) * s.s + 0.5))) AS BIGINT) AS c
         |       FROM e, sc s),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 5),
         |qc AS (SELECT s.d,
         |         CAST(greatest(0.0, least(254.0,
         |           floor((q.qv[CAST(s.d AS INT)+1] - s.mn) * s.s + 0.5))) AS BIGINT) AS c
         |       FROM q, sc s),
         |dot AS (SELECT cd.vec_id, CAST(SUM(cd.c * qc.c) AS BIGINT) AS qdot
         |        FROM cd JOIN qc USING (d) GROUP BY cd.vec_id),
         |short AS (SELECT d2.vec_id, d2.qdot, e.v
         |          FROM dot d2 JOIN e USING (vec_id)
         |          ORDER BY d2.qdot DESC, vec_id LIMIT 40)
         |SELECT s2.vec_id, s2.qdot, ROUND(${duckCos("s2.v", "q.qv")}, 6) AS score
         |FROM short s2, q ORDER BY score DESC, vec_id LIMIT 15""".stripMargin),

    // ---- hyperplane LSH: banded cosine near-dup with exact verification.
    // The oracle replays the deterministic integer hyperplanes, sequential
    // dot folds, bucket keys, and verification — the approximation itself
    // is reproduced hash-exactly. ----
    "vec_lsh_cosine" -> QueryDef.sql(
      (s, d) => {
        F.ensureRegistered(s)
        graft.vector.HyperplaneLSH.cosineNearDuplicates(
            Tables.embeddings(s, d), "vec_id", "embedding",
            dim = 64, threshold = 0.4)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      s"""WITH emb AS (SELECT vec_id, $e AS v FROM embeddings),
         |sig AS (
         |  SELECT vec_id, v,
         |    [CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(64),
         |        i -> v[i+1] * CAST(((1000003*(p+1) + 7919*(i+1)) % 1999) - 999 AS DOUBLE))), (a,b)->a+b) > 0
         |      THEN 1 ELSE 0 END FOR p IN range(24)] AS bits
         |  FROM emb),
         |banded AS (
         |  SELECT vec_id, v, b AS band,
         |    ${(0 until 8).map(j => s"bits[8*b+${j + 1}]*${1 << (7 - j)}").mkString(" + ")} AS key
         |  FROM sig, (SELECT unnest(range(3)) AS b) bs),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
         |SELECT p.vec_a, p.vec_b, ROUND(${duckCos("ea.v", "eb.v")}, 6) AS score
         |FROM pairs p JOIN emb ea ON p.vec_a = ea.vec_id
         |             JOIN emb eb ON p.vec_b = eb.vec_id
         |WHERE ROUND(${duckCos("ea.v", "eb.v")}, 6) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin),

    // ---- A5 product quantization end-to-end: train on a DETERMINISTIC
    // synthetic sample (HashEmbedder strings — data-independent, so the
    // seeded codebooks + query distance table inline into static oracle
    // SQL), then distributed encode + asymmetric-distance top-k over the
    // real embeddings. The oracle replays subspace argmin encode and the
    // table-lookup distance sum in double precision (kernels accumulate
    // float→double per element to bit-match). ----
    "vec_pq_search" -> QueryDef.sql(
      (s, d) => {
        val enc = Pq.encode(Tables.embeddings(s, d), "embedding", PqModel)
        Pq.search(enc, "vec_id", PqQuery, PqModel, k = 15)
      },
      pqOracle),

    // ---- A13 embedding quality stats per label ----
    "vec_norm_stats" -> QueryDef.sql(
      (s, d) => {
        F.ensureRegistered(s)
        Tables.embeddings(s, d)
          .withColumn("norm", sqrt(F.dotProduct(col("embedding"), col("embedding"))))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
               round(min(col("norm")), 6).as("min_norm"),
               round(max(col("norm")), 6).as("max_norm"),
               round(avg(col("norm")), 6).as("avg_norm"))
          .orderBy(col("label"))
      },
      s"""SELECT label, COUNT(*) AS n,
         |  ROUND(MIN(sqrt(${duckNormSq(e)})), 6) AS min_norm,
         |  ROUND(MAX(sqrt(${duckNormSq(e)})), 6) AS max_norm,
         |  ROUND(AVG(sqrt(${duckNormSq(e)})), 6) AS avg_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),

    // ---- embedding vector-space identity (embedding_identity.rs): the
    // per-frame metadata parse (trim/lowercase/empty-filter provider,
    // case-preserving model, u32-range dimension with the >0 filter,
    // the true/1/yes | false/0/no normalized map) plus the identity-count
    // summary. The fixture sweeps every parse edge via doc_id residues —
    // padded/empty/missing strings, '0', 'abc', a u32 overflow, '+256' —
    // built as a REAL metadata map column (map_filter drops the absent
    // keys); the oracle re-derives the parse from the same residues. ----
    "vec_embedding_identity" -> QueryDef.sql(
      (s, d) => {
        import graft.vector.EmbeddingIdentityCols.{ProviderKey, ModelKey,
          DimensionKey, NormalizedKey}
        val pRaw = (col("doc_id") % 6)
        val frames = graft.Tables.documents(s, d).filter(col("doc_id") < 120)
          .select(col("doc_id"),
            map_filter(
              map(
                lit(ProviderKey),
                when(pRaw === 0, lit(" OpenAI "))
                  .when(pRaw === 1, lit("openai"))
                  .when(pRaw === 2, lit(""))
                  .when(pRaw === 4, lit("Cohere"))
                  .when(pRaw === 5, lit("openai")),
                lit(ModelKey),
                when(col("doc_id") % 5 === 0, lit("text-embedding-3-small "))
                  .when(col("doc_id") % 5 === 2, lit("BGE-Large"))
                  .when(col("doc_id") % 5 === 3, lit(""))
                  .when(col("doc_id") % 5 === 4, lit("text-embedding-3-small")),
                lit(DimensionKey),
                when(col("doc_id") % 7 === 0, lit("1536"))
                  .when(col("doc_id") % 7 === 1, lit(" 768 "))
                  .when(col("doc_id") % 7 === 2, lit("0"))
                  .when(col("doc_id") % 7 === 3, lit("abc"))
                  .when(col("doc_id") % 7 === 4, lit("99999999999"))
                  .when(col("doc_id") % 7 === 5, lit("+256")),
                lit(NormalizedKey),
                when(col("doc_id") % 4 === 0, lit("TRUE"))
                  .when(col("doc_id") % 4 === 1, lit("1"))
                  .when(col("doc_id") % 4 === 2, lit("no"))
                  .when(col("doc_id") % 4 === 3, lit("maybe"))),
              (_, v) => v.isNotNull).as("extraMetadata"))
        graft.vector.EmbeddingIdentityCols.summary(frames, "extraMetadata")
      },
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6 WHEN 0 THEN ' OpenAI ' WHEN 1 THEN 'openai'
        |         WHEN 2 THEN '' WHEN 4 THEN 'Cohere' WHEN 5 THEN 'openai'
        |         END AS p_raw,
        |    CASE doc_id % 5 WHEN 0 THEN 'text-embedding-3-small '
        |         WHEN 2 THEN 'BGE-Large' WHEN 3 THEN ''
        |         WHEN 4 THEN 'text-embedding-3-small' END AS m_raw,
        |    CASE doc_id % 7 WHEN 0 THEN '1536' WHEN 1 THEN ' 768 '
        |         WHEN 2 THEN '0' WHEN 3 THEN 'abc'
        |         WHEN 4 THEN '99999999999' WHEN 5 THEN '+256' END AS d_raw,
        |    CASE doc_id % 4 WHEN 0 THEN 'TRUE' WHEN 1 THEN '1'
        |         WHEN 2 THEN 'no' WHEN 3 THEN 'maybe' END AS n_raw
        |  FROM documents WHERE doc_id < 120),
        |parsed AS (
        |  SELECT
        |    lower(nullif(trim(p_raw), '')) AS provider,
        |    nullif(trim(m_raw), '') AS model,
        |    CASE WHEN regexp_matches(trim(d_raw), '^\+?[0-9]+$')
        |         AND TRY_CAST(trim(d_raw) AS BIGINT) BETWEEN 1 AND 4294967295
        |         THEN TRY_CAST(trim(d_raw) AS BIGINT) END AS dimension,
        |    CASE lower(trim(n_raw))
        |         WHEN 'true' THEN true WHEN '1' THEN true WHEN 'yes' THEN true
        |         WHEN 'false' THEN false WHEN '0' THEN false WHEN 'no' THEN false
        |         END AS normalized
        |  FROM raw),
        |g AS MATERIALIZED (
        |  SELECT provider, model, dimension, normalized, COUNT(*) AS n
        |  FROM parsed WHERE provider IS NOT NULL OR model IS NOT NULL
        |  GROUP BY 1, 2, 3, 4),
        |k AS (SELECT CASE WHEN COUNT(*) = 1 THEN 'single' ELSE 'mixed' END
        |        AS summary_kind FROM g)
        |SELECT provider, model, dimension, normalized, n, summary_kind
        |FROM g, k
        |ORDER BY provider, model, dimension, normalized""".stripMargin)
  )
}
