package graft.vector

import graft.store.{Fs, Generations}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Persisted IVF index — the durable, cross-process form of the
  * build-once idiom. EdgeCache amortizes index builds within ONE
  * process (SCALE.md's per-session share); on a real pipeline the same
  * artifact is written once per run and every later job opens it. This
  * is that artifact: the assigned table lands as parquet PARTITIONED BY
  * cluster — so an nprobe search prunes to the probed clusters at the
  * FILE level (partition pruning in the scan, `cluster IN (...)` never
  * reads unprobed directories) — and the centroid codebook (k·dim
  * doubles, tiny) rides along as its own parquet.
  *
  * Reference framing: memvid persists its vec index inside the .mv2
  * container and reopens it per process (MV2_SPEC.md §indexes); the
  * Spark-native equivalent is a directory layout, not bytes in a file.
  * Index REBUILD on drift is the reference's upkeep contract (k-means
  * retraining, src/vec_pq.rs:106-150) — [[retrain]] below; incremental
  * vector ingest against the standing codebook is [[append]].
  *
  * Codebook precision: stored as ARRAY<DOUBLE> in all generations. A
  * gen-0 codebook written from float vectors upcasts exactly (and the
  * driver-side probe math already ran in double even on the float path),
  * so persistence stays bit-neutral for `vec_ivf_persisted`; a retrained
  * generation's centroids are true doubles (the Lloyd-update convention
  * of [[VectorSearch.kmeansLloyd]] — exact-DECIMAL means rounded to 6dp).
  *
  * Crash-safe layout: each generation is a self-contained directory
  * `<path>/gen-N/{assigned,centroids,meta,_GRAFT_COMMITTED}` behind the
  * `<path>/CURRENT` pointer of [[graft.store.Generations]], which owns
  * the protocol (marker last, pointer swap, torn-swap recovery, one
  * superseded generation kept for lock-free readers). [[write]] over a
  * live index, [[compactDeltas]] and [[retrain]] each write the next
  * generation and swap. A legacy flat layout (`<path>/{assigned,
  * centroids}`) reads as generation 0 until the second swap after it
  * collects it.
  */
object IvfIndex {

  /** Index mutations run under the same exclusive-lockfile discipline as
    * store mutations (reference src/lockfile.rs:121): two maintainers
    * would otherwise mint the same delta number, race the generation
    * pointer swap, or sweep each other's in-flight append as "torn".
    * Readers never take the lock — the marker/pointer scheme already
    * gives them a committed view. Lock = `<indexPath>.lock` sibling. */
  private def withIndexLock[T](spark: SparkSession, path: String)(body: => T): T =
    graft.store.StoreLock.withLock(spark, path,
      graft.store.StoreLock.Options(timeoutMs = 120000L,
        staleGraceMs = 120000L, command = "ivf-index-maintenance"))(body)

  /** The index's maintenance lock, for callers composing a LARGER atomic
    * section than one append — [[graft.api.Graft.refreshVecIndex]] holds
    * it across its stamp-read → append → restamp so two maintainers
    * cannot both classify against the same stale stamp and append the
    * same delta twice. NOT re-entrant: bodies must use
    * [[appendUnlocked]], never the self-locking public calls. */
  private[graft] def maintenanceLock[T](spark: SparkSession,
                                        path: String)(body: => T): T =
    withIndexLock(spark, path)(body)

  /** write and swap in one full generation (assigned + codebook + meta)
    * @return its dir */
  private def swapInGen(spark: SparkSession, path: String, gen: Long,
                        assigned: DataFrame,
                        centroids: Seq[(Int, Array[Double])],
                        floatKernel: Boolean): String = {
    import spark.implicits._
    val genDir = Generations.write(spark, path, gen) { genDir =>
      assigned.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$genDir/assigned")
      centroids.toDF("cid", "centroid")
        .write.mode("overwrite").parquet(s"$genDir/centroids")
      Seq((gen, floatKernel)).toDF("generation", "float_kernel")
        .write.mode("overwrite").parquet(s"$genDir/meta")
    }
    Generations.swap(spark, path, gen)
    genDir
  }

  /** Train (or take) centroids, assign, and persist as generation 0.
    * Returns the loaded handle so callers search what a later process
    * would open. */
  def write(emb: DataFrame, idCol: String, vecCol: String, path: String,
            centroids: Seq[(Int, Array[Float])]): Handle = {
    val spark = emb.sparkSession
    withIndexLock(spark, path) {
      // a rebuild over a live index is the next generation, so a
      // lock-free reader of the live one keeps its files
      val gen =
        if (exists(spark, path)) liveGeneration(spark, path) + 1 else 0L
      val genDir = swapInGen(spark, path, gen,
        VectorSearch.assignClusters(emb, vecCol, centroids),
        centroids.map { case (cid, c) => (cid, c.map(_.toDouble)) },
        floatKernel = true)
      // fresh-gen handle without an exit re-read (r19: read() costs two
      // driver collect jobs) — same values a later read() would load
      val h = Handle(spark.read.parquet(s"$genDir/assigned"),
        centroids.map { case (cid, c) => (cid, c.map(_.toDouble)) },
        path, gen, floatKernel = true)
      primeReadCache(spark, path, h)
      h
    }
  }

  /** generation number of the live dir WITHOUT opening the index (the
    * dir name is authoritative for gen layouts; legacy flat layouts
    * consult meta when present, else 0 — the same values read() loads) */
  private def liveGeneration(spark: SparkSession, path: String): Long = {
    val genDir = Generations.live(spark, path)
    if (genDir != path) Generations.number(path, genDir)
    else if (Fs.of(spark, path).exists(new Path(s"$genDir/meta")))
      spark.read.parquet(s"$genDir/meta").collect().head.getLong(0)
    else 0L
  }

  /** COMMITTED delta dirs under a generation, in append order. Each
    * [[append]] lands as `<genDir>/deltas/d-K/` with its own marker
    * written LAST — a crash mid-append leaves a marker-less dir that
    * every reader ignores (and the next append sweeps), so the gen-dir
    * old-or-new-intact contract extends to incremental ingest. */
  private def committedDeltas(fs: FileSystem, genDir: String): Seq[String] = {
    val root = new Path(s"$genDir/deltas")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("d-"))
      .filter(d => Generations.committed(fs, s"$genDir/deltas/$d"))
      .map(_.stripPrefix("d-").toLong).sorted
      .map(k => s"$genDir/deltas/d-$k").toSeq
  }

  /** whether a committed index lives at `path` — CURRENT pointer, a
    * committed generation dir, or the legacy flat layout's centroids.
    * The doctor's vec probes guard on this (mirroring the bm25 probe's
    * tableExists guard) so a configured-but-not-yet-built path reports
    * cleanly instead of throwing from the parquet read. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val fs = Fs.of(spark, path)
    if (!fs.exists(new Path(path))) return false
    val genDir = Generations.live(spark, path)
    fs.exists(new Path(s"$genDir/centroids"))
  }

  /** what identifies the index's committed state: the live generation
    * dir, its marker's nonce and its committed delta dirs */
  private[graft] def version(spark: SparkSession,
                             path: String): (String, String, Seq[String]) = {
    val genDir = Generations.live(spark, path)
    (genDir, Generations.stamp(spark, genDir),
      committedDeltas(Fs.of(spark, path), genDir))
  }

  /** Open a persisted index. Centroids collect to the driver (k·dim —
    * the same bounded shape EdgeCache.cachedValue carries). The assigned
    * frame is base ∪ committed deltas; Catalyst pushes the nprobe
    * `cluster IN` filter through the Union, so partition-level pruning
    * holds on every leg. */
  def read(spark: SparkSession, path: String): Handle = {
    val key @ (genDir, _, deltas) = version(spark, path)
    val fs = Fs.of(spark, path)
    // Re-open cache (r19): committed generation and delta dirs are
    // immutable, so [[version]] determines the handle; without the cache
    // every open pays two driver collect jobs (centroids + meta). The
    // marker nonce covers a path deleted and rebuilt under the same gen
    // names; a foreign append or retrain changes the key.
    readCache.synchronized(readCache.get(path)) match {
      case Some((k, h)) if k == key && (h.assigned.sparkSession eq spark) =>
        h
      case _ =>
        // explicit schemas on the two metadata reads (writeGen owns both
        // shapes): skips a 1-task footer-inference job per read (r19)
        val cents = spark.read.schema(centroidsSchema)
          .parquet(s"$genDir/centroids")
          .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
          .sortBy(_._1)
        val (gen, floatKernel) =
          if (fs.exists(new Path(s"$genDir/meta"))) {
            val m = spark.read.schema(metaSchema)
              .parquet(s"$genDir/meta").collect().head
            (m.getLong(0), m.getBoolean(1))
          } else (0L, true) // legacy flat layout predates retrain/append
        val assigned = deltas
          .foldLeft(spark.read.parquet(s"$genDir/assigned")) { (acc, d) =>
            acc.unionByName(spark.read.parquet(d))
          }
        val h = Handle(assigned, cents, path, gen, floatKernel)
        readCache.synchronized {
          readCache.put(path, (key, h))
          // bound the cache: fixture stores are temp dirs that never
          // recur — evict oldest entries past 64 paths
          if (readCache.size > 64) readCache.remove(readCache.head._1): Unit
        }
        h
    }
  }

  private val centroidsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("cid", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
  }
  private val metaSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("generation", LongType),
      StructField("float_kernel", BooleanType)))
  }

  /** [[read]]'s re-open cache: path → ((genDir, marker nonce/mtime
    * stamp, committed deltas), handle). LinkedHashMap for cheap
    * oldest-first eviction. */
  private val readCache =
    new scala.collection.mutable.LinkedHashMap[
      String, ((String, String, Seq[String]), Handle)]

  /** prime [[read]]'s cache from a mutator that just committed the live
    * state and holds the equivalent handle — the next read() then hits instead
    * of re-collecting centroids/meta */
  private def primeReadCache(spark: SparkSession, path: String, h: Handle): Unit = {
    val key = version(spark, path)
    readCache.synchronized {
      readCache.put(path, (key, h))
      if (readCache.size > 64) readCache.remove(readCache.head._1): Unit
    }
  }

  /** Incremental vector ingest into the persisted index (the other half
    * of the upkeep contract, MV2_SPEC.md index rebuild + src/vec.rs:57-60:
    * new vectors join the standing index; a full retrain is reserved for
    * when drift trips — `vec_ivf_drift` is the signal, [[retrain]] the
    * response). New vectors are assigned against the CURRENT codebook
    * with the SAME kernel that built this generation — the float codegen
    * kernel for a gen-0 (float-origin) codebook, the double fold for a
    * retrained one — so build(A)+append(B) is bit-identical to a full
    * build(A∪B) over the same centroids (`vec_ivf_append` gates that
    * against the full-rebuild oracle). The delta lands as its own
    * cluster-partitioned dir unioned in at read: |delta|-sized work, no
    * corpus re-scan, and partition-level nprobe pruning is unchanged
    * (the `cluster IN` filter pushes through the Union to every leg).
    *
    * Contract (same as [[graft.search.Bm25Index.append]]): delta ids are
    * DISJOINT from what's indexed — re-appending a vector would duplicate
    * its id in the candidate lists.
    *
    * Durability: the delta is its own commit unit. It writes to
    * `<genDir>/deltas/d-K` (never into the committed base's files), the
    * `_GRAFT_COMMITTED` marker lands LAST, and [[read]] unions only
    * marker-bearing deltas — a crash mid-append leaves the index exactly
    * as it was (torn dir = invisible garbage, swept by the next append),
    * the same old-or-new-intact contract [[retrain]] has. */
  def append(spark: SparkSession, path: String,
             delta: DataFrame, idCol: String, vecCol: String): Handle =
    withIndexLock(spark, path) {
      appendUnlocked(spark, path, delta, idCol, vecCol)
    }

  /** [[append]] body without the lock acquisition — for callers already
    * inside [[maintenanceLock]] (the lock is not re-entrant) */
  private[graft] def appendUnlocked(spark: SparkSession, path: String,
             delta: DataFrame, idCol: String, vecCol: String): Handle = {
    val h = read(spark, path)
    val assigned =
      if (h.floatKernel)
        VectorSearch.assignClusters(delta, vecCol,
          h.centroids.map { case (cid, c) => (cid, c.map(_.toFloat)) })
      else VectorSearch.assignClustersD(delta, vecCol, h.centroids)
    val genDir = Generations.live(spark, path)
    val fs = Fs.of(spark, path)
    // sweep torn prior appends (marker-less d-* dirs); single-writer
    // contract makes this safe, and readers never saw them anyway
    val root = new Path(s"$genDir/deltas")
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("d-") && !Generations.committed(fs, s"$genDir/deltas/$n"))
        fs.delete(st.getPath, true)
    }
    val next = committedDeltas(fs, genDir)
      .map(_.split("/d-").last.toLong).foldLeft(0L)(math.max) + 1
    val dDir = s"$genDir/deltas/d-$next"
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(dDir)
    Generations.commit(spark, dDir)
    // handle refresh without the exit re-read (r19: read() collects
    // centroids + meta — two driver jobs per append). Identical by
    // construction: the committed delta set after this append is h's
    // plus dDir, and centroids/generation/kernel are unchanged.
    val h2 = Handle(h.assigned.unionByName(spark.read.parquet(dDir)),
      h.centroids, path, h.generation, h.floatKernel)
    primeReadCache(spark, path, h2)
    h2
    }

  /** number of committed delta dirs under the live generation — the
    * observable append debt (one FS listing; the doctor's
    * `vec_delta_debt` signal reads this) */
  def deltaCount(spark: SparkSession, path: String): Long = {
    val genDir = Generations.live(spark, path)
    committedDeltas(Fs.of(spark, path), genDir).size.toLong
  }

  /** Fold committed deltas back into the base — the IVF analogue of
    * [[graft.search.Bm25Index.compact]] (build→serve→maintain's third
    * phase): rewrites base ∪ deltas as a NEW generation under the SAME
    * codebook and kernel (no retrain — assignments are already final
    * under the standing centroids, so this is value-neutral by
    * construction), swapped in as the next generation.
    * After N appends the scan-open cost is N+1 parquet listings per
    * query; compaction folds it back to one. Crash-safe like
    * [[retrain]]: the read and the write never share a directory. */
  def compactDeltas(spark: SparkSession, path: String): Handle =
    withIndexLock(spark, path) {
    val h = read(spark, path)
    if (deltaCount(spark, path) == 0) return h // nothing to fold
    val nextGen = h.generation + 1
    val newGenDir =
      swapInGen(spark, path, nextGen, h.assigned, h.centroids, h.floatKernel)
    // fresh-gen handle without the exit re-read (centroids/kernel are
    // unchanged by construction; the new generation has no deltas)
    val h2 = Handle(spark.read.parquet(s"$newGenDir/assigned"),
      h.centroids, path, nextGen, h.floatKernel)
    primeReadCache(spark, path, h2)
    h2
    }

  /** Drift-triggered re-train of a persisted index, composed from the
    * gated pieces: [[VectorSearch.ivfDriftStats]] supplies the "retrain
    * now" signal; this executes it — ONE Lloyd update from the CURRENT
    * persisted assignments (exact-DECIMAL per-dim means rounded to 6dp
    * doubles, the [[VectorSearch.kmeansLloyd]] convention; an empty
    * cluster keeps its centroid), then a full double-precision re-assign
    * swapped in as the next generation (the re-assignment reads the
    * generation it supersedes: the read and the write never share a
    * directory).
    *
    * Scale shape: one narrow assignment pass + one (cluster, dim)-keyed
    * combinable aggregate + a k·dim driver collect — no corpus-sized
    * driver state anywhere.
    *
    * `vec_ivf_retrain` gates populations before/after + centroid shift
    * against a DuckDB replay of the full chain (assign → means →
    * re-assign); re-balancing of the drifted cluster is the locked
    * observable. */
  def retrain(spark: SparkSession, path: String,
              idCol: String, vecCol: String): Handle =
    withIndexLock(spark, path) {
    val h = read(spark, path)
    // Lloyd mean update from the persisted assignment (k·dim bounded)
    val means = h.assigned
      .select(col("cluster"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("cluster"), col("d"))
      .agg(sum(col("x").cast("double").cast(DecimalType(38, 12))).as("s"),
        count(lit(1)).as("n"))
      .select(col("cluster"), col("d"),
        round((col("s") / col("n")).cast("double"), 6).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        cid -> rows.map(r => r.getInt(1) -> r.getDouble(2))
          .sortBy(_._1).map(_._2).toArray
      }
    val newCents = h.centroids.map { case (cid, old) =>
      cid -> means.getOrElse(cid, old)
    }
    // full re-assign in double (the training-precision kernel), into a
    // fresh generation dir; then the atomic pointer swap
    val reassigned = VectorSearch.assignClustersD(
      h.assigned.drop("cluster"), vecCol, newCents)
    val nextGen = h.generation + 1
    val newGenDir =
      swapInGen(spark, path, nextGen, reassigned, newCents, floatKernel = false)
    // fresh-gen handle without the exit re-read (the rewrite just chose
    // these centroids/kernel; the new generation has no deltas)
    val h2 = Handle(spark.read.parquet(s"$newGenDir/assigned"),
      newCents, path, nextGen, floatKernel = false)
    primeReadCache(spark, path, h2)
    h2
    }

  final case class Handle(assigned: DataFrame,
                          centroids: Seq[(Int, Array[Double])],
                          path: String = "", generation: Long = 0L,
                          floatKernel: Boolean = true) {
    /** nprobe search over the persisted index; the `cluster IN` filter
      * is a partition-column predicate → the scan reads only the probed
      * cluster directories. Probing runs in double — identical distances
      * to the float path for a float-origin codebook (that path already
      * accumulated in double), exact for a retrained one. */
    def search(idCol: String, vecCol: String, query: Array[Float],
               k: Int, nprobe: Int, metric: String = "cosine"): DataFrame = {
      val probed = VectorSearch.probeClustersD(centroids,
        query.map(_.toDouble), nprobe)
      VectorSearch.knn(assigned, idCol, vecCol, query, k, metric,
        candidateFilter = Some(col("cluster").isin(probed: _*)))
    }
  }
}
