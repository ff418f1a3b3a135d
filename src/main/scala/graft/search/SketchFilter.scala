package graft.search

import graft.dedup.Dedup
import graft.functions.{SimHash64Expr, TokenizeExpr}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash sketch pre-filter (reference: search-time candidate shrink at
  * src/memvid/search/mod.rs:190-232 — hamming ≤ 32, keep ≥ max(top_k·10,
  * 500) candidates; scoring src/types/sketch_track.rs:827-866).
  *
  * Two equivalent forms of one selection:
  *  - [[Live]], the serving form: the deduplicated `(doc_id, simhash)`
  *    rows of the live frames held on the driver as two `Array[Long]`
  *    (16 bytes a row, at most [[LiveCap]] rows). The facade collects it
  *    once per commit watermark; every search on that watermark then
  *    selects its candidates with a bit-count loop and no Spark job.
  *  - [[candidates]], the Spark plan: a narrow scan over the sketch
  *    column producing an id allowlist that semi-joins into the scorer.
  *    It serves sketches over the cap and standalone callers.
  * [[queryHash]] computes the query sketch on the driver with the same
  * functions the build's expressions call, so both forms see the same
  * bits.
  */
object SketchFilter {

  val DefaultMaxHamming = 32
  val MinCandidates = 500
  /** sketch width: [[Dedup.simhash]]'s default, which [[build]] uses */
  val Bits = 60
  /** largest live sketch held on the driver: 2^20 rows ≈ 16 MB */
  val LiveCap: Int = 1 << 20

  /** build (doc_id, simhash) sketches for a corpus */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.simhash(docs, idCol, textCol)

  /** the query's sketch, bit-identical to a [[build]] row of the same
    * text; None when the text has no tokens ([[build]] drops such rows
    * too — there is nothing to sketch) */
  def queryHash(query: String): Option[Long] = {
    val toks = TokenizeExpr.tokenize(UTF8String.fromString(query))
    if (toks.numElements() == 0) None else Some(SimHash64Expr.simhash(toks, Bits))
  }

  /** query-side simhash computed with the same pipeline over one row
    * (throws on a query with no tokens — see [[queryHash]]) */
  def querySimhash(spark: org.apache.spark.sql.SparkSession, query: String): Long = {
    import spark.implicits._
    Dedup.simhash(Seq((0L, query)).toDF("doc_id", "text"), "doc_id", "text")
      .head.getLong(1)
  }

  /** candidate ids whose sketch is within maxHamming of the query sketch;
    * if fewer than minCandidates survive, the cutoff relaxes to keep the
    * nearest minCandidates (reference keeps ≥ max(top_k*10, 500)). */
  def candidates(sketches: DataFrame, queryHash: Long, topK: Int,
                 maxHamming: Int = DefaultMaxHamming): DataFrame = {
    val minKeep = math.max(topK * 10, MinCandidates)
    // defense-in-depth vs duplicate sketch rows (a torn/replayed refresh
    // append): duplicates would inflate the floor COUNT below and
    // silently suppress the relaxation that keeps minKeep candidates —
    // recall loss with no signal. Exact-row dedup is deterministic and
    // value-neutral on a clean table (the maintenance lock makes
    // duplicates unreachable on the facade path; this keeps the pure
    // function honest for standalone callers).
    val withDist = sketches.dropDuplicates("doc_id", "simhash")
      .withColumn("__h",
        bit_count(col("simhash").bitwiseXOR(lit(queryHash))))
    val within = withDist.filter(col("__h") <= maxHamming)
    // relaxation: if the strict cut is too small, take nearest minKeep
    val kept =
      if (within.limit(minKeep).count() < minKeep)
        withDist.orderBy(col("__h"), col("doc_id")).limit(minKeep)
      else within
    kept.select(col("doc_id"))
  }

  /** apply as a left-semi join into a scoring pipeline (J1 semantics) */
  def prefilter(docs: DataFrame, idCol: String, sketches: DataFrame,
                queryHash: Long, topK: Int,
                maxHamming: Int = DefaultMaxHamming): DataFrame = {
    val ids = candidates(sketches, queryHash, topK, maxHamming)
      .withColumnRenamed("doc_id", idCol)
    docs.join(ids, Seq(idCol), "left_semi")
  }

  /** A sketch held on the driver: distinct (doc_id, simhash) rows. */
  final class Live private (ids: Array[Long], hashes: Array[Long]) {

    /** the id set [[SketchFilter.candidates]] selects from the same rows */
    def candidates(queryHash: Long, topK: Int,
                   maxHamming: Int = DefaultMaxHamming): Array[Long] = {
      val minKeep = math.max(topK * 10, MinCandidates)
      val dist = new Array[Int](ids.length)
      val perDist = new Array[Int](65)
      var i = 0
      while (i < ids.length) {
        dist(i) = java.lang.Long.bitCount(hashes(i) ^ queryHash)
        perDist(dist(i)) += 1
        i += 1
      }
      def idsWhere(p: Int => Boolean): Array[Long] = {
        val out = Array.newBuilder[Long]
        var j = 0
        while (j < ids.length) { if (p(dist(j))) out += ids(j); j += 1 }
        out.result()
      }
      val within = idsWhere(_ <= maxHamming)
      if (within.length >= minKeep) within
      else {
        // relaxation: the nearest minKeep by (distance, doc_id) = every
        // distance class below the one the floor lands in, plus that
        // class's lowest ids
        var cut = 0
        var below = 0
        while (cut < 64 && below + perDist(cut) < minKeep) {
          below += perDist(cut); cut += 1
        }
        idsWhere(_ < cut) ++ idsWhere(_ == cut).sorted.take(minKeep - below)
      }
    }
  }

  object Live {
    /** dedups exact rows, like [[SketchFilter.candidates]] */
    def apply(rows: Seq[(Long, Long)]): Live = {
      val distinct = rows.distinct
      new Live(distinct.map(_._1).toArray, distinct.map(_._2).toArray)
    }

    /** collect `sketches` (doc_id, simhash) to the driver, bounded: None
      * when it holds more than `cap` rows (one `limit(cap + 1)` collect) */
    def collect(sketches: DataFrame, cap: Int): Option[Live] =
      graft.ops.Bounded.collectAtMost(
          sketches.select(col("doc_id").cast("long"), col("simhash")), cap)
        .map(rows => Live(rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))))
  }
}
