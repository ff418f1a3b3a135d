package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Second-stage reranking (reference: the `Reranker` trait at
  * src/types/reranker.rs:151-181 with its BM25 kind, reranker.rs:184-196,
  * and the `RerankerConfig` defaults at reranker.rs:88-96 — max_candidates
  * 50, top_k 10, min_score 0.0; results carry original_rank/new_rank,
  * reranker.rs:62-72).
  *
  * Shape: stage 1 (the corpus-sized retrieval) produces a bounded
  * candidate pool; the reranker rescores ONLY that pool, with BM25
  * statistics computed from the pool itself — the pool is the reranker's
  * whole world, exactly the trait's `rerank(query, documents)` contract
  * (the cross-encoder/LLM kinds are model-weight-bound in this container;
  * BM25 is the reference's own model-free kind).
  *
  * At 100 TB: the candidate pool is ≤ max_candidates rows, so the rescore
  * is a semi-join of a broadcast-sized id list into the token table plus
  * one bounded aggregation; all corpus-sized work stays in stage 1. Both
  * rank assignments enumerate the collected bounded page (the Search
  * bounded-collect idiom, r20) — no unpartitioned Window ever runs.
  */
object Rerank {

  /** Lexical-AND first stage + BM25 pool rescore. `tokens` is the corpus
    * token table (doc_id, term) — typically the EdgeCache-shared unstemmed
    * BM25 table; only the candidate pool's rows are read from it.
    * @return (doc_id, original_rank, new_rank, score) ordered by new_rank;
    *         `doc_id` has the type of `docs`' id column
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           tokens: DataFrame, query: String,
           maxCandidates: Int = 50, topK: Int = 10,
           minScore: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    val idType = docs.schema(idCol).dataType
    // Stage-1 pool is ≤ maxCandidates rows and ALREADY globally sorted by
    // (score desc, id) — rank it on the driver (r20): the former
    // unpartitioned row_number Window moved the page to one partition
    // (WindowExec warning spam near the driver-parsed bench tail) and
    // cost a plan stage; enumerating the collected page is the same
    // 1..n assignment over the same total order.
    val candRows = Lexical.search(docs, idCol, textCol, query,
      topK = maxCandidates).collect()
    val origRank = candRows.iterator.zipWithIndex
      .map { case (r, i) => r.get(0) -> (i + 1) }.toMap
    val cands = spark.createDataFrame(
      java.util.Arrays.asList(candRows.iterator.zipWithIndex.map {
        case (r, i) => org.apache.spark.sql.Row(r.get(0), i + 1)
      }.toArray: _*),
      StructType(Seq(StructField("doc_id", idType),
        StructField("original_rank", IntegerType))))
    val poolToks = tokens.join(cands.select("doc_id"), Seq("doc_id"), "left_semi")
    val terms = query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    // pool rescore is ≤ maxCandidates rows sorted by (score desc, doc_id)
    // — the exact new_rank order; cut to topK and assemble driver-side
    val rescored = BM25.score(spark, poolToks, terms, topK = maxCandidates)
      .filter(col("score") >= minScore)
      .select(col("doc_id"), col("score")).collect()
    val out = rescored.iterator.zipWithIndex.take(topK).map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), origRank(r.get(0)),
        i + 1, r.getDouble(1))
    }.toArray
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("doc_id", idType),
        StructField("original_rank", IntegerType),
        StructField("new_rank", IntegerType),
        StructField("score", DoubleType))))
  }
}
