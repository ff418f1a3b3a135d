package graft

import graft.search.{BM25, Rerank}
import org.apache.spark.sql.functions._

/** Second-stage BM25 reranker (reference trait src/types/reranker.rs). */
class RerankSpec extends SparkSpec {
  import spark.implicits._

  private def toks(df: org.apache.spark.sql.DataFrame) =
    BM25.tokenTable(df, "doc_id", "text", stemmed = false)

  test("pool-local rescore inverts a length-promoted original rank") {
    // doc 1: many raw occurrences but very long (length-normalized down);
    // doc 2: fewer occurrences, short (normalized up). Both pass the AND
    // stage; raw occurrence counting ranks 1 first, BM25 ranks 2 first.
    val longPad = Seq.fill(300)("filler").mkString(" ")
    val docs = Seq(
      (1L, s"spark join spark join spark join spark join $longPad"),
      (2L, "spark join"),
      (3L, "unrelated text")).toDF("doc_id", "text")
    val out = Rerank.bm25(docs, "doc_id", "text", toks(docs), "spark join")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 1L))
    val byId = out.map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(byId(1L) == (1, 2)) // original_rank 1 -> new_rank 2
    assert(byId(2L) == (2, 1))
  }

  test("top_k cuts and min_score filters the reranked list") {
    val docs = (1L to 30L).map(i =>
      (i, ("spark join " * i.toInt) + ("pad " * (31 - i.toInt) * 3)))
      .toDF("doc_id", "text")
    val cut = Rerank.bm25(docs, "doc_id", "text", toks(docs), "spark join",
      maxCandidates = 20, topK = 5)
    assert(cut.count() == 5)
    assert(cut.select(max(col("new_rank"))).head.getInt(0) == 5)
    val none = Rerank.bm25(docs, "doc_id", "text", toks(docs), "spark join",
      minScore = 1e9)
    assert(none.count() == 0)
  }

  test("statistics come from the candidate pool, not the corpus") {
    // 'spark join' appears in 2 of 200 docs; corpus-level IDF would be
    // huge, pool-level (2 docs) is small. Verify the score equals a
    // hand-computed pool-local BM25 for the trivial equal-doc case.
    val matching = Seq(
      (1L, "spark join alpha"), (2L, "spark join alpha"))
    val noise = (10L to 207L).map(i => (i, "beta gamma delta"))
    val docs = (matching ++ noise).toDF("doc_id", "text")
    val out = Rerank.bm25(docs, "doc_id", "text", toks(docs), "spark join")
      .collect()
    assert(out.length == 2)
    // pool: n=2, df=2 for both terms -> idf = ln(1 + 0.5/2.5); tf=1, dl=3=avgdl
    val idf = math.log(1.0 + 0.5 / 2.5)
    val expect = BigDecimal(2 * idf * 2.2 / (1 + 1.2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach(r => assert(r.getDouble(3) == expect))
  }

  test("a String id column keeps its type through both stages") {
    val docs = Seq(("doc-a", "spark join spark join " + ("pad " * 40)),
      ("doc-b", "spark join"), ("doc-c", "unrelated text"))
      .toDF("doc_id", "text")
    val out = Rerank.bm25(docs, "doc_id", "text", toks(docs), "spark join")
    assert(out.schema("doc_id").dataType == org.apache.spark.sql.types.StringType)
    val rows = out.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("doc-b", "doc-a"))
    assert(rows.map(r => (r.getInt(1), r.getInt(2))).toSeq == Seq((2, 1), (1, 2)))
  }

  test("no stage-1 matches yields an empty rerank, not a crash") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val out = Rerank.bm25(docs, "doc_id", "text", toks(docs),
      "zzz qqq")
    assert(out.isEmpty)
  }
}
