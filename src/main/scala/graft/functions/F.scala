package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level API for the engine's native expressions and text kernels.
  *
  * Custom expressions are registered into the session FunctionRegistry once
  * and referenced via `call_function`, which keeps us on the public Column
  * API (Spark 4 removed the Column-from-Expression constructor).
  */
object F {
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  def ensureRegistered(spark: SparkSession): Unit = {
    val key = spark.sessionState.toString
    if (registered.add(key)) {
      val reg = spark.sessionState.functionRegistry
      reg.createOrReplaceTempFunction("poly_hash", es => PolyHash(es.head), "built-in")
      reg.createOrReplaceTempFunction("cosine_sim", es => CosineSimilarity(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("dot_product", es => DotProduct(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("l2_distance", es => L2Distance(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("porter_stem", es => PorterStemExpr(es.head), "built-in")
      reg.createOrReplaceTempFunction("tokenize", es => TokenizeExpr(es.head), "built-in")
      reg.createOrReplaceTempFunction("word_shingles", es => WordShinglesExpr(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("simhash64", es => SimHash64Expr(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("minhash_sig", es => MinHashSigExpr(es.head), "built-in")
      reg.createOrReplaceTempFunction("pq_encode", es => PqEncodeExpr(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("pq_adist", es => PqAsymmetricExpr(es(0), es(1)), "built-in")
      def longs(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      reg.createOrReplaceTempFunction("in_id_set", es => InIdSetExpr(es(0),
        longs(es(1)).sorted), "built-in")
      reg.createOrReplaceTempFunction("in_live_version", es => {
        val (ids, seqs) = InLiveVersionExpr.sortedKeys(longs(es(2)), longs(es(3)))
        InLiveVersionExpr(es(0), es(1), ids, seqs)
      }, "built-in")
    }
  }

  def polyHash(c: Column): Column = call_function("poly_hash", c)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def l2Distance(a: Column, b: Column): Column = call_function("l2_distance", a, b)
  def porterStem(c: Column): Column = call_function("porter_stem", c)

  /** `c ∈ ids` for a driver-resident id set (InIdSetExpr) */
  def inIdSet(c: Column, ids: Array[Long]): Column =
    call_function("in_id_set", c, typedLit(ids))

  /** `(id, seq)` is one of the version keys `(ids(i), seqs(i))`
    * (InLiveVersionExpr; one key per id) */
  def inLiveVersion(id: Column, seq: Column, ids: Array[Long],
                    seqs: Array[Long]): Column =
    call_function("in_live_version", id, seq, typedLit(ids), typedLit(seqs))

  /** Reference tokenizer (src/lex.rs:416-431): lowercase, split on anything
    * outside [a-z0-9&@+/_], keep tokens containing at least one alnum.
    * Native codegen expression (TokenizeExpr) — the lambda-HOF formulation
    * is ~50x slower inside Filter nodes. DuckDB equivalent:
    * list_filter(regexp_split_to_array(lower(t),'[^a-z0-9&@+/_]+'),
    *             x -> regexp_matches(x, '[a-z0-9]'))
    */
  def tokens(c: Column): Column = call_function("tokenize", c)

  /** n-gram shingles from a token-array column — native codegen expression
    * (WordShinglesExpr). The previous transform/slice/array_join lambda
    * pipeline ran interpreted whenever Catalyst's constraint propagation
    * copied it into Filter nodes (generator constraints below an explode
    * re-derived the whole tokenize+shingle chain several times per row). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    call_function("word_shingles", toks, lit(n))

  /** per-row SimHash sketch over a token array (SimHash64Expr) — the
    * narrow form of the reference's generate_sketch */
  def simhash64(toks: Column, bits: Int): Column =
    call_function("simhash64", toks, lit(bits))

  /** per-row MinHash signature over a shingle array (MinHashSigExpr) */
  def minhashSig(shingles: Column): Column =
    call_function("minhash_sig", shingles)

  /** PQ codes from a float vector against a codebook LITERAL (r20) */
  def pqEncode(vec: Column, codebooksLit: Column): Column =
    call_function("pq_encode", vec, codebooksLit)

  /** asymmetric PQ distance of a codes column against a query distance
    * table LITERAL (r20) */
  def pqAdist(codes: Column, tableLit: Column): Column =
    call_function("pq_adist", codes, tableLit)

  /** word n-gram shingles over text (convenience; see shinglesFromTokens
    * for the hot path) */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** substring occurrence count — the fallback lexical scorer primitive
    * (ref src/lex.rs:185-297): exact integer arithmetic on lengths. */
  def occurrences(text: Column, term: String): Column =
    ((length(text) - length(replace(text, lit(term), lit("")))) / length(lit(term)))
      .cast("long")

  /** MinHash permutation value: (a * h + b) mod p over a polyHash. */
  def permHash(h: Column, a: Long, b: Long): Column =
    pmod(lit(a) * h + lit(b), lit(HashUtil.Mod))
}
