package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write `.explain("formatted")` plans to `<outDir>/<name>_<tag>.txt`.
  *
  * Each argument names a registry gate, whose returned frame's plan is
  * dumped (fixture gates execute while their DataFrame is constructed,
  * and gates on a scratch store return a local relation — a
  * LocalTableScan stub). The pseudo-gate `serve` dumps the PRE-COLLECT
  * ranking plans instead — `Search.indexedRanking`, everything up to the
  * page cut — for the indexed routes the serving gates exercise, over a
  * track-partitioned index of `documents`: `serve_ranking_indexed`,
  * `_tracked`, `_wildcard` and `_allowed` (a sketch candidate set).
  *
  * Usage: sbt "runMain graft.tools.DumpPlans <outDir> <tag> serve g1 g2 ..."
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    def write(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"[plans] wrote $p (${txt.length} chars)")
    }
    args.drop(2).foreach {
      case "serve" => servePlans(spark, sfDir, write)
      case name => graft.SparkEntry.queries.get(name) match {
        case None => println(s"[plans] UNKNOWN gate $name")
        case Some(fn) =>
          try write(name, fn(spark, sfDir))
          catch { case e: Throwable => println(s"[plans] $name FAILED: $e") }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs
            .filterNot { case (id, _) => graft.graph.EdgeCache.isPinned(spark, id) }
            .values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }

  private def servePlans(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                         write: (String, DataFrame) => Unit): Unit = {
    val tbl = "dump_serve_plans_idx"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    graft.search.Bm25Index.write(docs, "doc_id", "text", tbl,
      stemmed = false, trackCol = Some("source"))
    val f = graft.search.FrameCols(text = col("text"), track = col("source"))
    val opts = graft.search.Search.Options(topK = 25,
      engine = graft.search.Search.BM25Engine, stemmed = false,
      withSnippets = false)
    def dump(name: String, q: String, allowed: Option[DataFrame]): Unit = {
      val (ranked, _) = graft.search.Search.indexedRanking(docs, "doc_id", f,
        graft.search.QueryParser.parse(q), tbl, opts, allowed)
      write(name, ranked)
    }
    try {
      dump("serve_ranking_indexed", "spark join window", None)
      dump("serve_ranking_tracked", "track:src3 AND spark join window", None)
      dump("serve_ranking_wildcard", "val* spark join window", None)
      val allowed = graft.search.SketchFilter
        .candidates(graft.search.SketchFilter.build(docs, "doc_id", "text"),
          graft.search.SketchFilter.querySimhash(spark, "spark join window"),
          topK = 25)
        .select(col("doc_id"))
      dump("serve_ranking_allowed", "spark join window", Some(allowed))
    } finally spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }
}
