package graft

import graft.api.Graft
import graft.store.Fs
import org.apache.spark.sql.functions._

/** A store, fixture or stream input named by a `file:` URI or a glob
  * answers exactly like the same data under a plain local path: every
  * probe goes through [[Fs]], not `java.io.File`. */
class FileUriSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withDirs[T](n: Int)(body: Seq[String] => T): T = {
    val dirs = Seq.fill(n)(tmp("graft_file_uri"))
    try body(dirs) finally dirs.foreach(Fs.deleteRecursively(spark, _))
  }

  /** one facade session: two distinct documents, a duplicate-content
    * put, a remembered fact */
  private def session(base: String) = {
    val g = new Graft(spark, base)
    val ids = Seq(g.put("mv2://u/0", "spark joins shuffle data"),
      g.put("mv2://u/1", "window functions rank rows in spark"),
      g.put("mv2://u/2", "spark joins shuffle data"))
    g.remember("user", "color", "blue")
    val hits = g.search("spark joins", topK = 10)
      .select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    (ids, g.frames.log.count(), g.frames.latestActive.count(), hits,
      g.cards.count(), g.getCurrent("user", "color"))
  }

  test("a Graft on a file: URI dedups, serves and remembers like a plain path") {
    withDirs(2) { case Seq(plain, uri) =>
      val got = session(s"file:$uri")
      val want = session(plain)
      assert(want._1.count(_.isDefined) == 2 && want._2 == 2L && want._3 == 2L)
      assert(want._4.nonEmpty && want._6.contains("blue"))
      assert(got == want)
    }
  }

  test("Tables.schemaOf serves a file: URI or glob fixture's new schema after a rewrite") {
    withDirs(1) { case Seq(dir) =>
      val p = s"file:$dir/t.parquet"
      val glob = s"file:$dir/t*.parquet"
      Seq(1L, 2L).toDF("a").write.parquet(p)
      assert(Tables.schemaOf(spark, p).fieldNames.toSeq == Seq("a"))
      assert(Tables.schemaOf(spark, glob).fieldNames.toSeq == Seq("a"))
      Seq("x").toDF("b").write.mode("overwrite").parquet(p)
      assert(Tables.schemaOf(spark, p).fieldNames.toSeq == Seq("b"))
      assert(Tables.schemaOf(spark, glob).fieldNames.toSeq == Seq("b"))
    }
  }

  test("drainPartitions sizes a file: dir and a glob by their bytes") {
    withDirs(1) { case Seq(dir) =>
      val data = s"$dir/events.parquet"
      (0 until 2000).map(i => (i.toLong, s"event payload $i")).toDF("id", "v")
        .repartition(2).write.parquet(data)
      val key = "spark.graft.stream.bytesPerStatePartition"
      spark.conf.set(key, "1024")
      try {
        val plainDir = streaming.StreamingIngest.drainPartitions(spark, dir, "events.parquet")
        val uriDir = streaming.StreamingIngest.drainPartitions(spark, s"file:$dir", "events.parquet")
        val uriGlob = streaming.StreamingIngest.drainPartitions(spark, s"file:$data", "*.parquet")
        assert(plainDir > 1)
        assert(uriDir == plainDir && uriGlob == plainDir)
      } finally spark.conf.unset(key)
    }
  }
}
