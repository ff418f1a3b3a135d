package graft

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp stores for specs, with `queries.Scratch`'s contract: [[tempDir]]
  * makes a fresh dir and drops the warehouse tables it names; when the
  * test ends, also when it fails, those tables are dropped again and
  * every dir it made is deleted, with a store's `.lock` sibling. A run of
  * the suite leaves nothing under the temp dir or the warehouse. */
trait TempStores extends TestSuiteMixin { this: TestSuite with SparkSpec =>
  private val dirs = scala.collection.mutable.Buffer.empty[String]
  private val tables = scala.collection.mutable.Buffer.empty[String]

  private def drop(ts: Seq[String]): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  def tempDir(prefix: String, dropTables: String*): String = synchronized {
    drop(dropTables)
    tables ++= dropTables
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs += d
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally synchronized {
      drop(tables.toSeq)
      dirs.foreach(d => Seq(d, s"$d.lock").foreach(store.Fs.deleteRecursively(spark, _)))
      dirs.clear()
      tables.clear()
    }
}
