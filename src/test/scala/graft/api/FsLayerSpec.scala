package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** Storage paths go through one filesystem layer ([[graft.store.Fs]]):
  * outside the offline tools and the Verify/Bench output writers no main
  * source probes `java.io.File`, and only `Fs` and [[graft.store.StoreLock]]
  * (whose local hard-link create needs the scheme check) resolve a
  * Hadoop `FileSystem` themselves. */
class FsLayerSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft").toPath

  private def sources: Map[String, String] = {
    assert(root.toFile.isDirectory, s"run from the repo root (no ${root.toAbsolutePath})")
    java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .filterNot(_._1.startsWith("tools/")).toMap
  }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    sources.collect { case (p, s) if !allowed(p) && re.findFirstIn(s).isDefined => p }
      .toSeq.sorted
  }

  test("no java.io.File or listFiles outside tools/, Verify and Bench") {
    assert(offenders("""java\.io\.File\b|listFiles""",
      Set("Verify.scala", "Bench.scala")) == Nil)
  }

  test("only Fs and StoreLock resolve a Hadoop FileSystem") {
    assert(offenders("""getFileSystem\(""",
      Set("store/Fs.scala", "store/StoreLock.scala")) == Nil)
  }
}
