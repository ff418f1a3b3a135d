package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** The serving artifacts' stamp and torn-refresh-marker format is one
  * module's decision ([[ServingArtifact]]): each literal that names it
  * occurs in exactly one main source file, so no caller can read or
  * rewrite a stamp behind the artifact's lock. */
class StampFormatSpec extends AnyFunSuite {

  private val literals = Seq("graft.store.version", "graft.refresh.pending",
    "_GRAFT_STORE_VERSION", "_GRAFT_REFRESH_PENDING")

  test("each stamp/marker literal occurs in exactly one main source file") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (no ${root.getAbsolutePath})")
    val sources = java.nio.file.Files.walk(root.toPath).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq
    val text = sources.map(p => p -> new String(
      java.nio.file.Files.readAllBytes(p), "UTF-8")).toMap
    literals.foreach { lit =>
      val owners = text.collect { case (p, s) if s.contains(lit) => root.toPath.relativize(p) }
      assert(owners.size == 1, s"$lit occurs in ${owners.toSeq.sortBy(_.toString).mkString(", ")}")
    }
  }
}
