package graft

import graft.api.Graft
import graft.store.StoreLock
import org.apache.spark.sql.functions._

/** CROSS-PROCESS writer discipline — the real contract the lockfile and
  * the persisted watermark exist for (reference src/lockfile.rs:121-196:
  * the lock arbitrates between operating-system processes, not threads).
  * StoreLockSpec's two-thread fixtures exercise the code paths; this
  * spec forks [[graft.tools.TwoJvmWriter]] as a genuinely separate JVM
  * (its own SparkSession, its own FileSystem instance, its own process
  * id) against this test session's store and asserts:
  *
  *   1. a held lock blocks the FOREIGN PROCESS (structured locked error
  *      with the holder's hint), and releasing it unblocks;
  *   2. the foreign process's commit mints ids from the shared persisted
  *      watermark (globally unique, past this session's reservation);
  *   3. this session's attached serving index DETECTS the foreign commit
  *      through the watermark (in-process mutation epoch never moved)
  *      and falls back to the corpus route — then refreshLexIndex
  *      catches the index up to the foreign delta and serving returns
  *      to the indexed route with the foreign doc ranked.
  */
class TwoJvmLockSpec extends SparkSpec with TempStores {

  /** fork a real second JVM running `mainClass`; (exitCode, stdout).
    * Classpath and JDK-17 add-opens are inherited from this forked test
    * JVM (build.sbt sets both), so the child sees the same Spark. */
  private def fork(mainClass: String, args: String*): (Int, String) = {
    val java = System.getProperty("java.home") + "/bin/java"
    val addOpens = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    val code = p.waitFor()
    (code, out)
  }

  private def forkWriter(args: String*): (Int, String) =
    fork("graft.tools.TwoJvmWriter", args: _*)

  test("two JVMs: lock blocks a foreign process; watermark + refresh close the loop") {
    val dir = tempDir("graft_twojvm")
    val store = s"$dir/frames"
    val tbl = "twojvm_lex_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val g = new Graft(spark, dir)
    Seq("spark joins shuffle data", "window functions rank rows",
      "broadcast joins avoid the shuffle").zipWithIndex.foreach {
      case (t, i) => g.put(s"mv2://twojvm/base/$i", t)
    }
    g.buildLexIndex(tbl, stemmed = false)
    g.search("spark joins", topK = 10).collect()
    assert(g.lastSearchRoute == "indexed")
    val watermarkBefore = g.currentVersion
    val maxIdBefore = g.frames.log.agg(max("id")).head.getLong(0)

    // ---- 1. contention: this process holds the lock; the foreign JVM
    // must time out with the structured hint, never interleave ----
    val held = StoreLock.acquire(spark, store,
      StoreLock.Options(command = "spec-holder"))
    val (lockedCode, lockedOut) =
      try forkWriter(store, "1500", "mv2://twojvm/foreign")
      finally held.release()
    assert(lockedCode == 3, s"foreign writer should have been locked out:\n$lockedOut")
    assert(lockedOut.contains("TWOJVM_LOCKED") && lockedOut.contains("spec-holder"),
      s"missing owner hint in:\n${lockedOut.linesIterator.filter(_.contains("TWOJVM")).mkString}")
    assert(g.frames.latestActive.filter(col("uri") === "mv2://twojvm/foreign")
      .isEmpty, "locked-out writer must not have committed")

    // ---- 2. released: the foreign JVM commits, minting PAST this
    // session's persisted reservation ----
    val (okCode, okOut) = forkWriter(store, "120000", "mv2://twojvm/foreign")
    assert(okCode == 0, s"foreign writer failed:\n$okOut")
    val foreignId = okOut.linesIterator
      .find(_.startsWith("TWOJVM_PUT")).map(_.split("id=")(1).trim.toLong)
      .getOrElse(fail(s"no TWOJVM_PUT line in:\n$okOut"))
    // strictly past the RESERVATION (each put reserves an 8-id block):
    // minting from a log rescan would hand out maxIdBefore + 1
    assert(foreignId > maxIdBefore + 7,
      "foreign process must mint past the shared persisted watermark, not the log max")
    assert(g.frames.latestActive.filter(col("id") === foreignId)
      .select("uri").head.getString(0) == "mv2://twojvm/foreign")

    // ---- 3. this session DETECTS the foreign commit via the persisted
    // watermark (its in-process epoch never moved) and serves corpus;
    // refresh appends the foreign delta and restores indexed serving ----
    assert(g.currentVersion > watermarkBefore)
    val hits = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "corpus",
      "foreign commit must flip serving off the stale index")
    assert(hits.collect().map(_.getLong(0)).contains(foreignId))
    assert(g.refreshLexIndex() == "appended")
    val served = g.search("spark joins", topK = 10)
    assert(g.lastSearchRoute == "indexed")
    assert(served.collect().map(_.getLong(0)).contains(foreignId))
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
  }

  test("two JVMs racing the SAME vec refresh: the maintenance lock serializes them") {
    val dir = tempDir("graft_twojvm_vec")
    val vecPath = s"$dir/vec"
    val g = new Graft(spark, dir)
    Seq("spark joins shuffle data", "window functions rank rows",
      "broadcast joins avoid the shuffle", "a gardening note").zipWithIndex
      .foreach { case (t, i) => g.put(s"mv2://twojvmvec/$i", t) }
    g.buildVecIndex(vecPath, k = 2, iters = 1, nprobe = 2)
    g.put("mv2://twojvmvec/extra", "another doc about window joins") // stale
    // rendezvous: let the foreign JVM finish its (slow) session startup,
    // then release both refreshes as close to simultaneously as possible
    val readyF = java.nio.file.Paths.get(vecPath, "_TWOJVM_READY")
    val goF = java.nio.file.Paths.get(vecPath, "_TWOJVM_GO")
    val outRef = new java.util.concurrent.atomic.AtomicReference[(Int, String)]
    val child = new Thread(() => outRef.set(
      fork("graft.tools.TwoJvmVecRefresher", dir, vecPath)))
    child.start()
    val deadline = System.currentTimeMillis() + 120000L
    while (!java.nio.file.Files.exists(readyF) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(java.nio.file.Files.exists(readyF), "foreign refresher never came up")
    java.nio.file.Files.write(goF, Array.empty[Byte])
    val mine = g.refreshVecIndex()
    child.join(180000)
    val (code, out) = outRef.get
    assert(code == 0, s"foreign refresher failed:\n$out")
    val theirs = out.linesIterator.find(_.startsWith("TWOJVM_REFRESH"))
      .map(_.split("\\s+")(1)).getOrElse(fail(s"no outcome in:\n$out"))
    // the cross-process maintenance lock must serialize the two legs:
    // exactly ONE appends, the other re-reads the restamp
    assert(Seq(mine, theirs).sorted == Seq("appended", "fresh"),
      s"mine=$mine theirs=$theirs")
    assert(graft.vector.IvfIndex.deltaCount(spark, vecPath) == 1,
      "a double append would mint two delta dirs (or duplicate ids)")
    g.ask("spark joins", topK = 3)
    assert(g.lastAskVecRoute == "indexed")
    java.nio.file.Files.deleteIfExists(readyF)
    java.nio.file.Files.deleteIfExists(goF): Unit
  }
}
