package graft

import graft.store.{FrameStore, StoreLock}

/** Writer-discipline contract (reference src/lock.rs + src/lockfile.rs):
  * concurrent FrameStore handles on one path serialize their commits
  * through the exclusive lockfile and mint ids from the persisted
  * watermark — no duplicate ids, structured locked errors, stale-lock
  * takeover, and id monotonicity across vacuum. */
class StoreLockSpec extends SparkSpec with TempStores {

  private def tmpDir: String = tempDir("graft-lock")

  test("two concurrent handles: commits serialize, ids never collide") {
    val dir = s"$tmpDir/frames"
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(tag: String): Thread = new Thread(() => {
      try {
        val store = new FrameStore(spark, dir) // its own handle + id cache
        (0 until 6).foreach { b =>
          store.put((0 until 3).map(i =>
            (s"mv2://$tag/$b/$i", s"payload $tag batch $b item $i")))
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    val ts = Seq(writer("alpha"), writer("beta"))
    ts.foreach(_.start()); ts.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer threads failed: ${errors.peek()}")
    val store = new FrameStore(spark, dir)
    val log = store.log.collect()
    // every row keeps a globally unique id+seq version key, every doc lives
    assert(log.map(_.id).distinct.length == log.length)
    assert(store.latestActive.count() == 36)
    // 12 commits serialized by the lock -> 12 distinct commitSeqs
    assert(log.map(_.commitSeq).distinct.length == 12)
  }

  test("fresh handle mints from the persisted watermark, not a rescan race") {
    val dir = s"$tmpDir/frames"
    val h1 = new FrameStore(spark, dir)
    val ids1 = h1.put(Seq(("mv2://a", "first handle content")))
    val h2 = new FrameStore(spark, dir)
    val ids2 = h2.put(Seq(("mv2://b", "second handle content")))
    // h1 RESERVED a block (size*8); h2 must mint past the reservation,
    // which only the _graft_seq watermark (not the log max) records
    assert(ids2.head > ids1.head + 7)
    // and h1 keeps minting safely after h2's foreign commit
    val ids3 = h1.put(Seq(("mv2://c", "first handle again")))
    assert((ids1 ++ ids2 ++ ids3).distinct.length == 3)
  }

  test("contender times out with the holder's owner hint") {
    val dir = s"$tmpDir/frames"
    val lock = StoreLock.acquire(spark, dir,
      StoreLock.Options(command = "holder-process"))
    try {
      val impatient = new FrameStore(spark, dir,
        StoreLock.Options(timeoutMs = 150L))
      val e = intercept[StoreLock.StoreLockedException] {
        impatient.put(Seq(("mv2://x", "should not land")))
      }
      assert(e.owner.exists(_.cmd == "holder-process"))
      assert(!e.stale) // heartbeat is fresh
      assert(e.getMessage.contains("holder-process"))
      // reporting surface: who holds it
      assert(StoreLock.currentOwner(spark, dir).exists(_.cmd == "holder-process"))
    } finally lock.release()
    assert(StoreLock.currentOwner(spark, dir).isEmpty)
  }

  test("waiting contender proceeds once the holder releases") {
    val dir = s"$tmpDir/frames"
    val lock = StoreLock.acquire(spark, dir, StoreLock.Options())
    val store = new FrameStore(spark, dir) // default patient options
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      store.put(Seq(("mv2://y", "lands after release"))); done.countDown()
    })
    t.start()
    Thread.sleep(300) // contender is spinning now
    assert(done.getCount == 1)
    lock.release()
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    t.join()
    assert(store.latestActive.count() == 1)
  }

  test("stale lock: reported stale, taken over only with forceStale") {
    val dir = s"$tmpDir/frames"
    val lock = StoreLock.acquire(spark, dir,
      StoreLock.Options(command = "crashed-writer"))
    // no heartbeat arrives; with a tiny grace the holder reads as stale
    val noForce = intercept[StoreLock.StoreLockedException] {
      StoreLock.acquire(spark, dir,
        StoreLock.Options(timeoutMs = 120L, staleGraceMs = 1L))
    }
    assert(noForce.stale && noForce.owner.exists(_.cmd == "crashed-writer"))
    // forceStale sweeps the stale lock and wins
    Thread.sleep(5)
    val takeover = StoreLock.acquire(spark, dir,
      StoreLock.Options(timeoutMs = 2000L, staleGraceMs = 1L,
        forceStale = true, command = "recovery"))
    assert(takeover.owner.cmd == "recovery")
    takeover.release()
    lock.release() // stale holder's release of the swept file is a no-op
  }

  test("heartbeat keeps a slow writer live against forceStale") {
    val dir = s"$tmpDir/frames"
    val lock = StoreLock.acquire(spark, dir, StoreLock.Options())
    try {
      Thread.sleep(30)
      lock.heartbeat() // a live writer re-stamps within its grace
      val e = intercept[StoreLock.StoreLockedException] {
        StoreLock.acquire(spark, dir, StoreLock.Options(
          timeoutMs = 100L, staleGraceMs = 60000L, forceStale = true))
      }
      assert(!e.stale) // heartbeat held the takeover off
    } finally lock.release()
  }

  test("legacy store without a watermark file backfills it on the first mutation") {
    val dir = s"$tmpDir/frames"
    val h1 = new FrameStore(spark, dir)
    val ids1 = h1.put(Seq(("mv2://a", "pre-watermark content")))
    // simulate a pre-r16 log: the watermark file never existed
    val seq = new java.io.File(dir, "_graft_seq")
    assert(seq.exists); assert(seq.delete())
    // a fresh handle scans the log under the lock, mints past its max,
    // and REWRITES the watermark as part of the commit
    val h2 = new FrameStore(spark, dir)
    val ids2 = h2.put(Seq(("mv2://b", "post-backfill content")))
    assert(seq.exists, "first locked mutation must backfill the watermark")
    assert(ids2.head > ids1.head)
    val h3 = new FrameStore(spark, dir)
    val ids3 = h3.put(Seq(("mv2://c", "third handle content")))
    assert((ids1 ++ ids2 ++ ids3).distinct.length == 3)
  }

  test("concurrent IVF appends serialize: distinct delta dirs, nothing lost") {
    import spark.implicits._
    val dir = s"$tmpDir/ivf"
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => ((seed * 31 + i * 7) % 13).toFloat)
    val base = (0L until 20L).map(i => (i, vec(i.toInt))).toDF("id", "v")
    val cents = Seq(0 -> vec(0), 1 -> vec(5))
    graft.vector.IvfIndex.write(base, "id", "v", dir, cents)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def appender(ids: Range): Thread = new Thread(() => {
      try {
        val delta = ids.map(i => (i.toLong, vec(i))).toDF("id", "v")
        graft.vector.IvfIndex.append(spark, dir, delta, "id", "v"): Unit
      } catch { case t: Throwable => errors.add(t) }
    })
    val ts = Seq(appender(100 until 110), appender(200 until 210))
    ts.foreach(_.start()); ts.foreach(_.join(300000))
    assert(errors.isEmpty, s"append threads failed: ${errors.peek()}")
    // without the lock both threads mint delta d-1 and one overwrites the
    // other; with it, two committed deltas and every vector survives
    assert(graft.vector.IvfIndex.deltaCount(spark, dir) == 2)
    val ids = graft.vector.IvfIndex.read(spark, dir).assigned
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 40 && ids((100L)) && ids(209L))
  }

  test("concurrent BM25 appends serialize under the table lock") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS lockspec_bm25")
    val base = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    graft.search.Bm25Index.write(base, "doc_id", "text", "lockspec_bm25",
      nBuckets = 2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def appender(id: Long, text: String): Thread = new Thread(() => {
      try graft.search.Bm25Index.append(Seq((id, text)).toDF("doc_id", "text"),
        "doc_id", "text", "lockspec_bm25", nBuckets = 2)
      catch { case t: Throwable => errors.add(t) }
    })
    val ts = Seq(appender(3L, "gamma delta"), appender(4L, "delta epsilon"))
    ts.foreach(_.start()); ts.foreach(_.join(300000))
    assert(errors.isEmpty, s"append threads failed: ${errors.peek()}")
    val postings = spark.table("lockspec_bm25")
    assert(postings.count() == 8) // 4 docs x 2 terms, none lost
    assert(postings.select("doc_id").distinct().count() == 4)
    spark.sql("DROP TABLE IF EXISTS lockspec_bm25")
  }

  test("a swept holder's heartbeat never overwrites the usurper's record") {
    val dir = s"$tmpDir/frames"
    val holder = StoreLock.acquire(spark, dir,
      StoreLock.Options(command = "sweepable-hb"))
    Thread.sleep(5)
    val usurper = StoreLock.acquire(spark, dir,
      StoreLock.Options(timeoutMs = 2000L, staleGraceMs = 1L,
        forceStale = true, command = "usurper-hb"))
    // the stale holder's next pump tick fires AFTER the takeover: it must
    // read the foreign record and skip — an unconditional re-stamp would
    // restore the holder's identity, make its release() check pass, and
    // delete a LIVE writer's lock
    holder.heartbeat()
    assert(StoreLock.currentOwner(spark, dir).exists(_.cmd == "usurper-hb"),
      "swept holder's heartbeat clobbered the usurper's record")
    holder.release() // and release still refuses (foreign record)
    assert(StoreLock.currentOwner(spark, dir).exists(_.cmd == "usurper-hb"))
    usurper.release()
    assert(StoreLock.currentOwner(spark, dir).isEmpty)
  }

  test("a late heartbeat after release never recreates a phantom lockfile") {
    val dir = s"$tmpDir/frames"
    val lock = StoreLock.acquire(spark, dir,
      StoreLock.Options(command = "late-hb"))
    lock.release()
    assert(StoreLock.currentOwner(spark, dir).isEmpty)
    // a pump tick that outlived pump.join(2000): must be a no-op — the
    // old ATOMIC_MOVE would re-CREATE the lockfile and block every
    // contender until the stale grace expired
    lock.heartbeat()
    assert(StoreLock.currentOwner(spark, dir).isEmpty,
      "post-release heartbeat recreated the lockfile")
    // and a fresh contender acquires immediately
    val next = StoreLock.acquire(spark, dir,
      StoreLock.Options(command = "next"))
    assert(next.owner.cmd == "next")
    next.release()
  }

  test("release after a legal force-sweep never unlocks the usurper") {
    val dir = s"$tmpDir/frames"
    val holder = StoreLock.acquire(spark, dir,
      StoreLock.Options(command = "sweepable"))
    Thread.sleep(5) // let the grace expire relative to the holder's stamp
    val usurper = StoreLock.acquire(spark, dir,
      StoreLock.Options(timeoutMs = 2000L, staleGraceMs = 1L,
        forceStale = true, command = "usurper"))
    // the swept holder's release must verify ownership and refuse the
    // delete — otherwise it unlocks a LIVE writer by path
    holder.release()
    assert(StoreLock.currentOwner(spark, dir).exists(_.cmd == "usurper"),
      "stale holder's release deleted the usurper's lockfile")
    usurper.release()
    assert(StoreLock.currentOwner(spark, dir).isEmpty)
  }

  test("record-less lockfile is stale only once the FILE ages past the grace") {
    val dir = s"$tmpDir/frames"
    // simulate a torn publish / foreign-format lockfile: content that
    // parses to no owner record, mtime = now
    val lockFile = new java.io.File(StoreLock.lockPathFor(dir))
    lockFile.getParentFile.mkdirs()
    java.nio.file.Files.write(lockFile.toPath,
      "garbage".getBytes("UTF-8")): Unit
    // a young record-less file must NOT read as stale — a forceStale
    // contender with a generous grace backs off instead of stealing
    val e = intercept[StoreLock.StoreLockedException] {
      StoreLock.acquire(spark, dir, StoreLock.Options(
        timeoutMs = 150L, staleGraceMs = 60000L, forceStale = true))
    }
    assert(!e.stale, "young record-less lockfile misread as stale")
    // once the file's AGE exceeds the grace, the takeover is legal
    Thread.sleep(60)
    val takeover = StoreLock.acquire(spark, dir, StoreLock.Options(
      timeoutMs = 2000L, staleGraceMs = 30L, forceStale = true,
      command = "aged-recovery"))
    assert(takeover.owner.cmd == "aged-recovery")
    takeover.release()
  }

  test("withLock pumps heartbeats: a long body outlives an aggressive sweeper") {
    val dir = s"$tmpDir/frames"
    val bodyDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sweepResult = new java.util.concurrent.atomic.AtomicReference[String]
    val t = new Thread(() => {
      // the body (1.2 s) is 4x the grace (300 ms); only the pump
      // (heartbeatMs = 50) keeps the record young enough to survive
      StoreLock.withLock(spark, dir, StoreLock.Options(
        heartbeatMs = 50L, staleGraceMs = 300L, command = "long-compaction")) {
        Thread.sleep(1200)
        bodyDone.set(true)
      }
    })
    t.start()
    Thread.sleep(400) // past one grace — a crashed writer would be sweepable now
    try {
      StoreLock.acquire(spark, dir, StoreLock.Options(
        timeoutMs = 400L, staleGraceMs = 300L, forceStale = true,
        command = "sweeper"))
      sweepResult.set("stole")
    } catch {
      case e: StoreLock.StoreLockedException =>
        sweepResult.set(if (e.stale) "stale" else "live")
    }
    t.join(30000)
    assert(bodyDone.get, "locked body did not finish")
    assert(sweepResult.get == "live",
      s"sweeper saw '${sweepResult.get}' — the pump failed to keep the lock live")
    // after release the same contender acquires cleanly
    StoreLock.acquire(spark, dir, StoreLock.Options(command = "after")).release()
  }

  test("heartbeat under an UNREADABLE record keeps stamping (read failure is not absence)") {
    val dir = s"$tmpDir/frames"
    val lock = StoreLock.acquire(spark, dir, StoreLock.Options(command = "degraded-writer"))
    val lockFile = new java.io.File(StoreLock.lockPathFor(dir))
    // simulate a transient read-side failure surfacing as an unparseable
    // record (torn mid-publish / FS hiccup): the file EXISTS but carries
    // no readable owner. The pump verified ownership at acquire and every
    // prior tick — the safe direction is to stamp (a pump that silently
    // skips here lets the grace expire under a LIVE writer, the exact
    // steal the pump-loop fix targeted).
    java.nio.file.Files.write(lockFile.toPath, "torn\tgarbage".getBytes("UTF-8")): Unit
    lock.heartbeat()
    val restored = StoreLock.currentOwner(spark, dir)
    assert(restored.exists(o => o.pid == lock.owner.pid &&
      o.startedAtMs == lock.owner.startedAtMs && o.cmd == "degraded-writer"),
      s"heartbeat skipped the stamp under an unreadable record: $restored")
    // ABSENCE (as opposed to unreadability) still fences: a vanished
    // lockfile (swept + usurper released, with OUR released-flag never
    // set) is never recreated by a live pump tick
    java.nio.file.Files.delete(lockFile.toPath)
    lock.heartbeat()
    assert(!lockFile.exists(), "heartbeat recreated a vanished lockfile")
    lock.release() // no-op (record gone); must not throw
  }

  test("ids stay monotonic across vacuum: tombstoned ids are never reused") {
    val dir = s"$tmpDir/frames"
    val store = new FrameStore(spark, dir)
    val Seq(a) = store.put(Seq(("mv2://keep", "content that stays")))
    val Seq(b) = store.put(Seq(("mv2://drop", "content that goes")))
    store.delete(b)
    store.vacuum() // compacted log's max id is now a's, but the watermark survives
    val Seq(c) = store.put(Seq(("mv2://next", "content after vacuum")))
    assert(c > b && c > a)
    // and a fresh handle (fresh cache) still respects it
    val Seq(d) = new FrameStore(spark, dir).put(Seq(("mv2://more", "again")))
    assert(d > c)
  }
}
