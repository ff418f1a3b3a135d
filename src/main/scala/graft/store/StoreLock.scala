package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Single-writer discipline for a [[FrameStore]] directory — the Spark-side
  * form of the reference's exclusive lockfile (contract: src/lockfile.rs:121-196
  * acquire loop, src/lock.rs:10-67 exclusive mode; semantics reproduced, not
  * the fs2 implementation).
  *
  * Two `FrameStore` handles on one store path are each correct alone but
  * race each other: id minting is read-modify-write over the log's max
  * (id, commitSeq), and parquet appends from two drivers interleave. The
  * reference refuses that interleaving outright — every mutation takes an
  * exclusive lockfile first, and a second writer gets a structured
  * "locked by pid … since …" error with a staleness hint. This object is
  * that contract on Hadoop paths:
  *
  *   - the lock is `<storePath>.lock`, a SIBLING of the log directory,
  *     so no layout change inside the store dir can touch a held lock;
  *   - acquisition is an atomic exclusive create that CARRIES the owner
  *     record — on `file:` paths the record is written to a temp file and
  *     published via a hard link (link(2) fails atomically if the target
  *     exists, and the lockfile is never observable without its record);
  *     on cluster filesystems `create(overwrite = false)` lets the
  *     namenode arbitrate (the record lands in the same create, though a
  *     reader may glimpse a zero-length file pre-close — see staleness);
  *   - the owner record (pid, host, command, startedAt, heartbeat) lives
  *     INSIDE the lockfile; a contender that loses reads it back for the
  *     error hint, exactly the reference's `LockOwnerHint`;
  *   - acquire spins (10 ms) until `timeoutMs`, then throws
  *     [[StoreLockedException]] carrying the owner and whether the lock
  *     looks STALE (no heartbeat within `staleGraceMs`);
  *   - staleness of a lockfile whose record is missing or unreadable is
  *     judged by the FILE's age (mtime), never assumed: a contender that
  *     catches a mid-publish window sees a young file and backs off, so
  *     `forceStale` can only ever sweep a lock that has gone a full
  *     grace without a heartbeat — a half-written record is NOT a
  *     license to steal;
  *   - `forceStale = true` lets a caller take over a stale lock (crashed
  *     writer) by deleting it and retrying the create — the reference's
  *     `force_stale` recovery path (src/lockfile.rs:158-166);
  *   - [[StoreLock.heartbeat]] re-stamps the record (atomic
  *     rename-replace on local paths) so long-running writers stay
  *     visibly live, and [[StoreLock.withLock]] PUMPS it from a daemon
  *     thread every `heartbeatMs` for the whole body — a 10-minute
  *     compaction can never be force-stale-swept by a legal contender
  *     (reference `LockRecord::touch`);
  *   - [[StoreLock.release]] deletes the lockfile ONLY if it still
  *     carries this holder's record (pid + startedAt match) — a holder
  *     that was legally swept while stale must not unlock the usurper
  *     (the Drop impl in the reference checks identity the same way).
  *
  * Deliberate divergence: the reference also has a SHARED mode
  * (src/lock.rs:10-14 LockMode::Shared, downgrade/upgrade) because its
  * readers mmap one mutable container file and must fence a writer's
  * in-place byte rewrites. Parquet storage removes that need — data
  * files are immutable once written and every commit is new files plus
  * a marker or a pointer swap, so readers here are LOCK-FREE by
  * construction (MVCC via the latest-active view, committed-delta
  * markers) and only writers ever contend. A rewrite — vacuum, the
  * cards rebuild, an IVF rebuild — writes a new generation and swaps
  * the `CURRENT` pointer ([[Generations]]); the generation it
  * supersedes is kept until the next swap, so a reader that resolved
  * it just before the swap still finds every file it planned on.
  */
object StoreLock {

  /** parsed owner record of a held lock (reference LockRecord fields) */
  final case class Owner(pid: Long, host: String, cmd: String,
                         startedAtMs: Long, heartbeatMs: Long,
                         lastHeartbeatMs: Long) {
    def describe: String =
      s"store locked by pid $pid on $host (cmd: $cmd) since $startedAtMs"
  }

  final case class Options(timeoutMs: Long = 250L,
                           heartbeatMs: Long = 2000L,
                           staleGraceMs: Long = 10000L,
                           command: String = "graft",
                           forceStale: Boolean = false)

  final class StoreLockedException(msg: String, val owner: Option[Owner],
                                   val stale: Boolean)
      extends RuntimeException(msg)

  def lockPathFor(storePath: String): String =
    storePath.stripSuffix("/") + ".lock"

  private val SpinSleepMs = 10L

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isLocalFs(fs: FileSystem): Boolean = {
    val s = fs.getUri.getScheme
    s == null || s == "file" || s == "local"
  }

  private def localPath(lockPath: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      new Path(lockPath).toUri.getPath match { case "" => lockPath; case u => u })

  private def recordLine(o: Owner): Array[Byte] =
    s"${o.pid}\t${o.host}\t${o.cmd}\t${o.startedAtMs}\t${o.heartbeatMs}\t${o.lastHeartbeatMs}\n"
      .getBytes("UTF-8")

  /** Atomic exclusive create CARRYING the owner record; true = we own it.
    * The parent dir is created first — a lock can anchor on a warehouse
    * dir that doesn't exist yet (first table write happens AFTER the
    * lock is taken). Local: record → temp file → hard-link publish, so
    * the lockfile is never visible without a complete record. Non-local:
    * the namenode serializes create(overwrite = false); the record is in
    * the same create (note: on object stores without atomic create —
    * s3a — this primitive needs an external arbiter; HDFS/abfs are
    * fine). */
  private def tryCreate(fs: FileSystem, lockPath: String, o: Owner): Boolean =
    if (isLocalFs(fs)) {
      val lock = localPath(lockPath)
      if (lock.getParent != null)
        java.nio.file.Files.createDirectories(lock.getParent)
      val tmp = lock.resolveSibling(
        s".${lock.getFileName}.tmp-${o.pid}-${System.nanoTime()}")
      java.nio.file.Files.write(tmp, recordLine(o))
      try { java.nio.file.Files.createLink(lock, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // fs without hard links: CREATE_NEW still O_EXCL-arbitrates;
          // the record write follows in the same open (tiny pre-close
          // window, covered by the mtime grace below)
          try {
            java.nio.file.Files.write(lock, recordLine(o),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally java.nio.file.Files.deleteIfExists(tmp): Unit
    } else {
      try fs.mkdirs(new Path(lockPath).getParent)
      catch { case scala.util.control.NonFatal(_) => () }
      try {
        val out = fs.create(new Path(lockPath), false)
        try out.write(recordLine(o)) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.FileNotFoundException => false // parent races
      }
    }

  private[store] def readRecord(fs: FileSystem, lockPath: String): Option[Owner] =
    readRecordTri(fs, lockPath) match {
      case RecordOwner(o) => Some(o)
      case _              => None
    }

  /** [[readRecord]] with the ABSENT / UNREADABLE distinction preserved.
    * [[StoreLock.heartbeat]] needs it: a missing lockfile means released
    * or legally swept (never re-stamp — that would recreate a phantom
    * lock), but a READ FAILURE on a present file (transient FS error,
    * torn mid-publish) proves nothing about ownership — a pump that
    * treats it as "not ours" under sustained read degradation stops
    * stamping while believing it pumps, the grace expires, and a
    * forceStale contender legally steals a LIVE writer's lock. */
  private[store] sealed trait RecordRead
  private[store] case object RecordAbsent extends RecordRead
  private[store] case object RecordUnreadable extends RecordRead
  private[store] final case class RecordOwner(o: Owner) extends RecordRead

  private[store] def readRecordTri(fs: FileSystem, lockPath: String): RecordRead =
    try {
      val in = fs.open(new Path(lockPath))
      val line =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      line.split('\t') match {
        case Array(pid, host, cmd, started, hb, last) =>
          RecordOwner(Owner(pid.toLong, host, cmd, started.toLong, hb.toLong,
            last.toLong))
        case _ => RecordUnreadable // half-written record: owner unknown
      }
    } catch {
      case _: java.io.FileNotFoundException => RecordAbsent
      case scala.util.control.NonFatal(_) =>
        // open/parse failed for another reason: only a provable absence
        // reads as absent; anything else is a transient read failure
        try { if (fs.exists(new Path(lockPath))) RecordUnreadable else RecordAbsent }
        catch { case scala.util.control.NonFatal(_) => RecordUnreadable }
    }

  /** No heartbeat within the grace ⇒ stale (reference registry::is_stale).
    * A lockfile whose record is missing or unreadable is stale only when
    * the FILE ITSELF has gone a full grace without being touched — a
    * mid-publish or mid-heartbeat window must never read as a crashed
    * writer (every record publish refreshes mtime). A lockfile that
    * vanished between the create attempt and this check is simply gone:
    * not stale, the caller retries the create. */
  private def isStale(fs: FileSystem, lockPath: String, owner: Option[Owner],
                      staleGraceMs: Long, nowMs: Long): Boolean = owner match {
    case Some(o) => nowMs - o.lastHeartbeatMs > staleGraceMs
    case None =>
      try nowMs - fs.getFileStatus(new Path(lockPath)).getModificationTime >
        staleGraceMs
      catch { case _: java.io.FileNotFoundException => false }
  }

  /** who holds the lock right now, if anyone (reference current_owner) */
  def currentOwner(spark: SparkSession, storePath: String): Option[Owner] = {
    val lockPath = lockPathFor(storePath)
    val fs = fsOf(spark, storePath)
    if (!fs.exists(new Path(lockPath))) None else readRecord(fs, lockPath)
  }

  /** Acquire the exclusive store lock or throw [[StoreLockedException]].
    * Spin-with-sleep up to `timeoutMs`; a stale holder is taken over only
    * when `forceStale` is set. */
  def acquire(spark: SparkSession, storePath: String,
              options: Options = Options()): StoreLock = {
    val lockPath = lockPathFor(storePath)
    val fs = fsOf(spark, storePath)
    val start = System.currentTimeMillis()
    val record = Owner(
      pid = ProcessHandle.current().pid(),
      host = java.net.InetAddress.getLocalHost.getHostName,
      cmd = options.command,
      startedAtMs = start,
      heartbeatMs = options.heartbeatMs,
      lastHeartbeatMs = start)
    while (true) {
      if (tryCreate(fs, lockPath, record))
        return new StoreLock(fs, lockPath, record, isLocalFs(fs))
      val existing = readRecord(fs, lockPath)
      val now = System.currentTimeMillis()
      val stale = isStale(fs, lockPath, existing, options.staleGraceMs, now)
      if (options.forceStale && stale) {
        // crashed writer: sweep and retry the exclusive create (losing
        // the delete race to another contender is fine — the create
        // arbitrates)
        fs.delete(new Path(lockPath), false)
      } else if (now - start >= options.timeoutMs) {
        val msg = existing.map(_.describe)
          .getOrElse("store locked by another process")
        throw new StoreLockedException(msg, existing, stale)
      } else {
        Thread.sleep(SpinSleepMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** acquire → body → release, the shape every FrameStore mutation uses.
    * A daemon thread pumps [[StoreLock.heartbeat]] every `heartbeatMs`
    * while the body runs, so a mutation longer than `staleGraceMs` (a
    * big compaction, a 1000× index build) stays visibly LIVE and a
    * `forceStale` contender can never legally sweep it — only a genuine
    * crash (process death stops the pump) lets the grace expire. */
  def withLock[T](spark: SparkSession, storePath: String,
                  options: Options = Options())(body: => T): T = {
    val lock = acquire(spark, storePath, options)
    val pump = new Thread(() => {
      // the catch lives INSIDE the loop: a single transient FS hiccup in
      // one tick must not kill the pump — a dead pump lets the stale
      // grace expire under a live writer and a forceStale contender then
      // "legally" steals the lock mid-mutation (SoakMultiWriter caught
      // exactly this as two processes sharing one parquet _temporary
      // dir). Only interruption (release) ends the loop.
      var live = true
      while (live && !Thread.currentThread().isInterrupted) {
        try {
          Thread.sleep(math.max(options.heartbeatMs, 100L))
          lock.heartbeat()
        } catch {
          case _: InterruptedException => live = false
          case scala.util.control.NonFatal(_) => () // transient; keep pumping
        }
      }
    }, s"graft-lock-heartbeat-${new Path(storePath).getName}")
    pump.setDaemon(true)
    pump.start()
    try body finally {
      pump.interrupt()
      pump.join(2000L)
      lock.release()
    }
  }
}

/** A held exclusive lock; release deletes the lockfile (reference Drop). */
final class StoreLock private[store] (fs: FileSystem, lockPath: String,
                                      private var record: StoreLock.Owner,
                                      localFs: Boolean) {
  /** set at release; a late heartbeat (a pump tick that outlived
    * `pump.join`) must become a no-op instead of recreating a phantom
    * lockfile that blocks contenders until the stale grace expires */
  @volatile private var released = false

  /** re-stamp liveness so the stale-grace clock restarts
    * (LockRecord::touch). Local paths replace the record atomically
    * (temp + rename), so a concurrent reader never catches a torn
    * record; non-local truncate-rewrites, and readers there fall back
    * to the mtime grace (which this refreshes either way).
    *
    * Ownership-checked like [[release]]: the lockfile is re-stamped only
    * while it still carries THIS holder's record (pid + startedAt). A
    * holder that went stale and was legally force-swept must not
    * overwrite the usurper's record — the next pump tick would otherwise
    * restore our identity, make release()'s check pass, and delete a
    * LIVE writer's lock. A missing or unreadable record also skips (a
    * swept-then-usurped or just-released lockfile is never recreated).
    * The read→write pair is not atomic against a sweep landing exactly
    * in between, but a sweep is only legal after a FULL stale grace with
    * no heartbeat — a holder actively pumping can't be in that state
    * except around a pathological pause, the same residual window
    * release() documents. */
  def heartbeat(): Unit = synchronized {
    if (released) return
    StoreLock.readRecordTri(fs, lockPath) match {
      case StoreLock.RecordAbsent => return // released/swept: never recreate
      case StoreLock.RecordOwner(c)
        if c.pid != record.pid || c.startedAtMs != record.startedAtMs =>
        return // a usurper's record: never clobber a live writer
      case _ => () // ours — or UNREADABLE (transient read failure / torn
        // mid-publish): ownership was verified at acquire and every prior
        // tick, and a usurper is only legal after a FULL un-stamped grace,
        // which an actively-pumping holder never reaches — so stamping is
        // the safe direction (skipping here under sustained read
        // degradation is exactly the silent pump-death the loop fix
        // targeted)
    }
    record = record.copy(lastHeartbeatMs = System.currentTimeMillis())
    val bytes =
      s"${record.pid}\t${record.host}\t${record.cmd}\t${record.startedAtMs}\t${record.heartbeatMs}\t${record.lastHeartbeatMs}\n"
        .getBytes("UTF-8")
    if (localFs) {
      val lock = java.nio.file.Paths.get(
        new Path(lockPath).toUri.getPath match { case "" => lockPath; case u => u })
      val tmp = lock.resolveSibling(
        s".${lock.getFileName}.hb-${record.pid}")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, lock,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(new Path(lockPath), true)
      try out.write(bytes) finally out.close()
    }
  }

  def owner: StoreLock.Owner = record

  /** Delete the lockfile — but only if it is still OURS. A holder that
    * went stale and was legally force-swept must not delete the
    * usurper's lockfile (that would unlock a LIVE writer); identity is
    * pid + startedAt, which no other acquire can mint. An unreadable
    * record also refuses the delete (can't prove ownership) — on local
    * paths records are published atomically so our own is always
    * readable; the refusal can only strand a non-local lock, which the
    * stale grace then clears. */
  def release(): Unit = synchronized {
    released = true // fence late heartbeats (see the flag's doc)
    val cur = StoreLock.readRecord(fs, lockPath)
    if (cur.exists(c => c.pid == record.pid &&
          c.startedAtMs == record.startedAtMs))
      fs.delete(new Path(lockPath), false): Unit
  }
}
