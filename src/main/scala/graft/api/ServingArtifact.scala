package graft.api

import graft.ask.Embedder
import graft.search.{Bm25Index, SketchFilter}
import graft.store.FrameStore.ServingRow
import graft.vector.IvfIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** A persisted serving artifact the facade routes through while it is
  * current: the BM25 postings table ([[LexPostings]]), the sketch table
  * ([[SketchTable]]) and the IVF index dir ([[IvfDir]]). Reference: lazy
  * engine init opens the on-disk segments once they exist
  * (src/memvid/search/mod.rs:47-57), the vector path leaves brute force
  * once an index is worth it (src/vec.rs:23), and instant indexing keeps
  * every engine current inside the commit (src/memvid/search/builders.rs:
  * 12-44).
  *
  * '''Stamp.''' Each artifact carries the store's commit version it
  * covers — a catalog property for the two tables, a root file for the
  * IVF dir. This class owns that format: nothing else reads or writes
  * it. search()/ask() serve through an artifact whose stamp equals the
  * current version and fall back to the corpus path once the store moves
  * past it; results are bit-equal either way (`search_facade_indexed`,
  * `ask_facade_indexed`), the artifact only moves WHERE the work
  * happens. A build stamps AFTER the build/swap: a crash in between
  * leaves an unstamped, stale-looking artifact and serving falls back to
  * the corpus — the safe direction.
  *
  * '''Catch-up.''' [[Graft]]'s one refresh computes the frames past the
  * stamp and APPENDS them ([[appendDelta]]), then restamps — O(|delta|)
  * instead of a corpus-sized rebuild per put. When the delta is exactly
  * this handle's last put ([[graft.store.FrameStore.ownDelta]]) its rows
  * are on the driver: no classification scan, no log re-read. Otherwise
  * one limit(1) scan of the log's delta classifies it: a tombstone, a
  * superseding version or a vacuum past the stamp breaks the append
  * contract (indexed rows went dead) and the artifact rebuilds
  * explicitly ([[rebuild]]).
  *
  * '''Torn refresh and races.''' A pending marker lands BEFORE the
  * append and clears with the restamp; a crash in between leaves it set
  * and the next refresh rebuilds instead of re-appending the same delta
  * (double-counted postings, duplicated candidate ids). The stamp-read →
  * append → restamp leg runs atomically under the artifact's maintenance
  * lock — a cross-process lockfile at [[lockAnchor]] — with an in-lock
  * re-classification, so two refreshers racing one stale stamp serialize
  * and the loser reads the winner's restamp ("fresh"). Outside the lock
  * only STABLE observations decide: a marker seen there can be a peer's
  * healthy in-flight append.
  *
  * '''Per-artifact differences.'''
  *  - Lex and sketch restamp and clear the marker in one `ALTER`; the IVF
  *    dir writes the stamp file, then deletes the marker file (a crash in
  *    between costs one spurious rebuild, never a double append), and a
  *    delta with no document rows restamps without setting the marker.
  *  - The sketch never rebuilds on a delta ([[rebuildsOnDelta]]): its
  *    rows are per doc version and ids are never reused, so a dead
  *    version's row is inert (it joins no live id) and only MISSING rows
  *    lose recall. It always appends the post-stamp Active frames, even
  *    across a vacuum (the compacted log keeps live rows' commitSeq);
  *    only a missing, unstamped or torn table rebuilds. It has no
  *    read-side heal.
  *  - Rebuilds keep the artifact's own shape: lex its bucket count, track
  *    and positions layout; the IVF dir its centroid count.
  *  - The doctor's stamp verdict ([[stale]]): a missing sketch table is
  *    stale; an unstamped IVF index is not (it never served), while a
  *    present but unparseable stamp is.
  *
  * @tparam S what serving opens from a current artifact */
private[api] sealed abstract class ServingArtifact[S](val g: Graft) {
  import ServingArtifact._
  protected def spark = g.spark

  /** the stamp, marker and existence, read fresh (never cached) */
  def stamp(): Stamp
  /** set the torn-refresh marker */
  def markPending(): Unit
  /** stamp `version` and clear the marker */
  def restamp(version: Long): Unit
  /** where the maintenance lock lives */
  def lockAnchor: String
  /** run `body` under the maintenance lock (not re-entrant) */
  def withLock[T](body: => T): T
  /** the append-only catch-up's rows in the artifact's own form; None =
    * nothing to append */
  def delta(how: CatchUp): Option[DataFrame]
  /** append a [[delta]] (inside [[withLock]]) */
  def appendDelta(rows: DataFrame): Unit
  /** rebuild over the current live frames in the artifact's own shape,
    * stamped */
  def rebuild(): Unit
  /** the serving form of a current artifact */
  def open(): S
  /** does a delta with deletes or supersedes force a rebuild? */
  def rebuildsOnDelta: Boolean = true
  /** the doctor's verdict: behind the store, torn, or missing */
  def stale(s: Stamp, cur: Long): Boolean = !s.fresh(cur)

  /** is the maintenance lock unheld? — the read-path heal's skip probe:
    * with a peer mid-maintenance the read serves corpus NOW instead of
    * queueing behind it. One FS check; non-atomic by design (the refresh
    * keeps its own lock for correctness). */
  def idle: Boolean = graft.store.StoreLock.currentOwner(spark, lockAnchor).isEmpty

  /** the serving value per store key: Right(s) = current, Left(stamp) =
    * stale at the stamp it compared */
  @volatile private[api] var served: Option[((Long, Long), Either[ServingArtifact.Stamp, S])] = None

  /** the catch-up's frames: the held rows as a local relation, or the
    * log's post-stamp Active rows */
  protected def deltaFrames(how: CatchUp): DataFrame = how match {
    case OwnRows(rows) =>
      import g.spark.implicits._
      rows.toDF()
    case LogRows(log) => log
    case Rebuild => throw new IllegalStateException("a rebuild has no delta")
  }
}

private[api] object ServingArtifact {
  private val VersionKey = "graft.store.version"
  private val PendingKey = "graft.refresh.pending"
  private val VersionFile = "_GRAFT_STORE_VERSION"
  private val PendingFile = "_GRAFT_REFRESH_PENDING"

  /** @param version None = no stamp; Some(None) = present but unparseable */
  final case class Stamp(exists: Boolean, version: Option[Option[Long]],
                         pending: Boolean) {
    def fresh(cur: Long): Boolean = exists && !pending && version.flatten.contains(cur)
    /** the stamp of a stable observation: exists, no marker, parseable */
    def stable: Option[Long] = version.flatten.filter(_ => exists && !pending)
  }

  /** how an artifact catches up to the store */
  sealed trait CatchUp
  /** the delta is this handle's last put: its rows, held on the driver */
  final case class OwnRows(rows: Seq[ServingRow]) extends CatchUp
  /** append-only: the log's post-stamp Active rows */
  final case class LogRows(log: DataFrame) extends CatchUp
  /** the append contract is broken: rebuild */
  case object Rebuild extends CatchUp

  /** (id, text[, track]) — what the lex and sketch artifacts index */
  private def idText(df: DataFrame, tracked: Boolean = false): DataFrame =
    df.select(col("id") +: coalesce(col("text"), lit("")).as("text") +:
      (if (tracked) Seq(col("track")) else Nil): _*)

  /** a catalog table stamped through its properties */
  sealed abstract class CatalogTable[S](g: Graft, val table: String)
      extends ServingArtifact[S](g) {
    private def sql(props: String): Unit =
      spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES ($props)"): Unit
    def stamp(): Stamp =
      if (!spark.catalog.tableExists(table)) Stamp(exists = false, None, pending = false)
      else {
        val props = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(table)).properties
        Stamp(exists = true, props.get(VersionKey).map(_.toLongOption),
          props.get(PendingKey).contains("1"))
      }
    def markPending(): Unit = sql(s"'$PendingKey' = '1'")
    /** one catalog update: either both land or neither (marker still set
      * → the next refresh rebuilds) */
    def restamp(version: Long): Unit =
      sql(s"'$VersionKey' = '$version', '$PendingKey' = '0'")
    def lockAnchor: String =
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/" + table
    def withLock[T](body: => T): T = Bm25Index.maintenanceLock(spark, table)(body)
  }

  /** the bucketed BM25 postings table search()/ask()'s lexical rungs
    * serve from */
  final class LexPostings(g: Graft, table: String, val stemmed: Boolean)
      extends CatalogTable[Unit](g, table) {
    private def tracked: Boolean =
      spark.catalog.tableExists(table) && spark.table(table).columns.contains("track")

    /** build over the live frames (documents AND chunks); an existing
      * track-partitioned or positioned table keeps its layout */
    def build(nBuckets: Int, partitionByTrack: Boolean, withPositions: Boolean): Unit = {
      val byTrack = partitionByTrack || tracked
      Bm25Index.write(idText(g.frames.latestActive, byTrack), "id", "text", table,
        stemmed = stemmed, nBuckets = nBuckets,
        trackCol = if (byTrack) Some("track") else None,
        withPositions = withPositions)
      restamp(g.currentVersion)
    }
    def rebuild(): Unit = {
      Bm25Index.rebuild(idText(g.frames.latestActive, tracked), "id", "text",
        table, stemmed)
      restamp(g.currentVersion)
    }
    // a track-partitioned table's delta lands in its partition directories
    def delta(how: CatchUp): Option[DataFrame] = Some(idText(deltaFrames(how), tracked))
    def appendDelta(rows: DataFrame): Unit = {
      val trackCol = Option.when(rows.columns.contains("track"))("track")
      // the table's own bucket spec wins over the 16 passed here
      Bm25Index.appendUnlocked(rows, "id", "text", table, stemmed, 16, trackCol)
    }
    def open(): Unit = ()
  }

  /** the (doc_id, simhash) table of the F10 sketch pre-filter; serving
    * holds its live rows on the driver per watermark (None over the cap:
    * the Spark plan over [[liveRows]] serves) */
  final class SketchTable(g: Graft, table: String)
      extends CatalogTable[Option[SketchFilter.Live]](g, table) {
    override def rebuildsOnDelta: Boolean = false
    /** build over the live frames (documents AND chunks — what search()
      * ranks); under the lock, so a racing append cannot tear it */
    def rebuild(): Unit = withLock {
      SketchFilter.build(idText(g.frames.latestActive), "id", "text")
        .write.mode(SaveMode.Overwrite).saveAsTable(table)
      restamp(g.currentVersion)
    }
    def delta(how: CatchUp): Option[DataFrame] =
      Some(SketchFilter.build(idText(deltaFrames(how)), "id", "text"))
    def appendDelta(rows: DataFrame): Unit =
      rows.write.mode(SaveMode.Append).saveAsTable(table)
    def open(): Option[SketchFilter.Live] =
      SketchFilter.Live.collect(liveRows, g.liveSketchCap)
    /** sketch rows of LIVE frames only: dead versions' rows are inert for
      * membership but would count toward the minKeep floor and occupy
      * hamming-nearest slots. The semi-join moves only the id column. */
    def liveRows: DataFrame = spark.table(table).join(
      g.frames.latestActive.select(col("id").cast("long").as("doc_id")),
      Seq("doc_id"), "left_semi")
  }

  /** the generation-dir IVF index ask()'s vector rung serves from; it
    * covers DOCUMENT frames only (the embeddingsTable population) */
  final class IvfDir(g: Graft, val path: String, val nprobe: Int, embedder: Embedder)
      extends ServingArtifact[IvfIndex.Handle](g) {
    private def fs = graft.store.Fs.of(spark, path)
    private val versionPath = new Path(s"$path/$VersionFile")
    private val pendingPath = new Path(s"$path/$PendingFile")

    def stamp(): Stamp =
      Stamp(IvfIndex.exists(spark, path), readVersion(), fs.exists(pendingPath))
    /** a read that fails on a present file is a torn or corrupt stamp
      * (Some(None)); if even the existence check throws, absent */
    private def readVersion(): Option[Option[Long]] =
      try {
        if (!fs.exists(versionPath)) None
        else Some {
          val in = fs.open(versionPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
          finally in.close()
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          try { if (fs.exists(versionPath)) Some(None) else None }
          catch { case scala.util.control.NonFatal(_) => None }
      }
    def markPending(): Unit = fs.create(pendingPath, true).close()
    def restamp(version: Long): Unit = {
      val out = fs.create(versionPath, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(pendingPath, false): Unit
    }
    def lockAnchor: String = path
    def withLock[T](body: => T): T = IvfIndex.maintenanceLock(spark, path)(body)
    /** an unstamped index never served, so it is not stale */
    override def stale(s: Stamp, cur: Long): Boolean =
      s.pending || s.version.exists(_.forall(_ != cur))

    /** train `k` centroids with `iters` Lloyd iterations over the live
      * documents' embeddings (the k lowest-id vectors seed them) */
    def build(k: Int, iters: Int): Unit = {
      // pin: the embedder UDF runs once, not once per Lloyd iteration
      val emb = g.embeddingsTable.localCheckpoint()
      val seeds = emb.orderBy(col("id")).limit(k).collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble).toArray) }
        .toSeq
      require(seeds.nonEmpty, "buildVecIndex: store has no live documents")
      val (cents, _) = graft.vector.VectorSearch.kmeansLloyd(emb, "vector", seeds, iters)
      IvfIndex.write(emb, "id", "vector", path,
        cents.map { case (cid, c) => (cid, c.map(_.toFloat)) })
      restamp(g.currentVersion)
    }
    /** rebuild with the index's own centroid count */
    def rebuildWith(iters: Int): Unit = build(math.max(1,
      if (IvfIndex.exists(spark, path)) IvfIndex.read(spark, path).centroids.size
      else 4), iters)
    def rebuild(): Unit = rebuildWith(2)
    /** new documents under the STANDING codebook (no retrain — drift
      * retraining is the doctor's job); the held rows embed on the
      * driver, log rows through a UDF pass */
    def delta(how: CatchUp): Option[DataFrame] = how match {
      case OwnRows(rows) =>
        import g.spark.implicits._
        val docs = rows.filter(_.role == "document")
        Option.when(docs.nonEmpty)(docs.map(r => (r.id, embedder.embed(r.text)))
          .toDF("id", "vector"))
      case _ =>
        val e = embedder // the UDF must not capture this artifact
        val embedUdf = udf((t: String) => e.embed(if (t == null) "" else t))
        Some(deltaFrames(how).filter(col("role") === "document")
          .select(col("id"), embedUdf(coalesce(col("text"), lit(""))).as("vector"))
          .localCheckpoint()).filterNot(_.isEmpty)
    }
    def appendDelta(rows: DataFrame): Unit =
      IvfIndex.appendUnlocked(spark, path, rows, "id", "vector"): Unit
    def open(): IvfIndex.Handle = IvfIndex.read(spark, path)
  }
}
