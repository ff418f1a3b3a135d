package graft.store

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Old-or-new replacement of a directory's contents — the one protocol
  * behind the IVF index's rebuilds, the frame log's vacuum and the cards
  * rebuild. It is the directory form of memvid's commit, which swaps one
  * pointer from the header to the TOC footer (MV2_SPEC.md): a crash
  * leaves the old state or the new one, never neither.
  *
  * A root holds generations `gen-N`, each a self-contained directory
  * whose `_GRAFT_COMMITTED` marker is written last, and a `CURRENT` file
  * naming the live one. A root that never swapped is the legacy flat
  * layout: its own contents are generation 0. A `gen-N` dir inside it
  * stays out of a generation-0 read: Spark reads an unpartitioned dir's
  * own files, not those of its subdirs. A writer (holding the root's
  * lock) [[write]]s generation N+1, then [[swap]]s the pointer. Readers
  * resolve [[pointed]] or [[live]] and take no lock: the generation a
  * swap supersedes is kept until the next swap, so a reader that
  * resolved it just before finishes its scan. Older generations are
  * deleted; for the flat generation 0 that means the root's own data
  * entries.
  */
object Generations {
  private val Marker = "_GRAFT_COMMITTED"
  private val Current = "CURRENT"
  private val Prefix = "gen-"

  /** the live dir: [[pointed]]'s, else the highest committed generation,
    * else the flat root (one listing) — for a root whose generations are
    * all dirs, such as an IVF index, that may have lost its pointer */
  def live(spark: SparkSession, root: String): String =
    pointed(spark, root).getOrElse {
      val fs = Fs.of(spark, root)
      gens(fs, root).map(_._2).distinct.filter(n => committed(fs, dirOf(root, n)))
        .maxOption.fold(root)(dirOf(root, _))
    }

  /** The dir the pointer names: `CURRENT`'s, else the committed one that
    * the `CURRENT.tmp` of a swap torn between its delete and its rename
    * names. None when there is neither: no swap finished or tore, so the
    * flat generation 0 is live. A few opens, no listing. */
  def pointed(spark: SparkSession, root: String): Option[String] = {
    val fs = Fs.of(spark, root)
    def named(file: String) =
      try Some(text(fs, new Path(s"$root/$file"))).filter(_.nonEmpty).map(n => s"$root/$n")
      catch { case _: FileNotFoundException => None }
    // CURRENT once more: the rename may land between the first two opens
    named(Current).orElse(named(s"$Current.tmp").filter(committed(fs, _)))
      .orElse(named(Current))
  }

  private def text(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  /** the generation number of a resolved dir (0 for the flat root) */
  def number(root: String, dir: String): Long =
    if (dir == root) 0L else new Path(dir).getName.stripPrefix(Prefix).toLong

  /** Write generation `gen`: `body` fills the dir, then the marker
    * commits it. A leftover of a crashed write under the same name is
    * cleared first. @return the generation's dir */
  def write(spark: SparkSession, root: String, gen: Long)(body: String => Unit): String = {
    val dir = dirOf(root, gen)
    Fs.deleteRecursively(spark, dir)
    body(dir)
    commit(spark, dir)
    dir
  }

  /** mark `dir` committed. The marker carries a unique nonce, so its
    * [[stamp]] changes even when a rebuild reuses the dir's name within
    * one coarse-mtime tick. */
  def commit(spark: SparkSession, dir: String): Unit = {
    val out = Fs.of(spark, dir).create(new Path(s"$dir/$Marker"), true)
    try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    finally out.close()
  }

  def committed(fs: FileSystem, dir: String): Boolean =
    fs.exists(new Path(s"$dir/$Marker"))

  /** a committed dir's identity: its marker's nonce (the mtime of a
    * legacy empty marker), "-1" when there is no marker */
  def stamp(spark: SparkSession, dir: String): String = {
    val fs = Fs.of(spark, dir)
    val marker = new Path(s"$dir/$Marker")
    try Some(text(fs, marker)).filter(_.nonEmpty)
      .getOrElse(fs.getFileStatus(marker).getModificationTime.toString)
    catch { case scala.util.control.NonFatal(_) => "-1" }
  }

  /** Point `CURRENT` at generation `gen` — write a tmp, delete, rename;
    * [[pointed]] reads the tmp between the last two — then delete every
    * generation older than the one this swap supersedes. */
  def swap(spark: SparkSession, root: String, gen: Long): Unit = {
    val fs = Fs.of(spark, root)
    val tmp = new Path(s"$root/$Current.tmp")
    val cur = new Path(s"$root/$Current")
    val out = fs.create(tmp, true)
    try out.write(s"$Prefix$gen".getBytes("UTF-8")) finally out.close()
    fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"generation swap: rename $tmp -> $cur failed")
    gens(fs, root).foreach { case (p, n) => if (n < gen - 1) fs.delete(p, true) }
  }

  /** Adopt `orphan` as a missing `root`: the state a delete-then-rename
    * replacement leaves when it crashed between the two. */
  def adopt(spark: SparkSession, root: String, orphan: String): Unit = {
    val fs = Fs.of(spark, root)
    if (!fs.exists(new Path(root)) && !fs.rename(new Path(orphan), new Path(root)))
      throw new java.io.IOException(s"adopt: rename $orphan -> $root failed")
  }

  private def dirOf(root: String, gen: Long): String = s"$root/$Prefix$gen"

  /** the root's entries with their generation: `gen-N` dirs are N, and
    * the flat layout's own data entries are 0 — everything but the
    * pointer and `_`/`.` files such as a store's `_graft_seq` */
  private def gens(fs: FileSystem, root: String): Seq[(Path, Long)] =
    (try fs.listStatus(new Path(root)).toSeq
     catch { case _: FileNotFoundException => Nil }).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(Prefix)) n.stripPrefix(Prefix).toLongOption.map(st.getPath -> _)
      else Option.when(!n.startsWith(Current) && !n.startsWith("_") &&
        !n.startsWith("."))(st.getPath -> 0L)
    }
}
