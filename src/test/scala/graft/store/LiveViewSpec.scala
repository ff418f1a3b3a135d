package graft.store

import java.sql.Timestamp
import graft.functions.{F, InLiveVersionExpr}
import graft.model.Frame
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The live view served from held version keys ([[FrameStore.latestActive]]
  * as a filtered log scan) against the window plan it stands in for, and
  * the cache that holds the keys: its fill, roll-forward, invalidation,
  * over-cap route and completeness rule. */
class LiveViewSpec extends graft.SparkSpec with graft.TempStores {
  import spark.implicits._

  private def tmpStore(): String =
    tempDir("graft-live-view") + "/frames"

  /** the window plan over every commit */
  private def windowPlan(s: FrameStore): DataFrame = s.asOf(Long.MaxValue)

  /** set operations reject map columns: compare the metadata as sorted
    * entries */
  private def comparable(df: DataFrame): DataFrame =
    df.withColumn("extraMetadata", array_sort(map_entries(col("extraMetadata"))))

  private def assertSameRows(step: String, a0: DataFrame, b0: DataFrame): Unit = {
    val (a, b) = (comparable(a0), comparable(b0))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$step: rows differ")
    assert(a.count() == b.count(), s"$step: counts differ")
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def keys(df: DataFrame): Set[(Long, Long)] =
    df.select($"id", $"commitSeq").as[(Long, Long)].collect().toSet

  private def jobs(run: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"live-view-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try run finally sc.clearJobGroup()
    org.apache.spark.TestListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def ts(ms: Long) = new Timestamp(ms)

  test("held view equals the window plan through put, update, delete, chunking and vacuum") {
    val store = new FrameStore(spark, tmpStore())
    val long = (1 to 80).map(i => s"Sentence $i on river deltas and sediment.")
      .mkString(" ")
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, Long)])]
    def check(step: String): Unit = {
      val held = store.latestActive
      assert(!plan(held).contains("Exchange") && !plan(held).contains("Window"),
        s"$step: the held view must plan without a shuffle:\n${plan(held)}")
      assertSameRows(step, held, windowPlan(store))
      assert(store.liveCount == windowPlan(store).count(), s"$step: liveCount")
      val w = store.persistedWatermark
      history += ((w, keys(store.asOf(w))))
    }
    val Seq(a, b, c) = store.put(Seq(("mv2://a", "alpha text"),
      ("mv2://b", "beta text"), ("mv2://long", long)), ts = ts(1000),
      metadata = Map("tenant" -> "t1"))
    assert(store.latestActive.filter($"role" === "chunk").count() > 1)
    check("put with a chunked doc")
    store.put(Seq(("mv2://a-again", "alpha text")), dedup = false)
    check("put(dedup = false)")
    val a2 = store.update(a, "alpha revised", "mv2://a")
    check("update")
    store.delete(b)
    check("delete")
    store.update(a2, "alpha third", "mv2://a")
    store.delete(c) // the parent goes; its chunks stay live, as in the window plan
    check("supersede chain and parent delete")
    // asOf still runs the window plan and its history is unchanged
    assert(plan(store.asOf(history.head._1)).contains("Window"))
    history.foreach { case (w, seen) =>
      assert(keys(store.asOf(w)) == seen, s"asOf($w) moved")
    }
    store.vacuum()
    check("vacuum")
    store.put(Seq(("mv2://d", "delta after vacuum")))
    check("put after vacuum")
  }

  test("a second handle's put is visible on the next read") {
    val path = tmpStore()
    val mine = new FrameStore(spark, path)
    val other = new FrameStore(spark, path)
    val Seq(x) = mine.put(Seq(("mv2://x", "x text")))
    assert(keys(mine.latestActive).map(_._1) == Set(x))
    val Seq(y) = other.put(Seq(("mv2://y", "y text")))
    assert(keys(mine.latestActive).map(_._1) == Set(x, y))
    assert(mine.liveCount == 2)
    other.delete(x)
    assert(keys(mine.latestActive).map(_._1) == Set(y))
    assertSameRows("foreign delete", mine.latestActive, windowPlan(mine))
  }

  test("a put on this handle rolls the keys forward: the next read runs no job") {
    val path = tmpStore()
    val store = new FrameStore(spark, path)
    store.put(Seq(("mv2://1", "one"), ("mv2://2", "two")))
    assert(jobs(store.latestActive: Unit) == 1) // the fill
    assert(jobs(store.latestActive: Unit) == 0)
    store.put(Seq(("mv2://3", "three")))
    assert(jobs { store.latestActive; store.liveCount: Unit } == 0)
    assert(store.liveCount == 3)
    assertSameRows("rolled forward", store.latestActive, windowPlan(store))
    // update drops the keys; the next read fills once
    store.update(store.latestActive.select($"id").as[Long].collect().min,
      "one revised", "mv2://1")
    assert(jobs(store.latestActive: Unit) == 1)
    assert(jobs(store.latestActive: Unit) == 0)
    // a foreign commit moves the watermark: one fill
    new FrameStore(spark, path).put(Seq(("mv2://4", "four")))
    assert(jobs(store.latestActive: Unit) == 1)
    assert(store.liveCount == 4)
  }

  test("after a vacuum that purged the watermark's commit, the fill is still held") {
    val store = new FrameStore(spark, tmpStore())
    val Seq(_, b) = store.put(Seq(("mv2://a", "kept"), ("mv2://b", "dropped")))
    store.delete(b) // the last commit is a tombstone: vacuum purges its row
    store.vacuum()
    assert(store.log.agg(max("commitSeq")).head.getLong(0) < store.persistedWatermark)
    assert(jobs(store.latestActive: Unit) == 1)
    assert(jobs(store.latestActive: Unit) == 0)
    assert(store.liveCount == 1)
  }

  test("over the cap the window plan serves, with the same rows and count") {
    val store = new FrameStore(spark, tmpStore())
    store.liveCap = 2
    val Seq(a, _, _) = store.put(Seq(("mv2://a", "a"), ("mv2://b", "b"), ("mv2://c", "c")))
    assert(plan(store.latestActive).contains("Window"))
    assertSameRows("over cap", store.latestActive, windowPlan(store))
    assert(store.liveCount == 3)
    store.put(Seq(("mv2://d", "d")))
    assert(jobs(store.liveCount: Unit) == 0) // the kept count rolls forward
    assert(store.liveCount == 4)
    store.update(a, "a revised", "mv2://a")
    assert(store.liveCount == 4)
    assertSameRows("over cap after update", store.latestActive, windowPlan(store))
  }

  /** a writer between its two steps: the commit's watermark persisted,
    * its rows not yet in the log */
  private def announceCommit(path: String): (Long, Long) = {
    val seq = new org.apache.hadoop.fs.Path(path + "/_graft_seq")
    val fs = seq.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(seq)
    val Array(maxId, maxSeq, vac) =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.split('\t').map(_.toLong)
      finally in.close()
    val out = fs.create(seq, true)
    try out.write(s"${maxId + 1}\t${maxSeq + 1}\t$vac\n".getBytes("UTF-8"))
    finally out.close()
    (maxId + 1, maxSeq + 1)
  }

  private def landRow(path: String, id: Long, seq: Long): Unit =
    Seq(Frame(id, seq, ts(3000), None, None, Some(s"mv2://late/$id"), None,
      Array.emptyByteArray, Some("late row"), Nil, Nil, Map.empty, Nil,
      "document", None, None, None, Frame.Active, None, None))
      .toDS().write.mode("append").parquet(path)

  Seq(("held", None), ("over the cap", Some(1))).foreach { case (route, cap) =>
    test(s"liveCount ($route) never caches a count that misses the watermark's commit") {
      val path = tmpStore()
      val store = new FrameStore(spark, path)
      cap.foreach(store.liveCap = _)
      store.put(Seq(("mv2://1", "one"), ("mv2://2", "two")))
      assert(store.liveCount == 2)
      val (id, seq) = announceCommit(path)
      assert(store.liveCount == 2) // the rows have not landed
      landRow(path, id, seq)
      assert(store.liveCount == 3)
      assert(store.latestActive.count() == 3)
    }
  }

  test("in_live_version keeps exactly the named keys, given in any order") {
    F.ensureRegistered(spark)
    val rows = Seq((1L, 1L), (1L, 2L), (2L, 1L), (3L, 5L), (4L, 4L)).toDF("id", "seq")
      .union(Seq((java.lang.Long.valueOf(5L), null.asInstanceOf[java.lang.Long]))
        .toDF("id", "seq"))
    val kept = rows.filter(F.inLiveVersion($"id", $"seq",
      Array(3L, 1L, 5L, 2L), Array(5L, 2L, 7L, 9L)))
    assert(kept.as[(Long, Long)].collect().toSet == Set((1L, 2L), (3L, 5L)))
    // the interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    val (ids, seqs) = InLiveVersionExpr.sortedKeys(Array(3L, 1L), Array(5L, 2L))
    assert(InLiveVersionExpr(Literal(3L), Literal(5L), ids, seqs).eval() == true)
    assert(InLiveVersionExpr(Literal(3L), Literal(2L), ids, seqs).eval() == false)
    intercept[IllegalArgumentException](
      InLiveVersionExpr.sortedKeys(Array(2L, 1L, 2L), Array(1L, 1L, 1L)))
  }
}
