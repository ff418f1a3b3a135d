package graft

import java.nio.file.Files
import graft.multimodal.Multimodal
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec with TempStores {
  import spark.implicits._

  test("streaming ingest: files become searchable frames; enrichment is incremental") {
    val base = tempDir("graft-stream")
    val in = s"$base/in"; val frames = s"$base/frames"
    val ck = s"$base/ck"; val sketches = s"$base/sk"; val log = s"$base/log"
    new java.io.File(in).mkdirs()
    Files.writeString(java.nio.file.Path.of(s"$in/doc1.txt"), "hello streaming world")
    Files.writeString(java.nio.file.Path.of(s"$in/doc2.txt"), "second document arrives")

    val q = StreamingIngest.ingestFiles(spark, in, frames, ck)
    q.awaitTermination(60000)
    val ingested = spark.read.parquet(frames)
    assert(ingested.count() == 2)
    assert(ingested.columns.toSet == Set("uri", "text", "ingestTs"))

    // first enrichment pass: both docs; second pass: idempotent no-op
    assert(StreamingIngest.enrichIncrement(spark, frames, sketches, log) == 2)
    assert(StreamingIngest.enrichIncrement(spark, frames, sketches, log) == 0)
    val sk = spark.read.parquet(sketches)
    assert(sk.count() == 2 && sk.columns.contains("contentHash"))

    // late file picked up by a restarted stream (checkpoint resume, ST1)
    Files.writeString(java.nio.file.Path.of(s"$in/doc3.txt"), "third arrives late")
    val q2 = StreamingIngest.ingestFiles(spark, in, frames, ck)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(frames).count() == 3)
    assert(StreamingIngest.enrichIncrement(spark, frames, sketches, log) == 1)
  }

  test("windowed event counts with watermark (streaming semantics)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedEventCounts(events, "10 minutes", "20 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 10:01:00"), "click", 1.0),
                (t("2024-01-01 10:04:00"), "click", 2.0),
                (t("2024-01-01 10:11:00"), "view", 5.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the earlier windows
    mem.addData((t("2024-01-01 11:00:00"), "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("win_counts").collect()
    q.stop()
    val clicks = rows.find(r => r.getString(1) == "click" &&
      r.getTimestamp(0) == t("2024-01-01 10:00:00"))
    assert(clicks.isDefined && clicks.get.getAs[Long]("n") == 2)
  }

  test("stream/batch parity: incremental windowed counts equal the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    // feed the REAL sf0.001 events through the streaming aggregation in
    // two time-ordered micro-batches, close every window with a far-future
    // sentinel, and require the emitted result to EQUAL the one-shot batch
    // aggregation — the exactly-once contract ST4 claims
    val ev = Tables.events(spark, sfDir)
      .select($"ts", $"event_type", $"value")
      .orderBy($"ts").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = StreamingIngest.windowedEventCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "6 hours", "1 hour")
    val q = agg.writeStream.format("memory").queryName("parity_win")
      .outputMode("append").start()
    val (h1, h2) = ev.splitAt(ev.length / 2)
    mem.addData(h1.toSeq); q.processAllAvailable()
    mem.addData(h2.toSeq); q.processAllAvailable()
    mem.addData((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "sentinel", 0.0))
    q.processAllAvailable()
    val streamed = spark.table("parity_win")
      .filter($"event_type" =!= "sentinel")
      .select($"window_start", $"event_type", $"n", round($"total_value", 6).as("tv"))
      .collect().toSet
    q.stop()
    val batch = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "6 hours"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("tv"))
      .select($"window.start".as("window_start"), $"event_type", $"n",
        round($"tv", 6).as("tv"))
      .collect().toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("streaming dedup drops repeated content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val frames = mem.toDF().toDF("ts", "text")
    val deduped = StreamingIngest.dedupStream(frames, "ts", "text", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    def t(s2: String) = java.sql.Timestamp.valueOf(s2)
    mem.addData((t("2024-01-01 10:00:00"), "hello"), (t("2024-01-01 10:01:00"), "hello"),
                (t("2024-01-01 10:02:00"), "world"))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 10:03:00"), "hello"))
    q.processAllAvailable()
    val rows = spark.table("dedup_stream").collect()
    q.stop()
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("hello", "world"))
  }

  test("dedup within watermark: duplicates inside the horizon drop, state evicts past it") {
    // dropDuplicatesWithinWatermark bounds the dedup state by the
    // watermark horizon (exact dedup forever needs unbounded state at
    // 100 TB) — a late re-arrival AFTER the horizon legitimately
    // re-emits, which is the documented trade the bounded state buys.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def t(s2: String) = java.sql.Timestamp.valueOf(s2)
    val frames = mem.toDF().toDF("ts", "text")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("text")
    val q = frames.writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    mem.addData((t("2024-01-01 10:00:00"), "hello"), (t("2024-01-01 10:01:00"), "hello"))
    q.processAllAvailable()
    // advance event time far past the horizon so "hello" state evicts
    mem.addData((t("2024-01-01 11:00:00"), "advance"))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 11:01:00"), "hello"))
    q.processAllAvailable()
    val texts = spark.table("dedup_wm").collect().map(_.getString(1))
    q.stop()
    assert(texts.count(_ == "hello") == 2, s"expected re-emit after eviction: ${texts.toSeq}")
    assert(texts.count(_ == "advance") == 1)
  }

  test("multimodal: binary columns flow through batched stub inference") {
    val media = Seq(
      Multimodal.MediaRow(1L, "img://a", "image", Array[Byte](1, 2, 3, 4), Map("w" -> "64")),
      Multimodal.MediaRow(2L, "img://b", "image", Array[Byte](9, 9, 9), Map.empty),
      Multimodal.MediaRow(3L, "aud://c", "audio", Array.fill[Byte](200)(7), Map.empty),
      Multimodal.MediaRow(4L, "vid://d", "video", Array.fill[Byte](64)(3), Map.empty)
    ).toDS()
    val feats = Multimodal.embedBatch(media).collect()
    assert(feats.length == 4)
    assert(feats.forall(_.feature.length == Multimodal.FeatureDim))
    // deterministic: same content -> same feature
    val again = Multimodal.embedBatch(media).collect()
    assert(feats.map(_.feature.toSeq).toSet == again.map(_.feature.toSeq).toSet)
    val tx = Multimodal.transcribeBatch(media).collect()
    assert(tx.nonEmpty && tx.forall(_.mediaId == 3L))
    assert(tx.length == 3) // 200/64
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.nonEmpty && frames.forall(_.getLong(0) == 4L))
  }

  test("stateful streaming sessionization: gap closes sessions, state evicted by watermark") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type").as[SessionEvent]
    val sessions = Sessionizer.sessionize(events, gapSeconds = 600, watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two bursts separated by > gap inside one batch → first burst
      // closes immediately; user 2: one burst, closed later by watermark
      mem.addData((1L, t("2024-01-01 10:00:00"), "a"),
                  (1L, t("2024-01-01 10:05:00"), "b"),
                  (1L, t("2024-01-01 11:00:00"), "c"),
                  (2L, t("2024-01-01 10:30:00"), "a"))
      q.processAllAvailable()
      val afterBatch1 = spark.table("sess_out")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      // user 1 first burst (2 events, 5 min span) closes on the in-batch gap;
      // user 2's timeout (10:40) is already behind the batch-1 watermark
      // (11:00), so the event-time timeout closes it right after batch 1
      assert(afterBatch1.toSet == Set((1L, 2L, 300000L), (2L, 1L, 0L)))

      // advance the watermark far past both open sessions → timeouts fire
      mem.addData((3L, t("2024-01-01 13:00:00"), "z"))
      q.processAllAvailable()
      mem.addData((3L, t("2024-01-01 13:00:01"), "z2"))
      q.processAllAvailable()
      val all = spark.table("sess_out")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
      assert(all.contains((1L, 1L, 0L)))   // user 1 second burst (1 event)
      assert(all.contains((2L, 1L, 0L)))   // user 2 session closed by timeout
    } finally q.stop()
  }

  test("stream-stream interval join correlates events within the window only") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingIngest.correlateStreams(
      clicks.toDF().toDF("user_id", "click_ts"), "click_ts",
      views.toDF().toDF("user_id", "view_ts"), "view_ts",
      key = "user_id", within = "10 minutes", watermark = "0 seconds")
      .selectExpr("l.user_id AS user_id", "click_ts", "view_ts")
    val q = joined.writeStream.format("memory").queryName("corr_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:00:00")))
      views.addData((1L, t("2024-01-01 10:05:00")),   // within 10 min -> joins
                    (2L, t("2024-01-01 10:30:00")),   // outside window -> dropped
                    (3L, t("2024-01-01 10:02:00")))   // no matching click
      q.processAllAvailable()
      val rows = spark.table("corr_out").collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(1L))
    } finally q.stop()
  }

  test("sessionizer: cross-batch late event extends the session backwards") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("user_id", "ts", "event_type").as[SessionEvent]
    // 1 h watermark slack admits the out-of-order event in batch 2
    val sessions = Sessionizer.sessionize(events, gapSeconds = 600, watermark = "1 hour")
    val q = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      mem.addData((1L, t("2024-01-01 10:00:30"), "a"))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-01 10:00:10"), "late"))
      q.processAllAvailable()
      mem.addData((9L, t("2024-01-01 14:00:00"), "z")) // watermark → 13:00, closes user 1
      q.processAllAvailable()
      mem.addData((9L, t("2024-01-01 14:00:01"), "z2"))
      q.processAllAvailable()
      val u1 = spark.table("sess_late").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getTimestamp(1), r.getLong(3), r.getLong(4)))
      assert(u1.toSeq == Seq((t("2024-01-01 10:00:10"), 2L, 20000L)),
        s"got ${u1.toSeq}") // start extended BACK to the late event
    } finally q.stop()
  }

  test("runWindowedOnce drains the stream and equals the batch aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamingIngest
      .runWindowedOnce(spark, sfDir, "events.parquet", "1 day")
      .select(unix_micros(col("window_start")).as("ws"), col("event_type"),
        col("n"), col("value_e4"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(expr("(unix_micros(ts) DIV 86400000000) * 86400000000").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          * 10000).cast("long")).as("value_e4"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }
}
