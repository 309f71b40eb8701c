package graft.streaming

import graft.SparkSpec
import graft.write.VersionedTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streamingExactDedup: later batches revise min-id and copies (latest-wins converges)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.DocHash]
    val q = Streaming.streamingExactDedup(input.toDS())
      .writeStream.format("memory").queryName("sed")
      .outputMode(OutputMode.Update()).start()
    input.addData(Streaming.DocHash(5L, "A"), Streaming.DocHash(2L, "A"),
      Streaming.DocHash(7L, "B"))
    q.processAllAvailable()
    input.addData(Streaming.DocHash(1L, "A"), Streaming.DocHash(9L, "C"))
    q.processAllAvailable()
    val rows = spark.table("sed").as[Streaming.DocKeep].collect()
    q.stop()
    // batch 1 emits A = (2, 2 copies) and B; batch 2 REVISES A to (1, 3) —
    // the lower id arriving late supersedes — and emits C. The latest row
    // per hash (max copies — monotone) is the exact global answer.
    val latest = rows.groupBy(_.content_hash).view.mapValues(_.maxBy(_.copies)).toMap
    assert(latest("A") === Streaming.DocKeep("A", 1L, 3L))
    assert(latest("B") === Streaming.DocKeep("B", 7L, 1L))
    assert(latest("C") === Streaming.DocKeep("C", 9L, 1L))
    // and the intermediate emission really happened (Update semantics)
    assert(rows.count(_.content_hash == "A") === 2)
  }

  test("streamingTopKPerUser: cross-batch merge converges to the global top-k") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.TkEvent]
    val q = Streaming.streamingTopKPerUser(
        input.toDS().toDF(), k = 2)
      .writeStream.format("memory").queryName("stk")
      .outputMode(OutputMode.Update()).start()
    // batch 1: user 1 has (10.0, e1), (8.0, e2) — top-2 = e1, e2
    input.addData(Streaming.TkEvent(1L, 1L, 10.0), Streaming.TkEvent(1L, 2L, 8.0),
      Streaming.TkEvent(2L, 3L, 5.0))
    q.processAllAvailable()
    // batch 2: a 9.0 arrives late and must EVICT e2 from rank 2; a value
    // tie (5.0) for user 2 must resolve to the smaller event_id at rank 1
    input.addData(Streaming.TkEvent(1L, 4L, 9.0), Streaming.TkEvent(2L, 1L, 5.0))
    q.processAllAvailable()
    val rows = spark.table("stk").as[Streaming.TkTop].collect()
    q.stop()
    val latest = rows.groupBy(r => (r.user_id, r.rnk)).view
      .mapValues(_.maxBy(_.n_seen)).toMap
    assert(latest((1L, 1)).event_id === 1L && latest((1L, 1)).value === 10.0)
    assert(latest((1L, 2)).event_id === 4L && latest((1L, 2)).value === 9.0)
    assert(latest((2L, 1)).event_id === 1L, "tie must resolve to smaller event_id")
    assert(latest((2L, 2)).event_id === 3L)
    // the superseded rank-2 emission from batch 1 really happened (Update)
    assert(rows.count(r => r.user_id == 1L && r.rnk == 2) === 2)
  }

  test("streamingExactDedup over one snapshot batch == batch Dedup.exact") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(200).cache()
    val batch = graft.scale.Dedup.exact(docs)
      .as[(String, Long, Long)].collect().toSet
    val input = MemoryStream[Streaming.DocHash]
    val q = Streaming.streamingExactDedup(input.toDS())
      .writeStream.format("memory").queryName("sedp")
      .outputMode(OutputMode.Update()).start()
    input.addData(docs.select(col("doc_id"), md5(col("text")).as("h"))
      .as[Streaming.DocHash].collect().toSeq: _*)
    q.processAllAvailable()
    val stream = spark.table("sedp").as[Streaming.DocKeep].collect()
      .map(k => (k.content_hash, k.keep_id, k.copies)).toSet
    q.stop()
    assert(stream === batch)
    docs.unpersist()
  }

  test("incrementalDedupSink merges micro-batches with latest-wins (streaming W3)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val wh = Files.createTempDirectory("graft-stream").toString
    val table = new VersionedTable(spark, s"$wh/t")
    val stream = input.toDF().toDF("event_id", "ts", "value")

    // AvailableNow latches offsets at start: add data BEFORE starting
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-01 10:01:00"), 2.0))
    val q = Streaming.incrementalDedupSink(stream, table,
      keys = Seq("event_id"), orderCols = Seq("ts"),
      checkpoint = s"$wh/ckpt")
    q.awaitTermination()
    assert(table.read().count() === 2)

    // redelivery of event 1 with newer ts must win, not duplicate
    input.addData((1L, ts("2024-01-01 11:00:00"), 10.0))
    val q2 = Streaming.incrementalDedupSink(stream, table,
      keys = Seq("event_id"), orderCols = Seq("ts"), checkpoint = s"$wh/ckpt")
    q2.awaitTermination()
    val rows = table.read().as[(Long, Timestamp, Double)].collect().sortBy(_._1)
    assert(rows.length === 2)
    assert(rows.head === ((1L, ts("2024-01-01 11:00:00"), 10.0)))
  }

  test("windowedCounts: tumbling windows with watermark (complete over memory sink)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedCounts(
      input.toDF().toDF("ts", "event_type"), "1 hour", "1 hour")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete()).start()
    input.addData(
      (ts("2024-01-01 10:05:00"), "click"), (ts("2024-01-01 10:55:00"), "click"),
      (ts("2024-01-01 11:05:00"), "click"), (ts("2024-01-01 10:30:00"), "view"))
    q.processAllAvailable()
    val got = spark.table("wc")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().toSet
    q.stop()
    assert(got === Set(
      ("2024-01-01 10:00:00", "click", 2L),
      ("2024-01-01 11:00:00", "click", 1L),
      ("2024-01-01 10:00:00", "view", 1L)))
  }

  test("sessionCounts: gap-based session windows per user") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = Streaming.sessionCounts(
      input.toDF().toDF("ts", "user_id"), gap = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("sc")
      .outputMode(OutputMode.Complete()).start()
    input.addData(
      (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L), // session 1
      (ts("2024-01-01 12:00:00"), 1L),                                   // session 2
      (ts("2024-01-01 10:00:00"), 2L))
    q.processAllAvailable()
    val got = spark.table("sc").select("user_id", "n_events")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    q.stop()
    assert(got === Map(1L -> Seq(1L, 2L), 2L -> Seq(1L)))
  }

  test("runningUserProfile: custom keyed state accumulates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.UserEvent]
    val q = Streaming.runningUserProfile(input.toDS())
      .writeStream.format("memory").queryName("up")
      .outputMode(OutputMode.Update()).start()
    input.addData(
      Streaming.UserEvent(1L, ts("2024-01-01 10:00:00"), "click"),
      Streaming.UserEvent(1L, ts("2024-01-01 10:01:00"), "purchase"))
    q.processAllAvailable()
    input.addData(Streaming.UserEvent(1L, ts("2024-01-01 10:02:00"), "purchase"))
    q.processAllAvailable()
    val last = spark.table("up").as[Streaming.UserRunning].collect()
      .filter(_.user_id == 1L).maxBy(_.n_events)
    q.stop()
    assert(last === Streaming.UserRunning(1L, 3L, 2L))
  }

  test("streaming session windows == batch sessionization (gap semantics parity)") {
    // Same 30-minute gap, same events: the session count and per-session
    // event counts must agree between session_window (streaming) and the
    // batch lag/running-sum sessionizer (q16's form).
    val wh = Files.createTempDirectory("graft-sess-parity").toString
    val q = Streaming.sessionCounts(Streaming.eventsStream(spark, sfDir), gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$wh/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess_parity")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().toSet

    val batch = graft.SparkEntry.queries("q16_sessionize")(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("eventsStream reads the driver events table as a file stream") {
    val stream = Streaming.eventsStream(spark, sfDir)
    assert(stream.isStreaming)
    val wh = Files.createTempDirectory("graft-es").toString
    val q = stream.groupBy("event_type").count()
      .writeStream.format("memory").queryName("es")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$wh/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("es").count() > 0)
  }

  test("cdc merge fold: any batch order converges to the batch applyChangelog answer") {
    import spark.implicits._
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val log = Seq(
      (1L, "a2", 10L, "U"), (1L, "a3", 11L, "U"),
      (2L, "x", 20L, "U"), (2L, "-", 21L, "D"),
      (5L, "e", 30L, "I"), (3L, "-", 35L, "D"), (3L, "c2", 36L, "U")
    ).toDF("k", "v", "seq", "op")
    val seed = snapshot.withColumn("seq", lit(Long.MinValue)).withColumn("op", lit("U"))
    // the same rank-1 fold cdcMergeSink applies per micro-batch
    def fold(state: org.apache.spark.sql.DataFrame, batch: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("seq").desc)
      state.unionByName(batch)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .localCheckpoint()
    }
    val batches = Seq(
      log.filter(col("seq") < 20), log.filter(col("seq") >= 20 && col("seq") < 31),
      log.filter(col("seq") >= 31))
    def serve(state: org.apache.spark.sql.DataFrame) =
      state.filter(col("op") =!= "D").select("k", "v")
        .as[(Long, String)].collect().toMap
    val forward = serve(batches.foldLeft(seed)(fold))
    val backward = serve(batches.reverse.foldLeft(seed)(fold))
    val direct = graft.write.Writers
      .applyChangelog(snapshot, log, Seq("k"), "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(forward === direct)
    assert(backward === direct, "tombstone retention must make the fold order-robust")
    assert(direct === Map(1L -> "a3", 3L -> "c2", 5L -> "e"))
  }

  test("Feeds.write names every empty batch in one error and moves no file") {
    val dir = Files.createTempDirectory("graft-feeds").toString
    val df = Seq(0L, 1L, 3L).toDF("k")
    val e = intercept[IllegalArgumentException](Feeds.write(df, col("k"), 5, dir))
    assert(e.getMessage.contains("feed batches 2, 4 of 5"), e.getMessage)
    val left = Files.list(java.nio.file.Paths.get(dir))
    try assert(!left.iterator().hasNext, "a failed feed must leave nothing behind")
    finally left.close()
  }
}
