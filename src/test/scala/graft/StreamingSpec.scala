package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming semantics beyond the synchronous drivers: multi-batch
  * incremental processing and watermark-gated append mode. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("append mode emits a window only after the watermark passes it") {
    val dir = Files.createTempDirectory("graft_stream").toString
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

    // batch 1: events in the 10:00 and 10:10 five-minute windows
    Seq((1L, ts(1)), (2L, ts(3)), (3L, ts(11)))
      .toDF("event_id", "ts").write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "100")
      .parquet(dir)
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"n")
    val name = "graft_stream_wm"
    spark.streams.active.filter(_.name == name).foreach(_.stop())
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      // watermark after batch1 = 10:11 - 5min = 10:06 → only the
      // 10:00-10:05 window is final
      val after1 = spark.table(name).as[(java.sql.Timestamp, Long)]
        .collect().toMap
      assert(after1.keySet.map(_.toString) == Set("2024-01-01 10:00:00.0"))
      assert(after1.values.toSeq == Seq(2L))

      // batch 2: a LATE event for the already-finalized 10:00 window
      // (dropped) and a fresh event advancing the watermark past 10:10
      Seq((4L, ts(2)), (5L, ts(21)))
        .toDF("event_id", "ts").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val after2 = spark.table(name).as[(java.sql.Timestamp, Long)]
        .collect().toMap
      // 10:10 window emitted with only event 3; late event 4 did NOT
      // reopen the 10:00 window
      assert(after2.keySet.map(_.toString) ==
        Set("2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0"))
      assert(after2(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")) == 2L)
      assert(after2(java.sql.Timestamp.valueOf("2024-01-01 10:10:00")) == 1L)
    } finally q.stop()
  }

  test("restart from a checkpoint written by LocalCheckpointFileManager " +
      "resumes after the last commit and matches a single run") {
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val src = Files.createTempDirectory("graft_restart_src").toString
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    // a watermarked windowed count into a parquet sink (its own
    // metadata log is durable across the restart, unlike memory)
    def run(ckpt: String, sink: String) = {
      val q = spark.readStream.schema("event_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "100").parquet(src)
        .withWatermark("ts", "5 minutes")
        .groupBy(window($"ts", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("w_start"), $"n")
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", ckpt).start(sink)
      try { q.processAllAvailable(); q.recentProgress.toSeq }
      finally q.stop()
    }
    def answer(sink: String) = spark.read.parquet(sink)
      .as[(java.sql.Timestamp, Long)].collect().sortBy(_._1.getTime).toSeq
    def logIds(ckpt: String, log: String) =
      new java.io.File(ckpt, log).list().filter(_.forall(_.isDigit))
        .map(_.toLong).toSet

    spark.conf.set(key,
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    try {
      Seq((1L, ts(1)), (2L, ts(3)), (3L, ts(11)))
        .toDF("event_id", "ts").write.mode("append").parquet(src)
      val tmp = Files.createTempDirectory("graft_restart").toString
      val (ckpt, sink) = (s"$tmp/ckpt", s"$tmp/sink")
      val first = run(ckpt, sink)
      val lastBatch = first.map(_.batchId).max
      assert(logIds(ckpt, "offsets") == (0L to lastBatch).toSet)
      assert(logIds(ckpt, "commits") == (0L to lastBatch).toSet)
      // the checkpoint files went through the checksummed local FS
      assert(new java.io.File(ckpt, "offsets/.0.crc").isFile)

      Seq((4L, ts(12)), (5L, ts(21)))
        .toDF("event_id", "ts").write.mode("append").parquet(src)
      val second = run(ckpt, sink)
      // the logs were read back: numbering resumes after the last
      // commit, and only the appended file's rows are read again
      assert(second.nonEmpty && second.map(_.batchId).min == lastBatch + 1)
      assert(second.map(_.numInputRows).sum == 2L)

      val fresh = Files.createTempDirectory("graft_restart_one").toString
      run(s"$fresh/ckpt", s"$fresh/sink")
      assert(answer(sink) == answer(s"$fresh/sink"))
      assert(answer(sink).map(_._2) == Seq(2L, 2L))
    } finally spark.conf.unset(key)
  }

  test("foreachBatch upsert sink stays idempotent across batches") {
    // The streaming twin of the reference's insert-if-absent load
    // (Scraper.py:409-412): each micro-batch is anti-joined against
    // the sink before appending, so replayed keys never duplicate.
    val src = Files.createTempDirectory("graft_stream_src").toString
    val sink = Files.createTempDirectory("graft_stream_sink").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("append").parquet(src)
    // seed the sink so batch 1 already overlaps it
    Seq((2L, "b")).toDF("k", "v").write.mode("append").parquet(sink)

    val q = spark.readStream.schema("k LONG, v STRING").parquet(src)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val existing = batch.sparkSession.read.parquet(sink).select("k")
          graft.operators.Joins
            .newRows(existing, batch, Seq("k"))
            .write.mode("append").parquet(sink)
      }.start()
    try {
      q.processAllAvailable()
      // batch 2 replays key 1 and adds key 3
      Seq((1L, "a"), (3L, "c")).toDF("k", "v")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val rows = spark.read.parquet(sink).as[(Long, String)]
        .collect().sorted.toSeq
      assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("streaming dedup + stream-static join match their batch twins") {
    val dir = sf
    val streamed = graft.streaming.EventsStream
      .distinctUserTypePairs(spark, dir)
      .as[(String, Long)].collect().toMap
    val batch = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)

    val enriched = graft.streaming.EventsStream
      .enrichedSegmentTotals(spark, dir)
      .select("c_mktsegment", "n_events")
      .as[(String, Long)].collect().toMap
    val batchJoin = Tables.events(spark, dir)
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(enriched == batchJoin)
  }

  test("dropDuplicatesWithinWatermark dedup matches the batch twin") {
    // synchronous single-batch drive: no state evicts mid-run, so the
    // watermark-bounded dedup must equal the exact one
    val streamed = graft.streaming.EventsStream
      .distinctPairsWithinWatermark(spark, sf)
      .as[(String, Long)].collect().toMap
    val batch = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("stream-stream interval join matches its batch twin") {
    val dir = sf
    val streamed = graft.streaming.EventsStream
      .errorPurchaseIntervalJoin(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, dir)
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id".as("error_id"), $"user_id".as("e_user"),
        $"ts".as("e_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
    val batch = errors.join(purchases,
        expr("e_user = p_user AND p_ts >= e_ts - INTERVAL 30 MINUTES AND p_ts <= e_ts"))
      .groupBy($"e_user".as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), min($"error_id").as("first_error_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("full-outer stream-stream join emits BOTH sides' null rows in " +
      "the resolved region and matches its batch twin") {
    val out = graft.streaming.EventsStream
      .errorPurchaseFullOuterJoin(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out.nonEmpty)
    // the full-outer surface: at least one null-emitted error AND at
    // least one null-emitted purchase somewhere (the left join could
    // never produce the latter)
    assert(out.exists(_._4 > 0), "expected an unmatched error row")
    assert(out.exists(_._5 > 0), "expected an unmatched purchase row")
    // batch twin under the same per-side cutoff
    val ev = Tables.events(spark, sf)
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id".as("error_id"), $"user_id".as("e_user"),
        $"ts".as("e_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("p_ts"))
    val cutoff = ev.filter($"event_type".isin("error", "purchase"))
      .groupBy("event_type").agg(max($"ts").as("mx"))
      .agg(min($"mx")).head().getTimestamp(0).toInstant
      .minusSeconds(2 * 3600)
    val cutoffTs = lit(java.sql.Timestamp.from(cutoff))
    val batch = errors.join(purchases,
        expr("e_user = p_user AND p_ts >= e_ts - INTERVAL 30 MINUTES " +
          "AND p_ts <= e_ts"), "fullOuter")
      .filter(($"e_ts".isNotNull && $"e_ts" <= cutoffTs) ||
        ($"e_ts".isNull && $"p_ts" <= cutoffTs))
      .groupBy(coalesce($"e_user", $"p_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(when($"error_id".isNotNull && $"purchase_id".isNotNull, 1))
          .as("n_matched"),
        sum(when($"purchase_id".isNull, 1L).otherwise(0L))
          .as("n_err_unmatched"),
        sum(when($"error_id".isNull, 1L).otherwise(0L))
          .as("n_purch_unmatched"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == batch)
  }

  test("transformWithState per-type MapState matches its batch twin") {
    val streamed = streaming.TypeStats.perTypeStats(spark, sf)
      .select("user_id", "event_type", "n_events", "min_event_id",
        "max_value")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    val batch = Tables.events(spark, sf)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        min($"event_id").as("min_event_id"),
        max($"value").as("max_value"))
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_._1).size > 1,
      "state must span multiple users and event types")
  }
}
