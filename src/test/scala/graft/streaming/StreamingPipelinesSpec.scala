package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables
import graft.pipeline.Scd1

class StreamingPipelinesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("windowed event stats match the equivalent batch aggregation") {
    val events = Tables.load(spark, sf, "events")
    val src = tmpDir("graft_stream_src")
    events.write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(events.schema).parquet(src)
    val out = StreamingPipelines.windowedEventStats(stream, "ts",
      window = "1 day", watermark = "2 days")
    val q = out.writeStream.format("memory").queryName("win_stats")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("graft_stream_ckpt"))
      .start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.table("win_stats")
      .select("window_start", "event_type", "n", "value_sum")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6)))
      .toSet
    val batch = events
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("win.start"), col("event_type"), col("n"),
        col("value_sum"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6)))
      .toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("incremental SCD1 over a stream equals batch latest-per-key") {
    val events = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "ts", "value")
    val src = tmpDir("graft_scd1_src")
    // two "arrival" files to force at least two micro-batch candidates
    events.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(src)
    events.filter(col("event_id") % 2 === 1)
      .write.mode("append").parquet(src)

    val target = tmpDir("graft_scd1_target") + "/t"
    val stream = spark.readStream.schema(events.schema).parquet(src)
    val q = StreamingPipelines.incrementalScd1(stream, target,
      keys = Seq("user_id"), orderCol = "ts",
      tieBreakers = Seq("event_id"), checkpoint = tmpDir("graft_scd1_ckpt"))
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamedFinal = spark.read.parquet(target)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchFinal = Scd1.latestPerKey(events, Seq("user_id"), "ts",
        tieBreakers = Seq("event_id"))
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedFinal === batchFinal)
    assert(streamedFinal.nonEmpty)
  }

  test("incremental SCD1 across micro-batches: the later batch's row " +
      "wins even when its orderCol is older") {
    import spark.implicits._
    def ts(day: String) = java.sql.Timestamp.valueOf(s"$day 00:00:00")
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val wave0 = Seq((1L, 1L, "view", ts("2024-01-05"), 1.0),
      (2L, 2L, "view", ts("2024-01-01"), 2.0)).toDF(cols: _*)
    val wave1 = Seq((3L, 1L, "click", ts("2024-01-02"), 3.0)).toDF(cols: _*)
    val src = tmpDir("graft_scd1_xbatch_src")
    def files = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSet
    wave0.coalesce(1).write.mode("append").parquet(src)
    val first = files
    wave1.coalesce(1).write.mode("append").parquet(src)
    // the file source drains in modification-time order: wave 1 after 0
    (files -- first).foreach(f =>
      assert(f.setLastModified(first.map(_.lastModified).max + 60000)))

    val target = tmpDir("graft_scd1_xbatch_target") + "/t"
    val stream = spark.readStream.schema(wave0.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingPipelines.incrementalScd1(stream, target,
      keys = Seq("user_id"), orderCol = "ts",
      tieBreakers = Seq("event_id"),
      checkpoint = tmpDir("graft_scd1_xbatch_ckpt"))
    assert(q.awaitTermination(120000), "streaming query timed out")
    assert(q.recentProgress.count(_.numInputRows > 0) === 2,
      "each wave must drain in its own micro-batch")

    val got = spark.read.parquet(target)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (2L, 2L)))
    // over the whole stream, latest-per-key would keep user 1's newer row
    val latest = Scd1.latestPerKey(wave0.union(wave1), Seq("user_id"),
        "ts", tieBreakers = Seq("event_id"))
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(latest === Set((1L, 1L), (2L, 2L)))
  }

  test("profileStream appends one batch-tagged profile per micro-batch") {
    val events = Tables.load(spark, sf, "events")
      .select("event_id", "value")
    val src = tmpDir("graft_prof_src")
    events.write.mode("overwrite").parquet(src)

    val results = tmpDir("graft_prof_out") + "/r"
    val stream = spark.readStream.schema(
      events.schema).parquet(src)
    val q = StreamingPipelines.profileStream(stream, results,
      checkpoint = tmpDir("graft_prof_ckpt"))
    assert(q.awaitTermination(120000), "streaming query timed out")

    val prof = spark.read.parquet(results)
    assert(prof.columns.contains("batch_id"))
    // both profiled columns present for every processed batch
    val byBatch = prof.groupBy("batch_id")
      .agg(countDistinct("column_name").as("cols")).collect()
    assert(byBatch.nonEmpty)
    byBatch.foreach(r => assert(r.getLong(1) === 2))
  }

  test("streaming dedup collapses redelivered events to the batch distinct") {
    val events = Tables.load(spark, sf, "events")
    val src = tmpDir("graft_stream_dedup_src")
    // at-least-once redelivery: every event staged twice
    events.union(events).write.mode("overwrite").parquet(src)

    val stream = spark.readStream.schema(events.schema).parquet(src)
    val out = tmpDir("graft_stream_dedup_out")
    val q = StreamingPipelines
      .dedupStream(stream, "ts", "2 days", Seq("event_id"))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir("graft_stream_dedup_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val deduped = spark.read.parquet(out)
    assert(deduped.count() === events.count())
    assert(deduped.select("event_id").distinct().count() ===
      events.count())
  }

  test("stream-stream interval join equals the batch interval join") {
    val events = Tables.load(spark, sf, "events")
    val src = tmpDir("graft_stream_ij_src")
    events.write.mode("overwrite").parquet(src)
    val schema = events.schema

    def stream = spark.readStream.schema(schema).parquet(src)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val out = tmpDir("graft_stream_ij_out")
    val q = StreamingPipelines.intervalJoin(
        clicks, "click_ts", purchases, "purchase_ts",
        col("user_id") === col("p_user_id"),
        lookback = "12 HOURS", watermark = "1 DAY")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", tmpDir("graft_stream_ij_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    val streamed = spark.read.parquet(out).count()
    val batch = events.filter(col("event_type") === "click").as("c")
      .join(events.filter(col("event_type") === "purchase").as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("c.ts") >= col("p.ts") - expr("INTERVAL 12 HOURS") &&
          col("c.ts") <= col("p.ts"))
      .count()
    assert(streamed === batch)
    assert(streamed > 0)
  }

  test("streaming actives: result is independent of the micro-batch " +
      "cut and state holds exactly the (user, day) distinct") {
    val events = Tables.load(spark, sf, "events").select("user_id", "ts")
    def run(files: Int, tag: String): Seq[org.apache.spark.sql.Row] = {
      val (src, state, out, ckpt) = (tmpDir(s"act_src_$tag"),
        tmpDir(s"act_state_$tag"), tmpDir(s"act_out_$tag"),
        tmpDir(s"act_ckpt_$tag"))
      events.repartition(files).write.mode("overwrite").parquet(src)
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      StreamingPipelines.activesStream(stream, "user_id", "ts", 7,
        state, out, ckpt).awaitTermination()
      // the state frame must be EXACTLY the reduced pairs frame
      assert(spark.read.parquet(state).count() ===
        graft.pipeline.Actives.pairs(events, "user_id", "ts").count())
      spark.read.parquet(out).orderBy("day").collect().toSeq
    }
    // cache-lifecycle pin (r10 sweep): the whole maintenance loop —
    // state swaps included — must leave nothing persisted behind
    val one = assertNoNewPersists { run(1, "one") }
    assert(one === assertNoNewPersists { run(5, "five") },
      "5 micro-batches must equal the single-batch drain")
    val batch = graft.pipeline.Actives.rolling(events, "user_id", "ts", 7)
      .orderBy("day").collect().toSeq
    assert(one === batch, "maintenance must equal the batch operator")
  }

  test("streaming near-dup: matches = pairs whose dup_of arrived in a " +
      "strictly earlier micro-batch (3 ordered files, driver reference)") {
    import spark.implicits._
    // three arrival waves of 40-word docs; near-dups planted across
    // and within waves (g = vocabulary group; one mid-word mutation
    // keeps jaccard ~0.85 >= 0.8)
    def doc(g: Int, mut: Boolean = false): String =
      (0 until 40).map(i =>
        if (mut && i == 20) s"v${g}_$i" else s"w${g}_$i").mkString(" ")
    val waves = Seq(
      Seq(1L -> doc(1), 2L -> doc(2)),                  // wave 0
      Seq(3L -> doc(1, mut = true), 4L -> doc(3),       // 3 ~ 1
          5L -> doc(3, mut = true)),                    // 5 ~ 4 SAME wave
      Seq(6L -> doc(3), 7L -> doc(2))                   // 6 ~ 4,5; 7 ~ 2
    )
    val (src, state, out, ckpt) = (tmpDir("nd_src"), tmpDir("nd_state"),
      tmpDir("nd_out"), tmpDir("nd_ckpt"))
    // ordered arrival: one single-file write per wave, mtime-gapped
    waves.foreach { w =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.nearDupStream(stream, "doc_id", "text",
      state, out, ckpt).awaitTermination()
    val got = StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet
    // driver reference: (a, b) with jaccard >= 0.8 and wave(b) < wave(a).
    // Planted: 3~1 (waves 1<-0), 6~4 identical (2<-1), 6~5 one mutation
    // apart = 35/41 ~ 0.854 (2<-1), 7~2 identical (2<-0); 5~4 is the
    // SAME wave (out of scope by the probe-before-merge contract)
    assert(got === Set((3L, 1L), (6L, 4L), (6L, 5L), (7L, 2L)),
      s"arrival-order semantics: got $got")
    // the persisted index holds every drained doc exactly once
    // (one per-batch subdir per wave)
    assert(spark.read.parquet(s"$state/b*/sets").count() === 7L)
  }

  test("nearDupStream leaves no cache behind: each micro-batch releases " +
      "what its probe cached (3 one-file waves, no drain)") {
    import spark.implicits._
    // scope the empty-cache assertion to THIS test (as
    // IncrementalDedupSpec does)
    spark.catalog.clearCache()
    graft.util.DeferredCleanup.drain()
    def doc(g: Int, mut: Boolean = false): String =
      (0 until 40).map(i =>
        if (mut && i == 20) s"v${g}_$i" else s"w${g}_$i").mkString(" ")
    val waves = Seq(
      Seq(1L -> doc(1), 2L -> doc(2)),
      Seq(3L -> doc(1, mut = true), 4L -> doc(3)),
      Seq(5L -> doc(3), 6L -> doc(2)))
    val (src, state, out, ckpt) = (tmpDir("ndc_src"), tmpDir("ndc_state"),
      tmpDir("ndc_out"), tmpDir("ndc_ckpt"))
    waves.foreach { w =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(50)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipelines.nearDupStream(stream, "doc_id", "text",
      state, out, ckpt).awaitTermination()
    // the later batches did probe the index (so they did cache)
    assert(StreamingPipelines.nearDupMatches(spark, out)
      .select("batch_id", "dup_of").as[(Long, Long)].collect().toSet ===
      Set((3L, 1L), (5L, 4L), (6L, 2L)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "every micro-batch must release the caches its probe deferred")
  }
}
