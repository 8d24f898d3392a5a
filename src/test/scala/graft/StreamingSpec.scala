package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventOps

/** The Structured Streaming twin must agree with the batch window
  * aggregation (ADVICE round-1: the streaming path was dead, unverified
  * code).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** Write `df` as one parquet file and place it into the watched
    * source directory `in` ATOMICALLY (stage under the scratch root,
    * then ATOMIC_MOVE): a live FileStreamSource that lists a file
    * mid-copy reads a truncated footer and kills the query.
    */
  private def deliver(df: org.apache.spark.sql.DataFrame, tmp: String,
      in: String, stage: String): Unit = {
    df.coalesce(1).write.parquet(s"$tmp/$stage")
    val part = new java.io.File(s"$tmp/$stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val staged = java.nio.file.Paths.get(tmp, s"$stage.parquet.tmp")
    java.nio.file.Files.copy(part.toPath, staged)
    java.nio.file.Files.move(staged,
      java.nio.file.Paths.get(in, s"$stage.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  test("streaming tumbling counts == batch tumbling counts (memory sink, drain-all)") {
    val stream = EventOps.streamingTumblingCounts(spark, sfDir)
    val q = stream.writeStream
      .format("memory")
      .queryName("graft_stream_test")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
    }
    val streamed = spark.table("graft_stream_test")
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    val batch = EventOps.tumblingAgg(spark, sfDir)
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch,
      s"streaming/batch divergence: only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("streaming session windows == batch session windows (memory sink, drain-all)") {
    val q = EventOps.streamingSessionCounts(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_session_test")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_session_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventOps.sessionAgg(spark, sfDir)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"session divergence: only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("streaming dedup emits one row per key (watermark-bounded state)") {
    val q = EventOps.streamingDedup(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_dedup_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_dedup_test")
      .select("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly one survivor per distinct key pair, none lost
    assert(streamed.length == streamed.distinct.length)
    val batchKeys = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed.toSet == batchKeys)
  }

  test("streaming crawl dedup: surviving canonical-URL set == batch twin") {
    val q = EventOps.streamingUrlDedup(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_urldedup_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_urldedup_test")
      .select("canon").collect().map(_.getString(0))
    // keep-FIRST: exactly one survivor per canonical resource
    assert(streamed.length == streamed.distinct.length)
    // the surviving RESOURCE set equals the batch twin's (the winning
    // doc_id may differ — micro-batch arrival is not a total order)
    val batchCanon = graft.ext.WebOps
      .urlDedup(spark.read.parquet(s"$sfDir/documents.parquet"))
      .select("canon").collect().map(_.getString(0)).toSet
    assert(streamed.toSet == batchCanon)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join == batch attribution join") {
    val q = EventOps.streamingAttribution(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_attr_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))
    val streamed = spark.table("graft_attr_test")
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
      .collect().map(key).toSet
    val batch = EventOps.attributionJoin(spark, sfDir)
      .select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
      .collect().map(key).toSet
    assert(streamed == batch,
      s"attr divergence: only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment join == batch join") {
    val q = EventOps.streamingEnrichedEvents(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_enrich_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_enrich_test")
      .groupBy("user_id", "lifetime_events").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val batch = events
      .groupBy("user_id").agg(count(lit(1)).as("lifetime_events"))
      .join(events, Seq("user_id"))
      .groupBy("user_id", "lifetime_events").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    // every enriched row found its profile (the static side derives from
    // the same keys)
    assert(streamed.forall { case (_, lifetime, n) => lifetime == n })
  }

  test("streaming parquet sink with checkpoint writes exactly the input rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = graft.engine.Tables.normalizeEventTs(spark.readStream
      .schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
      .select("event_id", "user_id", "event_type", "ts")
    val q = stream.writeStream
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(s"$tmp/out")
    val n = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(back.count() == n)
    assert(back.select(countDistinct(col("event_id"))).head().getLong(0) == n,
      "no duplicate deliveries within one run (exactly-once file sink)")
  }

  test("checkpoint restart resumes exactly-once: only new files are processed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val in = s"$tmp/in"; new java.io.File(in).mkdirs()
    // orderBy before limit: bare limit() row order is not pinned, and the
    // two splits must be a deterministic prefix/suffix of the same 150
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .orderBy("event_id")
    val schema = events.schema
    deliver(events.limit(100), tmp, in, "batch1")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .select("event_id", "user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(s"$tmp/out").count() == 100)
    // stream is STOPPED; 50 more rows arrive; a NEW query restarts from
    // the same checkpoint and must process only the new file
    deliver(events.limit(150).exceptAll(events.limit(100)), tmp, in, "batch2")
    runOnce()
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 150, "restart must add only the new file's rows")
    assert(back.select(countDistinct(col("event_id"))).head().getLong(0) == 150,
      "no event processed twice across the restart")
  }

  test("event-time-timeout sessionizer: closed sessions equal the batch session rollup") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val in = s"$tmp/in"; new java.io.File(in).mkdirs()
    val events = graft.engine.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"), col("ts"))
    val subset = events.where(col("user_id") < 5)
    deliver(subset, tmp, in, "f1")
    val q = EventOps.streamingSessionize(spark, in).writeStream
      .format("memory").queryName("graft_sess_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a far-future sentinel for a DIFFERENT user pushes the watermark
      // past every real session's last-event+30min, so the remaining
      // open sessions close via the TIMEOUT path, not a new event
      val sentinel = events.orderBy(col("ts").desc).limit(1)
        .select(lit(999L).as("user_id"), lit(999999L).as("event_id"),
          (col("ts") + expr("INTERVAL 10 DAYS")).as("ts"))
      deliver(sentinel, tmp, in, "f2")
      q.processAllAvailable()
      // the timeout path fires in the first micro-batch AFTER the
      // watermark-advancing one; under scheduler load that no-data
      // batch can lag processAllAvailable — poll bounded instead of
      // flaking (normally already satisfied on the first check)
      val want = EventOps.sessionStats(spark, sfDir)
        .where(col("user_id") < 5).count()
      val deadline = System.nanoTime() + 30L * 1000L * 1000L * 1000L
      while (spark.table("graft_sess_stream").where(col("user_id") < 5)
          .count() < want && System.nanoTime() < deadline) {
        Thread.sleep(250)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("graft_sess_stream")
      .where(col("user_id") < 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val batch = EventOps.sessionStats(spark, sfDir)
      .where(col("user_id") < 5)
      .select(col("user_id"), col("n_events"), col("duration_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed.nonEmpty, "timeout path must have closed sessions")
    assert(streamed == batch,
      "every batch session must be emitted exactly once by the stream")
  }

  test("gapFillDaily zero-fills missing days and carries the last type forward") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gap").toString
    // ts as nanos-since-epoch long — the fixture contract Tables.load
    // normalizes (events.parquet is TIMESTAMP(NANOS) read nanosAsLong).
    // Parsed explicitly as UTC: Timestamp.valueOf would use the host
    // timezone while the session pins UTC.
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
    Seq(
      (1L, nanos("2024-03-01 10:00:00"), 7L, "signup", 1.0, "{}"),
      (2L, nanos("2024-03-01 11:00:00"), 7L, "click", 1.0, "{}"),
      // 3-day gap, then one more event
      (3L, nanos("2024-03-05 09:00:00"), 7L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventOps.gapFillDaily(spark, tmp)
      .as[(Long, String, Long, String)].collect().toList
    assert(got == List(
      (7L, "2024-03-01", 2L, "click"),   // last-of-day by (ts, event_id)
      (7L, "2024-03-02", 0L, "click"),   // gap: zero count, carried type
      (7L, "2024-03-03", 0L, "click"),
      (7L, "2024-03-04", 0L, "click"),
      (7L, "2024-03-05", 1L, "purchase")))
  }

  test("foreachBatch idempotent sink: a replayed batch does not duplicate output") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val writer = EventOps.idempotentBatchWriter(s"$tmp/out")
    val stream = spark.readStream
      .schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select("event_id", "user_id", "event_type")
    val q = stream.writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(spark.read.parquet(s"$tmp/out").count() == n)
    // a later batch lands in its own partition...
    val extra = Seq((-1L, 999L, "late")).toDF("event_id", "user_id", "event_type")
    writer(extra, 1L)
    assert(spark.read.parquet(s"$tmp/out").count() == n + 1)
    // ...and replaying batch 0 (foreachBatch's retry contract) must
    // neither append duplicates NOR clobber batch 1's partition — the
    // distinction between dynamic partition overwrite and a static
    // truncate-everything overwrite
    writer(spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "event_type"), 0L)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == n + 1, "replay must overwrite only its own partition")
    assert(back.where(col("batch_id") === 1).count() == 1,
      "sibling batch partition must survive a replay")
    assert(back.select(countDistinct(col("event_id"))).head().getLong(0) == n + 1)
  }

  test("streaming dyadic EWMA == batch twin exactly (integer arithmetic, one divide)") {
    val q = EventOps.streamingEwma(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_ewma_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_ewma_test")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = EventOps.eventEwma(
      graft.engine.Tables.load(spark, sfDir, "events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed.size == batch.size, "one row per event on both paths")
    assert(streamed == batch, "exact equality — both paths share the integer arithmetic")
    // state bound: the trailing window never weighs more than 8 values
    assert(streamed.nonEmpty)
  }

  test("streaming rolling z-score == batch twin exactly (integer moments, one formula)") {
    val q = EventOps.streamingRollingZscore(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_zscore_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_zscore_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    val batch = EventOps.eventRollingZscore(
      graft.engine.Tables.load(spark, sfDir, "events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    assert(streamed.size == batch.size, "one row per event on both paths")
    assert(streamed == batch, "exact equality — both paths share the integer moments")
    assert(streamed.values.exists(_._2 == 1), "fixture contains trailing-window anomalies")
  }

  test("streaming rolling distinct == batch bitmap twin exactly (same trailing-5 frame)") {
    val q = EventOps.streamingRollingDistinct(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_rdistinct_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_rdistinct_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    val batch = graft.operators.WindowOps.rollingDistinct(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(streamed.size == batch.size, "one row per event on both paths")
    assert(streamed == batch, "exact equality — same frame, bitmap vs queue")
    assert(streamed.values.exists(_ > 1), "fixture frames mix event types")
  }

  test("streaming cusum == batch twin exactly (two-long state vs window closed form)") {
    val q = EventOps.streamingCusum(spark, sfDir, 50000000L, 15000000L)
      .writeStream
      .format("memory")
      .queryName("graft_cusum_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_cusum_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    val batch = EventOps.eventCusum(
      graft.engine.Tables.load(spark, sfDir, "events"), 50000000L, 15000000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    assert(streamed.size == batch.size, "one row per event on both paths")
    assert(streamed == batch, "exact equality — shared integer closed form")
    assert(streamed.values.forall(_._1 >= 0L), "CUSUM statistic is clamped >= 0")
    assert(streamed.values.exists(_._2 == 1), "fixture drifts above the alarm threshold somewhere")
  }

  test("streaming user paths: completed 3-paths census == batch 3-step subset, one emit per user") {
    val q = EventOps.streamingUserPaths(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_paths_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table("graft_paths_test").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(emitted.map(_._1).distinct.length == emitted.length,
      "at most one completed path per user")
    val streamedCensus = emitted.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val batch = graft.streaming.EventOps.userPaths(
      graft.engine.Tables.load(spark, sfDir, "events"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter(_._1.count(_ == '>') == 2)
      .toMap
    assert(streamedCensus == batch,
      "streamed completed-path counts equal the batch 3-step census")
    assert(streamedCensus.nonEmpty)
  }

  test("streaming gaps == batch lag-window gaps exactly (one-long state)") {
    val q = EventOps.streamingGaps(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_gaps_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_gaps_test")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val batch = EventOps.eventGaps(
      graft.engine.Tables.load(spark, sfDir, "events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(streamed.size == batch.size, "one row per non-first event on both paths")
    assert(streamed == batch, "exact equality — same micros arithmetic")
    assert(streamed.values.forall(_ >= 0L), "event-time order makes gaps non-negative")
  }

  test("streaming twap: last running emission per user == batch TWAP exactly") {
    val q = EventOps.streamingTwap(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_twap_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val lastPerUser = spark.table("graft_twap_test")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) =>
        val last = rows.maxBy(_.getLong(2)) // max n_held = final segment
        u -> (last.getLong(2), last.getLong(3), last.getDouble(4))
      }
    val batch = graft.operators.WindowOps.twap(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("twap")))
      .toMap
    assert(lastPerUser.size == batch.size, "one final row per user on both paths")
    assert(lastPerUser == batch, "exact equality — BigInt vs DECIMAL(38,0) numerators")
  }

  test("concurrencyOf: planted interval profile exact; fixture parity with naive global window") {
    import spark.implicits._
    // [0,10] and [11,20] abut: -1 (end 10 + 1) and +1 coincide at ts 11
    // and must net to 0 in one row, not order-dependently to 0 or 2
    val planted = Seq((0L, 10L), (5L, 15L), (11L, 20L), (25L, 30L))
      .toDF("start_us", "end_us")
    val got = EventOps.concurrencyOf(planted, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 1L, 1L), (5L, 1L, 2L), (11L, 0L, 2L), (16L, -1L, 1L),
      (21L, -1L, 0L), (25L, 1L, 1L), (31L, -1L, 0L)))
    // fixture parity: the two-pass bucket sum == a naive single global
    // running-sum window over the same session intervals
    val sessions = EventOps.sessionStats(spark, sfDir) // forces same labeling
    val lab = EventOps.concurrencyProfile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var running = 0L
    for ((ts, d, c) <- lab) {
      running += d
      assert(c == running, s"prefix property at ts $ts")
      assert(c >= 0L, "a session count can never go negative")
    }
    assert(lab.map(_._1).toSeq == lab.map(_._1).sortBy(identity).toSeq)
    assert(lab.map(_._3).max >= 1L)
    assert(lab.map(_._2).sum == 0L, "every opened session closes")
    assert(lab.map(_._3).max <= sessions.count(),
      "peak concurrency is bounded by the session count")
  }

  test("streaming funnel state machine == batch per-user funnel exactly") {
    val q = EventOps.streamingFunnel(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_funnel_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_funnel_test")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val batch = EventOps.funnelUserTimes(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(streamed.size == batch.size, "one row per funnel-entered user on both paths")
    assert(streamed == batch,
      "exact equality — greedy latching == the chained min aggregates")
    // the user-grain table must reduce to the registered 3-row report
    val report = EventOps.funnel(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(report(1) == batch.size.toLong)
    assert(report(2) == batch.values.count(_._1 >= 2).toLong)
    assert(report(3) == batch.values.count(_._1 == 3).toLong)
    assert(report(3) > 0, "fixture contains completed funnels")
  }

  test("mapGroupsWithState per-user running totals == batch aggregation") {
    val q = EventOps.streamingUserStateCounts(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_state_test")
      .outputMode("update")
      .start()
    try q.processAllAvailable() finally q.stop()
    // single input batch -> one state update per user = final totals
    val streamed = spark.table("graft_state_test")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("double")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, (n, s)) =>
      assert(n == batch(u)._1, s"user $u count")
      assert(math.abs(s - batch(u)._2) <= 1e-6 * math.max(1.0, math.abs(s)),
        s"user $u sum: $s vs ${batch(u)._2}")
    }
  }

  test("Misra-Gries heavy hitters == exact counts while under capacity") {
    val q = EventOps.streamingTopTypes(spark, sfDir).writeStream
      .format("memory").queryName("graft_mg_test")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // single input file -> one micro-batch; update mode would re-emit a
    // touched user's full map per batch, so guard the assumption before
    // .toMap can silently keep a stale intermediate snapshot
    val rows = spark.table("graft_mg_test").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).distinct.length
      == rows.length, "expected exactly one micro-batch")
    val streamed =
      rows.map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("user_id"), coalesce(col("event_type"), lit("")).as("et"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // the fixture's type vocabulary fits in capacity 8 -> MG is exact
    assert(streamed == exact)
  }

  test("Misra-Gries eviction: the heavy type survives within the error bound") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mg").toString
    val in = java.nio.file.Files.createTempDirectory("graft-mg-in").toString
    // ts as raw epoch NANOS long — the fixture layout eventStream's
    // nanos→micros conversion expects
    val t0 = 1704067200L * 1000000000L
    val rows = (Seq.fill(8)("a") ++ Seq("b", "c", "d")).zipWithIndex.map {
      case (t, i) => (i.toLong, t0 + i * 1000000000L, 1L, t, 1.0, "{}")
    }
    deliver(rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      tmp, in, "events")
    val q = EventOps.streamingTopTypes(spark, in, capacity = 2).writeStream
      .format("memory").queryName("graft_mg_evict")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val m = spark.table("graft_mg_evict")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(m.size <= 2, s"state must stay within capacity: $m")
    // n=11, capacity=2 -> any estimate is at most n/(m+1)=3 under truth,
    // and a type with true count 8 > 3 MUST survive
    assert(m.contains("a"), s"heavy type evicted: $m")
    assert(m("a") >= 5L && m("a") <= 8L, s"estimate out of bounds: $m")
  }

  test("funnel: reach counts match a plain-JVM earliest-completion replay") {
    val ev = graft.engine.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    def reach(events: Array[(Long, String, Long)]): Int = {
      val t1 = events.filter(_._2 == "view").map(_._3).minOption
      val t2 = t1.flatMap(t =>
        events.filter(e => e._2 == "click" && e._3 > t).map(_._3).minOption)
      val t3 = t2.flatMap(t =>
        events.filter(e => e._2 == "purchase" && e._3 > t).map(_._3).minOption)
      Seq(t1, t2, t3).count(_.isDefined)
    }
    val depth = ev.values.map(v => reach(v.toArray)).toSeq
    val expect = Seq(1, 2, 3).map(k => depth.count(_ >= k).toLong)
    val got = EventOps.funnel(spark, sfDir).collect()
      .sortBy(_.getInt(0)).map(r => r.getLong(2)).toSeq
    assert(got == expect, s"reach per step: got $got expected $expect")
    val rates = EventOps.funnel(spark, sfDir).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(3))
    assert(rates(0) == 1.0 && rates.forall(r => r >= 0.0 && r <= 1.0),
      "conversion rates are probabilities")
  }

  test("retention cohorts: triangle matches a plain-JVM replay; week-0 retention is 1") {
    val ev = graft.engine.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id",
        "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7 AS LONG) AS week")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cohort = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = ev.distinct
      .map { case (u, w) => (cohort(u), w - cohort(u)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sizes = cohort.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = EventOps.retentionCohorts(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(got.map(_._1).toSet == cells.keySet, "cell coverage")
    for (((cw, off), (active, size, rate)) <- got) {
      assert(active == cells((cw, off)), s"cell ($cw, $off) active")
      assert(size == sizes(cw), s"cohort $cw size")
      assert(rate == active.toDouble / size.toDouble)
      if (off == 0L)
        assert(active == size, "everyone is active in their cohort week")
      assert(off >= 0L, "first event defines the cohort floor")
    }
  }

  test("streaming transitions: folded pair counts == the batch transition matrix") {
    val q = EventOps.streamingTransitions(spark, sfDir).writeStream
      .format("memory")
      .queryName("graft_trans_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_trans_test")
      .groupBy("prev_type", "next_type").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = EventOps.transitionMatrix(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      "per-(prev,next) counts must agree exactly between the twins")
    // probabilities in the batch matrix sum to 1 per source type
    val bySrc = EventOps.transitionMatrix(spark, sfDir).collect()
      .groupBy(_.getString(0))
    bySrc.foreach { case (src, rows) =>
      val p = rows.map(_.getDouble(4)).sum
      assert(math.abs(p - 1.0) < 1e-9, s"$src rows sum to $p")
    }
  }

  test("conversion latency: counts match funnel reach, percentiles ordered, means positive") {
    val r = graft.streaming.EventOps.conversionLatency(spark, sfDir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getAs[Double]("mean_us"),
        x.getAs[Double]("p50_us"), x.getAs[Double]("p90_us")))).toMap
    assert(r.keySet == Set("view_to_click", "click_to_purchase", "view_to_purchase"))
    val ut = graft.streaming.EventOps.funnelUserTimes(spark, sfDir).collect()
    val n2 = ut.count(_.getAs[Long]("t2_us") >= 0L)
    val n3 = ut.count(_.getAs[Long]("t3_us") >= 0L)
    assert(r("view_to_click")._1 == n2.toLong)
    assert(r("click_to_purchase")._1 == n3.toLong)
    assert(r("view_to_purchase")._1 == n3.toLong)
    r.values.foreach { case (n, mean, p50, p90) =>
      assert(n > 0 && mean > 0.0 && p50 <= p90)
    }
  }

  test("streaming ingest composition: watermarked crawl dedup + corpus-aware exact/near dedup + idempotent writes") {
    // the r10 verdict's stretch item: the ONE composition the
    // per-operator streaming twins don't show — arriving documents
    // pass the stateful URL stage, then each micro-batch dedups
    // against the STANDING corpus (exact fingerprints + incremental
    // LSH) and lands through the idempotent batch writer.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val in = s"$tmp/in"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight",
        "https://corpus.example.com/a"),
      (2L, "machine learning models require large clean corpora with diverse high quality text for training runs",
        "https://corpus.example.com/b"))
      .toDF("doc_id", "text", "url")
    val incoming1 = Seq(
      // byte-identical to corpus doc 1 -> exact dedup vs corpus kills it
      (101L, "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight",
        "https://new.example.com/p101"),
      // one word changed vs corpus doc 2 -> incremental near-dup kills it
      (102L, "machine learning models require large clean corpora with diverse high quality text for training jobs",
        "https://new.example.com/p102"),
      // same canonical resource fetched twice (scheme case, :443, utm,
      // trailing slash) -> the watermarked stage keeps ONE
      (103L, "completely novel document number one hundred three about rivers mountains and ancient cartography methods",
        "HTTPS://B.Example.COM:443/r?utm_source=x"),
      (104L, "a different novel document about deep sea creatures bioluminescence and pressure adaptation strategies",
        "https://b.example.com/r/"),
      // under the 5-token row-local gate
      (105L, "tiny text", "https://new.example.com/p105"),
      // novel on every axis -> must survive
      (106L, "entirely fresh writing on volcanic island formation plate tectonics and basalt column geometry",
        "https://new.example.com/p106"))
      .toDF("doc_id", "text", "url")
    // (query id, batch id) of every job a micro-batch issues
    val batchJobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        for {
          props <- Option(e.properties)
          query <- Option(props.getProperty("sql.streaming.queryId"))
          batch <- Option(props.getProperty("streaming.sql.batchId"))
        } batchJobs.add(query -> batch.toLong)
    }
    val q = graft.ext.TrainingPipeline.streamingIngest(
      corpus, in, s"$tmp/out", s"$tmp/ckpt",
      graft.ext.TrainingPipeline.Config(urlDedupCol = Some("url"),
        minTokens = 5, nearDupThreshold = 0.5))
    // no trigger runs before the first delivery
    spark.sparkContext.addSparkListener(jobListener)
    try {
      deliver(incoming1, tmp, in, "b0")
      q.processAllAvailable()
      // a LATER file refetches 103/104's canonical resource within the
      // watermark: the stateful stage must drop it ACROSS micro-batches
      val incoming2 = Seq(
        (107L, "yet another novel text on medieval trade routes amber roads and salt caravans across continents",
          "https://www.b.example.com/r")).toDF("doc_id", "text", "url")
      deliver(incoming2, tmp, in, "b1")
      q.processAllAvailable()
      // THIRD micro-batch (the r11 verdict's gap): content duplicates
      // of a batch-1 ACCEPTED doc (106) — different URLs, so only the
      // absorbed accepted-stream state can catch them — plus a
      // within-batch near-dup pair, neither member known to any
      // standing state
      val incoming3 = Seq(
        // byte-identical to accepted doc 106 -> exact dedup vs the
        // accepted stream must kill it
        (108L, "entirely fresh writing on volcanic island formation plate tectonics and basalt column geometry",
          "https://late.example.com/p108"),
        // one word changed vs accepted doc 106 -> incremental near-dup
        // vs the accepted stream must kill it
        (109L, "entirely fresh writing on volcanic island formation plate tectonics and basalt column patterns",
          "https://late.example.com/p109"),
        // within-batch near-dup pair (novel vs corpus AND stream):
        // min doc_id survives, the other dies
        (110L, "glacial meltwater rivers carve deep canyons through ancient limestone plateaus over long millennia",
          "https://late.example.com/p110"),
        (111L, "glacial meltwater rivers carve deep canyons through ancient limestone plateaus over long centuries",
          "https://late.example.com/p111"),
        // novel on every axis -> must survive
        (112L, "desert varnish coats exposed sandstone surfaces with manganese oxides deposited across arid centuries",
          "https://late.example.com/p112"))
        .toDF("doc_id", "text", "url")
      deliver(incoming3, tmp, in, "b2")
      q.processAllAvailable()
    } finally {
      q.stop()
      graft.ext.TrainingPipeline.releaseIngestState(s"$tmp/out")
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    val out = spark.read.parquet(s"$tmp/out")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(101L), "exact duplicate of a corpus doc must die")
    assert(!ids.contains(102L), "near-duplicate of a corpus doc must die")
    assert(!ids.contains(105L), "sub-min-token doc must die")
    assert(ids.contains(106L), "the novel doc must survive")
    assert(Seq(103L, 104L).count(ids.contains) == 1,
      s"exactly one fetch of the shared canonical resource survives: $ids")
    assert(!ids.contains(107L),
      "a refetch in a LATER micro-batch must hit the watermarked state")
    assert(!ids.contains(108L),
      "an exact content-dup of an earlier batch's ACCEPTED doc must die")
    assert(!ids.contains(109L),
      "a near-dup of an earlier batch's ACCEPTED doc must die")
    assert(ids.contains(110L),
      "the smaller id of a within-batch near-dup pair survives")
    assert(!ids.contains(111L),
      "the larger id of a within-batch near-dup pair dies")
    assert(ids.contains(112L), "the batch-3 novel doc must survive")
    // layout contract: the idempotent writer partitions by batch_id
    assert(out.columns.contains("batch_id"))
    // executed triggers only (an idle progress event has no addBatch)
    val triggers = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
    val dataIds = triggers.filter(_.numInputRows > 0).map(_.batchId).sorted.toSeq
    assert(dataIds.size == 3, s"one data trigger per arrival: $dataIds")
    // one partition per data trigger that kept a row; the second
    // arrival's only doc (107) is a watermarked refetch, so its
    // trigger carries a row but lands nothing
    val partitions = new java.io.File(s"$tmp/out").list()
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong).toSet
    assert(partitions == Set(dataIds(0), dataIds(2)),
      s"partitions $partitions vs data triggers $dataIds")
    // the watermark's no-data triggers evict state and carry no rows:
    // each may issue at most the one job of its emptiness check
    val jobs = batchJobs.toArray(Array.empty[(String, Long)]).toSeq
      .collect { case (query, batch) if query == q.id.toString => batch }
      .groupBy(identity).map { case (batch, js) => batch -> js.size }
    val noDataIds = triggers.filter(_.numInputRows == 0).map(_.batchId).toSeq
    assert(noDataIds.nonEmpty, "the watermark must have run a no-data trigger")
    noDataIds.foreach { id =>
      assert(jobs.getOrElse(id, 0) <= 1,
        s"no-data trigger $id issued ${jobs.getOrElse(id, 0)} jobs (all: $jobs)")
    }
  }
}
