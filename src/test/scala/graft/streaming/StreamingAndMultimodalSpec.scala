package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.multimodal.MultimodalOps

class StreamingAndMultimodalSpec extends SparkTestBase {
  import spark.implicits._

  // Staged ONCE per suite (lazy): three tests read the identical fixture,
  // and re-staging it per test paid two redundant write jobs.
  private lazy val stagedEventsDir: String = {
    // Stage the sf0.001 events through the streaming schema (micros ts).
    val dir = Files.createTempDirectory("events-stream").toString
    graft.Tables.events(spark, sfTest)
      .write.mode("overwrite").parquet(dir)
    dir
  }


  test("windowedStats over a file stream matches the batch computation") {
    val dir = stagedEventsDir
    val q = EventsStreaming.windowedStats(
        EventsStreaming.readEventsStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_out")
      .select(col("window.start").as("ws"), col("event_type"), col("transactions"))
    // Batch comparator uses the BATCH tier's Monday week bucketing — this is
    // the real alignment check (epoch-aligned 7-day windows start Thursday).
    val batch = graft.Tables.events(spark, sfTest)
      .groupBy(graft.ops.CoreOps.weekStart(col("ts")).as("ws"), col("event_type"))
      // same 1% rsd as the streaming tier so the estimates are comparable
      .agg(approx_count_distinct(col("event_id"), 0.01).as("transactions"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("enrichedWindowTotals: stream-static enrich matches batch; unmapped types drop") {
    val dir = stagedEventsDir
    import spark.implicits._
    // deliberately PARTIAL dim: 'error' unmapped — those events must drop
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "acquisition"))
      .toDF("event_type", "category")
    val q = EventsStreaming.enrichedWindowTotals(
        EventsStreaming.readEventsStream(spark, dir), dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich_out")
      .select(col("window.start").as("ws"), col("category"),
        col("events"), col("cents"))
    val batch = graft.Tables.events(spark, sfTest)
      .where(col("ts").isNotNull)
      .join(dim, Seq("event_type"))
      .groupBy(graft.ops.CoreOps.weekStart(col("ts")).as("ws"),
        col("category"))
      .agg(count(lit(1)).as("events"),
        sum(graft.ops.CoreOps.moneyCents(col("value")).cast("long"))
          .as("cents"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0
      && batch.except(streamed).count() == 0)
    // exact counts: the four mapped types' rows all arrive, none invented
    val mapped = graft.Tables.events(spark, sfTest)
      .where(col("ts").isNotNull &&
        col("event_type").isin("click", "view", "purchase", "signup"))
      .count()
    assert(streamed.agg(sum("events")).as[Long].head === mapped)
  }

  test("weeklyDistinctSketch: streaming HLL estimate matches the batch sketch exactly") {
    val dir = stagedEventsDir
    val q = EventsStreaming.weeklyDistinctSketch(
        EventsStreaming.readEventsStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_win_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hll_win_out")
    // HLL is order-insensitive: the micro-batched register merge must land
    // on the SAME estimate as a single batch pass over the same rows — an
    // estimator equality, stronger than an error-bound check
    val batch = graft.Tables.events(spark, sfTest)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(graft.ops.CoreOps.weekStart(col("ts")).as("week"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("users_est"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0
      && batch.except(streamed).count() == 0)
  }

  test("streaming session windows match the batch sessionize operator") {
    val dir = stagedEventsDir
    val q = EventsStreaming.sessionWindows(
        EventsStreaming.readEventsStream(spark, dir), gap = "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_win_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_win_out")
    val batch = graft.ops.Sessionize.sessionize(
      graft.Tables.events(spark, sfTest),
      "user_id", "ts", "event_id", gapMs = 1800000L)
    // same session count and same total events per user
    assert(streamed.count() == batch.count())
    val sPerUser = streamed.groupBy("user_id").agg(sum("n_events").as("n"))
      .as[(Long, Long)].collect().toMap
    val bPerUser = batch.groupBy("user_id").agg(sum("n_events").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(sPerUser == bPerUser)
  }

  test("closedSessions emits whole sessions on gap (in-batch) and event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventsStreaming.closedSessions(events,
        gapMs = 1800000L, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("closed_out").start()
    // batch 1: user 7 has an INTRA-batch gap > 30 min, splitting the batch
    // into two sessions (00:00-00:10, 2 events; and 01:30). There is no
    // in-batch emission path: batch 1 still sees the PREVIOUS watermark
    // (0), so nothing can be final during the batch itself — both closed
    // sessions below are emitted by the armed event-time timeout when the
    // trailing no-data micro-batch observes the advanced watermark (01:30).
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), 7L, "click", 2.0, "{}"),
      (2L, ts("2024-01-01 00:10:00"), 7L, "click", 3.0, "{}"),
      (3L, ts("2024-01-01 01:30:00"), 7L, "view", 1.0, "{}"),
      (4L, ts("2024-01-01 00:05:00"), 8L, "view", 4.0, "{}"))
    q.processAllAvailable()
    // both closed sessions arrive via the timeout path: the watermark
    // after batch 1 (01:30) passed each session's end + gap (00:40, 00:35)
    val afterBatch1 = spark.table("closed_out")
      .as[EventsStreaming.ClosedSession].collect().toSet
    assert(afterBatch1 == Set(
      EventsStreaming.ClosedSession(
        7L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2L, 5.0),
      EventsStreaming.ClosedSession(
        8L, ts("2024-01-01 00:05:00"), ts("2024-01-01 00:05:00"), 1L, 4.0)))
    // batch 2 advances the watermark far past every open session's
    // end + gap; batch 3 (any data) lets the armed timeouts fire.
    input.addData((5L, ts("2024-01-01 06:00:00"), 9L, "click", 1.0, "{}"))
    q.processAllAvailable()
    input.addData((6L, ts("2024-01-01 06:05:00"), 9L, "click", 1.0, "{}"))
    q.processAllAvailable(); q.stop()
    val bySession = spark.table("closed_out")
      .as[EventsStreaming.ClosedSession].collect()
      .map(c => (c.userId, c.startTs) -> ((c.endTs, c.nEvents, c.total))).toMap
    // 7's first (in-batch gap), 7's second + 8's (timeouts); user 9's
    // session is still open — whole sessions only, never partial rows
    assert(bySession.size == 3, s"got: $bySession")
    assert(bySession((7L, ts("2024-01-01 00:00:00"))) ==
      ((ts("2024-01-01 00:10:00"), 2L, 5.0)))
    assert(bySession((7L, ts("2024-01-01 01:30:00"))) ==
      ((ts("2024-01-01 01:30:00"), 1L, 1.0)))
    assert(bySession((8L, ts("2024-01-01 00:05:00"))) ==
      ((ts("2024-01-01 00:05:00"), 1L, 4.0)))
  }

  test("closedSessions: a within-watermark late event bridges a held gap into ONE session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Option[Double], String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventsStreaming.closedSessions(events,
        gapMs = 1800000L, watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("bridge_out").start()
    // batch 1: a 50-min in-batch gap — but with a 1 h watermark delay the
    // early session is NOT final yet and must not be emitted
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), 7L, "click", Some(1.0), "{}"),
      (2L, ts("2024-01-01 00:50:00"), 7L, "click", Some(2.0), "{}"))
    q.processAllAvailable()
    assert(spark.table("bridge_out").isEmpty,
      "a gap-closed session leaked before the watermark made it final")
    // batch 2: a late NULL-value event at 00:20 bridges the gap — both
    // held sessions must concatenate (null extends, contributes 0)
    input.addData((3L, ts("2024-01-01 00:20:00"), 7L, "view", None, "{}"))
    q.processAllAvailable()
    // batch 3: advance the watermark past 00:50 + gap; the single merged
    // session becomes final
    input.addData((4L, ts("2024-01-01 02:30:00"), 9L, "click", Some(1.0), "{}"))
    q.processAllAvailable(); q.stop()
    val u7 = spark.table("bridge_out")
      .as[EventsStreaming.ClosedSession].collect().filter(_.userId == 7L)
    assert(u7.toSeq == Seq(EventsStreaming.ClosedSession(
      7L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:50:00"), 3L, 3.0)))
  }

  test("stateful userSessions accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventsStreaming.userSessions(events)
      .writeStream.outputMode("update")
      .format("memory").queryName("sessions_out").start()
    input.addData((1L, ts("2024-01-01 00:00:00"), 7L, "click", 2.0, "{}"))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 00:01:00"), 7L, "click", 3.0, "{}"),
      (3L, ts("2024-01-01 00:02:00"), 8L, "view", 1.0, "{}"))
    q.processAllAvailable(); q.stop()
    val last = spark.table("sessions_out")
      .groupBy("userId").agg(max("nEvents").as("n"), max("total").as("t"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(last(7L) == ((2L, 5.0)))
    assert(last(8L) == ((1L, 1.0)))
  }

  test("streamingDedup drops content duplicates across micro-batches, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventsStreaming.streamingDedup(events, "props",
        watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    // batch 1: two distinct payloads + one in-batch duplicate
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), 7L, "doc", 1.0, "payload-A"),
      (2L, ts("2024-01-01 00:00:30"), 7L, "doc", 1.0, "payload-B"),
      (3L, ts("2024-01-01 00:01:00"), 8L, "doc", 1.0, "payload-A"))
    q.processAllAvailable()
    // batch 2: a cross-batch re-delivery within the watermark + a fresh one
    input.addData(
      (4L, ts("2024-01-01 00:02:00"), 9L, "doc", 1.0, "payload-B"),
      (5L, ts("2024-01-01 00:03:00"), 9L, "doc", 1.0, "payload-C"))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .as[Long].collect().toSet
    // The operator contract: exactly ONE of the same-batch payload-A
    // duplicates survives (dropDuplicatesWithinWatermark does not define
    // intra-batch order — which one wins is shuffle-layout-dependent),
    // the cross-batch payload-B re-delivery (4) is dropped, B's first
    // delivery (2) and the fresh payload-C (5) survive.
    assert(ids.intersect(Set(1L, 3L)).size == 1)
    assert(ids.contains(2L) && ids.contains(5L) && !ids.contains(4L))
    assert(ids.size == 3)
  }

  test("closedSessions exactness boundary: a row AT the watermark is late-dropped") {
    // The emission rule `lastTs + gap <= wm` is exact ONLY because Spark's
    // late-row predicate drops rows with ts <= watermark (inclusive): a
    // would-be bridging event for an emitted session needs ts <= lastTs +
    // gap <= wm, hence is dropped before reaching the function. This test
    // pins that engine boundary — if Spark ever relaxed the predicate to
    // strict <, a ts == wm event could split one logical session into two
    // emitted rows, and this pin would catch it before the operator lied.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventsStreaming.closedSessions(events, gapMs = 60000L,
        watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_boundary").start()
    input.addData((1L, ts("2024-01-01 02:00:00"), 99L, "x", 1.0, "{}"))
    q.processAllAvailable() // wm -> 02:00
    input.addData((2L, ts("2024-01-01 02:00:00"), 7L, "x", 1.0, "{}"))
    q.processAllAvailable() // exactly at the watermark: must be dropped
    input.addData((3L, ts("2024-01-01 05:00:00"), 99L, "x", 1.0, "{}"))
    q.processAllAvailable(); q.stop() // advance wm so survivors time out
    val users = spark.table("wm_boundary")
      .select("userId").as[Long].collect().toSet
    assert(users == Set(99L), s"ts == wm row was accepted: $users")
  }

  test("runningZScores: Welford state converges to the batch statistics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventsStreaming.runningZScores(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("zscores_out").start()
    // two keys, values fed across two micro-batches
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), 1L, "click", 10.0, "{}"),
      (2L, ts("2024-01-01 00:01:00"), 1L, "click", 20.0, "{}"),
      (3L, ts("2024-01-01 00:00:00"), 1L, "view", 5.0, "{}"))
    q.processAllAvailable()
    input.addData(
      (4L, ts("2024-01-01 00:02:00"), 1L, "click", 60.0, "{}"),
      (5L, ts("2024-01-01 00:01:00"), 1L, "view", 5.0, "{}"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("zscores_out")
      .as[EventsStreaming.ScoredEvent].collect()
    assert(rows.length == 5) // exactly one score per event, append-only
    // the LAST click has seen the full series: its z must equal the batch
    // z-score over {10, 20, 60} — (60 - 30) / stddev_samp = 30 / 26.4575
    val last = rows.filter(_.dim == "click").maxBy(_.nSeen)
    assert(last.eventId == 4L && last.nSeen == 3L)
    val batchZ = (60.0 - 30.0) / math.sqrt((400.0 + 100.0 + 900.0) / 2)
    assert(math.abs(last.z - batchZ) < 1e-12, s"${last.z} vs $batchZ")
    // constant series: std == 0 → z = 0 (the batch operator's guard)
    assert(rows.filter(_.dim == "view").forall(_.z == 0.0))
    // first event of a key can have no spread yet: z = 0 by the n<2 guard
    assert(rows.filter(r => r.dim == "click" && r.nSeen == 1L).head.z == 0.0)
  }

  test("foreachBatch reuses a batch transform per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    var seen = 0L
    val q = EventsStreaming.foreachBatchWriter(
        input.toDF().toDF("event_id", "value"),
        b => b.agg(count(lit(1)).as("n"), sum("value").as("s"))) {
        (out, _) => seen += out.collect().head.getAs[Long]("n")
      }.start()
    input.addData((1L, 1.0), (2L, 2.0)); q.processAllAvailable()
    input.addData((3L, 3.0)); q.processAllAvailable()
    q.stop()
    assert(seen == 3L)
  }

  test("stream-stream interval join pairs same-user events within the window") {
    val dir = stagedEventsDir
    val clicks = EventsStreaming.readEventsStream(spark, dir)
      .where(col("event_type") === "click")
    val purchases = EventsStreaming.readEventsStream(spark, dir)
      .where(col("event_type") === "purchase")
    val q = EventsStreaming.streamStreamJoin(clicks, purchases, within = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj_out")
    // batch equivalent over the same data
    val e = graft.Tables.events(spark, sfTest)
    val bl = e.where($"event_type" === "click")
      .select($"user_id", $"event_id".as("l_id"), $"ts".as("l_ts"))
    val br = e.where($"event_type" === "purchase")
      .select($"user_id".as("r_user"), $"event_id".as("r_id"), $"ts".as("r_ts"))
    val batch = bl.join(br, $"user_id" === $"r_user" &&
      $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("INTERVAL 1 hour"))
    assert(streamed.count() == batch.count())
    assert(streamed.count() > 0)
  }

  test("left-outer stream-stream join: matched == inner; nulls are the watermark-closed unmatched set") {
    val dir = stagedEventsDir
    def side(t: String) = EventsStreaming.readEventsStream(spark, dir)
      .where(col("event_type") === t)
    val q = EventsStreaming.streamStreamLeftJoin(
      side("click"), side("purchase"), within = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssloj_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssloj_out")
    val e = graft.Tables.events(spark, sfTest)
    val bl = e.where($"event_type" === "click")
      .select($"user_id", $"event_id".as("l_id"), $"ts".as("l_ts"))
    val br = e.where($"event_type" === "purchase")
      .select($"user_id".as("r_user"), $"event_id".as("r_id"), $"ts".as("r_ts"))
    val inner = bl.join(br, $"user_id" === $"r_user" &&
      $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("INTERVAL 1 hour"))
    // matched rows are exactly the inner join's
    assert(streamed.where($"r_id".isNotNull).count() == inner.count())
    // null rows: unmatched clicks whose window closed under the final
    // GLOBAL watermark min(max click, max purchase) − 2 h — each side's
    // watermark node sees only its own filtered stream
    val wm = e.agg(least(
      max(when($"event_type" === "click", $"ts")),
      max(when($"event_type" === "purchase", $"ts")))).collect()(0)
      .getTimestamp(0)
    val unmatched = bl.join(br, $"user_id" === $"r_user" &&
        $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("INTERVAL 1 hour"),
        "left_anti")
      .where($"l_ts" + expr("INTERVAL 1 hour") <
        lit(wm) - expr("INTERVAL 2 hours"))
    val gotNull = streamed.where($"r_id".isNull).select("l_id")
      .as[Long].collect().toSet
    val wantNull = unmatched.select("l_id").as[Long].collect().toSet
    assert(gotNull == wantNull && gotNull.nonEmpty)
  }

  test("raw zone write partitions by ingest week and prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("raw-zone").toString
    val e = graft.Tables.events(spark, sfTest)
    graft.sources.Sinks.writeRawZone(e, "ts", dir)
    val zone = spark.read.parquet(dir)
    assert(zone.count() == e.count())
    // partition pruning: a single-week filter reads one partition directory
    val oneWeek = zone.where($"ingest_week" === "2024-01-01")
    val scanned = oneWeek.queryExecution.executedPlan.toString
    assert(oneWeek.count() > 0 && oneWeek.count() < e.count())
    assert(!scanned.contains("PartitionFilters: []"),
      s"expected partition filters in:\n$scanned")
    // incremental semantics: rewriting ONE week must not truncate the rest
    // of the zone (dynamic partition overwrite, not the static default
    // that deletes every existing partition)
    val total = e.count()
    graft.sources.Sinks.writeRawZone(
      e.where($"ts" < org.apache.spark.sql.functions.lit("2024-01-08")),
      "ts", dir)
    assert(spark.read.parquet(dir).count() == total,
      "re-ingesting one window truncated other partitions")
  }

  test("multimodal: partition-batched decode produces typed metadata") {
    val media = Seq(
      (1L, "image/png", "fake-png-bytes".getBytes("UTF-8")),
      (2L, "video/mp4", "fake-mp4-bytes-longer".getBytes("UTF-8")),
      (3L, "image/png", null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "mime", "bytes")
    val meta = MultimodalOps.decodeMeta(media)
    assert(meta.schema == MultimodalOps.MetaSchema)
    val rows = meta.orderBy("media_id").collect()
    assert(rows(0).getAs[Long]("n_bytes") == 14L)
    assert(rows(2).isNullAt(rows(2).fieldIndex("n_bytes")))  // null bytes → null meta
    // deterministic: same bytes → same fake dims
    val again = MultimodalOps.decodeMeta(media).orderBy("media_id").collect()
    assert(rows.sameElements(again))
    // frame sampling generates one row per everyMs step
    val frames = MultimodalOps.frameSamplePlan(meta, everyMs = 1000L)
    val d0 = rows(1).getAs[Long]("duration_ms")
    assert(frames.where($"media_id" === 2L).count() == (d0 + 999) / 1000)
  }

  test("multimodal: framePerceptualPairs — identical windows pair at 0, far windows never") {
    // custom decoder pins duration so each media yields frames 0 and
    // 60000 (idx 0, 1); windows are 64-char slices of the text "pixels"
    val twoFrames: MultimodalOps.Decoder = _ => (16, 16, 120000L)
    val wA = "a" * 32 + "z" * 32   // half low / half high pixels
    val wB = "z" * 32 + "a" * 32   // complementary bit order: hamming 64
    val media = Seq(
      (1L, wA + wB),   // frames: (1,0)=wA, (1,60000)=wB
      (2L, wA + wA))   // frames: (2,0)=wA, (2,60000)=wA
      .toDF("media_id", "text")
      .select(col("media_id"), lit("text/plain").as("mime"),
        col("text").cast("binary").as("bytes"))
    val got = MultimodalOps.framePerceptualPairs(media, everyMs = 60000L,
      maxHamming = 3, decoder = twoFrames)
      .orderBy("media_a", "frame_a_ms", "media_b", "frame_b_ms")
      .as[(Long, Long, Long, Long, Int)].collect().toSeq
    // the three wA frames pair pairwise at hamming 0 (including the
    // same-media pair); wB pairs with nothing at radius 3
    assert(got === Seq(
      (1L, 0L, 2L, 0L, 0), (1L, 0L, 2L, 60000L, 0),
      (2L, 0L, 2L, 60000L, 0)))
    // non-ASCII media bytes fail LOUDLY: the character-sliced window and
    // the byte-hashing AHash64 kernel would disagree past 0x7F, so the
    // ASCII contract is enforced rather than silently fingerprinting
    // different pixels than the composed reference
    val nonAscii = Seq((1L, "é" * 64))
      .toDF("media_id", "text")
      .select(col("media_id"), lit("text/plain").as("mime"),
        col("text").cast("binary").as("bytes"))
    val e = intercept[Exception](
      MultimodalOps.framePerceptualPairs(nonAscii, everyMs = 60000L,
        maxHamming = 3, decoder = twoFrames).collect())
    assert(e.getMessage.contains("non-ASCII"), e.getMessage)
  }

  test("multimodal: resizePlan fits the box preserving aspect ratio, never upscales") {
    val meta = Seq(
      (1L, 512, 256),   // landscape 2:1 → halves into 256x256 box
      (2L, 100, 50),    // already fits → untouched (no upscale)
      (3L, 16, 4096))   // degenerate aspect → width floors at the 1px guard
      .toDF("media_id", "width", "height")
    val out = MultimodalOps.resizePlan(meta, maxW = 256, maxH = 256)
      .orderBy("media_id")
      .select("target_w", "target_h").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((256L, 128L), (100L, 50L), (1L, 256L)))
  }

  test("multimodal: partition-batched feature extraction yields bounded ARRAY<FLOAT>") {
    val media = Seq(
      (1L, "a b c".getBytes("UTF-8")),
      (2L, "a b c".getBytes("UTF-8")),          // same bytes → same features
      (3L, "different".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "bytes")
    val feats = MultimodalOps.extractFeatures(media, dim = 8)
    assert(feats.schema == MultimodalOps.FeatureSchema)
    val rows = feats.orderBy("media_id").collect()
    def vec(i: Int) = rows(i).getSeq[Float](1)
    assert(vec(0).length == 8)
    assert(vec(0) == vec(1))                      // deterministic
    assert(vec(0) != vec(2))                      // content-sensitive
    assert(rows(3).isNullAt(1))                   // null bytes → null features
    assert(rows.take(3).forall(_.getSeq[Float](1).forall(x => x >= 0f && x < 1f)))
    // the output feeds the ANN tier directly (ARRAY<FLOAT> embedding shape)
    val knn = graft.functions.Similarity.knnBrute(
      feats.limit(1).select($"media_id".as("vec_id"), $"features".as("embedding")),
      feats.where($"features".isNotNull)
        .select($"media_id".as("vec_id"), $"features".as("embedding")), k = 2)
    assert(knn.count() == 2)
  }

  test("stream_quality_psi: the deployed gate equals the batch monitor per stamp") {
    // The streaming drift gate's whole claim is "qualityDriftPsi per
    // micro-batch against the frozen reference" — so the drained loop's
    // table must equal computing the batch op directly on each
    // deterministic batch stamp. Catches double-appends, missed
    // refreshes, and reference drift inside the loop plumbing.
    val streamed = graft.SparkEntry.queries("stream_quality_psi")(
      spark, sfTest)
      .select("batch_id", "lang", "n_bins", "n_a", "n_b", "psi")
      .as[(Long, String, Long, Long, Long, Double)].collect().toSet
    val docs = graft.Tables.documents(spark, sfTest)
    val reference = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val direct = (0L until 3L).flatMap { bid =>
      graft.ops.CorpusOps.qualityDriftPsi(reference,
          docs.where(pmod(col("doc_id"), lit(10)) === 5
            && expr("(doc_id div 10) % 3") === bid),
          "text", "lang")
        .withColumn("batch_id", lit(bid))
        .select("batch_id", "lang", "n_bins", "n_a", "n_b", "psi")
        .as[(Long, String, Long, Long, Long, Double)].collect()
    }.toSet
    assert(streamed === direct)
    assert(streamed.nonEmpty)
  }

  test("stream_embed_psi: the deployed gate equals the batch monitor per stamp") {
    // Same claim as the quality gate, lifted to representation space:
    // the drained loop's table must equal embeddingDriftPsi computed
    // directly on each deterministic batch stamp against the frozen
    // vec_id%10==0 reference. Catches double-appends, missed refreshes,
    // and reference drift inside the loop plumbing.
    val streamed = graft.SparkEntry.queries("stream_embed_psi")(
      spark, sfTest)
      .select("batch_id", "p", "n_bins", "n_a", "n_b", "psi")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val emb = graft.Tables.embeddings(spark, sfTest)
    val reference = emb.where(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), col("embedding"))
    val direct = (0L until 3L).flatMap { bid =>
      graft.ops.EmbeddingOps.embeddingDriftPsi(reference,
          emb.where(pmod(col("vec_id"), lit(10)) === 5
            && expr("(vec_id div 10) % 3") === bid),
          "embedding", dims = 64, projections = 4, binWidth = 0.5)
        .withColumn("batch_id", lit(bid))
        .select("batch_id", "p", "n_bins", "n_a", "n_b", "psi")
        .as[(Long, Long, Long, Long, Long, Double)].collect()
    }.toSet
    assert(streamed === direct)
    assert(streamed.nonEmpty)
  }

  test("stream_bpe_encode: ingest-time tokenization equals the batch encode") {
    // The loop's claim is "bpeEncodeIds against the FROZEN model per
    // micro-batch" — the drained per-doc (count, id-checksum) rows must
    // equal the batch encode run on the same slice. Catches model
    // re-training inside the loop, id-table drift, and double-appends.
    val streamed = graft.SparkEntry.queries("stream_bpe_encode")(
      spark, sfTest)
      .as[(Long, Long, Long)].collect().toSet
    val slice = graft.Tables.documents(spark, sfTest)
      .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000
        && pmod(expr("doc_id div 10"), lit(2)) === 1)
    val model = graft.ops.CorpusOps.bpeTrain(
      graft.Tables.documents(spark, sfTest), "text", rounds = 64)
    val direct = graft.ops.CorpusOps.bpeEncodeIds(slice, "doc_id", "text",
      model)
      .select(col("doc_id"),
        size(col("token_ids")).cast("long").as("n_tokens"),
        aggregate(zip_with(col("token_ids"),
            sequence(lit(1L), size(col("token_ids")).cast("long")),
          (t, i) => t.cast("long") * i), lit(0L), (a, x) => a + x)
          .as("id_dot"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === direct)
    assert(streamed.nonEmpty)
  }

  test("stream_decontaminate: the deployed gate equals the batch decontaminate op") {
    // The loop's claim is "CorpusOps.decontaminate semantics against the
    // frozen eval-gram manifest" — the drained per-doc verdicts must
    // equal the batch op run on the same slice vs the same eval side.
    val streamed = graft.SparkEntry.queries("stream_decontaminate")(
      spark, sfTest)
      .select("doc_id", "n_shared_ngrams", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    val docs = graft.Tables.documents(spark, sfTest)
    val direct = graft.ops.CorpusOps.decontaminate(
      docs.where(pmod(col("doc_id"), lit(10)) === 1
        && col("doc_id") < 10000
        && pmod(expr("doc_id div 10"), lit(2)) === 1),
      docs.where(pmod(col("doc_id"), lit(10)) === 7),
      "doc_id", "text", n = 8)
      .select("doc_id", "n_shared_ngrams", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(streamed === direct)
    assert(streamed.nonEmpty)
  }

  test("pair-emitting stream loops equal their batch siblings and leave no working table") {
    // Each streaming loop's union of read-back pairs and per-batch
    // emissions must be the batch-incremental answer over the same
    // persisted state: a missed refresh, a batch probing its own rows or
    // a double append would show as a missing or extra pair.
    val q = graft.SparkEntry.queries
    def rows(name: String, cols: Seq[String]) =
      q(name)(spark, sfTest).select(cols.map(col): _*).collect().toSet
    for ((stream, batch) <- Seq(
        "stream_neardup_incremental" -> "incremental_neardup_persisted",
        "stream_simhash_incremental" -> "incremental_simhash_persisted",
        "stream_frame_incremental" -> "incremental_frame_neardup",
        "stream_winnow_incremental" -> "incremental_winnow_persisted",
        "stream_cdc_incremental" -> "incremental_cdc_persisted")) {
      val streamed = q(stream)(spark, sfTest)
      val cols = streamed.columns.toSeq
      val got = streamed.collect().toSet
      assert(got === rows(batch, cols), s"$stream vs $batch")
      assert(got.nonEmpty, s"$stream emitted no pairs")
    }
    // the cosine loop grades itself: every contract column is true
    val cos = q("stream_cosine_incremental")(spark, sfTest)
    val flags = cos.columns.filter(c => cos.schema(c).dataType ==
      org.apache.spark.sql.types.BooleanType)
    assert(flags.toSet === Set("stream_equals_full", "recall_ok",
      "precision_ok"))
    cos.collect().foreach(r => flags.foreach(c =>
      assert(r.getAs[Boolean](c), s"stream_cosine_incremental: $c")))
    val left = spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_stream_") && !t.isTemporary)
      .map(_.name)
    assert(left.isEmpty, s"working tables left behind: ${left.mkString(", ")}")
  }

  test("multimodal: metadata-only byte length never touches the decoder") {
    val media = Seq((1L, "image/png", "abc".getBytes("UTF-8")))
      .toDF("media_id", "mime", "bytes")
    val n = MultimodalOps.withByteLength(media).select("n_bytes")
      .as[Long].collect().head
    assert(n == 3L)
  }

  test("multimodal: frameDedup groups shared windows, skips past-the-end frames") {
    // fixed 2.5 s duration -> frames at 0/1000/2000 ms; 4-byte windows.
    // Media 1 and 2 share their first two windows (the "shared intro");
    // media 3 is too short for frame 2, whose empty window must NOT hash.
    val media = Seq(
      (1L, "video/fake", "AAAABBBBCCCC".getBytes("UTF-8")),
      (2L, "video/fake", "AAAABBBBZZZZ".getBytes("UTF-8")),
      (3L, "video/fake", "AAAAXXXX".getBytes("UTF-8")))
      .toDF("media_id", "mime", "bytes")
    val got = MultimodalOps.frameDedup(media, everyMs = 1000L,
      frameBytes = 4, decoder = _ => (16, 16, 2500L))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
      .map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1)
    // "BBBB" in media 1,2 (keeper = media 1's frame 1000); "AAAA" in all
    // three (keeper = media 1's frame 0); singletons omitted
    assert(got === Seq((2L, 2L, 1L, 1000L), (3L, 3L, 1L, 0L)))
    intercept[IllegalArgumentException](
      MultimodalOps.frameDedup(media, everyMs = 1000L, frameBytes = 0))
  }
}
