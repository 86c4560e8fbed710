package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.cdc.{CdcPipeline, GoldenFixtures, TableConfig}
import org.apache.spark.sql.functions._

/** The reference's operational model (S2 job bookmarks) driven through
  * Structured Streaming: files appear in the raw dir over time; each
  * AvailableNow pass consumes only the unseen ones.
  */
class CdcStreamSpec extends SparkSpec {

  lazy val fullLoad = GoldenFixtures.fullLoad(spark)
  lazy val cdcBatch = GoldenFixtures.cdcBatch(spark)
  lazy val cfg = TableConfig.fromFile(
    GoldenFixtures.controlFile).head

  test("bookmark semantics: two staged files, two incremental passes -> 190") {
    val raw = tmpDir("raw")
    val wh = tmpDir("wh")
    val ckpt = tmpDir("ckpt")
    val pipe = new CdcPipeline(spark, wh)
    val stream = new CdcStream(spark, pipe, ckpt)
    // The CDC file's schema is a superset (Op, transaction_id, db, ...);
    // use it as the stream schema — full-load files simply lack the CDC
    // columns, which the file source fills with nulls and the pipeline's
    // initial-load branch drops.
    val schema = spark.read.parquet(cdcBatch).schema

    // stage 1: only the full load file exists
    Files.copy(Paths.get(fullLoad), Paths.get(s"$raw/full.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    stream.runAvailableNow(cfg, raw, schema)
    assert(pipe.tableFor(cfg).snapshot().count() == 100)

    // stage 2: the CDC batch lands; ONLY it is consumed (bookmark)
    Files.copy(Paths.get(cdcBatch), Paths.get(s"$raw/cdc.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    stream.runAvailableNow(cfg, raw, schema)
    assert(pipe.tableFor(cfg).snapshot().count() == 190)

    // stage 3: nothing new -> no-op pass, state unchanged
    stream.runAvailableNow(cfg, raw, schema)
    assert(pipe.tableFor(cfg).snapshot().count() == 190)
  }

  test("maxFilesPerTrigger splits a backlog into bounded micro-batches") {
    val raw = tmpDir("raw-mft")
    val wh = tmpDir("wh-mft")
    val pipe = new CdcPipeline(spark, wh)
    val stream = new CdcStream(spark, pipe, tmpDir("ckpt-mft"))
    val schema = spark.read.parquet(cdcBatch).schema
    // both files staged BEFORE the first pass; 1 file per micro-batch.
    // The file source orders by modification time — pin it so the full
    // load is consumed first (as it would be in a real DMS layout).
    Files.copy(Paths.get(fullLoad), Paths.get(s"$raw/full.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(cdcBatch), Paths.get(s"$raw/z_cdc.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(Paths.get(s"$raw/full.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    Files.setLastModifiedTime(Paths.get(s"$raw/z_cdc.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(1000000001000L))
    stream.runAvailableNow(cfg, raw, schema, maxFilesPerTrigger = Some(1))
    // AvailableNow drains the whole backlog in bounded batches: the full
    // load applies first (lexical file order), then the CDC batch -> 190
    assert(pipe.tableFor(cfg).snapshot().count() == 190)
    // the full load and the CDC file were separate micro-batches: a
    // bulk_insert version, then the incremental batch's own version(s)
    // (one micro-batch holding both files would leave only a bulk_insert)
    val ops = pipe.tableFor(cfg).history().orderBy("version")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.length >= 2 && ops.head == "bulk_insert" &&
      !ops.tail.contains("bulk_insert"),
      s"two micro-batches must have produced separate commits: $ops")
  }

  test("streaming bookmark ingestion into a MOR table reaches 190 in _rt") {
    val raw = tmpDir("raw-mor")
    val wh = tmpDir("wh-mor-stream")
    val mor = cfg.copy(storageType = "mor")
    val pipe = new CdcPipeline(spark, wh)
    val stream = new CdcStream(spark, pipe, tmpDir("ckpt-mor"))
    val schema = spark.read.parquet(cdcBatch).schema

    Files.copy(Paths.get(fullLoad), Paths.get(s"$raw/full.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    stream.runAvailableNow(mor, raw, schema)
    Files.copy(Paths.get(cdcBatch), Paths.get(s"$raw/cdc.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    stream.runAvailableNow(mor, raw, schema)

    val table = pipe.tableFor(mor).asInstanceOf[graft.table.MorTable]
    assert(table.realtime().count() == 190)
    assert(table.readOptimized().count() == 100,
      "incremental stream batches must be log appends, not base rewrites")
    assert(table.manifest.deltaCommits > 0)
  }

  test("watermarked tumbling window over a file stream") {
    val dir = tmpDir("events")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.queries.QueryCatalog.normalizeEventsTs)
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    StreamOps.runToMemory(
      StreamOps.hourlyWindowAgg(stream), "hourly_test", "append")
    val got = spark.table("hourly_test")
    // append mode emits only watermark-closed windows; with a bounded input
    // the final watermark closes all but the last hour
    assert(got.count() > 0)
    val batch = StreamOps.hourlyWindowAgg(ev).count()
    assert(got.count() <= batch && got.count() >= batch - 5)
  }

  test("stateful latest-per-key carries state across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("stateful")
    def ev(id: Long, uid: Long, t: String, v: Double) =
      KeyedEvent(uid, id, java.sql.Timestamp.valueOf(t), v)
    // batch 1 — append to the dir ROOT (nested dirs are invisible to the
    // file-stream source without recursiveFileLookup)
    Seq(ev(1, 7, "2024-01-01 10:00:00", 1.0),
        ev(2, 7, "2024-01-01 11:00:00", 2.0),
        ev(3, 9, "2024-01-01 10:30:00", 9.0))
      .toDF().write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[KeyedEvent]
    val out = StatefulOps.latestPerKeyStateful(stream)
    // one long-lived query: state carries across its micro-batches
    val q = out.writeStream.format("memory").queryName("stateful_test")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    q.processAllAvailable() // micro-batch 1
    // batch 2: older event for 7 must be ignored, newer for 9 must win
    Seq(ev(4, 7, "2024-01-01 09:00:00", 0.5),
        ev(5, 9, "2024-01-01 12:00:00", 10.0))
      .toDF().write.mode("append").parquet(dir)
    q.processAllAvailable() // micro-batch 2
    q.stop()
    val fin = spark.table("stateful_test")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct($"event_id", $"value", $"updates"),
        $"updates").as("s"))
      .select($"user_id", $"s.event_id", $"s.value", $"s.updates")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(fin(7L) == ((2L, 2.0, 3L)), s"older event must not win: $fin")
    assert(fin(9L) == ((5L, 10.0, 2L)), s"newer event must win: $fin")
  }

  test("flatMapGroupsWithState sessionizer: inline close + event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("sessionizer")
    def ev(id: Long, uid: Long, t: String, v: Double) =
      KeyedEvent(uid, id, java.sql.Timestamp.valueOf(t), v)
    // batch 1: user 7 has two sessions separated by > 30min — the second
    // run must close the first INLINE within the same micro-batch.
    Seq(ev(1, 7, "2024-01-01 10:00:00", 1.0),
        ev(2, 7, "2024-01-01 10:10:00", 2.0),
        ev(3, 7, "2024-01-01 12:00:00", 4.0),
        ev(4, 9, "2024-01-01 10:00:00", 9.0))
      .toDF().write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "10 seconds").as[KeyedEvent]
    val out = StatefulOps.sessionizeStateful(stream, gapMs = 30 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    q.processAllAvailable()
    // batch 2: a much-later event advances the watermark past BOTH keys'
    // open-session timeouts (12:30 for 7, 10:30 for 9) -> timeout closes.
    Seq(ev(5, 11, "2024-01-01 15:00:00", 0.0))
      .toDF().write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.processAllAvailable() // extra no-data batch lets timeouts fire
    q.stop()
    val got = spark.table("sess_test")
      .select($"user_id", $"session_start".cast("string"),
        $"n_events", $"total_value")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.contains((7L, "2024-01-01 10:00:00", 2L, 3.0)),
      s"inline-closed first session of user 7 missing: $got")
    assert(got.contains((7L, "2024-01-01 12:00:00", 1L, 4.0)),
      s"timeout-closed second session of user 7 missing: $got")
    assert(got.contains((9L, "2024-01-01 10:00:00", 1L, 9.0)),
      s"timeout-closed session of user 9 missing: $got")
  }

  test("sessionizer folds cross-batch late events without moving session_end backward") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("sess_late")
    def ev(id: Long, uid: Long, t: String, v: Double) =
      KeyedEvent(uid, id, java.sql.Timestamp.valueOf(t), v)
    // batch 1: open session for user 7 spanning 10:00..10:20
    Seq(ev(1, 7, "2024-01-01 10:00:00", 1.0),
        ev(2, 7, "2024-01-01 10:20:00", 2.0))
      .toDF().write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "10 hours").as[KeyedEvent]
    val out = StatefulOps.sessionizeStateful(stream, gapMs = 30 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("sess_late_test")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    q.processAllAvailable()
    // batch 2: three LATE events for user 7 — 10:05 is inside the open
    // session (must merge, session_end must stay 10:20); 08:00 and 08:10
    // are beyond the merge range (8:40 < 10:00 start) and within gap of
    // EACH OTHER — batch session_window parity demands they close as ONE
    // earlier session [08:00,08:10] n=2, not two singletons
    Seq(ev(3, 7, "2024-01-01 10:05:00", 4.0),
        ev(4, 7, "2024-01-01 08:00:00", 8.0),
        ev(6, 7, "2024-01-01 08:10:00", 2.0))
      .toDF().write.mode("append").parquet(dir)
    q.processAllAvailable()
    // flush: sentinel far in the future closes user 7's session by timeout
    Seq(ev(5, 11, "2024-01-02 15:00:00", 0.0))
      .toDF().write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_late_test")
      .filter($"user_id" === 7L)
      .select($"session_start".cast("string"), $"session_end".cast("string"),
        $"n_events", $"total_value")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.contains(
      ("2024-01-01 10:00:00", "2024-01-01 10:20:00", 3L, 7.0)),
      s"late in-session event must merge without shrinking the session: $got")
    assert(got.contains(
      ("2024-01-01 08:00:00", "2024-01-01 08:10:00", 2L, 10.0)),
      s"too-old late events within gap must close as ONE session: $got")
    assert(got.size == 2, s"exactly two sessions expected for user 7: $got")
  }

  test("stateful sessionizer matches batch session_window on real events") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("sess_parity")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.queries.QueryCatalog.normalizeEventsTs)
      .select("user_id", "event_id", "ts", "value")
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
      .withWatermark("ts", "1 second").as[KeyedEvent]
    val out = StatefulOps.sessionizeStateful(stream, gapMs = 30 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("sess_parity")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    q.processAllAvailable()
    // flush: a sentinel event far past every real session advances the
    // watermark so every real session closes by timeout
    val flushTs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    Seq(KeyedEvent(-1L, -1L, flushTs, 0.0)).toDF()
      .select("user_id", "event_id", "ts", "value")
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    // value sums fold in different orders -> compare rounded to 6 digits
    val got = spark.table("sess_parity")
      .filter($"user_id" >= 0)
      .select($"user_id", $"session_start", $"n_events",
        round($"total_value", 6).as("v"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    val batch = StreamOps.sessionWindowAgg(ev)
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n_events", round($"session_value", 6).as("v"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    assert(got == batch,
      s"streaming sessions must equal batch session_window: " +
        s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  test("stream-stream interval join with watermarks matches batch result") {
    import spark.implicits._
    val lDir = tmpDir("ij-left"); val rDir = tmpDir("ij-right")
    def df(rows: Seq[(Long, String, Double)]) = rows
      .map { case (u, t, v) =>
        (u, java.sql.Timestamp.valueOf(t), v) }
      .toDF("user_id", "ts", "value")
    // clicks (left) and purchases (right): pair each click with purchases
    // of the same user within [click - 10 min, click + 5 min]
    val clicks = df(Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 12:00:00", 2.0),
      (2L, "2024-01-01 10:00:00", 3.0)))
    val purchases = df(Seq(
      (1L, "2024-01-01 09:55:00", 10.0),  // within 10min before click 1
      (1L, "2024-01-01 10:04:00", 20.0),  // within 5min after click 1
      (1L, "2024-01-01 11:00:00", 30.0),  // matches neither click
      (2L, "2024-01-01 10:30:00", 40.0))) // outside both bounds
    clicks.write.mode("overwrite").parquet(lDir)
    purchases.write.mode("overwrite").parquet(rDir)

    val expected = Set((1L, 1.0, 10.0), (1L, 1.0, 20.0))
    val batch = StreamOps.intervalJoin(
        clicks, purchases.withColumnRenamed("value", "r_value"),
        "user_id", "10 minutes", "5 minutes")
      .select("user_id", "value", "r_value")
      .as[(Long, Double, Double)].collect().toSet
    assert(batch == expected)

    val ls = spark.readStream.schema(clicks.schema).parquet(lDir)
      .withWatermark("ts", "1 hour")
    val rs = spark.readStream.schema(purchases.schema).parquet(rDir)
      .withColumnRenamed("value", "r_value")
      .withWatermark("ts", "1 hour")
    StreamOps.runToMemory(
      StreamOps.intervalJoin(ls, rs, "user_id", "10 minutes", "5 minutes")
        .select("user_id", "value", "r_value"),
      "ij_test", "append")
    val streamed = spark.table("ij_test")
      .as[(Long, Double, Double)].collect().toSet
    assert(streamed == expected)
  }

  test("stream-stream LEFT OUTER interval join emits unmatched after watermark") {
    import spark.implicits._
    val lDir = tmpDir("oj-left"); val rDir = tmpDir("oj-right")
    def df(rows: Seq[(Long, String, Double)]) = rows
      .map { case (u, t, v) => (u, java.sql.Timestamp.valueOf(t), v) }
      .toDF("user_id", "ts", "value")
    // the GLOBAL watermark is the MIN over both inputs, so BOTH sides
    // need a late sentinel: without one on the left, the left stream's
    // own max event time caps the watermark below every click's interval
    // bound and no outer row could ever flush
    val clicks = df(Seq(
      (1L, "2024-01-01 10:00:00", 1.0),   // matched
      (2L, "2024-01-01 10:00:00", 2.0),   // NO purchase: outer row
      (3L, "2024-01-01 10:05:00", 3.0),   // purchase outside interval: outer
      (8L, "2024-01-01 18:00:00", 0.0)))  // left sentinel (stays open)
    val purchases = df(Seq(
      (1L, "2024-01-01 10:02:00", 10.0),
      (3L, "2024-01-01 11:00:00", 30.0),
      (9L, "2024-01-01 18:00:00", 0.0)))  // right sentinel
    clicks.write.mode("overwrite").parquet(lDir)
    purchases.write.mode("overwrite").parquet(rDir)

    val expected = Set(
      (1L, 1.0, Some(10.0)), (2L, 2.0, None), (3L, 3.0, None))
    val batch = StreamOps.intervalJoin(
        clicks, purchases.withColumnRenamed("value", "r_value"),
        "user_id", "10 minutes", "5 minutes", "left_outer")
      .select("user_id", "value", "r_value")
      .as[(Long, Double, Option[Double])].collect().toSet
    // batch emits every unmatched left row immediately, sentinel included
    assert(batch == expected + ((8L, 0.0, None)))

    val ls = spark.readStream.schema(clicks.schema).parquet(lDir)
      .withWatermark("ts", "1 minute")
    val rs = spark.readStream.schema(purchases.schema).parquet(rDir)
      .withColumnRenamed("value", "r_value")
      .withWatermark("ts", "1 minute")
    StreamOps.runToMemory(
      StreamOps.intervalJoin(ls, rs, "user_id", "10 minutes", "5 minutes",
        "left_outer").select("user_id", "value", "r_value"),
      "oj_test", "append")
    // the left sentinel's own interval bound (18:05) sits past the final
    // watermark (17:59), so it legitimately stays in state — everything
    // whose bound the watermark DID pass must have flushed
    val streamed = spark.table("oj_test")
      .as[(Long, Double, Option[Double])].collect().toSet
    assert(streamed == expected,
      s"outer rows must flush once the watermark passes their bound: " +
        s"missing=${expected -- streamed} extra=${streamed -- expected}")
  }

  test("dropDuplicatesWithinWatermark dedups a replayed file stream") {
    import spark.implicits._
    val dir = tmpDir("ddw")
    def ev(id: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(t), s"payload$id")
    // the same events delivered twice (at-least-once source semantics)
    val batch = Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"))
    (batch ++ batch).toDF("event_id", "ts", "payload")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    StreamOps.runToMemory(stream, "ddw_test", "append")
    val got = spark.table("ddw_test").select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L),
      "redelivered events inside the watermark must dedup to one row each")
  }

  test("firstSeenStateful admits each content hash once, ever") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("firstseen")
    // batch 1: two distinct contents, one intra-batch duplicate pair
    Seq(HashedDoc(10L, 111L), HashedDoc(11L, 111L), HashedDoc(12L, 222L))
      .toDF().write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir).as[HashedDoc]
    val out = StatefulOps.firstSeenStateful(stream)
    val q = out.writeStream.format("memory").queryName("firstseen_test")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    q.processAllAvailable()
    // batch 2: a LATE duplicate of 111 (must stay suppressed — no
    // watermark horizon to age past) and one genuinely new content
    Seq(HashedDoc(13L, 111L), HashedDoc(14L, 333L))
      .toDF().write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("firstseen_test")
      .as[FirstSeen].collect().map(f => f.content_hash -> f.doc_id).toMap
    assert(got == Map(111L -> 10L, 222L -> 12L, 333L -> 14L),
      "each hash admitted exactly once, smallest doc_id wins in-batch")
  }

  test("watermarked STREAMING session windows match the batch result") {
    val dir = tmpDir("sess-stream")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.queries.QueryCatalog.normalizeEventsTs)
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    StreamOps.runToMemory(
      StreamOps.sessionWindowAgg(stream), "sess_stream_test", "append")
    val got = spark.table("sess_stream_test")
    val batch = StreamOps.sessionWindowAgg(ev)
    // append mode emits only watermark-closed sessions; a bounded input's
    // final watermark closes all but the trailing ones
    assert(got.count() > 0 && got.count() <= batch.count())
    // every emitted session must exist in the batch result. session_value
    // is deliberately NOT an equality key: it is a raw double sum, and the
    // state-store merge vs hash-agg merge can associate the additions in
    // different orders (the dec2/money lesson) — identity + count identify
    // the session; values are compared with tolerance below.
    val keys = Seq("session_window", "user_id", "n_events")
    assert(got.join(batch, keys, "left_anti").isEmpty,
      "streamed sessions must match batch sessions")
    import spark.implicits._
    val maxDelta = got.as("s")
      .join(batch.as("b"), keys)
      .select(abs($"s.session_value" - $"b.session_value"))
      .as[Double].collect().maxOption.getOrElse(0.0)
    assert(maxDelta < 1e-6, s"session values diverged by $maxDelta")
  }

  test("session windows via native session_window in batch mode") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.queries.QueryCatalog.normalizeEventsTs)
    val sessions = StreamOps.sessionWindowAgg(ev)
    assert(sessions.count() > 0)
    // per-user session event counts must sum to total events
    import spark.implicits._
    val total = sessions.agg(sum("n_events")).as[Long].collect()(0)
    assert(total == ev.count())
  }
}
