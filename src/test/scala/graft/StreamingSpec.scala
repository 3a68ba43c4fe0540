package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingSync

/** Structured Streaming layer: the foreachBatch CDC merge (C1 as
  * micro-batches), event-time windowed aggregation with watermark, and
  * keyed custom state (sessionization).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("foreachBatch merge stream: two micro-batches equal one batch merge (C1)") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tempDir("graft_stream_state").toString
    val ckpt = tempDir("graft_stream_ckpt").toString
    val input = MemoryStream[(Long, String, Double, Timestamp, Boolean)]
    val delta = input.toDF()
      .toDF("pk", "name", "amount", "modstamp", "is_deleted")

    val q = StreamingSync.mergeStream(delta, stateDir, "pk", "modstamp",
      Some("is_deleted"), Some(ckpt))
    try {
      input.addData(
        (1L, "a", 10.0, ts("2024-01-01 00:00:00"), false),
        (2L, "b", 20.0, ts("2024-01-01 00:00:00"), false))
      q.processAllAvailable()
      input.addData(
        (2L, "b2", 25.0, ts("2024-01-02 00:00:00"), false),  // update
        (1L, "a", 10.0, ts("2024-01-02 00:00:00"), true),    // delete
        (3L, "c", 30.0, ts("2024-01-02 00:00:00"), false))   // insert
      q.processAllAvailable()
    } finally q.stop()

    val state = StreamingSync.currentState(spark, stateDir).get
      .select("pk", "name", "amount").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(state == Seq((2L, "b2", 25.0), (3L, "c", 30.0)))
  }

  test("mvMaintainStream: per-batch partials converge to the batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = tempDir("graft_mv_state").toString
    val ckpt = tempDir("graft_mv_ckpt").toString
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingSync.mvMaintainStream(events, stateDir, Some(ckpt))
    try {
      input.addData(
        (1L, ts("2024-01-01 09:00:00"), "a", 1.25),
        (2L, ts("2024-01-02 09:00:00"), "b", 2.00))
      q.processAllAvailable()
      // second batch splits day 2024-01-01/'a' across batches AND
      // introduces a new group — both must merge, not overwrite
      input.addData(
        (3L, ts("2024-01-01 23:00:00"), "a", 0.75),
        (4L, ts("2024-01-03 09:00:00"), "a", 4.00))
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.operators.MergeOps.mvFinalize(
      StreamingSync.currentState(spark, stateDir).get)
      .select(col("event_type"), col("day").cast("string"), col("cnt"),
        col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("a", "2024-01-01", 2L, 2.0), ("b", "2024-01-02", 1L, 2.0),
      ("a", "2024-01-03", 1L, 4.0)))
    // the snapshot stays in exact-decimal partials shape across versions
    val snap = StreamingSync.currentState(spark, stateDir).get
    assert(snap.schema("sval").dataType ==
      org.apache.spark.sql.types.DecimalType(28, 2))
  }

  test("windowed counts with watermark over the events table shape") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val agg = StreamingSync.windowedCounts(events, "10 minutes", "5 minutes", "15 minutes")
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("win_counts").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:01:00"), "click", 1.0),
        (2L, ts("2024-01-01 00:02:00"), "click", 2.0),
        (3L, ts("2024-01-01 00:08:00"), "view", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_counts")
      .select("event_type", "n_events", "sum_value")
      .as[(String, Long, Double)].collect().toSet
    // clicks at 00:01/00:02 fall in windows [23:55,00:05) and [00:00,00:10)
    assert(rows.contains(("click", 2L, 3.0)))
    assert(rows.exists(_._1 == "view"))
  }

  test("windowedValueBins: per-window histogram state is bin-keyed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val agg = StreamingSync.windowedValueBins(
      events, "24 hours", "1 hour", binWidth = 10.0)
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("win_bins").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:01:00"), "click", 5.0),   // bin 0
        (2L, ts("2024-01-01 10:00:00"), "view", 7.0),    // bin 0
        (3L, ts("2024-01-01 12:00:00"), "click", 25.0),  // bin 2
        (4L, ts("2024-01-02 01:00:00"), "click", 15.0))  // next day, bin 1
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_bins")
      .select(date_format(col("window_start"), "MM-dd").as("d"),
        col("bin"), col("c"))
      .as[(String, Long, Long)].collect().toSet
    assert(rows == Set(("01-01", 0L, 2L), ("01-01", 2L, 1L),
      ("01-02", 1L, 1L)), rows)
  }

  test("dedupWithinWatermark drops re-deliveries across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("event_id", "ts", "event_type")
    val deduped = StreamingSync.dedupWithinWatermark(
      events, "ts", "1 hour", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 00:01:00"), "click"),
        (1L, ts("2024-01-01 00:01:00"), "click"),   // intra-batch dup
        (2L, ts("2024-01-01 00:02:00"), "view"))
      q.processAllAvailable()
      input.addData(
        (2L, ts("2024-01-01 00:05:00"), "view"),    // cross-batch dup
        (3L, ts("2024-01-01 00:06:00"), "click"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("clickPurchaseJoin: purchases attribute to in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Timestamp)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val joined = StreamingSync.clickPurchaseJoin(events, maxLagSeconds = 600L)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("cp_join").start()
    try {
      input.addData(
        (1L, 7L, "click", ts("2024-01-01 10:00:00")),
        (2L, 7L, "purchase", ts("2024-01-01 10:05:00")), // within 10 min → match
        (3L, 7L, "purchase", ts("2024-01-01 11:00:00")), // too late → no match
        (4L, 8L, "purchase", ts("2024-01-01 10:05:00")), // other user → no match
        (5L, 9L, "click", ts("2024-01-01 10:10:00")),
        (6L, 9L, "purchase", ts("2024-01-01 10:09:00"))) // before click → no match
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cp_join")
      .select("click_id", "purchase_id", "user_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 7L)))
  }

  test("streamIndexLookup joins arriving docs against the static fingerprint index") {
    implicit val sqlCtx = spark.sqlContext
    val index = Seq((10L, "Hello,  World!"), (11L, "other corpus doc"))
      .toDF("index_id", "text")
      .selectExpr(
        "md5(array_join(regexp_extract_all(lower(text), '[a-z0-9]+', 0), ' ')) AS fp",
        "index_id")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val hits = StreamingSync.streamIndexLookup(docs, index)
    val q = hits.writeStream.outputMode("append").format("memory")
      .queryName("idx_hits").start()
    try {
      input.addData(
        (1L, "hello world"),            // matches 10 despite case/punct variance
        (2L, "no such doc anywhere"))   // no index hit
      q.processAllAvailable()
      input.addData((3L, "OTHER corpus DOC"))  // canonicalizes to 11's fp
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("idx_hits")
      .select("doc_id", "index_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (3L, 11L)), s"got $got")
  }

  test("sessionizeEvicting: sessions emit once on close and state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    // gap 5 min, watermark delay 10 min
    val sessions = StreamingSync.sessionizeEvicting(spark, events,
      gapSeconds = 300L, watermarkDelay = "10 minutes")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sess_evict").start()
    def stateRows: Long = {
      val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
      if (ps.isEmpty) -1L else ps.last.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      // batch 1: two users, sessions still open (watermark at epoch)
      input.addData(
        (100L, ts("2024-01-01 10:00:00")),
        (100L, ts("2024-01-01 10:01:00")),
        (200L, ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      assert(spark.table("sess_evict").count() == 0,
        "open sessions must not emit")
      // batch 2: event far in the future advances the watermark to 11:50
      input.addData((300L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // batch 3: watermark (computed at the previous batch boundary) now
      // exceeds end+gap for users 100/200 → their sessions close; 300's
      // second event merges into its still-open session
      input.addData((300L, ts("2024-01-01 12:01:00")))
      q.processAllAvailable()

      val got = spark.table("sess_evict")
        .select("user_id", "n_events").as[(Long, Long)]
        .collect().sorted.toSeq
      assert(got == Seq((100L, 2L), (200L, 1L)),
        s"each closed session must emit exactly once, got $got")
      // closed sessions are EVICTED: only user 300's open session remains
      assert(stateRows == 1L, s"state must hold only open sessions, got $stateRows")

      // replay more traffic for an already-closed user: a NEW session
      // opens (no resurrection of evicted state, no re-emit of old ones)
      input.addData((100L, ts("2024-01-01 12:02:00")))
      q.processAllAvailable()
      assert(spark.table("sess_evict").count() == 2,
        "closed sessions must not re-emit on new traffic")
    } finally q.stop()
  }

  test("funnelEvicting: late earlier step-1 re-anchors; emit-once; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val events = input.toDF().toDF("user_id", "event_type", "ts")
    // horizon 1h, watermark delay 10 min (also the allowed lateness)
    val out = StreamingSync.funnelEvicting(spark, events,
      Seq("view", "click", "purchase"), horizonMs = 3600L * 1000,
      watermarkDelay = "10 minutes", allowedLatenessMs = 600L * 1000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_evict").start()
    def stateRows: Long = {
      val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
      if (ps.isEmpty) -1L else ps.last.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      // batch 1: user 1's click lands BEFORE its (late) view; user 2
      // views only; user 9's purchase has no view at all
      input.addData(
        (1L, "click", ts("2024-01-01 10:20:00")),
        (2L, "view", ts("2024-01-01 10:00:00")),
        (9L, "purchase", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // batch 2: the LATE view for user 1 re-anchors at 10:11 (just
      // inside the 10:10 watermark line) — the batch-1 click at 10:20
      // is now strictly after it and qualifies
      input.addData((1L, "view", ts("2024-01-01 10:11:00")))
      q.processAllAvailable()
      assert(spark.table("funnel_evict").count() == 0, "nothing closed yet")
      // far-future event pushes the watermark past every anchor+horizon+lateness
      input.addData((5L, "view", ts("2024-01-02 12:00:00")))
      q.processAllAvailable()
      input.addData((5L, "view", ts("2024-01-02 12:00:01")))
      q.processAllAvailable()
      val got = spark.table("funnel_evict").as[(Long, Int)].collect().sorted.toSeq
      // user 1: view+qualifying click = 2; user 2: view only = 1;
      // user 9: no step-1 -> absent
      assert(got == Seq((1L, 2), (2L, 1)), s"got $got")
      // only user 5's open funnel (and nothing for closed/stepless users)
      assert(stateRows == 1L, s"state must hold only open funnels, got $stateRows")
    } finally q.stop()
  }

  test("anomalyFlags: running 3-sigma flags, immediate emit, idle eviction") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "event_id", "ts", "value")
    val flags = StreamingSync.anomalyFlags(spark, events,
      watermarkDelay = "10 minutes", minPrev = 3,
      idleEvictDelayMs = 3600L * 1000)
    val q = flags.writeStream.outputMode("append").format("memory")
      .queryName("anomaly_sink").start()
    def stateRows: Long = {
      val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
      if (ps.isEmpty) -1L else ps.last.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      // user 1: stable baseline of 10.00s, then one wild outlier; the
      // first three events can't flag (n_prev < 3)
      input.addData(
        (1L, 1L, ts("2024-01-01 10:00:00"), 10.0),
        (1L, 2L, ts("2024-01-01 10:01:00"), 10.0),
        (1L, 3L, ts("2024-01-01 10:02:00"), 10.2),
        (1L, 4L, ts("2024-01-01 10:03:00"), 10.1),
        (1L, 5L, ts("2024-01-01 10:04:00"), 500.0))
      q.processAllAvailable()
      val got = spark.table("anomaly_sink")
        .select("event_id", "is_anomaly").as[(Long, Boolean)]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq(1L -> false, 2L -> false, 3L -> false,
        4L -> false, 5L -> true),
        s"immediate per-event flags expected, got $got")
      // cross-batch: the outlier is now IN the baseline, a merely-high
      // follow-up must compare against the polluted running stats
      input.addData((1L, 6L, ts("2024-01-01 10:05:00"), 11.0))
      q.processAllAvailable()
      assert(spark.table("anomaly_sink")
        .filter($"event_id" === 6L).select("is_anomaly").as[Boolean].head()
        == false)
      // idle eviction: a far-future row from another user pushes the
      // watermark past user 1's last activity + idle horizon
      input.addData((2L, 7L, ts("2024-01-02 12:00:00"), 1.0))
      q.processAllAvailable()
      input.addData((2L, 8L, ts("2024-01-02 12:01:00"), 1.0))
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"idle user 1 must be evicted, only user 2 remains, got $stateRows")
    } finally q.stop()
  }

  test("sessionization via keyed state: gap splits sessions") {
    val events = Seq(
      (100L, ts("2024-01-01 10:00:00")),
      (100L, ts("2024-01-01 10:00:30")),
      (100L, ts("2024-01-01 12:00:00")),   // > gap -> new session
      (200L, ts("2024-01-01 11:00:00"))
    ).toDF("user_id", "ts")
    val sessions = StreamingSync.sessionize(spark, events, gapSeconds = 300)
      .select("user_id", "n_events").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(sessions == Seq((100L, 1L), (100L, 2L), (200L, 1L)))
  }

  test("streaming stagings read directory-shaped parquet tables " +
    "(the 10x-staged-corpus shape the r13 stream probe tripped on)") {
    // the sf dirs ship each table as ONE parquet file, but a table
    // Spark writes itself is a DIRECTORY of part files — and the
    // streaming file source lists its srcDir non-recursively, so a
    // whole-directory symlink was silently skipped and the scaled
    // replay read only the flat side shard (state census 10x too
    // small). This drives the full registry queries over a
    // directory-shaped sf dir and pins that every row still arrives.
    val d = tempDir("graft_dirshaped")
    val events = spark.read.parquet(s"$sf0001/events.parquet")
    events.repartition(3).write.parquet(s"$d/events.parquet")
    val n = spark.read.parquet(s"$d/events.parquet").count()
    assert(n == events.count(), "staging fixture must preserve rows")
    // stream_dedup output = distinct event ids of events + dup shard
    // (the shard is a subset, so the expected count is exactly n)
    val deduped =
      withTmpDir(d)(SparkEntry.queries("stream_dedup")(spark, d.toString))
    assert(deduped.count() == n,
      "a directory-shaped events table must replay in full")
    // the sentinel staging (mtime-ordered: events parts BEFORE the
    // sentinel file) must also see every part — the hourly top-k over
    // a partial replay would drop whole windows
    val topk = withTmpDir(d)(SparkEntry.queries("stream_topk")(spark, d.toString))
    val fileShaped = SparkEntry.queries("stream_topk")(spark,
      sf0001) // same rows, single-file staging
    assert(topk.count() == fileShaped.count(),
      "directory-shaped sentinel replay must match the file-shaped one")
  }
}
