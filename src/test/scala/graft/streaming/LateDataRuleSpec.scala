package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Pins the LATE-DATA drop rule q87's oracle encodes: a watermarked
  * windowed aggregation drops an out-of-order row iff its WINDOW END is
  * <= the current watermark — NOT iff its event time is behind the
  * watermark. A row landing inside the watermark's own (still-open) hour
  * window is accepted even though its timestamp is "late". Spark keys the
  * late-row predicate on the aggregation's event-time column, which after
  * window() is the window struct, so the comparison is against window.end
  * (observed empirically; this spec fails if an upgrade changes the rule,
  * which would silently shift q87's oracle).
  */
class LateDataRuleSpec extends SparkSpec {
  import spark.implicits._

  test("windowed agg drops a late row iff its window end <= watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.windowedRollup(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", "event_type", "value", "1 hour", "10 seconds")
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-laterule").toString
    val q = out.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/rollup")
      .start()
    // instants, not Timestamp.valueOf: valueOf parses in the JVM default
    // zone while the assertions render in the session's UTC — the spec
    // must not depend on a UTC-defaulted host
    def t(h: Int, m: Int) =
      Timestamp.from(java.time.Instant.parse(f"2024-01-01T$h%02d:$m%02d:00Z"))
    try {
      // batch 1: events at 01:10 and 03:50 → watermark after batch = 03:49:50
      input.addData((t(1, 10), "a", 1.0), (t(3, 50), "a", 1.0))
      q.processAllAvailable()
      // batch 2, both rows out of order vs watermark 03:49:50:
      //  (02:10) window [02:00,03:00): end <= wm AND ts < wm → dropped either way
      //  (03:10) window [03:00,04:00): end >  wm BUT ts < wm → the
      //          discriminating row: kept under the window-end rule
      input.addData((t(2, 10), "b", 1.0), (t(3, 10), "b", 1.0))
      q.processAllAvailable()
      // two sentinel advances flush every real window
      input.addData((Timestamp.from(java.time.Instant.parse("2024-01-02T12:00:00Z")), "s", 0.0))
      q.processAllAvailable()
      input.addData((Timestamp.from(java.time.Instant.parse("2024-01-02T13:00:00Z")), "s", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/rollup")
      .where($"event_type" =!= "s")
      .select($"window_start".cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(
      ("2024-01-01 01:00:00", "a", 1L),
      ("2024-01-01 03:00:00", "a", 1L),
      ("2024-01-01 03:00:00", "b", 1L))) // 02:10 dropped, 03:10 accepted
  }

  test("window_end == watermark exactly: the late row is dropped (<=, not <)") {
    // The strict-vs-equal edge q87's µs-random fixture cannot construct:
    // park the watermark EXACTLY on an hour boundary (max ts hh:00:10.000
    // minus the 10 s delay) and deliver a late row whose window ends
    // exactly there.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = StreamOps.windowedRollup(
      input.toDF().toDF("ts", "event_type", "value"),
      "ts", "event_type", "value", "1 hour", "10 seconds")
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-lateeq").toString
    val q = out.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/rollup")
      .start()
    def t(s: String) = Timestamp.from(java.time.Instant.parse(s))
    try {
      // watermark after batch 1 = 05:00:10.000 - 10 s = 05:00:00.000
      input.addData((t("2024-01-01T05:00:10.000Z"), "a", 1.0))
      q.processAllAvailable()
      // late rows against wm 05:00:00.000:
      //  eq:   [04:00,05:00) — window end == wm → the edge under test
      //  open: [05:00,06:00) — window end >  wm → kept (control)
      input.addData((t("2024-01-01T04:30:00Z"), "eq", 1.0),
        (t("2024-01-01T05:00:00Z"), "open", 1.0))
      q.processAllAvailable()
      input.addData((t("2024-01-02T12:00:00Z"), "s", 0.0))
      q.processAllAvailable()
      input.addData((t("2024-01-02T13:00:00Z"), "s", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/rollup")
      .where($"event_type" =!= "s")
      .select($"window_start".cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(
      ("2024-01-01 05:00:00", "a", 1L),
      ("2024-01-01 05:00:00", "open", 1L))) // "eq" dropped at exact equality
  }

  test("fMGWS (sessionize) drops a late row iff ts <= watermark (== is dropped)") {
    // The stateful-op half of the contract: flatMapGroupsWithState filters
    // late INPUT rows on the raw event-time column (no window struct), and
    // the filter is NON-strict — a row exactly at the watermark is dropped
    // (observed empirically; same <=-shape as the windowed rule above,
    // applied to ts instead of window end). q93's oracle encodes exactly
    // this. Pinned with ms-aligned timestamps sitting exactly on, just
    // under, and just over the watermark.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val out = StreamOps.sessionize(input.toDS(), gapSeconds = 60,
      watermarkDelay = "10 seconds")
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-latefmgws").toString
    val q = out.toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/sessions")
      .start()
    def t(s: String) = Timestamp.from(java.time.Instant.parse(s))
    try {
      // watermark after batch 1 = 05:00:10.000 - 10 s = 05:00:00.000
      input.addData(StreamOps.Event(1L, t("2024-01-01T05:00:10.000Z"), 1.0))
      q.processAllAvailable()
      // user 2, all three rows in one late batch against wm 05:00:00.000:
      //  04:59:59.999 < wm → dropped; 05:00:00.000 == wm → dropped;
      //  05:00:01 > wm → kept  ⇒ one session [05:00:01, 05:00:01], n=1
      input.addData(
        StreamOps.Event(2L, t("2024-01-01T04:59:59.999Z"), 1.0),
        StreamOps.Event(2L, t("2024-01-01T05:00:00.000Z"), 1.0),
        StreamOps.Event(2L, t("2024-01-01T05:00:01.000Z"), 1.0))
      q.processAllAvailable()
      input.addData(StreamOps.Event(-1L, t("2024-01-02T12:00:00Z"), 0.0))
      q.processAllAvailable()
      input.addData(StreamOps.Event(-1L, t("2024-01-02T13:00:00Z"), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/sessions")
      .where($"user_id" >= 0)
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(rows == Set(
      (1L, "2024-01-01 05:00:10", "2024-01-01 05:00:10", 1L),
      (2L, "2024-01-01 05:00:01", "2024-01-01 05:00:01", 1L)))
  }

  test("dropDuplicatesWithinWatermark drops a late row iff ts <= watermark") {
    // Third op class, same probe shape: streaming dedup's late filter is
    // on the raw event-time column and NON-strict like fMGWS's — a row
    // exactly at the watermark is dropped (observed empirically). q98's
    // oracle encodes this.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.dedupByIdWithinWatermark(
      input.toDF().toDF("event_id", "ts", "value"), "ts", "event_id", "1 hour")
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-latededup").toString
    val q = out.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/deduped")
      .start()
    def t(s: String) = Timestamp.from(java.time.Instant.parse(s))
    try {
      // watermark after batch 1 = 06:00:00.000 - 1 h = 05:00:00.000
      input.addData((1L, t("2024-01-01T06:00:00.000Z"), 1.0))
      q.processAllAvailable()
      // fresh ids against wm 05:00:00.000: under, exactly on, over
      input.addData(
        (2L, t("2024-01-01T04:59:59.999Z"), 1.0),
        (3L, t("2024-01-01T05:00:00.000Z"), 1.0),
        (4L, t("2024-01-01T05:00:01.000Z"), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.read.parquet(s"$dir/deduped")
      .select($"event_id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L)) // 2 (< wm) and 3 (== wm) dropped
  }

  test("stream-stream interval join drops a late input row iff ts <= watermark") {
    // Fourth op class: the symmetric hash join filters late INPUT rows per
    // side on the raw event-time column with the same NON-strict rule as
    // fMGWS/dedup — a row exactly at the watermark is dropped (observed
    // empirically). q99's oracle encodes this. Eviction strictness can
    // never reach the oracle: an ACCEPTED late click (ts > wm) only
    // matches views with l.ts > wm - horizon, strictly inside the kept
    // state region.
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamOps.intervalJoinStream(
      vIn.toDF().toDF("event_id", "user_id", "ts"),
      cIn.toDF().toDF("event_id", "user_id", "ts"),
      "user_id", "ts", horizonSeconds = 1800, watermarkDelay = "10 seconds")
      .select(org.apache.spark.sql.functions.col("r.event_id").as("click_id"))
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-latejoin").toString
    val q = out.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/pairs")
      .start()
    def t(s: String) = Timestamp.from(java.time.Instant.parse(s))
    try {
      // batch 1: user 1's view plus one sentinel per side (users 90/91
      // have no counterpart, so the sentinels pair with nothing) —
      // BOTH sides' watermark columns reach 05:00:10, so the global
      // (min) watermark after the batch is 05:00:00.000
      vIn.addData((10L, 1L, t("2024-01-01T04:45:00Z")),
        (90L, 90L, t("2024-01-01T05:00:10Z")))
      cIn.addData((91L, 91L, t("2024-01-01T05:00:10Z")))
      q.processAllAvailable()
      // batch 2: three late clicks for user 1, all inside the view's
      // (04:45, 05:15] horizon — under, exactly on, and over the watermark
      cIn.addData(
        (2L, 1L, t("2024-01-01T04:59:59.999Z")),
        (3L, 1L, t("2024-01-01T05:00:00.000Z")),
        (4L, 1L, t("2024-01-01T05:00:01.000Z")))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.read.parquet(s"$dir/pairs")
      .select($"click_id").as[Long].collect().toSet
    assert(ids == Set(4L)) // 2 (< wm) and 3 (== wm) dropped
  }

  test("funnel's emit-once monotonicity: a late stage event never rewrites a reached stage") {
    // funnelStream carries NO watermark (NoTimeout state), so late rows
    // always reach the machine — the contract is MONOTONE emissions: a
    // late click at 02:00 arriving after the funnel already reached
    // click via 03:00 is ignored (batch would pick 02:00 — the
    // documented emit-once divergence, StreamOps.funnelStream scaladoc).
    // q97 sidesteps the divergence by withholding only per-user LATEST
    // events; this spec pins the divergence itself.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.FunnelEvent]
    val out = StreamOps.funnelStream(input.toDS(), Seq("view", "click", "purchase"))
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-latefunnel").toString
    val q = out.toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/hits")
      .start()
    def t(s: String) = Timestamp.from(java.time.Instant.parse(s))
    try {
      input.addData(
        StreamOps.FunnelEvent(1L, t("2024-01-01T01:00:00Z"), "view"),
        StreamOps.FunnelEvent(1L, t("2024-01-01T03:00:00Z"), "click"))
      q.processAllAvailable()
      // late click BEFORE the reached click time: ignored, not rewritten;
      // a purchase after the ORIGINAL click time still advances
      input.addData(
        StreamOps.FunnelEvent(1L, t("2024-01-01T02:00:00Z"), "click"),
        StreamOps.FunnelEvent(1L, t("2024-01-01T03:30:00Z"), "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$dir/hits")
      .select($"funnel_stage", $"ts".cast("string"))
      .as[(String, String)].collect().toSet
    assert(rows == Set(
      ("view", "2024-01-01 01:00:00"),
      ("click", "2024-01-01 03:00:00"),       // NOT rewritten to 02:00
      ("purchase", "2024-01-01 03:30:00")))   // counted: > reached click
  }
}
