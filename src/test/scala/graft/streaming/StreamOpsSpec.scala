package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedRollup aggregates per tumbling window with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.windowedRollup(df, "ts", "user_id", "value", "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("rollup").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), 1L, 5.0),
        (ts("2024-01-01 10:35:00"), 1L, 7.0),
        (ts("2024-01-01 11:05:00"), 1L, 1.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window so it emits in Append mode
      input.addData((ts("2024-01-01 13:00:00"), 2L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("rollup")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 2L, 12.0))) // the closed 10:00-11:00 window
    } finally q.stop()
  }

  test("sessionize closes a session when the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(input.toDS(), gapSeconds = 60, watermarkDelay = "0 seconds")
      .writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamOps.Event(1L, ts("2024-01-01 10:00:00"), 2.0),
        StreamOps.Event(1L, ts("2024-01-01 10:00:30"), 3.0))
      q.processAllAvailable()
      // a much-later event advances the watermark past 10:01:30 → user 1's
      // session times out on the following batch
      input.addData(StreamOps.Event(2L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      input.addData(StreamOps.Event(2L, ts("2024-01-01 12:00:10"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 2L, 5.0)))
    } finally q.stop()
  }

  test("in-batch gap split closes the earlier session immediately") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionize(input.toDS(), gapSeconds = 60).writeStream
      .format("memory").queryName("sessions2").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamOps.Event(5L, ts("2024-01-01 10:00:00"), 1.0),
        StreamOps.Event(5L, ts("2024-01-01 10:00:30"), 1.0),
        StreamOps.Event(5L, ts("2024-01-01 11:00:00"), 9.0)) // >60s gap → closes first
      q.processAllAvailable()
      val rows = spark.table("sessions2")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((5L, 2L, 2.0)))
    } finally q.stop()
  }

  test("sessionize keeps pre-1970 event times exact to the microsecond") {
    // a stream's watermark starts at the epoch and drops earlier events as
    // late, so the update function meets pre-1970 times over a batch Dataset
    def at(ms: Long, nanos: Int) = { val t = new Timestamp(ms); t.setNanos(nanos); t }
    val (first, second) = (at(-1750, 250123000), at(-1250, 750456000))
    val events = Seq(StreamOps.Event(9L, second, 2.0), StreamOps.Event(9L, first, 1.0),
      StreamOps.Event(9L, at(100000, 0), 4.0)).toDS() // >60s gap → closes the first two
    val rows = StreamOps.sessionize(events, gapSeconds = 60)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
    assert(rows == Seq((9L, first, second, 2L)))
  }

  test("enrichStream joins streaming facts against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val facts = input.toDF().toDF("uid", "value")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val q = StreamOps.enrichStream(facts, dim, "uid", "uid", Seq("tier"))
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, 5.0), (3L, 7.0)) // 3 has no dim row → left join null
      q.processAllAvailable()
      val rows = spark.table("enriched").select("uid", "value", "tier")
        .as[(Long, Double, Option[String])].collect().toSet
      assert(rows == Set((1L, 5.0, Some("gold")), (3L, 7.0, None)))
    } finally q.stop()
  }

  test("intervalJoinStream pairs events within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val sells = MemoryStream[(Long, Timestamp, Double)]
    val l = buys.toDF().toDF("uid", "ts", "buy_price")
    val r = sells.toDF().toDF("uid", "ts", "sell_price")
    val q = StreamOps.intervalJoinStream(l, r, "uid", "ts",
        horizonSeconds = 3600, watermarkDelay = "0 seconds")
      .select(col("l.uid"), col("buy_price"), col("sell_price"))
      .writeStream.format("memory").queryName("matched").outputMode(OutputMode.Append).start()
    try {
      buys.addData((1L, ts("2024-01-01 10:00:00"), 100.0))
      sells.addData(
        (1L, ts("2024-01-01 10:30:00"), 150.0), // inside horizon
        (1L, ts("2024-01-01 12:30:00"), 999.0), // outside horizon
        (2L, ts("2024-01-01 10:10:00"), 50.0))  // wrong key
      q.processAllAvailable()
      val rows = spark.table("matched").as[(Long, Double, Double)].collect().toSet
      assert(rows == Set((1L, 100.0, 150.0)))
    } finally q.stop()
  }

  test("funnelStream emits each stage once, strictly ordered, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = input.toDS()
      .map { case (u, t, e) => StreamOps.FunnelEvent(u, t, e) }
    val q = StreamOps.funnelStream(events, Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel").outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 views; user 2 clicks without viewing (no hit)
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "view"),
        (2L, ts("2024-01-01 10:00:00"), "click"))
      q.processAllAvailable()
      // batch 2: user 1 clicks then purchases (both advance, in-batch
      // event-time order); a second click must not re-emit; user 2's
      // view NOW starts their funnel
      input.addData(
        (1L, ts("2024-01-01 11:00:00"), "click"),
        (1L, ts("2024-01-01 11:30:00"), "click"),
        (1L, ts("2024-01-01 12:00:00"), "purchase"),
        (2L, ts("2024-01-01 11:00:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel")
        .select("user_id", "funnel_stage", "stage_order")
        .as[(Long, String, Int)].collect().toSet
      assert(rows == Set(
        (1L, "view", 1), (1L, "click", 2), (1L, "purchase", 3),
        (2L, "view", 1)))
    } finally q.stop()
  }

  test("upsertSink merges micro-batches into a parquet snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-upsert").toString
    val target = s"$dir/snapshot"
    val input = MemoryStream[(Long, Double)]
    val updates = input.toDF().toDF("uid", "worth")
    val q = StreamOps.upsertSink(updates, target, "uid",
      Map("worth" -> "worth"), s"$dir/ckpt")
    try {
      input.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      input.addData((2L, 99.0), (3L, 30.0)) // update 2, insert 3
      q.processAllAvailable()
      val rows = spark.read.parquet(target).select("id", "worth")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    } finally q.stop()
  }

  test("upsertSink recovers a snapshot stranded at .old by a mid-swap crash") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-upsert-crash").toString
    val target = s"$dir/snapshot"
    val input = MemoryStream[(Long, Double)]
    val updates = input.toDF().toDF("uid", "worth")
    val q = StreamOps.upsertSink(updates, target, "uid",
      Map("worth" -> "worth"), s"$dir/ckpt")
    try {
      input.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      // simulate a crash between the swap's two renames: the live
      // snapshot is gone, the full prior state is stranded at .old
      val fs = graft.sources.Formats.fileSystem(spark, target)
      val stranded = new org.apache.hadoop.fs.Path(graft.sources.Formats.oldPath(target))
      assert(fs.rename(new org.apache.hadoop.fs.Path(target), stranded))
      input.addData((3L, 30.0))
      q.processAllAvailable()
      // without recovery the batch would rebuild from itself: only row 3
      val rows = spark.read.parquet(target).select("id", "worth")
        .as[(Long, Double)].collect().toSet
      assert(rows == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
      assert(!fs.exists(stranded))
    } finally q.stop()
  }

  test("nearDupSink dedups each micro-batch against the accumulated corpus") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-neardup").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.nearDupSink(docs, "doc_id", "text",
      shingleN = 3, numSeeds = 12, rowsPerBand = 3,
      storeDir = s"$dir/store", checkpointDir = s"$dir/ckpt")
    try {
      input.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      // batch 2: doc 3 is a near-dup of batch-1 doc 1 (cross-batch), doc 4
      // is novel, doc 5 near-dups doc 4 (intra-batch)
      input.addData(
        (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (4L, "red orange yellow green blue indigo violet black white gray"),
        (5L, "red orange yellow green blue indigo violet black white silver"))
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$dir/store/pairs")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 3L)) && pairs.contains((4L, 5L)))
      assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 2L)))
      // band store accumulated every doc
      val bandIds = spark.read.parquet(s"$dir/store/bands")
        .select("id").distinct().as[Long].collect().toSet
      assert(bandIds == Set(1L, 2L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("nearDupSink builds its stored base with the written schema: no Spark job") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-neardup-base").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val rounds = Seq(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"), (2L, "one two three")),
      Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"), (4L, "")))
    val q = StreamOps.nearDupSink(docs, "doc_id", "text",
      shingleN = 3, numSeeds = 12, rowsPerBand = 3,
      storeDir = s"$dir/store", checkpointDir = s"$dir/ckpt")
    try rounds.foreach { r => input.addData(r: _*); q.processAllAvailable() }
    finally q.stop()
    // the schemas of the frames the sink writes, from a static twin
    val batch = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val bandsSchema = graft.operators.Similarity.minHashBandKeys(
      graft.operators.Similarity.shingleSets(batch, "doc_id", "text", 3), 12, 3).schema

    // jobs submitted from this thread under a job group, counted once a
    // later fence job has reached the (asynchronous) listener
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(s"$group-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-fence"), "fence job never reached the listener")
      groups.toArray.count(_ == group)
    }
    sc.addSparkListener(listener)
    try {
      var stored: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = None
      assert(jobsIn("neardup-base") {
        stored = StreamOps.nearDupBase(spark, s"$dir/store", 1L, batch.schema, bandsSchema)
      } == 0)
      // the listener does see the job an inferring read runs
      assert(jobsIn("neardup-infer")(spark.read.parquet(s"$dir/store/docs")) > 0)
      val (base, bands) = stored.get
      assert(base.columns.toSeq == Seq("doc_id", "text"))
      assert(bands.schema("batch_id").dataType == org.apache.spark.sql.types.LongType)
      // batch 1's base is batch 0 only
      assert(base.as[(Long, String)].collect().toMap == rounds.head.toMap)
      assert(bands.select("id").distinct().as[Long].collect().toSet == Set(1L, 2L))
    } finally sc.removeSparkListener(listener)
    assert(StreamOps.nearDupBase(spark, s"$dir/none", 0L, batch.schema, bandsSchema).isEmpty)
    val pairs = spark.read.parquet(s"$dir/store/pairs")
      .select("id_a", "id_b", "size_a", "size_b", "intersection", "jaccard")
      .as[graft.NearDupReference.Pair].collect().toSet
    assert(pairs == graft.NearDupReference.pairs(rounds.flatten) && pairs.nonEmpty)
  }

  test("left-outer interval join: null row only after the watermark proves no match") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamOps.intervalJoinStreamLeftOuter(
      vIn.toDF().toDF("event_id", "user_id", "ts"),
      cIn.toDF().toDF("event_id", "user_id", "ts"),
      "user_id", "ts", horizonSeconds = 60, watermarkDelay = "0 seconds")
      .select(col("l.event_id").as("view_id"), col("r.event_id").as("click_id"))
    val q = joined.writeStream.format("memory").queryName("loj")
      .outputMode(OutputMode.Append).start()
    try {
      def rows() = spark.table("loj").as[(Long, Option[Long])].collect().toSet
      // view 1 matches click 10; view 2 never converts
      vIn.addData((1L, 7L, ts("2024-01-01 10:00:00")), (2L, 8L, ts("2024-01-01 10:00:00")))
      cIn.addData((10L, 7L, ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      assert(rows() == Set((1L, Some(10L))),
        "no null row may emit while the horizon is still open")
      // advance BOTH watermarks past view 2's horizon, then run the
      // eviction batch (watermark updates take effect next batch)
      Seq("11:00:00", "12:00:00").foreach { t =>
        vIn.addData((-1L, -1L, ts(s"2024-01-01 $t")))
        cIn.addData((-2L, -1L, ts(s"2024-01-01 $t")))
        q.processAllAvailable()
      }
      assert(rows().contains((2L, None)), "evicted unmatched view must emit with nulls")
      assert(rows().count(_._1 == 2L) == 1, "exactly once")
      assert(rows().count(_._1 == 1L) == 1, "matched view must not re-emit on eviction")
    } finally q.stop()
  }

  test("statefulShuffleWidth derives from per-batch volume, floored at 2, capped at session") {
    // KB/MB-scale fixtures → the floor (2): the committed gate default
    assert(StreamOps.statefulShuffleWidth(2L << 20, sessionWidth = 32) == 2)
    assert(StreamOps.statefulShuffleWidth(0L, sessionWidth = 32) == 2)
    // real volume → ceil(bytes / 64 MB): 640 MB → 10 partitions
    assert(StreamOps.statefulShuffleWidth(640L << 20, sessionWidth = 32) == 10)
    // exact multiples don't round up an extra partition
    assert(StreamOps.statefulShuffleWidth(128L << 20, sessionWidth = 32) == 2)
    assert(StreamOps.statefulShuffleWidth((128L << 20) + 1, sessionWidth = 32) == 3)
    // capped at the session width; never below the floor even for tiny sessions
    assert(StreamOps.statefulShuffleWidth(100L << 30, sessionWidth = 32) == 32)
    assert(StreamOps.statefulShuffleWidth(2L << 20, sessionWidth = 1) == 2)
    // custom target partition size
    assert(StreamOps.statefulShuffleWidth(10L << 20, 32, targetPartitionBytes = 1L << 20) == 10)
    // no Long overflow or Int wrap at the extreme: the session width, not the floor
    assert(StreamOps.statefulShuffleWidth(Long.MaxValue, sessionWidth = 32) == 32)
    assert(StreamOps.statefulShuffleWidth(Long.MaxValue, 32, targetPartitionBytes = 1L) == 32)
    intercept[IllegalArgumentException](StreamOps.statefulShuffleWidth(-1L, sessionWidth = 32))
  }
}
