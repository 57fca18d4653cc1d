package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, SparkSession}

class DailyUpdateSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("full daily chain runs end-to-end and is idempotent") {
    val out = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-daily").toString
    val counts = DailyUpdate.run(spark, "/root/testdata/sf0.001", out)
    val expectNonEmpty = DailyUpdate.stages.map(_._1).toSet
    expectNonEmpty.foreach { t =>
      assert(counts.getOrElse(t, 0L) > 0L, s"table $t should be non-empty")
    }
    // second run: incremental fact load sees no new rows; derived tables
    // overwrite in place; counts identical
    val counts2 = DailyUpdate.run(spark, "/root/testdata/sf0.001", out)
    assert(counts2 == counts)
  }

  test("first_acquisition's day-2 run is genuinely incremental: a planted state-only row survives (q144 branch pin)") {
    // the q144 gate hash-matches the incremental output against the full
    // rebuild — which by design CANNOT tell the branches apart. This pin
    // can: a bogus row planted into day-1 state (its key in no events
    // table) SURVIVES an incremental day 2 (state passes through the
    // anti-join union) but a silent fall-back to rebuild would erase it.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables(spark, sf).events
    // µs-safe midpoint split, the q86/q144 fixture shape
    val mm = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val split = new java.sql.Timestamp(
      (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
    val root = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-incpin")
    ev.where(col("ts") <= lit(split)).write.parquet(s"$root/day1/events.parquet")
    ev.write.parquet(s"$root/day2/events.parquet")
    val out = s"$root/out"
    val stage = DailyUpdate.stages.filter(_._1 == "first_acquisition")
    val r1 = DailyUpdate.run(spark, s"$root/day1", out, stage)
    assert(r1("first_acquisition") > 0L)
    // plant the sentinel: a key no events row can produce
    Seq((-999L, "__planted", -1L, split))
      .toDF("user_id", "event_type", "first_event_id", "first_ts")
      .write.mode("append").parquet(s"$out/first_acquisition")
    val r2 = DailyUpdate.run(spark, s"$root/day2", out, stage)
    val fin = spark.read.parquet(s"$out/first_acquisition")
    assert(fin.where(col("user_id") === -999L).count() == 1L,
      "planted state row erased — day 2 silently fell back to the rebuild")
    // and apart from the sentinel, the output IS the rebuild
    val rebuilt = graft.operators.Dedup.firstByKey(ev,
        Seq("user_id", "event_type"), "ts", "event_id")
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("ts").as("first_ts"))
      .as[(Long, String, Long, java.sql.Timestamp)].collect().toSet
    val got = fin.where(col("user_id") =!= -999L)
      .as[(Long, String, Long, java.sql.Timestamp)].collect().toSet
    assert(got == rebuilt, "incremental output diverged from the rebuild")
    assert(r2("first_acquisition") == rebuilt.size + 1L) // rebuild + sentinel
  }

  test("a first_acquisition state stranded mid-replace is restored before day 2 reads it") {
    // the q144 planted-row fixture, then a crash between replaceTable's
    // two renames: the live state is gone, the whole of it sits at the
    // old path. Read as absent, day 2 would rebuild and erase the row.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = graft.sources.Tables(spark, sf).events
    val mm = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val split = new java.sql.Timestamp(
      (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
    val root = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-stranded")
    ev.where(col("ts") <= lit(split)).write.parquet(s"$root/day1/events.parquet")
    ev.write.parquet(s"$root/day2/events.parquet")
    val out = s"$root/out"
    val state = s"$out/first_acquisition"
    val stage = DailyUpdate.stages.filter(_._1 == "first_acquisition")
    DailyUpdate.run(spark, s"$root/day1", out, stage)
    Seq((-999L, "__planted", -1L, split))
      .toDF("user_id", "event_type", "first_event_id", "first_ts")
      .write.mode("append").parquet(state)
    val stranded = Paths.get(Formats.oldPath(state))
    Files.move(Paths.get(state), stranded)
    DailyUpdate.run(spark, s"$root/day2", out, stage)
    assert(spark.read.parquet(state).where(col("user_id") === -999L).count() == 1L,
      "planted state row erased — day 2 did not restore the stranded state")
    assert(!Files.exists(stranded))
  }

  test("an unreadable fact table fails the run with an error naming its path") {
    val out = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-corrupt").toString
    val stage = DailyUpdate.stages.filter(_._1 == "first_acquisition")
    DailyUpdate.run(spark, sf, out, stage)
    // a non-parquet file named to sort first, so it is the file the
    // read's schema inference opens
    val facts = Paths.get(s"$out/fact_events_clean")
    val firstDay = {
      val days = Files.list(facts)
      try days.filter(_.getFileName.toString.startsWith("d=")).sorted.findFirst.get
      finally days.close()
    }
    Files.writeString(firstDay.resolve("0-not-parquet.parquet"), "not parquet")
    val err = intercept[Exception](DailyUpdate.run(spark, sf, out, stage))
    assert(err.getMessage.contains(facts.toString), err.getMessage)
  }

  test("a failing stage cancels its siblings' jobs before run rethrows") {
    import org.apache.spark.sql.functions._
    val boom = new IllegalStateException("injected stage failure")
    // 4 tasks of 200 rows × 25 ms: about 5 s if nothing cancels it
    val nap = udf((x: Long) => { Thread.sleep(25); x })
    val stages = Seq[(String, (SparkSession, String) => DataFrame)](
      "failing" -> { (_, _) => Thread.sleep(1000); throw boom },
      "slow" -> { (s, _) => s.range(0, 800, 1, 4).select(nap(col("id")).as("x")) })
    val out = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-cancel")
    val thrown = intercept[IllegalStateException] {
      DailyUpdate.run(spark, "/root/testdata/sf0.001", out.toString, stages)
    }
    val thrownAt = System.nanoTime()
    assert(thrown eq boom)
    // cancellation reaches the status store asynchronously: allow it 2 s,
    // well inside the slow stage's 5 s
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 2000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(tracker.getActiveJobIds.isEmpty, "a sibling stage's job outlived run")
    // the slow stage was about 1 s in when run threw: uncancelled, it
    // would commit about 4 s later
    Thread.sleep(math.max(0L, 6000L - (System.nanoTime() - thrownAt) / 1000000L))
    assert(!Files.exists(out.resolve("slow").resolve("_SUCCESS")),
      "the slow stage kept writing after run threw")
  }

  test("backfillDates recomputes only missing partitions, never present ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-backfill").toString + "/t"
    def frame(v: String) = Seq(
      ("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-03", 3L), ("2024-01-05", 5L)
    ).toDF("ds", "x").select(to_date($"ds").as("d"), $"x", lit(v).as("tag"))
    // seed the target with days 1 and 2 tagged "orig"
    graft.sources.Formats.writePartitioned(
      frame("orig").where($"d" < "2024-01-03"), target, Seq("d"))
    // backfill from a source tagged "fill": must add days 3 and 5 only
    val filled = DailyUpdate.backfillDates(spark, frame("fill"), "d", target)
    assert(filled.map(_.toString) == Seq("2024-01-03", "2024-01-05"))
    val byDay = spark.read.parquet(target).select($"d".cast("string"), $"tag")
      .as[(String, String)].collect().toMap
    assert(byDay == Map("2024-01-01" -> "orig", "2024-01-02" -> "orig",
      "2024-01-03" -> "fill", "2024-01-05" -> "fill"))
    // idempotent: nothing missing on re-run
    assert(DailyUpdate.backfillDates(spark, frame("again"), "d", target).isEmpty)
  }
}
