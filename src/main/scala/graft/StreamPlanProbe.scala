package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan evidence for the r13 streaming-gate shuffle-width change: runs
  * each StreamOps operator class once per shuffle width and dumps the
  * LAST EXECUTED micro-batch plan (the one carrying StateStore* nodes
  * and the stateful Exchange hashpartitioning width — the thing
  * `.explain("formatted")` on a gate's returned batch read-back can
  * never show). Usage: runMain graft.StreamPlanProbe <parts> <outDir>.
  * The r13 artifacts pair <parts>=32 (pre-change session width) with
  * <parts>=4 (the r13 streaming-gate default width).
  */
object StreamPlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: StreamPlanProbe <shuffleParts> <outDir>")
    val (parts, outDir) = (args(0), args(1))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = SparkSession.builder().appName("streamplan").master("local[8]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def rows(n: Int) = (1 to n).map(i => (i.toLong, (i % 7).toLong, ts(i * 60L), i * 1.0))

    /** Run one micro-batch feed and dump the last executed plan. */
    def dump(name: String)(mk: () => (org.apache.spark.sql.streaming.DataStreamWriter[_],
                                      () => Unit)): Unit = {
      val (writer, feed) = mk()
      val ckpt = java.nio.file.Files.createTempDirectory(s"probe-$name").toString
      val q = writer.option("checkpointLocation", s"$ckpt/ckpt")
        .format("noop").start()
      try { feed(); q.processAllAvailable() } finally q.stop()
      // q.explain() prints the LAST EXECUTED micro-batch's physical plan
      // — the one carrying StateStoreSave/StreamingSymmetricHashJoin and
      // the stateful Exchange hashpartitioning width
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { q.explain() }
      val exec = buf.toString("UTF-8")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}.txt"),
        (s"=== $name @ spark.sql.shuffle.partitions=$parts ===\n" + exec).getBytes("UTF-8"))
      println(s"[probe] wrote $outDir/$name.txt")
    }

    // stream-stream interval join (q84/q99; q115 = left_outer twin)
    dump("q84_stream_interval_join") { () =>
      val l = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp)]
      val r = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp)]
      val joined = graft.streaming.StreamOps.intervalJoinStream(
        l.toDF().toDF("event_id", "user_id", "ts"),
        r.toDF().toDF("event_id", "user_id", "ts"),
        "user_id", "ts", horizonSeconds = 1800, watermarkDelay = "10 seconds")
      (joined.writeStream.outputMode("append"), () => {
        l.addData(rows(60).map(t => (t._1, t._2, t._3)): _*)
        r.addData(rows(60).map(t => (t._1 + 1000, t._2, t._3)): _*)
      })
    }

    // watermarked tumbling-window rollup (q81/q87)
    dump("q81_stream_rollup") { () =>
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
      val out = graft.streaming.StreamOps.windowedRollup(
        in.toDF().toDF("event_id", "user_id", "ts", "value"),
        "ts", "user_id", "value", "1 hour", "10 seconds")
      (out.writeStream.outputMode("append"),
        () => in.addData(rows(60): _*))
    }

    // flatMapGroupsWithState sessionize (q80/q93/q94)
    dump("q80_stream_sessionize") { () =>
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.StreamOps.Event]
      val out = graft.streaming.StreamOps.sessionize(in.toDS(), gapSeconds = 600)
      (out.toDF().writeStream.outputMode("append"),
        () => in.addData(rows(60).map(t =>
          graft.streaming.StreamOps.Event(t._2, t._3, t._4)): _*))
    }

    // dropDuplicatesWithinWatermark (q82/q98)
    dump("q82_stream_dedup") { () =>
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
      val out = graft.streaming.StreamOps.dedupByIdWithinWatermark(
        in.toDF().toDF("event_id", "ts", "user_id", "value"), "ts", "event_id", "1 hour")
      (out.writeStream.outputMode("append"),
        () => in.addData(rows(60).map(t => (t._1, t._3, t._2, t._4)): _*))
    }

    spark.stop()
  }
}
