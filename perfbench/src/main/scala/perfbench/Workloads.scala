package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation: a day run, a query, or a micro-batch. */
final case class Op(kind: String, name: String, pass: Int, secs: Double, var ok: Boolean)

/** A workload: seeded inputs, a pass of operations the benchmark times,
  * and checks of every output a pass left behind (run after the timed
  * region). */
trait Workload {
  /** Cut this workload's inputs from the committed tables. */
  def prepare(): Unit
  /** Input rows and bytes one pass consumes. */
  def inputRows: Long
  def inputBytes: Long
  /** The untimed warm-up. */
  def warmup(t: Tracer): Unit
  /** False once the inputs for another pass are used up. */
  def more: Boolean = true
  /** Run one pass; `ops` receives each operation as it completes. */
  def pass(t: Tracer, n: Int, ops: mutable.Buffer[Op]): Unit
  /** Bytes and files of durable output pass `n` wrote ((0, 0) if none). */
  def output(n: Int): (Long, Long)
  /** Check every output of passes `ns`; failed checks mark their ops
    * failed and are returned as messages. */
  def check(ns: Seq[Int], ops: Seq[Op]): Seq[String]
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, data: Path, work: Path): Workload = name match {
    case "daily_etl" => new DailyEtl(spark, seed, data, work)
    case "stream_ingest" => new StreamIngest(spark, seed, data, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names: Seq[String] = Seq("daily_etl", "stream_ingest")

  /** Rows in every parquet file under `dir`, from the footers. */
  def parquetRows(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(Inputs.rowCount).sum
    finally s.close()
  }
}

/** The daily ETL on the committed tables. Day 1's input is the event log
  * cut after a seed-chosen day (22–26 of 30), day 2's one day later; the
  * other tables are unchanged. Set-up builds the day-1 state with
  * `DailyUpdate.run` (the base) and runs one untimed day-2 pass. Each pass
  * links a fresh copy of the base and times the incremental day-2 run on
  * it: gap check, fact delta append, incremental first-touch and every
  * derived stage. */
final class DailyEtl(spark: SparkSession, seed: Long, data: Path, work: Path) extends Workload {
  private val tables = graft.sources.Tables.names
  private val firstCut = 22 + new Random(seed).nextInt(5)
  private val dayDirs = (1 to 2).map(i => work.resolve(s"day$i"))
  private val base = work.resolve("base")
  private var rows, bytes = 0L
  private var baseCounts = Map.empty[String, Long]
  private val counts = mutable.Map.empty[Int, Map[String, Long]]
  private def out(n: Int) = work.resolve(s"out$n")

  def prepare(): Unit = {
    dayDirs.zipWithIndex.foreach { case (d, i) =>
      Inputs.dayPrefix(data, Inputs.EventStartUs + (firstCut + i) * Inputs.DayUs, d)
    }
    val (b, r) = Inputs.size(dayDirs.last, tables)
    bytes = b
    rows = r
  }
  def inputRows: Long = rows
  def inputBytes: Long = bytes

  /** The base is day 1's fact load and first-touch table: the only state a
    * day's run reads back (every other stage rebuilds its table from the
    * day's input alone), so the day-2 run does the same work on it as on a
    * full day-1 output. The untimed day-2 pass then runs every stage once. */
  def warmup(t: Tracer): Unit = {
    baseCounts = graft.pipeline.DailyUpdate.run(spark, dayDirs.head.toString, base.toString,
      graft.pipeline.DailyUpdate.stages.filter(_._1 == "first_acquisition"))
    pass(t, 0, mutable.Buffer.empty[Op])
  }

  def pass(t: Tracer, n: Int, ops: mutable.Buffer[Op]): Unit = {
    // the program replaces files rather than rewriting them, so links make the copy
    val s = Files.walk(base)
    try s.forEach { f =>
      val dst = out(n).resolve(base.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.createLink(dst, f)
    } finally s.close()
    val (res, secs) = t.span("op", "day2") {
      try Some(t.span("run", "DailyUpdate.run") {
        graft.pipeline.DailyUpdate.run(spark, dayDirs.last.toString, out(n).toString)
      }._1) catch { case e: Exception => Main.warn("day2 failed", e); None }
    }
    res.foreach(c => counts(n) = c)
    ops += Op("day", "day2", n, secs, res.isDefined)
    // traced only, after the run: the `queries` and `plans` layers, timed
    // on the day's own stages (DailyUpdate builds and plans them inside
    // its run, where the benchmark cannot time them)
    if (t.enabled) graft.pipeline.DailyUpdate.stages.foreach { case (name, build) =>
      val df = t.span("build", name)(build(spark, dayDirs.last.toString))._1
      t.span("plan", name)(t.planKb += df.queryExecution.executedPlan.toString.length / 1024.0)
    }
  }

  /** Only the files the day-2 run wrote: the linked base files are not its output. */
  def output(n: Int): (Long, Long) = Inputs.du(out(n), Inputs.written)

  def check(ns: Seq[Int], ops: Seq[Op]): Seq[String] = {
    val want = dayDirs.map(d => Oracle.cleanFacts(Inputs.events(Inputs.file(d, "events"))))
    val problems = mutable.Buffer.empty[String]
    if (!baseCounts.get("fact_events_clean").contains(want.head.rows.size.toLong))
      problems += s"day1: fact rows ${baseCounts.get("fact_events_clean")} != ${want.head.rows.size}"
    ns.foreach { n =>
      def fail(msg: String): Unit = {
        problems += s"pass $n day2: $msg"
        ops.filter(o => o.pass == n && o.name == "day2").foreach(_.ok = false)
      }
      counts.get(n) match {
        case None => fail("no result")
        case Some(c) =>
          if (!c.get("fact_events_clean").contains(want.last.rows.size.toLong))
            fail(s"fact rows ${c.get("fact_events_clean")} != ${want.last.rows.size}")
          // the same input must give the same stage counts on every pass
          if (counts.get(ns.head).exists(_ != c)) fail("stage counts differ between passes")
          val fact = Check.collect(spark.read.parquet(out(n).resolve("fact_events_clean").toString))
          Check.diff(fact, want.last).foreach(p => fail(s"fact table: $p"))
          graft.pipeline.DailyUpdate.stages.tail.foreach { case (stage, _) =>
            val onDisk = Workloads.parquetRows(out(n).resolve(stage))
            if (!c.get(stage).contains(onDisk)) fail(s"$stage returned ${c.get(stage)} rows, wrote $onDisk")
          }
      }
    }
    problems.toSeq
  }
}

/** A closed loop with one client into three long-running streams. The
  * documents, shuffled by the seed, and the event log, in time order and
  * cut at seed-jittered points, are split into `rounds` micro-batches.
  * Set-up starts `StreamOps.nearDupSink` (documents), `upsertSink`
  * (per-user latest value) and `sessionize` to a parquet sink, and feeds
  * rounds 0 and 1; each pass feeds the next round to the three sinks in turn,
  * the next input going in only after `processAllAvailable` returns.
  * After the timed region two far-future events flush the open sessions
  * and the streams stop. */
final class StreamIngest(spark: SparkSession, seed: Long, data: Path, work: Path) extends Workload {
  import spark.implicits._
  import graft.streaming.StreamOps
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  val rounds = 6
  val sinks: Seq[String] = Seq("neardup", "upsert", "sessionize")
  private val GapSeconds = 1800L
  private val root = work.resolve("stream")
  val storeDir: Path = root.resolve("store")
  private var docs: Seq[Seq[(Long, String)]] = Nil
  private var events: Seq[Seq[StreamOps.Event]] = Nil
  private var rows, bytes = 0L
  private val docIn = MemoryStream[(Long, String)]
  private val updIn = MemoryStream[(Long, Double)]
  private val evIn = MemoryStream[StreamOps.Event]
  private var started = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
  /** Sink -> run id of its stream. */
  var runIds = Map.empty[String, String]
  /** The recent progress reports of a sink's stream. */
  def progress(sink: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    started.zip(sinks).collect { case (q, `sink`) => q.recentProgress.toSeq }.flatten
  private var fed = 0
  private val written = mutable.Map.empty[Int, (Long, Long)]
  private def us(e: StreamOps.Event) = Inputs.us(e.ts)

  def prepare(): Unit = {
    val rnd = new Random(seed)
    val d = Inputs.documents(data)
    docs = rnd.shuffle(d).grouped((d.size + rounds - 1) / rounds).toSeq
    val ev = Inputs.events(Inputs.file(data, "events"))
      .map(e => StreamOps.Event(e.user, Inputs.microTs(e.tsUs), e.value))
      .sortBy(e => (us(e), e.user_id))
    // time-ordered chunks: event time must not run backwards across batches
    val cuts = (1 until rounds).map(i => i * ev.size / rounds + rnd.nextInt(ev.size / rounds / 4 + 1))
    events = (0 +: cuts :+ ev.size).sliding(2).map { case Seq(a, b) => ev.slice(a, b) }.toSeq
    rows = (d.size + ev.size) / rounds
    bytes = Seq("documents", "events").map(t => Files.size(Inputs.file(data, t))).sum / rounds
  }
  /** One round's share of the input. */
  def inputRows: Long = rows
  def inputBytes: Long = bytes
  override def more: Boolean = fed < rounds
  def output(n: Int): (Long, Long) = written.getOrElse(n, (0L, 0L))

  /** One row per user per batch: that batch's latest value. */
  private def upserts(b: Seq[StreamOps.Event]): Seq[(Long, Double)] =
    b.groupBy(_.user_id).map { case (u, es) => u -> es.maxBy(us).value }.toSeq.sortBy(_._1)

  def warmup(t: Tracer): Unit = {
    started = Seq(
      StreamOps.nearDupSink(docIn.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numSeeds = 12, rowsPerBand = 3,
        storeDir = storeDir.toString, checkpointDir = root.resolve("ckpt-nd").toString),
      StreamOps.upsertSink(updIn.toDF().toDF("uid", "worth"),
        root.resolve("snapshot").toString, "uid", Map("worth" -> "worth"),
        root.resolve("ckpt-up").toString),
      StreamOps.sessionize(evIn.toDS(), GapSeconds).toDF().writeStream
        .option("checkpointLocation", root.resolve("ckpt-se").toString)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("parquet").option("path", root.resolve("sessions").toString).start())
    runIds = sinks.zip(started.map(_.runId.toString)).toMap
    // two rounds: the second is the first to dedupe against a stored base
    (0 until 2).foreach(_ => pass(t, 0, mutable.Buffer.empty[Op]))
  }

  private def feed(t: Tracer, n: Int, i: Int, label: String, ops: mutable.Buffer[Op])(add: => Unit): Unit = {
    val ref = t.streamSpan.computeIfAbsent(runIds(sinks(i)),
      _ => new java.util.concurrent.atomic.AtomicReference[java.lang.Long]())
    val (ok, secs) = t.span("op", s"${sinks(i)}#$label") {
      try {
        t.span("batch", sinks(i)) {
          ref.set(t.current)
          add
          started(i).processAllAvailable()
        }
        true
      } catch { case e: Exception => Main.warn(s"${sinks(i)} batch $label failed", e); false }
    }
    ops += Op("batch", sinks(i), n, secs, ok)
  }

  def pass(t: Tracer, n: Int, ops: mutable.Buffer[Op]): Unit = {
    val before = Inputs.files(root)
    val r = fed
    feed(t, n, 0, r.toString, ops)(docIn.addData(docs(r): _*))
    feed(t, n, 1, r.toString, ops)(updIn.addData(upserts(events(r)): _*))
    feed(t, n, 2, r.toString, ops)(evIn.addData(events(r): _*))
    fed += 1
    written(n) = Inputs.du(root, f => !before.contains(f))
  }

  /** Flushes the sessions and stops the streams, then checks each sink's
    * output against its batch equivalent over the rounds fed, computed on
    * the driver: near-dup pairs over those documents with the round that
    * completed each pair (q74), every user's latest value (q78), and the
    * gap split of each user's events (q80). */
  def check(ns: Seq[Int], ops: Seq[Op]): Seq[String] = {
    val ev = events.take(fed).flatten
    // the first far-future event moves the watermark past every gap
    // horizon, the second runs the timeouts
    val last = ev.map(us).max
    try Seq(0L, 1000000L).foreach { off =>
      evIn.addData(StreamOps.Event(-1L, Inputs.microTs(last + (GapSeconds + 3660L) * 1000000L + off), 0.0))
      started(2).processAllAvailable()
    } finally started.foreach(_.stop())

    val batchOf = docs.take(fed).zipWithIndex.flatMap { case (b, i) => b.map(_._1 -> i.toLong) }.toMap
    val wantPairs = Check.of(Oracle.PairCols :+ ("detected_batch" -> false),
      Oracle.minHashPairs(docs.take(fed).flatten).map { case (a, b, row) =>
        row :+ math.max(batchOf(a), batchOf(b)).toString
      })
    val wantSnapshot = Check.of(Seq("id" -> false, "worth" -> true),
      ev.groupBy(_.user_id).toSeq.map { case (u, es) => Seq(u.toString, es.maxBy(us).value) })
    val sessions = ev.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      val out = mutable.Buffer.empty[(Long, Long, Long, Double)]
      es.sortBy(us).foreach { e =>
        val t = us(e)
        out.lastOption match {
          case Some((s, end, k, v)) if t - end <= GapSeconds * 1000000L =>
            out(out.size - 1) = (s, t, k + 1, v + e.value)
          case _ => out += ((t, t, 1L, e.value))
        }
      }
      out.map { case (s, e, k, v) =>
        Seq(u.toString, Inputs.microTs(s).toString, Inputs.microTs(e).toString, k.toString, v)
      }
    }
    val wantSessions = Check.of(Seq("user_id" -> false, "session_start" -> false,
      "session_end" -> false, "n_events" -> false, "total_value" -> true), sessions)

    def cmp(sink: String, got: => DataFrame, want: Check.Table): Seq[String] = {
      val found = try Check.diff(Check.collect(got), want)
        catch { case e: Exception => Seq(s"unreadable: ${e.getMessage}") }
      if (found.nonEmpty) ops.filter(_.name == sink).foreach(_.ok = false)
      found.map(p => s"$sink: $p")
    }
    cmp("neardup", spark.read.parquet(storeDir.resolve("pairs").toString)
      .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"), col("intersection"),
        col("jaccard"), col("batch_id").cast("bigint").as("detected_batch")), wantPairs) ++
      cmp("upsert", spark.read.parquet(root.resolve("snapshot").toString), wantSnapshot) ++
      cmp("sessionize", spark.read.parquet(root.resolve("sessions").toString)
        .where(col("user_id") >= 0), wantSessions)
  }
}
