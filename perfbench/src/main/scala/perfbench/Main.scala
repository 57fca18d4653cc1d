package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `run.py`, which builds the classpath).
  *
  *   --workload daily_etl|stream_ingest --seed N --seconds S
  *   --trace 0|1 --data DIR --work DIR [--cpus N] [--trace-out FILE]
  *
  * One JVM, `local[cpus]`, one client thread. Set-up (session, seeded
  * inputs cut from the tables in `--data`, a fixed untimed warm-up) is
  * timed as a whole; then whole passes run until `seconds` have elapsed;
  * then every output the timed passes left is checked. The last stdout
  * line is the JSON result; the lines before it are a readable report.
  *
  * With `--trace 1` two passes are timed: one untraced, then one traced (a
  * span around every call into a layer plus listener job and stage spans).
  * The result carries the per-layer metrics of the traced pass instead of
  * the end-to-end ones, and the spans go to `--trace-out`.
  */
object Main {
  def warn(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what: ${e.getClass.getSimpleName}: ${e.getMessage}")

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of p50..p99.9 with at least ten samples above it, as
    * (percentile, value); None when fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => s.size * (1 - p / 100) >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** CPU seconds this process has used (all threads). */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Seconds the JIT compilers have spent compiling so far. */
  def jitS(): Double = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val data = Paths.get(arg(args, "--data").getOrElse(sys.error("--data is required")))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val cpus = arg(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ErrorLog.install()

    val (spark, sessionS) = time(session(cpus, work))
    val wl = Workloads(workload, spark, seed, data, work)
    val plain = new Tracer(spark.sparkContext, enabled = false)
    val tracer = new Tracer(spark.sparkContext, enabled = true)

    // set-up: seeded inputs and a fixed untimed warm-up
    val (_, genS) = time(wl.prepare())
    val (_, warmupS) = time(wl.warmup(plain))
    val setupWallS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // as for a pass (below), without the JIT compilers' time
    val setupJitS = jitS()
    val setupCpuS = cpuS() - setupJitS

    // timed region: whole passes until `seconds` have elapsed; a traced
    // run times one untraced pass, then one traced pass
    val ops = mutable.Buffer.empty[Op]
    val passWall = mutable.LinkedHashMap.empty[Int, Double]
    val passCpu = mutable.Map.empty[Int, Double]
    val passJit = mutable.Map.empty[Int, Double]
    def timePass(t: Tracer, n: Int): Unit = {
      val (cpu0, jit0) = (cpuS(), jitS())
      passWall(n) = t.span("pass", s"pass$n")(wl.pass(t, n, ops))._2
      // the JIT compilers' time is the JVM warming, not the program's work:
      // in a run this short it swings with the order methods get hot
      passJit(n) = jitS() - jit0
      passCpu(n) = cpuS() - cpu0 - passJit(n)
    }
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (!traced && wl.more && (System.nanoTime() - t0) / 1e9 < seconds)) {
      n += 1
      timePass(plain, n)
    }
    if (traced) {
      spark.sparkContext.addSparkListener(tracer.listener)
      n += 1
      tracer.span("workload", workload)(timePass(tracer, n))
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    // memory the program still holds once the passes are done
    System.gc()
    val liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    tracer.drain()
    // per-layer figures of the traced pass, taken before the checks run
    // more engine work
    val layers = if (traced) Some(Layers(wl, tracer, ops.filter(_.pass == n).toSeq, Seq(n), cpus)) else None

    // outputs are checked after the timed region
    val passes = passWall.keys.toSeq
    val (problems, checkS) = time(wl.check(passes, ops.toSeq))
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val failed = ops.count(!_.ok)
    val plainPasses = passes.filter(p => !traced || p < n)
    val secs = ops.filter(o => plainPasses.contains(o.pass)).map(_.secs).toSeq
    // the operations of a pass, without the benchmark's own steps around them
    def opWall(p: Int): Double = ops.filter(_.pass == p).map(_.secs).sum
    val outBytes = median(passes.map(p => wl.output(p)._1.toDouble))
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    report("setup_s") = (setupCpuS, "s")
    report("pass_cpu_s") = (median(plainPasses.map(passCpu)), "s")
    report("wall_s") = (median(plainPasses.map(passWall)), "s")
    report("op_p50_s") = (median(secs), "s")
    report("setup_wall_s") = (setupWallS, "s")
    report("pass_jit_s") = (median(plainPasses.map(passJit)), "s")
    report("setup_jit_s") = (setupJitS, "s")

    tail(secs).foreach { case (p, v) => report("op_tail_s") = (v, s"s@p$p/n${secs.size}") }
    report("error_rate") = (failed.toDouble / ops.size, "ratio")
    report("peak_rss_mb") = (peakRssMb(), "MB")
    report("live_heap_mb") = (liveHeapMb, "MB")
    if (outBytes > 0) report("write_amp") = (outBytes / wl.inputBytes, "ratio")
    report("input_rows") = (wl.inputRows.toDouble, "rows")
    report("input_bytes") = (wl.inputBytes.toDouble, "bytes")
    report("passes") = (passes.size.toDouble, "count")
    report("measured_s") = (measuredS, "s")
    report("session_s") = (sessionS, "s")
    report("gen_s") = (genS, "s")
    report("warmup_s") = (warmupS, "s")
    report("check_s") = (checkS, "s")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq("setup_s" -> "s", "pass_cpu_s" -> "s", "write_amp" -> "ratio").map { case (k, u) =>
        (k, report.get(k).map(_._1).getOrElse(0.0), u)
      } else {
        Seq(("bench.session_s", sessionS, "s"), ("bench.gen_s", genS, "s"),
          ("bench.warmup_s", warmupS, "s"), ("bench.untraced_wall_s", opWall(1), "s"),
          ("bench.traced_wall_s", opWall(n), "s"),
          ("bench.trace_overhead_s", opWall(n) - opWall(1), "s"),
          ("bench.listener_s", tracer.busyNs.get / 1e9, "s"),
          ("operators.error_events", ErrorLog.count.get.toDouble, "count")) ++ layers.get.metrics
      }
    if (traced) arg(args, "--trace-out").foreach(f => Layers.writeSpans(Paths.get(f), tracer))
    try spark.stop() catch { case e: Throwable => warn("spark.stop failed", e) }

    println(s"# perfbench $workload seed=$seed trace=${if (traced) 1 else 0}")
    report.foreach { case (k, (v, u)) => println(f"# $k%-14s $v%.6f $u") }
    problems.foreach(p => println(s"# check failed: $p"))
    ops.groupBy(o => (o.kind, o.name)).toSeq.sortBy(_._1).foreach { case ((k, nm), os) =>
      println(f"# $k%-6s $nm%-28s n=${os.size}%-3d p50 ${median(os.map(_.secs).toSeq)}%.3f s")
    }
    if (traced) metrics.foreach { case (k, v, u) => println(f"# $k%-36s $v%.6f $u") }
    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${problems.isEmpty && failed == 0},"attempted":${ops.size},""" +
      s""""failed":$failed,"metrics":{$body}}""")
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
