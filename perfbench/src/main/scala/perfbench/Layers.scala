package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced passes. Every metric is reported on
  * every workload; a layer the workload does not reach reads 0. Counts and
  * times are per operation (day run, query or micro-batch) unless the name
  * says otherwise, so they do not depend on how many passes fit a run. */
final case class Layers(metrics: Seq[(String, Double, String)])

object Layers {
  /** Layer that owns each span kind (jobs and stages are physical
    * execution, so they count as `operators`). */
  val layerOf: Map[String, String] = Map("workload" -> "bench", "pass" -> "bench",
    "op" -> "bench", "build" -> "queries", "plan" -> "plans", "exec" -> "operators",
    "job" -> "operators", "stage" -> "operators", "run" -> "pipeline", "batch" -> "streaming")
  val sinks: Seq[String] = Seq("neardup", "upsert", "sessionize")

  def apply(wl: Workload, t: Tracer, ops: Seq[Op], passes: Seq[Int], cpus: Int): Layers = {
    import Main.median
    val spans = t.spans
    val byId = spans.map(s => s.id -> s).toMap
    val nOps = math.max(1, ops.size).toDouble
    val jobs = t.jobs.values.asScala.toSeq.filter(j => byId.contains(j.span) && !j.end.isNaN)
    val counters = t.counters.asScala.toSeq.filter { case (id, _) => byId.contains(id) }
    def kind(id: Long) = byId.get(id).map(_.kind).getOrElse("")
    def ancestor(id: Long, k: String): Option[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).flatten.find(_.kind == k)
    def sum(f: Tracer#Counters => Long, ids: Long => Boolean = _ => true): Double =
      counters.collect { case (id, c) if ids(id) => c.synchronized(f(c)).toDouble }.sum
    def spanSecs(k: String): Double = spans.filter(_.kind == k).map(_.dur).sum / 1000
    val opSecs = ops.map(_.secs).sum
    val m = Seq.newBuilder[(String, Double, String)]

    // self time per layer: span duration minus what its children cover
    val all = spans ++ t.engineSpans
    val self = Tracer.selfTimes(all)
    Seq("bench", "queries", "plans", "operators", "pipeline", "streaming").foreach { l =>
      m += ((s"$l.self_s", all.filter(s => layerOf.get(s.kind).contains(l))
        .map(s => self(s.id)).sum / 1000 / nOps, "s/op"))
    }

    val outs = passes.map(wl.output)
    m += (("sources.read_bytes", sum(_.readBytes) / nOps, "bytes/op"))
    m += (("sources.read_rows", sum(_.readRows) / nOps, "rows/op"))
    m += (("sources.write_bytes", sum(_.writeBytes) / nOps, "bytes/op"))
    m += (("sources.write_files", outs.map(_._2).sum / nOps, "files/op"))

    m += (("queries.build_s", spanSecs("build") / nOps, "s/op"))
    m += (("queries.build_jobs", jobs.count(j => kind(j.span) == "build") / nOps, "jobs/op"))
    m += (("plans.plan_s", spanSecs("plan") / nOps, "s/op"))
    m += (("plans.plan_kb", median(t.planKb.toSeq), "KB"))

    // physical execution: all engine work of the traced operations
    val stages = t.stages.values.asScala.toSeq.filter(s => byId.contains(s.span))
    val skews = stages.groupBy(s => ancestor(s.span, "op").map(_.id)).values.flatMap { ss =>
      val heavy = ss.maxBy(s => s.synchronized(s.taskMs.sum))
      val ms = heavy.synchronized(heavy.taskMs.toList).map(_.toDouble)
      if (ms.isEmpty || median(ms) <= 0) None else Some(ms.max / median(ms))
    }.toSeq
    val taskS = sum(_.taskMs) / 1000
    // time at least one job of the traced operations was running
    m += (("operators.exec_s", Tracer.covered(jobs.map(j => (j.start, j.end))) / 1000 / nOps, "s/op"))
    m += (("operators.jobs", jobs.size / nOps, "jobs/op"))
    m += (("operators.stages", stages.size / nOps, "stages/op"))
    m += (("operators.tasks", sum(_.tasks) / nOps, "tasks/op"))
    m += (("operators.task_s", taskS / nOps, "s/op"))
    m += (("operators.cpu_s", sum(_.cpuNs) / 1e9 / nOps, "s/op"))
    m += (("operators.gc_s", sum(_.gcMs) / 1000 / nOps, "s/op"))
    m += (("operators.core_busy", if (opSecs > 0) taskS / (opSecs * cpus) else 0.0, "ratio"))
    m += (("operators.shuffle_read_bytes", sum(_.shuffleRead) / nOps, "bytes/op"))
    m += (("operators.shuffle_write_bytes", sum(_.shuffleWrite) / nOps, "bytes/op"))
    m += (("operators.spill_bytes", sum(_.spill) / nOps, "bytes/op"))
    m += (("operators.peak_exec_mem_mb",
      counters.map(_._2.peakMem).foldLeft(0L)(math.max) / 1048576.0, "MB"))
    m += (("operators.stage_skew", median(skews), "ratio"))
    m += (("operators.tasks_failed", sum(_.tasksFailed), "count"))
    m += (("operators.stages_retried", t.stageRetries.get.toDouble, "count"))

    // pipeline: one `run` span per day
    val runs = spans.filter(_.kind == "run").map { r =>
      val rj = jobs.filter(_.span == r.id)
      val derive = rj.filter(_.desc.startsWith("daily_update:"))
      val firstDerive = if (derive.isEmpty) r.end else derive.map(_.start).min
      val stageMax = derive.groupBy(_.desc).values
        .map(js => js.map(_.end).max - js.map(_.start).min).foldLeft(0.0)(math.max)
      val busy = rj.map(j => math.max(0.0, math.min(j.end, r.end) - math.max(j.start, r.start))).sum
      Seq(r.dur / 1000, math.max(0.0, firstDerive - r.start) / 1000, (r.end - firstDerive) / 1000,
        stageMax / 1000, rj.size.toDouble, if (r.dur > 0) busy / r.dur else 0.0,
        if (r.dur > 0) sum(_.taskMs, _ == r.id) / (r.dur * cpus) else 0.0)
    }
    Seq("run_s" -> "s", "prefix_s" -> "s", "derive_s" -> "s", "stage_max_s" -> "s",
      "jobs_per_day" -> "jobs", "jobs_in_flight" -> "jobs", "core_busy" -> "ratio")
      .zipWithIndex.foreach { case ((k, u), i) => m += ((s"pipeline.$k", median(runs.map(_(i))), u)) }

    // streaming: one `batch` span per micro-batch; the progress reports
    // (from the query itself, not the asynchronous listener bus) of the
    // batches that started inside a traced pass
    val stream = wl match { case s: StreamIngest => Some(s); case _ => None }
    val traced = spans.filter(_.kind == "pass").map(p => (p.start, p.end))
    sinks.foreach { sink =>
      val bs = spans.filter(s => s.kind == "batch" && s.name == sink)
      val ids = bs.map(_.id).toSet
      val prog = stream.toSeq.flatMap(_.progress(sink)).filter { p =>
          val at = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          p.numInputRows > 0 && traced.exists { case (s, e) => at >= s && at <= e }
        }
      def phase(keys: String*): Double =
        median(prog.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum))
      m += ((s"streaming.$sink.batch_s", median(bs.map(_.dur / 1000)), "s"))
      m += ((s"streaming.$sink.jobs_per_batch",
        if (bs.isEmpty) 0.0 else jobs.count(j => ids(j.span)).toDouble / bs.size, "jobs"))
      m += ((s"streaming.$sink.add_batch_ms", phase("addBatch"), "ms"))
      m += ((s"streaming.$sink.planning_ms", phase("queryPlanning"), "ms"))
      m += ((s"streaming.$sink.commit_ms", phase("walCommit", "commitOffsets"), "ms"))
      if (sink == "sessionize") {
        val state = prog.flatMap(_.stateOperators.headOption)
        m += (("streaming.sessionize.state_rows",
          state.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max), "rows"))
        m += (("streaming.sessionize.state_mem_mb",
          state.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max) / 1048576.0, "MB"))
        m += (("streaming.sessionize.state_commit_ms", median(state.map(_.commitTimeMs.toDouble)), "ms"))
      }
      if (sink == "neardup") {
        m += (("streaming.neardup.store_bytes", stream.map(s => Inputs.du(s.storeDir)._1.toDouble).getOrElse(0.0), "bytes"))
      }
    }
    Layers(m.result())
  }

  /** Every span of the traced passes, one JSON object per line. */
  def writeSpans(file: Path, t: Tracer): Unit = {
    Option(file.getParent).foreach(Files.createDirectories(_))
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    }
    val lines = (t.spans ++ t.engineSpans).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","layer":"${layerOf.getOrElse(s.kind, "")}",""" +
        s""""name":"${esc(s.name)}","start_ms":${s.start},"end_ms":${s.end}}""")
    Files.write(file, lines.asJava)
  }
}
