package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: per-query wall seconds at the SF dir from
  * SPARK_GRAFT_SF_DIR. Emits TWO artifacts (r09 verdict item 1): the
  * full per-query detail JSON is written to the file named by
  * SPARK_GRAFT_BENCH_OUT (default evidence/BENCH_detail_last.json), and
  * the process's final stdout line is a COMPACT (<2000 char) summary —
  * totals, error list, and the detail-file path — sized for the
  * driver's 2000-char stdout-tail parser, which the ~14 KB detail line
  * could never reach.
  *
  * Methodology: queries run in sorted name order; a single un-timed
  * warm-up pass at sf0.001 first absorbs one-time JVM/codegen/JIT cost so
  * the timed numbers measure engine throughput, not classloading; the
  * cache is cleared after every query so none borrows another's work;
  * each query is timed three times and the min reported (a major GC pause
  * lands on an arbitrary query otherwise — observed 8s outliers), with an
  * explicit gc between queries to keep the pause out of the timings.
  *
  * Sectioning (round-6 lesson): queries run in two sections — data-bound
  * batch queries first (sorted), harness-bound gates (streaming
  * micro-batch fixtures + the daily-pipeline composition) LAST, so no
  * batch rep runs after the first streaming storm (in round 5 those
  * storms pushed loadavg to 17–27 under neighboring batch reps). Round-7
  * refinement: each harness gate gets its own bounded settle. Round-8
  * calibration: harness gates run TWO reps (min reported) — one rep
  * made round-over-round comparison read 1.3-1.7x high because the
  * first rep pays checkpoint/state-store setup the warm rep doesn't,
  * while min-of-3's third back-to-back rep only fed the storm. The JSON
  * carries batch_total / streaming_total subtotals plus settle_sec
  * (total seconds spent settling between gates).
  *
  * Load accounting (round-5 lesson): the round-4 bench artifact reported
  * 2-3.5x "regressions" on untouched queries because the machine was
  * under external load during the run — min-of-N defends against GC
  * pauses, not against sustained contention. The JSON therefore also
  * carries per-query rep times and /proc/loadavg samples (`load_start`,
  * `load_end`, per-query `reps`/`load`), so a polluted run is
  * self-evident from the artifact alone: loadavg far above the bench's
  * own parallelism, or rep times spread far beyond their min, mean the
  * numbers measure the machine, not the code.
  */
object Bench {

  /** 1-minute loadavg, -1 if unreadable (non-Linux). */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Queries whose cost is HARNESS-bound, not data-bound: streaming
    * micro-batch gates and the daily-pipeline composition run fixed
    * fixtures through MemoryStream/foreachBatch machinery, constant at
    * every SF. They run LAST, as their own section: in round 5 their
    * micro-batch storms drove loadavg to 17–27 under the tail BATCH
    * queries' reps, polluting exactly the numbers the bench exists to
    * defend (r05 verdict item #4).
    */
  private[graft] val harnessBound: Set[String] = Set(
    "q74_stream_neardup", "q78_stream_upsert", "q79_stream_funnel",
    "q80_stream_sessionize", "q81_stream_rollup", "q82_stream_dedup",
    "q83_stream_enrich", "q84_stream_interval_join", "q86_daily_update",
    "q87_stream_late_data", "q89_stream_recovery", "q90_backfill",
    "q91_formats_roundtrip", "q92_daily_derived",
    "q93_stream_late_sessionize", "q94_stream_sessionize_recovery",
    "q95_landing_stream", "q96_backfill_pipeline",
    "q97_stream_late_funnel", "q98_stream_late_dedup",
    "q99_stream_late_interval_join", "q100_neardup_recovery",
    "q101_parquet_landing", "q102_compaction", "q103_clustered_layout",
    "q106_zorder_layout", "q113_schema_evolution",
    "q115_stream_left_interval_join", "q117_available_now_catchup",
    "q144_incremental_first_touch")

  /** Queries that exist to GATE AN OPERATOR BRANCH cross-engine by
    * re-running a full pipeline with one constant/flag changed (the
    * q135 pattern): q135 re-runs BM25 at the dropping df cap, q138/q140
    * re-run the 3-iteration PageRank at the fine grid / with dangling
    * redistribution, q139 re-runs the capped drift with sketch-selected
    * candidates. Their cost is a REPLAY of an already-benched pipeline,
    * so the batch section grows linearly as branches get gated (r10
    * verdict item 6); the artifacts carry this set and a
    * `branch_gate_total` subtotal so round-over-round batch totals
    * stay interpretable — compare `batch_total - branch_gate_total`
    * for the organic trend.
    */
  private[graft] val branchGates: Set[String] = Set(
    "q135_bm25_capped", "q138_pagerank_fine_grid",
    "q139_drift_sketched", "q140_pagerank_dangling",
    // q143 replays q114's trained-k-means pipeline (its dominant cost)
    // with the pair join further conditioned on the srp bucket
    "q143_semdedup_srp",
    // q150 replays q114's trained k-means + q149's codebook trainer on
    // the residual base + q148's routed search with trained books;
    // q151 replays q145's and q147's searches plus the q24-class
    // brute-force truth pass; q152 replays q145's scan twice (shortlist
    // + the reorder pin) with a candidate-bounded refine — all three
    // are compositions of already-benched pipelines, not new
    // data-volume work
    "q150_ivfpq_trained", "q151_adc_recall", "q152_adc_refine")

  /** JSON string-escape for env-derived values (SPARK_GRAFT_SF_DIR /
    * SPARK_GRAFT_BENCH_OUT) interpolated into the summary line: a path
    * carrying a quote, backslash, or control char (a newline ALSO breaks
    * the "final stdout line" parse) would otherwise produce an
    * unparseable summary — the exact failure mode the compact summary
    * exists to fix (ADVICE r10). Verify's oracle_sql writer escapes
    * with it too. Hoisted out of main (r12) so the hostile-path unit test
    * can pin it.
    */
  private[graft] def jstr(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Writes the bench detail JSON to `detailPath` and returns what the
    * summary line says of it: the path, or a WRITE FAILED note when the
    * write failed (the detail then goes to stderr, kept out of the parsed
    * stdout tail, so a failed write cannot lose the run).
    *
    * It also writes a per-core-count copy beside it (`_c<cpus>.json`):
    * the bench runs at two core counts and both runs default to the same
    * detail path, so without it the second run's detail overwrites the
    * first and per-query core-scaling evidence is lost. The copy is
    * additive, so its own failure only goes to stderr and never changes
    * what the summary says of the primary file.
    */
  private[graft] def writeDetail(detailJson: String, detailPath: String, cpus: String): String = {
    def write(path: String): Unit = {
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (detailJson + "\n").getBytes("UTF-8"))
    }
    val note =
      try { write(detailPath); detailPath }
      catch { case t: Throwable =>
        System.err.println(s"[bench] detail write to $detailPath failed: ${t.getMessage}")
        System.err.println(detailJson)
        s"WRITE FAILED ($detailPath): detail on stderr"
      }
    val perCore = detailPath.replaceAll("\\.json$", "") + s"_c$cpus.json"
    try write(perCore)
    catch { case t: Throwable =>
      System.err.println(s"[bench] per-core detail copy to $perCore failed: ${t.getMessage}")
    }
    note
  }

  /** Wait (bounded) for the 1-min loadavg to decay below `target` so the
    * next section's per-query `load` fields start from a clean machine;
    * returns seconds waited. Bounded: 1-min load decays ~e^(-t/60), so
    * 120 s shrinks a storm by ~7x — enough to tell sections apart.
    */
  private def settle(target: Double, maxWaitSec: Int): Double = {
    val t0 = System.nanoTime()
    while (loadAvg() > target && (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      System.gc()
      Thread.sleep(2000)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Checks the values of `SPARK_GRAFT_SF_DIR` (must name an existing
    * directory) and `SPARK_GRAFT_BENCH_OUT` (must not be blank). A bad
    * value fails here, naming the variable, before a session starts,
    * instead of after the whole timed run.
    */
  private[graft] def checkPaths(sfDir: String, detailPath: String): Unit = {
    require(new java.io.File(sfDir).isDirectory,
      s"SPARK_GRAFT_SF_DIR must name an existing directory, got '$sfDir'")
    require(detailPath.trim.nonEmpty,
      s"SPARK_GRAFT_BENCH_OUT must not be blank, got '$detailPath'")
  }

  /** Runs `build` at `dir` once through the noop sink, inside one
    * [[Caches.scoped]] block, and returns its wall seconds with its
    * failure, if any. The time is taken before the scope closes, so
    * releasing what the query cached or checkpointed (which
    * `clearCache` does not free) stays outside the timed interval.
    *
    * Materialize through the noop sink, not count(): count() lets
    * ColumnPruning delete projection-only work (md5/regex/scoring columns
    * that no downstream op reads), so q16/q17/q25-q28 measured scan+count
    * instead of the query. The noop sink consumes every output column.
    */
  private[graft] def rep(spark: SparkSession, build: (SparkSession, String) => DataFrame,
                         dir: String): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    Caches.scoped {
      val failure =
        try { build(spark, dir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      ((System.nanoTime() - t0) / 1e9, failure)
    }
  }

  /** The untimed warm-up: runs each query once at `warmDir` through `run`
    * (which returns its failure, if any). A query that fails there is
    * named on stderr and run once more at `sfDir`, so its first timed rep
    * does not pay the one-time costs the failed warm-up skipped.
    */
  private[graft] def warmUp(names: Seq[String], warmDir: String, sfDir: String)
                           (run: (String, String) => Option[Throwable]): Unit =
    names.foreach { name =>
      run(name, warmDir).foreach { e =>
        System.err.println(s"[bench] warm-up $name failed at $warmDir: ${e.getMessage}")
        run(name, sfDir)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "evidence/BENCH_detail_last.json")
    checkPaths(sfDir, detailPath)
    val cpus = Sessions.cpus(32)
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // optional args restrict the run to named queries (iteration aid);
    // the driver invokes with no args = full suite. Unknown names abort:
    // a typo must not report a green no-op bench.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (args.nonEmpty) SparkEntry.queries.keys.toSeq.filter(args.contains).sorted
      else SparkEntry.queries.keys.toSeq.sorted
    // batch section first, harness-bound (streaming + pipeline) section
    // last — see `harnessBound`
    val (harness, batch) = selected.partition(harnessBound)
    val names = batch ++ harness
    val warmDir = "/root/testdata/sf0.001"
    warmUp(names, warmDir, sfDir) { (name, dir) =>
      try rep(spark, SparkEntry.queries(name), dir)._2
      finally spark.catalog.clearCache()
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // the warmup pass itself drives 1-min loadavg to ~10+; settle before
    // the first timed rep so early batch queries aren't measured under
    // the bench's own residue (observed 1.3-1.6x wobble on them)
    settle(target = cpus / 8.0, maxWaitSec = 240)
    val loadStart = loadAvg()
    val t0Wall = System.nanoTime()
    var settleSec = 0.0
    val results = names.map { name =>
      // Harness-bound gates get a bounded settle EACH and run TWO reps,
      // min reported (round-8 calibration): the r07 single-rep numbers
      // read 1.3-1.7x over r06's min-of-3 because a gate's FIRST rep
      // pays checkpoint-dir/state-store/shuffle-file setup that the
      // warm rep doesn't — methodology, not load (the r07 artifact's
      // load fields sat at 8-16 under a 32-core budget). Two reps keep
      // the reported number a warm-machinery time comparable across
      // rounds, without round-7's tripled storm (whose back-to-back
      // third reps cascaded loadavg to ~37 in round 5's 22-gate tail).
      // settle whenever the run times more than one query (a harness
      // gate's storm must not pollute ANY successor, including another
      // gate in a harness-only grouped-bench JVM — r13; the single-query
      // iteration aid stays settle-free)
      if (harnessBound(name) && selected.size > 1)
        settleSec += settle(target = cpus / 2.0, maxWaitSec = 60)
      // stderr marker so engine warnings in the surrounding log (GC, large
      // task binaries, skew) can be attributed to a query after the fact
      System.err.println(s"[bench] start $name")
      val load = loadAvg()
      val nReps = if (harnessBound(name)) 2 else 3
      val reps = (1 to nReps).map { _ =>
        val (dt, failure) = rep(spark, SparkEntry.queries(name), sfDir)
        // a swallowed failure must not read as a near-zero "win"
        failure.foreach { e =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
        spark.catalog.clearCache()
        System.gc()
        dt
      }
      (name, reps.min, reps, load)
    }
    def f(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, reps, load) =>
      "\"" + k + "\":{\"reps\":[" + reps.map(f).mkString(",") +
        "],\"load\":" + f(load) + "}"
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val byName = results.map(r => r._1 -> r._2).toMap
    val batchTotal = batch.map(byName).sum
    val harnessTotal = harness.map(byName).sum
    val branchGateTotal = selected.filter(branchGates).map(byName).sum
    val branchGatesJson = selected.filter(branchGates)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val wall = (System.nanoTime() - t0Wall) / 1e9
    // sample end-of-run load BEFORE stop: the field means "load as the
    // last query finished", not "load after executor teardown"
    val loadEnd = loadAvg()
    // stop BEFORE printing: the JSON must be the process's (and with
    // `showSuccess := false`, sbt's) FINAL stdout line — the driver
    // parses the tail, and r07/r08's artifacts degraded to raw text
    // because trailing output followed the JSON. But a stop() failure
    // must not lose the whole run's measurements — swallow it to stderr
    try spark.stop()
    catch { case t: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${t.getMessage}") }
    // Two artifacts (r09 verdict item 1): the full per-query detail goes
    // to a FILE, and the final stdout line is a COMPACT summary. The
    // driver keeps only a 2000-char stdout tail, so the ~14 KB detail
    // JSON could never parse from it (BENCH_r07..r09 all landed
    // parsed:null); the summary is a few hundred bytes and carries the
    // totals plus a pointer to the detail file.
    val detailJson =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","batch_total":${f(batchTotal)},"streaming_total":${f(harnessTotal)},"branch_gate_total":${f(branchGateTotal)},"branch_gates":$branchGatesJson,"settle_sec":${f(settleSec)},"queries":$qs,"errors":$errs,"sf":"${jstr(sfDir)}","load_start":${f(loadStart)},"load_end":${f(loadEnd)},"wall_sec":${f(wall)},"detail":$repsJson}"""
    val detailNote = writeDetail(detailJson, detailPath, cpus.toString)
    // Full driver-contract line (metric/value/unit/queries/sf), printed
    // BEFORE the compact summary (r13 verdict item 1: PERF is per-query
    // blind). It cannot REPLACE the summary: the driver parses a 2000-char
    // stdout tail (BENCH_r12/r13 artifacts both carry exactly 2000 chars),
    // and 152 full query names alone are ~4.5 KB — a final line that long
    // is the precise failure mode that produced parsed:null in r07-r09.
    // Printed first, it is additive: a tail-scanning parser still finds
    // the intact compact summary as the final line, and a full-stdout
    // parser gains the per-query map.
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"${jstr(sfDir)}","n_queries":${results.size},"n_errors":${failed.size}}""")
    // the summary's error list is CAPPED so a mass-failure run (every
    // query erroring → ~4.4 KB of names) cannot push the line back past
    // the driver's 2000-char tail — the full list is in the detail file
    val errsCapped = (failed.take(8).map("\"" + _ + "\"") ++
      (if (failed.size > 8) Seq("\"...\"") else Nil)).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","sf":"${jstr(sfDir)}","n_queries":${results.size},"n_errors":${failed.size},"batch_total":${f(batchTotal)},"streaming_total":${f(harnessTotal)},"branch_gate_total":${f(branchGateTotal)},"branch_gates":$branchGatesJson,"settle_sec":${f(settleSec)},"wall_sec":${f(wall)},"load_start":${f(loadStart)},"load_end":${f(loadEnd)},"errors":$errsCapped,"detail_file":"${jstr(detailNote)}"}""")
  }
}
