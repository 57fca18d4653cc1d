package graft.queries

import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.reflect.ClassTag

import graft.{Caches, Sessions}
import graft.functions.TextFns
import graft.operators.{Multimodal, Packing, Similarity, Sketches}
import graft.sources.{Formats, Tables}
import graft.streaming.{Micros, StreamOps}
// The streaming fixtures (q78–q84, q87, q89) order, select and split
// events by epoch MICROSECONDS, never `getTime`: the DuckDB oracles and
// the µs-precise StreamOps compare full µs timestamps, so two events of
// one user inside one millisecond must rank here as the oracle ranks them.
import graft.streaming.Micros.us
import graft.streaming.StreamOps.{Event, FunnelEvent}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Round-4/5 surface: driver-gated audits of the approximate scale paths,
  * the remaining reference maintenance shapes, and (round 5) the
  * last ungated subsystems — packed-sequence materialization (q72), the
  * image-decode failure path (q73), the streaming near-dup sink (q74),
  * and the trained IVF path (q75).
  *
  * The sketch operators ([[graft.operators.Sketches]]) are the documented
  * 100 TB substitutes for exact aggregations whose per-group state is
  * unbounded (exact distinct counts, exact percentiles, exact vocabulary
  * top-k). Until this round they were spec-only; q67 gives them a
  * driver-visible correctness row: each sketch runs NEXT TO its exact twin
  * and the query emits the exact value (DuckDB-reproducible) plus a
  * deterministic `within_bound` flag proving the estimate landed inside
  * the sketch's documented error envelope. The oracle replays the exact
  * values and asserts every bound held (`TRUE` literals) — a sketch
  * regression (wrong seed handling, broken merge, bound drift) flips a
  * flag and fails the hash compare.
  */
object GateQueries {

  /** A fresh, empty directory for one gate run under
    * [[Sessions.scratchRoot]], which is deleted at JVM exit.
    */
  private[graft] def gateDir(name: String): Path =
    JFiles.createTempDirectory(Sessions.scratchRoot, s"$name-")

  /** Starts `ds` as an append-mode parquet stream into `dir/<out>`, with
    * its checkpoint at `dir/ckpt`.
    */
  private[graft] def appendParquet(ds: Dataset[_], dir: Path, out: String): StreamingQuery =
    ds.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append)
      .format("parquet").option("path", s"$dir/$out")
      .start()

  /** Runs `feed` against a started query and always stops the query,
    * also when the feed throws.
    */
  private[graft] def runStream(q: StreamingQuery)(feed: StreamingQuery => Unit): Unit =
    try feed(q) finally q.stop()

  /** A fixture split into three consecutive chunks (fewer below three
    * rows): the gates' micro-batch boundaries.
    */
  private def thirds[T](rows: Array[T]): Seq[Array[T]] =
    rows.grouped(math.max(1, (rows.length + 2) / 3)).toSeq

  /** Adds each of `batches` to `in` and waits for `q` to process it: one
    * micro-batch per element, in order.
    */
  private def feed[T](q: StreamingQuery, in: MemoryStream[T], batches: Seq[Array[T]]): Unit =
    batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }

  /** [[feed]]s `rows` as its [[thirds]]. */
  private def feedThirds[T](q: StreamingQuery, in: MemoryStream[T], rows: Array[T]): Unit =
    feed(q, in, thirds(rows))

  /** Flushes the event-time state of `q`: two sentinel rows `row(ts)`, at
    * `firstUs` and 1 s later, each its own micro-batch. The first moves
    * the watermark past every real row's horizon; the second runs the
    * timeout pass that emits what the first closed.
    */
  private def flushSentinels[T: ClassTag](q: StreamingQuery, in: MemoryStream[T], firstUs: Long)
                                         (row: Timestamp => T): Unit =
    feed(q, in, Seq(0L, 1000000L).map(offUs => Array(row(Micros.ts(firstUs + offUs)))))

  /** Feeds both sides of a stream-stream join their [[thirds]] in
    * lockstep, one micro-batch per pair of chunks.
    */
  private def feedPaired[T: ClassTag](q: StreamingQuery, lIn: MemoryStream[T],
                                      rIn: MemoryStream[T], l: Array[T], r: Array[T]): Unit =
    thirds(l).zipAll(thirds(r), Array.empty[T], Array.empty[T]).foreach { case (lc, rc) =>
      if (lc.nonEmpty) lIn.addData(lc: _*)
      if (rc.nonEmpty) rIn.addData(rc: _*)
      q.processAllAvailable()
    }

  /** Lands wave `k` in the watched `root/landing` directory: `write`
    * stages the wave under `root/stage<k>`, then its `.<ext>` part files
    * move in as `wave<k>-part<i>.<ext>` — a daemon's "files appear" shape.
    */
  private def landWave(root: Path, k: Int, ext: String)(write: String => Unit): Unit = {
    val stage = root.resolve(s"stage$k")
    write(stage.toString)
    val parts = JFiles.list(stage)
    try parts.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(s".$ext")).zipWithIndex
      .foreach { case (f, i) =>
        JFiles.move(f, root.resolve("landing").resolve(s"wave$k-part$i.$ext"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    finally parts.close()
  }

  /** A landing gate's scratch root, with its watched `landing` directory
    * made.
    */
  private def landingRoot(name: String): Path = {
    val root = gateDir(name)
    JFiles.createDirectories(root.resolve("landing"))
    root
  }

  /** Wave `k` of a landing gate's slice: its rows with event_id % 3 == k. */
  private def wave(slice: DataFrame, k: Int): DataFrame =
    slice.where(col("event_id") % 3 === k)

  /** The row count of each of the three waves of `slice`. */
  private def waveCounts(slice: DataFrame): Seq[Long] =
    (0 until 3).map(k => wave(slice, k).count())

  /** Streams `source`, which watches `root/landing`, into `root/sink`;
    * lands wave k = 0, 1, 2 with `land`, one micro-batch each, and after
    * each requires the sink to hold exactly waves 0..k, so a source that
    * re-reads old files or misses new ones fails. Returns the sink read
    * back as `slice`'s columns.
    */
  private def discoverWaves(s: SparkSession, gate: String, slice: DataFrame, root: Path,
                            source: => DataFrame)(land: Int => Unit): DataFrame = {
    val counts = waveCounts(slice)
    val sink = root.resolve("sink").toString
    runStream(appendParquet(source, root, "sink")) { q =>
      (0 until 3).foreach { k =>
        land(k)
        q.processAllAvailable()
        val seen = s.read.parquet(sink).count()
        val want = counts.take(k + 1).sum
        require(seen == want,
          s"$gate: after wave $k the sink must hold exactly $want rows, got $seen")
      }
    }
    s.read.parquet(sink).select(slice.columns.map(col): _*)
  }

  /** The gates' event log capped to the users below 150, a fixed key set,
    * so a fixture built on it costs the same at every SF.
    */
  private def cappedEvents(s: SparkSession, d: String): DataFrame =
    Tables(s, d).events.where(col("user_id") < 150)

  /** The rows of a capped fixture on the driver, as `T`. */
  private def collectCapped[T: Encoder](fixture: DataFrame): Array[T] =
    // bounded: key-capped fixture — constant rows at every SF (replica ids offset past the cap)
    fixture.as[T].collect()

  /** The capped log rolled up per (user_id, day `d`): n_events and the q4
    * total_value.
    */
  private def dailyRollup(s: SparkSession, d: String): DataFrame =
    cappedEvents(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Portable.q4(sum(col("value"))).as("total_value"))

  /** An (event_id, ts, user_id, value) row of the capped log. */
  private type Valued = (Long, Timestamp, Long, Double)

  /** Upsert micro-batch `b`: among the rows with event_id % 3 == b, each
    * user's value at their latest (ts, event_id), in user order — one
    * update per key, coalesceMerge's contract.
    */
  private def upsertBatch(ev: Array[Valued], b: Int): Array[(Long, Double)] =
    ev.filter(_._1 % 3 == b).groupBy(_._3).map { case (uid, rows) =>
      (uid, rows.maxBy(r => (us(r._2), r._1))._4)
    }.toArray.sortBy(_._1)

  /** An (event_id, user_id, ts) row of an interval-join gate's side. */
  private type Touch = (Long, Long, Timestamp)

  /** The interval-join gates' sides: the capped log's views, then its
    * clicks, each in (ts, event_id) order.
    */
  private def viewsAndClicks(s: SparkSession, d: String): (Array[Touch], Array[Touch]) = {
    import s.implicits._
    val Seq(views, clicks) = Seq("view", "click").map { tpe =>
      collectCapped[Touch](cappedEvents(s, d).where(col("event_type") === tpe)
          .select(col("event_id"), col("user_id"), col("ts")))
        .sortBy(r => (us(r._3), r._1))
    }
    (views, clicks)
  }

  /** A view stream, a click stream and `join` of the two (each side as
    * event_id, user_id, ts, aliased `l` and `r` by the join), projected to
    * view_id, user_id, view_ts, click_id, click_ts.
    */
  private def joinViewsClicks(s: SparkSession)(join: (DataFrame, DataFrame) => DataFrame)
      : (MemoryStream[Touch], MemoryStream[Touch], DataFrame) = {
    import s.implicits._
    val vIn = MemoryStream[Touch](s)
    val cIn = MemoryStream[Touch](s)
    val joined = join(vIn.toDF().toDF("event_id", "user_id", "ts"),
        cIn.toDF().toDF("event_id", "user_id", "ts"))
      .select(col("l.event_id").as("view_id"), col("l.user_id").as("user_id"),
        col("l.ts").as("view_ts"), col("r.event_id").as("click_id"),
        col("r.ts").as("click_ts"))
    (vIn, cIn, joined)
  }

  /** The sessionize gates' sessions read back: real users only (the
    * sentinel is user -1), total_value at q4.
    */
  private def readSessions(s: SparkSession, dir: Path): DataFrame =
    s.read.parquet(s"$dir/sessions")
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"),
        graft.functions.Portable.q4(col("total_value")).as("total_value"))

  /** The rollup gates' windows read back without the sentinel's, total_value
    * at q4.
    */
  private def readRollup(s: SparkSession, dir: Path): DataFrame =
    s.read.parquet(s"$dir/rollup")
      .where(col("event_type") =!= "__sentinel")
      .select(col("window_start"), col("window_end"), col("event_type"),
        col("n_events"),
        graft.functions.Portable.q4(col("total_value")).as("total_value"))

  /** The near-dup sink gates' corpus: the documents below id 2000 as
    * (doc_id, text). Micro-batch b is doc_id % 3 == b, and the oracle
    * attributes each pair to greatest(id mod 3), which is the micro-batch
    * id only if every addData round forms a batch — an empty residue
    * class would silently shift batch ids.
    */
  private def nearDupDocs(s: SparkSession, d: String, gate: String): Array[(Long, String)] = {
    import s.implicits._
    val docs = collectCapped[(Long, String)](Tables(s, d).documents
      .select(col("doc_id"), col("text")).where(col("doc_id") < 2000))
    require((0 until 3).forall(b => docs.exists(_._1 % 3 == b)),
      s"$gate fixture must populate all three residue classes")
    docs
  }

  /** Starts the near-dup sink over `in`'s (doc_id, text) rows, its store
    * at `dir/store` and its checkpoint at `dir/ckpt`.
    */
  private def startNearDupSink(in: MemoryStream[(Long, String)], dir: Path): StreamingQuery =
    StreamOps.nearDupSink(in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, numSeeds = 12, rowsPerBand = 3,
      storeDir = s"$dir/store", checkpointDir = s"$dir/ckpt")

  /** The near-dup sink's pairs store, each pair with the micro-batch that
    * detected it.
    */
  private def readPairs(s: SparkSession, dir: Path): DataFrame =
    s.read.parquet(s"$dir/store/pairs")
      .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
        col("intersection"), col("jaccard"),
        col("batch_id").cast("bigint").as("detected_batch"))

  /** Shared fixture for the daily-pipeline gates (q86, q92): build the
    * capped two-day incremental layout (day 1 = events up to the midpoint
    * timestamp, day 2 = the full capped log; dims capped/symlinked) and
    * run the FULL DailyUpdate chain for day 1 then day 2. Returns the
    * pipeline's out/ directory; q86 gates the incremental fact table from
    * it, q92 a derived table. Each gate runs the composition itself — no
    * memoized temp dir — so bench timings stay honest per-query.
    */
  private def dailyPipelineFixtureRun(s: org.apache.spark.sql.SparkSession,
                                      d: String): String = {
    val t = Tables(s, d)
    val root = gateDir("daily")
    val (day1, day2) = (root.resolve("day1"), root.resolve("day2"))
    JFiles.createDirectories(day1); JFiles.createDirectories(day2)
    val out = root.resolve("out").toString

    val ev = cappedEvents(s, d)
    // bounded: 1-row min/max scalar
    val mm = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).collect()(0)
    // µs midpoint via the Micros pair — the day-1/day-2 split must
    // not depend on ms-grid alignment of the fixture timestamps (the
    // same truncation class the streaming fixtures fixed in r07)
    val (mnUs, mxUs) = (us(mm.getTimestamp(0)), us(mm.getTimestamp(1)))
    val split = Micros.ts(mnUs + (mxUs - mnUs) / 2)

    // non-event tables are identical on both days: write the capped
    // ones once under shared/ and symlink; small fixed-cardinality
    // tables symlink straight to the source dir
    val shared = root.resolve("shared")
    JFiles.createDirectories(shared)
    val ords = t.orders.where(col("o_custkey") < 150)
    // the six fixture writes are independent of each other — submit them
    // from a small pool (guide §2.6, the DailyUpdate.run stage move) so
    // the capped-table scans overlap instead of serializing six small jobs
    Sessions.inParallel(s, 4)(Seq[() => Unit](
      () => ev.where(col("ts") <= lit(split)).write.parquet(s"$day1/events.parquet"),
      () => ev.write.parquet(s"$day2/events.parquet"),
      () => t.customer.where(col("c_custkey") < 150)
        .write.parquet(s"$shared/customer.parquet"),
      () => ords.write.parquet(s"$shared/orders.parquet"),
      () => t.lineitem.join(ords.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .write.parquet(s"$shared/lineitem.parquet"),
      () => t.documents.where(col("doc_id") < 500)
        .write.parquet(s"$shared/documents.parquet")))
    Seq("customer", "orders", "lineitem", "documents").foreach { n =>
      JFiles.createSymbolicLink(day1.resolve(s"$n.parquet"), shared.resolve(s"$n.parquet"))
      JFiles.createSymbolicLink(day2.resolve(s"$n.parquet"), shared.resolve(s"$n.parquet"))
    }
    Seq("region", "nation", "supplier", "part", "embeddings").foreach { n =>
      // absolute source: a relative sf dir would resolve the symlink
      // TARGET relative to the day dirs and dangle
      val src = Paths.get(d).toAbsolutePath.resolve(s"$n.parquet")
      JFiles.createSymbolicLink(day1.resolve(s"$n.parquet"), src)
      JFiles.createSymbolicLink(day2.resolve(s"$n.parquet"), src)
    }

    graft.pipeline.DailyUpdate.run(s, day1.toString, out)
    graft.pipeline.DailyUpdate.run(s, day2.toString, out)
    out
  }

  private val rawQueries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(

    "q67_sketch_accuracy" -> { (s, d) =>
      // Approx-vs-exact audit: one row per (check family, key) with the
      // exact value and a bound flag. Estimates are deterministic (HLL++
      // and GK have no randomness; the CMS seed is fixed), so the flags
      // are stable across runs and engines.
      val t = Tables(s, d)

      // HLL++ distinct counts vs exact, same single shuffle: both
      // aggregates share one groupBy so the scan and exchange are paid
      // once. Bound: |approx - exact| <= max(3·rsd·exact, 2) — three
      // standard deviations at rsd=0.05, floored for tiny cardinalities
      // where HLL++ is exact by construction (linear counting regime).
      val hll = t.events.select(col("event_type"), col("user_id"))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_value"),
          approx_count_distinct(col("user_id"), 0.05).as("approx"))
        .select(lit("hll_distinct").as("check"), col("event_type").as("key"),
          col("exact_value"),
          (abs(col("approx") - col("exact_value")) <=
            greatest(ceil(col("exact_value") * lit(0.15)), lit(2L))).as("within_bound"))

      // GK percentile vs exact percentile_disc: the approx p20 must land
      // between the exact p15 and p25 values (rank error of
      // percentile_approx is <= group_size/accuracy, far inside that
      // window). All three exact quantiles come from ONE cume_dist window
      // sharing the groupBy's source-partitioning — a single shuffle.
      val lens = t.documents.select(col("source"), length(col("text")).cast("long").as("len"))
      val w = Window.partitionBy(col("source")).orderBy(col("len"))
      val gk = lens.withColumn("__cd", cume_dist().over(w))
        .groupBy(col("source"))
        .agg(min(when(col("__cd") >= 0.2, col("len"))).as("exact_value"),
          min(when(col("__cd") >= 0.15, col("len"))).as("lo"),
          min(when(col("__cd") >= 0.25, col("len"))).as("hi"),
          percentile_approx(col("len"), lit(0.2), lit(10000)).as("approx"))
        .select(lit("gk_percentile").as("check"), col("source").as("key"),
          col("exact_value"),
          col("approx").between(col("lo"), col("hi")).as("within_bound"))

      // Count-min top-k vs exact vocabulary counts: CMS never undercounts
      // and overcounts by at most eps·N (eps=1e-4, seed fixed), so each
      // of the exact top-10 words must satisfy
      // exact <= estimate <= exact + ceil(eps · total_words).
      val words = t.documentsSpread.select(explode(TextFns.words(col("text"))).as("word"))
      val top = words.groupBy(col("word")).agg(count(lit(1)).as("exact_value"))
        .orderBy(col("exact_value").desc, col("word").asc).limit(10)
      val est = Sketches.cmsTopK(words, "word", top, 10)
      val totals = words.agg(count(lit(1)).as("__total"))
      val cms = top.join(est, "word")
        .crossJoin(broadcast(totals)) // 1-row scalar broadcast
        .select(lit("cms_topk").as("check"), col("word").as("key"),
          col("exact_value"),
          (col("est_count") >= col("exact_value") &&
            col("est_count") <= col("exact_value") + ceil(col("__total") * lit(0.0001)))
            .as("within_bound"))

      hll.unionByName(gk).unionByName(cms)
    },

    "q68_image_decode" -> { (s, d) =>
      // Real image decode, end to end: per doc, build a PNG (even ids) or
      // BMP (odd ids) payload whose dimensions are a pure function of
      // doc_id, then recover format/width/height from the BYTES with the
      // JVM's actual imageio codecs (header-only reads, partition-wise).
      // The oracle recomputes the expected metadata from doc_id arithmetic
      // — a decoder that misreads headers (or silently falls back to the
      // stub) diverges. Encode is the sandbox's fixture generator; in
      // production the payload column comes off the object store.
      import s.implicits._
      val ids = Tables(s, d).documents.select(col("doc_id")).as[Long]
      val payloads = ids.mapPartitions { rows =>
        rows.map { id =>
          val fmt = if (id % 2 == 0) "png" else "bmp"
          (id, graft.operators.Multimodal.encodeTestImage(
            id, width = 8 + (id % 64).toInt, height = 4 + (id % 32).toInt, fmt))
        }
      }.toDF("doc_id", "payload")
      graft.operators.Multimodal.decodeImages(s, payloads)
        .toDF().select(col("doc_id"), col("format"), col("width"), col("height"),
          col("decoded"))
    },

    "q69_exclude_flagged" -> { (s, d) =>
      // Category-exclusion maintenance (reference: adhoc queries/
      // exclude_payment_tokens.sql — delete facts whose key is in the
      // flagged-category dim set; the flag-discovery insert is Merge's
      // covered shape, q15/q36). Spark-first: the kept table is a LEFT
      // ANTI join against the flagged keys — one shuffle (or a broadcast
      // anti when the flag set is small, AQE's call), no destructive
      // in-place delete, so the "before" snapshot stays readable while
      // the exclusion materializes.
      val t = Tables(s, d)
      val flagged = t.part.where(col("p_type") === lit("PROMO"))
        .select(col("p_partkey"))
      t.lineitem.join(flagged, col("l_partkey") === col("p_partkey"), "left_anti")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
    },

    "q70_shard_assign" -> { (s, d) =>
      // Deterministic training-shard layout: every doc gets a shard and a
      // position inside it, both pure functions of (doc_id, salt) — the
      // reproducible global shuffle a trainer reads. Re-running on the
      // same corpus reproduces the same order bit-for-bit regardless of
      // input partitioning.
      graft.operators.Packing.shardAssign(
        Tables(s, d).documents.select(col("doc_id"), col("source")),
        "doc_id", nShards = 8)
        .select(col("doc_id"), col("source"), col("shard"), col("pos"))
    },

    "q71_sequence_pack" -> { (s, d) =>
      // Sequence packing (concatenate-and-cut, splitting allowed): docs
      // concatenate in shard-shuffle order, the token stream cuts every
      // 1024 tokens; each doc reports its stream offset, first sequence,
      // and span — what a packed-example shard writer materializes.
      val docs = Tables(s, d).documents
        .select(col("doc_id"), size(TextFns.words(col("text"))).cast("long").as("n_tokens"))
      val sharded = Packing.shardAssign(docs, "doc_id", nShards = 8)
      Packing.packSequences(sharded, "n_tokens", budget = 1024L)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start_tok"), col("seq_id"), col("n_seqs_spanned"))
    },

    "q72_pack_write" -> { (s, d) =>
      // The real last mile past q71: materialize one row PER PACKED
      // SEQUENCE — slice count, token count, first/last doc in stream
      // order — from the exploded per-(doc, sequence) slices a shard
      // writer serializes. Oracle re-derives the whole layout (shard →
      // offsets → cuts → slices) and re-aggregates; every sequence must
      // carry exactly 1024 tokens except each shard's tail.
      val docs = Tables(s, d).documents
        .select(col("doc_id"), size(TextFns.words(col("text"))).cast("long").as("n_tokens"))
      val sharded = Packing.shardAssign(docs, "doc_id", nShards = 8)
      val packed = Packing.packSequences(sharded, "n_tokens", budget = 1024L)
      Packing.packWrite(packed, "doc_id", "n_tokens", budget = 1024L)
        .select(col("shard"), col("seq_id"), col("n_slices"), col("seq_tokens"),
          col("first_doc"), col("last_doc"))
    },

    "q73_image_quarantine" -> { (s, d) =>
      // The failure path of q68, driver-gated: 1 in 20 payloads is
      // deliberately corrupt — ids ≡ 0 (mod 40) carry garbage no codec
      // claims, ids ≡ 20 (mod 40) a payload TRUNCATED past its magic
      // bytes (a reader claims it, then hits EOF reading the header) —
      // and exactly those rows must come back quarantined
      // (decoded=false, no dimensions) instead of failing the stage.
      import s.implicits._
      val ids = Tables(s, d).documents.select(col("doc_id")).as[Long]
      val payloads = ids.mapPartitions { rows =>
        rows.map { id =>
          val fmt = if (id % 2 == 0) "png" else "bmp"
          val good = Multimodal.encodeTestImage(
            id, width = 8 + (id % 64).toInt, height = 4 + (id % 32).toInt, fmt)
          val bytes =
            if (id % 40 == 0) s"not-an-image-$id".getBytes("UTF-8")
            else if (id % 40 == 20) good.take(16)
            else good
          (id, bytes)
        }
      }.toDF("doc_id", "payload")
      Multimodal.decodeImages(s, payloads).toDF()
        .select(col("doc_id"),
          when(col("decoded"), col("format")).otherwise(lit("unknown")).as("format"),
          when(col("decoded"), col("width")).as("width"),
          when(col("decoded"), col("height")).as("height"),
          col("decoded"))
    },

    "q74_stream_neardup" -> { (s, d) =>
      // First driver-gated STREAMING row: the corpus arrives as three
      // deterministic micro-batches (doc_id mod 3) through a MemoryStream
      // into nearDupSink; each batch is deduped only against the
      // accumulated store (per-batch cost ∝ batch + candidates, never
      // corpus). The returned frame is the sink's final pairs store. The
      // oracle is the BATCH pipeline (q21's SQL): a pair lands exactly
      // once, at the batch of its later member — so the accumulated store
      // must equal the batch result, and detected_batch must equal
      // greatest(id_a mod 3, id_b mod 3). The driver-side collect feeds
      // the in-memory source; production sources (Kafka, files) stream
      // partition-wise. The fixture is capped at a FIXED doc count: the
      // gate proves the streaming semantics (batch equivalence, replay
      // attribution), while per-batch scaling is q46's territory (and the
      // corpus-growth ScaleProbe main's, last in eb05765:
      // evidence/SCALEPROBE_r05.jsonl; the sink's jobs per batch come from
      // `perfbench/run.py --trace 1`) — an uncapped MemoryStream gate would
      // just re-measure minhash.
      import s.implicits._
      val docs = nearDupDocs(s, d, "q74")
      val dir = gateDir("q74")
      val input = MemoryStream[(Long, String)](s)
      runStream(startNearDupSink(input, dir)) { q =>
        feed(q, input, (0 until 3).map(b => docs.filter(_._1 % 3 == b)))
      }
      readPairs(s, dir)
    },

    "q75_ivf_recall" -> { (s, d) =>
      // Gate the TRAINED IVF path (q41 gates seed centroids only):
      // kMeansCentroids → ivfTopKWith, audited against q24's brute-force
      // truth over 50 queries. Training is deterministic AND
      // cross-engine replayable (rounded-cosine assignment, id
      // tiebreaks, 1e-6-rounded element-wise means), so the oracle
      // re-runs the SAME three unrolled Lloyd iterations in DuckDB and
      // recomputes every per-query hit count EXACTLY — n_hits is a raw
      // oracle-checked value, not a generous bound, so a regression that
      // halves recall (bad assignment rounding, wrong nProbe routing)
      // changes values instead of hiding under a flag. recall_ge_half
      // is an AUDIT LABEL, not a pass bar: mean recall@10 is ~0.65 at
      // sf0.01 with nProbe=4/16 and a few tail queries legitimately sit
      // below 0.5 — the gate is the exact n_hits match, which both
      // engines must reproduce value-for-value.
      val emb = Tables(s, d).embeddings
      val queries = emb.where(col("vec_id") < 50)
      val exact = Similarity.cosineTopK(queries, emb, "vec_id", "embedding", 10)
      val cents = Similarity.kMeansCentroids(emb, "vec_id", "embedding", k = 16, iters = 3)
      val ivf = Similarity.ivfTopKWith(queries, emb, "vec_id", "embedding",
        k = 10, nProbe = 4, centroids = cents)
      val overlap = exact.as("e").join(ivf.as("i"),
          col("e.query_id") === col("i.query_id") &&
            col("e.neighbor_id") === col("i.neighbor_id"), "left")
        .groupBy(col("e.query_id").as("query_id"))
        .agg(count(col("i.neighbor_id")).as("n_hits"))
      val top1 = exact.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("exact_top1"))
      top1.join(overlap, Seq("query_id"))
        .select(col("query_id"), col("exact_top1"), col("n_hits"),
          (col("n_hits") >= 5).as("recall_ge_half"))
    },

    "q76_simhash_wide" -> { (s, d) =>
      // The scale-shaped simhash path, driver-gated: q33's 16-bit
      // signature exists only so DuckDB can replay it, and its 16
      // pigeonhole buckets per chunk DEGENERATE at scale (69M pair rows
      // at sf1 — SURVEY §5). 60 bits is the widest signature md5 can
      // carry in a signed long, so this is the widest ORACLE-CHECKABLE
      // form: 15-bit chunks (32 768 buckets each) keep candidates sparse
      // like the 64-bit production default, and the same brute-force
      // DuckDB oracle stays cheap because the OUTPUT is small.
      Similarity.simHashNearDups(Tables(s, d).documentsSpread, "doc_id", "text",
        nBits = 60, maxHamming = 3)
    },

    "q77_dup_spans" -> { (s, d) =>
      // Substring-granular exact dedup (the span-level "dedup training
      // data" pass): every 10-word window is hashed corpus-wide; a doc
      // reports how many of its windows occur more than once anywhere.
      // Catches verbatim quotation/boilerplate INSIDE otherwise-distinct
      // docs — the case document-level dedup (q20) and near-dup pairs
      // (q21) both miss.
      graft.operators.Dedup.duplicatedSpans(
        Tables(s, d).documentsSpread, "doc_id", "text", spanWords = 10)
        .select(col("id").as("doc_id"), col("n_spans"), col("n_dup_spans"),
          col("dup_fraction"))
    },

    "q78_stream_upsert" -> { (s, d) =>
      // Streaming SCD1 upsert sink, driver-gated: per-user profile
      // updates (latest event value) arrive as three deterministic
      // micro-batches (event_id mod 3, one row per user per batch —
      // coalesceMerge's one-update-per-key contract) through upsertSink's
      // write-then-swap parquet snapshot. The final snapshot must hold,
      // for every user, the value of their latest (ts, event_id) event
      // within the HIGHEST batch that saw them — which the oracle ranks
      // directly. Fixture capped to a fixed user set, so cost is
      // constant at every SF.
      import s.implicits._
      val ev = collectCapped[Valued](cappedEvents(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value")))
      val dir = gateDir("q78")
      val input = MemoryStream[(Long, Double)](s)
      val updates = input.toDF().toDF("uid", "worth")
      runStream(StreamOps.upsertSink(updates, s"$dir/snapshot",
          "uid", Map("worth" -> "worth"), s"$dir/ckpt")) { q =>
        feed(q, input, (0 until 3).map(upsertBatch(ev, _)))
      }
      s.read.parquet(s"$dir/snapshot")
        .select(col("id").as("user_id"), col("worth"))
    },

    "q79_stream_funnel" -> { (s, d) =>
      // Streaming ordered funnel, driver-gated: fMGWS emits a row the
      // moment a user first reaches each stage. Its monotone emit-once
      // semantics equal the batch form (q59's stage times) whenever
      // batches arrive in event-time order — so the fixture splits the
      // ts-sorted event log into three chronological chunks, and the
      // oracle is the batch sequential-min construction emitted as hit
      // rows. Fixture capped to a fixed user set (constant cost per SF).
      import s.implicits._
      val ev = collectCapped[(Long, Timestamp, String)](cappedEvents(s, d)
          .select(col("user_id"), col("ts"), col("event_type")))
        .sortBy(r => (us(r._2), r._1, r._3))
      val input = MemoryStream[FunnelEvent](s)
      val out = StreamOps.funnelStream(input.toDS(), Seq("view", "click", "purchase"))
      val dir = gateDir("q79")
      runStream(appendParquet(out, dir, "hits")) { q =>
        feedThirds(q, input, ev.map(r => FunnelEvent(r._1, r._2, r._3)))
      }
      s.read.parquet(s"$dir/hits")
        .select(col("user_id"), col("funnel_stage"), col("stage_order"), col("ts"))
    },

    "q80_stream_sessionize" -> { (s, d) =>
      // Fourth driver-gated streaming row, and the flagship stateful op:
      // event-time sessionization via flatMapGroupsWithState with
      // event-time timeouts. Sessions only EMIT when the watermark passes
      // their gap horizon, so the fixture appends two far-future sentinel
      // events (a user outside the capped set): the first advances the
      // watermark past every real session's horizon, the second triggers
      // the timeout pass that flushes them. With ts-ordered batches the
      // emitted sessions must equal the batch gap-split exactly — q19's
      // oracle construction, restricted to the fixture users.
      import s.implicits._
      val ev = collectCapped[(Long, Timestamp, Double)](cappedEvents(s, d)
          .select(col("user_id"), col("ts"), col("value")))
        .sortBy(r => (us(r._2), r._1))
      val maxUs = ev.map(r => us(r._2)).max
      val input = MemoryStream[Event](s)
      val out = StreamOps.sessionize(input.toDS(),
        gapSeconds = 1800, watermarkDelay = "10 seconds")
      val dir = gateDir("q80")
      runStream(appendParquet(out, dir, "sessions")) { q =>
        feedThirds(q, input, ev.map(r => Event(r._1, r._2, r._3)))
        // gap + delay + margin past the last real event
        flushSentinels(q, input, maxUs + 3600L * 1000000L + 60000000L)(Event(-1L, _, 0.0))
      }
      readSessions(s, dir)
    },

    "q81_stream_rollup" -> { (s, d) =>
      // Watermarked tumbling-window rollup, driver-gated: per-(hour,
      // event_type) counts/sums over ts-ordered batches. Windows emit
      // only when the watermark passes their end, so the same sentinel
      // flush as q80 finalizes every real window; the oracle is the
      // batch date_trunc rollup (Spark's '1 hour' windows are
      // epoch-aligned, i.e. exactly date_trunc).
      import s.implicits._
      val ev = collectCapped[(Timestamp, String, Double)](cappedEvents(s, d)
          .select(col("ts"), col("event_type"), col("value")))
        .sortBy(r => (us(r._1), r._2))
      val maxUs = ev.map(r => us(r._1)).max
      val input = MemoryStream[(Timestamp, String, Double)](s)
      val out = StreamOps.windowedRollup(
        input.toDF().toDF("ts", "event_type", "value"),
        "ts", "event_type", "value", "1 hour", "10 seconds")
      val dir = gateDir("q81")
      runStream(appendParquet(out, dir, "rollup")) { q =>
        feedThirds(q, input, ev)
        flushSentinels(q, input, maxUs + 7200000000L)((_, "__sentinel", 0.0))
      }
      readRollup(s, dir)
    },

    "q82_stream_dedup" -> { (s, d) =>
      // Streaming dedup within the watermark horizon, driver-gated: every
      // chunk is fed TWICE (duplicates inside and across micro-batches),
      // and the deduped stream must collapse to exactly the distinct
      // event set — the oracle is a plain DISTINCT. Dedup is a stateful
      // filter, not an aggregation: rows emit immediately, no sentinel
      // flush needed.
      import s.implicits._
      val ev = collectCapped[Valued](cappedEvents(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("value")))
        .sortBy(r => (us(r._2), r._1))
      val input = MemoryStream[Valued](s)
      val out = StreamOps.dedupByIdWithinWatermark(
        input.toDF().toDF("event_id", "ts", "user_id", "value"),
        "ts", "event_id", "1 hour")
      val dir = gateDir("q82")
      runStream(appendParquet(out, dir, "deduped")) { q =>
        // each chunk's first delivery, then its exact re-delivery
        feed(q, input, thirds(ev).flatMap(c => Seq(c, c)))
      }
      s.read.parquet(s"$dir/deduped")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    },

    "q83_stream_enrich" -> { (s, d) =>
      // Stream-static enrichment, driver-gated: streaming purchase facts
      // left-joined per micro-batch against the static customer dim (the
      // streaming form of q05's enrichment; the static side re-plans per
      // batch, broadcast when it fits). Join output emits immediately, so
      // the full fed stream must equal the batch left join.
      import s.implicits._
      val ev = collectCapped[(Long, Long, Double)](cappedEvents(s, d)
          .where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value")))
        .sortBy(_._1)
      val input = MemoryStream[(Long, Long, Double)](s)
      val out = StreamOps.enrichStream(
        input.toDF().toDF("event_id", "user_id", "value"),
        Tables(s, d).customer, "user_id", "c_custkey", Seq("c_mktsegment", "c_acctbal"))
      val dir = gateDir("q83")
      runStream(appendParquet(out, dir, "enriched")) { q =>
        feedThirds(q, input, ev)
      }
      s.read.parquet(s"$dir/enriched")
        .select(col("event_id"), col("user_id"), col("value"),
          col("c_mktsegment"), col("c_acctbal"))
    },

    "q84_stream_interval_join" -> { (s, d) =>
      // Watermarked stream-stream interval join (the streaming twin of
      // the q09 as-of match), driver-gated: views and clicks arrive as
      // parallel ts-ordered chunk pairs; every (view, click) pair with
      // click in (view_ts, view_ts + 30 min] must emit exactly once.
      // Inner joins emit on match (no watermark wait), and with
      // ts-ordered feeds state eviction provably can't drop a pair: a
      // view is evicted only once the watermark passes view_ts + horizon,
      // by which point every qualifying click has already arrived.
      val (views, clicks) = viewsAndClicks(s, d)
      val (vIn, cIn, joined) = joinViewsClicks(s)(StreamOps.intervalJoinStream(_, _,
        "user_id", "ts", horizonSeconds = 1800, watermarkDelay = "10 seconds"))
      val dir = gateDir("q84")
      runStream(appendParquet(joined, dir, "matches")) { q =>
        feedPaired(q, vIn, cIn, views, clicks)
      }
      s.read.parquet(s"$dir/matches")
        .select(col("view_id"), col("user_id"), col("view_ts"),
          col("click_id"), col("click_ts"))
    },

    "q85_doc_chunking" -> { (s, d) =>
      // Long-document chunking with stride overlap (width 64, stride 32):
      // the per-doc trainer-prep layout where each example is ONE chunk
      // with full context — the complement of q71/q72's
      // concatenate-and-cut. Zero shuffles: a pure projection the oracle
      // replays with list slicing.
      Packing.chunkDocs(Tables(s, d).documentsSpread, "doc_id", "text",
        width = 64, stride = 32)
        .select(col("doc_id"), col("chunk_idx"), col("first_tok"),
          col("n_tokens"), col("chunk_text"))
    },

    "q86_daily_update" -> { (s, d) =>
      // The reference's actual product, end to end: daily_update_script →
      // update_etl's ordered stage list, run INCREMENTALLY day over day
      // (terminal-ts pull → derive → upsert; etl_utls.py:328 +
      // update_etl.py:20-1213 stage order) via pipeline/DailyUpdate. The
      // fixture splits a capped event log at its midpoint timestamp: run
      // 1 sees only day-1 events, run 2 the full log — its fact load must
      // resume from the terminal ts and APPEND exactly the delta, and the
      // whole 25-stage derived chain re-runs in reference order both
      // days. The returned frame is the final fact table read back from
      // disk; the oracle is the batch clean build over the full capped
      // log, so a delta that drops, duplicates, or re-truncates rows
      // hash-mismatches. Derived stages are declarative full rebuilds
      // (exactly the reference's daily semantics) whose per-stage content
      // is already oracle-gated at full SF by their own q-rows; the
      // incremental surface — and therefore this gate's content — is the
      // fact load. Capped fixture (user_id < 150, dims semi-joined to
      // it) → constant cost at every SF, the streaming-gate convention.
      val out = dailyPipelineFixtureRun(s, d)
      // d cast DATE→TIMESTAMP per the §5 convention (parquet DATE reaches
      // the pandas compare as `object`, DuckDB DATE as `datetime64`)
      s.read.parquet(s"$out/fact_events_clean")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("d").cast("timestamp").as("d"))
    },

    "q92_daily_derived" -> { (s, d) =>
      // The r06 verdict's one unhashed surface: q86 gates the incremental
      // FACT table, but a wiring bug INSIDE the two-day composition that
      // fed a derived stage a stale path would only have shown as a row
      // count. This gate re-runs the identical two-day fixture pipeline
      // and returns a DERIVED table — trading_roi, the as-of-join stage
      // deep in the reference chain (update_etl.py:635 inside
      // daily_update_script.py's order) — read back from out/ AFTER the
      // day-2 run. The oracle is q09's construction over the capped
      // fixture, so a stage run against day-1 state, a stale path, or a
      // partial overwrite hash-mismatches. Deliberately a separate q-row
      // from q86 (not a widened return frame): each gate's oracle stays
      // one table, and the fixture cost is constant at every SF.
      val out = dailyPipelineFixtureRun(s, d)
      s.read.parquet(s"$out/trading_roi")
        .select(col("user_id"), col("buy_event_id"), col("buy_ts"),
          col("buy_value"), col("sell_event_id"), col("sell_ts"),
          col("sell_value"), col("gain"))
    },

    "q87_stream_late_data" -> { (s, d) =>
      // The OTHER half of the streaming contract, previously spec-only:
      // watermark LATE-DATA drops. q74/q78–q84 all feed in event-time
      // order (the regime where emit-once ≡ batch); here every 7th event
      // is WITHHELD from its natural position and delivered only after
      // the watermark has advanced past the stream's end. The drop rule
      // is deterministic and pinned by LateDataRuleSpec: a late row is
      // discarded iff its WINDOW END <= the watermark (max on-time ts
      // minus the 10 s delay) — late rows landing in a still-open window
      // are accepted. The oracle is the batch rollup over exactly the
      // non-dropped rows under that rule, so both the drop AND the
      // accept path must match bit-for-bit. (The boundary case
      // window_end == watermark needs max(ts) to land exactly on
      // hh:00:10.000000 — not constructible from this fixture's µs
      // timestamps; LateDataRuleSpec pins it with a crafted ms-aligned
      // fixture: dropped at exact equality.)
      import s.implicits._
      val ev = collectCapped[(Long, Timestamp, String, Double)](cappedEvents(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value")))
      val (delayed, onTime) = ev.partition(_._1 % 7 == 0)
      val ordered = onTime.sortBy(r => (us(r._2), r._1))
      val maxUs = ev.map(r => us(r._2)).max
      val input = MemoryStream[(Timestamp, String, Double)](s)
      val out = StreamOps.windowedRollup(
        input.toDF().toDF("ts", "event_type", "value"),
        "ts", "event_type", "value", "1 hour", "10 seconds")
      val dir = gateDir("q87")
      runStream(appendParquet(out, dir, "rollup")) { q =>
        feedThirds(q, input, ordered.map(r => (r._2, r._3, r._4)))
        // the straggler batch: every withheld event at once, long after
        // its event time — the watermark is already at max(on-time)-10s
        if (delayed.nonEmpty) {
          input.addData(delayed.sortBy(r => (us(r._2), r._1))
            .map(r => (r._2, r._3, r._4)): _*)
          q.processAllAvailable()
        }
        flushSentinels(q, input, maxUs + 7200000000L)((_, "__sentinel", 0.0))
      }
      readRollup(s, dir)
    },

    "q93_stream_late_sessionize" -> { (s, d) =>
      // Late data against a STATEFUL op (q87 covers the windowed agg):
      // every user's LAST event — max by (ts, event_id) — is WITHHELD
      // from the on-time feed and delivered in one straggler batch after
      // the watermark (1-hour delay) has advanced to max(on-time) - 1h.
      // fMGWS's late filter then splits that batch deterministically
      // under the rule LateDataRuleSpec pins: a late row is DROPPED iff
      // ts <= watermark, ACCEPTED iff ts > it (the stream's final hour),
      // and an accepted row merges into (or reopens) its user's session
      // exactly as the batch gap-split would place it — it is its user's
      // latest event, so arrival order equals event-time order for that
      // user and the emit-once semantics stay equal to batch. The oracle
      // is the batch sessionization over exactly the non-dropped set.
      import s.implicits._
      val ev = collectCapped[Valued](cappedEvents(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value")))
      val withheldIds = ev.groupBy(_._3).map { case (_, rows) =>
        rows.maxBy(r => (us(r._2), r._1))._1
      }.toSet
      val (delayed, onTime) = ev.partition(r => withheldIds(r._1))
      val ordered = onTime.sortBy(r => (us(r._2), r._1))
      val maxOnTimeUs = ordered.map(r => us(r._2)).max
      // the sentinel flush must clear the GLOBAL max: accepted late rows
      // push session horizons past the on-time max (an on-time-based
      // sentinel left the 8 latest accepted sessions un-flushed in state)
      val maxAllUs = ev.map(r => us(r._2)).max
      // both rule paths must actually be exercised: wm = max(on-time)-1h,
      // drops are ts <= wm, accepts ts > wm (LateDataRuleSpec's rule)
      val wmUs = (maxOnTimeUs / 1000 - 3600000L) * 1000
      require(delayed.exists(r => us(r._2) <= wmUs),
        "q93 fixture must drop at least one late row")
      require(delayed.exists(r => us(r._2) > wmUs),
        "q93 fixture must accept at least one late row")
      val input = MemoryStream[Event](s)
      val out = StreamOps.sessionize(input.toDS(),
        gapSeconds = 1800, watermarkDelay = "1 hour")
      val dir = gateDir("q93")
      runStream(appendParquet(out, dir, "sessions")) { q =>
        feedThirds(q, input, ordered.map(r => Event(r._3, r._2, r._4)))
        // the straggler batch: every withheld last event at once
        input.addData(delayed.sortBy(r => (us(r._2), r._1)).map(r =>
          Event(r._3, r._2, r._4)): _*)
        q.processAllAvailable()
        // gap + delay + margin past the last event
        flushSentinels(q, input,
          maxAllUs + 1800L * 1000000L + 3600L * 1000000L + 60000000L)(Event(-1L, _, 0.0))
      }
      readSessions(s, dir)
    },

    "q89_stream_recovery" -> { (s, d) =>
      // Crash-recovery, end to end from the checkpoint (StreamOpsSpec
      // covers the stranded-snapshot restore within ONE query; this gate
      // kills the QUERY itself): q78's fixture runs two of its three
      // batches through upsertSink, the query is STOPPED, the mid-swap
      // crash state is simulated (live snapshot renamed away to
      // `Formats.oldPath` — exactly what a death between the two swap
      // renames leaves), and a NEW
      // query starts from the same checkpoint to process batch 3. The
      // restarted sink must first restore the stranded snapshot, then
      // merge the final batch; the result must equal the uninterrupted
      // run — q78's oracle verbatim. Proves checkpoint replay + swap
      // recovery compose, not just each half in isolation.
      import s.implicits._
      val ev = collectCapped[Valued](cappedEvents(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value")))
      val dir = gateDir("q89")
      val target = s"$dir/snapshot"
      val input = MemoryStream[(Long, Double)](s)
      val updates = input.toDF().toDF("uid", "worth")
      def startSink() = StreamOps.upsertSink(updates, target,
        "uid", Map("worth" -> "worth"), s"$dir/ckpt")
      runStream(startSink())(feed(_, input, (0 until 2).map(upsertBatch(ev, _))))
      // the crash window: target promoted away but tmp never landed
      val fs = Formats.fileSystem(s, target)
      val stranded = new org.apache.hadoop.fs.Path(Formats.oldPath(target))
      require(fs.rename(new org.apache.hadoop.fs.Path(target), stranded),
        s"q89 fixture: failed to strand the snapshot at $stranded")
      // restart from the SAME checkpoint; MemoryStream retains its data,
      // so the new query resumes from the last committed offset
      runStream(startSink())(feed(_, input, Seq(upsertBatch(ev, 2))))
      require(!fs.exists(stranded),
        "q89: the stranded snapshot must be cleaned up after recovery")
      s.read.parquet(target)
        .select(col("id").as("user_id"), col("worth"))
    },

    "q94_stream_sessionize_recovery" -> { (s, d) =>
      // Crash-recovery of STATE, not just sink (q89 gates upsertSink's
      // checkpoint+swap; there the state lives in the parquet snapshot):
      // sessionize's open sessions live in the state STORE under the
      // checkpoint. q80's fixture runs two of its three chunks through
      // query 1, the query is STOPPED with hundreds of sessions mid-gap
      // in state, and a NEW query resumes from the same checkpoint for
      // chunk 3 + sentinels. A restore that lost or double-loaded state
      // would split or duplicate every session spanning the kill point —
      // the oracle is q80's batch gap-split verbatim, so the interrupted
      // run must be indistinguishable from an uninterrupted one.
      import s.implicits._
      val ev = collectCapped[(Long, Timestamp, Double)](cappedEvents(s, d)
          .select(col("user_id"), col("ts"), col("value")))
        .sortBy(r => (us(r._2), r._1))
      val maxUs = ev.map(r => us(r._2)).max
      val chunks = thirds(ev.map(r => Event(r._1, r._2, r._3)))
      val input = MemoryStream[Event](s)
      val dir = gateDir("q94")
      def start() = appendParquet(StreamOps.sessionize(input.toDS(),
        gapSeconds = 1800, watermarkDelay = "10 seconds"), dir, "sessions")
      runStream(start())(feed(_, input, chunks.take(2)))
      // the kill point must land mid-stream: some sessions already
      // emitted, the rest still open in the state store
      val nMid = s.read.parquet(s"$dir/sessions").count()
      require(nMid > 0, "q94: first query must emit some sessions before the kill")
      runStream(start()) { q =>
        feed(q, input, chunks.drop(2))
        flushSentinels(q, input, maxUs + 3600L * 1000000L + 60000000L)(Event(-1L, _, 0.0))
      }
      val out = readSessions(s, dir)
      require(out.count() > nMid,
        "q94: the resumed query must emit the sessions restored from state")
      out
    },

    "q90_backfill" -> { (s, d) =>
      // Gap-driven backfill, the reference's backfill.py (loop
      // check_table_for_date_gaps → per-date delete+reload), driver-gated:
      // a date-partitioned daily rollup is materialized MISSING a
      // deterministic subset of its dates (day-of-month % 7 == 3 — the
      // holes), then `DailyUpdate.backfillDates` diffs the partition
      // calendar against the full frame and recomputes ONLY the missing
      // dates via dynamic partition overwrite. The requires pin the
      // contract (exactly the holes get written; a re-run backfills
      // nothing); the oracle checks the healed table equals the batch
      // rollup over everything — a backfill that rewrote or skipped a
      // partition diverges. Capped fixture → constant cost at every SF.
      val rollup = dailyRollup(s, d)
      val holes = rollup.select(col("d")).distinct()
        .where(dayofmonth(col("d")) % 7 === 3)
        .collect().map(_.getDate(0)).toSet // bounded by calendar days
      require(holes.nonEmpty, "q90 fixture must have at least one hole date")
      val target = s"${gateDir("q90")}/rollup"
      graft.sources.Formats.writePartitioned(
        rollup.where(!col("d").isin(holes.toSeq: _*)), target, Seq("d"))
      val filled = graft.pipeline.DailyUpdate.backfillDates(s, rollup, "d", target)
      require(filled.toSet == holes,
        s"backfill must write exactly the missing dates: got $filled, want $holes")
      require(graft.pipeline.DailyUpdate.backfillDates(s, rollup, "d", target).isEmpty,
        "backfill must be idempotent: second run found missing dates")
      s.read.parquet(target)
        .select(col("user_id"), col("d").cast("timestamp").as("d"),
          col("n_events"), col("total_value"))
    },

    "q95_landing_stream" -> { (s, d) =>
      // The last spec-only source edge, driver-gated: the
      // landing-directory JSONL stream (`Formats.readJsonlStream`, the
      // reference's load_metadata_json_daemon.py analog — a daemon
      // polling a directory for new JSON documents). Three deterministic
      // waves of files (event_id mod 3) land in a watched directory; the
      // stream must discover EACH wave incrementally (require-pinned
      // cumulative counts per wave — a source that re-reads old files or
      // misses new ones fails loudly) and the final sink must hold the
      // batch read of the same rows exactly once. Columns are the q91
      // text-safe set: timestamp fidelity through text formats is a
      // formatting option, gated nowhere as a fidelity property.
      val slice = cappedEvents(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val root = landingRoot("q95")
      discoverWaves(s, "q95", slice, root, Formats.readJsonlStream(s,
          root.resolve("landing").toString, slice.schema)) { k =>
        landWave(root, k, "json")(Formats.writeJsonl(wave(slice, k), _))
      }
    },

    "q96_backfill_pipeline" -> { (s, d) =>
      // The reference's actual cron reality as ONE gate (q86 gates the
      // incremental chain, q90 backfill in isolation): daily incremental
      // fact loads run over a calendar where the MIDDLE third of dates
      // arrives late — day A sees the first third, day B everything but
      // the middle. The incremental pull can never recover those rows by
      // itself (their ts is BEHIND the terminal timestamp after day B —
      // precisely the failure backfill.py exists for), so
      // `DailyUpdate.backfillDates` diffs the partition calendar and
      // recomputes exactly the missing dates; requires pin the healed
      // set and the no-op re-run, and the oracle checks the healed fact
      // table equals the batch clean build. Derived stages are q86/q92's
      // gated surface; this gate runs the fact loads (deriveStages
      // empty), matching the reference's per-table backfill unit.
      val root = gateDir("q96")
      val (dayA, dayB, full) =
        (root.resolve("dayA"), root.resolve("dayB"), root.resolve("full"))
      Seq(dayA, dayB, full).foreach(p => JFiles.createDirectories(p))
      val ev = cappedEvents(s, d)
      ev.write.parquet(s"$full/events.parquet")
      // terciles over the CLEAN calendar (error-only dates can never name
      // a partition, so they belong to no tercile); bounded by calendar
      // days, the backfillDates collect contract
      val cleanDates = CoreQueries.queries("q01_ingest_clean")(s, full.toString)
        .select(to_date(col("ts")).as("d")).distinct()
        .collect().map(_.getDate(0)).sortBy(_.getTime)
      require(cleanDates.length >= 3, "q96 fixture needs three distinct dates")
      val n = cleanDates.length
      val prefix = cleanDates.slice(0, n / 3).toSet
      val withheld = cleanDates.slice(n / 3, 2 * n / 3).toSet
      ev.where(to_date(col("ts")).isin(prefix.toSeq: _*))
        .write.parquet(s"$dayA/events.parquet")
      ev.where(!to_date(col("ts")).isin(withheld.toSeq: _*))
        .write.parquet(s"$dayB/events.parquet")
      val out = root.resolve("out").toString
      graft.pipeline.DailyUpdate.run(s, dayA.toString, out, deriveStages = Seq.empty)
      graft.pipeline.DailyUpdate.run(s, dayB.toString, out, deriveStages = Seq.empty)
      val factPath = s"$out/fact_events_clean"
      val fullClean = CoreQueries.queries("q01_ingest_clean")(s, full.toString)
        .withColumn("d", to_date(col("ts")))
      val healed = graft.pipeline.DailyUpdate.backfillDates(s, fullClean, "d", factPath)
      require(healed.toSet == withheld,
        s"backfill must heal exactly the late dates: got $healed, want $withheld")
      require(graft.pipeline.DailyUpdate.backfillDates(s, fullClean, "d", factPath).isEmpty,
        "backfill must be a no-op once healed")
      s.read.parquet(factPath)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("d").cast("timestamp").as("d"))
    },

    "q97_stream_late_funnel" -> { (s, d) =>
      // Arrival-order robustness for the NoTimeout stateful op: the
      // funnel carries NO watermark, so late rows always reach the
      // machine and the contract is MONOTONE emit-once (a regressive
      // late event is ignored — pinned by LateDataRuleSpec's funnel
      // case). This gate feeds q79's fixture with every user's LAST
      // event withheld into one straggler batch: per user, arrival order
      // still equals event-time order, so the machine must land exactly
      // the batch sequential-min funnel (q79's oracle verbatim) while
      // the harness exercises cross-user late interleaving and state
      // continuation across the idle gap.
      import s.implicits._
      val ev = collectCapped[(Long, Timestamp, String)](cappedEvents(s, d)
        .select(col("user_id"), col("ts"), col("event_type")))
      val withheldKeys = ev.groupBy(_._1).map { case (u, rows) =>
        val last = rows.maxBy(r => (us(r._2), r._3))
        (u, us(last._2), last._3)
      }.toSet
      val (delayed, onTime) =
        ev.partition(r => withheldKeys((r._1, us(r._2), r._3)))
      val ordered = onTime.sortBy(r => (us(r._2), r._1, r._3))
      val input = MemoryStream[FunnelEvent](s)
      val out = StreamOps.funnelStream(input.toDS(), Seq("view", "click", "purchase"))
      val dir = gateDir("q97")
      runStream(appendParquet(out, dir, "hits")) { q =>
        feedThirds(q, input, ordered.map(r => FunnelEvent(r._1, r._2, r._3)))
        input.addData(delayed.toSeq.sortBy(r => (us(r._2), r._1, r._3)).map(r =>
          FunnelEvent(r._1, r._2, r._3)): _*)
        q.processAllAvailable()
      }
      s.read.parquet(s"$dir/hits")
        .select(col("user_id"), col("funnel_stage"), col("stage_order"), col("ts"))
    },

    "q98_stream_late_dedup" -> { (s, d) =>
      // Late data against the streaming dedup (the third stateful class
      // after q87's windowed agg and q93's fMGWS): every 7th event is
      // withheld past the watermark (1-hour delay) and delivered in one
      // straggler batch. dropDuplicatesWithinWatermark's late filter is
      // the non-strict rule LateDataRuleSpec pins — dropped iff
      // ts <= watermark — so the surviving stream must be exactly the
      // on-time rows plus the withheld rows from the stream's final
      // hour. Ids are unique, so the dedup state itself never suppresses
      // a row: divergence isolates the late filter.
      import s.implicits._
      val ev = collectCapped[Valued](cappedEvents(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value")))
      val (delayed, onTime) = ev.partition(_._1 % 7 == 0)
      val ordered = onTime.sortBy(r => (us(r._2), r._1))
      val wmUs = (ordered.map(r => us(r._2)).max / 1000 - 3600000L) * 1000
      require(delayed.exists(r => us(r._2) <= wmUs),
        "q98 fixture must drop at least one late row")
      require(delayed.exists(r => us(r._2) > wmUs),
        "q98 fixture must accept at least one late row")
      val input = MemoryStream[Valued](s)
      val out = StreamOps.dedupByIdWithinWatermark(
        input.toDF().toDF("event_id", "ts", "user_id", "value"),
        "ts", "event_id", "1 hour")
      val dir = gateDir("q98")
      runStream(appendParquet(out, dir, "deduped")) { q =>
        feedThirds(q, input, ordered)
        input.addData(delayed.sortBy(r => (us(r._2), r._1)): _*)
        q.processAllAvailable()
      }
      s.read.parquet(s"$dir/deduped")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    },

    "q99_stream_late_interval_join" -> { (s, d) =>
      // Late data against the FOURTH stateful class (q87 windowed agg,
      // q93 fMGWS sessionize, q98 dedup): the watermarked stream-stream
      // interval join. q84 proves the in-order contract; here the CLICK
      // side arrives damaged in both directions the rule distinguishes —
      // every click from the stream's last 48 h is withheld (those land
      // AHEAD of the watermark the on-time remainder parks: all
      // accepted) and so is every 7th earlier click (those land behind
      // it: all dropped) — and delivered in one straggler batch. The
      // symmetric hash join filters late INPUT rows per side under the
      // non-strict rule LateDataRuleSpec pins (dropped iff
      // ts <= watermark; global wm = min over both sides' ms-floored
      // max minus the delay), so the output must be exactly the on-time
      // pairs plus the accepted withheld clicks' pairs. The 24 h match
      // horizon (vs q84's 30 min) makes the acceptance path OBSERVABLE
      // at every SF — the fixture's event stream is too sparse for a
      // 30 min window to pair inside a 48 h tail (measured: 0 pairs at
      // sf0.001–sf0.1). Eviction can never reach the oracle: an
      // ACCEPTED late click (ts > wm) only matches views with
      // view_ts > wm - horizon, strictly inside the kept state region
      // (the spec's pinned argument, horizon-independent), and in-order
      // zipped feeding keeps every on-time partner resident exactly as
      // q84's scaladoc argues.
      val (views, clicks) = viewsAndClicks(s, d)
      val cutUs = clicks.map(r => us(r._3)).max - 48L * 3600L * 1000000L
      val (delayed, onTime) =
        clicks.partition(r => us(r._3) > cutUs || r._1 % 7 == 0)
      val wmUs = (math.min(views.map(r => us(r._3)).max,
        onTime.map(r => us(r._3)).max) / 1000 - 10000L) * 1000
      val horizonUs = 86400L * 1000000L
      require(delayed.exists(r => us(r._3) <= wmUs),
        "q99 fixture must drop at least one late click")
      require(delayed.exists(c => us(c._3) > wmUs && views.exists(v =>
          v._2 == c._2 && us(c._3) > us(v._3) && us(c._3) <= us(v._3) + horizonUs)),
        "q99 fixture must accept at least one late click that forms a pair")
      val (vIn, cIn, joined) = joinViewsClicks(s)(StreamOps.intervalJoinStream(_, _,
        "user_id", "ts", horizonSeconds = 86400, watermarkDelay = "10 seconds"))
      val dir = gateDir("q99")
      runStream(appendParquet(joined, dir, "matches")) { q =>
        feedPaired(q, vIn, cIn, views, onTime)
        cIn.addData(delayed: _*)
        q.processAllAvailable()
      }
      s.read.parquet(s"$dir/matches")
        .select(col("view_id"), col("user_id"), col("view_ts"),
          col("click_id"), col("click_ts"))
    },

    "q100_neardup_recovery" -> { (s, d) =>
      // Crash recovery + forced REPLAY of the near-dup sink. q74 proves
      // the in-order contract and q89/q94 cover the upsert sink and the
      // sessionize state store; this gate proves the sink's claimed
      // replay idempotence (batch_id-partitioned stores + dynamic
      // partition overwrite, StreamOps.nearDupSink) under the real
      // failure mode foreachBatch is documented to surface: the batch's
      // store writes all landed but the checkpoint commit record never
      // did. Query 1 processes micro-batches 0 and 1 and is stopped;
      // batch 1's commit record is deleted from the checkpoint; the
      // restarted query re-executes batch 1 with the SAME batch id over
      // the SAME offsets (MemoryStream retains its data), so
      // foreachBatch(1) re-runs against a store that already holds
      // batch 1's output. A non-idempotent sink would double batch 1's
      // docs/bands and re-detect its pairs; the requires pin exact store
      // counts around the replay and the oracle is q74's batch SQL —
      // the interrupted-and-replayed run must be indistinguishable.
      import s.implicits._
      val docs = nearDupDocs(s, d, "q100")
      val dir = gateDir("q100")
      val input = MemoryStream[(Long, String)](s)
      runStream(startNearDupSink(input, dir))(
        feed(_, input, (0 until 2).map(b => docs.filter(_._1 % 3 == b))))
      // the crash window: batch 1's writes are on disk, its commit isn't.
      // The local checkpoint FS is checksummed, so the commit record is
      // (1, .1.crc) — both must go or the replay's rename of the fresh
      // record trips over the stale CRC
      val commit1 = new java.io.File(s"$dir/ckpt/commits/1")
      require(commit1.isFile, s"q100: expected a commit record at $commit1")
      require(commit1.delete(), "q100: failed to delete batch 1's commit record")
      val crc1 = new java.io.File(s"$dir/ckpt/commits/.1.crc")
      if (crc1.isFile) require(crc1.delete(), "q100: failed to delete the commit CRC")
      def docsInStore() = s.read.parquet(s"$dir/store/docs").count()
      val afterKill = docsInStore()
      require(afterKill == docs.count(_._1 % 3 < 2),
        s"q100: store must hold exactly batches 0+1 before recovery, got $afterKill")
      runStream(startNearDupSink(input, dir))(
        feed(_, input, Seq(docs.filter(_._1 % 3 == 2))))
      require(docsInStore() == docs.length.toLong,
        "q100: the replayed batch must overwrite its partitions, not append")
      readPairs(s, dir)
    },

    "q101_parquet_landing" -> { (s, d) =>
      // The parquet landing-directory stream, driver-gated — q95 gates
      // the JSONL twin; this closes `Formats.readParquetStream`, the
      // binary-format form of the reference's directory-polling loader.
      // Same three-wave incremental-discovery contract (per-wave
      // cumulative counts require-pinned: a source that re-reads old
      // files or misses new ones fails loudly), but where q95/q91 must
      // exclude timestamps as a TEXT-format formatting concern, parquet
      // carries them in binary — so this gate INCLUDES `ts` and pins µs
      // timestamp fidelity through the landing path end to end.
      val slice = cappedEvents(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val root = landingRoot("q101")
      discoverWaves(s, "q101", slice, root, Formats.readParquetStream(s,
          root.resolve("landing").toString, slice.schema)) { k =>
        landWave(root, k, "parquet")(wave(slice, k).write.mode("overwrite").parquet(_))
      }
    },

    "q102_compaction" -> { (s, d) =>
      // Small-file compaction, driver-gated: the maintenance pass every
      // incremental pipeline in this library needs at scale (each daily
      // load / streaming sink / backfill appends files into the
      // partitions it touches; at 100 TB scan cost becomes file-open
      // cost). The fixture fragments a date-partitioned rollup — six
      // round-robin slices land up to six files in every partition, the
      // shape months of appends produce — then `Compaction.compact`
      // must rewrite EXACTLY the fragmented partitions to one file each
      // (require-pinned: the rewritten set, the final census with no
      // partition lost, and a no-op second run), and the healed table
      // must hash-equal the batch rollup.
      val rollup = dailyRollup(s, d)
      val target = s"${gateDir("q102")}/rollup"
      rollup.repartition(6).write.partitionBy("d").parquet(target)
      val before = graft.operators.Compaction.partitionFileCounts(s, target, "d")
      require(before.values.max > 1, "q102 fixture must be fragmented")
      val want = before.filter(_._2 > 1).keys.toSeq.sorted
      val done = graft.operators.Compaction.compact(s, target, "d")
      require(done == want,
        s"compaction must rewrite exactly the fragmented partitions: got $done, want $want")
      val after = graft.operators.Compaction.partitionFileCounts(s, target, "d")
      require(after.keySet == before.keySet && after.values.forall(_ == 1),
        s"every partition must end at one file with none lost: $after")
      require(graft.operators.Compaction.compact(s, target, "d").isEmpty,
        "q102: a second compaction must be a no-op")
      s.read.parquet(target)
        .select(col("user_id"), col("d").cast("timestamp").as("d"),
          col("n_events"), col("total_value"))
    },

    "q103_clustered_layout" -> { (s, d) =>
      // Range-clustered data-skipping layout, driver-gated — the third
      // leg of the layout-management triad (q88 = bucketed equi-join
      // layout, q102 = small-file compaction): `writeRangeClustered`
      // lays the slice out so every file's min/max footer statistics on
      // user_id are tight and PAIRWISE DISJOINT, which is what lets a
      // pushed range predicate skip whole row groups at read time
      // (FormatsSpec pins the runtime skip against a scattered twin:
      // 4000 rows scanned vs ≤1500). The requires pin the layout
      // invariant itself — a multi-file census whose [min,max] ranges
      // never overlap — and the oracle checks a range scan over the
      // clustered table against the batch filter, so a layout that
      // dropped, duplicated, or mis-ranged rows diverges.
      val slice = cappedEvents(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val dir = s"${gateDir("q103")}/clustered"
      graft.sources.Formats.writeRangeClustered(slice, dir, "user_id", numFiles = 8)
      val back = s.read.parquet(dir)
      val ranges = back.groupBy(input_file_name().as("f"))
        .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
        .select(col("lo"), col("hi"))
        // bounded: one row per written file (numFiles = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      require(ranges.length >= 4,
        s"q103: expected a multi-file clustered layout, got ${ranges.length} files")
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo, _)) =>
          require(hi < lo, s"q103: file key ranges overlap: ${ranges.toSeq}")
        case _ => ()
      }
      back.where(col("user_id").between(40, 79))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
    },

    "q106_zorder_layout" -> { (s, d) =>
      // Z-order (Morton) layout, driver-gated — the MULTI-column leg of
      // the data-skipping story (q103 gates single-key range clustering,
      // which leaves the second column's per-file ranges table-wide).
      // `Formats.writeZOrdered` interleaves the bit-normalized bins of
      // (user_id, event_id) into one Morton code and range-clusters on
      // it, so every file covers a small RECTANGLE of the key plane. The
      // requires pin exactly that: the mean normalized per-file footer
      // width stays cell-sized in EACH dimension — a lexicographic
      // (user_id, event_id) sort passes the user_id pin but fails the
      // event_id one, and a plain scatter fails both. The oracle checks
      // a box scan (both predicates) against the batch filter, so a
      // layout that dropped, duplicated, or mis-binned rows also
      // diverges.
      val slice = Tables(s, d).events
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val dir = s"${gateDir("q106")}/zordered"
      graft.sources.Formats.writeZOrdered(slice, dir, "user_id", "event_id",
        numFiles = 16)
      val back = s.read.parquet(dir)
      val stats = back.groupBy(input_file_name().as("f"))
        .agg(min(col("user_id")).as("alo"), max(col("user_id")).as("ahi"),
          min(col("event_id")).as("blo"), max(col("event_id")).as("bhi"))
        // bounded: one row per written file (numFiles = 16)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      require(stats.length >= 8,
        s"q106: expected a multi-file z-ordered layout, got ${stats.length} files")
      val (aLo, aHi) = (stats.map(_._1).min, stats.map(_._2).max)
      val (bLo, bHi) = (stats.map(_._3).min, stats.map(_._4).max)
      // Layout invariant, robust to the range partitioner's SAMPLED
      // boundaries (file edges jitter run to run — a fixed overlap count
      // would flake): every file must cover a small RECTANGLE, i.e. its
      // mean normalized footer-stat width stays near the quadtree cell
      // width (~1/4 at 16 files) in EACH dimension. A single-key sort
      // has mean width ~1 in the other dimension; a scatter ~1 in both.
      val (spanA, spanB) = (aHi - aLo, bHi - bLo)
      def meanWidth(f: ((Long, Long, Long, Long)) => (Long, Long), span: Long) =
        stats.map { s => val (lo, hi) = f(s); (hi - lo + 1).toDouble }.sum /
          stats.length / (span + 1).toDouble
      val (wa, wb) = (meanWidth(s => (s._1, s._2), spanA),
        meanWidth(s => (s._3, s._4), spanB))
      require(wa <= 0.45,
        s"q106: mean user_id file width must stay cell-sized, got $wa")
      require(wb <= 0.45,
        s"q106: mean event_id file width must stay cell-sized, got $wb")
      // quarter-range probe aligned to the second quadrant [1/4, 1/2) of
      // each dimension's normalized space (ceil on the lower bound so
      // integer division can't land it just below the quadrant edge)
      val (pa1, pa2) = (aLo + (spanA + 3) / 4, aLo + (spanA + 1) / 2 - 1)
      val (pb1, pb2) = (bLo + (spanB + 3) / 4, bLo + (spanB + 1) / 2 - 1)
      back.where(col("user_id").between(pa1, pa2) &&
          col("event_id").between(pb1, pb2))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
    },

    "q107_table_diff" -> { (s, d) =>
      // Table reconciliation, driver-gated (Reconcile.diff): per-partition
      // content checksums answer "is the rebuilt table equal to the
      // source, and where not?" in ONE scan of each side — the
      // verification primitive q86/q90/q96 implicitly rely on, promoted
      // to an operator (at 100 TB a row-level compare is its own
      // migration; this shuffles partitions × 4 longs). The right side is
      // the left with three deterministic injuries: the min-day partition
      // dropped (missing_right), day-15 rows thinned (differ), and a
      // +10000-day shifted slice appended (missing_left); untouched days
      // must come back `match`. The requires pin all four statuses
      // present; the oracle replays the md5-lane checksums bit-for-bit.
      val ev = Tables(s, d).events
        .select(to_date(col("ts")).as("day"), col("event_id"),
          col("user_id"), col("event_type"))
      val rowKey = concat_ws("|", col("event_id"), col("user_id"),
        col("event_type"))
      val minDay = ev.agg(min(col("day"))).head().getDate(0)
      val right = ev
        .where(!(dayofmonth(col("day")) === 15 && col("event_id") % 3 === 1) &&
          col("day") > lit(minDay))
        .unionByName(ev.where(col("event_id") % 1009 === 5)
          .withColumn("day", date_add(col("day"), 10000)))
      // persisted (r13): two actions consume it — the all-classes pin
      // and the returned frame; unpersisted, each re-ran the full
      // two-sided reconcile aggregation (bounded frame: one row per day;
      // the contract mains clear caches per query)
      val out = Caches.hold(graft.operators.Reconcile.diff(ev, right, "day", rowKey)
        .select(col("day").cast("timestamp").as("day"),
          col("l_n_rows"), col("r_n_rows"), col("status")))
      val statuses = out.select(col("status")).distinct()
        // bounded: distinct status labels (<= 4 classes)
        .collect().map(_.getString(0)).toSet
      require(Set("match", "differ", "missing_left", "missing_right")
          .subsetOf(statuses),
        s"q107: every diff class must appear in the fixture, got $statuses")
      out
    },

    "q105_bloom_prune" -> { (s, d) =>
      // Bloom-filter scan pruning, driver-gated: the flagged-key fact
      // filter (q69's exclusion shape, q51's semi-join shape) with a
      // fixed-size bloom sketch pushed IN FRONT of the shuffle
      // (Pruning.bloomPrunedSemiJoin — Spark's own runtime-filter
      // machinery driven by an explicit key set). The requires pin the
      // sketch's two contracts: the prefilter alone is a SUPERSET of the
      // exact semi-join (false negatives impossible) and it genuinely
      // prunes (a broken sketch that degenerates to "keep everything"
      // fails loudly, not silently). The oracle is the exact semi-join —
      // a false positive surviving the verify join hash-mismatches.
      val t = Tables(s, d)
      val fact = t.events
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
      val keys = t.customer.where(col("c_custkey") % 37 === 0)
        .select(col("c_custkey"))
      val bloom = graft.operators.Pruning.buildBloom(keys, "c_custkey",
        expectedItems = 4096L, fpp = 0.01)
      // persisted (r13): `pre` feeds the kept-count pin AND the verify
      // join (bloom would otherwise evaluate over the fact scan twice),
      // `result` feeds the exact-count pin AND the returned frame.
      // Gate-pin residency only — the Pruning operator itself persists
      // nothing; the contract mains clear caches per query.
      val pre = Caches.hold(graft.operators.Pruning.bloomPrefilter(fact, "user_id", bloom))
      val result = Caches.hold(pre.join(keys, pre("user_id") === col("c_custkey"), "left_semi"))
      val (total, kept, exact) = (fact.count(), pre.count(), result.count())
      require(kept >= exact,
        s"q105: bloom prefilter must be a superset of the semi-join ($kept < $exact)")
      require(kept < total / 2,
        s"q105: bloom prefilter must actually prune ($kept of $total kept)")
      result
    },

    "q91_formats_roundtrip" -> { (s, d) =>
      // Interchange-format fidelity, driver-gated (the CSV/JSONL/ORC
      // readers+writers were spec-only): one capped event slice
      // round-trips through all three Formats writers and their
      // explicit-schema FAILFAST readers; the query returns the
      // read-back rows tagged by format, and the oracle is the same
      // slice crossed with the three format tags — a writer/reader that
      // drops a row, mangles a value, or shifts a type diverges on
      // exactly its tag. Doubles survive text formats bit-exactly
      // (shortest-repr toString → parse). Timestamps are excluded BY
      // DESIGN: text-format timestamp fidelity is a formatting option,
      // not a fidelity property of the engine (parquet/ORC carry µs
      // natively; the µs columns are gated everywhere else).
      val slice = cappedEvents(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val root = gateDir("q91")
      graft.sources.Formats.writeCsv(slice, s"$root/csv")
      graft.sources.Formats.writeJsonl(slice, s"$root/jsonl")
      graft.sources.Formats.writeOrc(slice, s"$root/orc")
      val schema = slice.schema
      graft.sources.Formats.readCsv(s, s"$root/csv", schema)
        .withColumn("fmt", lit("csv"))
        .unionByName(graft.sources.Formats.readJsonl(s, s"$root/jsonl", schema)
          .withColumn("fmt", lit("jsonl")))
        .unionByName(graft.sources.Formats.readOrc(s, s"$root/orc")
          .withColumn("fmt", lit("orc")))
    },

    "q88_bucketed_join" -> { (s, d) =>
      // Bucketed co-located join, promoted from spec to gate: the
      // pay-the-shuffle-once layout for repeated 100 TB joins on a
      // stable key. Both sides are written bucketed+sorted on the join
      // key into the session catalog (`Formats.writeBucketed`), then
      // sort-merge-joined with NO exchange — the plan contract is
      // asserted IN the gate (a require, so a regression fails the
      // driver row loudly, not just FormatsSpec) and the output is
      // oracle-checked against the plain join. The merge hint only pins
      // SMJ so the broadcast path can't mask a lost bucket layout.
      val t = Tables(s, d)
      val rollup = t.events.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Portable.q4(sum(col("value"))).as("total_value"))
      val dim = t.customer.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      graft.sources.Formats.writeBucketed(rollup, "graft_q88_facts",
        Seq("user_id"), numBuckets = 8, sortCols = Seq("user_id"))
      graft.sources.Formats.writeBucketed(dim, "graft_q88_dim",
        Seq("c_custkey"), numBuckets = 8, sortCols = Seq("c_custkey"))
      val f = s.table("graft_q88_facts")
      val dm = s.table("graft_q88_dim")
      val joined = f.join(dm.hint("merge"), f("user_id") === dm("c_custkey"))
        .select(f("user_id"), col("n_events"), col("total_value"),
          col("c_mktsegment"), col("c_acctbal"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free (no shuffle, no broadcast), got:\n$plan")
      joined
    },

    "q113_schema_evolution" -> { (s, d) =>
      // Merge-on-read schema evolution, driver-gated: the lake reality
      // every long-lived 100 TB table hits — old partitions were written
      // BEFORE a column existed, and rewriting history to add it is its
      // own migration. One event slice is split into a 'legacy' epoch
      // written WITHOUT event_type and an 'evolved' epoch written WITH
      // it; the gate requires the legacy footers genuinely lack the
      // column (the fixture really models evolution, not two copies of
      // one schema), then reads the whole table with mergeSchema — the
      // union-of-footers schema — so legacy rows surface the new column
      // as NULL. The oracle replays the epoch split with a CASE, so a
      // reader that drops legacy rows, fills the wrong default, or loses
      // the epoch attribution hash-mismatches. Scale shape: mergeSchema
      // is a footer-only pass (no data read) and the epoch split is the
      // partition layout the daily pipeline (q86) already writes.
      val base = cappedEvents(s, d)
      val root = gateDir("q113").toString
      base.where(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.parquet(s"$root/epoch=legacy")
      base.where(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.parquet(s"$root/epoch=evolved")
      val legacyCols = s.read.parquet(s"$root/epoch=legacy").columns.toSet
      require(!legacyCols.contains("event_type"),
        s"q113: legacy epoch must predate the column, saw $legacyCols")
      val merged = s.read.option("mergeSchema", "true").parquet(root)
      require(merged.columns.contains("event_type"),
        s"q113: merged schema must carry the evolved column, saw ${merged.columns.toSeq}")
      merged.select(col("event_id"), col("user_id"), col("value"),
        col("event_type"), col("epoch").cast("string").as("epoch"))
    },

    "q114_semdedup" -> { (s, d) =>
      // Semantic (embedding-space) deduplication, SemDeDup-style: the
      // TRAINED k-means from q75 (k=16, iters=3 — same seeds, same
      // rounded Lloyd updates, so the oracle's shared replay prefix
      // covers it) partitions the corpus into learned clusters, and
      // near-duplicates (rounded cosine >= 0.35, the q29 bar) are
      // searched ONLY within each cluster — Σ sᵢ² pairwise work instead
      // of the corpus square. Dropped = has a lower-id near-dup in its
      // cluster. The requires pin that the gate is non-trivial in both
      // directions (some drops, most kept).
      val out = Similarity.semDedup(Tables(s, d).embeddings,
        "vec_id", "embedding", k = 16, iters = 3, minCosine = 0.35)
      val dropped = out.where(!col("kept")).count()
      val kept = out.where(col("kept")).count()
      // Both verdict branches must be live; their RATIO is SF-shaped and
      // belongs to the oracle, not a require: at sf0.01 near-dups are the
      // planted few (≈7% dropped), while the sf1 generator builds each
      // replica as a deterministic perturbation of the original corpus —
      // so ~90% of vectors genuinely ARE semantic dups there and SemDeDup
      // dropping them is the operator doing its job.
      require(dropped > 0, "q114: fixture must contain semantic near-dups")
      require(kept > 0, "q114: every cluster representative must survive")
      out
    },

    "q143_semdedup_srp" -> { (s, d) =>
      // q114's 100-TB form (r12, closing the r11 verdict's "last
      // unconditioned pair join shape"): the same trained k-means
      // clusters (k=16, iters=3 — the q75/q114 shared oracle replay
      // prefix), but the within-cluster near-dup square is further
      // conditioned on the q142 "srp-v1" 4-bit sign-projection bucket —
      // pair work Σ bᵢ² per cluster instead of sᵢ², the fix for the hot
      // cluster that would otherwise re-create q29's square. Recall < 1
      // by construction (SemDedupSpec pins dropped ⊆ q114's dropped and
      // genuine pruning); the oracle replays the identical projections
      // via the shared SrpBuckCte. The require pins that SRP genuinely
      // SUB-partitions at least one cluster at every gated dir — one
      // bucket per cluster would make this row q114 again.
      val emb = Tables(s, d).embeddings
      val cents = Similarity.kMeansCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 3)
      // bounded: 1-row dimension scalar (sizes the srp sign matrix)
      val (_, dim) = graft.functions.VectorFns.dims(emb, "embedding", "q143")
      require(dim >= 1, "q143: embeddings fixture must carry non-empty vectors")
      // bounded: 1-row max-distinct-buckets-per-cluster scalar (≤ 16 srp
      // buckets exist per cluster at 4 bits)
      val maxBuckets = Similarity.assignToCentroids(emb, "vec_id", "embedding", cents)
        .join(emb.select(col("vec_id"),
          graft.functions.VectorFns.srpBucket(
            graft.functions.VectorFns.asDouble(col("embedding")), 4, "srp-v1", dim)
            .as("__b")), "vec_id")
        .groupBy(col("centroid_id")).agg(countDistinct(col("__b")).as("nb"))
        .agg(max(col("nb"))).head().getLong(0)
      require(maxBuckets > 1,
        s"q143: SRP must genuinely sub-partition a cluster, got max $maxBuckets bucket(s)")
      val out = Similarity.semDedupSRP(emb, "vec_id", "embedding", cents,
        minCosine = 0.35, srpBits = 4)
      // both verdict branches live, as in q114 (their ratio is SF-shaped
      // and belongs to the oracle)
      val dropped = out.where(!col("kept")).count()
      require(dropped > 0, "q143: fixture must contain same-bucket semantic near-dups")
      require(out.where(col("kept")).count() > 0, "q143: representatives must survive")
      out
    },

    "q144_incremental_first_touch" -> { (s, d) =>
      // The reference's ONE incremental DERIVED stage gated END TO END
      // (r12, the r11 verdict's stretch item): first_acquisition is
      // maintained incrementally IN THE REFERENCE (update_etl.py:412-452,
      // anti-join insert of new rows only) while q86 full-rebuilds every
      // derived table. Two-day fixture (the q86 split: day 1 = events to
      // the µs midpoint, day 2 = the full log), DailyUpdate run with ONLY
      // the first_acquisition stage both days: day 1 writes the rebuild,
      // day 2 computes firsts of the RAW-EVENT DELTA (rows after day 1's
      // fact terminal — the same boundary the fact load cut) and
      // anti-join inserts them into day-1 state via write-then-swap.
      // The gated table is day 2's INCREMENTAL output; the oracle is
      // q04's full-rebuild SQL VERBATIM over the same (uncapped) events —
      // the hash match IS the incremental≡rebuild equality, cross-engine.
      // DailyUpdateSpec pins the branch genuinely runs (a planted
      // state-only row SURVIVES day 2 — a rebuild would erase it) and
      // IncrementalSpec pins the equality boundary-ties included.
      val ev = Tables(s, d).events
      // the split lands ONE µs BELOW the latest first-touch (max over
      // keys of min ts), NOT at the q86 midpoint: a midpoint split goes
      // degenerate once every (user, type) key has appeared in the first
      // half of the log (it has at sf0.01 — 750 keys over 10k events),
      // gating only the state pass-through; this split structurally
      // guarantees day 2 inserts at least the latest-first key.
      // bounded: 1-row max-of-min-ts scalar
      val lastFirst = ev.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("f")).agg(max(col("f"))).collect()(0).getTimestamp(0)
      val split = Micros.ts(us(lastFirst) - 1L)
      val root = gateDir("q144")
      val (day1, day2) = (root.resolve("day1"), root.resolve("day2"))
      JFiles.createDirectories(day1); JFiles.createDirectories(day2)
      ev.where(col("ts") <= lit(split)).write.parquet(s"$day1/events.parquet")
      ev.write.parquet(s"$day2/events.parquet")
      val out = root.resolve("out").toString
      val stage = graft.pipeline.DailyUpdate.stages.filter(_._1 == "first_acquisition")
      val r1 = graft.pipeline.DailyUpdate.run(s, day1.toString, out, stage)
      val r2 = graft.pipeline.DailyUpdate.run(s, day2.toString, out, stage)
      // both branches of the incremental rule must be live: day-1 state
      // non-empty AND day 2 genuinely inserting new (user, type) keys —
      // a split where day 2 adds no first-touches would gate only the
      // state pass-through
      require(r1("first_acquisition") > 0L, "q144: day-1 state is empty")
      require(r2("first_acquisition") > r1("first_acquisition"),
        s"q144: day 2 inserted no new first-touch keys " +
          s"(${r1("first_acquisition")} -> ${r2("first_acquisition")}) — split degenerate")
      s.read.parquet(s"$out/first_acquisition")
    },

    "q115_stream_left_interval_join" -> { (s, d) =>
      // LEFT OUTER stream-stream interval join, driver-gated — the fifth
      // streaming semantics class: NULL-emission on watermark proof.
      // q84's inner join emits pairs on match; here every view that
      // never converts must ALSO emit, with null click columns, and
      // streaming may do so only once the global watermark passes
      // view_ts + horizon (before that a qualifying click could still
      // arrive). The replay drives that proof point explicitly: after
      // the in-order chunk feed, sentinel rows on BOTH sides (the
      // global watermark is the min) push the watermark past every
      // view's horizon, and one more sentinel batch runs the eviction
      // that emits the null rows. Oracle = the batch LEFT JOIN, so a
      // missing null row (eviction without emission), a duplicate (emit
      // on both match and eviction), or a premature null all
      // hash-mismatch. Fixture capped as q84; constant cost at every SF.
      val (views, clicks) = viewsAndClicks(s, d)
      val horizonSeconds = 1800L
      val (vIn, cIn, joined) = joinViewsClicks(s)(StreamOps.intervalJoinStreamLeftOuter(_, _,
        "user_id", "ts", horizonSeconds, watermarkDelay = "10 seconds"))
      val dir = gateDir("q115")
      runStream(appendParquet(joined, dir, "matches")) { q =>
        feedPaired(q, vIn, cIn, views, clicks)
        // sentinel pair 1: push the global watermark past every view's
        // horizon; sentinel pair 2: run the eviction batch that emits
        // the null rows (watermark updates take effect NEXT batch)
        val maxUs = math.max(views.map(r => us(r._3)).max, clicks.map(r => us(r._3)).max)
        Seq(1L, 2L).foreach { i =>
          val sentinelTs = Micros.ts(maxUs +
            (horizonSeconds + 7200L * i) * 1000000L)
          vIn.addData((-i, -1L, sentinelTs))
          cIn.addData((-i, -1L, sentinelTs))
          q.processAllAvailable()
        }
      }
      s.read.parquet(s"$dir/matches")
        .where(col("user_id") >= 0)
        .select(col("view_id"), col("user_id"), col("view_ts"),
          col("click_id"), col("click_ts"))
    },

    "q117_available_now_catchup" -> { (s, d) =>
      // Bounded catch-up drain (Formats.drainJsonlBacklog,
      // Trigger.AvailableNow) — the reference's cron reality (run,
      // drain the backlog, EXIT) with streaming bookkeeping, where
      // q95's always-on daemon never stops. Run 1 starts AFTER waves
      // 0-1 have landed and must (a) terminate on its own, (b) drain
      // the backlog in MULTIPLE rate-limited micro-batches
      // (maxFilesPerTrigger=4 — the contract Trigger.Once broke), and
      // (c) hold exactly waves 0-1. Wave 2 lands after termination —
      // provably invisible to run 1 — and run 2 resumes from the SAME
      // checkpoint, picking up exactly the new files. Oracle = the
      // batch read of all three waves (q91's text-safe column set).
      val slice = cappedEvents(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val root = landingRoot("q117")
      val landing = root.resolve("landing")
      val schema = slice.schema
      // two files per wave so the run-1 backlog (4 files) genuinely
      // exercises the 1-file-per-trigger rate limit
      def land(k: Int): Unit = landWave(root, k, "json")(
        graft.sources.Formats.writeJsonl(wave(slice, k).repartition(2), _))
      val counts = waveCounts(slice)
      val sink = root.resolve("sink").toString
      val ckpt = root.resolve("ckpt").toString
      land(0); land(1)
      val (term1, batches1) = graft.sources.Formats.drainJsonlBacklog(
        s, landing.toString, schema, sink, ckpt, maxFilesPerTrigger = 1)
      require(term1, "q117: AvailableNow run 1 must terminate on its own")
      require(batches1 > 1,
        s"q117: the backlog must drain in multiple bounded micro-batches, got $batches1")
      val afterRun1 = s.read.parquet(sink).count()
      require(afterRun1 == counts(0) + counts(1),
        s"q117: run 1 must hold exactly waves 0-1 (${counts(0) + counts(1)}), got $afterRun1")
      land(2)
      val (term2, _) = graft.sources.Formats.drainJsonlBacklog(
        s, landing.toString, schema, sink, ckpt, maxFilesPerTrigger = 1)
      require(term2, "q117: AvailableNow run 2 must terminate on its own")
      s.read.parquet(sink)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    },

    "q118_cdc_apply" -> { (s, d) =>
      // CDC changelog application with tombstones (Merge.applyChangeLog)
      // — the DELETE leg the SCD1 family lacked (coalesceMerge upserts,
      // insertMissing appends; neither retracts). The customer base
      // under 300 is the prior snapshot; the capped event log replays as
      // full-image CDC (error = tombstone, everything else = upsert,
      // latest (ts, event_id) op wins). The fixture exercises every
      // path: updated keys, passthrough keys the log never touches,
      // log-only inserts, and ~30 users whose LATEST op is a tombstone
      // (require-pinned) — a merge that loses the delete leg, or applies
      // a non-terminal tombstone, hash-mismatches.
      val t = Tables(s, d)
      val snapshot = t.customer.where(col("c_custkey") < 300)
        .select(col("c_custkey").as("user_id"), col("c_acctbal").as("worth"))
      val log = cappedEvents(s, d)
        .select(col("user_id"), col("value").as("worth"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("ts"), col("event_id"))
      val out = graft.operators.Merge.applyChangeLog(
        snapshot, log, "user_id", "ts", "event_id", "op")
      val nDeleted = snapshot.count() + log.select("user_id").except(
        snapshot.select("user_id")).count() - out.count()
      require(nDeleted > 0, "q118: the tombstone path must delete at least one key")
      out
    },

    "q120_image_content_dedup" -> { (s, d) =>
      // Cross-format image CONTENT dedup over real decoded pixels
      // (Multimodal.dHash56): every doc carries a PNG of its md5-derived
      // 8×8 gray grid, every third doc ALSO a BMP re-encode of the SAME
      // grid — the duplicate class a byte hash (q30's md5) can never
      // catch, since the containers share not one byte. The difference
      // hash is computed from pixels the JVM codecs actually decode, so
      // PNG and BMP copies land in one hash bucket and exact hash-groupBy
      // (q20's shape, content-addressed) counts them. The oracle
      // recomputes every 56-bit hash from doc_id arithmetic alone (the
      // fixture's md5 grid — the q68 construction, extended from headers
      // to pixels): a decoder that misreads pixels, a sampler that drifts
      // off the grid, or a lost format twin all hash-mismatch.
      import s.implicits._
      val ids = Tables(s, d).documents.select(col("doc_id")).as[Long]
      val payloads = ids.mapPartitions { rows =>
        rows.flatMap { id =>
          val png = (id * 10, id, "png",
            graft.operators.Multimodal.encodeGridImage(id, cell = 4, "png"))
          if (id % 3 == 0)
            Seq(png, (id * 10 + 1, id, "bmp",
              graft.operators.Multimodal.encodeGridImage(id, cell = 4, "bmp")))
          else Seq(png)
        }
      }.toDF("row_id", "doc_id", "fmt", "payload")
      val hashes = graft.operators.Multimodal.dHash56(
        s, payloads.select(col("row_id"), col("payload")))
      val tagged = payloads.select(col("row_id"), col("doc_id"), col("fmt"))
        .join(hashes, "row_id")
      val counts = tagged.groupBy(col("dhash")).agg(count(lit(1)).as("n_copies"))
      tagged.join(counts, "dhash")
        .select(col("row_id"), col("doc_id"), col("fmt"), col("dhash"),
          col("n_copies"))
    }
  )

  /** The gates whose streaming query runs a STATEFUL operator (windowed
    * agg, fMGWS, dropDuplicatesWithinWatermark, stream-stream join).
    * Every stateful shuffle in a micro-batch runs at the session's
    * `spark.sql.shuffle.partitions`: AQE cannot coalesce it (AQE is
    * disabled for stateful workloads) and the width is pinned into the
    * checkpoint at first start. These fixtures are key-capped to a
    * constant few thousand rows at EVERY SF (the streaming-gate
    * convention), so a scan-sized width buys no parallelism and
    * multiplies pure machinery per micro-batch: one scheduled task per
    * partition per stateful stage, one state-store load+delta-commit per
    * partition PER stateful operator (a stream-stream join keeps four
    * stores per partition), and one sink file per non-empty partition.
    * Deliberately EXCLUDED (measured regressions under a narrow width,
    * full-suite A/B r13): the foreachBatch sinks (q74/q100 near-dup,
    * q78/q89 upsert) and the stateless stream gates (q83 enrich,
    * q95/q101 landing, q117 catch-up) — their per-batch work is ordinary
    * BATCH jobs (AQE already coalesces those), and pinning them narrow
    * serialized real work: q74 6.7→7.8 s, q117 2.0→3.1 s.
    */
  private val streamingGates: Set[String] = Set(
    "q79_stream_funnel", "q80_stream_sessionize", "q81_stream_rollup",
    "q82_stream_dedup", "q84_stream_interval_join", "q87_stream_late_data",
    "q93_stream_late_sessionize", "q94_stream_sessionize_recovery",
    "q97_stream_late_funnel", "q98_stream_late_dedup",
    "q99_stream_late_interval_join", "q115_stream_left_interval_join")

  /** Streaming gates run with the shuffle width DERIVED from the
    * fixture's per-batch volume via
    * [[graft.streaming.StreamOps.statefulShuffleWidth]] (guide §2:
    * partitioning must track data volume), restored afterwards so batch
    * queries keep the session's scan-sized width. The gate fixtures are
    * key-capped to a constant few thousand rows per batch at EVERY SF
    * (the streaming-gate convention — see each gate's "bounded" note):
    * ≤ ~10k rows × ~128 B ≈ ≤ 2 MB per batch, which the derivation's
    * 64 MB/partition target floors at width 2. A deployment feeding real
    * volume passes its sustained per-batch bytes through the same
    * derivation, so there is no fixture-tuned constant to forget (r13
    * verdict item 5).
    * Results are unchanged: the stateful ops process each key's rows in
    * explicitly sorted order, joins/aggregations are order-free sets, and
    * the dedup fixtures re-deliver exact copies / unique ids (q82/q98
    * docs), so no output depends on which partition a key lands in.
    */
  private val gatePerBatchBytes: Long = 2L << 20

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, f) =>
      if (!streamingGates(name)) name -> f
      else name -> { (s: org.apache.spark.sql.SparkSession, d: String) =>
        val key = "spark.sql.shuffle.partitions"
        val width = StreamOps.statefulShuffleWidth(
          perBatchBytes = gatePerBatchBytes,
          sessionWidth = scala.util.Try(s.conf.get(key).toInt).getOrElse(200))
        Sessions.withConf(s, key -> width.toString)(f(s, d))
      }
    }

  /** The trained-k-means replay shared by q75 (IVF recall) and q114
    * (SemDeDup): the same three unrolled Lloyd iterations the Spark
    * `Similarity.kMeansCentroids(k=16, iters=3)` runs — seed = 16
    * lowest-id vectors, rounded-cosine assignment with id tiebreaks,
    * means rounded to 1e-6 before becoming the next iteration's
    * centroids, empty clusters keeping their centroid — ending at the
    * final assignment `asgn(nid, nv, cid)`.
    */
  private[queries] val KMeansAsgnCte: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |dims AS (SELECT unnest(range(1, (SELECT max(len(v)) FROM e) + 1)) AS i),
      |c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      |b1 AS (SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        floor(list_cosine_similarity(e.v, c.cv) * 1000000.0 + 0.5) / 1000000.0 DESC, c.cid) AS rn
      |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
      |m1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM (
      |    SELECT b.cid, d.i, floor(avg(b.v[d.i]) * 1000000.0 + 0.5) / 1000000.0 AS m
      |    FROM b1 b CROSS JOIN dims d GROUP BY b.cid, d.i) GROUP BY cid),
      |c1 AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv FROM c0 c LEFT JOIN m1 m USING (cid)),
      |b2 AS (SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        floor(list_cosine_similarity(e.v, c.cv) * 1000000.0 + 0.5) / 1000000.0 DESC, c.cid) AS rn
      |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
      |m2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM (
      |    SELECT b.cid, d.i, floor(avg(b.v[d.i]) * 1000000.0 + 0.5) / 1000000.0 AS m
      |    FROM b2 b CROSS JOIN dims d GROUP BY b.cid, d.i) GROUP BY cid),
      |c2 AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv FROM c1 c LEFT JOIN m2 m USING (cid)),
      |b3 AS (SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        floor(list_cosine_similarity(e.v, c.cv) * 1000000.0 + 0.5) / 1000000.0 DESC, c.cid) AS rn
      |    FROM e CROSS JOIN c2 c) WHERE rn = 1),
      |m3 AS (SELECT cid, list(m ORDER BY i) AS cv FROM (
      |    SELECT b.cid, d.i, floor(avg(b.v[d.i]) * 1000000.0 + 0.5) / 1000000.0 AS m
      |    FROM b3 b CROSS JOIN dims d GROUP BY b.cid, d.i) GROUP BY cid),
      |c3 AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv FROM c2 c LEFT JOIN m3 m USING (cid)),
      |asgn AS (SELECT vec_id AS nid, v AS nv, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        floor(list_cosine_similarity(e.v, c.cv) * 1000000.0 + 0.5) / 1000000.0 DESC, c.cid) AS rn
      |    FROM e CROSS JOIN c3 c) WHERE rn = 1)""".stripMargin

  /** The batch near-dup pipeline with per-pair batch attribution
    * (detected_batch = greatest(id mod 3)) — the oracle for BOTH
    * near-dup sink gates: q74 (in-order) and q100 (crash + replay),
    * whose whole contract is that the replayed run is
    * indistinguishable from the uninterrupted one.
    */
  private val nearDupSinkSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
      |        WHERE doc_id < 2000),
      |sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3
      |        THEN list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])
      |        ELSE [] END) AS shingle FROM toks),
      |ab AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,8))::BIGINT AS a,
      |        ('0x'||substr(md5(shingle),9,8))::BIGINT AS b FROM sh),
      |mh AS (SELECT doc_id, CAST(s AS INT) AS seed,
      |        min((a + s*(2*b+1)) % 4294967296) AS minh
      |       FROM ab, (SELECT unnest(range(0,12)) AS s) GROUP BY 1,2),
      |banded AS (SELECT doc_id, CAST(seed // 3 AS INT) AS band,
      |        string_agg(CAST(minh AS VARCHAR), '_' ORDER BY seed) AS band_key
      |       FROM mh GROUP BY 1,2),
      |cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |       FROM banded a JOIN banded b
      |         ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (SELECT c.id_a, c.id_b, count(sb.shingle) AS intersection
      |       FROM cands c
      |       JOIN sh sa ON c.id_a = sa.doc_id
      |       LEFT JOIN sh sb ON c.id_b = sb.doc_id AND sa.shingle = sb.shingle
      |       GROUP BY 1,2)
      |SELECT i.id_a, i.id_b, za.sz AS size_a, zb.sz AS size_b, i.intersection,
      |  floor((i.intersection * 1.0 / (za.sz + zb.sz - i.intersection)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
      |  greatest(i.id_a % 3, i.id_b % 3) AS detected_batch
      |FROM inter i JOIN sizes za ON i.id_a = za.doc_id JOIN sizes zb ON i.id_b = zb.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q67_sketch_accuracy" ->
      """WITH hll AS (
        |  SELECT 'hll_distinct' AS "check", event_type AS key,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_value, TRUE AS within_bound
        |  FROM events GROUP BY event_type),
        |gk AS (
        |  SELECT 'gk_percentile' AS "check", source AS key,
        |    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY length(text)) AS BIGINT) AS exact_value,
        |    TRUE AS within_bound
        |  FROM documents GROUP BY source),
        |w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |cms AS (
        |  SELECT 'cms_topk' AS "check", word AS key, exact_value, TRUE AS within_bound
        |  FROM (SELECT word, count(*) AS exact_value FROM w GROUP BY 1
        |        ORDER BY count(*) DESC, word LIMIT 10))
        |SELECT * FROM hll UNION ALL SELECT * FROM gk UNION ALL SELECT * FROM cms""".stripMargin,

    "q68_image_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(8 + doc_id % 64 AS INT) AS width,
        |  CAST(4 + doc_id % 32 AS INT) AS height,
        |  TRUE AS decoded
        |FROM documents""".stripMargin,

    "q69_exclude_flagged" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p
        |  WHERE p.p_partkey = l.l_partkey AND p.p_type = 'PROMO')""".stripMargin,

    "q70_shard_assign" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#shard'),1,8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, source, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS INT) AS pos
        |FROM h""".stripMargin,

    "q71_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#shard'),1,8))::BIGINT AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, n_tokens, h, CAST(h % 8 AS INT) AS shard FROM d),
        |o AS (SELECT doc_id, n_tokens, shard,
        |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS pos
        |  FROM sh),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos) - n_tokens AS BIGINT)
        |      AS start_tok
        |  FROM o)
        |SELECT doc_id, shard, n_tokens, start_tok,
        |  CAST(start_tok // 1024 AS BIGINT) AS seq_id,
        |  CAST(CASE WHEN n_tokens = 0 THEN 1
        |    ELSE (start_tok + n_tokens - 1) // 1024 - start_tok // 1024 + 1 END AS BIGINT)
        |    AS n_seqs_spanned
        |FROM c""".stripMargin,

    "q72_pack_write" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#shard'),1,8))::BIGINT AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, n_tokens, h, CAST(h % 8 AS INT) AS shard FROM d),
        |o AS (SELECT doc_id, n_tokens, shard,
        |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS pos
        |  FROM sh),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos) - n_tokens AS BIGINT)
        |      AS start_tok
        |  FROM o),
        |p AS (SELECT doc_id, shard, n_tokens, start_tok,
        |    start_tok // 1024 AS seq_id,
        |    CASE WHEN n_tokens = 0 THEN 1
        |      ELSE (start_tok + n_tokens - 1) // 1024 - start_tok // 1024 + 1 END AS span
        |  FROM c),
        |s AS (SELECT doc_id, shard, start_tok, n_tokens,
        |    seq_id + unnest(range(0, span)) AS seq_id2 FROM p),
        |sl AS (SELECT shard, seq_id2 AS seq_id, doc_id,
        |    greatest(start_tok, seq_id2 * 1024) AS frm,
        |    least(start_tok + n_tokens, (seq_id2 + 1) * 1024) AS til
        |  FROM s),
        |agg AS (SELECT shard, seq_id, count(*) AS n_slices,
        |    CAST(sum(til - frm) AS BIGINT) AS seq_tokens
        |  FROM sl GROUP BY 1, 2),
        |fd AS (SELECT shard, seq_id, doc_id AS first_doc FROM (
        |    SELECT shard, seq_id, doc_id,
        |      row_number() OVER (PARTITION BY shard, seq_id ORDER BY frm, doc_id) AS rn
        |    FROM sl) WHERE rn = 1),
        |ld AS (SELECT shard, seq_id, doc_id AS last_doc FROM (
        |    SELECT shard, seq_id, doc_id,
        |      row_number() OVER (PARTITION BY shard, seq_id ORDER BY frm DESC, doc_id DESC) AS rn
        |    FROM sl) WHERE rn = 1)
        |SELECT a.shard, CAST(a.seq_id AS BIGINT) AS seq_id, a.n_slices, a.seq_tokens,
        |  fd.first_doc, ld.last_doc
        |FROM agg a
        |JOIN fd ON a.shard = fd.shard AND a.seq_id = fd.seq_id
        |JOIN ld ON a.shard = ld.shard AND a.seq_id = ld.seq_id""".stripMargin,

    "q73_image_quarantine" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 20 = 0 THEN 'unknown'
        |       WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS INT)
        |       ELSE CAST(8 + doc_id % 64 AS INT) END AS width,
        |  CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS INT)
        |       ELSE CAST(4 + doc_id % 32 AS INT) END AS height,
        |  (doc_id % 20 <> 0) AS decoded
        |FROM documents""".stripMargin,

    "q74_stream_neardup" -> nearDupSinkSql,

    "q100_neardup_recovery" -> nearDupSinkSql,

    "q99_stream_late_interval_join" ->
      // on-time pairs plus the accepted withheld clicks' pairs: withheld
      // = the clicks' last 48 h plus every 7th earlier click; wm = min
      // over both sides of the ms-floored on-time max minus 10 s; a
      // withheld click survives iff ts > wm (LateDataRuleSpec's
      // stream-stream join rule — non-strict drop at equality)
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |    WHERE user_id < 150 AND event_type = 'view'),
        |c0 AS (SELECT event_id, user_id, ts FROM events
        |    WHERE user_id < 150 AND event_type = 'click'),
        |cut AS (SELECT max(epoch_us(ts)) - 172800000000 AS cut FROM c0),
        |c AS (SELECT c0.*,
        |    (epoch_us(ts) > (SELECT cut FROM cut) OR event_id % 7 = 0) AS withheld
        |  FROM c0),
        |wm AS (SELECT (least((SELECT max(epoch_us(ts)) FROM v),
        |    (SELECT max(epoch_us(ts)) FROM c WHERE NOT withheld))
        |    // 1000 - 10000) * 1000 AS w)
        |SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM v JOIN c ON v.user_id = c.user_id AND c.ts > v.ts
        |  AND c.ts <= v.ts + INTERVAL 86400 SECOND
        |CROSS JOIN wm
        |WHERE (NOT c.withheld) OR epoch_us(c.ts) > wm.w""".stripMargin,

    "q76_simhash_wide" ->
      """WITH wh AS (SELECT doc_id, ('0x'||substr(md5(word),1,15))::BIGINT AS wh
        |       FROM (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS word FROM documents)),
        |bits AS (SELECT doc_id, b, sum(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |       FROM wh, (SELECT unnest(range(0,60)) AS b) GROUP BY 1,2),
        |sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |       FROM bits GROUP BY 1)
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3""".stripMargin,

    "q77_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sp AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 8),
        |      i -> ('0x'||substr(md5(array_to_string(w[i:i+9],' ')),1,15))::BIGINT)) AS h
        |  FROM toks),
        |cnt AS (SELECT h, count(*) AS n FROM sp GROUP BY 1),
        |per AS (SELECT sp.doc_id, count(*) AS n_spans,
        |    sum(CASE WHEN cnt.n > 1 THEN 1 ELSE 0 END) AS n_dup_spans
        |  FROM sp JOIN cnt USING (h) GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CASE WHEN coalesce(p.n_spans, 0) > 0
        |    THEN floor((p.n_dup_spans * 1.0 / p.n_spans) * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS dup_fraction
        |FROM toks t LEFT JOIN per p ON t.doc_id = p.doc_id""".stripMargin,

    "q78_stream_upsert" ->
      """WITH e AS (SELECT event_id, ts, user_id, value FROM events WHERE user_id < 150),
        |r AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id % 3 DESC, ts DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, value AS worth FROM r WHERE rn = 1""".stripMargin,

    "q79_stream_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events WHERE user_id < 150),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS ts_view
        |  FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS ts_click FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.ts_view GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS ts_purchase FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_click GROUP BY 1)
        |SELECT user_id, 'view' AS funnel_stage, 1 AS stage_order, ts_view AS ts
        |FROM s1 WHERE ts_view IS NOT NULL
        |UNION ALL SELECT user_id, 'click', 2, ts_click FROM s2
        |UNION ALL SELECT user_id, 'purchase', 3, ts_purchase FROM s3""".stripMargin,

    "q80_stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id < 150
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_seq FROM flagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "q81_stream_rollup" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM events WHERE user_id < 150
        |GROUP BY 1, 2, 3""".stripMargin,

    "q82_stream_dedup" ->
      """SELECT DISTINCT event_id, ts, user_id, value
        |FROM events WHERE user_id < 150""".stripMargin,

    "q83_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.value, c.c_mktsegment, c.c_acctbal
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.user_id < 150 AND e.event_type = 'purchase'""".stripMargin,

    "q84_stream_interval_join" ->
      """SELECT l.event_id AS view_id, l.user_id, l.ts AS view_ts,
        |  r.event_id AS click_id, r.ts AS click_ts
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE user_id < 150 AND event_type = 'view') l
        |JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE user_id < 150 AND event_type = 'click') r
        |  ON l.user_id = r.user_id AND r.ts > l.ts
        |  AND r.ts <= l.ts + INTERVAL 1800 SECOND""".stripMargin,

    "q115_stream_left_interval_join" ->
      // the batch LEFT JOIN twin of q84's inner oracle: unmatched views
      // carry NULL click columns — exactly the rows the streaming side
      // may emit only after the watermark proves no match can arrive
      """SELECT l.event_id AS view_id, l.user_id, l.ts AS view_ts,
        |  r.event_id AS click_id, r.ts AS click_ts
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE user_id < 150 AND event_type = 'view') l
        |LEFT JOIN (SELECT event_id, user_id, ts FROM events
        |      WHERE user_id < 150 AND event_type = 'click') r
        |  ON l.user_id = r.user_id AND r.ts > l.ts
        |  AND r.ts <= l.ts + INTERVAL 1800 SECOND""".stripMargin,

    "q85_doc_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w,
        |    len(string_split(text,' ')) AS l FROM documents),
        |n AS (SELECT doc_id, w, l,
        |    CASE WHEN l <= 64 THEN 1 ELSE (l - 64 + 32 - 1) // 32 + 1 END AS nc FROM t),
        |c AS (SELECT doc_id, w, l, unnest(range(0, nc)) AS ci FROM n)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |  CAST(ci * 32 AS BIGINT) AS first_tok,
        |  CAST(least(64, l - ci * 32) AS BIGINT) AS n_tokens,
        |  array_to_string(w[ci*32 + 1 : ci*32 + least(64, l - ci*32)], ' ') AS chunk_text
        |FROM c""".stripMargin,

    "q75_ivf_recall" ->
      // Full replay of the TRAINED pipeline: the same three unrolled
      // Lloyd iterations the Spark side runs (seed = 16 lowest-id
      // vectors; rounded-cosine assignment with id tiebreaks; means
      // rounded to 1e-6 before becoming the next iteration's centroids;
      // empty clusters keep their centroid), then IVF probe/top-10 vs
      // the brute-force exact top-10 — so n_hits is recomputed EXACTLY.
      // recall_ge_half documents the 0.5-recall@10 label; the gate is
      // the value-for-value n_hits match. The training prefix
      // (KMeansAsgnCte) is shared with q114's SemDeDup replay.
      s"""$KMeansAsgnCte,
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50),
        |probes AS (SELECT qid, qv, cid FROM (
        |    SELECT q.qid, q.qv, c.cid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor(list_cosine_similarity(q.qv, c.cv) * 1000000.0 + 0.5) / 1000000.0 DESC, c.cid) AS rn
        |    FROM q CROSS JOIN c3 c) WHERE rn <= 4),
        |ivf AS (SELECT query_id, neighbor_id FROM (
        |    SELECT p.qid AS query_id, a.nid AS neighbor_id,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY
        |        floor(list_cosine_similarity(p.qv, a.nv) * 1000000.0 + 0.5) / 1000000.0 DESC, a.nid) AS rnk
        |    FROM probes p JOIN asgn a USING (cid) WHERE a.nid <> p.qid) WHERE rnk <= 10),
        |ex AS (SELECT query_id, neighbor_id, rnk FROM (
        |    SELECT q.qid AS query_id, n.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        floor(list_cosine_similarity(q.qv, n.v) * 1000000.0 + 0.5) / 1000000.0 DESC, n.vec_id) AS rnk
        |    FROM q CROSS JOIN e n WHERE n.vec_id <> q.qid) WHERE rnk <= 10),
        |hits AS (SELECT x.query_id, count(i.neighbor_id) AS n_hits
        |    FROM ex x LEFT JOIN ivf i ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
        |    GROUP BY x.query_id),
        |top1 AS (SELECT query_id, neighbor_id AS exact_top1 FROM ex WHERE rnk = 1)
        |SELECT t.query_id, t.exact_top1, h.n_hits, (h.n_hits >= 5) AS recall_ge_half
        |FROM top1 t JOIN hits h USING (query_id)""".stripMargin,

    "q86_daily_update" ->
      // the incremental two-day composition must land the fact table at
      // the batch clean build over the full (capped) event log
      """SELECT event_id, ts, user_id, event_type, value,
        |  CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d
        |FROM events WHERE user_id < 150 AND event_type <> 'error'""".stripMargin,

    "q92_daily_derived" ->
      // q09's trading-roi construction over the capped fixture: the
      // derived table the two-day pipeline materialized must equal the
      // from-scratch build on the full capped event log
      """WITH seq AS (
        |  SELECT user_id, ts, event_id, event_type, value FROM events
        |  WHERE user_id < 150 AND event_type IN ('purchase','view')),
        |nxt AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_sell_ts
        |  FROM seq),
        |buys AS (
        |  SELECT user_id, event_id AS buy_event_id, ts AS buy_ts, value AS buy_value, next_sell_ts
        |  FROM nxt WHERE event_type = 'purchase' AND next_sell_ts IS NOT NULL),
        |sells AS (
        |  SELECT user_id AS sk, event_id AS sell_event_id, ts AS sell_ts, value AS sell_value
        |  FROM seq WHERE event_type = 'view'),
        |matched AS (
        |  SELECT b.user_id, b.buy_event_id, b.buy_ts, b.buy_value,
        |         s.sell_event_id, s.sell_ts, s.sell_value,
        |         row_number() OVER (PARTITION BY b.buy_event_id ORDER BY s.sell_event_id) AS rn
        |  FROM buys b JOIN sells s ON b.user_id = s.sk AND b.next_sell_ts = s.sell_ts)
        |SELECT user_id, buy_event_id, buy_ts, buy_value, sell_event_id, sell_ts, sell_value,
        |  floor((sell_value - buy_value) * 10000.0 + 0.5) / 10000.0 AS gain
        |FROM matched WHERE rn = 1""".stripMargin,

    "q87_stream_late_data" ->
      // kept = on-time rows plus withheld rows whose hour window was
      // still open when they finally arrived (window end > watermark =
      // max on-time ts - 10 s); the drop rule is pinned by
      // LateDataRuleSpec
      """WITH e AS (SELECT event_id, ts, event_type, value FROM events
        |    WHERE user_id < 150),
        |wm AS (SELECT max(ts) - INTERVAL 10 SECOND AS w FROM e
        |    WHERE event_id % 7 <> 0),
        |kept AS (
        |  SELECT ts, event_type, value FROM e WHERE event_id % 7 <> 0
        |  UNION ALL
        |  SELECT ts, event_type, value FROM e, wm
        |  WHERE event_id % 7 = 0
        |    AND date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.w)
        |SELECT date_trunc('hour', ts) AS window_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM kept GROUP BY 1, 2, 3""".stripMargin,

    "q93_stream_late_sessionize" ->
      // kept = on-time rows plus each user's withheld LAST event when it
      // beat the watermark (wm = ms-floored max on-time ts minus 1 h;
      // dropped iff ts <= wm — LateDataRuleSpec's fMGWS rule); then the
      // batch gap-split sessionization over exactly that set
      """WITH e AS (SELECT event_id, ts, user_id, value FROM events
        |    WHERE user_id < 150),
        |wh AS (SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM e) WHERE rn = 1),
        |ont AS (SELECT e.* FROM e LEFT JOIN wh
        |    ON e.user_id = wh.user_id AND e.event_id = wh.event_id
        |  WHERE wh.event_id IS NULL),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS w FROM ont),
        |kept AS (
        |  SELECT user_id, ts, value FROM ont
        |  UNION ALL
        |  SELECT e.user_id, e.ts, e.value FROM e
        |  JOIN wh ON e.user_id = wh.user_id AND e.event_id = wh.event_id
        |  CROSS JOIN wm WHERE epoch_us(e.ts) > wm.w),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS new_s
        |  FROM kept
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_seq FROM flagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "q89_stream_recovery" ->
      // identical to q78's oracle: the crash-interrupted run must land
      // the exact snapshot of the uninterrupted one
      """WITH e AS (SELECT event_id, ts, user_id, value FROM events WHERE user_id < 150),
        |r AS (SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id % 3 DESC, ts DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, value AS worth FROM r WHERE rn = 1""".stripMargin,

    "q94_stream_sessionize_recovery" ->
      // q80's oracle verbatim: the kill-and-resume run must land the
      // exact session set of the uninterrupted one
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id < 150
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_seq FROM flagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    "q90_backfill" ->
      // the healed table must equal the batch rollup — partitions that
      // were never missing keep their content, holes are recomputed
      """SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM events WHERE user_id < 150
        |GROUP BY 1, 2""".stripMargin,

    "q97_stream_late_funnel" ->
      // q79's oracle verbatim: no watermark → nothing drops, and per-user
      // arrival order equals event-time order, so the late feed must land
      // the exact batch sequential-min funnel
      """WITH e AS (SELECT user_id, ts, event_type FROM events WHERE user_id < 150),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS ts_view
        |  FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS ts_click FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.ts_view GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS ts_purchase FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.ts_click GROUP BY 1)
        |SELECT user_id, 'view' AS funnel_stage, 1 AS stage_order, ts_view AS ts
        |FROM s1 WHERE ts_view IS NOT NULL
        |UNION ALL SELECT user_id, 'click', 2, ts_click FROM s2
        |UNION ALL SELECT user_id, 'purchase', 3, ts_purchase FROM s3""".stripMargin,

    "q98_stream_late_dedup" ->
      // kept = on-time rows plus withheld rows from the stream's final
      // hour (wm = ms-floored max on-time ts minus 1 h; dropped iff
      // ts <= wm — LateDataRuleSpec's dropDuplicatesWithinWatermark rule)
      """WITH e AS (SELECT event_id, ts, user_id, value FROM events
        |    WHERE user_id < 150),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS w
        |    FROM e WHERE event_id % 7 <> 0)
        |SELECT event_id, ts, user_id, value FROM e WHERE event_id % 7 <> 0
        |UNION ALL
        |SELECT e.event_id, e.ts, e.user_id, e.value FROM e CROSS JOIN wm
        |WHERE e.event_id % 7 = 0 AND epoch_us(e.ts) > wm.w""".stripMargin,

    "q96_backfill_pipeline" ->
      // q86's oracle verbatim: incremental loads + backfill must land the
      // batch clean build over the full capped log
      """SELECT event_id, ts, user_id, event_type, value,
        |  CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d
        |FROM events WHERE user_id < 150 AND event_type <> 'error'""".stripMargin,

    "q95_landing_stream" ->
      // every landed row exactly once, no more, no less — the batch read
      // of the same files
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE user_id < 150""".stripMargin,

    "q117_available_now_catchup" ->
      // two bounded AvailableNow runs over one checkpoint must land all
      // three waves exactly once — same exactly-once bar as q95, reached
      // by run-drain-exit instead of an always-on daemon
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE user_id < 150""".stripMargin,

    "q118_cdc_apply" ->
      // full-image CDC replay: latest (ts, event_id) op per key; 'error'
      // is a tombstone; untouched snapshot keys pass through; log-only
      // keys insert unless terminally tombstoned
      """WITH snap AS (SELECT c_custkey AS user_id, c_acctbal AS worth
        |    FROM customer WHERE c_custkey < 300),
        |log AS (SELECT user_id, value AS worth,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    ts, event_id FROM events WHERE user_id < 150),
        |latest AS (SELECT user_id, worth, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM log) WHERE rn = 1)
        |SELECT coalesce(s.user_id, l.user_id) AS user_id,
        |  CASE WHEN l.user_id IS NOT NULL THEN l.worth ELSE s.worth END AS worth
        |FROM snap s FULL OUTER JOIN latest l ON s.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    "q120_image_content_dedup" ->
      // every 56-bit pixel hash recomputed from the md5 grid the fixture
      // painted; PNG/BMP twins of one doc_id share a hash by construction
      """WITH copies AS (
        |  SELECT doc_id * 10 AS row_id, doc_id, 'png' AS fmt FROM documents
        |  UNION ALL
        |  SELECT doc_id * 10 + 1, doc_id, 'bmp' FROM documents WHERE doc_id % 3 = 0),
        |cells AS (SELECT x, y
        |  FROM (SELECT unnest(range(0, 7)) AS x), (SELECT unnest(range(0, 8)) AS y)),
        |bits AS (SELECT c.row_id, c.doc_id, c.fmt,
        |    CAST(sum(CASE WHEN
        |        ('0x'||substr(md5(c.doc_id||':'||(l.x+1)||':'||l.y||':g'), 1, 2))::INT >
        |        ('0x'||substr(md5(c.doc_id||':'||l.x||':'||l.y||':g'), 1, 2))::INT
        |      THEN (CAST(1 AS BIGINT) << (l.y * 7 + l.x)) ELSE 0 END) AS BIGINT) AS dhash
        |  FROM copies c CROSS JOIN cells l GROUP BY 1, 2, 3),
        |counts AS (SELECT dhash, count(*) AS n_copies FROM bits GROUP BY 1)
        |SELECT b.row_id, b.doc_id, b.fmt, b.dhash, n.n_copies
        |FROM bits b JOIN counts n USING (dhash)""".stripMargin,

    "q101_parquet_landing" ->
      // the parquet twin carries timestamps in binary: exactly-once AND
      // µs-exact ts through the landing path
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events WHERE user_id < 150""".stripMargin,

    "q102_compaction" ->
      // the compacted table must hold exactly the batch rollup — q90's
      // oracle shape: a compaction that lost, duplicated, or cross-wired
      // a partition's rows diverges
      """SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d,
        |  count(*) AS n_events,
        |  floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |FROM events WHERE user_id < 150
        |GROUP BY 1, 2""".stripMargin,

    "q103_clustered_layout" ->
      // a range scan over the clustered layout must equal the batch
      // filter: mis-ranged, dropped, or duplicated rows diverge
      """SELECT event_id, user_id, event_type, value, ts
        |FROM events WHERE user_id BETWEEN 40 AND 79""".stripMargin,

    "q91_formats_roundtrip" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value FROM events
        |    WHERE user_id < 150),
        |f AS (SELECT unnest(['csv', 'jsonl', 'orc']) AS fmt)
        |SELECT e.event_id, e.user_id, e.event_type, e.value, f.fmt
        |FROM e CROSS JOIN f""".stripMargin,

    "q113_schema_evolution" ->
      // epoch split replay: even event_ids predate the column (NULL
      // under merge-on-read), odd ids carry it
      """SELECT event_id, user_id, value,
        |  CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type,
        |  CASE WHEN event_id % 2 = 1 THEN 'evolved' ELSE 'legacy' END AS epoch
        |FROM events WHERE user_id < 150""".stripMargin,

    "q114_semdedup" ->
      // SemDeDup replay on the shared trained-k-means prefix: same final
      // assignment, then within-cluster pairs at rounded cosine >= 0.35;
      // dropped = has a lower-id near-dup in its cluster
      s"""$KMeansAsgnCte,
        |dup AS (SELECT DISTINCT b.nid AS vid
        |  FROM asgn a JOIN asgn b ON a.cid = b.cid AND a.nid < b.nid
        |  WHERE floor(list_cosine_similarity(a.nv, b.nv) * 1000000.0 + 0.5) / 1000000.0 >= 0.35)
        |SELECT a.nid AS vec_id, a.cid AS centroid_id, (d.vid IS NULL) AS kept
        |FROM asgn a LEFT JOIN dup d ON a.nid = d.vid""".stripMargin,

    "q143_semdedup_srp" ->
      // q114's replay with the pair square further conditioned on the
      // shared srp-v1 bucket (LLMQueries.SrpBuckCte, q142's projections
      // token-for-token — both gates replay the SAME bucketing): dropped
      // = has a lower-id near-dup in the SAME (cluster, srp-bucket) cell
      s"""$KMeansAsgnCte,
        |${LLMQueries.SrpBuckCte},
        |dup AS (SELECT DISTINCT b.nid AS vid
        |  FROM asgn a JOIN buck ba ON a.nid = ba.vec_id
        |    JOIN asgn b ON a.cid = b.cid AND a.nid < b.nid
        |    JOIN buck bb ON b.nid = bb.vec_id AND ba.bucket = bb.bucket
        |  WHERE floor(list_cosine_similarity(a.nv, b.nv) * 1000000.0 + 0.5) / 1000000.0 >= 0.35)
        |SELECT a.nid AS vec_id, a.cid AS centroid_id, (d.vid IS NULL) AS kept
        |FROM asgn a LEFT JOIN dup d ON a.nid = d.vid""".stripMargin,

    "q144_incremental_first_touch" ->
      // q04's full-rebuild SQL VERBATIM (the q139 share-the-oracle
      // pattern): the gated table is day 2's INCREMENTAL first-touch
      // state, so the hash match against the rebuild IS the
      // incremental≡rebuild equality, cross-engine
      CoreQueries.oracles("q04_first_touch"),

    "q88_bucketed_join" ->
      """WITH r AS (SELECT user_id, count(*) AS n_events,
        |    floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS total_value
        |  FROM events GROUP BY user_id)
        |SELECT r.user_id, r.n_events, r.total_value, c.c_mktsegment, c.c_acctbal
        |FROM r JOIN customer c ON r.user_id = c.c_custkey""".stripMargin,

    "q105_bloom_prune" ->
      // the exact semi-join: any bloom false positive that survived the
      // verify join (or true match the prefilter dropped) diverges
      """SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts
        |FROM events e
        |WHERE e.user_id IN
        |  (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0)""".stripMargin,

    "q107_table_diff" ->
      // per-partition checksum replay: identical md5 uint32 lanes
      // (bit_xor + sum + count), identical right-side injuries, identical
      // full-outer status classification
      """WITH le AS (SELECT CAST(ts AS DATE) AS day, event_id, user_id, event_type
        |    FROM events),
        |mn AS (SELECT min(day) AS mind FROM le),
        |re AS (
        |  SELECT day, event_id, user_id, event_type FROM le, mn
        |  WHERE NOT (date_part('day', day) = 15 AND event_id % 3 = 1)
        |    AND day > mind
        |  UNION ALL
        |  SELECT day + 10000 AS day, event_id, user_id, event_type FROM le
        |  WHERE event_id % 1009 = 5),
        |lc AS (SELECT day, count(*) AS n,
        |    bit_xor(CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type)), 1, 8))::UBIGINT AS BIGINT)) AS xa,
        |    bit_xor(CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type)), 9, 8))::UBIGINT AS BIGINT)) AS xb,
        |    CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type)), 1, 8))::UBIGINT AS BIGINT)) AS BIGINT) AS sa
        |  FROM le GROUP BY 1),
        |rc AS (SELECT day, count(*) AS n,
        |    bit_xor(CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type)), 1, 8))::UBIGINT AS BIGINT)) AS xa,
        |    bit_xor(CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type)), 9, 8))::UBIGINT AS BIGINT)) AS xb,
        |    CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id, event_type)), 1, 8))::UBIGINT AS BIGINT)) AS BIGINT) AS sa
        |  FROM re GROUP BY 1)
        |SELECT CAST(coalesce(lc.day, rc.day) AS TIMESTAMP) AS day,
        |  lc.n AS l_n_rows, rc.n AS r_n_rows,
        |  CASE WHEN lc.n IS NULL THEN 'missing_left'
        |       WHEN rc.n IS NULL THEN 'missing_right'
        |       WHEN lc.n = rc.n AND lc.xa = rc.xa AND lc.xb = rc.xb
        |         AND lc.sa = rc.sa THEN 'match'
        |       ELSE 'differ' END AS status
        |FROM lc FULL OUTER JOIN rc ON lc.day = rc.day""".stripMargin,

    "q106_zorder_layout" ->
      // the box scan over the z-ordered layout must equal the batch box
      // filter; probe bounds re-derived from the same global min/max the
      // gate reads out of the footer stats (// = DuckDB floor division,
      // matching Scala's nonneg Long division)
      """WITH b AS (SELECT min(user_id) AS alo, max(user_id) AS ahi,
        |    min(event_id) AS blo, max(event_id) AS bhi FROM events)
        |SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts
        |FROM events e, b
        |WHERE e.user_id BETWEEN b.alo + (b.ahi - b.alo + 3) // 4
        |                    AND b.alo + (b.ahi - b.alo + 1) // 2 - 1
        |  AND e.event_id BETWEEN b.blo + (b.bhi - b.blo + 3) // 4
        |                     AND b.blo + (b.bhi - b.blo + 1) // 2 - 1""".stripMargin
  )
}
