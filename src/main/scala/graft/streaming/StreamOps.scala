package graft.streaming

import java.sql.Timestamp

import graft.{Caches, Sessions}
import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructType}

/** Structured Streaming surface: the streaming analogs of the batch
  * incremental loads the reference runs daily (terminal-timestamp
  * incremental pulls, etl_utls.py:328; current-day delete+reload).
  *
  * Batch jobs re-run the day; streams keep running state. Same logical
  * results, expressed with watermarked windows (bounded state, late data
  * dropped deterministically) and typed stateful sessionization.
  */
object StreamOps {

  /** Shuffle width for a STATEFUL streaming query, derived from per-batch
    * volume (guide §2.2: partition count must track data volume). It has
    * to be decided up front — AQE cannot coalesce stateful exchanges
    * (it is disabled for stateful workloads) and the width is pinned
    * into the checkpoint at first start — so the sizing input is the
    * SUSTAINED per-batch bytes the deployment expects, not the machine's
    * core count:
    *   width = clamp(ceil(perBatchBytes / targetPartitionBytes), 2, sessionWidth)
    * Floor 2, not 1: a single state partition serializes the stateful
    * stage and the no-data watermark batches (measured r13: q115 5.4→8.2 s
    * at width 1). Cap at the session width: a micro-batch cannot use more
    * concurrency than the session owns, and keeping the cap session-derived
    * means the same derivation serves local fixtures and a cluster.
    */
  def statefulShuffleWidth(perBatchBytes: Long, sessionWidth: Int,
                           targetPartitionBytes: Long = 64L << 20): Int = {
    require(perBatchBytes >= 0, "perBatchBytes must not be negative")
    require(targetPartitionBytes > 0, "targetPartitionBytes must be positive")
    // a ceiling division that cannot overflow, clamped in Long so a huge
    // quotient never wraps on the way to Int
    val fromVolume = perBatchBytes / targetPartitionBytes +
      (if (perBatchBytes % targetPartitionBytes == 0) 0 else 1)
    math.max(2L, math.min(fromVolume, math.max(2, sessionWidth).toLong)).toInt
  }

  /** Tumbling-window per-key counts/sums with a watermark bounding state:
    * the streaming form of q12's daily rollup. State per (key, window) is
    * dropped once the watermark passes window end — O(active windows), not
    * O(history), which is what lets this run forever at production rates.
    */
  def windowedRollup(events: DataFrame, tsCol: String, keyCol: String,
                     valueCol: String, windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col(keyCol), col("n_events"), col("total_value"))

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                           n_events: Long, total_value: Double)

  /** Stateful gap-based sessionization: the streaming twin of the batch
    * `Sessionize` operator. A session closes when the event-time watermark
    * passes `last event + gapSeconds` — deterministic (no wall-clock
    * dependence), replayable, and state per key is a single running
    * session: O(1) per user regardless of history length.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long,
                 watermarkDelay: String = "10 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    // state tracks MICROSECONDS ([[Micros]]) so session bounds and gap
    // comparisons are bit-identical to the batch operator on µs data
    val gapUs = gapSeconds * 1000000L

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, Micros.ts(s.start), Micros.ts(s.last), s.n, s.total))
      } else {
        val sorted = rows.toSeq.sortBy(e => Micros.us(e.ts))
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = Micros.us(e.ts)
          cur match {
            case Some(s) if t - s.last <= gapUs =>
              cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= Session(userId, Micros.ts(s.start), Micros.ts(s.last), s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // close once the watermark passes the session's gap horizon
          // (timeout API is ms-granular: round up so it lands PAST it)
          state.setTimeoutTimestamp((s.last + gapUs) / 1000L + 1L)
        }
        closed.reverseIterator
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming dedup on an id column with watermark-bounded state — the
    * streaming analog of the batch latest-by-key dedup: at-most-once per
    * id within the watermark horizon, even when a re-delivery carries a
    * different (re-stamped) event time.
    */
  def dedupByIdWithinWatermark(events: DataFrame, tsCol: String, idCol: String,
                               watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay).dropDuplicatesWithinWatermark(idCol)

  /** Stream-static enrichment: streaming facts joined to a slowly-changing
    * dimension table (the streaming form of q05's enrichment). The static
    * side is re-planned per micro-batch, so a dimension refresh (new
    * parquet snapshot) is picked up without restarting the stream; Spark
    * broadcasts it when it fits, exactly as in batch.
    */
  def enrichStream(facts: DataFrame, dim: DataFrame, factKey: String,
                   dimKey: String, dimCols: Seq[String]): DataFrame =
    facts.join(dim.select((dimKey +: dimCols).map(col): _*),
      facts(factKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Watermarked stream-stream interval join — the streaming twin of the
    * batch as-of match (q09/q40): each left event pairs with right events
    * in `(left.ts, left.ts + horizonSeconds]`. Both sides carry watermarks
    * and the join condition is time-bounded in BOTH directions, so state
    * eviction is provable and per-side state is O(events inside the
    * horizon), never O(history). Inner by construction: an unmatched left
    * row expires silently (streaming can't know "no later match" until the
    * watermark passes — exactly the left-outer caveat documented for q40).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         keyCol: String, tsCol: String,
                         horizonSeconds: Long, watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(tsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(tsCol, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") > col(s"l.$tsCol") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $horizonSeconds SECONDS"))
  }

  /** LEFT OUTER form of [[intervalJoinStream]] — the "which views never
    * converted" variant (funnel drop-off, abandoned-cart, unanswered
    * alert). Matched pairs emit on match exactly as the inner join; an
    * UNMATCHED left row emits with nulls only once the global watermark
    * passes `left.ts + horizonSeconds` — the earliest moment streaming
    * can PROVE no qualifying right row can still arrive (a late match
    * after that is behind the watermark and would be dropped anyway).
    * The null emission therefore rides state eviction, one more batch
    * after the watermark advance; a bounded replay must push the
    * watermark past the last left row's horizon (sentinel rows on BOTH
    * sides — the global watermark is the minimum) and run a final
    * batch. Same provable O(horizon) state bound as the inner form.
    */
  def intervalJoinStreamLeftOuter(left: DataFrame, right: DataFrame,
                                  keyCol: String, tsCol: String,
                                  horizonSeconds: Long, watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(tsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(tsCol, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") > col(s"l.$tsCol") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $horizonSeconds SECONDS"),
      "left_outer")
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelHit(user_id: Long, funnel_stage: String, stage_order: Int,
                             ts: Timestamp)
  final case class FunnelProgress(reachedTimes: List[Long])

  /** Streaming ordered funnel — the streaming twin of the batch
    * [[graft.operators.Funnel.stageTimes]]: emit a row the moment a user
    * first reaches each stage, where stage k counts only strictly after
    * the user's stage k-1 time. State per user is the list of reached
    * stage times — O(nStages) forever, independent of event volume.
    *
    * Contract vs batch: emissions are MONOTONE — once a stage is reached
    * it is never retracted, so a late-arriving earlier event that would
    * have enabled an earlier stage time in batch is ignored (the standard
    * emit-once streaming trade; the batch operator is the exact form).
    * Events are processed in event-time order within each micro-batch.
    */
  def funnelStream(events: Dataset[FunnelEvent], stages: Seq[String])
      : Dataset[FunnelHit] = {
    require(stages.nonEmpty, "at least one funnel stage")
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[FunnelEvent],
               state: GroupState[FunnelProgress]): Iterator[FunnelHit] = {
      // MICROSECOND ordering/comparison (getTime is ms-truncated): a
      // stage event landing <1 ms after the previous stage must count,
      // exactly as the batch form's full-precision `ts >` does
      var reached = state.getOption.map(_.reachedTimes).getOrElse(Nil)
      val hits = scala.collection.mutable.ListBuffer.empty[FunnelHit]
      rows.toSeq.sortBy(e => (Micros.us(e.ts), e.event_type)).foreach { e =>
        val next = reached.length
        if (next < stages.length && e.event_type == stages(next) &&
            (reached.isEmpty || Micros.us(e.ts) > reached.last)) {
          reached = reached :+ Micros.us(e.ts)
          hits += FunnelHit(userId, stages(next), next + 1, e.ts)
        }
      }
      if (hits.nonEmpty) state.update(FunnelProgress(reached))
      hits.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming near-duplicate detection sink: each micro-batch is deduped
    * against the ACCUMULATED corpus via
    * [[graft.operators.Similarity.minHashNearDupsIncremental]] — the
    * streaming form of the daily-ingest dedup (q46). The sink maintains
    * three stores under `storeDir`, all partitioned by batch_id and
    * written with dynamic partition overwrite, so a replayed micro-batch
    * rewrites exactly its own partitions (idempotent — foreachBatch
    * at-least-once becomes effectively-once):
    *   docs/  — accumulated (id, text), read back only for docs that
    *            land in a candidate pair
    *   bands/ — accumulated LSH band keys; the base side of every batch
    *            is a pure partition-pruned scan of this store (bands are
    *            stored, not recomputed from signatures, so per-batch cost
    *            is independent of corpus age)
    *   pairs/ — near-dup pairs involving each batch's arrivals
    * Each pair is verified on one shingle-array row per candidate
    * document (the incoming text, or the stored text of base docs that
    * land in a candidate pair), so per-batch work scales with the
    * candidates, not with an exploded (id, shingle) frame.
    * Replay safety: store reads filter to `batch_id < current` — a
    * replayed batch that already wrote its partitions before the
    * checkpoint commit failed must not see its own docs as "base"
    * (shingle sets would double and jaccards corrupt). Store existence is
    * probed through the Hadoop FileSystem of the path, so the sink works
    * on hdfs:/s3a: as well as local disk.
    */
  def nearDupSink(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int, numSeeds: Int, rowsPerBand: Int,
                  storeDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Similarity
        val spark = batch.sparkSession
        // The closure's work is ordinary BATCH queries, but they run on
        // the stream's CLONED session, where ResolveWriteToStream turned
        // spark.sql.adaptive.enabled off (AQE can't re-plan stateful
        // streams). This stream has no stateful operator — the micro-batch
        // plan is source→foreachBatch and is structurally exempt from AQE
        // regardless of the conf — so with AQE off the inner pipeline's
        // ~10 shuffles and all three store writes ran at the session's
        // full shuffle width with NO coalescing (measured: 32 files per
        // bands partition per batch at KB volume — guide §2.2/§6 tiny
        // tasks + tiny files). Re-enable AQE for the inner queries so
        // shuffle widths and output file counts track per-batch VOLUME
        // (advisory-size coalescing), at any scale, with no pinned width.
        // The multi-consumer frames below are cached, and by default AQE
        // is skipped INSIDE cached-plan materialization
        // (canChangeCachedPlanOutputPartitioning=false), so the cached
        // bands/candidates pinned the session's full shuffle width into
        // every store file count regardless of the AQE re-enable
        // (measured: bands wrote 32 files per batch partition either
        // way). Scoped to this closure; results are partitioning-free.
        // Every frame cached for this batch is released after the writes.
        Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "true",
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")(Caches.scoped {
          val b = Caches.hold(batch.select(col(idCol), col(textCol)))
          // Incoming band keys are planned ONCE and shared between the
          // pair search and the bands-store write.
          val bands = Caches.hold(Similarity.minHashBandKeys(
            Similarity.shingleSets(b, idCol, textCol, shingleN), numSeeds, rowsPerBand))
          val stored = nearDupBase(spark, storeDir, batchId, b.schema, bands.schema)
          val pairs = Similarity.minHashNearDupsIncremental(
            stored.map(_._1).getOrElse(b.limit(0)), b, idCol, textCol,
            shingleN, numSeeds, rowsPerBand, baseBands = stored.map(_._2),
            incomingBands = Some(bands))
          // The three store writes run one after another, pairs first.
          // Each overwrites only its own batch_id partition and every read
          // here is pruned to batch_id < current, so replay idempotence
          // holds in any order. Run concurrently, they raced to build the
          // shared b/bands caches, and the pairs plan's AQE choices (and
          // its job count) depended on which write won; pairs first always
          // builds them itself, so every batch runs the same jobs, at the
          // pass CPU the concurrent form measured.
          val sc = spark.sparkContext
          val desc = sc.getLocalProperty("spark.job.description")
          try Seq(("pairs", pairs), ("bands", bands), ("docs", b)).foreach { case (store, df) =>
            sc.setJobDescription(s"neardup sink b=$batchId: $store")
            Formats.writePartitioned(df.withColumn("batch_id", lit(batchId)),
              s"$storeDir/$store", Seq("batch_id"))
          } finally sc.setJobDescription(desc)
        })
        ()
      }
      .start()

  /** The stored base of near-dup batch `batchId`: the sink's docs/ and
    * bands/ stores restricted to earlier batches, or None before the
    * first batch wrote them. Both are read with the schema of the frames
    * the sink writes there (`docsSchema`, `bandsSchema`) plus `batch_id`
    * as a long, so building them runs no schema-inference job.
    */
  private[streaming] def nearDupBase(spark: SparkSession, storeDir: String, batchId: Long,
                                     docsSchema: StructType, bandsSchema: StructType)
      : Option[(DataFrame, DataFrame)] = {
    if (!Formats.exists(spark, s"$storeDir/docs")) None
    else {
      def read(store: String, schema: StructType): DataFrame =
        spark.read.schema(schema.add("batch_id", LongType)).parquet(s"$storeDir/$store")
          .where(col("batch_id") < batchId)
      Some((read("docs", docsSchema).drop("batch_id"), read("bands", bandsSchema)))
    }
  }

  /** Streaming upsert sink: each micro-batch SCD1-merges into a parquet
    * snapshot via [[graft.operators.Merge.coalesceMerge]] — the streaming
    * replacement for the reference's cron upsert loop
    * (etl_utls.py:141 upsert_postgres). foreachBatch gives exactly-once
    * per-batch semantics against the rewritten snapshot; the target stays
    * a plain parquet table (keyed `id`, coalesceMerge's output convention)
    * readable by every batch query.
    *
    * The rewrite-the-snapshot pattern is correct while the target fits a
    * daily rewrite budget (dimension-sized tables, like the reference's
    * `address_metadata`); fact-sized targets belong in
    * `Formats.writePartitioned` appends instead.
    *
    * Each batch reads the snapshot with [[Formats.readTable]] and writes
    * the merge back with [[Formats.replaceTable]]: a crash between the
    * swap's two renames leaves the full prior snapshot, which the next
    * batch restores before merging, so the replayed batch never rebuilds
    * the snapshot from itself alone.
    */
  def upsertSink(updates: DataFrame, targetPath: String, updateKey: String,
                 setCols: Map[String, String],
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // re-enable AQE for the closure's batch queries (the stream's
        // cloned session has it forced off; the outer source→foreachBatch
        // plan is structurally exempt either way) so the merge join and
        // snapshot write coalesce to the batch's volume — see nearDupSink
        Sessions.withConf(spark, "spark.sql.adaptive.enabled" -> "true") {
          val merged = Formats.readTable(spark, targetPath) match {
            case None => batch.select(col(updateKey).as("id") +:
              setCols.toSeq.sortBy(_._1).map { case (t, s) => col(s).as(t) }: _*)
            case Some(live) => graft.operators.Merge.coalesceMerge(
                live, batch, "id", updateKey, setCols)
              .drop("is_new", "updated")
          }
          Formats.replaceTable(merged, targetPath)
        }
        ()
      }
      .start()
}
