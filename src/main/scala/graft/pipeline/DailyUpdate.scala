package graft.pipeline

import graft.operators.{Gaps, Incremental}
import graft.queries.{CoreQueries, DerivedQueries, ExtendedQueries, LLMQueries}
import graft.sources.{Formats, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The daily-update orchestration: the Spark-native form of the
  * reference's `daily_update_script.py` (gap-detect → incremental fact
  * loads → derived-table chain → feed tables).
  *
  * Differences by design, not omission:
  *  - per-date Python loops become partition-pruned incremental frames
  *    written with dynamic partition overwrite (one job per table, all
  *    dates at once — the cluster parallelizes over partitions);
  *  - the derived chain is a DAG of declarative plans, so a scheduler can
  *    run independent branches concurrently; ordering below mirrors the
  *    reference's dependency order;
  *  - re-running a day is idempotent (overwrite of the same partitions),
  *    replacing the reference's delete+reload.
  */
object DailyUpdate {

  /** Derived tables in reference dependency order: name → plan builder. */
  def stages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // facts (ingest-clean analog of the three source loads)
    "fact_events_clean" -> CoreQueries.queries("q01_ingest_clean"),
    // enrichment chain
    "trx_union" -> CoreQueries.queries("q05_enriched_lineitems"),
    "first_acquisition" -> CoreQueries.queries("q04_first_touch"),
    "floor_price" -> CoreQueries.queries("q06_floor_price"),
    "ownership" -> CoreQueries.queries("q07_token_ownership"),
    "address_worth" -> CoreQueries.queries("q08_user_worth_rank"),
    "trading_roi" -> CoreQueries.queries("q09_trading_roi"),
    // cohorts + feeds
    "circle_insider" -> CoreQueries.queries("q10_top_users"),
    "insight_trx" -> CoreQueries.queries("q12_daily_action_rollup"),
    "insight" -> CoreQueries.queries("q11_insight_score"),
    "collection_similarity" -> CoreQueries.queries("q18_cooccur_jaccard"),
    // data-quality / profile side tables
    "profile_merge" -> CoreQueries.queries("q15_profile_merge"),
    "dedup_exact" -> LLMQueries.queries("q20_dedup_exact"),
    // round-2 derived tables, reference dependency order: membership
    // snapshots feed the portfolio; metadata parse feeds profiles; the
    // feed score is the terminal post table (update_post)
    "membership_snapshot" -> DerivedQueries.queries("q36_membership_snapshot"),
    "insider_portfolio" -> DerivedQueries.queries("q35_insider_portfolio"),
    "metadata_profiles" -> DerivedQueries.queries("q37_metadata_json"),
    "calldata_decoded" -> DerivedQueries.queries("q38_calldata_decode"),
    "trading_roi_left" -> DerivedQueries.queries("q40_trading_roi_left"),
    "feed_score" -> DerivedQueries.queries("q34_feed_score"),
    // round-3 derived tables: the quality report gates the day (the
    // reference's validation pass), the SCD2 history feeds the
    // point-in-time enrichment, and the analytics tables are terminal
    "data_quality" -> ExtendedQueries.queries("q57_data_quality"),
    "tier_history" -> DerivedQueries.queries("q39_scd2_tier"),
    "tier_at_event" -> ExtendedQueries.queries("q53_tier_at_event"),
    "rolling_value" -> ExtendedQueries.queries("q54_rolling_value"),
    "action_pivot" -> ExtendedQueries.queries("q55_action_pivot"),
    "retention" -> ExtendedQueries.queries("q58_retention"),
    "funnel" -> ExtendedQueries.queries("q59_funnel")
  )

  /** Run the full chain; write each derived table under `outDir`; return
    * table → row count. `fact_events_clean` is written date-partitioned
    * (the production layout); the rest are snapshot overwrites like the
    * reference's derived tables.
    *
    * `deriveStages` defaults to the full reference chain; a caller gating
    * only the incremental fact surface (q96's backfill composition) may
    * pass `Seq.empty` — the fact load and gap check always run.
    *
    * Derived-stage counts come from an [[org.apache.spark.sql.Observation]]
    * riding the write job itself, NOT a read-back count: the read-back
    * doubled every stage's job count (pure scheduler overhead at any SF —
    * the two-day q86 composition was ~110 local jobs), and rows-observed
    * during the write equals rows-readable by construction.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          deriveStages: Seq[(String, (SparkSession, String) => DataFrame)] = stages.tail)
      : Map[String, Long] = {
    // 1. freshness guard — the reference's check_table_for_date_gaps
    val gaps = Gaps.missingDates(Tables(spark, sfDir).events, "user_id", "ts").count()

    // 2. incremental fact load with partitioned layout
    val factPath = s"$outDir/fact_events_clean"
    val clean = stages.head._2(spark, sfDir).withColumn("d", to_date(col("ts")))
    val existing = Formats.readTable(spark, factPath)
    // the prior facts' terminal ts, read ONCE before the append (one
    // bounded scalar action): it cuts the fact delta below AND the
    // raw-event delta the incremental first_acquisition stage consumes —
    // one boundary, two deltas, no drift (and reading it after the
    // append would see today's rows and cut an empty delta)
    val prevTerminal = existing.flatMap(p => Incremental.terminalTs(p, "ts"))
    existing match {
      // delta rows APPEND into their partitions: a dynamic overwrite here
      // would replace the terminal day's partition with only the delta,
      // silently dropping that day's previously loaded rows
      case Some(_) => Incremental.deltaAfter(clean, "ts", prevTerminal)
        .write.mode("append").partitionBy("d").parquet(factPath)
      case None => Formats.writePartitioned(clean, factPath, Seq("d"))
    }

    // 3. derived chain. Every stage reads ONLY the source dir (or, for
    // the incremental first_acquisition, its own prior-day state) and
    // writes its own table — no stage consumes another's output — so the
    // chain is a set of independent jobs, not a dependency chain. Run
    // them from a small thread pool (guide §2.6: overlap independent
    // jobs) so the next stage's tasks back-fill executors freed by the
    // current stage's tail instead of the driver serializing ~25 small
    // jobs; per-stage plans, writes and Observation counts are unchanged,
    // so each table's content is byte-identical to the sequential form.
    // Pool size 8: enough in-flight jobs to fill the tail, few enough not
    // to thrash the scheduler (the guide's "2-3 is plenty" scaled to the
    // many-tiny-stages shape), and never more threads than stages. The
    // first failing stage cancels the others' jobs and is rethrown.
    val counts = graft.Sessions.inParallel(spark, 8)(deriveStages.map {
      case (name, build) => () => {
        spark.sparkContext.setJobDescription(s"daily_update: $name")
        val obs = org.apache.spark.sql.Observation()
        val plan = observedPlan(spark, sfDir, name, build, existing.isDefined,
          prevTerminal, s"$outDir/$name").observe(obs, count(lit(1)).as("n"))
        if (name == "first_acquisition")
          // the incremental plan READS the live state table
          Formats.replaceTable(plan, s"$outDir/$name")
        else plan.write.mode("overwrite").parquet(s"$outDir/$name")
        name -> obs.get("n").asInstanceOf[Long]
      }
    }).toMap

    counts + ("fact_events_clean" -> spark.read.parquet(factPath).count()) +
      ("date_gaps_found" -> gaps)
  }

  /** The plan a derived stage writes. Every stage is the reference's
    * delete+rebuild EXCEPT `first_acquisition` — the one stage the
    * reference itself maintains incrementally (update_etl.py:412-452:
    * anti-join insert of new (user, type) first-touch rows only). With
    * prior state on disk, day N's plan is
    * [[Incremental.firstTouchInsert]] over the firsts of the RAW-event
    * delta (rows after the prior facts' terminal ts — the same boundary
    * the fact load cut): delta-sized work whose output row-for-row
    * equals the full q04 rebuild, because every delta ts is later than
    * every loaded ts (state keys keep their recorded first touch; an
    * absent key's entire history is inside the delta). Gated
    * cross-engine as q144 (oracle = q04's rebuild SQL verbatim); the
    * equality is spec-pinned boundary ties included. Fresh out dirs
    * (day 1), a lost state table and every other stage fall through to
    * the full rebuild; a state table a crash stranded mid-replace is
    * restored first, and an unreadable one fails the run.
    */
  private def observedPlan(spark: SparkSession, sfDir: String, name: String,
                           build: (SparkSession, String) => DataFrame,
                           factsExisted: Boolean,
                           prevTerminal: Option[java.sql.Timestamp],
                           target: String): DataFrame =
    if (name != "first_acquisition" || !factsExisted) build(spark, sfDir)
    else Formats.readTable(spark, target) match {
      case None => build(spark, sfDir) // state lost → rebuild
      case Some(st) =>
        val deltaFirsts = graft.operators.Dedup.firstByKey(
            Incremental.deltaAfter(Tables(spark, sfDir).events, "ts", prevTerminal),
            Seq("user_id", "event_type"), "ts", "event_id")
          .select(col("user_id"), col("event_type"),
            col("event_id").as("first_event_id"), col("ts").as("first_ts"))
        Incremental.firstTouchInsert(st, deltaFirsts, Seq("user_id", "event_type"))
    }

  /** Gap-driven backfill — the reference's `backfill.py`, which loops
    * `check_table_for_date_gaps` → per-date delete+reload. Spark form:
    * diff the target's partition dates against the dates `full` can
    * produce, recompute ONLY the missing dates, and write them with
    * dynamic partition overwrite — present partitions are never touched
    * (no delete phase, idempotent re-run). The date diff is collected to
    * the driver: bounded by calendar days, the same bounded-scalar
    * contract as `Incremental.terminalTs`. Returns the backfilled dates.
    */
  def backfillDates(spark: SparkSession, full: DataFrame, dateCol: String,
                    targetPath: String): Seq[java.sql.Date] = {
    // null dates can't name a partition: isin(null) never matches, so they
    // would be "missing" forever — drop them rather than NPE in the sort
    val expected = full.select(col(dateCol)).where(col(dateCol).isNotNull).distinct()
    // ONLY an absent target is empty. Any other read failure (corrupt
    // footer, transient FS error) aborts: treating it as empty would
    // dynamic-overwrite EVERY partition — exactly the rewrite of history
    // this function promises never to do.
    val present = Formats.readTable(spark, targetPath)
      .fold(expected.limit(0))(_.select(col(dateCol)).distinct())
    // bounded: calendar days in the backfill horizon
    val missing = expected.except(present).collect().map(_.getDate(0)).toSeq.sortBy(_.getTime)
    if (missing.nonEmpty)
      Formats.writePartitioned(
        full.where(col(dateCol).isin(missing: _*)), targetPath, Seq(dateCol))
    missing
  }
}
