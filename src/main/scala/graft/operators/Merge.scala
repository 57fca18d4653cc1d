package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD1 upsert / coalesce-merge — the reference's staging-table upsert
  * (etl_utls.py:141 upsert_postgres, :157 update_postgres) and the
  * metadata coalesce-merge (update_etl.py:1322
  * batch_load_address_metadata_from_address_metadata_opensea).
  *
  * Expressed as a single full-outer shuffle join (or broadcast when the
  * source delta is small — the common incremental case), not row-at-a-time
  * driver updates.
  */
object Merge {

  /** Full-outer merge of `source` into `target` on `key`.
    * For each column in `updateCols`, source wins when non-null (coalesce);
    * target columns not in `updateCols` pass through; rows present only in
    * source are inserted. Adds `is_new` (insert) and `updated` flags.
    */
  def coalesceMerge(target: DataFrame, source: DataFrame, targetKey: String,
                    sourceKey: String, updateCols: Map[String, String]): DataFrame = {
    val t = target.alias("t")
    val s = source.alias("s")
    val joined = t.join(s, col(s"t.$targetKey") === col(s"s.$sourceKey"), "full_outer")
    val id = coalesce(col(s"t.$targetKey"), col(s"s.$sourceKey")).as("id")
    val passThrough = target.columns.filterNot(c => c == targetKey || updateCols.contains(c))
      .map(c => col(s"t.$c").as(c))
    val merged = updateCols.toSeq.sortBy(_._1).map { case (tc, sc) =>
      coalesce(col(s"s.$sc"), col(s"t.$tc")).as(tc)
    }
    joined.select(
      (id +: passThrough) ++ merged :+
        col(s"t.$targetKey").isNull.as("is_new") :+
        col(s"s.$sourceKey").isNotNull.as("updated"): _*)
  }

  /** CDC changelog application with tombstones — the missing DELETE leg
    * of the SCD1 family ([[coalesceMerge]] upserts, the anti-join insert
    * `Incremental.firstTouchInsert` appends; neither can retract). `log`
    * carries full row images plus an op column: 'D' is a tombstone,
    * anything else an upsert. Per key the LATEST op wins ((tsCol desc,
    * seqCol desc) — seq breaks same-timestamp ties, the upsert-sink
    * convention); a terminal tombstone removes the key even if it only
    * ever existed in the log. Keys the log never touches pass through
    * from the snapshot.
    *
    * One shuffle on the key for the log dedup + one full-outer join
    * (broadcast when the compacted delta is small — the common
    * incremental case). Snapshot value columns must appear in the log
    * row image (full-image CDC, the Debezium `after` shape).
    */
  def applyChangeLog(snapshot: DataFrame, log: DataFrame, key: String,
                     tsCol: String, seqCol: String, opCol: String): DataFrame = {
    val valueCols = snapshot.columns.filterNot(_ == key).toSeq
    val latest = Dedup.oneByKey(log, Seq(key), Seq(col(tsCol).desc, col(seqCol).desc))
    snapshot.alias("t")
      .join(latest.alias("c"), col(s"t.$key") === col(s"c.$key"), "full_outer")
      .where(col(s"c.$opCol").isNull || col(s"c.$opCol") =!= "D")
      .select(coalesce(col(s"t.$key"), col(s"c.$key")).as(key) +:
        valueCols.map(c =>
          when(col(s"c.$key").isNotNull, col(s"c.$c"))
            .otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** Daily-snapshot membership merge — the reference's
    * insider_to_circle_mapping maintenance (update_etl.py:905-920):
    * `delete where created_at = <snapshot date>` (idempotent re-run),
    * `update set is_current = false` for all surviving history, then
    * insert today's snapshot with `is_current = true`.
    *
    * `snapshot` must carry `dateCol` (its snapshot date(s)); history rows
    * sharing a snapshot date are dropped before the flip so a re-run
    * replaces rather than duplicates. The anti-join key is the tiny
    * distinct-date set — broadcast, no shuffle of the history table.
    */
  def snapshotMerge(history: DataFrame, snapshot: DataFrame, dateCol: String,
                    isCurrentCol: String = "is_current"): DataFrame = {
    val dates = snapshot.select(col(dateCol)).distinct()
    history.join(broadcast(dates), Seq(dateCol), "left_anti")
      .withColumn(isCurrentCol, lit(false))
      .unionByName(snapshot.withColumn(isCurrentCol, lit(true)))
  }

  /** SCD2 (validity-interval) merge — the reference's
    * collection_to_circle_mapping history (update_etl.py:1094-1124,
    * `started_at`/`ended_at`). `current` rows carry `started_at` and
    * `ended_at` (null = open); `incoming` is the new full state (key +
    * attrs, no interval columns).
    *
    * Per key: open row whose attrs match incoming → unchanged; attrs
    * differ → the open row closes (`ended_at = effectiveDate`) and a new
    * open row starts at `effectiveDate`; keys only in incoming → new open
    * row; keys only in `current` stay open (memberships are closed by a
    * changed snapshot, not by absence — pass a tombstone attr to close).
    * Already-closed history passes through untouched. One full-outer
    * shuffle join on the key; null-safe attr comparison.
    */
  def scd2Merge(current: DataFrame, incoming: DataFrame, key: String,
                attrCols: Seq[String], effectiveDate: Column): DataFrame = {
    val closed = current.where(col("ended_at").isNotNull)
    val open = current.where(col("ended_at").isNull)
    val inc = incoming.select(col(key) +: attrCols.map(col): _*)
    val j = open.alias("o").join(inc.alias("i"),
      col(s"o.$key") === col(s"i.$key"), "full_outer")
    val changed = attrCols.map(a => !(col(s"o.$a") <=> col(s"i.$a"))).reduce(_ || _)
    val openCols = (key +: attrCols).map(c => col(s"o.$c").as(c)) :+
      col("o.started_at").as("started_at")
    // open row survives as-is: no incoming row for the key, or attrs equal
    val keep = j.where(col(s"i.$key").isNull || !changed)
      .where(col(s"o.$key").isNotNull)
      .select(openCols :+ lit(null).cast("date").as("ended_at"): _*)
    // open row closes: incoming attrs differ
    val close = j.where(col(s"o.$key").isNotNull && col(s"i.$key").isNotNull && changed)
      .select(openCols :+ effectiveDate.cast("date").as("ended_at"): _*)
    // new open row: brand-new key, or the changed-attr replacement
    val insert = j.where(col(s"i.$key").isNotNull && (col(s"o.$key").isNull || changed))
      .select((key +: attrCols).map(c => col(s"i.$c").as(c)) :+
        effectiveDate.cast("date").as("started_at") :+
        lit(null).cast("date").as("ended_at"): _*)
    closed.select((key +: attrCols).map(col) :+ col("started_at") :+ col("ended_at"): _*)
      .unionByName(keep).unionByName(close).unionByName(insert)
  }
}
