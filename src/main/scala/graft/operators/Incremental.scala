package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-load building blocks — the reference's terminal-timestamp
  * pulls (`get_terminal_ts`, etl_utls.py:328: resume from max loaded ts).
  * Its current-day delete+reload idiom is a dynamic partition overwrite
  * (`sources.Formats.writePartitioned`), which replaces only the periods
  * the written frame holds. The terminal timestamp is a single max()
  * aggregate — Spark reduces it map-side, so the scan is the only cost,
  * and on a date-partitioned table the scan prunes to the newest
  * partitions.
  */
object Incremental {

  /** The resume point: max timestamp already loaded (None on empty). */
  def terminalTs(existing: DataFrame, tsCol: String): Option[java.sql.Timestamp] =
    // bounded: 1-row max-timestamp scalar
    existing.agg(max(col(tsCol))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[java.sql.Timestamp]))

  /** Rows of `incoming` strictly after a terminal ts ([[terminalTs]] of
    * the loaded table; all of `incoming` when it is None) — the
    * incremental delta to append. Callers derive SEVERAL deltas from one
    * boundary (DailyUpdate reads the prior facts' terminal once, then
    * cuts both the fact delta and the raw-event delta the incremental
    * first-touch stage consumes — one bounded scalar action instead of
    * one per delta, and the two cuts cannot disagree). Pushdown-friendly:
    * the ts predicate reaches the incoming scan (partition pruning on
    * date-partitioned layouts).
    */
  def deltaAfter(incoming: DataFrame, tsCol: String,
                 terminal: Option[java.sql.Timestamp]): DataFrame =
    terminal match {
      case Some(t) => incoming.where(col(tsCol) > lit(t))
      case None    => incoming
    }

  /** Incremental first-touch insert — the reference's ONE incremental
    * DERIVED stage (`first_acquisition`, update_etl.py:412-452: insert
    * new (user, type) first-touch rows only, anti-joined against the
    * loaded state; every other derived table there is delete+rebuild).
    *
    * `deltaFirsts` must be the per-key firsts of a delta whose rows are
    * ALL strictly later than every event the state was built from (the
    * [[deltaAfter]] cut) — then keys already in the state keep their
    * recorded first touch (nothing in the delta can precede it) and only
    * ABSENT keys insert, so the result row-for-row equals the full
    * rebuild at delta-sized cost (IncrementalSpec pins the equality,
    * boundary ties included). One shuffle on the keys for the anti join
    * + the union — at 100 TB the anti join's probe side is the
    * delta-sized frame, never the accumulated state.
    */
  def firstTouchInsert(state: DataFrame, deltaFirsts: DataFrame,
                       keys: Seq[String]): DataFrame =
    state.unionByName(deltaFirsts.join(state, keys, "left_anti"))
}
