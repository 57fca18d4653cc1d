package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.asof.AsOfJoinApi
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** As-of matching: pair each "buy"-side row with the earliest later
  * "sell"-side row of the same key — the reference's trade-ROI join
  * (`row_number() over (partition by buy… order by sell.date) = 1`,
  * update_etl.py:710).
  *
  * Every query form goes through the one merge operator,
  * `AsOfJoinApi.asOfJoin` (one shuffle+sort per side, a streaming
  * two-pointer merge, O(1) state per key), instead of the reference's
  * O(buys × sells) range self-join: [[matchNextNative]] (q09) is its
  * inner form, [[matchNextLeft]] (q40) its outer form, and q48 calls it
  * on a composite key.
  */
object AsOf {

  /** The composed form of [[matchNextNative]]'s rule, kept as the
    * reference the merge operator is compared against (PropertySpec,
    * AsOfNativeSpec); no query calls it. Events of both sides are
    * interleaved in one window ordered by (ts, id), each buy reads the
    * next sell ts from a following-rows frame, and an equality join plus
    * a min-sell-id dedup picks the sell.
    *
    * `events` must contain keyCol, tsCol, idCol, sideCol, valueCol.
    * Returns one row per buy that has a later sell:
    * (key, buy_event_id, buy_ts, buy_value, sell_event_id, sell_ts,
    *  sell_value, gain).
    */
  def matchNext(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                sideCol: String, buySide: String, sellSide: String,
                valueCol: String): DataFrame = {
    val seq = events.where(col(sideCol).isin(buySide, sellSide))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(1, Window.unboundedFollowing)
    val withNext = seq.withColumn("__next_sell_ts",
      min(when(col(sideCol) === sellSide, col(tsCol))).over(w))
    val buys = withNext.where(col(sideCol) === buySide && col("__next_sell_ts").isNotNull)
      .select(col(keyCol), col(idCol).as("buy_event_id"), col(tsCol).as("buy_ts"),
        col(valueCol).as("buy_value"), col("__next_sell_ts"))
    val sells = seq.where(col(sideCol) === sellSide)
      .select(col(keyCol).as("__sk"), col(idCol).as("sell_event_id"),
        col(tsCol).as("sell_ts"), col(valueCol).as("sell_value"))
    // several sells can share the matched timestamp: keep min sell id.
    val matched = buys.join(sells,
      buys(keyCol) === sells("__sk") && col("__next_sell_ts") === col("sell_ts"))
    Dedup.oneByKey(matched, Seq("buy_event_id"), Seq(col("sell_event_id").asc))
      .select(col(keyCol), col("buy_event_id"), col("buy_ts"), col("buy_value"),
        col("sell_event_id"), col("sell_ts"), col("sell_value"),
        Portable.q4(col("sell_value") - col("buy_value")).as("gain"))
  }

  /** Reference-parity variant of [[matchNextNative]] — the trade-ROI join
    * as the reference actually writes it (update_etl.py:710): the sell
    * bound is INCLUSIVE (`sell.date >= buy.date`: the buy side passes a
    * `Long.MinValue` tie, so an equal-timestamp sell matches regardless of
    * id) and the join is LEFT OUTER — buys with no later sell are kept,
    * their gain computed against `fallback` (the reference coalesces with
    * the collection's current floor price; callers supply the
    * current-price frame as (key, fallback_value)).
    *
    * Output adds `matched`; sell columns are null for unmatched buys, and
    * gain is null when both the sell and the fallback are missing.
    */
  def matchNextLeft(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    sideCol: String, buySide: String, sellSide: String,
                    valueCol: String, fallback: DataFrame,
                    fallbackKeyCol: String, fallbackValCol: String): DataFrame = {
    val (buys, sells) = legs(events, keyCol, tsCol, idCol, sideCol, buySide, sellSide, valueCol)
    val matched = AsOfJoinApi.asOfJoin(buys.withColumn("__bound", lit(Long.MinValue)), sells,
      Seq(keyCol), "buy_ts", "sell_ts", "__bound", "sell_event_id", outer = true)
    val fb = fallback.select(col(fallbackKeyCol).as("__fk"),
      col(fallbackValCol).as("__fallback_value"))
    matched.join(fb, col(keyCol) === col("__fk"), "left")
      .select(col(keyCol), col("buy_event_id"), col("buy_ts"), col("buy_value"),
        col("sell_event_id"), col("sell_ts"), col("sell_value"),
        Portable.q4(coalesce(col("sell_value"), col("__fallback_value")) - col("buy_value")).as("gain"),
        col("sell_event_id").isNotNull.as("matched"))
  }

  /** The trade-ROI match q09 runs: each buy with the first sell strictly
    * after it on (ts, event id) — [[matchNext]]'s rule, equal timestamps
    * included — through the inner [[AsOfJoinApi.asOfJoin]] (one
    * shuffle+sort per side, streaming two-pointer merge, O(1) state per
    * key) instead of window + join + dedup. Buys and sells with a null
    * key, ts or id take no part, matching SQL join semantics.
    */
  def matchNextNative(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                      sideCol: String, buySide: String, sellSide: String,
                      valueCol: String): DataFrame = {
    val (buys, sells) = legs(events, keyCol, tsCol, idCol, sideCol, buySide, sellSide, valueCol)
    AsOfJoinApi.asOfJoin(buys, sells, Seq(keyCol), "buy_ts", "sell_ts",
        "buy_event_id", "sell_event_id", outer = false)
      .select(col(keyCol), col("buy_event_id"), col("buy_ts"), col("buy_value"),
        col("sell_event_id"), col("sell_ts"), col("sell_value"),
        Portable.q4(col("sell_value") - col("buy_value")).as("gain"))
  }

  /** The buy and sell legs of one event log: (key, <side>_event_id,
    * <side>_ts, <side>_value) for side = buy, sell. */
  private def legs(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
                   sideCol: String, buySide: String, sellSide: String,
                   valueCol: String): (DataFrame, DataFrame) = {
    def leg(side: String, as: String) = events.where(col(sideCol) === side)
      .select(col(keyCol), col(idCol).as(s"${as}_event_id"), col(tsCol).as(s"${as}_ts"),
        col(valueCol).as(s"${as}_value"))
    (leg(buySide, "buy"), leg(sellSide, "sell"))
  }
}
