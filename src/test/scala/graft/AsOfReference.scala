package graft

/** Plain-Scala as-of match reference, written from the q09, q40 and q48
  * oracle SQL with no graft or Spark code, as a nested loop over both
  * sides: per buy, the sells of its key that lie after it under the
  * query's condition give the next sell ts (their minimum), and the
  * match is the least-id sell of the key at that ts. A buy with no sell
  * after it is dropped (inner) or kept unmatched (outer).
  */
object AsOfReference {
  /** (key, ts, id) of one buy or sell. */
  type Leg = (Long, Long, Long)

  /** "sell after buy" of q09: strictly after on (ts, id), the following-
    * rows window ordered by (ts, event_id). */
  val afterOnTsId: (Leg, Leg) => Boolean =
    (b, s) => s._2 > b._2 || (s._2 == b._2 && s._3 > b._3)
  /** q40: `sell.ts >= buy.ts`, the RANGE frame from the current row. */
  val atOrAfterTs: (Leg, Leg) => Boolean = (b, s) => s._2 >= b._2
  /** q48: `exit.ts > entry.ts`. */
  val afterTs: (Leg, Leg) => Boolean = (b, s) => s._2 > b._2

  /** (buy id, matched sell id) per kept buy, sorted. */
  def matches(buys: Seq[Leg], sells: Seq[Leg], after: (Leg, Leg) => Boolean,
              outer: Boolean): Seq[(Long, Option[Long])] =
    buys.flatMap { b =>
      val sameKey = sells.filter(_._1 == b._1)
      val next = sameKey.filter(after(b, _)).map(_._2).minOption
      val sell = next.map(t => sameKey.filter(_._2 == t).map(_._3).min)
      if (sell.isEmpty && !outer) None else Some(b._3 -> sell)
    }.sorted
}
