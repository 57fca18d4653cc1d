// In the org.apache.spark.sql namespace for the private[sql] bridge
// (Dataset.ofRows) used by the public entry point in graft.operators.AsOf.
package org.apache.spark.sql.graft.asof

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Logical as-of join: for each left ("buy") row, attach the first right
  * ("sell") row of the same key past the left row's (ts, tie) bound
  * (the rule is stated once, on [[AsOfJoinApi.asOfJoin]]). Inner drops a
  * left row with no match; outer keeps it with a null right row.
  *
  * The reference computes this with a range self-join + `row_number()=1`
  * dedup (update_etl.py:710). This node plans to [[AsOfJoinExec]]: ONE
  * hash shuffle + sort per side and a streaming two-pointer merge per
  * partition — O(1) state per key, no intermediate blowup, the
  * formulation that survives 100 TB.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                    leftTs: Attribute, rightTs: Attribute,
                    leftTie: Attribute, rightTie: Attribute, outer: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] = AsOfJoin.output(left.output, right.output, rightKeys, outer)
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
                                                 newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** The left columns, then the right ones minus the right keys (a USING
    * join keeps each key once); outer makes the right ones nullable. */
  def output(left: Seq[Attribute], right: Seq[Attribute], rightKeys: Seq[Expression],
             outer: Boolean): Seq[Attribute] = {
    val kept = right.filterNot(AttributeSet(rightKeys).contains)
    left ++ (if (outer) kept.map(_.withNullability(true)) else kept)
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, ltie, rtie, outer) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, ltie, rtie, outer) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join. Children are hash-clustered on the key and sorted
  * by (key, ts, tie) — EnsureRequirements inserts the exchanges/sorts —
  * then each co-partition is merged with two forward-only pointers:
  * discard right rows at or before the current left (ts, tie) position
  * (later left rows sort after it, so they can never need them), peek the
  * first remaining same-key right row as the match.
  *
  * A right row with a null key, ts or tie is skipped; a left row with one
  * takes no part in the merge (dropped, or emitted unmatched when outer).
  * ts and tie must be long-backed types (timestamp/long/int-widened).
  */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTs: Expression, rightTs: Expression,
                        leftTie: Expression, rightTie: Expression,
                        outer: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] = AsOfJoin.output(left.output, right.output, rightKeys, outer)
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys ++ Seq(leftTs, leftTie)).map(SortOrder(_, Ascending)),
    (rightKeys ++ Seq(rightTs, rightTie)).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTs = leftTs
    val rTs = rightTs
    val lTie = leftTie
    val rTie = rightTie
    val keepUnmatched = outer
    val out = output
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lPosProj = UnsafeProjection.create(Seq(lTs, lTie), lOut)
      val rPosProj = UnsafeProjection.create(Seq(rTs, rTie), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val resultProj = UnsafeProjection.create(out, lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // the right head is copied: the underlying UnsafeRow is reused by
        // the child iterator on next()
        private var rHead: UnsafeRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTs: Long = _
        private var rHeadTie: Long = _
        // first (= min-tie) right row of the (key, ts) run rHead belongs
        // to: the window form matches the min-tie sell AT the matched
        // timestamp, which can sort before the buy when ts are tied
        private var runFirst: UnsafeRow = _
        private var runKey: UnsafeRow = _
        private var runTs: Long = 0L
        private def advanceRight(): Unit = {
          rHead = null; rHeadKey = null
          while (rHead == null && ri.hasNext) {
            val r = ri.next().asInstanceOf[UnsafeRow]
            val key = rKeyProj(r)
            val pos = rPosProj(r)
            if (!key.anyNull && !pos.anyNull) {
              rHead = r.copy()
              rHeadKey = key.copy()
              rHeadTs = pos.getLong(0)
              rHeadTie = pos.getLong(1)
              if (runKey == null || keyOrd.compare(runKey, rHeadKey) != 0 || runTs != rHeadTs) {
                runFirst = rHead
                runKey = rHeadKey
                runTs = rHeadTs
              }
            }
          }
        }
        advanceRight()

        // Computed LAZILY (only when the consumer asks): the projection
        // buffer backing the returned row is reused, so the next row must
        // not be materialized until the previous one has been consumed.
        private var nextRow: InternalRow = _
        private var ready = false

        private def findNext(): Unit = {
          nextRow = null
          while (nextRow == null && li.hasNext && (keepUnmatched || rHead != null)) {
            val l = li.next()
            val lKey = lKeyProj(l)
            val lPos = lPosProj(l)
            if (!lKey.anyNull && !lPos.anyNull) {
              val lT = lPos.getLong(0)
              val lTieV = lPos.getLong(1)
              // drop right rows this and all later left rows can never match:
              // smaller key, or same key at or before this (ts, tie) position
              while (rHead != null && {
                val c = keyOrd.compare(rHeadKey, lKey)
                c < 0 || (c == 0 &&
                  (rHeadTs < lT || (rHeadTs == lT && rHeadTie <= lTieV)))
              }) advanceRight()
              if (rHead != null && keyOrd.compare(rHeadKey, lKey) == 0) {
                // rHead is the first same-key right row positioned after
                // (lT, lTie); the match is the min-tie row of rHead's
                // (key, ts) run — the window form's min-id-at-matched-ts
                nextRow = resultProj(joined(l, runFirst))
              }
            }
            // no match, or a null key/ts/tie: dropped (inner) or joined
            // to an all-null right row (outer)
            if (nextRow == null && keepUnmatched) nextRow = resultProj(joined(l, nullRight))
          }
        }

        override def hasNext: Boolean = {
          if (!ready) { findNext(); ready = true }
          nextRow != null
        }
        override def next(): InternalRow = {
          if (!ready) findNext()
          ready = false
          nextRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
                                                 newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinApi {
  /** The one as-of match: each `buys` row with the first `sells` row of
    * the same `keys` past the buy's bound. "Past" is lexicographic on
    * (ts, tie): the first sell with (sellTs, sellTie) > (buyTs, buyTie);
    * the match is the min-tie sell at that sell's ts (the run-first
    * rule). The tie value the buy passes sets the bound:
    *  - its own id, from a tie domain shared with the sells (a global
    *    event id): strictly after on (ts, id), the `ROWS BETWEEN 1
    *    FOLLOWING ...` window of `AsOf.matchNext`, equal-timestamp ties
    *    included (q09);
    *  - `Long.MinValue`: the least (ts, id) sell with sell.ts >= buy.ts
    *    (q40);
    *  - `Long.MaxValue`: the least (ts, id) sell with sell.ts > buy.ts
    *    (q48).
    * With either sentinel the first sell past the bound already heads its
    * (key, ts) run, so the run-first rule changes nothing for them (a
    * sell tie of `Long.MinValue` itself is out of range).
    *
    * `keys` name columns of both sides and appear once in the output,
    * from `buys` (a USING join). Inner drops a buy with no match or with
    * a null key, ts or tie; outer keeps it with every sell column null,
    * SQL's left-join rule. A sell with a null key, ts or tie never
    * matches. ts and tie columns must be long-backed (timestamp/long).
    * The strategy is registered on first use (`experimental
    * .extraStrategies` is public API).
    */
  def asOfJoin(buys: DataFrame, sells: DataFrame, keys: Seq[String],
               buyTs: String, sellTs: String, buyTie: String, sellTie: String,
               outer: Boolean): DataFrame = {
    val spark = buys.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    val l = buys.queryExecution.analyzed
    // fresh ids for every sell column: both sides may project one relation
    // (a self as-of join), and the analyzer, renewing the repeated
    // relation, can only rewrite the ids a single child owns
    val sellPlan = sells.queryExecution.analyzed
    val r = Project(sellPlan.output.map(a => Alias(a, a.name)()), sellPlan)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not in ${p.output.map(_.name)}"))
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AsOfJoin(l, r, keys.map(attr(l, _)), keys.map(attr(r, _)),
        attr(l, buyTs), attr(r, sellTs), attr(l, buyTie), attr(r, sellTie), outer))
  }
}
