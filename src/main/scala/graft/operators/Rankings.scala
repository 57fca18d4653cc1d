package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank / percentile / top-k building blocks for the worth-ranking and
  * floor-price surfaces (update_etl.py:537 address_collection_total_worth,
  * :454 nft_contract_floor_price, :838 circle_insider).
  */
object Rankings {

  /** Exact discrete percentile per group: smallest value v in the group with
    * cume_dist(v) >= fraction — exactly `percentile_disc(fraction) WITHIN
    * GROUP (ORDER BY valueCol)` semantics (portable to any engine).
    * One shuffle on the group keys; sort within partitions.
    */
  def percentileDisc(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     fraction: Double, outName: String): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    df.withColumn("__cd", cume_dist().over(w))
      .where(col("__cd") >= fraction)
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol)).as(outName))
  }

  /** Top-k rows under a total order (callers must include a unique tiebreak
    * column in `order` for determinism at the boundary).
    */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame = {
    // global row_number over a single partition is fine for small k outputs;
    // Spark plans orderBy+limit as TakeOrderedAndProject (no full sort).
    df.orderBy(order: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
  }

  /** Global rank under a UNIQUE total order, computed WITHOUT funnelling
    * the whole input through one partition. `rank() over (order by ...)`
    * with no partition spec plans as a single-partition WindowExec — fine
    * on thousands of rows, a straight OOM when the ranked set grows with
    * the data (the reference's address_collection_total_worth rank,
    * update_etl.py:537, ranks EVERY address). This form instead:
    *
    *   1. range-partitions on `order` (distributed sort — the same
    *      machinery as a global orderBy),
    *   2. takes each row's local position from
    *      `monotonically_increasing_id()` applied to the sorted
    *      partitions (contiguous per partition in sort order),
    *   3. aggregates one (count, min id) row PER PARTITION — a frame of
    *      `numShufflePartitions` rows, the only place a single-partition
    *      window runs, bounded by the partition count, never the data —
    *      into cumulative offsets,
    *   4. broadcast-joins the offsets back: rank = offset + local pos.
    *
    * The range exchange is computed once and read twice (offsets + final
    * join) via exchange reuse. `order` MUST be a unique total order
    * (include a tiebreak column): uniqueness is what makes rank ==
    * row_number == dense_rank, so this one form serves all three, and is
    * what makes the output deterministic under any partition boundaries.
    */
  def globalRank(df: DataFrame, order: Seq[Column], outName: String): DataFrame = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .withColumn("__pos", monotonically_increasing_id())
      .withColumn("__pid", spark_partition_id())
    val offsets = sorted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"), min(col("__pos")).as("__base"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__base"), col("__off"))
    sorted.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outName, (col("__pos") - col("__base") + col("__off") + 1).cast("int"))
      .drop("__pid", "__pos", "__base", "__off")
  }

  /** Adds `outName`, the 1-based int `row_number()` of each row within its
    * group: the reference's `row_number() over (partition by groupCols
    * order by order)` (update_etl.py:412-452 first_acquisition, :480-534
    * nft_ownership, :537-631 worth rank, :1182-1199 feed top-3). `order`
    * must be a unique total order within the group (end it with a unique
    * id), so the rank is deterministic under any partitioning and
    * rank == row_number == dense_rank.
    */
  def rankWithin(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                 outName: String): DataFrame =
    df.withColumn(outName,
      row_number().over(Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)))

  /** Top-k rows PER GROUP: [[rankWithin]] cut at `outName <= k`.
    *
    * Scale: the rank-filter-over-window pattern is recognized by Spark's
    * InferWindowGroupLimit rule, which inserts a partial WindowGroupLimit
    * BEFORE the shuffle — each map task keeps only its local top-k per
    * group, so the shuffle carries O(groups × k) rows, not the full input.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                   k: Int, outName: String): DataFrame =
    rankWithin(df, groupCols, order, outName).where(col(outName) <= k)
}
