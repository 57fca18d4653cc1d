package graft.operators

import graft.functions.HashFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-table reconciliation — "did the rebuilt table end up equal to the
  * source, and if not, WHERE?" — as per-partition content checksums.
  *
  * The reference re-validates reloads by re-querying both sides
  * (etl_utls.py's count checks after upserts/backfills); at 100 TB a
  * row-level compare is its own migration. This operator reduces each
  * side to one row PER PARTITION in a single scan-side pass: row count
  * plus order-independent checksums (bit_xor of two independent md5
  * 32-bit lanes, plus a sum lane that catches the duplicate-pair
  * cancellation xor alone would miss). Partial aggregation combines
  * map-side, nothing shuffles but (partitions × 4 longs), and the diff
  * join runs on partition-count-sized frames — the verification cost is
  * one read of each table, no matter how big they are.
  *
  * The row hash rides the same portable md5 construction as the minhash
  * signatures (SURVEY §5): uint32 lanes from hex slices, so the DuckDB
  * oracle replays checksums bit-for-bit. Callers pass the canonical row
  * string explicitly (`rowKey`) — stringification is the portability
  * boundary (float/timestamp formatting differs across engines), so the
  * contract makes it visible instead of hiding a lossy default.
  */
object Reconcile {

  /** One row per partition: (partCol, n_rows, xor_a, xor_b, sum_a). */
  def partitionChecksums(df: DataFrame, partCol: String,
                         rowKey: Column): DataFrame = {
    df.select(col(partCol), HashFns.hexField(rowKey, 1, 8).as("__a"),
        HashFns.hexField(rowKey, 9, 8).as("__b"))
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__a)").as("xor_a"),
        expr("bit_xor(__b)").as("xor_b"),
        sum(col("__a")).as("sum_a"))
  }

  /** Per-partition diff of two tables: `match`, `differ`,
    * `missing_left`, or `missing_right`, with both sides' row counts
    * (null where the side lacks the partition). Each side is one
    * checksum pass; the join is partition-count-sized.
    */
  def diff(left: DataFrame, right: DataFrame, partCol: String,
           rowKey: Column): DataFrame = {
    val l = partitionChecksums(left, partCol, rowKey)
    val r = partitionChecksums(right, partCol, rowKey)
    val cols = Seq("n_rows", "xor_a", "xor_b", "sum_a")
    val lr = l.select(col(partCol) +: cols.map(c => col(c).as(s"l_$c")): _*)
      .join(r.select(col(partCol) +: cols.map(c => col(c).as(s"r_$c")): _*),
        Seq(partCol), "full_outer")
    lr.withColumn("status",
        when(col("l_n_rows").isNull, lit("missing_left"))
          .when(col("r_n_rows").isNull, lit("missing_right"))
          .when(cols.map(c => col(s"l_$c") === col(s"r_$c")).reduce(_ && _),
            lit("match"))
          .otherwise(lit("differ")))
      .select(col(partCol), col("l_n_rows"), col("r_n_rows"), col("status"))
  }
}
