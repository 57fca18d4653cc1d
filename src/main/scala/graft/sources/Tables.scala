package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed access to the benchmark tables (one parquet per table under an
  * sf directory). At production scale these are partitioned tables; the
  * loader keeps the scan declarative so partition pruning / predicate
  * pushdown / column pruning all reach the file source.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** The driver's fixtures carry NAIVE microsecond timestamps
    * (isAdjustedToUTC=false). They read as plain µs TIMESTAMP whose UTC
    * instant equals the stored wall-clock — exactly how the DuckDB oracle
    * reads the same files — only in a session with
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` and UTC session
    * time, as `graft.Sessions.local` builds it; Spark 4's default would
    * infer TIMESTAMP_NTZ and break every java.sql.Timestamp encoder.
    */
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  def events: DataFrame = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Documents spread across the session's shuffle-partition count for
    * scan-side compute-heavy consumers (shingling, per-shingle digests,
    * signature assembly). The benchmark files are single-row-group
    * parquet, so the scan arrives as ONE split and everything before the
    * first exchange would run on one task; production tables arrive as
    * thousands of splits, which this repartition models. The count is
    * explicit because the exchange is compute-bound, not size-bound —
    * AQE's size-based coalescing would fold a sub-MB text shuffle back to
    * one partition (same lesson as `Fuzzy.blockedLevenshtein`, SURVEY §4).
    * At true production scale callers should use `documents` directly:
    * re-shuffling a 100 TB corpus that is already split is pure waste.
    */
  def documentsSpread: DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    documents.repartition(parts, col("doc_id"))
  }

  /** Same split-modeling for the largest fact table: q05's enrichment
    * chain is all broadcast joins at test scale, so the entire 600k-row
    * probe side would otherwise run on the single scan task.
    */
  def lineitemSpread: DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    lineitem.repartition(parts, col("l_orderkey"))
  }
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
