package graft.operators

import graft.sources.Formats
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction for partitioned parquet tables.
  *
  * Every incremental load in the pipeline appends one-or-more files into
  * the partitions it touches (`DailyUpdate.run`, the streaming parquet
  * sinks, `backfillDates`): after months of daily/hourly loads a 100 TB
  * fact table holds thousands of KB-sized files per partition, and scan
  * cost becomes file-open cost — the classic small-files failure the
  * reference never hits only because Postgres isn't file-backed. Compaction
  * is the maintenance pass that rewrites ONLY the fragmented partitions
  * into full-sized files, leaving healthy partitions byte-identical.
  *
  * Scale contract:
  *  - the partition census is driver-side file-LISTING only (no data
  *    read), bounded by partition count — the same bounded-metadata
  *    contract as `DailyUpdate.backfillDates`' calendar diff;
  *  - the rewrite is ONE partition-pruned job over exactly the fragmented
  *    partitions (`PartitionFilters` carries the `isin`), repartitioned by
  *    the partition column so each partition's rows collapse into one
  *    writer task; `maxRecordsPerFile` re-splits a partition too large for
  *    one file;
  *  - the swap is per-partition directory renames (atomic on HDFS and
  *    POSIX), staged under a `_compacting` subtree which Spark's file
  *    index ignores (leading underscore), so concurrent readers of the
  *    table never see a half-written partition — the same
  *    snapshot-then-swap shape as the streaming upsert sink's store swap.
  *
  * Crash contract: a crash mid-swap strands the partition's previous
  * content under `_compacting/old/`; the next `compact` call (or an
  * explicit `recover`) restores any partition whose visible directory is
  * missing and clears the staging tree before doing new work, so no
  * sequence of crashes loses rows.
  *
  * Partition values must round-trip through their directory-name string
  * form (dates, ints, unescaped strings) — true of every partition layout
  * in this library (date partitions, `batch_id` longs, shard ints).
  */
object Compaction {

  /** Data files in a directory: parquet parts, not checksums/markers. */
  private def dataFiles(fs: FileSystem, dir: Path): Array[Path] =
    fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }

  /** Partition-value → data-file count, from a driver-side listing of the
    * table root. Metadata-only: bounded by partition count, reads no data.
    */
  def partitionFileCounts(spark: SparkSession, path: String,
                          partitionCol: String): Map[String, Int] = {
    val fs = Formats.fileSystem(spark, path)
    val prefix = partitionCol + "="
    fs.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix) ->
        dataFiles(fs, s.getPath).length)
      .toMap
  }

  /** Heal a staging tree stranded by a crash mid-swap: any partition
    * whose previous content sits under `_compacting/old/` while its
    * visible directory is missing is renamed back, then the whole staging
    * tree is deleted. Never promotes staged NEW content — a crash during
    * the staging write leaves files with no commit marker, so recovery
    * always restores the old state and lets the next compact re-do the
    * work from scratch. Returns the restored partition directory names.
    */
  def recover(spark: SparkSession, path: String): Seq[String] = {
    val fs = Formats.fileSystem(spark, path)
    val staging = new Path(path, "_compacting")
    if (!fs.exists(staging)) return Nil
    val oldRoot = new Path(staging, "old")
    val restored =
      if (!fs.exists(oldRoot)) Nil
      else fs.listStatus(oldRoot).filter(_.isDirectory).toSeq.flatMap { s =>
        val visible = new Path(path, s.getPath.getName)
        if (!fs.exists(visible)) {
          require(fs.rename(s.getPath, visible),
            s"compaction recovery: failed to restore ${s.getPath} to $visible")
          Some(s.getPath.getName)
        } else None
      }
    fs.delete(staging, true)
    restored
  }

  /** Rewrite every partition holding more than `maxFiles` data files into
    * compact files (one per partition unless `maxRecordsPerFile` forces a
    * split). Untouched partitions keep their bytes. Returns the compacted
    * partition values; empty means the table was already compact (so a
    * re-run is a no-op — provided `maxFiles` is at least the file count
    * `maxRecordsPerFile` implies for the largest partition).
    */
  def compact(spark: SparkSession, path: String, partitionCol: String,
              maxFiles: Int = 1, maxRecordsPerFile: Long = 0L): Seq[String] = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    recover(spark, path)
    val oversplit = partitionFileCounts(spark, path, partitionCol)
      .filter(_._2 > maxFiles).keys.toSeq.sorted
    if (oversplit.isEmpty) return Nil

    val fs = Formats.fileSystem(spark, path)
    val staging = new Path(path, "_compacting")
    val newRoot = new Path(staging, "new")
    val oldRoot = new Path(staging, "old")
    fs.mkdirs(oldRoot)

    // ONE job over exactly the fragmented partitions: selecting their
    // DIRECTORIES (with basePath so the partition column survives) makes
    // the listing itself the partition pruning — no literal/column type
    // round-trip to trust — and the repartition on the partition column
    // lands each partition's rows in a single writer task → one output
    // file per partition value.
    val fragDirs = oversplit.map(v => new Path(path, s"$partitionCol=$v").toString)
    spark.read.option("basePath", path).parquet(fragDirs: _*)
      .repartition(col(partitionCol))
      .write.option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol).parquet(newRoot.toString)

    val swapped = oversplit.filter { v =>
      val name = s"$partitionCol=$v"
      val visible = new Path(path, name)
      val staged = new Path(newRoot, name)
      // a partition whose files hold zero rows stages nothing; leave it
      if (fs.exists(staged)) {
        require(fs.rename(visible, new Path(oldRoot, name)),
          s"compaction: failed to retire $visible")
        require(fs.rename(staged, visible),
          s"compaction: failed to promote $staged")
        fs.delete(new Path(oldRoot, name), true)
        true
      } else false
    }
    fs.delete(staging, true)
    swapped
  }
}
