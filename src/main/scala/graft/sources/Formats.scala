package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond the default parquet tables: CSV and JSON
  * readers/writers (the reference round-trips CSVs for bulk loads,
  * etl_utls.py export_to_csv/import_from_csv) plus partitioned-parquet
  * writes (the production layout every incremental job appends into).
  *
  * Readers always take an explicit schema: schema inference reads the data
  * twice and can silently drift between runs — never acceptable in a
  * pipeline at scale.
  *
  * It is also the one owner of tables that may not exist yet: every
  * existence probe and rename in the engine goes through [[fileSystem]],
  * a table the engine both reads and rewrites is read with [[readTable]]
  * and replaced with [[replaceTable]].
  */
object Formats {

  /** The Hadoop `FileSystem` that serves `path` under the session's
    * Hadoop configuration, so probes and renames work unchanged on
    * hdfs:/s3a: paths, not just local disk.
    */
  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Whether anything exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean =
    fileSystem(spark, path).exists(new Path(path))

  /** Where [[replaceTable]] stages the live table while it promotes the
    * replacement; a crash between its two renames leaves the complete
    * previous table here and nothing at `path`.
    */
  def oldPath(path: String): String = s"$path.old"

  /** The parquet table at `path`, or None when there is none. A table a
    * crash left stranded at [[oldPath]] is first restored. A table that is
    * present but unreadable fails with Spark's error, which names the
    * path: treating it as absent would rebuild (or overwrite) it from
    * scratch.
    */
  def readTable(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = fileSystem(spark, path)
    val (live, old) = (new Path(path), new Path(oldPath(path)))
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"failed to restore $old to $live")
    if (fs.exists(live)) Some(spark.read.parquet(path)) else None
  }

  /** Replaces the parquet table at `path` with `df`, also when `df` reads
    * that table: `df` is written in full to `<path>.tmp`, the live table
    * is moved to [[oldPath]], the replacement is promoted and the old
    * table deleted. The live table is never truncated before its
    * replacement is complete, and a crash between the renames leaves the
    * whole previous table for [[readTable]] to restore.
    */
  def replaceTable(df: DataFrame, path: String): Unit = {
    val fs = fileSystem(df.sparkSession, path)
    val (live, tmp, old) = (new Path(path), new Path(s"$path.tmp"), new Path(oldPath(path)))
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(old, true)
    if (fs.exists(live))
      require(fs.rename(live, old), s"failed to stage $live to $old")
    require(fs.rename(tmp, live), s"failed to promote $tmp to $live")
    fs.delete(old, true)
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "FAILFAST")
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Partitioned parquet write — the production fact-table layout. Daily
    * jobs overwrite only the partitions they touched (dynamic mode), the
    * exact replacement for the reference's current-day delete+reload.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    // per-writer option, not session conf: flipping the session-wide
    // partitionOverwriteMode would silently change unrelated writes
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed parquet table — the co-located-join layout for repeated big
    * joins on the same key (e.g. events⋈events, trades⋈ownership). Both
    * sides written with the same bucket count and key join with NO
    * exchange: each task reads matching bucket files directly, so the
    * 100 TB shuffle is paid once at write time and never again. `sortCols`
    * additionally pre-sorts within buckets, letting sort-merge join skip
    * its sort. Requires a table name (bucketing metadata lives in the
    * catalog, not the parquet footer).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.format("parquet").saveAsTable(table)
  }

  /** Range-clustered parquet layout — the data-skipping complement of
    * [[writeBucketed]]. Bucketing co-locates EQUI-join keys; range
    * clustering makes every file's min/max footer statistics tight and
    * pairwise disjoint on `clusterCol`, so a pushed range predicate
    * (`ts BETWEEN …`, `user_id >= …` — the time-travel and id-slice scans
    * every fact table serves) skips whole row groups at read time instead
    * of streaming 100 TB through a filter. One range shuffle at write
    * time; no catalog needed (the stats live in the parquet footers).
    *
    * `numFiles` sizes the layout: ranges are sampled by Spark's range
    * partitioner, each output file covers one range, and a key never
    * spans two files. At cluster scale pick numFiles so each file lands
    * near the FS block size.
    */
  def writeRangeClustered(df: DataFrame, path: String, clusterCol: String,
                          numFiles: Int): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-ordered parquet layout — the MULTI-column data-skipping complement
    * of [[writeRangeClustered]]. Range clustering makes footer stats tight
    * on ONE key; sorting on (a, b) lexicographically leaves b's per-file
    * ranges as wide as the table. Interleaving the bits of both keys'
    * normalized bin indices into one Morton code and range-clustering on
    * THAT gives every file a small rectangle in (a, b) space, so pushed
    * range predicates on EITHER column (or both) skip most files — the
    * layout Delta/Iceberg `OPTIMIZE ZORDER BY` builds, here as one range
    * shuffle at write time.
    *
    * Bin normalization is min/max over the frame (two scalar aggregates,
    * collected once — bounded driver state); `bits` bins per dimension is
    * 2^bits, 16 by default (a 32-bit Morton code). The interleave itself
    * is a chain of shift/and/or column expressions — pure codegen, no UDF.
    * The Morton column is dropped before the write; only the layout
    * remembers it.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    require(numFiles >= 1, "numFiles must be >= 1")
    require(bits >= 1 && bits <= 31, "bits must be in 1..31")
    val bounds = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    require(!bounds.anyNull, "z-order columns must have non-null bounds")
    val (loA, hiA) = (bounds.getDouble(0), bounds.getDouble(1))
    val (loB, hiB) = (bounds.getDouble(2), bounds.getDouble(3))
    val scale = (1L << bits).toDouble
    def bin(c: String, lo: Double, hi: Double) = {
      val span = math.max(hi - lo, 1e-12)
      least(lit((1L << bits) - 1L),
        floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(scale))
          .cast("long"))
    }
    def bitAt(c: Column, i: Int) = shiftright(c, i).bitwiseAND(lit(1L))
    val (ba, bb) = (bin(colA, loA, hiA), bin(colB, loB, hiB))
    val z = (0 until bits).map { i =>
      shiftleft(bitAt(ba, i), 2 * i).bitwiseOR(shiftleft(bitAt(bb, i), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Streaming file source over a landing directory: each new parquet file
    * becomes a micro-batch — the streaming replacement for the reference's
    * cron-driven "load whatever CSVs appeared" loop. `maxFilesPerTrigger`
    * bounds batch size so a backlog drains at a controlled rate.
    */
  def readParquetStream(spark: SparkSession, path: String, schema: StructType,
                        maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Streaming JSONL landing source — the streaming form of the
    * reference's metadata-JSON daemon (load_metadata_json_daemon.py: a
    * loop polling a directory of JSON documents). Same explicit-schema
    * and bounded-batch contract as [[readParquetStream]]; FAILFAST so a
    * malformed document stops the stream instead of silently nulling.
    */
  def readJsonlStream(spark: SparkSession, path: String, schema: StructType,
                      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("mode", "FAILFAST")
      .json(path)

  /** Bounded catch-up drain of a JSONL landing backlog —
    * `Trigger.AvailableNow`: process everything present at start in
    * rate-limited micro-batches (maxFilesPerTrigger holds, unlike the
    * legacy Trigger.Once's single giant batch), then STOP on our own.
    * This is the reference's actual cron shape (daily_update_script runs,
    * drains, exits) with streaming's exactly-once bookkeeping: each
    * invocation resumes from the shared checkpoint, so run N+1 picks up
    * exactly the files that landed after run N terminated. At 100 TB
    * the rate limit is what keeps a month-long backlog from becoming
    * one un-spillable batch.
    *
    * Returns (terminatedOnItsOwn, nonEmptyBatches).
    */
  def drainJsonlBacklog(spark: SparkSession, landingPath: String,
                        schema: StructType, sinkPath: String, ckptPath: String,
                        maxFilesPerTrigger: Int = 4,
                        timeoutMs: Long = 300000L): (Boolean, Int) = {
    val q = readJsonlStream(spark, landingPath, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", ckptPath)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", sinkPath)
      .start()
    val terminated = q.awaitTermination(timeoutMs)
    if (!terminated) q.stop()
    (terminated, q.recentProgress.count(_.numInputRows > 0))
  }

  /** ORC round-trip — interchange with ORC-based warehouses (Hive/Trino
    * deployments commonly hand over ORC). Same column-pruning/pushdown
    * properties as parquet under Spark's vectorized reader.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)
}
