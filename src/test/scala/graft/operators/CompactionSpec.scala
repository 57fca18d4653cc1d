package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  /** 3 dates × 20 rows, deliberately fragmented: round-robin repartition
    * spreads every date across `nFiles` tasks → `nFiles` files per
    * partition directory.
    */
  private def fragmented(dir: String, nFiles: Int = 5): DataFrame = {
    val df = (0 until 60).map { i =>
      (i.toLong, s"2024-03-0${1 + i % 3}", i * 1.5)
    }.toDF("id", "d", "v").withColumn("d", to_date($"d"))
    df.repartition(nFiles).write.partitionBy("d").parquet(dir)
    df
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-compact").toString + "/t"

  private def contents(path: String): Set[(Long, String, Double)] =
    spark.read.parquet(path).select($"id", $"d".cast("string"), $"v")
      .as[(Long, String, Double)].collect().toSet

  test("compact collapses oversplit partitions to one file and preserves content") {
    val dir = tmp()
    val df = fragmented(dir)
    val before = Compaction.partitionFileCounts(spark, dir, "d")
    assert(before.values.forall(_ > 1), s"fixture must be fragmented: $before")
    val done = Compaction.compact(spark, dir, "d")
    assert(done.sorted == before.keys.toSeq.sorted)
    val after = Compaction.partitionFileCounts(spark, dir, "d")
    assert(after.values.forall(_ == 1), s"expected 1 file per partition: $after")
    assert(contents(dir) ==
      df.select($"id", $"d".cast("string"), $"v").as[(Long, String, Double)].collect().toSet)
  }

  test("compact touches only fragmented partitions and re-runs as a no-op") {
    val dir = tmp()
    // one healthy single-file partition plus two fragmented ones
    val healthy = Seq((100L, "2024-04-01", 1.0)).toDF("id", "d", "v")
      .withColumn("d", to_date($"d"))
    healthy.coalesce(1).write.partitionBy("d").parquet(dir)
    val frag = (0 until 40).map(i => (i.toLong, s"2024-04-0${2 + i % 2}", i * 1.0))
      .toDF("id", "d", "v").withColumn("d", to_date($"d"))
    frag.repartition(4).write.mode("append").partitionBy("d").parquet(dir)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def fileIds(p: String): Set[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, p))
        .filter(_.isFile).map(s => s.getPath.getName -> s.getModificationTime).toSet
    val healthyBefore = fileIds("d=2024-04-01")

    val done = Compaction.compact(spark, dir, "d")
    assert(done == Seq("2024-04-02", "2024-04-03"))
    // the healthy partition's files are bit-the-same files (name + mtime)
    assert(fileIds("d=2024-04-01") == healthyBefore)
    assert(Compaction.compact(spark, dir, "d").isEmpty,
      "second run must be a no-op")
  }

  test("maxRecordsPerFile splits a large partition and preserves content") {
    val dir = tmp()
    val df = fragmented(dir, nFiles = 6) // 20 rows per date
    val done = Compaction.compact(spark, dir, "d", maxFiles = 2,
      maxRecordsPerFile = 8L) // ceil(20/8) = 3... but writer packs 8,8,4
    assert(done.nonEmpty)
    val after = Compaction.partitionFileCounts(spark, dir, "d")
    assert(after.values.forall(n => n >= 2 && n <= 3),
      s"20 rows at 8 records/file must split into 2-3 files: $after")
    assert(contents(dir) ==
      df.select($"id", $"d".cast("string"), $"v").as[(Long, String, Double)].collect().toSet)
  }

  test("recover restores a partition stranded mid-swap and compact heals it") {
    val dir = tmp()
    val df = fragmented(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the crash window: the old partition retired into the
    // staging tree, the new one never promoted
    val name = "d=2024-03-02"
    val oldRoot = new org.apache.hadoop.fs.Path(dir, "_compacting/old")
    fs.mkdirs(oldRoot)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, name),
      new org.apache.hadoop.fs.Path(oldRoot, name)))
    // the table is now missing a partition; compact() must first restore
    // it, then compact everything
    val done = Compaction.compact(spark, dir, "d")
    assert(done.contains("2024-03-02"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_compacting")))
    assert(contents(dir) ==
      df.select($"id", $"d".cast("string"), $"v").as[(Long, String, Double)].collect().toSet)
  }

  test("the compaction staging read covers only the fragmented partitions") {
    val dir = tmp()
    val healthy = Seq((100L, "2024-05-01", 1.0)).toDF("id", "d", "v")
      .withColumn("d", to_date($"d"))
    healthy.coalesce(1).write.partitionBy("d").parquet(dir)
    val frag = (0 until 20).map(i => (i.toLong, "2024-05-02", i * 1.0))
      .toDF("id", "d", "v").withColumn("d", to_date($"d"))
    frag.repartition(4).write.mode("append").partitionBy("d").parquet(dir)
    // the directory-selection read compact() issues: only the fragmented
    // partition's files enter the job, and the partition column survives
    val read = spark.read.option("basePath", dir).parquet(s"$dir/d=2024-05-02")
    assert(read.inputFiles.length == 4,
      "staging read must cover exactly the fragmented partition's files")
    assert(read.columns.contains("d"), "basePath must preserve the partition column")
    assert(read.count() == 20)
  }
}
