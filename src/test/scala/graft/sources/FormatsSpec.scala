package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("CSV round-trip preserves rows under explicit schema") {
    val dir = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    Formats.writeCsv(df, s"$dir/out")
    val back = Formats.readCsv(spark, s"$dir/out", schema)
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("JSONL round-trip preserves rows") {
    val dir = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-json").toString
    val df = Seq((1L, "x", 0.25)).toDF("id", "name", "score")
    Formats.writeJsonl(df, s"$dir/out")
    val back = Formats.readJsonl(spark, s"$dir/out", schema)
      .as[(Long, String, Double)].collect()
    assert(back.toSeq == Seq((1L, "x", 0.25)))
  }

  test("ORC round-trip preserves rows and prunes columns") {
    val dir = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-orc").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    Formats.writeOrc(df, s"$dir/out")
    val back = Formats.readOrc(spark, s"$dir/out")
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // column pruning reaches the ORC scan
    val plan = back.select("id").queryExecution.executedPlan.toString
    assert(plan.contains("struct<id:bigint>"), s"no pruned ReadSchema:\n$plan")
  }

  test("readJsonlStream picks up JSON documents landing in the directory") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-jsonl-landing").toString
    val sch = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1).write.mode("append").json(dir)
    val q = Formats.readJsonlStream(spark, dir, sch)
      .groupBy().sum("v")
      .writeStream.format("memory").queryName("jsonl_landed")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_landed").as[Double].collect().head == 1.0)
      Seq((2L, 5.0)).toDF("id", "v").coalesce(1).write.mode("append").json(dir)
      q.processAllAvailable()
      assert(spark.table("jsonl_landed").as[Double].collect().head == 6.0)
    } finally q.stop()
  }

  test("readTable restores a stranded table; replaceTable rewrites a table from its own read") {
    val t = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-table").toString + "/t"
    def ids = Formats.readTable(spark, t).get.as[Long].collect().sorted.toSeq
    assert(Formats.readTable(spark, t).isEmpty)
    Formats.replaceTable(Seq(1L, 2L).toDF("id"), t)
    Formats.replaceTable(Formats.readTable(spark, t).get.select((col("id") * 10).as("id")), t)
    assert(ids == Seq(10L, 20L))
    // a crash between the swap's renames leaves the whole table at oldPath
    val stranded = java.nio.file.Paths.get(Formats.oldPath(t))
    Files.move(java.nio.file.Paths.get(t), stranded)
    assert(ids == Seq(10L, 20L))
    assert(!Files.exists(stranded))
  }

  test("partitioned write prunes partitions on read") {
    val dir = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-part").toString
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
      .toDF("id", "day", "v")
    Formats.writePartitioned(df, s"$dir/t", Seq("day"))
    val pruned = Formats.readTable(spark, s"$dir/t").get.where(col("day") === "2024-01-01")
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(1L))
    // dynamic overwrite replaces only the touched partition
    Formats.writePartitioned(Seq((3L, "2024-01-02", 9.0)).toDF("id", "day", "v"), s"$dir/t", Seq("day"))
    val all = Formats.readTable(spark, s"$dir/t").get.select("id").as[Long].collect().sorted
    assert(all.toSeq == Seq(1L, 3L))
  }

  test("bucketed tables join with no shuffle exchange") {
    val a = (1L to 100L).map(i => (i, s"u$i")).toDF("uid", "name")
    val b = (1L to 100L).map(i => (i, i * 2.0)).toDF("uid", "worth")
    Formats.writeBucketed(a, "bkt_a", Seq("uid"), 4, sortCols = Seq("uid"))
    Formats.writeBucketed(b, "bkt_b", Seq("uid"), 4, sortCols = Seq("uid"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "uid")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")
      assert(joined.count() == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("range-clustered layout: disjoint per-file key ranges, content preserved") {
    val dir = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-rc").toString + "/t"
    val df = (0 until 400).map(i => ((i * 7919) % 400L, i.toDouble))
      .toDF("k", "v")
    Formats.writeRangeClustered(df, dir, "k", numFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.as[(Long, Double)].collect().toSet ==
      df.as[(Long, Double)].collect().toSet)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min($"k").as("lo"), max($"k").as("hi"))
      .select($"lo", $"hi").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranges.length == 4, s"expected 4 files: ${ranges.toSeq}")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap: ${ranges.toSeq}")
    }
  }

  test("range clustering lets a pushed range predicate skip row groups at read time") {
    val root = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-rc-skip").toString
    val df = (0 until 4000).map(i => ((i * 7919) % 4000L, i.toDouble))
      .toDF("k", "v")
    Formats.writeRangeClustered(df, s"$root/clustered", "k", numFiles = 8)
    // round-robin twin: same rows, same file count, scattered key ranges
    df.repartition(8).write.parquet(s"$root/scattered")
    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path).where($"k".between(1000, 1499))
      // collect(), not count(): count() plans its own aggregate execution,
      // leaving THIS queryExecution's scan metrics untouched
      assert(q.collect().length == 500) // keys are a permutation of 0..3999
      q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.get
    }
    val clustered = scannedRows(s"$root/clustered")
    val scattered = scannedRows(s"$root/scattered")
    // every scattered file's [min,max] covers the predicate range, so all
    // 4000 rows stream through its scan; the clustered layout's disjoint
    // footer stats let the reader skip every non-overlapping row group
    assert(scattered == 4000L, s"scattered twin must scan everything, got $scattered")
    // The exact skip bound is the row count of the FILES whose [min,max]
    // overlaps the predicate — computed from the written layout, not a
    // constant: repartitionByRange samples its boundaries with a seed
    // derived from rdd.id, so file split points wobble by a few rows
    // with suite execution order (a fixed 1500 bound flaked at 1506 in
    // the full run while passing in isolation).
    val overlapRows = spark.read.parquet(s"$root/clustered")
      .groupBy(input_file_name().as("f"))
      .agg(min($"k").as("lo"), max($"k").as("hi"), count($"k").as("n"))
      .where($"hi" >= 1000 && $"lo" <= 1499)
      // coalesce: sum over ZERO overlapping files is null, and a null
      // Long decode would NPE here instead of failing the assert below
      // with its diagnostic
      .agg(coalesce(sum($"n"), lit(0L))).as[Long].head()
    assert(clustered <= overlapRows,
      s"clustered scan read past the overlapping files: $clustered > $overlapRows")
    // and the layout itself must keep that overlap small — ~3 of 8 files
    // (500-key predicate over ~500-row files, ± boundary wobble)
    assert(overlapRows <= 2000L,
      s"clustered layout's overlapping files cover too much: $overlapRows rows")
  }

  test("z-order lets range predicates on BOTH columns skip at read time") {
    val root = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-zo-skip").toString
    // independent permutations on both keys: no correlation a single-key
    // sort could exploit for the second column
    val df = (0 until 4096).map(i => ((i * 7919) % 4096L, (i * 104729) % 4096L))
      .toDF("a", "b")
    Formats.writeZOrdered(df, s"$root/zordered", "a", "b", numFiles = 16)
    // single-key clustered twin: perfect on a, blind on b
    Formats.writeRangeClustered(df, s"$root/aclustered", "a", numFiles = 16)
    def scanned(path: String, c: String): Long = {
      val q = spark.read.parquet(path).where(col(c).between(1024, 2047))
      assert(q.collect().length == 1024) // both keys are permutations
      q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.get
    }
    // the a-clustered twin proves the harness: skips on a, scans all on b
    assert(scanned(s"$root/aclustered", "a") <= 1536L)
    assert(scanned(s"$root/aclustered", "b") == 4096L)
    // z-order skips on BOTH dimensions (quarter-range probe ~ 1/4 of the
    // z-rectangles overlap; allow half with range-partitioner slop)
    assert(scanned(s"$root/zordered", "a") <= 2048L)
    assert(scanned(s"$root/zordered", "b") <= 2048L)
  }
}

class ParquetStreamSpec extends graft.SparkSpec {
  import spark.implicits._

  test("readParquetStream picks up files landing in the directory") {
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-landing").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    val q = Formats.readParquetStream(spark, dir, schema)
      .groupBy().sum("v")
      .writeStream.format("memory").queryName("landed").outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      assert(spark.table("landed").as[Double].collect().head == 3.0)
      // a second file lands -> next micro-batch folds it in
      Seq((3L, 4.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("landed").as[Double].collect().head == 7.0)
    } finally q.stop()
  }
}
