package graft.operators

import org.apache.spark.sql.functions._

class PruningSpec extends graft.SparkSpec {
  import spark.implicits._

  private lazy val fact = (0L until 2000L).map(i => (i, i % 500, i * 1.5))
    .toDF("row_id", "k", "v")
  // 20 keys present in the fact (0, 25, ..., 475) + 5 absent ones
  private lazy val keys = ((0L until 500L by 25L) ++ Seq(1000L, 1001L, 1002L, 1003L, 1004L))
    .toDF("key")

  test("bloom-pruned semi-join equals the exact semi-join") {
    val expected = fact.join(keys, fact("k") === col("key"), "left_semi")
      .as[(Long, Long, Double)].collect().toSet
    val got = Pruning.bloomPrunedSemiJoin(fact, "k", keys, "key",
        expectedItems = 1024L)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("prefilter is a superset of the matches and prunes the rest") {
    val bloom = Pruning.buildBloom(keys, "key", expectedItems = 1024L, fpp = 0.01)
    val kept = Pruning.bloomPrefilter(fact, "k", bloom)
      .select($"k").as[Long].collect()
    val trueKeys = (0L until 500L by 25L).toSet
    // no false negatives: every true match survives
    assert(trueKeys.subsetOf(kept.toSet))
    // 20 of 500 distinct keys match (80 of 2000 rows); at fpp=0.01 the
    // false-positive tail is a handful of extra keys, not hundreds
    assert(kept.length < 400, s"prefilter kept ${kept.length} of 2000 rows")
  }

  test("the bloom probe plans as a native filter at the scan (no UDF, no exchange)") {
    // parquet-backed, not a local relation: ConvertToLocalRelation would
    // otherwise evaluate the filter at optimize time and hide the plan
    val dir = java.nio.file.Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-bloom").toString
    fact.write.mode("overwrite").parquet(dir)
    val bloom = Pruning.buildBloom(keys, "key", expectedItems = 1024L, fpp = 0.01)
    val pruned = Pruning.bloomPrefilter(spark.read.parquet(dir), "k", bloom)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }
}
