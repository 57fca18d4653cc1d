package graft.operators

import java.nio.file.Files

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Failure injection for every operator that caches: its input raises an
  * error when evaluated, the failing action runs inside a [[Caches]]
  * scope, and afterwards the session holds no cache-manager entry and no
  * persisted RDD.
  */
class CacheReleaseSpec extends graft.SparkSpec {
  import spark.implicits._

  private val Injected = "injected failure"

  /** `df`, read back from parquet, whose column `c` raises the injected
    * error on the rows where `bad` holds. A file scan keeps the optimizer
    * from evaluating the error while it plans: it fires inside a job.
    */
  private def failingWhere(df: DataFrame, bad: Column, c: String): DataFrame = {
    val dir = Files.createTempDirectory(graft.Sessions.scratchRoot, "graft-failing").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).withColumn(c, when(bad, raise_error(lit(Injected))).otherwise(col(c)))
  }

  /** Operators that release their own caches before the failure returns. */
  private val ownScope = Set("Classifier.logisticTrain")

  private val clean = Seq(
    (1L, "alpha beta gamma delta epsilon zeta", "x"),
    (2L, "alpha beta gamma delta epsilon eta", "x"),
    (3L, "one two three four five six", "y"),
    (4L, "one two three four five seven", "y")
  ).toDF("id", "text", "block")
  private lazy val docs = failingWhere(clean, $"id" === 3, "text")

  private val cases: Seq[(String, () => Any)] = Seq(
    "Fuzzy.symDeleteLevenshtein" -> (() =>
      Fuzzy.symDeleteLevenshtein(docs, "id", "text", "block", 1).collect()),
    "Similarity.minHashNearDups" -> (() =>
      Similarity.minHashNearDups(docs, "id", "text", 3, 12, 3).collect()),
    "Similarity.minHashNearDupsIncremental" -> (() =>
      Similarity.minHashNearDupsIncremental(clean.withColumnRenamed("id", "doc_id"),
        docs.select(($"id" + 10).as("doc_id"), $"text"), "doc_id", "text", 3, 12, 3).collect()),
    "Similarity.ngramNearDups" -> (() =>
      Similarity.ngramNearDups(docs, "id", "text", "block", 2, 0.0).collect()),
    "Similarity.simHashNearDups" -> (() =>
      Similarity.simHashNearDups(docs, "id", "text", 16, 3).collect()),
    "Dedup.connectedComponents" -> (() =>
      Dedup.connectedComponents(failingWhere(Seq((1L, 2L), (2L, 3L), (3L, 4L))
        .toDF("a", "b"), $"a" === 3, "a"), "a", "b").collect()),
    "Bpe.train" -> (() =>
      Bpe.train(failingWhere(Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
        .toDF("word", "freq"), $"word" === "newest", "word"), 2)._2.collect()),
    "Graph.pageRank" -> (() =>
      Graph.pageRank(failingWhere(Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 2L))
        .toDF("src", "dst", "w"), $"src" === "c", "src"),
        "src", "dst", $"w", iters = 3, danglingRedistribute = true).collect()),
    "Classifier.logisticTrain" -> (() =>
      Classifier.logisticTrain(docs, "id", "text", $"id" % 2 === 0,
        nBuckets = 16, iters = 2, lr = 0.5, salt = "s").scored.collect()),
    "Classifier.logisticTrainOneVsRest" -> (() =>
      Classifier.logisticTrainOneVsRest(docs, "id", "text", "block",
        nBuckets = 16, iters = 2, lr = 0.5, salt = "s", tokens = split(_, " ")).collect())
  )

  cases.foreach { case (name, run) =>
    test(s"$name: a failed action inside a scope leaves no cache behind") {
      dropAllCaches()
      var cachedAtFailure = false
      val e = intercept[Exception](Caches.scoped {
        try run() catch { case t: Throwable => cachedAtFailure = !nothingCached; throw t }
      })
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(Injected)),
        s"$name failed for another reason: $e")
      if (!ownScope(name)) assert(cachedAtFailure, s"$name failed before it cached anything")
      assert(nothingCached, s"$name left " +
        s"${spark.sparkContext.getPersistentRDDs.size} persisted RDDs or cache entries")
    }
  }
}
