package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args restrict the dump to named queries (iteration
    // aid; the driver always invokes with exactly two args = full dump)
    val only = args.drop(2).toSet
    require(only.forall(SparkEntry.queries.keySet),
      s"unknown queries: ${only.filterNot(SparkEntry.queries.keySet).mkString(", ")}")
    val spark = Sessions.local(Sessions.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce folds the ENTIRE plan
      // into the single output task (no exchange), so a compute-heavy
      // query runs on one core — at sf1 q60's 450M-pair levenshtein took
      // >10 min single-threaded. repartition adds one tiny exchange and
      // keeps the computation at the session's parallelism; only the
      // parquet encode is single-task (the driver compare wants one file).
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist() internally (e.g. symDeleteLevenshtein's
      // pre-grouping) would otherwise accumulate cached frames across the
      // whole 85+-query session; Bench already clears per query
      spark.catalog.clearCache()
    }
    // JSON string escape (Bench.jstr: backslash, quote, and ALL control
    // chars) — a tab or CR in builder-authored SQL would otherwise make
    // the driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Bench.jstr(s) + "\""
    // Defensive keying: the round-1 driver looked up oracles by OUTPUT
    // FILENAME ("qNN_name.parquet") while we keyed by bare query name, so
    // zero comparisons ran. Emit every entry under BOTH key forms, plus a
    // per-output "<name>.parquet.sql" sidecar holding the raw SQL, so any
    // of the three lookup conventions resolves.
    val entries = SparkEntry.oracleSql.toSeq.flatMap { case (k, v) =>
      Seq(k -> v, s"$k.parquet" -> v)
    }
    val json = entries
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      Files.writeString(Paths.get(s"$outDir/$k.parquet.sql"), v)
    }
    spark.stop()
  }
}
