package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up data generator: writes an `sf1`-style directory (default 10×
  * the sf0.1 input) with the same schemas, for scale evidence beyond the
  * driver-provided testdata (SURVEY §4/§5). NOT driver data — a local
  * probe fixture; the output lives under the repo's gitignored tmp/.
  *
  * Model: each scaling table is replicated `reps` times with a per-replica
  * key offset (1e6 · r on every key/foreign-key column, far above any
  * sf0.1 key), so referential integrity holds inside each replica and key
  * spaces never collide. Fixed-cardinality dims (region, nation) are
  * copied verbatim — the same broadcast-stays-broadcast contract as
  * production (SURVEY §4). Two remaps keep the similarity structure
  * honest instead of degenerate:
  *
  *  - `documents.text`: replicas r > 0 prefix every word with `x{r}`, so
  *    replica vocabularies are (near-)DISJOINT — near-dup structure
  *    (planted dups, shingle collisions, band buckets) replicates per
  *    replica and output grows linearly, instead of every doc colliding
  *    with its 9 copies (candidate blow-up that measures the fixture,
  *    not the operator). Word/shingle COUNTS are preserved exactly.
  *    EXCEPTION (r08): the q122 C4 stopwords {a, the} map to THEMSELVES
  *    in every replica — otherwise only replica 0 carries stopwords and
  *    the sf1 line-clean gate exercises the stopword rule degenerately
  *    (r07 verdict item 4). Two shared monograms cannot form shared
  *    shingles unless a whole k-gram is stopwords-only, which the
  *    fixture text never produces — near-dup disjointness holds.
  *  - `embeddings`: labels shift by 10·r (block sizes stay ~200 — bounded
  *    blocks, the operator's documented contract) and replica vectors get
  *    a small deterministic element-wise perturbation so the corpus is
  *    not 10 exact copies of itself.
  *
  * Every remap is a pure function of stored values, so the DuckDB oracle
  * recomputes the same results from the same parquet — the correctness
  * gate runs unchanged at sf1.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/tmp/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local(Sessions.cpus(32))
    spark.sparkContext.setLogLevel("WARN")

    val rDim = spark.range(reps).select(col("id").as("__r"))
    def replicate(t: DataFrame): DataFrame = t.crossJoin(broadcast(rDim))
    val off = col("__r") * 1000000L
    def write(name: String, df: DataFrame): Unit = {
      df.drop("__r").write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[gendata] wrote $name")
    }
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // fixed-cardinality dims: verbatim
    write("region", read("region"))
    write("nation", read("nation"))

    write("customer", replicate(read("customer"))
      .withColumn("c_custkey", col("c_custkey") + off))
    write("supplier", replicate(read("supplier"))
      .withColumn("s_suppkey", col("s_suppkey") + off))
    write("part", replicate(read("part"))
      .withColumn("p_partkey", col("p_partkey") + off))
    write("orders", replicate(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + off)
      .withColumn("o_custkey", col("o_custkey") + off))
    write("lineitem", replicate(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + off)
      .withColumn("l_partkey", col("l_partkey") + off)
      .withColumn("l_suppkey", col("l_suppkey") + off))

    // events: older driver fixtures store TIMESTAMP(NANOS) (read as long
    // under nanosAsLong, truncated to µs exactly as Tables.events does);
    // current fixtures store naive µs TIMESTAMP and pass through (the
    // session pins inferTimestampNTZ=false, so they read as TIMESTAMP)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evSrc = read("events")
    val evMicro =
      if (evSrc.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        evSrc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else evSrc
    write("events", replicate(evMicro)
      .withColumn("event_id", col("event_id") + off)
      .withColumn("user_id", col("user_id") + off))

    write("documents", replicate(read("documents"))
      .withColumn("doc_id", col("doc_id") + off)
      .withColumn("text",
        when(col("__r") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => when(w.isin("a", "the"), w) // q122 stopwords survive per replica
              .otherwise(concat(concat(lit("x"), col("__r")), w))), " "))))
    // pin the fixture property the remap exists for: q122's ACTUAL rule
    // chain (>= 5-word lines carrying a stopword, >= 3 kept lines per
    // doc) must keep documents in EVERY replica, so the sf1 line-clean
    // gate exercises both rule branches non-degenerately; and it must
    // still CUT documents (a fixture where everything survives tests
    // nothing either)
    val docsOut = spark.read.parquet(s"$out/documents.parquet")
    val repOf = (col("doc_id") / 1000000L).cast("long").as("rep")
    val surv = graft.operators.Cleaning.c4LineClean(docsOut, "doc_id", "text",
        lineLen = 12, minWordsPerLine = 5, stopwords = Seq("a", "the"),
        minKeptLines = 3)
      .select(repOf).groupBy(col("rep")).agg(count(lit(1)).as("surv"))
    // bounded collect: `reps` rows (10), the per-replica audit grid
    val audit = docsOut.select(repOf).groupBy(col("rep"))
      .agg(count(lit(1)).as("total"))
      .join(surv, Seq("rep"), "left")
      .select(col("rep"), coalesce(col("surv"), lit(0L)).as("surv"), col("total"))
      .collect()
    val survReps = audit.count(_.getAs[Long]("surv") >= 1L)
    require(audit.length == reps && survReps == reps,
      s"q122-surviving replicas: $survReps of $reps — sf1 line-clean gate degenerate")
    // ...and the rule must still CUT documents in every replica: a remap
    // drift that makes c4LineClean a no-op tests nothing either (both
    // fixture properties the stopword self-map exists for, now both pinned)
    val uncut = audit.filter(r => r.getAs[Long]("surv") >= r.getAs[Long]("total"))
    require(uncut.isEmpty,
      s"c4LineClean cuts nothing in replicas ${uncut.map(_.getAs[Long]("rep")).mkString(",")} " +
        "— sf1 line-clean gate degenerate (rule no longer bites)")
    // ...and the q137 temperature-mix gate requires BOTH rate branches
    // live (min(1, 0.45·√(N/n_lang)): en's skew must push its rate below
    // 1 while a tail language caps at 1) — pin that the replica remap
    // preserves the lang skew that keeps them live (the q122 lesson:
    // fixture properties drift silently; r09 verdict item 6). This is a
    // LIVENESS pin on magnitudes, not a bit-exactness replay — the gate
    // itself owns the IEEE contract. The rates come from the OPERATOR
    // (Sampling.temperatureMix, q137's exact invocation), not a
    // re-derived formula — a hand copy would silently keep validating a
    // formula the gate no longer runs if the operator's scale or shape
    // changed (ADVICE r10). Bounded collect: one distinct rate per lang.
    val mixRates = graft.operators.Sampling.temperatureMix(
        docsOut, "lang", "doc_id", scale = 0.45, salt = "tmix")
      .select(col("mix_rate")).distinct().collect().map(_.getDouble(0))
    require(mixRates.exists(_ == 1.0) && mixRates.exists(_ < 1.0),
      s"q137 rate branches degenerate at sf1: rates ${mixRates.sorted.mkString(",")} " +
        "— the replica remap no longer preserves the lang skew")

    write("embeddings", replicate(read("embeddings"))
      .withColumn("vec_id", col("vec_id") + off)
      .withColumn("label", (col("label") + col("__r") * 10).cast("int"))
      .withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + when(col("__r") === 0, lit(0.0))
            .otherwise(((col("__r") * 31 + j) % 7 - 3) * lit(1e-3)))
            .cast("float"))))

    spark.stop()
  }
}
