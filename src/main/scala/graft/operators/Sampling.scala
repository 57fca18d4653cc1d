package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-threshold sampling for training-data pipelines.
  *
  * Why not `df.sample(rate)`: Spark's sampler draws per-partition from a
  * seeded RNG, so the selected SET changes whenever partitioning changes
  * (repartition, AQE coalesce, a different file split at another SF) —
  * a backfill re-run samples different rows than the original run.
  * Hashing the row's stable id instead makes the decision a pure function
  * of the data: reproducible across reruns, engines and cluster layouts,
  * and CONSISTENT — the same id is either in or out of every table's
  * sample, so independently sampled tables still join.
  *
  * The unit hash is the first 8 md5 hex digits of (id || salt) scaled to
  * [0, 1): engine-portable (the DuckDB oracle reproduces it bit-for-bit)
  * and uniform enough for rate control. The salt decorrelates different
  * samples over the same ids — two pipelines sampling 10% with different
  * salts overlap ~1%, with the same salt 100%.
  *
  * Scale: a codegen'd projection + filter, no shuffle, pushdown-friendly.
  */
object Sampling {

  /** Unsigned-32 hash of `id` under `salt`: the first 8 md5 hex digits of
    * (id || '#' || salt) as a long — the shared deterministic coin
    * ([[hashUnit]], [[graft.operators.Packing]]).
    */
  def hashLong(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit("#" + salt))), 1, 8), 16, 10)
      .cast("bigint")

  /** Uniform [0, 1) hash of `id` under `salt` — the sampling coin. */
  def hashUnit(id: Column, salt: String): Column =
    hashLong(id, salt) / lit(4294967296.0)

  /** Keep rows whose hash coin lands under `rate`. */
  def hashSample(df: DataFrame, idCol: String, rate: Double, salt: String): DataFrame =
    df.where(hashUnit(col(idCol), salt) < rate)

  /** Per-stratum rates: rows in a stratum named in `rates` keep that rate,
    * others `defaultRate`. One pass, no shuffle; the effective rate of
    * each stratum is exact in expectation and deterministic in membership.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (stratum, r)) => when(col(strataCol) === stratum, r).otherwise(acc)
    }
    df.where(hashUnit(col(idCol), salt) < rate)
  }

  /** Leakage-safe train/valid/test assignment: the split coin is thrown
    * on the GROUP id (a near-dup cluster from
    * [[Dedup.connectedComponents]], a URL domain, an author), so every
    * member of a group lands in the SAME split — near-duplicates of a
    * benchmark-adjacent document can never straddle train and eval, the
    * contamination mode a per-document coin cannot prevent (Lee et al.
    * 2022 §6 measure exactly this leak on C4/RealNews). Fractions are
    * over GROUPS, not rows: a heavy duplicate cluster moves whole, so
    * row shares drift with the cluster-size distribution — that is the
    * semantics (the alternative, rebalancing rows, would split clusters).
    *
    * Scale: a codegen'd projection over the already-assigned group
    * column — no shuffle of its own; the cost lives in producing the
    * grouping upstream. Deterministic: membership is a pure function of
    * (group id, salt), so re-runs, engines, SFs, and partitionings agree
    * row-for-row, and the same group id draws the same split in every
    * table that carries it (independently split shards still align).
    */
  def groupSplit(df: DataFrame, groupCol: String, salt: String,
                 trainFrac: Double, validFrac: Double): DataFrame = {
    require(trainFrac > 0 && validFrac > 0 && trainFrac + validFrac < 1,
      s"fractions must leave all three splits reachable: train=$trainFrac valid=$validFrac")
    val coin = hashUnit(col(groupCol), salt)
    // a NULL group id has no identity to throw the coin on: surface it
    // as a null split for the caller to assign or clean, rather than
    // letting the null coin fall through otherwise() and deterministically
    // dump every unparseable (mutually unrelated) row into 'test'
    df.withColumn("split",
      when(col(groupCol).isNull, lit(null).cast("string"))
        .when(coin < trainFrac, lit("train"))
        .when(coin < trainFrac + validFrac, lit("valid"))
        .otherwise(lit("test")))
  }

  /** Per-domain cap: keep at most `maxN` rows per stratum, chosen by hash
    * order (not input order) so the kept set is a deterministic pure
    * function of the data — re-runs, engines and partitionings agree, and
    * raising the cap later only ADDS rows (the hash order is stable).
    * This is the "cap any single domain" step of a training-data mix.
    * One hash shuffle on the stratum; per-group state is the window.
    */
  def capPerStratum(df: DataFrame, strataCol: String, idCol: String,
                    maxN: Int, salt: String): DataFrame =
    Rankings.topKPerGroup(df, Seq(strataCol),
      Seq(hashUnit(col(idCol), salt).asc, col(idCol).asc), maxN, "__rn").drop("__rn")

  /** Mixture resampling toward target per-stratum shares: given
    * `targetShare` (stratum → fraction of the OUTPUT mix) and a total
    * output budget `targetTotal`, each stratum keeps rate
    * min(1, targetShare × targetTotal / n_stratum) via the hash coin.
    * Strata missing from `targetShare` are dropped (rate 0) — the
    * "rebalance the corpus toward this mix" step of a training run.
    * Per-stratum counts are ONE aggregate joined back (broadcast-sized:
    * one row per stratum); membership stays deterministic per id.
    */
  def mixtureSample(df: DataFrame, strataCol: String, idCol: String,
                    targetShare: Map[String, Double], targetTotal: Long,
                    salt: String): DataFrame = {
    val shares = targetShare.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (stratum, sh)) => when(col(strataCol) === stratum, sh).otherwise(acc)
    }
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    df.join(counts, Seq(strataCol))
      .withColumn("__rate", least(lit(1.0), shares * targetTotal / col("__n")))
      .where(hashUnit(col(idCol), salt) < col("__rate"))
      .drop("__n", "__rate")
  }

  /** Temperature-scaled mixing (α = 0.5): rebalance a skewed stratum
    * distribution toward OUTPUT shares ∝ √p_stratum — the multilingual
    * α-smoothing step (Conneau et al. 2020 §3.1 sample languages with
    * α = 0.3–0.7; Raffel et al. 2020 §3.4.1 temperature-scale mixing
    * rates), which flattens a head-heavy corpus without the caller
    * enumerating per-stratum targets the way [[mixtureSample]] requires:
    * the rates come from the data's own counts. Each stratum keeps
    * rate = min(1, scale · √(N / n_stratum)), so an uncapped stratum's
    * expected output is scale · √(N · n_stratum) ∝ √n_stratum — the
    * α = 0.5 allocation — while strata rarer than scale² · N cap at 1
    * (kept whole: this is the without-replacement form; upsampling past
    * 1 is the trainer's repeat-epochs knob, not a filter's).
    *
    * α is FIXED at 0.5 by design, not a parameter: the rate then needs
    * only √, ×, ÷ and min — all IEEE-754 correctly-rounded, so with the
    * expression written in the same shape every engine computes the
    * bit-identical double and the md5-coin membership is exactly
    * replayable (a general p^α needs `pow`, whose last-ulp behavior is
    * library-specific — the one transcendental this operator refuses on
    * determinism grounds). Output: input columns + `mix_rate` (q6, the
    * audit of what rate each row's stratum drew).
    *
    * Scale shape: ONE stratum-count aggregate over the corpus (broadcast
    * back: one row per stratum); the 1-row total is derived from that
    * counts frame, not a second corpus scan, and the filter itself is a
    * codegen'd projection — no extra shuffle of the data. Null strata
    * are rated as their own stratum (null-safe join; the oracle replays
    * with IS NOT DISTINCT FROM).
    */
  def temperatureMix(df: DataFrame, strataCol: String, idCol: String,
                     scale: Double, salt: String): DataFrame = {
    require(scale > 0, s"scale must be > 0, got $scale")
    // null-SAFE stratum key: a null stratum (unidentified language,
    // unparsed domain) is a real stratum — the count groupBy emits its
    // null group and <=> keys rows to it, so null-stratum rows draw
    // that stratum's own rate; a plain equi-join would silently drop
    // every one of them before the coin is even thrown
    val counts = df.groupBy(col(strataCol).as("__k")).agg(count(lit(1)).as("__n"))
    // the total is the SUM of the stratum counts — derive it from the
    // strata-cardinality-sized frame instead of paying a second full
    // corpus scan for the same exact long (bit-identical rate)
    val total = counts.agg(sum(col("__n")).as("__t"))
    val rate = least(lit(1.0),
      lit(scale) * sqrt(col("__t").cast("double")) / sqrt(col("__n").cast("double")))
    df.join(broadcast(counts), col(strataCol) <=> col("__k"))
      .crossJoin(broadcast(total))
      .withColumn("__rate", rate)
      .where(hashUnit(col(idCol), salt) < col("__rate"))
      .withColumn("mix_rate", Portable.q6(col("__rate")))
      .drop("__k", "__n", "__t", "__rate")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES),
    * deterministic: each row draws u = (hash+1)/2^32 ∈ (0, 1] from the
    * shared md5 coin and scores key = u^(1/weight); the k largest keys
    * ARE the weighted sample — equivalent in distribution to k
    * sequential weighted draws without replacement, which is how a
    * training mix takes "more of the high-quality/long documents"
    * without a rate per stratum (the per-DOC weighted complement of
    * [[mixtureSample]]'s per-SOURCE shares).
    *
    * Membership is a pure function of (id, salt, weight): reruns,
    * engines, and partitionings agree, and like [[capPerStratum]] the
    * hash order is stable, so raising k only ADDS rows (top-k sets
    * nest). The global top-k plans as TakeOrderedAndProject — each task
    * keeps k local rows, only k × tasks reach the driver-side heap —
    * never a full sort. Weights must be positive.
    *
    * Output: input columns + `sample_rank` (1..k by key desc, id asc).
    */
  def weightedTopK(df: DataFrame, idCol: String, weight: Column, k: Int,
                   salt: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // (0, 1]: +1 keeps u off zero so pow(u, 1/w) is never pinned at 0
    val u = (hashLong(col(idCol), salt) + lit(1L)) / lit(4294967296.0)
    val keyed = df.withColumn("__key", pow(u, lit(1.0) / weight))
    Rankings.topK(keyed, Seq(col("__key").desc, col(idCol).asc), k)
      .withColumnRenamed("rank", "sample_rank")
      .drop("__key")
  }

  /** Token-budget mixture planning — the "fill an N-token training
    * budget at these source proportions" solver plus its execution
    * audit, in one frame. [[mixtureSample]] takes RATES as given; real
    * mixes are specified as a token budget and target fractions, and the
    * per-group rate must be SOLVED from what each group can supply:
    * rate = min(1, target·budget / available). A group whose supply
    * falls short caps at rate 1 and the plan surfaces the shortfall
    * (picked_tokens < want_tokens) — the "high-quality source is
    * exhausted" signal a mix designer acts on — instead of silently
    * over-sampling other groups.
    *
    * Scale shape: two group-sized aggregations over the (id, group,
    * tokens) projection with the group-count-sized plan broadcast back
    * for the coin filter; the md5 coin makes membership a pure function
    * of (id, salt), so the audit columns are engine-replayable exact
    * integers. `toks` columns: idCol, groupCol, tokenCol.
    *
    * Output per group: n_docs, avail_tokens, target_frac (q6),
    * want_tokens (q4), rate (q6), picked_docs, picked_tokens. Groups
    * absent from `targets` get rate 0 (planned to zero, still listed).
    */
  def tokenBudgetPlan(toks: DataFrame, idCol: String, groupCol: String,
                      tokenCol: String, targets: Map[String, Double],
                      budgetTokens: Long, salt: String): DataFrame = {
    val frac = targets.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (g, f)) => when(col(groupCol) === g, lit(f)).otherwise(acc)
    }
    val plan = toks.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("avail_tokens"))
      .withColumn("__frac", frac)
      .withColumn("__want", col("__frac") * lit(budgetTokens))
      .withColumn("__rate", least(lit(1.0), col("__want") / col("avail_tokens")))
    val picked = toks
      .join(broadcast(plan.select(col(groupCol), col("__rate"))), Seq(groupCol))
      .where(hashUnit(col(idCol), salt) < col("__rate"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("picked_docs"), sum(col(tokenCol)).as("picked_tokens"))
    plan.join(picked, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"), col("avail_tokens"),
        Portable.q6(col("__frac")).as("target_frac"),
        Portable.q4(col("__want")).as("want_tokens"),
        Portable.q6(col("__rate")).as("rate"),
        coalesce(col("picked_docs"), lit(0L)).as("picked_docs"),
        coalesce(col("picked_tokens"), lit(0L)).as("picked_tokens"))
  }

  /** Deterministic per-epoch global shuffle + contiguous shard layout —
    * the "write each training epoch in a fresh random order, split into
    * loader shards" step between curation and the trainer. Three
    * properties a trainer needs that `df.orderBy(rand())` can't give:
    * REPRODUCIBLE (the order is a pure function of (id, salt, epoch) —
    * a re-run after a crash regenerates byte-identical shards),
    * DECORRELATED across epochs (each epoch re-keys the md5 coin, so
    * epoch orders are independent permutations), and BALANCED (shards
    * are contiguous rank ranges under ntile's fill rule, sized within
    * one row of each other).
    *
    * Scale shape: per epoch, ONE range exchange — the md5 coin is a
    * codegen'd projection and [[Rankings.globalRank]] turns the
    * range-partitioned sort into global positions without ever
    * funnelling the data through a single-partition window; the shard
    * id is then pure integer arithmetic on the rank (`((rank-1)·k) div
    * n` — exactly ntile's contiguous fill), with n from a broadcast
    * scalar. Epochs are independent passes (a trainer materializes them
    * one at a time; the per-epoch cost is the sort a shuffled write
    * pays anyway).
    *
    * Output: epoch, idCol…, shuffle_key (the coin), epoch_rank, shard.
    */
  def epochShards(df: DataFrame, idCol: String, epochs: Seq[Int],
                  nShards: Int, salt: String): DataFrame = {
    require(epochs.nonEmpty && nShards >= 1, "need >= 1 epoch and shard")
    val n = broadcast(df.agg(count(lit(1)).as("__n")))
    epochs.map { e =>
      val keyed = df.withColumn("epoch", lit(e))
        .withColumn("shuffle_key", hashLong(col(idCol), s"$salt:e$e"))
      Rankings.globalRank(keyed,
          Seq(col("shuffle_key").asc, col(idCol).asc), "epoch_rank")
        .crossJoin(n)
        .withColumn("shard",
          // integer `div`, not `/`: Spark's `/` is fractional and a
          // double quotient loses exactness once rank*k exceeds 2^53
          expr(s"CAST(((CAST(epoch_rank AS BIGINT) - 1) * $nShards) div __n AS INT)"))
        .drop("__n")
    }.reduce(_.unionByName(_))
  }
}
