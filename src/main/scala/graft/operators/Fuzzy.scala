package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching (entity resolution): candidate pairs form only
  * inside a blocking key, then survive an edit-distance bound — the
  * standard dedup-by-name shape (the reference normalizes and matches
  * usernames across sources, update_etl.py:1279-1283; this is the
  * approximate variant for when exact normalization is not enough).
  */
object Fuzzy {

  /** All (id_a < id_b) pairs within a block whose strings are within
    * `maxDist` Levenshtein edits. Output: block, id_a, id_b, str_a,
    * str_b, distance.
    *
    * Scale contract: the self-join is bounded by the largest block
    * (never the corpus square) — same contract as
    * [[Similarity.nearDupWithin]]; pick blocks accordingly (a constant
    * block is O(n²)). Spark's `levenshtein` with a threshold argument
    * early-exits once the running distance exceeds the bound, so the
    * per-pair cost is O(maxDist × len), not O(len²).
    */
  def blockedLevenshtein(df: DataFrame, idCol: String, strCol: String,
                         blockCol: String, maxDist: Int): DataFrame = {
    // Repartition on the block with an EXPLICIT partition count: the
    // per-pair edit-distance loop runs where the join runs, and a small
    // dim table arrives as one input split, so the whole O(block²)
    // compare would grind on a single task. The count must be explicit —
    // this exchange is compute-bound, not size-bound, and AQE's
    // size-based coalescing would fold a few-MB shuffle right back to one
    // partition (measured: 18.8 s single-task → sub-second spread at
    // sf0.1 on local[32]).
    //
    // Measured non-change (r14, guide §3.2): a length-band equi-key —
    // band = len div (maxDist+1), side a exploded to band±1 — was
    // implemented and A/B'd (the Q60Probe main, last in eb05765, sf1
    // block sizes, min-of-3; evidence/Q60PROBE_r14.json).
    // On THIS workload's entity keys every string is the same length
    // (c_name: {18: 150000} at sf1), so the band prunes nothing while
    // tripling the probe rows: 94.7 s → 115.2 s (+22%). Rejected; the
    // thresholded levenshtein already early-exits on length difference,
    // and genuinely large blocks route to symDeleteLevenshtein via
    // adaptiveLevenshtein.
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val e = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(strCol).as("str")).repartition(parts, col("block"))
    // The distance bound lives IN the join condition, after the id order
    // check: non-equi conjuncts evaluate left to right, so `id <` prunes
    // half the bucket before any levenshtein runs. Single conjunct on
    // purpose — the thresholded levenshtein returns -1 past the bound, so
    // ">= 0" alone is the full predicate and the distance is computed
    // once per surviving candidate (plus once in the projection for the
    // survivors only).
    e.as("a").join(e.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id") &&
          levenshtein(col("a.str"), col("b.str"), maxDist) >= 0)
      .select(col("a.block").as("block"),
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.str").as("str_a"), col("b.str").as("str_b"),
        levenshtein(col("a.str"), col("b.str"), maxDist).as("distance"))
  }

  /** Same output as [[blockedLevenshtein]] — every (id_a < id_b) pair in a
    * block within `maxDist` edits — WITHOUT the block-square pair loop,
    * via symmetric deletion neighborhoods (the FastSS/SymSpell family):
    * if edit(s, t) <= τ, then deleting the <= τ characters each side
    * touches leaves the SAME string, so s and t share a member of their
    * deletion neighborhoods. Candidates = strings sharing a
    * (block, variant) key; only those pairs pay a (thresholded)
    * levenshtein. This stays exact where prefix/segment blocking
    * degenerates (entity keys sharing a long common prefix put every row
    * in one segment bucket; deletion variants of numerically-distant
    * suffixes stay distinct).
    *
    * Exact duplicates are pre-grouped first — one REPRESENTATIVE per
    * (block, string) runs the machinery, and matches expand back to
    * member pairs afterwards. Duplicate-heavy data (re-ingested
    * snapshots, replicated fixtures) otherwise floods the variant join
    * with n² self-collisions; pre-grouping makes that cost |output|, not
    * |members|² × |variants|.
    *
    * Scale contract: variant generation is O(len^maxDist) keys per
    * DISTINCT string — built for short entity keys (names, handles,
    * SKUs), not documents; maxDist <= 2 enforced. Everything shuffles by
    * (block, variant) hash keys; measured at sf1 (150k customers, 6000
    * per block) this replaces the block-square's 450M-pair levenshtein
    * loop (108 s) with a candidate join costing a few seconds.
    */
  /** Cost-based dispatch between the two exact forms: one scalar
    * aggregate measures the largest block; small blocks take the square
    * (its per-pair loop beats the variant machinery's fixed overhead —
    * measured 1.7 s vs 2.5 s at sf0.1's 600-row blocks), large blocks
    * take the deletion-neighborhood join (108 s vs 2.7 s at sf1's
    * 6000-row blocks). Both produce the identical pair set
    * (property-proven), so the switch is a physical choice, not a
    * semantic one — the same call scales from a laptop fixture to the
    * cluster without re-tuning. The one-row collect is the documented
    * bounded-driver-state pattern (SURVEY §4).
    */
  def adaptiveLevenshtein(df: DataFrame, idCol: String, strCol: String,
                          blockCol: String, maxDist: Int,
                          squareMaxBlock: Long = 2000L): DataFrame = {
    val maxBlock = Option(
      df.groupBy(col(blockCol)).agg(count(lit(1)).as("__n"))
        // bounded: 1-row max scalar
        .agg(max(col("__n"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxBlock <= squareMaxBlock)
      blockedLevenshtein(df, idCol, strCol, blockCol, maxDist)
    else symDeleteLevenshtein(df, idCol, strCol, blockCol, maxDist)
  }

  /** Cache lifetime: the default `persist` caches the pre-grouped
    * representatives for the duration of the returned plan's (repeated)
    * use, and the handle lives until the session drops it — a caller
    * running many queries in one session (Verify, Bench) should
    * `spark.catalog.clearCache()` between queries (both do), or pass
    * `persist = identity` to trade the reuse for zero cache residency.
    */
  def symDeleteLevenshtein(df: DataFrame, idCol: String, strCol: String,
                           blockCol: String, maxDist: Int,
                           persist: DataFrame => DataFrame = _.cache()): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletion-neighborhood blocking is implemented for maxDist in 1..2; " +
        "larger radii need blockedLevenshtein with genuinely bounded blocks")
    // NULL semantics must match the block square: there, a null string or
    // block falls out of the join (levenshtein(null, x) and null = null
    // are both non-true). Without this filter the pre-grouping would pool
    // null strings into one group and emit distance-0 "pairs" for them.
    val e = df.select(col(blockCol).as("block"), col(idCol).as("id"),
        col(strCol).as("str"))
      .where(col("block").isNotNull && col("str").isNotNull)
    // one representative per (block, string); members kept for expansion
    val groups = persist(e.groupBy(col("block"), col("str"))
      .agg(sort_array(collect_list(col("id"))).as("ids"),
        min(col("id")).as("rid")))
    // exact-duplicate pairs: distance 0, no levenshtein, no join — the
    // pair list is a per-group array product (output-sized by definition)
    val intra = groups
      .select(col("block"), col("str"), explode(expr(
        "flatten(transform(ids, a -> transform(filter(ids, b -> b > a), " +
          "b -> struct(a AS id_a, b AS id_b))))")).as("p"))
      .select(col("block"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("str").as("str_a"), col("str").as("str_b"),
        lit(0).cast("int").as("distance"))
    // deletion neighborhood of each representative: the string itself,
    // minus-1-char, and (maxDist = 2) minus-2-chars variants. sequence()
    // counts DOWN when start > stop, so the empty/short cases are guarded.
    val del1 =
      """CASE WHEN length(str) >= 1 THEN
        |  transform(sequence(1, length(str)), i ->
        |    concat(substring(str, 1, i - 1), substring(str, i + 1, length(str))))
        |ELSE array() END""".stripMargin
    val del2 =
      """CASE WHEN length(str) >= 2 THEN
        |  flatten(transform(sequence(1, length(str) - 1), i ->
        |    transform(sequence(i + 1, length(str)), j ->
        |      concat(substring(str, 1, i - 1), substring(str, i + 1, j - i - 1),
        |             substring(str, j + 1, length(str))))))
        |ELSE array() END""".stripMargin
    val neighborhood =
      if (maxDist == 1) s"array_distinct(concat(array(str), $del1))"
      else s"array_distinct(concat(array(str), $del1, $del2))"
    val vars = groups.select(col("block"), col("rid"), col("str"),
      explode(expr(neighborhood)).as("v"))
    // candidate representative pairs share a (block, variant); verify with
    // ONE thresholded levenshtein per distinct candidate pair
    val cands = vars.as("a").join(vars.as("b"),
        col("a.block") === col("b.block") && col("a.v") === col("b.v") &&
          col("a.rid") < col("b.rid"))
      .select(col("a.block").as("block"), col("a.rid").as("ra"),
        col("a.str").as("sa"), col("b.rid").as("rb"), col("b.str").as("sb"))
      .distinct()
    val matched = cands
      .where(levenshtein(col("sa"), col("sb"), maxDist) >= 0)
      .withColumn("distance", levenshtein(col("sa"), col("sb"), maxDist))
    // expand representative matches to member pairs; str_a follows id_a
    val expanded = matched
      .join(groups.select(col("block"), col("rid").as("ra"), col("ids").as("ids_a")),
        Seq("block", "ra"))
      .join(groups.select(col("block"), col("rid").as("rb"), col("ids").as("ids_b")),
        Seq("block", "rb"))
      .select(col("block"), col("sa"), col("sb"), col("distance"),
        explode(col("ids_a")).as("ia"), col("ids_b"))
      .select(col("block"), col("sa"), col("sb"), col("distance"), col("ia"),
        explode(col("ids_b")).as("ib"))
      .select(col("block"),
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        when(col("ia") < col("ib"), col("sa")).otherwise(col("sb")).as("str_a"),
        when(col("ia") < col("ib"), col("sb")).otherwise(col("sa")).as("str_b"),
        col("distance"))
    intra.unionByName(expanded)
  }
}
