package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus distribution-drift monitoring — "has this source (or this
  * snapshot) drifted away from the corpus it feeds?" as a per-group
  * Jensen–Shannon divergence between each group's unigram distribution
  * and the corpus-wide one. This is the pipeline-health complement of
  * the q66/q110 dataset-card rollups: those report volumes, this
  * reports DISTRIBUTION — a scraper that started emitting boilerplate,
  * a source whose language mix flipped, a bad decode release, all
  * surface as a JS spike long before volume metrics move. JS (not KL)
  * because it is symmetric, finite even when a group misses words, and
  * bounded by ln 2 — comparable across groups and across days.
  *
  * Scale shape (100 TB): two map-side-combined token aggregations
  * (corpus counts, per-group counts) — both linear scans; the scoring
  * grid is groups × vocabulary, never corpus-sized, built from the
  * vocabulary frame joined to group counts. At web vocabulary scale
  * (10⁸+ distinct words) pass `topV`: the grid then scores only the
  * top-V corpus words — a TakeOrdered over the vocabulary counts, V
  * rows of driver state — and every row carries `v_covered_mass` (the
  * corpus probability mass the cap retained) so a cap that discards
  * non-negligible mass is visible in the output, not silent. The JS
  * mass of the tail is negligible by construction when covered mass is
  * ~1; pass `candidateWords = Sketches.cmsTopK(..., k = V + slack)`
  * (wired, spec-gated) when even the vocabulary count frame warrants a
  * sketch — the sketch then SELECTS the scored words while the grid
  * keeps exact counts.
  *
  * Determinism (SURVEY §5): counts are exact integers; probabilities
  * and the per-word terms are fixed double expressions (`ln` on
  * identical IEEE inputs — the q111 precedent); the per-group sum is
  * the exact-integer-grid sum ([[graft.functions.Portable.toGrid]]) of
  * the words' terms, so no per-group array ever buffers the vocabulary
  * (the pre-r08 ordered collect_list fold held one struct per corpus
  * word per group in a single aggregation buffer: the web-vocabulary
  * OOM). The final divergence quantizes to q6.
  *
  * ACCURACY TRADE of the grid sum: each scored word's term rounds to
  * the 1e-6 grid before summing, so js_divergence carries up to
  * 5e-7 · V accumulated rounding (V = scored vocabulary) on top of the
  * signal — at a 10⁸-word uncapped vocabulary the rounding term (~50)
  * would dominate a divergence bounded by ln 2. That is one more
  * reason `topV` is the 100-TB default (V caps the error at 5e-7 · V ≪
  * ln 2 for any practical V, e.g. ~5e-3 at V = 10⁴), not just the grid
  * size: callers who must score an astronomically wide vocabulary
  * uncapped should shrink the per-term grid instead (1e-12 stays
  * long-summable: |term| ≤ ln 2 per word bounds the quantized sum by
  * 1e12 · 0.7 · V ≪ 9.2e18 up to V ≈ 10⁷, and decimal(38,0) past
  * that; the oracle must mirror the same constant). Determinism is
  * unaffected either way — this is purely a rounding-accumulation
  * bound.
  */
object Drift {

  /** Per-group JS divergence of the `groupCol` unigram distribution vs
    * the whole corpus. Output: (groupCol, n_tokens, n_words_absent —
    * scored words the group never uses, the coverage signal —
    * js_divergence), plus `v_covered_mass` when the scored vocabulary
    * is capped (probabilities stay full-corpus; only the scored word
    * set shrinks, so the capped JS is a lower bound whose slack is
    * 1 − v_covered_mass-ish and auditable per row).
    *
    * Two cap forms, composable:
    *  - `topV`: EXACT top-V by (corpus count desc, word) — a
    *    TakeOrdered over the vocabulary counts, V rows of driver state.
    *  - `candidateWords`: a caller-supplied CANDIDATE frame (first
    *    column = word) restricting which words are even counted into
    *    the top-V — the [[Sketches.cmsTopK]] path for vocabularies so
    *    wide that even the exact count frame warrants a sketch. Because
    *    a CMS never undercounts, its top-(V + slack) estimate set
    *    contains the exact top-V words for modest slack (the q67 bound:
    *    overcount ≤ eps·total), so composing `candidateWords =
    *    cmsTopK(..., k = V + slack)` with `topV = Some(V)` reproduces
    *    the exact top-V grid — spec-gated in CurationSpec. Scored words
    *    keep their EXACT corpus counts either way (the sketch selects,
    *    never estimates, what enters the grid), so `v_covered_mass`
    *    stays an exact audit.
    */
  def jsDivergence(docs: DataFrame, groupCol: String, textCol: String,
                   topV: Option[Int] = None,
                   candidateWords: Option[DataFrame] = None): DataFrame = {
    topV.foreach(v => require(v >= 1, "topV must be >= 1"))
    val toks = docs.select(col(groupCol), explode(split(col(textCol), " ")).as("__word"))
    val corpusAll = toks.groupBy(col("__word")).agg(count(lit(1)).as("__c"))
    // candidate restriction first: a left-semi against the (V+slack)-row
    // candidate frame — broadcast-sized by construction
    val selected = candidateWords.fold(corpusAll) { cand =>
      val w = cand.select(col(cand.columns.head).as("__word")).distinct()
      corpusAll.join(broadcast(w), Seq("__word"), "left_semi")
    }
    // exact top-V by (count desc, word): deterministic tie-break, plans
    // as TakeOrdered (per-partition top-V, V-row merge) — never a full sort
    val corpus = topV.fold(selected)(v =>
      selected.orderBy(col("__c").desc, col("__word").asc).limit(v))
    val total = toks.agg(count(lit(1)).as("__n"))
    val gcnt = toks.groupBy(col(groupCol), col("__word")).agg(count(lit(1)).as("__s"))
    val gtot = toks.groupBy(col(groupCol)).agg(count(lit(1)).as("__m"))

    // groups × (scored) vocabulary grid with explicit zeros for absent words
    val grid = gtot.crossJoin(corpus).crossJoin(broadcast(total))
      .join(gcnt, Seq(groupCol, "__word"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(0L)))

    val p = col("__s").cast("double") / col("__m") // group prob (0 when absent)
    val q = col("__c").cast("double") / col("__n") // corpus prob (> 0 always)
    val m = (p + q) / lit(2.0)
    val term = when(col("__s") > 0, p * log(p / m)).otherwise(lit(0.0)) +
      q * log(q / m)

    val agg = grid.select(col(groupCol), col("__m"), col("__s"), col("__c"),
        Portable.toGrid(term, 6).as("__qt"))
      .groupBy(col(groupCol))
      .agg(max(col("__m")).as("n_tokens"),
        sum(when(col("__s") === 0, 1).otherwise(0)).cast("int").as("n_words_absent"),
        Portable.q6(lit(0.5) * Portable.fromGrid(sum(col("__qt")), 6)).as("js_divergence"),
        sum(col("__c")).as("__cov"))
    if (topV.isDefined || candidateWords.isDefined)
      agg.crossJoin(broadcast(total))
        .withColumn("v_covered_mass",
          Portable.q6(col("__cov").cast("double") / col("__n")))
        .drop("__cov", "__n")
    else agg.drop("__cov")
  }
}
