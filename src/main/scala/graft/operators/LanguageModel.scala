package graft.operators

import graft.functions.{Portable, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical language-model quality filtering — the CCNet/Gopher-style
  * "score every document against an n-gram LM and drop the gibberish"
  * pass of a training-data pipeline. The reference has no LM analog (its
  * quality signals are heuristic: q26's ratios); this operator adds the
  * distributional one: a bigram model with add-alpha smoothing is trained
  * ON the corpus itself in one aggregation pass, then every document is
  * scored by its mean negative log-likelihood (cross-entropy, nats per
  * bigram) under that model. Out-of-place documents — wrong language,
  * template spam, shuffled tokens — sit in the high-entropy tail.
  *
  * Scale shape (100 TB corpus): every intermediate is either linear in
  * corpus tokens (the bigram rows: one projection + explode, no join)
  * or vocabulary-sized (the count tables). Training is ONE map-side-
  * combined groupBy over the bigram rows; context counts derive from the
  * bigram counts (vocabulary-sized input, not a second corpus pass).
  * Scoring re-shuffles the corpus bigrams once to join the model (the
  * count tables broadcast under AQE at vocabulary scale) and once to
  * fold per-document. Nothing pairwise ever forms and no state exceeds
  * the vocabulary.
  *
  * Determinism contract: counts and V are exact integers; each bigram's
  * log-probability is computed independently (libm `ln` on identical
  * IEEE inputs — the q104 BM25 idf precedent); the per-document sum is
  * the exact-integer-grid sum ([[graft.functions.Portable.toGrid]]) of
  * those logps, and the final score is quantized to 6 decimals.
  *
  * Grid accuracy/overflow: cross_entropy divides the grid sum by
  * n_bigrams, so its error stays ≤ 5e-7 regardless of document length.
  * |logp| ≤ ln((C(w1·) + αV)/α) ≲ 50 even at 10¹⁰-token corpora, so
  * each grid term is < 5e7 and a document needs ~2e11 bigrams to
  * approach 2⁶³.
  */
object LanguageModel {

  /** Per-document bigram cross-entropy under a corpus-trained add-alpha
    * bigram model: [[crossEntropyUnder]] a [[trainBigram]] model of
    * `docs` itself, where every bigram and context join matches.
    *
    * P(w2 | w1) = (C(w1 w2) + alpha) / (C(w1 ·) + alpha * V), where
    * C(w1 ·) counts w1 as a bigram CONTEXT and V is the corpus
    * vocabulary size. Documents with fewer than two tokens have no
    * bigrams and are excluded (they carry no LM evidence; length-based
    * filters own them).
    *
    * Output: (idCol, n_bigrams, cross_entropy, flagged) — flagged iff
    * cross_entropy > tau. At corpus scale a fixed tau comes from a
    * GK-sketch quantile of a scored sample ([[Sketches]]); the operator
    * takes it as a parameter so the cut stays engine-replayable.
    */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
                         alpha: Double = 0.5, tau: Double = 8.0): DataFrame =
    crossEntropyUnder(trainBigram(docs, textCol), docs, idCol, textCol, alpha)
      .withColumn("flagged", col("cross_entropy") > lit(tau))

  /** (`keep`, w1, w2): one row per adjacent token pair of the `__w`
    * word array — one zip_with + explode, no join. Rows with fewer than
    * two words yield none.
    */
  private def bigramRows(base: DataFrame, keep: Seq[Column]): DataFrame = {
    val w = col("__w")
    base.where(size(w) >= 2)
      .select(keep :+ explode(zip_with(
        slice(w, lit(1), size(w) - 1),
        slice(w, lit(2), size(w) - 1),
        (a: Column, b: Column) => struct(a.as("w1"), b.as("w2")))): _*)
      .select(keep :+ col("col.w1").as("w1") :+ col("col.w2").as("w2"): _*)
  }

  /** A trained bigram model: bigram counts, context counts, and the
    * 1-row vocabulary size — everything [[crossEntropyUnder]] needs to
    * score a corpus, the training one or a different one.
    */
  final case class BigramModel(c2: DataFrame, c1: DataFrame, vocab: DataFrame)

  /** Train the add-alpha bigram model: bigram counts (one map-side-
    * combined corpus shuffle); context counts derive from them
    * (vocabulary-sized input, not a second corpus pass).
    */
  def trainBigram(docs: DataFrame, textCol: String): BigramModel = {
    val base = docs.select(TextFns.words(col(textCol)).as("__w"))
    val c2 = bigramRows(base, Nil).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = base.select(explode(col("__w")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    BigramModel(c2, c1, vocab)
  }

  /** Score `docs` under `model`. Trained ELSEWHERE — the cross-domain
    * form behind DSIR-style importance weighting — bigrams the model
    * never saw take C(w1 w2) = 0 (and unseen contexts C(w1 ·) = 0), so
    * add-alpha smoothing alone carries them: LEFT joins with exact
    * integer zero fills.
    *
    * Output: (idCol, n_bigrams, cross_entropy).
    */
  def crossEntropyUnder(model: BigramModel, docs: DataFrame, idCol: String,
                        textCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "alpha must be > 0")
    val id = col(idCol)
    val scored = bigramRows(docs.select(id, TextFns.words(col(textCol)).as("__w")), Seq(id))
      .join(model.c2, Seq("w1", "w2"), "left")
      .join(model.c1, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("logp",
        log((coalesce(col("c2"), lit(0L)) + lit(alpha)) /
          (coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v"))))
    scored
      .withColumn("__qt", Portable.toGrid(col("logp"), 6))
      .groupBy(id)
      .agg(sum(col("__qt")).as("__qsum"), count(lit(1)).as("n_bigrams"))
      .withColumn("cross_entropy", Portable.q6(
        -Portable.fromGrid(col("__qsum"), 6) / col("n_bigrams")))
      .select(id, col("n_bigrams"), col("cross_entropy"))
  }
}
