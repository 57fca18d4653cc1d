package graft.operators

import graft.Caches
import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed linear quality-classifier training — the fastText-style
  * "distill a seed rule (or a pile of LLM judgments) into a cheap model
  * and score the whole corpus with it" step of modern data curation
  * (the DCLM / FineWeb-Edu pattern). The reference's quality signals
  * are hand-written heuristics (q26's ratios); this operator LEARNS the
  * signal: logistic regression over hashed bag-of-words features,
  * trained full-batch ON the corpus, then every document scored.
  *
  * Scale shape (100 TB corpus): the feature frame — (doc, bucket,
  * count) sparse rows, one map-side-combined groupBy — is built ONCE
  * and cached; each training iteration is two keyed aggregations over
  * it (per-doc score fold, per-bucket gradient sum) and the ONLY driver
  * state is the weight vector itself (nBuckets+1 doubles, shipped back
  * as a plan literal — the [[Projection]] sign-matrix move). Nothing
  * pairwise forms; no per-doc state exceeds the feature dimension.
  *
  * Determinism contract (SURVEY §5, the q75/q109/q116 trained-path
  * construction): the per-doc margin Σ w·cnt and each bucket's gradient
  * Σ (p − y)·cnt are exact-integer-grid sums
  * ([[graft.functions.Portable.toGrid]]) — the margin over each feature's
  * w·cnt, the gradient over each doc's residual p − y — so weight
  * updates are a fixed double expression over order-free integers that
  * any engine replays bit-for-bit. Margin drift vs the UNQUANTIZED model
  * is ≤ 5e-7 · (nBuckets + 1) per margin — a model constant, but NOT
  * sub-output-cell: at nBuckets = 32 the worst case is ~1.65e-5 on z, up
  * to ~4 q6 cells on p through the sigmoid's ≤ 0.25 slope, and it grows
  * with nBuckets. Cross-engine determinism is unaffected (the oracle
  * replays the identical grid sum); the drift only matters to a reader
  * comparing scores against an unquantized trainer. `exp` runs on
  * identical IEEE inputs in either engine (the q111 `ln` precedent).
  * The DuckDB oracle replays every unrolled iteration. At extreme
  * corpus sizes the long gradient bound is 1e6 × corpus tokens — past
  * ~9e18 switch the sum to decimal(38,0).
  */
object Classifier {

  final case class TrainedLogistic(weights: Seq[Double], scored: DataFrame)

  /** Hashed feature bucket of a token column: md5 coin mod nBuckets. */
  def bucketOf(token: Column, nBuckets: Int, salt: String): Column =
    (Sampling.hashLong(token, salt) % nBuckets).cast("int")

  /** Boundary-marked char n-grams of each whitespace token — the
    * fastText/CCNet feature family for language ID ("^the$" → "^th",
    * "the", "he$"). Cross-engine replayable: fixed substring windows of
    * the marked token, no locale/normalization dependence. A token
    * whose marked form is shorter than `n` yields no grams (mirrors
    * DuckDB's empty `range`; Spark's `sequence` would otherwise count
    * DOWN when start > stop and fabricate grams).
    */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 2, s"char n-grams need n >= 2, got $n")
    flatten(transform(split(text, " "), w => {
      val m = concat(lit("^"), w, lit("$"))
      when(length(m) >= n,
        transform(sequence(lit(1), length(m) - lit(n - 1)), i => m.substr(i, lit(n))))
        .otherwise(typedLit(Seq.empty[String]))
    }))
  }

  /** The full-batch training loop over a prebuilt sparse feature frame
    * `feat` (__id, __b, __cnt — bias as bucket −1) and the held `labels`
    * frame (__id and its label column): one model per 0/1 label column
    * of `ys` (an expression over `labels`), all K trained BATCHED — each
    * iteration is ONE margin aggregate and ONE gradient aggregate
    * carrying K sum columns side by side, so corpus passes per iteration
    * are O(1) in K. Per-model arithmetic does not depend on K: batching
    * only co-locates the sums in one shuffle. Returns the K weight
    * vectors and the final margins frame (`labels`' columns, then __p_k
    * for each k).
    */
  private def fit(feat: DataFrame, labels: DataFrame, ys: Seq[Column], nBuckets: Int,
                  iters: Int, lr: Double, n: Long): (Seq[Seq[Double]], DataFrame) = {
    val ks = ys.indices
    def margins(wts: Seq[Array[Double]]): DataFrame = {
      val qts = ks.map { k =>
        val wcol = element_at(typedLit(wts(k).toSeq), col("__b") + 2)
        Portable.toGrid(wcol * col("__cnt"), 6).as(s"__qt_$k")
      }
      val sums = ks.map(k => sum(col(s"__qt_$k")).as(s"__qz_$k"))
      feat.select(col("__id") +: qts: _*)
        .groupBy(col("__id"))
        .agg(sums.head, sums.tail: _*)
        .join(labels, Seq("__id"))
        .select(labels.columns.toSeq.map(col) ++ ks.map(k =>
          Portable.q6(lit(1.0) / (lit(1.0) + exp(-Portable.fromGrid(col(s"__qz_$k"), 6))))
            .as(s"__p_$k")): _*)
    }

    val weights = ks.map(_ => Array.fill(nBuckets + 1)(0.0))
    for (_ <- 1 to iters) {
      val resid = margins(weights).select(col("__id") +: ks.map(k =>
        Portable.toGrid(col(s"__p_$k") - ys(k), 6).as(s"__e_$k")): _*)
      val gsums = ks.map(k => sum(col(s"__e_$k") * col("__cnt")).as(s"__g_$k"))
      val grads = feat.join(resid, Seq("__id"))
        .groupBy(col("__b")).agg(gsums.head, gsums.tail: _*)
        .collect() // bounded: one row per feature bucket (+ bias), K longs each
      grads.foreach { r =>
        val b = r.getInt(0)
        ks.foreach { k =>
          val g = Portable.fromGrid(r.getLong(k + 1), 6)
          weights(k)(b + 1) = weights(k)(b + 1) - lr * (g / n)
        }
      }
    }
    (weights.map(_.toSeq), margins(weights))
  }

  /** Train `iters` full-batch gradient steps of logistic regression on
    * hashed bag-of-words counts; `label` must evaluate to 0/1. The bias
    * rides as synthetic bucket −1 with count 1, so weights, gradients
    * and the margin fold treat it as just another feature.
    *
    * Returns the final weights (index 0 = bias, then buckets 0..n−1)
    * and the scored corpus: (idCol, label, score, predicted).
    */
  def logisticTrain(docs: DataFrame, idCol: String, textCol: String,
                    label: Column, nBuckets: Int, iters: Int, lr: Double,
                    salt: String): TrainedLogistic = {
    require(nBuckets >= 2 && iters >= 1 && lr > 0, "need nBuckets>=2, iters>=1, lr>0")
    val base = docs.select(col(idCol).as("__id"), label.cast("int").as("__y"),
      split(col(textCol), " ").as("__w"))
    // the caches exist for the training loop's `iters` actions and are
    // released when it ends, so callers don't accumulate cached frames
    // across invocations (ADVICE r07). `scored` stays valid — it simply
    // recomputes the feature build (one corpus pass) when materialized.
    Caches.scoped {
      val (labels, feat) = features(base, "__y", nBuckets, salt)
      val n = labels.count() // bounded scalar; also materializes the caches

      val (weights, finalMargins) = fit(feat, labels, Seq(col("__y")), nBuckets, iters, lr, n)
      TrainedLogistic(weights.head, finalMargins
        .select(col("__id").as(idCol), col("__y").as("label"),
          col("__p_0").as("score"), (col("__p_0") >= 0.5).as("predicted")))
    }
  }

  /** The held (id, `labelCol`) frame and the held hashed bag-of-words
    * counts (id, bucket, count) of `base`, the bias as bucket −1.
    */
  private def features(base: DataFrame, labelCol: String, nBuckets: Int,
                       salt: String): (DataFrame, DataFrame) = {
    val labels = Caches.hold(base.select(col("__id"), col(labelCol)))
    val feat = Caches.hold(base
      .select(col("__id"), explode(col("__w")).as("__tok"))
      .select(col("__id"), bucketOf(col("__tok"), nBuckets, salt).as("__b"))
      .groupBy(col("__id"), col("__b")).agg(count(lit(1)).as("__cnt"))
      .unionByName(labels.select(col("__id"), lit(-1).as("__b"), lit(1L).as("__cnt"))))
    (labels, feat)
  }

  /** One-vs-rest multi-class logistic regression — the CCNet/fastText
    * language-ID shape: `classCol`'s distinct values become K binary
    * models trained over ONE shared hashed feature frame (`tokens`
    * picks the family — [[charNgrams]] for langid, whitespace words for
    * topical/quality), and every row is scored under all K with the
    * argmax as the prediction (ties break to the lexicographically
    * FIRST class — deterministic, oracle-mirrored as
    * `row_number() OVER (ORDER BY p DESC, cls ASC)`).
    *
    * Scale shape: the feature build (the only corpus-sized pass) runs
    * once and is cached; the K models train batched in [[fit]], so
    * corpus passes per iteration are O(1) in K, not O(K) — at language
    * ID's real K (tens to ~a hundred) serial training would pay 2K
    * corpus shuffles per iteration. Each class's model is the one a
    * binary fit on its 0/1 label gives (spec-pinned); driver state is K
    * weight vectors (K × (nBuckets+1) doubles). The bounded `collect`s
    * are the K-row class list and the (nBuckets+1)-row × K gradient
    * frame.
    *
    * Output: (idCol, classCol, score_<cls> for each class sorted, score
    * — the winning probability — and predicted). Determinism: each
    * binary model is the exact [[logisticTrain]] grid construction, so
    * the full K-model trajectory unrolls in the oracle (q124's
    * construction, K-fold). `classCol` must be non-null (a null class
    * is require-rejected, not silently scored — filter or fill first;
    * the null-stratum convention belongs to [[Sampling.temperatureMix]],
    * where a null stratum has sampling semantics).
    *
    * Unlike the binary form, the labels/features frames stay held in
    * the caller's scope ([[graft.Caches]]): the RETURNED plan's margin
    * aggregate reads the cached feature frame, so releasing the caches
    * here would make every downstream action pay a corpus-sized feature
    * rebuild.
    */
  def logisticTrainOneVsRest(docs: DataFrame, idCol: String, textCol: String,
                             classCol: String, nBuckets: Int, iters: Int,
                             lr: Double, salt: String,
                             tokens: Column => Column): DataFrame = {
    require(nBuckets >= 2 && iters >= 1 && lr > 0, "need nBuckets>=2, iters>=1, lr>0")
    val base = docs.select(col(idCol).as("__id"),
      col(classCol).cast("string").as("__cls"),
      tokens(col(textCol)).as("__w"))
    val (labels, feat) = features(base, "__cls", nBuckets, salt)
    val n = labels.count() // bounded scalar; also materializes the caches
    // bounded collect: one row per class (a model constant, never data);
    // null-check BEFORE sorting — Array[String].sorted NPEs on null, so
    // the require must see the raw values
    val rawClasses = labels.select(col("__cls")).distinct()
      .collect().map(_.getString(0))
    require(!rawClasses.contains(null),
      "one-vs-rest requires non-null classes; filter or fill nulls first")
    val classes = rawClasses.sorted
    require(classes.length >= 2, s"one-vs-rest needs >= 2 classes, got ${classes.toSeq}")
    val (_, scored) = fit(feat, labels,
      classes.toSeq.map(c => (col("__cls") === c).cast("int")), nBuckets, iters, lr, n)

    // argmax by (p desc, class asc): max over (p, −index, class)
    // structs — classes are sorted, so a larger −index IS the earlier
    // class; the struct carries the name so no positional lookup runs
    val best = array_max(array(classes.zipWithIndex.map { case (c, i) =>
      struct(col(s"__p_$i").as("p"), lit(-i).as("negi"), lit(c).as("cls"))
    }: _*))
    // the caches stay held: the returned plan's single margin aggregate
    // reads `feat` (see the scaladoc)
    scored
      .withColumn("__best", best)
      .select(col("__id").as(idCol) +: col("__cls").as(classCol) +:
        classes.indices.map(k => col(s"__p_$k").as(s"score_${classes(k)}")) :+
        col("__best.p").as("score") :+ col("__best.cls").as("predicted"): _*)
  }
}
