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
  * construction): the gradient is an EXACT INTEGER sum — each doc's
  * residual (p − y) is quantized to the 1e-6 grid and scaled to a long,
  * so the per-bucket sum is associative and map-side combinable with no
  * float-order dependence; weight updates are then a fixed double
  * expression over those integers that any engine replays bit-for-bit.
  * The per-doc margin is ALSO an exact-integer-grid sum (r10, the q104
  * BM25 construction): each feature's contribution w·cnt quantizes to
  * the 1e-6 grid as a long and the per-doc sum is order-free — the
  * aggregate map-side combines as a `partial_sum` instead of buffering
  * per-bucket structs in an array (the pre-r10 ordered fold). Margin
  * drift vs the UNQUANTIZED model is ≤ 5e-7 per feature, ≤ 5e-7 ·
  * (nBuckets + 1) per margin — a model constant, but NOT sub-output-
  * cell: at nBuckets = 32 the worst case is ~1.65e-5 on z, up to ~4
  * q6 cells on p through the sigmoid's ≤ 0.25 slope, and it grows
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

  /** The shared full-batch training loop over a prebuilt sparse feature
    * frame `feat` (__id, __b, __cnt — bias as bucket −1) and a 0/1
    * label frame `labels01` (__id, __y): `iters` gradient steps, then
    * the final margins frame (__id, __y, __p). Extracted so the
    * binary ([[logisticTrain]]) and one-vs-rest
    * ([[logisticTrainOneVsRest]]) forms run the IDENTICAL
    * grid-determinism construction the q124 oracle replays.
    */
  private def fit(feat: DataFrame, labels01: DataFrame, nBuckets: Int,
                  iters: Int, lr: Double, n: Long): (Seq[Double], DataFrame) = {
    // margin: exact-integer-grid sum (each w·cnt contribution quantized
    // to the 1e-6 grid as a long, summed order-free — map-side
    // combinable, no per-doc array buffer; see the class doc's bound)
    def margins(wts: Array[Double]): DataFrame = {
      val wcol = element_at(typedLit(wts.toSeq), col("__b") + 2)
      feat.select(col("__id"),
          floor((wcol * col("__cnt")) * lit(1000000.0) + lit(0.5))
            .cast("long").as("__qt"))
        .groupBy(col("__id"))
        .agg(sum(col("__qt")).as("__qz"))
        .join(labels01, Seq("__id"))
        .withColumn("__p", Portable.q6(
          lit(1.0) / (lit(1.0) +
            exp(-(col("__qz").cast("double") / lit(1000000.0))))))
    }

    val weights = Array.fill(nBuckets + 1)(0.0)
    for (_ <- 1 to iters) {
      // residual on the exact 1e-6 grid → integer gradient (order-free)
      val resid = margins(weights).select(col("__id"),
        floor((col("__p") - col("__y")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("__e"))
      val grads = feat.join(resid, Seq("__id"))
        .groupBy(col("__b")).agg(sum(col("__e") * col("__cnt")).as("__g"))
        .collect() // bounded: one row per feature bucket (+ bias)
      grads.foreach { r =>
        val b = r.getInt(0); val g = r.getLong(1)
        weights(b + 1) = weights(b + 1) - lr * (g.toDouble / 1000000.0 / n)
      }
    }
    (weights.toSeq, margins(weights))
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

      val (weights, finalMargins) = fit(feat, labels, nBuckets, iters, lr, n)
      TrainedLogistic(weights, finalMargins
        .select(col("__id").as(idCol), col("__y").as("label"),
          col("__p").as("score"), (col("__p") >= 0.5).as("predicted")))
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
    * once and is cached; the K models train BATCHED — each iteration is
    * the binary form's two keyed aggregations computing all K models'
    * quantized sums side by side (K sum columns in one margin aggregate
    * and one gradient aggregate), so corpus passes per iteration are
    * O(1) in K, not O(K) — at language ID's real K (tens to ~a hundred)
    * serial training would pay 2K corpus shuffles per iteration for
    * work that is per-row independent across models. Per-model
    * arithmetic is UNCHANGED by the batching (each class's margin and
    * gradient are the same order-free integer-grid sums the binary
    * [[fit]] runs, just materialized in one job — spec-pinned equal to
    * the serial binary construction); driver state is K weight vectors
    * (K × (nBuckets+1) doubles). The bounded `collect`s are the K-row
    * class list and the (nBuckets+1)-row × K gradient frame.
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
    * the caller's scope ([[graft.Caches]]): the RETURNED plan reads the
    * cached feature frame once per class (K margin aggregates), so
    * releasing the caches here would make every downstream action pay K
    * corpus-sized feature rebuilds.
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
    val ks = classes.indices

    // All K models' margin frames in ONE keyed aggregation: per feature
    // row, K quantized contributions (each class's floor(w·cnt·1e6+.5)
    // long — the binary fit's exact term); per doc, K order-free long
    // sums. The per-model arithmetic is identical to K serial fits —
    // batching only co-locates the sums in one shuffle.
    def marginsAll(wts: Array[Array[Double]]): DataFrame = {
      val qts = ks.map { k =>
        val wcol = element_at(typedLit(wts(k).toSeq), col("__b") + 2)
        floor((wcol * col("__cnt")) * lit(1000000.0) + lit(0.5))
          .cast("long").as(s"__qt_$k")
      }
      val sums = ks.map(k => sum(col(s"__qt_$k")).as(s"__qz_$k"))
      feat.select(col("__id") +: qts: _*)
        .groupBy(col("__id"))
        .agg(sums.head, sums.tail: _*)
        .join(labels, Seq("__id"))
        .select(col("__id") +: col("__cls") +: ks.map(k =>
          Portable.q6(lit(1.0) / (lit(1.0) +
              exp(-(col(s"__qz_$k").cast("double") / lit(1000000.0)))))
            .as(s"__p_$k")): _*)
    }

    val weights = Array.fill(classes.length)(Array.fill(nBuckets + 1)(0.0))
    for (_ <- 1 to iters) {
      // K residuals on the exact 1e-6 grid, one frame; __y for class k
      // is (__cls = class_k) — the binary fit's 0/1 label
      val resid = marginsAll(weights).select(col("__id") +: ks.map { k =>
        floor((col(s"__p_$k") -
            (col("__cls") === classes(k)).cast("int")) * lit(1000000.0) +
            lit(0.5))
          .cast("long").as(s"__e_$k")
      }: _*)
      val gsums = ks.map(k => sum(col(s"__e_$k") * col("__cnt")).as(s"__g_$k"))
      val grads = feat.join(resid, Seq("__id"))
        .groupBy(col("__b")).agg(gsums.head, gsums.tail: _*)
        .collect() // bounded: one row per feature bucket (+ bias), K longs each
      grads.foreach { r =>
        val b = r.getInt(0)
        ks.foreach { k =>
          val g = r.getLong(k + 1)
          weights(k)(b + 1) = weights(k)(b + 1) - lr * (g.toDouble / 1000000.0 / n)
        }
      }
    }

    // argmax by (p desc, class asc): max over (p, −index, class)
    // structs — classes are sorted, so a larger −index IS the earlier
    // class; the struct carries the name so no positional lookup runs
    val best = array_max(array(classes.zipWithIndex.map { case (c, i) =>
      struct(col(s"__p_$i").as("p"), lit(-i).as("negi"), lit(c).as("cls"))
    }: _*))
    // the caches stay held: the returned plan's single margin aggregate
    // reads `feat` (see the scaladoc)
    marginsAll(weights)
      .withColumn("__best", best)
      .select(col("__id").as(idCol) +: col("__cls").as(classCol) +:
        ks.map(k => col(s"__p_$k").as(s"score_${classes(k)}")) :+
        col("__best.p").as("score") :+ col("__best.cls").as("predicted"): _*)
  }
}
