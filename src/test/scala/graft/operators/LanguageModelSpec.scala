package graft.operators

import org.apache.spark.sql.functions._

class LanguageModelSpec extends graft.SparkSpec {
  import spark.implicits._

  // Three fluent docs sharing a bigram distribution, one shuffled-token
  // outlier built from the same vocabulary (so unigram filters can't see
  // it), one short doc with no bigrams.
  private val docs = Seq(
    (1L, "the model reads the corpus and the model scores the corpus"),
    (2L, "the model reads the corpus"),
    (3L, "the model scores the corpus and the model reads the corpus"),
    (4L, "corpus the and reads scores model the corpus model the"),
    (5L, "one")
  ).toDF("doc_id", "text")

  test("bigram LM: in-distribution docs score below the shuffled outlier") {
    val out = LanguageModel.bigramCrossEntropy(docs, "doc_id", "text",
        alpha = 0.5, tau = 100.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("cross_entropy"))
      .toMap
    assert(!out.contains(5L), "no-bigram doc must be excluded")
    assert(out(4L) > out(1L) && out(4L) > out(2L) && out(4L) > out(3L),
      s"shuffled doc should be highest-entropy: $out")
  }

  test("bigram LM: hand-computed two-doc model matches") {
    // corpus: "a b a b" and "a b" → bigrams: (a,b)x3, (b,a)x1
    // V = 2; C(a·)=3, C(b·)=1; alpha=0.5
    // P(b|a) = (3+0.5)/(3+1) = 0.875 ; P(a|b) = (1+0.5)/(1+1) = 0.75
    val two = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = LanguageModel.bigramCrossEntropy(two, "doc_id", "text",
        alpha = 0.5, tau = 1.0)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_bigrams"), r.getAs[Double]("cross_entropy"))).toList
    val lnPba = math.log(3.5 / 4.0)
    val lnPab = math.log(1.5 / 2.0)
    // the r10 grid path: each logp quantizes to the 1e-6 grid as a long,
    // the per-doc sum is the integer sum of those grid terms
    def gq(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val exp1 = q6(-((gq(lnPba) + gq(lnPab) + gq(lnPba)).toDouble / 1e6) / 3.0)
    val exp2 = q6(-(gq(lnPba).toDouble / 1e6) / 1.0)
    assert(out.contains((1L, 3L, exp1)), s"doc1: $out vs $exp1")
    assert(out.contains((2L, 1L, exp2)), s"doc2: $out vs $exp2")
  }

  test("bigram LM: the logp aggregate map-side combines (partial_sum, no collect_list buffer)") {
    // the r10 grid-sum rewrite's plan contract (the q104 BM25 pin): the
    // shuffle carries one long partial per (partition, doc), not one
    // bigram struct per row
    val plan = LanguageModel.bigramCrossEntropy(docs, "doc_id", "text",
      alpha = 0.5, tau = 8.0).queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"no map-side partial sum in:\n$plan")
    assert(!plan.contains("collect_list"), s"collect_list buffer survived:\n$plan")
  }

  test("bigram LM: deterministic under re-partitioning (grid sum is order-free)") {
    val a = LanguageModel.bigramCrossEntropy(docs, "doc_id", "text",
      alpha = 0.5, tau = 8.0).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("cross_entropy"))).toSet
    val b = LanguageModel.bigramCrossEntropy(docs.repartition(7), "doc_id",
      "text", alpha = 0.5, tau = 8.0).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("cross_entropy"))).toSet
    assert(a == b)
  }

  test("bigram LM: flagged iff cross_entropy exceeds tau") {
    val out = LanguageModel.bigramCrossEntropy(docs, "doc_id", "text",
      alpha = 0.5, tau = 2.0).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("flagged") ==
        (r.getAs[Double]("cross_entropy") > 2.0))
    }
  }

  test("crossEntropyUnder: an unseen bigram and an unseen context take the add-alpha zero fill") {
    // model of "a b a b" + "a b": C(a b) = 3, C(b a) = 1, C(a·) = 3,
    // C(b·) = 1, V = 2. Scoring "a c b" meets the unseen bigram (a, c)
    // and the unseen context c: P(c|a) = (0+0.5)/(3+0.5·2) = 0.125 and
    // P(b|c) = (0+0.5)/(0+0.5·2) = 0.5.
    val model = LanguageModel.trainBigram(
      Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text"), "text")
    val out = LanguageModel.crossEntropyUnder(model,
        Seq((7L, "a c b")).toDF("doc_id", "text"), "doc_id", "text", alpha = 0.5)
      .as[(Long, Long, Double)].collect().toList
    def gq(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val expected = math.floor(
      -((gq(math.log(0.125)) + gq(math.log(0.5))).toDouble / 1e6) / 2.0 * 1e6 + 0.5) / 1e6
    assert(out == List((7L, 2L, expected)), s"$out vs $expected")
  }
}
