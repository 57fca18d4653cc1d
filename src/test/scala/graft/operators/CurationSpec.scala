package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-7 curation surface: C4 line cleaning, epoch shuffle/shards,
  * logistic quality classifier, product quantization, JS drift.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ---- Cleaning.c4LineClean -------------------------------------------

  test("c4LineClean keeps qualifying lines, drops thin docs, rejoins in order") {
    // lineLen=3: doc 1 -> lines (a b c | d the f | g h) ; last line has
    // 2 words (< minWords) and drops even though it holds a stopword.
    val df = Seq(
      (1L, "a b c d the f g the"),  // lines: [a b c][d the f][g the] -> kept: 1,2 (3rd short)
      (2L, "x y z q r s t u v")     // 3 lines, no stopwords -> dropped doc
    ).toDF("doc_id", "text")
    val out = Cleaning.c4LineClean(df, "doc_id", "text",
      lineLen = 3, minWordsPerLine = 3, stopwords = Seq("a", "the"),
      minKeptLines = 2)
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(out == Seq((1L, 3, 2, "a b c | d the f")))
  }

  test("c4LineClean is a pure zero-shuffle projection") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val plan = Cleaning.c4LineClean(df, "doc_id", "text", 3, 2, Seq("a"), 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
  }

  // ---- Sampling.epochShards -------------------------------------------

  test("epochShards: per-epoch ranks are a permutation, shards balanced, epochs decorrelated") {
    val df = (0L until 100L).toDF("doc_id")
    val out = Sampling.epochShards(df, "doc_id", epochs = Seq(1, 2),
      nShards = 8, salt = "t")
      .select("epoch", "doc_id", "epoch_rank", "shard")
      .as[(Int, Long, Int, Int)].collect()
    val byEpoch = out.groupBy(_._1)
    assert(byEpoch.keySet == Set(1, 2))
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1 to 100)) // permutation
      val sizes = rows.groupBy(_._4).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"unbalanced: $sizes") // ntile fill
      assert(rows.map(_._4).min == 0 && rows.map(_._4).max == 7)
    }
    // different epochs produce different permutations of the same ids
    val o1 = byEpoch(1).sortBy(_._3).map(_._2).toSeq
    val o2 = byEpoch(2).sortBy(_._3).map(_._2).toSeq
    assert(o1 != o2)
    assert(o1.sorted == o2.sorted)
  }

  test("epochShards is reproducible across re-runs and partitionings") {
    val a = Sampling.epochShards((0L until 50L).toDF("doc_id"),
      "doc_id", Seq(1), 4, "r").select("doc_id", "epoch_rank", "shard")
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    val b = Sampling.epochShards((0L until 50L).toDF("doc_id").repartition(7),
      "doc_id", Seq(1), 4, "r").select("doc_id", "epoch_rank", "shard")
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  // ---- Classifier.logisticTrain ---------------------------------------

  test("logisticTrain learns a separable seed rule and is partition-invariant") {
    // label = contains "pos"; the corpus is trivially separable, so three
    // full-batch steps already rank every positive above every negative.
    val docs = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "pos alpha beta gamma")
      else (i.toLong, "neg delta epsilon zeta")
    }.toDF("doc_id", "text")
    val t = Classifier.logisticTrain(docs, "doc_id", "text",
      label = array_contains(split(col("text"), " "), "pos"),
      nBuckets = 16, iters = 3, lr = 0.5, salt = "s")
    val rows = t.scored.select("doc_id", "label", "score")
      .as[(Long, Int, Double)].collect()
    val posMin = rows.filter(_._2 == 1).map(_._3).min
    val negMax = rows.filter(_._2 == 0).map(_._3).max
    assert(posMin > negMax, s"not separated: posMin=$posMin negMax=$negMax")
    // bias + 16 buckets, and the trajectory is partition-invariant
    assert(t.weights.size == 17)
    val t2 = Classifier.logisticTrain(docs.repartition(7), "doc_id", "text",
      label = array_contains(split(col("text"), " "), "pos"),
      nBuckets = 16, iters = 3, lr = 0.5, salt = "s")
    assert(t.weights == t2.weights) // exact-integer gradients: bit-equal
  }

  test("logisticTrain gradient trajectory matches the hand-unrolled first step") {
    // one doc "w" y=1, one doc "v" y=0, same bucket impossible with these
    // tokens? force nBuckets=1 so BOTH tokens share bucket 0: iter-1
    // residuals are ±0.5 exactly -> g_bias = 0, g_0 = (0.5*1 - 0.5*1) = 0
    // with equal counts, so weights stay 0 and p stays 0.5.
    val docs = Seq((1L, "w"), (2L, "v")).toDF("doc_id", "text")
    val t = Classifier.logisticTrain(docs, "doc_id", "text",
      label = col("doc_id") === 1L, nBuckets = 2, iters = 1, lr = 0.5, salt = "s2")
    // residuals: doc1 e=-500000, doc2 e=+500000; bias gradient cancels.
    assert(t.weights.head == 0.0)
  }

  test("logisticTrain's margin aggregate map-side combines (partial_sum, no collect_list)") {
    // the r10 grid-sum rewrite's plan contract (the q104 BM25 pin): the
    // per-doc margin shuffle carries one long partial per (partition,
    // doc), not one per-bucket struct per feature row
    val docs = Seq((1L, "w v"), (2L, "v")).toDF("doc_id", "text")
    val plan = Classifier.logisticTrain(docs, "doc_id", "text",
        label = col("doc_id") === 1L, nBuckets = 4, iters = 1, lr = 0.5,
        salt = "s3")
      .scored.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"no map-side partial sum in:\n$plan")
    assert(!plan.contains("collect_list"), s"collect_list buffer survived:\n$plan")
  }

  test("charNgrams yields boundary-marked windows; short tokens yield none") {
    val df = Seq((1L, "the a")).toDF("id", "text")
    val grams = df.select(explode(Classifier.charNgrams(col("text"), 3)).as("g"))
      .as[String].collect().toSeq
    assert(grams == Seq("^th", "the", "he$", "^a$"))
    // a 4-gram over "a" ("^a$", length 3) must yield NOTHING — not a
    // fabricated descending sequence (Spark's sequence counts DOWN when
    // start > stop; DuckDB's range is empty: the guard pins the match)
    val none = df.select(explode(Classifier.charNgrams(lit("a"), 4)).as("g")).count()
    assert(none == 0L)
  }

  test("logisticTrainOneVsRest: separable classes argmax correctly; ties break to the first class") {
    // three trivially separable classes by marker token
    val docs = (0 until 60).map { i =>
      val cls = Seq("aa", "bb", "cc")(i % 3)
      (i.toLong, cls, s"$cls alpha beta")
    }.toDF("doc_id", "cls", "text")
    val out = Classifier.logisticTrainOneVsRest(docs, "doc_id", "text", "cls",
      nBuckets = 16, iters = 3, lr = 0.5, salt = "ovr",
      tokens = split(_, " "))
    assert(out.columns.toSeq == Seq("doc_id", "cls",
      "score_aa", "score_bb", "score_cc", "score", "predicted"))
    val rows = out.select("cls", "predicted").as[(String, String)].collect()
    assert(rows.forall { case (c, p) => c == p },
      s"separable one-vs-rest misclassified: ${rows.filterNot(r => r._1 == r._2).take(3).toSeq}")
    // partition invariance: the K trajectories are exact-integer grids
    val out2 = Classifier.logisticTrainOneVsRest(docs.repartition(7), "doc_id",
      "text", "cls", nBuckets = 16, iters = 3, lr = 0.5, salt = "ovr",
      tokens = split(_, " "))
    assert(out.collect().map(_.toSeq).toSet == out2.collect().map(_.toSeq).toSet)
    // tie rule: identical text for both classes -> identical scores ->
    // the lexicographically FIRST class wins every argmax
    val tied = Seq((1L, "xx", "same text"), (2L, "yy", "same text"))
      .toDF("doc_id", "cls", "text")
    val tiedOut = Classifier.logisticTrainOneVsRest(tied, "doc_id", "text", "cls",
      nBuckets = 4, iters = 1, lr = 0.5, salt = "tie", tokens = split(_, " "))
      .select("score_xx", "score_yy", "predicted")
      .as[(Double, Double, String)].collect()
    assert(tiedOut.forall(r => r._1 == r._2),
      s"symmetric classes should score identically: ${tiedOut.toSeq}")
    assert(tiedOut.forall(_._3 == "xx"), s"tie must break to 'xx': ${tiedOut.toSeq}")
    // a null class is require-rejected with a usable message, not the
    // opaque NPE Array[String].sorted would throw
    val withNull = Seq((1L, null.asInstanceOf[String], "x"), (2L, "a", "y"),
      (3L, "b", "z")).toDF("doc_id", "cls", "text")
    val err = intercept[IllegalArgumentException] {
      Classifier.logisticTrainOneVsRest(withNull, "doc_id", "text", "cls",
        nBuckets = 4, iters = 1, lr = 0.5, salt = "n", tokens = split(_, " "))
    }
    assert(err.getMessage.contains("non-null classes"))
  }

  test("logisticTrainOneVsRest: the batched K-model pass is bit-equal to K serial binary fits") {
    // the batching claim (r11): co-locating the K models' margin and
    // gradient sums in one aggregation per step changes the JOB COUNT,
    // never a value — each class's score must equal the binary form
    // trained on that class's 0/1 label with the same grid/salt/lr
    val docs = (0 until 48).map { i =>
      val cls = Seq("de", "en", "fr")(i % 3)
      (i.toLong, cls, s"$cls word${i % 5} alpha")
    }.toDF("doc_id", "cls", "text")
    val ovr = Classifier.logisticTrainOneVsRest(docs, "doc_id", "text", "cls",
      nBuckets = 16, iters = 2, lr = 0.5, salt = "eq", tokens = split(_, " "))
    for (c <- Seq("de", "en", "fr")) {
      val serial = Classifier.logisticTrain(docs, "doc_id", "text",
          label = col("cls") === c, nBuckets = 16, iters = 2, lr = 0.5,
          salt = "eq")
        .scored.select(col("doc_id"), col("score"))
        .as[(Long, Double)].collect().toMap
      val batched = ovr.select(col("doc_id"), col(s"score_$c"))
        .as[(Long, Double)].collect().toMap
      assert(batched == serial,
        s"batched score_$c diverged from the serial binary fit")
    }
  }

  // ---- Quantize -------------------------------------------------------

  test("pqEncode: seed vectors reconstruct exactly; codes stay in range") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub = 4, nCodes = 16)
    assert(cb.count() == 4 * 16)
    val out = Quantize.pqEncode(vecs, "vec_id", "embedding", nSub = 4, cb)
      .select("vec_id", "codes", "recon_err")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    // a seed vector's nearest code in every subspace is itself, at distance 0
    out.filter(_._1 < 16).foreach { case (id, codes, err) =>
      assert(codes == s"${id}_${id}_${id}_$id", s"vec $id -> $codes")
      assert(err == 0.0)
    }
    out.foreach { case (_, codes, err) =>
      assert(codes.split("_").forall(c => c.toInt >= 0 && c.toInt < 16))
      assert(err >= 0.0)
    }
  }

  test("adcTopK: ADC equals the grid sum over picked cells; seeds score exactly; " +
    "approximation is live; ties and partitioning are pinned") {
    val nSub = 4; val nCodes = 16; val subDim = 2
    val base = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat / 10f))
    }
    // vec 20 duplicates vec 5's values: same codes, same ADC distance —
    // the tie must rank the lower id first
    val vecs = (base :+ (20L, base(5)._2.clone())).toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub, nCodes)
    val codes = Quantize.pqEncode(vecs, "vec_id", "embedding", nSub, cb)
    // query 6 sits next to the 5/20 duplicate pair (the tie check);
    // query 16's neighborhood is the non-seed tail (the approximation check)
    val queries = vecs.where(col("vec_id").isin(6L, 16L))
    val out = Quantize.adcTopK(codes, "vec_id", "codes", queries, "vec_id",
      "embedding", cb, nSub, nCodes, k = 6, excludeSelf = true)
      .select("query_id", "neighbor_id", "adc_dist", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq

    // Scala reference: q6 per-subspace distance to the PICKED centroid,
    // exact grid sum — the operator's stated semantics
    def q6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def subs(v: Array[Float]): Array[Array[Double]] =
      v.map(_.toDouble).grouped(subDim).toArray
    // bounded: nSub × nCodes codebook rows
    val cents = cb.select("sub", "code", "cent")
      .as[(Int, Int, Seq[Double])].collect()
      .map { case (s, c, v) => (s, c) -> v.toArray }.toMap
    // bounded: one code row per fixture vector (21 rows)
    val picks = codes.select("vec_id", "codes").as[(Long, String)].collect()
      .map { case (id, cs) => id -> cs.split("_").map(_.toInt) }.toMap
    def subDist(q: Array[Double], c: Array[Double]): Double =
      q6d(q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
    def adcRef(q: Array[Float], nid: Long): Double = {
      val qs = subs(q)
      val grid = (0 until nSub).map { s =>
        math.floor(subDist(qs(s), cents((s, picks(nid)(s)))) * 1e6 + 0.5).toLong
      }.sum
      q6d(grid.toDouble / 1e6)
    }
    val byQ = base.toMap
    out.foreach { case (q, n, d, _) =>
      assert(n != q, "self must be excluded")
      assert(d == adcRef(byQ(q), n), s"ADC($q,$n) diverged from the pick replay")
    }
    // ranking: ascending adc_dist, neighbor id tiebreak, dense 1..k
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4) == (1 to 6))
      assert(sorted == rows.sortBy(r => (r._3, r._2)).zipWithIndex
        .map { case ((q, n, d, _), i) => (q, n, d, i + 1) })
    }
    // a SEED neighbor reconstructs exactly, so its ADC distance IS the
    // true (per-subspace q6) query→vector distance
    def trueD(q: Array[Float], v: Array[Float]): Double = {
      val (qs, vs) = (subs(q), subs(v))
      q6d((0 until nSub).map(s =>
        math.floor(subDist(qs(s), vs(s)) * 1e6 + 0.5).toLong).sum.toDouble / 1e6)
    }
    val seedRows = out.filter(_._2 < nCodes)
    assert(seedRows.nonEmpty, "fixture must rank some seed neighbor")
    seedRows.foreach { case (q, n, d, _) =>
      assert(d == trueD(byQ(q), byQ(n)), s"seed $n must score its true distance")
    }
    // approximation is LIVE: some non-seed neighbor's ADC differs from
    // its true distance (it scores the reconstruction, not the vector)
    val nonSeed = out.filter(r => r._2 >= nCodes && r._2 <= 19)
    assert(nonSeed.exists { case (q, n, d, _) => d != trueD(byQ(q), byQ(n)) },
      "fixture must exercise the approximation")
    // tie rule: 5 and its duplicate 20 carry equal distances; 5 first.
    // Both MUST surface in query 6's top-6 (they flank it) — a vacuous
    // pass here would mean the fixture stopped exercising the tie.
    val q6rows = out.filter(_._1 == 6L)
    val tieA = q6rows.find(_._2 == 5L)
    val tieB = q6rows.find(_._2 == 20L)
    assert(tieA.nonEmpty && tieB.nonEmpty, "tie pair must rank for query 6")
    assert(tieA.get._3 == tieB.get._3 && tieA.get._4 < tieB.get._4,
      "duplicate must tie on distance and rank after the lower id")
    // partition invariance: the code table's layout cannot change ranks
    val repart = Quantize.adcTopK(codes.repartition(7), "vec_id", "codes",
      queries, "vec_id", "embedding", cb, nSub, nCodes, k = 6, excludeSelf = true)
      .select("query_id", "neighbor_id", "adc_dist", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(repart.sortBy(r => (r._1, r._4)) == out.sortBy(r => (r._1, r._4)))
  }

  test("ivfAdcTopK scores only probed lists with adcTopK's exact distances; " +
    "full probing recovers the exhaustive search") {
    val nSub = 4; val nCodes = 8
    // four well-separated direction groups (g = id % 4): coarse cosine
    // routing is decisive, so probe membership is unambiguous
    val vecs = (0 until 16).map { i =>
      val g = i % 4
      val v = Array.fill(8)(0.05f * (i % 3))
      v(2 * g) = 1f; v(2 * g + 1) = 0.5f + 0.01f * i
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub, nCodes)
    val cents = vecs.where(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"),
        graft.functions.VectorFns.asDouble(col("embedding")).as("centv"))
    val lists = Similarity.assignToCentroids(vecs, "vec_id", "embedding", cents)
    val index = Quantize.pqEncode(vecs, "vec_id", "embedding", nSub, cb)
      .join(lists, Seq("vec_id"))
    val queries = vecs.where(col("vec_id").isin(12L, 13L))

    def run(nProbe: Int) =
      Quantize.ivfAdcTopK(index, "vec_id", "codes", "centroid_id", queries,
        "vec_id", "embedding", cents, cb, nSub, nCodes, nProbe, k = 6,
        excludeSelf = true)
        .select("query_id", "neighbor_id", "adc_dist", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSeq
    val routed = run(nProbe = 1)
    // exhaustive ADC over the same codes, k = corpus size
    val full = Quantize.adcTopK(index, "vec_id", "codes", queries, "vec_id",
      "embedding", cb, nSub, nCodes, k = 16, excludeSelf = true)
      .select("query_id", "neighbor_id", "adc_dist", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val fullDist = full.map(r => (r._1, r._2) -> r._3).toMap

    // membership: with nProbe = 1 a query's probe list is exactly its
    // own coarse assignment (bounded: 16 fixture rows)
    val listOf = lists.select("vec_id", "centroid_id")
      .as[(Long, Long)].collect().toMap
    routed.foreach { case (q, n, d, _) =>
      assert(listOf(n) == listOf(q),
        s"neighbor $n of query $q came from an unprobed list")
      assert(d == fullDist((q, n)), s"routed ADC($q,$n) != exhaustive ADC")
    }
    // pruning is live: the exhaustive top-6 reaches across groups,
    // the routed search cannot
    val fullTop = full.filter(_._4 <= 6).map(r => (r._1, r._2)).toSet
    assert(routed.map(r => (r._1, r._2)).toSet != fullTop,
      "nProbe = 1 must genuinely restrict the candidate pool")
    // the recall dial: probing every list IS the exhaustive search
    assert(run(nProbe = 4).sortBy(r => (r._1, r._4)) ==
      full.filter(_._4 <= 6).sortBy(r => (r._1, r._4)))
  }

  test("residual ADC: a coarse-centroid neighbor scores its TRUE distance; " +
    "only probed-list members rank") {
    // the residual analog of q145's seed-exactness pin: a corpus
    // vector that IS a coarse centroid has residual exactly 0, the
    // residual codebook contains the zero residual (ids 0–7 are among
    // the 16 seeds), so its stored codes reconstruct perfectly and
    // its ADC distance from any probe of its list is the true
    // per-subspace q6 distance ||q − cent||². (The geometry claim —
    // residual coding tightening quantization — is documented on the
    // operator as data-dependent, measured REVERSED on the synthetic
    // driver fixture: raw 376.2 vs residual 604.7 at sf0.001. Exact
    // search semantics are what the driver gate hash-checks.)
    val vecs = (0 until 40).map { i =>
      val g = i % 8
      val v = Array.tabulate(64)(j =>
        if (j / 8 == g) 1f + 0.001f * ((i + j) % 7)
        else 0.001f * ((i * 3 + j) % 11))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = vecs.select(col("vec_id").as("centroid_id"),
        graft.functions.VectorFns.asDouble(col("embedding")).as("centv"))
      .orderBy(col("centroid_id").asc).limit(8)
    val lists = Similarity.assignToCentroids(vecs, "vec_id", "embedding", cents)
    val res = Quantize.residuals(vecs, "vec_id", "embedding",
      lists, "centroid_id", cents)
    val cbRes = Quantize.seededCodebook(res, "vec_id", "rvec", nSub = 8, nCodes = 16)
    val index = Quantize.pqEncode(res, "vec_id", "rvec", nSub = 8, cbRes)
      .join(lists, Seq("vec_id"))
    val out = Quantize.ivfAdcResidualTopK(index, "vec_id", "codes",
      "centroid_id", vecs.where(col("vec_id").between(16, 19)),
      "vec_id", "embedding", cents, cbRes, nSub = 8, nCodes = 16,
      nProbe = 1, k = 5, excludeSelf = true)
      .select("query_id", "neighbor_id", "adc_dist")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // bounded: 40 fixture rows
    val listOf = lists.select("vec_id", "centroid_id")
      .as[(Long, Long)].collect().toMap
    out.foreach { case (q, n, _) =>
      assert(listOf(n) == listOf(q),
        s"residual search ranked $n from an unprobed list for query $q")
    }
    // centroid-neighbor exactness: nProbe = 1 probes the query's own
    // list, whose centroid (ids 0–7) ranks with the TRUE distance
    def q6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val byId = (0 until 40).map { i =>
      val g = i % 8
      i.toLong -> Array.tabulate(64)(j =>
        (if (j / 8 == g) 1f + 0.001f * ((i + j) % 7)
         else 0.001f * ((i * 3 + j) % 11)).toDouble)
    }.toMap
    val centRows = out.filter(_._2 < 8L)
    assert(centRows.nonEmpty, "fixture must rank some coarse-centroid neighbor")
    centRows.foreach { case (q, n, d) =>
      val (qv, cv) = (byId(q), byId(n))
      val grid = (0 until 8).map { s =>
        val d2 = q6d((s * 8 until s * 8 + 8)
          .map(j => (qv(j) - cv(j)) * (qv(j) - cv(j))).sum)
        math.floor(d2 * 1e6 + 0.5).toLong
      }.sum
      assert(d == q6d(grid.toDouble / 1e6),
        s"centroid neighbor $n must score its true distance for query $q")
    }
  }

  test("ADC search fails loudly on unscorable code rows; they never rank") {
    // the contract for storage corruption (Quantize.adcTopK doc): under
    // ANSI (Spark 4's default, every graft session) a code string that
    // fails to parse to nSub in-range codes ABORTS the job — each
    // malformed shape below must throw, not silently win rank 1; with
    // ANSI off the same reads go NULL and the in-operator isNotNull
    // guard drops them before the NULLS FIRST rank
    val nSub = 4; val nCodes = 8
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub, nCodes)
    val good = Quantize.pqEncode(vecs, "vec_id", "embedding", nSub, cb)
    val queries = vecs.where(col("vec_id") === 6L)
    def runWith(planted: (Long, String)*): Seq[(Long, Int)] = {
      val codes = good.select("vec_id", "codes")
        .union(planted.toDF("vec_id", "codes"))
      Quantize.adcTopK(codes, "vec_id", "codes", queries, "vec_id",
        "embedding", cb, nSub, nCodes, k = 3, excludeSelf = true)
        .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSeq
    }
    for (bad <- Seq(
      97L -> "0_0_0_99",  // out-of-range code → array lookup out of bounds
      98L -> "0_0_0",     // wrong arity → missing subspace read
      99L -> "bad_codes", // unparseable → cast failure
      // the two shapes ANSI alone MISSED (ADVICE r12) — both used to
      // score silently: a negative code in subspace j >= 1 reads
      // another subspace's in-bounds LUT cell, and an over-long string
      // truncates to its first nSub codes
      96L -> "0_-1_0_0",
      95L -> "0_0_0_0_0"
    )) {
      val e = intercept[Exception](runWith(bad))
      assert(!e.isInstanceOf[org.scalatest.exceptions.TestFailedException],
        s"planted $bad neither threw nor was excluded")
    }
    // and the clean table still ranks normally through the same path
    val clean = runWith()
    assert(clean.nonEmpty && clean.forall(_._1 < 12L))

    // LUT-side contract: a dim-mismatched codebook (zip_with would pad
    // with nulls → a 0.0 cell that silently wins every rank), a
    // duplicate query id, and a codebook hole must each abort loudly
    val narrow = cb.withColumn("cent",
      org.apache.spark.sql.functions.slice(col("cent"), 1, 1))
    intercept[IllegalArgumentException](
      Quantize.adcTopK(good.select("vec_id", "codes"), "vec_id", "codes",
        queries, "vec_id", "embedding", narrow, nSub, nCodes, k = 3))
    intercept[IllegalArgumentException](
      Quantize.adcTopK(good.select("vec_id", "codes"), "vec_id", "codes",
        queries.union(queries), "vec_id", "embedding", cb, nSub, nCodes, k = 3))
    intercept[IllegalArgumentException](
      Quantize.adcTopK(good.select("vec_id", "codes"), "vec_id", "codes",
        queries, "vec_id", "embedding", cb.where(col("code") =!= 3),
        nSub, nCodes, k = 3))
    // a duplicate (sub, code) row CANCELLING a hole in the raw row
    // count (ADVICE r12): the old count check passed this shape and the
    // hole's 0.0 default silently won ranks — the distinct-cell
    // accounting must abort it
    val dupCancelsHole = cb
      .where(!(col("sub") === 0 && col("code") === 3))
      .union(cb.where(col("sub") === 0 && col("code") === 2))
    val e = intercept[IllegalArgumentException](
      Quantize.adcTopK(good.select("vec_id", "codes"), "vec_id", "codes",
        queries, "vec_id", "embedding", dupCancelsHole, nSub, nCodes, k = 3))
    assert(e.getMessage.contains("duplicate codebook cell"))
    // the literal-LUT plan budget (MaxLutCells): a hostile probe panel
    // must fail loudly BEFORE the driver plans a quarter-million
    // literals — 8193 probes × 4 × 8 cells crosses the 2^18 cap
    val hostilePanel = spark.range(8193)
      .select(col("id").as("vec_id"),
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1f)).as("embedding"))
    val cap = intercept[IllegalArgumentException](
      Quantize.adcTopK(good.select("vec_id", "codes"), "vec_id", "codes",
        hostilePanel, "vec_id", "embedding", cb, nSub, nCodes, k = 3))
    assert(cap.getMessage.contains("literal cells"))
  }

  test("adcRefineTopK: a full-corpus shortlist refines to the exact L2 " +
    "top-k; refined picks stay inside the shortlist") {
    val nSub = 4; val nCodes = 8
    val vecs = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 11 + j * 5) % 17).toFloat / 4f))
    }.toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub, nCodes)
    val codes = Quantize.pqEncode(vecs, "vec_id", "embedding", nSub, cb)
    val queries = vecs.where(col("vec_id").between(8, 11))
    // kShort = whole corpus: the shortlist can drop nothing, so the
    // refined ranking IS the exact brute-force L2 ranking — the
    // recall-recovery limit of the cascade
    val full = Quantize.adcRefineTopK(codes, "vec_id", "codes", queries,
        "vec_id", "embedding", vecs, "embedding", cb, nSub, nCodes,
        kShort = 23, k = 5, excludeSelf = true)
      .select("query_id", "neighbor_id", "l2_dist")
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.l2TopK(queries, vecs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "l2_dist")
      .as[(Long, Long, Double)].collect().toSet
    assert(full == exact, "full-shortlist refine must equal exact l2TopK")
    // bounded shortlist: every refined pick must come from it
    val kShort = 8
    val shortSet = Quantize.adcTopK(codes, "vec_id", "codes", queries,
        "vec_id", "embedding", cb, nSub, nCodes, k = kShort,
        excludeSelf = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Quantize.adcRefineTopK(codes, "vec_id", "codes", queries,
        "vec_id", "embedding", vecs, "embedding", cb, nSub, nCodes,
        kShort = kShort, k = 5, excludeSelf = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(refined.subsetOf(shortSet),
      "refined picks escaped the ADC shortlist")
  }

  test("trainCodebook: batched subspace training equals independent per-" +
    "subspace runs; iters=0 is the seed book; layout cannot change it") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 13 + j * 7) % 23).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    def key(cb: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Double])] =
      cb.select("sub", "code", "cent").as[(Int, Int, Seq[Double])]
        .collect().toSeq.sortBy(r => (r._1, r._2))
    val batched = key(Quantize.trainCodebook(vecs, "vec_id", "embedding",
      nSub = 2, nCodes = 8, iters = 2))
    // the batching claim: each subspace's trajectory is exactly the
    // single-subspace trainer run on that slice alone
    for (s <- 0 until 2) {
      val slice = vecs.select(col("vec_id"),
        org.apache.spark.sql.functions.slice(
          col("embedding"), s * 4 + 1, 4).as("embedding"))
      val solo = key(Quantize.trainCodebook(slice, "vec_id", "embedding",
        nSub = 1, nCodes = 8, iters = 2))
      assert(batched.filter(_._1 == s).map(r => (r._2, r._3)) ==
        solo.map(r => (r._2, r._3)),
        s"subspace $s diverged from its independent training run")
    }
    // iters = 0 returns the seed book untouched
    assert(key(Quantize.trainCodebook(vecs, "vec_id", "embedding", 2, 8, 0)) ==
      key(Quantize.seededCodebook(vecs, "vec_id", "embedding", 2, 8)))
    // physical layout cannot change the trained book
    assert(key(Quantize.trainCodebook(vecs.repartition(7), "vec_id",
      "embedding", nSub = 2, nCodes = 8, iters = 2)) == batched)
  }

  test("pqEncode rejects dimensions that do not divide into subspaces") {
    val vecs = Seq((0L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Quantize.subVectors(vecs, "vec_id", "embedding", nSub = 2)
    }
  }

  test("pqEncode and a trainCodebook step break an exact code tie to the lower code") {
    // codes 0 = (0, 0) and 1 = (2, 0); vector 2 = (1, 0) is 1.0 from both
    val vecs = Seq((0L, Array(0f, 0f)), (1L, Array(2f, 0f)), (2L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub = 1, nCodes = 2)
    val codes = Quantize.pqEncode(vecs, "vec_id", "embedding", nSub = 1, cb)
      .select("vec_id", "codes").as[(Long, String)].collect().toMap
    assert(codes == Map(0L -> "0", 1L -> "1", 2L -> "0"))
    // one step: code 0 averages {0, 2} to (0.5, 0); code 1 keeps (2, 0)
    val trained = Quantize.trainCodebook(vecs, "vec_id", "embedding",
        nSub = 1, nCodes = 2, iters = 1)
      .select("code", "cent").as[(Int, Seq[Double])].collect().toMap
    assert(trained == Map(0 -> Seq(0.5, 0.0), 1 -> Seq(2.0, 0.0)))
  }

  test("PQ fails naming the operator when every vector is empty; no rows encode to no rows") {
    val vecs = Seq((0L, Array(1f, 2f)), (1L, Array(3f, 4f))).toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub = 2, nCodes = 2)
    val empty = Seq((0L, Array.empty[Float]), (1L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val failures = Seq[(String, () => Any)](
      "pqEncode" -> (() => Quantize.pqEncode(empty, "vec_id", "embedding", 2, cb)),
      "seededCodebook" -> (() =>
        Quantize.seededCodebook(empty, "vec_id", "embedding", 2, 2)),
      "trainCodebook" -> (() =>
        Quantize.trainCodebook(empty, "vec_id", "embedding", 2, 2, iters = 1)))
    failures.foreach { case (op, run) =>
      val ex = intercept[IllegalArgumentException](run())
      assert(ex.getMessage.contains(op) && ex.getMessage.contains("non-empty vectors"),
        ex.getMessage)
    }
    assert(Quantize.pqEncode(vecs.limit(0), "vec_id", "embedding", 2, cb).count() == 0)
  }

  test("seededCodebook codes the nCodes lowest ids by rank, so ids need not start at 0") {
    val vecs = (1L to 6L).map(i => (i, Array(i.toFloat, (10 - i).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Quantize.seededCodebook(vecs, "vec_id", "embedding", nSub = 1, nCodes = 4)
    val got = cb.select("code", "cent").as[(Int, Seq[Double])].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(got.map(_._2).toSeq == (1 to 4).map(i => Seq(i.toDouble, (10 - i).toDouble)))
    val codes = Quantize.pqEncode(vecs, "vec_id", "embedding", 1, cb)
    val out = Quantize.adcTopK(codes, "vec_id", "codes", vecs.where(col("vec_id") === 2L),
      "vec_id", "embedding", cb, nSub = 1, nCodes = 4, k = 3)
    assert(out.count() == 3)
  }

  // ---- Bpe.encodeCorpus -----------------------------------------------

  test("encodeCorpus reassembles per-word segmentations in document order") {
    // one dominant pair 'ab': training 1 merge yields 'ab' as a symbol
    val docs = Seq((1L, "ab ab cd"), (2L, "cd ab")).toDF("doc_id", "text")
    val (rules, seg) = Bpe.train(Bpe.wordVocab(docs, "text"), nMerges = 1)
    assert(rules.head.left == "a" && rules.head.right == "b")
    val out = Bpe.encodeCorpus(docs, "doc_id", "text", seg)
      .select("doc_id", "n_words", "n_bpe_tokens", "tokenized")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    // 'ab' -> "ab </w>" (2 symbols), 'cd' -> "c d </w>" (3 symbols)
    assert(out == Seq(
      (1L, 3L, 7L, "ab </w> ab </w> c d </w>"),
      (2L, 2L, 5L, "c d </w> ab </w>")))
  }

  // ---- Retrieval.denseRerank ------------------------------------------

  test("denseRerank reorders candidates by cosine, excludes self, cuts at k") {
    val cands = Seq(
      (0L, 0L, 9.0, 1), // self-hit: must be excluded
      (0L, 1L, 8.0, 2), (0L, 2L, 7.0, 3), (0L, 3L, 6.0, 4)
    ).toDF("query_id", "doc_id", "bm25_score", "bm25_rank")
    // query 0 points along +x; doc 3 is closest in angle, then 1, then 2
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 1f)),
      (2L, Array(0f, 1f)), (3L, Array(2f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = Retrieval.denseRerank(cands, "query_id", "doc_id",
      emb, "vec_id", "embedding", k = 2)
      .select("query_id", "doc_id", "rerank")
      .as[(Long, Long, Int)].collect().sortBy(_._3).toSeq
    assert(out == Seq((0L, 3L, 1), (0L, 1L, 2))) // bm25 order overturned
  }

  // ---- Dedup.scrubDupSpans --------------------------------------------

  test("scrubDupSpans keeps canonical first occurrences, scrubs the rest as a union") {
    val docs = Seq(
      (1L, "x y z a b c"),          // canonical owner of "x y z" -> intact
      (2L, "q r x y z s"),          // cross-doc dup at pos 2 -> scrubbed
      (3L, "x y z"),                // doc IS a dup span -> fully scrubbed
      (4L, "m n o m n o m n o"),    // self-repeat -> collapses to one copy
      (5L, "a b")                   // shorter than the span -> untouched
    ).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, "doc_id", "text", spanWords = 3)
      .select("id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 6L, 0L, "x y z a b c"),
      (2L, 6L, 3L, "q r s"),
      (3L, 3L, 3L, ""),
      (4L, 9L, 6L, "m n o"),
      (5L, 2L, 0L, "a b")))
  }

  // ---- Dsir.importanceSelect ------------------------------------------

  test("importanceSelect weights target-like docs above off-target, and the draw skews to them") {
    // docs 0-19 speak language A (a 21-word sequence, so the target
    // model's vocabulary is large and smoothing prices unseen bigrams
    // harshly), docs 20-39 language B; the exemplar subset is only
    // A-docs 0-9. The likelihood-ratio weight must put EVERY A-doc —
    // including 10-19, which the exemplar set never saw — above every
    // B-doc (the generalization DSIR buys over a membership filter),
    // and the A-ES draw (weighted SAMPLING, not a weight threshold)
    // must skew the selection toward A.
    val aText = (0 until 21).map(j => s"a$j").mkString(" ")
    val bText = (0 until 21).map(j => s"b$j").mkString(" ")
    val docs = (0L until 40L).map { i =>
      if (i < 20) (i, aText) else (i, bText)
    }.toDF("doc_id", "text")
    val all = Dsir.importanceSelect(docs, "doc_id", "text",
      targetPred = col("doc_id") < 10, k = 40, salt = "t")
      .select("doc_id", "weight", "sample_rank").as[(Long, Double, Int)].collect()
    val wAmin = all.filter(_._1 < 20).map(_._2).min
    val wBmax = all.filter(_._1 >= 20).map(_._2).max
    assert(wAmin > 5 * wBmax, s"A-min $wAmin should dwarf B-max $wBmax")
    val selected = all.filter(_._3 <= 20)
    val nA = selected.count(_._1 < 20)
    assert(nA > 20 - nA, s"selection should skew to A-docs, got $nA/20")
  }

  // ---- Similarity.assignToCentroids -----------------------------------

  test("assignToCentroids snaps vectors to their nearest centroid with id tiebreaks") {
    // centroids: +x (id 0) and +y (id 1); vectors near each axis
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(5f, 1f)), (3L, Array(0.5f, 4f)),
      (4L, Array(1f, 1f)) // exact tie on cosine -> lower centroid id (0)
    ).toDF("vec_id", "embedding")
    val cents = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("centroid_id"),
        graft.functions.VectorFns.asDouble(col("embedding")).as("centv"))
    val out = Similarity.assignToCentroids(emb, "vec_id", "embedding", cents)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    // the same tie through every consumer of the routing rule: vector 4
    // lands in (or probes) centroid 0's list everywhere
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(verdicts(Similarity.semDedupWith(emb, "vec_id", "embedding", cents, 0.99)) == out)
    assert(verdicts(Similarity.semDedupSRP(emb, "vec_id", "embedding", cents, 0.99,
      srpBits = 2)) == out)
    // nProbe = 1: query 4 probes list 0 = {0, 2, 4}; query 2 finds 4 there
    val q = emb.where(col("vec_id").isin(2L, 4L))
    val ivf = Similarity.ivfTopKWith(q, emb, "vec_id", "embedding", k = 5,
        nProbe = 1, centroids = cents)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == Set(4L -> 0L, 4L -> 2L, 2L -> 0L, 2L -> 4L))
    // one Lloyd iteration: list 0 = {0, 2, 4} averages to (7/3, 2/3)
    val trained = Similarity.kMeansCentroids(emb, "vec_id", "embedding", k = 2, iters = 1)
      .select("centroid_id", "centv").as[(Long, Seq[Double])].collect().toMap
    assert(trained(0L) == Seq(2.333333, 0.666667) && trained(1L) == Seq(0.25, 2.5))
    // IVF-PQ at nProbe = 1 routes query 4 to list 0 as well
    val cb = Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 1, nCodes = 2)
    val index = Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 1, cb)
      .join(Similarity.assignToCentroids(emb, "vec_id", "embedding", cents), Seq("vec_id"))
    val adc = Quantize.ivfAdcTopK(index, "vec_id", "codes", "centroid_id",
        emb.where(col("vec_id") === 4L), "vec_id", "embedding", cents, cb,
        nSub = 1, nCodes = 2, nProbe = 1, k = 5, excludeSelf = true)
      .select("neighbor_id").as[Long].collect().toSet
    assert(adc == Set(0L, 2L))
  }

  // ---- Privacy.kAnonRelease -------------------------------------------

  test("kAnonRelease pools small cells, preserves totals, omits the row when nothing suppressed") {
    val units = (Seq.fill(5)(("en", "s0")) ++ Seq.fill(2)(("de", "s1")) ++
      Seq(("fr", "s2"))).zipWithIndex
      .map { case ((l, s), i) => (l, s, 10L + i) }
      .toDF("lang", "source", "w")
    val out = Privacy.kAnonRelease(units, Seq("lang", "source"), col("w"), k = 3)
      .select("lang", "source", "n_groups", "n_docs", "n_tokens")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val pooled = out.find(_._1 == "__suppressed").get
    assert(pooled == ("__suppressed", "__suppressed", 2L, 3L,
      (15L + 16L) + 17L)) // de cell (ws 15,16) + fr cell (w 17)
    assert(out.filter(_._1 != "__suppressed") ==
      Seq(("en", "s0", 1L, 5L, (10L to 14L).sum)))
    // published + pooled totals == input totals
    assert(out.map(_._4).sum == 8 && out.map(_._5).sum == (10L to 17L).sum)
    // k=1: nothing suppressed, no pooled row
    val none = Privacy.kAnonRelease(units, Seq("lang", "source"), col("w"), k = 1)
      .select("lang").as[String].collect()
    assert(!none.contains("__suppressed") && none.length == 3)
  }

  // ---- Drift.jsDivergence ---------------------------------------------

  test("jsDivergence: identical groups sit near 0, disjoint groups near ln 2") {
    val docs = Seq(
      ("same1", "a b c a b c"), ("same2", "a b c a b c"),
      ("other", "x y z x y z")
    ).flatMap { case (g, t) => Seq((g, t)) }.toDF("source", "text")
    val out = Drift.jsDivergence(docs, "source", "text")
      .select("source", "n_tokens", "n_words_absent", "js_divergence")
      .as[(String, Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("same1")._2 == 6 && out("other")._2 == 6)
    // 'other' never uses a/b/c (3 absent words); sames never use x/y/z
    assert(out("other")._3 == 3 && out("same1")._3 == 3)
    // disjoint group diverges far harder than the majority-mass groups
    assert(out("other")._4 > out("same1")._4 * 2)
    assert(out("other")._4 <= math.log(2) + 1e-9)
    // one-group corpus: distribution == corpus -> exactly 0 after q6
    val solo = Drift.jsDivergence(Seq(("g", "a b a")).toDF("source", "text"),
      "source", "text").select("js_divergence").as[Double].head()
    assert(solo == 0.0)
  }

  test("jsDivergence topV: caps the scored vocabulary and audits covered mass") {
    // vocabulary {a:6, b:4, c:2, z:2} — top-2 keeps {a, b} = 10/14 mass
    val docs = Seq(("g1", "a a a b b c"), ("g2", "a a a b b z c z")).toDF("source", "text")
    val full = Drift.jsDivergence(docs, "source", "text")
    assert(!full.columns.contains("v_covered_mass"))
    val capped = Drift.jsDivergence(docs, "source", "text", topV = Some(2))
      .as[(String, Long, Int, Double, Double)].collect().map(r => r._1 -> r).toMap
    // n_tokens stays the FULL group token count; only scoring is capped
    assert(capped("g1")._2 == 6 && capped("g2")._2 == 8)
    // both groups use both scored words -> nothing absent under the cap
    assert(capped("g1")._3 == 0 && capped("g2")._3 == 0)
    assert(capped("g1")._5 == math.floor(10.0 / 14 * 1e6 + 0.5) / 1e6)
    // capped JS scores a subset of non-negative word terms: lower bound
    val fullMap = full.select("source", "js_divergence").as[(String, Double)]
      .collect().toMap
    assert(capped("g1")._4 <= fullMap("g1") + 1e-9)
  }

  test("jsDivergence composes with cmsTopK candidates: sketch selects, grid stays exact") {
    // The q134 doc's "swap in cmsTopK when even the count frame warrants
    // a sketch", now wired and gated: candidates = CMS top-(V + slack).
    // Never-undercount (q67 bound) makes the estimate set a superset of
    // the exact top-V for modest slack, so the composed drift grid must
    // reproduce the exact top-V path row-for-row — including the exact
    // (not estimated) covered-mass audit.
    val docs = (0 until 60).map { i =>
      val words = (0 to i % 9).map(j => s"w${(i + j) % 13}").mkString(" ")
      (s"s${i % 3}", words)
    }.toDF("source", "text")
    val v = 5
    val toks = docs.select(explode(split(col("text"), " ")).as("__word"))
    val exactTop = toks.groupBy(col("__word")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__word").asc).limit(v)
      .select("__word").as[String].collect().toSet
    val cms = graft.operators.Sketches.cmsTopK(
      toks, "__word", toks.select("__word").distinct(), k = v + 3)
    val cmsWords = cms.select(col("__word")).as[String].collect().toSet
    // never-undercount through the selection: CMS top-(V+slack) ⊇ exact top-V
    assert(exactTop.subsetOf(cmsWords),
      s"CMS candidates $cmsWords miss exact top-$v words ${exactTop -- cmsWords}")
    val exactPath = Drift.jsDivergence(docs, "source", "text", topV = Some(v))
      .as[(String, Long, Int, Double, Double)].collect().toSet
    val composed = Drift.jsDivergence(docs, "source", "text", topV = Some(v),
        candidateWords = Some(cms.select(col("__word"))))
      .as[(String, Long, Int, Double, Double)].collect().toSet
    assert(composed == exactPath,
      "CMS-candidate drift grid diverged from the exact top-V path")
    // candidate-only form (no topV) still emits the covered-mass audit
    val candOnly = Drift.jsDivergence(docs, "source", "text",
      candidateWords = Some(cms.select(col("__word"))))
    assert(candOnly.columns.contains("v_covered_mass"))
  }

  test("jsDivergence sums through a mergeable integer-grid partial aggregate") {
    val docs = Seq(("g", "a b c"), ("h", "a c d")).toDF("source", "text")
    val plan = Drift.jsDivergence(docs, "source", "text")
      .queryExecution.executedPlan.toString
    // the web-vocabulary contract: no per-group array of the vocabulary
    assert(plan.contains("partial_sum"), s"no map-side partial sum in:\n$plan")
    assert(!plan.contains("collect_list"), s"collect_list buffer survived:\n$plan")
  }

  test("jsDivergence is bit-deterministic under re-partitioning") {
    val docs = (0 until 120).map(i => (s"s${i % 4}",
      s"w${i % 11} w${(i * 3) % 7} w${(i * 5) % 13}")).toDF("source", "text")
    val a = Drift.jsDivergence(docs, "source", "text")
      .as[(String, Long, Int, Double)].collect().toSet
    for (parts <- Seq(1, 5, 9)) {
      val b = Drift.jsDivergence(docs.repartition(parts), "source", "text")
        .as[(String, Long, Int, Double)].collect().toSet
      assert(a == b, s"drift drifted under repartition($parts)")
    }
  }
}
