package graft.operators

import java.sql.Timestamp

import graft.{NearDupReference, SparkSpec}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latestByKey keeps the newest row per key with id tiebreak") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "a"),
      (1L, ts("2024-01-02 00:00:00"), 11L, "b"),
      (1L, ts("2024-01-02 00:00:00"), 12L, "c"), // same ts, higher id wins
      (2L, ts("2024-01-01 00:00:00"), 13L, "d")
    ).toDF("k", "ts", "id", "v")
    val out = Dedup.latestByKey(df, Seq("k"), "ts", "id")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "c", 2L -> "d"))
  }

  test("firstByKey keeps the oldest row per key") {
    val df = Seq(
      (1L, ts("2024-01-03 00:00:00"), 1L, "late"),
      (1L, ts("2024-01-01 00:00:00"), 2L, "early")
    ).toDF("k", "ts", "id", "v")
    assert(Dedup.firstByKey(df, Seq("k"), "ts", "id")
      .select("v").as[String].collect().toSeq == Seq("early"))
  }

  test("exactByCanonicalWords groups word-set-identical docs") {
    val df = Seq(
      (1L, "b a c"), (2L, "a b c"), (3L, "a a b c"), // same word set
      (4L, "a b d")
    ).toDF("doc_id", "text")
    val out = Dedup.exactByCanonicalWords(df, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 4L -> 1L)) // min-id winner, 3 copies
  }

  test("connectedComponents labels every node with its component min") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on a long chain within the iteration cap") {
    // a 64-node path is the worst case for plain neighbor propagation
    // (O(n) rounds); pointer jumping must close it in O(log n)
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b", maxIters = 10)
      .as[(Long, Long)].collect()
    assert(out.length == 64 && out.forall(_._2 == 1L))
  }

  test("connectedComponents on empty pair set returns empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs, "id_a", "id_b").isEmpty)
  }
}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("approxDistinct tracks exact distinct within rsd on skewed keys") {
    // key "hot": 5000 distinct values; key "cold": 3
    val rows = (0 until 5000).map(i => ("hot", s"v$i")) ++
      Seq(("cold", "a"), ("cold", "b"), ("cold", "c"), ("cold", "a"))
    val df = rows.toDF("k", "v")
    val approx = Sketches.approxDistinct(df, Seq("k"), "v")
      .as[(String, Long)].collect().toMap
    assert(approx("cold") == 3L) // tiny cardinalities are exact in HLL++
    assert(math.abs(approx("hot") - 5000.0) / 5000.0 < 0.1)
  }

  test("approxPercentile at max accuracy matches percentile_disc on a small group") {
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("k", "x")
    val approx = Sketches.approxPercentile(df, Seq("k"), "x", 0.2, "p")
      .select("p").as[Double].head()
    val exact = Rankings.percentileDisc(df, Seq("k"), "x", 0.2, "p")
      .select("p").as[Double].head()
    assert(approx == exact)
  }

  test("cmsTopK recovers the exact top-k on a Zipf-ish term stream") {
    // term t_i appears (50 - i) times: clear frequency ranking
    val rows = (0 until 50).flatMap(i => Seq.fill(50 - i)(s"t$i")).toDF("term")
    val exactTop = (0 until 5).map(i => (s"t$i", (50 - i).toLong))
    val cms = Sketches.cmsTopK(rows, "term", candidates = rows, k = 5)
      .as[(String, Long)].collect().toSeq
    // CMS never undercounts; at this scale (eps bound ~0.2 counts) the
    // estimates are exact and the ranking matches the true top-5
    assert(cms == exactTop)
  }

  test("cmsTopK is pure DataFrame aggregation: no UDF, mergeable matrix build") {
    val rows = (0 until 40).map(i => s"w${i % 8}").toDF("term")
    val frame = Sketches.cmsTopK(rows, "term", candidates = rows, k = 3)
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"udf survived in:\n$plan")
    assert(plan.contains("partial_count"), s"matrix build not map-side combined:\n$plan")
    // estimates never undercount, and a never-seen candidate reads 0
    val est = frame.as[(String, Long)].collect().toMap
    val exact = rows.groupBy("term").count().as[(String, Long)].collect().toMap
    est.foreach { case (t, e) => assert(e >= exact(t)) }
    val ghost = Sketches.cmsTopK(rows, "term",
      candidates = Seq("never-seen").toDF("term"), k = 1)
      .as[(String, Long)].collect().toSeq
    assert(ghost == Seq(("never-seen", 0L)))
  }
}

class IncrementalNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental near-dup equals the batch pipeline restricted to incoming pairs") {
    val docs = (
      (1L until 40L).map(i => (i, s"w$i x$i y$i z$i common tail words here now then")) :+
        (101L, "w7 x7 y7 z7 common tail words here now then") :+ // near-dup of doc 7
        (102L, "w8 x8 y8 z8 common tail words here now then")    // near-dup of doc 8
      ).toDF("doc_id", "text")
    val batch = Similarity.minHashNearDups(docs, "doc_id", "text", 3, 12, 3)
      .where($"id_a" % 2 === 1 || $"id_b" % 2 === 1)
      .collect().map(_.toSeq).toSet
    val base = docs.where($"doc_id" % 2 === 0)
    val incoming = docs.where($"doc_id" % 2 === 1)
    val baseSig = Similarity.minHashSignatures(
      Similarity.shingleSets(base, "doc_id", "text", 3), 12)
    val inc = Similarity.minHashNearDupsIncremental(base, incoming, "doc_id", "text",
      3, 12, 3, baseSignatures = Some(baseSig))
      .collect().map(_.toSeq).toSet
    assert(inc == batch && inc.nonEmpty)
  }

  test("re-ingested id (present in base AND incoming) uses the incoming text only") {
    // doc 2 exists in base with OLD text and arrives again with text that
    // near-dups doc 9; doubling its shingles (old ∪ new) would corrupt the
    // jaccard, and using the old text would miss the pair entirely
    val base = Seq(
      (2L, "ancient version of the document body entirely different words"),
      (4L, "unrelated corpus filler text that matches nothing else at all"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val out = Similarity.minHashNearDupsIncremental(base, incoming, "doc_id", "text",
        3, 12, 3)
      .select("id_a", "id_b", "size_a", "size_b").as[(Long, Long, Long, Long)]
      .collect().toSet
    // both docs have 8 distinct trigrams from the NEW text; the merged
    // old∪new set would show size 16 for doc 2
    assert(out == Set((2L, 9L, 8L, 8L)))
  }

  test("minHashBandKeys equals bandKeys(minHashSignatures(...)) bit for bit (r14 fusion)") {
    val docs = (1L to 25L).map(i => (i, s"alpha$i beta$i gamma delta epsilon zeta${i % 5}"))
      .toDF("doc_id", "text")
    val sh = Similarity.shingleSets(docs, "doc_id", "text", 3)
    // rowsPerBand dividing numSeeds AND a ragged tail band (12 % 5 != 0)
    for (rpb <- Seq(3, 5)) {
      val two = Similarity.bandKeys(Similarity.minHashSignatures(sh, 12), rpb)
        .collect().map(_.toSeq).toSet
      val one = Similarity.minHashBandKeys(sh, 12, rpb)
        .collect().map(_.toSeq).toSet
      assert(one == two && one.nonEmpty, s"rowsPerBand=$rpb")
    }
  }

  test("caller-supplied incomingBands change nothing (sink sharing)") {
    // the sink passes the exact bandKeys frame it stores; the result must
    // be bit-identical to letting the operator build it
    val docs = (
      (1L until 30L).map(i => (i, s"w$i x$i y$i z$i common tail words here now then")) :+
        (101L, "w7 x7 y7 z7 common tail words here now then")
      ).toDF("doc_id", "text")
    val base = docs.where($"doc_id" % 2 === 0)
    val incoming = docs.where($"doc_id" % 2 === 1)
    val own = Similarity.minHashNearDupsIncremental(base, incoming, "doc_id", "text",
      3, 12, 3).collect().map(_.toSeq).toSet
    val sh = Similarity.shingleSets(incoming, "doc_id", "text", 3).cache()
    val bands = Similarity.bandKeys(Similarity.minHashSignatures(sh, 12), 3).cache()
    val shared = Similarity.minHashNearDupsIncremental(base, incoming, "doc_id", "text",
      3, 12, 3, incomingBands = Some(bands))
      .collect().map(_.toSeq).toSet
    sh.unpersist(); bands.unpersist()
    assert(shared == own && shared.nonEmpty)
  }

  // a corpus covering the verification edge cases: near-dup families over
  // a shared tail (the DF cap's target), repeated shingles, and documents
  // with no shingles at all
  private val tail = "common tail words here"
  private val corpus: Seq[(Long, String)] =
    (1L to 12L).map(i => (i, s"w$i x$i y$i z$i v$i $tail")) ++ Seq(
      (21L, "w3 x3 y3 z3 v3 common tail words there"), // near-dup of 3
      (22L, s"w5 x5 y5 z5 q5 $tail"),                   // near-dup of 5
      (23L, s"w9 x9 y9 z9 v9 $tail"),                   // copy of 9
      (30L, "a b c a b c a b c a b c"),                 // 3 distinct shingles
      (31L, "a b c a b c a b c"),                       // the same set
      (32L, "b c a b c a b c a b d"),
      (40L, ""),
      (41L, "two words"))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[NearDupReference.Pair] =
    df.select("id_a", "id_b", "size_a", "size_b", "intersection", "jaccard")
      .as[NearDupReference.Pair].collect().toSet

  test("minHashNearDups equals a plain-Scala exact Jaccard, with and without a binding DF cap") {
    val docs = corpus.toDF("doc_id", "text")
    val want = NearDupReference.pairs(corpus)
    assert(want.exists(p => p._1 == 9L && p._2 == 23L && p._6 == 1.0))
    assert(want.exists(p => p._1 == 30L && p._2 == 31L && p._3 == 3L && p._6 == 1.0))
    assert(pairSet(Similarity.minHashNearDups(docs, "doc_id", "text", 3, 12, 3)) == want)
    // the tail shingles sit in 14 documents: a cap of 3 drops them
    val capped = NearDupReference.pairs(corpus, maxShingleDF = 3)
    assert(capped.nonEmpty && capped != want)
    assert(pairSet(Similarity.minHashNearDups(docs, "doc_id", "text", 3, 12, 3,
      maxShingleDF = 3)) == capped)
  }

  test("minHashNearDupsIncremental equals a plain-Scala exact Jaccard (re-ingest, empty text)") {
    val base = corpus.filter(d => d._1 <= 12L || d._1 == 30L)
    val incoming = Seq(
      (2L, "w7 x7 y7 z7 v7 common tail words there"), // re-ingested: now near-dups 7
      (4L, ""),                                       // re-ingested with no shingles
      (50L, "w2 x2 y2 z2 v2 common tail words here"), // copy of 2's OLD text
      (51L, s"w4 x4 y4 z4 v4 $tail"),                 // copy of 4's OLD text
      (52L, s"w9 x9 y9 z9 v9 $tail"),                 // copy of base 9
      (31L, "a b c a b c a b c"),                     // same set as base 30
      (40L, ""))
    val want = NearDupReference.incrementalPairs(base, incoming)
    assert(want.exists(p => p._1 == 9L && p._2 == 52L && p._6 == 1.0))
    assert(want.exists(p => p._1 == 30L && p._2 == 31L && p._6 == 1.0))
    assert(!want.exists(p => p._1 == 4L || p._2 == 4L))
    val got = Similarity.minHashNearDupsIncremental(base.toDF("doc_id", "text"),
      incoming.toDF("doc_id", "text"), "doc_id", "text", 3, 12, 3)
    assert(pairSet(got) == want)
  }
}

class ScrubSpec extends SparkSpec {
  import spark.implicits._

  test("scrubPII redacts email before phone before digit runs") {
    val df = Seq(
      "mail bob.smith@corp.example.com office 25-989-741-2988 badge 123456 pin 123"
    ).toDF("t")
    val out = df.select(graft.functions.TextFns.scrubPII($"t")).as[String].head()
    assert(out == "mail <EMAIL> office <PHONE> badge <NUM> pin 123")
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val ids = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    .toDF("id", "stratum")

  test("hashSample is deterministic, rate-accurate, and restriction-consistent") {
    val s1 = Sampling.hashSample(ids, "id", 0.3, "s").select("id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(ids, "id", 0.3, "s").select("id").as[Long].collect().toSet
    assert(s1 == s2)
    assert(math.abs(s1.size / 2000.0 - 0.3) < 0.05)
    // consistency: sampling a filtered table selects exactly the ids the
    // full-table sample selected in that filter (joinable samples)
    val sub = Sampling.hashSample(ids.where($"id" < 500), "id", 0.3, "s")
      .select("id").as[Long].collect().toSet
    assert(sub == s1.filter(_ < 500))
  }

  test("different salts decorrelate; same salt at higher rate nests") {
    val a = Sampling.hashSample(ids, "id", 0.3, "s1").select("id").as[Long].collect().toSet
    val b = Sampling.hashSample(ids, "id", 0.3, "s2").select("id").as[Long].collect().toSet
    assert(a != b)
    // nesting: the 30% sample is a subset of the 60% sample under one salt
    val big = Sampling.hashSample(ids, "id", 0.6, "s1").select("id").as[Long].collect().toSet
    assert(a.subsetOf(big))
  }

  test("stratifiedSample applies per-stratum rates") {
    val out = Sampling.stratifiedSample(ids, "stratum", "id",
      rates = Map("a" -> 1.0), defaultRate = 0.0, salt = "s")
    val got = out.select("stratum").as[String].collect()
    assert(got.length == 1000 && got.forall(_ == "a"))
  }

  test("groupSplit keeps every group member in one split, covers all splits, and is repartition-invariant") {
    // 400 rows in 100 groups of 4: the coin must be thrown per GROUP
    val rows = (0L until 400L).map(i => (i, i / 4)).toDF("id", "grp")
    val out = Sampling.groupSplit(rows, "grp", "t", 0.6, 0.2)
    // no group straddles splits — the leakage-safety contract
    val perGroup = out.groupBy("grp")
      .agg(countDistinct($"split").as("n")).select("n").as[Long].collect()
    assert(perGroup.forall(_ == 1L))
    // all three labels reachable and roughly proportioned over groups
    val byLabel = out.select("grp", "split").distinct()
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byLabel.keySet == Set("train", "valid", "test"))
    assert(math.abs(byLabel("train") / 100.0 - 0.6) < 0.15)
    // pure function of (group, salt): bit-equal under repartition
    val again = Sampling.groupSplit(rows.repartition(7, $"id"), "grp", "t", 0.6, 0.2)
      .select("id", "split").as[(Long, String)].collect().toMap
    val first = out.select("id", "split").as[(Long, String)].collect().toMap
    assert(again == first)
  }

  test("groupSplit refuses fractions that make a split unreachable") {
    val rows = Seq((1L, 1L)).toDF("id", "grp")
    intercept[IllegalArgumentException] {
      Sampling.groupSplit(rows, "grp", "t", 0.9, 0.1)
    }
  }

  test("capPerStratum keeps exactly maxN per stratum and a raised cap only adds") {
    val c10 = Sampling.capPerStratum(ids, "stratum", "id", 10, "cap")
      .select("id").as[Long].collect().toSet
    assert(c10.size == 20) // 10 per stratum × 2 strata
    val c25 = Sampling.capPerStratum(ids, "stratum", "id", 25, "cap")
      .select("id").as[Long].collect().toSet
    assert(c10.subsetOf(c25) && c25.size == 50) // hash order is stable
  }

  test("temperatureMix flattens a 9:1 skew toward the sqrt (3:1) allocation") {
    // 1800 "big" vs 200 "small" rows; scale 0.25 keeps both strata
    // fractional (no cap), so output shares must track sqrt(n): 3:1
    val skewed = (0L until 2000L).map(i => (i, if (i < 1800) "big" else "small"))
      .toDF("id", "stratum")
    val out = Sampling.temperatureMix(skewed, "stratum", "id", 0.25, "tm")
    val kept = out.groupBy("stratum").count().as[(String, Long)].collect().toMap
    val ratio = kept("big").toDouble / kept("small")
    assert(ratio > 2.2 && ratio < 3.8,
      s"expected ~3:1 sqrt allocation from a 9:1 input, got $ratio ($kept)")
    // pure function of (id, salt): bit-equal membership under repartition
    val again = Sampling.temperatureMix(skewed.repartition(7, $"id"),
      "stratum", "id", 0.25, "tm").select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("temperatureMix caps rare strata at rate 1 (kept whole) and audits the rate") {
    val skewed = (0L until 2000L).map(i => (i, if (i < 1800) "big" else "small"))
      .toDF("id", "stratum")
    // scale 0.5: small's raw rate 0.5*sqrt(10) > 1 caps; big stays fractional
    val out = Sampling.temperatureMix(skewed, "stratum", "id", 0.5, "tm")
    val rates = out.select("stratum", "mix_rate").distinct()
      .as[(String, Double)].collect().toMap
    assert(rates("small") == 1.0 && rates("big") < 1.0, s"rates: $rates")
    assert(out.where($"stratum" === "small").count() == 200) // capped = all kept
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(skewed, "stratum", "id", 0.0, "tm")
    }
  }

  test("temperatureMix rates null strata as their own stratum; groupSplit surfaces null groups") {
    // a null stratum (unidentified language) must be counted, rated and
    // kept at its own rate — an inner equi-join would silently drop it
    val withNull = (0L until 300L)
      .map(i => (i, if (i < 200) "known" else null)).toDF("id", "stratum")
    val kept = Sampling.temperatureMix(withNull, "stratum", "id", 0.3, "tm")
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    // null rate = 0.3*sqrt(300/100) ≈ 0.52 → ~52 of 100
    assert(kept.getOrElse(null, 0L) > 25 && kept(null) < 80,
      s"null stratum not rated as its own stratum: $kept")
    assert(kept.getOrElse("known", 0L) > 0)
    // a null GROUP id has no identity to split on: null split, never a
    // deterministic dump of all unparseable rows into 'test'
    val rows = Seq((1L, Option(5L)), (2L, Option.empty[Long]), (3L, Option.empty[Long]))
      .toDF("id", "grp")
    val split = Sampling.groupSplit(rows, "grp", "t", 0.6, 0.2)
    assert(split.where($"grp".isNull && $"split".isNotNull).count() == 0)
    assert(split.where($"grp".isNotNull && $"split".isNull).count() == 0)
  }

  test("mixtureSample hits target shares and drops unlisted strata") {
    val out = Sampling.mixtureSample(ids, "stratum", "id",
        targetShare = Map("a" -> 1.0), targetTotal = 200L, salt = "mix")
      .select("stratum").as[String].collect()
    assert(out.forall(_ == "a")) // stratum b (share 0) fully dropped
    assert(math.abs(out.length - 200.0) / 200.0 < 0.2) // rate 200/1000 in expectation
  }

  test("weightedTopK: exact k, contiguous ranks, deterministic, nesting") {
    val weighted = ids.withColumn("w", lit(1.0) + ($"id" % 7))
    val s50 = Sampling.weightedTopK(weighted, "id", $"w", 50, "es")
    val rows = s50.collect()
    assert(rows.length == 50)
    assert(rows.map(_.getAs[Int]("sample_rank")).sorted.sameElements(1 to 50))
    val again = Sampling.weightedTopK(weighted.repartition(13), "id", $"w", 50, "es")
      .select("id").as[Long].collect().toSet
    assert(again == s50.select("id").as[Long].collect().toSet)
    // raising k only adds rows (top-k sets nest under one salt)
    val s80 = Sampling.weightedTopK(weighted, "id", $"w", 80, "es")
      .select("id").as[Long].collect().toSet
    assert(again.subsetOf(s80))
  }

  test("weightedTopK favors heavy rows as A-ES promises") {
    // two weight classes over the 2000 ids: w=20 (ids < 200, a 10%
    // population share) vs w=1 — the A-ES threshold equation puts ~120
    // heavy rows in a 200-row sample (vs 20 under uniform sampling)
    val weighted = ids.withColumn("w", when($"id" < 200, 20.0).otherwise(1.0))
    val heavy = Sampling.weightedTopK(weighted, "id", $"w", 200, "es2")
      .where($"id" < 200).count()
    assert(heavy > 100 && heavy < 140,
      s"expected ~120 heavy rows of 200, got $heavy")
  }
}

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  test("matchNext pairs each buy with the earliest strictly-later sell") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "buy", 100.0),
      (1L, ts("2024-01-01 11:00:00"), 2L, "sell", 150.0),
      (1L, ts("2024-01-01 12:00:00"), 3L, "buy", 90.0),
      (1L, ts("2024-01-01 13:00:00"), 4L, "sell", 95.0),
      (2L, ts("2024-01-01 10:00:00"), 5L, "buy", 50.0) // no later sell → dropped
    ).toDF("user_id", "ts", "event_id", "side", "value")
    val out = AsOf.matchNext(df, "user_id", "ts", "event_id", "side", "buy", "sell", "value")
      .select("buy_event_id", "sell_event_id", "gain")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 50.0), (3L, 4L, 5.0)))
  }
}

class MergeSpec extends SparkSpec {
  import spark.implicits._

  test("coalesceMerge updates matched, inserts missing, keeps unmatched") {
    val target = Seq((1L, "alice", 10.0), (2L, "bob", 20.0)).toDF("id0", "name", "bal")
    val source = Seq((2L, 99.0), (3L, 30.0)).toDF("uid", "newbal")
    val out = Merge.coalesceMerge(target, source, "id0", "uid", Map("bal" -> "newbal"))
      .select("id", "name", "bal", "is_new", "updated")
      .as[(Long, Option[String], Double, Boolean, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, Some("alice"), 10.0, false, false),
      (2L, Some("bob"), 99.0, false, true),
      (3L, None, 30.0, true, true)))
  }
}

class GapsSpec extends SparkSpec {
  import spark.implicits._

  test("missingDates finds calendar holes per key") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 05:00:00")), (1L, ts("2024-01-03 05:00:00")),
      (2L, ts("2024-01-01 05:00:00"))
    ).toDF("k", "ts")
    val out = Gaps.missingDates(df, "k", "ts")
      .select(col("k"), col("day").cast("string")).as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "2024-01-02")))
  }
}

class RankingsSpec extends SparkSpec {
  import spark.implicits._

  test("percentileDisc returns smallest value with cume_dist >= fraction") {
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "v")
    // cume_dist(2.0) = 0.2 >= 0.2 → percentile_disc(0.2) = 2.0
    val out = Rankings.percentileDisc(df, Seq("g"), "v", 0.2, "p")
      .select("p").as[Double].collect()
    assert(out.toSeq == Seq(2.0))
  }

  test("topK returns k rows ranked under the total order") {
    val df = Seq(("a", 3.0), ("b", 1.0), ("c", 2.0)).toDF("id0", "score")
    val out = Rankings.topK(df, Seq(col("score").desc, col("id0").asc), 2)
      .select("id0", "rank").as[(String, Int)].collect().toSeq
    assert(out == Seq(("a", 1), ("c", 2)))
  }

  test("globalRank equals the single-partition window rank, across many partitions") {
    // 1000 rows with heavy value collisions (unique tiebreak id), spread
    // over 8 input partitions so local positions genuinely need offsets
    val df = (1L to 1000L).map(i => (i, (i * 7919 % 97).toDouble))
      .toDF("id", "v").repartition(8)
    val got = Rankings.globalRank(df, Seq(col("v").desc, col("id")), "rnk")
      .select("id", "rnk").as[(Long, Int)].collect().toMap
    val want = df.withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("v").desc, col("id"))))
      .select("id", "rnk").as[(Long, Int)].collect().toMap
    assert(got == want)
  }

  test("globalRank on empty input returns empty with the rank column present") {
    val df = Seq.empty[(Long, Double)].toDF("id", "v")
    val out = Rankings.globalRank(df, Seq(col("v"), col("id")), "rnk")
    assert(out.columns.contains("rnk") && out.count() == 0)
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("sessions split on gaps larger than the threshold") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2L, 2.0), // same session (gap 600s)
      (1L, ts("2024-01-01 12:00:00"), 3L, 3.0)  // new session
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Sessionize.sessions(df, "user_id", "ts", "event_id", "value", 1800)
      .select("session_seq", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 3.0), (2L, 1L, 3.0)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("jaccardPairs computes set overlap via co-occurrence") {
    val sets = Seq(("x", 1L), ("x", 2L), ("x", 3L), ("y", 2L), ("y", 3L), ("y", 4L),
      ("z", 9L)).toDF("k", "m")
    val out = Similarity.jaccardPairs(sets, "k", "m")
      .select("key_a", "key_b", "intersection", "jaccard")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out == Seq(("x", "y", 2L, 0.5))) // |x∩y|=2, |x∪y|=4; z disjoint → absent
  }

  test("minHashNearDups surfaces the planted near-dup with jaccard ~1") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " extra"), (3L, (100 to 140).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Similarity.minHashNearDups(docs, "doc_id", "text", 3, 12, 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(out.head._3 > 0.9)
  }

  test("simHash of identical docs is identical, near docs differ in few bits") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "a b c d e g"))
      .toDF("doc_id", "text")
    val sig = Similarity.simHash(docs, "doc_id", "text", 16)
      .select("id", "simhash").as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) <= 6)
  }

  test("simHash 16-bit matches a pure-Scala reference construction") {
    // guards the bit_or assembly refactor: OR of distinct powers of two
    // must equal the original SUM form for nBits <= 32
    def md5Hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(text: String): Long = {
      val whs = text.split(" ").distinct.toSeq.map(w => java.lang.Long.parseLong(md5Hex(w).take(4), 16))
      (0 until 16).map { b =>
        val s = whs.map(wh => if (((wh >> b) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << b else 0L
      }.sum
    }
    val texts = Seq("a b c d e f", "the quick brown fox", "x", "dup dup dup word")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sig = Similarity.simHash(docs, "doc_id", "text", 16)
      .select("id", "simhash").as[(Long, Long)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) => assert(sig(i.toLong) == ref(t), s"doc $i") }
  }

  test("simHash 64-bit exercises high bits safely and preserves near-dup structure") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, base + " changed"),
      (4L, (200 to 260).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val sig = Similarity.simHash(docs, "doc_id", "text", 64)
      .select("id", "simhash").as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) <= 8)
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(4L)) > 8)
    // sign-bit determinism: a single-word doc's 64-bit signature is exactly
    // xxhash64(word) (each bit's lone contribution is +1 iff the hash bit is
    // set), including words whose hash is negative (bit 63 set) — the case
    // the old sum-based assembly corrupted.
    val words = (1 to 40).map(i => s"w$i")
    val hashes = words.map(w => w -> Seq(w).toDF("x")
      .select(xxhash64(col("x"))).as[Long].head()).toMap
    assert(hashes.values.exists(_ < 0L), "test needs at least one negative hash")
    val single = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val ssig = Similarity.simHash(single, "doc_id", "text", 64)
      .select("id", "simhash").as[(Long, Long)].collect().toMap
    words.zipWithIndex.foreach { case (w, i) => assert(ssig(i.toLong) == hashes(w), s"word $w") }
  }

  test("simHashNearDups64 finds planted near-dups, excludes distant docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " changed"),
      (3L, (200 to 260).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val out = Similarity.simHashNearDups64(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val ham = Similarity.simHash(docs, "doc_id", "text", 64)
      .select("id", "simhash").as[(Long, Long)].collect().toMap
    val within = java.lang.Long.bitCount(ham(1L) ^ ham(2L)) <= 3
    assert(out.contains((1L, 2L)) == within) // blocking is exact: pair iff hamming <= 3
    assert(!out.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("cosineTopK ranks neighbors by cosine with id tiebreak") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(e.where(col("vec_id") === 1), e, "vec_id", "embedding", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((2L, 1), (3L, 2)))
  }

  test("l2TopK ranks by exact squared L2 with id tiebreak; excludes self; " +
    "layout cannot change it") {
    val e = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(3.0f, 4.0f)),  // d2 = 25
      (3L, Array(1.0f, 1.0f)),                           // d2 = 2
      (4L, Array(-1.0f, 1.0f))                           // d2 = 2, tie -> id
    ).toDF("vec_id", "embedding")
    val out = Similarity.l2TopK(e.where(col("vec_id") === 1), e,
        "vec_id", "embedding", 3)
      .select("neighbor_id", "l2_dist", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    assert(out == Seq((3L, 2.0, 1), (4L, 2.0, 2), (2L, 25.0, 3)))
    val repart = Similarity.l2TopK(e.where(col("vec_id") === 1),
        e.repartition(5), "vec_id", "embedding", 3)
      .select("neighbor_id", "l2_dist", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    assert(repart == out)
  }

  test("nearDupSRP only pairs vectors sharing the SRP bucket") {
    val e = Seq(
      (1L, Array(1.0f, 0.01f), "b"), (2L, Array(1.0f, 0.02f), "b"),
      (3L, Array(-1.0f, -0.01f), "b")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.nearDupSRP(e, "vec_id", "embedding", "label", 0.9, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L))) // 3 is antipodal → different bucket
  }

  test("nearDupSRP: empty input fails the contract require, zero-length vectors are excluded (ADVICE r11)") {
    // empty input: max(size(v)) is NULL — must surface the require
    // message, not an NPE from a bare getInt on the null aggregate
    val empty = Seq.empty[(Long, Array[Float], String)].toDF("vec_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDupSRP(empty, "vec_id", "embedding", "label", 0.35, 4)
    }
    assert(ex.getMessage.contains("non-empty vectors"))
    // zero-length vectors: srpBucket would fold them to bucket 0 and the
    // NaN cosine would pass `>= minCosine` under Spark's NaN ordering,
    // while the oracle's terms CTE omits them — they must be filtered
    val mixed = Seq(
      (1L, Array(1.0f, 0.01f), "b"), (2L, Array(1.0f, 0.02f), "b"),
      (3L, Array.empty[Float], "b"), (4L, Array.empty[Float], "b")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.nearDupSRP(mixed, "vec_id", "embedding", "label", 0.35, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)), s"empty-vector pair leaked: $out")
  }

  test("srpBucket's driver-literal sign matrix is value-identical to the per-row md5 column form") {
    // the r11 rewrite moved the nBits×dim md5 sign derivation from
    // inside the projection lambda (nBits·dim digests PER VECTOR) to
    // one driver-built literal matrix; the buckets must not move by a
    // single bit, or the committed oracle replay breaks
    import graft.functions.{HashFns, VectorFns}
    val e = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"), VectorFns.asDouble(col("embedding")).as("v"))
    // bounded: 1-row max-dimension scalar
    val dim = e.agg(max(size(col("v")))).head().getInt(0)
    def oldForm(v: org.apache.spark.sql.Column, nBits: Int,
                seed: String): org.apache.spark.sql.Column = {
      val bits = (0 until nBits).map { b =>
        val signs = transform(sequence(lit(0), size(v) - 1), i =>
          when(HashFns.md5Long(concat_ws(":", lit(seed), lit(b), i.cast("string")), 1) % 2 === 0,
            lit(1.0)).otherwise(lit(-1.0)))
        val proj = aggregate(zip_with(v, signs, (x, s) => x * s), lit(0.0), (acc, x) => acc + x)
        when(proj > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }
      bits.reduce((a, b) => a + b)
    }
    val diff = e.select(
        VectorFns.srpBucket(col("v"), 6, "srp-v1", dim).as("neu"),
        oldForm(col("v"), 6, "srp-v1").as("old"))
      .where(col("neu") =!= col("old")).count()
    assert(diff == 0L, s"$diff vectors changed srp bucket under the literal sign matrix")
  }

  test("nearDupSRP is a subset of the exact within-block square with identical scores (q142 contract)") {
    // recall < 1 by construction, precision = 1: every SRP pair must
    // appear in nearDupWithin's exact square with the SAME quantized
    // cosine, and on the real fixture the bucketing must actually prune
    val e = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
    val srp = Similarity.nearDupSRP(e, "vec_id", "embedding", "label", 0.35, 4)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.nearDupWithin(e, "vec_id", "embedding", "label", 0.35)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(srp.subsetOf(exact), s"SRP invented pairs: ${(srp -- exact).take(3)}")
    assert(srp.size < exact.size,
      s"bucketing pruned nothing (srp=${srp.size}, exact=${exact.size}) — the scale path is vacuous here")
  }

  test("a zero-norm vector fails each cosine caller naming the operator") {
    // vector 0 is the zero vector; it is a query, a corpus row and (for
    // the centroid routes) a routed vector, never a centroid
    val emb = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 1f))).toDF("vec_id", "embedding").withColumn("block", lit(1))
    val queries = emb.where(col("vec_id") === 0L)
    val cents = emb.where(col("vec_id") >= 1L)
      .select(col("vec_id").as("centroid_id"), col("embedding").cast("array<double>").as("centv"))
    val cands = Seq((0L, 1L), (0L, 2L)).toDF("query_id", "doc_id")
    // (caller, the operator its failure names): ivfTopKWith routes every
    // vector through nearestCentroids before it scores a pair
    val cases = Seq[(String, String, () => org.apache.spark.sql.DataFrame)](
      ("cosineTopK", "cosineTopK",
        () => Similarity.cosineTopK(queries, emb, "vec_id", "embedding", 2)),
      ("nearDupWithin", "pairsWithin",
        () => Similarity.nearDupWithin(emb, "vec_id", "embedding", "block", 0.5)),
      ("assignToCentroids", "nearestCentroids",
        () => Similarity.assignToCentroids(emb, "vec_id", "embedding", cents)),
      ("ivfTopKWith", "nearestCentroids",
        () => Similarity.ivfTopKWith(queries, emb, "vec_id", "embedding", 2, 1, cents)),
      ("cosineScores", "cosineScores",
        () => Retrieval.cosineScores(cands, "query_id", "doc_id", emb, "vec_id", "embedding")))
    cases.foreach { case (caller, op, run) =>
      val ex = intercept[Exception](run().collect())
      assert(ex.getMessage.contains(s"$op: zero-norm vector has no cosine"),
        s"$caller: ${ex.getMessage}")
    }
  }
}

class MultimodalSpec extends SparkSpec {

  test("withPayload carries text bytes as the opaque binary column") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "x")).toDF("doc_id", "text").repartition(2)
    val out = Multimodal.withPayload(docs, "doc_id", "text")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(out.map(_._2.length).toSeq == Seq(11, 1))
    assert(new String(out.head._2, "UTF-8") == "hello world")
  }

  test("frameSamplePlan emits every stride-th frame") {
    import spark.implicits._
    val f = Seq((1L, 10L)).toDF("doc_id", "n_frames")
    val out = Multimodal.frameSamplePlan(f, 4).select("sampled_frames")
      .as[Seq[Long]].collect().head
    assert(out == Seq(0L, 4L, 8L))
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("ivfTopK finds in-cluster neighbors through centroid probing") {
    // two tight clusters around (1,0) and (0,1); ids interleaved so the
    // seed centroids (lowest ids) land one in each cluster
    val vecs = Seq(
      (0L, Array(1.0f, 0.00f)), (1L, Array(0.00f, 1.0f)),
      (2L, Array(1.0f, 0.05f)), (3L, Array(0.05f, 1.0f)),
      (4L, Array(1.0f, 0.10f)), (5L, Array(0.10f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs.where(col("vec_id") === 0), vecs,
      "vec_id", "embedding", k = 2, numCentroids = 2, nProbe = 1)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // probing only cluster-0's list: neighbors are 2 and 4, never 1/3/5
    assert(out.toSeq == Seq((2L, 1), (4L, 2)))
  }

  test("ivfTopK with full probing matches brute-force cosineTopK") {
    val vecs = (0L to 19L).map(i =>
      (i, Array((math.cos(i * 0.3)).toFloat, (math.sin(i * 0.3)).toFloat))).toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(q, vecs, "vec_id", "embedding", 3, 4, 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.cosineTopK(q, vecs, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute) // nProbe = numCentroids → exact
  }

  test("kMeansCentroids converges to per-cluster means") {
    // two tight clusters; seeds (ids 0,1) land one per cluster, so one
    // Lloyd iteration already yields the element-wise cluster means
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.2f)), (3L, Array(0.2f, 1.0f)),
      (4L, Array(1.0f, 0.4f)), (5L, Array(0.4f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kMeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .select("centroid_id", "centv").as[(Long, Seq[Double])].collect().toMap
    assert(cents.keySet == Set(0L, 1L))
    assert(cents(0).zip(Seq(1.0, 0.2)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(cents(1).zip(Seq(0.2, 1.0)).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }

  test("kMeansCentroids keeps a centroid whose cluster goes empty") {
    // ids 0,1 identical → vector 1 assigns to centroid 0 (id tiebreak),
    // leaving centroid 1's cluster empty; it must persist unchanged
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kMeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .select("centroid_id", "centv").as[(Long, Seq[Double])].collect().toMap
    assert(cents.keySet == Set(0L, 1L))
    assert(cents(1) == Seq(1.0, 0.0)) // survived three empty iterations
  }

  test("ivfTopKWith trained centroids still finds in-cluster neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.00f)), (1L, Array(0.00f, 1.0f)),
      (2L, Array(1.0f, 0.05f)), (3L, Array(0.05f, 1.0f)),
      (4L, Array(1.0f, 0.10f)), (5L, Array(0.10f, 1.0f))
    ).toDF("vec_id", "embedding")
    val trained = Similarity.kMeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
    val out = Similarity.ivfTopKWith(vecs.where(col("vec_id") === 0), vecs,
      "vec_id", "embedding", k = 2, nProbe = 1, centroids = trained)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((2L, 1), (4L, 2)))
  }
}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("dedupByIdWithinWatermark drops re-deliveries of the same id") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "event_id")
    val q = graft.streaming.StreamOps.dedupByIdWithinWatermark(df, "ts", "event_id", "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:00:01"), 2L))
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:00:00"), 1L)) // duplicate delivery
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }
}

class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  test("matchNextNative equals composed matchNext on the real events table") {
    val ev = graft.sources.Tables(spark, "/root/testdata/sf0.001").events
    val cols = Seq("user_id", "buy_event_id", "sell_event_id", "gain")
    val composed = AsOf.matchNext(ev, "user_id", "ts", "event_id",
      "event_type", "purchase", "view", "value")
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val native = AsOf.matchNextNative(ev, "user_id", "ts", "event_id",
      "event_type", "purchase", "view", "value")
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("matchNextNative basic semantics incl. multi-buy -> one sell") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "buy", 10.0),
      (1L, ts("2024-01-01 10:30:00"), 2L, "buy", 20.0),
      (1L, ts("2024-01-01 11:00:00"), 3L, "sell", 50.0), // matches both buys
      (2L, ts("2024-01-01 09:00:00"), 4L, "sell", 1.0),  // before any buy
      (2L, ts("2024-01-01 10:00:00"), 5L, "buy", 2.0)    // no later sell
    ).toDF("user_id", "ts", "event_id", "side", "value")
    val out = AsOf.matchNextNative(df, "user_id", "ts", "event_id", "side", "buy", "sell", "value")
      .select("buy_event_id", "sell_event_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L), (2L, 3L)))
  }
}

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup keeps k rows per group with deterministic tiebreak") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 9.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)
    ).toDF("g", "id", "score")
    val out = Rankings.topKPerGroup(df, Seq("g"),
        Seq(col("score").desc, col("id").asc), 2, "rnk")
      .select("g", "id", "rnk").as[(String, Long, Int)].collect().toSet
    // group a: 9.0 first, then the 5.0 tie broken by id asc
    assert(out == Set(("a", 3L, 1), ("a", 1L, 2), ("b", 5L, 1)))
  }

  test("rank filter plans as WindowGroupLimit (partial top-k before shuffle)") {
    val df = (1 to 100).map(i => (i % 5, i.toLong, i * 1.1)).toDF("g", "id", "score")
    val plan = Rankings.topKPerGroup(df, Seq("g"),
      Seq(col("score").desc, col("id").asc), 3, "rnk").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("every per-group top-k plans as WindowGroupLimit and breaks an exact tie to the lower id") {
    // query 1 = (1, 0); ids 2 and 3 mirror each other about it (equal
    // cosine, equal L2 distance), the higher id first in the input; 4 is
    // the far side
    val emb = Seq((1L, Array(1f, 0f)), (3L, Array(1f, -1f)), (2L, Array(1f, 1f)),
      (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") === 1L)
    val cents = Seq((0, Array(1.0, 0.0))).toDF("centroid_id", "centv")
    val cb = Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 1, nCodes = 4)
    val codes = Quantize.pqEncode(emb, "vec_id", "embedding", 1, cb)
    val docs = Seq((3L, "spark tuning"), (2L, "spark tuning"), (4L, "other words"))
      .toDF("doc_id", "text")
    val terms = Seq((1L, "spark")).toDF("query_id", "term")
    val cands = Seq((1L, 3L), (1L, 2L), (1L, 4L)).toDF("query_id", "doc_id")
    val scored = Seq((1L, 3L, 1, 0.1), (1L, 2L, 1, 0.1), (1L, 4L, 2, 0.1))
      .toDF("query_id", "doc_id", "bm25_rank", "cosine")
    val keyed = Seq((1, 3L, 5.0), (1, 2L, 5.0), (1, 4L, 1.0)).toDF("k", "id", "score")
    // capPerStratum ranks on the salted hash of the id itself, so distinct
    // ids never tie: its kept row is the lowest (hash, id)
    val strata = (2L to 9L).map(i => ("s", i)).toDF("stratum", "id")
    val firstByHash = strata.orderBy(Sampling.hashUnit(col("id"), "cap"), col("id"))
      .as[(String, Long)].first()._2
    val cases = Seq[(String, org.apache.spark.sql.DataFrame, String, Long)](
      ("cosineTopK", Similarity.cosineTopK(q, emb, "vec_id", "embedding", 1), "neighbor_id", 2L),
      ("l2TopK", Similarity.l2TopK(q, emb, "vec_id", "embedding", 1), "neighbor_id", 2L),
      ("ivfTopKWith", Similarity.ivfTopKWith(q, emb, "vec_id", "embedding", 1, 1, cents),
        "neighbor_id", 2L),
      ("bm25TopK", Retrieval.bm25TopK(docs, "doc_id", "text", terms, "query_id", "term",
        k = 1, maxDfFrac = 1.0), "doc_id", 2L),
      ("denseRerank", Retrieval.denseRerank(cands, "query_id", "doc_id", emb, "vec_id",
        "embedding", 1), "doc_id", 2L),
      ("hardNegatives", Retrieval.hardNegatives(scored, "query_id", "doc_id", "bm25_rank",
        0.5, 1), "doc_id", 2L),
      ("capPerStratum", Sampling.capPerStratum(strata, "stratum", "id", 1, "cap"), "id",
        firstByHash),
      ("Dedup.oneByKey", Dedup.oneByKey(keyed, Seq("k"), Seq(col("score").desc, col("id").asc)),
        "id", 2L),
      ("adcTopK", Quantize.adcTopK(codes, "vec_id", "codes", q, "vec_id", "embedding", cb,
        nSub = 1, nCodes = 4, k = 1, excludeSelf = true), "neighbor_id", 2L))
    cases.foreach { case (op, out, idCol, kept) =>
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), s"$op: expected WindowGroupLimit in:\n$plan")
      assert(out.select(col(idCol)).as[Long].collect().toSeq == Seq(kept), op)
    }
  }
}

class SnapshotMergeSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("snapshotMerge flips history to is_current=false and inserts today true") {
    val history = Seq(
      (1L, 1, d("2024-01-01"), true),
      (2L, 2, d("2024-01-01"), true)
    ).toDF("user_id", "rank", "created_at", "is_current")
    val today = Seq((1L, 1, d("2024-01-02")), (3L, 2, d("2024-01-02")))
      .toDF("user_id", "rank", "created_at")
    val out = Merge.snapshotMerge(history, today, "created_at")
      .select("user_id", "created_at", "is_current")
      .as[(Long, java.sql.Date, Boolean)].collect().toSet
    assert(out == Set(
      (1L, d("2024-01-01"), false), (2L, d("2024-01-01"), false),
      (1L, d("2024-01-02"), true), (3L, d("2024-01-02"), true)))
  }

  test("snapshotMerge re-run is idempotent: same-date history rows are replaced") {
    val history = Seq((1L, 1, d("2024-01-02"), true), (9L, 9, d("2024-01-01"), true))
      .toDF("user_id", "rank", "created_at", "is_current")
    val today = Seq((1L, 2, d("2024-01-02"))).toDF("user_id", "rank", "created_at")
    val out = Merge.snapshotMerge(history, today, "created_at")
      .select("user_id", "rank", "is_current").as[(Long, Int, Boolean)].collect().toSet
    // the stale (1L, rank 1) row for 01-02 is gone, replaced by rank 2
    assert(out == Set((9L, 9, false), (1L, 2, true)))
  }
}

class Scd2MergeSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("scd2Merge closes changed rows, keeps unchanged, inserts new keys") {
    val current = Seq(
      (1L, "low", d("2024-01-01"), None: Option[java.sql.Date]),
      (2L, "high", d("2024-01-01"), None: Option[java.sql.Date]),
      (3L, "low", d("2023-12-01"), Some(d("2024-01-01"))) // already closed
    ).toDF("user_id", "tier", "started_at", "ended_at")
    val incoming = Seq((1L, "high"), (2L, "high"), (4L, "low")).toDF("user_id", "tier")
    val out = Merge.scd2Merge(current, incoming, "user_id", Seq("tier"), lit(d("2024-02-01")))
      .select("user_id", "tier", "started_at", "ended_at")
      .as[(Long, String, java.sql.Date, Option[java.sql.Date])].collect().toSet
    assert(out == Set(
      (1L, "low", d("2024-01-01"), Some(d("2024-02-01"))),  // closed
      (1L, "high", d("2024-02-01"), None),                  // replacement
      (2L, "high", d("2024-01-01"), None),                  // unchanged
      (3L, "low", d("2023-12-01"), Some(d("2024-01-01"))),  // history passthrough
      (4L, "low", d("2024-02-01"), None)))                  // new key
  }

  test("scd2Merge keeps open rows whose key is absent from incoming") {
    val current = Seq((1L, "low", d("2024-01-01"), None: Option[java.sql.Date]))
      .toDF("user_id", "tier", "started_at", "ended_at")
    val incoming = Seq.empty[(Long, String)].toDF("user_id", "tier")
    val out = Merge.scd2Merge(current, incoming, "user_id", Seq("tier"), lit(d("2024-02-01")))
      .select("user_id", "ended_at").as[(Long, Option[java.sql.Date])].collect().toSeq
    assert(out == Seq((1L, None)))
  }
}

class JsonOpsSpec extends SparkSpec {
  import spark.implicits._

  test("parseProfile extracts nested fields, null metadata branch, sameAs fallback") {
    val docs = Seq(
      (1L, """{"displayName":"Al","user":{"username":"al","balance":10.5},
             |"metadata":{"twitterUsername":"al_tw","websiteUrl":"https://al.io"},
             |"sameAs":["https://twitter.com/ignored"]}""".stripMargin.replace("\n", "")),
      // no metadata object → twitter recovered from the sameAs list
      (2L, """{"displayName":"Bo","user":{"username":"bo","balance":2.0},
             |"sameAs":["https://blog.bo.io","https://twitter.com/bo_handle"]}"""
        .stripMargin.replace("\n", "")),
      // neither metadata nor a twitter URL → null handle
      (3L, """{"displayName":"Cy","user":{"username":"cy","balance":0.0},"sameAs":[]}"""),
      (4L, "not json at all")
    ).toDF("id", "doc")
    val out = JsonOps.parseProfile(docs, "doc")
      .select("id", "display_name", "username", "twitter_username", "website", "has_metadata")
      .as[(Long, Option[String], Option[String], Option[String], Option[String], Option[Boolean])]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Some("Al"), Some("al"), Some("al_tw"), Some("https://al.io"), Some(true)),
      (2L, Some("Bo"), Some("bo"), Some("bo_handle"), None, Some(false)),
      (3L, Some("Cy"), Some("cy"), None, None, Some(false)),
      // malformed → null fields + has_metadata=false (PERMISSIVE yields an
      // all-null struct, not a null struct), never a task failure
      (4L, None, None, None, None, Some(false))))
  }
}

class DecodeSpec extends SparkSpec {
  import spark.implicits._

  test("explodeHexArray decodes header and explodes the declared element count") {
    // version 0x1f = 31; count byte 0x08 % 6 + 1 = 3 elements of 4 hex:
    // 00ff=255, abcd=43981, 0001=1
    val df = Seq((7L, "1f0800ffabcd0001ffffffff")).toDF("id", "payload")
    val out = Decode.explodeHexArray(df, "id", "payload", maxElems = 6, elemHexWidth = 4)
      .select("id", "version", "n_elems", "elem_idx", "elem_value")
      .as[(Long, Int, Int, Int, Long)].collect().sortBy(_._4).toSeq
    assert(out == Seq(
      (7L, 31, 3, 0, 255L), (7L, 31, 3, 1, 43981L), (7L, 31, 3, 2, 1L)))
  }

  test("explodeHexArray row counts follow the per-row count byte") {
    val df = Seq(
      (1L, "00" + "00" + "1111" * 6), // count 0x00 → 1 elem
      (2L, "00" + "05" + "2222" * 6)  // count 0x05 → 6 elems
    ).toDF("id", "payload")
    val out = Decode.explodeHexArray(df, "id", "payload", 6, 4)
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 6L))
  }
}

class AsOfLeftSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("matchNextLeft: inclusive ts bound, left-outer with fallback gain") {
    val df = Seq(
      // equal-ts sell with SMALLER id than the buy: inclusive bound matches it
      (1L, ts("2024-01-01 10:00:00"), 5L, "buy", 100.0),
      (1L, ts("2024-01-01 10:00:00"), 2L, "sell", 140.0),
      // buy with no later sell on user 2 → kept, gain from fallback
      (2L, ts("2024-01-01 10:00:00"), 7L, "buy", 50.0),
      // user 3: no sell and no fallback → kept with null gain
      (3L, ts("2024-01-01 10:00:00"), 8L, "buy", 10.0)
    ).toDF("user_id", "ts", "event_id", "side", "value")
    val fb = Seq((2L, 80.0)).toDF("fk", "fv")
    val out = AsOf.matchNextLeft(df, "user_id", "ts", "event_id", "side",
        "buy", "sell", "value", fb, "fk", "fv")
      .select("buy_event_id", "sell_event_id", "gain", "matched")
      .as[(Long, Option[Long], Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (5L, Some(2L), Some(40.0), true),   // inclusive: same-ts sell matched
      (7L, None, Some(30.0), false),      // fallback gain 80-50
      (8L, None, None, false)))           // no sell, no fallback
  }

  test("matchNextLeft equals matchNext (strict) when no ts ties and all matched") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "buy", 100.0),
      (1L, ts("2024-01-01 11:00:00"), 2L, "sell", 150.0),
      (1L, ts("2024-01-01 12:00:00"), 3L, "buy", 90.0),
      (1L, ts("2024-01-01 13:00:00"), 4L, "sell", 95.0)
    ).toDF("user_id", "ts", "event_id", "side", "value")
    val fb = Seq.empty[(Long, Double)].toDF("fk", "fv")
    val left = AsOf.matchNextLeft(df, "user_id", "ts", "event_id", "side",
        "buy", "sell", "value", fb, "fk", "fv")
      .select("buy_event_id", "sell_event_id", "gain")
      .as[(Long, Long, Double)].collect().toSet
    val strict = AsOf.matchNext(df, "user_id", "ts", "event_id", "side",
        "buy", "sell", "value")
      .select("buy_event_id", "sell_event_id", "gain")
      .as[(Long, Long, Double)].collect().toSet
    assert(left == strict && left.nonEmpty)
  }

  test("matchNextLeft keeps a buy with a null key or a null ts unmatched") {
    val df = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:00")), 1L, "buy", 100.0),
      (None, Some(ts("2024-01-01 10:00:00")), 2L, "buy", 10.0),     // null key
      (Some(1L), None, 3L, "buy", 20.0),                            // null ts
      (None, Some(ts("2024-01-01 11:00:00")), 4L, "sell", 50.0),    // null-key sell
      (Some(1L), Some(ts("2024-01-01 10:00:00")), 5L, "sell", 150.0) // same-ts sell
    ).toDF("user_id", "ts", "event_id", "side", "value")
    val fb = Seq.empty[(Long, Double)].toDF("fk", "fv")
    val out = AsOf.matchNextLeft(df, "user_id", "ts", "event_id", "side",
        "buy", "sell", "value", fb, "fk", "fv")
      .select("buy_event_id", "sell_event_id", "matched")
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, Some(5L), true), (2L, None, false), (3L, None, false)))
  }
}

class SimilarityCapsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta", "s1"),
    (2L, "alpha beta gamma delta epsilon eta", "s1"),
    (3L, "one two three four five six", "s1"),
    (4L, "one two three four five seven", "s2")
  ).toDF("doc_id", "text", "source")

  test("ngramNearDups with a non-binding DF cap is identical to uncapped") {
    val base = Similarity.ngramNearDups(docs, "doc_id", "text", "source", 2, 0.0)
      .collect().map(_.toSeq).toSet
    val capped = Similarity.ngramNearDups(docs, "doc_id", "text", "source", 2, 0.0,
      maxShingleDF = 1000).collect().map(_.toSeq).toSet
    assert(capped == base && base.nonEmpty)
  }

  test("ngramNearDups DF cap drops ubiquitous shingles and rescales sizes") {
    // 'x y' appears in every doc of the block; cap df<=2 removes it
    val d = Seq(
      (1L, "x y a b", "s"), (2L, "x y a b", "s"), (3L, "x y c d", "s")
    ).toDF("doc_id", "text", "source")
    val out = Similarity.ngramNearDups(d, "doc_id", "text", "source", 2, 0.0,
        maxShingleDF = 2)
      .select("id_a", "id_b", "size_a", "size_b", "intersection")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // docs 1-2 still share 'y a'/'a b'; pair (1,3)/(2,3) connected only via
    // the dropped 'x y' disappears; sizes exclude the capped shingle
    // (each doc's 3 bigrams shrink to 2 once 'x y' is dropped)
    assert(out == Set((1L, 2L, 2L, 2L, 2L)))
  }

  test("jaccardPairs member-degree cap: non-binding cap identical, binding cap drops") {
    val sets = Seq(
      ("k1", 1L), ("k1", 2L), ("k2", 1L), ("k2", 3L), ("k3", 1L)
    ).toDF("key", "member") // member 1 has degree 3
    val base = Similarity.jaccardPairs(sets, "key", "member").collect().map(_.toSeq).toSet
    val loose = Similarity.jaccardPairs(sets, "key", "member", maxMemberDegree = 10)
      .collect().map(_.toSeq).toSet
    assert(loose == base && base.nonEmpty)
    val tight = Similarity.jaccardPairs(sets, "key", "member", maxMemberDegree = 2)
      .select("key_a", "key_b").as[(String, String)].collect().toSet
    assert(tight.isEmpty) // all pairs were connected only through member 1
  }

  test("minHashNearDups: a non-binding DF cap gives identical output") {
    val base = Similarity.minHashNearDups(docs, "doc_id", "text", 3, 12, 3)
      .collect().map(_.toSeq).toSet
    val alt = Similarity.minHashNearDups(docs, "doc_id", "text", 3, 12, 3,
      maxShingleDF = 1000)
      .collect().map(_.toSeq).toSet
    assert(alt == base && base.nonEmpty)
  }
}
