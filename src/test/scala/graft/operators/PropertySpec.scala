package graft.operators

import java.sql.Timestamp

import graft.{AsOfReference, SparkSpec}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.asof.AsOfJoinApi
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generative invariants over random event sets — the cases fixed
  * fixtures miss (repeated keys, bursts, empty sides, ordering edges).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // (user, secondsOffset, side, value); the tiny offset range forces
  // frequent equal-timestamp collisions (including buy/sell ties within
  // a user), which the tie-aware native as-of join must resolve exactly
  // like the following-rows window of the composed form.
  private val eventsGen: Gen[List[(Long, Int, String, Double)]] = for {
    n <- Gen.choose(0, 40)
    users <- Gen.listOfN(n, Gen.choose(1L, 4L))
    offsets <- Gen.listOfN(n, Gen.choose(0, 15))
    sides <- Gen.listOfN(n, Gen.oneOf("buy", "sell"))
    values <- Gen.listOfN(n, Gen.choose(1, 500).map(_.toDouble))
  } yield users.lazyZip(offsets).lazyZip(sides).lazyZip(values).toList

  private def toDf(events: List[(Long, Int, String, Double)]) =
    events.zipWithIndex.map { case ((u, off, side, v), i) =>
      (u, new Timestamp(1700000000000L + off * 1000L), i.toLong, side, v)
    }.toDF("user_id", "ts", "event_id", "side", "value")

  // deterministic Gen sampling (scalatestplus bridge not available offline)
  private def samples(n: Int): Seq[List[(Long, Int, String, Double)]] =
    (1 to n).map(i => eventsGen(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil))

  test("property: native as-of join = composed window form on random event sets") {
    samples(15).foreach { events =>
      val df = toDf(events)
      val cols = Seq("user_id", "buy_event_id", "sell_event_id", "gain")
      val composed = AsOf.matchNext(df, "user_id", "ts", "event_id", "side", "buy", "sell", "value")
        .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      val native = AsOf.matchNextNative(df, "user_id", "ts", "event_id", "side", "buy", "sell", "value")
        .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      assert(native == composed)
    }
  }

  test("property: asOfJoin = the nested-loop reference, every bound, inner and outer") {
    // the 15 sets side by side: user u of set s is key (s, 10s + u), so the
    // composite key takes the key-list path; event ids are unique overall
    val events = samples(15).zipWithIndex.flatMap { case (evs, s) =>
      evs.zipWithIndex.map { case ((u, off, side, v), i) =>
        (s.toLong, 10L * s + u, off.toLong, 100L * s + i, side, v)
      }
    }
    val df = events.map { case (s, u, off, id, side, v) =>
      (s, u, new Timestamp(1700000000000L + off * 1000L), id, side, v)
    }.toDF("set", "user_id", "ts", "event_id", "side", "value")
    def legs(side: String) = events.collect { case (_, u, off, id, `side`, _) => (u, off, id) }
    def leg(side: String) = df.where(col("side") === side).select(col("set"), col("user_id"),
      col("ts").as(s"${side}_ts"), col("event_id").as(s"${side}_event_id"))
    val bounds = Seq(("own id", AsOfReference.afterOnTsId, col("buy_event_id")),
      ("Long.MinValue", AsOfReference.atOrAfterTs, lit(Long.MinValue)),
      ("Long.MaxValue", AsOfReference.afterTs, lit(Long.MaxValue)))
    for ((name, after, bound) <- bounds; outer <- Seq(false, true)) {
      val got = AsOfJoinApi.asOfJoin(leg("buy").withColumn("__bound", bound), leg("sell"),
          Seq("set", "user_id"), "buy_ts", "sell_ts", "__bound", "sell_event_id", outer)
        .select("buy_event_id", "sell_event_id").as[(Long, Option[Long])].collect().toSeq.sorted
      assert(got == AsOfReference.matches(legs("buy"), legs("sell"), after, outer),
        s"bound $name, outer = $outer")
    }
    // q40's caller is the outer form under the Long.MinValue bound
    val fb = Seq.empty[(Long, Double)].toDF("fk", "fv")
    val left = AsOf.matchNextLeft(df, "user_id", "ts", "event_id", "side", "buy", "sell",
        "value", fb, "fk", "fv")
      .select("buy_event_id", "sell_event_id").as[(Long, Option[Long])].collect().toSeq.sorted
    assert(left == AsOfReference.matches(legs("buy"), legs("sell"), AsOfReference.atOrAfterTs,
      outer = true))
  }

  test("property: sessions partition the events exactly") {
    samples(10).foreach { events =>
      val df = toDf(events)
      val sessions = Sessionize.sessions(df, "user_id", "ts", "event_id", "value", 600)
        .select("n_events", "total_value").as[(Long, Double)].collect()
      assert(sessions.map(_._1).sum == events.length) // every event in exactly one session
      val totV = events.map(_._4).sum
      assert(math.abs(sessions.map(_._2).sum - totV) < 1e-6)
    }
  }

  test("property: saltedSum = plain rollup on random values") {
    samples(10).filter(_.nonEmpty).foreach { events =>
      {
        val df = toDf(events)
        val salted = Skew.saltedSum(df, Seq("side"), "value", 8)
          .select("side", "n_rows").as[(String, Long)].collect().toMap
        val plain = df.groupBy("side").count().as[(String, Long)].collect().toMap
        assert(salted == plain)
      }
    }
  }

  test("property: connectedComponents = sequential union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 40)
      as <- Gen.listOfN(n, Gen.choose(1L, 25L))
      bs <- Gen.listOfN(n, Gen.choose(1L, 25L))
    } yield as.zip(bs).filter { case (a, b) => a != b }
    (1 to 12).map(i => edgeGen(Gen.Parameters.default, Seed(100L + i)).getOrElse(Nil))
      .foreach { edges =>
        // reference: plain driver-side union-find with path compression
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // normalize: component id = min node of the set, as the operator promises
        val byRoot = nodes.groupBy(find)
        val expected = byRoot.values.flatMap(g => g.map(_ -> g.min)).toMap
        val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"edges=$edges")
      }
  }

  test("property: explodeFrames frames reassemble to the exact payload") {
    val textGen: Gen[String] = for {
      n <- Gen.choose(0, 50)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
    } yield cs.mkString
    (1 to 10).foreach { i =>
      val texts = (1 to 8).map(j =>
        (j.toLong, textGen(Gen.Parameters.default, Seed(i * 100L + j)).getOrElse("")))
      val fb = 1 + i % 7
      val df = Multimodal.withPayload(texts.toDF("doc_id", "text"), "doc_id", "text")
      val frames = Multimodal.explodeFrames(df, fb)
        .select($"doc_id", $"frame_idx", $"frame".cast("string"))
        .as[(Long, Int, String)].collect()
      val reassembled = frames.groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).mkString).toMap
      texts.foreach { case (id, t) =>
        assert(reassembled.getOrElse(id, "") == t, s"doc $id frameBytes=$fb")
        // every frame except the last is exactly fb bytes
        val sizes = frames.filter(_._1 == id).sortBy(_._2).map(_._3.length)
        assert(sizes.dropRight(1).forall(_ == fb))
      }
    }
  }

  test("property: intervalLookup = brute-force range join on random SCD2 histories") {
    // per (key, history): contiguous half-open intervals, last one open
    val histGen: Gen[Map[Long, List[Int]]] = for {
      nKeys <- Gen.choose(1, 5)
      bounds <- Gen.listOfN(nKeys, Gen.listOfN(3, Gen.choose(0, 20)))
    } yield (1L to nKeys).zip(bounds.map(_.distinct.sorted)).toMap
    (1 to 10).foreach { i =>
      val hist = histGen(Gen.Parameters.default, Seed(500L + i)).getOrElse(Map.empty)
      val dim = hist.toSeq.flatMap { case (k, starts) =>
        starts.zipWithIndex.map { case (s, idx) =>
          val end: Option[Long] =
            if (idx + 1 < starts.length) Some(1700000000000L + starts(idx + 1) * 1000L) else None
          (k, s"tier$idx", new Timestamp(1700000000000L + s * 1000L),
            end.map(new Timestamp(_)))
        }
      }.toDF("k", "tier", "started_at", "ended_at")
      val facts = (0 to 21).map(t => (100L + t, (t % 5 + 1).toLong,
        new Timestamp(1700000000000L + t * 1000L))).toDF("fact_id", "k", "ts")
      val got = Temporal.intervalLookup(facts, dim, "k", "ts", "started_at", "ended_at")
        .select($"fact_id", $"tier").as[(Long, Option[String])].collect().toSet
      // brute force: for each fact, the unique interval containing ts
      val dimRows = dim.as[(Long, String, Timestamp, Option[Timestamp])].collect()
      val factRows = facts.as[(Long, Long, Timestamp)].collect()
      val expected = factRows.map { case (fid, k, ts) =>
        val tier = dimRows.filter { case (dk, _, s, e) =>
          dk == k && !ts.before(s) && e.forall(ts.before)
        }.map(_._2).headOption
        (fid, tier)
      }.toSet
      assert(got == expected)
    }
  }

  test("property: Funnel.stageTimes = sequential per-user fold") {
    val stages = Seq("view", "click", "purchase")
    samples(10).foreach { events =>
      // reuse the event gen: map sides onto funnel stage names
      val mapped = events.zipWithIndex.map { case ((u, off, side, _), i) =>
        val st = Seq("view", "click", "purchase")((off + i) % 3)
        (u, new Timestamp(1700000000000L + off * 1000L), st)
      }
      val df = mapped.toDF("user_id", "ts", "event_type")
      val got = Funnel.stageTimes(df, "user_id", "ts", "event_type", stages)
        .select($"user_id", $"ts_view", $"ts_click", $"ts_purchase")
        .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
        .collect().toSet
      // reference: per user, earliest view; earliest click strictly after
      // it; earliest purchase strictly after that
      val expected = mapped.groupBy(_._1).map { case (u, evs) =>
        def earliest(stage: String, after: Option[Long]): Option[Long] =
          evs.filter(e => e._3 == stage && after.forall(a => e._2.getTime > a))
            .map(_._2.getTime).minOption
        val v = earliest("view", None)
        val c = if (v.isDefined) earliest("click", v) else None
        val p = if (c.isDefined) earliest("purchase", c) else None
        (u, v.map(new Timestamp(_)), c.map(new Timestamp(_)), p.map(new Timestamp(_)))
      }.toSet
      assert(got == expected, s"events=$mapped")
    }
  }

  test("property: saltedJoinHot = plain join for random skews, salts and thresholds") {
    (1 to 8).foreach { i =>
      val seed = Seed(100L + i)
      val gen = for {
        n <- Gen.choose(0, 300)
        keys <- Gen.listOfN(n, Gen.frequency(
          (6, Gen.const(1L)), // hot key
          (3, Gen.choose(2L, 8L)), // warm
          (1, Gen.choose(9L, 40L)))) // cold / possibly dim-less
        salts <- Gen.choose(2, 6)
        threshold <- Gen.choose(1L, 50L)
      } yield (keys, salts, threshold)
      val (keys, numSalts, threshold) = gen(Gen.Parameters.default, seed).get
      val fact = keys.zipWithIndex.map { case (k, idx) => (k, idx) }.toDF("fk", "payload")
      val dim = (1L to 20L).map(k => (k, s"n$k")).toDF("dk", "name")
      val plain = fact.join(dim, $"fk" === $"dk")
        .select("payload", "name").as[(Int, String)].collect().sorted.toSeq
      val salted = Skew.saltedJoinHot(fact, dim, "fk", "dk", numSalts, threshold)
        .select("payload", "name").as[(Int, String)].collect().sorted.toSeq
      assert(salted == plain, s"salts=$numSalts threshold=$threshold keys=$keys")
    }
  }

  test("property: symDeleteLevenshtein = blockedLevenshtein on random near-dup strings") {
    // random short strings over a tiny alphabet with planted mutations and
    // exact duplicates: edit-distance-<=2 pairs are common, as are the
    // duplicate groups the pre-grouping path must expand correctly
    val strGen: Gen[List[(Long, Int, String)]] = for {
      n <- Gen.choose(0, 30)
      blocks <- Gen.listOfN(n, Gen.choose(0, 1))
      bases <- Gen.listOfN(n, Gen.choose(0, 3))
      muts <- Gen.listOfN(n, Gen.choose(0, 3))
      pos <- Gen.listOfN(n, Gen.choose(0, 5))
    } yield blocks.lazyZip(bases).lazyZip(muts).lazyZip(pos).toList.zipWithIndex.map {
      case ((b, base, m, p), i) =>
        val s0 = Seq("abcabc", "abcdef", "aabbcc", "xyzxyz")(base)
        val s = m match {
          case 0 => s0                                      // exact duplicate
          case 1 => s0.updated(p % s0.length, 'q')          // 1 substitution
          case 2 => s0.take(p % s0.length) + s0.drop(p % s0.length + 1) // 1 deletion
          case _ => s0.take(p % s0.length) + "Z" + s0.drop(p % s0.length) // 1 insertion
        }
        (i.toLong, b, s)
    }
    (1 to 12).foreach { seed =>
      val rows = strGen(Gen.Parameters.default, Seed(seed.toLong)).getOrElse(Nil)
      val df = rows.toDF("id", "block", "s")
      val cols = Seq("block", "id_a", "id_b", "str_a", "str_b", "distance")
      val brute = Fuzzy.blockedLevenshtein(df, "id", "s", "block", maxDist = 2)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
      val fast = Fuzzy.symDeleteLevenshtein(df, "id", "s", "block", maxDist = 2)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
      assert(fast.except(brute).isEmpty && brute.except(fast).isEmpty,
        s"seed $seed: symmetric-delete result differs from the block square")
    }
  }

  test("property: packSequences = sequential fold over the shard stream") {
    (1 to 8).foreach { i =>
      val seed = Seed(200L + i)
      val gen = for {
        n <- Gen.choose(0, 120)
        toks <- Gen.listOfN(n, Gen.choose(0L, 30L))
        budget <- Gen.choose(1L, 40L)
        shards <- Gen.choose(1, 5)
      } yield (toks, budget, shards)
      val (toks, budget, nShards) = gen(Gen.Parameters.default, seed).get
      val docs = toks.zipWithIndex.map { case (t, idx) => (idx.toLong, t) }
        .toDF("doc_id", "n_tokens")
      val got = Packing.packSequences(
        Packing.shardAssign(docs, "doc_id", nShards), "n_tokens", budget)
        .select("shard", "pos", "doc_id", "n_tokens", "start_tok", "seq_id", "n_seqs_spanned")
        .as[(Int, Int, Long, Long, Long, Long, Long)].collect()
      // reference: fold each shard's stream in pos order
      got.groupBy(_._1).values.foreach { shard =>
        var offset = 0L
        shard.sortBy(_._2).foreach { case (_, _, id, n, start, seq, span) =>
          assert(start == offset, s"doc $id starts at $start, stream is at $offset")
          assert(seq == start / budget)
          val expectSpan = if (n == 0) 1L else (start + n - 1) / budget - start / budget + 1
          assert(span == expectSpan)
          offset += n
        }
      }
      assert(got.map(_._3).sorted.toSeq == toks.indices.map(_.toLong),
        "packing dropped or duplicated docs")
    }
  }

  test("property: pageRank = sequential quantized replay on random graphs (both grids × both dangling modes)") {
    // The operator's whole value is that its quantized trajectory is
    // engine-replayable; this is the strongest form of that claim — a
    // driver-side sequential implementation of the documented recurrence
    // must match BIT-FOR-BIT on arbitrary topologies (parallel edges,
    // self-loops, hubs, dangling sinks, disconnected nodes), not just on
    // the curated fixtures. Mirrors the engine's IEEE order exactly:
    // share = w/outw (long→double division), per-edge floor(c·gs+0.5)
    // longs summed, dm likewise, q6 on the damped update.
    val damping = 0.85
    def replay(edges: Seq[(Long, Long, Long)], iters: Int, gs: Double,
               dangle: Boolean): Map[Long, Double] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val n = nodes.length
      val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val shares = edges.map { case (s, d, w) => (s, d, w.toDouble / outw(s).toDouble) }
      val dangling = nodes.filterNot(outw.contains)
      var rank = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        shares.foreach { case (s, d, sh) =>
          in(d) += math.floor((rank(s) * sh) * gs + 0.5).toLong
        }
        val dm =
          if (dangle) dangling.map(nd => math.floor(rank(nd) * gs + 0.5).toLong).sum.toDouble / gs
          else 0.0
        rank = nodes.map { nd =>
          val inMass = in.get(nd).map(_.toDouble / gs).getOrElse(0.0)
          val base = (1.0 - damping) / n +
            damping * (if (dangle) inMass + dm / n else inMass)
          nd -> math.floor(base * 1000000.0 + 0.5) / 1000000.0
        }.toMap
      }
      rank
    }
    val graphGen: Gen[List[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 40)
      ss <- Gen.listOfN(n, Gen.choose(1L, 12L))
      ds <- Gen.listOfN(n, Gen.choose(1L, 12L))
      ws <- Gen.listOfN(n, Gen.choose(1L, 5L))
    } yield ss.lazyZip(ds).lazyZip(ws).toList
    for {
      i <- 1 to 6
      gs <- Seq(1e6, 1e12)
      dangle <- Seq(false, true)
    } {
      val edges = graphGen(Gen.Parameters.default, Seed(300L + i)).get
      val got = Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst",
          $"w", iters = 3, gridScale = gs, danglingRedistribute = dangle)
        .select("node", "rank").as[(Long, Double)].collect().toMap
      val want = replay(edges, iters = 3, gs, dangle)
      assert(got == want,
        s"seed ${300 + i} gs=$gs dangle=$dangle: engine diverged from the sequential replay")
      spark.catalog.clearCache() // release the per-call rank/edge caches
    }
  }
}
