package graft.operators

import org.apache.spark.sql.functions._

class GraphSpec extends graft.SparkSpec {
  import spark.implicits._

  test("pageRank: a sink everyone links to outranks its sources") {
    val edges = Seq(("a", "hub", 1L), ("b", "hub", 1L), ("c", "hub", 1L),
      ("hub", "a", 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(edges, "src", "dst", $"w", iters = 5)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Double]("rank")).toMap
    assert(r("hub") > r("a") && r("a") > r("b"))
    assert(r("b") == r("c")) // symmetric sources tie exactly
  }

  test("pageRank: weights steer the split") {
    val edges = Seq(("s", "heavy", 3L), ("s", "light", 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(edges, "src", "dst", $"w", iters = 1)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Double]("rank")).toMap
    // one iteration from uniform 1/3: heavy gets 3/4 of s's mass
    assert(r("heavy") > r("light") && r("light") > 0.0)
    val expectedHeavy = 0.15 / 3 + 0.85 * ((1.0 / 3) * 0.75)
    assert(math.abs(r("heavy") - expectedHeavy) < 1e-6)
  }

  test("pageRank is bit-deterministic under re-partitioning (integer-grid sum)") {
    val edges = (0L until 200L).map(i => (s"n${i % 20}", s"n${(i * 7) % 20}", 1L + i % 3))
      .toDF("src", "dst", "w")
    val a = Graph.pageRank(edges, "src", "dst", $"w", iters = 3)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    for (parts <- Seq(1, 7, 13)) {
      val b = Graph.pageRank(edges.repartition(parts), "src", "dst", $"w", iters = 3)
        .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
      assert(a == b, s"ranks drifted under repartition($parts)")
    }
  }

  test("pageRank: the 1e12 grid tracks the 1e6 grid within the documented bound") {
    // the documented ACCURACY TRADE made real (r09 verdict item 7).
    // Bit-equality across grids is NOT structural — the 1e6 path rounds
    // each contribution to its grid BEFORE the damping multiply, and
    // that ≤ 5e-7-per-contribution perturbation can cross a q6 OUTPUT
    // cell (measured: this 20-node/200-edge fixture lands one-to-two
    // output cells apart). The structural bound is a RECURRENCE, not a
    // flat k·1e-6: an iteration's in-mass divergence is at most the
    // in-edge share mass times (carried rank divergence + 5e-7 grid
    // slack per contribution), damped, plus one q6 output cell. Pinned
    // here via its conservative closed form (share mass ≤ in-degree);
    // the fixture's measured actual is ~2e-6 — far inside. Determinism
    // at either grid is the repartitioning test above.
    val edges = (0L until 200L).map(i => (s"n${i % 20}", s"n${(i * 7) % 20}", 1L + i % 3))
      .toDF("src", "dst", "w")
    val a = Graph.pageRank(edges, "src", "dst", $"w", iters = 3)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    val b = Graph.pageRank(edges, "src", "dst", $"w", iters = 3,
        gridScale = 1e12)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(a.keySet == b.keySet)
    val maxDiff = a.keys.map(k => math.abs(a(k) - b(k))).max
    // every dst here has in-degree 10 (200 edges onto 20 nodes)
    val inDeg = 10.0
    var bound = 0.0
    for (_ <- 1 to 3) bound = 0.85 * inDeg * (bound + 5e-7) + 1e-6
    assert(maxDiff <= bound,
      s"grids diverged past the recurrence bound $bound: $maxDiff")
    assert(maxDiff <= 4e-6, // the measured fixture actual, with headroom:
      s"fixture divergence regressed well past its measured ~2e-6: $maxDiff")
    // and on a low-mass fixture where no rounding crosses a cell, the
    // grids agree exactly (the common case the 1e12 option exists for)
    val hub = Seq(("a", "hub", 1L), ("b", "hub", 1L), ("c", "hub", 1L),
      ("hub", "a", 1L)).toDF("src", "dst", "w")
    val ha = Graph.pageRank(hub, "src", "dst", $"w", iters = 5)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    val hb = Graph.pageRank(hub, "src", "dst", $"w", iters = 5,
        gridScale = 1e12)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    assert(ha == hb, "hub fixture: grids should agree bit-exactly here")
  }

  test("pageRank danglingRedistribute conserves Σranks up to grid rounding; the leaky form leaks") {
    // every dst is a sink (sources never receive), so the dangling set
    // is the whole dst side — the redistribution branch is maximally
    // live, exactly like the gated trade graph's customer side
    val edges = (0L until 200L).map(i => (s"s${i % 20}", s"m${(i * 7) % 20}", 1L + i % 3))
      .toDF("src", "dst", "w")
    val iters = 3
    def total(redistribute: Boolean): Double =
      Graph.pageRank(edges, "src", "dst", $"w", iters = iters,
          danglingRedistribute = redistribute)
        .agg(sum($"rank")).head().getDouble(0)
    val conserved = total(redistribute = true)
    val leaky = total(redistribute = false)
    // conservation bound: per iteration the error picks up at most
    // 5e-7 per edge contribution (E rows quantized onto the 1e6 grid;
    // the dangling sum itself is EXACT — the entering ranks are already
    // q6 doubles, so their grid longs round losslessly), damped, plus
    // one q6 output cell per node
    val n = 40.0; val e = 200.0
    var bound = 0.0
    for (_ <- 1 to iters) bound = 0.85 * (bound + e * 5e-7) + n * 5e-7
    assert(math.abs(conserved - 1.0) <= bound,
      s"redistributed Σranks drifted past $bound from 1: $conserved")
    // the leaky default genuinely leaks the sinks' mass on this fixture
    assert(leaky < conserved - 0.1,
      s"leaky form should lose sink mass (leaky=$leaky, conserved=$conserved)")
    // and the redistribution branch stays bit-deterministic under
    // re-partitioning (its dangling aggregate is an integer-grid sum)
    val a = Graph.pageRank(edges, "src", "dst", $"w", iters = iters,
        danglingRedistribute = true)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    val b = Graph.pageRank(edges.repartition(7), "src", "dst", $"w",
        iters = iters, danglingRedistribute = true)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    assert(a == b, "dangling-redistributed ranks drifted under repartition")
  }

  test("pageRank: a Caches scope releases every frame it cached") {
    // a dangling pageRank holds e, nodes, shares, the dangling set and
    // every iteration's rank frame for its returned plan; collected inside
    // a scope, all of them go when the scope closes, and the scope does
    // not change the ranks
    dropAllCaches()
    val edges = (0L until 200L).map(i => (s"n${i % 20}", s"n${(i * 7) % 20}", 1L + i % 3))
      .toDF("src", "dst", "w")
    def ranks(): Set[(String, Double)] = Graph.pageRank(edges, "src", "dst", $"w",
        iters = 5, danglingRedistribute = true)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSet
    val unscoped = ranks()
    dropAllCaches()
    val scoped = graft.Caches.scoped {
      val r = ranks()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "the scoped run cached nothing")
      r
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"${spark.sparkContext.getPersistentRDDs.size} cached RDDs survived the scope")
    assert(scoped == unscoped, "the scope changed the ranks")
    assert(scoped.size == 20)
  }

  test("pageRank rejects an un-oracle-mirrored grid constant") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", $"w", iters = 1, gridScale = 1e9)
    }
  }

  test("pageRank's inbound aggregate is partial (map-side combine), never a collected array") {
    // the 100-TB skew contract: a hub node's in-neighborhood must arrive
    // as merged long partials, not be buffered whole in one task. A
    // partial_sum in the plan proves the mergeable form; any collect_list
    // (the pre-r08 ordered fold) would buffer per-group arrays.
    val edges = Seq(("a", "hub", 1L), ("b", "hub", 2L)).toDF("src", "dst", "w")
    val plan = Graph.pageRank(edges, "src", "dst", $"w", iters = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"no map-side partial sum in:\n$plan")
    assert(!plan.contains("collect_list"), s"collect_list buffer survived:\n$plan")
  }
}
