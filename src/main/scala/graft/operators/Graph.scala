package graft.operators

import graft.Caches
import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics as join-relinked DataFrame plans — the
  * influence-ranking class behind the reference's insider/whale cohorts
  * (`circle_insider`, update_etl.py:838 picks cohorts by ordered LIMIT;
  * an influence propagation ranks by STRUCTURE instead, surfacing the
  * addresses whales buy from even when their own volume is modest).
  *
  * Per iteration: one equi-join of the rank vector against the edge list
  * plus one aggregation back to nodes — the canonical Spark shape whose
  * cost is two hash shuffles on the node id, linear in edges, no
  * driver-side graph state. Each iteration's ranks quantize to 1e-6
  * (`Portable.q6`) exactly like `Similarity.kMeansCentroids` rounds its
  * means: the fixpoint drift stays bounded AND the whole trajectory is
  * cross-engine replayable, so a DuckDB oracle can re-run the SAME
  * unrolled iterations bit-for-bit. Within an iteration the per-node
  * inbound sum is the exact-integer-grid sum
  * ([[graft.functions.Portable.toGrid]]) of the edge contributions
  * rank·share, so the shuffle carries one partial long per (partition,
  * dst), not one row per in-edge, and a power-law hub's aggregation
  * state is a single counter rather than its whole in-neighborhood
  * buffered as an array. (An
  * ordered collect_list fold — the pre-r08 form — kept the same
  * determinism but put a hub's entire inbound edge set in one task's
  * aggregation buffer: the 100-TB skew killer.) The long bound is
  * 1e6 · Σranks ≤ 1e6 · N·maxrank — past ~9e18 total quantized mass
  * switch the sum to decimal(38,0), exactly the Classifier note.
  *
  * ACCURACY TRADE of the grid sum: quantizing each edge contribution
  * BEFORE summing rounds d times per node instead of once, so a node's
  * in-mass can drift up to (0.5/gridScale) · in-degree off the
  * sum-doubles-then-quantize value (the pre-r08 fold's error). For a
  * power-law hub with in-degree ≳ a few million the default 1e6 grid's
  * slack exceeds the 1e-6 output grid — acceptable for influence
  * RANKING (relative order of ranks spanning orders of magnitude);
  * callers needing grid-accurate mass on hub-scale in-degrees pass
  * `gridScale = 1e12`, which stays long-summable while Σranks ≤ 1 as
  * here (1e12 · 1 ≪ 9.2e18; the oracle must mirror the same constant).
  * Determinism is unaffected at EITHER grid — this is purely a
  * rounding-accumulation bound. NOTE the grids are not interchangeable
  * bit-for-bit: the coarser grid rounds each edge contribution BEFORE
  * the damping multiply, and even a ≤ 5e-7 perturbation can cross a q6
  * OUTPUT cell (measured in GraphSpec: a 20-node fixture lands 1-2
  * output cells apart after one iteration). The structural cross-grid
  * bound is the recurrence e_k ≤ d · Σ_in share·(e_{k−1} + grid slack)
  * + one q6 cell — i.e. it scales with in-degree share mass and
  * compounds across iterations, NOT a flat k·1e-6; GraphSpec pins the
  * conservative closed form (indeg-amplified) on its fixture alongside
  * the measured ~2e-6 actual.
  *
  * At 100 TB: the edge list is the only large table; it is scanned once
  * per iteration, pre-shuffled on src by the degree join so AQE reuses
  * the exchange, and iterations are a fixed small count (influence
  * ranking needs the mass to move a few hops, not converge to 1e-12).
  */
object Graph {

  /** Weighted PageRank over an edge list, `iters` exact iterations.
    *
    * rank₀ = 1/N for every node (sources ∪ destinations);
    * rankₜ₊₁(n) = q6( (1−d)/N + d · Σ_{e: dst=n} rankₜ(src) · w/outw(src) ).
    *
    * Dangling mass (nodes with no out-edges) is DROPPED by default —
    * the conventional "leaky" formulation; with
    * `danglingRedistribute = true` each iteration instead adds the
    * dangling nodes' total rank back uniformly:
    * rankₜ₊₁(n) = q6( (1−d)/N + d · (in_mass(n) + dangling_massₜ/N) ),
    * the form most PageRank consumers expect (Σranks is conserved up
    * to the per-node q6 rounding — GraphSpec pins the conservation
    * bound). The dangling mass is ONE extra zero-key aggregate per
    * iteration — itself an exact-integer-grid sum on the same
    * `gridScale` grid (order-free, map-side combinable), so the whole
    * trajectory stays engine-replayable; the oracle replays the
    * identical rule either way. `gridScale` picks the in-mass (and
    * dangling-mass) accumulation grid (1e6 default; 1e12 for
    * grid-accurate hub mass — class doc's ACCURACY TRADE; the oracle
    * mirrors the constant). Returns (node, rank, n_iters).
    *
    * Cache lifetimes follow [[graft.Caches]]: `e`, `nodes`, `shares`
    * (plus, when redistributing, the dangling-node set and each
    * iteration's rank frame) are read by the returned lazy plan, so they
    * stay held in the caller's scope. Every redistributing frame is read
    * twice by the next iteration (its dangling-mass scalar and its
    * contribution join), so left lazy the lineage would replay
    * 2^iters-fold, the same blowup the oracle's MATERIALIZED pins guard
    * against. Releasing the spent frames inside the call would need an
    * eager fill job first, which cost q140 6.9→8.6 s at sf0.1 (r12).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weight: Column, iters: Int, damping: Double = 0.85,
               gridScale: Double = 1e6,
               danglingRedistribute: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // the in-mass accumulation grid (class doc's ACCURACY TRADE): 1e6
    // matches the q6 output grid; 1e12 for grid-accurate hub mass. The
    // oracle must unroll with the identical constant.
    require(gridScale == 1e6 || gridScale == 1e12,
      s"gridScale must be 1e6 or 1e12 (oracle-mirrored constants), got $gridScale")
    val gridDigits = if (gridScale == 1e6) 6 else 12
    // weight stays untouched: with integer weights the per-source sum is
    // exact, so share = w/outw is a bit-deterministic double in any
    // engine (a double weight would make `outw` depend on addition order)
    // e itself is persisted (r10): nodes AND shares both materialize
    // from it, so an uncached e pays the caller's whole edge-derivation
    // subtree twice — measured 25.3→15.9 s for the 3-iteration q109
    // pipeline on the sf1 trade graph (5.9M edges whose
    // lineitem⋈orders build alone costs ~10 s; PrProbe-style A/B)
    val e = Caches.hold(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      weight.as("w")))
    val nodes = Caches.hold(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct())
    // out-weight per source, folded onto the edges once: each edge
    // carries its share of the source's outbound mass
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // nodes and shares feed every iteration: materialize once instead of
    // re-deriving the edge scan per hop
    val shares = Caches.hold(e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("share")))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    // dangling node set (no out-edges): only customers in a trade graph,
    // only sinks in a link graph — a node-sized frame, read once per
    // iteration when redistributing, so it persists like nodes/shares
    val dangling =
      if (danglingRedistribute)
        Some(Caches.hold(nodes.join(e.select(col("src")).distinct(),
          nodes("node") === col("src"), "left_anti")))
      else None
    // With redistribution every iteration's frame is read TWICE by the
    // next (its dmass scalar AND its contribs join); left lazy, the
    // lineage would replay 2^iters-fold — the exact blowup the oracle's
    // MATERIALIZED pins fixed on the DuckDB side, here fixed by
    // holding each iteration's node-sized rank frame (iters+1 cached
    // frames of N rows).
    // Measured: the 3-iteration sf0.1 trade-graph pipeline 16.6→8.4 s
    // once the double-reads hit cache instead of replaying. The leaky
    // path reads each frame once (a linear chain) and stays lazy.
    def perIter(df: DataFrame): DataFrame =
      if (danglingRedistribute) Caches.hold(df) else df
    var ranks = perIter(nodes.crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank")))
    for (_ <- 1 to iters) {
      val contribs = ranks.join(shares, ranks("node") === shares("src"))
        .select(col("dst"), (col("rank") * col("share")).as("c"))
      val inbound = contribs.groupBy(col("dst"))
        .agg(Portable.fromGrid(sum(Portable.toGrid(col("c"), gridDigits)), gridDigits)
          .as("in_mass"))
      ranks = perIter(dangling match {
        case None =>
          nodes.join(inbound, nodes("node") === inbound("dst"), "left")
            .crossJoin(broadcast(n))
            .select(col("node"),
              Portable.q6(lit((1.0 - damping)) / col("n_nodes") +
                lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
        case Some(dang) =>
          // the iteration's total dangling rank: ONE zero-key aggregate,
          // itself an exact-integer-grid sum on the same grid (the ranks
          // entering it are already q6-quantized doubles, identical in
          // any engine), broadcast back as a 1-row scalar
          val dmass = ranks.join(dang, Seq("node"), "left_semi")
            .agg(coalesce(
              Portable.fromGrid(sum(Portable.toGrid(col("rank"), gridDigits)), gridDigits),
              lit(0.0)).as("__dm"))
          nodes.join(inbound, nodes("node") === inbound("dst"), "left")
            .crossJoin(broadcast(n))
            .crossJoin(broadcast(dmass))
            .select(col("node"),
              Portable.q6(lit((1.0 - damping)) / col("n_nodes") +
                lit(damping) * (coalesce(col("in_mass"), lit(0.0)) +
                  col("__dm") / col("n_nodes"))).as("rank"))
      })
    }
    ranks.withColumn("n_iters", lit(iters))
  }
}
