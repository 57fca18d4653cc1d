package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed deduplication via window row_number — the reference's
  * `row_number() over (partition by … order by …) = 1` pattern
  * (update_etl.py:129 update_contracts, :433 first_acquisition,
  * :497 nft_ownership).
  *
  * Scale notes: a single hash shuffle on the partition keys; partial
  * ordering happens inside each shuffle partition. Callers MUST pass a
  * total order (include a unique id as tiebreak) for deterministic output.
  */
object Dedup {

  /** Keep exactly one row per key, the first under `order`. */
  def oneByKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    Rankings.topKPerGroup(df, keys, order, 1, "__rn").drop("__rn")

  /** Latest row per key by (ts desc, id desc). */
  def latestByKey(df: DataFrame, keys: Seq[String], tsCol: String, idCol: String): DataFrame =
    oneByKey(df, keys, Seq(col(tsCol).desc, col(idCol).desc))

  /** First row per key by (ts asc, id asc). */
  def firstByKey(df: DataFrame, keys: Seq[String], tsCol: String, idCol: String): DataFrame =
    oneByKey(df, keys, Seq(col(tsCol).asc, col(idCol).asc))

  /** Canonical word-set hash: md5 of the sorted distinct words. The ONE
    * definition of text canonicalization, shared by [[exactByCanonicalWords]]
    * and the q47 corpus pipeline (and mirrored in their oracles).
    */
  def canonicalWordsHash(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  /** Exact dedup after word-set canonicalization (sorted distinct words):
    * catches reorder/repeat edits that raw-byte hashing misses while still
    * being a single hash-groupBy — the standard cheap normalization step
    * before MinHash in a training-data dedup cascade.
    */
  def exactByCanonicalWords(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(canonicalWordsHash(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Corpus-level duplicated-SPAN detection (substring-granular exact
    * dedup, the "dedup training data at the span level" step of an LLM
    * pipeline): hash every `spanWords`-word window of every doc and count
    * global occurrences of each window hash; a doc's `dup_fraction` is
    * the share of its windows that occur MORE THAN ONCE anywhere in the
    * corpus (including repeats inside the doc itself — a self-repeating
    * doc is duplicated text too). Docs shorter than one window report
    * zero spans and fraction 0.0.
    *
    * Scale: span rows ≈ total corpus tokens — linear. One hash shuffle
    * aggregates window-hash counts with map-side combine (a viral span
    * reaches the exchange as one partial row per map task), one joins
    * the counts back, one rolls up per doc. The window hash is the
    * md5-derived 60-bit portable form ([[graft.functions.HashFns.md5Long]]),
    * so the DuckDB oracle replays it bit-exactly; collision odds at even
    * 10^10 spans stay ~1e-5.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      spanWords: Int): DataFrame = {
    require(spanWords >= 2, "a span of one word is just vocabulary")
    val base = docs.select(col(idCol).as("id"),
      graft.functions.TextFns.words(col(textCol)).as("__w"))
    val spans = base
      .select(col("id"),
        explode(graft.functions.TextFns.shinglesOfWords(col("__w"), spanWords))
          .as("span"))
      .select(col("id"), graft.functions.HashFns.md5Long(col("span"), 15).as("h"))
    val counts = spans.groupBy(col("h")).agg(count(lit(1)).as("__n"))
    val perDoc = spans.join(counts, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    base.select(col("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_fraction",
        when(col("n_spans") > 0,
          graft.functions.Portable.q6(col("n_dup_spans") / col("n_spans")))
          .otherwise(lit(0.0)))
  }

  /** Span-scrub REWRITE — the removal half of exact-substring dedup
    * (Lee et al. 2022 dedup training data; [[duplicatedSpans]] is the
    * detection half): every `spanWords`-token window is hashed
    * corpus-wide; for each window text that occurs more than once, the
    * canonical FIRST occurrence (min (doc, pos)) stays and every other
    * occurrence's tokens are scrubbed from their documents, which are
    * rejoined in order. Single-pass semantics (the standard form): new
    * adjacencies created by a removal are not re-scanned.
    *
    * A token is removed iff ANY non-canonical duplicated occurrence
    * covers it, so overlapping duplicate spans scrub as their union.
    *
    * Scale: span rows are corpus-linear; the coverage explode is
    * `spanWords`-fold on DUPLICATED occurrences only; shuffles are the
    * span-hash count, the join-back, the per-doc coverage distinct, and
    * the ordered rejoin — all keyed, nothing pairwise. Determinism: the
    * md5 60-bit window hash replays in any engine; canonical choice is
    * a min over (doc, pos); everything else is exact integers/strings.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text).
    */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    spanWords: Int): DataFrame = {
    require(spanWords >= 2, "a span of one word is just vocabulary")
    val base = docs.select(col(idCol).as("id"),
      graft.functions.TextFns.words(col(textCol)).as("__w"))
    // (id, pos, h): pos is the 0-based first-token index of the window
    val spans = base
      .select(col("id"), posexplode(
        graft.functions.TextFns.shinglesOfWords(col("__w"), spanWords)))
      .select(col("id"), col("pos"),
        graft.functions.HashFns.md5Long(col("col"), 15).as("h"))
    val canon = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"), min(struct(col("id"), col("pos"))).as("__first"))
      .where(col("__n") > 1)
    // covered token positions of every NON-canonical duplicated occurrence
    val covered = spans.join(canon, Seq("h"))
      .where(!(col("id") === col("__first.id") && col("pos") === col("__first.pos")))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(spanWords - 1))).as("tokpos"))
      .distinct()
    val toks = base.select(col("id"), posexplode(col("__w")))
      .withColumnRenamed("pos", "tokpos")
    val kept = toks.join(covered, Seq("id", "tokpos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tokpos"), col("col")))),
          (x: Column) => x.getField("col")), " ").as("clean_text"))
    // left join back so a fully-scrubbed doc still reports (0 kept, "")
    base.select(col("id"), size(col("__w")).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Connected components of the undirected pair graph — the step that
    * turns near-dup PAIRS (minhash/simhash/ngram output) into dedup
    * DECISIONS: every node gets the min node id of its component, so
    * "keep one doc per duplicate cluster" is `node == component`.
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round a node's label becomes the min of (its label, its
    * neighbors' labels, its label's label). Neighbor propagation alone
    * needs O(diameter) rounds (a 100 TB adversarial chain is O(n)); the
    * pointer-jumping term halves label-chain height per round, giving
    * O(log n) rounds on any topology (the Hash-to-Min bound). Each round
    * is two hash joins + one groupBy-min over (node, lbl) pairs — state
    * is one row per distinct node, never driver-resident. Each round's
    * labels are checkpointed (`Caches.checkpoint`), which truncates the
    * per-round lineage. Deterministic: min over an unordered set.
    *
    * Output: (node, component) for every node appearing in `pairs`. Cache
    * lifetimes follow [[graft.Caches]]: the returned frame reads the last
    * round's checkpoint, held in the caller's scope.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 30): DataFrame = {
    // the projected pair list is read twice by the symmetrizing union —
    // cache it so an expensive upstream (a full near-dup pipeline) does
    // not run once per direction
    val p = Caches.hold(pairs.select(col(aCol).as("pa"), col(bCol).as("pb")))
    val sym = Caches.hold(p.select(col("pa").as("u"), col("pb").as("v"))
      .union(p.select(col("pb").as("u"), col("pa").as("v")))
      .distinct())
    // seed with min(node, min neighbor) rather than node: for the typical
    // near-dup topology (pairs and stars around a low-id survivor) the
    // seed already IS the fixpoint, so the loop pays one confirming round
    // instead of propagate + confirm
    var labels = Caches.checkpoint(
      sym.groupBy(col("u").as("node")).agg(min(least(col("u"), col("v"))).as("lbl")))
    // convergence probe: labels only ever decrease (min over a set that
    // includes the current label), so sum(lbl) is strictly decreasing
    // until the fixpoint — one scalar aggregate per round, no join
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var iters = 0
    var done = prevSum == null // empty graph: nothing to propagate
    while (!done && iters < maxIters) {
      val viaNeighbor = sym.join(labels, col("v") === col("node"))
        .select(col("u").as("node"), col("lbl"))
      val viaPointer = labels.as("x")
        .join(labels.as("y"), col("x.lbl") === col("y.node"))
        .select(col("x.node").as("node"), col("y.lbl").as("lbl"))
      val next = Caches.checkpoint(labels.union(viaNeighbor).union(viaPointer)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl")))
      val nextSum = labelSum(next)
      done = nextSum == prevSum
      prevSum = nextSum
      // release the previous round's materialization: peak storage stays
      // O(2 × nodes), not O(rounds × nodes)
      Caches.release(labels)
      labels = next
      iters += 1
    }
    Caches.release(sym); Caches.release(p)
    // a silent non-fixpoint would emit multiple keep-survivors inside one
    // duplicate cluster downstream — refuse rather than return wrong labels
    // (releasing the last round's blocks first: nothing is returned, so
    // nothing may stay materialized)
    if (!done) {
      Caches.release(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIters=$maxIters rounds; " +
          "pointer jumping needs ~log2(longest chain) — raise maxIters")
    }
    // the returned frame reads the final round's checkpoint blocks (an
    // O(nodes) result, lineage truncated after O(log n) self-referential
    // rounds); they stay in the caller's scope
    labels.select(col("node"), col("lbl").as("component"))
  }
}
