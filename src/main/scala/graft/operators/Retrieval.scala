package graft.operators

import graft.functions.{Portable, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranked full-text retrieval over the corpus — the "find the training
  * examples most relevant to this probe" primitive (eval-set neighbor
  * inspection, targeted corpus audits, memorization probes). The reference
  * ships its search to Postgres LIKE scans (adhoc queries); here it is a
  * distributed inverted-index scoring pipeline: postings are (term, doc)
  * rows, every join is term-sharded, and nothing pairwise ever forms.
  *
  * Scale shape (100 TB corpus): the postings lists are the only large
  * intermediate — linear in corpus tokens, built by one map-side-combined
  * groupBy. Query terms and the per-term document frequencies are
  * vocabulary-sized (AQE broadcasts them); the per-(query, doc) rollup
  * shuffles only matched postings, and the final top-k plans as a
  * WindowGroupLimit (each map task keeps its local k per query before the
  * exchange). The `maxDfFrac` guard drops stopword-grade terms whose
  * postings lists are a constant fraction of the corpus — the same
  * heavy-hitter cap as `Similarity.maxShingleDF` (SURVEY §4), applied
  * BEFORE the postings join so the cost bound is structural, not
  * score-based (BM25's idf already ranks such terms near zero; the cap is
  * about never materializing their O(corpus) join output at all).
  */
object Retrieval {

  /** BM25 top-k: for each query (rows of (queryIdCol, termCol)), the k
    * highest-scoring documents with deterministic doc-id tiebreaks.
    *
    * Determinism contract (SURVEY §5): tf/df/dl are exact integers; each
    * per-term contribution quantizes to the 1e-6 grid as a long and the
    * per-(query, doc) score is the order-free integer sum of those grid
    * terms (the q109/q126 mergeable construction — replaced the r08
    * ordered collect_list fold in r09), quantized to 6 decimals before
    * ranking. The oracle replays the identical per-term grid expression.
    *
    * Output: (queryIdCol, docIdCol, score, n_terms, rank), rank 1..k.
    */
  def bm25TopK(docs: DataFrame, docIdCol: String, textCol: String,
               queries: DataFrame, queryIdCol: String, termCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 0.9): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxDfFrac > 0 && maxDfFrac <= 1, "maxDfFrac must be in (0, 1]")

    val id = col(docIdCol)
    // One tokenization pass feeds postings AND doc lengths: dl rides the
    // explode as a per-row constant, so no second scan / no dl join.
    val toks = docs.select(id, TextFns.words(col(textCol)).as("__w"))
      .select(id, size(col("__w")).as("dl"), explode(col("__w")).as("term"))
    val postings = toks.groupBy(id, col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))

    // Corpus scalars (N, avgdl): one 1-row aggregate, broadcast-joined.
    val corpus = docs.select(size(TextFns.words(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

    // Per-term document frequency over the (already distinct) postings
    // keys; the stopword cap compares df against the corpus size.
    val termStats = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corpus))
      .where(col("df") <= lit(maxDfFrac) * col("n_docs"))

    val qTerms = queries.select(col(queryIdCol), col(termCol).as("term"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val lengthNorm = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    // The per-term contribution depends ONLY on (term, doc) — compute it
    // (and its 1e-6 grid long, see below) on the POSTINGS-sized frame
    // BEFORE the query join, not on the join's (query, term, doc) output
    // (r12): the scoring arithmetic (log/divides/floor) runs once per
    // posting instead of once per matched query-term row (the fixture's
    // stopword-grade terms make matched rows ≈ postings × probes/term),
    // and the join then carries ONE long instead of tf/dl/df/avgdl.
    // Same joins, same rows, identical doubles → identical longs:
    // bit-identical output, oracle untouched. Measured q104 36.0→33.3 s
    // at sf1 (PERFPROBE_bm25hoist_r12) — modest locally because the
    // matched-pair partial-agg + exchange dominates there, but the
    // payload narrowing compounds at a real corpus where tf/dl/df ride
    // a multi-TB join output.
    // no broadcast hint on termStats: vocabulary grows (sub-linearly)
    // with the corpus, so AQE decides from measured sizes (§4 policy)
    val perTermDoc = postings
      .join(termStats, "term")
      .withColumn("__qt",
        floor((idf * (col("tf") * lit(k1 + 1.0)) / lengthNorm) *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .select(col("term"), id, col("__qt"))

    // Exact-integer-grid sum (the q109/q126 construction): each term's
    // contribution quantizes to the 1e-6 grid as a LONG, and longs sum
    // order-free — bit-identical across engines, partitionings and
    // engine versions with NO ordered fold, so the aggregate map-side
    // combines as a plain `partial_sum` (one long per (partition, query,
    // doc)) instead of buffering matched-term structs in an
    // ObjectHashAggregate array. Accuracy: ≤ 5e-7 · n_terms rounding,
    // and n_terms is bounded by the QUERY's term count (a probe-shape
    // constant), never the corpus. Overflow headroom: a contribution ≤
    // idf_max · (k1+1) ≲ 60 even at N = 10¹⁰ docs, so each grid term is
    // < 6e7 and a query needs ~10¹¹ matched terms to approach 2⁶³.
    val folded = qTerms
      .join(perTermDoc, "term")
      .groupBy(col(queryIdCol), id)
      .agg(sum(col("__qt")).as("__qsum"), count(lit(1)).as("n_terms"))
      .withColumn("score",
        Portable.q6(col("__qsum").cast("double") / lit(1000000.0)))
      .drop("__qsum")

    Rankings.topKPerGroup(folded, Seq(queryIdCol), Seq(col("score").desc, id.asc), k, "rank")
      .select(col(queryIdCol), id, col("score"), col("n_terms"), col("rank"))
  }

  /** Dense rerank of a sparse candidate set — the second stage of the
    * standard hybrid-retrieval cascade: a cheap term-level recall pass
    * ([[bm25TopK]]) bounds the candidate set, then embedding cosine
    * re-orders only those candidates and keeps `k`. At 100 TB this is
    * the whole point of the cascade: the dense model never scores the
    * corpus — vector work is O(queries × candidates).
    *
    * Scale shape: candidate embeddings arrive by an equi-join on the doc
    * id (candidate-count-sized output); QUERY embeddings are first
    * semi-joined down to the queries actually present and then broadcast
    * — never the full embedding table. Self-hits (a probe retrieving
    * itself) are excluded before ranking. Cosines quantize to q6 with
    * doc-id tiebreaks (the q24/q41 contract), so the oracle replays the
    * rerank exactly.
    *
    * COVERAGE CONTRACT: `emb` must cover every candidate doc id and
    * every probe id — both joins are INNER, so a candidate without an
    * embedding silently leaves the pool (shrinking the effective k) and
    * a probe without one vanishes from the output entirely. That is the
    * right join shape at scale (an outer join would rank null cosines);
    * callers whose embedding table can lag the corpus should anti-join
    * `cands` against `emb` first and route the misses to a coverage
    * report, exactly like the q73 quarantine pattern.
    *
    * Output: `cands` columns + cosine + rerank (1..k per query).
    */
  def denseRerank(cands: DataFrame, queryIdCol: String, docIdCol: String,
                  emb: DataFrame, embIdCol: String, vecCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    Rankings.topKPerGroup(cosineScores(cands, queryIdCol, docIdCol, emb, embIdCol, vecCol),
      Seq(queryIdCol), Seq(col("cosine").desc, col(docIdCol).asc), k, "rerank")
  }

  /** The shared dense-scoring step of [[denseRerank]] and
    * [[hardNegatives]]: every (probe, candidate) pair annotated with
    * its q6 embedding cosine. Same join shape, coverage contract, and
    * self-exclusion as denseRerank (see its doc) — candidate-sized
    * equi-join for candidate vectors, broadcast semi-joined probe
    * vectors, zero pairwise work beyond the candidate list itself.
    */
  def cosineScores(cands: DataFrame, queryIdCol: String, docIdCol: String,
                   emb: DataFrame, embIdCol: String, vecCol: String): DataFrame = {
    val e = emb.select(col(embIdCol), VectorFns.asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", VectorFns.norm2(col("__v")))
    val ce = e.select(col(embIdCol).as(docIdCol), col("__v").as("__cv"), col("__n").as("__cn"))
    val qe = e.join(cands.select(col(queryIdCol).as(embIdCol)).distinct(),
        Seq(embIdCol), "left_semi")
      .select(col(embIdCol).as(queryIdCol), col("__v").as("__qv"), col("__n").as("__qn"))
    cands.where(col(docIdCol) =!= col(queryIdCol))
      .join(ce, Seq(docIdCol))
      .join(broadcast(qe), Seq(queryIdCol))
      .withColumn("cosine",
        VectorFns.cosine(col("__qv"), col("__qn"), col("__cv"), col("__cn"), "cosineScores"))
      .drop("__qv", "__qn", "__cv", "__cn")
  }

  /** Hard-negative mining for contrastive retriever training (the
    * DPR/ANCE data-prep step): from an already dense-scored candidate
    * list ([[cosineScores]] over a BM25 recall pass), drop the
    * POSITIVES (cosine >= `posThreshold` — the corpus's near-dup
    * relevance rule, the q29 threshold family) and keep the top
    * `negPerQuery` survivors BY RETRIEVER RANK. Those are the
    * lexically-confusable non-relevant docs a dual encoder learns the
    * decision boundary from — random negatives are too easy, and the
    * candidates BM25 itself ranked high are exactly the confusions.
    *
    * Scale shape: the split is a codegen'd filter over the
    * candidate-sized scored frame; the per-query cap plans as
    * WindowGroupLimit. Ordering is (`bm25RankCol` asc, doc id asc) —
    * the rank column is already unique per query when it comes from
    * [[bm25TopK]], the id tiebreak keeps the contract total for any
    * caller. A zero-norm vector has no cosine: [[cosineScores]] fails
    * the job on one, so a scored frame from it never carries such a row.
    */
  def hardNegatives(scored: DataFrame, queryIdCol: String, docIdCol: String,
                    bm25RankCol: String, posThreshold: Double,
                    negPerQuery: Int): DataFrame = {
    require(negPerQuery >= 1, "negPerQuery must be >= 1")
    Rankings.topKPerGroup(scored.where(col("cosine") < posThreshold), Seq(queryIdCol),
      Seq(col(bm25RankCol).asc, col(docIdCol).asc), negPerQuery, "neg_rank")
  }
}
