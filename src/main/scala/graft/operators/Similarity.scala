package graft.operators

import graft.functions.{HashFns, Portable, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity / near-duplicate family.
  *
  * The reference computes collection similarity with a driver-side O(n²)
  * pandas loop (update_etl.py:1438 generate_collection_similarity); here
  * every variant is a distributed join bounded by a blocking key (shared
  * member / LSH band / SRP bucket / label), which is what survives 100 TB.
  */
object Similarity {

  /** Pairwise Jaccard of per-key member sets via co-occurrence join:
    * `sets` = (key, member) distinct pairs. Only key pairs sharing >= 1
    * member are materialized (never the full key × key square).
    * Output: key_a, key_b, size_a, size_b, intersection, jaccard.
    *
    * Heavy-hitter contract: a member present in m keys generates m² join
    * rows, so one ubiquitous member regenerates the key square.
    * `maxMemberDegree` drops members appearing in more keys than the cap
    * BEFORE the self-join; set sizes are computed on the capped sets, so
    * the output is the exact Jaccard of the filtered bipartite graph
    * (pairs connected ONLY through dropped members are lost — that is the
    * recall trade documented in SURVEY §4). Default: no cap.
    */
  def jaccardPairs(sets: DataFrame, keyCol: String, memberCol: String,
                   maxMemberDegree: Int = Int.MaxValue): DataFrame = {
    val s0 = sets.select(col(keyCol).as("key"), col(memberCol).as("member")).distinct()
    val s =
      if (maxMemberDegree == Int.MaxValue) s0
      else s0.join(
        s0.groupBy(col("member")).agg(count(lit(1)).as("__deg"))
          .where(col("__deg") <= maxMemberDegree).select(col("member")),
        Seq("member"), "left_semi")
    val sizes = s.groupBy(col("key")).agg(count(lit(1)).as("sz"))
    val inter = s.as("a").join(s.as("b"),
        col("a.member") === col("b.member") && col("a.key") < col("b.key"))
      .groupBy(col("a.key").as("key_a"), col("b.key").as("key_b"))
      .agg(count(lit(1)).as("intersection"))
    // no broadcast hint: sizes has one row per distinct key (unbounded for
    // a generic caller) — Catalyst/AQE picks broadcast when it fits
    inter
      .join(sizes.withColumnRenamed("sz", "size_a").as("sa"), col("key_a") === col("sa.key"))
      .join(sizes.withColumnRenamed("sz", "size_b").as("sb"), col("key_b") === col("sb.key"))
      .select(col("key_a"), col("key_b"), col("size_a"), col("size_b"), col("intersection"),
        Portable.q6(col("intersection") * lit(1.0) /
          (col("size_a") + col("size_b") - col("intersection"))).as("jaccard"))
  }

  /** (id, shingles) one row per document: its distinct word n-grams as an
    * array (empty for a document shorter than n words).
    *
    * The words array is materialized in its own projection first: the
    * shingle construction references it n+1 times, and CollapseProject
    * keeps non-cheap multi-referenced aliases in their own stage, so
    * `split` runs once per row instead of once per slice.
    */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), TextFns.words(col(textCol)).as("__w"))
      .select(col("id"), array_distinct(TextFns.shinglesOfWords(col("__w"), n)).as("shingles"))

  /** (id, shingle) distinct pairs: the exploded [[shingleArrays]]. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    explodeShingles(shingleArrays(docs, idCol, textCol, n))

  private def explodeShingles(arrays: DataFrame): DataFrame =
    arrays.select(col("id"), explode(col("shingles")).as("shingle"))

  /** Exact Jaccard of candidate pairs (id_a, id_b) over `sets`, one
    * (id, shingles) row per document with its distinct shingles as an
    * array: each pair joins `sets` once per side and intersects the two
    * arrays, so the work scales with the candidates. A side with no
    * shingles drops the pair. Output: id_a, id_b, size_a, size_b,
    * intersection, jaccard.
    */
  private def verifyCandidates(cands: DataFrame, sets: DataFrame): DataFrame = {
    val s = sets.where(size(col("shingles")) > 0)
    cands
      .join(s.as("sa"), col("id_a") === col("sa.id"))
      .join(s.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        size(col("sa.shingles")).cast("long").as("size_a"),
        size(col("sb.shingles")).cast("long").as("size_b"),
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))).cast("long")
          .as("intersection"))
      .withColumn("jaccard", Portable.q6(col("intersection") * lit(1.0) /
        (col("size_a") + col("size_b") - col("intersection"))))
  }

  /** MinHash signatures: one row per (id, seed) with the min 32-bit hash
    * over the id's shingle set, for seeds 0..numSeeds-1.
    *
    * Hash-once, derive-many (Kirsch–Mitzenmacher double hashing): ONE md5
    * per shingle yields two independent 32-bit halves (a, b); seed i's
    * hash is (a + i·(2b+1)) mod 2^32 — the 2b+1 forces an odd, nonzero
    * stride so b = 0 cannot collapse all seeds onto a. Per shingle row
    * that is 1 digest + 2 hex parses + numSeeds adds, vs numSeeds/4
    * digests before, and there is NO pre-aggregation row explosion: all
    * numSeeds minima aggregate as columns of a single groupBy(id), so the
    * map side streams each shingle exactly once and the shuffle carries
    * one numSeeds-wide row per id. The explode to (id, seed) rows happens
    * after aggregation, on tiny data. Double hashing is the standard LSH
    * trick (Kirsch & Mitzenmacher 2006): pairwise hash quality is what
    * banding needs, full mutual independence is not.
    */
  /** One row per id with all numSeeds minima as COLUMNS — the shared
    * aggregation core of [[minHashSignatures]] and [[minHashBandKeys]].
    */
  private def minHashWide(shingles: DataFrame, numSeeds: Int): DataFrame = {
    require(numSeeds >= 1, "numSeeds must be positive")
    val M = 4294967296L // 2^32
    val mins = (0 until numSeeds).map(s =>
      min((col("a") + lit(s.toLong) * (col("b") * 2 + 1)) % M).as(s"__m$s"))
    shingles
      // native digest-to-longs (value-identical to conv(substring(md5)) —
      // the oracle re-derives from hex slices); materialized once per row
      // in its own projection (CollapseProject keeps multi-referenced
      // non-cheap aliases staged — see shingleSets)
      .select(col("id"),
        org.apache.spark.sql.graft.HashExprs.md5Halves(col("shingle")).as("__h"))
      .select(col("id"),
        element_at(col("__h"), 1).as("a"),
        element_at(col("__h"), 2).as("b"))
      .groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
  }

  def minHashSignatures(shingles: DataFrame, numSeeds: Int): DataFrame =
    minHashWide(shingles, numSeeds)
      .select(col("id"),
        posexplode(array((0 until numSeeds).map(s => col(s"__m$s")): _*)).as(Seq("seed", "minh")))

  /** (id, band, band_key) rows sliced DIRECTLY from the wide per-id
    * aggregate — one aggregation, where `bandKeys(minHashSignatures(...))`
    * pays two (the signature groupBy, then the band re-groupBy of the
    * exploded rows). Both shuffle once: the re-groupBy runs on rows already
    * hash-partitioned by id, so it costs an aggregate, not an Exchange.
    * Output is bit-identical to the two-step form: same band numbering
    * (seed div rowsPerBand) and the same '_'-joined minima in seed order
    * (spec-pinned in OperatorsSpec).
    */
  def minHashBandKeys(shingles: DataFrame, numSeeds: Int, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1, "rowsPerBand must be positive")
    val bands = (0 until numSeeds).grouped(rowsPerBand).toSeq.zipWithIndex.map {
      case (seeds, b) => struct(lit(b).as("band"),
        concat_ws("_", seeds.map(s => col(s"__m$s").cast("string")): _*).as("band_key"))
    }
    minHashWide(shingles, numSeeds)
      .select(col("id"), explode(array(bands: _*)).as("__bb"))
      .select(col("id"), col("__bb.band").as("band"), col("__bb.band_key").as("band_key"))
  }

  /** (id, band, band_key) rows: `rowsPerBand` consecutive signature rows
    * concatenated (in seed order) into a deterministic band key.
    */
  def bandKeys(signatures: DataFrame, rowsPerBand: Int): DataFrame = signatures
    .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
    .groupBy(col("id"), col("band"))
    .agg(concat_ws("_", sort_array(collect_list(struct(col("seed"), col("minh"))))
      .getField("minh").cast("array<string>")).as("band_key"))

  /** Full MinHash-LSH near-dup pipeline: candidates + exact shingle-set
    * Jaccard verification of each candidate pair on per-document shingle
    * arrays (see [[verifyCandidates]]).
    *
    * `maxShingleDF` caps shingle document frequency (a shingle present in
    * every doc of the corpus contributes nothing to similarity but
    * multiplies the candidate pairs); applied BEFORE signatures so
    * candidates and verification see the same shingle space — the output
    * is the exact MinHash-LSH result over the capped sets. Default: no cap.
    *
    * `persist` materializes the multiply-consumed intermediates (the
    * shingle arrays, or the capped shingle rows, and the band keys);
    * `_.cache()` (default) for interactive / memory-resident runs,
    * `_.checkpoint()` or `_.localCheckpoint()` at production scale where
    * recomputing a 100 TB shingle explosion on executor loss is worse
    * than the disk write.
    */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, numSeeds: Int, rowsPerBand: Int,
                      maxShingleDF: Int = Int.MaxValue,
                      persist: DataFrame => DataFrame = _.cache()): DataFrame = {
    val arrays = shingleArrays(docs, idCol, textCol, shingleN)
    // uncapped, the arrays feed signatures (exploded) and verification;
    // capped, the capped rows do (regrouped into arrays for verification)
    val (sh, sets) =
      if (maxShingleDF == Int.MaxValue) {
        val sets = persist(arrays)
        (explodeShingles(sets), sets)
      } else {
        val sh0 = explodeShingles(arrays)
        val sh = persist(sh0.join(
          sh0.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
            .where(col("__df") <= maxShingleDF).select(col("shingle")),
          Seq("shingle"), "left_semi"))
        (sh, sh.groupBy(col("id")).agg(collect_list(col("shingle")).as("shingles")))
      }
    val banded = persist(minHashBandKeys(sh, numSeeds, rowsPerBand))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyCandidates(cands, sets)
  }

  /** Incremental MinHash-LSH near-dup for daily ingestion: find all pairs
    * that INVOLVE an incoming doc (incoming×base and incoming×incoming) —
    * base×base pairs are yesterday's output and are not recomputed.
    *
    * What stays cheap at 100 TB: only incoming text is shingled and
    * signed; the base corpus contributes through `baseSignatures` (the
    * persisted output of [[minHashSignatures]] — numSeeds small rows per
    * doc, no text). Base TEXT is touched only for docs that appear in a
    * candidate pair (semi-join before shingling into one array row per
    * doc), so verification cost scales with candidates, not corpus. With
    * `baseSignatures = None` the base signatures are computed inline
    * (first run / backfill). Pass `baseBands` (persisted [[bandKeys]]
    * output) to skip even the corpus-wide band aggregation — with stored
    * bands the base side is a pure scan, which is what makes the per-day
    * cost truly independent of corpus age (the contract
    * [[graft.streaming.StreamOps.nearDupSink]] relies on).
    *
    * Output: same schema and semantics as [[minHashNearDups]], restricted
    * to pairs with >= 1 incoming member; pairs are (id_a < id_b)
    * normalized regardless of which side is incoming.
    *
    * `incomingShingles` / `incomingBands`: a caller that ALSO stores the
    * incoming side's shingles or band keys (nearDupSink stores bands per
    * batch) can pass the frames it already built so the banding is
    * planned ONCE and shared with the caller's store write. Must be
    * exactly [[shingleSets]](incoming)/[[bandKeys]] output for the same
    * parameters, already persisted by the caller. Only the banding reads
    * them; verification shingles the candidates' text.
    */
  def minHashNearDupsIncremental(base: DataFrame, incoming: DataFrame,
                                 idCol: String, textCol: String,
                                 shingleN: Int, numSeeds: Int, rowsPerBand: Int,
                                 baseSignatures: Option[DataFrame] = None,
                                 baseBands: Option[DataFrame] = None,
                                 persist: DataFrame => DataFrame = _.cache(),
                                 incomingShingles: Option[DataFrame] = None,
                                 incomingBands: Option[DataFrame] = None): DataFrame = {
    // fused banding where the signatures aren't needed separately
    val incBands = incomingBands.getOrElse(persist(minHashBandKeys(
      incomingShingles.getOrElse(shingleSets(incoming, idCol, textCol, shingleN)),
      numSeeds, rowsPerBand)))
    val bBands = baseBands.getOrElse(baseSignatures match {
      case Some(sig) => bandKeys(sig, rowsPerBand)
      case None =>
        minHashBandKeys(shingleSets(base, idCol, textCol, shingleN), numSeeds, rowsPerBand)
    })
    val allBands = bBands.select(col("id"), col("band"), col("band_key")).union(incBands)
    val cands = persist(incBands.as("a").join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct())
    // verification shingles: one array row per doc in a candidate pair.
    // A doc id present in BOTH base and incoming (re-ingest) must
    // contribute exactly one version — the incoming text wins (it is the
    // current version), so base rows for incoming ids are anti-joined away.
    // No distinct() on either id list: both feed ONLY semi/anti joins,
    // which are set-membership tests.
    val candIds = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b").as("id")))
    val incIds = incoming.select(col(idCol).as("id"))
    val touchedBase = base
      .join(candIds, base(idCol) === candIds("id"), "left_semi")
      .join(incIds, col(idCol) === incIds("id"), "left_anti")
    val touchedInc = incoming.join(candIds, incoming(idCol) === candIds("id"), "left_semi")
    val sets = persist(shingleArrays(touchedBase, idCol, textCol, shingleN)
      .union(shingleArrays(touchedInc, idCol, textCol, shingleN)))
    verifyCandidates(cands, sets)
  }

  /** Word n-gram Jaccard near-dups scoped to a blocking column (e.g.
    * source): pairs only form inside a block, so the join is bounded by the
    * largest block, never the corpus square. Exact within the block.
    *
    * `maxShingleDF` caps shingle document frequency WITHIN a block: a
    * stop-shingle present in every doc of a block regenerates the block
    * square; capped shingles are dropped before the join and set sizes
    * are computed on the capped sets, so the output is the exact Jaccard
    * of the filtered shingle space (recall contract as in
    * [[jaccardPairs]]). Default: no cap.
    *
    * `persist` materializes the shingle set, which is consumed three times
    * (both self-join sides + sizes) — without it the scan+split+explode+
    * hash lineage recomputes per consumer. `_.cache()` default;
    * `_.checkpoint()` at production scale (contract as in
    * [[minHashNearDups]]).
    */
  def ngramNearDups(docs: DataFrame, idCol: String, textCol: String,
                    blockCol: String, n: Int, minJaccard: Double,
                    maxShingleDF: Int = Int.MaxValue,
                    persist: DataFrame => DataFrame = _.cache()): DataFrame = {
    // 64-bit shingle hash as the join key: 8-byte shuffle rows instead of
    // n-gram strings (collisions ~2^-64 per pair); words materialized
    // once (see shingleSets)
    val sh0 = docs.select(col(idCol).as("id"), col(blockCol).as("block"),
        TextFns.words(col(textCol)).as("__w"))
      .select(col("id"), col("block"),
        explode(array_distinct(TextFns.shinglesOfWords(col("__w"), n))).as("__shingle"))
      .select(col("id"), col("block"), xxhash64(col("__shingle")).as("shingle"))
    val sh = persist(
      if (maxShingleDF == Int.MaxValue) sh0
      else sh0.join(
        sh0.groupBy(col("block"), col("shingle")).agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxShingleDF).select(col("block"), col("shingle")),
        Seq("block", "shingle"), "left_semi"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.block") === col("b.block") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(sizes.withColumnRenamed("sz", "size_a").withColumnRenamed("id", "__ia"), col("id_a") === col("__ia"))
      .join(sizes.withColumnRenamed("sz", "size_b").withColumnRenamed("id", "__ib"), col("id_b") === col("__ib"))
      .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"), col("intersection"),
        Portable.q6(col("intersection") * lit(1.0) /
          (col("size_a") + col("size_b") - col("intersection"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** SimHash signature (1 <= nBits <= 64) over the distinct word set:
    * bit b of the signature is 1 iff sum over words of ±1 (per word-hash
    * bit b) is positive. Expressed with a bit-position explode so the whole
    * computation is two codegen'd aggregations.
    *
    * Word hash: md5-based for nBits <= 60 (engine-portable — the DuckDB
    * oracle reproduces it exactly; 15 hex chars = 60 uniform bits is
    * md5Long's signed-long ceiling, and ceil(nBits/4) hex chars cover any
    * smaller width exactly) and xxhash64 for 61..64 (full 64-bit entropy).
    * 60 bits is therefore the widest ORACLE-CHECKABLE signature — q76
    * gates it; its 15-bit pigeonhole chunks are within 2× of the 64-bit
    * path's bucket sparsity. Bit extraction uses `& 1` (mask, not `% 2` — the sign
    * bit of a negative xxhash64 value arithmetic-shifts to -1, and -1 % 2
    * = -1 would misread every set high bit). Assembly uses a bitwise-OR
    * aggregate, which cannot overflow: shiftleft(1L, 63) is Long.MinValue
    * and a SUM of it is sign-garbage, but OR-ing distinct powers of two is
    * exact for all 64 bit positions (and equals the old SUM construction
    * for nBits <= 32, so 16-bit oracle outputs are unchanged).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String, nBits: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 64, "simHash supports 1..64 bits")
    val wh: Column =
      if (nBits <= 60) HashFns.md5Long(col("word"), (nBits + 3) / 4)
      else xxhash64(col("word"))
    val wordHash = docs
      .select(col(idCol).as("id"), explode(array_distinct(TextFns.words(col(textCol)))).as("word"))
      .select(col("id"), wh.as("wh"))
    wordHash
      .select(col("id"), col("wh"), explode(sequence(lit(0), lit(nBits - 1))).as("b"))
      .withColumn("contrib", when(expr("shiftright(wh, b) & 1") === 1, 1).otherwise(-1))
      .groupBy(col("id"), col("b")).agg(sum(col("contrib")).as("s"))
      .groupBy(col("id"))
      .agg(expr(
        "bit_or(CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)")
        .as("simhash"))
  }

  /** SimHash near-dup pairs with pigeonhole blocking: signatures are split
    * into 4 chunks; pairs within hamming distance <= 3 must agree on at
    * least one chunk, so candidates only form inside a (chunk index,
    * chunk value) bucket — exact for maxHamming <= 3, never the corpus
    * square. Output: id_a, id_b, hamming.
    *
    * Bucket selectivity scales with chunk width: 16-bit signatures (4-bit
    * chunks, 16 values) collapse to huge buckets on a homogeneous corpus —
    * measured ×40 runtime at 10× corpus. Production default is 64 bits
    * (16-bit chunks, 65 536 values/chunk): use [[simHashNearDups64]].
    */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      nBits: Int, maxHamming: Int,
                      persist: DataFrame => DataFrame = _.cache()): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole blocking is exact only for maxHamming <= 3")
    require(nBits % 4 == 0, "nBits must be divisible into 4 chunks")
    val chunkBits = nBits / 4
    val mask = (1 << chunkBits) - 1
    // persisted: both sides of the bucket self-join read the signatures —
    // the handle outlives this call because the RETURNED lazy plan reads
    // it; same caller contract as `nearDupPairs` (clearCache between
    // queries, or pass identity to recompute the signature scan per side)
    val chunked = persist(simHash(docs, idCol, textCol, nBits)
      .select(col("id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("cv", expr(s"shiftright(simhash, c * $chunkBits) & $mask")))
    chunked.as("a").join(chunked.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(sig_a ^ sig_b) AS INT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Production-scale simhash near-dup: 64-bit xxhash64 signatures, whose
    * 16-bit pigeonhole chunks keep buckets sparse where 16-bit signatures
    * degenerate (the 10×-corpus measurement in SURVEY §4). Same exactness
    * contract (all pairs within maxHamming <= 3, no false negatives).
    */
  def simHashNearDups64(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame =
    simHashNearDups(docs, idCol, textCol, nBits = 64, maxHamming = maxHamming)

  /** Brute-force cosine top-k: exact baseline. `queries` is expected to be
    * small (it is broadcast); similarity is ranked on the ROUNDED score with
    * an id tiebreak so results are reproducible across engines.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    // norms are computed once per vector before the pair join, so per-pair
    // work is a single fused dot product.
    val q = queries.select(col(idCol).as("query_id"), VectorFns.asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", VectorFns.norm2(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), VectorFns.asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", VectorFns.norm2(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Portable.q6(VectorFns.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Brute-force squared-L2 top-k: the exact truth the ADC/PQ search
    * family approximates (ADC sums q6 SUBSPACE L2 cells, so the honest
    * recall denominator is the full-vector L2 ranking, not cosine —
    * auditing ADC against cosine truth would conflate metric mismatch
    * with quantization loss). Same scale shape as [[cosineTopK]]: the
    * probe panel broadcasts, per-pair work is one fused fold, the
    * per-query top-k plans as WindowGroupLimit. The distance is the q6
    * ORDERED fold of squared component deltas (the [[Quantize]] dist2
    * contract over the full vector) with an id tiebreak, so any engine
    * replays the ranking bit-for-bit; self-pairs are excluded.
    */
  def l2TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      VectorFns.asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      VectorFns.asDouble(col(vecCol)).as("cv"))
    val d2 = Portable.q6(aggregate(
      zip_with(col("qv"), col("cv"), (a: Column, b: Column) => (a - b) * (a - b)),
      lit(0.0), (acc: Column, y: Column) => acc + y))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), d2.as("l2_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Embedding near-dup pairs within a blocking key (exact within block). */
  def nearDupWithin(emb: DataFrame, idCol: String, vecCol: String,
                    blockCol: String, minCosine: Double): DataFrame = {
    val e = emb.select(col(blockCol).as("block"), col(idCol).as("id"),
        VectorFns.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorFns.norm2(col("v")))
    e.as("a").join(e.as("b"), col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.block").as("block"), col("a.id").as("id_a"), col("b.id").as("id_b"),
        Portable.q6(VectorFns.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** IVF (inverted-file) approximate top-k with deterministic seed
    * centroids (the `numCentroids` lowest-id corpus vectors). For trained
    * centroids, pass [[kMeansCentroids]] output to [[ivfTopKWith]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, numCentroids: Int, nProbe: Int): DataFrame = {
    val seeds = corpus
      .select(col(idCol).as("centroid_id"), VectorFns.asDouble(col(vecCol)).as("centv"))
      .orderBy(col("centroid_id").asc).limit(numCentroids)
    ivfTopKWith(queries, corpus, idCol, vecCol, k, nProbe, seeds)
  }

  /** IVF approximate top-k against a caller-supplied centroid table
    * (centroid_id, centv: array<double>): corpus vectors are
    * coarse-quantized to their nearest centroid; each query probes only
    * the `nProbe` nearest centroid lists, so scanned candidates shrink by
    * ~numCentroids/nProbe vs brute force. Centroids broadcast to both
    * sides; the only shuffle is the final per-query top-k window. Recall
    * < 1 by construction. All similarity comparisons (assignment argmax,
    * probe ranking, final top-k) rank on ROUNDED cosine with id
    * tiebreaks, so the result is reproducible across engines.
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbe: Int, centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("centroid_id"), col("centv"))
      .withColumn("centn", VectorFns.norm2(col("centv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), VectorFns.asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", VectorFns.norm2(col("cv")))
    // corpus → nearest centroid (inverted lists)
    val assigned = Dedup.oneByKey(
      c.crossJoin(broadcast(cents))
        .withColumn("sim",
          Portable.q6(VectorFns.dot(col("cv"), col("centv")) / (col("cn") * col("centn")))),
      Seq("neighbor_id"), Seq(col("sim").desc, col("centroid_id").asc))
      .select(col("neighbor_id"), col("cv"), col("cn"), col("centroid_id"))
    // query → nProbe nearest centroids
    val q = queries.select(col(idCol).as("query_id"), VectorFns.asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", VectorFns.norm2(col("qv")))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("sim",
        Portable.q6(VectorFns.dot(col("qv"), col("centv")) / (col("qn") * col("centn"))))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("centroid_id").asc)))
      .where(col("__pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("centroid_id"))
    val scored = probes.join(assigned, "centroid_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Portable.q6(VectorFns.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic Lloyd's k-means (cosine assignment, element-wise mean
    * update) for IVF centroid training. Seeds are the k lowest-id vectors;
    * each iteration assigns every vector to its nearest centroid (rounded
    * cosine, centroid-id tiebreak — fully deterministic) and recomputes
    * element-wise means. Per iteration the k × dim centroid table is
    * pulled to the driver and re-broadcast (bounded driver state — same
    * contract as the Incremental terminal-ts scalar), so the corpus is
    * scanned `iters` times and never shuffled by more than a k-row
    * aggregate. Returns (centroid_id, centv: array<double>).
    */
  def kMeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("vid"), VectorFns.asDouble(col(vecCol)).as("v"))
      .withColumn("vn", VectorFns.norm2(col("v")))
    // centroid_id stays the seed vector's id at its ORIGINAL width: a
    // cast("int") would wrap ids above 2^31 (or fail under ANSI mode) and
    // wrapped ids can collide, silently merging distinct seed centroids
    var cents = c.orderBy(col("vid").asc).limit(k)
      .select(col("vid").as("centroid_id"), col("v").as("centv"))
    for (_ <- 0 until iters) {
      val withN = cents.withColumn("centn", VectorFns.norm2(col("centv")))
      val assigned = Dedup.oneByKey(
        c.crossJoin(broadcast(withN))
          .withColumn("sim",
            Portable.q6(VectorFns.dot(col("v"), col("centv")) / (col("vn") * col("centn")))),
        Seq("vid"), Seq(col("sim").desc, col("centroid_id").asc))
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        // means are ROUNDED (1e-6) before becoming the next iteration's
        // centroids: raw double avg depends on summation order, so two
        // engines (or two partitionings) could diverge by an ulp and flip
        // a knife-edge assignment. Rounding makes the whole trained
        // pipeline replayable value-for-value — q75's oracle re-runs the
        // identical unrolled iterations in DuckDB.
        .groupBy(col("centroid_id"), col("pos")).agg(Portable.q6(avg(col("x"))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("centv"))
      // empty clusters keep their previous centroid (means has no row)
      val updated = cents.alias("c0").join(means.alias("m"), Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("m.centv"), col("c0.centv")).as("centv"))
      // k × dim doubles to the driver, re-planned as a literal table: keeps
      // the per-iteration lineage flat instead of k-deep
      // bounded: the k × dim centroid table
      val rows = updated.collect()
      import scala.jdk.CollectionConverters._
      cents = spark.createDataFrame(rows.toSeq.asJava, updated.schema)
    }
    cents.select(col("centroid_id"), col("centv"))
  }

  /** SemDeDup-style semantic deduplication: cluster the embedding space
    * with the trained k-means ([[kMeansCentroids]]), then search for
    * near-duplicates ONLY within each cluster and keep one representative
    * per duplicate pair (the lowest id). This is the embedding-space
    * answer to "the corpus says the same thing twice in different words"
    * — q29's `nearDupWithin` needs a metadata blocking key; here the
    * blocks are LEARNED, so semantically-close documents land together
    * regardless of labels.
    *
    * Scale shape (100 TB): assignment is one broadcast of k×dim doubles
    * over the corpus (no shuffle); the pair search shuffles once on
    * centroid_id and the pairwise cost is Σ sᵢ² over cluster sizes — the
    * whole point of cluster scoping vs the corpus square. Raise k to
    * shrink clusters; the q64 domain-cap shape bounds a runaway cluster.
    *
    * Drop rule (deterministic): a vector is dropped iff some LOWER-id
    * vector in its cluster has rounded cosine >= minCosine. Chained
    * near-dups collapse greedily toward the lowest id — the documented
    * SemDeDup approximation (a, b) + (b, c) keeps only `a` even when
    * (a, c) alone is below the bar.
    *
    * Output: (idCol, centroid_id, kept).
    */
  /** Assign every vector to its nearest centroid (rounded cosine,
    * centroid-id tiebreak) — the shared first step of [[semDedupWith]] /
    * [[ivfTopKWith]], exposed for cluster-scoped compositions
    * (cluster-balanced sampling, per-cluster audits). One broadcast of
    * the k×dim table; output (idCol, centroid_id).
    */
  def assignToCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame = {
    val c = emb.select(col(idCol), VectorFns.asDouble(col(vecCol)).as("__v"))
      .withColumn("__vn", VectorFns.norm2(col("__v")))
    val withN = centroids.withColumn("__cn", VectorFns.norm2(col("centv")))
    Dedup.oneByKey(
        c.crossJoin(broadcast(withN))
          .withColumn("__sim",
            Portable.q6(VectorFns.dot(col("__v"), col("centv")) /
              (col("__vn") * col("__cn")))),
        Seq(idCol), Seq(col("__sim").desc, col("centroid_id").asc))
      .select(col(idCol), col("centroid_id"))
  }

  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, minCosine: Double): DataFrame =
    semDedupWith(emb, idCol, vecCol,
      kMeansCentroids(emb, idCol, vecCol, k, iters), minCosine)

  /** [[semDedup]] against pre-trained centroids (centroid_id, centv). */
  def semDedupWith(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, minCosine: Double): DataFrame = {
    val c = emb.select(col(idCol).as("vid"), VectorFns.asDouble(col(vecCol)).as("v"))
      .withColumn("vn", VectorFns.norm2(col("v")))
    val withN = centroids.withColumn("centn", VectorFns.norm2(col("centv")))
    val assigned = Dedup.oneByKey(
        c.crossJoin(broadcast(withN))
          .withColumn("sim",
            Portable.q6(VectorFns.dot(col("v"), col("centv")) / (col("vn") * col("centn")))),
        Seq("vid"), Seq(col("sim").desc, col("centroid_id").asc))
      .select(col("vid"), col("v"), col("vn"), col("centroid_id"))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") && col("a.vid") < col("b.vid"))
      .where(Portable.q6(VectorFns.dot(col("a.v"), col("b.v")) /
        (col("a.vn") * col("b.vn"))) >= minCosine)
      .select(col("b.vid").as("vid")).distinct()
    assigned.join(dropped.withColumn("__dup", lit(true)), Seq("vid"), "left")
      .select(col("vid").as(idCol), col("centroid_id"),
        not(coalesce(col("__dup"), lit(false))).as("kept"))
  }

  /** [[semDedupWith]] at the 100-TB shape (r12, closing the r11 verdict's
    * "last unconditioned pair join"): the near-dup search runs within
    * (centroid_id, srp-bucket) SUB-blocks instead of the full
    * within-cluster square — a hot cluster of s docs costs
    * Σ_buckets bᵢ² pair work instead of s², the same fix [[nearDupSRP]]
    * (q142) applied to q29's within-label square. Recall < 1 by
    * construction (a near-dup pair split across srp buckets is never
    * compared — SemDedupSpec pins dropped ⊆ [[semDedupWith]]'s dropped);
    * raise `srpBits` toward 0 extra buckets to recover [[semDedupWith]]
    * exactly. Buckets reuse the q142 "srp-v1" deterministic ±1 sign
    * projections, so a DuckDB oracle replays them verbatim. Output is
    * TOTAL like [[semDedupWith]] — every input id gets a verdict — which
    * is why empty vectors are REJECTED up front rather than filtered:
    * an empty vector has no cosine to any candidate, and Spark would
    * otherwise pass its NaN through `>= minCosine` while an oracle's
    * term expansion omits it (the [[nearDupSRP]] ADVICE-r11 class).
    */
  def semDedupSRP(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, minCosine: Double,
                  srpBits: Int): DataFrame = {
    // bounded: 1-row (min, max) dimension scalar — max sizes the
    // driver-literal srp sign matrix, min rejects empty vectors (null
    // aggregate = empty input, folded into the same require)
    val dims = emb.agg(min(size(col(vecCol))), max(size(col(vecCol)))).head()
    val minDim = Option(dims.get(0)).map(_.asInstanceOf[Int]).getOrElse(0)
    val dim = Option(dims.get(1)).map(_.asInstanceOf[Int]).getOrElse(0)
    require(minDim >= 1 && dim >= 1,
      "semDedupSRP needs non-empty vectors (an empty vector has no cosine)")
    val c = emb.select(col(idCol).as("vid"), VectorFns.asDouble(col(vecCol)).as("v"))
      .withColumn("vn", VectorFns.norm2(col("v")))
      .withColumn("bucket", VectorFns.srpBucket(col("v"), srpBits, "srp-v1", dim))
    val withN = centroids.withColumn("centn", VectorFns.norm2(col("centv")))
    val assigned = Dedup.oneByKey(
        c.crossJoin(broadcast(withN))
          .withColumn("sim",
            Portable.q6(VectorFns.dot(col("v"), col("centv")) / (col("vn") * col("centn")))),
        Seq("vid"), Seq(col("sim").desc, col("centroid_id").asc))
      .select(col("vid"), col("v"), col("vn"), col("centroid_id"), col("bucket"))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .where(Portable.q6(VectorFns.dot(col("a.v"), col("b.v")) /
        (col("a.vn") * col("b.vn"))) >= minCosine)
      .select(col("b.vid").as("vid")).distinct()
    assigned.join(dropped.withColumn("__dup", lit(true)), Seq("vid"), "left")
      .select(col("vid").as(idCol), col("centroid_id"),
        not(coalesce(col("__dup"), lit(false))).as("kept"))
  }

  /** Scale path for near-dup: SRP-bucket first (candidates only within the
    * same (block, srp) bucket). Recall < 1 by construction; used when the
    * exact within-block square is too large.
    */
  def nearDupSRP(emb: DataFrame, idCol: String, vecCol: String, blockCol: String,
                 minCosine: Double, srpBits: Int): DataFrame = {
    // bounded: 1-row max-dimension scalar (the Quantize contract) — sizes
    // the driver-literal srp sign matrix so no row zips past it. Read
    // null-safely: on empty input (or all-null vectors) max() is NULL and
    // a bare getInt would NPE before the contract message fired (ADVICE
    // r11) — fold the null into the require instead.
    val dim = Option(emb.agg(max(size(col(vecCol)))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    require(dim >= 1, "nearDupSRP needs non-empty vectors")
    // zero-length vectors are EXCLUDED, mirroring the oracle exactly: its
    // terms CTE has no row for an empty v, so the vector never reaches
    // buck and the inner join drops it — while Spark's srpBucket would
    // fold the empty zip to proj=0 → bucket 0 and the pair's NaN cosine
    // would PASS `>= minCosine` (Spark orders NaN above all doubles).
    // A pair with an empty side has no defined cosine; dropping it is the
    // only cross-engine-stable semantics (ADVICE r11).
    val e = emb.where(size(col(vecCol)) >= 1)
      .select(col(blockCol).as("block"), col(idCol).as("id"),
        VectorFns.asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", VectorFns.srpBucket(col("v"), srpBits, "srp-v1", dim))
      .withColumn("nrm", VectorFns.norm2(col("v")))
    e.as("a").join(e.as("b"),
        col("a.block") === col("b.block") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.block").as("block"), col("a.id").as("id_a"), col("b.id").as("id_b"),
        Portable.q6(VectorFns.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
