package graft.operators

import graft.functions.{Portable, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the embedding-compression
  * step between curation and ANN serving: split each vector into
  * `nSub` subvectors, snap each to its nearest code in a per-subspace
  * codebook, and store only the code ids. A 64-dim float vector
  * becomes `nSub` small integers — at 100 TB of embeddings that is the
  * difference between shuffling/broadcasting vectors and shuffling
  * bytes, and asymmetric-distance ANN then scans codes, not floats.
  * q63's scalar int8 quantization shrinks each COMPONENT independently;
  * PQ shrinks whole SUBSPACES against learned/seeded prototypes, which
  * is what real ANN deployments (IVF-PQ) pair with the q41/q75 IVF
  * routing.
  *
  * Scale shape: the codebook is (nSub × nCodes) rows and broadcasts;
  * encoding is one explode to (vector, subspace) rows, a broadcast
  * join, a per-(vector, subspace) argmin, and one gather shuffle back
  * to vector grain — linear in vectors, nothing pairwise.
  *
  * Determinism (SURVEY §5): subvector distances quantize to q6 before
  * the argmin; ties break on the lower code id; the reconstruction
  * error is the exact-integer-grid sum of the chosen (already
  * q6-quantized, hence exactly grid-valued) distances — order-free
  * longs, map-side combinable (r10; the only remaining per-vector
  * buffer is the nSub-bounded code-string gather, which is a SEQUENCE
  * and cannot be a sum). The DuckDB oracle replays every distance and
  * pick. Codebooks here are SEEDED (the q41 convention —
  * lowest-id vectors are the prototypes) so the oracle can replay
  * codebook construction too; a trained codebook drops in through the
  * same frame shape via [[Similarity.kMeansCentroids]] per subspace.
  */
object Quantize {

  /** (sub, code, cent) rows from the `nCodes` lowest-id vectors
    * ([[Similarity.seedCentroids]]) — the seed of 0-based id rank `r`
    * gives code `r`, its j-th subvector subspace j's cell.
    */
  def seededCodebook(emb: DataFrame, idCol: String, vecCol: String,
                     nSub: Int, nCodes: Int): DataFrame = {
    val seeds = Similarity.seedCentroids(emb, idCol, vecCol, nCodes)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("centroid_id"))) - 1).cast("int"))
    slices(seeds, "code", "centv", nSub, "seededCodebook")
      .select(col("sub"), col("code"), col("subvec").as("cent"))
  }

  /** (idCol, sub, subvec) rows: each vector split into `nSub` equal
    * slices (dimension must divide evenly — checked via one bounded
    * scalar aggregate, [[VectorFns.dims]]).
    */
  def subVectors(emb: DataFrame, idCol: String, vecCol: String,
                 nSub: Int): DataFrame =
    slices(emb, idCol, vecCol, nSub, "subVectors")

  /** [[subVectors]], failing in the name of the operator `op` that asked. */
  private def slices(emb: DataFrame, idCol: String, vecCol: String,
                    nSub: Int, op: String): DataFrame = {
    require(nSub >= 1, "nSub must be >= 1")
    val (shortest, inDim) = VectorFns.dims(emb, vecCol, op)
    require(inDim == shortest && inDim % nSub == 0,
      s"$op: vectors must share one dimension divisible by $nSub (saw $shortest..$inDim)")
    val subDim = inDim / nSub
    emb.select(col(idCol), VectorFns.asDouble(col(vecCol)).as("__v"))
      .select(col(idCol), posexplode(transform(sequence(lit(0), lit(nSub - 1)),
        (j: Column) => slice(col("__v"), j * subDim + 1, lit(subDim)))))
      .select(col(idCol), col("pos").cast("int").as("sub"), col("col").as("subvec"))
  }

  /** ADC (asymmetric distance computation) top-k over stored PQ codes —
    * the SEARCH half of IVF-PQ serving ([[pqEncode]] is the build half):
    * each query precomputes one q6 subspace distance to every codebook
    * cell, and a corpus vector's approximate distance is then the EXACT
    * integer-grid sum of the `nSub` cells its stored codes name. The
    * corpus side never touches floats or vectors — it scans the code
    * strings it stored at encode time, which is the point at 100 TB:
    * the embedding fleet stays on disk, the scan reads `nSub` small
    * integers per row.
    *
    * Scale shape: the LUT is (nQueries × nSub × nCodes) q6 doubles —
    * all caller constants — folded into the projection as a LITERAL
    * per-query array (the [[Projection]] broadcast-into-codegen move),
    * so scoring is a zero-shuffle codegen'd projection over the code
    * table; the only shuffle is the per-query top-k, and that plans as
    * WindowGroupLimit (map-side partial limits, ≤ nQueries·k rows per
    * partition survive the exchange).
    *
    * Determinism: each LUT cell is the q6 ordered-fold distance (the
    * [[pqEncode]] dist2 contract, so an engine replays it bit-for-bit);
    * cells are exactly grid-valued, so the per-row sum over longs is
    * EXACT; ties rank on (adc_dist asc, id asc). A stored code string
    * that does not parse to exactly `nSub` in-range codes FAILS THE JOB
    * LOUDLY in every deployment mode: each row's parsed codes are
    * validated ([[codesValid]] — exact arity, every code in
    * [0, nCodes)) before any LUT read, and an invalid row raises
    * instead of scoring. The explicit check exists because ANSI alone
    * does not cover every corruption shape (ADVICE r12): a NEGATIVE
    * code in subspace j >= 1 lands on another subspace's in-bounds LUT
    * cell, and a code string with MORE than nSub parts silently
    * truncates — both would have scored and ranked. With ANSI off a
    * non-numeric part parses to NULL and the same validity gate raises
    * on it, so no deployment flag turns storage corruption into a
    * silent rank-1 neighbor ([[pqEncode]]-produced codes never trip
    * the gate).
    */
  def adcTopK(codes: DataFrame, idCol: String, codesCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              codebook: DataFrame, nSub: Int, nCodes: Int, k: Int,
              excludeSelf: Boolean = false): DataFrame = {
    require(nCodes >= 1 && k >= 1, "adcTopK needs nCodes >= 1 and k >= 1")
    val perQuery = adcLut(queries, qidCol, qvecCol, codebook, nSub, nCodes).map {
      case (q, arr) =>
        val lutLit = array(arr.toSeq.map(lit): _*)
        struct(lit(q).as("query_id"),
          adcDist(nSub, nCodes, cell => element_at(lutLit, cell + 1)).as("adc_dist"))
    }
    val scored = codes
      .select(col(idCol).cast("long").as("neighbor_id"),
        checkedCodes(codesCol, nSub, nCodes).as("__codes"))
      .select(col("neighbor_id"), explode(array(perQuery: _*)).as("s"))
      .select(col("s.query_id"), col("neighbor_id"), col("s.adc_dist"))
    adcRank(scored, excludeSelf, k)
  }

  /** The ADC distance of a row whose parsed codes are in `__codes`: the
    * exact integer-grid sum over subspaces j of the LUT cell
    * `cell(j * nCodes + code_j)` (a 0-based index into one query's
    * nSub × nCodes table). Each cell is q6-grid-valued, so the long sum
    * is EXACT in any order (class doc).
    */
  private def adcDist(nSub: Int, nCodes: Int, cell: Column => Column): Column = {
    val gridSum = aggregate(
      sequence(lit(0), lit(nSub - 1)),
      lit(0L),
      (acc: Column, j: Column) => acc +
        Portable.toGrid(cell(j * nCodes + element_at(col("__codes"), j + 1)), 6))
    Portable.q6(Portable.fromGrid(gridSum, 6))
  }

  /** The tail every ADC search shares: drop self-pairs if asked, drop
    * null distances (defense in depth — corruption already raises in
    * [[checkedCodes]], and a NULLS FIRST null would rank 1), and keep
    * each query's top `k` by (adc_dist asc, neighbor_id asc).
    */
  private def adcRank(scored: DataFrame, excludeSelf: Boolean, k: Int): DataFrame = {
    val candidates =
      if (excludeSelf) scored.where(col("neighbor_id") =!= col("query_id"))
      else scored
    Rankings.topKPerGroup(candidates.where(col("adc_dist").isNotNull),
      Seq("query_id"), Seq(col("adc_dist").asc, col("neighbor_id").asc), k, "rnk")
  }

  /** ADC over the codes of probed lists — the scoring half of
    * [[ivfAdcTopK]] and [[ivfAdcResidualTopK]]. `probes` maps each
    * list (`listCol`) to its (query_id, `lutKey`) rows; `lut` holds one
    * table per `lutKey` value. The candidate cut is ONE broadcast join
    * of the code table against `probes`, so rows of unprobed lists are
    * dropped before any scoring; scoring reads the tables through one
    * literal map keyed by lutKey × cells + cell (map-shaped because the
    * key is a COLUMN after the probe join), still a codegen'd
    * projection.
    */
  private def routedAdc(codes: DataFrame, idCol: String, codesCol: String,
                        listCol: String, probes: DataFrame, lutKey: String,
                        lut: Seq[(Long, Array[Double])], nSub: Int, nCodes: Int,
                        k: Int, excludeSelf: Boolean): DataFrame = {
    val cells = nSub * nCodes
    val lutMap = map_from_arrays(
      array(lut.flatMap { case (key, arr) =>
        arr.indices.map(i => lit(key * cells + i)) }: _*),
      array(lut.flatMap(_._2.toSeq).map(lit): _*))
    val scored = codes
      .select(col(idCol).cast("long").as("neighbor_id"), col(listCol),
        checkedCodes(codesCol, nSub, nCodes).as("__codes"))
      .join(broadcast(probes), Seq(listCol))
      .select(col("query_id"), col("neighbor_id"),
        adcDist(nSub, nCodes, cell => element_at(lutMap, col(lutKey) * cells + cell))
          .as("adc_dist"))
    adcRank(scored, excludeSelf, k)
  }

  /** Hard cap on literal-LUT cells (nQueries × nSub × nCodes): the LUT
    * is folded into the projection as per-query literal arrays (the
    * broadcast-into-codegen move), and past a few hundred thousand
    * literals the PLAN itself — analysis, codegen, task binaries —
    * becomes the bottleneck. 2^18 cells ≈ 2 MB of double literals keeps
    * the plan comfortably inside codegen limits while allowing e.g. a
    * 2048-probe panel at the 8×16 book. A larger panel must either
    * split into chunks or score through a broadcast-JOINed LUT table
    * (one extra shuffle-free join) instead of literals — failing loudly
    * here beats minutes of silent driver planning at 100 TB.
    */
  private[operators] val MaxLutCells: Long = 1L << 18

  /** Coarse probe routing shared by [[ivfAdcTopK]] and
    * [[ivfAdcResidualTopK]] (and gated by both of their driver rows):
    * each query's `nProbe` nearest centroids
    * ([[Similarity.nearestCentroids]]). Emits (query_id, centroid_id, __qv, centv) so
    * the raw-code caller can project the list keys and the residual
    * caller can subtract centv from __qv — the two routed searches
    * share routing code exactly the way their oracles share
    * IvfRouteCte.
    */
  private def probeRoutes(queries: DataFrame, qidCol: String, qvecCol: String,
                          centroids: DataFrame, nProbe: Int): DataFrame =
    Similarity.nearestCentroids(
        queries.select(col(qidCol).cast("long").as("query_id"),
            VectorFns.asDouble(col(qvecCol)).as("__qv"))
          .withColumn("__qn", VectorFns.norm2(col("__qv"))),
        "query_id", "__qv", "__qn", centroids, nProbe)
      .select(col("query_id"), col("centroid_id"), col("__qv"), col("centv"))

  /** The per-query ADC lookup table ([[adcTopK]] / [[ivfAdcTopK]]'s
    * shared precompute): one q6 ordered-fold distance per (query,
    * subspace, code) cell, pulled to the driver and re-emitted as
    * literals.
    */
  private def adcLut(queries: DataFrame, qidCol: String, qvecCol: String,
                     codebook: DataFrame, nSub: Int,
                     nCodes: Int): Seq[(Long, Array[Double])] = {
    // bounded: 1-row probe-panel census, guarding the literal-plan
    // budget BEFORE the LUT is computed or collected (class doc on
    // MaxLutCells) — nQueries is the one factor not a caller constant
    val nQ = queries.count()
    require(nQ * nSub * nCodes <= MaxLutCells,
      s"ADC: LUT would hold ${nQ * nSub * nCodes} literal cells " +
        s"($nQ queries × $nSub × $nCodes > $MaxLutCells) — the literal-LUT " +
        "plan would bloat codegen; chunk the probe panel or score through " +
        "a broadcast-joined LUT table instead")
    // bounded: nQueries × nSub × nCodes rows, capped above — the fixed
    // LUT ADC exists to precompute
    val lutRows = subVectors(queries, qidCol, qvecCol, nSub)
      .join(broadcast(codebook), Seq("sub"))
      .select(col(qidCol).cast("long").as("qid"), col("sub"), col("code"), VectorFns.dist2(col("subvec"), col("cent")).as("qd"))
      .collect()
    require(lutRows.nonEmpty, "ADC: empty query set")
    // a dim-mismatched codebook makes zip_with pad the short side with
    // nulls and the fold go NULL — unboxed that would read as a silent
    // 0.0 distance and the garbage cell would WIN every argmin/rank,
    // so a null cell must abort here instead
    require(lutRows.forall(!_.isNullAt(3)),
      "ADC: null LUT cell — codebook cent width must equal the query subvector width")
    lutRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (q, rows) =>
      val arr = new Array[Double](nSub * nCodes)
      // DISTINCT-cell accounting per query (ADVICE r12): the old raw
      // row-count check let a duplicate (sub, code) row cancel against
      // a missing cell — the duplicate overwrote one slot twice and the
      // hole kept its 0.0 default, a silently-winning distance. A
      // seen-set catches both shapes independently (a duplicate QUERY
      // id folds into this group and trips the duplicate-cell check).
      val seen = new java.util.BitSet(nSub * nCodes)
      rows.foreach { r =>
        val (s, c) = (r.getAs[Int]("sub"), r.getAs[Int]("code"))
        require(s >= 0 && s < nSub && c >= 0 && c < nCodes,
          s"ADC: codebook cell ($s,$c) outside nSub=$nSub × nCodes=$nCodes")
        val idx = s * nCodes + c
        require(!seen.get(idx),
          s"ADC: duplicate codebook cell ($s,$c) for query $q — " +
            "duplicate (sub, code) rows or a duplicate query id")
        seen.set(idx)
        arr(idx) = r.getAs[Double]("qd")
      }
      require(seen.cardinality() == nSub * nCodes,
        s"ADC: incomplete codebook for query $q — " +
          s"${nSub * nCodes - seen.cardinality()} of ${nSub * nCodes} cells missing")
      q -> arr
    }
  }

  /** The stored '_'-joined code string parsed back to int codes. */
  private def parsedCodes(codesCol: String): Column =
    transform(split(col(codesCol), "_"), (c: Column) => c.cast("int"))

  /** [[parsedCodes]] gated by the corruption contract (class doc):
    * exactly `nSub` parsed codes, every one in [0, nCodes). Any other
    * shape RAISES before a LUT cell is read — it never scores and never
    * ranks, regardless of the ANSI flag. The explicit gate exists
    * because ANSI bounds-checking alone misses two shapes (ADVICE r12):
    * a negative code in subspace j >= 1 lands on another subspace's
    * in-bounds cell, and an over-long code string silently truncates to
    * its first nSub codes.
    */
  private def checkedCodes(codesCol: String, nSub: Int, nCodes: Int): Column = {
    val arr = parsedCodes(codesCol)
    val ok = size(arr) === nSub &&
      forall(arr, c => c.isNotNull && c >= 0 && c < nCodes)
    when(ok, arr).otherwise(raise_error(concat(
      lit(s"ADC: unscorable code string (need exactly $nSub codes in [0, $nCodes)): '"),
      col(codesCol), lit("'"))))
  }

  /** IVF-routed ADC top-k — the composed IVF-PQ index ([[adcTopK]]
    * restricted to each query's probed inverted lists): queries rank
    * the coarse `centroids` by q6 cosine and probe the `nProbe`
    * nearest; only corpus codes whose stored list assignment
    * (`listCol`, built once at index time via
    * [[Similarity.assignToCentroids]] and stored WITH the codes — the
    * on-disk layout of a real IVF-PQ index, list-partitionable for
    * scan pruning) falls in a probed list are ADC-scored. Recall < 1
    * by construction (a true neighbor in an unprobed list is never
    * scored); `nProbe` = number of lists recovers [[adcTopK]] exactly.
    *
    * Scale shape: probe routing is a (queries × nCentroids) broadcast
    * cross with a per-query WindowGroupLimit — both caller constants;
    * the candidate cut is ONE broadcast semi-cross join of the code
    * table against the (nQueries × nProbe)-row probe frame, so corpus
    * rows in unprobed lists are dropped before any scoring; scoring
    * reads a literal (query, cell)-keyed LUT map ([[routedAdc]]),
    * still a codegen'd projection with an exact integer-grid sum. The
    * only data-sized shuffle is the final per-query top-k.
    */
  def ivfAdcTopK(codes: DataFrame, idCol: String, codesCol: String,
                 listCol: String, queries: DataFrame, qidCol: String,
                 qvecCol: String, centroids: DataFrame, codebook: DataFrame,
                 nSub: Int, nCodes: Int, nProbe: Int, k: Int,
                 excludeSelf: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nCodes >= 1 && k >= 1,
      "ivfAdcTopK needs nProbe >= 1, nCodes >= 1 and k >= 1")
    val lut = adcLut(queries, qidCol, qvecCol, codebook, nSub, nCodes)
    val probes = probeRoutes(queries, qidCol, qvecCol, centroids, nProbe)
      .select(col("query_id"), col("centroid_id").as(listCol))
    routedAdc(codes, idCol, codesCol, listCol, probes, "query_id", lut,
      nSub, nCodes, k, excludeSelf)
  }

  /** Residual frame for IVF-PQ residual encoding (Jégou et al. 2011
    * §III — the form FAISS's IVFPQ deploys): each vector minus its
    * assigned coarse centroid, emitted as (idCol, listCol, `rvec`).
    * The deployed rationale — residuals of a clustered corpus are
    * small shared jitters the same codebook budget quantizes with
    * less error — is GEOMETRY-DEPENDENT: with seeded (untrained)
    * codebooks on the near-uniform synthetic driver fixture the
    * inequality measurably reverses (raw total recon_err 376.2 vs
    * residual 604.7 at sf0.001), so callers should choose raw vs
    * residual by their data's measured recon_err, not by default;
    * the search semantics are exact either way (spec pins a
    * coarse-centroid neighbor — residual exactly 0 — scoring its
    * TRUE distance). One equi-join with the list
    * assignment and one broadcast of the centroid table; the subtract
    * is exact IEEE arithmetic, identical in any engine, so the
    * downstream q6 encode replay contract is unchanged.
    */
  def residuals(emb: DataFrame, idCol: String, vecCol: String,
                lists: DataFrame, listCol: String,
                centroids: DataFrame): DataFrame =
    emb.select(col(idCol), VectorFns.asDouble(col(vecCol)).as("__v"))
      .join(lists.select(col(idCol), col(listCol)), Seq(idCol))
      .join(broadcast(centroids.select(col("centroid_id").as(listCol), col("centv"))),
        Seq(listCol))
      .select(col(idCol), col(listCol),
        zip_with(col("__v"), col("centv"), (a: Column, b: Column) => a - b).as("rvec"))

  /** IVF-PQ residual search — [[ivfAdcTopK]] over RESIDUAL codes: the
    * corpus stores PQ codes of (vector − its coarse centroid), so a
    * query's LUT depends on WHICH list it probes (the query residual
    * differs per list). One LUT per (query, probed list) — still
    * nQueries × nProbe × nSub × nCodes q6 cells, all caller constants,
    * folded into the projection as a literal map keyed by a dense
    * (query, list) probe index that rides the broadcast probe join.
    * Same candidate cut, exact-grid sum, null-code guard, and
    * (dist asc, id asc) rank as [[ivfAdcTopK]]; same recall dial.
    */
  def ivfAdcResidualTopK(codes: DataFrame, idCol: String, codesCol: String,
                         listCol: String, queries: DataFrame, qidCol: String,
                         qvecCol: String, centroids: DataFrame,
                         resCodebook: DataFrame, nSub: Int, nCodes: Int,
                         nProbe: Int, k: Int,
                         excludeSelf: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nCodes >= 1 && k >= 1,
      "ivfAdcResidualTopK needs nProbe >= 1, nCodes >= 1 and k >= 1")
    val spark = codes.sparkSession
    val probes = probeRoutes(queries, qidCol, qvecCol, centroids, nProbe)
      .select(col("query_id"), col("centroid_id"),
        zip_with(col("__qv"), col("centv"), (a: Column, b: Column) => a - b)
          .as("__rq"))
    // bounded: nQueries × nProbe rows — the probe table IS the LUT key
    // space; a dense index per (query, list) keys the literal map below
    val probeRows = probes.collect().zipWithIndex
    require(probeRows.nonEmpty, "ivfAdcResidualTopK: empty probe set")
    import scala.jdk.CollectionConverters._
    val probeIdx = spark.createDataFrame(
      probeRows.map { case (r, i) =>
        org.apache.spark.sql.Row(r.getLong(0), r.get(1), i.toLong)
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        probes.schema("centroid_id").copy(name = listCol),
        org.apache.spark.sql.types.StructField("__ql",
          org.apache.spark.sql.types.LongType))))
    val qres = spark.createDataFrame(
      probeRows.map { case (r, i) =>
        org.apache.spark.sql.Row(i.toLong, r.getSeq[Double](2))
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__ql",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__rqv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val lut = adcLut(qres, "__ql", "__rqv", resCodebook, nSub, nCodes)
    routedAdc(codes, idCol, codesCol, listCol, probeIdx, "__ql", lut,
      nSub, nCodes, k, excludeSelf)
  }

  /** ADC-shortlist + EXACT-refine top-k — the serving cascade's last
    * step (Jégou et al. 2011 §V-D's reranking; FAISS's IndexRefineFlat):
    * the cheap [[adcTopK]] scan bounds a candidate shortlist (`kShort`
    * per query), the TRUE squared-L2 distance is computed for shortlist
    * members ONLY, and the final top-k ranks on it. Exact-distance work
    * is O(nQueries × kShort) — never corpus-sized — the q128
    * BM25→dense cascade move, quantization edition: recall recovers
    * wherever quantization error reordered true neighbors WITHIN the
    * shortlist, at a cost the caller bounds.
    *
    * Scale shape: the shortlist (nQueries × kShort rows, caller
    * constants) broadcasts into an equi-join against the embedding
    * table, so candidate vectors are fetched without a data-sized
    * shuffle; the query panel broadcasts the same way; the only
    * remaining shuffle is the final (panel-bounded) top-k.
    *
    * Determinism: the refine distance is the q6 ORDERED full-vector
    * fold (the [[Similarity.l2TopK]] contract) with (dist asc, id asc)
    * ranking, so the refined list replays bit-for-bit.
    */
  def adcRefineTopK(codes: DataFrame, idCol: String, codesCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String,
                    emb: DataFrame, evecCol: String,
                    codebook: DataFrame, nSub: Int, nCodes: Int,
                    kShort: Int, k: Int,
                    excludeSelf: Boolean = false): DataFrame = {
    require(kShort >= k && k >= 1, "adcRefineTopK needs kShort >= k >= 1")
    val shortlist = adcTopK(codes, idCol, codesCol, queries, qidCol, qvecCol,
        codebook, nSub, nCodes, kShort, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      VectorFns.asDouble(col(qvecCol)).as("__qv"))
    val c = emb.select(col(idCol).cast("long").as("neighbor_id"),
      VectorFns.asDouble(col(evecCol)).as("__cv"))
    val refined = c.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFns.dist2(col("__qv"), col("__cv")).as("l2_dist"))
    Rankings.topKPerGroup(refined, Seq("query_id"),
      Seq(col("l2_dist").asc, col("neighbor_id").asc), k, "rnk")
  }

  /** Deterministic Lloyd training of the per-subspace PQ codebooks —
    * the step between [[seededCodebook]] and production IVF-PQ, and
    * the Quantize twin of [[Similarity.kMeansCentroids]] (same
    * conventions: seeds = the nCodes lowest-id vectors, 1e-6-rounded
    * elementwise means so the trained trajectory replays
    * value-for-value in any engine, empty cells keeping their previous
    * code, the per-iteration codebook pulled to the driver and
    * re-planned as a literal table). All `nSub` subspaces train
    * BATCHED (the q141 one-vs-rest move): each iteration is ONE argmin
    * assignment over (vector, subspace) rows and ONE per-(sub, code,
    * pos) mean aggregate carrying every subspace side by side, so
    * corpus passes per iteration are O(1) in nSub. Assignment ranks
    * the same q6 subspace distance [[pqEncode]] picks by (code
    * tiebreak), so encoding against the result is exactly the
    * deployed path.
    */
  def trainCodebook(emb: DataFrame, idCol: String, vecCol: String,
                    nSub: Int, nCodes: Int, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val sv = slices(emb, idCol, vecCol, nSub, "trainCodebook")
    var cb = seededCodebook(emb, idCol, vecCol, nSub, nCodes)
    for (_ <- 0 until iters)
      cb = Similarity.lloydStep(cb, nearestCodes(sv, idCol, cb),
        Seq("sub", "code"), "subvec", "cent")
    cb
  }

  /** Each (idCol, sub) subvector of `sv` ([[subVectors]] rows) with its
    * nearest `codebook` cell (sub, code, cent) and that cell's q6
    * squared-L2 distance `dist2`, ties to the lower code: the one encode
    * rule [[pqEncode]] stores and [[trainCodebook]] trains by.
    */
  private def nearestCodes(sv: DataFrame, idCol: String, codebook: DataFrame): DataFrame =
    Dedup.oneByKey(
      sv.join(broadcast(codebook), Seq("sub"))
        .withColumn("dist2", VectorFns.dist2(col("subvec"), col("cent"))),
      Seq(idCol, "sub"), Seq(col("dist2").asc, col("code").asc))

  /** Encode every vector against `codebook` (sub, code, cent): output
    * (idCol, codes — "_"-joined code string in subspace order,
    * recon_err — q6 exact-integer-grid sum of the chosen subspace
    * distances; each dist2 is already q6-grid-valued, so the long sum
    * is EXACT, not merely deterministic).
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String, nSub: Int,
               codebook: DataFrame): DataFrame =
    nearestCodes(slices(emb, idCol, vecCol, nSub, "pqEncode"), idCol, codebook)
      .groupBy(col(idCol))
      .agg(
        // the code STRING is a sequence — subspace order is its
        // semantics, so this (nSub-bounded) gather cannot be a sum
        array_sort(collect_list(struct(col("sub"), col("code")))).as("__picks"),
        // dist2 is q6-grid-valued, so the long sum is exact (class doc)
        sum(Portable.toGrid(col("dist2"), 6)).as("__qerr"))
      .select(col(idCol),
        array_join(transform(col("__picks"),
          (x: Column) => x.getField("code").cast("string")), "_").as("codes"),
        Portable.q6(Portable.fromGrid(col("__qerr"), 6)).as("recon_err"))
}
