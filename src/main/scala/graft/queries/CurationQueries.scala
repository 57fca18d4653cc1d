package graft.queries

import graft.Caches
import graft.functions.Portable
import graft.operators.{Classifier, Cleaning, Drift, Quantize, Sampling}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 curation surface (SURVEY §2 rows 122-132): the data-curation
  * stages between raw corpus and trainer that the earlier LLM rows
  * don't cover — structural cleaning (C4 line rules), epoch
  * shuffle/shard layout, LEARNED quality scoring (hashed-feature
  * logistic regression, the fastText/DCLM pattern), product-quantized
  * embedding compression, distribution-drift monitoring, trained-BPE
  * corpus encoding, hybrid retrieval, DSIR importance resampling,
  * span-scrub rewriting, curriculum ordering, and disclosure-controlled
  * stats release.
  *
  * Portability contract unchanged (SURVEY §5): md5 coins, exact
  * integer intermediate state wherever a sum crosses rows, ordered
  * folds where floats must accumulate, q6 quantization on every float
  * output; trained paths unroll their full trajectory in the oracle
  * (the q75/q109/q116 construction).
  */
object CurationQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q122_line_clean" -> { (s, d) =>
      // C4-style structural cleaning: synthesize 12-word lines (the
      // corpus has no hard breaks — the q85 chunking move), keep lines
      // with >= 5 words containing a stopword, keep docs with >= 3
      // surviving lines, rejoin in order. One codegen'd projection +
      // filter — no explode, no shuffle; at sf0.01 the rules genuinely
      // cut (≈1211/2477 lines, ≈214/500 docs survive).
      Cleaning.c4LineClean(Tables(s, d).documents, "doc_id", "text",
        lineLen = 12, minWordsPerLine = 5, stopwords = Seq("a", "the"),
        minKeptLines = 3)
    },

    "q123_epoch_shuffle" -> { (s, d) =>
      // Deterministic per-epoch global shuffle + contiguous shards:
      // two epochs, eight shards. The order is a pure function of
      // (doc_id, salt, epoch) — crash-rerun reproducible, decorrelated
      // across epochs — and the rank comes from Rankings.globalRank
      // (range-partitioned positions + offsets), never a
      // single-partition window.
      Sampling.epochShards(Tables(s, d).documents.select(col("doc_id")),
        "doc_id", epochs = Seq(1, 2), nShards = 8, salt = "epoch123")
    },

    "q124_quality_classifier" -> { (s, d) =>
      // Learned quality scoring (Classifier.logisticTrain): distill a
      // seed rule — here "mentions 'vector'", the stand-in for an LLM
      // judgment column — into a hashed bag-of-words logistic model
      // (32 buckets, 3 full-batch steps, lr 0.5) and score every doc.
      // Gradients are exact integer sums on the 1e-6 residual grid, so
      // the oracle replays all three unrolled iterations bit-for-bit.
      val out = Classifier.logisticTrain(Tables(s, d).documents, "doc_id", "text",
        label = array_contains(split(col("text"), " "), "vector"),
        nBuckets = 32, iters = 3, lr = 0.5, salt = "clf124").scored
      // bounded: <= 2 distinct 0/1 labels
      val classes = out.select(col("label")).distinct().collect().map(_.getInt(0)).sorted
      require(classes.sameElements(Array(0, 1)),
        s"q124: fixture must carry both label classes, got ${classes.toSeq}")
      out
    },

    "q125_pq_codes" -> { (s, d) =>
      // Product quantization: 64-dim embeddings -> 8 subspaces x 16
      // seeded codes (the q41 lowest-id convention, so the oracle
      // replays codebook construction). Output is each vector's code
      // string plus its q6 reconstruction error — the compressed form
      // IVF-PQ ANN serves from.
      val emb = Tables(s, d).embeddings
      Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8,
        Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 8, nCodes = 16))
    },

    "q145_pq_adc_topk" -> { (s, d) =>
      // The SEARCH half of IVF-PQ serving (q125 is the build half):
      // ADC top-5 over the STORED code strings — the corpus side scans
      // nSub small integers per row, never floats, which is the whole
      // point of PQ at 100 TB. Queries are four non-seed vectors (a
      // seed's distance to its own cell is 0 — non-seeds keep every
      // LUT read non-degenerate); same 8×16 seeded codebook as q125 so
      // the oracle replays encode + search through ONE shared CTE
      // scaffold. Scoring is a zero-shuffle literal-LUT projection
      // (Quantize.adcTopK); the only shuffle is the WindowGroupLimit
      // top-k.
      val emb = Tables(s, d).embeddings
      val cb = Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 8, nCodes = 16)
      val codes = Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8, cb)
      // persisted (r13): two actions consume it — the top-5 pin below
      // and the returned frame; unpersisted, each re-ran encode + the
      // full ADC code scan (bounded frame: nQueries × k rows; the
      // contract mains clear caches per query)
      val out = Caches.hold(Quantize.adcTopK(codes, "vec_id", "codes",
        emb.where(col("vec_id").between(16, 19)), "vec_id", "embedding",
        cb, nSub = 8, nCodes = 16, k = 5, excludeSelf = true))
      // bounded: <= nQueries rows (one count per probe)
      val perQ = out.groupBy(col("query_id")).count().collect()
      require(perQ.length == 4 && perQ.forall(_.getLong(1) == 5),
        s"q145: every probe must fill its top-5 on the gated fixture " +
          s"(got ${perQ.map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)})")
      out
    },

    "q147_ivf_adc" -> { (s, d) =>
      // The COMPOSED IVF-PQ index (q41 routes, q145 scores — this row
      // gates the two composed): the corpus's PQ codes are stored WITH
      // their coarse-list assignment (the index build — one join at
      // build time, list-partitionable on disk), each probe ranks the
      // 8 seed centroids and probes its 3 nearest lists, and ONLY
      // member codes are ADC-scored. Same probe panel, codebook, and
      // k as q145, so the two rows differ exactly by the routing cut:
      // recall < 1 by construction. Oracle replays routing through
      // q41's assignment CTE shape and scoring through q145's shared
      // PqCodesCte/lut scaffold.
      val emb = Tables(s, d).embeddings
      val cb = Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 8, nCodes = 16)
      val cents = graft.operators.Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
      val lists = graft.operators.Similarity.assignToCentroids(
        emb, "vec_id", "embedding", cents)
      val index = Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8, cb)
        .join(lists, Seq("vec_id"))
      val out = Quantize.ivfAdcTopK(index, "vec_id", "codes", "centroid_id",
        emb.where(col("vec_id").between(16, 19)), "vec_id", "embedding",
        cents, cb, nSub = 8, nCodes = 16, nProbe = 3, k = 5,
        excludeSelf = true)
      // bounded: one scalar (distinct occupied lists) — with more
      // occupied lists than nProbe, every probe genuinely prunes
      val nLists = lists.agg(countDistinct(col("centroid_id"))).collect()(0).getLong(0)
      require(nLists > 3,
        s"q147: corpus must occupy more lists than nProbe=3 (got $nLists)")
      out
    },

    "q148_ivf_adc_residual" -> { (s, d) =>
      // q147 at FAISS-IVFPQ fidelity (Jégou et al. 2011 §III): the
      // index encodes RESIDUALS (vector − its coarse centroid) and
      // the search builds one LUT per (query, probed list) since the
      // query residual differs per list. On CLUSTERED data the same
      // codebook budget quantizes residuals with measurably less
      // error (CurationSpec pins the mechanism on a clustered
      // fixture; on this near-uniform synthetic fixture the
      // inequality reverses — the gate here checks the search's
      // EXACTNESS, the geometry choice belongs to the caller). Same
      // routing as q147 (shared IvfRouteCte), same encode replay
      // shape on the residual base (shared pqEncodeCteOn), same
      // probe panel and k.
      val emb = Tables(s, d).embeddings
      val cents = graft.operators.Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
      val lists = graft.operators.Similarity.assignToCentroids(
        emb, "vec_id", "embedding", cents)
      val res = Quantize.residuals(emb, "vec_id", "embedding",
        lists, "centroid_id", cents)
      val cbRes = Quantize.seededCodebook(res, "vec_id", "rvec", nSub = 8, nCodes = 16)
      val index = Quantize.pqEncode(res, "vec_id", "rvec", nSub = 8, cbRes)
        .join(lists, Seq("vec_id"))
      val out = Quantize.ivfAdcResidualTopK(index, "vec_id", "codes",
        "centroid_id", emb.where(col("vec_id").between(16, 19)),
        "vec_id", "embedding", cents, cbRes, nSub = 8, nCodes = 16,
        nProbe = 3, k = 5, excludeSelf = true)
      // bounded: one scalar (distinct occupied lists) — the q147 pin
      val nLists = lists.agg(countDistinct(col("centroid_id"))).collect()(0).getLong(0)
      require(nLists > 3,
        s"q148: corpus must occupy more lists than nProbe=3 (got $nLists)")
      out
    },

    "q149_pq_trained" -> { (s, d) =>
      // TRAINED per-subspace PQ codebooks (the q141 trained-vs-
      // heuristic class, quantization form): two batched Lloyd
      // iterations refine q125's seeded prototypes — each iteration is
      // ONE argmin assignment over (vector, subspace) rows and ONE
      // per-(sub, code, pos) rounded-mean aggregate carrying all 8
      // subspaces side by side — then the corpus encodes against the
      // trained book through the unchanged pqEncode path. The oracle
      // unrolls both iterations (the q75/q124 trained-trajectory
      // construction, subspace-batched). The require pins training
      // genuinely tightening the fit vs the seeded book at every
      // gated dir — the measurable point of training.
      val emb = Tables(s, d).embeddings
      val cbT = Quantize.trainCodebook(emb, "vec_id", "embedding",
        nSub = 8, nCodes = 16, iters = 2)
      // persisted so the tightening pin below doesn't re-run the
      // trained encode when the gate materializes the frame;
      // corpus-row-sized, and the contract mains clear caches per query
      val out = Caches.hold(Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8, cbT))
      // bounded: two 1-row recon-error scalars
      val trained = out.agg(sum(col("recon_err"))).collect()(0).getDouble(0)
      val seeded = Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8,
          Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 8, nCodes = 16))
        .agg(sum(col("recon_err"))).collect()(0).getDouble(0)
      require(trained < seeded,
        s"q149: training must tighten the fit (trained $trained !< seeded $seeded)")
      out
    },

    "q150_ivfpq_trained" -> { (s, d) =>
      // The fully-TRAINED IVF-PQ composition — the shape FAISS actually
      // deploys (r12 verdict item 2): TRAINED coarse centroids (q114's
      // kMeansCentroids, k=16 iters=3) route, the index stores PQ codes
      // of RESIDUALS against those trained centroids, and the residual
      // codebooks are themselves TRAINED (q149's batched Lloyd, 2
      // iterations) — q147/q148 route seeded books, q149 trains but
      // searches exhaustively; this row closes the matrix. The oracle
      // unrolls BOTH trained trajectories through the shared scaffolds:
      // KMeansAsgnCte (q75/q114's three Lloyd iterations) for the
      // coarse side and trainedCbChainOn (q149's two, instantiated on
      // the residual subvectors) for the fine side, then routes and
      // ADC-scores per (query, probed list).
      val emb = Tables(s, d).embeddings
      import graft.operators.Similarity
      val cents = Similarity.kMeansCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 3)
      // persisted: three consumers (the residual build, the index join,
      // the occupied-lists pin) — unpersisted, each re-ran the corpus ×
      // centroids assignment pass (corpus-row-sized; the contract mains
      // clear caches per query)
      val lists = Caches.hold(Similarity.assignToCentroids(emb, "vec_id", "embedding", cents))
      val res = Quantize.residuals(emb, "vec_id", "embedding",
        lists, "centroid_id", cents)
      // persisted: the trainer makes 2×2 passes and the encode one more
      // over the residual frame (corpus-row-sized; the contract mains
      // clear caches per query)
      Caches.hold(res)
      val cbRes = Quantize.trainCodebook(res, "vec_id", "rvec",
        nSub = 8, nCodes = 16, iters = 2)
      // encoded ONCE and persisted (the q149 move, r13): the index join
      // below and the tightening pin both read this frame — unpersisted,
      // the pin re-ran the full trained encode over the residual corpus
      val enc = Caches.hold(Quantize.pqEncode(res, "vec_id", "rvec", nSub = 8, cbRes))
      val index = enc.join(lists, Seq("vec_id"))
      val out = Quantize.ivfAdcResidualTopK(index, "vec_id", "codes",
        "centroid_id", emb.where(col("vec_id").between(16, 19)),
        "vec_id", "embedding", cents, cbRes, nSub = 8, nCodes = 16,
        nProbe = 3, k = 5, excludeSelf = true)
      // bounded: one scalar (distinct occupied lists) — the q147 pin:
      // with more occupied lists than nProbe, routing genuinely prunes
      val nLists = lists.agg(countDistinct(col("centroid_id"))).collect()(0).getLong(0)
      require(nLists > 3,
        s"q150: corpus must occupy more lists than nProbe=3 (got $nLists)")
      // bounded: two 1-row recon-error scalars — the q149 pin on the
      // RESIDUAL base: fine-training must genuinely tighten the fit
      // bounded: 1-row scalar aggregate
      val trained = enc.agg(sum(col("recon_err"))).collect()(0).getDouble(0)
      // bounded: 1-row scalar aggregate
      val seeded = Quantize.pqEncode(res, "vec_id", "rvec", nSub = 8,
          Quantize.seededCodebook(res, "vec_id", "rvec", nSub = 8, nCodes = 16))
        .agg(sum(col("recon_err"))).collect()(0).getDouble(0)
      require(trained < seeded,
        s"q150: residual training must tighten the fit ($trained !< $seeded)")
      out
    },

    "q151_adc_recall" -> { (s, d) =>
      // The ADC recall audit (r12 verdict item 3 — the q75 pattern,
      // Quantize edition): q145/q147/q148/q150 gate the approximate
      // semantics EXACTLY; this row measures what the approximation
      // costs. Per probe (the wider 16–47 panel): n_hits of exhaustive
      // ADC top-10 and of IVF-routed ADC top-10 against the exact
      // brute-force squared-L2 top-10 (Similarity.l2TopK — L2, not
      // cosine, because L2 is the metric ADC approximates; a cosine
      // truth would conflate metric mismatch with quantization loss).
      // n_hits is recomputed exactly by the oracle through the SAME
      // shared scaffolds the gated searches replay (PqCodesCte +
      // adcLutCteFor + ivfRouteCteFor), so a recall regression changes
      // values instead of hiding under a threshold; *_ge_half are
      // audit LABELS, not pass bars.
      val emb = Tables(s, d).embeddings
      import graft.operators.Similarity
      val cb = Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 8, nCodes = 16)
      val codes = Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8, cb)
      // persisted: both searches scan the same stored codes
      // (corpus-row-sized; the contract mains clear caches per query)
      Caches.hold(codes)
      val probes = emb.where(col("vec_id").between(16, 47))
      val adc = Quantize.adcTopK(codes, "vec_id", "codes", probes,
        "vec_id", "embedding", cb, nSub = 8, nCodes = 16, k = 10,
        excludeSelf = true)
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
      val lists = Similarity.assignToCentroids(emb, "vec_id", "embedding", cents)
      val ivf = Quantize.ivfAdcTopK(codes.join(lists, Seq("vec_id")),
        "vec_id", "codes", "centroid_id", probes, "vec_id", "embedding",
        cents, cb, nSub = 8, nCodes = 16, nProbe = 3, k = 10,
        excludeSelf = true)
      // NOT persisted (probed r13, A/B at equal JVM warmth): all three
      // consumers (top1 + both hits joins) sit inside the ONE returned
      // plan, where Spark already dedupes the identical brute-force
      // subtree (ReusedExchange/ReuseSubquery) — a persist measured no
      // gain and just adds cache residency
      val exact = Similarity.l2TopK(probes, emb, "vec_id", "embedding", k = 10)
      def hits(approx: DataFrame, as: String): DataFrame =
        exact.as("x").join(approx.as("i"),
            col("x.query_id") === col("i.query_id") &&
              col("x.neighbor_id") === col("i.neighbor_id"), "left")
          .groupBy(col("x.query_id").as("query_id"))
          .agg(count(col("i.neighbor_id")).as(as))
      val top1 = exact.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("exact_top1"))
      top1.join(hits(adc, "n_hits_adc"), Seq("query_id"))
        .join(hits(ivf, "n_hits_ivf"), Seq("query_id"))
        .select(col("query_id"), col("exact_top1"),
          col("n_hits_adc"), col("n_hits_ivf"),
          (col("n_hits_adc") >= 5).as("adc_ge_half"),
          (col("n_hits_ivf") >= 5).as("ivf_ge_half"))
    },

    "q152_adc_refine" -> { (s, d) =>
      // The serving cascade's LAST step (Quantize.adcRefineTopK —
      // Jégou et al. 2011 §V-D reranking, FAISS IndexRefineFlat): the
      // cheap ADC scan shortlists 50 candidates per probe, the TRUE q6
      // L2 distance is computed for shortlist members only, and the
      // final top-10 ranks on it — exact-distance work bounded at
      // nQueries × kShort, never corpus-sized (the q128 BM25→dense
      // cascade move, quantization edition). Same 16–47 panel and
      // seeded 8×16 book as q151, so the oracle shares PqCodesCte +
      // adcLutCteFor(16,47) and the refine fold shares q151's exact-L2
      // tokens (l2FoldSql).
      val emb = Tables(s, d).embeddings
      val cb = Quantize.seededCodebook(emb, "vec_id", "embedding", nSub = 8, nCodes = 16)
      val codes = Quantize.pqEncode(emb, "vec_id", "embedding", nSub = 8, cb)
      // persisted: the refine shortlist scan and the liveness pin's raw
      // ADC scan read the same stored codes (corpus-row-sized; the
      // contract mains clear caches per query)
      Caches.hold(codes)
      val probes = emb.where(col("vec_id").between(16, 47))
      // persisted: two consumers (the liveness pin's except() and the
      // returned frame) — unpersisted, the pin re-ran the whole
      // shortlist+refine cascade (bounded frame: panel × 10 rows; the
      // contract mains clear caches per query)
      val out = Caches.hold(Quantize.adcRefineTopK(codes, "vec_id", "codes", probes,
        "vec_id", "embedding", emb, "embedding", cb, nSub = 8, nCodes = 16,
        kShort = 50, k = 10, excludeSelf = true))
      // liveness: refinement must genuinely reorder on the gated
      // fixture — at least one refined top-10 pick is NOT in the raw
      // ADC top-10 (otherwise the row gates nothing q145 doesn't).
      // bounded: both sides are panel × 10 rows
      val raw = Quantize.adcTopK(codes, "vec_id", "codes", probes,
          "vec_id", "embedding", cb, nSub = 8, nCodes = 16, k = 10,
          excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"))
      val moved = out.select(col("query_id"), col("neighbor_id"))
        .except(raw).count()
      require(moved > 0,
        "q152: exact refinement must reorder at least one pick vs raw ADC")
      out
    },

    "q126_corpus_drift" -> { (s, d) =>
      // Distribution-drift report: per-source unigram JS divergence vs
      // the whole corpus (+ token volume and absent-word coverage) —
      // the dataset-card rollup's health-monitoring complement. Exact
      // path (full fixture vocabulary); q134 gates the capped form.
      Drift.jsDivergence(Tables(s, d).documents, "source", "text")
    },

    "q134_drift_capped" -> { (s, d) =>
      // The 100-TB form of q126: score only the top-V corpus words
      // (V = 12 < the 31-word fixture vocabulary, so the cap BITES on
      // the gated fixture — pinned below) and audit the retained
      // corpus mass per row. Same determinism contract; the grid is
      // groups × V instead of groups × vocabulary. When even the
      // vocabulary COUNT frame warrants a sketch, pass candidateWords =
      // Sketches.cmsTopK(..., k = V + slack) — wired in r09 and
      // spec-gated (CurationSpec): the sketch selects the scored words,
      // the grid keeps exact counts, the result matches this exact path.
      val docs = Tables(s, d).documents
      val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
        .agg(countDistinct(col("w"))).head().getLong(0)
      require(vocab > 12, s"q134 fixture must exceed the V=12 cap, vocab=$vocab")
      Drift.jsDivergence(docs, "source", "text", topV = Some(12))
    },

    "q139_drift_sketched" -> { (s, d) =>
      // The cmsTopK→drift candidate composition DRIVER-GATED (r10
      // verdict item 1, closing the last wired-but-spec-only scale
      // path; the q135 gate-the-branch pattern): when even the exact
      // vocabulary COUNT frame warrants a sketch, the CMS top-(V+slack)
      // SELECTS which words are scored while the drift grid keeps exact
      // counts. Because a CMS never undercounts (q67 bound), its
      // top-(V+slack) estimate set contains the exact top-V for modest
      // slack, so this composed path provably equals q134's exact top-V
      // cut on the gated fixture — which is why the oracle is q134's
      // CTE scaffold verbatim. The require pins that the sketch
      // genuinely selected (candidate set ≠ full vocabulary) at every
      // dir the query is built against.
      import s.implicits._
      val docs = Tables(s, d).documents
      val toks = docs.select(explode(split(col("text"), " ")).as("word"))
      val (vocab, candWords) = Caches.scoped {
        // one distinct pass feeds both the sketch's candidate reads and
        // the vocabulary census the require needs
        val vocabDf = Caches.hold(toks.distinct())
        val vocab = vocabDf.count()
        // the <=18-row candidate set is DRIVER STATE (the k-centroid /
        // codebook convention): collect it once so the gated plan reads a
        // LocalTableScan instead of re-running the corpus-sized CMS build
        // on every materialization (the build already ran for this
        // collect; un-collected it would run again per bench rep)
        (vocab, graft.operators.Sketches
          .cmsTopK(toks, "word", candidates = vocabDf, k = 12 + 6)
          // bounded: the <= k+slack = 18-row sketch candidate set
          .select(col("word")).as[String].collect())
      }
      require(candWords.length < vocab,
        s"q139: the sketch must genuinely select (|cand|=${candWords.length}, vocab=$vocab)")
      Drift.jsDivergence(docs, "source", "text", topV = Some(12),
        candidateWords = Some(candWords.toSeq.toDF("word")))
    },

    "q127_bpe_encode" -> { (s, d) =>
      // The serving step after q116's trainer: tokenize the CORPUS with
      // the learned merges. The per-word segmentation (vocabulary-sized)
      // broadcasts onto the exploded corpus and each document's token
      // stream reassembles in position order — no merge rule ever
      // re-applies per occurrence. The oracle replays the SAME trained
      // trajectory (shared q116 CTE) and the per-doc reassembly.
      val docs = Tables(s, d).documentsSpread
      val (rules, seg) = graft.operators.Bpe.train(
        graft.operators.Bpe.wordVocab(docs, "text"), nMerges = 5)
      require(rules.size == 5, s"q127: expected 5 merges, got $rules")
      graft.operators.Bpe.encodeCorpus(docs, "doc_id", "text", seg)
    },

    "q128_hybrid_retrieval" -> { (s, d) =>
      // The standard two-stage retrieval cascade: BM25 bounds the
      // candidate set (top-20 per probe — q104's recall pass), then
      // embedding cosine reranks ONLY those candidates to a final
      // top-5 (Retrieval.denseRerank). The dense model never scores
      // the corpus — vector work is O(queries × candidates), which is
      // what makes the cascade the 100 TB shape. Embeddings join on
      // doc id (the fixture's vec_id ≡ doc_id).
      val t = Tables(s, d)
      val docs = t.documentsSpread
      val probes = docs.where(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
      val cands = graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
          probes, "query_id", "term", k = 20, k1 = 1.2, b = 0.75, maxDfFrac = 0.9)
        .select(col("query_id"), col("doc_id"),
          col("score").as("bm25_score"), col("rank").as("bm25_rank"))
      graft.operators.Retrieval.denseRerank(cands, "query_id", "doc_id",
        t.embeddings, "vec_id", "embedding", k = 5)
    },

    "q146_hard_negatives" -> { (s, d) =>
      // Hard-negative mining (Retrieval.hardNegatives) — the
      // contrastive complement of q128: the SAME probe panel and BM25
      // recall pass, but instead of reranking the best candidates it
      // mines the top-3 lexically-confusable NON-relevant ones per
      // probe (cosine < 0.2 — the relevance rule; measured live on
      // both branches at every SF: 25–48 positives drop, hundreds of
      // negatives remain) ordered by the retriever's own rank — the
      // training pairs a dual encoder learns its decision boundary
      // from. Oracle shares q128's entire recall+scoring replay
      // (HybridScoredCte), so the two gates cannot drift.
      val t = Tables(s, d)
      val docs = t.documentsSpread
      val probes = docs.where(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("term"))
      val cands = graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
          probes, "query_id", "term", k = 20, k1 = 1.2, b = 0.75, maxDfFrac = 0.9)
        .select(col("query_id"), col("doc_id"),
          col("score").as("bm25_score"), col("rank").as("bm25_rank"))
      // persisted so the branch-liveness pins below don't re-run the
      // BM25 pass; candidate-pool-sized (≤ probes × 20 rows), and the
      // contract mains clear the cache per query
      val scored = Caches.hold(graft.operators.Retrieval.cosineScores(cands,
        "query_id", "doc_id", t.embeddings, "vec_id", "embedding"))
      // bounded: one scalar census row over the candidate pool
      val st = scored.agg(
        sum(when(col("cosine") >= 0.2, 1L).otherwise(0L)).as("pos"),
        countDistinct(col("query_id")).as("nq")).collect()(0)
      require(st.getLong(0) > 0,
        "q146: the positive branch must be live on the gated fixture")
      val out = graft.operators.Retrieval.hardNegatives(scored,
        "query_id", "doc_id", "bm25_rank", posThreshold = 0.2, negPerQuery = 3)
      // bounded: one scalar row (distinct probes that mined a negative).
      // BRANCH LIVENESS, not universal coverage (ADVICE r12): the old
      // `nq == nProbes` pin aborted the whole gate run on any fixture
      // where one probe's ≤20 candidates all score cosine ≥ 0.2 — a
      // data-dependent margin, not a semantics violation. The gate
      // needs both verdict branches live: some positive drops (pinned
      // above) and some probe mines a negative (here). Measured margin
      // for the record: at every gated SF (0.001/0.01/0.1/1) ALL
      // probes mine — 25–48 positives drop with hundreds of negatives
      // remaining — so this pin is far from its floor in practice.
      // bounded: 1-row scalar aggregate
      val nq = out.agg(countDistinct(col("query_id"))).collect()(0).getLong(0)
      require(nq > 0,
        "q146: the negative-mining branch must be live on the gated fixture")
      out
    },

    "q129_dsir_select" -> { (s, d) =>
      // DSIR-style importance resampling (Dsir.importanceSelect): a
      // bigram LM trained on the en subset vs the corpus LM; every doc
      // weighted by exp(ce_base - ce_target) — the geometric-mean
      // per-bigram likelihood ratio — and the 150 most target-like
      // drawn by the q108 A-ES coin. Both models derive from ONE
      // corpus bigram pass; the oracle replays both cross-entropy
      // grid sums (the q111 chain, left-join smoothed for unseen
      // bigrams) and the pow key ranking.
      graft.operators.Dsir.importanceSelect(Tables(s, d).documentsSpread,
        "doc_id", "text", targetPred = col("lang") === "en",
        k = 150, alpha = 0.5, salt = "dsir129")
    },

    "q130_span_scrub" -> { (s, d) =>
      // The removal half of exact-substring dedup (q77 detects, this
      // REWRITES): each duplicated 10-word window keeps its canonical
      // first occurrence (min (doc, pos)) and every other occurrence's
      // tokens are scrubbed; docs rejoin in order. Single-pass
      // semantics; a fully-scrubbed doc still reports (0 kept, "").
      graft.operators.Dedup.scrubDupSpans(
        Tables(s, d).documentsSpread, "doc_id", "text", spanWords = 10)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          col("clean_text"))
    },

    "q131_curriculum_order" -> { (s, d) =>
      // Curriculum ordering: q119's perplexity terciles become training
      // PHASES (clean head first), with a fresh deterministic shuffle
      // inside each phase (q123's coin) — "easy-to-hard, shuffled
      // within difficulty" as one global ordering contract. Both ranks
      // run through Rankings.globalRank, never a single-partition
      // window.
      val scored = graft.operators.LanguageModel.bigramCrossEntropy(
          Tables(s, d).documentsSpread, "doc_id", "text", alpha = 0.5, tau = 8.0)
        .select(col("doc_id"), col("cross_entropy"))
      val ranked = graft.operators.Rankings.globalRank(scored,
        Seq(col("cross_entropy").asc, col("doc_id").asc), "ce_rank")
      val phased = ranked
        .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"))))
        // BIGINT intermediate (the epochShards move): INT (rank-1)*3
        // overflows past ~715M docs, far below globalRank's 2^31 cap
        .withColumn("phase",
          expr("CAST(((CAST(ce_rank AS BIGINT) - 1) * 3) div __n AS INT)"))
        .withColumn("shuffle_key", Sampling.hashLong(col("doc_id"), "cur131"))
      graft.operators.Rankings.globalRank(phased,
          Seq(col("phase").asc, col("shuffle_key").asc, col("doc_id").asc),
          "curriculum_pos")
        .select(col("doc_id"), col("phase"), col("shuffle_key"),
          col("curriculum_pos"))
    },

    "q141_langid_trained" -> { (s, d) =>
      // TRAINED language ID (r10 verdict item 4): q25 is the heuristic
      // stopword scorer; the CCNet stack's actual langid stage is a
      // learned linear classifier over hashed char n-grams — this row
      // gates THAT machinery: one-vs-rest logistic regression
      // (Classifier.logisticTrainOneVsRest) over boundary-marked char
      // trigrams (charNgrams — the fastText feature family), one
      // binary grid-deterministic model per fixture language over ONE
      // shared cached feature frame, argmax with lexicographic
      // tiebreak. Features come from the doc's LEADING 6-WORD SNIPPET —
      // langid classifies a snippet, not the document (and at 100 TB
      // the snippet IS the scale shape: the feature pass reads a fixed
      // prefix per doc, not the corpus text volume); it also keeps the
      // unnormalized-count margins in the non-saturated sigmoid regime
      // (full-document counts drove every margin past the sigmoid's
      // saturation, collapsing all scores to exact 0/1 — pinned
      // against below). The oracle unrolls all five models' full
      // two-step trajectories (q124's construction, K-fold) plus the
      // argmax. The fixture's text is deliberately lang-independent,
      // so the gate pins the TRAINING/SCORING machinery cross-engine,
      // not fixture accuracy (the models learn the class priors).
      val docs = Tables(s, d).documents
      // bounded collect: one row per language
      val classes = docs.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted
      require(classes.sameElements(Array("de", "en", "es", "fr", "zh")),
        s"q141: the oracle unrolls exactly the 5 fixture languages, got ${classes.toSeq}")
      // persisted (r13): two actions consume it — the interior pin and
      // the returned frame; unpersisted, each re-ran the full 5-class
      // 2-iteration training (bounded frame: one row per doc; the
      // contract mains clear caches per query)
      val out = Caches.hold(Classifier.logisticTrainOneVsRest(docs, "doc_id", "text", "lang",
        nBuckets = 64, iters = 2, lr = 0.5, salt = "lid141",
        tokens = t => Classifier.charNgrams(
          array_join(slice(split(t, " "), 1, 6), " "), 3)))
      // liveness pin: the scores must occupy the sigmoid's interior —
      // a saturated fixture (every score exactly 0/1) would gate only
      // the priors, not the margin arithmetic. Bounded scalar.
      val interior = out.where(col("score") > 0.0 && col("score") < 1.0).count()
      require(interior > 0, "q141: every score saturated to 0/1 — fixture degenerate")
      out
    },

    "q132_kanon_release" -> { (s, d) =>
      // Disclosure-controlled dataset card (Privacy.kAnonRelease): the
      // (lang, source) rollup published only where a cell has >= k
      // docs; smaller cells pool into one '__suppressed' row that
      // preserves the totals. k scales with the corpus (max(5, N/100))
      // so BOTH branches stay live at every tested SF — the require
      // pins that, like q121's capped/fractional pair.
      val u = Tables(s, d).documents.select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      val n = u.count() // bounded scalar (the Incremental contract)
      val k = math.max(5L, n / 100L)
      val out = graft.operators.Privacy.kAnonRelease(
        u, Seq("lang", "source"), col("n_toks"), k)
      // bounded: one row per released (lang, source) cell
      val langs = out.select(col("lang")).collect().map(_.getString(0))
      require(langs.contains("__suppressed") && langs.exists(_ != "__suppressed"),
        s"q132: fixture must exercise both branches at k=$k")
      out
    },

    "q133_diverse_sample" -> { (s, d) =>
      // Cluster-balanced diversity sampling: q75's TRAINED k-means
      // (same 16 seeds, 3 rounded Lloyd iterations — the oracle's
      // shared replay prefix covers it) partitions the embedding
      // space, then capPerStratum keeps at most 12 vectors per learned
      // cluster by the md5 hash order — "subsample without collapsing
      // onto the dense modes", the coreset move a training mix uses
      // where uniform sampling would mirror the density skew. The
      // requires pin that at least one cluster actually hit the cap
      // AND the sample genuinely shrank the corpus.
      val emb = Tables(s, d).embeddings
      import graft.operators.Similarity
      val asgn = Similarity.assignToCentroids(emb, "vec_id", "embedding",
        Similarity.kMeansCentroids(emb, "vec_id", "embedding", k = 16, iters = 3))
      // persisted (r13): two actions consume it — the cap-bites pin and
      // the returned frame; unpersisted, each re-ran the corpus ×
      // centroids assignment + cap (bounded frame: <= 12 rows per
      // cluster; the contract mains clear caches per query)
      val out = Caches.hold(Sampling.capPerStratum(asgn, "centroid_id", "vec_id",
        maxN = 12, salt = "div133"))
      val kept = out.count(); val total = emb.count()
      require(kept < total, s"q133: cap must bite ($kept of $total kept)")
      out
    }
  )

  /** DuckDB replays. The classifier oracle unrolls all three training
    * iterations (the q75/q109/q116 trained-path construction).
    */
  /** q125's PQ-encode replay (subvector split → seeded codebook → q6
    * ordered-fold subspace distances → per-(vector, subspace) pick) as
    * a shareable CTE prefix: q145's ADC search replays the SAME stored
    * picks through `best`, so the build gate and the search gate cannot
    * drift (the q134/q139 share-the-oracle convention).
    */
  /** The PQ-encode replay (subvector split → 16 lowest-id seeds → q6
    * ordered-fold distances → per-(vector, subspace) pick) over an
    * arbitrary `(vec_id, v)` base CTE: [[PqCodesCte]] instantiates it
    * on the raw embeddings; q148 instantiates the SAME tokens on the
    * residual frame, so the raw and residual encode gates cannot
    * drift.
    */
  def pqEncodeCteOn(base: String): String =
    s"""sv AS (SELECT vec_id, CAST(s AS INT) AS sub, v[s*8+1 : s*8+8] AS sv
      |  FROM $base, (SELECT unnest(range(0, 8)) AS s)),
      |cb AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
      |    sub, sv AS cent
      |  FROM sv WHERE vec_id IN (SELECT DISTINCT vec_id FROM sv ORDER BY vec_id LIMIT 16)),
      |d AS (SELECT a.vec_id, a.sub, cb.code,
      |    floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, 9),
      |          i -> (a.sv[i] - cb.cent[i]) * (a.sv[i] - cb.cent[i]))),
      |      (x, y) -> x + y) * 1000000.0 + 0.5) / 1000000.0 AS dist2
      |  FROM sv a JOIN cb USING (sub)),
      |best AS (SELECT vec_id, sub, code, dist2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
      |        ORDER BY dist2, code) AS rn FROM d)
      |  WHERE rn = 1)""".stripMargin

  val PqCodesCte: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${pqEncodeCteOn("e")}""".stripMargin

  /** q147's coarse-routing replay (8 lowest-id centroids, corpus
    * argmax assignment, top-3 probes) parameterized over the probe
    * panel's id range, so the 16–19 gates (q147/q148 via
    * [[IvfRouteCte]]) and q151's wider 16–47 audit panel route through
    * the SAME tokens. Expects an `e (vec_id, v)` CTE in scope.
    */
  def ivfRouteCteFor(lo: Int, hi: Int): String =
    s"""cents AS (SELECT vec_id AS centroid_id, v AS centv FROM e
      |  ORDER BY vec_id LIMIT 8),
      |asgn AS (SELECT nid, centroid_id FROM (
      |    SELECT e.vec_id AS nid, c.centroid_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        floor(list_cosine_similarity(e.v, c.centv) * 1000000.0 + 0.5)
      |          / 1000000.0 DESC,
      |        c.centroid_id) AS rn
      |    FROM e CROSS JOIN cents c) WHERE rn = 1),
      |probes AS (SELECT query_id, centroid_id FROM (
      |    SELECT qe.vec_id AS query_id, c.centroid_id,
      |      row_number() OVER (PARTITION BY qe.vec_id ORDER BY
      |        floor(list_cosine_similarity(qe.v, c.centv) * 1000000.0 + 0.5)
      |          / 1000000.0 DESC,
      |        c.centroid_id) AS rn
      |    FROM e qe CROSS JOIN cents c WHERE qe.vec_id BETWEEN $lo AND $hi)
      |  WHERE rn <= 3)""".stripMargin

  val IvfRouteCte: String = ivfRouteCteFor(16, 19)

  /** q128's BM25-recall + dense-scoring replay (folded BM25 → top-20
    * per probe → q6 embedding cosines with self-exclusion) as a
    * shareable CTE prefix: q146's negative mining consumes the SAME
    * `scored` frame q128's rerank does, so the rerank gate and the
    * mining gate cannot drift (the q134/q139 convention).
    */
  def HybridScoredCte: String =
    s"""${ExtendedQueries.bm25FoldedCte(0.9)},
      |bm AS (SELECT * FROM (
      |    SELECT query_id, doc_id,
      |      floor(raw * 1000000.0 + 0.5) / 1000000.0 AS bm25_score,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY floor(raw * 1000000.0 + 0.5) / 1000000.0 DESC, doc_id)
      |        AS INT) AS bm25_rank
      |    FROM folded) WHERE bm25_rank <= 20),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |scored AS (SELECT b.query_id, b.doc_id, b.bm25_score, b.bm25_rank,
      |    floor(list_cosine_similarity(qe.v, ce.v) * 1000000.0 + 0.5)
      |      / 1000000.0 AS cosine
      |  FROM bm b
      |  JOIN e ce ON ce.vec_id = b.doc_id
      |  JOIN e qe ON qe.vec_id = b.query_id
      |  WHERE b.doc_id <> b.query_id)""".stripMargin

  /** q145's probe-panel LUT replay (panel sub-split + the q6
    * ordered-fold distance to every codebook cell) parameterized over
    * the panel's id range: [[AdcLutCte]] instantiates the 16–19 panel
    * shared by q145/q147, q151's recall audit the wider 16–47 one —
    * the same tokens either way, so the gates cannot drift.
    */
  /** The q6 ordered-fold subspace distance between aliases `$l.sv` and
    * `$r.cent` — the one distance every PQ oracle CTE scores with.
    */
  private def tpqFold(l: String, r: String): String =
    s"floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, 9), i -> ($l.sv[i] - $r.cent[i]) * " +
      s"($l.sv[i] - $r.cent[i]))), (x, y) -> x + y) " +
      "* 1000000.0 + 0.5) / 1000000.0"

  /** One unrolled batched-Lloyd iteration over the (vector, subspace)
    * CTE `$sv`: assignment by q6 distance with a code tiebreak,
    * 1e-6-rounded per-(sub, code, pos) means, empty cells keeping the
    * previous centroid. CTE names prefix with `$p` so an oracle can
    * instantiate the chain next to other unrolled trajectories (q150
    * composes it with KMeansAsgnCte, whose b/m names it would
    * otherwise collide with).
    */
  private def tpqIter(i: Int, prev: String, sv: String, p: String): String =
    s"""${p}d$i AS (SELECT a.vec_id, a.sub, cb.code, a.sv, ${tpqFold("a", "cb")} AS dist2
       |  FROM $sv a JOIN $prev cb USING (sub)),
       |${p}b$i AS (SELECT sub, code, sv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY dist2, code) AS rn FROM ${p}d$i) WHERE rn = 1),
       |${p}m$i AS (SELECT sub, code, list(m ORDER BY p) AS cent FROM (
       |    SELECT b.sub, b.code, p.p,
       |      floor(avg(b.sv[p.p]) * 1000000.0 + 0.5) / 1000000.0 AS m
       |    FROM ${p}b$i b CROSS JOIN (SELECT unnest(range(1, 9)) AS p) p
       |    GROUP BY 1, 2, 3) GROUP BY 1, 2),
       |${p}cb$i AS (SELECT c.sub, c.code, coalesce(m.cent, c.cent) AS cent
       |  FROM $prev c LEFT JOIN ${p}m$i m USING (sub, code))""".stripMargin

  /** `Quantize.trainCodebook(nSub=8, nCodes=16, iters=2)` unrolled over
    * the (vector, subspace) CTE `$sv` (the q75/q124 trained-trajectory
    * construction, subspace-batched): the 16 lowest-id seeds, then two
    * [[tpqIter]] iterations — final trained book = `${p}cb2`. q149
    * instantiates it on the raw subvectors, q150 on the residual ones.
    */
  private[queries] def trainedCbChainOn(sv: String, p: String): String =
    s"""${p}cb0 AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
       |    sub, sv AS cent
       |  FROM $sv WHERE vec_id IN (SELECT DISTINCT vec_id FROM $sv ORDER BY vec_id LIMIT 16)),
       |${tpqIter(1, s"${p}cb0", sv, p)},
       |${tpqIter(2, s"${p}cb1", sv, p)}""".stripMargin

  /** The final encode of `$sv` against the trained book `${p}cb2`
    * (pqEncode's pick replay) — stored picks land in `${p}bf`.
    */
  private[queries] def trainedEncodeOn(sv: String, p: String): String =
    s"""${p}df AS (SELECT a.vec_id, a.sub, cb.code, ${tpqFold("a", "cb")} AS dist2
       |  FROM $sv a JOIN ${p}cb2 cb USING (sub)),
       |${p}bf AS (SELECT vec_id, sub, code, dist2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |        ORDER BY dist2, code) AS rn FROM ${p}df) WHERE rn = 1)""".stripMargin

  /** The exact full-vector q6 L2 fold between `(vec_id, v)` aliases —
    * the Similarity.l2TopK distance, shared by q151's truth ranking and
    * q152's refine step so the two exact-L2 replays cannot drift.
    */
  private def l2FoldSql(l: String, r: String): String =
    s"floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, 65), i -> ($l.v[i] - $r.v[i]) * " +
      s"($l.v[i] - $r.v[i]))), (x, y) -> x + y) " +
      "* 1000000.0 + 0.5) / 1000000.0"

  def adcLutCteFor(lo: Int, hi: Int): String =
    s"""q AS (SELECT vec_id AS query_id, sub, sv FROM sv
      |  WHERE vec_id BETWEEN $lo AND $hi),
      |lut AS (SELECT q.query_id, cb.sub, cb.code,
      |    floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, 9),
      |          i -> (q.sv[i] - cb.cent[i]) * (q.sv[i] - cb.cent[i]))),
      |      (x, y) -> x + y) * 1000000.0 + 0.5) / 1000000.0 AS qd
      |  FROM q JOIN cb USING (sub))""".stripMargin

  val AdcLutCte: String = adcLutCteFor(16, 19)

  val oracles: Map[String, String] = Map(
    "q145_pq_adc_topk" ->
      s"""WITH $PqCodesCte,
        |$AdcLutCte,
        |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM best b JOIN lut l ON l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 5""".stripMargin,

    "q147_ivf_adc" ->
      s"""WITH $PqCodesCte,
        |$IvfRouteCte,
        |$AdcLutCte,
        |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM best b
        |  JOIN asgn a ON a.nid = b.vec_id
        |  JOIN probes p ON p.centroid_id = a.centroid_id
        |  JOIN lut l ON l.query_id = p.query_id
        |    AND l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 5""".stripMargin,

    "q148_ivf_adc_residual" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |$IvfRouteCte,
        |rese AS (SELECT a.nid AS vec_id,
        |    list_transform(range(1, 65), i -> ev.v[i] - c.centv[i]) AS v
        |  FROM asgn a JOIN e ev ON ev.vec_id = a.nid
        |  JOIN cents c ON c.centroid_id = a.centroid_id),
        |${pqEncodeCteOn("rese")},
        |qres AS (SELECT p.query_id, p.centroid_id,
        |    list_transform(range(1, 65), i -> qe.v[i] - c.centv[i]) AS qv
        |  FROM probes p JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN cents c ON c.centroid_id = p.centroid_id),
        |qsv AS (SELECT query_id, centroid_id, CAST(s AS INT) AS sub,
        |    qv[s*8+1 : s*8+8] AS sv
        |  FROM qres, (SELECT unnest(range(0, 8)) AS s)),
        |lut AS (SELECT q.query_id, q.centroid_id, cb.sub, cb.code,
        |    floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1, 9),
        |          i -> (q.sv[i] - cb.cent[i]) * (q.sv[i] - cb.cent[i]))),
        |      (x, y) -> x + y) * 1000000.0 + 0.5) / 1000000.0 AS qd
        |  FROM qsv q JOIN cb USING (sub)),
        |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM best b
        |  JOIN asgn a ON a.nid = b.vec_id
        |  JOIN lut l ON l.centroid_id = a.centroid_id
        |    AND l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 5""".stripMargin,

    "q149_pq_trained" ->
      // the q75 trained-trajectory construction, subspace-batched: two
      // unrolled Lloyd iterations over (vector, subspace) rows with
      // 1e-6-rounded means, then the final encode through cb2. The
      // unroll lives in trainedCbChainOn/trainedEncodeOn, instantiated
      // here on the RAW subvector frame and by q150 on the residual
      // one — the two trained-PQ gates share the trajectory token-level.
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sv AS (SELECT vec_id, CAST(s AS INT) AS sub, v[s*8+1 : s*8+8] AS sv
        |  FROM e, (SELECT unnest(range(0, 8)) AS s)),
        |${trainedCbChainOn("sv", "")},
        |${trainedEncodeOn("sv", "")}
        |SELECT vec_id,
        |  string_agg(code::VARCHAR, '_' ORDER BY sub) AS codes,
        |  floor((CAST(sum(CAST(floor(dist2 * 1000000.0 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1000000.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS recon_err
        |FROM bf GROUP BY 1""".stripMargin,

    "q150_ivfpq_trained" ->
      // both trained trajectories unrolled through the shared
      // scaffolds: KMeansAsgnCte ends at the trained coarse book c3 +
      // corpus assignment asgn; residuals re-split into rsv; the
      // trainedCbChainOn/trainedEncodeOn chain (q149's tokens,
      // t-prefixed to dodge the kmeans CTE names) yields the trained
      // residual book tcb2 and stored picks tbf; routing ranks c3 per
      // probe; the per-(query, probed list) residual LUT scores tbf
      // with the exact grid sum.
      s"""${GateQueries.KMeansAsgnCte},
        |tprobes AS (SELECT query_id, cid FROM (
        |    SELECT qe.vec_id AS query_id, c.cid,
        |      row_number() OVER (PARTITION BY qe.vec_id ORDER BY
        |        floor(list_cosine_similarity(qe.v, c.cv) * 1000000.0 + 0.5)
        |          / 1000000.0 DESC,
        |        c.cid) AS rn
        |    FROM e qe CROSS JOIN c3 c WHERE qe.vec_id BETWEEN 16 AND 19)
        |  WHERE rn <= 3),
        |rese AS (SELECT a.nid AS vec_id,
        |    list_transform(range(1, 65), i -> a.nv[i] - c.cv[i]) AS v
        |  FROM asgn a JOIN c3 c USING (cid)),
        |rsv AS (SELECT vec_id, CAST(s AS INT) AS sub, v[s*8+1 : s*8+8] AS sv
        |  FROM rese, (SELECT unnest(range(0, 8)) AS s)),
        |${trainedCbChainOn("rsv", "t")},
        |${trainedEncodeOn("rsv", "t")},
        |qres AS (SELECT p.query_id, p.cid,
        |    list_transform(range(1, 65), i -> qe.v[i] - c.cv[i]) AS qv
        |  FROM tprobes p JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN c3 c ON c.cid = p.cid),
        |qsv AS (SELECT query_id, cid, CAST(s AS INT) AS sub,
        |    qv[s*8+1 : s*8+8] AS sv
        |  FROM qres, (SELECT unnest(range(0, 8)) AS s)),
        |tlut AS (SELECT q.query_id, q.cid, cb.sub, cb.code,
        |    ${tpqFold("q", "cb")} AS qd
        |  FROM qsv q JOIN tcb2 cb USING (sub)),
        |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM tbf b
        |  JOIN asgn a ON a.nid = b.vec_id
        |  JOIN tlut l ON l.cid = a.cid
        |    AND l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adc_dist, neighbor_id) AS rn FROM adc)
        |WHERE rn <= 5""".stripMargin,

    "q151_adc_recall" ->
      // exhaustive-ADC and routed-ADC top-10 recomputed through the
      // q145/q147 scaffolds on the wider 16–47 panel, audited against
      // the exact full-vector q6 L2 top-10; hit counts recomputed
      // exactly (the q75 construction, Quantize edition)
      s"""WITH $PqCodesCte,
        |${adcLutCteFor(16, 47)},
        |${ivfRouteCteFor(16, 47)},
        |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM best b JOIN lut l ON l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |adctop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc_dist, neighbor_id) AS rn FROM adc) WHERE rn <= 10),
        |ivfadc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM best b
        |  JOIN asgn a ON a.nid = b.vec_id
        |  JOIN probes p ON p.centroid_id = a.centroid_id
        |  JOIN lut l ON l.query_id = p.query_id
        |    AND l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |ivftop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc_dist, neighbor_id) AS rn FROM ivfadc) WHERE rn <= 10),
        |exl2 AS (SELECT query_id, neighbor_id, rnk FROM (
        |    SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
        |        ${l2FoldSql("qq", "nn")} ASC,
        |        nn.vec_id) AS rnk
        |    FROM e qq CROSS JOIN e nn
        |    WHERE qq.vec_id BETWEEN 16 AND 47 AND nn.vec_id <> qq.vec_id)
        |  WHERE rnk <= 10),
        |ha AS (SELECT x.query_id, count(i.neighbor_id) AS n_hits_adc
        |  FROM exl2 x LEFT JOIN adctop i
        |    ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
        |  GROUP BY 1),
        |hv AS (SELECT x.query_id, count(i.neighbor_id) AS n_hits_ivf
        |  FROM exl2 x LEFT JOIN ivftop i
        |    ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
        |  GROUP BY 1),
        |t1 AS (SELECT query_id, neighbor_id AS exact_top1 FROM exl2 WHERE rnk = 1)
        |SELECT t.query_id, t.exact_top1, a.n_hits_adc, v.n_hits_ivf,
        |  (a.n_hits_adc >= 5) AS adc_ge_half, (v.n_hits_ivf >= 5) AS ivf_ge_half
        |FROM t1 t JOIN ha a USING (query_id) JOIN hv v USING (query_id)""".stripMargin,

    "q152_adc_refine" ->
      // ADC shortlist (rn <= 50) through the q145/q151 scaffolds, then
      // the exact refine: q151's l2FoldSql on (probe, candidate) pairs
      // only, reranked to the final top-10
      s"""WITH $PqCodesCte,
        |${adcLutCteFor(16, 47)},
        |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
        |    floor((CAST(sum(CAST(floor(l.qd * 1000000.0 + 0.5) AS BIGINT))
        |        AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
        |  FROM best b JOIN lut l ON l.sub = b.sub AND l.code = b.code
        |  WHERE b.vec_id <> l.query_id
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc_dist, neighbor_id) AS rn FROM adc) WHERE rn <= 50),
        |ref AS (SELECT s.query_id, s.neighbor_id,
        |    ${l2FoldSql("qq", "nn")} AS l2_dist
        |  FROM short s
        |  JOIN e qq ON qq.vec_id = s.query_id
        |  JOIN e nn ON nn.vec_id = s.neighbor_id)
        |SELECT query_id, neighbor_id, l2_dist, CAST(rn AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY l2_dist, neighbor_id) AS rn FROM ref)
        |WHERE rn <= 10""".stripMargin,

    "q122_line_clean" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |lines AS (SELECT doc_id, len(w) AS nw, unnest(list_transform(
        |    range(0, CAST((len(w)-1)//12 AS INT)+1, 1),
        |    i -> {'pos': i, 'lw': w[i*12+1 : i*12+12]})) AS u FROM base),
        |lr AS (SELECT doc_id, nw, u['pos'] AS pos, u['lw'] AS lw,
        |    (len(u['lw']) >= 5 AND list_has_any(u['lw'], ['a','the'])) AS keep
        |  FROM lines)
        |SELECT doc_id,
        |  CAST(count(*) AS INT) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  floor(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS kept_frac,
        |  string_agg(array_to_string(lw, ' '), ' | ' ORDER BY pos)
        |    FILTER (WHERE keep) AS clean_text
        |FROM lr GROUP BY doc_id
        |HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) >= 3""".stripMargin,

    "q123_epoch_shuffle" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |keyed AS (SELECT e.epoch, doc_id,
        |    ('0x'||substr(md5(doc_id::VARCHAR||'#epoch123:e'||epoch::VARCHAR),1,8))::BIGINT
        |      AS shuffle_key
        |  FROM d, (SELECT CAST(unnest([1,2]) AS INT) AS epoch) e),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY epoch ORDER BY shuffle_key, doc_id) AS rk
        |  FROM keyed),
        |n AS (SELECT count(*) AS n FROM d)
        |SELECT epoch, doc_id, shuffle_key, CAST(rk AS INT) AS epoch_rank,
        |  CAST(((rk - 1) * 8) // n.n AS INT) AS shard
        |FROM r, n""".stripMargin,

    "q124_quality_classifier" -> {
      // shared residual->gradient->weights step, parameterized by the
      // previous weights CTE; iteration 1 starts from all-zero weights
      // (z = 0 exactly, so p = q6(1/(1+exp(0))) = 0.5 in any engine)
      def resid(pCte: String) =
        s"SELECT id, CAST(floor((p - y) * 1000000.0 + 0.5) AS BIGINT) AS e FROM $pCte"
      def grad(eCte: String) =
        s"SELECT bucket, sum(e * cnt) AS g FROM feat JOIN $eCte USING (id) GROUP BY 1"
      def nextW(wCte: String, gCte: String) =
        s"""SELECT bucket, $wCte.wt - 0.5 * (CAST(g AS DOUBLE) / 1000000.0 / n.n) AS wt
           |  FROM $wCte JOIN $gCte USING (bucket), n""".stripMargin
      // margin replay: per-feature w·cnt quantized to the 1e-6 grid as
      // BIGINT, summed order-free (the q104 construction, r10)
      def margin(wCte: String, pCte: String) =
        s"""$pCte AS (SELECT id, y,
           |    floor(1.0 / (1.0 + exp(-(CAST(qz AS DOUBLE) / 1000000.0)))
           |      * 1000000.0 + 0.5) / 1000000.0 AS p
           |  FROM (SELECT id, sum(CAST(floor((wt * cnt) * 1000000.0 + 0.5)
           |        AS BIGINT)) AS qz
           |      FROM feat JOIN $wCte USING (bucket) GROUP BY id) z
           |  JOIN base USING (id))""".stripMargin
      s"""WITH raw AS (SELECT doc_id AS id, string_split(text,' ') AS w FROM documents),
         |base AS (SELECT id,
         |    CASE WHEN list_contains(w, 'vector') THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |n AS (SELECT count(*) AS n FROM base),
         |feat AS (
         |  SELECT id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT id, CAST(('0x'||substr(md5(word||'#clf124'),1,8))::BIGINT % 32 AS INT)
         |        AS bucket
         |    FROM (SELECT id, unnest(w) AS word FROM raw))
         |  GROUP BY 1, 2
         |  UNION ALL SELECT id, -1, 1 FROM base),
         |e1 AS (SELECT id, CAST(floor((0.5 - y) * 1000000.0 + 0.5) AS BIGINT) AS e FROM base),
         |g1 AS (${grad("e1")}),
         |w1 AS (SELECT bucket, 0.0 - 0.5 * (CAST(g AS DOUBLE) / 1000000.0 / n.n) AS wt
         |  FROM g1, n),
         |${margin("w1", "p2")},
         |e2 AS (${resid("p2")}),
         |g2 AS (${grad("e2")}),
         |w2 AS (${nextW("w1", "g2")}),
         |${margin("w2", "p3")},
         |e3 AS (${resid("p3")}),
         |g3 AS (${grad("e3")}),
         |w3 AS (${nextW("w2", "g3")}),
         |${margin("w3", "p4")}
         |SELECT id AS doc_id, y AS label, p AS score, p >= 0.5 AS predicted
         |FROM p4""".stripMargin
    },

    "q125_pq_codes" ->
      s"""WITH $PqCodesCte
        |SELECT vec_id,
        |  string_agg(code::VARCHAR, '_' ORDER BY sub) AS codes,
        |  floor((CAST(sum(CAST(floor(dist2 * 1000000.0 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 1000000.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS recon_err
        |FROM best GROUP BY 1""".stripMargin,

    "q127_bpe_encode" ->
      s"""WITH ${LLMQueries.BpeChainCte},
        |seg AS (SELECT word, tokens,
        |    CAST(len(string_split(tokens, ' ')) AS BIGINT) AS n_tokens FROM s5),
        |dw AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tok AS (SELECT doc_id, u['pos'] AS pos, u['word'] AS word
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |      i -> {'pos': i, 'word': w[i]})) AS u FROM dw))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_bpe_tokens,
        |  string_agg(tokens, ' ' ORDER BY pos) AS tokenized
        |FROM tok JOIN seg USING (word) GROUP BY doc_id""".stripMargin,

    "q128_hybrid_retrieval" ->
      s"""WITH $HybridScoredCte
        |SELECT * FROM (
        |  SELECT query_id, doc_id, bm25_score, bm25_rank, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, doc_id) AS INT) AS rerank
        |  FROM scored) WHERE rerank <= 5""".stripMargin,

    "q146_hard_negatives" ->
      s"""WITH $HybridScoredCte
        |SELECT query_id, doc_id, bm25_score, bm25_rank, cosine,
        |  CAST(rn AS INT) AS neg_rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25_rank, doc_id) AS rn
        |  FROM scored WHERE cosine < 0.2)
        |WHERE rn <= 3""".stripMargin,

    "q129_dsir_select" -> {
      // score `bgr` under a (c2x, c1x, vx) model: LEFT joins + exact
      // integer zero fills for unseen bigrams/contexts, per-bigram 1e-6
      // grid quantize → order-free BIGINT sum (the q104 construction,
      // r10), q6 mean NLL — the q111 chain, cross-domain form
      def fold(tag: String, outCe: String) =
        s"""s$tag AS (SELECT b.doc_id,
           |    ln((coalesce(c.c2, 0) + 0.5) / (coalesce(k.c1, 0) + 0.5 * v$tag.v)) AS logp
           |  FROM bgr b LEFT JOIN c2$tag c USING (w1, w2)
           |    LEFT JOIN c1$tag k USING (w1), v$tag),
           |f$tag AS (SELECT doc_id,
           |    floor((-(CAST(sum(CAST(floor(logp * 1000000.0 + 0.5) AS BIGINT))
           |          AS DOUBLE) / 1000000.0)
           |      / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS $outCe,
           |    count(*) AS n_bigrams
           |  FROM s$tag GROUP BY doc_id)""".stripMargin
      s"""WITH base AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
         |bgr AS (SELECT doc_id, lang, u['w1'] AS w1, u['w2'] AS w2
         |  FROM (SELECT doc_id, lang, unnest(list_transform(range(1, len(w)),
         |      i -> {'w1': w[i], 'w2': w[i+1]})) AS u
         |    FROM base WHERE len(w) >= 2)),
         |c2a AS (SELECT w1, w2, count(*) AS c2 FROM bgr GROUP BY 1, 2),
         |c1a AS (SELECT w1, sum(c2) AS c1 FROM c2a GROUP BY 1),
         |va AS (SELECT count(DISTINCT word) AS v
         |  FROM (SELECT unnest(w) AS word FROM base)),
         |c2t AS (SELECT w1, w2, count(*) AS c2 FROM bgr WHERE lang = 'en' GROUP BY 1, 2),
         |c1t AS (SELECT w1, sum(c2) AS c1 FROM c2t GROUP BY 1),
         |vt AS (SELECT count(DISTINCT word) AS v
         |  FROM (SELECT unnest(w) AS word FROM base WHERE lang = 'en')),
         |${fold("a", "ce_base")},
         |${fold("t", "ce_target")},
         |wts AS (SELECT fa.doc_id, fa.n_bigrams, fa.ce_base, ft.ce_target,
         |    greatest(floor(exp(fa.ce_base - ft.ce_target) * 1000000.0 + 0.5) / 1000000.0,
         |      CAST(0.000001 AS DOUBLE)) AS weight
         |  FROM fa JOIN ft USING (doc_id)),
         |keyed AS (SELECT *,
         |    pow((('0x'||substr(md5(doc_id||'#dsir129'), 1, 8))::UBIGINT::BIGINT + 1)
         |        / 4294967296.0, 1.0 / weight) AS key
         |  FROM wts)
         |SELECT doc_id, n_bigrams, ce_base, ce_target, weight, sample_rank FROM (
         |  SELECT doc_id, n_bigrams, ce_base, ce_target, weight,
         |    CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS sample_rank
         |  FROM keyed) WHERE sample_rank <= 150""".stripMargin
    },

    "q130_span_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sp AS (SELECT doc_id, u['pos'] AS pos,
        |    ('0x'||substr(md5(u['sh']), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 8),
        |      i -> {'pos': i, 'sh': array_to_string(w[i:i+9], ' ')})) AS u
        |    FROM toks)),
        |occ AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS n,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM sp),
        |cov AS (SELECT DISTINCT doc_id, tokpos FROM (
        |    SELECT doc_id, unnest(range(pos, pos + 10)) AS tokpos
        |    FROM occ WHERE n > 1 AND rn > 1)),
        |tok AS (SELECT doc_id, u['p'] AS tokpos, u['t'] AS tok
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |      i -> {'p': i, 't': w[i]})) AS u FROM toks)),
        |kept AS (SELECT t.doc_id, count(*) AS k,
        |    string_agg(t.tok, ' ' ORDER BY t.tokpos) AS clean_text
        |  FROM tok t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.tokpos = c.tokpos
        |  WHERE c.doc_id IS NULL GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |  b.n_tokens - coalesce(k.k, 0) AS n_removed,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks) b
        |LEFT JOIN kept k USING (doc_id)""".stripMargin,

    "q131_curriculum_order" -> {
      val lm = LLMQueries.LmFoldedCte
      s"""$lm,
        |ce AS (SELECT doc_id,
        |    floor((-(CAST(qs AS DOUBLE) / 1000000.0) / n_bigrams)
        |      * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy
        |  FROM folded),
        |r AS (SELECT doc_id, cross_entropy,
        |    CAST(row_number() OVER (ORDER BY cross_entropy, doc_id) AS INT) AS ce_rank,
        |    count(*) OVER () AS n
        |  FROM ce),
        |phased AS (SELECT doc_id, cross_entropy, ce_rank,
        |    CAST(((ce_rank - 1) * 3) // n AS INT) AS phase,
        |    ('0x'||substr(md5(doc_id||'#cur131'), 1, 8))::BIGINT AS shuffle_key
        |  FROM r)
        |SELECT doc_id, phase, shuffle_key,
        |  CAST(row_number() OVER (ORDER BY phase, shuffle_key, doc_id) AS INT)
        |    AS curriculum_pos
        |FROM phased""".stripMargin
    },

    "q132_kanon_release" ->
      """WITH u AS (SELECT lang, source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks FROM documents),
        |kk AS (SELECT greatest(5, count(*) // 100) AS k FROM u),
        |cells AS (SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM u GROUP BY 1, 2)
        |SELECT lang, source, CAST(1 AS BIGINT) AS n_groups, n_docs, n_tokens
        |FROM cells, kk WHERE n_docs >= k
        |UNION ALL
        |SELECT '__suppressed', '__suppressed', count(*),
        |  CAST(coalesce(sum(n_docs), 0) AS BIGINT),
        |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
        |FROM cells, kk WHERE n_docs < k HAVING count(*) > 0""".stripMargin,

    "q133_diverse_sample" ->
      s"""${GateQueries.KMeansAsgnCte}
        |SELECT vec_id, centroid_id FROM (
        |  SELECT nid AS vec_id, cid AS centroid_id,
        |    row_number() OVER (PARTITION BY cid ORDER BY
        |      ('0x'||substr(md5(nid||'#div133'), 1, 8))::BIGINT / 4294967296.0,
        |      nid) AS rn
        |  FROM asgn) WHERE rn <= 12""".stripMargin,

    "q126_corpus_drift" ->
      s"""WITH ${DriftCtes("SELECT word, c FROM cALL")}
        |SELECT source, max(m) AS n_tokens,
        |  CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS INT) AS n_words_absent,
        |  $DriftJsSum AS js_divergence
        |FROM terms GROUP BY source""".stripMargin,

    // capped replay: identical CTEs with the vocabulary narrowed to the
    // top-12 by (count DESC, word) — the same deterministic TakeOrdered
    // — plus the retained-corpus-mass audit (exact BIGINT sum of the
    // scored words' counts over the corpus total, then q6)
    "q134_drift_capped" -> DriftCappedSql,

    // q139's sketch-selected path provably EQUALS the exact top-V cut on
    // the gated fixture (the CMS never undercounts, so its top-(V+slack)
    // candidate set contains the exact top-V, and selected words keep
    // exact counts) — the oracle is therefore q134's replay verbatim;
    // the cross-engine hash match is what gates the equality
    "q139_drift_sketched" -> DriftCappedSql,

    "q141_langid_trained" -> LangIdSql
  )

  /** The q141 replay: five unrolled one-vs-rest trajectories (q124's
    * residual→gradient→weights→margin construction, two iterations
    * each) over ONE shared char-trigram feature CTE, then the argmax.
    * `feat`/`raw` are MATERIALIZED: five chains × two iterations
    * reference them ~20 times, and DuckDB would otherwise re-inline
    * the trigram explode per reference. A `def` (no sibling-`val`
    * interpolation at object init).
    */
  private def LangIdSql: String = {
    val classes = Seq("de", "en", "es", "fr", "zh")
    // per-class margin replay: per-feature w·cnt quantized to the 1e-6
    // grid as BIGINT, summed order-free (the q104/q124 construction)
    def margin(c: String, wCte: String, out: String) =
      s"""$out AS (SELECT id, y,
         |    floor(1.0 / (1.0 + exp(-(CAST(qz AS DOUBLE) / 1000000.0)))
         |      * 1000000.0 + 0.5) / 1000000.0 AS p
         |  FROM (SELECT id, sum(CAST(floor((wt * cnt) * 1000000.0 + 0.5)
         |        AS BIGINT)) AS qz
         |      FROM feat JOIN $wCte USING (bucket) GROUP BY id) z
         |  JOIN base_$c USING (id))""".stripMargin
    // iteration 1 starts from all-zero weights: z = 0 exactly, so
    // p = q6(1/(1+exp(0))) = 0.5 in any engine (q124's shortcut)
    def chain(c: String): String =
      s"""base_$c AS (SELECT id, CASE WHEN lang = '$c' THEN 1 ELSE 0 END AS y FROM raw),
         |e1_$c AS (SELECT id, CAST(floor((0.5 - y) * 1000000.0 + 0.5) AS BIGINT) AS e
         |  FROM base_$c),
         |g1_$c AS (SELECT bucket, sum(e * cnt) AS g FROM feat JOIN e1_$c USING (id)
         |  GROUP BY 1),
         |w1_$c AS (SELECT bucket, 0.0 - 0.5 * (CAST(g AS DOUBLE) / 1000000.0 / n.n) AS wt
         |  FROM g1_$c, n),
         |${margin(c, s"w1_$c", s"p2_$c")},
         |e2_$c AS (SELECT id, CAST(floor((p - y) * 1000000.0 + 0.5) AS BIGINT) AS e
         |  FROM p2_$c),
         |g2_$c AS (SELECT bucket, sum(e * cnt) AS g FROM feat JOIN e2_$c USING (id)
         |  GROUP BY 1),
         |w2_$c AS (SELECT bucket, w1_$c.wt - 0.5 * (CAST(g AS DOUBLE) / 1000000.0 / n.n) AS wt
         |  FROM w1_$c JOIN g2_$c USING (bucket), n),
         |${margin(c, s"w2_$c", s"p3_$c")}""".stripMargin
    s"""WITH raw AS MATERIALIZED (
       |  SELECT doc_id AS id, lang, string_split(text,' ')[1:6] AS w FROM documents),
       |n AS (SELECT count(*) AS n FROM raw),
       |feat AS MATERIALIZED (
       |  SELECT id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT id, CAST(('0x'||substr(md5(g||'#lid141'),1,8))::BIGINT % 64 AS INT)
       |        AS bucket
       |    FROM (SELECT id, m[i:i+2] AS g
       |      FROM (SELECT id, m, unnest(range(1, len(m)-1)) AS i
       |        FROM (SELECT id, '^'||word||'$$' AS m
       |          FROM (SELECT id, unnest(w) AS word FROM raw)))))
       |  GROUP BY 1, 2
       |  UNION ALL SELECT id, -1, 1 FROM raw),
       |${classes.map(chain).mkString(",\n")},
       |ranked AS (SELECT id, cls, p,
       |    row_number() OVER (PARTITION BY id ORDER BY p DESC, cls ASC) AS rn
       |  FROM (${classes.map(c => s"SELECT id, '$c' AS cls, p FROM p3_$c")
             .mkString(" UNION ALL ")}))
       |SELECT r.id AS doc_id, r.lang,
       |  ${classes.map(c => s"p3_$c.p AS score_$c").mkString(", ")},
       |  w.p AS score, w.cls AS predicted
       |FROM raw r ${classes.map(c => s"JOIN p3_$c USING (id)").mkString(" ")}
       |JOIN (SELECT id, cls, p FROM ranked WHERE rn = 1) w USING (id)""".stripMargin
  }

  /** The shared q134/q139 capped-drift replay (q139's CMS-selected grid
    * equals the exact top-V cut by the never-undercount contract). A
    * `def`: interpolated during `oracles`' own initialization.
    */
  private def DriftCappedSql: String =
    s"""WITH ${DriftCtes("SELECT word, c FROM cALL ORDER BY c DESC, word LIMIT 12")}
      |SELECT source, max(m) AS n_tokens,
      |  CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS INT) AS n_words_absent,
      |  $DriftJsSum AS js_divergence,
      |  floor((CAST(sum(c) AS DOUBLE) / max(n)) * 1000000.0 + 0.5)
      |    / 1000000.0 AS v_covered_mass
      |FROM terms GROUP BY source""".stripMargin

  /** Shared q126/q134 oracle scaffolding: token/count CTEs and the
    * per-word JS term grid. `vocabSel` is the SELECT defining the SCORED
    * vocabulary `c0` from the full counts `cALL` (identity for q126, a
    * deterministic top-V LIMIT for q134). */
  private def DriftCtes(vocabSel: String): String =
    s"""toks AS (SELECT source, unnest(string_split(text,' ')) AS word
      |  FROM documents),
      |cALL AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
      |c0 AS ($vocabSel),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
      |s AS (SELECT source, word, CAST(count(*) AS BIGINT) AS s FROM toks GROUP BY 1, 2),
      |m AS (SELECT source, CAST(count(*) AS BIGINT) AS m FROM toks GROUP BY 1),
      |grid AS (SELECT m.source, m.m, c0.word, c0.c, nn.n, coalesce(s.s, 0) AS s
      |  FROM m CROSS JOIN c0 CROSS JOIN nn
      |  LEFT JOIN s ON s.source = m.source AND s.word = c0.word),
      |terms AS (SELECT source, m, word, s, c, n,
      |    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) / m)
      |        * ln((CAST(s AS DOUBLE) / m)
      |            / ((CAST(s AS DOUBLE) / m + CAST(c AS DOUBLE) / n) / 2.0))
      |      ELSE 0.0 END
      |    + (CAST(c AS DOUBLE) / n)
      |        * ln((CAST(c AS DOUBLE) / n)
      |            / ((CAST(s AS DOUBLE) / m + CAST(c AS DOUBLE) / n) / 2.0)) AS t
      |  FROM grid)""".stripMargin

  /** The exact-integer-grid JS sum (mirrors Drift's Spark expression
    * bit for bit: per-word 1e-6 quantize → BIGINT sum → ×0.5 → q6).
    * A `def`: the `oracles` val interpolates this during its own
    * initialization, before a sibling `val` would be assigned. */
  private def DriftJsSum: String =
    """floor((0.5 * (CAST(sum(CAST(floor(t * 1000000.0 + 0.5) AS BIGINT))
      |      AS DOUBLE) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0""".stripMargin
}
