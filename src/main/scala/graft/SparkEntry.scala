package graft

import graft.operators._
import graft.sources.Tables
import graft.streaming.{CorpusIngest, EventStreams, SketchIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One driver gate: a DataFrame builder over the driver test corpus, the
  * DuckDB-equivalent SQL the driver hash-compares its output against
  * (column names aliased identically on both sides; the driver sorts
  * columns by name before hashing), and how Bench measures it.
  *
  * @param harness   the gate's wall time is a fixed HARNESS, not one plan:
  *                  a MemoryStream REPLAY (sequential micro-batches through
  *                  a stateful streaming query) or an ITERATIVE training
  *                  loop of driver-paced jobs (BpeTrain: 30 argmax+merge
  *                  rounds). Bench runs it once per suite (warmed only in
  *                  fork mode, where the JVM is cold): repeating a
  *                  deterministic harness buys minutes of wall for zero
  *                  regression signal. Each row's comment names its kind.
  * @param droppable dropped FIRST from the driver-facing compact metric
  *                  line when it would breach the tail-capture byte budget
  *                  (Bench.LineCap): the from-scratch oracle-anchor twins
  *                  whose production (indexed/IVF) path is also on the
  *                  line, plus the replay harnesses (their wall prices the
  *                  harness, not a plan). A droppable gate is still
  *                  MEASURED every round and always lands with full
  *                  precision in bench.json; the flag only decides who
  *                  falls off the 2000-char driver tail first (a failed -1
  *                  entry never does), and whose unit members the budget
  *                  trimmer cuts first.
  * @param group     the bench unit the gate measures in (see [[Gate.Group]]);
  *                  None forks the gate alone. Row order inside a group is
  *                  execution order in its worker.
  * @param phase     a one-time build measured as its own bench entry next
  *                  to this (consuming) gate (see [[Gate.Phase]]).
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
                      oracle: String, harness: Boolean = false,
                      droppable: Boolean = false, group: Option[Gate.Group] = None,
                      phase: Option[Gate.Phase] = None)

object Gate {

  /** Gates measured inside ONE bench worker JVM.
    *
    * A MEMO FAMILY (`memo = true`) shares a memoized build (the
    * param-keyed index/training memos: train once, serve many), so the
    * build is paid once per family instead of once per fork. Round 15's
    * fork-per-query suite re-trained the same stores ~20× (~20 min of
    * redundant wall) and blew the driver's cap; family scoping keeps
    * fresh-JVM isolation BETWEEN families while restoring the build-once
    * economics. Members still measure sequentially with the standard
    * settle between them, each reporting its own warm number; estimates
    * carry a family-build surcharge. Mis-grouping is safe: members that
    * share nothing just measure like a small suite.
    *
    * A cost BATCH (`memo = false`) has NO shared build: it groups CHEAP
    * gates (1-4 s each) only to amortize the per-fork startup (JVM boot +
    * SparkSession + warmup-cache priming, ~8 s per unit). Round 16
    * measured only 93 of 158 entries inside the wall budget; ~50 of the 65
    * cuts were sub-4 s gates each paying a full fork. A batch is
    * HOMOGENEOUS in droppability (`SparkEntry.batch` sets it for every
    * member), so the budget trimmer cuts whole batches and never strands a
    * must gate behind a droppable one; it gets no build surcharge. */
  final case class Group(name: String, memo: Boolean)

  /** A one-time artifact build measured as its own bench entry: the
    * consuming gates memoize the artifact, so their warm measured passes
    * time the CONSUME path alone, and the phase keeps the BUILD cost
    * visible. `build(spark, sfDir, outDir)` writes into a fresh `outDir`. */
  final case class Phase(name: String, build: (SparkSession, String, String) => Unit) {

    /** Seconds for one build into a fresh temp directory, which is then
      * removed best-effort (a cleanup failure must not void the
      * measurement, nor replace the build's own exception). */
    def timeOnce(spark: SparkSession, sfDir: String): Double = {
      val t0 = System.nanoTime()
      val tmp = java.nio.file.Files.createTempDirectory("graft_phase")
      try {
        build(spark, sfDir, tmp.toString)
        (System.nanoTime() - t0) / 1e9
      } finally {
        try java.nio.file.Files.walk(tmp)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }
}

/** Driver contract — see SURVEY.md §7: the `entry` smoke query, plus
  * `queries` and `oracleSql`, both derived from the one [[gates]] table. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    AggregateOrders.fromDir(spark, "/root/testdata/sf0.001")
  }

  /** Wrap a query so the session carries graft's runtime confs (non-ANSI
    * casts, UTC, AQE) regardless of who built it. */
  private def tuned(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(GraftSession.tune(s), dir)

  /** Every driver gate, one row each: an operator from SURVEY §2 or a
    * training-data pipeline extension. Bench units first (row order inside
    * a group is execution order: light probes first, lifecycle rewrites
    * next, the streaming replay LAST — its residue inflated a light probe
    * 3× when the r17 hash-scramble ran it mid-family), then the gates that
    * fork alone. */
  lazy val gates: Seq[Gate] =
    // ---- must batches ----
    batch("b_tpch", droppable = false)(
      Gate("q1_agg_orders", AggregateOrders.fromDir, AggregateOrders.oracle),
      Gate("q2_net_demand", NetDemand.fromDir, NetDemand.oracle),
      Gate("q3_supplier_orders", SupplierOrders.fromDir, SupplierOrders.oracle)) ++
    batch("b_scan", droppable = false)(
      Gate("s5_row_counts", MiscOps.rowCounts, MiscOps.s5Oracle),
      Gate("s7_snapshot_scan", MiscOps.eventsOnDay(_, _), MiscOps.s7Oracle()),
      Gate("o20_summary", MiscOps.pipelineSummary, MiscOps.o20Oracle),
      Gate("events_hourly", EventStreams.hourlyBatch, EventStreams.hourlyOracle),
      Gate("sessions", EventStreams.sessionsFromDir, EventStreams.sessionsOracle()),
      Gate("range_join_windows", RangeJoin.fromDir, RangeJoin.oracle),
      Gate("shipping_priority_topk", ShippingPriority.fromDir, ShippingPriority.oracle()),
      // REAL format decode: P6 PPM payloads built on the scan, header actually parsed in the
      // mapPartitions seam, triplet-strided channel sums — the decode seam value-gated on
      // structure, not just bytes
      Gate("multimodal_decode", Multimodal.decodeGateFromDir, Multimodal.decodeOracle)) ++
    batch("b_text", droppable = false)(
      Gate("text_fingerprint", TextAnalysis.fingerprintsFromDir, TextAnalysis.fingerprintOracle),
      Gate("text_quality", TextAnalysis.qualityFromDir, TextAnalysis.qualityOracle),
      Gate("text_repetition", TextAnalysis.repetitionFromDir, TextAnalysis.repetitionOracle),
      // corpus TF-IDF, top-k terms per doc (vocabulary-sized df join, WindowGroupLimit top-k)
      Gate("tfidf_topk", TfIdf.fromDir, TfIdf.oracle()),
      // exact per-source token-count percentiles via the (source, count) histogram — rank math
      // in integers, shuffle bounded by distinct count values, never corpus rows
      Gate("token_percentiles", CorpusStats.percentilesFromDir, CorpusStats.percentilesOracle()),
      // bigram collocations by PMI: in-row window generation, two vocabulary-sized count
      // shuffles, one ln over a fixed-order ratio
      Gate("pmi_bigrams", Collocations.fromDir, Collocations.oracle())) ++
    batch("b_corpus", droppable = false)(
      Gate("dedup_exact", Dedup.exactFromDir, Dedup.exactOracle),
      // sliding-window chunking: scan-fused explode, coordinates + fingerprints only (chunk
      // text goes to shards, not through the gate)
      Gate("doc_chunks", Chunker.fromDir, Chunker.oracle()),
      Gate("mixture_sample", Curation.mixtureSampleFromDir, Curation.mixtureSampleOracle),
      Gate("source_quota", Curation.sourceQuotaFromDir, Curation.sourceQuotaOracle()),
      // ROLLUP grouping sets: per-(source, lang) composition + subtotals, exact-integer stats
      // (quality as 6-dp micros)
      Gate("corpus_rollup", CorpusStats.fromDir, CorpusStats.oracle),
      // deterministic training-order shuffle: seeded content-hash global permutation,
      // token-budget shards cut along it (distributed prefix sum), per-shard packed-content
      // hash + distinct-source interleaving
      Gate("corpus_shuffle", Curation.corpusShuffleFromDir, Curation.corpusShuffleOracle()),
      // the transform that report feeds: drop every position covered by a cross-doc-dup window,
      // rebuild text position-ordered
      Gate("dup_span_removal", DupCoverage.removeFromDir(_, _), DupCoverage.removeOracle()),
      // KMV bottom-k cardinality sketch (bounded-state custom aggregate): per-source
      // distinct-shingle estimate next to the exact count — the 100 TB COUNT(DISTINCT)
      // replacement; k longs/group shuffle, not the distinct key set
      Gate("sketch_kmv_cardinality", Sketches.kmvCardinalityFromDir,
        Sketches.kmvCardinalityOracle())) ++
    batch("b_curation", droppable = false)(
      // embedding-prototype quality scoring: K literal codegen'd cosines fused into the one
      // embeddings scan — zero shuffles, zero joins
      Gate("semantic_quality", Similarity.semanticQualityFromDir(_, _),
        Similarity.semanticQualityOracle()),
      // the multimodal face of the dedup family: banded Hamming join over the aHash signatures
      // — equi-join on 16-bit bands, never all-pairs
      Gate("dedup_image_ahash", Multimodal.ahashNearDupsFromDir, Multimodal.ahashNearDupsOracle()),
      // CCNet/KenLM-style REFERENCE-LM filter: every doc scored under a bigram LM whose counts
      // come from the trusted src0 slice only — Laplace-floored back-off keeps unseen positions
      // finite and exact
      Gate("ref_lm_logprob", BigramLm.refFromDir, BigramLm.refOracle()),
      Gate("asof_price_join", AsOfJoin.fromDir, AsOfJoin.oracle),
      // DSIR importance RESAMPLING toward the target distribution: hashed unigram+bigram
      // log-likelihood ratios (Laplace-smoothed, micros-exact), deterministic md5 Gumbel keys,
      // top-1/quota integer cut
      Gate("curation_dsir", Dsir.fromDir, Dsir.oracle())) ++
    // ---- droppable batches ----
    batch("b_dedup_anchors", droppable = true)(
      // quality-max canonical per near-dup cluster ("keep the BEST copy"): window over the
      // sparse clustered minority only, anti-join back
      // droppable: production path: dedup_canonical_indexed
      Gate("dedup_canonical", NearDupClusters.canonicalFromDir, NearDupClusters.canonicalOracle()),
      // cross-source duplication matrix: verified pairs resolved to sources via ONE corpus scan
      // + a pair-sized regroup
      // droppable: production path: dedup_source_matrix_indexed
      Gate("dedup_source_matrix", SourceMatrix.fromDir, SourceMatrix.oracle()),
      // droppable: production path: the ClusterStore consumers
      Gate("dedup_clusters", NearDupClusters.fromDir, NearDupClusters.oracle()),
      // leakage-safe train/val/test split: near-dup clusters are the split unit (near-dups
      // never straddle splits), buckets content-addressed by the representative's fingerprint
      // droppable: production path: corpus_split_indexed
      Gate("corpus_split", CorpusSplit.fromDir, CorpusSplit.oracle()),
      // droppable: from-scratch pair graph; paid once in cluster_store_build
      Gate("dedup_ngram_jaccard", Dedup.ngramFromDir, Dedup.ngramJaccardOracle()),
      // oracle: the MinHash/SimHash/fingerprint internals run on a cross-engine md5-prefix
      // hash, so the FULL pipelines (signatures, banding, blocking, verification) have exact
      // DuckDB twins
      // droppable: from-scratch LSH; production path dedup_delta_lsh
      Gate("dedup_minhash_lsh", (s, dir) => Dedup.minhashLsh(Tables.documents(s, dir)),
        Dedup.minhashLshOracle()),
      // droppable: alternative near-dup signal; primary is the MinHash family
      Gate("dedup_simhash", (s, dir) => Dedup.simhashNearDups(Tables.documents(s, dir)),
        Dedup.simhashOracle()),
      // droppable: brute embedding near-dup; scale path is the IVF family
      Gate("dedup_embedding_cosine", Dedup.embeddingFromDir, Dedup.embeddingNearDupsOracle()),
      // LSH config certification: realized banding recall against the exact pair truth (lsh ⊆
      // truth structurally; the ann_recall of dedup)
      // droppable: certification gate: truth side IS the droppable dedup_ngram_jaccard pair
      // graph + the droppable dedup_minhash_lsh pipeline; run on a sample slice at scale
      Gate("dedup_lsh_recall", Dedup.lshRecallFromDir, Dedup.lshRecallOracle())) ++
    batch("b_text_anchors", droppable = true)(
      // BM25 retrieval: deterministic top-df query terms, micros-exact per-term scores, long
      // sums, TakeOrderedAndProject top-k
      // droppable: production path: bm25_indexed
      Gate("bm25_topk", Bm25.fromDir(_, _), Bm25.oracle()),
      // droppable: brute O(N·K) anchor; scale path ivf_ann_topk
      Gate("knn_cosine_topk", Similarity.knnFromDir(_, _), Similarity.knnOracle()),
      // label-noise screen: leave-one-out kNN majority label vs own label (neighbor generation
      // is the swappable component — IVF at scale)
      // droppable: quadratic anchor; scale path label_knn_agreement_ivf
      Gate("label_knn_agreement", LabelNoise.fromDir(_, _), LabelNoise.oracle()),
      // droppable: banded-ANN alternative; scale path is the IVF family
      Gate("lsh_ann_topk", Similarity.lshAnnFromDir(_, _), Similarity.lshAnnOracle()),
      // int8 scalar quantization (4x fewer index bytes): asymmetric brute top-k —
      // full-precision queries vs the quantized-decoded corpus; encode/decode/score math pinned
      // exactly, recall priced by spec
      // droppable: brute O(N·Q) anchor like knn_cosine_topk (dropped for the same reason);
      // scale path is the IVF family
      Gate("ann_sq8_topk", Similarity.sq8KnnFromDir(_, _), Similarity.sq8KnnOracle()),
      // unigram-LM log-prob quality proxy: multiplicity decomposition, long sums of
      // micros-rounded lns, one exact-long division for the mean
      // droppable: superseded by bigram_logprob (same discipline, order up)
      Gate("unigram_logprob", UnigramLm.fromDir, UnigramLm.oracle),
      // droppable: strict cost-subset of text_quality (same scan-fused single pass, fewer
      // derived columns)
      Gate("text_token_stats", TextAnalysis.tokenStatsFromDir, TextAnalysis.tokenStatsOracle),
      // droppable: scan-fused single pass, the text_quality cost class (text_quality stays on
      // the line); the langid rule itself is spec-asserted
      Gate("text_langid", TextAnalysis.langIdFromDir, TextAnalysis.langIdOracle),
      // interpolated bigram-LM log-prob (fluency step up from unigram_logprob)
      // droppable: self-scored anchor; the production filter form ref_lm_logprob stays on the
      // line
      Gate("bigram_logprob", BigramLm.fromDir, BigramLm.oracle()),
      // redaction over deterministically-planted PII (the raw corpus has none — a pass-through
      // redactor must FAIL this hash, see redactFromDir)
      // droppable: scan-fused per-row regex pass, the text_quality cost class (text_quality
      // stays on the line); the redaction rules themselves are spec- and oracle-asserted
      Gate("text_redact", TextAnalysis.redactFromDir, TextAnalysis.redactOracle),
      // droppable: scan-fused per-row transform, the same text_quality cost class (same
      // rationale)
      Gate("text_normalize", TextAnalysis.normalizeFromDir, TextAnalysis.normalizeOracle)) ++
    batch("b_misc_anchors", droppable = true)(
      // droppable: composed inside corpus_curate_e2e (same rule fragments)
      Gate("corpus_clean", CorpusClean.fromDir, CorpusClean.oracle()),
      // droppable: composed inside corpus_curate_e2e (same rule fragments, on the line)
      Gate("decontaminate", Curation.decontaminateFromDir(_, _), Curation.decontaminateOracle()),
      // fuzzy (MinHash near-dup) decontamination: paraphrased benchmark leakage sharing no
      // exact 8-gram; band-bucket candidates, cross pairs only — the standard
      // fuzzy-dedup-vs-evals pass
      // droppable: from-scratch LSH over train∪eval (the dedup_minhash_lsh rationale);
      // production signs eval once via the DedupIndex path
      Gate("decontaminate_fuzzy", Curation.decontaminateFuzzyFromDir,
        Curation.decontaminateFuzzyOracle()),
      // the decon AUDIT artifact: per benchmark doc, leaking-train-doc and leaked-shingle
      // counts (zero-leak docs stay visible)
      // droppable: report twin of decontaminate (same shingle join, grouped per eval doc; both
      // droppable — the composed corpus_curate_e2e is on the line)
      Gate("decontamination_report", Curation.reportFromDir(_, _), Curation.reportOracle()),
      // cross-doc duplicated 8-gram coverage: one pinned shingle stage, singleton-majority
      // filtered before the merge-hinted dup join
      // droppable: report twin; the consuming transform dup_span_removal stays on the line
      Gate("dup_ngram_coverage", DupCoverage.fromDir(_, _), DupCoverage.oracle()),
      // dataset-version ledger: added/removed/changed/unchanged between two snapshot days — ONE
      // full outer join over (id, fingerprint) pairs
      // droppable: ledger anchor; the composed corpus_diff_recurate path is on the line
      Gate("corpus_diff", CorpusDiff.fromDir, CorpusDiff.oracle()),
      // droppable: strict cost-subset of corpus_packed (same prefix sum + pack finish)
      Gate("corpus_shards", Curation.shardFromDir, Curation.shardOracle()),
      // droppable: strict cost-subset of corpus_shuffle (same prefix-sum + pack, minus the
      // permutation keys)
      Gate("corpus_packed", Curation.packShardsFromDir, Curation.packShardsOracle()),
      // per-type z-score outliers in exact integer arithmetic (no sqrt, no doubles):
      // aggregate-then-broadcast-compare two-pass pattern
      // droppable: single groupBy-agg pass, the events_hourly cost class (events_hourly stays
      // on the line)
      Gate("event_outliers", EventOutliers.fromDir, EventOutliers.oracle()),
      // droppable: single distinct-agg over the same events scan as events_hourly (on the line)
      // — the event_outliers rationale
      Gate("distinct_users", SkewTools.distinctUsersFromDir, SkewTools.distinctUsersOracle),
      // sketch MERGE: per-half sketches union into the union sketch, the overlap estimate falls
      // out of inclusion-exclusion — slice-vs-slice overlap from k-long arrays, no cross-slice
      // join or second scan
      // droppable: cost twin of sketch_kmv_cardinality (on the line): same shingle+hash scan
      // and bounded KMV aggregate, plus one k-long array merge
      Gate("sketch_kmv_overlap", Sketches.kmvOverlapFromDir, Sketches.kmvOverlapOracle()),
      // template/boilerplate signal: windows recurring across distinct docs
      // droppable: line-explode + group report, the dup_span_removal cost class (the consuming
      // transform dup_span_removal stays on the line)
      Gate("boilerplate_frac", Boilerplate.fromDir, Boilerplate.oracle()),
      // the M² report from M sketches: pairwise source-overlap estimates by merging k-long
      // arrays on the M-row frame — one corpus pass total
      // droppable: M²-report twin of sketch_kmv_cardinality (same corpus pass + an M-row array
      // merge); the dedup_source_matrix rationale
      Gate("sketch_kmv_source_overlap", Sketches.kmvSourceOverlapFromDir,
        Sketches.kmvSourceOverlapOracle())) ++
    batch("b_rank_anchors", droppable = true)(
      // BM25 more-like-this + brute-cosine lists fused by reciprocal-rank (micros-rounded long
      // contributions; list depth 20, final top-10)
      // droppable: brute vector-list anchor; production path hybrid_rrf_indexed
      Gate("hybrid_rrf", HybridRetrieval.fromDir, HybridRetrieval.oracle()),
      // the scale variant: vector list from the IVF probe path (cell-bounded candidates) — only
      // the list source moves, lex + fusion identical
      // droppable: in-memory IVF anchor; production path hybrid_rrf_indexed
      Gate("hybrid_rrf_ivf", HybridRetrieval.fromDirIvf, HybridRetrieval.oracleIvf()),
      // ANCE-style contrastive mining: BM25-top docs the embedding space places far away
      // (rounded cosine < tau) — query-bounded re-score
      // droppable: query-bounded re-score over hybrid_rrf_ivf's lex stage
      Gate("hard_negatives", HybridRetrieval.hardNegativesFromDir,
        HybridRetrieval.hardNegativesOracle()),
      // Matryoshka (MRL) two-stage serving: shortlist on the dPrime-dim PREFIX (4x fewer
      // flops/bytes), exact full-dim refine — brute anchor + the indexed deployment shape
      // (truncated-prefix IVF store)
      // droppable: brute MRL anchor; the indexed deployment path ivf_mrl_rerank stays on the
      // line
      Gate("ann_mrl_rerank", Similarity.mrlRerankFromDir(_, _), Similarity.mrlRerankOracle()),
      // SemDeDup: hash-quantizer cells, within-cell rounded-cosine prune (i<j dominated rule —
      // order-free, oracle-checkable)
      // droppable: hash-quantizer anchor; the production semantic_dedup_imi path stays on the
      // line
      Gate("semantic_dedup", SemanticDedup.fromDir, SemanticDedup.oracle()),
      // TRAINED quality filter: logistic regression on hashed token features, full-batch GD in
      // integer micros (iterative harness — T driver-paced gradient collects, D+1 longs each)
      // iterative harness: T gradient rounds, D+1-long collects
      // droppable: iterative training harness (the BPE-trio rationale)
      Gate("quality_classifier", (s, dir) => QualityClassifier.fromDir(s, dir),
        QualityClassifier.oracle(), harness = true),
      // droppable: cost twin of corpus_shuffle (same ScalableCumsum range-exchange core; the
      // richer composition stays on the line)
      Gate("running_revenue", ScalableCumsum.runningRevenueFromDir,
        ScalableCumsum.runningRevenueOracle),
      // droppable: same single-pass conditional-agg shape as q1_agg_orders (the reference
      // flagship, pinned to the line by the driver-surface rule)
      Gate("pricing_summary", PricingSummary.fromDir, PricingSummary.oracle)) ++
    batch("b_multimodal", droppable = true)(
      // droppable: subset of multimodal_features (same scan, fewer columns)
      Gate("multimodal_meta", Multimodal.metaFromDir, Multimodal.payloadMetaOracle),
      // frame sampling (every-Nth-frame windows) value-gated via the hex-twin fingerprint
      // surface (DuckDB lacks BLOB substring/md5)
      // droppable: hex-twin plumbing anchor; the real-decode gate multimodal_decode stays
      Gate("multimodal_frames", Multimodal.framesGateFromDir(_, _), Multimodal.framesOracle()),
      // REAL payload features (histogram + byte mass + content hash) through the imperative
      // mapPartitions decode seam — value-gated, not shape-gated
      // droppable: byte-fold anchor; the real-structure decode gate multimodal_decode stays on
      // the line
      Gate("multimodal_features", Multimodal.featuresFromDir, Multimodal.byteFeaturesOracle),
      // the seam's SECOND real format: binary BMP (LE headers, bottom-up padded rows) — proves
      // the decode seam is format-pluggable
      // droppable: second-format sibling of multimodal_decode (the PPM flagship stays on the
      // line)
      Gate("multimodal_decode_bmp", Multimodal.bmpGateFromDir, Multimodal.bmpDecodeOracle),
      // the THIRD format — and first 1-D sample stream: RIFF/WAV 16-bit PCM (chunk walk,
      // channel de-interleave, signed samples) — the seam covers the audio half of a multimodal
      // corpus, not just pixels
      // droppable: third-format sibling of multimodal_decode
      Gate("multimodal_decode_wav", Multimodal.wavGateFromDir, Multimodal.wavDecodeOracle),
      // the first COMPRESSED formats behind the seam, via the JDK's javax.imageio: real PNG
      // (DEFLATE, lossless → pixel-exact sums) ...
      // droppable: fourth-format sibling (the compressed tier's lossless anchor; the mixed gate
      // is the flagship)
      Gate("multimodal_decode_png", Multimodal.pngGateFromDir, Multimodal.pngDecodeOracle),
      // ... and real JPEG (DCT, lossy → exact header dims + decoded gray mass bounded against
      // the source rule)
      // droppable: fifth-format sibling (lossy tier; the mixed gate exercises its codec too)
      Gate("multimodal_decode_jpeg", Multimodal.jpegGateFromDir, Multimodal.jpegDecodeOracle),
      // mixed-format corpus: doc_id mod 4 → PPM/BMP/PNG/JPEG containers, magic-sniffed and
      // routed to the matching codec in one relation
      // droppable: dispatch flagship, but its per-codec cost twins (decode/bmp/png/jpeg) are
      // all measured and multimodal_decode anchors the line
      Gate("multimodal_decode_mixed", Multimodal.mixedGateFromDir, Multimodal.mixedDecodeOracle),
      // the SIXTH format — and first MULTI-FRAME container (the video seam): animated GIF,
      // every frame enumerated + decoded, per-frame exact channel sums (<=256 colors/frame =>
      // lossless palette)
      // droppable: sixth-format sibling (multi-frame tier; multimodal_decode anchors the line)
      Gate("multimodal_decode_gif", Multimodal.gifGateFromDir, Multimodal.gifDecodeOracle),
      // preprocessing: box-mean 4x4 gray thumbnail (exact integer bands)
      // droppable: same decode + band walk cost class as multimodal_ahash (already droppable)
      Gate("multimodal_resize", Multimodal.resizeGateFromDir, Multimodal.resizeOracle),
      // audio energy contour: |sample| mass per 64-frame window
      // droppable: same decode + sample walk cost class as multimodal_decode_wav (already
      // droppable)
      Gate("audio_energy_windows", Multimodal.audioEnergyGateFromDir, Multimodal.audioEnergyOracle),
      // perceptual hash over DECODED pixels: 8x8 grid aHash in exact integer math
      // (cross-multiplied means, two 32-bit halves)
      // droppable: strict cost-subset of dedup_image_ahash (same signatures, minus the banding
      // join)
      Gate("multimodal_ahash", Multimodal.ahashGateFromDir, Multimodal.ahashOracle)) ++
    batch("b_replays", droppable = true)(
      // the STREAMING engine under the batch oracle: MemoryStream replay →
      // flatMapGroupsWithState sessions → must hash-match sessionsOracle
      // replay harness
      Gate("sessions_streaming", EventStreams.sessionsStreamingFromDir(_, _),
        EventStreams.sessionsOracle(), harness = true),
      // the STREAMING windowed agg under the batch oracle: append-mode watermarked replay must
      // hash-match events_hourly's oracle
      // replay harness
      Gate("events_hourly_streaming", EventStreams.hourlyStreamingFromDir(_, _),
        EventStreams.hourlyOracle, harness = true),
      // streaming at-least-once → effectively-once: replay with PLANTED re-deliveries;
      // dropDuplicatesWithinWatermark must restore the table
      // replay harness
      Gate("dedup_stream", EventStreams.dedupStreamFromDir(_, _),
        EventStreams.dedupStreamOracle, harness = true),
      // streaming corpus ingest: quality gate + content-fingerprint dedup over a replay with
      // planted same-text/new-id re-deliveries
      // replay harness
      Gate("corpus_ingest_stream", CorpusIngest.ingestStreamFromDir(_, _),
        CorpusIngest.ingestOracle(), harness = true),
      // streaming sketch-store maintenance: per-batch merge, batchId-ledger generations,
      // planted re-deliveries absorbed by KMV set algebra (no watermark dedup state at all) —
      // final store == full recompute
      // oracle: the streaming store's final state must equal the batch append's — one oracle,
      // two maintenance paths
      // replay harness
      Gate("sketch_stream_append", SketchIngest.replayDocs(_, _),
        Sketches.appendOracle(), harness = true)) ++
    batch("b_curate_siblings", droppable = true)(
      // the DAG with the FUZZY decon stage composed in after the exact pass (MinHash near-dup
      // leakage vs eval screened in the same run)
      // droppable: composed sibling of corpus_curate_e2e (on the line) + the standalone fuzzy
      // stage's cost twin
      Gate("corpus_curate_fuzzy", CurateE2e.fuzzyFromDir, CurateE2e.fuzzyOracle()),
      // the DAG with the CCNet reference-LM filter composed in: docs in the tail perplexity
      // tercile dropped before the split (the heuristic gate and the LM filter run TOGETHER, as
      // in production)
      // droppable: composed sibling of corpus_curate_e2e; its LM stage's cost twin
      // ref_lm_buckets is measured too
      Gate("corpus_curate_lm", CurateE2e.lmFromDir, CurateE2e.lmOracle()),
      // the DAG with DSIR importance resampling composed in after exact decon: Gumbel
      // top-1/quota toward the external target distribution
      // droppable: composed sibling of corpus_curate_e2e; its resample stage's cost twin
      // curation_dsir is on the line
      Gate("corpus_curate_dsir", CurateE2e.dsirFromDir, CurateE2e.dsirOracle())) ++
    // ---- memo families ----
    family("ivf_float")(
      // the IVF pipeline under a deterministic md5-derived quantizer: the oracle reproduces
      // assignment, probe set, candidates, re-score, ranks
      // droppable: in-memory build+probe; production path ivf_probe_indexed
      Gate("ivf_ann_topk", Similarity.ivfAnnFromDir(_, _),
        Similarity.ivfAnnOracle(), droppable = true),
      // the PERSISTED index lifecycle under the SAME oracle: save → quantizer reload →
      // partition-pruned probe must equal in-memory IVF
      Gate("ivf_probe_indexed", Similarity.ivfProbeIndexedFromDir(_, _), Similarity.ivfAnnOracle()),
      // the health scan over a built+appended index, in exact integers (micros-rounded assigned
      // cosines, long sums — no float aggregation)
      Gate("ivf_index_health", Similarity.indexHealthGateFromDir(_, _),
        Similarity.indexHealthOracle()),
      // filtered (predicate-constrained) search: top-k among documents satisfying a metadata
      // predicate — the index is NOT rebuilt per predicate; candidates semi-join the allowed
      // ids before re-score, on the float tier and composed with the PQ/ADC tier
      // droppable: filtered variant of ivf_probe_indexed (on the line): same probe + one
      // candidate semi-join
      Gate("ivf_ann_filtered", Similarity.ivfAnnFilteredFromDir(_, _),
        Similarity.ivfAnnFilteredOracle(), droppable = true),
      Gate("ivf_mrl_rerank", Similarity.ivfMrlRerankFromDir(_, _), Similarity.ivfMrlRerankOracle()),
      // the production path: vector list probes the PERSISTED index (partition-pruned cells,
      // sidecar quantizer) — same oracle
      Gate("hybrid_rrf_indexed", HybridRetrieval.fromDirIndexed(_, _), HybridRetrieval.oracleIvf()),
      // the scale path gated end-to-end: every-vector IVF self-kNN under the md5 hash
      // quantizer; corpus-sized probes shuffle, never broadcast
      Gate("label_knn_agreement_ivf", LabelNoise.ivfFromDir(_, _), LabelNoise.ivfOracle()),
      // O(batch) index ingestion: append the DeltaMod delta to the backlog index, probe — must
      // equal a same-quantizer rebuild over the union
      // droppable: strict cost-subset of ivf_index_compact's gate (build+append+compact)
      Gate("ivf_index_append", Similarity.ivfAppendProbeFromDir(_, _),
        Similarity.ivfAnnOracle(), droppable = true),
      // compaction is content-preserving: build + append + compact (rewrite cells coalesced,
      // promote the next generation) + probe == the SAME full-corpus oracle as every other IVF
      // gate
      Gate("ivf_index_compact", Similarity.ivfCompactProbeFromDir(_, _), Similarity.ivfAnnOracle()),
      // deletion: remove a residue class from the full index (filtered generation promote, same
      // quantizer) — probe must equal a rebuild over the kept vectors (the oracle on the
      // filtered relation)
      // droppable: the three store-deletion gates share the filtered-rewrite mechanics of their
      // compact siblings (on the line); the deletion flagship on the line is the composed
      // corpus_diff_recurate loop
      Gate("ivf_index_remove", Similarity.ivfRemoveProbeFromDir(_, _),
        Similarity.ivfRemoveOracle(), droppable = true),
      // growth maintenance: re-quantize to C=32 and probe — must equal a from-scratch build at
      // the new C (the oracle at numCentroids=32)
      // droppable: same promote-generation primitive as ivf_index_compact (on the line)
      Gate("ivf_requantize", Similarity.ivfRequantizeProbeFromDir(_, _),
        Similarity.ivfAnnOracle(numCentroids = 32), droppable = true),
      // STREAMING index ingestion: the delta replayed as micro-batches with planted
      // re-deliveries; watermark dedup -> the same O(batch) append -> probe must STILL equal
      // the same-quantizer rebuild over the union
      // replay harness
      Gate("ivf_stream_append", Similarity.ivfStreamAppendProbeFromDir(_, _),
        Similarity.ivfAnnOracle(), harness = true, droppable = true)) ++
    family("ivf_trained")(
      // k-means quantizer TRAINING, exact: md5 init, integer-micros Lloyd updates, T iterations
      // unrolled as oracle CTE chains (the BpeTrain discipline) — the gate output is the final
      // update's integer stats
      // iterative harness: T Lloyd rounds, K·dim-long collects each
      // droppable: strict cost-subset of ivf_ann_trained (same training loop, on the line)
      Gate("kmeans_train", Similarity.kmeansTrainFromDir(_, _),
        Similarity.kmeansTrainOracle(), harness = true, droppable = true),
      // the IVF probe pipeline under the TRAINED quantizer (not the raw hash quantizer) —
      // production ANN quality rides this path
      // iterative harness: the same training loop feeding one probe plan
      // droppable: in-memory trained anchor; ivf_probe_trained (the persisted production path)
      // stays on the line
      Gate("ivf_ann_trained", Similarity.ivfAnnTrainedFromDir(_, _),
        Similarity.ivfAnnTrainedOracle(), harness = true, droppable = true),
      // the FULL production configuration: persisted index built with the trained quantizer,
      // sidecar round-trip, partition-pruned probe
      // iterative harness: training + index build memoized; probe plan after
      Gate("ivf_probe_trained", Similarity.ivfProbeTrainedFromDir(_, _),
        Similarity.ivfAnnTrainedOracle(), harness = true),
      // SemDeDup under the trained quantizer — the production swap the scaladoc promises, gated
      // instead of asserted
      // iterative harness: the same training loop feeding the prune
      // droppable: trained twin; semantic_dedup + the training phase's cost are both on the
      // line
      Gate("semantic_dedup_trained", SemanticDedup.trainedFromDir(_, _),
        SemanticDedup.trainedOracle(), harness = true, droppable = true)) ++
    family("ivf_imi")(
      // the two-level IMI quantizer: independent half-space codebooks trained with the
      // exact-Lloyd machinery, cell = (argmax1, argmax2) — C1*C2 cells for C1+C2 half-width
      // sweeps, retiring the O(N*C) flat assignment sweep; persisted combined-cell index,
      // pruned probe
      // iterative harness: two half-space training loops + memoized build
      Gate("ivf_ann_imi", Similarity.imiAnnFromDir(_, _),
        Similarity.imiAnnOracle(), harness = true),
      // IMI lifecycle parity: O(batch) append under the frozen half codebooks (oracle trains on
      // the backlog only), and takedown via the filtered generation rewrite (oracle restricts
      // serving to kept)
      // iterative harness: backlog training loops + memoized backlog build
      // droppable: lifecycle sibling of ivf_index_append (the flagship ivf_ann_imi stays on the
      // line)
      Gate("ivf_imi_append", Similarity.imiAppendProbeFromDir(_, _),
        Similarity.imiAnnOracle(trainWhere = backlog), harness = true, droppable = true),
      // iterative harness: the same memoized trained build + one rewrite
      // droppable: filtered-rewrite sibling of ivf_index_remove
      Gate("ivf_imi_remove", Similarity.imiRemoveProbeFromDir(_, _),
        Similarity.imiAnnOracle(keepWhere = backlog), harness = true, droppable = true),
      // IMI compaction (content-preserving, re-passes the append oracle) and requantize (both
      // codebooks retrained at the new C over the union — must equal a from-scratch build at
      // (16, 16))
      // iterative harness: backlog training loops + append + one rewrite
      // droppable: lifecycle sibling of ivf_index_compact
      Gate("ivf_imi_compact", Similarity.imiCompactProbeFromDir(_, _),
        Similarity.imiAnnOracle(trainWhere = backlog), harness = true, droppable = true),
      // iterative harness: backlog + union retraining at the new C
      // droppable: rebuild-at-newC sibling of ivf_requantize
      Gate("ivf_imi_requantize", Similarity.imiRequantizeProbeFromDir(_, _),
        Similarity.imiAnnOracle(c1 = 16, c2 = 16), harness = true, droppable = true),
      // the drift scan on the two-level tier: per-row quality = sum of the two half-space
      // assigned cosines, micros-exact integer surface
      // droppable: scan twin of ivf_index_health (on the line), two half-space sweeps instead
      // of one flat
      Gate("ivf_imi_health", Similarity.imiHealthGateFromDir(_, _),
        Similarity.imiHealthOracle(), droppable = true),
      // the two-level path: vector list probes the persisted trained IMI index — only the list
      // source moves; lex + fusion identical
      // iterative harness: the memoized trained IMI store + fusion plan
      // droppable: fusion twin of hybrid_rrf_indexed (on the line); its list source ivf_ann_imi
      // is too
      Gate("hybrid_rrf_imi", HybridRetrieval.fromDirImi(_, _),
        HybridRetrieval.oracleImi(), harness = true, droppable = true),
      // SemDeDup over the persisted trained IMI store's assignment — the production
      // semantic-dedup configuration (the measured 5.8x assignment win), prune CTEs unchanged
      // iterative harness: the memoized trained IMI store + the prune plan
      Gate("semantic_dedup_imi", SemanticDedup.imiFromDir(_, _),
        SemanticDedup.imiOracle(), harness = true)) ++
    family("imi_sq8")(
      // the COMPOSED serving tier a 100 TB deployment runs: two-level IMI cells storing SQ8
      // codes — O(sqrt(C)·dim) assignment AND 4x less probe read; probe = pruned combined-cell
      // read -> decode -> asymmetric re-score. Full lifecycle under the one shared
      // rewriteGeneration discipline (sidecars: both codebooks + extrema)
      // iterative harness: two half-space training loops + memoized build
      Gate("imi_sq8_probe", Similarity.imiSq8ProbeFromDir(_, _),
        Similarity.imiSq8Oracle(), harness = true),
      // iterative harness: backlog training loops + memoized backlog build
      // droppable: lifecycle sibling of imi_sq8_probe (on the line); the ivf_index_append
      // rationale
      Gate("imi_sq8_append", Similarity.imiSq8AppendProbeFromDir(_, _),
        Similarity.imiSq8Oracle(trainWhere = backlog, statsWhere = backlog),
        harness = true, droppable = true),
      // iterative harness: the memoized composed build + one rewrite
      // droppable: filtered-rewrite sibling of ivf_imi_remove
      Gate("imi_sq8_remove", Similarity.imiSq8RemoveProbeFromDir(_, _),
        Similarity.imiSq8Oracle(keepWhere = backlog), harness = true, droppable = true),
      // iterative harness: backlog training loops + append + one rewrite
      // droppable: lifecycle sibling of ivf_imi_compact
      Gate("imi_sq8_compact", Similarity.imiSq8CompactProbeFromDir(_, _),
        Similarity.imiSq8Oracle(trainWhere = backlog, statsWhere = backlog),
        harness = true, droppable = true),
      // iterative harness: backlog + union retraining at the new C
      // droppable: rebuild-at-newC sibling of ivf_imi_requantize
      Gate("imi_sq8_requantize", Similarity.imiSq8RequantizeProbeFromDir(_, _),
        Similarity.imiSq8Oracle(c1 = 16, c2 = 16), harness = true, droppable = true),
      // streaming ingest on the composed tier: watermark-deduped replay through the SAME
      // O(batch) append — one transform, every tier
      // oracle: the streaming ingestion path on the composed tier: the SAME oracle as the
      // one-shot batch append — the callback-sink design's claim
      // replay harness
      Gate("imi_sq8_stream_append", Similarity.imiSq8StreamAppendProbeFromDir(_, _),
        Similarity.imiSq8Oracle(trainWhere = backlog, statsWhere = backlog),
        harness = true, droppable = true),
      // the compressed-tier path: vector list probes the IMI x SQ8 index (pruned code reads +
      // decode + asymmetric re-score) — the full retrieval stack served from the 100 TB storage
      // tier
      // iterative harness: the memoized composed store + fusion plan
      // droppable: fusion twin over the compressed tier; its list source imi_sq8_probe is on
      // the line
      Gate("hybrid_rrf_imisq8", HybridRetrieval.fromDirImiSq8(_, _),
        HybridRetrieval.oracleImiSq8(), harness = true, droppable = true)) ++
    family("ivf_sq8")(
      // the composed compressed tier: IVF cells store SQ8 CODES (4x less index bytes), probe =
      // pruned cell read -> decode -> asymmetric re-score against full-precision queries
      // droppable: flat-quantizer compressed tier; the composed imi_sq8_probe serving tier
      // stays on the line
      Gate("ivf_sq8_probe", Similarity.ivfSq8ProbeFromDir(_, _),
        Similarity.ivfSq8Oracle(), droppable = true),
      // O(batch) SQ8 ingestion: encode the delta under the PERSISTED quantizer + stats (both
      // frozen at build, production semantics), land in cell dirs, probe — oracle freezes stats
      // at the backlog
      // droppable: lifecycle sibling of ivf_sq8_probe (on the line); the ivf_index_append
      // rationale
      Gate("ivf_sq8_append", Similarity.ivfSq8AppendProbeFromDir(_, _),
        Similarity.ivfSq8AppendOracle(), droppable = true),
      // deletion on the compressed tier: filtered code rewrite under the FROZEN build-time
      // stats (no re-encode) — probe must equal the SQ8 oracle over the kept relation with
      // stats still at the build corpus
      // droppable: filtered-rewrite sibling of the three float-store removes (same rationale,
      // same droppable class)
      Gate("ivf_sq8_remove", Similarity.ivfSq8RemoveProbeFromDir(_, _),
        Similarity.ivfSq8RemoveOracle(), droppable = true),
      // SQ8 compaction: identity-filter generation rewrite, one file per cell, codes verbatim —
      // content-preserving (re-passes the append oracle)
      // droppable: lifecycle sibling of ivf_index_compact (same rewrite class; ivf_sq8_probe
      // stays on the line)
      Gate("ivf_sq8_compact", Similarity.ivfSq8CompactProbeFromDir(_, _),
        Similarity.ivfSq8AppendOracle(), droppable = true),
      // SQ8 requantize: quantizer AND extrema re-derived from the SOURCE floats at newC (codes
      // are lossy — a real requantize re-reads the upstream table) — must equal a from-scratch
      // build at newC
      // droppable: rebuild-at-newC sibling of ivf_requantize (already droppable for the same
      // reason)
      Gate("ivf_sq8_requantize", Similarity.ivfSq8RequantizeProbeFromDir(_, _),
        Similarity.ivfSq8Oracle(numCentroids = 32), droppable = true)) ++
    family("ivf_pq")(
      // the PQ tier: m per-subspace codebooks trained with the exact-Lloyd machinery, cells
      // store m-int CODES (~12 information bits/vector), probe = pruned cell read ->
      // O(m)-per-candidate ADC lookup-table re-score — the most aggressive compression tier,
      // full lifecycle
      // iterative harness: m per-subspace training loops + memoized build
      // droppable: raw-ADC anchor; the serving path ivf_pq_rerank (shortlist + refine) stays on
      // the line
      Gate("ivf_pq_probe", Similarity.ivfPqProbeFromDir(_, _),
        Similarity.ivfPqOracle(), harness = true, droppable = true),
      // the PQ tier's SERVING path: ADC shortlist (O(m)/candidate, codes only) -> exact
      // re-score of the R survivors against full-precision vectors (the IVFPQ+refine shape) —
      // recall recovered at R >> k
      // iterative harness: the memoized trained build + shortlist + refine
      Gate("ivf_pq_rerank", Similarity.ivfPqRerankFromDir(_, _),
        Similarity.ivfPqRerankOracle(), harness = true),
      // iterative harness: the memoized trained build + filtered probe
      // droppable: filtered variant of the PQ probe (rationale above; ivf_pq_rerank stays on
      // the line)
      Gate("ivf_pq_filtered", Similarity.ivfPqFilteredFromDir(_, _),
        Similarity.ivfPqFilteredOracle(), harness = true, droppable = true),
      // iterative harness: backlog training loops + memoized backlog build
      // droppable: lifecycle sibling of ivf_pq_rerank (on the line); the ivf_index_append
      // rationale
      Gate("ivf_pq_append", Similarity.ivfPqAppendProbeFromDir(_, _),
        Similarity.ivfPqOracle(trainWhere = backlog), harness = true, droppable = true),
      // iterative harness: the memoized trained build + one rewrite
      // droppable: filtered-rewrite sibling of ivf_sq8_remove
      Gate("ivf_pq_remove", Similarity.ivfPqRemoveProbeFromDir(_, _),
        Similarity.ivfPqOracle(keepWhere = backlog), harness = true, droppable = true),
      // iterative harness: backlog training loops + append + one rewrite
      // droppable: lifecycle sibling of ivf_sq8_compact
      Gate("ivf_pq_compact", Similarity.ivfPqCompactProbeFromDir(_, _),
        Similarity.ivfPqOracle(trainWhere = backlog), harness = true, droppable = true),
      // iterative harness: backlog + union retraining at the new C
      // droppable: rebuild-at-newC sibling of ivf_sq8_requantize
      Gate("ivf_pq_requantize", Similarity.ivfPqRequantizeProbeFromDir(_, _),
        Similarity.ivfPqOracle(numCentroids = 32), harness = true, droppable = true)) ++
    family("ivf_pqr")(
      // the RESIDUAL-encoded PQ tier (the FAISS IVFPQ shape): codebooks trained on x −
      // c_assigned, ADC re-score carries the reconstruction terms (⟨q,c⟩ + LUTs over ‖c‖² +
      // 2·cross + ‖d‖², all O(m) lookups)
      // iterative harness: m residual training loops + memoized build
      // droppable: raw-ADC anchor of the residual tier; the serving path ivf_pqr_rerank stays
      // on the line
      Gate("ivf_pqr_probe", Similarity.ivfPqResProbeFromDir(_, _),
        Similarity.ivfPqResOracle(), harness = true, droppable = true),
      // iterative harness: the memoized residual build + shortlist + refine
      Gate("ivf_pqr_rerank", Similarity.ivfPqResRerankFromDir(_, _),
        Similarity.ivfPqResRerankOracle(), harness = true),
      // iterative harness: backlog residual training + memoized backlog build
      // droppable: lifecycle sibling of ivf_pqr_rerank (the ivf_index_append rationale)
      Gate("ivf_pqr_append", Similarity.ivfPqResAppendProbeFromDir(_, _),
        Similarity.ivfPqResOracle(trainWhere = backlog), harness = true, droppable = true)) ++
    family("dedup_index")(
      // incremental dedup: delta vs persisted signature index must equal the full-corpus LSH on
      // the union, restricted to pairs touching the delta
      // phase: the one-time signature-index build over the backlog
      Gate("dedup_delta_lsh", DedupIndex.deltaFromDir, DedupIndex.deltaOracle(),
        phase = Some(Gate.Phase("dedup_index_build", (s, dir, tmp) => DedupIndex.write(
          Tables.documents(s, dir).filter(col("doc_id") % DedupIndex.DeltaMod =!= 0), tmp)))),
      // the signature store's build+append+compact lifecycle under the SAME delta oracle: epoch
      // collapse must leave the index indistinguishable from a from-scratch backlog build
      Gate("dedup_index_compact", DedupIndex.compactDeltaFromDir, DedupIndex.deltaOracle()),
      // signature-store deletion: filtered band/shingle rewrite — the delta probe must equal
      // the kept-corpus LSH restricted to delta pairs
      // droppable: the three store-deletion gates share the filtered-rewrite mechanics of their
      // compact siblings (on the line); the deletion flagship on the line is the composed
      // corpus_diff_recurate loop
      Gate("dedup_index_remove", DedupIndex.removeDeltaFromDir,
        DedupIndex.removeDeltaOracle(), droppable = true),
      // the daily-ops loop: 8 day-batches appended to the signature store, the maintenance
      // sweep firing compaction by policy mid-loop, then the standard delta probe — same oracle
      // as dedup_delta_lsh
      // iterative harness
      // droppable: maintenance harness; probe twin of dedup_delta_lsh
      Gate("store_maintenance_loop", StoreMaintenance.maintenanceLoopFromDir,
        DedupIndex.deltaOracle(), harness = true, droppable = true)) ++
    family("cluster_store")(
      // the same selection CONSUMING the persisted ClusterStore artifact (pair graph paid once,
      // read everywhere) — gated under the SAME oracle as dedup_canonical: artifact-consuming
      // must equal from-scratch
      // phase: the one-time store build (pair graph + cluster map) the consumers memoize
      Gate("dedup_canonical_indexed", ClusterStore.canonicalIndexedFromDir,
        NearDupClusters.canonicalOracle(), phase = Some(Gate.Phase("cluster_store_build",
          (s, dir, tmp) => ClusterStore.write(Tables.documents(s, dir), tmp)))),
      // the other two store consumers, gated under their from-scratch oracles (one shared
      // memoized store build feeds all three)
      Gate("dedup_source_matrix_indexed", ClusterStore.matrixIndexedFromDir, SourceMatrix.oracle()),
      Gate("corpus_split_indexed", ClusterStore.splitIndexedFromDir, CorpusSplit.oracle()),
      // incremental pair-graph maintenance: delta docs join the persisted store without
      // re-running the backlog self-join; the appended cluster map must equal the from-scratch
      // full-corpus components
      Gate("cluster_append", ClusterStore.appendFromDir, NearDupClusters.oracle()),
      // the composed incremental-curation loop: append a delta to the ClusterStore, split FROM
      // the updated store — must equal the from-scratch full-corpus split (closes daily-ingest
      // end-to-end)
      // droppable: cost twin: cluster_append + corpus_split_indexed, both on the line
      Gate("corpus_split_append", ClusterStore.splitAppendFromDir,
        CorpusSplit.oracle(), droppable = true)) ++
    family("bm25_store")(
      // the persisted inverted index: probe reads only the query terms' bucket partitions; same
      // oracle as bm25_topk (save->reload->probe)
      Gate("bm25_indexed", Bm25Index.probeIndexedFromDir(_, _), Bm25.oracle()),
      // O(delta + vocab) ingestion: append to a backlog-index copy, probe must equal the
      // full-corpus oracle (global df/N/mass advanced)
      // droppable: strict cost-subset of bm25_index_compact's gate (build+append+compact)
      Gate("bm25_index_append", Bm25Index.appendProbeFromDir(_, _),
        Bm25.oracle(), droppable = true),
      // epoch compaction: build + append + compact (collapse committed epochs to one file per
      // bucket, manifest flip) + probe == the SAME full-corpus oracle — calendar time must not
      // change content
      // droppable: generation-rewrite sibling of ivf_index_compact / dedup_index_compact (both
      // on the line); bm25_indexed serves from the same store on the line
      Gate("bm25_index_compact", Bm25Index.compactProbeFromDir(_, _),
        Bm25.oracle(), droppable = true),
      // deletion with GLOBAL-stat correction: drop postings, decrement dfs, re-derive n/mass —
      // probe must equal a kept-corpus rebuild
      // droppable: the three store-deletion gates share the filtered-rewrite mechanics of their
      // compact siblings (on the line); the deletion flagship on the line is the composed
      // corpus_diff_recurate loop
      Gate("bm25_index_remove", Bm25Index.removeProbeFromDir(_, _),
        Bm25Index.removeOracle(), droppable = true)) ++
    family("bpe")(
      // REAL BPE: pre-tokenizer segments merged through the checked-in rank table
      // (boundary-anchored sweep == min-rank encode, see BpeMerge)
      Gate("text_bpe_merged", TextAnalysis.bpeMergedFromDir, TextAnalysis.bpeMergedOracle),
      // BPE tokenizer TRAINING: the iterative N-merge loop over the word-frequency dict —
      // vocab-sized pair-count shuffles, 1-row argmax per iteration, two-level-separator
      // replace == greedy merge (BpeTrain)
      // iterative harness
      // droppable: same training loop as text_bpe_merged (on the line) finished by the vocab
      // projection
      // phase: since the BPE gates share one memoized training run (production economics:
      // train once, apply everywhere), their warm entries time the CONSUME path (~0.2 s); the
      // memo-bypassing phase keeps the ~14 s training loop visible in the record
      Gate("text_bpe_vocab", BpeTrain.fromDir, BpeTrain.oracle(), harness = true, droppable = true,
        phase = Some(Gate.Phase("bpe_train",
          (s, dir, _) => BpeTrain.train(Tables.documents(s, dir))))),
      // the trained tokenizer APPLIED: every dict word's segmentation under the learned merge
      // table (the training state IS the application)
      // iterative harness
      // droppable: same training loop as text_bpe_vocab (cost twin)
      Gate("text_bpe_segments", BpeTrain.segmentsFromDir,
        BpeTrain.segmentsOracle(), harness = true, droppable = true),
      // the trained tokenizer applied at CORPUS scale: per-doc token counts under the learned
      // table — one corpus scan, vocabulary-sized encode
      // iterative harness
      // droppable: same training loop + one corpus application pass
      Gate("text_bpe_apply", BpeTrain.applyFromDir,
        BpeTrain.applyOracle(), harness = true, droppable = true)) ++
    // ---- gates forked alone: composite and iterative anchors whose in-suite inflation
    // motivated fork isolation ----
    Seq(
      // recall@k of the four uncoded probe paths (float IVF index, SQ8, IMI, IMI×SQ8) against
      // brute ground truth — exact integer hit counts, so approximation quality gates on the
      // driver, not only in specs; the PQ code family gates under ann_recall_pq (the r15/r16
      // split ask: the 7-tier monolith was the #2 cost in both budgets)
      // iterative harness: four memoized stores: float/SQ8/both trained IMI
      Gate("ann_recall", Similarity.annRecallFromDir(_, _),
        Similarity.annRecallOracle(), harness = true),
      // iterative harness: the PQ/PQR stores (raw ADC AND rerank paths)
      Gate("ann_recall_pq", Similarity.annRecallPqFromDir(_, _),
        Similarity.annRecallPqOracle(), harness = true),
      // MMR diversity re-rank: k unrolled greedy steps over query-bounded candidates, integer
      // 5*rel - 5*maxsim objective (micros cosines)
      Gate("mmr_rerank", Mmr.fromDir(_, _), Mmr.oracle()),
      // the daily curation DAG composed end-to-end: clean -> decontaminate -> leakage-safe
      // split, every stage the same single-sourced rule its standalone gate runs
      Gate("corpus_curate_e2e", CurateE2e.fromDir, CurateE2e.oracle()),
      // droppable: BPE-ish proxy; text_bpe_merged/vocab are the real path
      Gate("text_bpe_tokens", TextAnalysis.bpeTokenStatsFromDir,
        TextAnalysis.bpeTokenStatsOracle, droppable = true),
      // CCNet head/middle/tail: exact tercile cut of the corpus by the reference-LM quality
      // rank (distributed prefix-sum rank, never a one-partition NTILE sort)
      // droppable: cost-superset twin of ref_lm_logprob (on the line): same scoring + one
      // narrow rank exchange
      Gate("ref_lm_buckets", BigramLm.bucketsFromDir, BigramLm.bucketsOracle(), droppable = true),
      // the ledger DRIVING incremental re-processing: remove removed∪changed from the
      // ClusterStore (deletion mechanics), append only added∪changed, split from the updated
      // store — must equal a day-2 from-scratch split
      Gate("corpus_diff_recurate", CorpusDiff.recurateFromDir, CorpusDiff.recurateOracle()),
      // the persisted form: per-source sketches ARE the store (k longs per source); a delta is
      // sketched alone and MERGED in — O(delta), the backlog corpus is never rescanned; oracle
      // = full-corpus recompute
      // droppable: lifecycle sibling of sketch_kmv_cardinality (on the line); the
      // ivf_index_append rationale — delta sketch + k-long merge
      // deliberately in NO batch: its warmup pass pays the memoized backlog store build (the
      // ivf_index_append pattern), and batch estimates carry no build surcharge — a standalone
      // fork keeps the batch scheduler's estimates honest
      Gate("sketch_kmv_append", Sketches.appendFromDir, Sketches.appendOracle(), droppable = true))

  /** name → builder, each wrapped by [[tuned]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> tuned(g.build)).toMap

  /** name → DuckDB oracle SQL over the same parquet tables. */
  lazy val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  lazy val byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  /** The build phases, in row order. */
  lazy val phases: Seq[Gate.Phase] = gates.flatMap(_.phase)

  /** The backlog side of the DeltaMod split (rows outside the delta). */
  private def backlog = Some(s"vec_id % ${DedupIndex.DeltaMod} <> 0")

  /** A cost batch: every member takes the batch's droppability. */
  private def batch(name: String, droppable: Boolean)(rows: Gate*): Seq[Gate] =
    rows.map(_.copy(droppable = droppable, group = Some(Gate.Group(name, memo = false))))

  private def family(name: String)(rows: Gate*): Seq[Gate] =
    rows.map(_.copy(group = Some(Gate.Group(name, memo = true))))
}
