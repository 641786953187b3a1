package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid lexical+vector retrieval with reciprocal-rank fusion (RRF) —
  * the retrieval shape a curation pipeline runs when neither signal is
  * sufficient alone: BM25 finds exact-term matches embeddings blur,
  * dense cosine finds paraphrases BM25 misses, and RRF (Cormack et al.,
  * SIGIR'09: score = Σ_lists 1/(K + rank)) fuses the two WITHOUT
  * score-scale calibration, which is what makes it robust enough to be
  * the standard fusion baseline.
  *
  * Query model: each query is a *document* (vec_id = doc_id, the
  * corpus convention) — "more-like-this" retrieval. Its lexical query
  * is its own distinct token set; its vector query is its embedding.
  *
  * Shape at scale:
  *   - lexical side reuses [[Bm25]]'s ONE pinned corpus (doc_id, term,
  *     tf) stage; the per-query term sets are |queries| docs' vocab —
  *     query-sized BY DEFINITION, broadcast into the tf join, so only
  *     docs sharing a term with some query are ever scored;
  *   - vector side is the O(K)-broadcast brute top-k — the oracle
  *     anchor; at corpus scale swap [[Similarity.ivfAnn]] in for the
  *     neighbor list (same (query_id, rank) surface, proven by the IVF
  *     gates) — fusion is agnostic to how each list was produced;
  *   - fusion itself is query-bounded: 2·|queries|·kList rows, one
  *     groupBy, one per-query window rank.
  *
  * Cross-engine exactness: each list contributes
  * floor(1e6/(K + rank) + 0.5) as a LONG (1/(K+rank) is irrational in
  * binary; micros-rounding before the sum is the UnigramLm discipline),
  * ranks themselves are deterministic (score desc, id asc ties), and
  * the final cut orders (rrf_micros desc, doc_id asc).
  */
object HybridRetrieval {

  /** Top-k fused results per query doc: (query_id, rank, doc_id,
    * rrf_micros). `kList` is each list's depth; `kRrf` the RRF constant
    * (60 in the original paper). */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame, numQueries: Int = 8,
                 kList: Int = 20, k: Int = 10, kRrf: Int = 60,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // vector list: brute cosine top-kList (the gated oracle anchor)
    val vec = Similarity.bruteForceKnn(
        embeddings, embeddings.filter(col("vec_id") < numQueries), kList)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vrank"))
    fuse(lexList(docs, numQueries, kList, k1, b), vec, k, kRrf)
  }

  /** The scale variant: the vector list comes from the IVF probe path
    * (cell-bounded candidates under the shared hash quantizer) instead
    * of the brute crossJoin — the ONLY thing that moves; the lexical
    * list and the fusion are byte-identical. Gated under an oracle whose
    * vector CTEs are the `ivf_ann_topk` chain verbatim. */
  def hybridTopKIvf(spark: SparkSession, dir: String, numQueries: Int = 8,
                    kList: Int = 20, k: Int = 10, kRrf: Int = 60,
                    numCentroids: Int = 16, nProbe: Int = 4,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val vec = Similarity.ivfAnnFromDir(spark, dir, numQueries, kList,
        numCentroids, nProbe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vrank"))
    fuse(lexList(Tables.documents(spark, dir), numQueries, kList, k1, b),
      vec, k, kRrf)
  }

  /** The per-query BM25 more-like-this list: (query_id, doc_id, lrank). */
  private[graft] def lexList(docs: DataFrame, numQueries: Int, kList: Int,
                             k1: Double, b: Double): DataFrame = {
    val tf = Bm25.tfStage(docs)
    // pinned: two readers (the corpus-mass scalar and the scoring join) —
    // unpinned, each re-ran the doc-length aggregation over the tf stage
    val dl = Pinned.pin(tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val consts = docs.agg(count(lit(1)).as("n"))
      .crossJoin(dl.agg(sum(col("dl")).as("mass")))

    // per-query lexical term sets: |queries| docs' vocabulary — pinned
    // (it feeds the df join, the tf slice, and the score→query map) and
    // broadcast (query-sized)
    val qterms = Pinned.pin(
      tf.filter(col("doc_id") < numQueries)
        .select(col("doc_id").as("query_id"), col("term")))
    val qtermSet = qterms.select(col("term")).distinct()
    // df only for the query terms: the broadcast semi-join runs BELOW the
    // aggregation (per-term row counts are invariant under filtering
    // terms), so the df shuffle carries query-term rows, not the full
    // vocabulary — the guide §2.3 fewer-bytes form of the previous
    // aggregate-everything-then-join shape
    val qt = tf.join(broadcast(qtermSet), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = Bm25.scoredRows(
      tf.join(broadcast(qtermSet), Seq("term")), dl, qt, consts, k1, b)
    val lexW = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_micros").desc, col("doc_id").asc)
    scored.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("micros")).as("bm25_micros"))
      .withColumn("lrank", row_number().over(lexW).cast("long"))
      .filter(col("lrank") <= kList)
  }

  /** RRF: micros-rounded long contributions per list, summed; final
    * (rrf desc, doc_id asc) cut. Query-bounded: 2·|Q|·kList rows in.
    *
    * The per-doc sum + rank window run inside ONE codegen'd kernel call
    * per query ([[graft.functions.RrfFuse]]) over the collected tagged
    * contribution array (≤ 2·kList entries per query BY CONSTRUCTION) —
    * the r20 unrolled form (kept as [[fuseUnrolled]], the equivalence
    * witness) computed the identical integer fusion but paid a
    * groupBy(query, doc) exchange + a rank-window exchange + a second
    * full traversal of both pinned lists for the emptiness sentinel, at
    * every data scale: measured 0.8–1.4 s on 320 LOCAL rows, pure stage
    * latency, ×5 hybrid gates. The sentinel now rides the same grouped
    * frame (per-query list counts summed globally — identical totals,
    * identical assert), so each list executes exactly once.
    *
    * Note for composite callers (ADVICE r20): `grouped` is pinned at
    * CONSTRUCTION time; a caller that builds many fused plans before
    * consuming any should release between builds, or the registered
    * (lazy, unmaterialized) pins accumulate until the harness's
    * per-query release. */
  private[graft] def fuse(lex: DataFrame, vec: DataFrame, k: Int,
                          kRrf: Int): DataFrame = {
    def contrib(rank: org.apache.spark.sql.Column) =
      floor(lit(1e6) / (lit(kRrf.toDouble) + rank.cast("double")) + 0.5).cast("long")
    val tagged = lex.select(col("query_id"), col("doc_id"),
        contrib(col("lrank")).as("c"), lit(0).as("li"))
      .unionAll(vec.select(col("query_id"), col("doc_id"),
        contrib(col("vrank")).as("c"), lit(1).as("li")))
    val grouped = Pinned.pin(tagged.groupBy(col("query_id")).agg(
      collect_list(struct(col("doc_id"), col("c"))).as("ta"),
      sum(when(col("li") === 0, 1L).otherwise(0L)).as("n_lex"),
      sum(when(col("li") === 1, 1L).otherwise(0L)).as("n_vec")))
    val ranked = grouped
      .select(col("query_id"),
        explode(graft.functions.RrfFuse.rrfFuse(col("ta"), k)).as("p"))
      .select(col("query_id"), col("p.rank").as("rank"),
        col("p.doc_id").as("doc_id"), col("p.rrf_micros").as("rrf_micros"))
    // the lazily-raising emptiness guard (see fuseUnrolled's doc) — same
    // assert over the same global counts, now aggregated from the pinned
    // per-query rows instead of a second pass over the tagged union
    val sentinel = grouped.groupBy().agg(
        sum(col("n_lex")).as("n_lex"), sum(col("n_vec")).as("n_vec"))
      .select(
        lit(null).cast("long").as("query_id"),
        when(assert_true(col("n_lex") > 0 && col("n_vec") > 0,
          lit("hybrid fusion: a result list is empty — upstream read failure")).isNull,
          lit(-1L)).as("rank"),
        lit(null).cast("long").as("doc_id"),
        lit(null).cast("long").as("rrf_micros"))
    ranked.unionAll(sentinel)
      .filter(col("rank") =!= -1L)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The unrolled DataFrame-stage form of [[fuse]] — kept as the
    * equivalence witness (HybridFuseSpec). */
  private[graft] def fuseUnrolled(lex: DataFrame, vec: DataFrame, k: Int,
                                  kRrf: Int): DataFrame = {
    // Both lists are non-empty by construction (queries exist, the corpus
    // exists). A silently-EMPTY list degrades the fusion to single-list
    // RRF with no exception anywhere — observed once in a 162-query
    // 8-worker verify run, where the vector list vanished whole and the
    // gate emitted pure lex ranks. Fail LOUDLY on emptiness — but LAZILY
    // (r17 ADVICE: the first guard ran two eager limit(1).count() actions
    // at construction time, executing the full upstream for
    // schema/explain-only callers): each list's row count rides a 1-row
    // global aggregate over the SAME tagged union the fusion consumes,
    // and an assert_true over that row raises inside the consuming
    // action. The guard row enters the OUTPUT as a union-sentinel child
    // (rank −1, filtered back out), not a join input: a join against the
    // fused side is skippable when that side turns out empty (AQE
    // empty-relation propagation — measured: a both-lists-empty run
    // returned silently empty under the crossJoin form), while a union
    // child always executes inside the consuming action. The assert rides
    // the sentinel's rank column, so constant folding cannot pre-evaluate
    // the −1 filter and prune the child away.
    val lexP = graft.operators.Pinned.pin(lex)
    val vecP = graft.operators.Pinned.pin(vec)
    def contrib(rank: org.apache.spark.sql.Column) =
      floor(lit(1e6) / (lit(kRrf.toDouble) + rank.cast("double")) + 0.5).cast("long")
    val tagged = lexP.select(col("query_id"), col("doc_id"),
        contrib(col("lrank")).as("c"), lit(0).as("li"))
      .unionAll(vecP.select(col("query_id"), col("doc_id"),
        contrib(col("vrank")).as("c"), lit(1).as("li")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micros").desc, col("doc_id").asc)
    val ranked = tagged
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf_micros"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_micros"))
    val sentinel = tagged.groupBy().agg(
        sum(when(col("li") === 0, 1L).otherwise(0L)).as("n_lex"),
        sum(when(col("li") === 1, 1L).otherwise(0L)).as("n_vec"))
      .select(
        lit(null).cast("long").as("query_id"),
        when(assert_true(col("n_lex") > 0 && col("n_vec") > 0,
          lit("hybrid fusion: a result list is empty — upstream read failure")).isNull,
          lit(-1L)).as("rank"),
        lit(null).cast("long").as("doc_id"),
        lit(null).cast("long").as("rrf_micros"))
    ranked.unionAll(sentinel)
      .filter(col("rank") =!= -1L)
      .orderBy(col("query_id"), col("rank"))
  }

  def fromDir(spark: SparkSession, dir: String): DataFrame =
    hybridTopK(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  def fromDirIvf(spark: SparkSession, dir: String): DataFrame =
    hybridTopKIvf(spark, dir)

  /** The PRODUCTION path: the vector list probes the persisted IVF index
    * (partition-pruned cell reads, quantizer reloaded from the sidecar —
    * the exact `ivf_probe_indexed` surface), fused with the same lexical
    * list. Same oracle as [[hybridTopKIvf]]: save → reload → probe ≡
    * in-memory IVF is what the probe gate already proves, so fusion over
    * either list must hash-match the same twin. */
  def fromDirIndexed(spark: SparkSession, dir: String, numQueries: Int = 8,
                     kList: Int = 20, k: Int = 10, kRrf: Int = 60,
                     numCentroids: Int = 16, nProbe: Int = 4,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // every IVF/BM25 parameter is threaded explicitly (mirroring
    // hybridTopKIvf) so the three hybrid entry points share one parameter
    // surface — a drift in the float tier's gate defaults or oracleIvf's defaults
    // can no longer break the hybrid_rrf_indexed gate non-obviously
    val vec = Similarity.lifecycle(Similarity.Tier.Ivf)(Similarity.Build(numCentroids), nProbe,
        numQueries = numQueries, k = kList)(spark, dir)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vrank"))
    fuse(lexList(Tables.documents(spark, dir), numQueries, kList, k1, b),
      vec, k, kRrf)
  }

  /** The TWO-LEVEL production path: the vector list probes the persisted
    * trained IMI index (combined-cell pruned reads, both half codebooks
    * reloaded from sidecars — the `ivf_ann_imi` surface), fused with the
    * same lexical list. Proves the new tier composes into retrieval
    * exactly as the float tier does — only the list source moves. */
  def fromDirImi(spark: SparkSession, dir: String, numQueries: Int = 8,
                 kList: Int = 20, k: Int = 10, kRrf: Int = 60,
                 c1: Int = 8, c2: Int = 8, nProbe1: Int = 2, nProbe2: Int = 2,
                 iterations: Int = 2,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val vec = Similarity.lifecycle(Similarity.Tier.Imi)(
        Similarity.Build(c1, c2, iterations = iterations), nProbe1, nProbe2,
        numQueries, kList)(spark, dir)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vrank"))
    fuse(lexList(Tables.documents(spark, dir), numQueries, kList, k1, b),
      vec, k, kRrf)
  }

  /** DuckDB twin of [[fromDirImi]]: the SAME lex chain and fusion tail;
    * the vector list is the full [[Similarity.imiAnnOracle]] nested as a
    * CTE (its inner WITH is subquery-scoped, so its chain names cannot
    * clash with the BM25 fragment's). */
  def oracleImi(numQueries: Int = 8, kList: Int = 20, k: Int = 10,
                kRrf: Int = 60, c1: Int = 8, c2: Int = 8,
                nProbe1: Int = 2, nProbe2: Int = 2, iterations: Int = 2,
                dim: Int = Similarity.LshOracleDim,
                k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${lexCtesSql(numQueries, kList, k1, b)},
       |imi AS (
       |${Similarity.imiAnnOracle(numQueries, kList, c1, c2, nProbe1,
           nProbe2, iterations, dim)}
       |), vec AS (
       |  SELECT query_id, neighbor_id AS doc_id, rank AS vrank FROM imi
       |)${fusionTailSql(k, kRrf)}""".stripMargin

  /** The COMPRESSED two-level production path: the vector list probes
    * the persisted IMI×SQ8 index (combined-cell pruned CODE reads,
    * decode + asymmetric re-score — the `imi_sq8_probe` surface), fused
    * with the same lexical list. With this, the full retrieval stack
    * serves from the tier a 100 TB deployment stores: only the list
    * source moves, lex + fusion identical. */
  def fromDirImiSq8(spark: SparkSession, dir: String, numQueries: Int = 8,
                    kList: Int = 20, k: Int = 10, kRrf: Int = 60,
                    c1: Int = 8, c2: Int = 8, nProbe1: Int = 2, nProbe2: Int = 2,
                    iterations: Int = 2,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val vec = Similarity.lifecycle(Similarity.Tier.ImiSq8)(
        Similarity.Build(c1, c2, iterations = iterations), nProbe1, nProbe2,
        numQueries, kList)(spark, dir)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vrank"))
    fuse(lexList(Tables.documents(spark, dir), numQueries, kList, k1, b),
      vec, k, kRrf)
  }

  /** DuckDB twin of [[fromDirImiSq8]]: the SAME lex chain and fusion
    * tail; the vector list is the full [[Similarity.imiSq8Oracle]]
    * nested as a CTE (subquery-scoped inner WITH, as with the IMI
    * twin). */
  def oracleImiSq8(numQueries: Int = 8, kList: Int = 20, k: Int = 10,
                   kRrf: Int = 60, c1: Int = 8, c2: Int = 8,
                   nProbe1: Int = 2, nProbe2: Int = 2, iterations: Int = 2,
                   dim: Int = Similarity.LshOracleDim,
                   k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${lexCtesSql(numQueries, kList, k1, b)},
       |imisq8 AS (
       |${Similarity.imiSq8Oracle(numQueries, kList, c1, c2, nProbe1,
           nProbe2, iterations, dim)}
       |), vec AS (
       |  SELECT query_id, neighbor_id AS doc_id, rank AS vrank FROM imisq8
       |)${fusionTailSql(k, kRrf)}""".stripMargin

  /** ANCE-style hard-negative mining for retrieval training (Xiong et
    * al. 2020, arXiv:2007.00808 — negatives that the LEXICAL retriever
    * ranks highly but the embedding space places far away are the
    * training pairs that move a dense model most): for each query doc,
    * every BM25 top-`kList` doc whose rounded cosine to the query is
    * below `tau`. Output (query_id, doc_id, lrank, cosine_r).
    *
    * Cost shape: the lexical list is the shared [[lexList]] stage; the
    * cosine re-score touches ONLY the |Q|·kList mined candidates (a
    * broadcast of the |Q| query embeddings into a query-bounded join) —
    * never a corpus pair join. */
  def hardNegatives(docs: DataFrame, embeddings: DataFrame,
                    numQueries: Int = 8, kList: Int = 20,
                    tau: Double = 0.1, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    val lex = lexList(docs, numQueries, kList, k1, b)
    val q = embeddings.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val n = embeddings.select(col("vec_id").as("doc_id"),
      col("embedding").as("ne"))
    lex.join(broadcast(q.filter(col("query_id") < numQueries)), Seq("query_id"))
      .join(n, Seq("doc_id"))
      .withColumn("cosine_r", graft.functions.StableRound.stableRound(
        Similarity.cosine(col("qe"), col("ne")), 8))
      .filter(col("cosine_r") < tau)
      .select(col("query_id"), col("doc_id"), col("lrank"), col("cosine_r"))
      .orderBy(col("query_id"), col("lrank"))
  }

  def hardNegativesFromDir(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** DuckDB twin: the shared lex chain + a cosine re-score over the
    * mined candidates only, filtered on the SAME rounded value. */
  def hardNegativesOracle(numQueries: Int = 8, kList: Int = 20,
                          tau: Double = 0.1, k1: Double = 1.2,
                          b: Double = 0.75): String =
    s"""WITH ${lexCtesSql(numQueries, kList, k1, b)}
       |SELECT l.query_id, l.doc_id, l.lrank,
       |       FLOOR(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                    CAST(ne.embedding AS DOUBLE[]))
       |             * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM lex l JOIN embeddings qe ON qe.vec_id = l.query_id
       |           JOIN embeddings ne ON ne.vec_id = l.doc_id
       |WHERE FLOOR(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                   CAST(ne.embedding AS DOUBLE[]))
       |            * 1e8 + 0.5) / 1e8 < $tau
       |ORDER BY query_id, lrank""".stripMargin

  /** The lexical-list CTE chain, ending in `lex (query_id, doc_id,
    * lrank)` — [[Bm25.coreCtesSql]] + [[Bm25.scoreCtesSql]] verbatim (the
    * token rule, idf and per-term score CANNOT drift from the `bm25_topk`
    * gate). Shared by both fusion twins. */
  private def lexCtesSql(numQueries: Int, kList: Int,
                         k1: Double, b: Double): String =
    s"""${Bm25.coreCtesSql}, qterms AS (
       |  SELECT DISTINCT doc_id AS query_id, term FROM tf WHERE doc_id < $numQueries
       |), qt AS (
       |  SELECT df.term, df.df FROM df JOIN (SELECT DISTINCT term FROM qterms) s
       |    ON df.term = s.term
       |), ${Bm25.scoreCtesSql("qt", k1, b)}, lex AS (
       |  SELECT query_id, doc_id, lrank FROM (
       |    SELECT q.query_id, s.doc_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY SUM(s.micros) DESC, s.doc_id ASC) AS lrank
       |    FROM scored s JOIN qterms q ON q.term = s.term
       |    WHERE s.doc_id <> q.query_id
       |    GROUP BY q.query_id, s.doc_id
       |  ) WHERE lrank <= $kList
       |)""".stripMargin

  /** The integer-exact RRF tail over `lex` and `vec`. */
  private def fusionTailSql(k: Int, kRrf: Int): String =
    s""", fused AS (
       |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micros FROM (
       |    SELECT query_id, doc_id,
       |           CAST(FLOOR(1000000.0 / ($kRrf + lrank) + 0.5) AS BIGINT) AS c FROM lex
       |    UNION ALL
       |    SELECT query_id, doc_id,
       |           CAST(FLOOR(1000000.0 / ($kRrf + vrank) + 0.5) AS BIGINT) AS c FROM vec
       |  ) GROUP BY query_id, doc_id
       |)
       |SELECT query_id, rank, doc_id, rrf_micros FROM (
       |  SELECT query_id, doc_id, rrf_micros,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY rrf_micros DESC, doc_id ASC) AS rank
       |  FROM fused
       |) WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of [[hybridTopK]]: shared lex chain, the
    * `knn_cosine_topk` pair/rank CTEs for the vector list, shared fusion. */
  def oracle(numQueries: Int = 8, kList: Int = 20, k: Int = 10,
             kRrf: Int = 60, k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${lexCtesSql(numQueries, kList, k1, b)}, vec AS (
       |  SELECT query_id, neighbor_id AS doc_id, vrank FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                             CAST(n.embedding AS DOUBLE[])) DESC,
       |                      n.vec_id ASC) AS vrank
       |    FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < $numQueries
       |  ) WHERE vrank <= $kList
       |)${fusionTailSql(k, kRrf)}""".stripMargin

  /** DuckDB twin of [[hybridTopKIvf]]: the SAME lex chain and fusion
    * tail; the vector list is [[Similarity.ivfRankedCtesSql]] verbatim
    * (prefixed `v_` — the BM25 fragment also defines a `scored`). */
  def oracleIvf(numQueries: Int = 8, kList: Int = 20, k: Int = 10,
                kRrf: Int = 60, numCentroids: Int = 16, nProbe: Int = 4,
                dim: Int = Similarity.LshOracleDim,
                k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${lexCtesSql(numQueries, kList, k1, b)},
       |${Similarity.centroidSimsCtesSql(dim, numCentroids)},
       |${Similarity.ivfRankedCtesSql(numQueries, nProbe, "v_")}, vec AS (
       |  SELECT query_id, neighbor_id AS doc_id, rank AS vrank
       |  FROM v_ranked WHERE rank <= $kList
       |)${fusionTailSql(k, kRrf)}""".stripMargin
}
