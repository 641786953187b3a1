package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): partition the embedding space with a coarse
  * quantizer, then prune near-duplicates WITHIN each cell by pairwise
  * cosine — the cluster structure turns an O(N²) corpus problem into
  * Σ O(|cell|²), the same cell-bounding argument as the IVF probes.
  *
  * Pruning rule (deterministic, set-based): drop vector j iff some
  * i < j in the SAME cell has rounded-cosine(i, j) ≥ τ. Unlike the
  * paper's greedy sequential scan this is order-free and engine-
  * reproducible (a doc is judged against ALL earlier cell members, not
  * just surviving ones), which is what makes it oracle-checkable; it
  * prunes a superset of the greedy rule's choices at equal τ.
  *
  * Shape at scale: ONE corpus scan assigns cells (centroids are plan
  * literals — broadcast by construction); the pair join shuffles on
  * centroid_id so each cell's pairs build locally; cosine compares on
  * the 8-dp-rounded value on BOTH engines (the `dedup_embedding_cosine`
  * discipline) so threshold-edge floats cannot diverge. Quantizer here
  * is the md5 hash quantizer (shared with every IVF gate — DuckDB
  * reproduces it bit-for-bit); production swaps in
  * [[Similarity.trainCentroids]] without touching the prune.
  */
object SemanticDedup {

  /** Kept vectors after within-cell pruning: (vec_id, centroid_id). */
  def prune(embeddings: DataFrame, numCentroids: Int = 16,
            tau: Double = 0.4): DataFrame =
    pruneWith(embeddings,
      Similarity.hashCentroids(Similarity.embeddingDim(embeddings), numCentroids),
      tau)

  /** The prune under caller-supplied centroids — the hash-quantizer gate
    * and the trained-quantizer gate share every line below. */
  def pruneWith(embeddings: DataFrame, cents: Array[(Int, Array[Double])],
                tau: Double = 0.4): DataFrame =
    pruneAssigned(Similarity.assignToCentroids(embeddings, cents), tau)

  /** The prune over a PRE-ASSIGNED (vec_id, embedding, centroid_id)
    * frame — the assignment stage is swappable (flat literal argmax, or
    * the two-level [[Similarity.assignImi]] combined cell id), which is
    * what lets CScaledProbe price the assignment sweep in isolation. */
  def pruneAssigned(withCells: DataFrame, tau: Double = 0.4): DataFrame = {
    // one corpus scan: cell id + norm, pinned — it feeds both pair-join
    // sides and the final anti-join (3 consumers, 1 materialization)
    val assigned = Pinned.pin(
      withCells
        .select(col("vec_id"), col("embedding"), col("centroid_id"),
          Similarity.l2norm(col("embedding")).as("norm")))
    val a = assigned.select(col("centroid_id"), col("vec_id").as("id1"),
      col("embedding").as("e1"), col("norm").as("n1"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("id2"),
      col("embedding").as("e2"), col("norm").as("n2"))
    val pruned = a.join(b, Seq("centroid_id"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine_r", graft.functions.StableRound.stableRound(
        graft.functions.FloatVecDot.dot(col("e1"), col("e2"))
          / (col("n1") * col("n2")), 8))
      .filter(col("cosine_r") >= tau)
      .select(col("id2")).distinct()
    assigned.join(pruned, col("vec_id") === col("id2"), "left_anti")
      .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"))
      .orderBy(col("vec_id"))
  }

  def fromDir(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // same precheck as the IVF gates: a dim mismatch must fail with a clear
    // error here, not as an opaque gate hash mismatch downstream — and the
    // memoized dim feeds the quantizer directly (prune(e) would re-run the
    // eager one-row dim read per call)
    val dim = Similarity.requireOracleDim(e, dir)
    pruneWith(e, Similarity.hashCentroids(dim, 16))
  }

  /** Gated query `semantic_dedup_trained`: the same prune under the
    * TRAINED quantizer ([[Similarity.trainCentroids]]' exact Lloyd
    * iterations) — the production configuration the scaladoc promises,
    * now oracle-gated rather than swap-in-asserted. */
  def trainedFromDir(spark: SparkSession, dir: String, numCentroids: Int = 16,
                     iterations: Int = 2, tau: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = Similarity.requireOracleDim(e, dir)
    pruneWith(e,
      Similarity.trainCentroids(e, numCentroids, iterations, Some(dim)), tau)
  }

  /** DuckDB twin: [[Similarity.centroidSimsCtesSql]] verbatim (the
    * quantizer CANNOT drift from the IVF gates), the same ties-to-larger
    * assignment window, within-cell pairs on rounded cosine, anti-join.
    * `sims`/`trainingCtes` let [[trainedOracle]] point the identical
    * prune chain at the unrolled-training cosines. */
  def oracle(numCentroids: Int = 16, tau: Double = 0.4,
             dim: Int = Similarity.LshOracleDim,
             sims: String = "sims", trainingCtes: String = ""): String =
    s"""WITH ${Similarity.centroidSimsCtesSql(dim, numCentroids)},$trainingCtes assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM $sims
       |  ) WHERE rk = 1
       |), ${pruneTailSql(tau)}""".stripMargin

  /** The UNCHANGED prune chain over an `assign (vec_id, cid)` relation
    * in scope — single-sourced between the flat, trained, and IMI
    * oracles so the within-cell rule cannot drift with the assignment
    * stage (which is exactly the swappable component
    * [[pruneAssigned]]'s doc promises). */
  private def pruneTailSql(tau: Double): String =
    s"""pruned AS (
       |  SELECT DISTINCT b.vec_id AS id2
       |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |       JOIN embeddings ea ON ea.vec_id = a.vec_id
       |       JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE FLOOR(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                     CAST(eb.embedding AS DOUBLE[]))
       |              * 1e8 + 0.5) / 1e8 >= $tau
       |)
       |SELECT a.vec_id, a.cid AS centroid_id
       |FROM assign a LEFT JOIN pruned p ON p.id2 = a.vec_id
       |WHERE p.id2 IS NULL
       |ORDER BY a.vec_id""".stripMargin

  /** Gated query `semantic_dedup_imi`: the prune over the PERSISTED
    * trained two-level index's assignment — the production SemDeDup
    * configuration at 100 TB (CScaledProbe measured the IMI-assigned
    * path 5.8× cheaper than the flat sweep at ×20 with sized C;
    * SCALE.md §r14). Cells come from the memoized trained IMI store
    * (combined id cid₁·C₂+cid₂ — the store a probe serves from, read
    * back with its persisted assignment), and the prune below the
    * assignment is [[pruneAssigned]] UNCHANGED. */
  def imiFromDir(spark: SparkSession, dir: String, c1: Int = 8, c2: Int = 8,
                 iterations: Int = 2, tau: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.requireOracleDim(e, dir)
    val idx = Similarity.store(spark, Similarity.Tier.Imi, dir,
      Similarity.Build(c1, c2, iterations = iterations))
    pruneAssigned(
      spark.read.parquet(Similarity.ivfDataDir(idx))
        .select(col("vec_id"), col("embedding"), col("centroid_id")), tau)
  }

  /** DuckDB twin of [[imiFromDir]]: two prefixed half-space trained
    * chains ([[Similarity.kmeansIterCtesSql]] over the slice views —
    * exactly how `ivf_ann_imi` was built), per-half argmax (ties →
    * larger cid), combined cell id, then the SAME [[pruneTailSql]] the
    * flat oracles run. */
  def imiOracle(c1: Int = 8, c2: Int = 8, iterations: Int = 2,
                tau: Double = 0.4,
                dim: Int = Similarity.LshOracleDim): String = {
    val h = dim / 2
    def trainCtes(p: String, rel: String): String =
      if (iterations == 0) "" else (0 until iterations)
        .map(i => Similarity.kmeansIterCtesSql(i, h, p, rel)).mkString(",\n") + ",\n"
    def finalSims(p: String) =
      if (iterations == 0) s"${p}sims" else s"${p}k_sims$iterations"
    def halfAssign(p: String, alias: String) =
      s"""$alias AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, cid DESC) AS rk
         |    FROM ${finalSims(p)}
         |  ) WHERE rk = 1
         |)""".stripMargin
    s"""WITH half1 AS (SELECT vec_id, embedding[1:$h] AS embedding FROM embeddings),
       |half2 AS (SELECT vec_id, embedding[${h + 1}:$dim] AS embedding FROM embeddings),
       |${Similarity.centroidSimsCtesSql(h, c1, "half1", "h1_")},
       |${trainCtes("h1_", "half1")}${Similarity.centroidSimsCtesSql(h, c2, "half2", "h2_")},
       |${trainCtes("h2_", "half2")}${halfAssign("h1_", "a1")},
       |${halfAssign("h2_", "a2")},
       |assign AS (
       |  SELECT a1.vec_id, a1.cid * $c2 + a2.cid AS cid
       |  FROM a1 JOIN a2 ON a1.vec_id = a2.vec_id
       |), ${pruneTailSql(tau)}""".stripMargin
  }

  /** DuckDB twin of [[trainedFromDir]]: the unrolled training CTEs feed
    * the UNCHANGED prune chain reading `k_sims$T`. */
  def trainedOracle(numCentroids: Int = 16, iterations: Int = 2,
                    tau: Double = 0.4,
                    dim: Int = Similarity.LshOracleDim): String =
    oracle(numCentroids, tau, dim, sims = s"k_sims$iterations",
      trainingCtes = "\n" + (0 until iterations)
        .map(i => Similarity.kmeansIterCtesSql(i, dim)).mkString(",\n") + ",")
}
