package graft.operators

import graft.sources.{StoreCommit, Tables, Writers}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *   - [[bruteForceKnn]]: exact top-k by cosine — the correctness baseline.
  *     Cost |Q|·|N|; fine when the query set is small (broadcast) even if N
  *     is 100 TB, because it is a single pass over N with a per-query heap
  *     (here: window top-k after a broadcast cross join).
  *   - [[lshCosineCandidates]] / [[lshKnn]]: random-hyperplane LSH — sign
  *     bits of seeded hyperplane projections form bucket keys across
  *     several tables; only bucket-mates are scored. This is the scale
  *     path: candidate generation is an equi-join on bucket keys (shuffle
  *     on narrow keys, no cross product).
  *
  * The dot products run through `zip_with` + `aggregate` — codegen'd
  * builtins evaluating left-to-right, which makes the doubles bit-identical
  * to the DuckDB oracle's `list_cosine_similarity` over DOUBLE[].
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double via
    * the fused codegen'd dot product ([[graft.functions.FloatVecDot]] —
    * identical operation order to `aggregate(zip_with(...))`, so values are
    * bit-stable against the composed-builtin form and the DuckDB oracle). */
  def cosine(a: Column, b: Column): Column = {
    val dot = graft.functions.FloatVecDot.dot(a, b)
    dot / (sqrt(graft.functions.FloatVecDot.dot(a, a)) *
      sqrt(graft.functions.FloatVecDot.dot(b, b)))
  }

  /** L2 norm column for precomputing per-row (norms are per-vector; compute
    * them |N| times before a pairwise join, not |N|² times inside it). */
  def l2norm(e: Column): Column = sqrt(graft.functions.FloatVecDot.dot(e, e))

  /** Exact top-k neighbors for each query vector (excluding self). */
  def bruteForceKnn(embeddings: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      l2norm(col("embedding")).as("qn"))
    val n = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      l2norm(col("embedding")).as("nn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(n)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        graft.functions.FloatVecDot.dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        graft.functions.StableRound.stableRound(col("cosine"), 8).as("cosine_r"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver-contract query: neighbors of the first `numQueries` vectors. */
  def knnFromDir(spark: SparkSession, dir: String, numQueries: Int = 8, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    bruteForceKnn(e, e.filter(col("vec_id") < numQueries), k)
  }

  def knnOracle(numQueries: Int = 8, k: Int = 10): String =
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                CAST(n.embedding AS DOUBLE[])) AS cosine
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $numQueries
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------------ IVF

  /** IVF coarse quantizer trained with Lloyd iterations expressed as
    * DataFrame ops (assign = broadcast-centroid argmax, update = groupBy
    * sums) — no MLlib, no driver-side loops over data. Deterministic and
    * ORACLE-EXACT end-to-end (the BpeTrain / QualityClassifier iterative-
    * trainer discipline, promoted to the quantizer in round 13): init is
    * the md5 [[hashCentroids]] (both engines recompute it bit-for-bit),
    * assignment ties break to the LARGER cid (the [[centroidSimsCtesSql]]
    * companion rule), and each update sums micros-rounded components as
    * LONGS — float sums are partition-order-dependent and can never
    * hash-match an oracle; integer sums of rounded terms are exact on both
    * engines — before ONE double division s/(n·1e6) whose inputs are
    * exactly representable, so the new centroid components are
    * bit-identical to the DuckDB twin's. Gated by `kmeans_train`
    * ([[kmeansTrainOracle]] unrolls the T iterations as CTE chains) and
    * consumed trained by `ivf_ann_trained`. Returns the final centroids
    * collected to the driver (|centroids|·dim doubles — K-sized by
    * design; that is what makes IVF a coarse quantizer). */
  def trainCentroids(embeddings: DataFrame, k: Int, iterations: Int = 2,
                     dimOpt: Option[Int] = None): Array[(Int, Array[Double])] = {
    val dim = dimOpt.getOrElse(embeddingDim(embeddings))
    var centroids = hashCentroids(dim, k)
    for (_ <- 1 to iterations)
      centroids = lloydStepExact(embeddings, centroids, dim)
    centroids
  }

  /** One Lloyd update's exact stats: per cell, its size and the array of
    * per-dimension LONG sums of micros-rounded components — one row per
    * cell, map-side partial agg, NO explode on the corpus scan. Shared
    * verbatim by [[lloydStepExact]] and the `kmeans_train` gate so the
    * gated math IS the production math. */
  private[operators] def lloydUpdateStats(e: DataFrame,
      centroids: Array[(Int, Array[Double])], dim: Int): DataFrame =
    statsOfAssigned(assignToCentroids(e, centroids), dim)

  /** One exact Lloyd step: assignment (ties → larger cid) + integer-micros
    * update; un-hit cells keep their previous centroid (both engines'
    * rule). The collect is K·dim longs — driver-sized by construction. */
  private[graft] def lloydStepExact(e: DataFrame,
      centroids: Array[(Int, Array[Double])],
      dim: Int): Array[(Int, Array[Double])] = {
    val updated = lloydUpdateStats(e, centroids, dim).collect().map { r =>
      val n = r.getAs[Long]("n")
      (r.getAs[Int]("centroid_id"),
        r.getAs[Seq[Long]]("s").map(_.toDouble / (n * 1e6)).toArray)
    }.toMap
    centroids.map { case (id, c) => (id, updated.getOrElse(id, c)) }
  }

  /** The literal-argmax assignment EXPRESSION over an arbitrary vector
    * column (ties → larger cid, the rule every IVF oracle mirrors) —
    * [[assignToCentroids]] generalized so the IMI path can assign both
    * halves of a vector in ONE scan. */
  private[operators] def assignExpr(e: Column,
                                    centroids: Array[(Int, Array[Double])]): Column = {
    val dists = centroids.map { case (id, c) =>
      struct(litCosine(e, c).as("sim"), lit(id).as("id"))
    }
    greatest(dists.toIndexedSeq: _*).getField("id")
  }

  /** EUCLIDEAN argmin assignment (ties → larger cid): argmin ‖e − c‖²
    * over a fixed e is argmax ⟨e,c⟩ − ‖c‖²/2, so the comparison key
    * stays one fused dot per centroid. Residual sub-quantizers NEED L2
    * Lloyd (the FAISS k-means): residual MAGNITUDE carries the
    * reconstruction information, and a cosine quantizer — direction
    * only — reconstructs x̂ = c + d with arbitrarily mis-scaled d,
    * collapsing within-cell ranking to noise (measured: recall@10 of a
    * cosine-trained residual tier was ZERO where L2 training recovers
    * it). The ‖c‖²/2 constant is the same sequential fold
    * `list_inner_product(c, c) / 2` the SQL twin runs; halving is exact
    * in binary floating point. */
  private[operators] def assignL2Expr(e: Column,
                                      centroids: Array[(Int, Array[Double])]): Column = {
    val dists = centroids.map { case (id, c) =>
      struct((litDot(e, c) - lit(c.foldLeft(0.0)((a, x) => a + x * x) / 2.0)).as("sim"),
        lit(id).as("id"))
    }
    greatest(dists.toIndexedSeq: _*).getField("id")
  }

  /** Deterministic DATA-SAMPLED k-means init: the k rows with the
    * smallest md5('pqinit_' ‖ vec_id) hash, cids in (hash, vec_id)
    * order — the standard sample-the-data init, and the one L2 Lloyd
    * NEEDS: the md5-formula centroids have component scale ~[−1,1)
    * (norm ≈ √(dim/3)), so on small-norm data (residuals!) the
    * ‖c‖²/2 penalty sends EVERY row to the one smallest-norm centroid
    * and the training degenerates to a single cluster (measured: the
    * residual tier's within-cluster ranking collapsed to tie-break
    * noise). Copied values are exact cross-engine by construction —
    * no formula to reproduce, just the same k rows in the same order. */
  private[operators] def dataInitCentroids(e: DataFrame, k: Int): Array[(Int, Array[Double])] =
    e.select(col("vec_id"), col("embedding"),
        Dedup.hash60(concat(lit("pqinit_"), col("vec_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .collect().zipWithIndex.map { case (r, i) =>
        (i, r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
      }

  /** [[trainCentroids]] under EUCLIDEAN assignment — data-sampled init
    * (see [[dataInitCentroids]]), the same tie rule and exact
    * integer-micros update; only the init and the argmax metric change. */
  def trainCentroidsL2(embeddings: DataFrame, k: Int, iterations: Int = 2,
                       dimOpt: Option[Int] = None): Array[(Int, Array[Double])] = {
    val dim = dimOpt.getOrElse(embeddingDim(embeddings))
    var centroids = dataInitCentroids(embeddings, k)
    for (_ <- 1 to iterations) {
      val updated = statsOfAssigned(
        embeddings.withColumn("centroid_id",
          assignL2Expr(col("embedding"), centroids)), dim)
        .collect().map { r =>
          val n = r.getAs[Long]("n")
          (r.getAs[Int]("centroid_id"),
            r.getAs[Seq[Long]]("s").map(_.toDouble / (n * 1e6)).toArray)
        }.toMap
      centroids = centroids.map { case (id, c) => (id, updated.getOrElse(id, c)) }
    }
    centroids
  }

  /** The update-stats aggregation over an already-assigned frame — the
    * metric-independent half of [[lloydUpdateStats]]. */
  private def statsOfAssigned(assigned: DataFrame, dim: Int): DataFrame =
    assigned
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(d =>
          sum(floor(element_at(col("embedding"), d + 1).cast("double") * 1e6 + 0.5)
            .cast("long"))): _*).as("s"))

  /** Nearest-centroid assignment: centroids ship as plan literals (they are
    * the broadcast side by construction); argmin over dot-distance. */
  def assignToCentroids(embeddings: DataFrame,
                        centroids: Array[(Int, Array[Double])]): DataFrame =
    embeddings.withColumn("centroid_id", assignExpr(col("embedding"), centroids))

  /** Per-query nProbe nearest centroids, with the query embedding carried.
    * Tie-break on centroid_id keeps the probe set deterministic (and
    * oracle-reproducible) even for exactly-equal centroid cosines. */
  private[graft] def queryProbes(queries: DataFrame, centroids: Array[(Int, Array[Double])],
                                 nProbe: Int): DataFrame = {
    val probeSims = centroids.map { case (id, c) =>
      struct(litCosine(col("qe"), c).as("sim"), lit(id).as("centroid_id"))
    }
    queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("probe", explode(sortArrayDesc(array(probeSims.toIndexedSeq: _*))))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("probe.sim").desc, col("probe.centroid_id").asc)))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("qe"), col("probe.centroid_id").as("centroid_id"))
  }

  /** Score probed cells only and keep each query's top-k. */
  private def scoreProbed(probes: DataFrame, cells: DataFrame, k: Int): DataFrame =
    scoreCells(probes, cells, cosine(col("qe"), col("ne")), k)

  /** Join each query's probe rows to its cells' candidates, drop the
    * query itself, score with `score` and keep the top-k — the tail
    * every cell-bounded scorer shares. */
  private def scoreCells(probes: DataFrame, cells: DataFrame, score: Column,
                         k: Int): DataFrame =
    rankTopK(broadcast(probes).join(cells, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", score), k)

  /** Each query's top-k by (cosine desc, neighbor_id asc), as the
    * (query_id, rank, neighbor_id, cosine_r) surface every kNN gate
    * emits. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        graft.functions.StableRound.stableRound(col("cosine"), 8).as("cosine_r"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF ANN top-k: score only vectors in the query's `nProbe` nearest
    * cells. For the persisted variant whose probe reads only the probed
    * cells' FILES, see [[Tier]] / [[probe]]. */
  def ivfKnn(embeddings: DataFrame, queries: DataFrame, k: Int = 10,
             numCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = trainCentroids(embeddings, numCentroids)
    val n = assignToCentroids(embeddings, centroids)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    scoreProbed(queryProbes(queries, centroids, nProbe), n, k)
  }

  // ------------------------------------------------------ IVF maintenance

  /** Index layout (generation-versioned; the tiers add sidecars):
    *   dir/data_v<g>/centroid_id=<c>/   the corpus, partitioned by cell
    *   dir/_quantizer_v<g>/             the coarse centroids
    *   dir/_health_v<g>/                build-time health baseline
    *   dir/_manifest.properties         the live gen g
    *
    * Every whole-index rewrite — a rebuild, [[compact]], [[remove]] or
    * [[requantize]] — stages a complete next generation beside
    * the live one and publishes it through [[StoreCommit]], which then
    * deletes the retired generation. Appends land files INSIDE the live
    * generation's cell dirs — a single-table write under parquet's commit
    * protocol, no cross-table window to protect. */
  private[graft] case class IvfManifest(gen: Long) extends StoreCommit.Manifest {
    def layout: StoreCommit.Layout = IvfLayout
    def fields: Seq[(String, Any)] = Seq("gen" -> gen)
    def epochs: Seq[Long] = Nil
    override def generation: Option[Long] = Some(gen)
  }

  /** Every tier's generation dirs: the data, the health baseline, and
    * each tier's sidecars — a new sidecar is declared once, on its
    * [[Coarse]] or [[Codec]]. */
  private lazy val IvfLayout = StoreCommit.Layout("graft ivf index manifest",
    genPrefixes = Seq("data_v", "_health_v") ++ Tier.all.flatMap(_.sidecars).distinct)

  private[graft] def ivfGen(dir: String): Long = StoreCommit.read(dir)(_("gen").toLong)

  private[graft] def ivfDataDir(dir: String): String =
    s"$dir/data_v${ivfGen(dir)}"

  /** A float tier's live rows (vec_id, embedding). Its payload is
    * lossless, so its requantize re-encodes these: the rewrite then
    * holds exactly what the build and the appends left in the index. */
  private[graft] def liveFloatRows(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ivfDataDir(dir)).drop("centroid_id")

  // ------------------------------------------------------- vector tiers

  /** How a tier partitions space into cells, and the sidecars that
    * persist it. */
  sealed abstract class Coarse(val sidecars: Seq[String])
  object Coarse {
    /** One flat md5 [[hashCentroids]] quantizer — data-independent, so
      * DuckDB recomputes it and every IVF oracle can gate the tier. */
    case object FlatHash extends Coarse(Seq("_quantizer_v"))
    /** One flat quantizer trained by exact Lloyd ([[trainCentroids]]). */
    case object FlatTrained extends Coarse(Seq("_quantizer_v"))
    /** The inverted multi-index: two half-space codebooks
      * ([[trainImi]]); a vector's cell is the combined id cid₁·C₂+cid₂,
      * so every store mechanic works on the flat shapes. */
    case object Imi extends Coarse(Seq("_quantizer1_v", "_quantizer2_v"))
  }

  /** What a cell row stores for its vector, and the sidecar that
    * persists the codec's trained state. */
  sealed abstract class Codec(val sidecars: Seq[String])
  object Codec {
    /** The float vector itself. */
    case object F32 extends Codec(Nil)
    /** uint8 codes under per-dim extrema ([[sq8Encode]]): 4× fewer
      * bytes per vector, decoded for an asymmetric re-score. */
    case object Sq8 extends Codec(Seq("_sq8_v"))
    /** m product-quantization codes of the raw vector, scored in O(m)
      * lookups per candidate ([[adcScore]]). */
    case object Pq extends Codec(Seq("_pq_v"))
    /** m PQ codes of the residual x − c_cell under L2 codebooks, plus
      * the exact ‖x‖ ([[residualFrame]]) — the FAISS IVFPQ encoding. */
    case object PqRes extends Codec(Seq("_pq_v"))
  }

  /** Every build parameter a tier store can depend on — all of them key
    * the [[store]] registry, so two callers with different parameters
    * never share a build. `c` is the flat C (C₁ under IMI), `c2` IMI's
    * C₂, `kpq` the PQ codebook size, `iterations` the Lloyd rounds of
    * every trained codebook, and `dPrime` > 0 builds over the dPrime-dim
    * Matryoshka prefix of each vector ([[mrlTruncate]]). */
  final case class Build(c: Int = 16, c2: Int = 0, kpq: Int = PqK,
                         iterations: Int = 2, dPrime: Int = 0)

  /** One ANN serving tier as data — a (coarse quantizer × codec) value,
    * the way product quantization (Jégou et al., PAMI 2011) and FAISS's
    * index factory name an index. Its gates' default build parameters
    * and probe widths ride along. A `health` tier writes a build-time
    * `_health_v` baseline (count, mean assigned cosine) that
    * [[indexHealth]] measures drift against: compaction carries it
    * forward, so drift keeps counting from the original build; remove
    * and requantize refresh it in the same write pass. */
  final case class Tier(name: String, coarse: Coarse, codec: Codec, defaults: Build,
                        nProbe: Int, nProbe2: Int = 0, health: Boolean = false) {
    def sidecars: Seq[String] = coarse.sidecars ++ codec.sidecars
  }

  object Tier {
    val Ivf = Tier("ivf", Coarse.FlatHash, Codec.F32, Build(), 4, health = true)
    val IvfTrained = Ivf.copy(name = "ivf_trained", coarse = Coarse.FlatTrained)
    val IvfSq8 = Tier("ivf_sq8", Coarse.FlatHash, Codec.Sq8, Build(), 4)
    val Imi = Tier("imi", Coarse.Imi, Codec.F32, Build(8, 8), 2, 2)
    val ImiSq8 = Imi.copy(name = "imi_sq8", codec = Codec.Sq8)
    val IvfPq = Tier("ivf_pq", Coarse.FlatHash, Codec.Pq, Build(), 4)
    // residual encoding only pays under a coarse quantizer that fits the
    // data, so this tier trains its coarse centroids
    val IvfPqRes = Tier("ivf_pqr", Coarse.FlatTrained, Codec.PqRes, Build(), 4)
    val all: Seq[Tier] = Seq(Ivf, IvfTrained, IvfSq8, Imi, ImiSq8, IvfPq, IvfPqRes)
  }

  /** A generation's frozen encode state: the coarse codebook(s), plus
    * the SQ8 extrema or the PQ codebooks. Appends encode under it, so
    * append + probe equals a same-state rebuild over the union; only a
    * requantize replaces it. */
  final case class TierState(coarse: Seq[Array[(Int, Array[Double])]],
                             sq8: Option[(Array[Double], Array[Double])] = None,
                             pq: Option[Array[Array[(Int, Array[Double])]]] = None)

  /** The tier's stage step: train the coarse quantizer and the codec
    * state on `rows` (SOURCE floats — codes are lossy, so a requantize
    * re-reads the upstream vectors, never decoded codes). */
  def train(tier: Tier, rows: DataFrame, p: Build, dim: Int): TierState = {
    val coarse = tier.coarse match {
      case Coarse.FlatHash => Seq(hashCentroids(dim, p.c))
      case Coarse.FlatTrained => Seq(trainCentroids(rows, p.c, p.iterations, Some(dim)))
      case Coarse.Imi =>
        val (c1, c2) = trainImi(rows, p.c, p.c2, p.iterations, dim)
        Seq(c1, c2)
    }
    tier.codec match {
      case Codec.F32 => TierState(coarse)
      case Codec.Sq8 => TierState(coarse, sq8 = Some(sq8Stats(rows, dim)))
      case Codec.Pq => TierState(coarse, pq = Some(trainPq(rows, dim, PqM, p.kpq, p.iterations)))
      case Codec.PqRes =>
        val resid = residualFrame(assignToCentroids(rows, coarse.head), coarse.head)
        TierState(coarse, pq = Some(trainPqL2(resid.select(col("vec_id"), col("embedding")),
          dim, PqM, p.kpq, p.iterations)))
    }
  }

  /** The tier's encode step: assign `rows` to cells under the frozen
    * state and encode the payload — one scan projection ending in
    * `centroid_id`, the partition column. */
  private def encode(tier: Tier, s: TierState, rows: DataFrame): DataFrame = {
    val assigned = tier.coarse match {
      case Coarse.Imi =>
        val Seq(c1, c2) = s.coarse
        assignImi(rows, c1, c2, c1.head._2.length)
          .withColumn("centroid_id", col("cid1") * c2.length + col("cid2"))
          .drop("cid1", "cid2")
      case _ => assignToCentroids(rows, s.coarse.head)
    }
    tier.codec match {
      case Codec.F32 => assigned
      case Codec.Sq8 =>
        val (mn, mx) = s.sq8.get
        assigned.select(col("vec_id"), sq8Encode(col("embedding"), mn, mx).as("codes"),
          col("centroid_id"))
      case Codec.Pq =>
        assigned.select(col("vec_id"), pqEncodeExpr(s.pq.get).as("codes"), col("centroid_id"))
      case Codec.PqRes =>
        residualFrame(assigned, s.coarse.head).select(col("vec_id"),
          pqEncodeL2Expr(s.pq.get).as("codes"), col("norm"), col("centroid_id"))
    }
  }

  /** The live generation's frozen state, read from its sidecars (each
    * read memoized per path — see [[sidecarMemo]]). */
  private def readState(spark: SparkSession, tier: Tier, dir: String,
                        g: Long): TierState =
    TierState(tier.coarse.sidecars.map(q => readQuantizerPath(spark, s"$dir/$q$g")),
      sq8 = if (tier.codec == Codec.Sq8) Some(readSq8Sidecar(spark, dir, g)) else None,
      pq = if (tier.codec.sidecars.contains("_pq_v")) Some(readPqSidecar(spark, dir, g)) else None)

  private def saveSidecars(spark: SparkSession, tier: Tier, dir: String, g: Long,
                           s: TierState): Unit = {
    for ((q, c) <- tier.coarse.sidecars.zip(s.coarse)) saveQuantizer(spark, s"$dir/$q$g", c)
    import spark.implicits._
    for ((mn, mx) <- s.sq8)
      Seq((mn.toSeq, mx.toSeq)).toDF("mn", "mx")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_sq8_v$g")
    s.pq.foreach(savePqCodebooks(spark, s"$dir/_pq_v$g", _))
  }

  /** Build `tier` at `dir` over `rows`: train, then publish a fresh
    * generation. Returns the trained state. */
  def build(tier: Tier, dir: String, rows: DataFrame, p: Build): TierState = {
    val s = train(tier, rows, p, embeddingDim(rows))
    buildWith(tier, dir, rows, s)
    s
  }

  /** Build `tier` at `dir` over `rows` under a given state (a float
    * tier under caller-supplied centroids). */
  def buildWith(tier: Tier, dir: String, rows: DataFrame, s: TierState): Unit =
    publish(tier, dir, rows, s, coalesce = false)

  /** Re-quantize: re-encode every source row under a new state (from
    * [[train]] at new parameters, or a caller's centroids) into a
    * cell-coalesced next generation — a re-quantize IS a re-partition of
    * space, so every row must re-assign; what stays O(batch) is the
    * append, and this pay-once rewrite is amortized across the appends
    * whose growth or drift triggered it. After it the index equals a
    * from-scratch build under the new state. */
  def requantize(tier: Tier, dir: String, rows: DataFrame, s: TierState): Unit =
    publish(tier, dir, rows, s, coalesce = true)

  /** A full next generation: `rows` encoded under `s` (one writer per
    * cell when `coalesce`), a health tier's fresh baseline, the
    * sidecars. */
  private def publish(tier: Tier, dir: String, rows: DataFrame, s: TierState,
                      coalesce: Boolean): Unit =
    promote(dir) { (_, next) =>
      val cells = encode(tier, s, rows)
      writeCells(rows.sparkSession, dir, next,
        if (coalesce) cells.repartition(col("centroid_id")) else cells,
        if (tier.health) Some(s.coarse.head) else None)
      saveSidecars(rows.sparkSession, tier, dir, next, s)
    }

  /** O(batch) ingestion: encode the rows under the live generation's
    * FROZEN state and land the files inside its cell directories — old
    * data is never re-read or re-encoded, so ingestion stays O(batch),
    * not O(corpus). Recall degrades only as the data drifts from the
    * frozen state, which [[indexHealth]] measures and a requantize
    * repairs. */
  def append(spark: SparkSession, tier: Tier, dir: String, rows: DataFrame): Unit = {
    val g = ivfGen(dir)
    encode(tier, readState(spark, tier, dir, g), rows)
      .write.mode("append").partitionBy("centroid_id").parquet(s"$dir/data_v$g")
  }

  /** Takedown: a filtered generation rewrite — the kept rows move
    * verbatim under the frozen state (codes are never re-encoded; a
    * removal under the build-time stats decodes exactly as before),
    * cell-coalesced, so the rewrite doubles as a compaction. Cost is
    * O(index rewrite), so takedowns batch on the compaction cadence. */
  def remove(spark: SparkSession, tier: Tier, dir: String, removedIds: DataFrame): Unit =
    rewriteGeneration(spark, tier, dir,
      _.join(removedIds.select(col("vec_id")), Seq("vec_id"), "left_anti"), refreshHealth = true)

  /** Compaction: N appends leave N file sets in every cell dir, so probe
    * cost grows with calendar time, not data size; the identity rewrite
    * returns every cell to ONE file — same state, same content. */
  def compact(spark: SparkSession, tier: Tier, dir: String): Unit =
    rewriteGeneration(spark, tier, dir, identity, refreshHealth = false)

  /** The kept rows of the live generation, cell-coalesced into the next
    * one, with the tier's sidecars carried forward UNCHANGED (the
    * frozen-state rule) as file copies of their parts, no Spark job. A
    * health tier refreshes its baseline when the content changed
    * (`refreshHealth`) and carries it otherwise. Copies, not hard links:
    * a link would share one inode between the two generations' files. */
  private def rewriteGeneration(spark: SparkSession, tier: Tier, dir: String,
                                keep: DataFrame => DataFrame,
                                refreshHealth: Boolean): Unit =
    promote(dir) { (g, next) =>
      val refresh = tier.health && refreshHealth
      writeCells(spark, dir, next,
        keep(spark.read.parquet(s"$dir/data_v$g")).repartition(col("centroid_id")),
        if (refresh) Some(readState(spark, tier, dir, g).coarse.head) else None)
      val carried = tier.sidecars ++ (if (tier.health && !refresh) Seq("_health_v") else Nil)
      for (q <- carried; f <- sidecarParts(s"$dir/$q$g").map(Paths.get(_)))
        Files.copy(f, Files.createDirectories(Paths.get(s"$dir/$q$next")).resolve(f.getFileName))
    }

  /** Stage generation g+1 beside the live g (`stage(g, g + 1)`), then
    * commit it with one manifest rename — [[StoreCommit]] deletes the
    * retired generation. A fresh dir has no live generation: gen -1
    * sweeps every version. */
  private def promote(dir: String)(stage: (Long, Long) => Unit): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val cur = if (StoreCommit.exists(dir)) ivfGen(dir) else -1L
    StoreCommit.sweep(dir, IvfManifest(cur))
    stage(cur, cur + 1)
    StoreCommit.commit(dir, IvfManifest(cur + 1))
  }

  /** Write generation `next`'s cells. With `healthOf`'s centroids the
    * build-time health baseline rides the SAME write pass via `observe`
    * (an accumulator-backed aggregate, zero extra scans). */
  private def writeCells(spark: SparkSession, dir: String, next: Long, cells: DataFrame,
                         healthOf: Option[Array[(Int, Array[Double])]]): Unit =
    healthOf match {
      case None => cells.write.partitionBy("centroid_id").parquet(s"$dir/data_v$next")
      case Some(centroids) =>
        val h = Writers.observed(cells, count(lit(1)).as("n"),
          avg(assignedSim(centroids)).as("mean_sim"))(
          _.write.partitionBy("centroid_id").parquet(s"$dir/data_v$next"))
        import spark.implicits._
        Seq((h.getAs[Long]("n"), h.getAs[Double]("mean_sim"))).toDF("n", "mean_sim")
          .coalesce(1).write.parquet(s"$dir/_health_v$next")
    }

  /** ANN over a persisted tier: the coarse probe frame (each query's
    * nProbe nearest cells; nProbe×nProbe2 cell pairs under IMI), the
    * partition-pruned read of ONLY the probed cells ([[prunedCellScan]]),
    * the optional filtered-search restriction ([[semiJoinAllowed]] on the
    * candidate rows — the index is never rebuilt per predicate, and
    * filtering candidates, not the top-k, keeps k results whenever the
    * probed cells hold them), then the codec's exact scorer: a float
    * cosine, an asymmetric cosine against SQ8-decoded lists, or the O(m)
    * ADC lookup sum. */
  def probe(spark: SparkSession, tier: Tier, dir: String, queries: DataFrame,
            allowedOpt: Option[DataFrame] = None)(
            k: Int = 10, nProbe: Int = tier.nProbe, nProbe2: Int = tier.nProbe2): DataFrame = {
    val g = ivfGen(dir)
    val s = readState(spark, tier, dir, g)
    val probes = tier.coarse match {
      case Coarse.Imi => imiProbeFrame(queries, s.coarse(0), s.coarse(1), nProbe, nProbe2)
      case _ => queryProbes(queries, s.coarse.head, nProbe)
    }
    val cells = semiJoinAllowed(prunedCellScan(spark, s"$dir/data_v$g", probes), allowedOpt)
    val ids = Seq(col("centroid_id"), col("vec_id").as("neighbor_id"))
    tier.codec match {
      case Codec.F32 =>
        scoreProbed(probes, cells.select(ids :+ col("embedding").as("ne"): _*), k)
      case Codec.Sq8 =>
        val (mn, mx) = s.sq8.get
        scoreCells(probes, cells.select(ids :+ sq8Decode(col("codes"), mn, mx).as("dv"): _*),
          mixedCosine(col("qe"), col("dv")), k)
      case Codec.Pq =>
        adcScore(probes, cells.select(ids :+ col("codes"): _*), s.pq.get, k)
      case Codec.PqRes =>
        adcScore(probes, cells.select(ids ++ Seq(col("codes"), col("norm")): _*), s.pq.get, k,
          residualOf = Some(s.coarse.head))
    }
  }

  /** Which rows a memoized store holds: the whole corpus, the BACKLOG
    * (every vector except the [[DedupIndex.DeltaMod]] residue class —
    * the split every incremental gate shares), or the backlog with that
    * delta appended (the post-lifecycle state health is read from). */
  private[operators] sealed trait Slice
  private[operators] object Slice {
    case object Full extends Slice
    case object Backlog extends Slice
    case object Appended extends Slice
  }

  private final case class StoreKey(tier: Tier, p: Build, slice: Slice, dir: String)

  /** A store build that runs once, outside the registry map: concurrent
    * builds of different keys overlap, and a second caller of the same
    * key waits on the first (a failed build is retried by the next). */
  private final class Once(build: => String) { lazy val path: String = build }

  private val stores = new java.util.concurrent.ConcurrentHashMap[StoreKey, Once]()

  /** The store registry: one persisted temp-dir index per (tier, build
    * params, slice, source dir) per JVM — the build-once economics every
    * indexed gate shares (a deployment writes the index once and every
    * probe reads it, so warm passes time the consume path alone). The
    * key carries EVERY build parameter: keyed on less, a second caller
    * with other parameters would silently get the first caller's build.
    * Temp dirs are removed on JVM exit. */
  private[operators] def store(spark: SparkSession, tier: Tier, dir: String, p: Build,
                               slice: Slice = Slice.Full): String =
    stores.computeIfAbsent(StoreKey(tier, p, slice, dir), _ => new Once({
      val src = source(spark, dir, p)
      val isDelta = col("vec_id") % DedupIndex.DeltaMod === 0
      if (slice == Slice.Appended) {
        val c = ClusterStore.copyStore(store(spark, tier, dir, p, Slice.Backlog),
          s"graft_${tier.name}_health")
        append(spark, tier, c, src.filter(isDelta))
        c
      } else {
        val tmp = java.nio.file.Files.createTempDirectory(s"graft_${tier.name}")
        TempDirs.registerForCleanup(tmp)
        val idx = tmp.resolve("index").toString
        val rows = if (slice == Slice.Backlog) src.filter(!isDelta) else src
        val dim = if (p.dPrime > 0) p.dPrime else dimForDir(dir, src)
        buildWith(tier, idx, rows, train(tier, rows, p, dim))
        idx
      }
    })).path

  /** The vectors a store over `dir` indexes: the corpus, or its
    * dPrime-dim Matryoshka prefix. */
  private def source(spark: SparkSession, dir: String, p: Build): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    if (p.dPrime > 0) mrlTruncate(e, p.dPrime) else e
  }

  /** One lifecycle step of a gate over a persisted tier. */
  sealed trait Op extends Product
  object Op {
    /** Probe the memoized full-corpus store. */
    case object Probe extends Op
    /** Probe for a `shortlist`-deep candidate list, then the exact
      * full-precision refine of those ids only ([[exactRefine]]). */
    final case class Rerank(shortlist: Int = 50) extends Op
    /** Probe restricted to the documents in `lang` (the doc_id↔vec_id
      * alignment of the corpus). */
    final case class Filtered(lang: String = "en") extends Op
    /** Append the delta to a copy of the backlog store, probe. */
    case object Append extends Op
    /** The same append, arriving as watermark-deduped micro-batches with
      * planted re-deliveries ([[graft.streaming.IndexIngest]]). */
    final case class StreamAppend(nBatches: Int = 4) extends Op
    /** Append, then compact, probe. */
    case object Compact extends Op
    /** Remove the delta from a copy of the full store, probe with the
      * surviving queries. */
    case object Remove extends Op
    /** Append, then requantize at `to`, probe: a float tier from its own
      * live rows, a lossy codec from the source vectors. */
    final case class Requantize(to: Build) extends Op
  }

  /** The lifecycle-gate builder: the gate over (tier, op, params). Each
    * mutating op runs on a copy of the memoized store
    * ([[ClusterStore.copyStore]] — gate scaffolding, timed separately; a
    * production op mutates in place), then probes with the first
    * `numQueries` vectors. The oracles state what each op must leave
    * behind: append, stream-append and compact equal a probe over the
    * union under the backlog's frozen state; remove equals the tier over
    * the kept rows with its state frozen at the full build; requantize
    * equals a from-scratch build at the new parameters. */
  def lifecycle(tier: Tier, op: Op = Op.Probe)(
      p: Build = tier.defaults, nProbe: Int = tier.nProbe, nProbe2: Int = tier.nProbe2,
      numQueries: Int = 8, k: Int = 10): (SparkSession, String) => DataFrame = (spark, dir) => {
    val e = Tables.embeddings(spark, dir)
    val dim = requireOracleDim(e, dir)
    val src = source(spark, dir, p)
    val isDelta = col("vec_id") % DedupIndex.DeltaMod === 0
    val first = col("vec_id") < numQueries
    val idx = op match {
      case Op.Probe | Op.Rerank(_) | Op.Filtered(_) => store(spark, tier, dir, p)
      case Op.Remove =>
        val c = ClusterStore.copyStore(store(spark, tier, dir, p), s"graft_${tier.name}_remove")
        remove(spark, tier, c, src.filter(isDelta).select(col("vec_id")))
        c
      case _ =>
        val c = ClusterStore.copyStore(store(spark, tier, dir, p, Slice.Backlog),
          s"graft_${tier.name}_${op.productPrefix.toLowerCase}")
        op match {
          case Op.StreamAppend(nBatches) =>
            import spark.implicits._
            val delta = src.filter(isDelta).select(col("vec_id"), col("embedding"))
              .orderBy(col("vec_id")).as[(Long, Seq[Float])].collect()
            graft.streaming.IndexIngest.replayVectors(spark, delta,
              b => append(spark, tier, c, b), nBatches)
          case _ => append(spark, tier, c, src.filter(isDelta))
        }
        op match {
          case Op.Compact => compact(spark, tier, c)
          case Op.Requantize(to) =>
            // re-encoding the float index's own rows also proves the
            // build and the append left the full corpus in it
            val rows = if (tier.codec == Codec.F32) liveFloatRows(spark, c) else src
            requantize(tier, c, rows, train(tier, rows, to, dim))
          case _ =>
        }
        c
    }
    val queries = src.filter(if (op == Op.Remove) first && !isDelta else first)
    val allowed = op match {
      case Op.Filtered(lang) => Some(Tables.documents(spark, dir)
        .filter(col("lang") === lang).select(col("doc_id").as("vec_id")))
      case _ => None
    }
    op match {
      case Op.Rerank(shortlist) =>
        exactRefine(e, probe(spark, tier, idx, queries)(shortlist, nProbe, nProbe2)
          .select(col("query_id"), col("neighbor_id")), k)
      case _ => probe(spark, tier, idx, queries, allowed)(k, nProbe, nProbe2)
    }
  }

  /** The health gates `ivf_index_health` / `ivf_imi_health`: the
    * [[indexHealth]] SCAN math, value-gated over the memoized APPENDED
    * store (build + append — the post-lifecycle state health is read
    * from). Emits the exact-integer form of [[IvfHealth]]'s signals:
    * build/now row counts and build/now assigned-cosine mass, each
    * per-row cosine rounded to micros BEFORE a long sum (float SUMS are
    * partition-order-dependent and can never hash-match an oracle;
    * integer sums of rounded terms are exact on both engines). Under IMI
    * a row's quality is the sum of its two half-space assigned cosines.
    * The "build" slice is the DeltaMod backlog predicate — appends never
    * rewrite old rows. Growth/drift are one division away. */
  def healthGate(tier: Tier)(p: Build = tier.defaults): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      requireOracleDim(Tables.embeddings(spark, dir), dir)
      val idx = store(spark, tier, dir, p, Slice.Appended)
      val g = ivfGen(idx)
      val books = readState(spark, tier, idx, g).coarse
      val sims = tier.coarse match {
        case Coarse.Imi =>
          val h = books(0).head._2.length
          val c2 = books(1).length
          Seq(assignedSimOf(books(0), expr(s"centroid_id DIV $c2"), slice(col("embedding"), 1, h)),
            assignedSimOf(books(1), pmod(col("centroid_id"), lit(c2)),
              slice(col("embedding"), h + 1, h)))
        case _ => Seq(assignedSim(books.head))
      }
      val micro = sims.map(s => floor(s * 1e6 + 0.5).cast("long")).reduce(_ + _)
      val isBuild = col("vec_id") % DedupIndex.DeltaMod =!= 0
      spark.read.parquet(s"$idx/data_v$g").agg(
        count(when(isBuild, lit(1))).as("n_build"),
        count(lit(1)).as("n_now"),
        sum(when(isBuild, micro)).as("sim_build_micros"),
        sum(micro).as("sim_now_micros"))
    }

  /** The tier an index dir holds, from its live generation's sidecars.
    * Tiers that differ only in how they TRAIN (hash vs trained flat
    * quantizer, raw vs residual PQ) share one layout and one rewrite, so
    * the first match serves every store op but a requantize. */
  private[graft] def tierAt(dir: String): Tier = {
    val g = ivfGen(dir)
    val present = Tier.all.flatMap(_.sidecars).distinct
      .filter(q => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$dir/$q$g"))).toSet
    Tier.all.find(_.sidecars.toSet == present).getOrElse(throw new IllegalStateException(
      s"no vector tier has the sidecars ${present.mkString(", ")} found under $dir"))
  }

  /** The measured quantizer sizing rule, C ∝ N: cells stay probe-sized
    * only while n stays within a constant factor of what C was chosen
    * for (SCALE.md: the pinned C=16 gate quantizer read 51.0 s at ×20
    * where C=320 — 16 scaled by the ×20 — read 14.6 s, 3.5× faster, via
    * tools/LabelNoiseProbe). */
  def sizedCentroidCount(currentC: Int, growth: Double): Int =
    math.max(currentC, math.ceil(currentC * growth).toInt)

  /** The automated maintenance decision for a health tier: read
    * [[indexHealth]] (one scan), and when its growth/drift triggers
    * fire, re-quantize with C sized by the measured rule — centroids
    * re-trained on the index's own rows. A live generation without a
    * `_health_v` baseline (every compressed tier) has no drift signal:
    * nothing fires. Returns the new centroid count if a requantize ran. */
  def maybeRequantize(spark: SparkSession, dir: String,
                      maxDrift: Double = 0.05, maxGrowth: Double = 4.0,
                     ): Option[Int] = {
    val baseline = java.nio.file.Paths.get(s"$dir/_health_v${ivfGen(dir)}")
    if (!java.nio.file.Files.isDirectory(baseline)) return None
    val h = indexHealth(spark, dir)
    if (!h.shouldRecluster(maxDrift, maxGrowth)) None
    else {
      val newC = sizedCentroidCount(readQuantizer(spark, dir).length, h.growth)
      val rows = liveFloatRows(spark, dir)
      requantize(Tier.Ivf, dir, rows, TierState(Seq(trainCentroids(rows, newC))))
      Some(newC)
    }
  }

  private def saveQuantizer(spark: SparkSession, quantizerDir: String,
                            centroids: Array[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    centroids.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(quantizerDir)
  }

  /** The persisted coarse quantizer of the live generation
    * (O(centroids·dim) — driver-sized by construction). */
  def readQuantizer(spark: SparkSession, dir: String): Array[(Int, Array[Double])] =
    readQuantizerPath(spark, s"$dir/_quantizer_v${ivfGen(dir)}")

  /** One sidecar read per (JVM, path): sidecar files are WRITE-ONCE BY
    * CONSTRUCTION — every store writes `_quantizer_vG`/`_sq8_vG`/`_pq_vG`
    * under a fresh temp dir or at the NEXT generation suffix, and the
    * generation-rewrite discipline carries them forward to new names,
    * never mutating a committed one — so the memo can never serve stale
    * content (the [[dimForDir]]/index-store memo class; a re-staged
    * crashed attempt rewrites the same path with identical bytes). Each
    * entry is O(centroids·dim) doubles. Without the memo every probe
    * CONSTRUCTION paid one eager collect() job per sidecar, serialized
    * on the driver — the recall composites paid 4–7 of them per pass. */
  private val sidecarMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def readQuantizerPath(spark: SparkSession,
                                path: String): Array[(Int, Array[Double])] =
    sidecarMemo.computeIfAbsent("q:" + path, _ =>
      readSidecar(spark, path)
        .map(r => (r.getAs[Int]("centroid_id"),
          r.getAs[Seq[Double]]("centroid").toArray))
        .sortBy(_._1))
      .asInstanceOf[Array[(Int, Array[Double])]]

  /** The part files of the sidecar directory `path`, the paths every
    * sidecar read passes to Spark: its hidden-path filter matches the
    * directory's own `_` prefix, so reading the directory itself logs
    * "All paths were ignored" on every read. */
  private def sidecarParts(path: String): Seq[String] = {
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try listing.toArray.toSeq.map(_.toString).filter { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      !name.startsWith("_") && !name.startsWith(".")
    }.sorted finally listing.close()
  }

  /** Every row of the sidecar directory `path` ([[sidecarParts]]).
    *
    * Empty-listing guard (observed once in a 162-query 8-worker verify
    * run): a freshly-committed sidecar read from another session can
    * transiently list ZERO files, and an empty quantizer silently
    * empties every downstream probe (probes -> isin() -> cells -> the
    * whole vector list) with no exception — the failure surfaced as a
    * hybrid-fusion gate returning single-list RRF. Refresh this
    * session's cached listing, re-list and retry once; if the sidecar is
    * genuinely empty, fail LOUDLY rather than serve an empty tier. */
  private def readSidecar(spark: SparkSession, path: String): Array[Row] = {
    def read(): Array[Row] = {
      val parts = sidecarParts(path)
      if (parts.isEmpty) Array.empty[Row] else spark.read.parquet(parts: _*).collect()
    }
    val first = read()
    val out = if (first.nonEmpty) first else {
      spark.catalog.refreshByPath(path)
      read()
    }
    require(out.nonEmpty, s"sidecar at $path listed empty twice")
    out
  }

  /** Per-row vector→assigned-centroid cosine — the quantity whose mean
    * decays as data drifts away from the centroids it was quantized
    * with. */
  private[graft] def assignedSim(centroids: Array[(Int, Array[Double])]): Column =
    assignedSimOf(centroids, col("centroid_id"), col("embedding"))

  /** [[assignedSim]] of the `view` vector column against the centroid
    * whose id is `cid` (an IMI half: its slice and its half-cell id). */
  private def assignedSimOf(centroids: Array[(Int, Array[Double])], cid: Column,
                            view: Column): Column =
    coalesce(centroids.map { case (id, c) =>
      when(cid === id, litCosine(view, c))
    }.toIndexedSeq: _*)

  /** One-pass (count, mean assigned-cosine) over index rows. */
  private def scanHealth(index: DataFrame,
                         centroids: Array[(Int, Array[Double])]): (Long, Double) = {
    val r = index.agg(count(lit(1)).as("n"),
      avg(assignedSim(centroids)).as("mean_sim")).first()
    (r.getAs[Long]("n"), r.getAs[Double]("mean_sim"))
  }

  /** Index fitness after appends: assignment-quality drift (build-time
    * mean assigned-cosine minus current) and size growth — the two
    * signals that should trigger reclustering. Reads the index once. */
  case class IvfHealth(nBuild: Long, nNow: Long,
                       simBuild: Double, simNow: Double) {
    def growth: Double = nNow.toDouble / nBuild
    def drift: Double = simBuild - simNow
    /** Recluster when assignment quality fell materially or the index
      * outgrew its quantizer (k chosen for nBuild keeps cells probe-sized
      * only while n stays within a constant factor). */
    def shouldRecluster(maxDrift: Double = 0.05, maxGrowth: Double = 4.0): Boolean =
      drift > maxDrift || growth > maxGrowth
  }

  def indexHealth(spark: SparkSession, dir: String): IvfHealth = {
    val centroids = readQuantizer(spark, dir)
    val base = readSidecar(spark, s"$dir/_health_v${ivfGen(dir)}").head
    val (n, sim) = scanHealth(spark.read.parquet(ivfDataDir(dir)), centroids)
    IvfHealth(base.getAs[Long]("n"), n, base.getAs[Double]("mean_sim"), sim)
  }

  /** The filtered-search candidate restriction: semi-join the caller's
    * allowed-id frame on the candidate rows (cell-bounded, before the
    * re-score) — a no-op when no predicate is given. */
  private def semiJoinAllowed(cells: DataFrame,
                              allowedOpt: Option[DataFrame]): DataFrame =
    allowedOpt.fold(cells)(a =>
      cells.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi"))

  private def sortArrayDesc(a: Column): Column = reverse(array_sort(a))

  /** Seeded random unit-ish hyperplanes: `tables` independent LSH tables of
    * `bitsPerTable` planes each, as literal nested arrays (broadcast with
    * the plan — no closure capture). */
  def hyperplanes(dim: Int, tables: Int, bitsPerTable: Int, seed: Long = 7L): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bitsPerTable, dim)(rnd.nextGaussian())
  }

  /** Bucket key per (vector, table): the sign-bit string of the plane
    * projections. Vectors with equal keys in ANY table become candidates. */
  def lshBuckets(embeddings: DataFrame, planes: Array[Array[Array[Double]]]): DataFrame = {
    val tableExprs = planes.zipWithIndex.map { case (tablePlanes, t) =>
      val bits = tablePlanes.map { plane =>
        when(litDot(col("embedding"), plane) >= 0, lit("1")).otherwise(lit("0"))
      }
      struct(lit(t).as("table"), concat(bits.toIndexedSeq: _*).as("bucket"))
    }
    embeddings
      .select(col("vec_id"), explode(array(tableExprs.toIndexedSeq: _*)).as("tb"))
      .select(col("vec_id"), col("tb.table"), col("tb.bucket"))
  }

  /** ANN top-k: score only same-bucket candidates, then per-query top-k. */
  /** Embedding width, read from the data (a hard-coded dim would silently
    * NULL-poison projections of narrower vectors into one giant bucket). */
  def embeddingDim(embeddings: DataFrame): Int =
    embeddings.select(size(col("embedding"))).first().getInt(0)

  /** [[embeddingDim]] memoized per source dir (the width is a property
    * of the dataset, like the memoized index stores): the unmemoized
    * read ran an EAGER one-row job at query-CONSTRUCTION time in every
    * FromDir entry point — the recall composites paid it 4–5×
    * sequentially per call (guide §5: driver-side work in query paths).
    * Now one job per (JVM, dir).
    *
    * IMMUTABILITY ASSUMPTION (ADVICE r20): the memo holds for the life of
    * the JVM, so a dataset directory regenerated IN-PLACE at a different
    * width within one JVM would validate against the stale width. Every
    * fixture dir is write-once (the driver's testdata is read-only, gate
    * temp dirs are fresh per build), so no current caller can hit this;
    * a future in-place-rewrite harness must key the memo on a content
    * stamp instead. */
  private val dirDims = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[operators] def dimForDir(dir: String, e: DataFrame): Int =
    dirDims.computeIfAbsent(dir, _ => Integer.valueOf(embeddingDim(e))).intValue()

  /** Dot of an embedding column against a literal plan-side vector (plane /
    * centroid) — the shared projection primitive of the LSH and IVF paths. */
  private def litDot(e: Column, v: Array[Double]): Column =
    // codegen kernel == aggregate(zip_with(e, lit(v), *), 0d, +) — the
    // HOF form ran interpreted in the centroid-assignment hot loop
    // (C dots per row per Lloyd iteration / probe; r20)
    graft.functions.VecExprs.litDot(e, v)

  /** Cosine of an embedding column against a literal vector. */
  private def litCosine(e: Column, v: Array[Double]): Column =
    litDot(e, v) / (l2norm(e) * lit(math.sqrt(v.map(x => x * x).sum)))

  def lshKnn(embeddings: DataFrame, queries: DataFrame, k: Int = 10,
             tables: Int = 8, bitsPerTable: Int = 6, seed: Long = 7L): DataFrame = {
    val dim = embeddingDim(embeddings)
    lshKnnPlanes(embeddings, queries, k, hyperplanes(dim, tables, bitsPerTable, seed))
  }

  /** md5-derived deterministic hyperplanes: component (t,b,d) is the 60-bit
    * md5 prefix of `plane_{t}_{b}_{d}` scaled to [-1, 1). Uniform per
    * component (not Gaussian — for sign-bucket LSH only the DIRECTION
    * distribution matters and component-iid uniform is symmetric enough),
    * and — the point — reproducible bit-for-bit inside DuckDB SQL, which
    * makes the FULL ANN pipeline (projections → sign buckets → candidate
    * join → exact re-score → top-k) oracle-checkable end-to-end. The same
    * md5-prefix construction as [[Dedup.hash60]]. */
  def hashPlanes(dim: Int, tables: Int, bitsPerTable: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bitsPerTable, dim) { (t, b, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"plane_${t}_${b}_${d}".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59) - 1.0
    }

  /** [[lshKnn]] with caller-supplied planes (seeded-random or [[hashPlanes]]). */
  def lshKnnPlanes(embeddings: DataFrame, queries: DataFrame, k: Int,
                   planes: Array[Array[Array[Double]]]): DataFrame = {
    val nb = lshBuckets(embeddings, planes)
      .select(col("table"), col("bucket"), col("vec_id").as("neighbor_id"))
    val qb = lshBuckets(queries, planes)
      .select(col("table"), col("bucket"), col("vec_id").as("query_id"))
    val candidates = qb.join(nb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val n = embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates
      .join(broadcast(q), Seq("query_id"))
      .join(n, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("qe"), col("ne")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        graft.functions.StableRound.stableRound(col("cosine"), 8).as("cosine_r"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Gated ANN query: hyperplane-LSH top-k for the first `numQueries`
    * vectors, with [[hashPlanes]] so the oracle recomputes the identical
    * planes in SQL. Recall is a tunable (tables × bits), verified
    * separately by the recall spec; the GATE verifies the pipeline
    * mechanics are exact — same buckets, same candidates, same scores,
    * same ranks on both engines. */
  /** The embedding width [[lshAnnOracle]]'s plane formula is generated
    * for. The oracle SQL is built before any data is read, so it cannot
    * derive the width itself; [[lshAnnFromDir]] asserts the data agrees. */
  val LshOracleDim = 64

  def lshAnnFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                    k: Int = 10, tables: Int = 4, bits: Int = 8): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = dimForDir(dir, e)
    // fail HERE with the cause, not downstream as an opaque oracle hash
    // mismatch: the gate's DuckDB twin hard-codes LshOracleDim planes
    require(dim == LshOracleDim,
      s"embeddings under $dir are $dim-wide but lshAnnOracle generates " +
        s"$LshOracleDim-dim planes — regenerate the oracle with dim=$dim")
    lshKnnPlanes(e, e.filter(col("vec_id") < numQueries), k,
      hashPlanes(dim, tables, bits))
  }

  // ------------------------------------------------- gated IVF pipeline

  /** md5-derived deterministic coarse quantizer — the same construction as
    * [[hashPlanes]]: component (t, d) is the 60-bit md5 prefix of
    * `centroid_{t}_{d}` scaled to [-1, 1). Not trained (for the GATE the
    * quantizer's job is to partition space reproducibly on both engines;
    * recall quality of the TRAINED quantizer is the recall spec's job) —
    * the point is that DuckDB recomputes the identical centroids in SQL,
    * which makes the FULL IVF pipeline (assignment → probe selection →
    * cell-bounded candidates → exact re-score → top-k) oracle-checkable
    * end-to-end, closing the last spec-only similarity path. */
  def hashCentroids(dim: Int, k: Int): Array[(Int, Array[Double])] =
    Array.tabulate(k) { t =>
      (t, Array.tabulate(dim) { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"centroid_${t}_${d}".getBytes("UTF-8"))
          .map(x => f"$x%02x").mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59) - 1.0
      })
    }

  /** Gated ANN query: IVF top-k for the first `numQueries` vectors under
    * the [[hashCentroids]] quantizer. Assignment ties break to the LARGER
    * centroid id (Spark's `greatest` over (sim, id) structs — mirrored in
    * the oracle's ORDER BY sim DESC, cid DESC), probe-selection ties to
    * the SMALLER (the window's explicit tie-break). Same plan shape as the
    * production [[ivfKnn]]: one corpus scan for assignment, probes
    * broadcast, scoring bounded to probed cells. */
  def ivfAnnFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                    k: Int = 10, numCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = dimForDir(dir, e)
    // fail HERE with the cause, not downstream as an opaque oracle hash
    // mismatch: the gate's DuckDB twin hard-codes LshOracleDim centroids
    require(dim == LshOracleDim,
      s"embeddings under $dir are $dim-wide but ivfAnnOracle generates " +
        s"$LshOracleDim-dim centroids — regenerate the oracle with dim=$dim")
    val centroids = hashCentroids(dim, numCentroids)
    val cells = assignToCentroids(e, centroids)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"))
    scoreProbed(
      queryProbes(e.filter(col("vec_id") < numQueries), centroids, nProbe),
      cells, k)
  }

  /** DuckDB twin of [[ivfAnnFromDir]]: centroids from the same md5
    * formula, cosines via `list_cosine_similarity` (bit-equal to the
    * Spark side's literal-vector cosine — the pairing the semantic_quality
    * gate proves), assignment and probe windows with the matching
    * tie-breaks, candidate equi-join on cell, exact cosine re-score. */
  /** The md5 hash-quantizer + per-vector centroid cosines as SQL CTEs
    * (`centroids`, `sims`) — single-sourced across every IVF-family twin
    * ([[ivfAnnOracle]], [[indexHealthOracle]], [[LabelNoise.ivfOracle]],
    * [[SemanticDedup.oracle]]) so the quantizer formula cannot drift. */
  private[operators] def centroidSimsCtesSql(dim: Int, numCentroids: Int,
                                             relation: String = "embeddings",
                                             p: String = "",
                                             l2: Boolean = false): String =
    s"""${p}centroids AS MATERIALIZED (
       |  SELECT t AS cid,
       |         list_transform(range(0, $dim), d ->
       |           CAST('0x' || substr(md5('centroid_' || t || '_' || d), 1, 15) AS BIGINT)
       |             / 576460752303423488.0 - 1.0) AS c
       |  FROM (SELECT unnest(range(0, $numCentroids)) AS t)
       |), ${p}sims AS MATERIALIZED (
       |  SELECT e.vec_id, ct.cid,
       |         ${simMetricSql("CAST(e.embedding AS DOUBLE[])", "ct.c", l2)} AS sim
       |  FROM $relation e CROSS JOIN ${p}centroids ct
       |)""".stripMargin

  /** The argmax comparison key both engines share: cosine by default,
    * or the EUCLIDEAN key ⟨e,c⟩ − ‖c‖²/2 (argmin L2 distance — see
    * [[assignL2Expr]]). */
  private def simMetricSql(e: String, c: String, l2: Boolean): String =
    if (l2) s"list_inner_product($e, $c) - list_inner_product($c, $c) / 2"
    else s"list_cosine_similarity($e, $c)"

  /** The IVF probe chain (assignment → probe selection → cell-bounded
    * candidates → exact re-score → per-query rank) as SQL CTEs, ending in
    * `${p}ranked (query_id, neighbor_id, cosine, rank)`. Assumes
    * `centroids`/`sims` are in scope ([[centroidSimsCtesSql]]). `p`
    * prefixes every CTE so a composed oracle ([[HybridRetrieval]]'s IVF
    * twin) can place this chain beside the BM25 fragment (which also
    * defines a `scored`). */
  private[operators] def ivfRankedCtesSql(numQueries: Int, nProbe: Int,
                                          p: String = "",
                                          sims: String = "sims",
                                          relation: String = "embeddings",
                                          neRelOpt: Option[String] = None,
                                          neVecOpt: Option[String] = None,
                                          scoredSqlOpt: Option[String] = None,
                                          candWhereOpt: Option[String] = None): String = {
    // the re-score's NEIGHBOR side is swappable (the SQ8 gate scores
    // against the decoded `dec.dv` lists); assignment/probes stay on the
    // full-precision sims — exactly the Spark side's asymmetric shape.
    // `scoredSqlOpt` replaces the WHOLE `${p}scored` CTE (it must keep
    // that name and read `${p}cand`) for re-scores that are not a
    // list_cosine over one neighbor vector — the PQ tier's ADC sum of
    // per-subspace partial dots ([[pqScoredSql]]). `candWhereOpt` is an
    // extra predicate on the candidate rows (alias `a`) — the FILTERED
    // search twin: the index still covers everything, only candidates
    // that satisfy the predicate reach the re-score
    val neRel = neRelOpt.getOrElse(relation)
    val neVec = neVecOpt.getOrElse("CAST(ne.embedding AS DOUBLE[])")
    val candExtra = candWhereOpt.map(w => s" AND $w").getOrElse("")
    val scored = scoredSqlOpt.getOrElse(
      s"""${p}scored AS MATERIALIZED (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                                $neVec) AS cosine
         |  FROM ${p}cand c JOIN $relation qe ON qe.vec_id = c.query_id
         |              JOIN $neRel ne ON ne.vec_id = c.neighbor_id
         |)""".stripMargin)
    s"""${p}assign AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM $sims
       |  ) WHERE rk = 1
       |), ${p}probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid ASC) AS rk
       |    FROM $sims WHERE vec_id < $numQueries
       |  ) WHERE rk <= $nProbe
       |), ${p}cand AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM ${p}probes p JOIN ${p}assign a ON a.cid = p.cid
       |  WHERE a.vec_id <> p.query_id$candExtra
       |), $scored, ${p}ranked AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM ${p}scored
       |)""".stripMargin
  }

  def ivfAnnOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                   nProbe: Int = 4, dim: Int = LshOracleDim,
                   relation: String = "embeddings",
                   extraCtes: String = ""): String =
    s"""WITH $extraCtes${centroidSimsCtesSql(dim, numCentroids, relation)},
       |${ivfRankedCtesSql(numQueries, nProbe, relation = relation)}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ------------------------------------- scalar quantization (SQ8)

  /** Per-dimension (min, max) of the embedding corpus — the scalar-
    * quantization training stats: ONE aggregate (map-side partial
    * min/max, dim-sized shuffle), dim doubles of driver state. MIN/MAX
    * are order-independent and EXACT on floats, so unlike sums they need
    * no micros discipline — both engines recompute identical doubles. */
  def sq8Stats(e: DataFrame, dim: Int): (Array[Double], Array[Double]) = {
    val r = e.agg(
      array((0 until dim).map(d =>
        min(element_at(col("embedding"), d + 1).cast("double"))): _*).as("mn"),
      array((0 until dim).map(d =>
        max(element_at(col("embedding"), d + 1).cast("double"))): _*).as("mx"))
      .first()
    (r.getAs[Seq[Double]]("mn").toArray, r.getAs[Seq[Double]]("mx").toArray)
  }

  /** SQ8 encode: code_d = clamp₀²⁵⁵ floor((x_d − mn_d) · 255/(mx_d − mn_d)
    * + 0.5) (0 for a degenerate dimension) — 4× fewer index bytes per
    * vector than float32, the standard memory-side ANN trade. The clamp
    * matters for the APPEND path: a batch value outside the build-time
    * range must still land in uint8 (saturating, like every production
    * quantizer) — without it appended codes could silently outgrow the
    * byte. Stats enter as plan literals; the transform is scan-fused,
    * zero shuffles. */
  def sq8Encode(e: Column, mn: Array[Double], mx: Array[Double]): Column = {
    val scales = mn.indices.map(d =>
      if (mx(d) > mn(d)) 255.0 / (mx(d) - mn(d)) else 0.0).toArray
    // codegen kernel == the per-element transform (same floor/clamp/cast
    // order; r20 — the HOF form ran interpreted per vector)
    graft.functions.VecExprs.sq8Encode(e, mn, scales)
  }

  /** SQ8 decode (reconstruction): mn_d + code_d · (mx_d − mn_d)/255. */
  def sq8Decode(codes: Column, mn: Array[Double], mx: Array[Double]): Column = {
    val inv = mn.indices.map(d =>
      if (mx(d) > mn(d)) (mx(d) - mn(d)) / 255.0 else 0.0).toArray
    graft.functions.VecExprs.sq8Decode(codes, mn, inv)
  }

  /** Cosine between a full-precision float vector and a decoded double
    * vector — the asymmetric-distance form (queries stay full precision,
    * the index stores codes). Composed builtins evaluating left-to-right:
    * bit-identical to DuckDB's `list_cosine_similarity` over DOUBLE[]. */
  private def mixedCosine(q: Column, dec: Column): Column =
    // fused kernels == the aggregate(zip_with(...)) composites, same
    // left-to-right accumulation (r20: the HOF form ran interpreted per
    // candidate pair)
    graft.functions.VecExprs.mixedDot(q, dec) /
      (sqrt(graft.functions.FloatVecDot.dot(q, q)) *
        sqrt(graft.functions.VecExprs.doubleDot(dec, dec)))

  /** Gated query `ann_sq8_topk`: brute top-k under asymmetric SQ8 —
    * full-precision queries against the quantized-then-decoded corpus.
    * The correctness anchor for the compressed index tier: at 100 TB the
    * codes (64 B/vector vs 256 B float32) are what the IVF cells would
    * store; the probe shape is unchanged (cell-bounded candidates,
    * re-score on decode), so this gate pins the encode/decode/score math
    * and the recall spec prices the approximation. */
  def sq8KnnFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                    k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = requireOracleDim(e, dir)
    val (mn, mx) = sq8Stats(e, dim)
    val dec = e.select(col("vec_id").as("neighbor_id"),
      sq8Decode(sq8Encode(col("embedding"), mn, mx), mn, mx).as("dv"))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(dec)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", mixedCosine(col("qe"), col("dv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        graft.functions.StableRound.stableRound(col("cosine"), 8).as("cosine_r"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The per-dim extrema + quantize-then-decode CTE chain, ending in
    * `dec (vec_id, dv DOUBLE[])` — single-sourced between
    * [[sq8KnnOracle]], [[ivfSq8Oracle]], and the append gate so the
    * quantization formulas cannot drift between the brute anchor and the
    * composed index gates. `statsRelation` lets the APPEND gate freeze
    * the extrema at the build corpus (production semantics: appended
    * batches encode under the STORED stats, which drift like the
    * quantizer and refresh on the same requantize cadence); `relation`
    * lets the REMOVE gate decode only the kept rows (while the stats
    * stay frozen at the build corpus — the same staleness rule). */
  private[operators] def sq8DecCtesSql(dim: Int,
                                       statsRelation: String = "embeddings",
                                       relation: String = "embeddings"): String =
    s"""sq8_comp AS (
       |  SELECT r.d, MIN(CAST(e.embedding[r.d + 1] AS DOUBLE)) AS mn,
       |         MAX(CAST(e.embedding[r.d + 1] AS DOUBLE)) AS mx
       |  FROM $statsRelation e CROSS JOIN (SELECT unnest(range(0, $dim)) AS d) r
       |  GROUP BY r.d
       |), sq8_stats AS (
       |  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM sq8_comp
       |), dec AS (
       |  SELECT e.vec_id,
       |         [ s.mns[i] + CAST(GREATEST(0, LEAST(255,
       |               FLOOR((CAST(e.embedding[i] AS DOUBLE) - s.mns[i])
       |               * (CASE WHEN s.mxs[i] > s.mns[i]
       |                       THEN 255.0 / (s.mxs[i] - s.mns[i]) ELSE 0.0 END) + 0.5))) AS DOUBLE)
       |             * (CASE WHEN s.mxs[i] > s.mns[i]
       |                     THEN (s.mxs[i] - s.mns[i]) / 255.0 ELSE 0.0 END)
       |           FOR i IN range(1, $dim + 1) ] AS dv
       |  FROM $relation e, sq8_stats s
       |)""".stripMargin

  /** DuckDB twin: per-dim MIN/MAX stats recomputed in SQL (exact — no
    * rounding discipline needed for extrema), the same encode/decode
    * formulas over list comprehensions, `list_cosine_similarity` against
    * the decoded lists. */
  def sq8KnnOracle(numQueries: Int = 8, k: Int = 10,
                   dim: Int = LshOracleDim): String =
    s"""WITH ${sq8DecCtesSql(dim)}, pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), n.dv) AS cosine
       |  FROM embeddings q JOIN dec n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $numQueries
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------ SQ8 tier: sidecar + twins

  /** The persisted per-dim extrema sidecar of generation `g` — the ONE
    * decode point for `_sq8_v` shared by both compressed tiers' probe
    * and append paths (a sidecar schema change lands in one place). */
  private def readSq8Sidecar(spark: SparkSession, dir: String,
                             g: Long): (Array[Double], Array[Double]) =
    sidecarMemo.computeIfAbsent("s:" + s"$dir/_sq8_v$g", _ => {
      val r = readSidecar(spark, s"$dir/_sq8_v$g").head
      (r.getAs[Seq[Double]]("mn").toArray, r.getAs[Seq[Double]]("mx").toArray)
    }).asInstanceOf[(Array[Double], Array[Double])]

  /** DuckDB twin of `ivf_sq8_remove`: [[ivfSq8Oracle]] over
    * the kept relation, stats frozen at the full build corpus. */
  def ivfSq8RemoveOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                         nProbe: Int = 4, dim: Int = LshOracleDim): String =
    s"""WITH kept_vecs AS (
       |  SELECT * FROM embeddings WHERE vec_id % ${DedupIndex.DeltaMod} <> 0
       |), ${centroidSimsCtesSql(dim, numCentroids, relation = "kept_vecs")},
       |${sq8DecCtesSql(dim, statsRelation = "embeddings", relation = "kept_vecs")},
       |${ivfRankedCtesSql(numQueries, nProbe, "s_", relation = "kept_vecs",
           neRelOpt = Some("dec"), neVecOpt = Some("ne.dv"))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM s_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of `ivf_sq8_append`: [[ivfSq8Oracle]]'s
    * chain with the stats CTE frozen at the backlog slice. */
  def ivfSq8AppendOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                         nProbe: Int = 4, dim: Int = LshOracleDim): String =
    s"""WITH backlog AS (
       |  SELECT * FROM embeddings WHERE vec_id % ${DedupIndex.DeltaMod} <> 0
       |), ${centroidSimsCtesSql(dim, numCentroids)},
       |${sq8DecCtesSql(dim, statsRelation = "backlog")},
       |${ivfRankedCtesSql(numQueries, nProbe, "s_",
           neRelOpt = Some("dec"), neVecOpt = Some("ne.dv"))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM s_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of `ivf_sq8_probe`: hash-quantizer sims +
    * [[sq8DecCtesSql]] (single-sourced with `ann_sq8_topk`) + the
    * standard probe chain re-scoring against `dec.dv`. */
  def ivfSq8Oracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                   nProbe: Int = 4, dim: Int = LshOracleDim): String =
    s"""WITH ${centroidSimsCtesSql(dim, numCentroids)},
       |${sq8DecCtesSql(dim)},
       |${ivfRankedCtesSql(numQueries, nProbe, "s_",
           neRelOpt = Some("dec"), neVecOpt = Some("ne.dv"))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM s_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ------------------------------- two-level (IMI) coarse quantizer

  /** The inverted multi-index (IMI-style) coarse quantizer — the
    * retirement of the measured O(N·C) scale-killer: the flat
    * literal-centroid argmax sweeps C·dim flops per row, and C must grow
    * ∝ N to keep cells probe-sized (the [[sizedCentroidCount]] rule), so
    * flat assignment cost per ROW creeps up with corpus size (SCALE.md's
    * CScaledProbe: the ×20/C=320 per-row uptick) — and C plan-literal
    * structs hit codegen limits long before wall-clock dies (C=10⁵
    * literal doubles would not even compile a method).
    *
    * Construction (after Babenko & Lempitsky, "The Inverted Multi-Index",
    * CVPR 2012): split each vector into two halves; train an INDEPENDENT
    * codebook of C₁ (resp C₂) centroids per half with the EXISTING exact
    * integer-micros Lloyd machinery ([[trainCentroids]] over the sliced
    * halves — same md5 init, same tie and update rules, so the same
    * unrolled-CTE oracle discipline gates it); a vector's cell is the
    * PAIR (argmax₁, argmax₂). C₁·C₂ effective cells for C₁+C₂ half-width
    * sweeps: per-row assignment is O(√C·dim) instead of O(C·dim), and
    * the plan carries (C₁+C₂)·dim/2 literal doubles instead of C·dim —
    * at C=10⁴ that is 100 cells' worth of literals for 10⁴ cells.
    * Probes are the product of the two per-half probe lists
    * (nProbe₁·nProbe₂ cells per query).
    *
    * Store mechanics are UNCHANGED from the flat index: the combined
    * cell id cid₁·C₂+cid₂ is the partition column, so data layout,
    * partition-pruned probes, manifest commit, append/compact/remove all
    * work on the same shapes. */
  def trainImi(e: DataFrame, c1: Int, c2: Int, iterations: Int, dim: Int)
      : (Array[(Int, Array[Double])], Array[(Int, Array[Double])]) = {
    require(dim % 2 == 0, s"IMI splits the vector in half; dim $dim is odd")
    val h = dim / 2
    // the two half-space Lloyd loops are independent, but overlapping them
    // (guide §2.6) was MEASURED SLOWER at sf0.1 (consistent 5–20% on the
    // IMI family, 2×2 A/B): each Lloyd job is a latency-bound driver-paced
    // mini-job here, and concurrent submission only adds scheduler
    // contention — adjudicated and reverted (OPTIMIZATION_r21.md)
    (trainCentroids(halfView(e, 1, h), c1, iterations, Some(h)),
      trainCentroids(halfView(e, h + 1, h), c2, iterations, Some(h)))
  }

  /** (vec_id, embedding=the [lo, lo+len) slice) — the half-space view
    * both training and the oracle's `half1`/`half2` CTEs run over. */
  private def halfView(e: DataFrame, lo: Int, len: Int): DataFrame =
    e.select(col("vec_id"), slice(col("embedding"), lo, len).as("embedding"))

  /** Both half-assignments in ONE corpus scan — no join between the
    * halves, the point of [[assignExpr]]. */
  def assignImi(e: DataFrame, cents1: Array[(Int, Array[Double])],
                cents2: Array[(Int, Array[Double])], halfDim: Int): DataFrame =
    e.withColumn("cid1", assignExpr(slice(col("embedding"), 1, halfDim), cents1))
      .withColumn("cid2", assignExpr(slice(col("embedding"), halfDim + 1, halfDim), cents2))

  /** Per-query probed cells: the PRODUCT of the two per-half nProbe
    * lists (query-sized × nProbe₁ × nProbe₂ rows — driver/broadcast
    * scale by construction). Tie-breaks per half mirror [[queryProbes]]
    * (smaller cid). */
  private def imiQueryCells(queries: DataFrame,
                            cents1: Array[(Int, Array[Double])],
                            cents2: Array[(Int, Array[Double])],
                            halfDim: Int, nProbe1: Int, nProbe2: Int): DataFrame = {
    val p1 = queryProbes(halfView(queries, 1, halfDim), cents1, nProbe1)
      .select(col("query_id"), col("centroid_id").as("cid1"))
    val p2 = queryProbes(halfView(queries, halfDim + 1, halfDim), cents2, nProbe2)
      .select(col("query_id"), col("centroid_id").as("cid2"))
    p1.join(p2, Seq("query_id"))
  }

  /** (query_id, qe, centroid_id) per probed COMBINED cell — the
    * nProbe₁×nProbe₂ product cells with the query vector carried, shared
    * by the float-IMI and IMI×SQ8 probe paths. */
  private def imiProbeFrame(queries: DataFrame,
                            cents1: Array[(Int, Array[Double])],
                            cents2: Array[(Int, Array[Double])],
                            nProbe1: Int, nProbe2: Int): DataFrame =
    imiQueryCells(queries, cents1, cents2, cents1.head._2.length,
        nProbe1, nProbe2)
      .withColumn("centroid_id", col("cid1") * cents2.length + col("cid2"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), Seq("query_id"))
      .select(col("query_id"), col("qe"), col("centroid_id"))

  /** The partition-pruned cell read every probe path shares: collect the
    * O(|probed cells|) distinct cell ids (driver-sized by construction)
    * and push them as a partition filter on the scan — only those cells'
    * directories are listed and read. */
  private def prunedCellScan(spark: SparkSession, dataDir: String,
                             probes: DataFrame): DataFrame = {
    val probedCells = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    // queries and quantizers are both non-empty by construction (the
    // sidecar reads above guard their listings), so an empty probe set
    // can only be a silent upstream emptiness — fail loudly instead of
    // serving an empty vector tier (the readQuantizerPath guard's story)
    require(probedCells.nonEmpty,
      s"no probed cells for $dataDir — empty probe frame upstream")
    spark.read.parquet(dataDir)
      .filter(col("centroid_id").isin(probedCells.map(Integer.valueOf).toIndexedSeq: _*))
  }

  /** DuckDB twin of `ivf_imi_health` ([[healthGate]]): per-half md5 codebooks +
    * argmax assignment (ties → larger cid, as everywhere), per-half
    * micros rounding, one integer sum. */
  def imiHealthOracle(c1: Int = 8, c2: Int = 8,
                      dim: Int = LshOracleDim): String = {
    val h = dim / 2
    def assign(p: String) =
      s"""${p}a AS (
         |  SELECT vec_id, sim FROM (
         |    SELECT vec_id, sim, ROW_NUMBER() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, cid DESC) AS rk
         |    FROM ${p}sims
         |  ) WHERE rk = 1
         |)""".stripMargin
    s"""WITH half1 AS (SELECT vec_id, embedding[1:$h] AS embedding FROM embeddings),
       |half2 AS (SELECT vec_id, embedding[${h + 1}:$dim] AS embedding FROM embeddings),
       |${centroidSimsCtesSql(h, c1, "half1", "h1_")},
       |${centroidSimsCtesSql(h, c2, "half2", "h2_")},
       |${assign("h1_")},
       |${assign("h2_")},
       |m AS (
       |  SELECT a1.vec_id,
       |         CAST(FLOOR(a1.sim * 1e6 + 0.5) AS BIGINT)
       |           + CAST(FLOOR(a2.sim * 1e6 + 0.5) AS BIGINT) AS micro
       |  FROM h1_a a1 JOIN h2_a a2 ON a1.vec_id = a2.vec_id
       |)
       |SELECT CAST(COUNT(CASE WHEN vec_id % ${DedupIndex.DeltaMod} <> 0 THEN 1 END) AS BIGINT) AS n_build,
       |       CAST(COUNT(*) AS BIGINT) AS n_now,
       |       CAST(SUM(CASE WHEN vec_id % ${DedupIndex.DeltaMod} <> 0 THEN micro END) AS BIGINT) AS sim_build_micros,
       |       CAST(SUM(micro) AS BIGINT) AS sim_now_micros
       |FROM m""".stripMargin
  }

  /** DuckDB twin of `ivf_ann_imi`: `half1`/`half2` slice CTEs, two
    * md5-init + unrolled-Lloyd chains (prefixes `h1_`/`h2_` — the
    * [[kmeansTrainOracle]] fragments over the half relations), per-half
    * argmax assignment (ties → larger cid) and probe windows (ties →
    * smaller cid), candidates on the (cid₁, cid₂) PAIR, exact
    * full-precision re-score. A vector's pair is unique and each probe
    * list holds distinct cids, so candidates need no DISTINCT.
    *
    * Lifecycle params: `trainWhere` restricts TRAINING to a slice while
    * assignment/probing/scoring cover the full corpus (the APPEND
    * semantics — codebooks frozen at the backlog build, batch assigned
    * under them); `keepWhere` restricts assignment/probing/scoring to
    * the kept rows while training stays where the index was built (the
    * REMOVE semantics). Final sims are re-derived in `f*_sims` over the
    * serving relation against the trained codebooks, so the two scopes
    * are independent. */
  def imiAnnOracle(numQueries: Int = 8, k: Int = 10, c1: Int = 8, c2: Int = 8,
                   nProbe1: Int = 2, nProbe2: Int = 2, iterations: Int = 2,
                   dim: Int = LshOracleDim,
                   trainWhere: Option[String] = None,
                   keepWhere: Option[String] = None,
                   extraCtes: String = "",
                   neRelOpt: Option[String] = None,
                   neVecOpt: Option[String] = None): String = {
    // the re-score's NEIGHBOR side is swappable — the IMI×SQ8 gate scores
    // against `dec.dv` decoded lists injected via `extraCtes`; assignment
    // and probes stay on the full-precision half sims (the asymmetric
    // shape, exactly the ivfRankedCtesSql substitution)
    val neRel = neRelOpt.getOrElse("kept")
    val neVec = neVecOpt.getOrElse("CAST(ne.embedding AS DOUBLE[])")
    val h = dim / 2
    // iterations = 0 degrades to the hash-codebook chain: no Lloyd CTEs,
    // final codebooks are the md5 init (a bare "$iters," with empty
    // fragments would be a SQL syntax error, and h*_k_cent0 never exists)
    def trainCtes(p: String, rel: String): String =
      if (iterations == 0) "" else (0 until iterations)
        .map(i => kmeansIterCtesSql(i, h, p, rel)).mkString(",\n") + ",\n"
    def finalCent(p: String): String =
      if (iterations == 0) s"${p}centroids" else s"${p}k_cent$iterations"
    val trainW = trainWhere.map(w => s" WHERE $w").getOrElse("")
    val keepW = keepWhere.map(w => s" WHERE $w").getOrElse("")
    s"""WITH half1 AS (SELECT vec_id, embedding[1:$h] AS embedding FROM embeddings$keepW),
       |half2 AS (SELECT vec_id, embedding[${h + 1}:$dim] AS embedding FROM embeddings$keepW),
       |bhalf1 AS (SELECT vec_id, embedding[1:$h] AS embedding FROM embeddings$trainW),
       |bhalf2 AS (SELECT vec_id, embedding[${h + 1}:$dim] AS embedding FROM embeddings$trainW),
       |kept AS (SELECT * FROM embeddings$keepW),
       |$extraCtes${centroidSimsCtesSql(h, c1, "bhalf1", "h1_")},
       |${trainCtes("h1_", "bhalf1")}${centroidSimsCtesSql(h, c2, "bhalf2", "h2_")},
       |${trainCtes("h2_", "bhalf2")}f1_sims AS (
       |  SELECT e.vec_id, ct.cid,
       |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c) AS sim
       |  FROM half1 e CROSS JOIN ${finalCent("h1_")} ct
       |), f2_sims AS (
       |  SELECT e.vec_id, ct.cid,
       |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c) AS sim
       |  FROM half2 e CROSS JOIN ${finalCent("h2_")} ct
       |),
       |a1 AS (
       |  SELECT vec_id, cid AS cid1 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM f1_sims
       |  ) WHERE rk = 1
       |), a2 AS (
       |  SELECT vec_id, cid AS cid2 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM f2_sims
       |  ) WHERE rk = 1
       |), p1 AS (
       |  SELECT vec_id AS query_id, cid AS cid1 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid ASC) AS rk
       |    FROM f1_sims WHERE vec_id < $numQueries
       |  ) WHERE rk <= $nProbe1
       |), p2 AS (
       |  SELECT vec_id AS query_id, cid AS cid2 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid ASC) AS rk
       |    FROM f2_sims WHERE vec_id < $numQueries
       |  ) WHERE rk <= $nProbe2
       |), imi_cand AS (
       |  SELECT p1.query_id, a1.vec_id AS neighbor_id
       |  FROM p1 JOIN p2 ON p1.query_id = p2.query_id
       |       JOIN a1 ON a1.cid1 = p1.cid1
       |       JOIN a2 ON a2.vec_id = a1.vec_id AND a2.cid2 = p2.cid2
       |  WHERE a1.vec_id <> p1.query_id
       |), imi_scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                $neVec) AS cosine
       |  FROM imi_cand c JOIN kept qe ON qe.vec_id = c.query_id
       |                  JOIN $neRel ne ON ne.vec_id = c.neighbor_id
       |), imi_ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM imi_scored
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM imi_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------- IMI × SQ8: two-level cells, uint8 codes

  /** DuckDB twin of the composed tier: [[imiAnnOracle]]'s trained
    * two-level chain with [[sq8DecCtesSql]] injected (stats over
    * `sq8src` — the staleness scope — decoding the SERVED relation) and
    * the re-score's neighbor side swapped to `dec.dv`. The three
    * lifecycle scopes are independent, exactly as on the Spark side:
    * `trainWhere` freezes the codebooks, `statsWhere` freezes the
    * extrema, `keepWhere` restricts serving. */
  def imiSq8Oracle(numQueries: Int = 8, k: Int = 10, c1: Int = 8, c2: Int = 8,
                   nProbe1: Int = 2, nProbe2: Int = 2, iterations: Int = 2,
                   dim: Int = LshOracleDim,
                   trainWhere: Option[String] = None,
                   keepWhere: Option[String] = None,
                   statsWhere: Option[String] = None): String = {
    val statsW = statsWhere.map(w => s" WHERE $w").getOrElse("")
    val extra =
      s"""sq8src AS (SELECT * FROM embeddings$statsW),
         |${sq8DecCtesSql(dim, statsRelation = "sq8src", relation = "kept")},
         |""".stripMargin
    imiAnnOracle(numQueries, k, c1, c2, nProbe1, nProbe2, iterations, dim,
      trainWhere, keepWhere, extraCtes = extra,
      neRelOpt = Some("dec"), neVecOpt = Some("ne.dv"))
  }

  // ------------------------------------------------- gated ANN recall

  /** Gated query `ann_recall`: recall@k of the four UNCODED serving
    * tiers — the persisted float IVF index (`ivf_probe_indexed`), the
    * SQ8 compressed tier (`ivf_sq8_probe`), the two-level IMI index
    * (`ivf_ann_imi`), and the composed IMI×SQ8 tier (`imi_sq8_probe`)
    * — against brute-force ground truth (`knn_cosine_topk`), at the
    * gates' fixed probe fractions. The PQ code family gates separately
    * under `ann_recall_pq` ([[annRecallPqFromDir]]) — the r15/r16 ask:
    * the 7-tier monolith was the #2 line item in BOTH driver budgets
    * (20.2 s Spark, 50 s oracle, 64.9 KB SQL), and the split halves
    * each gate's cost while keeping the same absolute hit floors. The
    * surface is EXACT integer hit counts per query (id-set intersection
    * of the top-k lists), so approximation quality gates
    * deterministically on the driver instead of living only in specs: a
    * quantizer or probe regression that silently costs recall now fails
    * the round even when each path stays self-consistent (each path's
    * own gate only pins that it equals ITS oracle — not that it still
    * finds the true neighbors).
    *
    * Scale: both probe inputs are the memoized persisted indexes (built
    * once per JVM); ground truth is the same broadcast-query brute scan
    * as the knn anchor — query-bounded, one corpus pass. The joins are
    * k·|Q|-row id lists. */
  def annRecallFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                       k: Int = 10, numCentroids: Int = 16,
                       nProbe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    requireOracleDim(e, dir)
    val truth = bruteForceKnn(e, e.filter(col("vec_id") < numQueries), k)
      .select(col("query_id"), col("neighbor_id"))
    // the four tiers' CONSTRUCTIONS overlapped (guide §2.6): each pays its
    // memoized store build (assign+write jobs; trainings for the IMI pair)
    // plus the probe's pruned-cell collect on first touch — independent
    // temp-dir stores, thread-safe memos, and the returned probe plans
    // (and so the gate's result) are byte-identical to the sequential form
    //
    // probe-fraction-fair: IVF reads nProbe/C = 4/16 = 25% of cells, so
    // the two-level tiers probe 4×4 = 16 of their 64 cells — the same
    // 25% — or the comparison would just measure probe budgets, not
    // quantizers
    val Seq(ivf, sq8, imi, imisq8) = ParallelJobs.parSeq(Seq(
      () => lifecycle(Tier.Ivf)(Build(numCentroids), nProbe, numQueries = numQueries,
        k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_ivf")),
      () => lifecycle(Tier.IvfSq8)(Build(numCentroids), nProbe, numQueries = numQueries,
        k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_sq8")),
      () => lifecycle(Tier.Imi)(nProbe = 4, nProbe2 = 4, numQueries = numQueries, k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_imi")),
      // the fourth tier: the composed IMI×SQ8 serving configuration — its
      // recall now gates alongside the tiers it composes
      () => lifecycle(Tier.ImiSq8)(nProbe = 4, nProbe2 = 4, numQueries = numQueries,
        k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_imisq8"))))
    truth
      .join(ivf, Seq("query_id", "neighbor_id"), "left")
      .join(sq8, Seq("query_id", "neighbor_id"), "left")
      .join(imi, Seq("query_id", "neighbor_id"), "left")
      .join(imisq8, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_truth"),
        coalesce(sum(col("in_ivf")), lit(0L)).as("hits_ivf"),
        coalesce(sum(col("in_sq8")), lit(0L)).as("hits_sq8"),
        coalesce(sum(col("in_imi")), lit(0L)).as("hits_imi"),
        coalesce(sum(col("in_imisq8")), lit(0L)).as("hits_imisq8"))
      .orderBy(col("query_id"))
  }

  /** Gated query `ann_recall_pq`: recall@k of the PQ CODE family —
    * the PQ tier both RAW (`hits_pq` — the honest 12-bit ADC number)
    * and through its serving path (`hits_pqr` — shortlist + exact
    * refine; the difference on the record IS what the refine pass buys
    * back), plus the RESIDUAL-encoded PQ tier (`hits_pqres` — same
    * bits, same probe budget; the gap over `hits_pq` prices the FAISS
    * residual encoding) — the [[annRecallFromDir]] surface over the
    * coded tiers, split out per the r15/r16 budget ask. All three
    * probes share the same coarse quantizer and nProbe (the same 25%
    * probe fraction), so hit deficits price exactly the
    * code-approximation, never a probe-budget difference. */
  def annRecallPqFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                         k: Int = 10, numCentroids: Int = 16,
                         nProbe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    requireOracleDim(e, dir)
    val truth = bruteForceKnn(e, e.filter(col("vec_id") < numQueries), k)
      .select(col("query_id"), col("neighbor_id"))
    // constructions overlapped — [[annRecallFromDir]]'s §2.6 rationale
    // (pq and pqr share one memoized store: whichever branch wins the
    // computeIfAbsent builds it, the other blocks on the map entry)
    val Seq(pq, pqr, pqres) = ParallelJobs.parSeq(Seq(
      () => lifecycle(Tier.IvfPq)(Build(numCentroids), nProbe, numQueries = numQueries,
        k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_pq")),
      () => lifecycle(Tier.IvfPq, Op.Rerank())(Build(numCentroids), nProbe,
        numQueries = numQueries, k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_pqr")),
      () => lifecycle(Tier.IvfPqRes)(Build(numCentroids), nProbe, numQueries = numQueries,
        k = k)(spark, dir)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_pqres"))))
    truth
      .join(pq, Seq("query_id", "neighbor_id"), "left")
      .join(pqr, Seq("query_id", "neighbor_id"), "left")
      .join(pqres, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_truth"),
        coalesce(sum(col("in_pq")), lit(0L)).as("hits_pq"),
        coalesce(sum(col("in_pqr")), lit(0L)).as("hits_pqr"),
        coalesce(sum(col("in_pqres")), lit(0L)).as("hits_pqres"))
      .orderBy(col("query_id"))
  }

  /** The shared brute-truth CTE tail both recall oracles open with. */
  private def truthCtesSql(numQueries: Int, k: Int): String =
    s"""b_pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                                CAST(n.embedding AS DOUBLE[])) AS cosine
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $numQueries
       |), b_ranked AS (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM b_pairs
       |), truth AS MATERIALIZED (SELECT query_id, neighbor_id FROM b_ranked WHERE rank <= $k)""".stripMargin

  /** DuckDB twin of [[annRecallFromDir]]: the brute pairs CTE beside the
    * float-IVF chain (prefix `i_`), the SQ8 chain (prefix `s_`), and the
    * full trained-IMI twins nested as CTEs — all the existing
    * single-sourced fragments — intersected as id sets.
    *
    * Scope rule (the materialized-fragment constraint, see CurateE2e's
    * oracle doc): the nested imi/imisq8 subqueries are SIBLINGS, whose
    * repeated internal names (the h1_ and h2_ chains, half1, half2,
    * dec) are legal even materialized; only the outer scope must avoid
    * redefining a name a
    * nested scope also declares. The outer chain here uses the
    * unprefixed `centroids` and `sims` which neither IMI twin declares, and
    * the sq8 fragment's names are declared outer-only (the imisq8 twin's
    * copies live in its own scope, both plain). */
  def annRecallOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                      nProbe: Int = 4, dim: Int = LshOracleDim): String =
    s"""WITH ${centroidSimsCtesSql(dim, numCentroids)},
       |${ivfRankedCtesSql(numQueries, nProbe, "i_")},
       |${sq8DecCtesSql(dim)},
       |${ivfRankedCtesSql(numQueries, nProbe, "s_",
           neRelOpt = Some("dec"), neVecOpt = Some("ne.dv"))},
       |imi AS (
       |${imiAnnOracle(numQueries, k, nProbe1 = 4, nProbe2 = 4, dim = dim)}
       |),
       |imisq8 AS (
       |${imiSq8Oracle(numQueries, k, nProbe1 = 4, nProbe2 = 4, dim = dim)}
       |),
       |${truthCtesSql(numQueries, k)},
       |i_top AS (SELECT query_id, neighbor_id FROM i_ranked WHERE rank <= $k),
       |s_top AS (SELECT query_id, neighbor_id FROM s_ranked WHERE rank <= $k),
       |m_top AS (SELECT query_id, neighbor_id FROM imi),
       |c_top AS (SELECT query_id, neighbor_id FROM imisq8)
       |SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS k_truth,
       |       CAST(COALESCE(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_ivf,
       |       CAST(COALESCE(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_sq8,
       |       CAST(COALESCE(SUM(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_imi,
       |       CAST(COALESCE(SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_imisq8
       |FROM truth t
       |LEFT JOIN i_top i ON i.query_id = t.query_id AND i.neighbor_id = t.neighbor_id
       |LEFT JOIN s_top s ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
       |LEFT JOIN m_top m ON m.query_id = t.query_id AND m.neighbor_id = t.neighbor_id
       |LEFT JOIN c_top c ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** DuckDB twin of [[annRecallPqFromDir]]: the three PQ-family twins
    * nested as SIBLING CTEs (each a full single-sourced oracle; their
    * repeated internal names — the pqt, pq-subspace, pq_codes, and p_
    * chains — are legal
    * across sibling scopes even materialized) against the shared brute
    * truth. The outer scope declares nothing any nested scope names. */
  def annRecallPqOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                        nProbe: Int = 4, dim: Int = LshOracleDim): String =
    s"""WITH pq AS (
       |${ivfPqOracle(numQueries, k, numCentroids, nProbe, dim = dim)}
       |),
       |pqr AS (
       |${ivfPqRerankOracle(numQueries, k, numCentroids, nProbe, dim = dim)}
       |),
       |pqres AS (
       |${ivfPqResOracle(numQueries, k, numCentroids, nProbe, dim = dim)}
       |),
       |${truthCtesSql(numQueries, k)},
       |p_top AS (SELECT query_id, neighbor_id FROM pq),
       |r_top AS (SELECT query_id, neighbor_id FROM pqr),
       |e_top AS (SELECT query_id, neighbor_id FROM pqres)
       |SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS k_truth,
       |       CAST(COALESCE(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_pq,
       |       CAST(COALESCE(SUM(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_pqr,
       |       CAST(COALESCE(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits_pqres
       |FROM truth t
       |LEFT JOIN p_top p ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |LEFT JOIN r_top r ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
       |LEFT JOIN e_top e ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  // ------------------------------------------- gated k-means training

  /** One exact Lloyd iteration as DuckDB CTEs — the trainer's loop
    * UNROLLED (the BpeTrain discipline): given the iteration-i per-vector
    * centroid cosines (named `sims` for i = 0, [[centroidSimsCtesSql]]'s
    * output over the md5-init `centroids`; else `k_sims$i`), emits
    *   k_assign$i   argmax assignment (ties → larger cid, the
    *                [[ivfRankedCtesSql]] assign rule verbatim),
    *   k_comp$i     per (cid, d) exact update stats: COUNT + long sum of
    *                micros-rounded components,
    *   k_cent${i}+1 the new centroid list — un-hit cells keep the old one,
    *   k_sims${i}+1 cosines against the new centroids.
    * Trailing unreferenced CTEs cost nothing (DuckDB inlines CTEs), so a
    * caller selects from whichever stage its gate pins. */
  private[operators] def kmeansIterCtesSql(i: Int, dim: Int, p: String = "",
                                           relation: String = "embeddings",
                                           l2: Boolean = false): String = {
    val sims = if (i == 0) s"${p}sims" else s"${p}k_sims$i"
    val cent = if (i == 0) s"${p}centroids" else s"${p}k_cent$i"
    s"""${p}k_assign$i AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM $sims
       |  ) WHERE rk = 1
       |), ${p}k_comp$i AS MATERIALIZED (
       |  SELECT a.cid, r.d, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(CAST(FLOOR(CAST(e.embedding[r.d + 1] AS DOUBLE) * 1e6 + 0.5)
       |                       AS BIGINT)) AS BIGINT) AS s_micros
       |  FROM ${p}k_assign$i a JOIN $relation e USING (vec_id)
       |       CROSS JOIN (SELECT unnest(range(0, $dim)) AS d) r
       |  GROUP BY a.cid, r.d
       |), ${p}k_cent${i + 1} AS MATERIALIZED (
       |  SELECT c0.cid, COALESCE(u.c, c0.c) AS c
       |  FROM $cent c0 LEFT JOIN (
       |    SELECT cid, list(CAST(s_micros AS DOUBLE) / (n * 1e6) ORDER BY d) AS c
       |    FROM ${p}k_comp$i GROUP BY cid
       |  ) u ON u.cid = c0.cid
       |), ${p}k_sims${i + 1} AS MATERIALIZED (
       |  SELECT e.vec_id, ct.cid,
       |         ${simMetricSql("CAST(e.embedding AS DOUBLE[])", "ct.c", l2)} AS sim
       |  FROM $relation e CROSS JOIN ${p}k_cent${i + 1} ct
       |)""".stripMargin
  }

  /** Gated query `kmeans_train`: the FINAL Lloyd update's exact stats —
    * per (cid, d): cell size and the long micros sum — after running the
    * first T−1 iterations of [[trainCentroids]]. Integer-only output, so
    * the gate is float-free end to end; every earlier iteration's
    * assignment and centroid update is pinned transitively (iteration T's
    * stats depend on iteration T−1's centroids, which depend on T−2's
    * assignment, ... back to the md5 init both engines recompute). */
  def kmeansTrainFromDir(spark: SparkSession, dir: String,
                         numCentroids: Int = 16, iterations: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = requireOracleDim(e, dir)
    var cents = hashCentroids(dim, numCentroids)
    for (_ <- 1 until iterations) cents = lloydStepExact(e, cents, dim)
    lloydUpdateStats(e, cents, dim)
      .select(col("centroid_id").cast("long").as("cid"), col("n"),
        posexplode(col("s")).as(Seq("d", "s_micros")))
      .select(col("cid"), col("d").cast("long").as("d"), col("n"), col("s_micros"))
      .orderBy(col("cid"), col("d"))
  }

  /** DuckDB twin of [[kmeansTrainFromDir]]: T iterations unrolled via
    * [[kmeansIterCtesSql]], selecting the last iteration's update stats. */
  def kmeansTrainOracle(numCentroids: Int = 16, iterations: Int = 2,
                        dim: Int = LshOracleDim): String =
    s"""WITH ${centroidSimsCtesSql(dim, numCentroids)},
       |${(0 until iterations).map(i => kmeansIterCtesSql(i, dim)).mkString(",\n")}
       |SELECT cid, d, n, s_micros FROM k_comp${iterations - 1}
       |ORDER BY cid, d""".stripMargin

  /** Gated query `ivf_ann_trained`: the full IVF probe pipeline under the
    * TRAINED quantizer — [[trainCentroids]]' T exact Lloyd iterations from
    * the md5 init — instead of the raw hash quantizer every other IVF gate
    * substitutes. Same output surface as `ivf_ann_topk`. This is the ask
    * round 12 ranked first: production ANN quality rides the trained
    * quantizer, so the trained path itself must be oracle-gated, not only
    * its update stats. */
  def ivfAnnTrainedFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                           k: Int = 10, numCentroids: Int = 16, nProbe: Int = 4,
                           iterations: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = requireOracleDim(e, dir)
    val centroids = trainCentroids(e, numCentroids, iterations, Some(dim))
    val cells = assignToCentroids(e, centroids)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"))
    scoreProbed(
      queryProbes(e.filter(col("vec_id") < numQueries), centroids, nProbe),
      cells, k)
  }

  /** DuckDB twin of [[ivfAnnTrainedFromDir]]: the unrolled training CTEs
    * feed [[ivfRankedCtesSql]] verbatim, reading `k_sims$T` instead of the
    * hash-quantizer `sims` — the probe chain itself CANNOT drift from the
    * `ivf_ann_topk` twin. */
  def ivfAnnTrainedOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                          nProbe: Int = 4, iterations: Int = 2,
                          dim: Int = LshOracleDim): String =
    s"""WITH ${centroidSimsCtesSql(dim, numCentroids)},
       |${(0 until iterations).map(i => kmeansIterCtesSql(i, dim)).mkString(",\n")},
       |${ivfRankedCtesSql(numQueries, nProbe, "t_", s"k_sims$iterations")}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM t_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ------------------------------------- persisted-index lifecycle twins

  private[operators] def requireOracleDim(e: DataFrame, dir: String): Int = {
    val dim = dimForDir(dir, e)
    require(dim == LshOracleDim,
      s"embeddings under $dir are $dim-wide but the DuckDB oracle generates " +
        s"$LshOracleDim-dim centroids — regenerate the oracle with dim=$dim")
    dim
  }

  /** DuckDB twin of `ivf_index_remove`: the standard IVF oracle
    * over the kept-vector relation (queries are the surviving low ids —
    * the same `vec_id < numQueries` window evaluated over kept rows). */
  def ivfRemoveOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                      nProbe: Int = 4, dim: Int = LshOracleDim): String =
    ivfAnnOracle(numQueries, k, numCentroids, nProbe, dim,
      relation = "kept_vecs",
      extraCtes = "kept_vecs AS (SELECT * FROM embeddings " +
        s"WHERE vec_id % ${DedupIndex.DeltaMod} <> 0), ")

  /** DuckDB twin of `ivf_index_health` ([[healthGate]]): same md5 quantizer, same
    * argmax assignment (ties to the larger centroid id, as everywhere in
    * the IVF gates), same micros rounding, same integer sums. */
  def indexHealthOracle(numCentroids: Int = 16, dim: Int = LshOracleDim): String =
    s"""WITH ${centroidSimsCtesSql(dim, numCentroids)}, assign AS (
       |  SELECT vec_id, sim FROM (
       |    SELECT vec_id, sim, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM sims
       |  ) WHERE rk = 1
       |), m AS (
       |  SELECT vec_id, CAST(FLOOR(sim * 1e6 + 0.5) AS BIGINT) AS micro FROM assign
       |)
       |SELECT CAST(COUNT(CASE WHEN vec_id % ${DedupIndex.DeltaMod} <> 0 THEN 1 END) AS BIGINT) AS n_build,
       |       CAST(COUNT(*) AS BIGINT) AS n_now,
       |       CAST(SUM(CASE WHEN vec_id % ${DedupIndex.DeltaMod} <> 0 THEN micro END) AS BIGINT) AS sim_build_micros,
       |       CAST(SUM(micro) AS BIGINT) AS sim_now_micros
       |FROM m""".stripMargin

  // ------------------------------------------------- semantic quality

  /** Embedding-prototype quality scoring — the semantic corpus filter
    * (score every document by its best cosine against a small curated
    * "high-quality" prototype set, keep what clears a threshold). The
    * classifier-based variants of this dominate modern corpus curation;
    * the prototype-cosine form is the classifier-free baseline and the
    * exact shape a learned-embedding filter runs at inference.
    *
    * Scale: prototypes are collected to the driver (O(K), the same
    * adjudicated pattern as IVF's centroids) and enter the plan as
    * LITERAL vectors, so scoring is K codegen'd dot products fused into
    * the ONE embeddings scan — zero shuffles, zero joins, no state. The
    * per-row norm subexpression is shared across the K cosines by
    * whole-stage codegen subexpression elimination.
    *
    * Exactness: each cosine is the same dot/(norm·norm) shape the knn
    * gate proves bit-equal to DuckDB's `list_cosine_similarity`; MAX of
    * bit-equal doubles is bit-equal, and the surface rounds to 8 dp. */
  def semanticQuality(embeddings: DataFrame, prototypes: Array[(Long, Array[Double])],
                      threshold: Double): DataFrame = {
    require(prototypes.nonEmpty, "need at least one prototype vector")
    val e = col("embedding")
    val cosines = prototypes.toIndexedSeq.map { case (_, p) => litCosine(e, p) }
    val best = if (cosines.size == 1) cosines.head else greatest(cosines: _*)
    val score = graft.functions.StableRound.stableRound(best, 8)
    embeddings
      .select(col("vec_id"), score.as("score_r"))
      .withColumn("keep", col("score_r") >= threshold)
      .orderBy(col("vec_id"))
  }

  /** Gated query: the first `numProtos` vectors play the curated set. */
  def semanticQualityFromDir(spark: SparkSession, dir: String,
                             numProtos: Int = 8,
                             threshold: Double = 0.25): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val protos = e.filter(col("vec_id") < numProtos)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("p"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    semanticQuality(e, protos, threshold)
  }

  /** DuckDB twin: same prototype set, same max-cosine, same 8-dp round,
    * same threshold compare against the ROUNDED score. */
  def semanticQualityOracle(numProtos: Int = 8, threshold: Double = 0.25): String =
    s"""WITH p AS (
       |  SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pe
       |  FROM embeddings WHERE vec_id < $numProtos
       |), s AS (
       |  SELECT e.vec_id,
       |         MAX(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pe)) AS score
       |  FROM embeddings e CROSS JOIN p
       |  GROUP BY e.vec_id
       |)
       |SELECT vec_id, FLOOR(score * 1e8 + 0.5) / 1e8 AS score_r,
       |       FLOOR(score * 1e8 + 0.5) / 1e8 >= $threshold AS keep
       |FROM s ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[lshAnnFromDir]]: planes from the same md5 formula,
    * projections via `list_inner_product` (a sequential fold — bit-equal
    * to the Spark side's `aggregate(zip_with(...))`), buckets as ordered
    * sign-bit strings, candidate equi-join, exact cosine re-score. */
  def lshAnnOracle(numQueries: Int = 8, k: Int = 10, tables: Int = 4,
                   bits: Int = 8, dim: Int = LshOracleDim): String =
    s"""WITH planes AS (
       |  SELECT t, b,
       |         list_transform(range(0, $dim), d ->
       |           CAST('0x' || substr(md5('plane_' || t || '_' || b || '_' || d), 1, 15) AS BIGINT)
       |             / 576460752303423488.0 - 1.0) AS plane
       |  FROM (SELECT unnest(range(0, $tables)) AS t), (SELECT unnest(range(0, $bits)) AS b)
       |), buckets AS (
       |  SELECT e.vec_id, p.t,
       |         string_agg(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), p.plane) >= 0
       |                         THEN '1' ELSE '0' END, '' ORDER BY p.b) AS bucket
       |  FROM embeddings e, planes p GROUP BY e.vec_id, p.t
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
       |  FROM buckets q JOIN buckets n ON q.t = n.t AND q.bucket = n.bucket
       |  WHERE q.vec_id < $numQueries AND q.vec_id <> n.vec_id
       |), scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                CAST(ne.embedding AS DOUBLE[])) AS cosine
       |  FROM cand c JOIN embeddings qe ON qe.vec_id = c.query_id
       |              JOIN embeddings ne ON ne.vec_id = c.neighbor_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ----------------- IVF × PQ: product quantization, ADC scoring

  /** Product-quantization defaults: m subspaces of dim/m dims, each with
    * its own kpq-codebook. m·log₂(kpq) bits per vector (4 codes of 3
    * bits here ≈ 12 bits vs 2048 for float32 — the most aggressive
    * compression tier) and, the scale point, O(m) score cost per
    * candidate instead of O(dim): a probe precomputes one m×kpq
    * lookup table per QUERY and every candidate costs m table reads. */
  final val PqM = 4
  final val PqK = 8
  final val PqIterations = 2

  /** Train the m per-subspace codebooks (after Jégou, Douze & Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
    * spherical variant: each subspace reuses the EXISTING exact
    * integer-micros Lloyd machinery ([[trainCentroids]] over slice
    * views, the [[trainImi]] construction generalized from 2 halves to
    * m slices), so the same md5 init / tie / update rules gate it with
    * the same unrolled-CTE oracle discipline. */
  def trainPq(e: DataFrame, dim: Int, m: Int = PqM, kpq: Int = PqK,
              iterations: Int = PqIterations): Array[Array[(Int, Array[Double])]] = {
    require(dim % m == 0, s"PQ splits the vector into $m slices; dim $dim is not divisible")
    val sub = dim / m
    // sequential on purpose: overlapping the m independent loops (guide
    // §2.6) measured flat-to-slower at sf0.1 — see [[trainImi]]'s note
    Array.tabulate(m)(s =>
      trainCentroids(halfView(e, s * sub + 1, sub), kpq, iterations, Some(sub)))
  }

  /** All m code assignments in ONE corpus scan (the [[assignImi]]
    * shape): code s = cosine-argmax of slice s against codebook s (ties
    * → larger cid, [[assignExpr]]'s rule — encode mirrors assignment). */
  private def pqEncodeExpr(cbs: Array[Array[(Int, Array[Double])]]): Column = {
    val sub = cbs(0)(0)._2.length
    array(cbs.zipWithIndex.map { case (cb, s) =>
      assignExpr(slice(col("embedding"), s * sub + 1, sub), cb)
    }.toIndexedSeq: _*)
  }

  /** The m codebooks as one sidecar: rows (s, cid, c DOUBLE[]) —
    * m·kpq·(dim/m) doubles, driver-sized by construction. */
  private def savePqCodebooks(spark: SparkSession, path: String,
                              cbs: Array[Array[(Int, Array[Double])]]): Unit = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (cid, c) => (s, cid, c.toSeq) }
    }.toSeq.toDF("s", "cid", "c")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The persisted PQ codebook sidecar of generation `g` — the one
    * decode point for `_pq_v` (the [[readSq8Sidecar]] rule). */
  private def readPqSidecar(spark: SparkSession, dir: String,
                            g: Long): Array[Array[(Int, Array[Double])]] =
    sidecarMemo.computeIfAbsent("p:" + s"$dir/_pq_v$g", _ =>
      readSidecar(spark, s"$dir/_pq_v$g")
        .map(r => (r.getAs[Int]("s"), r.getAs[Int]("cid"),
          r.getAs[Seq[Double]]("c").toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.map(t => (t._2, t._3)).sortBy(_._1)))
      .asInstanceOf[Array[Array[(Int, Array[Double])]]]

  /** Asymmetric-distance (ADC) scoring: per probe row (query-sized ×
    * nProbe — broadcast by construction) precompute lut_s[j] =
    * ⟨q_s, c_{s,j}⟩ for every subspace s and code j (O(nProbe·kpq·dim)
    * per query — the LUT fold is a row expression on the probe frame,
    * so it evaluates once per probe row; still query-bounded and
    * independent of the candidate count, which is the scale point),
    * plus ⟨q, q⟩; a candidate with codes (j₀…j_{m−1}) then
    * scores cos = (Σ_s lut_s[j_s]) / (√⟨q,q⟩ · √(Σ_s ‖c_{s,j_s}‖²)) in
    * O(m) lookups. Association is per-subspace-then-across (left to
    * right) on BOTH engines — the oracle sums m `list_inner_product`
    * partials in the same order ([[pqScoredSql]]), so the doubles are
    * bit-identical (litDot ↔ list_inner_product is the proven pair of
    * the LSH twin). Codebook norms ship as plan literals, computed by
    * the same sequential fold DuckDB's list_inner_product(c, c) runs.
    *
    * Residual codes (`residualOf` = the coarse quantizer) reconstruct
    * x̂ = c_cell + d, so the numerator is ⟨q, c⟩ + Σ_s lut_s[j_s] (one
    * per-probe-row dot + the raw LUTs) and the denominator uses the
    * EXACT stored ‖x‖ — never a reconstructed norm: estimating ‖x̂‖ from
    * ‖c‖²+2⟨c,d⟩+‖d‖² was measured to DOUBLE the cosine MAE (0.23 vs
    * 0.11) and halve recall, because k-means shrinkage biases ‖d‖ low
    * per candidate while the numerator error stays centered. This is
    * the FAISS IVFPQ shape for IP/cosine metrics; every sum keeps the
    * left-to-right association its SQL twin ([[pqrScoredSql]]) writes. */
  private def adcScore(probes: DataFrame, cells: DataFrame,
                       cbs: Array[Array[(Int, Array[Double])]], k: Int,
                       residualOf: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val m = cbs.length
    val sub = cbs(0)(0)._2.length
    // qq/qc as fused kernels (≡ the aggregate(zip_with(...)) composites
    // bit-for-bit: FloatVecDot the proven self-dot pair, MixedVecDot
    // float×double in the same left-to-right order); probe-row-bounded
    val withQq = probes.withColumn("qq", graft.functions.FloatVecDot.dot(col("qe"), col("qe")))
    val withQc = residualOf.fold(withQq)(coarse => withQq.withColumn("qc",
      graft.functions.VecExprs.mixedDot(col("qe"),
        element_at(centsLit(coarse), col("centroid_id") + 1))))
    val lutted = (0 until m).foldLeft(withQc)((df, s) =>
      df.withColumn(s"lut$s", array(cbs(s).map { case (_, c) =>
        litDot(slice(col("qe"), s * sub + 1, sub), c)
      }.toIndexedSeq: _*)))
    val luts = (0 until m).map(s => element_at(col(s"lut$s"),
      element_at(col("codes"), s + 1) + 1))
    val score = residualOf match {
      case Some(_) => (col("qc") +: luts).reduce(_ + _) / (sqrt(col("qq")) * col("norm"))
      case None =>
        val n2 = cbs.map(_.map { case (_, c) => c.foldLeft(0.0)((a, x) => a + x * x) })
        val rn2 = (0 until m).map(s => element_at(
          array(n2(s).map(lit).toIndexedSeq: _*),
          element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
        luts.reduce(_ + _) / (sqrt(col("qq")) * sqrt(rn2))
    }
    scoreCells(lutted, cells, score, k)
  }

  /** Exact full-precision re-score of a (query_id, neighbor_id)
    * shortlist against the primary float store — the ONE refine tail
    * every shortlist+refine serving path shares (PQ, residual PQ, MRL):
    * an R·|Q|-row broadcast point-lookup join, never a corpus scan. */
  private def exactRefine(e: DataFrame, short: DataFrame, k: Int): DataFrame = {
    val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val nv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    rankTopK(broadcast(short.join(qv, Seq("query_id")))
      .join(nv, Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("qe"), col("ne"))), k)
  }

  /** DuckDB twin of `ivf_pq_rerank`: [[ivfPqOracle]]'s chain with
    * the final top-k replaced by an ADC-ranked R-shortlist CTE and an
    * exact full-precision re-score over it. */
  def ivfPqRerankOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                        nProbe: Int = 4, kpq: Int = PqK,
                        iterations: Int = PqIterations,
                        dim: Int = LshOracleDim, shortlist: Int = 50): String =
    s"""WITH pq_kept AS MATERIALIZED (SELECT * FROM embeddings),
       |pq_train AS MATERIALIZED (SELECT * FROM embeddings),
       |${centroidSimsCtesSql(dim, numCentroids, "pq_kept")},
       |${pqCtesSql(dim, PqM, kpq, iterations, "pq_train", "pq_kept")},
       |${ivfRankedCtesSql(numQueries, nProbe, "p_", relation = "pq_kept",
           scoredSqlOpt = Some(pqScoredSql("p_", dim, PqM, iterations, "pq_kept")))},
       |rr_short AS (
       |  SELECT query_id, neighbor_id FROM p_ranked WHERE rank <= $shortlist
       |), rr_scored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                CAST(ne.embedding AS DOUBLE[])) AS cosine
       |  FROM rr_short s JOIN embeddings qe ON qe.vec_id = s.query_id
       |                  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
       |), rr_ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM rr_scored
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM rr_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** The PQ training + encode CTE chain: per subspace s a slice CTE over
    * the TRAIN relation, the md5-init + unrolled-Lloyd chain (prefix
    * `pq{s}_` — [[kmeansTrainOracle]]'s fragments over the slice), final
    * sims over the ENCODE relation's slices, an argmax code window (ties
    * → larger cid, mirroring [[assignExpr]]), joined into
    * `pq_codes (vec_id, code0..code{m−1})`. Train and encode scopes are
    * independent — the append gate trains on the backlog and encodes the
    * full corpus. */
  private[operators] def pqCtesSql(dim: Int, m: Int = PqM, kpq: Int = PqK,
                                   iterations: Int = PqIterations,
                                   trainRelation: String = "embeddings",
                                   encodeRelation: String = "embeddings",
                                   l2: Boolean = false,
                                   dataInit: Boolean = false): String = {
    val sub = dim / m
    def finalCent(s: Int) =
      if (iterations == 0) s"pq${s}_centroids" else s"pq${s}_k_cent$iterations"
    val slices = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"""pqt$s AS MATERIALIZED (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM $trainRelation),
         |pqe$s AS MATERIALIZED (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM $encodeRelation)""".stripMargin
    }.mkString(",\n")
    // the data-sampled init twin of [[dataInitCentroids]]: the same k
    // rows in the same (md5, vec_id) order, values copied not computed
    def dataInitSims(p: String, rel: String): String =
      s"""${p}centroids AS MATERIALIZED (
         |  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid, c FROM (
         |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c,
         |           CAST('0x' || substr(md5('pqinit_' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |    FROM $rel
         |  ) ORDER BY h, vec_id LIMIT $kpq
         |), ${p}sims AS MATERIALIZED (
         |  SELECT e.vec_id, ct.cid,
         |         ${simMetricSql("CAST(e.embedding AS DOUBLE[])", "ct.c", l2)} AS sim
         |  FROM $rel e CROSS JOIN ${p}centroids ct
         |)""".stripMargin
    val chains = (0 until m).map { s =>
      val p = s"pq${s}_"
      val lloyd = if (iterations == 0) "" else ",\n" + (0 until iterations)
        .map(i => kmeansIterCtesSql(i, sub, p, s"pqt$s", l2)).mkString(",\n")
      (if (dataInit) dataInitSims(p, s"pqt$s")
       else centroidSimsCtesSql(sub, kpq, s"pqt$s", p, l2)) + lloyd
    }.mkString(",\n")
    val codes = (0 until m).map { s =>
      s"""pqf$s AS MATERIALIZED (
         |  SELECT e.vec_id, ct.cid,
         |         ${simMetricSql("CAST(e.embedding AS DOUBLE[])", "ct.c", l2)} AS sim
         |  FROM pqe$s e CROSS JOIN ${finalCent(s)} ct
         |), pqc$s AS MATERIALIZED (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |             ORDER BY sim DESC, cid DESC) AS rk
         |    FROM pqf$s
         |  ) WHERE rk = 1
         |)""".stripMargin
    }.mkString(",\n")
    val joinChain = (1 until m).map(s => s"JOIN pqc$s USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(s => s"pqc$s.cid AS code$s").mkString(", ")
    s"""$slices,
       |$chains,
       |$codes,
       |pq_codes AS MATERIALIZED (
       |  SELECT pqc0.vec_id, $codeCols
       |  FROM pqc0 $joinChain
       |)""".stripMargin
  }

  /** The ADC `scored` CTE ([[ivfRankedCtesSql]]'s `scoredSqlOpt`): m
    * `list_inner_product` partials over the query's slices against the
    * candidate's code centroids, summed LEFT TO RIGHT — the exact
    * association [[adcScore]]'s lookup sum uses — normalized by
    * √⟨q,q⟩ · √(Σ_s ‖c_s‖²) in the same shape. */
  private def pqScoredSql(p: String, dim: Int, m: Int, iterations: Int,
                          queryRelation: String): String = {
    val sub = dim / m
    def finalCent(s: Int) =
      if (iterations == 0) s"pq${s}_centroids" else s"pq${s}_k_cent$iterations"
    val num = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      s"list_inner_product(CAST(qe.embedding AS DOUBLE[])[$lo:$hi], t$s.c)"
    }.mkString("\n          + ")
    val rn2 = (0 until m).map(s => s"list_inner_product(t$s.c, t$s.c)")
      .mkString(" + ")
    val joins = (0 until m).map(s =>
      s"JOIN ${finalCent(s)} t$s ON t$s.cid = pc.code$s").mkString("\n       ")
    s"""${p}scored AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id,
       |        ($num)
       |        / (sqrt(list_inner_product(CAST(qe.embedding AS DOUBLE[]),
       |                                   CAST(qe.embedding AS DOUBLE[])))
       |           * sqrt($rn2)) AS cosine
       |  FROM ${p}cand c JOIN $queryRelation qe ON qe.vec_id = c.query_id
       |       JOIN pq_codes pc ON pc.vec_id = c.neighbor_id
       |       $joins
       |)""".stripMargin
  }

  /** DuckDB twin of the PQ gates: coarse hash-quantizer sims over the
    * serving relation, [[pqCtesSql]]'s per-subspace training + encode
    * chains, [[ivfRankedCtesSql]]'s probe chain with the scored CTE
    * swapped for [[pqScoredSql]]'s ADC sum. `trainWhere` restricts
    * codebook TRAINING to a slice while encode/probing/scoring cover
    * the serving relation (APPEND semantics); `keepWhere` restricts the
    * serving relation while training stays at the build corpus (REMOVE
    * semantics). */
  def ivfPqOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                  nProbe: Int = 4, kpq: Int = PqK, iterations: Int = PqIterations,
                  dim: Int = LshOracleDim,
                  trainWhere: Option[String] = None,
                  keepWhere: Option[String] = None): String = {
    val trainW = trainWhere.map(w => s" WHERE $w").getOrElse("")
    val keepW = keepWhere.map(w => s" WHERE $w").getOrElse("")
    s"""WITH pq_kept AS (SELECT * FROM embeddings$keepW),
       |pq_train AS (SELECT * FROM embeddings$trainW),
       |${centroidSimsCtesSql(dim, numCentroids, "pq_kept")},
       |${pqCtesSql(dim, PqM, kpq, iterations, "pq_train", "pq_kept")},
       |${ivfRankedCtesSql(numQueries, nProbe, "p_", relation = "pq_kept",
           scoredSqlOpt = Some(pqScoredSql("p_", dim, PqM, iterations, "pq_kept")))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM p_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  // ------------------- IVF×PQ, RESIDUAL encoding (the FAISS IVFPQ shape)

  /** The coarse centroids as one literal array-of-arrays, indexed by
    * cid + 1 — the plan-side lookup residual math selects per row. */
  private def centsLit(coarse: Array[(Int, Array[Double])]): Column =
    array(coarse.sortBy(_._1).map { case (_, c) =>
      array(c.map(lit).toIndexedSeq: _*)
    }.toIndexedSeq: _*)

  /** The residual frame of an ASSIGNED frame: r = x − c_assigned,
    * computed in double and rounded back to FLOAT32 (the FAISS
    * convention — and the cross-engine anchor: double subtraction of a
    * float and a micros-exact centroid component is IEEE-exact, and both
    * engines round it to the identical float). Carries `centroid_id`,
    * so an encode fuses coarse assignment, residual, and the m encode
    * argmaxes into ONE scan projection. */
  private def residualFrame(assigned: DataFrame,
                            coarse: Array[(Int, Array[Double])]): DataFrame =
    // the residual transform runs as one codegen kernel (r21; the
    // zip_with form it replaces — identical cast order, pinned by
    // Round21Spec — evaluated interpreted, one lambda dispatch per
    // component per row on the build/append scan)
    assigned.select(col("vec_id"),
      graft.functions.VecExprs.residual(col("embedding"), col("centroid_id"),
        coarse.sortBy(_._1).map(_._2)).as("embedding"),
      // the EXACT norm of the original vector, stored beside the codes:
      // the cosine denominator the probe uses (estimating it from the
      // reconstruction instead injects per-candidate noise — measured,
      // see adcScore). One double per row; FAISS IVFPQ stores norms the
      // same way for reconstruction-free distances.
      l2norm(col("embedding")).as("norm"),
      col("centroid_id"))

  /** [[trainPq]] under the EUCLIDEAN metric — required for residual
    * codebooks (see [[assignL2Expr]]'s rationale). */
  def trainPqL2(e: DataFrame, dim: Int, m: Int = PqM, kpq: Int = PqK,
                iterations: Int = PqIterations): Array[Array[(Int, Array[Double])]] = {
    require(dim % m == 0, s"PQ splits the vector into $m slices; dim $dim is not divisible")
    val sub = dim / m
    // sequential on purpose — [[trainPq]]'s adjudication
    Array.tabulate(m)(s =>
      trainCentroidsL2(halfView(e, s * sub + 1, sub), kpq, iterations, Some(sub)))
  }

  /** [[pqEncodeExpr]] under the EUCLIDEAN metric — encode must mirror
    * the training assignment, as everywhere. */
  private def pqEncodeL2Expr(cbs: Array[Array[(Int, Array[Double])]]): Column = {
    val sub = cbs(0)(0)._2.length
    array(cbs.zipWithIndex.map { case (cb, s) =>
      assignL2Expr(slice(col("embedding"), s * sub + 1, sub), cb)
    }.toIndexedSeq: _*)
  }

  // --------------------- Matryoshka (MRL) truncated-prefix serving

  /** The dPrime-dim PREFIX view of the corpus — a Matryoshka embedding's
    * nested sub-embedding (Kusupati et al. 2022: MRL-trained vectors are
    * valid embeddings at every prefix length). */
  private def mrlTruncate(e: DataFrame, dPrime: Int): DataFrame =
    e.select(col("vec_id"), slice(col("embedding"), 1, dPrime).as("embedding"))

  /** Gated query `ann_mrl_rerank`: Matryoshka two-stage serving — brute
    * shortlist on the dPrime-dim prefix (dim/4 of the flops and, in the
    * deployment that stores the prefix copy, dim/4 of the scan bytes),
    * then the shared exact full-dim refine. The brute anchor of the MRL
    * family; the indexed production path is `ivf_mrl_rerank`. */
  def mrlRerankFromDir(spark: SparkSession, dir: String, numQueries: Int = 8,
                       k: Int = 10, dPrime: Int = 16,
                       shortlist: Int = 50): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    requireOracleDim(e, dir)
    val trunc = mrlTruncate(e, dPrime)
    exactRefine(e,
      bruteForceKnn(trunc, trunc.filter(col("vec_id") < numQueries), shortlist)
        .select(col("query_id"), col("neighbor_id")), k)
  }

  /** DuckDB twin of [[mrlRerankFromDir]]: prefix-sliced brute pairs →
    * R-shortlist → the exact-refine tail. */
  def mrlRerankOracle(numQueries: Int = 8, k: Int = 10, dPrime: Int = 16,
                      shortlist: Int = 50): String =
    s"""WITH tp AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[])[1:$dPrime],
       |                                CAST(n.embedding AS DOUBLE[])[1:$dPrime]) AS tcos
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $numQueries
       |), shortl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY tcos DESC, neighbor_id ASC) AS rank
       |    FROM tp
       |  ) WHERE rank <= $shortlist
       |),
       |${refineTailSql("shortl", k)}""".stripMargin

  /** DuckDB twin of `ivf_mrl_rerank`: the standard IVF probe
    * chain over a truncated-prefix relation (same md5 quantizer formula
    * at dPrime dims) shortlisted at R, then the exact-refine tail. */
  def ivfMrlRerankOracle(numQueries: Int = 8, k: Int = 10, dPrime: Int = 16,
                         numCentroids: Int = 16, nProbe: Int = 4,
                         shortlist: Int = 50): String =
    s"""WITH trunc AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[])[1:$dPrime] AS embedding
       |  FROM embeddings
       |),
       |${centroidSimsCtesSql(dPrime, numCentroids, "trunc")},
       |${ivfRankedCtesSql(numQueries, nProbe, "m_", relation = "trunc")},
       |shortl AS (
       |  SELECT query_id, neighbor_id FROM m_ranked WHERE rank <= $shortlist
       |),
       |${refineTailSql("shortl", k)}""".stripMargin

  /** The exact-refine SQL tail every shortlist oracle shares: refine the
    * given (query_id, neighbor_id) relation against the full-precision
    * table, re-rank, emit the gate surface. */
  private def refineTailSql(shortRel: String, k: Int): String =
    s"""refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                CAST(ne.embedding AS DOUBLE[])) AS cosine
       |  FROM $shortRel s JOIN embeddings qe ON qe.vec_id = s.query_id
       |       JOIN embeddings ne ON ne.vec_id = s.neighbor_id
       |), rranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM refined
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM rranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** The residual CTE chain: serving/train relations, the TRAINED
    * coarse quantizer (T unrolled exact-Lloyd iterations over the train
    * relation — the `ivf_ann_trained` chains), serving-side sims
    * against the final centroids, coarse assignment, FLOAT32 residuals
    * (the exact double subtraction rounded to float —
    * [[residualFrame]]'s anchor), residual-sliced L2 [[pqCtesSql]].
    * Ends with `pq_codes` in scope plus `pqr_assign`/`pqr_cent` (the
    * final coarse centroids) and `srv_sims` for the probe chain. */
  private def pqrCtesSql(dim: Int, numCentroids: Int, kpq: Int,
                         iterations: Int, trainW: String, keepW: String): String = {
    // conditional separator: at iterations = 0 the Lloyd fragment is
    // empty and a bare ",\n,\n" would be malformed SQL (the pqCtesSql
    // guard, mirrored)
    val lloyd = if (iterations == 0) "" else (0 until iterations)
      .map(i => kmeansIterCtesSql(i, dim, "", "pqr_train")).mkString(",\n") + ",\n"
    val cent = if (iterations == 0) "centroids" else s"k_cent$iterations"
    s"""pqr_kept AS MATERIALIZED (SELECT * FROM embeddings$keepW),
       |pqr_train AS MATERIALIZED (SELECT * FROM embeddings$trainW),
       |${centroidSimsCtesSql(dim, numCentroids, "pqr_train")},
       |${lloyd}pqr_cent AS MATERIALIZED (SELECT cid, c FROM $cent),
       |srv_sims AS MATERIALIZED (
       |  SELECT e.vec_id, ct.cid,
       |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c) AS sim
       |  FROM pqr_kept e CROSS JOIN pqr_cent ct
       |),
       |pqr_assign AS MATERIALIZED (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY sim DESC, cid DESC) AS rk
       |    FROM srv_sims
       |  ) WHERE rk = 1
       |), pqr_de AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM pqr_kept
       |), pqr_resid AS MATERIALIZED (
       |  SELECT d.vec_id,
       |         [CAST(d.de[x] - ct.c[x] AS FLOAT) FOR x IN range(1, ${dim + 1})] AS embedding
       |  FROM pqr_de d JOIN pqr_assign a USING (vec_id)
       |       JOIN pqr_cent ct ON ct.cid = a.cid
       |), pqr_train_resid AS MATERIALIZED (
       |  SELECT r.* FROM pqr_resid r JOIN pqr_train t USING (vec_id)
       |),
       |${pqCtesSql(dim, PqM, kpq, iterations, "pqr_train_resid", "pqr_resid",
           l2 = true, dataInit = true)}""".stripMargin
  }

  /** The residual-ADC `scored` CTE: ⟨q,c⟩ + the m LUT partials over the
    * EXACT neighbor norm (recomputed in SQL by the same sequential fold
    * the Spark side persisted at build), every sum in
    * [[adcScore]]'s left-to-right association. */
  private def pqrScoredSql(p: String, dim: Int, m: Int, iterations: Int,
                           queryRelation: String): String = {
    val sub = dim / m
    def finalCent(s: Int) =
      if (iterations == 0) s"pq${s}_centroids" else s"pq${s}_k_cent$iterations"
    val num = (s"list_inner_product(CAST(qe.embedding AS DOUBLE[]), cc.c)" +:
      (0 until m).map { s =>
        val lo = s * sub + 1; val hi = (s + 1) * sub
        s"list_inner_product(CAST(qe.embedding AS DOUBLE[])[$lo:$hi], t$s.c)"
      }).mkString("\n          + ")
    val joins = (0 until m).map(s =>
      s"JOIN ${finalCent(s)} t$s ON t$s.cid = pc.code$s").mkString("\n       ")
    s"""${p}scored AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id,
       |        ($num)
       |        / (sqrt(list_inner_product(CAST(qe.embedding AS DOUBLE[]),
       |                                   CAST(qe.embedding AS DOUBLE[])))
       |           * sqrt(list_inner_product(CAST(ne.embedding AS DOUBLE[]),
       |                                     CAST(ne.embedding AS DOUBLE[])))) AS cosine
       |  FROM ${p}cand c JOIN $queryRelation qe ON qe.vec_id = c.query_id
       |       JOIN $queryRelation ne ON ne.vec_id = c.neighbor_id
       |       JOIN pq_codes pc ON pc.vec_id = c.neighbor_id
       |       JOIN pqr_assign na ON na.vec_id = c.neighbor_id
       |       JOIN pqr_cent cc ON cc.cid = na.cid
       |       $joins
       |)""".stripMargin
  }

  /** DuckDB twin of the residual-PQ gates ([[ivfPqOracle]]'s parameter
    * surface on the residual chain). */
  def ivfPqResOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                     nProbe: Int = 4, kpq: Int = PqK,
                     iterations: Int = PqIterations,
                     dim: Int = LshOracleDim,
                     trainWhere: Option[String] = None,
                     keepWhere: Option[String] = None): String = {
    val trainW = trainWhere.map(w => s" WHERE $w").getOrElse("")
    val keepW = keepWhere.map(w => s" WHERE $w").getOrElse("")
    s"""WITH ${pqrCtesSql(dim, numCentroids, kpq, iterations, trainW, keepW)},
       |${ivfRankedCtesSql(numQueries, nProbe, "p_", sims = "srv_sims",
           relation = "pqr_kept",
           scoredSqlOpt = Some(pqrScoredSql("p_", dim, PqM, iterations, "pqr_kept")))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM p_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin of `ivf_pqr_rerank`: the residual chain's
    * top-k replaced by an ADC-ranked R-shortlist + exact re-score (the
    * [[ivfPqRerankOracle]] tail verbatim). */
  def ivfPqResRerankOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                           nProbe: Int = 4, kpq: Int = PqK,
                           iterations: Int = PqIterations,
                           dim: Int = LshOracleDim, shortlist: Int = 50): String =
    s"""WITH ${pqrCtesSql(dim, numCentroids, kpq, iterations, "", "")},
       |${ivfRankedCtesSql(numQueries, nProbe, "p_", sims = "srv_sims",
           relation = "pqr_kept",
           scoredSqlOpt = Some(pqrScoredSql("p_", dim, PqM, iterations, "pqr_kept")))},
       |shortl AS (
       |  SELECT query_id, neighbor_id FROM p_ranked WHERE rank <= $shortlist
       |), refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                CAST(ne.embedding AS DOUBLE[])) AS cosine
       |  FROM shortl s JOIN pqr_kept qe ON qe.vec_id = s.query_id
       |       JOIN pqr_kept ne ON ne.vec_id = s.neighbor_id
       |), rranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM refined
       |)
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM rranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ----------------------------- filtered (predicate-constrained) ANN

  private def langCandWhere(lang: String): String =
    s"a.vec_id IN (SELECT doc_id FROM documents WHERE lang = '$lang')"

  /** DuckDB twin of `ivf_ann_filtered`: the standard IVF chain
    * with the candidate predicate injected — index/assignment/probes
    * untouched, only candidates that satisfy the filter reach the
    * re-score (the Spark semi-join's position exactly). */
  def ivfAnnFilteredOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                           nProbe: Int = 4, dim: Int = LshOracleDim,
                           lang: String = "en"): String =
    s"""WITH ${centroidSimsCtesSql(dim, numCentroids)},
       |${ivfRankedCtesSql(numQueries, nProbe,
           candWhereOpt = Some(langCandWhere(lang)))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of `ivf_pq_filtered`: [[ivfPqOracle]]'s chain
    * with the same candidate predicate. */
  def ivfPqFilteredOracle(numQueries: Int = 8, k: Int = 10, numCentroids: Int = 16,
                          nProbe: Int = 4, kpq: Int = PqK,
                          iterations: Int = PqIterations,
                          dim: Int = LshOracleDim, lang: String = "en"): String =
    s"""WITH pq_kept AS MATERIALIZED (SELECT * FROM embeddings),
       |pq_train AS MATERIALIZED (SELECT * FROM embeddings),
       |${centroidSimsCtesSql(dim, numCentroids, "pq_kept")},
       |${pqCtesSql(dim, PqM, kpq, iterations, "pq_train", "pq_kept")},
       |${ivfRankedCtesSql(numQueries, nProbe, "p_", relation = "pq_kept",
           scoredSqlOpt = Some(pqScoredSql("p_", dim, PqM, iterations, "pq_kept")),
           candWhereOpt = Some(langCandWhere(lang)))}
       |SELECT query_id, rank, neighbor_id, FLOOR(cosine * 1e8 + 0.5) / 1e8 AS cosine_r
       |FROM p_ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
}
