package graft.operators

import graft.sources.{StoreCommit, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent near-dup pair-graph / cluster-map artifact.
  *
  * The shingle self-join behind the verified pair list is the single most
  * expensive stage in the engine at corpus scale, and FOUR consumers need
  * its output: cluster listing, canonical selection, leakage-safe
  * splitting, and the cross-source matrix. A real curation pipeline pays
  * that join ONCE per corpus version, persists the result, and reads it
  * everywhere — exactly the economics [[DedupIndex]] already provides for
  * MinHash signatures, extended here to the verified pairs and their
  * connected components:
  *
  *   `<dir>/pairs/epoch=<e>/    (id1, id2, n_common, jaccard) — the
  *                     threshold-verified near-dup pair graph.
  *   `<dir>/clusters_v<g>/      (doc_id, cluster_id) — connected
  *                     components of that graph (cluster_id = min member
  *                     doc_id), clustered docs only: sparse by
  *                     construction; generation-versioned (labels can
  *                     change wholesale when components merge).
  *   `<dir>/cards/epoch=<e>/    (doc_id, n_shingles) — per-doc shingle
  *                     cardinalities, derived from the SAME pinned shingle
  *                     stage the pair join reads (no extra corpus scan at
  *                     build). [[append]] reads old cardinalities from
  *                     here, which is what keeps the delta path at ONE
  *                     scan of the old corpus.
  *   `<dir>/_manifest.properties` — shingle width, threshold, the
  *                     corpus stamp (doc count + max doc_id), the
  *                     committed epoch list, and the live clusters
  *                     generation. A consumer mixing artifacts computed
  *                     under different parameters — or an [[append]] fed
  *                     an oldDocs frame that drifted from the corpus the
  *                     store was built over — would silently produce
  *                     garbage, so reads and appends verify against it.
  *
  * Every op commits through [[graft.sources.StoreCommit]]: the op's
  * pairs and cards land in a NEW epoch, the re-labeled cluster map in the
  * NEXT generation dir, and one manifest rename publishes all three
  * tables plus the corpus stamp at once.
  *
  * Scale: both tables are pair-graph-bounded (the near-dup minority),
  * typically orders of magnitude smaller than the corpus — a consumer
  * reads them as an ordinary parquet side input and never re-shingles.
  * Consumers: [[NearDupClusters.canonicalWith]], [[CorpusSplit.splitWith]],
  * [[SourceMatrix.matrixWith]] — each proven equal to its from-scratch
  * sibling (ClusterStoreSpec), with `dedup_canonical_indexed` driver-gated
  * under the SAME oracle as `dedup_canonical`.
  */
object ClusterStore {

  case class Config(n: Int = 5, threshold: Double = 0.5)

  /** [[append]] relabels only the delta-touched subgraph when the touched
    * component fraction is at or below this; above it the carve cannot
    * beat a full re-label (the subgraph IS most of the graph). */
  val IncrementalChurnCutoff = 0.3

  /** Under the `auto` policy the subgraph path additionally requires at
    * least this many stored pairs. Measured (sf0.1, per-stage stderr
    * laps): with a ~20k-pair graph the full CC re-label costs ~1.5 s
    * while the carve + churn counts + subgraph CC cost ~5.8 s — at small
    * edge counts EVERY CC round is a fixed-cost scheduling unit, so
    * shrinking its input saves nothing and the extra carve jobs are pure
    * loss. The crossover is where one round's shuffle is data-bound
    * (edge list ≫ core count × in-flight rows): then full CC pays
    * R data-sized rounds daily over ALL near-dup history while the
    * incremental path pays ONE edge-list scan + churn-sized rounds. */
  val IncrementalPairFloor = 10000000L

  /** Session conf selecting [[append]]'s re-label strategy:
    * `auto` (default — subgraph path only in the data-bound regime, per
    * [[IncrementalChurnCutoff]] + [[IncrementalPairFloor]]),
    * `incremental` (force the subgraph path — specs pin its equality with
    * from-scratch this way), `full` (always re-label the whole graph). */
  val RelabelConf = "spark.graft.clusterstore.relabel"

  /** The store's commit point: config + corpus stamp + committed epochs
    * + the live clusters generation. */
  private[graft] case class Manifest(cfg: Config, nDocs: Long, maxDocId: Long,
                                     epochs: Seq[Long], nextEpoch: Long,
                                     clustersGen: Long) extends StoreCommit.Manifest {
    def layout: StoreCommit.Layout = Layout
    def fields: Seq[(String, Any)] = Seq("n" -> cfg.n, "threshold" -> cfg.threshold,
      "n_docs" -> nDocs, "max_doc_id" -> maxDocId, "epochs" -> epochs,
      "nextEpoch" -> nextEpoch, "clustersGen" -> clustersGen)
    override def generation: Option[Long] = Some(clustersGen)
  }

  private val Layout = StoreCommit.Layout("graft near-dup cluster store manifest",
    epochTables = Seq("pairs", "cards"), genPrefixes = Seq("clusters_v"))

  private[graft] def readManifest(dir: String): Manifest = StoreCommit.read(dir) { p =>
    Manifest(Config(p("n").toInt, p("threshold").toDouble),
      p("n_docs").toLong, p("max_doc_id").toLong, p.epochs("epochs"),
      p("nextEpoch").toLong, p("clustersGen").toLong)
  }

  /** The stored pair-graph config — consumers derive behavior from THIS,
    * never from caller-supplied parameters that might drift. */
  def readMeta(dir: String): Config = readManifest(dir).cfg

  /** The corpus stamp recorded at build (and advanced by [[append]]):
    * (doc count, max doc_id) of the store's corpus. */
  def readCorpusStamp(dir: String): (Long, Long) = {
    val m = readManifest(dir)
    (m.nDocs, m.maxDocId)
  }

  /** (count, max doc_id) of `docs` — the corpus fingerprint compared
    * against the stored stamp. A doc_id-only aggregate: parquet prunes to
    * the one column, so this guard never re-reads text. */
  private def corpusStamp(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)).as("n"),
      coalesce(max(col("doc_id")), lit(-1L)).as("mx")).first()
    (r.getAs[Long]("n"), r.getAs[Long]("mx"))
  }

  /** Build the store over `docs`: verify pairs, run connected components,
    * persist both plus the per-doc cardinalities. The shingle-array stage
    * is pinned ONCE and feeds the cards write and the pair pipeline (one
    * corpus scan + shingling total); the pair frame is persisted locally
    * (it feeds the parquet write AND the CC iteration) and released on
    * exit along with the CC scaffolding. */
  def write(docs: DataFrame, dir: String, cfg: Config = Config()): Unit = {
    val spark = docs.sparkSession
    // marker BEFORE the pair pipeline: CC's mid-iteration release then
    // frees exactly the shingle-stage pins this build created, never a
    // composite caller's own pinned stages
    val m = Pinned.marker(spark)
    val arrs = Pinned.pin(Dedup.shingleArrays(docs, cfg.n))
    val pairs = Dedup.jaccardPairsFromArrays(arrs, cfg.threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      // three independent staging jobs overlapped (guide §2.6): the stamp
      // aggregate, the cards write (materializes the pinned shingle stage)
      // and the pair write (materializes the persisted pair frame) touch
      // disjoint outputs; concurrent first materialization of the shared
      // shingle pin serializes per block, so the stage is still computed
      // once. CC stays OUTSIDE the overlap — it reads the persisted pair
      // blocks, and its mid-iteration pin release must not race the cards
      // branch's read of the shingle pin.
      val ((nDocs, maxId), (), ()) = ParallelJobs.par3(
        () => corpusStamp(docs),
        () => arrs.select(col("doc_id"), size(col("sharr")).cast("long").as("n_shingles"))
          .withColumn("epoch", lit(0L))
          .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/cards"),
        () => pairs.withColumn("epoch", lit(0L))
          .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/pairs"))
      NearDupClusters.connectedComponents(pairs, Some(m))
        .write.mode("overwrite").parquet(s"$dir/clusters_v0")
      StoreCommit.publish(dir, Manifest(cfg, nDocs, maxId,
        epochs = Seq(0L), nextEpoch = 1L, clustersGen = 0L))
    } finally {
      pairs.unpersist(blocking = false)
      Pinned.releaseSince(spark, m, Seq.empty)
    }
  }

  def readPairs(spark: SparkSession, dir: String): DataFrame = {
    val committed = readManifest(dir).epochs.map(java.lang.Long.valueOf)
    spark.read.parquet(s"$dir/pairs")
      .filter(col("epoch").isin(committed: _*))
      .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
  }

  def readClusters(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/clusters_v${readManifest(dir).clustersGen}")

  /** Per-doc shingle cardinalities of the store's corpus (docs with ≥1
    * shingle — the same domain the pair graph is defined over). */
  def readCards(spark: SparkSession, dir: String): DataFrame = {
    val committed = readManifest(dir).epochs.map(java.lang.Long.valueOf)
    spark.read.parquet(s"$dir/cards")
      .filter(col("epoch").isin(committed: _*))
      .select(col("doc_id"), col("n_shingles"))
  }

  /** One built store per (JVM, source dir): the point of the artifact is
    * that the pair graph is paid ONCE and every consumer reads it, so the
    * gate memoizes the build exactly like a production run would. The
    * first consumer call pays the build (Verify's single pass and a cold
    * bench both include it); repeat calls — bench's measured pass after
    * warmup — time the CONSUME path alone. Bench measures the build as its
    * own `cluster_store_build` phase against a fresh directory, so both
    * costs stay visible. Temp dirs are removed on JVM exit. */
  private val builtStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def buildStoreFor(spark: SparkSession, dir: String): String =
    builtStores.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_cluster_store")
      TempDirs.registerForCleanup(p)
      write(Tables.documents(spark, dir), p.toString)
      p.toString
    })

  /** Gated query: quality-max canonical selection CONSUMING the persisted
    * cluster map (building it first if this JVM hasn't). Same oracle as
    * `dedup_canonical` — proving artifact-consuming equals from-scratch is
    * the entire point of the gate. */
  def canonicalIndexedFromDir(spark: SparkSession, dir: String): DataFrame = {
    val store = buildStoreFor(spark, dir)
    NearDupClusters.canonicalWith(
      Tables.documents(spark, dir), readClusters(spark, store))
  }

  /** Gated query: leakage-safe split CONSUMING the persisted cluster map —
    * same oracle as `corpus_split`. Shares the memoized store build with
    * the other indexed gates. */
  def splitIndexedFromDir(spark: SparkSession, dir: String): DataFrame = {
    val store = buildStoreFor(spark, dir)
    CorpusSplit.splitWith(Tables.documents(spark, dir), readClusters(spark, store))
  }

  /** Gated query: cross-source matrix CONSUMING the persisted pair list —
    * same oracle as `dedup_source_matrix`. */
  def matrixIndexedFromDir(spark: SparkSession, dir: String): DataFrame = {
    val store = buildStoreFor(spark, dir)
    SourceMatrix.matrixWith(Tables.documents(spark, dir), readPairs(spark, store))
  }

  // ------------------------------------------------------- incremental append

  /** Append a delta to the store WITHOUT re-running the backlog's shingle
    * self-join — the daily-ingest path for the pair graph, closing the
    * same loop [[DedupIndex]] closes for MinHash signatures:
    *
    *   - delta-touching pairs come from joining the OLD corpus's exploded
    *     shingles (ONE scan + in-row shingling, NO old×old self-join —
    *     that quadratic-candidate stage is exactly what the store already
    *     paid for) against the delta's shingles, plus the delta-internal
    *     self-join (delta-sized). Old cardinalities come from the stored
    *     `cards` table, not a second shingling pass — the old corpus
    *     really is scanned-with-shingling exactly once (the only other
    *     touch is the doc_id-only stamp guard below);
    *   - the merged pair list (stored ∪ delta) is pair-graph-bounded, so
    *     re-labeling costs edge-list work, never corpus work — and the CC
    *     handles the hard case where a new doc BRIDGES two existing
    *     clusters (their labels must merge, which no per-cluster patching
    *     gets right for free). Under the [[RelabelConf]] `auto` policy a
    *     LARGE graph with LOW churn relabels only the delta-touched
    *     subgraph (untouched components' rows carry over verbatim),
    *     making the daily CC O(churn) instead of O(all near-dup
    *     history); small graphs take the full re-label, where CC rounds
    *     are scheduling-bound and the carve is measured pure loss;
    *   - pairs and cards append; clusters rewrite (they are labels over
    *     the merged graph, and label identity can change when components
    *     merge); the meta corpus stamp advances to cover the delta.
    *
    * Guards: `oldDocs` must BE the store's build corpus — a drifted frame
    * would silently produce an incomplete pair graph — so its (count, max
    * doc_id) stamp is checked against the stored one (a doc_id-only
    * column-pruned aggregate, cheap at any scale). An old/new doc_id
    * overlap would fabricate self-pairs (id1 == id2, jaccard 1.0); the
    * cross join drops same-id rows so an id collision can never poison
    * the stored pair list (doc_id uniqueness across old ∪ new remains the
    * caller's contract, as everywhere in the dedup stack).
    *
    * Exactness: same shingle rule, same integer Jaccard, same threshold
    * from the stored meta — append(backlog store, delta) produces the
    * identical pair set and cluster map as a from-scratch build over the
    * union, which is precisely what the `cluster_append` gate checks
    * against the full-corpus oracle. */
  def append(spark: SparkSession, dir: String,
             oldDocs: DataFrame, newDocs: DataFrame): Unit =
    StoreCommit.commit(dir, stageAppend(spark, dir, oldDocs, newDocs))

  /** The staging half of [[append]] (exposed for the crash spec): the
    * delta's pairs/cards epoch, the next cluster generation, and the
    * advanced stamp all land invisibly; nothing is published until the
    * returned manifest commits. */
  private[graft] def stageAppend(spark: SparkSession, dir: String,
                                 oldDocs: DataFrame,
                                 newDocs: DataFrame): Manifest = {
    val manifest = readManifest(dir)
    val cfg = manifest.cfg
    val (nStored, maxStored) = (manifest.nDocs, manifest.maxDocId)
    val (nOld, maxOld) = corpusStamp(oldDocs)
    require(nOld == nStored && maxOld == maxStored,
      s"oldDocs (count=$nOld, max doc_id=$maxOld) does not match the corpus " +
        s"this store was built over (count=$nStored, max doc_id=$maxStored) — " +
        "appending against a drifted backlog would persist an incomplete pair graph")
    val e = manifest.nextEpoch
    val g = manifest.clustersGen + 1
    StoreCommit.sweep(dir, manifest)
    val m = Pinned.marker(spark)
    val newArrs = Pinned.pin(Dedup.shingleArrays(newDocs, cfg.n))
    val newCards = newArrs
      .select(col("doc_id"), size(col("sharr")).cast("long").as("n_shingles"))
    val newSh = newArrs.select(col("doc_id"), explode(col("sharr")).as("shingle"))
    // cardinalities: stored cards for the old corpus (paid at build),
    // delta-sized cards for the new docs
    val deltaPairs = discoverDeltaPairs(oldDocs, newSh,
      readCards(spark, dir).unionByName(newCards), cfg)
    val deltaP = deltaPairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lap = lapTimer("store-append")
    try {
      // three independent staging jobs overlapped (guide §2.6; see
      // [[removeAndAppend]]'s rationale — disjoint outputs, shared reads
      // only, CC kept outside the overlap)
      val ((), (), (nNew, maxNew)) = ParallelJobs.par3(
        () => deltaP.withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch").parquet(s"$dir/pairs"),
        () => newCards.withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch").parquet(s"$dir/cards"),
        () => corpusStamp(newDocs))
      lap("pairs ∥ cards ∥ stamp staged")
      // the merged pair list: committed epochs + the STAGED epoch, read
      // back from disk; readers resolve the manifest, so the staged epoch
      // stays invisible to readPairs until the caller commits
      val allPairs = spark.read.parquet(s"$dir/pairs")
        .filter(col("epoch").isin(
          (manifest.epochs :+ e).map(java.lang.Long.valueOf): _*))
        .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
      relabel(spark, dir, allPairs, endpoints(deltaP), g, m, lap)
      manifest.copy(nDocs = nStored + nNew, maxDocId = math.max(maxStored, maxNew),
        epochs = manifest.epochs :+ e, nextEpoch = e + 1, clustersGen = g)
    } finally {
      deltaP.unpersist(blocking = false)
      Pinned.releaseSince(spark, m, Seq.empty)
    }
  }

  /** [[append]]'s delta-pair discovery, single-sourced with
    * [[removeAndAppend]] so the candidate generation cannot drift between
    * the two ingest paths: old↔new shared-shingle candidates (ONE
    * corpus-sized scan+shingling of `oldDocs`, no old×old self-join — the
    * quadratic-candidate stage is exactly what the store already paid
    * for) plus the delta-internal self-join, verified by the integer
    * Jaccard against `card` (doc_id, n_shingles) under the stored
    * threshold. */
  private def discoverDeltaPairs(oldDocs: DataFrame, newSh: DataFrame,
                                 card: DataFrame, cfg: Config): DataFrame = {
    val oldSh = Dedup.shingleArrays(oldDocs, cfg.n)
      .select(col("doc_id"), explode(col("sharr")).as("shingle"))
    // old↔new shared-shingle rows: the corpus-sized side streams through
    // ONE scan; AQE picks the join strategy from the delta's real size
    val cross = oldSh.select(col("shingle"), col("doc_id").as("oid"))
      .join(newSh.select(col("shingle"), col("doc_id").as("nid")), Seq("shingle"))
      .filter(col("oid") =!= col("nid"))
      .select(least(col("oid"), col("nid")).as("id1"),
        greatest(col("oid"), col("nid")).as("id2"))
    // new↔new: the delta-internal self-join (delta-sized; merge-hinted for
    // the same Generate-misestimate reason as the full self-join)
    val l = newSh.select(col("shingle"), col("doc_id").as("id1"))
    val r = newSh.select(col("shingle"), col("doc_id").as("id2"))
    val within = l.hint("merge").join(r, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val inter = cross.unionAll(within)
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_common"))
    inter
      .join(card.select(col("doc_id").as("id1"), col("n_shingles").as("n1")), Seq("id1"))
      .join(card.select(col("doc_id").as("id2"), col("n_shingles").as("n2")), Seq("id2"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= cfg.threshold)
      .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
  }

  /** Both endpoints of every pair in `pairs`, as `doc_id`s. */
  private def endpoints(pairs: DataFrame): DataFrame =
    pairs.select(col("id1").as("doc_id")).unionAll(pairs.select(col("id2").as("doc_id")))

  /** The stored pair graph minus every edge touching a removed id. */
  private def keptPairs(spark: SparkSession, dir: String, rem: DataFrame): DataFrame =
    readPairs(spark, dir)
      .join(rem.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_anti")
      .join(rem.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_anti")
      .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))

  /** Write clusters generation `g`: the connected components of `edges`
    * (the op's final pair list, read back from the staged epoch files —
    * a plain scan is what CC's edge pin evaluates fastest; unioning the
    * in-memory delta lineage instead measured 6.1 s vs 1.6 s). `seedIds`
    * are the docs whose component the op may change: removed docs (a
    * removal only SPLITS the components it sat in) and delta-pair
    * endpoints (a delta pair can MERGE components).
    *
    * Policy ([[RelabelConf]]): the subgraph path carves every edge of a
    * component holding a seed — old pairs never cross components, so
    * id1-membership selects them, and a delta pair always has a seed as
    * id1 — re-runs CC over that alone and carries untouched components'
    * rows over verbatim; a removed id sits in an affected component by
    * construction, so it cannot survive via the carry-over. Under `auto`
    * it runs only in the data-bound regime: at least
    * [[IncrementalPairFloor]] stored pairs AND at most
    * [[IncrementalChurnCutoff]] of the components touched (cluster-bounded
    * counts, never the corpus). Below the floor every CC round is a
    * fixed-cost scheduling unit (sf0.1: full CC 1.5 s vs carve + churn
    * counts + subgraph CC 5.8 s). Both paths give identical output. */
  private def relabel(spark: SparkSession, dir: String, edges: DataFrame,
                      seedIds: DataFrame, g: Long, m: Long,
                      lap: String => Unit): Unit = {
    val oldClusters = readClusters(spark, dir)
    val seeds = seedIds.distinct()
    val incremental = spark.conf.get(RelabelConf, "auto") match {
      case "incremental" => true
      case "full" => false
      case _ =>
        readPairs(spark, dir).count() >= IncrementalPairFloor && { // footer-only
          val total = oldClusters.select(col("cluster_id")).distinct().count()
          val touchedN = oldClusters.join(seeds, Seq("doc_id"))
            .select(col("cluster_id")).distinct().count()
          lap(s"churn counts ($touchedN/$total components touched)")
          total > 0 && touchedN.toDouble / total <= IncrementalChurnCutoff
        }
    }
    val clusters =
      if (!incremental) NearDupClusters.connectedComponents(edges, Some(m))
      else {
        val affected = oldClusters.join(seeds, Seq("doc_id"))
          .select(col("cluster_id")).distinct()
        val touched = oldClusters.join(affected, Seq("cluster_id"))
          .select(col("doc_id")).unionAll(seeds).distinct()
        val sub = edges
          .join(touched.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_semi")
        oldClusters.join(affected, Seq("cluster_id"), "left_anti")
          .select(col("doc_id"), col("cluster_id"))
          .unionByName(NearDupClusters.connectedComponents(sub, Some(m)))
      }
    clusters.write.mode("overwrite").parquet(s"$dir/clusters_v$g")
    lap(if (incremental) "incremental CC re-label (touched subgraph)" else "full CC re-label")
  }

  /** Per-stage wall clock on stderr, `[tag] <stage> <seconds>`: store ops
    * are the recurring cost, and a drifting stage should name itself
    * from the logs alone. */
  private def lapTimer(tag: String): String => Unit = {
    var t0 = System.nanoTime()
    stage => {
      val t1 = System.nanoTime()
      System.err.println(f"[$tag] $stage ${(t1 - t0) / 1e9}%.2fs")
      t0 = t1
    }
  }

  /** Remove documents from the store — the deletion half of the
    * dataset-version loop ([[CorpusDiff]]'s `removed ∪ changed` docs must
    * LEAVE the pair graph before the changed docs' new text re-enters via
    * [[append]]; GDPR-style takedowns are the same mechanics).
    *
    *   - pairs/cards REWRITE filtered into one fresh epoch — both tables
    *     are pair-graph-bounded (the near-dup minority), so a deletion
    *     costs edge-list work, never corpus work, and the rewrite doubles
    *     as an epoch compaction;
    *   - clusters: [[relabel]] over the kept pairs, seeded with the
    *     removed ids (a member whose last pair died drops out of the map
    *     naturally, exactly as a from-scratch build would drop it);
    *   - the corpus stamp re-computes over `remainingDocs` (a doc_id-only
    *     column-pruned aggregate) so a later [[append]]'s drift guard
    *     keeps holding against the post-delete corpus.
    *
    * Equality with from-scratch over the remaining corpus is what the
    * `corpus_diff_recurate` gate checks. */
  def remove(spark: SparkSession, dir: String,
             removedIds: DataFrame, remainingDocs: DataFrame): Unit = {
    val manifest = readManifest(dir)
    val e = manifest.nextEpoch
    val g = manifest.clustersGen + 1
    StoreCommit.sweep(dir, manifest)
    val rem = removedIds.select(col("doc_id")).distinct()
    keptPairs(spark, dir, rem)
      .withColumn("epoch", lit(e))
      .write.mode("append").partitionBy("epoch").parquet(s"$dir/pairs")
    readCards(spark, dir).join(rem, Seq("doc_id"), "left_anti")
      .withColumn("epoch", lit(e))
      .write.mode("append").partitionBy("epoch").parquet(s"$dir/cards")
    val kept = spark.read.parquet(s"$dir/pairs").filter(col("epoch") === e)
      .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
    // marker scopes CC's mid-iteration pin release to ITS pins only — a
    // composite caller's (recurate loop) earlier pinned stages survive
    val m = Pinned.marker(spark)
    relabel(spark, dir, kept, rem, g, m, lapTimer("store-remove"))
    val (nRem, maxRem) = corpusStamp(remainingDocs)
    StoreCommit.commit(dir, manifest.copy(nDocs = nRem, maxDocId = maxRem,
      epochs = Seq(e), nextEpoch = e + 1, clustersGen = g))
  }

  /** The composed single-commit dataset-version step: remove `removedIds`
    * and append `newDocs` as ONE store transaction — the daily loop
    * [[CorpusDiff.recurateFromDir]] runs (`removed ∪ changed` leave the
    * pair graph, `added ∪ changed` re-enter). Calling [[remove]] then
    * [[append]] is correct but pays the connected-components re-label
    * TWICE: remove's split re-label is immediately superseded by append's
    * merge re-label over the same surviving edges, and the intermediate
    * clusters generation, manifest commit and corpus stamp are states no
    * reader of the loop can ever observe. Here:
    *
    *   - pairs/cards REWRITE filtered of the removed ids into one fresh
    *     epoch, exactly as [[remove]] stages them;
    *   - the delta's pairs/cards land in the SAME epoch, discovered by
    *     [[discoverDeltaPairs]] — [[append]]'s machinery verbatim (one
    *     shingle scan of the remaining corpus; old cardinalities from the
    *     stored `cards` filtered of the removed ids, which is exactly what
    *     [[append]] read back after [[remove]]'s commit);
    *   - ONE connected-components re-label over the merged (kept ∪ delta)
    *     edge list. Labels are a pure function of the final edge set and
    *     the sequential pair's LAST re-label ran over this same set, so
    *     the resulting cluster map is identical (pinned by the
    *     Round21 composed-op spec);
    *   - ONE manifest commit publishes the epoch, the next clusters
    *     generation, and the post-remove+append stamp together: the
    *     store is never published in the half-removed state.
    *
    * Contract: `remainingDocs` must BE the store's corpus minus
    * `removedIds`. (In the sequential pair, [[append]]'s drift guard
    * checks `oldDocs` against the stamp [[remove]] just recomputed FROM
    * the same `remainingDocs` frame — it re-verifies the frame's
    * determinism, not independent truth — so the composed op computes the
    * stamp once and documents the contract instead.) Equality with
    * from-scratch over (remaining ∪ new) is what the
    * `corpus_diff_recurate` gate checks against the DuckDB oracle. */
  def removeAndAppend(spark: SparkSession, dir: String, removedIds: DataFrame,
                      remainingDocs: DataFrame, newDocs: DataFrame): Unit = {
    val manifest = readManifest(dir)
    val cfg = manifest.cfg
    val e = manifest.nextEpoch
    val g = manifest.clustersGen + 1
    StoreCommit.sweep(dir, manifest)
    val rem = removedIds.select(col("doc_id")).distinct()
    val m = Pinned.marker(spark)
    val newArrs = Pinned.pin(Dedup.shingleArrays(newDocs, cfg.n))
    val newCards = newArrs
      .select(col("doc_id"), size(col("sharr")).cast("long").as("n_shingles"))
    val newSh = newArrs.select(col("doc_id"), explode(col("sharr")).as("shingle"))
    val keptCards = readCards(spark, dir).join(rem, Seq("doc_id"), "left_anti")
    val deltaPairs = discoverDeltaPairs(remainingDocs, newSh,
      keptCards.unionByName(newCards), cfg)
    val deltaP = deltaPairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lap = lapTimer("store-rma")
    try {
      // THREE independent staging jobs overlapped (guide §2.6): the
      // kept+delta pairs write, the cards write, and the post-op stamp
      // aggregate touch disjoint outputs and share only READS (the newArrs
      // pin's first materialization serializes per block). The CC below
      // stays OUTSIDE the overlap: it must read the landed pair files, and
      // its mid-iteration pin release must not race the cards branch's
      // read of the same pin.
      val ((), (), (nAll, maxAll)) = ParallelJobs.par3(
        // kept pairs (the stored graph minus every edge touching a removed
        // id — [[remove]]'s filtered rewrite) UNION the delta's pairs, in
        // ONE write job into the staged epoch. The union feeds only the
        // WRITE: the CC below still reads the landed files back from disk
        // (the r11 adjudication — re-evaluating lineage through a union
        // cost the CC lap 6.1 s vs 1.6 s), and deltaP is persisted, so the
        // union streams its cached blocks rather than re-discovering.
        () => keptPairs(spark, dir, rem)
          .unionByName(deltaP)
          .withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch").parquet(s"$dir/pairs"),
        () => keptCards.unionByName(newCards).withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch").parquet(s"$dir/cards"),
        // the post-op stamp in ONE doc_id-only aggregate over the union:
        // count(remaining ∪ new) = nRem + nNew and max over the union =
        // max(maxRem, maxNew) — the values the sequential pair computed in
        // two jobs
        () => corpusStamp(
          remainingDocs.select(col("doc_id"))
            .unionAll(newDocs.select(col("doc_id")))))
      lap("pairs ∥ cards ∥ stamp staged")
      // the merged pair list read back from disk (the staged files exist;
      // see [[relabel]] on disk scan vs in-memory lineage)
      val allPairs = spark.read.parquet(s"$dir/pairs")
        .filter(col("epoch") === e)
        .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
      // ONE re-label; removal splits components a removed doc sat in,
      // delta pairs merge components an endpoint sits in
      relabel(spark, dir, allPairs, endpoints(deltaP).unionAll(rem), g, m, lap)
      StoreCommit.commit(dir, manifest.copy(nDocs = nAll, maxDocId = maxAll,
        epochs = Seq(e), nextEpoch = e + 1, clustersGen = g))
    } finally {
      deltaP.unpersist(blocking = false)
      Pinned.releaseSince(spark, m, Seq.empty)
    }
  }

  /** Collapse the committed pairs/cards epochs into one (coalesced
    * files), publish through the manifest, delete the retired epoch dirs.
    * Unlike the bucketed stores there is no pruning key to preserve —
    * the win is file-count: consumers scan pairs/cards wholesale, and N
    * daily appends otherwise leave N file sets to list and open. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val m = readManifest(dir)
    val e = m.nextEpoch
    StoreCommit.sweep(dir, m)
    // two independent rewrites into disjoint dirs — overlapped (guide §2.6)
    ParallelJobs.par(
      () => readPairs(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism / 4 max 1)
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch").parquet(s"$dir/pairs"),
      () => readCards(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism / 4 max 1)
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch").parquet(s"$dir/cards"))
    StoreCommit.commit(dir, m.copy(epochs = Seq(e), nextEpoch = e + 1))
  }

  /** The automated maintenance decision, mirroring the other stores'. */
  def maybeCompact(spark: SparkSession, dir: String, maxEpochs: Int = 8): Boolean = {
    val due = readManifest(dir).epochs.size >= maxEpochs
    if (due) compact(spark, dir)
    due
  }

  /** One BACKLOG store per (JVM, source dir): built from every doc except
    * the [[DedupIndex.DeltaMod]] residue class — the same split the
    * signature index gates with, so the two incremental paths are directly
    * comparable. The backlog build is memoized (a production run signs the
    * backlog once); the APPEND runs per call against a fresh copy, because
    * append mutates the store and is the recurring cost the gate/bench
    * should actually measure — memoizing it too made the bench entry a
    * bare parquet read (0.2 s) that measured nothing. */
  private val backlogStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** File-copy a store into a fresh temp dir — GATE SCAFFOLDING ONLY: a
    * production append mutates the store in place and never pays this. It
    * exists so repeated gate/bench passes each append into a pristine
    * copy. The copy is timed and reported ([[lastCopySecs]] + a stderr
    * line), so the measured `cluster_append` entry can be read copy-free
    * (SCALE.md cites the split). */
  private[operators] def copyStore(src: String, prefix: String = "graft_cluster_append"): String = {
    val t0 = System.nanoTime()
    val dst = java.nio.file.Files.createTempDirectory(prefix)
    TempDirs.registerForCleanup(dst)
    val srcPath = java.nio.file.Paths.get(src)
    java.nio.file.Files.walk(srcPath).forEach { p =>
      val t = dst.resolve(srcPath.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    lastCopySecs.set(java.lang.Double.doubleToLongBits(secs))
    System.err.println(f"[store-copy] $prefix $secs%.3fs (gate scaffolding; " +
      "a production in-place append never pays this)")
    dst.toString
  }

  private val lastCopySecs =
    new java.util.concurrent.atomic.AtomicLong(java.lang.Double.doubleToLongBits(Double.NaN))

  /** Seconds the most recent [[copyStore]] took — lets harnesses subtract
    * the scaffolding share from an append measurement. NaN when no copy
    * ran since the last [[resetStoreCopySecs]]. */
  def lastStoreCopySecs: Double =
    java.lang.Double.longBitsToDouble(lastCopySecs.get())

  def resetStoreCopySecs(): Unit =
    lastCopySecs.set(java.lang.Double.doubleToLongBits(Double.NaN))

  /** Gated query `cluster_append`: the cluster map after an incremental
    * append must equal the from-scratch full-corpus map — the oracle IS
    * [[NearDupClusters.oracle]] over `documents`. Each call copies the
    * memoized backlog store (pair-graph-bounded bytes; timed and reported
    * separately — see [[copyStore]]) and appends the delta into the copy;
    * the production recurring cost is the copy-free part: stamp guard +
    * delta pair discovery + CC re-label. */
  def appendFromDir(spark: SparkSession, dir: String): DataFrame = {
    val store = appendedStoreFor(spark, dir)
    readClusters(spark, store).orderBy(col("doc_id"))
  }

  /** Copy the memoized backlog store and append the DeltaMod delta into
    * the copy — the shared append step behind [[appendFromDir]] and
    * [[splitAppendFromDir]]. Returns the updated store's path. */
  private def appendedStoreFor(spark: SparkSession, dir: String): String = {
    val docs = Tables.documents(spark, dir)
    val backlog = docs.filter(col("doc_id") % DedupIndex.DeltaMod =!= 0)
    val delta = docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0)
    val backlogStore = backlogStores.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_cluster_backlog")
      TempDirs.registerForCleanup(p)
      write(backlog, p.toString)
      p.toString
    })
    val store = copyStore(backlogStore)
    append(spark, store, backlog, delta)
    store
  }

  /** Gated query `corpus_split_append`: the composed incremental-curation
    * loop — append a delta to the ClusterStore, then produce the
    * leakage-safe split FROM the updated store. The oracle is the
    * from-scratch [[CorpusSplit.oracle]] over the FULL corpus: the
    * daily-ingest path (backlog store + delta append + store-consuming
    * split) must yield the identical train/val/test assignment a full
    * rebuild would, composing the two separately-proven pieces
    * (`cluster_append`, `corpus_split_indexed`) end-to-end. */
  def splitAppendFromDir(spark: SparkSession, dir: String): DataFrame = {
    val store = appendedStoreFor(spark, dir)
    CorpusSplit.splitWith(Tables.documents(spark, dir), readClusters(spark, store))
  }
}
