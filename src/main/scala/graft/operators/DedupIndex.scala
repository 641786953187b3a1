package graft.operators

import graft.sources.{StoreCommit, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash signature index for INCREMENTAL near-dup detection.
  *
  * Real corpora dedup a daily delta against everything already ingested,
  * not the whole corpus from scratch each run. This store keeps the two
  * derived tables the LSH pipeline needs, so a delta run touches the old
  * corpus's raw text ZERO times:
  *
  *   `<dir>/bands/epoch=<e>/band=<b>/  (doc_id, band, bucket) — the
  *                     banded signatures: the delta-vs-index join key
  *                     leads with the partition column, and a narrower
  *                     probe (e.g. re-checking one band) prunes to
  *                     1/bands of the store.
  *   `<dir>/shingles/epoch=<e>/        (doc_id, harr) — per-doc distinct
  *                     hashed shingle arrays, read candidate-bounded
  *                     (semi-join on candidate ids) for exact-Jaccard
  *                     verification.
  *   `<dir>/_manifest.properties`      — the signature config (a delta
  *                     computed under different parameters would silently
  *                     produce garbage buckets, so reads verify) plus the
  *                     committed epoch list.
  *
  * Every mutation commits through [[graft.sources.StoreCommit]]: a
  * batch's bands and shingles land in a NEW epoch directory, invisible
  * until one manifest rename commits both tables at once.
  * [[compact]] collapses the committed epochs into one — one file per
  * band — so delta-probe cost stays O(1) files per pruned band
  * regardless of how many daily appends the store has absorbed.
  *
  * Scale: the index holds fixed-width integer rows (bands·|corpus| band
  * rows, |corpus| shingle arrays) — a ~100-byte-per-doc footprint that
  * replaces re-shingling 100 TB of text; the delta side alone pays
  * signature computation, and the verification join is candidate-bounded
  * exactly like [[Dedup.minhashLsh]]'s.
  */
object DedupIndex {

  case class Config(n: Int = 5, numHashes: Int = 64, bands: Int = 16,
                    seed: Long = 42L)

  private[graft] case class Manifest(cfg: Config, epochs: Seq[Long],
                                     nextEpoch: Long) extends StoreCommit.Manifest {
    def layout: StoreCommit.Layout = Layout
    def fields: Seq[(String, Any)] = Seq("n" -> cfg.n, "numHashes" -> cfg.numHashes,
      "bands" -> cfg.bands, "seed" -> cfg.seed, "epochs" -> epochs, "nextEpoch" -> nextEpoch)
  }

  private val Layout = StoreCommit.Layout("graft MinHash signature index manifest",
    epochTables = Seq("bands", "shingles"))

  private[graft] def readManifest(dir: String): Manifest = StoreCommit.read(dir) { p =>
    Manifest(Config(p("n").toInt, p("numHashes").toInt, p("bands").toInt, p("seed").toLong),
      p.epochs("epochs"), p("nextEpoch").toLong)
  }

  /** The stored signature config — every delta derives its signatures
    * from THIS, never from caller-supplied parameters that might drift. */
  def readMeta(dir: String): Config = readManifest(dir).cfg

  /** Derived (bands, shingles) frames for one document set under `cfg`.
    * `arrs` comes back persisted (the banded signatures and the shingle
    * write both read it) but NOT registered in the session-wide pinned
    * registry — the caller unpersists exactly this frame (or tracks it for
    * caller-release, as [[dedupDelta]] does). Releasing the whole registry
    * here would silently unpersist a CALLER's in-flight pinned stages. */
  private def derive(docs: DataFrame, cfg: Config): (DataFrame, DataFrame) = {
    val arrs = Dedup.hashedShingleArrays(docs, cfg.n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignaturesArr(arrs, cfg.numHashes, cfg.seed),
      cfg.numHashes, cfg.bands)
    (banded, arrs)
  }

  /** Build the index from scratch over `docs`. Releases only the stages it
    * derived itself — safe to call with a caller's own pinned stages in
    * flight. */
  def write(docs: DataFrame, dir: String, cfg: Config = Config()): Unit = {
    val (banded, arrs) = derive(docs, cfg)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      // independent writes into disjoint dirs — overlapped (guide §2.6);
      // both branches read the persisted shingle-array stage, whose first
      // materialization serializes per block
      ParallelJobs.par(
        () => banded.withColumn("epoch", lit(0L))
          .write.mode("overwrite").partitionBy("epoch", "band").parquet(s"$dir/bands"),
        () => arrs.withColumn("epoch", lit(0L))
          .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/shingles"))
      StoreCommit.publish(dir, Manifest(cfg, epochs = Seq(0L), nextEpoch = 1L))
    } finally arrs.unpersist(blocking = false)
  }

  /** Append `docs` (already deduped against the index — the usual epilogue
    * of a [[dedupDelta]] run) to the index. Signatures are per-doc, so
    * append(old, delta) ≡ write(old ∪ delta) row-for-row. Crash-safe:
    * both tables stage in a new epoch dir, then one manifest rename
    * commits them together; recovery = re-run. Like [[write]], unpersists
    * exactly its own derived stage. */
  def append(docs: DataFrame, dir: String): Unit =
    StoreCommit.commit(dir, stageAppend(docs, dir))

  /** The staging half of [[append]] (exposed for the crash spec):
    * everything lands, nothing is visible until the returned manifest is
    * committed. */
  private[graft] def stageAppend(docs: DataFrame, dir: String): Manifest = {
    val m = readManifest(dir)
    val e = m.nextEpoch
    StoreCommit.sweep(dir, m)
    val (banded, arrs) = derive(docs, m.cfg)
    try {
      // independent writes, disjoint dirs — overlapped (guide §2.6)
      ParallelJobs.par(
        () => banded.withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch", "band").parquet(s"$dir/bands"),
        () => arrs.withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch").parquet(s"$dir/shingles"))
    } finally arrs.unpersist(blocking = false)
    m.copy(epochs = m.epochs :+ e, nextEpoch = e + 1)
  }

  /** Collapse the committed epochs into one — one file per band, shingles
    * coalesced — then commit and delete the retired epoch dirs. Content
    * is unchanged (the `dedup_index_compact` gate re-passes the delta
    * oracle over a compacted store); what changes is that a delta probe
    * opens O(1) files per pruned band instead of O(appends). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val m = readManifest(dir)
    val e = m.nextEpoch
    StoreCommit.sweep(dir, m)
    val committed = m.epochs.map(java.lang.Long.valueOf)
    // two independent rewrites into disjoint dirs — overlapped (guide §2.6)
    ParallelJobs.par(
      () => spark.read.parquet(s"$dir/bands")
        .filter(col("epoch").isin(committed: _*))
        .select(col("doc_id"), col("band"), col("bucket"))
        .repartition(m.cfg.bands, col("band")) // one writer per band → one file
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch", "band").parquet(s"$dir/bands"),
      () => spark.read.parquet(s"$dir/shingles")
        .filter(col("epoch").isin(committed: _*))
        .select(col("doc_id"), col("harr"))
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch").parquet(s"$dir/shingles"))
    StoreCommit.commit(dir, m.copy(epochs = Seq(e), nextEpoch = e + 1))
  }

  /** Remove documents' signatures from the index — the takedown
    * mechanics, signature-store edition. Signatures are strictly per-doc
    * (unlike BM25's global stats there is nothing to re-derive), so
    * removal is an exact filtered rewrite of both tables into one fresh
    * epoch — one file per band, doubling as a compaction — published by
    * the same single manifest rename. Cost is O(index), never a corpus
    * re-shingle; after it the store is indistinguishable from a
    * from-scratch build over the kept docs (`dedup_index_remove`). */
  def remove(spark: SparkSession, dir: String, removedIds: DataFrame): Unit = {
    val m = readManifest(dir)
    val e = m.nextEpoch
    StoreCommit.sweep(dir, m)
    val committed = m.epochs.map(java.lang.Long.valueOf)
    val rem = removedIds.select(col("doc_id"))
    // two independent filtered rewrites, disjoint dirs — overlapped (§2.6)
    ParallelJobs.par(
      () => spark.read.parquet(s"$dir/bands")
        .filter(col("epoch").isin(committed: _*))
        .join(rem, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("band"), col("bucket"))
        .repartition(m.cfg.bands, col("band")) // one writer per band → one file
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch", "band").parquet(s"$dir/bands"),
      () => spark.read.parquet(s"$dir/shingles")
        .filter(col("epoch").isin(committed: _*))
        .join(rem, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("harr"))
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch").parquet(s"$dir/shingles"))
    StoreCommit.commit(dir, m.copy(epochs = Seq(e), nextEpoch = e + 1))
  }

  /** The automated maintenance decision, mirroring
    * [[Similarity.maybeRequantize]]: compact when the committed epoch
    * count reaches `maxEpochs`. Returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, dir: String, maxEpochs: Int = 8): Boolean = {
    val due = readManifest(dir).epochs.size >= maxEpochs
    if (due) compact(spark, dir)
    due
  }

  /** Near-dup pairs of `newDocs` against the index AND within `newDocs`
    * itself — exactly the pairs a full-corpus [[Dedup.minhashLsh]] over
    * (indexed ∪ new) emits that involve at least one new doc. Old↔old
    * pairs are never recomputed (they were resolved when the index was
    * built), and the old corpus's TEXT is never read: bucket candidates
    * come from the stored band table, verification shingles from the
    * stored arrays, both candidate-bounded.
    *
    * Caller releases pinned stages after the consuming action
    * ([[Dedup.releasePinned]]). */
  def dedupDelta(spark: SparkSession, dir: String, newDocs: DataFrame,
                 threshold: Double = 0.5): DataFrame = {
    val manifest = readManifest(dir)
    val committed = manifest.epochs.map(java.lang.Long.valueOf)
    val (deltaBands0, deltaArrs0) = derive(newDocs, manifest.cfg)
    // derive() persisted deltaArrs without registering it; register here so
    // the caller's releasePinned() frees it with the other stages
    val deltaArrs = Pinned.track(deltaArrs0)
    val deltaBands = Dedup.pinned(deltaBands0)

    val indexBands = spark.read.parquet(s"$dir/bands")
      .filter(col("epoch").isin(committed: _*))
    // delta ↔ index candidates: equi-join on the band bucket; id1 < id2
    // normalizes pair identity (delta ids interleave with indexed ids)
    val cross = deltaBands.select(col("band"), col("bucket"), col("doc_id").as("did"))
      .join(indexBands.select(col("band"), col("bucket"), col("doc_id").as("iid")),
        Seq("band", "bucket"))
      .filter(col("did") =!= col("iid"))
      .select(least(col("did"), col("iid")).as("id1"),
        greatest(col("did"), col("iid")).as("id2"))
    // delta-internal candidates: the plain LSH self-join, delta-sized
    val l = deltaBands.select(col("band"), col("bucket"), col("doc_id").as("id1"))
    val r = deltaBands.select(col("band"), col("bucket"), col("doc_id").as("id2"))
    val within = l.join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val cands = cross.union(within).distinct()

    // verification inputs: delta shingles from the delta arrays; indexed
    // shingles read CANDIDATE-BOUNDED from the store (semi-join keeps the
    // scan, shuffle, and explode proportional to |candidates|, not |index|)
    val candIds = cands.select(col("id1").as("doc_id"))
      .union(cands.select(col("id2").as("doc_id"))).distinct()
    val indexArrs = spark.read.parquet(s"$dir/shingles")
      .filter(col("epoch").isin(committed: _*))
      .select(col("doc_id"), col("harr"))
      .join(candIds, Seq("doc_id"), "left_semi")
    val allArrs = Dedup.pinned(deltaArrs.unionByName(indexArrs))
    val sh = allArrs.select(col("doc_id"), explode(col("harr")).as("h"))
    val card = allArrs.select(col("doc_id"), size(col("harr")).cast("long").as("n_shingles"))
    Dedup.candidateJaccardHashed(sh, cands, card)
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** The gated split: every 5th doc is "new", the rest are the indexed
    * backlog — deterministic, interleaved ids, and ~25 of the planted
    * near-dup pairs straddle the boundary at sf0.01. */
  val DeltaMod = 5

  /** One built index per (JVM, source dir): the whole point of the index
    * is that the backlog is signed ONCE and every later delta reuses it, so
    * the gate memoizes the build exactly like a production run would. The
    * first [[deltaFromDir]] call pays the build (Verify's single pass and a
    * cold bench both include it); repeat calls — bench's measured pass after
    * warmup — time the DELTA PATH alone, which is the number that shows the
    * incremental index earning its keep. [[buildIndexFor]] exposes the build
    * as its own separately-benchable phase. Temp dirs are removed on JVM
    * exit (pre-round-7 every invocation leaked one under /tmp). */
  private val builtIdx = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build (memoized) the backlog index for `dir`'s documents table and
    * return its path. Thread-safe; at most one build per source dir. */
  def buildIndexFor(spark: SparkSession, dir: String): String =
    builtIdx.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_dedup_index")
      TempDirs.registerForCleanup(p)
      write(Tables.documents(spark, dir)
        .filter(col("doc_id") % DeltaMod =!= 0), p.toString)
      p.toString
    })

  /** Gated query: dedup the delta (every [[DeltaMod]]-th doc) against the
    * backlog index, building that index first if this JVM hasn't yet. The
    * oracle is the FULL-corpus LSH twin restricted to pairs touching the
    * delta — proving delta-vs-index ≡ full recompute on the union. */
  def deltaFromDir(spark: SparkSession, dir: String): DataFrame = {
    val idx = buildIndexFor(spark, dir)
    dedupDelta(spark, idx,
      Tables.documents(spark, dir).filter(col("doc_id") % DeltaMod === 0))
  }

  def deltaOracle(threshold: Double = 0.5): String =
    Dedup.minhashLshOracle(threshold = threshold,
      pairFilter = Some(s"i.id1 % $DeltaMod = 0 OR i.id2 % $DeltaMod = 0"))

  /** The residue class `dedup_index_remove` deletes from the backlog
    * index (ids ≡ 1 mod [[DeltaMod]] — all of them sit in the backlog). */
  val RemoveResidue = 1

  /** Gated query `dedup_index_remove`: deletion proven end-to-end — copy
    * the memoized backlog index, [[remove]] the RemoveResidue class,
    * then run the standard delta probe. The oracle is the full-corpus
    * LSH twin over the KEPT corpus restricted to delta-touching pairs:
    * a pair that survived only through a removed doc's signatures cannot
    * appear, and nothing else may move. */
  def removeDeltaFromDir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = ClusterStore.copyStore(buildIndexFor(spark, dir), "graft_dedup_remove")
    remove(spark, idx,
      docs.filter(col("doc_id") % DeltaMod === RemoveResidue).select(col("doc_id")))
    dedupDelta(spark, idx, docs.filter(col("doc_id") % DeltaMod === 0))
  }

  def removeDeltaOracle(threshold: Double = 0.5): String =
    Dedup.minhashLshOracle(threshold = threshold,
      pairFilter = Some(s"i.id1 % $DeltaMod = 0 OR i.id2 % $DeltaMod = 0"),
      relation = "kept_docs",
      extraCtes = "kept_docs AS (SELECT * FROM documents " +
        s"WHERE doc_id % $DeltaMod <> $RemoveResidue), ")

  /** One HALF-backlog index per (JVM, source dir): the even-id half of
    * the backlog, so the compact gate has a real append to absorb. */
  private val halfIdx = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Gated query `dedup_index_compact`: the signature store's full
    * lifecycle — build (half the backlog) + append (the other half) +
    * [[compact]] (collapse the two epochs to one file per band) + the
    * delta probe — under the SAME [[deltaOracle]] as `dedup_delta_lsh`:
    * after append+compact the store must be indistinguishable from a
    * from-scratch backlog index. The store copy is gate scaffolding
    * ([[ClusterStore.copyStore]]); a production compact mutates in
    * place. */
  def compactDeltaFromDir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val backlog = docs.filter(col("doc_id") % DeltaMod =!= 0)
    val base = halfIdx.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_dedup_half")
      TempDirs.registerForCleanup(p)
      write(backlog.filter(col("doc_id") % 2 === 0), p.toString)
      p.toString
    })
    val idx = ClusterStore.copyStore(base, "graft_dedup_compact")
    append(backlog.filter(col("doc_id") % 2 =!= 0), idx)
    compact(spark, idx)
    dedupDelta(spark, idx, docs.filter(col("doc_id") % DeltaMod === 0))
  }
}
