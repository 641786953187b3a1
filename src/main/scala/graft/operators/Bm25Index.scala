package graft.operators

import graft.sources.{StoreCommit, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the retrieval member of the pay-once
  * family ([[DedupIndex]] signatures, [[ClusterStore]] pair graph,
  * [[Similarity.writeIvfIndex]] cells): the tokenize + tf shuffle — the
  * corpus-scale stage of every BM25 query — is written ONCE as a
  * bucket-partitioned postings table, and each probe reads only the query
  * terms' buckets via partition pruning. At 100 TB a probe lists and
  * reads |query buckets| / |buckets| of the postings, never the corpus.
  *
  * Layout (self-contained — a later process probes or appends without
  * the writer's in-memory state):
  *   dir/postings/epoch=<e>/bucket=<b>/  (doc_id, term, tf),
  *                                       b = pmod(xxhash64(term), B)
  *   dir/norms/epoch=<e>/                (doc_id, dl) per-doc lengths
  *                                       (Lucene's doc-norms analogue)
  *   dir/dict_v<g>/                      (term, df) — the vocabulary-sized
  *                                       term dictionary, generation-versioned
  *   dir/_manifest.properties            n docs, token mass, layout params,
  *                                       the committed epoch list, the live
  *                                       dict generation
  *
  * A term's postings live ENTIRELY in its hash bucket, so per-term df/tf
  * read from pruned buckets are exact — probe ≡ the in-memory
  * [[Bm25.topDocs]] (the scoring tail is the same private method) ≡ the
  * DuckDB oracle. Append is O(delta + vocabulary): a batch's postings and
  * norms land in a NEW epoch directory (old files never read or
  * rewritten), the dict merges delta dfs into the next generation
  * directory, and one [[graft.sources.StoreCommit]] manifest rename
  * publishes all four tables at once — no reader ever pairs landed
  * postings with a stale dict.
  *
  * [[compact]] bounds the file-count growth of calendar time: N daily
  * appends = N epoch dirs per probed bucket, so probes open O(N) files.
  * Compaction rewrites the committed epochs into ONE new epoch (one file
  * per bucket), commits the collapsed epoch list through the same
  * manifest rename, then deletes the retired epoch dirs — probe cost
  * returns to O(1) files per bucket regardless of append history.
  */
object Bm25Index {

  private def bucketOf(term: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(term), lit(numBuckets.toLong))

  // --------------------------------------------------------- manifest

  /** The index's commit point. `epochs` = committed postings/norms epoch
    * dirs; `nextEpoch` = where the next append/compact stages; `dictGen`
    * = the live dict_v<g>. */
  private[graft] case class Manifest(n: Long, mass: Long, numBuckets: Int,
                                         epochs: Seq[Long], nextEpoch: Long,
                                         dictGen: Long) extends StoreCommit.Manifest {
    def dictDir(dir: String): String = s"$dir/dict_v$dictGen"
    def layout: StoreCommit.Layout = Layout
    def fields: Seq[(String, Any)] = Seq("n" -> n, "mass" -> mass,
      "numBuckets" -> numBuckets, "epochs" -> epochs, "nextEpoch" -> nextEpoch,
      "dictGen" -> dictGen)
    override def generation: Option[Long] = Some(dictGen)
  }

  private val Layout = StoreCommit.Layout("graft bm25 index manifest",
    epochTables = Seq("postings", "norms"), genPrefixes = Seq("dict_v"))

  private[graft] def readManifest(dir: String): Manifest = StoreCommit.read(dir) { p =>
    Manifest(p("n").toLong, p("mass").toLong, p("numBuckets").toInt,
      p.epochs("epochs"), p("nextEpoch").toLong, p("dictGen").toLong)
  }

  // ------------------------------------------------------------ build

  /** Write the index for `docs` under `dir`: epoch 0 + dict_v0 staged,
    * then one manifest commit. */
  def write(docs: DataFrame, dir: String, numBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    val m = Pinned.marker(spark)
    val tf = Bm25.tfStage(docs)
    try {
      // three independent writes into disjoint dirs — overlapped (guide
      // §2.6); all branches read the pinned tf stage, whose first
      // materialization serializes per block
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      ParallelJobs.par(
        () => tf.withColumn("epoch", lit(0L))
          .withColumn("bucket", bucketOf(col("term"), numBuckets))
          .write.mode("overwrite").partitionBy("epoch", "bucket")
          .parquet(s"$dir/postings"),
        () => dl.withColumn("epoch", lit(0L))
          .write.mode("overwrite").partitionBy("epoch").parquet(s"$dir/norms"),
        () => tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$dir/dict_v0"))
      // n/mass from the in-memory dl frame (as the append path does) — an
      // unfiltered read of $dir/norms would also count epoch dirs a prior
      // store left behind under dynamic partition overwrite, inflating the
      // committed stats that every probe's idf/avgdl derive from
      val r = dl.agg(count(lit(1)), sum(col("dl"))).first()
      StoreCommit.publish(dir, Manifest(r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L), numBuckets,
        epochs = Seq(0L), nextEpoch = 1L, dictGen = 0L))
    } finally Pinned.releaseSince(spark, m, Seq.empty)
  }

  // ----------------------------------------------------------- append

  /** Append a batch: all four tables stage invisibly (new epoch dir,
    * next dict generation), then one manifest commit publishes them. */
  def append(docs: DataFrame, dir: String): Unit =
    StoreCommit.commit(dir, stageAppend(docs, dir))

  /** The staging half of [[append]], exposed for the crash-injection
    * spec: everything lands on disk, nothing is visible until the caller
    * commits the returned manifest. */
  private[graft] def stageAppend(docs: DataFrame, dir: String): Manifest = {
    val spark = docs.sparkSession
    val meta = readManifest(dir)
    val e = meta.nextEpoch
    val g = meta.dictGen + 1
    StoreCommit.sweep(dir, meta)
    val m = Pinned.marker(spark)
    val tf = Bm25.tfStage(docs)
    try {
      // three independent staging writes, disjoint dirs — overlapped
      // (guide §2.6); the dict merge is the only vocabulary-sized step:
      // it lands DISTRIBUTED in the next generation dir (the vocabulary
      // never visits the driver) and becomes live only at manifest commit
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      ParallelJobs.par(
        () => tf.withColumn("epoch", lit(e))
          .withColumn("bucket", bucketOf(col("term"), meta.numBuckets))
          .write.mode("append").partitionBy("epoch", "bucket")
          .parquet(s"$dir/postings"),
        () => dl.withColumn("epoch", lit(e))
          .write.mode("append").partitionBy("epoch").parquet(s"$dir/norms"),
        () => spark.read.parquet(meta.dictDir(dir))
          .unionByName(tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
          .write.mode("overwrite").parquet(s"$dir/dict_v$g"))
      val r = dl.agg(count(lit(1)), sum(col("dl"))).first()
      val (dn, dmass) =
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      meta.copy(n = meta.n + dn, mass = meta.mass + dmass,
        epochs = meta.epochs :+ e, nextEpoch = e + 1, dictGen = g)
    } finally Pinned.releaseSince(spark, m, Seq.empty)
  }

  // ---------------------------------------------------------- compact

  /** Collapse the committed epochs into one: rewrites postings as ONE
    * file per bucket (and norms per-epoch file sets into one epoch),
    * commits the single-epoch manifest atomically, then deletes the
    * retired epoch dirs. Logical content is unchanged — the probe gate
    * re-passes its oracle over a compacted index — but a probe now opens
    * O(1) files per pruned bucket instead of O(appends). At real scale
    * the one-file-per-bucket target is the numBuckets sizing rule:
    * buckets are chosen so a bucket ≈ one healthy parquet file; a
    * size-tiered variant would split per-bucket output by target bytes
    * instead of count — the manifest mechanics are unchanged. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val meta = readManifest(dir)
    val e = meta.nextEpoch
    StoreCommit.sweep(dir, meta)
    val committed = meta.epochs.map(java.lang.Long.valueOf)
    // two independent rewrites into disjoint dirs — overlapped (guide §2.6)
    ParallelJobs.par(
      () => spark.read.parquet(s"$dir/postings")
        .filter(col("epoch").isin(committed: _*))
        .select(col("doc_id"), col("term"), col("tf"), col("bucket"))
        .repartition(meta.numBuckets, col("bucket")) // one writer per bucket → one file
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch", "bucket")
        .parquet(s"$dir/postings"),
      () => spark.read.parquet(s"$dir/norms")
        .filter(col("epoch").isin(committed: _*))
        .select(col("doc_id"), col("dl"))
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch").parquet(s"$dir/norms"))
    StoreCommit.commit(dir, meta.copy(epochs = Seq(e), nextEpoch = e + 1))
  }

  // ----------------------------------------------------------- remove

  /** Remove documents from the index — the takedown half of the
    * dataset-version loop ([[ClusterStore.remove]]'s discipline, BM25
    * edition). BM25 scores ride GLOBAL statistics, so deletion must do
    * more than drop postings: per-term df decrements by the removed
    * postings' counts (terms hitting 0 leave the dict), and n/mass
    * re-derive exactly from the kept norms. Postings and norms rewrite
    * FILTERED into one fresh epoch (bucket layout preserved, one file
    * per bucket — the rewrite doubles as a compaction); the next dict
    * generation stages beside the live one; ONE manifest rename
    * publishes all four tables plus the corrected stats. Cost is one
    * index rewrite — the [[compact]] cost class, O(index), never a
    * corpus re-tokenize — so takedowns batch on the compaction cadence.
    * After it the index is indistinguishable from a from-scratch build
    * over the kept docs, which is what the `bm25_index_remove` gate
    * checks (same oracle, corpus filtered). */
  def remove(spark: SparkSession, dir: String, removedIds: DataFrame): Unit = {
    val meta = readManifest(dir)
    val e = meta.nextEpoch
    val g = meta.dictGen + 1
    StoreCommit.sweep(dir, meta)
    val committed = meta.epochs.map(java.lang.Long.valueOf)
    val rem = removedIds.select(col("doc_id"))
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("epoch").isin(committed: _*))
    // three independent staging writes, disjoint dirs — overlapped (§2.6);
    // the dict's df decrements come from the REMOVED postings slice — no
    // re-tokenize; a row of (doc, term) postings is exactly one df unit
    val removedDf = postings.join(rem, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("rdf"))
    ParallelJobs.par(
      () => postings.join(rem, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("term"), col("tf"), col("bucket"))
        .repartition(meta.numBuckets, col("bucket")) // one writer per bucket → one file
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch", "bucket").parquet(s"$dir/postings"),
      () => spark.read.parquet(s"$dir/norms")
        .filter(col("epoch").isin(committed: _*))
        .join(rem, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("dl"))
        .withColumn("epoch", lit(e))
        .write.mode("append").partitionBy("epoch").parquet(s"$dir/norms"),
      () => spark.read.parquet(meta.dictDir(dir))
        .join(removedDf, Seq("term"), "left")
        .select(col("term"), (col("df") - coalesce(col("rdf"), lit(0L))).as("df"))
        .filter(col("df") > 0)
        .write.mode("overwrite").parquet(s"$dir/dict_v$g"))
    // n/mass re-derived exactly from the staged kept norms (narrow scan)
    val r = spark.read.parquet(s"$dir/norms").filter(col("epoch") === e)
      .agg(count(lit(1)), sum(col("dl"))).first()
    StoreCommit.commit(dir, meta.copy(n = r.getLong(0),
      mass = Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
      epochs = Seq(e), nextEpoch = e + 1, dictGen = g))
  }

  /** The automated maintenance decision, mirroring
    * [[Similarity.maybeRequantize]]: compact when the committed epoch
    * count reaches `maxEpochs` — the point where probe file-open cost
    * (O(epochs) per pruned bucket) has grown enough to repay one
    * postings rewrite. Returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, dir: String, maxEpochs: Int = 8): Boolean = {
    val due = readManifest(dir).epochs.size >= maxEpochs
    if (due) compact(spark, dir)
    due
  }

  // ------------------------------------------------------------ probe

  /** Top-k docs for `queryTerms` from the persisted index: postings read
    * via partition pruning on (committed epochs) × (the query terms'
    * buckets) — only those directories are listed — df from the live
    * dict generation (vocabulary-sized, filtered to the query terms),
    * norms joined for candidate docs, then the SAME scoring tail as the
    * in-memory path. */
  def probe(spark: SparkSession, dir: String, queryTerms: Seq[String],
            k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val meta = readManifest(dir)
    val committed = meta.epochs.map(java.lang.Long.valueOf)
    val buckets = queryTerms
      .map(t => Math.floorMod(xxhash64Of(t), meta.numBuckets.toLong)).distinct
    val slice = spark.read.parquet(s"$dir/postings")
      .filter(col("epoch").isin(committed: _*))
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    val qt = spark.read.parquet(meta.dictDir(dir))
      .filter(col("term").isin(queryTerms: _*))
    val dl = spark.read.parquet(s"$dir/norms")
      .filter(col("epoch").isin(committed: _*))
      .select(col("doc_id"), col("dl"))
    val consts = spark.range(1)
      .select(lit(meta.n).as("n"), lit(meta.mass).as("mass"))
    Bm25.scoreTail(slice, dl, qt, consts, k, k1, b)
  }

  /** The corpus's `numQueryTerms` highest-df terms from the live dict (df
    * desc, term asc — [[Bm25.fromDir]]'s selection rule over the SAME
    * statistic, so index and in-memory gates pick identical queries). */
  def topTerms(spark: SparkSession, dir: String, numQueryTerms: Int): Seq[String] =
    spark.read.parquet(readManifest(dir).dictDir(dir))
      .orderBy(col("df").desc, col("term").asc)
      .limit(numQueryTerms).collect().map(_.getString(0)).toSeq

  /** Driver-side twin of Spark's `xxhash64` over one UTF-8 string with
    * the default seed 42 — used only to enumerate the query's buckets
    * (O(|query|) values). Defers to Catalyst's own implementation so the
    * bucket routing can never drift from the written layout. */
  private def xxhash64Of(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBytes("UTF-8"),
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      s.getBytes("UTF-8").length, 42L)

  // ------------------------------------------------------------- gates

  /** One persisted index per (JVM, source dir) — the memoize-the-build
    * economics every indexed gate uses: build once, warm passes time the
    * PROBE path alone. */
  private val indexStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def buildIndex(docs: DataFrame, prefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    TempDirs.registerForCleanup(tmp)
    val idx = tmp.resolve("index").toString
    write(docs, idx)
    idx
  }

  /** Gated query `bm25_indexed`: probe the PERSISTED index with the
    * dict-derived top-df query — the SAME oracle as `bm25_topk`, proving
    * save → reload → probe ≡ in-memory ≡ DuckDB. */
  def probeIndexedFromDir(spark: SparkSession, dir: String,
                          numQueryTerms: Int = 3, k: Int = 20): DataFrame = {
    val idx = indexStores.computeIfAbsent(dir, _ =>
      buildIndex(Tables.documents(spark, dir), "graft_bm25_index"))
    probe(spark, idx, topTerms(spark, idx, numQueryTerms), k)
  }

  /** One BACKLOG index per (JVM, source dir): every doc except the
    * [[DedupIndex.DeltaMod]] residue class — the split every incremental
    * gate uses, so the paths are directly comparable. */
  private val backlogStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def backlogFor(spark: SparkSession, dir: String): String =
    backlogStores.computeIfAbsent(dir, _ =>
      buildIndex(Tables.documents(spark, dir)
        .filter(col("doc_id") % DedupIndex.DeltaMod =!= 0), "graft_bm25_backlog"))

  /** Gated query `bm25_index_append`: append the delta to a copy of the
    * memoized backlog index, then probe — scores depend on GLOBAL df/N/
    * mass, so append + probe must equal the full-corpus oracle (the SAME
    * `Bm25.oracle`), proving the merged dict and advanced meta are exact,
    * not just the landed postings. The store copy is gate scaffolding
    * (timed by [[ClusterStore.copyStore]]); a production append mutates
    * in place. */
  def appendProbeFromDir(spark: SparkSession, dir: String,
                         numQueryTerms: Int = 3, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = ClusterStore.copyStore(backlogFor(spark, dir), "graft_bm25_append")
    append(docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0), idx)
    probe(spark, idx, topTerms(spark, idx, numQueryTerms), k)
  }

  /** Gated query `bm25_index_remove`: deletion proven end-to-end — copy
    * the memoized FULL-corpus index, [[remove]] the DeltaMod residue
    * class, probe. The oracle is [[Bm25.oracle]] over the KEPT corpus:
    * dropped postings, decremented dfs, corrected n/mass, and the new
    * dict's top-term selection must all be indistinguishable from a
    * from-scratch build over the remaining docs. */
  def removeProbeFromDir(spark: SparkSession, dir: String,
                         numQueryTerms: Int = 3, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val full = indexStores.computeIfAbsent(dir, _ =>
      buildIndex(docs, "graft_bm25_index"))
    val idx = ClusterStore.copyStore(full, "graft_bm25_remove")
    remove(spark, idx,
      docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0).select(col("doc_id")))
    probe(spark, idx, topTerms(spark, idx, numQueryTerms), k)
  }

  /** DuckDB twin of [[removeProbeFromDir]]: the standard BM25 oracle with
    * the corpus filtered to the kept docs. */
  def removeOracle(numQueryTerms: Int = 3, k: Int = 20): String =
    Bm25.oracle(numQueryTerms, k, relation = "kept_docs",
      extraCtes = "kept_docs AS (SELECT * FROM documents " +
        s"WHERE doc_id % ${DedupIndex.DeltaMod} <> 0), ")

  /** Gated query `bm25_index_compact`: the FULL lifecycle — build +
    * append + [[compact]] + probe — under the SAME `Bm25.oracle` as every
    * other bm25 gate: compaction must preserve the index's logical
    * content exactly while collapsing its epoch history (the file-count
    * claim is asserted by the lifecycle spec; the gate pins the
    * content). */
  def compactProbeFromDir(spark: SparkSession, dir: String,
                          numQueryTerms: Int = 3, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val idx = ClusterStore.copyStore(backlogFor(spark, dir), "graft_bm25_compact")
    append(docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0), idx)
    compact(spark, idx)
    probe(spark, idx, topTerms(spark, idx, numQueryTerms), k)
  }
}
