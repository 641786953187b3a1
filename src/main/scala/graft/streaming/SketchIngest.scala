package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the persisted KMV sketch store
  * ([[Sketches.writeStore]]'s layout): per micro-batch, sketch the batch's
  * docs (one bounded-state pass over the BATCH alone) and merge the k-long
  * arrays into the store — live per-source distinct-cardinality estimates
  * over an unbounded ingest stream, with state that never grows past
  * k longs per source.
  *
  * Two idempotency layers, deliberately different in kind:
  *   - The SIDE EFFECT (the store write) is guarded by the batchId ledger
  *     ([[graft.streaming.IndexIngest]]'s convention): a replayed batchId
  *     is skipped whole, each committed batch writes its own generation
  *     dir (`gen-b<batchId>`) and the reader serves the highest committed
  *     generation — a crash between write and marker leaves the previous
  *     generation authoritative, so the store is never half-merged.
  *   - Row RE-DELIVERY needs NO guard at all — and [[replayDocs]] plants
  *     re-deliveries to PROVE it: a KMV sketch is a set function of the
  *     inserted hashes, so merging the same doc's shingles twice is
  *     algebraically a no-op. The vector-store ingest
  *     ([[IndexIngest.dedupArrivals]]) must carry watermark dedup state to
  *     keep duplicates out; the sketch stream carries ZERO dedup state by
  *     algebra. That asymmetry is the operational point of sketch-typed
  *     stores at 100 TB: the ingest path has no watermark, no state store,
  *     no late-data policy — only the ledger around the tiny store write.
  */
object SketchIngest {

  private def ledgerDir(storeDir: String) =
    java.nio.file.Paths.get(storeDir, "commits")

  /** Highest committed generation's parquet path (the init generation is
    * `gen-init`, committed by [[init]] with marker `batch-init`). */
  def currentGenPath(storeDir: String): String = {
    val ledger = ledgerDir(storeDir)
    val latest =
      if (!java.nio.file.Files.isDirectory(ledger)) None
      else {
        val it = java.nio.file.Files.list(ledger)
        try {
          import scala.jdk.CollectionConverters._
          it.iterator().asScala.map(_.getFileName.toString)
            .collect { case s if s.startsWith("batch-") && s != "batch-init" =>
              s.stripPrefix("batch-").toLong }
            .maxOption
        } finally it.close()
      }
    latest.map(b => s"$storeDir/gen-b$b").getOrElse(s"$storeDir/gen-init")
  }

  /** Build the initial store generation from the backlog docs. */
  def init(docs: DataFrame, storeDir: String, n: Int = 3,
           k: Int = Sketches.StoreK): Unit = {
    Sketches.writeStore(docs, s"$storeDir/gen-init", n, k)
    commitInit(storeDir)
  }

  /** Seed the init generation by COPYING an already-built flat store —
    * the store is M×k longs (kilobytes), so re-invocations (bench's
    * warmup+measured passes, the scale curve's repeats) pay a copy, not
    * a re-sketch of the whole backlog corpus (the memoize-the-backlog
    * rule every stream-append gate follows). */
  def initFromStore(spark: SparkSession, flatStorePath: String,
                    storeDir: String): Unit = {
    spark.read.parquet(flatStorePath)
      .write.mode("overwrite").parquet(s"$storeDir/gen-init")
    commitInit(storeDir)
  }

  private def commitInit(storeDir: String): Unit = {
    val ledger = ledgerDir(storeDir)
    java.nio.file.Files.createDirectories(ledger)
    java.nio.file.Files.createFile(ledger.resolve("batch-init"))
  }

  /** The foreachBatch callback: skip a committed batchId (ledger marker),
    * else merge the batch's sketches into the current generation and
    * commit the next one. Marker creation is LAST — the generation only
    * becomes authoritative once fully written. */
  private[graft] def mergeBatch(spark: SparkSession, storeDir: String,
                                n: Int = 3, k: Int = Sketches.StoreK)
                               (batch: DataFrame, batchId: Long): Unit = {
    val marker = ledgerDir(storeDir).resolve(s"batch-$batchId")
    if (java.nio.file.Files.exists(marker))
      System.err.println(s"[sketch-ingest] batch $batchId already committed — skipping replay")
    else {
      val prevGen = currentGenPath(storeDir)
      val cur = spark.read.parquet(prevGen)
      Sketches.mergedSketches(cur, Sketches.sketchPerSource(batch, n, k), k)
        .write.mode("overwrite").parquet(s"$storeDir/gen-b$batchId")
      java.nio.file.Files.createFile(marker)
      // superseded generations are pruned, or a long-lived store
      // accumulates one full copy per committed batch (r17 ADVICE) — but
      // with a [[GenerationsKept]]-deep GRACE WINDOW: a concurrent reader
      // that resolved its generation path keeps its files for
      // GenerationsKept-1 further commits before the prune reaches them
      // (r18 ADVICE: the old one-generation grace bounded a reader's scan
      // to a single micro-batch interval). The ledger keeps path
      // RESOLUTION correct at any time; the window only covers scans
      // already in flight against a resolved path.
      pruneOldGenerations(storeDir)
    }
  }

  /** How many newest committed generations survive a prune — the newly
    * written one plus a GenerationsKept-1-commit grace for in-flight
    * readers. Deeper = more disk (one full store copy per generation);
    * shallower = a long scan can lose files mid-read. */
  private[graft] val GenerationsKept = 3

  /** Quarantined foreign-dir paths already warned about (once per JVM). */
  private val warnedForeign =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete every committed generation dir except the newest
    * [[GenerationsKept]]. Best-effort. */
  private def pruneOldGenerations(storeDir: String): Unit = {
    def ord(name: String): Option[Long] =
      if (name == "gen-init") Some(-1L)
      else name.stripPrefix("gen-b").toLongOption
    val root = java.nio.file.Paths.get(storeDir)
    val gens =
      try {
        val s = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n == "gen-init" || n.startsWith("gen-b")).toList
        } finally s.close()
      } catch { case scala.util.control.NonFatal(_) => Nil }
    // an UNPARSABLE gen-b* name is QUARANTINED: excluded from both the
    // keep-count and the delete set. r19 ADVICE flagged that MaxValue
    // ordering made a corrupt/foreign dir the "newest" generation forever
    // (never pruned, permanently eating a reader-grace slot); but the
    // self-review of the sort-oldest fix flagged the opposite hazard —
    // recursively DELETING a directory the store does not own (an
    // operator's gen-backup, a future format's gen-b12-v2). The store
    // only prunes what it provably wrote.
    val (owned, foreign) = gens.partition(n => ord(n).isDefined)
    // warn ONCE per dir per JVM: a quarantined dir is permanent, and the
    // prune runs on every committed batch — an unconditional warning
    // would repeat for the lifetime of a long-lived ingest
    foreign.foreach(n => if (warnedForeign.add(s"$storeDir/$n"))
      System.err.println(
        s"[sketch-ingest] unparsable generation dir '$n' — quarantined " +
          "(not counted against the grace window, never pruned)"))
    owned.sortBy(n => ord(n).get).dropRight(GenerationsKept).foreach(g =>
      graft.sources.StoreCommit.deleteRecursively(root.resolve(g)))
  }

  /** Production wiring: watch `watchDir` for document parquet, maintain
    * the store per micro-batch. No watermark and no dedup state — see the
    * object scaladoc for why re-delivery is algebraically absorbed. */
  def start(spark: SparkSession, watchDir: String, storeDir: String,
            n: Int = 3, k: Int = Sketches.StoreK): StreamingQuery =
    spark.readStream
      .schema("doc_id LONG, text STRING, source STRING")
      .parquet(watchDir)
      .writeStream
      .option("checkpointLocation", s"$storeDir/checkpoint")
      .foreachBatch(mergeBatch(spark, storeDir, n, k) _)
      .start()

  /** Gated replay `sketch_stream_append`: fresh store from the backlog
    * (doc_id % [[Sketches.DeltaMod]] != 0), the delta streamed through a
    * MemoryStream in `nBatches` micro-batches with every 2nd delta doc
    * RE-DELIVERED verbatim into the following batch (the
    * [[IndexIngest.replayVectors]] plant convention, plus one trailing
    * batch so the last batch's plants are exercised). The final store's
    * estimates must equal the FULL-corpus recompute
    * ([[Sketches.appendOracle]]) — which a surviving duplicate could not
    * break (algebra), but a dropped batch, a half-merged generation, or a
    * mis-ordered reader WOULD. */
  def replayDocs(spark: SparkSession, dir: String, nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    // registered with the shared single-hook queue (r17 ADVICE: this used
    // to park a fresh shutdown-hook thread per invocation, × every
    // warmup/measured/scale pass)
    val storeRoot = graft.operators.TempDirs.registerForCleanup(
      java.nio.file.Files.createTempDirectory("graft_sketch_stream"))
    val storeDir = storeRoot.toString
    // the backlog sketch is memoized per (JVM, dir) — Sketches.buildStoreFor
    // sketches the SAME backlog residue the batch-append gate uses — and
    // each replay invocation copies the kilobyte store instead of
    // re-sketching 80% of the corpus
    initFromStore(spark, Sketches.buildStoreFor(spark, dir), storeDir)
    val delta: Array[(Long, String, String)] = docs
      .filter(col("doc_id") % Sketches.DeltaMod === 0)
      .orderBy(col("doc_id"))
      .as[(Long, String, String)].collect()
    require(delta.nonEmpty, s"no delta documents under $dir")
    val batches = Replay.evenBatches(delta, nBatches)
    val plants = batches.map(_.zipWithIndex.collect { case (row, i) if i % 2 == 0 => row })
    val timed = batches.zipWithIndex.map { case (b, i) =>
      b ++ (if (i == 0) Nil else plants(i - 1))
    } :+ plants.last

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    var q: StreamingQuery = null
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      q = mem.toDF().toDF("doc_id", "text", "source")
        .writeStream
        .foreachBatch(mergeBatch(spark, storeDir) _)
        .start()
      timed.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally {
      if (q != null) q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    Sketches.storeEstimates(spark.read.parquet(currentGenPath(storeDir)))
  }
}
