package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S3 — the inventory-snapshot store (replaces the reference's Cassandra
  * table `procurement.inventory_snapshots`, init-scripts/cassandra/init.cql:7-17,
  * loaded row-by-row at dags/pipeline.py:275-289).
  *
  * Cassandra INSERT is an upsert: repeated writes of the same primary key
  * ((sku_code), snapshot_date, warehouse_code) last-write-win. Reproduced
  * Spark-natively as: append-only parquet batches carrying a monotonically
  * increasing `batch_seq`, and a read path that keeps, per key, only the row
  * from the highest batch (ROW_NUMBER over the key ordered by batch_seq
  * DESC — SURVEY §2.4(5)).
  *
  * Layout:
  *   dir/data/epoch=<e>/snapshot_date=<d>/   one epoch per append batch
  *   dir/_manifest.properties                the committed epoch list
  *   dir/_graft_batch_seq                    seq sidecar (control plane
  *                                           for the LWW order domain;
  *                                           see below — NOT a commit
  *                                           point, any failure degrades
  *                                           to a data scan)
  *
  * Every mutation commits through [[StoreCommit]]: a batch lands
  * invisibly in a new epoch dir and one manifest rename publishes it.
  *
  * Scale design: epochs are the outer partition level, `snapshot_date`
  * the inner one, so the reference's `WHERE snapshot_date = DATE '...'`
  * scan (S7) still prunes to the matching date directories — the 100 TB
  * history is never touched for a single-day read. The dedup window
  * partitions by the full key, so it parallelizes across keys; there is
  * no global window. [[compact]] collapses the committed epochs into one
  * pre-deduped epoch (surviving rows keep their original batch_seq, so
  * later appends still LWW correctly), bounding both the file count and
  * the dedup window's input for hot keys; [[maybeCompact]] is the
  * policy gate a maintenance sweep calls.
  */
object SnapshotStore {

  val keyCols: Seq[String] = Seq("sku_code", "snapshot_date", "warehouse_code")

  private def dataDir(storeDir: String): String = s"$storeDir/data"

  // --------------------------------------------------------- manifest

  /** The store's commit point: the committed epoch list. */
  private[graft] case class Manifest(epochs: Seq[Long], nextEpoch: Long)
      extends StoreCommit.Manifest {
    def layout: StoreCommit.Layout = Layout
    def fields: Seq[(String, Any)] = Seq("epochs" -> epochs, "nextEpoch" -> nextEpoch)
  }

  private val Layout =
    StoreCommit.Layout("graft snapshot store manifest", epochTables = Seq("data"))

  private[graft] def readManifest(dir: String): Manifest =
    StoreCommit.read(dir)(p => Manifest(p.epochs("epochs"), p("nextEpoch").toLong))

  /** The manifest, or the empty-store state when none exists yet (first
    * append against a fresh directory). */
  private def manifestOrEmpty(dir: String): Manifest =
    if (StoreCommit.exists(dir)) readManifest(dir)
    else Manifest(Seq.empty, 0L)

  // ----------------------------------------------------- sequence sidecar

  /** Sidecar file holding the store's current max batch sequence — a
    * driver-side control-plane read of a few bytes per append, instead of
    * an O(store-size) scan of every parquet footer (and, without aggregate
    * pushdown, every row of the batch_seq column) per micro-batch. NOT a
    * commit point: data visibility is the manifest's job, and any sidecar
    * failure degrades to the data scan. */
  private val SeqFileName = "_graft_batch_seq"

  private def hadoopFs(spark: SparkSession, storeDir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storeDir), spark.sparkContext.hadoopConfiguration)

  /** Read the sidecar; ANY failure (missing, truncated, garbled — e.g. a
    * non-atomic rename on an object store) degrades to None, which sends
    * the caller down the parquet-scan fallback instead of blocking every
    * subsequent append on an unreadable control file. */
  private def readSeqSidecar(fs: org.apache.hadoop.fs.FileSystem,
                             storeDir: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(storeDir, SeqFileName)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val line = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8")).readLine()
          Option(line).map(_.trim.toLong)
        } finally in.close()
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[snapshotstore] unreadable sequence sidecar, " +
          s"falling back to store scan: $e")
        None
    }

  /** Record `seq` as the store's max (temp-write + rename; the brief
    * missing-file window during the swap falls back to the parquet scan). */
  private def writeSeqSidecar(fs: org.apache.hadoop.fs.FileSystem,
                              storeDir: String, seq: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(storeDir, s".$SeqFileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$seq\n".getBytes("UTF-8")) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(storeDir, SeqFileName)
    fs.delete(dest, false) // rename does not overwrite on all filesystems
    if (!fs.rename(tmp, dest))
      // non-fatal: a missing/garbled sidecar degrades to the store scan
      System.err.println("[snapshotstore] sequence sidecar rename failed; " +
        "next append will fall back to the store scan")
  }

  /** The store's max batch_seq from the data itself (batch_seq-only scan
    * over the COMMITTED epochs — an uncommitted crashed epoch must not
    * leak its reserved sequence back into the domain); 0 for an
    * empty/absent store. The seed/fallback path when no readable sidecar
    * exists. */
  private def storeMaxSeq(spark: SparkSession, storeDir: String): Long = {
    val committed = manifestOrEmpty(storeDir).epochs
    if (committed.isEmpty) 0L
    else {
      val r = spark.read.parquet(dataDir(storeDir))
        .filter(col("epoch").isin(committed.map(java.lang.Long.valueOf): _*))
        .agg(max(col("batch_seq"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
  }

  /** The store's current max sequence: sidecar if readable, else scan.
    * Derived from the STORE rather than the clock — two appends in the
    * same millisecond (or a clock step-back) must neither tie nor invert
    * last-write-wins order. Shared by the batch and streaming ingest
    * paths so the two stay one comparable sequence domain. Single writer
    * per store assumed (as in the reference's sequential DAG); concurrent
    * writers need an external sequencer, same as Cassandra's timestamp
    * ties. */
  private def currentSeq(spark: SparkSession, storeDir: String): Long = {
    val fs = hadoopFs(spark, storeDir)
    readSeqSidecar(fs, storeDir).getOrElse(storeMaxSeq(spark, storeDir))
  }

  def nextBatchSeq(spark: SparkSession, storeDir: String): Long =
    currentSeq(spark, storeDir) + 1L

  // ------------------------------------------------------------ append

  /** Append one load batch with the next store-derived sequence. The
    * current sequence is derived ONCE and threaded through — not
    * re-derived inside the append, which on a sidecar-less store would
    * double the fallback scans on every (micro-)batch. */
  def appendNext(snapshots: DataFrame, storeDir: String): Long = {
    val current = currentSeq(snapshots.sparkSession, storeDir)
    doAppend(snapshots, storeDir, current + 1L, current)
    current + 1L
  }

  /** Append one load batch. `batchSeq` orders re-loads: later batches win.
    *
    * The sequence sidecar is advanced BEFORE the data write (reserve,
    * then write): a crash between the two leaves a harmless gap in the
    * sequence, never a duplicate — a duplicate would tie the
    * last-write-wins row_number and let stale data win. When no readable
    * sidecar exists, the reservation seeds from the store's actual max
    * (never blindly from `batchSeq`), so a pre-sidecar store cannot be
    * re-seeded below data it already holds. Explicit `batchSeq` values at
    * or below the store's current max are the caller's own replay
    * semantics and leave the sidecar untouched. */
  def append(snapshots: DataFrame, storeDir: String, batchSeq: Long): Unit =
    doAppend(snapshots, storeDir, batchSeq,
      currentSeq(snapshots.sparkSession, storeDir))

  private def doAppend(snapshots: DataFrame, storeDir: String, batchSeq: Long,
                       current: Long): Unit = {
    StoreCommit.commit(storeDir, stageAppend(snapshots, storeDir, batchSeq, current))
  }

  /** The staging half of an append, exposed for the crash-injection spec:
    * the batch lands on disk in the frozen next-epoch dir, invisible to
    * every reader until the returned manifest is committed. Recovery from
    * a crash in between is re-running the append — staging sweeps the
    * uncommitted residue first. */
  private[graft] def stageAppend(snapshots: DataFrame, storeDir: String,
                                 batchSeq: Long, current: Long): Manifest = {
    val fs = hadoopFs(snapshots.sparkSession, storeDir)
    val m = manifestOrEmpty(storeDir)
    val e = m.nextEpoch
    StoreCommit.sweep(storeDir, m)
    if (current < batchSeq) writeSeqSidecar(fs, storeDir, batchSeq)
    snapshots
      .withColumn("batch_seq", lit(batchSeq))
      .withColumn("epoch", lit(e))
      .write.mode("append").partitionBy("epoch", "snapshot_date")
      .parquet(dataDir(storeDir))
    m.copy(epochs = m.epochs :+ e, nextEpoch = e + 1)
  }

  // -------------------------------------------------------------- read

  /** The committed rows, pre-dedup (batch_seq and epoch still attached). */
  private def committedRaw(spark: SparkSession, storeDir: String): DataFrame = {
    val committed = readManifest(storeDir).epochs.map(java.lang.Long.valueOf)
    spark.read.parquet(dataDir(storeDir))
      .filter(col("epoch").isin(committed: _*))
  }

  private def latestPerKey(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("batch_seq").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Read with upsert semantics: per key, latest committed batch wins. */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    latestPerKey(committedRaw(spark, storeDir)).drop("batch_seq", "epoch")

  /** Date-pruned read — the `snapshot_date = DATE '...'` scan. The filter
    * lands on the partition column, so only the matching date directories
    * are listed/read (under each committed epoch). */
  def readDay(spark: SparkSession, storeDir: String, day: String): DataFrame =
    read(spark, storeDir).filter(col("snapshot_date") === lit(day))

  // --------------------------------------------------------- streaming

  /** Streaming ingest: watch a directory of snapshot JSON files and append
    * each micro-batch to the store with the batch id as the upsert
    * sequence — later micro-batches win, which is exactly the Cassandra
    * last-write-wins contract under continuous arrival. */
  def streamAppend(spark: SparkSession, watchDir: String,
                   storeDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "sku_code STRING, snapshot_date STRING, warehouse_code STRING, " +
        "available_qty INT, reserved_qty INT")
    spark.readStream.schema(schema)
      .option("multiLine", "true").json(watchDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // store-derived sequence, NOT the streaming batchId (resets to 0 on
        // checkpoint recreation) and NOT wall-clock (same-millisecond ties
        // invert LWW): the shared nextBatchSeq keeps batch and streaming
        // appends in one strictly increasing domain
        appendNext(batch, storeDir); ()
      }
      .option("checkpointLocation", s"$storeDir/.stream_checkpoint")
      .start()
  }

  // ---------------------------------------------------------- compact

  /** Collapse the committed epochs into ONE pre-deduped epoch: per key
    * only the winning row survives (keeping its ORIGINAL batch_seq, so a
    * later append with a higher sequence still wins LWW), one writer per
    * date → one file per date dir. Stages at the frozen nextEpoch
    * (invisible; a crashed compact is swept on the next run), publishes
    * through the same one-rename manifest commit, then deletes the
    * retired epoch dirs. Logical content is unchanged — reads return the
    * identical LWW result — but the dedup window's input and the
    * file-listing cost stop growing with append history. */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val m = readManifest(storeDir)
    val e = m.nextEpoch
    StoreCommit.sweep(storeDir, m)
    latestPerKey(committedRaw(spark, storeDir))
      .drop("epoch")
      .repartition(col("snapshot_date")) // one writer per date → one file
      .withColumn("epoch", lit(e))
      .write.mode("append").partitionBy("epoch", "snapshot_date")
      .parquet(dataDir(storeDir))
    StoreCommit.commit(storeDir, m.copy(epochs = Seq(e), nextEpoch = e + 1))
  }

  // ----------------------------------------------------------- remove

  /** Remove keys from the store — the retention/takedown mechanics,
    * completing store deletion across all five stores (round 13).
    * `keys`' columns must be a non-empty subset of [[keyCols]]; every
    * committed row matching on those columns is dropped, so a
    * one-column `sku_code` frame takes a SKU out of the entire history
    * while a full composite-key frame surgically removes one snapshot
    * row. Implementation is the [[compact]] shape with one anti-join:
    * the LWW winners minus the removed keys rewrite into one fresh
    * epoch (the deletion doubles as a compaction; survivors keep their
    * ORIGINAL batch_seq, so the LWW order domain is intact and a later
    * re-append of a removed key simply wins again), published by the
    * same one-rename manifest commit, retired epochs swept. */
  def remove(spark: SparkSession, storeDir: String, keys: DataFrame): Unit = {
    val kc = keys.columns.toSeq
    require(kc.nonEmpty && kc.forall(keyCols.contains),
      s"keys columns [${kc.mkString(",")}] must be a non-empty subset of " +
        s"[${keyCols.mkString(",")}]")
    val m = readManifest(storeDir)
    val e = m.nextEpoch
    StoreCommit.sweep(storeDir, m)
    latestPerKey(committedRaw(spark, storeDir))
      .join(keys.distinct(), kc, "left_anti")
      .drop("epoch")
      .repartition(col("snapshot_date"))
      .withColumn("epoch", lit(e))
      .write.mode("append").partitionBy("epoch", "snapshot_date")
      .parquet(dataDir(storeDir))
    StoreCommit.commit(storeDir, m.copy(epochs = Seq(e), nextEpoch = e + 1))
  }

  /** The automated maintenance decision, mirroring the other stores':
    * compact when the committed epoch count reaches `maxEpochs`. Returns
    * whether a compaction ran. */
  def maybeCompact(spark: SparkSession, storeDir: String, maxEpochs: Int = 8): Boolean = {
    val due = readManifest(storeDir).epochs.size >= maxEpochs
    if (due) compact(spark, storeDir)
    due
  }
}
