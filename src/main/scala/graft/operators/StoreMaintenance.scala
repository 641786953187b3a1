package graft.operators

import graft.sources.{StoreCommit, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The maintenance sweep that closes the daily-ops loop the persisted
  * stores were built for: every store ships a policy-gated maintenance
  * primitive ([[Bm25Index.maybeCompact]], [[DedupIndex.maybeCompact]],
  * [[ClusterStore.maybeCompact]], [[graft.sources.SnapshotStore.maybeCompact]],
  * [[Similarity.maybeRequantize]] plus the file-count IVF compaction
  * here), and a daily runner should invoke them all after its appends —
  * not leave them as library calls nobody fires (the round-11 gap this
  * object closes). [[run]] detects each directory's store kind from its
  * on-disk shape and applies the matching policies; a store that is not
  * due is a manifest read, nothing more, so the sweep is safe to call
  * every ingest cycle.
  *
  * Scale: each decision reads O(1) control-plane state (a manifest, a
  * directory listing bounded by epochs/cells); the rewrites they gate are
  * the pay-once operations whose amortization the per-store scaladocs
  * justify. Nothing here scans data except [[Similarity.maybeRequantize]]'s
  * health pass — one index scan, priced in `ivf_index_health`.
  */
object StoreMaintenance {

  /** Policy knobs for one sweep. `maxEpochs` gates the three epoch
    * stores and the snapshot store; `maxFilesPerCell` gates IVF
    * compaction (appends land files inside live cell dirs, so file
    * count — not an epoch list — is the growth axis there); drift/growth
    * gate the IVF requantize, matching [[Similarity.maybeRequantize]]
    * defaults. */
  case class Policy(maxEpochs: Int = 8, maxFilesPerCell: Int = 4,
                    maxDrift: Double = 0.05, maxGrowth: Double = 4.0)

  /** One maintenance decision: which store, which action, whether the
    * policy fired it. */
  case class Action(dir: String, store: String, action: String, fired: Boolean)

  /** Sweep `dirs`, applying every policy that matches each directory's
    * store kind. Unknown directories are reported (`store = "unknown"`)
    * rather than failed: a maintenance sweep over a data-lake root must
    * not die on a stray directory. */
  def run(spark: SparkSession, dirs: Seq[String],
          policy: Policy = Policy()): Seq[Action] =
    dirs.flatMap(d => maintain(spark, d, policy))

  /** Detect the store kind at `dir` from its layout and run the matching
    * maintenance. */
  def maintain(spark: SparkSession, dir: String,
               policy: Policy = Policy()): Seq[Action] = {
    def exists(sub: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, sub))
    if (!StoreCommit.exists(dir)) Seq(Action(dir, "unknown", "none", fired = false))
    else if (exists("postings"))
      Seq(Action(dir, "bm25", "compact",
        Bm25Index.maybeCompact(spark, dir, policy.maxEpochs)))
    else if (exists("bands"))
      Seq(Action(dir, "dedup_index", "compact",
        DedupIndex.maybeCompact(spark, dir, policy.maxEpochs)))
    else if (exists("pairs"))
      Seq(Action(dir, "cluster_store", "compact",
        ClusterStore.maybeCompact(spark, dir, policy.maxEpochs)))
    else if (exists("data"))
      Seq(Action(dir, "snapshot_store", "compact",
        graft.sources.SnapshotStore.maybeCompact(spark, dir, policy.maxEpochs)))
    else if (ivfLiveDataDir(dir).isDefined) {
      // IVF: compaction first (file-count growth from appends), then the
      // health-triggered requantize — a requantize subsumes compaction
      // (both promote a coalesced generation), so skip compact when the
      // requantize fired
      val req = Similarity.maybeRequantize(spark, dir,
        policy.maxDrift, policy.maxGrowth)
      val comp = req.isEmpty && maybeCompactIvf(spark, dir, policy.maxFilesPerCell)
      Seq(Action(dir, "ivf", "requantize", req.isDefined),
        Action(dir, "ivf", "compact", comp))
    } else Seq(Action(dir, "unknown", "none", fired = false))
  }

  /** The live `data_v<g>` dir when `dir` is an IVF index. */
  private def ivfLiveDataDir(dir: String): Option[java.nio.file.Path] =
    try {
      val p = java.nio.file.Paths.get(Similarity.ivfDataDir(dir))
      if (java.nio.file.Files.isDirectory(p)) Some(p) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** IVF compaction policy: appends land parquet files INSIDE the live
    * generation's cell dirs, so probe file-open cost grows with appends
    * per cell; compact when the average exceeds `maxFilesPerCell`. The
    * decision is one directory listing (O(cells + files) names, no data
    * read). Returns whether a compaction ran. */
  def maybeCompactIvf(spark: SparkSession, dir: String,
                      maxFilesPerCell: Int = 4): Boolean = {
    val data = ivfLiveDataDir(dir).getOrElse(return false)
    import scala.jdk.CollectionConverters._
    val cells = java.nio.file.Files.list(data).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("centroid_id=")).toSeq
    if (cells.isEmpty) return false
    val files = cells.map { c =>
      val s = java.nio.file.Files.list(c)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }.sum
    val due = files.toDouble / cells.size > maxFilesPerCell
    if (due) Similarity.compactIvfIndex(spark, dir)
    due
  }

  /** Gated query `store_maintenance_loop`: the daily-ops loop end-to-end.
    * Build a dedup signature index from day 0's batch, append 7 more
    * daily batches, invoking [[run]] after each day under a low-epoch
    * policy (maxEpochs=4) so compaction fires MID-LOOP — the gate
    * `require`s that it fired at least twice AND that each firing shrank
    * the band file count (the file-count assertion the policy exists
    * for) — then run the standard delta probe. The oracle is the SAME
    * [[DedupIndex.deltaOracle]] as `dedup_delta_lsh`: N days of appends
    * interleaved with policy-fired maintenance must leave the store
    * indistinguishable from a from-scratch backlog build. */
  def maintenanceLoopFromDir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val backlog = docs.filter(col("doc_id") % DedupIndex.DeltaMod =!= 0)
    def dayBatch(i: Int): DataFrame =
      backlog.filter(expr(s"(doc_id div ${DedupIndex.DeltaMod}) % 8") === i)
    def bandFiles(idx: String): Int = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(idx, "bands")
      if (!java.nio.file.Files.exists(root)) 0
      else java.nio.file.Files.walk(root).iterator().asScala
        .count(p => p.toString.endsWith(".parquet"))
    }
    val root = java.nio.file.Files.createTempDirectory("graft_maint_loop")
    TempDirs.registerForCleanup(root)
    val idx = root.resolve("dedup_index").toString
    DedupIndex.write(dayBatch(0), idx)
    val policy = Policy(maxEpochs = 4)
    var fired = 0
    for (i <- 1 to 7) {
      DedupIndex.append(dayBatch(i), idx)
      val before = bandFiles(idx)
      if (run(spark, Seq(idx), policy).exists(_.fired)) {
        fired += 1
        val after = bandFiles(idx)
        require(after < before,
          s"compaction fired but band files did not shrink ($before -> $after)")
      }
    }
    require(fired >= 2,
      s"maxEpochs=4 must fire compaction >=2 times across 7 appends, fired $fired")
    DedupIndex.dedupDelta(spark, idx,
      docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0))
  }
}
