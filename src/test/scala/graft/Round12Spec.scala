package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{Bm25Index, DedupIndex, Similarity, StoreMaintenance}
import graft.sources.{SnapshotStore, Tables}
import org.apache.spark.sql.functions._

/** Round-12: the snapshot store joins the manifest discipline (the one
  * store still publishing through bare parquet appends in round 11), the
  * orphan sweep that makes every store's "retired dirs are removed on the
  * next run" docstring true, and the maintenance sweep that wires the
  * stores' policy primitives into the daily loop. */
class Round12Spec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p)).toSeq
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("s").toString

  private def snap(d: String, qty: Int) = {
    import spark.implicits._
    Seq(("P1", d, "W1", qty, 0), ("P2", d, "W1", qty + 1, 0))
      .toDF("sku_code", "snapshot_date", "warehouse_code",
        "available_qty", "reserved_qty")
  }

  // ---------------------------------------------------- snapshot store

  test("snapshot append is crash-safe: uncommitted staging invisible; re-run recovers") {
    val store = tmpDir("snap_crash")
    SnapshotStore.appendNext(snap("2026-01-10", 10), store)
    val before = SnapshotStore.read(spark, store).collect().map(_.toSeq).toSet

    // CRASH INJECTION: stage day 11 fully (epoch dir landed, sidecar
    // sequence reserved) but die before the manifest commit
    SnapshotStore.stageAppend(snap("2026-01-11", 20), store, batchSeq = 2L, current = 1L)
    assert(SnapshotStore.read(spark, store).collect().map(_.toSeq).toSet === before,
      "a reader between staging and commit must see the PRE-append store")
    assert(SnapshotStore.readManifest(store).epochs === Seq(0L),
      "the manifest must not have advanced")

    // RECOVERY: re-running the append IS the protocol — staging sweeps
    // the uncommitted residue epoch, then commits
    SnapshotStore.appendNext(snap("2026-01-11", 20), store)
    val got = SnapshotStore.read(spark, store)
    assert(got.count() === 4, "two days x two keys, each exactly once")
    assert(got.filter(col("snapshot_date") === "2026-01-11")
      .agg(min("available_qty")).first().getInt(0) === 20)
    // the crashed epoch's rows were swept, not double-appended: raw rows
    // across committed epochs equal the logical rows
    assert(spark.read.parquet(s"$store/data").count() === 4)
    assert(SnapshotStore.readManifest(store).epochs === Seq(0L, 1L))
  }

  test("snapshot compaction collapses epochs, preserves LWW, and later appends still win") {
    val store = tmpDir("snap_compact")
    SnapshotStore.appendNext(snap("2026-01-10", 10), store)
    SnapshotStore.appendNext(snap("2026-01-11", 20), store)
    SnapshotStore.appendNext(snap("2026-01-11", 99), store) // corrected re-load
    SnapshotStore.appendNext(snap("2026-01-12", 30), store)
    val logical = SnapshotStore.read(spark, store).collect().map(_.toSeq).toSet
    val filesBefore = parquetFiles(s"$store/data").size

    SnapshotStore.compact(spark, store)

    assert(SnapshotStore.readManifest(store).epochs.size === 1)
    val filesAfter = parquetFiles(s"$store/data").size
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    assert(SnapshotStore.read(spark, store).collect().map(_.toSeq).toSet === logical,
      "compaction must not change the LWW result")
    // surviving rows keep their ORIGINAL batch_seq, so a later append
    // (higher sequence) still wins last-write-wins
    SnapshotStore.appendNext(snap("2026-01-11", 55), store)
    assert(SnapshotStore.readDay(spark, store, "2026-01-11")
      .agg(min("available_qty")).first().getInt(0) === 55)
  }

  // ------------------------------------------------------ orphan sweep

  test("orphaned epoch/generation dirs (crashed post-commit deletes) are swept on the next run") {
    val docs = Tables.documents(spark, sf)
    val idx = tmpDir("bm25_orphan")
    Bm25Index.write(docs.filter(col("doc_id") % 2 === 0), idx)
    // simulate a compact/append whose post-commit deletes crashed: an
    // epoch dir (with the real bucket= leaf layout a retired epoch has)
    // and a dict generation the manifest does not reference
    val orphanEpoch = java.nio.file.Paths.get(s"$idx/postings/epoch=9")
    val orphanDict = java.nio.file.Paths.get(s"$idx/dict_v9")
    java.nio.file.Files.createDirectories(orphanEpoch.resolve("bucket=0"))
    java.nio.file.Files.createDirectories(orphanDict)
    java.nio.file.Files.writeString(orphanEpoch.resolve("bucket=0/junk"), "x")
    val terms = Bm25Index.topTerms(spark, idx, 3)
    val before = Bm25Index.probe(spark, idx, terms).collect().map(_.toSeq).toSeq

    Bm25Index.append(docs.filter(col("doc_id") % 2 =!= 0), idx)

    assert(!java.nio.file.Files.exists(orphanEpoch),
      "stageAppend must sweep unreferenced epoch dirs")
    assert(!java.nio.file.Files.exists(orphanDict),
      "stageAppend must sweep unreferenced dict generations")
    // sweep touched nothing live: the index still equals a full rebuild
    val full = tmpDir("bm25_orphan_full")
    Bm25Index.write(docs, full)
    val t2 = Bm25Index.topTerms(spark, full, 3)
    assert(Bm25Index.probe(spark, idx, t2).collect().map(_.toSeq).toSeq ===
      Bm25Index.probe(spark, full, t2).collect().map(_.toSeq).toSeq)
    assert(before.nonEmpty)
  }

  test("ivf promote sweeps orphaned generations from a crashed post-commit delete") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmpDir("ivf_orphan")
    Similarity.build(Tier.IvfTrained, dir, emb, Build(4))
    // an unreferenced generation (post-commit delete crashed mid-promote)
    val orphan = java.nio.file.Paths.get(s"$dir/data_v7")
    java.nio.file.Files.createDirectories(orphan)
    Similarity.compact(spark, Tier.IvfTrained, dir) // any promote sweeps
    assert(!java.nio.file.Files.exists(orphan),
      "promoteGeneration must sweep generations the manifest does not reference")
  }

  // ------------------------------------------------ maintenance sweep

  test("StoreMaintenance detects store kinds and fires policies; content unchanged") {
    val store = tmpDir("maint_snap")
    for (q <- 1 to 3) SnapshotStore.appendNext(snap("2026-01-10", q * 10), store)
    val logical = SnapshotStore.read(spark, store).collect().map(_.toSeq).toSet

    // not due below the threshold: decision only, no rewrite
    val idle = StoreMaintenance.run(spark, Seq(store),
      StoreMaintenance.Policy(maxEpochs = 8))
    assert(idle === Seq(StoreMaintenance.Action(store, "snapshot_store", "compact", fired = false)))
    assert(SnapshotStore.readManifest(store).epochs.size === 3)

    // due: compaction fires, logical content unchanged
    val acts = StoreMaintenance.run(spark, Seq(store),
      StoreMaintenance.Policy(maxEpochs = 3))
    assert(acts.exists(a => a.store == "snapshot_store" && a.fired))
    assert(SnapshotStore.readManifest(store).epochs.size === 1)
    assert(SnapshotStore.read(spark, store).collect().map(_.toSeq).toSet === logical)

    // a stray directory reports unknown instead of failing the sweep
    val stray = tmpDir("maint_stray")
    assert(StoreMaintenance.run(spark, Seq(stray)) ===
      Seq(StoreMaintenance.Action(stray, "unknown", "none", fired = false)))
  }

  test("IVF file-count policy: appends grow files per cell; maintenance compacts them") {
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    // every tier: the compressed ones carry no health baseline, and the
    // sweep must compact them rather than die reading one (one append
    // already puts a second file in a cell)
    for ((tier, p, batches) <- Seq((Tier.IvfTrained, Build(4), 3), (Tier.IvfSq8, Build(4), 1),
        (Tier.Imi, Build(2, 2, iterations = 0), 1),
        (Tier.IvfPq, Build(4, kpq = 4, iterations = 0), 1))) {
      val dir = tmpDir(s"maint_${tier.name}")
      Similarity.build(tier, dir, half, p)
      for (r <- 0 until batches)
        Similarity.append(spark, tier, dir,
          emb.filter(col("vec_id") % 2 =!= 0).filter(col("vec_id") % batches === r))
      val filesBefore = parquetFiles(Similarity.ivfDataDir(dir)).size
      val acts = StoreMaintenance.run(spark, Seq(dir),
        StoreMaintenance.Policy(maxFilesPerCell = 1, maxDrift = 1e9, maxGrowth = 1e9))
      assert(acts.exists(a => a.store == "ivf" && a.action == "compact" && a.fired),
        s"${tier.name}: file-count policy must fire, got $acts")
      val filesAfter = parquetFiles(Similarity.ivfDataDir(dir)).size
      assert(filesAfter < filesBefore,
        s"${tier.name}: IVF compaction must shrink file count ($filesBefore -> $filesAfter)")
      assert(!acts.exists(a => a.action == "requantize" && a.fired),
        s"${tier.name}: drift/growth thresholds set unreachable: requantize must not fire")
    }
  }
}
