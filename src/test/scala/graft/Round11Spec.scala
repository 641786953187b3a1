package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{Bm25Index, DedupIndex, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-11 store maintenance: crash-safe manifest commits, epoch/cell
  * compaction, and quantizer re-sizing — the lifecycle claims the driver
  * gates (`bm25_index_compact`, `ivf_index_compact`, `ivf_requantize`)
  * pin by CONTENT and this suite pins by MECHANISM (file counts,
  * crash-window visibility, trigger math). */
class Round11Spec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p)).toSeq
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  // ------------------------------------------------------------- BM25

  test("bm25 append is crash-safe: uncommitted staging is invisible; re-run recovers") {
    val docs = Tables.documents(spark, sf)
    val backlog = docs.filter(col("doc_id") % DedupIndex.DeltaMod =!= 0)
    val delta = docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0)
    val idx = tmpDir("bm25_crash")
    Bm25Index.write(backlog, idx)
    val terms = Bm25Index.topTerms(spark, idx, 3)
    val before = rows(Bm25Index.probe(spark, idx, terms))

    // CRASH INJECTION: stage the append fully (postings + norms landed in
    // the new epoch, next dict generation written) but die before the
    // manifest commit — the exact window the round-10 design documented
    // as unsafe
    Bm25Index.stageAppend(delta, idx)
    assert(rows(Bm25Index.probe(spark, idx, terms)) === before,
      "a reader between staging and commit must see the PRE-append index " +
        "— stale but consistent, never landed postings with a stale dict")
    val m0 = Bm25Index.readManifest(idx)
    assert(m0.epochs === Seq(0L) && m0.dictGen === 0L,
      "the manifest must not have advanced")

    // RECOVERY: re-running the same append IS the protocol — staging
    // heals the residue at the frozen epoch/gen names, then commits
    Bm25Index.append(delta, idx)
    val full = tmpDir("bm25_crash_full")
    Bm25Index.write(docs, full)
    val t2 = Bm25Index.topTerms(spark, full, 3)
    assert(Bm25Index.topTerms(spark, idx, 3) === t2)
    assert(rows(Bm25Index.probe(spark, idx, t2)) ===
      rows(Bm25Index.probe(spark, full, t2)),
      "recovered append must equal a from-scratch full-corpus index")
    val m1 = Bm25Index.readManifest(idx)
    assert(m1.epochs === Seq(0L, 1L) && m1.dictGen === 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/dict_v0")),
      "the retired dict generation is deleted after commit")
  }

  test("bm25 compaction collapses epochs to one file per bucket; content unchanged") {
    val docs = Tables.documents(spark, sf)
    val idx = tmpDir("bm25_compact")
    val nb = 16
    Bm25Index.write(docs.filter(col("doc_id") % 4 === 0), idx, numBuckets = nb)
    for (r <- 1 to 3)
      Bm25Index.append(docs.filter(col("doc_id") % 4 === r), idx)
    val terms = Bm25Index.topTerms(spark, idx, 3)
    val before = rows(Bm25Index.probe(spark, idx, terms))
    val filesBefore = parquetFiles(s"$idx/postings").size
    val mBefore = Bm25Index.readManifest(idx)
    assert(mBefore.epochs.size === 4, "each append commits its own epoch")

    Bm25Index.compact(spark, idx)

    val m = Bm25Index.readManifest(idx)
    assert(m.epochs.size === 1, "committed epochs collapse to one")
    val filesAfter = parquetFiles(s"$idx/postings").size
    assert(filesAfter <= nb, s"one file per bucket after compaction " +
      s"(got $filesAfter for $nb buckets)")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    assert(rows(Bm25Index.probe(spark, idx, terms)) === before,
      "compaction must not change probe content")
    // probe math unchanged too: n/mass survived the epoch rewrite
    assert(m.n === mBefore.n && m.mass === mBefore.mass)
  }

  // ------------------------------------------------- dedup signature index

  test("dedup index: crash-safe append + epoch compaction, delta probe unchanged") {
    val docs = Tables.documents(spark, sf)
    val backlog = docs.filter(col("doc_id") % DedupIndex.DeltaMod =!= 0)
    val delta = docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0)
    val idx = tmpDir("dedup_lifecycle")
    DedupIndex.write(backlog.filter(col("doc_id") % 2 === 0), idx)
    val before = rows(DedupIndex.dedupDelta(spark, idx, delta))
    graft.operators.Dedup.releasePinned(spark)

    // crash injection: stage the second half, die before commit
    DedupIndex.stageAppend(backlog.filter(col("doc_id") % 2 =!= 0), idx)
    assert(rows(DedupIndex.dedupDelta(spark, idx, delta)) === before,
      "uncommitted epoch must be invisible to delta probes")
    graft.operators.Dedup.releasePinned(spark)

    // recovery = re-run; then compact; probe equals a from-scratch backlog index
    DedupIndex.append(backlog.filter(col("doc_id") % 2 =!= 0), idx)
    val filesBefore = parquetFiles(s"$idx/bands").size
    DedupIndex.compact(spark, idx)
    val m = DedupIndex.readManifest(idx)
    assert(m.epochs.size === 1)
    val filesAfter = parquetFiles(s"$idx/bands").size
    assert(filesAfter <= m.cfg.bands && filesAfter < filesBefore,
      s"one file per band after compaction ($filesBefore -> $filesAfter)")
    val scratch = tmpDir("dedup_lifecycle_scratch")
    DedupIndex.write(backlog, scratch)
    val expected = rows(DedupIndex.dedupDelta(spark, scratch, delta))
    graft.operators.Dedup.releasePinned(spark)
    assert(rows(DedupIndex.dedupDelta(spark, idx, delta)) === expected,
      "append+compact must equal a from-scratch backlog index")
    graft.operators.Dedup.releasePinned(spark)
  }

  // ------------------------------------------------------ cluster store

  test("cluster-store append is crash-safe: staging invisible, re-run recovers, stamp atomic") {
    import graft.operators.ClusterStore
    val docs = Tables.documents(spark, sf)
    val backlog = docs.filter(col("doc_id") % DedupIndex.DeltaMod =!= 0)
    val delta = docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0)
    val store = tmpDir("cstore_crash")
    ClusterStore.write(backlog, store)
    val stampBefore = ClusterStore.readCorpusStamp(store)
    val clustersBefore = rows(ClusterStore.readClusters(spark, store).orderBy("doc_id"))
    val pairsBefore = ClusterStore.readPairs(spark, store).count()

    // CRASH INJECTION: stage fully (pairs/cards epoch landed, next cluster
    // generation written, stamp computed) but die before the manifest commit
    ClusterStore.stageAppend(spark, store, backlog, delta)
    graft.operators.Dedup.releasePinned(spark)
    assert(ClusterStore.readCorpusStamp(store) === stampBefore,
      "the stamp must not advance before commit")
    assert(ClusterStore.readPairs(spark, store).count() === pairsBefore,
      "staged pairs must be invisible")
    assert(rows(ClusterStore.readClusters(spark, store).orderBy("doc_id"))
      === clustersBefore, "staged cluster generation must be invisible")

    // RECOVERY: re-run the same append (staging heals the residue), then
    // the store must equal a from-scratch build over the union
    ClusterStore.append(spark, store, backlog, delta)
    graft.operators.Dedup.releasePinned(spark)
    val scratch = tmpDir("cstore_crash_scratch")
    ClusterStore.write(docs, scratch)
    graft.operators.Dedup.releasePinned(spark)
    assert(rows(ClusterStore.readClusters(spark, store).orderBy("doc_id")) ===
      rows(ClusterStore.readClusters(spark, scratch).orderBy("doc_id")))
    assert(ClusterStore.readCorpusStamp(store) ===
      ClusterStore.readCorpusStamp(scratch))
    // and maintenance: compaction collapses the two epochs, content intact
    val filesBefore = parquetFiles(s"$store/pairs").size
    assert(!ClusterStore.maybeCompact(spark, store, maxEpochs = 3))
    ClusterStore.compact(spark, store)
    assert(parquetFiles(s"$store/pairs").size <= filesBefore)
    assert(rows(ClusterStore.readClusters(spark, store).orderBy("doc_id")) ===
      rows(ClusterStore.readClusters(spark, scratch).orderBy("doc_id")))
    assert(ClusterStore.readPairs(spark, store).count() ===
      ClusterStore.readPairs(spark, scratch).count())
  }

  // -------------------------------------------------------------- IVF

  test("ivf compaction: one file per cell after appends; probe content unchanged") {
    val e = Tables.embeddings(spark, sf)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val idx = tmpDir("ivf_compact")
    val cents = Similarity.hashCentroids(dim, 8)
    Similarity.buildWith(Tier.Ivf, idx, e.filter(col("vec_id") % 4 === 0),
      TierState(Seq(cents)))
    for (r <- 1 to 3)
      Similarity.append(spark, Tier.Ivf, idx,
        e.filter(col("vec_id") % 4 === r))
    val q = e.filter(col("vec_id") < 4)
    val before = rows(Similarity.probe(spark, Tier.Ivf, idx, q)())
    val filesBefore = parquetFiles(s"$idx/data_v0").size

    Similarity.compact(spark, Tier.Ivf, idx)

    val dataDir = Similarity.ivfDataDir(idx)
    assert(dataDir.endsWith("data_v1"), "compaction promotes the generation")
    val filesAfter = parquetFiles(dataDir).size
    assert(filesAfter <= 8, s"one file per cell (got $filesAfter for 8 cells)")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    assert(rows(Similarity.probe(spark, Tier.Ivf, idx, q)()) === before)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$idx/data_v0")),
      "the retired generation is deleted after commit")
    // the health BASELINE survives compaction (content is unchanged, so
    // drift keeps being measured against the original build)
    val h = Similarity.indexHealth(spark, idx)
    assert(h.nBuild < h.nNow, "baseline still reflects the pre-append build")
  }

  test("ivf promote heals crashed-staging residue and ignores it until commit") {
    val e = Tables.embeddings(spark, sf)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val idx = tmpDir("ivf_heal")
    val cents = Similarity.hashCentroids(dim, 8)
    Similarity.buildWith(Tier.Ivf, idx, e, TierState(Seq(cents)))
    val q = e.filter(col("vec_id") < 4)
    val before = rows(Similarity.probe(spark, Tier.Ivf, idx, q)())
    // residue of a crashed promote: a half-written next generation
    val junk = java.nio.file.Paths.get(s"$idx/data_v1/centroid_id=0")
    java.nio.file.Files.createDirectories(junk)
    java.nio.file.Files.writeString(junk.resolve("part-junk.parquet"), "not parquet")
    // readers resolve the manifest: the residue is invisible
    assert(rows(Similarity.probe(spark, Tier.Ivf, idx, q)()) === before)
    // the next promote stages at gen 1, healing the residue first
    Similarity.compact(spark, Tier.Ivf, idx)
    assert(rows(Similarity.probe(spark, Tier.Ivf, idx, q)()) === before)
  }

  test("maybeRequantize: fires on growth, sizes C by the measured rule, resets the baseline") {
    val e = Tables.embeddings(spark, sf)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val idx = tmpDir("ivf_requant")
    // build tiny (every 8th vector), then append the rest: growth = 8 > 4
    Similarity.buildWith(Tier.Ivf, idx, e.filter(col("vec_id") % 8 === 0),
      TierState(Seq(Similarity.hashCentroids(dim, 4))))
    Similarity.append(spark, Tier.Ivf, idx, e.filter(col("vec_id") % 8 =!= 0))
    val h = Similarity.indexHealth(spark, idx)
    assert(h.growth > 4.0 && h.shouldRecluster())
    val expectedC = Similarity.sizedCentroidCount(4, h.growth) // C ∝ N
    assert(expectedC >= 4 * 4)

    val ran = Similarity.maybeRequantize(spark, idx)
    assert(ran === Some(expectedC))
    assert(Similarity.readQuantizer(spark, idx).length === expectedC)
    val h2 = Similarity.indexHealth(spark, idx)
    assert(h2.growth < 1.0001 && h2.growth > 0.9999,
      "requantize resets the health baseline to the rewritten population")
    assert(Similarity.maybeRequantize(spark, idx) === None,
      "no second fire without further growth")
  }

  // -------------------------------------------------------------- BPE

  test("BPE training: greedy-merge edge cases and a hand-checked merge table") {
    import spark.implicits._
    // 'ababab': pair (a,b) count 3 -> greedy L2R merge gives [ab,ab,ab];
    // 'aaa': run of identical symbols merges non-overlapping -> [aa,a]
    val docs = Seq((1L, "ababab ababab aaa")).toDF("doc_id", "text")
    val merges = graft.operators.BpeTrain.train(docs, numMerges = 3)
    // pair counts at step 1: (a,b)=6, (b,a)=4, (a,a)=2 (two docs' words:
    // ababab twice -> (a,b) 3 each = 6; aaa -> (a,a) overlapping-adjacent = 2)
    assert(merges.head === ((1, "a", "b", "ab", 6L)))
    // after merging 'ab': words are [ab,ab,ab] x2 and [aa? no: 'aaa' still
    // [a,a,a]] -> best pair (ab,ab)=4 vs (a,a)=2
    assert(merges(1) === ((2, "ab", "ab", "abab", 4L)))
    // then [abab, ab] x2 and [a,a,a] -> (abab,ab)=2, (a,a)=2 -> tie breaks
    // lexicographically: (a,a) < (abab,ab)
    assert(merges(2) === ((3, "a", "a", "aa", 2L)))
  }

  test("BPE training loop terminates when every word is fully merged") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val merges = graft.operators.BpeTrain.train(docs, numMerges = 50)
    // only two merges exist: (a,b) then (c,d) — the loop must stop, not
    // spin 48 more empty iterations
    assert(merges.map(m => (m._2, m._3)) === Seq(("a", "b"), ("c", "d")))
  }

  test("BPE in-memory training ≡ the distributed Spark-SQL loop, merges and final state") {
    // the r20 optimization moved the 30-round greedy loop onto the
    // collected ≤DictCap dict; this pins it step-for-step against the
    // fully-distributed form on real gate data (sf0.001 corpus) — merge
    // table AND final segmentation state must be identical
    val docs = Tables.documents(spark, sf)
    val (mFast, sFast) = graft.operators.BpeTrain.runTraining(docs, 30, 2000)
    val (mDist, sDist) = graft.operators.BpeTrain.runTrainingDistributed(docs, 30, 2000)
    assert(mFast === mDist)
    assert(sFast.sortBy(_._1) === sDist.sortBy(_._1))
  }

  test("BPE segments: the final state is each word tokenized by the learned table") {
    import spark.implicits._
    // the default 30-round budget exhausts this corpus: training runs
    // merges until no pair remains ((a,b), (ab,c), (ab,d)), so BOTH words
    // end fully merged — and the word must reconstruct exactly from the
    // separator-stripped state
    val docs = Seq((1L, "abc abc abd")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bpe_seg_spec")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val got = graft.operators.BpeTrain.segmentsFromDir(spark, tmp.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("abc", 1L, 2L), ("abd", 1L, 1L)))
  }

  test("maybeCompact: fires at the epoch threshold, not before, and collapses") {
    val docs = Tables.documents(spark, sf)
    val idx = tmpDir("bm25_maybe")
    Bm25Index.write(docs.filter(col("doc_id") % 4 === 0), idx, numBuckets = 8)
    Bm25Index.append(docs.filter(col("doc_id") % 4 === 1), idx)
    assert(!Bm25Index.maybeCompact(spark, idx, maxEpochs = 3),
      "2 committed epochs < 3: no compaction")
    Bm25Index.append(docs.filter(col("doc_id") % 4 === 2), idx)
    assert(Bm25Index.maybeCompact(spark, idx, maxEpochs = 3))
    assert(Bm25Index.readManifest(idx).epochs.size === 1)
  }

  test("requantized index equals a from-scratch build at the new quantizer") {
    val e = Tables.embeddings(spark, sf)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val idx = tmpDir("ivf_requant_eq")
    Similarity.buildWith(Tier.Ivf, idx, e.filter(col("vec_id") % DedupIndex.DeltaMod =!= 0),
      TierState(Seq(Similarity.hashCentroids(dim, 16))))
    Similarity.append(spark, Tier.Ivf, idx,
      e.filter(col("vec_id") % DedupIndex.DeltaMod === 0))
    val newCents = Similarity.hashCentroids(dim, 32)
    Similarity.requantize(Tier.Ivf, idx, Similarity.liveFloatRows(spark, idx),
      TierState(Seq(newCents)))
    val scratch = tmpDir("ivf_requant_scratch")
    Similarity.buildWith(Tier.Ivf, scratch, e, TierState(Seq(newCents)))
    val q = e.filter(col("vec_id") < 8)
    assert(rows(Similarity.probe(spark, Tier.Ivf, idx, q)()) ===
      rows(Similarity.probe(spark, Tier.Ivf, scratch, q)()))
  }
}
