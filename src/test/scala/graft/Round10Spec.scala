package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{ClusterStore, CorpusSplit, Dedup, NearDupClusters, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-10 additions: the persisted IVF index lifecycle gates, the
  * composed ClusterStore append→split loop, and the append-path guards
  * (corpus stamp, self-pair filter, stored cardinalities). */
class Round10Spec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // ---------------------------------------------- persisted IVF lifecycle

  test("ivf_probe_indexed: persisted-index probe equals the in-memory gated IVF pipeline") {
    val fromIndex = rows(Similarity.lifecycle(Tier.Ivf)()(spark, sf))
    val inMemory = rows(Similarity.ivfAnnFromDir(spark, sf))
    assert(fromIndex == inMemory)
  }

  test("ivf_index_append: append + probe equals a same-quantizer full-corpus probe") {
    val appended = rows(Similarity.lifecycle(Tier.Ivf, Op.Append)()(spark, sf))
    val inMemory = rows(Similarity.ivfAnnFromDir(spark, sf))
    assert(appended == inMemory)
  }

  test("store registry: a second C on the same dir gets its own backlog build") {
    rows(Similarity.lifecycle(Tier.Ivf, Op.Append)()(spark, sf))
    val at8 = rows(Similarity.lifecycle(Tier.Ivf, Op.Append)(Build(8))(spark, sf))
    assert(at8 == rows(Similarity.ivfAnnFromDir(spark, sf, numCentroids = 8)))
  }

  test("ivf_index_health: counts split on the DeltaMod predicate; repeat reads identical") {
    val r = Similarity.healthGate(Tier.Ivf)()(spark, sf).collect().head
    val e = Tables.embeddings(spark, sf)
    val total = e.count()
    val delta = e.filter(
      col("vec_id") % graft.operators.DedupIndex.DeltaMod === 0).count()
    assert(r.getAs[Long]("n_now") == total)
    assert(r.getAs[Long]("n_build") == total - delta)
    // the micros sums are exact integers — a second scan must reproduce
    // them bit-for-bit (the property float avg() could never give a gate)
    val r2 = Similarity.healthGate(Tier.Ivf)()(spark, sf).collect().head
    assert(r.toSeq == r2.toSeq)
  }

  // ---------------------------------------------- composed append → split

  test("corpus_split_append: split from the appended store equals from-scratch split") {
    val composed = rows(ClusterStore.splitAppendFromDir(spark, sf))
    val scratch = rows(CorpusSplit.fromDir(spark, sf))
    Dedup.releasePinned(spark)
    assert(composed == scratch)
  }

  // ---------------------------------------------- BM25 retrieval

  test("bm25: formula-exact on a hand-built corpus; docs without a query term are unscored; multi-term sums") {
    import spark.implicits._
    import graft.operators.Bm25
    // d1: x×2 y×1 (dl 3), d2: x z (dl 2), d3: y×4 (dl 4); N=3, mass=9
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y y"))
      .toDF("doc_id", "text")
    // independent mirror of the scoring math (identical op order/literals)
    val avgdl = 9L.toDouble / 3L.toDouble
    def idf(df: Long) =
      math.floor(math.log(1.0 + ((3L - df).toDouble + 0.5) / (df.toDouble + 0.5))
        * 1e9 + 0.5) / 1e9
    def sc(df: Long, tf: Long, dl: Long): Long =
      math.floor(idf(df) * ((tf.toDouble * (1.2 + 1.0))
        / (tf.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.toDouble / avgdl))))
        * 1e6 + 0.5).toLong
    val x = Bm25.topDocs(docs, Seq("x"), k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // d3 has no 'x' and must be absent; tf=2 outranks tf=1 at similar dl
    assert(x.map(_._1).toSeq == Seq(1L, 2L))
    assert(x.toMap == Map(1L -> sc(2, 2, 3), 2L -> sc(2, 1, 2)))
    // multi-term query: per-doc score is the long SUM of per-term micros
    val xy = Bm25.topDocs(docs, Seq("x", "y"), k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(xy(1L) == sc(2, 2, 3) + sc(2, 1, 3))
    assert(xy(3L) == sc(2, 4, 4))
    assert(xy(2L) == sc(2, 1, 2))
  }

  test("dup coverage: shared n-gram counts, same-doc-only repeats don't, short docs score zero") {
    import spark.implicits._
    import graft.operators.DupCoverage
    // n=2: d1/d2 share "b c" (1 of each doc's 2 windows); d3 is too short
    // for any window; d4's "e e" repeats ONLY within d4 (k=2, one doc)
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "x"), (4L, "e e e"))
      .toDF("doc_id", "text")
    val got = DupCoverage.coverage(docs, n = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 0L, 0L, 0.0), (4L, 2L, 0L, 0.0)))
  }

  test("label noise: planted mislabel is the only kNN-majority disagreement") {
    import spark.implicits._
    import graft.operators.LabelNoise
    // two tight 4-clusters; v8 sits in cluster B but carries cluster A's
    // label — with k=3 every vector's neighbors are its 3 cluster-mates
    def a(x: Double) = Array(1.0f, x.toFloat, 0.0f)
    def b(x: Double) = Array(0.0f, x.toFloat, 1.0f)
    val emb = Seq(
      (1L, a(0.10), 0), (2L, a(0.12), 0), (3L, a(0.14), 0), (4L, a(0.16), 0),
      (5L, b(0.10), 1), (6L, b(0.12), 1), (7L, b(0.14), 1), (8L, b(0.16), 0))
      .toDF("vec_id", "embedding", "label")
    val got = LabelNoise.knnLabelAgreement(emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3)))
    assert(got.filter(!_._4).toSeq == Seq((8L, 0, 1, false)))
    // true cluster-B members still agree despite the planted intruder:
    // their 3 neighbors vote (1,1,0) and majority holds
    assert(got.count(_._4) == 7)
  }

  test("label noise: IVF variant equals brute force at full probe coverage") {
    import spark.implicits._
    import graft.operators.{LabelNoise, Similarity}
    // deterministic 30-vector corpus, 8-dim, 4 classes
    val emb = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => (((i * 37 + j * 11) % 101) / 101.0).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val brute = LabelNoise.knnLabelAgreement(emb, k = 5).collect().toSeq
    // nProbe == numCentroids probes EVERY cell → candidates = all-pairs
    val ivf = LabelNoise.knnLabelAgreementIvf(emb, k = 5, nProbe = 4,
      centroids = Similarity.hashCentroids(8, 4)).collect().toSeq
    assert(ivf == brute)
  }

  test("bigram lm: formula-exact interpolation; sub-2-token docs unscored; repeated transition outscores back-off") {
    import spark.implicits._
    import graft.operators.BigramLm
    // unigrams: a:3 b:2 c:1 x:1 (N=7 — the bigram-less "x" still counts
    // toward the unigram back-off mass); bigrams: "a b":2, "a c":1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    def lp(cab: Long, ca: Long, cb: Long): Long =
      math.floor(math.log(0.75 * (cab.toDouble / ca) + 0.25 * (cb.toDouble / 7.0))
        * 1e6 + 0.5).toLong
    val got = BigramLm.logProbs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // d4 has no bigram window and is absent; the common "a b" transition
    // scores above d3's back-off-heavy "a c"
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0) == ((1L, 1L, lp(2, 3, 2), lp(2, 3, 2).toDouble)))
    assert(got(1) == ((2L, 1L, lp(2, 3, 2), lp(2, 3, 2).toDouble)))
    assert(got(2) == ((3L, 1L, lp(1, 3, 1), lp(1, 3, 1).toDouble)))
    assert(lp(2, 3, 2) > lp(1, 3, 1))
  }

  test("curate e2e: each stage drops its doc — low quality, exact dup, near dup, contaminated — and split units come from the shipped corpus") {
    import spark.implicits._
    import graft.operators.CurateE2e
    val good1 = "the quick brown fox jumps over the lazy dog today"
    val docs = Seq(
      (1L, good1),                                                  // kept
      (2L, good1),                                                  // exact dup of 1
      (3L, "1 2 3"),                                                // low quality
      (4L, "the quick brown fox jumps over the lazy dog tonight"),  // near dup of 1 (J=5/7)
      (5L, "we should not forget that alpha beta gamma delta epsilon zeta eta theta is a fine sequence"), // contaminated
      (6L, "a calm evening by the shore with gentle waves and warm light")) // kept
      .toDF("doc_id", "text")
    val eval = Seq((20L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val got = CurateE2e.curate(docs, eval).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 6L))
    // both survivors are singletons in the SHIPPED corpus: unit = own id
    assert(got.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 1L), (6L, 6L)))
    assert(got.forall(_.getDouble(1) >= 0.5))
    assert(got.forall(r => Set("train", "val", "test")(r.getString(4))))
  }

  test("bm25 index: probe == in-memory; append+probe == full rebuild; postings scan partition-prunes on bucket") {
    import graft.operators.{Bm25, Bm25Index, DedupIndex}
    import graft.sources.Tables
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx_spec")
    try {
      val idx = tmp.resolve("full").toString
      Bm25Index.write(docs, idx)
      val terms = Bm25Index.topTerms(spark, idx, 3)
      val probed = Bm25Index.probe(spark, idx, terms)
      val inMem = Bm25.topDocs(docs, terms).collect().map(_.toSeq).toSeq
      assert(probed.collect().map(_.toSeq).toSeq == inMem)
      // the bucket filter reaches the postings scan as a PARTITION filter:
      // only the query terms' bucket directories are listed/read
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
        s"probe must partition-prune, got:\n${plan.take(2000)}")
      // append path: global df/N/mass must advance, not just the postings
      val idx2 = tmp.resolve("backlog").toString
      Bm25Index.write(docs.filter(col("doc_id") % DedupIndex.DeltaMod =!= 0), idx2)
      Bm25Index.append(docs.filter(col("doc_id") % DedupIndex.DeltaMod === 0), idx2)
      val terms2 = Bm25Index.topTerms(spark, idx2, 3)
      assert(terms2 == terms)
      assert(Bm25Index.probe(spark, idx2, terms2).collect().map(_.toSeq).toSeq == inMem)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("bm25 index: streaming foreachBatch ingest equals a batch rebuild") {
    import spark.implicits._
    import graft.operators.Bm25Index
    import graft.sources.Tables
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("bm25idx_stream")
    try {
      // backlog built batch-side; the rest arrives as micro-batches, each
      // appended by the SAME append() the gated batch path proves
      val idx = tmp.resolve("streamed").toString
      Bm25Index.write(docs.filter(col("doc_id") % 4 === 0), idx)
      val rest = docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Bm25Index.append(b, idx))
        .start()
      try rest.grouped(rest.length / 3 + 1)
        .foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
      finally q.stop()
      val full = tmp.resolve("full").toString
      Bm25Index.write(docs, full)
      val terms = Bm25Index.topTerms(spark, full, 3)
      assert(Bm25Index.topTerms(spark, idx, 3) == terms)
      assert(Bm25Index.probe(spark, idx, terms).collect().map(_.toSeq).toSeq ==
        Bm25Index.probe(spark, full, terms).collect().map(_.toSeq).toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("dup span removal: covered windows die, unique prose survives exactly, overlapping windows union") {
    import spark.implicits._
    import graft.operators.DupCoverage
    // n=2 windows; "b c" and "c d" are cross-doc dups, so d1 loses
    // positions 1..3 (union of [1,2] and [2,3]) and keeps "a e"
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "b c d"),    // fully covered → empty rebuild
      (3L, "x y"))      // untouched → exact original text back
      .toDF("doc_id", "text")
    val got = DupCoverage.removeSpans(docs, n = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 5L, 2L, "a e"),
      (2L, 3L, 0L, ""),
      (3L, 2L, 2L, "x y")))
  }

  // ---------------------------------------------- append-path guards

  test("append rejects an oldDocs frame that drifted from the build corpus") {
    import spark.implicits._
    val t1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val backlog = Seq((1L, t1), (2L, t1.replace("w20", "q")))
      .toDF("doc_id", "text")
    val delta = Seq((9L, t1.replace("w21", "x"))).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_stamp_spec")
    ClusterStore.write(backlog, p.toString, ClusterStore.Config(5, 0.45))
    // dropping a doc (count drifts) and renumbering (max drifts) both abort
    val dropped = intercept[IllegalArgumentException] {
      ClusterStore.append(spark, p.toString, backlog.filter($"doc_id" === 1L), delta)
    }
    assert(dropped.getMessage.contains("drifted backlog"))
    val renumbered = intercept[IllegalArgumentException] {
      ClusterStore.append(spark, p.toString,
        backlog.withColumn("doc_id", $"doc_id" + 100L), delta)
    }
    assert(renumbered.getMessage.contains("drifted backlog"))
    // the matching frame still appends fine
    ClusterStore.append(spark, p.toString, backlog, delta)
    Dedup.releasePinned(spark)
    assert(ClusterStore.readClusters(spark, p.toString).count() == 3)
    // and the stamp advanced to cover the delta, so a SECOND append
    // validates against the updated corpus
    assert(ClusterStore.readCorpusStamp(p.toString) == ((3L, 9L)))
  }

  test("append never fabricates self-pairs when old and new share a doc_id") {
    import spark.implicits._
    val t1 = (1 to 40).map(i => s"s$i").mkString(" ")
    val backlog = Seq((1L, t1), (2L, t1.replace("s20", "q")))
      .toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_selfpair_spec")
    ClusterStore.write(backlog, p.toString, ClusterStore.Config(5, 0.45))
    // a re-delivered doc 2 (same id, same text) — without the oid =!= nid
    // guard the cross join would store (2, 2, jaccard 1.0)
    ClusterStore.append(spark, p.toString, backlog,
      Seq((2L, t1.replace("s20", "q"))).toDF("doc_id", "text"))
    Dedup.releasePinned(spark)
    val pairs = ClusterStore.readPairs(spark, p.toString)
    assert(pairs.filter($"id1" === $"id2").count() == 0)
  }

  test("incremental re-label: low-churn delta relabels only the touched component, equals a scratch rebuild") {
    import spark.implicits._
    // four independent backlog clusters — the delta touches ONE, so the
    // touched fraction (1/4) sits under IncrementalChurnCutoff and the
    // append takes the subgraph path: {3,4}/{5,6}/{7,8} rows carry over,
    // the touched component relabels
    assert(0.25 <= ClusterStore.IncrementalChurnCutoff)
    val texts = Seq("a", "b", "c", "d").map(p => (1 to 40).map(i => s"$p$i").mkString(" "))
    val backlog = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((2L * i + 1, t), (2L * i + 2, t.replace(s"${"abcd"(i)}20", "q")))
    }.toDF("doc_id", "text")
    val delta = Seq((9L, texts.head.replace("a21", "x"))).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_incr_spec")
    ClusterStore.write(backlog, p.toString, ClusterStore.Config(5, 0.45))
    // force the subgraph path: `auto` would take full CC below the pair
    // floor — the MECHANISM's equality with from-scratch is what this
    // spec pins, the POLICY is measured in SCALE.md
    spark.conf.set(ClusterStore.RelabelConf, "incremental")
    try ClusterStore.append(spark, p.toString, backlog, delta)
    finally spark.conf.unset(ClusterStore.RelabelConf)
    val after = ClusterStore.readClusters(spark, p.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(1L -> 1L, 2L -> 1L, 9L -> 1L,
      3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    // and equals the from-scratch union build
    val scratch = java.nio.file.Files.createTempDirectory("graft_incr_scratch")
    ClusterStore.write(backlog.unionAll(delta), scratch.toString,
      ClusterStore.Config(5, 0.45))
    assert(rows(ClusterStore.readClusters(spark, p.toString)) ==
      rows(ClusterStore.readClusters(spark, scratch.toString)))
    Dedup.releasePinned(spark)
  }

  test("store cards table holds the exact per-doc shingle cardinalities") {
    val docs = Tables.documents(spark, sf)
    val cfg = ClusterStore.Config()
    val p = java.nio.file.Files.createTempDirectory("graft_cards_spec")
    ClusterStore.write(docs, p.toString, cfg)
    Dedup.releasePinned(spark)
    val stored = rows(ClusterStore.readCards(spark, p.toString))
    val scratch = rows(Dedup.shingleArrays(docs, cfg.n)
      .select(col("doc_id"), size(col("sharr")).cast("long").as("n_shingles")))
    assert(stored == scratch)
  }

  test("bad split percentages fail fast — before any corpus-scale cluster work") {
    val docs = Tables.documents(spark, sf)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    intercept[IllegalArgumentException] {
      CorpusSplit.split(docs, trainPct = 80, valPct = 30)
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore,
      "invalid percentages must not run the pair-graph/CC jobs")
  }
}
