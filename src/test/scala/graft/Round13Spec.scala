package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{ClusterStore, CorpusDiff, Curation, Multimodal, NearDupClusters, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-13 additions: exact k-means training, ClusterStore deletion +
  * the diff-driven re-curation loop, the real PPM decoder, and the
  * deterministic training-order shuffle. */
class Round13Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------ kmeans

  test("trainCentroids: deterministic, exact, and it actually learns") {
    val emb = Tables.embeddings(spark, sf).cache()
    val a = Similarity.trainCentroids(emb, k = 8, iterations = 2)
    val b = Similarity.trainCentroids(emb, k = 8, iterations = 2)
    // bit-identical across runs — the exactness claim the oracle rides on
    assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
    for (((_, ca), (_, cb)) <- a.zip(b)) assert(ca.toSeq === cb.toSeq)
    // Lloyd improves the quantization objective vs the raw hash init:
    // mean assigned cosine must strictly increase after training
    val dim = Similarity.embeddingDim(emb)
    def meanAssigned(cents: Array[(Int, Array[Double])]): Double =
      Similarity.assignToCentroids(emb, cents)
        .agg(avg(Similarity.assignedSim(cents)).as("m"))
        .first().getDouble(0)
    val trained = meanAssigned(a)
    val init = meanAssigned(Similarity.hashCentroids(dim, 8))
    info(f"mean assigned cosine: init $init%.4f -> trained $trained%.4f")
    assert(trained > init, s"training must improve the objective ($init -> $trained)")
  }

  test("lloydStepExact: un-hit cells keep their previous centroid") {
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    // many more cells than vectors: most cells are never hit
    val cents = Similarity.hashCentroids(2, 6)
    val next = Similarity.lloydStepExact(emb, cents, 2)
    val moved = next.zip(cents).count { case ((_, n), (_, c)) => n.toSeq != c.toSeq }
    assert(moved >= 1 && moved <= 2, s"only hit cells may move, moved=$moved")
    // hit cells' components are micros-quantized exact divisions
    for (((_, n), (_, c)) <- next.zip(cents) if n.toSeq != c.toSeq; x <- n)
      assert(math.abs((x * 1e6).round.toDouble / 1e6 - x) < 1e-9)
  }

  // ------------------------------------------------------- PPM decoder

  test("decodePpm: hand-built image decodes to its exact pixels") {
    val header = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII")
    val pixels = Array[Byte](10, 20, 30, 40, 50, 60)
    val img = Multimodal.decodePpm(header ++ pixels).get
    assert(img.width === 2 && img.height === 1 && img.maxVal === 255)
    assert(img.pixels.toSeq === pixels.toSeq)
    // trailing junk after the sample plane is ignored (spec: exactly w*h*3)
    val img2 = Multimodal.decodePpm(header ++ pixels ++ Array[Byte](99)).get
    assert(img2.pixels.toSeq === pixels.toSeq)
  }

  test("decodePpm: malformed payloads are rejected, not mis-summed") {
    val good = "P6\n1 1\n255\nabc".getBytes("US-ASCII")
    assert(Multimodal.decodePpm(good).isDefined)
    assert(Multimodal.decodePpm("P5\n1 1\n255\nabc".getBytes("US-ASCII")).isEmpty,
      "wrong magic")
    assert(Multimodal.decodePpm("P6\n1 1\n255\nab".getBytes("US-ASCII")).isEmpty,
      "truncated sample plane")
    assert(Multimodal.decodePpm("P6\n1 1\n65535\nabcdef".getBytes("US-ASCII")).isEmpty,
      "two-byte samples unsupported")
    assert(Multimodal.decodePpm("P6\n1\n255\nabc".getBytes("US-ASCII")).isEmpty,
      "missing height")
    assert(Multimodal.decodePpm(Array.emptyByteArray).isEmpty)
  }

  test("PPM gate: decoded channel sums equal a direct byte walk") {
    val docs = Tables.documents(spark, sf).limit(50)
    val out = Multimodal.decodeGateFromDir(spark, sf)
    assert(out.filter(col("width") === -1).count() === 0,
      "every synthesized payload must decode")
    // cross-check one doc by hand
    val d = docs.orderBy(col("doc_id")).first()
    val bytes = d.getAs[String]("text").getBytes("UTF-8")
    val h = bytes.length / 24
    val expected = (0 until h * 8).map(i => bytes(3 * i) & 0xff).map(_.toLong).sum
    val row = out.filter(col("media_id") === d.getAs[Long]("doc_id")).first()
    assert(row.getAs[Long]("height") === h.toLong)
    assert(row.getAs[Long]("r_sum") === expected)
  }

  // ------------------------------------------- ClusterStore deletion

  /** A corpus where docs 1,2,3 chain into one cluster ONLY through bridge
    * 2: sliding 8-token windows over a 12-token sequence give J(1,2) =
    * J(2,3) = 4/8 = 0.5 (at threshold) while J(1,3) = 2/10 = 0.2 (below).
    * Docs 10,11 form an independent second cluster. */
  private def bridgeCorpus = {
    val w = (1 to 12).map(i => f"tok$i%02d")
    Seq(
      (1L, w.slice(0, 8).mkString(" "), "s0"),
      (2L, w.slice(2, 10).mkString(" "), "s0"), // bridges 1 and 3
      (3L, w.slice(4, 12).mkString(" "), "s0"),
      (10L, "iota kappa lambda mu nu xi omicron pi rho", "s1"),
      (11L, "iota kappa lambda mu nu xi omicron pi sigma", "s1"),
      (20L, "totally unrelated text with completely different words here", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("ClusterStore.remove: deleting a bridge doc splits its component") {
    val docs = bridgeCorpus
    val dir = java.nio.file.Files.createTempDirectory("graft_rm").toString
    ClusterStore.write(docs, dir, ClusterStore.Config(n = 3, threshold = 0.5))
    val before = ClusterStore.readClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before(1L) === before(2L) && before(2L) === before(3L),
      s"1,2,3 must start as one component, got $before")
    val remaining = docs.filter(col("doc_id") =!= 2L)
    ClusterStore.remove(spark, dir, Seq(2L).toDF("doc_id"), remaining)
    // the store must now equal a from-scratch build over the remaining corpus
    val after = ClusterStore.readClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = NearDupClusters.clustersOf(remaining, 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === scratch, s"incremental $after vs from-scratch $scratch")
    // with the bridge gone and 1~3 not near-dup, neither survives the map
    assert(!after.contains(1L) && !after.contains(3L),
      s"splitting the chain must drop 1 and 3 to singletons, got $after")
    assert(after.contains(10L) && after.contains(11L), "untouched cluster survives")
    // pairs touching the removed doc are physically gone
    val pairs = ClusterStore.readPairs(spark, dir)
      .filter(col("id1") === 2L || col("id2") === 2L).count()
    assert(pairs === 0)
    // the stamp advanced to the remaining corpus (guards future appends)
    assert(ClusterStore.readCorpusStamp(dir) === ((5L, 20L)))
  }

  test("ClusterStore.remove: the forced incremental carve equals the full re-label") {
    val docs = bridgeCorpus
    val dir = java.nio.file.Files.createTempDirectory("graft_rm_inc").toString
    ClusterStore.write(docs, dir, ClusterStore.Config(n = 3, threshold = 0.5))
    spark.conf.set(ClusterStore.RelabelConf, "incremental")
    try ClusterStore.remove(spark, dir, Seq(2L).toDF("doc_id"),
      docs.filter(col("doc_id") =!= 2L))
    finally spark.conf.unset(ClusterStore.RelabelConf)
    val after = ClusterStore.readClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = NearDupClusters.clustersOf(
      docs.filter(col("doc_id") =!= 2L), 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === scratch)
  }

  test("ClusterStore.remove then append: changed text re-enters correctly") {
    val docs = bridgeCorpus
    val dir = java.nio.file.Files.createTempDirectory("graft_rmapp").toString
    ClusterStore.write(docs, dir, ClusterStore.Config(n = 3, threshold = 0.5))
    // doc 11's text changes to match nothing; doc 30 arrives near-dup of 10
    val remaining = docs.filter(col("doc_id") =!= 11L)
    ClusterStore.remove(spark, dir, Seq(11L).toDF("doc_id"), remaining)
    val delta = Seq(
      (11L, "entirely new content nothing shared with anything else now", "s1"),
      (30L, "iota kappa lambda mu nu xi omicron pi tau", "s1"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    ClusterStore.append(spark, dir, remaining, delta)
    val after = ClusterStore.readClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = NearDupClusters.clustersOf(
      remaining.unionByName(delta), 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === scratch)
    assert(after.contains(30L) && after(30L) === after(10L), "new near-dup joins 10")
    assert(!after.contains(11L), "changed 11 is now a singleton")
  }

  // -------------------------------------------------- diff-driven loop

  test("corpus_diff ledger: null-text docs present in both days read unchanged") {
    val oldD = Seq((1L, "same"), (2L, null.asInstanceOf[String]), (3L, "gone"))
      .toDF("doc_id", "text")
    val newD = Seq((1L, "same"), (2L, null.asInstanceOf[String]), (4L, "fresh"))
      .toDF("doc_id", "text")
    val m = CorpusDiff.diff(oldD, newD)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "removed", 4L -> "added"))
  }

  test("SQ8: codes bounded, reconstruction within half a step, recall high") {
    val emb = Tables.embeddings(spark, sf).cache()
    val dim = Similarity.embeddingDim(emb)
    val (mn, mx) = Similarity.sq8Stats(emb, dim)
    val enc = emb.select(col("vec_id"),
      Similarity.sq8Encode(col("embedding"), mn, mx).as("c"))
    assert(enc.select(explode(col("c")).as("v"))
      .filter(col("v") < 0 || col("v") > 255).count() === 0,
      "every code must fit uint8")
    // reconstruction error ≤ half a quantization step in every dimension
    val step = mn.indices.map(d => (mx(d) - mn(d)) / 255.0).max
    val err = emb.join(enc, Seq("vec_id"))
      .select(greatest((0 until dim).map(d =>
        abs(element_at(Similarity.sq8Decode(col("c"), mn, mx), d + 1)
          - element_at(col("embedding"), d + 1).cast("double"))): _*).as("e"))
      .agg(max(col("e"))).first().getDouble(0)
    assert(err <= step / 2 + 1e-9, s"max reconstruction error $err vs step $step")
    // recall@10 of the asymmetric SQ8 search vs exact
    val exact = Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 8), 10)
      .select("query_id", "neighbor_id")
    val sq8 = Similarity.sq8KnnFromDir(spark, sf)
      .select("query_id", "neighbor_id")
    val recall = exact.intersect(sq8).count().toDouble / exact.count()
    info(f"SQ8 recall@10 = $recall%.2f")
    assert(recall >= 0.7, s"SQ8 recall $recall too low")
  }

  test("sq8Encode saturates out-of-range values to uint8 (the append path)") {
    val mn = Array(0.0); val mx = Array(1.0)
    val df = Seq((1L, Array(2.0f)), (2L, Array(-1.0f)), (3L, Array(0.5f)))
      .toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
        Similarity.sq8Encode(col("embedding"), mn, mx).as("c"))
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Int]]("c").head).toMap
    assert(out === Map(1L -> 255, 2L -> 0, 3L -> 128),
      s"above-range clamps to 255, below to 0, in-range rounds: $out")
  }

  test("SQ8 IVF index: probe partition-prunes and equals in-memory decode-score") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8ivf")
      .resolve("index").toString
    Similarity.build(Tier.IvfSq8, dir, emb, Build(8))
    val out = Similarity.probe(spark, Tier.IvfSq8, dir,
      emb.filter(col("vec_id") < 8))(k = 10, nProbe = 4)
    // the probed-cell filter reaches the scan as a PARTITION filter
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"SQ8 probe must partition-prune, got:\n${plan.take(1500)}")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // ranks are 1..n per query with non-increasing cosine
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val cos = sorted.map(_.getDouble(3)).toSeq
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  // --------------------------------------------- store deletion (r13)

  test("Bm25Index.remove: dfs decrement, vanished terms leave the dict, stats re-derive") {
    import graft.operators.Bm25Index
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana durian"),
      (3L, "apple unique zebra"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_rm")
    val dir = root.resolve("idx").toString
    Bm25Index.write(docs, dir)
    Bm25Index.remove(spark, dir, Seq(3L).toDF("doc_id"))
    val m = Bm25Index.readManifest(dir)
    assert(m.n === 2L && m.mass === 6L, s"stats must re-derive: n=${m.n} mass=${m.mass}")
    val dict = spark.read.parquet(m.dictDir(dir))
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dict === Map("apple" -> 2L, "banana" -> 2L, "cherry" -> 1L, "durian" -> 1L),
      s"unique/zebra must vanish, apple decrements: $dict")
    // probe over the post-remove index equals a from-scratch kept build
    val dir2 = root.resolve("idx2").toString
    Bm25Index.write(docs.filter(col("doc_id") =!= 3L), dir2)
    val q = Bm25Index.topTerms(spark, dir, 2)
    assert(q === Bm25Index.topTerms(spark, dir2, 2))
    assert(Bm25Index.probe(spark, dir, q).collect().map(_.toSeq).toSeq ===
      Bm25Index.probe(spark, dir2, q).collect().map(_.toSeq).toSeq)
  }

  test("Bm25Index.remove: heals crashed-attempt residue at the frozen staging names") {
    import graft.operators.Bm25Index
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana durian"),
      (3L, "apple unique zebra"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_crash")
    val dir = root.resolve("idx").toString
    Bm25Index.write(docs, dir)
    // residue of a crashed earlier removal: junk at the frozen nextEpoch
    // and next dict-generation names, invisible (manifest never advanced)
    val junkEpoch = java.nio.file.Paths.get(s"$dir/postings/epoch=1/bucket=0")
    java.nio.file.Files.createDirectories(junkEpoch)
    java.nio.file.Files.writeString(junkEpoch.resolve("junk.parquet"), "garbage")
    val junkDict = java.nio.file.Paths.get(s"$dir/dict_v1")
    java.nio.file.Files.createDirectories(junkDict)
    java.nio.file.Files.writeString(junkDict.resolve("junk.parquet"), "garbage")
    // re-running the removal IS the recovery protocol: staging sweeps the
    // residue first, so the junk never pollutes the committed epoch
    Bm25Index.remove(spark, dir, Seq(3L).toDF("doc_id"))
    val dir2 = root.resolve("idx2").toString
    Bm25Index.write(docs.filter(col("doc_id") =!= 3L), dir2)
    val q = Bm25Index.topTerms(spark, dir, 2)
    assert(Bm25Index.probe(spark, dir, q).collect().map(_.toSeq).toSeq ===
      Bm25Index.probe(spark, dir2, q).collect().map(_.toSeq).toSeq)
    assert(!java.nio.file.Files.exists(junkEpoch.resolve("junk.parquet")),
      "staging must sweep the crashed attempt's residue")
  }

  test("DedupIndex.remove: delta probe equals a from-scratch kept-backlog index") {
    import graft.operators.{Dedup, DedupIndex}
    val docs = Tables.documents(spark, sf)
    val backlog = docs.filter(col("doc_id") % 5 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("graft_didx_rm")
    val dir1 = root.resolve("a").toString
    DedupIndex.write(backlog, dir1)
    DedupIndex.remove(spark, dir1,
      docs.filter(col("doc_id") % 5 === 1).select(col("doc_id")))
    val dir2 = root.resolve("b").toString
    DedupIndex.write(backlog.filter(col("doc_id") % 5 =!= 1), dir2)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val a = DedupIndex.dedupDelta(spark, dir1, delta).collect().map(_.toSeq).toSeq
    Dedup.releasePinned(spark)
    val b = DedupIndex.dedupDelta(spark, dir2, delta).collect().map(_.toSeq).toSeq
    Dedup.releasePinned(spark)
    assert(a === b)
    // removed ids appear in neither table of the store
    val bands = spark.read.parquet(s"$dir1/bands")
      .filter(col("doc_id") % 5 === 1).count()
    val sh = spark.read.parquet(s"$dir1/shingles")
      .filter(col("doc_id") % 5 === 1).count()
    assert(bands === 0 && sh === 0)
  }

  test("removeFromIvfIndex: removed vectors leave cells; kept content intact") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_rm")
    val dir = root.resolve("idx").toString
    Similarity.build(Tier.IvfTrained, dir, emb, Build(8))
    val n0 = spark.read.parquet(Similarity.ivfDataDir(dir)).count()
    Similarity.remove(spark, Tier.IvfTrained, dir,
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
    val data = spark.read.parquet(Similarity.ivfDataDir(dir))
    assert(data.filter(col("vec_id") % 5 === 0).count() === 0)
    assert(data.count() === n0 - emb.filter(col("vec_id") % 5 === 0).count())
    // the health baseline refreshed in the same write: it counts the kept rows
    assert(Similarity.indexHealth(spark, dir).nBuild === data.count())
    // same quantizer: kept rows' assignments are unchanged vs a rebuild
    val rebuilt = Similarity.assignToCentroids(
      emb.filter(col("vec_id") % 5 =!= 0), Similarity.readQuantizer(spark, dir))
    assert(data.select(col("vec_id"), col("centroid_id").cast("int")).collect().toSet ===
      rebuilt.select(col("vec_id"), col("centroid_id")).collect().toSet)
  }

  test("SnapshotStore.remove: takedown by sku, surgical by full key, LWW intact") {
    import graft.sources.SnapshotStore
    val store = java.nio.file.Files.createTempDirectory("graft_snap_rm").toString
    def snap(sku: String, day: String, wh: String, qty: Int) =
      Seq((sku, day, wh, qty, 0)).toDF(
        "sku_code", "snapshot_date", "warehouse_code", "available_qty", "reserved_qty")
    SnapshotStore.appendNext(snap("A", "2024-01-01", "W1", 10), store)
    SnapshotStore.appendNext(snap("A", "2024-01-02", "W1", 20), store)
    SnapshotStore.appendNext(snap("B", "2024-01-01", "W1", 30), store)
    SnapshotStore.appendNext(snap("B", "2024-01-01", "W1", 31), store) // LWW upsert
    // takedown: every A row across history
    SnapshotStore.remove(spark, store, Seq("A").toDF("sku_code"))
    val afterA = SnapshotStore.read(spark, store)
      .select(col("sku_code"), col("snapshot_date").cast("string"), col("available_qty"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(afterA === Set(("B", "2024-01-01", 31)),
      s"A gone, B keeps its LWW winner: $afterA")
    // a later re-append of the removed key wins again (order domain intact)
    SnapshotStore.appendNext(snap("A", "2024-01-01", "W1", 99), store)
    assert(SnapshotStore.read(spark, store)
      .filter(col("sku_code") === "A").count() === 1)
    // surgical: full composite key removes one row only
    SnapshotStore.remove(spark, store,
      Seq(("B", "2024-01-01", "W1")).toDF("sku_code", "snapshot_date", "warehouse_code"))
    val fin = SnapshotStore.read(spark, store)
      .select(col("sku_code"), col("available_qty"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(fin === Set(("A", 99)))
    // a non-key column aborts loudly
    intercept[IllegalArgumentException] {
      SnapshotStore.remove(spark, store, Seq(1).toDF("available_qty"))
    }
  }

  test("decontaminate_fuzzy: cross near-dups dropped, train-internal dups survive") {
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val pair = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"$base alpha beta"),  // train — near-dup of eval 40
      (3L, "completely different text with nothing shared at all here"),
      (5L, s"$pair gamma delta"), // train-internal near-dup pair: both must
      (6L, s"$pair gamma zeta"),  // survive — only CROSS pairs contaminate
      (40L, s"$base alpha beta")) // eval (benchmark leakage of doc 1)
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = Curation.decontaminateFuzzy(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(3L, 5L, 6L),
      s"1 is benchmark-leaked; 5~6 is train-internal and must survive: $out")
    graft.operators.Dedup.releasePinned(spark)
  }

  test("ref_lm_logprob: reference-like text outscores out-of-distribution text") {
    import graft.operators.BigramLm
    val ref = Seq.tabulate(5)(i =>
      (100L + i, "the quick brown fox jumps over the lazy dog", "src0"))
    val docs = (ref ++ Seq(
      (1L, "the quick brown fox jumps", "src1"), // rides reference transitions
      (2L, "zzz qqq xxx vvv kkk", "src1")))      // fully OOV -> Laplace floor
      .toDF("doc_id", "text", "source")
    val out = BigramLm.refLogProbs(docs, docs.filter(col("source") === "src0"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) > out(2L),
      s"in-distribution must outscore OOV: ${out(1L)} vs ${out(2L)}")
    // every doc with >= 2 tokens is scored, none dropped by unseen words
    assert(out.contains(2L) && out.size === 7)
  }

  // ------------------------------------------------- training shuffle

  test("corpus_shuffle: permutation is deterministic, complete, interleaved") {
    val docs = Tables.documents(spark, sf)
    val out = Curation.corpusShuffle(docs).cache()
    val total = docs.agg(
      sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))).first().getLong(0)
    // complete: every token lands in exactly one shard
    assert(out.agg(sum(col("shard_tokens"))).first().getLong(0) === total)
    assert(out.agg(sum(col("n_docs"))).first().getLong(0) === docs.count())
    // deterministic: same seed → same packed hashes; new seed → new order
    val again = Curation.corpusShuffle(docs)
    assert(out.select("shard_id", "packed_h").collect().toSeq ===
      again.select("shard_id", "packed_h").collect().toSeq)
    val reseeded = Curation.corpusShuffle(docs, seed = 14L)
    assert(out.select("packed_h").collect().toSeq !==
      reseeded.select("packed_h").collect().toSeq)
    // interleaving: multi-doc shards draw from >1 source (doc_id order
    // would give long single-source runs; the content hash mixes them)
    val multi = out.filter(col("n_docs") >= 4)
    if (multi.count() > 0)
      assert(multi.filter(col("n_sources") === 1).count() === 0,
        "no multi-doc shard may be single-source")
  }
}
