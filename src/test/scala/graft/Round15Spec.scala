package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{CurateE2e, Multimodal, SemanticDedup, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-15 additions: the WAV/PCM decoder, the composed IMI×SQ8 tier,
  * the IMI-assigned SemDeDup seam, the CCNet filter inside the curation
  * DAG, the BMP huge-dims overflow guard, and the ann_recall floor. */
class Round15Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------- WAV decoder

  test("buildWav/decodeWav: roundtrip restores signed interleaved samples") {
    // 3 frames of 2ch s16le with known signed values
    val samples = Array[Short](100, -200, 3000, -32768, 32767, 0)
    val data = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) {
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val wav = Multimodal.buildWav(data)
    assert(wav.length === 44 + 12)
    val a = Multimodal.decodeWav(wav).get
    assert(a.channels === 2)
    assert(a.samples.toSeq === samples.toSeq)
  }

  test("decodeWav: chunk walk skips unknown chunks and honors even padding") {
    // hand-build: RIFF [ junk(3, padded to 4) | fmt | data ]
    val base = Multimodal.buildWav(Array[Byte](1, 0, 2, 0))
    val fmtAndData = base.drop(12) // fmt..data chunks of the canonical file
    val junk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](9, 9, 9, 0) // size 3 → 1 pad byte
    val out = new Array[Byte](12 + junk.length + fmtAndData.length)
    System.arraycopy(base, 0, out, 0, 12)
    System.arraycopy(junk, 0, out, 12, junk.length)
    System.arraycopy(fmtAndData, 0, out, 12 + junk.length, fmtAndData.length)
    // patch the RIFF size for the longer envelope
    val riffSize = out.length - 8
    for (i <- 0 until 4) out(4 + i) = ((riffSize >> (8 * i)) & 0xff).toByte
    val a = Multimodal.decodeWav(out).get
    assert(a.samples.toSeq === Seq[Short](1, 2),
      "an unknown odd-sized chunk between header and fmt must be skipped")
  }

  test("decodeWav: structural validation rejects malformed payloads without throwing") {
    val good = Multimodal.buildWav(Array.tabulate(40)(_.toByte))
    def mutated(f: Array[Byte] => Unit): Option[Multimodal.WavAudio] = {
      val b = good.clone(); f(b); Multimodal.decodeWav(b)
    }
    assert(Multimodal.decodeWav(Array[Byte](1, 2, 3)).isEmpty, "too short")
    assert(Multimodal.decodeWav(null).isEmpty, "null payload")
    assert(mutated(_(0) = 'X').isEmpty, "bad RIFF magic")
    assert(mutated(_(8) = 'X').isEmpty, "bad WAVE tag")
    assert(mutated(_(20) = 2).isEmpty, "non-PCM format")
    assert(mutated(_(34) = 8).isEmpty, "8-bit samples unsupported")
    assert(mutated(_(32) = 3).isEmpty, "blockAlign inconsistent with channels")
    assert(mutated(b => { b(22) = 0; b(23) = 0 }).isEmpty, "0 channels")
    assert(Multimodal.decodeWav(good.dropRight(1)).isEmpty,
      "truncated vs declared RIFF size")
    // a data size that is not whole frames must reject, not mis-stride
    assert(mutated(_(40) = 3).isEmpty, "partial-frame data length")
    // a chunk size overrunning the RIFF envelope must reject (long math)
    assert(mutated(b => { b(43) = 0x7f }).isEmpty, "chunk overruns envelope")
    // 0 data frames is VALID (unlike BMP's height-0): all-zero stats
    val empty = Multimodal.decodeWav(Multimodal.buildWav(Array[Byte](1, 2))).get
    assert(empty.samples.isEmpty)
  }

  test("extractWavFeatures: de-interleave and signedness pin the sample walk") {
    // ch0 = +1 each frame, ch1 = -2 each frame; 4 frames
    val data = Array.fill(4)(Array[Byte](1, 0, 0xfe.toByte, 0xff.toByte)).flatten
    val media = Seq((3L, Multimodal.buildWav(data))).toDF("media_id", "payload")
    val r = Multimodal.extractWavFeatures(media).collect().head
    assert(r.getAs[Long]("channels") === 2)
    assert(r.getAs[Long]("n_frames") === 4)
    assert(r.getAs[Long]("ch0_sum") === 4, "channel 0 mass")
    assert(r.getAs[Long]("ch1_sum") === -8, "channel 1 mass (signed)")
    assert(r.getAs[Long]("peak_abs") === 2, "peak over |signed| samples")
    // a rejected payload reports -1, visible
    val bad = Seq((4L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    assert(Multimodal.extractWavFeatures(bad).collect().head
      .getAs[Long]("channels") === -1)
  }

  test("all three decoders never throw on arbitrary or mutated bytes (seeded fuzz)") {
    val rnd = new scala.util.Random(15)
    for (n <- Seq(0, 1, 11, 12, 43, 44, 45, 200, 4096); _ <- 1 to 100) {
      val b = new Array[Byte](n); rnd.nextBytes(b)
      Multimodal.decodeWav(b); Multimodal.decodeBmp(b); Multimodal.decodePpm(b)
    }
    val goodWav = Multimodal.buildWav(Array.tabulate(64)(_.toByte))
    for (_ <- 1 to 1000) {
      val b = goodWav.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Multimodal.decodeWav(b)
    }
    succeed
  }

  // ---------------------------------------------- BMP overflow guard

  test("decodeBmp: w=h≈1.76e9 crafted header rejects (the r14 ADVICE overflow)") {
    // width = height = 1759218605: stride*height AND w*h*3 both wrap
    // negative in Long, and rowBytes*height wraps negative in Int — the
    // old guards all passed and the allocation threw. The pixel-plane
    // bound w.toLong*h > Int.MaxValue/3 rejects before any of that math.
    val good = Multimodal.buildBmp(Array.tabulate(30)(_.toByte))
    val b = good.clone()
    val dim = 1759218605L
    for (off <- Seq(18, 22); i <- 0 until 4)
      b(off + i) = ((dim >> (8 * i)) & 0xff).toByte
    assert(Multimodal.decodeBmp(b).isEmpty, "huge dims must reject, not throw")
    // and the boundary stays permissive: dims whose plane fits Int decode
    assert(Multimodal.decodeBmp(good).nonEmpty)
  }

  // ------------------------------------------------- IMI × SQ8 tier

  test("probeImiSq8Index: deterministic reload; codes decode identically to flat SQ8 math") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_imisq8_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.ImiSq8, idx, e, Build(4, 4, iterations = 1))
    val q = e.filter(col("vec_id") < 4)
    val once = Similarity.probe(spark, Tier.ImiSq8, idx, q)(k = 5)
      .collect().map(_.toSeq)
    val again = Similarity.probe(spark, Tier.ImiSq8, idx, q)(k = 5)
      .collect().map(_.toSeq)
    assert(once.nonEmpty && once.toSeq === again.toSeq)
    // the stored codes are the SAME sq8Encode the flat tier writes: decode
    // roundtrips through the persisted stats bit-for-bit
    val dim = Similarity.embeddingDim(e)
    val (mn, mx) = Similarity.sq8Stats(e, dim)
    val s = spark.read.parquet(s"$idx/_sq8_v0").first()
    assert(s.getAs[Seq[Double]]("mn") === mn.toSeq)
    assert(s.getAs[Seq[Double]]("mx") === mx.toSeq)
  }

  test("IMI×SQ8 lifecycle: append+requantize equals a from-scratch composed build") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_imisq8_rq_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.ImiSq8, idx, e.filter(col("vec_id") % 5 =!= 0),
      Build(4, 4, iterations = 1))
    Similarity.append(spark, Tier.ImiSq8, idx, e.filter(col("vec_id") % 5 === 0))
    Similarity.requantize(Tier.ImiSq8, idx, e,
      Similarity.train(Tier.ImiSq8, e, Build(8, 8, iterations = 1), Similarity.embeddingDim(e)))
    val fresh = tmp.resolve("fresh").toString
    Similarity.build(Tier.ImiSq8, fresh, e, Build(8, 8, iterations = 1))
    val a = spark.read.parquet(s"$idx/data_v1")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    val b = spark.read.parquet(s"$fresh/data_v0")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq,
      "append + requantize must be indistinguishable from a fresh build")
  }

  test("removeFromImiSq8Index: codes move verbatim under ALL frozen sidecars") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_imisq8_rm_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.ImiSq8, idx, e, Build(4, 4, iterations = 1))
    val before = spark.read.parquet(s"$idx/data_v0")
      .filter(col("vec_id") % 5 =!= 0)
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    Similarity.remove(spark, Tier.ImiSq8, idx,
      e.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
    val after = spark.read.parquet(s"$idx/data_v1")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq, "kept codes byte-identical")
    // all three sidecars carried forward unchanged
    for (q <- Seq("_quantizer1_v", "_quantizer2_v", "_sq8_v"))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx, s"${q}1")),
        s"$q sidecar must advance with the generation")
  }

  // ------------------------------------------------- ann_recall floor

  test("ann_recall: absolute hit floors — a lockstep recall collapse fails even if both engines agree") {
    // the gate hash-matches Spark vs DuckDB, so a spec change that costs
    // recall IDENTICALLY on both engines would still pass it (r14
    // ADVICE). These floors pin measured absolute quality at this corpus
    // (ivf/sq8 = 23, imi/imisq8 = 36 of 80 at the gate's probe budgets —
    // the hash-quantizer tiers at tiny N; trained recall is far higher).
    val r = Similarity.annRecallFromDir(spark, sf)
      .agg(sum("k_truth"), sum("hits_ivf"), sum("hits_sq8"),
        sum("hits_imi"), sum("hits_imisq8")).first()
    info(s"hits: ivf ${r.getLong(1)} sq8 ${r.getLong(2)} imi ${r.getLong(3)} " +
      s"imisq8 ${r.getLong(4)}")
    assert(r.getLong(0) === 80)
    assert(r.getLong(1) >= 20, s"hits_ivf ${r.getLong(1)} collapsed")
    assert(r.getLong(2) >= 20, s"hits_sq8 ${r.getLong(2)} collapsed")
    assert(r.getLong(3) >= 30, s"hits_imi ${r.getLong(3)} collapsed")
    assert(r.getLong(4) >= 30, s"hits_imisq8 ${r.getLong(4)} collapsed")
  }

  test("ann_recall_pq: absolute hit floors for the PQ code family") {
    val r = Similarity.annRecallPqFromDir(spark, sf)
      .agg(sum("k_truth"), sum("hits_pq"), sum("hits_pqr"),
        sum("hits_pqres")).first()
    info(s"hits: pq ${r.getLong(1)} pqr ${r.getLong(2)} pqres ${r.getLong(3)}")
    assert(r.getLong(0) === 80)
    // raw 12-bit ADC is HONESTLY lossy (the rerank path recovers it);
    // measured 6 of 80 at this corpus — the floor is measured-minus-
    // margin (r15/r16 ask), so a code-math regression that halves the
    // honest ADC number now fails instead of coasting on >= 1
    assert(r.getLong(1) >= 3, s"hits_pq ${r.getLong(1)} collapsed")
    // the serving path: refine must buy recall back (measured 17 vs 6)
    assert(r.getLong(2) >= r.getLong(1), "refine must never lose hits")
    assert(r.getLong(2) >= 15, s"hits_pqr ${r.getLong(2)} collapsed")
    // residual 12-bit ADC (measured 11 vs raw's 6 — ahead even on this
    // isotropic corpus; the clustered-corpus spec below shows the regime
    // where the encoding's advantage is structural, not marginal)
    assert(r.getLong(3) >= 6, s"hits_pqres ${r.getLong(3)} collapsed")
  }

  test("residual PQ wins exactly where it should: a clustered corpus") {
    // the gate corpus is isotropic unit-norm noise (mean true top-10
    // cosine ~0.30 = the random-baseline for 64-d), where a trained
    // coarse quantizer explains little and residual codes lead only
    // modestly (11 vs 6 of 80 at sf0.001). Real embedding corpora are
    // CLUSTERED with LOW-DIMENSIONAL within-cluster
    // variation — build one (8 clusters around deterministic centers,
    // members varying on a 2-D sheet) and the FAISS argument
    // materializes: raw 12-bit PQ spends its 8 codewords per slice
    // separating the 8 CLUSTERS, collapsing every member of a cluster to
    // nearly the same codes (within-cluster ranking — which IS the
    // top-10 question — becomes tie-break noise), while residual codes
    // spend the same bits on the 2-D within-cluster sheet the ranking
    // actually lives on.
    val dim = 64
    val centers = Similarity.hashCentroids(dim, 8)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)._2.clone()
      c(0) += 0.9 * (rnd.nextDouble() * 2 - 1)
      c(1) += 0.9 * (rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(c.map(v => v * v).sum)
      (i.toLong, c.map(v => (v / n).toFloat).toSeq)
    }
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceKnn(e, queries, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hitsOf(build: String => Unit, probe: String => org.apache.spark.sql.DataFrame): Int = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_pqr_spec").toString
      build(tmp)
      probe(tmp).select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).count(truth)
    }
    val raw = hitsOf(Similarity.build(Tier.IvfPq, _, e, Build()),
      d => Similarity.probe(spark, Tier.IvfPq, d, queries)())
    val res = hitsOf(Similarity.build(Tier.IvfPqRes, _, e, Build()),
      d => Similarity.probe(spark, Tier.IvfPqRes, d, queries)())
    info(s"clustered corpus: raw-PQ hits $raw, residual-PQ hits $res of 80")
    assert(res > raw,
      s"residual codes must out-rank raw codes on clustered data ($res vs $raw)")
    assert(res >= 40, s"residual recall $res of 80 collapsed on easy clusters")
  }

  // ------------------------------------------- SemDeDup over the store

  test("semantic_dedup_imi seam: pruning the persisted store's assignment equals pruning a fresh one") {
    val e = Tables.embeddings(spark, sf).cache()
    val dim = Similarity.embeddingDim(e)
    val (c1, c2) = Similarity.trainImi(e, 8, 8, iterations = 2, dim)
    val fresh = SemanticDedup.pruneAssigned(
      Similarity.assignImi(e, c1, c2, dim / 2)
        .withColumn("centroid_id", col("cid1") * 8 + col("cid2"))
        .drop("cid1", "cid2")).collect().map(_.toSeq)
    val stored = SemanticDedup.imiFromDir(spark, sf).collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "the persisted store's assignment is the same pure function of the codebooks")
  }

  // --------------------------------------------- CCNet-composed curation

  test("curateLm drops exactly the scored tail tercile and keeps unscoreable docs") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val eval = docs.filter(col("doc_id") % 20 === 0)
    val ref = docs.filter(col("source") === "src0")
    val base = CurateE2e.curate(train, eval).select(col("doc_id"))
    val lm = CurateE2e.curateLm(train, eval, ref).select(col("doc_id"))
    val nBase = base.count()
    val nLm = lm.count()
    assert(nLm < nBase, "the LM stage must actually drop documents")
    // every kept doc was kept by the base DAG too (the stage only removes)
    assert(lm.join(base, Seq("doc_id"), "left_anti").count() === 0)
    // the drop is EXACTLY the tail tercile of the scored shipped
    // population: ranks with ((rk−1)·3) div n = 2, i.e. n − ⌈2n/3⌉ docs
    // (every shipped doc at this corpus has ≥2 tokens → all are scored)
    val shipped = nBase
    assert(nBase - nLm === shipped - (2 * shipped + 2) / 3,
      s"dropped ${nBase - nLm} of $shipped — must be the tail tercile")
  }

  // ------------------------------------------- streaming index ingest

  test("ivf_stream_append: watermark dedup drops every planted re-delivery before the store") {
    val e = Tables.embeddings(spark, sf)
    val dim = Similarity.embeddingDim(e)
    val backlog = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_spec")
    val idx = tmp.resolve("index").toString
    Similarity.buildWith(Tier.Ivf, idx, backlog,
      TierState(Seq(Similarity.hashCentroids(dim, 4))))
    val deltaRows = delta.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .as[(Long, Seq[Float])].collect()
    graft.streaming.IndexIngest.replayVectors(spark, deltaRows,
      b => Similarity.append(spark, Tier.Ivf, idx, b), nBatches = 3)
    val stored = spark.read.parquet(Similarity.ivfDataDir(idx))
      .groupBy(col("vec_id")).count()
    assert(stored.filter(col("count") > 1).count() === 0,
      "a surviving planted re-delivery would leave a duplicate vec_id in the store")
    assert(stored.count() === backlog.count() + deltaRows.length,
      "every distinct delta vector must land exactly once")
  }

  test("IndexIngest without dedup WOULD duplicate — the transform carries the guarantee") {
    // counter-factual: the plants are real re-deliveries (same id+vector),
    // so the signal the gate rides on is the dedup, not the batching
    val delta = Array((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.5f, 0.5f)), (4L, Seq(0.25f, 0.75f)))
    var appended = Vector.empty[Long]
    graft.streaming.IndexIngest.replayVectors(spark, delta,
      b => appended ++= b.select("vec_id").collect().map(_.getLong(0)),
      nBatches = 2)
    assert(appended.sorted === Vector(1L, 2L, 3L, 4L),
      s"each vec_id exactly once across micro-batches, got $appended")
  }

  // --------------------------------------------- DSIR importance resampling

  test("DSIR ranks target-like docs above off-target docs and samples deterministically") {
    import graft.operators.Dsir
    val target = (0L until 4L).map(i =>
      (i, Seq.fill(30)("alpha beta gamma delta").mkString(" "), "src0"))
    val likeTarget = (10L until 14L).map(i =>
      (i, Seq.fill(30)("alpha beta gamma delta").mkString(" "), "src1"))
    val offTarget = (20L until 32L).map(i =>
      (i, Seq.fill(30)("zork quux blarg wibble").mkString(" "), "src2"))
    val docs = (target ++ likeTarget ++ offTarget).toDF("doc_id", "text", "source")
    val out = Dsir.importanceSample(docs, docs.filter(col("source") === "src0"))
      .cache()
    val sampled = out.filter(col("sampled")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // n=20, quota=4 → ceil(20/4)=5 kept; the 8 target-vocabulary docs
    // carry logw ≫ 0 while off-target docs are ≪ 0 (Gumbel noise is
    // micros-scale against a ~1e8-micros margin), so every kept doc
    // must be target-like
    assert(out.filter(col("sampled")).count() === 5)
    assert(sampled.subsetOf((0L until 4L).toSet ++ (10L until 14L).toSet),
      s"sampled $sampled must be target-vocabulary docs")
    val again = Dsir.importanceSample(docs, docs.filter(col("source") === "src0"))
      .collect().map(_.toSeq)
    assert(again.toSeq === out.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq,
      "md5 Gumbel keys make the resample deterministic")
  }

  test("curateDsir keeps exactly the resampled quarter and only removes") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val eval = docs.filter(col("doc_id") % 20 === 0)
    val target = docs.filter(col("source") === "src0")
    val base = CurateE2e.curate(train, eval).select(col("doc_id"))
    val ds = CurateE2e.curateDsir(train, eval, target).select(col("doc_id"))
    val nBase = base.count()
    val nDs = ds.count()
    assert(ds.join(base, Seq("doc_id"), "left_anti").count() === 0,
      "the resample stage only removes")
    // every shipped doc at this corpus has >=1 token, so all are weighed
    // and the conservative keep rule reduces to the quota cut:
    // kept = ceil(nBase / quota)
    assert(nDs === (nBase + 3) / 4, s"kept $nDs of $nBase — must be the quota cut")
  }

  test("MRL serving: prefix shortlist + exact refine — hits floored, refined cosines ARE the brute cosines") {
    val truth = Similarity.knnFromDir(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    for ((name, df, floor) <- Seq(
      ("ann_mrl_rerank", Similarity.mrlRerankFromDir(spark, sf), 25),
      ("ivf_mrl_rerank",
        Similarity.lifecycle(Tier.Ivf, Op.Rerank())(Build(dPrime = 16))(spark, sf), 20))) {
      val rows = df.collect()
      val overlaps = rows.flatMap(r =>
        truth.get((r.getLong(0), r.getLong(2))).map(c => (c, r.getDouble(3))))
      info(s"$name: ${overlaps.length} of 80 true neighbors found")
      assert(overlaps.length >= floor, s"$name recall collapsed (${overlaps.length})")
      // the refine is EXACT full precision: any pair also in the brute
      // top-10 must carry the identical rounded cosine
      overlaps.foreach { case (t, m) => assert(t === m,
        s"$name refined cosine $m differs from brute $t") }
    }
  }

  test("MMR: the second pick skips the near-duplicate of the first") {
    import graft.operators.Mmr
    // query 0; candidates: A(1) ~ the query, A'(2) ~ a near-copy of A,
    // B(3) relevant-but-different. Plain top-2 is (A, A'); MMR's second
    // pick must be B — A' pays 3·maxsim for its similarity to A.
    val q = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val a = Seq(0.99f, 0.141f, 0.0f, 0.0f)
    val a2 = Seq(0.985f, 0.17f, 0.01f, 0.0f)
    val b = Seq(0.6f, 0.0f, 0.8f, 0.0f)
    val e = Seq((0L, q), (1L, a), (2L, a2), (3L, b))
      .toDF("vec_id", "embedding")
    val qd = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val nd = e.filter(col("vec_id") > 0)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val cands = qd.crossJoin(nd)
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.StableRound.microsLong(
          Similarity.cosine(col("qe"), col("ne"))).as("rel_micros"))
    val sims = nd.select(col("neighbor_id").as("id1"), col("ne").as("e1"))
      .crossJoin(nd.select(col("neighbor_id").as("id2"), col("ne").as("e2")))
      .filter(col("id1") =!= col("id2"))
      .select(lit(0L).as("query_id"), col("id1"), col("id2"),
        graft.functions.StableRound.microsLong(
          Similarity.cosine(col("e1"), col("e2"))).as("sim_micros"))
    val picks = Mmr.mmrSelect(cands, sims, k = 3)
      .select("pick", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(picks(1L) === 1L, "first pick is the most relevant")
    assert(picks(2L) === 3L, "second pick must diversify to B, not A's near-copy")
    assert(picks(3L) === 2L, "the near-copy arrives last")
  }

  // ------------------------------------------------- perceptual hash

  /** A P6 payload of the given RGB plane (hand-built, not via the text
    * builder — the spec pins the hash math on known pixels). */
  private def ppm(w: Int, h: Int, px: Array[Byte]): Array[Byte] =
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px

  private def ahashOf(payloads: Seq[(Long, Array[Byte])]) =
    Multimodal.ahashFeatures(
      payloads.toDF("media_id", "payload"))
      .orderBy(col("media_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  test("ahash: bright-top/dark-bottom image sets exactly the top half's bits") {
    // 8x8 image: rows 0-3 white (gray 765), rows 4-7 black (gray 0) —
    // mean is strictly between, so bands 0-3 read all-ones and 4-7 zero
    val px = Array.tabulate(8 * 8 * 3)(i => if (i < 8 * 4 * 3) 0xff.toByte else 0x00.toByte)
    val Array((_, w, h, hi, lo)) = ahashOf(Seq((1L, ppm(8, 8, px))))
    assert((w, h) === (8L, 8L))
    assert(lo === 0xffffffffL, "bits 0-31 = rows 0-3, all above the mean")
    assert(hi === 0L, "bits 32-63 = rows 4-7, all below the mean")
  }

  test("ahash: a uniform image is all ties -> all 64 bits set; sub-grid images report -1") {
    val uni = Array.fill(8 * 8 * 3)(0x40.toByte)
    val Array((_, _, _, hi, lo), (_, w2, _, hi2, lo2)) = ahashOf(Seq(
      (1L, ppm(8, 8, uni)),
      (2L, ppm(8, 4, Array.fill(8 * 4 * 3)(0x40.toByte))) // h < 8
    ))
    assert(hi === 0xffffffffL && lo === 0xffffffffL, "ties round to 1 everywhere")
    assert((w2, hi2, lo2) === (-1L, -1L, -1L), "sub-grid images stay visible as -1")
  }

  test("ahashNearDups: identical images pair at distance 0; a one-band flip still pairs; far images do not") {
    val top = Array.tabulate(8 * 8 * 3)(i => if (i < 8 * 4 * 3) 0xff.toByte else 0x00.toByte)
    // flip band (7,7) only: brighten the bottom-right pixel above the mean
    val tweaked = top.clone()
    for (k <- 0 until 3) tweaked((7 * 8 + 7) * 3 + k) = 0xff.toByte
    val bottom = Array.tabulate(8 * 8 * 3)(i => if (i < 8 * 4 * 3) 0x00.toByte else 0xff.toByte)
    val pairs = Multimodal.ahashNearDups(
      Seq((1L, ppm(8, 8, top)), (2L, ppm(8, 8, top)),
        (3L, ppm(8, 8, tweaked)), (4L, ppm(8, 8, bottom)))
        .toDF("media_id", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)), "identical images at hamming 0")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 >= 1L && p._3 <= 3L),
      "a single-cell edit stays within the banding radius")
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L),
      "the inverted image shares no 16-bit band")
  }
}
