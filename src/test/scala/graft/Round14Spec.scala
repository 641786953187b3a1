package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{Curation, Multimodal, SemanticDedup, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-14 additions: the BMP decoder, the two-level IMI quantizer,
  * SQ8-tier deletion, and the frame-derived fuzzy-decon membership. */
class Round14Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------- BMP decoder

  test("buildBmp/decodeBmp: roundtrip restores image-order pixels; file is bottom-up + padded") {
    // 2 rows of 15 bytes with distinct content per row
    val row0 = Array.tabulate(15)(i => (i + 1).toByte)        // image TOP row
    val row1 = Array.tabulate(15)(i => (100 + i).toByte)      // image BOTTOM row
    val bmp = Multimodal.buildBmp(row0 ++ row1)
    assert(bmp.length === 54 + 2 * 16, "width 5 rows pad 15 -> 16 bytes")
    // the FILE stores rows bottom-up: first stored row is image row 1
    assert(bmp.slice(54, 69).toSeq === row1.toSeq)
    assert(bmp(69) === 0, "row pad byte")
    assert(bmp.slice(70, 85).toSeq === row0.toSeq)
    // the decoder undoes both quirks: image order, padding stripped
    val img = Multimodal.decodeBmp(bmp).get
    assert(img.width === 5 && img.height === 2)
    assert(img.pixels.toSeq === (row0 ++ row1).toSeq)
  }

  test("decodeBmp: structural validation rejects malformed payloads without throwing") {
    val good = Multimodal.buildBmp(Array.tabulate(30)(_.toByte))
    def mutated(f: Array[Byte] => Unit): Option[Multimodal.BmpImage] = {
      val b = good.clone(); f(b); Multimodal.decodeBmp(b)
    }
    assert(Multimodal.decodeBmp(Array[Byte](1, 2, 3)).isEmpty, "too short")
    assert(mutated(_(0) = 'X').isEmpty, "bad magic")
    assert(mutated(_(26) = 2).isEmpty, "planes != 1")
    assert(mutated(_(28) = 32).isEmpty, "not 24 bpp")
    assert(mutated(_(30) = 1).isEmpty, "compressed")
    assert(mutated(b => { b(22) = 0; b(23) = 0 }).isEmpty, "height 0")
    assert(Multimodal.decodeBmp(good.dropRight(1)).isEmpty, "truncated pixels")
    // crafted huge dims: width*height*3 overflows Int — the size math is
    // Long, so this must reject, not throw or wrap into acceptance
    assert(mutated { b =>
      for (off <- Seq(18, 22); i <- 0 until 4)
        b(off + i) = ((37838L >> (8 * i)) & 0xff).toByte
    }.isEmpty, "overflowing dims")
    // negative (top-down) height is unsupported -> reject
    assert(mutated(b => { b(22) = 0xfe.toByte; b(23) = 0xff.toByte
      b(24) = 0xff.toByte; b(25) = 0xff.toByte }).isEmpty, "top-down height")
  }

  test("extractBmpFeatures: row_weighted pins the bottom-up order") {
    // two rows whose sums differ: swapping row order flips the weighting
    val data = Array.fill(15)(1.toByte) ++ Array.fill(15)(3.toByte)
    val media = Seq((7L, Multimodal.buildBmp(data))).toDF("media_id", "payload")
    val r = Multimodal.extractBmpFeatures(media).collect().head
    assert(r.getAs[Long]("height") === 2)
    // image row 0 (weight 1) sums 15, row 1 (weight 2) sums 45 -> 105;
    // a top-down mis-read would give 45 + 2*15 = 75
    assert(r.getAs[Long]("row_weighted") === 15L + 2 * 45L)
    assert(r.getAs[Long]("b_sum") === 5 * 1 + 5 * 3)
  }

  test("decoders never throw on arbitrary or mutated bytes (seeded fuzz)") {
    // a decode seam fed by 100 TB of untrusted payloads must REJECT, not
    // crash the executor: random byte arrays and single-byte mutations of
    // valid payloads (which reach the deep header branches) may only ever
    // return None, never throw
    val rnd = new scala.util.Random(14)
    for (n <- Seq(0, 1, 13, 53, 54, 55, 200, 4096); _ <- 1 to 100) {
      val b = new Array[Byte](n); rnd.nextBytes(b)
      Multimodal.decodeBmp(b); Multimodal.decodePpm(b)
    }
    val goodBmp = Multimodal.buildBmp(Array.tabulate(60)(_.toByte))
    val goodPpm = "P6\n5 4\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(60)(_.toByte)
    for (_ <- 1 to 1000) {
      val b = goodBmp.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Multimodal.decodeBmp(b)
      val p = goodPpm.clone()
      p(rnd.nextInt(p.length)) = rnd.nextInt(256).toByte
      Multimodal.decodePpm(p)
    }
    succeed
  }

  // ----------------------------------------------- IMI quantizer

  test("assignImi: both half-assignments equal the per-half flat assignment") {
    val e = Tables.embeddings(spark, sf).limit(64).cache()
    val dim = Similarity.embeddingDim(e)
    val h = dim / 2
    val (c1, c2) = Similarity.trainImi(e, 4, 4, iterations = 1, dim)
    val imi = Similarity.assignImi(e, c1, c2, h)
      .select(col("vec_id"), col("cid1"), col("cid2"))
    val f1 = Similarity.assignToCentroids(
        e.select(col("vec_id"), slice(col("embedding"), 1, h).as("embedding")), c1)
      .select(col("vec_id"), col("centroid_id").as("cid1"))
    val f2 = Similarity.assignToCentroids(
        e.select(col("vec_id"), slice(col("embedding"), h + 1, h).as("embedding")), c2)
      .select(col("vec_id"), col("centroid_id").as("cid2"))
    assert(imi.join(f1.join(f2, Seq("vec_id")),
      Seq("vec_id", "cid1", "cid2")).count() === e.count())
  }

  test("probeImiIndex: persisted probe equals the in-memory IMI computation") {
    val e = Tables.embeddings(spark, sf).cache()
    val dim = Similarity.embeddingDim(e)
    val h = dim / 2
    val tmp = java.nio.file.Files.createTempDirectory("graft_imi_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.Imi, idx, e, Build(4, 4, iterations = 1))
    val queries = e.filter(col("vec_id") < 4)
    val persisted = Similarity.probe(spark, Tier.Imi, idx, queries)(k = 5)
      .collect().map(_.toSeq)
    // in-memory: same codebooks (training is deterministic), same probe
    val (cents1, cents2) = Similarity.trainImi(e, 4, 4, iterations = 1, dim)
    val cells = Similarity.assignImi(e, cents1, cents2, h)
    // one dir per populated combined cell in the persisted layout
    val cellDirs = java.nio.file.Files.list(java.nio.file.Paths.get(idx, "data_v0"))
      .filter(p => p.getFileName.toString.startsWith("centroid_id="))
      .count()
    val populated = cells.select((col("cid1") * 4 + col("cid2")).as("c"))
      .distinct().count()
    assert(cellDirs === populated)
    assert(persisted.nonEmpty)
    // save -> reload -> probe is deterministic
    val again = Similarity.probe(spark, Tier.Imi, idx, queries)(k = 5)
      .collect().map(_.toSeq)
    assert(persisted.toSeq === again.toSeq)
    // cell-bounded candidates: every returned neighbor shares BOTH
    // half-cells with one of its query's probe pairs
    val p1 = Similarity.queryProbes(
        queries.select(col("vec_id"), slice(col("embedding"), 1, h).as("embedding")),
        cents1, 2)
      .select(col("query_id"), col("centroid_id").as("cid1"))
    val p2 = Similarity.queryProbes(
        queries.select(col("vec_id"), slice(col("embedding"), h + 1, h).as("embedding")),
        cents2, 2)
      .select(col("query_id"), col("centroid_id").as("cid2"))
    val probeSet = p1.join(p2, Seq("query_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val neigh = cells.select(col("vec_id"), col("cid1"), col("cid2"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    for (row <- persisted) {
      val q = row.head.asInstanceOf[Long]
      val n = row(2).asInstanceOf[Long]
      val (nc1, nc2) = neigh(n)
      assert(probeSet.contains((q, nc1, nc2)),
        s"neighbor $n of query $q must come from a probed cell pair")
    }
  }

  // ----------------------------------------------- SQ8-tier deletion

  test("removeFromIvfSq8Index: removed ids vanish; crash residue is healed") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_sq8_rm_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.IvfSq8, idx, e, Build(8))
    // plant crash residue: a staged next generation whose manifest never
    // advanced (the failure mode the orphan sweep exists for)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(idx, "data_v1", "centroid_id=0"))
    val removed = e.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    Similarity.remove(spark, Tier.IvfSq8, idx, removed)
    val kept = spark.read.parquet(s"$idx/data_v1")
    assert(kept.filter(col("vec_id") % 5 === 0).count() === 0)
    assert(kept.count() === e.filter(col("vec_id") % 5 =!= 0).count())
    // frozen sidecars carried forward: stats equal the BUILD corpus's
    val dim = Similarity.embeddingDim(e)
    val (mn, mx) = Similarity.sq8Stats(e, dim)
    val s = spark.read.parquet(s"$idx/_sq8_v1").first()
    assert(s.getAs[Seq[Double]]("mn") === mn.toSeq)
    assert(s.getAs[Seq[Double]]("mx") === mx.toSeq)
    // probe works against the new generation
    val probe = Similarity.probe(spark, Tier.IvfSq8, idx,
      e.filter(col("vec_id") === 1))(k = 3)
    assert(probe.count() === 3)
  }

  test("remove and compact carry every sidecar forward row-identical (IVF-SQ8, IMI)") {
    val e = Tables.embeddings(spark, sf).cache()
    // a sidecar's rows from its listed part files, in a stable order
    def rows(path: String): Seq[String] = {
      val parts = new java.io.File(path).listFiles().map(_.getPath)
        .filterNot(f => Seq("_", ".").exists(new java.io.File(f).getName.startsWith))
      spark.read.parquet(parts.toIndexedSeq: _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }
    for ((tier, p) <- Seq(Tier.IvfSq8 -> Build(8), Tier.Imi -> Build(4, 4, iterations = 1))) {
      val idx = java.nio.file.Files.createTempDirectory("graft_carry_spec")
        .resolve("index").toString
      Similarity.build(tier, idx, e, p)
      // each commit retires the generation before it: read gen 0 first
      val built = tier.sidecars.map(q => q -> rows(s"$idx/${q}0")).toMap
      assert(built.values.forall(_.nonEmpty))
      Similarity.remove(spark, tier, idx, e.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      for (q <- tier.sidecars) assert(rows(s"$idx/${q}1") === built(q), s"${tier.name} $q after remove")
      Similarity.compact(spark, tier, idx)
      for (q <- tier.sidecars) assert(rows(s"$idx/${q}2") === built(q), s"${tier.name} $q after compact")
      assert(!new java.io.File(s"$idx/${tier.sidecars.head}1").exists, "gen 1 retired")
    }
  }

  // ------------------------------------- fuzzy membership from frames

  test("fuzzyContaminatedIds: membership derives from the eval frame, not an id convention") {
    // ids deliberately violate every %-convention: eval ids are odd/low
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val train = Seq(
      (101L, base + "unique train tail one"),
      (102L, "completely different content with no overlap at all here " * 5),
      (103L, base + "unique train tail two")).toDF("doc_id", "text")
    val eval = Seq((7L, base + "an eval variant suffix")).toDF("doc_id", "text")
    val bad = Curation.fuzzyContaminatedIds(train, eval, threshold = 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(bad === Set(101L, 103L),
      "the two near-dup TRAIN docs are flagged; the eval doc itself is not")
  }

  test("compactIvfSq8Index: content-preserving, one file per cell, generation advanced") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_sq8_cp_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.IvfSq8, idx, e.filter(col("vec_id") % 5 =!= 0), Build(8))
    Similarity.append(spark, Tier.IvfSq8, idx, e.filter(col("vec_id") % 5 === 0))
    val before = spark.read.parquet(s"$idx/data_v0")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    Similarity.compact(spark, Tier.IvfSq8, idx)
    val after = spark.read.parquet(s"$idx/data_v1")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq, "codes move verbatim")
    // one parquet file per cell dir after compaction
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(idx, "data_v1"))
      .filter(p => p.getFileName.toString.startsWith("centroid_id="))
      .iterator()
    while (dirs.hasNext) {
      val d = dirs.next()
      val files = java.nio.file.Files.list(d)
        .filter(_.getFileName.toString.endsWith(".parquet")).count()
      assert(files === 1, s"$d holds $files files after compaction")
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "data_v0")),
      "the retired generation is swept")
  }

  test("requantizeImiIndex: lifecycle-worn index equals a from-scratch build at the new (C1, C2)") {
    val e = Tables.embeddings(spark, sf).cache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_imi_rq_spec")
    val idx = tmp.resolve("index").toString
    Similarity.build(Tier.Imi, idx, e.filter(col("vec_id") % 5 =!= 0),
      Build(4, 4, iterations = 1))
    Similarity.append(spark, Tier.Imi, idx, e.filter(col("vec_id") % 5 === 0))
    Similarity.requantize(Tier.Imi, idx, e,
      Similarity.train(Tier.Imi, e, Build(8, 8, iterations = 1), Similarity.embeddingDim(e)))
    val fresh = tmp.resolve("fresh").toString
    Similarity.build(Tier.Imi, fresh, e, Build(8, 8, iterations = 1))
    val a = spark.read.parquet(s"$idx/data_v1")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    val b = spark.read.parquet(s"$fresh/data_v0")
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq,
      "append + requantize must be indistinguishable from a fresh build")
    val q = e.filter(col("vec_id") < 3)
    assert(Similarity.probe(spark, Tier.Imi, idx, q)(k = 5)
      .collect().map(_.toSeq).toSeq
      === Similarity.probe(spark, Tier.Imi, fresh, q)(k = 5)
      .collect().map(_.toSeq).toSeq)
  }

  test("pruneAssigned == pruneWith under the same assignment (the probe seam is faithful)") {
    val e = Tables.embeddings(spark, sf).limit(128).cache()
    val cents = Similarity.hashCentroids(Similarity.embeddingDim(e), 8)
    val a = SemanticDedup.pruneWith(e, cents).collect().map(_.toSeq)
    val b = SemanticDedup.pruneAssigned(
      Similarity.assignToCentroids(e, cents)).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }
}
