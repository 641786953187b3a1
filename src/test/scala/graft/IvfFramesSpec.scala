package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.operators.{Multimodal, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class IvfFramesSpec extends SparkSpec {

  lazy val emb = Tables.embeddings(spark, sf).cache()
  lazy val queries = emb.filter(col("vec_id") < 8)

  test("IVF assignment covers every vector with a valid centroid id") {
    val centroids = Similarity.trainCentroids(emb, k = 8, iterations = 2)
    val assigned = Similarity.assignToCentroids(emb, centroids)
    assert(assigned.filter(col("centroid_id").isNull).count() === 0)
    assert(assigned.select("centroid_id").distinct().count() > 1)
    assert(assigned.count() === emb.count())
  }

  test("IVF ANN recall@10 vs brute force is reasonable; scores are exact") {
    val brute = Similarity.bruteForceKnn(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfKnn(emb, queries, k = 10, numCentroids = 8, nProbe = 4)
    val hit = brute.intersect(ivf.select("query_id", "neighbor_id")).count()
    val recall = hit.toDouble / brute.count()
    info(s"IVF recall@10 = $recall")
    assert(recall >= 0.3, s"recall $recall too low")
    // returned cosines are true cosines (re-score check on a sample)
    val sample = ivf.limit(20)
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")), Seq("query_id"))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")), Seq("neighbor_id"))
      .withColumn("check", round(Similarity.cosine(col("qe"), col("ne")), 8))
    assert(sample.filter(col("check") =!= col("cosine_r")).count() === 0)
  }

  test("materialized IVF index: probe equals in-memory IVF and partition-prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/index"
    Similarity.build(Tier.IvfTrained, dir, emb, Build(8))
    val fromIndex = Similarity.probe(spark, Tier.IvfTrained, dir, queries)(
      k = 10, nProbe = 4)
    // identical results to the in-memory path (same centroids, same probes)
    val inMemory = Similarity.ivfKnn(emb, queries, k = 10, numCentroids = 8, nProbe = 4)
    assert(fromIndex.collect().map(_.toSeq).toSeq === inMemory.collect().map(_.toSeq).toSeq)
    // the probed-cell filter reaches the scan as a PARTITION filter: only
    // the probed centroid directories are listed/read
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"probe must partition-prune, got:\n${plan.take(2000)}")
  }

  test("gated IVF: candidates come only from probed cells; results rank-consistent") {
    val dim = Similarity.embeddingDim(emb)
    val centroids = Similarity.hashCentroids(dim, 16)
    // deterministic quantizer components live in [-1, 1)
    assert(centroids.flatMap(_._2).forall(x => x >= -1.0 && x < 1.0))
    val out = Similarity.ivfAnnFromDir(spark, sf).collect()
    assert(out.nonEmpty)
    // per-query ranks are 1..n with strictly non-increasing cosine
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val cos = sorted.map(_.getDouble(3)).toSeq
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // every returned neighbor sits in one of its query's nProbe probed
    // cells — the cell-bounding invariant that makes IVF sub-corpus work
    val assigned = Similarity.assignToCentroids(emb, centroids)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probeSets = Similarity.queryProbes(queries, centroids, nProbe = 4)
      .select(col("query_id"), col("centroid_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getInt(1)).toSet }
    assert(probeSets.nonEmpty && probeSets.values.forall(_.size == 4))
    out.foreach { r =>
      val q = r.getLong(0); val nb = r.getLong(2)
      assert(assigned.contains(nb))
      assert(probeSets(q).contains(assigned(nb)),
        s"neighbor $nb of query $q sits in cell ${assigned(nb)} " +
          s"outside the probe set ${probeSets(q)}")
    }
  }

  test("multimodal byte features: hand-computed histogram/sum/hash, multi-byte UTF-8 counted as bytes") {
    import spark.implicits._
    // "Aé" = bytes [0x41, 0xC3, 0xA9]: nibbles 4, 12, 10; sum 0x41+0xC3+0xA9
    val (hist, sum, h) = Multimodal.byteFeatures("Aé".getBytes("UTF-8"))
    assert(hist(4) == 1 && hist(12) == 1 && hist(10) == 1 && hist.sum == 3)
    assert(sum == 0x41L + 0xC3L + 0xA9L)
    assert(h == ((0x41L * 131 + 0xC3L) % 1000000007L * 131 + 0xA9L) % 1000000007L)
    // empty payload: all zero, hash folds to 0
    val (eh, es, ep) = Multimodal.byteFeatures(Array.emptyByteArray)
    assert(eh.forall(_ == 0L) && es == 0L && ep == 0L)
    // end-to-end: histogram mass equals byte_length for every doc
    val out = Multimodal.extractByteFeatures(Multimodal.asBinaryPayloads(
      Seq((1L, "Aé", "s"), (2L, "hello world", "s")).toDF("doc_id", "text", "source")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3L)
    assert((0 until 16).map(i => out(2L).getLong(4 + i)).sum == out(2L).getLong(1))
  }

  test("frame sampling: count and size formula hold") {
    val media = Multimodal.asBinaryPayloads(Tables.documents(spark, sf))
    val frames = Multimodal.sampleFrames(media, frameSize = 64, stride = 128).cache()
    val perDoc = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
      .join(media.select(col("media_id"), length(col("payload")).as("len")), Seq("media_id"))
    val bad = perDoc.filter(
      col("n") =!= greatest(lit(0), floor((col("len") - 64) / 128) + 1))
    assert(bad.count() === 0)
    // every full frame is exactly frameSize bytes except possibly none (stride fits)
    assert(frames.filter(col("frame_bytes") > 64).count() === 0)
    assert(frames.filter(length(col("frame_md5")) =!= 32).count() === 0)
  }
}
