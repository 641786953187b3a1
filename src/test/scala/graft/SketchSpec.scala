package graft

import graft.functions.KmvSketch
import graft.operators.{Dedup, Sketches}
import org.apache.spark.sql.functions._

/** KMV bottom-k sketch: the bounded-state aggregate itself (vs the brute
  * reference, across partial/merge paths), the per-source cardinality
  * gate, and the mergeability the overlap gate rides on. */
class SketchSpec extends SparkSpec {

  import spark.implicits._

  test("kmv_bottom_k equals the brute bottom-k across partitions, dups, and k regimes") {
    // duplicated multiset with a skewed head, scattered over 7 partitions
    // so the final value passes through partial buffers + merge
    val vals: Seq[Long] = (1L to 400L).flatMap(i => Seq.fill(1 + (i % 3).toInt)(i * 104729L % 9973L))
    val df = vals.toDF("h").repartition(7)
    for (k <- Seq(2, 16, 128, 20000)) { // 20000 > |distinct|: exact regime
      val got = df.agg(KmvSketch.kmvBottomK(col("h"), k)).as[Seq[Long]].head()
      assert(got == KmvSketch.reference(vals, k), s"k=$k mismatch")
    }
    // nulls ignored like every SQL aggregate
    val withNulls = Seq[java.lang.Long](5L, null, 1L, null, 3L).toDF("h").repartition(3)
    assert(withNulls.agg(KmvSketch.kmvBottomK(col("h"), 2)).as[Seq[Long]].head() == Seq(1L, 3L))
  }

  test("kmv cardinality gate: exact columns right, estimator inside the analytic band") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = Sketches.kmvCardinality(docs).collect()
    assert(rows.length == 20, "one row per source")
    // brute per-source bottom-128 from first principles (distinct hashes,
    // sort, take k) — the aggregate must reproduce it exactly
    val brute = docs
      .select(col("source"), explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("s"))
      .select(col("source"), Dedup.hash60(col("s")).as("h")).distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= 128)
      .groupBy("source").agg(max("h").as("kth"), count(lit(1)).as("ku"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (kth, ku) = brute(src)
      assert(r.getAs[Long]("kth_min") == kth, s"$src kth_min")
      assert(r.getAs[Long]("k_used") == ku && ku == 128L,
        s"$src saturates k at this corpus (universe ≈1.1-1.6k)")
      val est = r.getAs[Double]("est_distinct")
      val exact = r.getAs[Long]("exact_distinct").toDouble
      // expected rel err ~1/sqrt(k-2) ≈ 8.9%; 4x that as the hard band
      assert(math.abs(est - exact) / exact < 0.36,
        s"$src estimate $est vs exact $exact outside 4-sigma band")
      assert(r.getAs[Double]("rel_err_pct") >= 0.0)
    }
  }

  test("kmv overlap gate: sketch merge == direct union bottom-k; inclusion-exclusion consistent") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val row = Sketches.kmvOverlap(docs).collect() match {
      case Array(r) => r
      case other => fail(s"expected one row, got ${other.length}")
    }
    // the merge property the at-scale protocol rides on: bottom-k of the
    // union's distinct hashes, computed directly, must yield the same
    // (k_used, kth) the gate derived by merging the two half-sketches
    val uh = docs
      .select(explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("s"))
      .select(Dedup.hash60(col("s")).as("h")).distinct()
    val kthDirect = uh.orderBy("h").limit(256).agg(max("h"), count(lit(1)))
      .as[(Long, Long)].head()
    val estU = 255.0 * (1L << 60).toDouble / kthDirect._1.toDouble
    assert(math.abs(row.getAs[Double]("est_union") - math.floor(estU * 1e4 + 0.5) / 1e4) < 1e-9,
      "union estimate must come from the merged sketch = direct union bottom-k")
    // inclusion-exclusion ties the four exact columns
    assert(row.getAs[Long]("exact_union") ==
      row.getAs[Long]("exact_a") + row.getAs[Long]("exact_b") - row.getAs[Long]("exact_inter"))
    // the halves genuinely overlap at this corpus and the estimate sees it
    assert(row.getAs[Long]("exact_inter") > 0)
    assert(row.getAs[Double]("est_inter") > 0.0)
    assert(row.getAs[Double]("est_jaccard") > 0.0 && row.getAs[Double]("est_jaccard") < 1.0)
  }

  test("kmv store append == full rebuild (merge property end-to-end)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("kmv_store_spec").toString
    Sketches.writeStore(docs.filter(col("doc_id") % Sketches.DeltaMod =!= 0), tmp)
    val appended = Sketches.appendProbe(spark, tmp,
      docs.filter(col("doc_id") % Sketches.DeltaMod === 0)).collect()
    val full = Sketches.kmvCardinality(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("k_used"), r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct")))
      .toMap
    assert(appended.length == full.size)
    appended.foreach { r =>
      val (ku, kth, est) = full(r.getAs[String]("source"))
      assert(r.getAs[Long]("k_used") == ku)
      assert(r.getAs[Long]("kth_min") == kth,
        s"${r.getAs[String]("source")}: merged kth must equal the rebuild's")
      assert(r.getAs[Double]("est_distinct") == est)
    }
  }

  test("kmv store append: store-only and delta-only sources pass through the outer join") {
    val store = Seq(("only_store", "alpha beta gamma delta"), ("both", "one two three four"))
      .toDF("source", "text").withColumn("doc_id", lit(1L))
    val delta = Seq(("both", "five six seven eight"), ("only_delta", "x y z w"))
      .toDF("source", "text").withColumn("doc_id", lit(2L))
    val tmp = java.nio.file.Files.createTempDirectory("kmv_store_edge").toString
    Sketches.writeStore(store, tmp)
    val out = Sketches.appendProbe(spark, tmp, delta).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("k_used")).toMap
    // 4 tokens -> 2 word-3-grams per doc; "both" merges 2+2 distinct hashes
    assert(out == Map("only_store" -> 2L, "both" -> 4L, "only_delta" -> 2L))
  }

  test("kmv source-overlap matrix: M^2 pairs from M sketches, pairwise merge == direct union bottom-k") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val rows = Sketches.kmvSourceOverlap(docs).collect()
    assert(rows.length == 20 * 19 / 2, "one row per unordered source pair")
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Double]("est_inter") >= 0.0, "inclusion-exclusion clamped at 0")
      assert(r.getAs[Double]("est_jaccard") <= 1.0 + 1e-9)
    }
    // spot-verify one pair against a from-first-principles union bottom-k
    val pair = rows.head
    val (sa, sb) = (pair.getAs[String]("src_a"), pair.getAs[String]("src_b"))
    val kth = docs.filter(col("source").isin(sa, sb))
      .select(explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("s"))
      .select(Dedup.hash60(col("s")).as("h")).distinct()
      .orderBy("h").limit(128).agg(max("h")).as[Long].head()
    val estU = 127.0 * (1L << 60).toDouble / kth.toDouble
    assert(pair.getAs[Double]("est_union") == math.floor(estU * 1e4 + 0.5) / 1e4,
      s"pair ($sa,$sb) union estimate must equal the direct union bottom-k's")
  }

  test("streaming sketch ingest: replay with planted re-deliveries == full rebuild") {
    val est = graft.streaming.SketchIngest.replayDocs(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("k_used"),
        r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct")))
    val full = Sketches.kmvCardinality(graft.sources.Tables.documents(spark, sf))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("k_used"),
        r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct")))
    assert(est.toSeq == full.toSeq,
      "the streamed store (with duplicates planted) must equal the batch rebuild")
  }

  test("streaming sketch ingest: committed batchIds skip; re-merging a batch is an algebraic no-op") {
    val docs = Seq((1L, "alpha beta gamma delta", "s1"), (2L, "one two three four", "s2"))
      .toDF("doc_id", "text", "source")
    val root = java.nio.file.Files.createTempDirectory("sketch_ingest_spec")
    val dir = root.toString
    try {
      graft.streaming.SketchIngest.init(docs, dir)
      val batch = Seq((3L, "five six seven eight", "s1")).toDF("doc_id", "text", "source")
      graft.streaming.SketchIngest.mergeBatch(spark, dir)(batch, 0L)
      val after1 = Sketches.storeEstimates(
        spark.read.parquet(graft.streaming.SketchIngest.currentGenPath(dir))).collect().toSeq
      // ledger guard: same batchId replays whole -> no new generation
      graft.streaming.SketchIngest.mergeBatch(spark, dir)(batch, 0L)
      assert(graft.streaming.SketchIngest.currentGenPath(dir).endsWith("gen-b0"))
      // set algebra: the SAME ROWS under a NEW batchId write a new
      // generation whose sketches are identical — re-delivery cannot move
      // a KMV sketch
      graft.streaming.SketchIngest.mergeBatch(spark, dir)(batch, 1L)
      assert(graft.streaming.SketchIngest.currentGenPath(dir).endsWith("gen-b1"))
      val after2 = Sketches.storeEstimates(
        spark.read.parquet(graft.streaming.SketchIngest.currentGenPath(dir))).collect().toSeq
      assert(after2 == after1)
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(root))
  }

  test("sketch ingest prune keeps a GenerationsKept-deep reader grace window") {
    // r18 ADVICE: the one-generation grace bounded an in-flight reader's
    // scan to a single micro-batch interval; the prune must keep the
    // newest GenerationsKept generations and delete everything older
    val docs = Seq((1L, "alpha beta gamma delta", "s1"))
      .toDF("doc_id", "text", "source")
    val root = java.nio.file.Files.createTempDirectory("sketch_prune_spec")
    val dir = root.toString
    try {
      graft.streaming.SketchIngest.init(docs, dir)
      def gens(): Set[String] = {
        val s = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n == "gen-init" || n.startsWith("gen-b")).toSet
        } finally s.close()
      }
      for (b <- 0L to 2L) {
        val batch = Seq((10L + b, s"word$b more words here", "s1"))
          .toDF("doc_id", "text", "source")
        graft.streaming.SketchIngest.mergeBatch(spark, dir)(batch, b)
      }
      assert(gens() === Set("gen-b0", "gen-b1", "gen-b2"),
        "after 3 commits: init pruned, the newest GenerationsKept survive")
      graft.streaming.SketchIngest.mergeBatch(spark, dir)(
        Seq((20L, "yet more new words", "s2")).toDF("doc_id", "text", "source"), 3L)
      assert(gens() === Set("gen-b1", "gen-b2", "gen-b3"),
        "each further commit slides the grace window by one")
      assert(graft.streaming.SketchIngest.GenerationsKept >= 3,
        "a reader must survive at least two commits between resolve and scan")
      // r19 ADVICE: an unparsable gen-b* dir used to sort NEWEST forever —
      // never pruned, permanently eating one reader-grace slot. It is now
      // QUARANTINED: it neither consumes a keep slot (the three real
      // generations still slide) nor gets deleted (the store never
      // recursively deletes a directory it cannot prove it wrote).
      java.nio.file.Files.createDirectory(root.resolve("gen-bcorrupt"))
      graft.streaming.SketchIngest.mergeBatch(spark, dir)(
        Seq((21L, "even newer words arrive", "s1")).toDF("doc_id", "text", "source"), 4L)
      assert(gens() === Set("gen-b2", "gen-b3", "gen-b4", "gen-bcorrupt"),
        "a foreign dir is quarantined: no grace slot consumed, nothing foreign deleted")
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(root))
  }

  test("sketch-only plan partial-aggregates map-side (the 100 TB shape)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val sketchOnly = docs
      .select(col("source"), explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("s"))
      .select(col("source"), Dedup.hash60(col("s")).as("h"))
      .groupBy("source").agg(KmvSketch.kmvBottomK(col("h"), 128).as("sk"))
    val plan = sketchOnly.queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans as ObjectHashAggregate with a partial
    // phase below the exchange: the distinct key set never shuffles
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert("partial_kmv_bottom_k|partial kmv_bottom_k|kmv_bottom_k".r
      .findFirstIn(plan).isDefined)
    val nAggs = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(nAggs >= 2, s"expected partial+final aggregate pair, plan had $nAggs")
  }
}
