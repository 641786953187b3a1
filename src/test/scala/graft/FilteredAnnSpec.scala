package graft

import graft.operators.Similarity
import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Filtered (predicate-constrained) vector search: the index is built
  * once over everything; a probe constrains results to an allowed-id
  * set by semi-joining CANDIDATES (not post-filtering the top-k). */
class FilteredAnnSpec extends SparkSpec {

  test("every filtered neighbor satisfies the predicate; ranks stay contiguous") {
    for (df <- Seq(Similarity.lifecycle(Tier.Ivf, Op.Filtered())()(spark, sf),
                   Similarity.lifecycle(Tier.IvfPq, Op.Filtered())()(spark, sf))) {
      val r = df.cache()
      val en = Tables.documents(spark, sf).filter(col("lang") === "en")
        .select(col("doc_id").as("neighbor_id"))
      assert(r.join(en, Seq("neighbor_id"), "left_anti").count() === 0,
        "a neighbor outside the predicate leaked through the filter")
      // per query, ranks are exactly 1..n (the window ran AFTER the filter —
      // a post-filtered top-k would leave holes)
      val bad = r.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
        .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
      assert(bad === 0, "ranks must be contiguous from 1 after filtering")
      assert(r.count() > 0)
    }
  }

  test("filtering the full index equals probing an index built over only the allowed rows") {
    // the hash quantizer is data-independent, so per-row cell assignment
    // is identical whether or not the other rows exist — the semi-join
    // on candidates must therefore reproduce a from-scratch index over
    // the allowed subset exactly (same queries, same probe budget)
    val e = Tables.embeddings(spark, sf).cache()
    val allowedIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val filtered = Similarity.lifecycle(Tier.Ivf, Op.Filtered())()(spark, sf)
      .collect().map(_.toSeq)
    val tmp = java.nio.file.Files.createTempDirectory("graft_filtered_twin")
    val idx = tmp.resolve("index").toString
    // the SAME data-independent hash quantizer the gate's store uses
    // (Tier.IvfTrained would TRAIN on the subset — a different quantizer)
    Similarity.buildWith(Tier.Ivf, idx, e.join(allowedIds, Seq("vec_id"), "left_semi"),
      TierState(Seq(Similarity.hashCentroids(Similarity.embeddingDim(e), 16))))
    val fresh = Similarity.probe(spark, Tier.Ivf, idx, e.filter(col("vec_id") < 8))()
      .collect().map(_.toSeq)
    assert(filtered.toSeq === fresh.toSeq)
  }

  test("a selective predicate still returns k results when the probed cells hold them") {
    // post-filtering top-10 of the unfiltered probe would keep only the
    // allowed subset of those 10 — strictly fewer rows than the
    // candidate-filtered search whenever the predicate is selective.
    val filtered = Similarity.lifecycle(Tier.Ivf, Op.Filtered())()(spark, sf).count()
    val unf = Similarity.lifecycle(Tier.Ivf)()(spark, sf)
    val en = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select(col("doc_id").as("neighbor_id"))
    val postFiltered = unf.join(en, Seq("neighbor_id"), "left_semi").count()
    assert(filtered > postFiltered,
      s"candidate-filtering ($filtered rows) must beat post-filtering ($postFiltered)")
  }
}
