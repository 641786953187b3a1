package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.operators.Pinned
import org.apache.spark.sql.functions._

/** Measured scaling curve: build deterministic ×k copies of the tables the
  * headline queries read, then time those queries at every scale.
  *
  * Scaling construction (all derived from the driver-generated base SF —
  * no synthetic distributions of our own):
  *   - `lineitem` ×k: k unions of the base with `l_orderkey` shifted per
  *     copy — the fact table grows k×, the dimension key domains
  *     (part/supplier) stay fixed, which is how a real orders fact grows.
  *   - `part`, `supplier`: copied as-is (dimensions don't grow with volume).
  *   - `documents` ×k: `doc_id` shifted per copy and every word of copies
  *     i>0 tagged with a per-copy prefix. Tagged shingles collide iff the
  *     original shingles collide, so each copy reproduces the base's
  *     near-dup pair structure EXACTLY (k× linear output) while sharing no
  *     shingles across copies — naive identical copies would instead add
  *     k² cross-copy duplicate pairs per base pair and the measurement
  *     would no longer be a scaling curve of the same workload.
  *
  * Usage: runMain graft.tools.ScaleBench <baseSfDir> <outRoot> <k1,k2,...>
  * Prints one JSON line per (scale, query) second-pass timing.
  */
object ScaleBench {

  val defaultHeadline: Seq[String] =
    Seq("q1_agg_orders", "q2_net_demand", "q3_supplier_orders", "dedup_minhash_lsh",
      "corpus_shards", "dedup_clusters",
      "sessions", "running_revenue", "lsh_ann_topk", "text_repetition",
      "text_redact", "dedup_delta_lsh",
      "doc_chunks", "tfidf_topk", "corpus_rollup", "boilerplate_frac",
      "text_bpe_merged", "corpus_split", "token_percentiles", "event_outliers",
      "semantic_quality", "dedup_source_matrix", "dedup_canonical",
      "pmi_bigrams",
      "ivf_ann_topk", "multimodal_features", "unigram_logprob",
      "dedup_canonical_indexed",
      "cluster_append", "corpus_split_indexed", "dedup_source_matrix_indexed",
      "corpus_split_append", "ivf_probe_indexed", "ivf_index_append",
      "bm25_topk", "dup_ngram_coverage", "label_knn_agreement_ivf",
      "bigram_logprob", "corpus_curate_e2e", "bm25_indexed",
      "bm25_index_append", "dup_span_removal",
      "bm25_index_compact", "ivf_index_compact", "ivf_requantize",
      "text_bpe_vocab", "dedup_index_compact",
      "semantic_dedup", "hybrid_rrf_ivf", "hard_negatives",
      "quality_classifier",
      // round-13 additions
      "kmeans_train", "ivf_ann_trained", "corpus_diff", "corpus_diff_recurate",
      "corpus_shuffle", "multimodal_decode", "ann_sq8_topk", "ivf_sq8_probe",
      "ivf_index_remove", "bm25_index_remove", "dedup_index_remove",
      "decontaminate_fuzzy", "ref_lm_logprob",
      // round-14 additions
      "ivf_ann_imi", "ann_recall", "ivf_sq8_remove", "corpus_curate_fuzzy",
      "multimodal_decode_bmp", "ivf_sq8_compact", "ivf_sq8_requantize",
      "ivf_imi_append", "ivf_imi_remove", "ivf_imi_compact",
      "ivf_imi_requantize", "ivf_imi_health", "hybrid_rrf_imi",
      "ref_lm_buckets", "decontamination_report",
      // round-15 additions
      "imi_sq8_probe", "imi_sq8_append", "semantic_dedup_imi",
      "multimodal_decode_wav", "corpus_curate_lm",
      // round-15 PQ tier + filtered search
      "ivf_pq_probe", "ivf_pq_rerank", "ivf_pq_append", "ivf_pq_remove",
      "ivf_pq_compact", "ivf_pq_requantize",
      "ivf_ann_filtered", "ivf_pq_filtered",
      // round-15 streaming ingest / DSIR / perceptual dedup
      "ivf_stream_append", "curation_dsir", "multimodal_ahash",
      "dedup_image_ahash", "corpus_curate_dsir", "imi_sq8_stream_append",
      // round-15 residual-PQ tier
      "ivf_pqr_probe", "ivf_pqr_rerank", "ivf_pqr_append",
      // round-15 MRL serving + MMR diversity
      "ivf_mrl_rerank", "mmr_rerank",
      // round-16 ImageIO (compressed-codec) decode tier + preprocessing
      "multimodal_decode_png", "multimodal_decode_jpeg",
      "multimodal_decode_mixed", "multimodal_resize", "audio_energy_windows",
      "multimodal_decode_gif",
      // round-17 split of the recall monolith
      "ann_recall_pq",
      // round-17 KMV sketches (the ×k copies word-prefix every doc, so
      // the distinct-shingle universe genuinely grows ×k under them)
      "sketch_kmv_cardinality", "sketch_kmv_overlap",
      "sketch_kmv_append", "sketch_kmv_source_overlap",
      // round-17 LSH recall certification gate
      "dedup_lsh_recall",
      // round-17 streaming sketch-store maintenance
      "sketch_stream_append")

  /** SPARK_GRAFT_SCALE_ONLY narrows the measured set (same validation rule
    * as Bench: unknown names abort, an empty result would mislead). */
  def headline: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      require(o.nonEmpty, "SPARK_GRAFT_SCALE_ONLY is set but names no queries")
      val unknown = o -- defaultHeadline.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_ONLY names not in headline: ${unknown.mkString(", ")}")
    }
    defaultHeadline.filter(n => only.forall(_.contains(n)))
  }

  // every table the headline queries read — the rebuild check is
  // per-table (NOT a bare _BUILT sentinel: a dir built by an older
  // ScaleBench with fewer tables must not be trusted as complete)
  private val scaledTables = Seq("lineitem", "part", "supplier", "documents",
    "events", "orders", "embeddings")

  /** Build (or reuse) the deterministic ×k copy of `base` under
    * `outRoot/x<k>` — shared with [[CScaledProbe]] so every scaling
    * measurement runs over the identical constructed corpus. */
  def buildScaled(spark: org.apache.spark.sql.SparkSession, base: String,
                  outRoot: String, k: Int): String = {
      val dir = s"$outRoot/x$k"
      val complete = new java.io.File(s"$dir/_BUILT").exists() &&
        scaledTables.forall(t => new java.io.File(s"$dir/$t.parquet").exists())
      if (!complete) {
        val li = spark.read.parquet(s"$base/lineitem.parquet")
        val okSpan = li.agg(max(col("l_orderkey"))).first().getLong(0) + 1L
        (0 until k).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * okSpan)))
          .reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        for (t <- Seq("part", "supplier"))
          spark.read.parquet(s"$base/$t.parquet")
            .write.mode("overwrite").parquet(s"$dir/$t.parquet")
        val docs = spark.read.parquet(s"$base/documents.parquet")
        val idSpan = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
        (0 until k).map { i =>
          if (i == 0) docs
          else docs
            .withColumn("doc_id", col("doc_id") + lit(i * idSpan))
            .withColumn("text", array_join(
              transform(split(col("text"), " "), w => concat(lit(s"c${i}w"), w)), " "))
        }.reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        // events ×k: the USER domain grows, per-user event density stays
        // fixed — how a real event stream grows. Each copy reproduces the
        // base's session structure exactly (k× sessions, same lengths).
        val ev = spark.read.parquet(s"$base/events.parquet")
        val uidSpan = ev.agg(max(col("user_id"))).first().getLong(0) + 1L
        val eidSpan = ev.agg(max(col("event_id"))).first().getLong(0) + 1L
        (0 until k).map(i => ev
          .withColumn("user_id", col("user_id") + lit(i * uidSpan))
          .withColumn("event_id", col("event_id") + lit(i * eidSpan)))
          .reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        // orders ×k: shifted keys — the prefix-sum workload grows linearly
        // over the same date span (more rows per range partition).
        val ord = spark.read.parquet(s"$base/orders.parquet")
        val oSpan = ord.agg(max(col("o_orderkey"))).first().getLong(0) + 1L
        (0 until k).map(i => ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan)))
          .reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        // embeddings ×k: identical vectors under shifted ids — every LSH
        // bucket's membership grows k× (copies land in the same buckets),
        // so ANN candidate generation and re-scoring scale k× linearly.
        val emb = spark.read.parquet(s"$base/embeddings.parquet")
        val vSpan = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
        (0 until k).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * vSpan)))
          .reduce(_.unionAll(_))
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        new java.io.File(s"$dir/_BUILT").createNewFile()
      }
      dir
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val ks = (if (args.length > 2) args(2) else "5,10").split(",").map(_.trim.toInt)
    val spark = GraftSession.builder("graft-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timeQuery(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally Pinned.release(spark)
    }

    // the extra small-scale point only applies when the base really is
    // sf0.1 — for any other base it would mislabel rel_volume (or measure
    // the same data twice) and fail outright if the dir is absent
    val small = "/root/testdata/sf0.01"
    val smallPoint =
      if (new java.io.File(base).getName == "sf0.1" && new java.io.File(small).isDirectory)
        Seq(("sf0.01", small, 0.1))
      else Seq.empty
    val scales: Seq[(String, String, Double)] =
      smallPoint ++ Seq(("base", base, 1.0)) ++
        ks.map(k => (s"x$k", buildScaled(spark, base, outRoot, k), k.toDouble))

    // two passes per (scale, query): first warms JIT/codegen/file listings,
    // the second is the reported steady-state number. For dedup_delta_lsh
    // the warmup pass also pays the memoized index build, so the reported
    // number is the DELTA path alone — the build is its own line below.
    //
    // A gate that copies a persisted store before mutating it (gate
    // scaffolding a production in-place op never pays) gets a `copy_sec`
    // field for its measured pass, so the recurring-cost claim can cite
    // the copy-free number.
    for ((label, dir, rel) <- scales; name <- headline) {
      timeQuery(name, dir)
      graft.operators.ClusterStore.resetStoreCopySecs()
      val sec = timeQuery(name, dir)
      val copySec = graft.operators.ClusterStore.lastStoreCopySecs
      val copy = if (copySec.isNaN) "" else s""","copy_sec":$copySec"""
      println(s"""{"scale":"$label","rel_volume":$rel,"query":"$name","sec":$sec$copy}""")
    }
    // one-time store builds per scale, through the same build phases Bench
    // measures (the dedup_canonical_indexed / dedup_delta_lsh rows above
    // time the CONSUME path, warm via the memoized per-dir build)
    for (consumer <- Seq("dedup_canonical_indexed", "dedup_delta_lsh")
         if headline.contains(consumer);
         phase <- SparkEntry.byName(consumer).phase; (label, dir, rel) <- scales) {
      try {
        val sec = phase.timeOnce(spark, dir)
        println(s"""{"scale":"$label","rel_volume":$rel,"query":"${phase.name}","sec":$sec}""")
      } finally Pinned.release(spark)
    }
    spark.stop()
  }
}
