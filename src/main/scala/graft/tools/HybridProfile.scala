package graft.tools

import graft.GraftSession
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-level wall profile of hybrid_rrf_indexed (guide §1). */
object HybridProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.get("graft-hybrid-profile")
    def time(label: String)(f: => DataFrame): Unit = {
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(label)
        f.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Pinned.release(spark)
        spark.sharedState.cacheManager.clearCache()
        println(f"[profile] $label%-28s rep$i $secs%7.2fs")
      }
    }
    val docs = Tables.documents(spark, dir)
    // warm the memoized IVF store once so the probe stage measures serving
    Similarity.lifecycle(Similarity.Tier.Ivf)()(spark, dir)
      .write.format("noop").mode("overwrite").save()
    Pinned.release(spark); spark.sharedState.cacheManager.clearCache()

    def tf = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    time("bm25_tf_stage")(tf)
    time("tf_plus_dl_df") {
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      dl.crossJoin(df.agg(count(lit(1)).as("nterms")))
    }
    time("lex_list")(HybridRetrieval.lexList(docs, 8, 20, 1.2, 0.75))
    time("ivf_probe_only")(Similarity.lifecycle(Similarity.Tier.Ivf)()(spark, dir))
    time("fuse_on_local") {
      import spark.implicits._
      val lex = (0L until 8L).flatMap(q => (1L to 20L).map(r =>
        (q, q * 100 + r, r))).toDF("query_id", "doc_id", "lrank")
      val vec = (0L until 8L).flatMap(q => (1L to 20L).map(r =>
        (q, q * 100 + r + 10, r))).toDF("query_id", "doc_id", "vrank")
      HybridRetrieval.fuse(lex, vec, 10, 60)
    }
    time("hybrid_full")(HybridRetrieval.fromDirIndexed(spark, dir))
    spark.stop()
  }
}
