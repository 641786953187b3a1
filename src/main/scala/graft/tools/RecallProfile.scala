package graft.tools

import graft.GraftSession
import graft.operators._
import graft.operators.Similarity.{Op, Tier}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-level wall profile of the ann_recall / ann_recall_pq composites
  * (guide §1): each constituent probe path alone, then the composite —
  * shows whether the composite pays the sum of its parts or overlaps
  * their stages. */
object RecallProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.get("graft-recall-profile")
    def time(label: String)(f: => DataFrame): Unit = {
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(label)
        f.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Pinned.release(spark)
        spark.sharedState.cacheManager.clearCache()
        println(f"[profile] $label%-24s rep$i $secs%7.2fs")
      }
    }
    // warm all memoized index stores once so probes time SERVING
    Similarity.annRecallFromDir(spark, dir).write.format("noop").mode("overwrite").save()
    Similarity.annRecallPqFromDir(spark, dir).write.format("noop").mode("overwrite").save()
    Pinned.release(spark); spark.sharedState.cacheManager.clearCache()

    val e = Tables.embeddings(spark, dir)
    time("truth_brute") {
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 8), 10)
    }
    time("ivf_probe_indexed")(Similarity.lifecycle(Tier.Ivf)()(spark, dir))
    time("ivf_sq8_probe")(Similarity.lifecycle(Tier.IvfSq8)()(spark, dir))
    time("imi_ann")(Similarity.lifecycle(Tier.Imi)(nProbe = 4, nProbe2 = 4)(spark, dir))
    time("imi_sq8_probe")(Similarity.lifecycle(Tier.ImiSq8)(nProbe = 4, nProbe2 = 4)(spark, dir))
    time("ann_recall")(Similarity.annRecallFromDir(spark, dir))
    time("pq_probe")(Similarity.lifecycle(Tier.IvfPq)()(spark, dir))
    time("pqr_rerank")(Similarity.lifecycle(Tier.IvfPq, Op.Rerank())()(spark, dir))
    time("pqres_probe")(Similarity.lifecycle(Tier.IvfPqRes)()(spark, dir))
    time("ann_recall_pq")(Similarity.annRecallPqFromDir(spark, dir))
    spark.stop()
  }
}
