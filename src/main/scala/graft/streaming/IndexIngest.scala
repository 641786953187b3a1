package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming ingestion into the persisted ANN serving stores — the
  * continuous-arrival face of the index lifecycle: vectors arrive as a
  * stream (at-least-once, so re-deliveries happen), are deduplicated by
  * `vec_id` within a watermark, and every surviving micro-batch lands in
  * the live generation's cell directories through the store's O(batch)
  * append (`Similarity.append`, written once over every tier — the sink
  * is a callback, so ONE ingest transform serves every tier).
  *
  * Division of labor, mirroring [[CorpusIngest]]: the stream guarantees
  * bounded-state effectively-once ingestion — source re-deliveries die at
  * the watermark dedup, sink-side batch replays die at [[start]]'s
  * batchId ledger (state = one entry per distinct vec_id inside the
  * watermark, plus one marker file per committed batch); index
  * MAINTENANCE (compact,
  * requantize-on-drift, takedown) stays batch on its own cadence, reading
  * the health scan. Appends never rewrite old cells, so a micro-batch
  * costs O(batch) regardless of index size — the property that makes a
  * streaming ingest viable against a 100 TB store.
  *
  * Scale: the only stateful operator is the watermark dedup (state sized
  * by arrival rate × watermark, not corpus); assignment inside the sink is
  * the same plan-literal argmax every batch append uses; each micro-batch
  * writes only its own cell files.
  */
object IndexIngest {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("ingest_ts", TimestampType)))

  /** The arrival-dedup rule, shared by [[start]] (production file-watch
    * wiring) and [[replayVectors]] (the gated MemoryStream replay) — ONE
    * copy of the rule so the gated path proves the production path.
    * At-least-once delivery → effectively-once index content: a
    * re-delivered vec_id inside the watermark is dropped BEFORE the sink,
    * so the store never holds a duplicate row (which would surface as a
    * duplicate neighbor in every probe that reads its cell). */
  def dedupArrivals(vecs: DataFrame, watermark: String = "1 hour"): DataFrame =
    vecs.withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("vec_id")

  /** Production wiring: watch a directory of vector parquet
    * (vec_id, embedding, ingest_ts), dedup within the watermark, hand each
    * surviving micro-batch to the store's O(batch) append callback.
    *
    * `stateDir` is SINK-SIDE state, placed beside the index store (NOT
    * inside the watched input directory — the old layout worked only
    * because Spark's file source skips dot-prefixed paths): it holds the
    * streaming checkpoint and the batch-commit ledger below.
    *
    * Sink idempotency: the watermark dedup only covers SOURCE
    * re-deliveries; Structured Streaming additionally RE-EXECUTES an
    * uncommitted micro-batch after failure/restart, and the store append
    * is mode(append) — a naive replay would land rows twice (duplicate
    * vec_ids in cells → duplicate neighbors in every probe). Each batch
    * therefore commits a marker file keyed by batchId after its append
    * returns, and a replayed batchId is skipped (the standard foreachBatch
    * dedup recipe from the Spark docs). Residual window: a crash BETWEEN
    * the append finishing and the marker write still duplicates that one
    * batch on restart — closing it needs the store write and the marker
    * to commit atomically (batchId-keyed generation files), which the
    * maintenance compaction can also repair after the fact. */
  def start(spark: SparkSession, watchDir: String, stateDir: String,
            append: DataFrame => Unit, watermark: String = "1 hour"): StreamingQuery =
    dedupArrivals(spark.readStream.schema(vecSchema).parquet(watchDir), watermark)
      .writeStream
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .foreachBatch(guardedAppend(stateDir, append))
      .start()

  /** The batchId-ledger guard around `append` (see [[start]]): skip a
    * batchId whose marker exists; otherwise append, then commit the
    * marker. Factored out so the replay-a-committed-batch path is
    * directly spec-testable without a restart harness. */
  private[graft] def guardedAppend(stateDir: String,
                                   append: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val ledger = java.nio.file.Paths.get(stateDir, "commits")
    (b: DataFrame, batchId: Long) => {
      val marker = ledger.resolve(s"batch-$batchId")
      if (java.nio.file.Files.exists(marker))
        System.err.println(s"[index-ingest] batch $batchId already committed — skipping replay")
      else {
        append(b.select(col("vec_id"), col("embedding")))
        java.nio.file.Files.createDirectories(ledger)
        java.nio.file.Files.createFile(marker)
      }
    }
  }

  /** Gated replay: split `delta` into `nBatches` even micro-batches with a
    * DETERMINISTIC synthetic arrival time (base + batch-index seconds —
    * production's wall clock would never hash-match an oracle), planting a
    * re-delivery of every 2nd delta vector — SAME vec_id, SAME embedding —
    * into the FOLLOWING batch (plus one trailing batch so the last batch's
    * plants are exercised too, the [[CorpusIngest.ingestStreamFromDir]]
    * convention). [[dedupArrivals]] must drop every plant: a surviving one
    * would append a duplicate row to the store, the probe would emit the
    * duplicate neighbor at adjacent ranks and shift everything below it —
    * the full-corpus oracle cannot hash-match that.
    *
    * Driver-side `delta` is the MemoryStream replay harness (gate scale
    * only), the adjudicated [[CorpusIngest]] pattern. */
  def replayVectors(spark: SparkSession,
                    delta: Array[(Long, Seq[Float])],
                    append: DataFrame => Unit,
                    nBatches: Int = 4,
                    watermark: String = "1 hour"): Unit = {
    require(delta.nonEmpty, "empty delta: nothing to replay")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(b: Int) = new java.sql.Timestamp(base.getTime + b * 1000L)
    val batches = Replay.evenBatches(delta, nBatches)
    val plants = batches.map(_.zipWithIndex.collect {
      case (row, i) if i % 2 == 0 => row
    })
    val timed = batches.zipWithIndex.map { case (b, k) =>
      (b ++ (if (k == 0) Nil else plants(k - 1)))
        .map { case (id, emb) => (id, emb, at(k)) }
    } :+ plants.last.map { case (id, emb) => (id, emb, at(batches.size)) }
    runForeachBatch(spark, timed, append, watermark)
  }

  /** The foreachBatch twin of [[Replay.run]]: same 4-wide shuffle conf
    * save/restore discipline (set INSIDE the try — an analysis-time
    * failure must not pin the session at 4 partitions), but the sink is a
    * side-effecting per-batch callback instead of a memory table. */
  private def runForeachBatch(spark: SparkSession,
                              batches: Seq[Seq[(Long, Seq[Float], java.sql.Timestamp)]],
                              append: DataFrame => Unit,
                              watermark: String): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    var q: StreamingQuery = null
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
      q = dedupArrivals(mem.toDF().toDF("vec_id", "embedding", "ingest_ts"), watermark)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          // cast pins the exact store column type across the seam (the
          // encoder's element nullability must not fork the parquet schema)
          append(b.select(col("vec_id"),
            col("embedding").cast(ArrayType(FloatType)).as("embedding")))
        }
        .start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally {
      if (q != null) q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }
}
