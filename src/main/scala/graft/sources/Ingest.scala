package graft.sources

import graft.operators.ParallelJobs
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Raw-ingestion sources mirroring the reference's contracts.
  *
  * S1/S4 (reference dags/pipeline.py:162-197,306-385): daily order CSVs are
  * declared ALL-VARCHAR (Trino Hive CSV limitation) with the header skipped;
  * numeric meaning is applied per-query via CAST, and a malformed value
  * degrades to NULL (non-ANSI cast), never a read failure.
  *
  * S2 (reference dags/pipeline.py:204-245): stock arrives as a JSON array
  * and is persisted as header CSV `[warehouse_id, sku_id, current_stock]`.
  */
object Ingest {

  /** Read a header CSV with every column as string — the all-VARCHAR
    * contract. An explicit schema (names only, all StringType) keeps the
    * read schema-stable even on empty files. */
  def csvAllStrings(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    spark.read
      .option("header", "true")
      .schema(StructType(columns.map(StructField(_, StringType, nullable = true))))
      .csv(path)

  val orderColumns: Seq[String] =
    Seq("order_id", "supplier_id", "sku_id", "quantity", "warehouse_id", "order_date")

  def orders(spark: SparkSession, path: String): DataFrame =
    csvAllStrings(spark, path, orderColumns)

  /** JSON-array file (the reference reads whole-file arrays, not JSONL). */
  def jsonArray(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S2: stock JSON → CSV with the fixed header column order. Returns the
    * row count, observed on the CSV write (no second scan of the JSON). */
  def stockJsonToCsv(spark: SparkSession, jsonPath: String, csvOut: String): Long = {
    val df = jsonArray(spark, jsonPath)
      .select(col("warehouse_id").cast("long"), col("sku_id").cast("long"),
        col("current_stock").cast("long"))
    Writers.observed(df, count(lit(1)))(
      _.write.mode("overwrite").option("header", "true").csv(csvOut)).getLong(0)
  }
}

/** S8 (reference dags/pipeline.py:436-457,554-571,692-713): every query
  * result lands as a JSON + CSV pair in a per-date directory. */
object Writers {

  /** Write `df` as one JSON file and one CSV file under
    * `baseDir/dataset/runDate/{json,csv}`, the two formats concurrently
    * ([[ParallelJobs]]). `sortKeys` order the rows inside the single sink
    * partition: for a total order that is the file a global `orderBy`
    * before `coalesce(1)` writes, without its range-partitioning jobs.
    * Returns `stats`, aggregated over the rows of the JSON write
    * ([[observed]]). */
  def dualSink(df: DataFrame, baseDir: String, dataset: String, runDate: String,
               sortKeys: Seq[Column], stats: Column*): Row = {
    val out = df.coalesce(1).sortWithinPartitions(sortKeys: _*)
    val dir = s"$baseDir/$dataset/$runDate"
    ParallelJobs.par2(
      () => observed(out, stats: _*)(_.write.mode("overwrite").json(s"$dir/json")),
      () => out.write.mode("overwrite").option("header", "true").csv(s"$dir/csv"))._1
  }

  /** Run `write` over `df` with `stats` (at least one) aggregated on the
    * rows it writes (`Dataset.observe`: they ride the write's own job) and
    * return them as one row. The Observation is made per call, so a
    * retried write observes afresh. */
  def observed(df: DataFrame, stats: Column*)(write: DataFrame => Unit): Row = {
    val obs = Observation()
    write(df.observe(obs, stats.head, stats.tail: _*))
    Await.result(obs.future, Duration.Inf)
  }
}
