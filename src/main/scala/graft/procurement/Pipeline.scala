package graft.procurement

import graft.sources.{Ingest, SnapshotStore, Writers}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The daily batch pipeline — the reference's 8-task Airflow DAG
  * (dags/pipeline.py:813-885) as one driver program (SURVEY §3.1's "Spark
  * lifecycle equivalent"): ingest → snapshot store → Q1 → Q2 → Q3 → summary.
  *
  * Differences by design:
  *   - The shared aggregated-orders CTE is computed ONCE and cached; the
  *     reference re-executes identical SQL text in Q2 and Q3
  *     (pipeline.py:496-505 vs :617-625).
  *   - Results stay in the plan end-to-end; nothing but the summary
  *     scalars reaches the driver (the reference fetchall()s every result
  *     through the driver, pipeline.py:430,541,679 — its scalability cliff).
  *   - Each result is evaluated once per sink pair ([[Writers.dualSink]]):
  *     the JSON and CSV files are written concurrently from one
  *     single-partition plan over the cached Q1/Q2 result (Q3: its pinned
  *     id-sorted stage), and Q1/Q2's ORDER BY sorts inside that partition
  *     (the keys end in the (sku_id, warehouse_id) group key, a total
  *     order) instead of a global range sort per format.
  *   - The summary scalars (O20/O21) are observed on the three JSON writes
  *     and the stock count on its CSV write, not collected by separate
  *     aggregate jobs.
  *   - Q3 is built inside its task: its PO-id offsets collect is an action,
  *     and a failure there logs and retries as supplier_orders, like every
  *     other stage.
  */
object Pipeline {

  case class RunSummary(runDate: String, ordersLoaded: Long, stockRecords: Long,
                        snapshotRows: Long, aggregatedRows: Long,
                        totalNetDemand: Long, itemsWithDemand: Long,
                        purchaseOrders: Long, totalCost: Double)

  def run(spark: SparkSession, rawDir: String, storeDir: String, outDir: String,
          runDate: java.time.LocalDate,
          master: Map[String, DataFrame],
          taskRetries: Int = 2,
          retryDelayMs: Long = 5L * 60 * 1000,
          retrySleep: Long => Unit = Thread.sleep): RunSummary = {
    val ddMMyyyy = runDate.format(java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy"))
    // S9: every stage below runs as a logged, RETRIED task — one success
    // JSON per stage under logs/tasks/<date>/, one exception JSON (full
    // traceback, then rethrow) under logs/exceptions/<date>/ per failing
    // attempt, one attempts/<date>/<task>/attempt=N.log line per attempt —
    // mirroring the reference's log_task_execution/log_exception wrappers
    // and its DAG-level retries=2 / 5-minute retry_delay defaults
    val logsDir = s"$outDir/logs"
    def task[T](name: String, details: T => Map[String, String] = (_: T) => Map.empty[String, String])
               (body: => T): T =
      TaskLog.timedWithRetry(logsDir, name, ddMMyyyy, taskRetries, retryDelayMs,
        details, retrySleep)(body)
    // caches registered as created, released in the finally below — a
    // failing stage (whose exception TaskLog rethrows by design) must not
    // leak cached blocks into a long-lived session that catches and retries
    val caches = scala.collection.mutable.Buffer[DataFrame]()
    def cached(df: DataFrame): DataFrame = { caches += df.cache(); df }
    try {

    // S1/S4: all-string order CSV for the day (read inside the task so a
    // missing/corrupt source surfaces as a load_orders exception log)
    val (orders, ordersLoaded) = task[(DataFrame, Long)]("load_orders",
      p => Map("orders_loaded" -> p._2.toString)) {
      val o = cached(Ingest.orders(spark, s"$rawDir/orders/$ddMMyyyy"))
      (o, o.count()) // S5 row-count validation
    }

    // S2: stock JSON → CSV (ingested + counted, never queried — §2.4(9))
    val stockRecords = task[Long]("stock_json_to_csv",
      n => Map("stock_records" -> n.toString)) {
      Ingest.stockJsonToCsv(spark,
        s"$rawDir/stock/$ddMMyyyy/stock.json", s"$outDir/stock_csv/$ddMMyyyy")
    }

    // S3: snapshot JSON → upsert store (last-write-wins on re-runs). The
    // count runs INSIDE the task: it is the action that actually scans the
    // store, so a corrupt store surfaces as a load_snapshots exception log
    val (daySnapshots, snapshotRows) = task[(DataFrame, Long)]("load_snapshots",
      p => Map("snapshot_rows" -> p._2.toString)) {
      val snapJson = Ingest.jsonArray(spark, s"$rawDir/snapshots/$ddMMyyyy/snapshot.json")
        .select(col("sku_code"), col("snapshot_date"), col("warehouse_code"),
          col("available_qty").cast("int"), col("reserved_qty").cast("int"))
      SnapshotStore.appendNext(snapJson, storeDir)
      val day = SnapshotStore.readDay(spark, storeDir, runDate.toString)
      (day, day.count())
    }

    // Q1 (cached: shared by Q2/Q3 through the nd result). Each sink pair
    // below returns the summary scalars (O20/O21) observed on its write
    val aggregated = cached(Queries.ordersAggregated(
      orders, master("products"), master("warehouses")))
    val aggStats = task[Row]("aggregate_orders") {
      Writers.dualSink(aggregated, outDir, "aggregated_orders", ddMMyyyy,
        Seq(col("total_quantity").desc, col("sku_id"), col("warehouse_id")),
        count(lit(1)).as("rows"))
    }

    // Q2
    val nd = cached(Queries.netDemand(aggregated, master("safety_stock"),
      master("safety_stock_by_warehouse"), master("warehouses"), daySnapshots, runDate))
    val ndStats = task[Row]("net_demand") {
      Writers.dualSink(nd, outDir, "net_demand", ddMMyyyy,
        Seq(col("net_demand").desc, col("sku_id"), col("warehouse_id")),
        sum(col("net_demand")).as("total_nd"),
        count(when(col("net_demand") > 0, lit(1))).as("with_demand"))
    }

    // Q3, built inside its task: the PO-id offsets collect is an action,
    // so its failure logs and retries as supplier_orders. Its rows are
    // already in PO-id order: no sort keys
    val poStats = task[Row]("supplier_orders") {
      val po = Queries.supplierOrders(nd, master("supplier_products"),
        master("suppliers"), runDate)
      Writers.dualSink(po, outDir, "supplier_orders", ddMMyyyy, Nil,
        count(lit(1)).as("pos"), coalesce(sum(col("total_cost")), lit(0.0)).as("cost"))
    }

    val summary = RunSummary(ddMMyyyy, ordersLoaded, stockRecords, snapshotRows,
      aggStats.getAs[Long]("rows"), ndStats.getAs[Long]("total_nd"),
      ndStats.getAs[Long]("with_demand"), poStats.getAs[Long]("pos"),
      poStats.getAs[Double]("cost"))

    // S9: summary JSON
    task[Unit]("pipeline_summary", (_: Unit) => Map(
      "purchase_orders" -> summary.purchaseOrders.toString,
      "total_cost" -> summary.totalCost.toString)) {
      val p = java.nio.file.Paths.get(s"$outDir/pipeline_summary")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve(s"summary_$ddMMyyyy.json"),
        s"""{"run_date":"${summary.runDate}","orders_loaded":${summary.ordersLoaded},
           |"stock_records":${summary.stockRecords},"snapshot_rows":${summary.snapshotRows},
           |"aggregated_rows":${summary.aggregatedRows},"total_net_demand":${summary.totalNetDemand},
           |"items_with_demand":${summary.itemsWithDemand},"purchase_orders":${summary.purchaseOrders},
           |"total_cost":${summary.totalCost}}""".stripMargin.replace("\n", ""))
      ()
    }

    // Store maintenance runs EVERY daily cycle: the policy sweep decides
    // (one manifest read when nothing is due) and compaction fires only
    // when epoch growth has crossed the threshold. It runs LAST: the day's
    // snapshot plan lists the store's files when load_snapshots resolves
    // it, and a compaction retires those files, so every read of that
    // plan (net_demand and its retries, the summary) must come first.
    task[Seq[graft.operators.StoreMaintenance.Action]]("store_maintenance",
      acts => Map("fired" -> acts.count(_.fired).toString)) {
      graft.operators.StoreMaintenance.run(spark, Seq(storeDir))
    }

    summary
    } finally {
      caches.foreach(_.unpersist(blocking = false))
      graft.operators.Pinned.release(spark) // Q3's pinned id-assignment stage
    }
  }

  /** Write one generated day of raw inputs in the reference's layout. */
  def writeRawDay(spark: SparkSession, gen: DataGenerator, rawDir: String,
                  runDate: java.time.LocalDate, numOrders: Int,
                  snapshotDate: java.time.LocalDate): Unit = {
    import spark.implicits._
    val ddMMyyyy = runDate.format(java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy"))
    gen.rawOrders(runDate, numOrders).toDF()
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$rawDir/orders/$ddMMyyyy")
    val snapPath = new java.io.File(s"$rawDir/snapshots/$ddMMyyyy")
    snapPath.mkdirs()
    val snapJson = gen.snapshots(snapshotDate)
      .map(s => s"""{"sku_code":"${s.sku_code}","snapshot_date":"${s.snapshot_date}","warehouse_code":"${s.warehouse_code}","available_qty":${s.available_qty},"reserved_qty":${s.reserved_qty}}""")
      .mkString("[", ",\n", "]")
    java.nio.file.Files.writeString(snapPath.toPath.resolve("snapshot.json"), snapJson)
    val stockPath = new java.io.File(s"$rawDir/stock/$ddMMyyyy")
    stockPath.mkdirs()
    val stockJson = gen.stockLevels
      .map(s => s"""{"warehouse_id":${s.warehouse_id},"sku_id":${s.sku_id},"current_stock":${s.current_stock}}""")
      .mkString("[", ",\n", "]")
    java.nio.file.Files.writeString(stockPath.toPath.resolve("stock.json"), stockJson)
  }
}
