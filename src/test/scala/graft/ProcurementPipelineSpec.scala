package graft

import graft.procurement.{DataGenerator, Pipeline, Queries}
import graft.sources.{Ingest, SnapshotStore}
import org.apache.spark.sql.functions._

import java.nio.file.Files

class ProcurementPipelineSpec extends SparkSpec {

  val runDate = java.time.LocalDate.of(2026, 1, 14)
  lazy val tmp = Files.createTempDirectory("graft_pipe").toString
  lazy val gen = new DataGenerator(seed = 7L)
  lazy val master = gen.masterFrames(spark).map { case (k, v) => k -> v.cache() }

  lazy val summary = {
    // snapshot day == run day → populated inventory
    Pipeline.writeRawDay(spark, gen, s"$tmp/raw", runDate, numOrders = 1000,
      snapshotDate = runDate)
    Pipeline.run(spark, s"$tmp/raw", s"$tmp/store", s"$tmp/out", runDate, master)
  }

  test("pipeline runs end-to-end with consistent counts") {
    assert(summary.ordersLoaded === 1000)
    assert(summary.aggregatedRows > 0)
    // Q3's inner join to *active* suppliers can drop demand items whose SKU
    // has no active supplier-product pair (reference pipeline.py:661,672)
    assert(summary.purchaseOrders <= summary.itemsWithDemand)
    assert(summary.purchaseOrders > 0)
    assert(summary.totalCost >= 0)
  }

  test("dual sinks written for all three datasets") {
    for (ds <- Seq("aggregated_orders", "net_demand", "supplier_orders")) {
      assert(new java.io.File(s"$tmp/out/$ds/14-01-2026/json").exists(), ds)
      assert(new java.io.File(s"$tmp/out/$ds/14-01-2026/csv").exists(), ds)
    }
    assert(new java.io.File(s"$tmp/out/pipeline_summary/summary_14-01-2026.json").exists())
  }

  test("S9 per-task logs: one success JSON per pipeline stage with status and details") {
    summary // ensure the run happened
    val dir = new java.io.File(s"$tmp/out/logs/tasks/14-01-2026")
    assert(dir.isDirectory, "tasks log directory must exist")
    val names = dir.listFiles().map(_.getName)
    for (t <- Seq("load_orders", "stock_json_to_csv", "load_snapshots",
      "aggregate_orders", "net_demand", "supplier_orders", "pipeline_summary"))
      assert(names.exists(_.startsWith(t + "_")), s"missing success log for $t")
    val loadLog = Files.readString(
      dir.listFiles().filter(_.getName.startsWith("load_orders_")).head.toPath)
    assert(loadLog.contains(""""status": "success""""))
    assert(loadLog.contains(""""execution_date": "14-01-2026""""))
    assert(loadLog.contains(""""orders_loaded": "1000""""))
    assert(loadLog.contains("duration_sec"))
  }

  test("S9 exception log: a failed stage writes error type + traceback, then rethrows") {
    val t3 = Files.createTempDirectory("graft_fail").toString
    // no raw inputs at all → the load_orders task fails at read time
    // (all three attempts — no-op sleep skips the 5-minute retry delays)
    intercept[Exception] {
      Pipeline.run(spark, s"$t3/raw", s"$t3/store", s"$t3/out", runDate, master,
        retrySleep = _ => ())
    }
    // reference-parity retry trail: attempt=1..3 log files, final failure
    val attemptDir = new java.io.File(s"$t3/out/logs/attempts/14-01-2026/load_orders")
    assert(attemptDir.isDirectory)
    assert(attemptDir.listFiles().map(_.getName).sorted.toSeq ===
      Seq("attempt=1.log", "attempt=2.log", "attempt=3.log"))
    assert(Files.readString(attemptDir.toPath.resolve("attempt=3.log"))
      .contains("failed_final"))
    val exDir = new java.io.File(s"$t3/out/logs/exceptions/14-01-2026")
    assert(exDir.isDirectory, "exceptions log directory must exist")
    val files = exDir.listFiles()
    assert(files.exists(_.getName.startsWith("load_orders_")))
    val txt = Files.readString(
      files.filter(_.getName.startsWith("load_orders_")).head.toPath)
    assert(txt.contains(""""task_name": "load_orders""""))
    assert(txt.contains(""""error_type""""))
    assert(txt.contains(""""traceback""""))
    // and no success log was written for the failed stage
    val tasksDir = new java.io.File(s"$t3/out/logs/tasks/14-01-2026")
    assert(!tasksDir.exists || !tasksDir.listFiles().exists(_.getName.startsWith("load_orders_")))
  }

  test("snapshot store upsert: re-running the same day keeps one row per key") {
    summary // ensure first run done
    val again = Pipeline.run(spark, s"$tmp/raw", s"$tmp/store", s"$tmp/out2",
      runDate, master)
    assert(again.snapshotRows === summary.snapshotRows) // last-write-wins, no dupes
    val store = SnapshotStore.read(spark, s"$tmp/store")
    assert(store.groupBy("sku_code", "snapshot_date", "warehouse_code").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("missing snapshot day degrades to zeros (§2.4(4))") {
    val tmp2 = Files.createTempDirectory("graft_empty").toString
    // snapshots dated the day BEFORE the run date — the committed sample-day bug
    Pipeline.writeRawDay(spark, gen, s"$tmp2/raw", runDate, numOrders = 200,
      snapshotDate = runDate.minusDays(1))
    val s2 = Pipeline.run(spark, s"$tmp2/raw", s"$tmp2/store", s"$tmp2/out",
      runDate, master)
    assert(s2.snapshotRows === 0)
    val nd = spark.read.json(s"$tmp2/out/net_demand/14-01-2026/json")
    assert(nd.filter(col("available_stock") =!= 0 || col("reserved_stock") =!= 0)
      .count() === 0)
    assert(nd.filter(
      col("net_demand") =!= col("aggregated_orders") + col("safety_stock")).count() === 0)
  }

  test("all-string CSV contract: malformed quantity casts to null, row drops from agg sum") {
    val dir = Files.createTempDirectory("graft_dirty").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/orders.csv"),
      """order_id,supplier_id,sku_id,quantity,warehouse_id,order_date
        |ORD-1,1,1,5,1,2026-01-14
        |ORD-2,1,1,NOT_A_NUMBER,1,2026-01-14
        |ORD-3,1,2,3,2,2026-01-14""".stripMargin)
    val orders = Ingest.orders(spark, dir)
    assert(orders.schema.fields.forall(_.dataType.typeName == "string"))
    val agg = Queries.aggregateOrders(orders, master("products"), master("warehouses"))
    val row = agg.filter(col("sku_id") === 1 && col("warehouse_id") === 1).first()
    assert(row.getAs[Long]("total_quantity") === 5L) // NULL dropped from SUM
    assert(row.getAs[Long]("order_count") === 2L)    // but COUNT(*) keeps the row
  }

  test("ad-hoc SQL surface answers the reference README's example query") {
    summary // pipeline ran; snapshot store populated
    graft.procurement.Views.register(spark, master, storeDir = Some(s"$tmp/store"),
      outputs = Map(
        "supplier_orders" -> spark.read.json(s"$tmp/out/supplier_orders/14-01-2026/json")))
    val inv = graft.procurement.Views.inventoryByProduct(spark, "2026-01-14")
    assert(inv.count() > 0)
    assert(inv.filter(col("effective_qty") =!=
      col("available_qty") - col("reserved_qty")).count() === 0)
    // reference "key tables" queryable by name
    assert(spark.sql("SELECT count(*) FROM supplier_orders").first().getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(*) FROM products p JOIN safety_stock s ON p.sku_id = s.sku_id")
      .first().getLong(0) === 40)
  }

  test("Q3 PO ids are positional in cost order and pack-aligned") {
    summary
    val po = spark.read.json(s"$tmp/out/supplier_orders/14-01-2026/json")
    val ids = po.orderBy(col("total_cost").desc, col("sku_id"), col("warehouse_id"))
      .select("order_id").collect().map(_.getString(0))
    assert(ids.zipWithIndex.forall { case (id, i) => id == f"PO-20260114-${i + 1}%05d" })
    assert(po.filter(col("order_quantity") % col("pack_size") =!= 0 &&
      col("order_quantity") =!= col("min_order_qty")).count() === 0)
  }

  test("a day whose store maintenance compacts the store completes like a fresh-store day") {
    val t = Files.createTempDirectory("graft_maint_day").toString
    val g = new DataGenerator(seed = 11L)
    import spark.implicits._
    // 7 committed epochs: the day's append is the 8th, so the default
    // maintenance policy compacts the store during the day
    for (d <- 1 to 7)
      SnapshotStore.appendNext(g.snapshots(runDate.minusDays(d)).toDF(), s"$t/store")
    Pipeline.writeRawDay(spark, g, s"$t/raw", runDate, numOrders = 200,
      snapshotDate = runDate)
    val day = Pipeline.run(spark, s"$t/raw", s"$t/store", s"$t/out", runDate, master,
      retryDelayMs = 0L)
    assert(SnapshotStore.readManifest(s"$t/store").epochs.size === 1)
    val fresh = Pipeline.run(spark, s"$t/raw", s"$t/fresh_store", s"$t/fresh_out",
      runDate, master, retryDelayMs = 0L)
    assert(day === fresh)
  }
}
