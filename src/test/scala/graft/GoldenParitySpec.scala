package graft

import graft.procurement.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** THE parity proof: run the pipeline on the reference's own committed
  * sample day (raw inputs + init.sql master seeds from /root/reference,
  * read-only) and compare against its committed outputs —
  * 348 rows in each dataset, net-demand total 43,974, PO total cost
  * 2,631,239.70 MAD (SURVEY §5 test plan item 1).
  *
  * The committed day is also the "snapshot date mismatch" edge case
  * (snapshots dated 2026-01-13, run date 2026-01-14 ⇒ all-zero inventory,
  * SURVEY §2.4(4)) — parity here covers that semantic too.
  */
class GoldenParitySpec extends SparkSpec {

  val refRoot = "/root/reference"
  val runDate = java.time.LocalDate.of(2026, 1, 14)

  val available = new java.io.File(s"$refRoot/data/raw/orders/14-01-2026").isDirectory

  /** A parity test, registered as ignored (reported skipped, not passed)
    * when the reference checkout is absent. */
  def parityTest(name: String)(body: => Any): Unit =
    if (available) test(name)(body) else ignore(name)(body)

  lazy val outDir: String = {
    val tmp = Files.createTempDirectory("graft_golden").toString
    val master = ReferenceSeeds.masterFrames(spark,
      s"$refRoot/init-scripts/postgres/init.sql").map { case (k, v) => k -> v.cache() }
    Pipeline.run(spark, s"$refRoot/data/raw", s"$tmp/store", s"$tmp/out", runDate, master)
    s"$tmp/out"
  }

  def golden(path: String): DataFrame =
    spark.read.option("multiLine", "true").json(s"$refRoot/$path")

  def mine(dataset: String): DataFrame =
    spark.read.json(s"$outDir/$dataset/14-01-2026/json")

  def assertSameRows(got: DataFrame, want: DataFrame, label: String): Unit = {
    val cols = want.columns.sorted.map(col).toIndexedSeq
    val g = got.select(cols: _*)
    val w = want.select(cols: _*)
    val extra = g.exceptAll(w).count()
    val missing = w.exceptAll(g).count()
    assert(extra === 0 && missing === 0,
      s"$label: $extra rows only-ours, $missing rows only-golden")
  }

  parityTest("aggregated_orders matches the reference's committed output (348 rows)") {
    val want = golden("data/processed/aggregated_orders/14-01-2026/aggregated_orders.json")
    assert(want.count() === 348)
    assertSameRows(mine("aggregated_orders"), want, "aggregated_orders")
  }

  parityTest("net_demand matches the reference's committed output incl. zero-inventory day") {
    val want = golden("data/processed/net_demand/14-01-2026/net_demand.json")
    assert(want.count() === 348)
    assertSameRows(mine("net_demand"), want, "net_demand")
    // the all-zeros inventory semantic (SURVEY §2.4(4))
    assert(mine("net_demand").filter(col("available_stock") =!= 0).count() === 0)
  }

  parityTest("supplier_orders matches the reference's committed output (modulo documented tie-breaks)") {
    val wantRaw = golden("data/output/supplier_orders/14-01-2026/supplier_orders.json")
    assert(wantRaw.count() === 348)
    // unit_price is serialized as a decimal STRING by the reference's
    // Python (str(Decimal)) — normalize to double; order_id depends on the
    // reference's unstable sort order for tied total_cost (SURVEY §2.4(3)),
    // so rows are compared without it and the id sequence is checked apart.
    def norm(df: DataFrame): DataFrame = df
      .withColumn("unit_price", col("unit_price").cast("double"))
      .withColumn("total_cost", round(col("total_cost").cast("double"), 2))
      .withColumn("order_quantity", col("order_quantity").cast("double"))
      .drop("order_id")
    assertSameRows(norm(mine("supplier_orders")), norm(wantRaw), "supplier_orders")
    val ids = mine("supplier_orders").select("order_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === (1 to 348).map(i => f"PO-20260114-$i%05d"))
  }

  parityTest("summary totals match the reference's committed summary") {
    val nd = mine("net_demand")
    assert(nd.agg(sum("net_demand")).first().getLong(0) === 43974L)
    val po = mine("supplier_orders")
    assert(math.abs(po.agg(sum("total_cost")).first().getDouble(0) - 2631239.70) < 0.01)
    assert(po.count() === 348)
  }
}
