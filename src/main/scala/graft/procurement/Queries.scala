package graft.procurement

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three declared queries with their exact column surface
  * (SURVEY §2.2), as pure DataFrame → DataFrame functions.
  *
  * Inputs use the reference shapes: `orders` is the ALL-STRING raw table
  * (casts happen here, exactly like the reference's `CAST(o.sku_id AS
  * BIGINT)`, dags/pipeline.py:410-418 — malformed values become NULL and
  * drop out of the inner joins); master tables are typed.
  *
  * Scale design: dimension tables are broadcast; the fact table shuffles
  * only for its partial-aggregated GROUP BY. Q2/Q3 take the *result* of Q1
  * as input (`aggregated`), so the shared CTE the reference re-executes per
  * query (pipeline.py:496-505 vs :617-625) is computed once and reused —
  * cache it at the call site.
  */
object Queries {

  /** Q1 — aggregate_orders (dags/pipeline.py:408-426). */
  def aggregateOrders(orders: DataFrame, products: DataFrame,
                      warehouses: DataFrame): DataFrame =
    ordersAggregated(orders, products, warehouses)
      .orderBy(col("total_quantity").desc, col("sku_id"), col("warehouse_id"))

  /** Q1 without the global sort — the shared CTE shape (pipeline.py:496-505). */
  def ordersAggregated(orders: DataFrame, products: DataFrame,
                       warehouses: DataFrame): DataFrame =
    orders
      .join(broadcast(products),
        orders("sku_id").cast("long") === products("sku_id"))
      .join(broadcast(warehouses),
        orders("warehouse_id").cast("long") === warehouses("warehouse_id"))
      .groupBy(
        products("sku_id"), col("sku_code"),
        products("name").as("product_name"), col("category"),
        warehouses("warehouse_id"), col("warehouse_code"),
        warehouses("name").as("warehouse_name"), col("city"))
      .agg(
        sum(orders("quantity").cast("long")).as("total_quantity"),
        count(lit(1)).as("order_count"),
        // The reference takes MAX over the VARCHAR order_date
        // (pipeline.py:420) — lexicographic == chronological for ISO dates
        // (SURVEY §2.4(6)). Aggregating the *cast date* and formatting back
        // is value-identical for ISO input but keeps the agg buffer
        // primitive (HashAggregate, not SortAggregate); non-ISO garbage
        // becomes NULL here vs. sorting lexicographically there — the same
        // cast-to-null contract every other column already follows.
        max(orders("order_date").cast("date")).as("max_order_date"))
      .withColumn("order_date", date_format(col("max_order_date"), "yyyy-MM-dd"))
      .select(
        products("sku_id"), col("sku_code"), col("product_name"), col("category"),
        warehouses("warehouse_id"), col("warehouse_code"), col("warehouse_name"),
        col("city"), col("total_quantity"), col("order_count"), col("order_date"))

  /** The densified safety threshold (pipeline.py:506-515):
    * global per-SKU CROSS JOIN all warehouses, per-warehouse override wins. */
  def safetyStockCombined(safetyStock: DataFrame, safetyByWarehouse: DataFrame,
                          warehouses: DataFrame): DataFrame = {
    val ssw = safetyByWarehouse.select(
      col("warehouse_id").as("ssw_warehouse_id"), col("sku_id").as("ssw_sku_id"),
      col("safety_stock_qty").as("ssw_qty"))
    safetyStock.select(col("sku_id").as("ss_sku_id"), col("safety_stock_qty").as("ss_qty"))
      .crossJoin(warehouses.select(col("warehouse_id").as("ss_warehouse_id")))
      .join(ssw,
        col("ss_sku_id") === col("ssw_sku_id") &&
          col("ss_warehouse_id") === col("ssw_warehouse_id"), "left_outer")
      .select(col("ss_sku_id"), col("ss_warehouse_id"),
        coalesce(col("ssw_qty"), col("ss_qty"), lit(0)).as("safety_stock_qty"))
  }

  /** Q2 — calculate_net_demand (dags/pipeline.py:495-545), unsorted: the
    * reference's `ORDER BY net_demand DESC` is applied by the sink, inside
    * its single partition (see [[Pipeline]]).
    * `snapshots` is the day's inventory (possibly empty — zeros semantics,
    * SURVEY §2.4(4)); `runDate` is appended as calculation_date dd-MM-yyyy. */
  def netDemand(aggregated: DataFrame, safetyStock: DataFrame,
                safetyByWarehouse: DataFrame, warehouses: DataFrame,
                snapshots: DataFrame, runDate: java.time.LocalDate): DataFrame = {
    val safety = safetyStockCombined(safetyStock, safetyByWarehouse, warehouses)
    val inv = snapshots.select(
      col("sku_code").as("inv_sku_code"), col("warehouse_code").as("inv_warehouse_code"),
      col("available_qty"), col("reserved_qty"))
    val effective = coalesce(col("available_qty"), lit(0)) - coalesce(col("reserved_qty"), lit(0))
    aggregated
      .join(safety,
        aggregated("sku_id") === col("ss_sku_id") &&
          aggregated("warehouse_id") === col("ss_warehouse_id"), "left_outer")
      .join(inv,
        aggregated("sku_code") === col("inv_sku_code") &&
          aggregated("warehouse_code") === col("inv_warehouse_code"), "left_outer")
      .select(
        col("sku_id"), col("sku_code"), col("product_name"), col("category"),
        col("warehouse_id"), col("warehouse_code"), col("warehouse_name"), col("city"),
        col("total_quantity").as("aggregated_orders"),
        coalesce(col("safety_stock_qty"), lit(0)).as("safety_stock"),
        coalesce(col("available_qty"), lit(0)).as("available_stock"),
        coalesce(col("reserved_qty"), lit(0)).as("reserved_stock"),
        effective.as("effective_stock"),
        greatest(lit(0L),
          col("total_quantity") + coalesce(col("safety_stock_qty"), lit(0)) - effective)
          .as("net_demand"),
        lit(runDate.format(java.time.format.DateTimeFormatter.ofPattern("dd-MM-yyyy")))
          .as("calculation_date"))
  }

  /** The cheapest-active-supplier pick (pipeline.py:654-662) with the
    * supplier_id tie-break of SURVEY §2.4(2). */
  def rankedSuppliers(supplierProducts: DataFrame, suppliers: DataFrame): DataFrame = {
    val sp = supplierProducts.filter(col("is_active"))
    val s = suppliers.filter(col("is_active"))
      .select(col("supplier_id").as("s_supplier_id"),
        col("supplier_code"), col("name").as("supplier_name"))
    val w = Window.partitionBy(col("sku_id"))
      .orderBy(col("unit_price").asc, col("supplier_id").asc)
    sp.join(broadcast(s), sp("supplier_id") === col("s_supplier_id"))
      .withColumn("price_rank", row_number().over(w))
      .filter(col("price_rank") === 1)
      .drop("s_supplier_id", "is_active")
  }

  /** Q3 — generate_supplier_orders (dags/pipeline.py:616-687), including the
    * Python post-processing (order_id / order_date / status) in-plan. */
  def supplierOrders(netDemandResult: DataFrame, supplierProducts: DataFrame,
                     suppliers: DataFrame, runDate: java.time.LocalDate): DataFrame = {
    val best = rankedSuppliers(supplierProducts, suppliers)
      .select(col("sku_id").as("rs_sku_id"), col("supplier_id"), col("supplier_code"),
        col("supplier_name"), col("pack_size"), col("min_order_qty"),
        col("unit_price"), col("currency"), col("lead_time_days"))
    val nd = netDemandResult.filter(col("net_demand") > 0)
    // Trino parity: CEILING(CAST(net AS DOUBLE)/pack)*pack is a DOUBLE
    // (SURVEY §2.4(7), O15) — integer-exact internally, double at the surface
    val packed = ceil(col("net_demand").cast("double") / col("pack_size")) * col("pack_size")
    val orderQty = greatest(col("min_order_qty").cast("long"), packed).cast("double")
    val iso = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val costed = nd.join(best, nd("sku_id") === col("rs_sku_id"))
      .withColumn("order_quantity", orderQty)
      .withColumn("total_cost", col("order_quantity") * col("unit_price"))
      .withColumn("expected_delivery_date",
        date_format(date_add(lit(runDate.format(iso)).cast("date"),
          col("lead_time_days")), "yyyy-MM-dd"))
    // distributed PO-id assignment — see graft.operators.ScalableIds
    graft.operators.ScalableIds
      .withGlobalRowNumbers(costed, "po_seq",
        col("total_cost").desc, col("sku_id"), col("warehouse_id"))
      .withColumn("order_id",
        format_string("PO-%s-%05d",
          lit(runDate.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)),
          col("po_seq")))
      .select(
        col("sku_id"), col("sku_code"), col("product_name"), col("category"),
        col("warehouse_id"), col("warehouse_code"), col("warehouse_name"), col("city"),
        col("supplier_id"), col("supplier_code"), col("supplier_name"),
        col("net_demand"), col("pack_size"), col("min_order_qty"),
        col("unit_price"), col("currency"), col("lead_time_days"),
        col("order_quantity"), col("total_cost"), col("expected_delivery_date"),
        col("order_id"),
        lit(runDate.format(iso)).as("order_date"),
        lit("PENDING").as("status"))
    // already in (total_cost DESC, sku_id, warehouse_id) order by
    // construction — see the note in operators/SupplierOrders.apply
  }
}
