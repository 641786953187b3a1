package dailybench

/** The metric catalog. BENCHMARK.json lists the same names and units; the
  * smoke test holds the two together. */
object Metrics {

  /** Reported with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cold_day_s" -> "s",
    "day_s_p50" -> "s",
    "day_s_tail" -> "s",
    "rows_per_s" -> "rows/s",
    "bytes_written_per_input_byte" -> "ratio",
    "stored_bytes_per_input_byte" -> "ratio",
    "peak_live_mb" -> "MB")

  val spans: Seq[String] =
    Seq("GraftSession.build") ++
      Seq("load_orders", "stock_json_to_csv", "load_snapshots", "store_maintenance",
        "aggregate_orders", "net_demand", "supplier_orders", "pipeline_summary", "untasked")
        .map("procurement." + _) ++
      Seq("remove_and_append", "dedup_index_update", "split", "store_maintenance")
        .map("operators." + _)

  val spanCounters: Seq[(String, String)] = Seq(
    "s" -> "s", "jobs" -> "count", "tasks" -> "count", "exec_busy_s" -> "s", "driver_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "failed_attempts" -> "count")

  val storeState: Seq[(String, String)] = Seq(
    "sources.snapshot_store.epochs" -> "count",
    "sources.snapshot_store.bytes" -> "bytes",
    "sources.sinks.bytes" -> "bytes",
    "sources.maintenance_fired" -> "count",
    "operators.cluster_store.bytes" -> "bytes",
    "operators.dedup_index.epochs" -> "count",
    "operators.dedup_index.bytes" -> "bytes",
    "operators.maintenance_fired" -> "count")

  /** Reported by a traced run; every value is a mean over warm days,
    * except `failed_share` (all days) and `GraftSession.build.*` (the one
    * session build of set-up). */
  val perLayer: Seq[(String, String)] =
    (for (s <- spans; (c, u) <- spanCounters) yield s"$s.$c" -> u) ++ storeState :+
      ("failed_share" -> "ratio")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric value $v is not a number") else v.toString

  /** The result line: `metrics` holds exactly `names`, in order. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 names: Seq[(String, String)], values: Map[String, Double]): String =
    names.map { case (n, u) => s""""$n": {"value": ${num(values(n))}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
