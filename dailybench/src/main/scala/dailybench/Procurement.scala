package dailybench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.procurement.{DataGenerator, Pipeline}
import graft.sources.{Ingest, SnapshotStore}
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** `procurement_days`: reference-scale days (the [[DataGenerator]] default
  * master set, `ordersPerDay` orders) run one after another through
  * [[Pipeline.run]] into one snapshot store and one output directory.
  *
  * Set-up writes every day's raw files in the layout of
  * [[Pipeline.writeRawDay]] and appends `backlogDays` earlier snapshot
  * days to the store, so that the default maintenance policy (8 epochs)
  * fires on timed day `8 - backlogDays` and every 7 days after it. */
final class Procurement(work: Path, seed: Long, days: Int, ordersPerDay: Int,
                        backlogDays: Int, breakDay: Option[Int]) extends Workload {

  private val raw = work.resolve("raw")
  private val store = work.resolve("store")
  private val out = work.resolve("out")
  private val day1 = LocalDate.of(2026, 1, 1)
  private val ddMMyyyy = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  private val datasets = Seq("aggregated_orders", "net_demand", "supplier_orders")

  private def date(day: Int): LocalDate = day1.plusDays(day - 1L)
  private def stamp(day: Int): String = date(day).format(ddMMyyyy)

  private var master: Map[String, DataFrame] = Map.empty
  private val generated = scala.collection.mutable.Map[Int, (Long, Long)]() // day -> (snapshots, stock)
  private val rawBytes = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
  private val summaries = scala.collection.mutable.Map[Int, Pipeline.RunSummary]()

  val maxDays: Int = days

  def setup(spark: SparkSession): Unit = {
    val gen = new DataGenerator(seed)
    master = gen.masterFrames(spark)
    for (b <- 1 to backlogDays) {
      val d = 1 - b // backlog days precede day 1
      val file = raw.resolve(s"snapshots/${stamp(d)}/snapshot.json")
      rawBytes(0) += write(file, snapshotJson(gen.snapshots(date(d))))
      SnapshotStore.appendNext(snapshotFrame(spark, file), store.toString)
    }
    for (d <- 1 to days) {
      val orders = gen.rawOrders(date(d), ordersPerDay)
      val csv = (Ingest.orderColumns.mkString(",") +: orders.map(o => Seq(o.order_id, o.supplier_id,
        o.sku_id, o.quantity, o.warehouse_id, o.order_date).mkString(","))).mkString("", "\n", "\n")
      val snaps = gen.snapshots(date(d))
      val stock = gen.stockLevels
      rawBytes(d) = write(raw.resolve(s"orders/${stamp(d)}/part-00000.csv"), csv) +
        write(raw.resolve(s"snapshots/${stamp(d)}/snapshot.json"), snapshotJson(snaps)) +
        write(raw.resolve(s"stock/${stamp(d)}/stock.json"), stock.map(s =>
          s"""{"warehouse_id":${s.warehouse_id},"sku_id":${s.sku_id},"current_stock":${s.current_stock}}""")
          .mkString("[", ",\n", "]"))
      generated(d) = (snaps.size.toLong, stock.size.toLong)
    }
  }

  private def write(p: Path, s: String): Long = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
    Files.size(p)
  }

  private def snapshotJson(snaps: Seq[graft.procurement.Model.InventorySnapshot]): String =
    snaps.map(s => s"""{"sku_code":"${s.sku_code}","snapshot_date":"${s.snapshot_date}",""" +
      s""""warehouse_code":"${s.warehouse_code}","available_qty":${s.available_qty},""" +
      s""""reserved_qty":${s.reserved_qty}}""").mkString("[", ",\n", "]")

  /** The projection `load_snapshots` applies before its append. */
  private def snapshotFrame(spark: SparkSession, p: Path): DataFrame =
    Ingest.jsonArray(spark, p.toString).select(col("sku_code"), col("snapshot_date"),
      col("warehouse_code"), col("available_qty").cast("int"), col("reserved_qty").cast("int"))

  def runDay(spark: SparkSession, day: Int): Unit = {
    if (breakDay.contains(day)) Disk.deleteTree(raw.resolve(s"orders/${stamp(day)}"))
    summaries(day) = Pipeline.run(spark, raw.toString, store.toString, out.toString,
      date(day), master, retryDelayMs = 0L)
  }

  def inputBytes(day: Int): Long = rawBytes(day)
  def inputRows(day: Int): Long = if (day == 0) 0L else ordersPerDay.toLong
  /** The store holds the backlog and every day's snapshots; the sinks keep
    * every day's outputs. */
  def heldInputBytes(days: Seq[Int]): Long = rawBytes(0) + days.map(rawBytes).sum
  def outputRoots: Seq[Path] = Seq(store, out)
  override def isLog(rel: String): Boolean = rel.startsWith("logs/")

  private val mapper = new ObjectMapper()

  private def jsonFiles(dir: Path): Seq[JsonNode] =
    Disk.files(dir, _.endsWith(".json")).map(p => mapper.readTree(p.toFile))

  /** The last exception record of the day: (task, error class and the
    * Spark error condition its message starts with, if any). */
  private def lastException(day: Int): Option[(String, String)] =
    jsonFiles(out.resolve(s"logs/exceptions/${stamp(day)}"))
      .sortBy(_.get("timestamp").asText).lastOption
      .map { n =>
        val condition = "\\[([A-Z_.]+)\\]".r.findFirstMatchIn(n.get("error_message").asText)
          .map(m => s" [${m.group(1)}]").getOrElse("")
        n.get("task_name").asText -> (n.get("error_type").asText + condition)
      }

  def checkDay(spark: SparkSession, day: Int, failed: Option[Throwable]): DayCheck = failed match {
    case Some(e) =>
      val (task, err) = lastException(day).getOrElse("unlogged" -> e.getClass.getName)
      DayCheck(Some(s"task $task failed: $err"), None)
    case None =>
      val s = summaries(day)
      val rows = datasets.map(ds => ds -> Sinks.agreeingRows(out.resolve(s"$ds/${stamp(day)}"))).toMap
      val errors = rows.collect { case (ds, Left(err)) => s"$ds: $err" }.toSeq
      if (errors.nonEmpty) DayCheck(Some(errors.mkString("; ")), None)
      else {
        val r = rows.map { case (ds, v) => ds -> v.toOption.get }
        val nd = r("net_demand")
        val netDemand = nd.rows.map(row => BigDecimal(row(nd.column("net_demand"))))
        val (snaps, stock) = generated(day)
        val expect = Seq(
          "orders_loaded" -> (s.ordersLoaded, ordersPerDay.toLong),
          "stock_records" -> (s.stockRecords, stock),
          "snapshot_rows" -> (s.snapshotRows, snaps),
          "aggregated_orders rows" -> (r("aggregated_orders").rows.size.toLong, s.aggregatedRows),
          "net_demand rows" -> (nd.rows.size.toLong, s.aggregatedRows),
          "items_with_demand" -> (netDemand.count(_ > 0).toLong, s.itemsWithDemand),
          "total_net_demand" -> (netDemand.sum.toLongExact, s.totalNetDemand),
          "supplier_orders rows" -> (r("supplier_orders").rows.size.toLong, s.purchaseOrders))
        val bad = expect.collect { case (what, (got, want)) if got != want => s"$what $got != $want" }
        DayCheck(if (bad.isEmpty) None else Some(bad.mkString("; ")),
          Some(Disk.sha(datasets.flatMap(ds => r(ds).canonical.map(l => s"$ds|$l")))))
      }
  }

  /** Task attempts from the day's TaskLog records: every success and
    * exception record carries its end timestamp and `duration_sec`. */
  def spans(day: Int, startMs: Long, endMs: Long): Seq[Span] = {
    val ts = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmssSSS").withZone(java.time.ZoneOffset.UTC)
    def attempts(kind: String, durationField: String): Seq[Span] =
      jsonFiles(out.resolve(s"logs/$kind/${stamp(day)}")).map { n =>
        val end = java.time.Instant.from(ts.parse(n.get("timestamp").asText)).toEpochMilli
        val dur = math.round(n.get(durationField).get("duration_sec").asText.toDouble * 1000)
        Span(s"procurement.${n.get("task_name").asText}", end - dur, end,
          if (kind == "exceptions") 1 else 0)
      }
    val tasks = attempts("tasks", "details") ++ attempts("exceptions", "additional_info")
    tasks :+ Span("procurement.untasked", startMs, endMs, remainder = true)
  }

  def storeState(day: Int): Map[String, Double] = {
    val sinks = datasets.map(ds => out.resolve(s"$ds/${stamp(day)}")) ++
      Seq(out.resolve(s"stock_csv/${stamp(day)}"))
    val fired = jsonFiles(out.resolve(s"logs/tasks/${stamp(day)}"))
      .filter(_.get("task_name").asText == "store_maintenance")
      .map(_.get("details").get("fired").asText.toDouble).sum
    Map(
      "sources.snapshot_store.epochs" -> Disk.manifestEpochs(store).toDouble,
      "sources.snapshot_store.bytes" -> Disk.bytes(store).toDouble,
      "sources.sinks.bytes" -> sinks.map(Disk.bytes).sum.toDouble,
      "sources.maintenance_fired" -> fired)
  }
}

/** The JSON and CSV halves of one `Writers.dualSink` output. */
object Sinks {

  final case class Table(header: Seq[String], rows: Seq[Seq[String]]) {
    def column(name: String): Int = header.indexOf(name)
    /** Rows as sorted text lines: an order-independent form for digests. */
    def canonical: Seq[String] = rows.map(_.mkString("|")).sorted
  }

  private val mapper = new ObjectMapper()

  /** Numbers compare by value, so "5.0" in JSON equals "5.0" or "5" in CSV;
    * a null is an absent JSON field and an empty CSV field. */
  private def norm(v: String): String =
    scala.util.Try(BigDecimal(v)).map(_.bigDecimal.stripTrailingZeros.toPlainString).getOrElse(v)

  /** Rows of `dir/json` and `dir/csv`, checked to agree row for row (as
    * multisets; each half is one file written from the same plan). */
  def agreeingRows(dir: Path): Either[String, Table] = {
    val csvFiles = Disk.files(dir.resolve("csv"), _.endsWith(".csv"))
    val jsonFiles = Disk.files(dir.resolve("json"), _.endsWith(".json"))
    if (csvFiles.isEmpty || jsonFiles.isEmpty) return Left(s"missing sink files under $dir")
    val csvLines = csvFiles.map(p => Files.readAllLines(p).asScala.toSeq)
    val header = parseCsv(csvLines.head.head)
    val csvRows = csvLines.flatMap(_.drop(1)).filter(_.nonEmpty).map(l => parseCsv(l).map(norm))
    val jsonRows = jsonFiles.flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      header.map(h => Option(n.get(h)).filterNot(_.isNull).map(_.asText).map(norm).getOrElse(""))
    }
    val extra = jsonFiles.iterator.flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty)
      .flatMap(l => mapper.readTree(l).fieldNames().asScala).filterNot(header.contains).toSet
    val c = Table(header, csvRows)
    val j = Table(header, jsonRows)
    if (extra.nonEmpty) Left(s"JSON fields missing from the CSV header: ${extra.mkString(",")}")
    else if (c.canonical != j.canonical)
      Left(s"JSON (${j.rows.size} rows) and CSV (${c.rows.size} rows) disagree")
    else Right(j)
  }

  /** One RFC 4180 line (Spark's CSV writer quotes with `"`, escapes with `\`). */
  def parseCsv(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < line.length) { cur += line.charAt(i + 1); i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }
}
