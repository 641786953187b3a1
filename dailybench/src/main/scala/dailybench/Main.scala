package dailybench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs one workload closed-loop and prints the result line.
  *
  * {{{
  * Main --workload <procurement_days|curation_days> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --cpus <n>
  *      [--pins <file>] [--record-pins] [--tiny] [--break-day <d>] [--detail <file>]
  * }}}
  *
  * Set-up (session build, inputs, backlog stores) runs once; `setup_s`
  * counts from JVM start. Then a fixed number of days runs one after
  * another ([[plannedDays]]: the cold day and about `--seconds` of warm
  * days on a 4-core machine; [[PinnedDays]] with `--record-pins`); only
  * the graft calls of a day are timed. Checks run between days. Exit code
  * 0 means every check passed; a day that threw counts in `failed` but is
  * not a check failure.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                        cpus: Int, pins: Option[Path], recordPins: Boolean, tiny: Boolean,
                        breakDay: Option[Int], detail: Option[Path])

  def parse(args: Array[String]): Opts = {
    val flags = Set("--record-pins", "--tiny")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case f :: tail if flags(f) => go(tail, acc + (f -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k -> v))
      case Nil => acc
      case other => sys.error(s"cannot parse arguments at ${other.mkString(" ")}")
    }
    val a = go(args.toList, Map.empty)
    def need(k: String) = a.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")), need("--cpus").toInt,
      a.get("--pins").map(Paths.get(_)), a.contains("--record-pins"), a.contains("--tiny"),
      a.get("--break-day").map(_.toInt), a.get("--detail").map(Paths.get(_)))
  }

  /** Days the digest pins cover for each pinned seed. */
  val PinnedDays = 13

  /** Seconds of a warm day on 4 cores. */
  val nominalWarmDayS: Map[String, Double] = Map("procurement_days" -> 3.8, "curation_days" -> 7.5)

  /** A run measures a fixed number of days, never a time: every run of a
    * workload then does the same work and meets the same failing days,
    * and its median always sits at the same day. The cold day and then
    * `--seconds` of warm days at [[nominalWarmDayS]]: at least two warm
    * days, at most the pinned days in all. */
  def plannedDays(o: Opts): Int =
    if (o.recordPins) PinnedDays
    else math.min(PinnedDays, 1 + math.max(2, math.round(o.seconds / nominalWarmDayS(o.workload)).toInt))

  /** Sizes: see NOTES.md. Set-up makes inputs for exactly the planned days. */
  def workload(o: Opts, dir: Path): Workload = {
    val days = plannedDays(o)
    o.workload match {
      case "procurement_days" =>
        new Procurement(dir, o.seed, days, if (o.tiny) 100 else 1000, backlogDays = 5, o.breakDay)
      case "curation_days" =>
        require(o.breakDay.isEmpty, "--break-day applies to procurement_days only")
        new Curation(dir, o.seed, days, if (o.tiny) 200 else 5000)
      case w => sys.error(s"unknown workload $w")
    }
  }

  final case class Day(day: Int, s: Double, startMs: Long, endMs: Long, threw: Boolean,
                       check: DayCheck, writtenBytes: Long, inputBytes: Long, rows: Long,
                       liveMb: Double, layer: Map[String, Double])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p99, p95, p90, p75, p50 (nearest rank) with at least
    * ten warm days beyond it. With fewer than 20 warm days none has; then
    * the highest with at least one warm day beyond it, so that a single
    * day slowed by the host does not set it (p75 at 4-8 warm days).
    * Returns (value, percentile label). */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val ranks = Seq(99, 95, 90, 75, 50).map(p => p -> math.max(1, math.ceil(p / 100.0 * s.size).toInt))
    val (p, rank) = ranks.find { case (_, r) => s.size - r >= 10 }
      .orElse(ranks.find { case (_, r) => s.size - r >= 1 }).getOrElse(ranks.last)
    (s(rank - 1), s"p$p")
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case NonFatal(e) =>
        System.err.println(s"[dailybench] aborted: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tb = System.nanoTime()
    val spark = GraftSession.builder("dailybench", cpus = o.cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tb) / 1e9
    val wl = workload(o, o.work)
    wl.setup(spark)
    val setupS = (System.currentTimeMillis() - processStartMs) / 1000.0
    val trace = if (o.trace) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    // Every day, the first too, starts right after a full collection.
    val liveAfterSetup = Disk.liveMbAfterGc()

    val days = Seq.newBuilder[Day]
    var d = 1
    while (d <= wl.maxDays) {
      val before = wl.outputRoots.map(Disk.listing)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val threw = try { wl.runDay(spark, d); None } catch { case NonFatal(e) => Some(e) }
      val s = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val written = wl.outputRoots.zip(before).map { case (root, b) =>
        Disk.bytesCreated(b, root, wl.isLog) }.sum
      val check = try wl.checkDay(spark, d, threw) catch {
        case NonFatal(e) => DayCheck(Some(s"check threw $e"), None)
      }
      val layer = if (o.trace) wl.storeState(d) else Map.empty[String, Double]
      val day = Day(d, s, startMs, endMs, threw.isDefined, check, written, wl.inputBytes(d),
        wl.inputRows(d), Disk.liveMbAfterGc(), layer)
      System.err.println(f"[dailybench] day $d ${s}%.3f s" +
        check.error.map(e => s" FAILED: $e").getOrElse(" ok"))
      days += day
      d += 1
    }
    val ran = days.result()
    val last = ran.last
    val tf = System.nanoTime()
    val finalError =
      if (last.threw || last.check.error.isDefined) None
      else try wl.finalCheck(spark, last.day) catch {
        case NonFatal(e) => Some(s"final check threw $e")
      }
    System.err.println(f"[dailybench] final check ${(System.nanoTime() - tf) / 1e9}%.3f s")

    // A seed with pins must have one for every day it reaches. A day that
    // threw when the pins were recorded is pinned as `Pins.Threw`: if it
    // now yields a digest, there is nothing to compare it with.
    val outcomes = ran.flatMap(x => if (x.threw) Some(x.day -> Pins.Threw) else x.check.digest.map(x.day -> _))
    val pins = o.pins.map(Pins.load).getOrElse(Pins.empty)
    val seedPinned = pins.hasSeed(o.workload, o.seed)
    val pinErrors = outcomes.flatMap { case (day, dg) =>
      pins.get(o.workload, o.seed, day) match {
        case Some(p) if p != dg && p != Pins.Threw && dg != Pins.Threw =>
          Some(day -> s"digest $dg != pinned $p")
        case None if seedPinned && !o.recordPins && dg != Pins.Threw => Some(day -> s"digest $dg has no pin")
        case _ => None
      }
    }.toMap
    val unpinned = outcomes.count { case (day, dg) =>
      dg != Pins.Threw && pins.get(o.workload, o.seed, day).forall(_ == Pins.Threw) }

    val dayErrors = ran.map(x => x.day -> (x.check.error.toSeq ++ pinErrors.get(x.day) ++
      (if (x.day == last.day) finalError.toSeq else Nil))).toMap
    val failed = ran.count(x => dayErrors(x.day).nonEmpty)
    val checkFailures = ran.filter(x => !x.threw && dayErrors(x.day).nonEmpty)
    val correct = checkFailures.isEmpty
    ran.filter(x => dayErrors(x.day).nonEmpty).foreach(x =>
      System.err.println(s"[dailybench] day ${x.day} failed: ${dayErrors(x.day).mkString("; ")}"))
    if (correct && o.recordPins) o.pins.foreach(p => Pins.record(p, pins, o.workload, o.seed, outcomes))

    trace.foreach(_.settle())
    spark.stop()

    val warm = ran.drop(1)
    val (tailS, tailLabel) = tail(warm.map(_.s))
    val p50 = median(warm.map(_.s))
    // A day that threw did not finish its rows: throughput counts the others.
    val completed = Some(warm.filterNot(_.threw)).filter(_.nonEmpty).getOrElse(warm)
    val stored = wl.outputRoots.map(r => Disk.listing(r).filter(kv => !wl.isLog(kv._1)).values.sum).sum
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_day_s" -> ran.head.s,
      "day_s_p50" -> p50,
      "day_s_tail" -> tailS,
      "rows_per_s" -> median(completed.map(x => x.rows / x.s)),
      "bytes_written_per_input_byte" -> ran.map(_.writtenBytes).sum.toDouble / ran.map(_.inputBytes).sum,
      "stored_bytes_per_input_byte" -> stored.toDouble / wl.heldInputBytes(ran.map(_.day)),
      "peak_live_mb" -> ran.map(_.liveMb).max)

    val layer = trace.map { t =>
      def meanOverWarm(f: Day => Map[String, Double]): Map[String, Double] = {
        val perDay = warm.map(f)
        perDay.flatMap(_.keys).distinct.map(k => k -> perDay.map(_.getOrElse(k, 0.0)).sum / warm.size).toMap
      }
      val spanMetrics = meanOverWarm(x => t.counters(wl.spans(x.day, x.startMs, x.endMs)))
      val session = Metrics.spanCounters.map { case (c, _) => s"GraftSession.build.$c" ->
        (if (c == "s" || c == "driver_s") sessionS else 0.0) }.toMap
      val values = Metrics.perLayer.map(_._1).map(n => n -> 0.0).toMap ++ spanMetrics ++
        meanOverWarm(_.layer) ++ session + ("failed_share" -> failed.toDouble / ran.size)
      val unknown = values.keySet -- Metrics.perLayer.map(_._1)
      require(unknown.isEmpty, s"spans outside the catalog: ${unknown.mkString(", ")}")
      values
    }

    o.detail.foreach(p => writeDetail(p, o, sessionS, ran, dayErrors, e2e,
      tailLabel, unpinned, liveAfterSetup))
    System.err.println(f"[dailybench] ${o.workload} seed ${o.seed}: ${ran.size} days " +
      f"(${warm.size} warm), day_s_p50 $p50%.3f, tail $tailLabel, failed $failed, " +
      s"correct $correct, unpinned digests $unpinned")
    println(Metrics.resultLine(correct, ran.size, failed,
      if (o.trace) Metrics.perLayer else Metrics.endToEnd, layer.getOrElse(e2e)))
    if (correct) 0 else 1
  }

  private def writeDetail(p: Path, o: Opts, sessionS: Double,
                          ran: Seq[Day], errors: Map[Int, Seq[String]], e2e: Map[String, Double],
                          tailLabel: String, unpinned: Int, liveAfterSetup: Double): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", o.workload).put("seed", o.seed).put("seconds", o.seconds)
      .put("trace", o.trace).put("cpus", o.cpus).put("warm_days", ran.size - 1)
      .put("day_s_tail_percentile", tailLabel).put("unpinned_digests", unpinned)
      .put("live_mb_after_setup", liveAfterSetup).put("session_build_s", sessionS)
    val e = root.putObject("end_to_end")
    e2e.toSeq.sortBy(_._1).foreach { case (k, v) => e.put(k, v) }
    val ds = root.putArray("days")
    ran.foreach { x =>
      val n: ObjectNode = ds.addObject()
      n.put("day", x.day).put("s", x.s).put("threw", x.threw)
        .put("written_bytes", x.writtenBytes).put("input_bytes", x.inputBytes).put("rows", x.rows)
        .put("live_mb", x.liveMb)
      x.check.digest.foreach(n.put("digest", _))
      if (errors(x.day).nonEmpty) n.put("error", errors(x.day).mkString("; "))
    }
    Files.createDirectories(p.toAbsolutePath.getParent)
    m.writerWithDefaultPrettyPrinter().writeValue(p.toFile, root)
  }
}

/** Pinned output digests: `{workload: {seed: {day: digest}}}`; a day that
  * threw is pinned as [[Pins.Threw]]. */
final case class Pins(tree: Map[String, Map[String, Map[String, String]]]) {
  def get(workload: String, seed: Long, day: Int): Option[String] =
    tree.get(workload).flatMap(_.get(seed.toString)).flatMap(_.get(day.toString))
  def hasSeed(workload: String, seed: Long): Boolean =
    tree.get(workload).exists(_.contains(seed.toString))
}

object Pins {
  val empty: Pins = Pins(Map.empty)
  val Threw = "threw"
  private val mapper = new ObjectMapper()

  def load(p: Path): Pins =
    if (!Files.exists(p) || Files.size(p) == 0) empty
    else Pins(mapper.readTree(p.toFile).fields().asScala.map { w =>
      w.getKey -> w.getValue.fields().asScala.map { s =>
        s.getKey -> s.getValue.fields().asScala.map(d => d.getKey -> d.getValue.asText).toMap
      }.toMap
    }.toMap)

  /** Add `digests` of a correct run to the file; existing pins stay. */
  def record(p: Path, pins: Pins, workload: String, seed: Long, digests: Seq[(Int, String)]): Unit = {
    val seedMap = pins.tree.getOrElse(workload, Map.empty).getOrElse(seed.toString, Map.empty) ++
      digests.map { case (d, dg) => d.toString -> dg }.filterNot(kv => pins.get(workload, seed, kv._1.toInt).isDefined)
    val tree = pins.tree + (workload -> (pins.tree.getOrElse(workload, Map.empty) + (seed.toString -> seedMap)))
    val root = mapper.createObjectNode()
    for ((w, seeds) <- tree.toSeq.sortBy(_._1)) {
      val wn = root.putObject(w)
      for ((s, ds) <- seeds.toSeq.sortBy(_._1.toLong)) {
        val sn = wn.putObject(s)
        ds.toSeq.sortBy(_._1.toInt).foreach { case (d, dg) => sn.put(d, dg) }
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, root)
  }
}
