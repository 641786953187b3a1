package graft

/** Benchmark harness.
  *
  * Default mode forks FRESH WORKER JVMs (graft.BenchWorker): rounds
  * 6-8 each chased a different in-suite attribution artifact — residual
  * state-store threads, deferred GC debt absorbed by the first heavy query
  * after warmup, and finally dedup_canonical reading 79.7 s in-suite vs
  * 5.8 s isolated (13.7×) with BOTH min-of-2 passes inflated, i.e. debt
  * that `settle()` (cache clear + state-store stop + System.gc) provably
  * does not clear. A fresh JVM is the only isolation that makes a number
  * equal its isolated measurement BY CONSTRUCTION. The fork unit is ONE
  * QUERY — except for a [[Gate.Group]]: gates sharing a
  * memoized build measure inside one worker (train once, serve many),
  * because fork-per-query re-paid the same training ~20× and that
  * redundant wall is what broke round 15's cap. `SPARK_GRAFT_FORK=0`
  * keeps the old single-JVM path for quick local iteration.
  *
  * Round-15 post-mortem: the suite grew to 151 entries and the DRIVER
  * TIMED THE WHOLE RUN OUT (BENCH_r15 rc:124, parsed:null) — ~13 min of
  * serial JVM startups plus warmup+2-passes over everything blew the
  * wall-clock cap, and because the metric line printed only at suite end,
  * the kill left nothing parseable. Three changes keep the record inside
  * the budget and make a kill non-fatal:
  *
  *   1. PIPELINED STARTUP: the next worker JVM is forked while the
  *      current one measures; the worker prints a READY handshake as
  *      soon as its JVM is up and blocks on stdin for GO — the
  *      SparkSession builds only AFTER GO (r16 ADVICE: a session build
  *      is ~5 s of heavy multi-core CPU, and prestarting it landed that
  *      contention inside the previous worker's single measured pass).
  *      JVM boot + classloading still overlap measurement; the session
  *      build runs serialized but CLEAN, after the previous worker has
  *      exited. At most one worker is ever past GO.
  *   2. WALL BUDGET: SPARK_GRAFT_BENCH_BUDGET seconds (default 1620 —
  *      r16 ran 1812 s of sbt wall and survived the driver cap, so
  *      1620 + overhead lands ~160 s inside the proven-survivable
  *      point). The FLAGSHIP trio (q1/q2/q3) dispatches first
  *      unconditionally, then the pinned corpus_curate_e2e unit (see
  *      [[PinnedSecondLabel]]); the other must-units CHEAPEST-FIRST
  *      (ascending estimate — r18: fat-first starved the cheap §2 must
  *      batches on a contended window); droppables follow in the
  *      per-round rotation order. Estimates are WALL-priced from the
  *      last full run's per-label wall record (r19: label estimates
  *      underpriced real wall 2–4× and the reservation let droppable
  *      siblings starve 3 must gates).
  *      A per-label WATCHDOG (see runForkedSuite) kills any entry that
  *      runs past the per-entry ceiling (12% of the budget, ~194 s) —
  *      the r17 driver run let two contention-inflated entries eat ~30%
  *      of the budget and evict 83 labels including the trio.
  *      Tasks run must-entries first, then build phases, then
  *      droppable [[Gate]] cost-twins in the per-round
  *      rotation order; before each task the remaining budget is checked
  *      against the task's estimated cost (prior-round min × executions
  *      ×1.2 + startup). Tasks that do not fit are CUT — named in
  *      bench.json and counted as "cut":N on the metric line — so
  *      exhaustion trims exactly the anchors whose production twin is
  *      already measured, and the run ALWAYS finishes with a record.
  *   3. INCREMENTAL RECORD: bench.json is rewritten after every task
  *      (with "partial":true until the end), so even an external kill
  *      leaves the completed measurements on disk.
  *
  * Within a worker the measurement discipline is unchanged: warmup pass
  * (JIT + codegen + file-listing caches), then per-query MIN over
  * SPARK_GRAFT_PASSES measured passes — defaulting to 1 in fork mode
  * (the fresh JVM + warmup already isolate the number; a second pass
  * doubled wall for no extra signal) and 2 in single-JVM mode —
  * noop-sink materialization (count() lets EliminateSorts drop final
  * sorts non-uniformly), replay-harness queries run exactly once (their
  * time is the harness, not a plan). All per-pass times are recorded in
  * bench.json under "passes" so an inflated reading is self-diagnosing
  * from the artifact alone — the STDOUT metric line is assembled under
  * an explicit byte budget ([[LineCap]] + a hard require) because BOTH
  * round 9 (passes on the line, ~4.7 KB) and round 10 (full-precision
  * doubles, 2,458 chars) outgrew the driver's 2,000-char tail capture
  * and recorded parsed:null. Values are 1 ms rounded; when the full
  * entry list would still not fit, the droppable [[Gate]]
  * anchors overflow to bench.json and the line carries a "more":N count.
  */
object Bench {

  private[graft] def sfDirEnv: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private[graft] def warmupsEnv: Int =
    sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1").toInt

  private[graft] def passesEnv(warmups: Int, fork: Boolean): Int =
    if (warmups == 0) 1 // cold mode: the first run IS the cold measurement
    else {
      // fork default 1: a fresh warmed JVM needs no second pass to dodge
      // suite debt (the whole point of forking); single-JVM default 2 so
      // a one-off absorption lands in one pass, not both
      val p = sys.env.getOrElse("SPARK_GRAFT_PASSES", if (fork) "1" else "2")
      require(p.toIntOption.exists(_ >= 1),
        s"SPARK_GRAFT_PASSES must be a positive integer, got '$p'")
      p.toInt
    }

  /** Query names to run, honoring SPARK_GRAFT_ONLY (local narrowing; the
    * driver never sets it) — the one parser Bench and Verify share. An
    * empty or typo'd filter aborts: it would otherwise measure ZERO
    * queries and print total=0 as if it were a (spectacular) result. */
  private[graft] def selectedNames(): Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      require(o.nonEmpty, "SPARK_GRAFT_ONLY is set but names no queries")
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
  }

  /** A gate marked droppable; build phases and unknown labels are not. */
  private def isDroppable(label: String): Boolean =
    SparkEntry.byName.get(label).exists(_.droppable)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val sfDir = sfDirEnv
    val warmups = warmupsEnv
    val fork = sys.env.getOrElse("SPARK_GRAFT_FORK", "1") != "0"
    val passes = passesEnv(warmups, fork)
    val names = selectedNames()
    // build phases (of selected gates) only make sense with a warmup pass:
    // cold mode's consumer entry already includes the memoized build (an
    // honest cold number) and a second build would double-count the cost
    // in "total"
    val phases =
      if (warmups == 0) Seq.empty
      else SparkEntry.gates.filter(g => names.contains(g.name)).flatMap(_.phase)
    // prior floors are read ONCE, up front: the incremental partial writes
    // below overwrite bench.json mid-run, so a late read would compare
    // this run against its own first half. Wall floors for labels no
    // longer in the suite are dropped here — the whole-map wall write
    // would otherwise carry a renamed/retired gate's entry forever
    val prior = readPriorQueries()
    val priorWall = readPriorWalls().view.filterKeys(k =>
      SparkEntry.queries.contains(k) || SparkEntry.phases.exists(_.name == k)).toMap
    val seed = roundSeed()

    val (results: Seq[(String, Double, Seq[Double])], cut: Seq[String],
         wdogKilled: Seq[String], walls: Map[String, Double]) =
    if (fork) {
      // must-entries first, then droppable cost-twins in the per-round
      // rotation order — budget exhaustion (below) then trims exactly the
      // anchors whose production twin already ran, and WHICH anchors get
      // trimmed rotates round-over-round like the compact-line overflow
      // set. Queries sharing a memoized build fold into ONE worker unit
      // (a memo [[Gate.Group]]), with their build phases attached, so the
      // family's training runs once, not once per fork.
      val (drop, must) = names.partition(isDroppable)
      val units = forkUnits(must ++ rotationOrder(drop, seed), phases.map(_.name))
      // default 1620: r16 ran to 1812 s sbt wall and SURVIVED the driver
      // cap (rc 0) — direct evidence the cap is above 1812. Budget 1620
      // lands ~1650 s wall: ~160 s inside the proven-survivable point,
      // and ~170 s more coverage than the first r17 run's 1450 (which
      // still cut 70 labels — the suite's honest cost at 2 executions
      // per label is the binding constraint, not protocol overhead).
      val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1620").toDouble
      runForkedSuite(units, sfDir, warmups, passes, budget, prior, priorWall, t0)
    } else {
      val spark = GraftSession.builder("graft-bench").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val qs = BenchCore.measure(spark, sfDir, names, warmups, passes)
      val ph = phases.map(p => BenchCore.measurePhase(spark, sfDir, p, warmups, passes))
      spark.stop()
      // the single-JVM path measures no walls (its in-process wall would
      // mix neighbors' residue) but must PRESERVE the prior record's —
      // see writeRecord's whole-map contract
      (qs ++ ph, Seq.empty[String], Seq.empty[String], priorWall)
    }

    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
    // the emitted metric line must FIT the driver's 2000-char tail capture:
    // round 9 put the per-pass map on it (~4.7 KB → truncated); round 10
    // moved passes off but full-precision doubles still left 2,458 chars →
    // truncated AGAIN (both rounds recorded parsed:null). The measured
    // budget from the r10 artifact: tail(2000) − sbt's "[success] ..."
    // epilogue (~80 chars) ⇒ the line must stay ≲1,900; we assemble to
    // LineCap (1750) and hard-require(<1800) so query-list growth fails
    // the build loudly instead of silently voiding the round's record.
    // Full precision + passes + every entry always land in bench.json.
    // round-over-round tripwire: the r11 record shipped corpus_curate_e2e
    // at 5.1× the previous round with nobody around to adjudicate —
    // compare each min-pass against the PREVIOUS bench.json (read up
    // front, before this run's incremental writes overwrite it) and flag
    // >2× movers loudly. ≥1 s floor: a 0.3 s → 0.7 s wobble is
    // scheduling noise, not a regressed plan.
    val tripped = tripwireMovers(results, prior)
    tripped.foreach { case (k, p, v) =>
      System.err.println(f"[bench] TRIPWIRE: $k min-pass moved ${v / p}%.1fx " +
        f"round-over-round ($p%.2fs -> $v%.2fs) — re-measure isolated and " +
        "adjudicate (plan regression vs substrate) before citing this record")
    }
    // watchdog-killed labels ran past the per-entry ceiling (~8% of the
    // wall budget) BY CONSTRUCTION: they ride the line's tripwire list
    // (unmeasured, so tripwireMovers cannot see them) and are already in
    // `cut`
    val trippedNames = (tripped.map(_._1) ++ wdogKilled).distinct
    // the driver greps the sbt tail for the metric JSON and rounds 1-2
    // failed to parse it out of sbt's [info]-prefixed log noise — persist
    // the full record to bench.json (best-effort: a read-only cwd must not
    // void the measurement), and emit the compact line LAST on BOTH stdout
    // and stderr (sbt prefixes stdout with "[info] "; stderr passes bare)
    writeRecord(results, cut, sfDir, fork, trippedNames, walls, partial = false)
    val (compact, omitted) =
      compactLine(results.map(r => (r._1, r._2)), sfDir, trippedNames,
        seed, cut.size)
    if (omitted.nonEmpty)
      System.err.println("[bench] line-budget overflow (full record in bench.json): " +
        omitted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    // the line-budget breach must fail LOUDLY but only after bench.json and
    // the stderr copy are safe — a mass-failure round (every name on the
    // line twice, in queries and failed) would otherwise void the exact
    // self-diagnosing artifact the breach needs adjudicating with
    System.err.println(compact)
    require(compact.length < 1800,
      s"metric line is ${compact.length} chars — breaches the driver's " +
        "tail-capture budget; mark oracle-anchor twins droppable in SparkEntry.gates " +
        "(full record already persisted to bench.json)")
    println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** >2× round-over-round movers (≥1 s floor — a 0.3→0.7 s wobble is
    * scheduling noise, not a regressed plan). Factored out of main so the
    * spec can drive it against synthetic baselines. */
  private[graft] def tripwireMovers(results: Seq[(String, Double, Seq[Double])],
                                    prior: Map[String, Double]): Seq[(String, Double, Double)] =
    results.collect {
      case (k, v, _) if v >= 1.0 && prior.get(k).exists(p => p > 0 && v > 2.0 * p) =>
        (k, prior(k), v)
    }

  /** The round-over-round tripwire baseline: the on-disk bench.json
    * (the last FULL local run — SPARK_GRAFT_ONLY partials write
    * bench.partial.json and cannot touch it, which is what makes it a
    * trustworthy same-protocol floor), with the newest committed
    * `BENCH_r{N}.json` driver artifact WITH a parseable queries map
    * filling only the keys bench.json lacks. A timed-out round's
    * artifact (r15: rc 124, parsed:null) yields nothing, so the scan
    * falls back to the last good one instead of silently disarming the
    * wire.
    *
    * History of this policy: it was min(local, artifact) — the r12
    * silencing incident (a substrate-elevated PARTIAL local run patched
    * the floor high) needed the artifact as an unsilenceable floor.
    * Round 16 removed the silencing vector (partials can no longer
    * write bench.json) and the min() bit back: a 2-round-stale artifact
    * measured under the old min-of-2 protocol dragged floors
    * systematically low and fired 12 false tripwires in one run —
    * enough names to blow the metric line's byte budget. Same-era
    * local floors first; artifact only where no local floor exists.
    * Best-effort: any parse problem weakens the baseline, never fails
    * the bench. */
  private[graft] def readPriorQueries(dir: String = "."): Map[String, Double] = {
    val d = java.nio.file.Paths.get(dir)
    val local = queryMinsFrom(d.resolve("bench.json"))
    val artifact = benchArtifactsDescending(d).iterator
      .map(queryMinsFrom).find(_.nonEmpty).getOrElse(Map.empty)
    artifact ++ local
  }

  /** The CURRENT round number (highest committed `BENCH_r{N}` + 1) —
    * the rotation seed for compact-line membership. With only ~half of
    * the droppable entries fitting the line each round, a fixed greedy
    * order would leave the SAME set permanently in overflow — and an
    * overflow entry's round-over-round floor lives only in local
    * bench.json, which every local run rewrites. A per-round seed
    * rotates which droppables ride the line, so every gate gets a
    * committed driver-artifact floor at least every ~2 rounds. */
  private[graft] def roundSeed(dir: String = "."): Int = {
    val re = """BENCH_r(\d+)\.json""".r
    latestBenchArtifact(java.nio.file.Paths.get(dir))
      .flatMap(p => re.findFirstMatchIn(p.getFileName.toString))
      .flatMap(_.group(1).toIntOption).map(_ + 1).getOrElse(0)
  }

  /** The seed-rotated greedy re-add order over droppable entries: md5 of
    * "r<seed>:<name>" — deterministic within a round, reshuffled across
    * rounds. */
  private[graft] def rotationOrder(names: Seq[String], seed: Int): Seq[String] =
    names.sortBy { n =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"r$seed:$n".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }

  /** The committed `BENCH_r{N}.json` artifacts in `dir`, newest first. */
  private[graft] def benchArtifactsDescending(d: java.nio.file.Path): Seq[java.nio.file.Path] =
    roundArtifacts(d, "BENCH_r").sortBy(-_._1).map(_._2)

  /** Committed per-round driver artifacts `<stem>{N}.json` in `d` with
    * their round numbers, unordered — the one copy of the repo-root
    * artifact scan (Bench floors read `BENCH_r*`; Verify's evidence
    * ordering reads `CORRECTNESS_r*`). Best-effort: an unreadable dir is
    * no artifacts. */
  private[graft] def roundArtifacts(d: java.nio.file.Path,
                                    stem: String): Seq[(Int, java.nio.file.Path)] =
    try {
      val re = (java.util.regex.Pattern.quote(stem) + """(\d+)\.json""").r
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.flatMap { p =>
          p.getFileName.toString match {
            case re(n) => n.toIntOption.map(_ -> p)
            case _ => None
          }
        }.toSeq
      } finally s.close()
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** The highest-numbered committed `BENCH_r{N}.json` in `dir`, if any. */
  private[graft] def latestBenchArtifact(d: java.nio.file.Path): Option[java.nio.file.Path] =
    benchArtifactsDescending(d).headOption

  /** Per-query positive timings from the FIRST `"queries"` object in `p` —
    * tolerant of both the compact bench.json shape (`"queries":{...}`) and
    * the driver artifact's pretty-printed `parsed` block (`"queries": {`).
    * The artifact's raw `tail` string cannot decoy the match: its quotes
    * are JSON-escaped (`\"queries\":`), which the unescaped-quote regex
    * never matches. Non-positive entries (failed = -1) never form a floor. */
  private[graft] def queryMinsFrom(p: java.nio.file.Path): Map[String, Double] =
    numsObjectFrom(p, "queries")

  /** Per-label WALL seconds from the last full run's bench.json `"wall"`
    * object — everything a label's slot really costs (session build on a
    * unit's first label, warmups, settle, fork-cold memoized builds), the
    * currency runForkedSuite's dispatch prices in. Local record only: the
    * driver's compact line never carries walls (byte budget), so there is
    * no artifact fallback. Absent on records written before r20 — the
    * scheduler then falls back to measured-estimate × [[DefaultWallFactor]]. */
  private[graft] def readPriorWalls(dir: String = "."): Map[String, Double] =
    numsObjectFrom(java.nio.file.Paths.get(dir).resolve("bench.json"), "wall")

  /** The positive numeric entries of the FIRST `"<key>":{...}` object in
    * `p` (see [[queryMinsFrom]] for the decoy-resistance argument). */
  private[graft] def numsObjectFrom(p: java.nio.file.Path,
                                    key: String): Map[String, Double] =
    try {
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = java.nio.file.Files.readString(p)
        ("\"" + java.util.regex.Pattern.quote(key) + """"\s*:\s*\{""").r
          .findFirstMatchIn(s) match {
          case None => Map.empty
          case Some(m) =>
            val j = s.indexOf('}', m.end)
            if (j < 0) Map.empty
            else """"([^"]+)"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r
              .findAllMatchIn(s.substring(m.end, j))
              .map(mm => mm.group(1) -> mm.group(2).toDouble)
              .filter(_._2 > 0).toMap
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Assembly budget for the compact metric line. The driver stores the
    * LAST 2000 chars of the sbt output; sbt's closing "[success] Total
    * time: ..." line costs ~80 of them (measured from the r10 artifact),
    * so a complete line must stay ≲1,900. 1750 leaves slack for epilogue
    * drift and a few new entries between line audits. */
  private[graft] val LineCap = 1750

  /** Seconds to 1 ms with trailing zeros trimmed ("9.642186593" →
    * "9.642", "0.500" → "0.5", "-1.000" → "-1"): the r10 line spent ~460
    * chars on sub-millisecond double digits that no consumer reads.
    * Locale.ROOT, not the f-interpolator: this string lands in
    * machine-parsed JSON, and a comma-decimal default locale would render
    * "9,642" and void the record. */
  private[graft] def fmtSecs(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
    if (t.isEmpty || t == "-0") "0" else t
  }

  /** The driver-facing one-line metric JSON, assembled under [[LineCap]].
    * Every result is a candidate; when the full set does not fit,
    * droppable [[Gate]] entries (oracle-anchor twins whose
    * production path is also on the line, replay harnesses) are dropped
    * greedily — never a FAILED entry, which must always reach the driver.
    * Dropped entries are reported via the returned seq (logged to stderr)
    * and carry a `"more":N` count on the line; bench.json always holds
    * the complete record. The round-over-round `tripwire` names ride the
    * line unconditionally: round 12's corpus_split firing lived only in
    * bench.json + a stderr warning that scrolled out of the driver's
    * 2000-char tail — the alarm fired silently. It is ~15 bytes when
    * empty, and when non-empty it is the single most important thing on
    * the line. */
  private[graft] def compactLine(results: Seq[(String, Double)],
                                 sfDir: String,
                                 tripped: Seq[String] = Nil,
                                 seed: Int = 0,
                                 cutCount: Int = 0): (String, Seq[(String, Double)]) = {
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val sf = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // re-add order rotates with the round seed ([[roundSeed]]): a fixed
    // order would strand a constant overflow set with no committed floor
    val droppable = rotationOrder(results.collect {
      case (k, v) if isDroppable(k) && v >= 0 => k
    }, seed)
    var kept = Set.empty[String]
    def render(trips: Seq[String], tripDropped: Int): String = {
      val entries = results.filter { case (k, v) =>
        v < 0 || !isDroppable(k) || kept(k)
      }
      val omitted = droppable.count(!kept(_))
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmtSecs(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmtSecs(total)},"unit":"sec","queries":$qs,""" +
        s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sf",""" +
        s""""tripwire":${trips.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
        (if (tripDropped > 0) s""","tripwireMore":$tripDropped""" else "") +
        // wall-budget cuts ride the line so the driver record says WHY the
        // entry list shrank (names are in bench.json's "cut" array)
        (if (cutCount > 0) s""","cut":$cutCount""" else "") +
        (if (omitted > 0) s""","more":$omitted}""" else "}")
    }
    // if even the MANDATORY content (must-entries + every tripwire name)
    // overruns the cap, truncate the tripwire LIST rather than void the
    // record — the r16 full run fired 12 tripwires (~350 bytes of names)
    // and the old unconditional render breached the hard require, losing
    // the round's stdout line. Truncated names stay in bench.json.
    var trips = tripped
    var line = render(trips, tripped.size - trips.size)
    while (line.length > LineCap && trips.nonEmpty) {
      trips = trips.dropRight(1)
      line = render(trips, tripped.size - trips.size)
    }
    for (k <- droppable) {
      kept += k
      val trial = render(trips, tripped.size - trips.size)
      if (trial.length <= LineCap) line = trial else kept -= k
    }
    (line, results.filter { case (k, _) => droppable.contains(k) && !kept(k) })
  }

  /** The full-precision record (bench.json). `partial=true` marks an
    * in-progress rewrite (a killed run leaves the completed prefix on
    * disk, self-describing); the final write drops the flag. `walls` is
    * the per-label WALL seconds the worker heartbeats reported (r19
    * verdict ask #3: the corpus_curate_e2e cap-kill left zero forensic
    * record — a killed label's wall is exactly the number that
    * adjudicates watchdog disputes, and the wall-priced dispatch needs
    * the data as next round's floor). */
  private def writeRecord(results: Seq[(String, Double, Seq[Double])],
                          cut: Seq[String], sfDir: String, fork: Boolean,
                          tripped: Seq[String], walls: Map[String, Double],
                          partial: Boolean): Unit = {
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val pp = results.map { case (k, _, ps) =>
      "\"" + k + "\":" + ps.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // `walls` is written WHOLE (callers pass prior-run floors merged
    // with this run's measurements): a partial, budget-cut, or
    // single-JVM run must never destroy the wall floors of labels it
    // did not measure — readPriorWalls has no artifact fallback, so a
    // lost floor would re-open the estimate-×-factor pricing hole for
    // exactly one round per loss (self-review finding, r20)
    val ws = walls.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir",""" +
        s""""mode":"${if (fork) "fork-per-query" else "single-jvm"}",""" +
        s""""tripwire":${tripped.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""cut":${cut.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        (if (partial) """"partial":true,""" else "") +
        s""""wall":$ws,""" +
        s""""passes":$pp}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(recordPath), full + "\n")
    catch { case e: java.io.IOException => System.err.println(s"[bench] $recordPath write failed: $e") }
  }

  /** SPARK_GRAFT_ONLY partials write bench.partial.json: a filtered local
    * run clobbering bench.json would replace the full-suite tripwire
    * floor with a handful of entries (this round's smoke test did exactly
    * that). Only a FULL run may own the floor record. */
  private[graft] def recordPath: String =
    if (sys.env.contains("SPARK_GRAFT_ONLY")) "bench.partial.json" else "bench.json"

  /** One forked worker's workload: `tasks` are ("q:<name>" |
    * "phase:<name>", display label) pairs measured sequentially in one
    * JVM. Singleton for isolated queries; a whole [[Gate.Group]]
    * otherwise: a memo family (plus its build phases) for memo-sharing
    * gates (`memo = true` — these carry the one-time build surcharge in
    * estimates), or a batch of cheap gates amortizing one startup
    * (`memo = false`). */
  private[graft] final case class BenchUnit(tasks: Seq[(String, String)],
                                            memo: Boolean = false) {
    def labels: Seq[String] = tasks.map(_._2)
    def spec: String = tasks.map(_._1).mkString(";")
  }

  /** Group the ordered query names into fork units. A group's unit is
    * emitted at its FIRST member's position in `ordered` (so a family
    * with any must-entry runs in the must block), the family's build
    * phases appended last (measurePhase bypasses the memo deliberately,
    * so phase cost stays visible regardless of position). Phases whose
    * family never formed (consumer filtered out) trail as singletons. */
  private[graft] def forkUnits(ordered: Seq[String], phases: Seq[String]): Seq[BenchUnit] = {
    val inOrdered = ordered.toSet
    // build phases only ever attach to MEMO families (their consumers
    // are the memo-sharing gates); a batch never owns a phase
    val phaseFam: Map[String, Gate.Group] = SparkEntry.gates.flatMap(g =>
      g.phase.map(_.name).filter(phases.contains) zip g.group.filter(_.memo)).toMap
    val emitted = scala.collection.mutable.Set[String]()
    val units = scala.collection.mutable.ArrayBuffer[BenchUnit]()
    for (n <- ordered if !emitted(n)) {
      SparkEntry.byName.get(n).flatMap(_.group) match {
        case Some(f) =>
          // members run in TABLE row order, not `ordered`'s: a hash-keyed
          // `ordered` scrambles on every key insertion — r17's run had a
          // 12-member family re-shuffled so a streaming beast ran before a
          // light probe and inflated it 3×. Row order is curated (light
          // probes first, lifecycle next, streaming last) and STABLE
          // round-over-round, which is what per-member floors assume.
          val members = SparkEntry.gates.collect {
            case g if g.group.contains(f) && inOrdered(g.name) => g.name
          }
          val famPhases = phases.filter(p => phaseFam.get(p).contains(f))
          units += BenchUnit(members.map(m => (s"q:$m", m)) ++
            famPhases.map(p => (s"phase:$p", p)), memo = f.memo)
          emitted ++= members
        case None =>
          units += BenchUnit(Seq((s"q:$n", n)))
          emitted += n
      }
    }
    val attached = phaseFam.keySet
    units ++= phases.filterNot(attached).map(p => BenchUnit(Seq((s"phase:$p", p))))
    units.toSeq
  }

  /** Per-label cost estimate: prior-round floor × executions × 1.2, or
    * a class default when no floor exists — [[Bench.BatchDefaultEstSecs]]
    * for batch members (cheap by MEMBERSHIP CRITERION: 1-4 s gates; the
    * 20 s default priced a 9-gate batch at 188 s and got whole batches
    * cut from end-of-budget slivers their real ~45 s fit, r17 run 1),
    * [[Bench.DefaultEstSecs]] otherwise. Pure — spec-covered. */
  private[graft] def estimateLabel(label: String, prior: Map[String, Double],
                                   execs: Int): Double =
    prior.get(label).map(_ * execs * 1.2).getOrElse(
      if (SparkEntry.byName.get(label).flatMap(_.group).exists(!_.memo))
        BatchDefaultEstSecs
      else DefaultEstSecs)

  /** Dispatch order: the FLAGSHIP unit (q1/q2/q3 — the SURVEY §2 contract
    * queries, ~8 s) unconditionally first, then the [[PinnedSecondLabel]]
    * unit (see there), then the remaining must-units CHEAPEST-FIRST
    * (ascending estimate), then droppable-only units in their incoming
    * (rotation) order.
    *
    * The flagship pin exists because the r17 driver line lost the trio to
    * two contention-inflated fat gates that ran first and overran their
    * estimates 10–18× — the one unit whose absence voids the round's
    * baseline comparison must never depend on other units' estimates
    * being honest.
    *
    * Must-units ran FAT-first through r18, on the theory that a stale-fat
    * prior should measure while budget is plentiful and self-correct its
    * floor. The r18 driver run showed the failure mode that matters more:
    * on a contended window (~2–2.5× uniform inflation) the fat families
    * drained the real budget while their estimates said otherwise, and
    * the CHEAP must batches at the tail — s5/s7/o20, the §2 contract
    * anchors — were starved: only 24 of the 55 must gates got a driver
    * number. Cheapest-first maximizes the COUNT of must gates measured
    * before exhaustion (the coverage contract); a fat must family hit by
    * the squeeze at the tail is first TRIMMED to its must members
    * (popFitting), so its droppable twins absorb the cut. The r17
    * stale-fat worry is closed separately: estimates are clamped at the
    * watchdog ceiling, so no prior can price a unit out of the queue.
    *
    * The ascending key is the TRIMMED unit's estimate — the cost of the
    * must gates a squeezed window actually dispatches — not the full
    * unit's: by full estimate a family carrying one cheap must gate and
    * six droppable twins (imi_sq8: est ~310 full, ~45 trimmed) sorts to
    * the very tail of the must block, and the r19 650 s simulation cut
    * exactly those families whole, musts included, with seconds left.
    * Pure — spec-covered. */
  private[graft] def scheduleUnits(units: Seq[BenchUnit],
                                   est: BenchUnit => Double): Seq[BenchUnit] = {
    val (flagship, rest0) = units.partition(_.labels.contains(FlagshipLabel))
    val (pinned, rest) = rest0.partition(_.labels.contains(PinnedSecondLabel))
    val (mustUnits, dropUnits) = rest.partition(isMustUnit)
    flagship ++ pinned ++ mustUnits.sortBy(u => est(trimToMust(u))) ++ dropUnits
  }

  /** The query whose unit [[scheduleUnits]] pins to the front of the
    * dispatch queue (its batch carries the q1/q2/q3 trio — BASELINE.md's
    * comparison surface). */
  private[graft] val FlagshipLabel = "q1_agg_orders"

  /** Pinned SECOND, directly after the flagship trio (r19 verdict):
    * corpus_curate_e2e went three driver rounds without a sane bench
    * number — r17 contention-inflated 367.7 s, r18 budget-cut, r19
    * watchdog cap-killed — despite a 12.4–17.6 s floor proven five ways
    * (isolated min-of-3 by builder AND judge, quiet full runs, contended
    * rehearsals). Dispatched second it runs in the freshest window with
    * full budget: it cannot be starved by earlier units' overruns and
    * cannot be tail-killed. */
  private[graft] val PinnedSecondLabel = "corpus_curate_e2e"

  /** A task that survives a must-trim: a gate not marked droppable, or a
    * build phase (the one-time build costs the line keeps visible). The
    * ONE copy of the predicate — [[isMustUnit]] and [[trimToMust]] must
    * never diverge. */
  private def isMustTask(spec: String, label: String): Boolean =
    spec.startsWith("phase:") || !isDroppable(label)

  /** A unit carrying at least one must gate or build phase. */
  private[graft] def isMustUnit(u: BenchUnit): Boolean =
    u.tasks.exists { case (s, l) => isMustTask(s, l) }

  /** The unit with its droppable members cut. For an all-must or
    * all-droppable unit this is the unit itself / an empty unit
    * respectively. */
  private[graft] def trimToMust(u: BenchUnit): BenchUnit =
    BenchUnit(u.tasks.filter { case (s, l) => isMustTask(s, l) }, u.memo)

  /** What to do with the unit at the queue head. */
  private[graft] sealed trait UnitFit
  private[graft] object UnitFit {
    case object Full extends UnitFit
    case object Trimmed extends UnitFit
    case object Cut extends UnitFit
  }

  /** Budget-fit decision for one unit, given `left` seconds of budget and
    * `reserve` — the summed TRIMMED estimates of every must unit still
    * queued BEHIND this one. Policy (spec-covered):
    *
    *   - a unit may run FULL only if the queued musts still fit after it
    *     (est ≤ left − reserve) — droppable members never spend budget a
    *     queued must gate needs;
    *   - a mixed unit that fails that test runs TRIMMED to its must
    *     members if those fit the plain remainder (later units will trim
    *     under the same rule, so the reservation is not double-charged
    *     against the trimmed dispatch);
    *   - an unmixed unit (nothing to trim: all-must batch or droppable-
    *     only twin) runs FULL on the plain remainder — reservation
    *     protects musts from DROPPABLE spending, not from other musts,
    *     and by the time droppable-only units dispatch the must block is
    *     exhausted (reserve 0);
    *   - otherwise CUT.
    *
    * The r18 driver run measured 24/55 musts; the self-only trim of r18
    * plus cheapest-first recovered 35/55 in a 650 s budget simulation;
    * this reservation recovers the family musts that simulation still
    * lost (trimmed family units are ~60-80 s fork-cold vs 120-310 s
    * full). */
  private[graft] def dispatchDecision(u: BenchUnit, left: Double,
                                      reserve: Double,
                                      est: BenchUnit => Double): UnitFit = {
    val trimmed = trimToMust(u)
    val mixed = trimmed.tasks.nonEmpty && trimmed.tasks.size < u.tasks.size
    if (est(u) <= left - (if (isMustUnit(u)) reserve else 0.0)) UnitFit.Full
    else if (mixed && est(trimmed) <= left) UnitFit.Trimmed
    else if (!mixed && est(u) <= left) UnitFit.Full
    else UnitFit.Cut
  }

  /** Run `units` in forked workers, PIPELINED: while worker i measures,
    * worker i+1 is forked and parks at its READY/GO handshake with a
    * booted JVM (session build deferred to GO — see BenchWorker), so the
    * boot overlaps measurement without CPU contention inside the timed
    * window. At most one worker is ever past GO, preserving
    * the isolation the fork exists for.
    *
    * Wall budget: before dispatching each unit, its estimated cost (sum
    * of member estimates — prior-round min × executions × 1.2 — plus
    * [[StartupMarginSecs]], [[FamilyBuildEstSecs]] for memo families,
    * [[DefaultEstSecs]] per member with no prior) is checked against the
    * remaining budget MINUS the must-block reservation (see
    * [[dispatchDecision]]). A unit that does not fit runs TRIMMED to its
    * must-entries (droppable members cut by name); if even that does not
    * fit the whole unit is cut, and the scan continues — a later,
    * cheaper unit may still fit. Returns (results, cutLabels). */
  private def runForkedSuite(allUnits: Seq[BenchUnit], sfDir: String,
                             warmups: Int, passes: Int, budgetSecs: Double,
                             prior: Map[String, Double],
                             priorWall: Map[String, Double],
                             t0: Long): (Seq[(String, Double, Seq[Double])],
                                         Seq[String], Seq[String],
                                         Map[String, Double]) = {
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    def execs(label: String): Int =
      if (SparkEntry.byName.get(label).exists(_.harness)) warmups + 1
      else warmups + passes
    // the per-entry WATCHDOG ceiling: no label may hold a worker longer
    // than WatchdogBudgetFrac of the wall budget (~194 s at the default
    // 1620) — the r17 driver run let two contention-inflated entries
    // (10-40× their floors, 127-740 s of wall) eat ~30% of the budget and
    // evict 83 labels including the flagship trio; the ceiling bounds any
    // such entry at a pre-budgeted slice. The ceiling is deliberately NOT
    // floor-relative: two r18 runs each false-killed an honest gate under
    // a "3× its prior floor" cap, because warm floors structurally
    // underprice a fork-cold execution — memoized store/codebook builds
    // land on whichever family member touches the artifact first, which
    // changes with the trim set, so last round's floor says little about
    // this round's window. Sizing lives at [[WatchdogBudgetFrac]]: the
    // ceiling covers 2× the ~90 s fork-cold max (the uniform driver-
    // contention band) while still bounding the r17 disaster class
    // (127-740 s entries) at a pre-budgeted ~12% slice each.
    // Memo-family members get the build surcharge on top (any member may
    // be the one that pays a shared build its floor never shows).
    //
    // The same ceiling CLAMPS the dispatch estimate: the r17 driver run
    // also wrote its inflated numbers into bench.json as floors, and an
    // unclamped estimate (367.7 s × execs × 1.2 > the whole budget) would
    // price the gate out of every later run — permanently, since a gate
    // that never runs never corrects its floor. Clamped, the gate is
    // dispatched, and either measures at its honest floor (self-correcting
    // the record) or is killed at the ceiling having consumed a bounded,
    // pre-budgeted slice.
    val capMax = math.max(WatchdogMinSecs, WatchdogBudgetFrac * budgetSecs)
    def estLabel(label: String): Double =
      math.min(estimateLabel(label, prior, execs(label)), capMax)
    // per-label kill deadlines for the worker's sequential task list; the
    // FIRST label's window also absorbs the post-GO SparkSession build —
    // which under the exact driver contention the watchdog targets can
    // run well past the 8 s ESTIMATION margin, so the kill window gets a
    // dedicated, fatter allowance (r18 ADVICE)
    def unitCaps(u: BenchUnit): Seq[Double] =
      u.labels.zipWithIndex.map { case (_, i) =>
        capMax + (if (u.memo) FamilyBuildSurchargeSecs else 0.0) +
          (if (i == 0) SessionBuildMarginSecs else 0.0)
      }
    // WALL-priced dispatch (r19 verdict ask #2): the r19 driver run cut 3
    // must gates while 7 droppable family siblings got measured, because
    // the reservation priced units in label ESTIMATES (measured secs ×
    // execs × 1.2) while real per-unit wall runs 2–4× that (SCALE.md
    // sim-4: warmup, session build, settle, fork-cold builds). A label's
    // price is its WALL floor from the last full run's bench.json ×1.2;
    // labels never wall-measured fall back to the measured estimate ×
    // [[DefaultWallFactor]]. Clamped at the label's own kill ceiling —
    // the same no-permanent-eviction argument as estLabel's clamp: a
    // contention-tinted wall can delay a gate, never price it out forever.
    def wallLabel(label: String, memo: Boolean): Double = {
      val ceil = capMax + SessionBuildMarginSecs +
        (if (memo) FamilyBuildSurchargeSecs else 0.0)
      math.min(
        priorWall.get(label).map(_ * 1.2)
          .getOrElse(estLabel(label) * DefaultWallFactor), ceil)
    }
    // The memo-build term stays even though a first member's wall floor
    // usually includes the build: the build lands on whichever member
    // runs FIRST, and the trim set changes who that is round-over-round —
    // a ≤FamilyBuildEstSecs over-reserve per family errs must-safe
    // (over-reserving costs droppable coverage on a squeezed window;
    // under-reserving costs must gates, and musts are the contract).
    def estUnit(u: BenchUnit): Double =
      u.labels.map(l => wallLabel(l, u.memo)).sum + StartupMarginSecs +
        (if (u.memo) FamilyBuildEstSecs else 0.0)

    val results = scala.collection.mutable.ArrayBuffer[(String, Double, Seq[Double])]()
    val cut = scala.collection.mutable.ArrayBuffer[String]()
    val wdogKilled = scala.collection.mutable.ArrayBuffer[String]()
    // label → wall seconds the worker reported (includes warmups, settle,
    // and — on a unit's first label — the session build); next round's
    // dispatch floors, and the forensic record a kill adjudication needs.
    // Seeded with the prior record's floors: a label this run cuts keeps
    // the floor the last run measured (writeRecord's whole-map contract)
    val walls = scala.collection.mutable.Map[String, Double]() ++ priorWall
    def absorb(out: ForkHandle.UnitOutcome): Unit =
      out.results.foreach { case (l, v, ps, w) =>
        results += ((l, v, ps))
        if (w > 0 && v >= 0) walls(l) = w
      }
    var queue = scheduleUnits(allUnits, estUnit).toList
    def popFitting(): Option[BenchUnit] = {
      while (queue.nonEmpty) {
        val u = queue.head; queue = queue.tail
        val left = budgetSecs - elapsed()
        // must-block RESERVATION: the remaining must units' trimmed cost.
        // A unit may keep its droppable members only if every must gate
        // still queued would fit afterward — the 650 s budget simulation
        // (r19, SCALE.md) showed the self-only trim lets early full
        // family units spend the budget their droppable siblings don't
        // deserve, and the fat must families at the block's tail are cut
        // WHOLE with seconds left (20 of 55 musts lost). Deliberately
        // CONSERVATIVE: queued musts that cannot fit even trimmed still
        // count, so a doomed fat must can force an unnecessary trim of
        // feasible droppables — over-reserving costs droppable coverage
        // on a squeezed window, under-reserving costs must gates, and
        // musts are the contract.
        val reserve = queue.filter(isMustUnit).map(q => estUnit(trimToMust(q))).sum
        dispatchDecision(u, left, reserve, estUnit) match {
          case UnitFit.Full => return Some(u)
          case UnitFit.Trimmed =>
            val trimmed = trimToMust(u)
            val dropped = u.labels.diff(trimmed.labels)
            cut ++= dropped
            System.err.println(s"[bench] TRIM unit to must-entries " +
              f"(${estUnit(u)}%.0fs est, $left%.0fs left, $reserve%.0fs reserved " +
              s"for queued musts), cutting " + dropped.mkString(","))
            return Some(trimmed)
          case UnitFit.Cut =>
            cut ++= u.labels
            System.err.println(f"[bench] CUT ${u.labels.mkString(",")} " +
              f"(est ${estUnit(u)}%.0fs, $left%.0fs left of ${budgetSecs}%.0fs budget)")
        }
      }
      None
    }

    var prestarted: Option[(BenchUnit, ForkHandle)] = None
    var running = true
    while (running) {
      val wasPrestarted = prestarted.nonEmpty
      val cur = prestarted.orElse(
        popFitting().map(u => (u, ForkHandle.spawn(u.spec, sfDir, warmups, passes))))
      prestarted = None
      cur match {
        case None => running = false
        case Some((u, h)) =>
          // a prestarted unit's dispatch decision is STALE: it was made
          // before the in-flight unit's measurement, which can overrun
          // its estimate 10-18× (r17). Re-decide with the CURRENT budget
          // and reservation instead of the old plain budget check, which
          // bypassed dispatchDecision and cut a mixed must unit WHOLE
          // where a trim (or a reservation-respecting Full) was due —
          // the exact starvation mode the reservation exists to close.
          // On any non-Full verdict the spawned worker is killed and the
          // unit requeued: popFitting re-decides from the same state, so
          // the outcome is Trimmed or Cut with the standard bookkeeping
          // (both terminal — no respawn loop), at the cost of one wasted
          // JVM boot that had overlapped measurement anyway.
          val staleReserve = queue.filter(isMustUnit).map(q => estUnit(trimToMust(q))).sum
          if (wasPrestarted && dispatchDecision(u,
            budgetSecs - elapsed() + StartupMarginSecs, staleReserve,
            estUnit) != UnitFit.Full) {
            h.kill()
            // head-requeue preserves the cheapest-first invariant the
            // reservation math assumes (r19 ADVICE): u was popped AHEAD of
            // everything still in `queue`, so putting it back at the head
            // restores exactly the original schedule order
            queue = u :: queue
            System.err.println(s"[bench] REQUEUE ${u.labels.mkString(",")} " +
              "(prestarted, budget moved on — re-deciding)")
          } else {
            val remaining = budgetSecs - elapsed()
            if (!h.awaitReady(ReadyTimeoutSecs)) {
              h.kill()
              System.err.println(s"[bench] ${u.labels.mkString(",")}: worker never reached READY")
              results ++= u.labels.map(l => (l, -1.0, Seq.empty[Double]))
            } else {
              h.go()
              // overlap the NEXT worker's startup with this measurement
              prestarted = popFitting()
                .map(u2 => (u2, ForkHandle.spawn(u2.spec, sfDir, warmups, passes)))
              val out = h.finish(u.labels, remaining + 180, unitCaps(u))
              absorb(out)
              if (out.timedOut.nonEmpty) {
                // kill casualties are CUT, not failed — the budget they
                // did not consume runs the rest of the suite, which is
                // the watchdog's entire point. Only a label that blew its
                // PER-LABEL ceiling also TRIPWIRES on the metric line; a
                // whole-unit-deadline kill proves nothing about any
                // single label's plan.
                cut ++= out.timedOut
                out.capKilled.foreach { l =>
                  wdogKilled += l
                  val cap = unitCaps(u).lift(u.labels.indexOf(l)).getOrElse(capMax)
                  // the kill window it exhausted IS the label's observed
                  // wall lower bound — record it (r19 ask #3: the
                  // corpus_curate_e2e kill left zero forensic record),
                  // unless a bigger real floor is already on record; a
                  // successful tail retry overwrites it with a real wall
                  if (walls.getOrElse(l, 0.0) < cap) walls(l) = cap
                  System.err.println(s"[bench] WATCHDOG killed $l " +
                    s"(ceiling ${cap.toInt}s); cut with unstarted tail: " +
                    out.timedOut.mkString(","))
                }
              }
            }
            writeRecord(results.toSeq, cut.toSeq, sfDir, fork = true, Nil,
              walls.toMap, partial = true)
            System.err.println(f"[bench-partial] done=${results.size} " +
              f"cut=${cut.size} unitsLeft=${queue.size + prestarted.size} t=${elapsed()}%.0fs")
          }
      }
    }
    // TAIL RETRY for cap-killed labels (r19 verdict ask #4): a kill used
    // to convert the gate's only chance into a cut. At queue drain, each
    // cap-killed label gets ONE isolated re-run — fresh fork, no family
    // siblings, so nothing it does not own can eat its kill window — if
    // its wall-priced singleton still fits the remaining budget. The
    // label keeps its tripwire mark either way (it DID blow a ceiling
    // once; the driver record should say so), but a successful retry
    // gives the round a measured value and adjudicates the kill in-run.
    // A label that blows its cap twice stays cut — that is a plan signal.
    for (label <- wdogKilled.toList if !results.exists(_._1 == label)) try {
      val spec = allUnits.flatMap(_.tasks).find(_._2 == label).map(_._1)
        .getOrElse(s"q:$label")
      // isolated, the label pays any memoized family build itself: the
      // memo flag keeps both the estimate and the kill window honest
      val wasMemo = allUnits.exists(u => u.memo && u.labels.contains(label))
      val unit = BenchUnit(Seq((spec, label)), memo = wasMemo)
      val left = budgetSecs - elapsed()
      // dispatch the retry only if even its WORST case fits the budget:
      // its own kill window plus fork startup. The window the label just
      // exhausted proves nothing about its quiet cost (contention is the
      // usual culprit — that ambiguity is why the retry exists), so no
      // floor-based estimate can be trusted here in either direction;
      // bounding by the worst case instead guarantees a second kill
      // still lands INSIDE the wall budget, never up to ~180 s past it
      // (self-review r20: the driver cap is only proven survivable to
      // 1812 s of sbt wall).
      val retryWorst = unitCaps(unit).head + StartupMarginSecs
      if (retryWorst <= left) {
        System.err.println(f"[bench] RETRY $label isolated after cap-kill " +
          f"(worst-case $retryWorst%.0fs, $left%.0fs left)")
        val h = ForkHandle.spawn(unit.spec, sfDir, warmups, passes)
        try {
          if (!h.awaitReady(ReadyTimeoutSecs)) h.kill()
          else {
            h.go()
            val out = h.finish(unit.labels, budgetSecs - elapsed() + 180,
              unitCaps(unit))
            out.results.find { case (l, v, _, _) => l == label && v >= 0 }
              .foreach { case (l, v, _, _) =>
                absorb(out)
                cut -= l
                System.err.println(f"[bench] RETRY $l measured $v%.2fs — " +
                  "cap-kill adjudicated in-run (tripwire mark kept)")
              }
          }
        } catch {
          // kill the spawned worker before handing the failure to the
          // per-label catch below — an orphaned BenchWorker JVM would
          // outlive this run and contend with whatever follows it
          case scala.util.control.NonFatal(e) => h.kill(); throw e
        }
        writeRecord(results.toSeq, cut.toSeq, sfDir, fork = true, Nil,
          walls.toMap, partial = true)
      } else System.err.println(f"[bench] RETRY $label skipped " +
        f"(worst-case $retryWorst%.0fs > $left%.0fs left)")
    } catch {
      // the retry is best-effort salvage running AFTER every regular
      // result is in hand — a surprise failure here (fork refusal, temp
      // file I/O) must log and move on, never void the run's record
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] RETRY $label aborted: $e (label stays cut)")
    }
    (results.toSeq, cut.toSeq, wdogKilled.toSeq, walls.toMap)
  }

  /** Startup overhead added to every unit estimate (handshake + GO + temp
    * files); the per-member estimate used when no prior-round floor
    * exists; and the WATCHDOG's per-label allowance for a memo family's
    * one-time build (the training/build cost its members' warm floors
    * never show — any member may be the one that pays it, so every
    * member's KILL window gets it; estimates price the build separately
    * at [[FamilyBuildEstSecs]]). */
  private[graft] val StartupMarginSecs = 8.0
  private[graft] val DefaultEstSecs = 20.0
  private[graft] val BatchDefaultEstSecs = 6.0
  private[graft] val FamilyBuildSurchargeSecs = 60.0
  private[graft] val ReadyTimeoutSecs = 180.0

  /** KILL-window allowance for a unit's FIRST label, which absorbs the
    * post-GO SparkSession build: ~5 s quiet, but under 2–2.5× driver
    * contention it can exceed the 8 s [[StartupMarginSecs]] ESTIMATION
    * margin and silently eat the label's cap (r18 ADVICE). Estimation
    * keeps the honest 8 s; only the watchdog uses this fatter one. */
  private[graft] val SessionBuildMarginSecs = 45.0

  /** ESTIMATED one-time memoized-build cost for a family unit. Distinct
    * from [[FamilyBuildSurchargeSecs]] (the watchdog's per-label kill
    * allowance, sized to never false-kill): the r19 full run measured
    * every family's fork-cold build inside its first member's warmup at
    * 7.5–37.9 s (median ~18); pricing estimates at the watchdog's 60
    * refused ~460 s of feasible must work across the 11 families in the
    * 650 s budget simulation (whole family units cut with their musts at
    * 47 s left while their real trimmed cost fit). A modest underprice
    * on the fattest build (imi_sq8, ~38 s) is bounded by the whole-unit
    * deadline; a fat overprice structurally evicts must gates. */
  private[graft] val FamilyBuildEstSecs = 30.0

  /** Watchdog tuning: the per-entry ceiling is BudgetFrac of the wall
    * budget (12% of the default 1620 s ≈ 194 s), floored at MinSecs for
    * tiny local budgets. Sizing: the suite's honest per-label window tops
    * out ≈55 s warm and ≈90 s fork-cold; the ceiling must cover 2× the
    * COLD max (the driver-contention inflation band is 2–2.5×, uniform),
    * i.e. ≈180 s — the r18 frac of 0.08 (≈130 s) only covered ~1.4× cold
    * and would false-kill an honest fork-cold gate on a contended window
    * (r18 ADVICE). The r17 disaster class this ceiling exists for ran
    * 127–740 s per entry; 194 s still bounds any such entry at a
    * pre-budgeted ~12% slice. */
  private[graft] val WatchdogMinSecs = 60.0
  private[graft] val WatchdogBudgetFrac = 0.12

  /** Fallback wall-over-measured multiplier for labels with no wall floor
    * on record (first run after r20, or a never-measured gate). SCALE.md
    * sim-4 measured real per-unit wall at 2–4× measured secs across the
    * suite (warmup passes, session build, settle, fork-cold builds);
    * 2.5 sits in that band's lower half — the measured estimate already
    * carries its own ×execs×1.2, so the residual gap is mostly the
    * per-label scaffolding, not another full execution. */
  private[graft] val DefaultWallFactor = 2.5
}

/** One forked BenchWorker JVM with the READY/GO handshake. The worker
  * inherits this JVM's exact options (sbt's javaOptions: --add-opens,
  * -Xmx, -D confs) and classpath, prints [[ForkHandle.ReadyMarker]] as
  * soon as its JVM is up, and parks on stdin until GO — so the parent
  * can overlap the JVM boot with another worker's measurement while the
  * heavy SparkSession build waits until the measuring worker has exited.
  * The worker writes "label|secs|p1,p2,...|wall" to a temp file; a crash,
  * non-zero exit, or hang past the deadline reports -1 (failed) without
  * voiding the other measurements. */
private[graft] final class ForkHandle(proc: Process, out: java.nio.file.Path,
                                      ready: java.util.concurrent.CountDownLatch) {
  def awaitReady(timeoutSecs: Double): Boolean =
    ready.await((timeoutSecs * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)

  def go(): Unit = {
    proc.getOutputStream.write("GO\n".getBytes("UTF-8"))
    proc.getOutputStream.flush()
  }

  def kill(): Unit = {
    try { proc.destroyForcibly(); proc.waitFor() }
    finally cleanup()
  }

  /** Wait for the worker under TWO deadlines and read its result file
    * (one "label|minSecs|p1,p2,...|wall" line per task, written as each
    * task completes):
    *
    *   - the WHOLE-UNIT deadline (`deadlineSecs` — the remaining wall
    *     budget plus the caller's fixed grace, floored at a small 60 s so
    *     a unit dispatched with seconds left can still land its first
    *     result lines; the old 300 s floor let one misestimated unit
    *     overrun the wall budget by minutes, r16 ADVICE), and
    *   - a PER-LABEL watchdog (`caps(i)` seconds from the previous label's
    *     result line to label i's): the r17 driver run had two
    *     contention-inflated entries run 10-18× their floors to
    *     completion, eating ~30% of the budget — bounded only by this
    *     method's whole-run deadline, i.e. not at all until everything
    *     else was already lost. The result file doubles as the heartbeat:
    *     the worker appends a line per completed task, so "no new line
    *     within the current label's cap" is exactly "this label is past
    *     its kill threshold".
    *
    * Either deadline kills the worker and returns its completed prefix as
    * `results` with the unfinished labels (in-flight first) as `timedOut`
    * — a TIMEOUT, not a failure: the caller cuts + tripwires them and
    * spends the preserved budget on the rest of the suite. A worker
    * crash (exit ≠ 0 with no kill) still reports missing labels as -1 in
    * `results` — a real failure the driver must see. */
  def finish(labels: Seq[String], deadlineSecs: Double,
             caps: Seq[Double]): ForkHandle.UnitOutcome =
    try {
      val waitSecs = math.max(60.0, math.min(2400.0, deadlineSecs))
      val tEnd = System.nanoTime() + (waitSecs * 1e9).toLong
      var idx = 0 // first label without a result line yet
      var windowStart = System.nanoTime()
      var capKill = false     // the in-flight label blew its per-label cap
      var deadlineKill = false // the whole-unit deadline passed
      var exited = false
      while (!exited && !capKill && !deadlineKill) {
        exited = proc.waitFor(250, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (!exited) {
          val got = readResults()
          while (idx < labels.size && got.contains(labels(idx))) {
            idx += 1; windowStart = System.nanoTime()
          }
          val now = System.nanoTime()
          if (idx < labels.size && idx < caps.size &&
            now - windowStart > (caps(idx) * 1e9).toLong) capKill = true
          else if (now > tEnd) deadlineKill = true
        }
      }
      val timedOut = capKill || deadlineKill
      if (timedOut) { proc.destroyForcibly(); proc.waitFor() }
      val got = readResults()
      if (timedOut) {
        val missing = labels.filterNot(got.contains)
        System.err.println(s"[bench] ${labels.mkString(",")}: " +
          s"worker killed (${if (capKill)
            f"label ${labels(idx)} over its ${caps(idx)}%.0fs watchdog cap"
          else f"whole-unit deadline ${waitSecs}%.0fs"}); " +
          s"${got.size}/${labels.size} results kept")
        ForkHandle.UnitOutcome(
          labels.collect { case l if got.contains(l) =>
            (l, got(l)._1, got(l)._2, got(l)._3) },
          missing,
          // the in-flight label may have landed its line in the race
          // between the cap check and the kill — only a label with NO
          // result is a cap casualty
          capKilled = if (capKill) Some(labels(idx)).filter(missing.contains) else None)
      } else {
        if (proc.exitValue() != 0)
          System.err.println(s"[bench] ${labels.mkString(",")}: worker " +
            s"exit ${proc.exitValue()} (${got.size}/${labels.size} results recovered)")
        ForkHandle.UnitOutcome(labels.map(l => got.get(l) match {
          case Some((v, ps, w)) => (l, v, ps, w)
          case None => (l, -1.0, Seq.empty[Double], 0.0)
        }), Seq.empty)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] ${labels.mkString(",")}: fork failed: $e")
        ForkHandle.UnitOutcome(labels.map(l => (l, -1.0, Seq.empty[Double], 0.0)), Seq.empty)
    } finally cleanup()

  /** The result file's current contents. The file may be mid-append when
    * a kill lands: only NEWLINE-TERMINATED lines are trusted — a torn
    * numeric tail like "mmr_rerank|1" would otherwise parse as a complete
    * (and wildly low) measurement and poison the floor record. The r20
    * line shape is "label|minSecs|p1,p2,...|wallSecs"; the two older
    * shapes (no wall / no passes) still parse with wall 0 (= unrecorded). */
  private def readResults(): Map[String, (Double, Seq[Double], Double)] =
    try {
      val s = java.nio.file.Files.readString(out)
      s.substring(0, s.lastIndexOf('\n') + 1).linesIterator.flatMap { line =>
        line.split('|') match {
          case Array(l, v, ps, w) => v.toDoubleOption.map(d => l -> (d,
            ps.split(',').flatMap(_.toDoubleOption).toSeq,
            w.toDoubleOption.getOrElse(0.0)))
          case Array(l, v, ps) => v.toDoubleOption.map(d => l -> (d,
            ps.split(',').flatMap(_.toDoubleOption).toSeq, 0.0))
          case Array(l, v) => v.toDoubleOption.map(d => l -> (d, Seq.empty[Double], 0.0))
          case _ => None
        }
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def cleanup(): Unit = {
    try java.nio.file.Files.deleteIfExists(out)
    catch { case _: java.io.IOException => () }
  }
}

private[graft] object ForkHandle {
  /** Handshake line the worker prints once its JVM is up (the
    * SparkSession deliberately builds only after GO — see BenchWorker). */
  val ReadyMarker = "[bench-worker] READY"

  /** [[ForkHandle.finish]]'s verdict on one unit: `results` are measured
    * labels (or crashed ones at -1); `timedOut` are kill casualties — the
    * in-flight label first, then the unstarted tail — which the caller
    * records as cut, never failed. `capKilled` holds the in-flight label
    * ONLY when its per-label watchdog ceiling fired: that label provably
    * overran the per-entry budget slice and tripwires. A whole-unit-
    * deadline kill (labels individually under their caps, the unit
    * dispatched too late to finish) leaves it empty — branding those as
    * runaway entries would corrupt the adjudication record. */
  final case class UnitOutcome(results: Seq[(String, Double, Seq[Double], Double)],
                               timedOut: Seq[String],
                               capKilled: Option[String] = None)

  def spawn(task: String, sfDir: String, warmups: Int, passes: Int): ForkHandle = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val out = java.nio.file.Files.createTempFile("graft_bench_res", ".txt")
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    cmd.addAll(jvmArgs)
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.BenchWorker")
    cmd.add(out.toString); cmd.add(sfDir)
    cmd.add(warmups.toString); cmd.add(passes.toString); cmd.add(task)
    val pb = new ProcessBuilder(cmd)
    // child stdout → parent stderr: the parent's stdout must stay clean
    // for the one-line metric JSON the driver greps
    pb.redirectErrorStream(true)
    val ready = new java.util.concurrent.CountDownLatch(1)
    val proc = pb.start()
    val pump = new Thread(() => {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var line = in.readLine()
      while (line != null) {
        if (line.contains(ReadyMarker)) ready.countDown()
        else System.err.println(line)
        line = in.readLine()
      }
    })
    pump.setDaemon(true); pump.start()
    new ForkHandle(proc, out, ready)
  }
}

/** Child entry point: measures one UNIT (";"-separated "q:<query>" /
  * "phase:<build phase>" specs — a singleton or a memo-sharing family) in
  * a fresh JVM and appends one "label|minSecs|pass1,pass2,...|wallSecs"
  * line per task to args(0) AS EACH TASK COMPLETES — a crash mid-family
  * loses only the unmeasured tail, never finished measurements.
  *
  * Handshake: the worker prints [[ForkHandle.ReadyMarker]] as soon as
  * the JVM is up and parks on stdin; the SparkSession (the expensive,
  * CPU-heavy part of startup) builds only after a "GO" line, when the
  * previously-measuring worker has exited. EOF or any other
  * line exits cleanly without measuring (the parent cut the unit). */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val Array(outFile, sfDir, warmups, passes, unitSpec) = args
    // READY is printed BEFORE the SparkSession builds: the parent forks
    // this worker while the PREVIOUS one is inside its timed window, and
    // a session build is ~5 s of heavy multi-core CPU that would land in
    // that window as contention — in single-pass fork mode there is no
    // second pass to absorb it (r16 ADVICE). Parked here, the worker
    // holds only a booted JVM (the boot itself still overlaps); the
    // session builds after GO, when the previous worker has exited.
    println(ForkHandle.ReadyMarker)
    System.out.flush()
    val go = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in)).readLine()
    if (go == null || go.trim != "GO") return
    // the wall clock starts BEFORE the session build: a task's wall is
    // everything its slot really costs (first task absorbs the session
    // build; each task its warmups + settle + any fork-cold memoized
    // build) — the number the parent's wall-priced dispatch and any kill
    // adjudication need, measured from the previous task boundary exactly
    // like the parent's per-label watchdog windows
    var taskStart = System.nanoTime()
    val spark = GraftSession.builder("graft-bench-worker").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def record(label: String, secs: Double, passTimes: Seq[Double]): Unit = {
      val wall = (System.nanoTime() - taskStart) / 1e9
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
        s"$label|$secs|${passTimes.mkString(",")}|$wall\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      taskStart = System.nanoTime()
    }
    val specs = unitSpec.split(";").toSeq
    val qNames = specs.collect { case s if s.startsWith("q:") => s.drop(2) }
    val phases = specs.collect { case s if s.startsWith("phase:") => s.drop(6) }
      .flatMap(p => SparkEntry.phases.find(_.name == p))
    require(qNames.size + phases.size == specs.size,
      s"unknown bench task in unit: $unitSpec")
    // fork mode warms replay queries too: this JVM is FRESH, so an
    // unwarmed replay measures codegen/JIT cold start of the whole
    // streaming machinery on top of the harness (observed 31.6 s vs
    // 7.5 s warm for sessions_streaming). In the shared-JVM suite the
    // preceding queries provided that warmth, which is why the
    // single-JVM path keeps them unwarmed (round-8 policy). A family's
    // members measure one-by-one IN THIS ONE JVM: the memo stores are
    // JVM-global, so the first member's warmup pays the shared build and
    // every later member's warmup is a memo hit — the family economics —
    // while each completed member lands its result line immediately.
    qNames.foreach { n =>
      val r = BenchCore.measure(spark, sfDir, Seq(n), warmups.toInt,
        passes.toInt, warmReplays = true)
      record(r.head._1, r.head._2, r.head._3)
    }
    phases.foreach { p =>
      val (l, v, ps) = BenchCore.measurePhase(spark, sfDir, p,
        warmups.toInt, passes.toInt)
      record(l, v, ps)
    }
    spark.stop()
  }
}

/** The measurement core, shared by the single-JVM path and the per-query
  * workers. */
private[graft] object BenchCore {
  import org.apache.spark.sql.SparkSession

  /** Settle the JVM between measurements so one query's residue doesn't
    * tax the next one's number (matters in single-JVM mode and BETWEEN
    * PASSES in a worker). The settle is OUTSIDE the timed window. */
  private def settle(spark: SparkSession): Unit = {
    graft.operators.Dedup.releasePinned(spark) // pinned persisted stages
    org.apache.spark.sql.graftshim.GraftShims.stopStateStores()
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
  }

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcStats(): (Long, Long) = {
    var c = 0L; var t = 0L
    gcBeans.forEach { b => c += b.getCollectionCount; t += b.getCollectionTime }
    (c, t)
  }

  /** One timed run; -1.0 on failure (a failed query must be reported, not
    * silently shrink the total). */
  private def once(spark: SparkSession, sfDir: String, name: String): Double = {
    // resolved before t0: the first label of a JVM must not pay the gate
    // table's one-time class init
    val query = SparkEntry.queries(name)
    val (c0, g0) = gcStats()
    val t0 = System.nanoTime()
    try {
      // noop write, not count(): count() lets EliminateSorts drop each
      // query's final global sort, flattering DataFrame-native queries
      // while q3 (whose sort sits above an RDD boundary the optimizer
      // can't see through) paid it in full. The noop sink materializes
      // every output row uniformly.
      query(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val (c1, g1) = gcStats()
      val rt = Runtime.getRuntime
      System.err.println(f"[bench] $name $secs%.2fs gc+${c1 - c0} " +
        f"${g1 - g0}ms heap ${(rt.totalMemory - rt.freeMemory) >> 20}MiB")
      secs
    } catch {
      case e: Throwable => System.err.println(s"[bench] $name: $e"); -1.0
    } finally settle(spark)
  }

  /** Measure `names`: `warmups` warmup passes then `passes` measured
    * passes, per-query MIN (a one-off JVM-debt absorption lands in one
    * pass, not both — the min tracks the PLAN and stays regression-
    * sensitive). Replay-harness queries run exactly once, unwarmed: their
    * time is the harness (10+ sequential micro-batches through a stateful
    * query), so warming or repeating them burns minutes of wall for no
    * regression signal. A query that failed in ANY pass reports -1. */
  def measure(spark: SparkSession, sfDir: String, names: Seq[String],
              warmups: Int, passes: Int,
              warmReplays: Boolean = false): Seq[(String, Double, Seq[Double])] = {
    val planNames = names.filterNot(n => SparkEntry.byName.get(n).exists(_.harness))
    val warmNames = if (warmReplays) names else planNames
    (1 to warmups).foreach(_ => warmNames.foreach(n => once(spark, sfDir, n)))
    val byPass = (1 to passes).map { p =>
      val ns = if (p == 1) names else planNames
      val r = ns.map(n => n -> once(spark, sfDir, n)).toMap
      System.err.println(s"[bench] pass $p/$passes: " + ns.map(n =>
        f"$n=${r(n)}%.2f").mkString(" "))
      r
    }
    names.map { n =>
      val vs = byPass.flatMap(_.get(n))
      val v = if (vs.isEmpty || vs.exists(_ < 0)) -1.0 else vs.min
      (n, v, vs)
    }
  }

  /** A one-time artifact build measured as its own phase against a fresh
    * directory (the consuming query memoizes per JVM, so its warm entry
    * times the CONSUME path — this keeps the BUILD cost visible). Phases
    * get the SAME warmup + min-of-passes discipline as queries: the round-9
    * single un-warmed measurement read dedup_index_build at 7.74 s in a
    * fork-cold worker vs 3.97 s late in round 8's warm shared JVM — a
    * measurement artifact, not a plan change. Each pass builds into its own
    * fresh temp directory, so no pass reads another's file-listing warmth
    * on the OUTPUT side; the input-scan/codegen/JIT warmth is exactly what
    * the warmup pass is for. */
  def measurePhase(spark: SparkSession, sfDir: String, phase: Gate.Phase,
                   warmups: Int, passes: Int): (String, Double, Seq[Double]) = {
    def once(): Double =
      try {
        val secs = phase.timeOnce(spark, sfDir)
        System.err.println(f"[bench] ${phase.name} $secs%.2fs")
        secs
      } catch {
        case e: Throwable => System.err.println(s"[bench] ${phase.name}: $e"); -1.0
      } finally settle(spark)
    (1 to warmups).foreach(_ => once())
    val vs = (1 to passes).map(_ => once())
    val v = if (vs.isEmpty || vs.exists(_ < 0)) -1.0 else vs.min
    (phase.name, v, vs)
  }
}
