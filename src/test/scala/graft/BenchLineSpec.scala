package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-facing metric line: rounds 9 AND 10 both lost their official
  * bench record because the one-line JSON outgrew the driver's 2000-char
  * tail capture. This spec is the growth guard the verdict asked for: it
  * renders the line for the CURRENT full query set (plus headroom for
  * future gates) and fails the build the moment it would truncate again. */
class BenchLineSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  // every real query + both build phases, with worst-case-width values
  // (two digits before the point → 6-char renders, wider than typical)
  private def fullResults(v: Double = 12.345678): Seq[(String, Double)] =
    (SparkEntry.queries.keys.toSeq.sorted ++
      SparkEntry.phases.map(_.name)).map(_ -> v)

  test("fmtSecs: 1 ms precision, trailing zeros trimmed, failures intact") {
    assert(Bench.fmtSecs(9.642186593) === "9.642")
    assert(Bench.fmtSecs(0.5) === "0.5")
    assert(Bench.fmtSecs(12.0) === "12")
    assert(Bench.fmtSecs(0.0004) === "0")
    assert(Bench.fmtSecs(-1.0) === "-1")
  }

  test("metric line for the current full suite fits the driver tail budget") {
    val (line, _) = Bench.compactLine(fullResults(), "/root/testdata/sf0.1")
    assert(line.length < 1800, s"line is ${line.length} chars")
    assert(line.length <= Bench.LineCap + 40) // greedy never overshoots by more than one entry
    val parsed = mapper.readTree(line)
    assert(parsed.get("metric").asText === "total")
    assert(parsed.get("unit").asText === "sec")
    assert(parsed.get("sf").asText === "sf0.1")
    // the reference-surface headline queries are NEVER dropped
    for (q <- Seq("q1_agg_orders", "q2_net_demand", "q3_supplier_orders",
      "s5_row_counts", "s7_snapshot_scan", "o20_summary"))
      assert(parsed.get("queries").has(q), s"$q must stay on the line")
  }

  test("headroom: six future gates still fit before the hard require trips") {
    val future = (1 to 6).map(i => f"future_gate_$i%02d" -> 12.345678)
    val (line, omitted) =
      Bench.compactLine(fullResults() ++ future, "/root/testdata/sf0.1")
    assert(line.length < 1800, s"line is ${line.length} chars — " +
      "mark more SparkEntry.gates rows droppable before adding more gates")
    val parsed = mapper.readTree(line)
    for ((k, _) <- future) assert(parsed.get("queries").has(k))
    // the budget was paid by dropping low-priority anchors, visibly
    assert(omitted.nonEmpty)
    assert(parsed.get("more").asInt === omitted.size)
  }

  test("omitted entries come only from lowPriorityBench; failures always stay") {
    val results = fullResults().map {
      case ("dedup_canonical", _) => ("dedup_canonical", -1.0) // failed anchor
      case r => r
    } ++ (1 to 6).map(i => f"future_gate_$i%02d" -> 12.345678)
    val (line, omitted) = Bench.compactLine(results, "/root/testdata/sf0.1")
    assert(omitted.nonEmpty)
    for ((k, _) <- omitted)
      assert(SparkEntry.byName.get(k).exists(_.droppable), s"$k is not droppable")
    val parsed = mapper.readTree(line)
    assert(parsed.get("queries").has("dedup_canonical"),
      "a FAILED low-priority entry must still reach the driver")
    assert(parsed.get("queries").get("dedup_canonical").asInt === -1)
    assert(parsed.get("failed").toString.contains("dedup_canonical"))
  }

  test("a non-empty tripwire renders on the driver-facing line within budget") {
    // round 12's corpus_split tripwire fired only in bench.json + stderr —
    // invisible on the driver record. The names must ride the line itself.
    val tripped = Seq("corpus_split", "dedup_canonical")
    val (line, _) =
      Bench.compactLine(fullResults(), "/root/testdata/sf0.1", tripped)
    assert(line.length < 1800, s"line is ${line.length} chars")
    val parsed = mapper.readTree(line)
    val tw = parsed.get("tripwire")
    assert(tw != null && tw.isArray && tw.size === 2)
    assert((0 until tw.size).map(tw.get(_).asText).toSet === tripped.toSet)
    // and the empty case still carries the key (stable schema for the driver)
    val (clean, _) = Bench.compactLine(fullResults(), "/root/testdata/sf0.1")
    val ctw = mapper.readTree(clean).get("tripwire")
    assert(ctw != null && ctw.isArray && ctw.size === 0)
  }

  test("tripwire floor: same-era local first, artifact fills only missing keys") {
    // r16 policy: bench.json is written ONLY by full runs (partials go to
    // bench.partial.json), so the local record is a trustworthy
    // same-protocol floor; the committed artifact — measured rounds ago
    // under min-of-2 — fills only the keys the local record lacks.
    // (The old min(local, artifact) dragged floors systematically low and
    // fired 12 false tripwires in one run.)
    val dir = java.nio.file.Files.createTempDirectory("graft_tripwire_spec")
    try {
      java.nio.file.Files.writeString(dir.resolve("bench.json"),
        """{"metric":"total","value":50,"unit":"sec","queries":{"corpus_curate_e2e":21.8,"q1_agg_orders":2.6,"local_only":-1.0},"failed":[],"sf":"sf0.1"}""")
      // the committed artifact shape: pretty-printed, with a raw `tail`
      // string whose ESCAPED queries object must not decoy the parser
      java.nio.file.Files.writeString(dir.resolve("BENCH_r12.json"),
        """{
          |  "n": 12,
          |  "tail": "noise {\"queries\":{\"corpus_curate_e2e\":999.0}} more noise",
          |  "parsed": {
          |    "metric": "total",
          |    "queries": {
          |      "corpus_curate_e2e": 17.6,
          |      "q1_agg_orders": 2.7,
          |      "artifact_only": 4.0
          |    }
          |  }
          |}""".stripMargin)
      java.nio.file.Files.writeString(dir.resolve("BENCH_r3.json"),
        """{"parsed": {"queries": {"corpus_curate_e2e": 1.0}}}""") // stale round: must NOT win
      val prior = Bench.readPriorQueries(dir.toString)
      // local floor wins over the stale artifact value
      assert(prior("corpus_curate_e2e") === 21.8)
      assert(prior("q1_agg_orders") === 2.6)
      // a key with no local floor still gets the artifact's
      assert(prior("artifact_only") === 4.0)
      assert(!prior.contains("local_only"), "a failed (-1) entry never forms a floor")
      // >2x vs the SAME-ERA floor still trips; a stale-floor 1.25x does not
      val tripped = Bench.tripwireMovers(
        Seq(("corpus_curate_e2e", 45.0, Seq(45.0)), ("q1_agg_orders", 2.8, Seq(2.8)),
          ("artifact_only", 9.0, Seq(9.0))), prior)
      assert(tripped.map(_._1).toSet === Set("corpus_curate_e2e", "artifact_only"))
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("a tripwire storm truncates the tripwire list, never the line budget") {
    // the r16 full run fired 12 tripwires; every name rode the line
    // unconditionally and the MANDATORY content breached the hard
    // require, voiding the stdout record. The list must self-truncate
    // (count preserved as tripwireMore; full names live in bench.json).
    val storm = SparkEntry.queries.keys.toSeq.sorted.take(40)
    val (line, _) = Bench.compactLine(fullResults(), "/root/testdata/sf0.1", storm)
    assert(line.length < 1800, s"line is ${line.length} chars")
    val parsed = mapper.readTree(line)
    val tw = parsed.get("tripwire")
    assert(tw.isArray && tw.size > 0 && tw.size < 40,
      s"expected a truncated non-empty tripwire list, got ${tw.size}")
    assert(parsed.get("tripwireMore").asInt === 40 - tw.size)
  }

  test("compact-line membership rotates with the round seed") {
    // with the full suite overflowing the cap, consecutive rounds must
    // keep DIFFERENT droppable subsets on the line — that is what gives
    // every overflow entry a committed driver-artifact floor every ~2
    // rounds instead of stranding a fixed set in local-only bench.json
    val results = fullResults()
    val omittedBySeed = (15 to 17).map { s =>
      val (line, omitted) = Bench.compactLine(results, "/root/testdata/sf0.1",
        Nil, seed = s)
      assert(line.length < 1800, s"seed $s line is ${line.length} chars")
      // rotation must never widen droppability: only droppable gates fall off
      for ((k, _) <- omitted)
        assert(SparkEntry.byName.get(k).exists(_.droppable), s"$k is not droppable")
      // deterministic within a round
      val (again, _) = Bench.compactLine(results, "/root/testdata/sf0.1",
        Nil, seed = s)
      assert(again === line)
      omitted.map(_._1).toSet
    }
    assert(omittedBySeed.forall(_.nonEmpty), "the full suite must overflow")
    assert(omittedBySeed.distinct.size > 1,
      "consecutive seeds must rotate the overflow set")
    // across a few rounds, rotation reaches entries a fixed order never would
    val always = omittedBySeed.reduce(_ intersect _)
    assert(always.size < omittedBySeed.head.size,
      "rotation must move at least some entries on/off the line")
  }

  test("roundSeed derives from the highest committed BENCH_r{N}.json") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seed_spec")
    try {
      assert(Bench.roundSeed(dir.toString) === 0, "no artifact -> seed 0")
      java.nio.file.Files.writeString(dir.resolve("BENCH_r3.json"), "{}")
      java.nio.file.Files.writeString(dir.resolve("BENCH_r14.json"), "{}")
      assert(Bench.roundSeed(dir.toString) === 15,
        "the seed is the CURRENT round: highest artifact + 1")
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("artifact floor falls back past a timed-out round's null-parsed record") {
    // r15 shipped rc:124 / parsed:null — the NEWEST artifact carried no
    // queries map. The floor scan must fall back to the last round that
    // parses instead of silently disarming the wire for a whole round.
    val dir = java.nio.file.Files.createTempDirectory("graft_fallback_spec")
    try {
      java.nio.file.Files.writeString(dir.resolve("BENCH_r15.json"),
        """{"n": 15, "rc": 124, "tail": "noise \"queries\": escaped {}", "parsed": null}""")
      java.nio.file.Files.writeString(dir.resolve("BENCH_r14.json"),
        """{"parsed": {"queries": {"q1_agg_orders": 2.5}}}""")
      val prior = Bench.readPriorQueries(dir.toString)
      assert(prior("q1_agg_orders") === 2.5)
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("budget cuts ride the line as a count; absent when nothing was cut") {
    val few = Seq("q1_agg_orders" -> 1.5)
    val (line, _) = Bench.compactLine(few, "/root/testdata/sf0.1", cutCount = 7)
    val parsed = mapper.readTree(line)
    assert(parsed.get("cut").asInt === 7)
    val (clean, _) = Bench.compactLine(few, "/root/testdata/sf0.1")
    assert(!mapper.readTree(clean).has("cut"))
    // and the full suite with a cut count still fits the tail budget
    val (fullLine, _) = Bench.compactLine(fullResults(), "/root/testdata/sf0.1",
      cutCount = 42)
    assert(fullLine.length < 1800)
    assert(mapper.readTree(fullLine).get("cut").asInt === 42)
  }

  test("forkUnits: families fold into one unit at the first member's position") {
    val groups = SparkEntry.gates.flatMap(g => g.group.map(_ -> g.name)).groupMap(_._1)(_._2)
    val fams = groups.collect { case (f, ms) if f.memo => f.name -> ms }
    val ordered = SparkEntry.queries.keys.toSeq.sorted
    val phases = SparkEntry.phases.map(_.name)
    val units = Bench.forkUnits(ordered, phases)
    // every query appears exactly once across units; phases exactly once
    val all = units.flatMap(_.labels)
    assert(all.sorted === (ordered ++ phases).sorted)
    assert(all.distinct.size === all.size)
    // each family is one unit with members contiguous
    for ((f, members) <- fams) {
      val owners = units.filter(_.labels.exists(members.contains))
      assert(owners.size === 1, s"family $f split across ${owners.size} units")
      assert(members.toSet.subsetOf(owners.head.labels.toSet))
      // memo families carry the build surcharge in estimates
      assert(owners.head.memo, s"family $f unit must be memo-flagged")
    }
    // cost batches fold like families but are NOT memo-flagged (no
    // build surcharge — the r17 coverage re-tier)
    for ((b, members) <- groups.collect { case (f, ms) if !f.memo => f.name -> ms }) {
      val owners = units.filter(_.labels.exists(members.contains))
      assert(owners.size === 1, s"batch $b split across ${owners.size} units")
      assert(members.toSet.subsetOf(owners.head.labels.toSet))
      assert(!owners.head.memo, s"batch $b unit must not be memo-flagged")
      // a batch is homogeneous in droppability, so the budget trimmer cuts
      // whole batches and never strands a must gate behind a droppable one
      assert(members.map(SparkEntry.byName(_).droppable).distinct.size === 1,
        s"batch $b mixes must and droppable gates")
    }
    // build phases attach to their consumer's family unit
    val bpeUnit = units.find(_.labels.contains("text_bpe_vocab")).get
    assert(bpeUnit.labels.contains("bpe_train"))
    assert(bpeUnit.spec.contains("phase:bpe_train"))
    // queries in NO family and NO batch stay isolated singletons (the
    // composite/iterative anchors whose in-suite inflation motivated
    // fork isolation)
    assert(units.find(_.labels.contains("corpus_curate_e2e")).get.labels ===
      Seq("corpus_curate_e2e"))
    assert(units.find(_.labels.contains("ann_recall")).get.labels ===
      Seq("ann_recall"))
    assert(units.find(_.labels.contains("ann_recall_pq")).get.labels ===
      Seq("ann_recall_pq"))
    // batched cheap gates are no longer singletons (the r16 coverage
    // ceiling: ~50 of 65 cuts were sub-4 s gates each paying a full fork)
    assert(units.find(_.labels.contains("dedup_canonical")).get.labels.size > 1)
    // members execute in the family's DECLARED order, never the
    // hash-scrambled `ordered` (the r17 3×-inflation root cause): the
    // ivf_float family declares its streaming replay LAST
    val ivfFloat = units.find(_.labels.contains("ivf_ann_topk")).get
    val qLabels = ivfFloat.tasks.filter(_._1.startsWith("q:")).map(_._2)
    assert(qLabels === SparkEntry.gates.filter(_.group.exists(_.name == "ivf_float")).map(_.name))
    assert(qLabels.last === "ivf_stream_append")
  }

  test("scheduleUnits: must cheapest-first, droppables keep rotation order; batch estimates") {
    // cheapest-first: the r18 driver window ran fat must families first
    // and starved the cheap §2 must batches — only 24/55 must gates got a
    // driver number. Ascending estimate maximizes the COUNT of must gates
    // measured before a contended budget exhausts; a fat must family at
    // the tail is trimmed to its must members, never silently lost whole.
    val fat = Bench.BenchUnit(Seq(("q:mmr_rerank", "mmr_rerank")))
    val trio = Bench.BenchUnit(Seq(("q:q1_agg_orders", "q1_agg_orders"),
      ("q:q2_net_demand", "q2_net_demand"), ("q:q3_supplier_orders", "q3_supplier_orders")))
    val cheapMust = Bench.BenchUnit(Seq(("q:s5_row_counts", "s5_row_counts")))
    val dropA = Bench.BenchUnit(Seq(("q:dedup_canonical", "dedup_canonical")))
    val dropB = Bench.BenchUnit(Seq(("q:bm25_topk", "bm25_topk")))
    val prior = Map("mmr_rerank" -> 133.0, "q1_agg_orders" -> 4.4,
      "q2_net_demand" -> 2.8, "q3_supplier_orders" -> 3.3,
      "s5_row_counts" -> 1.4, "dedup_canonical" -> 90.0, "bm25_topk" -> 1.0)
    def est(u: Bench.BenchUnit): Double =
      u.labels.map(l => Bench.estimateLabel(l, prior, 2)).sum
    val ordered = Bench.scheduleUnits(
      Seq(fat, dropA, trio, dropB, cheapMust), est)
    // the flagship trio is PINNED first (r17: the driver line lost q1/q2/q3
    // to two fat gates that overran their estimates 10-18×); remaining
    // musts sort cheapest-first
    assert(ordered.take(3).map(_.labels.head) ===
      Seq("q1_agg_orders", "s5_row_counts", "mmr_rerank"),
      "flagship first, then must units cheapest-first")
    // droppables keep their incoming (rotation) order REGARDLESS of
    // estimate — dropA (est 216) stays ahead of dropB (est 2.4)
    assert(ordered.drop(3).map(_.labels.head) ===
      Seq("dedup_canonical", "bm25_topk"))
    // the ascending key is the TRIMMED estimate: a family whose must gate
    // is cheap sorts by that gate's cost, not by its fat droppable twins
    // (the r19 650s simulation cut exactly the tail-sorted families whole)
    val famCheapMust = Bench.BenchUnit(Seq(
      ("q:imi_sq8_probe", "imi_sq8_probe"),               // must, cheap
      ("q:imi_sq8_requantize", "imi_sq8_requantize")),    // droppable, fat
      memo = true)
    val prior2 = prior ++ Map("imi_sq8_probe" -> 3.3, "imi_sq8_requantize" -> 69.8)
    def est2(u: Bench.BenchUnit): Double =
      u.labels.map(l => Bench.estimateLabel(l, prior2, 2)).sum
    val ordered2 = Bench.scheduleUnits(Seq(fat, famCheapMust, trio), est2)
    assert(ordered2.map(_.labels.head) ===
      Seq("q1_agg_orders", "imi_sq8_probe", "mmr_rerank"),
      "trimmed est (~8) beats mmr's 319, though the family's full est is ~175")
    // no-prior estimates: batch members price at the cheap default,
    // non-batch at the conservative one (the r17 run-1 bug: a 9-gate
    // batch priced 188 s was cut from slivers its real ~45 s fit)
    assert(Bench.estimateLabel("bm25_topk", Map.empty, 2) ===
      Bench.BatchDefaultEstSecs)
    assert(Bench.estimateLabel("corpus_curate_e2e", Map.empty, 2) ===
      Bench.DefaultEstSecs)
    // with a prior, the estimate is floor × execs × 1.2 for both classes
    assert(Bench.estimateLabel("bm25_topk", Map("bm25_topk" -> 1.0), 2) === 2.4)
  }

  test("scheduleUnits: corpus_curate_e2e is pinned second, right after the trio") {
    // r19 verdict ask #1: three driver rounds without a sane bench number
    // for corpus_curate_e2e (r17 contention-inflated, r18 budget-cut, r19
    // cap-killed) despite a 12.4-17.6 s floor proven five ways. Pinned
    // directly after b_tpch it runs in the freshest window with full
    // budget, regardless of how fat its (possibly kill-tinted) estimate is.
    val trio = Bench.BenchUnit(Seq(("q:q1_agg_orders", "q1_agg_orders"),
      ("q:q2_net_demand", "q2_net_demand"), ("q:q3_supplier_orders", "q3_supplier_orders")))
    val e2e = Bench.BenchUnit(Seq(("q:corpus_curate_e2e", "corpus_curate_e2e")))
    val cheapMust = Bench.BenchUnit(Seq(("q:s5_row_counts", "s5_row_counts")))
    val drop = Bench.BenchUnit(Seq(("q:bm25_topk", "bm25_topk")))
    // a kill-tinted fat estimate must NOT push the pinned unit back
    val prior = Map("corpus_curate_e2e" -> 194.0, "s5_row_counts" -> 1.4,
      "q1_agg_orders" -> 4.4, "q2_net_demand" -> 2.8,
      "q3_supplier_orders" -> 3.3, "bm25_topk" -> 1.0)
    def est(u: Bench.BenchUnit): Double =
      u.labels.map(l => Bench.estimateLabel(l, prior, 2)).sum
    val ordered = Bench.scheduleUnits(Seq(drop, e2e, cheapMust, trio), est)
    assert(ordered.map(_.labels.head) === Seq("q1_agg_orders",
      "corpus_curate_e2e", "s5_row_counts", "bm25_topk"),
      "flagship, then the pinned e2e unit, then musts cheapest-first")
    assert(Bench.PinnedSecondLabel === "corpus_curate_e2e")
  }

  test("wall record: per-label walls land in bench.json and read back as floors") {
    // r19 verdict asks #2/#3: the dispatch now prices units in WALL
    // seconds (label estimates underpriced real wall 2-4x and starved 3
    // must gates), fed by the "wall" object the last full run recorded.
    val dir = java.nio.file.Files.createTempDirectory("graft_wall_spec")
    try {
      java.nio.file.Files.writeString(dir.resolve("bench.json"),
        """{"metric":"total","value":50,"unit":"sec",""" +
          """"queries":{"q1_agg_orders":2.6,"corpus_curate_e2e":12.4},""" +
          """"failed":[],"sf":"sf0.1","tripwire":[],"cut":[],""" +
          """"wall":{"q1_agg_orders":11.2,"corpus_curate_e2e":31.5,"bad_entry":-1.0},""" +
          """"passes":{"q1_agg_orders":[2.6]}}""")
      val walls = Bench.readPriorWalls(dir.toString)
      assert(walls("q1_agg_orders") === 11.2)
      assert(walls("corpus_curate_e2e") === 31.5)
      assert(!walls.contains("bad_entry"), "non-positive walls never form a floor")
      // the queries floor read is undisturbed by the wall object
      val prior = Bench.readPriorQueries(dir.toString)
      assert(prior("q1_agg_orders") === 2.6)
      // a pre-r20 record without a wall object degrades to empty (the
      // scheduler then falls back to estimate x DefaultWallFactor)
      java.nio.file.Files.writeString(dir.resolve("bench.json"),
        """{"metric":"total","value":50,"unit":"sec","queries":{"q1_agg_orders":2.6},"failed":[],"sf":"sf0.1"}""")
      assert(Bench.readPriorWalls(dir.toString).isEmpty)
      assert(Bench.DefaultWallFactor >= 2.0 && Bench.DefaultWallFactor <= 4.0,
        "the fallback factor must sit in SCALE.md sim-4's measured 2-4x band")
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("dispatchDecision: droppable members never spend budget queued musts need") {
    // a mixed family (musts + droppable twins) may run FULL only when the
    // remaining must block (trimmed) still fits afterward; otherwise it
    // trims — the r19 650s-budget simulation lost 20/55 musts because the
    // self-only trim let early full families starve the tail's musts
    val mixed = Bench.BenchUnit(Seq(
      ("q:ivf_probe_indexed", "ivf_probe_indexed"), // must
      ("q:ivf_ann_topk", "ivf_ann_topk"),           // droppable
      ("q:ivf_requantize", "ivf_requantize")),      // droppable
      memo = true)
    val est = (u: Bench.BenchUnit) => 10.0 * u.tasks.size
    // plenty of budget: full
    assert(Bench.dispatchDecision(mixed, left = 200, reserve = 100, est) ===
      Bench.UnitFit.Full)
    // full (30) would eat the 100s reserve's tail (left 120): trim (10 <= 120)
    assert(Bench.dispatchDecision(mixed, left = 120, reserve = 100, est) ===
      Bench.UnitFit.Trimmed)
    // not even the trimmed musts fit: cut
    assert(Bench.dispatchDecision(mixed, left = 5, reserve = 0, est) ===
      Bench.UnitFit.Cut)
    // an all-must batch ignores the reservation (musts don't starve musts)
    val allMust = Bench.BenchUnit(Seq(("q:s5_row_counts", "s5_row_counts"),
      ("q:o20_summary", "o20_summary")))
    assert(Bench.dispatchDecision(allMust, left = 25, reserve = 100, est) ===
      Bench.UnitFit.Full)
    assert(Bench.dispatchDecision(allMust, left = 15, reserve = 0, est) ===
      Bench.UnitFit.Cut)
    // a droppable-only unit fits the plain remainder (reserve is 0 by the
    // time the must block is exhausted, but must not apply regardless)
    val dropOnly = Bench.BenchUnit(Seq(("q:bm25_topk", "bm25_topk")))
    assert(Bench.dispatchDecision(dropOnly, left = 12, reserve = 500, est) ===
      Bench.UnitFit.Full)
    assert(Bench.dispatchDecision(dropOnly, left = 8, reserve = 0, est) ===
      Bench.UnitFit.Cut)
  }

  test("trimToMust keeps must gates and build phases, cuts droppable twins") {
    val fam = Bench.BenchUnit(Seq(
      ("q:dedup_delta_lsh", "dedup_delta_lsh"),           // must
      ("q:store_maintenance_loop", "store_maintenance_loop"), // droppable
      ("phase:dedup_index_build", "dedup_index_build")),  // phase: kept
      memo = true)
    val t = Bench.trimToMust(fam)
    assert(t.labels === Seq("dedup_delta_lsh", "dedup_index_build"))
    assert(t.memo, "memo flag (and its build surcharge) must survive the trim")
    assert(Bench.isMustUnit(fam) && Bench.isMustUnit(t))
    assert(!Bench.isMustUnit(Bench.BenchUnit(Seq(("q:bm25_topk", "bm25_topk")))))
  }

  test("forkUnits: a family with a must-entry forms at the must position") {
    // ivf_pq_rerank (must) pulls the whole pq family forward when
    // ordered must-first
    val ordered = SparkEntry.queries.keys.toSeq.sorted
    val phases = SparkEntry.phases.map(_.name)
    val must = ordered.filterNot(SparkEntry.byName(_).droppable)
    val dropQ = ordered.filter(SparkEntry.byName(_).droppable)
    val units2 = Bench.forkUnits(must ++ dropQ, phases)
    val pqIdx = units2.indexWhere(_.labels.contains("ivf_pq_rerank"))
    val firstDropOnlyIdx = units2.indexWhere(u =>
      u.labels.forall(l => SparkEntry.byName.get(l).exists(_.droppable)))
    assert(pqIdx >= 0 && (firstDropOnlyIdx < 0 || pqIdx < firstDropOnlyIdx ||
      units2(pqIdx).labels.exists(l => !SparkEntry.byName.get(l).exists(_.droppable))))
  }

  test("when everything fits, nothing is dropped and no 'more' field appears") {
    val few = Seq("q1_agg_orders" -> 1.5, "dedup_canonical" -> 9.642186593)
    val (line, omitted) = Bench.compactLine(few, "/root/testdata/sf0.1")
    assert(omitted.isEmpty)
    val parsed = mapper.readTree(line)
    assert(!parsed.has("more"))
    assert(parsed.get("queries").get("dedup_canonical").asDouble === 9.642)
    assert(math.abs(parsed.get("value").asDouble - 11.142) < 0.0015)
  }
}
