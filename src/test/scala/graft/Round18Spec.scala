package graft

import java.nio.file.Files

/** Round-18 protocol hardening: the two r17 evidence-channel losses were
  * both SCHEDULING choices — Verify's alphabetical queue let the budget
  * skip eat the 29 newest gates (the whole KMV family had no driver row
  * ever), and Bench let two contention-inflated entries run 10-18× their
  * floors to completion, evicting 83 labels including the flagship trio.
  * These specs pin the fixes: evidence-priority verify order, and the
  * per-label bench watchdog that converts a runaway entry into a bounded,
  * named tripwire instead of a lost round. */
class Round18Spec extends SparkSpec {

  // ------------------------------------------------------ verify ordering

  test("verifyOrder: never-driver-verified gates first, then stalest-first") {
    val dir = Files.createTempDirectory("graft_verify_order")
    try {
      Files.writeString(dir.resolve("CORRECTNESS_r1.json"),
        """{"b_gate": {"rows_match": true}, "a_gate": {"rows_match": true}}""")
      Files.writeString(dir.resolve("CORRECTNESS_r2.json"),
        """{"a_gate": {"rows_match": true}}""")
      val order = Verify.verifyOrder(
        Seq("a_gate", "b_gate", "d_gate", "c_gate"), dir.toString)
      // c/d never driver-verified -> first (alphabetical between them);
      // b last seen r1 beats a last seen r2
      assert(order === Seq("c_gate", "d_gate", "b_gate", "a_gate"))
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(dir))
  }

  test("verifyOrder: a FAILED or errored driver row is anti-evidence, not evidence") {
    // a gate that failed in the last round needs a fresh driver row MOST:
    // crediting the failed row would sort it to the back of the queue —
    // the exact inversion of the feature's goal
    val dir = Files.createTempDirectory("graft_verify_failed")
    try {
      Files.writeString(dir.resolve("CORRECTNESS_r5.json"),
        """{"good": {"rows_match": true, "schema_match": true, "hash_match": true, "err": null},
          | "bad_hash": {"rows_match": true, "schema_match": true, "hash_match": false, "err": null},
          | "bad_err": {"rows_match": true, "err": "py4j boom"}}""".stripMargin)
      val order = Verify.verifyOrder(Seq("good", "bad_hash", "bad_err"), dir.toString)
      assert(order === Seq("bad_err", "bad_hash", "good"),
        "failed/errored rows must sort as never-verified; only the green row is evidence")
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(dir))
  }

  test("verifyOrder: a name prefixing another is never credited by the longer key") {
    // keys are matched exactly via JSON parsing: an artifact containing only
    // "ann_recall_pq" must not mark "ann_recall" as verified (and vice versa)
    val dir = Files.createTempDirectory("graft_verify_prefix")
    try {
      Files.writeString(dir.resolve("CORRECTNESS_r3.json"),
        """{"ann_recall_pq": {"rows_match": true}}""")
      val order = Verify.verifyOrder(Seq("ann_recall", "ann_recall_pq"), dir.toString)
      assert(order === Seq("ann_recall", "ann_recall_pq"),
        "ann_recall has no row of its own and must sort as never-verified")
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(dir))
  }

  test("verifyOrder: no artifacts degrades to alphabetical (the old order)") {
    val dir = Files.createTempDirectory("graft_verify_empty")
    try assert(Verify.verifyOrder(Seq("b", "a", "c"), dir.toString) === Seq("a", "b", "c"))
    finally Files.deleteIfExists(dir)
  }

  test("verifyOrder over the real repo root is flagship-pinned then (last driver round, name)") {
    // state-independent property (the repo's CORRECTNESS_r{N} set grows
    // every round): whatever the artifacts say, the queue must start with
    // the six SURVEY §2 contract gates, then be sorted by last-verified
    // round first, name second — so a budget truncation always eats the
    // most-evidenced gates, never the newest and never the contract six
    val names = SparkEntry.queries.keys.toSeq
    val last = Verify.lastVerifiedRound(names, ".")
    val order = Verify.verifyOrder(names, ".")
    assert(order.take(Verify.FlagshipVerify.size) === Verify.FlagshipVerify,
      "the §2 contract gates must head the queue every round")
    val keys = order.drop(Verify.FlagshipVerify.size).map(n => (last.getOrElse(n, 0), n))
    assert(keys === keys.sorted, "the rest must be (lastRound, name)-sorted")
    assert(order.sorted === names.sorted, "ordering must be a permutation")
  }

  test("verifyOrder: flagship gates are pinned ahead even of never-verified gates") {
    // r18: the stalest-first rotation (correct cumulatively) left q1-q3/
    // s5/s7/o20 riding a one-round-stale slice when the driver budget cut
    // the queue — the contract six outrank even brand-new gates
    val dir = Files.createTempDirectory("graft_verify_pin")
    try {
      Files.writeString(dir.resolve("CORRECTNESS_r7.json"),
        """{"q1_agg_orders": {"rows_match": true}, "s5_row_counts": {"rows_match": true}}""")
      val order = Verify.verifyOrder(
        Seq("a_new_gate", "q1_agg_orders", "s5_row_counts", "z_new_gate"), dir.toString)
      assert(order === Seq("q1_agg_orders", "s5_row_counts", "a_new_gate", "z_new_gate"),
        "driver-verified-last-round flagship gates still precede never-verified ones")
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(dir))
  }

  test("FlagshipVerify names registered queries and matches Bench's pinned trio") {
    assert(Verify.FlagshipVerify.toSet.subsetOf(SparkEntry.queries.keySet))
    assert(Verify.FlagshipVerify.contains(Bench.FlagshipLabel),
      "the bench-pinned flagship must be inside the verify-pinned set")
  }

  // ------------------------------------------------------ bench watchdog

  private def handleFor(proc: Process, resultLines: String): (ForkHandle, java.nio.file.Path) = {
    val out = Files.createTempFile("graft_wd_spec", ".txt")
    Files.writeString(out, resultLines)
    val ready = new java.util.concurrent.CountDownLatch(1)
    ready.countDown()
    (new ForkHandle(proc, out, ready), out)
  }

  test("finish: the per-label watchdog kills a stalled worker and keeps the prefix") {
    val proc = new ProcessBuilder("sleep", "300").start()
    val (h, _) = handleFor(proc, "a|1.5|1.5\n")
    val t0 = System.nanoTime()
    // label b's cap is 1 s; the whole-unit deadline (600 s) must not be
    // what ends this test
    val out = h.finish(Seq("a", "b", "c"), 600.0, Seq(60.0, 1.0, 60.0))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.results === Seq(("a", 1.5, Seq(1.5), 0.0)))
    assert(out.timedOut === Seq("b", "c"),
      "in-flight label first, unstarted tail after")
    assert(out.capKilled === Some("b"),
      "only a per-label ceiling kill may brand a label as a runaway tripwire")
    assert(secs < 30.0, f"watchdog should fire at ~1s, took $secs%.1fs")
    assert(!proc.isAlive)
  }

  test("finish: a crashed worker reports missing labels as FAILED, not timed out") {
    val proc = new ProcessBuilder("sh", "-c", "exit 3").start()
    val (h, _) = handleFor(proc, "a|2.0|2.0\n")
    val out = h.finish(Seq("a", "b"), 600.0, Seq(60.0, 60.0))
    assert(out.results === Seq(("a", 2.0, Seq(2.0), 0.0), ("b", -1.0, Seq.empty, 0.0)))
    assert(out.timedOut.isEmpty,
      "a crash is a real failure the driver must see as -1, never a cut")
  }

  test("finish: a clean worker returns every label and no timeouts") {
    val proc = new ProcessBuilder("true").start()
    // b carries the r20 4-field wall shape; a is the pre-r20 3-field
    // shape (wall 0 = unrecorded) — both must parse
    val (h, _) = handleFor(proc, "a|2.0|2.0\nb|0.5|0.5,0.7|4.25\n")
    val out = h.finish(Seq("a", "b"), 600.0, Seq(60.0, 60.0))
    assert(out.results === Seq(("a", 2.0, Seq(2.0), 0.0), ("b", 0.5, Seq(0.5, 0.7), 4.25)))
    assert(out.timedOut.isEmpty)
  }

  // ------------------------------------------------- KMV primitive buffer

  test("KmvBuffer: insert and split-merge equal the sorted-distinct-take-k reference") {
    // the r17 ADVICE rewrite (TreeSet[java.lang.Long] -> primitive sorted
    // long[]) must preserve exact set semantics under heavy duplication,
    // saturation, and arbitrary merge splits
    val rnd = new scala.util.Random(18)
    for (_ <- 1 to 30) {
      val k = 2 + rnd.nextInt(12)
      val vals = Vector.fill(200)(rnd.nextInt(60).toLong) // dense duplicates
      val ref = graft.functions.KmvSketch.reference(vals, k)
      val buf = new graft.functions.KmvBuffer(k)
      vals.foreach(buf.insert)
      assert(java.util.Arrays.copyOf(buf.arr, buf.size).toSeq === ref)
      val (a, b) = vals.splitAt(rnd.nextInt(vals.size + 1))
      val ba = new graft.functions.KmvBuffer(k)
      a.foreach(ba.insert)
      val bb = new graft.functions.KmvBuffer(k)
      b.foreach(bb.insert)
      ba.mergeFrom(bb)
      assert(java.util.Arrays.copyOf(ba.arr, ba.size).toSeq === ref,
        s"merge of a ${a.size}/${b.size} split must equal the whole-stream sketch")
    }
  }

  // ------------------------------------------------- lazy hybrid guard

  test("hybrid fuse: empty-list guard is LAZY and still fails loudly at action time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lex = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("query_id", "doc_id", "lrank")
    val emptyVec = Seq.empty[(Long, Long, Long)].toDF("query_id", "doc_id", "vrank")
    // construction + schema/plan access must NOT execute the upstream
    // (the r17 guard ran limit(1).count() eagerly here); the emptiness
    // must still raise — but inside the consuming action
    val fused = graft.operators.HybridRetrieval.fuse(lex, emptyVec, 5, 60)
    assert(fused.columns.toSeq ===
      Seq("query_id", "rank", "doc_id", "rrf_micros"))
    fused.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val e = intercept[Exception] { fused.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("hybrid fusion")),
      s"expected the fusion guard's message, got: ${messages(e).mkString(" | ")}")
    graft.operators.Pinned.release(spark)
  }

  test("hybrid fuse: BOTH lists empty still fails loudly (guard survives empty-relation pruning)") {
    import spark.implicits._
    val empty1 = Seq.empty[(Long, Long, Long)].toDF("query_id", "doc_id", "lrank")
    val empty2 = Seq.empty[(Long, Long, Long)].toDF("query_id", "doc_id", "vrank")
    val fused = graft.operators.HybridRetrieval.fuse(empty1, empty2, 5, 60)
    val e = intercept[Exception] { fused.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("hybrid fusion")),
      s"expected the fusion guard's message, got: ${messages(e).mkString(" | ")}")
    graft.operators.Pinned.release(spark)
  }

  test("hybrid fuse: both lists present fuses normally under the lazy guard") {
    import spark.implicits._
    val lex = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("query_id", "doc_id", "lrank")
    val vec = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("query_id", "doc_id", "vrank")
    val rows = graft.operators.HybridRetrieval.fuse(lex, vec, 5, 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 2 is on both lists -> top rank
    assert(rows.head === ((0L, 1L, 2L)))
    assert(rows.length === 3)
    graft.operators.Pinned.release(spark)
  }
}
