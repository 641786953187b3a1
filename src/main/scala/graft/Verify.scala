package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-15 post-mortem hardening — the driver timed the run out and the
  * round recorded `CORRECTNESS_r15.json = {}` despite 149/149 local
  * correctness, for two reasons this file now removes:
  *
  *   1. oracle_sql.json was written LAST, after all queries — a kill at
  *      minute N left the driver's DuckDB compare with nothing to load
  *      even though most query parquets existed. It is now written FIRST,
  *      so every completed query dir is comparable no matter when the
  *      process dies.
  *   2. Queries ran sequentially (~18 min for 149 at sf0.01, mostly
  *      driver-side planning + small jobs that never fill 32 cores). They
  *      now run on SPARK_GRAFT_VERIFY_PAR worker threads (default 16), each
  *      with its OWN `spark.newSession()` — same SparkContext and JVM-wide
  *      memo stores (ConcurrentHashMap.computeIfAbsent serializes builds
  *      per key), but isolated SQLConf and temp-view catalogs, so the
  *      replay harnesses' session-conf dance (Replay.scala sets
  *      shuffle.partitions=4 and restores it) and Views' temp views cannot
  *      cross-talk between concurrent queries.
  *
  * Belt-and-suspenders: SPARK_GRAFT_VERIFY_BUDGET seconds (default 780)
  * from JVM start; when the deadline passes, remaining queries are
  * SKIPPED (named on stderr) instead of letting the driver's timeout
  * produce zero evidence. Workers finish their in-flight query first.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY narrows local iteration through Bench's parser: an
    // empty or typo'd filter aborts here, before oracle_sql.json is
    // written, instead of silently verifying ZERO queries. The driver
    // never sets it, so round verifies stay complete.
    val names = verifyOrder(Bench.selectedNames())
    // oracle SQL FIRST (see scaladoc): a partial run must stay comparable
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson())
    // default 16 (was 12, before that 8): the r19 driver window cleared
    // 125 of 162 gates in the 780 s budget at par 12 under box contention;
    // the quiet rehearsal did all 162 in 193 s, so throughput — not plan
    // cost — is the binding constraint, and workers are mostly driver-side
    // planning (single-threaded per query, parallel across), near-free
    // concurrency on a 32-core box. 16 buys the ~30% more throughput the
    // full 162 needs inside the same contended budget (r19 verdict ask
    // #6: drop the rotation, write all 162 rows every round).
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "16").toInt)
    val budgetSecs = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET", "780").toDouble
    val deadline = t0 + (budgetSecs * 1e9).toLong

    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    names.foreach(queue.add)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val skipped = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicInteger(0)

    def elapsed(): Double = (System.nanoTime() - t0) / 1e9

    val workers = (1 to math.min(par, math.max(1, names.size))).map { i =>
      val th = new Thread(() => {
        // per-worker session: isolated SQLConf + temp views, shared context
        val sess = GraftSession.tune(spark.newSession())
        var n = queue.poll()
        while (n != null) {
          if (System.nanoTime() > deadline) skipped.add(n)
          else {
            val q0 = System.nanoTime()
            try {
              // repartition(1), NOT coalesce(1): coalesce propagates up to
              // the nearest shuffle, so a scan-shaped gate would COMPUTE in
              // one task; the round-robin exchange keeps upstream
              // parallelism and only the (tiny, sf0.01) result funnels to
              // the single writer task. Values are partitioning-independent
              // by construction (stable-rounded doubles, exact-micros sums).
              // The exchange discards any trailing orderBy, so the written
              // ROW ORDER is then pinned with a sortWithinPartitions over
              // every orderable output column (r19 ADVICE): the driver's
              // compare sorts rows before hashing (empirically confirmed by
              // the r19 driver round passing on repartitioned output), but
              // a deterministic file needs no such assumption. Row order is
              // fully pinned for every CURRENT gate (all columns orderable,
              // names unique and backtick-free — the full 162 passed
              // check_oracle on this code); a future gate with map-typed
              // columns would be stable only up to its orderable prefix.
              val df = SparkEntry.queries(n)(sess, sfDir).repartition(1)
              val sortCols = df.schema.fields.filter(f =>
                org.apache.spark.sql.catalyst.expressions.RowOrdering
                  .isOrderable(f.dataType))
                .map(f => org.apache.spark.sql.functions.col(s"`${f.name}`"))
              val pinned = if (sortCols.isEmpty) df
                           else df.sortWithinPartitions(sortCols.toSeq: _*)
              pinned.write.mode("overwrite").parquet(s"$outDir/$n")
              System.err.println(f"[verify] $n ok ${(System.nanoTime() - q0) / 1e9}%.1fs " +
                f"(${done.incrementAndGet()}/${names.size}, t=${elapsed()}%.0fs)")
            } catch { case e: Throwable =>
              failed.add(n)
              System.err.println(s"[verify] $n FAILED: ${e.getMessage}")
            }
            // frees only THIS session's pins; other workers' stay cached
            finally graft.operators.Dedup.releasePinned(sess)
          }
          n = queue.poll()
        }
      }, s"verify-$i")
      th.setDaemon(false); th.start(); th
    }
    workers.foreach(_.join())

    if (!skipped.isEmpty)
      System.err.println(s"[verify] BUDGET EXHAUSTED (${budgetSecs}s): skipped " +
        s"${skipped.size} queries: ${String.join(",", skipped)}")
    if (!failed.isEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${String.join(",", failed)}")
    System.err.println(f"[verify] ${done.get()}/${names.size} written in ${elapsed()}%.0fs " +
      s"(par=$par, budget=${budgetSecs}s)")
    spark.stop()
  }

  /** The SURVEY §2 contract gates — the reference's own query surface
    * (q1/q2/q3) plus the three §2-mapped operator gates. Pinned to the
    * HEAD of the verify queue every round, mirroring Bench's `b_tpch`
    * pin: round 18's stalest-first rotation (correct for cumulative
    * coverage) left exactly these six riding a one-round-stale r17 slice
    * when the driver's budget cut the queue at 58 — the one set whose
    * absence weakens the round's §2 evidence must never depend on where
    * the rotation happens to put it. */
  private[graft] val FlagshipVerify: Seq[String] = Seq(
    "q1_agg_orders", "q2_net_demand", "q3_supplier_orders",
    "s5_row_counts", "s7_snapshot_scan", "o20_summary")

  /** Verification order: the [[FlagshipVerify]] contract gates first
    * (unconditionally — see there), then gates with NO driver CORRECTNESS
    * row ever, then least-recently-verified, alphabetical only as the tie
    * break within a round. Round 17's budget skip processed the queue
    * alphabetically and ate the exact tail after `s7_snapshot_scan` — the
    * 29 newest gates (the entire new sketch family among them) got no
    * driver row while the best-evidenced gates were re-verified for the
    * 17th time. Under this order, a budget truncation eats the gates with
    * the MOST prior driver evidence, never the newest and never the
    * contract six.
    *
    * Evidence source: the committed `CORRECTNESS_r{N}.json` artifacts in
    * `dir` (the driver writes them to the repo root it runs from), parsed
    * as JSON. A gate's "last verified round" is the highest N whose
    * artifact holds a PASSING row for it — a failed or errored row is the
    * opposite of evidence, and crediting it would sort the one gate that
    * most needs a fresh driver row to the back of the queue. Any
    * read/parse problem degrades to "never seen" for the affected names —
    * which only PROMOTES them, never hides one. */
  private[graft] def verifyOrder(names: Seq[String], dir: String = "."): Seq[String] = {
    val lastRound = lastVerifiedRound(names, dir)
    val inNames = names.toSet
    val head = FlagshipVerify.filter(inNames.contains)
    val headSet = head.toSet
    head ++ names.filterNot(headSet.contains)
      .sortBy(n => (lastRound.getOrElse(n, 0), n))
  }

  /** name → highest committed CORRECTNESS round with a passing row for it
    * (absent = never driver-verified green). Best-effort: unreadable or
    * unparsable files are skipped. Jackson rides Spark's classpath. */
  private[graft] def lastVerifiedRound(names: Seq[String], dir: String): Map[String, Int] = {
    val wanted = names.toSet
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val seen = scala.collection.mutable.Map[String, Int]()
    for ((round, p) <- Bench.roundArtifacts(Paths.get(dir), "CORRECTNESS_r").sortBy(_._1)) {
      val root =
        try mapper.readTree(Files.readString(p))
        catch { case scala.util.control.NonFatal(_) => null }
      if (root != null && root.isObject) {
        val it = root.fields()
        while (it.hasNext) {
          val e = it.next()
          if (wanted.contains(e.getKey) && rowPassed(e.getValue)) seen(e.getKey) = round
        }
      }
    }
    seen.toMap
  }

  /** A driver row counts as evidence iff nothing in it says failure: no
    * match flag explicitly false, no non-null err. (Rows-only gates carry
    * fewer flags; absent flags don't disqualify.) */
  private def rowPassed(n: com.fasterxml.jackson.databind.JsonNode): Boolean =
    n != null && n.isObject &&
      !Seq("rows_match", "schema_match", "hash_match").exists(f =>
        n.has(f) && !n.path(f).asBoolean(true)) &&
      !(n.has("err") && !n.path("err").isNull)

  /** Every gate's oracle SQL as one JSON object, keyed by gate name. */
  private[graft] def oracleJson(): String =
    SparkEntry.gates.map(g => s"${jsonString(g.name)}: ${jsonString(g.oracle)}")
      .mkString("{", ",", "}")

  /** `s` as a JSON string literal. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in hand-written oracle SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
