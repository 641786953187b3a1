package graft.operators

import graft.functions.Fingerprint
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — dataset versioning between two crawl days:
  * which documents were ADDED, REMOVED, or CHANGED (same id, different
  * content), and which survived untouched. Every serious training-data
  * pipeline keeps this ledger: it is what makes a dataset release
  * auditable ("v2 = v1 + 1.2M docs − 0.3M − 40k edited") and what an
  * incremental re-processing run keys off (only added ∪ changed flow
  * through dedup/quality again).
  *
  * Shape at scale: ONE full outer join keyed on doc_id — both sides
  * shuffle-partition on the key (no broadcast: both snapshots are
  * corpus-sized) — comparing content FINGERPRINTS, not text: the
  * codegen'd rolling hash ([[Fingerprint]], the split gate's
  * content-address) reduces the compare to a long equality, so the
  * shuffle carries (id, fp) pairs, never document bodies. Output is the
  * per-doc ledger; `summary` folds it to one row per status.
  *
  * The gate derives two deterministic snapshots from the documents
  * table (old = ids with residue ≠ 0 mod 10; new = ids ≠ 5 mod 10, with
  * every text of residue 3 rewritten) so both engines construct the
  * identical pair of days.
  */
object CorpusDiff {

  /** Per-doc ledger: (doc_id, status) for status ∈ added | removed |
    * changed | unchanged. */
  def diff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // presence is carried by explicit markers, NOT fingerprint nullness: a
    // doc present in BOTH snapshots with NULL text (null fingerprint) must
    // read unchanged/changed, never "added". Null-safe fp equality (<=>,
    // the oracle's IS NOT DISTINCT FROM) makes null-text vs null-text
    // "unchanged" on both engines.
    val a = oldDocs.select(col("doc_id"),
      Fingerprint.docFingerprint(col("text")).as("fp_old"),
      lit(true).as("in_old"))
    val b = newDocs.select(col("doc_id"),
      Fingerprint.docFingerprint(col("text")).as("fp_new"),
      lit(true).as("in_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("fp_old") <=> col("fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** One row per status with counts — the release-note surface. */
  def summary(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    diff(oldDocs, newDocs)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))

  /** The deterministic snapshot derivation, single-sourced between the
    * `corpus_diff` ledger gate and the `corpus_diff_recurate` loop: day 1
    * is ids with residue ≠ 0 mod 10; day 2 is ids ≠ 5 mod 10 with every
    * residue-3 text rewritten. */
  private[operators] def oldDay(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 0)

  private[operators] def newDay(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3, concat(lit("edited "), col("text")))
          .otherwise(col("text")).as("text"))

  /** The SQL twins of [[oldDay]]/[[newDay]], as (doc_id, text) CTE bodies. */
  private[operators] val oldDaySql: String =
    "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0"
  private[operators] val newDaySql: String =
    "SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN 'edited ' || text " +
      "ELSE text END AS text FROM documents WHERE doc_id % 10 <> 5"

  /** Gated query: the deterministic two-snapshot derivation, full per-doc
    * ledger (sorted). */
  def fromDir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    diff(oldDay(docs), newDay(docs)).orderBy(col("doc_id"))
  }

  /** DuckDB twin: the SAME fingerprint fold ([[Fingerprint.fingerprintSql]]
    * — single-sourced with the split gates), same derivation, same
    * status rules over a FULL OUTER join. */
  def oracle(): String =
    s"""WITH old_day AS ($oldDaySql), new_day AS ($newDaySql),
       |old_fp AS (
       |  SELECT doc_id, ${Fingerprint.fingerprintSql("text")} AS fp FROM old_day
       |), new_fp AS (
       |  SELECT doc_id, ${Fingerprint.fingerprintSql("text")} AS fp FROM new_day
       |)
       |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |       CASE WHEN a.doc_id IS NULL THEN 'added'
       |            WHEN b.doc_id IS NULL THEN 'removed'
       |            WHEN a.fp IS NOT DISTINCT FROM b.fp THEN 'unchanged'
       |            ELSE 'changed' END AS status
       |FROM old_fp a FULL OUTER JOIN new_fp b ON a.doc_id = b.doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------- the diff-driven incremental loop

  /** One day-1 ClusterStore per (JVM, source dir) — the backlog the
    * re-curation loop mutates a fresh copy of per call (remove + append
    * mutate; the [[ClusterStore.copyStore]] gate-scaffolding convention). */
  private val day1Stores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Gated query `corpus_diff_recurate` — the incremental re-processing
    * run the ledger's scaladoc promises, composed end-to-end and proven
    * equal to from-scratch:
    *
    *   1. diff the two snapshot days → the status ledger;
    *   2. [[ClusterStore.removeAndAppend]] — `removed ∪ changed` leave the
    *      pair graph and `added ∪ changed` re-enter in ONE store
    *      transaction (a changed doc's OLD text leaves before its new
    *      text re-enters, exactly as the sequential remove-then-append
    *      pair did, but with one cluster re-label and one manifest
    *      commit). The unchanged majority's PAIRS are never recomputed
    *      (only new↔new and old↔new candidates are verified; note the
    *      one corpus-sized shingle scan of the old side building the
    *      old↔new bucket join), so daily pair-verification cost scales
    *      with the ledger's churn, not the corpus;
    *   3. leakage-safe split FROM the updated store over day 2.
    *
    * The oracle is the from-scratch [[CorpusSplit.oracle]] computed over
    * the day-2 corpus — the incremental remove+append store must be
    * indistinguishable from rebuilding on day 2's snapshot. */
  def recurateFromDir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val day1 = oldDay(docs)
    val day2 = newDay(docs)
    val backlog = day1Stores.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_diff_day1")
      TempDirs.registerForCleanup(p)
      ClusterStore.write(day1, p.toString)
      p.toString
    })
    val store = ClusterStore.copyStore(backlog, "graft_diff_recurate")
    // the ledger is read THREE times (gone, fresh, and remaining's
    // anti-join) — unpinned, each reader re-ran the day1+day2 fingerprint
    // full-outer join; pinned, the diff executes once (narrow rows:
    // doc_id + status). Released by the harness's per-query release.
    val ledger = Pinned.pin(diff(day1, day2))
    val gone = ledger.filter(col("status").isin("removed", "changed"))
      .select(col("doc_id"))
    val fresh = ledger.filter(col("status").isin("added", "changed"))
      .select(col("doc_id"))
    val remaining = day1.join(gone, Seq("doc_id"), "left_anti")
    // the composed single-commit op: one epoch rewrite, ONE connected-
    // components re-label over the merged (kept ∪ delta) edges, one
    // manifest rename — the sequential remove-then-append pair re-labeled
    // twice and committed an intermediate generation no reader of this
    // loop can observe (proven output-identical by the Round21 spec)
    ClusterStore.removeAndAppend(spark, store, gone, remaining,
      day2.join(fresh, Seq("doc_id"), "left_semi"))
    CorpusSplit.splitWith(day2, ClusterStore.readClusters(spark, store))
  }

  /** DuckDB twin of [[recurateFromDir]]: the from-scratch split oracle
    * over the [[newDaySql]] snapshot — incremental must equal rebuild. */
  def recurateOracle(): String =
    CorpusSplit.oracle(relation = "new_day",
      extraCtes = s"new_day AS ($newDaySql), ")
}
