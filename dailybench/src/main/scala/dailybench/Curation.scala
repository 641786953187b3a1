package dailybench

import graft.operators.{ClusterStore, CorpusDiff, CorpusSplit, DedupIndex, Pinned, StoreMaintenance}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.Random

/** `curation_days`: the curation day-2 loop, day after day, over one
  * [[ClusterStore]] and one [[DedupIndex]] built over day 0 in set-up.
  *
  * The corpus is generated from the seed in the shape of the `documents`
  * table of graft's TPC-H-shaped test data (see NOTES.md for the
  * measurement): lengths uniform over 10-99 words, words uniform over that
  * table's 30-word vocabulary, and 5% of the documents near-duplicates,
  * each a copy of another document with the token `dup` appended. Each
  * later day removes ~10% of ids, edits ~10% of the rest with the same
  * near-duplicate edit and re-adds the ids the previous day removed.
  * Every day's corpus is written in set-up; a day reads only its own and
  * the previous one. */
final class Curation(work: Path, seed: Long, days: Int, docs: Int) extends Workload {

  private val corpusRoot = work.resolve("corpus")
  private val store = work.resolve("cluster_store")
  private val index = work.resolve("dedup_index")

  private def corpusDir(day: Int): Path = corpusRoot.resolve(s"day=$day")
  private def corpus(spark: SparkSession, day: Int): DataFrame =
    spark.read.parquet(corpusDir(day).toString)

  private val stamps = scala.collection.mutable.Map[Int, (Long, Long)]() // day -> (docs, max id)
  private val daySpans = scala.collection.mutable.Map[Int, Seq[Span]]()
  private val fired = scala.collection.mutable.Map[Int, Int]()

  val maxDays: Int = days

  private def generate(): Seq[(Int, Long, String)] = {
    val rnd = new Random(seed)
    def fresh(): String = Seq.fill(10 + rnd.nextInt(90))(Curation.Vocabulary(rnd.nextInt(30))).mkString(" ")
    def nearDup(t: String): String = t + " dup"
    val texts = scala.collection.mutable.TreeMap[Long, String]()
    for (i <- 0L until docs.toLong) texts(i) = fresh()
    for (i <- rnd.shuffle((0L until docs.toLong).toVector).take(docs / 20))
      texts(i) = nearDup(texts((i + 1 + rnd.nextInt(docs - 1)) % docs))
    var removed = Map.empty[Long, String]
    (0 to days).flatMap { d =>
      if (d > 0) {
        val gone = texts.keys.filter(_ => rnd.nextInt(100) < 10).toSeq
        val back = removed
        removed = gone.map(id => id -> texts(id)).toMap
        gone.foreach(texts.remove)
        texts.keys.toSeq.foreach(id => if (rnd.nextInt(100) < 10) texts(id) = nearDup(texts(id)))
        texts ++= back
      }
      stamps(d) = (texts.size.toLong, texts.lastKey)
      texts.iterator.map { case (id, t) => (d, id, t) }.toSeq
    }
  }

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    generate().toDF("day", "doc_id", "text").write.partitionBy("day").parquet(corpusRoot.toString)
    val day0 = corpus(spark, 0)
    ClusterStore.write(day0, store.toString)
    DedupIndex.write(day0, index.toString)
  }

  def runDay(spark: SparkSession, day: Int): Unit = {
    val spans = Seq.newBuilder[Span]
    def span[T](name: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      try body finally spans += Span(s"operators.$name", t0, System.currentTimeMillis())
    }
    val prev = corpus(spark, day - 1)
    val cur = corpus(spark, day)
    try {
      val ledger = Pinned.pin(CorpusDiff.diff(prev, cur))
      val gone = ledger.filter(col("status").isin("removed", "changed")).select(col("doc_id"))
      val added = cur.join(ledger.filter(col("status").isin("added", "changed")), Seq("doc_id"), "left_semi")
      val remaining = prev.join(gone, Seq("doc_id"), "left_anti")
      span("remove_and_append") {
        ClusterStore.removeAndAppend(spark, store.toString, gone, remaining, added)
      }
      span("dedup_index_update") {
        DedupIndex.remove(spark, index.toString, gone)
        DedupIndex.append(added, index.toString)
      }
      span("split") {
        CorpusSplit.splitWith(cur, ClusterStore.readClusters(spark, store.toString))
          .write.format("noop").mode("overwrite").save()
      }
      val actions = span("store_maintenance") {
        StoreMaintenance.run(spark, Seq(store.toString, index.toString))
      }
      fired(day) = actions.count(_.fired)
    } finally {
      Pinned.release(spark)
      daySpans(day) = spans.result()
    }
  }

  def inputBytes(day: Int): Long = Disk.bytes(corpusDir(day))
  def inputRows(day: Int): Long = stamps(day)._1
  def heldInputBytes(days: Seq[Int]): Long = inputBytes(days.max)
  def outputRoots: Seq[Path] = Seq(store, index)

  private def splitRows(df: DataFrame): Seq[String] =
    df.collect().map(r => Seq(r.getAs[Long]("doc_id"), r.getAs[Long]("split_unit"),
      r.get(r.fieldIndex("bucket")), r.getAs[String]("split")).mkString("|")).toSeq.sorted

  private def storeSplit(spark: SparkSession, day: Int): Seq[String] =
    splitRows(CorpusSplit.splitWith(corpus(spark, day), ClusterStore.readClusters(spark, store.toString)))

  /** The store's corpus stamp must equal the generated corpus; the digest
    * is that of the day's store-driven split. */
  def checkDay(spark: SparkSession, day: Int, failed: Option[Throwable]): DayCheck = failed match {
    case Some(e) =>
      val at = daySpans.get(day).flatMap(_.lastOption).map(_.name).getOrElse("operators.diff")
      DayCheck(Some(s"after $at: ${e.getClass.getName}"), None)
    case None =>
      val got = ClusterStore.readCorpusStamp(store.toString)
      DayCheck(if (got == stamps(day)) None
        else Some(s"cluster store stamp $got != generated corpus ${stamps(day)}"),
        Some(Disk.sha(storeSplit(spark, day))))
  }

  /** The store-driven split of the last day's corpus must equal a
    * from-scratch split of that corpus. */
  override def finalCheck(spark: SparkSession, lastDay: Int): Option[String] = {
    val fromStore = storeSplit(spark, lastDay)
    val fromScratch = try splitRows(CorpusSplit.split(corpus(spark, lastDay))) finally Pinned.release(spark)
    if (fromStore == fromScratch) None
    else Some(s"store-driven split of day $lastDay differs from a from-scratch split in " +
      s"${fromStore.diff(fromScratch).size + fromScratch.diff(fromStore).size} rows")
  }

  def spans(day: Int, startMs: Long, endMs: Long): Seq[Span] = daySpans.getOrElse(day, Nil)

  def storeState(day: Int): Map[String, Double] = Map(
    "operators.cluster_store.bytes" -> Disk.bytes(store).toDouble,
    "operators.dedup_index.epochs" -> Disk.manifestEpochs(index).toDouble,
    "operators.dedup_index.bytes" -> Disk.bytes(index).toDouble,
    "operators.maintenance_fired" -> fired.getOrElse(day, 0).toDouble)
}

object Curation {
  /** The vocabulary of the reference `documents` table, `dup` aside. */
  val Vocabulary: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
}
