package dailybench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** One timed interval inside a day, named `<layer>.<span>`. `failedAttempts`
  * counts attempts the layer itself logged as failed (pipeline task
  * retries); failed Spark task attempts are added from the listener. A
  * `remainder` span covers what the day's other spans leave out of its
  * interval. */
final case class Span(name: String, startMs: Long, endMs: Long, failedAttempts: Int = 0,
                      remainder: Boolean = false)

/** What the harness learns about one day from outside the timed call. */
final case class DayCheck(error: Option[String], digest: Option[String])

/** A closed-loop daily workload: set-up builds every input and backlog
  * store, then the harness calls [[runDay]] for day 1, 2, ... and times
  * each call alone. Everything but [[runDay]] runs untimed. */
trait Workload {
  /** Generate every input file and backlog store under the work dir. */
  def setup(spark: SparkSession): Unit

  /** Days for which set-up generated inputs. */
  def maxDays: Int

  /** The day's calls into graft: the only timed code. */
  def runDay(spark: SparkSession, day: Int): Unit

  /** Raw input bytes and rows of `day` (day 0: inputs the backlog holds). */
  def inputBytes(day: Int): Long
  def inputRows(day: Int): Long

  /** Raw input bytes whose data the stores and sinks hold once `days` ran. */
  def heldInputBytes(days: Seq[Int]): Long

  /** Directories whose new files count as written by a day. */
  def outputRoots: Seq[Path]

  /** Relative paths under [[outputRoots]] that are logs, not stores or sinks. */
  def isLog(rel: String): Boolean = false

  /** Check the day's outputs; `failed` is the day's exception, if any. A
    * failed day returns the failing task and error class as its error. */
  def checkDay(spark: SparkSession, day: Int, failed: Option[Throwable]): DayCheck

  /** Check that runs once after the last day; returns its error, if any. */
  def finalCheck(spark: SparkSession, lastDay: Int): Option[String] = None

  /** Spans of a day that ran from `startMs` to `endMs`. */
  def spans(day: Int, startMs: Long, endMs: Long): Seq[Span]

  /** Store and sink state after `day`, as per-layer metric -> value. */
  def storeState(day: Int): Map[String, Double]
}
