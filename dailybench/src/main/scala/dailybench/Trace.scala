package dailybench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** Job and task completion events of the benchmark's own session, kept in
  * memory and attributed to spans after the last day. Registered only in
  * a traced run. */
final class Trace extends SparkListener {

  private final case class TaskRun(launchMs: Long, finishMs: Long, failed: Boolean,
                                   shuffleWriteBytes: Long, spillBytes: Long)

  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val jobsEnded = new AtomicInteger()
  private val tasks = new ConcurrentLinkedQueue[TaskRun]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    tasks.add(TaskRun(e.taskInfo.launchTime, e.taskInfo.finishTime,
      e.taskInfo.failed || e.taskInfo.killed,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L)))
  }

  /** Wait until the listener bus has delivered every job's end and no
    * task event has arrived for a while. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var lastTasks = -1
    while (System.currentTimeMillis() < deadline &&
      (jobsEnded.get < jobStarts.size || tasks.size != lastTasks)) {
      lastTasks = tasks.size
      Thread.sleep(200)
    }
  }

  /** `<span>.<counter>` for one day's spans. Jobs and tasks go to the span
    * holding their start (a job's submission, a task's launch), trying
    * plain spans before remainder spans; spans sharing a name add up. */
  def counters(spans: Seq[Span]): Map[String, Double] = {
    val (plain, rest) = spans.partition(!_.remainder)
    val ordered = plain ++ rest
    def owner(t: Long): Option[Span] = ordered.find(s => s.startMs <= t && t <= s.endMs)
    val jobsBy = jobStarts.asScala.toSeq.flatMap(t => owner(t)).groupBy(_.name)
    val tasksBy = tasks.asScala.toSeq.flatMap(t => owner(t.launchMs).map(_ -> t)).groupBy(_._1.name)
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val inside = if (ss.head.remainder) plain.filter(p => ss.exists(r => r.startMs <= p.startMs &&
        p.endMs <= r.endMs)).map(p => p.endMs - p.startMs).sum else 0L
      val s = (ss.map(x => x.endMs - x.startMs).sum - inside) / 1000.0
      val ts = tasksBy.getOrElse(name, Nil)
      val busy = unionMs(ts.map { case (sp, t) => (t.launchMs max sp.startMs, t.finishMs min sp.endMs) }) / 1000.0
      Map(
        "s" -> s,
        "jobs" -> jobsBy.getOrElse(name, Nil).size.toDouble,
        "tasks" -> ts.size.toDouble,
        "exec_busy_s" -> busy,
        "driver_s" -> (s - busy),
        "shuffle_write_bytes" -> ts.map(_._2.shuffleWriteBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_._2.spillBytes).sum.toDouble,
        "failed_attempts" -> (ss.map(_.failedAttempts).sum + ts.count(_._2.failed)).toDouble
      ).map { case (k, v) => s"$name.$k" -> v }
    }
  }

  /** Length of the union of [start, end] intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > curEnd) { total += curEnd - curStart; curStart = a; curEnd = b }
      else curEnd = curEnd max b
    }
    total + (curEnd - curStart)
  }
}
