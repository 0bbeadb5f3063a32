package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One public call the benchmark made: `name` is `layer.function`, times
  * are `System.nanoTime`, `parent` is 0 for a top-level span.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Work Spark did for a set of jobs (task metrics summed over their
  * stages, plus the planning time of the queries that ran them).
  */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    scanB: Long = 0, rowsRead: Long = 0, shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
    spillB: Long = 0, bytesWritten: Long = 0, rowsWritten: Long = 0, planMs: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    scanB + o.scanB, rowsRead + o.rowsRead, shuffleReadB + o.shuffleReadB,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB, bytesWritten + o.bytesWritten,
    rowsWritten + o.rowsWritten, planMs + o.planMs)
}

/** Spans kept in memory for the whole run. While a span is open its id is
  * the SparkContext job group, so every job the call starts on this thread
  * carries it. `recording` is switched per step: off, `span` just runs its
  * body (the untraced steps of a traced run, and every timed run).
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 1
  var recording: Boolean = false

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.nanoTime()) :: open
      sc.setJobGroup(Tracer.group(id), name)
      try body
      finally {
        val t0 = open.head._3
        done += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(Tracer.group(pid), pname)
          case None                  => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
  def spanOf(group: String): Option[Int] =
    if (group != null && group.startsWith(Prefix)) Some(group.drop(Prefix.length).toInt) else None

  /** Self time per span: its duration minus the part of its interval that
    * its direct children cover (children may overlap each other).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Innermost span (latest start) whose interval contains `t`. */
  def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startNs <= t && t <= s.endNs).sortBy(s => (s.startNs, s.id)).lastOption
}

/** A SparkListener (plus a QueryExecutionListener for planning time) that
  * records every job with its job group and interval, and sums task
  * metrics per stage. Attribution to spans happens after the run: a job
  * whose group names a span belongs to it exactly; a job with no group
  * (the sync server's handler threads run jobs outside the client's group)
  * belongs to the innermost span open when it started.
  */
final class SparkMeter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkMeter.JobRec

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageWork = mutable.HashMap.empty[Int, Work]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planMs)
  @volatile private var lastEventNs = System.nanoTime()
  // nanoTime = epochMs * 1e6 - offsetNs, to place listener times on span clocks
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  private def msToNs(ms: Long): Long = ms * 1000000L - offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(SparkMeter.JobGroupKey)))
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val id = e.stageInfo.stageId
    stageWork(id) = stageWork.getOrElse(id, Work()).copy(stages = 1)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = Work(tasks = 1, taskMs = m.executorRunTime,
        scanB = m.inputMetrics.bytesRead, rowsRead = m.inputMetrics.recordsRead,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled,
        bytesWritten = m.outputMetrics.bytesWritten, rowsWritten = m.outputMetrics.recordsWritten)
      stageWork(e.stageId) = stageWork.getOrElse(e.stageId, Work()) + w
    }
    lastEventNs = System.nanoTime()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) lock.synchronized {
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    lastEventNs = System.nanoTime()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Block until every started job has ended and no event arrived for a
    * short while, so the attribution below sees the whole run.
    */
  def awaitQuiet(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = lock.synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Per span: the work of the jobs attributed to it directly, and the
    * job intervals (nanoTime clock) of those jobs.
    */
  def attribute(spans: Seq[Span]): Map[Int, (Work, Seq[(Long, Long)])] = lock.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val out = mutable.HashMap.empty[Int, (Work, Seq[(Long, Long)])]
    val jobWork = mutable.HashMap.empty[Int, Work]
    stageJob.foreach { case (st, j) =>
      stageWork.get(st).foreach(w => jobWork(j) = jobWork.getOrElse(j, Work()) + w)
    }
    jobs.values.foreach { j =>
      val start = msToNs(j.startMs)
      val owner = j.group.flatMap(Tracer.spanOf).flatMap(byId.get)
        .orElse(Tracer.innermost(spans, start))
      owner.foreach { s =>
        val (w, iv) = out.getOrElse(s.id, (Work(), Nil))
        val end = if (j.endMs >= 0) msToNs(j.endMs) else start
        out(s.id) = (w + jobWork.getOrElse(j.id, Work()).copy(jobs = 1), iv :+ ((start, end)))
      }
    }
    plans.foreach { case (startMs, planMs) =>
      Tracer.innermost(spans, msToNs(startMs)).foreach { s =>
        val (w, iv) = out.getOrElse(s.id, (Work(), Nil))
        out(s.id) = (w.copy(planMs = w.planMs + planMs), iv)
      }
    }
    out.toMap
  }
}

/** A finished trace: spans plus their attributed Spark work, with the
  * per-name roll-ups the workloads report.
  */
final class Trace(val spans: Seq[Span], direct: Map[Int, (Work, Seq[(Long, Long)])]) {
  private val kids = spans.groupBy(_.parent)
  val self: Map[Int, Long] = Tracer.selfTimes(spans)

  private def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)

  /** Work of a span and everything under it. */
  def work(s: Span): Work =
    subtree(s).flatMap(d => direct.get(d.id).map(_._1)).foldLeft(Work())(_ + _)

  /** Wall time of the span not covered by any job of its subtree. */
  def driverOnlyNs(s: Span): Long = {
    val iv = subtree(s).flatMap(d => direct.get(d.id).map(_._2).getOrElse(Nil))
      .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
    s.durNs - Stats.unionLength(iv)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def topLevel: Seq[Span] = spans.filter(_.parent == 0)
}

object SparkMeter {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  final case class JobRec(id: Int, group: Option[String], startMs: Long, var endMs: Long)
}
