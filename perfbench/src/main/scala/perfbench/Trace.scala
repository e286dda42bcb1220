package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of an op. Times are System.nanoTime values;
  * `parent` is -1 for the op's root span. */
final case class Span(id: Int, parent: Int, op: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
  def contains(t: Long): Boolean = t >= start && t <= end
}

final case class JobRec(id: Int, group: String, start: Long, end: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, submit: Long, complete: Long, tasks: Int)
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, rowsRead: Long, bytesRead: Long, shuffleWrite: Long, shuffleRead: Long,
    fetchWaitMs: Long, spillBytes: Long, bytesWritten: Long, recordsWritten: Long)

/** Job, stage and task records from Spark's listener bus. Listener
  * times are wall-clock milliseconds; `toNanos` maps them onto the
  * nanoTime clock of the spans the benchmark records itself. */
class Recorder extends SparkListener {
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toNanos(ms: Long): Long = ms * 1000000L - clockOffset

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStarts.put(e.jobId, (group, toNanos(e.time), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (g, s, ids) =>
      jobs.add(JobRec(e.jobId, g, s, toNanos(e.time), ids))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, toNanos(i.submissionTime.getOrElse(0L)),
      toNanos(i.completionTime.getOrElse(0L)), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null) tasks.add(TaskRec(e.stageId, toNanos(ti.launchTime), toNanos(ti.finishTime),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  /** Remove and return every record of the jobs tagged with `group`. */
  def take(group: String): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = {
    val js = jobs.asScala.filter(_.group == group).toSeq.sortBy(_.id)
    js.foreach(jobs.remove)
    val ids = js.flatMap(_.stageIds).toSet
    val ss = stages.asScala.filter(s => ids(s.id)).toSeq
    ss.foreach(stages.remove)
    val ts = tasks.asScala.filter(t => ids(t.stage)).toSeq
    ts.foreach(tasks.remove)
    (js, ss, ts)
  }
}

/** Spans of the traced ops, kept in memory until the run
  * ends. */
class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0

  def newId(): Int = { nextId += 1; nextId }

  /** Run `body` (given its own span id) inside a span. */
  def span[T](op: String, parent: Int, name: String)(body: Int => T): T = {
    val id = newId()
    val s = System.nanoTime()
    try body(id) finally spans += Span(id, parent, op, name, s, System.nanoTime())
  }

  def add(s: Span): Unit = spans += s

  /** Attach an op's jobs and stages as spans: each job under the
    * innermost span of the op that was open when it started,
    * each completed stage under the job that ran it. */
  def attach(op: String, jobs: Seq[JobRec], stages: Seq[StageRec]): Map[Int, Int] = {
    val opSpans = spans.filter(_.op == op).toSeq
    val jobSpan = mutable.Map[Int, Int]()
    for (j <- jobs) {
      val holder = opSpans.filter(_.contains(j.start)).sortBy(_.dur).headOption
      val id = newId()
      spans += Span(id, holder.map(_.id).getOrElse(-1), op, "exec.job", j.start, math.max(j.start, j.end))
      jobSpan(j.id) = id
    }
    for (st <- stages; j <- jobs.find(j => j.stageIds.contains(st.id) &&
        st.submit >= j.start - 2000000L && st.submit <= j.end)) {
      spans += Span(newId(), jobSpan(j.id), op, "exec.stage", st.submit, math.max(st.submit, st.complete))
    }
    jobSpan.toMap
  }

  /** Self time of every span, by span name, summed (nanoseconds). */
  def selfTimes(op: Option[String] = None): Map[String, Long] = {
    val ss = op.fold(spans.toSeq)(o => spans.filter(_.op == o).toSeq)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map(s => Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum
    }
  }

  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    Io.json(ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "dur_s" -> s.dur / 1e9))
  }
}
