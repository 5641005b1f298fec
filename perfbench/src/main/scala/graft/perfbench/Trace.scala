package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (-1 for a root), `unit` the id shared by every span of one
  * pass or batch. Times are epoch milliseconds with a nanosecond-derived
  * fraction, so children of one span share its clock. */
final case class Span(
    id: Int, parent: Int, unit: Int, name: String, start: Double, end: Double)

/** A Spark job as the listener saw it, with its task-metric totals and
  * the program module its call site names. */
final class JobRec(val id: Int, val start: Long, val stageName: String, val module: String) {
  var end: Long = -1L
  var failed = false
  var stages = 0
  var tasks = 0L
  var taskFailures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var delayMs = 0L
  var shufWrite = 0L
  var shufRead = 0L
  var fetchWaitMs = 0L
  var shufWriteNs = 0L
  var spill = 0L
  def dur: Double = (end - start).toDouble
}

/** Listener that records jobs, stage counts, task metrics, RDD block
  * writes and SQL-execution call sites. Attached only in traced units
  * (the untraced units run with no listener at all). */
final class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val execDetails = mutable.Map.empty[Long, String]
  /** (epoch ms, bytes) per RDD block stored. */
  val blocks = mutable.ArrayBuffer.empty[(Long, Long)]

  /** The module of the first program frame (`graft.*`) in a long-form
    * call site, by source file name; `perfbench` when only this
    * benchmark's own frames appear (its consumer executing a query). */
  private def moduleOf(details: String): Option[String] = {
    val frames = Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.startsWith("graft."))
    frames.find(!_.startsWith("graft.perfbench.")).map { l =>
      val i = l.lastIndexOf('(')
      val f = if (i >= 0) l.substring(i + 1).takeWhile(c => c != ':' && c != ')') else l
      f.stripSuffix(".scala")
    }.orElse(frames.headOption.map(_ => "perfbench"))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized(execDetails(e.executionId) = e.details)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val execId = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val module = first.flatMap(s => moduleOf(s.details))
      .orElse(execId.flatMap(execDetails.get).flatMap(moduleOf))
      .getOrElse("other")
    val j = new JobRec(e.jobId, e.time, first.map(_.name).getOrElse(""), module)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach { j =>
      j.end = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != TaskSuccess) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
        j.delayMs += math.max(0L,
          wall - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
        j.shufWrite += m.shuffleWriteMetrics.bytesWritten
        j.shufWriteNs += m.shuffleWriteMetrics.writeTime
        j.shufRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks += ((System.currentTimeMillis(), b.memSize + b.diskSize))
  }

  /** Jobs that started inside [start, end] (epoch ms). */
  def jobsIn(start: Double, end: Double): Seq[JobRec] = synchronized {
    jobs.filter(j => j.start >= math.floor(start) && j.start <= math.ceil(end)).toSeq
  }

  def blocksIn(start: Double, end: Double): Seq[(Long, Long)] = synchronized {
    blocks.filter { case (t, _) => t >= math.floor(start) && t <= math.ceil(end) }.toSeq
  }
}

/** Span clock and store: spans stay in memory and are written once,
  * when the run ends. */
final class Tracer {
  private val origin = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  def now: Double = origin + System.nanoTime() / 1e6

  def record(parent: Int, unit: Int, name: String, start: Double, end: Double): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, unit, name, start, end)
    id
  }

  /** Duration of `[start, end]` not covered by any of `intervals`. */
  def uncovered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (end - start) - covered
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfTime(s: Span): Double =
    uncovered(s.start, s.end, spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)
}
