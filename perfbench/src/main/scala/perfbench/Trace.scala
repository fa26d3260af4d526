package perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._

/** Wall clock shared by spans and listener events: epoch milliseconds
  * with sub-millisecond resolution (listener events carry epoch ms). */
object Clock {
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = offsetMs + System.nanoTime() / 1e6
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double)

/** Spans recorded around the benchmark's calls into each graft layer.
  * They stay in memory and are written out once the run ends. Only the
  * client thread opens spans, so a plain stack gives each its parent.
  * With tracing off, `span` runs the body and records nothing. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = Clock.nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, Clock.nowMs)
      }
    }
}

/** One record per stage attempt, with its task totals. */
final class StageRec(val stageId: Int, val attempt: Int) {
  var jobGroup: String = ""
  var numTasks = 0
  var submitMs, completeMs = 0.0
  var taskBusyMs, schedDelayMs, gcMs = 0L
  var failedTasks = 0
  var shuffleRead, shuffleWrite, inputBytes, spillBytes = 0L
}

final case class JobRec(jobId: Int, group: String, startMs: Double,
    var endMs: Double, stages: Seq[Int], var ok: Boolean)

/** Listener the benchmark registers on the session. `inputRecords` and
  * `inputBytes` are always counted (the end-to-end `rows_per_s` of the
  * catalogue uses them); the per-job and per-stage records are kept
  * only while `detail` is on, i.e. in the traced phase. */
final class BenchListener extends SparkListener {
  @volatile var detail = false
  @volatile var inputRecords = 0L
  @volatile var inputBytes = 0L
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stageGroup = mutable.Map.empty[Int, String]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), {
      val s = new StageRec(id, attempt)
      s.jobGroup = stageGroup.getOrElse(id, "")
      s
    })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (detail) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = JobRec(e.jobId, group, e.time.toDouble, -1, e.stageIds, ok = false)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      j.endMs = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (detail) {
        val i = e.stageInfo
        val s = stage(i.stageId, i.attemptNumber())
        s.numTasks = i.numTasks
        s.submitMs = i.submissionTime.getOrElse(0L).toDouble
        s.completeMs = i.completionTime.getOrElse(0L).toDouble
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      inputRecords += m.inputMetrics.recordsRead
      inputBytes += m.inputMetrics.bytesRead
    }
    if (detail) {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.taskBusyMs += info.duration
      if (e.reason != TaskSuccess) s.failedTasks += 1
      if (m != null) {
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
