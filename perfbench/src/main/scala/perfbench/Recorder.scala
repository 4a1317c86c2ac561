package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import perfbench.Stats.{JobRec, Span, SqlRec, StageRec}

/** The run's clock: microseconds since the epoch, read from nanoTime
  * so that short spans keep their resolution, and comparable with the
  * listener's millisecond event times.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory tracer: spans (name, start, end, parent, op) and the Spark
  * jobs, stages and SQL executions the benchmark's own listener saw.
  * Records nothing while `enabled` is false, so untraced ops pay one
  * volatile read per listener event. Written out once, when the run ends.
  */
final class Recorder extends SparkListener {
  @volatile var enabled = false

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var curOp = -1

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageInfo = mutable.Map[Int, (String, String, Boolean)]()
  private val stageTasks = mutable.Map[Int, StageRec]()
  private val sql = mutable.Map[Long, SqlRec]()

  // ---- spans (driver thread only) -----------------------------------

  /** Time `body` as a span under the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, Clock.nowUs, -1L, parent, curOp)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(end = Clock.nowUs)
      }
    }

  /** Run one op as a root span named `name`, its Spark jobs tagged with
    * job group `group`.
    */
  def op[A](spark: SparkSession, opId: Int, group: String, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    curOp = opId
    try span(name)(body)
    finally { curOp = -1; sc.clearJobGroup() }
  }

  // ---- Spark events (listener-bus thread) ---------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, group, exec, e.time * 1000L, -1L, e.stageIds)
    e.stageInfos.foreach { si =>
      stageInfo(si.stageId) = (si.name, si.details, org.apache.spark.perfbench.SparkInternals.isMapStage(si))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val (name, details, isMap) = stageInfo.getOrElse(e.stageId, ("", "", false))
    val r0 = stageTasks.getOrElse(e.stageId, StageRec(e.stageId, name, details, isMap,
      0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0, Vector.empty))
    val m = e.taskMetrics
    val info = e.taskInfo
    val retry = if (info.attemptNumber > 0) 1 else 0
    stageTasks(e.stageId) =
      if (m == null) r0.copy(tasks = r0.tasks + 1, retries = r0.retries + retry)
      else r0.copy(
        tasks = r0.tasks + 1,
        runMs = r0.runMs + m.executorRunTime,
        cpuNs = r0.cpuNs + m.executorCpuTime,
        gcMs = r0.gcMs + m.jvmGCTime,
        inputBytes = r0.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = r0.inputRecords + m.inputMetrics.recordsRead,
        outputBytes = r0.outputBytes + m.outputMetrics.bytesWritten,
        shuffleWriteBytes = r0.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = r0.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = r0.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = r0.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        retries = r0.retries + retry,
        durations = r0.durations :+ info.duration)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sql(s.executionId) = SqlRec(s.executionId, Stats.writeTargetOf(s.physicalPlanDescription))
    }
    case _ =>
  }

  /** The trace so far; drains the listener bus first. */
  def snapshot(spark: SparkSession): Trace = {
    org.apache.spark.perfbench.SparkInternals.drain(spark.sparkContext)
    synchronized {
      Trace(spans.toVector, jobs.values.toVector, stageTasks.toMap, sql.toMap)
    }
  }
}

/** Everything one run recorded. */
final case class Trace(spans: Vector[Span], jobs: Vector[JobRec],
                       stages: Map[Int, StageRec], sql: Map[Long, SqlRec]) {
  def jobsOf(group: String): Vector[JobRec] = jobs.filter(_.group == group)
  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  def opSpans(op: Int): Vector[Span] = spans.filter(_.op == op)
}
