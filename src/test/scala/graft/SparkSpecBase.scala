package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-touching specs (one JVM,
  * one session — sbt forks a single test JVM).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  def dirSize(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else if (f.isDirectory) f.listFiles().map(c => dirSize(c.getPath)).sum
    else 0L
  }

  /** Jobs and completed stages of everything `body` runs, tagged by a
    * job group. Listener events are delivered in order, so once a
    * sentinel job submitted after `body` is seen, every event of
    * `body` has been seen too.
    */
  final case class JobRec(id: Int, sqlExecution: Boolean, stageIds: Seq[Int])
  final case class StageRec(id: Int, tasks: Int, shuffleReadRecords: Long)

  def traceJobs[T](body: => T): (T, Seq[JobRec], Seq[StageRec]) = {
    val group = s"traced-${System.nanoTime()}"
    val sentinel = group + "-sentinel"
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    @volatile var sawSentinel = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group)
          jobs.add(JobRec(e.jobId,
            e.properties.getProperty("spark.sql.execution.id") != null, e.stageIds))
        if (g == sentinel) sawSentinel = true
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.add(StageRec(i.stageId, i.numTasks,
          i.taskMetrics.shuffleReadMetrics.recordsRead))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "traced")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sawSentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sawSentinel, "listener never saw the sentinel job")
      val js = jobs.asScala.toSeq.sortBy(_.id)
      val ours = js.flatMap(_.stageIds).toSet
      (out, js, stages.asScala.toSeq.filter(s => ours.contains(s.id)))
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpecBase {
  // tests exercising SparkEntry queries must not clobber the oracle
  // side-channel a pending Verify->DuckDB compare may still read
  sys.props("graft.side.dir") =
    java.nio.file.Files.createTempDirectory("graft-test-side").toString

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
