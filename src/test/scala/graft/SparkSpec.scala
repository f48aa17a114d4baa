package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (forked test
  * run); small shuffle partition count so tiny-frame tests don't schedule
  * hundreds of empty tasks. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs. */
  protected def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus posts asynchronously; settle before reading
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {

  /** Every FileSourceScanExec in an EXECUTED plan, descending into AQE
    * query stages (their inner plan is a member, not a child — a bare
    * `plan.collect` misses them). Collect the frame first so metrics
    * populate. */
  def executedFileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      plan match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    scans(df.queryExecution.executedPlan)
  }

  /** Processes the JVM starts while `body` runs (a JFR
    * `jdk.ProcessStart` recording): each one's command line and the
    * classes on its starting stack, outermost last. */
  def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val out = java.nio.file.Files.createTempFile("graft-procs", ".jfr")
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command") ->
          Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
    } finally rec.close()
  }

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(Sessions.LocalFileSystemConf._1, Sessions.LocalFileSystemConf._2)
    .config(Sessions.CheckpointFileManagerConf._1,
      Sessions.CheckpointFileManagerConf._2)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
