package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), built by the
  * engine's own factory so the suite runs the config the engine ships.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Data files the manifest scans of `df` opened: runs the query once and
    * sums the `numFiles` metric of every scan planned through the manifest
    * file index, unwrapping adaptive plans. Delete-sidecar scans are plain
    * parquet scans and are not counted. The run is a fresh QueryExecution
    * over the same query: an action resets the metrics of a plan it
    * re-runs, and a scan's file listing, computed once, would not set
    * them again.
    */
  def manifestFilesScanned(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val fresh = df.where(org.apache.spark.sql.functions.lit(true))
    fresh.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(fresh.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[graft.ops.ManifestRead.ManifestFileIndex])
      .map(_.metrics("numFiles").value).sum
  }

  /** Descriptions of the jobs `body` launches. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = underGroup {
      case e: SparkListenerJobStart =>
        seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
      case _ =>
    }(body)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }

  /** SQL executions `body` starts. */
  def sqlExecutionsOf[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val out = underGroup {
      case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
      case _ =>
    }(body)
    (out, started.get())
  }

  /** Runs `body` under a fresh job group and hands `onEvent` every job start
    * and SQL execution start of that group. Listener events arrive in order
    * on one queue, so once a sentinel job's start is seen, every event of
    * `body` has been seen too.
    */
  private def underGroup[T](onEvent: SparkListenerEvent => Unit)(body: => T): T = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = e.properties.getProperty("spark.jobGroup.id")
        if (g == group) onEvent(e)
        else if (g == sentinel) done.countDown()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) => onEvent(s)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      out
    } finally sc.removeSparkListener(listener)
  }
}
