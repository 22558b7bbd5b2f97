package medbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.MedbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: the job group it ran under and its wall-clock window.
  * `startMs`/`endMs` share the clock of Spark's task launch/finish times, so
  * the task-free part of the window (driver time) can be computed.
  */
final case class Span(layer: String, phase: String, group: String,
    startMs: Long, endMs: Long, durNs: Long, rowsOut: Long)

final case class TaskRec(group: String, launchMs: Long, finishMs: Long,
    cpuNs: Long, runMs: Long, shuffleBytes: Long, spillBytes: Long,
    readBytes: Long, writtenBytes: Long, rowsWritten: Long)

/** The benchmark's own listener. Jobs, stages and tasks are attributed to
  * the job group the benchmark sets around each call; Catalyst phase times
  * come from the query-execution listener and are attributed through the
  * SQL execution's job group.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val stageGroup = TrieMap.empty[Int, String]
  private val execGroup = TrieMap.empty[Long, String]
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (execution id, plan ns)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var seq = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobs.add(g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      stageGroup.getOrElse(e.stageId, ""), e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    plans.add((qe.id, ms * 1000000L))
  }

  /** Run `f` under a fresh job group and record its window. `rows` maps the
    * result to the rows it hands back to the caller (0 for writes, whose
    * rows come from task output metrics).
    */
  def span[T](layer: String, phase: String = "", rows: Any => Long = _ => 0L)(f: => T): T = {
    val sc = spark.sparkContext
    seq += 1
    val group = s"mb|$layer|$phase|$seq"
    sc.setJobGroup(group, s"$layer $phase", interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = f
      spans += Span(layer, phase, group, startMs, System.currentTimeMillis(),
        System.nanoTime() - t0, rows(out))
      out
    } finally sc.clearJobGroup()
  }

  def allSpans: Seq[Span] = spans.toSeq

  def drain(): Unit = MedbenchBus.drain(spark.sparkContext)

  /** Task CPU seconds of every task run under the given spans. */
  def cpuSeconds(ss: Seq[Span]): Double = {
    val gs = ss.map(_.group).toSet
    tasks.asScala.filter(t => gs(t.group)).map(_.cpuNs).sum / 1e9
  }

  /** Per-layer figures over the given spans, keyed `<layer>.<metric>`. */
  def layerMetrics(ss: Seq[Span], cores: Int): Map[String, Double] = {
    val taskBy = tasks.asScala.toSeq.groupBy(_.group)
    val jobsBy = jobs.asScala.toSeq.groupBy(identity).map { case (g, v) => g -> v.size }
    val execBy = execGroup.toMap
    val planBy = plans.asScala.toSeq
      .groupBy { case (id, _) => execBy.getOrElse(id, "") }
      .map { case (g, v) => g -> v.map(_._2).sum }
    ss.groupBy(_.layer).toSeq.flatMap { case (layer, ls) =>
      val ts = ls.flatMap(s => taskBy.getOrElse(s.group, Nil))
      val self = ls.map(_.durNs).sum / 1e9
      val driver = ls.map { s =>
        val covered = union(taskBy.getOrElse(s.group, Nil)
          .map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
          .filter { case (a, b) => b > a })
        math.max(0L, (s.endMs - s.startMs) - covered)
      }.sum / 1e3
      val mb = 1024.0 * 1024.0
      Seq(
        "self_s" -> self,
        "driver_s" -> driver,
        "jobs" -> ls.map(s => jobsBy.getOrElse(s.group, 0)).sum.toDouble,
        "tasks" -> ts.size.toDouble,
        "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "busy_frac" -> (if (self > 0) ts.map(_.runMs).sum / 1e3 / (self * cores) else 0.0),
        "plan_s" -> ls.map(s => planBy.getOrElse(s.group, 0L)).sum / 1e9,
        "shuffle_mb" -> ts.map(_.shuffleBytes).sum / mb,
        "spill_mb" -> ts.map(_.spillBytes).sum / mb,
        "read_mb" -> ts.map(_.readBytes).sum / mb,
        "written_mb" -> ts.map(_.writtenBytes).sum / mb,
        "rows_out" -> (ts.map(_.rowsWritten).sum + ls.map(_.rowsOut).sum).toDouble,
      ).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap
  }

  /** Total length of a set of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
