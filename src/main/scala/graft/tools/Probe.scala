package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.GraftSession
import graft.analytics.{Q, Registry}

/** One CLI for probing registered queries under the shipped session config.
  * Every mode takes a comma-separated query list (`ALL` for every registered
  * query), fails on an unknown name, and releases what each query pinned
  * before the next one runs.
  *
  *  - `run <sfDir> <q,...>`: run each query standalone with full driver logs
  *    and print its row count and seconds. The triage tool for failures the
  *    batched Bench summarizes away (the 100x-decade SHJ OOM was isolated
  *    this way).
  *  - `stages <sfDir> <q,...>`: every completed stage of each query with its
  *    shuffle write/read, input, spill, task count, run and CPU time and the
  *    planner's stage name, sorted by run time. It answers "which exchange"
  *    when a decade measurement shows a query's shuffle growing
  *    superlinearly. One untimed warm-up run comes first: cold-JIT CPU
  *    otherwise dominates the attribution (r12: a stage reading 0.5 MB
  *    showed 13 cpu-s cold, ~2 warm). The header line carries the measured
  *    run's `codegen_classes`, the classes it compiled after the warm-up:
  *    a non-zero count is per-run compile cost, not warm-up.
  *  - `plan <sfDir> <q,...>`: node counts of the executed plan (join
  *    strategies, shuffle exchanges, windows, codegen spans), the
  *    command-line sibling of PlanAuditSpec.
  *  - `dump <sfDir> <outDir> <suffix> <q,...>`: write `<q>_<suffix>.txt`
  *    with `explain("formatted")` and the AQE-final executed plan, the
  *    optimization-round evidence trail (plans/r12/<q>_{before,after}.txt).
  *
  * Usage: `sbt "runMain graft.tools.Probe <mode> <args>"`.
  */
object Probe {

  private val Usage = "usage: Probe run|stages|plan <sfDir> <q,...> | Probe dump <sfDir> <outDir> <suffix> <q,...>"

  private val Nodes = Seq(
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "Exchange", "Window",
    "TakeOrderedAndProject", "WholeStageCodegen")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args) finally spark.stop()
  }

  /** Runs one mode on `spark` and leaves the session running. */
  def run(spark: SparkSession, args: Array[String]): Unit = args match {
    case Array("run", dir, names) => each(spark, names) { q =>
      val t0 = System.nanoTime()
      val n = q.fn(spark, dir).count()
      println(f"PROBE run ${q.name} rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    case Array("stages", dir, names) => each(spark, names)(stages(spark, dir, _))
    case Array("plan", dir, names) => each(spark, names) { q =>
      val p = finalPlan(q.fn(spark, dir))
      // word-boundary match, not raw substring: "Exchange" must not also
      // count "BroadcastExchange" (SCALE.md cites these as SHUFFLE counts)
      val counts = Nodes.map(n =>
        s"$n=${Pattern.compile("(?<![A-Za-z])" + Pattern.quote(n)).matcher(p).results().count()}")
      println(s"PROBE plan ${q.name}: ${counts.mkString(" ")}")
    }
    case Array("dump", dir, outDir, suffix, names) =>
      Files.createDirectories(Paths.get(outDir))
      each(spark, names) { q =>
        val df = q.fn(spark, dir)
        val formatted = df.queryExecution.explainString(FormattedMode)
        val txt = s"== explain(formatted) ==\n$formatted\n== AQE-final executedPlan ==\n${finalPlan(df)}\n"
        val out = Paths.get(outDir, s"${q.name}_$suffix.txt")
        Files.write(out, txt.getBytes("UTF-8"))
        println(s"PROBE dump ${q.name} -> $out")
      }
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** Runs `body` for each named query, releasing what it pinned. */
  private def each(spark: SparkSession, names: String)(body: Q => Unit): Unit =
    Registry.select(names).foreach(q => GraftSession.releasingPinned(spark)(body(q)))

  /** Executes `df` and returns its AQE-final physical plan. Collecting
    * (registered results are small) keeps the plan this query's own, not
    * that of a derived count() plan.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def stages(spark: SparkSession, dir: String, q: Q): Unit = {
    GraftSession.releasingPinned(spark)(q.fn(spark, dir).collect())
    // the measured run's jobs carry a job group; a sentinel job's start marks
    // the end of their events, which arrive in order on one queue
    val group = s"probe-stages-${q.name}"
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val done = new ConcurrentLinkedQueue[StageInfo]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => e.stageIds.foreach(stageIds.add)
          case "probe-sentinel" => drained.countDown()
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) done.add(e.stageInfo)
    }
    val sc = spark.sparkContext
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val compiledBefore = GraftSession.codegenClasses
    val t0 = System.nanoTime()
    val (n, sec, compiled) = try {
      val n = inGroup(group)(q.fn(spark, dir).collect().length)
      val sec = (System.nanoTime() - t0) / 1e9
      val compiled = GraftSession.codegenClasses - compiledBefore
      inGroup("probe-sentinel")(sc.parallelize(Seq(1), 1).count())
      require(drained.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (n, sec, compiled)
    } finally sc.removeSparkListener(listener)
    val rows = done.asScala.toSeq.map { s =>
      val m = s.taskMetrics
      (s.stageId, m.shuffleWriteMetrics.bytesWritten / 1e6, m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.inputMetrics.bytesRead / 1e6, (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6, s.numTasks,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, s.name.takeWhile(_ != '\n').take(120))
    }.sortBy(-_._7)
    println(f"PROBE stages ${q.name} rows=$n sec=$sec%.2f codegen_classes=$compiled")
    println(f"${"stage"}%6s ${"shufW_mb"}%9s ${"shufR_mb"}%9s ${"input_mb"}%9s ${"spill_mb"}%9s ${"tasks"}%6s ${"run_s"}%8s ${"cpu_s"}%8s  name")
    rows.foreach { case (id, sw, sr, in, sp, tk, rt, ct, nm) =>
      println(f"$id%6d $sw%9.1f $sr%9.1f $in%9.1f $sp%9.1f $tk%6d $rt%8.1f $ct%8.1f  $nm")
    }
    println(f"TOTAL shufW=${rows.map(_._2).sum}%.1f MB shufR=${rows.map(_._3).sum}%.1f MB input=${rows.map(_._4).sum}%.1f MB spill=${rows.map(_._5).sum}%.1f MB run=${rows.map(_._7).sum}%.1f s cpu=${rows.map(_._8).sum}%.1f s stages=${rows.size}")
  }
}
