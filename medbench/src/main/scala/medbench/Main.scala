package medbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One benchmark process: one workload over the inputs `gen.py` derived.
  *
  * {{{
  * Main --workload incremental|analytics --trace 0|1
  *      --work DIR --out FILE --gen-seconds G
  * }}}
  *
  * DIR/inputs holds what `gen.py` wrote; G is the time that took, which
  * counts as set-up.
  *
  * Writes a JSON report to FILE: op counts, failures, the end-to-end metrics
  * (untraced) or the per-layer metrics (traced), and supplementary figures.
  */
object Main {

  val layers = Seq("ingest", "silver", "gold_clean", "gold_write", "dashboard", "registry", "ml")
  val layerMetrics = Seq("self_s", "driver_s", "jobs", "tasks", "task_cpu_s", "busy_frac",
    "plan_s", "shuffle_mb", "spill_mb", "read_mb", "written_mb", "rows_out")
  val layerExtras = Seq("gold_write.inserted_frac", "gold_write.read_frac",
    "gold_write.files_total", "registry.build_s", "registry.exec_s", "ml.train_s",
    "trace.overhead_s")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val out = opt("out")
    val cores = Runtime.getRuntime.availableProcessors()
    Harness.note("start")
    val spark = GraftSession.local(cores)
    Harness.note("session up")
    // The one SQL setting the engine's Bench session adds to GraftSession's.
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    val rec = new Recorder(spark)
    val ctx = Ctx(spark, rec, opt("trace") == "1", opt("work"), cores)
    val tally = new Tally
    try {
      workload match {
        case "incremental" => Workloads.incremental(ctx, tally)
        case "analytics" => Workloads.analytics(ctx, tally)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      rec.drain()
      val gen = opt("gen-seconds").toDouble
      Files.write(Paths.get(out), report(ctx, tally, gen).getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def report(ctx: Ctx, t: Tally, genSeconds: Double): String = {
    import Harness.median
    val pass = t.pass.getOrElse(sys.error("no pass was timed"))
    val ops = pass.opS
    val metric = (v: Double, unit: String) => obj(Seq("value" -> num(v), "unit" -> str(unit)))
    val metrics: Seq[(String, String)] =
      if (!ctx.trace) Seq(
        "setup_s" -> metric(genSeconds + t.setupS, "s"),
        "wall_s" -> metric(pass.wallS, "s"),
        "op_p50_s" -> metric(median(ops), "s"),
        "cpu_s" -> metric(ctx.rec.cpuSeconds(pass.spans), "s"))
      else {
        val per = ctx.rec.layerMetrics(pass.spans, ctx.cores) ++ t.layers
        val names = layers.flatMap(l => layerMetrics.map(m => s"$l.$m")) ++ layerExtras
        names.map(n => n -> metric(per.getOrElse(n, 0.0), unitOf(n)))
      }
    // The tail is the highest percentile with at least ten ops beyond it.
    val sorted = ops.sorted
    val extra = Seq("ops" -> num(ops.size.toDouble)) ++
      (if (sorted.size > 10) Seq(
        "tail_pct" -> num(100.0 * (sorted.size - 10) / sorted.size),
        "op_tail_s" -> num(sorted(sorted.size - 11)))
       else Nil) ++
      (if (pass.storedBytes > 0) Seq("stored_mb" -> num(pass.storedBytes / (1024.0 * 1024.0)))
       else Nil)
    obj(Seq(
      "attempted" -> t.attempted.toString,
      "failed" -> t.failed.toString,
      "failures" -> t.failures.take(20).map(str).mkString("[", ",", "]"),
      "metrics" -> obj(metrics),
      "extra" -> obj(extra)))
  }

  def unitOf(name: String): String = name.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_frac") => "fraction"
    case _ => "count"
  }
}
