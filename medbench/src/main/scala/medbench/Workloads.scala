package medbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.analytics.Dashboard
import graft.gold.{Cleaner, GoldWriter}
import graft.ml.Scoring

import Harness._

/** The workloads. Each runs its set-up, then one untraced pass, and in a
  * traced run one traced pass after it. Inputs come from `gen.py` under
  * `<work>/inputs`.
  */
object Workloads {

  val now = java.time.LocalDate.of(2002, 1, 1)
  private val spanStart = "1995-01-01T00:00:00"
  private val spanEnd = "2002-01-01T00:00:00"

  /** The seeded raw entities and the generator's expected Gold keys. */
  final case class Inputs(crashes: DataFrame, vehicles: DataFrame, people: DataFrame,
      expected: DataFrame, firstSeen: Array[Long]) {
    def raw(crashes: DataFrame = crashes): Map[String, DataFrame] =
      Map("crashes" -> crashes, "vehicles" -> vehicles, "people" -> people)

    /** Gold rows expected once everything before `end` has landed. */
    def countBefore(end: String): Long = {
      val t = epoch(end)
      firstSeen.count(_ < t).toLong
    }

    def keysBefore(end: String): (Long, BigDecimal) =
      Pipe.keyDigest(expected.where(col("first_seen") < epoch(end)))
  }

  private def epoch(ts: String): Long =
    java.time.LocalDateTime.parse(ts).toEpochSecond(java.time.ZoneOffset.UTC)

  def inputs(ctx: Ctx): Inputs = {
    val dir = s"${ctx.work}/inputs"
    val expected = ctx.spark.read.parquet(s"$dir/expected.parquet")
    Inputs(ctx.spark.read.parquet(s"$dir/raw/crashes"), ctx.spark.read.parquet(s"$dir/raw/vehicles"),
      ctx.spark.read.parquet(s"$dir/raw/people"), expected,
      expected.select("first_seen").collect().map(_.getLong(0)))
  }

  private def gold(ctx: Ctx, base: String): DataFrame = ctx.spark.read.parquet(s"$base/gold")

  private def integrity(r: GoldWriter.IntegrityReport, expectedRows: Long): Option[String] =
    if (r.duplicateKeys != 0) Some(s"${r.duplicateKeys} duplicate keys")
    else if (r.nullKeys != 0) Some(s"${r.nullKeys} null keys")
    else if (r.totalRows != expectedRows) Some(s"Gold has ${r.totalRows} rows, expected $expectedRows")
    else None

  // ---- incremental -----------------------------------------------------------

  /** Gold is preloaded with every crash before this time. */
  val preloadEnd = "2000-01-01T00:00:00"

  /** A pass: true for a new week, false for a replay of the week landed last. */
  val weekOps: Seq[Boolean] = Seq(true, true, false)

  private def weekStart(w: Int): String =
    java.time.LocalDateTime.parse(preloadEnd).plusDays(7L * w).toString + ":00"

  /** One pipeline op's gold_write accounting. */
  private final case class WriteOp(offered: Long, inserted: Long, goldBytesBefore: Long)

  def incremental(ctx: Ctx, t: Tally): Unit = {
    import ctx._
    // Set-up: loading the inputs, then the preload, a backfill-mode
    // Pipeline.run, which also warms the pipeline's code paths before the
    // first timed op.
    val (in, snap) = setUp(t) {
      val in = inputs(ctx)
      val snap = s"$work/snap"
      val res = Pipeline.run(spark, Pipe.job("backfill", Some((spanStart, preloadEnd))),
        in.raw(), snap, "preload", now)
      t.check("preload")(integrity(res.report, in.countBefore(preloadEnd)))
      (in, snap)
    }
    def landedBefore(end: String) =
      in.crashes.where(to_timestamp(col("crash_date")) < lit(end).cast("timestamp"))

    def pass(p: Int, traced: Boolean): (PassStats, Seq[WriteOp], String) = {
      val base = s"$work/pass$p"
      copyTree(snap, base)
      val snapBytes = dirBytes(base)
      val before = rec.allSpans.size
      val lat = ArrayBuffer.empty[Double]
      val ops = ArrayBuffer.empty[WriteOp]
      var week = -1
      weekOps.zipWithIndex.foreach { case (isNew, k) =>
        if (isNew) week += 1
        val (s, e) = (weekStart(week), weekStart(week + 1))
        val name = if (isNew) s"week $s" else s"replay week $s"
        // New weeks take the watermark path (since_days before the first
        // watermark exists); a replay re-sends a landed week by predicate.
        val job =
          if (isNew) Pipe.job("streaming", sinceDays = Some(7))
          else Pipe.job("streaming", where = Some(
            s"to_timestamp(crash_date) >= timestamp'${s.replace('T', ' ')}' AND " +
              s"to_timestamp(crash_date) < timestamp'${e.replace('T', ' ')}'"))
        val goldBefore = dirBytes(s"$base/gold")
        val op0 = System.nanoTime()
        try {
          val raw = in.raw(landedBefore(e))
          val day = java.time.LocalDate.parse(e.take(10))
          val res =
            if (traced) Pipe.traced(rec, spark, job, raw, base, s"inc$p-$k", day)
            else rec.span("op", name)(Pipeline.run(spark, job, raw, base, s"inc$p-$k", day))
          lat += (System.nanoTime() - op0) / 1e9
          note(f"$name ${lat.last}%.3f s")
          ops += WriteOp(res.silverRows, res.report.insertedRows, goldBefore)
          t.check(name) {
            integrity(res.report, in.countBefore(e)).orElse {
              if (!isNew && res.report.insertedRows != 0) Some(s"replay inserted ${res.report.insertedRows}")
              else if (isNew && res.silverRows == 0) Some("new week landed nothing")
              else if (k < weekOps.size - 1) None
              else {
                val (got, want) = (Pipe.keyDigest(gold(ctx, base)), in.keysBefore(e))
                if (got == want) None else Some(s"Gold key set $got, expected $want")
              }
            }
          }
        } catch { case ex: Exception => lat += (System.nanoTime() - op0) / 1e9; t.threw(name, ex) }
      }
      (PassStats(lat.toSeq, rec.allSpans.drop(before), dirBytes(base) - snapBytes),
        ops.toSeq, weekStart(week + 1))
    }

    if (!trace) t.pass = Some(pass(0, traced = false)._1)
    else {
      val (plain, _, end) = pass(0, traced = false)
      val (traced, ops, _) = pass(1, traced = true)
      t.check("traced Gold equals untraced Gold") {
        val (x, y) = (Pipe.goldDigest(gold(ctx, s"$work/pass0")), Pipe.goldDigest(gold(ctx, s"$work/pass1")))
        if (x == y) None else Some(s"untraced $x vs traced $y")
      }
      // The incremental Gold's key set equals a backfill's over the same
      // span: the preload (itself a backfill) plus one backfill of the weeks
      // the pass landed.
      t.check("incremental Gold key set equals backfill's") {
        val bf = s"$work/backfill"
        copyTree(snap, bf)
        Pipeline.run(spark, Pipe.job("backfill", Some((preloadEnd, end))), in.raw(), bf, "bf", now)
        val (a, b) = (Pipe.keyDigest(gold(ctx, s"$work/pass0")), Pipe.keyDigest(gold(ctx, bf)))
        if (a == b) None else Some(s"incremental $a, backfill $b")
      }
      t.pass = Some(traced)
      t.layers("trace.overhead_s") = traced.wallS - plain.wallS
      rec.drain()
      val writes = traced.spans.filter(s => s.layer == "gold_write" && s.phase == "upsertBucketed")
      val readMb = rec.layerMetrics(writes, cores).getOrElse("gold_write.read_mb", 0.0)
      val goldMb = ops.map(_.goldBytesBefore).sum / (1024.0 * 1024.0)
      t.layers("gold_write.inserted_frac") =
        ops.map(_.inserted).sum.toDouble / math.max(1L, ops.map(_.offered).sum)
      t.layers("gold_write.read_frac") = if (goldMb > 0) readMb / goldMb else 0.0
      t.layers("gold_write.files_total") = dataFiles(s"$work/pass1/gold").size.toDouble
    }
  }

  // ---- analytics -------------------------------------------------------------

  /** Registered queries the session runs over the TPC-H-shaped tables; each
    * has a DuckDB oracle.
    */
  val queries: Seq[String] = Seq(
    "s1_scan_project_filter", "j2_enrich_left_join", "a5_rate_by_group", "a11_median",
    "q3_shipping_priority")

  /** Figures of the Gold snapshot the dashboard checks compare against,
    * computed once with plain aggregates.
    */
  private final case class GoldFacts(rows: Long, hitRun: Long, withCoords: Long,
      hitRunWithCoords: Long, bytes: Long, files: Int)

  private def rowsOf(x: Any): Long = x match {
    case a: Array[_] => a.length.toLong
    case _ => 1L
  }

  def analytics(ctx: Ctx, t: Tally): Unit = {
    import ctx._
    val tpch = s"$work/inputs/tpch"
    val registry = SparkEntry.queries
    final case class S(goldPath: String, model: org.apache.spark.ml.PipelineModel, facts: GoldFacts)

    /** One registry query to the noop sink, releasing what it pinned. */
    def runQuery(name: String, traced: Boolean): Unit = {
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      try {
        if (traced) {
          val df = rec.span("registry", "build")(registry(name)(spark, tpch))
          // Counting the rows the sink receives; the noop sink reports none.
          val seen = org.apache.spark.sql.Observation()
          rec.span("registry", "exec", _ => seen.get("rows").asInstanceOf[Long])(
            df.observe(seen, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save())
        } else rec.span("op", name) {
          registry(name)(spark, tpch).write.format("noop").mode("overwrite").save()
        }
      } finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pinned.contains(id)) rdd.unpersist(blocking = false)
      }
    }

    // Set-up: loading the inputs, Gold through the write path's cleaner and
    // bucketed upsert, the model trained on it, a warm-up dashboard call, and
    // each registry query written once to parquet for the DuckDB oracle,
    // which also warms them.
    val st = setUp(t) {
      val in = inputs(ctx)
      val goldPath = s"$work/gold"
      val cleaned = Cleaner.toGold(Cleaner.cleanData(in.crashes), "gold",
        java.sql.Timestamp.valueOf(now.atStartOfDay()))
      val report = GoldWriter.upsertBucketed(spark, cleaned, goldPath)
      t.check("gold")(integrity(report, in.countBefore(spanEnd)))
      note("gold written")
      val g = spark.read.parquet(goldPath)
      val hasCoords = col("latitude").isNotNull && col("longitude").isNotNull
      val f = g.agg(count(lit(1)), sum(col("hit_and_run_i")).cast("long"),
        count(when(hasCoords, 1)), count(when(hasCoords && col("hit_and_run_i") === 1, 1))).first()
      val files = dataFiles(goldPath)
      val facts = GoldFacts(f.getLong(0), f.getLong(1), f.getLong(2), f.getLong(3),
        files.map(java.nio.file.Files.size).sum, files.size)
      val model = rec.span("ml_train", "train")(Scoring.train(g))
      note("model trained")
      Dashboard.rateBy(g, "weather_condition").collect()
      queries.foreach { q =>
        registry(q)(spark, tpch).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/oracle/results/$q")
      }
      S(goldPath, model, facts)
    }

    def session(traced: Boolean): PassStats = {
      val g = spark.read.parquet(st.goldPath)
      val facts = st.facts
      lazy val scored = Scoring.score(st.model, g)
      def sumLong(rows: Array[Row], c: String) = rows.map(r => r.getAs[Number](c).longValue).sum
      def expect(ok: Boolean, why: => String) = if (ok) None else Some(why)
      def rateCheck(rows: Array[Row]) = expect(
        sumLong(rows, "n") == facts.rows && sumLong(rows, "hit_run") == facts.hitRun,
        s"n ${sumLong(rows, "n")} / hit_run ${sumLong(rows, "hit_run")}, Gold ${facts.rows} / ${facts.hitRun}")
      def topCheck(rows: Array[Row]) = {
        val n = rows.map(_.getAs[Long]("n"))
        expect(rows.length == 10 && n.sameElements(n.sortBy(-_)), "top-k not in descending order")
      }
      // (layer, name, call collecting to the driver as the UI would, check)
      type Call = (String, String, () => Any, Any => Option[String])
      def rows(f: => DataFrame): () => Any = () => f.collect()
      def onRows(c: Array[Row] => Option[String]): Any => Option[String] =
        x => c(x.asInstanceOf[Array[Row]])
      val dims = Seq("weather_condition", "lighting_condition", "roadway_surface_cond",
        "traffic_control_device", "hour_bin")
      val calls: Seq[Call] = dims.map(d =>
        ("dashboard", s"rateBy $d", rows(Dashboard.rateBy(g, d)), onRows(rateCheck)): Call) ++ Seq[Call](
        ("dashboard", "rateBySpeedBin", rows(Dashboard.rateBySpeedBin(g)), onRows(rateCheck)),
        ("dashboard", "hourlyWithClass", rows(Dashboard.hourlyWithClass(g)), onRows(r => expect(
          sumLong(r, "total") == facts.rows && sumLong(r, "hit_run") == facts.hitRun, "hourly totals"))),
        ("dashboard", "byDayName", rows(Dashboard.byDayName(g)), onRows(r => expect(
          sumLong(r, "n") == facts.rows, "day totals"))),
        ("dashboard", "hourDayPivot", rows(Dashboard.hourDayPivot(g)), onRows(r => expect(
          r.map(x => (1 to 7).map(i => x.getLong(i)).sum).sum == facts.rows, "pivot totals"))),
        ("dashboard", "topK grid_id", rows(Dashboard.topK(g, "grid_id", 10)), onRows(topCheck)),
        ("dashboard", "topK beat", rows(Dashboard.topK(g, "beat_of_occurrence", 10)), onRows(topCheck)),
        ("dashboard", "correlationMatrix", rows(Dashboard.correlationMatrix(g)), onRows(r => expect(
          r.length == 15 && r.forall(x => x.isNullAt(2) || math.abs(x.getDouble(2)) <= 1 + 1e-9),
          "correlations outside [-1, 1]"))),
        ("dashboard", "qualityMetrics", rows(Dashboard.qualityMetrics(g)), onRows(r => expect(
          r(0).getLong(0) == facts.rows && r(0).getLong(1) == 0, "rows or duplicate keys"))),
        ("dashboard", "runHistory", rows(Dashboard.runHistory(g)), onRows(r => expect(
          sumLong(r, "rows") == facts.rows, "run history rows"))),
        ("dashboard", "geoSample", rows(Dashboard.geoSample(g, 1000)), onRows(r => expect(
          r.length == math.min(1000L, facts.withCoords), s"${r.length} sampled"))),
        ("dashboard", "geoSample hit-and-run", rows(Dashboard.geoSample(g, 1000, hitRunOnly = true)),
          onRows(r => expect(r.length == math.min(1000L, facts.hitRunWithCoords) &&
            r.forall(_.getAs[Int]("hit_and_run_i") == 1), s"${r.length} sampled"))),
        ("dashboard", "describeColumn", rows(Dashboard.describeColumn(g, "posted_speed_limit")),
          onRows { r =>
            val v = r.map(x => x.getString(0) -> x.getDouble(1)).toMap
            expect(v("min") <= v("q0.25") && v("q0.25") <= v("q0.5") && v("q0.5") <= v("q0.75") &&
              v("q0.75") <= v("max") && v("max") <= 75.0 && v("count") == facts.rows,
              s"describe $v")
          }),
        ("dashboard", "preview", rows(Dashboard.preview(g, "1999-01-01", "1999-03-31", 200)),
          onRows { r =>
            val d = r.map(_.getAs[java.sql.Date]("crash_date").toString)
            val k = r.map(_.getAs[String]("crash_record_id"))
            expect(r.length == 200 && d.forall(x => x >= "1999-01-01" && x <= "1999-03-31") &&
              k.sameElements(k.sorted), "preview rows")
          }),
        ("dashboard", "describePath", rows(Dashboard.describePath(spark, st.goldPath)), onRows(r => expect(
          sumLong(r, "files") == facts.files && sumLong(r, "bytes") == facts.bytes, "file listing"))),
        ("dashboard", "reportHtml", () => Dashboard.reportHtml(g, "2002-01-01 00:00:00"), x => expect(
          x.asInstanceOf[String].contains(s"<b>Total rows:</b> ${facts.rows}<"), "report total")),
        ("ml", "score", rows(scored.select("crash_record_id", "p1", "pred")), onRows(r => expect(
          r.length == facts.rows && r.forall(x => x.getDouble(1) >= 0 && x.getDouble(1) <= 1),
          "scored rows"))),
        ("ml", "metrics", () => Scoring.metrics(scored), x => {
          val m = x.asInstanceOf[Scoring.Metrics]
          expect(m.tn + m.fp + m.fn + m.tp == facts.rows && m.f1 > 0, s"metrics $m")
        }),
        ("ml", "probabilityHistogram", rows(Scoring.probabilityHistogram(scored)), onRows(r => expect(
          sumLong(r, "n") == facts.rows, "histogram total")))) ++
        queries.map(q => ("registry", q, () => runQuery(q, traced), (_: Any) => None): Call)

      val before = rec.allSpans.size
      val lat = ArrayBuffer.empty[Double]
      calls.foreach { case (layer, name, call, check) =>
        val op0 = System.nanoTime()
        try {
          val out =
            if (layer == "registry") call()
            else rec.span(if (traced) layer else "op", name, rowsOf)(call())
          lat += (System.nanoTime() - op0) / 1e9
          note(f"$name ${lat.last}%.3f s")
          t.check(name)(check(out))
        } catch { case ex: Exception => lat += (System.nanoTime() - op0) / 1e9; t.threw(name, ex) }
      }
      PassStats(lat.toSeq, rec.allSpans.drop(before), 0L)
    }

    if (!trace) t.pass = Some(session(traced = false))
    else {
      val plain = session(traced = false)
      val traced = session(traced = true)
      t.pass = Some(traced)
      t.layers("trace.overhead_s") = traced.wallS - plain.wallS
      rec.drain()
      t.layers("ml.train_s") = rec.allSpans.filter(_.layer == "ml_train").map(_.durNs).lastOption
        .getOrElse(0L) / 1e9
      t.layers("registry.build_s") = traced.spans.filter(_.phase == "build").map(_.durNs).sum / 1e9
      t.layers("registry.exec_s") = traced.spans.filter(_.phase == "exec").map(_.durNs).sum / 1e9
    }

    val sql = SparkEntry.oracleSql
    val json = queries.map { q =>
      "\"" + q + "\":\"" + sql(q).replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r") + "\""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/oracle/oracle_sql.json"), json.getBytes("UTF-8"))
  }
}
