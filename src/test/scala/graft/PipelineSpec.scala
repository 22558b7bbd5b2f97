package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.model.JobSpec

/** End-to-end Bronze -> Silver -> Gold run over synthetic raw entities,
  * including the incremental-watermark semantics (SURVEY §3 lifecycles).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val jobJson =
    """{
      |  "mode": "streaming", "join_key": "crash_record_id",
      |  "primary": { "id": "85ca-t3if", "alias": "crashes",
      |    "select": "crash_record_id,crash_date,crash_type,latitude,longitude,crash_hour,crash_day_of_week,weather_condition,hit_and_run_i,num_units,posted_speed_limit,injuries_total",
      |    "where_by": { "since_days": 30 } },
      |  "enrich": [
      |    { "id": "v", "alias": "vehicles", "select": "crash_record_id,make" },
      |    { "id": "p", "alias": "people", "select": "crash_record_id,person_type" }
      |  ]
      |}""".stripMargin

  private def rawData = Map(
    "crashes" -> Seq(
      ("c1", "2024-01-20T10:00:00", "NO INJURY / DRIVE AWAY", "41.85", "-87.65", "10", "2", "CLEAR", "Y", "2", "30", "0"),
      ("c2", "2024-01-25T22:00:00", "INJURY AND / OR TOW DUE TO CRASH", "41.90", "-87.70", "22", "1", "RAIN", "N", "3", "35", "1"),
      ("c3", "2023-06-01T00:00:00", "OLD", "41.80", "-87.60", "5", "5", "CLEAR", "N", "1", "25", "0")) // outside window
      .toDF("crash_record_id", "crash_date", "crash_type", "latitude", "longitude",
        "crash_hour", "crash_day_of_week", "weather_condition", "hit_and_run_i",
        "num_units", "posted_speed_limit", "injuries_total"),
    "vehicles" -> Seq(("c1", "FORD"), ("c1", "AUDI"), ("c3", "BMW"), ("zz", "NONE"))
      .toDF("crash_record_id", "make"),
    "people" -> Seq(("c1", "DRIVER"), ("c2", "DRIVER"), ("c2", "PASSENGER"))
      .toDF("crash_record_id", "person_type"))

  test("full run lands Bronze partitioned, merges Silver, upserts Gold, advances watermark") {
    val base = tmpDir("pipe")
    val job = JobSpec.parse(jobJson)
    val now = java.time.LocalDate.parse("2024-02-01")

    val res = Pipeline.run(spark, job, rawData, base, "run-1", now)
    assert(res.silverRows == 2, "c3 filtered by since_days window")
    assert(res.report.insertedRows == 2 && res.report.totalRows == 2)
    assert(res.watermark.contains("2024-01-25 22:00:00"))

    // Bronze partition layout exists and prunes by corr
    val bronze = graft.ingest.Ingest.readBronze(spark, base, "crashes", "run-1")
    assert(bronze.count() == 2)
    // enrich was semi-joined: vehicle of unmatched crash zz never landed
    val veh = spark.read.json(s"$base/vehicles/corr=run-1")
    assert(veh.select("crash_record_id").distinct().collect().map(_.getString(0)).toSet == Set("c1"))

    // Gold content: c1 rolled up 2 vehicles, cleaned values in domain
    val gold = spark.read.parquet(s"$base/gold")
    val c1 = gold.where(col("crash_record_id") === "c1").collect()(0)
    assert(c1.getAs[Int]("hit_and_run_i") == 1)
    assert(c1.getAs[String]("weather_condition") == "CLEAR")
    assert(c1.getAs[String]("grid_id") == "41.85_-87.65")

    // Re-run of the same batch is a no-op (idempotent upsert) and the
    // watermark filter now excludes everything.
    val res2 = Pipeline.run(spark, job, rawData, base, "run-2", now)
    assert(res2.report.insertedRows == 0)
    assert(res2.silverRows == 0)
  }

  private val backfillJson =
    """{
      |  "mode": "backfill", "join_key": "crash_record_id",
      |  "date_range": { "field": "crash_date",
      |    "start": "2024-01-01T00:00:00", "end": "2024-02-01T00:00:00" },
      |  "primary": { "id": "85ca-t3if", "alias": "crashes", "select": "*" },
      |  "enrich": [
      |    { "id": "v", "alias": "vehicles", "select": "crash_record_id,make" },
      |    { "id": "p", "alias": "people", "select": "crash_record_id,person_type" }
      |  ]
      |}""".stripMargin

  test("Bronze read-back infers its schema from its own run only, not from earlier runs") {
    val base = tmpDir("bronze-own")
    val job = JobSpec.parse(backfillJson)
    val now = java.time.LocalDate.parse("2024-02-01")
    Pipeline.run(spark, job, rawData, base, "run-1", now)
    // the new run's source no longer carries crash_type
    val later = rawData.updated("crashes", Seq(("c4", "2024-01-28T08:00:00", "41.88", "-87.62"))
      .toDF("crash_record_id", "crash_date", "latitude", "longitude"))
    val res = Pipeline.run(spark, job, later, base, "run-2", now)
    val cols = graft.ingest.Ingest.readBronze(spark, base, "crashes", "run-2").columns.toSet
    assert(cols == Set("crash_record_id", "crash_date", "latitude", "longitude"), cols)
    assert(res.silverRows == 1)
    assert(res.report.insertedRows == 1 && res.report.totalRows == 3)
    val gold = spark.read.parquet(s"$base/gold")
    assert(gold.select("crash_record_id").as[String].collect().toSet == Set("c1", "c2", "c4"))
    assert(gold.where(col("crash_record_id") === "c1").select("corr_id").as[String].head() == "run-1")

    // a glob metacharacter in a run id selects that run, not a pattern
    graft.ingest.Ingest.writeBronze(later("crashes"), base, "crashes", "run*")
    assert(graft.ingest.Ingest.readBronze(spark, base, "crashes", "run*")
      .select("crash_record_id").as[String].collect().toSeq == Seq("c4"))
  }

  test("a repeated plan shape reuses its generated classes instead of recompiling them") {
    val job = JobSpec.parse(backfillJson)
    val now = java.time.LocalDate.parse("2024-02-01")
    val compiled = (1 to 3).map { i =>
      val before = GraftSession.codegenClasses
      val res = Pipeline.run(spark, job, rawData, tmpDir(s"codegen-$i"), "run-1", now)
      assert(res.report.insertedRows == 2)
      GraftSession.codegenClasses - before
    }
    assert(compiled(2) <= 10, s"classes compiled per run: ${compiled.mkString("/")}")
  }

  // ---- weekly streaming ops over crash-shaped, all-string raw entities --

  private val weekFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val week0 = java.time.LocalDateTime.parse("2000-01-01T00:00:00")

  /** `weeks` weeks of `perWeek` crashes from 2000-01-01, with 1-3 vehicles
    * and 1-2 people each; values drawn from `seed`, so every week has its
    * own medians.
    */
  private def weekly(weeks: Int, perWeek: Int, seed: Int): Map[String, Seq[Seq[String]]] = {
    val rnd = new scala.util.Random(seed)
    def pick(xs: String*): String = xs(rnd.nextInt(xs.size))
    def num(lo: Int, hi: Int): String = (lo + rnd.nextInt(hi - lo + 1)).toString
    def maybe(v: => String): String = if (rnd.nextInt(10) == 0) null else v
    val crashes = for (w <- 0 until weeks; i <- 0 until perWeek) yield {
      val t = week0.plusDays(7L * w).plusMinutes(rnd.nextInt(7 * 24 * 60).toLong)
      Seq(f"w$w%02dc$i%03d", t.format(weekFmt),
        pick("NO INJURY / DRIVE AWAY", "INJURY AND / OR TOW DUE TO CRASH"),
        maybe(pick("20", "30", "35", "45", "90")), maybe(pick("CLEAR", "RAIN", "SLEET/HAIL", "FOG")),
        num(1, 4), pick("Y", "N", null), maybe(num(100, 2500)), maybe(num(1, 12)),
        maybe(num(0, 3)), maybe(num(0, 23)), maybe(num(1, 7)),
        maybe(f"${41.65 + rnd.nextDouble() * 0.4}%.6f"), maybe(f"${-87.9 + rnd.nextDouble() * 0.35}%.6f"),
        pick("NO CONTROLS", "TRAFFIC SIGNAL", "YIELD"), pick("N", "Y"), null,
        pick("N", "1"), maybe(pick("DAYLIGHT", "DUSK", "DARKNESS")), maybe(pick("NO DEFECTS", "RUT")),
        pick("DRY", "WET", "ICE", "SAND"), maybe(pick("N", "S", "E", "W")),
        maybe(pick("ONE-WAY", "DIVIDED")), pick("Y", "N"))
    }
    val vehicles = crashes.flatMap { c =>
      (1 to 1 + rnd.nextInt(3)).map(u => Seq(c.head, u.toString, s"${c.head}v$u",
        pick("DRIVER", "PARKED"), pick("FORD", "TOYOTA", null), pick("SEDAN", "VAN"),
        num(1990, 2001), pick("N", "S"), pick("STRAIGHT", "TURNING"), pick("FRONT", "REAR"),
        pick("NONE", "BRAKES"), pick("PERSONAL", "TAXI"), pick("N", "Y")))
    }
    val people = crashes.flatMap { c =>
      (1 to 1 + rnd.nextInt(2)).map(n => Seq(c.head, s"${c.head}p$n", pick("DRIVER", "PASSENGER"),
        num(16, 80), pick("M", "F", null), num(1, 3), pick("NO INDICATION OF INJURY", "NONINCAPACITATING"),
        pick("USAGE UNKNOWN", "SAFETY BELT USED"), pick("NOT DEPLOYED", "DEPLOYED"), pick("NONE", "TOTALLY")))
    }
    Map("crashes" -> crashes, "vehicles" -> vehicles, "people" -> people)
  }

  private def frame(rows: Seq[Seq[String]], schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)), 1), schema)

  /** The raw entities as landed before `end` (crashes only; enrich rows are
    * all present, the semi-join picks them).
    */
  private def rawBefore(data: Map[String, Seq[Seq[String]]], end: java.time.LocalDateTime) = {
    import graft.model.Schemas
    Map(
      "crashes" -> frame(data("crashes").filter(r => r(1) < end.format(weekFmt)), Schemas.bronzeCrashes),
      "vehicles" -> frame(data("vehicles"), Schemas.bronzeVehicles),
      "people" -> frame(data("people"), Schemas.bronzePeople))
  }

  private lazy val streamingJob = {
    import graft.model.Schemas
    JobSpec.parse(s"""{"mode":"streaming","join_key":"crash_record_id",
      |"primary":{"id":"85ca-t3if","alias":"crashes","select":"${Schemas.crashColumns.mkString(",")}",
      |  "where_by":{"since_days":7}},
      |"enrich":[
      |{"id":"68nd-jvt3","alias":"vehicles","select":"${Schemas.vehicleColumns.mkString(",")}"},
      |{"id":"u6pd-qa9d","alias":"people","select":"${Schemas.peopleColumns.mkString(",")}"}]}""".stripMargin)
  }

  /** Streaming op `w` lands week `w` (the first by since_days, later ones
    * by watermark).
    */
  private def streamWeek(data: Map[String, Seq[Seq[String]]], base: String, w: Int): Pipeline.RunResult = {
    val end = week0.plusDays(7L * (w + 1))
    Pipeline.run(spark, streamingJob, rawBefore(data, end), base, s"op$w", end.toLocalDate)
  }

  test("a warm streaming op stays inside its per-layer job budget, every job labelled") {
    val data = weekly(weeks = 3, perWeek = 60, seed = 11)
    val base = tmpDir("budget")
    (0 to 1).foreach(w => assert(streamWeek(data, base, w).report.insertedRows == 60))
    val (res, jobs) = jobsOf(streamWeek(data, base, 2))
    assert(res.report.insertedRows == 60 && res.silverRows == 60)
    val byLayer = jobs.groupBy(_.split(":").take(2).mkString(":")).map { case (k, v) => k -> v.size }
    info(s"jobs per layer: $byLayer")
    // ingest: Bronze write, 2 per enrich (id broadcast, write), watermark 2;
    // silver: one exchange per entity, the CSV write, the count 2;
    // gold_clean: the one-pass medians; gold_write: the flat upsert
    val budget = Map("pipeline:ingest" -> 7, "pipeline:silver" -> 6,
      "pipeline:gold_clean" -> 2, "pipeline:gold_write" -> 6)
    assert(byLayer.keySet.subsetOf(budget.keySet), s"unlabelled or unknown jobs: $byLayer")
    budget.foreach { case (layer, max) =>
      assert(byLayer.getOrElse(layer, 0) <= max, s"$layer ran ${byLayer(layer)} jobs: $byLayer")
    }
    assert(jobs.size <= 21, s"${jobs.size} jobs: $byLayer")
  }

  test("an op that lands nothing reports Gold as it stands, with no listing job, and changes nothing") {
    val data = weekly(weeks = 2, perWeek = 60, seed = 13)
    val base = tmpDir("empty-op")
    (0 to 1).foreach(w => assert(streamWeek(data, base, w).report.insertedRows == 60))
    val gold = new java.io.File(s"$base/gold")
    // Gold is one flat directory of parquet files
    def files = gold.listFiles().toSeq.map(_.getPath).sorted
    assert(gold.listFiles().forall(_.isFile) && files.exists(_.endsWith(".parquet")), files.toString)
    val (goldBefore, wmBefore) = (files, graft.ingest.Ingest.loadWatermark(s"$base/watermarks/last.txt"))

    // week 1 again, under a new run id: the watermark filters every row out
    val end = week0.plusDays(14L)
    val (res, jobs) = jobsOf(Pipeline.run(spark, streamingJob, rawBefore(data, end), base,
      "replay", end.toLocalDate))
    assert(res.silverRows == 0)
    assert(res.report == graft.gold.GoldWriter.IntegrityReport(120L, 0L, 0L, 0L), res.report.toString)
    assert(res.watermark == wmBefore && wmBefore.nonEmpty)
    assert(graft.ingest.Ingest.loadWatermark(s"$base/watermarks/last.txt") == wmBefore)
    assert(files == goldBefore, "an empty op must not write Gold")
    val listing = jobs.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"the empty op's integrity check listed files as jobs: $listing")
  }

  test("replays and backfills insert nothing already in Gold, and the watermark never moves back") {
    import graft.ingest.Ingest
    val data = weekly(weeks = 2, perWeek = 40, seed = 14)
    val base = tmpDir("replay-safe")
    val wmFile = s"$base/watermarks/last.txt"
    def wmBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wmFile)).toSeq
    assert(streamWeek(data, base, 0).report.insertedRows == 40)
    val wm0 = Ingest.loadWatermark(wmFile).get
    assert(streamWeek(data, base, 1).report.insertedRows == 40)
    val wm1 = wmBytes

    // ST3: a backfill over both weeks finds every key present and leaves
    // the watermark as it was, byte for byte
    val end = week0.plusDays(14L)
    val backfill = streamingJob.copy(mode = "backfill", sinceDays = None,
      dateRange = Some(graft.model.DateRange("crash_date", week0.format(weekFmt), end.format(weekFmt))))
    val bf = Pipeline.run(spark, backfill, rawBefore(data, end), base, "backfill", end.toLocalDate)
    assert(bf.silverRows == 80 && bf.report.insertedRows == 0 && bf.report.totalRows == 80, bf.toString)
    assert(wmBytes == wm1)

    // ST4: week 1 replayed as after a crash between its Gold commit and its
    // watermark commit: every row passes the predicate, none is inserted
    Ingest.saveWatermark(wmFile, wm0, "streaming")
    assert(wmBytes == wm1, "an older watermark must not lower the stored one")
    java.nio.file.Files.write(java.nio.file.Paths.get(wmFile), wm0.getBytes("UTF-8"))
    val replay = Pipeline.run(spark, streamingJob, rawBefore(data, end), base, "op1-replay", end.toLocalDate)
    assert(replay.silverRows == 40 && replay.report.insertedRows == 0 && replay.report.totalRows == 80,
      replay.toString)
    assert(wmBytes == wm1, "the replay advances the watermark to where week 1 left it")
  }

  test("an enrich whose semi-join keeps no rows leaves no part file behind") {
    val base = tmpDir("empty-enrich")
    val raw = rawData.updated("people", Seq(("zz", "DRIVER")).toDF("crash_record_id", "person_type"))
    val res = Pipeline.run(spark, JobSpec.parse(backfillJson), raw, base, "run-1",
      java.time.LocalDate.parse("2024-02-01"))
    assert(res.report.insertedRows == 2)
    val parts = Option(new java.io.File(s"$base/people/corr=run-1").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("part-"))
    assert(parts.isEmpty, s"the empty landing left ${parts.mkString(", ")}")
    assert(graft.ingest.Ingest.landed(s"$base/vehicles/corr=run-1"), "the matching enrich still lands")
  }

  test("a run reads its Bronze without a streaming-sink metadata warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("pipeline-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.contains("FileStreamSink"))
          warnings.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    val res =
      try Pipeline.run(spark, JobSpec.parse(backfillJson), rawData, tmpDir("no-warn"), "run-1",
        java.time.LocalDate.parse("2024-02-01"))
      finally { root.removeAppender(capture); capture.stop() }
    assert(res.report.insertedRows == 2)
    assert(warnings.isEmpty, warnings.toString)
  }

  test("a new week's medians and timestamps reuse the cleaner's generated classes") {
    val data = weekly(weeks = 3, perWeek = 60, seed = 12)
    val base = tmpDir("recompile")
    (0 to 1).foreach(w => streamWeek(data, base, w))
    val before = GraftSession.codegenClasses
    assert(streamWeek(data, base, 2).report.insertedRows == 60)
    val compiled = GraftSession.codegenClasses - before
    info(s"classes compiled: $compiled")
    // 10 when medians and run timestamps were literals; stages that still
    // inline per-batch literals (the batch predicate) account for the rest
    assert(compiled <= 5, s"a warm op over a new week compiled $compiled classes")
  }

  /** `Pipeline.run`'s steps as composed when every read-back inferred its
    * schema: the call order medbench's traced pass mirrors.
    */
  private def inferenceRun(job: JobSpec, raw: Map[String, org.apache.spark.sql.DataFrame],
      base: String, corrId: String, now: java.time.LocalDate): Unit = {
    import graft.gold.{Cleaner, GoldWriter}
    import graft.ingest.Ingest
    import graft.silver.Transformer
    val primary = Ingest.applyJob(raw("crashes"), job, None, now)
    Ingest.writeBronze(primary, base, "crashes", corrId)
    job.enrich.foreach { e =>
      val alias = e.alias.get
      val enriched = Ingest.semiJoinEnrich(raw(alias), primary.select(job.joinKey), job.joinKey)
      enriched.select(e.select.get.split(",").map(col).toSeq: _*)
        .write.mode("append").option("compression", "gzip").json(s"$base/$alias/corr=$corrId")
    }
    def readEnrich(a: String) =
      try spark.read.json(s"$base/$a/corr=$corrId")
      catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame }
    Transformer.makeCsvSafe(Transformer.mergeCrashVehiclesPeople(
      Ingest.readBronze(spark, base, "crashes", corrId), readEnrich("vehicles"),
      readEnrich("people"), job.joinKey))
      .write.mode("overwrite").option("header", "true").csv(s"$base/silver/corr=$corrId")
    val silverBack = spark.read.option("header", "true").csv(s"$base/silver/corr=$corrId")
    GoldWriter.upsertBucketed(spark, Cleaner.toGold(Cleaner.cleanData(silverBack), corrId,
      java.sql.Timestamp.valueOf(now.atStartOfDay())), s"$base/gold")
  }

  /** Silver and Gold (without run metadata) of `Pipeline.run` and of
    * [[inferenceRun]] over the same input.
    */
  private def bothWays(raw: Map[String, org.apache.spark.sql.DataFrame], name: String) = {
    val job = JobSpec.parse(
      """{"mode":"backfill","join_key":"crash_record_id",
        |"date_range":{"field":"crash_date","start":"2024-01-01T00:00:00","end":"2024-02-01T00:00:00"},
        |"primary":{"id":"c","alias":"crashes","select":"*"},
        |"enrich":[
        |{"id":"v","alias":"vehicles","select":"crash_record_id,make,vehicle_year"},
        |{"id":"p","alias":"people","select":"crash_record_id,person_type"}]}""".stripMargin)
    val now = java.time.LocalDate.parse("2024-02-01")
    val (a, b) = (tmpDir(s"$name-run"), tmpDir(s"$name-inferred"))
    Pipeline.run(spark, job, raw, a, "r1", now)
    inferenceRun(job, raw, b, "r1", now)
    def silver(base: String) = spark.read.option("header", "true").csv(s"$base/silver/corr=r1")
    def gold(base: String) = {
      val g = spark.read.parquet(s"$base/gold")
        .drop("corr_id", "inserted_at", "updated_at")
      g.select(g.columns.sorted.map(col).toSeq: _*)
    }
    (silver(a), silver(b), gold(a), gold(b))
  }

  private def sameRows(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame): Boolean =
    x.columns.toSeq == y.columns.toSeq && x.count() == y.count() &&
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty

  private lazy val equivalenceRaw = Map(
    // typed raw columns; c1 lands twice, so the semi-join's build side holds
    // a duplicate key
    "crashes" -> Seq(
      ("c1", "2024-01-20T10:00:00", 41.85, -87.65, 10, 2L, "CLEAR"),
      ("c1", "2024-01-20T10:00:00", 41.86, -87.65, 10, 3L, "CLEAR"),
      ("c2", "2024-01-25T22:00:00", 41.90, -87.70, 22, 1L, "snow"),
      ("c3", "2024-01-26T07:30:00", 41.80, -87.60, 7, 12L, "RAIN"),
      ("c4", "2024-01-27T13:00:00", 41.95, -87.75, 13, 4L, "FOG"))
      .toDF("crash_record_id", "crash_date", "latitude", "longitude", "crash_hour",
        "num_units", "weather_condition"),
    // duplicate enrich keys and a duplicate row
    "vehicles" -> Seq(("c1", "FORD", 1999), ("c1", "FORD", 1999), ("c1", "AUDI", 2001),
      ("c2", "FORD", 1995), ("zz", "BMW", 2000)).toDF("crash_record_id", "make", "vehicle_year"),
    // no key matches: the semi-join keeps nothing, so no people rows land
    "people" -> Seq(("zz", "DRIVER"), ("yy", "PASSENGER")).toDF("crash_record_id", "person_type"))

  test("schema read-backs give the Silver and Gold of inference reads: typed columns, duplicate keys, an empty enrich") {
    val (silver, silverInferred, gold, goldInferred) = bothWays(equivalenceRaw, "equiv")
    assert(silver.columns.exists(_.startsWith("veh_")) && !silver.columns.exists(_.startsWith("ppl_")))
    assert(silver.count() == 4)
    assert(sameRows(silver, silverInferred))
    assert(sameRows(gold, goldInferred) && gold.count() == 4)
  }

  test("a column null in every row reads back as a null column, not an absent one; Gold is unchanged") {
    val raw = equivalenceRaw.updated("crashes",
      equivalenceRaw("crashes").withColumn("road_defect", lit(null).cast("string")))
    val (silver, silverInferred, gold, goldInferred) = bothWays(raw, "allnull")
    // inference never sees the column (the JSON writer omits nulls); the
    // schema read keeps it, null in every row
    assert(!silverInferred.columns.contains("road_defect"))
    assert(silver.where(col("road_defect").isNotNull).isEmpty)
    assert(sameRows(silver.drop("road_defect"), silverInferred))
    assert(sameRows(gold, goldInferred))
    assert(gold.select("road_defect").distinct().collect().map(_.getString(0)).toSeq == Seq("OTHER"))
  }

  test("schema drift: a run whose source lacks several expected columns still lands Gold (SURVEY §7.4)") {
    val base = tmpDir("drift")
    // Minimal select list — most of the 22 Gold inputs absent entirely.
    val job = JobSpec.parse(
      """{"mode":"backfill", "join_key":"crash_record_id",
        |  "date_range": {"field":"crash_date",
        |    "start":"2024-01-01T00:00:00","end":"2024-02-01T00:00:00"},
        |  "primary": {"id":"x", "alias":"crashes",
        |    "select":"crash_record_id,crash_date,crash_hour"},
        |  "enrich": []}""".stripMargin)
    val raw = Map("crashes" -> Seq(("d1", "2024-01-10T09:00:00", "9"))
      .toDF("crash_record_id", "crash_date", "crash_hour"))
    val res = Pipeline.run(spark, job, raw, base, "drift-run",
      java.time.LocalDate.parse("2024-02-01"))
    assert(res.report.insertedRows == 1)
    val g = spark.read.parquet(s"$base/gold").collect()(0)
    assert(g.getAs[String]("crash_record_id") == "d1")
    assert(g.getAs[String]("hour_bin") == "morning")       // present column used
    assert(g.getAs[Int]("hit_and_run_i") == 0)             // absent flag -> 0
    assert(g.getAs[String]("weather_condition") == "OTHER") // absent categorical -> OTHER
  }

  test("unionRagged aligns pages with different select lists (null-patching absent columns)") {
    val p1 = Seq(("c1", "2024-01-01T00:00:00", "X"))
      .toDF("crash_record_id", "crash_date", "crash_type")
    val p2 = Seq(("c2", "2024-01-02T00:00:00", "41.9"))
      .toDF("crash_record_id", "crash_date", "latitude")
    val u = graft.silver.Transformer.unionRagged(Seq(p1, p2))
    assert(u.columns.toSet == Set("crash_record_id", "crash_date", "crash_type", "latitude"))
    val c2 = u.where(org.apache.spark.sql.functions.col("crash_record_id") === "c2").collect()(0)
    assert(c2.isNullAt(c2.fieldIndex("crash_type")))
  }

  test("ORC roundtrip: schema, values and predicate pushdown survive the columnar sibling") {
    // Parquet is the house format; ORC is the other columnar ANSI-lakehouse
    // format Spark ships natively — a Gold export target some downstreams
    // demand. The roundtrip must be value-exact (timestamps included) and
    // the scan must still push predicates.
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("orc") + "/t"
    val src = graft.analytics.Tables.lineitem(spark, "/root/testdata/sf0.001")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema, "ORC must preserve the schema exactly")
    assert(back.count() == src.count())
    val a = src.orderBy("l_orderkey", "l_linenumber").collect().map(_.toString)
    val b = back.orderBy("l_orderkey", "l_linenumber").collect().map(_.toString)
    assert(a.sameElements(b), "ORC roundtrip must be value-exact")
    val q = back.where(col("l_orderkey") === 1L)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"),
      s"ORC scan must push the predicate:\n${plan.take(1500)}")
  }
}
