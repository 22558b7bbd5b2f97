package graft

import org.apache.spark.sql.functions.col

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
