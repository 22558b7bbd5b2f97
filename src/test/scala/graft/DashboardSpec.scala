package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Dashboard

/** Dashboard query library over a synthetic Gold frame (SURVEY §3.3). */
class DashboardSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gold: DataFrame = Seq(
    ("c1", "CLEAR", 1, 10, 2, 30, 41.85, -87.65, 1.0, "run-1", "2024-01-01 10:00:00"),
    ("c2", "CLEAR", 0, 10, 3, 45, 41.90, -87.70, 0.0, "run-1", "2024-01-01 10:00:00"),
    ("c3", "RAIN", 1, 22, 7, 25, 41.80, -87.60, 2.0, "run-2", "2024-01-02 10:00:00"),
    ("c4", "RAIN", 1, 22, 7, 55, 41.82, -87.62, 0.0, "run-2", "2024-01-02 10:00:00"))
    .toDF("crash_record_id", "weather_condition", "hit_and_run_i", "crash_hour",
      "crash_day_of_week", "posted_speed_limit", "latitude", "longitude",
      "injuries_total", "corr_id", "ins")
    .withColumn("inserted_at", to_timestamp($"ins")).drop("ins")
    .withColumn("num_units", lit(2))
    .withColumn("crash_date", to_date($"inserted_at"))

  test("reportHtml assembles summary/runs/quality/rates; deterministic and escaped") {
    // a hostile corr id must come out escaped, not as markup
    val g = gold.withColumn("corr_id",
      when($"corr_id" === "run-2", lit("<evil>&run")).otherwise($"corr_id"))
    val html = Dashboard.reportHtml(g, "2026-08-14 12:00:00")
    assert(html == Dashboard.reportHtml(g, "2026-08-14 12:00:00"), "deterministic bytes")
    assert(html.contains("<h2>Gold Table Summary</h2>"))
    assert(html.contains("<b>Total rows:</b> 4"))
    assert(html.contains("Generated: 2026-08-14 12:00:00"))
    assert(html.contains("<h2>Recent Pipeline Runs</h2>"))
    assert(html.contains("<h2>Data Quality Metrics</h2>"))
    assert(html.contains("&lt;evil&gt;&amp;run") && !html.contains("<evil>"),
      "cell text must be HTML-escaped")
    assert(html.contains("CLEAR") && html.contains("RAIN"), "rate section rendered")
    assert(html.contains("crash_record_id: string"), "schema listed")
  }

  test("rateBy computes sum/count -> percentage per dimension (A5 workhorse)") {
    val r = Dashboard.rateBy(gold, "weather_condition").collect()
    val m = r.map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(m("CLEAR") == 50.0 && m("RAIN") == 100.0)
  }

  test("rateBySpeedBin buckets with pd.cut boundaries") {
    val bins = Dashboard.rateBySpeedBin(gold).collect().map(_.getString(0)).toSet
    assert(bins == Set("21-30", "41-50", "51+"))
  }

  test("hourlyWithClass left-joins subset counts with zero fill (J4)") {
    val r = Dashboard.hourlyWithClass(gold).collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(10) == (2L, 1L) && r(22) == (2L, 2L))
  }

  test("hourDayPivot yields 7 day columns zero-filled (F17)") {
    val p = Dashboard.hourDayPivot(gold)
    assert(p.columns.toSeq == Seq("crash_hour", "1", "2", "3", "4", "5", "6", "7"))
    val row22 = p.where($"crash_hour" === 22).collect()(0)
    assert(row22.getLong(7) == 2 && row22.getLong(1) == 0)
  }

  test("correlationMatrix emits tidy upper-triangle pairs (A12)") {
    val c = Dashboard.correlationMatrix(gold)
    assert(c.count() == 15) // C(6,2)
    val hourVsDay = c.where($"col1" === "crash_hour" && $"col2" === "crash_day_of_week")
      .collect()(0).getDouble(2)
    assert(hourVsDay > 0.9, s"strongly correlated in fixture, got $hourVsDay")
    // constant column (num_units) -> null corr (pandas-NaN analog), not an
    // ANSI divide-by-zero failure
    val constPair = c.where($"col1" === "num_units").collect()
    assert(constPair.nonEmpty && constPair.forall(_.isNullAt(2)))
  }

  test("qualityMetrics reports rows, dup keys, missing pcts, hit-run rate") {
    val r = Dashboard.qualityMetrics(gold).collect()(0)
    assert(r.getAs[Long]("rows") == 4)
    assert(r.getAs[Long]("duplicate_keys") == 0)
    assert(r.getAs[Double]("hit_run_rate") == 0.75)
    assert(r.getAs[Double]("latitude_missing_pct") == 0.0)
  }

  test("runHistory groups per corr_id ordered by recency (A8)") {
    val r = Dashboard.runHistory(gold).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("run-2", "run-1"))
    assert(r(0).getAs[Long]("rows") == 2)
  }

  test("describeColumn profiles a measure with exact quantiles (describe() analog)") {
    val d = Dashboard.describeColumn(gold, "posted_speed_limit").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d("count") == 4.0)
    assert(d("mean") == (30 + 45 + 25 + 55) / 4.0)
    assert(d("min") == 25.0 && d("max") == 55.0)
    // exact interpolating median of [25, 30, 45, 55]
    assert(d("q0.5") == 37.5)
  }

  test("catalog lists (table, column, dtype) for registered views (information_schema analog)") {
    gold.createOrReplaceTempView("gold_catalog_probe")
    try {
      val rows = Dashboard.catalog(spark)
        .where($"table" === "gold_catalog_probe").collect()
      assert(rows.length == gold.schema.fields.length)
      val byCol = rows.map(r => r.getString(1) -> r.getString(2)).toMap
      assert(byCol("crash_record_id") == "string")
      assert(byCol("hit_and_run_i") == "int")
      assert(byCol("latitude") == "double")
      assert(byCol("inserted_at") == "timestamp")
    } finally spark.catalog.dropTempView("gold_catalog_probe")
  }

  test("geoSample caps deterministically and filters class (P10/P12)") {
    val s1 = Dashboard.geoSample(gold, 2).collect()
    val s2 = Dashboard.geoSample(gold, 2).collect()
    assert(s1.map(_.getString(0)).toSeq == s2.map(_.getString(0)).toSeq)
    assert(Dashboard.geoSample(gold, 10, hitRunOnly = true).count() == 3)
  }

  test("describePath reports bucketed partition dirs and flat roots without reading data") {
    val base = tmpDir("descpath")
    // a partitioned layout, one directory per value
    val bucketed = s"$base/bucketed"
    (1 to 100).map(i => (i.toLong, i % 4)).toDF("k", "__key_bucket")
      .write.partitionBy("__key_bucket").parquet(bucketed)
    val parts = Dashboard.describePath(spark, bucketed).collect()
    assert(parts.length == 4, s"one row per bucket dir: ${parts.toSeq}")
    assert(parts.map(_.getString(0)).forall(_.startsWith("__key_bucket=")))
    assert(parts.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0L),
      "every partition reports data files and bytes")
    // flat layout collapses to a <root> row
    val flat = s"$base/flat"
    (1 to 10).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1).write.parquet(flat)
    val root = Dashboard.describePath(spark, flat).collect()
    assert(root.length == 1 && root(0).getString(0) == "<root>")
    assert(root(0).getLong(1) == 1L && root(0).getLong(2) > 0L)
  }
}
