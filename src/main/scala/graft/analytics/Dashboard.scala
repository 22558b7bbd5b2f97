package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dashboard query library over the crash Gold table — every EDA /
  * Reports / Quality analytical query from the reference's Streamlit surface
  * (SURVEY §2.4-§2.8, §3.3), as composable DataFrame programs over a Gold
  * frame rather than `SELECT *`-into-pandas.
  *
  * The reference loads the whole table client-side and aggregates in pandas
  * (streamlit_frontend.py:913); here every aggregation pushes into the
  * engine, so the dashboard reads k-row summaries off a 100 TB table.
  */
object Dashboard {

  /** Hit-and-run rate by an arbitrary dimension — the A5 workhorse shape
    * instantiated 7x in the reference (streamlit_frontend.py:1045-1074,
    * 1108-1112, 1154-1158, 1384-1388).
    */
  def rateBy(gold: DataFrame, dim: String): DataFrame =
    gold
      .groupBy(dim)
      .agg(
        sum("hit_and_run_i").as("hit_run"),
        count(lit(1)).as("n"))
      .withColumn("rate_pct", col("hit_run") * lit(100.0) / col("n"))
      .orderBy(dim)

  /** Speed-bin rate: pd.cut([0,20,30,40,50,100]) then A5
    * (streamlit_frontend.py:1041-1049).
    */
  def rateBySpeedBin(gold: DataFrame): DataFrame =
    rateBy(
      gold.withColumn("speed_bin",
        when(col("posted_speed_limit") <= 20, "0-20")
          .when(col("posted_speed_limit") <= 30, "21-30")
          .when(col("posted_speed_limit") <= 40, "31-40")
          .when(col("posted_speed_limit") <= 50, "41-50")
          .otherwise("51+")),
      "speed_bin")

  /** Crashes per hour, split by class (streamlit_frontend.py:1134-1137 J4). */
  def hourlyWithClass(gold: DataFrame): DataFrame = {
    val tot = gold.groupBy("crash_hour").agg(count(lit(1)).as("total"))
    val hr = gold.where(col("hit_and_run_i") === 1)
      .groupBy("crash_hour").agg(count(lit(1)).as("hit_run"))
    tot.join(hr, Seq("crash_hour"), "left")
      .na.fill(0L, Seq("hit_run"))
      .orderBy("crash_hour")
  }

  /** Day-of-week name counts with the EDA display mapping — engine-wide the
    * convention is the cleaner's 1=Sun..7=Sat; the 0-6 pandas mapping in the
    * EDA tab is display-layer only (SURVEY §2.8 F12 note).
    */
  def byDayName(gold: DataFrame): DataFrame =
    gold
      .withColumn("day_name",
        // try_element_at: a dirty out-of-range day code maps to null (the
        // pandas-.map NaN analog) instead of ANSI MAP_KEY_DOES_NOT_EXIST.
        try_element_at(
          map(
            lit(1), lit("Sun"), lit(2), lit("Mon"), lit(3), lit("Tue"),
            lit(4), lit("Wed"), lit(5), lit("Thu"), lit(6), lit("Fri"),
            lit(7), lit("Sat")),
          col("crash_day_of_week")))
      .groupBy("crash_day_of_week", "day_name")
      .agg(count(lit(1)).as("n"))
      .orderBy("crash_day_of_week")

  /** Hour x day pivot crosstab, counts (streamlit_frontend.py:1223 F17). */
  def hourDayPivot(gold: DataFrame): DataFrame =
    gold
      .groupBy("crash_hour")
      .pivot("crash_day_of_week", Seq(1, 2, 3, 4, 5, 6, 7))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("crash_hour")

  /** Top-k categorical frequency tables (streamlit_frontend.py:978,1276-1284 A9). */
  def topK(gold: DataFrame, dim: String, k: Int): DataFrame =
    gold.groupBy(dim).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col(dim)).limit(k)

  /** Numeric correlation matrix over the Gold numerics excluding lat/lng
    * (streamlit_frontend.py:1400-1406 A12), as tidy (col1, col2, corr) rows.
    *
    * Computed from co-moment sums with a lazy zero-variance guard: pandas
    * `.corr()` yields NaN for constant columns, while Spark's `corr` under
    * ANSI mode (the 4.x default) raises DIVIDE_BY_ZERO — so a constant
    * column maps to null here, not a query failure.
    */
  def correlationMatrix(gold: DataFrame): DataFrame = {
    val cols = Seq("crash_hour", "crash_day_of_week", "num_units",
      "injuries_total", "posted_speed_limit", "hit_and_run_i")
    val pairs = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield (a, b)
    val aggs = count(lit(1)).cast("double").as("n") +:
      (cols.flatMap(c => Seq(
        sum(col(c).cast("double")).as(s"s_$c"),
        sum(col(c).cast("double") * col(c).cast("double")).as(s"ss_$c"))) ++
        pairs.map { case (a, b) =>
          sum(col(a).cast("double") * col(b).cast("double")).as(s"sp_${a}__$b")
        })
    val wide = gold.agg(aggs.head, aggs.tail: _*)
    val corrExprs = pairs.map { case (a, b) =>
      val num = s"(n * `sp_${a}__$b` - `s_$a` * `s_$b`)"
      val den = s"(sqrt(n * `ss_$a` - `s_$a` * `s_$a`) * sqrt(n * `ss_$b` - `s_$b` * `s_$b`))"
      s"CASE WHEN $den = 0.0 THEN CAST(NULL AS DOUBLE) ELSE $num / $den END AS `${a}__$b`"
    }
    val stacked = pairs.map { case (a, b) => s"'$a', '$b', `${a}__$b`" }.mkString(", ")
    wide.selectExpr(corrExprs: _*)
      .selectExpr(s"stack(${pairs.size}, $stacked) AS (col1, col2, corr)")
  }

  /** Quality metrics: per-column missing rate, duplicate keys, hit-run rate
    * (streamlit_frontend.py:1610-1644 + A15).
    */
  def qualityMetrics(gold: DataFrame): DataFrame = {
    val checkCols = Seq("crash_date", "latitude", "longitude", "weather_condition")
    val aggs = Seq(
      count(lit(1)).as("rows"),
      (count(lit(1)) - countDistinct(col("crash_record_id"))).as("duplicate_keys"),
      avg(col("hit_and_run_i")).as("hit_run_rate")) ++
      checkCols.map(c =>
        (sum(when(col(c).isNull, 1).otherwise(0)) * lit(100.0) / count(lit(1)))
          .as(s"${c}_missing_pct"))
    gold.agg(aggs.head, aggs.tail: _*)
  }

  /** Run history: per-corr_id stats ordered by recency, top-k
    * (streamlit_frontend.py:1455-1461,1668-1679 A8).
    */
  def runHistory(gold: DataFrame, k: Int = 10): DataFrame =
    gold
      .groupBy("corr_id")
      .agg(
        count(lit(1)).as("rows"),
        min("inserted_at").as("started"),
        max("inserted_at").as("ended"),
        min("crash_date").as("first_crash"),
        max("crash_date").as("last_crash"))
      .orderBy(desc("ended"), col("corr_id"))
      .limit(k)

  /** Deterministic capped geo sample for map rendering
    * (streamlit_frontend.py:1305-1327 P10+P12; md5 order replaces
    * `df.sample` so results are reproducible).
    */
  def geoSample(gold: DataFrame, cap: Int, hitRunOnly: Boolean = false): DataFrame = {
    val base = gold.na.drop(Seq("latitude", "longitude"))
    val filtered = if (hitRunOnly) base.where(col("hit_and_run_i") === 1) else base
    filtered
      .orderBy(md5(col("crash_record_id")), col("crash_record_id"))
      .limit(cap)
      .select("crash_record_id", "latitude", "longitude", "hit_and_run_i")
  }

  /** describe()-style numeric profile of one Gold measure: count/mean plus
    * exact quantiles at the requested probabilities — the summary panel the
    * reference renders from `df.describe()` (streamlit_frontend.py:960-963),
    * but scale-safe: quantiles come from the shared-pass histogram-refinement
    * operator, never a buffer-everything percentile.
    */
  def describeColumn(gold: DataFrame, column: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val spark = gold.sparkSession
    import spark.implicits._
    val base = gold.agg(
      count(col(column)).cast("double").as("count"),
      avg(col(column)).as("mean"),
      min(col(column)).cast("double").as("min"),
      max(col(column)).cast("double").as("max")).first()
    val quant = graft.ops.ScaleOps.exactQuantilesOfColumn(gold, column, qs)
    val rows =
      Seq(("count", Option(base.get(0)).map(_.toString.toDouble)),
        ("mean", Option(base.get(1)).map(_.toString.toDouble))) ++
        qs.sorted.map(q => (s"q$q", quant.get(q))) ++
        Seq(("min", Option(base.get(2)).map(_.toString.toDouble)),
          ("max", Option(base.get(3)).map(_.toString.toDouble)))
    rows.map { case (s, v) => (s, v.getOrElse(Double.NaN)) }
      .toDF("stat", "value")
  }

  /** Catalog introspection: one (table, column, dtype) row per column of every
    * table/view visible in the session catalog — the first thing the reference
    * UI does on load (streamlit_frontend.py:440-444 `information_schema.tables`,
    * :515 `DESCRIBE`). Pure driver-side metadata from `spark.catalog`; no data
    * is scanned, so this is O(columns) regardless of table size. The
    * `listTables().collect()` is INTENTIONALLY driver-side and catalog-sized:
    * against a metastore with very many tables (100k+) this enumeration —
    * like any `information_schema.tables` scan — is O(tables) driver work and
    * should be filtered by database/pattern before listing.
    */
  def catalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq
      .flatMap { t =>
        val fq = Option(t.database).filter(_.nonEmpty)
          .map(db => s"$db.${t.name}").getOrElse(t.name)
        spark.table(fq).schema.fields
          .map(f => (t.name, f.name, f.dataType.simpleString))
      }
      .toDF("table", "column", "dtype")
      .orderBy("table", "column")
  }

  /** [[catalog]] over a NAMED v2 catalog namespace (e.g. a
    * [[graft.sources.ManifestCatalog]] mounted at `spark.sql.catalog.<name>`):
    * the same (table, column, dtype) listing, resolved through the catalog
    * plugin API — `SHOW TABLES IN <catalog>.<ns>` + one schema read per
    * table, each of which is ONE manifest read for manifest tables (the
    * schema lives in the table format; no metastore round-trips).
    */
  def catalog(spark: SparkSession, catalogNamespace: String): DataFrame = {
    import spark.implicits._
    spark.sql(s"SHOW TABLES IN $catalogNamespace").collect().toSeq
      .map(_.getString(1)).sorted
      .flatMap { t =>
        spark.table(s"$catalogNamespace.$t").schema.fields
          .map(f => (t, f.name, f.dataType.simpleString))
      }
      .toDF("table", "column", "dtype")
      .orderBy("table", "column")
  }

  /** Gold preview with date-range + row cap (streamlit_frontend.py:530-545,
    * 2132-2137 P8/O4).
    */
  def preview(gold: DataFrame, start: String, end: String, limit: Int): DataFrame =
    gold
      .where(col("crash_date").between(lit(start), lit(end)))
      .orderBy("crash_record_id")
      .limit(limit)

  /** Per-table statistics — the reference status card's table list + row
    * counts (streamlit_frontend.py:439-456: `information_schema.tables` then
    * one `COUNT(*)` per table). Parquet COUNT(*) is answered from footer
    * metadata (no column pages read), columns from the cached schema, so the
    * loop is O(tables) driver metadata work exactly like the reference's
    * own. Output: (tbl, n_rows, n_cols) sorted by table name.
    */
  def tableStats(spark: SparkSession, dir: String, tables: Seq[String]): DataFrame = {
    // one aggregate branch per table, unioned into a SINGLE job — N
    // sequential df.count() actions would pay N job-scheduling latencies
    // for what is metadata work. The spark.read calls themselves run on a
    // thread pool: per-table schema inference (a driver-side footer read)
    // was the actual latency, ~100 ms x N sequential (measured 1.2 s wall
    // at 0.1 s CPU for 10 tables).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val branches = tables.sorted.map { t =>
      Future {
        val df = if (t == "events") Tables.events(spark, dir) else Tables.t(spark, dir, t)
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("tbl"), col("n_rows"),
            lit(df.schema.fields.length.toLong).as("n_cols"))
      }
    }
    // explicit sort: the oracle gate compares rows POSITIONALLY, and a
    // union's physical concatenation order is not a contract
    Await.result(Future.sequence(branches), Duration.Inf)
      .reduce(_ unionByName _)
      .orderBy("tbl")
  }

  /** Partition/size introspection of a parquet table path — the DESCRIBE
    * surface's physical half for the Gold writer's layouts: one row per
    * `col=value` partition directory (or `<root>` for the flat layout) with
    * data-file count and total bytes. Pure FileSystem listing — no data and
    * no footers are read, so it costs O(files) metadata ops on a 100 TB
    * table. Spec-pinned (filesystem state is not oracle-expressible).
    */
  def describePath(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p).toSeq
    def dataFiles(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).toSeq.filter(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    val parts = entries.filter(e => e.isDirectory && e.getPath.getName.contains("="))
    val rows =
      if (parts.nonEmpty)
        parts.map { d =>
          val fl = dataFiles(d.getPath)
          (d.getPath.getName, fl.size.toLong, fl.map(_.getLen).sum)
        }
      else {
        val fl = entries.filter(e => e.isFile && !e.getPath.getName.startsWith("_") &&
          !e.getPath.getName.startsWith("."))
        Seq(("<root>", fl.size.toLong, fl.map(_.getLen).sum))
      }
    rows.toDF("partition", "files", "bytes").orderBy("partition")
  }

  /** Self-contained HTML report over the Gold table — the engine-side
    * analog of the reference's PDF export
    * (streamlit_frontend.py:1768-1983), which assembles title/metadata,
    * the Gold summary (row count, latest data date, latest run), recent
    * pipeline runs, and data-quality metrics into one document. Every
    * number here comes from the SAME oracle-gated query library the
    * dashboard uses ([[qualityMetrics]], [[runHistory]], [[rateBy]]); the
    * renderer is plain string assembly — no dependencies, no charting
    * (layout is a display concern; the DATA assembly is the engine's job).
    *
    * `generatedAt` is caller-supplied so report bytes are deterministic
    * (replays and specs get identical output). Table sections are
    * row-capped by construction (runHistory top-k, rateBy's dimension
    * cardinality); cell text is HTML-escaped — corr ids and category
    * values are external inputs.
    *
    * Scale: four aggregate queries, each a partial-aggregating scan of
    * Gold; the report itself is O(sections x capped rows) driver strings.
    */
  def reportHtml(gold: DataFrame, generatedAt: String): String = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\"", "&quot;")
    def table(df: DataFrame, cap: Int = 50): String = {
      val cols = df.columns
      val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
      val body = df.limit(cap).collect().map { r =>
        cols.indices.map { i =>
          val v = if (r.isNullAt(i)) "" else String.valueOf(r.get(i))
          s"<td>${esc(v)}</td>"
        }.mkString("<tr>", "", "</tr>")
      }.mkString("\n")
      s"<table border='1' cellspacing='0' cellpadding='4'><tr>$head</tr>\n$body</table>"
    }
    val summary = gold.agg(
      count(lit(1)).as("rows"),
      max("crash_date").as("latest_data_date"),
      max("inserted_at").as("latest_run_at")).collect()(0)
    val latestCorr = gold
      .orderBy(desc("inserted_at"), desc("corr_id")).select("corr_id")
      .limit(1).collect().headOption.map(_.getString(0)).getOrElse("-")
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset='utf-8'>")
      .append("<title>Crash ETL Pipeline Report</title></head><body>\n")
      .append("<h1>Chicago Crash ETL Pipeline Report</h1>\n")
      .append(s"<p>Generated: ${esc(generatedAt)}</p>\n")
      .append("<h2>Gold Table Summary</h2>\n")
      .append(s"<p><b>Total rows:</b> ${summary.getLong(0)}<br/>")
      .append(s"<b>Latest data date:</b> ${esc(String.valueOf(summary.get(1)))}<br/>")
      .append(s"<b>Latest run:</b> ${esc(latestCorr)} at ")
      .append(s"${esc(String.valueOf(summary.get(2)))}</p>\n")
      .append("<h2>Schema</h2>\n")
      .append(gold.schema.fields.map(f =>
        s"<li>${esc(f.name)}: ${esc(f.dataType.simpleString)}</li>")
        .mkString("<ul>", "\n", "</ul>\n"))
      .append("<h2>Recent Pipeline Runs</h2>\n")
      .append(table(runHistory(gold))).append('\n')
      .append("<h2>Data Quality Metrics</h2>\n")
      .append(table(qualityMetrics(gold))).append('\n')
      .append("<h2>Hit &amp; Run Rate by Weather</h2>\n")
      .append(table(rateBy(gold, "weather_condition"))).append('\n')
      .append("</body></html>\n")
    sb.toString
  }
}
