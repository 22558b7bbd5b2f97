package graft.gold

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}

/** The Gold cleaning chain — a pure DataFrame -> DataFrame column-expression
  * program replicating the reference's pandas rules *including* their null
  * edges (reference: cleaner/cleaning_rules.py:11-224; behavior spec
  * pinned by cleaner/testing.ipynb cells 10-26):
  *
  *  - whitelist recodes send null to 'OTHER' (pandas: NaN fails isin, row is
  *    assigned in the ~isin branch);
  *  - the bbox filter lets null coordinates through (NaN comparisons are
  *    False in pandas — replicated with an explicit COALESCE);
  *  - grid_id renders null bins as the string "nan" (pandas str(NaN));
  *  - hour_bin of a null hour is null until categorical imputation turns it
  *    into 'OTHER'.
  *
  * All rules are native Column expressions (no UDFs), built as one
  * projection per rule phase. The exact medians for imputation cost one
  * aggregate query (two jobs); they and the run timestamp join in as one-row
  * local frames (a cartesian product, no exchange and no job), so a new
  * batch reuses the generated code of the last one.
  */
object Cleaner {

  /** The 22 retained input columns (reference: cleaner/cleaning_rules.py:31-37). */
  val reqCols: Seq[String] = Seq(
    "crash_record_id", "beat_of_occurrence", "crash_date", "crash_day_of_week",
    "crash_hour", "crash_type", "hit_and_run_i", "num_units", "injuries_total",
    "lighting_condition", "latitude", "longitude", "posted_speed_limit",
    "road_defect", "roadway_surface_cond", "street_direction", "trafficway_type",
    "weather_condition", "intersection_related_i", "traffic_control_device",
    "work_zone_i", "private_property_i")

  val boolCols: Seq[String] =
    Seq("hit_and_run_i", "intersection_related_i", "private_property_i", "work_zone_i")

  /** Y/yes/true/t/1/1.0 -> 1; everything else including null -> 0
    * (reference: cleaner/cleaning_rules.py:57-88).
    */
  def standardizeBoolean(c: Column): Column =
    when(lower(trim(c.cast("string"))).isin("y", "yes", "true", "t", "1", "1.0"), 1)
      .otherwise(0)

  /** 1=Sunday..7=Saturday Socrata convention
    * (reference: cleaner/cleaning_rules.py:92-97; day-code clash note SURVEY §7.4).
    */
  def isWeekend(dayOfWeek: Column): Column =
    when(dayOfWeek.isin(1, 7), 1).otherwise(0)

  /** <=6 night, <=12 morning, <=18 afternoon, <=23 evening, null/other -> null
    * (reference: cleaner/cleaning_rules.py:100-112; null hour falls through
    * every branch exactly like NaN comparisons in pandas).
    */
  def hourBin(hour: Column): Column =
    when(hour <= 6, "night")
      .when(hour <= 12, "morning")
      .when(hour <= 18, "afternoon")
      .when(hour <= 23, "evening")
      .otherwise(lit(null).cast("string"))

  /** Uppercase + whitelist recode; null and off-list both -> 'OTHER'
    * (reference: cleaner/cleaning_rules.py:153-181).
    */
  def whitelistRecode(c: Column, valid: Seq[String]): Column = {
    val u = upper(c.cast("string"))
    when(u.isin(valid: _*), u).otherwise("OTHER")
  }

  private val validRoadway  = Seq("DRY", "UNKNOWN", "WET", "SNOW OR SLUSH", "ICE")
  private val validLighting =
    Seq("DARKNESS, LIGHTED ROAD", "UNKNOWN", "DARKNESS", "DAWN", "DAYLIGHT", "DUSK")
  private val snowConditions =
    Seq("SNOW", "BLOWING SNOW", "SLEET/HAIL", "FREEZING RAIN/DRIZZLE")
  private val validWeather  = Seq("CLOUDY/OVERCAST", "CLEAR", "RAIN", "SNOW")
  private val validTraffic  = Seq("NO CONTROLS", "TRAFFIC SIGNAL", "STOP SIGN/FLASHER", "UNKNOWN")
  private val validCrashType = Seq("NO INJURY / DRIVE AWAY", "INJURY AND / OR TOW DUE TO CRASH")

  /** F8 weather recode including the snow consolidation pre-map; null and
    * off-list -> 'OTHER' (reference: cleaner/cleaning_rules.py:140-181).
    */
  def weatherRecode(c: Column): Column = {
    val u = upper(c.cast("string"))
    val snowMapped = when(u.isin(snowConditions: _*), "SNOW").otherwise(u)
    when(snowMapped.isin(validWeather: _*), snowMapped).otherwise("OTHER")
  }

  /** Chicago bounding box; (0,0) and out-of-range dropped, null coordinates
    * SURVIVE (reference: cleaner/cleaning_rules.py:128-143).
    */
  def validCoords(lat: Column, lng: Column): Column = {
    val invalid = (lat === 0 && lng === 0) ||
      lat < 41.6 || lat > 42.1 || lng < -88.0 || lng > -87.5
    !coalesce(invalid, lit(false))
  }

  /** Median-imputed numeric columns (reference: cleaner/cleaning_rules.py:192-202 —
    * numerics minus id/flags/injuries_total).
    */
  val medianCols: Seq[String] = Seq(
    "beat_of_occurrence", "crash_day_of_week", "crash_hour", "num_units",
    "posted_speed_limit", "latitude", "longitude", "lat_bin", "lng_bin")

  /** Categorical columns imputed with 'OTHER' (reference:
    * cleaner/cleaning_rules.py:204-212 — object dtypes minus the id; the
    * whitelist-recoded columns are already null-free by this point).
    */
  val categoricalFillCols: Seq[String] =
    Seq("hour_bin", "road_defect", "street_direction", "trafficway_type", "grid_id")

  /** The full rule chain P5 -> F2-F8 -> F9 (median/constant impute) -> F10
    * (caps), in the reference's order — order matters: is_weekend/hour_bin are
    * derived BEFORE their source columns are median-imputed.
    */
  def cleanData(silver: DataFrame): DataFrame = {
    // P5: keep-list + missing-column null patch (cleaning_rules.py:31-51),
    // with the numeric casts (the pandas cleaner receives CSV-inferred
    // numerics). Column order: present, patched.
    val numericDouble = Set(
      "beat_of_occurrence", "crash_day_of_week", "crash_hour", "num_units",
      "injuries_total", "latitude", "longitude", "posted_speed_limit")
    val present = reqCols.filter(silver.columns.contains)
    val absent  = reqCols.filterNot(silver.columns.contains)
    def typedCol(c: String, src: Column): Column =
      (if (numericDouble(c)) src.cast("double") else src).as(c)
    val typed = silver.select(
      present.map(c => typedCol(c, col(c))) ++
        absent.map(c => typedCol(c, lit(null).cast("string"))): _*)

    // P6-F9a in one projection over the typed, pre-imputation values:
    // F2 booleans, F3 is_weekend, F4 hour_bin, F5 midnight date, F6 bins,
    // F7 grid id ("nan" replicates pandas str(NaN)), F8 whitelist recodes
    // (null -> OTHER), F9a injuries_total -> 0. The filters drop null dates
    // (P6, before and after normalization) and apply the bbox (P7, null
    // coordinates pass); the projection is deterministic, so filtering after
    // it keeps the same rows.
    val latBin = round(col("latitude"), 2)
    val lngBin = round(col("longitude"), 2)
    val rules: Map[String, Column] =
      boolCols.map(c => c -> standardizeBoolean(col(c))).toMap ++ Map(
        "crash_date" -> to_date(to_timestamp(col("crash_date"))),
        "roadway_surface_cond" -> whitelistRecode(col("roadway_surface_cond"), validRoadway),
        "lighting_condition" -> whitelistRecode(col("lighting_condition"), validLighting),
        "weather_condition" -> weatherRecode(col("weather_condition")),
        "traffic_control_device" -> whitelistRecode(col("traffic_control_device"), validTraffic),
        "crash_type" -> whitelistRecode(col("crash_type"), validCrashType),
        "injuries_total" -> coalesce(col("injuries_total"), lit(0.0)))
    val added = Seq(
      "is_weekend" -> isWeekend(col("crash_day_of_week")),
      "hour_bin" -> hourBin(col("crash_hour")),
      "lat_bin" -> latBin,
      "lng_bin" -> lngBin,
      "grid_id" -> concat(
        coalesce(latBin.cast("string"), lit("nan")), lit("_"),
        coalesce(lngBin.cast("string"), lit("nan"))))
    val derived = typed
      .where(col("crash_date").isNotNull)
      .select(typed.columns.map(c => rules.getOrElse(c, col(c)).as(c)).toSeq ++
        added.map { case (c, e) => e.as(c) }: _*)
      .where(col("crash_date").isNotNull && validCoords(col("latitude"), col("longitude")))

    // F9b: exact-median imputation (pandas interpolating median — SURVEY §7.4
    // warns against approxQuantile). Computed by ScaleOps.exactQuantiles in
    // one aggregate pass over all nine columns (a column with more than its
    // collect bound of values refines by histogram), the same interpolation
    // as `percentile(c, 0.5)` bit-for-bit. The medians join in as a one-row
    // local frame, not as literals: generated code inlines double literals,
    // so literal medians would recompile the fused stage for every batch.
    // An all-null column has a null median and stays unfilled (matching
    // percentile's null).
    val medians = graft.ops.ScaleOps.exactQuantiles(derived, medianCols, 0.5)
    val medianRow = derived.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(medianCols.map(c => medians.getOrElse(c, null)))),
      StructType(medianCols.map(c => StructField(s"__median_$c", DoubleType))))
    def filled(c: String): Column =
      if (medianCols.contains(c)) coalesce(col(c), col(s"__median_$c")) else col(c)

    // F9b + F9c categorical fill + F10 caps. The hint plans the join as a
    // cartesian product, which needs no exchange; a broadcast of the one row
    // would cost a job.
    val caps = Map("num_units" -> 10.0, "posted_speed_limit" -> 75.0)
    derived.crossJoin(medianRow.hint("shuffle_replicate_nl")).select(derived.columns.map { c =>
      val v =
        if (categoricalFillCols.contains(c)) coalesce(col(c).cast("string"), lit("OTHER"))
        else caps.get(c).fold(filled(c))(cap => least(filled(c), lit(cap)))
      v.as(c)
    }.toSeq: _*)
  }

  /** Cast the cleaned frame to the declared Gold column types and attach run
    * metadata (reference: cleaner/duckdb_writer.py:57-103 DDL + :119-131
    * corr_id/inserted_at/updated_at).
    */
  def toGold(cleaned: DataFrame, corrId: String, now: java.sql.Timestamp): DataFrame = {
    val intCols = Set(
      "crash_day_of_week", "crash_hour", "is_weekend", "beat_of_occurrence",
      "num_units", "posted_speed_limit", "hit_and_run_i",
      "intersection_related_i", "work_zone_i", "private_property_i")
    // The run's timestamp joins in as a one-row local frame for the same
    // reason as the medians: a timestamp literal would be inlined into
    // generated code, one compile per run.
    val stamp = cleaned.sparkSession.createDataFrame(
      java.util.List.of(Row(now)), StructType(Seq(StructField("__now", TimestampType))))
    val meta = Map(
      "corr_id" -> lit(corrId), "inserted_at" -> col("__now"), "updated_at" -> col("__now"))
    val declared = graft.model.Schemas.gold.fieldNames.toSeq
    cleaned.crossJoin(stamp.hint("shuffle_replicate_nl")).select(declared.map { c =>
      meta.getOrElse(c, if (intCols(c)) col(c).cast("int") else col(c)).as(c)
    }: _*)
  }
}
