package graft.ingest

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.JobSpec

/** The ingestion layer: job-spec interpretation and Bronze-layer IO.
  *
  * The reference's remote-source machinery (paginated HTTP scan, worker-pool
  * IN-list fan-out, page markers) collapses to Spark primitives: a paginated
  * scan is one partitioned file scan; the ID-batched enrich fetch is a
  * broadcast semi join (reference: extractor/main.go:654-683,781-910); page
  * idempotency markers are the framework's task retry + idempotent sink.
  *
  * Scale: Bronze is written `partitionBy(year, corr)` so every downstream read
  * for one run/year range is partition-pruned before any byte is read
  * (reference key layout: extractor/main.go:636-637,886-891).
  */
object Ingest {

  /** Predicate resolution with the reference's precedence — explicit `where`
    * beats `date_range` (half-open [start, end)) beats watermark beats
    * `since_days` beats the default 7-day lookback
    * (reference: extractor/main.go:202-222 buildWhere).
    *
    * `now` is injected for determinism; predicates are Column expressions so
    * Catalyst pushes them into the scan.
    */
  def buildPredicate(
      job: JobSpec,
      watermark: Option[String],
      now: java.time.LocalDate,
      dateCol: String = "crash_date"): Column = {
    job.where.map(expr).getOrElse {
      job.dateRange match {
        case Some(dr) =>
          col(dr.field) >= lit(dr.start).cast("timestamp") &&
            col(dr.field) < lit(dr.end).cast("timestamp")
        case None =>
          watermark match {
            case Some(wm) => col(dateCol) > lit(wm).cast("timestamp")
            case None =>
              val days = job.sinceDays.getOrElse(7)
              col(dateCol) >= lit(now.minusDays(days.toLong).toString).cast("timestamp")
          }
      }
    }
  }

  /** Required-column injection: prepend the join key / date column when a user
    * select list omits them (reference: extractor/main.go:409-429 ensureSelect).
    */
  def ensureSelect(selected: Seq[String], must: String*): Seq[String] =
    if (selected == Seq("*")) selected
    else must.filterNot(selected.contains) ++ selected

  /** Apply a job's projection + predicate to a Bronze DataFrame — the Spark
    * form of the source-side `$select`/`$where` pushdown (reference:
    * extractor/main.go:723-735). Catalyst prunes columns and pushes the filter
    * into the file scan.
    */
  def applyJob(
      df: DataFrame,
      job: JobSpec,
      watermark: Option[String],
      now: java.time.LocalDate): DataFrame = {
    val selected = ensureSelect(job.primarySelect, job.joinKey, "crash_date")
    val projected =
      if (selected == Seq("*")) df
      else df.select(selected.filter(df.columns.contains).map(col): _*)
    projected.where(buildPredicate(job, watermark, now))
  }

  /** Partitioned Bronze write: `base/alias/year=YYYY/corr=ID/part.json.gz`
    * (reference: extractor/main.go:615-652 year bucketing + gzip objects).
    * Year is derived from the entity's crash_date when present.
    */
  def writeBronze(df: DataFrame, base: String, alias: String, corr: String): Unit = {
    val withParts = df
      .withColumn("year", year(to_timestamp(col("crash_date"))))
      .withColumn("corr", lit(corr))
    withParts.write
      .mode("append")
      .partitionBy("year", "corr")
      .option("compression", "gzip")
      .json(s"$base/$alias")
  }

  /** Bronze read for one run (reference: transformer/transformer.py:185-199
    * key filtering). It reads this run's `year=<y>/corr=<id>` directories as
    * [[runDirs]] lists them on the driver, so listing touches only its files
    * and every path it hands Spark exists (a glob path would be probed
    * literally for a streaming sink's metadata, which logs a warning).
    * Fails if the run landed no Bronze.
    *
    * `schema` is the landed frame's schema as [[inferredSchema]] gives it:
    * with it the read runs no inference job. Without it, JSON inference
    * reads this run's files only (a filter on the `corr` column would prune
    * the scan, but inference would still read every run ever landed). The
    * two reads differ in one way: a column that is null in every row is
    * absent from the written JSON, so inference drops it, while the schema
    * read keeps it as a null column.
    */
  def readBronze(spark: SparkSession, base: String, alias: String, corr: String,
      schema: Option[StructType] = None): DataFrame = {
    val dirs = runDirs(base, alias, corr)
    if (dirs.isEmpty)
      throw new java.io.FileNotFoundException(s"run $corr landed no Bronze under $base/$alias")
    schema.foldLeft(spark.read.option("basePath", s"$base/$alias"))(_.schema(_))
      .json(dirs.map(_.toString): _*)
      .drop("year", "corr")
  }

  /** The schema JSON inference gives a frame after a JSON write and
    * read-back: fields in name order, all nullable, integral numbers as long,
    * other numbers as double, dates, timestamps and binary as strings. Maps
    * keep their type (inference would make them structs of the keys seen).
    */
  def inferredSchema(written: StructType): StructType =
    StructType(written.fields.sortBy(_.name).map(f => StructField(f.name, inferredType(f.dataType))))

  private def inferredType(t: DataType): DataType = t match {
    case s: StructType => inferredSchema(s)
    case ArrayType(e, _) => ArrayType(inferredType(e))
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType | _: DecimalType => DoubleType
    case BooleanType | _: MapType => t
    case _ => StringType
  }

  /** Whether a write left rows under `dir`, decided on the driver. A write
    * that kept no rows leaves `_SUCCESS` and at most empty part files (an
    * empty gzip stream is 20 bytes), so the first byte of each part tells.
    */
  def landed(dir: String): Boolean = children(Paths.get(dir)).exists { f =>
    val name = f.getFileName.toString
    !name.startsWith("_") && !name.startsWith(".") && Files.size(f) > 0 && {
      val raw = Files.newInputStream(f)
      val in = if (name.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
      try in.read() >= 0 finally in.close()
    }
  }

  /** Whether [[writeBronze]] landed rows of run `corr` under any year. */
  def landedBronze(base: String, alias: String, corr: String): Boolean =
    runDirs(base, alias, corr).exists(d => landed(d.toString))

  /** The `year=<y>/corr=<id>` directories of run `corr`, listed on the
    * driver. The id is escaped the way the partitioned write names its
    * directory.
    */
  private def runDirs(base: String, alias: String, corr: String): Seq[java.nio.file.Path] = {
    val runDir = s"corr=${ExternalCatalogUtils.escapePathName(corr)}"
    children(Paths.get(s"$base/$alias")).collect {
      case y if y.getFileName.toString.startsWith("year=") && Files.isDirectory(y.resolve(runDir)) =>
        y.resolve(runDir)
    }
  }

  private def children(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val files = Files.list(dir)
      try { import scala.jdk.CollectionConverters._; files.iterator.asScala.toList }
      finally files.close()
    }

  /** The enrich fetch: keep only enrich rows whose key appears in the primary
    * page — the extractor's dedup+sort+IN-list worker pool as one broadcast
    * left-semi join (reference: extractor/main.go:654-683,814-910). The
    * build side is not deduplicated: a left-semi join emits each probe row
    * at most once whatever the duplicates, so a `distinct` would only add a
    * shuffle.
    */
  def semiJoinEnrich(enrich: DataFrame, primaryIds: DataFrame, key: String): DataFrame =
    enrich.join(broadcast(primaryIds.select(key)), Seq(key), "left_semi")

  // ---- run state (driver-side, tiny) --------------------------------------

  /** Watermark store: one timestamp per pipeline, advanced monotonically and
    * only by non-backfill runs (reference: extractor/main.go:433-473,693-702).
    */
  def loadWatermark(path: String): Option[String] = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = new String(Files.readAllBytes(p), "UTF-8").trim
      if (s.nonEmpty) Some(s) else None
    } else None
  }

  def saveWatermark(path: String, value: String, mode: String): Unit = {
    if (mode == "backfill") return // backfill never advances the watermark
    val prev = loadWatermark(path)
    if (prev.forall(_ < value)) {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.write(p, value.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  /** Run manifest — one lineage record per corr_id
    * (reference: extractor/main.go:923-940).
    */
  def writeManifest(base: String, corr: String, mode: String, where: String,
      started: String, finished: String): Unit = {
    val dir = Paths.get(s"$base/_runs/corr=$corr")
    Files.createDirectories(dir)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json =
      s"""{"corr_id":${q(corr)},"mode":${q(mode)},"where":${q(where)},"started":${q(started)},"finished":${q(finished)}}"""
    Files.write(dir.resolve("manifest.json"), json.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}
