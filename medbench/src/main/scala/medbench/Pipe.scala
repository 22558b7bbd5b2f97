package medbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.gold.{Cleaner, GoldWriter}
import graft.ingest.Ingest
import graft.model.{JobSpec, Schemas}
import graft.silver.Transformer

/** Job specs in the reference's backfill.json / streaming.json shape, and the
  * traced form of `Pipeline.run`.
  */
object Pipe {

  private def q(s: String) = "\"" + s + "\""

  def job(mode: String, dateRange: Option[(String, String)] = None,
      where: Option[String] = None, sinceDays: Option[Int] = None): JobSpec = {
    val primary = Seq(
      Some(s""""id":"85ca-t3if","alias":"crashes","select":${q(Schemas.crashColumns.mkString(","))}"""),
      where.map(w => s""""where":${q(w)}"""),
      sinceDays.map(d => s""""where_by":{"since_days":$d}""")).flatten.mkString(",")
    val range = dateRange.map { case (s, e) =>
      s""","date_range":{"field":"crash_date","start":${q(s)},"end":${q(e)}}"""
    }.getOrElse("")
    JobSpec.parse(s"""{"mode":${q(mode)},"source":"crash","join_key":"crash_record_id"$range,
       |"primary":{$primary},
       |"enrich":[
       |{"id":"68nd-jvt3","alias":"vehicles","select":${q(Schemas.vehicleColumns.mkString(","))}},
       |{"id":"u6pd-qa9d","alias":"people","select":${q(Schemas.peopleColumns.mkString(","))}}]}""".stripMargin)
  }

  /** `Pipeline.run` step by step, each public call in its own span, in the
    * same order. Lazy work lands in the span whose call forces it. The traced
    * run's Gold is compared with the untraced run's, so a drift between this
    * mirror and `Pipeline.run` fails the traced run.
    */
  def traced(rec: Recorder, spark: SparkSession, job: JobSpec, raw: Map[String, DataFrame],
      base: String, corrId: String, now: java.time.LocalDate): Pipeline.RunResult = {
    val wmPath = s"$base/watermarks/last.txt"
    val primary = rec.span("ingest", "applyJob") {
      val watermark = if (job.mode == "streaming") Ingest.loadWatermark(wmPath) else None
      Ingest.applyJob(raw("crashes"), job, watermark, now)
    }
    if (rec.span("ingest", "isEmpty")(primary.isEmpty)) {
      val goldPath = s"$base/gold"
      val report = rec.span("gold_write", "integrityCheck") {
        if (GoldWriter.tableExists(spark, goldPath))
          GoldWriter.integrityCheck(spark, goldPath, job.joinKey, 0L)
        else GoldWriter.IntegrityReport(0L, 0L, 0L, 0L)
      }
      rec.span("ingest", "manifest")(
        Ingest.writeManifest(base, corrId, job.mode, "", now.toString, now.toString))
      return Pipeline.RunResult(corrId, 0L, report, Ingest.loadWatermark(wmPath))
    }
    rec.span("ingest", "writeBronze")(Ingest.writeBronze(primary, base, "crashes", corrId))
    val ids = primary.select(job.joinKey)
    job.enrich.foreach { e =>
      val alias = e.alias.getOrElse(e.id)
      rec.span("ingest", s"enrich:$alias") {
        val enriched = Ingest.semiJoinEnrich(raw(alias), ids, job.joinKey)
        val selected = e.select
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
          .map(cols => enriched.select(cols.filter(enriched.columns.contains).map(col): _*))
          .getOrElse(enriched)
        selected.write.mode("append").option("compression", "gzip")
          .json(s"$base/$alias/corr=$corrId")
      }
    }
    val bCrashes = rec.span("ingest", "readBronze")(Ingest.readBronze(spark, base, "crashes", corrId))
    def readEnrich(i: Int): DataFrame = {
      val alias = job.enrich.lift(i).map(e => e.alias.getOrElse(e.id))
      alias match {
        case None => spark.emptyDataFrame
        case Some(a) =>
          try spark.read.json(s"$base/$a/corr=$corrId")
          catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame }
      }
    }
    val vehicles = rec.span("ingest", "readEnrich")(readEnrich(0))
    val people = rec.span("ingest", "readEnrich")(readEnrich(1))
    val silver = rec.span("silver", "merge")(Transformer.makeCsvSafe(
      Transformer.mergeCrashVehiclesPeople(bCrashes, vehicles, people, job.joinKey)))
    rec.span("silver", "write")(silver.write.mode("overwrite").option("header", "true")
      .csv(s"$base/silver/corr=$corrId"))
    val silverBack = rec.span("silver", "readBack")(
      spark.read.option("header", "true").csv(s"$base/silver/corr=$corrId"))
    val gold = rec.span("gold_clean", "clean")(Cleaner.toGold(Cleaner.cleanData(silverBack),
      corrId, java.sql.Timestamp.valueOf(now.atStartOfDay())))
    val report = rec.span("gold_write", "upsertBucketed")(
      GoldWriter.upsertBucketed(spark, gold, s"$base/gold"))
    rec.span("ingest", "watermark") {
      val newWm = bCrashes.agg(max(to_timestamp(col("crash_date"))).cast("string")).first().getString(0)
      Option(newWm).foreach(wm => Ingest.saveWatermark(wmPath, wm, job.mode))
      Ingest.writeManifest(base, corrId, job.mode, "", now.toString, now.toString)
    }
    val rows = rec.span("silver", "count")(silverBack.count())
    Pipeline.RunResult(corrId, rows, report, Ingest.loadWatermark(wmPath))
  }

  /** (rows, order-free hash) of a key column. */
  def keyDigest(df: DataFrame, key: String = "crash_record_id"): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(col(key)).cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Order-free content hash of Gold without the run metadata columns. */
  def goldDigest(gold: DataFrame): (Long, BigDecimal) = {
    val cols = gold.columns.filterNot(Set("corr_id", "inserted_at", "updated_at",
      GoldWriter.bucketCol)).sorted.map(col)
    val r = gold.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
