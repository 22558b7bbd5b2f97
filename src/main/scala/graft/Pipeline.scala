package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, to_timestamp}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.gold.{Cleaner, GoldWriter}
import graft.ingest.Ingest
import graft.model.JobSpec
import graft.silver.Transformer

/** End-to-end pipeline runner: the reference's three queue-chained containers
  * (extract -> transform -> clean; SURVEY §3) as one driver-side program over
  * a single Catalyst lineage per stage. The RabbitMQ hops disappear — stage
  * boundaries are either materialized layers (Bronze/Silver on disk, as the
  * reference does) or nothing at all when run fused.
  */
object Pipeline {

  final case class RunResult(
      corrId: String,
      silverRows: Long,
      report: GoldWriter.IntegrityReport,
      watermark: Option[String])

  /** Run extract->transform->clean for one job spec over already-landed raw
    * entity tables (the engine's boundary is the landed data, SURVEY §2.1 S1).
    *
    * @param raw       alias -> raw DataFrame (crashes/vehicles/people)
    * @param base      working directory for Bronze + Gold + state
    * @param now       injected clock for predicate determinism
    */
  def run(
      spark: SparkSession,
      job: JobSpec,
      raw: Map[String, DataFrame],
      base: String,
      corrId: String,
      now: java.time.LocalDate): RunResult = {

    val wmPath = s"$base/watermarks/last.txt"
    val watermark = if (job.mode == "streaming") Ingest.loadWatermark(wmPath) else None
    def step[T](layer: String, name: String)(body: => T): T =
      GraftSession.labelled(s"pipeline:$layer:$name")(body)

    // ---- extract: pushdown-projected/filtered primary + semi-join enrich,
    //      landed partitioned by (year, corr) (S1/S4/J1).
    val primary = Ingest.applyJob(raw("crashes"), job, watermark, now)

    // Land first, then read the listing: an empty batch writes no partition
    // directory. Every later read of the batch reads the landed Bronze, so
    // the batch predicate, whose literals generated code inlines, compiles
    // into this one stage.
    step("ingest", "bronze")(Ingest.writeBronze(primary, base, "crashes", corrId))
    // Empty-page short circuit, as the reference does at every stage
    // (transformer/transformer.py:202 is_empty guards): nothing new landed.
    if (!Ingest.landedBronze(base, "crashes", corrId)) {
      val goldPath = s"$base/gold"
      val report = step("gold_write", "integrity") {
        if (GoldWriter.tableExists(spark, goldPath))
          GoldWriter.integrityCheck(spark, goldPath, job.joinKey, 0L)
        else GoldWriter.IntegrityReport(0L, 0L, 0L, 0L)
      }
      Ingest.writeManifest(base, corrId, job.mode, "", now.toString, now.toString)
      return RunResult(corrId, 0L, report, Ingest.loadWatermark(wmPath))
    }
    // Every read-back takes the schema of what the op just wrote, so no
    // read infers one.
    val bCrashes = Ingest.readBronze(spark, base, "crashes", corrId,
      Some(Ingest.inferredSchema(primary.schema)))
    val ids = bCrashes.select(job.joinKey)
    // alias -> schema of what landed; absent when the semi-join kept no rows
    val enrichLanded: Map[String, StructType] = job.enrich.flatMap { e =>
      val alias = e.alias.getOrElse(e.id)
      val enriched = Ingest.semiJoinEnrich(raw(alias), ids, job.joinKey)
      val selected = e.select
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
        .map(cols => enriched.select(cols.filter(enriched.columns.contains).map(col): _*))
        .getOrElse(enriched)
      // Enrich entities carry no crash_date; partition them by corr only.
      val dir = s"$base/$alias/corr=$corrId"
      step("ingest", s"enrich:$alias") {
        selected.write.mode("append").option("compression", "gzip").json(dir)
      }
      if (Ingest.landed(dir)) Some(alias -> Ingest.inferredSchema(selected.schema))
      else {
        // The write left only empty part files and _SUCCESS: remove them so
        // no later listing or reader meets them.
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        None
      }
    }.toMap

    // ---- transform: partition-pruned read of this run, silver merge (A1-A3,
    //      J2/J3, F13). An enrich that landed nothing (its semi-join kept no
    //      rows, and its landing was removed above) reads as an empty frame,
    //      the way the reference tolerates empty pages (transformer.py:201-252
    //      is_empty guards).
    def readEnrich(i: Int): DataFrame =
      job.enrich.lift(i).map(e => e.alias.getOrElse(e.id)).flatMap(a =>
        enrichLanded.get(a).map(spark.read.schema(_).json(s"$base/$a/corr=$corrId")))
        .getOrElse(spark.emptyDataFrame)
    val merged = Transformer.mergeCrashVehiclesPeople(
      bCrashes, readEnrich(0), readEnrich(1), job.joinKey)
    val silver = Transformer.makeCsvSafe(merged)
    val silverPath = s"$base/silver/corr=$corrId"
    step("silver", "write")(silver.write.mode("overwrite").option("header", "true").csv(silverPath))

    // ---- clean: rule chain + idempotent Gold upsert (P5-F10, J5, A13/A14).
    // Bucketed layout: the conflict anti-join prunes to the key-hash
    // partitions each run touches. The Silver CSV reads back with every
    // column a string, as a header-only read gives it.
    val silverBack = spark.read.option("header", "true")
      .schema(StructType(silver.columns.map(StructField(_, StringType))))
      .csv(silverPath)
    val gold = step("gold_clean", "clean") {
      Cleaner.toGold(Cleaner.cleanData(silverBack), corrId,
        java.sql.Timestamp.valueOf(now.atStartOfDay()))
    }
    val report = step("gold_write", "upsert")(GoldWriter.upsertBucketed(spark, gold, s"$base/gold"))

    // ---- commit watermark (streaming only; backfill never advances — ST1/ST3),
    // only now that Gold holds the batch: the latest crash_date of the
    // landed Bronze (partition-pruned) rather than re-running the raw-source
    // filter.
    val newWm = step("ingest", "watermark") {
      bCrashes.agg(max(to_timestamp(col("crash_date"))).cast("string")).first().getString(0)
    }
    Option(newWm).foreach(wm => Ingest.saveWatermark(wmPath, wm, job.mode))
    Ingest.writeManifest(base, corrId, job.mode, "", now.toString, now.toString)

    // Row count from the materialized Silver CSV — the merge plan already ran
    // for the write; counting `silver` would execute it a second time.
    RunResult(corrId, step("silver", "count")(silverBack.count()), report,
      Ingest.loadWatermark(wmPath))
  }
}
