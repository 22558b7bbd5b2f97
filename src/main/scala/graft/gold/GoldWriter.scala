package graft.gold

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.silver.Transformer

/** Gold-table sink: first-write-wins idempotent upsert + integrity checks.
  *
  * DuckDB's `INSERT ... ON CONFLICT (crash_record_id) DO NOTHING`
  * (reference: cleaner/duckdb_writer.py:141-207) has no parquet equivalent,
  * so it is expressed as dedup-within-batch + left-anti against the existing
  * keys + append. Gold is one flat directory of parquet files, as the
  * reference's Gold is one table, and any external reader can scan it with
  * a plain parquet read. Replays of the same batch are no-ops, which is
  * what makes the at-least-once delivery safe (ST4).
  *
  * WRITER CONCURRENCY: [[upsertBucketed]] is SINGLE-WRITER per table path.
  * The conflict check (anti join) and the append are two steps, so two
  * uncoordinated writers racing the same keys could both observe "absent"
  * and both insert. `Pipeline.run` is the one writer, as the reference's
  * PK-enforced DuckDB writer sits behind a prefetch-1 queue consumer
  * (cleaner/cleaner.py:248). The engine's multi-writer table is
  * [[graft.ops.ManifestStore]]: lock-free first-write-wins upserts through
  * an optimistic CAS publish, and crash-atomic rewrites.
  *
  * Scale: the anti join ships only the key column of the existing table
  * (Catalyst prunes to one column) and plans as `BroadcastHashJoin LeftAnti
  * BuildRight`: the broadcast side is Gold's keys and the batch streams past
  * it, so no upsert shuffles the table. Every Gold read is one directory
  * listed on the driver with the key schema given: no job goes to file
  * listing or to footer schema inference.
  */
object GoldWriter {

  final case class IntegrityReport(
      totalRows: Long,
      duplicateKeys: Long,
      nullKeys: Long,
      insertedRows: Long)

  /** The partition column of the retired key-bucket layout. Gold no longer
    * has it; the name stays only for readers that filter it out of Gold's
    * columns (medbench's `Pipe.goldDigest` does).
    */
  val bucketCol = "__key_bucket"

  /** Dedup the incoming batch (deterministic keep-first by full-row order),
    * skip keys already present, append the rest (reference:
    * cleaner/duckdb_writer.py:141-207), then check the whole table.
    *
    * The append is staged in a hidden `_staging-<uuid>` directory under the
    * table, which no reader lists. Its files' row counts are read from
    * their parquet footers on the driver: they give the insert count with
    * no job and no `Dataset.observe`, and only files that hold rows move
    * into the table, so an upsert that inserts nothing (a replay) adds no
    * file. One aggregation over Gold's key column then gives the total,
    * duplicate-key and null-key counts (A13/A14).
    */
  def upsertBucketed(spark: SparkSession, batch: DataFrame, path: String,
      key: String = "crash_record_id"): IntegrityReport = {
    val tiebreak = batch.columns.filter(_ != key).sorted.map(col).toSeq
    val deduped = Transformer.dedupKeepFirst(batch.where(col(key).isNotNull), key, tiebreak)
    // nullable even though the batch filtered nulls: the integrity scan
    // counts null keys on disk, and a non-nullable read schema would let
    // Catalyst fold that `isNull` to false
    val keyField = deduped.schema(key).copy(nullable = true)
    val existed = flatFiles(spark, path).nonEmpty
    val toInsert =
      if (existed) deduped.join(keyScan(spark, path, keyField), Seq(key), "left_anti")
      else deduped

    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(root, s"_staging-${java.util.UUID.randomUUID()}")
    toInsert.write.parquet(staged.toString)
    val inserted =
      try fs.listStatus(staged).filter(isData).map { f =>
        val rows = footer(spark, f).getBlocks.asScala.map(_.getRowCount).sum
        if (rows > 0 && !fs.rename(f.getPath, new Path(root, f.getPath.getName)))
          throw new java.io.IOException(s"could not move ${f.getPath} into $path")
        rows
      }.sum
      finally fs.delete(staged, true)

    // A first batch whose keys are all null writes nothing: report an
    // empty table rather than reading an absent one.
    if (!existed && inserted == 0L) IntegrityReport(0L, 0L, 0L, 0L)
    else keyChecks(keyScan(spark, path, keyField), key).copy(insertedRows = inserted)
  }

  /** Gold's key column: the table directory listed on the driver (one
    * path, so no listing job) with the key schema given (no inference job).
    */
  private def keyScan(spark: SparkSession, path: String, keyField: StructField): DataFrame =
    spark.read.schema(StructType(Seq(keyField))).parquet(path)

  private def isData(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  private def footer(spark: SparkSession, f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.NO_FILTER)

  /** Gold's data files (none when the path does not exist). Fails fast on
    * a table in the retired key-bucket layout: its keys live in
    * `__key_bucket=N` directories that a flat conflict scan would not
    * read, so a flat append onto it would admit duplicate keys.
    */
  private def flatFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = try fs.listStatus(p).toSeq catch { case _: java.io.FileNotFoundException => Nil }
    if (all.exists(s => s.isDirectory && s.getPath.getName.startsWith(s"$bucketCol=")))
      throw new IllegalStateException(
        s"Gold table at $path holds $bucketCol=N directories, the retired key-bucket " +
          "layout; GoldWriter writes one flat directory, and appending onto the " +
          "bucketed layout would miss its keys and admit duplicates. Rewrite the " +
          "table flat first.")
    all.filter(isData)
  }

  /** Filesystem-agnostic existence probe (a java.io.File check would always
    * say "missing" on hdfs:// or s3a:// paths and silently break the
    * conflict skip). A table in the retired key-bucket layout exists too,
    * so [[integrityCheck]] refuses it instead of reporting it empty.
    */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      s.getPath.getName.endsWith(".parquet") ||
        (s.isDirectory && s.getPath.getName.startsWith(s"$bucketCol="))
    }
  }

  /** Post-write checks mirrored from the reference: duplicate-PK grouping and
    * null-PK count (reference: cleaner/duckdb_writer.py:228-288 A13/A14)
    * over the whole table, with `inserted` passed through. Planned like
    * [[upsertBucketed]]'s reads, with the key's type read from one file
    * footer on the driver, so no job lists files or infers a schema, and
    * one aggregation over the key column answers all three counts.
    */
  def integrityCheck(spark: SparkSession, path: String, key: String,
      inserted: Long): IntegrityReport = {
    val files = flatFiles(spark, path)
    if (files.isEmpty) return IntegrityReport(0L, 0L, 0L, inserted)
    val keyField = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer(spark, files.head).getFileMetaData.getSchema)(key).copy(nullable = true)
    keyChecks(keyScan(spark, path, keyField), key).copy(insertedRows = inserted)
  }

  /** Rows, duplicated keys and null-key rows of `rows` (a [[keyScan]]), in
    * one aggregation over the key column; `insertedRows` is left 0.
    */
  private def keyChecks(rows: DataFrame, key: String): IntegrityReport = {
    val r = rows.groupBy(key).agg(count(lit(1)).as("cnt"))
      .agg(
        sum(col("cnt")),
        sum(when(col("cnt") > 1, 1).otherwise(0)),
        sum(when(col(key).isNull, col("cnt")).otherwise(0L)))
      .collect()(0)
    def orZero(i: Int) = Option(r.get(i)).map(_.toString.toLong).getOrElse(0L)
    IntegrityReport(orZero(0), orZero(1), orZero(2), 0L)
  }
}
