package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter,
  InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{ManifestRead, ManifestStore}

/** SQL surface for [[ManifestStore]] tables — the piece that makes the
  * table format usable from pure SQL the way the reference's Gold table
  * is from DuckDB (reference: cleaner/duckdb_writer.py:141-207 writes the
  * Gold table with plain SQL INSERTs):
  *
  * {{{
  *   CREATE TABLE t (k BIGINT, v STRING) USING `graft-manifest`
  *     OPTIONS (path '/data/t' [, statscols 'k'])
  *   INSERT INTO t SELECT ...        -- ManifestStore.append: one segment
  *                                   -- + one CAS commit, safe under racers
  *   INSERT OVERWRITE t SELECT ...   -- ManifestStore.overwrite
  *   SELECT ... FROM t WHERE k > 5   -- the zero-listing manifest FileIndex,
  *                                   -- segment-pruned from recorded stats
  * }}}
  *
  * Implementation shape: a DSv2 [[TableProvider]]. A read plans through
  * [[ManifestRead]]'s file index either natively (Spark's own
  * `ParquetScanBuilder` over [[ManifestRead.ManifestPartitioningIndex]])
  * or, for the cases one file scan cannot express, through a [[V1Scan]]
  * shim that hands Catalyst a filter-pushed [[ManifestStore.readAt]]
  * DataFrame (SQL reads get the same manifest-stats segment pruning as
  * the API path; pushed filters are re-applied row-level by Spark, so a
  * missed translation costs I/O, never correctness). [[V1Write]] maps
  * INSERT INTO → `append` and INSERT OVERWRITE → `overwrite`, inheriting
  * the CAS commit protocol — racing SQL INSERTs serialize exactly like
  * racing API appenders (losers re-read and re-publish; nothing is lost).
  * The `statscols` option declares min/max/null-count stats columns for
  * every SQL-committed segment; `versionAsOf` plans a frozen read-only
  * time-travel view.
  *
  * Read-path cost note: the V1 shim surfaces the scan as an RDD[Row], so
  * a shimmed SELECT pays one InternalRow→Row→InternalRow conversion at the
  * boundary (the pruning/pushdown still happens inside the wrapped plan);
  * [[ManifestStore.read]] is the zero-overhead API path into the same
  * FileIndex.
  */
class ManifestTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-manifest table needs a path option: OPTIONS (path '...')"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = pathOf(options)
    val snap = Option(options.get("versionasof")) match {
      case Some(v) => ManifestStore.snapshotAt(spark, path, v.toLong)
      case None => ManifestStore.current(spark, path)
    }
    // an emptied table still serves its recorded schema (every commit
    // records one); only a truly uninitialized path needs declared columns
    snap.map(_.logicalSchema)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest table at $path yet — declare columns in CREATE TABLE " +
          "to initialize a new one"))
  }

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // the DataFrame reader hands options through case-SENSITIVELY
    // (versionAsOf stays camelCase); normalize before lookup
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest table needs a path option: OPTIONS (path '...')"))
    val statsCols = Option(opts.get("statscols")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val versionAsOf = Option(opts.get("versionasof")).map(_.toLong)
    new ManifestTable(path, schema, statsCols, versionAsOf)
  }
}

final class ManifestTable(val path: String, declared: StructType,
    val statsCols: Seq[String], val versionAsOf: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = versionAsOf
    .map(v => s"graft-manifest `$path`@v$v")
    .getOrElse(s"graft-manifest `$path`")
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** The prunable subset of v1 filters as a Column predicate — exactly the
    * shapes [[graft.ops.ManifestRead]]'s FileIndex can turn into segment
    * skipping. Untranslated filters stay residual (Spark re-evaluates all
    * of them row-level anyway).
    */
  private def translate(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
      Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case _ => None
  }

  /** The NATIVE read path: hand Spark's own `ParquetScanBuilder` the
    * manifest index ([[ManifestRead.ManifestPartitioningIndex]]) and get
    * everything the built-in parquet source has — vectorized COLUMNAR
    * batches, whole-stage codegen, filter/column/aggregate pushdown, and
    * manifest-stats segment skipping via the index's `listFiles` — with
    * no InternalRow→Row→InternalRow hop. This is the common path for a
    * catalog-table SELECT (the reference's dashboard reads its Gold table
    * with plain SQL, streamlit_frontend.py:913). The [[V1Scan]] shim
    * below survives for exactly two cases: a snapshot with OUTSTANDING
    * merge-on-read deletes (the logical view is a union of anti-joins —
    * not expressible as one file scan; the delete debt already costs the
    * joins, and [[graft.ops.ManifestStore.maintain]] advises clearing it)
    * and the `v1shim` option (measurement/debug).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val snap = versionAsOf match {
      case Some(v) => ManifestStore.snapshotAt(spark, path, v)
      case None => ManifestStore.current(spark, path)
    }
    val forceShim = Option(options.get("v1shim")).exists(_.toBoolean)
    // a renamed (column-mapped) table's files spell columns physically —
    // the logical alias projection lives in ManifestStore.readAt, so
    // such tables read through the shim until a full rewrite re-baselines
    // the mapping (ManifestStore.renameColumn documents the trade)
    val mapped = snap.flatMap(_.schema).exists(graft.ops.ManifestStore.hasMapping)
    if (forceShim || mapped || snap.exists(_.deletes.nonEmpty)) v1ShimScanBuilder()
    else {
      val index = new ManifestRead.ManifestPartitioningIndex(spark, path,
        snap.getOrElse(ManifestStore.Snapshot(0L, Nil)).copy(deletes = Nil))
      // dataSchema == table schema, nullable-relaxed: segments written
      // before an evolved column existed null-fill it in the vectorized
      // reader only when the data schema doesn't mark it required
      val relaxed = StructType(declared.fields.map(_.copy(nullable = true)))
      org.apache.spark.sql.execution.datasources.v2.parquet
        .ParquetScanBuilder(spark, index, relaxed, relaxed, options)
    }
  }

  private def v1ShimScanBuilder(): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private var required: StructType = declared

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(f => translate(f).isDefined)
        filters // all stay residual: pushdown here only PRUNES, never filters
      }
      override def pushedFilters(): Array[Filter] = pushed

      // column pruning reaches the inner parquet scan: a 2-column SELECT
      // over a wide table must not read every column through the shim
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val pushedPred = pushed.flatMap(translate).reduceOption(_ && _)
          val projected = required
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = projected
            override def buildScan(): RDD[Row] = {
              val spark = context.sparkSession
              // versionAsOf = planner-integrated time travel as a frozen
              // read-only view of that snapshot
              val snap = versionAsOf match {
                case Some(v) => ManifestStore.snapshotAt(spark, path, v)
                case None => ManifestStore.current(spark, path)
              }
              val base = snap match {
                case Some(s) => ManifestStore.readAt(spark, path, s)
                case None => // no manifest at the path: schema-correct empty
                  spark.createDataFrame(
                    spark.sparkContext.emptyRDD[Row], declared)
              }
              // filter FIRST (it may reference pruned-away columns), then
              // project to exactly the required columns (possibly zero —
              // a COUNT(*) reads no columns at all)
              pushedPred.foldLeft(base)(_ where _)
                .select(projected.fieldNames.map(col).toSeq: _*)
                .rdd
            }
          }.asInstanceOf[T]
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      "a versionAsOf manifest table is a frozen read-only view — write to " +
        "the live table (no versionAsOf option), or restore() the version first")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteArg: Boolean): Unit = {
              val spark = data.sparkSession
              // INSERT resolves by position; commit under the table's names
              val aligned = data.toDF(declared.fieldNames.toSeq: _*)
              val doOverwrite = overwrite || overwriteArg
              if (doOverwrite) {
                // ONE CAS unit regardless of whether the table looks empty
                // — the former read-empty→append routing was a
                // check-then-act: a racer committing in the window survived
                // an overwrite that should have erased it (ADVICE r12)
                ManifestStore.overwrite(spark, aligned, path,
                  statsCols = statsCols)
              } else {
                ManifestStore.append(spark, aligned, path, statsCols = statsCols)
              }
              ()
            }
          }
      }
    }
  }
}
