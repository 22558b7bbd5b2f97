package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull,
  LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory, PartitioningAwareFileIndex,
  PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import ManifestStore.{Bound, Snapshot}

/** The ONE planner of a manifest scan: [[readCatalystAt]] plans a
  * ManifestStore snapshot through a custom [[FileIndex]], so an ORDINARY
  * DataFrame filter — `ManifestStore.read(...).where($"k" > 5)` — prunes
  * segments from the manifest's recorded min/max/null-count stats INSIDE
  * the planner. Spark's own vectorized parquet reader, predicate
  * pushdown, and column pruning all apply unchanged; the only custom
  * piece is file LISTING, which is where manifest-level skipping belongs.
  * Every read of a table — [[ManifestStore.read]]/[[ManifestStore.readAt]],
  * time travel, the commit verbs' conflict scans, the SQL provider —
  * plans here.
  *
  * Pruning is CONSERVATIVE by construction ([[ManifestStore.prunedEntries]]
  * is the rule): only simple comparisons against literals
  * (`= > >= < <= IN`, `IS [NOT] NULL` and conjunctions) on stats-bearing
  * columns tighten a [[Bound]]; anything else contributes none. Because
  * the listing only ever SHRINKS the file set for predicates Spark still
  * re-evaluates row-by-row (they remain dataFilters), a missed bound costs
  * I/O, never correctness.
  *
  * The index makes ZERO filesystem metadata calls: each segment's file
  * names and sizes were stamped into the manifest at commit time
  * ([[ManifestStore.SegmentEntry.files]]) and the schema is recorded
  * there too, so constructing the index and planning a query cost
  * O(segments) in-memory work and no object-store round-trips at all —
  * the coefficient that otherwise dominates planning at 10⁵ segments.
  */
object ManifestRead {

  /** `snap` as a Catalyst-planned DataFrame with manifest-stats file
    * skipping: the recorded schema's visible columns under their logical
    * names, outstanding merge-on-read deletes applied by the sequence
    * rule. Snapshot-isolated: the plan holds `snap`'s file list even if a
    * later version commits. A snapshot with no entries is the
    * schema-correct empty relation.
    */
  private[ops] def readCatalystAt(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame = {
    // top-level nullable: segments written before a schema evolution lack
    // the evolved columns, and the vectorized reader null-fills a missing
    // column only when the data schema doesn't mark it required
    val schema = StructType(
      snap.recordedSchema.fields.map(_.copy(nullable = true)))
    // a renamed table's files spell columns PHYSICALLY: plan the relation
    // under the physical schema and alias to logical at the top — Catalyst
    // pushes user filters through the alias projection into the scan (and
    // into the index's listFiles) as physical-named predicates, matching
    // the stats keys, so segment pruning survives evolution unchanged
    val mapped = ManifestStore.hasMapping(schema)
    // visible fields only: a dropped column's data stays on disk, unread
    val vis = ManifestStore.visible(schema)
    val planSchema = if (mapped) ManifestStore.physSchema(vis) else schema
    def toLogical(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(vis.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(ManifestStore.physicalName(f))
          .as(f.name, ManifestStore.cleanMeta(f))): _*)
    def planEntries(entries: Seq[ManifestStore.SegmentEntry]): DataFrame = {
      val index = new ManifestFileIndex(spark, path,
        snap.copy(entries = entries, deletes = Nil))
      val rel = HadoopFsRelation(index, new StructType(), planSchema, None,
        new ParquetFileFormat(), Map.empty)(spark)
      spark.baseRelationToDataFrame(rel)
    }
    // deletes on an EMPTY table suppress nothing (a merge can empty every
    // segment while MOR sidecars are still published) — and the grouped
    // reduce below needs at least one group
    if (snap.deletes.isEmpty || snap.entries.isEmpty)
      return toLogical(planEntries(snap.entries))
    // outstanding merge-on-read deletes: the sequence rule says a delete
    // at seq D suppresses keys only in segments with seq < D, so segments
    // group by their position among the delete seqs and each group
    // anti-joins exactly its applicable sidecars — HERE each group is
    // still a planner-integrated relation, so ordinary where() filters
    // keep pruning segments (Catalyst pushes predicates through the union
    // and the anti-join's left side); the sidecars are O(delete batch)
    // and broadcast
    val delSeqs = snap.deletes.map(_.seq).distinct.sorted
    val root = new org.apache.hadoop.fs.Path(path)
    // sidecar columns are physical, and so is the planned relation here —
    // the anti-joins run entirely in physical space, logical aliasing last
    toLogical(snap.entries.groupBy(e => delSeqs.count(_ > e.seq)).toSeq
      .map { case (_, es) =>
        val applicable = snap.deletes.filter(d => es.head.seq < d.seq)
        applicable.groupBy(_.keyCol).foldLeft(planEntries(es)) {
          case (df, (kc, ds)) =>
            val keys = ds.map(d => spark.read
                .parquet(new org.apache.hadoop.fs.Path(root, d.name).toString)
                .select(org.apache.spark.sql.functions.col(kc)))
              .reduce(_ unionByName _).distinct()
            df.join(org.apache.spark.sql.functions.broadcast(keys),
              Seq(kc), "left_anti")
        }
      }
      .reduce(_ unionByName _))
  }

  /** The manifest index in the shape Spark's NATIVE DSv2 file scans
    * consume ([[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder]]
    * takes a `PartitioningAwareFileIndex`, not a bare `FileIndex`): a
    * catalog-table SELECT planned through this serves COLUMNAR batches
    * from Spark's vectorized parquet reader with zero InternalRow→Row
    * conversion — the native twin of [[readCatalystAt]]'s V1 relation.
    * The listing itself is delegated verbatim to [[ManifestFileIndex]],
    * so manifest-stats segment skipping applies identically (the v2 file
    * scan hands its pushed catalyst data filters to `listFiles` exactly
    * like the v1 planner does); the inherited partition machinery is
    * pinned empty (segments are not hive-style partitions — their
    * pruning structure lives in the manifest stats, not the paths).
    */
  final class ManifestPartitioningIndex(spark: SparkSession,
      tablePath: String, snap: Snapshot)
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    private val inner = new ManifestFileIndex(spark, tablePath, snap)
    private lazy val all: Seq[FileStatus] =
      snap.entries.flatMap(inner.statusesOf)

    override def rootPaths: Seq[Path] = inner.rootPaths
    override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
    override def partitionSchema: StructType = new StructType()
    override protected def leafFiles
        : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
      all.foreach(st => m += st.getPath -> st)
      m
    }
    override protected def leafDirToChildrenFiles
        : Map[Path, Array[FileStatus]] =
      all.groupBy(_.getPath.getParent)
        .map { case (d, fs) => d -> fs.toArray }
    override def refresh(): Unit = inner.refresh()
    override def sizeInBytes: Long = inner.sizeInBytes
    override def inputFiles: Array[String] = inner.inputFiles
    // the load-bearing override: manifest-stats pruning on the pushed
    // data filters, not the inherited partition-directory walk
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      inner.listFiles(partitionFilters, dataFilters)
  }

  final class ManifestFileIndex(spark: SparkSession, tablePath: String,
      snap: Snapshot) extends FileIndex {
    private val root = new Path(tablePath)
    private val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private[ops] def statusesOf(e: ManifestStore.SegmentEntry): Array[FileStatus] = {
      val segDir = new Path(root, e.name)
      e.files.map { case (name, len) =>
        new FileStatus(len, false, 1, 128L << 20, 0L,
          hfs.makeQualified(new Path(segDir, name)))
      }.toArray
    }

    override def rootPaths: Seq[Path] = Seq(root)
    override def partitionSchema: StructType = new StructType()
    override def inputFiles: Array[String] =
      snap.entries.flatMap(statusesOf).map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = snap.entries.map(_.files.map(_._2).sum).sum

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val bounds = scala.collection.mutable.Map.empty[String, Bound]
      dataFilters.foreach(collect(_, bounds))
      Seq(PartitionDirectory(InternalRow.empty,
        ManifestStore.prunedEntries(snap, bounds.toMap).flatMap(statusesOf).toArray))
    }

    /** Catalyst literal → the external value space [[ManifestStore.boundKey]]
      * accepts. Dates/timestamps ride as their internal integers (boundKey
      * takes Numbers for both); strings unwrap UTF8String.
      */
    private def ext(v: Any): Any = v match {
      case s: UTF8String => s.toString
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => other
    }

    private def tighten(bounds: scala.collection.mutable.Map[String, Bound],
        col: String, lo: Option[Any] = None, hi: Option[Any] = None,
        in: Option[Seq[Any]] = None, isNull: Boolean = false,
        notNull: Boolean = false): Unit = {
      // later conjuncts only ever NARROW: fill an unset end/list, keep the
      // existing one otherwise (comparing typed ends here would need the
      // stats type; one bound per end is enough for the common shapes)
      val b = bounds.getOrElse(col, Bound())
      bounds(col) = Bound(b.lo.orElse(lo), b.hi.orElse(hi), b.in.orElse(in),
        b.isNull || isNull, b.notNull || notNull)
    }

    private def collect(e: Expression,
        bounds: scala.collection.mutable.Map[String, Bound]): Unit = e match {
      case And(l, r) => collect(l, bounds); collect(r, bounds)
      case IsNull(a: Attribute) => tighten(bounds, a.name, isNull = true)
      case IsNotNull(a: Attribute) => tighten(bounds, a.name, notNull = true)
      case EqualTo(a: Attribute, Literal(v, _)) if v != null =>
        tighten(bounds, a.name, lo = Some(ext(v)), hi = Some(ext(v)))
      case EqualTo(Literal(v, _), a: Attribute) if v != null =>
        tighten(bounds, a.name, lo = Some(ext(v)), hi = Some(ext(v)))
      case GreaterThan(a: Attribute, Literal(v, _)) if v != null =>
        tighten(bounds, a.name, lo = Some(ext(v)))
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) if v != null =>
        tighten(bounds, a.name, lo = Some(ext(v)))
      case LessThan(a: Attribute, Literal(v, _)) if v != null =>
        tighten(bounds, a.name, hi = Some(ext(v)))
      case LessThanOrEqual(a: Attribute, Literal(v, _)) if v != null =>
        tighten(bounds, a.name, hi = Some(ext(v)))
      case GreaterThan(Literal(v, _), a: Attribute) if v != null =>
        tighten(bounds, a.name, hi = Some(ext(v)))
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) if v != null =>
        tighten(bounds, a.name, hi = Some(ext(v)))
      case LessThan(Literal(v, _), a: Attribute) if v != null =>
        tighten(bounds, a.name, lo = Some(ext(v)))
      case LessThanOrEqual(Literal(v, _), a: Attribute) if v != null =>
        tighten(bounds, a.name, lo = Some(ext(v)))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
        case Literal(v, _) => v != null
        case _ => false
      } =>
        // point-set pruning: keep a segment iff AT LEAST ONE value can sit
        // in its [min,max] — evaluated per segment in the stats key space
        tighten(bounds, a.name,
          in = Some(vs.collect { case Literal(v, _) => ext(v) }))
      // the optimizer rewrites an IN of more than
      // spark.sql.optimizer.inSetConversionThreshold literals into InSet:
      // the same point set, so the same rule
      case InSet(a: Attribute, hset) if hset.nonEmpty && !hset.contains(null) =>
        tighten(bounds, a.name, in = Some(hset.toSeq.map(ext)))
      case _ => () // no bound — the row-level filter still applies
    }
  }
}
