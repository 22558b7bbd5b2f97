package graft

import org.apache.spark.sql.functions._

import graft.ops.ManifestStore
import graft.tools.CountingFs

/** Round-11 "manifest at scale" pins: (1) planning a v5 table makes ZERO
  * filesystem metadata calls on the data tree — file lists, row/null
  * counts AND the table schema are stamped into the manifest at commit
  * time, so the planner's cost at 10⁵ segments is in-memory work, not
  * object-store round-trips (the execution layer then touches only the
  * files it actually opens); (2) the per-column null counts prune
  * `IS NULL` / `IS NOT NULL` probes from the manifest alone.
  */
class ManifestZeroListingSpec extends SparkSpec {
  import spark.implicits._

  /** Files the executed plan's scan actually enumerated — read from the
    * FileScanRDD's partitions, not the driver-posted numFiles metric
    * (which lands on the listener bus asynchronously).
    */
  private def filesPlanned(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    scan.inputRDDs().head.partitions.map(
      _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
        .files.length).sum
  }

  test("readCatalyst planning on a v5 table: zero listStatus anywhere, metadata calls only on opened files") {
    CountingFs.install(spark)
    val path = "countfs:" + tmpDir("zeroList") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (5L, "b")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((10L, "c"), (15L, "d")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((20L, "e"), (25L, "f")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    // which segment holds the [10,15] keys (for the pruned-segments check)
    val keptSeg = ManifestStore.current(spark, path).get.entries
      .find(e => e.stats("k").min.contains("10")).get.name

    CountingFs.start()
    val q = ManifestStore.read(spark, path)
      .where(col("k") >= 10L && col("k") <= 15L)
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    val calls = CountingFs.stop()
    assert(got == Seq(10L, 15L), "pruned read must stay correct")
    // NO listing of any segment directory, ever — planning runs entirely
    // from the manifest's recorded file lists + schema
    val segLists = calls.filter(c => c._1 == "listStatus" && c._2.contains("/seg-"))
    assert(segLists.isEmpty,
      s"v5 planning must never list a segment directory, saw: ${segLists.take(5)}")
    // the only data-tree metadata calls are the parquet reader OPENING the
    // kept segment's files — pruned segments are never touched at all
    val dataCalls = calls.filter(_._2.contains("/seg-"))
    assert(dataCalls.forall(_._2.contains(keptSeg)),
      s"pruned segments must see zero metadata calls: " +
        dataCalls.filterNot(_._2.contains(keptSeg)).take(5).mkString(", "))

    // index construction + size estimation don't list either
    CountingFs.start()
    ManifestStore.read(spark, path).queryExecution.logical.stats
    val calls2 = CountingFs.stop()
    assert(!calls2.exists(c => c._1 == "listStatus" && c._2.contains("/seg-")),
      "index construction/sizeInBytes must not list segments")
  }

  test("IS NULL prunes on nulls=0 segments; IS NOT NULL prunes all-NULL segments (manifest alone)") {
    val path = tmpDir("nullPrune") + "/t"
    // one file per segment so planned-file counts count segments
    ManifestStore.append(spark,
      Seq((1L, Some(10L)), (2L, Some(20L))).toDF("k", "x").coalesce(1),
      path, statsCols = Seq("k", "x")) // x: no nulls
    ManifestStore.append(spark,
      Seq((3L, None: Option[Long]), (4L, None: Option[Long])).toDF("k", "x").coalesce(1),
      path, statsCols = Seq("k", "x")) // x: ALL null
    ManifestStore.append(spark,
      Seq((5L, Some(50L)), (6L, None: Option[Long])).toDF("k", "x").coalesce(1),
      path, statsCols = Seq("k", "x")) // x: mixed
    assert(filesPlanned(ManifestStore.read(spark, path)) == 3,
      "fixture wants one file per segment")

    val isNullQ = ManifestStore.read(spark, path).where(col("x").isNull)
    assert(isNullQ.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 6L))
    assert(filesPlanned(isNullQ) == 2,
      s"IS NULL must skip the nulls=0 segment: ${filesPlanned(isNullQ)} of 3")

    val notNullQ = ManifestStore.read(spark, path).where(col("x").isNotNull)
    assert(notNullQ.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L))
    assert(filesPlanned(notNullQ) == 2,
      s"IS NOT NULL must skip the all-NULL segment: ${filesPlanned(notNullQ)} of 3")

    // combined with an interval: x IS NOT NULL AND x >= 50 keeps only the
    // mixed segment (the no-null segment's [10,20] misses the bound)
    val comboQ = ManifestStore.read(spark, path)
      .where(col("x").isNotNull && col("x") >= 50L)
    assert(comboQ.collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(filesPlanned(comboQ) == 1,
      s"combined null+interval pruning: ${filesPlanned(comboQ)} of 3")

    // describe surfaces the new stats
    val d = ManifestStore.describe(spark, path)
    assert(d.columns.contains("null_counts"))
    val rowsBySeg = d.collect().map(r =>
      (r.getAs[Long]("rows"), r.getAs[String]("null_counts"))).toSeq
    assert(rowsBySeg.map(_._1).sorted == Seq(2L, 2L, 2L))
    assert(rowsBySeg.map(_._2).sorted == Seq("k=0,x=0", "k=0,x=1", "k=0,x=2"))
  }

  /** Data files the executed plan enumerated across ALL file scans,
    * counting only table segments (the MOR sidecar's own tiny scan is
    * excluded by path). Unwraps AQE nodes — the anti-join makes the plan
    * adaptive, which hides the scans from a plain collect.
    */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allScans(s.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  private def segFilesPlanned(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    allScans(df.queryExecution.executedPlan).map { f =>
      f.inputRDDs().head.partitions.map(
        _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
          .files.count(_.urlEncodedPath.contains("/seg-"))).sum
    }.sum
  }

  test("readCatalyst with outstanding MOR deletes: sequence rule applied AND segment pruning kept") {
    val path = tmpDir("morCat") + "/t"
    // three single-file segments with disjoint key ranges
    ManifestStore.append(spark, Seq((1L, "a"), (5L, "b")).toDF("k", "v").coalesce(1),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((10L, "c"), (15L, "d")).toDF("k", "v").coalesce(1),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((20L, "e"), (25L, "f")).toDF("k", "v").coalesce(1),
      path, statsCols = Seq("k"))
    ManifestStore.deleteKeysMergeOnRead(spark, path, "k", Seq(5L, 20L).toDF("k"))
    // a re-insert AFTER the delete must stay visible (seq rule)
    ManifestStore.upsert(spark, Seq((5L, "B2")).toDF("k", "v"), path, "k",
      statsCols = Seq("k"))

    // the planner-integrated read applies the sequence rule exactly
    val cat = ManifestStore.read(spark, path)
    val catRows = cat.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(catRows == Map(1L -> "a", 10L -> "c", 15L -> "d", 25L -> "f", 5L -> "B2"))

    // ordinary where() still prunes segments UNDER the anti-joins: the
    // [10,15] probe must not open the other three segments' files
    val q = ManifestStore.read(spark, path)
      .where(col("k") >= 10L && col("k") <= 15L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 15L))
    val planned = segFilesPlanned(q)
    assert(planned == 1,
      s"MOR-outstanding read must still prune segments: planned $planned of 4")
  }

  test("readCatalyst on a merge-emptied table with outstanding MOR deletes returns empty, not a crash") {
    val path = tmpDir("morEmpty") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    ManifestStore.deleteKeysMergeOnRead(spark, path, "k", Seq(1L).toDF("k"))
    // delete the only remaining visible key via merge: every segment is
    // touched, the rewritten segment is EMPTY, the sidecar stays published
    ManifestStore.merge(spark, Seq((2L, "D")).toDF("k", "v"), path, "k",
      deleteWhen = Some(col("v") === "D"),
      insertWhen = Some(col("v") =!= "D"))
    val snap = ManifestStore.current(spark, path).get
    assert(snap.entries.isEmpty && snap.deletes.nonEmpty,
      s"fixture wants an emptied table with a live sidecar: $snap")
    assert(ManifestStore.read(spark, path).count() == 0L)
  }
}
