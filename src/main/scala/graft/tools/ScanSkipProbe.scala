package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{ManifestRead, ManifestStore}

/** Decade measurement for planner-level manifest skipping
  * ([[ManifestRead.readCatalyst]]): build a K-slice clustered manifest
  * table from the events fixture, run the SAME selective interval filter
  * through (a) the Catalyst-integrated manifest index and (b) a plain
  * whole-table read, and print wall time + the files the scan actually
  * opened (numFiles metric) + the filesystem METADATA calls each path
  * made on the data tree ([[CountingFs]] meter) — at object-store scale
  * the listStatus round-trips are the planning bottleneck the manifest's
  * recorded file lists exist to kill, so the probe reports them beside
  * bytes.
  * Usage: `sbt "runMain graft.tools.ScanSkipProbe <sfDir> [segments=32]"`.
  */
object ScanSkipProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val segments = if (args.length > 1) args(1).toInt else 32
    val spark = GraftSession.local()
    CountingFs.install(spark)

    val ev = graft.analytics.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .where(col("event_id").isNotNull)
    val path = "countfs:" + java.nio.file.Files
      .createTempDirectory("graft-skipprobe-").toString + "/t"
    ManifestStore.append(spark, ev, path)
    ManifestStore.cluster(spark, path, axes = Seq("event_id"),
      segments = segments, statsCols = Seq("event_id"))
    val r = ev.agg(min("event_id"), max("event_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val width = (hi - lo) / segments + 1
    // an interval inside ONE slice's key range
    val (qLo, qHi) = (lo + width / 4, lo + width / 2)

    // (rows, wall sec, files planned, data-tree listStatus, data-tree getFileStatus)
    def timedCount(mk: => org.apache.spark.sql.DataFrame): (Long, Double, Long, Int, Int) = {
      CountingFs.start()
      val t0 = System.nanoTime()
      val q = mk.where(col("event_id").between(qLo, qHi))
      q.collect() // execute THIS plan so its scan partitions materialize
      val sec = (System.nanoTime() - t0) / 1e9
      val calls = CountingFs.stop()
      val files = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.inputRDDs().head.partitions.map(
            _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
              .files.length.toLong).sum
      }.getOrElse(-1L)
      val segCalls = calls.filter(_._2.contains("/seg-"))
      (q.count(), sec, files,
        segCalls.count(_._1 == "listStatus"), segCalls.count(_._1 == "getFileStatus"))
    }
    val (nCat, tCat, fCat, lsCat, gsCat) = timedCount(ManifestRead.readCatalyst(spark, path))
    val (nAll, tAll, fAll, lsAll, gsAll) = timedCount(ManifestStore.read(spark, path))
    require(nCat == nAll, s"pruned read must match full read: $nCat vs $nAll")
    println(f"SCANSKIP sf=$dir segments=$segments rows=$nCat%d " +
      f"catalystSec=$tCat%.2f catalystFiles=$fCat%d catalystListStatus=$lsCat%d catalystGetFileStatus=$gsCat%d " +
      f"fullSec=$tAll%.2f fullFiles=$fAll%d fullListStatus=$lsAll%d fullGetFileStatus=$gsAll%d")
    spark.stop()
  }
}
