package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.ManifestStore

/** Decade measurement for [[ManifestStore.merge]]'s copy-on-write claim:
  * build a K-segment manifest table from the events fixture at a given SF,
  * run (a) a merge whose source touches roughly ONE segment's key range and
  * (b) a full [[ManifestStore.compact]] rewrite, and print both wall times
  * plus the segments-rewritten counts. Run at two SFs: the COW merge's cost
  * should track the (constant) touched slice while the full rewrite tracks
  * the table — the at-scale difference between "a CDC batch costs its own
  * size" and "every upsert rewrites the world".
  * Usage: `sbt "runMain graft.tools.MergeDecade <sfDir> [segments=16]"`.
  */
object MergeDecade {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val segments = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.local()

    val ev = graft.analytics.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .where(col("event_id").isNotNull)
    val total = ev.count()
    val path = java.nio.file.Files.createTempDirectory("graft-mergedecade-")
      .toString + "/t"
    // K range-disjoint segments over event_id, key stats recorded — the
    // layout a clustered 100 TB table would have
    val ids = ev.agg(min("event_id"), max("event_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val width = (hi - lo) / segments + 1
    (0 until segments).foreach { k =>
      ManifestStore.append(spark,
        ev.where(col("event_id").between(lo + k * width, lo + (k + 1) * width - 1)),
        path, statsCols = Seq("event_id"))
    }
    // source: updates confined to ~one segment's range + a few inserts
    val src = ev.where(col("event_id").between(lo, lo + width / 2))
      .withColumn("event_type", lit("touched"))
      .unionByName(ev.limit(0)) // keep schema
    val nSrc = src.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // bytes the op physically wrote = size of the segments its commit added
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segBytes(names: Seq[String]): Long = names.map(n =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(path, n)).getLength).sum
    def newSegs(before: Set[String]): Seq[String] =
      ManifestStore.current(spark, path).get.segments.filterNot(before)

    val pre = ManifestStore.current(spark, path).get.segments.toSet
    val (rep, tMerge) = timed(ManifestStore.merge(spark, src, path, "event_id",
      statsCols = Seq("event_id")))
    val mergeBytes = segBytes(newSegs(pre))
    // deletion-path decade: MOR (sidecar + one commit) vs COW (rewrite)
    val delKeys = ev.where(col("event_id").between(lo + width, lo + width + width / 8))
      .select("event_id")
    val nDel = delKeys.count()
    val preM = ManifestStore.current(spark, path).get.segments.toSet
    val (morSnap, tMor) = timed(
      ManifestStore.deleteKeysMergeOnRead(spark, path, "event_id", delKeys))
    val morBytes = segBytes(morSnap.deletes.map(_.name)) + segBytes(newSegs(preM))
    val preC = ManifestStore.current(spark, path).get.segments.toSet
    val (_, tCompact) = timed(ManifestStore.compact(spark, path, segments,
      statsCols = Seq("event_id")))
    val compactBytes = segBytes(newSegs(preC))
    println(f"MERGEDECADE sf=$dir rows=$total%d srcRows=$nSrc%d " +
      f"segRewritten=${rep.segmentsRewritten}%d/${rep.segmentsTotal}%d " +
      f"updated=${rep.updated}%d inserted=${rep.inserted}%d " +
      f"mergeSec=$tMerge%.2f mergeMB=${mergeBytes / 1e6}%.1f " +
      f"morDelKeys=$nDel%d morDelSec=$tMor%.2f morDelMB=${morBytes / 1e6}%.2f " +
      f"fullRewriteSec=$tCompact%.2f fullRewriteMB=${compactBytes / 1e6}%.1f")
    spark.stop()
  }
}
