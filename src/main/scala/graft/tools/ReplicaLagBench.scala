package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.ManifestStore

/** Measured replica lag for the change-feed lane (primary commits →
  * `pollChanges` → replica apply) — the read-side twin of
  * MergeStreamBench's write-side latency artifact: 100k events flow into
  * a primary manifest table as 8 monotone commit cycles (a fresh-key
  * upsert plus a 5% merge-on-read delete batch per cycle — the commit
  * shapes the manifest diff feed can stream as row events), and after
  * each cycle a cursor-tracked consumer polls the feed and MERGEs the
  * change frame into a replica table (`seqCol = _commit_version`, so the
  * insert-then-delete collision inside one poll applies in event order).
  *
  * Per cycle the artifact records `staleness_ms` — wall time from the
  * primary's commit completing to the replica having applied it — plus
  * the rows/versions consumed and the primary's size. The designed
  * property is FLAT staleness while the primary grows: the feed reads
  * only the segments/sidecars the polled range added, and the replica
  * merge's touched-set probe prunes on key stats, so neither side pays
  * O(table). At the end the replica must equal the primary exactly.
  *
  * Usage: `sbt "runMain graft.tools.ReplicaLagBench [out.json]"`.
  */
object ReplicaLagBench {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "artifacts/replica_lag_r11.json"
    val spark = GraftSession.local()
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft-replag-").toString
    val primary = base + "/primary"
    val replica = base + "/replica"
    val cursor = base + "/cursor"
    val cycles = 8
    val perCycle = 12500L
    val delFrac = 0.05

    val lines = (0 until cycles).map { i =>
      // writer side: a fresh key range upserts, then 5% of the PREVIOUS
      // range is erased merge-on-read — both are monotone commits the
      // manifest-diff feed can stream as row events
      val lo = i * perCycle
      val batch = spark.range(lo, lo + perCycle)
        .select(col("id").as("k"), concat(lit(s"v$i-"), col("id")).as("v"))
      ManifestStore.upsert(spark, batch, primary, "k", statsCols = Seq("k"))
      if (i > 0) {
        val prevLo = (i - 1) * perCycle
        val nDel = (perCycle * delFrac).toLong
        ManifestStore.deleteKeysMergeOnRead(spark, primary, "k",
          spark.range(prevLo, prevLo + nDel).select(col("id").as("k")))
      }
      val commitDoneNs = System.nanoTime()
      val primaryVersion = ManifestStore.current(spark, primary).get.version

      // consumer side: poll the feed, MERGE the change frame into the
      // replica in event order (_commit_version as the sequence column)
      var rowsApplied = 0L
      val consumed = ManifestStore.pollChanges(spark, primary, cursor) { frame =>
        val f = frame.cache()
        try {
          rowsApplied = f.count()
          ManifestStore.merge(spark, f, replica, "k",
            deleteWhen = Some(col("_change_type") === "delete"),
            insertWhen = Some(col("_change_type") =!= "delete"),
            seqCol = Some("_commit_version"),
            statsCols = Seq("k"))
          ()
        } finally { f.unpersist(); () }
      }
      val stalenessMs = (System.nanoTime() - commitDoneNs) / 1e6
      val primaryRows = ManifestStore.read(spark, primary).count()
      val line = f"""{"cycle":${i + 1},"versions_consumed":${consumed.size},""" +
        f""""rows_applied":$rowsApplied,"staleness_ms":$stalenessMs%.0f,""" +
        f""""primary_rows":$primaryRows,"primary_version":$primaryVersion}"""
      println(s"REPLICA_LAG $line")
      line
    }

    // the replica must equal the primary exactly (logical views, all MOR
    // deletes applied on the primary side, event-ordered merges on the
    // replica side)
    val p = ManifestStore.read(spark, primary).select("k", "v")
    val r = ManifestStore.read(spark, replica).select("k", "v")
    val (pc, rc) = (p.count(), r.count())
    val diff = p.except(r).count() + r.except(p).count()
    require(pc == rc && diff == 0,
      s"replica diverged: primary=$pc replica=$rc diff=$diff")
    println(s"REPLICA_LAG_VERIFIED rows=$pc diff=0")

    val json = lines.mkString("[", ",", "]")
    val path = java.nio.file.Paths.get(out)
    if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (json + "\n").getBytes("UTF-8"))
    println(s"REPLICA_LAG_DONE -> $out")
    spark.stop()
  }
}
