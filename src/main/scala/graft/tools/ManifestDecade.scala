package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{ManifestRead, ManifestStore}

/** Decade measurement for the MANIFEST's own driver-side coefficients —
  * the round-11 "is the flat manifest fine at 10⁴ segments?" question:
  * the manifest is one file, rewritten per commit and parsed per read,
  * O(segments) lines (this is why Iceberg has manifest lists), so the
  * numbers that decide whether it needs chunking are commit latency,
  * `current()` parse latency, and `readCatalyst` PLANNING latency as the
  * segment count climbs 100 → 1 000 → 10 000.
  *
  * Per segment count N the tool builds an N-slice clustered table (real
  * segments, real files, v5 file lists + stats), then measures:
  *  - `current_ms`: min-of-5 latest-snapshot resolution (list + parse),
  *  - `plan_ms`: min-of-5 Catalyst planning of a one-slice filter
  *    (FileIndex construction + pruning + file enumeration, NO data read),
  *  - `append_ms`: one small append (stage + parse + manifest rewrite),
  *  - `manifest_bytes`, `files_planned` (must track the slice, not N).
  *
  * Usage: `sbt "runMain graft.tools.ManifestDecade [out.json]"`.
  */
object ManifestDecade {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "artifacts/manifest_decade_r11.json"
    val spark = GraftSession.local()
    import spark.implicits._

    def minOf5(body: => Unit): Double = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }.min

    val rows = Seq(100, 1000, 10000).map { n =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-mdecade-$n-")
        .toString + "/t"
      // 100 rows per segment keeps data volume constant-ish per entry; the
      // MANIFEST term is what varies with n
      val totalRows = n * 100L
      ManifestStore.append(spark,
        spark.range(totalRows).select(col("id").as("k"),
          (col("id") % 97).as("v")), path)
      val t0 = System.nanoTime()
      ManifestStore.cluster(spark, path, axes = Seq("k"), segments = n,
        statsCols = Seq("k"))
      val buildSec = (System.nanoTime() - t0) / 1e9

      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val snap = ManifestStore.current(spark, path).get
      require(snap.entries.size == n, s"wanted $n segments, got ${snap.entries.size}")
      val manifestBytes = fs.getFileStatus(new org.apache.hadoop.fs.Path(
        path, f"_manifest/v${snap.version}%012d.manifest")).getLen

      val currentMs = minOf5 {
        require(ManifestStore.current(spark, path).get.entries.size == n)
      }
      // plan a one-slice interval: index construction + pruning + file
      // enumeration, no data read
      val sliceWidth = totalRows / n
      val (qLo, qHi) = (totalRows / 2, totalRows / 2 + sliceWidth / 2)
      var filesPlanned = 0
      val planMs = minOf5 {
        val q = ManifestRead.readCatalyst(spark, path)
          .where(col("k") >= qLo && col("k") <= qHi)
        val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get
        filesPlanned = scan.inputRDDs().head.partitions.map(
          _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
            .files.length).sum
      }
      // correctness of the planned slice
      val got = ManifestRead.readCatalyst(spark, path)
        .where(col("k") >= qLo && col("k") <= qHi).count()
      require(got == qHi - qLo + 1, s"slice read wrong: $got")

      val tA = System.nanoTime()
      ManifestStore.append(spark, Seq((totalRows + 1, 0L)).toDF("k", "v"), path)
      val appendMs = (System.nanoTime() - tA) / 1e6

      val line = f"""{"segments":$n,"manifest_bytes":$manifestBytes,""" +
        f""""build_sec":$buildSec%.1f,"current_ms":$currentMs%.1f,""" +
        f""""plan_ms":$planMs%.1f,"append_ms":$appendMs%.1f,""" +
        f""""files_planned":$filesPlanned}"""
      println(s"MANIFEST_DECADE $line")
      line
    }
    val json = rows.mkString("[", ",", "]")
    val p = java.nio.file.Paths.get(out)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    println(s"MANIFEST_DECADE_DONE -> $out")
    spark.stop()
  }
}
