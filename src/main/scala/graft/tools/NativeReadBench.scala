package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.ManifestStore

/** Before/after for the round-12 native DSv2 read path: the same wide
  * manifest table read through (a) the NATIVE ParquetScanBuilder route
  * (columnar batches straight off the vectorized reader) and (b) the
  * `v1shim` option (the former V1Scan RDD[Row] route, which pays an
  * InternalRow→Row→InternalRow conversion per row at the shim boundary).
  * The query is a bulk aggregation over many columns — the shape where
  * per-row conversion cost dominates — plus a narrow 2-column projection
  * (where the shim's cost is smaller but the columnar batch path still
  * wins). Reports min-of-5 per route.
  *
  * Usage: `sbt "runMain graft.tools.NativeReadBench [out.json] [rows] [cols]"`.
  */
object NativeReadBench {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "artifacts/native_read_r12.json"
    val nRows = if (args.length > 1) args(1).toLong else 2000000L
    val nCols = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local()

    val path = java.nio.file.Files.createTempDirectory("graft-nrb-").toString + "/t"
    val wide = (1 to nCols).foldLeft(spark.range(nRows).toDF("k")) {
      (df, i) => df.withColumn(s"c$i", (col("k") * i % 9973).cast("double"))
    }
    ManifestStore.append(spark, wide, path, statsCols = Seq("k"))

    def reader(shim: Boolean): DataFrame = {
      val r = spark.read.format("graft-manifest").option("path", path)
      (if (shim) r.option("v1shim", "true") else r).load()
    }
    // bulk aggregate over every column: per-row shim conversion dominates
    def bulk(df: DataFrame): Unit =
      df.agg(sum(col("k")),
        (1 to nCols).map(i => sum(col(s"c$i"))): _*).collect()
    // narrow projection + selective-ish filter: the pruning/pushdown shape
    def narrow(df: DataFrame): Unit =
      df.where(col("k") % 17 === 0).agg(sum(col("c1"))).collect()

    def minOf5(body: => Unit): Double = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }.min

    bulk(reader(shim = false)); bulk(reader(shim = true)) // warm both
    val nativeBulk = minOf5(bulk(reader(shim = false)))
    val shimBulk = minOf5(bulk(reader(shim = true)))
    val nativeNarrow = minOf5(narrow(reader(shim = false)))
    val shimNarrow = minOf5(narrow(reader(shim = true)))

    val json =
      f"""{"rows": $nRows, "cols": ${nCols + 1},
         | "bulk_agg_native_ms": $nativeBulk%.1f, "bulk_agg_v1shim_ms": $shimBulk%.1f,
         | "bulk_speedup": ${shimBulk / nativeBulk}%.2f,
         | "narrow_native_ms": $nativeNarrow%.1f, "narrow_v1shim_ms": $shimNarrow%.1f,
         | "narrow_speedup": ${shimNarrow / nativeNarrow}%.2f}""".stripMargin
        .replace("\n", "")
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
