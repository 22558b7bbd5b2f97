package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming CDC-merge END-TO-END latency — the numbers companion to the
  * spec-pinned [[graft.streaming.Incremental.streamingMerge]]: replay the
  * events table as ascending-key CDC files (a small fraction flagged as
  * deletes), merge each micro-batch through the manifest store's
  * copy-on-write commit, and record per-batch trigger latency from
  * StreamingQueryProgress.
  *
  * The interesting curve is latency vs TABLE SIZE: each batch's keys are a
  * fresh ascending range, so the manifest's key stats prune every probe to
  * O(1) candidate segments no matter how many segments have accumulated —
  * per-batch time should stay flat while the table grows by one segment
  * per batch. A ramp here means the touched-set probe or the commit path
  * regressed to O(table).
  * Usage: `sbt "runMain graft.tools.MergeStreamBench [sfDir] [outJson]"`.
  */
object MergeStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "artifacts/stream_merge_latency.json"
    val spark = GraftSession.local()

    val tmp = java.nio.file.Files.createTempDirectory("mergestreambench").toString
    val cdcDir = s"$tmp/cdc"
    val table = s"$tmp/table"
    val ckpt = s"$tmp/ckpt"
    // ascending event_id ranges, 128 files / 16-file triggers = 8 batches;
    // ~5% delete events against keys of the PREVIOUS range
    val ev = graft.analytics.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id").cast("string").as("v"))
      .where(col("event_id").isNotNull)
      .withColumn("op", when(pmod(col("event_id"), lit(20L)) === 0L, lit("d"))
        .otherwise(lit("u")))
    val n = ev.count()
    // 128 ascending-range files by plain key arithmetic (no global window)
    val mm = ev.agg(min("event_id"), max("event_id")).head()
    val width = (mm.getLong(1) - mm.getLong(0)) / 128 + 1
    ev.withColumn("part", ((col("event_id") - lit(mm.getLong(0))) / lit(width))
        .cast("int"))
      .repartitionByRange(128, col("part"))
      .sortWithinPartitions("event_id")
      .drop("part")
      .write.json(cdcDir)

    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) batches.synchronized {
          batches += ((p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000.0))
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("v", StringType), StructField("op", StringType)))
    val t0 = System.nanoTime()
    val q = graft.streaming.Incremental.streamingMerge(spark, cdcDir, schema,
      table, "event_id", deleteWhen = col("op") === "d", checkpoint = ckpt,
      statsCols = Seq("event_id"))
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000)

    val durs = batches.synchronized(batches.toVector).sortBy(_._1)
    val sorted = durs.map(_._3).sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1))
    val snap = graft.ops.ManifestStore.current(spark, table).get
    val rows = graft.ops.ManifestStore.read(spark, table).count()
    val perBatch = durs.map { case (id, r, sec) =>
      s"""{"batch":$id,"rows":$r,"sec":$sec}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"metric":"stream_merge_latency","sf_dir":"$sfDir","cdc_rows":$n,""" +
        s""""table_rows":$rows,"segments":${snap.entries.size},""" +
        s""""batches":${durs.size},"wall_sec":$wall,""" +
        s""""batch_p50_sec":${pct(0.5)},"batch_p95_sec":${pct(0.95)},""" +
        s""""batch_max_sec":${sorted.lastOption.getOrElse(0.0)},""" +
        s""""rows_per_sec":${if (wall > 0) n / wall else 0.0},""" +
        s""""per_batch":$perBatch}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
