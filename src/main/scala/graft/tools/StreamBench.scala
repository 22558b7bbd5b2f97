package graft.tools

import graft.GraftSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming near-dup END-TO-END latency/throughput measurement — the
  * numbers companion to the spec-pinned correctness of
  * [[graft.streaming.Incremental.streamingDedup]]: replay the documents
  * table as a file stream (fixed files-per-trigger, so micro-batch size is
  * controlled), run the real dedup store ingest per micro-batch, and record
  * per-batch trigger latency from Spark's own StreamingQueryProgress.
  *
  * The interesting curve is latency vs STORE SIZE: each batch probes the
  * signatures of everything accepted so far, so per-batch time should stay
  * flat-ish (probe cost is bounded by band collisions + candidate postings,
  * not store size) — a superlinear ramp here would mean the store's
  * file-listing or probe discipline regressed. The artifact records every
  * batch's latency so the ramp is visible, plus p50/p95/max and docs/s.
  *
  * Usage: `sbt "runMain graft.tools.StreamBench [sfDir] [outJson]"`.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "artifacts/stream_latency.json"
    val spark = GraftSession.local()

    val tmp = java.nio.file.Files.createTempDirectory("streambench").toString
    val docsDir = s"$tmp/docs"
    val store = s"$tmp/store"
    val ckpt = s"$tmp/ckpt"
    // 8 JSON files per micro-batch (maxFilesPerTrigger=16 in streamingDedup
    // would fold everything into few batches at this corpus size; 128 files
    // over 16-file triggers = 8 batches, enough points to see a ramp)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val nDocs = docs.count()
    docs.repartition(128).write.json(docsDir)

    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) batches.synchronized {
          batches += ((p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000.0))
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val t0 = System.nanoTime()
    val q = graft.streaming.Incremental.streamingDedup(spark, docsDir, store, ckpt)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    // drain the async listener bus before reading the buffer
    Thread.sleep(2000)

    val durs = batches.synchronized(batches.toVector).sortBy(_._1)
    val sorted = durs.map(_._3).sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1))
    val accepted = spark.read.parquet(s"$store/bands")
      .select("doc_id").distinct().count()
    val perBatch = durs.map { case (id, rows, sec) =>
      s"""{"batch":$id,"rows":$rows,"sec":$sec}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"metric":"stream_dedup_latency","sf_dir":"$sfDir","docs":$nDocs,""" +
        s""""accepted":$accepted,"batches":${durs.size},"wall_sec":$wall,""" +
        s""""batch_p50_sec":${pct(0.5)},"batch_p95_sec":${pct(0.95)},""" +
        s""""batch_max_sec":${sorted.lastOption.getOrElse(0.0)},""" +
        s""""docs_per_sec":${if (wall > 0) nDocs / wall else 0.0},""" +
        s""""per_batch":$perBatch}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
