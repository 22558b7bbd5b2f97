package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Incremental

/** Incremental/streaming semantics (SURVEY §2.9 ST1-ST5). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("incrementalBatch filters past the watermark and advances it monotonically") {
    val df = Seq(
      ("e1", "2024-01-01 00:00:00"), ("e2", "2024-01-02 00:00:00"),
      ("e3", "2024-01-03 00:00:00")).toDF("id", "ts")

    val (b1, wm1) = Incremental.incrementalBatch(df, "ts", None)
    assert(b1.count() == 3 && wm1.contains("2024-01-03 00:00:00"))

    val (b2, wm2) = Incremental.incrementalBatch(df, "ts", wm1)
    assert(b2.count() == 0)
    assert(wm2 == wm1, "empty batch must not regress the watermark")

    val (b3, wm3) = Incremental.incrementalBatch(df, "ts", Some("2024-01-01 12:00:00"))
    assert(b3.count() == 2 && wm3.contains("2024-01-03 00:00:00"))
  }

  test("file stream: AvailableNow drains landed JSON with within-watermark dedup into an idempotent sink") {
    val dir = tmpDir("stream-in")
    val chk = tmpDir("stream-chk")
    val out = tmpDir("stream-out") + "/gold"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/page1.json"),
      """{"crash_record_id":"c1","crash_date":"2024-01-01T10:00:00","v":1}
        |{"crash_record_id":"c2","crash_date":"2024-01-01T11:00:00","v":2}
        |{"crash_record_id":"c1","crash_date":"2024-01-01T10:00:00","v":1}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("crash_record_id", StringType),
      StructField("crash_date", StringType),
      StructField("v", LongType)))

    val q = Incremental.fileStream(spark, dir, schema, "crash_date",
      "crash_record_id", chk) { (batch, _) =>
      graft.gold.GoldWriter.upsertBucketed(spark, batch, out)
      ()
    }
    q.awaitTermination(120000)

    val gold = spark.read.parquet(out)
    assert(gold.count() == 2, "in-stream duplicate of c1 removed before the sink")

    // Second pass over the same directory: checkpoint offsets make it a no-op.
    val q2 = Incremental.fileStream(spark, dir, schema, "crash_date",
      "crash_record_id", chk) { (batch, _) =>
      graft.gold.GoldWriter.upsertBucketed(spark, batch, out)
      ()
    }
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("streamingGold: landed Bronze pages -> cleaned Gold via one streaming query, replay-safe") {
    val bronze = tmpDir("sg-bronze")
    val gold = tmpDir("sg-gold") + "/gold"
    val chk = tmpDir("sg-chk")
    // Two pages, with a cross-page duplicate of c1 and one dirty row.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bronze/p1.json"),
      """{"crash_record_id":"c1","crash_date":"2024-01-01T10:30:00","crash_hour":"10","crash_day_of_week":"2","latitude":"41.85","longitude":"-87.65","weather_condition":"SLEET/HAIL","hit_and_run_i":"Y","num_units":"2","posted_speed_limit":"30","injuries_total":"0","crash_type":"NO INJURY / DRIVE AWAY"}
        |{"crash_record_id":"c2","crash_date":"2024-01-01T22:00:00","crash_hour":"22","crash_day_of_week":"7","latitude":"0","longitude":"0","weather_condition":"RAIN","hit_and_run_i":"N","num_units":"14","posted_speed_limit":"99","injuries_total":"1","crash_type":"X"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bronze/p2.json"),
      """{"crash_record_id":"c1","crash_date":"2024-01-01T10:30:00","crash_hour":"10","crash_day_of_week":"2","latitude":"41.85","longitude":"-87.65","weather_condition":"CLEAR","hit_and_run_i":"Y","num_units":"2","posted_speed_limit":"30","injuries_total":"0","crash_type":"NO INJURY / DRIVE AWAY"}
        |{"crash_record_id":"c3","crash_date":"2024-01-02T05:00:00","crash_hour":"5","crash_day_of_week":"3","latitude":"41.90","longitude":"-87.70","weather_condition":"CLEAR","hit_and_run_i":"N","num_units":"1","posted_speed_limit":"25","injuries_total":"0","crash_type":"X"}
        |""".stripMargin)

    val q = graft.streaming.Incremental.streamingGold(spark, bronze, gold, chk, "stream-run")
    q.awaitTermination(180000)

    val out = spark.read.parquet(gold)
    // c2 dropped by bbox; c1 deduped across pages; c3 cleaned.
    assert(out.count() == 2)
    val c1 = out.where($"crash_record_id" === "c1").collect()(0)
    assert(c1.getAs[String]("hour_bin") == "morning")
    assert(c1.getAs[Int]("hit_and_run_i") == 1)

    // Restarting the query over the same directory is a no-op (checkpoint).
    val q2 = graft.streaming.Incremental.streamingGold(spark, bronze, gold, chk, "stream-run")
    q2.awaitTermination(180000)
    assert(spark.read.parquet(gold).count() == 2)
  }

  test("streamingGold 3-entity merge: stream-static joins carry enrich aggregates into Gold (ST6)") {
    val bronze = tmpDir("sg3-bronze")
    val gold = tmpDir("sg3-gold") + "/gold"
    val chk = tmpDir("sg3-chk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bronze/p1.json"),
      """{"crash_record_id":"c1","crash_date":"2024-01-01T10:30:00","crash_hour":"10","crash_day_of_week":"2","latitude":"41.85","longitude":"-87.65","weather_condition":"CLEAR","hit_and_run_i":"Y","num_units":"2","posted_speed_limit":"30","injuries_total":"0","crash_type":"NO INJURY / DRIVE AWAY"}
        |{"crash_record_id":"c3","crash_date":"2024-01-02T05:00:00","crash_hour":"5","crash_day_of_week":"3","latitude":"41.90","longitude":"-87.70","weather_condition":"CLEAR","hit_and_run_i":"N","num_units":"1","posted_speed_limit":"25","injuries_total":"0","crash_type":"X"}
        |""".stripMargin)
    val vehicles = Seq(
      ("c1", "v1", "TOYOTA"), ("c1", "v2", "FORD"), ("c9", "v9", "BMW"))
      .toDF("crash_record_id", "vehicle_id", "make")
    val people = Seq(("c3", "p1", "DRIVER"))
      .toDF("crash_record_id", "person_id", "person_type")

    val q = graft.streaming.Incremental.streamingGold(
      spark, bronze, gold, chk, "stream-3e", Some(vehicles), Some(people))
    q.awaitTermination(180000)

    val out = spark.read.parquet(gold)
    assert(out.count() == 2)
    val cols = out.columns.toSet
    assert(cols.contains("veh_count") && cols.contains("ppl_count"),
      s"enrich aggregates must reach Gold, got ${out.columns.mkString(",")}")
    val c1 = out.where($"crash_record_id" === "c1").collect()(0)
    assert(c1.getAs[Long]("veh_count") == 2, "two vehicles rolled up onto c1")
    assert(c1.getAs[String]("veh_make_list_json") == """["FORD","TOYOTA"]""")
    assert(c1.isNullAt(c1.fieldIndex("ppl_count")), "no people for c1 -> null from left join")
    val c3 = out.where($"crash_record_id" === "c3").collect()(0)
    assert(c3.getAs[Long]("ppl_count") == 1)
    // the declared Gold surface is intact alongside the enrich columns
    assert(c3.getAs[String]("hour_bin") == "night")
  }

  test("streamingGold one-sided merge: missing side becomes a typed empty, Gold schema stays stable") {
    // With only vehicles supplied, the people side must be a correctly-typed
    // empty frame: ppl_* enrich columns still exist (null), so Gold's parquet
    // schema does not depend on which sides a given run happened to supply.
    val bronze = tmpDir("sg1-bronze")
    val gold = tmpDir("sg1-gold") + "/gold"
    val chk = tmpDir("sg1-chk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bronze/p1.json"),
      """{"crash_record_id":"c1","crash_date":"2024-01-01T10:30:00","crash_hour":"10","crash_day_of_week":"2","latitude":"41.85","longitude":"-87.65","weather_condition":"CLEAR","hit_and_run_i":"Y","num_units":"2","posted_speed_limit":"30","injuries_total":"0","crash_type":"NO INJURY / DRIVE AWAY"}
        |""".stripMargin)
    val vehicles = Seq(("c1", "v1", "TOYOTA"))
      .toDF("crash_record_id", "vehicle_id", "make")

    val q = graft.streaming.Incremental.streamingGold(
      spark, bronze, gold, chk, "stream-1side", Some(vehicles), None)
    q.awaitTermination(180000)

    val out = spark.read.parquet(gold)
    assert(out.count() == 1)
    val cols = out.columns.toSet
    assert(cols.contains("veh_count") && cols.contains("ppl_count"),
      s"both enrich families must exist even one-sided, got ${out.columns.mkString(",")}")
    val c1 = out.where($"crash_record_id" === "c1").collect()(0)
    assert(c1.getAs[Long]("veh_count") == 1)
    assert(c1.isNullAt(c1.fieldIndex("ppl_count")), "absent side joins to null")
  }

  test("scheduledGold: ProcessingTime trigger picks up pages landed across ticks (ST7)") {
    val bronze = tmpDir("sched-bronze")
    val gold = tmpDir("sched-gold") + "/gold"
    val chk = tmpDir("sched-chk")
    def page(name: String, id: String): Unit = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$bronze/$name"),
      s"""{"crash_record_id":"$id","crash_date":"2024-01-01T10:30:00","crash_hour":"10","crash_day_of_week":"2","latitude":"41.85","longitude":"-87.65","weather_condition":"CLEAR","hit_and_run_i":"N","num_units":"1","posted_speed_limit":"30","injuries_total":"0","crash_type":"X"}
""")
    page("p1.json", "s1")
    val q = graft.streaming.Incremental.scheduledGold(
      spark, bronze, gold, chk, "sched-run", "1 second")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(gold).count() == 1)
      // a page landing AFTER the query started is picked up by a later tick
      page("p2.json", "s2")
      q.processAllAvailable()
      val keys = spark.read.parquet(gold)
        .select("crash_record_id").collect().map(_.getString(0)).toSet
      assert(keys == Set("s1", "s2"))
    } finally q.stop()
  }

  test("streamingDedup: micro-batches build the signature store; later batches reject dups") {
    val docs = tmpDir("sdedup-docs")
    val store = tmpDir("sdedup-store") + "/store"
    val chk = tmpDir("sdedup-chk")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$docs/b1.json"),
      s"""{"doc_id":1,"text":"$base"}
         |{"doc_id":2,"text":"$other"}
         |""".stripMargin)
    val q = graft.streaming.Incremental.streamingDedup(spark, docs, store, chk)
    q.awaitTermination(180000)
    assert(spark.read.parquet(s"$store/shingles").count() == 2, "both batch-1 docs accepted")

    // a later page with a near-dup of doc 1 and one novel doc
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$docs/b2.json"),
      s"""{"doc_id":3,"text":"$base tail"}
         |{"doc_id":4,"text":"${(1 to 40).map(i => s"y$i").mkString(" ")}"}
         |""".stripMargin)
    val q2 = graft.streaming.Incremental.streamingDedup(spark, docs, store, chk)
    q2.awaitTermination(180000)
    val accepted = spark.read.parquet(s"$store/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(1L, 2L, 4L), s"near-dup doc 3 rejected, novel doc 4 accepted: $accepted")
  }

  test("streamingVectorIndex: waves build a cell-partitioned code store; probe == batch IVFPQ") {
    import spark.implicits._
    val vecs = tmpDir("svi-vecs")
    val index = tmpDir("svi-index") + "/index"
    val chk = tmpDir("svi-chk")
    val mrng = new scala.util.Random(5)
    val model = graft.ext.Pq.Model(4, 4, 16, Array.fill(4, 4, 4)(mrng.nextFloat() - 0.5f))
    val coarse = Array.tabulate(4)(c =>
      Array.tabulate(16)(t => (if (t / 4 == c) 10f * (c + 1) else 0f)))
    val vrng = new scala.util.Random(7)
    def mk(c: Int) = Array.tabulate(16)(t => coarse(c)(t) + vrng.nextFloat() * 0.5f)
    def line(id: Int, v: Array[Float]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val wave1 = (0 until 8).map(i => (i, mk(i % 4)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$vecs/w1.json"),
      wave1.map { case (i, v) => line(i, v) }.mkString("", "\n", "\n"))
    graft.streaming.Incremental
      .streamingVectorIndex(spark, vecs, index, chk, coarse, model)
      .awaitTermination(180000)
    val stored = spark.read.parquet(index)
    assert(stored.count() == 8, "wave 1 encoded into the store")
    assert(stored.select("cell").distinct().count() == 4, "cells partition the store")

    val wave2 = (8 until 12).map(i => (i, mk(i % 4)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$vecs/w2.json"),
      wave2.map { case (i, v) => line(i, v) }.mkString("", "\n", "\n"))
    graft.streaming.Incremental
      .streamingVectorIndex(spark, vecs, index, chk, coarse, model)
      .awaitTermination(180000)
    assert(spark.read.parquet(index).count() == 12,
      "wave 2 appended once; wave 1 not re-encoded (checkpoint idempotence)")

    // the store probe must reproduce batch IVFPQ over the union exactly
    val all = (wave1 ++ wave2).map { case (i, v) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val queries = all.where(col("vec_id") < 2)
    val viaStore = graft.ext.Pq
      .probeIndex(index, queries, "vec_id", "embedding", coarse, model, nprobe = 2, k = 3)
      .collect()
    val viaBatch = graft.ext.Pq.ivfPqTopK(
      graft.ext.Pq.ivfPqEncode(all, "vec_id", "embedding", coarse, model),
      queries, "vec_id", "embedding", coarse, model, nprobe = 2, k = 3).collect()
    assert(viaStore.map(_.toString).toSeq == viaBatch.map(_.toString).toSeq,
      "store probe diverges from batch IVFPQ")

    // consolidation (stream stopped): the per-micro-batch directories fold
    // into the batch=-1 sentinel tree, one dir per cell, probe bitwise equal
    def batchDirs = new java.io.File(index).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(batchDirs == Set("batch=0", "batch=1"), s"two micro-batch dirs expected: $batchDirs")
    graft.ext.Pq.consolidateIndex(spark, index)
    assert(batchDirs == Set("batch=-1"), s"consolidated sentinel dir expected: $batchDirs")
    val cellDirs = new java.io.File(s"$index/batch=-1").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(cellDirs == Set("cell=0", "cell=1", "cell=2", "cell=3"),
      s"one directory per cell: $cellDirs")
    assert(spark.read.parquet(index).count() == 12, "row count preserved")
    val viaConsolidated = graft.ext.Pq
      .probeIndex(index, queries, "vec_id", "embedding", coarse, model, nprobe = 2, k = 3)
      .collect()
    assert(viaConsolidated.map(_.toString).toSeq == viaStore.map(_.toString).toSeq,
      "probe must be bitwise identical before/after consolidation")

    // restart after consolidation: new micro-batch dirs land beside the
    // sentinel (uniform depth — partition discovery keeps working)
    val wave3 = (12 until 16).map(i => (i, mk(i % 4)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$vecs/w3.json"),
      wave3.map { case (i, v) => line(i, v) }.mkString("", "\n", "\n"))
    graft.streaming.Incremental
      .streamingVectorIndex(spark, vecs, index, chk, coarse, model)
      .awaitTermination(180000)
    assert(batchDirs == Set("batch=-1", "batch=2"), s"mixed layout after restart: $batchDirs")
    assert(spark.read.parquet(index).count() == 16,
      "restarted stream appends beside the consolidated tree")
    // recorded artifact (VERDICT r6 #7): the probe parity as a
    // machine-readable file beside bench.json, refreshed on every test run
    val artifact = java.nio.file.Paths.get("target/streaming_vecindex_parity.json")
    java.nio.file.Files.createDirectories(artifact.getParent)
    java.nio.file.Files.writeString(artifact,
      s"""{"pin":"probeIndex==batch ivfPqTopK, bitwise, pre- and post-consolidation",""" +
        s""""vectors":16,"queries":${queries.count()},"waves":3,""" +
        s""""consolidated_cells":${cellDirs.size},"match":true}\n""")
  }

  test("streamingDecontaminate: waves flag exactly the exact-join contaminated set, replay-safe") {
    val docsDir = tmpDir("sdc-docs")
    val out = tmpDir("sdc-out") + "/flags"
    val chk = tmpDir("sdc-chk")
    val sf = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(spark)
    val sh = graft.analytics.Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "text", graft.ext.MinHash.splitExpr)
      .selectExpr("doc_id", "lang", "text", "shinglen(t, 13) AS g13")
      .localCheckpoint()
    val bench = sh.where(col("doc_id") < 50).selectExpr("explode(g13) AS gram").distinct()
    val corpus = sh.where(col("doc_id") >= 50)

    // wave the corpus by id and land each as one JSON file
    def land(name: String, dfj: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$docsDir/$name"),
        dfj.selectExpr("doc_id", "lang", "text").toJSON.collect().mkString("", "\n", "\n"))
    land("w1.json", corpus.where(col("doc_id") < 300))
    graft.streaming.Incremental
      .streamingDecontaminate(spark, docsDir, bench, out, chk)
      .awaitTermination(180000)
    land("w2.json", corpus.where(col("doc_id") >= 300))
    graft.streaming.Incremental
      .streamingDecontaminate(spark, docsDir, bench, out, chk)
      .awaitTermination(180000)

    val streamed = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // the Bloom path has no false negatives and the verify join kills false
    // positives, so the union of waves must equal the EXACT inverted join
    val expected = corpus.selectExpr("doc_id", "explode(g13) AS gram")
      .join(bench, Seq("gram")).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(streamed == expected, s"streamed=${streamed.size} expected=${expected.size}")
    assert(expected.nonEmpty, "fixture shares 13-grams across the id<50 boundary")

    // replay idempotence: draining again with no new files changes nothing
    val before = spark.read.parquet(out).count()
    graft.streaming.Incremental
      .streamingDecontaminate(spark, docsDir, bench, out, chk)
      .awaitTermination(180000)
    assert(spark.read.parquet(out).count() == before, "an empty drain must be a no-op")

    val artifact = java.nio.file.Paths.get("target/streaming_decontam_parity.json")
    java.nio.file.Files.createDirectories(artifact.getParent)
    java.nio.file.Files.writeString(artifact,
      s"""{"pin":"streamingDecontaminate union-of-waves == exact inverted join",""" +
        s""""docs":${corpus.count()},"flagged":${streamed.size},"waves":2,"match":true}\n""")
  }

  test("streamingDsirScore: union of waves == batch Dsir.score, replay-safe") {
    val docsDir = tmpDir("dsir-docs")
    val out = tmpDir("dsir-out") + "/scores"
    val chk = tmpDir("dsir-chk")
    val sf = "/root/testdata/sf0.001"
    val sp = graft.analytics.Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "text", graft.ext.MinHash.splitExpr)
      .localCheckpoint()
    val isTarget = col("lang") === "en" && col("doc_id") % 5 === 0
    val m = graft.ext.Dsir.train(
      sp.where(isTarget).select("t"), sp.where(!isTarget).select("t"))
    val pool = sp.where(!isTarget)

    def land(name: String, dfj: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$docsDir/$name"),
        dfj.selectExpr("doc_id", "lang", "text").toJSON.collect().mkString("", "\n", "\n"))
    land("w1.json", pool.where(col("doc_id") < 250))
    graft.streaming.Incremental
      .streamingDsirScore(spark, docsDir, m, out, chk)
      .awaitTermination(180000)
    land("w2.json", pool.where(col("doc_id") >= 250))
    graft.streaming.Incremental
      .streamingDsirScore(spark, docsDir, m, out, chk)
      .awaitTermination(180000)

    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("doc_id", "n_feats", "w_bits").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = canon(spark.read.parquet(out))
    val want = canon(graft.ext.Dsir.score(pool, m, Seq("doc_id", "lang")))
    assert(streamed == want,
      s"streamed=${streamed.size} batch=${want.size} diff=${streamed.diff(want).take(3)}")
    assert(want.nonEmpty)

    // replay idempotence: draining with no new files changes nothing
    val before = spark.read.parquet(out).count()
    graft.streaming.Incremental
      .streamingDsirScore(spark, docsDir, m, out, chk)
      .awaitTermination(180000)
    assert(spark.read.parquet(out).count() == before, "an empty drain must be a no-op")
  }

  test("streamingHeavyHitters: MG state folds across micro-batches == batch sketch") {
    val dir = tmpDir("hh-in")
    val chk = tmpDir("hh-chk")
    // three waves, one per micro-batch; counts only add up if the state
    // store actually carries the sketch across batches
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.json"),
      """{"key":"aa","token":"x"}
        |{"key":"aa","token":"x"}
        |{"key":"aa","token":"y"}
        |{"key":"bb","token":"p"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.json"),
      """{"key":"aa","token":"y"}
        |{"key":"aa","token":"y"}
        |{"key":"aa","token":"z"}
        |{"key":"bb","token":"q"}
        |{"key":"bb","token":"p"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.json"),
      """{"key":"aa","token":"z"}
        |{"key":"aa","token":"z"}
        |{"key":"bb","token":"p"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("token", StringType)))
    val last = scala.collection.mutable.Map.empty[String, Seq[(String, Long)]]
    var batches = 0
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir)
    val q = Incremental.streamingHeavyHitters(stream, c = 16, k = 5)
      .writeStream.outputMode("update")
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        last.synchronized {
          if (rows.nonEmpty) batches += 1
          rows.foreach { r =>
            last(r.getString(0)) = r.getSeq[org.apache.spark.sql.Row](1)
              .map(h => (h.getString(0), h.getLong(1)))
          }
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(batches >= 3, s"maxFilesPerTrigger=1 must yield one batch per wave, got $batches")
    // support <= c: the sketch is exact, so the final update per key must
    // equal the batch sketch (== exact counts) over the whole stream
    val want = graft.ops.FreqSketch
      .heavyHittersByKey(spark.read.schema(schema).json(dir), c = 16, k = 5)
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getLong(1)).map(r => (r.getString(2), r.getLong(3))).toSeq
      }
    assert(last.synchronized(last.toMap) == want,
      s"streaming reports diverged:\n got $last\nwant $want")
    // recorded artifact (VERDICT r6 #7): cross-batch MG fold == batch sketch
    val artifact = java.nio.file.Paths.get("target/streaming_hh_parity.json")
    java.nio.file.Files.createDirectories(artifact.getParent)
    java.nio.file.Files.writeString(artifact,
      s"""{"pin":"streamingHeavyHitters fold==FreqSketch.heavyHittersByKey",""" +
        s""""keys":${want.size},"batches":$batches,"c":16,"k":5,"match":true}\n""")
  }

  test("streamingManifestUpsert: replayed batches upsert to zero duplicates; mid-stream reads are consistent") {
    import graft.ops.ManifestStore
    val src = tmpDir("msu-in")
    val chk = tmpDir("msu-chk")
    val table = tmpDir("msu-t") + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/a.json"),
      """{"id":1,"v":"a"}""" + "\n" + """{"id":2,"v":"b"}""" + "\n")
    def drain(): Unit = {
      val q = Incremental.streamingManifestUpsert(spark, src, schema, table, "id", chk)
      q.awaitTermination(180000)
    }
    drain()
    assert(ManifestStore.read(spark, table).count() == 2)
    // second wave: one genuinely new key + one replayed key
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/b.json"),
      """{"id":2,"v":"DUP"}""" + "\n" + """{"id":3,"v":"c"}""" + "\n")
    drain()
    val rows = ManifestStore.read(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      s"first write wins, replay inserts nothing: $rows")
    // FULL replay (checkpoint lost — the at-least-once worst case): every
    // batch re-runs, the manifest upsert converges to the same table
    val before = ManifestStore.current(spark, table).get
    java.nio.file.Files.walk(java.nio.file.Paths.get(chk))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    drain()
    val after = ManifestStore.read(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == rows, "checkpoint-loss replay must be a no-op")
    assert(ManifestStore.read(spark, table)
      .groupBy("id").count().where(col("count") > 1).count() == 0)
    assert(ManifestStore.current(spark, table).get.version == before.version,
      "a no-op replay publishes no new versions")
  }

  test("streamingMerge: CDC updates/deletes apply; checkpoint-loss replay converges (deletes don't resurrect)") {
    import graft.ops.ManifestStore
    val src = tmpDir("smg-in")
    val chk = tmpDir("smg-chk")
    val table = tmpDir("smg-t") + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("op", StringType)))
    def drain(): Unit = {
      val q = Incremental.streamingMerge(spark, src, schema, table, "id",
        deleteWhen = col("op") === "d", checkpoint = chk)
      q.awaitTermination(180000)
    }
    // wave 1: three inserts
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/a.json"),
      """{"id":1,"v":"a","op":"u"}""" + "\n" +
        """{"id":2,"v":"b","op":"u"}""" + "\n" +
        """{"id":3,"v":"c","op":"u"}""" + "\n")
    drain()
    assert(ManifestStore.read(spark, table).count() == 3)
    // wave 2: update id=1, delete id=2, insert id=4, and a delete for a key
    // that never existed (must NOT insert)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/b.json"),
      """{"id":1,"v":"A","op":"u"}""" + "\n" +
        """{"id":2,"v":"b","op":"d"}""" + "\n" +
        """{"id":4,"v":"d","op":"u"}""" + "\n" +
        """{"id":9,"v":"ghost","op":"d"}""" + "\n")
    drain()
    val want = Map(1L -> "A", 3L -> "c", 4L -> "d")
    def table_(): Map[Long, String] = ManifestStore.read(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(table_() == want, s"CDC apply: ${table_()}")
    // checkpoint loss: every batch replays. The delete events in wave 2
    // find no match AND are insert-gated out — id=2 stays deleted, the
    // replayed updates rewrite the same values
    java.nio.file.Files.walk(java.nio.file.Paths.get(chk))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    drain()
    assert(table_() == want, s"replay must converge, got ${table_()}")
  }

  test("withExpectations: a failing batch quarantines with its report; passing batches apply") {
    import graft.ops.Expectations._
    val dir = tmpDir("exq-in")
    val chk = tmpDir("exq-chk")
    val qd = tmpDir("exq-out") + "/quarantine"
    val applied = scala.collection.mutable.ArrayBuffer.empty[Long]
    // batch a: clean; batch b: null id + out-of-set v — fails the suite
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """{"id":1,"v":"ok"}""" + "\n" + """{"id":2,"v":"ok"}""" + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.json"),
      """{"v":"bogus"}""" + "\n" + """{"id":4,"v":"ok"}""" + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val body = Incremental.withExpectations(
      Seq(NotNull("id"), InSet("v", Seq("ok"))), qd) { (b, _) =>
      val ids = b.select("id").collect().map(_.getLong(0))
      applied.synchronized { applied ++= ids }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir)
      .writeStream.option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(body)
      .start()
    q.awaitTermination(180000)
    assert(applied.synchronized(applied.sorted.toSeq) == Seq(1L, 2L),
      s"only the clean batch applies: $applied")
    val qDirs = new java.io.File(qd).listFiles().filter(_.getName.startsWith("batch="))
    assert(qDirs.length == 1, s"exactly one quarantined batch: ${qDirs.mkString(",")}")
    // the quarantine holds the FULL failing batch (good rows ride along —
    // the unit of replay is the batch) + the failing report as sidecar
    assert(spark.read.parquet(qDirs(0).getPath).count() == 2)
    val sidecar = java.nio.file.Files.readString(
      java.nio.file.Paths.get(qDirs(0).getPath, "_expectations.txt"))
    assert(sidecar.contains("check=not_null col=id") && sidecar.contains("violations=1"))
    assert(sidecar.contains("check=in_set col=v"))
  }

  test("withDeadLetter: a poison batch is quarantined and the stream drains past it") {
    val dir = tmpDir("dlq-in")
    val chk = tmpDir("dlq-chk")
    val dlq = tmpDir("dlq-out") + "/dead"
    val processed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val attemptsSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    // three single-file batches; the middle one is poison
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """{"id":1,"v":"ok"}""" + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.json"),
      """{"id":2,"v":"poison"}""" + "\n" + """{"id":3,"v":"ok"}""" + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/c.json"),
      """{"id":4,"v":"ok"}""" + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val body = Incremental.withDeadLetter(dlq, attempts = 2) { (b, _) =>
      attemptsSeen.incrementAndGet()
      if (b.where(col("v") === "poison").count() > 0)
        throw new RuntimeException("poison batch")
      val ids = b.select("id").collect().map(_.getLong(0))
      processed.synchronized { processed ++= ids }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir)
      .writeStream.option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(body)
      .start()
    q.awaitTermination(180000)
    // the stream drained: both healthy batches processed, poison skipped
    assert(processed.synchronized(processed.sorted.toSeq) == Seq(1L, 4L),
      s"healthy batches must process: $processed")
    assert(attemptsSeen.get() == 4, "poison batch must be retried once (2 attempts)")
    // the quarantine holds the FULL poison batch + an error sidecar
    val dlqDirs = new java.io.File(dlq).listFiles().filter(_.getName.startsWith("batch="))
    assert(dlqDirs.length == 1, s"exactly one quarantined batch: ${dlqDirs.mkString(",")}")
    val rows = spark.read.parquet(dlqDirs(0).getPath)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(2L, 3L), "the whole poison batch is re-drivable from the DLQ")
    val sidecar = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dlqDirs(0).getPath, "_error.txt"))
    assert(sidecar.contains("RuntimeException") && sidecar.contains("poison batch"))
    // transient failures do NOT quarantine: fail once, succeed on retry
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    val dlq2 = tmpDir("dlq-out2") + "/dead"
    import spark.implicits._
    Incremental.withDeadLetter(dlq2, attempts = 2) { (_, _) =>
      if (flaky.incrementAndGet() == 1) throw new RuntimeException("transient")
    }.apply(Seq((9L, "x")).toDF("id", "v"), 7L)
    assert(flaky.get() == 2 && !new java.io.File(dlq2).exists(),
      "a retry-recovered batch must not be quarantined")
  }

  test("streamingSessions: gap-split sessions close on data; tails close on event-time timeout") {
    val dir = tmpDir("sess-ev")
    val chk = tmpDir("sess-chk")
    // memory sink cannot recover from a checkpoint; a foreachBatch collector
    // can, and the restart-with-checkpoint is exactly what this test needs
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    def run(): Seq[(Long, String, String, Long)] = {
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir)
        .withColumn("ts", to_timestamp(col("ts")))
      val q = Incremental.streamingSessions(stream, gapMinutes = 30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (
            r.getAs[Long]("user_id"),
            r.getAs[java.sql.Timestamp]("session_start").toString,
            r.getAs[java.sql.Timestamp]("session_end").toString,
            r.getAs[Long]("events")))
          acc.synchronized { acc ++= rows }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      acc.synchronized(acc.toSeq)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.json"),
      """{"user_id":1,"ts":"2024-01-01T10:00:00"}
        |{"user_id":1,"ts":"2024-01-01T10:10:00"}
        |{"user_id":1,"ts":"2024-01-01T11:00:00"}
        |{"user_id":2,"ts":"2024-01-01T10:05:00"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.json"),
      """{"user_id":1,"ts":"2024-01-01T13:00:00"}
        |{"user_id":2,"ts":"2024-01-01T14:00:00"}
        |""".stripMargin)
    val first = run()
    // gap-closed within/between batches: u1 10:00-10:10 (2 events), then the
    // 11:00 singleton closed by the 13:00 arrival, u2's 10:05 by 14:00
    assert(first.contains((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L)), s"$first")
    assert(first.contains((1L, "2024-01-01 11:00:00.0", "2024-01-01 11:00:00.0", 1L)), s"$first")
    assert(first.contains((2L, "2024-01-01 10:05:00.0", "2024-01-01 10:05:00.0", 1L)), s"$first")
    assert(first.size == 3, s"tail sessions must stay open until the watermark passes: $first")

    // two dummy-user files push the watermark past both tails' timeouts
    // across restarts (timeouts fire at the start of a later batch)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.json"),
      """{"user_id":99,"ts":"2024-01-01T23:00:00"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/d.json"),
      """{"user_id":98,"ts":"2024-01-01T23:30:00"}
        |""".stripMargin)
    run()
    val later = run()
    assert(later.contains((1L, "2024-01-01 13:00:00.0", "2024-01-01 13:00:00.0", 1L)),
      s"u1 tail must close by event-time timeout: $later")
    assert(later.contains((2L, "2024-01-01 14:00:00.0", "2024-01-01 14:00:00.0", 1L)),
      s"u2 tail must close by event-time timeout: $later")
  }

  test("streamingSessions folds a cross-batch out-of-order event into the open session's START") {
    val dir = tmpDir("sess-ooo")
    val chk = tmpDir("sess-ooo-chk")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    def run(): Seq[(Long, String, String, Long)] = {
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir)
        .withColumn("ts", to_timestamp(col("ts")))
      val q = Incremental.streamingSessions(stream, gapMinutes = 30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (
            r.getAs[Long]("user_id"),
            r.getAs[java.sql.Timestamp]("session_start").toString,
            r.getAs[java.sql.Timestamp]("session_end").toString,
            r.getAs[Long]("events")))
          acc.synchronized { acc ++= rows }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      acc.synchronized(acc.toSeq)
    }
    // batch 1 opens the session at 10:20; batch 2 delivers a WITHIN-GAP,
    // within-watermark straggler from 10:05 — the open session must extend
    // backward (start = 10:05), exactly what a batch sort would build
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.json"),
      """{"user_id":1,"ts":"2024-01-01T10:20:00"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.json"),
      """{"user_id":1,"ts":"2024-01-01T10:05:00"}
        |""".stripMargin)
    // sentinels push the watermark past the tail's timeout across a restart
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.json"),
      """{"user_id":99,"ts":"2024-01-01T23:00:00"}
        |""".stripMargin)
    run()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/d.json"),
      """{"user_id":98,"ts":"2024-01-01T23:30:00"}
        |""".stripMargin)
    val got = run().filter(_._1 == 1L)
    assert(got == Seq((1L, "2024-01-01 10:05:00.0", "2024-01-01 10:20:00.0", 2L)),
      s"straggler must extend session_start backward, not open a new session: $got")
  }

  test("streamingSessions agrees with the batch st2_sessionize rollup on the events fixture") {
    val dir = tmpDir("sess-par")
    val chk = tmpDir("sess-par-chk")
    val ev = graft.analytics.Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "CAST(ts AS STRING) AS ts").collect()
    def line(u: Long, ts: String) = s"""{"user_id":$u,"ts":"$ts"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.json"),
      ev.map(r => line(r.getLong(0), r.getString(1))).mkString("", "\n", "\n"))
    // sentinel users push the watermark far past every real session's
    // timeout; two, across a restart, because timeouts fire at the START of
    // a batch AFTER the watermark has advanced
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.json"), line(-1L, "2030-01-01 00:00:00") + "\n")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run(): Unit = {
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir)
        .withColumn("ts", to_timestamp(col("ts")))
      val q = Incremental.streamingSessions(stream, gapMinutes = 30)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r =>
            (r.getAs[Long]("user_id"), r.getAs[Long]("events")))
          acc.synchronized { acc ++= rows }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(300000)
    }
    run()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/c.json"), line(-2L, "2030-06-01 00:00:00") + "\n")
    run()
    val got = acc.filter(_._1 >= 0).groupBy(_._1)
      .map { case (u, ss) => u -> (ss.size.toLong, ss.map(_._2).sum) }
    val want = graft.analytics.Registry.byName("st2_sessionize")
      .fn(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("sessions"), r.getAs[Long]("events"))).toMap
    assert(got == want,
      s"streaming sessionization diverges from the batch window form: " +
        s"got ${got.size} users, want ${want.size}")
    // recorded artifact (VERDICT r5 #9): the streaming==batch parity as a
    // machine-readable file beside bench.json, refreshed on every test run
    val artifact = java.nio.file.Paths.get("target/streaming_parity.json")
    java.nio.file.Files.createDirectories(artifact.getParent)
    java.nio.file.Files.writeString(artifact,
      s"""{"pin":"streamingSessions==st2_sessionize","users":${want.size},""" +
        s""""sessions":${want.values.map(_._1).sum},"events":${want.values.map(_._2).sum},""" +
        s""""match":true,"fixture":"/root/testdata/sf0.001 events"}\n""")
  }

  test("streaming tumbling-window aggregate over a bounded file source (memory sink)") {
    val dir = tmpDir("stream-ev")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ev.json"),
      """{"ts":"2024-01-01T10:05:00","event_type":"click","value":1.0}
        |{"ts":"2024-01-01T10:55:00","event_type":"click","value":2.0}
        |{"ts":"2024-01-01T11:05:00","event_type":"view","value":3.0}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("ts", StringType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema).json(dir)
      .withColumn("ts", to_timestamp(col("ts")))
    val agg = Incremental.tumblingCounts(stream, "ts", "event_type")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tumbles")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("tumbles").collect()
    assert(rows.length == 2)
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 2 && click.getDouble(3) == 3.0)
  }

  test("streamingClickErrorJoin: stream-stream interval join == batch inequality join") {
    val dir = tmpDir("stream-ssj")
    // user 1: click 10:00 -> errors 10:05 (in window) and 10:20 (outside);
    // user 2: click 10:10 -> error 10:12 (in window); user 3: error with no
    // click; cross-user pairs must never match.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ev.json"),
      """{"ts":"2024-01-01T10:00:00","user_id":1,"event_type":"click"}
        |{"ts":"2024-01-01T10:05:00","user_id":1,"event_type":"error"}
        |{"ts":"2024-01-01T10:20:00","user_id":1,"event_type":"error"}
        |{"ts":"2024-01-01T10:10:00","user_id":2,"event_type":"click"}
        |{"ts":"2024-01-01T10:12:00","user_id":2,"event_type":"error"}
        |{"ts":"2024-01-01T10:03:00","user_id":3,"event_type":"error"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("ts", StringType),
      StructField("user_id", LongType),
      StructField("event_type", StringType)))
    def src = spark.readStream.schema(schema).json(dir)
      .withColumn("ts", to_timestamp(col("ts")))
    val joined = Incremental.streamingClickErrorJoin(
      src.where(col("event_type") === "click"),
      src.where(col("event_type") === "error"))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("ssj").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("click_ts"), r.getAs[java.sql.Timestamp]("error_ts")))
      .toSet
    // batch reference: the same inequality join on the static frame
    val batch = spark.read.schema(schema).json(dir)
      .withColumn("ts", to_timestamp(col("ts")))
    val c = batch.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val e = batch.where(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("error_ts"))
    val want = c.join(e, expr(
        """c_user = e_user AND error_ts >= click_ts AND
          |error_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin))
      .collect()
      .map(r => (r.getAs[Long]("c_user"),
        r.getAs[java.sql.Timestamp]("click_ts"), r.getAs[java.sql.Timestamp]("error_ts")))
      .toSet
    assert(want.map(_._1) == Set(1L, 2L), "fixture sanity: users 1 and 2 match")
    assert(got == want, s"stream-stream join diverged: $got vs $want")
  }

  test("streamingAggState: per-batch folds == batch totals exactly, replay-safe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("aggstream-in")
    val store = tmpDir("aggstream-store") + "/s"
    val chk = tmpDir("aggstream-chk")
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("v", DoubleType)))
    def land(name: String, rows: Seq[(String, Double)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/$name.json"),
        rows.map { case (g, v) => s"""{"g":"$g","v":$v}""" }.mkString("", "\n", "\n"))
    val wave1 = Seq(("a", 1.25), ("a", 2.5), ("b", 10.0))
    val wave2 = Seq(("a", 4.0), ("c", 0.125), ("b", -3.5))
    land("w1", wave1)
    land("w2", wave2)

    val q = Incremental.streamingAggState(spark, dir, schema, "g", "v", store, chk)
    q.awaitTermination(120000)

    def totals(rows: Seq[(String, Double)]) = rows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, BigDecimal(rs.map(r => BigDecimal(r._2)).sum.toString))
    }.toSeq.sortBy(_._1)
    def got() = Incremental.readStreamingAggState(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2)))).toSeq
    assert(got() == totals(wave1 ++ wave2).map(t => (t._1, t._2, t._3.setScale(6))),
      s"${got()} vs ${totals(wave1 ++ wave2)}")

    // a third wave lands; a fresh AvailableNow drain folds it in without
    // touching the earlier batch directories
    val wave3 = Seq(("c", 7.0), ("a", 0.5))
    land("w3", wave3)
    val q2 = Incremental.streamingAggState(spark, dir, schema, "g", "v", store, chk)
    q2.awaitTermination(120000)
    val all = wave1 ++ wave2 ++ wave3
    assert(got() == totals(all).map(t => (t._1, t._2, t._3.setScale(6))),
      s"after wave 3: ${got()} vs ${totals(all)}")
  }

  test("streamingAsofEnrich == batch asofJoin on ordered batches; late builds never retro-match") {
    import spark.implicits._
    val dir = tmpDir("asof-ev")
    val chk = tmpDir("asof-chk")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long], Option[String])]
    def run(): Seq[(Long, Long, Option[Long], Option[String])] = {
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("ts", StringType), StructField("event_type", StringType)))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(dir)
        .withColumn("ts", to_timestamp(col("ts")))
      val q = Incremental.streamingAsofEnrich(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (
            r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
            Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong),
            Option(r.getAs[java.sql.Timestamp]("click_ts")).map(_.toString)))
          acc.synchronized { acc ++= rows }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      acc.synchronized(acc.toSeq)
    }
    // batch 1: u1 click(100) @10:00, purchase(200) @10:05 (matches 100),
    //          purchase(201) @10:00 EQUAL-TIME (inclusive: matches 100),
    //          u2 purchase(202) @10:00 with NO prior click -> null
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """{"user_id":1,"event_id":100,"ts":"2024-01-01T10:00:00","event_type":"click"}
        |{"user_id":1,"event_id":200,"ts":"2024-01-01T10:05:00","event_type":"purchase"}
        |{"user_id":1,"event_id":201,"ts":"2024-01-01T10:00:00","event_type":"purchase"}
        |{"user_id":2,"event_id":202,"ts":"2024-01-01T10:00:00","event_type":"purchase"}
        |""".stripMargin)
    // batch 2: cross-batch state carry (u1's purchase matches batch-1 click
    // until a newer click lands), then a newer click wins for later probes
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.json"),
      """{"user_id":1,"event_id":203,"ts":"2024-01-01T11:00:00","event_type":"purchase"}
        |{"user_id":1,"event_id":101,"ts":"2024-01-01T11:30:00","event_type":"click"}
        |{"user_id":1,"event_id":204,"ts":"2024-01-01T11:45:00","event_type":"purchase"}
        |""".stripMargin)
    val got = run()
    assert(got.contains((1L, 200L, Some(100L), Some("2024-01-01 10:00:00.0"))), s"$got")
    assert(got.contains((1L, 201L, Some(100L), Some("2024-01-01 10:00:00.0"))),
      s"equal-time build must be visible (inclusive): $got")
    assert(got.contains((2L, 202L, None, None)), s"no prior build -> null match: $got")
    assert(got.contains((1L, 203L, Some(100L), Some("2024-01-01 10:00:00.0"))),
      s"cross-batch state carry: $got")
    assert(got.contains((1L, 204L, Some(101L), Some("2024-01-01 11:30:00.0"))), s"$got")
    // parity with the batch operator over the SAME rows
    val all = Seq(
      (1L, 100L, "2024-01-01 10:00:00", "click"),
      (1L, 200L, "2024-01-01 10:05:00", "purchase"),
      (1L, 201L, "2024-01-01 10:00:00", "purchase"),
      (2L, 202L, "2024-01-01 10:00:00", "purchase"),
      (1L, 203L, "2024-01-01 11:00:00", "purchase"),
      (1L, 101L, "2024-01-01 11:30:00", "click"),
      (1L, 204L, "2024-01-01 11:45:00", "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))
    val purchases = all.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = all.where(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    val batch = graft.ops.ScaleOps
      .asofJoin(purchases, clicks, Seq("user_id"), "ts", Seq("click_id"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Long]("asof_click_id")).map(_.toLong))).toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == batch,
      s"streaming must equal batch on event-time-ordered batches: $got vs $batch")
    // divergence case (documented approximation): a LATE build older than
    // already-emitted probes updates state for FUTURE probes only
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/c.json"),
      """{"user_id":2,"event_id":102,"ts":"2024-01-01T09:00:00","event_type":"click"}
        |{"user_id":2,"event_id":205,"ts":"2024-01-01T12:00:00","event_type":"purchase"}
        |""".stripMargin)
    val later = run()
    assert(later.contains((2L, 202L, None, None)),
      "already-emitted null match is immutable (append mode)")
    assert(later.contains((2L, 205L, Some(102L), Some("2024-01-01 09:00:00.0"))),
      s"the late build serves future probes: $later")
  }
}
