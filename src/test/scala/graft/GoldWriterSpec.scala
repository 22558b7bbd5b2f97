package graft

import graft.gold.GoldWriter

/** Upsert semantics pinned to cleaner/duckdb_writer.py:141-207 (ON CONFLICT
  * DO NOTHING = first-write-wins) and the integrity checks (:228-288).
  */
class GoldWriterSpec extends SparkSpec {
  import spark.implicits._

  test("upsert inserts new keys, skips existing, drops null keys, dedups within batch") {
    val path = tmpDir("gold") + "/gold"
    val b1 = Seq(("c1", 1), ("c2", 2)).toDF("crash_record_id", "v")
    val r1 = GoldWriter.upsertBucketed(spark, b1, path)
    assert(r1.insertedRows == 2 && r1.totalRows == 2)

    val b2 = Seq(("c2", 99), ("c3", 3), ("c3", 3), (null, 4))
      .toDF("crash_record_id", "v")
    val r2 = GoldWriter.upsertBucketed(spark, b2, path)
    assert(r2.insertedRows == 1, "only c3 is new; c2 conflict-skipped, dup+null dropped")
    assert(r2.totalRows == 3 && r2.duplicateKeys == 0 && r2.nullKeys == 0)

    // first-write-wins: c2 keeps its original value
    val c2 = spark.read.parquet(path).where($"crash_record_id" === "c2").collect()(0)
    assert(c2.getAs[Int]("v") == 2)
  }

  test("upsert is idempotent: replaying the same batch is a no-op (ST4 at-least-once safety)") {
    val path = tmpDir("gold2") + "/gold"
    val b = Seq(("c1", 1), ("c2", 2)).toDF("crash_record_id", "v")
    GoldWriter.upsertBucketed(spark, b, path)
    val replay = GoldWriter.upsertBucketed(spark, b, path)
    assert(replay.insertedRows == 0 && replay.totalRows == 2)
  }

  test("upsertBucketed keeps upsert semantics on the partitioned layout") {
    val path = tmpDir("goldb") + "/gold"
    val b1 = (1 to 100).map(i => (s"c$i", i)).toDF("crash_record_id", "v")
    val r1 = GoldWriter.upsertBucketed(spark, b1, path, buckets = 16)
    assert(r1.insertedRows == 100 && r1.totalRows == 100)

    val b2 = Seq(("c7", 999), ("cNEW", 7), ("cNEW", 7), (null, 4))
      .toDF("crash_record_id", "v")
    val r2 = GoldWriter.upsertBucketed(spark, b2, path, buckets = 16)
    assert(r2.insertedRows == 1, "only cNEW is new; c7 conflict-skipped, dup+null dropped")
    assert(r2.totalRows == 101 && r2.duplicateKeys == 0 && r2.nullKeys == 0)
    // first-write-wins survives the layout change
    val c7 = spark.read.parquet(path).where($"crash_record_id" === "c7").collect()(0)
    assert(c7.getAs[Int]("v") == 7)
    // replay is a no-op
    val replay = GoldWriter.upsertBucketed(spark, b2, path, buckets = 16)
    assert(replay.insertedRows == 0 && replay.totalRows == 101)
  }

  test("first batch with only null keys reports empty table instead of throwing") {
    // Streaming sink hazard: batch.isEmpty is false (rows exist) but every
    // key is null, so nothing is written and the table never comes into
    // existence — the post-write report scan must not read the absent path.
    val nulls = Seq((null: String, 1), (null: String, 2)).toDF("crash_record_id", "v")
    val r = GoldWriter.upsertBucketed(spark, nulls, tmpDir("goldnb") + "/gold")
    assert(r == GoldWriter.IntegrityReport(0L, 0L, 0L, 0L))
  }

  test("layout mismatch on one path fails fast instead of corrupting the bucket invariant") {
    val path = tmpDir("goldmix") + "/gold"
    Seq(("c1", 1)).toDF("crash_record_id", "v").write.parquet(path) // flat layout
    val e = intercept[IllegalStateException] {
      GoldWriter.upsertBucketed(spark, Seq(("c2", 2)).toDF("crash_record_id", "v"), path)
    }
    assert(e.getMessage.contains("flat"))
    // the integrity report refuses it too, rather than reading it as empty
    assert(intercept[IllegalStateException] {
      GoldWriter.integrityCheck(spark, path, "crash_record_id", 0L)
    }.getMessage.contains("flat"))
    assert(spark.read.parquet(path).count() == 1L, "the flat table is left as it was")
  }

  test("upsertBucketed conflict scan reads a strict subset of Gold files (partition pruning)") {
    val path = tmpDir("goldp") + "/gold"
    val seed = (1 to 200).map(i => (s"c$i", i)).toDF("crash_record_id", "v")
    GoldWriter.upsertBucketed(spark, seed, path, buckets = 16)

    def parquetFiles(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val allFiles = parquetFiles(path)
    assert(allFiles > 1, s"seed must span multiple bucket partitions, got $allFiles files")

    // a single-key batch touches exactly one bucket
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    val oneBucket = Seq("c1").toDF("crash_record_id")
      .select(pmod(xxhash64($"crash_record_id"), lit(16L)).cast("int"))
      .collect()(0).getInt(0)
    val scan = GoldWriter.existingKeysScan(spark, path, "crash_record_id", Seq(oneBucket))
    scan.collect() // execute THIS df's plan so its scan metrics populate
    val scanNode = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val filesRead = scanNode.metrics("numFiles").value
    assert(filesRead > 0 && filesRead < allFiles,
      s"pruned scan must read a strict subset: $filesRead of $allFiles")
  }

  test("upsertBucketed job budget: no listing jobs, pinned job ceiling, exact insert counts") {
    val path = tmpDir("goldjobs") + "/gold"
    // every one of the 64 buckets holds files, so a read through
    // spark.read.parquet would list more directories than the
    // parallel-discovery threshold (32) and start a listing job
    GoldWriter.upsertBucketed(spark,
      (1 to 2000).map(i => (s"c$i", i)).toDF("crash_record_id", "v"), path)
    // a weekly-sized batch: 77 new keys, 6 existing ones, one null
    val batch = ((1995 to 2000).map(i => (s"c$i", -i)) ++
      (1 to 77).map(i => (s"n$i", i)) :+ ((null: String), 0))
      .toDF("crash_record_id", "v")
    val (r, jobs) = jobsOf(GoldWriter.upsertBucketed(spark, batch, path))
    assert(r == GoldWriter.IntegrityReport(2077L, 0L, 0L, 77L), r.toString)
    val (replay, replayJobs) = jobsOf(GoldWriter.upsertBucketed(spark, batch, path))
    assert(replay == GoldWriter.IntegrityReport(2077L, 0L, 0L, 0L), replay.toString)

    val listing = (jobs ++ replayJobs).filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"Gold reads must not start listing jobs: $listing")
    // 11 each when pinned: the dedup and touched-bucket collect, the
    // broadcast conflict scan, the append, the integrity scan and the count
    assert(jobs.size <= 12 && replayJobs.size <= 12,
      s"job budget: upsert ran ${jobs.size}, replay ${replayJobs.size}")
  }

  test("withTableLock serializes: a second acquirer waits until the holder releases") {
    val path = tmpDir("goldlock") + "/gold"
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      GoldWriter.withTableLock(spark, path) {
        started.countDown()
        release.await(10, java.util.concurrent.TimeUnit.SECONDS)
      })
    holder.start()
    started.await(10, java.util.concurrent.TimeUnit.SECONDS)
    val t0 = System.nanoTime()
    // release the holder shortly after the contender starts waiting
    new Thread(() => { Thread.sleep(600); release.countDown() }).start()
    val got = GoldWriter.withTableLock(spark, path, waitMs = 30000L)(42)
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    holder.join(10000)
    assert(got == 42)
    assert(waitedMs >= 300, s"contender must block until release, waited only ${waitedMs}ms")
  }

  test("lockedUpsertBucketed under contention: overlapping concurrent batches, zero duplicate keys") {
    val path = tmpDir("goldlock2") + "/gold"
    // seed the table so both contenders take the existing-keys anti-join path
    GoldWriter.lockedUpsertBucketed(spark, Seq(("c0", 0)).toDF("crash_record_id", "v"), path)
    val overlapping = Seq(
      Seq(("c0", 10), ("c1", 11), ("c2", 12)),
      Seq(("c1", 21), ("c2", 22), ("c3", 23)))
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[GoldWriter.IntegrityReport]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = overlapping.map { rows =>
      new Thread(() =>
        try reports.add(GoldWriter.lockedUpsertBucketed(
          spark, rows.toDF("crash_record_id", "v"), path))
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writers must not fail: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    assert(reports.asScala.forall(_.duplicateKeys == 0L))
    val table = spark.read.parquet(path)
    assert(table.count() == 4L, "c0..c3 exactly once each")
    assert(table.groupBy("crash_record_id").count().where($"count" > 1).count() == 0L,
      "the lock must prevent the double-insert race on overlapping keys")
    // first-write-wins held for the seeded key regardless of interleaving
    assert(table.where($"crash_record_id" === "c0").collect()(0).getAs[Int]("v") == 0)
  }

  test("a stale lock from a crashed writer is broken and the upsert proceeds") {
    val path = tmpDir("goldlock3") + "/gold"
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(
      table.getParent, s".${table.getName}._graft_gold.lock")
    fs.mkdirs(table.getParent)
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 3600000L, -1) // an hour old
    val r = GoldWriter.withTableLock(spark, path, staleMs = 600000L, waitMs = 2000L)(7)
    assert(r == 7, "hour-old lock must be presumed abandoned and broken")
    // and a FRESH lock is respected: bounded wait then loud failure
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException] {
      GoldWriter.withTableLock(spark, path, waitMs = 300L)(0)
    }
    assert(e.getMessage.contains("writer lock"), e.getMessage)
    fs.delete(lock, false)
  }

  test("an overrun writer whose lock was broken must not delete the contender's fresh lock") {
    val path = tmpDir("goldlock4") + "/gold"
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(
      table.getParent, s".${table.getName}._graft_gold.lock")
    fs.mkdirs(table.getParent)
    // writer A acquires, then — inside the body, simulating A overrunning
    // staleMs — a contender breaks A's lock and plants its OWN (different
    // token). A's finally must leave the contender's lock in place.
    GoldWriter.withTableLock(spark, path) {
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      out.write("contender-token".getBytes("UTF-8")); out.close()
      ()
    }
    assert(fs.exists(lock),
      "the contender's fresh lock must survive the overrun writer's release")
    val bytes = new Array[Byte](64)
    val in = fs.open(lock)
    val n = in.read(bytes); in.close()
    assert(new String(bytes, 0, n, "UTF-8") == "contender-token")
    fs.delete(lock, false)
    // and the normal path still releases: a clean acquire/release leaves no lock
    assert(GoldWriter.withTableLock(spark, path)(11) == 11)
    assert(!fs.exists(lock), "a clean release must delete its own lock")
  }
}
