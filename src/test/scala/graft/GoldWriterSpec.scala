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

  test("upsertBucketed keeps upsert semantics across batches on one flat table") {
    val path = tmpDir("goldb") + "/gold"
    val b1 = (1 to 100).map(i => (s"c$i", i)).toDF("crash_record_id", "v")
    val r1 = GoldWriter.upsertBucketed(spark, b1, path)
    assert(r1.insertedRows == 100 && r1.totalRows == 100)

    val b2 = Seq(("c7", 999), ("cNEW", 7), ("cNEW", 7), (null, 4))
      .toDF("crash_record_id", "v")
    val r2 = GoldWriter.upsertBucketed(spark, b2, path)
    assert(r2.insertedRows == 1, "only cNEW is new; c7 conflict-skipped, dup+null dropped")
    assert(r2.totalRows == 101 && r2.duplicateKeys == 0 && r2.nullKeys == 0)
    // first-write-wins
    val c7 = spark.read.parquet(path).where($"crash_record_id" === "c7").collect()(0)
    assert(c7.getAs[Int]("v") == 7)
    // replay is a no-op
    val replay = GoldWriter.upsertBucketed(spark, b2, path)
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
    // the retired key-bucket layout: a flat append would not read its keys
    Seq(("c1", 1, 7)).toDF("crash_record_id", "v", GoldWriter.bucketCol)
      .write.partitionBy(GoldWriter.bucketCol).parquet(path)
    val e = intercept[IllegalStateException] {
      GoldWriter.upsertBucketed(spark, Seq(("c1", 2)).toDF("crash_record_id", "v"), path)
    }
    assert(e.getMessage.contains(s"${GoldWriter.bucketCol}=N"), e.getMessage)
    // the integrity report refuses it too, rather than reading it as empty
    assert(GoldWriter.tableExists(spark, path))
    assert(intercept[IllegalStateException] {
      GoldWriter.integrityCheck(spark, path, "crash_record_id", 0L)
    }.getMessage.contains(s"${GoldWriter.bucketCol}=N"))
    val dir = new java.io.File(path)
    assert(dir.list().toSeq.filter(_.endsWith(".parquet")).isEmpty &&
      spark.read.parquet(path).count() == 1L, "the bucketed table is left as it was")
  }

  test("a replayed batch adds no file to Gold") {
    val path = tmpDir("goldreplay") + "/gold"
    val b = (1 to 50).map(i => (s"c$i", i)).toDF("crash_record_id", "v")
    GoldWriter.upsertBucketed(spark, b, path)
    def names = new java.io.File(path).list().toSeq.sorted
    val before = names
    assert(before.exists(_.endsWith(".parquet")))
    assert(GoldWriter.upsertBucketed(spark, b, path) ==
      GoldWriter.IntegrityReport(50L, 0L, 0L, 0L))
    assert(names == before, "an upsert that inserts nothing must leave Gold's files as they were")
  }

  test("upsertBucketed job budget: no listing jobs, pinned job ceiling, exact insert counts") {
    val path = tmpDir("goldjobs") + "/gold"
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
    info(s"jobs: upsert ${jobs.size}, replay ${replayJobs.size}")
    // 6 each when pinned: the dedup, the broadcast of Gold's keys, the
    // append and the one integrity aggregation, as adaptive stage jobs
    assert(jobs.size <= 6 && replayJobs.size <= 6,
      s"job budget: upsert ran ${jobs.size}, replay ${replayJobs.size}")
  }
}
