package graft

import org.apache.spark.sql.functions._

import graft.ops.ManifestStore
import graft.ops.ManifestStore.Bound

class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  test("append/read round-trip with dense versions; orphan tmp files are harmless") {
    val path = tmpDir("mstore") + "/t"
    val s1 = ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    assert(s1.version == 1L && s1.segments.size == 1)
    val s2 = ManifestStore.append(spark, Seq((3L, "c")).toDF("k", "v"), path)
    assert(s2.version == 2L && s2.segments.size == 2)
    assert(ManifestStore.read(spark, path).count() == 3)
    // a leftover publish tmp (crashed writer mid-commit) must not confuse
    // version resolution
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(path, "_manifest/.tmp-deadbeef"), false).close()
    assert(ManifestStore.current(spark, path).get.version == 2L)
    // empty append is a no-op commit
    val s3 = ManifestStore.append(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), path)
    assert(s3.version == 2L)
  }

  test("schema evolution: mergeSchema append records the union schema; old segments null-fill") {
    val path = tmpDir("mstoreEvo") + "/t"
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    // without mergeSchema an add-column batch still fails fast
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((2L, "b", 1.5)).toDF("k", "v", "score"), path)
    }
    // with it: the manifest records the union schema...
    val s2 = ManifestStore.append(spark,
      Seq((2L, "b", 1.5)).toDF("k", "v", "score"), path, mergeSchema = true)
    assert(s2.schema.map(_.fieldNames.toSeq).contains(Seq("k", "v", "score")))
    // ...reads resolve through it — the pre-evolution segment null-fills,
    // DETERMINISTICALLY (not footer-sampling-order dependent)
    val rows = ManifestStore.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, None), (2L, Some(1.5))))
    // a type CONFLICT on a shared column is still rejected even with mergeSchema
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((3L, "c", "oops")).toDF("k", "v", "score"),
        path, mergeSchema = true)
    }
    // a batch OMITTING an evolved column is fine under mergeSchema
    ManifestStore.append(spark, Seq((4L, "d")).toDF("k", "v"), path, mergeSchema = true)
    assert(ManifestStore.read(spark, path).where(col("k") === 4L).head().isNullAt(2))
    // downstream verbs carry the recorded schema: upsert, merge, compact
    ManifestStore.upsert(spark, Seq((5L, "e", 2.5)).toDF("k", "v", "score"), path, "k")
    ManifestStore.merge(spark, Seq((1L, "A", 9.0)).toDF("k", "v", "score"), path, "k")
    val snapC = ManifestStore.compact(spark, path, partitions = 1)
    assert(snapC.schema.isDefined, "rewrite must keep recording the schema")
    val all = ManifestStore.read(spark, path).orderBy("k").collect()
    assert(all.length == 4 && all.head.getString(1) == "A" && all.head.getDouble(2) == 9.0)
    // time travel on the PRE-evolution version still reads the old 2-col shape
    assert(ManifestStore.readVersion(spark, path, 1L).columns.toSeq == Seq("k", "v"))
  }

  test("merge: update/delete/insert semantics with segment-granular copy-on-write") {
    val path = tmpDir("mstoreMerge") + "/t"
    // three appends => three segments with disjoint key ranges, key stats on
    ManifestStore.append(spark, Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((10L, "c", 30), (11L, "d", 40)).toDF("k", "v", "x"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((20L, "e", 50)).toDF("k", "v", "x"),
      path, statsCols = Seq("k"))
    val before = ManifestStore.current(spark, path).get
    assert(before.entries.size == 3)
    // source: update k=10, delete k=11 (x<0 flag), insert k=30 — and an
    // insert that ALSO satisfies the delete predicate (k=31): Delta
    // semantics say deleteWhen scopes to MATCHED only, so it still inserts
    val src = Seq((10L, "C", 99), (11L, "dead", -1), (30L, "f", 60), (31L, "g", -7))
      .toDF("k", "v", "x")
    val r = ManifestStore.merge(spark, src, path, "k",
      deleteWhen = Some(col("x") < 0), statsCols = Seq("k"))
    assert(r.updated == 1L && r.deleted == 1L && r.inserted == 2L)
    // copy-on-write: only the [10,11] segment held matched keys; the other
    // two manifest entries republish verbatim (same segment names)
    assert(r.segmentsRewritten == 1 && r.segmentsTotal == 3)
    val after = ManifestStore.current(spark, path).get
    val kept = before.entries.map(_.name).toSet.intersect(after.entries.map(_.name).toSet)
    assert(kept.size == 2, "untouched segments must keep their identity")
    val rows = ManifestStore.read(spark, path)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getInt(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a", 10), (2L, "b", 20), (10L, "C", 99),
      (20L, "e", 50), (30L, "f", 60), (31L, "g", -7)))
    // time travel still reads the pre-merge table
    assert(ManifestStore.readVersion(spark, path, before.version)
      .where(col("k") === 10L).head().getString(1) == "c")
    // merging into an empty dir = all inserts
    val p2 = tmpDir("mstoreMerge") + "/t2"
    val r2 = ManifestStore.merge(spark, src, p2, "k", Some(col("x") < 0))
    assert(r2.inserted == 4L && r2.updated == 0L && r2.deleted == 0L)
    // dedup keep-first per key + null keys dropped, like upsert
    val r3 = ManifestStore.merge(spark,
      Seq((Some(30L), "z", 1), (Some(30L), "zz", 2), (None: Option[Long], "n", 3))
        .toDF("k", "v", "x"), path, "k")
    assert(r3.updated == 1L && r3.inserted == 0L && r3.deleted == 0L)
    assert(ManifestStore.read(spark, path).where(col("k") === 30L).head().getString(1) == "z")
    // insertWhen gates the not-matched clause (CDC: a delete event for an
    // absent key must NOT resurrect as an insert)
    val r4 = ManifestStore.merge(spark,
      Seq((40L, "ins", 1), (41L, "del-evt", -1)).toDF("k", "v", "x"), path, "k",
      deleteWhen = Some(col("x") < 0), insertWhen = Some(col("x") >= 0))
    assert(r4.inserted == 1L && r4.updated == 0L && r4.deleted == 0L)
    val ks = ManifestStore.read(spark, path).select("k").collect().map(_.getLong(0)).toSet
    assert(ks.contains(40L) && !ks.contains(41L))
  }

  test("statsCols segments carry parquet bloom filters; undeclared columns don't") {
    val path = tmpDir("mstoreBloom") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    val seg = ManifestStore.current(spark, path).get.segments.head
    val conf = spark.sparkContext.hadoopConfiguration
    val segDir = new org.apache.hadoop.fs.Path(path, seg)
    val file = segDir.getFileSystem(conf).listStatus(segDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val byName = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(byName("k").getBloomFilterOffset >= 0L,
        "declared stats column must carry a bloom filter")
      assert(byName("v").getBloomFilterOffset < 0L,
        "undeclared columns must not pay for blooms")
    } finally reader.close()
  }

  test("readForKeys: point lookups read only the segments whose stats can hold a value") {
    val path = tmpDir("mstorePoint") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (5L, "b")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((10L, "c"), (15L, "d")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((20L, "e")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    // values hit segments 1 and 3; segment 2's [10,15] cannot hold them —
    // result identical to a full-scan filter, but only 2 segments read
    val q = ManifestStore.read(spark, path).where(col("k").isin(5L, 20L, 99L))
    val got = q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((5L, "b"), (20L, "e")))
    val snap = ManifestStore.current(spark, path).get
    val keptE = snap.entries.filter { e =>
      val s = e.stats("k")
      Seq(5L, 20L, 99L).exists(v => s.min.get.toLong <= v && v <= s.max.get.toLong)
    }
    val kept = keptE.size
    assert(kept == 2, "the middle segment must be prunable from stats alone")
    assert(manifestFilesScanned(q) == keptE.map(_.files.size).sum,
      "the scan opens only the kept segments' files")
    // no keys in range at all => empty slice, schema intact, zero reads
    val miss = ManifestStore.read(spark, path).where(col("k").isin(99L))
    assert(miss.count() == 0L)
    assert(manifestFilesScanned(miss) == 0L)
  }

  test("merge on a CLUSTERED table: cluster's seg-<uuid>-<k> names still resolve the touched set") {
    // regression pin: the touched-set probe extracts the segment from
    // input_file_name; a fixed-width uuid pattern would truncate cluster's
    // suffixed names, compute an empty touched set, and DUPLICATE keys.
    // The table path itself contains a "seg-" component to pin the
    // end-of-path anchor too.
    val path = tmpDir("mstoreMergeClu") + "/seg-decoy/t"
    ManifestStore.append(spark,
      (1L to 40L).map(i => (i, i % 7, s"v$i")).toDF("k", "g", "v"), path)
    ManifestStore.cluster(spark, path, axes = Seq("k", "g"), segments = 4,
      statsCols = Seq("k"))
    assert(ManifestStore.current(spark, path).get.segments.forall(_.count(_ == '-') >= 2))
    val r = ManifestStore.merge(spark,
      Seq((1L, 0L, "UPD"), (100L, 0L, "NEW")).toDF("k", "g", "v"), path, "k",
      statsCols = Seq("k"))
    assert(r.updated == 1L && r.inserted == 1L)
    assert(r.segmentsRewritten == 1 && r.segmentsTotal == 4,
      s"clustered touched set must resolve: $r")
    val rows = ManifestStore.read(spark, path)
    assert(rows.count() == 41L, "no duplicated keys after merging a clustered table")
    assert(rows.where(col("k") === 1L).collect().map(_.getString(2)).toSeq == Seq("UPD"))
  }

  test("merge that deletes every row of a touched segment publishes without it") {
    val path = tmpDir("mstoreMergeDel") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    ManifestStore.append(spark, Seq((3L, "c")).toDF("k", "v"), path)
    val r = ManifestStore.merge(spark, Seq((3L, "x")).toDF("k", "v"), path, "k",
      deleteWhen = Some(lit(true)))
    assert(r.deleted == 1L && r.updated == 0L && r.inserted == 0L)
    assert(r.segmentsRewritten == 1)
    assert(ManifestStore.current(spark, path).get.entries.size == 1,
      "an emptied segment must not leave an empty manifest entry")
    assert(ManifestStore.read(spark, path).count() == 2L)
  }

  test("time travel: every surviving version reads exactly as committed; vacuum sets retention") {
    val path = tmpDir("mstoreTT") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    ManifestStore.append(spark, Seq((3L, "c")).toDF("k", "v"), path)
    // v3 rewrites the table down to one row — old versions must still read
    ManifestStore.deleteKeys(spark, path, "k", Seq(1L, 2L).toDF("k"))
    assert(ManifestStore.history(spark, path) == Seq(1L, 2L, 3L))
    assert(ManifestStore.readVersion(spark, path, 1L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(ManifestStore.readVersion(spark, path, 2L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(ManifestStore.readVersion(spark, path, 3L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // never-committed version fails with the retention message
    val ex = intercept[IllegalStateException] {
      ManifestStore.readVersion(spark, path, 99L)
    }
    assert(ex.getMessage.contains("not resolvable"))
    // vacuum past grace trims superseded versions AND their segments;
    // the latest version keeps reading
    Thread.sleep(30)
    ManifestStore.vacuum(spark, path, graceMs = 10)
    assert(ManifestStore.history(spark, path) == Seq(3L),
      "superseded manifests must age out with their segments")
    assert(ManifestStore.snapshotAt(spark, path, 2L).isEmpty)
    assert(ManifestStore.readVersion(spark, path, 3L).count() == 1L)
  }

  test("crash between data write and publish: the segment is invisible; vacuum reclaims it") {
    val path = tmpDir("mstore2") + "/t"
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    // simulate a writer killed after its data write, before its publish
    val orphan = s"$path/seg-orphan-crashed"
    Seq((99L, "ghost")).toDF("k", "v").write.parquet(orphan)
    assert(ManifestStore.read(spark, path).count() == 1,
      "an unpublished segment must never be visible to readers")
    Thread.sleep(30)
    val removed = ManifestStore.vacuum(spark, path, graceMs = 10)
    assert(removed == 1, s"vacuum must reclaim exactly the orphan, removed $removed")
    assert(ManifestStore.read(spark, path).count() == 1)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)))
  }

  test("concurrent appends: every committer's rows survive the CAS race") {
    val path = tmpDir("mstore3") + "/t"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long =
          ManifestStore.append(spark, Seq((i.toLong, s"w$i")).toDF("k", "v"), path).version
      })
    }
    val versions = futures.map(_.get())
    pool.shutdown()
    assert(versions.toSet.size == 8, s"versions must be distinct: $versions")
    assert(ManifestStore.read(spark, path).count() == 8,
      "no append may be lost to the publish race")
    assert(ManifestStore.current(spark, path).get.version == 8L, "versions are dense")
  }

  test("merge-on-read delete: O(batch) publish, sequence-correct re-inserts, compaction materializes") {
    val path = tmpDir("mstoreMor") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path)
    val before = ManifestStore.current(spark, path).get
    // O(batch): the segment list is untouched, one sidecar + one commit
    val snap = ManifestStore.deleteKeysMergeOnRead(spark, path, "k", Seq(2L).toDF("k"))
    assert(snap.entries.map(_.name) == before.entries.map(_.name),
      "a MOR delete must rewrite no segment")
    assert(snap.deletes.size == 1 && snap.deletes.head.keyCol == "k")
    assert(ManifestStore.read(spark, path).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L), "the deleted key is hidden immediately")
    // filtered reads see the logical view too
    assert(ManifestStore.read(spark, path).where(col("k").between(1L, 3L))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(ManifestStore.read(spark, path).where(col("k").isin(2L)).count() == 0L)
    // sequence rule: re-inserting the deleted key lands in a NEWER segment
    // than the delete, so it is visible — the delete cannot swallow it
    val up = ManifestStore.upsert(spark, Seq((2L, "B")).toDF("k", "v"), path, "k")
    assert(up.inserted == 1L, "a MOR-deleted key must be re-insertable")
    assert(ManifestStore.read(spark, path).where(col("k") === 2L)
      .head().getString(1) == "B")
    // merge sees the logical view: the still-deleted key 9 doesn't exist;
    // updates against live keys work with the delete outstanding
    ManifestStore.deleteKeysMergeOnRead(spark, path, "k", Seq(3L).toDF("k"))
    val mr = ManifestStore.merge(spark, Seq((3L, "C3"), (1L, "A")).toDF("k", "v"), path, "k")
    assert(mr.updated == 1L && mr.inserted == 1L,
      s"MOR-deleted key must merge as an insert, live key as an update: $mr")
    // maintain flags the delete debt; compaction materializes it
    assert(ManifestStore.maintain(spark, path).action == "compact")
    ManifestStore.compact(spark, path, partitions = 1)
    val after = ManifestStore.current(spark, path).get
    assert(after.deletes.isEmpty, "a rewrite must drop materialized deletes")
    val rows = ManifestStore.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "A", 2L -> "B", 3L -> "C3"), s"$rows")
    // a read with outstanding deletes serves the logical view
    val p2 = tmpDir("mstoreMor") + "/t2"
    ManifestStore.append(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "v"), p2)
    ManifestStore.deleteKeysMergeOnRead(spark, p2, "k", Seq(1L).toDF("k"))
    assert(ManifestStore.read(spark, p2)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // vacuum keeps live sidecars, reclaims orphaned ones
    val fs = new org.apache.hadoop.fs.Path(p2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p2, "del-orphan"))
    Thread.sleep(30)
    ManifestStore.vacuum(spark, p2, graceMs = 10)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p2, "del-orphan")))
    assert(ManifestStore.read(spark, p2).count() == 1L,
      "the live sidecar must survive vacuum")
  }

  test("maintain: advises from metadata alone, executes on demand, protects clustered layouts") {
    val path = tmpDir("mstoreMaint") + "/t"
    // 6 tiny appended segments: a small-file table
    (1 to 6).foreach(i =>
      ManifestStore.append(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), path))
    val advice = ManifestStore.maintain(spark, path, targetSegmentBytes = 1 << 20)
    assert(advice.action == "compact" && !advice.applied && advice.segmentsBefore == 6)
    // executing folds the table into the advised segment count
    val run = ManifestStore.maintain(spark, path, targetSegmentBytes = 1 << 20,
      apply = true)
    assert(run.applied && run.segmentsAfter == 1)
    assert(ManifestStore.current(spark, path).get.entries.size == 1)
    assert(ManifestStore.read(spark, path).count() == 6L)
    assert(ManifestStore.maintain(spark, path).action == "none",
      "a compacted table is within budget")
    // range-clustered layout under the same small-file pressure: advise
    // re-clustering, never a blind compact that destroys prunability
    val p2 = tmpDir("mstoreMaint") + "/t2"
    ManifestStore.append(spark, (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"), p2)
    ManifestStore.cluster(spark, p2, axes = Seq("k"), segments = 4,
      statsCols = Seq("k"))
    val clu = ManifestStore.maintain(spark, p2, targetSegmentBytes = 1 << 20,
      maxSegments = 2, apply = true)
    assert(clu.action == "cluster-risk" && !clu.applied, s"$clu")
    assert(ManifestStore.current(spark, p2).get.entries.size == 4,
      "the clustered layout must survive")
  }

  test("readCatalyst: ordinary DataFrame filters prune segments inside the planner") {
    val path = tmpDir("mstoreCat") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (5L, "b")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((10L, "c"), (15L, "d")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((20L, "e"), (25L, "f")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    val df = ManifestStore.read(spark, path)
    assert(df.count() == 6L, "unfiltered read sees the whole table")
    // a PLAIN where() must skip the two segments
    // whose [min,max] can't hold the interval
    val q = df.where(col("k") >= 10L && col("k") <= 15L)
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(10L, 15L))
    val allFiles = manifestFilesScanned(ManifestStore.read(spark, path))
    assert(manifestFilesScanned(q) < allFiles,
      s"planner-level skipping must read fewer files: " +
        s"${manifestFilesScanned(q)} of $allFiles")
    // unsupported predicates fall back to a full (still correct) scan
    assert(ManifestStore.read(spark, path)
      .where(col("v").contains("e")).collect().map(_.getString(1)).toSeq == Seq("e"))
    // equality + one-sided bounds prune too
    assert(ManifestStore.read(spark, path).where(col("k") === 25L).count() == 1L)
    assert(ManifestStore.read(spark, path).where(col("k") > 19L).count() == 2L)
    // IN-list point-set pruning: values in segments 1 and 3 — the middle
    // segment's [10,15] holds neither, so the scan opens fewer files
    val inQ = ManifestStore.read(spark, path).where(col("k").isin(5L, 20L))
    assert(inQ.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 20L))
    assert(manifestFilesScanned(inQ) < allFiles, "IN-list pruning must open fewer files")
    // planner-integrated time travel + SQL view
    assert(ManifestStore.readVersion(spark, path, 1L).count() == 2L)
    ManifestStore.read(spark, path).createOrReplaceTempView("mstore_cat_view")
    assert(spark.sql("SELECT COUNT(*) FROM mstore_cat_view WHERE k >= 10 AND k <= 15")
      .head().getLong(0) == 2L)
    // an evolved table reads through the recorded schema on this path too
    ManifestStore.append(spark, Seq((30L, "g", 7.5)).toDF("k", "v", "w"), path,
      mergeSchema = true)
    val evolved = ManifestStore.read(spark, path)
    assert(evolved.columns.toSeq == Seq("k", "v", "w"))
    assert(evolved.where(col("k") === 1L).head().isNullAt(2),
      "pre-evolution segments null-fill through the FileIndex read")
  }

  test("an IN list above the InSet conversion threshold still prunes segments") {
    val path = tmpDir("mstoreInSet") + "/t"
    // four one-file segments; keys 0..10 all sit in the first
    ManifestStore.append(spark, (0L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1), path, statsCols = Seq("k"))
    for (base <- Seq(100L, 200L, 300L))
      ManifestStore.append(spark, (base to base + 10L).map(k => (k, s"v$k"))
        .toDF("k", "v").coalesce(1), path, statsCols = Seq("k"))
    assert(ManifestStore.current(spark, path).get.entries.map(_.files.size) ==
      Seq(1, 1, 1, 1), "fixture wants one file per segment")
    // 10 literals stay an In; 11 exceed spark.sql.optimizer.inSetConversionThreshold
    // (default 10) and become an InSet
    val in10 = ManifestStore.read(spark, path).where(col("k").isin(0L to 9L: _*))
    assert(in10.count() == 10L)
    assert(manifestFilesScanned(in10) == 1L)
    val in11 = ManifestStore.read(spark, path).where(col("k").isin(0L to 10L: _*))
    assert(in11.queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.exists(_.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet])
      .isDefined), "fixture wants an InSet filter")
    assert(in11.count() == 11L)
    assert(manifestFilesScanned(in11) == 1L,
      s"an InSet must prune like an In: ${manifestFilesScanned(in11)} of 4 files")
    // the same through SQL
    ManifestStore.read(spark, path).createOrReplaceTempView("mstore_inset_view")
    val sqlQ = spark.sql("SELECT k FROM mstore_inset_view WHERE k IN (" +
      (0 to 10).mkString(", ") + ")")
    assert(sqlQ.count() == 11L)
    assert(manifestFilesScanned(sqlQ) == 1L)
  }

  test("a manifest with a pre-v5 header fails current() loudly, naming its path") {
    val path = tmpDir("mstoreOldHeader") + "/t"
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = fs.create(new org.apache.hadoop.fs.Path(path,
      f"_manifest/v${2L}%012d.manifest"), false)
    old.write("graft-manifest v4\nseg\t2\tseg-old\n".getBytes("UTF-8"))
    old.close()
    val e = intercept[IllegalArgumentException](ManifestStore.current(spark, path))
    assert(e.getMessage.contains(path) && e.getMessage.contains("graft-manifest v4"),
      e.getMessage)
  }

  test("describe: per-segment rows/bytes/stats coverage from one metadata job") {
    val path = tmpDir("mstoreDesc") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      path, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((3L, "c")).toDF("k", "v"), path)
    val d = ManifestStore.describe(spark, path).collect()
    assert(d.length == 2)
    assert(d.map(_.getAs[Long]("rows")).sorted.toSeq == Seq(1L, 2L),
      "per-segment row counts")
    assert(d.forall(_.getAs[Long]("bytes") > 0L), "bytes from recorded file lists")
    // stats coverage identifies the unprunable segment
    assert(d.map(_.getAs[String]("stats_cols")).sorted.toSeq == Seq("", "k"))
    assert(d.map(_.getAs[String]("null_counts")).sorted.toSeq == Seq("", "k=0"),
      "v5 null counts surface per stats column")
    assert(d.forall(_.getAs[Long]("version") == 2L), "current version on every row")
  }

  test("concurrent merges: CAS losers recompute against the winner, nothing is lost") {
    val path = tmpDir("mstoreMergeRace") + "/t"
    ManifestStore.append(spark,
      (1L to 8L).map(i => (i, "old")).toDF("k", "v"), path)
    // 4 racing merges on disjoint key slices: each updates 2 keys and
    // inserts 1. Every CAS loser must recompute its touched set against
    // the winner's snapshot and still land all of its verbs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (0 until 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[ManifestStore.MergeReport] {
        def call(): ManifestStore.MergeReport = ManifestStore.merge(spark,
          Seq((2L * i + 1, s"upd$i"), (2L * i + 2, s"upd$i"), (100L + i, s"new$i"))
            .toDF("k", "v"), path, "k")
      })
    }
    val reports = futures.map(_.get())
    pool.shutdown()
    assert(reports.forall(r => r.updated == 2L && r.inserted == 1L), s"$reports")
    assert(reports.map(_.version).toSet.size == 4, "versions must be distinct")
    val rows = ManifestStore.read(spark, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 12, s"8 updated + 4 inserted, none lost: $rows")
    assert((1L to 8L).forall(k => rows(k).startsWith("upd")), s"every update landed: $rows")
    assert((0 until 4).forall(i => rows(100L + i) == s"new$i"))
  }

  test("upsert: first-write-wins without a lock — racing writers cannot double-insert") {
    val path = tmpDir("mstore4") + "/t"
    // batch with internal dups and a null key: both dropped, deterministically
    val r0 = ManifestStore.upsert(spark,
      Seq((Option(1L), "a1"), (Option(1L), "a0"), (Option(2L), "b"),
        (Option.empty[Long], "n")).toDF("k", "v"), path, "k")
    assert(r0.inserted == 2 && r0.batchDuplicates == 2)
    val v0 = ManifestStore.read(spark, path).where(col("k") === 1L)
      .collect()(0).getString(1)
    assert(v0 == "a0", "keep-first must be deterministic (full-row order)")
    // overlapping concurrent upserts: k=2 exists, k=3 raced by both
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fs = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[ManifestStore.UpsertReport] {
        def call(): ManifestStore.UpsertReport = ManifestStore.upsert(spark,
          Seq((Option(3L), s"c$i"), (Option(2L), s"b$i")).toDF("k", "v"), path, "k")
      })
    }
    val reports = fs.map(_.get())
    pool.shutdown()
    assert(reports.map(_.inserted).sum == 1,
      s"exactly one racer inserts k=3: $reports")
    val dups = ManifestStore.read(spark, path)
      .groupBy("k").count().where(col("count") > 1).count()
    assert(dups == 0, "no duplicate keys under concurrent upserts")
    assert(ManifestStore.read(spark, path).count() == 3)
    // replay is a no-op (idempotent at-least-once delivery)
    val replay = ManifestStore.upsert(spark,
      Seq((Option(2L), "zzz")).toDF("k", "v"), path, "k")
    assert(replay.inserted == 0 && replay.existingConflicts == 1)
  }

  test("compact: atomic, content-identical, snapshot-isolated for in-flight readers") {
    val path = tmpDir("mstore5") + "/t"
    (1 to 6).foreach(i => ManifestStore.append(spark,
      Seq((i.toLong, s"v$i")).toDF("k", "v"), path))
    val before = ManifestStore.read(spark, path).collect().map(_.toString).sorted.toSeq
    val oldSnap = ManifestStore.current(spark, path).get
    assert(oldSnap.segments.size == 6)
    val snap = ManifestStore.compact(spark, path, partitions = 1)
    assert(snap.segments.size == 1, "compaction must collapse the segment list")
    val after = ManifestStore.read(spark, path).collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction must be byte-identical")
    // an in-flight reader pinned to the pre-compaction snapshot still reads
    // (old segments survive until vacuum's grace expires)
    assert(ManifestStore.readAt(spark, path, oldSnap)
      .collect().map(_.toString).sorted.toSeq == before)
    Thread.sleep(30)
    assert(ManifestStore.vacuum(spark, path, graceMs = 10) == 6)
    assert(ManifestStore.read(spark, path).collect().map(_.toString).sorted.toSeq == before)
  }

  test("schema guard: a mismatched append/upsert fails loudly before writing anything") {
    val path = tmpDir("mstore8") + "/t"
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    // wrong column set
    val e1 = intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((2L, 5)).toDF("k", "other"), path)
    }
    assert(e1.getMessage.contains("incompatible"))
    // same names, wrong type
    val e2 = intercept[IllegalArgumentException] {
      ManifestStore.upsert(spark, Seq((2L, 7)).toDF("k", "v"), path, "k")
    }
    assert(e2.getMessage.contains("incompatible"))
    // nothing leaked into the table or the data tree beyond the one segment
    assert(ManifestStore.read(spark, path).count() == 1)
    val segs = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("seg-"))
    assert(segs == 1, "a rejected commit must not write a segment")
    // a compatible batch still commits
    assert(ManifestStore.upsert(spark, Seq((2L, "b")).toDF("k", "v"), path, "k").inserted == 1)
  }

  test("rewriteAll CAS: a racer's commit between read and publish is retried in, never dropped") {
    val path = tmpDir("mstore7") + "/t"
    ManifestStore.append(spark, (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    ManifestStore.append(spark, (41 to 80).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    val base = ManifestStore.current(spark, path).get
    // simulate a racer that wins the NEXT version while our compaction is
    // between its snapshot read and its publish: write the racer's segment
    // and hand-publish v(base+1) referencing it
    val racerSeg = s"seg-racer-${java.util.UUID.randomUUID()}"
    Seq((999L, "racer")).toDF("k", "v").write.parquet(s"$path/$racerSeg")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Long) = new org.apache.hadoop.fs.Path(path,
      f"_manifest/v$v%012d.manifest")
    // the racer's v5 manifest: the base's lines plus one seg line carrying
    // the racer segment's recorded file list
    val b64 = (s: String) => java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val racerFiles = fs.listStatus(new org.apache.hadoop.fs.Path(path, racerSeg))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => s"${b64(st.getPath.getName)}|${st.getLen}").mkString(",")
    val baseIn = fs.open(manifest(base.version))
    val baseText = try scala.io.Source.fromInputStream(baseIn, "UTF-8").mkString
      finally baseIn.close()
    val out = fs.create(manifest(base.version + 1), false)
    out.write((baseText + s"seg\t${base.version + 1}\t$racerSeg\tfiles:$racerFiles\n")
      .getBytes("UTF-8"))
    out.close()
    // our compaction's FIRST publish attempt targets the taken v(base+1):
    // the CAS must fail, re-read the racer's snapshot, and compact a table
    // that INCLUDES the racer's row
    val snap = ManifestStore.compact(spark, path, partitions = 1)
    assert(snap.version == base.version + 2, "the retry lands on the next free slot")
    val rows = ManifestStore.read(spark, path)
      .collect().map(r => r.getLong(0)).sorted.toSeq
    assert(rows == ((1L to 80L) :+ 999L).sorted,
      "the racer's concurrent commit must survive the compaction")
    assert(snap.segments.size == 1)
  }

  test("two bounds on one end of a column: the tighter one prunes, in either order") {
    val path = tmpDir("mstoreEnds") + "/t"
    // four one-file segments: [0,10], [100,110], [200,210], [300,310]
    Seq(0L, 100L, 200L, 300L).foreach(lo => ManifestStore.append(spark,
      Seq(lo, lo + 10L).toDF("k").coalesce(1), path, statsCols = Seq("k")))
    val t = ManifestStore.read(spark, path)
    assert(manifestFilesScanned(t) == 4L)
    for (q <- Seq(t.where(col("k") > 5L && col("k") > 250L),
        t.where(col("k") > 250L && col("k") > 5L))) {
      assert(q.as[Long].collect().sorted.toSeq == Seq(300L, 310L))
      assert(manifestFilesScanned(q) == 1L, q.queryExecution.optimizedPlan.toString)
    }
    val hi = t.where(col("k") < 305L && col("k") < 105L)
    assert(hi.as[Long].collect().sorted.toSeq == Seq(0L, 10L, 100L))
    assert(manifestFilesScanned(hi) == 2L)
  }

  test("manifest stats: readWhere prunes non-overlapping segments and matches the full-scan filter") {
    val path = tmpDir("mstore9") + "/t"
    // three segments with disjoint year ranges + a string lane + a date col
    def seg(y0: Int, y1: Int, lane: String): Unit = ManifestStore.append(spark,
      (y0 to y1).map(i =>
        (i.toLong, lane, java.sql.Date.valueOf(java.time.LocalDate.of(2000 + i % 20, 1, 1))))
        .toDF("year", "lane", "d"),
      path, statsCols = Seq("year", "lane", "d"))
    seg(2000, 2005, "alpha")
    seg(2006, 2011, "beta")
    seg(2012, 2017, "gamma")
    val snap = ManifestStore.current(spark, path).get
    assert(snap.entries.forall(_.stats.keySet == Set("year", "lane", "d")),
      "every commit declared stats for all three columns")

    def files(es: Seq[ManifestStore.SegmentEntry]): Long = es.map(_.files.size).sum.toLong
    // long bounds: one segment overlaps [2007, 2009]
    val kept = ManifestStore.prunedEntries(snap, Map("year" -> Bound(Some(2007), Some(2009))))
    assert(kept.size == 1, s"expected 1 surviving segment, got ${kept.size}")
    val q = ManifestStore.read(spark, path).where(col("year").between(2007, 2009))
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2007L, 2008L, 2009L))
    assert(manifestFilesScanned(q) == files(kept), "only the kept segment is scanned")

    // string bounds prune in UTF-8 binary order
    val lKept = ManifestStore.prunedEntries(snap, Map("lane" -> Bound(Some("b"), Some("c"))))
    assert(lKept.size == 1)
    val lq = ManifestStore.read(spark, path).where(col("lane").between("b", "c"))
    assert(lq.count() == 6)
    assert(manifestFilesScanned(lq) == files(lKept))

    // date bounds via LocalDate
    val dKept = ManifestStore.prunedEntries(snap, Map("d" -> Bound(
      Some(java.time.LocalDate.of(2012, 1, 1)), Some(java.time.LocalDate.of(2017, 12, 31)))))
    assert(dKept.size < 3, "date stats must prune at least one segment")

    // a conjunction that no segment satisfies → empty result, schema intact
    val none = ManifestStore.read(spark, path)
      .where(col("year").between(2007, 2009) && col("lane").between("g", "h"))
    assert(none.count() == 0 && none.columns.toSeq == Seq("year", "lane", "d"))
    assert(manifestFilesScanned(none) == 0L)

    // exactness contract: the pruned read == the full-scan filter
    val want = ManifestStore.read(spark, path).collect()
      .filter(r => r.getLong(0) >= 2004 && r.getLong(0) <= 2013)
      .map(_.toString).sorted.toSeq
    val have = ManifestStore.read(spark, path)
      .where(col("year").between(2004, 2013)).collect().map(_.toString).sorted.toSeq
    assert(have == want)
  }

  test("manifest stats: stat-less (v1 / undeclared) segments are never pruned; all-NULL columns are") {
    val path = tmpDir("mstore10") + "/t"
    // one stats-free commit (the pre-stats format) + one with stats
    ManifestStore.append(spark,
      Seq((Option(1L), "a"), (Option(2L), "b")).toDF("k", "v"), path)
    ManifestStore.append(spark,
      Seq((Option(100L), "x")).toDF("k", "v"), path, statsCols = Seq("k"))
    // and one whose stats column is entirely NULL
    ManifestStore.append(spark,
      Seq((Option.empty[Long], "nn")).toDF("k", "v"), path, statsCols = Seq("k"))
    val snap = ManifestStore.current(spark, path).get
    assert(snap.entries.size == 3)
    // bounds that exclude the statted segment: the stat-less one must remain
    // (conservative), the all-NULL one must be skipped (no value can match)
    val kept = ManifestStore.prunedEntries(snap, Map("k" -> Bound(Some(1), Some(2))))
    assert(kept.size == 1 && kept.head.stats.isEmpty,
      s"only the conservative stat-less segment survives: $kept")
    val q = ManifestStore.read(spark, path).where(col("k").between(1, 2))
    assert(q.count() == 2)
    assert(manifestFilesScanned(q) == kept.head.files.size)
    assert(ManifestStore.read(spark, path).where(col("k").between(50, 200)).count() == 1)
  }

  test("cluster: z-order layout prunes from the manifest alone on EVERY axis") {
    val path = tmpDir("mstore11") + "/t"
    // 512 rows per (x,y,z) octant of [0, 4096)^3: exactly octant-balanced,
    // so the rank slices align exactly with z-order octants and the
    // per-axis pruning outcome is deterministic
    val rows = for { o <- 0 until 8; r <- 0 until 512 } yield {
      val s1 = (r * 2654435761L) % 2048
      val s2 = (r * 40503L + 17) % 2048
      val s3 = (r * 69621L + 5) % 2048
      ((o * 512 + r).toLong,
        ((o >> 0) & 1) * 2048L + s1, ((o >> 1) & 1) * 2048L + s2,
        ((o >> 2) & 1) * 2048L + s3)
    }
    ManifestStore.append(spark, rows.toDF("id", "x", "y", "z"), path)
    val snap = ManifestStore.cluster(spark, path, Seq("x", "y", "z"),
      segments = 8, statsCols = Seq("x", "y", "z"), bits = 12)
    assert(snap.entries.size == 8, s"expected 8 clustered segments, got ${snap.entries.size}")
    assert(snap.entries.forall(_.stats.keySet == Set("x", "y", "z")))
    // exact balance: the rank-slice assignment puts exactly 512 rows in
    // each segment (no range-sampling wobble)
    val sizes = snap.entries.map(e =>
      spark.read.parquet(s"$path/${e.name}").count())
    assert(sizes.forall(_ == 512L), s"segments must be exactly balanced: $sizes")
    // a half-domain slice on EACH axis keeps exactly its 4 octants — the
    // z-order guarantee (a single-column sort prunes only its own axis)
    for (axis <- Seq("x", "y", "z")) {
      val kept = ManifestStore.prunedEntries(snap, Map(axis -> Bound(Some(0), Some(2047))))
      assert(kept.size == 4, s"axis $axis: kept ${kept.size} of 8 segments")
      val q = ManifestStore.read(spark, path).where(col(axis).between(0, 2047))
      val got = q.collect().map(_.getLong(0)).sorted.toSeq
      val want = ManifestStore.read(spark, path).collect()
        .filter(r => r.getAs[Long](axis) <= 2047L).map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"axis $axis: pruned read must equal the full-scan filter")
      assert(manifestFilesScanned(q) == kept.map(_.files.size).sum,
        s"axis $axis: the scan opens only the kept segments' files")
    }
    // content is identical to the pre-cluster table
    assert(ManifestStore.read(spark, path).collect().map(_.toString).sorted.toSeq ==
      rows.map(r => s"[${r._1},${r._2},${r._3},${r._4}]").sorted)
    // crashed-cluster staging trees are vacuumed
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path, "stage-crashed"))
    Thread.sleep(30)
    assert(ManifestStore.vacuum(spark, path, graceMs = 10) >= 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "stage-crashed")))
    assert(ManifestStore.read(spark, path).count() == 4096)
  }

  test("deleteKeys: atomic rewrite; a crashed rewrite (no publish) changes nothing") {
    val path = tmpDir("mstore6") + "/t"
    ManifestStore.append(spark,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    // crash simulation: a rewrite's data files land but its publish never
    // happens — readers must see the table unchanged
    ManifestStore.read(spark, path).where(col("k") > 50)
      .write.parquet(s"$path/seg-halfdone-rewrite")
    assert(ManifestStore.read(spark, path).count() == 100)
    val (deleted, remaining) = ManifestStore.deleteKeys(spark, path, "k",
      ((1 to 30).map(_.toLong) ++ Seq(9999L)).toDF("k"))
    assert(deleted == 30 && remaining == 70, s"($deleted, $remaining)")
    assert(ManifestStore.read(spark, path).where(col("k") <= 30).count() == 0)
  }

  test("restore: time-travel WRITE — old content republished as a new commit, history intact") {
    val path = tmpDir("mstoreRestore") + "/t"
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path) // v1
    ManifestStore.append(spark, Seq((2L, "b")).toDF("k", "v"), path) // v2
    ManifestStore.merge(spark, Seq((1L, "A"), (3L, "c")).toDF("k", "v"),
      path, "k") // v3: rewrite + insert
    assert(ManifestStore.read(spark, path).count() == 3)
    // restore v1: content exactly as of v1, zero data I/O, NEW version
    val restored = ManifestStore.restore(spark, path, 1L)
    assert(restored.version == 4L)
    val rows = ManifestStore.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a")), s"restored content must be v1's: $rows")
    // history is never rewritten: the in-between versions still resolve
    assert(ManifestStore.history(spark, path) == Seq(1L, 2L, 3L, 4L))
    assert(ManifestStore.readVersion(spark, path, 3L).count() == 3)
    // the table keeps working after a restore (append on top)
    ManifestStore.append(spark, Seq((9L, "z")).toDF("k", "v"), path)
    assert(ManifestStore.read(spark, path).count() == 2)
    // restoring the current version is a no-op
    assert(ManifestStore.restore(spark, path, 5L).version == 5L)
    // a restore TARGET with outstanding MOR deletes restores the deletes too
    val p2 = tmpDir("mstoreRestore2") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), p2) // v1
    ManifestStore.deleteKeysMergeOnRead(spark, p2, "k", Seq(1L).toDF("k")) // v2
    ManifestStore.compact(spark, p2, 1) // v3 materializes the delete
    val r2 = ManifestStore.restore(spark, p2, 2L) // back to the MOR state
    assert(r2.deletes.size == 1)
    assert(ManifestStore.read(spark, p2).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("emptied table (all rows deleted) stays fully operational: read/readWhere/readForKeys/merge from the recorded schema") {
    val path = tmpDir("mstoreEmptied") + "/t"
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"))
    // merge that deletes EVERY row publishes an empty-segment manifest
    val rep = ManifestStore.merge(spark,
      Seq((1L, "x"), (2L, "y")).toDF("k", "v"), path, "k",
      deleteWhen = Some(lit(true)), insertWhen = Some(lit(false)))
    assert(rep.deleted == 2L && rep.inserted == 0L)
    val snap = ManifestStore.current(spark, path).get
    assert(snap.segments.isEmpty, "delete-everything merge => zero segments")
    // every read verb serves the schema-correct empty relation, not a crash
    assert(ManifestStore.read(spark, path).count() == 0L)
    assert(ManifestStore.read(spark, path).columns.toSeq == Seq("k", "v"))
    assert(ManifestStore.read(spark, path).where(col("k").between(0L, 10L)).count() == 0L)
    assert(ManifestStore.read(spark, path).where(col("k").isin(1L)).count() == 0L)
    // the recorded schema is ENFORCED on the emptied table, not forgotten
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((1, 2.0)).toDF("wrong", "shape"), path)
    }
    // a merge into the emptied table treats all source rows as inserts
    val rep2 = ManifestStore.merge(spark,
      Seq((5L, "fresh")).toDF("k", "v"), path, "k")
    assert(rep2.inserted == 1L && rep2.updated == 0L && rep2.deleted == 0L)
    assert(ManifestStore.read(spark, path).select("k").as[Long].collect().toSeq
      == Seq(5L))
  }

  test("vacuum retention floor: minVersionsToKeep pins history") {
    val path = tmpDir("mstoreVacRet") + "/t"
    (1 to 5).foreach(i =>
      ManifestStore.append(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), path))
    Thread.sleep(30)
    ManifestStore.vacuum(spark, path, graceMs = 10L, minVersionsToKeep = 2)
    val after = ManifestStore.history(spark, path)
    assert(after == Seq(4L, 5L), s"minVersionsToKeep=2 keeps the newest two, got $after")
    // a kept NON-latest version's segments survived too (time travel)
    assert(ManifestStore.readVersion(spark, path, 4L).count() == 4L)
    assert(ManifestStore.read(spark, path).count() == 5L)
  }
}
