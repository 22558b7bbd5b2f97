package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.ManifestStore

/** Schema evolution beyond add-column: rename and type-widen as
  * METADATA-ONLY commits over stable physical column names
  * (ManifestStore.renameColumn / widenColumn / addColumn). Pins the full
  * contract: reads stitch pre- and post-evolution segments correctly,
  * stats pruning survives (keys are physical), merge-on-read deletes and
  * MERGE keep working across a rename, time travel resolves each version
  * under ITS logical names, and a full rewrite re-baselines the mapping
  * away.
  */
class EvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def t(prefix: String): String = tmpDir(prefix) + "/t"

  test("renameColumn is metadata-only and reads stitch old+new segments") {
    val path = t("evo-rename")
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"))
    val before = ManifestStore.current(spark, path).get
    ManifestStore.renameColumn(spark, path, "k", "id")
    val after = ManifestStore.current(spark, path).get
    // pure metadata: same entries, same files, one version bump
    assert(after.version == before.version + 1)
    assert(after.entries == before.entries)
    assert(ManifestStore.hasMapping(after.schema.get))
    // post-rename append writes the PHYSICAL name — the new segment's
    // parquet spells the column "k" like the old one
    ManifestStore.append(spark, Seq((3L, "c")).toDF("id", "v"), path,
      statsCols = Seq("id"))
    val got = ManifestStore.read(spark, path).orderBy("id")
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    // both segments' stats are keyed by the same physical name
    val snap = ManifestStore.current(spark, path).get
    assert(snap.entries.forall(_.stats.contains("k")))
    // pre-rename batches (old logical name) are now incompatible — loud
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((9L, "z")).toDF("k", "v"), path)
    }
  }

  test("stats pruning keeps working through a rename (physical keys)") {
    val path = t("evo-prune")
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((100L, "x"), (200L, "y")).toDF("k", "v"), path,
      statsCols = Seq("k"))
    ManifestStore.renameColumn(spark, path, "k", "id")
    val snap = ManifestStore.current(spark, path).get
    // stats stay keyed by the PHYSICAL name; a filter on the LOGICAL name
    // reaches them through the read's alias projection
    val kept = ManifestStore.prunedEntries(snap,
      Map("k" -> ManifestStore.Bound(Some(150L), Some(300L))))
    assert(kept.size == 1)
    val hit = ManifestStore.read(spark, path).where(col("id").between(150L, 300L))
    assert(hit.select("id").as[Long].collect().toSeq == Seq(200L))
    assert(manifestFilesScanned(hit) == kept.head.files.size)
    val byKey = ManifestStore.read(spark, path).where(col("id").isin(2L))
    assert(byKey.select("v").as[String].collect().toSeq == Seq("b"))
    assert(manifestFilesScanned(byKey) ==
      snap.entries.filterNot(_ == kept.head).map(_.files.size).sum)
  }

  test("widenColumn promotes old narrow segments at scan time") {
    val path = t("evo-widen")
    ManifestStore.append(spark,
      Seq((1, 1.5f, 7), (2, 2.5f, 8)).toDF("k", "f", "d"), path,
      statsCols = Seq("k"))
    ManifestStore.widenColumn(spark, path, "k", LongType)
    ManifestStore.widenColumn(spark, path, "f", DoubleType)
    ManifestStore.widenColumn(spark, path, "d", DoubleType)
    // post-widen appends carry the wide type natively; reads mix both
    ManifestStore.append(spark,
      Seq((3000000000L, 3.5d, 9.5d)).toDF("k", "f", "d"), path,
      statsCols = Seq("k"))
    val got = ManifestStore.read(spark, path).orderBy("k")
    assert(got.schema("k").dataType == LongType)
    assert(got.schema("f").dataType == DoubleType)
    assert(got.schema("d").dataType == DoubleType)
    assert(got.collect().toSeq == Seq(
      Row(1L, 1.5d, 7.0d), Row(2L, 2.5d, 8.0d), Row(3000000000L, 3.5d, 9.5d)))
    // pruning across the int-tagged old segment and long-tagged new one
    val hit = ManifestStore.read(spark, path).where(col("k").between(10L, 4000000000L))
    assert(hit.count() == 1)
    // non-lossless widenings refuse loudly
    intercept[IllegalArgumentException] {
      ManifestStore.widenColumn(spark, path, "k", DoubleType) // long→double
    }
    intercept[IllegalArgumentException] {
      ManifestStore.widenColumn(spark, path, "f", FloatType) // narrowing
    }
  }

  test("addColumn after a rename-away mints a distinct physical name") {
    val path = t("evo-readd")
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    ManifestStore.renameColumn(spark, path, "k", "id")
    // "k" is free logically but its PHYSICAL slot holds id's data
    ManifestStore.addColumn(spark, path, "k", StringType)
    val sch = ManifestStore.current(spark, path).get.schema.get
    val kField = sch.fields.find(_.name == "k").get
    assert(ManifestStore.physicalName(kField) != "k") // minted
    // old rows null-fill the new column; id still serves the old data
    assert(ManifestStore.read(spark, path).collect().toSeq ==
      Seq(Row(1L, "a", null)))
    ManifestStore.append(spark, Seq((2L, "b", "new")).toDF("id", "v", "k"), path)
    assert(ManifestStore.read(spark, path).orderBy("id")
      .select("id", "v", "k").collect().toSeq ==
      Seq(Row(1L, "a", null), Row(2L, "b", "new")))
    // the unsafe path — a mergeSchema append re-using the physical name —
    // is refused instead of stitching wrong data
    val path2 = t("evo-collide")
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path2)
    ManifestStore.renameColumn(spark, path2, "k", "id")
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((2L, "b", "boom")).toDF("id", "v", "k"),
        path2, mergeSchema = true)
    }
  }

  test("merge-on-read deletes and MERGE survive a rename") {
    val path = t("evo-mor")
    ManifestStore.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path,
      statsCols = Seq("k"))
    // delete BEFORE the rename (sidecar spelled "k"), then rename
    ManifestStore.deleteKeysMergeOnRead(spark, path, "k", Seq(2L).toDF("k"))
    ManifestStore.renameColumn(spark, path, "k", "id")
    assert(ManifestStore.read(spark, path).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    // delete AFTER the rename (logical name in, physical sidecar out)
    ManifestStore.deleteKeysMergeOnRead(spark, path, "id", Seq(3L).toDF("id"))
    assert(ManifestStore.read(spark, path).select("id").as[Long]
      .collect().toSeq == Seq(1L))
    assert(ManifestStore.current(spark, path).get.deletes.forall(_.keyCol == "k"))
    // the versioned read of the same snapshot agrees (physical-space anti-joins)
    assert(ManifestStore.readVersion(spark, path,
      ManifestStore.current(spark, path).get.version)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // MERGE on the renamed key: updates + inserts, stats-pruned probe
    val rep = ManifestStore.merge(spark,
      Seq((1L, "A"), (9L, "i")).toDF("id", "v"), path, key = "id",
      statsCols = Seq("id"))
    assert(rep.updated == 1 && rep.inserted == 1)
    assert(ManifestStore.read(spark, path).orderBy("id").collect().toSeq ==
      Seq(Row(1L, "A"), Row(9L, "i")))
  }

  test("time travel resolves each version under its own logical names") {
    val path = t("evo-tt")
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path) // v1
    ManifestStore.renameColumn(spark, path, "k", "id") // v2
    ManifestStore.append(spark, Seq((2L, "b")).toDF("id", "v"), path) // v3
    assert(ManifestStore.readVersion(spark, path, 1L).columns.toSeq ==
      Seq("k", "v"))
    assert(ManifestStore.readVersion(spark, path, 1L).collect().toSeq ==
      Seq(Row(1L, "a")))
    assert(ManifestStore.readVersion(spark, path, 3L).columns.toSeq ==
      Seq("id", "v"))
    // restore to the pre-rename version brings the old logical name back
    ManifestStore.restore(spark, path, 1L)
    assert(ManifestStore.read(spark, path).columns.toSeq == Seq("k", "v"))
  }

  test("a full rewrite re-baselines the mapping to logical names") {
    val path = t("evo-rebase")
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"))
    ManifestStore.renameColumn(spark, path, "k", "id")
    assert(ManifestStore.hasMapping(
      ManifestStore.current(spark, path).get.schema.get))
    ManifestStore.compact(spark, path, 1, statsCols = Seq("id"))
    val snap = ManifestStore.current(spark, path).get
    assert(!ManifestStore.hasMapping(snap.schema.get)) // identity again
    assert(snap.entries.forall(_.stats.contains("id"))) // stats logical now
    assert(ManifestStore.read(spark, path).orderBy("id").collect().toSeq ==
      Seq(Row(1L, "a"), Row(2L, "b")))
    // describe reports logical names before AND after the re-baseline
    assert(ManifestStore.describe(spark, path).select("stats_cols")
      .as[String].collect().forall(_ == "id"))
  }

  test("dropColumn hides the column, reserves its physical, rewrite reclaims it") {
    val path = t("evo-drop")
    ManifestStore.append(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "n"), path,
      statsCols = Seq("k"))
    val before = ManifestStore.current(spark, path).get
    ManifestStore.dropColumn(spark, path, "v")
    val after = ManifestStore.current(spark, path).get
    // pure metadata: same entries, one version bump, column gone from view
    assert(after.entries == before.entries)
    assert(ManifestStore.read(spark, path).columns.toSeq == Seq("k", "n"))
    assert(ManifestStore.read(spark, path).orderBy("k").collect().toSeq ==
      Seq(Row(1L, 10), Row(2L, 20)))
    assert(ManifestStore.readVersion(spark, path, after.version).columns.toSeq ==
      Seq("k", "n"))
    // appends now carry the narrowed shape; the old wide batch is refused
    ManifestStore.append(spark, Seq((3L, 30)).toDF("k", "n"), path)
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((9L, "z", 90)).toDF("k", "v", "n"), path)
    }
    // re-adding the dropped name mints a fresh physical: old "v" data can
    // never resurrect (a mergeSchema re-add is refused outright)
    intercept[IllegalArgumentException] {
      ManifestStore.append(spark, Seq((8L, 80, "new")).toDF("k", "n", "v"),
        path, mergeSchema = true)
    }
    ManifestStore.addColumn(spark, path, "v", StringType)
    val vf = ManifestStore.current(spark, path).get.schema.get
      .fields.find(_.name == "v").get
    assert(ManifestStore.physicalName(vf) != "v")
    assert(ManifestStore.read(spark, path).where(col("k") === 1L)
      .select("v").head().isNullAt(0)) // NOT "a" — the dropped data stays dead
    // time travel to the pre-drop version still serves the old column
    assert(ManifestStore.readVersion(spark, path, before.version)
      .columns.toSeq == Seq("k", "v", "n"))
    // a full rewrite re-baselines: tombstone gone, visible columns only
    ManifestStore.compact(spark, path, 1, statsCols = Seq("k"))
    val rebased = ManifestStore.current(spark, path).get.schema.get
    assert(!ManifestStore.hasMapping(rebased))
    assert(rebased.fieldNames.toSeq == Seq("k", "n", "v"))
    // dropping the MOR-delete key column is refused until materialized
    val path2 = t("evo-drop-mor")
    ManifestStore.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path2)
    ManifestStore.deleteKeysMergeOnRead(spark, path2, "k", Seq(2L).toDF("k"))
    intercept[IllegalArgumentException] {
      ManifestStore.dropColumn(spark, path2, "k")
    }
  }

  test("SQL ALTER TABLE DROP COLUMN routes through the catalog") {
    if (spark.conf.getOption("spark.sql.catalog.evocat").isEmpty) {
      spark.conf.set("spark.sql.catalog.evocat", "graft.sources.ManifestCatalog")
      spark.conf.set("spark.sql.catalog.evocat.warehouse", tmpDir("evo-wh"))
    }
    spark.sql("CREATE TABLE evocat.default.d (k BIGINT, v STRING, n INT)")
    spark.sql("INSERT INTO evocat.default.d VALUES (1, 'a', 10)")
    spark.sql("ALTER TABLE evocat.default.d DROP COLUMN v")
    assert(spark.sql("SELECT * FROM evocat.default.d").columns.toSeq ==
      Seq("k", "n"))
    assert(spark.sql("SELECT * FROM evocat.default.d").collect().toSeq ==
      Seq(Row(1L, 10)))
    spark.sql("DROP TABLE evocat.default.d")
  }

  test("an append raced by a rename refuses instead of misfiling its staged segment") {
    val path = t("evo-race")
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    // interleave deterministically at the ONE seam every commit passes
    // through: the appender stages its segment under the old mapping, and
    // just before its publish wins the slot, a rename commits first —
    // the retry must REFUSE (logical k is gone; merging it back as "new"
    // would alias the renamed field's physical parquet column)
    @volatile var fired = false
    lazy val delaying: ManifestStore.Publisher = new ManifestStore.Publisher {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Boolean = {
        if (!fired) {
          fired = true
          ManifestStore.publisherOverride = None
          try ManifestStore.renameColumn(spark, path, "k", "id")
          finally ManifestStore.publisherOverride = Some(delaying)
        }
        ManifestStore.Publisher.LocalHardLink.publish(fs, tmp, target)
      }
    }
    ManifestStore.publisherOverride = Some(delaying)
    try {
      val e = intercept[IllegalStateException] {
        ManifestStore.append(spark, Seq((2L, "b")).toDF("k", "v"), path)
      }
      assert(e.getMessage.contains("schema evolution raced"))
    } finally ManifestStore.publisherOverride = None
    // the table is intact under the rename: one row, new logical names
    assert(ManifestStore.read(spark, path).columns.toSeq == Seq("id", "v"))
    assert(ManifestStore.read(spark, path).count() == 1)
    // whereas a raced WIDEN is harmless: the staged narrow encoding reads
    // under the widened type (the reader promotes) — the commit proceeds
    val path2 = t("evo-race-widen")
    ManifestStore.append(spark, Seq((1, "a")).toDF("k", "v"), path2)
    fired = false
    lazy val widening: ManifestStore.Publisher = new ManifestStore.Publisher {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Boolean = {
        if (!fired) {
          fired = true
          ManifestStore.publisherOverride = None
          try ManifestStore.widenColumn(spark, path2, "k", LongType)
          finally ManifestStore.publisherOverride = Some(widening)
        }
        ManifestStore.Publisher.LocalHardLink.publish(fs, tmp, target)
      }
    }
    ManifestStore.publisherOverride = Some(widening)
    try ManifestStore.append(spark, Seq((2, "b")).toDF("k", "v"), path2)
    finally ManifestStore.publisherOverride = None
    val got = ManifestStore.read(spark, path2)
    assert(got.schema("k").dataType == LongType)
    assert(got.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("appendChecked evaluates expectations under logical names on a renamed table") {
    val path = t("evo-gate")
    val q = tmpDir("evo-gate-q")
    ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
    ManifestStore.renameColumn(spark, path, "k", "id")
    val ok = ManifestStore.appendChecked(spark, Seq((5L, "e")).toDF("id", "v"),
      path, Seq(graft.ops.Expectations.NotNull("id")), q)
    assert(ok.published)
    val bad = ManifestStore.appendChecked(spark,
      Seq((java.lang.Long.valueOf(6L), "f"), (null.asInstanceOf[java.lang.Long], "g"))
        .toDF("id", "v"),
      path, Seq(graft.ops.Expectations.NotNull("id")), q)
    assert(!bad.published && bad.violations.nonEmpty)
    assert(ManifestStore.read(spark, path).count() == 2)
  }
}
