package graft

import org.apache.spark.sql.functions._

import graft.ops.ManifestStore

/** Model-based interleaving sweep for the manifest store: a SEEDED random
  * sequence of every table verb runs against both the real store and an
  * in-memory reference map, and after EVERY op the store's logical view
  * must equal the model exactly. This is the test shape that catches
  * cross-verb interactions the per-verb specs can't — e.g. a merge-on-read
  * delete whose sequence rule mis-fires against a segment committed by a
  * later merge, or a compaction that materializes deletes incorrectly.
  * Keys are drawn from a SMALL universe so collisions (re-inserts of
  * deleted keys, updates of updated keys) happen constantly; values are
  * unique per step so any stale row is unambiguous.
  */
class ManifestStoreModelSpec extends SparkSpec {
  import spark.implicits._

  // the sweep runs once per commit PRIMITIVE: the default (hard-link CAS on
  // file://) and the claim-marker protocol for stores with no atomic rename
  // — every verb inherits the publish seam, so both must pass unmodified
  for ((label, pub) <- Seq(
    ("default publisher", None),
    ("ExclusiveMarker publisher", Some(ManifestStore.Publisher.ExclusiveMarker))))
  test(s"30-op random interleaving of all verbs matches the reference model after every op [$label]") {
    ManifestStore.publisherOverride = pub
    try sweep() finally ManifestStore.publisherOverride = None
  }

  private def sweep(): Unit = {
    val path = tmpDir("mstoreModel") + "/t"
    val rnd = new scala.util.Random(42)
    val model = scala.collection.mutable.Map.empty[Long, String]
    var step = 0

    def freshBatch(n: Int): Seq[(Long, String)] = {
      val ks = rnd.shuffle((0L until 16L).toList).take(n).distinct
      ks.map(k => (k, s"v$step-$k"))
    }
    def table(): Map[Long, String] =
      if (ManifestStore.current(spark, path).exists(_.segments.nonEmpty))
        ManifestStore.read(spark, path)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      else Map.empty
    // model state per committed version, so a restore's expected content
    // is replayable from the model's own history
    val modelHistory = scala.collection.mutable.Map.empty[Long, Map[Long, String]]

    (1 to 30).foreach { _ =>
      step += 1
      rnd.nextInt(8) match {
        case 0 => // upsert: first-write-wins, only absent keys land
          val b = freshBatch(1 + rnd.nextInt(3))
          ManifestStore.upsert(spark, b.toDF("k", "v"), path, "k")
          b.foreach { case (k, v) => if (!model.contains(k)) model(k) = v }
        case 1 => // append of strictly-fresh keys (append dedups nothing)
          val b = freshBatch(1 + rnd.nextInt(3)).filterNot(kv => model.contains(kv._1))
          if (b.nonEmpty) {
            ManifestStore.append(spark, b.toDF("k", "v"), path, statsCols = Seq("k"))
            b.foreach { case (k, v) => model(k) = v }
          }
        case 2 => // merge: delete when the value carries the D flag
          val b = freshBatch(1 + rnd.nextInt(3)).map { case (k, v) =>
            (k, if (rnd.nextBoolean()) s"D$v" else v)
          }
          if (model.nonEmpty || b.nonEmpty) {
            ManifestStore.merge(spark, b.toDF("k", "v"), path, "k",
              deleteWhen = Some(col("v").startsWith("D")))
            b.foreach { case (k, v) =>
              if (model.contains(k)) {
                if (v.startsWith("D")) model.remove(k) else model(k) = v
              } else model(k) = v // not-matched inserts regardless of flag
            }
          }
        case 3 => // merge-on-read delete of a random existing/absent mix
          if (ManifestStore.current(spark, path).exists(_.segments.nonEmpty)) {
            val ks = freshBatch(1 + rnd.nextInt(2)).map(_._1)
            ManifestStore.deleteKeysMergeOnRead(spark, path, "k", ks.toDF("k"))
            ks.foreach(model.remove)
          }
        case 4 => // copy-on-write delete
          if (model.nonEmpty) {
            val ks = rnd.shuffle(model.keys.toList).take(1 + rnd.nextInt(2))
            ManifestStore.deleteKeys(spark, path, "k", ks.toDF("k"))
            ks.foreach(model.remove)
          }
        case 5 => // compact: layout-only
          if (ManifestStore.current(spark, path).exists(_.segments.nonEmpty) &&
            model.nonEmpty)
            ManifestStore.compact(spark, path, partitions = 1 + rnd.nextInt(3))
        case 6 => // cluster: layout-only
          if (ManifestStore.current(spark, path).exists(_.segments.nonEmpty) &&
            model.size >= 2)
            ManifestStore.cluster(spark, path, axes = Seq("k"),
              segments = 2, statsCols = Seq("k"))
        case 7 => // restore: time-travel write back to a random recorded version
          val resolvable = ManifestStore.history(spark, path)
            .filter(modelHistory.contains)
          if (resolvable.nonEmpty) {
            val target = resolvable(rnd.nextInt(resolvable.size))
            ManifestStore.restore(spark, path, target)
            model.clear(); model ++= modelHistory(target)
          }
      }
      ManifestStore.current(spark, path).foreach(s =>
        modelHistory(s.version) = model.toMap)
      assert(table() == model.toMap,
        s"store diverged from model at step $step: store=${table()} model=$model")
      // the whole READER surface must agree with the model too
      if (ManifestStore.current(spark, path).exists(_.segments.nonEmpty)) {
        val cat = graft.ops.ManifestRead.readCatalyst(spark, path)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(cat == model.toMap, s"readCatalyst diverged at step $step: $cat")
        val snap = ManifestStore.current(spark, path).get
        assert(ManifestStore.describe(spark, path).count() == snap.entries.size)
      }
    }
    // the sweep must have actually exercised the MOR machinery at least once
    assert(step == 30)
  }
}
