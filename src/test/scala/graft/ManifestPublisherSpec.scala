package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ops.ManifestStore
import graft.ops.ManifestStore.Publisher

/** The commit primitive seam (round-11 portability work): the publish CAS
  * must hold on `file://` — where Hadoop's RawLocalFileSystem.rename is
  * POSIX rename(2) and silently REPLACES, i.e. is NOT a CAS — and on
  * stores with no atomic rename at all (the claim-marker protocol),
  * including that protocol's crash windows. Plus CDC event ordering via
  * merge's seqCol, and what a lost publish race costs an upsert's retry.
  */
class ManifestPublisherSpec extends SparkSpec {
  import spark.implicits._

  private def fsFor(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def write(fs: org.apache.hadoop.fs.FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }
  private def readAll(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("premise: RawLocalFileSystem.rename REPLACES an existing destination (why rename is not the local CAS)") {
    // the RAW layer is what production configs select via fs.file.impl (to
    // skip .crc sidecars) and what the checksum wrapper delegates to; its
    // rename is java.io.File#renameTo = POSIX rename(2), which replaces.
    // (The ChecksumFileSystem wrapper's rename happens to REFUSE an
    // existing file destination — but via a non-atomic exists-then-decide,
    // so neither layer is a CAS.) If this ever starts failing, the
    // hard-link publisher is no longer load-bearing on file:// — revisit
    // Publisher.forScheme.
    val dir = tmpDir("pubPremise")
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val a = new Path(dir, "a"); val b = new Path(dir, "b")
    write(raw, a, "first"); write(raw, b, "second")
    assert(raw.rename(b, a), "POSIX rename(2) replaces; both racers would 'win'")
    assert(readAll(raw, a) == "second", "the first commit was silently overwritten")
  }

  private def racePublisher(pub: Publisher, label: String): Unit = {
    val dir = tmpDir(s"pubRace$label")
    val fs = fsFor(dir)
    val target = new Path(dir, "v000000000001.manifest")
    val n = 8
    val tmps = (0 until n).map { i =>
      val t = new Path(dir, s".tmp-$i"); write(fs, t, s"commit-$i"); t
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val winner = new java.util.concurrent.atomic.AtomicInteger(-1)
    val futs = (0 until n).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          if (pub.publish(fs, tmps(i), target)) {
            wins.incrementAndGet(); winner.set(i)
          }
        }
      })
    }
    gate.countDown()
    futs.foreach(_.get())
    pool.shutdown()
    assert(wins.get() == 1, s"$label: exactly one of $n racers must win (got ${wins.get()})")
    assert(readAll(fs, target) == s"commit-${winner.get()}",
      s"$label: the installed manifest must be the winner's bytes")
  }

  test("LocalHardLink: 8 racing publishers, exactly one wins, winner's bytes survive") {
    racePublisher(Publisher.LocalHardLink, "Link")
  }

  test("ExclusiveMarker: 8 racing publishers, exactly one wins, winner's bytes survive") {
    racePublisher(Publisher.ExclusiveMarker, "Marker")
  }

  test("ExclusiveMarker crash window: a claim without its manifest is completed by the next reader") {
    ManifestStore.publisherOverride = Some(Publisher.ExclusiveMarker)
    try {
      val path = tmpDir("pubCrash") + "/t"
      ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
      assert(ManifestStore.current(spark, path).get.version == 1L)
      // simulate a writer that died between claim and install: its manifest
      // bytes are durable in the tmp, the claim records the intent
      val fs = fsFor(path)
      val mdir = new Path(path, "_manifest")
      val v1 = new Path(mdir, "v%012d.manifest".format(1L))
      val tmp = new Path(mdir, ".tmp-crashed")
      write(fs, tmp, readAll(fs, v1)) // a valid manifest body (same segment list)
      // re-point the crashed commit at version 2 with the SAME segment list
      val claim = new Path(mdir, "v%012d.claim".format(2L))
      write(fs, claim, tmp.getName)
      // any read completes the intent: version 2 becomes visible
      val cur = ManifestStore.current(spark, path).get
      assert(cur.version == 2L, s"pending claim must be completed, got v${cur.version}")
      assert(ManifestStore.read(spark, path).count() == 1L)
      // and the table keeps committing past it
      ManifestStore.append(spark, Seq((2L, "b")).toDF("k", "v"), path)
      assert(ManifestStore.current(spark, path).get.version == 3L)
    } finally ManifestStore.publisherOverride = None
  }

  test("ExclusiveMarker dead claim (tmp vacuumed): the version sequence unwedges instead of livelocking") {
    ManifestStore.publisherOverride = Some(Publisher.ExclusiveMarker)
    try {
      val path = tmpDir("pubDead") + "/t"
      ManifestStore.append(spark, Seq((1L, "a")).toDF("k", "v"), path)
      val fs = fsFor(path)
      // a claim whose tmp no longer exists can never be completed — it must
      // be treated as dead, not wedge every subsequent commit at MaxRetries
      write(fs, new Path(path, "_manifest/v%012d.claim".format(2L)), ".tmp-gone")
      val s = ManifestStore.append(spark, Seq((2L, "b")).toDF("k", "v"), path)
      assert(s.version == 2L, "the dead claim's slot must be reclaimed")
      assert(ManifestStore.read(spark, path).count() == 2L)
    } finally ManifestStore.publisherOverride = None
  }

  test("merge seqCol: the LAST event per key by sequence wins (update-then-delete deletes; delete-then-update keeps)") {
    val path = tmpDir("pubSeq") + "/t"
    ManifestStore.append(spark,
      Seq((1L, "one", 0L), (2L, "two", 0L)).toDF("k", "v", "seq"), path)
    // one micro-batch, colliding keys: for k=1 an update(seq=5) then a
    // delete(seq=9) — the delete is the final state; for k=2 a
    // delete(seq=3) then an update(seq=7) — the row must survive updated.
    // Lexicographic dedup would pick "Dx..." vs "upd..." by VALUE sort —
    // exactly the arbitrary outcome seqCol exists to prevent.
    val batch = Seq(
      (1L, "upd-one", 5L), (1L, "D", 9L),
      (2L, "D", 3L), (2L, "upd-two", 7L)
    ).toDF("k", "v", "seq")
    val r = ManifestStore.merge(spark, batch, path, "k",
      deleteWhen = Some(col("v") === "D"),
      insertWhen = Some(col("v") =!= "D"),
      seqCol = Some("seq"))
    assert(r.deleted == 1L && r.updated == 1L && r.inserted == 0L)
    val left = ManifestStore.read(spark, path).orderBy("k")
      .collect().map(row => (row.getLong(0), row.getString(1))).toSeq
    assert(left == Seq((2L, "upd-two")),
      s"k=1 must be deleted (last event), k=2 must survive updated; got $left")
    // a NULL sequence never beats a sequenced event
    val b2 = Seq((2L, "D", Some(8L)), (2L, "zzz-late", None: Option[Long]))
      .toDF("k", "v", "seq")
    ManifestStore.merge(spark, b2, path, "k",
      deleteWhen = Some(col("v") === "D"),
      insertWhen = Some(col("v") =!= "D"), seqCol = Some("seq"))
    // the seq=8 delete outranks the sequence-less event: table is now empty
    // (an explicitly empty commit — read() refuses schema-less empty tables)
    assert(ManifestStore.current(spark, path).get.segments.isEmpty,
      "the seq=8 delete outranks the sequence-less event")
  }

  test("upsert retry after a lost publish reuses the cached batch: no extra source scan") {
    // each run counts how many times its source rows are computed; a retry
    // that lost its batch cache recomputes the dedup from the source
    def sourceScans(loseFirstPublish: Boolean): Long = {
      val path = tmpDir(s"pubRetry$loseFirstPublish") + "/t"
      val scans = spark.sparkContext.longAccumulator
      val batch = spark.range(0L, 200L).as[Long]
        .map { i => scans.add(1L); (i % 150L, s"v$i") }.toDF("k", "v")
      val lose = new java.util.concurrent.atomic.AtomicBoolean(loseFirstPublish)
      ManifestStore.publisherOverride = Some(new Publisher {
        def publish(fs: org.apache.hadoop.fs.FileSystem, tmp: Path, target: Path): Boolean =
          if (lose.getAndSet(false)) { fs.delete(tmp, false); false }
          else Publisher.forScheme(fs).publish(fs, tmp, target)
      })
      try {
        val rep = ManifestStore.upsert(spark, batch, path, "k")
        assert(rep.inserted == 150L && rep.version == 1L, s"report: $rep")
        assert(!lose.get(), "the first publish must have been lost")
      } finally ManifestStore.publisherOverride = None
      assert(ManifestStore.read(spark, path).count() == 150L)
      scans.value
    }
    val wonFirst = sourceScans(loseFirstPublish = false)
    // the pass that fills the dedup cache also yields the dropped-row count
    assert(wonFirst == 200L,
      s"a first-try win must compute its 200 source rows once, computed $wonFirst")
    val lostThenWon = sourceScans(loseFirstPublish = true)
    assert(lostThenWon <= wonFirst,
      s"a lost-then-won upsert scanned its source $lostThenWon times, a first-try win $wonFirst")
  }

  test("ExclusiveMarker: a claim winner whose install fails transiently ABORTS the intent — no duplicate commit at N and N+1") {
    val dir = tmpDir("pubAbort")
    // rename fails ONCE for .manifest destinations — the transient install
    // failure window the round-12 ADVICE describes: without the abort, the
    // durable claim+tmp would later be completed by a reader at version N
    // while the committer's retry re-publishes the same segment at N+1
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst.getName.endsWith(".manifest") && failOnce.getAndSet(false)) false
        else super.rename(src, dst)
    }
    fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val target = new Path(dir, "v000000000001.manifest")
    val claim = new Path(dir, "v000000000001.claim")
    val tmp = new Path(dir, ".tmp-abort")
    write(fs, tmp, "first-attempt")
    assert(!Publisher.ExclusiveMarker.publish(fs, tmp, target),
      "failed install => publish reports the loss")
    // the intent must be fully aborted: no claim, no tmp, no target — a
    // later reader's claim-completion can NOT resurrect the first attempt
    assert(!fs.exists(claim), "claim must be aborted after a failed install")
    assert(!fs.exists(tmp), "tmp must be aborted after a failed install")
    assert(!fs.exists(target))
    // the retry (fresh CAS loop, same slot) re-claims and wins: the slot
    // was released, not wedged
    val tmp2 = new Path(dir, ".tmp-retry")
    write(fs, tmp2, "retry")
    assert(Publisher.ExclusiveMarker.publish(fs, tmp2, target))
    assert(readAll(fs, target) == "retry")
    assert(!fs.exists(tmp2))
  }

  test("overwrite vs racing appends: the overwrite version holds EXACTLY the overwrite's rows (no check-then-act window)") {
    val path = tmpDir("pubOvw") + "/t"
    // the table starts EMPTY (never committed) — exactly the state where
    // the provider's old routing degraded INSERT OVERWRITE to an append
    val n = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n + 1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val appenders = (0 until n).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          ManifestStore.append(spark, Seq((100L + i, s"app$i")).toDF("k", "v"), path)
        }
      })
    }
    val ovw = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = {
        gate.await()
        ManifestStore.overwrite(spark,
          Seq((1L, "ovw"), (2L, "ovw")).toDF("k", "v"), path).version
      }
    })
    gate.countDown()
    appenders.foreach(_.get())
    val ovwVersion = ovw.get()
    pool.shutdown()
    // the overwrite's OWN version is exactly its rows — whatever racers
    // committed before it is erased, whatever commits after it survives
    val atOvw = ManifestStore.readVersion(spark, path, ovwVersion)
      .select("k").as[Long].collect().toSeq.sorted
    assert(atOvw == Seq(1L, 2L),
      s"overwrite version $ovwVersion must hold exactly the overwrite rows, got $atOvw")
    // final state = overwrite rows + only the appends that landed AFTER it
    val finalKeys = ManifestStore.read(spark, path)
      .select("k").as[Long].collect().toSeq.sorted
    val lateAppends = finalKeys.filter(_ >= 100L)
    assert(finalKeys == (Seq(1L, 2L) ++ lateAppends).sorted,
      s"final $finalKeys must be overwrite rows + post-overwrite appends")
  }
}
