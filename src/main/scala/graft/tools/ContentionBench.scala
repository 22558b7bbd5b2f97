package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.ManifestStore

/** Multi-writer CONTENTION decade for the manifest commit protocol — the
  * write-side twin of [[ManifestDecade]]: the CAS is spec'd correct under
  * 8 racers (ManifestPublisherSpec), but correctness says nothing about
  * the COST curve, and the failure mode of optimistic concurrency at
  * scale is quadratic retry work (every round crowns one winner, every
  * loser re-reads and re-publishes). Per (publisher primitive × writer
  * count) cell the tool runs W threads × K appends each against one fresh
  * table and measures wall-clock commit throughput plus the retry
  * evidence, metered at the one seam every commit passes through
  * ([[ManifestStore.publisherOverride]] wrapping the real primitive with
  * attempt/win counters — attempts − wins = lost CAS rounds).
  *
  * Both `file://`-capable primitives are measured: the hard-link CAS
  * (the local default) and the claim-marker protocol (the
  * unknown-scheme/object-store fallback, which pays extra round-trips per
  * publish by design). Appends here carry a tiny 100-row segment so the
  * data-write term is constant and small — the CAS term is what varies
  * with W.
  *
  * Usage: `sbt "runMain graft.tools.ContentionBench [out.json]"`.
  */
object ContentionBench {

  private final class Counting(inner: ManifestStore.Publisher)
      extends ManifestStore.Publisher {
    val attempts = new AtomicLong(0L)
    val wins = new AtomicLong(0L)
    override def publish(fs: FileSystem, tmp: Path, target: Path): Boolean = {
      attempts.incrementAndGet()
      val won = inner.publish(fs, tmp, target)
      if (won) wins.incrementAndGet()
      won
    }
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "artifacts/contention_r12.json"
    val spark = GraftSession.local()

    val commitsPerWriter = 6
    val prims = Seq(
      "hardlink" -> ManifestStore.Publisher.LocalHardLink,
      "marker" -> ManifestStore.Publisher.ExclusiveMarker)
    val cells = for {
      (primName, prim) <- prims
      writers <- Seq(2, 8, 32)
    } yield {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-contend-$primName-$writers-").toString + "/t"
      // seed so every writer appends to an existing table
      ManifestStore.append(spark,
        spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v")), path)
      val counting = new Counting(prim)
      ManifestStore.publisherOverride = Some(counting)
      val baseAttempts = counting.attempts.get()
      val errors = new AtomicLong(0L)
      val t0 = System.nanoTime()
      val threads = (0 until writers).map { w =>
        new Thread(() => {
          (0 until commitsPerWriter).foreach { i =>
            try ManifestStore.append(spark,
              spark.range(100).select(
                (col("id") + w * 1000 + i).as("k"), (col("id") % 7).as("v")),
              path)
            catch { case _: Throwable => errors.incrementAndGet() }
          }
        }, s"committer-$w")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val wallSec = (System.nanoTime() - t0) / 1e9
      ManifestStore.publisherOverride = None
      val commits = writers * commitsPerWriter
      val attempts = counting.attempts.get() - baseAttempts
      val lost = attempts - counting.wins.get() // every append wins exactly once
      val version = ManifestStore.current(spark, path).get.version
      require(version == commits + 1 && errors.get() == 0L,
        s"expected ${commits + 1} versions, got $version (${errors.get()} errors)")
      val row = s"""{"publisher":"$primName","writers":$writers,""" +
        s""""commits":$commits,"wall_sec":${f"$wallSec%.2f"},""" +
        s""""commits_per_sec":${f"${commits / wallSec}%.2f"},""" +
        s""""cas_attempts":$attempts,"cas_lost":$lost,""" +
        s""""retries_per_commit":${f"${lost.toDouble / commits}%.2f"}}"""
      println(row)
      row
    }
    val json = "[" + cells.mkString(",\n ") + "]"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
