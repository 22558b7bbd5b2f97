package graft.tools

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** A `file://` clone under the `countfs://` scheme that METERS filesystem
  * metadata calls — the observability tool behind the zero-listing
  * manifest-planning claim: at 10⁵ segments the cost that kills object-
  * store planners is not bytes but `listStatus`/`getFileStatus`
  * round-trips, so the claim "planning makes zero data-tree metadata
  * calls" must be assertable, not asserted (ManifestZeroListingSpec and
  * ManifestSqlSpec pin it).
  *
  * Register with `fs.countfs.impl = graft.tools.CountingFs` in the
  * session's hadoopConfiguration and address paths as `countfs:/...`.
  * Backed by [[RawLocalFileSystem]] (no .crc sidecars), so any local path
  * works unchanged.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.record("listStatus", p)
    super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingFs.record("getFileStatus", p)
    super.getFileStatus(p)
  }
}

object CountingFs {
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  @volatile private var on = false

  private[tools] def record(op: String, p: Path): Unit =
    if (on) calls.add((op, p.toString))

  /** Start metering (clears any prior recording). */
  def start(): Unit = { calls.clear(); on = true }

  /** Stop metering and return the recorded (operation, path) calls. */
  def stop(): Seq[(String, String)] = {
    on = false
    val out = Vector.newBuilder[(String, String)]
    calls.forEach(c => out += c)
    calls.clear()
    out.result()
  }

  /** Wire the scheme into a session's Hadoop conf (idempotent). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
}
