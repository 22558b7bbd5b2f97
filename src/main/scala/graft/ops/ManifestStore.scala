package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Atomic-commit parquet table: write-new-files, then atomically publish a
  * MANIFEST listing the table's live segments; readers resolve every scan
  * through the latest manifest. ONE protocol covers the crash windows that
  * [[graft.gold.GoldWriter]]'s check-then-append and its advisory writer
  * lock each defend on their own (the mini table-format discipline of
  * Delta/Iceberg commit logs, re-derived for this engine's needs):
  *
  *  - **Crash atomicity**: data files land under fresh UUID segment
  *    directories that no manifest references yet; the commit is a single
  *    atomic RENAME of `.tmp-*` to `_manifest/v{N}.manifest`. A writer
  *    killed between data write and publish leaves only an invisible
  *    orphan segment ([[vacuum]] reclaims it) — a reader can never observe
  *    a half-written table.
  *  - **Optimistic concurrency**: version numbers are dense; rename fails
  *    if `v{N}` already exists, so exactly one of two racing committers
  *    wins vN and the loser re-reads and retries against the winner's
  *    state. [[append]] retries trivially (its segment is still valid);
  *    [[upsert]] RECOMPUTES its anti-join against the new snapshot before
  *    retrying, which closes GoldWriter's two-writers-both-observe-absent
  *    race without any advisory lock; [[rewriteAll]] (compaction/delete)
  *    aborts and retries the whole rewrite, so a concurrent append is
  *    never silently dropped.
  *  - **No list-directory consistency assumption**: readers list only the
  *    small `_manifest/` directory to find the max version; data files are
  *    addressed BY NAME from the manifest, so eventually-consistent object
  *    listings of the data tree can neither hide a committed file nor
  *    surface an uncommitted one. (The publish itself needs ONE atomic
  *    install-if-absent primitive, isolated behind the [[Publisher]] seam:
  *    hard-link CAS on `file://` — POSIX rename(2), and therefore Hadoop's
  *    RawLocalFileSystem.rename, silently REPLACES an existing destination,
  *    so rename is NOT a CAS there — rename-no-replace on HDFS where that
  *    IS the documented contract, and a claim-marker protocol for stores
  *    with neither; see [[Publisher.forScheme]] for the full contract.)
  *  - **Snapshot isolation for readers**: a scan planned against vN keeps
  *    reading vN's files even while vN+1 commits, because rewrites never
  *    mutate or delete referenced files — [[vacuum]] only deletes segments
  *    unreferenced by the LATEST manifest and older than a grace period
  *    (choose it to exceed any plausible query runtime).
  *  - **One scan planner**: every read — [[read]], [[readVersion]] and the
  *    conflict scans inside [[upsert]], [[merge]], [[rewriteAll]] and the
  *    predicate DML verbs — plans through [[ManifestRead]]'s file index,
  *    from the manifest's recorded schema and per-segment file lists: no
  *    data-tree listing, no footer schema inference.
  *  - **Manifest-level data skipping**: a commit may record per-segment
  *    min/max/null-count stats for declared columns (`statsCols`); an
  *    ordinary `read(...).where(...)` prunes non-overlapping segments from
  *    the manifest ALONE ([[prunedEntries]]) — zero filesystem reads for
  *    the skipped data, not even the parquet footers a file-level stats
  *    prune still opens. Combined with [[cluster]]'s Z-order layout a
  *    selective predicate on ANY clustered axis skips most of the table.
  *    Segments without stats on a column (undeclared at commit) are NEVER
  *    pruned on it — skipping is always conservative.
  *
  * The on-disk format is `graft-manifest v5` only: a header line, a
  * `schema` line, then `seg`/`del` lines (see [[fmtEntry]]). Any other
  * header fails loudly in [[current]].
  *
  * Scale notes: a manifest is O(segments) lines of text — compaction keeps
  * it short, and the coefficient is MEASURED (SCALE.md): at 10 000 live
  * segments the manifest is ~2 MB, `current()` parses it in ~16 ms,
  * planning stays flat (~40 ms, zero data-tree FS calls) and commit
  * latency is dominated by the segment write, not the manifest rewrite —
  * flat is fine to 10⁴ segments, and [[maintain]]'s default
  * `maxSegments = 64` advises compaction ~150× below that bound. If a
  * deployment needs 10⁵+ live segments, chunk at the
  * `readManifest`/`tryPublish` seam (one header version bump). The
  * commit path adds zero Spark jobs beyond the data write (stats ride the
  * write itself, see [[statsAggs]]); [[upsert]]'s conflict scan reads only
  * the key column of the manifest-resolved files (Catalyst prunes).
  */
object ManifestStore {

  private val ManifestDir = "_manifest"
  private val Header = "graft-manifest v5"
  private val MaxRetries = 50
  private val MaxBloomBytes = 1 << 17 // per-column bloom bitset cap, see writeSegment
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Per-segment, per-column min/max in a type-tagged string encoding
    * (`typ` in long/double/decimal/string/date/ts — the normalization
    * [[statsTyp]] applies at write). `None` min/max = the column is
    * entirely NULL in that segment, which any interval predicate excludes.
    * `nulls` is the column's null count — nulls=0 prunes `IS NULL` probes
    * from the manifest alone.
    */
  final case class ColStats(typ: String, min: Option[String], max: Option[String],
      nulls: Option[Long] = None)

  /** One live segment: directory name (relative to the table root) plus
    * whatever stats its committing writer declared (possibly none), and
    * `seq` — the manifest version that first committed it. Sequence
    * numbers decide which merge-on-read delete files apply to which
    * segments. `files` are the segment's data files (name + byte length,
    * relative to the segment dir), stamped at commit time — planning a
    * read makes ZERO filesystem metadata calls on the data tree (the
    * listing was already paid, once, by the committer whose page cache was
    * hot) — and `rows` is the segment row count, recorded when stats are
    * declared ([[describe]]'s physical view without a count job).
    */
  final case class SegmentEntry(name: String, stats: Map[String, ColStats],
      seq: Long = 0L, files: Seq[(String, Long)] = Nil,
      rows: Option[Long] = None)

  /** A merge-on-read delete sidecar ([[deleteKeysMergeOnRead]]): a parquet
    * file of `keyCol` values published at version `seq`. It suppresses
    * matching rows in every segment with `segment.seq < seq` — segments
    * committed AFTER the delete are untouched, so a later re-insert of a
    * deleted key is visible (the Iceberg-v2 sequence rule). Rewrites
    * ([[compact]]/[[cluster]]/[[deleteKeys]]) materialize and drop these.
    */
  final case class DeleteFile(name: String, keyCol: String, seq: Long)

  /** One resolved table state: dense `version`, the segment entries that
    * constitute it, the recorded table schema and any outstanding
    * merge-on-read delete files. Every manifest records its schema
    * ([[readManifest]] enforces it); only the no-table placeholder
    * `Snapshot(0L, Nil)` a first commit starts from has none.
    * `segments` keeps the original name-only view.
    */
  final case class Snapshot(version: Long, entries: Seq[SegmentEntry],
      schema: Option[StructType] = None,
      deletes: Seq[DeleteFile] = Nil) {
    def segments: Seq[String] = entries.map(_.name)

    /** The recorded schema, tombstones and physical-name metadata included
      * (empty for the placeholder).
      */
    def recordedSchema: StructType = schema.getOrElse(new StructType())

    /** The columns a read serves: the visible fields, nullable. */
    def logicalSchema: StructType =
      StructType(visible(recordedSchema).fields.map(_.copy(nullable = true)))
  }

  /** What a [[merge]] did: row counts per MERGE verb, plus the
    * copy-on-write evidence — how many of the table's segments actually
    * had to be rewritten vs republished untouched.
    */
  final case class MergeReport(updated: Long, deleted: Long, inserted: Long,
      segmentsRewritten: Int, segmentsTotal: Int, version: Long)

  final case class UpsertReport(inserted: Long, batchDuplicates: Long,
      existingConflicts: Long, version: Long)

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: Path, v: Long): Path =
    new Path(root, f"$ManifestDir/v$v%012d.manifest")

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      scala.util.Try(name.stripPrefix("v").stripSuffix(".manifest").toLong).toOption
    else None

  /** List committed versions from the `_manifest/` directory, first
    * completing any pending [[Publisher.ExclusiveMarker]] claims — a claim
    * without its manifest is a crashed winner's durable intent, which any
    * reader finishes (zero cost when no claims exist, i.e. on every
    * rename/hard-link-published table).
    */
  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) return Nil
    var statuses = fs.listStatus(dir).toSeq
    val names = statuses.map(_.getPath.getName).toSet
    val pending = statuses.filter { st =>
      val n = st.getPath.getName
      n.endsWith(".claim") && !names.contains(n.stripSuffix(".claim") + ".manifest")
    }
    if (pending.nonEmpty) {
      pending.foreach { st =>
        Publisher.completeClaim(fs, st.getPath,
          new Path(dir, st.getPath.getName.stripSuffix(".claim") + ".manifest"))
      }
      statuses = fs.listStatus(dir).toSeq
    }
    statuses.flatMap(s => versionOf(s.getPath.getName))
  }

  /** Latest committed snapshot, or None for an uninitialized table. Lists
    * only the `_manifest/` directory (never the data tree).
    */
  def current(spark: SparkSession, path: String): Option[Snapshot] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val versions = listVersions(fs, root)
    if (versions.isEmpty) None
    else {
      val v = versions.max
      val (entries, schema, deletes) = readManifest(fs, manifestPath(root, v))
      Some(Snapshot(v, entries, Some(schema), deletes))
    }
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(Utf8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), Utf8)

  /** Entry line: `name<TAB>field…` where a field is either `rows:<n>`,
    * `files:<b64(name)>|<len>[,…]`, or a stats block
    * `b64(col)|typ|b64(min)|b64(max)|nulls` — the prefixes are unambiguous
    * because base64 has no `:`. A stats-free commit has no stats blocks.
    */
  private def fmtEntry(e: SegmentEntry): String = {
    val rowF = e.rows.map(r => s"rows:$r").toSeq
    val fileF =
      if (e.files.isEmpty) Nil
      else Seq("files:" + e.files.map { case (n, l) => s"${b64(n)}|$l" }.mkString(","))
    val statF = e.stats.toSeq.sortBy(_._1).map { case (c, st) =>
      Seq(b64(c), st.typ, st.min.map(b64).getOrElse(""), st.max.map(b64).getOrElse(""),
        st.nulls.map(_.toString).getOrElse(""))
        .mkString("|")
    }
    (e.name +: (rowF ++ fileF ++ statF)).mkString("\t")
  }

  private def parseEntry(line: String): SegmentEntry = {
    val parts = line.split('\t')
    var rows: Option[Long] = None
    var files: Seq[(String, Long)] = Nil
    val stats = Map.newBuilder[String, ColStats]
    parts.tail.foreach { f =>
      if (f.startsWith("rows:")) rows = Some(f.stripPrefix("rows:").toLong)
      else if (f.startsWith("files:"))
        files = f.stripPrefix("files:").split(',').toSeq.map { x =>
          val Array(n, l) = x.split("\\|", -1)
          (unb64(n), l.toLong)
        }
      else {
        val Array(c, typ, mn, mx, nulls) = f.split("\\|", -1)
        stats += unb64(c) -> ColStats(typ,
          Some(mn).filter(_.nonEmpty).map(unb64),
          Some(mx).filter(_.nonEmpty).map(unb64),
          Some(nulls).filter(_.nonEmpty).map(_.toLong))
      }
    }
    SegmentEntry(parts.head, stats.result(), 0L, files, rows)
  }

  private def readManifest(fs: FileSystem, p: Path)
      : (Seq[SegmentEntry], StructType, Seq[DeleteFile]) = {
    val in = fs.open(p)
    val lines = try
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
    val header = lines.headOption
    require(header.contains(Header),
      s"$p is not a $Header manifest (header ${header.getOrElse("<empty>")})")
    val body = lines.tail.filter(_.nonEmpty)
    val schema = body.collectFirst { case l if l.startsWith("schema\t") =>
      DataType.fromJson(unb64(l.split("\t", 2)(1))).asInstanceOf[StructType]
    }.getOrElse(throw new IllegalArgumentException(s"$p records no schema"))
    val segs = body.filter(_.startsWith("seg\t")).map { l =>
      val Array(_, seq, e) = l.split("\t", 3)
      parseEntry(e).copy(seq = seq.toLong)
    }
    val dels = body.filter(_.startsWith("del\t")).map { l =>
      val Array(_, seq, kc, name) = l.split("\t", 4)
      DeleteFile(name, unb64(kc), seq.toLong)
    }
    (segs, schema, dels)
  }

  /** The ONE filesystem operation the whole commit protocol's exclusivity
    * rests on, isolated as a seam: atomically install a fully-written temp
    * file as `target` IFF `target` does not exist, reporting whether this
    * caller won. Every table verb (append/upsert/merge/rewriteAll/cluster/
    * deleteKeysMergeOnRead) inherits whichever primitive runs here, so the
    * FS contract lives in exactly one place — pick with
    * [[Publisher.forScheme]] (the default) or pin via [[publisherOverride]].
    */
  trait Publisher { // open: publisherOverride invites deployment-specific
    // primitives (a conditional-put-capable store) and metering wrappers
    /** Install `tmp` as `target` iff `target` is absent; true = won. A
      * loser must leave `target` exactly as the winner published it.
      */
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean
  }

  object Publisher {
    private def quietDelete(fs: FileSystem, p: Path): Unit =
      try fs.delete(p, false) catch { case _: java.io.IOException => () }

    /** HDFS-family primitive: `FileSystem.rename` is atomic and FAILS when
      * the destination exists — the documented HDFS rename contract. NOT
      * safe on `file://` (RawLocalFileSystem.rename is java.io.File#renameTo
      * = POSIX rename(2), which silently REPLACES the destination, so two
      * racers can both "win" and the loser's commit is silently orphaned)
      * and not safe on S3-style stores (rename is a non-atomic copy+delete).
      */
    case object RenameNoReplace extends Publisher {
      def publish(fs: FileSystem, tmp: Path, target: Path): Boolean = {
        val won = try fs.rename(tmp, target)
        catch { case _: java.io.IOException => false }
        if (!won) quietDelete(fs, tmp)
        won
      }
    }

    /** `file://` primitive: `java.nio.Files.createLink` — link(2) fails
      * with EEXIST when the target exists, an atomic no-replace guarantee
      * POSIX actually makes (unlike rename(2), which replaces). The tmp
      * file is unlinked after the outcome either way; the manifest bytes
      * survive under the target name iff we won.
      */
    case object LocalHardLink extends Publisher {
      def publish(fs: FileSystem, tmp: Path, target: Path): Boolean = {
        val t = java.nio.file.Paths.get(target.toUri.getPath)
        val s = java.nio.file.Paths.get(tmp.toUri.getPath)
        val won =
          try { java.nio.file.Files.createLink(t, s); true }
          catch {
            case _: java.io.IOException => false
            // a local mount without hard-link support (some FUSE/overlay
            // configurations): link(2) is structurally unavailable, not
            // transiently failing — fall back to the marker protocol
            // (claim files are create-exclusive via O_EXCL on file://, so
            // exclusivity survives the downgrade) instead of crashing
            // every commit on such a mount
            case _: UnsupportedOperationException | _: SecurityException =>
              return ExclusiveMarker.publish(fs, tmp, target)
          }
        try java.nio.file.Files.deleteIfExists(s)
        catch { case _: java.io.IOException => () }
        won
      }
    }

    /** Marker protocol for stores with atomic create-exclusive but NO
      * atomic no-replace rename: the race is decided by exclusive creation
      * of a `v{N}.claim` marker recording the temp file's name — a
      * write-ahead intent — and the claim winner then installs
      * tmp→target with a plain, replace-tolerant rename (exactly one
      * claimant reaches the install, so replace semantics cannot lose a
      * commit). A writer that crashes between claim and install is
      * repaired by ANY later reader or committer completing the recorded
      * intent ([[completeClaim]], wired into version listing): the
      * manifest content was durable in tmp BEFORE the claim existed, so
      * completion is always possible until [[vacuum]]'s grace expires.
      * Claims persist beside their manifests (vacuum trims both) so a
      * decided version slot can never be re-claimed. For stores where even
      * create-exclusive is emulated (S3 without conditional writes), plug
      * a conditional-put publisher into this seam (If-None-Match PUT) or
      * front commits with a coordinator — that boundary is now explicit
      * code, not an implied rename assumption.
      */
    case object ExclusiveMarker extends Publisher {
      /** The protocol's one requirement: claim creation must be ATOMIC
        * create-if-absent. Hadoop's RawLocalFileSystem implements
        * `create(overwrite = false)` as a non-atomic exists-then-create,
        * so on `file://` the claim goes through java.nio CREATE_NEW
        * (O_EXCL) — the GoldWriter lock idiom; other schemes use the
        * filesystem's own exclusive create.
        */
      private def claimExclusive(fs: FileSystem, claim: Path, tmpName: String): Boolean = {
        val bytes = tmpName.getBytes(Utf8)
        val scheme = Option(fs.getUri.getScheme).getOrElse("file")
        if (scheme == "file") {
          try {
            java.nio.file.Files.write(
              java.nio.file.Paths.get(claim.toUri.getPath), bytes,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } catch { case _: java.io.IOException => false }
        } else {
          try {
            val out = fs.create(claim, false)
            try out.write(bytes) finally out.close()
            true
          } catch { case _: java.io.IOException => false }
        }
      }

      def publish(fs: FileSystem, tmp: Path, target: Path): Boolean = {
        val claim = claimOf(target)
        val claimed = claimExclusive(fs, claim, tmp.getName)
        if (!claimed) {
          // a racer owns the slot; help a crashed winner finish, then lose
          completeClaim(fs, claim, target)
          quietDelete(fs, tmp)
          false
        } else {
          val renamed = try fs.rename(tmp, target)
          catch { case _: java.io.IOException => false }
          // a helper may have completed our durable intent before we did —
          // target present means OUR manifest is installed (we own the claim)
          if (renamed || fs.exists(target)) true
          else {
            // transient install failure while we own the slot: ABORT the
            // intent before reporting the loss. Order matters — delete the
            // tmp FIRST (after that no helper can install it), re-check the
            // target (a helper may have completed us just before the
            // delete), and only then release the claim. Leaving the durable
            // claim+tmp behind would let a later reader complete this
            // commit at version N while our retry re-publishes the same
            // segment at N+1 — the same rows committed twice.
            quietDelete(fs, tmp)
            if (fs.exists(target)) true
            else { quietDelete(fs, claim); false }
          }
        }
      }
    }

    private[ops] def claimOf(target: Path): Path =
      new Path(target.getParent,
        target.getName.stripSuffix(".manifest") + ".claim")

    /** Finish a claimed-but-uninstalled commit (the [[ExclusiveMarker]]
      * crash window): rename the claim's recorded tmp into the target. A
      * claim whose tmp AND target are both gone is dead (the tmp was
      * durable before the claim, so only vacuum/manual deletion removes
      * it) — deleting it reopens the slot so the version sequence cannot
      * wedge.
      */
    private[ops] def completeClaim(fs: FileSystem, claim: Path, target: Path): Unit =
      try {
        if (fs.exists(target)) return
        val in = fs.open(claim)
        val tmpName = try
          scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        val tmp = new Path(claim.getParent, tmpName)
        if (tmpName.nonEmpty && fs.exists(tmp)) {
          try fs.rename(tmp, target) catch { case _: java.io.IOException => () }
        } else if (!fs.exists(target)) {
          quietDelete(fs, claim) // dead claim: unwedge the version sequence
        }
      } catch { case _: java.io.IOException => () }

    /** Scheme-keyed default: `file://` gets the hard-link CAS (POSIX rename
      * replaces — the rename "CAS" is a silent-lost-commit bug there), the
      * HDFS family gets rename-no-replace (its documented contract), and
      * any OTHER scheme gets the marker protocol — never assume rename
      * semantics an object store doesn't document.
      */
    def forScheme(fs: FileSystem): Publisher =
      Option(fs.getUri.getScheme).getOrElse("file") match {
        case "file" => LocalHardLink
        case "hdfs" | "viewfs" | "webhdfs" | "swebhdfs" => RenameNoReplace
        case _ => ExclusiveMarker
      }
  }

  /** Pin a specific publish primitive (tests exercise each; a deployment
    * with a conditional-put-capable store pins its own [[Publisher]]).
    * None = [[Publisher.forScheme]] decides per filesystem.
    */
  @volatile var publisherOverride: Option[Publisher] = None

  /** Write the manifest body to a tmp name, then atomically install it
    * into the dense version slot via the scheme's [[Publisher]]. False =
    * the slot was taken (a racer committed first); the caller re-reads and
    * retries.
    */
  private def tryPublish(fs: FileSystem, root: Path, v: Long,
      entries: Seq[SegmentEntry], schema: StructType,
      deletes: Seq[DeleteFile] = Nil): Boolean = {
    val target = manifestPath(root, v)
    if (fs.exists(target)) return false // cheap pre-check; the publisher decides
    val tmp = new Path(root,
      s"$ManifestDir/.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    // every entry rides with the seq its committer stamped
    val lines = Seq(Header, s"schema\t${b64(schema.json)}") ++
      (entries.map(e => s"seg\t${e.seq}\t${fmtEntry(e)}") ++
        deletes.map(d => s"del\t${d.seq}\t${b64(d.keyCol)}\t${d.name}"))
    try out.write(lines.mkString("", "\n", "\n").getBytes(Utf8))
    finally out.close()
    publisherOverride.getOrElse(Publisher.forScheme(fs)).publish(fs, tmp, target)
  }

  /** Normalized stats type tag + the aggregation-ready column for a field:
    * integrals/booleans → long, floats → double, decimals stay decimal
    * (string-encoded AFTER the min/max so numeric order is preserved),
    * dates → epoch days, timestamps → epoch micros, strings raw. Fails
    * fast on non-orderable/nested types — declare only atomic stats cols.
    */
  private def statsTyp(f: StructField): (String, Column) = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      ("long", col(f.name).cast(LongType))
    case BooleanType => ("long", col(f.name).cast(LongType))
    case FloatType | DoubleType => ("double", col(f.name).cast(DoubleType))
    case _: DecimalType => ("decimal", col(f.name))
    case StringType => ("string", col(f.name))
    case DateType => ("date", expr(s"unix_date(${f.name})").cast(LongType))
    case TimestampType => ("ts", expr(s"unix_micros(${f.name})"))
    case t => throw new IllegalArgumentException(
      s"ManifestStore statsCols: ${f.name} has non-orderable type ${t.simpleString}")
  }

  /** Min/max/null-count/row-count aggregate columns for the segment-stats
    * observation (r13): the same per-column aggregates [[segmentStatsOf]]
    * decodes, attached to the WRITE itself via `Dataset.observe` — the
    * write job's tasks fold them as rows stream to parquet, so a
    * stats-bearing commit costs ONE Spark job instead of two (the old
    * post-write `spark.read.parquet(segPath).agg(...)` re-read every
    * segment it had just written; across the serial commit protocol that
    * was a whole job per commit). Values are identical by construction:
    * the identical aggregate expressions over the identical rows, computed
    * before the parquet round-trip instead of after it (min/max/count are
    * deterministic and insensitive to partitioning). The row and null
    * counts assume no speculative task attempts: GraftSession pins
    * spark.speculation off.
    */
  private def statsAggs(schema: StructType, statsCols: Seq[String]): Seq[Column] = {
    val fields = statsCols.map(c => schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"statsCols: no column $c in segment schema")))
    val typed = fields.map(statsTyp)
    count(lit(1)).as("rows") +:
      typed.zipWithIndex.flatMap { case ((_, c), i) =>
        Seq(min(c).cast(StringType).as(s"mn_$i"), max(c).cast(StringType).as(s"mx_$i"),
          count(col(statsCols(i))).as(s"nn_$i")) }
  }

  /** Decode an observed [[statsAggs]] metric map into the manifest's
    * per-column stats map + the segment row count. `statsCols` empty keeps
    * the historical contract: no stats, `rows = None` (the observation
    * still carried the row count for the emptiness check, but the manifest
    * entry stays byte-identical to the pre-observation format).
    */
  private def segmentStatsOf(metrics: Map[String, Any],
      statsCols: Seq[String], schema: StructType): (Map[String, ColStats], Option[Long]) = {
    if (statsCols.isEmpty) return (Map.empty, None)
    val typed = statsCols.map(c => statsTyp(schema.fields.find(_.name == c).get))
    val rows = metrics("rows").asInstanceOf[Long]
    val stats = statsCols.zipWithIndex.map { case (name, i) =>
      name -> ColStats(typed(i)._1,
        Option(metrics(s"mn_$i")).map(_.toString),
        Option(metrics(s"mx_$i")).map(_.toString),
        Some(rows - metrics(s"nn_$i").asInstanceOf[Long]))
    }.toMap
    (stats, Some(rows))
  }

  /** The segment's data files (name + length, relative to the segment
    * dir), listed ONCE at commit time while the committer's metadata is
    * hot — every later read plans from this recorded list with zero FS
    * calls on the data tree.
    */
  private def listSegmentFiles(fs: FileSystem, segPath: Path): Seq[(String, Long)] =
    fs.listStatus(segPath).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(s => (s.getPath.getName, s.getLen)).sortBy(_._1)

  /** Write `df` into a fresh (not yet referenced) segment directory.
    * Returns the segment entry (stats attached when `statsCols` declared;
    * file list always stamped), or None when `df` is empty — an empty
    * spark parquet write has no schema-bearing files, and an empty commit
    * would be a no-op anyway.
    *
    * `tableSchema` (the base snapshot's recorded schema, when the commit
    * extends an existing table) carries the logical→physical column
    * mapping: a renamed column is written to disk under its stable
    * PHYSICAL name, and its stats are computed and keyed physically — so
    * every segment of the table, whenever committed, spells its columns
    * the same way. None (a first commit, or a full rewrite re-baselining
    * the mapping) writes logical names verbatim.
    */
  private def writeSegment(spark: SparkSession, root: Path, df: DataFrame,
      statsCols: Seq[String],
      tableSchema: Option[StructType] = None): Option[SegmentEntry] = {
    val rename = l2p(tableSchema)
    val pdf0 =
      if (rename.isEmpty) df
      else df.select(df.columns.toSeq.map(c =>
        rename.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)
    // Output file sizing (r12, guide §6): REBALANCE before the write so AQE
    // sizes the segment's files to advisoryPartitionSizeInBytes instead of
    // inheriting the computation's partitioning — a tiny DML rewrite
    // otherwise sprays one near-empty file per shuffle partition (measured:
    // sql7's 13k-row merged segment landed as 34 files; with the hint it is
    // one). Scale-adaptive by construction: a 100 GB append still splits
    // into ~64 MB files, a skewed write is split by the same machinery.
    // Skipped when the caller's plan root is an explicit repartition
    // (compact() owns its file count) or AQE is off (the hint would add a
    // shuffle nobody resizes).
    val explicitlyPartitioned = df.queryExecution.logical match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => true
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => true
      case _ => false
    }
    val rebalance =
      !explicitlyPartitioned && spark.sessionState.conf.adaptiveExecutionEnabled
    val pdf = if (rebalance) pdf0.hint("rebalance") else pdf0
    val pStats = statsCols.map(c => rename.getOrElse(c, c))
    val seg = s"seg-${java.util.UUID.randomUUID()}"
    val segPath = new Path(root, seg).toString
    // declared stats columns also get parquet BLOOM FILTERS: manifest
    // min/max skip whole segments at listing time, the blooms then skip
    // row groups INSIDE surviving files on point predicates (=, IN) —
    // Spark's parquet reader consults them automatically. Sizing (r12):
    // parquet's default is a FIXED 1 MiB bitset per column per file when
    // the writer gets no NDV hint — measured as 34 MB of bloom bytes on a
    // 1 MB segment. Prefer the adaptive writer (sizes the bitset from the
    // observed NDV; parquet-mr 1.14+) and cap the worst case at
    // MaxBloomBytes = 128 KiB (~100k distinct keys at the default fpp —
    // beyond that the filter degrades gracefully, it never lies).
    // Stats fold into the write job itself (r13, guide §1.2/§5 job-count):
    // observe() attaches the statsAggs aggregates to the write's own tasks,
    // so the old dedicated post-write stats job (a full re-read of the
    // just-written segment, one extra Spark job per commit across the whole
    // serial protocol) disappears. The observed row count also replaces the
    // read-back emptiness probe for statless commits. The counts assume
    // spark.speculation off (GraftSession pins it): observed metrics ride
    // accumulators, which a duplicate task attempt can inflate.
    val obs = org.apache.spark.sql.Observation(s"segstats-$seg")
    val aggs = statsAggs(pdf.schema, pStats)
    val observed = pdf.observe(obs, aggs.head, aggs.tail: _*)
    val withBlooms = pStats.foldLeft(observed.write) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.option("parquet.bloom.filter.adaptive.enabled", "true")
      .option("parquet.bloom.filter.max.bytes", MaxBloomBytes.toString)
    withBlooms.parquet(segPath)
    val metrics = obs.get
    // Emptiness is probed AFTER the write (r12): the old `df.isEmpty`
    // pre-check was a second full execution of the commit's input per
    // segment (take(1) on an aggregate materializes every shuffle) — the
    // common non-empty commit paid its pipeline twice to guard the rare
    // empty one. An empty write leaves no schema-bearing part files (or
    // only empty footers); tear the staged dir down and return None
    // exactly as before — the observed count now answers it for free.
    val fs = fsOf(spark, root)
    val files = listSegmentFiles(fs, new Path(root, seg))
    if (files.isEmpty || metrics("rows").asInstanceOf[Long] == 0L) {
      fs.delete(new Path(root, seg), true)
      return None
    }
    val (stats, rows) = segmentStatsOf(metrics, pStats, pdf.schema)
    Some(SegmentEntry(seg, stats, 0L, files, rows))
  }

  /** Fail fast when a commit's columns diverge from the table's: a read
    * serves the recorded schema over every segment, so a mismatched
    * segment would silently null-fill (or break) every column the two
    * sides don't share. The check runs at the only place new files
    * can enter the table. Types are compared by column NAME set + per-name
    * dataType; nullability is not a conflict (parquet unions it fine).
    */
  private def requireCompatible(path: String, snap: Snapshot, df: DataFrame,
      allowNew: Boolean = false): Unit = {
    // an EMPTIED table still has its recorded schema — enforce it
    val existing = visible(snap.recordedSchema)
    val have = existing.fields.map(f => f.name -> f.dataType).toMap
    val incoming = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val sharedOk = incoming.forall { case (n, t) => have.get(n).forall(_ == t) }
    val shapeOk = if (allowNew) sharedOk else sharedOk && incoming.keySet == have.keySet
    require(shapeOk,
      s"ManifestStore: batch schema ${df.schema.simpleString} is incompatible " +
        s"with table $path ${existing.simpleString} — a mismatched segment " +
        "would silently null-fill columns on read. Align the batch, append " +
        "with mergeSchema = true (add-column evolution), or rewriteAll to " +
        "migrate the table schema.")
  }

  /** A mergeSchema append infers its new columns from data already staged,
    * so — unlike [[addColumn]], which can mint a fresh physical name — a
    * new column that collides with the PHYSICAL name of a renamed column
    * must be refused: older segments already hold a parquet column by that
    * name containing the OTHER field's values, and the read would stitch
    * them together.
    */
  private def requireNoPhysicalCollision(snap: Snapshot, df: DataFrame): Unit =
    snap.schema.foreach { sch =>
      if (hasMapping(sch)) {
        val logical = sch.fieldNames.toSet
        val physical = sch.fields.map(physicalName).toSet
        val bad = df.columns.filterNot(logical).filter(physical)
        require(bad.isEmpty,
          s"ManifestStore: new column(s) ${bad.mkString(", ")} collide with " +
            "the physical name of a renamed column — addColumn() (which mints " +
            "a distinct physical name) or pick another name")
      }
    }

  // --- schema evolution: stable PHYSICAL column names ------------------------
  //
  // Rename and type-widening are METADATA-ONLY commits (Iceberg answers this
  // with field IDs; the equivalent invariant here is Delta's name-based
  // column mapping): every byte under the table root — segment parquet
  // columns, delete-sidecar columns, manifest stats keys, `del` keyCol —
  // uses the column's PHYSICAL name, assigned at creation and immutable
  // thereafter. The recorded schema's field NAMES are the logical (user)
  // names; a field whose physical name diverged carries it in field
  // metadata under [[PhysicalKey]]. Translation happens at exactly two
  // seams: [[writeSegment]] renames logical→physical on the way in, and
  // [[ManifestRead.readCatalystAt]] aliases physical→logical on the way
  // out. Tables that never evolved have identity mappings and take the
  // untouched fast paths.
  // Type widening records the WIDER logical type in the schema while old
  // segments keep their narrower parquet type — Spark 4's vectorized reader
  // promotes (int→long, float→double, int→double) at scan time. Full
  // rewrites ([[rewriteAll]]/[[overwrite]]/[[cluster]]) write logical names
  // and record the output's clean schema, so any whole-table maintenance
  // pass re-baselines the mapping away (and restores the native columnar
  // SQL read path a mapped table temporarily forgoes).

  val PhysicalKey = "graft.physical"
  val DroppedKey = "graft.dropped"

  /** The on-disk parquet column name for a recorded-schema field. */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** A [[dropColumn]] tombstone: the field is invisible to every logical
    * view, but stays in the recorded schema so its PHYSICAL parquet name
    * remains reserved — re-adding the dropped logical name mints a fresh
    * physical instead of resurrecting the dropped data from old files.
    */
  def isDropped(f: StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** The LOGICAL fields — what every read serves and every write must
    * match; tombstoned (dropped) fields are carried in the recorded
    * schema but never in a user-facing view.
    */
  def visible(schema: StructType): StructType =
    StructType(schema.fields.filterNot(isDropped))

  /** Does serving the logical view need a projection over the raw scan —
    * a field reading under another name (rename) or hidden (drop)?
    */
  def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name || isDropped(f))

  /** logical → physical for the fields whose names diverge (empty = identity). */
  private def l2p(schema: Option[StructType]): Map[String, String] =
    schema.map(_.fields.iterator.map(f => f.name -> physicalName(f))
      .filter { case (l, p) => l != p }.toMap).getOrElse(Map.empty)

  /** physical → logical (empty = identity). */
  private def p2l(schema: Option[StructType]): Map[String, String] =
    l2p(schema).map(_.swap)

  /** Field metadata with the mapping key removed — logical-view dataframes
    * must not leak the physical name (a rewrite recording such a schema
    * would wrongly re-pin old physical names onto fresh logical-named files).
    */
  private[ops] def cleanMeta(f: StructField): Metadata =
    new MetadataBuilder().withMetadata(f.metadata).remove(PhysicalKey).build()

  /** The schema as the parquet files spell it: physical names, logical
    * (possibly widened) types, nullable, mapping metadata stripped.
    */
  private[ops] def physSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      StructField(physicalName(f), f.dataType, nullable = true, cleanMeta(f))))

  /** Read the table at its latest snapshot. */
  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, current(spark, path).getOrElse(
      throw new IllegalStateException(s"no manifest at $path — not a ManifestStore table")))

  /** Read a SPECIFIC snapshot (time travel / in-flight consistency) through
    * [[ManifestRead]]'s file index: the recorded schema is served (segments
    * written before a column existed null-fill it), ordinary `where()`
    * filters prune segments from the recorded stats, and outstanding
    * merge-on-read deletes apply by the sequence rule. A raw scan of some
    * segments is `readAt(spark, path, snap.copy(entries = es, deletes = Nil))`.
    * An EMPTIED table (every row deleted — a state [[merge]] and
    * [[rewriteAll]] can legally publish) reads as the schema-correct empty
    * relation, which keeps `where()` probes, [[merge]] and the CDC replica
    * daemon alive across a delete-everything commit.
    */
  def readAt(spark: SparkSession, path: String, snap: Snapshot): DataFrame =
    ManifestRead.readCatalystAt(spark, path, snap)

  /** Every committed version still resolvable, ascending. Superseded
    * versions remain readable until [[vacuum]] trims their manifests (and
    * the segments only they reference) past the grace period — so the
    * grace period IS the time-travel retention window. O(versions)
    * manifest-directory listing, no data reads.
    */
  def history(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    listVersions(fs, root).sorted
  }

  /** The snapshot committed as `version`, if its manifest survives
    * ([[vacuum]] may have trimmed it). Rewrites never mutate referenced
    * files, so a resolvable old snapshot reads exactly the bytes its
    * committer published.
    */
  def snapshotAt(spark: SparkSession, path: String, version: Long): Option[Snapshot] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val p = manifestPath(root, version)
    // a marker-published table may hold this version as a pending claim
    if (!fs.exists(p)) Publisher.completeClaim(fs, Publisher.claimOf(p), p)
    if (!fs.exists(p)) None else {
      val (entries, schema, deletes) = readManifest(fs, p)
      Some(Snapshot(version, entries, Some(schema), deletes))
    }
  }

  /** Time travel: the table exactly as committed at `version`. Fails with
    * a retention message once [[vacuum]] has reclaimed that version.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readAt(spark, path, snapshotAt(spark, path, version).getOrElse(
      throw new IllegalStateException(
        s"version $version at $path is not resolvable — never committed, or " +
          "vacuumed past the retention window")))

  /** Typed comparison key for a stats string (see [[statsTyp]] tags). */
  private[ops] def statKey(typ: String, s: String): Any = typ match {
    case "long" | "date" | "ts" => s.toLong
    case "double" => s.toDouble
    case "decimal" => new java.math.BigDecimal(s)
    case "string" => s
    case t => throw new IllegalStateException(s"unknown stats type tag $t")
  }

  /** Normalize a caller-supplied bound to the segment's stats key space. */
  private[ops] def boundKey(typ: String, v: Any): Any = (typ, v) match {
    case ("long", n: java.lang.Number) => n.longValue
    case ("long", b: java.lang.Boolean) => if (b) 1L else 0L
    case ("double", n: java.lang.Number) => n.doubleValue
    case ("decimal", n: java.math.BigDecimal) => n
    case ("decimal", n: scala.math.BigDecimal) => n.bigDecimal
    case ("decimal", n: java.lang.Number) => new java.math.BigDecimal(n.toString)
    case ("string", s: String) => s
    case ("date", d: java.time.LocalDate) => d.toEpochDay
    case ("date", d: java.sql.Date) => d.toLocalDate.toEpochDay
    case ("date", s: String) => java.time.LocalDate.parse(s).toEpochDay
    case ("date", n: java.lang.Number) => n.longValue // epoch days (Catalyst internal)
    case ("ts", t: java.sql.Timestamp) =>
      val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
    case ("ts", i: java.time.Instant) =>
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case ("ts", n: java.lang.Number) => n.longValue
    case _ => throw new IllegalArgumentException(
      s"bound ${v.getClass.getName} is not convertible to stats type $typ")
  }

  /** `a <= b` in the typed key space; strings compare as unsigned UTF-8
    * bytes — Spark's binary string order, NOT java's UTF-16 code-unit
    * order (they diverge above the BMP).
    */
  private[ops] def leq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => x <= y
    case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y) <= 0
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) <= 0
    case (x: String, y: String) =>
      val (ab, bb) = (x.getBytes(Utf8), y.getBytes(Utf8))
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      ab.length <= bb.length
    case _ => throw new IllegalStateException(s"incomparable stats keys $a / $b")
  }

  /** One column's constraint for [[prunedEntries]], conjunction-tightened
    * by [[ManifestRead]]'s planner: an Option-ended interval, an optional
    * IN-list value set (keep a segment iff at least one value can sit in
    * its range), and the null-shape probes `IS NULL` / `IS NOT NULL`.
    * Values are in the external space [[boundKey]] accepts.
    */
  final case class Bound(lo: Option[Any] = None, hi: Option[Any] = None,
      in: Option[Seq[Any]] = None, isNull: Boolean = false,
      notNull: Boolean = false)

  /** THE stats-pruning rule: the segments whose recorded stats can hold a
    * row satisfying every `bounds` constraint, keyed by PHYSICAL column
    * name (what the stats are keyed on). Conservative by construction: a
    * segment without stats on a bounded column is kept, and so is one
    * whose bound cannot be converted to the stats type; one whose recorded
    * `[min,max]` misses the interval or every IN value, whose column is
    * entirely NULL under a value or `IS NOT NULL` constraint, or whose
    * null count is zero under `IS NULL`, is skipped.
    */
  def prunedEntries(snap: Snapshot, bounds: Map[String, Bound]): Seq[SegmentEntry] =
    snap.entries.filter { e =>
      bounds.forall { case (c, b) =>
        e.stats.get(c).forall { st =>
          val allNull = st.min.isEmpty && st.max.isEmpty
          def holds(lo: Option[Any], hi: Option[Any]): Boolean =
            try {
              hi.forall(h => st.min.forall(m =>
                leq(statKey(st.typ, m), boundKey(st.typ, h)))) &&
                lo.forall(l => st.max.forall(m =>
                  leq(boundKey(st.typ, l), statKey(st.typ, m))))
            } catch { case scala.util.control.NonFatal(_) => true }
          val valueOk =
            if (b.lo.isEmpty && b.hi.isEmpty && b.in.isEmpty) true
            else !allNull && holds(b.lo, b.hi) &&
              b.in.forall(_.exists(v => holds(Some(v), Some(v))))
          valueOk && !(b.isNull && st.nulls.contains(0L)) &&
            !(b.notNull && allNull)
        }
      }
    }

  /** Table health introspection — the maintenance dashboard's one-stop
    * view: one row per live segment with its row count (recorded in the
    * manifest when the segment declared stats; ONE count job over the
    * remaining segments otherwise, grouped by file's parent segment),
    * on-disk bytes and file count (from the recorded file lists), and
    * which stats columns the segment recorded (the [[prunedEntries]]
    * prunability signal: a segment listed with empty `stats_cols` is never
    * skippable). Drives the compact/cluster decision the way a27's catalog
    * stats drive query planning.
    */
  def describe(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val snap = current(spark, path).getOrElse(
      throw new IllegalStateException(s"no manifest at $path — not a ManifestStore table"))
    val meta = snap.entries.map { e =>
      // stats are keyed physically; report them under the logical names
      // (a dropped column's stats keep showing under its physical name)
      val rev = p2l(snap.schema.map(visible))
      val nulls = e.stats.toSeq.map { case (c, st) => (rev.getOrElse(c, c), st) }
        .sortBy(_._1)
        .flatMap { case (c, st) => st.nulls.map(n => s"$c=$n") }.mkString(",")
      (e.name, e.files.map(_._2).sum, e.files.size.toLong,
        e.stats.keys.toSeq.map(c => rev.getOrElse(c, c)).sorted.mkString(","),
        e.rows, nulls)
    }.toDF("segment", "bytes", "files", "stats_cols", "manifest_rows", "null_counts")
    // PHYSICAL layout view: raw per-file rows — outstanding MOR deletes
    // are layout debt, not data, so they do not shrink these counts. Only
    // segments WITHOUT a recorded row count pay the count job.
    val need = snap.entries.filter(_.rows.isEmpty)
    val footer =
      if (need.isEmpty) Seq.empty[(String, Long)].toDF("segment", "footer_rows")
      else readAt(spark, path, snap.copy(entries = need, deletes = Nil))
        .groupBy(regexp_extract(input_file_name(), "/(seg-[^/]+)/[^/]*$", 1).as("segment"))
        .agg(count(lit(1)).as("footer_rows"))
    meta.join(footer, Seq("segment"), "left")
      .select(col("segment"),
        coalesce(col("manifest_rows"), col("footer_rows"), lit(0L)).as("rows"),
        col("bytes"), col("files"), col("stats_cols"), col("null_counts"),
        lit(snap.version).as("version"))
      .orderBy("segment")
  }

  /** What [[maintain]] decided and (when `apply`) did. */
  final case class MaintenanceReport(action: String, reason: String,
      segmentsBefore: Int, segmentsAfter: Int, applied: Boolean)

  /** Maintenance advisor + executor — the j11/w20 router pattern applied
    * to table layout: decide from O(segments) MANIFEST metadata (no FS
    * calls, no data reads) whether the table needs compaction, and optionally run
    * it. Advises `compact` when the live segment count exceeds
    * `maxSegments` or the MEDIAN segment falls below
    * `targetSegmentBytes / 4` (a small-file table wastes a task +
    * footer round-trip per tiny file at every scan); sizes the rewrite at
    * `ceil(totalBytes / targetSegmentBytes)` partitions. Advises `none`
    * otherwise. Stats columns are re-declared on the rewrite so
    * compaction never DOWNGRADES prunability ([[merge]] and filtered reads
    * keep pruning); pair with [[cluster]] when orderedness on specific
    * axes matters more than file count — this advisor never silently
    * destroys a clustered layout (it reports `cluster-risk` instead of
    * compacting when every segment carries stats on the same columns and
    * their ranges are pairwise disjoint on some axis).
    */
  def maintain(spark: SparkSession, path: String,
      targetSegmentBytes: Long = 128L << 20, maxSegments: Int = 64,
      apply: Boolean = false, statsCols: Seq[String] = Nil): MaintenanceReport = {
    val snap = current(spark, path).getOrElse(
      throw new IllegalStateException(s"no manifest at $path — not a ManifestStore table"))
    val sizes = snap.entries.map(_.files.map(_._2).sum).sorted
    val n = snap.entries.size
    if (n == 0)
      return MaintenanceReport("none", "empty table", 0, 0, applied = false)
    val total = sizes.sum
    val median = sizes(n / 2)
    // a clustered layout: every segment recorded the same stats columns
    // and some axis is pairwise non-overlapping in segment order — blind
    // compaction would destroy that pruning structure
    val sharedStats = snap.entries.map(_.stats.keySet)
      .reduce(_ intersect _)
    val looksClustered = n > 1 && sharedStats.exists { c =>
      val ranges = snap.entries.flatMap { e =>
        val s = e.stats(c)
        for (mn <- s.min; mx <- s.max)
          yield (statKey(s.typ, mn), statKey(s.typ, mx), s.typ)
      }
      // sort by the TYPED min key (leq), never toString — "10" < "2"
      // would misorder numeric ranges and fail this protection open
      ranges.size == n && ranges
        .sortWith((a, b) => leq(a._1, b._1) && a._1 != b._1)
        .sliding(2).forall {
          case Seq((_, aMax, _), (bMin, _, _)) => leq(aMax, bMin) && aMax != bMin
          case _ => true
        }
    }
    val needs =
      if (snap.deletes.nonEmpty)
        Some(s"${snap.deletes.size} outstanding merge-on-read delete " +
          "file(s) — every scan pays their anti-join until materialized")
      else if (n > maxSegments) Some(s"$n segments > maxSegments=$maxSegments")
      else if (median < targetSegmentBytes / 4 && n > 1)
        Some(s"median segment ${median}B < target/4=${targetSegmentBytes / 4}B")
      else None
    needs match {
      case None =>
        MaintenanceReport("none", "layout within budget", n, n, applied = false)
      case Some(reason) if looksClustered =>
        MaintenanceReport("cluster-risk",
          s"$reason, but the layout is range-clustered — re-cluster instead " +
            "of compacting to keep prunability", n, n, applied = false)
      case Some(reason) =>
        val parts = math.max(1, math.ceil(total.toDouble / targetSegmentBytes).toInt)
        if (!apply)
          MaintenanceReport("compact", reason, n, parts, applied = false)
        else {
          val after = compact(spark, path, parts, statsCols = statsCols)
          MaintenanceReport("compact", reason, n, after.entries.size, applied = true)
        }
    }
  }

  /** Append `df` as one new segment + one commit. Safe under concurrent
    * appenders: the segment list only grows, so a CAS loser just re-reads
    * the winner's list and re-publishes with its own segment added.
    */
  /** Initialize an EMPTY table: publish v1 with zero segments and the
    * declared schema recorded (the empty-table state [[readAt]] serves as
    * a schema-correct empty relation). This is what a catalog
    * CREATE TABLE maps to — the schema persists in the manifest itself, so
    * a later `loadTable` resolves it with no data files and no sidecar
    * metadata store. Fails if the path already holds a manifest (CREATE
    * semantics — callers wanting idempotence check [[current]] first); the
    * CAS publish makes two racing CREATEs resolve to exactly one winner.
    */
  def createEmpty(spark: SparkSession, path: String,
      schema: StructType): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    require(current(spark, path).isEmpty,
      s"createEmpty: a manifest table already exists at $path")
    val relaxed = StructType(schema.fields.map(_.copy(nullable = true)))
    if (!tryPublish(fs, root, 1L, Nil, relaxed))
      throw new IllegalStateException(
        s"createEmpty: lost the create race at $path — table already exists")
    Snapshot(1L, Nil, Some(relaxed), Nil)
  }

  /** Schema-evolution CAS loop: publish `base` with a transformed recorded
    * schema and everything else verbatim — a pure-metadata commit (zero
    * data I/O at ANY table size; this is what makes rename/widen viable on
    * a 100 TB table). Entries/deletes re-read per attempt, so an evolution
    * racing a data commit composes instead of clobbering.
    */
  private def evolveSchema(spark: SparkSession, path: String, what: String)(
      f: (StructType, Snapshot) => StructType): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var attempt = 0
    while (attempt < MaxRetries) {
      val base = current(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest at $path — not a ManifestStore table"))
      val cur = StructType(base.recordedSchema.fields.map(_.copy(nullable = true)))
      val next = f(cur, base)
      if (tryPublish(fs, root, base.version + 1, base.entries, next,
          base.deletes))
        return Snapshot(base.version + 1, base.entries, Some(next), base.deletes)
      attempt += 1
    }
    throw new IllegalStateException(
      s"ManifestStore.$what: lost the publish race $MaxRetries times at $path")
  }

  /** Add a nullable column — metadata-only: existing segments simply lack
    * the column and null-fill on read. If `name` collides with the
    * PHYSICAL name of a previously-renamed column (whose old-name data
    * still lives in old files), a fresh distinct physical name is minted
    * and recorded in the mapping, so re-using a renamed-away name is safe.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: DataType): Snapshot =
    evolveSchema(spark, path, "addColumn") { (cur, _) =>
      require(!cur.fieldNames.contains(name),
        s"addColumn: column $name already exists")
      val taken = cur.fields.map(physicalName).toSet
      val field =
        if (!taken(name)) StructField(name, dataType, nullable = true)
        else {
          val phys = s"${name}_${java.util.UUID.randomUUID().toString.take(8)}"
          StructField(name, dataType, nullable = true,
            new MetadataBuilder().putString(PhysicalKey, phys).build())
        }
      StructType(cur.fields :+ field)
    }

  /** Rename a column — metadata-only: the field keeps its stable PHYSICAL
    * name (recorded in the mapping), so no segment is rewritten and every
    * commit before or after the rename reads/writes the same parquet
    * column. Renaming back to the physical name drops the mapping entry.
    * Time travel is exact: each version resolves under ITS recorded
    * logical names. A mapped table reads through [[readAt]]'s alias
    * projection (SQL scans take the shimmed path) until the next full
    * rewrite ([[rewriteAll]]/[[compact]]/[[cluster]]) re-baselines the
    * files to logical names and restores the native columnar scan.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Snapshot =
    evolveSchema(spark, path, "renameColumn") { (cur, _) =>
      require(cur.fieldNames.contains(from), s"renameColumn: no column $from")
      require(!cur.fieldNames.contains(to),
        s"renameColumn: column $to already exists")
      StructType(cur.fields.map { f =>
        if (f.name != from) f
        else {
          val phys = physicalName(f)
          val meta =
            if (phys == to) // renamed back: identity again, drop the mapping
              new MetadataBuilder().withMetadata(f.metadata)
                .remove(PhysicalKey).build()
            else new MetadataBuilder().withMetadata(f.metadata)
              .putString(PhysicalKey, phys).build()
          StructField(to, f.dataType, nullable = true, meta)
        }
      })
    }

  /** Drop a column — metadata-only: the field becomes a hidden TOMBSTONE
    * in the recorded schema (renamed to a reserved internal name, flagged
    * [[DroppedKey]]), so no segment is rewritten, every logical view stops
    * serving it, and its PHYSICAL parquet name stays reserved — a later
    * [[addColumn]] re-using the dropped name mints a fresh physical
    * instead of resurrecting the dropped data from old files. The bytes
    * are reclaimed lazily by the next full rewrite
    * ([[rewriteAll]]/[[compact]]/[[cluster]]), which writes only the
    * visible columns and re-baselines the tombstone away — the GDPR
    * column-erasure story is drop-now (visibility, one commit) +
    * compact-later (bytes), mirroring [[deleteKeysMergeOnRead]]'s
    * row-side split. Refused while an outstanding merge-on-read delete
    * keys on the column (its anti-join needs the data): materialize the
    * deletes first.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Snapshot =
    evolveSchema(spark, path, "dropColumn") { (cur, base) =>
      val f = cur.fields.find(x => x.name == name && !isDropped(x)).getOrElse(
        throw new IllegalArgumentException(s"dropColumn: no column $name"))
      require(visible(cur).fields.length > 1,
        "dropColumn: cannot drop the table's last visible column")
      val phys = physicalName(f)
      require(base.deletes.forall(_.keyCol != phys),
        s"dropColumn: outstanding merge-on-read delete file(s) key on $name — " +
          "materialize them first (compact/cluster/deleteKeys), then drop")
      StructType(cur.fields.map(x =>
        if (!(x.name == name && !isDropped(x))) x
        else StructField(s"__graft_dropped_$phys", x.dataType, nullable = true,
          new MetadataBuilder().putString(PhysicalKey, phys)
            .putBoolean(DroppedKey, true).build())))
    }

  /** The widenings Spark 4's vectorized parquet reader promotes at scan
    * time (pinned by EvolutionSpec against real narrow-typed files) —
    * lossless only; long→double is NOT here (it loses precision above
    * 2^53).
    */
  private def widenOk(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Widen a column's type — metadata-only: the recorded schema carries the
    * WIDER type while old segments keep their narrower parquet encoding;
    * the vectorized reader promotes per file at scan time (int→long,
    * int/float→double — verified upcasts, no silent precision loss), and
    * segments written after the widen carry the wide type natively. Stats
    * pruning stays conservative across the mix: each segment entry's stats
    * carry their own type tag, and a fractional bound probed against an
    * integer-tagged segment truncates in the KEEPING direction.
    */
  def widenColumn(spark: SparkSession, path: String, name: String,
      newType: DataType): Snapshot =
    evolveSchema(spark, path, "widenColumn") { (cur, _) =>
      val f = cur.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"widenColumn: no column $name"))
      require(widenOk(f.dataType, newType),
        s"widenColumn: ${f.dataType.simpleString} → ${newType.simpleString} " +
          "is not a supported lossless parquet read-promotion " +
          "(byte/short/int→long, byte/short/int/float→double, and integral " +
          "upsizes) — rewriteAll to migrate the data instead")
      StructType(cur.fields.map(x =>
        if (x.name == name) x.copy(dataType = newType) else x))
    }

  def append(spark: SparkSession, df: DataFrame, path: String,
      statsCols: Seq[String] = Nil, mergeSchema: Boolean = false): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val base = current(spark, path)
    base.foreach { s =>
      requireCompatible(path, s, df, allowNew = mergeSchema)
      if (mergeSchema) requireNoPhysicalCollision(s, df)
    }
    writeSegment(spark, root, df, statsCols, base.flatMap(_.schema)) match {
      case None => base.getOrElse(Snapshot(0L, Nil))
      case Some(entry) => commitAppend(spark, fs, root, path, entry, df.schema,
        base.flatMap(_.schema))
    }
  }

  /** The append CAS loop over an already-staged segment — shared by
    * [[append]] and [[appendChecked]] (whose gate runs between staging
    * and this publish). `stagedWith` is the schema whose logical→physical
    * mapping the segment was STAGED under: because the segment's parquet
    * columns are already on disk, every retry must verify the mapping
    * still holds against the racer's snapshot — a concurrent rename can
    * retire a logical name this batch still uses (re-appending it would
    * silently null-fill the renamed column and misfile the batch's), and
    * a concurrent addColumn can mint a physical name for a column this
    * batch staged under its plain name. Both are refused loudly; data
    * commits racing data commits never trip this (physical names are
    * stable — only a schema-evolution racer can).
    */
  private def commitAppend(spark: SparkSession, fs: FileSystem, root: Path,
      path: String, entry: SegmentEntry, dfSchema: StructType,
      stagedWith: Option[StructType]): Snapshot = {
    val stagedMap = l2p(stagedWith)
    var attempt = 0
    while (attempt < MaxRetries) {
      val base = current(spark, path).getOrElse(Snapshot(0L, Nil))
      base.schema.foreach { cur =>
        val curByName = cur.fields
          .map(f => f.name -> ((physicalName(f), f.dataType))).toMap
        val raced = dfSchema.fields.map(_.name).filter { c =>
          val stagedPhys = stagedMap.getOrElse(c, c)
          val stagedType = dfSchema(c).dataType
          curByName.get(c) match {
            // the logical name still exists: its physical must be the one
            // the segment was staged under (an addColumn race can mint
            // one), and its type must still READ the staged encoding (a
            // racing widen is fine — the reader promotes; anything else
            // is not)
            case Some((curPhys, curType)) => curPhys != stagedPhys ||
              (curType != stagedType && !widenOk(stagedType, curType))
            // the logical name is GONE (renamed away mid-flight): merging
            // it back as "new" would alias the renamed field's physical —
            // two logicals over one parquet column
            case None =>
              cur.fields.exists(f => physicalName(f) == stagedPhys)
          }
        }
        if (raced.nonEmpty) throw new IllegalStateException(
          s"ManifestStore.append at $path: schema evolution raced this " +
            s"commit — column(s) ${raced.mkString(", ")} no longer resolve " +
            "to the physical name(s) the staged segment was written under. " +
            "Re-run the append against the current schema.")
      }
      // EVERY commit records the table schema: the union schema — table
      // columns first, new ones appended (only mergeSchema admits new ones
      // past requireCompatible) — so reads never resolve schema from
      // data-file footers: combined with the recorded file lists, planning
      // a read makes zero data-tree FS calls. nullable: evolved columns
      // are ABSENT in older segments, so the recorded schema must allow
      // the null-fill (a required column would make the vectorized reader
      // refuse those files).
      val schema = {
        val existing = base.recordedSchema
        val known = existing.fieldNames.toSet
        StructType((existing.fields ++
          dfSchema.fields.filterNot(f => known(f.name)))
          .map(_.copy(nullable = true)))
      }
      val stamped = entry.copy(seq = base.version + 1)
      if (tryPublish(fs, root, base.version + 1, base.entries :+ stamped,
          schema, base.deletes))
        return Snapshot(base.version + 1, base.entries :+ stamped,
          Some(schema), base.deletes)
      attempt += 1
    }
    throw new IllegalStateException(
      s"ManifestStore.append: lost the publish race $MaxRetries times at $path")
  }

  /** What a gated commit did: either the publish happened (`published`,
    * `version` is the new snapshot's) or the batch was quarantined to
    * `quarantine` (table version UNCHANGED) with the failing
    * (check_id, col_name, violations) rows.
    */
  final case class GatedReport(published: Boolean, version: Long,
      quarantine: Option[String], violations: Seq[(String, String, Long)])

  private def quarantineSidecar(fs: FileSystem, dest: Path,
      violations: Seq[(String, String, Long)]): Unit = {
    val out = fs.create(new Path(dest, "_expectations.txt"), true)
    val lines = violations.map { case (id, c, v) =>
      s"check=$id col=$c violations=$v" }.mkString("\n")
    try out.write((s"quarantined_at_ms=${System.currentTimeMillis()}\n" +
      lines + "\n").getBytes(Utf8))
    finally out.close()
  }

  /** Expectations-gated append — integrity checks ON write, the shape the
    * reference runs inside its Gold writer (cleaner/duckdb_writer.py:
    * 228-288 validates before committing): stage the segment (invisible),
    * evaluate the [[Expectations]] suite over the STAGED files (one
    * aggregation, reading bytes that are hot from the write), and publish
    * only if every check passes. A failing batch never becomes a table
    * version: the staged segment is RENAMED into
    * `quarantineDir/batch=<id>/` (zero re-write — it holds exactly the
    * batch's rows) with an `_expectations.txt` sidecar listing the
    * failing checks, re-drivable after repair. An empty batch trivially
    * passes (no-op commit).
    */
  def appendChecked(spark: SparkSession, df: DataFrame, path: String,
      checks: Seq[Expectations.Check], quarantineDir: String,
      statsCols: Seq[String] = Nil, mergeSchema: Boolean = false): GatedReport = {
    require(checks.nonEmpty, "appendChecked needs at least one check")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val base = current(spark, path)
    base.foreach { s =>
      requireCompatible(path, s, df, allowNew = mergeSchema)
      if (mergeSchema) requireNoPhysicalCollision(s, df)
    }
    writeSegment(spark, root, df, statsCols, base.flatMap(_.schema)) match {
      case None =>
        GatedReport(published = true,
          base.map(_.version).getOrElse(0L), None, Nil)
      case Some(entry) =>
        // checks reference LOGICAL names; a renamed table's staged files
        // are physical-named — alias back before evaluating
        val rawStaged = spark.read.parquet(new Path(root, entry.name).toString)
        val rename = l2p(base.flatMap(_.schema))
        val staged =
          if (rename.isEmpty) rawStaged
          else rawStaged.select(rawStaged.columns.toSeq.map { p =>
            rename.collectFirst { case (l, pp) if pp == p => col(p).as(l) }
              .getOrElse(col(p))
          }: _*)
        val failing = Expectations.run(staged, checks).where(!col("pass"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSeq
        if (failing.isEmpty) {
          val snap = commitAppend(spark, fs, root, path, entry, df.schema,
            base.flatMap(_.schema))
          GatedReport(published = true, snap.version, None, Nil)
        } else {
          val dest = new Path(quarantineDir,
            s"batch=${entry.name.stripPrefix("seg-")}")
          fs.mkdirs(new Path(quarantineDir))
          require(fs.rename(new Path(root, entry.name), dest),
            s"appendChecked: failed to quarantine ${entry.name} to $dest")
          quarantineSidecar(fs, dest, failing)
          GatedReport(published = false,
            current(spark, path).map(_.version).getOrElse(0L),
            Some(dest.toString), failing)
        }
    }
  }

  /** Expectations-gated MERGE: the suite runs over the SOURCE batch (one
    * aggregation) before any staging; a failing batch is persisted to
    * `quarantineDir/batch=<id>/` with the `_expectations.txt` sidecar and
    * the table version is untouched. Returns Left(gated report) when
    * quarantined, Right(merge report) when the merge ran.
    */
  def mergeChecked(spark: SparkSession, source: DataFrame, path: String,
      key: String, checks: Seq[Expectations.Check], quarantineDir: String,
      deleteWhen: Option[Column] = None, statsCols: Seq[String] = Nil,
      insertWhen: Option[Column] = None, seqCol: Option[String] = None)
      : Either[GatedReport, MergeReport] = {
    require(checks.nonEmpty, "mergeChecked needs at least one check")
    val failing = Expectations.run(source, checks).where(!col("pass"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSeq
    if (failing.isEmpty)
      Right(merge(spark, source, path, key, deleteWhen, statsCols, insertWhen, seqCol))
    else {
      val fs = fsOf(spark, new Path(quarantineDir))
      val dest = new Path(quarantineDir,
        s"batch=${java.util.UUID.randomUUID()}")
      source.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(dest.toString)
      quarantineSidecar(fs, dest, failing)
      Left(GatedReport(published = false,
        current(spark, path).map(_.version).getOrElse(0L),
        Some(dest.toString), failing))
    }
  }

  /** First-write-wins upsert WITHOUT an advisory lock: dedup the batch
    * (deterministic keep-first), anti-join against the CURRENT snapshot,
    * append only new keys, publish. If a racer commits first, the
    * anti-join is RECOMPUTED against the racer's snapshot — the
    * observe-absent/both-insert race is structurally impossible because a
    * conflicting insert changes the version our publish is conditioned on.
    * The orphan segments a lost race leaves behind are invisible
    * ([[vacuum]] reclaims them).
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String,
      key: String, statsCols: Seq[String] = Nil): UpsertReport = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val tiebreak = batch.columns.filter(_ != key).sorted.map(col).toSeq
    // keep-first per key (Transformer.dedupKeepFirst's order), each kept
    // row carrying its key group's size, so the one pass that fills the
    // cache also counts the source; null keys form one group, dropped below
    val w = Window.partitionBy(key).orderBy(tiebreak: _*)
    val wholeGroup = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val kept = batch
      .select(col("*"), row_number().over(w).as("__rn"),
        count(lit(1)).over(wholeGroup).as("__n"))
      .where(col("__rn") === 1)
      .drop("__rn")
      .cache()
    val deduped = kept.where(col(key).isNotNull).drop("__n")
    try {
      current(spark, path).foreach(requireCompatible(path, _, batch))
      val counts = kept.agg(coalesce(sum("__n"), lit(0L)), count(col(key))).head()
      val nBatch = counts.getLong(1)
      // dropped = within-batch duplicate keys + null-key rows
      val nDropped = counts.getLong(0) - nBatch
      var attempt = 0
      while (attempt < MaxRetries) {
        val base = current(spark, path).getOrElse(Snapshot(0L, Nil))
        // on an empty table the batch itself is fresh: it reads the cache,
        // and unpersisting it here would drop the cache a retry reuses
        val freshC =
          if (base.segments.isEmpty) deduped
          else deduped.join(readAt(spark, path, base).select(key), Seq(key), "left_anti")
            .cache()
        try {
          val nFresh = freshC.count()
          if (nFresh == 0L)
            return UpsertReport(0L, nDropped, nBatch, base.version)
          // every commit records the table schema (first commit: the
          // batch's, nullable-relaxed) so reads never touch data footers
          val schema = base.schema.getOrElse(StructType(
            freshC.schema.fields.map(_.copy(nullable = true))))
          writeSegment(spark, root, freshC, statsCols, base.schema) match {
            case Some(entry) if tryPublish(fs, root, base.version + 1,
                base.entries :+ entry.copy(seq = base.version + 1),
                schema, base.deletes) =>
              return UpsertReport(nFresh, nDropped, nBatch - nFresh, base.version + 1)
            case _ => () // lost the race: recompute against the winner
          }
        } finally if (freshC ne deduped) freshC.unpersist()
        attempt += 1
      }
      throw new IllegalStateException(
        s"ManifestStore.upsert: lost the publish race $MaxRetries times at $path")
    } finally kept.unpersist()
  }

  /** Full-table rewrite commit — the primitive under [[compact]] and
    * [[deleteKeys]]: publish a manifest whose segments are ONLY the newly
    * written ones. The publish is conditioned on the base version, so a
    * concurrent append can never be dropped: on CAS failure the new
    * segments are abandoned (invisible; vacuum reclaims) and the caller's
    * `make` recomputes from the fresh snapshot.
    */
  def rewriteAll(spark: SparkSession, path: String,
      make: DataFrame => DataFrame, retries: Int = 5,
      statsCols: Seq[String] = Nil): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var attempt = 0
    while (attempt < retries) {
      val base = current(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest at $path"))
      require(base.segments.nonEmpty, s"nothing to rewrite at $path")
      val made = make(readAt(spark, path, base))
      val entry = writeSegment(spark, root, made, statsCols)
        .map(_.copy(seq = base.version + 1))
      // a rewrite replaces every segment, so the rewrite OUTPUT's schema is
      // authoritative — always recorded, nullable-relaxed (make may
      // legitimately migrate the schema, e.g. a column drop)
      val schema = StructType(made.schema.fields.map(_.copy(nullable = true)))
      // an empty rewrite result (e.g. deleteKeys removed every row) commits
      // an empty segment list — readers then see an explicitly empty table.
      // readAt applied any outstanding merge-on-read deletes, so the
      // rewrite MATERIALIZES them: publish with none.
      if (tryPublish(fs, root, base.version + 1, entry.toSeq, schema))
        return Snapshot(base.version + 1, entry.toSeq, Some(schema))
      attempt += 1
    }
    throw new IllegalStateException(
      s"ManifestStore.rewriteAll: lost the publish race $retries times at $path")
  }

  /** Compaction, rebased onto the manifest protocol: coalesce the table
    * into `partitions` output files and commit atomically. No rename-aside
    * swap, no window where a reader can see doubled or missing rows — the
    * old segments stay live for in-flight readers until [[vacuum]].
    */
  def compact(spark: SparkSession, path: String, partitions: Int,
      statsCols: Seq[String] = Nil): Snapshot =
    rewriteAll(spark, path, df => df.repartition(partitions), statsCols = statsCols)

  /** Replace the ENTIRE table content with `df` as one CAS unit — the
    * INSERT OVERWRITE / truncate-and-load verb. Unlike [[rewriteAll]]
    * (whose `make` derives the replacement FROM the current content, so it
    * requires one), this accepts an absent or EMPTY base: the replacement
    * segment is staged once — its content is base-independent — and only
    * the manifest publish retries under the CAS, conditioned on whatever
    * base version each attempt observes. That closes the SQL provider's
    * former check-then-act window (read-empty → route to append): a racer
    * committing between the emptiness check and the append would have
    * survived an overwrite that should have erased it; here the loser of
    * the version slot is ALWAYS re-published over, whichever order the two
    * commits land in. Outstanding merge-on-read deletes are dropped (the
    * truncation subsumes them); an empty `df` publishes an explicitly
    * empty table (the SQL TRUNCATE shape), schema still recorded.
    */
  def overwrite(spark: SparkSession, df: DataFrame, path: String,
      statsCols: Seq[String] = Nil): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val entry = writeSegment(spark, root, df, statsCols)
    val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
    var attempt = 0
    while (attempt < MaxRetries) {
      val base = current(spark, path).getOrElse(Snapshot(0L, Nil))
      val stamped = entry.map(_.copy(seq = base.version + 1)).toSeq
      if (tryPublish(fs, root, base.version + 1, stamped, schema))
        return Snapshot(base.version + 1, stamped, Some(schema))
      attempt += 1 // slot taken: re-read and re-condition, segment stays valid
    }
    throw new IllegalStateException(
      s"ManifestStore.overwrite: lost the publish race $MaxRetries times at $path")
  }

  /** GDPR-style key deletion, rebased onto the manifest protocol: rewrite
    * without the matched keys, atomically. Returns (deleted, remaining).
    */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): (Long, Long) = {
    val before = read(spark, path).count()
    val keyVals = keys.select(col(keys.columns.head).as(keyCol)).distinct()
    rewriteAll(spark, path, df =>
      df.join(broadcast(keyVals), Seq(keyCol), "left_anti"))
    val after = read(spark, path).count()
    (before - after, after)
  }

  /** Merge-on-read key deletion — [[deleteKeys]]' O(batch) sibling: the
    * keys land in a `del-<uuid>` parquet sidecar and ONE manifest commit
    * publishes it; no segment is rewritten, so deleting a handful of keys
    * from a 100 TB table costs the key batch, not the touched segments
    * (GDPR per-user erasure at scale: publish now, materialize at the
    * next [[compact]]/[[cluster]]/[[deleteKeys]], all of which fold
    * outstanding deletes in and drop them). Readers apply the sidecar by
    * the SEQUENCE rule: the delete (published at version V) suppresses
    * matching keys only in segments committed BEFORE V, so a later
    * re-insert of a deleted key — [[upsert]] or [[merge]] — is visible,
    * not swallowed. The trade is per-read anti-join cost while deletes
    * are outstanding ([[maintain]]'s compaction clears the debt);
    * [[readAt]] keeps planner-integrated segment pruning UNDER the
    * anti-joins (one pruned relation per
    * sequence-group, sidecars broadcast).
    */
  def deleteKeysMergeOnRead(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): Snapshot = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val snap0 = current(spark, path).getOrElse(
      throw new IllegalStateException(s"no manifest at $path"))
    // the sidecar column and the recorded keyCol are PHYSICAL (stable even
    // across later renames, so the CAS retry below never needs re-staging)
    val pKey = l2p(snap0.schema).getOrElse(keyCol, keyCol)
    val keyVals = keys.select(col(keys.columns.head).as(pKey)).distinct()
    if (keyVals.isEmpty) return snap0
    val name = s"del-${java.util.UUID.randomUUID()}"
    keyVals.coalesce(1).write.parquet(new Path(root, name).toString)
    var attempt = 0
    while (attempt < MaxRetries) {
      val base = current(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest at $path"))
      val v = base.version + 1
      val dels = base.deletes :+ DeleteFile(name, pKey, v)
      if (tryPublish(fs, root, v, base.entries, base.recordedSchema, dels))
        return Snapshot(v, base.entries, base.schema, dels)
      attempt += 1 // CAS lost: the sidecar is still valid, re-stamp and retry
    }
    throw new IllegalStateException(
      s"ManifestStore.deleteKeysMergeOnRead: lost the publish race $MaxRetries times at $path")
  }

  /** What a predicate DML verb ([[deleteWhere]]/[[updateWhere]]) did:
    * rows affected, plus the copy-on-write evidence — how many segments
    * actually held a matching row and were rewritten vs republished
    * verbatim.
    */
  final case class DmlReport(affected: Long, segmentsRewritten: Int,
      segmentsTotal: Int, version: Long)

  /** Shared copy-on-write core of [[deleteWhere]]/[[updateWhere]] —
    * [[merge]]'s touched-set discipline applied to an arbitrary predicate:
    * (1) ONE column-pruned probe of the RAW segments (deletes not applied,
    * so segment identity survives to `input_file_name`) finds the segments
    * that hold a matching row — the predicate's pushable conjuncts prune
    * segments from recorded stats before any file opens, and a
    * MOR-suppressed match can only cause a harmless extra rewrite, because
    * the rewrite always starts from the LOGICAL view of the touched set);
    * (2) only touched segments are rewritten — one new segment carries
    * their transformed rows, every untouched entry is republished
    * verbatim (zero data I/O); (3) one CAS publish conditioned on the
    * base version, [[rewriteAll]]'s crash/race posture. A predicate
    * matching 0.1% of a 100 TB table rewrites ~0.1% of it. NULL predicate
    * results act as false (SQL WHERE posture).
    */
  private def rewriteWhere(spark: SparkSession, path: String, cond: Column,
      rewrite: (DataFrame, Column) => DataFrame, statsCols: Seq[String],
      what: String): DmlReport = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val matchPred = coalesce(cond, lit(false))
    var attempt = 0
    while (attempt < MaxRetries) {
      val base = current(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest at $path — not a ManifestStore table"))
      if (base.entries.isEmpty) return DmlReport(0L, 0, 0, base.version)
      val touched: Set[String] = readAt(spark, path, base.copy(deletes = Nil))
        .where(matchPred)
        .select(regexp_extract(input_file_name(), "/(seg-[^/]+)/[^/]*$", 1)
          .as("__seg"))
        .distinct().collect().map(_.getString(0)).toSet
      val (touchedE, untouchedE) = base.entries.partition(e => touched(e.name))
      if (touchedE.isEmpty) return DmlReport(0L, 0, base.entries.size, base.version)
      val touchedRows = readAt(spark, path, base.copy(entries = touchedE)).cache()
      try {
        val affected = touchedRows.where(matchPred).count()
        val newData = rewrite(touchedRows, matchPred)
        // rewritten rows get seq = v+1, past every outstanding delete's
        // seq — the MOR debt those segments carried is materialized here,
        // while untouched segments keep being filtered by the sidecars
        val entry = writeSegment(spark, root, newData, statsCols, base.schema)
          .map(_.copy(seq = base.version + 1))
        val next = untouchedE ++ entry.toSeq
        if (tryPublish(fs, root, base.version + 1, next, base.recordedSchema,
            base.deletes))
          return DmlReport(affected, touchedE.size, base.entries.size,
            base.version + 1)
      } finally touchedRows.unpersist()
      attempt += 1 // lost the race: recompute against the winner
    }
    throw new IllegalStateException(
      s"ManifestStore.$what: lost the publish race $MaxRetries times at $path")
  }

  /** DELETE FROM ... WHERE `cond` — arbitrary-predicate deletion with
    * [[merge]]'s segment-granular copy-on-write cost model (see
    * [[rewriteWhere]]). Rows where `cond` is TRUE are removed; FALSE and
    * NULL rows survive. The SQL surface routes `DELETE FROM` here; the
    * key-batch sibling [[deleteKeysMergeOnRead]] stays the O(batch) GDPR
    * path when the predicate is a key set.
    */
  def deleteWhere(spark: SparkSession, path: String, cond: Column,
      statsCols: Seq[String] = Nil): DmlReport =
    rewriteWhere(spark, path, cond, (df, m) => df.where(!m), statsCols,
      "deleteWhere")

  /** UPDATE ... SET ... WHERE `cond` — matched rows get each `set` column
    * replaced (value cast to the column's declared type, the SQL
    * assignment rule), unmatched rows ride through untouched; same
    * touched-segment copy-on-write cost model as [[deleteWhere]]. `set`
    * values may reference the row's own columns (`SET v = v + 1`).
    */
  def updateWhere(spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column], statsCols: Seq[String] = Nil): DmlReport = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    rewriteWhere(spark, path, cond, (df, m) => {
      val sch = df.schema
      set.keys.foreach(k => require(sch.fieldNames.contains(k),
        s"updateWhere: SET column $k is not a table column"))
      df.select(sch.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(v) => when(m, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    }, statsCols, "updateWhere")
  }

  /** MERGE INTO, segment-granular copy-on-write — the missing verb beside
    * [[append]]/[[upsert]]/[[deleteKeys]]. Delta-style single-key
    * semantics: a source row whose `key` exists in the table UPDATES
    * (replaces) the target row — unless `deleteWhen` holds on the source
    * row, in which case the target row is DELETED; a source row with no
    * match INSERTS (regardless of `deleteWhen`, which scopes to MATCHED
    * only) — unless `insertWhen` is given, which gates the not-matched
    * clause (`WHEN NOT MATCHED AND pred THEN INSERT`): CDC appliers pass
    * `insertWhen = !deleteWhen` so a replayed delete event cannot
    * resurrect its row as an insert, making the merge of any fixed batch
    * idempotent under at-least-once replay. NULL predicate results act as
    * false on both clauses (a null neither deletes nor inserts). Source
    * rows are deduplicated to ONE event per key and null keys dropped, so
    * the merge is deterministic for any input — but WHICH event survives
    * matters when a batch carries several events for one key (an update
    * then a delete): pass `seqCol` (an event-order column — log offset,
    * commit LSN, event timestamp) and the LAST event per key by it wins,
    * the only safe semantics for a CDC applier. Without `seqCol` the
    * survivor is the deterministic-but-ARBITRARY lexicographic keep-first
    * over the non-key columns — fine for idempotent re-merges of snapshot
    * batches, unsafe for unordered multi-event CDC batches (a delete can
    * be dropped or a dead row kept depending on how unrelated values
    * sort). NULL `seqCol` values order before any non-null one (a
    * sequence-less event never beats a sequenced one); equal sequences
    * fall back to the lexicographic tiebreak so the result stays
    * deterministic.
    *
    * The 100 TB property is the copy-on-write granularity: only segments
    * that actually CONTAIN a matched key are rewritten; every other
    * segment's manifest entry is republished verbatim (zero data I/O). The
    * touched set is found by (1) pruning candidates from manifest min/max
    * stats on `key` when recorded — one driver-side pass over O(segments)
    * manifest lines against the source's key range, no data read — then
    * (2) one exact key-column-only probe of the surviving candidates
    * (Catalyst prunes to the key column; segment identity recovered from
    * `input_file_name`). A merge touching 0.1% of keys rewrites ~0.1% of
    * the data instead of the whole table. Inserts ride the same new
    * segment as the rewritten rows. Matched/inserted/deleted counts come
    * from ONE aggregation over the joined source. Concurrency/crash
    * posture is [[rewriteAll]]'s: new segments are invisible until the CAS
    * publish conditioned on the base version; a lost race recomputes
    * everything against the winner's snapshot; losers' segments are
    * vacuumed.
    */
  def merge(spark: SparkSession, source: DataFrame, path: String,
      key: String, deleteWhen: Option[Column] = None,
      statsCols: Seq[String] = Nil,
      insertWhen: Option[Column] = None,
      seqCol: Option[String] = None): MergeReport = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    seqCol.foreach(c => require(source.columns.contains(c),
      s"merge seqCol $c is not a source column"))
    // keep-LAST by event order when seqCol is given (desc, nulls last =
    // a null sequence never wins), lexicographic tiebreak either way
    val tiebreak = seqCol.map(c => col(c).desc_nulls_last).toSeq ++
      source.columns.filter(c => c != key && !seqCol.contains(c))
        .sorted.map(col).toSeq
    // NULL predicate results act as false (SQL CHECK posture): a null
    // deleteWhen doesn't delete, a null insertWhen doesn't insert
    val delPred = coalesce(deleteWhen.getOrElse(lit(false)), lit(false))
    val insPred = coalesce(insertWhen.getOrElse(lit(true)), lit(false))
    val sourceD = graft.silver.Transformer
      .dedupKeepFirst(source.where(col(key).isNotNull), key, tiebreak)
      .cache()
    try {
      current(spark, path) match {
        case None =>
          // empty table: unmatched by definition — the insert clause gates
          val toInsert = sourceD.where(insPred)
          val snap = append(spark, toInsert, path, statsCols)
          return MergeReport(0L, 0L, toInsert.count(), 0, 0, snap.version)
        case Some(s) => requireCompatible(path, s, source)
      }
      var attempt = 0
      while (attempt < MaxRetries) {
        val base = current(spark, path).getOrElse(Snapshot(0L, Nil))
        // (1) manifest-stats prune: segments whose key range misses the
        // source's [min,max] cannot contain a match (conservative: no
        // stats => candidate). One tiny agg for the source range.
        val pKey = l2p(base.schema).getOrElse(key, key) // stats are keyed physically
        val candidates =
          if (base.entries.forall(_.stats.get(pKey).isEmpty)) base.entries
          else {
            val r = sourceD.agg(min(col(key)), max(col(key))).head()
            if (r.isNullAt(0)) Seq.empty[SegmentEntry]
            else prunedEntries(base,
              Map(pKey -> Bound(Some(r.get(0)), Some(r.get(1)))))
          }
        // (2) exact probe: which candidate segments hold a matched key
        val touched: Set[String] =
          if (candidates.isEmpty) Set.empty
          // segment identity = the data file's immediate parent directory
          // (anchored to end-of-path — NOT a bare first-match, which a
          // "seg-" substring in the TABLE's own path would fool, and not a
          // fixed-width uuid pattern, which cluster's `seg-<uuid>-<k>`
          // names would silently fail); the raw candidates under the
          // recorded schema: a key column added by evolution null-fills in
          // older segments
          else readAt(spark, path, base.copy(entries = candidates, deletes = Nil))
            .select(col(key),
              regexp_extract(input_file_name(), "/(seg-[^/]+)/[^/]*$", 1).as("__seg"))
            .join(sourceD.select(key), Seq(key), "left_semi")
            .select("__seg").distinct().collect().map(_.getString(0)).toSet
        val (touchedE, untouchedE) = base.entries.partition(e => touched(e.name))
        // LOGICAL view: outstanding merge-on-read deletes apply, so a
        // MOR-deleted key is correctly unmatched (the source row inserts).
        // No touched segments (including the emptied-table state, where
        // base.entries itself is empty) => the schema-correct empty
        // relation, no data read — every source row is an unmatched
        // insert candidate
        val touchedRows = readAt(spark, path, base.copy(entries = touchedE))
        // matched keys can only live in touched segments, so every join
        // below runs against the touched slice, never the whole table
        val tk = touchedRows.select(col(key)).distinct().withColumn("__m", lit(1))
        val s2 = sourceD.join(tk, Seq(key), "left").cache()
        try {
          val c = s2.agg(
            count(col("__m")).as("m"),
            count(when(col("__m").isNotNull && delPred, lit(1))).as("del"),
            count(when(col("__m").isNull && insPred, lit(1))).as("ins")).head()
          val (m, del, ins) = (c.getLong(0), c.getLong(1), c.getLong(2))
          // survivors of touched segments + updates + gated inserts — one
          // new segment
          val applied = s2
            .where(when(col("__m").isNotNull, !delPred).otherwise(insPred))
            .drop("__m")
          val newData = touchedRows
            .join(sourceD.select(key), Seq(key), "left_anti")
            .select(applied.columns.map(col): _*)
            .unionByName(applied)
          val entry = writeSegment(spark, root, newData, statsCols, base.schema)
            .map(_.copy(seq = base.version + 1))
          val next = untouchedE ++ entry.toSeq
          // outstanding MOR deletes stay published: they still filter the
          // untouched segments, and the new segment's seq exceeds every
          // delete seq so rewritten/inserted rows are immune
          if (tryPublish(fs, root, base.version + 1, next, base.recordedSchema,
              base.deletes))
            return MergeReport(m - del, del, ins, touchedE.size,
              base.entries.size, base.version + 1)
        } finally s2.unpersist()
        attempt += 1 // lost the race: recompute against the winner
      }
      throw new IllegalStateException(
        s"ManifestStore.merge: lost the publish race $MaxRetries times at $path")
    } finally sourceD.unpersist()
  }

  /** Z-order clustered rewrite: lay the whole table out as `segments`
    * EXACTLY-balanced, contiguous rank slices of the Morton key over
    * `axes` ([[ScaleOps.zOrderColumnN]]; a single axis degenerates to a
    * plain range cluster), record `statsCols` min/max per segment, and
    * publish ONE manifest. Each segment then covers a bounded
    * hyper-rectangle of EVERY axis, so a filtered [[read]] on ANY
    * clustered column prunes most of the table from the manifest alone — the layout
    * maintenance job a 100 TB table runs beside [[compact]]. Slice
    * assignment is `floor(rank * segments / total)` over the exact global
    * z-key rank ([[ScaleOps.groupedGlobalRowNumber]] — range exchange +
    * O(partitions) driver offsets), NOT `repartitionByRange` alone: the
    * sampled boundaries of a range exchange wobble run to run and can
    * leave segments straddling z-octants, while exact ranks make the
    * layout deterministic and the segments balanced to within one row
    * (z-key ties break arbitrarily, which can only exchange equal-key
    * rows between adjacent slices — stats are unaffected). One data job
    * (range exchange + rank + write) plus one tiny grouped stats
    * aggregation; crash/race posture identical to [[rewriteAll]] (staged
    * data is invisible until the CAS publish; losers are vacuumed).
    */
  def cluster(spark: SparkSession, path: String, axes: Seq[String],
      segments: Int, statsCols: Seq[String] = Nil, bits: Int = 16,
      retries: Int = 5): Snapshot = {
    require(axes.nonEmpty, "cluster needs at least one axis")
    require(segments >= 1, "cluster needs at least one segment")
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var attempt = 0
    while (attempt < retries) {
      val base = current(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest at $path"))
      require(base.segments.nonEmpty, s"nothing to cluster at $path")
      val df = readAt(spark, path, base)
      val zkey = if (axes.size == 1) col(axes.head)
        else ScaleOps.zOrderColumnN(axes, bits)
      val total = df.count()
      val stageId = java.util.UUID.randomUUID().toString
      val stage = new Path(root, s"stage-$stageId")
      ScaleOps.groupedGlobalRowNumber(df.withColumn("zk", zkey), Nil, Seq("zk"))
        .withColumn("zseg", ((col("rn") - 1) * segments / total).cast(IntegerType))
        .sortWithinPartitions("zk")
        .drop("rn", "zk")
        .write.partitionBy("zseg").parquet(stage.toString)
      // per-segment stats (min/max/null-count + row count) in ONE grouped
      // aggregation over the staged tree (zseg comes back as the
      // partition-directory column)
      val statsBySeg: Map[Int, (Map[String, ColStats], Option[Long])] =
        if (statsCols.isEmpty) Map.empty
        else {
          val staged = spark.read.parquet(stage.toString)
          val fields = statsCols.map(c => staged.schema.fields.find(_.name == c)
            .getOrElse(throw new IllegalArgumentException(s"statsCols: no column $c")))
          val typed = fields.map(statsTyp)
          val aggs = count(lit(1)).as("rows") +:
            typed.zipWithIndex.flatMap { case ((_, c), i) =>
              Seq(min(c).cast(StringType).as(s"mn_$i"),
                max(c).cast(StringType).as(s"mx_$i"),
                count(col(statsCols(i))).as(s"nn_$i")) }
          staged.groupBy(col("zseg")).agg(aggs.head, aggs.tail: _*).collect().map { row =>
            val rows = row.getAs[Long]("rows")
            row.getAs[Int]("zseg") -> (statsCols.zipWithIndex.map { case (name, i) =>
              name -> ColStats(typed(i)._1,
                Option(row.getAs[String](s"mn_$i")), Option(row.getAs[String](s"mx_$i")),
                Some(rows - row.getAs[Long](s"nn_$i")))
            }.toMap, Some(rows): Option[Long])
          }.toMap
        }
      // promote each staged zseg directory to a root-level segment
      val entries = fs.listStatus(stage).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("zseg="))
        .sortBy(_.getPath.getName.stripPrefix("zseg=").toInt)
        .map { st =>
          val k = st.getPath.getName.stripPrefix("zseg=").toInt
          val seg = s"seg-$stageId-$k"
          require(fs.rename(st.getPath, new Path(root, seg)),
            s"cluster: failed to promote staged segment ${st.getPath}")
          val (stats, rows) = statsBySeg.getOrElse(k, (Map.empty[String, ColStats], None))
          SegmentEntry(seg, stats, base.version + 1,
            listSegmentFiles(fs, new Path(root, seg)), rows)
        }
      try fs.delete(stage, true) catch { case _: java.io.IOException => () }
      require(entries.nonEmpty, s"cluster: staged write produced no segments at $path")
      // The staged tree was written from the LOGICAL view, so the recorded
      // schema is the logical one — a full rewrite re-baselines any rename
      // mapping away (the clustered files spell columns logically again)
      val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
      if (tryPublish(fs, root, base.version + 1, entries, schema))
        return Snapshot(base.version + 1, entries, Some(schema))
      attempt += 1 // CAS lost: promoted segments are invisible; vacuum reclaims
    }
    throw new IllegalStateException(
      s"ManifestStore.cluster: lost the publish race $retries times at $path")
  }

  /** RESTORE — the time-travel WRITE verb (Delta's RESTORE TABLE ...
    * VERSION AS OF): make `version`'s content the current table state
    * again by publishing a NEW commit whose entries, schema and
    * outstanding deletes are the target snapshot's, VERBATIM — zero data
    * I/O (segments are immutable and still on disk while the version
    * resolves), one manifest publish, the ordinary CAS crash/race
    * posture. History is never rewritten: versions after the restored
    * one stay resolvable for time travel until [[vacuum]] ages them out,
    * and the segments only they reference become ordinary orphans the
    * next vacuum reclaims. Same retention contract as [[readVersion]]:
    * the target must still resolve (and its segments must be within the
    * grace window — a restore after vacuum reclaimed them would publish
    * dangling entries, which is why the retention window and the restore
    * horizon are the SAME knob). Restoring the current version is a
    * no-op returning the current snapshot.
    */
  def restore(spark: SparkSession, path: String, version: Long): Snapshot = {
    val target = snapshotAt(spark, path, version).getOrElse(
      throw new IllegalStateException(
        s"version $version at $path is not resolvable — never committed, or " +
          "vacuumed past the retention window"))
    val root = new Path(path)
    val fs = fsOf(spark, root)
    var attempt = 0
    while (attempt < MaxRetries) {
      val base = current(spark, path).getOrElse(
        throw new IllegalStateException(s"no manifest at $path"))
      if (base.version == version) return base
      if (tryPublish(fs, root, base.version + 1, target.entries,
          target.recordedSchema, target.deletes))
        return Snapshot(base.version + 1, target.entries, target.schema,
          target.deletes)
      attempt += 1
    }
    throw new IllegalStateException(
      s"ManifestStore.restore: lost the publish race $MaxRetries times at $path")
  }

  /** Reclaim invisible data: segment directories not referenced by any
    * RETAINED manifest version (crashed or race-losing writers' orphans,
    * superseded rewrite inputs), crashed [[cluster]] staging trees,
    * manifest tmp files, and manifest versions below the retention floor —
    * all only when older than `graceMs`, which must exceed any plausible
    * in-flight reader's runtime (their snapshots reference those files).
    *
    * The retention floor is the newest `minVersionsToKeep` committed
    * versions. Every segment or delete sidecar referenced by ANY retained
    * version is live; `graceMs` remains the [[readVersion]] time-travel
    * window for versions below the floor. Returns the number of segment
    * directories removed.
    */
  def vacuum(spark: SparkSession, path: String, graceMs: Long,
      minVersionsToKeep: Int = 1): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val versions = listVersions(fs, root).sorted
    if (versions.isEmpty) return 0
    val keepFrom = versions.takeRight(math.max(1, minVersionsToKeep)).head
    // live = everything ANY retained version references — a time-travel
    // read of a retained version must keep resolving its segments and
    // delete sidecars, not just the latest snapshot's
    val live = versions.filter(_ >= keepFrom).flatMap { v =>
      val (es, _, ds) = readManifest(fs, manifestPath(root, v))
      es.map(_.name) ++ ds.map(_.name)
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val orphanSeg = (name.startsWith("seg-") || name.startsWith("del-")) &&
        !live.contains(name)
      val crashedStage = name.startsWith("stage-")
      if (st.isDirectory && (orphanSeg || crashedStage) &&
        st.getModificationTime < cutoff) {
        fs.delete(st.getPath, true)
        removed += 1
      }
    }
    val mdir = new Path(root, ManifestDir)
    fs.listStatus(mdir).foreach { st =>
      val name = st.getPath.getName
      // a marker-protocol claim ages out with its manifest (never sooner:
      // a live version's claim is what makes its slot un-re-claimable)
      val claimV =
        if (name.endsWith(".claim"))
          versionOf(name.stripSuffix(".claim") + ".manifest")
        else None
      val stale = versionOf(name).exists(_ < keepFrom) ||
        claimV.exists(_ < keepFrom) || name.startsWith(".tmp-")
      if (stale && st.getModificationTime < cutoff) fs.delete(st.getPath, false)
    }
    removed
  }
}
