package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling for a training-data pipeline: image/audio/video
  * as opaque `binary` columns plus a typed metadata struct, and the
  * frame-sampling path registry query m2 runs over them.
  *
  * [[withParsedDurations]] reads each payload's real duration from its
  * container headers alone — RIFF/WAVE PCM ([[AudioCodec]]), ISO-BMFF MP4/MOV
  * and RIFF-AVI ([[VideoCodec]]) — as a batched partition-level transform
  * (`mapPartitions`, the Scala analog of `mapInPandas`); [[sampleFrames]]
  * then explodes each duration into frame offsets. No sample is decoded:
  * duration is the only input frame sampling needs.
  *
  * Scale: media blobs dominate row size, so the partitioning rule is
  * rows-per-partition (not bytes of metadata): repartition upstream by
  * content key so one partition ~ one decoder-friendly batch; never collect
  * blobs to the driver.
  */
object Multimodal {

  /** content + typed metadata: the canonical media row. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", IntegerType))))))

  /** RIFF/WAVE PCM header reader — a WAV is a fixed chunk walk, so its
    * duration needs no library and no sample decode. Non-PCM encodings
    * (compressed WAV, mp3, ogg) read as None.
    */
  object AudioCodec {
    def sniff(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

    private def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
        ((b(o + 3) & 0xff) << 24)

    /** RIFF chunk walk: (channels, sample rate, bits per sample, data-chunk
      * length) for a valid uncompressed 8/16-bit WAV, None for anything else.
      */
    private def pcmChunks(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      if (!sniff(bytes)) return None
      try {
        var off = 12
        var fmt: Option[(Int, Int, Int, Int)] = None // audioFormat, channels, rate, bits
        var data: Option[Int] = None                 // payload length
        while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
          val id = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val sz = le32(bytes, off + 4)
          if (sz < 0 || off + 8 + sz > bytes.length) return None
          if (id == "fmt " && sz >= 16)
            fmt = Some((le16(bytes, off + 8), le16(bytes, off + 10),
              le32(bytes, off + 12), le16(bytes, off + 22)))
          else if (id == "data") data = Some(sz)
          off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
        }
        for {
          (af, ch, rate, bits) <- fmt
          if af == 1 && (bits == 8 || bits == 16) && ch >= 1 && rate > 0
          dLen <- data
        } yield (ch, rate, bits, dLen)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Container-metadata duration WITHOUT sample decode: data-chunk frame
      * count over the sample rate, straight from the chunk headers. This is
      * the read a frame-sampling pass does at corpus scale — per-chunk-header
      * cost, not per-sample.
      */
    def durationMs(bytes: Array[Byte]): Option[Int] =
      pcmChunks(bytes).flatMap { case (ch, rate, bits, dLen) =>
        val frames = dLen / (ch * (bits / 8))
        val ms = math.round(frames.toDouble * 1000.0 / rate)
        // a pathological low-rate header can claim > Int.MaxValue ms —
        // refuse rather than wrap negative
        if (ms > Int.MaxValue) None else Some(ms.toInt)
      }

  }

  /** Minimal ISO-BMFF (MP4/MOV) container-metadata reader: a box walk to
    * `moov/mvhd`, whose timescale + duration fields give the presentation
    * duration without touching a single sample — the video leg of the
    * header-only duration dispatch ([[AudioCodec.durationMs]] is the audio
    * leg) — plus the RIFF-AVI main header. Duration, the input frame
    * sampling actually needs, is pure box arithmetic.
    */
  object VideoCodec {
    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def be64(b: Array[Byte], o: Int): Long =
      (be32(b, o) << 32) | be32(b, o + 4)

    /** ISO-BMFF sniff: first box is `ftyp` (size >= 8 at offset 0). */
    def sniff(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 12 &&
        bytes(4) == 'f' && bytes(5) == 't' && bytes(6) == 'y' && bytes(7) == 'p'

    /** Walk top-level boxes for `moov`, then its children for `mvhd`;
      * duration_ms = mvhd.duration * 1000 / mvhd.timescale. Handles version
      * 0 (32-bit) and version 1 (64-bit) mvhd; any malformed size/bound is
      * None, never a throw (the PERMISSIVE posture of the codec family).
      */
    def durationMs(bytes: Array[Byte]): Option[Int] = {
      if (!sniff(bytes)) return None
      try {
        def findBox(name: String, from: Int, until: Int): Option[(Int, Int)] = {
          var off = from
          while (off + 8 <= until) {
            val sz = be32(bytes, off)
            val id = new String(bytes, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
            // size 1 = 64-bit largesize; size 0 = to-end-of-file
            val (bodyOff, boxEnd) =
              if (sz == 1) {
                if (off + 16 > until) return None
                val big = be64(bytes, off + 8)
                if (big < 16 || off + big > until) return None
                (off + 16, off + big.toInt)
              } else if (sz == 0) (off + 8, until)
              else {
                if (sz < 8 || off + sz > until) return None
                (off + 8, off + sz.toInt)
              }
            if (id == name) return Some((bodyOff, boxEnd))
            off = boxEnd
          }
          None
        }
        for {
          (moovBody, moovEnd) <- findBox("moov", 0, bytes.length)
          (mvhdBody, mvhdEnd) <- findBox("mvhd", moovBody, moovEnd)
          version = bytes(mvhdBody) & 0xff
          // v0: ver/flags(4) + ctime(4) + mtime(4) + timescale(4) + duration(4)
          // v1: ver/flags(4) + ctime(8) + mtime(8) + timescale(4) + duration(8)
          if (version == 0 && mvhdBody + 20 <= mvhdEnd) ||
            (version == 1 && mvhdBody + 32 <= mvhdEnd)
          timescale = if (version == 0) be32(bytes, mvhdBody + 12)
                      else be32(bytes, mvhdBody + 20)
          if timescale > 0
          duration = if (version == 0) be32(bytes, mvhdBody + 16)
                     else be64(bytes, mvhdBody + 24)
          // all-ones duration is the spec's "unknown" sentinel — a real
          // duration it is not; and a >Int.MaxValue-ms result must refuse
          // rather than wrap negative through toInt
          if duration != (if (version == 0) 0xffffffffL else -1L) && duration >= 0
          ms = math.round(duration.toDouble * 1000.0 / timescale)
          if ms <= Int.MaxValue
        } yield ms.toInt
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    // RIFF is LITTLE-endian (ISO-BMFF above is big-endian) — AVI shares
    // WAV's container framing, so this mirrors AudioCodec's chunk walk
    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

    /** RIFF-AVI sniff: `RIFF....AVI `. */
    def sniffAvi(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '

    /** Walk the AVI's top-level chunks to the `hdrl` LIST's `avih` main
      * header; its body offset, or None in a malformed file.
      */
    private def aviHeader(bytes: Array[Byte]): Option[Int] = {
      var off = 12
      while (off + 8 <= bytes.length) {
        val id = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val sz = le32(bytes, off + 4)
        if (sz < 0 || off + 8 + sz > bytes.length) return None
        if (id == "LIST" && sz >= 4 &&
            new String(bytes, off + 8, 4, java.nio.charset.StandardCharsets.US_ASCII) == "hdrl") {
          // children of hdrl: the first is avih
          var c = off + 12
          val end = off + 8 + sz.toInt
          while (c + 8 <= end) {
            val cid = new String(bytes, c, 4, java.nio.charset.StandardCharsets.US_ASCII)
            val csz = le32(bytes, c + 4)
            if (csz < 0 || c + 8 + csz > end) return None
            if (cid == "avih") return Some(c + 8)
            c += 8 + csz.toInt + (csz.toInt & 1)
          }
        }
        off += 8 + sz.toInt + (sz.toInt & 1) // RIFF chunks are word-aligned
      }
      None
    }

    /** AVI duration from the avih header: usPerFrame x totalFrames (fields
      * 0 and 16 of the 56-byte main header). PERMISSIVE like the rest of
      * the codec family.
      */
    def aviDurationMs(bytes: Array[Byte]): Option[Int] = {
      if (!sniffAvi(bytes)) return None
      try aviHeader(bytes).flatMap { a =>
        if (a + 20 > bytes.length) None
        else {
          val usPerFrame = le32(bytes, a)
          val totalFrames = le32(bytes, a + 16)
          // both fields are unsigned-32 (le32 is always >= 0); the raw
          // product can reach ~1.8e19 and wrap Long negative on hostile
          // headers, so guard in doubles BEFORE the exact long arithmetic
          // (any in-range result's product <= ~2.1e12 fits a long exactly)
          if (usPerFrame <= 0 ||
              usPerFrame.toDouble * totalFrames.toDouble / 1000.0 > Int.MaxValue) None
          else Some((usPerFrame * totalFrames / 1000L).toInt)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Wrap a text/metadata table into media rows (fixture adapter: the
    * testdata has no real binaries, so content = UTF-8 bytes of a column).
    * `durationMs` lets a caller derive a per-row duration (video/audio
    * tables); the default keeps every payload a 1-second still.
    */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
      durationMs: org.apache.spark.sql.Column = lit(1000)): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        lit(64).as("width"), lit(64).as("height"),
        durationMs.cast("int").as("duration_ms")).as("meta"))

  /** Rewrite `meta.duration_ms` from the ACTUAL container bytes where the
    * payload parses as RIFF/WAVE PCM ([[AudioCodec.durationMs]]) or
    * ISO-BMFF MP4/MOV ([[VideoCodec.durationMs]]) — both header-only walks,
    * no sample decode: this is the real container-metadata path that feeds
    * [[sampleFrames]] for an audio/video table, replacing whatever duration
    * the row declared. Unparseable payloads keep their declared duration
    * (the [[asMedia]] default or a caller column) — the PERMISSIVE posture
    * of the codec family.
    *
    * The registered m2 query routes through this (so its oracle gates the
    * production plan): on the fixture's media-less payloads every parse
    * attempt misses and the declared durations survive unchanged — the
    * MultimodalSpec e2e pins the parse itself over real WAV and MP4 bytes.
    */
  def withParsedDurations(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(mediaSchema.fields.toSeq))
    media.select("media_id", "content", "meta").mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        val meta = r.getStruct(2)
        AudioCodec.durationMs(bytes).orElse(VideoCodec.durationMs(bytes))
          .orElse(VideoCodec.aviDurationMs(bytes)) match {
          case Some(d) =>
            Row(r.getLong(0), bytes, Row(meta.get(0), meta.get(1), meta.get(2), d))
          case None => Row(r.getLong(0), bytes, meta)
        }
      }
    }(enc)
  }

  /** Frame sampling: one output row per sampled frame index at `everyMs`
    * granularity of `meta.duration_ms` — a generator (UDTF-shaped) transform.
    */
  def sampleFrames(media: DataFrame, everyMs: Int): DataFrame =
    media.select(
      col("media_id"),
      // Guard zero/negative durations (stills in a mixed table): sequence
      // with start > stop throws; an empty array explodes to zero rows.
      explode(
        when(col("meta.duration_ms") > 0,
          sequence(lit(0), col("meta.duration_ms") - 1, lit(everyMs)))
          .otherwise(array().cast("array<int>")))
        .as("frame_ms"))

}
