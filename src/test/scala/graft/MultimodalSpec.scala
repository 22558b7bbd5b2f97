package graft

import graft.ext.Multimodal

/** Multimodal plumbing: schema contract, header-only container durations
  * (WAV, MP4, AVI) and the frame generator registry query m2 runs.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.asMedia(
    Seq((1L, "hello world"), (2L, "spark"), (3L, null.asInstanceOf[String]))
      .toDF("id", "payload"),
    "id", "payload")

  test("asMedia produces the canonical binary+metadata schema") {
    assert(media.schema("content").dataType.typeName == "binary")
    val meta = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "width", "height", "duration_ms"))
  }

  test("sampleFrames generates one row per frame step (UDTF shape)") {
    val frames = Multimodal.sampleFrames(media, everyMs = 250)
    assert(frames.count() == 12) // 3 rows x 4 frames (0,250,500,750) of 1000ms
    assert(frames.where($"media_id" === 1).count() == 4)
  }

  /** 16-bit mono PCM WAV of a sine wave, built byte by byte. */
  private def sineWav(rate: Int, freqHz: Double, amp: Double, secs: Double): Array[Byte] = {
    val n = (rate * secs).toInt
    val frames = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (math.sin(2 * math.Pi * freqHz * i / rate) * amp * 32767).toInt.toShort
      frames(2 * i) = (s & 0xff).toByte
      frames(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val bb = java.nio.ByteBuffer.allocate(44 + frames.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + frames.length).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(frames.length).put(frames)
    bb.array()
  }

  test("sampleFrames over REAL WAV container durations (parsed headers, not declared meta)") {
    import spark.implicits._
    // 3.2 s of 8 kHz PCM -> 3200 ms from the data-chunk/byte-rate headers;
    // the junk row keeps asMedia's declared 1-second default
    val wav = sineWav(rate = 8000, freqHz = 440.0, amp = 0.5, secs = 3.2)
    val junk = Array.fill[Byte](64)(0x41)
    val media = Multimodal.withParsedDurations(
      Multimodal.asMedia(Seq((1L, wav), (2L, junk)).toDF("id", "payload"), "id", "payload"))
    val durs = media.select("media_id", "meta.duration_ms").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(durs == Map(1L -> 3200, 2L -> 1000), s"parsed vs declared split broken: $durs")
    val frames = Multimodal.sampleFrames(media, everyMs = 1500).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(frames == Set((1L, 0), (1L, 1500), (1L, 3000), (2L, 0)),
      s"frame grid must follow the PARSED duration: $frames")
  }

  test("AudioCodec.durationMs reads the duration from the RIFF headers alone") {
    // sineWav writes 2000 frames at 8 kHz: 250 ms
    val wav = sineWav(8000, 440.0, 0.5, 0.25)
    assert(Multimodal.AudioCodec.durationMs(wav).contains(250))
    assert(Multimodal.AudioCodec.durationMs(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(Multimodal.AudioCodec.durationMs(null).isEmpty)
    assert(Multimodal.AudioCodec.durationMs(wav.take(30)).isEmpty, "truncated header")
  }

  /** Minimal ISO-BMFF file: `ftyp` + `moov{mvhd}` with the given version,
    * timescale and duration, spec-honest box sizes (v0 mvhd = 108 bytes,
    * v1 = 120), built big-endian byte by byte.
    */
  private def mp4(version: Int, timescale: Int, duration: Long): Array[Byte] = {
    val mvhdSize = if (version == 0) 108 else 120
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + mvhdSize) // big-endian default
    bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    bb.putInt(8 + mvhdSize).put("moov".getBytes)
    bb.putInt(mvhdSize).put("mvhd".getBytes)
    bb.put(version.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    if (version == 0)
      bb.putInt(0).putInt(0).putInt(timescale).putInt(duration.toInt)
    else
      bb.putLong(0L).putLong(0L).putInt(timescale).putLong(duration)
    bb.array() // trailing mvhd fields (rate/volume/matrix/...) stay zero padding
  }

  test("VideoCodec.durationMs: mvhd v0/v1 box walk; hostile/truncated boxes are None") {
    import spark.implicits._
    val v0 = mp4(0, 600, 1500) // 1500 ticks at 600/s = 2500 ms
    assert(Multimodal.VideoCodec.durationMs(v0).contains(2500))
    val v1 = mp4(1, 1000, 7000) // 64-bit duration path
    assert(Multimodal.VideoCodec.durationMs(v1).contains(7000))
    assert(Multimodal.VideoCodec.durationMs(v0.take(30)).isEmpty,
      "moov size past the buffer must be rejected")
    assert(Multimodal.VideoCodec.durationMs(mp4(0, 0, 1500)).isEmpty, "zero timescale")
    assert(Multimodal.VideoCodec.durationMs(mp4(0, 1000, 0xffffffffL)).isEmpty,
      "all-ones v0 duration is the spec's UNKNOWN sentinel, not ~49.7 days")
    assert(Multimodal.VideoCodec.durationMs(mp4(1, 1000, -1L)).isEmpty,
      "all-ones v1 duration is the unknown sentinel")
    assert(Multimodal.VideoCodec.durationMs(mp4(1, 1, 4000000000L)).isEmpty,
      "a duration past Int.MaxValue ms must refuse, never wrap negative")
    assert(Multimodal.VideoCodec.durationMs("not a video".getBytes).isEmpty)
    assert(Multimodal.VideoCodec.durationMs(null).isEmpty)
    // end to end: parsed MP4 duration drives the frame grid; WAV and MP4
    // payloads coexist in one table through the same dispatch
    val wav = sineWav(8000, 440.0, 0.5, secs = 1.0)
    val media = Multimodal.withParsedDurations(Multimodal.asMedia(
      Seq((5L, v0), (6L, wav)).toDF("id", "payload"), "id", "payload"))
    val frames = Multimodal.sampleFrames(media, everyMs = 1000).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(frames == Set((5L, 0), (5L, 1000), (5L, 2000), (6L, 0)),
      s"frame grid must follow each container's parsed duration: $frames")
  }

  test("AudioCodec tolerates truncated/hostile RIFF payloads as None, never a throw") {
    val wav = sineWav(8000, 440.0, 0.5, 0.1)
    assert(Multimodal.AudioCodec.durationMs(wav.take(30)).isEmpty, "truncated header")
    val lying = wav.clone
    // corrupt the data-chunk size to point past the payload
    lying(43) = 0x7f.toByte
    assert(Multimodal.AudioCodec.durationMs(lying).isEmpty, "chunk size past buffer")
    val nonPcm = wav.clone
    nonPcm(20) = 3 // audioFormat = IEEE float: not parsed, not crashed
    assert(Multimodal.AudioCodec.durationMs(nonPcm).isEmpty, "non-PCM format is not parsed")
  }

  /** An MJPEG-AVI: RIFF('AVI ', LIST(hdrl, avih), LIST(movi, 00dc...)). */
  private def mjpegAvi(frames: Seq[Array[Byte]], usPerFrame: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] = if (body.length % 2 == 1) Array(0.toByte) else Array.empty
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    val avih = new Array[Byte](56)
    System.arraycopy(le32(usPerFrame.toLong), 0, avih, 0, 4)
    System.arraycopy(le32(frames.length.toLong), 0, avih, 16, 4)
    val hdrl = chunk("LIST", "hdrl".getBytes("US-ASCII") ++ chunk("avih", avih))
    val movi = chunk("LIST",
      "movi".getBytes("US-ASCII") ++ frames.flatMap(f => chunk("00dc", f)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  test("MJPEG-AVI: avih drives the container duration through withParsedDurations") {
    import org.apache.spark.sql.Row
    val frames = Seq.tabulate(4)(i => Array.fill[Byte](5 + i)(i.toByte))
    val avi = mjpegAvi(frames, usPerFrame = 40000) // 25 fps, 4 frames = 160 ms
    assert(Multimodal.VideoCodec.sniffAvi(avi))
    assert(Multimodal.VideoCodec.aviDurationMs(avi).contains(160))
    // hostile inputs: a truncated container is None, no throw
    assert(Multimodal.VideoCodec.aviDurationMs(avi.take(16)).isEmpty)
    assert(Multimodal.VideoCodec.aviDurationMs("not an avi".getBytes).isEmpty)
    // the parsed-duration chain picks the avih duration for AVI payloads
    val m = spark.createDataFrame(
      java.util.List.of(
        Row(1L, mjpegAvi(frames, 33333), Row("video/avi", 0, 0, 0)),
        Row(2L, "garbage".getBytes, Row("text/plain", 0, 0, 0)),
        Row(3L, null, Row("video/avi", 0, 0, 0))),
      Multimodal.mediaSchema)
    val withDur = Multimodal.withParsedDurations(m).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getStruct(2).getInt(3)).toMap
    assert(withDur(1L) == 133, s"4 frames x 33.333 ms = 133 ms: $withDur")
    assert(withDur(2L) == 0, "unparseable payload keeps its declared duration")
  }
}
