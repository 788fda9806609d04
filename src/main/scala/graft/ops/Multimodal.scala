package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, and per-batch feature extraction
  * runs as `mapPartitions` over the media frame (the Scala analogue of
  * `mapInPandas` batch UDFs — same schema/batching/partitioning shape).
  *
  * Decode is HEADER-ONLY but real: [[HeaderDecoder]] (the default) reads
  * image dimensions via `javax.imageio`, audio duration from the
  * RIFF/WAV header (data length ÷ byte rate) and video duration plus
  * dimensions from the ISO-BMFF (MP4) box tree — no codec library
  * needed, which is exactly the scan cost profile wanted at 100 TB
  * (metadata without pixel/sample decode). Full-codec work (pixel
  * features, audio frames) is where a production [[Decoder]] plugs in;
  * [[StubDecoder]] remains only as the deterministic test fake.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StringType, nullable = true))) // JSON metadata

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sha256", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("feature", ArrayType(FloatType), nullable = true)))

  /** Batch decode interface — one partition's rows stream through. */
  trait Decoder extends Serializable {
    def decode(mediaId: Long, kind: String, bytes: Array[Byte]): Row
  }

  /** STUB: deterministic fake decode (no codec libraries in this
    * container). Dimensions/duration derive from the payload hash; the
    * "feature" is an 8-dim byte histogram — so downstream operators
    * (similarity, dedup) are exercised with stable values. */
  class StubDecoder extends Decoder {
    def decode(mediaId: Long, kind: String, bytes: Array[Byte]): Row = {
      val payload = if (bytes == null) Array.empty[Byte] else bytes
      val sha = graft.core.Hashing.sha256Hex(payload)
      val h = java.lang.Long.parseLong(sha.take(12), 16)
      val (w, ht, dur) = kind match {
        case "image" => ((h % 1920 + 1).toInt, ((h >> 16) % 1080 + 1).toInt, null)
        case "audio" => (null, null, java.lang.Long.valueOf(h % 600000))
        case "video" => ((h % 1920 + 1).toInt, ((h >> 16) % 1080 + 1).toInt,
          java.lang.Long.valueOf(h % 600000))
        case _ => (null, null, null)
      }
      val hist = new Array[Float](8)
      payload.foreach(b => hist((b & 0xFF) / 32) += 1f)
      val norm = math.max(1, payload.length).toFloat
      Row(mediaId, kind, payload.length.toLong, sha,
        w, ht, dur, hist.map(_ / norm).toSeq)
    }
  }

  /** Image dimensions from the header only (no pixel decode):
    * `ImageReader.getWidth/getHeight` on a stream-backed reader, so a
    * 50 MB JPEG costs a few KB of I/O. Formats: what the JDK ships
    * (PNG, JPEG, GIF, BMP; the reference opens images with Pillow,
    * resources/http/files.py:179-191). Undecodable bytes → None. */
  def imageDims(payload: Array[Byte]): Option[(Int, Int)] = {
    // memory-cached stream: ImageIO's default stream cache spools the
    // (already in-memory) payload to a temp FILE per call — measured
    // 5-10x slower under disk noise (see ImageHash.dHash64)
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (readers.hasNext) {
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          Some((reader.getWidth(0), reader.getHeight(0)))
        } finally reader.dispose()
      } else None
    } catch {
      case _: Exception => None
    } finally if (iis != null) iis.close()
  }

  // ---- WAV/RIFF + ISO-BMFF (MP4) header parse & synthesis ----------
  // Pure header arithmetic — duration, sample rate and dimensions
  // without any codec. The writers produce minimal canonical containers
  // (used by the test-data synthesizer below and the specs); the
  // parsers accept any spec-conforming file: chunk/box WALKS, not
  // fixed offsets.

  val WavSampleRate = 16000
  val WavChannels = 1
  val WavBitsPerSample = 16
  /** Bytes per second of the default synth format (sr × ch × bits/8). */
  def wavByteRate(sampleRate: Int = WavSampleRate, channels: Int = WavChannels,
                  bits: Int = WavBitsPerSample): Int = sampleRate * channels * bits / 8

  /** Minimal canonical PCM WAV container around `pcm` (44-byte header:
    * RIFF + fmt + data). */
  def wavBytes(pcm: Array[Byte], sampleRate: Int = WavSampleRate,
               channels: Int = WavChannels, bits: Int = WavBitsPerSample): Array[Byte] = {
    val byteRate = wavByteRate(sampleRate, channels, bits)
    val bb = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate).putInt(byteRate)
      .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(pcm.length).put(pcm)
    bb.array()
  }

  /** RIFF/WAVE chunk walk: duration = data-chunk length ÷ fmt byte
    * rate. Tolerates extra chunks and either chunk order; None on
    * anything that is not a WAV. */
  def parseWavDurationMs(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 36) return None
    def ascii(off: Int) = new String(bytes, off, 4, "US-ASCII")
    if (ascii(0) != "RIFF" || ascii(8) != "WAVE") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var byteRate = 0L
    var dataLen = -1L
    while (pos + 8 <= bytes.length && (byteRate == 0L || dataLen < 0L)) {
      val id = ascii(pos)
      val size = bb.getInt(pos + 4).toLong & 0xFFFFFFFFL
      if (id == "fmt " && pos + 20 <= bytes.length)
        byteRate = bb.getInt(pos + 16).toLong & 0xFFFFFFFFL
      else if (id == "data") dataLen = size
      pos += 8 + size.toInt + (size.toInt & 1) // chunks pad to even
      if (size > bytes.length) return None     // corrupt size field
    }
    if (byteRate > 0 && dataLen >= 0) Some(dataLen * 1000L / byteRate) else None
  }

  // ---- MP3 (MPEG audio Layer III) frame-header parse & synthesis ----

  /** Layer III bitrates (kbps) by version: index 1-14; 0 = free, 15 = bad. */
  private val Mp3BitrateV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3Rates = Map( // version bits -> sample-rate table
    3 -> Array(44100, 48000, 32000), // MPEG1
    2 -> Array(22050, 24000, 16000), // MPEG2
    0 -> Array(11025, 12000, 8000))  // MPEG2.5

  /** MP3 duration from the frame header: skips an ID3v2 tag, scans for
    * the first valid Layer III frame sync, then either reads the exact
    * frame count from a Xing/Info VBR header (frames × samples-per-frame
    * ÷ sample rate) or falls back to the CBR estimate (remaining bytes ×
    * 8 ÷ bitrate). None when no frame sync parses — not an MP3. */
  def parseMp3DurationMs(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 4) return None
    var off = 0
    // ID3v2 tag: "ID3" + ver(2) + flags + 4 syncsafe size bytes
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val size = ((bytes(6) & 0x7F) << 21) | ((bytes(7) & 0x7F) << 14) |
        ((bytes(8) & 0x7F) << 7) | (bytes(9) & 0x7F)
      off = 10 + size
    }
    // scan a bounded window for the sync — tolerates junk prefixes
    val scanEnd = math.min(bytes.length - 4, off + 4096)
    while (off <= scanEnd) {
      if ((bytes(off) & 0xFF) == 0xFF && (bytes(off + 1) & 0xE0) == 0xE0) {
        val b1 = bytes(off + 1) & 0xFF; val b2 = bytes(off + 2) & 0xFF
        val version = (b1 >> 3) & 3  // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        val layer = (b1 >> 1) & 3    // 1 = Layer III
        val brIdx = (b2 >> 4) & 0xF
        val srIdx = (b2 >> 2) & 3
        if (version != 1 && layer == 1 && brIdx >= 1 && brIdx <= 14 && srIdx != 3) {
          val sampleRate = Mp3Rates(version)(srIdx)
          val kbps = (if (version == 3) Mp3BitrateV1 else Mp3BitrateV2)(brIdx)
          val samplesPerFrame = if (version == 3) 1152 else 576
          val stereo = ((bytes(off + 3) & 0xFF) >> 6) != 3 // channel mode 3 = mono
          // Xing/Info VBR header sits after the side info block
          val sideInfo = (version, stereo) match {
            case (3, true) => 32; case (3, false) => 17
            case (_, true) => 17; case _ => 9
          }
          val x = off + 4 + sideInfo
          val vbrFrames =
            if (x + 12 <= bytes.length &&
                (ascii4(bytes, x) == "Xing" || ascii4(bytes, x) == "Info") &&
                (bytes(x + 7) & 1) == 1)
              Some(beInt(bytes, x + 8).toLong & 0xFFFFFFFFL)
            else None
          return vbrFrames match {
            case Some(n) => Some(n * samplesPerFrame * 1000L / sampleRate)
            case None => Some((bytes.length - off).toLong * 8L / kbps)
          }
        }
      }
      off += 1
    }
    None
  }

  /** Minimal CBR MP3: one valid Layer III frame header + zero fill
    * sized so the CBR estimate reads back `durationMs`. */
  def mp3Bytes(durationMs: Long, kbps: Int = 128): Array[Byte] = {
    val brIdx = Mp3BitrateV1.indexOf(kbps)
    require(brIdx >= 1, s"unsupported MPEG1 Layer III bitrate: $kbps")
    val total = math.max(4L, durationMs * kbps / 8L).toInt
    val out = new Array[Byte](total)
    out(0) = 0xFF.toByte; out(1) = 0xFB.toByte // MPEG1, Layer III, no CRC
    out(2) = ((brIdx << 4) | (0 << 2)).toByte  // 44100 Hz, no padding
    out(3) = 0x00                              // stereo
    out
  }

  // ---- FLAC STREAMINFO + AAC ADTS frame walk -----------------------

  /** FLAC duration from the mandatory STREAMINFO metadata block
    * (first block after the `fLaC` magic): sample rate is a 20-bit
    * field, total samples a 36-bit field; duration = samples × 1000 ÷
    * rate. None when the magic or block layout doesn't parse — not a
    * FLAC. */
  def parseFlacDurationMs(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 42 || ascii4(bytes, 0) != "fLaC") return None
    if ((bytes(4) & 0x7F) != 0) return None // first block must be STREAMINFO
    val len = ((bytes(5) & 0xFF) << 16) | ((bytes(6) & 0xFF) << 8) | (bytes(7) & 0xFF)
    if (len < 34 || 8 + 34 > bytes.length) return None
    def b(i: Int) = bytes(8 + i) & 0xFF
    val sampleRate = (b(10) << 12) | (b(11) << 4) | (b(12) >> 4)
    val totalSamples = ((b(13) & 0x0F).toLong << 32) | (b(14).toLong << 24) |
      (b(15).toLong << 16) | (b(16).toLong << 8) | b(17).toLong
    if (sampleRate <= 0) None else Some(totalSamples * 1000L / sampleRate)
  }

  /** Minimal FLAC: magic + one (last) STREAMINFO block declaring
    * 44.1 kHz mono 16-bit and the sample count for `durationMs`. */
  def flacBytes(durationMs: Long, sampleRate: Int = 44100): Array[Byte] = {
    val total = durationMs * sampleRate / 1000L
    val out = new Array[Byte](8 + 34)
    "fLaC".getBytes("US-ASCII").copyToArray(out, 0)
    out(4) = 0x80.toByte // last-block flag, type 0 = STREAMINFO
    out(7) = 34          // block length (BE24)
    out(8) = 0x10; out(10) = 0x10 // min/max block size 4096
    out(18) = (sampleRate >> 12).toByte
    out(19) = ((sampleRate >> 4) & 0xFF).toByte
    // rate low nibble | channels-1 (000 = mono) | bps-1 high bit (16-1 = 15)
    out(20) = (((sampleRate & 0xF) << 4) | (15 >> 4)).toByte
    out(21) = (((15 & 0xF) << 4) | ((total >> 32) & 0xF)).toByte
    out(22) = ((total >> 24) & 0xFF).toByte
    out(23) = ((total >> 16) & 0xFF).toByte
    out(24) = ((total >> 8) & 0xFF).toByte
    out(25) = (total & 0xFF).toByte
    out
  }

  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** AAC ADTS duration from the frame walk: every ADTS frame carries
    * its byte length (13-bit field) and 1–4 AAC frames of 1024 samples
    * each; duration = Σ frames × 1024 × 1000 ÷ rate. The layer bits
    * are 00 — disjoint from MP3's Layer III sync, so the two sniffers
    * never claim each other's payloads. None when no ADTS sync parses. */
  def parseAdtsDurationMs(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 7) return None
    if ((bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xF6) != 0xF0) return None
    val srIdx = (bytes(2) >> 2) & 0xF
    if (srIdx >= AdtsRates.length) return None
    val rate = AdtsRates(srIdx)
    var pos = 0
    var aacFrames = 0L
    while (pos + 7 <= bytes.length &&
        (bytes(pos) & 0xFF) == 0xFF && (bytes(pos + 1) & 0xF6) == 0xF0) {
      val frameLen = ((bytes(pos + 3) & 0x03) << 11) |
        ((bytes(pos + 4) & 0xFF) << 3) | ((bytes(pos + 5) & 0xE0) >> 5)
      if (frameLen < 7) return None
      aacFrames += (bytes(pos + 6) & 0x03) + 1
      pos += frameLen
    }
    if (aacFrames == 0) None else Some(aacFrames * 1024L * 1000L / rate)
  }

  /** Minimal ADTS stream: header-only 7-byte frames (one 1024-sample
    * AAC frame each), count chosen so the walk reads back
    * `durationMs`. */
  def adtsBytes(durationMs: Long, sampleRate: Int = 44100): Array[Byte] = {
    val srIdx = AdtsRates.indexOf(sampleRate)
    require(srIdx >= 0, s"unsupported ADTS sample rate: $sampleRate")
    val nFrames = math.max(1L, durationMs * sampleRate / 1000L / 1024L).toInt
    val out = new Array[Byte](7 * nFrames)
    (0 until nFrames).foreach { i =>
      val p = i * 7
      out(p) = 0xFF.toByte
      out(p + 1) = 0xF1.toByte // MPEG-4, layer 00, no CRC
      out(p + 2) = ((1 << 6) | (srIdx << 2)).toByte // AAC-LC, rate, mono(hi)
      out(p + 3) = ((1 << 6) | (7 >> 11)).toByte    // mono(lo) + len hi bits
      out(p + 4) = ((7 >> 3) & 0xFF).toByte
      out(p + 5) = (((7 & 0x7) << 5) | 0x1F).toByte
      out(p + 6) = 0xFC.toByte // buffer fullness | frames-1 = 0
    }
    out
  }

  // ---- Ogg (Vorbis/Opus) page walk ---------------------------------

  private def ascii4(b: Array[Byte], off: Int) = new String(b, off, 4, "US-ASCII")
  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
  private def leLong(b: Array[Byte], off: Int): Long =
    (0 until 8).foldLeft(0L)((acc, i) => acc | ((b(off + i) & 0xFFL) << (8 * i)))

  /** Ogg duration from the page walk: the codec identification packet
    * on the first page gives the granule rate (Vorbis `\\x01vorbis` →
    * declared sample rate; Opus `OpusHead` → granules are ALWAYS
    * 48 kHz), the max granule position across pages gives the sample
    * count. CRCs are not verified — this is a feature probe, not a
    * demuxer. None when no parseable Ogg page / ident packet exists. */
  def parseOggDurationMs(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length < 28 || ascii4(bytes, 0) != "OggS") return None
    var pos = 0
    var rate = 0L
    var maxGranule = 0L
    var first = true
    while (pos + 27 <= bytes.length && ascii4(bytes, pos) == "OggS") {
      val granule = leLong(bytes, pos + 6)
      if (granule > maxGranule) maxGranule = granule
      val nSegs = bytes(pos + 26) & 0xFF
      if (pos + 27 + nSegs > bytes.length) return None
      var payloadLen = 0
      var i = 0
      while (i < nSegs) { payloadLen += bytes(pos + 27 + i) & 0xFF; i += 1 }
      val payload = pos + 27 + nSegs
      if (first && payload + 16 <= bytes.length) {
        if (bytes(payload) == 0x01 && payload + 16 <= bytes.length &&
            new String(bytes, payload + 1, 6, "US-ASCII") == "vorbis")
          rate = leInt(bytes, payload + 12).toLong & 0xFFFFFFFFL
        else if (ascii4(bytes, payload) == "Opus" &&
            ascii4(bytes, payload + 4) == "Head")
          rate = 48000L
        first = false
      }
      pos = payload + payloadLen
    }
    if (rate > 0) Some(maxGranule * 1000L / rate) else None
  }

  /** Minimal two-page Ogg Vorbis stream: page 0 carries the ident
    * packet (declaring `sampleRate`), page 1 carries the final granule
    * position for `durationMs`. CRC fields are zero (the parser never
    * checks them). */
  def oggBytes(durationMs: Long, sampleRate: Int = 44100): Array[Byte] = {
    def page(seq: Int, granule: Long, typ: Int, payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 255, "single-segment synth page")
      val bb = java.nio.ByteBuffer.allocate(28 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(typ.toByte)
        .putLong(granule).putInt(1).putInt(seq).putInt(0)
        .put(1.toByte).put(payload.length.toByte).put(payload)
      bb.array()
    }
    val ident = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(0x01.toByte).put("vorbis".getBytes("US-ASCII"))
      .putInt(0).put(1.toByte).putInt(sampleRate)
      .putInt(0).putInt(0).putInt(0).put(0x01.toByte).array()
    val granule = durationMs * sampleRate / 1000L
    page(0, 0L, 0x02, ident) ++ page(1, granule, 0x04, Array[Byte](0))
  }

  /** Minimal ISO-BMFF container: ftyp + moov(mvhd + trak(tkhd)) + mdat
    * around `data`. Fixed 244-byte box overhead (so the synthesized
    * payload size is arithmetically predictable), version-0 boxes,
    * mvhd timescale 1000 (duration units ARE milliseconds). */
  def mp4Bytes(data: Array[Byte], durationMs: Long, width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(244 + data.length) // big-endian
    def box(size: Int, typ: String): Unit = {
      bb.putInt(size); bb.put(typ.getBytes("US-ASCII")); ()
    }
    val unityMatrix = Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    box(20, "ftyp"); bb.put("isom".getBytes("US-ASCII")); bb.putInt(0)
    bb.put("isom".getBytes("US-ASCII"))
    box(216, "moov")
    box(108, "mvhd"); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1000); bb.putInt(durationMs.toInt)
    bb.putInt(0x00010000); bb.putShort(0x0100.toShort); bb.putShort(0); bb.putLong(0L)
    unityMatrix.foreach(bb.putInt)
    (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
    bb.putInt(2) // next_track_ID
    box(100, "trak")
    box(92, "tkhd"); bb.putInt(7) // v0, flags: enabled | in-movie | in-preview
    bb.putInt(0); bb.putInt(0); bb.putInt(1); bb.putInt(0); bb.putInt(durationMs.toInt)
    bb.putLong(0L); bb.putShort(0); bb.putShort(0); bb.putShort(0); bb.putShort(0)
    unityMatrix.foreach(bb.putInt)
    bb.putInt(width << 16); bb.putInt(height << 16) // 16.16 fixed point
    box(8 + data.length, "mdat"); bb.put(data)
    bb.array()
  }

  /** Minimal FRAGMENTED ISO-BMFF container (the DASH/CMAF delivery
    * shape): the [[mp4Bytes]] ftyp+moov header followed by one
    * moof(mfhd)+mdat pair per fragment — most web video arrives this
    * way, so the box walk must see EVERY fragment's mdat, not just the
    * first ([[VideoHash.mdatPayloads]]). Fragment payloads are
    * caller-split (real fragmentation splits at sample boundaries);
    * sequence numbers run from 1 as the spec requires. */
  def fmp4Bytes(fragments: Seq[Array[Byte]], durationMs: Long,
                width: Int, height: Int): Array[Byte] = {
    // mp4Bytes ends with its (here empty, 8-byte) mdat box — drop it;
    // the fragments carry all media data
    val header0 = mp4Bytes(Array.emptyByteArray, durationMs, width, height)
    val header = java.util.Arrays.copyOfRange(header0, 0, header0.length - 8)
    val bb = java.nio.ByteBuffer.allocate(
      header.length + fragments.map(f => 24 + 8 + f.length).sum)
    bb.put(header)
    fragments.zipWithIndex.foreach { case (data, i) =>
      bb.putInt(24); bb.put("moof".getBytes("US-ASCII"))
      bb.putInt(16); bb.put("mfhd".getBytes("US-ASCII"))
      bb.putInt(0); bb.putInt(i + 1) // version/flags, sequence_number
      bb.putInt(8 + data.length); bb.put("mdat".getBytes("US-ASCII"))
      bb.put(data)
    }
    bb.array()
  }

  /** ISO-BMFF box walk: (duration_ms, width, height) from
    * moov/mvhd + moov/trak/tkhd. Handles version 0 and 1 boxes; width
    * and height are 0 when no video track is present; None when no
    * parseable moov/mvhd exists (not an MP4). */
  def parseMp4(bytes: Array[Byte]): Option[(Long, Int, Int)] = {
    if (bytes == null || bytes.length < 16) return None
    val bb = java.nio.ByteBuffer.wrap(bytes)
    def boxType(pos: Int) = new String(bytes, pos + 4, 4, "US-ASCII")
    def findBox(start: Int, end: Int, name: String): Option[(Int, Int)] = {
      var pos = start
      while (pos + 8 <= end) {
        val size = bb.getInt(pos)
        if (size < 8 || pos + size > end) return None
        if (boxType(pos) == name) return Some((pos + 8, pos + size))
        pos += size
      }
      None
    }
    for {
      moov <- findBox(0, bytes.length, "moov")
      mvhd <- findBox(moov._1, moov._2, "mvhd")
    } yield {
      val s = mvhd._1
      val (timescale, duration) =
        if ((bytes(s) & 0xFF) == 1) (bb.getInt(s + 20).toLong, bb.getLong(s + 24))
        else (bb.getInt(s + 12).toLong, bb.getInt(s + 16).toLong & 0xFFFFFFFFL)
      val durMs = if (timescale > 0) duration * 1000L / timescale else 0L
      val dims = for {
        trak <- findBox(moov._1, moov._2, "trak")
        tkhd <- findBox(trak._1, trak._2, "tkhd")
      } yield {
        val off = if ((bytes(tkhd._1) & 0xFF) == 1) tkhd._1 + 88 else tkhd._1 + 76
        (bb.getInt(off) >> 16, bb.getInt(off + 4) >> 16)
      }
      (durMs, dims.fold(0)(_._1), dims.fold(0)(_._2))
    }
  }

  // ---- WebM (Matroska/EBML) header walk ----------------------------
  // The third wild-corpus video container after MP4: EBML is a nested
  // TLV encoding (id, size, body), so a header walk needs only the
  // varint decoder and four well-known element ids — no codec work.

  /** EBML element id at `pos`: (id-with-marker, width). Matroska ids
    * compare against their full stored form (e.g. Segment 0x18538067). */
  private def ebmlId(b: Array[Byte], pos: Int): Option[(Long, Int)] = {
    if (pos >= b.length) return None
    val first = b(pos) & 0xFF
    if (first == 0) return None
    val width = Integer.numberOfLeadingZeros(first) - 23
    if (width > 4 || pos + width > b.length) return None
    var v = 0L
    var i = 0
    while (i < width) { v = (v << 8) | (b(pos + i) & 0xFF); i += 1 }
    Some((v, width))
  }

  /** EBML size vint at `pos`: (size, width); size −1 = "unknown"
    * (all value bits set — streamed elements run to their parent's end). */
  private def ebmlSize(b: Array[Byte], pos: Int): Option[(Long, Int)] = {
    if (pos >= b.length) return None
    val first = b(pos) & 0xFF
    if (first == 0) return None
    val width = Integer.numberOfLeadingZeros(first) - 23
    if (width > 8 || pos + width > b.length) return None
    var v = (first & (0xFF >>> width)).toLong
    var ones = width == 8 || v == (0xFF >>> width).toLong
    var i = 1
    while (i < width) {
      val byte = b(pos + i) & 0xFF
      v = (v << 8) | byte
      if (byte != 0xFF) ones = false
      i += 1
    }
    Some((if (ones) -1L else v, width))
  }

  /** First child element with `id` in body range [start, end):
    * Some((bodyStart, bodyEnd)). Malformed/overrunning sizes → None. */
  private def findEbml(b: Array[Byte], start: Int, end: Int, id: Long): Option[(Int, Int)] = {
    var pos = start
    while (pos < end) {
      val (elId, idW) = ebmlId(b, pos).getOrElse(return None)
      val (sz, szW) = ebmlSize(b, pos + idW).getOrElse(return None)
      val body = pos + idW + szW
      if (sz >= 0 && body + sz > end) return None
      if (elId == id) return Some((body, if (sz < 0) end else (body + sz).toInt))
      if (sz < 0) return None // unknown-size non-target: cannot skip past
      pos = body + sz.toInt
    }
    None
  }

  private def ebmlUInt(b: Array[Byte], start: Int, end: Int): Long = {
    var v = 0L; var i = start
    while (i < end && i - start < 8) { v = (v << 8) | (b(i) & 0xFF); i += 1 }
    v
  }

  private def ebmlFloat(b: Array[Byte], start: Int, end: Int): Double = (end - start) match {
    case 4 => java.lang.Float.intBitsToFloat(
      java.nio.ByteBuffer.wrap(b, start, 4).getInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(
      java.nio.ByteBuffer.wrap(b, start, 8).getLong)
    case _ => 0.0
  }

  /** WebM/Matroska header walk: (duration_ms, width, height) from
    * Segment→Info (TimecodeScale × Duration) and Segment→Tracks→
    * TrackEntry→Video (PixelWidth/PixelHeight — first track that HAS a
    * Video child, so audio-first muxing still yields dims). Duration is
    * Matroska-spec float ticks × TimecodeScale ns (default 1 ms/tick);
    * 0/0 dims when no video track. None when the EBML magic or Segment
    * walk fails (not a WebM/MKV). */
  def parseWebm(bytes: Array[Byte]): Option[(Long, Int, Int)] = {
    if (bytes == null || bytes.length < 12) return None
    if (!ebmlId(bytes, 0).exists(_._1 == 0x1A45DFA3L)) return None
    for {
      seg <- findEbml(bytes, 0, bytes.length, 0x18538067L)
      info <- findEbml(bytes, seg._1, seg._2, 0x1549A966L)
    } yield {
      val scaleNs = findEbml(bytes, info._1, info._2, 0x2AD7B1L)
        .map(r => ebmlUInt(bytes, r._1, r._2)).filter(_ > 0).getOrElse(1000000L)
      val ticks = findEbml(bytes, info._1, info._2, 0x4489L)
        .map(r => ebmlFloat(bytes, r._1, r._2)).getOrElse(0.0)
      val durMs = math.round(ticks * scaleNs / 1e6)
      val dims = findEbml(bytes, seg._1, seg._2, 0x1654AE6BL).flatMap { tracks =>
        // iterate TrackEntry siblings; take the first with a Video child
        var pos = tracks._1
        var found: Option[(Int, Int)] = None
        while (found.isEmpty && pos < tracks._2) {
          (for {
            (elId, idW) <- ebmlId(bytes, pos)
            (sz, szW) <- ebmlSize(bytes, pos + idW) if sz >= 0
            body = pos + idW + szW if body + sz <= tracks._2
          } yield {
            if (elId == 0xAEL)
              found = findEbml(bytes, body, (body + sz).toInt, 0xE0L)
            body + sz.toInt
          }) match {
            case Some(next) => pos = next
            case None => pos = tracks._2 // malformed: stop
          }
        }
        found.map { case (vs, ve) =>
          (findEbml(bytes, vs, ve, 0xB0L).map(r => ebmlUInt(bytes, r._1, r._2).toInt)
            .getOrElse(0),
            findEbml(bytes, vs, ve, 0xBAL).map(r => ebmlUInt(bytes, r._1, r._2).toInt)
              .getOrElse(0))
        }
      }
      (durMs, dims.fold(0)(_._1), dims.fold(0)(_._2))
    }
  }

  /** Minimal WebM: EBML header (DocType "webm") + Segment(Info(
    * TimecodeScale 1 ms, Duration float ticks) + Tracks(video
    * TrackEntry with PixelWidth/PixelHeight)). All sizes 2-byte vints
    * for arithmetic predictability. */
  def webmBytes(durationMs: Long, width: Int, height: Int): Array[Byte] = {
    def vint2(n: Int): Array[Byte] =
      Array((0x40 | (n >> 8)).toByte, (n & 0xFF).toByte)
    def el(id: Array[Byte], body: Array[Byte]): Array[Byte] =
      id ++ vint2(body.length) ++ body
    def uintBody(v: Long): Array[Byte] = {
      var w = 1
      while (w < 8 && (v >>> (8 * w)) != 0) w += 1
      (w - 1 to 0 by -1).map(i => ((v >>> (8 * i)) & 0xFF).toByte).toArray
    }
    val id = (s: String) => s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val header = el(id("1A45DFA3"), el(id("4282"), "webm".getBytes("US-ASCII")))
    val info = el(id("1549A966"),
      el(id("2AD7B1"), uintBody(1000000L)) ++
        el(id("4489"), {
          val bb = java.nio.ByteBuffer.allocate(8)
          bb.putDouble(durationMs.toDouble); bb.array()
        }))
    val video = el(id("E0"),
      el(id("B0"), uintBody(width.toLong)) ++ el(id("BA"), uintBody(height.toLong)))
    val track = el(id("AE"),
      el(id("D7"), uintBody(1L)) ++ el(id("83"), uintBody(1L)) ++ video)
    val tracks = el(id("1654AE6B"), track)
    header ++ el(id("18538067"), info ++ tracks)
  }

  /** THE default decoder: real header-only parses for all three kinds —
    * image dimensions via [[imageDims]], audio duration via the
    * container sniff chain ([[parseWavDurationMs]] →
    * [[parseFlacDurationMs]] → [[parseAdtsDurationMs]] →
    * [[parseMp3DurationMs]] → [[parseOggDurationMs]]), video duration +
    * dimensions via [[parseMp4]] → [[parseWebm]]. Bytes-proportional work is limited to sha256 and the
    * byte-histogram feature; undecodable payloads yield null
    * dimensions/duration rather than failing the batch. */
  class HeaderDecoder extends Decoder {
    def decode(mediaId: Long, kind: String, bytes: Array[Byte]): Row = {
      val payload = if (bytes == null) Array.empty[Byte] else bytes
      val sha = graft.core.Hashing.sha256Hex(payload)
      val hist = new Array[Float](8)
      payload.foreach(b => hist((b & 0xFF) / 32) += 1f)
      val norm = math.max(1, payload.length).toFloat
      def row(w: Integer, h: Integer, dur: java.lang.Long) =
        Row(mediaId, kind, payload.length.toLong, sha, w, h, dur, hist.map(_ / norm).toSeq)
      kind match {
        case "image" =>
          val dims = imageDims(payload)
          row(dims.map(d => Integer.valueOf(d._1)).orNull,
            dims.map(d => Integer.valueOf(d._2)).orNull, null)
        case "audio" =>
          // container sniff: WAV → FLAC → ADTS → MP3 → Ogg. Strict
          // parsers (exact magic / sync at offset 0) run BEFORE the
          // junk-tolerant MP3 scanner: ADTS headers carry layer-00 bits
          // so MP3 files never parse as ADTS, but an ADTS file's
          // compressed PAYLOAD can contain a byte pair that satisfies
          // MP3's scanning sync check — strict-first makes the order
          // safe in both directions.
          val dur = parseWavDurationMs(payload)
            .orElse(parseFlacDurationMs(payload))
            .orElse(parseAdtsDurationMs(payload))
            .orElse(parseMp3DurationMs(payload))
            .orElse(parseOggDurationMs(payload))
          row(null, null, dur.map(java.lang.Long.valueOf).orNull)
        case "video" =>
          // container sniff: MP4 → WebM (magic mismatch returns None
          // immediately, so the chain costs one header read)
          parseMp4(payload).orElse(parseWebm(payload)) match {
            case Some((dur, w, h)) =>
              row(if (w > 0) Integer.valueOf(w) else null,
                if (h > 0) Integer.valueOf(h) else null, java.lang.Long.valueOf(dur))
            case None => row(null, null, null)
          }
        case _ => row(null, null, null)
      }
    }
  }

  /** Image-only real decode with a pluggable fallback for other kinds —
    * kept for callers that want stub audio/video features; the default
    * path is [[HeaderDecoder]]. */
  class ImageIoDecoder(fallback: Decoder = new StubDecoder) extends Decoder {
    def decode(mediaId: Long, kind: String, bytes: Array[Byte]): Row = {
      if (kind != "image") return fallback.decode(mediaId, kind, bytes)
      val payload = if (bytes == null) Array.empty[Byte] else bytes
      val sha = graft.core.Hashing.sha256Hex(payload)
      val dims = imageDims(payload)
      val hist = new Array[Float](8)
      payload.foreach(b => hist((b & 0xFF) / 32) += 1f)
      val norm = math.max(1, payload.length).toFloat
      Row(mediaId, kind, payload.length.toLong, sha,
        dims.map(_._1).map(Integer.valueOf).orNull,
        dims.map(_._2).map(Integer.valueOf).orNull,
        null, hist.map(_ / norm).toSeq)
    }
  }

  /** Ceiling for the RESIZE decode, deliberately higher than
    * [[ImageHash.MaxPixels]]: a 100+ Mpx panorama is a legitimate
    * input the resize pass exists to shrink (rejecting it would pass
    * the full payload through unresized), while a true bomb declares
    * GIGApixels. 256 Mpx ≈ 1 GB of ARGB raster per in-flight frame —
    * the row-at-a-time mapPartitions shape holds one per core. */
  val ResizeMaxPixels: Long = 256L * 1024 * 1024

  /** Full pixel decode from an in-memory payload —
    * [[ImageHash.decodeBounded]] (memory-cached stream, ImageIO.read's
    * setInput semantics, header-checked pixel ceiling, catch-all
    * None): ONE definition of the decode dance repo-wide. */
  def decodeImage(bytes: Array[Byte],
                  maxPixels: Long = ImageHash.MaxPixels): Option[java.awt.image.BufferedImage] =
    ImageHash.decodeBounded(bytes, maxPixels)

  /** Feature extraction over the media frame: mapPartitions batch
    * decode. Partition count is capped so each decode batch fits decoder
    * memory (the `maxPartitionBytes` knob of the binary path). */
  def extractFeatures(media: DataFrame, decoder: Decoder = new HeaderDecoder,
                      partitions: Int = 0): DataFrame = {
    val spark = media.sparkSession
    val src = if (partitions > 0) media.repartition(partitions) else media
    val rdd = src.select("media_id", "kind", "bytes").rdd.mapPartitions { it =>
      it.map { row =>
        decoder.decode(row.getLong(0), row.getString(1), row.getAs[Array[Byte]](2))
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Image resize — the standard multimodal preprocessing pass before
    * feature extraction: decode with `javax.imageio` (PNG/JPEG/GIF/BMP
    * — the JDK's codecs; a REAL pixel decode, unlike the header-only
    * dimension read in [[ImageIoDecoder]]), scale to fit
    * (maxWidth, maxHeight) preserving aspect ratio — never upscales —
    * with bilinear interpolation, re-encode PNG. Non-image rows and
    * already-fitting or undecodable images pass through unchanged with
    * `resized = false`. Same mapPartitions batch shape as
    * [[extractFeatures]]: partitions stream row-at-a-time, so executor
    * memory holds one decoded frame per core, not a batch of them.
    * Output: (media_id, kind, bytes, width, height, resized). */
  val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("resized", BooleanType, nullable = false)))

  def resizeImages(media: DataFrame, maxWidth: Int, maxHeight: Int,
                   partitions: Int = 0,
                   maxPixels: Long = ResizeMaxPixels): DataFrame = {
    require(maxWidth > 0 && maxHeight > 0, "bounds must be positive")
    val spark = media.sparkSession
    val src = if (partitions > 0) media.repartition(partitions) else media
    val rdd = src.select("media_id", "kind", "bytes").rdd.mapPartitions { it =>
      it.map { row =>
        val (id, kind) = (row.getLong(0), row.getString(1))
        val bytes = row.getAs[Array[Byte]](2)
        def passthrough(w: Integer, h: Integer) = Row(id, kind, bytes, w, h, false)
        if (kind != "image" || bytes == null) passthrough(null, null)
        else {
          decodeImage(bytes, maxPixels) match {
            case None => passthrough(null, null) // undecodable: keep the bytes
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              val scale = math.min(1.0,
                math.min(maxWidth.toDouble / w, maxHeight.toDouble / h))
              if (scale >= 1.0) passthrough(w, h)
              else {
                val nw = math.max(1, math.round(w * scale).toInt)
                val nh = math.max(1, math.round(h * scale).toInt)
                // ARGB target: transparent regions of RGBA/palette
                // sources survive the PNG re-encode (an RGB target
                // composites them over black — silent corruption for
                // web-crawled media)
                val out = new java.awt.image.BufferedImage(nw, nh,
                  java.awt.image.BufferedImage.TYPE_INT_ARGB)
                val g = out.createGraphics()
                try {
                  g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                    java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                  g.drawImage(img, 0, 0, nw, nh, null)
                } finally g.dispose()
                val buf = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(out, "png", buf)
                Row(id, kind, buf.toByteArray, Integer.valueOf(nw), Integer.valueOf(nh), true)
              }
          }
        }
      }
    }
    spark.createDataFrame(rdd, resizedSchema)
  }

  /** Synthesize a media frame from the documents table (test/bench
    * harness). Audio and video payloads are REAL containers — a PCM WAV
    * and an ISO-BMFF MP4 wrapped around the text bytes — so the header
    * decoders exercise against spec-conforming files; image rows keep
    * raw text bytes (deliberately undecodable → null dimensions). All
    * container parameters are arithmetic in (byte length, doc_id), so
    * the DuckDB oracle reproduces every decoded feature without
    * touching binary: audio duration = len·1000/32000 ms (16 kHz mono
    * 16-bit), video duration = len·40 ms, video dims =
    * (id%1280+16, id%720+16), n_bytes = len + {0, 44, 244}. */
  def mediaFromDocuments(docs: DataFrame): DataFrame = {
    val synth = udf { (kind: String, text: String, id: Long) =>
      val data = Option(text).getOrElse("")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      kind match {
        case "audio" => wavBytes(data)
        case "video" => mp4Bytes(data, data.length.toLong * 40L,
          (id % 1280 + 16).toInt, (id % 720 + 16).toInt)
        case _ => data
      }
    }
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs.select(col("doc_id").as("media_id"), kind.as("kind"),
      synth(kind, col("text"), col("doc_id")).as("bytes"),
      to_json(struct(col("lang"), col("source"))).as("meta"))
  }

  /** Deterministic frame sampling for video: every `stride`-th frame
    * index up to the (stub-decoded) duration at `fps`. Shows the
    * explode-shaped plumbing a real frame sampler uses. */
  def sampleFrames(features: DataFrame, fps: Int = 1, stride: Int = 10): DataFrame =
    features.filter(col("kind") === "video")
      .withColumn("n_frames",
        greatest((col("duration_ms") / 1000 * fps).cast("int"), lit(1)))
      .withColumn("frame_ix", explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("media_id"), col("frame_ix"),
        (col("frame_ix") * 1000L / fps).as("ts_ms"))
}
