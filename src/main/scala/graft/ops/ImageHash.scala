package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual image near-duplication: 64-bit difference hash (dHash)
  * over REAL pixel decode, with Hamming-ball candidate blocking — the
  * multimodal counterpart of text SimHash dedup (a web-crawled image
  * corpus is full of re-encoded, resized and lightly-edited copies
  * that byte-level sha256 dedup cannot see; the reference handles
  * image payloads but has no perceptual dedup — this is the
  * beyond-reference training-pipeline capability, same brief as
  * §2.12).
  *
  * dHash (the standard 8×9 difference hash): decode → integer
  * grayscale → deterministic box-filter downscale to 9×8 → one bit per
  * horizontal neighbor pair (`right > left`), packed LSB-first into a
  * LONG (bit k = y·8+x). Every step is INTEGER arithmetic with floor
  * division — no AWT interpolation, no float rounding — so the hash is
  * bit-reproducible from the pixel values alone, which is what lets a
  * SQL oracle replay it exactly from an arithmetic pixel fixture
  * (q130/q131, the q28 pattern for multimodal decode).
  *
  * Scale shape: hashing is one mapPartitions pass over the media frame
  * (embarrassingly parallel, one decoded frame per core in memory —
  * the [[Multimodal.extractFeatures]] batch shape); pair generation
  * reuses the SimHash 16-bit-block machinery
  * ([[Dedup.hammingNearDupPairs]]) — one shuffle on (block, key),
  * in-bucket survivors-only pair emission, exact for Hamming ≤ 3 by
  * pigeonhole. Nothing here is quadratic in the corpus.
  */
object ImageHash {

  /** Integer luminance of one sRGB pixel — the BT.601 weights in
    * parts-per-thousand, floor division (exact, replayable). */
  def luma(rgb: Int): Int =
    (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
      114 * (rgb & 0xFF)) / 1000

  /** Grayscale plane of a decoded image. Single-band images (gray
    * PNG/JPEG) read RAW raster samples — `getRGB` would route gray
    * through Java's color-managed CS_GRAY→sRGB conversion (gamma:
    * gray 128 comes back ~186), silently breaking pixel-exact
    * replayability; multi-band images take the [[luma]] of `getRGB`. */
  def grayPlane(img: java.awt.image.BufferedImage): Array[Int] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](w * h)
    val raster = img.getRaster
    if (raster.getNumBands == 1) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = luma(img.getRGB(x, y)); x += 1 }
        y += 1
      }
    }
    out
  }

  /** Deterministic integer box-filter downscale: target pixel (tx, ty)
    * is the floor-mean of the source box [tx·w/tw, (tx+1)·w/tw) ×
    * [ty·h/th, (ty+1)·h/th) (boxes forced non-empty, so a source
    * already at target size passes through IDENTITY — the property the
    * oracle fixtures rely on; an undersized source degrades to nearest
    * neighbor). */
  def boxDownscale(src: Array[Int], w: Int, h: Int,
                   tw: Int, th: Int): Array[Int] = {
    if (w == tw && h == th) return src
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th
      val y1 = math.max(y0 + 1, (ty + 1) * h / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw
        val x1 = math.max(x0 + 1, (tx + 1) * w / tw)
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += src(y * w + x); x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (s / ((x1 - x0).toLong * (y1 - y0))).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Decompression-bomb ceiling: web-crawl input contains PNGs whose
    * HEADER declares multi-gigapixel dimensions from a few KB of
    * payload — decoding one allocates multi-GB rasters and takes the
    * executor down with an uncatchable OutOfMemoryError. 64 Mpx
    * (8k×8k) is far above any legitimate photo this pipeline hashes
    * (the hash target is 9×8) while capping the per-core decode
    * allocation at ~256 MB of gray plane. Checked from the header
    * BEFORE any pixel is allocated. */
  val MaxPixels: Long = 64L * 1024 * 1024

  /** THE bounded in-memory image decode — one definition for every
    * pixel consumer (this hash, [[Multimodal.decodeImage]]'s resize
    * path), so the security-sensitive decode dance cannot drift:
    *
    *  - MemoryCacheImageInputStream, NOT ImageIO.createImageInputStream:
    *    the default is a FileCacheImageInputStream that spools every
    *    in-memory payload to a temp file — measured 5-10x slower and
    *    wildly disk-noise-dependent (A/B: 1.6 s vs 8-17 s per 50k
    *    single-threaded decodes);
    *  - `setInput(iis, seekForwardOnly = true, ignoreMetadata = true)` —
    *    the exact semantics `ImageIO.read` uses, so corrupt-but-
    *    ignorable metadata segments do not fail payloads that always
    *    decoded, and the forward-only cache is flushable;
    *  - dimensions come from the HEADER before any raster is
    *    allocated: more than `maxPixels` pixels rejects (decompression
    *    bombs declare gigapixels from a few KB; decoding one is an
    *    uncatchable executor OOM);
    *  - the whole dance sits inside the try — a corrupt payload yields
    *    None, never an uncaught UDF exception failing the job. */
  def decodeBounded(bytes: Array[Byte],
                    maxPixels: Long): Option[java.awt.image.BufferedImage] = {
    if (bytes == null) return None
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val (w, h) = (reader.getWidth(0), reader.getHeight(0))
            if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) None
            else Option(reader.read(0))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case _: Exception => None }
  }

  /** 64-bit dHash of an encoded image payload; None when the bytes do
    * not decode (the undecodable-rows-pass-through convention of every
    * multimodal op here) or when the header declares more than
    * [[MaxPixels]] pixels (a decompression bomb has no perceptual
    * identity worth its raster). Bit k = y·8+x is set iff the 9×8
    * grayscale's pixel (x+1, y) is strictly brighter than (x, y). */
  def dHash64(bytes: Array[Byte],
              codec: MediaCodec = MediaCodec.Default): Option[Long] =
    // decode through the INJECTABLE codec ([[MediaCodec]] — ImageIO by
    // default), hash through the engine's one gray-plane construction
    try codec.imagePixels(bytes).map(MediaCodec.grayDHash)
    catch { case _: Exception => None } // corrupt raster mid-hash → None

  val dhashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("dhash", LongType, nullable = true)))

  /** [[dHash64]] as a column function. A UDF, deliberately: the decode
    * is irreducibly JVM-object work (ImageIO), so a native Expression
    * would buy nothing but boilerplate — and unlike an RDD
    * mapPartitions hop, a UDF projection keeps the media frame inside
    * ONE plan (no DataFrame→RDD→DataFrame re-analysis barrier, scans
    * and downstream blocking stay codegen-fused). */
  val dHashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    dHashUdfWith(MediaCodec.Default)

  /** [[dHashUdf]] over an injected codec (the production-decoder
    * plug point — the codec serializes into the UDF closure). */
  def dHashUdfWith(codec: MediaCodec)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) => dHash64(bytes, codec))

  /** dHash over a media frame: one projection — decode parallelism is
    * the frame's partitioning (`partitions` > 0 repartitions first,
    * the [[Multimodal.extractFeatures]] batch-sizing knob). Output
    * (media_id, dhash); dhash null for undecodable payloads. */
  def dhashFrame(media: DataFrame, idCol: String = "media_id",
                 bytesCol: String = "bytes", partitions: Int = 0,
                 codec: MediaCodec = MediaCodec.Default): DataFrame = {
    val src = if (partitions > 0) media.repartition(partitions) else media
    src.select(col(idCol).cast("long").as("media_id"),
      dHashUdfWith(codec)(col(bytesCol)).as("dhash"))
  }

  /** Near-duplicate image pairs from a (media_id, dhash) frame:
    * [[Dedup.hammingNearDupPairs]] over the dHash column — 16-bit-block
    * Hamming-ball blocking, exact for `maxDistance` ≤ 3, verified
    * in-bucket. Output (id_a, id_b, hamming), id_a < id_b. Undecodable
    * rows (null dhash) are dropped here — a payload with no pixels has
    * no perceptual identity (byte-level exact dedup still covers it). */
  def nearDupPairs(hashes: DataFrame, maxDistance: Int = 3,
                   maxBucketSize: Int = 0): DataFrame =
    Dedup.hammingNearDupPairs(hashes.filter(col("dhash").isNotNull),
      "media_id", "dhash", maxDistance, maxBucketSize)

  /** One-call form over a media frame: hash, then pair. The hash frame
    * is CHECKPOINTED between the two: the blocking stage references the
    * hash column several times (4 block keys + the bucket members), and
    * Spark's project-collapse would clone the decode UDF into each
    * reference — re-decoding every image ~5×. Materializing 16 bytes
    * per image buys decode-exactly-once (measured 1.5 s → sub-second on
    * the 5 k-image q131 shape; at 100 TB the skinny hash frame is the
    * artifact you'd persist anyway). */
  def nearDuplicates(media: DataFrame, idCol: String = "media_id",
                     bytesCol: String = "bytes", maxDistance: Int = 3,
                     maxBucketSize: Int = 0,
                     codec: MediaCodec = MediaCodec.Default): DataFrame =
    nearDupPairs(
      graft.core.Materialize.frame(dhashFrame(media, idCol, bytesCol, codec = codec)),
      maxDistance, maxBucketSize)

  // ---- Deterministic pixel fixtures (test/oracle harness) ----------
  // The q28 pattern for perceptual hashing: synthesize 9x8 grayscale
  // PNGs whose every pixel is integer arithmetic in (doc_id, x, y), so
  // a SQL oracle replays the full real pipeline -- PNG encode, ImageIO
  // decode, raster read, (identity) downscale, bit packing -- without
  // touching a byte of image data. Gray PNG roundtrips raw samples
  // losslessly, and 9x8 input makes the downscale identity, so
  // SparkHash == oracle arithmetic bit-for-bit.

  /** Fixture gray level at (x, y) for a document id — quadratic mixing
    * so horizontal differences (the hash bits) vary with x, y AND id;
    * the coefficient moduli are coprime, so distinct ids get distinct
    * patterns far beyond any test corpus size. `perturb` flips one
    * id-chosen pixel by half the range — a "lightly edited copy" whose
    * dHash differs in at most 2 bits (only the two comparisons touching
    * that pixel can change). */
  def fixtureGray(id: Long, x: Int, y: Int, perturb: Boolean): Int = {
    val a = (id % 97 + 1).toInt
    val b = (id % 89 + 2).toInt
    val c = (id % 83 + 3).toInt
    val d = (id / 97 % 101).toInt
    val e = (id / 89 % 103).toInt
    val g = (a * x * x + b * y * y + c * x * y + d * x + e * y) % 256
    if (perturb && x == (id % 9).toInt && y == (id % 8).toInt) (g + 128) % 256
    else g
  }

  /** Encode the fixture pattern as a real 9×8 grayscale PNG.
    *
    * Hand-encoded (r15): `ImageIO.write` funnels every call through
    * the synchronized IIORegistry writer lookup plus a heavyweight
    * encoder — measured 80 µs/image single-threaded and far worse
    * under 32 concurrent fixture tasks (q130's decode stage read 8 s
    * of CPU for 5 k images whose raw pixel work is ~0.5 s). The
    * fixture is 80 bytes of gray samples; [[pngGray8]] writes a
    * spec-valid PNG around them with pure arithmetic + java.util.zip
    * checksums — zero locks, deterministic bytes, and any compliant
    * reader (ImageIO included) decodes the IDENTICAL raster, so every
    * dHash, oracle replay and golden value is unchanged. */
  def fixturePng(id: Long, perturb: Boolean = false): Array[Byte] = {
    val w = 9; val h = 8
    val raw = new Array[Byte](h * (w + 1)) // filter byte 0 + w samples per row
    var o = 0
    var y = 0
    while (y < h) {
      raw(o) = 0; o += 1
      var x = 0
      while (x < w) { raw(o) = fixtureGray(id, x, y, perturb).toByte; o += 1; x += 1 }
      y += 1
    }
    pngGray8(w, h, raw)
  }

  /** Minimal deterministic PNG container for 8-bit grayscale: IHDR +
    * one IDAT (zlib with STORED deflate blocks — no compression, no
    * Deflater allocation) + IEND. `raw` is the filtered scanline
    * stream (filter byte 0 before each row's samples). Stored blocks
    * cap at 65535 bytes, so large rasters loop. */
  private[ops] def pngGray8(w: Int, h: Int, raw: Array[Byte]): Array[Byte] = {
    require(raw.length == h * (w + 1), "raw must be h filtered scanlines")
    val out = new java.io.ByteArrayOutputStream(raw.length + 96)
    def be32(v: Int): Array[Byte] =
      Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a), 0, 8)
    val ihdr = new java.io.ByteArrayOutputStream(13)
    ihdr.write(be32(w), 0, 4); ihdr.write(be32(h), 0, 4)
    ihdr.write(8) // bit depth
    ihdr.write(0) // color type: grayscale
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate, filter 0, no interlace
    chunk("IHDR", ihdr.toByteArray)
    val idat = new java.io.ByteArrayOutputStream(raw.length + raw.length / 65535 * 5 + 16)
    idat.write(0x78); idat.write(0x01) // zlib header, fastest-compression hint
    var off = 0
    var done = false
    while (!done) {
      val len = math.min(65535, raw.length - off)
      val fin = if (off + len >= raw.length) 1 else 0
      idat.write(fin) // BFINAL | BTYPE=00 (stored)
      idat.write(len & 0xff); idat.write((len >>> 8) & 0xff)
      idat.write(~len & 0xff); idat.write((~len >>> 8) & 0xff)
      idat.write(raw, off, len)
      off += len
      done = fin == 1
    }
    val ad = new java.util.zip.Adler32
    ad.update(raw)
    idat.write(be32(ad.getValue.toInt), 0, 4)
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** The fixture as a column UDF (id, perturb) → PNG bytes. */
  val fixturePngUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((id: Long, perturb: Boolean) => fixturePng(id, perturb))
}
