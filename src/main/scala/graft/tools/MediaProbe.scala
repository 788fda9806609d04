package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{ImageHash, Multimodal}

/** Multimodal scale probe (dev tool, run-once evidence for NOTES): the
  * text operators carry 1M-doc probes; this is the media counterpart.
  *
  *  1. HEADER decode throughput at 1M mixed media rows (PNG image /
  *     PCM WAV / ISO-BMFF MP4, all REAL spec-conforming containers
  *     synthesized in-executor) — the [[Multimodal.extractFeatures]]
  *     scan-cost profile: bytes-proportional work is sha256 + the byte
  *     histogram, decode is header-only.
  *  2. PIXEL decode + bilinear resize + PNG re-encode throughput
  *     ([[Multimodal.resizeImages]]) at 200k 64×48 images — the heavy
  *     per-row path; memory bound is ONE decoded frame per core
  *     (rows stream through mapPartitions, nothing batches frames).
  *  3. Perceptual dedup at ≥100k images: dHash every image (real pixel
  *     decode + box downscale) and run the Hamming-ball pair pass with
  *     1-in-10 planted perturbed copies — recall must be exactly the
  *     planted count (the fixture's perturbation flips ≤ 2 of 64 bits
  *     and distinct patterns sit ~32 bits apart).
  *
  * Steady-state stages report median-of-5 ([[ProbeTiming]]); the
  * synthetic frames are generated in-executor (no disk), so the only
  * I/O in the timings is shuffle.
  *
  * Usage: runMain graft.tools.MediaProbe [headerRows] [resizeRows] [dhashRows] [sceneRows]
  */
object MediaProbe {

  /** 64×48 grayscale PNG whose 9×8 downscale reproduces
    * [[ImageHash.fixtureGray]] exactly: each fixture pixel becomes a
    * constant block (64/9- and 48/8-sized boxes average back to the
    * constant), so the probe's planted-dup arithmetic is the q130/q131
    * oracle's at realistic image dimensions. */
  def bigFixturePng(id: Long, perturb: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 48,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < 48) {
      var x = 0
      while (x < 64) {
        raster.setSample(x, y, 0,
          ImageHash.fixtureGray(id, x * 9 / 64, y * 8 / 48, perturb))
        x += 1
      }
      y += 1
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val headerN = args.headOption.map(_.toLong).getOrElse(1000000L)
    val resizeN = args.drop(1).headOption.map(_.toLong).getOrElse(200000L)
    val dhashN = args.drop(2).headOption.map(_.toLong).getOrElse(100000L)
    val wh = new java.io.File("/tmp/graft_mediaprobe_wh")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    if (wh.exists) rmrf(wh)
    val spark = graft.Tables.session("local[32]", 64, Some(wh.getAbsolutePath))
    import ProbeTiming.tmMedian

    // ---- 1. header decode at 1M mixed media --------------------------
    val mediaSynth = udf { (id: Long) =>
      val data = s"synthetic payload for media $id padded ${"x" * (id % 512).toInt}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (id % 3) match {
        case 0 => ImageHash.fixturePng(id) // real 9×8 gray PNG
        case 1 => Multimodal.wavBytes(data)
        case _ => Multimodal.mp4Bytes(data, data.length.toLong * 40L,
          (id % 1280 + 16).toInt, (id % 720 + 16).toInt)
      }
    }
    val kinds = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("id") % 3 + 1).cast("int"))
    val media = spark.range(0L, headerN, 1L, 64)
      .select(col("id").as("media_id"), kinds.as("kind"),
        mediaSynth(col("id")).as("bytes"),
        lit(null).cast("string").as("meta"))
      // synthesis materialized OUTSIDE the timed stage: the medians
      // measure decode, not fixture generation (~1 GB resident)
      .localCheckpoint(true)
    tmMedian(s"header decode, ${headerN / 1000}k mixed media (extractFeatures)") {
      val feats = Multimodal.extractFeatures(media)
      val decoded = feats.agg(
        sum(when(col("width").isNotNull || col("duration_ms").isNotNull, 1L)
          .otherwise(0L))).collect()(0).getLong(0)
      require(decoded == headerN,
        s"$decoded of $headerN payloads decoded — every container is spec-conforming")
    }

    // ---- 2. pixel decode + resize + re-encode at 200k ---------------
    val pngSynth = udf { (id: Long) => bigFixturePng(id, perturb = false) }
    val images = spark.range(0L, resizeN, 1L, 64)
      .select(col("id").as("media_id"), lit("image").as("kind"),
        pngSynth(col("id")).as("bytes"), lit(null).cast("string").as("meta"))
      .localCheckpoint(true)
    tmMedian(s"pixel decode + bilinear resize + PNG re-encode, ${resizeN / 1000}k 64x48 images") {
      val resized = Multimodal.resizeImages(images, 32, 32)
      val n = resized.filter(col("resized")).count()
      require(n == resizeN, s"$n of $resizeN resized")
    }

    // ---- 3. perceptual dedup at >=100k images ------------------------
    val dupSynth = udf { (id: Long, perturb: Boolean) => bigFixturePng(id, perturb) }
    val base = spark.range(0L, dhashN, 1L, 64)
      .select(col("id").as("media_id"), dupSynth(col("id"), lit(false)).as("bytes"))
    val planted = spark.range(0L, dhashN, 1L, 64).filter(col("id") % 10 === 0)
      .select((col("id") + 1000000000L).as("media_id"),
        dupSynth(col("id"), lit(true)).as("bytes"))
    val all = base.unionByName(planted).localCheckpoint(true)
    val expectedPairs = dhashN / 10 + (if (dhashN % 10 != 0) 1 else 0)
    tmMedian(s"dHash + Hamming-ball near-dup pass, ${dhashN / 1000}k images + 1-in-10 planted dups") {
      val pairs = ImageHash.nearDuplicates(all).localCheckpoint(true)
      val total = pairs.count()
      val plantedHits = pairs
        .filter(col("id_b") - col("id_a") === 1000000000L).count()
      require(plantedHits == expectedPairs,
        s"recall: $plantedHits of $expectedPairs planted pairs found")
      println(s"[probe]   pairs: $total total, $plantedHits planted, " +
        s"${total - plantedHits} cross-image extras")
    }

    // ---- 4. incremental perceptual gate at 1M indexed images --------
    // The q135 design claim as a number: screening a day's batch costs
    // one hash pass over the BATCH plus one co-located join — history
    // is 4×16-byte block rows, never re-decoded. Hashes here come
    // straight from the fixture arithmetic (the decode path's
    // bit-for-bit parity is pinned by spec + stage 3); this stage
    // measures the INDEX machinery at 10× the dedup-pass corpus.
    def fixtureHash(id: Long): Long = {
      var h = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (ImageHash.fixtureGray(id, x + 1, y, false) >
              ImageHash.fixtureGray(id, x, y, false)) h |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      h
    }
    val hashUdf = udf((id: Long, perturb: Boolean) =>
      if (perturb) ImageHash.dHash64(ImageHash.fixturePng(id, perturb = true)).get
      else fixtureHash(id))
    val indexN = 10L * dhashN
    val store = new graft.sources.HashIndexStore(spark,
      table = "probe_hash_index", buckets = 64)
    ProbeTiming.tm(s"publish hash index over ${indexN / 1000}k images (stamped ts = id)") {
      store.publish(spark.range(0L, indexN, 1L, 64)
        .select(col("id").as("media_id"),
          hashUdf(col("id"), lit(false)).as("dhash"), col("id").as("ts")),
        "media_id", "dhash", tsCol = Some("ts"))
    }
    // batch: ids above the index range; every 10th is a perturbed copy
    // of an indexed image
    val gateBatch = spark.range(0L, dhashN, 1L, 64)
      .select((col("id") + 2000000000L).as("media_id"),
        hashUdf(
          when(col("id") % 10 === 0, col("id") * 97L % indexN).otherwise(col("id") + 2000000000L),
          col("id") % 10 === 0).as("dhash"))
      .localCheckpoint(true)
    tmMedian(s"screen ${dhashN / 1000}k batch against the ${indexN / 1000}k index") {
      val v = store.screen(gateBatch, "media_id", "dhash")
      val planted = v.filter((col("new_id") - 2000000000L) % 10 === 0 &&
        col("is_dup")).count()
      require(planted == dhashN / 10,
        s"gate recall: $planted of ${dhashN / 10} planted copies flagged")
    }
    ProbeTiming.tm(s"expireBefore drops the older half (${indexN / 2000}k images)") {
      val dropped = store.expireBefore(indexN / 2)
      println(s"[probe] expired $dropped block rows")
    }
    tmMedian(s"screen ${dhashN / 1000}k batch, post-expiry ${indexN / 2000}k index") {
      store.screen(gateBatch, "media_id", "dhash")
        .agg(sum(when(col("is_dup"), 1).otherwise(0))).collect()
      ()
    }

    // ---- 5. video frame-set Jaccard at 100k videos x 16 frames ------
    // Frame hashes come from the fixture arithmetic (decode parity is
    // spec-pinned; stage 3 measures the decode path) — this measures
    // the SET machinery: explode + distinct + shared-hash blocking +
    // one-groupBy Jaccard over 1.6M+ frame-hash rows with 1-in-10
    // planted one-scene-replaced copies (J = 15/17 = 0.882).
    val videoN = dhashN
    val frameHashUdf = udf { (vid: Long, perturb: Boolean) =>
      (0 until 16).map { f =>
        val pid = if (perturb && f == (vid % 16).toInt) vid * 131L + 777777L
                  else vid * 131L + f
        fixtureHash(pid)
      }
    }
    def videoFrames(ids: org.apache.spark.sql.DataFrame, offset: Long,
                    perturb: Boolean) =
      ids.select((col("id") + offset).as("media_id"),
          explode(frameHashUdf(col("id"), lit(perturb))).as("fhash"))
        .distinct()
    val vids = spark.range(0L, videoN, 1L, 64).toDF()
    val vFrames = videoFrames(vids, 0L, perturb = false)
      .unionByName(videoFrames(vids.filter(col("id") % 10 === 0), 1000000000L,
        perturb = true))
      .localCheckpoint(true)
    tmMedian(s"video frame-set Jaccard, ${videoN / 1000}k videos x 16 frames + 1-in-10 planted") {
      val pairs = graft.ops.VideoHash.nearDupVideos(vFrames, threshold = 0.8)
        .localCheckpoint(true)
      val total = pairs.count()
      val plantedHits = pairs
        .filter(col("id_b") - col("id_a") === 1000000000L).count()
      require(plantedHits == videoN / 10,
        s"recall: $plantedHits of ${videoN / 10} planted pairs found")
      println(s"[probe]   pairs: $total total, $plantedHits planted, " +
        s"${total - plantedHits} cross-video extras")
    }

    // ---- 6. video gate: screen 100k videos against a 1M-video index --
    // The q139 claim at 10x the corpus: history is (id, fhash, n) rows
    // (16M for 1M videos), the screen is one explode + one batch-pruned
    // co-located probe join.
    val vIndexN = 10L * videoN
    val fsStore = new graft.sources.FrameSetIndexStore(spark,
      table = "probe_frame_sets", buckets = 64)
    ProbeTiming.tm(s"publish frame-set index over ${vIndexN / 1000}k videos (${vIndexN * 16 / 1000000}M rows)") {
      fsStore.publish(
        videoFrames(spark.range(0L, vIndexN, 1L, 64).toDF(), 0L, perturb = false),
        "media_id", "fhash")
    }
    // batch: every 10th is a one-scene-replaced copy of an indexed
    // video, the rest live far outside the indexed pattern space
    val vBatch = videoFrames(
        spark.range(0L, videoN, 1L, 64).filter(col("id") % 10 === 0).toDF(),
        1000000000L, perturb = true)
      .unionByName(videoFrames(
        spark.range(3000000000L, 3000000000L + videoN - videoN / 10, 1L, 64)
          .toDF(), 0L, perturb = false))
      .localCheckpoint(true)
    tmMedian(s"screen ${videoN / 1000}k videos against the ${vIndexN / 1000}k-video frame-set index") {
      val v = fsStore.screen(vBatch, "media_id", "fhash")
      val planted = v.filter(col("new_id") >= 1000000000L &&
        col("new_id") < 2000000000L && col("is_dup")).count()
      require(planted == videoN / 10,
        s"gate recall: $planted of ${videoN / 10} planted copies flagged")
    }

    // ---- 7. windowed audio fingerprints at 100k recordings ----------
    // 128 frames -> 64 hop-1 window hashes per recording (6.4M+ rows);
    // 1-in-10 planted copies trimmed by id%8+1 whole frames
    // (J = (64-k)/64 >= 0.875, threshold 0.85).
    val audioN = dhashN
    val winUdf = udf { (id: Long, trim: Int) =>
      val env = (trim until 128).map(f =>
        graft.ops.AudioHash.fixtureAmp(id, f, perturb = false))
      (0 to env.length - 65).map { p =>
        var h = 0L
        var k = 0
        while (k < 64) { if (env(p + k + 1) > env(p + k)) h |= 1L << k; k += 1 }
        h
      }
    }
    def windows(ids: org.apache.spark.sql.DataFrame, offset: Long, trimmed: Boolean) =
      ids.select((col("id") + offset).as("media_id"),
          explode(winUdf(col("id"),
            if (trimmed) (col("id") % 8 + 1).cast("int") else lit(0))).as("whash"))
        .distinct()
    val aids = spark.range(0L, audioN, 1L, 64).toDF()
    val wFrames = windows(aids, 0L, trimmed = false)
      .unionByName(windows(aids.filter(col("id") % 10 === 0), 1000000000L,
        trimmed = true))
      .localCheckpoint(true)
    tmMedian(s"windowed audio near-dup, ${audioN / 1000}k recordings x 64 windows + 1-in-10 trimmed") {
      val pairs = graft.ops.AudioHash.windowedNearDupPairs(wFrames, threshold = 0.85)
        .localCheckpoint(true)
      val total = pairs.count()
      val plantedHits = pairs
        .filter(col("id_b") - col("id_a") === 1000000000L).count()
      require(plantedHits == audioN / 10,
        s"recall: $plantedHits of ${audioN / 10} planted trimmed copies found")
      println(s"[probe]   pairs: $total total, $plantedHits planted, " +
        s"${total - plantedHits} cross-recording extras")
    }

    // ---- 8. scene segmentation at 1M REAL containers (shuffle-free) --
    // The q142 claim at scale: decode + scene walk are fused in one
    // UDF projection, so the whole operator runs without a single
    // Exchange (PlanSpec pins the plan; this measures it). Real
    // ISO-BMFF decode per row — not pre-computed hashes. Planted
    // structure: 2-5 even scenes per video (mean 3.5); frame
    // partition is exact by construction, scene count is exact unless
    // an adjacent-scene pattern pair lands within 4 dHash bits
    // (never observed at sf0.1; report, and tolerate <= 0.1%).
    val sceneN = args.drop(3).headOption.map(_.toLong).getOrElse(headerN)
    val sceneMedia = spark.range(0L, sceneN, 1L, 64)
      .select(col("id").as("media_id"),
        graft.ops.VideoHash.fixtureSceneMp4Udf(col("id")).as("bytes"))
      .localCheckpoint(true)
    val plantedScenes = (0L until sceneN)
      .view.map(id => 2L + id % 4).sum // exact, any sceneN
    tmMedian(s"scene segmentation, ${sceneN / 1000}k real MP4 containers (decode-fused, zero shuffles)") {
      val agg0 = graft.ops.VideoHash.sceneSegments(sceneMedia)
        .agg(count(lit(1)), sum(col("n_frames"))).collect()(0)
      val (nScenes, nFrames) = (agg0.getLong(0), agg0.getLong(1))
      require(nFrames == sceneN * 16,
        s"frame partition must be exact: $nFrames of ${sceneN * 16} frames covered")
      require(nScenes >= plantedScenes * 999 / 1000 && nScenes <= plantedScenes,
        s"scene recovery: $nScenes of $plantedScenes planted scenes")
      println(s"[probe]   scenes: $nScenes detected of $plantedScenes planted " +
        s"(${plantedScenes - nScenes} adjacent-pattern merges)")
    }
    spark.stop()
  }
}
