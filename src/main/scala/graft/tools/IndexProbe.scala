package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Incremental-dedup scale probe (dev tool, run-once evidence for
  * NOTES): build the published MinHash band index over an N-doc
  * synthetic corpus, then screen a batch (10% planted duplicates of
  * indexed docs) against it — the q117 / indexedDedupSink path at
  * probe scale. Reports index build time, index row count, screening
  * time, and planted-dup recall (exact copies ⇒ signature match is
  * certain; recall must be 1.0). Runs the screen through BOTH storage
  * layouts: the in-memory/plain index (the r8 measurement — the
  * screen join re-shuffles the whole signature-carrying index side)
  * and the (band, bucket)-BUCKETED published table
  * ([[graft.sources.BandIndexStore]] — the index side joins
  * Exchange-free; only the batch shuffles), so the layout's win is a
  * measured number, not an assertion.
  *
  * Usage: runMain graft.tools.IndexProbe [oldDocs] [batchDocs]
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val oldN = args.headOption.map(_.toLong).getOrElse(1800000L)
    val batchN = args.drop(1).headOption.map(_.toLong).getOrElse(200000L)
    val wh = new java.io.File("/tmp/graft_indexprobe_wh")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    if (wh.exists) rmrf(wh)
    val spark = graft.Tables.session("local[32]", 64, Some(wh.getAbsolutePath))
    import ProbeTiming.{tm, tmMedian}
    // deterministic 25-token doc from a seed; xxhash64 mixing — a
    // linear-congruential token formula folds mod the vocabulary and
    // silently makes every ~200k-th seed an EXACT duplicate doc (the
    // first run of this probe flagged 100% of the batch, correctly)
    def text(seed: org.apache.spark.sql.Column) = array_join(
      transform(sequence(lit(0), lit(24)),
        j => concat(lit("w"),
          pmod(xxhash64(seed, j), lit(200000L)).cast("string"))), " ")
    val old = spark.range(oldN)
      .select(col("id").as("doc_id"), text(col("id")).as("text"))
    // batch ids sit above the old range; every 10th doc reuses an old
    // doc's seed => an exact copy the index must flag
    val batch = spark.range(batchN)
      .select((col("id") + oldN).as("doc_id"),
        text(when(col("id") % 10 === 0, col("id") * 97L % oldN)
          .otherwise(col("id") + oldN)).as("text"))

    val index = tm(s"build index over ${oldN / 1000}k docs") {
      Dedup.minhashBandIndex(old, "doc_id", "text").localCheckpoint(true)
    }
    println(s"[probe] index rows: ${index.count()} (docs x 4 bands)")
    def screenAndReport(label: String, indexSide: => org.apache.spark.sql.DataFrame): Unit = {
      // recall asserted once; the timing is a median-of-5 steady state
      val verdicts = Dedup
        .dedupAgainstIndex(batch, indexSide, "doc_id", "text")
        .localCheckpoint(true)
      val flagged = verdicts.filter(col("is_dup")).count()
      val planted = verdicts
        .filter((col("new_id") - oldN) % 10 === 0 && col("is_dup")).count()
      println(s"[probe] $label flagged: $flagged of ${batchN / 10} planted " +
        s"(planted hits: $planted, false-ish extras: ${flagged - planted})")
      tmMedian(s"screen ${batchN / 1000}k batch against the $label index") {
        Dedup.dedupAgainstIndex(batch, indexSide, "doc_id", "text")
          .agg(sum(when(col("is_dup"), 1).otherwise(0))).collect()
        ()
      }
    }
    screenAndReport("in-memory (checkpointed frame)", index)
    // the PRODUCTION comparison: a published index lives on disk either
    // way — plain parquet (the screen re-shuffles the sig-carrying
    // index every day) vs the bucketed table (shuffle paid once at
    // publish; the daily screen joins the index side Exchange-free,
    // sort-free at one file per bucket)
    val plainPath = s"$wh/plain_index.parquet"
    tm(s"publish plain parquet index (${oldN / 1000}k docs)") {
      index.write.mode("overwrite").parquet(plainPath)
    }
    screenAndReport("plain parquet", spark.read.parquet(plainPath))
    val store = new graft.sources.BandIndexStore(spark, buckets = 64)
    tm(s"publish bucketed index table (${oldN / 1000}k docs)") {
      store.append(index)
    }
    screenAndReport("bucketed table", store.load())
    // the SPLIT layout: skinny band rows + per-doc signature table —
    // the screen stops dragging the bands×-duplicated signatures
    val split = new graft.sources.SplitBandIndexStore(spark, buckets = 64)
    tm(s"publish split index tables (${oldN / 1000}k docs)") {
      split.publish(old, "doc_id", "text")
    }
    locally {
      val verdicts = split.screen(batch, "doc_id", "text").localCheckpoint(true)
      val flagged = verdicts.filter(col("is_dup")).count()
      val planted = verdicts
        .filter((col("new_id") - oldN) % 10 === 0 && col("is_dup")).count()
      println(s"[probe] split flagged: $flagged of ${batchN / 10} planted " +
        s"(planted hits: $planted, false-ish extras: ${flagged - planted})")
    }
    tmMedian(s"screen ${batchN / 1000}k batch against the split index") {
      split.screen(batch, "doc_id", "text")
        .agg(sum(when(col("is_dup"), 1).otherwise(0))).collect()
      ()
    }
    // the full daily gate round: screen + admit in ONE signature pass
    // (ingest) — the steady-state number an ingestion pipeline pays.
    // One-shot by nature: each round APPENDS (admitting twice would
    // poison the recall check for the next stage)
    tm(s"ingest (screen + admit) a further ${batchN / 1000}k batch") {
      val batch2 = spark.range(batchN)
        .select((col("id") + oldN + batchN).as("doc_id"),
          text(when(col("id") % 10 === 0, col("id") * 89L % oldN)
            .otherwise(col("id") + oldN + batchN)).as("text"))
      val verdicts = split.ingest(batch2, "doc_id", "text")
      val flagged = verdicts.filter(col("is_dup")).count()
      println(s"[probe] ingest flagged: $flagged (>= ${batchN / 10} planted)")
    }
    // RETENTION: re-publish the whole corpus STAMPED, age out half,
    // and show the screen cost tracks the surviving index size — the
    // "a year of appends doesn't scan dead docs forever" claim as a
    // measured number, not a docstring
    val retained = new graft.sources.SplitBandIndexStore(spark,
      bandsTable = "probe_ret_bands", sigsTable = "probe_ret_sigs", buckets = 64)
    tm(s"publish stamped split index (${oldN / 1000}k docs, ts = doc_id)") {
      retained.publish(old.withColumn("ts", col("doc_id")), "doc_id", "text",
        tsCol = Some("ts"))
    }
    tmMedian(s"screen ${batchN / 1000}k batch, full ${oldN / 1000}k index") {
      retained.screen(batch, "doc_id", "text")
        .agg(sum(when(col("is_dup"), 1).otherwise(0))).collect()
      ()
    }
    tm(s"expireBefore drops the older half (${oldN / 2000}k docs)") {
      val dropped = retained.expireBefore(oldN / 2)
      println(s"[probe] expired $dropped signature rows")
    }
    tmMedian(s"screen ${batchN / 1000}k batch, post-expiry ${oldN / 2000}k index") {
      retained.screen(batch, "doc_id", "text")
        .agg(sum(when(col("is_dup"), 1).otherwise(0))).collect()
      ()
    }
    spark.stop()
  }
}
