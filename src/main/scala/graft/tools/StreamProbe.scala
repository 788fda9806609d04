package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming scale probe — the state-boundedness questions a 100 TB
  * stream poses, exercised at 600k events through a REAL file-source
  * stream (multiple micro-batches, not MemoryStream driver toys):
  *
  *   - does `sessionizeStream`'s session_window state track OPEN
  *     sessions (≈ distinct keys) rather than events seen — i.e. does
  *     the watermark actually evict closed sessions?
  *   - does `quotaSampleStream` hold exactly one long per domain, and
  *     do per-domain admissions respect the quota ACROSS micro-batches?
  *   - both on the raw TIMESTAMP_NTZ `ts` the driver parquet ships —
  *     the type normalization must hold on the streaming path too.
  *
  * State sizes come from the engine's own accounting
  * (`lastProgress.stateOperators.numRowsTotal`), not from guesses.
  * Not part of CI. Usage:
  *   sbt "runMain graft.tools.StreamProbe [sfDir]"
  */
object StreamProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session(s"local[$cpus]", cpus.toInt,
      // fresh warehouse per run: the sprobe_* tables are per-run state,
      // and a stale ./spark-warehouse/sprobe_* directory from an earlier
      // probe fails saveAsTable with LOCATION_ALREADY_EXISTS
      Some(java.nio.file.Files.createTempDirectory("sp-warehouse").toString))
    import spark.implicits._

    // 600k events: the sf0.1 events table ×6, each copy's users disjoint
    // (offset 1e9·k) — session/quota state then scales with KEYS, and the
    // probe can pin state ∝ keys, not events. `ts` stays EXACTLY as the
    // parquet ships it (TIMESTAMP_NTZ since the r6 regeneration): the
    // streaming entry points must normalize, not the probe.
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val copies = (0 until 6).map(k => raw
      .withColumn("user_id", col("user_id") + lit(k * 1000000000L)))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("stream-probe").toString
    copies.repartition(12).write.mode("overwrite").parquet(s"$dir/events")
    val nEvents = spark.read.parquet(s"$dir/events").count()
    val nUsers = raw.select(col("user_id")).distinct().count() * 6
    println(s"[stream] events=$nEvents users=$nUsers (ts type: " +
      raw.schema("ts").dataType.simpleString + ")")

    def finalStateRows(q: StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators.toSeq).filter(_.nonEmpty)
        .map(_.map(_.numRowsTotal).sum).getOrElse(-1L)

    // file-source stream: 2 files per trigger → 6 micro-batches of ~100k
    def stream(path: String) = spark.readStream
      .schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(path)

    // --- sessionizeStream at 600k ------------------------------------
    {
      val t0 = System.nanoTime()
      var sessions = 0L
      val q = graft.streaming.Streaming
        .sessionizeStream(stream(s"$dir/events"), "user_id", "ts",
          gap = "30 minutes", watermark = "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-ckpt").toString)
        .foreachBatch { (b: DataFrame, _: Long) => sessions += b.count() }
        .start()
      q.processAllAvailable()
      val state = finalStateRows(q)
      q.stop()
      println(f"[stream] sessionize 600k            " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
        f"closed_sessions=$sessions state_rows=$state")
      // closed sessions emitted; state holds only open sessions — the
      // engine may keep a few rows per key across the session/watermark
      // stores, but NEVER O(events)
      assert(sessions > 0, "watermark advanced: sessions closed and emitted")
      assert(state >= 0 && state <= 4 * nUsers,
        s"session state tracks open sessions (~#keys), not events: " +
          s"$state vs ${4 * nUsers} allowed")
    }

    // --- quotaSampleStream at 600k -----------------------------------
    {
      val t0 = System.nanoTime()
      // ~1000 domains via user-id hash; id = event_id (unique per copy
      // union? no — make it unique by salting with user_id)
      val docs = stream(s"$dir/events")
        .select(concat(lit("d"), pmod(col("user_id"), lit(1000))).as("domain"),
          (col("event_id") + col("user_id") * lit(1000000L)).as("doc_id"))
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val q = graft.streaming.Streaming
        .quotaSampleStream(docs, "domain", "doc_id", quota = 50)
        .writeStream.outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-quota").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          admitted ++= b.collect().map(r => r.getString(0) -> r.getLong(1))
          () // disambiguate the Scala foreachBatch overload (Unit body)
        }
        .start()
      q.processAllAvailable()
      val state = finalStateRows(q)
      q.stop()
      val perDomain = admitted.groupBy(_._1).view.mapValues(_.size)
      val nDomains = perDomain.size.toLong
      println(f"[stream] quota sample 600k          " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
        f"admitted=${admitted.size} domains=$nDomains state_rows=$state")
      assert(perDomain.values.forall(_ <= 50),
        s"no domain exceeds its quota across micro-batches: " +
          perDomain.filter(_._2 > 50))
      assert(perDomain.values.exists(_ == 50),
        "full domains exist (600k events over 1000 domains)")
      // state is ONE counter per domain — the bounded shape; allow the
      // store's per-key overhead but never O(events) or O(admitted)
      assert(state >= 0 && state <= 2 * nDomains,
        s"quota state is one row per domain: $state vs $nDomains domains")
    }

    // --- SUSTAINED throughput: per-batch latency over ≥100 batches ---
    // The equivalence pins prove the sinks are CORRECT; this measures
    // whether they stay FAST as their published state grows: drive a
    // fixed batch size for `susBatches` micro-batches and record every
    // trigger's execution time from the engine's own progress
    // accounting. The verdict is the latency PLATEAU — the median of
    // the last quarter vs the first quarter after warmup. Appends are
    // O(batch) by design; the screen side grows only in matching
    // buckets, so steady-state latency must not trend with batch index.
    val susBatches = sys.env.getOrElse("SPARK_GRAFT_SUS_BATCHES", "110").toInt
    val susRows = sys.env.getOrElse("SPARK_GRAFT_SUS_ROWS", "2000").toInt
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (susBatches + 20).toString)

    def batchDurations(q: StreamingQuery): Seq[Double] =
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toDouble / 1e3)

    def plateauReport(label: String, durs: Seq[Double]): Unit = {
      def med(xs: Seq[Double]): Double =
        if (xs.isEmpty) -1 else xs.sorted.apply(xs.size / 2)
      val warm = durs.drop(10) // JIT/codegen warmup batches excluded
      val quarter = math.max(1, warm.size / 4)
      val early = med(warm.take(quarter))
      val late = med(warm.takeRight(quarter))
      println(f"[stream] $label%-28s batches=${durs.size} " +
        f"median=${med(warm)}%.2f s p95=${warm.sorted.apply(math.min(warm.size - 1, (warm.size * 0.95).toInt))}%.2f s " +
        f"early-median=$early%.2f s late-median=$late%.2f s")
      assert(late <= 2.5 * early,
        s"$label: per-batch latency must plateau, not trend with " +
          s"published-state size (early $early s -> late $late s)")
    }

    // 110 single-file micro-batches of 2000 docs: ~55x the state the
    // last batch screens against vs the first. Every 10th doc is a
    // copy of a doc from 5 batches earlier, so the screen keeps
    // finding real cross-batch dups throughout.
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    def docText(id: Long): String = {
      // copy base resolves to the UNREMAPPED range [0, 5·susRows):
      // `id - 5·susRows` would point at an id that is ITSELF remapped
      // (every 10th id ≥ 5·susRows is), so the generated copy would
      // match nothing actually stored and true dups would exist only
      // in batches 5-9 — the modulo keeps real cross-batch dups
      // arriving ALL the way out
      val base = if (id % 10 == 0 && id >= 5L * susRows) id % (5L * susRows)
        else id
      val r = new scala.util.Random(base)
      Seq.fill(30)(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    val textUdf = udf(docText _)
    val susDir = java.nio.file.Files.createTempDirectory("sp-sustained").toString
    (0 until susBatches).foreach { b =>
      spark.range(b.toLong * susRows, (b + 1L) * susRows)
        .select(col("id").as("doc_id"), textUdf(col("id")).as("text"))
        .coalesce(1).write.mode("append").parquet(s"$susDir/docs")
    }

    // indexed-dedup sink over the PRODUCTION split store (the sink's
    // saveBands is a no-op here because publishSigs writes both
    // tables in the store's safe sigs-first order)
    {
      val store = new graft.sources.SplitBandIndexStore(spark,
        bandsTable = "sprobe_bands", sigsTable = "sprobe_sigs", buckets = 16)
      var hits = 0L
      val q = graft.streaming.Streaming.indexedDedupSinkSplit(
          "doc_id", "text",
          _ => store.loadBands(), _ => store.loadSigs(),
          _ => (), sigs => store.publishSigs(sigs),
          v => hits += v.filter(col("is_dup")).count())(
          spark.readStream
            .schema(spark.read.parquet(s"$susDir/docs").schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$susDir/docs"))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-ixsus").toString)
        .start()
      q.processAllAvailable()
      val durs = batchDurations(q)
      q.stop()
      assert(hits > 0, "cross-batch duplicates keep being found")
      plateauReport(s"indexed-dedup ${susBatches}x$susRows", durs)
    }

    // cluster-maintenance sink over a real LabelStore: each batch
    // folds 500 pairs touching earlier ids, so components keep
    // merging against ever-larger published labelings
    {
      val store = new graft.sources.LabelStore(spark,
        "sprobe_labels_id", "sprobe_labels_cluster", buckets = 16)
      val pairDir = java.nio.file.Files.createTempDirectory("sp-clsus").toString
      (0 until susBatches).foreach { b =>
        spark.range(b * 500L, (b + 1) * 500L)
          .select((col("id") * 7L).as("id_a"),
            when(col("id") % 5 === 0 && col("id") >= 500L,
              (col("id") - 500L) * 7L) // merge into an older component
              .otherwise(col("id") * 7L + 3L).as("id_b"))
          .coalesce(1).write.mode("append").parquet(s"$pairDir/pairs")
      }
      var relabeled = 0L
      val q = graft.streaming.Streaming.clusterMaintenanceSink(
          "id_a", "id_b", store, v => relabeled += v.count(),
          compactRatio = 4.0, compactFloor = 1000L)(
          spark.readStream
            .schema(spark.read.parquet(s"$pairDir/pairs").schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$pairDir/pairs"))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-clckpt").toString)
        .start()
      q.processAllAvailable()
      val durs = batchDurations(q)
      q.stop()
      assert(relabeled > 0)
      plateauReport(s"cluster-maint ${susBatches}x500", durs)
    }

    // semantic-gate sink over a real SrpIndexStore: each batch screens
    // its embeddings against the ever-growing published index, then
    // publishes (vecs-first, via the store's own safe order — the
    // sink's saveBuckets is the no-op, mirroring the indexed-dedup
    // wiring above). Probed at the SHIPPED default construction
    // (planes=8, tables=4 — the q151-audited >=0.93-recall row the
    // r15 default bump installed), so the plateau is evidence about
    // what ships: 8 planes collide random pairs at 2^-8 per table,
    // the worst-case candidate load the default gate pays while the
    // index grows ~55x; every candidate still exits through exact
    // cosine.
    {
      val store = new graft.sources.SrpIndexStore(spark,
        bucketsTable = "sprobe_srp_buckets", vecsTable = "sprobe_srp_vecs",
        buckets = 16, planes = 8, tables = 4, threshold = 0.9)
      val dim = 32
      val embUdf = udf { (id: Long) =>
        // every 10th vector copies one from the UNREMAPPED range (the
        // docText comment above: an `id - 5·susRows` base would point
        // at an id that is itself remapped, matching nothing stored) —
        // the screen keeps finding true cross-batch dups all the way out
        val base = if (id % 10 == 0 && id >= 5L * susRows) id % (5L * susRows)
          else id
        val r = new scala.util.Random(base)
        Array.fill(dim)(r.nextFloat() - 0.5f)
      }
      val embDir = java.nio.file.Files.createTempDirectory("sp-embsus").toString
      (0 until susBatches).foreach { b =>
        spark.range(b.toLong * susRows, (b + 1L) * susRows)
          .select(col("id").as("vec_id"), embUdf(col("id")).as("embedding"))
          .coalesce(1).write.mode("append").parquet(s"$embDir/vecs")
      }
      var dups = 0L
      var batchN = 0
      val q = graft.streaming.Streaming.embeddingDedupSink(
          "vec_id", "embedding",
          _ => store.loadBuckets(),
          _ => store.loadVecs().select(col("vec_id"), col("emb")),
          v => {
            store.publish(v, "vec_id", "emb")
            batchN += 1
            // periodic compaction is the append-log store's operating
            // procedure (the CacheStore append + latest-wins design):
            // without it every bucketed append adds `buckets` files per
            // table and the DRIVER's per-trigger listing/footer work
            // grows linearly with batches ingested — measured as a
            // 1.3 s → 3.5 s latency trend over 110 batches, with the
            // screen's actual candidate work flat. Compaction cost
            // rides its own trigger (visible in p95), bounding steady
            // state instead of letting the log grow without bound.
            if (batchN % 20 == 0) store.compact()
          }, _ => (),
          v => dups += v.filter(col("is_dup")).count(),
          planes = 8, tables = 4, threshold = 0.9)(
          spark.readStream
            .schema(spark.read.parquet(s"$embDir/vecs").schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$embDir/vecs"))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-embckpt").toString)
        .start()
      q.processAllAvailable()
      val durs = batchDurations(q)
      q.stop()
      assert(dups > 0, "cross-batch embedding duplicates keep being found")
      plateauReport(s"embedding-gate ${susBatches}x$susRows", durs)
    }

    // model-score gate sink over a real CacheStore: a REPEAT-HEAVY
    // text stream (90% of each batch's texts cycle through a fixed
    // 3-batch pool, 10% stay unique) so the evidence is twofold —
    // per-batch latency must plateau while the score store grows, AND
    // the cache-hit ratio must rise toward ~0.9 once the pool
    // saturates (the rising ratio IS the proof the durable store
    // engages across batches: a sink that silently re-scored would
    // hold latency flat and hit-ratio at zero). The store is the
    // same append-log CacheStore family whose file-count growth mode
    // the embedding sink's first probe run caught — the periodic
    // compact() is the documented operating procedure here too.
    {
      val dir = java.nio.file.Files
        .createTempDirectory("sp-scoregate").resolve("cache").toString
      val store = new graft.sources.CacheStore(dir, spark)
      def scoreText(id: Long): String = {
        val base = if (id % 10 == 0) id // unique tail: always-new texts
          else id % (3L * susRows)      // pool: repeats after batch 3
        val r = new scala.util.Random(base)
        (0 until 12).map(_ => vocab(r.nextInt(vocab.length)))
          .mkString(s"doc $base ", " ", "")
      }
      val textUdf = udf(scoreText _)
      val scoreDir = java.nio.file.Files
        .createTempDirectory("sp-scoresus").toString
      (0 until susBatches).foreach { b =>
        spark.range(b.toLong * susRows, (b + 1L) * susRows)
          .select(col("id").as("doc_id"), textUdf(col("id")).as("text"))
          .coalesce(1).write.mode("append").parquet(s"$scoreDir/docs")
      }
      var batchN = 0
      val hitRatios = scala.collection.mutable.ArrayBuffer[Double]()
      val q = graft.streaming.Streaming.scoringGateSink(
          "doc_id", "text", graft.ops.Scorer.Default,
          _ => Some(store),
          v => {
            val r = v.agg(count(lit(1)),
              count(org.apache.spark.sql.functions.when(col("from_cache"), 1)))
              .head
            hitRatios += r.getLong(1).toDouble / math.max(1L, r.getLong(0))
            batchN += 1
            if (batchN % 20 == 0) store.compact()
          },
          threshold = 0.5)(
          spark.readStream
            .schema(spark.read.parquet(s"$scoreDir/docs").schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$scoreDir/docs"))
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sp-scoreckpt").toString)
        .start()
      q.processAllAvailable()
      val durs = batchDurations(q)
      q.stop()
      val quarter = math.max(1, hitRatios.size / 4)
      val earlyHit = hitRatios.take(quarter).sum / quarter
      val lateHit = hitRatios.takeRight(quarter).sum / quarter
      println(f"[stream] scoring-gate hit-ratio: first-quarter " +
        f"$earlyHit%.3f -> last-quarter $lateHit%.3f " +
        f"(pool repeats must serve from the durable store)")
      assert(lateHit > 0.85,
        s"cache must engage cross-batch: late hit ratio $lateHit")
      assert(lateHit > earlyHit,
        "hit ratio must RISE as the pool saturates")
      plateauReport(s"scoring-gate ${susBatches}x$susRows", durs)
    }

    spark.stop()
    println("[stream] all state-boundedness asserts passed")
  }
}
