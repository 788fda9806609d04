package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.model.{CollectionOps, CollectionSpec, Documents}

/** Structured Streaming surface. The reference is batch-with-
  * continuation (SURVEY §2.10) — its webhook-style increments
  * (post-initialization seeding into the upsert path, seeding.py:
  * 156-166) map to `readStream → foreachBatch(upsert)`; true streaming
  * analytics (watermarked event-time windows) is an ADDITION beyond the
  * reference surface for the 100 TB pipeline case.
  */
object Streaming {

  /** Incremental document ingestion: each micro-batch of property JSON
    * upserts into the versioned collection store through the SAME merge
    * semantics as batch seeding (one code path, two execution modes).
    * `load` must return the current snapshot; `save` persists the merged
    * snapshot (e.g. VersionStore write + manifest bump).
    */
  def upsertSink(spec: CollectionSpec,
                 load: SparkSession => DataFrame,
                 save: DataFrame => Unit)(stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val current = load(spark)
        val updates = Documents.fromProperties(batch)
        val merged = CollectionOps.upsert(current, updates,
          spec.identifier.getOrElse("id"), spec)
        save(merged.localCheckpoint(true))
      }

  /** Watermarked event-time windowed aggregation over an events stream —
    * the streaming twin of q12_time_window. Late data beyond the
    * watermark is dropped; state is bounded (mandatory at 100 TB). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    graft.core.Timestamps.normalize(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** Streaming gap-based sessionization — the streaming twin of
    * q61/`AsOfJoin.sessionize`: Spark's native `session_window` merges
    * events within `gap` of each other into one growing window per key,
    * and the watermark closes sessions (emits + drops state) once event
    * time passes the gap — bounded state on an infinite stream, where
    * the batch form's global sort-per-key cannot run. Same output
    * grain as q61: one row per (key, session) with count and span. */
  def sessionizeStream(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts", gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    graft.core.Timestamps.normalize(events, tsCol)
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select(col(keyCol), col("session_window.start").as("window_start"),
        col("n_events"), col("session_start"), col("session_end"))

  /** Sessionized per-key state via flatMapGroupsWithState-style
    * aggregation: running per-entity counters maintained across
    * micro-batches (the custom-state extension point). Batch-testable
    * form: the same transformation works on a static frame. */
  def runningTotals(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"),
        max(col("ts")).as("last_seen"))

  /** Streaming per-domain quota sampling: the first `quota` documents
    * of each domain are admitted (ascending id within a micro-batch,
    * arrival order across batches) and the rest drop — the streaming
    * twin of the batch per-domain cap (`Curation.domainCap`), for
    * ingest-time corpus balancing. The admitted count persists across
    * micro-batches via flatMapGroupsWithState: state is ONE long per
    * domain — bounded by domain cardinality on an infinite stream
    * (an unbounded seen-set would be the OOM shape). Each invocation
    * buffers only its own (domain, batch) slice to sort ids. */
  def quotaSampleStream(docs: DataFrame, domainCol: String, idCol: String,
                        quota: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    require(quota > 0, "quota must be positive")
    docs.select(col(domainCol).cast("string"), col(idCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (dom: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, quota - admitted).toInt
          // a FULL domain buffers nothing — the common steady state once
          // the stream outlives its quotas
          if (room == 0) Iterator.empty
          else {
            val take = rows.map(_._2).toArray.sorted.take(room)
            if (take.nonEmpty) state.update(admitted + take.length)
            take.iterator.map(id => (dom, id))
          }
      }
      .toDF("domain", "doc_id")
  }

  /** Streaming exact deduplication for document ingestion: documents
    * whose normalized-text hash was already seen are dropped,
    * `dropDuplicatesWithinWatermark` keeps the dedup state BOUNDED (an
    * unbounded `dropDuplicates` key set is a slow OOM at 100 TB —
    * within-watermark state is the only shape that survives an infinite
    * stream; exact global dedup belongs in the batch compaction pass,
    * Dedup.exactGroups). `tsCol` is the event-time column the watermark
    * rides on. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermark: String = "1 hour"): DataFrame =
    graft.core.Timestamps.normalize(docs, tsCol)
      .withColumn("__text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__text_hash")
      .drop("__text_hash")

  /** Empty band-table frame — the initial state for [[nearDupSink]].
    * `withTs = true` adds the epoch-millis event-time column the
    * retention-enabled sink stamps on every band row. */
  def emptyBandTable(spark: SparkSession, withTs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Seq(StructField("id", LongType),
      StructField("band", IntegerType), StructField("bucket", StringType))
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(if (withTs) base :+ StructField("ts", LongType) else base))
  }

  /** Empty signature-carrying index frame — the initial state for
    * [[indexedDedupSink]]; schema matches
    * [[graft.ops.Dedup.minhashBandIndex]]. */
  def emptyIndexTable(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("sig", ArrayType(StringType)),
        StructField("band", IntegerType), StructField("bucket", StringType))))
  }

  /** Streaming maintenance of the PUBLISHED MinHash index (q117's
    * artifact): each micro-batch is first SCREENED against the
    * accumulated index with the batch operator
    * ([[graft.ops.Dedup.dedupAgainstIndex]] — verbatim; one
    * definition, two execution modes), emitting the full per-doc
    * verdict frame (n_dup_matches / dup_of / est_jaccard / is_dup —
    * signature-estimated Jaccard, so no prior text is ever read), and
    * then its own [[graft.ops.Dedup.minhashBandIndex]] rows append to
    * the store. The "screen against history, then admit" ingestion
    * gate; the streamed index is byte-identical to the batch-built
    * index over the same documents, so batch consumers (q117, offline
    * compaction) read it directly.
    *
    * Differences from [[nearDupSink]]: that sink flags CANDIDATES
    * (band collisions, within-batch pairs included) for downstream
    * verification; this one emits VERDICTS against prior history only
    * — within-batch duplicates are admitted together and belong to
    * the next batch compaction. Save contract is append-only and
    * batch-sized, as everywhere.
    *
    * Delivery contract: emits are AT-LEAST-ONCE. The verdict frame is
    * checkpointed (evaluated) BEFORE `emit` is called and before
    * `saveIndex` admits the batch, and the screen itself drops
    * old_id == new_id candidates — so a crash anywhere in the batch
    * (including AFTER the save but before the stream checkpoint, where
    * the replay screens against an index that already holds the
    * batch's own rows) re-emits the ORIGINAL verdicts, never
    * self-duplicates. Duplicate `saveIndex` rows from the replay are
    * harmless ([[graft.ops.Dedup.dedupAgainstIndex]] groups per
    * (new, old) pair; `compact()` rewrites distinct), but consumers of
    * `emit` must be idempotent — key the downstream write on
    * (batch_id, new_id) or dedupe on new_id, exactly as with any
    * foreachBatch sink without transactional two-phase output. */
  def indexedDedupSink(idCol: String, textCol: String,
                       loadIndex: SparkSession => DataFrame,
                       saveIndex: DataFrame => Unit,
                       emit: DataFrame => Unit,
                       k: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                       threshold: Double = 0.5)
                      (stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        // the verdict frame is CHECKPOINTED before emit sees it: the
        // screen must evaluate strictly before saveIndex admits the
        // batch, even if emit defers its action (a lazy emit that ran
        // after the save would screen the batch against its own rows —
        // the self-dup belt; dedupAgainstIndex's old_id =!= new_id
        // filter is the suspenders for the crash-replay window where a
        // prior attempt's save landed but the stream checkpoint didn't)
        // ONE signature pass per micro-batch (the pipeline's most
        // expensive stage — tokenize + shingle + k salted minhashes):
        // the checkpointed rows feed the screen AND the admit, where
        // separate dedupAgainstIndex + minhashBandIndex calls paid it
        // twice (the indexedDedupSinkSplit discipline)
        val rows = graft.ops.Dedup
          .minhashBandIndex(batch, idCol, textCol, k, bands, shingleSize)
          .localCheckpoint(true)
        emit(graft.ops.Dedup.dedupAgainstIndexFromRows(rows,
          batch.select(col(idCol).as("new_id")), loadIndex(spark),
          k, threshold)
          .localCheckpoint(true))
        saveIndex(rows)
      }

  /** [[indexedDedupSink]] over the SPLIT index layout
    * ([[graft.ops.Dedup.dedupAgainstIndexSplit]] /
    * [[graft.sources.SplitBandIndexStore]]): the accumulated history
    * is a skinny (doc_id, band, bucket) band store plus a per-doc
    * signature store — the production artifact shape (the combined
    * layout's screens are dominated by decoding the bands×-duplicated
    * signatures; IndexProbe: 8.4 s vs 50.0 s per 200k batch). One
    * signature pass per micro-batch feeds the screen AND both saves.
    * Same verdict frame, same at-least-once emit contract, same
    * emit-before-save ordering as the combined sink. */
  def indexedDedupSinkSplit(idCol: String, textCol: String,
                            loadBands: SparkSession => DataFrame,
                            loadSigs: SparkSession => DataFrame,
                            saveBands: DataFrame => Unit,
                            saveSigs: DataFrame => Unit,
                            emit: DataFrame => Unit,
                            k: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                            threshold: Double = 0.5)
                           (stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        // literally one signature pass: the checkpointed frame feeds
        // the screen AND both saves
        val sigs = graft.ops.Dedup
          .minhashSignatures(batch, idCol, textCol, k, shingleSize)
          .select(col("id").as("doc_id"), col("sig"))
          .localCheckpoint(true)
        // verdicts are CHECKPOINTED before emit: screened strictly
        // before the saves admit the batch, regardless of whether emit
        // materializes eagerly (same belt-and-suspenders as the
        // combined sink — the FromSigs screen also drops
        // old_id == new_id candidates, so even a crash-replay against
        // an index already holding this batch re-emits the original
        // verdicts instead of self-dups)
        emit(graft.ops.Dedup.dedupAgainstIndexSplitFromSigs(
          batch.select(col(idCol).as("new_id")), sigs,
          loadBands(spark), loadSigs(spark), k, bands, threshold)
          .localCheckpoint(true))
        saveBands(graft.ops.Dedup.bandRowsFromSigs(sigs, bands, k / bands))
        saveSigs(sigs)
      }

  /** The MODEL-SCORE quality gate as a streaming sink —
    * [[graft.ops.ModelScoring]]'s streaming twin (one scoring kernel,
    * two execution modes, like every other gate family here): each
    * micro-batch scores CACHE-FIRST through the shared durable
    * resource store and emits one verdict row per batch doc
    * (idCol, score, from_cache, keep). The model is consulted once per
    * text the store has never seen — cross-batch repeats and
    * crash-replays serve from the store, so a replayed micro-batch
    * re-emits its original score and keep verdicts (from_cache flips
    * to true — provenance, not semantics) without re-paying the model.
    * Exactly-once scoring and torn-read safety are the KERNEL's
    * properties (checkpoint-before-append plus the pre-append
    * cache-join snapshot); this sink adds only the verdict column and
    * the emit-materialized-verdicts discipline. Rows are never dropped
    * here — `emit` sees every doc with its verdict, and the caller's
    * downstream decides removal (the filter_documents convention). */
  def scoringGateSink(idCol: String, textCol: String,
                      scorer: graft.ops.Scorer,
                      cache: SparkSession => Option[graft.sources.ResourceCache],
                      emit: DataFrame => Unit,
                      threshold: Double,
                      batchSize: Int = 64, maxConcurrency: Int = 32,
                      broadcastCache: Boolean = true)
                     (stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        emit(graft.ops.ModelScoring.scoreWithCache(batch, idCol, textCol,
            scorer, cache(spark), batchSize, maxConcurrency, broadcastCache)
          .withColumn("keep", col("score") >= lit(threshold))
          .localCheckpoint(true))
      }

  /** The SEMANTIC ingestion gate as a streaming sink —
    * [[indexedDedupSinkSplit]]'s shape for EMBEDDINGS: each
    * micro-batch screens against the published SRP index with
    * [[graft.ops.Similarity.embeddingDedupAgainstIndex]] VERBATIM
    * (one definition, two execution modes), emits exact-cosine
    * verdicts, then admits the batch — VECTORS first, skinny bucket
    * rows second (a vector without bucket rows is inert; a bucket row
    * without its vector would silently drop candidates at the
    * embedding join — [[graft.sources.SrpIndexStore]]'s torn-publish
    * argument). Verdicts checkpoint BEFORE the saves, and the
    * operator's old_id ≠ new_id filter makes crash-replays re-emit
    * original verdicts — the family contract. Store callbacks receive
    * batch-sized frames only (append-only O(batch) per micro-batch);
    * [[graft.sources.SrpIndexStore]] is the bucketed implementation.
    * Default construction (8,4) follows the store's measured-recall
    * default (q151 audit: 0.937 vs 0.851 at the r14-era (8,2)) — the
    * sink and the store MUST agree on (planes, tables) or the store's
    * contentTag check refuses the publish. */
  def embeddingDedupSink(idCol: String, embCol: String,
                         loadBuckets: SparkSession => DataFrame,
                         loadVecs: SparkSession => DataFrame,
                         saveVecs: DataFrame => Unit,
                         saveBuckets: DataFrame => Unit,
                         emit: DataFrame => Unit,
                         planes: Int = 8, tables: Int = 4,
                         threshold: Double = 0.9)
                        (stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        emit(graft.ops.Similarity.embeddingDedupAgainstIndex(batch,
          loadBuckets(spark), loadVecs(spark), idCol, embCol,
          planes, tables, threshold).localCheckpoint(true))
        saveVecs(batch.select(col(idCol).cast("long").as("vec_id"),
          col(embCol).as("emb")).localCheckpoint(true))
        saveBuckets(graft.ops.Similarity.srpBucketRows(batch, idCol, embCol,
          planes, tables))
      }

  /** Streaming NEAR-duplicate detection: each micro-batch computes the
    * SAME MinHash+LSH band keys as the batch operator
    * ([[graft.ops.Dedup.lshCandidatePairs]] — one definition, two
    * execution modes) and joins them against the persisted band table
    * of everything seen so far; docs sharing any (band, bucket) with a
    * prior document — or an earlier doc in the same batch — are emitted
    * as `(id, partner_id)` candidates, and the batch's bands upsert
    * into the table.
    *
    * State scale: the band table holds `bands` rows per document ever
    * seen — at 100 TB it lives as a parquet/Delta table BUCKETED BY
    * (band, bucket), so the per-batch probe join co-locates and touches
    * only matching buckets; `load`/`save` abstract that store
    * ([[BandStore]] is the bucketed implementation; tests pass an
    * in-memory frame).
    *
    * Save contract is APPEND-ONLY: `saveBands` receives ONLY the
    * current batch's bands — O(batch) work per micro-batch. The store
    * appends and dedupes on read or in a periodic `compact()` (the same
    * append + latest-wins design as [[graft.sources.CacheStore]]);
    * handing the callback the merged history would make every
    * micro-batch an O(corpus-so-far) full-table rewrite. A re-ingested
    * id duplicating its band rows in the log is harmless: the emitted
    * candidates collapse through the per-id `min(partner_id)` agg.
    * This is candidate DETECTION (q23 semantics); exact-Jaccard
    * verification of flagged pairs belongs to the batch path, where
    * both texts are at hand.
    *
    * Retention: without a bound the band table grows forever — `bands`
    * rows per document EVER seen, the one unbounded state in the
    * streaming layer. Pass `tsCol` (an event-time column of the stream)
    * and `retentionMillis` > 0 to bound it: every band row is stamped
    * with its document's event time, the probe join ignores prior rows
    * older than `max-event-time-seen − retention` (a driver-side
    * high-water mark — the same observed-event-time clock a watermark
    * uses, so replays age deterministically, wall clock never enters),
    * and the store drops expired rows at compaction
    * ([[BandStore.compact]]). Near-dups further apart than the
    * retention window are the accepted miss — that tail belongs to the
    * batch compaction pass (q23/q50), exactly like exact dedup's
    * within-watermark contract above. */
  def nearDupSink(idCol: String, textCol: String,
                  loadBands: SparkSession => DataFrame,
                  saveBands: DataFrame => Unit,
                  emit: DataFrame => Unit,
                  k: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                  tsCol: String = "", retentionMillis: Long = 0L)
                 (stream: DataFrame): DataStreamWriter[Row] = {
    val retain = tsCol.nonEmpty && retentionMillis > 0L
    // high-water mark of observed event time, carried across micro-
    // batches on the driver (foreachBatch closures outlive batches)
    val highWater = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // `unix_millis` below rejects TIMESTAMP_NTZ — same policy as
        // every other tsCol entry point (core.Timestamps)
        val batch = if (retain)
          graft.core.Timestamps.normalize(batch0, tsCol) else batch0
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        val keys = graft.ops.Dedup
          .minhashSignatures(batch, idCol, textCol, k, shingleSize)
          .select(col("id"),
            explode(graft.ops.Dedup.lshBandKeys(col("sig"), bands, k / bands)).as("bk"))
          .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
        val batchBands = (if (!retain) keys else {
          // stamp each band row with its doc's event time (epoch
          // millis). The grouping id is the RAW idCol — the same
          // expression the band keys carry; a cast("long") here would
          // null out every non-numeric id (url-hash strings), the join
          // would match nothing, every band row would save ts-null and
          // the horizon (which exempts null ts) would never expire a
          // row despite retention being configured
          val times = batch.groupBy(col(idCol).as("id"))
            .agg(max(unix_millis(col(tsCol))).as("ts"))
          keys.join(times, Seq("id"), "left")
        }).localCheckpoint(true)
        val horizon = retentionHorizon(batch, tsCol, retain, highWater,
          retentionMillis, storedMaxTs(loadBands(spark)))
        val prior = horizonFiltered(loadBands(spark), retain, horizon)
        // prior partners that are members of the CURRENT batch are
        // excluded (batch-sized anti-join): after a crash-replay the
        // store already holds this batch's rows, and without the
        // exclusion every within-batch pair (a, b) would re-emit
        // REVERSED as (a, partner = b) alongside the original (b, a) —
        // a brand-new key to any consumer deduping on (id, partner_id).
        // With it, replays re-emit exactly the original rows.
        val batchIds = batchBands.select(col("id").as("partner_id")).distinct()
        val fromPrior = batchBands
          .join(prior.select(col("id").as("partner_id"), col("band"), col("bucket"))
            .join(batchIds, Seq("partner_id"), "left_anti"),
            Seq("band", "bucket"))
          .filter(col("partner_id") =!= col("id"))
        val withinBatch = batchBands
          .join(batchBands.select(col("id").as("partner_id"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          .filter(col("partner_id") < col("id"))
        emit(fromPrior.unionByName(withinBatch
            .select(fromPrior.columns.map(col): _*))
          .groupBy(col("id")).agg(min(col("partner_id")).as("partner_id"))
          .localCheckpoint(true))
        saveBands(batchBands)
      }
  }

  /** Empty hash-block frame — the initial state for
    * [[hammingNearDupSink]]; (id, sim) plus the 16-bit block key rows.
    * `withTs = true` adds the epoch-millis event-time column the
    * retention-enabled sink stamps. */
  def emptyBlockTable(spark: SparkSession, withTs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Seq(StructField("id", LongType), StructField("sim", LongType),
      StructField("blk", IntegerType), StructField("key", LongType))
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(if (withTs) base :+ StructField("ts", LongType) else base))
  }

  /** Streaming PERCEPTUAL/Hamming near-duplicate detection — the
    * incremental twin of [[graft.ops.Dedup.hammingNearDupPairs]], and
    * therefore of text SimHash, image dHash
    * ([[graft.ops.ImageHash]]) and audio envelope fingerprints
    * ([[graft.ops.AudioHash]]) alike: the stream carries a precomputed
    * 64-bit hash column (decode is an upstream projection — media
    * bytes never enter the state store), each micro-batch explodes the
    * 4×16-bit block keys, probes the persisted block table for
    * collisions, and — unlike [[nearDupSink]]'s candidate detection —
    * emits VERIFIED pairs: both hashes are 8 bytes, so they ride the
    * block rows and the exact Hamming check (`bit_count(xor)` —
    * codegen-native) runs inside the probe join. Exact for
    * `maxDistance` ≤ 3 by the pigeonhole argument of the batch
    * operator; within-batch pairs emit alongside prior-history pairs.
    *
    * Output per micro-batch: (id, partner_id, hamming) — every
    * verified pair where `id` is in the current batch and partner is
    * an earlier doc (prior batch, or smaller id within the batch).
    * State: 4 rows × 16 bytes per document ever seen — bucketed by
    * (blk, key) at scale ([[HashBlockStore]]), probed Exchange-free.
    * Save contract is APPEND-ONLY and batch-sized, retention/horizon
    * semantics identical to [[nearDupSink]] (tsCol + retentionMillis;
    * the observed-event-time high-water clock, null-ts rows exempt). */
  def hammingNearDupSink(idCol: String, hashCol: String,
                         loadBlocks: SparkSession => DataFrame,
                         saveBlocks: DataFrame => Unit,
                         emit: DataFrame => Unit,
                         maxDistance: Int = 3,
                         tsCol: String = "", retentionMillis: Long = 0L)
                        (stream: DataFrame): DataStreamWriter[Row] = {
    val retain = tsCol.nonEmpty && retentionMillis > 0L
    val highWater = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val batch = if (retain)
          graft.core.Timestamps.normalize(batch0, tsCol) else batch0
        val spark = batch.sparkSession
        val hashes = batch
          .select(col(idCol).cast("long").as("id"),
            col(hashCol).cast("long").as("sim"),
            (if (retain) unix_millis(col(tsCol)) else lit(null).cast("long")).as("ts"))
          .filter(col("sim").isNotNull) // undecodable media: no identity
        // ONE block-derivation definition across operator, index and
        // sink (Dedup.hashBlockRows); the retention stamp joins back
        // batch-sized
        val keys = graft.ops.Dedup.hashBlockRows(hashes, "id", "sim")
        val batchBlocks =
          // max(ts) per id, not distinct(): one id landing twice in a
          // batch with two event times would fan every block row out
          // per ts — stored rows differing ONLY in ts that compact()'s
          // distinct rewrite can never collapse (the nearDupSink rule)
          (if (retain) keys.join(hashes.groupBy(col("id"))
              .agg(max(col("ts")).as("ts")), Seq("id"))
           else keys).localCheckpoint(true)
        val horizon = retentionHorizon(batch, tsCol, retain, highWater,
          retentionMillis, storedMaxTs(loadBlocks(spark)))
        val prior = horizonFiltered(loadBlocks(spark), retain, horizon)
        def partnerSide(df: DataFrame) = df.select(
          col("id").as("partner_id"), col("sim").as("partner_sim"),
          col("blk"), col("key"))
        val ham = bit_count(col("sim").bitwiseXOR(col("partner_sim")))
        // crash-replay contract (same as nearDupSink): prior partners
        // that are members of the current batch are excluded, so a
        // replay against a store already holding this batch's rows
        // re-emits the ORIGINAL pairs — never a reversed
        // (a, partner = b) duplicate of the within-batch (b, a)
        val batchIds = batchBlocks.select(col("id").as("partner_id")).distinct()
        val fromPrior = batchBlocks
          .join(partnerSide(prior)
            .join(batchIds, Seq("partner_id"), "left_anti"), Seq("blk", "key"))
          .filter(col("partner_id") =!= col("id"))
        val withinBatch = batchBlocks
          .join(partnerSide(batchBlocks), Seq("blk", "key"))
          .filter(col("partner_id") < col("id"))
        emit(fromPrior.unionByName(withinBatch
            .select(fromPrior.columns.map(col): _*))
          .filter(ham <= maxDistance)
          .select(col("id"), col("partner_id"), ham.cast("int").as("hamming"))
          .distinct() // several shared blocks → one pair row
          .localCheckpoint(true))
        saveBlocks(batchBlocks)
      }
  }

  /** The retention clock shared by every stateful near-dup sink: a
    * driver-side high-water mark of OBSERVED event time (the same
    * clock a watermark uses — replays age deterministically, wall
    * clock never enters), minus the retention window. Long.MinValue =
    * retention off or no event time observed yet.
    *
    * On the FIRST retained batch of a process the mark seeds from the
    * DURABLE store's max stamp (`storeMaxTs`, lazy): the AtomicLong
    * alone dies with the driver, and a crash-replay in a fresh
    * process would otherwise rebuild a LOWER high water from a
    * late-data batch — widening the horizon and emitting prior-history
    * pairs the original batch never saw, breaking the deterministic-
    * replay contract. The store's stamps were written under the old
    * mark, so their max restores a clock at least as high as any
    * replayed batch observed. */
  private def retentionHorizon(batch: DataFrame, tsCol: String,
                               retain: Boolean,
                               highWater: java.util.concurrent.atomic.AtomicLong,
                               retentionMillis: Long,
                               storeMaxTs: => Long): Long =
    if (!retain) Long.MinValue
    else {
      if (highWater.get() == Long.MinValue) {
        val seeded = storeMaxTs
        if (seeded != Long.MinValue)
          highWater.accumulateAndGet(seeded, math.max(_, _))
      }
      val batchMax = batch.agg(max(unix_millis(col(tsCol)))).head()
      if (!batchMax.isNullAt(0))
        highWater.accumulateAndGet(batchMax.getLong(0), math.max(_, _))
      highWater.get() match {
        case Long.MinValue => Long.MinValue
        case hw => hw - retentionMillis
      }
    }

  /** Max retention stamp of a store frame (Long.MinValue when the
    * table is legacy ts-less or all-null) — the [[retentionHorizon]]
    * crash-restart seed. */
  private def storedMaxTs(df: DataFrame): Long =
    if (!df.columns.contains("ts")) Long.MinValue
    else {
      val r = df.agg(max(col("ts"))).head()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }

  /** The prior-state horizon filter shared by every stateful near-dup
    * sink: null ts (rows persisted before retention was enabled) never
    * expires — deletion must be an explicit compact decision — and a
    * prior WITHOUT a ts column at all (a pre-retention table, or the
    * store's empty day-one frame) is all-exempt, not an
    * AnalysisException on the first micro-batch. */
  private def horizonFiltered(prior0: DataFrame, retain: Boolean,
                              horizon: Long): DataFrame =
    if (retain && prior0.columns.contains("ts"))
      prior0.filter(col("ts").isNull || col("ts") >= lit(horizon))
    else prior0

  /** Empty frame-hash frame — the initial state for
    * [[frameSetNearDupSink]]: one row per (video, distinct frame hash),
    * the video's total distinct-frame count `n` denormalized onto every
    * row (12 bytes buys Jaccard without a second sizes table), plus the
    * optional retention stamp. */
  def emptyFrameSetTable(spark: SparkSession, withTs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Seq(StructField("id", LongType), StructField("fhash", LongType),
      StructField("n", LongType))
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(if (withTs) base :+ StructField("ts", LongType) else base))
  }

  /** Streaming VIDEO near-duplicate detection — the incremental twin of
    * [[graft.ops.VideoHash.nearDupVideos]]: the stream carries each
    * video's per-frame dHash ARRAY (decode upstream, e.g.
    * `VideoHash.frameDHashesUdf` — media bytes never enter state), each
    * micro-batch explodes DISTINCT (id, fhash) rows and probes the
    * persisted frame-hash table; pairs sharing frames are verified with
    * EXACT set Jaccard inside the pass (|new| is batch-side, |old|
    * rides the store rows, |∩| is the join count) and emitted when
    * ≥ `threshold`. Within-batch pairs emit alongside prior-history
    * pairs; replay defense and the retention horizon follow
    * [[hammingNearDupSink]] exactly (prior partners in the current
    * batch are excluded, null/absent ts never expires).
    *
    * Output per micro-batch: (id, partner_id, n_shared, jaccard) — the
    * batch operator's columns with id/partner orientation. State:
    * `distinct frames` rows × 24 bytes per video, bucketed by (fhash)
    * at scale ([[FrameSetStore]]); `maxHashFreq` (0 = off) drops frame
    * hashes shared by more than that many TOUCHED rows at probe time —
    * the q22 hot-key cap for logo/intro frames, scoped per batch (the
    * batch operator's cap is corpus-wide; with the cap off or
    * non-binding the two are identical).
    *
    * Id contract: re-ingesting a CHANGED video under the same id is
    * the caller's contract to avoid (the [[indexedDedupSink]] family
    * rule) — the append-only store cannot know which frame set is
    * current, so stale rows would mix with fresh ones. Defense in
    * depth caps the damage if it happens anyway: duplicate
    * (partner, fhash) rows collapse before counting and the
    * intersection is clamped to min(|new|, |partner|), so a violated
    * contract degrades to a conservative ≤ 1 score, never a
    * mathematically invalid one. */
  def frameSetNearDupSink(idCol: String, hashesCol: String,
                          loadFrames: SparkSession => DataFrame,
                          saveFrames: DataFrame => Unit,
                          emit: DataFrame => Unit,
                          threshold: Double = 0.8, maxHashFreq: Int = 1000,
                          tsCol: String = "", retentionMillis: Long = 0L)
                         (stream: DataFrame): DataStreamWriter[Row] = {
    val retain = tsCol.nonEmpty && retentionMillis > 0L
    val highWater = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val batch = if (retain)
          graft.core.Timestamps.normalize(batch0, tsCol) else batch0
        val rows0 = batch
          .select(col(idCol).cast("long").as("id"),
            explode(col(hashesCol)).as("fhash"),
            (if (retain) unix_millis(col(tsCol)) else lit(null).cast("long")).as("ts"))
          .groupBy(col("id"), col("fhash"))
          .agg(max(col("ts")).as("ts")) // distinct frames, set semantics
        // size via a window over the aggregated rows — a self-join here
        // would run the explode-aggregation twice per micro-batch
        val sized = rows0.withColumn("n",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("id"))))
        val batchRows =
          (if (retain) sized else sized.drop("ts"))
            .select(Seq(col("id"), col("fhash"), col("n")) ++
              (if (retain) Seq(col("ts")) else Nil): _*)
            .localCheckpoint(true)
        val horizon = retentionHorizon(batch, tsCol, retain, highWater,
          retentionMillis, storedMaxTs(loadFrames(batch.sparkSession)))
        val prior = horizonFiltered(loadFrames(batch.sparkSession), retain, horizon)
        def partnerSide(df: DataFrame) = df.select(
          col("id").as("partner_id"), col("fhash"), col("n").as("partner_n"))
        val batchIds = batchRows.select(col("id").as("partner_id")).distinct()
        // the prior rows this batch can touch: replay-excluded, then
        // pruned to the batch's frame hashes (the bucketed store makes
        // this a co-located semi-join — linear in the overlap, never a
        // prior-table scan). Checkpointed: it feeds the hot-frame
        // frequency count AND the pairing join.
        val relevantPrior0 = partnerSide(prior)
          .join(batchIds, Seq("partner_id"), "left_anti")
          .join(batchRows.select(col("fhash")).distinct(), Seq("fhash"), "left_semi")
          // contract-violation defense (a re-ingested CHANGED video
          // leaves same-(id, fhash) rows with diverging n): collapse
          // per (partner, fhash) taking max(n), so intersections are
          // never double-counted — plain distinct() would keep both
          .groupBy(col("partner_id"), col("fhash"))
          .agg(max(col("partner_n")).as("partner_n"))
          .localCheckpoint(true) // feeds the hot count AND the pairing join
        // hot-frame cap, measured over the TOUCHED rows (batch ∪
        // matched prior): a logo frame in f videos is f² pair rows
        // without it; pulling its f linear rows to count them is the
        // acceptable cost of knowing. Computed ONCE; capping the batch
        // side of each equi-join suffices (a hash dropped from one
        // side emits no pairs on it).
        val cappedBatch =
          if (maxHashFreq <= 0) batchRows
          else {
            val hot = relevantPrior0.select(col("fhash"))
              .unionByName(batchRows.select(col("fhash")))
              .groupBy(col("fhash")).agg(count(lit(1)).as("__f"))
              .filter(col("__f") <= maxHashFreq).select(col("fhash"))
              .localCheckpoint(true)
            batchRows.join(hot, Seq("fhash"), "left_semi")
          }
        val fromPrior = cappedBatch
          .join(relevantPrior0, Seq("fhash"))
          .filter(col("partner_id") =!= col("id"))
        val withinBatch = cappedBatch
          .join(partnerSide(batchRows), Seq("fhash"))
          .filter(col("partner_id") < col("id"))
        val pairs = fromPrior.unionByName(withinBatch
            .select(fromPrior.columns.map(col): _*))
          .groupBy(col("id"), col("partner_id"))
          .agg(count(lit(1)).as("n_shared"),
            first(col("n")).as("n"), max(col("partner_n")).as("pn"))
          // clamp: under a violated id contract stale store rows can
          // push the raw count past min(|new|, |partner|) — the score
          // degrades conservatively instead of exceeding 1
          .withColumn("n_shared", least(col("n_shared"), col("n"), col("pn")))
          .withColumn("jaccard", round(col("n_shared").cast("double") /
            (col("n") + col("pn") - col("n_shared")), 6))
          .filter(col("jaccard") >= threshold)
          .select(col("id"), col("partner_id"), col("n_shared"), col("jaccard"))
        emit(pairs.localCheckpoint(true))
        saveFrames(batchRows)
      }
  }


  /** Streaming CLUSTER MAINTENANCE — the stateful closer of the
    * incremental dedup stack: upstream sinks emit VERIFIED near-dup
    * pairs ([[hammingNearDupSink]], [[frameSetNearDupSink]],
    * [[indexedDedupSink]]'s verdicts joined back); this sink folds each
    * micro-batch of pairs into the published cluster labeling
    * ([[graft.sources.LabelStore.ingest]] — the q140 operator run
    * continuously), so "which cluster does this doc belong to?" is
    * always current without ever relabeling the corpus.
    *
    * Emits each batch's RELABELED rows (every member of a touched
    * component plus every new id — downstream consumers see exactly
    * the labels that changed). State: the append-only min-per-id label
    * log, bucketed by id AND by cluster so both of the fold's
    * semi-joins are co-located; merges are idempotent and labels
    * monotone, so a crash-replay reproduces identical labels and the
    * duplicate appends collapse at read (the store's class doc carries
    * the monotonicity argument).
    *
    * The append log grows per batch forever; `compactRatio` > 0 turns
    * on the release valve ([[graft.sources.LabelStore.maybeCompact]]):
    * after each fold the store rewrites itself to one current row per
    * id whenever the log exceeds `compactRatio` × its current rows
    * (and `compactFloor` rows) — so a long-lived stream's state
    * plateaus at O(current) instead of O(appends), labels unchanged
    * (min-per-id reads are compaction-invariant). 0 keeps compaction
    * manual. */
  def clusterMaintenanceSink(idACol: String, idBCol: String,
                             store: graft.sources.LabelStore,
                             emit: DataFrame => Unit,
                             driverEdgeLimit: Long = 1000000L,
                             compactRatio: Double = 0.0,
                             compactFloor: Long = 1000000L)
                            (stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(store.ingest(batch, idACol, idBCol,
          driverEdgeLimit = driverEdgeLimit))
        if (compactRatio > 0.0) { store.maybeCompact(compactRatio, compactFloor); () }
      }

  /** The production frame-hash store for [[frameSetNearDupSink]]:
    * bucketed by (fhash) so the probe join co-locates; append-only
    * batch-sized saves; distinct (and horizon-bounded) compaction. */
  class FrameSetStore(spark: SparkSession, table: String = "graft_frame_sets",
                      buckets: Int = 32,
                      contentTag: Option[String] = None) {
    import graft.sources.{Bucketed, FrameSetIndexStore}
    private def exists: Boolean = spark.catalog.tableExists(table)
    // same construction-versioning contract as the batch
    // FrameSetIndexStore (same tag key, so either handle verifies a
    // store the other published): a windowed-audio sink writing under
    // one framing into an index built under another would make every
    // later gate fail OPEN — refuse at the first save instead
    private def checkTag(who: String): Unit =
      contentTag.foreach(t => Bucketed.requireTag(
        spark, table, FrameSetIndexStore.TagKey, t, who))
    def load(s: SparkSession): DataFrame = {
      checkTag(s"load of '$table'")
      if (exists) s.table(table) else emptyFrameSetTable(s)
    }
    // sortCols matches the batch FrameSetIndexStore on every write —
    // the two handles share ONE table (the class contract), and Spark
    // refuses appends whose sort spec disagrees with the table's. A
    // pre-r15 table (created unsorted) migrates with one compact().
    def save(batchRows: DataFrame): Unit = {
      checkTag(s"save to '$table'")
      Bucketed.appendAligned(spark, batchRows, table, Seq("fhash"), buckets,
        sortCols = Seq("fhash"))
      contentTag.foreach { t =>
        if (Bucketed.getTag(spark, table, FrameSetIndexStore.TagKey).isEmpty)
          Bucketed.setTag(spark, table, FrameSetIndexStore.TagKey, t)
      }
    }
    def compact(horizonMillis: Long = Long.MinValue): Unit = {
      Bucketed.compactRewrite(spark, table, Seq("fhash"), buckets,
        sortCols = Seq("fhash"), horizonMillis = horizonMillis)
      ()
    }
  }

  /** The production block-table store for [[hammingNearDupSink]]:
    * bucketed by (blk, key), append-only batch-sized saves, distinct
    * (and horizon-bounded) compaction — [[BandStore]] with the hash
    * block schema. */
  class HashBlockStore(spark: SparkSession, table: String = "graft_hash_blocks",
                       buckets: Int = 32) {
    import graft.sources.Bucketed
    private def exists: Boolean = spark.catalog.tableExists(table)
    def load(s: SparkSession): DataFrame =
      if (exists) s.table(table) else emptyBlockTable(s)
    def save(batchBlocks: DataFrame): Unit =
      Bucketed.appendAligned(spark, batchBlocks, table, Seq("blk", "key"), buckets)
    def compact(horizonMillis: Long = Long.MinValue): Unit = {
      Bucketed.compactRewrite(spark, table, Seq("blk", "key"), buckets,
        horizonMillis = horizonMillis)
      ()
    }
  }

  /** The production band-table store for [[nearDupSink]]: a parquet
    * table bucketed by (band, bucket) ([[graft.sources.Bucketed]]), so
    * the per-batch probe join co-locates — the store side of the join
    * runs WITHOUT an Exchange (the batch side shuffles into the
    * table's bucket count), and only matching buckets are touched.
    * `save` APPENDS the batch's bands (bucket-tagged files — O(batch)
    * per micro-batch); `compact()` rewrites the append log distinct
    * when re-ingestion duplicates grow it. Pass `load`/`save` straight
    * as the sink's callbacks. */
  class BandStore(spark: SparkSession, table: String = "graft_band_table",
                  buckets: Int = 32) {
    import graft.sources.Bucketed
    private def exists: Boolean = spark.catalog.tableExists(table)
    def load(s: SparkSession): DataFrame =
      if (exists) s.table(table) else emptyBandTable(s)
    def save(batchBands: DataFrame): Unit =
      Bucketed.appendAligned(spark, batchBands, table, Seq("band", "bucket"), buckets)
    /** Rewrite the append log distinct; with `horizonMillis` set (and a
      * `ts` column present — the retention-enabled sink stamps one),
      * also DROP rows whose event time fell behind the sink's probe
      * horizon — the state-size release valve that makes the band table
      * plateau instead of growing with the stream's lifetime. One
      * retention mechanic repo-wide ([[graft.sources.Bucketed.compactRewrite]]). */
    def compact(horizonMillis: Long = Long.MinValue): Unit = {
      Bucketed.compactRewrite(spark, table, Seq("band", "bucket"), buckets,
        horizonMillis = horizonMillis)
      ()
    }
  }
}
