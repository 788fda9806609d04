package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is shuffle-minimal —
  *  - exact dedup is one hash aggregation;
  *  - MinHash+LSH shuffles only (band, bucket) keys, then joins candidate
  *    PAIRS (a tiny fraction of n²) for exact verification;
  *  - SimHash reduces each doc to 64 bits; near-dup search joins on
  *    rotated prefix blocks, never all-pairs;
  *  - n-gram Jaccard runs only on LSH/blocking candidates.
  *
  * MinHash functions are md5-based (lexicographic min over per-function
  * salted hashes) so the identical signature is computable in any engine
  * with md5 — which keeps these operators DuckDB-oracle-checkable.
  */
object Dedup {

  /** Exact dedup groups: hash the normalized text, keep the minimum id
    * per group (SURVEY §2.4 "dedup by hash on add" scaled up). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("member_ids"))

  /** k lexicographic-min salted-md5 minhashes over the distinct shingle
    * set. minhash_i = min(md5(i || '|' || shingle)).
    *
    * Column form — only for small frames: the shingle expression is
    * inlined k times. The scale path is [[minhashSignatures]]. */
  def minhashSignature(text: Column, k: Int, shingleSize: Int = 3): Column = {
    val sh = TextOps.distinctShingles(text, shingleSize)
    array((0 until k).map { i =>
      array_min(transform(sh, s => md5(concat(lit(s"$i|"), s))))
    }: _*)
  }

  /** Scale form of the minhash signature: ONE native pass per row
    * (graft.functions.MinHashExpression) — no explode, no shuffle, no
    * k-fold expression recompute. Values identical to
    * [[minhashSignature]] (min md5("i|shingle") per salt); rows with no
    * shingles (fewer than `shingleSize` tokens) are dropped, matching
    * the aggregation form. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleSize: Int = 3): DataFrame =
    // The no-shingles gate is a CHEAP predicate on the input, not
    // `sig.isNotNull` (r16): Catalyst substitutes an alias filter and
    // pushes it below the caller's repartition, so isnotnull(minhash)
    // ran the FULL k-salt digest pass a second time in the scan stage
    // — serially on a narrow scan (q78 stage probe: 851 ms of the
    // 1-task scan stage; guide §4.4's duplicated-expensive-expression
    // pathology). Equivalence is exact: the signature is null iff the
    // doc has no shingle, i.e. fewer than `shingleSize` tokens
    // (MinHashExpression's `mins(0) == null` tail), and size(tokens)
    // on a NULL text is NULL → dropped, as the null signature was.
    // The pushed-down copy now costs one tokenize, not k md5s per
    // shingle; the signature itself evaluates ONCE, post-exchange.
    df.filter(size(call_function("graft_tokens", col(textCol))) >= lit(shingleSize))
      .select(col(idCol).as("id"),
        call_function("graft_minhash", col(textCol), lit(k), lit(shingleSize)).as("sig"))

  /** Hot-shingle cap DERIVED from a per-row pair budget — the
    * scale-safety number with its justification attached, replacing
    * the bare maxShingleFreq=1000 the r14 audit called a magic
    * number. The arithmetic: a blocking group of size g emits
    * g·(g−1)/2 candidate pairs across its g (doc, shingle) rows,
    * i.e. (g−1)/2 pairs per row; keeping groups of size ≤ cap =
    * 2·budget bounds that at (2·budget−1)/2 < budget, so TOTAL
    * candidates ≤ exploded rows × budget — LINEAR in corpus size for
    * a fixed budget, whatever the group-size distribution does (the
    * executable rows×cap/2 bound ScaleCurveProbe's candidate audit
    * asserts every run). The audit also measured the converse:
    * UNCAPPED growth on a closed-vocabulary corpus is quadratic
    * (exponent 2.01 sf0.1→1.0), so the budget is not hygiene — it is
    * the thing standing between the pair explode and an O(n²) job at
    * 100 TB. The q-family default budget 500 reproduces the audited
    * cap of 1000 exactly (oracle HAVING clauses mirror it
    * cap-exactly). */
  def shingleCapForPairBudget(pairsPerRowBudget: Int): Int = {
    require(pairsPerRowBudget >= 1, "pair budget must be positive")
    2 * pairsPerRowBudget
  }

  /** (a, b) pairs with a < b from a SORTED id array — the local
    * pair-generation step shared by every blocking dedup operator:
    * grouping by the blocking key and emitting pairs in place replaces
    * a self-join (one wide shuffle instead of shuffling the keyed rows
    * twice and materializing join output). REQUIRES bounded group sizes
    * — the id list materializes per group, so cap the blocking key's
    * frequency (ngramJaccardBlocked's `maxShingleFreq`; LSH bucket
    * sizes are design-bounded by band/plane count). */
  def pairsFromSortedIds(ids: Column): Column =
    call_function("graft_pairs", ids)

  /** LSH band keys: the signature split into `bands` rows of `rowsPerBand`,
    * each band hashed to one bucket key. Docs sharing ANY band bucket are
    * candidates. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(array_join(slice(signature, b * rowsPerBand + 1, rowsPerBand), "|")).as("bucket"))
    }: _*)

  /** (doc_id, band, bucket) rows from a (doc_id, sig) frame — THE
    * band-derivation shape every split-index consumer shares (batch
    * store publish, streaming sink saves, q129): one definition, so
    * banding changes cannot drift between the artifact, the sink, and
    * the oracle-checked query. */
  def bandRowsFromSigs(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))

  /** Candidate near-duplicate pairs via MinHash+LSH: shingle → minhash →
    * band → bucket-group → local pair generation. Output: (id_a, id_b)
    * with id_a < id_b, distinct across bands. ONE shuffle on the
    * (band, bucket) key — grouping beats a bucket self-join (which
    * shuffles the keyed rows twice). */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                        maxBucketSize: Int = 0): DataFrame =
    lshPairsFromSigs(minhashSignatures(df, idCol, textCol, k, shingleSize),
      bands, k / bands, maxBucketSize)

  /** The band → bucket-group → local-pair tail of [[lshCandidatePairs]]
    * over a precomputed (id, sig) frame — split out (r15) so that
    * multi-config consumers ([[lshAudit]]) derive every band
    * configuration from ONE signature pass instead of re-running the
    * per-row minhash over the corpus text per config. */
  private[graft] def lshPairsFromSigs(sigs: DataFrame, bands: Int,
                                      rowsPerBand: Int,
                                      maxBucketSize: Int = 0): DataFrame = {
    val buckets = sigs
      .select(col("id"), explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    // degenerate buckets (boilerplate-heavy corpora) are quadratic in
    // pair count; maxBucketSize (0 = off) drops them, as simhash does
    val capped =
      if (maxBucketSize > 0) buckets.filter(size(col("ids")) <= maxBucketSize)
      else buckets
    capped
      .select(explode(pairsFromSortedIds(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
  }

  /** Cross-corpus near-duplicate candidates: corpus documents sharing
    * ANY MinHash band bucket with ANY benchmark document — near-dup
    * DECONTAMINATION (the fuzzy counterpart of [[Curation.decontaminate]]'s
    * exact n-gram overlap: a lightly-paraphrased eval item still
    * collides in minhash space). Output: one row per corpus doc —
    * (doc_id, n_bench_matches = distinct colliding benchmark docs,
    * contaminated) — every corpus doc present, zero-match docs included
    * (absence is not silence).
    *
    * Scale shape: the benchmark side is eval-set-sized (thousands of
    * docs → `bands × docs` bucket rows), so its bucket table is
    * explicitly broadcast — the corpus side is touched by ONE signature
    * pass + band explode and joins with NO shuffle of corpus data and
    * no self-join anywhere; corpus bucket frequency never matters
    * because the quadratic blow-up of a hot bucket cannot arise in a
    * broadcast-probe join (pair count ≤ corpus_bands × bench collisions). */
  def crossContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 16, bands: Int = 4,
                         shingleSize: Int = 3): DataFrame = {
    val rowsPerBand = k / bands
    def bandRows(df: DataFrame, idAs: String): DataFrame =
      minhashSignatures(df, idCol, textCol, k, shingleSize)
        .select(col("id").as(idAs),
          explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
        .select(col(idAs), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val bench = bandRows(benchmark, "bench_id")
    val matches = bandRows(corpus, "doc_id")
      .join(broadcast(bench), Seq("band", "bucket"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_matches"))
    corpus.select(col(idCol).as("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        (coalesce(col("n_bench_matches"), lit(0L)) > 0L).as("contaminated"))
  }

  /** The PUBLISHED MinHash index of a corpus: one row per (band,
    * bucket) membership carrying the full signature — the artifact an
    * INCREMENTAL ingestion pipeline persists (bucketed/partitioned by
    * (band, bucket)) so that tomorrow's batch deduplicates against
    * yesterday's corpus WITHOUT re-scanning a byte of old text. The
    * signature rides along so candidate verification needs no
    * old-corpus lookup either (see [[dedupAgainstIndex]]); the bands×
    * corpus row multiplication is the standard storage trade for a
    * join-ready index. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, bands: Int = 4,
                       shingleSize: Int = 3): DataFrame =
    minhashSignatures(df, idCol, textCol, k, shingleSize)
      .select(col("id").as("doc_id"), col("sig"),
        explode(lshBandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))

  /** Incremental near-dup screening of a NEW batch against a published
    * [[minhashBandIndex]] — the 100 TB ingestion story: the old corpus
    * is represented ONLY by its index rows (bands + signatures), so
    * screening a day's batch costs one signature pass over the batch
    * plus one join against the index, never a re-scan of the
    * accumulated corpus. Verification is signature-estimated Jaccard
    * (matching components / k — the standard unbiased MinHash
    * estimate), so it too reads no old text.
    *
    * Output: one row per new doc (absence is not silence) —
    * (new_id, n_dup_matches = old docs with est ≥ threshold,
    * dup_of = smallest such old id or null, est_jaccard = best
    * estimate or null, is_dup). New docs whose batch ids collide with
    * index ids are the caller's contract to avoid — and, as defense in
    * depth for the one legitimate way a collision arises (an
    * at-least-once replay screening a batch against an index that
    * already contains the batch's own rows), EVERY batch id is
    * excluded from the index side: a replayed batch re-emits its
    * original verdicts exactly — including for batch docs that are
    * near-dups of EACH OTHER, which a weaker self-only
    * (old_id == new_id) filter would flag against each other on
    * replay and lose entirely downstream. */
  def dedupAgainstIndex(newBatch: DataFrame, index: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                        threshold: Double = 0.5): DataFrame =
    dedupAgainstIndexFromRows(
      minhashBandIndex(newBatch, idCol, textCol, k, bands, shingleSize),
      newBatch.select(col(idCol).as("new_id")), index, k, threshold)

  /** [[dedupAgainstIndex]] from PRE-BUILT batch index rows
    * ([[minhashBandIndex]] shape) — so one signature pass (the most
    * expensive stage: tokenize + shingle + k salted minhashes) can
    * feed BOTH the screen and the admit
    * ([[graft.streaming.Streaming.indexedDedupSink]] computes the
    * rows once, screens, then saves the same frame). `newIds` carries
    * EVERY batch id as `new_id` — including docs too short to sign,
    * which verdict clean (absence is not silence), and it drives the
    * replay-defense anti-join. */
  def dedupAgainstIndexFromRows(newIndexRows: DataFrame, newIds: DataFrame,
                                index: DataFrame, k: Int,
                                threshold: Double): DataFrame = {
    val newRows = newIndexRows
      .select(col("doc_id").as("new_id"), col("sig").as("new_sig"),
        col("band"), col("bucket"))
    val est = (aggregate(
      zip_with(col("new_sig"), col("old_sig"), (a, b) => (a === b).cast("int")),
      lit(0), (acc, v) => acc + v).cast("double") / lit(k)).as("est")
    // replay defense: EVERY batch id is excluded from the candidates
    // (the frameSetDedupAgainstIndex contract) — a crash-replay
    // screens against an index that already holds the whole batch, and
    // dropping only old_id == new_id would let two MUTUALLY-near-dup
    // batch docs flag each other on replay (both clean originally →
    // both is_dup on replay → a downstream that drops dups loses the
    // content entirely). The exclusion runs POST-join over the
    // batch-bounded candidates with the skinny batch ids broadcast —
    // never against the index side, whose (band, bucket) bucketing
    // the probe join must keep consuming Exchange-free.
    val batchIds = newIds.select(col("new_id").as("old_id"))
    val hits = newRows
      .join(index.select(col("band"), col("bucket"),
        col("doc_id").as("old_id"), col("sig").as("old_sig")),
        Seq("band", "bucket"))
      .join(broadcast(batchIds), Seq("old_id"), "left_anti")
      // same (new, old) pair via several bands → one candidate row;
      // est is pair-determined, so max() just deduplicates it
      .groupBy(col("new_id"), col("old_id"))
      .agg(max(est).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_dup_matches"), min(col("old_id")).as("dup_of"),
        round(max(col("est_jaccard")), 6).as("est_jaccard"))
    newIds
      .join(hits, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        col("dup_of"), col("est_jaccard"),
        (coalesce(col("n_dup_matches"), lit(0L)) > 0L).as("is_dup"))
  }

  /** [[dedupAgainstIndex]] over the SPLIT index layout: band rows
    * WITHOUT signatures ((doc_id, band, bucket) — what the probe join
    * actually needs) plus a one-row-per-doc signature table joined
    * only for CANDIDATES. Identical verdicts (the estimate is
    * pair-determined); radically less data moved: the combined
    * [[minhashBandIndex]] drags the k-hash signature through every
    * band row (bands× duplication — IndexProbe measured signature
    * decode dominating both disk layouts), while here the screen scans
    * `bands × docs` skinny rows plus |candidates| signature lookups.
    * Store the band table bucketed by (band, bucket) and the signature
    * table bucketed by (doc_id) and BOTH joins run Exchange-free on
    * the index side ([[graft.sources.SplitBandIndexStore]]). */
  def dedupAgainstIndexSplit(newBatch: DataFrame, bandIndex: DataFrame,
                             sigIndex: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 16, bands: Int = 4, shingleSize: Int = 3,
                             threshold: Double = 0.5): DataFrame =
    dedupAgainstIndexSplitFromSigs(
      newBatch.select(col(idCol).as("new_id")),
      minhashSignatures(newBatch, idCol, textCol, k, shingleSize)
        .select(col("id").as("doc_id"), col("sig")),
      bandIndex, sigIndex, k, bands, threshold)

  /** [[dedupAgainstIndexSplit]] from PRECOMPUTED batch signatures —
    * the one-signature-pass entry point for callers that also persist
    * the batch's sigs/bands (the split stores, the streaming sink):
    * compute [[minhashSignatures]] once, screen through this, then
    * save the same frame. `newIds` carries every batch id (absence is
    * not silence — docs too short to sign still get a clean verdict
    * row); `newSigs` is (doc_id, sig). */
  def dedupAgainstIndexSplitFromSigs(newIds: DataFrame, newSigs: DataFrame,
                                     bandIndex: DataFrame, sigIndex: DataFrame,
                                     k: Int = 16, bands: Int = 4,
                                     threshold: Double = 0.5): DataFrame = {
    val newRows = newSigs
      .select(col("doc_id").as("new_id"), col("sig").as("new_sig"),
        explode(lshBandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("new_id"), col("new_sig"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // candidate pairs dedupe BEFORE the signature lookup (several
    // shared bands → one row), so the sig table is probed once per pair
    // replay defense (same contract as [[dedupAgainstIndex]]): every
    // batch id is anti-joined off the CANDIDATES (post-join, batch ids
    // broadcast — the index side must keep consuming its bucketing
    // Exchange-free) — if a crash landed the batch's own bands/sigs
    // but not the stream checkpoint, the replayed screen must re-emit
    // ORIGINAL verdicts, including for mutually-near-dup batch docs
    // (a new_id ≠ old_id filter alone would flag those against each
    // other on replay)
    val batchIds = newIds.select(col("new_id").as("old_id"))
    val cands = newRows
      .join(bandIndex.select(col("band"), col("bucket"),
        col("doc_id").as("old_id")), Seq("band", "bucket"))
      .join(broadcast(batchIds), Seq("old_id"), "left_anti")
      .groupBy(col("new_id"), col("old_id"))
      .agg(first(col("new_sig")).as("new_sig"))
    val est = (aggregate(
      zip_with(col("new_sig"), col("old_sig"), (a, b) => (a === b).cast("int")),
      lit(0), (acc, v) => acc + v).cast("double") / lit(k)).as("est")
    val hits = cands
      .join(sigIndex.select(col("doc_id").as("old_id"), col("sig").as("old_sig")),
        Seq("old_id"))
      .select(col("new_id"), col("old_id"), est)
      // re-dedupe per PAIR after the sig join: duplicate index rows
      // (the documented at-least-once append state) would otherwise
      // fan one distinct old doc into several counted rows — the
      // combined layout collapses them in its own pair groupBy, and
      // verdict parity must survive exactly that state
      .groupBy(col("new_id"), col("old_id"))
      .agg(max(col("est")).as("est_pair"))
      .filter(col("est_pair") >= threshold)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_dup_matches"), min(col("old_id")).as("dup_of"),
        round(max(col("est_pair")), 6).as("est_jaccard"))
    newIds
      .join(hits, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        col("dup_of"), col("est_jaccard"),
        (coalesce(col("n_dup_matches"), lit(0L)) > 0L).as("is_dup"))
  }

  /** Cross-source exact-duplication matrix: for every source pair that
    * shares at least one exact text (md5), the number of shared
    * distinct texts and the document mass on each side — the "who is
    * mirroring whom" table that decides cross-source dedup order and
    * provenance priority before a 100 TB dedup run (dedup within a
    * source is cheap; knowing WHICH pairs of sources overlap is what
    * prices the cross-source pass). Complements the q107 vocabulary
    * overlap (tokens) with verbatim-copy overlap (whole texts).
    *
    * Scale shape: the corpus collapses to the (text-hash, source,
    * n_docs) frame in ONE map-combined aggregation; the self-join runs
    * on THAT aggregated frame, keyed by hash — a text present in all S
    * sources fans out to S² rows, bounded by the source count, never
    * by the corpus. Pairs with zero overlap do not appear (the matrix
    * is sparse by construction; the caller's source list supplies the
    * spine if needed).
    *
    * Output: (src_a, src_b) with src_a < src_b, n_shared_texts,
    * n_docs_a, n_docs_b. */
  def crossSourceDupMatrix(df: DataFrame, sourceCol: String,
                           textCol: String): DataFrame = {
    val hs = df
      .select(col(sourceCol).as("source"), md5(col(textCol)).as("h"))
      .groupBy(col("h"), col("source")).agg(count(lit(1)).as("nd"))
    hs.select(col("h"), col("source").as("src_a"), col("nd").as("nd_a"))
      .join(hs.select(col("h"), col("source").as("src_b"), col("nd").as("nd_b")),
        Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_texts"),
        sum(col("nd_a")).as("n_docs_a"), sum(col("nd_b")).as("n_docs_b"))
  }

  /** LSH PARAMETER AUDIT: measured precision/recall of MinHash banding
    * against exact n-gram Jaccard ground truth, one row per band
    * configuration. Dedup quality is a bands/rows trade-off (more
    * bands → higher recall, more false candidates); the S-curve
    * P(candidate) = 1 − (1 − j^{k/b})^b says where the knee sits, but a
    * real corpus's similarity distribution decides what you actually
    * pay — this operator measures it, so the config shipped to the
    * 100 TB run is chosen on data, not folklore.
    *
    * Ground truth: pairs with exact Jaccard ≥ `threshold` from
    * [[ngramJaccardBlocked]] (shingle-blocked, `maxShingleFreq`-capped
    * — the truth set is itself computed at scale discipline). For each
    * `b` in `bandConfigs` (each must divide `k`), candidates are the
    * standard band-bucket pairs derived from ONE checkpointed
    * signature pass (16 ints per doc — the skinny artifact a
    * multi-config audit persists anyway; re-running the per-row
    * minhash per config paid an extra corpus text pass per
    * configuration, r15).
    *
    * Output: (bands, rows_per_band, n_candidates, n_true, n_hits,
    * prec, rec) — `prec` null when a config yields no candidates (a
    * 0/0, not a 1.0), every configured row present. Counts are exact;
    * ratios round(…, 6). */
  def lshAudit(df: DataFrame, idCol: String, textCol: String,
               k: Int = 16, bandConfigs: Seq[Int] = Seq(2, 4, 8),
               shingleSize: Int = 3, threshold: Double = 0.8,
               maxShingleFreq: Int = shingleCapForPairBudget(512)): DataFrame = {
    require(bandConfigs.nonEmpty, "need at least one band configuration")
    bandConfigs.foreach(b => require(b > 0 && k % b == 0,
      s"bands=$b must divide k=$k"))
    val spark = df.sparkSession
    // the exact-Jaccard truth frame feeds BOTH the candidate join and
    // the broadcast n_true aggregate — eager-materialize it so the
    // shingle-blocked corpus pass runs once, not twice; and ONE
    // signature pass serves every band configuration (r15): the
    // per-row minhash (shingle + k-min) is the audit's per-config
    // cost. The two frames share no lineage, so they materialize
    // CONCURRENTLY (r16, guide §2.6) instead of the truth job's tail
    // idling the session before the signature job starts.
    val (truth, sigs) = graft.core.Materialize.pair(
      ngramJaccardBlocked(df, idCol, textCol, threshold,
          shingleSize, maxShingleFreq)
        .select(col("id_a"), col("id_b"), lit(true).as("is_true")),
      minhashSignatures(df, idCol, textCol, k, shingleSize))
    val candidates = bandConfigs.map { b =>
      lshPairsFromSigs(sigs, b, k / b)
        .withColumn("bands", lit(b))
    }.reduce(_ unionByName _)
    val perConfig = candidates
      .join(truth, Seq("id_a", "id_b"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_hits"))
    // spine of configured rows: a config whose candidate set is EMPTY
    // must still surface (absence is not silence)
    import spark.implicits._
    val spine = bandConfigs.toDF("bands")
    spine.join(perConfig, Seq("bands"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("bands").cast("long").as("bands"),
        (lit(k) / col("bands")).cast("long").as("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_candidates"), lit(0L)) > 0L,
          round(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_candidates"), 6)).as("prec"),
        when(col("n_true") > 0L,
          round(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_true"), 6)).as("rec"))
  }

  /** Exact n-gram Jaccard for given pairs: verification stage after LSH
    * (or any blocking). `docs` must expose (id, text). */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3): DataFrame =
    ngramJaccardFromShingles(pairs, docs.select(col(idCol).as("id"),
      TextOps.distinctShingles(col(textCol), shingleSize).as("sh")))

  /** Jaccard verification against a precomputed (id, sh) frame — cache
    * it when candidates come from the same shingle set. */
  def ngramJaccardFromShingles(pairs: DataFrame, sh: DataFrame): DataFrame = {
    pairs
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** Exact all-candidate n-gram Jaccard via shared-shingle blocking.
    * Shape: ONE wide shuffle groups the exploded (doc, shingle) rows by
    * shingle; each group emits its id-pairs locally (f docs sharing a
    * shingle → f·(f-1)/2 pairs — exactly the rows a self-join would
    * produce, without shuffling the shingle rows twice or materializing
    * a join); `count(*)` per pair IS the intersection size. Union size
    * from per-doc shingle counts. The `maxShingleFreq` skew cap is FREE
    * in this shape — the same aggregation that collects a shingle's doc
    * list knows its frequency, and hot shingles (stopword n-grams that
    * explode pairs quadratically and never discriminate near-dups) are
    * dropped before pair generation.
    *
    * The cap DEFAULTS ON ([[shingleCapForPairBudget]](512) = 1024 —
    * ≤512 generated pairs per exploded row): one viral shingle shared by 100k docs
    * is ~5×10⁹ pairs from a single group — at corpus scale an uncapped
    * default is a silent job-killer, and a shingle present in >1024
    * docs carries no near-dup signal anyway (any true near-dup pair
    * blocked through it also shares rarer shingles). Pass 0 to opt out
    * explicitly, e.g. for oracle-exact runs at probe scale. */
  def ngramJaccardBlocked(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, shingleSize: Int = 3,
                          maxShingleFreq: Int = shingleCapForPairBudget(512)): DataFrame = {
    // per-doc shingle counts from the SAME exploded rows (r15): the
    // old per-row size(distinctShingles) projection was pushed below
    // any caller repartition and re-ran the kernel SERIALLY on a
    // single-split scan (636 ms of q91's budget); a map-combined count
    // over flat keeps the second kernel evaluation parallel and its
    // exchange carries one row per doc. Docs with zero shingles are
    // absent — they cannot appear in a pair, so the inner joins below
    // are unchanged.
    //
    // The pair-generating exchanges are PINNED at the session shuffle
    // width (the hotByteWindowStarts doctrine): AQE's byte-sized
    // coalescer saw a few MB of shingle/pair rows and ran the
    // 1.1M-pair explode and the intersection aggregation on ONE task
    // (1.18 s + 0.51 s single-task stages in the q91 probe).
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    val flat = df.select(col(idCol).as("id"),
      explode(TextOps.distinctShingles(col(textCol), shingleSize)).as("s"))
    val sizes = flat.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val byShingle = flat.repartition(shufN, col("s")).groupBy(col("s"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val capped =
      if (maxShingleFreq > 0) byShingle.filter(size(col("ids")) <= maxShingleFreq)
      else byShingle
    val inter = capped
      .select(explode(pairsFromSortedIds(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .repartition(shufN, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))
        >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric shingle CONTAINMENT pairs (Broder 1997):
    * C(A→B) = |A∩B| / |A| — the subset-duplication detector. A short
    * doc quoted whole inside a much longer one has C(short→long) ≈ 1
    * while Jaccard dilutes to |short|/|long| and slips under every
    * resemblance threshold — boilerplate embeddings, quoted articles,
    * README-in-repo-dump cases that [[ngramJaccardBlocked]] cannot
    * see. Emits a pair when EITHER direction's containment clears
    * `threshold` (both directions reported).
    *
    * Same scale shape as [[ngramJaccardBlocked]]: one wide shuffle
    * groups exploded (doc, shingle) rows by shingle, each group emits
    * its id-pairs locally, pair-count == intersection size; per-doc
    * sizes are per-row properties joined back. The `maxShingleFreq`
    * cap applies identically (a >1024-doc shingle carries no
    * containment signal either — a contained doc also shares its
    * RARE shingles with its container).
    * Output: (id_a, id_b, c_ab, c_ba), ratios round(…,6). */
  def containmentPairsBlocked(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double, shingleSize: Int = 3,
                              maxShingleFreq: Int = shingleCapForPairBudget(512)): DataFrame = {
    // same shape as [[ngramJaccardBlocked]] (r15): sizes from the
    // exploded rows (parallel second kernel eval; zero-shingle docs
    // cannot pair), pinned pair-generating exchanges (AQE coalesced
    // them to one task)
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    val flat = df.select(col(idCol).as("id"),
      explode(TextOps.distinctShingles(col(textCol), shingleSize)).as("s"))
    val sizes = flat.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val byShingle = flat.repartition(shufN, col("s")).groupBy(col("s"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val capped =
      if (maxShingleFreq > 0) byShingle.filter(size(col("ids")) <= maxShingleFreq)
      else byShingle
    val inter = capped
      .select(explode(pairsFromSortedIds(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .repartition(shufN, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), Seq("id_b"))
      .filter(greatest(
        col("inter").cast("double") / col("n_a"),
        col("inter").cast("double") / col("n_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("n_a"), 6).as("c_ab"),
        round(col("inter").cast("double") / col("n_b"), 6).as("c_ba"))
  }

  /** Edit-distance verification of LSH candidates: the byte-level
    * Levenshtein similarity of every MinHash band-bucket candidate
    * pair, kept when `1 − lev/max(len_a, len_b) ≥ threshold`. Shingle
    * Jaccard (the usual verifier) is order-insensitive — a document
    * and its sentence-shuffled copy score high; edit distance is the
    * order-SENSITIVE verifier that tells real clones from bag-of-words
    * coincidences.
    *
    * Semantics: distance over UTF-8 BYTES, not code points — Spark's
    * `levenshtein` counts characters, so each text is round-tripped
    * `encode(UTF-8) → decode(ISO-8859-1)` (one char per byte, never
    * fails) first; identical on ASCII, and byte-level on CJK, which is
    * what C-family engines (and the DuckDB oracle) compute. Texts are
    * truncated to `maxChars` CHARACTERS before the DP: Levenshtein is
    * O(len²) per pair, so the cap bounds verifier cost no matter what
    * the corpus holds — at 100 TB the pair count is already bounded by
    * the LSH banding (candidates only, never all-pairs), and the cap
    * bounds the per-pair cost. The cap changes VERDICTS, not just
    * cost: a pair identical through its first `maxChars` characters
    * but divergent after is reported with edit_sim = 1.0 (a clone) —
    * acceptable for prefix-heavy boilerplate dedup, but callers
    * verifying long documents end-to-end must raise `maxChars` (or
    * re-verify edit_sim = 1.0 pairs whose untruncated lengths differ)
    * rather than read the cap as a pure cost bound.
    *
    * Output: (id_a, id_b, lev_bytes, edit_sim @6dp), id_a < id_b. */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
                        shingleSize: Int = 3, maxChars: Int = 4096): DataFrame = {
    val pairs = lshCandidatePairs(df, idCol, textCol, k, bands, shingleSize)
    def bytesOf(c: Column): Column =
      decode(encode(substring(c, 1, maxChars), "UTF-8"), "ISO-8859-1")
    val texts = df.select(col(idCol).as("id"), bytesOf(col(textCol)).as("bt"))
    val lev = levenshtein(col("ta"), col("tb"))
    val maxLen = greatest(length(col("ta")), length(col("tb")), lit(1))
    val sim = lit(1.0) - lev.cast("double") / maxLen
    pairs
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("bt", "ta"), Seq("id_a"))
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("bt", "tb"), Seq("id_b"))
      .filter(sim >= threshold)
      .select(col("id_a"), col("id_b"), lev.cast("long").as("lev_bytes"),
        round(sim, 6).as("edit_sim"))
  }

  /** Winnowing-fingerprint overlap pairs (MOSS): documents sharing at
    * least `minShared` selected fingerprints
    * ([[TextOps.winnowingFingerprints]]), with the overlap fraction
    * `shared / min(|fp_a|, |fp_b|)`. The clone detector at index
    * scale: the fingerprint index holds ~2/(w+1) of the shingle rows
    * (4× smaller at w=4 than the q22 shingle index) yet any clone of
    * `w + n − 1` tokens or longer is guaranteed a shared fingerprint.
    * Same one-wide-shuffle group-and-pair as every blocking dedup op,
    * with the hot-fingerprint cap (`maxFpFreq`, 0 = off) bounding the
    * quadratic group blow-up on boilerplate. */
  def winnowingOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, w: Int = 4, minShared: Long = 2L,
                            maxFpFreq: Int = 1024): DataFrame = {
    // each stage MUST materialize before the next lambda captures it
    // (tokens before shingle hashing, hashes before window-min) — see
    // TextOps.shingleHashes/shingleHashesFromTokens for the measured
    // O(n²) capture trap the one-expression form falls into
    val fps = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__tk"))
      .select(col("id"),
        TextOps.shingleHashesFromTokens(col("__tk"), n).as("__hs"))
      .select(col("id"),
        explode(TextOps.winnowFromHashes(col("__hs"), w)).as("fp"))
    // pair-generating exchanges PINNED at the session shuffle width
    // (the ngramJaccardBlocked doctrine, r15): AQE's byte-sized
    // coalescer ran the fingerprint group + pair explode and the
    // shared-count aggregation on ONE task each (526 + 165 ms
    // single-task stages in the q112 probe)
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    val sizes = fps.groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    val byFp = fps.repartition(shufN, col("fp")).groupBy(col("fp"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val capped =
      if (maxFpFreq > 0) byFp.filter(size(col("ids")) <= maxFpFreq) else byFp
    capped
      .select(explode(pairsFromSortedIds(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .repartition(shufN, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_fp", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_fp", "n_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("overlap"))
  }

  /** MinHash+LSH near-dup detection end-to-end: candidates → exact
    * Jaccard → threshold. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
                     shingleSize: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    val candidates = lshCandidatePairs(df, idCol, textCol, k, bands, shingleSize,
      maxBucketSize)
    ngramJaccard(candidates, df, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-source NEAR-duplication matrix: verified near-dup pairs
    * ([[nearDuplicates]] — LSH candidates, exact-Jaccard gate)
    * aggregated by unordered source pair, with the pair count and the
    * mean verified Jaccard. The fuzzy counterpart of
    * [[crossSourceDupMatrix]]: syndication with light edits, template
    * reuse and boilerplate families show up here and not in the exact
    * matrix; the diagonal (src_a = src_b) is within-source dup
    * pressure. Mean Jaccard is order-free: per-pair micro-units sum
    * as longs before ONE divide (round 6).
    *
    * Scale: rides the banded candidate machinery (never all-pairs);
    * the per-pair source lookup is two id-keyed joins; the matrix
    * aggregation is map-combined and source²-bounded. */
  def crossSourceNearDupMatrix(df: DataFrame, idCol: String,
                               sourceCol: String, textCol: String,
                               threshold: Double = 0.8, k: Int = 16,
                               bands: Int = 4, shingleSize: Int = 3,
                               maxBucketSize: Int = 0): DataFrame = {
    val pairs = nearDuplicates(df, idCol, textCol, threshold, k, bands,
      shingleSize, maxBucketSize)
    val src = df.select(col(idCol).as("id"), col(sourceCol).as("src"))
    pairs
      .join(src.withColumnRenamed("id", "id_a").withColumnRenamed("src", "sa"),
        Seq("id_a"))
      .join(src.withColumnRenamed("id", "id_b").withColumnRenamed("src", "sb"),
        Seq("id_b"))
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * lit(1000000.0), 0).cast("long"))
          .as("__jm"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        round(col("__jm").cast("double") / lit(1000000.0) / col("n_pairs"), 6)
          .as("mean_jaccard"))
  }

  /** Quality-aware cluster representative selection: like
    * [[resolveClusters]] but `keep` marks the HIGHEST-`qualityCol` doc
    * of each near-dup cluster (tie: smallest id) instead of the
    * smallest id — the "keep best, not first" dedup policy (a cluster
    * usually holds one clean original and its degraded copies; keeping
    * by id keeps whichever was crawled first). Window runs per
    * cluster — bounded by cluster size, the same invariant every
    * per-cluster op relies on. Output: input + (cluster_id, keep). */
  def resolveClustersByQuality(docs: DataFrame, idCol: String,
                               qualityCol: String, pairs: DataFrame,
                               maxIterations: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col(idCol))
    resolveClusters(docs, idCol, pairs, maxIterations)
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** 64-bit SimHash over the token stream: per-token 64-bit FNV-1a,
    * per-bit ±1 votes, sign → bit — a native one-pass expression
    * (graft.functions.SimHashExpression). */
  def simhash(text: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_simhash", text)

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 16-bit prefix rotations (4 blocks
    * of 16 bits — any pair within Hamming distance 3 shares at least one
    * identical block), verify with exact Hamming distance IN the bucket
    * (native `graft_hamming_pairs`): each bucket carries (id, sim)
    * members and emits only pairs that PASS the distance check — two
    * instructions per candidate where the bucket lives, so at corpus ≫
    * 2¹⁶ (where the 16-bit keys collide structurally, n²/2¹⁶ pairs per
    * block) the survivors-only frame replaces an 11 M-row
    * distinct-plus-two-joins shuffle. One shuffle on the (block, key)
    * grouping, one distinct over survivors across blocks. WITHIN a
    * bucket candidates are quadratic CPU, so `maxBucketSize` (0 = off)
    * drops degenerate buckets — at a dup-heavy corpus run exact dedup
    * FIRST, then simhash on the survivors. */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                            maxDistance: Int = 3, maxBucketSize: Int = 0): DataFrame =
    hammingNearDupPairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sim")),
      "id", "sim", maxDistance, maxBucketSize)

  /** The 16-bit-block Hamming-ball candidate machinery behind
    * [[simhashNearDuplicates]], over ANY 64-bit hash column — one
    * definition shared by text SimHash and image dHash
    * ([[ImageHash.nearDupPairs]]): pairs within `maxDistance` ≤ 3 of
    * the 4-block split are found EXACTLY (pigeonhole: ≤ 3 differing
    * bits across 4 disjoint 16-bit blocks leave at least one block
    * identical), larger distances degrade to candidate recall like
    * every LSH. Output (id_a, id_b, hamming), id_a < id_b. */
  /** (id, sim, blk, key) block rows of a 64-bit hash frame — THE
    * block-derivation shape every Hamming consumer shares (in-corpus
    * pairs, the published hash index, the streaming sink): one
    * definition, so blocking cannot drift between artifact, sink and
    * operator (the [[bandRowsFromSigs]] doctrine for hashes). */
  def hashBlockRows(hashes: DataFrame, idCol: String, hashCol: String): DataFrame =
    hashes.select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("sim"),
        explode(array((0 until 4).map { blk =>
          struct(lit(blk).as("blk"),
            shiftright(col(hashCol).cast("long"), blk * 16)
              .bitwiseAND(0xFFFFL).as("key"))
        }: _*)).as("b"))
      .select(col("id"), col("sim"), col("b.blk").as("blk"), col("b.key").as("key"))

  /** Incremental Hamming screening of a NEW batch's hashes against a
    * PUBLISHED hash-block index ([[hashBlockRows]] rows — persist them
    * bucketed by (blk, key), [[graft.sources.HashIndexStore]]) — the
    * q117 ingestion-gate story for PERCEPTUAL media dedup: yesterday's
    * corpus is represented only by 4×16-byte block rows per doc, so
    * screening a day's images/audio costs one hash pass over the batch
    * plus one co-located join, never a re-decode of history. The
    * 8-byte hashes ride the index rows, so verification (exact
    * `bit_count(xor)` ≤ maxDistance) happens inside the probe join.
    *
    * Output: one row per new doc (absence is not silence) —
    * (new_id, n_dup_matches = distinct old docs within distance,
    * dup_of = smallest such old id or null, min_hamming, is_dup).
    * Replay defense as in [[dedupAgainstIndex]]: every batch id is
    * excluded from the index side, so a crash-replay against an index
    * already holding the batch re-emits original verdicts — including
    * for batch members that are near-dups of each other. */
  def hammingDedupAgainstIndex(newHashes: DataFrame, indexBlocks: DataFrame,
                               idCol: String, hashCol: String,
                               maxDistance: Int = 3): DataFrame = {
    val newRows = hashBlockRows(newHashes.filter(col(hashCol).isNotNull),
      idCol, hashCol)
      .select(col("id").as("new_id"), col("sim").as("new_sim"),
        col("blk"), col("key"))
    val ham = bit_count(col("new_sim").bitwiseXOR(col("old_sim")))
    // replay defense: every batch id anti-joined off the candidates
    // (post-join, batch ids broadcast — the index side keeps its
    // (blk, key) bucketing Exchange-free; the frameSetDedupAgainstIndex
    // contract: a self-only filter would let mutually-near-dup batch
    // members flag each other when a crash-replay screens against
    // their own published rows)
    val batchIds = newHashes
      .select(col(idCol).cast("long").as("old_id"))
    val hits = newRows
      .join(indexBlocks.select(col("blk"), col("key"),
        col("id").as("old_id"), col("sim").as("old_sim")), Seq("blk", "key"))
      .join(broadcast(batchIds), Seq("old_id"), "left_anti")
      .filter(ham <= maxDistance)
      // same pair via several blocks → one row; hamming is
      // pair-determined, min() just deduplicates it
      .groupBy(col("new_id"), col("old_id"))
      .agg(min(ham).as("h"))
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_dup_matches"), min(col("old_id")).as("dup_of"),
        min(col("h")).cast("int").as("min_hamming"))
    newHashes.select(col(idCol).cast("long").as("new_id"))
      .join(hits, Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        col("dup_of"), col("min_hamming"),
        (coalesce(col("n_dup_matches"), lit(0L)) > 0L).as("is_dup"))
  }

  /** DEBUG VALVE for the set-Jaccard caller contract: when
    * `spark.graft.debug.assertDistinct` is `true`, verify the input
    * really is a DISTINCT (id, hash) frame — a duplicated row silently
    * inflates set sizes and `n_shared` instead of failing, which is
    * exactly the bug class this catches. Off by default: the check is
    * one extra aggregation over the exploded hash frame (often the
    * job's largest intermediate), so production runs never pay it. */
  private def assertDistinctIfDebug(rows: DataFrame, idCol: String,
                                    hashCol: String, who: String): Unit = {
    val debug = rows.sparkSession.conf
      .getOption("spark.graft.debug.assertDistinct").exists(_.toBoolean)
    if (debug) {
      val dup = rows.groupBy(col(idCol), col(hashCol))
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1L)
        .limit(1).collect()
      require(dup.isEmpty,
        s"$who: input (${idCol}, ${hashCol}) frame is not distinct — e.g. " +
          s"${dup.head} — callers own distinctness (see setJaccardAcross " +
          "scaladoc); end the producer in .distinct()")
    }
  }

  /** Exact SET-Jaccard near-dup pairs over a distinct (id, hash) frame
    * — THE shared-hash blocking + one-groupBy-Jaccard kernel behind
    * video frame sets ([[VideoHash.nearDupVideos]]) and windowed audio
    * fingerprints ([[AudioHash.windowedNearDupPairs]]): one definition,
    * so the q22-style hot-hash cap and the pair math cannot drift
    * between modalities (the [[hashBlockRows]] doctrine for sets).
    * `maxHashFreq` (0 = off) drops hashes shared by more than that
    * many ids — a hash that common (logo frame, silence window)
    * contributes f² pair rows and identifies nothing. Output:
    * (id_a, id_b, n_shared, jaccard), id_a < id_b, jaccard ≥
    * `threshold`. ONE shuffle on the hash key; nothing quadratic in
    * the corpus. */
  def setJaccardPairs(rows: DataFrame, idCol: String, hashCol: String,
                      threshold: Double, maxHashFreq: Int): DataFrame = {
    assertDistinctIfDebug(rows, idCol, hashCol, "setJaccardPairs")
    // checkpoint the skinny (id, hash) frame (the setJaccardAcross
    // doctrine, r15): the size table and the hash grouping are
    // separate consumer branches, and Catalyst's per-branch subtree
    // copy re-ran the upstream (a real PCM/frame decode for the audio
    // and video callers) once per consumer. Pair aggregation pinned at
    // the session width (AQE coalesced it to one task).
    val shufN = rows.sparkSession.sessionState.conf.numShufflePartitions
    val ided = graft.core.Materialize.frame(
      rows.select(col(idCol).cast("long").as("__sid"),
        col(hashCol).as("__sh")))
    val sizes = ided.groupBy(col("__sid")).agg(count(lit(1)).as("n"))
    // hash grouping PINNED at the session width (r16, the
    // setJaccardAcross census doctrine): collect_list barely reduces
    // on the map side (hashes are near-unique), so the exchange is a
    // few MB and AQE coalesced the CPU-dense merge+sort+pair-explode
    // onto ONE task at bench scale.
    val byHash = ided.repartition(shufN, col("__sh"))
      .groupBy(col("__sh"))
      .agg(sort_array(collect_list(col("__sid"))).as("ids"))
    val capped =
      if (maxHashFreq > 0) byHash.filter(size(col("ids")) <= maxHashFreq)
      else byHash
    capped
      .select(explode(pairsFromSortedIds(col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .repartition(shufN, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("__sid").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("__sid").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("na") + col("nb") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard"))
  }

  /** Exact set Jaccard ACROSS two corpora — the cross-side form of
    * [[setJaccardPairs]] (one definition of the pair math per shape,
    * the [[hashBlockRows]] doctrine): left and right ids live in
    * INDEPENDENT id spaces, every qualifying (left, right) pair
    * surfaces, within-side pairs never form. Set sizes are identities
    * (computed before the cap, as in [[setJaccardPairs]]); the
    * hot-hash cap counts a hash's holders across BOTH sides — a
    * silence window or logo frame common anywhere identifies nothing.
    * Output: (left_id, right_id, n_shared, jaccard ≥ `threshold`).
    * ONE shuffle on the hash key; nothing quadratic in either corpus.
    *
    * Caller contract (the [[setJaccardPairs]] doctrine): both inputs
    * are DISTINCT (id, hash) frames — the producers
    * ([[graft.ops.AudioHash.windowHashFrame]] and friends) end in
    * `.distinct()` already, and re-deduplicating here would re-shuffle
    * both exploded hash frames, the largest intermediates of the job.
    * Duplicate rows would inflate both the sizes and `n_shared`.
    * Violations are detectable cheaply: set
    * `spark.graft.debug.assertDistinct=true` and both inputs are
    * verified before the pair pass (a one-extra-aggregation debug
    * valve, off by default so production jobs never pay it).
    *
    * @param left  DISTINCT (id, hash) rows of the left corpus — the
    *              caller owns distinctness (see above)
    * @param right DISTINCT (id, hash) rows of the right corpus — same
    *              contract */
  def setJaccardAcross(left: DataFrame, right: DataFrame,
                       idCol: String, hashCol: String,
                       threshold: Double, maxHashFreq: Int): DataFrame = {
    assertDistinctIfDebug(left, idCol, hashCol, "setJaccardAcross left")
    assertDistinctIfDebug(right, idCol, hashCol, "setJaccardAcross right")
    // each side feeds THREE consumers (its size table, the hot-hash
    // union, the pair join) and Catalyst copies the subtree per
    // branch, so an expensive upstream — q141 decodes real PCM here —
    // evaluated three times (stage probe: 3 × ~900 ms per side).
    // Checkpoint the skinny (id, hash) frames once (r15); at corpus
    // scale these are the fingerprint artifacts a pipeline persists
    // anyway.
    // (measured, r15: an explicit keyed repartition before these
    // checkpoints — to keep the cached RDD at session width — cost
    // MORE than the AQE-coalesced cache it replaced: 3.25 → 4.25 s on
    // q141. The single-partition cache serializes a few ~300 ms
    // consumer stages; the extra 320k-row exchanges cost ~1 s. Plain
    // checkpoints win locally; at cluster scale the decode output is
    // wide enough that AQE leaves it parallel.)
    val shufN = left.sparkSession.sessionState.conf.numShufflePartitions
    // the two sides share no lineage — materialize them CONCURRENTLY
    // (r16, guide §2.6): the decode jobs back-fill each other's tails
    val (l, r) = graft.core.Materialize.pair(
      left.select(col(idCol).cast("long").as("left_id"),
        col(hashCol).as("__h")),
      right.select(col(idCol).cast("long").as("right_id"),
        col(hashCol).as("__h")))
    val ln = l.groupBy(col("left_id")).agg(count(lit(1)).as("na"))
    val rn = r.groupBy(col("right_id")).agg(count(lit(1)).as("nb"))
    val (lc, rc) =
      if (maxHashFreq <= 0) (l, r)
      else {
        // hot-hash census PINNED at the session width (r16, the same
        // F3 fix as the pair aggregation below): the union of both
        // sides' hash columns is a few MB at bench scale, so AQE
        // coalesced the census aggregation to ONE task — 485 ms of
        // serial CPU on q141's 657k-row union (stage probe). The
        // explicit keyed repartition is the one exchange AQE never
        // coalesces; the groupBy reuses its partitioning.
        // The cap joins INVERTED (r16): keep-if-cool (left_semi on
        // every hash with freq ≤ cap — a near-corpus-sized relation,
        // built and broadcast TWICE) became drop-if-hot (left_anti on
        // the handful of hashes with freq > cap — the silence windows
        // and logo frames the cap exists for). Same result set by
        // complement: every l/r hash appears in the census. AQE picks
        // the join strategy from the hot set's REAL size at runtime.
        val hot = l.select(col("__h")).unionByName(r.select(col("__h")))
          .repartition(shufN, col("__h"))
          .groupBy(col("__h")).agg(count(lit(1)).as("__f"))
          .filter(col("__f") > maxHashFreq).select(col("__h"))
        (l.join(hot, Seq("__h"), "left_anti"),
          r.join(hot, Seq("__h"), "left_anti"))
      }
    lc.join(rc, Seq("__h"))
      // pair aggregation PINNED at the session shuffle width (the
      // ngramJaccardBlocked doctrine): AQE coalesced the post-join
      // count to ONE task (868 + 976 ms single-task stages at sf0.1)
      .repartition(shufN, col("left_id"), col("right_id"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(ln, Seq("left_id")).join(rn, Seq("right_id"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("na") + col("nb") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("n_shared"), col("jaccard"))
  }

  /** Incremental FRAME-SET screening of a new batch's videos against a
    * PUBLISHED frame-hash index — the q135/q117 ingestion-gate story
    * for frame-set identities ([[graft.sources.FrameSetIndexStore]];
    * index rows (id, fhash, n) — one row per distinct frame hash with
    * the video's set size denormalized on, the
    * [[graft.streaming.Streaming.FrameSetStore]] layout, so batch gate
    * and streaming sink share one table). History is never re-decoded:
    * the screen is one explode over the batch plus one co-located
    * probe join pruned to the batch's hashes.
    *
    * `newFrames` = (idCol, hashCol) rows for the batch (deduplicated
    * here — set semantics). Output: one row per distinct batch video —
    * (new_id, n_dup_matches = prior videos with set Jaccard ≥
    * `threshold`, dup_of = smallest such id or null, best_jaccard,
    * is_dup). Replay defense: prior rows whose id is in the batch are
    * excluded, so re-screening an already-admitted batch re-emits
    * original verdicts. Contract-violation defense as in the streaming
    * sink: duplicate (old_id, fhash) rows collapse on max(n) and the
    * intersection clamps to min(|new|, |old|). `maxHashFreq` caps
    * hot frames over the TOUCHED rows (batch ∪ matched prior). */
  def frameSetDedupAgainstIndex(newFrames: DataFrame, indexRows: DataFrame,
                                idCol: String = "media_id",
                                hashCol: String = "fhash",
                                threshold: Double = 0.8,
                                maxHashFreq: Int = 1000): DataFrame = {
    val newRows = newFrames.select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("fhash"))
      .filter(col("fhash").isNotNull).distinct()
    val sized = newRows.withColumn("n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))))
    val batchIds = sized.select(col("id").as("old_id")).distinct()
    // batch-pruned probe: replay-excluded, then semi-joined to the
    // batch's hashes (co-located on the bucketed store — linear in the
    // overlap, never an index scan); checkpointed because it feeds the
    // hot-frame count AND the pairing join
    val relevant = indexRows
      .select(col("id").as("old_id"), col("fhash"), col("n").as("old_n"))
      .join(batchIds, Seq("old_id"), "left_anti")
      .join(sized.select(col("fhash")).distinct(), Seq("fhash"), "left_semi")
      .groupBy(col("old_id"), col("fhash"))
      .agg(max(col("old_n")).as("old_n"))
      .transform(graft.core.Materialize.frame)
    val cappedNew =
      if (maxHashFreq <= 0) sized
      else {
        val cool = relevant.select(col("fhash"))
          .unionByName(sized.select(col("fhash")))
          .groupBy(col("fhash")).agg(count(lit(1)).as("__f"))
          .filter(col("__f") <= maxHashFreq).select(col("fhash"))
        sized.join(cool, Seq("fhash"), "left_semi")
      }
    val hits = cappedNew.join(relevant, Seq("fhash"))
      .groupBy(col("id"), col("old_id"))
      .agg(count(lit(1)).as("n_shared"), first(col("n")).as("n"),
        max(col("old_n")).as("on"))
      .withColumn("n_shared", least(col("n_shared"), col("n"), col("on")))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n") + col("on") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_matches"), min(col("old_id")).as("dup_of"),
        max(col("jaccard")).as("best_jaccard"))
    sized.select(col("id")).distinct()
      .join(hits, Seq("id"), "left")
      .select(col("id").as("new_id"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        col("dup_of"), col("best_jaccard"),
        (coalesce(col("n_dup_matches"), lit(0L)) > 0L).as("is_dup"))
  }

  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                          maxDistance: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    // null hashes (undecodable media, null text) are EXCLUDED here in
    // the shared kernel, not left to each caller: unfiltered they all
    // land in the four (blk, NULL) buckets, read as sim 0 through the
    // pair kernel, and emit pairwise hamming-0 "duplicates" of each
    // other — wrong verdicts, and past ~11.6k such rows a bucket
    // overflows the pair ceiling and fails the job
    val buckets = hashBlockRows(hashes.filter(col(hashCol).isNotNull),
        idCol, hashCol)
      .groupBy(col("blk"), col("key"))
      .agg(sort_array(collect_list(struct(col("id"), col("sim")))).as("members"))
    val bounded =
      if (maxBucketSize > 0) buckets.filter(size(col("members")) <= maxBucketSize)
      else buckets
    bounded
      .select(explode(call_function("graft_hamming_pairs",
        col("members"), lit(maxDistance))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"), col("p.hamming").as("hamming"))
      .distinct()
  }

  /** Connected components over an undirected candidate-pair graph —
    * the closure step that turns near-dup PAIRS (q22/q23/q24/q26) into
    * dedup CLUSTERS. Two execution paths, picked by the observed edge
    * count:
    *
    *  - ≤ `driverEdgeLimit` edges (integral ids): driver union-find —
    *    near-dup graphs are usually tiny relative to their corpus, and
    *    every distributed round costs ~1 s of pure scheduler latency.
    *  - above the limit, or with non-integral ids: large-star/small-star
    *    alternation ([[connectedComponentsStar]]) — the shape-ROBUST
    *    choice. The one-config-per-JVM probe matrix (NOTES_r07,
    *    22.5M/24M edges) has star within 11% of the best configuration
    *    on shallow LSH graphs and 3× faster than min-label propagation
    *    on adversarial chains (O(log n) = 6 rounds vs 32) — and a
    *    caller with millions of edges usually cannot KNOW the shape.
    *
    * Both label identically (DedupSpec pins the equivalence).
    *
    * Returns (id, cluster) where cluster = min id of the component.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                          maxIterations: Int = 20,
                          driverEdgeLimit: Long = 1000000L): DataFrame = {
    // Small-graph fast path: near-dup graphs are usually TINY relative
    // to their corpus (dozens to thousands of edges for millions of
    // docs), and every distributed round costs fixed scheduler +
    // checkpoint overhead — ~1 s of pure latency for a 262-edge graph
    // (measured, sf0.1). The limit(n+1) collect IS the cutover probe:
    // one evaluation of the (possibly expensive) pair pipeline either
    // yields the whole edge list (≤ driverEdgeLimit, default 1M — as
    // primitive-specialized tuples ≈ 30 MB of driver heap, union-find
    // labels it on the driver) or stops at n+1 rows and the distributed
    // rounds run on the SAME persisted pair frame, so the pipeline
    // evaluates once either way. Integral-id graphs only — any other id
    // type (strings, decimals) goes straight to the distributed path,
    // which never casts. Equivalence: union-find with min-root IS
    // min-label closure (DedupSpec tests both paths against the same
    // reference).
    val integralIds = Seq(idA, idB).forall(c => pairs.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    val fastEligible = driverEdgeLimit > 0 && driverEdgeLimit < Int.MaxValue && integralIds
    if (!fastEligible) return connectedComponentsStar(pairs, idA, idB, maxIterations)
    val src = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import src.sparkSession.implicits._
    val probe = src.select(col(idA).cast("long"), col(idB).cast("long"))
      .as[(Long, Long)].limit(driverEdgeLimit.toInt + 1).collect()
    if (probe.length <= driverEdgeLimit) {
      src.unpersist(blocking = false)
      return connectedComponentsLocal(pairs.sparkSession, probe)
    }
    // Star materializes both its derived frames from the persisted
    // src before returning, so the cache can drop immediately.
    val out = connectedComponentsStar(src, idA, idB, maxIterations)
    src.unpersist(blocking = false)
    out
  }

  /** Driver union-find for edge lists under the collect limit: path
    * compression + union by min keeps the min id as each root, so the
    * labeling is identical to the distributed min-label closure. */
  private def connectedComponentsLocal(spark: org.apache.spark.sql.SparkSession,
                                       edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
  }

  /** INCREMENTAL connected-components maintenance: fold a new batch's
    * pairs into a PUBLISHED (id, cluster) labeling without relabeling
    * the corpus — the cluster-assignment counterpart of the ingestion
    * gates (q117/q135/q139 tell you WHICH new docs duplicate history;
    * this keeps the dedup clusters current as batches land). Exactly
    * equivalent to a full recompute: `updateClusters(cc(E1), E2) ≡
    * cc(E1 ∪ E2)` because a labeling with member-id clusters preserves
    * E1's connectivity (every member is connected to its cluster id) —
    * DedupSpec pins the equivalence including merges of several old
    * clusters through one new edge.
    *
    * Cost is bounded by the TOUCHED components, never the corpus: two
    * semi-joins against the label table (co-located when labels are
    * stored bucketed by cluster) pull the members of clusters the new
    * pairs touch; CC runs on new pairs + one (member → cluster) edge
    * per touched member; untouched labels pass through unread. At
    * 100 TB this is the difference between a daily relabel of billions
    * of docs and a job sized by the day's batch.
    *
    * Contract: `labels` cluster ids must be MEMBER ids (the min-id
    * labeling every CC here emits) — a synthetic cluster key would
    * enter the subgraph as a phantom node and could win the min.
    * Output: (id, cluster) for every previously-labeled id and every
    * id in `newPairs`; new singletons (both endpoints novel) label
    * by their pair component as usual. */
  def updateClusters(labels: DataFrame, newPairs: DataFrame,
                     idCol: String = "id", clusterCol: String = "cluster",
                     idA: String = "id_a", idB: String = "id_b",
                     maxIterations: Int = 20,
                     driverEdgeLimit: Long = 1000000L): DataFrame = {
    val lbl = labels.select(col(idCol).cast("long").as("id"),
      col(clusterCol).cast("long").as("cluster"))
    val (relabeled, touchedClusters) = foldPairsIntoLabels(
      newPairs.select(col(idA).cast("long").as("id_a"),
        col(idB).cast("long").as("id_b")),
      ids => lbl.join(ids, Seq("id"), "left_semi"),
      clusters => lbl.join(clusters, Seq("cluster"), "left_semi"),
      maxIterations, driverEdgeLimit)
    lbl.join(touchedClusters, Seq("cluster"), "left_anti")
      .select(col("id"), col("cluster"))
      .unionByName(relabeled.select(col("id"), col("cluster")))
  }

  /** MEMBER REMOVAL from a published clustering — the takedown /
    * retention counterpart of [[updateClusters]], and the operation
    * the append-only label log deliberately does NOT support in
    * place: new edges only MERGE components (labels only decrease —
    * the log's min-per-id read rests on that), but removing a member
    * can SPLIT its component and can remove the very min id the
    * cluster is named after, so labels may INCREASE. Removal is
    * therefore a recompute of the touched components followed by a
    * REWRITE of their rows ([[graft.sources.LabelStore.compact]]'s
    * shape), never an append.
    *
    * `pairsAmong` re-derives the near-dup pairs among a given member
    * frame — in production from the published hash/band index (the
    * q135/q139 stores hold every member's hashes, so no payload is
    * re-read, let alone re-decoded); in tests, a filter of the
    * original edge list. Because removing nodes never CREATES edges,
    * pairs among survivors are a subset of the original component's
    * edges — two different touched clusters can never merge, and
    * untouched clusters are provably unchanged (none of their
    * members, hence none of their edges, is removed), so their labels
    * pass through unread.
    *
    * Exactly equivalent to the one-shot recompute:
    * `removeMembers(cc(E), R, E ∩ (S×S)) ≡ cc(E restricted to
    * survivors S)` — DedupSpec pins the equivalence on random graphs,
    * including splits and removed-min relabeling. Cost bounds by the
    * touched components (one semi-join to find them, one to pull
    * survivors), never the corpus. Output: (id, cluster) for every
    * previously-labeled id not removed; survivors whose component
    * shrank to themselves keep a self-labeled row (absence means
    * REMOVED, never "forgotten"). */
  def removeMembers(labels: DataFrame, removedIds: DataFrame,
                    pairsAmong: DataFrame => DataFrame,
                    idCol: String = "id", clusterCol: String = "cluster",
                    maxIterations: Int = 20,
                    driverEdgeLimit: Long = 1000000L): DataFrame = {
    val lbl = labels.select(col(idCol).cast("long").as("id"),
      col(clusterCol).cast("long").as("cluster"))
    // a single id column only: reading one column of a wider frame
    // positionally could silently take down the WRONG documents (a
    // (cluster, id)-shaped frame would remove by cluster id)
    require(removedIds.columns.length == 1,
      s"removedIds must be a single-column id frame, got (${removedIds.columns.mkString(", ")})")
    val rem = removedIds.select(
      col(removedIds.columns.head).cast("long").as("id"))
    val touchedClusters = lbl.join(rem, Seq("id"), "left_semi")
      .select(col("cluster")).distinct().transform(graft.core.Materialize.frame)
    val survivors = lbl.join(touchedClusters, Seq("cluster"), "left_semi")
      .join(rem, Seq("id"), "left_anti")
      .select(col("id")).transform(graft.core.Materialize.frame)
    val relabeled = connectedComponents(pairsAmong(survivors),
      maxIterations = maxIterations, driverEdgeLimit = driverEdgeLimit)
    // pairless survivors become singletons — self-labeled, not dropped
    val singletons = survivors
      .join(relabeled.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    lbl.join(touchedClusters, Seq("cluster"), "left_anti")
      .select(col("id"), col("cluster"))
      .unionByName(relabeled.select(col("id"), col("cluster")))
      .unionByName(singletons)
  }

  /** THE incremental-fold core shared by [[updateClusters]] (in-memory
    * labels) and [[graft.sources.LabelStore.fold]] (published label
    * log) — one definition of touched-ids → touched-clusters →
    * member→cluster edges → CC, parameterized by the two label probes,
    * so the fold semantics cannot drift between the operator and the
    * store. Returns (relabeled rows, touched cluster ids). Members of
    * touched clusters enter the subgraph as (member → cluster) edges —
    * connectivity of the old component in one edge per member, no old
    * pair list needed. */
  private[graft] def foldPairsIntoLabels(pairs: DataFrame,
      currentFor: DataFrame => DataFrame,
      membersOf: DataFrame => DataFrame,
      maxIterations: Int, driverEdgeLimit: Long): (DataFrame, DataFrame) = {
    val touchedIds = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    val touchedClusters = currentFor(touchedIds)
      .select(col("cluster")).distinct().transform(graft.core.Materialize.frame)
    val memberEdges = membersOf(touchedClusters)
      .select(col("id").as("id_a"), col("cluster").as("id_b"))
    val relabeled = connectedComponents(pairs.unionByName(memberEdges),
      maxIterations = maxIterations, driverEdgeLimit = driverEdgeLimit)
    (relabeled, touchedClusters)
  }

  /** Connected components by large-star/small-star alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * each round rewires every node's larger neighbors (large-star) and
    * then its smaller neighbors (small-star) to the neighborhood
    * minimum, star-ifying components in O(log n) rounds — vs
    * graph-DIAMETER rounds for min-label propagation, which
    * serializes on long chains.
    *
    * This is [[connectedComponents]]'s distributed path, taken above
    * the driver union-find's edge limit (see its scaladoc for the
    * probe-matrix numbers behind that choice). Each half-step is one
    * map-side-combinable groupBy for the neighborhood minima plus one
    * join back to the edge frame; the edge set SHRINKS as components
    * collapse into stars; `localCheckpoint` truncates the iterative
    * lineage. Convergence is the (edge-count, edge-hash-sum)
    * signature — a type-agnostic edge-SET fingerprint (works for
    * string ids, which the driver fast path always routes here), equal
    * across a round exactly when the rewiring reached its fixpoint.
    *
    * Returns (id, cluster) where cluster = min id of the component.
    */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                              maxIterations: Int = 20): DataFrame = {
    // ONE evaluation of the (possibly expensive — LSH!) pair pipeline:
    // both derived frames — the normalized edge set and the original
    // endpoint set for the final self-labels — materialize eagerly from
    // a persisted copy, then the copy drops. Without this, the lazy
    // `nodes` union at the bottom re-ran the whole upstream pipeline at
    // result-evaluation time.
    val src = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // normalized edge direction: src > dst (big points to small)
    var e = src
      .select(greatest(col(idA), col(idB)).as("src"), least(col(idA), col(idB)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // every ORIGINAL endpoint: a node whose only pair was a self-loop
    // has no surviving normalized edge but must still be labeled,
    // exactly as the driver union-find labels it — the two paths
    // return the same node set for any input.
    val nodes = src.select(col(idA).as("id"))
      .union(src.select(col(idB).as("id")))
      .distinct()
      .localCheckpoint()
    src.unpersist(blocking = false)

    // large-star(u): every neighbor v > u rewires to m = min(Γ(u) ∪ {u})
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("mn"))
      sym.join(mins, Seq("src"))
        .filter(col("dst") > col("src")) // v > u ≥ m, so src>dst holds below
        .select(col("dst").as("src"), col("mn").as("dst"))
        .distinct()
    }

    // small-star(u): every neighbor v ≤ u (keyed at the LARGER endpoint)
    // rewires to m = min(Γ(u) ∪ {u}); u itself links to m too
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      val rewired = edges.join(mins, Seq("src"))
        .filter(col("dst") =!= col("mn"))
        .select(col("dst").as("src"), col("mn").as("dst"))
      val self = mins.select(col("src"), col("mn").as("dst"))
      rewired.union(self).distinct()
    }

    // Edge-set signature (count, Σ xxhash64(src, dst)) — equality across
    // a round means the rewiring changed nothing = fixpoint. The hash
    // keeps the signature TYPE-AGNOSTIC: `src + dst` arithmetic on
    // string ids yields null under non-ANSI Spark (every round's sum
    // collapses to 0 → false convergence on the first count plateau,
    // silently wrong labels) and throws under ANSI — and string-id
    // graphs are exactly the ones the integral-id-only driver fast path
    // always routes here. Decimal sum: ANSI long-sum overflow would
    // throw at ~2^31 edges of 63-bit hashes. SUM over zero rows is
    // null: an empty pair frame (clean corpus) must mean "already
    // converged", not an NPE.
    def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }

    var prev = sig(e)
    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIterations) {
      val prevE = e
      e = smallStar(largeStar(e)).localCheckpoint()
      // Drop the superseded round's blocks now, not when the
      // ContextCleaner eventually notices the frame is unreferenced:
      // stranded rounds evict live blocks and stall later rounds on GC.
      // `e` is already materialized, so nothing re-reads them.
      graft.core.Materialize.release(prevE)
      val now = sig(e)
      converged = now == prev
      prev = now
      iter += 1
    }
    // at the star fixpoint every non-root points straight at its
    // component min; groupBy-min also tolerates a maxIterations cutoff.
    e.select(col("src").as("id"), col("dst").as("cluster"))
      .union(e.select(col("dst").as("id"), col("dst").as("cluster")))
      .union(nodes.withColumn("cluster", col("id")))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
  }

  /** End-to-end near-duplicate removal — what a pipeline actually calls:
    * MinHash+LSH candidates → exact-Jaccard verification → connected
    * components → one survivor per cluster. Returns the deduplicated
    * corpus (original columns, survivors only). */
  def deduplicate(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8, k: Int = 16, bands: Int = 4,
                  shingleSize: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    val pairs = nearDuplicates(df, idCol, textCol, threshold, k, bands, shingleSize,
        maxBucketSize)
      .select(col("id_a"), col("id_b"))
    resolveClusters(df, idCol, pairs).filter(col("keep"))
      .drop("cluster_id", "keep")
  }

  /** Paragraph-level exact dedup (the CCNet/RefinedWeb pass that runs
    * BEFORE document-level near-dup): documents split into paragraphs
    * on `splitPattern`; a paragraph whose md5 appears in at least
    * `minDocFreq` DISTINCT documents is corpus-duplicate boilerplate
    * and is dropped from every document; survivors reassemble in
    * original paragraph order. Kept separate from
    * [[Curation.boilerplateMetrics]] deliberately: that op SCORES docs
    * by hot-shingle fraction, this one REWRITES them — removing the
    * repeated header/footer/nav paragraphs while keeping the document.
    *
    * Scale shape: one explode per corpus scan; the hot-hash set is a
    * map-side-combined two-level aggregate (hash → distinct-doc count)
    * and is tiny by construction (high-df survivors), so the flag join
    * broadcasts under AQE; reassembly is ONE groupBy(doc) whose
    * collect_list holds a single document's paragraphs — bounded by doc
    * size, same invariant every per-doc op here relies on. Docs whose
    * every paragraph is dropped stay in the output with empty text (the
    * caller's quality gate, not silent row loss, decides their fate).
    * Output: (doc_id, n_paras, n_kept, text_clean). */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     splitPattern: String = "\\n+", minDocFreq: Int = 2,
                     joinSep: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), splitPattern)).as(Seq("ix", "para")))
      .filter(col("para") =!= "")
      .withColumn("h", md5(col("para")))
    // cross-doc document frequency via two windows instead of a
    // groupBy(h)+join back: the join form evaluates the exploded-paras
    // subtree TWICE (the two branches' children differ, so no exchange
    // reuse — the split/regex pass runs once per branch) and pays the
    // probe-side exchange. Windows keep paras single-evaluation: mark
    // each (h, doc)'s first occurrence, sum those marks per h =
    // countDistinct(doc), all with counter-sized state (the tfIdf df
    // lesson; a collect_set window would OOM on a universal paragraph).
    // Known trade: WindowExec buffers each h-group's ROWS while
    // evaluating, so a paragraph present in a large corpus fraction is
    // a spill hotspot (spills, never OOMs — UnsafeExternalSorter); the
    // 4× dup-densified probe (every group ≥4 occurrences, 2.4M docs)
    // runs sublinear at 6.6 s. Corpora with UNIVERSAL boilerplate
    // should strip it first (boilerplateMetrics) — true of the join
    // form too, which shuffled the same hot rows to one reducer.
    import org.apache.spark.sql.expressions.Window
    // ONE h-keyed exchange for the hotness gate (r15): the first-of-
    // (h, doc) marks used to ride a (h, doc_id)-partitioned
    // row_number — a SECOND full exchange of the paragraph rows
    // before the h-partitioned hotness sum. For the ubiquitous
    // minDocFreq=2 the gate is min(doc_id) ≠ max(doc_id) over the h
    // partition (the filterHotByDistinctDocs doctrine — O(1) state,
    // no ordered sort at all); for general df a lag over the h
    // partition sorted by (doc_id, ix) marks the same first-of-group
    // rows inside ONE sorted partition. Either way both windows share
    // one hash(h) exchange.
    // both gate exchanges PINNED at the session's shuffle width (the
    // hotByteWindowStarts doctrine, r15): AQE's byte-sized coalescer
    // sees a few MB of paragraph rows and plans ONE task for the
    // h-window sort and again for the per-doc rebuild (q65 stage
    // probe: 296 + 280 ms single-task stages); explicit-count
    // repartitions are the one shuffle AQE never coalesces, and the
    // count follows spark.sql.shuffle.partitions — cluster-sized at
    // 100 TB.
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    val parasByH = paras.repartition(shufN, col("h"))
    val wH = Window.partitionBy(col("h"))
    val flagged =
      // == 2 exactly (ADVICE r15): min≠max proves TWO distinct docs;
      // for minDocFreq <= 1 every paragraph is hot (df >= 1 always) —
      // the general mark-sum gate below gets that right, the min≠max
      // shortcut silently would not
      if (minDocFreq == 2) parasByH
        .withColumn("__hot",
          when(min(col("doc_id")).over(wH) =!= max(col("doc_id")).over(wH),
            lit(1)).otherwise(lit(null)))
      else {
        val wHDoc = Window.partitionBy(col("h"))
          .orderBy(col("doc_id"), col("ix"))
        parasByH
          .withColumn("__first",
            when(lag(col("doc_id"), 1).over(wHDoc).isNull ||
                 lag(col("doc_id"), 1).over(wHDoc) =!= col("doc_id"),
              lit(1L)).otherwise(lit(0L)))
          .withColumn("__hot",
            when(sum(col("__first")).over(wH) >= minDocFreq, lit(1))
              .otherwise(lit(null)))
          .drop("__first")
      }
    val rebuilt = flagged.repartition(shufN, col("doc_id")).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("__hot").isNull, lit(1))).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("ix"), col("para"))))),
          p => p.getField("para")), joinSep).as("text_clean"))
    df.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Duplicated-substring coverage (the ExactSubstr signal of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — approximated at fixed token-window granularity): a
    * document position is DUPLICATED if some `windowTokens`-token
    * window starting there also appears in ≥ `minDocFreq` distinct
    * documents. Unlike whole-doc near-dup (MinHash) or paragraph dedup
    * (exact md5 at paragraph grain), this catches partially-copied
    * spans — quote farms, templated intros, licence blocks — that
    * neither whole-doc signatures nor paragraph hashes see.
    *
    * Per doc: `n_windows` (token windows), `n_dup_windows` (windows
    * whose hash is corpus-hot), `covered_tokens` (size of the UNION of
    * the hot windows' [pos, pos+L) intervals — overlapping spans are
    * not double-counted), `dup_frac` = covered / tokens. Filter
    * `dup_frac > τ` to drop heavily-copied docs, or feed
    * `covered_tokens` into a span-removal rewrite.
    *
    * Scale shape: one explode to (doc, pos, window-hash) rows; the hot
    * set is a map-side-combined hash aggregate joined back on the hash
    * (shuffle join — the hot set is NOT assumed broadcastable); the
    * interval union is one lag window partitioned by doc, bounded by
    * doc length — the same per-doc invariant every rewrite op here
    * relies on. Window hashes are md5 over the space-joined window, so
    * the DuckDB oracle reproduces them exactly. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be at least 2")
    require(minDocFreq >= 2, "minDocFreq below 2 would mark every window duplicated")
    val L = windowTokens
    val (toks, hotStarts) = hotWindowStarts(df, idCol, textCol, L, minDocFreq)
    // interval union of [pos, pos+L) locally per doc (the
    // [[duplicateSpansBytes]] shape, r15): ONE hash agg collects each
    // doc's hot starts — state bounded by doc length — and a local
    // sorted pass sums min(L, gap) increments. The r14 form paid a
    // per-doc-sorted WindowExec (lag) plus a separate aggregation:
    // one more exchange and a full sort for work the executor does
    // over ints it already holds.
    val covUdf = udf((ps: Seq[Int]) => {
      val arr = ps.toArray
      java.util.Arrays.sort(arr)
      var covered = 0L
      var i = 0
      while (i < arr.length) {
        covered += (if (i == 0) L.toLong
                    else math.min(L.toLong, (arr(i) - arr(i - 1)).toLong))
        i += 1
      }
      covered
    })
    val cov = hotStarts
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"), collect_list(col("pos")).as("ps"))
      .select(col("doc_id"), col("n_dup_windows"),
        covUdf(col("ps")).as("covered_tokens"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        greatest(size(col("t")) - L + 1, lit(0)).cast("long").as("n_windows"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"))
  }

  /** Shared front half of [[duplicateSpans]] / [[removeDuplicateSpans]]:
    * (tokens frame (doc_id, t), hot-window-start frame (doc_id, pos))
    * where a hot window is an `L`-token window whose md5 (over the
    * space-joined slice) appears in ≥ `minDocFreq` DISTINCT docs. */
  private def hotWindowStarts(df: DataFrame, idCol: String, textCol: String,
                              L: Int, minDocFreq: Int): (DataFrame, DataFrame) = {
    // token arrays are read several times downstream (window explode
    // here, spine/token rows in the callers) — checkpoint so the
    // corpus tokenizes once
    // LAZY checkpoints (the q114 kmeansAudit lesson): materialize as
    // a side effect of the FIRST action instead of paying a dedicated
    // job per frame — tokens and windows are each read twice.
    // NO pre-tokenize repartition: measured A/B at sf0.1 (r14) — the
    // single-task tokenize costs ~0.1 s while the extra exchange +
    // stage costs the same or more (q80 0.81 → 0.89 s with it); at
    // real scale the scan splits naturally and the exchange is pure
    // waste. (Contrast q130's image decode, where per-row work is
    // expensive enough that the repartition IS the win.)
    val toks = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("t")).localCheckpoint(false)
    // window hash = xxhash64 over the space-joined slice (codegen,
    // 8-byte shuffle keys): the hash is INTERNAL — outputs carry
    // coverage, never hashes — so engine portability doesn't bind it
    // the way md5 binds the oracle replays (which state the GLOBAL
    // definition and agree as long as both hashes are collision-free
    // at corpus scale: a cross-window collision needs ~2^32 windows).
    // sequence(a, b) DESCENDS when a > b — short docs must yield an
    // empty window array, not a [0, -1] one. The window frame is read
    // twice (hot aggregation + the hot join) — checkpointed, so the
    // explode + hash run once.
    val wins = toks
      .select(col("doc_id"), posexplode(
        when(size(col("t")) >= L,
          transform(sequence(lit(0), size(col("t")) - L),
            i => xxhash64(array_join(slice(col("t"), i + 1, lit(L)), " "))))
          .otherwise(array())).as(Seq("pos", "h")))
    // hotness via count-over-partition on the SAME pass (the q113/q122
    // single-evaluation doctrine): one exchange on the hash key
    // replaces aggregate + join-back, and the window frame is read
    // exactly once — no checkpoint, no recompute. Bounded per-group
    // state (min/max or first-flag sum, never a collected set): a
    // corpus-common window — a license block in millions of docs — is
    // the hash's full posting list, and set state would grow with the
    // hottest key.
    //
    // The gate exchange is PINNED at the session's shuffle width (the
    // hotByteWindowStarts doctrine, r15): AQE's byte-sized coalescer
    // sees a few MB of window rows and plans ONE task, serializing
    // the gate sort. Hot starts hand off repartitioned by doc_id at
    // the same width so both callers' per-doc aggregations ride the
    // explicit exchange instead of a second AQE-coalesced one.
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    (toks, filterHotByDistinctDocs(wins, minDocFreq, Some(shufN))
      .select(col("doc_id"), col("pos"))
      .repartition(shufN, col("doc_id")))
  }

  /** Keeps rows whose `h`-key group spans ≥ `minDocFreq` DISTINCT
    * `doc_id`s — the cross-doc hotness gate of the ExactSubstr family
    * — with BOUNDED per-group aggregate state. For the ubiquitous
    * minDocFreq=2 it is `min(doc_id) ≠ max(doc_id)` over the key
    * partition (O(1) state, no sort); for general df it is the
    * [[paragraphDedup]] first-occurrence-flag sum (row_number marks
    * each (h, doc)'s first row, their per-h sum IS countDistinct(doc)
    * — counter-sized state). Either way the hottest key costs a
    * spillable WindowExec sort, never a per-key in-memory distinct
    * set: `size(collect_set(doc_id))` holds EVERY distinct doc id of
    * the hottest hash on the heap at once — exactly the skewed-key
    * state that survives sf1.0 and dies at 100 TB.
    *
    * `pinnedPartitions`: when set, the gate's exchange is an EXPLICIT
    * `repartition(n, h)` instead of the WindowExec-implied shuffle.
    * AQE's post-shuffle coalescer sizes partitions by BYTES
    * (advisoryPartitionSizeInBytes) and is blind to the gate's
    * per-row CPU (hash keys + a full partition sort) — on a corpus
    * whose window rows are small but numerous it coalesces the gate
    * to ONE task and the sort runs single-threaded (measured: q147's
    * gate stages ran 1-task/331 ms under AQE; pinned they split
    * 32-way). A user repartition with an explicit count is exactly
    * the knob AQE never coalesces, and `n` follows the session's
    * `spark.sql.shuffle.partitions` — the cluster-sized setting — so
    * at 100 TB the pin IS the normal shuffle width. */
  private[graft] def filterHotByDistinctDocs(rows0: DataFrame,
                                      minDocFreq: Int,
                                      pinnedPartitions: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = pinnedPartitions match {
      case Some(n) => rows0.repartition(n, col("h"))
      case None => rows0
    }
    val byH = Window.partitionBy(col("h"))
    if (minDocFreq <= 2) {
      rows
        .withColumn("__hot",
          min(col("doc_id")).over(byH) =!= max(col("doc_id")).over(byH))
        .filter(col("__hot"))
        .drop("__hot")
    } else {
      val byHDoc = Window.partitionBy(col("h"), col("doc_id"))
        .orderBy(col("doc_id"))
      rows
        .withColumn("__first",
          when(row_number().over(byHDoc) === 1, lit(1L)).otherwise(lit(0L)))
        .withColumn("__hot", sum(col("__first")).over(byH) >= minDocFreq)
        .filter(col("__hot"))
        .drop("__first", "__hot")
    }
  }

  /** BYTE-grain ExactSubstr coverage — Lee et al.'s actual definition
    * (a position is duplicated iff some `minRun`-byte substring
    * starting there also appears in ≥ `minDocFreq` distinct
    * documents), where [[duplicateSpans]] approximates at token-window
    * grain: removal boundaries here match the paper's, byte for byte
    * (grain is string chars; on ASCII corpora chars ≡ bytes).
    *
    * Suffix-array-free two-stage plan:
    *  1. COARSE: robust-winnowing anchors over `k`-char rolling
    *    hashes, window `w = minRun − k + 1` k-grams — the Schleimer
    *    guarantee: every duplicated run of length ≥ minRun contains,
    *    in EVERY copy, at least one selected anchor whose hash
    *    matches (selection inside identical content is
    *    content-determined: same min value, same rightmost-tie
    *    relative position). Anchors are ~2/(w+1) of positions, so the
    *    corpus-wide hot aggregation runs at ~1/18th of stride-1 cost.
    *  2. REFINE: only within hot-anchor REGIONS
    *    ([pos − (minRun − k), pos + minRun), clipped), emit stride-1
    *    `minRun`-char window md5s and re-aggregate — the in-doc byte
    *    extension: region bytes are bounded by real duplication, and
    *    the second df equals the GLOBAL stride-1 df (any globally-hot
    *    window is itself a duplicated run ≥ minRun, so every copy
    *    carries a hot anchor and the window is emitted everywhere it
    *    occurs). The oracle replays the global stride-1 definition
    *    directly — hash equality of the outputs is the proof the
    *    refinement loses nothing.
    *
    * Per doc: n_chars, n_dup_windows (hot stride-1 windows),
    * covered_bytes (union of their [p, p+minRun) intervals — the
    * paper's removable span mass), dup_frac. Scale shape: the anchor
    * explode + one hash agg (coarse), a doc-keyed join back for
    * region text, a bounded region explode + one hash agg (refine),
    * then ONE more hash agg collecting each doc's hot starts for a
    * local interval-union pass. The collected per-doc list is bounded
    * by the DOC LENGTH (stride-1 starts), i.e. the same per-row bound
    * as carrying the doc's own text — not the cross-corpus hotness
    * state the r13 verdict banned. The r14 build unioned intervals
    * with a lag window + sum: per-doc-sorted WindowExec passes that
    * each cost a full sort of the hot-start frame AND were re-paid by
    * the final orderBy's range-sampling pass (measured 588 ms of
    * 1.3 s at sf0.1); the hash agg has map-side partial combine and
    * no sort. Nothing corpus-quadratic; driver sees nothing. */
  def duplicateSpansBytes(df: DataFrame, idCol: String, textCol: String,
                          minRun: Int = 50, k: Int = 32,
                          minDocFreq: Int = 2): DataFrame = {
    val L = minRun
    val (docs, hotStarts) = hotByteWindowStarts(df, idCol, textCol, L, k, minDocFreq)
    // interval union of [p, p+L) over each doc's (unique) hot starts,
    // computed locally per doc: sort the collected starts, sum
    // min(L, gap) increments — the lag trick without the window
    val covUdf = udf((ps: Seq[Int]) => {
      val arr = ps.toArray
      java.util.Arrays.sort(arr)
      var covered = 0L
      var i = 0
      while (i < arr.length) {
        covered += (if (i == 0) L.toLong
                    else math.min(L.toLong, (arr(i) - arr(i - 1)).toLong))
        i += 1
      }
      covered
    })
    val cov = hotStarts
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"), collect_list(col("p")).as("ps"))
      .select(col("doc_id"), col("n_dup_windows"),
        covUdf(col("ps")).as("covered_bytes"))
    docs.select(col("doc_id"), length(col("__text")).cast("long").as("n_chars"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_bytes"), lit(0L)).as("covered_bytes"),
        round(coalesce(col("covered_bytes"), lit(0L)).cast("double") /
          greatest(col("n_chars"), lit(1L)), 6).as("dup_frac"))
  }

  /** The rewrite half of [[duplicateSpansBytes]] — Lee et al.'s
    * intervention at the paper's own grain: DELETE every character
    * covered by a cross-doc-hot `minRun`-char window and splice the
    * survivors back together, byte-exact boundaries (where
    * [[removeDuplicateSpans]] cuts at token grain and re-joins
    * tokenizer-normalized, this rewrite never touches a kept byte —
    * untouched docs return verbatim BY CONSTRUCTION, not as a special
    * case). A fully-copied doc comes back empty and stays in the
    * corpus — the caller's quality gate decides its fate.
    *
    * Scale shape: the [[duplicateSpansBytes]] two-stage hot-start
    * pass, ONE hash agg collecting each doc's hot starts (per-doc
    * list bounded by the doc length — the text itself is the bigger
    * column on the very next join), one join back to the text, and a
    * single local gaps-and-islands splice per doc. The r14 build did
    * the islands merge in SQL windows (three per-doc-sorted
    * WindowExec passes plus a per-island re-join against the text);
    * measured at sf0.1 the window sorts were pure stage overhead next
    * to a local pass over ints the executor already holds. */
  def removeDuplicateSpansBytes(df: DataFrame, idCol: String,
                                textCol: String, minRun: Int = 50,
                                k: Int = 32, minDocFreq: Int = 2): DataFrame = {
    val L = minRun
    val (docs, hotStarts) = hotByteWindowStarts(df, idCol, textCol, L, k, minDocFreq)
    // gaps-and-islands, locally per doc: sort the hot starts; a start
    // more than L past its predecessor closes the removed interval
    // [s, lastP + L) and opens a new one; splice the kept gaps plus
    // the tail. Never touches a kept byte; no hot starts -> verbatim.
    val spliceUdf = udf((text: String, ps: Seq[Int]) => {
      if (ps == null || ps.isEmpty) (0L, text)
      else {
        val arr = ps.toArray
        java.util.Arrays.sort(arr)
        val sb = new java.lang.StringBuilder(text.length)
        var removed = 0L
        var islandS = arr(0)
        var prevP = arr(0)
        var pe = 0 // end of the previous island = start of the kept gap
        var i = 1
        while (i <= arr.length) {
          if (i == arr.length || arr(i) - prevP > L) {
            val islandE = prevP + L
            sb.append(text, pe, islandS)
            removed += (islandE - islandS).toLong
            pe = islandE
            if (i < arr.length) islandS = arr(i)
          }
          if (i < arr.length) prevP = arr(i)
          i += 1
        }
        sb.append(text, pe, text.length)
        (removed, sb.toString)
      }
    })
    val starts = hotStarts.groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("ps"))
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("__r", spliceUdf(col("__text"), col("ps")))
      .select(col("doc_id"),
        length(col("__text")).cast("long").as("n_chars"),
        col("__r._1").as("n_removed_bytes"),
        col("__r._2").as("text_clean"))
  }

  /** Shared hot-start pass of [[duplicateSpansBytes]] /
    * [[removeDuplicateSpansBytes]]: returns (the (doc_id, __text)
    * corpus projection — a pruned rescan per use, cheaper than a
    * checkpoint stage at every scale measured, distinct (doc_id, p)
    * starts of cross-doc-hot `L`-char windows), found by the
    * winnow-anchored two-stage refinement (see
    * [[duplicateSpansBytes]]'s scaladoc for the equivalence
    * argument). */
  private[graft] def hotByteWindowStarts(df: DataFrame, idCol: String,
                                  textCol: String, L: Int, k: Int,
                                  minDocFreq: Int): (DataFrame, DataFrame) = {
    require(k >= 4, "k-gram size must be at least 4")
    require(L > k, s"minRun must exceed the k-gram size $k")
    require(minDocFreq >= 2,
      "minDocFreq below 2 would mark every window duplicated")
    // anchors cross the UDF boundary as a struct of two PRIMITIVE
    // arrays (positions, hashes) zipped by codegen — a Seq[(Int,
    // Long)] return boxes every anchor into a tuple row at the
    // conversion layer (measured ~60 ms of the winnow stage on 136k
    // anchors)
    val winnowUdf = udf((text: String) => winnowAnchors(text, k, L - k + 1))
    // NO pre-winnow repartition and NO checkpoint (the q80 doctrine,
    // now measured here too): the corpus text is read three times
    // (winnow anchors, region text for the refinement, the caller's
    // final per-doc join) but each read is a pruned columnar scan —
    // cheaper than a materialization stage plus an exchange — and at
    // real scale the scan splits naturally across row groups, so the
    // winnow UDF parallelizes without a shuffle. The r14 build paid a
    // repartition + localCheckpoint here; per-stage probing (r15)
    // showed the win was imaginary: the fixed cost was the shuffle
    // WRITER (one spill file per reducer under the bypass-merge
    // path), not the rescans, and the checkpoint added two stages of
    // its own. AQE broadcasts the small side of both doc-keyed joins
    // at bench scale and plans real exchanges at cluster scale —
    // exactly the decision it exists to make.
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    val anchors = docs
      .withColumn("__a", winnowUdf(col("__text")))
      .select(col("doc_id"),
        explode(arrays_zip(col("__a._1").as("pos"),
          col("__a._2").as("h"))).as("a"))
    // anchor hotness via count-over-partition on ONE pass (the
    // q113/q122 single-evaluation doctrine): one exchange on the
    // anchor hash replaces aggregate + join-back, and the winnow UDF
    // runs exactly once — no checkpoint, no recompute. Gate state is
    // bounded (filterHotByDistinctDocs): a corpus-universal anchor —
    // boilerplate present in millions of docs — must cost a spillable
    // sort, not a heap-resident distinct set.
    //
    // The CPU-dense exchanges (both hotness gates) are pinned at the
    // session's shuffle width: AQE's byte-sized coalescer sees a few
    // MB of window rows and plans ONE task, serializing the gate
    // sorts (measured 260 ms single-task at sf0.1 vs ~80 ms pinned).
    // An explicit-count repartition is the one shuffle AQE never
    // coalesces, and the count follows spark.sql.shuffle.partitions,
    // so cluster sizing still governs at 100 TB.
    val shufN = df.sparkSession.sessionState.conf.numShufflePartitions
    // Hot-anchor positions come back to their doc as ONE collected
    // list (bounded by doc length — anchors are ~2/(w+1) of
    // positions) and the refine happens in a single local pass per
    // doc: MERGE overlapping/adjacent regions, then emit stride-1
    // window hashes per merged region. The r14 build did the merge in
    // SQL windows (per-doc-sorted WindowExec + groupBy + a join back
    // to the text): one more exchange and two more stages for work
    // the executor does locally over ints. Merging before hashing
    // still matters — winnowing selects an anchor every ~w/2
    // positions inside a long duplicated run, so unmerged per-anchor
    // regions would hash every window ~5x and need a corpus-scale
    // DISTINCT to undo it (measured 10.3 s → 3.4 s at sf0.1 when the
    // merge first landed). Merged regions are disjoint, so (doc, p)
    // rows are unique BY CONSTRUCTION.
    //
    // window hash = 64-bit polynomial ROLLING hash + splitmix64
    // finalizer, one pass per region (O(region bytes) total) — the
    // r14 build paid substring + xxhash64 per position (O(L x region
    // bytes) char reads plus an L-char allocation per window;
    // measured 636 ms of 2.1 s at sf0.1, the query's single largest
    // stage). The hash is INTERNAL (outputs carry coverage, never
    // hashes), so engine portability doesn't bind it the way md5
    // binds the oracle replays; collision doctrine unchanged from the
    // xxhash64 era — a cross-window collision needs ~2^32 windows by
    // the birthday bound (vs ~2^20 here even at 10x). A poly mod 2^64
    // is adversarially weaker than xxhash (engineered collisions need
    // Thue-Morse-style strings, degree >= ~2^11 — impossible inside a
    // 50-char window), and the finalizer is bijective so it changes
    // distribution, not collisions.
    val refineUdf = udf((text: String, anchorPos: Seq[Int]) => {
      val arr = anchorPos.toArray
      java.util.Arrays.sort(arr)
      val n = text.length
      val pb = new scala.collection.mutable.ArrayBuilder.ofInt
      val hb = new scala.collection.mutable.ArrayBuilder.ofLong
      var pw = 1L
      val B = 1000003L
      var j = 1
      while (j < L) { pw *= B; j += 1 }
      @inline def fmix(x0: Long): Long = {
        var x = x0
        x ^= x >>> 30; x *= -4658895280553007687L // 0xbf58476d1ce4e5b9
        x ^= x >>> 27; x *= -7723592293110705685L // 0x94d049bb133111eb
        x ^ (x >>> 31)
      }
      def emit(s: Int, e: Int): Unit = {
        val lim = math.min(e, n) - L // inclusive last start
        if (lim >= s) {
          var h = 0L
          var i = s
          while (i < s + L) { h = h * B + text.charAt(i); i += 1 }
          pb += s; hb += fmix(h)
          var p = s + 1
          while (p <= lim) {
            h = (h - text.charAt(p - 1) * pw) * B + text.charAt(p + L - 1)
            pb += p; hb += fmix(h)
            p += 1
          }
        }
      }
      var regS = -1
      var regE = -1
      var i = 0
      while (i < arr.length) {
        val s = math.max(arr(i) - (L - k), 0)
        val e = arr(i) + L
        if (regS < 0) { regS = s; regE = e }
        else if (s > regE) { emit(regS, regE); regS = s; regE = e }
        else if (e > regE) regE = e
        i += 1
      }
      if (regS >= 0) emit(regS, regE)
      (pb.result(), hb.result())
    })
    val hotAnchorLists = filterHotByDistinctDocs(
        anchors.select(col("doc_id"), col("a.pos").as("pos"),
          col("a.h").as("h")),
        minDocFreq, Some(shufN))
      .repartition(shufN, col("doc_id"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("aps"))
    val winRows = docs.join(hotAnchorLists, Seq("doc_id"))
      .withColumn("__w", refineUdf(col("__text"), col("aps")))
      .select(col("doc_id"),
        explode(arrays_zip(col("__w._1").as("p"),
          col("__w._2").as("h"))).as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.h").as("h"))
    // window hotness: the same count-over-partition shape as the
    // anchors — the refinement pass is read once, never re-derived,
    // and gate state stays bounded (filterHotByDistinctDocs). Hot
    // starts hand off repartitioned by doc_id at the pinned width so
    // both callers' per-doc aggregations ride the explicit exchange.
    (docs, filterHotByDistinctDocs(winRows, minDocFreq, Some(shufN))
      .select(col("doc_id"), col("p"))
      .repartition(shufN, col("doc_id")))
  }

  /** Robust winnowing over `k`-char polynomial rolling hashes, window
    * `w` k-grams, rightmost-minimum tie-break: per sliding window the
    * minimum hash position is selected; consecutive windows that
    * re-select the same position emit once. Returns distinct
    * (position, hash) as parallel PRIMITIVE arrays — boxed tuples
    * here cost more than the winnow itself at corpus row counts.
    * Per-doc LOCAL (runs inside the decode task); the hash is a
    * throwaway 64-bit poly — stage 2's window hash is the arbiter, so
    * collisions can only add anchors, never lose runs. */
  private[ops] def winnowAnchors(text: String, k: Int,
                                 w: Int): (Array[Int], Array[Long]) = {
    if (text == null || text.length < k + w - 1)
      return (Array.empty[Int], Array.empty[Long])
    val n = text.length - k + 1 // k-gram count
    val hs = new Array[Long](n)
    val B = 1000003L
    var h = 0L
    var pw = 1L
    var i = 0
    while (i < k) { h = h * B + text.charAt(i); if (i > 0) pw *= B; i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = (h - text.charAt(i - 1) * pw) * B + text.charAt(i + k - 1)
      hs(i) = h
      i += 1
    }
    // Sliding-window minimum via a monotonic index deque — O(n) where
    // the r14 rescan paid O(n·w). Invariant: indices ascending, hash
    // values strictly ascending; pushing i pops every back with
    // hs(back) >= hs(i), so among equal minima only the NEWEST index
    // survives — exactly the rightmost-minimum tie-break the rescan
    // computed (j scans left-to-right taking `<=`).
    val pb = new scala.collection.mutable.ArrayBuilder.ofInt
    val hbOut = new scala.collection.mutable.ArrayBuilder.ofLong
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var last = -1
    var i2 = 0
    while (i2 < n) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i2)) tail -= 1
      dq(tail) = i2; tail += 1
      val win = i2 - w + 1 // window [win, i2] complete once win >= 0
      if (win >= 0) {
        while (dq(head) < win) head += 1
        val best = dq(head)
        if (best != last) { pb += best; hbOut += hs(best); last = best }
      }
      i2 += 1
    }
    (pb.result(), hbOut.result())
  }

  /** The rewrite half of [[duplicateSpans]] — Lee et al.'s actual
    * intervention: DELETE every token covered by a corpus-hot window
    * and reassemble the survivors in original order. A doc with NO
    * covered tokens returns its text VERBATIM — rewriting is strictly
    * opt-in per removal, so clean documents (including CJK text, whose
    * per-character tokens would otherwise come back space-separated,
    * and anything with meaningful newlines) are never mutated. Docs
    * that DO lose a span are re-joined with single spaces, i.e.
    * tokenizer-normalized — the price of token-grain surgery, paid
    * only where surgery happened. A fully-copied doc comes back with
    * empty text and stays in the corpus — the caller's quality gate,
    * not silent row loss, decides its fate.
    *
    * Scale shape: [[hotWindowStarts]]'s explode + hash-agg + hash
    * join, then ONE equi-join of token rows to hot starts and ONE
    * running-max window per doc (cover-end = max(pos + L) over
    * preceding hot starts; a token at p is covered iff that max > p) —
    * interval membership without exploding each window into its L
    * positions. The rebuild groupBy collects one doc's tokens,
    * bounded by doc size. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be at least 2")
    require(minDocFreq >= 2, "minDocFreq below 2 would mark every window duplicated")
    val L = windowTokens
    val (toks, hotStarts) = hotWindowStarts(df, idCol, textCol, L, minDocFreq)
    // splice locally per doc (the [[removeDuplicateSpansBytes]] shape,
    // r15): each doc's hot starts come back as ONE collected list
    // (bounded by doc length), and a single local pass over the token
    // array drops covered positions and re-joins survivors in order.
    // The r14 form exploded every token into rows, joined the hit
    // markers, ran a per-doc-sorted running-max WindowExec, and
    // re-collected — three corpus-token-sized stages for work the
    // executor does locally over an array it already holds. Only docs
    // WITH hot starts pass through the splice (inner join); untouched
    // docs return verbatim from the original text at the final select.
    val spliceUdf = udf((t: Seq[String], ps: Seq[Int]) => {
      val arr = ps.toArray
      java.util.Arrays.sort(arr)
      val n = t.length
      val sb = new java.lang.StringBuilder
      var removed = 0L
      var coverEnd = -1
      var j = 0
      var p = 0
      while (p < n) {
        // while, not if (ADVICE r15): a duplicated start position must
        // advance the cursor past EVERY copy — an `if` would desync j
        // and silently skip all later spans (uniqueness of (doc, pos)
        // holds upstream today; the kernel no longer depends on it)
        while (j < arr.length && arr(j) == p) { coverEnd = math.max(coverEnd, p + L); j += 1 }
        if (p < coverEnd) removed += 1L
        else {
          if (sb.length > 0) sb.append(' ')
          sb.append(t(p))
        }
        p += 1
      }
      (removed, sb.toString)
    })
    val starts = hotStarts.groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("ps"))
    val spliced = toks.join(starts, Seq("doc_id"))
      .select(col("doc_id"), spliceUdf(col("t"), col("ps")).as("__r"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__orig"))
      .join(toks.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens")), Seq("doc_id"), "left")
      .join(spliced, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("__r._1"), lit(0L)).as("n_removed"),
        when(coalesce(col("__r._1"), lit(0L)) === 0L,
          coalesce(col("__orig"), lit("")))
          .otherwise(col("__r._2")).as("text_clean"))
  }

  /** Resolve a corpus against its candidate pairs: every doc gets its
    * component's min id as `cluster_id` and `keep` marks the one
    * survivor per cluster (unpaired docs survive as their own cluster).
    * This is the operator that actually PRODUCES a deduplicated corpus:
    * `docs.filter(col("keep"))` after any pair-generating detector. */
  def resolveClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                      maxIterations: Int = 20): DataFrame = {
    val labels = connectedComponents(pairs, maxIterations = maxIterations)
      .select(col("id").as("__cc_id"), col("cluster").as("__cc_cluster"))
    docs.join(labels, docs(idCol) === labels("__cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("__cc_cluster"), col(idCol)))
      .withColumn("keep", col(idCol) === col("cluster_id"))
      .drop("__cc_id", "__cc_cluster")
  }

  /** Leakage-safe train/val/test split: assign by CLUSTER, not by
    * document, so a near-duplicate pair can never straddle train and
    * test (the classic eval-contamination leak — a test doc whose
    * near-twin was trained on measures memorization, not
    * generalization). Clusters come from [[resolveClusters]]; the
    * split is an md5-uniform of the cluster id against cumulative
    * fractions — a pure function of (corpus ids, pairs), reproducible
    * in any engine with md5. Adds `cluster_id`, `keep` and `split`
    * ("train" / "val" / "test"). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       trainFrac: Double, valFrac: Double,
                       maxIterations: Int = 20): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1.0,
      "fractions must be positive and leave room for the test split")
    val u = (Sketches.hash60(col("cluster_id")).cast("double") + 1.0) /
      math.pow(2.0, 60)
    resolveClusters(docs, idCol, pairs, maxIterations)
      .withColumn("split",
        when(u < trainFrac, lit("train"))
          .when(u < trainFrac + valFrac, lit("val"))
          .otherwise(lit("test")))
  }
}
