package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, TextOps}

/** Deduplication family: exact/normalized/paragraph, n-gram Jaccard, MinHash+LSH, SimHash, containment, winnowing, edit-distance verify, URL canonicalization, dup matrices, cluster resolution, incremental/split index screens, perceptual image dHash.
  *
  * Split from the monolithic TrainingData registry by domain (round
  * 10, maintainability only): every query's Spark definition and its
  * DuckDB oracle SQL live in THIS file, in the same key order, so a
  * semantics change cannot land on one side without the other being
  * one screen away. Registered through [[TrainingData]]. */
private[graft] object TrainingDedup {
  import TrainingShared._

  // q147 planted license blocks: A = P+Q, B = Q+R overlap only in the
  // ≥50-char core Q; a third class flanks Q with per-doc-unique text.
  private[graft] val ExactSubstrP =
    "prelude words for the planted license block "
  private[graft] val ExactSubstrQ =
    "creative commons attribution share alike four point zero " +
      "international license applies to this content"
  private[graft] val ExactSubstrR =
    " with an appended suffix naming the original author"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact n-gram Jaccard near-dups over shared-shingle candidates.
    // the budget-derived cap (pairsPerRow 500 -> maxShingleFreq 1000,
    // Dedup.shingleCapForPairBudget) bounds the hot-shingle pair blow-up at
    // scale (f² rows per shingle shared by f docs); the oracle mirrors
    // the cap (HAVING COUNT(*) <= 1000 on the shingle block), so parity
    // is cap-exact at ANY SF — not just while no trigram's
    // doc-frequency exceeds the cap (max observed at sf0.1 is 25).
    "q22_ngram_jaccard" -> ((s, d) => {
      // repartition BEFORE the shingle kernel (the q130 doctrine):
      // the single-row-group scan runs the explode on ONE task
      Dedup.ngramJaccardBlocked(
          t(s, d, "documents").widenedScan,
          "doc_id", "text",
          threshold = 0.8, shingleSize = 3, maxShingleFreq = Dedup.shingleCapForPairBudget(500))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash+LSH candidate pairs (16 hashes, 4 bands of 4).
    "q23_minhash_lsh" -> ((s, d) => {
      // repartition BEFORE the minhash kernel (the q130 doctrine)
      Dedup.lshCandidatePairs(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", k = 16, bands = 4, shingleSize = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dups (md5-derived token bits → oracle-checkable;
    // the 4×16-bit block join is exact-recall at maxDistance 3 by
    // pigeonhole, so the oracle's all-pairs form agrees).
    "q24_simhash" -> ((s, d) => {
      Dedup.simhashNearDuplicates(t(s, d, "documents"), "doc_id", "text",
          maxDistance = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Exact dedup on NORMALIZED text (lowercase, punctuation stripped,
    // whitespace collapsed) — what real near-exact dedup hashes.
    "q45_normalized_dedup" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), Curation.normalizeText(col("text")).as("norm"))
        .groupBy(md5(col("norm")).as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // Near-dup cluster resolution: q23's LSH candidate pairs closed
    // into connected components (Dedup.connectedComponents) —
    // the step that turns pair DETECTION into an actually deduplicated
    // corpus: one survivor (`keep`) per transitive near-dup cluster.
    "q39_dedup_clusters" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // repartition BEFORE the minhash kernel (the q130 doctrine)
      val pairs = Dedup.lshCandidatePairs(
        docs.widenedScan, "doc_id", "text",
        k = 16, bands = 4, shingleSize = 3)
      Dedup.resolveClusters(docs.select(col("doc_id")), "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // The flagship dedup operator end-to-end: MinHash+LSH candidates →
    // exact-Jaccard verification → connected-components closure → ONE
    // survivor per cluster; output is the deduplicated corpus itself
    // (what a pipeline actually keeps).
    "q50_deduplicate" -> ((s, d) => {
      // repartition BEFORE the minhash/shingle kernels (q130 doctrine)
      Dedup.deduplicate(
          t(s, d, "documents").widenedScan,
          "doc_id", "text",
          threshold = 0.8, k = 16, bands = 4, shingleSize = 3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Paragraph-level exact dedup (CCNet-style): the corpus gets
    // deterministic paragraph boundaries (every 3 tokens — the
    // newline-free synthetic corpus needs synthesized structure; real
    // corpora pass the default \n split), then cross-doc repeated
    // paragraphs are dropped from every document.
    "q53_paragraph_dedup" -> ((s, d) => {
      // repartition BEFORE the paragraph explode (the q130 doctrine):
      // the single-row-group testdata parquet scans as ONE task
      val docs = t(s, d, "documents")
        .widenedScan
        .withColumn("ptext",
          regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n"))
      Dedup.paragraphDedup(docs, "doc_id", "ptext",
          splitPattern = "\n", minDocFreq = 2)
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("text_clean")).as("clean_hash"))
        .orderBy(col("doc_id"))
    }),

    // Duplicated-substring coverage (Lee et al. ExactSubstr at
    // 5-token-window grain): per doc, how much of it is a span that
    // also appears verbatim in ≥2 distinct documents — the
    // partial-copy signal whole-doc MinHash and paragraph-grain
    // md5 both miss. Interval-union semantics: overlapping hot
    // windows never double-count a token.
    "q80_dup_spans" -> ((s, d) => {
      // repartition BEFORE the tokenize+window-hash explode (the q130
      // doctrine): the single-row-group testdata parquet scans as ONE
      // task and the explode — q80's largest stage, measured 605 ms
      // single-task — runs serial without it. At real scale the scan
      // splits naturally and the session width keeps this the normal
      // fan-out.
      Dedup.duplicateSpans(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", windowTokens = 5, minDocFreq = 2)
        .orderBy(col("doc_id"))
    }),

    // The q80 signal turned into Lee et al.'s actual intervention:
    // delete every token covered by a cross-doc-hot 5-token window,
    // reassemble survivors in order (tokenizer-normalized re-join).
    "q81_remove_dup_spans" -> ((s, d) => {
      // same single-split accommodation as q80 — see the note there
      Dedup.removeDuplicateSpans(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", windowTokens = 5, minDocFreq = 2)
        .orderBy(col("doc_id"))
    }),

    // BYTE-grain ExactSubstr (Lee et al.'s actual 50-byte definition;
    // q80 stays the token-grain approximation): planted license
    // blocks exercise PARTIAL overlap — A = P+Q docs and B = Q+R docs
    // share only the Q core; a third class carries Q between
    // per-doc-unique flanks, so its covered_bytes must be exactly the
    // shared region's, byte for byte. Spark runs the two-stage
    // winnow-anchor + in-region stride-1 refinement; the oracle
    // replays the GLOBAL stride-1 definition — equality is the proof
    // the refinement loses nothing (the Dedup.duplicateSpansBytes
    // scaladoc's theorem, tested).
    "q147_exactsubstr_bytes" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + ExactSubstrP + ExactSubstrQ)))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" " + ExactSubstrQ + ExactSubstrR)))
        .when(col("doc_id") % 7 === 5,
          concat(lit("zz"), col("doc_id"), lit(" " + ExactSubstrQ + " yy"),
            col("doc_id")))
        .otherwise(col("text")).as("text"))
      Dedup.duplicateSpansBytes(aug, "doc_id", "text",
          minRun = 50, k = 32, minDocFreq = 2)
        .orderBy(col("doc_id"))
    }),

    // q147's signal turned into Lee et al.'s intervention at the
    // paper's own grain: delete every character covered by a
    // cross-doc-hot 50-char window and splice survivors byte-exactly
    // (clean docs return VERBATIM by construction — no token-grain
    // re-join normalization). Same planted corpus as q147, so the
    // A-class loses its whole appended block, the B-class its block,
    // and the unique-flank class exactly the shared core.
    "q148_remove_exactsubstr" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" " + ExactSubstrP + ExactSubstrQ)))
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" " + ExactSubstrQ + ExactSubstrR)))
        .when(col("doc_id") % 7 === 5,
          concat(lit("zz"), col("doc_id"), lit(" " + ExactSubstrQ + " yy"),
            col("doc_id")))
        .otherwise(col("text")).as("text"))
      Dedup.removeDuplicateSpansBytes(aug, "doc_id", "text",
          minRun = 50, k = 32, minDocFreq = 2)
        .orderBy(col("doc_id"))
    }),

    // LSH parameter audit: measured precision/recall of 2/4/8-band
    // MinHash candidates against exact-Jaccard ≥ 0.8 ground truth —
    // the band config for the 100 TB dedup run, chosen on data.
    "q91_lsh_audit" -> ((s, d) => {
      // repartition BEFORE the shingle/minhash kernels (the q130
      // doctrine): the single-row-group scan otherwise runs both the
      // truth-set explode and the signature pass on ONE task
      Dedup.lshAudit(
          t(s, d, "documents").widenedScan,
          "doc_id", "text",
          k = 16, bandConfigs = Seq(2, 4, 8), shingleSize = 3,
          threshold = 0.8, maxShingleFreq = Dedup.shingleCapForPairBudget(500))
        .orderBy(col("bands"))
    }),

    // Asymmetric shingle containment (Broder): subset-duplication
    // pairs Jaccard can't see — either direction's |A∩B|/|A| over the
    // shared-shingle blocked pairs.
    "q103_containment" -> ((s, d) => {
      // repartition BEFORE the shingle kernel (the q130 doctrine)
      Dedup.containmentPairsBlocked(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Edit-distance verification of LSH candidates: byte-level
    // Levenshtein similarity on the q23 band-bucket pairs — the
    // order-SENSITIVE verifier (a sentence-shuffled copy passes
    // Jaccard, fails this). Cost is bounded twice: pairs by LSH
    // banding, per-pair DP by the maxChars cap.
    "q111_edit_verify" -> ((s, d) => {
      // repartition BEFORE the minhash kernel and the byte-decode
      // projection (the q130 doctrine): both ran single-task — 1.5 s
      // for the signature pass, 2 × 0.4 s for the per-join-side text
      // projections
      Dedup.editVerifiedPairs(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Winnowing (MOSS) fingerprint overlap: window-min-selected shingle
    // hashes — a 4×-smaller index than full shingles that still
    // guarantees any ≥ w+n−1-token clone shares a fingerprint.
    "q112_winnowing" -> ((s, d) => {
      // repartition BEFORE the winnow kernel (the q130 doctrine): the
      // fingerprint explode ran 716 ms single-task, twice (sizes branch)
      Dedup.winnowingOverlapPairs(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", n = 3, w = 4, minShared = 2L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // URL-level dedup: canonicalization (percent-escape decode +
    // hex-case, scheme/host case, default port, www, fragment,
    // trailing slash, tracking params, param order) collapses
    // crawl-variant URLs into dup groups. The documents table has no
    // URL column, so both engines BUILD the same messy synthetic URL
    // from doc_id — the canonicalizer, not the data, is what the
    // oracle checks. Escape variants: `/p%61th/` spells `/path/` for
    // id%8==0 rows (unreserved decode) and the constant `z` param
    // alternates `%2f`/`%2F` spellings (reserved escapes keep the
    // percent form but normalize hex case) — either rule missing
    // splits a dup group. IDN hosts are exercised in CorpusOpsSpec,
    // not here: punycode is not replayable in the oracle's SQL, and
    // the all-ASCII fast path guarantees these hosts byte-identical.
    "q115_url_dedup" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(
        lit("HTTP://"),
        when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Example-"), (id % 7).cast("string"), lit(".COM"),
        when(id % 2 === 0, lit(":80")).otherwise(lit("")),
        when(id % 8 === 0, lit("/p%61th/")).otherwise(lit("/path/")),
        (id % 50).cast("string"),
        when(id % 4 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b="), (id % 5).cast("string"), lit("&a=1"),
        when(id % 2 === 0, lit("&z=%2f")).otherwise(lit("&z=%2F")),
        when(id % 6 === 0, lit("&fbclid=xyz")).otherwise(lit("")),
        lit("#frag"))
      val canon = t(s, d, "documents")
        .select(id, TextOps.canonicalUrl(url).as("canonical_url"))
      val groups = canon.groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("rep_id"))
      canon.join(groups, Seq("canonical_url"))
        .select(col("doc_id"), col("canonical_url"), col("n_dups"),
          (col("doc_id") === col("rep_id")).as("is_rep"))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup against the PUBLISHED MinHash index: batch =
    // doc_id % 5 == 0, corpus = the rest; the old corpus is
    // represented only by its (band, bucket, sig) index rows —
    // verification is signature-estimated Jaccard, no old text read.
    "q117_incremental_dedup" -> ((s, d) => {
      // repartition BEFORE the minhash kernels (the q130 doctrine):
      // both side's signature passes ran single-task (1.15 s + 0.33 s)
      val docs = t(s, d, "documents")
        .widenedScan
      val index = Dedup.minhashBandIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      Dedup.dedupAgainstIndex(docs.filter(col("doc_id") % 5 === 0), index,
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("new_id"))
    }),

    // q117 through the SPLIT index layout: skinny (doc_id, band,
    // bucket) rows + one signature row per doc, signatures joined only
    // for candidates — verdict-identical to q117 by construction
    // (IndexProbe measured the combined layout's screens dominated by
    // the bands x-duplicated signature decode; this is the production
    // artifact shape, sources/SplitBandIndexStore).
    "q129_split_index_dedup" -> ((s, d) => {
      // repartition BEFORE the minhash kernels (the q130 doctrine)
      val docs = t(s, d, "documents")
        .widenedScan
      // one signature pass feeds both split frames (the store's shape)
      val sigs = Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 16)
        .select(col("id").as("doc_id"), col("sig"))
        .localCheckpoint(false)
      Dedup.dedupAgainstIndexSplit(docs.filter(col("doc_id") % 5 === 0),
          Dedup.bandRowsFromSigs(sigs, 4, 4), sigs,
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("new_id"))
    }),

    // Perceptual image hashing over REAL pixel decode: deterministic
    // 9x8 grayscale PNG fixtures (every pixel integer arithmetic in
    // (doc_id, x, y) — the q28 pattern for binary columns), encoded,
    // ImageIO-decoded, dHashed, and emitted as the 4 16-bit blocks the
    // Hamming-ball blocking uses. The oracle replays PNG encode →
    // decode → raster → bit packing from arithmetic alone — the whole
    // real pipeline is pinned bit-for-bit.
    "q130_image_dhash" -> ((s, d) => {
      // repartition BEFORE the encode/decode UDFs: the single-row-group
      // testdata parquet scans as ONE task, and without the exchange
      // the whole PNG encode + ImageIO decode pass runs single-threaded
      // (decode parallelism IS the frame's partitioning — the
      // dhashFrame scaladoc's contract, exercised here)
      val media = t(s, d, "documents")
        .widenedScan
        .select(col("doc_id").as("media_id"),
          graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(false)).as("bytes"))
      graft.ops.ImageHash.dhashFrame(media)
        .select(col("media_id"),
          col("dhash").bitwiseAND(lit(0xFFFFL)).as("b0"),
          shiftright(col("dhash"), 16).bitwiseAND(lit(0xFFFFL)).as("b1"),
          shiftright(col("dhash"), 32).bitwiseAND(lit(0xFFFFL)).as("b2"),
          shiftright(col("dhash"), 48).bitwiseAND(lit(0xFFFFL)).as("b3"))
        // materialization barrier BEFORE the final sort (r15): the
        // range partitioner's SAMPLE pass re-executes the sort's
        // child, so an unmaterialized decode projection runs twice —
        // measured 260 ms + 223 ms decode stages (5.0 s + 3.2 s CPU)
        // for one decode's work. A hash exchange of the 5-long skinny
        // rows materializes the decode output once; the sample then
        // reads shuffle files, not the UDF.
        .repartition(s.sparkContext.defaultParallelism, col("media_id"))
        .orderBy(col("media_id"))
    }),

    // Perceptual image NEAR-DUP pairs: every 17th document gets a
    // lightly-edited copy (one perturbed pixel → ≤ 2 dHash bits), the
    // corpus is screened with the 16-bit-block Hamming-ball machinery
    // (exact for distance ≤ 3 by pigeonhole — shared with SimHash,
    // ops/Dedup.hammingNearDupPairs), pairs verified in-bucket. The
    // oracle blocks and verifies the same way from the arithmetic
    // fixture; at both SFs the measured accidental-pair count between
    // distinct base images is zero, so the result is exactly the
    // planted copies with their true bit distances.
    "q131_image_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val base = docs.select(col("doc_id").as("media_id"),
        graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(false)).as("bytes"))
      val variants = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("media_id"),
          graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(true)).as("bytes"))
      graft.ops.ImageHash.nearDuplicates(base.unionByName(variants))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Perceptual AUDIO fingerprinting over REAL PCM decode: 65-frame
    // constant-amplitude WAV fixtures (frame mean = the arithmetic
    // amplitude), RIFF-walked, envelope-hashed (bit k = frame k+1
    // louder than frame k — dHash with "brighter" read as "louder"),
    // emitted as the 4 Hamming blocks. The oracle replays WAV encode →
    // RIFF walk → PCM read → envelope → bit packing from arithmetic
    // alone — the q130 convention for the audio column.
    "q132_audio_fingerprint" -> ((s, d) => {
      val media = t(s, d, "documents").select(col("doc_id").as("media_id"),
        graft.ops.AudioHash.fixtureWavUdf(col("doc_id"), lit(false)).as("bytes"))
      graft.ops.AudioHash.fingerprintFrame(media)
        .select(col("media_id"),
          col("ahash").bitwiseAND(lit(0xFFFFL)).as("b0"),
          shiftright(col("ahash"), 16).bitwiseAND(lit(0xFFFFL)).as("b1"),
          shiftright(col("ahash"), 32).bitwiseAND(lit(0xFFFFL)).as("b2"),
          shiftright(col("ahash"), 48).bitwiseAND(lit(0xFFFFL)).as("b3"))
        .orderBy(col("media_id"))
    }),

    // Perceptual audio NEAR-DUP pairs: every 17th recording gets a
    // re-levelled copy (one perturbed frame → ≤ 2 envelope bits), the
    // corpus screened with the SAME 16-bit-block Hamming-ball
    // machinery as text SimHash and image dHash. Measured accidental
    // pairs between distinct recordings: zero at both SFs.
    "q133_audio_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        // repartition BEFORE the container-build/decode UDFs (q130 doctrine)
        .widenedScan
      val base = docs.select(col("doc_id").as("media_id"),
        graft.ops.AudioHash.fixtureWavUdf(col("doc_id"), lit(false)).as("bytes"))
      val variants = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("media_id"),
          graft.ops.AudioHash.fixtureWavUdf(col("doc_id"), lit(true)).as("bytes"))
      graft.ops.AudioHash.nearDuplicates(base.unionByName(variants))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Perceptual VIDEO near-dup: a video's identity is its SET of
    // per-frame dHashes (real ISO-BMFF mdat walk; frames are raw 9x8
    // gray planes at arithmetic pattern ids pid = vid*131 + f), two
    // videos near-dup when frame-set Jaccard >= 0.8 — the q22
    // shared-shingle machinery with a frame hash as the shingle.
    // Every 17th video gets a one-scene-replaced copy (15/17 = 0.882);
    // accidental cross-video overlaps share one hash (1/31 = 0.032)
    // and filter out. The oracle replays container walk -> frame hash
    // -> set Jaccard from arithmetic alone.
    "q134_video_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        // repartition BEFORE the container-build/decode UDFs (q130 doctrine)
        .widenedScan
      // every third video ships FRAGMENTED (DASH/CMAF moof/mdat pairs,
      // 2-5 fragments) — the multi-mdat walk makes the fragment split
      // invisible to the hash set, so the oracle replay is unchanged
      val base = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0,
            graft.ops.VideoHash.fixtureFragmentedMp4Udf(col("doc_id"),
              (col("doc_id") % 4 + 2).cast("int"), lit(false)))
          .otherwise(graft.ops.VideoHash.fixtureMp4Udf(col("doc_id"),
            lit(false))).as("bytes"))
      val variants = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("media_id"),
          graft.ops.VideoHash.fixtureMp4Udf(col("doc_id"), lit(true)).as("bytes"))
      graft.ops.VideoHash.nearDuplicates(base.unionByName(variants), threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // END-TO-END media dedup — the q50 story for images: dHash pairs
    // (Hamming-ball blocking + in-bucket verify) → connected components
    // → keep the smallest id per cluster. Every 17th doc gets TWO
    // perturbed copies (identical to each other), so clusters are
    // triangles {base, v1, v2} — CC closure beyond single edges — and
    // the survivor frame reports n_dups_removed per surviving image
    // (absence is not silence: unclustered docs survive with 0).
    "q136_image_dedup_end2end" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val base = docs.select(col("doc_id").as("media_id"),
        graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(false)).as("bytes"))
      def variants(offset: Long) = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(offset)).as("media_id"),
          graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(true)).as("bytes"))
      val media = base.unionByName(variants(1000000000L))
        .unionByName(variants(2000000000L))
      val pairs = graft.ops.ImageHash.nearDuplicates(media)
        .select(col("id_a"), col("id_b"))
      Dedup.resolveClusters(media.select(col("media_id")), "media_id", pairs)
        .groupBy(col("cluster_id"))
        .agg(min(col("media_id")).as("media_id"),
          (count(lit(1)) - 1).as("n_dups_removed"))
        .select(col("media_id"), col("n_dups_removed"))
        .orderBy(col("media_id"))
    }),

    // Incremental PERCEPTUAL dedup — the q117 ingestion gate for
    // media: history is represented only by its published hash-block
    // rows (sources/HashIndexStore; 4 x 16 bytes per doc), a new
    // batch screens with one hash pass + one co-located join, and the
    // 8-byte hashes riding the index rows make verification exact
    // IN-join. Batch docs at doc_id % 10 == 0 carry a perturbed copy
    // of an indexed image (id+1, always indexed since id+1 % 5 == 1);
    // the rest are novel. Absence is not silence.
    "q135_image_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val idx = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("media_id"),
          graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(false)).as("bytes"))
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("media_id"),
          graft.ops.ImageHash.fixturePngUdf(
            when(col("doc_id") % 10 === 0, col("doc_id") + 1)
              .otherwise(col("doc_id")),
            col("doc_id") % 10 === 0).as("bytes"))
      // checkpoints keep the decode UDF out of the block expressions
      // (project-collapse would clone it ~5x — the q131 lesson)
      val indexBlocks = Dedup.hashBlockRows(
        graft.ops.ImageHash.dhashFrame(idx).localCheckpoint(false),
        "media_id", "dhash")
      Dedup.hammingDedupAgainstIndex(
          graft.ops.ImageHash.dhashFrame(batch).localCheckpoint(false),
          indexBlocks, "media_id", "dhash")
        .orderBy(col("new_id"))
    }),

    // CROSS-MODALITY near-dup: still images screened against VIDEO
    // FRAMES — both sides hash into the same 64-bit dHash space, so
    // the pairing is the shared Hamming-block machinery. Videos carry
    // frames at pattern ids (doc+1e7)*131 + f (the offset keeps plain
    // image patterns out of the frame-pattern space except where
    // planted); every 17th doc plants a one-pixel-edited still of its
    // video's frame doc%16. Accidental few-bit pattern coincidences
    // exist (139 at sf0.1 — measured) and are DETERMINISTIC: the
    // oracle replays the identical arithmetic, so they are pinned
    // rows, not noise.
    "q137_image_video_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val videos = docs.select(col("doc_id").as("media_id"),
        graft.ops.VideoHash.fixtureMp4Udf(col("doc_id") + lit(10000000L),
          lit(false)).as("bytes"))
      val images = docs.select(col("doc_id").as("media_id"),
          graft.ops.ImageHash.fixturePngUdf(col("doc_id"), lit(false)).as("bytes"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(1000000000L)).as("media_id"),
            graft.ops.ImageHash.fixturePngUdf(
              (col("doc_id") + lit(10000000L)) * lit(131L) + col("doc_id") % 16,
              lit(true)).as("bytes")))
      graft.ops.MediaDedup.imageVideoPairs(images, videos)
        .orderBy(col("image_id"), col("video_id"))
    }),

    // TIME-SHIFT-ROBUST audio near-dup: the whole-file envelope hash
    // (q132/q133) misses trimmed copies — every frame boundary
    // shifts. The windowed fingerprint hashes hop-1 windows of 65
    // fixed 10 ms frames, so a copy trimmed by whole frames keeps all
    // interior window hashes; identity = window-hash SET, near-dup =
    // exact set Jaccard (the video frame-set kernel). Every 17th
    // recording gets a copy with its first doc%8+1 frames cut →
    // Jaccard (64−k)/64 ∈ [0.875, 0.984]. Measured at 5 k recordings:
    // zero accidental pairs, zero within-file duplicate windows.
    "q138_audio_windowed_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        // repartition BEFORE the container-build/decode UDFs (q130 doctrine)
        .widenedScan
      val base = docs.select(col("doc_id").as("media_id"),
        graft.ops.AudioHash.fixtureWavTrimmedUdf(col("doc_id"), lit(0)).as("bytes"))
      val trimmed = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("media_id"),
          graft.ops.AudioHash.fixtureWavTrimmedUdf(col("doc_id"),
            (col("doc_id") % 8 + 1).cast("int")).as("bytes"))
      graft.ops.AudioHash.nearDuplicatesWindowed(base.unionByName(trimmed),
          threshold = 0.85)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Incremental FRAME-SET dedup — the q135 ingestion gate for VIDEO:
    // history is represented only by its published (id, fhash, n)
    // rows (sources/FrameSetIndexStore — the streaming FrameSetStore
    // layout, so batch gate and streaming sink share one table); a
    // new batch screens with one decode pass + one batch-pruned
    // co-located probe join. Batch docs at doc_id % 10 == 0 carry a
    // one-scene-replaced copy of indexed video id+1 (J = 15/17); the
    // rest are novel (accidental overlaps ≤ 1 shared frame, J ≤ 1/31,
    // filtered). Absence is not silence.
    "q139_video_index_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val idx = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("media_id"),
          graft.ops.VideoHash.fixtureMp4Udf(col("doc_id"), lit(false)).as("bytes"))
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("media_id"),
          graft.ops.VideoHash.fixtureMp4Udf(
            when(col("doc_id") % 10 === 0, col("doc_id") + 1)
              .otherwise(col("doc_id")),
            col("doc_id") % 10 === 0).as("bytes"))
      val indexRows = graft.ops.VideoHash.frameHashFrame(idx)
        .withColumn("n", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("media_id"))))
        .select(col("media_id").as("id"), col("fhash"), col("n"))
      Dedup.frameSetDedupAgainstIndex(
          graft.ops.VideoHash.frameHashFrame(batch), indexRows)
        .orderBy(col("new_id"))
    }),

    // INCREMENTAL cluster maintenance — the q117/q135/q139 gates tell
    // you WHICH new docs duplicate history; this keeps the cluster
    // ASSIGNMENT current: fold the batch's pairs (any endpoint at
    // doc_id % 5 == 0) into the published labeling of the old corpus'
    // pairs without relabeling it. Cost bounds by touched components;
    // the oracle is the FULL recompute over all pairs — the identity
    // updateClusters(cc(E1), E2) ≡ cc(E1 ∪ E2) checked end-to-end on
    // real simhash pairs (the q24 edge set).
    "q140_incremental_clusters" -> ((s, d) => {
      val pairs = Dedup.simhashNearDuplicates(t(s, d, "documents"),
          "doc_id", "text", maxDistance = 3)
        .select(col("id_a"), col("id_b")).localCheckpoint(false)
      val oldPairs = pairs.filter(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
      val newPairs = pairs.filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      Dedup.updateClusters(Dedup.connectedComponents(oldPairs), newPairs)
        .orderBy(col("id"))
    }),

    // CROSS-modality audio near-dup — the q137 story for SOUND: which
    // standalone recordings are (trim-robustly) the soundtrack of
    // which videos. Videos carry their audio track as a RIFF mdat
    // (the mdat-per-track container contract); the track extracts
    // byte-identical and fingerprints through the SAME windowed-hash
    // arithmetic standalone recordings use, so the pairing is the
    // shared cross-side set-Jaccard kernel. Every 17th doc's
    // soundtrack reappears as a standalone recording trimmed by
    // doc%8+1 frames → J = (64−k)/64 ≥ 0.875; every doc also has an
    // unrelated recording (pid +7e6) as the noise population.
    "q141_soundtrack_neardup" -> ((s, d) => {
      // repartition BEFORE the container-build + PCM-decode UDFs (the
      // q130 doctrine): the single-row-group scan ran each side's
      // decode on 1-2 tasks
      val docs = t(s, d, "documents").select(col("doc_id"))
        .widenedScan
      val videos = docs.select(col("doc_id").as("media_id"),
        graft.ops.VideoHash.fixtureMp4WithAudioUdf(col("doc_id"),
          col("doc_id") + lit(5000000L), lit(false)).as("bytes"))
      val recordings = docs.select(col("doc_id").as("media_id"),
          graft.ops.AudioHash.fixtureWavTrimmedUdf(col("doc_id") + lit(7000000L),
            lit(0)).as("bytes"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(1000000000L)).as("media_id"),
            graft.ops.AudioHash.fixtureWavTrimmedUdf(col("doc_id") + lit(5000000L),
              (col("doc_id") % 8 + 1).cast("int")).as("bytes")))
      graft.ops.AudioHash.soundtrackNearDupPairs(videos, recordings,
          threshold = 0.85)
        .orderBy(col("video_id"), col("audio_id"))
    }),

    // KEYFRAME-SET ingestion gate — q142's sampling feeding q139's
    // gate: video identity = scene KEYFRAMES (~4.5× fewer rows than
    // the frame set at the same scene-level robustness), screened by
    // the SAME frameSetDedupAgainstIndex machinery. Every 10th batch
    // doc is a one-scene-replaced copy of indexed video doc+1 —
    // always ODD, so n ∈ {3, 5} here and planted J = (n−1)/(n+1) ∈
    // {1/2, 2/3}; the 0.3 threshold is set against the 2-scene worst
    // case J = 1/3, which the OpsSpec gate test exercises explicitly
    // (a replaced scene moves a WHOLE keyframe, unlike one frame of
    // sixteen). The oracle replays the REAL consecutive-Hamming cut
    // walk (q142's machinery) before deriving keyframes, so an
    // adjacent-scene collision within the cut threshold merges
    // identically on both sides.
    "q145_keyframe_gate" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val idx = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("media_id"),
          graft.ops.VideoHash.fixtureSceneMp4Udf(col("doc_id")).as("bytes"))
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("media_id"),
          when(col("doc_id") % 10 === 0,
            graft.ops.VideoHash.fixtureSceneVariantUdf(col("doc_id") + 1))
          .otherwise(graft.ops.VideoHash.fixtureSceneMp4Udf(col("doc_id")))
          .as("bytes"))
      val indexRows = graft.ops.VideoHash.keyframeSet(idx)
        .withColumn("n", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("media_id"))))
        .select(col("media_id").as("id"), col("fhash"), col("n"))
      Dedup.frameSetDedupAgainstIndex(
          graft.ops.VideoHash.keyframeSet(batch), indexRows, threshold = 0.3)
        .orderBy(col("new_id"))
    }),

    // MEMBER REMOVAL (takedown/retention) from a published clustering
    // — the split q140 cannot express: removing doc_id % 7 == 3 docs
    // can break a component apart and can remove the min id a cluster
    // is named after, so labels may INCREASE (which is why the
    // append-only LabelStore handles removal as a compact-style
    // rewrite, never an append). removeMembers relabels only the
    // TOUCHED components from pairs re-derived among survivors (here
    // the checkpointed edge list filtered to surviving endpoints; in
    // production the published hash index — no payload re-read);
    // untouched clusters pass through unread. Output ≡ the one-shot
    // cc over survivor-only pairs, self-labels for survivors whose
    // component dissolved.
    "q144_member_removal" -> ((s, d) => {
      val pairs = Dedup.simhashNearDuplicates(t(s, d, "documents"),
          "doc_id", "text", maxDistance = 3)
        .select(col("id_a"), col("id_b")).localCheckpoint(false)
      val labels = Dedup.connectedComponents(pairs)
      val removed = t(s, d, "documents").filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"))
      Dedup.removeMembers(labels, removed, ms =>
          pairs.join(ms.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
            .join(ms.select(col("id").as("id_b")), Seq("id_b"), "left_semi"))
        .orderBy(col("id"))
    }),

    // RESAMPLE-robust audio near-dup: the q138 windowed fingerprint
    // with TIME-fixed framing (10 ms on cumulative ⌊j·rate/100⌋
    // boundaries at the container's DECLARED rate) — a 44.1 kHz
    // re-encode of a 16 kHz recording frames the same wall-clock
    // intervals, so its window hashes are identical; 22.05 kHz is the
    // drift rate a truncated rate/100 grid would miss. Every 13th
    // doc's recording reappears resampled to 8 k/22.05 k/32 k/
    // 44.1 kHz (by doc%4) AND trimmed by doc%4 frames →
    // J = (64−k)/64 ∈ {1, .98, .97, .95}. The ORACLE never sees a
    // rate: time-fixed framing makes the hash rate-invariant, so the
    // replay is pure frame-amplitude arithmetic while the Spark side
    // really decodes four different containers.
    "q143_resampled_audio_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        // repartition BEFORE the container-build/decode UDFs (q130 doctrine)
        .widenedScan
      val base = docs.select(col("doc_id").as("media_id"),
        graft.ops.AudioHash.fixtureWavTrimmedUdf(col("doc_id"), lit(0)).as("bytes"))
      val rate = when(col("doc_id") % 4 === 0, lit(8000))
        .when(col("doc_id") % 4 === 1, lit(22050))
        .when(col("doc_id") % 4 === 2, lit(32000))
        .otherwise(lit(44100))
      val variants = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("media_id"),
          graft.ops.AudioHash.fixtureWavResampledUdf(col("doc_id"),
            (col("doc_id") % 4).cast("int"), rate).as("bytes"))
      graft.ops.AudioHash.nearDuplicatesWindowed(base.unionByName(variants),
          threshold = 0.85)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // CONTENT-AWARE frame sampling: scene segmentation by consecutive
    // frame-dHash Hamming distance (cut when > 4 bits; within a scene
    // the fixture's single-pixel jitter drifts ≤ 2 bits — re-encode
    // drift; a cut swaps the whole pattern). One keyframe per scene
    // replaces one-frame-per-N sampling: static shots stop
    // over-contributing and every composition survives. The scene
    // walk is FUSED into the decode UDF, so the operator is
    // shuffle-free — scene rows are emitted by the task that decoded
    // the video. The oracle replays pixels → bits → per-frame hashes
    // → consecutive Hamming → cuts → running-sum scene ids →
    // segments, entirely from (doc_id, frame) arithmetic.
    "q142_scene_segments" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val media = docs.select(col("doc_id").as("media_id"),
        graft.ops.VideoHash.fixtureSceneMp4Udf(col("doc_id")).as("bytes"))
      graft.ops.VideoHash.sceneSegments(media, threshold = 4)
        .select(col("media_id"),
          col("scene").cast("long").as("scene"),
          col("start_frame").cast("long").as("start_frame"),
          col("n_frames").cast("long").as("n_frames"),
          col("key_hash").bitwiseAND(lit(0xFFFFL)).as("b0"),
          shiftright(col("key_hash"), 16).bitwiseAND(lit(0xFFFFL)).as("b1"),
          shiftright(col("key_hash"), 32).bitwiseAND(lit(0xFFFFL)).as("b2"),
          shiftright(col("key_hash"), 48).bitwiseAND(lit(0xFFFFL)).as("b3"))
        .orderBy(col("media_id"), col("scene"))
    }),

    // Cross-source exact-duplication matrix: which source pairs share
    // verbatim texts, and how much document mass sits on each side —
    // the provenance/priority table before a cross-source dedup run.
    // The synthetic corpus has natural cross-source dups only at
    // sf0.1, so both engines union the same planted mirror docs (the
    // q47 planted-fixture discipline) — the matrix is exercised at
    // every SF and the natural sf0.1 pairs still flow through.
    "q121_dup_matrix" -> ((s, d) => {
      import s.implicits._
      val planted = MirrorDocs.toDF("source", "text")
      Dedup.crossSourceDupMatrix(
          t(s, d, "documents").select(col("source"), col("text"))
            .unionByName(planted),
          "source", "text")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Cross-source NEAR-dup matrix: verified near-dup pairs by
    // unordered source pair with order-free mean Jaccard — the fuzzy
    // counterpart of q121 (light edits and template reuse show here).
    "q123_neardup_matrix" -> ((s, d) => {
      // repartition BEFORE the minhash/shingle kernels (q130 doctrine)
      Dedup.crossSourceNearDupMatrix(
          t(s, d, "documents").widenedScan,
          "doc_id", "source", "text", threshold = 0.8)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Quality-aware dedup: keep the highest-quality doc of each
    // near-dup cluster (type-token-ratio milli score; tie = smallest
    // id) — "keep best, not first".
    "q124_quality_dedup" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      val docs = t(s, d, "documents").select(col("doc_id"),
        (lit(1000L) * size(array_distinct(toks)) /
          greatest(size(toks), lit(1))).cast("long").as("quality_milli"))
      // repartition BEFORE the minhash/shingle kernels (q130 doctrine)
      val pairs = Dedup.nearDuplicates(
          t(s, d, "documents").widenedScan,
          "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      Dedup.resolveClustersByQuality(docs, "doc_id", "quality_milli", pairs)
        .select(col("doc_id"), col("cluster_id"), col("quality_milli"),
          col("keep"))
        .orderBy(col("doc_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q22_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |-- mirror of the Spark side's budget-derived cap (pairsPerRow 500 -> 1000) blocking
         |-- cap (no-op at test SFs, cap-exact at any SF)
         |ok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  JOIN ok ON a.s = ok.s GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(inter::DOUBLE / (s1.n + s2.n - inter), 6) AS jaccard
         |FROM pairs JOIN sizes s1 ON id_a = s1.doc_id JOIN sizes s2 ON id_b = s2.doc_id
         |WHERE inter::DOUBLE / (s1.n + s2.n - inter) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "q23_minhash_lsh" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "q45_normalized_dedup" ->
      """SELECT md5(norm) AS norm_hash, min(doc_id) AS keep_id,
        |  count(*)::BIGINT AS n_copies
        |FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |  '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm FROM documents)
        |GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // q39: q23's pair derivation + a recursive reachability closure;
    // min(m) over everything reachable from n = the component min label.
    "q39_dedup_clusters" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.n, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |labels AS (SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n)
         |SELECT d.doc_id, COALESCE(l.cluster, d.doc_id)::BIGINT AS cluster_id,
         |  d.doc_id = COALESCE(l.cluster, d.doc_id) AS keep
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q24_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tk FROM documents),
         |th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 16))::UBIGINT AS h FROM tok),
         |votes AS (
         |  -- left join from documents: a zero-token doc keeps all-zero
         |  -- bits (simhash 0), matching the Spark expression
         |  SELECT d.doc_id, i, SUM(CASE WHEN (th.h >> i::INT) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM documents d CROSS JOIN range(64) t(i)
         |  LEFT JOIN th ON th.doc_id = d.doc_id
         |  GROUP BY d.doc_id, i),
         |packed AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN v > 0 AND i < 32 THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT AS lo,
         |    SUM(CASE WHEN v > 0 AND i >= 32 THEN (1::BIGINT << (i::INT - 32)) ELSE 0 END)::BIGINT AS hi
         |  FROM votes GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    bit_count(xor(a.lo, b.lo))::INT + bit_count(xor(a.hi, b.hi))::INT AS hamming
         |  FROM packed a JOIN packed b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    // q50: q39's candidate derivation + a jaccard gate on the pairs
    // before the reachability closure; survivors are docs that ARE
    // their component's min label.
    "q50_deduplicate" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |verified AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
         |  JOIN sizes s1 ON c.id_a = s1.doc_id JOIN sizes s2 ON c.id_b = s2.doc_id
         |  WHERE inter.i::DOUBLE / (s1.n + s2.n - inter.i) >= 0.8),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach(n, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.n, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |labels AS (SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n)
         |SELECT d.doc_id, d.lang
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |WHERE d.doc_id = COALESCE(l.cluster, d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q53: paragraph boundaries synthesized every 3 tokens (RE2 and
    // java.util.regex segment this pattern identically), then cross-doc
    // repeated paragraphs (md5 groups, distinct-doc count >= 2) drop
    // from every doc; survivors re-join in original order.
    "q53_paragraph_dedup" ->
      """WITH p0 AS (SELECT doc_id,
        |  string_split(regexp_replace(text, '(\S+ \S+ \S+) ', '\1' || chr(10), 'g'),
        |    chr(10)) AS l FROM documents),
        |paras AS (SELECT doc_id, unnest(l) AS para,
        |  generate_subscripts(l, 1) AS ix FROM p0),
        |pp AS (SELECT * FROM paras WHERE para <> ''),
        |hot AS (SELECT md5(para) AS h FROM pp GROUP BY md5(para)
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |kept AS (SELECT pp.doc_id, pp.para, pp.ix FROM pp
        |  LEFT JOIN hot ON md5(pp.para) = hot.h WHERE hot.h IS NULL),
        |np AS (SELECT doc_id, COUNT(*) AS n_paras FROM pp GROUP BY doc_id),
        |k AS (SELECT doc_id, COUNT(*) AS n_kept,
        |  string_agg(para, chr(10) ORDER BY ix) AS txt FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(np.n_paras, 0)::BIGINT AS n_paras,
        |  COALESCE(k.n_kept, 0)::BIGINT AS n_kept,
        |  md5(COALESCE(k.txt, '')) AS clean_hash
        |FROM documents d
        |LEFT JOIN np ON d.doc_id = np.doc_id
        |LEFT JOIN k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Window hash = md5 of the space-joined 5-token slice — identical
    // bytes in both engines (slice is 1-based-inclusive t[i+1:i+5] here,
    // slice(t, i+1, 5) in Spark). Interval union via lag: first hot
    // window in a doc contributes 5 tokens, each later one
    // min(5, pos - prev). generate_series descends-to-empty on short
    // docs, mirroring the Spark-side size guard.
    "q80_dup_spans" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $tokensSql AS t FROM documents),
         |wins AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, md5(array_to_string(t[i+1:i+5], ' ')) AS h
         |  FROM toks, unnest(generate_series(0, len(t)-5)) AS u(i)),
         |hot AS MATERIALIZED (
         |  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         |hw AS (
         |  SELECT w.doc_id, w.pos,
         |    lag(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS prev
         |  FROM wins w JOIN hot USING (h)),
         |cov AS (
         |  SELECT doc_id, COUNT(*)::BIGINT AS n_dup_windows,
         |    SUM(CASE WHEN prev IS NULL THEN 5
         |             ELSE least(5, pos - prev) END)::BIGINT AS covered_tokens
         |  FROM hw GROUP BY doc_id)
         |SELECT tk.doc_id, len(tk.t)::BIGINT AS n_tokens,
         |  greatest(len(tk.t) - 4, 0)::BIGINT AS n_windows,
         |  COALESCE(c.n_dup_windows, 0)::BIGINT AS n_dup_windows,
         |  COALESCE(c.covered_tokens, 0)::BIGINT AS covered_tokens,
         |  round(COALESCE(c.covered_tokens, 0)::DOUBLE
         |        / greatest(len(tk.t), 1), 6) AS dup_frac
         |FROM toks tk LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q80's window/hot CTEs, then per-token coverage by running max of
    // (hot-start pos + 5) over preceding positions — a token at p is
    // removed iff that max exceeds p; survivors re-join with single
    // spaces (string_agg skips the removed tokens' NULLs, ORDER BY p
    // preserves document order).
    "q81_remove_dup_spans" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $tokensSql AS t FROM documents),
         |wins AS MATERIALIZED (
         |  SELECT doc_id, i AS pos, md5(array_to_string(t[i+1:i+5], ' ')) AS h
         |  FROM toks, unnest(generate_series(0, len(t)-5)) AS u(i)),
         |hot AS MATERIALIZED (
         |  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         |hs AS MATERIALIZED (
         |  SELECT w.doc_id, w.pos FROM wins w JOIN hot USING (h)),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, i AS p, t[i+1] AS tok
         |  FROM toks, unnest(generate_series(0, len(t)-1)) AS u(i)),
         |cov AS (
         |  SELECT tk.doc_id, tk.p, tk.tok,
         |    max(CASE WHEN hs.pos IS NOT NULL THEN hs.pos + 5 END)
         |      OVER (PARTITION BY tk.doc_id ORDER BY tk.p) AS ce
         |  FROM tok tk LEFT JOIN hs ON hs.doc_id = tk.doc_id AND hs.pos = tk.p),
         |agg AS (
         |  SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
         |    SUM(CASE WHEN ce > p THEN 1 ELSE 0 END)::BIGINT AS n_removed,
         |    COALESCE(string_agg(CASE WHEN ce IS NULL OR ce <= p THEN tok END,
         |      ' ' ORDER BY p), '') AS text_clean
         |  FROM cov GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(a.n_tokens, 0)::BIGINT AS n_tokens,
         |  COALESCE(a.n_removed, 0)::BIGINT AS n_removed,
         |  CASE WHEN COALESCE(a.n_removed, 0) = 0 THEN COALESCE(d.text, '')
         |       ELSE a.text_clean END AS text_clean
         |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q147: the GLOBAL stride-1 byte definition — every 50-char
    // window md5, cross-doc-hot set, interval union via lag (q80's
    // machinery at byte grain). The Spark side's winnow-anchored
    // two-stage refinement must land on identical rows.
    "q147_exactsubstr_bytes" ->
      s"""WITH aug AS MATERIALIZED (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 7 = 0 THEN text || ' $ExactSubstrP$ExactSubstrQ'
         |    WHEN doc_id % 7 = 3 THEN text || ' $ExactSubstrQ$ExactSubstrR'
         |    WHEN doc_id % 7 = 5 THEN 'zz' || doc_id || ' $ExactSubstrQ yy' || doc_id
         |    ELSE text END AS text
         |  FROM documents),
         |w AS MATERIALIZED (
         |  SELECT doc_id, i AS p, md5(substr(text, i + 1, 50)) AS h
         |  FROM aug, unnest(generate_series(0, length(text) - 50)) AS u(i)),
         |hot AS MATERIALIZED (
         |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |hs AS (
         |  SELECT w.doc_id, w.p,
         |    lag(w.p) OVER (PARTITION BY w.doc_id ORDER BY w.p) AS prev
         |  FROM w JOIN hot USING (h)),
         |cov AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_dup_windows,
         |    sum(CASE WHEN prev IS NULL THEN 50
         |             ELSE least(50, p - prev) END)::BIGINT AS covered_bytes
         |  FROM hs GROUP BY doc_id)
         |SELECT a.doc_id, length(a.text)::BIGINT AS n_chars,
         |  COALESCE(c.n_dup_windows, 0)::BIGINT AS n_dup_windows,
         |  COALESCE(c.covered_bytes, 0)::BIGINT AS covered_bytes,
         |  round(COALESCE(c.covered_bytes, 0)::DOUBLE
         |        / greatest(length(a.text), 1), 6) AS dup_frac
         |FROM aug a LEFT JOIN cov c USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    // q148: q147's global hot-start set, merged into removed islands
    // (gaps-and-islands over hot starts: a start > 50 past its
    // predecessor opens an interval), kept gaps spliced back with
    // per-island substrings plus the tail — byte-identical rewrite.
    "q148_remove_exactsubstr" ->
      s"""WITH aug AS MATERIALIZED (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 7 = 0 THEN text || ' $ExactSubstrP$ExactSubstrQ'
         |    WHEN doc_id % 7 = 3 THEN text || ' $ExactSubstrQ$ExactSubstrR'
         |    WHEN doc_id % 7 = 5 THEN 'zz' || doc_id || ' $ExactSubstrQ yy' || doc_id
         |    ELSE text END AS text
         |  FROM documents),
         |w AS MATERIALIZED (
         |  SELECT doc_id, i AS p, md5(substr(text, i + 1, 50)) AS h
         |  FROM aug, unnest(generate_series(0, length(text) - 50)) AS u(i)),
         |hot AS MATERIALIZED (
         |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |hs AS (SELECT DISTINCT w.doc_id, w.p FROM w JOIN hot USING (h)),
         |brk AS (
         |  SELECT doc_id, p,
         |    CASE WHEN lag(p) OVER win IS NULL OR p - lag(p) OVER win > 50
         |         THEN 1 ELSE 0 END AS b
         |  FROM hs WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
         |grp AS (
         |  SELECT doc_id, p,
         |    sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS g
         |  FROM brk),
         |isl AS (
         |  SELECT doc_id, g, min(p) AS s, max(p) + 50 AS e
         |  FROM grp GROUP BY 1, 2),
         |gaps AS (
         |  SELECT doc_id, s, e,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
         |  FROM isl),
         |spl AS (
         |  SELECT g.doc_id, sum(g.e - g.s)::BIGINT AS n_removed_bytes,
         |    max(g.e) AS last_e,
         |    string_agg(substr(a.text, (g.pe + 1)::INT, (g.s - g.pe)::INT),
         |      '' ORDER BY g.s) AS head_kept
         |  FROM gaps g JOIN aug a USING (doc_id) GROUP BY g.doc_id)
         |SELECT a.doc_id, length(a.text)::BIGINT AS n_chars,
         |  coalesce(s.n_removed_bytes, 0)::BIGINT AS n_removed_bytes,
         |  CASE WHEN s.last_e IS NULL THEN a.text
         |       ELSE coalesce(s.head_kept, '') || substr(a.text, (s.last_e + 1)::INT)
         |  END AS text_clean
         |FROM aug a LEFT JOIN spl s USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    // q91: q22's capped exact-Jaccard truth + q23's minhash bands at
    // three configs; MATERIALIZED because truth/mh are read per config.
    "q91_lsh_audit" -> {
      val bandCtes = Seq(2, 4, 8).map { b =>
        val rpb = 16 / b
        s"""bt$b AS MATERIALIZED (
           |  SELECT doc_id, i // $rpb AS band,
           |         md5(string_agg(m, '|' ORDER BY i)) AS bucket
           |  FROM mh GROUP BY doc_id, i // $rpb)""".stripMargin
      }.mkString(",\n")
      val candSelects = Seq(2, 4, 8).map { b =>
        s"""SELECT $b AS bands, a.doc_id AS id_a, b.doc_id AS id_b
           |FROM bt$b a JOIN bt$b b
           |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
           |GROUP BY 1, 2, 3""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |ok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  JOIN ok ON a.s = ok.s GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT id_a, id_b
         |  FROM p JOIN sizes s1 ON id_a = s1.doc_id JOIN sizes s2 ON id_b = s2.doc_id
         |  WHERE inter::DOUBLE / (s1.n + s2.n - inter) >= 0.8),
         |mh AS MATERIALIZED (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |$bandCtes,
         |cand AS ($candSelects),
         |st AS (
         |  SELECT bands, count(*)::BIGINT AS n_candidates,
         |    sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
         |  FROM cand c LEFT JOIN truth t USING (id_a, id_b) GROUP BY bands),
         |spine AS (SELECT unnest([2, 4, 8]) AS bands),
         |tt AS (SELECT count(*)::BIGINT AS n_true FROM truth)
         |SELECT bands::BIGINT AS bands, (16 // bands)::BIGINT AS rows_per_band,
         |  COALESCE(n_candidates, 0)::BIGINT AS n_candidates, n_true,
         |  COALESCE(n_hits, 0)::BIGINT AS n_hits,
         |  CASE WHEN COALESCE(n_candidates, 0) > 0
         |       THEN round(COALESCE(n_hits, 0)::DOUBLE / n_candidates, 6) END AS prec,
         |  CASE WHEN n_true > 0
         |       THEN round(COALESCE(n_hits, 0)::DOUBLE / n_true, 6) END AS rec
         |FROM spine LEFT JOIN st USING (bands) CROSS JOIN tt
         |ORDER BY bands""".stripMargin
    },

    // q103: q22's blocked-pair shape with the asymmetric gate — either
    // direction's inter/|side| clears 0.8; the cap mirrors the
    // engine's default 1024.
    "q103_containment" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |ok AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1024),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  JOIN ok ON a.s = ok.s GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(inter::DOUBLE / s1.n, 6) AS c_ab,
         |  round(inter::DOUBLE / s2.n, 6) AS c_ba
         |FROM pairs JOIN sizes s1 ON id_a = s1.doc_id JOIN sizes s2 ON id_b = s2.doc_id
         |WHERE greatest(inter::DOUBLE / s1.n, inter::DOUBLE / s2.n) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // q111: q23's band CTEs for the candidates, then BYTE-level
    // Levenshtein (DuckDB's levenshtein is byte-based on UTF-8; the
    // Spark side matches it via the UTF-8 → ISO-8859-1 round-trip).
    // strlen = byte length, substr = char-based truncation, both
    // mirroring the engine exactly.
    "q111_edit_verify" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |tt AS (SELECT doc_id, substr(text, 1, 4096) AS tx FROM documents),
         |lv AS (
         |  SELECT id_a, id_b, levenshtein(ta.tx, tb.tx) AS lev,
         |    greatest(strlen(ta.tx), strlen(tb.tx), 1) AS ml
         |  FROM cand JOIN tt ta ON id_a = ta.doc_id JOIN tt tb ON id_b = tb.doc_id)
         |SELECT id_a, id_b, lev::BIGINT AS lev_bytes,
         |  round(1.0 - lev::DOUBLE / ml, 6) AS edit_sim
         |FROM lv WHERE 1.0 - lev::DOUBLE / ml >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // q112: winnowing replayed — ordered trigram u32 hashes, window
    // minima over w=4 (one window when fewer than w shingles), distinct
    // selected hashes, then the q103-style capped fingerprint join.
    "q112_winnowing" ->
      s"""WITH gr AS (
         |  SELECT doc_id, list_transform(range(greatest(len($tokensSql) - 2, 0)),
         |    i -> $tokensSql[i+1] || ' ' || $tokensSql[i+2] || ' ' || $tokensSql[i+3]) AS gs
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id, list_transform(gs, g ->
         |    ('0x' || substr(md5(g), 1, 8))::UBIGINT::BIGINT) AS h
         |  FROM gr WHERE len(gs) >= 1),
         |fp AS (
         |  SELECT DISTINCT doc_id, fp FROM (
         |    SELECT doc_id, unnest(list_transform(range(greatest(len(h) - 4, 0) + 1),
         |      i -> list_min(h[i+1:i+4]))) AS fp
         |    FROM hs)),
         |sizes AS (SELECT doc_id, count(*) AS nf FROM fp GROUP BY 1),
         |ok AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1024),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  JOIN ok ON a.fp = ok.fp GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  round(n_shared::DOUBLE / least(s1.nf, s2.nf), 6) AS overlap
         |FROM pairs JOIN sizes s1 ON id_a = s1.doc_id JOIN sizes s2 ON id_b = s2.doc_id
         |WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin,

    // q115: the same synthetic URL built from doc_id, then the
    // canonicalization replayed rule for rule (percent-escape
    // normalization — unreserved decode + hex uppercase, pctNormSql —
    // then scheme/host lowering, userinfo/default-port/www/fragment
    // stripping, trailing-slash trim, tracking-param drop + bytewise
    // param sort). The IDN rule has no SQL replay (punycode) and is
    // pinned in CorpusOpsSpec; these hosts are ASCII, where the rule
    // is byte-identity by contract.
    "q115_url_dedup" ->
      s"""WITH u0 AS (
         |  SELECT doc_id,
         |    'HTTP://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
         |    'Example-' || (doc_id % 7)::VARCHAR || '.COM' ||
         |    CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END ||
         |    CASE WHEN doc_id % 8 = 0 THEN '/p%61th/' ELSE '/path/' END ||
         |    (doc_id % 50)::VARCHAR ||
         |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
         |    '?utm_source=feed&b=' || (doc_id % 5)::VARCHAR || '&a=1' ||
         |    CASE WHEN doc_id % 2 = 0 THEN '&z=%2f' ELSE '&z=%2F' END ||
         |    CASE WHEN doc_id % 6 = 0 THEN '&fbclid=xyz' ELSE '' END ||
         |    '#frag' AS url
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, ${pctNormSql("url")} AS url
         |  FROM u0),
         |p1 AS (
         |  SELECT doc_id,
         |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |    split_part(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#', 1) AS nofrag
         |  FROM u),
         |p2 AS (
         |  SELECT doc_id, scheme,
         |    split_part(nofrag, '?', 1) AS base,
         |    regexp_extract(nofrag, '(?s)\\?(.*)\\z', 1) AS query
         |  FROM p1),
         |p3 AS (
         |  SELECT doc_id, scheme, query,
         |    split_part(base, '/', 1) AS auth,
         |    substr(base, length(split_part(base, '/', 1)) + 1) AS path
         |  FROM p2),
         |p4 AS (
         |  SELECT doc_id, scheme, query, path,
         |    CASE WHEN scheme = 'http'
         |           THEN regexp_replace(lower(regexp_replace(auth, '^[^@]*@', '')), ':80\\z', '')
         |         WHEN scheme = 'https'
         |           THEN regexp_replace(lower(regexp_replace(auth, '^[^@]*@', '')), ':443\\z', '')
         |         ELSE lower(regexp_replace(auth, '^[^@]*@', '')) END AS np
         |  FROM p3),
         |p5 AS (
         |  SELECT doc_id, scheme,
         |    regexp_replace(np, '^www\\.', '') AS host,
         |    CASE WHEN regexp_replace(path, '/+\\z', '') = '' THEN '/'
         |         ELSE regexp_replace(path, '/+\\z', '') END AS cpath,
         |    array_to_string(list_sort(list_filter(string_split(query, '&'),
         |      p -> p <> '' AND NOT starts_with(p, 'utm_')
         |        AND NOT starts_with(p, 'fbclid=')
         |        AND NOT starts_with(p, 'gclid=')
         |        AND NOT starts_with(p, 'ref='))), '&') AS q
         |  FROM p4),
         |c AS (
         |  SELECT doc_id, scheme || '://' || host || cpath ||
         |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
         |  FROM p5),
         |g AS (
         |  SELECT canonical_url, count(*)::BIGINT AS n_dups,
         |    min(doc_id) AS rep_id
         |  FROM c GROUP BY canonical_url)
         |SELECT c.doc_id, c.canonical_url, g.n_dups,
         |  c.doc_id = g.rep_id AS is_rep
         |FROM c JOIN g USING (canonical_url) ORDER BY doc_id""".stripMargin,

    // q117: q111's band machinery split old/new, signature-estimated
    // Jaccard = matching components / 16 (exact power-of-two
    // fractions, so the threshold compare is drift-free), left join
    // keeps zero-match batch docs.
    "q117_incremental_dedup" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |sg AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM bands n JOIN bands o ON n.band = o.band AND n.bucket = o.bucket
         |  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0),
         |est AS (
         |  SELECT new_id, old_id,
         |    len(list_filter(range(16), i -> a.sig[i+1] = b.sig[i+1]))::DOUBLE / 16 AS ej
         |  FROM cand JOIN sg a ON new_id = a.doc_id JOIN sg b ON old_id = b.doc_id),
         |hits AS (
         |  SELECT new_id, count(*)::BIGINT AS n_dup_matches,
         |    min(old_id)::BIGINT AS dup_of, round(max(ej), 6) AS est_jaccard
         |  FROM est WHERE ej >= 0.5 GROUP BY new_id)
         |SELECT d.doc_id AS new_id,
         |  coalesce(n_dup_matches, 0)::BIGINT AS n_dup_matches,
         |  dup_of, est_jaccard, coalesce(n_dup_matches, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.new_id
         |WHERE d.doc_id % 5 = 0 ORDER BY new_id""".stripMargin,

    // q129: the SPLIT storage layout changes nothing observable —
    // verdicts are pair-determined (BucketedSpec pins est-for-est
    // equality with the combined layout), so the oracle is q117's
    // replay verbatim.
    "q129_split_index_dedup" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |sg AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM bands n JOIN bands o ON n.band = o.band AND n.bucket = o.bucket
         |  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0),
         |est AS (
         |  SELECT new_id, old_id,
         |    len(list_filter(range(16), i -> a.sig[i+1] = b.sig[i+1]))::DOUBLE / 16 AS ej
         |  FROM cand JOIN sg a ON new_id = a.doc_id JOIN sg b ON old_id = b.doc_id),
         |hits AS (
         |  SELECT new_id, count(*)::BIGINT AS n_dup_matches,
         |    min(old_id)::BIGINT AS dup_of, round(max(ej), 6) AS est_jaccard
         |  FROM est WHERE ej >= 0.5 GROUP BY new_id)
         |SELECT d.doc_id AS new_id,
         |  coalesce(n_dup_matches, 0)::BIGINT AS n_dup_matches,
         |  dup_of, est_jaccard, coalesce(n_dup_matches, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.new_id
         |WHERE d.doc_id % 5 = 0 ORDER BY new_id""".stripMargin,

    // q130/q131: the dHash fixture's pixel values are pure integer
    // arithmetic in (doc_id, x, y) (ops/ImageHash.fixtureGray), so the
    // oracle computes every hash bit as a SQL comparison of adjacent
    // pixels and packs the 16-bit blocks with shift-free integer sums —
    // replaying PNG encode → ImageIO decode → raster read → bit packing
    // without touching a byte of image data (the q28 convention).
    "q130_image_dhash" ->
      s"""WITH px AS (
         |  SELECT d.doc_id, x.x, y.y, ${fixtureGraySql("d.doc_id")} AS g
         |  FROM documents d, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |bits AS (
         |  SELECT l.doc_id, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8)
         |SELECT doc_id AS media_id,
         |  sum(CASE WHEN k // 16 = 0 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b0,
         |  sum(CASE WHEN k // 16 = 1 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b1,
         |  sum(CASE WHEN k // 16 = 2 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b2,
         |  sum(CASE WHEN k // 16 = 3 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b3
         |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // q131: same fixture plus perturbed copies; candidates via the same
    // 4x16-bit block collision the Spark side uses (both EXACT for
    // hamming <= 3 by pigeonhole, so blocking parity is semantic, not
    // coincidental), verified by per-bit comparison.
    "q131_image_neardup" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id AS pid, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, doc_id, TRUE FROM documents WHERE doc_id % 17 = 0),
         |gx AS (
         |  SELECT m.media_id, m.pid, m.perturb, x.x, y.y,
         |    ${fixtureGraySql("m.pid")} AS g0
         |  FROM media m, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |px AS (
         |  SELECT media_id, x, y,
         |    CASE WHEN perturb AND x = pid % 9 AND y = pid % 8
         |      THEN (g0 + 128) % 256 ELSE g0 END AS g
         |  FROM gx),
         |bits AS (
         |  SELECT l.media_id, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.media_id = l.media_id AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |blocks AS (
         |  SELECT media_id, k // 16 AS blk,
         |    sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
         |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.v = b.v
         |    AND a.media_id < b.media_id),
         |ham AS (
         |  SELECT c.id_a, c.id_b,
         |    sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
         |  FROM cand c
         |  JOIN bits ba ON ba.media_id = c.id_a
         |  JOIN bits bb ON bb.media_id = c.id_b AND bb.k = ba.k
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // q134: frame hashes as 4-block strings (no 64-bit shift needed),
    // set semantics via DISTINCT, exact Jaccard over shared-hash
    // intersections — the same blocking the Spark side runs.
    "q134_video_neardup" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id AS vid, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, doc_id, TRUE FROM documents WHERE doc_id % 17 = 0),
         |frames AS (
         |  SELECT m.media_id,
         |    CASE WHEN m.perturb AND fr.f = m.vid % 16 THEN m.vid*131 + 777777
         |         ELSE m.vid*131 + fr.f END AS pid
         |  FROM media m, generate_series(0,15) fr(f)),
         |px AS (
         |  SELECT fm.media_id, fm.pid, x.x, y.y, ${fixtureGraySql("fm.pid")} AS g
         |  FROM frames fm, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |bits AS (
         |  SELECT l.media_id, l.pid, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.media_id = l.media_id AND r.pid = l.pid
         |    AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |blocks AS (
         |  SELECT media_id, pid, k // 16 AS blk, sum(bit * (1 << (k % 16))) AS v
         |  FROM bits GROUP BY 1, 2, 3),
         |fh AS (
         |  SELECT DISTINCT media_id,
         |    (SELECT string_agg(v::VARCHAR, '|' ORDER BY blk)) AS h
         |  FROM blocks GROUP BY media_id, pid),
         |fhd AS (SELECT DISTINCT media_id, h FROM fh),
         |sizes AS (SELECT media_id, count(*) AS n FROM fhd GROUP BY 1),
         |inter AS (
         |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM fhd a JOIN fhd b ON a.h = b.h AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.media_id = id_a JOIN sizes sb ON sb.media_id = id_b
         |WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    // q136: pairs exactly as q131 (over base + two identical variants),
    // then the q50 recursive-CTE connected components and min-id
    // survivors with cluster sizes.
    "q136_image_dedup_end2end" ->
      s"""WITH RECURSIVE media AS (
         |  SELECT doc_id AS media_id, doc_id AS pid, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, doc_id, TRUE FROM documents WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000000, doc_id, TRUE FROM documents WHERE doc_id % 17 = 0),
         |gx AS (
         |  SELECT m.media_id, m.pid, m.perturb, x.x, y.y,
         |    ${fixtureGraySql("m.pid")} AS g0
         |  FROM media m, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |px AS (
         |  SELECT media_id, x, y,
         |    CASE WHEN perturb AND x = pid % 9 AND y = pid % 8
         |      THEN (g0 + 128) % 256 ELSE g0 END AS g
         |  FROM gx),
         |bits AS (
         |  SELECT l.media_id, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.media_id = l.media_id AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |blocks AS (
         |  SELECT media_id, k // 16 AS blk,
         |    sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
         |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.v = b.v
         |    AND a.media_id < b.media_id),
         |verified AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN bits ba ON ba.media_id = c.id_a
         |  JOIN bits bb ON bb.media_id = c.id_b AND bb.k = ba.k
         |  GROUP BY 1, 2
         |  HAVING sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) <= 3),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach(n, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.n, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |labels AS (SELECT n AS media_id, min(m) AS cluster FROM reach GROUP BY n),
         |clustered AS (
         |  SELECT m.media_id, COALESCE(l.cluster, m.media_id) AS cluster
         |  FROM media m LEFT JOIN labels l ON m.media_id = l.media_id)
         |SELECT min(media_id)::BIGINT AS media_id,
         |  (count(*) - 1)::BIGINT AS n_dups_removed
         |FROM clustered GROUP BY cluster ORDER BY media_id""".stripMargin,

    // q135: the incremental gate — index side unperturbed, batch side
    // optionally a perturbed copy of (id+1); candidates by shared
    // block, verified per-bit, verdict row per batch doc.
    "q135_image_incremental_dedup" ->
      s"""WITH idx AS (
         |  SELECT doc_id AS id, doc_id AS pid, FALSE AS pert
         |  FROM documents WHERE doc_id % 5 <> 0),
         |new AS (
         |  SELECT doc_id AS id,
         |    CASE WHEN doc_id % 10 = 0 THEN doc_id + 1 ELSE doc_id END AS pid,
         |    doc_id % 10 = 0 AS pert
         |  FROM documents WHERE doc_id % 5 = 0),
         |sides AS (
         |  SELECT 'old' AS side, id, pid, pert FROM idx
         |  UNION ALL SELECT 'new', id, pid, pert FROM new),
         |px AS (
         |  SELECT m.side, m.id, x.x, y.y,
         |    CASE WHEN m.pert AND x.x = m.pid % 9 AND y.y = m.pid % 8
         |      THEN ((${fixtureGraySql("m.pid")}) + 128) % 256
         |      ELSE ${fixtureGraySql("m.pid")} END AS g
         |  FROM sides m, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |bits AS (
         |  SELECT l.side, l.id, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.side = l.side AND r.id = l.id
         |    AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |blocks AS (
         |  SELECT side, id, k // 16 AS blk, sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM bits GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT DISTINCT n.id AS new_id, o.id AS old_id
         |  FROM blocks n JOIN blocks o ON o.side = 'old' AND n.side = 'new'
         |    AND n.blk = o.blk AND n.v = o.v
         |  WHERE n.id <> o.id),
         |ham AS (
         |  SELECT c.new_id, c.old_id,
         |    sum(CASE WHEN bn.bit <> bo.bit THEN 1 ELSE 0 END)::BIGINT AS h
         |  FROM cand c
         |  JOIN bits bn ON bn.side = 'new' AND bn.id = c.new_id
         |  JOIN bits bo ON bo.side = 'old' AND bo.id = c.old_id AND bo.k = bn.k
         |  GROUP BY 1, 2),
         |hits AS (
         |  SELECT new_id, count(*)::BIGINT AS n_dup_matches,
         |    min(old_id)::BIGINT AS dup_of, min(h)::INT AS min_hamming
         |  FROM ham WHERE h <= 3 GROUP BY new_id)
         |SELECT d.doc_id AS new_id,
         |  coalesce(n_dup_matches, 0)::BIGINT AS n_dup_matches,
         |  dup_of, min_hamming, coalesce(n_dup_matches, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.new_id
         |WHERE d.doc_id % 5 = 0 ORDER BY new_id""".stripMargin,

    // q137: images and video frames hashed from the shared arithmetic
    // (image side as q131, frame side as q134 with the +1e7 pattern
    // offset), candidates by shared 16-bit block, per-bit Hamming
    // verification, frame DISTINCT via min-pid representatives (the
    // q134 fhd trick) so hashes repeated within a video count once.
    "q137_image_video_neardup" ->
      s"""WITH imgs AS (
         |  SELECT doc_id AS image_id, doc_id AS pid, FALSE AS pert FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, (doc_id + 10000000)*131 + doc_id % 16, TRUE
         |  FROM documents WHERE doc_id % 17 = 0),
         |ipx AS (
         |  SELECT i.image_id, x.x, y.y,
         |    CASE WHEN i.pert AND x.x = i.pid % 9 AND y.y = i.pid % 8
         |      THEN ((${fixtureGraySql("i.pid")}) + 128) % 256
         |      ELSE ${fixtureGraySql("i.pid")} END AS g
         |  FROM imgs i, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |ibits AS (
         |  SELECT l.image_id, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM ipx l JOIN ipx r ON r.image_id = l.image_id AND r.y = l.y
         |    AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |iblocks AS (
         |  SELECT image_id, k // 16 AS blk, sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM ibits GROUP BY 1, 2),
         |frames AS (
         |  SELECT d.doc_id AS video_id, (d.doc_id + 10000000)*131 + fr.f AS pid
         |  FROM documents d, generate_series(0,15) fr(f)),
         |fpx AS (
         |  SELECT fm.video_id, fm.pid, x.x, y.y, ${fixtureGraySql("fm.pid")} AS g
         |  FROM frames fm, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |fbits AS (
         |  SELECT l.video_id, l.pid, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM fpx l JOIN fpx r ON r.video_id = l.video_id AND r.pid = l.pid
         |    AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |fblocks AS (
         |  SELECT video_id, pid, k // 16 AS blk, sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM fbits GROUP BY 1, 2, 3),
         |fhstr AS (
         |  SELECT video_id, pid, string_agg(v::VARCHAR, '|' ORDER BY blk) AS h
         |  FROM fblocks GROUP BY video_id, pid),
         |frep AS (SELECT video_id, h, min(pid) AS pid FROM fhstr GROUP BY 1, 2),
         |fblocksr AS (
         |  SELECT fb.* FROM fblocks fb
         |  JOIN frep f ON f.video_id = fb.video_id AND f.pid = fb.pid),
         |cand AS (
         |  SELECT DISTINCT i.image_id, fb.video_id, fb.pid
         |  FROM iblocks i JOIN fblocksr fb ON fb.blk = i.blk AND fb.v = i.v),
         |ham AS (
         |  SELECT c.image_id, c.video_id, c.pid,
         |    sum(CASE WHEN bi.bit <> bf.bit THEN 1 ELSE 0 END)::BIGINT AS h
         |  FROM cand c
         |  JOIN ibits bi ON bi.image_id = c.image_id
         |  JOIN fbits bf ON bf.video_id = c.video_id AND bf.pid = c.pid
         |    AND bf.k = bi.k
         |  GROUP BY 1, 2, 3)
         |SELECT image_id, video_id, min(h)::INT AS min_hamming,
         |  count(*)::BIGINT AS n_frames_hit
         |FROM ham WHERE h <= 3 GROUP BY 1, 2
         |ORDER BY image_id, video_id""".stripMargin,

    // q138: the windowed-fingerprint replay — envelope frames from the
    // SAME arithmetic as q132 evaluated at the ORIGINAL frame index
    // (f.f; trimmed copies keep amp(f) but re-index locally as
    // j = f - trim), hop-1 window hashes as 4-block strings (the q134
    // convention), DISTINCT window sets, exact set Jaccard.
    "q138_audio_windowed_neardup" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id AS pid, 0 AS trim FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, doc_id, (doc_id % 8 + 1)::INT
         |  FROM documents WHERE doc_id % 17 = 0),
         |env AS (
         |  SELECT m.media_id, f.f - m.trim AS j,
         |    (${fixtureAmpBaseSql("m.pid")}) * 31 AS amp
         |  FROM media m, generate_series(0,127) f(f)
         |  WHERE f.f >= m.trim),
         |cmp AS (
         |  SELECT l.media_id, l.j, CASE WHEN r.amp > l.amp THEN 1 ELSE 0 END AS bit
         |  FROM env l JOIN env r ON r.media_id = l.media_id AND r.j = l.j + 1),
         |wbits AS (
         |  SELECT c.media_id, c.j - o.o AS p, o.o AS k, c.bit
         |  FROM (SELECT c0.*, x.mj FROM cmp c0
         |        JOIN (SELECT media_id, max(j) AS mj FROM cmp GROUP BY 1) x
         |          USING (media_id)) c,
         |       generate_series(0,63) o(o)
         |  WHERE c.j - o.o >= 0 AND c.j - o.o <= c.mj - 63),
         |wblocks AS (
         |  SELECT media_id, p, k // 16 AS blk,
         |    sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM wbits GROUP BY 1, 2, 3),
         |wh AS (
         |  SELECT media_id, p, string_agg(v::VARCHAR, '|' ORDER BY blk) AS h
         |  FROM wblocks GROUP BY 1, 2),
         |whd AS (SELECT DISTINCT media_id, h FROM wh),
         |sizes AS (SELECT media_id, count(*) AS n FROM whd GROUP BY 1),
         |inter AS (
         |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM whd a JOIN whd b ON a.h = b.h AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.media_id = id_a
         |JOIN sizes sb ON sb.media_id = id_b
         |WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared) >= 0.85
         |ORDER BY id_a, id_b""".stripMargin,

    // q141: the q138 windowed-fingerprint replay run CROSS-side — the
    // video side's soundtrack is the untrimmed windowed fixture at
    // pid = doc+5e6 (the track extracts byte-identical, so its window
    // hashes ARE the fixture's), the recording side unions the noise
    // population (pid +7e6) with the trimmed extracted copies; a side
    // marker rides every CTE because a video id and a recording id
    // share the raw doc_id value.
    "q141_soundtrack_neardup" ->
      s"""WITH media AS (
         |  SELECT 'v' AS side, doc_id AS media_id, doc_id + 5000000 AS pid,
         |    0 AS trim FROM documents
         |  UNION ALL
         |  SELECT 'r', doc_id, doc_id + 7000000, 0 FROM documents
         |  UNION ALL
         |  SELECT 'r', doc_id + 1000000000, doc_id + 5000000, (doc_id % 8 + 1)::INT
         |  FROM documents WHERE doc_id % 17 = 0),
         |env AS (
         |  SELECT m.side, m.media_id, f.f - m.trim AS j,
         |    (${fixtureAmpBaseSql("m.pid")}) * 31 AS amp
         |  FROM media m, generate_series(0,127) f(f)
         |  WHERE f.f >= m.trim),
         |cmp AS (
         |  SELECT l.side, l.media_id, l.j, CASE WHEN r.amp > l.amp THEN 1 ELSE 0 END AS bit
         |  FROM env l JOIN env r ON r.side = l.side AND r.media_id = l.media_id
         |    AND r.j = l.j + 1),
         |wbits AS (
         |  SELECT c.side, c.media_id, c.j - o.o AS p, o.o AS k, c.bit
         |  FROM (SELECT c0.*, x.mj FROM cmp c0
         |        JOIN (SELECT side, media_id, max(j) AS mj FROM cmp GROUP BY 1, 2) x
         |          USING (side, media_id)) c,
         |       generate_series(0,63) o(o)
         |  WHERE c.j - o.o >= 0 AND c.j - o.o <= c.mj - 63),
         |wblocks AS (
         |  SELECT side, media_id, p, k // 16 AS blk,
         |    sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM wbits GROUP BY 1, 2, 3, 4),
         |wh AS (
         |  SELECT side, media_id, p, string_agg(v::VARCHAR, '|' ORDER BY blk) AS h
         |  FROM wblocks GROUP BY 1, 2, 3),
         |whd AS (SELECT DISTINCT side, media_id, h FROM wh),
         |sizes AS (SELECT side, media_id, count(*) AS n FROM whd GROUP BY 1, 2),
         |inter AS (
         |  SELECT v.media_id AS video_id, r.media_id AS audio_id,
         |    count(*)::BIGINT AS n_shared
         |  FROM whd v JOIN whd r ON v.h = r.h
         |  WHERE v.side = 'v' AND r.side = 'r'
         |  GROUP BY 1, 2)
         |SELECT video_id, audio_id, n_shared,
         |  round(n_shared::DOUBLE / (sv.n + sr.n - n_shared), 6) AS jaccard
         |FROM inter
         |JOIN sizes sv ON sv.side = 'v' AND sv.media_id = video_id
         |JOIN sizes sr ON sr.side = 'r' AND sr.media_id = audio_id
         |WHERE n_shared::DOUBLE / (sv.n + sr.n - n_shared) >= 0.85
         |ORDER BY video_id, audio_id""".stripMargin,

    // q145: the q139 verdict shape over scene KEYFRAMES — the oracle
    // replays the REAL consecutive-Hamming cut walk (q142's CTE
    // stack: per-frame hashes with odd-frame jitter, frame-to-frame
    // Hamming, cut when f = 0 or distance > 4, scene = running cut
    // sum), NOT the planted scene structure, so an adjacent-scene
    // pattern pair landing within the 4-bit threshold merges on BOTH
    // sides identically (MediaProbe documents such merges as possible
    // at scale). Keyframe = each walked scene's first frame's hash;
    // the replaced scene's pid offset by +13 on perturbed batch
    // videos; Jaccard over keyframe-hash sets gated at 0.3.
    "q145_keyframe_gate" ->
      s"""WITH idx AS (
         |  SELECT doc_id AS id, doc_id AS vid, FALSE AS pert
         |  FROM documents WHERE doc_id % 5 <> 0),
         |new AS (
         |  SELECT doc_id AS id,
         |    CASE WHEN doc_id % 10 = 0 THEN doc_id + 1 ELSE doc_id END AS vid,
         |    doc_id % 10 = 0 AS pert
         |  FROM documents WHERE doc_id % 5 = 0),
         |sides AS (
         |  SELECT 'old' AS side, id, vid, pert FROM idx
         |  UNION ALL SELECT 'new', id, vid, pert FROM new),
         |frames AS (
         |  SELECT m.side, m.id, f.f AS f, f.f % 2 = 1 AS jitter,
         |    m.vid*131 + ((f.f * (2 + m.vid % 4)) // 16)*29 + 7 +
         |      CASE WHEN m.pert
         |        AND (f.f * (2 + m.vid % 4)) // 16 = m.vid % (2 + m.vid % 4)
         |        THEN 13 ELSE 0 END AS pid
         |  FROM sides m, generate_series(0,15) f(f)),
         |gx AS (
         |  SELECT fm.side, fm.id, fm.f, fm.pid, fm.jitter, x.x, y.y,
         |    ${fixtureGraySql("fm.pid")} AS g0
         |  FROM frames fm, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |px AS (
         |  SELECT side, id, f, x, y,
         |    CASE WHEN jitter AND x = pid % 9 AND y = pid % 8
         |      THEN (g0 + 128) % 256 ELSE g0 END AS g
         |  FROM gx),
         |bits AS (
         |  SELECT l.side, l.id, l.f, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.side = l.side AND r.id = l.id
         |    AND r.f = l.f AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |ham AS (
         |  SELECT a.side, a.id, a.f,
         |    sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hd
         |  FROM bits a JOIN bits b ON b.side = a.side AND b.id = a.id
         |    AND b.f = a.f - 1 AND b.k = a.k
         |  GROUP BY 1, 2, 3),
         |cuts AS (
         |  SELECT fr.side, fr.id, fr.f,
         |    CASE WHEN fr.f = 0 OR h.hd > 4 THEN 1 ELSE 0 END AS cut
         |  FROM frames fr
         |  LEFT JOIN ham h ON h.side = fr.side AND h.id = fr.id AND h.f = fr.f),
         |scn AS (
         |  SELECT side, id, f,
         |    sum(cut) OVER (PARTITION BY side, id ORDER BY f) - 1 AS scene
         |  FROM cuts),
         |kf AS (SELECT side, id, scene, min(f) AS f0 FROM scn GROUP BY 1, 2, 3),
         |blocks AS (
         |  SELECT side, id, f, k // 16 AS blk, sum(bit * (1 << (k % 16))) AS v
         |  FROM bits GROUP BY 1, 2, 3, 4),
         |fh AS (
         |  SELECT side, id, f, string_agg(v::VARCHAR, '|' ORDER BY blk) AS h
         |  FROM blocks GROUP BY 1, 2, 3),
         |fhd AS (
         |  SELECT DISTINCT k.side, k.id, fh.h
         |  FROM kf k JOIN fh ON fh.side = k.side AND fh.id = k.id
         |    AND fh.f = k.f0),
         |sizes AS (SELECT side, id, count(*) AS n FROM fhd GROUP BY 1, 2),
         |inter AS (
         |  SELECT n.id AS new_id, o.id AS old_id, count(*)::BIGINT AS ns
         |  FROM fhd n JOIN fhd o ON o.side = 'old' AND n.side = 'new' AND n.h = o.h
         |  WHERE n.id <> o.id
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT new_id, old_id, round(ns::DOUBLE / (sn.n + so.n - ns), 6) AS j
         |  FROM inter
         |  JOIN sizes sn ON sn.side = 'new' AND sn.id = new_id
         |  JOIN sizes so ON so.side = 'old' AND so.id = old_id),
         |hits AS (
         |  SELECT new_id, count(*)::BIGINT AS n_dup_matches,
         |    min(old_id)::BIGINT AS dup_of, max(j) AS best_jaccard
         |  FROM jac WHERE j >= 0.3 GROUP BY 1)
         |SELECT d.doc_id AS new_id,
         |  coalesce(n_dup_matches, 0)::BIGINT AS n_dup_matches,
         |  dup_of, best_jaccard, coalesce(n_dup_matches, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.new_id
         |WHERE d.doc_id % 5 = 0 ORDER BY new_id""".stripMargin,

    // q144: q140's simhash-pair replay, edges filtered to surviving
    // endpoints (doc % 7 <> 3), recursive CC over the survivor graph;
    // previously-clustered survivors with no surviving pair fall back
    // to self labels (COALESCE) — absence means removed, not
    // forgotten.
    "q144_member_removal" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, unnest($tokensSql) AS tk FROM documents),
         |th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 16))::UBIGINT AS h FROM tok),
         |votes AS (
         |  SELECT d.doc_id, i, SUM(CASE WHEN (th.h >> i::INT) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM documents d CROSS JOIN range(64) t(i)
         |  LEFT JOIN th ON th.doc_id = d.doc_id
         |  GROUP BY d.doc_id, i),
         |packed AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN v > 0 AND i < 32 THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT AS lo,
         |    SUM(CASE WHEN v > 0 AND i >= 32 THEN (1::BIGINT << (i::INT - 32)) ELSE 0 END)::BIGINT AS hi
         |  FROM votes GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM packed a JOIN packed b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.lo, b.lo))::INT + bit_count(xor(a.hi, b.hi))::INT <= 3),
         |surv_pairs AS (
         |  SELECT id_a, id_b FROM pairs WHERE id_a % 7 <> 3 AND id_b % 7 <> 3),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM surv_pairs
         |  UNION SELECT id_b, id_a FROM surv_pairs),
         |reach(n, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.n, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |cc1 AS (SELECT n AS id, min(m)::BIGINT AS cluster FROM reach GROUP BY n),
         |orig AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
         |surv AS (SELECT id FROM orig WHERE id % 7 <> 3)
         |SELECT s.id, COALESCE(c.cluster, s.id)::BIGINT AS cluster
         |FROM surv s LEFT JOIN cc1 c USING (id) ORDER BY s.id""".stripMargin,

    // q143: the q138 replay with the q143 populations (every 13th,
    // trim doc%4). The sample rate appears NOWHERE: time-fixed 10 ms
    // framing makes window hashes rate-invariant, so the oracle is
    // the same frame-amplitude arithmetic for all three container
    // rates the Spark side decodes — that invariance IS the property
    // under test.
    "q143_resampled_audio_neardup" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id AS pid, 0 AS trim FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, doc_id, (doc_id % 4)::INT
         |  FROM documents WHERE doc_id % 13 = 0),
         |env AS (
         |  SELECT m.media_id, f.f - m.trim AS j,
         |    (${fixtureAmpBaseSql("m.pid")}) * 31 AS amp
         |  FROM media m, generate_series(0,127) f(f)
         |  WHERE f.f >= m.trim),
         |cmp AS (
         |  SELECT l.media_id, l.j, CASE WHEN r.amp > l.amp THEN 1 ELSE 0 END AS bit
         |  FROM env l JOIN env r ON r.media_id = l.media_id AND r.j = l.j + 1),
         |wbits AS (
         |  SELECT c.media_id, c.j - o.o AS p, o.o AS k, c.bit
         |  FROM (SELECT c0.*, x.mj FROM cmp c0
         |        JOIN (SELECT media_id, max(j) AS mj FROM cmp GROUP BY 1) x
         |          USING (media_id)) c,
         |       generate_series(0,63) o(o)
         |  WHERE c.j - o.o >= 0 AND c.j - o.o <= c.mj - 63),
         |wblocks AS (
         |  SELECT media_id, p, k // 16 AS blk,
         |    sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM wbits GROUP BY 1, 2, 3),
         |wh AS (
         |  SELECT media_id, p, string_agg(v::VARCHAR, '|' ORDER BY blk) AS h
         |  FROM wblocks GROUP BY 1, 2),
         |whd AS (SELECT DISTINCT media_id, h FROM wh),
         |sizes AS (SELECT media_id, count(*) AS n FROM whd GROUP BY 1),
         |inter AS (
         |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM whd a JOIN whd b ON a.h = b.h AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.media_id = id_a
         |JOIN sizes sb ON sb.media_id = id_b
         |WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared) >= 0.85
         |ORDER BY id_a, id_b""".stripMargin,

    // q142: the scene fixture replayed pixel-for-pixel — frame f's
    // pattern is id*131 + scene*29 + 7 with the single-pixel jitter
    // on odd frames; per-frame 64-bit hashes as the q134 bit/block
    // arithmetic, consecutive-frame Hamming via a (media, f, k) self
    // join, cut when f = 0 or distance > 4, scene = running sum of
    // cuts − 1, segment rows grouped per (media, scene) with the
    // start frame's 4 hash blocks as the keyframe identity.
    "q142_scene_segments" ->
      s"""WITH frames AS (
         |  SELECT doc_id AS media_id, f.f AS f, f.f % 2 = 1 AS jitter,
         |    doc_id*131 + ((f.f * (2 + doc_id % 4)) // 16)*29 + 7 AS pid
         |  FROM documents, generate_series(0,15) f(f)),
         |gx AS (
         |  SELECT fm.media_id, fm.f, fm.pid, fm.jitter, x.x, y.y,
         |    ${fixtureGraySql("fm.pid")} AS g0
         |  FROM frames fm, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |px AS (
         |  SELECT media_id, f, x, y,
         |    CASE WHEN jitter AND x = pid % 9 AND y = pid % 8
         |      THEN (g0 + 128) % 256 ELSE g0 END AS g
         |  FROM gx),
         |bits AS (
         |  SELECT l.media_id, l.f, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.media_id = l.media_id AND r.f = l.f
         |    AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |ham AS (
         |  SELECT a.media_id, a.f,
         |    sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hd
         |  FROM bits a JOIN bits b ON b.media_id = a.media_id
         |    AND b.f = a.f - 1 AND b.k = a.k
         |  GROUP BY 1, 2),
         |cuts AS (
         |  SELECT fr.media_id, fr.f,
         |    CASE WHEN fr.f = 0 OR h.hd > 4 THEN 1 ELSE 0 END AS cut
         |  FROM frames fr
         |  LEFT JOIN ham h ON h.media_id = fr.media_id AND h.f = fr.f),
         |scn AS (
         |  SELECT media_id, f,
         |    sum(cut) OVER (PARTITION BY media_id ORDER BY f) - 1 AS scene
         |  FROM cuts),
         |seg AS (
         |  SELECT media_id, scene::BIGINT AS scene, min(f)::BIGINT AS start_frame,
         |    count(*)::BIGINT AS n_frames
         |  FROM scn GROUP BY 1, 2),
         |blocks AS (
         |  SELECT media_id, f, k // 16 AS blk, sum(bit * (1 << (k % 16))) AS v
         |  FROM bits GROUP BY 1, 2, 3)
         |SELECT s.media_id, s.scene, s.start_frame, s.n_frames,
         |  max(CASE WHEN b.blk = 0 THEN b.v END)::BIGINT AS b0,
         |  max(CASE WHEN b.blk = 1 THEN b.v END)::BIGINT AS b1,
         |  max(CASE WHEN b.blk = 2 THEN b.v END)::BIGINT AS b2,
         |  max(CASE WHEN b.blk = 3 THEN b.v END)::BIGINT AS b3
         |FROM seg s JOIN blocks b ON b.media_id = s.media_id AND b.f = s.start_frame
         |GROUP BY 1, 2, 3, 4
         |ORDER BY s.media_id, s.scene""".stripMargin,

    // q139: the video gate — frame hashes per side exactly as q134
    // (4-block strings, DISTINCT per video), new-vs-old shared-hash
    // intersections, rounded Jaccard filtered at the SAME rounded
    // value the Spark side filters, verdict row per batch video.
    "q139_video_index_dedup" ->
      s"""WITH idx AS (
         |  SELECT doc_id AS id, doc_id AS vid, FALSE AS pert
         |  FROM documents WHERE doc_id % 5 <> 0),
         |new AS (
         |  SELECT doc_id AS id,
         |    CASE WHEN doc_id % 10 = 0 THEN doc_id + 1 ELSE doc_id END AS vid,
         |    doc_id % 10 = 0 AS pert
         |  FROM documents WHERE doc_id % 5 = 0),
         |sides AS (
         |  SELECT 'old' AS side, id, vid, pert FROM idx
         |  UNION ALL SELECT 'new', id, vid, pert FROM new),
         |frames AS (
         |  SELECT m.side, m.id,
         |    CASE WHEN m.pert AND fr.f = m.vid % 16 THEN m.vid*131 + 777777
         |         ELSE m.vid*131 + fr.f END AS pid
         |  FROM sides m, generate_series(0,15) fr(f)),
         |px AS (
         |  SELECT fm.side, fm.id, fm.pid, x.x, y.y, ${fixtureGraySql("fm.pid")} AS g
         |  FROM frames fm, generate_series(0,8) x(x), generate_series(0,7) y(y)),
         |bits AS (
         |  SELECT l.side, l.id, l.pid, l.y*8 + l.x AS k,
         |    CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
         |  FROM px l JOIN px r ON r.side = l.side AND r.id = l.id
         |    AND r.pid = l.pid AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |blocks AS (
         |  SELECT side, id, pid, k // 16 AS blk, sum(bit * (1 << (k % 16))) AS v
         |  FROM bits GROUP BY 1, 2, 3, 4),
         |fh AS (
         |  SELECT side, id, pid, string_agg(v::VARCHAR, '|' ORDER BY blk) AS h
         |  FROM blocks GROUP BY 1, 2, 3),
         |fhd AS (SELECT DISTINCT side, id, h FROM fh),
         |sizes AS (SELECT side, id, count(*) AS n FROM fhd GROUP BY 1, 2),
         |inter AS (
         |  SELECT n.id AS new_id, o.id AS old_id, count(*)::BIGINT AS ns
         |  FROM fhd n JOIN fhd o ON o.side = 'old' AND n.side = 'new' AND n.h = o.h
         |  WHERE n.id <> o.id
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT new_id, old_id, round(ns::DOUBLE / (sn.n + so.n - ns), 6) AS j
         |  FROM inter
         |  JOIN sizes sn ON sn.side = 'new' AND sn.id = new_id
         |  JOIN sizes so ON so.side = 'old' AND so.id = old_id),
         |hits AS (
         |  SELECT new_id, count(*)::BIGINT AS n_dup_matches,
         |    min(old_id)::BIGINT AS dup_of, max(j) AS best_jaccard
         |  FROM jac WHERE j >= 0.8 GROUP BY 1)
         |SELECT d.doc_id AS new_id,
         |  coalesce(n_dup_matches, 0)::BIGINT AS n_dup_matches,
         |  dup_of, best_jaccard, coalesce(n_dup_matches, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.new_id
         |WHERE d.doc_id % 5 = 0 ORDER BY new_id""".stripMargin,

    // q140: the q24 simhash pair derivation feeding the q50 recursive
    // reachability closure over ALL pairs — the full-recompute identity
    // the incremental operator must reproduce.
    "q140_incremental_clusters" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id, unnest($tokensSql) AS tk FROM documents),
         |th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 16))::UBIGINT AS h FROM tok),
         |votes AS (
         |  SELECT d.doc_id, i, SUM(CASE WHEN (th.h >> i::INT) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM documents d CROSS JOIN range(64) t(i)
         |  LEFT JOIN th ON th.doc_id = d.doc_id
         |  GROUP BY d.doc_id, i),
         |packed AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN v > 0 AND i < 32 THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT AS lo,
         |    SUM(CASE WHEN v > 0 AND i >= 32 THEN (1::BIGINT << (i::INT - 32)) ELSE 0 END)::BIGINT AS hi
         |  FROM votes GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM packed a JOIN packed b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.lo, b.lo))::INT + bit_count(xor(a.hi, b.hi))::INT <= 3),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(n, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.n, e.dst FROM reach r JOIN edges e ON e.src = r.m)
         |SELECT n AS id, min(m)::BIGINT AS cluster FROM reach GROUP BY n
         |ORDER BY id""".stripMargin,

    // q132/q133: the audio twins of q130/q131 — envelope amplitudes
    // are integer arithmetic in (doc_id, frame)
    // (ops/AudioHash.fixtureAmp), so every fingerprint bit is a SQL
    // comparison of consecutive frames.
    "q132_audio_fingerprint" ->
      s"""WITH env AS (
         |  SELECT d.doc_id, f.f, (${fixtureAmpBaseSql("d.doc_id")}) * 31 AS amp
         |  FROM documents d, generate_series(0,64) f(f)),
         |bits AS (
         |  SELECT l.doc_id, l.f AS k,
         |    CASE WHEN r.amp > l.amp THEN 1 ELSE 0 END AS bit
         |  FROM env l JOIN env r ON r.doc_id = l.doc_id AND r.f = l.f + 1
         |  WHERE l.f < 64)
         |SELECT doc_id AS media_id,
         |  sum(CASE WHEN k // 16 = 0 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b0,
         |  sum(CASE WHEN k // 16 = 1 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b1,
         |  sum(CASE WHEN k // 16 = 2 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b2,
         |  sum(CASE WHEN k // 16 = 3 THEN bit * (1 << (k % 16)) ELSE 0 END)::BIGINT AS b3
         |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "q133_audio_neardup" ->
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id AS pid, FALSE AS perturb FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000, doc_id, TRUE FROM documents WHERE doc_id % 17 = 0),
         |env AS (
         |  SELECT m.media_id, f.f,
         |    (CASE WHEN m.perturb AND f.f = m.pid % 65
         |      THEN ((${fixtureAmpBaseSql("m.pid")}) + 125) % 251
         |      ELSE ${fixtureAmpBaseSql("m.pid")} END) * 31 AS amp
         |  FROM media m, generate_series(0,64) f(f)),
         |bits AS (
         |  SELECT l.media_id, l.f AS k,
         |    CASE WHEN r.amp > l.amp THEN 1 ELSE 0 END AS bit
         |  FROM env l JOIN env r ON r.media_id = l.media_id AND r.f = l.f + 1
         |  WHERE l.f < 64),
         |blocks AS (
         |  SELECT media_id, k // 16 AS blk,
         |    sum(bit * (1 << (k % 16)))::BIGINT AS v
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
         |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.v = b.v
         |    AND a.media_id < b.media_id),
         |ham AS (
         |  SELECT c.id_a, c.id_b,
         |    sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)::BIGINT AS hamming
         |  FROM cand c
         |  JOIN bits ba ON ba.media_id = c.id_a
         |  JOIN bits bb ON bb.media_id = c.id_b AND bb.k = ba.k
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // q121: the (hash, source, n_docs) frame self-joined on hash —
    // the aggregated frame, never the corpus; same planted mirror
    // docs unioned in.
    "q121_dup_matrix" ->
      s"""WITH docs AS (
         |  SELECT source, text FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES $mirrorValuesSql) v(source, text)),
         |hs AS (
         |  SELECT md5(text) AS h, source, count(*)::BIGINT AS nd
         |  FROM docs GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  count(*)::BIGINT AS n_shared_texts,
         |  sum(a.nd)::BIGINT AS n_docs_a, sum(b.nd)::BIGINT AS n_docs_b
         |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // q123: the q50 candidate+verify chain, Jaccard ROUNDED 6 before
    // both the threshold and the micro-unit mean (mirrors the
    // engine's filter-on-rounded semantics exactly).
    "q123_neardup_matrix" ->
      s"""WITH sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |ver AS (
         |  SELECT c.id_a, c.id_b,
         |    round(inter.i::DOUBLE / (s1.n + s2.n - inter.i), 6) AS j
         |  FROM cand c
         |  JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
         |  JOIN sizes s1 ON c.id_a = s1.doc_id JOIN sizes s2 ON c.id_b = s2.doc_id
         |  WHERE round(inter.i::DOUBLE / (s1.n + s2.n - inter.i), 6) >= 0.8)
         |SELECT least(da.source, db.source) AS src_a,
         |  greatest(da.source, db.source) AS src_b,
         |  count(*)::BIGINT AS n_pairs,
         |  round(sum(round(j * 1000000)::BIGINT)::DOUBLE / 1000000 / count(*), 6)
         |    AS mean_jaccard
         |FROM ver JOIN documents da ON ver.id_a = da.doc_id
         |JOIN documents db ON ver.id_b = db.doc_id
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // q124: the q50 cluster chain, then keep = highest quality per
    // cluster (ttr milli, tie smallest id) instead of smallest id.
    "q124_quality_dedup" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, s FROM ${shinglesSql("x")}),
         |mh AS (
         |  SELECT doc_id, i, min(md5(i::VARCHAR || '|' || s)) AS m
         |  FROM sh CROSS JOIN range(16) t(i) GROUP BY doc_id, i),
         |bands AS (
         |  SELECT doc_id, i // 4 AS band, md5(string_agg(m, '|' ORDER BY i)) AS bucket
         |  FROM mh GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |verified AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
         |  JOIN sizes s1 ON c.id_a = s1.doc_id JOIN sizes s2 ON c.id_b = s2.doc_id
         |  WHERE round(inter.i::DOUBLE / (s1.n + s2.n - inter.i), 6) >= 0.8),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION SELECT id_b, id_a FROM verified),
         |reach(n, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT r.n, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |labels AS (SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n),
         |scored AS (
         |  SELECT doc_id,
         |    ((1000 * len(list_distinct($tokensSql)))
         |      // greatest(len($tokensSql), 1))::BIGINT AS quality_milli
         |  FROM documents),
         |res AS (
         |  SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster_id,
         |    s.quality_milli
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
         |  JOIN scored s ON d.doc_id = s.doc_id)
         |SELECT doc_id, cluster_id, quality_milli,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY quality_milli DESC, doc_id) = 1 AS keep
         |FROM res ORDER BY doc_id""".stripMargin
  )
}
