package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det.round4
import graft.util.{FanOut, PayloadJoin, TextNorm}
import graft.functions.VectorFunctions.jaccard

/** Deduplication family for training-data pipelines.
  *
  * Scale design: exact dedup is a hash-partitioned group-by on the digest
  * (no sort, no driver state). Near-dup goes through candidate generation
  * (blocking / LSH bands) so the pair space is O(near-dups), never O(n²);
  * the exact verify runs only on candidates.
  */
object Dedup {

  private val words = TextNorm.distinctWords(col("text"))

  /** The minhash family's verify payload (r17): each doc's distinct words
    * hashed ONCE (xxhash64) and sorted, so the per-pair set-Jaccard is a
    * primitive merge walk ([[graft.functions.JaccardSortedLongs]]) instead
    * of re-hashing every word string per candidate pair — with millions of
    * candidates each word was hashed millions of times. Values equal the
    * word-set Jaccard up to 64-bit collisions (the hashed-candidate
    * collision class; oracle-reverified). */
  private val hashedWordSet =
    sort_array(transform(words, w => xxhash64(w)))

  /** Exact dedup: md5 of normalized text → survivor = min(doc_id). */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup — the production shape for a GROWING corpus:
    * each new BATCH dedups against everything already ingested, returning
    * only the batch's genuinely-new content (within-batch dups collapse to
    * min doc_id first, like [[exact]]). EXACT — equal row-for-row to the
    * naive `batch ANTI JOIN corpus` — but the corpus NEVER SHUFFLES:
    *
    *  1. the corpus side collapses to a Bloom filter over its content
    *     digests (one map-side-combined aggregate → KBs of bits,
    *     broadcast). Batch digests that miss the filter are DEFINITELY
    *     new (no false negatives) and skip membership checking entirely —
    *     on a mostly-novel batch that is almost every row;
    *  2. the maybe-dup slice (true dups + ~fpp false positives) is small,
    *     so it BROADCASTS to a corpus semi-join probe: corpus rows stream
    *     past the broadcast map-side, and only matching digests (a
    *     dup-sized set) come back to anti-join the candidates exactly.
    *
    * Corpus cost per batch = two scans (bits + probe), zero corpus-sized
    * exchanges at any corpus:batch ratio. At 100 TB both amortize further:
    * Bloom bits are OR-mergeable (keep yesterday's bits, fold in the new
    * batch's — [[graft.functions.BloomAggFunctions.bloomBits]] is an
    * aggregate, so incremental maintenance is one small agg per ingest),
    * and a persisted digest column turns the probe scan into a one-column
    * read. fpp only costs extra candidate rows, never correctness. */
  def incrementalExact(corpus: DataFrame, batch: DataFrame,
                       numBits: Int = 1 << 22): DataFrame =
    incrementalExactDigests(
      corpus.select(md5(lower(trim(col("text")))).as("digest")), batch, numBits)

  /** [[incrementalExact]] with the corpus side already reduced to its
    * `digest` column — the production shape: a corpus table that STORES
    * content digests (e.g. the ingest table [[graft.streaming.StreamOps]]
    * maintains) turns both corpus passes into one-column scans. */
  def incrementalExactDigests(corpusDigests: DataFrame, batch: DataFrame,
                              numBits: Int = 1 << 22): DataFrame = {
    import graft.functions.BloomAggFunctions
    val batchByDigest = batch
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"))
      .groupBy("digest")
      .agg(min(col("doc_id")).as("survivor_id"),
           count(lit(1)).as("batch_count"))
    val bits = corpusDigests.agg(BloomAggFunctions.bloomBits(
      xxhash64(col("digest")), numBits, 5).as("__bits"))
    val marked = batchByDigest.crossJoin(broadcast(bits))
      .withColumn("__maybe", BloomAggFunctions.mightContain(
        col("__bits"), xxhash64(col("digest")), numBits, 5))
      .drop("__bits")
      // the flag forks the plan below; without a barrier both forks
      // re-run the batch agg AND the corpus bits agg
      .localCheckpoint(false)
    val definiteNew = marked.filter(!col("__maybe")).drop("__maybe")
    val candidates = marked.filter(col("__maybe")).drop("__maybe")
    // dup-sized digest set: corpus probes the broadcast candidates
    val dupDigests = corpusDigests
      .join(broadcast(candidates.select("digest")), Seq("digest"), "left_semi")
      .distinct()
    val confirmedNew = candidates
      .join(broadcast(dupDigests), Seq("digest"), "left_anti")
    definiteNew.unionByName(confirmedNew)
  }

  /** Incremental NEAR-dup detection for a growing corpus: verified
    * (batch_doc, corpus_doc, jaccard) pairs between a new batch and the
    * already-ingested corpus. The corpus side is its [[bandedSignatures]]
    * LSH INDEX — pass the persisted one via `corpusIndex` and ingesting a
    * batch never re-reads corpus text: the batch's own bands (computed
    * fresh, batch-sized) equi-join the index on (band_idx, band_hash),
    * the same exactly-once first-equal-band emission + signature-agreement
    * prefilter as [[minhashLsh]] bound the candidate set to
    * O(near-dups), and only candidate pairs load payloads for the exact
    * verify. Candidate volume scales with the batch's dup density, never
    * with corpus size — the asymmetric version of the 100 TB LSH shape.
    * Batch docs absent from the output are genuinely novel (up to LSH
    * recall; precision is exact by construction). */
  def incrementalMinhash(corpus: DataFrame, batch: DataFrame,
                         numHashes: Int = 64, bands: Int = 8,
                         threshold: Double = 0.8,
                         corpusIndex: Option[DataFrame] = None,
                         payloadJoin: PayloadJoin = PayloadJoin.Auto,
                         prefilterSlackSd: Double = 2.5,
                         batchBanded: Option[DataFrame] = None): DataFrame = {
    val r = numHashes / bands
    val idx = corpusIndex.getOrElse(bandedSignatures(corpus, numHashes, bands))
      .select(col("doc_id").as("doc_c"), col("sig").as("sig_c"),
        col("band_idx"), col("band_hash"))
    // the batch band exchange is width-pinned ([[graft.util.FanOut]]: AQE
    // would coalesce the KB-scale band exchange under the pair-amplifying
    // join). `batchBanded` (r17): the ingest loop already computed the
    // batch's band frame for its intra-batch pass and index append — reuse
    // it instead of re-running the signature pipeline.
    val bb = FanOut.pin(batchBanded
      .getOrElse(bandedSignatures(batch, numHashes, bands))
      .select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("band_idx"), col("band_hash")), col("band_idx"), col("band_hash"))
    // slack = ∞ disables the agreement prefilter (the recall-1
    // adjudication config, matching minhashLsh)
    val minAgree = math.max(0.0, (threshold - prefilterSlackSd * math.sqrt(
      threshold * (1 - threshold) / numHashes)) * numHashes).floor.toInt
    val cand0 = bb.hint("shuffle_hash").join(idx,
        Seq("band_idx", "band_hash"))
      .filter(graft.functions.VectorFunctions.firstEqualBand(
        col("sig_b"), col("sig_c"), r) === col("band_idx"))
    // no id-pair exchange before the verify, as in minhashLsh: the payload
    // joins run in the band-join stage (sf0.1, 4 cores: executor cpu
    // 2.2-2.7 s with the barrier, 1.4-1.7 s without)
    val cand = (if (minAgree == 0) cand0
      else cand0.filter(graft.functions.VectorFunctions.equalPositions(
        col("sig_b"), col("sig_c")) >= minAgree))
      .select(col("doc_b"), col("doc_c"))
    val bw = batch.select(col("doc_id").as("doc_b"), hashedWordSet.as("wb"))
    val cw = corpus.select(col("doc_id").as("doc_c"), hashedWordSet.as("wc"))
    verifiedJaccard(cand
      .join(payloadJoin.hint(bw), "doc_b")
      .join(payloadJoin.hint(cw), "doc_c"),
      col("wb"), col("wc"), threshold)
      .select(col("doc_b"), col("doc_c"), col("jaccard"))
  }

  /** Blocked pair enumeration + set-jaccard verify, shared by the exact
    * near-dup operators. The block self-join runs on (doc_id, lang, band)
    * rows ONLY — token payloads never ride the pair shuffle; they re-attach
    * per side afterwards under the caller's [[PayloadJoin]] strategy
    * (default: AQE decides broadcast vs shuffle from stats). */
  private def blockedJaccard(documents: DataFrame,
                             payload: org.apache.spark.sql.Column,
                             threshold: Double,
                             payloadJoin: PayloadJoin,
                             verify: (Column, Column) => Column = jaccard)
      : DataFrame = {
    val ids = documents.select(col("doc_id"), col("lang"),
      floor(col("n_chars") / 100).cast("long").as("band"))
    // the streamed side repartitions on the block key: the id frame is tiny
    // in bytes (the scan often yields ONE partition) while the block join
    // emits quadratically per block — without the explicit exchange the
    // whole pair emit would run on the scan's task count
    val pairs = FanOut.pin(
        ids.select(col("doc_id").as("doc_a"), col("lang"), col("band")),
        col("lang"), col("band"))
      .join(ids.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("band").as("band_b")),
        col("lang") === col("lang_b") && col("band") === col("band_b") &&
          col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    // stage barrier before the verify: fused into the block-join emit
    // stage, the payload probes + set jaccard run inside the
    // pair-amplifying iterator and cost 3x (id-pair exchange is 16 B/row
    // and co-partitions the first payload attach)
    val pinned = FanOut.pin(pairs, col("doc_a"))
    val pay = documents.select(col("doc_id"), payload.as("p"))
    pinned
      .join(payloadJoin.hint(pay.select(col("doc_id").as("doc_a"), col("p").as("pa"))), "doc_a")
      .join(payloadJoin.hint(pay.select(col("doc_id").as("doc_b"), col("p").as("pb"))), "doc_b")
      .withColumn("jaccard", verify(col("pa"), col("pb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round4(col("jaccard")).as("jaccard"))
  }

  /** Word-set Jaccard near-dup pairs with (lang, length-band) blocking.
    * Blocking keys are pure equi-join keys — (lang, n_chars div 100) — so
    * pair generation is a hash join partitioned on the block, never a
    * nested loop. [[minhashLsh]] is the scale path that approximates the
    * same pair set without enumerating blocks.
    *
    * r18: the verify adopts the minhash family's sorted-hash kernel —
    * each doc's distinct words hash once and the per-pair Jaccard is the
    * [[graft.functions.JaccardSortedLongs]] merge walk instead of
    * re-hashing every word string per candidate pair. Values equal the
    * word-STRING-set Jaccard unless two distinct words of a candidate
    * pair collide in 64 bits (~2⁻⁶⁴ per vocabulary pair — the collision
    * class the minhash verify already adopted in r17, and the oracle
    * adjudicates the string-set semantics directly at both SFs). */
  def jaccardPairs(documents: DataFrame, threshold: Double = 0.5,
                   payloadJoin: PayloadJoin = PayloadJoin.Auto): DataFrame =
    blockedJaccard(documents, hashedWordSet, threshold, payloadJoin,
      graft.functions.VectorFunctions.jaccardSortedLongs)

  /** (doc_id, sig, band_idx, band_hash) — the LSH band frame of a corpus:
    * each doc's MinHash signature computed IN-ROW from its hashed word set
    * ([[graft.functions.MinHashOfHashes]] over [[hashedWordSet]] — one
    * xxhash64 per distinct word, then k seeded re-hashes and a running
    * min; no token explode, no signature aggregate, no exchange),
    * exploded into `bands` bucket rows. Values are bit-identical to the
    * former explode → `graft_minhash` aggregate form: `xxhash64(w)` (seed
    * 42) is that aggregate's first-level token hash and `words` is already
    * distinct. Docs whose word array is null or empty have no signature
    * and drop out, as they did under the aggregate (spec-pinned).
    * This IS the persistable near-dup INDEX of a growing corpus: write it
    * once per ingest generation and every later batch joins against it
    * ([[incrementalMinhash]]) without touching corpus text again. */
  def bandedSignatures(documents: DataFrame, numHashes: Int = 64,
                       bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    // __wh is fenced (EvalOnce): the size guard would otherwise push below
    // the projection as a copy of the word hashing, which then ran twice
    // per row (scan Filter, then the minhash Project)
    bandRows(documents.select(col("doc_id"),
        graft.functions.EvalOnce(hashedWordSet).as("__wh"))
      .filter(size(col("__wh")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHashAgg.minhashOfHashes(col("__wh"), numHashes).as("sig")),
      bands, numHashes / bands)
  }

  /** (doc_id, sig) → one (doc_id, sig, band_idx, band_hash) row per band;
    * band_hash = xxhash64 over the band's `r` signature positions. */
  private[graft] def bandRows(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until bands).map(bi =>
        xxhash64((bi * r until (bi + 1) * r).map(j => col("sig")(j)): _*)): _*))
        .as(Seq("band_idx", "band_hash")))

  /** MinHash + LSH near-dup: k hash functions over the word set via seeded
    * xxhash64; signatures cut into b bands of r rows; docs sharing a band
    * bucket become candidates; candidates verified with exact Jaccard.
    *
    * Defaults target true near-duplicates (J >= 0.8, the usual corpus-dedup
    * setting): 64 hashes in 8 bands of 8 gives the S-curve midpoint at
    * (1/8)^(1/8) ~ 0.77 — recall ~0.77 at J=0.8, ~0.99 at J=0.9, while a
    * background pair at J~0.55 collides in under 1% of bands. That keeps
    * candidates ≈ O(near-dups) — the 100 TB property; r (rows per band) is
    * the knob that holds it on similarity-dense corpora.
    *
    * Candidate generation is one group-by on (band_idx, band_hash) feeding
    * the in-bucket pair kernel [[graft.functions.BucketPairs]]: each bucket
    * collects its members' (doc_id, sig, hot mask) and the kernel emits a
    * pair only from the pair's first agreeing non-hot band and only when
    * its signature agreement reaches the prefilter bound — the exactly-once
    * rule and the prefilter, fused with the pair walk instead of filtering
    * a band self-join's output. Nothing else is materialized per pair: no
    * pair is built twice, no signature is copied into a joined row, and
    * pairs stream out of the kernel, so a bucket costs memory for its
    * MEMBERS (f docs · numHashes longs), never for its f(f−1)/2 pairs. The
    * pair-check work per bucket is still quadratic in f, which is what
    * `maxBandDf` bounds.
    *
    * `maxBandDf` (r13) is the minhash analogue of the substring family's
    * window df cap: a band BUCKET shared by f docs costs f(f−1)/2 pair
    * checks — on a real crawl, boilerplate that dominates a band's minima
    * (a long shared header out-weighing short bodies) creates buckets of
    * thousands of docs whose pairs are mostly below-threshold noise the
    * verify then pays for (measured in SCALE_DEMO_r13: the hot-bucket
    * fan-out grows ~100× on a 10× corpus), and the bucket's member list is
    * held in memory. With a finite cap, buckets with > maxBandDf docs drop
    * BEFORE the bucket aggregate and pair dedup becomes "first agreeing
    * NON-HOT band" (an agreeing band means equal band values, so both docs
    * share that bucket's hotness — the OR of the two docs' hot-band
    * bitmasks speaks for the pair). The trade, explicit as everywhere in
    * the df family: a pair agreeing ONLY in hot buckets drops — which
    * includes exact-copy mega-clusters (all bands hot past the cap), so run
    * exact dedup (D1) first, as every production pipeline does; the capped
    * path's extra exchanges are hot-bucket-sized, never corpus-sized.
    * Default Int.MaxValue = uncapped: the same kernel with an all-zero hot
    * mask. */
  def minhashLsh(documents: DataFrame, numHashes: Int = 64, bands: Int = 8,
                 threshold: Double = 0.8,
                 payloadJoin: PayloadJoin = PayloadJoin.Auto,
                 prefilterSlackSd: Double = 2.5,
                 maxBandDf: Int = Int.MaxValue,
                 precomputedBanded: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val r = numHashes / bands
    // `precomputedBanded` (r17): a caller that also persists/appends the
    // band index (the ingest loop) passes its already-checkpointed
    // [[bandedSignatures]] frame so the signature pipeline runs once per
    // batch, not once per consumer. The frame must be exactly
    // bandedSignatures(documents, numHashes, bands).
    val banded = precomputedBanded
      .getOrElse(bandedSignatures(documents, numHashes, bands))
    // Prefilter: with k hashes the agreement fraction estimates J with sd
    // sqrt(J(1-J)/k) (~0.05 at k=64, J=0.8); 2.5 sd of slack keeps the miss
    // probability for a true threshold-J pair under ~1% while the exact
    // verify keeps precision perfect — pairs estimated hopelessly below the
    // threshold skip the payload joins entirely. `prefilterSlackSd =
    // Double.PositiveInfinity` disables it — the recall-1 adjudication
    // configuration, where NO probabilistic drop may sit between candidate
    // generation and the exact verify.
    val minAgree = math.max(0.0, (threshold - prefilterSlackSd * math.sqrt(
      threshold * (1 - threshold) / numHashes)) * numHashes).floor.toInt
    // The verify runs in the bucket stage, on the pairs as the kernel emits
    // them. An id-pair exchange between the two (the band-join-era
    // barrier) only shuffles every candidate: warm sf0.1, 4 cores,
    // executor cpu 3.4-4.0 s with it, 2.1-2.6 s without, wall flat
    // (plans/r22). A shuffled payload join brings its own doc_a exchange.
    // The docs side is usually tiny next to millions of candidate pairs, but
    // the choice is the caller's PayloadJoin strategy (default: AQE decides),
    // never a hardcoded hint that would OOM at corpus scale.
    val docsW = documents.select(col("doc_id"), hashedWordSet.as("w"))
    verifiedJaccard(bandCandidates(banded, bands, r, minAgree, maxBandDf)
      .join(payloadJoin.hint(docsW.select(col("doc_id").as("doc_a"), col("w").as("wa"))), "doc_a")
      .join(payloadJoin.hint(docsW.select(col("doc_id").as("doc_b"), col("w").as("wb"))), "doc_b"),
      col("wa"), col("wb"), threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** (doc_a, doc_b) LSH candidates of a band frame (doc_id, sig, band_idx,
    * band_hash): each pair at most once, from its first agreeing non-hot
    * band, with signature agreement >= `minAgree` — the candidate half of
    * [[minhashLsh]] (see there for the kernel and the `maxBandDf` cap). */
  private[graft] def bandCandidates(banded: DataFrame, bands: Int, r: Int,
                                    minAgree: Int, maxBandDf: Int): DataFrame = {
    val members =
      if (maxBandDf == Int.MaxValue) banded.withColumn("__hotmask", lit(0L))
      else {
        require(bands <= 64,
          s"the hot-band bitmask is a Long — maxBandDf needs bands <= 64, got $bands")
        // Hot-bucket cap (scaladoc above). The cap machinery is hot-sized:
        // the hot list (boilerplate buckets only) broadcasts; the per-doc
        // hot-band bitmask aggregates ONLY rows inside hot buckets (the
        // inner join drops everything else) and broadcasts back. The LAZY
        // checkpoint is the compute-once barrier for the three consumers
        // (bucket counts, mask, bucket members): without it, column
        // pruning specializes the banded frame per consumer and the
        // signature pipeline re-executes behind each (PlanSpec-pinned).
        val bandedC = banded.localCheckpoint(false)
        val hot = bandedC.groupBy("band_idx", "band_hash")
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxBandDf)
          .select("band_idx", "band_hash")
        val mask = bandedC.join(broadcast(hot), Seq("band_idx", "band_hash"))
          .groupBy("doc_id")
          .agg(sum(expr("shiftleft(1L, band_idx)")).as("__hotmask"))
        // a row sits in a hot bucket iff its own band's bit is set in its
        // doc's mask: the mask attach also drops the hot buckets
        bandedC.join(broadcast(mask), Seq("doc_id"), "left")
          .withColumn("__hotmask", coalesce(col("__hotmask"), lit(0L)))
          .filter(expr("shiftright(__hotmask, band_idx) & 1L") === 0L)
      }
    // Bucket members carry (doc_id, sig, hot mask) — token arrays NEVER
    // ride the band shuffle; they re-attach only for the emitted
    // candidates. The signature (numHashes longs per doc-band row) is what
    // the kernel's exactly-once rule and prefilter read. The band exchange
    // is KB-scale in BYTES while the pair walk above it is quadratic per
    // bucket, so its width is pinned ([[graft.util.FanOut]]): AQE would
    // coalesce it by bytes to 1-2 tasks. Singleton buckets pair nothing
    // and stop at the aggregate.
    FanOut.pin(
        members.select("doc_id", "sig", "__hotmask", "band_idx", "band_hash"),
        col("band_idx"), col("band_hash"))
      .groupBy("band_idx", "band_hash")
      .agg(collect_list(struct(col("doc_id"), col("sig"), col("__hotmask")))
        .as("__members"))
      .filter(size(col("__members")) > 1)
      .select(graft.functions.VectorFunctions.bucketPairs(
        col("__members"), col("band_idx"), r, minAgree))
  }

  /** The minhash family's exact verify over payload-attached pairs: the
    * sorted-hash set Jaccard, kept at `>= threshold` and rounded. The
    * Jaccard is fenced ([[graft.functions.EvalOnce]]): unfenced, the
    * threshold filter pushes into the payload join's condition by
    * substituting the kernel call, so every surviving pair ran the merge
    * walk twice (condition, then projection). */
  private def verifiedJaccard(pairs: DataFrame, a: Column, b: Column,
                              threshold: Double): DataFrame =
    pairs
      .withColumn("jaccard", graft.functions.EvalOnce(
        graft.functions.VectorFunctions.jaccardSortedLongs(a, b)))
      .filter(col("jaccard") >= threshold)
      .withColumn("jaccard", round4(col("jaccard")))

  /** Word n-gram (shingle) Jaccard near-dup pairs: contiguous 3-word
    * shingles instead of the word *set*, so word ORDER matters — two docs
    * sharing vocabulary but not phrasing stop matching. Same equi-key
    * blocking and native-jaccard verify as [[jaccardPairs]]. */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.3,
                   payloadJoin: PayloadJoin = PayloadJoin.Auto): DataFrame =
    // r18: the shingle set is the in-row [[graft.functions.NGramHashes]]
    // kernel — one pass hashing each 3-word window in place (sorted
    // distinct longs) instead of materializing every shingle as a fresh
    // string per position; the verify is the sorted-long merge walk.
    // Tokens come from a single-space split, so hashed-triple
    // distinctness equals shingle-STRING distinctness up to 64-bit
    // collisions (the r17 minhash-verify collision class; the oracle
    // adjudicates the string-set twin semantics directly at both SFs).
    blockedJaccard(documents,
      graft.functions.TermFunctions.ngramHashes(TextNorm.words(col("text")), 3),
      threshold, payloadJoin,
      graft.functions.VectorFunctions.jaccardSortedLongs)

  /** Shingle-CONTAINMENT near-dup pairs — the asymmetric complement of
    * [[ngramJaccard]]: containment C = |S(A)∩S(B)| / min(|S(A)|, |S(B)|)
    * flags a short document embedded inside a long one (quotes, mirrored
    * article + boilerplate, doc-in-doc), which symmetric Jaccard
    * structurally misses (the union denominator dilutes toward the big
    * doc's size — and [[blockedJaccard]]'s length-band blocking would
    * never even pair docs of very different lengths, which is exactly
    * the containment case). Broder's containment measure, the
    * RefinedWeb/CCNet-style sub-document screen.
    *
    * Shape: an inverted shingle index, NOT a blocked self-join — pairs
    * must cross length bands, so blocking is off the table. One
    * size-bounded aggregation of the (doc, shingle) frame yields the
    * per-shingle doc lists; BOTH the per-doc universe sizes and the
    * shared counts (in-row ordered-pair explosion, the
    * [[exactSubstringPairs]] group-by-key pattern — no self-join
    * exchange) derive from that already-aggregated frame, so the raw
    * shingle frame shuffles exactly once. The shingle UNIVERSE is df-capped
    * at `maxDf` on BOTH sides of the ratio (numerator and denominator
    * count only shingles in ≤ maxDf docs): corpus-hot boilerplate
    * shingles carry no containment signal, and dropping them from the
    * universe — not just the pair emit — keeps the measure a true ratio
    * over informative shingles while bounding the hot-key aggregation
    * row at maxDf and the pair fan-out at maxDf²/2 by construction.
    * The default (100) therefore CHANGES the measure vs an uncapped
    * ratio: shingles with df > maxDf count on neither side; pass
    * `Int.MaxValue` for the uncapped (and unbounded-state) ratio.
    *
    * Output: (doc_a, doc_b, shared, containment) — pair-set semantics. */
  /** (doc_id, sh) — one row per distinct 3-word shingle per doc; the
    * shared front end of [[containmentPairs]] and
    * [[incrementalContainment]] (same shingles — the operators measure
    * the same evidence through different denominators).
    *
    * r18: `sh` is the shingle's 8-byte xxhash64 key (the in-row
    * [[graft.functions.NGramHashes]] kernel) instead of the ~20-byte
    * shingle STRING the whole pipeline — the F12 aggregate, the pair
    * explosion, and the PERSISTED incremental index — used to carry:
    * shingles are only ever compared for identity, never displayed, so
    * every exchange and the index shrink to fixed-width longs and the
    * aggregate hashes longs instead of strings. Distinct hashed triples
    * equal distinct shingle strings up to 64-bit collisions (the r17
    * minhash-verify collision class; dedup_containment's oracle states
    * the string-shingle measure and hash-passes at both SFs). */
  private def shingleFrame(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      explode(graft.functions.TermFunctions.ngramHashes(
        TextNorm.words(col("text")), 3)).as("sh"))

  def containmentPairs(documents: DataFrame, threshold: Double = 0.6,
                       maxDf: Int = 100): DataFrame = {
    val ds = shingleFrame(documents)
    // ONE exchange of the raw shingle frame: the size-bounded aggregate
    // (see exactSubstringPairs — same df-cap trade, same constant-memory
    // buffer) yields the per-shingle doc lists; BOTH the per-doc universe
    // sizes and the shared counts then derive from this already-
    // aggregated, boilerplate-free frame (one row per informative
    // shingle), whose by-sh exchange Catalyst reuses across the two
    // branches — the raw frame never shuffles twice.
    val bySh = ds.groupBy("sh")
      .agg(graft.functions.BoundedSetAgg
        .minPosSet(col("doc_id"), lit(0L), maxDf).as("ds"))
      .filter(col("ds").isNotNull)
    // |S(doc)| over the capped universe: df=1 shingles count here (they
    // are informative — the doc's unique content) even though they can't
    // intersect anything in the pair branch
    val sizes = bySh.select(explode(col("ds")).as("e"))
      .groupBy(col("e.doc_id").as("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = bySh.filter(size(col("ds")) > 1)
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a.doc_id").as("doc_a"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("b"))
      .groupBy(col("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      // id-pair stage barrier before the size attach (the blockedJaccard
      // finding: fused, the joins ride the pair-amplifying iterator)
      .repartition(col("doc_a"))
    val c = col("shared").cast("double") / least(col("n_a"), col("n_b"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .filter(c >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), round4(c).as("containment"))
  }

  /** Incremental CONTAINMENT screen for a growing corpus — the
    * D35/D36/D47 pattern at shingle-containment granularity, completing
    * the dedup-family symmetry (every other family already had its
    * growing-corpus variant; a real curation loop screens each new
    * crawl batch against the corpus continuously, it never re-runs the
    * batch closed form).
    *
    * Persisted state (maintained by the caller via upserts, see
    * [[graft.streaming.StreamOps.containmentIngestBatch]]):
    *  - `corpusIndex` (sh, ds): the df-capped inverted shingle index —
    *    EXACTLY the [[containmentPairs]] F12 aggregate output, one row
    *    per shingle ever seen, `ds` = doc_id-sorted (doc_id, p) structs
    *    or NULL once the shingle's ALL-TIME df exceeded `maxDf`
    *    (overflow is absorbing: boilerplate stays boilerplate);
    *  - `corpusSizes` (doc_id, n_sh): each ingested doc's CURRENT
    *    capped-universe size — kept exact under the global cap by the
    *    decrement maintenance below.
    *
    * Per batch, everything scales with the batch's shingle density,
    * never corpus size: the index is probed by a semi-join on the
    * batch's shingles (index-scan + batch-sized shuffle, the D47
    * crossDrop shape), touched rows re-aggregate WITH the batch rows
    * through the same bounded F12 fold (the merge is a set-union by
    * doc_id, so a crash-replay recompute over half-committed state is
    * idempotent by construction), and:
    *  - a shingle crossing `maxDf` THIS batch flips to the overflow
    *    sentinel and every doc on its old list decrements `n_sh` by 1 —
    *    so per-doc sizes remain EXACTLY |{shingles of doc with all-time
    *    df ≤ maxDf}|, the same universe the batch closed form states;
    *  - batch docs enter `corpusSizes` with their capped counts;
    *  - pairs emit for batch-linked pairs only (≥ 1 batch side — the
    *    flag rides the F12 pos slot, corpus = 0 / batch = 1, and the
    *    min-fold keeps 0 for a replayed doc): shared counts over
    *    non-overflow touched shingles, sizes from the POST-merge state.
    *    Earlier batches' pair emissions are never revisited (their
    *    sizes were as-of their ingest — the same as-of semantics every
    *    incremental screen in this engine has); with a cap no batch
    *    ever crosses, the union of per-batch emissions equals the batch
    *    closed form on the full corpus (spec-proven).
    *
    * Cold (empty index) the single-batch run IS [[containmentPairs]] —
    * same aggregate, same universe, same ratio — which is what lets the
    * driver's `containment_inc` share `dedup_containment`'s oracle.
    *
    * Returns (pairs, indexUpserts, sizeUpserts); the caller commits the
    * upserts (MERGE on sh / doc_id) and appends the pairs under one
    * exactly-once tag each. */
  def incrementalContainment(batch: DataFrame, corpusIndex: DataFrame,
                             corpusSizes: DataFrame, threshold: Double = 0.6,
                             maxDf: Int = 100)
      : (DataFrame, DataFrame, DataFrame) = {
    val bs = shingleFrame(batch).localCheckpoint(false)
    val touched = corpusIndex
      .join(bs.select("sh").distinct(), Seq("sh"), "left_semi")
      .localCheckpoint(false)
    val oldLive = touched.filter(col("ds").isNotNull)
      .select(col("sh"), explode(col("ds")).as("e"))
      .select(col("sh"), col("e.doc_id").as("doc_id"), lit(0L).as("flag"))
    val batchRows = bs.select(col("sh"), col("doc_id"), lit(1L).as("flag"))
    val mergedAgg = oldLive.unionByName(batchRows)
      .groupBy("sh")
      .agg(graft.functions.BoundedSetAgg
        .minPosSet(col("doc_id"), col("flag"), maxDf).as("ds"))
    // overflow is absorbing: a shingle that ever crossed the cap stays
    // NULL even if the re-aggregation of its (now-empty) stored list
    // plus the batch would fit
    val merged = mergedAgg
      .join(touched.filter(col("ds").isNull)
        .select(col("sh"), lit(true).as("__over")), Seq("sh"), "left")
      .select(col("sh"), when(col("__over"), lit(null)
        .cast(mergedAgg.schema("ds").dataType)).otherwise(col("ds")).as("ds"))
      .localCheckpoint(false)
    // canonical stored form: the batch flag is scratch, reset to 0 so the
    // index bytes are a pure function of corpus content
    val indexUpserts = merged.select(col("sh"),
      transform(col("ds"), e =>
        struct(e.getField("doc_id").as("doc_id"), lit(0L).as("p"))).as("ds"))
    val newDocSizes = merged.filter(col("ds").isNotNull)
      .select(explode(col("ds")).as("e"))
      .filter(col("e.p") === 1L)
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
    // shingles that crossed the cap THIS batch: every doc on the old
    // list loses one informative shingle (≤ maxDf rows per shingle,
    // touched shingles only — batch-density-sized by construction)
    val dec = merged.filter(col("ds").isNull).select("sh")
      .join(touched.filter(col("ds").isNotNull), Seq("sh"))
      .select(explode(col("ds")).as("e"))
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("__d"))
    val corpusUpdates = corpusSizes.join(broadcast(dec), Seq("doc_id"))
      .select(col("doc_id"), (col("n_sh") - col("__d")).as("n_sh"))
    val sizeUpserts = newDocSizes.unionByName(corpusUpdates)
    // STRUCTURALLY corpus-free size attach: only docs that can appear in
    // a pair — docs on a touched non-overflow list, ≤ maxDf per touched
    // shingle, batch-density sized by the F12 cap — need sizes. The
    // corpus sizes table is only SCANNED (a broadcast semi-probe, the
    // same shape as the digest-index probe); it never enters an
    // exchange, so "no shuffle scales with corpus size" holds by plan
    // shape, not by AQE's mood (PlanSpec pins the pairs plan join-free
    // of any shuffle join)
    val linkedDocs = merged.filter(col("ds").isNotNull)
      .select(explode(col("ds")).as("e"))
      .select(col("e.doc_id").as("doc_id")).distinct()
    // POST-merge sizes for the ratio (untouched corpus docs keep theirs)
    val postSizes = corpusSizes
      .join(broadcast(linkedDocs), Seq("doc_id"), "left_semi")
      .join(broadcast(dec), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_sh") - coalesce(col("__d"), lit(0L))).as("n_sh"))
      .unionByName(newDocSizes)
    val pairFrame = merged
      .filter(col("ds").isNotNull && size(col("ds")) > 1)
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"), explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("b"))
      .filter(col("a.p") === 1L || col("b.p") === 1L)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      // id-pair stage barrier before the size attach (see containmentPairs)
      .repartition(col("doc_a"))
    val c = col("shared").cast("double") / least(col("n_a"), col("n_b"))
    val pairs = pairFrame
      .join(broadcast(postSizes
        .select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"))), "doc_a")
      .join(broadcast(postSizes
        .select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"))), "doc_b")
      .filter(c >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), round4(c).as("containment"))
    (pairs, indexUpserts, sizeUpserts)
  }

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pairwise matches into corpus-level dedup groups (the
    * survivor of each group is its minimum doc id, the component label).
    *
    * Algorithm: min-label propagation with pointer jumping, the MapReduce
    * CC family of Kiveris et al., "Connected Components in MapReduce and
    * Beyond" (SoCC'14). Each round (a) every node takes the min label among
    * itself and its neighbours — one hash join on the edge list plus a
    * partial-agg groupBy — and (b) labels compress through their own labels
    * (a second hash join), which halves chain depth, so convergence is
    * O(log n) rounds on any graph rather than O(diameter). Round state is
    * exactly one (id, label) row per node — payloads never enter the loop,
    * and nothing is ever collected to the driver. Each round is
    * localCheckpoint'ed to truncate lineage (iterative plans otherwise grow
    * exponentially); a multi-hour 100 TB job would swap in reliable
    * `checkpoint` against the cluster FS, same seam. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    // The loop's frees below assume at least one round materialized a
    // jumped generation (labels would otherwise still derive from the
    // freed nodes checkpoint and fail with lost-block errors on use).
    require(maxIter >= 1, s"connectedComponents needs maxIter >= 1, got $maxIter")
    // Checkpoint the RAW EDGES FIRST: e is referenced by the labels init and
    // twice per round — without this the (possibly expensive) pair source
    // would re-execute once per reference (measured 4x the minhash pipeline
    // on dedup_clusters_minhash). When the caller already hands us a
    // checkpointed frame (the memoized shared pair builds), re-copying its
    // 16 B/row cache through the block manager measured 2-5 executor-cpu-s
    // at sf0.1 for nothing — the cheap projection over the existing cached
    // blocks serves every reference.
    val eSel = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    val ownEdges = !materialized(pairs)
    val e0 = if (ownEdges) eSel.localCheckpoint() else eSel
    // Scale-adaptive loop parallelism (guide §2.2/§2.4: derive the
    // partitioning from the data, never from a constant): every exchange
    // inside the iterative loop is edge/node-scale, the loop runs O(log D)
    // rounds of several stages each, and AQE's coalescing leaves the width
    // at the session default (parallelismFirst). At the session's full
    // width a SMALL pair set pays the loop's cost in per-task fixed
    // overhead (task setup, hash-table init, shuffle bookkeeping) times
    // rounds × stages × partitions — executor CPU that dwarfs the actual
    // label arithmetic (measured at sf0.1: dedup_clusters_minhash burned
    // ~20 executor-cpu-s in the loop over a 26 k-edge graph). One count
    // over the already-checkpointed edges prices the loop: ~4 M edge rows
    // (~64 MB at 16 B/row) per partition, clamped to the session default
    // so a 100 TB edge set still fans out to the full configured width.
    // Label propagation is partition-count-invariant (min is commutative/
    // associative), so the result is bit-identical at any width.
    val callerSession = pairs.sparkSession
    val defaultSp = callerSession.conf.get("spark.sql.shuffle.partitions")
    val nEdges = e0.count()
    // ~256k edge rows (~4 MB at 16 B/row) per partition: measured at sf0.1
    // (2.63 M minhash edges, 4 rounds) — 32 partitions 7.2 s, 8-16
    // partitions 3.2-3.8 s, 1 partition 6.3 s; the fixed per-task cost and
    // the serial floor bracket the optimum, and the target sits at its
    // bottom while clamping to the session width for genuinely big graphs.
    val loopParts = math.max(1L, math.min(defaultSp.toLong.max(1L),
      nEdges / (256L << 10) + 1)).toInt
    // the loop width lives on a scoped session, never the caller's
    // (graft.util.Scoped); the checkpointed edge blocks are
    // context-scoped, so re-rooting them onto it is free
    val spark = graft.util.Scoped.session(callerSession,
      "spark.sql.shuffle.partitions" -> loopParts.toString)
    val e = graft.util.Scoped.rebind(e0, spark)
    locally {
      // Undirected view of the edges: two cheap scans of the cached edge
      // blocks per use — NEVER materialized. The r17 shape stored a
      // symmetric+self-loop edge list (`sym`) plus a `nodes` distinct as
      // separate localCheckpoints; probed at sf0.1 (2.63 M edges / 3 850
      // nodes) those E-scale prep passes — the 2E-row block-manager write,
      // the 2E distinct, and the first propagate over the fresh cache —
      // burned ~30 of the loop's ~38 executor-cpu-s while every
      // steady-state round cost ~1. NO dedup of the edge list: min-label
      // propagation is insensitive to duplicate edges.
      val undirected = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      // FUSED init (r18): node discovery + the first propagate round are
      // ONE aggregation over the raw edges — each endpoint of every edge
      // receives least(u, v), so min(received) per node = min over
      // {self} ∪ N(node), exactly the old round-1 propagate from identity
      // labels (and its key set IS the node set, so the former `nodes`
      // distinct is free). The fixed point is unchanged: min-label
      // propagation converges to the unique component-minimum labeling
      // from ANY labeling that is pointwise ≤ identity and ≥ the fixpoint.
      var labels = undirected
        .select(col("u"), least(col("u"), col("v")).as("label"))
        .groupBy(col("u")).agg(min("label").as("label"))
        .select(col("u").as("id"), col("label"))
        .localCheckpoint()
      val init = labels
      // Deliberate join strategy for the loop (guide §3.1): the label table
      // is ALWAYS node-scale (16 B/row) while the edge view is edge-scale,
      // so when the node count provably fits a broadcast (≤4M rows ≈ 64 MB
      // built), ship labels to the edges and the propagate pass reads the
      // cached edges with NO edge-scale exchange in any round — the planner
      // cannot know this (a checkpointed frame has no stats). Past the cap
      // the loop keeps the shuffle join, the 100 TB shape.
      val nNodes = labels.count()
      def maybeBroadcast(df: DataFrame): DataFrame =
        if (nNodes <= 4000000L) broadcast(df) else df
      // Labels only DECREASE round-over-round (min over neighbours including
      // self; pointer jumping maps a label through another label, itself a
      // min), so the label SUM is a fixed-point witness: unchanged sum ⟺
      // converged. One scalar aggregate per round replaces the former
      // join-the-two-generations row diff. decimal(38,0) so huge 64-bit ids
      // can never overflow the sum at corpus scale.
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      var prevGen: DataFrame = null
      var prevMin: DataFrame = null
      while (!converged && iter < maxIter) {
        // (a) propagate: min over the labels of self + neighbours — the
        // neighbour labels come from joining the undirected edge view, the
        // SELF label unions in as a node-scale row set (no materialized
        // self-loop edges). LAZY checkpoint: minLbl feeds BOTH sides of the
        // pointer-jump self-join below — without a barrier the edge-scale
        // join + partial aggregation executes once per side (the propagate
        // pass is the loop's only edge-scale work, so that doubled the
        // whole loop; measured at sf0.1: 3.2 s → 1.9 s for the 4-round
        // loop). The labelSum action materializes the cache as a side
        // effect — still one job per round.
        val minLbl = undirected
          .join(maybeBroadcast(labels.select(col("id").as("v"), col("label"))),
            "v")
          .select(col("u"), col("label"))
          .unionAll(labels.select(col("id").as("u"), col("label")))
          .groupBy(col("u")).agg(min("label").as("label"))
          .select(col("u").as("id"), col("label"))
          .localCheckpoint(false)
        // (b) pointer-jump: label := label(label) — labels are node ids, so
        // the lookup is a self-join; left+coalesce guards the fixed points.
        val jumped = minLbl.as("n")
          .join(maybeBroadcast(
            minLbl.select(col("id").as("pid"), col("label").as("plabel"))),
            col("n.label") === col("pid"), "left")
          .select(col("n.id").as("id"),
            coalesce(col("plabel"), col("n.label")).as("label"))
          .localCheckpoint(false)
        labels = jumped
        val s = labelSum(labels)
        // the superseded generation's cached blocks are dead the moment the
        // new one is materialized — free them so a long loop on a big graph
        // holds two generations, not `iter` of them
        if (prevGen ne null) freeLocalCheckpoint(prevGen)
        if (prevMin ne null) freeLocalCheckpoint(prevMin)
        prevGen = jumped
        prevMin = minLbl
        // null-safe: an empty edge set sums to null on both sides
        converged = java.util.Objects.equals(s, prevSum)
        prevSum = s
        iter += 1
      }
      // loop scratch is dead once the final labels generation is
      // materialized: free the superseded checkpoints so a bench/pipeline
      // running many CC consumers does not accumulate their blocks (the
      // loop always runs ≥ 1 round — require above — so `labels` never
      // still IS `init` here)
      if (prevMin ne null) freeLocalCheckpoint(prevMin)
      if (labels ne init) freeLocalCheckpoint(init)
      // the edge checkpoint is ours unless the caller's frame was reused
      if (ownEdges) freeLocalCheckpoint(e0)
      // hand the final (checkpointed) labels back on the CALLER's session
      // so downstream plans use the caller's width, not the loop's
      graft.util.Scoped.rebind(labels, callerSession)
    }
  }

  /** Whether `df` reads blocks that are already stored: an RDD-backed
    * frame whose RDD is checkpointed or persisted (a `localCheckpoint`
    * result, as the memoized shared pair builds are). A plain
    * `createDataFrame(rdd)` frame is RDD-backed too, but it recomputes its
    * source on every reference. */
  private[graft] def materialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.isCheckpointed ||
          lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }

  /** Drop a materialized localCheckpoint's cached blocks (the frame must
    * never be recomputed afterwards — lineage is truncated). */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Near-dup clusters from ANY pair source: connected components over the
    * (doc_a, doc_b) edges, then per-doc cluster id + size. Downstream dedup
    * keeps `doc_id == cluster_id` rows and drops the rest. */
  def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    cc.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** Near-dup clusters: exact blocked-Jaccard pairs → connected components.
    * Emits every document that has at least one near-dup, its component's
    * canonical (minimum) doc id, and the component size. */
  def clusters(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    clustersFromPairs(jaccardPairs(documents, threshold))

  /** The corpus AFTER near-dup removal: keep every unclustered doc plus
    * each cluster's canonical (minimum-id) member — the survivor-selection
    * policy every published dedup pipeline applies on top of clustering.
    * The removed set (cluster members ≠ canonical) is ≪ corpus and rides a
    * left-anti join, which AQE broadcasts; swap [[clusters]] for
    * [[clustersApprox]] at 100 TB (same contract, minhash edges).
    *
    * `precomputedClusters` lets a caller composing several survivor /
    * cluster consumers pay for the pair-generation + CC subgraph ONCE
    * (pass a cached/checkpointed [[clusters]] or [[clustersApprox]]
    * frame); default recomputes. */
  def dedupSurvivors(documents: DataFrame, threshold: Double = 0.5,
                     precomputedClusters: Option[DataFrame] = None): DataFrame = {
    val removed = precomputedClusters.getOrElse(clusters(documents, threshold))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    documents.join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }

  /** Survivor selection by QUALITY instead of seniority — what production
    * dedup actually keeps: within each near-dup cluster the doc with the
    * best quality signal wins (tie → lower id), not the lowest id. The
    * quality signal here is the structural word count (swap in any score
    * column — [[TextAnalysis.qualityScore]], a perplexity, a classifier
    * prob); one window over the cluster labels picks the canonical doc.
    * Unclustered docs survive unconditionally. Same shuffle budget as
    * [[dedupSurvivors]] plus one window on cluster_id. Accepts a
    * `precomputedClusters` frame to share the clustering subgraph with
    * other consumers (see [[dedupSurvivors]]). */
  def dedupSurvivorsByQuality(documents: DataFrame,
                              threshold: Double = 0.5,
                              precomputedClusters: Option[DataFrame] = None): DataFrame = {
    val quality = documents.select(col("doc_id"),
      size(graft.util.TextNorm.words(col("text"))).as("q"))
    val labeled = precomputedClusters // doc_id, cluster_id, size
      .getOrElse(clusters(documents, threshold))
      .join(quality, "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("q").desc, col("doc_id"))
    val losers = labeled
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") =!= 1)
      .select("doc_id")
    documents.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
  }

  /** The 100 TB clustering path: edges come from [[minhashLsh]] band
    * buckets (candidates ≈ O(near-dups), no block enumeration) instead of
    * the exact blocked pair join. CC is robust to the bounded edge loss —
    * a cluster only splits if EVERY bridging edge is missed — so recall vs
    * [[clusters]] at the same threshold stays high (spec-bounded). */
  def clustersApprox(documents: DataFrame, numHashes: Int = 64,
                     bands: Int = 8, threshold: Double = 0.8,
                     precomputedPairs: Option[DataFrame] = None): DataFrame =
    clustersFromPairs(precomputedPairs.getOrElse(
      minhashLsh(documents, numHashes, bands, threshold)))

  /** Train/test decontamination — the standard public-pipeline step (GPT-3
    * appendix C / PaLM / Llama style): a training document is contaminated
    * if it shares any `n`-word shingle (n=13 is the canonical setting) with
    * the held-out eval set. Emits every corpus doc with its count of
    * DISTINCT overlapping shingles and the contaminated flag.
    *
    * Scale shape: shingles are xxhash64'd to 8-byte longs before the join
    * (the join key never carries the ~80-char shingle strings), the eval
    * side reduces to a distinct hash set (tiny vs the corpus → AQE
    * broadcasts it), and the per-doc count is a map-side-combined groupBy.
    * One corpus-side shuffle on the shingle hash, nothing O(n²). */
  def decontaminate(corpus: DataFrame, eval: DataFrame, n: Int = 13,
                    minOverlap: Int = 1): DataFrame = {
    // r18: the in-row [[graft.functions.NGramHashes]] kernel — one pass,
    // no per-position 13-word string building; both sides key on the same
    // hash, so the overlap counts are unchanged up to the same 64-bit
    // collision class the old concat_ws+xxhash64 keys already carried
    def shingleHashes(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(graft.functions.TermFunctions.ngramHashes(
          TextNorm.words(col("text")), n)).as("sh"))
    val evalSh = shingleHashes(eval).select("sh").distinct()
    val overlap = shingleHashes(corpus).join(evalSh, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlapping_ngrams"))
    corpus.select("doc_id").join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlapping_ngrams"), lit(0L)).as("n_overlapping_ngrams"))
      .withColumn("contaminated", col("n_overlapping_ngrams") >= minOverlap)
  }

  /** Segment-level (sub-document) dedup — the Dolma/RefinedWeb "paragraph
    * dedup" stage: instead of dropping whole near-dup DOCUMENTS, drop the
    * repeated SEGMENTS (boilerplate headers, license blocks, navigation
    * chrome) and keep each document's residual novel text. The first
    * occurrence of a segment in global (doc_id, position) order survives;
    * every later occurrence — in the same document or any other — is cut,
    * and documents are reassembled from their surviving segments in
    * position order (a document that was ALL boilerplate disappears).
    *
    * Segmentation is a parameter: corpora with structure split on their
    * real paragraph delimiter; this synthetic corpus has none, so the
    * driver query uses fixed `segWords`-word windows — the machinery
    * (explode → global first-occurrence → positional reassembly) is
    * identical, and SQL-expressible for the oracle.
    *
    * Scale: two shuffles — one hash exchange on the segment (the
    * first-occurrence window; Dolma's BFF replaces this with a Bloom
    * membership test, trading exactness for zero shuffle — [[incrementalExact]]
    * shows that shape), one on doc_id for reassembly. The window carries
    * (segment, doc_id, pos) rows only; reassembly sorts WITHIN each doc's
    * collected array (array_sort on position structs — deterministic at
    * any partitioning), never globally. */
  /** The per-doc segment array: fixed `segWords`-word windows by default
    * (this corpus has no structural delimiters), or the REAL paragraph
    * boundaries when `delimiter` is given (`Some("\n\n")` — the Dolma
    * setting on corpora that have them). Scan-bound either way; the word
    * array materializes in its own projection because a lambda re-reads
    * it per element. */
  private def segmentArray(segWords: Int,
                           delimiter: Option[String]): Column =
    delimiter match {
      // empty segments (trailing/consecutive delimiters) carry no text and
      // are IGNORED (Dolma does the same) — otherwise "" would dedup
      // globally and whichever doc first produced a blank paragraph would
      // silently rewrite every other doc's blank spacing
      case Some(d) => filter(split(col("text"),
        java.util.regex.Pattern.quote(d)), s => s =!= lit(""))
      case None =>
        val k = segWords
        val nseg = ceil(size(col("__w")).cast("double") / k).cast("int")
        transform(sequence(lit(0), greatest(nseg, lit(1)) - 1), i =>
          concat_ws(" ", slice(col("__w"), i * k + 1, lit(k))))
    }

  def segmentDedup(documents: DataFrame, segWords: Int = 10,
                   delimiter: Option[String] = None): DataFrame = {
    val withW = documents.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("__w"))
    val segs = withW
      .select(col("doc_id"), segmentArray(segWords, delimiter).as("__segs"))
      .select(col("doc_id"), size(col("__segs")).as("n_segs"),
        posexplode(col("__segs")).as(Seq("pos", "seg")))
    // global first-occurrence-wins on the exact segment text (the oracle
    // compares strings; a production run keys the exchange on
    // xxhash64(seg) so only 8-byte keys shuffle)
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("doc_id"), col("pos"))
    val kept = segs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    kept.groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")), delimiter.getOrElse(" ")).as("text_dedup"),
        count(lit(1)).as("n_kept"),
        (min(col("n_segs")).cast("long") - count(lit(1))).as("n_dropped"))
  }

  /** The 100 TB twin of [[segmentDedup]]: identical output (modulo
    * xxhash64 collisions, ~2⁻⁶⁴ — the spec pins row-for-row equality on
    * the test corpus, and the driver shares the exact path's oracle), but
    * segment TEXT never rides the first-occurrence exchange:
    *
    *  1. segments hash to 8-byte xxhash64 keys map-side; the
    *     first-occurrence reduction is `min(struct(doc_id, pos))` per
    *     hash — a PARTIAL aggregate (map-side combined, where the exact
    *     path's window cannot combine) over (hash, doc, pos) rows only;
    *  2. surviving positions fold to one small per-doc array, which joins
    *     back to the doc row — the only time text crosses the wire, once,
    *     co-partitioned on doc_id (bucketed corpora pay nothing);
    *     reassembly indexes the doc's own segment array by position.
    *
    * Dolma's BFF replaces step 1's exchange with a sequential Bloom
    * membership test — zero shuffle, but false positives silently drop
    * novel text and the result depends on scan order; this form keeps
    * determinism and exactness at one 24-byte-row exchange. */
  /** (doc_id, __segs) for every doc — the shared front of the hashed
    * paths. */
  private def segFrame(documents: DataFrame, segWords: Int,
                       delimiter: Option[String]): DataFrame =
    documents.select(col("doc_id"), col("text"),
        split(col("text"), " ").as("__w"))
      .select(col("doc_id"), segmentArray(segWords, delimiter).as("__segs"))

  /** Per segment hash, the globally first (doc_id, pos) — a map-side-
    * combinable partial aggregate over 24-byte rows. */
  private def firstOccurrence(segs: DataFrame): DataFrame =
    segs.select(col("doc_id"),
        posexplode(transform(col("__segs"), s => xxhash64(s)))
          .as(Seq("pos", "h")))
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("h"), col("f.doc_id").as("doc_id"), col("f.pos").as("pos"))

  /** Reassemble docs from surviving (doc_id, pos) rows: positions fold to
    * one small per-doc array, text crosses the wire once on doc_id, each
    * doc indexes its own segment array. Inner join — docs with no
    * surviving segment disappear. */
  private def reassemble(segs: DataFrame, surviving: DataFrame,
                         delimiter: Option[String]): DataFrame = {
    val keptPos = surviving.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__keep"))
    segs.join(keptPos, Seq("doc_id"))
      .select(col("doc_id"),
        array_join(transform(col("__keep"),
          p => element_at(col("__segs"), p + 1)), delimiter.getOrElse(" "))
          .as("text_dedup"),
        size(col("__keep")).cast("long").as("n_kept"),
        (size(col("__segs")) - size(col("__keep"))).cast("long")
          .as("n_dropped"))
  }

  def segmentDedupHashed(documents: DataFrame, segWords: Int = 10,
                         delimiter: Option[String] = None): DataFrame = {
    val segs = segFrame(documents, segWords, delimiter)
    reassemble(segs, firstOccurrence(segs), delimiter)
  }

  /** Incremental SEGMENT-level dedup — [[segmentDedupHashed]] for a
    * GROWING corpus (the D35/D36 pattern at sub-document granularity):
    * a batch's segments dedup within the batch first (global
    * first-occurrence), then against `corpusHashes` — the persisted
    * one-column index of every segment hash ever ingested — via a
    * left-anti join the index side never re-derives from text. Returns
    * (surviving docs reassembled from their novel segments, the novel
    * hashes to append to the index): the caller lands both under one
    * exactly-once tag per table and the index stays incrementally
    * MAINTAINED, never recomputed. Batch-sized shuffles only; the corpus
    * side is an 8-byte-column scan at any corpus size. */
  def incrementalSegmentDedup(batch: DataFrame, corpusHashes: DataFrame,
                              segWords: Int = 10,
                              delimiter: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val segs = segFrame(batch, segWords, delimiter)
    // the novel set feeds BOTH returned frames (docs + index hashes);
    // the lazy checkpoint is the barrier that makes the dedup compute
    // once, not once per sink (same pattern as incrementalExactDigests)
    val novel = firstOccurrence(segs)
      .join(corpusHashes.select(col("h")), Seq("h"), "left_anti")
      .localCheckpoint(false)
    (reassemble(segs, novel, delimiter), novel.select(col("h")))
  }

  /** SimHash near-dup: 64-bit signature (sign of per-bit vote over token
    * hashes), candidates via chunk bands (hamming ≤ nChunks−1 ⇒ ≥1 equal
    * chunk by pigeonhole), verified with bit_count(xor). The default
    * 4×16-bit banding serves radius ≤ 3 bit-for-bit as before (r13
    * contract); LARGER radii now fall back to more, narrower chunks
    * (nChunks = maxHamming+1) instead of throwing — the pigeonhole
    * guarantee holds at any radius ≤ 63, the trade being narrower
    * buckets (more candidates to verify). */
  def simhash(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"a 64-bit signature supports radii 0..63, got $maxHamming")
    val tokens = documents.select(col("doc_id"), explode(words).as("t"))
    val sigs = tokens.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.simhash(col("t")).as("sig"))
    hammingBandPairs(sigs, maxHamming, nChunks = math.max(4, maxHamming + 1))
  }

  /** Chunk spans (shift offset, bit width) cutting a 64-bit signature
    * into `nChunks` contiguous pieces, widths differing by at most one —
    * the pigeonhole argument needs a disjoint cover, not equal widths,
    * so 64 % nChunks ≠ 0 (e.g. the 5-chunk pair-banding config) is
    * perfectly sound. */
  private def chunkSpans(nChunks: Int): IndexedSeq[(Int, Int)] = {
    val q = 64 / nChunks
    val r = 64 % nChunks
    val widths = IndexedSeq.tabulate(nChunks)(i => if (i < r) q + 1 else q)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  private def spanMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1

  /** Pigeonhole hamming banding over (doc_id, sig) 64-bit signatures —
    * the candidate+verify machinery shared by [[simhash]] (text),
    * [[imageNearDupPairs]] (dHash), [[audioNearDupPairs]] (fingerprint)
    * and [[videoNearDupPairs]]: candidates are an EQUI join on
    * (chunk_idx, chunk) (pairs scale with band-bucket density, never
    * all-pairs), the `bit_count(xor)` verify is exact, and the output is
    * therefore EXACTLY the hamming-≤-maxHamming pair set whenever
    * maxHamming is within the config's pigeonhole radius — what lets
    * dedup_image state a plain cross-join oracle rather than a recall
    * bound.
    *
    * Two configs on the SAME join (the SURVEY §4 "config change, not new
    * machinery" promise, made executable in r14):
    *  - `pairBands = false` (default): nChunks single-chunk bands of
    *    ~64/nChunks bits; ≤ maxHamming errors hit ≤ maxHamming chunks,
    *    so exact for maxHamming ≤ nChunks−1. nChunks=4 is the r13
    *    16-bit banding bit-for-bit.
    *  - `pairBands = true`: C(nChunks, 2) bands keyed on PAIRS of
    *    chunks (combined into one long — injective given fixed widths);
    *    ≤ maxHamming errors leave ≥ 2 clean chunks iff maxHamming ≤
    *    nChunks−2, so exact for maxHamming ≤ nChunks−2 — and the key
    *    space grows from 2^(64/n) to ~2^(2·64/n) per band, which is the
    *    answer to the >4M-item BIRTHDAY-crowding regime: at radius 3
    *    use nChunks=5 (10 bands of 25–26 bits, ~10⁸ buckets) instead of
    *    4 chunks of 16 bits (4 bands of 65536 buckets whose uniform
    *    load crosses quadratically past ~4M items). More bands, each
    *    exponentially sparser — candidate volume drops, exactness keeps.
    *
    * Exactly-once per pair WITHOUT re-shuffling the raw pair set: both
    * sigs ride the join, so "is this the FIRST band the pair agrees on"
    * is a map-side when-chain over the XOR's chunk pieces — fully
    * codegen'd, no exchange. */
  private[graft] def hammingBandPairs(sigs: DataFrame, maxHamming: Int,
                                      nChunks: Int = 4,
                                      pairBands: Boolean = false): DataFrame =
    bandedPairFrame(sigs, maxHamming, nChunks, pairBands)
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  /** The band descriptor set for a config: per band, the chunk pieces
    * whose agreement defines it. */
  private def bandPieceSets(nChunks: Int, pairBands: Boolean): IndexedSeq[Seq[Int]] =
    if (pairBands)
      (for { i <- 0 until nChunks; j <- i + 1 until nChunks } yield Seq(i, j))
        .toIndexedSeq
    else IndexedSeq.tabulate(nChunks)(Seq(_))

  private def sigPiece(spans: IndexedSeq[(Int, Int)])(c: Column, i: Int): Column = {
    val (off, w) = spans(i)
    shiftright(c, off).bitwiseAND(lit(spanMask(w)))
  }

  /** (doc_id, sig, chunk_idx, chunk) under a banding config — one row
    * per band, chunk = the band's key (the single chunk value, or the
    * injectively combined chunk pair). Factored so ScaleDemo can count
    * bucket fan-out Σ C(m,2) exactly per config. */
  private[graft] def bandKeyFrame(sigs: DataFrame, nChunks: Int,
                                  pairBands: Boolean): DataFrame = {
    val spans = chunkSpans(nChunks)
    val piece = sigPiece(spans) _
    val bands = bandPieceSets(nChunks, pairBands)
    def bandKey(b: Int): Column = bands(b) match {
      case Seq(i) => piece(col("sig"), i)
      case Seq(i, j) =>
        shiftleft(piece(col("sig"), i), spans(j)._2)
          .bitwiseOR(piece(col("sig"), j))
    }
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array(bands.indices.map(bandKey): _*))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** The shared body of [[hammingBandPairs]] (one (doc_id, sig) row per
    * item, so row pairs ARE item pairs) and [[anyMatchNearDupPairs]]
    * (multiple sig rows per item, re-aggregated per ITEM pair): emits
    * exactly one verified row per qualifying (row_a, row_b) signature
    * pair — the first-agreeing-band rule is per ROW pair, so
    * multi-signature items still count every matching combination. */
  private def bandedPairFrame(sigs: DataFrame, maxHamming: Int,
                              nChunks: Int, pairBands: Boolean): DataFrame = {
    require(nChunks >= (if (pairBands) 3 else 2) && nChunks <= 64,
      s"need ${if (pairBands) 3 else 2} <= nChunks <= 64, got $nChunks")
    val exactRadius = if (pairBands) nChunks - 2 else nChunks - 1
    require(maxHamming >= 0 && maxHamming <= exactRadius,
      s"${if (pairBands) "pair-" else ""}banding over $nChunks chunks is " +
        s"exact only for hamming <= $exactRadius, got $maxHamming")
    val spans = chunkSpans(nChunks)
    val piece = sigPiece(spans) _
    val bandPieces = bandPieceSets(nChunks, pairBands)
    // clean(b) ⟺ both sides' band keys equal (piece extraction is a
    // bijection onto disjoint bit ranges, the pair key injective)
    def clean(x: Column, b: Int): Column =
      bandPieces(b).map(piece(x, _) === 0).reduce(_ && _)
    // pin the emit stage's task count (see minhashLsh: AQE byte-based
    // coalescing is blind to join-output amplification)
    val chunked = FanOut.pin(bandKeyFrame(sigs, nChunks, pairBands),
      col("chunk_idx"), col("chunk"))
    val xr = col("x.sig").bitwiseXOR(col("y.sig"))
    val firstBand = (1 until bandPieces.size - 1)
      .foldLeft(when(clean(xr, 0), 0))((acc, b) => acc.when(clean(xr, b), b))
      .otherwise(bandPieces.size - 1)
    chunked.as("x").hint("shuffle_hash").join(chunked.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
        col("x.chunk") === col("y.chunk") && col("x.doc_id") < col("y.doc_id"))
      .filter(firstBand === col("x.chunk_idx"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(xr).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** IMAGE near-dup pairs — the LAION/DataComp perceptual-hash dedup
    * stage, completing the dedup family across modalities (every other
    * family keys on text): `hashes` = (doc_id, phash) from
    * [[graft.operators.Multimodal.imageHashes]] (one scan-bound decode
    * pass, 8 bytes/image out), pairs via the [[simhash]] chunk banding —
    * EXACT for radius ≤ 3 (pigeonhole), so on a corpus with known hash
    * arithmetic the whole pipeline is oracle-adjudicable, and on a real
    * corpus the spec bounds recall against pixel-exact truth under
    * brightness/noise/upscale perturbation (dHash's invariances).
    * Output (doc_a, doc_b, hamming), pair-set semantics. */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(hashes.select(col("doc_id"), col("phash").as("sig")),
      maxHamming)

  /** AUDIO near-dup pairs — [[imageNearDupPairs]]' audio twin over
    * [[graft.operators.Multimodal.audioHashes]]' 64-bit RMS-energy-
    * contour fingerprints (volume-invariant comparison bits, the same
    * design choice as dHash): identical banding, identical radius-≤-3
    * exactness, identical oracle story on a synthesized-envelope corpus.
    * Output (doc_a, doc_b, hamming), pair-set semantics. */
  def audioNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(hashes.select(col("doc_id"), col("ahash").as("sig")),
      maxHamming)

  /** (doc_id, sig, chunk_idx, chunk) — a 64-bit signature exploded into
    * its pigeonhole band keys (default the r13 4×16-bit single-chunk
    * layout; `pairBands` switches to the C(nChunks,2) combined-pair
    * keys, the birthday-crowding config): the PERSISTED index row shape
    * of the incremental hash screen (sig rides so the verify never
    * re-reads the corpus table) and the probe shape of its batch side.
    * An index is probe-compatible only with the SAME (nChunks,
    * pairBands) it was built at — past the ~4M-item crowding point,
    * re-chunk (rebuild) at the pair-banding config and probe with the
    * matching parameters. */
  private[graft] def sigChunks(sigs: DataFrame, nChunks: Int = 4,
                               pairBands: Boolean = false): DataFrame =
    bandKeyFrame(sigs.select(col("doc_id"), col("sig")), nChunks, pairBands)

  /** Asymmetric hamming probe — a batch of 64-bit signatures against the
    * PERSISTED corpus chunk index (the incrementalMinhash shape at hash
    * granularity, shared by all three perceptual-hash modalities):
    * the batch's ≤ nChunks·|batch| distinct chunk values broadcast as a
    * semi-join prune, so the corpus index is only SCANNED — the rows
    * that survive (candidate-density-sized) join the batch chunks,
    * exactly-once per pair via the first-agreeing-chunk map-side rule,
    * `bit_count(xor)` verifies. Exact at radius ≤ nChunks−1 (pigeonhole),
    * like the batch operator; `nChunks` must match the index build
    * (see [[sigChunks]]). Output (doc_c, doc_b, hamming). */
  def incrementalHammingPairs(batchSigs: DataFrame, corpusChunks: DataFrame,
                              maxHamming: Int = 3, nChunks: Int = 4,
                              pairBands: Boolean = false): DataFrame = {
    require(nChunks >= (if (pairBands) 3 else 2) && nChunks <= 64,
      s"need ${if (pairBands) 3 else 2} <= nChunks <= 64, got $nChunks")
    val exactRadius = if (pairBands) nChunks - 2 else nChunks - 1
    require(maxHamming >= 0 && maxHamming <= exactRadius,
      s"${if (pairBands) "pair-" else ""}banding over $nChunks chunks is " +
        s"exact only for hamming <= $exactRadius, got $maxHamming")
    val spans = chunkSpans(nChunks)
    val piece = sigPiece(spans) _
    val bands = bandPieceSets(nChunks, pairBands)
    val bc = FanOut.pin(sigChunks(batchSigs, nChunks, pairBands)
      .select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("chunk_idx"), col("chunk")), col("chunk_idx"), col("chunk"))
    val probeKeys = bc.select("chunk_idx", "chunk").distinct()
    val hits = corpusChunks
      .join(broadcast(probeKeys), Seq("chunk_idx", "chunk"), "left_semi")
      .select(col("doc_id").as("doc_c"), col("sig").as("sig_c"),
        col("chunk_idx"), col("chunk"))
    val xr = col("sig_c").bitwiseXOR(col("sig_b"))
    def clean(b: Int): Column =
      bands(b).map(piece(xr, _) === 0).reduce(_ && _)
    val firstBand = (1 until bands.size - 1)
      .foldLeft(when(clean(0), 0))((acc, b) => acc.when(clean(b), b))
      .otherwise(bands.size - 1)
    bc.hint("shuffle_hash").join(hits, Seq("chunk_idx", "chunk"))
      .filter(firstBand === col("chunk_idx"))
      .select(col("doc_c"), col("doc_b"), bit_count(xr).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Asymmetric ANY-MATCH probe (r14 — [[incrementalHammingPairs]] at
    * multi-signature granularity, for the multi-frame-video ingest
    * loop): a batch of (doc_id, slot, sig) rows against a PERSISTED
    * corpus chunk index built from the corpus items' slot signatures
    * ([[sigChunks]] over (doc_id, sig) rows, one per slot). Same
    * broadcast semi-prune + first-agreeing-band exactly-once per
    * SIGNATURE pair, then one aggregation over the VERIFIED matches:
    * (doc_c, doc_b, hamming = min over matching signature pairs,
    * n_slot_matches). */
  def incrementalAnyMatchPairs(batchSlotSigs: DataFrame,
                               corpusChunks: DataFrame,
                               maxHamming: Int = 3, nChunks: Int = 4,
                               pairBands: Boolean = false): DataFrame =
    incrementalHammingPairs(
        batchSlotSigs.select(col("doc_id"), col("sig")),
        corpusChunks, maxHamming, nChunks, pairBands)
      .groupBy(col("doc_c"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"),
           count(lit(1)).as("n_slot_matches"))

  /** ANY-MATCH near-dup pairs over MULTI-signature items (r14, VERDICT
    * #1 — the production multi-frame video / multi-offset audio shape):
    * input (doc_id, slot, sig) with k signatures per item (strided video
    * frames, strided audio offsets), two ITEMS pair when ANY of their
    * signature pairs sits within `maxHamming` — which is what catches a
    * re-cut clip (its frames match at DIFFERENT slots) or a trimmed
    * audio stream. Candidates ride the same pigeonhole banding as
    * [[hammingBandPairs]] (same nChunks/pairBands configs, same
    * exactness guarantee per SIGNATURE pair), exactly-once per signature
    * pair via the map-side first-agreeing-band rule; the doc-level
    * collapse is then ONE aggregation over the VERIFIED pair set (tiny —
    * matches, not candidates): hamming = min over matching signature
    * pairs, n_slot_matches = how many signature pairs matched. Items
    * never self-pair. Output (doc_a, doc_b, hamming, n_slot_matches),
    * pair-set semantics. */
  def anyMatchNearDupPairs(slotSigs: DataFrame, maxHamming: Int = 3,
                           nChunks: Int = 4,
                           pairBands: Boolean = false): DataFrame =
    bandedPairFrame(slotSigs.select(col("doc_id"), col("sig")),
        maxHamming, nChunks, pairBands)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"),
           count(lit(1)).as("n_slot_matches"))

  /** VIDEO near-dup pairs over [[graft.operators.Multimodal
    * .videoHashes]]' first-MJPEG-frame dHashes — the third modality on
    * the shared banding (a production corpus fingerprints k strided
    * frames per clip and pairs on any frame match; the machinery is
    * identical). Output (doc_a, doc_b, hamming), pair-set semantics. */
  def videoNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(hashes.select(col("doc_id"), col("vhash").as("sig")),
      maxHamming)

  /** MULTI-frame video near-dup pairs (r14 — the production shape
    * [[videoNearDupPairs]]' scaladoc promised): over
    * [[graft.operators.Multimodal.videoHashesStrided]]' (doc_id,
    * frame_slot, vhash) rows, two clips pair when ANY of their strided
    * frames sit within `maxHamming` — the rule that catches a re-cut
    * clip, whose content matches at DIFFERENT frame slots. Machinery =
    * [[anyMatchNearDupPairs]]. Output (doc_a, doc_b, hamming = min over
    * matching frame pairs, n_slot_matches). */
  def videoNearDupPairsMulti(frameHashes: DataFrame,
                             maxHamming: Int = 3): DataFrame =
    anyMatchNearDupPairs(frameHashes.select(col("doc_id"),
      col("frame_slot").as("slot"), col("vhash").as("sig")), maxHamming)

  /** SHIFT-robust audio near-dup pairs (r14 — [[videoNearDupPairsMulti]]'
    * audio analogue) over [[graft.operators.Multimodal
    * .audioHashesStrided]]' per-offset fingerprints: clips pair when ANY
    * offset fingerprints sit within `maxHamming`, which recovers a clip
    * trimmed by a stride multiple (its fingerprints are its source's,
    * shifted one slot). Output (doc_a, doc_b, hamming, n_slot_matches),
    * pair-set semantics. */
  def audioNearDupPairsMulti(offsetHashes: DataFrame,
                             maxHamming: Int = 3): DataFrame =
    anyMatchNearDupPairs(offsetHashes.select(col("doc_id"),
      col("off_slot").as("slot"), col("ahash").as("sig")), maxHamming)

  /** Exact substring dedup — the suffix-array method (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): two
    * documents are flagged when they share ANY exact character run of
    * ≥ `minChars`, a strictly finer net than 13-gram winnowing (which
    * shingles by WORD and samples fingerprints; this misses nothing and
    * works below the shingle granularity). Spark-first reformulation of
    * the suffix sort: a shared run of ≥ minChars exists iff some
    * length-`minChars` window (a suffix truncated to minChars) occurs in
    * both docs verbatim, so emit every window and group equal ones —
    * the same O(total chars) row count a suffix array sorts, through
    * Spark's external shuffle instead of a pointer array.
    *
    * This EXACT path shuffles the raw windows (n·minChars bytes):
    * collision-free by construction and the DuckDB-adjudicable twin.
    * At 100 TB use [[exactSubstringPairsHashed]] — same output through
    * 8-byte hashed rows + a candidates-only verify.
    *
    * Output: (doc_a, doc_b, shared_windows = distinct shared windows
    * with document frequency ≤ `maxDf` — the boilerplate cap, see the
    * body) — pair-set semantics.
    *
    * BEHAVIOR NOTE (r11): `maxDf` defaulted to 100 when the df cap
    * landed — pairs sharing ONLY corpus-hot windows (df > maxDf, i.e.
    * boilerplate) no longer emit under the defaults, on both pair paths
    * and in the oracle, which states the identical cap. Callers who
    * genuinely want boilerplate-driven pairs must pass a larger
    * `maxDf` explicitly (`Int.MaxValue` restores the uncapped r10
    * behavior — and with it the unbounded hot-window aggregation state
    * the cap exists to prevent). */
  def exactSubstringPairs(documents: DataFrame, minChars: Int = 40,
                          maxDf: Int = 100): DataFrame = {
    // group-by-window instead of a self-join: ONE shuffle keyed by the
    // window (partial aggregation dedups map-side, so each (window, doc)
    // travels once), pairs explode inside the row, and the pair count is
    // the second and last shuffle. The join formulation paid a third
    // exchange for the same answer.
    //
    // Boilerplate cap (the verbatim_overlap/D11c trade, here at window
    // granularity): a window shared by f docs would build an f-element
    // collect_set row and emit f(f-1)/2 pairs — on real corpora license
    // headers/navbars make some windows corpus-hot, an unbounded hot-key
    // blow-up. BoundedMinPosSet caps the aggregation state at maxDf
    // entries BY CONSTRUCTION (the (maxDf+1)-st distinct doc flips the
    // buffer to a sentinel and frees it, map-side partials included) and
    // evaluates hot windows to NULL, so both the buffer and the pair
    // fan-out are ≤ maxDf / maxDf²/2 with no extra exchange — the df
    // pre-count + join formulation bought the same bound for 2 more
    // exchanges of the per-character window frame (measured 2.5× the
    // query's CPU). The trade is explicit and matches the suffix-array
    // dedup literature: a run verbatim-shared by >maxDf documents is
    // boilerplate, not the near-copy signal pair dedup exists to find
    // (pairs REPORTED may shrink; no pair is fabricated).
    substringWindows(documents, minChars)
      .groupBy(col("sub"))
      .agg(graft.functions.BoundedSetAgg
        .minPosSet(col("doc_id"), lit(0L), maxDf).as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) > 1)
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a.doc_id").as("doc_a"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("b"))
      .groupBy(col("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** The 100 TB shuffle diet for [[exactSubstringPairs]]: windows travel
    * as (doc_id, xxhash64, pos) — 24ish bytes instead of `minChars` —
    * candidate pairs join on the hash, and the REAL text verifies only
    * the candidates (re-fetched by doc, a join sized by dup density, not
    * corpus size). Output ≡ the exact path up to 64-bit hash collisions
    * (≈2⁻⁶⁴ per window pair; a collision can only DROP a window — the
    * verify kills fabrications — so precision is exact and the
    * equivalence is spec-pinned on real corpora).
    *
    * `maxDf` default 100 (r11): pairs sharing ONLY windows with df >
    * maxDf (boilerplate) are intentionally dropped; pass `Int.MaxValue`
    * for the uncapped r10 behavior (see [[exactSubstringPairs]]). */
  def exactSubstringPairsHashed(documents: DataFrame, minChars: Int = 40,
                                maxDf: Int = 100): DataFrame =
    exactSubstringPairsHashedSharded(documents, minChars, maxDf, numShards = 1)

  /** [[exactSubstringPairsHashed]] with the window-hash space split into
    * `numShards` disjoint slices (`pmod(h, numShards)`) — the executable
    * form of the 100 TB story SURVEY §4 documents (Lee et al. shard
    * their suffix arrays by prefix the same way): each shard's candidate
    * generation is an INDEPENDENT group-by over ~1/numShards of the
    * window rows, so the largest single shuffle is shard-sized and
    * shards can run as separate jobs/stages against the same persisted
    * (doc_id, h, p) table. Shards partition the hash space, so every
    * candidate pair occurrence arises in exactly one shard; the union
    * feeds ONE text-verify join and ONE final pair count — output ≡ the
    * unsharded path for every numShards (spec-pinned).
    *
    * `maxDf` default 100 (r11): pairs sharing ONLY windows with df >
    * maxDf (boilerplate) are intentionally dropped; pass `Int.MaxValue`
    * for the uncapped r10 behavior (see [[exactSubstringPairs]]). */
  def exactSubstringPairsHashedSharded(documents: DataFrame,
                                       minChars: Int = 40, maxDf: Int = 100,
                                       numShards: Int = 4): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val raw = hashedSubstringWindows(documents, minChars)
    // numShards > 1 re-reads the window frame once per shard — pin it
    // with a local checkpoint so the explode computes once (the 100 TB
    // deployment persists this (doc_id, p, h) table anyway; shards then
    // run as independent jobs against it)
    val wins = if (numShards == 1) raw else raw.localCheckpoint(false)
    val cand =
      if (numShards == 1) hashedCandidates(wins, maxDf)
      else (0 until numShards).map { s =>
        hashedCandidates(
          wins.filter(pmod(col("h"), lit(numShards.toLong)) === s), maxDf)
      }.reduce(_.union(_)) // Dataset.union is positional UNION ALL
    val txt = documents.select(col("doc_id"), col("text"))
    cand.join(txt.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(txt.as("tb"), col("doc_b") === col("tb.doc_id"))
      .filter(col("ta.text").substr(col("pa"), lit(minChars)) ===
              col("tb.text").substr(col("pb"), lit(minChars)))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_windows"))
  }

  /** Candidate (doc_a, pa, doc_b, pb) pairs from a raw (doc_id, p, h)
    * window frame: ONE [[graft.functions.BoundedMinPosSet]] aggregation
    * keyed by the hash does everything the r10 shape needed two
    * exchanges for — per-(doc, hash) dedup with the deterministic min
    * position (enough for the verify fetch), the df cap (same
    * boilerplate trade as [[exactSubstringPairs]], enforced inside the
    * constant-bounded buffer), and the doc_id-sorted list the in-row
    * ordered-pair explosion consumes (pairs doc_a < doc_b by
    * construction) — no self-join exchange, no pre-aggregation. */
  private def hashedCandidates(wins: DataFrame, maxDf: Int): DataFrame =
    wins
      .groupBy("h")
      .agg(graft.functions.BoundedSetAgg
        .minPosSet(col("doc_id"), col("p"), maxDf).as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) > 1)
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("b"))
      .select(col("a.doc_id").as("doc_a"), col("a.p").cast("int").as("pa"),
              col("b.doc_id").as("doc_b"), col("b.p").cast("int").as("pb"))

  /** Incremental EXACT-substring dedup — [[exactSubstringPairsHashed]]
    * for a GROWING corpus (the D35/D36/segment pattern at verbatim-run
    * granularity): a batch doc DROPS when it shares any ≥`minChars`
    * verbatim run with a LOWER-id batch doc or with anything ever
    * ingested — probed against `corpusIndex`, the persisted one-column
    * table of every window hash ever seen, via a left-semi join that
    * never re-reads corpus text. The rule is GLOBAL and non-cascading
    * (a doc duplicating a DROPPED doc still drops), which is why the
    * returned index delta carries EVERY batch doc's windows, not just
    * survivors' — and exactly what makes the cold single-batch run a
    * closed form plain SQL states (survivor ⟺ no shared window with
    * any lower doc_id). Window identity is the 64-bit xxhash64 (the
    * segment-dedup trade: 8 B/window through the index at any corpus
    * size; a collision can only over-drop, at ~2⁻⁶⁴ per window pair).
    * Returns (surviving docs, new window hashes); the caller lands both
    * under one exactly-once tag per table. Batch-sized shuffles only.
    * Docs shorter than `minChars` have no windows and always survive. */
  def incrementalSubstringDedup(batch: DataFrame, corpusIndex: DataFrame,
                                minChars: Int = 40)
      : (DataFrame, DataFrame) = {
    // NO distinct here (r17): every consumer absorbs duplicate
    // (doc_id, h) rows — the intra-batch rule is a per-h min (duplicate
    // rows cannot change a min), the cross-batch probe is a left-semi
    // (existence), and both the drop sets and the index delta are
    // distinct'd at their own (much smaller) outputs. The removed
    // distinct was a full extra exchange + hash aggregation of the
    // window frame — the largest frame in the query — per batch.
    // Repeated windows within one doc (real crawl text repeats) make
    // the checkpoint marginally larger; they were never semantic.
    val wins = hashedSubstringWindows(batch, minChars)
      .select(col("doc_id"), col("h"))
      .localCheckpoint(false)
    // intra-batch: shares a window with a lower-id batch doc. The drop
    // predicate never needs PAIRS — "shares a window with a lower-id
    // doc" ⟺ doc_id > min(doc_id) over the window hash — so it is one
    // linear windowed aggregation: a corpus-hot boilerplate window
    // shared by f batch docs costs f rows through a (spilling) sort, not
    // the f²/2 row fan-out the earlier self-join formulation paid.
    // Semantically identical (the batch-boundary-invariance property in
    // DedupSpec re-proves survivors against the closed-form rule).
    // A window function, DELIBERATELY: the agg-then-join form of the
    // same rule was measured 2× this CPU on a quiet box — window hashes
    // are ~unique, so the min-per-h partial aggregation gets no map-side
    // reduction and the join pays a full extra exchange of the frame;
    // the window's single exchange + sort is the cheaper linear shape.
    val intraDrop = wins
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(col("h"))).as("mn"))
      .filter(col("doc_id") > col("mn"))
      .select(col("doc_id")).distinct()
    // cross-batch: shares a window with anything ever ingested
    val crossDrop = wins.join(corpusIndex.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val survivors = batch
      .join(intraDrop.union(crossDrop).distinct(), Seq("doc_id"), "left_anti")
    // the index delta is every NEW hash in the batch (all docs, dropped
    // included — the global rule), deduped against the corpus index so
    // the index table stays one row per distinct hash ever seen
    val newHashes = wins.select(col("h")).distinct()
      .join(corpusIndex.select(col("h")), Seq("h"), "left_anti")
    (survivors, newHashes)
  }

  /** Every length-`minChars` character window of every document:
    * (doc_id, p 1-based, sub). Shared stage of both substring-dedup
    * paths — the generate + substring stays in one codegen stage; only
    * the projected columns ever shuffle. */
  private def substringWindows(documents: DataFrame, minChars: Int): DataFrame =
    documents.filter(length(col("text")) >= minChars)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (minChars - 1))).as("p"),
        col("text"))
      .select(col("doc_id"), col("p"),
        col("text").substr(col("p").cast("int"), lit(minChars)).as("sub"))

  /** The hashed twin of [[substringWindows]]: (doc_id, p 1-based, h =
    * xxhash64 of the window) via the one-pass [[graft.functions
    * .WindowHashes]] kernel — bit-identical hashes to
    * `xxhash64(substr(text, p, minChars))` (spec-pinned) with zero
    * per-window UTF8String copies, which were the dominant per-task cost
    * of the scale paths (every character position used to allocate a
    * `minChars`-char substring just to hash it). */
  private def hashedSubstringWindows(documents: DataFrame,
                                     minChars: Int): DataFrame =
    documents.filter(length(col("text")) >= minChars)
      .select(col("doc_id"),
        posexplode(graft.functions.VectorFunctions.windowHashes(
          col("text"), minChars)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("h"))

  /** Exact-regime twin of [[simhash]]: run the FULL banding pipeline at
    * radius 0 and restrict the output to pairs with equal distinct-word
    * SETS — the subdomain where hamming-0 is PROVABLE (the signature is
    * a commutative vote over the distinct-token hashes, so equal sets ⇒
    * equal sigs ⇒ chunk 0 of the XOR banding matches ⇒ the pair emits,
    * exactly once, with hamming 0). That restriction is plain SQL both
    * engines state, so the oracle adjudicates signature determinism,
    * the chunk-band join, and the first-agreeing-chunk exactly-once
    * dedup end-to-end. (The UNRESTRICTED radius-0 set adds only sig
    * collisions across different word sets — engine-specific hash
    * arithmetic no SQL oracle can restate, which is exactly why the
    * general query stays rows-only.) */
  def simhashExactRegime(documents: DataFrame): DataFrame = {
    val ws = documents.select(col("doc_id"),
      sort_array(TextNorm.distinctWords(col("text"))).as("ws"))
    simhash(documents, maxHamming = 0)
      .join(ws.as("wa"), col("doc_a") === col("wa.doc_id"))
      .join(ws.as("wb"), col("doc_b") === col("wb.doc_id"))
      .filter(col("wa.ws") === col("wb.ws"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
