package graft

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale demonstration for the df-capped dedup families
  * (r12, VERDICT #6): the cap's 100 TB story — "boilerplate-hot windows
  * cost a sentinel, not df²/2 pairs; corpus growth costs linear work" —
  * was argued from plan shapes and specs; this main MEASURES it on a
  * corpus built to be hostile (corpus-hot license-header runs shared by
  * hundreds-to-thousands of docs, the exact pattern Lee et al. 2021
  * §4 report dominating real crawl dedup).
  *
  * Corpus construction (in `workDir`, deterministic — no RNG, every
  * choice a function of doc_id, so the run is reproducible bit-for-bit):
  *  - base = the driver's sf0.1 `documents` table (5000 docs);
  *  - x10 = 10 replicas of every doc; replica r prefixes EVERY word
  *    with `r{r}x`, so replicas share no ≥40-char run and no 3-word
  *    shingle — corpus size grows 10× at CONSTANT dup density (the
  *    honest scaling axis; verbatim cloning would instead grow pair
  *    density quadratically in the replication factor);
  *  - 30% of docs (doc_id % 10 < 3) get one of three ~140-char
  *    boilerplate headers (picked by doc_id % 3) prepended UNMUTATED —
  *    at x1 each header's windows sit in ~500 docs, at x10 ~5000, both
  *    far past maxDf=100, so the F12 cap binds at both scales.
  *
  * Measurements (min-of-`iters` wall + executor-CPU via TaskMetrics,
  * the Bench protocol):
  *  1. capped substring_h / substring_shard(4) / containment at x1 and
  *     x10 — the claim is ≲linear wall/cpu in corpus size;
  *  2. UNCAPPED (maxDf = MaxValue, the r10 shape) substring_h at x1 —
  *     the same corpus where the capped path is sub-second-per-1k-docs
  *     pays the hot-window pair explosion for real;
  *  3. the x10 uncapped candidate fan-out Σ_h df(df−1)/2 counted
  *     EXACTLY from the window-hash frame (cheap aggregation) — the
  *     run §2 demonstrates infeasible is stated as a measured row
  *     count, not an estimate;
  *  4. incrementalContainment probing the SAME fresh 500-doc batch
  *     against the x1 index vs the x10 index — the incremental claim
  *     ("per batch everything shuffles batch-sized; corpus size is a
  *     scan-side cost only") shows up as probe wall growing ≪ 10×.
  *
  * r13 adds the MINHASH family (VERDICT #6 — the engine's top intrinsic
  * cpu family had plan pins but no measured scale curve): a second
  * corpus pair (m1/m10) plants a HOT BAND BUCKET — a 100-token header
  * (≫ the ~23-distinct-token bodies) on 30% of docs, so ~(100/123)⁸ ≈
  * 19% of header docs land each band's minima entirely inside the
  * header and share that band's value verbatim, while header-pair
  * Jaccard ≈ 100/146 stays BELOW the 0.8 threshold (the bucket is pure
  * false-candidate mass, not intrinsic output). Measured: the uncapped
  * banded join's hot fan-out grows ~100× on the 10× corpus (counted
  * exactly), the maxBandDf-capped path (r13, Dedup.minhashLsh) stays
  * ≲linear with IDENTICAL verified output on this corpus (the dropped
  * candidates were all below threshold).
  *
  * r15 also adds the URL-DEDUP SKEW demo (§8): a hot URL refetched
  * 200k/2M times (each refetch with different utm tracking, so the
  * skew appears only after canonicalization) measured through BOTH
  * keep-rule shapes — the r14 window (whole hot key in one task) vs
  * the r15 map-side-combined groupBy-min — outputs required equal.
  *
  * r17 adds the BPE APPLY-PRICING demo (§10): the claim "the tokenizer
  * fold is priced per corpus-DISTINCT word, never per occurrence"
  * (TextAnalysis.bpeVocab's distinct-word join) gets a number — the
  * fold stage measured on the base corpus, on a typo-injected corpus
  * with ~10× the VOCABULARY at the same occurrence count (a web-scale
  * typo/hash vocabulary is exactly this shape), and on a replicated
  * corpus with 10× the OCCURRENCES over the same vocabulary. Distinct
  * pricing predicts: cost tracks the first axis and stays flat on the
  * second; the full apply on the 10×-occurrence corpus then shows the
  * occurrence axis riding the join scan, not the fold.
  *
  * r16 adds the LANDING-DIFF demo (§9): the archive ingest loop's
  * landing-vs-processed diff at a 10⁵-file processed lifetime — the
  * old per-batch collect of the WHOLE processed table (driver rows
  * linear in lifetime, forever) vs the engine-side left-anti diff
  * (driver rows = the batch's fresh files), fresh sets required equal.
  *
  * r15 adds the WARC FILE-SCALE demo (§7): an archive 5× the
  * whole-payload path's 256 MB inflated ceiling (the CommonCrawl
  * segment size class) is refused wholesale by the one-row path and
  * fully parsed by the record-streamed file source — the measured form
  * of "parses WARC" vs "ingests a crawl" — plus the 8-way file-split
  * run measuring the one-task-per-archive parallel axis.
  *
  * r14 adds the HAMMING BANDING crowding demo (VERDICT #2): a planted
  * birthday-crowded chunk bucket (30% of sigs share one 16-bit chunk
  * value) makes the default 4×16 banding's candidate fan-out quadratic
  * in corpus size, while the 5-chunk PAIR banding (10 bands of 25–26
  * bits, exact at the same radius 3) spreads the crowd ~2¹⁰ ways —
  * fan-out counted exactly per config, walls measured at 1× and 10×,
  * verified outputs required equal (both configs are exact).
  *
  * Usage: runMain graft.ScaleDemo [sfDir] [workDir] [outJson]
  * Writes one JSON object to stdout and to `outJson`. */
object ScaleDemo {
  private val Headers = Seq(
    "license agreement permission is hereby granted free of charge to any person obtaining a copy of this software and associated documentation files",
    "all content copyright the respective site owners terms of service privacy policy cookie settings subscribe to our newsletter follow us on social media",
    "this page was generated automatically please do not edit navigation home about products contact careers support documentation legal sitemap")

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scaledemo")
    val outJson = args.lift(2).getOrElse("SCALE_DEMO_r17.json")
    val cpus = graft.util.BenchHarness.cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val meter = new graft.util.BenchHarness.CpuMeter(spark.sparkContext)
    def cpuSnapshot(): Long = meter.snapshot()
    def timed(thunk: => Long): (Double, Double, Long) = {
      var bestW = Double.MaxValue; var bestC = Double.MaxValue; var rows = 0L
      (1 to iters).foreach { _ =>
        val c0 = cpuSnapshot(); val t0 = System.nanoTime()
        rows = thunk
        val w = (System.nanoTime() - t0) / 1e9
        val c = (cpuSnapshot() - c0) / 1e9
        if (w < bestW) bestW = w
        if (c < bestC) bestC = c
      }
      (bestW, bestC, rows)
    }

    // ---- corpus generation (deterministic, written once per scale) ----
    val base = Parquet.read(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val header = element_at(typedlit(Headers), (col("doc_id") % 3).cast("int") + 1)
    def corpus(reps: Int): DataFrame =
      (0 until reps).map { r =>
        // replica r: every word prefixed r{r}x — replicas share nothing
        val mut = array_join(transform(split(col("text"), " "),
          w => concat(lit(s"r${r}x"), w)), " ")
        base.select(
          (col("doc_id") * 10 + r).as("doc_id"),
          when(col("doc_id") % 10 < 3, concat(header, lit(" "), mut))
            .otherwise(mut).as("text"),
          col("lang"), col("source"))
      }.reduce(_ unionByName _)
    def materialize(name: String, reps: Int): DataFrame = {
      val path = s"$workDir/$name"
      corpus(reps).repartition(32).write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    val x1 = materialize("x1", 1)
    val x10 = materialize("x10", 10)
    // a FRESH batch for the incremental probe: the first 500 base docs
    // by doc_id (deterministic — no unordered limit), word-mutated with
    // a replica tag neither corpus uses, ids offset into a DISJOINT
    // range (x10 ids top out at 10·maxBase+9, far below 10_000_000 —
    // colliding ids would violate incrementalContainment's unique-id
    // contract), headers planted by the SAME doc_id%10<3 rule so ~30%
    // of the batch hits the hot capped index rows like a real crawl
    // batch would
    val batch = {
      val path = s"$workDir/batch"
      val mut = array_join(transform(split(col("text"), " "),
        w => concat(lit("r99x"), w)), " ")
      base.orderBy("doc_id").limit(500)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          when(col("doc_id") % 10 < 3, concat(header, lit(" "), mut))
            .otherwise(mut).as("text"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }

    import graft.operators.Dedup
    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Long)]()
    def run(key: String)(thunk: => Long): Unit = {
      results(key) = timed(thunk)
      val (w, c, n) = results(key)
      System.err.println(f"[scaledemo] $key%-28s wall=$w%8.2f cpu=$c%8.2f rows=$n")
    }

    // 1. capped paths at both scales (count() forces the full pair set)
    run("substring_h_x1")(Dedup.exactSubstringPairsHashed(x1).count())
    run("substring_h_x10")(Dedup.exactSubstringPairsHashed(x10).count())
    run("substring_shard4_x1")(
      Dedup.exactSubstringPairsHashedSharded(x1, numShards = 4).count())
    run("substring_shard4_x10")(
      Dedup.exactSubstringPairsHashedSharded(x10, numShards = 4).count())
    run("containment_x1")(Dedup.containmentPairs(x1).count())
    run("containment_x10")(Dedup.containmentPairs(x10).count())

    // 2. the r10 shape (uncapped) on the SAME x1 corpus: the hot-window
    // pair explosion paid for real. Run once (min-of-1): the point is
    // the order of magnitude, and two runs would double a long wait.
    locally {
      val c0 = cpuSnapshot(); val t0 = System.nanoTime()
      val n = Dedup.exactSubstringPairsHashed(x1, maxDf = Int.MaxValue).count()
      results("substring_h_x1_UNCAPPED") =
        ((System.nanoTime() - t0) / 1e9, (cpuSnapshot() - c0) / 1e9, n)
      val (w, c, _) = results("substring_h_x1_UNCAPPED")
      System.err.println(f"[scaledemo] substring_h_x1_UNCAPPED     wall=$w%8.2f cpu=$c%8.2f rows=$n")
    }

    // 3. EXACT uncapped candidate fan-out at x10: Σ_h df(df−1)/2 over
    // the window-hash frame (the row count stage 2 would explode into
    // before any aggregation) — counted, not estimated
    val fanout = (d: DataFrame) => d.filter(length(col("text")) >= 40)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), length(col("text")) - 40),
        i => xxhash64(col("text").substr(i + 1, lit(40))))).as("h"))
      .groupBy("h").agg(countDistinct("doc_id").as("df"))
      .select(sum((col("df") * (col("df") - 1) / 2).cast("long")))
      .head().getLong(0)
    val fanoutX10 = fanout(x10)
    val fanoutX1 = fanout(x1)
    System.err.println(s"[scaledemo] uncapped fan-out x1=$fanoutX1 x10=$fanoutX10")

    // 4. incremental probe: same batch, 1× vs 10× index. Index/sizes
    // built via the cold path (= containmentPairs aggregate) and
    // parqueted, as the production loop persists them.
    def buildIndex(name: String, docs: DataFrame): (DataFrame, DataFrame) = {
      // the cold-start empty state of the ingest loop's contracts
      val (_, idx, sizes) = Dedup.incrementalContainment(docs,
        corpusIndex = graft.streaming.StreamOps.ContainmentIndex.empty(spark),
        corpusSizes = graft.streaming.StreamOps.ContainmentSizes.empty(spark))
      idx.write.mode("overwrite").parquet(s"$workDir/$name.idx")
      sizes.write.mode("overwrite").parquet(s"$workDir/$name.sizes")
      (Parquet.read(spark, s"$workDir/$name.idx"),
        Parquet.read(spark, s"$workDir/$name.sizes"))
    }
    val (idx1, sz1) = buildIndex("x1", x1)
    val (idx10, sz10) = buildIndex("x10", x10)
    run("inc_probe_vs_x1") {
      val (pairs, _, _) = Dedup.incrementalContainment(batch, idx1, sz1)
      pairs.count()
    }
    run("inc_probe_vs_x10") {
      val (pairs, _, _) = Dedup.incrementalContainment(batch, idx10, sz10)
      pairs.count()
    }
    // the SUBSTRING family's incremental probe against the one-column
    // window-hash index (8 B/window at any corpus size): same claim,
    // same shape — survivors + index delta forced, corpus text never read
    def winIndex(name: String, docs: DataFrame): DataFrame = {
      val path = s"$workDir/$name.winidx"
      val (_, hashes) = Dedup.incrementalSubstringDedup(docs,
        graft.streaming.StreamOps.SubstringHashes.empty(spark))
      hashes.write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    val win1 = winIndex("x1", x1)
    val win10 = winIndex("x10", x10)
    run("ss_inc_probe_vs_x1") {
      val (docs, _) = Dedup.incrementalSubstringDedup(batch, win1)
      docs.count()
    }
    run("ss_inc_probe_vs_x10") {
      val (docs, _) = Dedup.incrementalSubstringDedup(batch, win10)
      docs.count()
    }

    // ---- 5. minhash family (r13): planted hot band bucket ----
    // m-corpus: bodies prefixed with the doc's OWN id (fully disjoint
    // across docs — the base corpus shares one small vocabulary, so a
    // shared header would otherwise glue every header pair into a TRUE
    // near-dup and the hot bucket would be intrinsic output, not noise),
    // plus a 100-token UNMUTATED header on 30% of docs that out-weighs
    // the ~23-distinct-token bodies in the minhash minima: each band's
    // "all minima from the header" bucket collects ~19% of header docs
    // at one band value, while header-pair Jaccard (~100/146 = 0.68)
    // stays below the 0.8 threshold — pure false-candidate mass. One doc
    // in 1000 gets an EXACT TWIN (identical token set, disjoint from
    // everything else): its body-involved bands are private to the pair
    // (non-hot), so capped and uncapped VERIFIED outputs must agree —
    // the twins prove the capped path still emits true pairs, the
    // equality proves the hot bucket contributed none (asserted below).
    val mheader = (0 until 100).map(i => s"hdrtok$i").mkString(" ")
    def mcorpus(name: String, reps: Int): DataFrame = {
      val path = s"$workDir/$name"
      val core = (0 until reps).map { r =>
        base.select((col("doc_id") * 10 + r).as("doc_id"),
          (col("doc_id") % 10 < 3).as("__hdr"), col("text"))
      }.reduce(_ unionByName _)
      // each body word becomes 3 per-doc-unique variants: the shortest
      // base doc (10 words, ~7 distinct) still carries > 21 distinct
      // body tokens, so header-pair Jaccard ≤ 100/142 < 0.8 for EVERY
      // doc length — the hot bucket is provably pure noise
      val bodied = core.select(col("doc_id"), array_join(flatten(transform(
          split(col("text"), " "),
          w => array(concat(lit("d"), col("doc_id"), lit("x"), w),
                     concat(lit("d"), col("doc_id"), lit("y"), w),
                     concat(lit("d"), col("doc_id"), lit("z"), w)))), " ").as("body"),
        col("__hdr"))
        .select(col("doc_id"),
          when(col("__hdr"), concat(lit(mheader), lit(" "), col("body")))
            .otherwise(col("body")).as("text"))
      val twins = bodied.filter(col("doc_id") % 1000 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      bodied.unionByName(twins).repartition(32)
        .write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    val m1 = mcorpus("m1", 1)
    val m10 = mcorpus("m10", 10)
    var mUncapped1 = 0L; var mCapped1 = 0L
    var mUncapped10 = 0L; var mCapped10 = 0L
    run("minhash_m1")(
      { mUncapped1 = Dedup.minhashLsh(m1).count(); mUncapped1 })
    run("minhash_capped_m1")(
      { mCapped1 = Dedup.minhashLsh(m1, maxBandDf = 100).count(); mCapped1 })
    run("minhash_m10")(
      { mUncapped10 = Dedup.minhashLsh(m10).count(); mUncapped10 })
    run("minhash_capped_m10")(
      { mCapped10 = Dedup.minhashLsh(m10, maxBandDf = 100).count(); mCapped10 })
    // hot-bucket candidate fan-out, counted exactly: the rows the band
    // join emits from buckets past the cap — the quadratic term the cap
    // removes (the bucket is below-threshold noise, so output is equal)
    val bandFanout = (d: DataFrame) =>
      Dedup.bandedSignatures(d).groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("df")).filter(col("df") > 100)
        .select(sum((col("df") * (col("df") - 1) / 2).cast("long")))
        .head().get(0) match { case null => 0L; case n: Long => n }
    val mFanout1 = bandFanout(m1)
    val mFanout10 = bandFanout(m10)
    System.err.println(s"[scaledemo] minhash hot fan-out m1=$mFanout1 m10=$mFanout10" +
      s" out(uncapped/capped) m1=$mUncapped1/$mCapped1 m10=$mUncapped10/$mCapped10")
    require(mUncapped1 == mCapped1 && mUncapped10 == mCapped10,
      "hot-bucket pairs were below threshold by construction — capped and " +
      "uncapped verified outputs must agree on this corpus")

    // ---- 6. hamming banding (r14): planted birthday-crowded bucket ----
    // h-corpus: deterministic 64-bit sigs (xxhash64 of the id); 30% of
    // items get their LOW 16 BITS CLEARED — under the default 4×16
    // single-chunk banding they all land in band 0's bucket 0, the
    // planted analogue of the uniform birthday crowding a >4M-item
    // corpus hits (0.3n items in one 2¹⁶-bucket band ⇒ C(0.3n,2)
    // candidate rows, quadratic in n). Under the 5-chunk PAIR banding
    // (10 bands of 25–26 bits) every band key still carries ≥10 random
    // bits for these items, so the crowd spreads ~2¹⁰ ways and the
    // fan-out collapses. High bits stay independent draws (pair hamming
    // ~24), so the crowd contributes NO true pairs — every 100th item
    // gets a 2-bit-flipped twin (flips at bits 20/45, outside the
    // cleared range) so both configs must emit exactly the twin pairs:
    // radius-3 exactness says the outputs are EQUAL, asserted below.
    def hcorpus(name: String, n: Long): DataFrame = {
      val path = s"$workDir/$name"
      val sig0 = xxhash64(col("id"))
      val sigc = when(col("id") % 10 < 3,
        sig0.bitwiseAND(lit(~0xFFFFL))).otherwise(sig0)
      val baseSigs = spark.range(n).select(col("id").as("doc_id"), sigc.as("sig"))
      val twins = baseSigs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          col("sig").bitwiseXOR(lit((1L << 20) | (1L << 45))).as("sig"))
      baseSigs.unionByName(twins).repartition(32)
        .write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    val h1 = hcorpus("h1", 20000)
    val h10 = hcorpus("h10", 200000)
    var h4c1 = 0L; var hp1 = 0L; var h4c10 = 0L; var hp10 = 0L
    run("hamming_4x16_h1")(
      { h4c1 = Dedup.hammingBandPairs(h1, 3).count(); h4c1 })
    run("hamming_pair5_h1")(
      { hp1 = Dedup.hammingBandPairs(h1, 3, nChunks = 5,
          pairBands = true).count(); hp1 })
    run("hamming_4x16_h10")(
      { h4c10 = Dedup.hammingBandPairs(h10, 3).count(); h4c10 })
    run("hamming_pair5_h10")(
      { hp10 = Dedup.hammingBandPairs(h10, 3, nChunks = 5,
          pairBands = true).count(); hp10 })
    require(h4c1 == hp1 && h4c10 == hp10,
      "both configs are exact at radius 3 — outputs must agree")
    // bucket fan-out Σ C(m,2), counted exactly per config: the candidate
    // row count the band join emits before any verify
    val hFanout = (d: DataFrame, nChunks: Int, pair: Boolean) =>
      Dedup.bandKeyFrame(d, nChunks, pair).groupBy("chunk_idx", "chunk")
        .agg(count(lit(1)).as("m"))
        .select(sum((col("m") * (col("m") - 1) / 2).cast("long")))
        .head().get(0) match { case null => 0L; case n: Long => n }
    val hf1s = hFanout(h1, 4, false); val hf1p = hFanout(h1, 5, true)
    val hf10s = hFanout(h10, 4, false); val hf10p = hFanout(h10, 5, true)
    System.err.println(s"[scaledemo] hamming fan-out 4x16 h1=$hf1s h10=$hf10s" +
      s" pair5 h1=$hf1p h10=$hf10p")

    // ---- 7. WARC file-scale ingestion (r15): past the payload cap ----
    // One archive FIVE TIMES the whole-payload path's 256 MB inflated
    // ceiling (2500 pages x 512 KB bodies ≈ 1.28 GB inflated — the
    // CommonCrawl-segment size class), written page-streamed: the
    // one-row path MUST refuse it wholesale (decompression-bomb
    // discipline), the record-streamed file source parses every record
    // with per-RECORD bounded memory. The same pages split across 8
    // archives measure the file-parallel scaling axis (one task per
    // archive — the segment is the crawl's natural work unit).
    val warcDir1 = s"$workDir/warc1"; val warcDir8 = s"$workDir/warc8"
    val pageBody = new Array[Byte](512 * 1024) // zeros: fast gzip, honest inflate
    val nPages = 2500
    def warcPages(ids: Range): Iterator[(String, String, Array[Byte])] =
      ids.iterator.map(i =>
        (s"urn:graft:doc:$i", s"https://example.com/doc/$i", pageBody))
    locally {
      new java.io.File(warcDir1).mkdirs(); new java.io.File(warcDir8).mkdirs()
      graft.sources.Warc.writeSyntheticArchive(warcDir1, "seg.warc.gz",
        warcPages(0 until nPages))
      (0 until 8).foreach(f => graft.sources.Warc.writeSyntheticArchive(
        warcDir8, f"part-$f.warc.gz",
        warcPages(f * (nPages / 8) until
          (if (f == 7) nPages else (f + 1) * (nPages / 8)))))
    }
    val segBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$warcDir1/seg.warc.gz"))
    require(graft.sources.Warc.parseWarc(segBytes).isEmpty,
      "the whole-payload path must refuse a 1.28 GB-inflated archive")
    var warc1 = 0L; var warc8 = 0L
    run("warc_stream_1file")(
      { warc1 = graft.sources.Warc.readWarcFiles(spark, warcDir1).count(); warc1 })
    run("warc_stream_8files")(
      { warc8 = graft.sources.Warc.readWarcFiles(spark, warcDir8).count(); warc8 })
    require(warc1 == 3L * nPages && warc8 == 3L * nPages,
      s"every record of the over-cap archives must parse: $warc1/$warc8")
    val warcInflatedMb = nPages.toLong * pageBody.length / (1024 * 1024)
    val warcGzMb = segBytes.length / (1024.0 * 1024)
    System.err.println(f"[scaledemo] warc inflated=${warcInflatedMb}MB " +
      f"gz=$warcGzMb%.1fMB records=$warc1 (whole-payload path refused)")

    // ---- 8. urlDedup skew (r15): the hot-URL refetch storm ----
    // Crawl refetch counts are heavy-tailed: one viral page fetched
    // millions of times (each refetch with DIFFERENT utm tracking, so
    // the skew materializes only AFTER canonicalization — exactly where
    // a pre-shuffle fix can't see it), and every refetch row carries
    // its PAGE PAYLOAD. The r14 keep rule
    // (min().over(partitionBy(url_canonical))) drags every hot-key
    // payload through ONE window task's sort buffer; the r15 shape
    // (map-side-combined groupBy-min + SHUFFLE_HASH join back) never
    // sorts the payload side — rows stream past a distinct-URL-sized
    // build table, and AQE can skew-split the hash join's hot
    // partition where a window is structurally unsplittable. Both
    // forms measured on the same payload-bearing corpora, outputs
    // required identical. (The first attempt of this fix used the
    // default join and planned a sort-merge join — the payload sort
    // came BACK, 3× worse than the window; the hint is load-bearing
    // and this demo is what caught it.)
    def ucorpus(name: String, n: Long): DataFrame = {
      val path = s"$workDir/$name"
      spark.range(n).select(col("id").as("doc_id"),
          when(col("id") % 10 < 4,
            concat(lit("https://news.example/hot-story?utm_source=s"),
              col("id") % 97, lit("&id=1")))
            .otherwise(concat(lit("https://news.example/p/"), col("id")))
            .as("url"),
          // ~1 KB deterministic page payload per refetch row
          concat(lit("p"), col("id"), lit(" "),
            repeat(concat(lit("w"), col("id") % 1000, lit(" ")), 180))
            .as("text"))
        .repartition(32).write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    val u1 = ucorpus("u1", 200000)    // hot key: 80k payload rows
    val u10 = ucorpus("u10", 2000000) // hot key: 800k payload rows
    def windowKeep(d: DataFrame): Long = {
      val canon = d.withColumn("url_canonical",
        graft.operators.Curation.canonicalUrl(col("url")))
      canon.withColumn("keep", col("doc_id") ===
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("url_canonical"))))
        .filter(col("keep")).agg(count(lit(1)), sum(length(col("text"))))
        .head().getLong(0)
    }
    def aggKeep(d: DataFrame): Long =
      graft.operators.Curation.urlDedup(d).filter(col("keep"))
        .agg(count(lit(1)), sum(length(col("text")))).head().getLong(0)
    var uw1 = 0L; var ua1 = 0L; var uw10 = 0L; var ua10 = 0L
    run("urldedup_window_u1")({ uw1 = windowKeep(u1); uw1 })
    run("urldedup_agg_u1")({ ua1 = aggKeep(u1); ua1 })
    run("urldedup_window_u10")({ uw10 = windowKeep(u10); uw10 })
    run("urldedup_agg_u10")({ ua10 = aggKeep(u10); ua10 })
    require(uw1 == ua1 && uw10 == ua10,
      s"keep semantics must be identical: $uw1/$ua1, $uw10/$ua10")
    // the SKEW metric itself, measured: the hot task's memory footprint
    // (peakExecutionMemory + spill, max over tasks) and total spill.
    // The window must BUFFER every hot-key payload row in one task —
    // its footprint grows with the hot key; the hash-join probe
    // streams them past a distinct-URL-sized build table — its
    // footprint does not. Wall alone understates this on a machine
    // with fast local disk and a hot key that still fits in memory;
    // the footprint is what decides survival at 10^7 refetches.
    def memProfile(thunk: => Long): (Long, Long) = {
      meter.taskPeakSnapshotAndReset()
      val s0 = meter.spillSnapshot()
      thunk
      (meter.spillSnapshot() - s0, meter.taskPeakSnapshotAndReset())
    }
    val (uwSpill, uwPeak) = memProfile(windowKeep(u10))
    val (uaSpill, uaPeak) = memProfile(aggKeep(u10))
    System.err.println(
      f"[scaledemo] urldedup u10 hot-task footprint: window " +
        f"taskPeak=${uwPeak / 1e6}%.0fMB spill=${uwSpill / 1e6}%.0fMB; " +
        f"agg taskPeak=${uaPeak / 1e6}%.0fMB spill=${uaSpill / 1e6}%.0fMB")

    // ---- 9. WARC ingest landing diff (r16): the 10^5-file lifetime ----
    // The archive ingest loop runs forever: its processed-file table
    // grows with every archive EVER ingested (a CommonCrawl lifetime is
    // ~10^5-10^6 segment paths) while one micro-batch lands a handful of
    // new files. The r15 loop collected the WHOLE processed table to the
    // driver EVERY batch to diff names — per-batch driver work linear in
    // corpus lifetime, forever. The r16 shape keeps the diff in the
    // engine (Warc.landingDiff's left-anti join against the table SCAN)
    // and collects only the FRESH names — batch-scale by definition.
    // Both shapes measured on a 10^5-path processed table with 20 fresh
    // arrivals; fresh sets required identical. (The landing LISTING
    // itself is inherently driver-side file-name-scale — how any
    // FileSystem listing arrives, Spark's own file stream source
    // included; what must NOT scale with lifetime is the per-batch
    // COLLECT.)
    val procTable = s"$workDir/processed_paths"
    val lifetime = 100000L
    def segName(i: Long): String =
      f"s3://crawl/segments/part-$i%07d.warc.gz"
    locally {
      graft.sources.TxLogFormat.appendBatch(
        spark.range(lifetime)
          .select(concat(lit("s3://crawl/segments/part-"),
            lpad(col("id").cast("string"), 7, "0"), lit(".warc.gz"))
            .as("path")),
        procTable, "scaledemo", 0L)
    }
    val expectedFresh = (lifetime until lifetime + 20).map(segName).toSet
    val landing: Seq[String] = // the batch's dir listing: all + 20 new
      (0L until lifetime + 20).map(segName)
    var oldDriverRows = 0L
    var newDriverRows = 0L
    run("landing_diff_collect_all") {
      import spark.implicits._
      val done = graft.sources.TxLogFormat.read(spark, procTable)
        .select("path").as[String].collect().toSet
      val fresh = landing.filterNot(done)
      require(fresh.toSet == expectedFresh, "old shape lost a fresh name")
      oldDriverRows = done.size.toLong
      oldDriverRows
    }
    run("landing_diff_engine") {
      import spark.implicits._
      val fresh = graft.sources.Warc.landingDiff(spark, landing,
          graft.sources.TxLogFormat.read(spark, procTable))
        .as[String].collect()
      require(fresh.toSet == expectedFresh, "engine shape lost a fresh name")
      newDriverRows = fresh.length.toLong
      newDriverRows
    }
    System.err.println(
      s"[scaledemo] landing diff at $lifetime-file lifetime: " +
        s"driver rows collected/batch old=$oldDriverRows (linear in " +
        s"lifetime) vs engine=$newDriverRows (batch-scale)")

    // ---- 10. BPE apply pricing (r17): distinct words, not occurrences ----
    // bpeVocab folds the merge rules once per corpus-DISTINCT word and
    // bpeTokenizeDocs joins occurrences against that table. Two 10×
    // corpora separate the axes: v10 typo-injects a per-occurrence
    // variant suffix (vocabulary ~×10, occurrence count UNCHANGED —
    // the web-scale typo/hash-fragment vocabulary shape) and o10
    // replicates every doc under fresh ids (occurrences ×10,
    // vocabulary unchanged). Distinct pricing predicts the fold stage
    // tracks v10 and stays flat on o10; the full apply on o10 pays
    // scan+join+groupBy for the extra occurrences but never re-folds.
    import graft.operators.TextAnalysis
    val v10 = {
      val path = s"$workDir/v10"
      x1.select(col("doc_id"),
          array_join(transform(split(col("text"), " "),
            (w, i) => concat(w, lit("q"),
              ((col("doc_id") + i) % 10).cast("string"))), " ").as("text"),
          col("lang"), col("source"))
        .repartition(32).write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    val o10 = {
      val path = s"$workDir/o10"
      (0 until 10).map { r =>
        x1.select((col("doc_id") * 10 + r).as("doc_id"), col("text"),
          col("lang"), col("source"))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    // the synthetic corpus draws from a ~10² word pool, so ×10 barely
    // moves the fold count; vX salts per-occurrence (%1000) for a
    // ~10³× vocabulary at the SAME occurrence count — the regime where
    // the fold price is visible and the per-word price derives
    val vX = {
      val path = s"$workDir/vX"
      x1.select(col("doc_id"),
          array_join(transform(split(col("text"), " "),
            (w, i) => concat(w, lit("q"),
              ((col("doc_id") * 31 + i) % 1000).cast("string"))), " ")
            .as("text"),
          col("lang"), col("source"))
        .repartition(32).write.mode("overwrite").parquet(path)
      Parquet.read(spark, path)
    }
    def wordStats(d: DataFrame): (Long, Long) = {
      val w = d.select(explode(split(lower(trim(col("text"))), " ")).as("w"))
        .filter(length(col("w")) > 0)
      (w.distinct().count(), w.count())
    }
    val (dwX1, ocX1) = wordStats(x1)
    val (dwV10, ocV10) = wordStats(v10)
    val (dwO10, ocO10) = wordStats(o10)
    val (dwVX, ocVX) = wordStats(vX)
    require(ocV10 == ocX1 && ocVX == ocX1,
      "vocabulary corpora must keep the occurrence count")
    require(dwO10 == dwX1, "o10 must keep the vocabulary")
    val bpeMerges = TextAnalysis.trainBpeMerges(x1, nMerges = 10)
    run("bpe_vocab_x1")(TextAnalysis.bpeVocab(x1, bpeMerges).count())
    run("bpe_vocab_v10")(TextAnalysis.bpeVocab(v10, bpeMerges).count())
    run("bpe_vocab_o10")(TextAnalysis.bpeVocab(o10, bpeMerges).count())
    run("bpe_vocab_vX")(TextAnalysis.bpeVocab(vX, bpeMerges).count())
    run("bpe_apply_x1")(TextAnalysis.bpeTokenizeDocs(x1, bpeMerges).count())
    run("bpe_apply_o10")(TextAnalysis.bpeTokenizeDocs(o10, bpeMerges).count())
    run("bpe_apply_vX")(TextAnalysis.bpeTokenizeDocs(vX, bpeMerges).count())
    // the number the claim owes: cpu delta between the salted-vocab and
    // base corpora (same occurrence count — everything but the fold
    // count cancels) divided by the extra distinct words
    val foldPriceUs =
      (results("bpe_vocab_vX")._2 - results("bpe_vocab_x1")._2) * 1e6 /
        (dwVX - dwX1).toDouble
    System.err.println(
      s"[scaledemo] bpe pricing: distinct words x1=$dwX1 v10=$dwV10 " +
        s"o10=$dwO10 vX=$dwVX; occurrences x1=$ocX1 (=v10=vX) " +
        f"o10=$ocO10; fold price ≈ $foldPriceUs%.1f µs/distinct word")

    val counts = Map("x1" -> x1.count(), "x10" -> x10.count(),
      "batch" -> batch.count())
    val json = {
      val rows = results.map { case (k, (w, c, n)) =>
        f""""$k":{"wall":$w%.2f,"cpu":$c%.2f,"rows":$n}""" }.mkString(",")
      s"""{"metric":"scale_demo","sf":"${sfDir.split('/').last}","docs":{"x1":${counts("x1")},"x10":${counts("x10")},"batch":${counts("batch")}},""" +
        s""""uncapped_fanout":{"x1":$fanoutX1,"x10":$fanoutX10},""" +
        s""""minhash_hot_fanout":{"m1":$mFanout1,"m10":$mFanout10},""" +
        s""""hamming_fanout":{"h1_4x16":$hf1s,"h10_4x16":$hf10s,"h1_pair5":$hf1p,"h10_pair5":$hf10p},""" +
        f""""warc":{"inflated_mb":$warcInflatedMb,"gz_mb":$warcGzMb%.1f,"records":$warc1,"whole_payload_refused":true},""" +
        f""""urldedup_u10_hot_task":{"window_peak_mb":${uwPeak / 1e6}%.0f,"window_spill_mb":${uwSpill / 1e6}%.0f,"agg_peak_mb":${uaPeak / 1e6}%.0f,"agg_spill_mb":${uaSpill / 1e6}%.0f},""" +
        s""""landing_diff":{"lifetime_files":$lifetime,"fresh_files":20,"driver_rows_per_batch_old":$oldDriverRows,"driver_rows_per_batch_engine":$newDriverRows},""" +
        f""""bpe_pricing":{"distinct_words":{"x1":$dwX1,"v10":$dwV10,"o10":$dwO10,"vX":$dwVX},"occurrences":{"x1":$ocX1,"v10":$ocV10,"o10":$ocO10,"vX":$ocVX},"fold_price_us_per_distinct_word":$foldPriceUs%.2f},""" +
        s""""env":{"cpus":${graft.util.BenchHarness.jsonNum(cpus)},"iters":$iters,"heap_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}},""" +
        s""""measurements":{$rows}}"""
    }
    println(json)
    val w = new java.io.PrintWriter(outJson); try w.println(json) finally w.close()
    spark.stop()
  }
}
