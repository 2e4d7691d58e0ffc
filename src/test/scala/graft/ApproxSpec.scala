package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._

/** Approximate operators verified against their exact counterparts. */
class ApproxSpec extends SparkSpec {

  test("minhash-LSH: perfect precision (verified), recall >= 0.7 vs exact jaccard") {
    val docs = Tables.documents(spark, sf)
    // exact universe at the minhash operating point (J >= 0.8), unblocked
    val exact = Dedup.jaccardPairs(docs, 0.8)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    val approxRows = Dedup.minhashLsh(docs, 64, 8, 0.8).collect()
    val approx: Set[Seq[Any]] =
      approxRows.map(r => Seq[Any](r.getLong(0), r.getLong(1))).toSet
    // the verify step makes precision exact by construction
    assert(approxRows.forall(_.getDouble(2) >= 0.8))
    // exact set is blocked by (lang, length band), LSH is not → recall on
    // the blocked universe
    val found = exact.intersect(approx).size.toDouble
    assert(exact.isEmpty || found / exact.size >= 0.7,
      s"recall ${found / exact.size} (${approx.size} approx vs ${exact.size} exact)")
  }

  test("minhash band-df cap: uncrossed cap ≡ uncapped bit-for-bit; with a " +
       "planted hot bucket, output ≡ the derived first-non-hot-band rule " +
       "and a true pair with a private band survives") {
    import spark.implicits._
    // 200-token header shared by a 30-doc group with 3 private tokens
    // each (pairwise J ≈ 200/206: true near-dups whose agreeing bands
    // are the header-dominated ones → hot past cap 10), plus TWINS
    // carrying the header AND a 200-token shared body (their bands mix
    // body minima → band values private to the pair → non-hot → must
    // survive), plus unrelated docs
    val header = (0 until 200).map(i => s"h$i").mkString(" ")
    val body = (0 until 200).map(i => s"t$i").mkString(" ")
    val docs = ((0L until 30L).map(i =>
        (i, s"$header u${i}a u${i}b u${i}c")) ++
      Seq((100L, s"$header $body"), (101L, s"$header $body")) ++
      (200L until 205L).map(i => (i, (0 until 30).map(j => s"z${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val uncapped = rows(Dedup.minhashLsh(docs,
      prefilterSlackSd = Double.PositiveInfinity))
    // an uncrossed cap is bit-for-bit the uncapped path
    assert(rows(Dedup.minhashLsh(docs, maxBandDf = 1000000,
      prefilterSlackSd = Double.PositiveInfinity)) == uncapped)
    val capped = rows(Dedup.minhashLsh(docs, maxBandDf = 10,
      prefilterSlackSd = Double.PositiveInfinity))
    // derive the expected capped set with no operator code in the loop:
    // hot buckets from the banded frame, pair survives iff SOME band has
    // equal sig slices and a non-hot bucket, then the exact-J verify
    val banded = Dedup.bandedSignatures(docs).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3),
        r.getSeq[Long](1).toVector))
    val hot = banded.groupBy(b => (b._2, b._3)).filter(_._2.size > 10).keySet
    val sigs = banded.groupBy(_._1).map { case (id, g) => id -> g.head._4 }
    val hash = banded.groupBy(_._1).map { case (id, g) =>
      id -> g.map(b => b._2 -> b._3).toMap }
    def wordSet(t: String) = t.toLowerCase.trim.split(" ").toSet
    val words = docs.collect().map(r => r.getLong(0) -> wordSet(r.getString(1))).toMap
    val ids = words.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      j = words(a).intersect(words(b)).size.toDouble /
        words(a).union(words(b)).size
      if j >= 0.8
      if (0 until 8).exists(k => sigs(a).slice(k * 8, k * 8 + 8) ==
        sigs(b).slice(k * 8, k * 8 + 8) && !hot.contains((k, hash(a)(k))))
    } yield Seq[Any](a, b, math.round(j * 10000) / 10000.0)).toSet
    assert(capped == expected, s"capped $capped vs derived $expected")
    // the cap ENGAGED (the header group's pairs dropped)...
    assert(capped != uncapped && capped.subsetOf(uncapped))
    // ...and the twins' private body bands carried their pair through
    assert(capped.exists(r => r(0) == 100L && r(1) == 101L),
      s"twin pair lost: $capped")
  }

  test("simhash: pairs are ordered, hamming within bound") {
    val out = Dedup.simhash(Tables.documents(spark, sf), 3).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 3))
  }

  // deterministic 64-bit signature corpus with PLANTED near-pairs (i ≡ 0
  // mod 10 gets a radius-(i/10 mod 5) twin at i+1) over otherwise-random
  // draws — the shared rig for the banding-config equivalence tests
  private def plantedSigs(n: Int): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(0xBADC0FFEL)
    val base = Array.fill(n)(rnd.nextLong())
    (0 until n).map { i =>
      val sig =
        if (i % 10 == 1) {
          // flip (i/10 mod 5) DISTINCT bit positions of the anchor sig
          val flips = (i / 10) % 5
          (0 until flips).foldLeft(base(i - 1))((s, j) => s ^ (1L << (j * 7 + 2)))
        } else base(i)
      (i.toLong, sig)
    }
  }

  test("hamming banding configs agree (r14): 4x16 single-chunk, 8-chunk " +
       "single, and 5-chunk PAIR banding all reproduce the brute-force " +
       "radius-3 pair set — the SURVEY §4 'config change' is executable") {
    import spark.implicits._
    val data = plantedSigs(300)
    val truth = (for {
      (a, sa) <- data; (b, sb) <- data if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(truth.nonEmpty && truth.exists(_._3 == 2) && truth.exists(_._3 == 3),
      s"rig must plant pairs at radii 0..3: $truth")
    val sigs = data.toDF("doc_id", "sig")
    def run(nChunks: Int, pairBands: Boolean) =
      Dedup.hammingBandPairs(sigs, 3, nChunks, pairBands).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(run(4, pairBands = false) == truth)
    assert(run(8, pairBands = false) == truth)
    // the birthday-crowding config: 10 bands of 25-26 bits, radius <= 3
    assert(run(5, pairBands = true) == truth)
    // uneven widths (64 % 5 != 0) are covered above; also a wide config
    assert(run(16, pairBands = false) == truth)
    // pigeonhole bounds enforced: pair banding over n chunks is exact
    // only to n-2 — asking past it must refuse, not silently lose recall
    intercept[IllegalArgumentException] {
      Dedup.hammingBandPairs(sigs, 4, nChunks = 5, pairBands = true)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingBandPairs(sigs, 4, nChunks = 4)
    }
  }

  test("simhash radius > 3 falls back to more chunks (r14, the ADVICE " +
       "contract note made behavior): maxHamming=5 returns EXACTLY the " +
       "brute-force pair set over the same signatures") {
    val docs = Tables.documents(spark, sf)
    val out = Dedup.simhash(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // ground truth from the same signature aggregation, brute-forced
    val sigs = docs.select(col("doc_id"),
        explode(graft.util.TextNorm.distinctWords(col("text"))).as("t"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.simhash(col("t")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 5
    } yield (a, b, h)).toSet
    assert(out == truth, s"${out.size} vs ${truth.size}")
    assert(out.exists(_._3 > 3), "rig should exercise radii past the old cap")
  }

  test("incrementalHammingPairs at nChunks=8 probes an 8-chunk index and " +
       "matches the 4-chunk result (index/probe re-chunking round-trip)") {
    import spark.implicits._
    val corpusData = plantedSigs(200)
    val corpus = corpusData.toDF("doc_id", "sig")
    // batch = 50 corpus sigs re-keyed, exact (i%3==0) or 2-bit-flipped
    val batch = corpusData.take(50).map { case (i, s) =>
      (i + 1000L, if (i % 3 == 0) s else s ^ ((1L << 11) | (1L << 37)))
    }.toDF("doc_id", "sig")
    def run(nChunks: Int, pairBands: Boolean = false) =
      Dedup.incrementalHammingPairs(batch,
        Dedup.sigChunks(corpus, nChunks, pairBands), 3, nChunks, pairBands)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got4 = run(4)
    assert(got4 == run(8))
    // the crowding config also round-trips through a PERSISTED-shape
    // index: 5-chunk PAIR bands, exact at the same radius 3
    assert(got4 == run(5, pairBands = true))
    assert(got4.nonEmpty, "rig should produce cross pairs")
  }

  test("anyMatchNearDupPairs: items pair on ANY slot match — min hamming, " +
       "match count, no self pairs") {
    import spark.implicits._
    val p = Seq(0x0123456789ABCDEFL, 0x0FEDCBA987654321L, 0x1111222233334444L,
      0x5555666677778888L)
    val slotSigs = Seq(
      (1L, 0, p(0)), (1L, 1, p(1)), (1L, 2, p(2)),        // clip A
      (2L, 0, p(1)), (2L, 1, p(2)), (2L, 2, p(3)),        // A re-cut by one
      (3L, 0, p(0) ^ 7L), (3L, 1, p(3) ^ (1L << 40)),     // near A slot0 (h3)
                                                          // and B slot2 (h1)
      (4L, 0, ~p(0)), (4L, 1, ~p(1))                      // far from everything
    ).toDF("doc_id", "slot", "sig")
    val got = Dedup.anyMatchNearDupPairs(slotSigs, maxHamming = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getLong(3)))).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"$got")
    // re-cut: two bit-identical frame matches at DIFFERENT slots
    assert(got((1L, 2L)) == ((0, 2L)), s"${got((1L, 2L))}")
    assert(got((1L, 3L)) == ((3, 1L)))
    assert(got((2L, 3L)) == ((1, 1L)))
  }

  test("ann_lsh: recall >= 0.6 vs brute-force pairs at cos >= 0.4") {
    val emb = Tables.embeddings(spark, sf)
    val e = emb.select(col("vec_id"), col("embedding"))
    val exactPairs = e.as("x").crossJoin(e.as("y"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        (aggregate(zip_with(col("x.embedding"), col("y.embedding"),
          (p, q) => p * q), lit(0.0), (acc, v) => acc + v) /
         (sqrt(aggregate(col("x.embedding"), lit(0.0), (acc, v) => acc + v.cast("double") * v)) *
          sqrt(aggregate(col("y.embedding"), lit(0.0), (acc, v) => acc + v.cast("double") * v))))
          .as("cos"))
      .filter(col("cos") >= 0.4)
      .select("a", "b").collect().map(_.toSeq).toSet
    val approx = Similarity.lshCandidates(emb, minCos = 0.4)
      .select("vec_a", "vec_b").collect().map(_.toSeq).toSet
    assert(approx.subsetOf(approx ++ exactPairs))
    val recall = if (exactPairs.isEmpty) 1.0
      else exactPairs.intersect(approx).size.toDouble / exactPairs.size
    assert(recall >= 0.6, s"recall $recall (${approx.size} vs ${exactPairs.size})")
    // precision is 1.0 by construction (exact verify step) — check anyway
    assert(approx.subsetOf(exactPairs), "lsh reported a pair below threshold")
  }

  test("approx_count_distinct within 5% of exact per group") {
    val orders = Tables.orders(spark, sf)
    val approx = Analytics.approxDistinct(orders).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n <= 0.05,
        s"$k: approx ${approx(k)} vs exact $n")
    }
  }

  test("HLL++ has NO exact regime to pin a twin on — measured, which is " +
       "why approx_distinct stays rows-only while every sketch WITH an " +
       "exact regime has one") {
    import spark.implicits._
    // Spark's HyperLogLogPlusPlus is dense-register-only (no sparse
    // raw-hash mode): low cardinalities estimate through linear counting
    // m·ln(m/V), where a single register collision shifts the rounded
    // estimate by 1. Whether a collision occurs depends on the HASH
    // VALUES, not the cardinality — so exactness is data luck, not a
    // regime a correctness twin could legitimately claim. Pin the
    // measured shape: deterministic (fixed-seed xxhash64), error within
    // the advertised rsd at every probed cardinality, but NOT exact at
    // some small k even at rsd = 0.005 while a LARGER k happens to be —
    // no threshold rule exists. (theta/GK/t-digest twins: D43, B27, B28.)
    def est(k: Long, rsd: Double): Long =
      spark.range(k).agg(approx_count_distinct(col("id"), rsd)).head.getLong(0)
    val probed = Seq(10L, 50L, 200L, 500L, 1000L, 2000L)
    for (k <- probed; rsd <- Seq(0.05, 0.005)) {
      val e = est(k, rsd)
      assert(math.abs(e - k).toDouble / k <= 3 * rsd + 0.01,
        s"k=$k rsd=$rsd est=$e outside 3·rsd") // 3σ + rounding slack
      assert(e == est(k, rsd), s"k=$k rsd=$rsd nondeterministic")
    }
    // The data-luck OBSERVATIONS below (some probed k inexact at
    // rsd=0.005; a larger k exact above the smallest inexact one) pin
    // register-collision hash luck of the CURRENT Spark version — a
    // Spark upgrade or hash change can legitimately flip them without
    // any product bug. They are logged as warnings to re-open the twin
    // decision, never hard failures: the rsd-bound and determinism
    // asserts above are the product contract and stay hard.
    val errs = probed.map(k => k -> math.abs(est(k, 0.005) - k))
    val bad = errs.filter(_._2 > 0).map(_._1)
    if (bad.isEmpty)
      info("WARN: every probed cardinality exact at rsd=0.005 — an exact " +
        "regime may exist under this Spark version; revisit the rows-only " +
        "decision for approx_distinct")
    else if (!probed.exists(k => k > bad.min && !bad.contains(k)))
      info(s"WARN: no larger-but-exact k above inexact k=${bad.min}: $errs " +
        "— exactness looks like a threshold rule under this Spark version; " +
        "an exact-regime twin may be pinnable after all")
  }

  test("approx quantiles within 2% of exact per group") {
    val orders = Tables.orders(spark, sf)
    val approx = Analytics.approxQuantiles(orders).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Analytics.quantiles(orders).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p90)) =>
      assert(math.abs(approx(k)._1 - p50) / p50 <= 0.02, s"$k p50")
      assert(math.abs(approx(k)._2 - p90) / p90 <= 0.02, s"$k p90")
    }
  }

  test("ann_ivf: recall >= 0.4 vs exact topK at nProbe=8/16 cells") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.topK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf recall $recall")
  }

  test("exact substring dedup: the hashed scale path lands exactly the " +
       "exact path's pairs; a planted 40-char run is caught at its length") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = pairs(Dedup.exactSubstringPairs(docs))
    assert(exact.nonEmpty, "corpus should contain 40-char exact overlaps")
    assert(pairs(Dedup.exactSubstringPairsHashed(docs)) == exact,
      "hashed path diverged from the exact path")
    // planted: docs 1 and 2 share ONE exact 40-char run at different
    // offsets; doc 3 shares nothing. Exactly one window fits inside the
    // run, so the pair reports shared_windows = 1 — and a 39-char run
    // (doc 4) is invisible, pinning the threshold semantics.
    val run = (0 until 40).map(i => ('a' + i % 26).toChar).mkString
    val planted = Seq(
      (1L, s"lead-in text before the run $run and a tail"),
      (2L, s"Q$run!completely different framing text here"), // ! stops the
      // run at exactly 40 chars — a shared space would extend it to 41
      // (two windows), which the first version of this spec learned
      (3L, "no overlap in this one, just unrelated filler words"),
      (4L, s"ZZ${run.drop(1)}YY only thirty-nine shared characters"))
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstringPairs(planted).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.keySet == Set((1L, 2L)), got.toString)
    assert(got((1L, 2L)) == 1L, s"expected exactly one shared window: $got")
  }

  test("substring dedup boilerplate cap + sharding: a corpus-hot window " +
       "is dropped by every pair path before any pair explodes; sharded " +
       "candidates land exactly the unsharded pairs") {
    import spark.implicits._
    // 8 docs share one boilerplate region (window df = 8 — think license
    // header); docs 1,2 additionally share a COLD run (df = 2). With
    // maxDf = 4 the boilerplate windows must vanish (the f²/2 hot-key
    // pairs with them) while the cold-run pair survives untouched.
    val boiler = (0 until 40).map(i => ('a' + i % 26).toChar).mkString
    val run = (0 until 40).map(i => ('A' + i % 26).toChar).mkString
    val rows = (1L to 8L).map { id =>
      val tail = if (id <= 2) s" cold $run end" else s" filler unique $id"
      (id, s"doc$id header $boiler$tail")
    }
    val docs = rows.toDF("doc_id", "text")
    // naive reference: windows → df filter → pairs, in plain Scala
    def naive(maxDf: Int): Map[(Long, Long), Long] = rows
      .flatMap { case (id, t) =>
        (0 to t.length - 40).map(p => (t.substring(p, p + 40), id)) }
      .distinct.groupBy(_._1).values
      .map(_.map(_._2).distinct.sorted)
      .filter(ds => ds.size > 1 && ds.size <= maxDf)
      .flatMap(ds => for (i <- ds.indices; j <- i + 1 until ds.size)
        yield (ds(i), ds(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val capped = naive(4)
    assert(capped.keySet == Set((1L, 2L)), // only the cold-run pair
      s"naive reference unexpectedly kept: ${capped.keySet}")
    val uncapped = naive(100)
    assert(uncapped.size == 28, "uncapped: all 8·7/2 boilerplate pairs")
    for ((label, out) <- Seq(
        "exact" -> Dedup.exactSubstringPairs(docs, maxDf = 4),
        "hashed" -> Dedup.exactSubstringPairsHashed(docs, maxDf = 4),
        "sharded" -> Dedup.exactSubstringPairsHashedSharded(
          docs, maxDf = 4, numShards = 3)))
      assert(pairs(out) == capped, s"$label path != df-capped reference")
    // defaults (maxDf = 100) keep the boilerplate pairs on this tiny df
    assert(pairs(Dedup.exactSubstringPairs(docs)) == uncapped)
    // shard-count invariance on the real corpus: the pmod slices
    // partition the hash space, so ANY numShards lands identical pairs
    val corpus = Tables.documents(spark, sf)
    val one = pairs(Dedup.exactSubstringPairsHashed(corpus))
    assert(pairs(Dedup.exactSubstringPairsHashedSharded(corpus,
      numShards = 4)) == one, "4-sharded != unsharded on corpus")
    // incremental path meets the hot window through the LINEAR min-id
    // rule (no pair fan-out): everyone shares boilerplate with doc 1,
    // so the batch's sole survivor is doc 1
    val (surv, _) = Dedup.incrementalSubstringDedup(
      docs, Seq.empty[Long].toDF("h"))
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L), "hot-window batch should keep only the min-id doc")
  }

  test("containment dedup: a short doc verbatim-embedded in a long one " +
       "scores containment 1.0 where symmetric Jaccard (and its length " +
       "blocking) misses it; hot shingles leave the universe entirely") {
    import spark.implicits._
    val core = (1 to 30).map(i => s"w$i").mkString(" ") // 30 words, 28 shingles
    val filler = (1 to 300).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, core),
      (2L, s"$filler $core"),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Dedup.containmentPairs(docs, threshold = 0.6).collect()
    assert(got.length == 1, got.mkString(";"))
    val r = got(0)
    // all 28 of doc 1's shingles appear verbatim in doc 2
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 28L, s"shared ${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, s"containment ${r.getDouble(3)}")
    // symmetric Jaccard on the same pair is tiny (28 / (28+328-28)) and
    // the length-band blocking never even pairs them: the blocked
    // operator returns nothing — containment exists BECAUSE of this gap
    assert(Dedup.ngramJaccard(docs, threshold = 0.3).collect().isEmpty)
    // hot shingles leave the UNIVERSE (denominator included): 8 docs
    // share a header; docs 1,2 additionally share a cold 10-word run.
    // With maxDf=4 the header shingles vanish from both numerator and
    // denominator, so the cold run alone decides containment (=1 for
    // both docs whose informative shingles are exactly the run's).
    val header = (1 to 12).map(i => s"h$i").mkString(" ")
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val hot = (1L to 8L).map { id =>
      val tail = if (id <= 2) run else (1 to 10).map(i => s"u${id}_$i").mkString(" ")
      (id, s"$header $tail")
    }.toDF("doc_id", "text")
    val hotPairs = Dedup.containmentPairs(hot, threshold = 0.6, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // only (1,2) survives; its containment counts run shingles plus the
    // two header->tail boundary shingles each doc uniquely owns... the
    // boundary shingles differ per doc (h11 h12 r1 vs h11 h12 u3_1), so
    // shared = the run's 8 + the 2 identical boundary shingles of docs
    // 1,2 = 10; n_sh per doc = 10 (identical texts after the header cut)
    assert(hotPairs.toSeq == Seq((1L, 2L, 1.0)), hotPairs.mkString(";"))
  }

  test("incremental IVF: a grown index's recall tracks a fresh rebuild; " +
       "drift detects distribution shift and maintainIvf retrains on it") {
    import org.apache.spark.sql.DataFrame
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val exact = Similarity.topK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ix: Similarity.IvfIndex): Double = {
      val got = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10,
        precomputedIvf = Some(ix)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val fresh = Similarity.buildIvfIndex(emb)
    // grow: train on the first 60% by vec_id, assign the rest in two
    // incremental batches — no refit
    val (c1, c2) = (n * 3 / 5, n * 4 / 5)
    val base = Similarity.buildIvfIndex(emb.filter(col("vec_id") < c1))
    val grown = Similarity.assignIncremental(
      Similarity.assignIncremental(base,
        emb.filter(col("vec_id") >= c1 && col("vec_id") < c2)),
      emb.filter(col("vec_id") >= c2))
    // conservation: growth loses and duplicates nothing
    assert(grown.assigned.count() == n)
    assert(grown.assigned.select("vec_id").distinct().count() == n)
    // recall of the grown index stays within a bound of the fresh build
    // (same distribution → near-parity; the bound absorbs k-means luck)
    val (rFresh, rGrown) = (recallOf(fresh), recallOf(grown))
    assert(rGrown >= rFresh - 0.2, s"grown recall $rGrown vs fresh $rFresh")
    // same-distribution growth barely moves the drift statistic…
    val driftSame = Similarity.ivfDrift(grown)
    assert(driftSame > 0 && driftSame < 1.5, s"same-dist drift $driftSame")
    // …but a genuinely shifted batch (every component offset by +10, far
    // outside the trained cells) pushes it over a tight trigger and
    // maintainIvf retrains — on the GROWN set, so nothing is lost
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val shifted: DataFrame = emb.limit(20)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(10.0f)).as("embedding"))
    // degenerate baselines are explicit, never Inf-loop or NaN-disable:
    // a perfect cold fit (trainingCost 0) that STAYS perfect is drift 1.0
    // (no retrain); one that stops being perfect is maximal drift (one
    // retrain, after which the baseline recomputes and self-heals)
    assert(Similarity.driftRatio(2.0, 1.0) == 2.0)
    assert(Similarity.driftRatio(0.0, 0.0) == 1.0)
    assert(Similarity.driftRatio(0.5, 0.0).isPosInfinity)
    assert(!Similarity.driftRatio(0.0, 0.0).isNaN)
    val (kept, retrainedOnSame) =
      Similarity.maintainIvf(grown, emb.limit(0), driftTrigger = 1.5)
    assert(!retrainedOnSame && kept.assigned.count() == n,
      "empty batch must not retrain")
    val (after, retrained) =
      Similarity.maintainIvf(grown, shifted, driftTrigger = 1.5)
    assert(retrained, "shifted batch should trip the drift trigger")
    assert(after.assigned.count() == n + 20, "retrain lost vectors")
    // the retrained centroids actually absorb the shift: mean assigned
    // distance improves vs the stale-centroid assignment of the same set
    val stale = Similarity.assignIncremental(grown, shifted)
    assert(Similarity.meanAssignedDist(after) <
           Similarity.meanAssignedDist(stale),
      "retraining did not improve the fit")
    assert(dim > 0) // (guard that the embedding column is non-degenerate)
  }

  test("incremental PQ: vectors encoded with existing codebooks keep " +
       "selective-config recall near a fresh build; growth conserves") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val exact = Similarity.topK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ix: Similarity.PqIndex): Double = {
      val got = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), 10,
        residual = true, precomputedPq = Some(ix)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val fresh = Similarity.buildPqIndex(emb, residual = true)
    val (c1, c2) = (n * 3 / 5, n * 4 / 5)
    val grown = Similarity.encodePqIncremental(
      Similarity.encodePqIncremental(
        Similarity.buildPqIndex(emb.filter(col("vec_id") < c1), residual = true),
        emb.filter(col("vec_id") >= c1 && col("vec_id") < c2)),
      emb.filter(col("vec_id") >= c2))
    // conservation through both the coded table and the inner IVF
    assert(grown.encoded.count() == n &&
           grown.encoded.select("vec_id").distinct().count() == n)
    assert(grown.ivf.assigned.count() == n)
    // every grown code stays in the codebook's range
    import org.apache.spark.sql.functions.{array_max, array_min => amin, min => rmin, max => rmax}
    val (lo, hi) = grown.encoded
      .agg(rmin(amin(col("codes"))), rmax(array_max(col("codes"))))
      .collect()(0) match { case r => (r.getInt(0), r.getInt(1)) }
    assert(lo >= 0 && hi < 16, s"code range [$lo, $hi]")
    val (rFresh, rGrown) = (recallOf(fresh), recallOf(grown))
    assert(rGrown >= rFresh - 0.3, s"grown recall $rGrown vs fresh $rFresh")
  }

  test("ann_pq: selective IVF-PQ recall vs exact topK; exhaustive config " +
       "IS the exact top-k") {
    val emb = Tables.embeddings(spark, sf)
    val exactRows = Similarity.topK(emb, Seq(0L, 1L, 2L), 10).collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // selective: PQ-coded stage 1 (8 probes, ADC lookups) + rerank 30 —
    // the production shape; PQ is lossy, the rerank recovers ordering for
    // whatever the probes + PQ-ordering surface
    val pq = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf-pq recall $recall")
    // residual coding (the FAISS default): same bound must hold — the
    // cross-term/cell-norm tables must reconstruct a sane approx cosine
    val pqR = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), 10,
        residual = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallR = exact.intersect(pqR).size.toDouble / exact.size
    assert(recallR >= 0.4, s"residual ivf-pq recall $recallR")
    // exhaustive config: probe every cell, rerank every candidate — the
    // full codebook/encode/ADC machinery must reproduce exact top-k
    // bit-for-bit (the ann_pq_q driver oracle's claim), under BOTH codings
    Seq(false, true).foreach { res =>
      val full = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), 10,
        nProbe = 16, rerank = Int.MaxValue, residual = res).collect()
      assert(full.map(_.toSeq).toSeq == exactRows.map(_.toSeq).toSeq,
        s"exhaustive IVF-PQ (residual=$res) diverged from exact topK")
    }
  }

  test("PQ encoded index carries codes only — the stage-1 scan table " +
       "stores no floats") {
    // the IO claim behind IVF-PQ: stage 1 reads (cell, codes) — m small
    // ints per vector — and float vectors load only through the
    // rerank-sized join. Pin the index schema so a refactor cannot
    // silently drag the embedding column back into the scan table.
    val idx = Similarity.buildPqIndex(Tables.embeddings(spark, sf))
    assert(idx.encoded.schema.map(f =>
        f.name -> f.dataType.simpleString).toSet ==
      Set("vec_id" -> "bigint", "cell" -> "int", "codes" -> "array<int>"),
      idx.encoded.schema.treeString)
  }

  test("ann_ivf_q: quantized probe + exact rerank matches plain IVF's " +
       "recall within the quantization tolerance") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.topK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = Similarity.ivfTopKQuantized(emb, Seq(0L, 1L, 2L), 10).collect()
    val qSet = q.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallVsExact = exact.intersect(qSet).size.toDouble / exact.size
    val agreeWithIvf = ivf.intersect(qSet).size.toDouble / ivf.size
    // int8 + rerank=3k must not lose what the same index finds in floats
    assert(agreeWithIvf >= 0.8, s"quantized IVF diverges from float IVF: $agreeWithIvf")
    assert(recallVsExact >= 0.4, s"quantized IVF recall vs exact: $recallVsExact")
    // final scores are EXACT (re-ranked on floats): each (q,v) pair's
    // cos_sim must equal the exact pipeline's value for shared pairs
    val exactScores = Similarity.topK(emb, Seq(0L, 1L, 2L), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    q.foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(1))).foreach { s =>
        assert(r.getDouble(2) == s, s"rerank score drifted for ${(r.getLong(0), r.getLong(1))}")
      }
    }
  }

  test("semantic dedup: survivors have no more-senior near-twin") {
    val emb = Tables.embeddings(spark, sf)
    val survivors = Similarity.semanticDedup(emb, 0.35)
    assert(survivors.count() > 0 && survivors.count() <= emb.count())
    // every removed vector must have a surviving OR removed lower-id twin
    // (greedy guarantee: a removed id has SOME lower-id pair >= threshold)
    val ids = survivors.collect().map(_.getLong(0)).toSet
    assert(ids.contains(emb.agg(min("vec_id")).head.getLong(0)),
      "lowest id can never be removed")
  }

  test("semantic dedup: block-pair equi-join is invariant in the block count") {
    val emb = Tables.embeddings(spark, sf)
    // blocks=1 degenerates to the plain all-pairs enumeration (single
    // diagonal bucket); any other block count must produce the same set
    val base = Similarity.semanticDedup(emb, 0.35, blocks = 1)
      .collect().map(_.toSeq).toSeq
    Seq(5, 8).foreach { b =>
      val got = Similarity.semanticDedup(emb, 0.35, blocks = b)
        .collect().map(_.toSeq).toSeq
      assert(got == base, s"blocks=$b diverged from all-pairs")
    }
  }

  test("semantic dedup approx: survivors superset of exact, removed-recall >= 0.7") {
    val emb = Tables.embeddings(spark, sf)
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = Similarity.semanticDedup(emb, 0.35)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.semanticDedupApprox(emb, 0.35)
      .collect().map(_.getLong(0)).toSet
    // LSH can only MISS pairs, so approx keeps everything exact keeps
    assert(exact.subsetOf(approx), "approx dropped a vector exact kept")
    val removedExact = all -- exact
    val removedApprox = all -- approx
    val recall = if (removedExact.isEmpty) 1.0
      else removedApprox.size.toDouble / removedExact.size
    assert(recall >= 0.7, s"removed-recall $recall " +
      s"(${removedApprox.size} vs ${removedExact.size})")
  }

  test("precomputed shared frames match the recomputing paths " +
       "(minhash pairs for clustersApprox; lower-threshold LSH candidates " +
       "for semanticDedupApprox and a re-filter for lshCandidates)") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.minhashLsh(docs).localCheckpoint()
    assert(Dedup.clustersApprox(docs, precomputedPairs = Some(pairs))
             .collect().map(_.toSeq).toSet ==
           Dedup.clustersApprox(docs).collect().map(_.toSeq).toSet)
    val emb = Tables.embeddings(spark, sf)
    val cand = Similarity.lshCandidates(emb, minCos = 0.35).localCheckpoint()
    assert(Similarity.semanticDedupApprox(emb, 0.35,
             precomputedCandidates = Some(cand)).collect().map(_.toSeq).toSet ==
           Similarity.semanticDedupApprox(emb, 0.35).collect().map(_.toSeq).toSet)
    assert(cand.filter(col("cos_sim") >= 0.4).collect().map(_.toSeq).toSet ==
           Similarity.lshCandidates(emb).collect().map(_.toSeq).toSet)
  }

  test("payload re-attach strategies produce identical results") {
    import graft.util.PayloadJoin
    val docs = Tables.documents(spark, sf)
    // pair-set semantics: compare as sets (minhashLsh no longer sorts)
    val auto = Dedup.minhashLsh(docs).collect().map(_.toSeq).toSet
    val bcast = Dedup.minhashLsh(docs, payloadJoin = PayloadJoin.Broadcast)
      .collect().map(_.toSeq).toSet
    val shuf = Dedup.minhashLsh(docs, payloadJoin = PayloadJoin.Shuffle)
      .collect().map(_.toSeq).toSet
    assert(auto == bcast && bcast == shuf)
    // the same for the incremental twin (batch against corpus)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val inc = Seq(PayloadJoin.Auto, PayloadJoin.Broadcast, PayloadJoin.Shuffle)
      .map(pj => Dedup.incrementalMinhash(corpus, batch, payloadJoin = pj)
        .collect().map(_.toSeq).toSet)
    assert(inc.head.nonEmpty && inc.forall(_ == inc.head))
  }

  test("ann_topk ranks are dense 1..k per query") {
    val out = Similarity.topK(Tables.embeddings(spark, sf), Seq(0L, 1L, 2L), 10)
    val byQuery = out.collect().groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to 10L))
    }
  }

  test("misra-gries: MG guarantees hold vs exact counts at any partitioning") {
    val docs = Tables.documents(spark, sf)
    val tok = docs.select(explode(graft.util.TextNorm.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val exact = tok.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = 64
    for (parts <- Seq(1, 7)) {
      val summary = tok.repartition(parts)
        .agg(graft.functions.MisraGriesAgg.heavyHitters(col("word"), k).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.est_count"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(summary.size <= k)
      val slack = n / (k + 1)
      // every item above the frequency threshold is present
      exact.foreach { case (w, c) =>
        if (c > slack) assert(summary.contains(w), s"missing heavy hitter $w ($c > $slack)")
      }
      // estimates are lower bounds within n/(k+1) of truth
      summary.foreach { case (w, est) =>
        val truth = exact.getOrElse(w, 0L)
        assert(est <= truth && truth - est <= slack,
          s"$w est=$est truth=$truth slack=$slack (parts=$parts)")
      }
    }
  }

  test("count-min: est >= true always, overestimate bounded, grid is " +
       "partition-invariant") {
    val docs = Tables.documents(spark, sf)
    val tok = docs.select(explode(graft.util.TextNorm.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val exact = tok.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val (depth, width) = (4, 2048)
    def grid(parts: Int): Seq[Long] = tok.repartition(parts)
      .agg(graft.functions.CountMinAgg.sketch(col("word"), depth, width).as("sk"))
      .collect()(0).getSeq[Long](0)
    // integer adds commute: the grid is a pure function of the multiset
    assert(grid(1) == grid(7), "sketch depends on partitioning")
    // probe EVERY word through the declarative estimate path
    val est = tok.distinct()
      .crossJoin(broadcast(tok.agg(
        graft.functions.CountMinAgg.sketch(col("word"), depth, width).as("sk"))))
      .select(col("word"),
        graft.functions.CountMinAgg.estimate(col("sk"), col("word"), depth, width)
          .as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = 3.0 * math.E * n / width // 3x the e/w·N tail bound
    est.foreach { case (w, e) =>
      val truth = exact(w)
      assert(e >= truth, s"CMS underestimated $w: $e < $truth")
      assert(e - truth <= bound, s"$w overestimate ${e - truth} > $bound")
    }
  }

  test("filtered ANN at a selective probe keeps recall vs the exact " +
       "filtered top-k; every result satisfies the predicate") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val pred = col("label") % 3 === 0
    val exact = Similarity.ivfTopKFiltered(emb, pred, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopKFiltered(emb, pred, nProbe = 8)
      .collect()
    val got = approx.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"filtered IVF recall $recall at nProbe=8")
    // precision on the predicate is exact by construction
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(approx.forall(r => labels(r.getLong(1)) % 3 == 0),
      "a result row violates the predicate")
  }

  test("sketch rollup: merging stored per-cell sketches equals exact " +
       "distincts below k; saturated merge stays bounded") {
    val ev = Tables.events(spark, sf)
    val got = Analytics.sketchRollup(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exact) // θ = 1 below k ⇒ the merge is exact, not approximate
    // shrink k below the per-type cardinality: the merged estimate must
    // stay a real estimate (deterministic given the fixed hash — bounded)
    val approx = Analytics.sketchRollup(ev, lg = 6).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    approx.foreach { case (t, est) =>
      val d = exact(t)._2.toDouble
      assert(math.abs(est - d) / d <= 0.4,
        s"$t: saturated merge estimate $est vs exact $d")
    }
  }

  test("theta sketch: exact under k, bounded error at saturation, " +
       "set algebra composes, partition-invariant") {
    val lg = 8 // 256 nominal entries
    // A = [0, 12000), B = [8000, 20000) → |A∪B| = 20000, |A∩B| = 4000
    val df = spark.range(0, 12000).select(col("id").as("a"), lit(null.asInstanceOf[java.lang.Long]).as("b"))
      .unionAll(spark.range(8000, 20000).select(lit(null.asInstanceOf[java.lang.Long]).as("a"), col("id").as("b")))
    def run(parts: Int) = df.repartition(parts)
      .agg(theta_sketch_agg(col("a"), lg).as("ska"),
           theta_sketch_agg(col("b"), lg).as("skb"))
      .select(theta_sketch_estimate(col("ska")), theta_sketch_estimate(col("skb")),
              theta_sketch_estimate(theta_union(col("ska"), col("skb"), lg)),
              theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
              col("ska"))
      .collect()(0)
    val r = run(1)
    // merge is a pure function of the value set: the same sketch bytes
    assert(run(7).getAs[Array[Byte]](4).toSeq == r.getAs[Array[Byte]](4).toSeq,
      "sketch depends on partitioning")
    val (estA, estB, estU, estI) = (r.getLong(0).toDouble, r.getLong(1).toDouble,
      r.getLong(2).toDouble, r.getLong(3).toDouble)
    def relErr(est: Double, truth: Double) = math.abs(est - truth) / truth
    assert(relErr(estA, 12000) < 0.15, s"A: $estA")
    assert(relErr(estB, 12000) < 0.15, s"B: $estB")
    assert(relErr(estU, 20000) < 0.15, s"U: $estU")
    // intersection inherits union-scale absolute error: bound vs |A∪B|
    assert(math.abs(estI - 4000) / 20000 < 0.15, s"I: $estI")
    // exact mode below 2^lg distincts
    val small = spark.range(0, 100).select(col("id").as("a"))
      .agg(theta_sketch_agg(col("a"), lg).as("sk"))
      .select(theta_sketch_estimate(col("sk"))).collect()(0).getLong(0)
    assert(small == 100L, s"exact mode broken: $small")
  }

  test("embedding PCA: k dims, variance concentrates in leading components") {
    val emb = Tables.embeddings(spark, sf)
    val k = 8
    val out = Similarity.embeddingPca(emb, k)
    val rows = out.collect()
    assert(rows.length == emb.count())
    val mat = rows.map(_.getSeq[Double](2).toArray)
    assert(mat.forall(_.length == k))
    def variance(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
    }
    val vars = (0 until k).map(j => variance(mat.map(_(j))))
    // eigen-ordering: captured variance is non-increasing (tolerance for
    // the round4 on projected coords)
    vars.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-3, s"component variances not sorted: $vars")
    }
    // the leading component dominates any trailing one
    assert(vars.head >= vars.last, s"no concentration: $vars")
  }

  test("int8 quantization: codes in range, reconstruction within half a step") {
    val out = Similarity.embeddingQuantize(Tables.embeddings(spark, sf))
    val orig = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    out.collect().foreach { r =>
      val (id, qmin, qmax) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      val q = r.getSeq[Int](4)
      assert(q.forall(c => c >= 0 && c <= 255), s"code out of range for $id")
      val scale = (qmax - qmin) / 255.0
      val xs = orig(id)
      q.zip(xs).foreach { case (c, x) =>
        val rec = qmin + c * scale
        // round4 on qmin/qmax adds up to 5e-5 each on top of the half step
        assert(math.abs(rec - x) <= scale / 2 + 2e-4,
          s"vec $id: |$rec - $x| > ${scale / 2}")
      }
    }
  }

  test("heavy hitters approx agrees with exact top-k on the dominant words") {
    val docs = Tables.documents(spark, sf)
    val exactTop = TextAnalysis.heavyHitters(docs, 5).collect().map(_.getString(0)).toSet
    val approx = TextAnalysis.heavyHittersApprox(docs, 64, 20)
      .collect().map(_.getString(0)).toSet
    // the unambiguous heavy head must survive summarization
    assert(exactTop.subsetOf(approx), s"lost ${exactTop -- approx}")
  }
  test("incrementalExact equals the naive batch-anti-join-corpus dedup") {
    val docs = Tables.documents(spark, sf)
    // novel content + a re-crawl of existing corpus docs under fresh ids
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val got = Dedup.incrementalExact(corpus, batch)
      .collect().map(_.toSeq).toSet
    def dig = md5(lower(trim(col("text"))))
    val naive = batch.select(col("doc_id"), dig.as("digest"))
      .groupBy("digest")
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("batch_count"))
      .join(corpus.select(dig.as("digest")).distinct(), Seq("digest"), "left_anti")
      .collect().map(_.toSeq).toSet
    assert(got == naive, s"got ${got.size} vs naive ${naive.size}")
    assert(got.nonEmpty && got.size < batch.count(),
      "test data should have both novel and duplicate batch content")
    // tiny bloom forces heavy false positives: exactness must not depend
    // on the filter's sizing
    val tiny = Dedup.incrementalExact(corpus, batch, numBits = 64)
      .collect().map(_.toSeq).toSet
    assert(tiny == naive, "fpp must cost rows, never correctness")
  }

  test("incrementalMinhash: exact copies always caught, precision perfect, " +
       "recall vs exact cross pairs, index reuse is identical") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val recrawl = corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text")).unionByName(recrawl)
    val got = Dedup.incrementalMinhash(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every re-crawled exact copy collides in band 0 with agreement 64/64 —
    // detection is deterministic, not probabilistic, at J=1
    val recrawlIds = recrawl.select("doc_id").collect().map(_.getLong(0)).toSet
    val caught = got.filter(p => recrawlIds(p._1) && p._1 - 10000 == p._2)
    assert(caught.size == recrawlIds.size,
      s"missed exact copies: ${recrawlIds -- caught.map(_._1).toSet}")
    // precision exact by construction; recall vs the unblocked cross truth
    def w = graft.util.TextNorm.distinctWords(col("text"))
    val exact = batch.select(col("doc_id").as("doc_b"), w.as("wb"))
      .crossJoin(corpus.select(col("doc_id").as("doc_c"), w.as("wc")))
      .withColumn("j", graft.functions.VectorFunctions.jaccard(col("wb"), col("wc")))
      .filter(col("j") >= 0.8).select("doc_b", "doc_c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(gotPairs.subsetOf(exact), s"false positives: ${gotPairs -- exact}")
    assert(exact.isEmpty ||
      gotPairs.size.toDouble / exact.size >= 0.7,
      s"recall ${gotPairs.size.toDouble / exact.size}")
    // the persisted-index path is the same computation
    val viaIndex = Dedup.incrementalMinhash(corpus, batch,
        corpusIndex = Some(Dedup.bandedSignatures(corpus)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == got.toSet, "index reuse diverged from recompute")
  }

  test("recall-1 LSH config reproduces the exact semantic-dedup survivors") {
    // 1 plane/table x 40 tables: a cos>=0.35 pair misses all tables with
    // prob (acos(0.35)/pi)^40 ~ 3e-17, so candidates ⊇ exact pairs and the
    // exact verify makes the survivor sets identical — the property the
    // driver oracle (dedup_semantic_lsh_r1) adjudicates at sf0.01
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 0)
    val exact = Similarity.semanticDedup(emb)
      .collect().map(_.toSeq).toSet
    val lsh = Similarity.semanticDedupApprox(emb, nTables = 40, planesPerTable = 1)
      .collect().map(_.toSeq).toSet
    assert(lsh == exact,
      s"r1 config diverged: missing=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("per-group heavy hitters: MG bounds hold within every group") {
    val docs = Tables.documents(spark, sf)
    val k = 64
    val got = TextAnalysis.heavyHittersPerGroup(docs, summaryK = k, topN = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // truth stream = TOTAL token frequency (TextNorm.words, duplicates per
    // doc kept) — the same stream heavyHittersPerGroup summarizes; its
    // single-group siblings (heavyHitters/heavyHittersApprox) share this
    // semantics. Doc-frequency (distinctWords) is a different operator.
    val toks = docs.select(col("lang"),
        explode(graft.util.TextNorm.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val exact = toks.groupBy("lang", "word").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nPerLang = toks.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.map(_._1).distinct.size == nPerLang.size,
      "every language must report hitters")
    // the deterministic Misra-Gries guarantee, PER GROUP:
    // true - n_group/(k+1) <= est <= true — grouping the summary
    // aggregate must not loosen it
    got.foreach { case (lang, word, est) =>
      val truth = exact.getOrElse((lang, word),
        fail(s"reported word '$word' not in lang $lang vocab"))
      val slack = nPerLang(lang) / (k + 1)
      assert(est <= truth && est >= truth - slack,
        s"($lang,$word): est $est outside [${truth - slack}, $truth]")
    }
  }

  test("corpus_clusters: deterministic, sizes conserve the corpus, " +
       "cells well-formed") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.corpusClusters(emb).collect()
    val b = Similarity.corpusClusters(emb).collect()
    assert(a.toSeq == b.toSeq, "k-means clustering must be deterministic")
    assert(a.map(_.getAs[Long]("n_vecs")).sum == emb.count())
    val cells = a.map(_.getAs[Int]("cell"))
    assert(cells.distinct.length == cells.length && cells.forall(c => c >= 0 && c < 16))
    assert(a.forall(_.getAs[Double]("cohesion") >= 0.0))
    assert(math.abs(a.map(_.getAs[Double]("share")).sum - 1.0) < 1e-2)
  }
}
