package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Property-based checks for the algebraic kernels: the invariants hold on
  * ARBITRARY inputs, not just the fixtures the example tests picked. Driver-
  * side reference implementations keep each property fast (one Spark job per
  * test, generated data checked in bulk). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** Deterministic Gen sampling (no scalatest-scalacheck bridge in the
    * offline cache): n samples from fixed seeds, each asserted in full. */
  private def forAllSampled[T](gen: Gen[T], n: Int = 10)(body: T => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until n).foreach { _ =>
      gen.apply(params, seed).foreach(body)
      seed = seed.next
    }
  }

  test("zValueN equals the reference interleave for random dims/bits/values") {
    import spark.implicits._
    def refN(vs: Seq[Long], bits: Int): Long =
      (for (k <- 0 until bits; j <- vs.indices)
        yield ((vs(j) >> k) & 1) << (k * vs.size + j)).sum
    val gen = for {
      n <- Gen.choose(1, 4)
      bits <- Gen.choose(1, 62 / n)
      rows <- Gen.listOfN(20, Gen.listOfN(n, Gen.choose(0L, (1L << bits) - 1)))
    } yield (n, bits, rows)
    forAllSampled(gen) { case (n, bits, rows) =>
      val df = rows.map(r => Tuple1(r)).toDF("vs")
      val cols = (0 until n).map(j => element_at(col("vs"), j + 1))
      val got = df.select(graft.operators.Materialize.zValueN(cols, bits))
        .collect().map(_.getLong(0)).toSeq
      assert(got == rows.map(r => refN(r, bits)))
    }
  }

  test("mergeColumns: update columns come from delta on matches, others " +
       "from base; inserts land whole; key set = union") {
    import spark.implicits._
    val gen = for {
      baseKeys <- Gen.nonEmptyListOf(Gen.choose(0L, 30L)).map(_.distinct)
      deltaKeys <- Gen.nonEmptyListOf(Gen.choose(0L, 40L)).map(_.distinct)
    } yield (baseKeys, deltaKeys)
    forAllSampled(gen) { case (baseKeys, deltaKeys) =>
      val base = baseKeys.map(k => (k, s"b$k", k * 10.0)).toDF("k", "tag", "v")
      val delta = deltaKeys.map(k => (k, s"d$k", k * 100.0)).toDF("k", "tag", "v")
      val out = graft.operators.Incremental.mergeColumns(base, delta, "k", Seq("v"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      assert(out.keySet == (baseKeys ++ deltaKeys).toSet)
      baseKeys.foreach { k =>
        val (tag, v) = out(k)
        assert(tag == s"b$k") // non-update column always keeps base
        assert(v == (if (deltaKeys.contains(k)) k * 100.0 else k * 10.0))
      }
      deltaKeys.filterNot(baseKeys.contains).foreach { k =>
        assert(out(k) == ((s"d$k", k * 100.0))) // inserts land whole
      }
    }
  }

  test("mergeColumns: null keys never match — base row keeps its data, " +
       "delta row inserts whole (no silent null-out)") {
    import spark.implicits._
    val base = Seq((Option(1L), "b1", 10.0), (Option.empty[Long], "bN", 20.0))
      .toDF("k", "tag", "v")
    val delta = Seq((Option(1L), "d1", 100.0), (Option.empty[Long], "dN", 200.0))
      .toDF("k", "tag", "v")
    val out = graft.operators.Incremental.mergeColumns(base, delta, "k", Seq("v"))
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set(
      (Some(1L), "b1", 100.0),   // matched: v updates, tag keeps base
      (None, "bN", 20.0),        // null-key base row: untouched, NOT nulled
      (None, "dN", 200.0)))      // null-key delta row: plain insert
  }

  test("count-min: est >= true for every item on random multisets") {
    import spark.implicits._
    val gen = Gen.listOfN(300, Gen.choose(0, 40).map(i => s"w$i"))
    forAllSampled(gen, 5) { words =>
      val truth = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val df = words.toDF("w")
      val sk = df.agg(graft.functions.CountMinAgg.sketch(col("w"), 4, 64).as("sk"))
      val est = df.distinct()
        .crossJoin(broadcast(sk))
        .select(col("w"),
          graft.functions.CountMinAgg.estimate(col("sk"), col("w"), 4, 64))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      truth.foreach { case (w, c) =>
        assert(est(w) >= c, s"$w underestimated: ${est(w)} < $c")
        assert(est(w) - c <= words.size, "overestimate exceeds stream length")
      }
    }
  }

  test("theta sketch: exact below k; bounded relative error above it") {
    import spark.implicits._
    val lg = 8
    val k = 1 << lg
    val gen = Gen.choose(50, 20000)
    forAllSampled(gen, 5) { card =>
      val est = spark.range(card.toLong)
        .agg(theta_sketch_agg(col("id"), lg).as("sk"))
        .select(theta_sketch_estimate(col("sk")))
        .collect()(0).getLong(0).toDouble
      if (card < k) assert(est == card.toDouble, s"exact mode: $est != $card")
      else assert(math.abs(est - card) / card < 0.2,
        s"cardinality $card estimated $est")
    }
  }

  test("cdcApply: latest op per key wins, D deletes, absent keys insert") {
    import spark.implicits._
    val opsGen = Gen.listOfN(25, for {
      k <- Gen.choose(0L, 8L)
      seq <- Gen.choose(1L, 100L)
      op <- Gen.oneOf("I", "U", "D")
    } yield (k, seq, op))
    forAllSampled(opsGen) { ops0 =>
      // unique (k, seq): the contract assumes a monotone per-key changelog
      val ops = ops0.groupBy(o => (o._1, o._2)).map(_._2.head).toList
      val baseKeys = Seq(0L, 1L, 2L, 3L)
      val base = baseKeys.map(k => (k, s"base$k")).toDF("k", "payload")
      val changes = ops.map { case (k, seq, op) => (k, s"c$k-$seq", seq, op) }
        .toDF("k", "payload", "seq", "op")
      val got = graft.operators.Incremental.cdcApply(base, changes, "k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val byKey = ops.groupBy(_._1)
      (baseKeys ++ ops.map(_._1)).distinct.foreach { k =>
        val last = byKey.get(k).map(_.maxBy(_._2))
        val expected = last match {
          case Some((_, _, "D")) => None
          case Some((_, seq, _)) => Some(s"c$k-$seq")
          case None => if (baseKeys.contains(k)) Some(s"base$k") else None
        }
        assert(got.get(k) == expected, s"key $k: got ${got.get(k)}, want $expected")
      }
    }
  }

  test("incremental segment dedup over id-ordered batches equals the " +
       "one-shot batch dedup on random corpora") {
    import spark.implicits._
    val vocab = Seq("a", "b", "c", "d", "e")
    val gen = for {
      n <- Gen.choose(4, 12)
      texts <- Gen.listOfN(n,
        Gen.choose(1, 10).flatMap(w =>
          Gen.listOfN(w * 3, Gen.oneOf(vocab)).map(_.mkString(" "))))
      cut <- Gen.choose(1, n - 1)
    } yield (texts, cut)
    forAllSampled(gen, n = 6) { case (texts, cut) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val all = docs.toDF("doc_id", "text")
      val expected = graft.operators.Dedup.segmentDedup(all, segWords = 3)
        .collect().map(_.toSeq).toSet
      // sequential ingest: batches split at `cut` in doc-id order — the
      // global first-occurrence order the one-shot dedup uses
      val empty = spark.range(0).select(col("id").as("h"))
      val (d1, h1) = graft.operators.Dedup.incrementalSegmentDedup(
        docs.take(cut).toDF("doc_id", "text"), empty, segWords = 3)
      val (d2, _) = graft.operators.Dedup.incrementalSegmentDedup(
        docs.drop(cut).toDF("doc_id", "text"), h1.select("h"), segWords = 3)
      val got = (d1.collect() ++ d2.collect()).map(_.toSeq).toSet
      assert(got == expected,
        s"cut=$cut texts=${texts.mkString("|")}")
    }
  }

  test("incremental substring dedup: survivors are invariant to batch " +
       "boundaries and equal the closed-form global rule on random corpora") {
    import spark.implicits._
    // random corpora over a tiny alphabet with minChars = 6 so shared
    // runs actually occur; duplicate tails planted by construction
    val gen = for {
      n <- Gen.choose(4, 10)
      base <- Gen.listOfN(n, Gen.choose(3, 18).flatMap(w =>
        Gen.listOfN(w, Gen.oneOf("ab".toSeq)).map(_.mkString)))
      // a few docs copy another doc's text with a prefix — guaranteed
      // shared runs when the copied tail is >= minChars
      copies <- Gen.listOfN(2, Gen.choose(0, n - 1))
      cut1 <- Gen.choose(1, n + 1)
      cut2 <- Gen.choose(1, n + 1)
    } yield {
      val texts = base ++ copies.map(i => "xx" + base(i))
      (texts, cut1 min texts.size, cut2 min texts.size)
    }
    val minChars = 6
    forAllSampled(gen, n = 6) { case (texts, cut1, cut2) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // closed-form global rule (the oracle's shape): survivor ⟺ no
      // shared length-minChars window with any lower-id doc
      def windows(t: String): Set[String] =
        if (t.length < minChars) Set.empty
        else (0 to t.length - minChars).map(p => t.substring(p, p + minChars)).toSet
      val expected = docs.filter { case (id, t) =>
        val w = windows(t)
        !docs.exists { case (id2, t2) => id2 < id && windows(t2).exists(w) }
      }.map(_._1).toSet
      // ingest in 1..3 batches split at the random cuts — survivors and
      // the index must not depend on where the boundaries fall
      val cuts = Seq(cut1 min cut2, cut1 max cut2)
      val batches = {
        val b = Seq(docs.slice(0, cuts(0)), docs.slice(cuts(0), cuts(1)),
                    docs.slice(cuts(1), docs.size))
        b.filter(_.nonEmpty)
      }
      var index = spark.range(0).select(col("id").as("h"))
      val got = scala.collection.mutable.Set[Long]()
      batches.foreach { b =>
        val (survivors, newHashes) = graft.operators.Dedup
          .incrementalSubstringDedup(b.toDF("doc_id", "text"), index, minChars)
        got ++= survivors.select("doc_id").collect().map(_.getLong(0))
        index = index.union(newHashes).localCheckpoint(false)
      }
      assert(got.toSet == expected,
        s"cuts=$cuts texts=${texts.mkString("|")} got=$got want=$expected")
    }
  }

  test("WARC kernels (r15): arbitrary binary pages — bodies containing " +
       "CRLF runs, fake headers, any HTTP encoding combo — round-trip " +
       "through both parse paths; every truncation point is prefix-honest") {
    import graft.sources.Warc
    val pageGen = for {
      n <- Gen.chooseNum(1, 5)
      pages <- Gen.listOfN(n, for {
        tag <- Gen.alphaNumStr.map(_.take(8))
        len <- Gen.chooseNum(0, 300)
        body <- Gen.listOfN(len, Gen.chooseNum(0, 255).map(_.toByte))
        chunked <- Gen.oneOf(true, false)
        gz <- Gen.oneOf(true, false)
      } yield (s"https://x/$tag", body.toArray, chunked, gz))
    } yield pages
    forAllSampled(pageGen, 8) { pages =>
      def archive(gzipped: Boolean): Array[Byte] =
        pages.flatMap { case (u, b, c, g) =>
          Warc.syntheticWarc(u, "2024-01-01T00:00:00Z", b,
            gzipped = gzipped, httpChunked = c, httpGzip = g)
        }.toArray
      val plain = archive(false)
      val recs = Warc.parseWarc(plain)
      assert(recs.length == 3 * pages.length, s"${recs.length} records")
      // responses carry the EXACT body bytes in page order, whatever
      // the wire encoding stack was
      val resps = recs.filter(_._1 == "response")
      resps.zip(pages).foreach { case ((_, u, _, st, mime, body, dec, _), p) =>
        assert(u == p._1 && st == 200 && mime == "text/plain" &&
          java.util.Arrays.equals(body, p._2) && dec, s"page $u")
      }
      // the per-record-gzip layout parses to the same records, and the
      // STREAMED iterator walks the same count with length-true blocks
      val gzArch = archive(true)
      val gzRecs = Warc.parseWarc(gzArch)
      assert(gzRecs.length == recs.length &&
        gzRecs.zip(recs).forall { case (a, b) =>
          a._1 == b._1 && a._2 == b._2 && a._4 == b._4 &&
            java.util.Arrays.equals(a._6, b._6) })
      val streamed = Warc.recordIterator(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gzArch))).toVector
      assert(streamed.length == recs.length)
      streamed.foreach { case (hdrs, block) =>
        assert(hdrs("content-length").toInt == block.length) }
      assert(streamed.map(_._1.getOrElse("warc-target-uri", "")).filter(_.nonEmpty)
        == recs.map(_._2).filter(_.nonEmpty))
      // prefix honesty at EVERY 13th byte: the truncated parse is always
      // an exact prefix of the full record list — never a fabricated or
      // altered record, whatever the cut lands inside (header, block,
      // terminator, or a body byte that LOOKS like framing)
      (1 until plain.length by 13).foreach { k =>
        val pre = Warc.parseWarc(java.util.Arrays.copyOfRange(plain, 0, k))
        assert(pre.length <= recs.length, s"cut $k grew the record list")
        pre.zip(recs).foreach { case (a, b) =>
          assert(a._1 == b._1 && a._2 == b._2 && a._4 == b._4 &&
            java.util.Arrays.equals(a._6, b._6),
            s"cut $k altered record: $a vs $b")
        }
      }
    }
  }

  test("fftMagSq equals the naive O(n^2) DFT on random inputs, at " +
       "several power-of-2 sizes, to float tolerance") {
    import graft.operators.Multimodal
    def naiveMagSq(x: Array[Double]): Array[Double] = {
      val n = x.length
      (0 to n / 2).map { k =>
        var re = 0.0; var im = 0.0
        var t = 0
        while (t < n) {
          val ang = -2.0 * math.Pi * k * t / n
          re += x(t) * math.cos(ang)
          im += x(t) * math.sin(ang)
          t += 1
        }
        re * re + im * im
      }.toArray
    }
    val gen = for {
      logN <- Gen.oneOf(3, 5, 6, 7) // 8, 32, 64, 128
      xs <- Gen.listOfN(1 << logN, Gen.chooseNum(-30000.0, 30000.0))
    } yield xs.toArray
    forAllSampled(gen, 8) { xs =>
      val got = Multimodal.fftMagSq(xs.clone()) // in-place: keep the input
      val want = naiveMagSq(xs)
      assert(got.length == want.length)
      // relative-to-scale tolerance: DFT magnitudes of n values up to
      // 3e4 reach ~1e13; float error accumulates ~ulps of that scale
      val scale = math.max(want.max, 1.0)
      got.zip(want).zipWithIndex.foreach { case ((g, w), k) =>
        assert(math.abs(g - w) <= 1e-9 * scale,
          s"bin $k: $g vs $w (scale $scale)")
      }
    }
  }

  test("DOM and regex HTML rungs agree on GENERATED well-formed pages — " +
       "extract and main-text alike, across random thresholds") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta words", "x1",
      "Tom &amp; Jerry", "a&nbsp;b", "it&#39;s", "5 &lt; 6",
      // r17: numeric character references — valid (decimal, hex,
      // astral) and invalid-stays-literal (surrogate, out-of-range,
      // digitless) forms must agree across the rungs wherever the
      // generator plants them
      "caf&#233;", "x&#x2014;y", "&#x1F600;", "&#xD800;", "&#1114112;",
      "&#;", "&amp;#233;")
    val textGen = Gen.listOfN(6, word).map(_.mkString(" "))
    val inline = for {
      t <- textGen
      kind <- Gen.oneOf(0, 1, 2, 3)
    } yield kind match {
      case 0 => t
      case 1 => s"""<a href="/x" title="safe attr">$t</a>"""
      case 2 => s"<b>$t</b>"
      case _ => s"<!-- $t -->"
    }
    val block = for {
      tag <- Gen.oneOf("p", "div", "li", "h2", "blockquote", "td")
      inner <- Gen.listOfN(3, inline).map(_.mkString(" "))
      deco <- Gen.oneOf("", " class='c1'", " id=\"b2\" data-k='v'")
    } yield s"<$tag$deco>$inner</$tag>"
    val pageGen = for {
      pre <- Gen.oneOf("", "preamble text ", "<script>var x = 1;</script>")
      blocks <- Gen.listOfN(5, block)
      style <- Gen.oneOf("", "<style>p { color: red; }</style>")
    } yield pre + style + blocks.mkString("\n")
    forAllSampled(pageGen, 12) { page =>
      val r = Seq(page).toDF("h").select(
        TextAnalysis.extractHtmlText(col("h")).as("rx"),
        TextAnalysis.domText(col("h")).as("dm"),
        TextAnalysis.htmlMainText(col("h"), minWords = 3).as("rxm"),
        TextAnalysis.domMainText(col("h"), minWords = 3).as("dmm"),
        TextAnalysis.htmlMainText(col("h"), maxLinkDensityPct = 35,
          promoteHeadings = true).as("rxp"),
        TextAnalysis.domMainText(col("h"), maxLinkDensityPct = 35,
          promoteHeadings = true).as("dmp")).collect().head
      assert(r.getString(0) == r.getString(1),
        s"extract twins diverged on:\n$page")
      assert(r.getString(2) == r.getString(3),
        s"main-text twins diverged on:\n$page")
      assert(r.getString(4) == r.getString(5),
        s"promotion twins diverged on:\n$page")
    }
  }

  test("LSH bucket-pair kernel equals the band self-join + first-equal-band " +
       "+ equal-positions form (r=1x48, singleton buckets, all-band and " +
       "duplicate signatures, hot masks, hot-only pairs)") {
    import spark.implicits._
    import graft.functions.VectorFunctions.{equalPositions, firstEqualBand}
    // The form the kernel replaced, kept here as the reference: the band
    // self-join, the exactly-once first-agreeing-(non-hot-)band filter and
    // the signature-agreement prefilter, hot buckets dropped before the join.
    def reference(banded: org.apache.spark.sql.DataFrame, bands: Int, r: Int,
                  minAgree: Int, maxBandDf: Int) = {
      val capped =
        if (maxBandDf == Int.MaxValue) banded.withColumn("__hotmask", lit(0L))
        else {
          val hot = banded.groupBy("band_idx", "band_hash")
            .agg(count(lit(1)).as("__df")).filter(col("__df") > maxBandDf)
            .select("band_idx", "band_hash")
          val mask = banded.join(hot, Seq("band_idx", "band_hash"))
            .groupBy("doc_id")
            .agg(sum(expr("shiftleft(1L, cast(band_idx as int))")).as("__hotmask"))
          banded.join(hot.withColumn("__h", lit(true)), Seq("band_idx", "band_hash"), "left")
            .filter(col("__h").isNull).drop("__h")
            .join(mask, Seq("doc_id"), "left")
            .withColumn("__hotmask", coalesce(col("__hotmask"), lit(0L)))
        }
      val joined = capped.as("x").join(capped.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      def bandEq(j: Int) =
        slice(col("x.sig"), j * r + 1, r) === slice(col("y.sig"), j * r + 1, r)
      def hotBit(j: Int) =
        shiftright(col("x.__hotmask").bitwiseOR(col("y.__hotmask")), j)
          .bitwiseAND(1L) === 1L
      val first =
        if (maxBandDf == Int.MaxValue) firstEqualBand(col("x.sig"), col("y.sig"), r)
        else (0 until bands).foldRight(lit(-1)) { (j, rest) =>
          when(bandEq(j) && !hotBit(j), lit(j)).otherwise(rest) }
      val kept = joined.filter(first === col("x.band_idx"))
      (if (minAgree == 0) kept
       else kept.filter(equalPositions(col("x.sig"), col("y.sig")) >= minAgree))
        .select(col("x.doc_id"), col("y.doc_id"))
        .collect().map(p => (p.getLong(0), p.getLong(1))).toSeq.sorted
    }
    val gen = for {
      shape <- Gen.oneOf((48, 1, 3L), (4, 4, 2L), (8, 2, 3L))
      n <- Gen.choose(1, 30)
      sigs <- Gen.listOfN(n, Gen.listOfN(shape._1 * shape._2, Gen.choose(0L, shape._3 - 1)))
      dups <- Gen.listOfN(3, Gen.choose(0, n - 1))
      minAgree <- if (shape._2 == 1) Gen.const(0) else Gen.choose(0, shape._1 * shape._2)
      maxBandDf <- Gen.oneOf(Int.MaxValue, 2, 3, 6)
    } yield (shape, sigs, dups, minAgree, maxBandDf)
    forAllSampled(gen, 16) { case ((bands, r, _), sigs, dups, minAgree, maxBandDf) =>
      val k = bands * r
      // planted rows, values outside the random domain:
      //  - a singleton doc (every bucket of size 1);
      //  - copies of random signatures (agree in every band);
      //  - docs 900/901 agree ONLY in bands 0 and 1, whose buckets six
      //    fillers push over every cap (hot-only pair: emitted uncapped,
      //    dropped capped)
      val unique = Seq(800L -> Seq.tabulate(k)(i => 1000L + i))
      val copies = dups.zipWithIndex.map { case (d, i) => (700L + i) -> sigs(d) }
      val hotOnly = (900L to 907L).map { d =>
        d -> Seq.tabulate(k)(i => if (i < 2 * r) 50L + i else d * 100 + i) }
      val all = sigs.zipWithIndex.map { case (s, i) => i.toLong -> s } ++
        unique ++ copies ++ hotOnly
      val banded = graft.operators.Dedup.bandRows(all.toDF("doc_id", "sig"), bands, r)
        .localCheckpoint()
      val got = graft.operators.Dedup.bandCandidates(banded, bands, r, minAgree, maxBandDf)
        .collect().map(p => (p.getLong(0), p.getLong(1))).toSeq.sorted
      val want = reference(banded, bands, r, minAgree, maxBandDf)
      assert(got == want, s"bands=$bands r=$r minAgree=$minAgree maxBandDf=$maxBandDf")
      assert(got.distinct == got, "a pair emitted twice")
      val pairedHotOnly = got.contains(900L -> 901L)
      assert(pairedHotOnly == (maxBandDf == Int.MaxValue && minAgree <= 2 * r),
        s"hot-only pair: maxBandDf=$maxBandDf minAgree=$minAgree")
    }
  }

  test("sorted-long jaccard: interpreted and generated code both equal the " +
       "Set reference on random sorted arrays (duplicates, empty sides)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.functions.JaccardSortedLongs
    val extremes = Seq(Long.MinValue, -1L, 0L, Long.MaxValue)
    val side = for {
      n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 40))
      range <- Gen.oneOf(4L, 30L, 1000L)
      xs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.choose(-range, range), 1 -> Gen.oneOf(extremes)))
    } yield xs.sorted.toArray
    val gen = Gen.listOfN(40, Gen.zip(side, side))
    // both null-free and containsNull-typed inputs (the latter add the
    // null guard to the generated code)
    val exprs = Seq(false, true).map { containsNull =>
      val t = ArrayType(LongType, containsNull)
      JaccardSortedLongs(BoundReference(0, t, nullable = false),
        BoundReference(1, t, nullable = false))
    }
    val compiled = exprs.map(e => GenerateMutableProjection.generate(Seq(e)))
    forAllSampled(gen, 20) { pairs =>
      pairs.foreach { case (a, b) =>
        val (sa, sb) = (a.toSet, b.toSet)
        val union = (sa | sb).size
        val want = if (union == 0) 0.0 else (sa & sb).size.toDouble / union
        val inputs = Seq(
          InternalRow(UnsafeArrayData.fromPrimitiveArray(a),
            UnsafeArrayData.fromPrimitiveArray(b)),
          InternalRow(new GenericArrayData(a.toSeq), new GenericArrayData(b.toSeq)))
        for (row <- inputs; (e, proj) <- exprs.zip(compiled)) {
          val ctx = s"${a.toSeq} vs ${b.toSeq}"
          assert(e.eval(row) == want, s"interpreted: $ctx")
          assert(proj(row).getDouble(0) == want, s"generated: $ctx")
        }
      }
    }
  }

  test("scale-0 half-up round equals functions.round(x, 0) bit for bit " +
       "(sign of zero, NaN and infinities included), in generated code and " +
       "interpreted; a non-double input fails analysis") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.RoundHalfUp
    import graft.util.Det
    val rnd = new scala.util.Random(97)
    val edges = Seq(0.49999999999999994, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.0, -0.0, -0.3, 4.9e-324, -4.9e-324, 4503599627370495.5,
      -4503599627370495.5, 4503599627370496.0, 9007199254740993.0,
      Double.MaxValue, -Double.MaxValue, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val halves = (0 until 2000).flatMap { _ =>
      val n = (rnd.nextLong() >> rnd.nextInt(63)).toDouble + 0.5
      Seq(n, Math.nextUp(n), Math.nextDown(n), -n)
    }
    val cents = (0 until 20000).map(_ => (rnd.nextInt(2000000) - 1000000) / 100.0 * 100)
    val uniform = (0 until 20000).map(_ => (rnd.nextDouble() - 0.5) * 2e4)
    val bits = (0 until 60000).map(_ => java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val xs = edges ++ halves ++ cents ++ uniform ++ bits
    def raw(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // whole-stage generated code on both sides
    val got = xs.toDF("x").select(Det.halfUp(col("x")), round(col("x"), 0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.length == xs.length)
    got.zip(xs).foreach { case ((mine, theirs), x) =>
      assert(raw(mine) == raw(theirs), s"x=$x: $mine vs Spark's $theirs")
    }
    // the interpreted paths of both expressions
    val in = BoundReference(0, DoubleType, nullable = true)
    val mine = RoundHalfUp(in)
    val theirs = Round(in, Literal(0))
    xs.foreach { x =>
      val row = InternalRow(x)
      val (m, s) = (mine.eval(row).asInstanceOf[Double], theirs.eval(row).asInstanceOf[Double])
      assert(raw(m) == raw(s), s"interpreted x=$x: $m vs Spark's $s")
    }
    assert(mine.eval(InternalRow(null)) == null)
    for (bad <- Seq(lit(1L), lit(1), lit(1.5f), lit(BigDecimal("1.5")))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).select(Det.halfUp(bad)).collect())
      assert(e.getMessage.contains("graft_round_half_up expects double"), e.getMessage)
    }
  }

  test("scalar half-up long equals the BigDecimal HALF_UP it replaced on " +
       "every finite input below 2^53, is exact up to the long range; NaN, " +
       "infinities and out-of-range values fail with an IllegalArgumentException") {
    import graft.functions.RoundHalfUp
    val rnd = new scala.util.Random(131)
    val (p53, p63) = (math.pow(2, 53), math.pow(2, 63))
    // the replaced twins: java.math.BigDecimal.valueOf (cents) and Scala's
    // BigDecimal(d) (micro-units) both round the shortest decimal repr
    def javaTwin(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    def scalaTwin(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val edges = Seq(0.49999999999999994, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
      0.0, -0.0, -0.3, 4.9e-324, -4.9e-324, 4503599627370495.5,
      -4503599627370495.5, 9007199254740993.0, -p63,
      Math.nextDown(p63), -Math.nextDown(p63))
    val halves = (0 until 2000).flatMap { _ =>
      val n = (rnd.nextLong() >> rnd.nextInt(63)).toDouble + 0.5
      Seq(n, Math.nextUp(n), Math.nextDown(n), -n)
    }
    // the call sites' shapes: price * 100 and log-ratio * 1e6
    val cents = (0 until 20000).map(_ => (rnd.nextInt(2000000) - 1000000) / 100.0 * 100)
    val unats = (0 until 20000).map(_ =>
      math.log((rnd.nextInt(5000) + 1).toDouble / (rnd.nextInt(90000) + 1)) * 1e6)
    val bits = (0 until 60000).map(_ => java.lang.Double.longBitsToDouble(rnd.nextLong()))
      .filter(x => Math.abs(x) < p63)
    (edges ++ halves ++ cents ++ unats ++ bits).foreach { x =>
      if (Math.abs(x) < p53) {
        val want = javaTwin(x)
        assert(RoundHalfUp.toLong(x) == want, s"x=$x")
        assert(scalaTwin(x) == want, s"the two twins disagree at x=$x")
      } else // every double is an integer here: toLong is its exact value,
             // where the twins took the shortest repr's (2^60 reads ...847E18)
        assert(RoundHalfUp.toLong(x) == new java.math.BigDecimal(x).longValueExact, s"x=$x")
    }
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
                    p63, Math.nextDown(-p63), Double.MaxValue, -Double.MaxValue)) {
      val e = intercept[IllegalArgumentException](RoundHalfUp.toLong(bad))
      assert(e.getMessage == s"no half-up long for $bad", e.getMessage)
    }
  }

  test("term-score kernel equals the query-term join + (query, doc) sum it " +
       "replaced (duplicate terms, zero weights, empty and null postings, " +
       "a query sharing no term, a term in every query)") {
    import spark.implicits._
    import graft.functions.TermFunctions.termScores
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    val gen = for {
      nDocs <- Gen.choose(1, 12)
      docs <- Gen.listOfN(nDocs, Gen.listOf(for {
        t <- Gen.oneOf(vocab)
        w <- Gen.frequency(3 -> Gen.const(0L), 7 -> Gen.choose(-5L, 1000000L))
      } yield (t, w)))
      nQueries <- Gen.choose(1, 6)
      queries <- Gen.listOfN(nQueries, Gen.listOf(Gen.oneOf(vocab)))
    } yield (docs, queries)
    forAllSampled(gen, 16) { case (docs, queries) =>
      // planted: a doc with empty postings, one with a null array, a doc
      // whose terms no query holds, a doc of zero weights on a repeated
      // term, a query whose terms no doc holds, and "a" in every query
      // (random lists may repeat a term on either side)
      val postings: Seq[(Long, Option[Seq[(String, Long)]])] =
        docs.zipWithIndex.map { case (ps, i) => i.toLong -> Some(ps) } ++
          Seq(100L -> Some(Nil), 101L -> None, 102L -> Some(Seq("zz" -> 7L)),
            103L -> Some(Seq("a" -> 0L, "a" -> 0L)))
      val qt = (queries.zipWithIndex.flatMap { case (ts, q) =>
        ("a" +: ts).map(t => (1000L + q, t)) } ++ Seq(2000L -> "yy"))
        .toDF("query_id", "t")
      val pdf = postings.toDF("doc_id", "postings")
      val want = pdf.select(col("doc_id"), explode(col("postings")).as("p"))
        .select(col("doc_id"), col("p._1").as("t"), col("p._2").as("w"))
        .join(qt, Seq("t"))
        .groupBy("query_id", "doc_id").agg(sum("w").as("score_micro"))
        .select("query_id", "doc_id", "score_micro")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      // the index bm25TopK builds: one (query_id, terms) element per
      // query, plus a query whose terms array is null
      val index = qt.groupBy("query_id").agg(collect_list(col("t")).as("terms"))
        .unionByName(Seq(3000L -> Option.empty[Seq[String]]).toDF("query_id", "terms"))
        .agg(collect_list(struct(col("query_id"), col("terms"))))
      val got = pdf.select(col("doc_id"), termScores(col("postings"), index.scalar()))
        .select("query_id", "doc_id", "score_micro")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == want, s"docs=$docs queries=$queries")
      assert(!got.exists(r => Set(100L, 101L, 102L)(r._2) || r._1 >= 2000L),
        "a doc or query without a shared term got a row")
      // zero weights still make a row, as the join + sum does
      assert(got.filter(_._2 == 103L) ==
        queries.indices.map(q => (1000L + q, 103L, 0L)), "a zero-sum row was lost")
    }
  }
}
