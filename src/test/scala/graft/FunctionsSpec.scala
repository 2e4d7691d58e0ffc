package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.Tables

class FunctionsSpec extends SparkSpec {

  /** The token-aggregate MinHash form ([[graft.functions.MinHashSignature]])
    * — the reference the in-row signature is pinned against. */
  private def minhashAgg(token: org.apache.spark.sql.Column, k: Int) =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graftbridge.Bridge.expression(token), k)
        .toAggregateExpression())

  test("native cosine matches the higher-order-function computation") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val joined = e.crossJoin(broadcast(q))
    val native = joined.select(col("vec_id"),
      VectorFunctions.cosine(col("embedding"), col("q")).as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hof = joined.select(col("vec_id"),
      (aggregate(zip_with(col("embedding"), col("q"),
        (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v) /
       (sqrt(aggregate(col("embedding"), lit(0.0), (acc, v) => acc + v.cast("double") * v)) *
        sqrt(aggregate(col("q"), lit(0.0), (acc, v) => acc + v.cast("double") * v))))
        .as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    native.foreach { case (id, c) =>
      assert(math.abs(c - hof(id)) < 1e-12, s"vec $id: $c vs ${hof(id)}")
    }
  }

  test("native cosine stays inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val df = e.crossJoin(broadcast(q))
      .select(VectorFunctions.cosine(col("embedding"), col("q")).as("c"))
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    // codegen stages render as "WholeStageCodegen (n)" or the "*(n)" prefix
    assert(plan.contains("WholeStageCodegen") ||
      "\\*\\(\\d+\\) Project \\[graft_cosine".r.findFirstIn(plan).isDefined,
      s"graft_cosine not inside a codegen span in:\n$plan")
  }

  test("MinHashSignature aggregate is bit-identical to k min(xxhash64) columns") {
    import graft.sources.Tables
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(
        split(lower(trim(col("text"))), " "))).as("t"))
    val k = 16
    val native = toks.groupBy("doc_id")
      .agg(minhashAgg(col("t"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val aggs = (0 until k).map(i => min(xxhash64(col("t"), lit(i))).as(s"m$i"))
    val columnar = toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap
    assert(native.keySet == columnar.keySet)
    native.foreach { case (id, sig) =>
      assert(sig == columnar(id), s"doc $id signature mismatch")
    }
  }

  test("SimHashSignature aggregate matches the 64 vote-sum columns") {
    import graft.sources.Tables
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(
        split(lower(trim(col("text"))), " "))).as("t"))
    val native = toks.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.simhash(col("t")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = xxhash64(col("t"))
    val votes = (0 until 64).map { b =>
      sum(shiftright(h, b).bitwiseAND(1) * 2 - 1).as(s"b$b")
    }
    val columnar = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == columnar)
  }

  test("sliding min kernel matches the brute-force per-position window min") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      Array.empty[Long], Array(5L), Array(3L, 1L, 2L),
      Array.fill(97)(rnd.nextLong()), Array.tabulate(40)(i => (40 - i).toLong))
    for (w <- Seq(1, 4, 8); in <- cases) {
      val expected = in.indices.map(i =>
        in.slice(i, math.min(i + w, in.length)).min).toSeq
      val got = Seq(in.toSeq).toDF("a")
        .select(VectorFunctions.slidingMin(col("a"), w).as("m"))
        .head.getSeq[Long](0)
      assert(got == expected, s"width $w over ${in.take(8).toSeq}...")
    }
  }

  test("window-hash kernel is bit-identical to transform+substr+xxhash64, " +
       "multi-byte UTF-8 included") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val ascii = (1 to 200).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val cases = Seq(
      "", "a", "short", ascii,
      "café déjà vu " * 10,           // 2-byte chars
      "你好世界 " * 15,              // 3-byte chars
      "mixed 😀 emoji é text " * 8)   // 4-byte surrogate pairs
    for (w <- Seq(1, 2, 8, 40); s <- cases) {
      val df = Seq(s).toDF("text")
      val got = df.select(
        VectorFunctions.windowHashes(col("text"), w).as("h"))
        .head.getSeq[Long](0)
      val expected = df.select(
        when(length(col("text")) >= w,
          transform(sequence(lit(1), length(col("text")) - (w - 1)),
            i => xxhash64(col("text").substr(i, lit(w)))))
          .otherwise(array().cast("array<bigint>")).as("h"))
        .head.getSeq[Long](0)
      assert(got == expected,
        s"window $w over ${s.take(12)}... (${got.take(4)} vs ${expected.take(4)})")
    }
  }

  test("sorted-long jaccard equals string-set jaccard on hashed word sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def doc(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(40)}").distinct
    val cases = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a"), Seq.empty[String]),
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (doc(60), doc(60)), (doc(5), doc(80)))
    for ((a, b) <- cases) {
      val df = Seq((a, b)).toDF("a", "b")
      val viaStrings = df.select(
        VectorFunctions.jaccard(col("a"), col("b"))).head.getDouble(0)
      val viaHashes = df.select(VectorFunctions.jaccardSortedLongs(
        sort_array(transform(col("a"), w => xxhash64(w))),
        sort_array(transform(col("b"), w => xxhash64(w))))).head.getDouble(0)
      assert(viaHashes == viaStrings, s"$a vs $b: $viaHashes != $viaStrings")
    }
    // duplicates in the sorted input count once (set semantics)
    val dup = Seq((Seq(1L, 5L, 5L, 9L), Seq(5L, 9L, 9L))).toDF("a", "b")
    assert(dup.select(VectorFunctions.jaccardSortedLongs(col("a"), col("b")))
      .head.getDouble(0) == 2.0 / 3.0)
  }

  test("sorted-long jaccard rejects null elements with a named error; " +
       "a null array is null") {
    import spark.implicits._
    val df = Seq((Seq[java.lang.Long](1L, null, 9L), Seq[java.lang.Long](1L, 9L)))
      .toDF("a", "b")
    for (sides <- Seq(Seq(col("a"), col("b")), Seq(col("b"), col("a")))) {
      // interpreted and codegen'd paths both guard
      for (codegen <- Seq("true", "false")) {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen)
        try {
          val e = intercept[Exception](df.select(
            VectorFunctions.jaccardSortedLongs(sides(0), sides(1))).collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
          assert(msgs.contains("graft_jaccard_sorted: null element at index 1"), msgs)
        } finally spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val nullArr = Seq((Option.empty[Seq[Long]], Seq(1L))).toDF("a", "b")
    assert(nullArr.select(VectorFunctions.jaccardSortedLongs(col("a"), col("b")))
      .head.isNullAt(0))
    // null-free input typed containsNull=true still computes normally
    val typedNullable = Seq((Seq[java.lang.Long](1L, 5L), Seq[java.lang.Long](5L)))
      .toDF("a", "b")
    assert(typedNullable.select(VectorFunctions.jaccardSortedLongs(col("a"), col("b")))
      .head.getDouble(0) == 0.5)
  }

  test("in-row MinHash signature is bit-identical to the token aggregate " +
       "(random, empty and multi-byte tokens), and the band index is unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val alphabet = Seq("a", "b", "z", "é", "ß", "日本", "🙂", "\u0000", "x y")
    def tok() = (1 to 1 + rnd.nextInt(4)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    val docs = (0 until 60).map { i =>
      val text = i % 10 match {
        case 0 => null                                   // no word array
        case 1 => ""                                     // one empty word
        case 2 => "   "                                  // trims to ""
        case _ => (1 to 1 + rnd.nextInt(30)).map(_ => tok()).mkString(" ")
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val k = 24
    val words = array_distinct(split(lower(trim(col("text"))), " "))
    val reference = docs.select(col("doc_id"), explode(words).as("t"))
      .groupBy("doc_id").agg(minhashAgg(col("t"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val inRow = docs.select(col("doc_id"), sort_array(transform(words, w => xxhash64(w))).as("h"))
      .filter(size(col("h")) > 0)
      .select(col("doc_id"), graft.functions.MinHashAgg.minhashOfHashes(col("h"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(reference.size == 54 && inRow == reference)
    // the persisted band index: same rows, same schema, value for value
    val banded = graft.operators.Dedup.bandedSignatures(docs, k, 4)
    val bandedRef = docs.select(col("doc_id"), explode(words).as("t"))
      .groupBy("doc_id").agg(minhashAgg(col("t"), k).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until 4).map(bi =>
          xxhash64((bi * 6 until (bi + 1) * 6).map(j => col("sig")(j)): _*)): _*))
          .as(Seq("band_idx", "band_hash")))
    assert(banded.schema.map(f => (f.name, f.dataType)) ==
      bandedRef.schema.map(f => (f.name, f.dataType)))
    assert(banded.exceptAll(bandedRef).isEmpty && bandedRef.exceptAll(banded).isEmpty)
    assert(banded.count() == 54 * 4)
  }

  test("first-equal-band and equal-positions kernels match brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cases = (1 to 30).map { _ =>
      val a = Array.fill(16)(rnd.nextInt(3).toLong) // small domain → collisions
      val b = Array.fill(16)(rnd.nextInt(3).toLong)
      (a.toSeq, b.toSeq)
    } :+ ((1L to 16L).toSeq, (1L to 16L).toSeq)
    for ((a, b) <- cases; r <- Seq(2, 4, 8)) {
      val expBand = (0 until 16 / r).find(j =>
        (j * r until (j + 1) * r).forall(p => a(p) == b(p))).getOrElse(-1)
      val expEq = a.indices.count(i => a(i) == b(i))
      val row = Seq((a, b)).toDF("a", "b").select(
        VectorFunctions.firstEqualBand(col("a"), col("b"), r).as("fb"),
        VectorFunctions.equalPositions(col("a"), col("b")).as("eq")).head
      assert(row.getInt(0) == expBand && row.getInt(1) == expEq,
        s"r=$r a=$a b=$b got ${row.toSeq} want ($expBand, $expEq)")
    }
  }

  test("mojibake repair (r15): corrupted text recovers byte-exactly, clean " +
       "text is a fixed point, the repair stays inside whole-stage codegen") {
    import spark.implicits._
    def fix(ss: String*): Seq[String] =
      ss.toDF("t").select(TextFunctions.fixMojibake(col("t")))
        .collect().map(_.getString(0)).toSeq
    // the canonical corruptions: latin1-range (Ã©), cp1252-window
    // (â€™/â€œ), and a DOUBLE corruption needing two repair rounds —
    // inputs built by the exact upstream bug (utf8 bytes read as cp1252)
    def corrupt(clean: String): String =
      new String(clean.getBytes("UTF-8"), "windows-1252")
    val cleans = Seq("café", "I’m — “quoted naïve", "déjà vu €9")
    assert(fix(cleans.map(corrupt): _*) == cleans)
    assert(fix(corrupt(corrupt("café"))) == Seq("café"), "double corruption")
    // the 5 cp1252-undefined bytes (0x81/8D/8F/90/9D): a WHATWG-style
    // upstream decodes them to C1 controls (Java's strict decoder
    // instead destroys them to U+FFFD — that text is honestly
    // unrecoverable and stays put); '”' = E2 80 9D exercises the path
    assert(fix("quoted â€ end") == Seq("quoted ” end"))
    assert(fix("destroyed â€� end")
      == Seq("destroyed â€� end"), "U+FFFD is unrecoverable")
    // fixed points: ASCII, CORRECT accented text (not valid utf8 when
    // re-read as bytes), and text cp1252 cannot carry at all
    val fixed = Seq("plain ascii words", "correct café text", "中文 text",
      "mixed café — correct punctuation")
    assert(fix(fixed: _*) == fixed)
    // whole-stage codegen: the kernel call sits inside a codegen span
    // (a real scan — a local Seq plans as LocalTableScan, no codegen)
    val df = Tables.documents(spark, sf)
      .select(TextFunctions.fixMojibake(col("text")).as("t"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") ||
      "\\*\\(\\d+\\) Project \\[graft_fix_mojibake".r.findFirstIn(plan).isDefined,
      s"no codegen span:\n$plan")
  }

  test("GraftExtensions' SQL functions resolve and evaluate through the injection path") {
    // A shared-session suite can't exercise builder.withExtensions (the
    // builder returns the existing session and drops them), and a silent
    // Column-API fallback would keep this green with the registration
    // broken. Drive the SAME injectFunction list into a child session's
    // registry and require the SQL names to resolve — no fallback.
    val fresh = spark.newSession()
    org.apache.spark.sql.graftbridge.Bridge.installFunctions(
      new graft.functions.GraftExtensions()(_), fresh)
    val c = fresh.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    // k above the distinct count → MG degenerates to exact counts, sorted
    val got = fresh.sql(
      "SELECT graft_heavy_hitters(w, 8) AS hh FROM VALUES ('a'),('a'),('b'),('a'),('c') t(w)")
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got == Seq("a" -> 3L, "b" -> 1L, "c" -> 1L), s"got $got")
    // CMS grid: d=2 x w=16 longs, total mass = 2 rows per item per depth
    val cms = fresh.sql(
      "SELECT graft_cms(w, 2, 16) AS sk FROM VALUES ('x'),('y'),('x') t(w)")
      .head.getSeq[Long](0)
    assert(cms.length == 32 && cms.sum == 6, s"cms: $cms")
    // mojibake repair resolves by SQL name and repairs (r15)
    val fm = fresh.sql("SELECT graft_fix_mojibake('CafÃ©') AS t")
      .head.getString(0)
    assert(fm == "Café", s"graft_fix_mojibake: $fm")
    // NFC resolves by SQL name and composes (r15)
    val nf = fresh.sql("SELECT graft_nfc('café') AS t").head.getString(0)
    assert(nf == "café", s"graft_nfc: $nf")
  }

  test("NFC normalization (r15): decomposed sequences compose, composed " +
       "and ASCII text are fixed points, ligatures stay (canonical not " +
       "compatibility), and the kernel matches java.text.Normalizer") {
    import spark.implicits._
    val inputs = Seq("café", "Å ñ", "café done",
      "plain ascii", "ﬁn ligature stays", "mixed café café")
    val got = inputs.toDF("t")
      .select(TextFunctions.nfc(col("t"))).collect().map(_.getString(0)).toSeq
    val want = inputs.map(java.text.Normalizer.normalize(_,
      java.text.Normalizer.Form.NFC))
    assert(got == want, s"$got vs $want")
    assert(got(0) == "caf\u00E9" && got(1) == "\u00C5 \u00F1" &&
      got(4) == "\uFB01n ligature stays")
    // the byte-level consequence the op exists for: the two forms of
    // the same visible text share an exact-dedup digest only after NFC
    val digests = Seq("café", "café").toDF("text")
      .select(md5(lower(trim(TextFunctions.nfc(col("text")))))).collect()
      .map(_.getString(0))
    assert(digests(0) == digests(1), "NFC must unify the dedup key")
  }

  test("theta union over stored cells: the same sketch bytes as one " +
       "theta_sketch_agg over the raw events, at 1 and 7 partitions") {
    import graft.operators.Analytics
    val lg = 6 // 64 nominal entries: every cell SATURATES, so the trim binds
    // the sf tables hold ~15 users per event type, too few to saturate
    // any theta sketch (lg ≥ 4), so the events are synthetic: 3 types ×
    // 30 days, ~200 distinct users per (day, type) cell
    val events = spark.range(0, 20000).select(
      timestamp_seconds(col("id") % 30 * 86400).as("ts"),
      (col("id") % 3).cast("string").as("event_type"),
      (abs(xxhash64(col("id"))) % 5000).as("user_id"))
    def bytesOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    def viaCells(parts: Int) = bytesOf(
      Analytics.sketchCells(events.repartition(parts), lg).repartition(parts)
        .groupBy("event_type").agg(theta_union_agg(col("sk"), lg)))
    def direct(parts: Int) = bytesOf(events.repartition(parts)
      .groupBy("event_type").agg(theta_sketch_agg(col("user_id"), lg)))
    val raw = direct(1)
    assert(raw.size == 3)
    assert(events.groupBy(to_date(col("ts")), col("event_type"))
      .agg(countDistinct("user_id")).collect().forall(_.getLong(2) > (1L << lg)),
      "a cell does not saturate")
    assert(direct(7) == raw, "raw sketch depends on partition layout")
    assert(viaCells(1) == raw, "union of stored cells diverged from the raw sketch")
    assert(viaCells(7) == raw, "union of stored cells depends on partition layout")
  }

  test("BoundedMinPosSet: exact cap boundary, min-pos fold, duplicate-doc " +
       "dedup, and partition-layout invariance (overflow is absorbing " +
       "through every merge order)") {
    import spark.implicits._
    import graft.functions.BoundedSetAgg
    // keys: k2 has 2 distinct docs, k3 exactly 3 (== maxDf: keep),
    // k4 has 4 (> maxDf: NULL), dup repeats one doc at 3 positions
    val rows = Seq(
      ("k2", 7L, 30L), ("k2", 3L, 10L),
      ("k3", 1L, 5L), ("k3", 2L, 6L), ("k3", 3L, 7L),
      ("k4", 1L, 1L), ("k4", 2L, 1L), ("k4", 3L, 1L), ("k4", 4L, 1L),
      ("dup", 9L, 50L), ("dup", 9L, 20L), ("dup", 9L, 80L))
    def run(numPart: Int): Map[String, Seq[(Long, Long)]] =
      rows.toDF("k", "doc", "p").repartition(numPart)
        .groupBy("k")
        .agg(BoundedSetAgg.minPosSet(col("doc"), col("p"), 3).as("ds"))
        .collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) null
          else r.getSeq[org.apache.spark.sql.Row](1)
            .map(s => (s.getLong(0), s.getLong(1))))).toMap
    val want = Map(
      "k2" -> Seq((3L, 10L), (7L, 30L)), // doc_id-sorted
      "k3" -> Seq((1L, 5L), (2L, 6L), (3L, 7L)), // == maxDf survives
      "k4" -> null, // maxDf+1 distinct docs → capped
      "dup" -> Seq((9L, 20L))) // set semantics + min position
    // 1 partition = pure update path; 12 ≥ rows = every merge order and
    // the serialize/deserialize hop for each partial
    for (p <- Seq(1, 3, 12)) assert(run(p) == want, s"partitions=$p")
  }

  test("in-row n-gram counts are bit-equal to explode+filter+groupBy, " +
       "n = 1/2/3, empty tokens and short rows included") {
    import spark.implicits._
    import graft.functions.TermFunctions
    val rnd = new scala.util.Random(31)
    def doc(n: Int) = (1 to n).map(_ => rnd.nextInt(8) match {
      case 0 => "" // split() yields empty tokens on doubled spaces
      case k => s"w$k"
    })
    val docs = (Seq(Seq.empty[String], Seq(""), Seq("a"), Seq("a", "b"),
      Seq("你好", "café", "你好", "café", "你好")) ++
      (1 to 20).map(i => doc(3 + rnd.nextInt(60))))
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws) }
      .toDF("doc_id", "ws")
    for (n <- Seq(1, 2, 3)) {
      val viaKernel = docs.select(col("doc_id"),
          explode(TermFunctions.ngramCounts(col("ws"), n)).as("e"))
        .select(col("doc_id") +: (1 to n).map(j => col(s"e.w$j")) :+ col("e.tf"): _*)
        .collect().map(_.toSeq).toSet
      val gram = transform(sequence(lit(0), size(col("ws")) - n), i =>
        struct((1 to n).map(j => element_at(col("ws"), i + j).as(s"w$j")): _*))
      val nonEmpty = (1 to n).map(j => col(s"g.w$j") =!= "").reduce(_ && _)
      val viaExplode = docs.filter(size(col("ws")) >= n)
        .select(col("doc_id"), explode(gram).as("g"))
        .filter(nonEmpty)
        .groupBy(col("doc_id") +: (1 to n).map(j => col(s"g.w$j").as(s"w$j")): _*)
        .agg(count(lit(1)).as("tf"))
        .collect().map(_.toSeq).toSet
      assert(viaKernel == viaExplode, s"n=$n")
    }
    // skipEmpty = false: "" is a countable word (repetitionScore semantics)
    val withEmpties = Seq((0L, Seq("", "a", "", "a"))).toDF("doc_id", "ws")
    val got = withEmpties.select(
        explode(TermFunctions.ngramCounts(col("ws"), 1, skipEmpty = false)).as("e"))
      .select(col("e.w1"), col("e.tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("" -> 2L, "a" -> 2L))
  }

  test("in-row n-gram hashes equal the distinct concat_ws shingle keys: " +
       "same count, same xxhash64 chain values, sorted ascending") {
    import spark.implicits._
    import graft.functions.TermFunctions
    val rnd = new scala.util.Random(37)
    def doc(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(12)}")
    val docs = (Seq(Seq.empty[String], Seq("a"), Seq("a", "b"),
      Seq("a", "b", "a", "b", "a")) ++ (1 to 15).map(_ => doc(3 + rnd.nextInt(50))))
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws) }.toDF("doc_id", "ws")
    val n = 3
    // value pin: each window's hash is the xxhash64 seed chain over its
    // tokens — exactly xxhash64(w1, w2, w3)
    val winHashes = when(size(col("ws")) >= n,
        array_distinct(transform(sequence(lit(0), size(col("ws")) - n), i =>
          xxhash64((1 to n).map(j => element_at(col("ws"), i + j)): _*))))
      .otherwise(array().cast("array<bigint>"))
    val rows = docs.select(col("doc_id"),
        TermFunctions.ngramHashes(col("ws"), n).as("k"),
        sort_array(winHashes).as("c")).collect()
    rows.foreach { r =>
      val k = r.getSeq[Long](1); val c = r.getSeq[Long](2)
      assert(k == c, s"doc ${r.getLong(0)}: kernel $k vs composable $c")
      assert(k == k.distinct.sorted, "not sorted-distinct")
    }
    // distinctness matches shingle STRING distinctness (single-space split
    // tokens make the triple <-> joined-string map a bijection)
    val viaStrings = docs.select(col("doc_id"), size(array_distinct(
        when(size(col("ws")) >= n,
          transform(sequence(lit(0), size(col("ws")) - n), i =>
            concat_ws(" ", (1 to n).map(j => element_at(col("ws"), i + j)): _*)))
          .otherwise(array().cast("array<string>")))).as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(r.getSeq[Long](1).size == viaStrings(r.getLong(0))))
  }
}
