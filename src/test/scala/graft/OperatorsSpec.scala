package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._

class OperatorsSpec extends SparkSpec {

  // the one reference implementation of the md5-hex order/gate the
  // domain_quota / quality_sample / curation_funnel twins all state —
  // a single definition so an encoding tweak cannot drift between tests
  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8"))
    .map(b => f"${b & 0xff}%02x").mkString

  test("every SparkEntry query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("dropSharedResults frees the session's memoized pair builds, and " +
       "the next query builds them again (each graft.Bench attempt pays " +
       "for its build)") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    def cached(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def rddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed match { case lr: LogicalRDD => lr.rdd.id }
    // dedup_clusters is the memoized clusters frame itself
    val first = SparkEntry.queries("dedup_clusters")(spark, sf)
    assert(rddId(SparkEntry.queries("dedup_clusters")(spark, sf)) == rddId(first),
      "the memo did not serve the second call")
    val n = first.count()
    assert(cached().contains(rddId(first)), "the memo holds no stored blocks")
    SparkEntry.dropSharedResults(spark)
    // frees are asynchronous: poll the storage status until they land
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(!cached().contains(rddId(first)))
    }
    val rebuilt = SparkEntry.queries("dedup_clusters")(spark, sf)
    assert(rddId(rebuilt) != rddId(first), "the dropped memo was served again")
    assert(rebuilt.count() == n)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("stg_orders preserves row count and renames") {
    val orders = Tables.orders(spark, sf)
    val stg = Relational.stgOrders(orders)
    assert(stg.count() == orders.count())
    assert(stg.columns.toSeq == Seq("order_key", "customer_key", "order_status",
      "total_price", "order_date", "order_priority"))
  }

  test("target mix: rates <= 1, binding source keeps everything, " +
       "non-positive weights excluded") {
    val docs = Tables.documents(spark, sf)
    val w = substring(col("source"), 4, 10).cast("int") % 4 + 1
    val out = Curation.targetMixSample(docs, w)
    val rates = out.select("source", "keep_rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates.values.forall(_ <= 1.0 + 1e-9), rates.toString)
    // the binding source's rate is exactly 1 → every one of its docs lands
    val binding = rates.filter { case (_, r) => r >= 0.9999 }
    assert(binding.nonEmpty, s"no binding source in $rates")
    binding.keys.foreach { s =>
      assert(out.filter(col("source") === s).count() ==
        docs.filter(col("source") === s).count(), s"binding $s dropped docs")
    }
    // weight 0 for even source ids → those sources vanish from the output
    val half = Curation.targetMixSample(docs,
      substring(col("source"), 4, 10).cast("int") % 2)
    assert(half.filter(substring(col("source"), 4, 10).cast("int") % 2 === 0)
      .count() == 0)
  }

  test("incremental merge: delta rows win, key set unchanged") {
    val merged = Incremental.mergeLatest(Tables.orders(spark, sf))
    val orders = Tables.orders(spark, sf)
    assert(merged.count() == orders.count())
    val updated = merged.filter(col("o_orderstatus") === "U").count()
    val expected = orders.filter(col("o_orderkey") % 10 === 0).count()
    assert(updated == expected)
  }

  test("snapshot scd2: exactly one current version per key") {
    val snap = Snapshot.scd2(Tables.orders(spark, sf))
    val current = snap.filter(col("is_current")).groupBy("o_custkey").count()
    assert(current.filter(col("count") =!= 1).count() == 0)
    // valid_to of version n == valid_from of version n+1 chain is closed
    assert(snap.filter(col("valid_to").isNull).count() == current.count())
  }

  test("test_suite reports zero violations on clean data") {
    val suite = Checks.testSuite(Tables.orders(spark, sf), Tables.customer(spark, sf))
    assert(suite.agg(sum("violations")).head.getLong(0) == 0)
  }

  test("test_suite: a NULL child key is a not_null violation, never a " +
       "relationships one (dbt drops NULL child values first)") {
    import spark.implicits._
    val orders = Seq((1L, Option(7L), "O"), (2L, Option.empty[Long], "F"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus")
    val customer = Seq(7L).toDF("c_custkey")
    val got = Checks.testSuite(orders, customer).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("accepted_values_o_orderstatus" -> 0L,
      "not_null_o_custkey" -> 1L, "relationships_o_custkey" -> 0L,
      "unique_o_orderkey" -> 0L))
  }

  test("stratified sample: deterministic with seed, rates within bounds") {
    val docs = Tables.documents(spark, sf)
    val fr = Map("en" -> 0.5, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.5, "zh" -> 0.5)
    val s1 = Curation.stratifiedSample(docs, fr).collect().map(_.toSeq)
    val s2 = Curation.stratifiedSample(docs, fr).collect().map(_.toSeq)
    assert(s1.toSeq == s2.toSeq, "sample not deterministic for fixed seed")
    val rates = Curation.stratifiedSample(docs, fr)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (l, n) =>
      val got = rates.getOrElse(l, 0L).toDouble / n
      assert(got > 0.25 && got < 0.75, s"$l rate $got far from 0.5")
    }
  }

  test("token budget: cumulative selection never exceeds budget per lang") {
    val sel = Curation.tokenBudget(Tables.documents(spark, sf), 2000)
    assert(sel.count() > 0)
    val over = sel.groupBy("lang").agg(max("cum_tokens").as("m"))
      .filter(col("m") > 2000).count()
    assert(over == 0)
  }

  test("sessionize: gaps within sessions never exceed threshold, totals add up") {
    val events = Tables.events(spark, sf)
    val sess = Sessions.sessionize(events, 1800)
    assert(sess.agg(sum("n_events")).head.getLong(0) == events.count())
    // session_end - session_start bounded by n_events * gap
    val bad = sess.filter(col("session_end") - col("session_start") >
      (col("n_events") - 1) * 1800).count()
    assert(bad == 0)
  }

  test("decontaminate: shared 13-grams flagged, disjoint and short docs clean") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ") // 20 words → 8 shingles
    val eval = Seq((100L, base)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, base),                                     // identical → all 8 shared
      (2L, (1 to 20).map(i => s"x$i").mkString(" ")), // disjoint vocabulary
      (3L, "short text"),                             // < 13 words → no shingles
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, eval).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((8L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((0L, false)))
  }

  test("snapshot hard deletes: vanished keys close their window, survivors keep one current") {
    val orders = Tables.orders(spark, sf)
    val current = orders.filter(col("o_custkey") % 10 =!= 0)
    val out = Snapshot.invalidateHardDeletes(Snapshot.scd2(orders), current)
    val deleted = out.filter(col("o_custkey") % 10 === 0)
    assert(deleted.count() > 0, "scenario needs some hard-deleted keys")
    assert(deleted.filter(col("is_current")).count() == 0)
    assert(deleted.filter(col("valid_to").isNull).count() == 0)
    val survivors = out.filter(col("o_custkey") % 10 =!= 0)
    val badKeys = survivors.filter(col("is_current")).groupBy("o_custkey")
      .count().filter(col("count") =!= 1).count()
    assert(badKeys == 0, "a surviving key lost its single current row")
  }

  test("quality classifier recovers the heuristic gate on the held-out split") {
    val docs = Tables.documents(spark, sf)
    val scored = QualityModel.qualityClassifier(docs)
    val truth = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), (col("quality_flag") === "ok").as("ok"))
    val joined = scored.join(truth, "doc_id")
    val holdout = joined.filter(col("doc_id") % 5 === 0)
    val acc = holdout.filter(col("predicted_ok") === col("ok")).count().toDouble /
      holdout.count()
    assert(acc >= 0.85, s"held-out accuracy $acc")
    // probabilities are probabilities
    assert(scored.filter(col("quality_prob") < 0 || col("quality_prob") > 1).count() == 0)
  }

  test("sequence pack: offsets in range, bins contiguous, matches a sequential fold") {
    import graft.operators.Curation
    val ctx = 512L
    val got = Curation.sequencePack(Tables.documents(spark, sf), ctx).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(4) >= 0 && r.getLong(4) < ctx, s"offset out of range: $r")
    }
    // sequential replay per language must reproduce bin/offset/spans exactly
    got.groupBy(_.getString(1)).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        val est = r.getLong(2)
        assert(r.getLong(3) == cum / ctx, s"bin_id mismatch at $r")
        assert(r.getLong(4) == cum % ctx, s"bin_offset mismatch at $r")
        assert(r.getBoolean(5) == ((cum + est - 1) / ctx > cum / ctx),
          s"spans_boundary mismatch at $r")
        cum += est
      }
    }
  }

  test("html extraction (r14): script/style vanish with content at any " +
       "case, comments span lines, entities decode once and never " +
       "re-parse as tags, plain text is a fixed point") {
    import spark.implicits._
    def x(h: String*): Seq[String] =
      h.toDF("h").select(TextAnalysis.extractHtmlText(col("h")))
        .collect().map(_.getString(0)).toSeq
    assert(x("<p>a</p><SCRIPT src='x'>if (1 < 2) alert('&');</SCRIPT><p>b</p>")
      == Seq("a b"), "uppercase script must vanish with its content")
    assert(x("<style>p{}</style>t<STYLE media=\"all\">q{}</STYLE>") == Seq("t"))
    assert(x("a<!-- multi\nline\ncomment -->b") == Seq("a b"))
    // entity discipline: decode AFTER the strip (an encoded tag stays
    // text) and &amp; LAST (&amp;lt; means the literal string "&lt;")
    assert(x("&lt;script&gt;evil()&lt;/script&gt;") == Seq("<script>evil()</script>"))
    assert(x("Tom &amp; Jerry, 5 &lt; 6, &quot;q&quot;, it&#39;s, a&nbsp;b")
      == Seq("Tom & Jerry, 5 < 6, \"q\", it's, a b"))
    assert(x("&amp;lt;") == Seq("&lt;"))
    // r17: numeric character references — decimal, hex (any case), and
    // astral codepoints decode; the references the HTML spec calls
    // invalid (zero, surrogate range, past U+10FFFF, unbounded digit
    // runs, missing ';') stay LITERAL text, never a fabricated char;
    // and &amp;#233; decodes the & LAST, so the result is the literal
    // reference text — one forward pass, never re-scanned
    assert(x("caf&#233; &#x2014; &#X2014; ok") == Seq("café — — ok"))
    assert(x("a &#x1F600; b") == Seq("a 😀 b"))
    assert(x("&#0; &#xD800; &#1114112; &#99999999; &#; &#233")
      == Seq("&#0; &#xD800; &#1114112; &#99999999; &#; &#233"))
    assert(x("&amp;#233;") == Seq("&#233;"))
    // whitespace collapse + trim; plain text is a fixed point
    assert(x("  a\n\n  <p> b </p>\tc  ") == Seq("a b c"))
    assert(x("plain words only") == Seq("plain words only"))
    // the STATED limitation of the regex twin, asserted so its scaladoc
    // can't drift: a literal '>' in an attribute value ends the tag
    // early — and the r16 DOM rung FIXES exactly this case
    assert(x("<a title=\"x > y\">t</a>") == Seq("y\">t"))
    def dom(h: String*): Seq[String] =
      h.toDF("h").select(TextAnalysis.domText(col("h")))
        .collect().map(_.getString(0)).toSeq
    assert(dom("<a title=\"x > y\">t</a>") == Seq("t"),
      "the quote-aware tokenizer must not end the tag at a quoted '>'")
    // and the other half of the quote-blind defect: a lone '<' in text
    // is TEXT for the DOM rung (the regex strip eats to the next '>')
    assert(x("5 < 6 and x > y") == Seq("5 y"))
    assert(dom("5 < 6 and x > y") == Seq("5 < 6 and x > y"))
  }

  test("DOM-grade HTML rung (r16): agrees with the regex twin " +
       "case-for-case on well-formed HTML — script/style, comments, " +
       "entities, whitespace, link density, stopword gate, heading " +
       "promotion — and fixes the quoted-'>' poison the twin leaks") {
    import spark.implicits._
    def both(h: String): (String, String) = {
      val r = Seq(h).toDF("h").select(
        TextAnalysis.extractHtmlText(col("h")).as("rx"),
        TextAnalysis.domText(col("h")).as("dm")).collect().head
      (r.getString(0), r.getString(1))
    }
    // the agreeing subdomain: every extractHtmlText spec case
    Seq(
      "<p>a</p><SCRIPT src='x'>if (1 < 2) alert('&');</SCRIPT><p>b</p>",
      "<style>p{}</style>t<STYLE media=\"all\">q{}</STYLE>",
      "a<!-- multi\nline\ncomment -->b",
      "&lt;script&gt;evil()&lt;/script&gt;",
      "Tom &amp; Jerry, 5 &lt; 6, &quot;q&quot;, it&#39;s, a&nbsp;b",
      "&amp;lt;", "  a\n\n  <p> b </p>\tc  ", "plain words only",
      "<!DOCTYPE html><html><body><p>doc typed</p></body></html>",
      "<ul><li>one</li><li>two</li></ul><div>tail</div>",
      // r17: numeric refs — valid decimal/hex/astral decode, the
      // invalid family stays literal, in BOTH rungs identically
      "caf&#233; &#x2014; &#X2014; <p>a &#x1F600; b</p>",
      "&#0; &#xD800; &#1114112; &#99999999; &#; &#233",
      "&amp;#233; <p>it&#39;s</p>",
    ).foreach { h =>
      val (rx, dm) = both(h)
      assert(rx == dm, s"twins diverged on well-formed input: $h")
    }
    // main-text gates agree on the planted chrome page and the
    // threshold/promotion pins from the boilerplate spec
    def mainBoth(h: String, promote: Boolean = false,
                 stopPct: Int = 0, stops: Seq[String] = Nil): (String, String) = {
      val r = Seq(h).toDF("h").select(
        TextAnalysis.htmlMainText(col("h"), promoteHeadings = promote,
          minStopwordPct = stopPct, stopwords = stops).as("rx"),
        TextAnalysis.domMainText(col("h"), promoteHeadings = promote,
          minStopwordPct = stopPct, stopwords = stops).as("dm"))
        .collect().head
      (r.getString(0), r.getString(1))
    }
    val page = """<html><head><title>Doc 7</title></head><body>
      <nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
      <div class="cookie">Accept cookies</div>
      <h1>Doc 7</h1>
      <p>the quick brown fox jumps over the lazy dog today</p>
      <div><a href="/x">Read more</a></div>
      <footer><a href="/t">Terms</a> <a href="/p">Privacy</a> <a href="/i">Imprint</a> 2024</footer>
      </body></html>"""
    val headed = """<h1>Section Title</h1><p>good body words here okay</p>
      <h2>Orphan Heading</h2><nav><a href="/">Home</a></nav>"""
    for ((h, promote) <- Seq((page, false), (page, true),
        (headed, false), (headed, true),
        ("<p>abcd efgh ijkl mnop <a>qrst</a></p>", false),
        ("<p>ab cd ef gh <a>ijklmnopq</a></p>", false),
        ("""<h1><a href="/">Linked Title</a></h1><p>good body words here</p>""", true))) {
      val (rx, dm) = mainBoth(h, promote)
      assert(rx == dm, s"main-text twins diverged (promote=$promote): $h")
    }
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    val (rxs, dms) = mainBoth("<p>the engine is a part of the fleet</p>" +
      "<p>colorless ideas sleep furiously tonight</p>",
      stopPct = 30, stops = stops)
    assert(rxs == dms && rxs == "the engine is a part of the fleet")
    // the disagreeing subdomain, where only the DOM rung is right: the
    // quoted '>' poison on the BODY tag — the twin leaks 'y">' into the
    // kept text, the tokenizer keeps the body clean and still drops
    // the link-dense chrome around it
    val poisoned = """<nav><a href="/">Home</a> <a href="/a">About</a></nav>
      <p data-note="x > y">clean body words survive here</p>
      <footer><a href="/t">Terms</a> <a href="/p">Privacy</a></footer>"""
    val (rxp, dmp) = mainBoth(poisoned)
    assert(dmp == "clean body words survive here", dmp)
    assert(rxp != dmp, "rig invariant: the twin must still leak here")
    // kernel block anatomy: text, link chars, heading flag
    val blk = Seq("""<h2>Head</h2><p>body <a href="/x">link text</a> tail</p>""")
      .toDF("h")
      .select(graft.functions.TextFunctions.htmlBlocks(col("h")).as("b"))
      .selectExpr("inline(b)").collect()
    // block 0 is the (empty) preamble — the same leading element the
    // regex twin's lookahead split produces, so promotion's i+1
    // neighbor indexing stays aligned between the rungs
    assert(blk.length == 3)
    assert(blk(0).getString(0) == "" && !blk(0).getBoolean(2))
    assert(blk(1).getString(0) == "Head" && blk(1).getInt(1) == 0 &&
      blk(1).getBoolean(2))
    assert(blk(2).getString(0) == "body link text tail" &&
      blk(2).getInt(1) == "link text".length && !blk(2).getBoolean(2))
  }

  test("boilerplate removal (r15): planted nav/footer/cookie chrome " +
       "drops, body text survives verbatim; the link-density and " +
       "stopword gates classify on exact integer thresholds") {
    import spark.implicits._
    def main(html: String, stopPct: Int = 0, stops: Seq[String] = Nil): String =
      Seq(html).toDF("h")
        .select(graft.operators.TextAnalysis.htmlMainText(col("h"),
          minStopwordPct = stopPct, stopwords = stops))
        .collect().head.getString(0)
    // the full planted page: every chrome block drops, body survives
    val page = """<html><head><title>Doc 7</title></head><body>
      <nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
      <div class="cookie">Accept cookies</div>
      <h1>Doc 7</h1>
      <p>the quick brown fox jumps over the lazy dog today</p>
      <div><a href="/x">Read more</a></div>
      <footer><a href="/t">Terms</a> <a href="/p">Privacy</a> <a href="/i">Imprint</a> 2024</footer>
      </body></html>"""
    assert(main(page) == "the quick brown fox jumps over the lazy dog today")
    // a LONG all-links block (passes min-words) still drops: link density
    val linkFarm = "<p>intro words here okay</p><ul>" +
      (1 to 12).map(i => s"""<li><a href="/$i">category number $i</a></li>""").mkString +
      "</ul>"
    assert(main(linkFarm) == "intro words here okay")
    // link density is an exact integer boundary: 1 of 5 visible chars
    // linked = 20% passes at the default 20, 21% would not — pin via a
    // block whose link chars are exactly at / just past the threshold
    assert(main("<p>abcd efgh ijkl mnop <a>qrst</a></p>") // 4/23 < 20%
      == "abcd efgh ijkl mnop qrst")
    assert(main("<p>ab cd ef gh <a>ijklmnopq</a></p>") // 9/20 = 45% drops
      == "")
    // comments/scripts cannot fabricate block boundaries or text
    assert(main("<p>real body text here</p><!-- <div>fake chrome</div> -->" +
      "<script>var x = '<p>not text</p>';</script>")
      == "real body text here")
    // the optional jusText stopword gate: with a list, a block below the
    // density drops even when long and link-free
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    assert(main("<p>the engine is a part of the fleet</p>" +
        "<p>colorless ideas sleep furiously tonight</p>",
        stopPct = 30, stops = stops)
      == "the engine is a part of the fleet")
    // heading promotion (r15, opt-in): a short heading survives iff the
    // block RIGHT AFTER it is good; a heading over chrome stays chrome,
    // and a link-farm heading never promotes
    def mainH(html: String): String =
      Seq(html).toDF("h")
        .select(graft.operators.TextAnalysis.htmlMainText(col("h"),
          promoteHeadings = true))
        .collect().head.getString(0)
    val headed = """<h1>Section Title</h1><p>good body words here okay</p>
      <h2>Orphan Heading</h2><nav><a href="/">Home</a></nav>"""
    assert(main(headed) == "good body words here okay")
    assert(mainH(headed) == "Section Title good body words here okay")
    assert(mainH("""<h1><a href="/">Linked Title</a></h1><p>good body words here</p>""")
      == "good body words here", "a link-farm heading never promotes")
    // a trailing heading has no successor: no promotion off the end
    assert(mainH("<p>good body words here</p><h2>The End</h2>")
      == "good body words here")
  }

  test("url canonicalization (r14): variants collapse, semantics are " +
       "preserved — case-sensitive path, non-default ports, non-tracking " +
       "params; non-hierarchical inputs pass through") {
    import spark.implicits._
    def canon(us: String*): Seq[String] =
      us.toDF("u").select(graft.operators.Curation.canonicalUrl(col("u")))
        .collect().map(_.getString(0)).toSeq
    // the collapse set: casing/port/fragment/tracking/param order
    assert(canon(
      "https://Example.COM/A/b?x=1&y=2",
      "HTTPS://example.com:443/A/b?y=2&x=1&utm_campaign=z#frag",
      "https://example.com/A/b?gclid=abc&x=1&fbclid=q&y=2"
    ).distinct.size == 1)
    // semantics preserved: PATH case matters, :8080 is not a default
    // port, a non-tracking param distinguishes, utm alone -> no query
    assert(canon("https://e.com/A", "https://e.com/a").distinct.size == 2)
    assert(canon("https://e.com:8080/p") == Seq("https://e.com:8080/p"))
    assert(canon("https://e.com/p?x=1", "https://e.com/p?x=2").distinct.size == 2)
    assert(canon("https://e.com/p?utm_source=a") == Seq("https://e.com/p"))
    // default ports strip ONLY under their own scheme (r15 ADVICE: an
    // unconditional strip merged http://host:443 with http://host —
    // distinct origins, a false-positive urlDedup drop)
    assert(canon("HTTP://E.com:80/p") == Seq("http://e.com/p"))
    assert(canon("http://e.com:443/p") == Seq("http://e.com:443/p"))
    assert(canon("https://e.com:80/p") == Seq("https://e.com:80/p"))
    // refuse-to-guess: non-hierarchical strings pass through untouched
    assert(canon("mailto:a@b.c", "not a url") ==
      Seq("mailto:a@b.c", "not a url"))
    // dedup keep rule: first doc per canonical
    val dd = graft.operators.Curation.urlDedup(Seq(
        (1L, "https://e.com/p?a=1&b=2"),
        (2L, "https://E.COM/p?b=2&a=1&utm_x=9"),
        (3L, "https://e.com/q")).toDF("doc_id", "url"))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dd == Map(1L -> true, 2L -> false, 3L -> true), dd.toString)
    // NULL urls survive with keep = true and a NULL canonical (r15
    // ADVICE: the inner join on url_canonical silently dropped them —
    // null never equals null — where the r14 window kept them); an
    // EMPTY url is a real non-null key and still groups normally
    val withNull = graft.operators.Curation.urlDedup(Seq(
        (1L, Some("https://e.com/p")),
        (2L, None), (3L, None),
        (4L, Some("")), (5L, Some(""))).toDF("doc_id", "url"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(2)), r.getBoolean(3)))).toMap
    assert(withNull == Map(
      1L -> ((Some("https://e.com/p"), true)),
      2L -> ((None, true)), 3L -> ((None, true)),
      4L -> ((Some(""), true)), 5L -> ((Some(""), false))),
      withNull.toString)
  }

  test("trained lang-ID (r16): char-bigram NB beats the lexicon " +
       "heuristic on held-out docs — including a language the lexicons " +
       "don't cover at all — and drops into the curation lang stage") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // plain-Scala replant of the rig (same arithmetic as the driver
    // query, no Spark in the loop) over 400 synthetic docs
    val pools = TextAnalysis.langIdRigPools
    val rows = (0L until 400L).map { d =>
      val (lang, ws) = pools((d % 5).toInt)
      val n = (d % 6 + 5).toInt
      (d, lang, (0 until n).map(i => ws(((d * 7 + i * 11) % 12).toInt))
        .mkString(" "))
    }
    val df = rows.toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langIdModel(df).collect()
    assert(out.length == 400, "every doc is scored, held-out included")
    val truth = rows.map(r => r._1 -> r._2).toMap
    val held = out.filter(!_.getAs[Boolean]("is_train"))
    assert(held.length > 40 && held.length < 160, s"${held.length} held out")
    val accModel = held.count(r => r.getString(2) == truth(r.getLong(0)))
      .toDouble / held.length
    val heur = TextAnalysis.langId(df.select("doc_id", "text"))
      .select("doc_id", "predicted_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val heldIds = held.map(_.getLong(0))
    val accHeur = heldIds.count(id => heur(id) == truth(id))
      .toDouble / heldIds.length
    assert(accModel > accHeur,
      s"model $accModel must beat lexicon heuristic $accHeur")
    assert(accModel >= 0.95, s"held-out accuracy $accModel")
    // Italian: absent from the lexicons, so the heuristic structurally
    // cannot name it; the trained model learns it from labels alone
    val itHeld = heldIds.filter(id => truth(id) == "it")
    assert(itHeld.nonEmpty)
    assert(itHeld.forall(id => heur(id) != "it"),
      "rig invariant: the heuristic has no 'it' to answer")
    val predicted = out.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(itHeld.count(id => predicted(id) == "it") == itHeld.length,
      "the model names the lexicon-less language on held-out docs")
    // drop-in: the output carries langId's (doc_id, predicted_lang)
    // shape, so crawl_curation's lang stage swaps heuristic -> model
    // with a select — no pipeline surgery
    val stage = TextAnalysis.langIdModel(df)
      .select("doc_id", "predicted_lang")
    assert(stage.columns.toSeq ==
      TextAnalysis.langId(df.select("doc_id", "text"))
        .select("doc_id", "predicted_lang").columns.toSeq)
    // deterministic: a rerun reproduces every score bit-for-bit
    val again = TextAnalysis.langIdModel(df).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the WIDE layout (one unats-vector per bigram — the 170-language
    // rung: scoring joins each doc-bigram once instead of fanning the
    // tf table xL through the model join) computes the identical
    // report row-for-row, scores included
    val wide = TextAnalysis.langIdModelWide(df).collect()
    assert(out.map(_.toSeq).toSeq == wide.map(_.toSeq).toSeq,
      "wide layout diverged from the narrow one")
  }

  test("weak-supervised lang-ID (r17): labels come only from confident " +
       "lexicon calls, every doc is scored, and the weak chain recovers " +
       "the lexicon languages without a single given label") {
    import spark.implicits._
    val pools = TextAnalysis.langIdRigPools
    val rows = (0L until 400L).map { d =>
      val (lang, ws) = pools((d % 5).toInt)
      val n = (d % 6 + 5).toInt
      (d, lang, (0 until n).map(i => ws(((d * 7 + i * 11) % 12).toInt))
        .mkString(" "))
    }
    val out = TextAnalysis.langIdWeak(
        rows.toDF("doc_id", "lang", "text").select("doc_id", "text"))
      .collect()
    assert(out.length == 400, "every doc is scored, unlabeled included")
    val truth = rows.map(r => r._1 -> r._2).toMap
    val lexLangs = TextAnalysis.lexicons.map(_._1).toSet
    out.foreach { r =>
      val lbl = Option(r.getString(1))
      assert(lbl.forall(lexLangs), s"weak label outside the lexicons: $lbl")
      assert(r.getBoolean(4) == lbl.isDefined, "is_train != labeled")
      assert(r.getString(2) != null, "every doc gets a prediction")
    }
    // Italian structurally cannot label (no lexicon reaches minHits on
    // its pool), so 'it' never trains — but every it-pool doc still
    // classifies deterministically from its bigrams
    val itDocs = out.filter(r => truth(r.getLong(0)) == "it")
    assert(itDocs.nonEmpty && itDocs.forall(_.isNullAt(1)))
    // the weak chain recovers the four lexicon languages with no given
    // labels: accuracy on their docs (labeled AND sub-threshold)
    val lexDocs = out.filter(r => truth(r.getLong(0)) != "it")
    val acc = lexDocs.count(r => r.getString(2) == truth(r.getLong(0)))
      .toDouble / lexDocs.length
    assert(acc >= 0.9, s"weak-supervised accuracy $acc on lexicon languages")
    val unlabeled = lexDocs.filter(_.isNullAt(1))
    assert(unlabeled.nonEmpty,
      "rig invariant: some lexicon-language docs fall below minHits")
  }

  test("crawl curation (r17): the weak-supervised model stage classifies " +
       "a zero-hit doc the heuristic calls 'und', revisits resolve by " +
       "digest with no body, and a labeled model stage names a " +
       "lexicon-less language the heuristic structurally cannot") {
    import spark.implicits._
    val lex = TextAnalysis.lexicons.toMap
    def body(ws: Seq[String]): String =
      Iterator.continually(ws).flatten.take(60).mkString(" ")
    def page(b: String) = s"<html><body><p>$b</p></body></html>"
    val deB = body(lex("de"))
    val enB = body(lex("en"))
    // zero lexicon hits in ANY language (the heuristic must answer
    // 'und'), but the char bigrams are unmistakably German
    val subB = body(Seq("derart", "undsoweiter", "mitunter", "einig",
      "nichts", "zeiten"))
    // Italian from the rig pool: 'con'/'un' graze the es lexicon (2
    // distinct hits < minHits 3) so the weak stage leaves it UNLABELED
    val itB = body(Seq("il", "lo", "di", "e", "che", "non", "con", "un",
      "anche", "quando", "ma", "tempo"))
    val recs = Seq(
      (1L, "response", "https://example.com/a?x=1", "d-de", page(deB)),
      (2L, "response", "https://example.com/b?x=1", "d-en", page(enB)),
      (3L, "response", "https://example.com/c?x=1", "d-sub", page(subB)),
      // url_dup of doc 1 after canonicalization (case + default port)
      (4L, "response", "HTTPS://Example.COM:443/a?x=1", "d-de2",
        page(body(lex("de").reverse))),
      // exact_dup: doc 1's page verbatim at a distinct canonical URL
      (5L, "response", "https://example.com/e?x=1", "d-de", page(deB)),
      (8L, "response", "https://example.com/i?x=1", "d-it", page(itB)),
      // revisits carry a digest and NO body: 6 refetches doc 1's page
      // (in-batch original -> revisit_dup), 7's original lives in
      // another segment (revisit_orphan)
      (6L, "revisit", "https://example.com/a?x=1", "d-de", ""),
      (7L, "revisit", "https://example.com/z?x=1", "d-gone", ""),
    ).toDF("doc_id", "warc_type", "url", "payload_digest", "html")
    val fates = Curation.crawlCurate(recs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(fates(4).getString(4) == "url_dup")
    assert(fates(5).getString(4) == "exact_dup")
    assert(fates(6).getString(4) == "revisit_dup" &&
      fates(6).isNullAt(2) && fates(6).isNullAt(3),
      "a revisit resolves by digest alone: no lang, no word count")
    assert(fates(7).getString(4) == "revisit_orphan")
    assert(fates(6).getString(1) == fates(1).getString(1),
      "the revisit's canonical URL matches its original's")
    // the default weak stage: heuristic-confident rows (1, 2, 4, 5)
    // bootstrap the NB model, which then classifies the zero-hit doc
    val heur = TextAnalysis.langId(
        TextAnalysis.htmlToMainText(recs.filter($"warc_type" === "response")
          .select($"doc_id", $"html")).select("doc_id", "text"))
      .select("doc_id", "predicted_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(heur(3L) == "und", "rig invariant: zero hits everywhere")
    assert(fates(1).getString(2) == "de" && fates(2).getString(2) == "en")
    assert(fates(3).getString(2) == "de",
      "the trained stage classifies what the heuristic cannot call")
    // the PLUGGABLE stage: a labeled frame through langIdModel names
    // Italian — a language no lexicon covers, so the heuristic answers
    // from its fixed menu ('es' on the grazing hits) and can never say
    // 'it'; the funnel with the model stage does
    val labels = Seq((1L, "de"), (2L, "en"), (4L, "de"), (5L, "de"),
      (8L, "it")).toDF("doc_id", "lbl")
    val staged = Curation.crawlCurate(recs, ext =>
        TextAnalysis.langIdModel(ext.join(labels, Seq("doc_id"), "left"),
            "lbl", trainGate = col("lbl").isNotNull)
          .select("doc_id", "predicted_lang")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(heur(8L) != "it" && staged(8L).getString(2) == "it",
      "the model-staged funnel names the lexicon-less language")
    assert(staged.keySet == fates.keySet &&
      staged.forall { case (k, r) => r.getString(4) == fates(k).getString(4) },
      "swapping the lang stage changes no fate")
    // the DOMAIN GATE (r17): a blocked registrant's response is
    // refused URL-only — NULL lang and word count prove it never
    // reached extraction or the model — while a revisit whose
    // original lives on the blocked domain keeps its fetch-time
    // fate, and every other verdict is untouched by the gate
    val blockedRecs = recs.unionByName(Seq(
      (30L, "response", "https://sub.evil-mirror.org/x?p=1", "d-ev",
        page(deB)),
      (31L, "revisit", "https://sub.evil-mirror.org/x?p=1", "d-ev", ""))
      .toDF("doc_id", "warc_type", "url", "payload_digest", "html"))
    val gatedOut = Curation.crawlCurate(blockedRecs,
        blockedDomains = Seq("evil-mirror.org")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(gatedOut(30L).getString(4) == "domain_blocked" &&
      gatedOut(30L).isNullAt(2) && gatedOut(30L).isNullAt(3),
      "blocked pages never extract: " + gatedOut(30L))
    assert(gatedOut(31L).getString(4) == "revisit_dup",
      "a revisit's fate stays fetch-time identity: " + gatedOut(31L))
    assert(fates.forall { case (k, r) =>
      gatedOut(k).getString(4) == r.getString(4) },
      "the gate must not disturb unblocked verdicts")
  }

  test("bm25 top-k (r14): plain-Scala re-derivation of the micro-unit " +
       "weights and ranking; a verbatim copy of a corpus doc retrieves " +
       "it at rank 1; the stop-term cap drops hot terms from scoring") {
    import spark.implicits._
    val corpusRows = Seq(
      (1L, "spark shuffle join optimizer"),
      (2L, "spark window aggregate state"),
      (3L, "parquet scan pushdown filter pushdown"),
      (4L, "the the the the spark"))
    val queryRows = Seq(
      (100L, "spark shuffle join optimizer"),    // verbatim copy of doc 1
      (150L, "pushdown filter"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val queries = queryRows.toDF("doc_id", "text")
    // the operator's arithmetic with no Spark in the loop
    val tf = corpusRows.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(id -> _) }
      .groupBy(identity).map { case ((id, t), g) => (id, t) -> g.size.toLong }
    val dl = tf.groupBy(_._1._1).map { case (id, g) => id -> g.values.sum }
    val (nd, toklen) = (dl.size.toLong, dl.values.sum)
    val dft = tf.groupBy(_._1._2).map { case (t, g) => t -> g.size.toLong }
    def wMicro(id: Long, t: String): Long = {
      val f = tf((id, t)).toDouble
      val idf = math.log((nd.toDouble - dft(t).toDouble + 0.5) /
        (dft(t).toDouble + 0.5) + 1.0)
      val denom = f + 1.2 * (0.25 + 0.75 * dl(id).toDouble * nd.toDouble /
        toklen.toDouble)
      BigDecimal(idf * (f * 2.2) / denom * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val want = (for {
      (qid, qt) <- queryRows
      term = qt.split(" ").filter(_.nonEmpty).distinct
      (did, _) <- corpusRows
      s = term.collect { case t if tf.contains((did, t)) => wMicro(did, t) }
      if s.nonEmpty
    } yield (qid, did, s.sum))
      .groupBy(_._1).flatMap { case (_, g) =>
        g.sortBy(r => (-r._3, r._2)).zipWithIndex.map { case ((q, d, s), i) =>
          (q, d, s, i + 1L) } }.toSet
    val got = TextAnalysis.bm25TopK(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"$got vs $want")
    // the retrieval property: the verbatim copy's source ranks first
    assert(got.exists(r => r._1 == 100L && r._2 == 1L && r._4 == 1L),
      s"verbatim source not at rank 1: $got")
    // stop-term cap: 'spark' sits in 3 of 4 docs; capping df <= 2 must
    // remove its contribution — doc 4 (spark-only) stops matching the
    // spark-heavy query terms it only shared via 'spark'
    val capped = TextAnalysis.bm25TopK(corpus, queries, k = 5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((100L, 4L)),
      s"hot-term-only match survived the df cap: $capped")
    assert(capped.contains((150L, 3L)), "rare-term match must survive the cap")
  }

  test("sequence pack spans (r14): per-doc spans tile the doc exactly, " +
       "sequences fill to the context length, and the span table agrees " +
       "with sequencePack's bin/offset/boundary row for every doc") {
    import graft.operators.Curation
    val ctx = 64L
    val docs = Tables.documents(spark, sf)
    val spans = Curation.sequencePackSpans(docs, ctx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val byDoc = spans.groupBy(s => (s._1, s._2))
    assert(spans.nonEmpty && byDoc.exists(_._2.length > 1),
      "rig must exercise boundary-spanning docs")
    val est = docs.select(col("doc_id"),
        ceil(length(col("text")) / 4.0).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case ((id, _), ss) =>
      val sorted = ss.sortBy(_._3).toSeq
      // the spans TILE the doc: offsets contiguous from 0, lengths sum
      // to the doc's token count, sequence ids contiguous, and every
      // non-first span starts a fresh sequence
      assert(sorted.map(_._6).sum == est(id), s"doc $id span lengths")
      sorted.foldLeft(0L) { (exp, s) =>
        assert(s._4 == exp, s"doc $id doc_off gap at $s"); exp + s._6 }
      assert(sorted.map(_._3) == (sorted.head._3 to sorted.last._3),
        s"doc $id seq ids not contiguous")
      sorted.tail.foreach(s =>
        assert(s._5 == 0L, s"doc $id continuation span not at seq start: $s"))
    }
    // the spans TILE each sequence: every sequence but a language's last
    // fills to exactly ctx tokens
    spans.groupBy(_._2).foreach { case (lang, ss) =>
      val maxSeq = ss.map(_._3).max
      ss.groupBy(_._3).foreach { case (seq, g) =>
        val fill = g.map(_._6).sum
        if (seq < maxSeq) assert(fill == ctx, s"$lang seq $seq fill $fill")
        else assert(fill > 0 && fill <= ctx, s"$lang last seq fill $fill")
      }
    }
    // cross-op consistency: sequencePack's doc-level row IS the first
    // span + the spans-boundary flag
    val packed = Curation.sequencePack(docs, ctx).collect()
      .map(r => (r.getLong(0), (r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    byDoc.foreach { case ((id, _), ss) =>
      val first = ss.minBy(_._3)
      val (bin, off, boundary) = packed(id)
      assert(first._3 == bin && first._5 == off && (ss.length > 1) == boundary,
        s"doc $id: spans ${ss.toSeq} vs packed ${packed(id)}")
    }
  }

  test("packed-sequence materializer (r15): slices tile each sequence " +
       "contiguously in reset order, resets are exactly the span starts, " +
       "and every cell re-derives from the span table") {
    import graft.operators.Curation
    val ctx = 64L
    val docs = Tables.documents(spark, sf)
    val mat = Curation.packedSequences(docs, ctx).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    val spans = Curation.sequencePackSpans(docs, ctx).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(mat.nonEmpty && mat.values.exists(_._1 > 1),
      "rig must exercise multi-span (packed) sequences")
    assert(mat.keySet == spans.map(s => (s._1, s._2)).toSet,
      "one materialized row per (lang, seq)")
    spans.groupBy(s => (s._1, s._2)).foreach { case (key, ss) =>
      val sorted = ss.sortBy(_._5).toSeq // by seq_off
      val (nSpans, nToks, slices, resets) = mat(key)
      assert(nSpans == ss.length && nToks == ss.map(_._6).sum, s"$key counts")
      assert(slices ==
        sorted.map(s => s"${s._3}:${s._4}:${s._6}").mkString(";"), s"$key slices")
      assert(resets == sorted.map(_._5).mkString(","), s"$key resets")
      // slices tile: each span starts where the previous ended
      sorted.foldLeft(sorted.head._5) { (exp, s) =>
        assert(s._5 == exp, s"$key slice gap at $s"); exp + s._6 }
      ()
    }
  }

  test("verbatim overlap: long shared runs detected, disjoint docs produce no pairs") {
    import spark.implicits._
    val run = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"prefix one $run suffix alpha"),
      (2L, s"totally different lead-in $run closing words"),
      (3L, "unrelated stuff with zero common substrings whatsoever here"),
    ).toDF("doc_id", "text")
    // run (60 chars) >= window+winnow-1 = 19 → detection is guaranteed
    val got = TextAnalysis.verbatimOverlap(docs, 16, 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"missed the shared run: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), s"false pair: $got")
  }

  test("rolling fingerprint: xxhash64 selection = independent k-min; md5 twin structurally equal") {
    val docs = Tables.documents(spark, sf)
    val xx = TextAnalysis.rollingFingerprint(docs)
    // same doc set + window counts as the md5 (oracle-twin) variant — the
    // hasher changes only the hash values, never the winnowing structure
    val md = TextAnalysis.rollingFingerprint(docs, hasher = Some(md5(_)))
    assert(rows(xx.select("doc_id", "n_windows")) ==
           rows(md.select("doc_id", "n_windows")))
    // pin the sort+slice selection against an independent plan: explode all
    // window hashes, take the k smallest per doc in Scala
    val exploded = docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")) - 7),
        i => xxhash64(col("text").substr(i, lit(8))))).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(_.getLong(1)).sorted.take(4).mkString(",") }
    val got = xx.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == exploded)
    // fingerprints are ascending-sorted longs (the k-min contract)
    got.values.foreach { fp =>
      val parts = fp.split(",").map(_.toLong).toSeq
      assert(parts == parts.sorted)
    }
  }

  test("native session_window sessionization = lag-based sessionize") {
    val ev = Tables.events(spark, sf)
    val viaLag = Sessions.sessionize(ev)
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .orderBy("user_id", "session_start")
    val viaNative = Sessions.sessionWindowAgg(ev)
    assert(rows(viaNative) == rows(viaLag))
  }

  test("binned range join = naive inequality join, for widths above and below the bin") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf).select(col("l_shipdate"), col("l_orderkey"))
    // 4-day and 20-day windows: intervals both narrower and wider than the
    // 7-day bin (wider ones explode to 3+ bins)
    for (days <- Seq(4, 20)) {
      val iv = orders.filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("window_id"),
                (col("o_orderdate") - expr("INTERVAL 2 DAYS")).as("start_ts"),
                (col("o_orderdate") + expr(s"INTERVAL ${days - 2} DAYS")).as("end_ts"))
      val binned = RangeJoin.binned(li, "l_shipdate", iv, "start_ts", "end_ts", 7L * 86400)
        .select("window_id", "l_orderkey")
      val naive = li.join(iv,
          col("l_shipdate") >= col("start_ts") && col("l_shipdate") < col("end_ts"))
        .select("window_id", "l_orderkey")
      assert(rows(binned.orderBy("window_id", "l_orderkey")) ==
             rows(naive.orderBy("window_id", "l_orderkey")),
        s"binned != naive at width $days d")
    }
  }

  test("BPE training: merge rules match the hand-derived sequence with " +
       "deterministic ties; tokenization compresses by the learned rules") {
    import spark.implicits._
    // word freqs: low×2, lower×1, lowest×1 → pair counts lo:4 ow:4 we:2
    // er/es/st:1. Ties break to the lexicographically smallest pair, so
    // the rule sequence is fully determined: lo, low, lowe(?) — derived:
    //   0: (l,o)   [lo=4 ties ow=4 → lex min]
    //   1: (lo,w)  [4]
    //   2: (low,e) [2]
    //   3: (lowe,r)[1, lex min among (lowe,r),(lowe,s),(s,t)]
    val docs = Seq((1L, "low low lower lowest")).toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, nMerges = 4)
    assert(merges == Seq((0, "l", "o"), (1, "lo", "w"),
                         (2, "low", "e"), (3, "lowe", "r")), merges.toString)
    // rule exhaustion: a single 2-char word supports exactly one merge
    assert(TextAnalysis.trainBpeMerges(
      Seq((1L, "ab")).toDF("doc_id", "text"), nMerges = 5).size == 1)
    // tokenization under the learned rules: low→[low]=1 (×2 occurrences),
    // lower→[lower]=1, lowest→[lowe,s,t]=3 → 1+1+1+3 = 6 tokens / 4 words
    val counts = TextAnalysis.bpeTokenCounts(docs, merges).collect()(0)
    assert(counts.getLong(1) == 4 && counts.getLong(2) == 6, counts.toString)
    // determinism: identical corpus → identical rules
    assert(TextAnalysis.trainBpeMerges(docs, nMerges = 4) == merges)
  }

  test("BPE vocab bounds: the default cut is a no-op vs truly unbounded " +
       "on the corpus; minFreq floors and maxVocab top-cuts bind as the " +
       "HF/SentencePiece semantics say") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower lowest")).toDF("doc_id", "text")
    // minFreq = 2 keeps only "low" (freq 2): lo, low, then exhaustion
    val floored = TextAnalysis.trainBpeMerges(docs, nMerges = 4, minFreq = 2)
    assert(floored == Seq((0, "l", "o"), (1, "lo", "w")), floored.toString)
    // maxVocab = 1 keeps the single top word — "low" again by the
    // (count desc, word asc) total order — so the same two rules
    val cut = TextAnalysis.trainBpeMerges(docs, nMerges = 4, maxVocab = 1)
    assert(cut == Seq((0, "l", "o"), (1, "lo", "w")), cut.toString)
    // on the real corpus the DEFAULT bounds must not bind: the 2²⁰-word
    // cut path yields rule-for-rule what a boundless collect would
    val corpus = sources.Tables.documents(spark, sf)
    assert(TextAnalysis.trainBpeMerges(corpus, nMerges = 3) ==
      TextAnalysis.trainBpeMerges(corpus, nMerges = 3,
        minFreq = 1L, maxVocab = Int.MaxValue))
  }

  test("byte-level BPE (r17): trains to a VOCAB-SIZE target over UTF-8 " +
       "bytes — multi-byte letters re-form from their bytes, every " +
       "word round-trips through unhex, exhaustion stops honestly, " +
       "and the pack chain accepts the byte tokenizer") {
    import spark.implicits._
    import graft.operators.Curation
    val rigRows = (0L until 120L).map { d =>
      val j = (d % 4).toInt
      val w = Seq("éé", "éc", "cc", "bé")(j)
      (d, if (d % 2 == 0) "en" else "fr",
        Seq.fill(Seq(8, 4, 2, 1)(j))(w).mkString(" "))
    }
    val rig = rigRows.toDF("doc_id", "lang", "text")
    // vocabSize 7 = 4 base bytes {62,63,a9,c3} + exactly 3 merges; the
    // first merge re-forms 'é' (c3 a9) from its UTF-8 bytes
    val merges = TextAnalysis.trainBpeBytesMerges(rig, vocabSize = 7)
    assert(merges == Seq((0, "c3", "a9"), (1, "c3a9", "c3a9"),
      (2, "c3a9", "63")), merges)
    // a target at (or under) the base alphabet trains nothing
    assert(TextAnalysis.trainBpeBytesMerges(rig, vocabSize = 4).isEmpty)
    assert(TextAnalysis.trainBpeBytesMerges(rig, vocabSize = 2).isEmpty)
    // a target past exhaustion stops when no pair is left: every word
    // collapses to one symbol after 5 merges (the 3 above + cc + bé)
    val all = TextAnalysis.trainBpeBytesMerges(rig, vocabSize = 100)
    assert(all.size == 5 && all.drop(3) ==
      Seq((3, "63", "63"), (4, "62", "c3a9")), all)
    // round trip: for EVERY distinct word, unhex of the concatenated
    // final-token hex is the word's exact UTF-8 bytes
    val voc = TextAnalysis.bpeVocabBytes(rig, merges)
      .select("w", "tokens").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
    assert(voc.length == 4)
    voc.foreach { case (w, toks) =>
      val bytes = toks.mkString("").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
      assert(new String(bytes, "UTF-8") == w, s"round trip broke on $w")
    }
    assert(voc.toMap.apply("éé") == Seq("c3a9c3a9"))
    // the pack chain accepts the byte tokenizer: spans sum to the
    // byte-token counts (8/4/4/2 per family — NOT the char rig's n)
    val spans = Curation.tokenizePack(rig, merges, contextTokens = 64,
      byteLevel = true)
    val sums = spans.groupBy("doc_id").agg(sum("n_toks").as("t"))
      .collect().map(r => (r.getLong(0) % 4, r.getLong(1))).distinct.sorted
    assert(sums.toSeq == Seq((0L, 8L), (1L, 4L), (2L, 4L), (3L, 2L)), sums)
  }

  test("BPE corpus apply + tokenize_pack (r16): the distinct-word join " +
       "agrees with the per-doc fold; ids are the sorted-token order; " +
       "real-token spans provably differ from the estTokens proxy and " +
       "sum back to each doc's count") {
    import spark.implicits._
    // arbitrary text (not the rig): bpeTokenizeDocs' join pipeline must
    // reproduce bpeTokenCounts' per-(doc, distinct-word) fold exactly
    val docs = Seq((1L, "en", "low low lower lowest"),
                   (2L, "en", "slow slower low"),
                   (3L, "fr", "lowest slowest lowest"))
      .toDF("doc_id", "lang", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, nMerges = 4)
    val viaJoin = TextAnalysis.bpeTokenizeDocs(docs, merges)
      .select("doc_id", "n_words", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaFold = TextAnalysis.bpeTokenCounts(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaJoin == viaFold, s"$viaJoin vs $viaFold")
    // token ids: sorted distinct final tokens, 0-based, and each doc's
    // id sequence decodes back to its token strings in word order
    val vocab = TextAnalysis.bpeVocab(docs, merges).collect()
      .map(r => r.getString(0) ->
        (r.getSeq[String](1), r.getSeq[Int](2))).toMap
    val allTokens = vocab.values.flatMap(_._1).toSeq.distinct.sorted
    vocab.foreach { case (w, (toks, ids)) =>
      assert(ids == toks.map(allTokens.indexOf), s"ids of $w")
    }
    // the rig: BPE counts (8,8,4,2 by family) differ from estTokens
    // ceil(len/4) (10,4,2,2) on three of four families, so the packed
    // span tables CANNOT coincide — the real-token path is load-bearing
    val rigRows = (0L until 200L).map { d =>
      val j = (d % 4).toInt
      val w = Seq("abab", "abc", "cc", "babab")(j)
      (d, if (d % 2 == 0) "en" else "fr",
        Seq.fill(Seq(8, 4, 2, 1)(j))(w).mkString(" "))
    }
    val rig = rigRows.toDF("doc_id", "lang", "text")
    val rigMerges = TextAnalysis.trainBpeMerges(rig, nMerges = 2)
    assert(rigMerges == Seq((0, "a", "b"), (1, "ab", "ab")), rigMerges)
    val real = Curation.tokenizePack(rig, rigMerges, contextTokens = 64)
    val proxy = Curation.sequencePackSpans(rig, contextTokens = 64)
    assert(rows(real.orderBy("doc_id", "seq_id")) !=
           rows(proxy.orderBy("doc_id", "seq_id")),
      "rig families must separate the real-token and proxy span tables")
    // mutual check: each doc's spans sum to its REAL token count
    val spanSums = real.groupBy("doc_id")
      .agg(sum("n_toks").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = TextAnalysis.bpeTokenizeDocs(rig, rigMerges)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spanSums == counts)
    // and the id sequences are the planted family patterns
    val idSeqs = TextAnalysis.bpeTokenizeDocs(rig, rigMerges)
      .select("doc_id", "token_ids").collect()
      .map(r => (r.getLong(0) % 4, r.getString(1))).distinct.sorted.toSeq
    assert(idSeqs == Seq((0L, "1,1,1,1,1,1,1,1"), (1L, "0,3,0,3,0,3,0,3"),
      (2L, "3,3,3,3"), (3L, "2,1")), idSeqs.toString)
  }

  test("packed token sequences (r16): one row per TRAINING SEQUENCE — " +
       "per lang, concatenating rows in seq_id order reproduces the " +
       "docs' id streams exactly; non-final sequences are full; " +
       "resets mark every slice start") {
    import spark.implicits._
    val rigRows = (0L until 120L).map { d =>
      val j = (d % 4).toInt
      val w = Seq("abab", "abc", "cc", "babab")(j)
      (d, if (d % 2 == 0) "en" else "fr",
        Seq.fill(Seq(8, 4, 2, 1)(j))(w).mkString(" "))
    }
    val rig = rigRows.toDF("doc_id", "lang", "text")
    val merges = TextAnalysis.trainBpeMerges(rig, nMerges = 2)
    val mat = Curation.packedTokenSequences(rig, merges, contextTokens = 64)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    // the trainer-stream identity: ids concatenated across sequences in
    // seq_id order == the docs' planted id patterns in doc_id order
    val pattern = Map(0 -> Seq.fill(8)(1), 1 -> Seq(0, 3, 0, 3, 0, 3, 0, 3),
      2 -> Seq(3, 3, 3, 3), 3 -> Seq(2, 1))
    for (lang <- Seq("en", "fr")) {
      val wantStream = rigRows.filter(_._2 == lang).sortBy(_._1)
        .flatMap(r => pattern((r._1 % 4).toInt))
      val rows = mat.filter(_._1 == lang).sortBy(_._2)
      val gotStream = rows.flatMap(_._5.split(",").map(_.toInt)).toSeq
      assert(gotStream == wantStream, s"$lang stream diverged")
      // packing tiles: every sequence but the last holds exactly 64 ids
      rows.dropRight(1).foreach { r =>
        assert(r._4 == 64L && r._5.split(",").length == 64, r.toString) }
      rows.foreach { r =>
        assert(r._5.split(",").length.toLong == r._4, "ids != n_toks")
        val resets = r._6.split(",").map(_.toLong)
        assert(resets.length.toLong == r._3, "one reset per span")
        assert(resets.head == 0L || r._2 == rows.head._2,
          "a non-first sequence starts at offset 0")
      }
    }
    // cross-check against the span materializer: same grouping keys,
    // same counts, same resets (the ids are the only new column)
    val spansMat = Curation.packedSequences(rig, contextTokens = 64)
    val viaSpans = Curation.tokenizePack(rig, merges, contextTokens = 64)
      .groupBy("lang", "seq_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    mat.foreach { r =>
      assert(viaSpans((r._1, r._2)) == r._3, s"span count mismatch at $r") }
    assert(spansMat.columns.toSeq ==
      Seq("lang", "seq_id", "n_spans", "n_toks", "slices", "resets"))
    // r17 hot-doc shape (r16 What's-wrong #2): a 4096-token doc at
    // ctx 512 spans 8 sequences, and every slice cuts from ONE per-doc
    // array materialization (spans group per doc BEFORE the ids join) —
    // the old join-then-slice form copied the full array once per span.
    // Identity and tiling must hold on the long doc exactly as on
    // short ones.
    val hotRig = Seq(
      (1000L, "xx", Seq.fill(4096)("abab").mkString(" ")),
      (1001L, "xx", "abab")).toDF("doc_id", "lang", "text")
    val hotMerges = TextAnalysis.trainBpeMerges(hotRig, nMerges = 2)
    assert(hotMerges == Seq((0, "a", "b"), (1, "ab", "ab")), hotMerges)
    val hot = Curation.packedTokenSequences(hotRig, hotMerges,
        contextTokens = 512).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
        r.getString(5))).sortBy(_._1)
    assert(hot.length == 9, s"4097 tokens at ctx 512 -> 9 sequences: $hot")
    hot.take(8).foreach { r => // the hot doc tiles 8 FULL sequences
      assert(r._2 == 1L && r._3 == 512L && r._5 == "0", r.toString)
      assert(r._4.split(",").toSeq == Seq.fill(512)("0"), "ids diverged")
    }
    assert(hot(8) == ((8L, 1L, 1L, "0", "0")), hot(8).toString)
  }

  test("url host + registered domain (r16): userinfo/port/case strip, " +
       "the public-suffix subset, IP and single-label passthrough, " +
       "refuse-to-guess NULL, and registrant-level blocking") {
    import spark.implicits._
    import graft.operators.Curation
    def hd(urls: String*): Seq[(Option[String], Option[String])] =
      urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("doc_id", "url")
        .select(Curation.urlHost(col("url")).as("h"))
        .withColumn("d", Curation.registeredDomain(col("h")))
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))))
        .toSeq
    assert(hd("https://User:pw@WWW.News-Site.CO.UK:443/p?x=1") ==
      Seq((Some("www.news-site.co.uk"), Some("news-site.co.uk"))))
    assert(hd("http://a.b.blog.example.com:8080/x") ==
      Seq((Some("a.b.blog.example.com"), Some("example.com"))))
    // unknown multi-label suffixes fall back to last-two-labels —
    // documented subset semantics, not a guess at the full PSL
    assert(hd("http://shop.example.pvt.k12.ma.us/") ==
      Seq((Some("shop.example.pvt.k12.ma.us"), Some("ma.us"))))
    assert(hd("https://192.168.1.9:8443/admin") ==
      Seq((Some("192.168.1.9"), Some("192.168.1.9"))))
    assert(hd("http://[2001:db8::1]:8080/x") ==
      Seq((Some("[2001:db8::1]"), Some("[2001:db8::1]"))))
    assert(hd("http://localhost/dev") ==
      Seq((Some("localhost"), Some("localhost"))))
    assert(hd("mailto:a@b.c", "not a url") == Seq((None, None), (None, None)))
    // blocklist: blocking a registrant blocks its subdomains; NULL
    // hosts are not silently blocked
    val out = Curation.urlDomains(Seq(
        (1L, "http://news.example.com/a"),
        (2L, "http://example.com/b"),
        (3L, "http://other.org/c"),
        (4L, "mailto:x@y.z")).toDF("doc_id", "url"),
        blocklist = Seq("example.com"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false), out)
  }

  test("loadable PSL (r17): parse handles comments/annotations/case, " +
       "and the publicsuffix.org algorithm holds — exception beats " +
       "wildcard, wildcard consumes exactly one label, longest exact " +
       "wins, bare suffixes have no registrant, unknown TLDs take the " +
       "default rule") {
    import spark.implicits._
    import graft.operators.Curation
    // parse: comments drop, trailing annotations strip, case folds,
    // wildcard stores its parent, exception strips the bang
    val rules = Curation.PslRules.parse(Seq(
      "// the test list", "", "  CK extra annotation", "*.ck", "!www.ck",
      "uk", "co.uk", "au", "edu.au", "act.edu.au"))
    assert(rules.exact(1) == Set("ck", "uk", "au"))
    assert(rules.exact(2) == Set("co.uk", "edu.au"))
    assert(rules.exact(3) == Set("act.edu.au"))
    assert(rules.wildcard(1) == Set("ck"))
    assert(rules.exception(2) == Set("www.ck"))
    def reg(hosts: String*): Seq[Option[String]] =
      hosts.toDF("h")
        .select(Curation.registeredDomain(col("h"), rules))
        .collect().map(r => Option(r.getString(0))).toSeq
    // exception !www.ck: public suffix shrinks to ck, registrant www.ck
    // — for the bare host AND any depth under it
    assert(reg("www.ck", "foo.www.ck", "a.b.www.ck") ==
      Seq(Some("www.ck"), Some("www.ck"), Some("www.ck")))
    // wildcard *.ck: any OTHER label under ck is itself a public
    // suffix, so the registrant sits one deeper; the bare wildcard
    // match has no registrant
    assert(reg("foo.bar.ck", "shop.foo.bar.ck", "bar.ck") ==
      Seq(Some("foo.bar.ck"), Some("foo.bar.ck"), None))
    // longest exact wins: act.edu.au over edu.au over au
    assert(reg("a.act.edu.au", "x.a.act.edu.au", "b.edu.au", "c.au") ==
      Seq(Some("a.act.edu.au"), Some("a.act.edu.au"), Some("b.edu.au"),
        Some("c.au")))
    // a host that IS a public suffix (or above one) has no registrant
    assert(reg("co.uk", "uk", "ck", "act.edu.au") ==
      Seq(None, None, None, None))
    // unknown TLD: the default `*` rule — last label is the suffix
    assert(reg("unknown.tld.zz", "tld.zz") ==
      Seq(Some("tld.zz"), Some("tld.zz")))
    // single unknown label / IP literals / NULL
    assert(reg("localhost") == Seq(None))
    assert(reg("192.168.1.9") == Seq(Some("192.168.1.9")))
    assert(Seq(Option.empty[String]).toDF("h")
      .select(Curation.registeredDomain(col("h"), rules))
      .collect().map(r => Option(r.getString(0))).toSeq == Seq(None))
    // the data-file path: load() reads the PSL-format file the rig and
    // a production deployment hand it
    val dir = java.nio.file.Files.createTempDirectory("graft_pslspec_")
    try {
      val f = dir.resolve("psl.dat")
      java.nio.file.Files.write(f,
        "// list\n*.ck\n!www.ck\nco.uk\n".getBytes("UTF-8"))
      val loaded = Curation.PslRules.load(spark, f.toString)
      assert(loaded == Curation.PslRules.parse(Seq(
        "*.ck", "!www.ck", "co.uk")))
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("pack efficiency (r16): every cell re-derives by hand on a " +
       "corpus with boundary splits and a padded tail") {
    import spark.implicits._
    import graft.operators.Curation
    // estTokens = ceil(len/4): docs of 10, 3, 7 tokens; ctx 8 ->
    // doc1 spans seq0+seq1, doc3 spans seq1+seq2, seq2 holds 4 of 8
    def txt(n: Int) = "x" * (n * 4)
    val docs = Seq((1L, "en", txt(10)), (2L, "en", txt(3)),
      (3L, "en", txt(7)), (4L, "de", txt(8))).toDF("doc_id", "lang", "text")
    val got = Curation.packEfficiency(docs, contextTokens = 8).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got("en") == ((3L, 3L, 20L, 4L, 20L * 1000000 / 24, 2L)),
      got("en").toString)
    // de: one doc exactly fills one sequence — zero pad, ppm exactly 1e6
    assert(got("de") == ((1L, 1L, 8L, 0L, 1000000L, 0L)), got("de").toString)
    // r17 (r16 ADVICE): util_ppm routes the n_toks·10⁶ product through
    // DECIMAL(38,0) — a per-lang token total past ~9.2e12 (in range for
    // a 100 TB corpus) overflows the old Long product; the widened form
    // stays exact. Asserted on the expression seam itself: the same
    // SQL packEfficiency emits, at a provably Long-overflowing total.
    val big = spark.sql(
      "SELECT CAST(CAST(10000000000000 AS DECIMAL(38,0)) * 1000000 div " +
        "(CAST(5000000000 AS DECIMAL(38,0)) * 2048) AS BIGINT) AS ppm")
      .collect().head.getLong(0)
    assert(big == 976562L, big.toString) // 1e13·1e6 div (5e9·2048), exact
  }

  test("domain quota: the md5 order is the deterministic sample a plain " +
       "Scala reference predicts; partitioning never changes the pick") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val got = Curation.domainQuota(docs, perDomain = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    // plain-Scala reference: same md5-hex order per source
    val want = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        rows.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(3)
          .zipWithIndex.map { case (id, i) => (id, src, i + 1) }
      }.sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.take(5).mkString(";")}")
    // quota binds: never more than k per source, and with k >= group
    // size the quota is a no-op (every doc survives)
    assert(got.groupBy(_._2).values.forall(_.size <= 3))
    val all = Curation.domainQuota(docs, perDomain = Int.MaxValue).count()
    assert(all == docs.count())
    // partition layout must not change a hash-ordered deterministic pick
    val reparted = Curation.domainQuota(docs.repartition(7), perDomain = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(reparted.toSeq == got.toSeq)
  }

  test("quality sample: bucket assignment + the hex md5 gate match a plain " +
       "Scala reference; head keeps everything, gates are exact k/256") {
    import spark.implicits._
    def md5hex2(id: Long): String = md5hex(id.toString).take(2)
    val docs = Tables.documents(spark, sf)
    val got = Curation.qualitySample(docs).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    val all = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = all.flatMap { case (id, text) =>
      val words = text.toLowerCase.trim.split(" ", -1).length
      val bucket =
        if (text.length >= 200 && words >= 40) "head"
        else if (text.length >= 100 && words >= 20) "middle"
        else "tail"
      val keep = bucket == "head" ||
        (bucket == "middle" && md5hex2(id) < "80") ||
        (bucket == "tail" && md5hex2(id) < "1a")
      if (keep) Some(id -> bucket) else None
    }.toMap
    assert(got == want, s"sample diverges from the reference " +
      s"(got ${got.size}, want ${want.size})")
    // every head doc survives; the sample is a subset of the corpus
    val heads = want.count(_._2 == "head")
    assert(heads > 0 && got.count(_._2 == "head") == heads)
    assert(got.keySet.subsetOf(all.map(_._1).toSet))
  }

  test("curation funnel: sequential semantics — dropped docs never consume " +
       "quota slots or budget; a plain Scala reference reproduces every " +
       "stage verdict") {
    import spark.implicits._
    def good(tag: String): String =
      (1 to 25).map(i => s"$tag$i word").mkString(" ") // ≥100 chars, ≥20 words
    val rows = Seq(
      (1L, good("dup"), "en", "a"), (2L, good("dup"), "en", "a"), // dup pair
      (3L, good("x"), "en", "a"), (4L, good("y"), "en", "a"),
      (5L, "tiny doc", "en", "a"),                               // low quality
      (6L, good("p"), "fr", "b"), (7L, good("q"), "fr", "b"),
      (8L, good("r"), "fr", "b"))
    val docs = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tokOf = rows.map { case (id, t, _, _) =>
      id -> math.ceil(t.length / 4.0).toLong }.toMap
    val budget = tokOf(1L) + 1 // binds: one good doc per lang fits, two don't
    val got = Curation.curationFunnel(docs, perDomain = 2,
        budgetPerLang = budget).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
    // plain-Scala reference with the same sequential rules
    val digestMin = rows.groupBy(r => md5hex(r._2.toLowerCase.trim))
      .values.map(g => g.map(_._1).min).toSet
    val passD = rows.map(r => r._1 -> digestMin.contains(r._1)).toMap
    val passQl = rows.map(r => r._1 -> (r._2.length >= 100 &&
      r._2.toLowerCase.trim.split(" ", -1).length >= 20)).toMap
    val s12 = rows.map(_._1).filter(id => passD(id) && passQl(id))
    val passQt = rows.groupBy(_._4).values.flatMap { g =>
      g.map(_._1).filter(s12.contains).sortBy(id => (md5hex(id.toString), id))
        .zipWithIndex.map { case (id, i) => id -> (i < 2) }
    }.toMap.withDefaultValue(false)
    val passB = rows.groupBy(_._3).values.flatMap { g =>
      g.map(_._1).filter(id => s12.contains(id) && passQt(id)).sorted
        .scanLeft((0L, 0L)) { case ((_, cum), id) => (id, cum + tokOf(id)) }
        .drop(1).map { case (id, cum) => id -> (cum <= budget) }
    }.toMap.withDefaultValue(false)
    val want = rows.map { case (id, _, _, _) =>
      id -> (passD(id), passQl(id), passQt(id), passB(id),
        passD(id) && passQl(id) && passQt(id) && passB(id))
    }.toMap
    assert(got == want, s"got $got\nwant $want")
    // the funnel is monotone: a later-stage pass implies every earlier one
    got.values.foreach { case (d, ql, qt, b, kept) =>
      assert(!qt || (d && ql)); assert(!b || qt); assert(kept == (d && ql && qt && b))
    }
    // and it binds: each drop reason occurs somewhere in this corpus
    assert(got.values.exists(v => !v._1), "no dedup drop")
    assert(got.values.exists(v => v._1 && !v._2), "no quality drop")
    assert(got.values.exists(v => v._1 && v._2 && !v._3), "no quota drop")
    assert(got.values.exists(v => v._1 && v._2 && v._3 && !v._4), "no budget drop")
  }

  test("curation funnel × cascade: quality drops attribute to the FIRST " +
       "failing rule, and the stricter gate reshapes the downstream " +
       "budget (composition, not annotation)") {
    import spark.implicits._
    def clean(tag: String): String =
      (1 to 25).map(i => s"${tag}word$i").mkString(" ") // 25 distinct words
    val rep = (1 to 25).map(_ => "spam").mkString(" ")  // top_share 1.0
    val thin = (1 to 60).map(_ => "a").mkString(" ")    // awl 1.0, len >= 100
    val few = (1 to 10).map(i => s"verylongword$i").mkString(" ") // 10 words
    val rows = Seq(
      (1L, rep, "en", "a"),   // passes the PLAIN structural gate (124 chars,
                              // 25 words) — only the cascade kills it
      (2L, clean("x"), "en", "a"),
      (3L, thin, "en", "a"),  // also passes the plain gate; cascade kills
      (4L, "tiny doc", "en", "a"),
      (5L, few, "en", "a"),
      (6L, clean("dup"), "en", "a"), (7L, clean("dup"), "en", "a"))
    val docs = rows.toDF("doc_id", "text", "lang", "source")
    val tokOf = rows.map { case (id, t, _, _) =>
      id -> math.ceil(t.length / 4.0).toLong }.toMap
    // budget exactly fits the two cascade survivors (docs 2 and 6) —
    // composition evidence below needs nothing about md5 quota order
    val budget = tokOf(2L) + tokOf(6L)
    val got = Curation.curationFunnelCascade(docs, perDomain = 10,
        budgetPerLang = budget).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getString(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
      .toMap
    val want = Map(
      1L -> (true, false, "repetitive", false, false, false),
      2L -> (true, true, "", true, true, true),
      3L -> (true, false, "word_len_out_of_band", false, false, false),
      4L -> (true, false, "too_short", false, false, false),
      5L -> (true, false, "too_few_words", false, false, false),
      6L -> (true, true, "", true, true, true),
      7L -> (false, true, "", false, false, false))
    assert(got == want, s"got $got\nwant $want")
    // COMPOSITION: the plain funnel's weaker gate lets docs 1 and 3
    // consume budget ahead of doc 6 (doc_id order), so doc 6 busts the
    // cap there — under the cascade it survives. Same corpus, same cap,
    // different funnel: the stricter stage reshapes later stages.
    val plain = Curation.curationFunnel(docs, perDomain = 10,
        budgetPerLang = budget).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(4))).toMap
    assert(plain(1L)._1 && plain(3L)._1, "1/3 must pass the plain gate")
    assert(!plain(6L)._2, "doc 6 must bust the plain funnel's budget")
    assert(got(6L)._5, "doc 6 must fit the cascade funnel's budget")
    // monotone like the plain funnel: later pass implies earlier pass
    got.values.foreach { case (d, ql, _, qt, b, kept) =>
      assert(!qt || (d && ql)); assert(!b || qt)
      assert(kept == (d && ql && qt && b))
    }
  }

  test("arrival funnel: quota admits first-come by doc_id where the md5 " +
       "funnel draws — pinned on ids whose md5 order inverts arrival") {
    import spark.implicits._
    def clean(tag: String): String =
      (1 to 25).map(i => s"${tag}word$i").mkString(" ")
    // md5("4") = a87f… sorts FIRST among {"1","2","4"} (md5("1") = c4ca…,
    // md5("2") = c81e…): the md5 draw keeps {4, 1}, arrival keeps {1, 2}
    // — a deterministic divergence, no hash luck
    val docs = Seq(
      (1L, clean("a"), "en", "s"), (2L, clean("b"), "en", "s"),
      (4L, clean("c"), "en", "s")).toDF("doc_id", "text", "lang", "source")
    def quotaPassers(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(quotaPassers(Curation.curationFunnelArrival(docs, perDomain = 2,
      budgetPerLang = 100000)) == Set(1L, 2L))
    assert(quotaPassers(Curation.curationFunnel(docs, perDomain = 2,
      budgetPerLang = 100000)) == Set(4L, 1L))
    // full verdict re-derivation, plain Scala: one source, arrival order
    val got = Curation.curationFunnelArrival(docs, perDomain = 2,
        budgetPerLang = 100000).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(got == Map(
      1L -> (true, true, true, true, true),
      2L -> (true, true, true, true, true),
      4L -> (true, true, false, false, false)), got.toString)
  }

  test("dsir select: plain-Scala re-derivation of the hashed-bucket " +
       "micro-nat scores; target-like candidates outrank disjoint ones; " +
       "wordless docs never rank") {
    import spark.implicits._
    val rows = Seq(
      (1L, "apple banana cherry", "en", "s"),
      (2L, "apple apple banana", "en", "s"),
      (3L, "apple banana", "de", "s"),      // shares the target vocabulary
      (4L, "xylophone quartz", "de", "s"),  // disjoint from it
      (5L, "", "de", "s"))                  // wordless: no occurrences
    val docs = rows.toDF("doc_id", "text", "lang", "source")
    val B = 4096
    // the operator's arithmetic, re-derived with no Spark in the loop
    def bucket(w: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d, 16) % B
    }
    val occ = rows.flatMap { case (id, t, lang, _) =>
      t.toLowerCase.trim.split(" ").filter(_.nonEmpty)
        .map(w => (id, bucket(w), lang == "en")) }
    val cnt = occ.groupBy(_._2).map { case (b, os) =>
      b -> (os.count(_._3).toLong, os.size.toLong) }
    val (nt, nr) = (cnt.values.map(_._1).sum, cnt.values.map(_._2).sum)
    def unats(ct: Long, cr: Long): Long =
      BigDecimal(math.log(((ct + 1.0) * (nr + B)) / ((cr + 1.0) * (nt + B)))
          * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val want = occ.filter(!_._3).groupBy(_._1).map { case (id, os) =>
      id -> (os.size.toLong,
        os.map(o => { val (ct, cr) = cnt(o._2); unats(ct, cr) }).sum) }
      .toSeq.sortBy { case (id, (_, s)) => (-s, id) }.zipWithIndex
      .map { case ((id, (n, s)), i) => (id, n, s, i + 1) }
    val got = Curation.dsirSelect(docs, col("lang") === "en").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq.sortBy(_._4)
    assert(got == want, s"$got vs $want")
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId(3L)._3 > byId(4L)._3 && byId(3L)._4 == 1,
      "the target-vocab candidate must outrank the disjoint one")
    assert(byId(4L)._3 < 0, "a fully-disjoint candidate scores negative")
    assert(!byId.contains(5L) && !byId.contains(1L) && !byId.contains(2L),
      "wordless and target docs never rank")
  }

  test("kneser-ney bigram: plain-Scala re-derivation of the micro-nat " +
       "model; the conditional sums to exactly 1 per context; sub-2-token " +
       "docs drop; discount floor engages on no seen type") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the cat"),
      (3L, "dog ran dog ran dog"),
      (4L, "single"),   // 1 token: no bigrams, must drop
      (5L, ""))         // wordless: must drop
    val docs = rows.toDF("doc_id", "text")
    // the operator's arithmetic with no Spark in the loop
    val bigrams = rows.flatMap { case (id, t) =>
      t.toLowerCase.trim.split(" ").sliding(2).collect {
        case Array(a, b) if a.nonEmpty && b.nonEmpty => (id, a, b) } }
    val tfb = bigrams.groupBy(identity).map { case ((id, a, b), g) =>
      (id, a, b, g.size.toLong) }.toSeq
    val cb = tfb.groupBy(r => (r._2, r._3))
      .map { case (k, g) => k -> g.map(_._4).sum }
    val ctx = cb.groupBy(_._1._1).map { case (w1, g) =>
      w1 -> (g.values.sum, g.size.toLong) }
    val pre = cb.groupBy(_._1._2).map { case (w2, g) => w2 -> g.size.toLong }
    val ntypes = cb.size.toLong
    def prob(w1: String, w2: String): Double = {
      val (c1, n1w1) = ctx(w1)
      (math.max(cb.getOrElse((w1, w2), 0L).toDouble - 0.75, 0.0) +
        0.75 * n1w1.toDouble * pre(w2).toDouble / ntypes.toDouble) / c1.toDouble
    }
    def unats(w1: String, w2: String): Long =
      BigDecimal(-math.log(prob(w1, w2)) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val want = tfb.groupBy(_._1).map { case (id, g) =>
      (id, g.map(_._4).sum, g.map(r => r._4 * unats(r._2, r._3)).sum) }
      .toSeq.sortBy(_._1)
    val got = TextAnalysis.perplexityKn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == want, s"$got vs $want")
    assert(!got.exists(r => r._1 == 4L || r._1 == 5L),
      "sub-2-token docs must drop")
    // the KN property the smoothing exists for: discounted seen mass +
    // redistributed continuation mass = exactly 1 per context over the
    // FULL continuation vocabulary (unseen pairs take the pure back-off
    // term — c12 = 0, only the interpolation weight survives)
    ctx.keys.foreach { w1 =>
      // .toSeq: mapping a key SET to probabilities would collapse equal
      // values before the sum
      val mass = pre.keys.toSeq.map(w2 => prob(w1, w2)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context '$w1' mass $mass != 1")
    }
    // repeated-only-bigram context: "dog ran" has c12 large relative to
    // c1 — probability stays < 1 and unats >= 0 (ln never goes positive)
    assert(unats("dog", "ran") >= 0L)
  }

  test("count-pruned kneser-ney (r14): plain-Scala re-derivation; the " +
       "pruned mass joins the interpolation weight exactly (sum 1 per " +
       "context, incl. an all-pruned context); pruned types score the " +
       "back-off-only term") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the cat the cat sat"),  // 'the cat' survives x4
      (3L, "solo duo"),                          // all-pruned context
      (4L, ""))                                  // wordless: drops
    val docs = rows.toDF("doc_id", "text")
    val bigrams = rows.flatMap { case (id, t) =>
      t.toLowerCase.trim.split(" ").sliding(2).collect {
        case Array(a, b) if a.nonEmpty && b.nonEmpty => (id, a, b) } }
    val tfb = bigrams.groupBy(identity).map { case ((id, a, b), g) =>
      (id, a, b, g.size.toLong) }.toSeq
    val cb = tfb.groupBy(r => (r._2, r._3))
      .map { case (k, g) => k -> g.map(_._4).sum }
    val ctx = cb.groupBy(_._1._1).map { case (w1, g) =>
      w1 -> (g.values.sum,                         // c1
        g.values.count(_ > 1).toLong,              // n1s (surviving)
        g.values.filter(_ <= 1).sum) }             // s1 (pruned mass)
    val pre = cb.groupBy(_._1._2).map { case (w2, g) => w2 -> g.size.toLong }
    val ntypes = cb.size.toLong
    def prob(w1: String, w2: String): Double = {
      val (c1, n1s, s1) = ctx(w1)
      val c12 = cb.getOrElse((w1, w2), 0L)
      ((if (c12 > 1) c12.toDouble - 0.75 else 0.0) +
        (0.75 * n1s.toDouble + s1.toDouble) * pre(w2).toDouble /
          ntypes.toDouble) / c1.toDouble
    }
    def unats(w1: String, w2: String): Long =
      BigDecimal(-math.log(prob(w1, w2)) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val want = tfb.groupBy(_._1).map { case (id, g) =>
      (id, g.map(_._4).sum, g.map(r => r._4 * unats(r._2, r._3)).sum) }
      .toSeq.sortBy(_._1)
    val got = TextAnalysis.perplexityKnPruned(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == want, s"$got vs $want")
    assert(!got.exists(_._1 == 4L), "wordless doc must drop")
    // the rig actually has both classes: surviving and pruned types
    assert(cb.values.exists(_ > 1) && cb.values.exists(_ == 1))
    // EXACT mass conservation per context over the full continuation
    // vocabulary — the pruned counts joined the interpolation weight,
    // they did not leak
    ctx.keys.foreach { w1 =>
      val mass = pre.keys.toSeq.map(w2 => prob(w1, w2)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context '$w1' mass $mass != 1")
    }
    // all-pruned context: 'solo' has no surviving continuation, so its
    // distribution is PURE continuation — p(duo|solo) = nprec/ntypes
    val (c1s, n1sS, s1S) = ctx("solo")
    assert(n1sS == 0L && s1S == c1s)
    assert(math.abs(prob("solo", "duo") -
      pre("duo").toDouble / ntypes.toDouble) < 1e-15)
    // pruned type under a MIXED context scores back-off only: same
    // expression with the discounted term zeroed
    val (c1t, n1sT, s1T) = ctx("the")
    assert(cb(("the", "mat")) == 1L)
    assert(math.abs(prob("the", "mat") -
      (0.75 * n1sT + s1T.toDouble) * pre("mat") / ntypes / c1t) < 1e-15)
  }

  test("modified kneser-ney: plain-Scala re-derivation with estimated " +
       "count-class discounts; clamped mass sums to exactly 1; degenerate " +
       "count-of-counts fall back to interpolated KN bit-for-bit") {
    import spark.implicits._
    // count classes engineered: (p,q)x3 (q,p)x2 (r,s)x4 (s,r)x3 (x,y)x5
    // (y,x)x4 + three singletons -> n1=3 n2=1 n3=2 n4=2, all nonzero
    val rows = Seq(
      (1L, "p q p q p q"),
      (2L, "r s r s r s r s"),
      (3L, "t u v w"),
      (4L, "x y x y x y x y x y"))
    val docs = rows.toDF("doc_id", "text")
    val bigrams = rows.flatMap { case (id, t) =>
      t.toLowerCase.trim.split(" ").sliding(2).collect {
        case Array(a, b) if a.nonEmpty && b.nonEmpty => (id, a, b) } }
    val tfb = bigrams.groupBy(identity).map { case ((id, a, b), g) =>
      (id, a, b, g.size.toLong) }.toSeq
    val cb = tfb.groupBy(r => (r._2, r._3)).map { case (k, g) => k -> g.map(_._4).sum }
    val ctx = cb.groupBy(_._1._1).map { case (w1, g) =>
      w1 -> (g.values.sum, g.values.count(_ == 1L).toLong,
        g.values.count(_ == 2L).toLong, g.values.count(_ >= 3L).toLong) }
    val pre = cb.groupBy(_._1._2).map { case (w2, g) => w2 -> g.size.toLong }
    val ntypes = cb.size.toLong
    val Seq(n1, n2, n3, n4) =
      Seq(1L, 2L, 3L, 4L).map(k => cb.values.count(_ == k).toLong)
    assert(n1 > 0 && n2 > 0 && n3 > 0 && n4 > 0, s"classes $n1 $n2 $n3 $n4")
    val y = n1.toDouble / (n1 + 2.0 * n2)
    def clamp(d: Double, k: Double) = math.min(math.max(d, 0.0), k)
    val d1 = clamp(1.0 - 2.0 * y * (n2.toDouble / n1), 1.0)
    val d2 = clamp(2.0 - 3.0 * y * (n3.toDouble / n2), 2.0)
    val d3 = clamp(3.0 - 4.0 * y * (n4.toDouble / n3), 3.0)
    def prob(w1: String, w2: String): Double = {
      val (c1, k1, k2, k3) = ctx(w1)
      val c = cb.getOrElse((w1, w2), 0L)
      val d = if (c == 1) d1 else if (c == 2) d2 else d3
      (math.max(c.toDouble - d, 0.0) +
        (d1 * k1 + d2 * k2 + d3 * k3) * pre(w2).toDouble / ntypes.toDouble) /
        c1.toDouble
    }
    def unats(w1: String, w2: String): Long =
      BigDecimal(-math.log(prob(w1, w2)) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val want = tfb.groupBy(_._1).map { case (id, g) =>
      (id, g.map(_._4).sum, g.map(r => r._4 * unats(r._2, r._3)).sum) }
      .toSeq.sortBy(_._1)
    val got = TextAnalysis.perplexityKnMod(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == want, s"$got vs $want")
    // the clamp's guarantee: exact mass conservation, unconditionally
    ctx.keys.foreach { w1 =>
      val mass = pre.keys.toSeq.map(w2 => prob(w1, w2)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context '$w1' mass $mass != 1")
    }
    // degenerate count-of-counts (all-singleton corpus: n2 = 0) fall
    // back to the fixed 0.75 for every class — which IS interpolated KN
    val flat = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val mod = TextAnalysis.perplexityKnMod(flat).collect().map(_.toSeq).toSet
    val kn = TextAnalysis.perplexityKn(flat).collect().map(_.toSeq).toSet
    assert(mod == kn, s"degenerate fallback diverged: $mod vs $kn")
  }

  test("cross-corpus kneser-ney: the three open-vocabulary paths score " +
       "as re-derived — seen pair, unseen pair under a seen context, " +
       "unseen context / OOV floor") {
    import spark.implicits._
    val train = Seq((0L, "the cat sat on the mat"),
                    (2L, "the cat ate the cat")).toDF("doc_id", "text")
    // score doc exercises all three paths: (the,cat)=seen pair;
    // (cat,ran)=unseen pair under seen context 'cat'; (ran,zebra)=unseen
    // context AND OOV continuation (the floor)
    val score = Seq((1L, "the cat ran zebra")).toDF("doc_id", "text")
    // re-derive from the train corpus with no operator code in the loop
    val tb = Seq("the cat sat on the mat", "the cat ate the cat")
      .flatMap(_.split(" ").sliding(2).map { case Array(a, b) => (a, b) })
    val cb = tb.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val ctx = cb.groupBy(_._1._1).map { case (w1, g) =>
      w1 -> (g.values.sum, g.size.toLong) }
    val pre = cb.groupBy(_._1._2).map { case (w2, g) => w2 -> g.size.toLong }
    val ntypes = cb.size.toLong
    val vcont = pre.size.toLong
    def pcont(w2: String): Double =
      (pre.getOrElse(w2, 0L) + 1L).toDouble / (ntypes + vcont + 1L).toDouble
    def prob(w1: String, w2: String): Double = ctx.get(w1) match {
      case Some((c1, n1w1)) =>
        (math.max(cb.getOrElse((w1, w2), 0L).toDouble - 0.75, 0.0) +
          0.75 * n1w1.toDouble * pcont(w2)) / c1.toDouble
      case None => pcont(w2)
    }
    def unats(w1: String, w2: String): Long =
      BigDecimal(-math.log(prob(w1, w2)) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val want = (3L,
      unats("the", "cat") + unats("cat", "ran") + unats("ran", "zebra"))
    val got = TextAnalysis.perplexityKnCross(score, train).collect()
    assert(got.length == 1 &&
      (got(0).getLong(1), got(0).getLong(2)) == want,
      s"${got.toSeq} vs $want")
    // the seen pair is the cheapest of the three paths (the unseen
    // paths' relative order depends on c1 — backoff under a seen
    // context divides by it, so no general ladder exists beyond this)
    assert(unats("the", "cat") < unats("cat", "ran") &&
      unats("the", "cat") < unats("ran", "zebra"))
    // the floor is finite: an OOV continuation never scores -ln 0
    assert(prob("ran", "zebra") > 0.0)
  }

  test("trigram kneser-ney: plain-Scala re-derivation of the two-level " +
       "recursion (continuation counts at the middle); mass sums to 1 at " +
       "both levels; sub-3-token docs drop") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the cat food"),
      (3L, "dog ran dog ran dog"),
      (4L, "two words"),  // no trigrams: drops
      (5L, "one"))        // drops
    val docs = rows.toDF("doc_id", "text")
    def toks(t: String) = t.toLowerCase.trim.split(" ").filter(_ => true)
    val tris = rows.flatMap { case (id, t) =>
      toks(t).sliding(3).collect {
        case Array(a, b, c) if a.nonEmpty && b.nonEmpty && c.nonEmpty =>
          (id, a, b, c) } }
    val tfb3 = tris.groupBy(identity).map { case ((id, a, b, c), g) =>
      (id, a, b, c, g.size.toLong) }.toSeq
    val cb3 = tfb3.groupBy(r => (r._2, r._3, r._4))
      .map { case (k, g) => k -> g.map(_._5).sum }
    val ctx3 = cb3.groupBy(k => (k._1._1, k._1._2)).map { case (k, g) =>
      k -> (g.values.sum, g.size.toLong) }
    val mnum = cb3.keys.groupBy(k => (k._2, k._3))
      .map { case (k, g) => k -> g.size.toLong }
    val mid = mnum.groupBy(_._1._1).map { case (w2, g) =>
      w2 -> (g.values.sum, g.size.toLong) }
    val cb2 = rows.flatMap { case (_, t) => toks(t).sliding(2).collect {
      case Array(a, b) if a.nonEmpty && b.nonEmpty => (a, b) } }.toSet
    val pre2 = cb2.toSeq.groupBy(_._2).map { case (w2, g) => w2 -> g.size.toLong }
    val ntypes2 = cb2.size.toLong
    def pcont(w3: String) =
      pre2.getOrElse(w3, 0L).toDouble / ntypes2.toDouble
    def p2(w2: String, w3: String): Double = {
      val (mden, mn1) = mid(w2)
      (math.max(mnum.getOrElse((w2, w3), 0L).toDouble - 0.75, 0.0) +
        0.75 * mn1.toDouble * pcont(w3)) / mden.toDouble
    }
    def p3(w1: String, w2: String, w3: String): Double = {
      val (c12, n3) = ctx3((w1, w2))
      (math.max(cb3.getOrElse((w1, w2, w3), 0L).toDouble - 0.75, 0.0) +
        0.75 * n3.toDouble * p2(w2, w3)) / c12.toDouble
    }
    def unats(a: String, b: String, c: String): Long =
      BigDecimal(-math.log(p3(a, b, c)) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val want = tfb3.groupBy(_._1).map { case (id, g) =>
      (id, g.map(_._5).sum, g.map(r => r._5 * unats(r._2, r._3, r._4)).sum) }
      .toSeq.sortBy(_._1)
    val got = TextAnalysis.perplexityKn3(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == want, s"$got vs $want")
    assert(!got.exists(r => r._1 == 4L || r._1 == 5L), "sub-3-token docs drop")
    // mass conservation at BOTH levels over the bigram-continuation
    // vocabulary (.toSeq — a key SET would collapse equal probabilities)
    val contVocab = pre2.keys.toSeq
    mid.keys.foreach { w2 =>
      val m2 = contVocab.map(w3 => p2(w2, w3)).sum
      assert(math.abs(m2 - 1.0) < 1e-9, s"P2 mass for '$w2' = $m2")
    }
    ctx3.keys.foreach { case (w1, w2) =>
      val m3 = contVocab.map(w3 => p3(w1, w2, w3)).sum
      assert(math.abs(m3 - 1.0) < 1e-9, s"P3 mass for '$w1 $w2' = $m3")
    }
  }

  test("r12 screens are partition-invariant: dsir ranks, repetition " +
       "fractions, arrival-funnel verdicts identical at 1/7/13 partitions") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(120).localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for (op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => Curation.dsirSelect(d, col("lang") === "en", k = 20),
        d => TextAnalysis.repetitionNgrams(d),
        d => TextAnalysis.gopherQuality(d),
        d => Curation.curationFunnelArrival(d, perDomain = 3,
          budgetPerLang = 2000))) {
      val base = canon(op(docs.repartition(1)))
      for (n <- Seq(7, 13))
        assert(canon(op(docs.repartition(n))) == base,
          s"partitioning changed an r12 screen's output at $n partitions")
    }
  }

  test("gopher quality: every rule fires in declared order, and the " +
       "integer cross-multiplied boundaries are inclusive exactly where " +
       "MassiveText's are") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(49)("the").mkString(" ")),          // 49 words
      (2L, Seq.fill(50)("a").mkString(" ")),            // mean 1 < 3
      (3L, (Seq.fill(48)("the") :+ "ab######" :+ "cde") // 6 '#' in 50 words
        .mkString(" ")),                                //  -> 60 > 50
      (4L, (Seq.fill(48)("the") :+ "ab#####" :+ "cdef") // 5 '#': 50 > 50 is
        .mkString(" ")),                                //  FALSE -> passes
      (5L, (Seq.fill(39)("the") ++ Seq.fill(11)("123")).mkString(" ")),
        // 39/50 alpha: 195 < 200 fires; sum=150=3n proves the LOWER mean
        // boundary is inclusive (rule 3 did not fire first)
      (6L, (Seq.fill(49)("cat") :+ "the").mkString(" ")), // 1 stopword
      (7L, Seq.fill(50)("the").mkString(" ")),            // mean exactly 3
      (8L, (Seq.fill(47)("abcdefghij") ++
        Seq("abcdefghijklmnopqrstuv", "that", "have")).mkString(" ")),
        // sum=500=10n: the UPPER mean boundary is inclusive -> PASS
      (9L, (Seq.fill(44)("the") ++ Seq.fill(6)("...")).mkString(" ")))
        // 6 "..." occurrences -> 60 > 50: the ellipsis counter fires
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        r.getString(3))).toMap
    val want = Map(
      1L -> (49L, false, "too_few_words"),
      2L -> (50L, false, "word_len_out_of_band"),
      3L -> (50L, false, "symbol_ratio"),
      4L -> (50L, true, ""),
      5L -> (50L, false, "low_alpha_fraction"),
      6L -> (50L, false, "too_few_stopwords"),
      7L -> (50L, true, ""),
      8L -> (50L, true, ""),
      9L -> (50L, false, "symbol_ratio"))
    assert(got == want, s"got $got\nwant $want")
  }

  test("repetition ngrams: hand corpus pins the top pick (count desc, " +
       "gram asc ties), the dup mass, short-doc zeros, and overlap " +
       "double-count semantics") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"), // loop: every signal fires, dup mass > 1
      (2L, "x y z w"),     // all-distinct: dup 0, top = count-1 pick
      (3L, "q"),           // shorter than every n: all zeros
      (4L, ""),            // wordless: n_chars 0 -> zeros, no div-by-0
      (6L, "a bb ccc"))    // count tie, different gram LENGTHS: asc pick
      .toDF("doc_id", "text")
    def r4(x: Double): Double = math.round(x * 10000) / 10000.0
    val got = TextAnalysis.repetitionNgrams(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val want = Map(
      // doc 1: n_chars 11; 2-grams "a b"x3 "b a"x2 -> top 9/11, dup 15/11;
      // 3-grams "a b a"x2 "b a b"x2 -> top (2,"a b a") 10/11, dup 20/11;
      // 4-grams "a b a b"x2 "b a b a"x1 -> top 14/11, dup 14/11
      (1L, 2) -> (r4(9.0 / 11), r4(15.0 / 11)),
      (1L, 3) -> (r4(10.0 / 11), r4(20.0 / 11)),
      (1L, 4) -> (r4(14.0 / 11), r4(14.0 / 11)),
      // doc 2: n_chars 7; ties at count 1 pick "x y" (asc) -> 3/7; dup 0
      (2L, 2) -> (r4(3.0 / 7), 0.0),
      (2L, 3) -> (r4(5.0 / 7), 0.0),
      (2L, 4) -> (1.0, 0.0),
      (3L, 2) -> (0.0, 0.0), (3L, 3) -> (0.0, 0.0), (3L, 4) -> (0.0, 0.0),
      (4L, 2) -> (0.0, 0.0), (4L, 3) -> (0.0, 0.0), (4L, 4) -> (0.0, 0.0),
      // doc 6: n_chars 8; 2-gram tie "a bb"(4) vs "bb ccc"(6): the asc
      // pick is the SHORT one -> 4/8, not 6/8 (pins the tiebreak)
      (6L, 2) -> (0.5, 0.0),
      (6L, 3) -> (1.0, 0.0),
      (6L, 4) -> (0.0, 0.0))
    assert(got == want, s"got $got\nwant $want")
  }

  test("oov rate: hand corpus pins the top-V cut (total-order ties), the " +
       "oov split, and the all-integer output") {
    import spark.implicits._
    // frequencies: the=3, cat=2, dog=2, emu=1, fox=1 → vocabSize=2 keeps
    // (the, cat): dog ties cat on count and loses the word tiebreak
    val docs = Seq(
      (1L, "the cat the dog"),
      (2L, "cat dog the emu"),
      (3L, "fox")).toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(docs, vocabSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 4L, 1L), (2L, 4L, 2L), (3L, 1L, 1L)), got.toString)
    // vocab covering everything → zero oov anywhere
    val full = TextAnalysis.oovRate(docs, vocabSize = 100).collect()
    assert(full.forall(_.getLong(2) == 0L))
  }
}
