package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det.round4
import graft.util.{FanOut, TextNorm}

/** Text analysis for training-data curation: language ID, quality scoring,
  * token counting, fingerprinting. All pure per-row `functions._`
  * expressions — fully codegen'd, zero shuffles (the scan is the only
  * stage), so throughput is scan-bound at any scale.
  */
object TextAnalysis {

  private val words = TextNorm.words(col("text"))
  private val distinctWords = TextNorm.distinctWords(col("text"))

  /** (doc_id, w1…wn, tf) — per-doc n-gram frequencies via the in-row
    * kernel (r18, [[graft.functions.NGramCounts]]): every occurrence of
    * a doc's n-gram lives in the same input row, so the former
    * explode → filter(non-empty sides) → groupBy(doc_id, w…).count()
    * opening — a full token-scale Exchange shared by BM25, the
    * perplexity ladder, and TF-IDF — is a per-row count. Bit-equal
    * frequencies (spec-pinned); grams with an empty side skip, rows
    * under n tokens yield nothing, exactly the old guards. */
  private def ngramTf(documents: DataFrame, n: Int): DataFrame = {
    val fields = (1 to n).map(i => col(s"e.w$i").as(s"w$i"))
    documents.select(col("doc_id"),
        explode(graft.functions.TermFunctions.ngramCounts(words, n)).as("e"))
      .select(col("doc_id") +: fields :+ col("e.tf").as("tf"): _*)
  }

  /** Tiny per-language function-word lexicons for the n-gram/stopword
    * heuristic. Classifier = argmax of distinct-word overlap, ties broken
    * by language-name order. */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "not", "with", "to"),
    "es" -> Seq("el", "la", "de", "y", "es", "no", "con", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "pas", "avec", "un"),
  )

  def langId(documents: DataFrame): DataFrame = {
    val hitCols = lexicons.map { case (l, lex) =>
      size(array_intersect(distinctWords, array(lex.map(lit): _*))).as(s"hits_$l")
    }
    val best = greatest(lexicons.map { case (l, _) => col(s"hits_$l") }: _*)
    // when-chain in lexicon order: the first language hitting the max wins.
    val chain = lexicons.reverse.foldLeft(lit("und"): Column) { case (e, (l, _)) =>
      when(col(s"hits_$l") === best && best > 0, l).otherwise(e)
    }
    documents.select((col("doc_id") +: hitCols): _*)
      .withColumn("predicted_lang", chain)
      .orderBy("doc_id")
  }

  /** Per-language word pools for the TRAINED lang-ID rig (public
    * function words; shared by the driver query, its DuckDB oracle, and
    * the accuracy spec so the planted corpus can never drift between
    * them). Italian is deliberately a language [[lexicons]] does NOT
    * cover: the lexicon heuristic structurally cannot name it (it
    * answers from a fixed 4-language menu), while the trained model
    * learns it from labels alone — the measurable gap the model
    * exists to close (a real crawl is mostly languages any hand
    * lexicon misses; CCNet/fastText cover 170+ the same way). */
  val langIdRigPools: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "auch", "wenn", "aber", "zeit"),
    "en" -> Seq("the", "a", "of", "and", "is", "not", "with", "to",
      "also", "when", "but", "time"),
    "es" -> Seq("el", "la", "de", "y", "es", "no", "con", "un",
      "tambien", "cuando", "pero", "tiempo"),
    "fr" -> Seq("le", "la", "de", "et", "est", "pas", "avec", "un",
      "aussi", "quand", "mais", "temps"),
    "it" -> Seq("il", "lo", "di", "e", "che", "non", "con", "un",
      "anche", "quando", "ma", "tempo"),
  )

  /** TRAINED language ID (r16 — [[langId]]'s lexicon intersection is a
    * driver-query signal, not a production classifier: it can only
    * answer from its hand-listed languages, and a real crawl is mostly
    * languages no lexicon covers): a multinomial Naive Bayes over
    * character BIGRAMS — langid.py's published design (Lui & Baldwin
    * 2012: char/byte n-gram counts under NB are the classic standalone
    * langid baseline; fastText's langid uses the same feature family
    * under a linear model). Training needs only a labeled frame
    * (`labelCol`) — fixture corpora, or [[langId]]'s own confident
    * rows as weak supervision — gated to the `trainGate` split; every
    * doc (train and held-out alike) is scored.
    *
    * Engine portability is the D56 micro-nat discipline — ONE rounding
    * point: each (language, bigram TYPE)'s Laplace-smoothed log
    * probability ln((c+1)/(N_lang+V)) (V = distinct train bigrams;
    * unseen bigrams take the ln(1/(N_lang+V)) default; class priors
    * ln(docs_lang/docs_train)) rounds once to integer micro-nats —
    * every operand an explicit double, the ratio left-associated —
    * then per-(doc, language) scores are EXACT integer sums
    * (tf · unats, associative, partitioning-independent) and argmax
    * breaks ties on language asc: the whole report hash-adjudicates.
    *
    * Scale shape: training is two gram-scale aggregations (doc-term
    * and class-term counts — the model table is vocabulary-scale,
    * |bigram types| × |languages|); scoring joins the per-doc bigram
    * frequencies against the model per candidate language, never
    * collecting anything corpus-scale (the only driver-visible object
    * is the plan). The candidate set is the labels seen in training —
    * at this layout scoring costs |doc-bigram rows| × L; a 170-language
    * deployment would pivot the model to one unats-vector per bigram
    * (same math, one join instead of L), the documented next rung.
    * Output: (doc_id, <labelCol>, predicted_lang, score_unats,
    * is_train) for every document. */
  def langIdModel(documents: DataFrame, labelCol: String = "lang",
                  trainGate: Column =
                    substring(md5(col("doc_id").cast("string")), 1, 1)
                      < lit("d")): DataFrame = {
    val docs = documents.select(col("doc_id"), col(labelCol).as("lang"),
      lower(col("text")).as("__t"), trainGate.as("__train"))
    val t = col("__t")
    // r18: per-doc char-bigram frequencies in-row (graft_ngram_counts
    // over the gram array) — the (doc, gram) token-scale Exchange is
    // gone, and the class-gram counts aggregate one row per DISTINCT
    // (doc, gram), summing tf (bit-equal to counting occurrences).
    val gramArr = when(length(t) >= 2,
        transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    val counted = docs.select(col("doc_id"), col("lang"), col("__train"),
        explode(graft.functions.TermFunctions.ngramCounts(gramArr, 1)).as("e"))
      .select(col("doc_id"), col("lang"), col("__train"),
        col("e.w1").as("gram"), col("e.tf").as("tf"))
    val tf = counted.select("doc_id", "gram", "tf")
    // model tables, train split only
    val cg = counted.filter(col("__train"))
      .groupBy(col("lang").as("cand"), col("gram"))
      .agg(sum("tf").as("c"))
    val totals = cg.groupBy("cand").agg(sum("c").as("n"))
    val vocab = cg.agg(countDistinct("gram").as("v"))
    // the single rounding point: explicit doubles, left-associated
    // ratio, one ln, one round to micro-nats — identical IEEE sequence
    // in both engines
    def unatsOf(num: Column, den: Column): Column =
      round(log(num / den) * 1e6, 0).cast("long")
    val model = cg.join(totals, Seq("cand")).crossJoin(broadcast(vocab))
      .select(col("cand"), col("gram"),
        unatsOf(col("c").cast("double") + lit(1.0),
          col("n").cast("double") + col("v").cast("double")).as("unats"))
    val defaults = totals.crossJoin(broadcast(vocab))
      .select(col("cand"),
        unatsOf(lit(1.0),
          col("n").cast("double") + col("v").cast("double")).as("d_unats"))
    val trainDocs = docs.filter(col("__train"))
    val priors = trainDocs.groupBy(col("lang").as("cand"))
      .agg(count(lit(1)).as("dl"))
      .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("dt"))))
      .select(col("cand"),
        unatsOf(col("dl").cast("double"), col("dt").cast("double"))
          .as("prior_unats"))
    val cands = priors.select("cand")
    // score: per-doc bigram frequencies x candidate set, unseen grams
    // on the per-language default; exact integer sums throughout
    val gs = tf.crossJoin(broadcast(cands))
      .join(model, Seq("cand", "gram"), "left")
      .join(broadcast(defaults), Seq("cand"))
      .groupBy("doc_id", "cand")
      .agg(sum(col("tf") * coalesce(col("unats"), col("d_unats"))).as("g"))
    val scored = docs.select(col("doc_id"), col("lang"), col("__train"))
      .crossJoin(broadcast(priors))
      .join(gs, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("lang"), col("__train"), col("cand"),
        (col("prior_unats") + coalesce(col("g"), lit(0L))).as("total"))
    scored.groupBy("doc_id", "lang", "__train")
      .agg(min(struct((-col("total")).as("ns"), col("cand"))).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.cand").as("predicted_lang"),
        (-col("b.ns")).as("score_unats"),
        col("__train").as("is_train"))
      .orderBy("doc_id")
  }

  /** WEAK-SUPERVISED trained language ID (r17, VERDICT #1 — the
    * bootstrap that lets the SHIPPED pipeline run the trained model
    * with no labeled data, the way `quality_classifier` bootstraps
    * from heuristic gates): the lexicon heuristic's CONFIDENT calls
    * become training labels — a doc labels as [[langId]]'s argmax when
    * its best distinct-hit count reaches `minHits` (ties break in
    * lexicon order, exactly the heuristic's chain) — and
    * [[langIdModel]] trains on those rows and scores EVERY doc. The
    * model then classifies docs the heuristic cannot call (zero or
    * sub-threshold hits → 'und' under the heuristic) from their
    * character bigrams; what it cannot do is NAME a language no
    * lexicon labels — that needs a labeled frame through
    * [[langIdModel]] directly, the pluggable-stage path the curation
    * funnel exposes. Same determinism as D83 (micro-nat single
    * rounding point, exact integer sums, total-order argmax), so the
    * whole weak chain hash-adjudicates. Scale: the labeling pass is
    * scan-bound; everything after is [[langIdModel]]'s two gram-scale
    * aggregations + broadcast-model scoring. */
  def langIdWeak(documents: DataFrame, minHits: Int = 3): DataFrame = {
    val hitCols = lexicons.map { case (l, lex) =>
      size(array_intersect(distinctWords, array(lex.map(lit): _*)))
        .as(s"hits_$l")
    }
    val best = greatest(lexicons.map { case (l, _) => col(s"hits_$l") }: _*)
    val chain = lexicons.reverse.foldLeft(lit("und"): Column) {
      case (e, (l, _)) => when(col(s"hits_$l") === best && best > 0, l)
        .otherwise(e)
    }
    val labeled = documents
      .select(col("doc_id") +: col("text") +: hitCols: _*)
      .withColumn("__lbl", when(best >= minHits, chain))
      .select(col("doc_id"), col("text"), col("__lbl"))
    langIdModel(labeled, "__lbl", trainGate = col("__lbl").isNotNull)
  }

  /** [[langIdModel]] at the WIDE model layout — the 170-language rung
    * that row's scaladoc names: the model pivots to ONE micro-nat
    * VECTOR per bigram (candidate languages in sorted order, the
    * vector index), so scoring joins each doc-bigram row ONCE instead
    * of fanning the tf table ×L through the model join; the per-index
    * expansion happens AFTER the join, map-side, and the partial
    * aggregate shrinks it to |docs|·L before the only exchange. The
    * math is bit-identical (the driver twin `lang_id_model_w` shares
    * `lang_id_model`'s oracle verbatim; the spec asserts row equality
    * with the narrow layout). Candidate labels, totals, and priors are
    * LABEL-scale (≤ a few hundred) and collect into literals — the
    * centroid-seed exception class, never corpus-scale. */
  def langIdModelWide(documents: DataFrame, labelCol: String = "lang",
                      trainGate: Column =
                        substring(md5(col("doc_id").cast("string")), 1, 1)
                          < lit("d")): DataFrame = {
    val docs = documents.select(col("doc_id"), col(labelCol).as("lang"),
      lower(col("text")).as("__t"), trainGate.as("__train"))
    val t = col("__t")
    // r18: in-row char-bigram counts (see langIdModel) — same kernel,
    // same bit-equal frequencies, no (doc, gram) exchange
    val gramArr = when(length(t) >= 2,
        transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    val counted = docs.select(col("doc_id"), col("lang"), col("__train"),
        explode(graft.functions.TermFunctions.ngramCounts(gramArr, 1)).as("e"))
      .select(col("doc_id"), col("lang"), col("__train"),
        col("e.w1").as("gram"), col("e.tf").as("tf"))
    val tf = counted.select("doc_id", "gram", "tf")
    val cg = counted.filter(col("__train"))
      .groupBy(col("lang").as("cand"), col("gram"))
      .agg(sum("tf").as("c"))
    // label-scale driver constants: totals/vocab/priors (bounded by the
    // language count, the documented collect exception class)
    val totals: Map[String, Long] = cg.groupBy("cand").agg(sum("c").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val v: Long = cg.agg(countDistinct("gram")).collect()(0).getLong(0)
    val trainDocs = docs.filter(col("__train"))
    val dl: Map[String, Long] = trainDocs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dt: Long = dl.values.sum
    val cands: Seq[String] = totals.keys.toSeq.sorted
    // the driver-side twin of the engine chain: same IEEE ops, same
    // HALF_UP rounding (Spark's round(x, 0) semantics)
    def unatsOf(num: Double, den: Double): Long =
      BigDecimal(math.log(num / den) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val defaults: Seq[Long] =
      cands.map(c => unatsOf(1.0, totals(c).toDouble + v.toDouble))
    val priors: Seq[Long] =
      cands.map(c => unatsOf(dl(c).toDouble, dt.toDouble))
    val candsLit = typedlit(cands)
    val defaultsLit = typedlit(defaults)
    val priorsLit = typedlit(priors)
    // the single rounding point stays engine-side for the per-(cand,
    // gram) table — identical chain to the narrow layout
    val unats = round(log((col("c").cast("double") + lit(1.0)) /
      (col("__n").cast("double") + lit(v).cast("double"))) * 1e6, 0)
      .cast("long")
    val gramVecs = cg
      .withColumn("__n",
        element_at(typedlit(cands.map(totals)),
          array_position(candsLit, col("cand")).cast("int")))
      .withColumn("__u", unats)
      .groupBy("gram")
      .agg(map_from_entries(collect_list(struct(col("cand"), col("__u"))))
        .as("m"))
      .select(col("gram"),
        transform(sequence(lit(1), lit(cands.length)), i =>
          coalesce(element_at(col("m"), element_at(candsLit, i)),
            element_at(defaultsLit, i))).as("vec"))
    // one gram-keyed join; the ×L expansion is map-side AFTER it and
    // partial-aggregates to |docs|·L before the exchange
    val contrib = tf.join(gramVecs, Seq("gram"), "left")
      .select(col("doc_id"), col("tf"),
        coalesce(col("vec"), defaultsLit).as("vec"))
      .select(col("doc_id"),
        posexplode(transform(col("vec"), u => u * col("tf")))
          .as(Seq("idx", "gs")))
    // every doc compares every candidate (a gram-less doc still argmaxes
    // the priors) — a map-side explode of L indexes, never a join fan-out
    val byDocIdx = docs.select(col("doc_id"), col("lang"), col("__train"))
      .withColumn("idx", explode(sequence(lit(0), lit(cands.length - 1))))
    val withTotal = byDocIdx
      .join(contrib.groupBy("doc_id", "idx").agg(sum("gs").as("g")),
        Seq("doc_id", "idx"), "left")
      .select(col("doc_id"), col("lang"), col("__train"), col("idx"),
        (element_at(priorsLit, col("idx") + 1) + coalesce(col("g"), lit(0L)))
          .as("total"))
    withTotal.groupBy("doc_id", "lang", "__train")
      .agg(min(struct((-col("total")).as("ns"), col("idx"))).as("b"))
      .select(col("doc_id"), col("lang"),
        element_at(candsLit, col("b.idx") + 1).as("predicted_lang"),
        (-col("b.ns")).as("score_unats"),
        col("__train").as("is_train"))
      .orderBy("doc_id")
  }

  /** Quality scoring: structural ratios + a low-quality flag. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val len = length(col("text"))
    val nWords = size(words)
    val punct = len - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val digits = len - length(regexp_replace(col("text"), "[0-9]", ""))
    val stop = size(array_intersect(distinctWords,
      array(lexicons.flatMap(_._2).distinct.map(lit): _*)))
    documents.select(
      col("doc_id"),
      len.as("n_chars_actual"),
      nWords.as("n_words"),
      round4(length(regexp_replace(col("text"), " ", "")).cast("double") / nWords)
        .as("avg_word_len"),
      round4(punct.cast("double") / len).as("punct_ratio"),
      round4(digits.cast("double") / len).as("digit_ratio"),
      round4(stop.cast("double") / nWords).as("stopword_ratio"),
      when(len >= 100 && nWords >= 20, "ok").otherwise("low").as("quality_flag"),
    ).orderBy("doc_id")
  }

  /** Quality-filter CASCADE — the FineWeb/Gopher-style gauntlet as ONE
    * scan: each rule is a named predicate evaluated in declared order,
    * and a doc reports whether it passed plus the FIRST rule that killed
    * it — the report a curation run publishes so "we dropped 31% of
    * source X" decomposes into which rule did it (a pass/fail bit alone
    * is undebuggable at corpus scale). Rules here are the structural
    * signals [[qualityScore]] exposes (length, word count, mean word
    * length band, top-word repetition); thresholds are illustrative and
    * the mechanism is the point — all scan-bound codegen, no shuffle at
    * all (r18: the top-word share needs only the doc's OWN word mode, so
    * it reduces over the in-row counts array — the former (doc, word)
    * groupBy pair is gone from the plan). */
  def qualityCascade(documents: DataFrame): DataFrame = {
    val len = length(col("text"))
    val nWords = size(words)
    val awl = length(regexp_replace(col("text"), " ", "")).cast("double") /
      nWords
    // per-doc top-word share (the Gopher repetition signal); NULL when the
    // doc has no non-empty words — exactly the old left-join miss, so such
    // a doc still reports (it necessarily fails a structural rule)
    val tc = col("__tc")
    val topShare = when(size(tc) > 0,
      array_max(transform(tc, e => e.getField("tf"))).cast("double") /
        aggregate(tc, lit(0L), (a, e) => a + e.getField("tf")))
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (len < 100),
      "too_few_words" -> (nWords < 20),
      "word_len_out_of_band" -> (awl < 2.0 || awl > 12.0),
      "repetitive" -> (col("top_share") > 0.2))
    val firstFail = rules.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (name, cond)) => when(cond, lit(name)).otherwise(acc)
    }
    documents
      .withColumn("__tc", graft.functions.TermFunctions.ngramCounts(words, 1))
      .withColumn("top_share", topShare)
      .select(col("doc_id"),
        firstFail.isNull.as("passed"),
        coalesce(firstFail, lit("")).as("first_fail"),
        round4(col("top_share")).as("top_share"))
    // no presentation sort — corpus-sized output; the gate lexsorts rows
  }

  /** Token counting: whitespace tokens, a BPE-ish regex segmentation, and
    * the chars/4 heuristic LLM-token estimate. */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(words).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).as("bpe_tokens"),
      TextNorm.estTokens(col("text")).as("est_llm_tokens"),
    ).orderBy("doc_id")

  /** Rolling-window fingerprint (winnowing-style): hash every sliding
    * `window`-char substring and keep the k smallest — robust to small
    * edits anywhere in the document (only windows touching the edit
    * change), unlike the whole-document digest. Declarative
    * sequence+transform, stays in codegen.
    *
    * The default hasher is `xxhash64`: an 8-byte long per window instead of
    * a 32-char md5 hex string — no per-window hex allocation, and the k-min
    * selection sorts longs, ~10x cheaper at corpus scale with the same
    * winnowing semantics (any uniform hash selects a uniform window
    * sample). `hasher` is pluggable so the md5 variant remains available
    * where a cross-engine-reproducible fingerprint matters (DuckDB has no
    * xxhash64 builtin). */
  def rollingFingerprint(documents: DataFrame, window: Int = 8, k: Int = 4,
                         hasher: Option[Column => Column] = None): DataFrame = {
    val len = length(col("text"))
    // Default (None) = xxhash64 longs selected with the native ArrayKMin
    // kernel: one O(n·k) insertion pass instead of array_sort's full
    // O(n log n) sort-and-copy of every window hash per row. A custom
    // `hasher` (the md5 oracle twin) takes the generic sort path — its
    // hashes are strings.
    // r17: the default path's window hashes come from the one-pass
    // WindowHashes kernel — bit-identical to transform+substr+xxhash64
    // (spec-pinned) with zero per-window UTF8String copies
    val kmin = hasher match {
      case None => graft.functions.VectorFunctions.arrayKMin(
        graft.functions.VectorFunctions.windowHashes(col("text"), window), k)
      case Some(h) => slice(array_sort(transform(sequence(lit(1), len - window + 1),
        i => h(col("text").substr(i, lit(window))))), 1, k)
    }
    documents
      .filter(len >= window)
      .select(col("doc_id"),
        concat_ws(",", kmin).as("fingerprint"),
        (len - window + 1).as("n_windows"))
      .orderBy("doc_id")
  }

  /** Cross-document verbatim-overlap candidates — the scalable stand-in for
    * exact-substring dedup (suffix arrays don't distribute; winnowing does).
    * Per doc: hash every sliding `window`-char substring, then keep the
    * MINIMUM hash of each `winnow` consecutive window-hashes (Schleimer,
    * Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003). Any verbatim run of at least
    * window+winnow-1 chars shared by two documents is GUARANTEED to share a
    * selected hash, so the equi-join on the fingerprint hash finds every
    * long copy — candidates O(shared runs), never O(n²). Exception: hashes
    * whose document frequency exceeds `maxDf` are pruned first (corpus-wide
    * boilerplate would emit df²/2 pairs per hash; whole-document dup
    * cliques belong to minhash+CC, not here). Two projection boundaries
    * keep the window-hash array out of the selection lambda (HOF lambdas
    * get no subexpression elimination). */
  def verbatimOverlap(documents: DataFrame, window: Int = 16,
                      winnow: Int = 4, minShared: Int = 2,
                      maxDf: Int = 20,
                      hasher: Option[Column => Column] = None): DataFrame = {
    val len = length(col("text"))
    // The winnowing selection never leaves the row: one HOF computes the
    // window hashes, then the native SlidingMin kernel picks the min of
    // each `winnow` consecutive hashes (trailing windows clamp — their mins
    // are a subset-union of full-window picks, so the detection guarantee
    // is unaffected) and array_distinct dedupes per doc. Earlier shapes
    // both lost: a slice-inside-transform lambda re-evaluated the whole
    // hash array per position (no subexpression elimination in HOF
    // lambdas), and posexplode + a rows-between min window function
    // shuffled every (pos, hash) row — ~14 M rows at sf0.1 — just to
    // reduce back to the selected few.
    //
    // A custom `hasher` (the md5 oracle twin — detection math is
    // hash-agnostic) produces STRING hashes, which take a generic
    // slice-per-position selection (same clamped-window semantics as the
    // long-typed SlidingMin kernel, lexicographic min) — the documented
    // slower shape, acceptable on the twin's corpus slice.
    val h = hasher.getOrElse((c: Column) => xxhash64(c))
    // r17: default path hashes every window in one WindowHashes pass
    // (bit-identical to transform+substr+xxhash64, no per-window copies)
    val fp = documents.filter(len >= window + winnow - 1)
      .select(col("doc_id"),
        (hasher match {
          case None => graft.functions.VectorFunctions.windowHashes(
            col("text"), window)
          case Some(_) => transform(sequence(lit(1), len - window + 1),
            i => h(col("text").substr(i, lit(window))))
        }).as("hraw"))
      .select(col("doc_id"),
        explode(array_distinct(hasher match {
          case None => graft.functions.VectorFunctions.slidingMin(col("hraw"), winnow)
          case Some(_) => transform(sequence(lit(1), size(col("hraw"))),
            j => array_min(slice(col("hraw"), j, lit(winnow))))
        })).as("h"))
    // Document-frequency cap — the standard similarity-join guard: a hash
    // appearing in d documents emits d²/2 pairs, so boilerplate shared by
    // hundreds of docs turns the join quadratic while carrying no signal
    // (dup CLIQUES are minhash/CC territory, not verbatim-overlap's). The
    // df count rides a window over the ONE explicit hash exchange (which
    // also pins emit-stage parallelism against AQE coalescing and
    // co-partitions the pair join), so the fingerprint scan runs once —
    // a groupBy+join df filter would shuffle it twice and hash the corpus
    // twice.
    val kept = fp.repartition(col("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= maxDf)
      .select("doc_id", "h")
    kept.as("x").join(kept.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
    // pair-set output — no presentation sort (see Dedup.minhashLsh)
  }

  /** Repetition signals (the Gopher-rules family — Rae et al. 2021,
    * arXiv:2112.11446 §A1.1): the fraction of tokens taken by the single
    * most frequent word and the fraction of duplicate tokens; heavily
    * repetitive documents are the classic low-quality web-text signature.
    * Distributed as explode → (doc, word) counts → per-doc max/sum — two
    * map-side-combined shuffles, NOT a per-row O(len²) higher-order scan,
    * so million-token documents cost the same per token as short ones. */
  def repetitionScore(documents: DataFrame): DataFrame = {
    // r18: both "shuffles" were counting duplicates that live in one
    // row — the whole signal is now a per-row reduction over the in-row
    // counts array (skipEmpty = false: "" is a countable word here, as
    // the unfiltered explode had it). Zero exchanges.
    val counted = documents.select(col("doc_id"),
      graft.functions.TermFunctions.ngramCounts(words, 1, skipEmpty = false)
        .as("__tc"))
    counted.select(col("doc_id"),
        array_max(transform(col("__tc"), e => e.getField("tf"))).as("topn"),
        aggregate(col("__tc"), lit(0L), (a, e) => a + e.getField("tf"))
          .as("total"),
        size(col("__tc")).cast("long").as("n_distinct"))
      .select(col("doc_id"),
        round4(col("topn").cast("double") / col("total")).as("top_word_frac"),
        round4(lit(1.0) - col("n_distinct").cast("double") / col("total"))
          .as("dup_word_frac"))
      // flags compare the ROUNDED values so both engines see the same bits
      .withColumn("rep_flag",
        when(col("top_word_frac") > 0.2 || col("dup_word_frac") > 0.5,
          "repetitive").otherwise("ok"))
      .orderBy("doc_id")
  }

  /** The MassiveText quality gauntlet (Rae et al. 2021 §A1.1 — the
    * published rule set Gopher/Chinchilla corpora shipped with), as a
    * named-rule cascade like [[qualityCascade]] but with EVERY rule an
    * INTEGER comparison — thresholds stated as cross-multiplied exact
    * integers (mean word length ∈ [3,10] ⇔ 3·n ≤ Σchars ≤ 10·n;
    * symbol ratio ≤ 0.1 ⇔ 10·symbols ≤ n; alpha fraction ≥ 0.8 ⇔
    * 5·alpha ≥ 4·n), so the whole report hash-adjudicates with not one
    * float op (D45's word-length band still divides doubles). Rules in
    * declared order, first kill reported:
    *  1. too_few_words      n_words < 50
    *  2. too_many_words     n_words > 100000
    *  3. word_len_out_of_band  mean word length outside [3, 10]
    *  4. symbol_ratio       ('#' chars + "..." occurrences) > 0.1·n_words
    *  5. low_alpha_fraction words containing a letter < 0.8 of words
    *  6. too_few_stopwords  < 2 occurrences of the MassiveText stop list
    *     (the, be, to, of, and, that, have, with)
    * Entirely scan-bound — every signal is per-row string arithmetic,
    * NO shuffle at all before the presentation sort (the repetition
    * rules live in [[qualityCascade]]/[[repetitionNgrams]], which pay
    * their word shuffles; this is the pure gate). Wordless docs fail
    * rule 1; nothing divides, so there is no zero-denominator case. */
  def gopherQuality(documents: DataFrame): DataFrame = {
    val stopList = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val w = filter(words, x => x =!= "")
    val nWords = size(w).cast("long")
    val sumChars = length(array_join(w, "")).cast("long")
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEllipsis = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val nAlpha = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
    val nStop = size(filter(w, x => x.isin(stopList: _*))).cast("long")
    val ff = when(nWords < 50, "too_few_words")
      .when(nWords > 100000L, "too_many_words")
      .when(sumChars < nWords * 3 || sumChars > nWords * 10,
        "word_len_out_of_band")
      .when((nHash + nEllipsis) * 10 > nWords, "symbol_ratio")
      .when(nAlpha * 5 < nWords * 4, "low_alpha_fraction")
      .when(nStop < 2, "too_few_stopwords")
      .otherwise(null)
    documents.select(col("doc_id"), nWords.as("n_words"),
        ff.isNull.as("passed"), coalesce(ff, lit("")).as("first_fail"))
      .orderBy("doc_id")
  }

  /** Gopher-style n-gram repetition CHARACTER fractions (Rae et al. 2021
    * §A1.1, the filter family D18's word-level signals approximate from
    * above): per doc and per n ∈ `ns`, the fraction of normalized-text
    * characters covered by (a) the most frequent word n-gram
    * (`top_frac`, count × chars / n_chars — Gopher's exact definition
    * for the top 2-4-gram signal) and (b) ALL duplicated n-grams
    * (`dup_frac`, Σ_{count≥2} count × chars / n_chars — duplicate
    * n-gram MASS: overlapping occurrences double-count, so it
    * upper-bounds Gopher's span-union coverage and can exceed 1 on
    * degenerate loops; the mass form is the associative one — exact
    * span-union coverage needs order-dependent per-position marking
    * that doesn't partial-aggregate, and a threshold screen ranks the
    * same either way). These catch looping boilerplate D18's unigram
    * view cannot (a doc cycling "click here to subscribe" repeats no
    * single WORD unusually often). "Top" is the (count desc, gram asc)
    * TOTAL order, so ties cannot flip chars between engines; fractions
    * are round4'd ratios of exact integers.
    *
    * Shape: the per-n gram frames union into ONE corpus-scale exchange
    * (groupBy (doc, n, gram) with map-side combine — same budget as
    * D45's word shuffle, ×|ns| volume), then a second metadata-scale
    * aggregation folds top and dup per (doc, n): the top pick rides a
    * `min(struct(-count, gram))` — no window sort, partial-agg
    * friendly. Every (doc, n) reports (zeros when the doc is shorter
    * than n words), so the report is a total screen. */
  def repetitionNgrams(documents: DataFrame,
                       ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    val wNonEmpty = filter(words, w => w =!= "")
    val base = documents.select(col("doc_id"), wNonEmpty.as("w"))
      .withColumn("n_chars", length(array_join(col("w"), " ")))
    // r18: per-(doc, n) gram frequencies in-row (graft_ngram_counts) —
    // the gram-scale groupBy exchange is gone; the gram STRING (the
    // top-pick tie-break and the char arithmetic need it) reconstructs
    // from the counted tuple, bit-equal to the exploded concat_ws form
    val counts = ns.map { n =>
      base.filter(size(col("w")) >= n)
        .select(col("doc_id"), lit(n).as("n"), col("n_chars"),
          explode(graft.functions.TermFunctions.ngramCounts(col("w"), n))
            .as("e"))
        .select(col("doc_id"), col("n"), col("n_chars"),
          concat_ws(" ", (1 to n).map(j => col(s"e.w$j")): _*).as("gram"),
          col("e.tf").as("c"))
    }.reduce(_ unionByName _)
    // min(struct(-c, gram)) IS the (c desc, gram asc) argmin — one
    // partial-aggregable fold instead of a window sort over every gram
    val agg = counts.groupBy("doc_id", "n", "n_chars").agg(
      min(struct((-col("c")).as("nc"), col("gram").as("g"))).as("top"),
      coalesce(sum(when(col("c") >= 2, col("c") * length(col("gram")))),
        lit(0L)).as("dup_chars"))
      .select(col("doc_id"), col("n"), col("n_chars"),
        ((-col("top.nc")) * length(col("top.g"))).as("top_chars"),
        col("dup_chars"))
    // every (doc, n) reports — docs shorter than n words score zero
    val universe = documents.select(col("doc_id"),
        length(array_join(wNonEmpty, " ")).as("n_chars"))
      .select(col("doc_id"), col("n_chars"),
        explode(typedLit(ns)).as("n"))
    universe.join(agg.drop("n_chars"), Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n").cast("int").as("n"),
        when(col("n_chars") > 0, round4(
          coalesce(col("top_chars"), lit(0L)).cast("double") / col("n_chars")))
          .otherwise(0.0).as("top_frac"),
        when(col("n_chars") > 0, round4(
          coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n_chars")))
          .otherwise(0.0).as("dup_frac"))
      .orderBy("doc_id", "n")
  }

  /** PII scrubbing: masks emails, IPv4 addresses, and phone-like digit
    * runs with typed placeholders — the standard redaction pass before a
    * corpus ships to training. A chain of three regexp_replace calls →
    * fully codegen'd, scan-bound, zero shuffles. Patterns deliberately stay
    * in the ASCII regex subset that Java regex (Spark) and RE2 (the DuckDB
    * oracle) interpret identically, so the pass is engine-portable. IP runs
    * before phone so dotted quads aren't half-eaten by the digit-run rule. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** The redaction expression itself — reusable inside composed pipelines
    * ([[Curation.curationPipeline]]) as well as the standalone query. */
  def piiClean(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      emailRe, "<EMAIL>"), ipv4Re, "<IP>"), phoneRe, "<PHONE>")

  def piiScrub(documents: DataFrame): DataFrame = {
    val clean = piiClean(col("text"))
    documents.select(col("doc_id"), clean.as("clean_text"),
        (col("text") =!= clean).as("pii_found"))
      .orderBy("doc_id")
  }

  /** Corpus-wide exact heavy hitters: top-k words by total frequency. One
    * shuffle (map-side partial counts per distinct word), and the top-k
    * plans as TakeOrderedAndProject — bounded per-partition heaps, never a
    * global sort. At 100 TB the shuffle still carries one row per DISTINCT
    * word; when that itself is too much, use `heavyHittersApprox`. */
  def heavyHitters(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(words).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)

  /** Out-of-vocabulary rate per document against the corpus's own top-V
    * vocabulary — the tokenizer-fit / domain-shift curation signal (a doc
    * whose words mostly miss the vocab is noise, another language, or
    * exactly the long-tail data a mix might want more of). The vocab cut
    * is a distributed TakeOrderedAndProject under the TOTAL order
    * (count desc, word asc — the trainBpeMerges convention), so any
    * partitioning cuts identically; the vocab then broadcasts (V rows)
    * and the per-doc screen is one scan-side hash lookup + one groupBy —
    * two corpus shuffles total (word freq, per-doc agg). Integer outputs
    * only (n_words, n_oov): ratio rounding never enters the compare. */
  def oovRate(documents: DataFrame, vocabSize: Int = 1000): DataFrame = {
    // r18: per-doc term frequencies in-row — the vocab cut aggregates and
    // the per-doc screen groups one row per DISTINCT (doc, word) instead
    // of one per token; counts ride `tf` so the values are unchanged
    val docWords = ngramTf(documents, 1).withColumnRenamed("w1", "word")
    val vocab = docWords
      .groupBy("word").agg(sum("tf").as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(vocabSize)
      .select(col("word"), lit(1).as("in_vocab"))
    docWords
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_words"),
           coalesce(sum(when(col("in_vocab").isNull, col("tf"))), lit(0L))
             .as("n_oov"))
      .orderBy("doc_id")
  }

  /** Sublinear heavy hitters: a single Misra-Gries summary aggregate
    * (functions/MisraGriesAgg.scala) — O(k) state per partition, only
    * k-counter summaries cross the wire, no per-distinct-word shuffle row.
    * Guaranteed to contain every word with frequency > n/(summaryK+1);
    * estimated counts are lower bounds within n/(summaryK+1) of truth
    * (spec-verified vs exact counts). */
  def heavyHittersApprox(documents: DataFrame, summaryK: Int = 64,
                         topN: Int = 20): DataFrame =
    documents
      .select(explode(words).as("word"))
      .filter(col("word") =!= "")
      .agg(graft.functions.MisraGriesAgg.heavyHitters(col("word"), summaryK).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("word"), col("e.est_count"))
      .orderBy(col("est_count").desc, col("word"))
      .limit(topN)

  /** PER-GROUP heavy hitters from one pass: a Misra-Gries summary per
    * language — the sketch is an aggregate, so grouping it is free
    * compositionality: one shuffle keyed by lang, k-counter partials
    * map-side combined per group, and per-group state stays O(k) however
    * hot a language's vocabulary is. The per-language vocabulary report a
    * curation pipeline reads daily, at corpus scale with no per-word
    * shuffle row (the exact form shuffles one row per distinct
    * (lang, word)). Top-n per group via the bounded-heap
    * [[graft.plans.TopKPerKey]] node — no window sort.
    *
    * Semantics: TOTAL token frequency (duplicate occurrences within a doc
    * count), matching [[heavyHitters]]/[[heavyHittersApprox]] — not
    * doc-frequency. The MG bound est ∈ [true − n_group/(k+1), true] holds
    * against this stream (spec: ApproxSpec "per-group heavy hitters"). */
  /** EXACT per-language top-n words — the oracle-adjudicated twin of
    * [[heavyHittersPerGroup]] (same total-token-frequency semantics): one
    * (lang, word) partial-agg shuffle, then top-n per group via the
    * bounded-heap [[graft.plans.TopKPerKey]] node (no window sort). This
    * is the form that still shuffles one row per distinct (lang, word);
    * the Misra-Gries twin is the sublinear path when that is too much. */
  def heavyHittersPerGroupExact(documents: DataFrame, topN: Int = 5): DataFrame = {
    val counts = documents
      .select(col("lang"), explode(words).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    graft.plans.TopKPerGroup(counts, Seq("lang"),
        Seq("n" -> false, "word" -> true), topN)
      .orderBy("lang", "word")
  }

  def heavyHittersPerGroup(documents: DataFrame, summaryK: Int = 64,
                           topN: Int = 5): DataFrame = {
    val perLang = documents
      .select(col("lang"), explode(words).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("lang"))
      .agg(graft.functions.MisraGriesAgg.heavyHitters(col("word"), summaryK).as("hh"))
      .select(col("lang"), explode(col("hh")).as("e"))
      .select(col("lang"), col("e.item").as("word"), col("e.est_count"))
    graft.plans.TopKPerGroup(perLang, Seq("lang"),
        Seq("est_count" -> false, "word" -> true), topN)
      .orderBy("lang", "word")
  }

  /** Point-frequency estimates from ONE Count-Min sketch pass
    * (functions/CountMinAgg.scala): the d×w grid aggregates map-side and
    * only d·w longs cross the wire — the "how hot is this item" companion
    * to the Misra-Gries "which items are hot" summary. Probed here for the
    * exact top-k words so the estimates sit next to their ground truth
    * (spec asserts est ≥ true always and the CMS overestimate bound);
    * rows-only in the driver (no xxhash64 in the oracle engine). */
  def wordFreqCms(documents: DataFrame, k: Int = 20,
                  depth: Int = 4, width: Int = 2048): DataFrame = {
    val tok = documents
      .select(explode(words).as("word"))
      .filter(col("word") =!= "")
    val sk = tok.agg(
      graft.functions.CountMinAgg.sketch(col("word"), depth, width).as("sk"))
    heavyHitters(documents, k)
      .crossJoin(broadcast(sk))
      .select(col("word"), col("n"),
        graft.functions.CountMinAgg.estimate(col("sk"), col("word"), depth, width)
          .as("est_n"))
      .orderBy(col("n").desc, col("word"))
  }

  /** TF-IDF top terms per document. tf shuffles once on (doc, word); df
    * reuses tf's exchange (it aggregates tf's one-row-per-(doc,word)
    * output, so the (doc,word) exchange subtree is shared → Spark plans a
    * ReusedExchange); the corpus size joins in as a broadcast 1-row agg.
    * Ranking happens on the ROUNDED score (round4) so both engines break
    * ties identically; word asc is the final tiebreak. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val tf = ngramTf(documents, 1).withColumnRenamed("w1", "word")
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "word", "tfidf", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Unigram language-model perplexity scoring — the CCNet-style "does this
    * look like natural text under a corpus LM" quality signal (CCNet uses a
    * KenLM 5-gram; the unigram model is the same pipeline shape with the
    * model trained in-engine). Two stages, both distributed:
    *
    *  1. TRAIN: corpus unigram counts `c_w` — explode → (doc, word) partial
    *     counts → per-word totals. The word-count aggregation REUSES the
    *     (doc_id, word) exchange the scoring stage needs anyway (same
    *     ReusedExchange shape as [[tfidfTopTerms]]).
    *  2. SCORE: each doc's mean negative log-likelihood in nats,
    *     `avg_nll = Σ_w tf_dw · −ln((c_w+1)/(N+V)) / Σ_w tf_dw` (add-one
    *     smoothing keeps the form total even when scoring against a model
    *     trained elsewhere). The model joins on `word` — a hash join that
    *     broadcasts when the vocabulary is small and shuffles when a 100 TB
    *     vocabulary isn't; N and V ride one broadcast row either way.
    *
    * High `avg_nll` = improbable text (gibberish, boilerplate soup); the
    * flag thresholds on the ROUNDED score so both engines flag identically. */
  def perplexityScore(documents: DataFrame, flagNats: Double = 7.0): DataFrame = {
    val tf = ngramTf(documents, 1).withColumnRenamed("w1", "word")
    val cw = tf.groupBy("word").agg(sum("tf").as("c"))
    val tot = cw.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val avgNll = round4(col("nll") / col("n_tokens"))
    tf.join(cw, "word")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
           sum(col("tf") * -log((col("c") + 1).cast("double") /
                                (col("n") + col("v")))).as("nll"))
      .select(col("doc_id"), col("n_tokens"), avgNll.as("avg_nll"),
              when(avgNll > flagNats, "high").otherwise("ok").as("ppl_flag"))
      .orderBy("doc_id")
  }

  /** HTML → text extraction (r14 — the step between a crawl archive
    * and every text operator here: a WARC response body is HTML, and
    * C4/CCNet-style pipelines strip it to visible text before any
    * quality/dedup stage). A deterministic regexp chain (every pattern
    * RE2-compatible — no backreferences — so the chain is portable to
    * RE2-based engines verbatim if ever restated there; the driver
    * oracle instead states the EXPECTED visible text in closed form,
    * which adjudicates the whole chain end-to-end):
    *  1. drop <script>/<style> elements WITH their content (case-
    *     insensitive, dot-matches-newline, non-greedy);
    *  2. drop comments;
    *  3. strip remaining tags;
    *  4. decode numeric character references (&#233; / &#xE9;,
    *     bounded digits, invalid codepoints literal — r17), then the
    *     basic entities (&lt; &gt; &quot; &#39; &nbsp;,
    *     then &amp; LAST so "&amp;lt;" decodes to the literal "&lt;",
    *     not a second round) — decoding AFTER the tag strip, so an
    *     encoded "&lt;script&gt;" can never become a live element;
    *  5. collapse whitespace runs and trim.
    * STATED LIMITATION (the refusal-to-overclaim note): this is the
    * C4-grade extractor — a literal '>' inside an attribute value ends
    * the tag early, and no DOM/boilerplate heuristics run (trafilatura-
    * class extraction is a library seam, like the media codecs). */
  def extractHtmlText(html: Column): Column =
    visibleText(dropScriptStyleComments(html))

  /** Stages 1–2 of [[extractHtmlText]]: script/style elements WITH
    * their content, then comments. Shared with [[htmlMainText]], which
    * must run them BEFORE block segmentation (a commented-out block tag
    * is not a block boundary). */
  private def dropScriptStyleComments(html: Column): Column =
    regexp_replace(regexp_replace(
      regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script\\s*>", " "),
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " "),
      "(?s)<!--.*?-->", " ")

  /** One Unicode codepoint as a string, from its integer value — the
    * declarative `chr()` the numeric-reference decode needs (Spark's
    * `chr` is ASCII/Latin-1 only): the codepoint rendered as 4
    * big-endian bytes and decoded as UTF-32. Caller guarantees a valid
    * scalar value (the reference stage gates 0 < cp ≤ 0x10FFFF,
    * non-surrogate) — UTF-32 decode of a gated value cannot fail. */
  private def chrCodepoint(cp: Column): Column =
    decode(unhex(lpad(hex(cp), 8, "0")), "UTF-32")

  /** Numeric character references (`&#233;` / `&#xE9;`, r17 — decimal
    * capped at 7 digits, hex at 6: enough for every Unicode scalar, so
    * an unbounded digit run is literal text, not an overflow), decoded
    * declaratively: split keeps each candidate at a piece start
    * (lookahead — nothing is consumed), each piece decodes its own
    * leading reference or stays verbatim, and pieces re-join. Invalid
    * codepoints — 0, surrogates, past U+10FFFF — pass through
    * literally, the [[graft.functions.HtmlKernel]] twin's exact
    * stance. Runs BEFORE the named-entity passes so `&amp;#233;`
    * (no literal `&#` anywhere in it) keeps decoding to the text
    * `&#233;`, never to `é`. */
  private def decodeNumericRefs(c: Column): Column = {
    val pieces = split(c, "(?=&#)")
    array_join(transform(pieces, p => {
      val dec = regexp_extract(p, "^&#([0-9]{1,7});", 1)
      val hx = regexp_extract(p, "^&#[xX]([0-9a-fA-F]{1,6});", 1)
      val cp = when(dec =!= "", dec.cast("long"))
        .when(hx =!= "", conv(hx, 16, 10).cast("long"))
      val valid = cp.isNotNull && cp > 0 && cp <= 0x10FFFF &&
        !(cp >= 0xD800 && cp <= 0xDFFF)
      val refLen = when(dec =!= "", length(dec) + lit(3))
        .otherwise(length(hx) + lit(4))
      when(valid,
          concat(chrCodepoint(cp),
            p.substr(refLen + 1, length(p))))
        .otherwise(p)
    }), "")
  }

  /** Stages 3–5 of [[extractHtmlText]] (tag strip, entity decode —
    * numeric references first, named entities after, `&amp;` last —
    * whitespace collapse) — the per-FRAGMENT visible text, reused per
    * block by [[htmlMainText]]. */
  private def visibleText(frag: Column): Column = {
    val noTags = regexp_replace(frag, "(?s)<[^>]*>", " ")
    val num = decodeNumericRefs(noTags)
    val ent = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(num,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&nbsp;", " "), "&amp;", "&")
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** The block-level tags a text-density extractor segments on — the
    * jusText/trafilatura block vocabulary (inline tags like a/span/b
    * stay inside their block). */
  private val blockTagAlt =
    "(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|nav|footer|header|aside|section" +
      "|article|main|table|thead|tbody|tr|td|th|blockquote|form|pre)"

  /** Block-level boilerplate removal (r15 — the C4/CCNet step between
    * raw HTML and every text op: [[extractHtmlText]] keeps nav menus,
    * footers, and cookie banners, the chrome every page shares — text
    * that poisons downstream dedup and quality scores). jusText-style
    * classification, all-integer (the D58 discipline — no floats, so
    * the verdict is engine-portable bit-for-bit):
    *
    *  1. segment on block-level tags (lookahead split — each block
    *     starts at its opening tag; script/style/comments dropped
    *     FIRST so a commented-out `<div` is not a boundary);
    *  2. per block, over its VISIBLE text: word count `nw`, char count
    *     `nc`, and the chars of anchor-enclosed visible text `la`
    *     (the jusText link-density numerator);
    *  3. a block survives iff `nw >= minWords` (chrome is short: nav
    *     items, cookie buttons, headings) AND
    *     `la * 100 <= nc * maxLinkDensityPct` (chrome is link-dense:
    *     menus, footers, read-more rows) AND — only when a stopword
    *     list is supplied — `stop-count * 100 >= nw * minStopwordPct`
    *     (jusText's full gate; corpus-dependent, so OFF by default);
    *  4. optionally (jusText's "short heading near good" promotion,
    *     `promoteHeadings`): a `<h1>`–`<h6>` block too SHORT to pass
    *     on its own survives when the immediately FOLLOWING block is
    *     good — titles and section headings belong to the content they
    *     head. The link-density and stopword gates still apply (a
    *     link-farm heading is chrome whatever follows it);
    *  5. surviving blocks' visible text joins with single spaces.
    *
    * Everything is one codegen'd scan: split + higher-order filter/
    * transform over the block array — no explode, no shuffle, no UDF.
    * STATED LIMITATION: the same C4-grade HTML caveats as
    * [[extractHtmlText]] (a literal '>' inside an attribute ends the
    * tag early); thresholds are the classifier, not a DOM parse. */
  def htmlMainText(html: Column, maxLinkDensityPct: Int = 20,
                   minWords: Int = 4, minStopwordPct: Int = 0,
                   stopwords: Seq[String] = Nil,
                   promoteHeadings: Boolean = false): Column = {
    require(maxLinkDensityPct >= 0 && maxLinkDensityPct <= 100,
      s"maxLinkDensityPct must be a percentage, got $maxLinkDensityPct")
    val blocks = split(dropScriptStyleComments(html),
      s"(?i)(?=<$blockTagAlt\\b)")
    def gates(b: Column): (Column, Column, Column) = {
      val vis = visibleText(b)
      val ws = filter(split(vis, " "), w => w =!= "")
      val nw = size(ws)
      val linkVis = visibleText(array_join(
        regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a\\s*>"), lit(1)),
        " "))
      val lengthOk = nw >= minWords
      val linkOk = length(linkVis) * 100 <= length(vis) * maxLinkDensityPct
      val stopOk =
        if (stopwords.isEmpty || minStopwordPct <= 0) lit(true)
        else size(filter(ws, w => lower(w).isInCollection(stopwords))) *
          100 >= nw * minStopwordPct
      (lengthOk, linkOk, stopOk)
    }
    def good(b: Column): Column = {
      val (lengthOk, linkOk, stopOk) = gates(b)
      lengthOk && linkOk && stopOk
    }
    val kept =
      if (!promoteHeadings) filter(blocks, good _)
      else {
        // goodness materialized once per block; the promotion rule reads
        // its right neighbor via the index-taking filter lambda (get()
        // null-pads past the end — the last block has no successor)
        val goodArr = transform(blocks, good _)
        filter(blocks, (b, i) => {
          val (_, linkOk, stopOk) = gates(b)
          get(goodArr, i) ||
            (b.rlike(s"(?is)^<h[1-6]\\b") && linkOk && stopOk &&
              coalesce(get(goodArr, i + 1), lit(false)))
        })
      }
    trim(regexp_replace(
      array_join(transform(kept, b => visibleText(b)), " "), "\\s+", " "))
  }

  /** (doc_id, text) projection of [[htmlMainText]] over a crawl frame —
    * the boilerplate-free sibling of [[htmlToText]]. */
  def htmlToMainText(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.withColumn("text", htmlMainText(col(htmlCol))).drop(htmlCol)

  /** DOM-grade block-level boilerplate removal (r16 — the rung above
    * [[htmlMainText]], closing its stated limitation): blocks come from
    * the quote-aware tag-stack tokenizer
    * ([[graft.functions.HtmlKernel]] — a literal '>' inside an
    * attribute value no longer ends the tag early and leaks `y">` into
    * visible text, and a lone '<' before a non-letter is text), while
    * the CLASSIFICATION — the jusText length / link-density / stopword
    * gates and the heading promotion, thresholds identical to
    * [[htmlMainText]] — stays declarative over the returned block
    * array: filter/transform on (txt, la, hd) structs, no UDF, the
    * kernel one static call in the scan. On well-formed HTML the two
    * rungs agree block-for-block (spec-pinned), so the regex chain
    * remains the oracle twin on that subdomain; on quoted-'>' crawl
    * HTML only this one is right. */
  def domMainText(html: Column, maxLinkDensityPct: Int = 20,
                  minWords: Int = 4, minStopwordPct: Int = 0,
                  stopwords: Seq[String] = Nil,
                  promoteHeadings: Boolean = false): Column = {
    require(maxLinkDensityPct >= 0 && maxLinkDensityPct <= 100,
      s"maxLinkDensityPct must be a percentage, got $maxLinkDensityPct")
    val blocks = graft.functions.TextFunctions.htmlBlocks(html)
    def gates(b: Column): (Column, Column, Column) = {
      val vis = b.getField("txt")
      val ws = filter(split(vis, " "), w => w =!= "")
      val nw = size(ws)
      val lengthOk = nw >= minWords
      val linkOk = b.getField("la") * 100 <= length(vis) * maxLinkDensityPct
      val stopOk =
        if (stopwords.isEmpty || minStopwordPct <= 0) lit(true)
        else size(filter(ws, w => lower(w).isInCollection(stopwords))) *
          100 >= nw * minStopwordPct
      (lengthOk, linkOk, stopOk)
    }
    def good(b: Column): Column = {
      val (lengthOk, linkOk, stopOk) = gates(b)
      lengthOk && linkOk && stopOk
    }
    val kept =
      if (!promoteHeadings) filter(blocks, good _)
      else {
        val goodArr = transform(blocks, good _)
        filter(blocks, (b, i) => {
          val (_, linkOk, stopOk) = gates(b)
          get(goodArr, i) ||
            (b.getField("hd") && linkOk && stopOk &&
              coalesce(get(goodArr, i + 1), lit(false)))
        })
      }
    trim(regexp_replace(
      array_join(transform(kept, b => b.getField("txt")), " "),
      "\\s+", " "))
  }

  /** DOM-grade visible-text extraction — [[extractHtmlText]]'s sibling
    * on the [[graft.functions.HtmlKernel]] tokenizer: every block's
    * text, boilerplate kept (the extract step, not the classify step).
    * Same quote-awareness upgrade as [[domMainText]]. */
  def domText(html: Column): Column =
    trim(regexp_replace(
      array_join(transform(graft.functions.TextFunctions.htmlBlocks(html),
        b => b.getField("txt")), " "), "\\s+", " "))

  /** (doc_id, text) projection of [[domMainText]] over a crawl frame. */
  def domToMainText(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.withColumn("text", domMainText(col(htmlCol))).drop(htmlCol)

  /** (doc_id, text) from a crawl frame's HTML payload column — the
    * scan-bound projection that feeds the rest of the pipeline. */
  def htmlToText(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.withColumn("text", extractHtmlText(col(htmlCol))).drop(htmlCol)

  /** BM25 top-k retrieval (r14 — the inverted-index ranking every
    * retrieval-shaped curation step leans on: test-set mining /
    * retrieval-based contamination checks score each eval document
    * against the training corpus and audit its nearest neighbors, which
    * is exactly this op with `queries` = the eval slice; RAG corpus
    * QA uses the same shape): for each query document, the top-k corpus
    * documents by Okapi BM25 —
    *
    *   score(q, d) = Σ_{t ∈ q} ln(1 + (N − df + ½)/(df + ½)) ·
    *                 tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with the standard k1 = 1.2, b = 0.75 (both literals parse to the
    * same doubles in both engines). Engine-portable by the micro-unit
    * single-rounding-point discipline: each (term, doc) WEIGHT — one
    * left-associated double chain over integer inputs (tf, df, dl, N,
    * total tokens; avgdl never materializes as a float: dl/avgdl is
    * written dl·N/toklen) — rounds ONCE to integer micro-units, per-
    * (query, doc) scores are exact integer sums, and the top-k order
    * (score desc, doc_id asc) is total.
    *
    * Shape at scale: tf/dl/df aggregate from one corpus tokenization
    * (the weighted postings table is corpus-token-scale, 16 B/posting);
    * the 1-row stats broadcast; query terms join the postings on term —
    * the classic inverted-index probe, costing Σ_{t ∈ queries} df(t)
    * rows. `maxDf` is the stop-term cap (the F12 df-cap stance at
    * retrieval granularity): a term in half the corpus contributes
    * ~zero idf but df(t) join rows, so production retrieval drops it —
    * the cap states the same trade as every other df cap here (default
    * uncapped; the oracle states the identical filter).
    *
    * The vocabulary-sized df table joins the postings under a BUDGET
    * (r15 — an unconditional `broadcast(dft)` was a driver OOM, not a
    * slow plan, on a web-scale corpus with 10⁸–10⁹ distinct terms):
    * `dfBroadcastBudget` = the max df-table row count that may
    * broadcast. The default (MaxValue) broadcasts unconditionally with
    * NO extra job — today's plan, right whenever the vocabulary is
    * known bounded. A finite budget pays ONE count job over the
    * already-term-keyed df lineage (trivially parallel, once per
    * retrieval build) and falls back to the shuffle join on `t` when
    * the vocabulary exceeds it — the t-exchange is already paid by the
    * df aggregation itself, and AQE still upgrades the shuffle join to
    * broadcast at runtime if the surviving vocabulary turns out small.
    * PlanSpec pins BOTH shapes.
    *
    * Per-query top-k rides the bounded-heap [[graft.plans.TopKPerKey]]
    * node (no full per-query sort); the rank window runs on the
    * surviving k·|queries| rows. Output
    * (query_id, doc_id, score_micro, rank). */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
               maxDf: Long = Long.MaxValue,
               dfBroadcastBudget: Long = Long.MaxValue): DataFrame = {
    // r18: the (doc, term) frequency table computes IN-ROW (one
    // graft_ngram_counts pass over the words array — every occurrence of
    // a term lives in the same input row, so counting it never needed an
    // exchange) instead of explode → groupBy(doc_id, t). The token-scale
    // (doc, term) Exchange disappears from the plan, dl = Σ tf rides the
    // same counted array as a per-row sum (the dl aggregation + join are
    // gone too), and dft aggregates one row per DISTINCT (doc, term).
    // tf/df/dl values are bit-equal to the explode form (spec-pinned),
    // so every weight and the oracle hash are unchanged.
    val counted = corpus.select(col("doc_id"),
        graft.functions.TermFunctions.ngramCounts(words, 1).as("__tc"))
      .select(col("doc_id"),
        aggregate(col("__tc"), lit(0L), (acc, e) => acc + e.getField("tf"))
          .as("dl"),
        col("__tc"))
    val tf = counted.select(col("doc_id"), col("dl"),
        explode(col("__tc")).as("e"))
      .select(col("doc_id"), col("dl"), col("e.w1").as("t"), col("e.tf").as("tf"))
    // docs with zero non-empty tokens have no postings and never counted
    // toward nd/toklen in the explode form either
    val stats = counted.filter(col("dl") > 0)
      .agg(count(lit(1)).as("nd"), sum("dl").as("toklen"))
    val dft = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // ONE double chain per (term, doc), rounded once to micro-units
    val idf = log((col("nd").cast("double") - col("df").cast("double") +
      lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(1.2) * (lit(0.25) +
      lit(0.75) * col("dl").cast("double") * col("nd").cast("double") /
        col("toklen").cast("double"))
    val dftSized =
      if (dfBroadcastBudget == Long.MaxValue ||
          dft.count() <= dfBroadcastBudget) broadcast(dft)
      else dft
    // The weighted postings are width-pinned before the query-term probe:
    // they come straight off the corpus scan (often ONE split), and the
    // probe + partial (query, doc) aggregate above them is the pass's
    // widest stage — unpinned it ran on the scan's task count.
    val wtd = FanOut.pin(tf.join(dftSized, Seq("t"))
      .crossJoin(broadcast(stats))
      .select(col("t"), col("doc_id"),
        round(idf * (col("tf").cast("double") * lit(2.2)) / denom * 1e6, 0)
          .cast("long").as("w_micro")), col("doc_id"))
    val qt = queries.select(col("doc_id").as("query_id"),
        explode(distinctWords).as("t"))
      .filter(col("t") =!= "")
    val scored = qt.join(wtd, Seq("t"))
      .groupBy("query_id", "doc_id").agg(sum("w_micro").as("score_micro"))
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq("score_micro" -> false, "doc_id" -> true), k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .orderBy("query_id", "rank")
  }

  /** Bigram-LM mean negative log-likelihood per doc — the next rung of
    * the KenLM-style quality ladder above [[perplexityScore]]'s unigram:
    * fluent text is distinguished by LIKELY TRANSITIONS, not just likely
    * words, so the signal scores `P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)`
    * (add-one smoothing; `c(w1)` = times w1 occurs AS A CONTEXT, i.e.
    * bigram starts, so the conditional sums to 1 over the smoothed
    * vocabulary; `V` = distinct context count). Same pipeline shape as a
    * KenLM scoring stage: the corpus tokenizes once into per-doc bigram
    * term frequencies, the model aggregates FROM those frequencies (never
    * a second corpus pass), scoring is one (w1,w2) hash join, and the two
    * scalars (V) ride a broadcast row. Docs under 2 tokens have no
    * bigrams and drop out, as in any n-gram scorer.
    *
    * Determinism contract: round4'd mean so both engines flag
    * identically; no presentation sort on the corpus-sized output. */
  def perplexityBigram(documents: DataFrame, flagNats: Double = 3.5): DataFrame = {
    val tfb = ngramTf(documents, 2)
    val cb = tfb.groupBy("w1", "w2").agg(sum("tf").as("c12"))
    val c1 = cb.groupBy("w1").agg(sum("c12").as("c1"))
    val vrow = c1.agg(count(lit(1)).as("v"))
    val avgNll = round4(col("nll") / col("n_bigrams"))
    tfb.join(cb, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vrow))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
           sum(col("tf") * -log((col("c12") + 1).cast("double") /
                                (col("c1") + col("v")))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"), avgNll.as("avg_nll"),
              when(avgNll > flagNats, "high").otherwise("ok").as("ppl_flag"))
  }

  /** Interpolated Kneser-Ney bigram perplexity — the rung of the quality
    * ladder practitioners actually deploy (CCNet's filter is a KenLM
    * model with modified Kneser-Ney smoothing; [[perplexityBigram]]'s
    * add-one smoothing over-penalizes rare-but-fluent transitions, KN
    * replaces it with absolute discounting + a CONTINUATION back-off:
    * how many distinct contexts a word follows, not how often it
    * occurs — the "san francisco" correction):
    *
    *   P(w2|w1) = (max(c12 − D, 0) + D · n1+(w1·) · Pcont(w2)) / c1,
    *   Pcont(w2) = n1+(·w2) / n1+(··)
    *
    * with D = 0.75 (Chen & Goodman's fixed discount; exactly
    * representable in binary, so the discounted count is an exact
    * double), c1 = w1's context total, n1+(w1·) = w1's distinct
    * continuations, n1+(·w2) = w2's distinct left contexts, n1+(··) =
    * total distinct bigram types. Interpolation weights make the
    * conditional sum to exactly 1 over the full continuation vocabulary
    * (unseen pairs take the pure back-off term; spec-pinned to 1e-9).
    * Self-scoring only ever evaluates seen pairs, so the model join
    * stays inner.
    *
    * Engine-portability is the D56 micro-nat trick — ONE rounding point:
    * each distinct bigram TYPE's −ln P rounds once to integer micro-nats
    * (the only float op, identical doubles in identical operation order
    * in both engines — every operand explicitly double, products/ratios
    * left-associated), then per-doc NLLs are EXACT integer sums
    * (associative, partitioning-independent — no float-summation seam)
    * and the flag is an integer cross-multiplication
    * (nll > flagNats · n), so the whole report hash-adjudicates.
    *
    * Pipeline shape = [[perplexityBigram]]'s: the corpus tokenizes ONCE
    * into per-doc bigram frequencies; the model (c12 / context totals /
    * continuation counts / type count) aggregates FROM those frequencies
    * (ReusedExchange, PlanSpec-pinned), the two corpus-scale pieces join
    * on (w1,w2), the 1-row type count broadcasts. Docs under 2 tokens
    * drop (no bigrams), as in any n-gram scorer. */
  def perplexityKn(documents: DataFrame, flagNats: Double = 3.0): DataFrame = {
    val tfb = ngramTf(documents, 2)
    // model tables — all derived from the TYPE table cb, which itself
    // aggregates from tfb (the scoring side's own exchange)
    val cb = tfb.groupBy("w1", "w2").agg(sum("tf").as("c12"))
    val ctx = cb.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1w1"))
    val pre = cb.groupBy("w2").agg(count(lit(1)).as("nprec"))
    val tot = cb.agg(count(lit(1)).as("ntypes"))
    // the single rounding point: every operand an explicit double, the
    // product/ratio chain left-associated — both engines execute the
    // identical IEEE op sequence on identical inputs
    val p = (greatest(col("c12").cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("n1w1").cast("double") * col("nprec").cast("double") /
        col("ntypes").cast("double")) / col("c1").cast("double")
    val model = cb.join(ctx, Seq("w1")).join(pre, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(-log(p) * 1e6, 0).cast("long").as("unats"))
    val flagUnats = math.round(flagNats * 1e6)
    tfb.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
           sum(col("tf") * col("unats")).as("nll_unats"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_unats"),
        when(col("nll_unats") > lit(flagUnats) * col("n_bigrams"), "high")
          .otherwise("ok").as("ppl_flag"))
  }

  /** MODIFIED Kneser-Ney bigram perplexity — KenLM's default smoothing
    * (Chen & Goodman 1998 §3, the config CCNet's filter actually ships):
    * [[perplexityKn]] with the single discount D replaced by
    * count-class discounts D₁/D₂/D₃₊ ESTIMATED from the corpus's
    * count-of-counts (n_k = #bigram types with count k):
    *
    *   Y = n₁/(n₁+2n₂);  D₁ = 1 − 2Y·n₂/n₁;  D₂ = 2 − 3Y·n₃/n₂;
    *   D₃₊ = 3 − 4Y·n₄/n₃
    *
    * each CLAMPED into [0, k] — the clamp (KenLM floors at 0 too) is
    * what makes the conditional sum to EXACTLY 1 over the continuation
    * vocabulary unconditionally: (c − D(c)) can never go negative, so
    * the interpolation weight γ(w1) = (D₁N₁ + D₂N₂ + D₃₊N₃₊)/c1 is
    * exactly the discounted mass (N_k = w1's continuations in class k).
    * Degenerate count-of-counts (a tiny corpus with no singleton or no
    * 4-count types) fall back to the fixed 0.75 — estimation needs the
    * classes it estimates from.
    *
    * Same engine-portability contract as [[perplexityKn]]: the discount
    * estimation adds three more double expressions, but every float op
    * still sits in ONE chain per bigram type (explicit doubles,
    * left-associated, clamps via GREATEST/LEAST — both engines execute
    * the identical IEEE sequence) rounded ONCE to micro-nats; per-doc
    * NLLs are exact integer sums, the flag an integer
    * cross-multiplication. Same ReusedExchange plan shape. */
  def perplexityKnMod(documents: DataFrame, flagNats: Double = 3.0): DataFrame = {
    val tfb = ngramTf(documents, 2)
    val cb = tfb.groupBy("w1", "w2").agg(sum("tf").as("c12"))
    def cls(k: Column => Column, name: String) =
      sum(when(k(col("c12")), 1L).otherwise(0L)).as(name)
    val ctx = cb.groupBy("w1").agg(sum("c12").as("c1"),
      cls(_ === 1, "k1"), cls(_ === 2, "k2"), cls(_ >= 3, "k3"))
    val pre = cb.groupBy("w2").agg(count(lit(1)).as("nprec"))
    val tot = cb.agg(count(lit(1)).as("ntypes"),
      cls(_ === 1, "n1"), cls(_ === 2, "n2"),
      cls(_ === 3, "n3"), cls(_ === 4, "n4"))
    // estimated discounts, clamped into [0, k]; fixed 0.75 when any
    // count-of-count class is empty (both engines state the same CASE)
    val haveCls = col("n1") > 0 && col("n2") > 0 && col("n3") > 0 && col("n4") > 0
    val y = col("n1").cast("double") / (col("n1") + lit(2.0) * col("n2"))
    def clamp(d: Column, k: Double) = least(greatest(d, lit(0.0)), lit(k))
    val d1 = clamp(when(haveCls,
      lit(1.0) - lit(2.0) * y * (col("n2").cast("double") / col("n1")))
      .otherwise(lit(0.75)), 1.0)
    val d2 = clamp(when(haveCls,
      lit(2.0) - lit(3.0) * y * (col("n3").cast("double") / col("n2")))
      .otherwise(lit(0.75)), 2.0)
    val d3 = clamp(when(haveCls,
      lit(3.0) - lit(4.0) * y * (col("n4").cast("double") / col("n3")))
      .otherwise(lit(0.75)), 3.0)
    val dOfC = when(col("c12") === 1, d1).when(col("c12") === 2, d2)
      .otherwise(d3)
    val gamma = d1 * col("k1") + d2 * col("k2") + d3 * col("k3")
    val p = (greatest(col("c12").cast("double") - dOfC, lit(0.0)) +
      gamma * col("nprec").cast("double") / col("ntypes").cast("double")) /
      col("c1").cast("double")
    val model = cb.join(ctx, Seq("w1")).join(pre, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(-log(p) * 1e6, 0).cast("long").as("unats"))
    val flagUnats = math.round(flagNats * 1e6)
    tfb.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
           sum(col("tf") * col("unats")).as("nll_unats"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_unats"),
        when(col("nll_unats") > lit(flagUnats) * col("n_bigrams"), "high")
          .otherwise("ok").as("ppl_flag"))
  }

  /** COUNT-PRUNED interpolated Kneser-Ney — the model-size lever
    * production KenLM actually ships (`--prune`: n-gram types at or
    * below a count threshold are dropped from the model; CCNet's
    * published models prune singletons at the higher orders — at web
    * scale the singleton tail IS most of the type table, so pruning is
    * what makes the model fit in memory): bigram types with
    * c12 ≤ `prune` leave the model, and their probability mass joins
    * the context's interpolation weight EXACTLY —
    *
    *   P(w2|w1) = ( [c12 − D if surviving else 0]
    *                + (D·n1s(w1) + s1(w1)) · Pcont(w2) ) / c1
    *
    * where n1s(w1) = w1's SURVIVING distinct continuations, s1(w1) =
    * the summed counts of w1's PRUNED types, c1 = w1's full context
    * total, and Pcont stays the UNPRUNED continuation distribution
    * (n1+(·w2)/n1+(··) — the lower order keeps its full vocabulary, as
    * KenLM builds lower orders from pre-pruning adjusted counts). The
    * conditional sums to EXACTLY 1 per context: the surviving mass is
    * (c1 − s1 − D·n1s)/c1 and the redistributed weight is
    * (D·n1s + s1)/c1 — spec-pinned to 1e-9, including contexts whose
    * continuations are ALL pruned (n1s = 0 ⇒ pure continuation). With
    * `prune` ≥ 1 every surviving count is ≥ 2 > D, so no clamp is even
    * needed — the discounted term is positive by construction.
    *
    * Self-scoring now exercises the BACK-OFF-ONLY path in-corpus (a
    * pruned type scores λ(w1)·Pcont(w2) — before r14 only the
    * cross-corpus op reached it), which is exactly what deployment does:
    * most of a crawl's bigrams are singletons the pruned model never
    * stored. Engine-portability unchanged: ONE float chain per distinct
    * scored type (explicit doubles, left-associated, the pruned/
    * surviving split a CASE both engines state), rounded once to
    * micro-nats; per-doc NLLs exact integer sums; flag an integer
    * cross-multiplication. Same one-corpus-exchange ReusedExchange
    * shape — the pruning adds two integer aggregates to the context
    * table, no new pass. */
  def perplexityKnPruned(documents: DataFrame, prune: Long = 1,
                         flagNats: Double = 3.0): DataFrame = {
    require(prune >= 1, s"prune >= 1 keeps surviving counts > D, got $prune")
    val tfb = ngramTf(documents, 2)
    val cb = tfb.groupBy("w1", "w2").agg(sum("tf").as("c12"))
    val surv = col("c12") > prune
    val ctx = cb.groupBy("w1").agg(sum("c12").as("c1"),
      sum(when(surv, 1L).otherwise(0L)).as("n1s"),
      sum(when(surv, 0L).otherwise(col("c12"))).as("s1"))
    val pre = cb.groupBy("w2").agg(count(lit(1)).as("nprec"))
    val tot = cb.agg(count(lit(1)).as("ntypes"))
    // the single rounding point (the perplexityKn discipline): pruned
    // types keep only the redistributed term — same chain, CASE'd
    val p = (when(surv, col("c12").cast("double") - lit(0.75))
        .otherwise(lit(0.0)) +
      (lit(0.75) * col("n1s").cast("double") + col("s1").cast("double")) *
        col("nprec").cast("double") / col("ntypes").cast("double")) /
      col("c1").cast("double")
    val model = cb.join(ctx, Seq("w1")).join(pre, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        round(-log(p) * 1e6, 0).cast("long").as("unats"))
    val flagUnats = math.round(flagNats * 1e6)
    tfb.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
           sum(col("tf") * col("unats")).as("nll_unats"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_unats"),
        when(col("nll_unats") > lit(flagUnats) * col("n_bigrams"), "high")
          .otherwise("ok").as("ppl_flag"))
  }

  /** CROSS-corpus Kneser-Ney scoring — the deployment shape the
    * perplexity family exists for (CCNet fits its LM on clean Wikipedia
    * and scores the CRAWL; self-scoring never exercises the open-
    * vocabulary paths): the interpolated-KN bigram model fits on `train`
    * and scores `score`, handling the three cases self-scoring cannot
    * produce, all inside one CASE chain:
    *
    *  - seen bigram:      ((c12−D)⁺ + D·n1+(w1·)·Pcont'(w2)) / c1
    *  - unseen bigram,    the SAME expression with c12 = 0 — the
    *    seen context:     discounted term vanishes, the continuation
    *                      back-off carries (that graceful degradation is
    *                      WHY KN interpolates);
    *  - unseen context:   Pcont'(w2) alone (nothing to interpolate);
    *
    * with the continuation distribution add-one smoothed over an OPEN
    * vocabulary — Pcont'(w2) = (n1+(·w2)+1) / (n1+(··)+V+1), V = the
    * train continuation vocabulary — so an OOV w2 scores the floor
    * 1/(n1+(··)+V+1) instead of −ln 0 = ∞ (mass is reserved for unseen
    * words; the conditional therefore sums to < 1 by design — an open
    * vocabulary is not a closed one).
    *
    * Engine-portability unchanged: one float chain per distinct SCORED
    * bigram type, rounded once to micro-nats; per-doc NLLs exact integer
    * sums; flag an integer cross-multiplication. The model tables are
    * train-vocabulary-scale; the score side pays one (doc,w1,w2)
    * exchange and three left joins against them. */
  def perplexityKnCross(score: DataFrame, train: DataFrame,
                        flagNats: Double = 3.0): DataFrame = {
    def bigramTf(documents: DataFrame): DataFrame = ngramTf(documents, 2)
    val tfbS = bigramTf(score)
    val cb = bigramTf(train).groupBy("w1", "w2").agg(sum("tf").as("c12"))
    val ctx = cb.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1w1"))
    val pre = cb.groupBy("w2").agg(count(lit(1)).as("nprec"))
    // coalesce the empty-model aggregate: a train corpus with no bigrams
    // (empty, or all docs under 2 tokens) yields sum(NULL)=NULL ntypes,
    // which would NULL every scored unats and report ok-flagged NULL
    // NLLs; with ntypes=0 the open-vocabulary floor 1/(0+0+1) applies
    // uniformly instead (every bigram is OOV against an empty model)
    val tot = pre.agg(coalesce(sum("nprec"), lit(0L)).as("ntypes"),
      count(lit(1)).as("vcont"))
    // one rounded value per distinct SCORED type (the usual discipline)
    val st = tfbS.select("w1", "w2").distinct()
      .join(cb, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(pre, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
    val pcont = (coalesce(col("nprec"), lit(0L)) + lit(1L)).cast("double") /
      (col("ntypes") + col("vcont") + lit(1L)).cast("double")
    val p = when(col("c1").isNotNull,
      (greatest(coalesce(col("c12"), lit(0L)).cast("double") - lit(0.75),
        lit(0.0)) + lit(0.75) * col("n1w1").cast("double") * pcont) /
        col("c1").cast("double"))
      .otherwise(pcont)
    val model = st.select(col("w1"), col("w2"),
      round(-log(p) * 1e6, 0).cast("long").as("unats"))
    val flagUnats = math.round(flagNats * 1e6)
    tfbS.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
           sum(col("tf") * col("unats")).as("nll_unats"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_unats"),
        when(col("nll_unats") > lit(flagUnats) * col("n_bigrams"), "high")
          .otherwise("ok").as("ppl_flag"))
  }

  /** Interpolated Kneser-Ney TRIGRAM perplexity — the order-3 rung with
    * the TEXTBOOK recursion (Chen & Goodman: raw counts at the top
    * order, CONTINUATION counts below — the structure KenLM builds at
    * every order):
    *
    *   P₃(w3|w1w2) = (max(c123 − D, 0) + D · N1+(w1w2·) · P₂(w3|w2)) / c12
    *   P₂(w3|w2)   = (max(N1+(·w2w3) − D, 0)
    *                  + D · N1+(w2·) · Pcont(w3)) / N1+(·w2·)
    *   Pcont(w3)   = N1+(·w3) / N1+(··)          (over BIGRAM types)
    *
    * — the middle level asks "in how many contexts was (w2,w3) a novel
    * continuation", not "how often did it occur": the same correction
    * the bigram KN makes, applied recursively. D = 0.75 at both levels;
    * self-scoring keeps every count ≥ 1 so no back-off path degenerates
    * and the conditional sums to exactly 1 at both levels (spec-pinned).
    *
    * Engine-portability: the ENTIRE two-level float chain per distinct
    * trigram type — P₂ feeding P₃ unrounded — rounds ONCE to
    * micro-nats; per-doc NLLs exact integer sums; integer flag. Plan:
    * the corpus tokenizes once into per-doc trigram frequencies, every
    * model table (trigram counts, order-2 contexts, mid-level
    * continuation tables, bigram-type continuation counts) aggregates
    * from type tables, the 1-row bigram-type total broadcasts. Docs
    * under 3 tokens drop, as in any n-gram scorer. */
  def perplexityKn3(documents: DataFrame, flagNats: Double = 3.0): DataFrame = {
    val tfb3 = ngramTf(documents, 3)
    val cb3 = tfb3.groupBy("w1", "w2", "w3").agg(sum("tf").as("c123"))
    val ctx3 = cb3.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n3"))
    // mid level: continuation counts over TRIGRAM types
    val mnum = cb3.groupBy("w2", "w3").agg(count(lit(1)).as("mnum"))
    val mid = mnum.groupBy("w2")
      .agg(sum("mnum").as("mden"), count(lit(1)).as("mn1"))
    // bottom level: continuation counts over corpus BIGRAM types
    val bi = ngramTf(documents, 2).select("w1", "w2").distinct()
    val pre2 = bi.groupBy("w2").agg(count(lit(1)).as("nprec2"))
    val tot2 = pre2.agg(sum("nprec2").as("ntypes2"))
    val pcont = col("nprec2").cast("double") / col("ntypes2").cast("double")
    val p2 = (greatest(col("mnum").cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("mn1").cast("double") * pcont) / col("mden").cast("double")
    val p3 = (greatest(col("c123").cast("double") - lit(0.75), lit(0.0)) +
      lit(0.75) * col("n3").cast("double") * p2) / col("c12").cast("double")
    val model = cb3.join(ctx3, Seq("w1", "w2")).join(mnum, Seq("w2", "w3"))
      .join(mid, Seq("w2"))
      .join(pre2.withColumnRenamed("w2", "w3"), Seq("w3"))
      .crossJoin(broadcast(tot2))
      .select(col("w1"), col("w2"), col("w3"),
        round(-log(p3) * 1e6, 0).cast("long").as("unats"))
    val flagUnats = math.round(flagNats * 1e6)
    tfb3.join(model, Seq("w1", "w2", "w3"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_trigrams"),
           sum(col("tf") * col("unats")).as("nll_unats"))
      .select(col("doc_id"), col("n_trigrams"), col("nll_unats"),
        when(col("nll_unats") > lit(flagUnats) * col("n_trigrams"), "high")
          .otherwise("ok").as("ppl_flag"))
  }

  /** Document fingerprinting: full md5 digest, 8-hex prefix bucket, and a
    * 1-permutation minhash (lexicographic-min word md5). */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(col("text")).as("digest"),
      substring(md5(col("text")), 1, 8).as("prefix8"),
      array_min(transform(distinctWords, w => md5(w))).as("min_word_md5"),
    ).orderBy("doc_id")

  /** BPE pair counting (Sennrich et al. 2016, arXiv:1508.07909) — the
    * distributed primitive of subword-tokenizer training: corpus-wide
    * counts of ADJACENT CHARACTER PAIRS inside words (word-internal
    * only, the standard BPE restriction; weighted by occurrence). Pair
    * extraction is an in-row `transform` over positions (codegen, no
    * per-character join) and the count is one map-side-combined shuffle
    * on the ~alphabet²-sized pair space; topN with a total-order
    * tie-break so both engines cut identically. */
  def bpePairCounts(documents: DataFrame, topN: Int = 20): DataFrame =
    documents.select(explode(TextNorm.words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        p => col("w").substr(p, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)

  /** Full BPE merge-rule training in the production shape: the
    * CORPUS-scale work is ONE distributed word-frequency aggregation
    * (the same single shuffle as heavy hitters — this is why HF
    * tokenizers and SentencePiece train from word counts, not raw
    * text); the merge loop then iterates driver-side over the
    * VOCAB-sized frequency table (vocab ≪ corpus at any scale, so
    * nothing driver-side grows with the data). Deterministic: best pair
    * = highest count, ties to the lexicographically smallest pair —
    * reruns and partitionings cannot reorder the rules. Returns the
    * merge rules in application order as (rank, left, right). */
  /** One greedy left-to-right application of a merge rule to a symbol
    * sequence — THE shared definition between training and tokenization
    * (they must agree on overlap handling or apply-time tokens diverge
    * from train-time rules). */
  private def mergeIn(syms: List[String], p: (String, String)): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  /** `minFreq` / `maxVocab` bound the driver-side word-frequency table
    * the way HF tokenizers / SentencePiece do (min-frequency floor +
    * top-M cut): "vocab ≪ corpus" holds for clean text, but a web-scale
    * corpus's distinct-"word" count (typos, numbers, hex hashes) can
    * reach hundreds of millions — unbounded driver heap without a cut.
    * The cut is a distributed TakeOrderedAndProject (count desc, word
    * asc — a total order, so reruns/partitionings cut identically) and
    * makes the collect provably ≤ maxVocab rows; dropped tail words are
    * exactly the ones whose pair counts BPE training is least sensitive
    * to (each contributes < minFreq occurrences per pair). Defaults keep
    * today's behavior on any corpus with < 2²⁰ distinct words. */
  def trainBpeMerges(documents: DataFrame, nMerges: Int = 10,
                     minFreq: Long = 1L,
                     maxVocab: Int = 1 << 20): Seq[(Int, String, String)] = {
    var vocab: Map[List[String], Long] = documents
      .select(explode(TextNorm.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .filter(col("count") >= minFreq)
      .orderBy(col("count").desc, col("w"))
      .limit(maxVocab)
      .collect()
      .map(r => r.getString(0).map(_.toString).toList -> r.getLong(1)).toMap
    val merges = Seq.newBuilder[(Int, String, String)]
    var rank = 0
    var more = true
    while (rank < nMerges && more) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        syms.lazyZip(syms.tail).foreach((a, b) =>
          counts((a, b)) = counts.getOrElse((a, b), 0L) + f)
      }
      if (counts.isEmpty) more = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += ((rank, best._1, best._2))
        vocab = vocab.groupMapReduce(kv => mergeIn(kv._1, best))(_._2)(_ + _)
        rank += 1
      }
    }
    merges.result()
  }

  /** A word as character symbols — [[trainBpeMerges]]' alphabet. */
  private def charSyms(w: String): List[String] = w.map(_.toString).toList

  /** A word as UTF-8 BYTE symbols, each rendered as 2 lowercase hex
    * digits — the byte-level alphabet ([[trainBpeBytesMerges]]): ids
    * and merges are over bytes, so any Unicode word tokenizes with a
    * 256-cap base alphabet and multi-byte codepoints can merge back
    * together from their bytes (the GPT-2/LLaMA-family convention).
    * Hex keeps every symbol a plain ASCII string — engine-portable,
    * total-ordered, and losslessly invertible (unhex of the
    * concatenated final tokens is the word's UTF-8, spec-pinned). */
  private def byteSyms(w: String): List[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8).toList
      .map(b => f"${b & 0xff}%02x")

  /** Byte-level BPE training to a VOCABULARY-SIZE target (r17 —
    * [[trainBpeMerges]] is word-internal character BPE with a merge
    * COUNT; production tokenizers are byte-level and train until the
    * vocabulary reaches |V|): same single corpus-scale word-frequency
    * aggregation, same bounded driver-side merge loop, same
    * total-order tie-breaks — only the alphabet ([[byteSyms]]) and the
    * stop rule differ. The vocabulary is (base byte symbols present in
    * the corpus) + (minted merges), so the loop runs
    * vocabSize − |base| merges — or stops early when no pair repeats,
    * exactly the merge-exhaustion honesty of the char trainer. */
  def trainBpeBytesMerges(documents: DataFrame, vocabSize: Int,
                          minFreq: Long = 1L,
                          maxVocab: Int = 1 << 20): Seq[(Int, String, String)] = {
    var vocab: Map[List[String], Long] = documents
      .select(explode(TextNorm.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .filter(col("count") >= minFreq)
      .orderBy(col("count").desc, col("w"))
      .limit(maxVocab)
      .collect()
      .map(r => byteSyms(r.getString(0)) -> r.getLong(1)).toMap
    val base: Int = vocab.keysIterator.flatten.toSet.size
    val merges = Seq.newBuilder[(Int, String, String)]
    var rank = 0
    var more = true
    while (base + rank < vocabSize && more) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        syms.lazyZip(syms.tail).foreach((a, b) =>
          counts((a, b)) = counts.getOrElse((a, b), 0L) + f)
      }
      if (counts.isEmpty) more = false
      else {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += ((rank, best._1, best._2))
        vocab = vocab.groupMapReduce(kv => mergeIn(kv._1, best))(_._2)(_ + _)
        rank += 1
      }
    }
    merges.result()
  }

  /** Apply trained merge rules to tokenize text — the read side of
    * [[trainBpeMerges]], a deterministic fold over the rules in rank
    * order via the SAME [[mergeIn]] the trainer uses (they must agree
    * on overlap handling or apply-time tokens diverge from train-time
    * rules). The fold is a Scala UDF by necessity, not habit: an
    * ORDERED sequence of position-dependent rewrites has no built-in/
    * higher-order-function form (the engine-wide no-UDF rule's
    * documented exception class, like the multimodal decode) — and it
    * runs once per (doc, DISTINCT word), not per occurrence: the fold
    * prices by the doc's vocabulary, with occurrences riding a count.
    * Output (doc_id, n_words, n_tokens) summarizes the compression the
    * vocabulary buys. */
  def bpeTokenCounts(documents: DataFrame,
                     merges: Seq[(Int, String, String)]): DataFrame = {
    val rules = merges.sortBy(_._1).map(m => (m._2, m._3))
    val tokensOf = udf { (w: String) =>
      rules.foldLeft(w.map(_.toString).toList)(mergeIn).length
    }
    documents
      .select(col("doc_id"), explode(TextNorm.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("occ"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_words"),
           sum(tokensOf(col("w")) * col("occ")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Corpus BPE VOCABULARY (r16 — the apply table between trained merge
    * rules and a tokenized corpus): one row per corpus-DISTINCT word,
    * with its final token strings (the [[mergeIn]] fold over the rules
    * in rank order — priced ONCE per distinct word, the documented
    * per-distinct-word UDF exception [[bpeTokenCounts]] established)
    * and its token IDS under a deterministic corpus-wide assignment:
    * the distinct final tokens sorted ascending, 0-based — the id any
    * re-run, re-partitioning, or second engine reproduces.
    *
    * The token-id table is TOKEN-vocabulary-scale by construction —
    * every final token is either a corpus character or one of the
    * |merges| minted pair strings — so collecting it to build the
    * lookup literal is the same bounded-vocab exception class as the
    * trainer's word-frequency collect (and strictly smaller).
    * Output: (w, tokens, token_ids, n_tokens). */
  def bpeVocab(documents: DataFrame,
               merges: Seq[(Int, String, String)]): DataFrame =
    bpeVocabSyms(documents, merges, charSyms)

  /** [[bpeVocab]] under the BYTE alphabet (r17) — final tokens are hex
    * strings of merged UTF-8 bytes; ids by the same sorted-ascending
    * corpus-wide assignment. */
  def bpeVocabBytes(documents: DataFrame,
                    merges: Seq[(Int, String, String)]): DataFrame =
    bpeVocabSyms(documents, merges, byteSyms)

  private def bpeVocabSyms(documents: DataFrame,
                           merges: Seq[(Int, String, String)],
                           syms: String => List[String]): DataFrame = {
    val rules = merges.sortBy(_._1).map(m => (m._2, m._3))
    val tokensOf = udf { (w: String) =>
      rules.foldLeft(syms(w))(mergeIn)
    }
    val vocabWords = documents
      .select(explode(TextNorm.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .withColumn("tokens", tokensOf(col("w")))
    val tokenIds: Map[String, Int] = vocabWords
      .select(explode(col("tokens")).as("t")).distinct()
      .collect().map(_.getString(0)).sorted.zipWithIndex.toMap
    val idMap = typedlit(tokenIds)
    vocabWords.select(col("w"), col("tokens"),
      transform(col("tokens"), t => element_at(idMap, t)).as("token_ids"),
      size(col("tokens")).cast("long").as("n_tokens"))
  }

  /** Corpus-scale tokenizer APPLY (r16 — the step between "trains real
    * merge rules" and "a training pipeline ships": tokenize EVERY
    * document with the trained vocabulary and emit real token ids and
    * counts, so packing runs on what the trainer will actually see
    * instead of estTokens word-count proxies). The fold runs once per
    * corpus-distinct word ([[bpeVocab]]); documents join the vocabulary
    * on the word — occurrences ride the join, never re-fold — and each
    * doc's id sequence reassembles in word-position order (bounded
    * per-doc collect; the list renders as a canonical comma-joined
    * string, the engine-portable form). Docs with no words emit no row
    * (they occupy no tokens, as in [[sequencePackSpans]]'s n = 0 drop).
    * Output: (doc_id, n_words, n_tokens, token_ids). */
  def bpeTokenizeDocs(documents: DataFrame,
                      merges: Seq[(Int, String, String)]): DataFrame =
    tokenizeDocsFrom(bpeTokenizeArr(documents, merges))

  /** [[bpeTokenizeDocs]] under the BYTE alphabet (r17) — same
    * per-distinct-word pricing, same output shape; the merges come
    * from [[trainBpeBytesMerges]]. */
  def bpeTokenizeDocsBytes(documents: DataFrame,
                           merges: Seq[(Int, String, String)]): DataFrame =
    tokenizeDocsFrom(bpeTokenizeArr(documents, merges, byteLevel = true))

  private def tokenizeDocsFrom(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), col("n_words"), col("n_tokens"),
        array_join(transform(col("ids"), i => i.cast("string")), ",")
          .as("token_ids"))
      .orderBy("doc_id")

  /** [[bpeTokenizeDocs]] with the id sequence as an ARRAY column —
    * the slice-able form [[Curation.packedTokenSequences]] consumes:
    * (doc_id, n_words, n_tokens, ids). Same vocabulary join, same
    * bounded per-doc reassembly. `byteLevel` swaps in the byte
    * alphabet (r17) — tokenize → pack accepts either tokenizer. */
  private[graft] def bpeTokenizeArr(documents: DataFrame,
      merges: Seq[(Int, String, String)],
      byteLevel: Boolean = false): DataFrame = {
    val vocab =
      (if (byteLevel) bpeVocabBytes(documents, merges)
       else bpeVocab(documents, merges))
      .select(col("w"), col("token_ids"), col("n_tokens").as("__nt"))
    val pos = documents
      .select(col("doc_id"),
        posexplode(TextNorm.words(col("text"))).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    pos.join(vocab, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("__nt").as("n_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("token_ids")))),
          s => s.getField("token_ids"))).as("ids"))
  }
}
