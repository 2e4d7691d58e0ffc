package graft

/** DuckDB oracle SQL, one per SparkEntry.queries key (where expressible).
  *
  * Determinism contract with the Spark side (see util/Det.scala):
  * money aggregates accumulate integer cents; thresholds and orderings
  * apply to values rounded to a fixed scale; every query ends in a
  * total-order ORDER BY; event timestamps reduce to epoch-seconds BIGINTs.
  */
object OracleSql {

  private val eventsSec =
    "SELECT event_id, user_id, event_type, value, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events"

  private val docWords =
    "list_distinct(string_split(lower(trim(text)), ' '))"

  private val cents = (c: String) => s"SUM(CAST(ROUND(($c)*100, 0) AS BIGINT))/100.0"

  // the batch containment closed form — shared verbatim by
  // dedup_containment and containment_inc (whose cold run IS the closed
  // form; see Dedup.incrementalContainment)
  private val containmentPairsSql =
    """WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w WHERE len(ws) >= 3), e AS (SELECT doc_id, unnest(sh) AS sh FROM s), d AS (SELECT sh, COUNT(*) AS df FROM e GROUP BY sh), k AS (SELECT e.doc_id, e.sh, d.df FROM e JOIN d USING (sh) WHERE d.df <= 100), n AS (SELECT doc_id, COUNT(*) AS n_sh FROM k GROUP BY doc_id), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared FROM k a JOIN k b ON a.sh = b.sh AND a.doc_id < b.doc_id WHERE a.df > 1 GROUP BY 1, 2) SELECT p.doc_a, p.doc_b, p.shared, ROUND(CAST(p.shared AS DOUBLE) / LEAST(na.n_sh, nb.n_sh) * 10000, 0)/10000.0 AS containment FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b WHERE CAST(p.shared AS DOUBLE) / LEAST(na.n_sh, nb.n_sh) >= 0.6 ORDER BY doc_a, doc_b"""

  // the ARRIVAL-order funnel closed form — shared verbatim by
  // curation_funnel_arrival and curation_funnel_inc (whose cold run IS
  // the closed form; see Curation.incrementalCurationFunnel). Identical
  // to curation_funnel's SQL except the quota window orders by doc_id.
  private val curationFunnelArrivalSql =
    """WITH base AS (SELECT doc_id, lang, source, md5(lower(trim(text))) AS digest, (length(text) >= 100 AND len(string_split(lower(trim(text)), ' ')) >= 20) AS pass_quality, CAST(CEIL(length(text)/4.0) AS BIGINT) AS tok FROM documents), d AS (SELECT *, (ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) = 1) AS pass_dedup FROM base), q AS (SELECT doc_id, (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 15) AS pass_quota FROM d WHERE pass_dedup AND pass_quality), dq AS (SELECT d.doc_id, d.lang, d.tok, d.pass_dedup, d.pass_quality, COALESCE(q.pass_quota, FALSE) AS pass_quota FROM d LEFT JOIN q USING (doc_id)), b AS (SELECT doc_id, (SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 5000) AS pass_budget FROM dq WHERE pass_dedup AND pass_quality AND pass_quota) SELECT dq.doc_id, dq.pass_dedup, dq.pass_quality, dq.pass_quota, COALESCE(b.pass_budget, FALSE) AS pass_budget, (dq.pass_dedup AND dq.pass_quality AND dq.pass_quota AND COALESCE(b.pass_budget, FALSE)) AS kept FROM dq LEFT JOIN b USING (doc_id) ORDER BY doc_id"""

  // DSIR selection closed form — shared verbatim by dsir_select and
  // dsir_select_inc (whose cold run IS the batch selection)
  private val dsirSelectSql =
    """WITH t AS (SELECT doc_id, (lang = 'en') AS tgt FROM documents), w AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), b AS (SELECT doc_id, CAST(('0x' || substr(md5(word), 1, 6)) AS BIGINT) % 4096 AS b FROM w WHERE word <> ''), bt AS (SELECT b.doc_id, b.b, t.tgt FROM b JOIN t USING (doc_id)), cnt AS (SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, COUNT(*) AS cr FROM bt GROUP BY b), tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM cnt), wt AS (SELECT b, CAST(ROUND(ln(((ct + 1.0) * (nr + 4096)) / ((cr + 1.0) * (nt + 4096))) * 1000000.0, 0) AS BIGINT) AS w_unats FROM cnt CROSS JOIN tot), s AS (SELECT bt.doc_id, COUNT(*) AS n_words, CAST(SUM(wt.w_unats) AS BIGINT) AS score_unats FROM bt JOIN wt USING (b) WHERE NOT bt.tgt GROUP BY bt.doc_id), r AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, score_unats, CAST(ROW_NUMBER() OVER (ORDER BY score_unats DESC, doc_id) AS BIGINT) AS rank FROM s) SELECT doc_id, n_words, score_unats, rank FROM r WHERE rank <= 100 ORDER BY rank"""

  private val revenue = cents("l_extendedprice*(1-l_discount)")

  // exact top-k cosine per query vector — shared by ann_topk and the
  // exhaustive-probe ann_ivf_q (which must reproduce it exactly);
  // `filterSql` restricts CANDIDATES (queries stay unrestricted — the
  // filtered-ANN contract)
  private def annTopkSqlWhere(filterSql: String) =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)), s AS (SELECT q.query_id, e.vec_id, ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y)) / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS x))) * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(q.qv) AS y)))) * 10000, 0)/10000.0 AS cos_sim FROM embeddings e, q WHERE e.vec_id <> q.query_id$filterSql), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank FROM s) SELECT query_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10 ORDER BY query_id, rank"""
  private val annTopkSql = annTopkSqlWhere("")

  // the 40-char window CTE — the load-bearing contract every substring-
  // dedup oracle shares with the Spark side (length 40, range bound
  // len-38, per-doc DISTINCT); ONE definition so a threshold tweak can
  // never desynchronize the three oracles that state it
  private val substringWindowsCte =
    """WITH w AS (SELECT DISTINCT doc_id, sub FROM (SELECT doc_id, substr(text, CAST(p AS INT), 40) AS sub FROM (SELECT doc_id, text, unnest(range(1, len(text)-38)) AS p FROM documents WHERE len(text) >= 40)))"""

  // exact substring dedup, shared by the raw-window, hashed and sharded
  // paths. The df <= 100 filter states the pair paths' boilerplate cap
  // (Dedup.exactSubstringPairs maxDf default) — without it the contract
  // held only by corpus luck: any window verbatim-shared by >100 docs
  // would drop Spark-side while the oracle still counted it. (The
  // INCREMENTAL oracle below is cap-free on purpose: the global
  // shares-any-window drop rule needs no pair fan-out, so the operator
  // has no cap either.)
  private val substringDedupSql =
    s"""$substringWindowsCte, k AS (SELECT sub FROM w GROUP BY sub HAVING COUNT(*) <= 100) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(DISTINCT a.sub) AS shared_windows FROM w a JOIN w b ON a.doc_id < b.doc_id AND a.sub = b.sub JOIN k ON k.sub = a.sub GROUP BY 1, 2 ORDER BY 1, 2"""

  // image near-dup at radius r: the synthetic corpus's per-doc dHash in
  // closed form — 60-bit group base from md5 of the group anchor (the
  // engine's draw convention, '0x'||hex parse ≡ Java parseLong(hex,16)),
  // per-slot XOR masks of hamming weight {0, 0, 2, 3} — then the plain
  // all-pairs hamming predicate (the banding is exact at radius ≤ 3, so
  // this IS the operator's output, not a twin of it)
  private def dedupHashSql(radius: Int, residue: Int): String =
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = $residue), p AS (SELECT doc_id, xor(CAST(('0x' || substr(md5(CAST(doc_id - doc_id % 40 AS VARCHAR)), 1, 15)) AS BIGINT), CASE (doc_id % 40) // 10 WHEN 2 THEN 3 WHEN 3 THEN 56 ELSE 0 END) AS h FROM ids) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming FROM p a JOIN p b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= $radius ORDER BY doc_a, doc_b"""
  private def dedupImageSql(radius: Int): String = dedupHashSql(radius, 0)

  // the hash INGEST loops cold (image %10=0, audio %10=5, video %10=2 —
  // one definition, the decode paths differ but the survivor rule and
  // the md5-group hash arithmetic are identical): survive iff not the
  // greater side of any hamming-≤-3 pair on the slice
  private def dedupHashIncSql(residue: Int): String =
    s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = $residue), p0 AS (SELECT doc_id, xor(CAST(('0x' || substr(md5(CAST(doc_id - doc_id % 40 AS VARCHAR)), 1, 15)) AS BIGINT), CASE (doc_id % 40) // 10 WHEN 2 THEN 3 WHEN 3 THEN 56 ELSE 0 END) AS h FROM ids), d AS (SELECT b.doc_id FROM p0 a JOIN p0 b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= 3) SELECT doc_id FROM p0 WHERE doc_id NOT IN (SELECT doc_id FROM d) ORDER BY doc_id"""

  // span-level packing (r14): sequence_pack's stream (per-lang,
  // est_tokens, doc_id order) decomposed into per-(doc, sequence)
  // spans — exclusive window cumsum, one generate_series per doc over
  // the sequences it touches, pure integer span arithmetic; shared by
  // the batch op and the cold ingest loop
  private val sequencePackSpansSql =
    """WITH t AS (SELECT doc_id, lang, CAST(CEIL(length(text)/4.0) AS BIGINT) AS n FROM documents), c AS (SELECT doc_id, lang, n, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM t), e AS (SELECT doc_id, lang, n, s, UNNEST(range(s // 64, (s + n - 1) // 64 + 1)) AS seq_id FROM c WHERE n > 0) SELECT doc_id, lang, CAST(seq_id AS BIGINT) AS seq_id, CAST(GREATEST(s, seq_id * 64) - s AS BIGINT) AS doc_off, CAST(GREATEST(s, seq_id * 64) - seq_id * 64 AS BIGINT) AS seq_off, CAST(LEAST(s + n, (seq_id + 1) * 64) - GREATEST(s, seq_id * 64) AS BIGINT) AS n_toks FROM e"""

  // tokenize -> pack (r16), shared by the batch op and the
  // frozen-tokenizer ingest loop's cold run: the span arithmetic over
  // the planted REAL BPE token counts
  private val tokenizePackSql =
    """WITH t AS (SELECT doc_id, lang, CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 4 ELSE 2 END AS BIGINT) AS n FROM documents), c AS (SELECT doc_id, lang, n, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM t), e AS (SELECT doc_id, lang, n, s, UNNEST(range(s // 64, (s + n - 1) // 64 + 1)) AS seq_id FROM c WHERE n > 0) SELECT doc_id, lang, CAST(seq_id AS BIGINT) AS seq_id, CAST(GREATEST(s, seq_id * 64) - s AS BIGINT) AS doc_off, CAST(GREATEST(s, seq_id * 64) - seq_id * 64 AS BIGINT) AS seq_off, CAST(LEAST(s + n, (seq_id + 1) * 64) - GREATEST(s, seq_id * 64) AS BIGINT) AS n_toks FROM e"""

  // the 5-language rig pools as DuckDB list literals — shared by the
  // trained-lang-ID oracle and (r17) the crawl-curation funnel's
  // weak-NB lang stage
  private val rigPools = graft.operators.TextAnalysis.langIdRigPools
  private val rigPoolsList = rigPools.map(_._2.map(w => s"'$w'")
    .mkString("[", ", ", "]")).mkString("[", ", ", "]")

  // the weak-NB scoring chain (r17): given CTEs `lbl` (doc_id, t =
  // lower(text), lang = weak label or NULL, tr = lang IS NOT NULL),
  // produce `nbbest` (doc_id, predicted_lang) — langIdModelSql's exact
  // training + micro-nat scoring, parameterized on the label source
  private val weakNbStages =
    """grams AS (SELECT doc_id, lang, tr, unnest(list_transform(range(1, len(t)), i -> substr(t, CAST(i AS INT), 2))) AS gram FROM lbl WHERE len(t) >= 2),
       nbtf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
       cg AS (SELECT lang AS cand, gram, COUNT(*) AS c FROM grams WHERE tr GROUP BY 1, 2),
       totals AS (SELECT cand, CAST(SUM(c) AS BIGINT) AS nn FROM cg GROUP BY 1),
       vocab AS (SELECT COUNT(DISTINCT gram) AS v FROM cg),
       model AS (SELECT cand, gram, CAST(ROUND(ln((CAST(c AS DOUBLE) + 1.0) / (CAST(nn AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS unats FROM cg JOIN totals USING (cand) CROSS JOIN vocab),
       defaults AS (SELECT cand, CAST(ROUND(ln(1.0 / (CAST(nn AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS d_unats FROM totals CROSS JOIN vocab),
       priors AS (SELECT lang AS cand, CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM lbl WHERE tr) AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS prior_unats FROM lbl WHERE tr GROUP BY 1),
       gsum AS (SELECT nbtf.doc_id, cs.cand, CAST(SUM(nbtf.tf * COALESCE(m.unats, df.d_unats)) AS BIGINT) AS g FROM nbtf CROSS JOIN (SELECT cand FROM priors) cs LEFT JOIN model m ON m.cand = cs.cand AND m.gram = nbtf.gram JOIN defaults df ON df.cand = cs.cand GROUP BY 1, 2),
       nbscored AS (SELECT d.doc_id, p.cand, CAST(p.prior_unats + COALESCE(g.g, 0) AS BIGINT) AS total FROM lbl d CROSS JOIN priors p LEFT JOIN gsum g ON g.doc_id = d.doc_id AND g.cand = p.cand),
       nbbest AS (SELECT doc_id, cand AS predicted_lang, total AS score_unats FROM (SELECT doc_id, cand, total, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY total DESC, cand ASC) AS rk FROM nbscored) WHERE rk = 1)"""

  // TRAINED language ID (r16), shared by the narrow and WIDE-layout
  // twins (identical report): the whole model restated in SQL —
  // planted corpus, char-bigram NB training, micro-nat scoring
  private val langIdModelSql: String = {
      val pools = graft.operators.TextAnalysis.langIdRigPools
      val langList = pools.map(p => s"'${p._1}'").mkString("[", ", ", "]")
      val poolsList = rigPoolsList
      s"""WITH base AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS li, CAST(doc_id % 6 + 5 AS INT) AS n FROM documents),
         docs AS (SELECT doc_id, $langList[li + 1] AS lang, array_to_string(list_transform(range(0, n), i -> $poolsList[li + 1][CAST((doc_id * 7 + i * 11) % 12 AS INT) + 1]), ' ') AS t, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' AS tr FROM base),
         grams AS (SELECT doc_id, lang, tr, unnest(list_transform(range(1, len(t)), i -> substr(t, CAST(i AS INT), 2))) AS gram FROM docs),
         tf AS (SELECT doc_id, gram, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
         cg AS (SELECT lang AS cand, gram, COUNT(*) AS c FROM grams WHERE tr GROUP BY 1, 2),
         totals AS (SELECT cand, CAST(SUM(c) AS BIGINT) AS n FROM cg GROUP BY 1),
         vocab AS (SELECT COUNT(DISTINCT gram) AS v FROM cg),
         model AS (SELECT cand, gram, CAST(ROUND(ln((CAST(c AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS unats FROM cg JOIN totals USING (cand) CROSS JOIN vocab),
         defaults AS (SELECT cand, CAST(ROUND(ln(1.0 / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS d_unats FROM totals CROSS JOIN vocab),
         priors AS (SELECT lang AS cand, CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM docs WHERE tr) AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS prior_unats FROM docs WHERE tr GROUP BY 1),
         gs AS (SELECT tf.doc_id, cs.cand, CAST(SUM(tf.tf * COALESCE(m.unats, df.d_unats)) AS BIGINT) AS g FROM tf CROSS JOIN (SELECT cand FROM priors) cs LEFT JOIN model m ON m.cand = cs.cand AND m.gram = tf.gram JOIN defaults df ON df.cand = cs.cand GROUP BY 1, 2),
         scored AS (SELECT d.doc_id, d.lang, d.tr, p.cand, CAST(p.prior_unats + COALESCE(g.g, 0) AS BIGINT) AS total FROM docs d CROSS JOIN priors p LEFT JOIN gs g ON g.doc_id = d.doc_id AND g.cand = p.cand),
         best AS (SELECT doc_id, lang, tr, cand, total, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY total DESC, cand ASC) AS rk FROM scored)
         SELECT doc_id, lang, cand AS predicted_lang, total AS score_unats, tr AS is_train FROM best WHERE rk = 1 ORDER BY doc_id"""
    }

  // file-scale WARC ingestion (r15), shared by the batch op and the
  // archive ingest loop's cold run: 8 multi-page archives, pages in
  // doc_id order per file, record indexes 3·(rank within file)+{0,1,2}
  private val warcFileIngestSql =
    """WITH u AS (SELECT doc_id, (doc_id // 10) % 8 AS file_id, 3 * (ROW_NUMBER() OVER (PARTITION BY (doc_id // 10) % 8 ORDER BY doc_id) - 1) AS base_idx, 'https://example.com/doc/' || doc_id AS url, text FROM documents WHERE doc_id % 10 = 2) SELECT * FROM (SELECT doc_id, file_id, base_idx AS rec_idx, '<urn:graft:doc:' || doc_id || ':warcinfo>' AS rec_id, 'warcinfo' AS warc_type, '' AS url, '' AS warc_date, 0 AS http_status, 'application/warc-fields' AS mime, 'software: graft-synth' || chr(13) || chr(10) AS body_text FROM u UNION ALL SELECT doc_id, file_id, base_idx + 1, '<urn:graft:doc:' || doc_id || ':request>', 'request', url, '2024-01-01T00:00:00Z', 0, 'application/http;msgtype=request', 'GET ' || url || ' HTTP/1.1' || chr(13) || chr(10) || 'Host: example' || chr(13) || chr(10) || chr(13) || chr(10) FROM u UNION ALL SELECT doc_id, file_id, base_idx + 2, '<urn:graft:doc:' || doc_id || ':response>', 'response', url, '2024-01-01T00:00:00Z', 200, 'text/plain', text FROM u) ORDER BY doc_id, rec_idx"""

  // the URL canonicalization chain (r14), shared by url_dedup and the
  // crawl funnel: expects a CTE `u0` carrying (doc_id, url, …) — extra
  // columns ride the SELECT *s through to `c`
  private val urlCanonStages =
    """s1 AS (SELECT *, regexp_replace(url, '#.*$', '') AS base FROM u0), s2 AS (SELECT *, regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*', 0) AS pre FROM s1), s3 AS (SELECT *, regexp_replace(regexp_replace(lower(pre), '^(http://[^/?]*):80$', '\1'), '^(https://[^/?]*):443$', '\1') AS pren, substr(base, length(pre) + 1) AS tail FROM s2), s4 AS (SELECT *, regexp_replace(tail, '\?.*$', '') AS path, regexp_extract(tail, '\?(.*)$', 1) AS query FROM s3), s5 AS (SELECT *, list_sort(list_filter(string_split(query, '&'), p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid)(=|$)'))) AS params FROM s4), c AS (SELECT *, CASE WHEN pre = '' THEN base ELSE pren || path || (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END) END AS url_canonical FROM s5)"""

  // the per-slot messy URL variants (r14), parameterized on the slice
  // residue so url_dedup and the crawl funnel state the same synth
  private def urlVariantCase(residue: Int): String =
    s"""CASE doc_id % 40 WHEN $residue THEN 'https://news-site.com/Articles/' || a || '?id=1&ref=home' WHEN ${residue + 10} THEN 'HTTPS://News-Site.COM:443/Articles/' || a || '?ref=home&utm_source=feed&id=1' WHEN ${residue + 20} THEN 'https://news-site.com/Articles/' || a || '?id=1&ref=home#section-2' ELSE 'https://news-site.com/Articles/' || a || '?id=2&ref=home' END"""

  // MULTI-frame video near-dup (r14): the per-frame pattern arithmetic
  // of Multimodal.syntheticVideoFramePatterns restated verbatim — 3
  // frames per clip, P(x) = md5-60-bit of (anchor + x), slot 1 = slot 0
  // re-cut by one frame, masks 3/59/56 placing the h∈{0,2,3,3} pairs and
  // the h=5 must-not-emit margin — then the any-frame rule in closed
  // form: pair on ANY frame combo within radius, hamming = MIN over
  // qualifying combos, n_slot_matches = the combo count
  // the multi-frame corpus's per-frame pattern CTE, shared by the pair
  // queries and the ingest loop's survivor closed form
  private val videoMultiFramesCte =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7), fr AS (SELECT doc_id, (doc_id % 40) // 10 AS slot, doc_id - doc_id % 40 AS a, UNNEST([0, 1, 2]) AS fi FROM ids), f AS (SELECT doc_id, xor(CAST(('0x' || substr(md5(CAST(a + CASE WHEN slot = 0 THEN fi WHEN slot = 1 THEN fi + 1 WHEN slot = 2 THEN (CASE WHEN fi = 0 THEN 0 ELSE fi + 9 END) ELSE (CASE WHEN fi = 0 THEN 0 WHEN fi = 1 THEN 12 ELSE 3 END) END AS VARCHAR)), 1, 15)) AS BIGINT), CASE WHEN slot = 2 AND fi = 0 THEN 3 WHEN slot = 3 AND fi = 0 THEN 59 WHEN slot = 3 AND fi = 2 THEN 56 ELSE 0 END) AS h FROM fr)"""

  private def dedupVideoMultiSql(radius: Int): String =
    s"""$videoMultiFramesCte, m AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, bit_count(xor(x.h, y.h)) AS hm FROM f x JOIN f y ON x.doc_id < y.doc_id WHERE bit_count(xor(x.h, y.h)) <= $radius) SELECT doc_a, doc_b, CAST(MIN(hm) AS BIGINT) AS hamming, COUNT(*) AS n_slot_matches FROM m GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""

  // segment-level dedup, shared by the exact and hash-keyed paths
  private val paragraphDedupSql =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), pos AS (SELECT doc_id, w, UNNEST(range(GREATEST(CAST(ceil(len(w) / 10.0) AS BIGINT), 1))) AS pos FROM words), segs AS (SELECT doc_id, CAST(pos AS INT) AS pos, array_to_string(w[(CAST(pos AS INT) * 10 + 1):(CAST(pos AS INT) * 10 + 10)], ' ') AS seg FROM pos), counted AS (SELECT doc_id, pos, seg, COUNT(*) OVER (PARTITION BY doc_id) AS n_segs, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM segs) SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_dedup, COUNT(*) AS n_kept, CAST(MIN(n_segs) - COUNT(*) AS BIGINT) AS n_dropped FROM counted WHERE rn = 1 GROUP BY doc_id"""

  // the full crawl-curation funnel (r15 capstone; r17: weak-NB lang
  // stage + revisit fates) — shared by the batch query and its
  // streaming twin (cold single batch with empty indexes is the SAME
  // code path as the batch funnel, so the oracle is one statement)
  private val crawlCurationSql: String =
    s"""WITH sl AS (SELECT doc_id, doc_id - doc_id % 40 AS grp, text FROM documents WHERE doc_id % 10 = 9), an AS (SELECT doc_id - doc_id % 40 AS grp, text AS atext FROM documents WHERE doc_id % 40 = 9), b AS (SELECT sl.doc_id, sl.grp, CAST(sl.grp AS VARCHAR) AS a, (sl.grp // 40) % 7 = 3 AS bg, CASE WHEN (sl.grp // 40) % 7 = 3 THEN 'spam-mirror.net' ELSE 'news-site.com' END AS h, array_to_string(list_transform(range(0, (sl.grp // 40) % 6 + 5), i -> $rigPoolsList[CAST((sl.grp // 40) % 5 AS INT) + 1][CAST((sl.grp * 7 + i * 11) % 12 AS INT) + 1]), ' ') || ' ' || CASE WHEN sl.doc_id % 40 IN (29, 39) THEN COALESCE(an.atext, sl.text) ELSE sl.text END AS text FROM sl LEFT JOIN an ON sl.grp = an.grp), u0 AS (SELECT doc_id, text, bg, CASE doc_id % 40 WHEN 19 THEN 'HTTPS://' || (CASE WHEN bg THEN 'Spam-Mirror.NET' ELSE 'News-Site.COM' END) || ':443/Articles/' || a || '?ref=home&utm_source=feed&id=1' WHEN 39 THEN 'https://' || h || '/Articles/' || a || '?id=2&ref=home' ELSE 'https://' || h || '/Articles/' || a || '?id=1&ref=home' END AS url FROM b WHERE doc_id % 40 <> 29), $urlCanonStages, uk AS (SELECT doc_id, text, url_canonical, doc_id = MIN(doc_id) OVER (PARTITION BY url_canonical) AS ukeep FROM c WHERE NOT bg), ek AS (SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS ckeep FROM uk WHERE ukeep), hh AS (SELECT doc_id, text, len(list_intersect($docWords, ['der','die','das','und','ist','nicht','mit','ein'])) AS hits_de, len(list_intersect($docWords, ['the','a','of','and','is','not','with','to'])) AS hits_en, len(list_intersect($docWords, ['el','la','de','y','es','no','con','un'])) AS hits_es, len(list_intersect($docWords, ['le','la','de','et','est','pas','avec','un'])) AS hits_fr FROM uk), lb0 AS (SELECT doc_id, lower(text) AS t, CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) >= 3 THEN CASE WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de' WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en' WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es' ELSE 'fr' END END AS lang FROM hh), lbl AS (SELECT doc_id, t, lang, lang IS NOT NULL AS tr FROM lb0), $weakNbStages, mw AS (SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS w, text FROM uk), m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, CAST(length(array_to_string(w, '')) AS BIGINT) AS sum_chars, CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash, CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell, CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha, CAST(len(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop FROM mw), f AS (SELECT doc_id, n_words, CASE WHEN n_words < 50 THEN 'too_few_words' WHEN n_words > 100000 THEN 'too_many_words' WHEN sum_chars < n_words * 3 OR sum_chars > n_words * 10 THEN 'word_len_out_of_band' WHEN (n_hash + n_ell) * 10 > n_words THEN 'symbol_ratio' WHEN n_alpha * 5 < n_words * 4 THEN 'low_alpha_fraction' WHEN n_stop < 2 THEN 'too_few_stopwords' ELSE NULL END AS ff FROM m) SELECT uk.doc_id, uk.url_canonical, nb.predicted_lang, f.n_words, CASE WHEN NOT uk.ukeep THEN 'url_dup' WHEN NOT ek.ckeep THEN 'exact_dup' WHEN f.ff IS NOT NULL THEN f.ff ELSE 'kept' END AS fate FROM uk LEFT JOIN ek ON uk.doc_id = ek.doc_id LEFT JOIN nbbest nb ON uk.doc_id = nb.doc_id JOIN f ON uk.doc_id = f.doc_id UNION ALL SELECT doc_id, 'https://' || h || '/Articles/' || a || '?id=1&ref=home' AS url_canonical, CAST(NULL AS VARCHAR) AS predicted_lang, CAST(NULL AS BIGINT) AS n_words, 'revisit_dup' AS fate FROM b WHERE doc_id % 40 = 29 UNION ALL SELECT doc_id, url_canonical, CAST(NULL AS VARCHAR) AS predicted_lang, CAST(NULL AS BIGINT) AS n_words, 'domain_blocked' AS fate FROM c WHERE bg ORDER BY doc_id"""

  val all: Map[String, String] = Map(

    "stg_orders" ->
      """SELECT o_orderkey AS order_key, o_custkey AS customer_key, o_orderstatus AS order_status, o_totalprice AS total_price, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority AS order_priority FROM orders ORDER BY order_key""",

    "stg_lineitem" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, ROUND(l_extendedprice*(1-l_discount)*100, 0)/100.0 AS net_price, ROUND(l_extendedprice*(1-l_discount)*(1+l_tax)*100, 0)/100.0 AS gross_price, l_returnflag, CAST(l_shipdate AS DATE) AS ship_date FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "fct_bucket" ->
      """SELECT o_orderkey AS id, o_totalprice AS value, o_orderdate AS created_at_ts, CASE WHEN o_totalprice > 100 THEN 'high' ELSE 'regular' END AS bucket FROM orders ORDER BY id""",

    "seed_load" ->
      """SELECT CAST(id AS BIGINT) AS id, name FROM (VALUES (1, 'Alice'), (2, 'Bob')) AS t(id, name) ORDER BY id""",

    "snapshot_scd2" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS valid_from, LEAD(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current FROM orders ORDER BY o_custkey, valid_from, o_orderkey""",

    "snapshot_check" ->
      """WITH x AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate, md5(o_orderstatus) AS chk, LAG(md5(o_orderstatus)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_chk FROM orders), f AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM x WHERE prev_chk IS NULL OR chk <> prev_chk), v AS (SELECT o_custkey, o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS valid_from, LEAD(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to FROM f) SELECT o_custkey, o_orderkey, o_orderstatus, valid_from, valid_to, valid_to IS NULL AS is_current FROM v ORDER BY o_custkey, valid_from, o_orderkey""",

    "snapshot_hard_delete" ->
      """WITH v AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS valid_from, LEAD(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current FROM orders), live AS (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 10 <> 0) SELECT v.o_custkey, v.o_orderkey, v.valid_from, CASE WHEN live.o_custkey IS NULL AND v.is_current THEN DATE '1998-12-31' ELSE v.valid_to END AS valid_to, CASE WHEN live.o_custkey IS NULL THEN FALSE ELSE v.is_current END AS is_current FROM v LEFT JOIN live ON v.o_custkey = live.o_custkey ORDER BY v.o_custkey, v.valid_from, v.o_orderkey""",

    "pipeline_run" ->
      """WITH stg AS (SELECT o_orderkey AS order_key, o_totalprice AS total_price FROM orders) SELECT order_key AS id, total_price AS value, CASE WHEN total_price > 200000 THEN 'high' ELSE 'regular' END AS bucket FROM stg ORDER BY id""",

    "pr_data_diff" ->
      """WITH flips AS (SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 100000.0 AND o_totalprice <= 200000.0), tot AS (SELECT COUNT(*) AS n FROM orders), deva AS (SELECT o_totalprice > 200000.0 AS hot, COUNT(*) AS n FROM orders GROUP BY 1), proda AS (SELECT o_totalprice > 100000.0 AS hot, COUNT(*) AS n FROM orders GROUP BY 1), adp AS (SELECT COUNT(*) AS n FROM (SELECT * FROM deva EXCEPT SELECT * FROM proda)), apd AS (SELECT COUNT(*) AS n FROM (SELECT * FROM proda EXCEPT SELECT * FROM deva)) SELECT model, diff_type, CAST(n AS BIGINT) AS n FROM (SELECT 'agg' AS model, 'in_dev_not_in_prod' AS diff_type, n FROM adp UNION ALL SELECT 'agg', 'in_prod_not_in_dev', n FROM apd UNION ALL SELECT 'agg', 'summary_dev_rows', (SELECT COUNT(*) FROM deva) UNION ALL SELECT 'agg', 'summary_prod_rows', (SELECT COUNT(*) FROM proda) UNION ALL SELECT 'fct', 'in_dev_not_in_prod', LEAST(n, 100) FROM flips UNION ALL SELECT 'fct', 'in_prod_not_in_dev', LEAST(n, 100) FROM flips UNION ALL SELECT 'fct', 'summary_dev_rows', n FROM tot UNION ALL SELECT 'fct', 'summary_prod_rows', n FROM tot) ORDER BY model, diff_type""",

    "incremental_merge" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS src FROM orders), delta AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1 AS o_totalprice, 1 AS src FROM orders WHERE o_orderkey % 10 = 0), u AS (SELECT * FROM base UNION ALL SELECT * FROM delta), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM u) SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM r WHERE rn = 1 ORDER BY o_orderkey""",

    // ACID-format paths: same answers as their parquet-dir counterparts
    "txlog_incremental" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS src FROM orders), delta AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1 AS o_totalprice, 1 AS src FROM orders WHERE o_orderkey % 10 = 0), u AS (SELECT * FROM base UNION ALL SELECT * FROM delta), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM u) SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM r WHERE rn = 1 ORDER BY o_orderkey""",

    "txlog_merge" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), u AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1 AS o_totalprice FROM b WHERE o_orderkey % 10 = 0), i AS (SELECT o_orderkey + 5000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus, o_totalprice FROM b WHERE o_orderkey % 1000 = 1), d AS (SELECT * FROM u UNION ALL SELECT * FROM i) SELECT * FROM b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d) UNION ALL SELECT * FROM d ORDER BY o_orderkey""",

    "txlog_timetravel" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey""",

    "txlog_scan" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS revenue FROM orders WHERE o_custkey <= 500 AND o_totalprice > 1000.0 GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "txlog_changes" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version FROM orders WHERE o_orderkey % 5 = 0 ORDER BY o_orderkey""",

    "schema_evolution" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' UNION ALL SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' ORDER BY o_orderkey""",

    "schema_sync" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS BIGINT) AS o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' UNION ALL SELECT o_orderkey, o_totalprice, o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' ORDER BY o_orderkey""",

    "test_suite" ->
      """SELECT * FROM (SELECT 'accepted_values_o_orderstatus' AS test_name, (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P')) AS violations UNION ALL SELECT 'not_null_o_custkey', (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) UNION ALL SELECT 'relationships_o_custkey', (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) UNION ALL SELECT 'unique_o_orderkey', (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1) v)) ORDER BY test_name""",

    "dev_prod_diff" ->
      """WITH dev AS (SELECT o_orderkey AS id, CASE WHEN o_totalprice > 200000 THEN 'high' ELSE 'regular' END AS bucket FROM orders), prod AS (SELECT o_orderkey AS id, CASE WHEN o_totalprice > 300000 THEN 'high' ELSE 'regular' END AS bucket FROM orders), diff AS (SELECT 'in_dev_not_in_prod' AS diff_type, id, bucket FROM (SELECT * FROM dev EXCEPT SELECT * FROM prod) UNION ALL SELECT 'in_prod_not_in_dev' AS diff_type, id, bucket FROM (SELECT * FROM prod EXCEPT SELECT * FROM dev)), capped AS (SELECT * FROM diff ORDER BY diff_type, id LIMIT 100), summary AS (SELECT 'summary_dev_rows' AS diff_type, (SELECT COUNT(*) FROM dev) AS id, CAST(NULL AS VARCHAR) AS bucket UNION ALL SELECT 'summary_prod_rows', (SELECT COUNT(*) FROM prod), NULL) SELECT * FROM (SELECT * FROM capped UNION ALL SELECT * FROM summary) ORDER BY diff_type, id""",

    "schema_diff" ->
      """SELECT * FROM (VALUES ('added_in_dev', 'build_id', 'int not null', CAST(NULL AS VARCHAR)), ('added_in_dev', 'o_orderpriority', 'string', NULL), ('missing_in_dev', 'o_orderstatus', CAST(NULL AS VARCHAR), 'string'), ('nullability_changed', 'o_orderkey', 'bigint not null', 'bigint'), ('type_changed', 'o_custkey', 'int', 'bigint'), ('type_changed', 'o_totalprice', 'double', 'decimal(18,2)')) AS t(change, column_name, dev_type, prod_type) ORDER BY change, column_name""",

    "surrogate_key" ->
      """SELECT o_orderkey, md5(concat_ws('-', COALESCE(CAST(o_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'), COALESCE(o_orderstatus, '_dbt_utils_surrogate_key_null_'), COALESCE(o_orderpriority, '_dbt_utils_surrogate_key_null_'))) AS surrogate_key FROM orders ORDER BY o_orderkey""",

    "date_spine" ->
      """SELECT CAST(DATE '2024-01-01' + CAST(i AS INTEGER) AS DATE) AS date_day FROM range(182) t(i) ORDER BY date_day""",

    "dbt_utils_tests" ->
      """SELECT * FROM (SELECT 'at_least_one_o_totalprice' AS test_name, CAST(CASE WHEN (SELECT COUNT(o_totalprice) FROM orders) >= 1 THEN 0 ELSE 1 END AS BIGINT) AS violations UNION ALL SELECT 'equal_rowcount_orders_customer', CAST(abs((SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM customer)) AS BIGINT) UNION ALL SELECT 'equal_rowcount_orders_orders', CAST(0 AS BIGINT) UNION ALL SELECT 'not_constant_o_totalprice', CAST(CASE WHEN (SELECT COUNT(DISTINCT o_totalprice) FROM orders) > 1 THEN 0 ELSE 1 END AS BIGINT) UNION ALL SELECT 'unique_combination_o_custkey_o_orderdate', (SELECT COUNT(*) FROM (SELECT o_custkey, o_orderdate FROM orders GROUP BY 1, 2 HAVING COUNT(*) > 1) v) UNION ALL SELECT 'accepted_range_o_totalprice', (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0 OR o_totalprice > 1000000)) ORDER BY test_name""",

    "source_freshness" ->
      """WITH e AS (SELECT event_type, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s FROM events), m AS (SELECT event_type, MAX(ts_s) AS max_ts_s FROM e GROUP BY event_type) SELECT event_type, max_ts_s, CAST(FLOOR((1706745600 - max_ts_s) / 3600.0) AS BIGINT) AS age_hours, CASE WHEN (1706745600 - max_ts_s) > 72*3600 THEN 'error' WHEN (1706745600 - max_ts_s) > 24*3600 THEN 'warn' ELSE 'ok' END AS status FROM m ORDER BY event_type""",

    "json_extract" ->
      """SELECT event_id, user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id""",

    "test_failures" ->
      """SELECT 'accepted_values_o_orderpriority' AS test_name, o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM') ORDER BY o_orderkey""",

    "table_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      cols.map(c =>
        s"SELECT '$c' AS column_name, COUNT(*) AS n_rows, COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct FROM orders")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY column_name")
    },

    "token_budget" ->
      """WITH t AS (SELECT doc_id, lang, CAST(CEIL(length(text)/4.0) AS BIGINT) AS est_tokens FROM documents), c AS (SELECT doc_id, lang, est_tokens, SUM(est_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens FROM t) SELECT doc_id, lang, est_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c WHERE cum_tokens <= 2000 ORDER BY lang, doc_id""",

    "sequence_pack" ->
      """WITH t AS (SELECT doc_id, lang, CAST(CEIL(length(text)/4.0) AS BIGINT) AS est_tokens FROM documents), c AS (SELECT doc_id, lang, est_tokens, CAST(COALESCE(SUM(est_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM t) SELECT doc_id, lang, est_tokens, cum_before // 2048 AS bin_id, cum_before % 2048 AS bin_offset, ((cum_before + est_tokens - 1) // 2048) > (cum_before // 2048) AS spans_boundary FROM c ORDER BY lang, doc_id""",

    // the crawl funnel (r14): WARC → HTML extraction → URL dedup in one
    // closed form — the per-slot URL synth (residue 3), the extracted
    // visible text, the canonicalization chain, first-doc-per-canonical
    "crawl_funnel" ->
      s"""WITH d0 AS (SELECT doc_id, CAST(doc_id - doc_id % 40 AS VARCHAR) AS a, text AS t0 FROM documents WHERE doc_id % 10 = 3), u0 AS (SELECT doc_id, ${urlVariantCase(3)} AS url, 'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || t0 || ' & more' AS text FROM d0), $urlCanonStages SELECT doc_id, url_canonical, doc_id = MIN(doc_id) OVER (PARTITION BY url_canonical) AS keep, text FROM c ORDER BY doc_id""",

    // HTML extraction (r14): script/style/comment blocks vanish with
    // their content, tags strip, entities decode, whitespace collapses —
    // the synthetic page's visible text in closed form
    "html_extract" ->
      """SELECT doc_id, 'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text || ' & more' AS text FROM documents WHERE doc_id % 10 = 8 ORDER BY doc_id""",

    // the full crawl-curation pipeline (r15 capstone; r17: the lang
    // stage is the weak-supervised TRAINED model and slot 29 arrives
    // as a REVISIT record): archive files → streamed WARC (responses
    // AND revisits) → revisit digest fate (closed form: the anchor's
    // page is always in-batch, so every revisit is revisit_dup) →
    // boilerplate removal (body = pool-word prefix + doc text,
    // verbatim; chrome gone) → URL dedup → exact-content dedup (the
    // syndicated copy at a distinct canonical URL) → weak-NB lang ID
    // (lexicon-confident rows label, the NB chain scores everyone) →
    // Gopher gauntlet; one per-document fate table restating every
    // stage's closed form
    "crawl_curation" -> crawlCurationSql,

    // the streaming twin: AvailableNow cold = one batch with empty
    // indexes = the batch funnel (same code path) -> same oracle
    "crawl_curation_inc" -> crawlCurationSql,

    // the end-to-end landing loop cold: every archive lands before the
    // single tick -> one cold funnel batch = the batch funnel
    "crawl_curation_e2e" -> crawlCurationSql,

    // block-level boilerplate removal (r15; numeric refs r17): the
    // planted chrome — nav menu, cookie banner, heading, read-more row,
    // link-dense footer — classifies out on the integer
    // length + link-density gate; only the body paragraph survives,
    // with its planted &#233;/&#x2014; DECODED (chr(233), em-dash) and
    // the invalid &#xD800; surrogate kept literal
    "boilerplate_extract" ->
      """SELECT doc_id, 'Doc ' || doc_id || ' caf' || chr(233) || ' ' || chr(8212) || ' &#xD800; body text: ' || text || ' and more tail words' AS text FROM documents WHERE doc_id % 10 = 7 ORDER BY doc_id""",

    // DOM-grade boilerplate removal (r16; numeric refs r17): the same
    // closed form — a quoted '>' in the body tag's attribute must NOT
    // leak into the text (the regex twin would emit 'y">Doc …'), and
    // the chrome still drops; passing this oracle requires the
    // quote-aware parse AND the bounded numeric-reference decode
    "dom_main_text" ->
      """SELECT doc_id, 'Doc ' || doc_id || ' caf' || chr(233) || ' ' || chr(8212) || ' &#xD800; body text: ' || text || ' and more tail words' AS text FROM documents WHERE doc_id % 10 = 7 ORDER BY doc_id""",

    // URL host / registered domain / blocklist (r16): every planted
    // variant's host, eTLD+1 under the suffix subset, and registrant
    // verdict are literal closed forms by slot
    "url_host_domain" ->
      """SELECT doc_id, CASE doc_id % 50 WHEN 6 THEN 'https://User:pw@WWW.News-Site.CO.UK:443/p/a?x=1' WHEN 16 THEN 'http://blog' || CAST(doc_id % 3 AS VARCHAR) || '.Example.COM:8080/x' WHEN 26 THEN 'https://192.168.1.9:8443/admin' WHEN 36 THEN 'http://localhost/dev' ELSE 'mailto:a@b.c' END AS url, CASE doc_id % 50 WHEN 6 THEN 'www.news-site.co.uk' WHEN 16 THEN 'blog' || CAST(doc_id % 3 AS VARCHAR) || '.example.com' WHEN 26 THEN '192.168.1.9' WHEN 36 THEN 'localhost' ELSE NULL END AS host, CASE doc_id % 50 WHEN 6 THEN 'news-site.co.uk' WHEN 16 THEN 'example.com' WHEN 26 THEN '192.168.1.9' WHEN 36 THEN 'localhost' ELSE NULL END AS reg_domain, CASE doc_id % 50 WHEN 16 THEN TRUE WHEN 26 THEN TRUE ELSE FALSE END AS blocked FROM documents WHERE doc_id % 10 = 6 ORDER BY doc_id""",

    // LOADED Public Suffix List (r17): every planted slot's host,
    // eTLD+1 under the loaded rule set, and block verdict are literal
    // closed forms — exception (www.ck), wildcard one-label extension
    // (foo.bar.ck), longest exact (act.edu.au), bare-suffix NULL
    // (co.uk), default `*` rule (tld.zz); example.co.uk is blocked
    "url_host_domain_psl" ->
      """SELECT doc_id, CASE doc_id % 50 WHEN 6 THEN 'https://WWW.CK/about' WHEN 16 THEN 'http://shop.foo.bar.ck/x' WHEN 26 THEN 'https://sub.Example.CO.UK:8443/p' WHEN 36 THEN 'http://a.act.edu.au/x' WHEN 46 THEN 'https://co.uk/' ELSE 'https://unknown.tld.zz/x' END AS url, CASE doc_id % 50 WHEN 6 THEN 'www.ck' WHEN 16 THEN 'shop.foo.bar.ck' WHEN 26 THEN 'sub.example.co.uk' WHEN 36 THEN 'a.act.edu.au' WHEN 46 THEN 'co.uk' ELSE 'unknown.tld.zz' END AS host, CASE doc_id % 50 WHEN 6 THEN 'www.ck' WHEN 16 THEN 'foo.bar.ck' WHEN 26 THEN 'example.co.uk' WHEN 36 THEN 'a.act.edu.au' WHEN 46 THEN NULL ELSE 'tld.zz' END AS reg_domain, CASE doc_id % 50 WHEN 26 THEN TRUE ELSE FALSE END AS blocked FROM documents WHERE doc_id % 10 = 6 ORDER BY doc_id""",

    // per-domain quota under the loaded eTLD+1 (r17): the gate keeps
    // the four unblocked registrants, and the md5-order keep rule is
    // domain_quota's closed form over them
    "domain_quota_psl" ->
      """WITH g AS (SELECT doc_id, CASE doc_id % 50 WHEN 6 THEN 'www.ck' WHEN 16 THEN 'foo.bar.ck' WHEN 36 THEN 'a.act.edu.au' WHEN 46 THEN NULL WHEN 26 THEN NULL ELSE 'tld.zz' END AS source FROM documents WHERE doc_id % 10 = 6) SELECT doc_id, source, rk FROM (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM g WHERE source IS NOT NULL) WHERE rk <= 3 ORDER BY doc_id""",

    // packing-efficiency report (r16): the shared span stream at ctx=64
    // aggregated per lang — docs / sequences / real vs pad tokens /
    // integer-ppm utilization / boundary-split docs, all exact BIGINTs
    "pack_efficiency" ->
      s"""WITH spans AS ($sequencePackSpansSql), pd AS (SELECT lang, doc_id, COUNT(*) AS k, SUM(n_toks) AS t FROM spans GROUP BY 1, 2), da AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(t) AS BIGINT) AS n_toks, CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS split_docs FROM pd GROUP BY 1), sa AS (SELECT lang, CAST(MAX(seq_id) + 1 AS BIGINT) AS n_seqs FROM spans GROUP BY 1) SELECT lang, n_docs, n_seqs, n_toks, CAST(n_seqs * 64 - n_toks AS BIGINT) AS pad_toks, CAST(CAST(n_toks AS HUGEINT) * 1000000 // (CAST(n_seqs AS HUGEINT) * 64) AS BIGINT) AS util_ppm, split_docs FROM da JOIN sa USING (lang) ORDER BY lang""",

    // URL dedup (r14): the messy per-slot URL synth + the normalization
    // chain (fragment strip, lowercase scheme://authority, default-port
    // drop, tracking-param drop + param sort) + first-doc-per-canonical
    "url_dedup" ->
      s"""WITH d AS (SELECT doc_id, CAST(doc_id - doc_id % 40 AS VARCHAR) AS a FROM documents WHERE doc_id % 10 = 6), u0 AS (SELECT doc_id, ${urlVariantCase(6)} AS url FROM d), $urlCanonStages SELECT doc_id, url, url_canonical, doc_id = MIN(doc_id) OVER (PARTITION BY url_canonical) AS keep FROM c ORDER BY doc_id""",

    // WARC ingestion (r14): the synthetic crawl file's three records in
    // closed form — warcinfo (fixed fields), request (the HTTP request
    // line rebuilt with explicit CRLFs), response (status 200,
    // text/plain, body = the document text byte-for-byte through
    // gzip + WARC framing + HTTP header parsing)
    "warc_ingest" ->
      """WITH u AS (SELECT doc_id, 'https://example.com/doc/' || doc_id AS url, text FROM documents WHERE doc_id % 10 = 4) SELECT * FROM (SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type, '' AS url, '' AS warc_date, 0 AS http_status, 'application/warc-fields' AS mime, 'software: graft-synth' || chr(13) || chr(10) AS body_text FROM u UNION ALL SELECT doc_id, 1, 'request', url, '2024-01-01T00:00:00Z', 0, 'application/http;msgtype=request', 'GET ' || url || ' HTTP/1.1' || chr(13) || chr(10) || 'Host: example' || chr(13) || chr(10) || chr(13) || chr(10) FROM u UNION ALL SELECT doc_id, 2, 'response', url, '2024-01-01T00:00:00Z', 200, 'text/plain', text FROM u) ORDER BY doc_id, rec_idx""",

    // FILE-scale WARC ingestion (r15): 8 multi-page archives, pages in
    // doc_id order per file — so a page's record indexes are the closed
    // form 3·(its rank within its file) + {0,1,2}; the per-record
    // WARC-Record-ID provenance stamp is stated verbatim
    "warc_file_ingest" -> warcFileIngestSql,

    // revisit-record dedup (r16): originals keep, revisits resolve
    // their group original via the digest join — structural per 2-doc
    // group (the anchor-existence LEFT JOIN keeps the orphan path
    // honest even though the contiguous-id corpora never exercise it)
    "crawl_revisit_dedup" ->
      """WITH ids AS (SELECT doc_id, doc_id - doc_id % 20 AS a FROM documents WHERE doc_id % 10 = 9), anch AS (SELECT DISTINCT doc_id - doc_id % 20 AS a FROM documents WHERE doc_id % 20 = 9) SELECT i.doc_id, CASE WHEN i.doc_id % 20 = 9 THEN 'response' ELSE 'revisit' END AS warc_type, CASE WHEN i.doc_id % 20 = 9 THEN 'kept' WHEN n.a IS NOT NULL THEN 'revisit_dup' ELSE 'revisit_orphan' END AS fate, CASE WHEN i.doc_id % 20 = 19 AND n.a IS NOT NULL THEN i.a + 9 ELSE NULL END AS dup_of FROM ids i LEFT JOIN anch n ON i.a = n.a ORDER BY i.doc_id""",

    // NFC normalization (r15): the decomposed plants compose to the
    // precomposed closed form; the ligature survives (canonical, not
    // compatibility, folding); ASCII text is a fixed point
    "nfc_normalize" ->
      """SELECT doc_id, text || ' café Å ñ ﬁn' AS text FROM documents WHERE doc_id % 10 = 5 ORDER BY doc_id""",

    // mojibake repair (r15): the planted corruptions recover to the
    // stated clean string; ASCII doc text is a fixed point of the
    // repair, so the expected output is pure concatenation
    "fix_mojibake" ->
      """SELECT doc_id, text || ' Café — naïve ’s' AS text FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""",

    // HTTP body decoding (r15; TE-layer gzip + decoded flag r16): chunk
    // framing, gzip under it on half the pages, and a TE-layer gzip
    // ("Transfer-Encoding: gzip, chunked") on a quarter must all
    // vanish — the recovered body IS the document text, byte-for-byte,
    // and every planted stack decodes, so the flag is TRUE across the
    // board
    "warc_http_decode" ->
      """SELECT doc_id, 200 AS http_status, 'text/plain' AS mime, text AS body_text, TRUE AS body_decoded FROM documents WHERE doc_id % 10 = 1 ORDER BY doc_id""",

    // the archive ingest loop cold (r15): single batch ⇒ the landing
    // dir holds exactly the batch's archives ⇒ the batch op's closed
    // form — one oracle adjudicates listing diff + streamed parse +
    // exactly-once appends
    "warc_file_ingest_inc" -> warcFileIngestSql,

    // BM25 top-k (r14): tf/dl/df/N from the %50<>0 corpus, each
    // (term, doc) weight one double chain rounded once to micro-units,
    // per-(query, doc) integer sums, top-5 under the total order
    // (score desc, doc_id)
    "bm25_topk" ->
      """WITH tf0 AS (SELECT doc_id, UNNEST(list_filter(string_split(lower(trim(text)), ' '), x -> x <> '')) AS t FROM documents WHERE doc_id % 50 <> 0), tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tf0 GROUP BY doc_id, t), dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id), st AS (SELECT COUNT(*) AS nd, SUM(dl) AS toklen FROM dl), dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t), w AS (SELECT tf.t, tf.doc_id, CAST(ROUND(ln((CAST(st.nd AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5) / (CAST(dft.df AS DOUBLE) + 0.5) + 1.0) * (CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) * CAST(st.nd AS DOUBLE) / CAST(st.toklen AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS w_micro FROM tf JOIN dl USING (doc_id) JOIN dft USING (t) CROSS JOIN st), q AS (SELECT doc_id AS query_id, UNNEST(list_distinct(list_filter(string_split(lower(trim(text)), ' '), x -> x <> ''))) AS t FROM documents WHERE doc_id % 50 = 0), s AS (SELECT q.query_id, w.doc_id, CAST(SUM(w.w_micro) AS BIGINT) AS score_micro FROM q JOIN w USING (t) GROUP BY q.query_id, w.doc_id), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank FROM s) SELECT query_id, doc_id, score_micro, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""",

    // span-level packing (r14): sequence_pack's stream (per-lang,
    // est_tokens, doc_id order) decomposed into per-(doc, sequence)
    // spans — exclusive window cumsum, one generate_series per doc over
    // the sequences it touches, pure integer span arithmetic
    "sequence_pack_spans" -> sequencePackSpansSql,

    // packed-sequence materializer (r15): the span closed form grouped
    // per sequence — seq_off-ordered slice and reset strings, exact
    // integer counts (SUM cast back to BIGINT: DuckDB widens to
    // HUGEINT, which the typed hash compare rejects)
    "sequence_pack_mat" ->
      s"""WITH spans AS ($sequencePackSpansSql) SELECT lang, seq_id, CAST(COUNT(*) AS BIGINT) AS n_spans, CAST(SUM(n_toks) AS BIGINT) AS n_toks, string_agg(doc_id || ':' || doc_off || ':' || n_toks, ';' ORDER BY seq_off) AS slices, string_agg(seq_off, ',' ORDER BY seq_off) AS resets FROM spans GROUP BY lang, seq_id ORDER BY lang, seq_id""",

    // the packing ingest loop cold: one AvailableNow batch ≡ the batch
    // op — one definition (the substringDedupSql convention)
    "sequence_pack_inc" -> sequencePackSpansSql,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, ${cents("l_extendedprice")} AS sum_base_price, $revenue AS sum_disc_price, $revenue/COUNT(*) AS avg_disc_price, COUNT(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q3_topk" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority, $revenue AS revenue FROM customer, orders, lineitem WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01' GROUP BY l_orderkey, order_date, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q5_multijoin" ->
      s"""SELECT n_name, $revenue AS revenue FROM lineitem, orders, customer, supplier, nation, region WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "window_running" ->
      """SELECT o_custkey, o_orderkey, SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0 AS running_spend, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq FROM orders ORDER BY o_custkey, o_orderkey""",

    "agg_stats" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders, COUNT(DISTINCT o_custkey) AS n_customers, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, ${cents("o_totalprice")}/COUNT(*) AS avg_price, ROUND(STDDEV_SAMP(o_totalprice)*100, 0)/100.0 AS stddev_price FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "semi_anti_join" ->
      """SELECT c_custkey, c_name, EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_orders FROM customer ORDER BY c_custkey""",

    "grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS total_price FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "rollup_agg" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS total_price FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "cube_agg" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS total_price FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "set_ops" ->
      """WITH b96 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996), b97 AS (SELECT DISTINCT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997) SELECT 'both_years' AS set_op, o_custkey FROM (SELECT o_custkey FROM b96 INTERSECT SELECT o_custkey FROM b97) UNION ALL SELECT 'only_1996' AS set_op, o_custkey FROM (SELECT o_custkey FROM b96 EXCEPT SELECT o_custkey FROM b97) ORDER BY set_op, o_custkey""",

    "pivot_wide" -> {
      val cell = (t: String) =>
        s"COALESCE(SUM(CASE WHEN event_type = '$t' THEN CAST(ROUND(value*100, 0) AS BIGINT) END), 0)/100.0 AS ${t}_value"
      s"""SELECT user_id, ${Seq("click", "error", "purchase", "signup", "view").map(cell).mkString(", ")} FROM events GROUP BY user_id ORDER BY user_id"""
    },

    "customer_ltv" ->
      """WITH p AS (SELECT o_custkey, COUNT(*) AS n_orders, SUM(CAST(ROUND(o_totalprice*100, 0) AS BIGINT)) AS spend_cents, CAST(MIN(o_orderdate) AS DATE) AS first_order, CAST(MAX(o_orderdate) AS DATE) AS last_order FROM orders GROUP BY o_custkey) SELECT c_custkey, c_name, c_mktsegment, n_orders, spend_cents/100.0 AS total_spend, first_order, last_order, date_diff('day', first_order, last_order) AS tenure_days, CAST(RANK() OVER (PARTITION BY c_mktsegment ORDER BY spend_cents DESC, c_custkey) AS BIGINT) AS segment_spend_rank FROM customer JOIN p ON c_custkey = o_custkey ORDER BY c_custkey""",

    "stream_enrich" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_events, ${cents("value")} AS total_value FROM events JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // the stream is run TWICE with identical batch tags before this
    // aggregate — replayed appends are skipped by the txlog ledger, so a
    // single duplicate would double every count and fail the compare
    "stream_txlog_sink" ->
      s"""SELECT event_type, COUNT(*) AS n_events, ${cents("value")} AS total_value FROM events GROUP BY event_type ORDER BY event_type""",

    "dedup_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY o_orderstatus, o_orderpriority""",

    "quantiles" ->
      """SELECT o_orderpriority, ROUND(quantile_cont(o_totalprice, 0.5)*100, 0)/100.0 AS p50, ROUND(quantile_cont(o_totalprice, 0.9)*100, 0)/100.0 AS p90, ROUND(quantile_cont(o_totalprice, 0.99)*100, 0)/100.0 AS p99 FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "date_parts" ->
      """SELECT o_orderkey, EXTRACT(year FROM o_orderdate) AS y, EXTRACT(quarter FROM o_orderdate) AS q, EXTRACT(month FROM o_orderdate) AS m, EXTRACT(day FROM o_orderdate) AS d, EXTRACT(dow FROM o_orderdate) AS dow, EXTRACT(week FROM o_orderdate) AS week FROM orders ORDER BY o_orderkey""",

    "dedup_ngram" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars, list_distinct(list_transform(range(1, len(string_split(lower(trim(text)), ' '))-1), i -> string_split(lower(trim(text)), ' ')[i] || ' ' || string_split(lower(trim(text)), ' ')[i+1] || ' ' || string_split(lower(trim(text)), ' ')[i+2])) AS s FROM documents) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 10000, 0)/10000.0 AS jaccard FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.n_chars // 100) = (b.n_chars // 100) WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3 ORDER BY doc_a, doc_b""",

    // containment over the df<=100 shingle universe (numerator AND
    // denominator count only shingles in <=100 docs — the operator's
    // documented boilerplate trade, stated identically here)
    "dedup_containment" -> containmentPairsSql,

    // the incremental screen's COLD single-batch run is the batch closed
    // form by construction (same F12 aggregate, same capped universe,
    // same ratio) — the same oracle adjudicates the whole ingest loop:
    // shingle indexing, bounded merge, size bookkeeping, pair emission,
    // and the exactly-once appends (the substring_dedup_inc pattern)
    "containment_inc" -> containmentPairsSql,

    // sequential funnel: quota ranks only dedup+quality survivors,
    // budget accumulates only dedup+quality+quota survivors — the
    // subset-window-then-left-join shape both engines state
    "curation_funnel" ->
      """WITH base AS (SELECT doc_id, lang, source, md5(lower(trim(text))) AS digest, (length(text) >= 100 AND len(string_split(lower(trim(text)), ' ')) >= 20) AS pass_quality, CAST(CEIL(length(text)/4.0) AS BIGINT) AS tok FROM documents), d AS (SELECT *, (ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) = 1) AS pass_dedup FROM base), q AS (SELECT doc_id, (ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 15) AS pass_quota FROM d WHERE pass_dedup AND pass_quality), dq AS (SELECT d.doc_id, d.lang, d.tok, d.pass_dedup, d.pass_quality, COALESCE(q.pass_quota, FALSE) AS pass_quota FROM d LEFT JOIN q USING (doc_id)), b AS (SELECT doc_id, (SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 5000) AS pass_budget FROM dq WHERE pass_dedup AND pass_quality AND pass_quota) SELECT dq.doc_id, dq.pass_dedup, dq.pass_quality, dq.pass_quota, COALESCE(b.pass_budget, FALSE) AS pass_budget, (dq.pass_dedup AND dq.pass_quality AND dq.pass_quota AND COALESCE(b.pass_budget, FALSE)) AS kept FROM dq LEFT JOIN b USING (doc_id) ORDER BY doc_id""",

    // the ARRIVAL-order funnel (quota ranks by doc_id, not the md5
    // draw) — the closed form of the incremental loop, and its oracle:
    // the only textual difference from curation_funnel is the quota
    // window's ORDER BY
    "curation_funnel_arrival" -> curationFunnelArrivalSql,

    // the incremental funnel's COLD single-batch run IS the arrival
    // closed form (within-batch rank + zero state offsets = the closed
    // form's windows), so the same oracle adjudicates the whole ingest
    // loop: the digest index probe, the quota/budget offset arithmetic,
    // the batch-scoped state reads, and the four exactly-once appends
    "curation_funnel_inc" -> curationFunnelArrivalSql,

    // funnel × cascade: the quality stage is the cascade's CASE chain
    // (quality_cascade's oracle verbatim), nested inside the funnel's
    // sequential stage CTEs — drops attribute to a stage AND a rule
    "curation_funnel_cascade" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM w WHERE word <> '' GROUP BY doc_id, word), ts AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_share FROM cnt GROUP BY doc_id), casc AS (SELECT d.doc_id, CASE WHEN length(d.text) < 100 THEN 'too_short' WHEN len(string_split(lower(trim(d.text)), ' ')) < 20 THEN 'too_few_words' WHEN CAST(length(replace(d.text, ' ', '')) AS DOUBLE) / len(string_split(lower(trim(d.text)), ' ')) < 2.0 OR CAST(length(replace(d.text, ' ', '')) AS DOUBLE) / len(string_split(lower(trim(d.text)), ' ')) > 12.0 THEN 'word_len_out_of_band' WHEN ts.top_share > 0.2 THEN 'repetitive' ELSE NULL END AS ff FROM documents d LEFT JOIN ts ON d.doc_id = ts.doc_id), base AS (SELECT d.doc_id, d.lang, d.source, md5(lower(trim(d.text))) AS digest, (c.ff IS NULL) AS pass_quality, COALESCE(c.ff, '') AS quality_fail_rule, CAST(CEIL(length(d.text)/4.0) AS BIGINT) AS tok FROM documents d JOIN casc c ON d.doc_id = c.doc_id), dd AS (SELECT *, (ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) = 1) AS pass_dedup FROM base), q AS (SELECT doc_id, (ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 15) AS pass_quota FROM dd WHERE pass_dedup AND pass_quality), dq AS (SELECT dd.doc_id, dd.lang, dd.tok, dd.pass_dedup, dd.pass_quality, dd.quality_fail_rule, COALESCE(q.pass_quota, FALSE) AS pass_quota FROM dd LEFT JOIN q USING (doc_id)), b AS (SELECT doc_id, (SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 5000) AS pass_budget FROM dq WHERE pass_dedup AND pass_quality AND pass_quota) SELECT dq.doc_id, dq.pass_dedup, dq.pass_quality, dq.quality_fail_rule, dq.pass_quota, COALESCE(b.pass_budget, FALSE) AS pass_budget, (dq.pass_dedup AND dq.pass_quality AND dq.pass_quota AND COALESCE(b.pass_budget, FALSE)) AS kept FROM dq LEFT JOIN b USING (doc_id) ORDER BY doc_id""",

    // bucket thresholds + the 2-hex-char md5 gate stated identically:
    // fixed-length lowercase-hex string compare = exact k/256 sampling
    "quality_sample" ->
      """WITH b AS (SELECT doc_id, lang, CASE WHEN length(text) >= 200 AND len(string_split(lower(trim(text)), ' ')) >= 40 THEN 'head' WHEN length(text) >= 100 AND len(string_split(lower(trim(text)), ' ')) >= 20 THEN 'middle' ELSE 'tail' END AS bucket, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS g FROM documents) SELECT doc_id, lang, bucket FROM b WHERE bucket = 'head' OR (bucket = 'middle' AND g < '80') OR (bucket = 'tail' AND g < '1a') ORDER BY doc_id""",

    // containment pairs → transitive closure → min-label components —
    // the dedup_clusters recursive-CTE pattern over the df-capped
    // containment edge set (same CTE chain as dedup_containment)
    "containment_clusters" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w WHERE len(ws) >= 3), e AS (SELECT doc_id, unnest(sh) AS sh FROM s), d AS (SELECT sh, COUNT(*) AS df FROM e GROUP BY sh), k AS (SELECT e.doc_id, e.sh, d.df FROM e JOIN d USING (sh) WHERE d.df <= 100), n AS (SELECT doc_id, COUNT(*) AS n_sh FROM k GROUP BY doc_id), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared FROM k a JOIN k b ON a.sh = b.sh AND a.doc_id < b.doc_id WHERE a.df > 1 GROUP BY 1, 2), pp AS (SELECT p.doc_a, p.doc_b FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b WHERE CAST(p.shared AS DOUBLE) / LEAST(na.n_sh, nb.n_sh) >= 0.6), e2 AS (SELECT doc_a AS u, doc_b AS v FROM pp UNION SELECT doc_b, doc_a FROM pp), reach AS (SELECT u AS id, u AS x FROM e2 UNION SELECT r.id, e2.v AS x FROM reach r JOIN e2 ON r.x = e2.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id) SELECT id AS doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cc ORDER BY doc_id""",

    // the deterministic md5 order is stated in BOTH engines, so the
    // sample CONTENT is adjudicated, not just the per-domain count
    "domain_quota" ->
      """SELECT doc_id, source, rk FROM (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) WHERE rk <= 10 ORDER BY doc_id""",

    // top-1000 vocab under the (count desc, word) total order; LEFT JOIN
    // + COUNT(CASE) keeps every output column integer
    "oov_rate" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), tw AS (SELECT doc_id, word FROM t WHERE word <> ''), v AS (SELECT word FROM (SELECT word, COUNT(*) AS n FROM tw GROUP BY word ORDER BY n DESC, word LIMIT 1000)) SELECT tw.doc_id, COUNT(*) AS n_words, COUNT(CASE WHEN v.word IS NULL THEN 1 END) AS n_oov FROM tw LEFT JOIN v ON tw.word = v.word GROUP BY tw.doc_id ORDER BY doc_id""",

    "asof_join" ->
      s"""WITH e AS ($eventsSec) SELECT e.event_id, e.user_id, e.ts_s AS purchase_ts, (SELECT MAX(s.ts_s) FROM e s WHERE s.user_id = e.user_id AND s.event_type = 'signup' AND s.ts_s <= e.ts_s) AS last_signup_ts, e.ts_s - (SELECT MAX(s.ts_s) FROM e s WHERE s.user_id = e.user_id AND s.event_type = 'signup' AND s.ts_s <= e.ts_s) AS seconds_since_signup FROM e WHERE e.event_type = 'purchase' ORDER BY e.event_id""",

    "cohort_retention" ->
      """WITH b AS (SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month, CAST(date_trunc('month', MIN(o_orderdate) OVER (PARTITION BY o_custkey)) AS DATE) AS cohort_month FROM orders) SELECT cohort_month, CAST((EXTRACT(year FROM order_month) - EXTRACT(year FROM cohort_month)) * 12 + (EXTRACT(month FROM order_month) - EXTRACT(month FROM cohort_month)) AS BIGINT) AS month_offset, COUNT(DISTINCT o_custkey) AS n_customers FROM b GROUP BY cohort_month, month_offset ORDER BY cohort_month, month_offset""",

    "histogram" ->
      s"""WITH h AS (SELECT CAST(ROUND(o_totalprice*100, 0) AS BIGINT) // 5000000 AS bucket, o_totalprice FROM orders) SELECT bucket, bucket * 50000.0 AS bucket_lo, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS total_price FROM h GROUP BY bucket ORDER BY bucket""",

    "streaks" ->
      s"""WITH e AS ($eventsSec), d AS (SELECT DISTINCT user_id, ts_s // 86400 AS day FROM e), i AS (SELECT user_id, day, day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island FROM d), l AS (SELECT user_id, island, COUNT(*) AS len FROM i GROUP BY user_id, island) SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days, COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS longest_streak FROM l GROUP BY user_id ORDER BY user_id""",

    "sample_per_group" ->
      """WITH d AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS draw FROM documents), r AS (SELECT lang, doc_id, draw, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rn FROM d) SELECT lang, doc_id, draw FROM r WHERE rn <= 20 ORDER BY lang, draw""",

    "skew_report" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey), t AS (SELECT COUNT(*) AS total FROM lineitem) SELECT l_suppkey, cnt, ROUND(CAST(cnt AS DOUBLE)/total * 10000, 0)/10000.0 AS share FROM c CROSS JOIN t ORDER BY cnt DESC, l_suppkey LIMIT 10""",

    "corr_stats" ->
      """SELECT l_returnflag, COUNT(*) AS n, ROUND(corr(l_quantity, l_extendedprice)*10000, 0)/10000.0 AS corr_qty_price, ROUND(covar_samp(l_quantity, l_extendedprice)*100, 0)/100.0 AS covar_qty_price FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "quantile_bucket" ->
      """WITH b AS (SELECT ROUND(quantile_cont(o_totalprice, 0.25)*100, 0)/100.0 AS q1, ROUND(quantile_cont(o_totalprice, 0.5)*100, 0)/100.0 AS q2, ROUND(quantile_cont(o_totalprice, 0.75)*100, 0)/100.0 AS q3 FROM orders) SELECT CASE WHEN o_totalprice <= q1 THEN 1 WHEN o_totalprice <= q2 THEN 2 WHEN o_totalprice <= q3 THEN 3 ELSE 4 END AS bucket, COUNT(*) AS n_orders, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price FROM orders CROSS JOIN b GROUP BY bucket ORDER BY bucket""",

    "metric_anomaly" ->
      """WITH daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority, day), t AS (SELECT *, COUNT(n_orders) OVER tw AS n_prev, ROUND(AVG(n_orders) OVER tw * 10000, 0)/10000.0 AS avg30, ROUND(STDDEV_SAMP(n_orders) OVER tw * 10000, 0)/10000.0 AS sd30 FROM daily WINDOW tw AS (PARTITION BY o_orderpriority ORDER BY day ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)), z AS (SELECT *, CASE WHEN n_prev >= 10 AND sd30 > 0 THEN ROUND((n_orders - avg30)/sd30 * 10000, 0)/10000.0 END AS z FROM t) SELECT o_orderpriority, day, n_orders, avg30, sd30, z, CASE WHEN n_prev < 10 THEN 'warmup' WHEN sd30 <= 0 OR sd30 IS NULL THEN 'na' WHEN ABS(z) > 2.0 THEN 'anomaly' ELSE 'ok' END AS flag FROM z ORDER BY o_orderpriority, day""",

    "bucketed_join" ->
      s"""SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders, ${cents("o.o_totalprice")} AS total_spend FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""",

    "range_join" ->
      """WITH w AS (SELECT o_orderkey AS window_id, o_orderdate - INTERVAL 3 DAY AS start_ts, o_orderdate + INTERVAL 4 DAY AS end_ts FROM orders WHERE o_orderkey % 100 = 0) SELECT w.window_id, COUNT(l.l_shipdate) AS n_ship, CAST(COALESCE(SUM(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT) AS sum_qty FROM w LEFT JOIN lineitem l ON l.l_shipdate >= w.start_ts AND l.l_shipdate < w.end_ts GROUP BY w.window_id ORDER BY w.window_id""",

    "sessionize" ->
      s"""WITH e AS ($eventsSec), l AS (SELECT *, LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_ts FROM e), m AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800 THEN 1 ELSE 0 END AS is_new FROM l), s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_seq FROM m) SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, COUNT(*) AS n_events, ${cents("value")} AS total_value FROM s GROUP BY user_id, sess_seq ORDER BY user_id, sess_seq""",

    "typed_agg" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS total_spend FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "session_window_agg" ->
      s"""WITH e AS ($eventsSec), l AS (SELECT *, LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_ts FROM e), m AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800 THEN 1 ELSE 0 END AS is_new FROM l), s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_seq FROM m) SELECT user_id, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end, COUNT(*) AS n_events, ${cents("value")} AS total_value FROM s GROUP BY user_id, sess_seq ORDER BY user_id, session_start""",

    "tumbling_window" ->
      s"""WITH e AS ($eventsSec) SELECT event_type, ts_s - ts_s % 3600 AS window_start, COUNT(*) AS n_events, ${cents("value")} AS total_value FROM e GROUP BY event_type, window_start ORDER BY event_type, window_start""",

    "microbatch_merge" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice FROM orders), delta AS (SELECT o_orderkey, o_orderdate, o_totalprice + 1 AS o_totalprice FROM b WHERE o_orderdate >= DATE '1998-01-01' AND o_orderkey % 2 = 0), p AS (SELECT DISTINCT date_trunc('month', o_orderdate) AS per FROM delta) SELECT * FROM b WHERE date_trunc('month', o_orderdate) NOT IN (SELECT per FROM p) UNION ALL SELECT * FROM delta ORDER BY o_orderkey""",

    "unpivot_orders" ->
      """SELECT o_orderkey, 'o_custkey' AS field_name, CAST(o_custkey AS VARCHAR) AS field_value FROM orders UNION ALL SELECT o_orderkey, 'o_orderstatus', o_orderstatus FROM orders UNION ALL SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders ORDER BY o_orderkey, field_name""",

    "union_relations" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority, CAST(NULL AS BIGINT) AS build_id, 'prod' AS _dbt_source_relation FROM orders UNION ALL SELECT o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), o_orderpriority, 1, 'dev' FROM orders WHERE o_orderkey % 10 = 0 ORDER BY _dbt_source_relation, o_orderkey""",

    "stream_observe" ->
      s"""SELECT COUNT(*) AS n_rows, ${cents("value")} AS total_value FROM events""",

    "stream_totals" ->
      s"""SELECT user_id, COUNT(*) AS n_events, ${cents("value")} AS total_value FROM events GROUP BY user_id ORDER BY user_id""",

    "skew_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS revenue FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "bloom_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) ORDER BY o_orderkey""",

    "stream_join" ->
      s"""WITH e AS ($eventsSec), su AS (SELECT user_id, ts_s AS s_ts FROM e WHERE event_type = 'signup'), pu AS (SELECT user_id, ts_s AS p_ts, value FROM e WHERE event_type = 'purchase') SELECT su.user_id, COUNT(*) AS n_pairs, ${cents("value")} AS purchase_value FROM su JOIN pu ON su.user_id = pu.user_id AND pu.p_ts >= su.s_ts AND pu.p_ts <= su.s_ts + 3600 GROUP BY su.user_id ORDER BY su.user_id""",

    "funnel" ->
      s"""WITH e AS ($eventsSec), su AS (SELECT user_id, MIN(ts_s) AS signup_ts FROM e WHERE event_type = 'signup' GROUP BY user_id), pu AS (SELECT e.user_id, MIN(e.ts_s) AS first_purchase_ts FROM e JOIN su ON e.user_id = su.user_id WHERE e.event_type = 'purchase' AND e.ts_s >= su.signup_ts GROUP BY e.user_id) SELECT su.user_id, su.signup_ts, pu.first_purchase_ts, pu.first_purchase_ts IS NOT NULL AS converted, pu.first_purchase_ts - su.signup_ts AS seconds_to_convert FROM su LEFT JOIN pu ON su.user_id = pu.user_id ORDER BY su.user_id""",

    "dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS digest FROM documents) SELECT digest, MIN(doc_id) AS survivor_id, COUNT(*) AS dup_count FROM h GROUP BY digest ORDER BY digest""",

    "stream_retention" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang ORDER BY lang""",

    "stream_dedup_ingest" ->
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS digest FROM documents) SELECT digest, MIN(doc_id) AS survivor_id, COUNT(*) AS batch_count FROM h GROUP BY digest ORDER BY digest""",

    "metric_query" ->
      s"""SELECT o_orderpriority, strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS o_orderdate_month, ${cents("o_totalprice")} AS revenue FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderpriority, o_orderdate_month ORDER BY o_orderpriority, o_orderdate_month""",

    "dedup_incremental" ->
      """WITH corpus AS (SELECT md5(lower(trim(text))) AS digest FROM documents WHERE doc_id % 3 <> 0), batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0), b AS (SELECT md5(lower(trim(text))) AS digest, MIN(doc_id) AS survivor_id, COUNT(*) AS batch_count FROM batch GROUP BY digest) SELECT digest, survivor_id, batch_count FROM b WHERE digest NOT IN (SELECT digest FROM corpus) ORDER BY digest""",

    // fully deterministic CI summary → VALUES literal (schema_diff pattern)
    "pr_schema_diff" ->
      """SELECT * FROM (VALUES ('mart_gone','REMOVED','UNKNOWN','',CAST(0 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT),''), ('mart_new','NEW_MODEL','UNKNOWN','',CAST(1 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT),''), ('mart_t','OK','UNCHANGED','table->view',CAST(0 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT),CAST(0 AS BIGINT),''), ('stg_p','OK','MOVED:stg_p->stg_p_v2','',CAST(1 AS BIGINT),CAST(0 AS BIGINT),CAST(1 AS BIGINT),CAST(2 AS BIGINT),'partition_by:->status; cluster_by:->id')) AS t(model,status,moved,type_change,cols_added,cols_removed,cols_changed,layout_changes,layout_detail) ORDER BY model""",

    "orphaned_relations" ->
      """SELECT * FROM (VALUES ('legacy_mart'), ('staging/legacy_stg')) AS t(relation) ORDER BY relation""",

    // suffix-array-style exact substring dedup: pairs sharing a verbatim
    // 40-char run, counted by distinct shared windows — the exact path
    // and the hashed scale path must state exactly this, so they share
    // ONE definition (the annTopkSql pattern: editing one cannot
    // silently desynchronize the other)
    "substring_dedup" -> substringDedupSql,
    "substring_dedup_h" -> substringDedupSql,
    "substring_dedup_shard" -> substringDedupSql,

    // growing-corpus ingest, cold single batch: survivors under the
    // global non-cascading rule — every doc that shares NO ≥40-char
    // verbatim run with any lower-id doc (short docs have no windows
    // and always survive)
    "substring_dedup_inc" ->
      s"""$substringWindowsCte, dup AS (SELECT DISTINCT b.doc_id FROM w a JOIN w b ON a.doc_id < b.doc_id AND a.sub = b.sub) SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dup) ORDER BY doc_id""",

    // simhash exact regime: the banding pipeline at radius 0 restricted
    // to equal-distinct-word-set pairs — the subdomain where hamming 0 is
    // provable (equal sets ⇒ equal sigs), stated here without touching
    // the signature arithmetic at all
    "dedup_simhash_x" ->
      s"""WITH d AS (SELECT doc_id, list_sort($docWords) AS ws FROM documents) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming FROM d a JOIN d b ON a.doc_id < b.doc_id AND a.ws = b.ws ORDER BY doc_a, doc_b""",

    // image near-dup (r13): the synthetic corpus's dHash is a KNOWN
    // doc_id-arithmetic pattern (60-bit md5 group base ⊕ per-slot mask),
    // and the 4-chunk pigeonhole banding is EXACT at radius ≤ 3 — so the
    // oracle is the plain cross-join hamming predicate over the identical
    // md5 arithmetic (no recall bound, the whole decode→hash→band→verify
    // pipeline hash-adjudicates)
    "dedup_image" -> dedupImageSql(3),

    // the radius-0 exact twin: identical-pixel pairs ⇔ equal hashes
    "dedup_image_x" -> dedupImageSql(0),

    // audio near-dup (r13): the same md5-group pattern arithmetic,
    // realized as a PCM energy envelope on the %10=5 slice and recovered
    // through the real javax.sound decode — the banding is exact at
    // radius ≤ 3, so the cross-join hamming predicate IS the output
    "dedup_audio" -> dedupHashSql(3, 5),
    "dedup_audio_x" -> dedupHashSql(0, 5),

    // video near-dup (r13): the pattern as a JPEG'd grid frame inside an
    // MJPEG AVI, recovered through the container walk + pixel decode
    "dedup_video" -> dedupHashSql(3, 2),
    "dedup_video_x" -> dedupHashSql(0, 2),

    // multi-frame video near-dup (r14): per-frame patterns + the
    // any-frame min/count closed form; the _x twin keeps only the re-cut
    // pair (two bit-identical frame matches)
    "dedup_video_multi" -> dedupVideoMultiSql(3),
    "dedup_video_multi_x" -> dedupVideoMultiSql(0),

    // the audio/video ingest loops (r14): the image closed form on their
    // slices — full incremental symmetry across the modality families
    "dedup_audio_inc" -> dedupHashIncSql(5),
    "dedup_video_inc" -> dedupHashIncSql(2),

    // the multi-frame video ingest loop cold (r14): the whole-loop
    // survivor rule over the per-frame arithmetic — survive iff not the
    // greater side of any ANY-FRAME hamming-<=-3 pair on the slice
    "dedup_video_multi_inc" ->
      s"""$videoMultiFramesCte, p AS (SELECT y.doc_id AS b FROM f x JOIN f y ON x.doc_id < y.doc_id WHERE bit_count(xor(x.h, y.h)) <= 3) SELECT doc_id FROM ids WHERE doc_id NOT IN (SELECT b FROM p) ORDER BY doc_id""",

    // shift-robust audio (r14): the trimmed clip's strided fingerprints
    // are its source's shifted one slot, so the pair set is STRUCTURAL —
    // exactly one (full, trimmed) pair per complete 2-doc group, h=0,
    // four shared slots (5 fingerprints on the 97-window clip, 4 on the
    // 89-window trim, intersecting in 4) — no fingerprint arithmetic
    // needed, but the count is only right through the real pipeline
    "dedup_audio_shift" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 9), g AS (SELECT doc_id - doc_id % 20 AS a, COUNT(*) AS n FROM ids GROUP BY 1) SELECT a + 9 AS doc_a, a + 19 AS doc_b, CAST(0 AS BIGINT) AS hamming, CAST(4 AS BIGINT) AS n_slot_matches FROM g WHERE n = 2 ORDER BY doc_a, doc_b""",

    // constellation audio dedup (r15): the half-window-trimmed
    // groupmate pairs its source at hamming 0 through peak-anchored
    // fingerprints — structural per 2-doc group (match count varies
    // with each group's peak layout, so the report carries pair +
    // min-hamming only); getting each pair right still requires the
    // whole decode→hopped-energy→peak→contour→band pipeline
    "dedup_audio_const" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 5), g AS (SELECT doc_id - doc_id % 20 AS a, COUNT(*) AS n FROM ids GROUP BY 1) SELECT a + 5 AS doc_a, a + 15 AS doc_b, CAST(0 AS BIGINT) AS hamming FROM g WHERE n = 2 ORDER BY doc_a, doc_b""",

    // spectral constellation dedup (r16): the 13-sample (non-hop-
    // multiple) trimmed groupmate pairs its source at hamming 0 through
    // FFT bin-set signatures — structural per 2-doc group; injective
    // per-group tone quadruples guarantee NO cross-group pair, so the
    // absence of extra rows is as load-bearing as the presence of these
    "dedup_audio_fft" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 8), g AS (SELECT doc_id - doc_id % 20 AS a, COUNT(*) AS n FROM ids GROUP BY 1) SELECT a + 8 AS doc_a, a + 18 AS doc_b, CAST(0 AS BIGINT) AS hamming FROM g WHERE n = 2 ORDER BY doc_a, doc_b""",

    // the image-hash INGEST loop cold: the whole-loop survivor rule in
    // closed form — survive iff not the greater side of any hamming-≤-3
    // pair (decode, banding, index commits all inside the hash)
    "dedup_image_inc" -> dedupHashIncSql(0),

    // CC over the image-hash edges ≡ the exact recursive-CTE clustering
    // (the dedup_clusters_minhash_r1 composition, on perceptual hashes)
    "dedup_image_clusters" ->
      """WITH RECURSIVE ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0), p0 AS (SELECT doc_id, xor(CAST(('0x' || substr(md5(CAST(doc_id - doc_id % 40 AS VARCHAR)), 1, 15)) AS BIGINT), CASE (doc_id % 40) // 10 WHEN 2 THEN 3 WHEN 3 THEN 56 ELSE 0 END) AS h FROM ids), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM p0 a JOIN p0 b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= 3), e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p), reach AS (SELECT u AS id, u AS x FROM e UNION SELECT r.id, e.v AS x FROM reach r JOIN e ON r.x = e.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id) SELECT id AS doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cc ORDER BY doc_id""",

    // zero-iteration seeded clustering: centroids are the first 8 vectors
    // by vec_id, assignment is nearest-seed (ties to the lowest cell —
    // the same first-minimum rule Spark's array_position applies), and
    // the per-cell count/cohesion/share aggregation is plain SQL
    "corpus_clusters_x" ->
      """WITH s AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS c FROM embeddings WHERE vec_id < 8), d AS (SELECT e.vec_id, s.cell, (SELECT SUM((CAST(x AS DOUBLE)-CAST(y AS DOUBLE))*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))) FROM (SELECT unnest(e.embedding) AS x, unnest(s.c) AS y)) AS d2 FROM embeddings e CROSS JOIN s), a AS (SELECT vec_id, cell, sqrt(d2) AS dist, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d) SELECT cell, COUNT(*) AS n_vecs, ROUND(AVG(dist)*10000,0)/10000.0 AS cohesion, ROUND(COUNT(*)/(SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings)*10000,0)/10000.0 AS share FROM a WHERE rn = 1 GROUP BY cell ORDER BY cell""",

    // recall-1 LSH config on the 10% slice: the banded candidate
    // generator (prefilter off) + exact verify must reproduce the exact
    // unblocked pair set at J >= 0.8
    "dedup_minhash_r1" ->
      s"""WITH d AS (SELECT doc_id, $docWords AS w FROM documents WHERE doc_id % 10 = 0) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) * 10000, 0)/10000.0 AS jaccard FROM d a JOIN d b ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.8 ORDER BY doc_a, doc_b""",

    // the streaming near-dup INGEST loop at its recall-1 config: the
    // whole-loop survivor rule in closed form — a doc survives iff it is
    // not the greater side of any exact J >= 0.8 pair on the slice
    "stream_neardup_ingest_r1" ->
      s"""WITH d AS (SELECT doc_id, $docWords AS w FROM documents WHERE doc_id % 10 = 0), p AS (SELECT b.doc_id AS b FROM d a JOIN d b ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.8) SELECT doc_id FROM d WHERE doc_id NOT IN (SELECT b FROM p) ORDER BY doc_id""",

    // CC over the recall-1 LSH edges ≡ the exact clustering on the slice
    "dedup_clusters_minhash_r1" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $docWords AS w FROM documents WHERE doc_id % 10 = 0), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM d a JOIN d b ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.8), e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p), reach AS (SELECT u AS id, u AS x FROM e UNION SELECT r.id, e.v AS x FROM reach r JOIN e ON r.x = e.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id) SELECT id AS doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cc ORDER BY doc_id""",

    // asymmetric recall-1 probe ≡ the exact batch × corpus cross pairs
    "dedup_incremental_minhash_r1" ->
      s"""WITH c AS (SELECT doc_id, $docWords AS w FROM documents WHERE doc_id % 10 = 1), b AS (SELECT doc_id, $docWords AS w FROM documents WHERE doc_id % 10 = 2) SELECT b.doc_id AS doc_b, c.doc_id AS doc_c, ROUND(CAST(len(list_intersect(b.w, c.w)) AS DOUBLE) / len(list_distinct(list_concat(b.w, c.w))) * 10000, 0)/10000.0 AS jaccard FROM b, c WHERE CAST(len(list_intersect(b.w, c.w)) AS DOUBLE) / len(list_distinct(list_concat(b.w, c.w))) >= 0.8 ORDER BY doc_b, doc_c""",

    "dedup_jaccard" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars, $docWords AS w FROM documents) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) * 10000, 0)/10000.0 AS jaccard FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.n_chars // 100) = (b.n_chars // 100) WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.5 ORDER BY doc_a, doc_b""",

    "dedup_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars, $docWords AS w FROM documents), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.n_chars // 100) = (b.n_chars // 100) WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.5), e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p), reach AS (SELECT u AS id, u AS x FROM e UNION SELECT r.id, e.v AS x FROM reach r JOIN e ON r.x = e.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id) SELECT id AS doc_id, cluster_id, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM cc ORDER BY doc_id""",

    "sketch_rollup" ->
      """SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS distinct_users FROM events GROUP BY event_type ORDER BY event_type""",

    "paragraph_dedup" -> paragraphDedupSql,

    // the hash-keyed scale path is row-for-row equal — ONE definition
    "paragraph_dedup_h" -> paragraphDedupSql,


    "decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents), s AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) >= 13 THEN list_transform(range(1, len(ws) - 11), i -> array_to_string(ws[i:i+12], ' ')) ELSE CAST([] AS VARCHAR[]) END)) AS sh FROM d), ev AS (SELECT DISTINCT sh FROM s WHERE doc_id % 50 = 0), ov AS (SELECT s.doc_id, COUNT(*) AS n FROM s JOIN ev ON s.sh = ev.sh WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id) SELECT c.doc_id, COALESCE(ov.n, 0) AS n_overlapping_ngrams, COALESCE(ov.n, 0) >= 1 AS contaminated FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) c LEFT JOIN ov ON c.doc_id = ov.doc_id ORDER BY c.doc_id""",

    "pii_scrub" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'), '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS clean_text, text != regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'), '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS pii_found FROM documents ORDER BY doc_id""",

    "repetition_score" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), c AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY 1, 2), t AS (SELECT doc_id, MAX(n) AS topn, SUM(n) AS total, COUNT(*) AS n_distinct FROM c GROUP BY 1), r AS (SELECT doc_id, ROUND(CAST(topn AS DOUBLE)/total*10000, 0)/10000.0 AS top_word_frac, ROUND((1.0 - CAST(n_distinct AS DOUBLE)/total)*10000, 0)/10000.0 AS dup_word_frac FROM t) SELECT doc_id, top_word_frac, dup_word_frac, CASE WHEN top_word_frac > 0.2 OR dup_word_frac > 0.5 THEN 'repetitive' ELSE 'ok' END AS rep_flag FROM r ORDER BY doc_id""",

    // the MassiveText gauntlet: every rule a cross-multiplied INTEGER
    // compare (no float op anywhere), CASE chain in declared order
    "gopher_quality" ->
      """WITH d AS (SELECT doc_id, text, list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS w FROM documents), m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, CAST(length(array_to_string(w, '')) AS BIGINT) AS sum_chars, CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash, CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell, CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha, CAST(len(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop FROM d), f AS (SELECT doc_id, n_words, CASE WHEN n_words < 50 THEN 'too_few_words' WHEN n_words > 100000 THEN 'too_many_words' WHEN sum_chars < n_words * 3 OR sum_chars > n_words * 10 THEN 'word_len_out_of_band' WHEN (n_hash + n_ell) * 10 > n_words THEN 'symbol_ratio' WHEN n_alpha * 5 < n_words * 4 THEN 'low_alpha_fraction' WHEN n_stop < 2 THEN 'too_few_stopwords' ELSE NULL END AS ff FROM m) SELECT doc_id, n_words, (ff IS NULL) AS passed, COALESCE(ff, '') AS first_fail FROM f ORDER BY doc_id""",

    // Gopher n-gram repetition char fractions: top = the (count desc,
    // gram asc) total-order pick, dup = all grams with count >= 2;
    // round4'd ratios of exact integers over the normalized-text length
    "repetition_ngrams" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS w FROM documents), b AS (SELECT doc_id, w, length(array_to_string(w, ' ')) AS n_chars FROM d), nn AS (SELECT UNNEST([2, 3, 4]) AS n), g AS (SELECT b.doc_id, nn.n, b.n_chars, UNNEST(list_transform(range(1, len(b.w) - nn.n + 2), i -> array_to_string(b.w[i:i+nn.n-1], ' '))) AS gram FROM b CROSS JOIN nn WHERE len(b.w) >= nn.n), c AS (SELECT doc_id, n, n_chars, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, n_chars, gram), t AS (SELECT doc_id, n, c * length(gram) AS top_chars FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram) AS rk FROM c) WHERE rk = 1), dd AS (SELECT doc_id, n, CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(gram) END), 0) AS BIGINT) AS dup_chars FROM c GROUP BY doc_id, n), u AS (SELECT b.doc_id, nn.n, b.n_chars FROM b CROSS JOIN nn) SELECT u.doc_id, u.n, CASE WHEN u.n_chars > 0 THEN ROUND((CAST(COALESCE(t.top_chars, 0) AS DOUBLE) / u.n_chars) * 10000, 0)/10000.0 ELSE 0.0 END AS top_frac, CASE WHEN u.n_chars > 0 THEN ROUND((CAST(COALESCE(dd.dup_chars, 0) AS DOUBLE) / u.n_chars) * 10000, 0)/10000.0 ELSE 0.0 END AS dup_frac FROM u LEFT JOIN t ON u.doc_id = t.doc_id AND u.n = t.n LEFT JOIN dd ON u.doc_id = dd.doc_id AND u.n = dd.n ORDER BY u.doc_id, u.n""",

    "corpus_curation" ->
      """WITH s AS (SELECT doc_id, lang, regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'), '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS t FROM documents), g AS (SELECT * FROM s WHERE length(t) >= 100 AND len(string_split(lower(trim(t)), ' ')) >= 20), d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(t))) ORDER BY doc_id) AS rn FROM g), sv AS (SELECT doc_id, lang, CAST(CEIL(length(t)/4.0) AS BIGINT) AS est_tokens FROM d WHERE rn = 1), c AS (SELECT doc_id, lang, est_tokens, SUM(est_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens FROM sv) SELECT doc_id, lang, est_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens FROM c WHERE cum_tokens <= 5000 ORDER BY lang, doc_id""",

    // DSIR importance selection: the bucket log-ratio is rounded to
    // integer micro-nats ONCE per bucket (the only float op, identical
    // doubles in identical operation order), so per-doc scores are exact
    // integer sums and the whole report compares with no float seam
    "dsir_select" -> dsirSelectSql,

    // the streaming loop's COLD single-batch run fits and scores the
    // whole corpus in one batch, so the re-cut global top-k IS the
    // batch selection — the same oracle adjudicates the frozen-weight
    // persist, the bounded candidate appends, and the final cut
    "dsir_select_inc" -> dsirSelectSql,

    // exponent rendered from the same Scala double the operator uses
    // (1 - alpha), so both engines pow() identical inputs
    "source_sample_temp" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source), m AS (SELECT MIN(n_docs) AS n_min FROM c), r AS (SELECT source, CAST(ROUND(POWER(CAST(n_min AS DOUBLE)/n_docs, ${1 - 0.7})*10000, 0) AS BIGINT) AS rate_bp FROM c, m) SELECT d.doc_id, d.source, r.rate_bp/10000.0 AS keep_rate FROM documents d JOIN r ON d.source = r.source WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) * 10000 < r.rate_bp * 16777216 ORDER BY d.doc_id""",

    "perplexity_score" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), t2 AS (SELECT doc_id, word FROM t WHERE word <> ''), tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM t2 GROUP BY doc_id, word), cw AS (SELECT word, SUM(tf) AS c FROM tf GROUP BY word), tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cw), s AS (SELECT tf.doc_id, SUM(tf.tf) AS n_tokens, SUM(tf.tf * -ln((cw.c + 1.0)/(tot.n + tot.v))) AS nll FROM tf JOIN cw ON tf.word = cw.word CROSS JOIN tot GROUP BY tf.doc_id), r AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ROUND(nll/n_tokens*10000, 0)/10000.0 AS avg_nll FROM s) SELECT doc_id, n_tokens, avg_nll, CASE WHEN avg_nll > 7.0 THEN 'high' ELSE 'ok' END AS ppl_flag FROM r ORDER BY doc_id""",

    "perplexity_bigram" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents), b0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM d WHERE len(w) >= 2), b AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM b0), b2 AS (SELECT * FROM b WHERE w1 <> '' AND w2 <> ''), tfb AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM b2 GROUP BY doc_id, w1, w2), cb AS (SELECT w1, w2, SUM(tf) AS c12 FROM tfb GROUP BY w1, w2), c1 AS (SELECT w1, SUM(c12) AS c1 FROM cb GROUP BY w1), v AS (SELECT COUNT(*) AS v FROM c1), s AS (SELECT tfb.doc_id, SUM(tfb.tf) AS n_bigrams, SUM(tfb.tf * -ln((cb.c12 + 1.0)/(c1.c1 + v.v))) AS nll FROM tfb JOIN cb ON tfb.w1 = cb.w1 AND tfb.w2 = cb.w2 JOIN c1 ON tfb.w1 = c1.w1 CROSS JOIN v GROUP BY tfb.doc_id), r AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, ROUND(nll/n_bigrams*10000, 0)/10000.0 AS avg_nll FROM s) SELECT doc_id, n_bigrams, avg_nll, CASE WHEN avg_nll > 3.5 THEN 'high' ELSE 'ok' END AS ppl_flag FROM r""",

    // interpolated Kneser-Ney bigram: each TYPE's -ln P rounds once to
    // integer micro-nats (explicit doubles, left-associated chain — the
    // D56 convention), per-doc NLLs are exact integer sums, the flag an
    // integer cross-multiplication — no float seam anywhere
    "perplexity_kn" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents), b0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM d WHERE len(w) >= 2), b AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM b0), b2 AS (SELECT * FROM b WHERE w1 <> '' AND w2 <> ''), tfb AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM b2 GROUP BY doc_id, w1, w2), cb AS (SELECT w1, w2, SUM(tf) AS c12 FROM tfb GROUP BY w1, w2), ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1w1 FROM cb GROUP BY w1), pre AS (SELECT w2, COUNT(*) AS nprec FROM cb GROUP BY w2), tot AS (SELECT COUNT(*) AS ntypes FROM cb), m AS (SELECT cb.w1, cb.w2, CAST(ROUND(-ln((GREATEST(CAST(cb.c12 AS DOUBLE) - 0.75, 0.0) + 0.75 * CAST(ctx.n1w1 AS DOUBLE) * CAST(pre.nprec AS DOUBLE) / CAST(tot.ntypes AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS unats FROM cb JOIN ctx USING (w1) JOIN pre USING (w2) CROSS JOIN tot), s AS (SELECT tfb.doc_id, CAST(SUM(tfb.tf) AS BIGINT) AS n_bigrams, CAST(SUM(tfb.tf * m.unats) AS BIGINT) AS nll_unats FROM tfb JOIN m ON tfb.w1 = m.w1 AND tfb.w2 = m.w2 GROUP BY tfb.doc_id) SELECT doc_id, n_bigrams, nll_unats, CASE WHEN nll_unats > 3000000 * n_bigrams THEN 'high' ELSE 'ok' END AS ppl_flag FROM s""",

    // count-pruned KN (r14): singleton types (c12 <= 1) leave the model;
    // surviving types keep (c12 - D), pruned ones score the
    // redistributed term only — (D·n1s + s1)·Pcont — with n1s = the
    // context's surviving type count and s1 = its pruned count mass, so
    // the conditional still sums to exactly 1; same micro-nat single
    // rounding point as perplexity_kn
    "perplexity_kn_pruned" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents), b0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM d WHERE len(w) >= 2), b AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM b0), b2 AS (SELECT * FROM b WHERE w1 <> '' AND w2 <> ''), tfb AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM b2 GROUP BY doc_id, w1, w2), cb AS (SELECT w1, w2, SUM(tf) AS c12 FROM tfb GROUP BY w1, w2), ctx AS (SELECT w1, SUM(c12) AS c1, SUM(CASE WHEN c12 > 1 THEN 1 ELSE 0 END) AS n1s, SUM(CASE WHEN c12 > 1 THEN 0 ELSE c12 END) AS s1 FROM cb GROUP BY w1), pre AS (SELECT w2, COUNT(*) AS nprec FROM cb GROUP BY w2), tot AS (SELECT COUNT(*) AS ntypes FROM cb), m AS (SELECT cb.w1, cb.w2, CAST(ROUND(-ln((CASE WHEN cb.c12 > 1 THEN CAST(cb.c12 AS DOUBLE) - 0.75 ELSE 0.0 END + (0.75 * CAST(ctx.n1s AS DOUBLE) + CAST(ctx.s1 AS DOUBLE)) * CAST(pre.nprec AS DOUBLE) / CAST(tot.ntypes AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS unats FROM cb JOIN ctx USING (w1) JOIN pre USING (w2) CROSS JOIN tot), s AS (SELECT tfb.doc_id, CAST(SUM(tfb.tf) AS BIGINT) AS n_bigrams, CAST(SUM(tfb.tf * m.unats) AS BIGINT) AS nll_unats FROM tfb JOIN m ON tfb.w1 = m.w1 AND tfb.w2 = m.w2 GROUP BY tfb.doc_id) SELECT doc_id, n_bigrams, nll_unats, CASE WHEN nll_unats > 3000000 * n_bigrams THEN 'high' ELSE 'ok' END AS ppl_flag FROM s""",

    // interpolated KN TRIGRAM with the textbook recursion: raw counts at
    // the top order, continuation counts at the middle, bigram-type
    // continuation at the bottom; the whole two-level float chain per
    // trigram type rounds once to micro-nats
    "perplexity_kn3" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents), t0 AS (SELECT doc_id, UNNEST(range(len(w) - 2)) AS i, w FROM d WHERE len(w) >= 3), t AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2, w[CAST(i AS INT) + 3] AS w3 FROM t0), t2 AS (SELECT * FROM t WHERE w1 <> '' AND w2 <> '' AND w3 <> ''), tfb3 AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM t2 GROUP BY doc_id, w1, w2, w3), cb3 AS (SELECT w1, w2, w3, SUM(tf) AS c123 FROM tfb3 GROUP BY w1, w2, w3), ctx3 AS (SELECT w1, w2, SUM(c123) AS c12, COUNT(*) AS n3 FROM cb3 GROUP BY w1, w2), mnum AS (SELECT w2, w3, COUNT(*) AS mnum FROM cb3 GROUP BY w2, w3), mid AS (SELECT w2, SUM(mnum) AS mden, COUNT(*) AS mn1 FROM mnum GROUP BY w2), b0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM d WHERE len(w) >= 2), b AS (SELECT w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM b0), cb2 AS (SELECT DISTINCT w1, w2 FROM b WHERE w1 <> '' AND w2 <> ''), pre2 AS (SELECT w2, COUNT(*) AS nprec2 FROM cb2 GROUP BY w2), tot2 AS (SELECT SUM(nprec2) AS ntypes2 FROM pre2), m AS (SELECT cb3.w1, cb3.w2, cb3.w3, CAST(ROUND(-ln((GREATEST(CAST(cb3.c123 AS DOUBLE) - 0.75, 0.0) + 0.75 * CAST(ctx3.n3 AS DOUBLE) * ((GREATEST(CAST(mnum.mnum AS DOUBLE) - 0.75, 0.0) + 0.75 * CAST(mid.mn1 AS DOUBLE) * (CAST(pre2.nprec2 AS DOUBLE) / CAST(tot2.ntypes2 AS DOUBLE))) / CAST(mid.mden AS DOUBLE))) / CAST(ctx3.c12 AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS unats FROM cb3 JOIN ctx3 ON cb3.w1 = ctx3.w1 AND cb3.w2 = ctx3.w2 JOIN mnum ON cb3.w2 = mnum.w2 AND cb3.w3 = mnum.w3 JOIN mid ON cb3.w2 = mid.w2 JOIN pre2 ON cb3.w3 = pre2.w2 CROSS JOIN tot2), s AS (SELECT tfb3.doc_id, CAST(SUM(tfb3.tf) AS BIGINT) AS n_trigrams, CAST(SUM(tfb3.tf * m.unats) AS BIGINT) AS nll_unats FROM tfb3 JOIN m ON tfb3.w1 = m.w1 AND tfb3.w2 = m.w2 AND tfb3.w3 = m.w3 GROUP BY tfb3.doc_id) SELECT doc_id, n_trigrams, nll_unats, CASE WHEN nll_unats > 3000000 * n_trigrams THEN 'high' ELSE 'ok' END AS ppl_flag FROM s""",

    // MODIFIED Kneser-Ney (KenLM's default): count-class discounts
    // D1/D2/D3+ estimated from the count-of-counts, clamped into [0,k]
    // (exact mass conservation), fixed 0.75 when a class is empty; the
    // whole float chain per type — estimation included — rounds once
    "perplexity_kn_mod" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents), b0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM d WHERE len(w) >= 2), b AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM b0), b2 AS (SELECT * FROM b WHERE w1 <> '' AND w2 <> ''), tfb AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM b2 GROUP BY doc_id, w1, w2), cb AS (SELECT w1, w2, SUM(tf) AS c12 FROM tfb GROUP BY w1, w2), ctx AS (SELECT w1, SUM(c12) AS c1, SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS k1, SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS k2, SUM(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS k3 FROM cb GROUP BY w1), pre AS (SELECT w2, COUNT(*) AS nprec FROM cb GROUP BY w2), tot AS (SELECT COUNT(*) AS ntypes, SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n1, SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS n2, SUM(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS n3, SUM(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS n4 FROM cb), dd AS (SELECT ntypes, LEAST(GREATEST(CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 THEN 1.0 - 2.0 * (CAST(n1 AS DOUBLE) / (n1 + 2.0 * n2)) * (CAST(n2 AS DOUBLE) / n1) ELSE 0.75 END, 0.0), 1.0) AS d1, LEAST(GREATEST(CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 THEN 2.0 - 3.0 * (CAST(n1 AS DOUBLE) / (n1 + 2.0 * n2)) * (CAST(n3 AS DOUBLE) / n2) ELSE 0.75 END, 0.0), 2.0) AS d2, LEAST(GREATEST(CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0 AND n4 > 0 THEN 3.0 - 4.0 * (CAST(n1 AS DOUBLE) / (n1 + 2.0 * n2)) * (CAST(n4 AS DOUBLE) / n3) ELSE 0.75 END, 0.0), 3.0) AS d3 FROM tot), m AS (SELECT cb.w1, cb.w2, CAST(ROUND(-ln((GREATEST(CAST(cb.c12 AS DOUBLE) - (CASE WHEN cb.c12 = 1 THEN dd.d1 WHEN cb.c12 = 2 THEN dd.d2 ELSE dd.d3 END), 0.0) + (dd.d1 * ctx.k1 + dd.d2 * ctx.k2 + dd.d3 * ctx.k3) * CAST(pre.nprec AS DOUBLE) / CAST(dd.ntypes AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS unats FROM cb JOIN ctx USING (w1) JOIN pre USING (w2) CROSS JOIN dd), s AS (SELECT tfb.doc_id, CAST(SUM(tfb.tf) AS BIGINT) AS n_bigrams, CAST(SUM(tfb.tf * m.unats) AS BIGINT) AS nll_unats FROM tfb JOIN m ON tfb.w1 = m.w1 AND tfb.w2 = m.w2 GROUP BY tfb.doc_id) SELECT doc_id, n_bigrams, nll_unats, CASE WHEN nll_unats > 3000000 * n_bigrams THEN 'high' ELSE 'ok' END AS ppl_flag FROM s""",

    // cross-corpus KN: model on the even-id half, score the odd-id half;
    // the CASE chain states seen-pair / unseen-pair-seen-context /
    // unseen-context, add-one-smoothed open-vocabulary continuation
    "perplexity_kn_cross" ->
      """WITH dt AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents WHERE doc_id % 2 = 0), ds AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents WHERE doc_id % 2 = 1), bt0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM dt WHERE len(w) >= 2), bt AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM bt0), bt2 AS (SELECT * FROM bt WHERE w1 <> '' AND w2 <> ''), tfbt AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bt2 GROUP BY doc_id, w1, w2), cb AS (SELECT w1, w2, SUM(tf) AS c12 FROM tfbt GROUP BY w1, w2), ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1w1 FROM cb GROUP BY w1), pre AS (SELECT w2, COUNT(*) AS nprec FROM cb GROUP BY w2), tot AS (SELECT SUM(nprec) AS ntypes, COUNT(*) AS vcont FROM pre), bs0 AS (SELECT doc_id, UNNEST(range(len(w) - 1)) AS i, w FROM ds WHERE len(w) >= 2), bs AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS w1, w[CAST(i AS INT) + 2] AS w2 FROM bs0), bs2 AS (SELECT * FROM bs WHERE w1 <> '' AND w2 <> ''), tfbs AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bs2 GROUP BY doc_id, w1, w2), st AS (SELECT DISTINCT w1, w2 FROM tfbs), m0 AS (SELECT st.w1, st.w2, cb.c12, ctx.c1, ctx.n1w1, pre.nprec, tot.ntypes, tot.vcont FROM st LEFT JOIN cb ON st.w1 = cb.w1 AND st.w2 = cb.w2 LEFT JOIN ctx ON st.w1 = ctx.w1 LEFT JOIN pre ON st.w2 = pre.w2 CROSS JOIN tot), m1 AS (SELECT w1, w2, c12, c1, n1w1, CAST(COALESCE(nprec, 0) + 1 AS DOUBLE) / CAST(ntypes + vcont + 1 AS DOUBLE) AS pcont FROM m0), m AS (SELECT w1, w2, CAST(ROUND(-ln(CASE WHEN c1 IS NOT NULL THEN (GREATEST(CAST(COALESCE(c12, 0) AS DOUBLE) - 0.75, 0.0) + 0.75 * CAST(n1w1 AS DOUBLE) * pcont) / CAST(c1 AS DOUBLE) ELSE pcont END) * 1000000.0, 0) AS BIGINT) AS unats FROM m1), s AS (SELECT tfbs.doc_id, CAST(SUM(tfbs.tf) AS BIGINT) AS n_bigrams, CAST(SUM(tfbs.tf * m.unats) AS BIGINT) AS nll_unats FROM tfbs JOIN m ON tfbs.w1 = m.w1 AND tfbs.w2 = m.w2 GROUP BY tfbs.doc_id) SELECT doc_id, n_bigrams, nll_unats, CASE WHEN nll_unats > 3000000 * n_bigrams THEN 'high' ELSE 'ok' END AS ppl_flag FROM s""",

    "quality_cascade" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM w WHERE word <> '' GROUP BY doc_id, word), ts AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_share FROM cnt GROUP BY doc_id), base AS (SELECT d.doc_id, length(d.text) AS len, len(string_split(lower(trim(d.text)), ' ')) AS nw, CAST(length(replace(d.text, ' ', '')) AS DOUBLE) / len(string_split(lower(trim(d.text)), ' ')) AS awl, ts.top_share FROM documents d LEFT JOIN ts ON d.doc_id = ts.doc_id), r AS (SELECT doc_id, top_share, CASE WHEN len < 100 THEN 'too_short' WHEN nw < 20 THEN 'too_few_words' WHEN awl < 2.0 OR awl > 12.0 THEN 'word_len_out_of_band' WHEN top_share > 0.2 THEN 'repetitive' ELSE NULL END AS ff FROM base) SELECT doc_id, ff IS NULL AS passed, COALESCE(ff, '') AS first_fail, ROUND(top_share * 10000, 0)/10000.0 AS top_share FROM r""",

    "zorder_key" -> {
      val zTerms = (0 until 8).map(k =>
        s"(((x >> $k) & 1) << ${2 * k}) + (((y >> $k) & 1) << ${2 * k + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT o_orderkey, o_custkey % 256 AS x, (EXTRACT(doy FROM CAST(o_orderdate AS DATE)) - 1) % 256 AS y FROM orders) SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, CAST($zTerms AS BIGINT) AS zval FROM b ORDER BY o_orderkey"""
    },

    "cdc_apply" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS seq, 'I' AS op FROM orders), u AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 10 AS o_totalprice, 1 AS seq, 'U' AS op FROM orders WHERE o_orderkey % 7 = 0), del AS (SELECT o_orderkey, o_orderstatus, o_totalprice, 2 AS seq, 'D' AS op FROM orders WHERE o_orderkey % 13 = 0), ins AS (SELECT o_orderkey + 6000000 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice, 1 AS seq, 'I' AS op FROM orders WHERE o_orderkey % 101 = 0), a AS (SELECT * FROM b UNION ALL SELECT * FROM u UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM a) SELECT o_orderkey, o_orderstatus, o_totalprice FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""",

    "gap_fill" ->
      """WITH d AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n, MAX(o_totalprice) AS mx FROM orders GROUP BY 1, 2), s AS (SELECT o_orderpriority, CAST(unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day FROM d GROUP BY o_orderpriority), j AS (SELECT s.o_orderpriority, s.day, COALESCE(d.n, 0) AS n_orders, d.mx, d.n IS NULL AS was_gap FROM s LEFT JOIN d ON s.o_orderpriority = d.o_orderpriority AND s.day = d.day) SELECT o_orderpriority, day, CAST(n_orders AS BIGINT) AS n_orders, last_value(mx IGNORE NULLS) OVER (PARTITION BY o_orderpriority ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_max_price, was_gap FROM j ORDER BY o_orderpriority, day""",

    "gdpr_delete" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS revenue FROM orders WHERE o_custkey % 97 <> 0 GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "txlog_gdpr" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS revenue FROM orders WHERE o_custkey % 97 <> 0 GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "txlog_dv" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders, ${cents("o_totalprice")} AS revenue FROM orders WHERE NOT (o_custkey % 7 = 0) AND NOT (o_custkey % 5 = 0 AND o_totalprice > 1000.0) GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "merge_columns" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), u AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1 AS o_totalprice FROM b WHERE o_orderkey % 10 = 0), i AS (SELECT o_orderkey + 5000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus, o_totalprice FROM b WHERE o_orderkey % 1000 = 1), d AS (SELECT * FROM u UNION ALL SELECT * FROM i), upd AS (SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice ELSE b.o_totalprice END AS o_totalprice FROM b LEFT JOIN d ON b.o_orderkey = d.o_orderkey), ins AS (SELECT d.* FROM d LEFT JOIN b ON d.o_orderkey = b.o_orderkey WHERE b.o_orderkey IS NULL) SELECT * FROM upd UNION ALL SELECT * FROM ins ORDER BY o_orderkey""",

    "jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id""",

    "dpp_join" ->
      s"""WITH dim(o_orderpriority, tier) AS (VALUES ('1-URGENT','hot'),('2-HIGH','hot'),('3-MEDIUM','warm'),('4-NOT SPECIFIED','cold'),('5-LOW','cold')) SELECT o.o_orderpriority, COUNT(*) AS n_orders, ${cents("o.o_totalprice")} AS revenue FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority WHERE d.tier = 'hot' GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",

    "source_mix" ->
      """WITH p AS (SELECT source, COUNT(*) AS docs, CAST(SUM(CAST(CEIL(length(text)/4.0) AS BIGINT)) AS BIGINT) AS est_tokens FROM documents GROUP BY source), t AS (SELECT CAST(SUM(est_tokens) AS BIGINT) AS total_tokens FROM p) SELECT source, docs, est_tokens, ROUND(CAST(est_tokens AS DOUBLE)/total_tokens*10000, 0)/10000.0 AS token_share FROM p, t ORDER BY source""",

    "ann_cosine" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), s AS (SELECT e.vec_id, e.label, ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y)) / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS x))) * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(q.qv) AS y)))) * 10000, 0)/10000.0 AS cos_sim FROM embeddings e, q WHERE e.vec_id <> 0) SELECT vec_id, label, cos_sim FROM s WHERE cos_sim >= 0.2 ORDER BY vec_id""",

    "ann_topk" -> annTopkSql,

    // bloom scan ≡ read + filter by construction: plain filter SQL
    // adjudicates declaration → per-file filter build → driver-side probe
    "txlog_bloom_scan" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""",

    // exhaustive-probe IVF-SQ8 (probe all cells, rerank everything) must
    // equal the exact top-k — same oracle as ann_topk by construction
    "ann_ivf_q" -> annTopkSql,

    // incrementally-grown index, exhaustive probe: growth (assign-to-
    // nearest-cell over two batches) must preserve the candidate set
    // exactly, so the search again equals the exact top-k
    "ann_ivf_inc_q" -> annTopkSql,

    // incrementally-grown PQ index (codebooks from the 60% build, the
    // rest encoded with them), exhaustive probe + full rerank ≡ exact
    "ann_pq_inc_q" -> annTopkSql,

    // full-dimension PCA is an isometry — projected squared norms equal
    // raw squared norms (MLlib's transform does not center, so the
    // identity is on x itself); the eigen/projection machinery is the
    // only rows-only piece and the norm it must conserve is plain SQL
    "embedding_pca_x" ->
      """SELECT vec_id, ROUND((SELECT SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(embedding) AS x))*10000,0)/10000.0 AS sq_norm FROM embeddings ORDER BY vec_id""",

    // theta segments below saturation (2^lg derived above the
    // distinct-user count): θ = 1, the sketches ARE the sets, every
    // estimate is exact
    "theta_segments_x" ->
      """WITH per AS (SELECT user_id, MAX(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS ha, MAX(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS hb FROM events WHERE event_type IN ('click','purchase') GROUP BY user_id) SELECT CAST(SUM(ha) AS DOUBLE) AS est_click, CAST(SUM(hb) AS DOUBLE) AS est_purchase, CAST(COUNT(*) AS DOUBLE) AS est_union, CAST(SUM(ha*hb) AS DOUBLE) AS est_intersect, CAST(SUM(ha) AS BIGINT) AS exact_click, CAST(SUM(hb) AS BIGINT) AS exact_purchase, COUNT(*) AS exact_union, CAST(SUM(ha*hb) AS BIGINT) AS exact_intersect FROM per""",

    // streaming IVF ingest: whatever k-means, drift, and retrains do,
    // the maintained cell table must hold exactly the source vectors
    "ivf_ingest" ->
      """SELECT vec_id FROM embeddings ORDER BY vec_id""",

    // filtered ANN, exhaustive probe: candidates restricted by the
    // metadata predicate, queries unrestricted
    "ann_filtered" -> annTopkSqlWhere(" AND e.label % 3 = 0"),

    // IVF-PQ at the exhaustive config (probe all cells, rerank all
    // candidates): stage 2 ranks every candidate exactly → ≡ ann_topk
    "ann_pq_q" -> annTopkSql,

    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, label, embedding, CAST(list_min(embedding) AS DOUBLE) AS mn, CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings), s AS (SELECT *, CASE WHEN mx > mn THEN (mx - mn)/255.0 ELSE 0.0 END AS scale FROM e) SELECT vec_id, label, ROUND(mn*10000,0)/10000.0 AS qmin, ROUND(mx*10000,0)/10000.0 AS qmax, CASE WHEN scale > 0 THEN array_to_string(list_transform(embedding, x -> CAST(CAST(ROUND((CAST(x AS DOUBLE) - mn)/scale, 0) AS INT) AS VARCHAR)), ',') ELSE array_to_string(list_transform(embedding, x -> '0'), ',') END AS q FROM s ORDER BY vec_id""",

    "dedup_semantic" ->
      """WITH p AS (SELECT x.vec_id AS a, y.vec_id AS b, (SELECT SUM(CAST(xe AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe, unnest(y.embedding) AS ye)) / (sqrt((SELECT SUM(CAST(xe AS DOUBLE) * CAST(xe AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe))) * sqrt((SELECT SUM(CAST(ye AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(y.embedding) AS ye)))) AS cos FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id), removed AS (SELECT DISTINCT b FROM p WHERE ROUND(cos * 10000, 0)/10000.0 >= 0.35) SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT b FROM removed) ORDER BY vec_id""",

    // recall-1 LSH config on the 20% slice: the candidate generator's
    // verified pair set must equal the exact cross pairs at cos >= 0.4
    "ann_lsh_r1" ->
      """WITH e AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0) SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, ROUND((SELECT SUM(CAST(xe AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe, unnest(y.embedding) AS ye)) / (sqrt((SELECT SUM(CAST(xe AS DOUBLE) * CAST(xe AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe))) * sqrt((SELECT SUM(CAST(ye AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(y.embedding) AS ye)))) * 10000, 0)/10000.0 AS cos_sim FROM e x JOIN e y ON x.vec_id < y.vec_id WHERE ROUND((SELECT SUM(CAST(xe AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe, unnest(y.embedding) AS ye)) / (sqrt((SELECT SUM(CAST(xe AS DOUBLE) * CAST(xe AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe))) * sqrt((SELECT SUM(CAST(ye AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(y.embedding) AS ye)))) * 10000, 0)/10000.0 >= 0.4 ORDER BY vec_a, vec_b""",

    // recall-1 LSH config on the 20% slice must reproduce the exact
    // greedy-survivor set (same SQL as dedup_semantic, restricted)
    // the streaming semantic-ingest loop cold at the same recall-1
    // config shares this closed form verbatim
    "dedup_semantic_inc_r1" ->
      """WITH e AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0), p AS (SELECT x.vec_id AS a, y.vec_id AS b, (SELECT SUM(CAST(xe AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe, unnest(y.embedding) AS ye)) / (sqrt((SELECT SUM(CAST(xe AS DOUBLE) * CAST(xe AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe))) * sqrt((SELECT SUM(CAST(ye AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(y.embedding) AS ye)))) AS cos FROM e x JOIN e y ON x.vec_id < y.vec_id), removed AS (SELECT DISTINCT b FROM p WHERE ROUND(cos * 10000, 0)/10000.0 >= 0.35) SELECT vec_id, label FROM e WHERE vec_id NOT IN (SELECT b FROM removed) ORDER BY vec_id""",

    "dedup_semantic_lsh_r1" ->
      """WITH e AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0), p AS (SELECT x.vec_id AS a, y.vec_id AS b, (SELECT SUM(CAST(xe AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe, unnest(y.embedding) AS ye)) / (sqrt((SELECT SUM(CAST(xe AS DOUBLE) * CAST(xe AS DOUBLE)) FROM (SELECT unnest(x.embedding) AS xe))) * sqrt((SELECT SUM(CAST(ye AS DOUBLE) * CAST(ye AS DOUBLE)) FROM (SELECT unnest(y.embedding) AS ye)))) AS cos FROM e x JOIN e y ON x.vec_id < y.vec_id), removed AS (SELECT DISTINCT b FROM p WHERE ROUND(cos * 10000, 0)/10000.0 >= 0.35) SELECT vec_id, label FROM e WHERE vec_id NOT IN (SELECT b FROM removed) ORDER BY vec_id""",

    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, text, least(CAST(floor((length(text) - 64.0) / 128) AS BIGINT) + 1, 8) AS n FROM documents), r AS (SELECT doc_id, text, unnest(range(0, n)) AS i FROM d WHERE n > 0) SELECT doc_id, i AS frame_idx, length(substr(text, CAST(i*128+1 AS INT), 64)) AS frame_len, md5(substr(text, CAST(i*128+1 AS INT), 64)) AS frame_md5 FROM r ORDER BY doc_id, frame_idx""",

    "lang_id" ->
      s"""WITH d AS (SELECT doc_id, $docWords AS w FROM documents), h AS (SELECT doc_id, len(list_intersect(w, ['der','die','das','und','ist','nicht','mit','ein'])) AS hits_de, len(list_intersect(w, ['the','a','of','and','is','not','with','to'])) AS hits_en, len(list_intersect(w, ['el','la','de','y','es','no','con','un'])) AS hits_es, len(list_intersect(w, ['le','la','de','et','est','pas','avec','un'])) AS hits_fr FROM d) SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und' WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de' WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en' WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es' ELSE 'fr' END AS predicted_lang FROM h ORDER BY doc_id""",

    // TRAINED language ID (r16): the oracle restates the WHOLE model —
    // planted corpus (shared word pools, words by doc_id arithmetic),
    // char-bigram Laplace-smoothed NB training on the md5-gated split,
    // and micro-nat scoring (one ln + one ROUND per (lang, bigram)
    // TYPE — the D56 single-rounding-point discipline — then exact
    // BIGINT sums and an argmax total-ordered by score desc, lang asc)
    "lang_id_model" -> langIdModelSql,

    // WEAK-SUPERVISED lang ID standalone (r17, D95's default funnel
    // stage on its own rig): the same planted 5-pool corpus with NO
    // given labels — the lexicon heuristic's confident calls (>= 3
    // distinct hits, ties in lexicon order) label, the factored NB
    // chain trains on those rows and scores everyone. Italian can
    // never train (no lexicon names it) yet classifies
    // deterministically from its bigrams.
    "lang_id_weak" ->
      s"""WITH base AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS li, CAST(doc_id % 6 + 5 AS INT) AS n FROM documents), docs AS (SELECT doc_id, array_to_string(list_transform(range(0, n), i -> $rigPoolsList[li + 1][CAST((doc_id * 7 + i * 11) % 12 AS INT) + 1]), ' ') AS text FROM base), hh AS (SELECT doc_id, text, len(list_intersect($docWords, ['der','die','das','und','ist','nicht','mit','ein'])) AS hits_de, len(list_intersect($docWords, ['the','a','of','and','is','not','with','to'])) AS hits_en, len(list_intersect($docWords, ['el','la','de','y','es','no','con','un'])) AS hits_es, len(list_intersect($docWords, ['le','la','de','et','est','pas','avec','un'])) AS hits_fr FROM docs), lb0 AS (SELECT doc_id, lower(text) AS t, CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) >= 3 THEN CASE WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de' WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en' WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es' ELSE 'fr' END END AS lang FROM hh), lbl AS (SELECT doc_id, t, lang, lang IS NOT NULL AS tr FROM lb0), $weakNbStages SELECT l.doc_id, l.lang, n.predicted_lang, n.score_unats, l.tr AS is_train FROM lbl l JOIN nbbest n USING (doc_id) ORDER BY l.doc_id""",
    // the WIDE-layout twin computes the identical report
    "lang_id_model_w" -> langIdModelSql,


    "quality_score" -> {
      val nWords = "len(string_split(lower(trim(text)), ' '))"
      val stopwords = "['der','die','das','und','ist','nicht','mit','ein','the','a','of','and','is','not','with','to','el','la','de','y','es','no','con','un','le','et','est','pas','avec']"
      s"""SELECT doc_id, length(text) AS n_chars_actual, $nWords AS n_words, ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE) / $nWords * 10000, 0)/10000.0 AS avg_word_len, ROUND(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) * 10000, 0)/10000.0 AS punct_ratio, ROUND(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) * 10000, 0)/10000.0 AS digit_ratio, ROUND(CAST(len(list_intersect($docWords, $stopwords)) AS DOUBLE) / $nWords * 10000, 0)/10000.0 AS stopword_ratio, CASE WHEN length(text) >= 100 AND $nWords >= 20 THEN 'ok' ELSE 'low' END AS quality_flag FROM documents ORDER BY doc_id"""
    },

    "token_count" ->
      """SELECT doc_id, len(string_split(lower(trim(text)), ' ')) AS ws_tokens, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens, CAST(CEIL(length(text)/4.0) AS BIGINT) AS est_llm_tokens FROM documents ORDER BY doc_id""",

    "doc_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents), n AS (SELECT doc_id, w, (GREATEST(len(w) - 64, 0) + 47) // 48 + 1 AS n_chunks FROM d), c AS (SELECT doc_id, i AS chunk_idx, list_slice(w, CAST(i*48+1 AS BIGINT), CAST(i*48+64 AS BIGINT)) AS cw FROM n, UNNEST(range(0, n_chunks)) AS t(i)) SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, CAST(len(cw) AS BIGINT) AS n_tokens, array_to_string(cw, ' ') AS chunk_text FROM c ORDER BY doc_id, chunk_idx""",

    "dedup_survivors_quality" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars, $docWords AS w FROM documents), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.n_chars // 100) = (b.n_chars // 100) WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.5), e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p), reach AS (SELECT u AS id, u AS x FROM e UNION SELECT r.id, e.v AS x FROM reach r JOIN e ON r.x = e.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id), q AS (SELECT doc_id, len(string_split(lower(trim(text)), ' ')) AS q FROM documents), l AS (SELECT cc.id, ROW_NUMBER() OVER (PARTITION BY cc.cluster_id ORDER BY q.q DESC, cc.id) AS rn FROM cc JOIN q ON cc.id = q.doc_id) SELECT doc_id, lang FROM documents WHERE doc_id NOT IN (SELECT id FROM l WHERE rn <> 1) ORDER BY doc_id""",

    // per-stratum thresholds rendered from the same Scala longs the
    // operator computes; draw = first 24 bits of md5("seed:doc_id")
    "stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents WHERE lang IN ('en','de','es','fr','zh') AND CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) < ${(0.5 * (1L << 24)).toLong} ORDER BY doc_id""",

    // thresholds rendered from the same Scala longs the operator computes
    "target_mix_sample" ->
      """WITH toks AS (SELECT source, SUM(n_chars) AS tok, (CAST(substr(source, 4) AS INT) % 4) + 1 AS w FROM documents GROUP BY source), star AS (SELECT tok AS tok_star, w AS w_star FROM toks ORDER BY CAST(tok AS DOUBLE)/w, source LIMIT 1), rates AS (SELECT source, CAST(ROUND(10000.0 * w * tok_star / (w_star * tok), 0) AS BIGINT) AS rate_bp FROM toks CROSS JOIN star) SELECT d.doc_id, d.source, rate_bp/10000.0 AS keep_rate FROM documents d JOIN rates r ON d.source = r.source WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) * 10000 < rate_bp * 16777216 ORDER BY d.doc_id""",

    "split_train_val_test" ->
      s"""SELECT doc_id, lang, CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) < ${(0.8 * (1L << 24)).toLong} THEN 'train' WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) < ${((0.8 + 0.1) * (1L << 24)).toLong} THEN 'val' ELSE 'test' END AS split FROM documents ORDER BY doc_id""",

    "split_leakage_safe" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars, $docWords AS w FROM documents), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.n_chars // 100) = (b.n_chars // 100) WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.5), e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p), reach AS (SELECT u AS id, u AS x FROM e UNION SELECT r.id, e.v AS x FROM reach r JOIN e ON r.x = e.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id), k AS (SELECT doc.doc_id, doc.lang, COALESCE(cc.cluster_id, doc.doc_id) AS split_key FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.id) SELECT doc_id, lang, split_key, CASE WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 6)) AS BIGINT) < ${(0.8 * (1L << 24)).toLong} THEN 'train' WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 6)) AS BIGINT) < ${((0.8 + 0.1) * (1L << 24)).toLong} THEN 'val' ELSE 'test' END AS split FROM k""",

    "dedup_survivors" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars, $docWords AS w FROM documents), p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id AND (a.n_chars // 100) = (b.n_chars // 100) WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.5), e AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p), reach AS (SELECT u AS id, u AS x FROM e UNION SELECT r.id, e.v AS x FROM reach r JOIN e ON r.x = e.u), cc AS (SELECT id, MIN(x) AS cluster_id FROM reach GROUP BY id) SELECT doc_id, lang FROM documents WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id) ORDER BY doc_id""",

    "heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents) SELECT word, COUNT(*) AS n FROM t WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20""",

    // BPE iteration-0 pair counts: adjacent char pairs inside words,
    // weighted by occurrence; same total-order cut as heavy_hitters
    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents), p AS (SELECT substr(w, CAST(p AS INT), 2) AS pair FROM (SELECT w, unnest(range(1, len(w))) AS p FROM w WHERE len(w) >= 2)) SELECT pair, COUNT(*) AS n FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",

    // corpus-scale BPE apply (r16): real 2-merge training on the rig
    // provably lands on (a,b) then (ab,ab) — strict margins by the
    // repetition weights — so per-family token counts and the sorted
    // final-token ids (ab=0, abab=1, b=2, c=3) are the planted closed
    // form; the id sequence is each family's fixed pattern repeated
    "bpe_tokenize" ->
      """SELECT doc_id, CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_words, CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 4 ELSE 2 END AS BIGINT) AS n_tokens, CASE doc_id % 4 WHEN 0 THEN '1,1,1,1,1,1,1,1' WHEN 1 THEN '0,3,0,3,0,3,0,3' WHEN 2 THEN '3,3,3,3' ELSE '2,1' END AS token_ids FROM documents ORDER BY doc_id""",

    // BYTE-level BPE (r17): the byte rig's planted closed form — per
    // family, words 'éé'/'éc'/'cc'/'bé' at reps 8/4/2/1 tokenize to
    // 1/1/2/2 tokens under the 3 trained merges; ids by sorted hex
    // (62=0, 63=1, c3a9=2, c3a963=3, c3a9c3a9=4)
    "bpe_tokenize_bytes" ->
      """SELECT doc_id, CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_words, CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 4 ELSE 2 END AS BIGINT) AS n_tokens, CASE doc_id % 4 WHEN 0 THEN '4,4,4,4,4,4,4,4' WHEN 1 THEN '3,3,3,3' WHEN 2 THEN '1,1,1,1' ELSE '0,2' END AS token_ids FROM documents ORDER BY doc_id""",

    // tokenize -> pack (r16): sequence_pack_spans' cumsum + span
    // arithmetic verbatim, but n = the REAL BPE token count (the
    // planted family closed form) instead of the estTokens proxy;
    // shared by the batch op and the frozen-tokenizer ingest loop's
    // cold run
    "tokenize_pack" -> tokenizePackSql,

    // tokenize -> pack on the BYTE tokenizer (r17): identical span
    // arithmetic, the byte rig's per-family real counts (8, 4, 4, 2)
    "tokenize_pack_bytes" ->
      tokenizePackSql.replace(
        "CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 4 ELSE 2 END",
        "CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 4 ELSE 2 END"),
    "tokenize_pack_inc" -> tokenizePackSql,

    // packed TOKEN sequences (r16): each doc's planted id LIST rebuilds
    // from its family pattern, every span slices it with the shared
    // span arithmetic, and the sequence's ids/resets string-aggregate
    // in seq_off order — one row per training sequence, ids verbatim
    "tokenize_pack_mat" ->
      """WITH t AS (SELECT doc_id, lang, CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 4 ELSE 2 END AS BIGINT) AS n, flatten(list_transform(range(0, CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END), x -> CASE doc_id % 4 WHEN 0 THEN [1] WHEN 1 THEN [0, 3] WHEN 2 THEN [3, 3] ELSE [2, 1] END)) AS ids FROM documents), c AS (SELECT doc_id, lang, n, ids, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM t), e AS (SELECT doc_id, lang, n, s, ids, UNNEST(range(s // 64, (s + n - 1) // 64 + 1)) AS seq_id FROM c WHERE n > 0), sp AS (SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, CAST(GREATEST(s, seq_id * 64) - seq_id * 64 AS BIGINT) AS seq_off, CAST(LEAST(s + n, (seq_id + 1) * 64) - GREATEST(s, seq_id * 64) AS BIGINT) AS n_toks, list_slice(ids, CAST(GREATEST(s, seq_id * 64) - s + 1 AS BIGINT), CAST(GREATEST(s, seq_id * 64) - s + (LEAST(s + n, (seq_id + 1) * 64) - GREATEST(s, seq_id * 64)) AS BIGINT)) AS sl FROM e) SELECT lang, seq_id, CAST(COUNT(*) AS BIGINT) AS n_spans, CAST(SUM(n_toks) AS BIGINT) AS n_toks, string_agg(array_to_string(sl, ','), ',' ORDER BY seq_off) AS token_ids, string_agg(seq_off, ',' ORDER BY seq_off) AS resets FROM sp GROUP BY lang, seq_id ORDER BY lang, seq_id""",

    "heavy_hitters_per_lang_exact" ->
      """WITH t AS (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), c AS (SELECT lang, word, COUNT(*) AS n FROM t WHERE word <> '' GROUP BY lang, word), r AS (SELECT lang, word, n, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk FROM c) SELECT lang, word, n FROM r WHERE rk <= 5 ORDER BY lang, word""",

    // theta at 2^lg above every group's cardinality: θ=1, the sketch IS the
    // distinct set — the HLL twin has no such exact regime to pin
    "approx_distinct_theta" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS approx_customers FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // GK at accuracy=1e7: rank error under one rank at these group sizes
    // ⇒ the exact lower-rank order statistic (quantile_disc)
    "approx_quantiles_x" ->
      """SELECT o_orderpriority, quantile_disc(o_totalprice, 0.5) AS p50_approx, quantile_disc(o_totalprice, 0.9) AS p90_approx FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // t-digest at δ=120000 > π·N/2: every centroid a singleton, so the
    // digest's midpoint interpolation (centroids at cumulative-weight
    // midpoints i+0.5; exact min/max at the ends) is this closed form
    // over the sorted values — identical IEEE op order on both engines
    "tdigest_quantiles_x" -> {
      def td(q: String) =
        s"CASE WHEN n = 1 THEN xs[1] WHEN $q*n <= 0.5 THEN xs[1] " +
        s"WHEN $q*n >= n - 0.5 THEN xs[n] " +
        s"ELSE xs[CAST(floor($q*n - 0.5) AS BIGINT) + 1] + " +
        s"(xs[CAST(floor($q*n - 0.5) AS BIGINT) + 2] - " +
        s"xs[CAST(floor($q*n - 0.5) AS BIGINT) + 1]) * " +
        s"($q*n - (CAST(floor($q*n - 0.5) AS BIGINT) + 0.5)) END"
      s"""WITH s AS (SELECT o_orderpriority, list_sort(list(o_totalprice)) AS xs, COUNT(*) AS n FROM orders GROUP BY 1) SELECT o_orderpriority, ROUND(${td("0.5")}, 2) AS p50_est, ROUND(${td("0.9")}, 2) AS p90_est, ROUND(${td("0.99")}, 2) AS p99_est FROM s ORDER BY o_orderpriority"""
    },

    // ASCII corpus: byte sum == code-point sum, so the stub decoder's
    // dimension arithmetic is plain SQL over the same bytes
    "multimodal_features_q" ->
      """SELECT doc_id, 'image' AS modality, source, CAST(octet_length(encode(text)) AS INT) AS byte_len, lower(hex(substr(text, 1, 4))) AS header_hex, CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width, CAST(64 + list_sum(list_transform(string_split(text, ''), c -> ascii(c))) % 512 AS INT) AS height FROM documents ORDER BY doc_id""",

    // The MJPEG frames are synthesized from doc_id arithmetic (dims +
    // mid-bin solid gray), so decoded-pixel facts are restatable as that
    // same arithmetic: dims must round-trip EXACTLY through the real
    // JPEG encode→AVI mux→demux→ImageIO decode, dims_match is true by
    // construction, and the dominant luminance bin is gray div 32 =
    // doc_id % 7 (solid mid-bin gray survives JPEG loss within its bin)
    "video_frame_probe" ->
      """SELECT doc_id, CAST(16 + (doc_id % 8) * 4 AS INT) AS header_w, CAST(16 + (doc_id % 5) * 4 AS INT) AS header_h, CAST(16 + (doc_id % 8) * 4 AS INT) AS frame_w, CAST(16 + (doc_id % 5) * 4 AS INT) AS frame_h, TRUE AS dims_match, CAST(doc_id % 7 AS INT) AS dominant_bin FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""",

    // Count-Min is EXACT for a word that owns a collision-free row in the
    // d×w grid — a structural fact of the 31-word vocabulary's fixed hash
    // positions (scale-independent: collisions inflate by OTHER words'
    // counts, so a clean row exists at sf0.01 iff it exists at sf0.1).
    // ApproxSpec keeps bounding the general est ≥ true / e/w·N regime.
    "word_freq_cms" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents) SELECT word, COUNT(*) AS n, COUNT(*) AS est_n FROM t WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20""",

    // Misra-Gries is EXACT while the (per-group) vocabulary fits its k
    // counters — no evictions ever happen, in updates or merges, at any
    // partitioning (ApproxSpec bounds the general case; this corpus's
    // 31-word vocabulary < k=64 pins the sketch paths to plain SQL, the
    // ann_pq_q adjudication pattern)
    "heavy_hitters_approx" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents) SELECT word, COUNT(*) AS est_count FROM t WHERE word <> '' GROUP BY word ORDER BY est_count DESC, word LIMIT 20""",

    "heavy_hitters_per_lang" ->
      """WITH t AS (SELECT lang, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), c AS (SELECT lang, word, COUNT(*) AS est_count FROM t WHERE word <> '' GROUP BY lang, word), r AS (SELECT lang, word, est_count, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY est_count DESC, word) AS rk FROM c) SELECT lang, word, est_count FROM r WHERE rk <= 5 ORDER BY lang, word""",

    "tfidf_topterms" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents), t2 AS (SELECT doc_id, word FROM t WHERE word <> ''), tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM t2 GROUP BY doc_id, word), df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word), n AS (SELECT COUNT(*) AS n_docs FROM documents), s AS (SELECT tf.doc_id, tf.word, ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 10000, 0)/10000.0 AS tfidf FROM tf JOIN df ON tf.word = df.word CROSS JOIN n), r AS (SELECT doc_id, word, tfidf, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS BIGINT) AS rank FROM s) SELECT doc_id, word, tfidf, rank FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    "rolling_fingerprint_md5" ->
      """WITH h AS (SELECT doc_id, length(text) - 8 + 1 AS n_windows, list_sort(list_transform(range(1, length(text) - 8 + 2), i -> md5(substr(text, CAST(i AS INT), 8)))) AS hs FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 8) SELECT doc_id, array_to_string(hs[1:4], ',') AS fingerprint, CAST(n_windows AS BIGINT) AS n_windows FROM h ORDER BY doc_id""",

    // winnowing md5 twin: window=16, winnow=4 (clamped trailing windows,
    // mirroring the SlidingMin kernel), per-doc distinct selected hashes,
    // df ≤ 20 pruning, pair counts ≥ 2 — the whole candidate pipeline
    "verbatim_overlap_md5" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 19), w AS (SELECT doc_id, list_transform(range(1, length(text) - 16 + 2), i -> md5(substr(text, CAST(i AS INT), 16))) AS hraw FROM d), sel AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hraw) + 1), j -> list_min(hraw[CAST(j AS INT):CAST(j AS INT)+3])))) AS h FROM w), kept AS (SELECT doc_id, h FROM (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM sel) WHERE df <= 20) SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared_windows FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b""",

    "doc_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS digest, substr(md5(text), 1, 8) AS prefix8, list_sort(list_transform($docWords, x -> md5(x)))[1] AS min_word_md5 FROM documents ORDER BY doc_id""",
  )
}
