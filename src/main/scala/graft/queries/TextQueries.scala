package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextAnalysis
import graft.sources.Tables
import graft.OracleHelpers._

/** Text family queries: text analysis: stats, language ID, tf-idf/BM25, entropy, tokenizers, LMs.
  * SparkEntry concatenates the families and asserts the key sets stay
  * disjoint and aligned.
  */
private[graft] object TextQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_text_stats"       -> ((s, d) => TextAnalysis.textStats(Tables.documents(s, d))),
    "q21_quality_score"    -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "q22_lang_id"          -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "q23_fingerprints"     -> ((s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))),
    "q24_token_counts"     -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "q50_rolling_fingerprint" -> ((s, d) => TextAnalysis.rollingFingerprints(Tables.documents(s, d))),
    // corpus vocabulary head: explode + map-side combine + TakeOrdered
    "q65_token_topk"    -> ((s, d) => TextAnalysis.tokenTopK(Tables.documents(s, d))),
    // salient terms per doc: tf-idf with salted per-doc top-k
    "q67_tfidf_topterms" -> ((s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d))),
    // integer-exact document-length histogram
    "q68_length_histogram" -> ((s, d) => TextAnalysis.lengthHistogram(Tables.documents(s, d))),
    // per-language p10 quality pruning report (exact-percentile twin)
    "q71_quality_filter" -> ((s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d))),
    // count-min sketch estimates vs exact counts for the top tokens
    "q73_countmin_tokens" -> ((s, d) => TextAnalysis.countMinTopTokens(Tables.documents(s, d))),
    // BM25 lexical retrieval: top-20 docs for a fixed query-term set
    "q79_bm25" -> ((s, d) => TextAnalysis.bm25TopDocs(Tables.documents(s, d))),
    // lexical-diversity quality signal: per-doc token entropy
    "q90_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(Tables.documents(s, d))),
    // per-source quality drift (PSI over quality deciles vs the corpus)
    "q102_source_drift" -> ((s, d) => TextAnalysis.sourceDriftPsi(Tables.documents(s, d))),
    // tokenizer training: the first 5 BPE merges learned from the corpus
    "q104_bpe_merges" -> ((s, d) => TextAnalysis.bpeMerges(Tables.documents(s, d))),
    // tokenizer application: encode the corpus with the learned merges and
    // report per-language fertility (tokens/word) and chars/token
    "q105_bpe_fertility" -> ((s, d) => TextAnalysis.bpeFertility(Tables.documents(s, d))),
    // bigram-LM surprisal: CCNet-style perplexity quality signal, the 30
    // most statistically-surprising documents
    "q106_bigram_surprisal" -> ((s, d) => TextAnalysis.bigramSurprisal(Tables.documents(s, d))),
    // language-ID evaluation: confusion matrix of q22 vs ground truth
    "q109_langid_eval" -> ((s, d) => TextAnalysis.langIdConfusion(Tables.documents(s, d))),
    // datasheet length half: per-source token-length quartiles + p95 via
    // the bounded-state histogram quantile
    "q119_length_profile" -> ((s, d) => TextAnalysis.lengthProfile(Tables.documents(s, d))),
    // collocation mining: top adjacent-pair PMI with a min-count floor
    "q136_collocations" -> ((s, d) => TextAnalysis.collocations(Tables.documents(s, d))),
    // pseudo-relevance feedback: BM25 re-ranked under the expanded query
    "q138_prf_retrieval" -> ((s, d) =>
      TextAnalysis.prfExpandedRetrieval(Tables.documents(s, d))),
    // EXACT heavy hitters (count > n/50) via the two-pass Misra-Gries
    // candidate scheme: k=49 mergeable counters per partition, exact
    // candidate-only recount — fixed memory at any vocabulary size
    "q154_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(Tables.documents(s, d))),
    // Heaps-law vocabulary growth: new token types per doc_id decile
    // and the cumulative vocabulary curve
    "q156_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(Tables.documents(s, d))),
    // Zipf-slope least-squares fit over the token-frequency head —
    // integer micro-unit moments, one rounded division at the end
    "q158_zipf_fit" -> ((s, d) => TextAnalysis.zipfFit(Tables.documents(s, d))),
    // per-source exact heavy hitters: q154's MG two-pass run per group
    // (one grouped sketch agg, groups x k candidate recount)
    "q161_heavy_hitters_by_source" -> ((s, d) =>
      TextAnalysis.heavyHittersBySource(Tables.documents(s, d))),
    // TextRank keywords: weighted PageRank on the token co-occurrence
    // graph, q151's integer micro-unit discipline with per-edge
    // (rank*w) div wdeg contributions
    "q190_textrank_keywords" -> ((s, d) => TextAnalysis.textrankKeywords(Tables.documents(s, d))),
    // exact positional phrase search over the postings frame: anchor +
    // one semi-join per word, term-selectivity-proportional
    "q196_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(Tables.documents(s, d))),
    // held-out add-one bigram LM eval: train on the md5-even half,
    // score the odd half; per-lang bits/token + unseen-bigram rate
    "q198_heldout_perplexity" -> ((s, d) =>
      TextAnalysis.heldOutPerplexity(Tables.documents(s, d))),
    // per-source Chao1 richness + Good-Turing unseen mass from the
    // singleton/doubleton sketch — the point-estimate answer to q156's
    // Heaps curve ("how much vocabulary is this source still hiding")
    "q265_unseen_mass" -> ((s, d) =>
      TextAnalysis.unseenMass(Tables.documents(s, d))),
    // interpolated Kneser-Ney bigram eval on the q198 split: continuation
    // counts + absolute discount — the smoothing ablation vs add-one
    "q269_kneser_ney" -> ((s, d) =>
      TextAnalysis.kneserNeyEval(Tables.documents(s, d))),
    // per-source lexical JSD vs pooled rest: support-bounded grid, the
    // out-of-support tail collapses to a closed form (never zero-filled)
    "q280_lexical_jsd" -> ((s, d) =>
      TextAnalysis.lexicalJsDivergence(Tables.documents(s, d))),
    // token burstiness: var/mean of per-doc counts (zeros implicit in
    // the algebra) - the topical-vs-grammatical vocabulary evidence
    "q297_token_burstiness" -> ((s, d) =>
      TextAnalysis.tokenBurstiness(Tables.documents(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "q20_text_stats" ->
      s"""SELECT doc_id, lang,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         | round(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / len(string_split(text, ' ')), 4) AS avg_word_len,
         | round(length(regexp_replace(text, '[a-z ]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio,
         | round($Stopwords * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q21_quality_score" ->
      s"""SELECT doc_id, $QualityExprSql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_lang_id" ->
      s"""SELECT doc_id, lang,
         | CASE WHEN greatest($SEn, $SDe, $SFr, $SEs) = 0 THEN 'und'
         |      WHEN $SEn = greatest($SEn, $SDe, $SFr, $SEs) THEN 'en'
         |      WHEN $SDe = greatest($SEn, $SDe, $SFr, $SEs) THEN 'de'
         |      WHEN $SFr = greatest($SEn, $SDe, $SFr, $SEs) THEN 'fr'
         |      ELSE 'es' END AS lang_guess
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_fingerprints" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q24_token_counts" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q50_rolling_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) for c in string_split_regex(text, '')]),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q65_token_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin,
    "q67_tfidf_topterms" ->
      // rank by the ROUNDED tf-idf then term — the same total order the
      // Spark side uses, immune to cross-engine ln() last-ulp drift
      """WITH tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  ) GROUP BY 1, 2
        |),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, round(tf * ln(n_docs * 1.0 / df), 4) AS tfidf
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n
        |),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rnk
        |  FROM scored
        |)
        |SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q68_length_histogram" ->
      """SELECT CAST(floor(n_chars / 50.0) * 50 AS BIGINT) AS bin,
        | count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q71_quality_filter" ->
      s"""WITH s AS (SELECT doc_id, lang, $QualityExprSql AS quality FROM documents),
         |t AS (SELECT lang, quantile_cont(quality, 0.1) AS cut FROM s GROUP BY lang)
         |SELECT lang, round(cut, 4) AS p10_cut, count(*) AS n_total,
         | CAST(sum(CASE WHEN quality >= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM s JOIN t USING (lang)
         |GROUP BY lang, cut ORDER BY lang""".stripMargin,
    "q73_countmin_tokens" -> {
      val cellCase = posCaseSql("h", "j", 3, 1024)
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |th AS (SELECT md5(token) AS h FROM toks),
         |cells AS (
         |  SELECT j, $cellCase AS cell, count(*) AS c
         |  FROM th CROSS JOIN (VALUES (0), (1), (2)) t(j)
         |  GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT token, count(*) AS n FROM toks GROUP BY token
         |  ORDER BY n DESC, token LIMIT 10
         |),
         |probe AS (
         |  SELECT token, n, j, $cellCase AS cell
         |  FROM (SELECT token, n, md5(token) AS h FROM top)
         |  CROSS JOIN (VALUES (0), (1), (2)) t(j)
         |),
         |est AS (
         |  SELECT token, n, min(coalesce(c.c, 0)) AS est_n
         |  FROM probe p LEFT JOIN cells c USING (j, cell) GROUP BY 1, 2
         |)
         |SELECT token, n AS true_n, CAST(est_n AS BIGINT) AS est_n,
         | CAST(est_n - n AS BIGINT) AS overestimate
         |FROM est ORDER BY true_n DESC, token""".stripMargin
    },
    "q79_bm25" ->
      // constant arithmetic mirrors the Scala shapes exactly: 0.5/0.75 are
      // power-of-two fractions (exact), (1.2 + 1) converts to the same
      // double 2.2 either way, and b*dl is exact before the only inexact
      // division. ln() is the one transcendental (libms may differ by
      // ~1 ulp), so scores round to 4 decimals — a boundary sits ~1e11 ulps
      // away from that noise, vs ~1e3x closer at 6 decimals
      """WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
        |),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |  ) WHERE term IN ('table', 'data', 'row') GROUP BY 1, 2
        |),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id,
        |    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q90_token_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |    CAST(sum(c * CAST(round(log2(c) * 1e6) AS BIGINT)) AS BIGINT) AS s6
        |  FROM c GROUP BY doc_id
        |),
        |e AS (
        |  SELECT doc_id, n_tokens, n_types,
        |    log2(n_tokens) - s6 / 1e6 / n_tokens AS h
        |  FROM s
        |)
        |SELECT doc_id, n_tokens, n_types,
        | round(h, 4) AS entropy,
        | round(CASE WHEN n_tokens > 1 THEN h / log2(n_tokens) ELSE 0.0 END, 4)
        |   AS norm_entropy
        |FROM e ORDER BY doc_id""".stripMargin,
    "q102_source_drift" ->
      // smoothing operands exact integers; per-bin terms quantize to
      // integer micro-units so the per-source sum is exact and
      // order-independent; expression trees mirror the Scala shapes
      // term for term
      s"""WITH b AS (SELECT source, CAST(floor($QualityExprSql * 10) AS BIGINT) AS bin
         |           FROM documents),
         |sb AS (SELECT source, bin, count(*) AS c_sb FROM b GROUP BY 1, 2),
         |cb AS (SELECT bin, CAST(sum(c_sb) AS BIGINT) AS c_b FROM sb GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS n, count(*) AS nb FROM cb),
         |st AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s FROM sb GROUP BY 1),
         |dense AS (
         |  SELECT st.source, st.n_s, cb.bin, cb.c_b,
         |    CAST(coalesce(sb.c_sb, 0) AS BIGINT) AS c_sb, tot.n, tot.nb
         |  FROM st CROSS JOIN cb CROSS JOIN tot
         |  LEFT JOIN sb ON sb.source = st.source AND sb.bin = cb.bin
         |)
         |SELECT source, max(n_s) AS n_docs,
         | round(CAST(sum(CAST(round((((c_sb + 1) / (n_s + nb) - (c_b + 1) / (n + nb)) *
         |   ln(((c_sb + 1) / (n_s + nb)) / ((c_b + 1) / (n + nb)))) * 1e6) AS BIGINT))
         |   AS BIGINT) / 1e6, 4) AS psi
         |FROM dense GROUP BY source ORDER BY source""".stripMargin,
    "q104_bpe_merges" -> BpeSql,
    "q105_bpe_fertility" -> BpeFertilitySql,
    "q106_bigram_surprisal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    unnest([struct_pack(w1 := ts[i], w2 := ts[i+1]) for i in range(1, len(ts))]) AS bg
        |  FROM t
        |),
        |bd AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(*) AS k FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS cb FROM bd GROUP BY w1, w2),
        |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY w1),
        |vv AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM t)),
        |sc AS (
        |  SELECT doc_id, k,
        |    CAST(round(-log2((cb + 1.0) / (cu + v)) * 1e6, 0) AS BIGINT) AS u6
        |  FROM bd JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vv
        |)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        | round(sum(k * u6) * 1.0 / sum(k) / 1e6, 4) AS bits_per_token
        |FROM sc GROUP BY doc_id
        |ORDER BY bits_per_token DESC, doc_id LIMIT 30""".stripMargin,
    "q109_langid_eval" ->
      s"""WITH g AS (
         |  SELECT lang,
         |    CASE WHEN greatest($SEn, $SDe, $SFr, $SEs) = 0 THEN 'und'
         |         WHEN $SEn = greatest($SEn, $SDe, $SFr, $SEs) THEN 'en'
         |         WHEN $SDe = greatest($SEn, $SDe, $SFr, $SEs) THEN 'de'
         |         WHEN $SFr = greatest($SEn, $SDe, $SFr, $SEs) THEN 'fr'
         |         ELSE 'es' END AS lang_guess
         |  FROM documents
         |),
         |c AS (SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY 1, 2)
         |SELECT lang, lang_guess, n_docs,
         | round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 4) AS share
         |FROM c ORDER BY lang, lang_guess""".stripMargin,
    "q119_length_profile" ->
      """WITH s AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw FROM documents
        |)
        |SELECT source, count(*) AS n_docs,
        | round(quantile_cont(nw, 0.25), 2) AS p25,
        | round(quantile_cont(nw, 0.5), 2) AS p50,
        | round(quantile_cont(nw, 0.75), 2) AS p75,
        | round(quantile_cont(nw, 0.95), 2) AS p95
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "q136_collocations" ->
      // double casts BEFORE the products (mirrors the Scala side); PMI
      // micro-quantized so the ranking key is engine-exact
      """WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |bg AS (
        |  SELECT b[1] AS w1, b[2] AS w2, count(*) AS cab FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |      i -> [ts[i], ts[i + 1]])) AS b
        |    FROM toks WHERE len(ts) >= 2
        |  ) GROUP BY 1, 2
        |),
        |uni AS (
        |  SELECT w, count(*) AS cw FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1
        |),
        |np AS (SELECT CAST(sum(cab) AS BIGINT) AS n_pos FROM bg)
        |SELECT w1, w2, cab,
        | round(ln(CAST(n_pos AS DOUBLE) * cab / (CAST(u1.cw AS DOUBLE) * u2.cw)) * 1e6) / 1e6 AS pmi
        |FROM bg
        |JOIN uni u1 ON u1.w = w1
        |JOIN uni u2 ON u2.w = w2
        |CROSS JOIN np
        |WHERE cab >= 20
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "q138_prf_retrieval" ->
      // seed pass = q79's CTEs; feedback terms = q67's rounded tf-idf
      // rank restricted to the seed top-3; re-score under the expanded
      // DISTINCT term set with the same BM25 arithmetic
      """WITH dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents
        |),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf0 AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('table', 'data', 'row') GROUP BY 1, 2
        |),
        |df0 AS (SELECT term, count(*) AS df FROM tf0 GROUP BY 1),
        |seed AS (
        |  SELECT doc_id,
        |    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
        |  FROM tf0 JOIN df0 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY doc_id
        |),
        |seedtop AS (SELECT doc_id FROM seed ORDER BY bm25 DESC, doc_id LIMIT 3),
        |tfa AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfa AS (SELECT term, count(*) AS df FROM tfa GROUP BY 1),
        |n2 AS (SELECT count(*) AS n_docs FROM documents),
        |fbt AS (
        |  SELECT term FROM (
        |    SELECT t.doc_id, t.term,
        |      row_number() OVER (PARTITION BY t.doc_id
        |        ORDER BY round(t.tf * ln(n_docs / df), 4) DESC, t.term) AS r
        |    FROM tfa t JOIN dfa USING (term) CROSS JOIN n2
        |    WHERE t.doc_id IN (SELECT doc_id FROM seedtop)
        |  ) WHERE r <= 2
        |),
        |expanded AS (
        |  SELECT DISTINCT term FROM (
        |    SELECT unnest(['table', 'data', 'row']) AS term
        |    UNION ALL SELECT term FROM fbt
        |  )
        |),
        |tfx AS (
        |  SELECT doc_id, term, tf FROM tfa WHERE term IN (SELECT term FROM expanded)
        |),
        |dfx AS (SELECT term, count(*) AS df FROM tfx GROUP BY 1)
        |SELECT doc_id,
        | round(sum(ln((n - df + 0.5) / (df + 0.5) + 1) * tf * (1.2 + 1) /
        |   (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25x
        |FROM tfx JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY bm25x DESC, doc_id LIMIT 10""".stripMargin,
    "q154_heavy_hitters" ->
      // exact heavy-hitter semantics: every token with count > n/(k+1),
      // k = 49 — the MG sketch on the Spark side is a candidate
      // generator only, so the oracle is the plain exact form
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT count(*) AS n FROM t),
        |c AS (SELECT token, count(*) AS n_tok FROM t GROUP BY 1)
        |SELECT c.token, c.n_tok, n.n AS n_total
        |FROM c, n WHERE c.n_tok * 50 > n.n
        |ORDER BY n_tok DESC, token""".stripMargin,
    "q156_vocab_growth" ->
      // deciles by integer arithmetic over max(doc_id)+1; first-seen =
      // min(doc_id) per token; cumulative vocab over the 10-row frame
      """WITH m AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |ft AS (SELECT token, min(doc_id) AS fd FROM t GROUP BY 1),
        |nt AS (SELECT least(9, fd * 10 // n) AS decile, count(*) AS n_new_types
        |       FROM ft, m GROUP BY 1),
        |dm AS (SELECT least(9, doc_id * 10 // n) AS decile, count(*) AS n_docs
        |       FROM documents, m GROUP BY 1),
        |tm AS (SELECT least(9, doc_id * 10 // n) AS decile, count(*) AS n_tokens
        |       FROM t, m GROUP BY 1)
        |SELECT dm.decile, dm.n_docs,
        |  coalesce(tm.n_tokens, 0) AS n_tokens,
        |  coalesce(nt.n_new_types, 0) AS n_new_types,
        |  CAST(sum(coalesce(nt.n_new_types, 0)) OVER (ORDER BY dm.decile) AS BIGINT) AS vocab_cum
        |FROM dm LEFT JOIN tm USING (decile) LEFT JOIN nt USING (decile)
        |ORDER BY dm.decile""".stripMargin,
    "q158_zipf_fit" ->
      // per-term 1e-6-quantized ln() moments, exact BIGINT sums, one
      // rounded double division — mirrors the Spark arithmetic exactly
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |top AS (SELECT token, count(*) AS c FROM tok GROUP BY 1
        |        ORDER BY c DESC, token LIMIT 100),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rank FROM top),
        |m AS (SELECT c,
        |  CAST(round(ln(rank) * 1e6, 0) AS BIGINT) AS x6,
        |  CAST(round(ln(c) * 1e6, 0) AS BIGINT) AS y6 FROM r),
        |s AS (SELECT count(*) AS n_terms,
        |  CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
        |  CAST(sum(x6 * y6) AS BIGINT) AS sxy, CAST(sum(x6 * x6) AS BIGINT) AS sxx,
        |  max(c) AS top1_n, CAST(sum(c) AS BIGINT) AS head_mass FROM m)
        |SELECT n_terms,
        |  round(CAST(n_terms * sxy - sx * sy AS DOUBLE) / (n_terms * sxx - sx * sx), 4) AS slope,
        |  top1_n, head_mass FROM s""".stripMargin,
    "q161_heavy_hitters_by_source" ->
      // exact per-source heavy-hitter semantics (count > n_source/50);
      // the per-group MG sketch is the candidate generator only
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |n AS (SELECT source, count(*) AS n_total FROM t GROUP BY 1),
        |c AS (SELECT source, token, count(*) AS n_tok FROM t GROUP BY 1, 2)
        |SELECT c.source, c.token, c.n_tok, n.n_total
        |FROM c JOIN n USING (source) WHERE c.n_tok * 50 > n.n_total
        |ORDER BY source, n_tok DESC, token""".stripMargin,
    "q190_textrank_keywords" -> {
      // q151's unrolled integer power iteration, WEIGHTED: per-edge
      // contribution (rank*w) // wdeg, d = 17/20, seed 1e6//N
      def iter(i: Int) =
        s"""tr$i AS MATERIALIZED (
           |  SELECT d.node, d.wdeg,
           |    CAST((150000 // nn.n) + (17 * s.s) // 20 AS BIGINT) AS rank_m
           |  FROM wd d
           |  JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((r.rank_m * e.w) // r.wdeg) AS BIGINT) AS s
           |    FROM tedges e JOIN tr${i - 1} r ON r.node = e.src GROUP BY 1
           |  ) s ON s.node = d.node
           |  CROSS JOIN nn
           |)""".stripMargin
      s"""WITH tk AS (SELECT string_split(text, ' ') AS ts FROM documents),
         |bg AS (
         |  SELECT ts[i] AS w1, ts[i + 1] AS w2
         |  FROM tk, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
         |  WHERE len(ts) >= 2 AND ts[i] <> ts[i + 1]
         |),
         |cooc AS (
         |  SELECT least(w1, w2) AS a, greatest(w1, w2) AS b, count(*) AS w
         |  FROM bg GROUP BY 1, 2
         |),
         |keep AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
         |),
         |kv AS (SELECT tok FROM keep GROUP BY tok HAVING count(*) >= 5),
         |ke AS MATERIALIZED (
         |  SELECT a, b, w FROM cooc
         |  JOIN kv k1 ON k1.tok = a JOIN kv k2 ON k2.tok = b
         |),
         |tedges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM ke
         |  UNION ALL SELECT b, a, w FROM ke
         |),
         |wd AS MATERIALIZED (
         |  SELECT src AS node, CAST(sum(w) AS BIGINT) AS wdeg
         |  FROM tedges GROUP BY 1
         |),
         |nn AS (SELECT count(*) AS n FROM wd),
         |tr0 AS (SELECT node, wdeg, 1000000 // nn.n AS rank_m
         |        FROM wd CROSS JOIN nn),
         |${(1 to 4).map(iter).mkString(",\n")}
         |SELECT node AS token, wdeg, CAST(rank_m AS BIGINT) AS rank_micro
         |FROM tr4 ORDER BY rank_micro DESC, token LIMIT 20""".stripMargin
    },
    "q196_phrase_search" ->
      // positional postings (1-based; Spark's are 0-based - counts are
      // base-invariant), anchor + per-word position joins
      """WITH p AS (
        |  SELECT doc_id, i AS pos, ws[i] AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |    LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
        |),
        |m0 AS (SELECT doc_id, pos FROM p WHERE tok = 'big'),
        |m1 AS (SELECT m0.doc_id, m0.pos FROM m0
        |  JOIN p ON p.doc_id = m0.doc_id AND p.pos = m0.pos + 1 AND p.tok = 'order'),
        |m2 AS (SELECT m1.doc_id, m1.pos FROM m1
        |  JOIN p ON p.doc_id = m1.doc_id AND p.pos = m1.pos + 2 AND p.tok = 'scan')
        |SELECT doc_id, 'big order scan' AS phrase, count(*) AS n_occurrences
        |FROM m2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q198_heldout_perplexity" ->
      // q106's micro-bit arithmetic behind an md5 train/test split;
      // LEFT joins price unseen pairs/contexts at the add-one floor
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    ${posSql("md5(CAST(doc_id AS VARCHAR))", 0, 2)} = 0 AS is_train,
         |    string_split(text, ' ') AS ts
         |  FROM documents
         |),
         |b AS (
         |  SELECT lang, is_train,
         |    unnest([struct_pack(w1 := ts[i], w2 := ts[i+1]) for i in range(1, len(ts))]) AS bg
         |  FROM t
         |),
         |cb AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS cb
         |       FROM b WHERE is_train GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY w1),
         |vv AS (SELECT count(DISTINCT w) AS v
         |       FROM (SELECT unnest(ts) AS w FROM t WHERE is_train)),
         |te AS (SELECT lang, bg.w1 AS w1, bg.w2 AS w2, count(*) AS k
         |       FROM b WHERE NOT is_train GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT lang, k, coalesce(cb, 0) = 0 AS unseen,
         |    CAST(round(-log2((coalesce(cb, 0) + 1.0) / (coalesce(cu, 0) + v)) * 1e6, 0)
         |      AS BIGINT) AS u6
         |  FROM te LEFT JOIN cb USING (w1, w2) LEFT JOIN cu USING (w1) CROSS JOIN vv
         |)
         |SELECT lang, CAST(sum(k) AS BIGINT) AS n_bigrams,
         | round(sum(k * u6) * 1.0 / sum(k) / 1e6, 4) AS bits_per_token,
         | round(sum(CASE WHEN unseen THEN k ELSE 0 END) * 1.0 / sum(k), 6) AS unseen_rate
         |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    "q265_unseen_mass" ->
      // frequency-of-frequencies per source; the bias-corrected Chao1
      // form is defined even with zero doubletons
      """WITH tc AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tc GROUP BY 1
        |)
        |SELECT source, n_tokens, vocab, f1, f2,
        |  round(vocab + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 2)
        |    AS chao1,
        |  round(CAST(f1 AS DOUBLE) / n_tokens, 6) AS gt_unseen_mass
        |FROM agg ORDER BY source""".stripMargin,
    "q269_kneser_ney" ->
      // q198's frame + continuation counts; the discounted two-term
      // interpolation mirrored operation-for-operation (0.75 and the
      // +1/+V continuation floor are literals on both sides)
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    ${posSql("md5(CAST(doc_id AS VARCHAR))", 0, 2)} = 0 AS is_train,
         |    string_split(text, ' ') AS ts
         |  FROM documents
         |),
         |b AS (
         |  SELECT lang, is_train,
         |    unnest([struct_pack(w1 := ts[i], w2 := ts[i+1]) for i in range(1, len(ts))]) AS bg
         |  FROM t
         |),
         |cb AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS cb
         |       FROM b WHERE is_train GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
         |         CAST(count(*) AS BIGINT) AS n1w1
         |       FROM cb GROUP BY w1),
         |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1w2 FROM cb GROUP BY w2),
         |gb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cb),
         |vv AS (SELECT count(DISTINCT w) AS v
         |       FROM (SELECT unnest(ts) AS w FROM t WHERE is_train)),
         |te AS (SELECT lang, bg.w1 AS w1, bg.w2 AS w2, count(*) AS k
         |       FROM b WHERE NOT is_train GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT lang, k, cu IS NULL AS backoff,
         |    CAST(round(-log2(
         |      CASE WHEN cu IS NOT NULL THEN
         |        greatest(CAST(coalesce(cb, 0) AS DOUBLE) - 0.75, 0.0) / cu
         |          + CAST(0.75 * n1w1 AS DOUBLE) / cu
         |            * ((coalesce(n1w2, 0) + 1.0) / (nb + v))
         |      ELSE (coalesce(n1w2, 0) + 1.0) / (nb + v) END) * 1e6, 0)
         |      AS BIGINT) AS u6
         |  FROM te LEFT JOIN cb USING (w1, w2) LEFT JOIN cu USING (w1)
         |    LEFT JOIN ct USING (w2) CROSS JOIN gb CROSS JOIN vv
         |)
         |SELECT lang, CAST(sum(k) AS BIGINT) AS n_bigrams,
         | round(sum(k * u6) * 1.0 / sum(k) / 1e6, 4) AS bits_per_token,
         | round(sum(CASE WHEN backoff THEN k ELSE 0 END) * 1.0 / sum(k), 6)
         |   AS backoff_rate
         |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    "q280_lexical_jsd" ->
      // support-bounded per-token terms micro-quantized; the
      // out-of-support tail is ((n-ns) - sum(ct-c)) / (n-ns) exactly
      """WITH st AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY 1, 2
        |),
        |tk AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM tk),
        |j AS (
        |  SELECT st.source, st.c, tk.ct, t.n,
        |    CAST(sum(st.c) OVER (PARTITION BY st.source) AS BIGINT) AS ns
        |  FROM st JOIN tk USING (token) CROSS JOIN tot t
        |),
        |terms AS (
        |  SELECT source, ns, n, ct - c AS rest,
        |    CASE WHEN n - ns > 0 THEN
        |      CAST(round((
        |        (CAST(c AS DOUBLE) / ns) * log2((CAST(c AS DOUBLE) / ns)
        |          / ((CAST(c AS DOUBLE) / ns
        |              + CAST(ct - c AS DOUBLE) / (n - ns)) / 2.0))
        |        + CASE WHEN ct - c > 0 THEN
        |            (CAST(ct - c AS DOUBLE) / (n - ns))
        |              * log2((CAST(ct - c AS DOUBLE) / (n - ns))
        |              / ((CAST(c AS DOUBLE) / ns
        |                  + CAST(ct - c AS DOUBLE) / (n - ns)) / 2.0))
        |          ELSE 0.0 END) * 1000000.0, 0) AS BIGINT)
        |    ELSE 0 END AS t6
        |  FROM j
        |),
        |ps AS (
        |  SELECT source, max(ns) AS n_tokens, max(n) AS n,
        |    CAST(sum(t6) AS BIGINT) AS sum6,
        |    CAST(sum(rest) AS BIGINT) AS rest_sup
        |  FROM terms GROUP BY 1
        |)
        |SELECT source, n_tokens,
        |  CASE WHEN n - n_tokens > 0 THEN
        |    round(0.5 * (CAST(sum6 AS DOUBLE) / 1000000.0)
        |      + 0.5 * (CAST((n - n_tokens) - rest_sup AS DOUBLE)
        |          / (n - n_tokens)), 6)
        |  END AS jsd_bits,
        |  CASE WHEN n - n_tokens > 0 THEN
        |    round(CAST((n - n_tokens) - rest_sup AS DOUBLE) / (n - n_tokens), 6)
        |  END AS unshared_rest_mass
        |FROM ps ORDER BY source""".stripMargin,
    "q297_token_burstiness" ->
      // zero-count docs enter through the moments; one double render
      // per token; rounded-dispersion + token total order for the cut
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |pd AS (
        |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents
        |  ) WHERE length(token) > 0 GROUP BY 1, 2
        |),
        |bt AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM pd GROUP BY 1
        |)
        |SELECT token, df, s1 AS total_count,
        |  round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
        |    / s1, 4) AS dispersion
        |FROM bt, n WHERE df >= 50
        |ORDER BY dispersion DESC, token LIMIT 25""".stripMargin,
  )
}
