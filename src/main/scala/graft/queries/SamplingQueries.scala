package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Sampling
import graft.sources.Tables
import graft.OracleHelpers._

/** Sampling family queries: sampling: stratified/weighted/Neyman/HT, splits, packing, epoch shuffle.
  * SparkEntry concatenates the families and asserts the key sets stay
  * disjoint and aligned.
  */
private[graft] object SamplingQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(Tables.documents(s, d))),
    "q57_train_test_split"  -> ((s, d) => Sampling.trainTestSplit(Tables.documents(s, d))),
    "q58_pack_offsets"      -> ((s, d) => Sampling.packByTokenOffset(Tables.documents(s, d))),
    // context-window chunking (64-token windows, stride 32)
    "q66_doc_chunks"    -> ((s, d) => Sampling.docChunks(Tables.documents(s, d))),
    // near-dup-aware split: the md5-range rule applied to the cluster rep,
    // so no near-dup pair straddles train/test
    "q93_cluster_split" -> ((s, d) => Sampling.clusterAwareSplit(Tables.documents(s, d))),
    // Efraimidis-Spirakis weighted sample without replacement (w = n_chars)
    "q124_weighted_sample" -> ((s, d) => Sampling.weightedSample(Tables.documents(s, d))),
    // reproducible epoch shuffle: per-shard training-order checksums
    "q134_epoch_shuffle" -> ((s, d) => Sampling.epochShuffle(Tables.documents(s, d))),
    // per-language A-ES weighted sample (the balanced-inspection form)
    "q141_stratified_weighted" -> ((s, d) =>
      Sampling.weightedSampleByStratum(Tables.documents(s, d))),
    // Neyman variance-optimal stratified allocation + md5 draw: exact
    // integer moments, integer micro-weights (order-free denominator),
    // largest-remainder rounding, per-stratum bottom-k draw
    "q179_neyman_sample" -> ((s, d) => Sampling.neymanAllocation(Tables.documents(s, d))),
    // Horvitz-Thompson totals from the q124 bottom-k draw: tau = the
    // (k+1)-th key, p = 1-exp(-w*tau), micro-quantized HT terms
    "q206_ht_estimate" -> ((s, d) => Sampling.htEstimate(Tables.documents(s, d))),
    // word2vec negative-sampling table: unigram^0.75 micro-weights,
    // bucketized-CDF equi-join resolution, md5(doc:slot) coins
    "q234_negative_sampling" -> ((s, d) =>
      Sampling.negativeSamples(Tables.documents(s, d))),
    // raking (IPF): per-cell weights fitting the md5 subsample to the
    // full corpus's lang AND source margins; unrolled-round oracle
    "q238_raking" -> ((s, d) => Sampling.rakingWeights(Tables.documents(s, d))),
    // Kish ESS + design effect of the q238 weights: the variance price
    // of the calibration, cell-level closed form (no second pass)
    "q273_raking_ess" -> ((s, d) => Sampling.rakingEss(Tables.documents(s, d))),
  )

  /** q238's IPF rounds unrolled (the q143/q233 oracle pattern): integer
    * micro-unit cell weights, one double factor per half-round.
    */
  private def rakingSql(rounds: Int): String =
    s"""${rakingCtes(rounds)}
       |SELECT lang, source, n AS n_sample, round(w / 1e6, 6) AS raked_docs
       |FROM w$rounds ORDER BY lang, source""".stripMargin

  private def rakingRound(i: Int): String =
    s"""la$i AS (SELECT lang, CAST(sum(w) AS BIGINT) AS cur FROM w${i - 1} GROUP BY 1),
       |wa$i AS (
       |  SELECT w.lang, w.source, w.n,
       |    CAST(round(w.w * (CAST(t.t * 1000000 AS DOUBLE) / la.cur)) AS BIGINT) AS w
       |  FROM w${i - 1} w JOIN la$i la USING (lang) JOIN tgl t USING (lang)
       |),
       |sb$i AS (SELECT source, CAST(sum(w) AS BIGINT) AS cur FROM wa$i GROUP BY 1),
       |w$i AS (
       |  SELECT w.lang, w.source, w.n,
       |    CAST(round(w.w * (CAST(t.t * 1000000 AS DOUBLE) / sb.cur)) AS BIGINT) AS w
       |  FROM wa$i w JOIN sb$i sb USING (source) JOIN tgs t USING (source)
       |)""".stripMargin

  /** The raking CTE chain up to `w<rounds>` — shared by the q238 oracle
    * and q273's ESS rollup on top of the same weights.
    */
  private def rakingCtes(rounds: Int): String =
    s"""WITH samp AS (
       |  SELECT lang, source, count(*) AS n FROM documents
       |  WHERE ${posSql("md5(CAST(doc_id AS VARCHAR))", 0, 4)} = 0
       |  GROUP BY 1, 2
       |),
       |tgl AS (SELECT lang, count(*) AS t FROM documents GROUP BY 1),
       |tgs AS (SELECT source, count(*) AS t FROM documents GROUP BY 1),
       |w0 AS (SELECT lang, source, n, CAST(n * 1000000 AS BIGINT) AS w FROM samp),
       |${(1 to rounds).map(rakingRound).mkString(",\n")}""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q56_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT lang AS stratum, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |)
        |SELECT stratum, doc_id FROM ranked WHERE rn <= 20
        |ORDER BY stratum, doc_id""".stripMargin,
    "q57_train_test_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
        |         THEN 'test' ELSE 'train' END AS split,
        | count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_pack_offsets" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, tok,
        |    sum(tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS off
        |  FROM t
        |)
        |SELECT CAST(off // 2048 AS BIGINT) AS bin, count(*) AS n_docs,
        | CAST(sum(tok) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q66_doc_chunks" ->
      // chunk starts 0, 32, 64, ...; last chunk may be short; DuckDB list
      // slicing ws[a:b] is 1-based inclusive and clamps like Spark's slice
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(generate_series(0, CASE WHEN len(ws) <= 64 THEN 0
        |      ELSE CAST(ceil((len(ws) - 64) / 32.0) AS BIGINT) END)) AS chunk_no
        |  FROM w
        |)
        |SELECT doc_id, chunk_no,
        |  CAST(len(ws[chunk_no*32+1 : chunk_no*32+64]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ws[chunk_no*32+1 : chunk_no*32+64], ' ')) AS chunk_checksum
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,
    "q93_cluster_split" ->
      // all-pairs Jaccard pairs -> recursive-CTE components -> q57's
      // md5-range rule on the component representative
      s"""WITH RECURSIVE pairs AS (
         |$JaccardSql
         |),
         |edges AS (
         |  SELECT id1 AS src, id2 AS dst FROM pairs
         |  UNION ALL SELECT id2, id1 FROM pairs
         |),
         |reach(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
         |),
         |comp AS (SELECT node, min(label) AS rep FROM reach GROUP BY node),
         |d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         |    coalesce(c.rep, doc_id) AS rep
         |  FROM documents LEFT JOIN comp c ON doc_id = c.node
         |)
         |SELECT CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < '0d'
         |         THEN 'test' ELSE 'train' END AS split,
         | count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q124_weighted_sample" ->
      // A-ES keys: exact 13-hex md5 fraction (dyadic, so list_sum is
      // exact), -ln(u)/w; bottom-50 selection ranks the unrounded key
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_sum(list_transform(generate_series(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |           * power(16.0, -i))) AS u
        |  FROM documents
        |),
        |keyed AS (SELECT doc_id, lang, n_chars, -ln(u) / n_chars AS key FROM d),
        |top AS (SELECT * FROM keyed ORDER BY key, doc_id LIMIT 50)
        |SELECT doc_id, lang, n_chars, round(key * 1e6, 4) AS key_micro
        |FROM top ORDER BY key_micro, doc_id""".stripMargin,
    "q134_epoch_shuffle" ->
      // same permutation: md5(seed:doc_id) sort key, first-byte shard,
      // string_agg in (key, doc_id) order; checksums match iff the
      // engines produced byte-identical training order
      """WITH k AS (
        |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents
        |),
        |s AS (
        |  SELECT doc_id, k,
        |    ((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(k, 2, 1)) - 1)) % 8 AS shard
        |  FROM k
        |)
        |SELECT shard, count(*) AS n_docs,
        | md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY k, doc_id)) AS order_checksum
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q141_stratified_weighted" ->
      // q124's exact keys ranked within language
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_sum(list_transform(generate_series(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |           * power(16.0, -i))) AS u
        |  FROM documents
        |),
        |keyed AS (SELECT doc_id, lang, n_chars, -ln(u) / n_chars AS key FROM d),
        |top AS (
        |  SELECT lang, doc_id, n_chars, key FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS r
        |    FROM keyed
        |  ) WHERE r <= 10
        |)
        |SELECT lang, doc_id, n_chars, round(key * 1e6, 4) AS key_micro
        |FROM top ORDER BY lang, key_micro, doc_id""".stripMargin,
    "q179_neyman_sample" ->
      // same arithmetic discipline as the engine: exact BIGINT moments,
      // one sqrt, integer micro-weights, (200·wm)/w_tot in one division,
      // largest-remainder by (frac DESC, stratum), md5 bottom-k draw
      s"""WITH d AS (
         |  SELECT lang AS stratum, doc_id,
         |    CAST(round(($QualityExprSql) * 1e4) AS BIGINT) AS qm
         |  FROM documents
         |),
         |m AS (
         |  SELECT stratum, count(*) AS n_docs,
         |    CAST(sum(qm) AS BIGINT) AS s1, CAST(sum(qm * qm) AS BIGINT) AS s2
         |  FROM d GROUP BY stratum
         |),
         |w2 AS (
         |  SELECT stratum, n_docs, sd,
         |    CAST(round(n_docs * sd, 0) AS BIGINT) AS wm
         |  FROM (
         |    SELECT stratum, n_docs,
         |      CASE WHEN n_docs > 1
         |        THEN sqrt((n_docs * s2 - s1 * s1) / (n_docs * (n_docs - 1)))
         |        ELSE 0.0 END AS sd
         |    FROM m
         |  )
         |),
         |tot AS (SELECT CAST(sum(wm) AS BIGINT) AS w_tot FROM w2),
         |a1 AS (
         |  SELECT stratum, n_docs, sd, q, base,
         |    row_number() OVER (ORDER BY (q - base) DESC, stratum) AS extra_rank,
         |    200 - CAST(sum(base) OVER () AS BIGINT) AS rem
         |  FROM (
         |    SELECT stratum, n_docs, sd, (200 * wm) / w_tot AS q,
         |      CAST(floor((200 * wm) / w_tot) AS BIGINT) AS base
         |    FROM w2 CROSS JOIN tot
         |  )
         |),
         |alloc AS (
         |  SELECT stratum, n_docs, sd,
         |    least(n_docs,
         |      base + CASE WHEN extra_rank <= rem THEN 1 ELSE 0 END) AS alloc
         |  FROM a1
         |),
         |r AS (
         |  SELECT stratum, qm, row_number() OVER (PARTITION BY stratum
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM d
         |),
         |drawn AS (
         |  SELECT r.stratum, count(*) AS n_drawn,
         |    round(CAST(sum(r.qm) AS BIGINT) * 1.0 / count(*) / 10000.0, 6)
         |      AS sample_mean_q
         |  FROM r JOIN alloc ON alloc.stratum = r.stratum AND r.rn <= alloc.alloc
         |  GROUP BY r.stratum
         |)
         |SELECT alloc.stratum AS stratum, n_docs, round(sd, 6) AS sd_q,
         |  CAST(alloc AS BIGINT) AS alloc,
         |  CAST(coalesce(n_drawn, 0) AS BIGINT) AS n_drawn, sample_mean_q
         |FROM alloc LEFT JOIN drawn ON alloc.stratum = drawn.stratum
         |ORDER BY alloc.stratum""".stripMargin,
    "q206_ht_estimate" ->
      // q124's exact md5-fraction keys; tau = 51st order statistic;
      // HT terms micro-quantized before the (exact integer) sum
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    list_sum(list_transform(generate_series(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
        |           * power(16.0, -i))) AS u
        |  FROM documents
        |),
        |keyed AS (SELECT doc_id, n_chars, -ln(u) / n_chars AS key FROM d),
        |rk AS (SELECT *, row_number() OVER (ORDER BY key, doc_id) AS rn FROM keyed),
        |tau AS (SELECT key AS tau FROM rk WHERE rn = 51),
        |sm AS (SELECT n_chars, 1.0 - exp(-(n_chars * tau.tau)) AS p
        |       FROM rk, tau WHERE rn <= 50),
        |est AS (SELECT count(*) AS n_sampled,
        |  CAST(sum(CAST(round(1e4 / p) AS BIGINT)) AS BIGINT) AS sd,
        |  CAST(sum(CAST(round(n_chars * 1e4 / p) AS BIGINT)) AS BIGINT) AS sc
        |  FROM sm),
        |tr AS (SELECT count(*) AS true_docs, CAST(sum(n_chars) AS BIGINT) AS true_chars
        |       FROM documents)
        |SELECT n_sampled, true_docs, round(sd / 1e4, 2) AS est_docs,
        | true_chars, round(sc / 1e4, 2) AS est_chars,
        | round(abs(sc / 1e4 - true_chars) / true_chars, 4) AS rel_err_chars
        |FROM est, tr""".stripMargin,
    "q234_negative_sampling" ->
      // same CDF in SQL: micro-quantized smoothed weights, cumsum over
      // token order, exact 13-hex coin, range-resolved draw (the oracle
      // can afford the direct range join; the engine buckets it)
      """WITH vocab AS (
        |  SELECT tok, count(*) AS n,
        |    CAST(round(power(count(*), 0.75) * 1e6) AS BIGINT) AS w6
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok
        |),
        |cdf AS (
        |  SELECT tok, w6,
        |    CAST(sum(w6) OVER (ORDER BY tok
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |  FROM vocab
        |),
        |c2 AS (SELECT tok, hi - w6 AS lo, hi FROM cdf),
        |tw AS (SELECT max(hi) AS tw FROM cdf),
        |draws AS (
        |  SELECT doc_id, slot,
        |    CAST(floor(list_sum(list_transform(generate_series(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |                CAST(slot AS VARCHAR)), i, 1)) - 1)
        |           * power(16.0, -i))) * tw.tw) AS BIGINT) AS r
        |  FROM documents, tw, (SELECT unnest(generate_series(1, 4)) AS slot)
        |)
        |SELECT d.doc_id, d.slot, c.tok AS neg_token
        |FROM draws d JOIN c2 c ON d.r >= c.lo AND d.r < c.hi
        |ORDER BY d.doc_id, d.slot""".stripMargin,
    "q238_raking" -> rakingSql(3),
    "q273_raking_ess" ->
      // the shared raking chain + cell-level micro-quantized ESS sums
      s"""${rakingCtes(3)},
         |rk AS (
         |  SELECT lang, n AS n_sample, round(w / 1e6, 6) AS raked_docs
         |  FROM w3
         |),
         |ww AS (SELECT lang, n_sample, raked_docs / n_sample AS w FROM rk),
         |q AS (
         |  SELECT lang, n_sample,
         |    CAST(round(n_sample * w * 1000000.0, 0) AS BIGINT) AS sw6,
         |    CAST(round(n_sample * (w * w) * 1000000.0, 0) AS BIGINT) AS sww6
         |  FROM ww
         |),
         |pl AS (
         |  SELECT lang, CAST(sum(n_sample) AS BIGINT) AS n,
         |    CAST(sum(sw6) AS BIGINT) AS sw6, CAST(sum(sww6) AS BIGINT) AS sww6
         |  FROM q GROUP BY 1
         |),
         |tt AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(sw6) AS BIGINT) AS tsw6,
         |    CAST(sum(sww6) AS BIGINT) AS tsww6
         |  FROM pl
         |),
         |fin AS (
         |  SELECT lang, n,
         |    (CAST(sw6 AS DOUBLE) / 1000000.0) * (CAST(sw6 AS DOUBLE) / 1000000.0)
         |      / (CAST(sww6 AS DOUBLE) / 1000000.0) AS e1,
         |    (CAST(tsw6 AS DOUBLE) / 1000000.0) * (CAST(tsw6 AS DOUBLE) / 1000000.0)
         |      / (CAST(tsww6 AS DOUBLE) / 1000000.0) AS e2,
         |    nt
         |  FROM pl CROSS JOIN tt
         |)
         |SELECT lang, n AS n_sample,
         |  round(e1, 4) AS ess, round(CAST(n AS DOUBLE) / e1, 6) AS deff,
         |  round(e2, 4) AS ess_overall,
         |  round(CAST(nt AS DOUBLE) / e2, 6) AS deff_overall
         |FROM fin ORDER BY lang""".stripMargin,
  )
}
