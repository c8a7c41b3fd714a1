package graft

/** Shared DuckDB-oracle SQL fragments used across the family query files.
  * Everything here is ORACLE text or a function that writes it -- the
  * Spark side never sees these strings.
  */
import graft.operators.Similarity

private[graft] object OracleHelpers {
  // ---- shared SQL fragments -------------------------------------------

  /** Padded lowercase text for marker-word counting. */
  val Padded = "(' ' || lower(text) || ' ')"

  /** occurrences of literal m inside padded text — exact integer count. */
  def occ(m: String): String =
    s"CAST((length($Padded) - length(replace($Padded, ' $m ', ''))) / ${m.length + 2} AS INT)"

  def score(ms: Seq[String]): String = ms.map(occ).mkString("(", " + ", ")")

  val SEn = score(Seq("the", "of", "and"))
  val SDe = score(Seq("der", "und", "die"))
  val SFr = score(Seq("le", "et", "la"))
  val SEs = score(Seq("el", "y", "los"))

  val Stopwords = score(Seq("the", "a", "of"))

  /** The q21 quality formula (shared by the q71 filter oracle). */
  lazy val QualityExprSql =
    s"""round(0.5 * least(len(string_split(text, ' ')) / 60.0, 1.0)
       |     + 0.5 * least($Stopwords * 10.0 / len(string_split(text, ' ')), 1.0)
       |     - length(regexp_replace(text, '[a-z ]', '', 'g')) * 1.0 / length(text), 4)""".stripMargin

  /** DuckDB replica of `Scale.md5SlicePos`: position j of a key in an
    * m-cell table from hex digits 4j+1..4j+4 of `hExpr` (an md5 hex
    * string), via strpos arithmetic.
    */
  def posSql(hExpr: String, j: Int, m: Int): String = {
    def hv(idx: Int) = s"(strpos('0123456789abcdef', substr($hExpr, $idx, 1)) - 1)"
    s"((((${hv(4 * j + 1)} * 16 + ${hv(4 * j + 2)}) * 16 + ${hv(4 * j + 3)}) * 16 + ${hv(4 * j + 4)}) % $m)"
  }

  /** CASE dispatch of `posSql` over a j column (for cross-joined hash-row
    * indexes).
    */
  def posCaseSql(hExpr: String, jCol: String, d: Int, m: Int): String =
    (0 until d - 1).map(j => s"WHEN $j THEN ${posSql(hExpr, j, m)}")
      .mkString(s"CASE $jCol ", " ", s" ELSE ${posSql(hExpr, d - 1, m)} END")

  /** Unrolled trainer for the q143/q144 logistic-regression oracle —
    * `Curation.trainQualityWeights` replayed round-for-round: integer
    * micro-unit weights, exact integer margin and gradient sums, sigmoid
    * quantized to micro-units (the one transcendental), floor() weight
    * steps (never a .5-boundary round), lr = 2^-10 (a power of two, so
    * the scaling multiply is IEEE-exact; small enough that raw-count
    * features don't drive the logit into saturation — at lr = 0.5 the
    * 4-round model diverged to an all-positive classifier on the
    * registered corpus). WITH-chain ends in `w4(b, wm)`; the
    * per-round CTEs are MATERIALIZED — DuckDB's default CTE inlining
    * re-expands an iterative chain exponentially.
    */
  /** The q143 training chain as a bare CTE list (no WITH keyword), so
    * composite oracles (q147) can splice it into a larger WITH block.
    */
  lazy val ClassifierTrainCteBody: String = {
    val b = posSql("h", 0, 64)
    def rnd(i: Int) =
      s"""z$i AS (
         |  SELECT doc_id, CAST(sum(c * wm) AS BIGINT) AS zm
         |  FROM fx JOIN w${i - 1} USING (b) GROUP BY doc_id
         |),
         |p$i AS (
         |  SELECT doc_id,
         |    CAST(round(1e6 / (1.0 + exp(-(zm / 1e6)))) AS BIGINT) AS pm
         |  FROM z$i
         |),
         |g$i AS (
         |  SELECT b, CAST(sum((pm - y * 1000000) * c) AS BIGINT) AS gm
         |  FROM fx JOIN p$i USING (doc_id) JOIN yd USING (doc_id) GROUP BY b
         |),
         |w$i AS MATERIALIZED (
         |  SELECT b, wm - CAST(floor(0.0009765625 * gm / nd) AS BIGINT) AS wm
         |  FROM w${i - 1} JOIN g$i USING (b) CROSS JOIN n
         |)""".stripMargin
    s"""yd AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS y FROM documents
       |),
       |n AS (SELECT count(*) AS nd FROM documents),
       |fx AS MATERIALIZED (
       |  SELECT doc_id, b, count(*) AS c FROM (
       |    SELECT doc_id, $b AS b FROM (
       |      SELECT doc_id, md5(tok) AS h FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |      )
       |    )
       |  ) GROUP BY doc_id, b
       |  UNION ALL
       |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT) FROM documents
       |),
       |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wm FROM fx),
       |${(1 to 4).map(rnd).mkString(",\n")}""".stripMargin
  }

  lazy val ClassifierTrainCtes: String = "WITH " + ClassifierTrainCteBody

  /** Deterministic 2-round Lloyd k-means oracle: md5-coreset init, argmin
    * assignment on (rounded -cos, cid), per-dimension rounded-mean centroid
    * updates (zipped unnest of positions and values), empty clusters keep
    * the previous centroid — replicating Similarity.kmeansClusters exactly.
    */
  /** WITH-chain ending in `af(vec_id, v, cid, cos)` — the trained 2-round
    * Lloyd assignment, shared by the q70 and q100 oracles.
    */
  def kmeansAssignCtes(kCellsLimitSql: String): String = {
    def assign(cents: String) =
      s"""SELECT vec_id, v, cid, cos FROM (
         |  SELECT e.vec_id, e.v, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS cos,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(-(${cosSql("e.v", "c.cv")}), 6), c.cid) AS rn
         |  FROM e CROSS JOIN $cents c
         |) WHERE rn = 1""".stripMargin
    def update(a: String, prevCents: String) =
      s"""SELECT c0.cid, coalesce(u.cv, c0.cv) AS cv FROM $prevCents c0 LEFT JOIN (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT cid, i, round(avg(x), 6) AS m FROM (
         |      SELECT cid, unnest(generate_series(1, len(v))) AS i, unnest(v) AS x FROM $a
         |    ) GROUP BY cid, i
         |  ) GROUP BY cid
         |) u USING (cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent0 AS (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kCellsLimitSql
       |),
       |a1 AS (${assign("cent0")}),
       |cent1 AS (${update("a1", "cent0")}),
       |a2 AS (${assign("cent1")}),
       |cent2 AS (${update("a2", "cent1")}),
       |af AS (${assign("cent2")})""".stripMargin
  }

  lazy val KmeansAssignCtes: String = kmeansAssignCtes("16")

  /** The q243 auto dial replicated in ORACLE SQL: the cell count is
    * derived from the oracle's OWN corpus count (DuckDB allows a scalar
    * subquery as LIMIT), mirroring `Similarity.kCellsFor` = max(16,
    * ceil(sqrt(N))) — so the dial law itself is cross-engine-checked.
    */
  lazy val AutoCellsLimitSql: String =
    "(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  lazy val KmeansSql: String =
    s"""$KmeansAssignCtes
       |SELECT cid, count(*) AS n_members, round(avg(cos), 6) AS cohesion
       |FROM af GROUP BY cid ORDER BY cid""".stripMargin

  /** SemDeDup oracle: q70's trained assignment, then within-cluster
    * higher-priority near-duplicate existence at tau = 0.45.
    */
  lazy val SemDedupSql: String =
    s"""$KmeansAssignCtes,
       |dropped AS (
       |  SELECT DISTINCT y.cid, y.vec_id FROM af x JOIN af y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE round(${cosSql("x.v", "y.v")}, 6) >= 0.45
       |),
       |rep AS (SELECT cid, count(*) AS n_dropped FROM dropped GROUP BY cid)
       |SELECT af.cid, count(*) AS n_members,
       | CAST(coalesce(any_value(rep.n_dropped), 0) AS BIGINT) AS n_dropped,
       | round(CAST(coalesce(any_value(rep.n_dropped), 0) AS BIGINT) * 1.0 / count(*), 6)
       |   AS drop_fraction
       |FROM af LEFT JOIN rep ON af.cid = rep.cid
       |GROUP BY af.cid ORDER BY af.cid""".stripMargin

  /** PQ + ADC oracle: `Similarity.pqAnnRecall` with the per-subspace L2
    * Lloyd trainings UNROLLED (the KmeansSql technique, ×8 subspaces) —
    * md5-coreset seeds sliced per subspace, two assign/update rounds on
    * `round(l2², 6)` with cid tie-break, then the ADC score recomposed
    * by joining each vector's final code to its codeword and summing the
    * per-subspace query dots (rounded at 6 per term and on the sum,
    * matching the Spark side's precomputed-table join), the top-`shortlist`
    * ADC candidates re-ranked on exact rounded cosine, cut to top-k.
    */
  lazy val PqSql: String = pqRecallSql(ivf = None)

  /** IVF-PQ oracle: the q55 coarse CTEs (md5-coreset centroids, rounded
    * argmin cells, nProbe probe list) restrict the ADC scan to probed
    * cells; everything else is `PqSql` verbatim (shared generator).
    */
  lazy val IvfPqSql: String = pqRecallSql(ivf = Some((16, 4)))

  /** Shared CTE body for the q152/q153 spectral family — the exact
    * integer replica of `Similarity.fitAbttModel` + `abttProjections`:
    * micro-quantized embeddings, centered scatter matrix at the rounded
    * mean, `AbttIters` unrolled power-iteration rounds (micro-scaled
    * matrix, infinity-norm renormalization — every intermediate an exact
    * BIGINT), the sign fix on the largest-|loading| dimension, and the
    * per-document projections tm = round(<c,v>/1e6) with exact centered
    * energy cd2.
    */
  val AbttIters = 8
  lazy val AbttCteBody: String = {
    val iterCtes = (1 to AbttIters).map { t =>
      s"""pw$t AS (SELECT gn.i AS i, CAST(sum(gn.gnv * v.vm) AS BIGINT) AS wv
         |  FROM gn JOIN pv${t - 1} v ON gn.j = v.i GROUP BY gn.i),
         |pm$t AS (SELECT greatest(max(abs(wv)), 1) AS mv FROM pw$t),
         |pv$t AS MATERIALIZED (SELECT i, CAST(round(CAST(wv AS DOUBLE) * 1000000.0 / mv, 0) AS BIGINT) AS vm
         |  FROM pw$t, pm$t)""".stripMargin
    }.mkString(",\n")
    s"""exm AS MATERIALIZED (
       |  SELECT vec_id, i,
       |    CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS x
       |  FROM embeddings, LATERAL (SELECT unnest(range(0, 64)) AS i)
       |),
       |enn AS (SELECT count(*) AS n FROM embeddings),
       |esv AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM exm GROUP BY i),
       |emu AS (SELECT i, CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) AS m
       |  FROM esv, enn),
       |ecx AS MATERIALIZED (SELECT x.vec_id, x.i, x.x - emu.m AS c
       |  FROM exm x JOIN emu USING (i)),
       |eg AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, CAST(sum(a.c * b.c) AS BIGINT) AS gv
       |  FROM ecx a JOIN ecx b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       |egm AS (SELECT greatest(max(abs(gv)), 1) AS gm FROM eg),
       |gn AS MATERIALIZED (
       |  SELECT i, j, CAST(round(CAST(gv AS DOUBLE) * 1000000.0 / gm, 0) AS BIGINT) AS gnv
       |  FROM eg, egm),
       |pv0 AS (SELECT unnest(range(0, 64)) AS i,
       |  CAST(round(1000000.0 / sqrt(CAST(64 AS DOUBLE)), 0) AS BIGINT) AS vm),
       |$iterCtes,
       |esgn AS (SELECT CASE WHEN vm < 0 THEN -1 ELSE 1 END AS sgn
       |  FROM pv$AbttIters ORDER BY abs(vm) DESC, i LIMIT 1),
       |evs AS MATERIALIZED (SELECT i, sgn * vm AS vm FROM pv$AbttIters, esgn),
       |evn2 AS (SELECT CAST(sum(vm * vm) AS BIGINT) AS nv FROM evs),
       |etr AS (SELECT CAST(sum(gv) AS BIGINT) AS trace FROM eg WHERE i = j),
       |etm AS MATERIALIZED (
       |  SELECT ecx.vec_id,
       |    CAST(round(CAST(CAST(sum(ecx.c * v.vm) AS BIGINT) AS DOUBLE) / 1000000.0, 0) AS BIGINT) AS tm,
       |    CAST(sum(ecx.c * ecx.c) AS BIGINT) AS cd2
       |  FROM ecx JOIN evs v USING (i) GROUP BY ecx.vec_id)""".stripMargin
  }

  def pqRecallSql(ivf: Option[(Int, Int)]): String = {
    val (m, codes, subDim, nQ, k, shortlist) = (8, 16, 8, 5, 3, 50)
    def sl(col: String, s: Int) = s"$col[${s * subDim + 1}:${(s + 1) * subDim}]"
    def l2Sql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    def dotSql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"
    def assign(s: Int, cents: String) =
      s"""SELECT vec_id, sv, cid FROM (
         |  SELECT x.vec_id, x.sv, c.cid,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY round(${l2Sql("x.sv", "c.cv")}, 6), c.cid) AS rn
         |  FROM es$s x CROSS JOIN $cents c
         |) WHERE rn = 1""".stripMargin
    def update(a: String, prev: String) =
      s"""SELECT c0.cid, coalesce(u.cv, c0.cv) AS cv FROM $prev c0 LEFT JOIN (
         |  SELECT cid, list(mn ORDER BY i) AS cv FROM (
         |    SELECT cid, i, round(avg(x), 6) AS mn FROM (
         |      SELECT cid, unnest(generate_series(1, len(sv))) AS i, unnest(sv) AS x FROM $a
         |    ) GROUP BY cid, i
         |  ) GROUP BY cid
         |) u USING (cid)""".stripMargin
    val spaces = (0 until m).map { s =>
      s"""es$s AS MATERIALIZED (SELECT vec_id, ${sl("v", s)} AS sv FROM e),
         |pb0_$s AS (SELECT vec_id AS cid, ${sl("v", s)} AS cv FROM pqseed),
         |pa1_$s AS (${assign(s, s"pb0_$s")}),
         |pb1_$s AS MATERIALIZED (${update(s"pa1_$s", s"pb0_$s")}),
         |pa2_$s AS (${assign(s, s"pb1_$s")}),
         |pb2_$s AS MATERIALIZED (${update(s"pa2_$s", s"pb1_$s")}),
         |paf_$s AS MATERIALIZED (SELECT vec_id, cid FROM (${assign(s, s"pb2_$s")}))""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until m).map(s =>
      s"""JOIN paf_$s a$s ON a$s.vec_id = x.vec_id
         |  JOIN pb2_$s w$s ON w$s.cid = a$s.cid""".stripMargin).mkString("\n  ")
    val adcTerms = (0 until m)
      .map(s => s"round(${dotSql(sl("pq.v", s), s"w$s.cv")}, 6)").mkString(" + ")
    // IVF coarse stage (q55's CTEs): probed-cell (query, candidate) pairs
    val ivfCtes = ivf.map { case (nCentroids, nProbe) =>
      s"""cent AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCentroids
         |),
         |ivfa AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(-(${cosSql("e.v", "c.cv")}), 6), c.cid) AS rn
         |    FROM e CROSS JOIN cent c
         |  ) WHERE rn = 1
         |),
         |ivfp AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(-(${cosSql("q.v", "c.cv")}), 6), c.cid) AS rn
         |    FROM e q CROSS JOIN cent c WHERE q.vec_id < $nQ
         |  ) WHERE rn <= $nProbe
         |),
         |cand AS (
         |  SELECT p.query_id, a.vec_id FROM ivfp p
         |  JOIN ivfa a ON a.cid = p.cid AND a.vec_id <> p.query_id
         |),
         |""".stripMargin
    }.getOrElse("")
    val scanFrom = if (ivf.isDefined)
      s"""FROM e x
         |  $codeJoins
         |  JOIN cand c ON c.vec_id = x.vec_id
         |  JOIN pq ON pq.query_id = c.query_id""".stripMargin
    else
      s"""FROM e x
         |  $codeJoins
         |  CROSS JOIN pq WHERE x.vec_id <> pq.query_id""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pqseed AS (
       |  SELECT vec_id, v FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $codes
       |),
       |$ivfCtes$spaces,
       |pq AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < $nQ),
       |pqscored AS (
       |  SELECT pq.query_id, x.vec_id AS neighbor_id,
       |    round($adcTerms, 6) AS adc
       |  $scanFrom
       |),
       |pqshort AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc DESC, neighbor_id) AS rnk
       |    FROM pqscored
       |  ) WHERE rnk <= $shortlist
       |),
       |pqapprox AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT sh.query_id, sh.neighbor_id,
       |      row_number() OVER (PARTITION BY sh.query_id
       |        ORDER BY round(${cosSql("pq.v", "x.v")}, 6) DESC, sh.neighbor_id) AS rnk
       |    FROM pqshort sh
       |    JOIN e x ON x.vec_id = sh.neighbor_id
       |    JOIN pq ON pq.query_id = sh.query_id
       |  ) WHERE rnk <= $k
       |),
       |pqtruth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT pq.query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY pq.query_id
       |        ORDER BY round(${cosSql("pq.v", "e.v")}, 6) DESC, e.vec_id) AS rnk
       |    FROM e, pq WHERE e.vec_id <> pq.query_id
       |  ) WHERE rnk <= $k
       |)
       |SELECT t.query_id, count(a.neighbor_id) AS n_hit,
       | round(count(a.neighbor_id) / $k.0, 6) AS recall
       |FROM pqtruth t
       |LEFT JOIN pqapprox a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  /** BPE merge-training oracle: `TextAnalysis.bpeMerges` with the rounds
    * UNROLLED (the KmeansSql technique) — each round counts adjacent
    * symbol pairs weighted by word frequency on the vocab table, argmaxes
    * (count desc, pair), and rewrites via the same padded left-to-right
    * `replace`.
    */
  val BpeRounds = 5

  /** The BATCHED BPE merge-training CTE chain — shared by the q104
    * training oracle and the q105 encoding oracle so both derive the
    * merge table identically. Per round r: pair counts (p_r), the
    * independent set (a_r: pairs dominated by NO higher-(c, p)-ranked
    * pair sharing a symbol), the accepted batch capped at the merges
    * still needed (t_r), the running merge table (done_r), and the
    * vocabulary rewrite (s_r — one guarded single-pass padded replace
    * per in-round rank, chained through sub-CTEs so expression size
    * stays linear). Unrolled PESSIMISTICALLY at `BpeRounds` = nMerges
    * rounds (the worst case of one merge per round); exhausted rounds
    * produce empty t_r and identity rewrites, exactly like the Spark
    * loop's termination.
    */
  lazy val BpeCtes: String = {
    def pairsOf(s: String) =
      s"""SELECT p, CAST(sum(freq) AS BIGINT) AS c FROM (
         |  SELECT freq, unnest([ss[i] || ' ' || ss[i+1] for i in range(1, len(ss))]) AS p
         |  FROM (SELECT freq, string_split(seq, ' ') AS ss FROM $s)
         |) GROUP BY p""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      val steps = (1 to BpeRounds).map { j =>
        val m = s"(SELECT p FROM t$r WHERE rr = $j)"
        s"""s${r}_$j AS (SELECT freq, CASE WHEN $m IS NULL THEN seq
           |  ELSE trim(replace(' ' || seq || ' ',
           |    ' ' || $m || ' ', ' ' || replace($m, ' ', '') || ' ')) END AS seq
           |  FROM s${r}_${j - 1})""".stripMargin
      }.mkString(",\n")
      s"""p$r AS MATERIALIZED (${pairsOf(s"s${r - 1}")}),
         |sy$r AS (SELECT p, c, unnest(list_distinct(string_split(p, ' '))) AS s FROM p$r),
         |rej$r AS (
         |  SELECT DISTINCT x.p AS p FROM sy$r x JOIN sy$r y ON x.s = y.s
         |    AND (y.c > x.c OR (y.c = x.c AND y.p < x.p))
         |),
         |a$r AS (
         |  SELECT p, c, row_number() OVER (ORDER BY c DESC, p) AS rr
         |  FROM p$r WHERE p NOT IN (SELECT p FROM rej$r)
         |),
         |t$r AS MATERIALIZED (SELECT p, c, rr FROM a$r
         |  WHERE rr <= $BpeRounds - (SELECT count(*) FROM done${r - 1})),
         |done$r AS MATERIALIZED (SELECT * FROM done${r - 1} UNION ALL
         |  SELECT p, c, (SELECT count(*) FROM done${r - 1}) + rr AS rank FROM t$r),
         |s${r}_0 AS (SELECT freq, seq FROM s${r - 1}),
         |$steps,
         |s$r AS MATERIALIZED (SELECT freq, seq FROM s${r}_$BpeRounds)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) > 0 GROUP BY w
       |),
       |s0 AS MATERIALIZED (SELECT freq, regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS seq FROM w),
       |done0 AS (SELECT CAST(NULL AS VARCHAR) AS p, CAST(NULL AS BIGINT) AS c,
       |  CAST(NULL AS BIGINT) AS rank WHERE false),
       |$rounds""".stripMargin
  }

  lazy val BpeSql: String =
    s"""WITH $BpeCtes
       |SELECT CAST(rank AS INT) AS rank, p AS pair, replace(p, ' ', '') AS merged,
       |  c AS freq
       |FROM done$BpeRounds ORDER BY rank""".stripMargin

  /** q105: per-(lang, word) vocab encoded by the accepted merges in
    * global rank order — the same guarded single-pass padded-replace
    * chain the training CTEs apply (within a round the accepted pairs
    * are symbol-disjoint, so rank-order application == the round's batch
    * rewrite), so encoding == what training would produce.
    */
  lazy val BpeFertilitySql: String = {
    val enc = (1 to BpeRounds).map { r =>
      val steps = (1 to BpeRounds).map { j =>
        val m = s"(SELECT p FROM t$r WHERE rr = $j)"
        s"""e${r}_$j AS (SELECT lang, freq, chars, CASE WHEN $m IS NULL THEN seq
           |  ELSE trim(replace(' ' || seq || ' ',
           |    ' ' || $m || ' ', ' ' || replace($m, ' ', '') || ' ')) END AS seq
           |  FROM e${r}_${j - 1})""".stripMargin
      }.mkString(",\n")
      s"""e${r}_0 AS (SELECT lang, freq, chars, seq FROM e${r - 1}),
         |$steps,
         |e$r AS MATERIALIZED (SELECT lang, freq, chars, seq FROM e${r}_$BpeRounds)""".stripMargin
    }.mkString(",\n")
    s"""WITH $BpeCtes,
       |v AS (
       |  SELECT lang, w, count(*) AS freq FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE length(w) > 0 GROUP BY lang, w
       |),
       |e0 AS MATERIALIZED (SELECT lang, freq, length(w) AS chars,
       |  regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS seq FROM v),
       |$enc,
       |f AS (SELECT lang, freq, chars, len(string_split(seq, ' ')) AS toks FROM e$BpeRounds)
       |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
       | CAST(sum(freq * toks) AS BIGINT) AS n_tokens,
       | round(sum(freq * toks) * 1.0 / sum(freq), 4) AS tokens_per_word,
       | round(sum(freq * chars) * 1.0 / sum(freq * toks), 4) AS chars_per_token
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Distinct char-5-gram rows per doc (DuckDB list comprehension). */
  val GramsCte =
    """grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct([substr(text, i, 5) for i in range(1, greatest(length(text)-4, 1)+1)])) AS g
      |  FROM documents
      |)""".stripMargin

  /** Exact all-pairs 5-gram Jaccard >= 0.6 — oracle for BOTH the exact query
    * (q26) and the LSH query (q27): at the fixtures' similarity gap the LSH
    * candidate set provably contains every qualifying pair.
    */
  val JaccardSql =
    s"""WITH $GramsCte,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id1, id2, round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard
       |FROM inter
       |JOIN sizes s1 ON id1 = s1.doc_id
       |JOIN sizes s2 ON id2 = s2.doc_id
       |WHERE round(i * 1.0 / (s1.sz + s2.sz - i), 6) >= 0.6
       |ORDER BY id1, id2""".stripMargin

  /** SimHash signature SQL: 32 bit-sums over 5-gram shingles (with
    * multiplicity), bit i = parity of md5 hex char i+1 — generated, matching
    * Dedup.simhashSignatures exactly.
    */
  val SimhashSql: String = {
    val bitSums = (0 until 32).map { i =>
      s"CASE WHEN sum(ascii(substr(md5(g), ${i + 1}, 1)) % 2 * 2 - 1) > 0 THEN ${1L << i} ELSE 0 END AS b$i"
    }.mkString(",\n    ")
    val bitAdd = (0 until 32).map(i => s"b$i").mkString(" + ")
    s"""WITH gramsm AS (
       |  SELECT doc_id,
       |    unnest([substr(text, i, 5) for i in range(1, greatest(length(text)-4, 1)+1)]) AS g
       |  FROM documents
       |),
       |sh AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM gramsm GROUP BY doc_id
       |),
       |sig AS (SELECT doc_id, CAST($bitAdd AS BIGINT) AS sig FROM sh)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 1
       |ORDER BY id1, id2""".stripMargin
  }

  /** Cosine between DOUBLE[] lists — sequential formula matching
    * Similarity.cosine's zip_with/aggregate fold to within 1 ulp
    * (absorbed by round 6).
    */
  def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) /
       | (sqrt(list_sum(list_transform($a, x -> x * x))) * sqrt(list_sum(list_transform($b, x -> x * x)))))""".stripMargin

  /** Hyperplane projection for plane p — the shared multiplicative-mix
    * coef stream (matches Similarity.coef: decorrelated planes; see its
    * scaladoc for the measured additive-family failure).
    */
  def planeProjSql(plane: Int): String =
    s"""list_sum(list_transform(generate_series(1, len(v)),
       |   i -> v[i] * ((((i + 17) * ${(plane + 1).toLong * 104729L} + ${plane.toLong * 7919L}) % 2001 - 1000) / 1000.0)))""".stripMargin

  /** LSH hyperplane bucket — matches Similarity.lshBucket's coef formula. */
  val BucketSql: String =
    (0 until Similarity.NumPlanes).map { j =>
      s"CASE WHEN round(${planeProjSql(j)}, 6) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Near-dup table-`t` bucket — matches Similarity.neardupBucket /
    * HyperplaneBuckets.compute: bit b of table t comes from shared-stream
    * plane t*bits+b. The `bits` overload serves the q226 production dial
    * (24×12); the 1-arg form is the registered 8×6 fixture dial.
    */
  def neardupBucketSql(t: Int): String =
    neardupBucketSql(t, Similarity.NeardupBits)

  def neardupBucketSql(t: Int, bits: Int): String =
    (0 until bits).map { b =>
      val plane = t * bits + b
      s"CASE WHEN round(${planeProjSql(plane)}, 6) > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  val CosineTopkSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT query_id, e.vec_id AS neighbor_id, round(${cosSql("qv", "v")}, 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id
       |),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** Shared sessionization CTEs (lag -> gap flag -> running session_seq),
    * used by both the per-user rollup oracle (q33) and the per-session
    * oracle (q52). Gap = 30 min in exact nanoseconds. (q52's
    * `//` second-floor assumes non-negative epochs — DuckDB `//`
    * truncates toward zero while unix_timestamp floors, divergent only
    * pre-1970; fixture contract is modern timestamps.)
    */
  val SessionCtes =
    """g AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events
      |),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM g
      |),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged
      |)""".stripMargin

  /** Word n-gram list from the whitespace-token list `ws` (DuckDB list
    * comprehension) — matches Curation.wordGrams: empty when the doc has
    * fewer than n words (range(1, 1) is empty).
    */
  def wordGramsSql(n: Int): String = {
    val joined = (0 until n).map(k => s"ws[i + $k]").mkString(" || ' ' || ")
    s"[$joined for i in range(1, greatest(len(ws) - ${n - 1}, 0) + 1)]"
  }

  /** DuckDB text of `Inference.kolmogorovTail`: the 8-term alternating
    * exp chain with the λ < 0.3 pin (below it the truncation
    * misconverges; the true tail there exceeds 0.999). `l2` must be an
    * expression for λ². Shared by the q253/q254 KS oracles and the q259
    * changepoint oracle (sup of a Brownian bridge has the Kolmogorov
    * tail).
    */
  def kolmTailSql(lam: String, l2: String): String =
    s"""(CASE WHEN ($lam) < 0.3 THEN 1.0
       |  ELSE greatest(least(
       |    2.0 * (exp(-2.0 * ($l2)) - exp(-8.0 * ($l2))
       |      + exp(-18.0 * ($l2)) - exp(-32.0 * ($l2))
       |      + exp(-50.0 * ($l2)) - exp(-72.0 * ($l2))
       |      + exp(-98.0 * ($l2)) - exp(-128.0 * ($l2))), 1.0), 0.0)
       |  END)""".stripMargin

  // ---- oracles ---------------------------------------------------------
}
