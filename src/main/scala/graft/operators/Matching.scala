package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-matching family (SURVEY.md §2.2 ➕): fuzzy string joins for
  * entity resolution and sparse lexical similarity via an inverted index —
  * the record-linkage operators a curation pipeline runs beside the
  * hash-based dedup families (Dedup.scala) and the dense-vector families
  * (Similarity.scala).
  *
  * Both operators follow the same scalable shape the LSH paths use:
  * CHEAP BLOCKING bounds the candidate set, then an exact verifier runs
  * candidate-proportionally. Neither ever forms an all-pairs relation.
  */
object Matching {

  /** Fuzzy entity resolution over a name catalog: distinct-name pairs that
    * share at least one whitespace token AND sit within `maxDist`
    * Levenshtein edits, with the row mass behind each name — "are
    * `red widget` and `red widgets` the same product?", the catalog-
    * cleaning question every ingest with free-text keys eventually asks.
    *
    * Scale design, in pipeline order:
    *   1. collapse the corpus to DISTINCT names first (one map-side-
    *      combined aggregation). Catalogs are vastly smaller than fact
    *      tables — here 64 names behind 2,000 rows — so every later stage
    *      is catalog-proportional, never corpus-proportional.
    *   2. token blocking: explode each name into its tokens and self-join
    *      the inverted index on the token (equi-join, hash-partitioned).
    *      Candidates are bounded by Σ_tok df(tok)² over the CATALOG; a
    *      production run on a hot-token-skewed catalog caps df the way
    *      `tfidfCosinePairs` does.
    *   3. verify candidates with codegen'd `levenshtein` — an O(|a|·|b|)
    *      exact check, run only on pairs that survived blocking. The
    *      blocking is lossless for the stated semantics: any pair within
    *      `maxDist` of each other that shares no token is OUT of scope by
    *      definition (standard ER practice — cross-block pairs are
    *      unreachable by any scalable method, so the contract names them).
    *
    * Output: one row per matched (name_a < name_b) pair with the edit
    * distance and the number of catalog rows carrying each name.
    */
  def fuzzyNameMatch(part: DataFrame): DataFrame = {
    val maxDist = 3
    val names = part.groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
    val toks = names.select($"p_name", explode(TextAnalysis.tokens($"p_name")).as("tok"))
    val cand = toks.as("a")
      .join(toks.as("b"), $"a.tok" === $"b.tok" && $"a.p_name" < $"b.p_name")
      .select($"a.p_name".as("name_a"), $"b.p_name".as("name_b"))
      .distinct()
    cand
      .withColumn("edit_dist", levenshtein($"name_a", $"name_b"))
      .filter($"edit_dist" <= maxDist)
      .join(names.select($"p_name".as("name_a"), $"n_parts".as("parts_a")), Seq("name_a"))
      .join(names.select($"p_name".as("name_b"), $"n_parts".as("parts_b")), Seq("name_b"))
      .select($"name_a", $"name_b", $"edit_dist".cast("int").as("edit_dist"),
        $"parts_a", $"parts_b")
      .orderBy($"name_a", $"name_b")
  }

  /** q233/q239's shared blocked comparison-vector frame: one row per
    * (p_brand, p_size)-blocked key pair with the four binary fields
    * (and the keys, which q239's scorer emits).
    */
  private def fsCandidates(part: DataFrame): DataFrame = {
    val recs = part.select($"p_partkey", $"p_name", $"p_brand", $"p_type",
      $"p_size", floor($"p_retailprice" / 100).as("pb"),
      array_distinct(TextAnalysis.tokens($"p_name")).as("toks"))
    recs.as("a")
      .join(recs.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
        col("a.p_size") === col("b.p_size") &&
        col("a.p_partkey") < col("b.p_partkey"))
      .select(
        col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
        (col("a.p_type") === col("b.p_type")).cast("long").as("g1"),
        (col("a.pb") === col("b.pb")).cast("long").as("g2"),
        (size(array_intersect(col("a.toks"), col("b.toks"))) >= 2)
          .cast("long").as("g3"),
        (levenshtein(col("a.p_name"), col("b.p_name")) <= 10)
          .cast("long").as("g4"))
      .localCheckpoint() // re-aggregated once per EM round / scored once
  }

  /** The blocked-pair volume gate (round 12, replacing the Long-width
    * multiplyExact accident the sf1 sweep exposed): (brand, size)
    * blocks grow WITH the corpus (the key domains are fixed), so the
    * pair count grows quadratically — a documented Class-A dial, and
    * crossing it means RE-BLOCK (more keys / the q292 PC-RR audit),
    * not "widen the arithmetic and grind". 50M pairs ≈ one EM round of
    * a few aggregate-only passes; the sf1-equivalent corpus (200k
    * parts) measures 15.6M.
    */
  private def guardPairVolume(cand: DataFrame, maxPairs: Long): DataFrame = {
    // The count below is only cheap because fsCandidates ends in
    // localCheckpoint() — assert that, so the gate can never silently
    // regress into a SECOND full blocked-join scan if the checkpoint is
    // ever dropped (round-13 advice fix). After localCheckpoint the
    // logical plan is a LogicalRDD leaf; class-name match avoids the
    // private execution API.
    require(cand.queryExecution.logical.getClass.getSimpleName == "LogicalRDD",
      "fs linkage: guardPairVolume expects a checkpointed candidate frame " +
        "(the volume count would otherwise recompute the blocked join)")
    val n = cand.count() // the checkpoint above materialized it already
    require(n <= maxPairs,
      s"fs linkage: $n blocked candidate pairs exceed maxPairs=$maxPairs — " +
        "the (p_brand, p_size) block key is too coarse at this corpus " +
        "size; re-block (add keys; audit with q292 blockingQuality) " +
        "instead of raising the gate")
    cand
  }

  /** The q233 EM loop over a candidate frame; returns (m6, u6) micro-unit
    * arrays after `rounds`. State is 9 scalars synced per round.
    */
  private def fsEmFit(cand: DataFrame, rounds: Int): (Array[Long], Array[Long]) = {
    var p6 = 100000L
    val m6 = Array.fill(4)(900000L)
    val u6 = Array.fill(4)(100000L)
    def clamp(v: Long): Long = math.min(math.max(v, 1L), 999999L)
    for (_ <- 1 to rounds) {
      // E-step: P(match | γ) from the CURRENT micro-unit scalars; the
      // division chains mirror the oracle's round CTEs exactly
      val pp = p6 / 1e6
      val ppc = 1 - p6 / 1e6
      def prod(probs: Array[Long]): Column = (1 to 4).map { k =>
        val pk = probs(k - 1) / 1e6
        when(col(s"g$k") === 1L, lit(pk)).otherwise(lit(1 - pk))
      }.reduce(_ * _)
      val num = lit(pp) * prod(m6)
      val den = num + lit(ppc) * prod(u6)
      val gm = round(lit(1e6) * (num / den), 0).cast("long")
      val aggCols: Seq[Column] =
        sum($"gm").as("sg") +: count(lit(1)).as("n") +:
          sum(lit(1000000L) - $"gm").as("sug") +:
          (1 to 4).flatMap(k => Seq(
            sum(when(col(s"g$k") === 1L, $"gm").otherwise(0L)).as(s"sm$k"),
            sum(when(col(s"g$k") === 1L, lit(1000000L) - $"gm")
              .otherwise(0L)).as(s"su$k")))
      val sums = cand.select(col("g1"), col("g2"), col("g3"), col("g4"),
          gm.as("gm"))
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()(0)
      val sg = sums.getLong(0); val n = sums.getLong(1)
      val sug = sums.getLong(2)
      for (k <- 1 to 4) {
        // BigInt M-step (round 12; oracle mirrors with HUGEINT): the
        // former long multiplyExact made ~9.2e6 pairs an ARITHMETIC
        // accident boundary — the sf1 sweep hit it at 15M blocked pairs
        // where the EM itself is perfectly computable. The COST gate is
        // now the explicit maxPairs guard at the candidate build (loud,
        // documented, actionable), not a Long-width coincidence.
        m6(k - 1) = clamp(
          ((BigInt(1000000L) * sums.getLong(1 + 2 * k) + sg / 2) / sg).toLong)
        u6(k - 1) = clamp(
          ((BigInt(1000000L) * sums.getLong(2 + 2 * k) + sug / 2) / sug).toLong)
      }
      p6 = clamp((sg + n / 2) / n)
    }
    (m6, u6)
  }

  /** Fellegi–Sunter record-linkage weights via EM (q233; Fellegi &
    * Sunter 1969, the probabilistic-ER canon; EM fitting per Winkler
    * 1988): over attribute-blocked candidate pairs, estimate each
    * comparison field's m-probability (agrees | match) and
    * u-probability (agrees | non-match) WITHOUT labels, and emit the
    * field's log2 agreement/disagreement weights — the scoring table a
    * production linkage run then applies to every candidate pair.
    * Blocking is (p_brand, p_size) equality (the standard reduce-then-
    * verify shape; cross-block pairs are out of scope by contract, as
    * in `fuzzyNameMatch`); the four comparison fields are type
    * equality, retail-price band equality, ≥2 shared name tokens, and
    * name edit distance ≤ 10.
    *
    * Determinism (the q143 classifier discipline): EM state is 9 INTEGER
    * micro-unit scalars (p, m₁..₄, u₁..₄) synced to the driver once per
    * round — data never leaves the executors; per-pair match posteriors
    * quantize to micro-units via one double expression mirrored
    * operation-for-operation by the oracle's unrolled CTE rounds; the
    * M-step is pure integer arithmetic ((10⁶·Σ + Σg/2) div Σg, clamped
    * to [1, 999999] so a degenerate field can never produce log(0)).
    * Candidate volume is block-bounded (Σ_block |block|²); the EM passes
    * are candidate-proportional aggregates over ONE checkpointed frame.
    */
  def fsLinkageWeights(part: DataFrame): DataFrame = {
    val rounds = 3
    val spark = part.sparkSession
    val (m6, u6) = fsEmFit(guardPairVolume(fsCandidates(part), 50000000L), rounds)
    // finish IN Spark (not on the driver) so the log2/round rendering is
    // the same engine codepath every other oracle-checked query uses
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    Seq(("type_eq", m6(0), u6(0)), ("price_band_eq", m6(1), u6(1)),
      ("name_tok2", m6(2), u6(2)), ("name_lev10", m6(3), u6(3)))
      .toDF("field", "m6", "u6")
      .select($"field", round($"m6" / 1e6, 6).as("m"),
        round($"u6" / 1e6, 6).as("u"),
        round(log2($"m6".cast("double") / $"u6"), 4).as("w_agree"),
        round(log2((lit(1000000L) - $"m6").cast("double") /
          (lit(1000000L) - $"u6")), 4).as("w_disagree"))
      .orderBy($"field")
  }

  /** Apply the learned Fellegi–Sunter weights (q239) — the consumer
    * that closes q233's loop: every blocked candidate pair is scored
    * with the fitted field weights, w(pair) = Σ_k [γ_k·log2(m_k/u_k) +
    * (1−γ_k)·log2((1−m_k)/(1−u_k))], and pairs above `minBits` of
    * evidence are emitted as matches. The learn → score → classify
    * chain is exactly what a production linkage deployment runs; the
    * output is the match list a survivorship/golden-record step
    * consumes (q53's component machinery applies unchanged if the
    * matches need clustering).
    *
    * The EM fit reuses q233's loop verbatim (shared `fsEmFit` — same
    * 9-scalar sync, same integer M-step), so the fitted micro-unit
    * scalars are gate-proven identical cross-engine; scoring is ONE
    * candidate-proportional pass where the four log2 terms sum in fixed
    * field order (both engines evaluate the identical expression tree —
    * the oracle re-derives the scalars through its own unrolled EM and
    * scores with the same fixed-order sum).
    */
  def fsLinkageMatches(part: DataFrame, minBits: Double = 4.0): DataFrame = {
    val cand = guardPairVolume(fsCandidates(part), 50000000L)
    val (m6, u6) = fsEmFit(cand, 3)
    val score = (1 to 4).map { k =>
      when(col(s"g$k") === 1L,
        log2(lit(m6(k - 1)).cast("double") / lit(u6(k - 1))))
        .otherwise(log2(lit(1000000L - m6(k - 1)).cast("double") /
          lit(1000000L - u6(k - 1))))
    }.reduce(_ + _)
    cand
      .select($"key_a", $"key_b", round(score, 4).as("score_bits"))
      .filter($"score_bits" >= minBits)
      .orderBy($"key_a", $"key_b")
  }

  /** Sparse lexical similarity: document pairs whose TOP-`k` TF-IDF term
    * vectors have cosine ≥ `tau`, candidates blocked on shared RARE terms
    * (document frequency ≤ `dfCap`). The sparse-vector complement of the
    * dense-embedding near-dup (q48): finds topically-near documents from
    * the text alone, no embedding model in the loop.
    *
    * Semantics (engine-exact, mirrored by the oracle):
    *   - per-doc term weights: w = round(tf · ln(N/df), 4) — q67's exact
    *     salient-term scores; each doc keeps its top-`k` terms by
    *     (w desc, term).
    *   - candidates: pairs sharing ≥1 top-`k` term that is RARE, where
    *     rare means df ≤ N·`dfCapPerMille`/1000 (integer arithmetic —
    *     exact and engine-shared). The cap must be RELATIVE to corpus
    *     size: an absolute cap silently empties the candidate set as the
    *     corpus grows (measured: df≤32 found 168 pairs at 500 docs and
    *     ZERO at 5,000 — every df scales with N). The relative cap is
    *     the scale lever: a rare term contributes ≤ df² pairs, so
    *     candidate volume is Σ_rare df² ≤ cap·Σdf, and a stop-word term
    *     (df ~ N/2, which would alone contribute N²/4 pairs) can never
    *     qualify at any corpus size. Rare shared terms are also exactly
    *     the ones carrying the cosine mass (idf weighting), so the
    *     blocking drops only low-similarity pairs by construction.
    *   - scoring: dot products and norms accumulate integer micro-units
    *     (round(1e6·w·w') per term — the PSI trick), so the sums are
    *     order-free exact integers; one final double division + round(4).
    *
    * Shape: the weights are the bag-of-words index's
    * `TextAnalysis.tfidfWeights`, the ones q67 ranks; the inverted index
    * carries only (doc, term, w) for top-`k` terms — k·N rows regardless
    * of document length; candidate generation and both scoring joins are
    * hash equi-joins on term/doc_id. Nothing is ever all-pairs.
    */
  def tfidfCosinePairs(documents: DataFrame): DataFrame = {
    val k = 8
    val dfCapPerMille = 64
    val tau = 0.7
    val scored = TextAnalysis.tfidfWeights(documents, TextAnalysis.termFrequencies(documents))
      .select($"doc_id", $"term", $"df", $"tfidf".as("w"),
        expr(s"n_docs * $dfCapPerMille div 1000").as("df_cap"))
    // r14 (guide §2.4/§5): topw is consumed FIVE times below (the rare
    // self-join's two branches, norms, and the two dot-product probes);
    // without materialization the final DAG re-runs the corpus explode +
    // tf/df aggregations + top-k window per consumer (self-join branches
    // are deduplicated by the analyzer, so exchange reuse cannot cover
    // them). k rows per doc — corpus-linear, the Lloyd-rule bound.
    val topw = Scale.topKPerGroup(scored, group = $"doc_id", rankKey = -$"w",
        tie = $"term", saltSource = $"term", k = k)
      .select($"doc_id", $"term", $"df", $"w", $"df_cap")
      .localCheckpoint()
    val rare = topw.filter($"df" <= $"df_cap")
    val cand = rare.as("a")
      .join(rare.as("b"), $"a.term" === $"b.term" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .distinct()
    val norms = topw
      .groupBy($"doc_id")
      .agg(sum(round($"w" * $"w" * 1e6).cast("long")).as("nsq"))
    val dots = cand
      .join(topw.select($"doc_id".as("id_a"), $"term", $"w".as("wa")), Seq("id_a"))
      .join(topw.select($"doc_id".as("id_b"), $"term", $"w".as("wb")), Seq("id_b", "term"))
      .groupBy($"id_a", $"id_b")
      .agg(sum(round($"wa" * $"wb" * 1e6).cast("long")).as("dot"))
    dots
      .join(norms.select($"doc_id".as("id_a"), $"nsq".as("nsq_a")), Seq("id_a"))
      .join(norms.select($"doc_id".as("id_b"), $"nsq".as("nsq_b")), Seq("id_b"))
      .select($"id_a", $"id_b",
        round(($"dot" / 1e6) / (sqrt($"nsq_a" / 1e6) * sqrt($"nsq_b" / 1e6)), 4).as("cos"))
      .filter($"cos" >= tau)
      .orderBy($"id_a", $"id_b")
  }

  /** Hybrid retrieval with reciprocal-rank fusion: merge the lexical BM25
    * ranking (q79) and the dense cosine ranking against a query vector
    * into one list via RRF — score(d) = Σ_lists 1/(rrfK + rank_list(d)) —
    * the standard fusion step of a two-tower RAG retriever (lexical
    * recalls exact-term hits the embedding misses; dense recalls
    * paraphrases lexical misses; RRF needs no score calibration between
    * the two, which is why production stacks use it).
    *
    * The corpus keys align (doc_id = vec_id on the fixtures); the query
    * is query-term set + the embedding of vector `queryVecId`.
    *
    * Determinism: each list contributes round(1e6/(rrfK + rank)) integer
    * micro-units (ranks are ints, so the terms are engine-exact), summed
    * as longs — order-free. Both per-list rankings order by (rounded
    * score desc, id), the established cross-engine contract.
    *
    * Shape: the BM25 side is q79's query-proportional plan; the dense
    * side is one broadcast-query scan + TakeOrderedAndProject; the fusion
    * joins two k-row lists — everything after the scans is
    * k-proportional. The full-outer join keeps single-list hits, exactly
    * RRF's point.
    *
    * Self-match policy is deliberately ASYMMETRIC: only the dense side
    * excludes `queryVecId`, because only there is the query an element of
    * the corpus (its self-cosine of 1.0 would squat on rank 1 and carry
    * zero information). The lexical query is a free-standing TERM SET —
    * document `queryVecId` holds no privileged relationship to it, so a
    * lexical hit on that document is a real hit and may enter the fused
    * list through its lexical rank alone.
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val k = 20
    val queryVecId = 0L
    val rrfK = 60
    // k-row frames: the unpartitioned windows rank already-reduced lists
    val wLex = Window.orderBy($"bm25".desc, $"doc_id")
    val lex = TextAnalysis.bm25TopDocs(documents, topk = k)
      .withColumn("r_lex", row_number().over(wLex))
      .select($"doc_id".as("id"), $"r_lex")
    val corpus = embeddings
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    val qv = corpus.filter($"vec_id" === queryVecId).select($"v".as("qv"))
    val wVec = Window.orderBy($"cos".desc, $"vec_id")
    val vec = corpus
      .filter($"vec_id" =!= queryVecId)
      .crossJoin(broadcast(qv))
      .select($"vec_id", round(graft.functions.VectorFunctions.cosine_sim($"qv", $"v"), 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(k)
      .withColumn("r_vec", row_number().over(wVec))
      .select($"vec_id".as("id"), $"r_vec")
    lex
      .join(vec, Seq("id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(round(lit(1e6) / ($"r_lex" + rrfK)).cast("long"), lit(0L)) +
        coalesce(round(lit(1e6) / ($"r_vec" + rrfK)).cast("long"), lit(0L)))
      .orderBy($"rrf_micro".desc, $"id")
      .limit(10)
      .select($"id", $"r_lex".cast("int").as("r_lex"),
        $"r_vec".cast("int").as("r_vec"), $"rrf_micro")
      .orderBy($"rrf_micro".desc, $"id")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein '98):
    * from each query's top-`pool` cosine candidates, greedily pick
    * `select` documents maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)
    * — the diversification step a retrieval stack (and a coverage-aware
    * curation sampler) runs after ANN: near-duplicate candidates squat on
    * adjacent ranks, and MMR spends the k result slots on CONTENT rather
    * than on one template family. The reference engine has no retrieval
    * surface at all (D/Program.cs computes one aggregate); this is part
    * of the pipeline-extension family beside hybridRrf above.
    *
    * Engine-exact integer semantics (λ = 7/10 exactly):
    *   - rel_m / sim_m = CAST(round(round(cos, 6) · 1e6) AS BIGINT) —
    *     the double-rounding via the established round(·,6) contract
    *     keeps the second rounding ~1e-9 away from any half boundary,
    *     so micro-units are bit-identical across engines;
    *   - greedy objective compared as score10 = 7·rel_m − 3·maxsim_m
    *     (the λ denominator multiplied through — no division anywhere);
    *   - ties → smaller vec_id; first pick: maxsim_m ≡ 0.
    *
    * Scale shape: relevance is ONE corpus scan against the broadcast
    * query set (the q29 plan); the pool cut is the salted exact top-k
    * (`Scale.topKPerGroup` — no global window); pairwise similarities are
    * a pool×pool self-join per query (`pool`² rows, native codegen'd
    * cosine — the only float math, shared with the oracle via the q29
    * contract); the greedy itself runs per-query inside `flatMapGroups`
    * over those ≤ pool² integer rows — O(select·pool) pure-long
    * comparisons, distributed across queries, nothing at the driver. The
    * sequential dependence of greedy selection is intrinsic to MMR; the
    * design bounds it to a per-query constant (pool) so it parallelizes
    * across the query batch exactly like any other per-key operator.
    */
  def mmrRerank(embeddings: DataFrame, nQueries: Int = 3, pool: Int = 16,
      select: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    import org.apache.spark.sql.{Encoder, Encoders}
    val corpus = embeddings.select($"vec_id",
      transform($"embedding", _.cast("double")).as("v"))
    val queries = broadcast(corpus.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv")))
    def micro(cos: Column): Column = round(round(cos, 6) * 1e6, 0).cast("long")
    val scored = corpus.crossJoin(queries)
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"v", micro(cosine_sim($"qv", $"v")).as("rel_m"))
    val pooled = Scale.topKPerGroup(scored, group = $"query_id",
      rankKey = -$"rel_m", tie = $"vec_id", saltSource = $"vec_id", k = pool)
    // diagonal kept (join on query only): it carries rel for a
    // singleton pool; the greedy never reads sim(id, id)
    val edges = pooled.as("a")
      .join(pooled.as("b"), $"a.query_id" === $"b.query_id")
      .select($"a.query_id".as("query_id"), $"a.vec_id".as("id1"),
        $"a.rel_m".as("rel1"), $"b.vec_id".as("id2"),
        micro(cosine_sim($"a.v", $"b.v")).as("sim_m"))
    implicit val eIn: Encoder[(Long, Long, Long, Long, Long)] =
      Encoders.product[(Long, Long, Long, Long, Long)]
    implicit val eOut: Encoder[(Long, Int, Long, Long, Long)] =
      Encoders.product[(Long, Int, Long, Long, Long)]
    implicit val eKey: Encoder[Long] = Encoders.scalaLong
    val picked = edges
      .select($"query_id", $"id1", $"rel1", $"id2", $"sim_m")
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Long, Long)]) =>
        val rows = it.toVector
        val rel = rows.map(r => r._2 -> r._3).toMap
        val sim = rows.map(r => (r._2, r._4) -> r._5).toMap
        val out = Vector.newBuilder[(Long, Int, Long, Long, Long)]
        var chosen = Vector.empty[Long]
        var step = 0
        while (step < math.min(select, rel.size)) {
          step += 1
          val best = rel.keysIterator.filterNot(chosen.contains).map { id =>
            val maxsim = if (chosen.isEmpty) 0L else chosen.map(s => sim((id, s))).max
            (id, rel(id), maxsim)
          }.toVector.sortBy { case (id, r, ms) => (-(7L * r - 3L * ms), id) }.head
          chosen :+= best._1
          out += ((qid, step, best._1, best._2, best._3))
        }
        out.result().iterator
      }
    picked.toDF("query_id", "rnk", "vec_id", "rel_micro", "maxsim_micro")
      .orderBy($"query_id", $"rnk")
  }

  // ---- blocking-quality metrics (q292) --------------------------------------

  /** Blocking-quality report for the (brand, size) linkage blocking
    * (q292; the standard ER evaluation pair — Christen 2012): PAIR
    * COMPLETENESS (what fraction of true duplicate pairs does the
    * blocking keep reachable?) and REDUCTION RATIO (what fraction of
    * the n(n−1)/2 all-pairs space does it prune?). The q226
    * planted-twin recipe applied to the linkage family: for each
    * `p_partkey < nPlanted` a twin record is planted — EVEN base keys
    * keep (brand, size) (in-block, a recoverable duplicate), ODD keys
    * shift size by +1 (cross-block, unreachable BY DESIGN) — so the
    * expected completeness is exactly the even fraction, and a
    * blocking regression (or an accidental coarsening) moves a
    * hash-gated number. Recovery is computed by the ACTUAL block-key
    * comparison, not the parity closed form, so it measures the
    * blocking, not the construction.
    *
    * Everything is exact integers (block sizes, Σ C(m,2), recovered
    * counts); the two ratios are single boundary divisions. Shape: one
    * scan to plant + one groupBy on the block key + one broadcast-scale
    * join of the nPlanted twin keys; never materializes candidate
    * PAIRS — the count comes from the block-size frame.
    */
  def blockingQuality(part: DataFrame): DataFrame = {
    val nPlanted = 50L
    val base = part.select($"p_partkey", $"p_brand", $"p_size")
    val twins = base.filter($"p_partkey" < nPlanted).select(
      ($"p_partkey" + 90000000L).as("p_partkey"), $"p_brand",
      when($"p_partkey" % 2L === 0L, $"p_size").otherwise($"p_size" + 1)
        .as("p_size"))
    val all = base.unionAll(twins)
    val blocks = all.groupBy($"p_brand", $"p_size").agg(count(lit(1)).as("m"))
    val agg = blocks.agg(
      sum($"m").as("n"),
      sum(expr("m * (m - 1) div 2")).as("cand"))
    val recovered = base.filter($"p_partkey" < nPlanted)
      .join(twins.select(($"p_partkey" - 90000000L).as("p_partkey"),
        $"p_brand".as("tb"), $"p_size".as("ts")), Seq("p_partkey"))
      .filter($"p_brand" === $"tb" && $"p_size" === $"ts")
      .agg(count(lit(1)).as("rec"))
    // the ACTUAL twin count, not the parameter: a key space missing
    // values below nPlanted would silently understate completeness
    val planted = twins.agg(count(lit(1)).as("npl"))
    agg.crossJoin(broadcast(recovered)).crossJoin(broadcast(planted))
      .select($"n".as("n_records"), $"npl".as("n_planted"),
        $"rec".as("n_recovered"),
        round($"rec".cast("double") / $"npl", 4).as("pair_completeness"),
        $"cand".as("n_candidate_pairs"),
        expr("n * (n - 1) div 2").as("n_all_pairs"),
        round(lit(1.0) - $"cand".cast("double") / expr("n * (n - 1) div 2"), 6)
          .as("reduction_ratio"))
  }
}
