package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for the training-data pipeline (SURVEY.md
  * §2.2 ➕): stratified sampling, deterministic corpus splits, and
  * token-offset packing. All three are hash-deterministic (md5 shuffle
  * keys, no rand()) so any engine reproduces them exactly — sampling a
  * training set must be replayable, not merely random.
  */
object Sampling {

  /** Fixed-size stratified sample: the `perStratum` rows of each stratum
    * with the smallest md5(doc_id) — a deterministic pseudo-random draw
    * whose size is bounded by strata * perStratum regardless of corpus
    * size, selected by the salted two-stage rank in `Scale.topKPerGroup`
    * so a low-cardinality stratum column never funnels the corpus through
    * a handful of reducers.
    */
  def stratifiedSample(documents: DataFrame): DataFrame = {
    val stratum = "lang"
    val perStratum = 20
    Scale.topKPerGroup(
        documents.select($"doc_id", col(stratum).as("stratum")),
        group = $"stratum", rankKey = md5($"doc_id".cast("string")), tie = $"doc_id",
        saltSource = $"doc_id", k = perStratum)
      .select($"stratum", $"doc_id")
      .orderBy($"stratum", $"doc_id")
  }

  /** Neyman-allocation stratified sampling — the variance-OPTIMAL
    * allocation of a fixed sample budget across strata (Neyman 1934):
    * n_h ∝ N_h·S_h, so high-variance strata get proportionally more
    * draws than q56's equal allocation and the resulting estimator of
    * the corpus mean has minimal variance at the budget. The survey-
    * design complement to q173's bootstrap (which QUANTIFIES the
    * uncertainty this op minimizes).
    *
    * Determinism engineering: per-stratum variance comes from exact
    * integer moments (n, Σqm, Σqm²; qm = the rounded micro-quality) —
    * one double sqrt at the end (IEEE-identical across engines); the
    * weight N_h·S_h is immediately re-quantized to an integer
    * micro-weight so the allocation denominator is an EXACT long sum
    * (a floating sum over strata would be partition-order-dependent),
    * and the largest-remainder rounding ranks exact integer-derived
    * fractions (ties → stratum asc). Allocations cap at N_h (a tiny
    * stratum can be over-asked; the cap is reported, not silently
    * redistributed — q169's water-fill is the redistribution
    * machinery if a caller wants it). The draw is the md5 bottom-n_h
    * per stratum.
    *
    * Scale: moments are one map-side-combined agg (raw-moment form —
    * at extreme corpus sizes Σqm² wants the centered scatter-moments
    * path, `Aggregators.ScatterMoments`'s argument); everything after
    * is strata-sized except the draw's per-stratum rank window (q15
    * pattern; the salted `topKPerGroup` is the heavy-skew alternative
    * when per-stratum k is uniform).
    */
  def neymanAllocation(documents: DataFrame): DataFrame = {
    val stratum = "lang"
    val nTotal = 200
    import graft.operators.TextAnalysis
    val perDoc = documents.select(col(stratum).as("stratum"), $"doc_id",
      round(TextAnalysis.qualityCol($"text") * 1e4, 0).cast("long").as("qm"))
    val moments = perDoc.groupBy($"stratum")
      .agg(count(lit(1)).as("n_docs"), sum($"qm").as("s1"),
        sum($"qm" * $"qm").as("s2"))
    val sd = when($"n_docs" > 1,
      sqrt(($"n_docs" * $"s2" - $"s1" * $"s1") /
        ($"n_docs" * ($"n_docs" - 1)))).otherwise(lit(0.0))
    val weighted = moments
      .select($"stratum", $"n_docs", sd.as("sd"),
        round($"n_docs" * sd, 0).cast("long").as("wm"))
    val tot = weighted.agg(sum($"wm").as("w_tot"))
    val q = lit(nTotal) * $"wm" / $"w_tot" // exact longs into one division
    val wRem = Window.orderBy(($"q" - $"base").desc, $"stratum")
    val alloc = weighted.crossJoin(broadcast(tot))
      .select($"stratum", $"n_docs", $"sd", q.as("q"),
        floor(q).cast("long").as("base"))
      .withColumn("extra_rank", row_number().over(wRem))
      .withColumn("rem",
        lit(nTotal.toLong) - sum($"base").over(
          Window.orderBy($"stratum")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select($"stratum", $"n_docs", $"sd",
        least($"n_docs",
          $"base" + when($"extra_rank" <= $"rem", 1L).otherwise(0L)).as("alloc"))
    val wDraw = Window.partitionBy($"stratum")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val drawn = perDoc
      .withColumn("rn", row_number().over(wDraw).cast("long"))
      .join(broadcast(alloc.select($"stratum", $"alloc")), Seq("stratum"))
      .filter($"rn" <= $"alloc")
      .groupBy($"stratum")
      .agg(count(lit(1)).as("n_drawn"),
        round(sum($"qm") / count(lit(1)) / 10000.0, 6).as("sample_mean_q"))
    alloc
      .join(drawn, Seq("stratum"), "left_outer")
      .select($"stratum", $"n_docs", round($"sd", 6).as("sd_q"), $"alloc",
        coalesce($"n_drawn", lit(0L)).as("n_drawn"), $"sample_mean_q")
      .orderBy($"stratum")
  }

  /** Deterministic train/test split by hash range: a document lands in
    * `test` iff the first two hex digits of md5(doc_id) fall below the
    * cut (13/256 ~ 5.1% with the default). Stable under corpus growth —
    * a doc's split never changes when other docs arrive, the property a
    * replayable eval holdout needs (rand() or modulo-on-row-number both
    * lack it). Output: per-split doc and whitespace-token totals.
    */
  def trainTestSplit(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id",
        size(TextAnalysis.tokens($"text")).cast("bigint").as("tok"),
        when(substring(md5($"doc_id".cast("string")), 1, 2) < "0d", "test")
          .otherwise("train").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("total_tokens"))
      .orderBy($"split")

  /** Near-dup-aware train/test split — the leakage guard q57's per-doc
    * rule cannot give: a near-duplicate pair straddling train and test
    * leaks eval content into training verbatim-ish, so the split key must
    * be the near-dup CLUSTER, not the document. Every document is keyed by
    * its connected-component representative under the LSH pair index
    * (singletons key by themselves — a left join against the
    * pair-proportional component table, never corpus×corpus), and q57's
    * md5-range rule is applied to the REP: whole clusters land in one
    * split, and the assignment stays replayable and stable as unrelated
    * docs arrive. Per-split doc/token totals, same shape as q57.
    */
  def clusterAwareSplit(documents: DataFrame): DataFrame = {
    val comps = Dedup.survivorsOverPairs(Dedup.pairIndex(documents))
      .select($"doc_id", $"cluster_rep")
    documents
      .select($"doc_id", size(TextAnalysis.tokens($"text")).cast("bigint").as("tok"))
      .join(comps, Seq("doc_id"), "left")
      .select($"doc_id", $"tok", coalesce($"cluster_rep", $"doc_id").as("rep"))
      .select($"tok",
        when(substring(md5($"rep".cast("string")), 1, 2) < "0d", "test")
          .otherwise("train").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("total_tokens"))
      .orderBy($"split")
  }

  /** Token-offset packing: concatenate the corpus in doc_id order and
    * shard it into fixed `budget`-token bins by STARTING offset (the
    * pretraining-style "concatenate then cut every N tokens" sharding; a
    * document straddling a boundary belongs to the bin its first token
    * lands in). Per-bin document and token counts.
    *
    * The prefix sum is FULLY distributed, two levels of the same trick:
    * per-range subtotals (doc_id div `bucketWidth`) get their running base
    * from a window cumsum partitioned by SUPER-range (`bucketWidth` ranges
    * per super-range), and the super-range bases come from one ordered
    * window over the super-range totals. No driver-side fold anywhere
    * (round 3 collected one subtotal per range to the driver —
    * O(corpus/1024) tuples at 100 TB); the only single-partition frame is
    * the super-total window, corpus/bucketWidth² rows (~10⁵ at 10¹¹ docs —
    * a third level would shrink it further, but at that row count the
    * window is cheaper than another shuffle). Exact integer sums,
    * bit-identical to the naive global running sum (the oracle's form).
    */
  /** Per-document packing assignment: (doc_id, tok, bin) under the
    * concatenate-in-doc_id-order, cut-every-`budget`-tokens rule — the
    * distributed prefix sum shared by the q58 report and the shard
    * writer.
    */
  def tokenBins(documents: DataFrame, budget: Long = 2048L,
      bucketWidth: Long = 1024L): DataFrame = {
    // checkpointed: the subtotal pass below and the final join both consume
    // this relation, and without the checkpoint each would re-scan and
    // re-tokenize the corpus through the lineage
    val toks = documents.select($"doc_id",
      size(TextAnalysis.tokens($"text")).cast("bigint").as("tok"))
      .withColumn("bkt", expr(s"doc_id div $bucketWidth"))
      .localCheckpoint()
    // level 1: per-range totals; level 2: per-super-range running bases.
    // exclusive prefix = inclusive cumsum minus own total, at both levels.
    val superTotals = toks
      .withColumn("sup", expr(s"bkt div $bucketWidth"))
      .groupBy($"sup", $"bkt").agg(sum($"tok").as("t"))
      .withColumn("sup_t", sum($"t").over(Window.partitionBy($"sup")))
    val supW = Window.orderBy($"sup") // corpus/bucketWidth^2 rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val supBase = superTotals
      .select($"sup", $"sup_t").distinct()
      .withColumn("sup_base", sum($"sup_t").over(supW) - $"sup_t")
      .select($"sup", $"sup_base")
    val inSupW = Window.partitionBy($"sup").orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baseDf = superTotals
      .withColumn("in_sup", sum($"t").over(inSupW) - $"t")
      .join(supBase, Seq("sup"))
      .select($"bkt", ($"sup_base" + $"in_sup").as("base"))
    val inRange = Window.partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .join(baseDf, Seq("bkt"))
      .withColumn("off", $"base" + sum($"tok").over(inRange) - $"tok")
      .select($"doc_id", $"tok", expr(s"off div $budget").as("bin"))
  }

  def packByTokenOffset(documents: DataFrame): DataFrame =
    tokenBins(documents, 2048L, 1024L)
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("total_tokens"))
      .orderBy($"bin")

  /** Sliding-window document chunking: cut each document into
    * `chunkSize`-token windows advancing by `stride` tokens (the
    * context-window preparation step before tokenizer packing). Chunk
    * starts are 0, stride, 2*stride, ... with as many chunks as needed to
    * cover every token ((n - chunkSize) / stride rounded up, plus one);
    * the final window is shorter when the tail runs out. Per chunk: token
    * count and an md5 checksum of the chunk text.
    *
    * Shape: the token array is materialized ONCE per row as a real column,
    * so the per-chunk `slice`/`array_join` lambdas index an in-memory
    * array (never re-splitting the text per chunk); the fan-out is
    * `posexplode`, shuffle-free until the canonical output sort.
    */
  def docChunks(documents: DataFrame): DataFrame = {
    val chunkSize = 64
    val stride = 32
    val nws = size($"ws")
    val nChunks = when(nws <= chunkSize, lit(1L))
      .otherwise(ceil((nws - chunkSize).cast("double") / stride).cast("bigint") + 1L)
    documents
      .select($"doc_id", TextAnalysis.tokens($"text").as("ws"))
      .select($"doc_id",
        posexplode(transform(sequence(lit(0L), nChunks - 1L),
          k => slice($"ws", (k * stride + 1L).cast("int"), lit(chunkSize)))))
      .select($"doc_id", $"pos".cast("bigint").as("chunk_no"),
        size($"col").cast("bigint").as("n_tokens"),
        md5(array_join($"col", " ")).as("chunk_checksum"))
      .orderBy($"doc_id", $"chunk_no")
  }

  /** Reproducible epoch shuffle: the training-order permutation as a
    * VERIFIABLE artifact. Each document draws the sort key
    * md5(seed:doc_id); the first key byte mod `nShards` picks its shard;
    * within a shard the order is (key, doc_id). Output: one row per
    * shard with the doc count and an md5 ORDER CHECKSUM of the doc-id
    * sequence — any two runs (or engines) that produce the same
    * checksums produced byte-identical training order, which is the
    * reproducibility contract an ablation needs before it can attribute
    * a metric delta to the data change rather than the shuffle.
    *
    * A new seed is a fresh epoch permutation; a given (seed, doc) is
    * stable under corpus growth (hash-keyed, like q57's split rule).
    *
    * Shape: key assignment is one codegen'd projection; the per-shard
    * ordered fold here is collect_list + array_sort (shard-sized state —
    * fine for a checksum audit at fixture scale). The 100 TB production
    * form of the SAME permutation is repartition(shard) +
    * sortWithinPartitions(key) straight into the shard sink, with this
    * checksum computed incrementally per file — the permutation
    * semantics, and hence the checksums, are identical.
    */
  def epochShuffle(documents: DataFrame, seed: String = "epoch0"): DataFrame = {
    val nShards = 8
    val keyed = documents.select($"doc_id",
      md5(concat(lit(s"$seed:"), $"doc_id".cast("string"))).as("k"))
    keyed
      .withColumn("shard",
        (conv(substring($"k", 1, 2), 16, 10).cast("long") % nShards).cast("bigint"))
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct($"k", $"doc_id"))),
            x => x.getField("doc_id").cast("string")))).as("order_checksum"))
      .orderBy($"shard")
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis-
    * Spirakis A-ES): each document draws key = -ln(u) / w with weight
    * w = n_chars and u its md5-derived uniform; the `k` SMALLEST keys are
    * exactly a weighted sample without replacement. The length-biased
    * draw a curation pipeline uses for "sample 50 docs proportional to
    * token mass" — reproducible across runs and engines because u is the
    * exact 13-hex-digit md5 fraction (the q92 trick), never rand().
    *
    * Scale shape: key assignment is one codegen'd scan projection;
    * selection is the salted two-stage top-k (`Scale.topKPerGroup` with a
    * constant group), so no single reducer sees the corpus. Bottom-k by a
    * per-row key is associative — per-partition bottom-k's merge into the
    * global bottom-k — which also makes the sample MERGEABLE across
    * shards/days like the q87 sketch. Selection ranks the unrounded key;
    * output rounds to 6 for cross-engine display stability (nearest tied
    * keys sit ~1e9 ulps apart, so ranking is engine-stable).
    */
  def weightedSample(documents: DataFrame): DataFrame = {
    val k = 50
    val u = Scale.hexFraction(md5($"doc_id".cast("string")))
    val keyed = documents
      .select($"doc_id", $"lang", $"n_chars",
        (-log(u) / $"n_chars").as("key"))
    Scale.topKPerGroup(keyed, group = lit(1), rankKey = $"key",
        tie = $"doc_id", saltSource = $"doc_id", k = k)
      .select($"doc_id", $"lang", $"n_chars", round($"key" * 1e6, 4).as("key_micro"))
      .orderBy($"key_micro", $"doc_id")
  }

  /** q124's A-ES weighted sample drawn PER STRATUM: the `k` smallest
    * keys within each language — fixed-size length-biased samples per
    * language from one pass, the balanced-inspection form (a global
    * draw over-represents head languages exactly as much as the corpus
    * does). Same keys as q124, so a document's key never depends on the
    * stratum column — re-stratifying (by source, by quality band) reuses
    * identical draws.
    */
  /** Horvitz-Thompson estimation from the q124 bottom-k draw (q206):
    * the Cohen-Kaplan bottom-k subset-sum estimator — take the SAME
    * A-ES exponential-key sample a pipeline already materialized, set
    * τ = the (k+1)-th smallest key, weight each sampled item by its
    * conditional inclusion probability p_i = 1 − exp(−w_i·τ), and
    * Σ f/p estimates any corpus total from the k rows alone. The
    * operator reports estimated vs TRUE doc and char totals with the
    * relative error — the self-audit a sampling pipeline publishes so
    * downstream consumers know what the sample can bear.
    *
    * Determinism: keys are the q124 exact md5 fractions; τ is an order
    * statistic; each HT term quantizes to the 1e-4 grid BEFORE the sum
    * (exact integer addition, any order — the q106/q205 discipline for
    * the one exp per term).
    *
    * Shape: the (k+1)-sample comes from the salted two-stage
    * `topKPerGroup` (no global sort); the rank window and everything
    * after run on k+1 rows; truth is one map-side-combined corpus agg.
    * Requires corpus size > k (τ must exist) — trivially true wherever
    * estimation is the point.
    */
  def htEstimate(documents: DataFrame): DataFrame = {
    val k = 50
    val u = Scale.hexFraction(md5($"doc_id".cast("string")))
    val keyed = documents
      .select($"doc_id", $"n_chars", (-log(u) / $"n_chars").as("key"))
    val topK1 = Scale.topKPerGroup(keyed, group = lit(1), rankKey = $"key",
      tie = $"doc_id", saltSource = $"doc_id", k = k + 1)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"key", $"doc_id")
    val ranked = topK1.withColumn("rn", row_number().over(w)) // k+1 rows
    val tau = ranked.filter($"rn" === k + 1).select($"key".as("tau"))
    val truth = documents.agg(count(lit(1)).as("true_docs"),
      sum($"n_chars").as("true_chars"))
    ranked.filter($"rn" <= k)
      .crossJoin(broadcast(tau))
      .select($"n_chars", (lit(1.0) - exp(-($"n_chars" * $"tau"))).as("p"))
      .select(
        expr("CAST(round(1e4 / p) AS BIGINT)").as("cm_docs"),
        expr("CAST(round(n_chars * 1e4 / p) AS BIGINT)").as("cm_chars"))
      .agg(count(lit(1)).as("n_sampled"),
        sum($"cm_docs").as("sd"), sum($"cm_chars").as("sc"))
      .crossJoin(broadcast(truth))
      .select($"n_sampled",
        $"true_docs", round($"sd" / 1e4, 2).as("est_docs"),
        $"true_chars", round($"sc" / 1e4, 2).as("est_chars"),
        round(abs($"sc" / 1e4 - $"true_chars") / $"true_chars", 4).as("rel_err_chars"))
  }

  /** Word2vec-style negative sampling (q234; Mikolov et al. 2013's
    * unigram^0.75 table): draw `slots` negative tokens per document from
    * the corpus unigram distribution raised to 3/4 — the smoothing that
    * up-weights the tail so negatives aren't all stop-words. Every draw
    * is a deterministic md5 coin (doc_id:slot), so the sample is
    * REPLAYABLE — a contrastive-training run can be reproduced bit-for-bit
    * from the corpus alone (the family's md5 discipline).
    *
    * Scale shape — the CDF never broadcasts a range join OR funnels the
    * vocabulary through one task: smoothed weights are micro-quantized
    * (round(10⁶·n^0.75) — exact integers after the one pow), the
    * vocabulary CDF is a `Scale.rangePrefixSums` over tok (Heaps' law
    * puts the vocab at 10⁸ types at 100 TB, far too big for a
    * single-task Window.orderBy cumsum), and draw→token resolution
    * is an EQUI-join on a bucketized CDF: token spans map to the
    * `buckets` ids they overlap (explode costs vocab + buckets rows), a
    * draw computes its bucket by integer arithmetic, and the residual
    * range check runs inside bucket-sized groups. Draws are docs×slots
    * rows; nothing is ever vocab×draws. Production note: the raw table
    * draw can hit a token present in the document (the classic false
    * negative) — downstream re-draws on collision; this op emits the
    * raw replayable draw.
    */
  /** The distributed unigram^0.75 CDF behind negativeSamples, exposed
    * for the bit-equality and plan specs: (tok, n, w6, lo, hi) with
    * [lo, hi) spans tiling [0, Σw6) in tok order — partition-count
    * invariant (the cumsum depends only on the tok total order).
    */
  private[graft] def vocabCdf(documents: DataFrame, parts: Int): DataFrame = {
    val vocab = documents
      .select(explode(TextAnalysis.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .select($"tok", $"n",
        round(pow($"n", 0.75) * 1e6, 0).cast("long").as("w6"))
    Scale.rangePrefixSums(vocab, Seq($"tok"), Seq("w6"), parts)
      .select($"tok", $"n", $"w6", ($"cum_w6" - $"w6").as("lo"), $"cum_w6".as("hi"))
  }

  def negativeSamples(documents: DataFrame): DataFrame = {
    val buckets = 1024
    val cdf = vocabCdf(documents, 32)
      .localCheckpoint() // vocab-sized; feeds total, spans, and resolve
    val total = cdf.agg(max($"hi").as("tw"))
    val spans = cdf.crossJoin(broadcast(total))
      .select($"tok", $"lo", $"hi",
        explode(sequence(expr(s"(lo * $buckets) div tw"),
          expr(s"((hi - 1) * $buckets) div tw"))).as("bucket"))
    val u = Scale.hexFraction(md5(concat($"doc_id".cast("string"), lit(":"),
      $"slot".cast("string"))))
    val draws = documents.select($"doc_id")
      .withColumn("slot", explode(sequence(lit(1L), lit(4.toLong))))
      .crossJoin(broadcast(total))
      .select($"doc_id", $"slot", floor(u * $"tw").cast("long").as("r"), $"tw")
      .select($"doc_id", $"slot", $"r",
        expr(s"(r * $buckets) div tw").as("bucket"))
    draws
      .join(spans, Seq("bucket"))
      .filter($"r" >= $"lo" && $"r" < $"hi")
      .select($"doc_id", $"slot", $"tok".as("neg_token"))
      .orderBy($"doc_id", $"slot")
  }

  /** Raking / iterative proportional fitting (q238; Deming & Stephan
    * 1940 — survey statistics' post-stratification standard): given a
    * deterministic md5 subsample, fit per-cell weights so the weighted
    * sample reproduces the FULL corpus's lang margins AND source
    * margins simultaneously — the correction applied before any
    * sample-based corpus statistic is read as a corpus number
    * (cheap-sample estimation with the sampling skew raked out). Each
    * round scales cells to match the lang margins, then the source
    * margins; a handful of rounds converges for strictly-positive
    * cells.
    *
    * Shape: the corpus is touched twice (margin aggregate + sample cell
    * aggregate, both map-side-combined); IPF itself runs on the
    * STRATA-BOUNDED cell frame on the driver (the k-row centroid-frame
    * convention — cells are langs×sources regardless of corpus size).
    * Determinism: cell weights are integer micro-units; each half-round
    * multiplies by one double factor (target×10⁶ / current micro-sum)
    * and re-rounds — the exact operation sequence the oracle's unrolled
    * round CTEs replay. A corpus cell absent from the sample keeps
    * weight 0 (the standard raking caveat: margins converge on
    * represented cells; the fixture's subsample covers every cell).
    */
  def rakingWeights(documents: DataFrame): DataFrame = {
    val rounds = 3
    val spark = documents.sparkSession
    val cells = documents
      .filter(Scale.md5SlicePos($"doc_id", 0, 4) === 0L)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tgtL = documents.groupBy($"lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val tgtS = documents.groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    var w6 = cells.map { case (l, s, n) => ((l, s), n * 1000000L) }.toMap
    for (_ <- 1 to rounds) {
      val curL = w6.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
      w6 = w6.map { case ((l, s), w) =>
        ((l, s), math.round(w * (tgtL(l).toDouble * 1e6 / curL(l)))) }
      val curS = w6.toSeq.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
      w6 = w6.map { case ((l, s), w) =>
        ((l, s), math.round(w * (tgtS(s).toDouble * 1e6 / curS(s)))) }
    }
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    cells.toSeq.map { case (l, s, n) =>
      (l, s, n, BigDecimal(w6((l, s)) / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("lang", "source", "n_sample", "raked_docs")
      .orderBy($"lang", $"source")
  }

  /** Effective sample size and Kish design effect of the q238 raking
    * weights (q273; Kish 1965): per lang and overall,
    * ESS = (Σw)²/Σw² over the weighted sample and deff = n/ESS — the
    * price of the calibration: raking matches the margins exactly
    * (q238's gate) but inflates variance by deff, and quoting raked
    * estimates without it is the classic survey-weighting overclaim.
    * Weights are cell-constant (w = raked_docs/n_sample), so both sums
    * collapse to cell-level products on the bounded (lang × source)
    * frame: ESS needs no second corpus pass at all.
    *
    * Per-cell Σ terms micro-quantize before the cross-cell sums (the
    * q245 discipline); each per-lang row also carries the overall
    * ESS/deff (the grid convention).
    */
  def rakingEss(documents: DataFrame): DataFrame = {
    val raked = rakingWeights(documents)
    val withW = raked
      .withColumn("w", $"raked_docs" / $"n_sample")
      .withColumn("sw6",
        round($"n_sample" * $"w" * lit(1000000.0), 0).cast("long"))
      .withColumn("sww6",
        round($"n_sample" * ($"w" * $"w") * lit(1000000.0), 0).cast("long"))
    val perLang = withW.groupBy($"lang").agg(
      sum($"n_sample").as("n"),
      sum($"sw6").as("sw6"), sum($"sww6").as("sww6"))
    val tot = perLang.agg(sum($"n").as("nt"),
      sum($"sw6").as("tsw6"), sum($"sww6").as("tsww6"))
    def ess(sw: Column, sww: Column): Column =
      (sw.cast("double") / lit(1000000.0)) * (sw.cast("double") / lit(1000000.0)) /
        (sww.cast("double") / lit(1000000.0))
    perLang.crossJoin(broadcast(tot))
      .select($"lang", $"n".as("n_sample"),
        round(ess($"sw6", $"sww6"), 4).as("ess"),
        round($"n".cast("double") / ess($"sw6", $"sww6"), 6).as("deff"),
        round(ess($"tsw6", $"tsww6"), 4).as("ess_overall"),
        round($"nt".cast("double") / ess($"tsw6", $"tsww6"), 6)
          .as("deff_overall"))
      .orderBy($"lang")
  }

  def weightedSampleByStratum(documents: DataFrame): DataFrame = {
    val u = Scale.hexFraction(md5($"doc_id".cast("string")))
    val keyed = documents
      .select($"doc_id", $"lang", $"n_chars",
        (-log(u) / $"n_chars").as("key"))
    Scale.topKPerGroup(keyed, group = $"lang", rankKey = $"key",
        tie = $"doc_id", saltSource = $"doc_id", k = 10)
      .select($"lang", $"doc_id", $"n_chars", round($"key" * 1e6, 4).as("key_micro"))
      .orderBy($"lang", $"key_micro", $"doc_id")
  }
}
