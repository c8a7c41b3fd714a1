package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline (SURVEY.md §2.2 ➕):
  * token counting, quality scoring, language ID, fingerprinting. All built
  * from codegen'd `functions._` expressions — no UDFs — so WholeStageCodegen
  * keeps the scan -> project -> agg pipeline fused at any scale.
  *
  * Determinism contract: only integer arithmetic and exact string ops
  * (length/replace/md5), so the DuckDB oracles agree bit-for-bit.
  */
object TextAnalysis {

  /** Occurrence count of a literal marker inside `s`: replace-and-measure,
    * (len(s) - len(replace(s, m, ''))) / len(m) — exact integer arithmetic.
    */
  def occurrences(s: Column, marker: String): Column =
    ((length(s) - length(replace(s, lit(marker), lit("")))) / marker.length).cast("int")

  /** The one whitespace tokenizer: `text` split on a single space with
    * empty tokens kept — the oracles' `string_split(text, ' ')`, and
    * Java's `String.split(" ", -1)`.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** The bag-of-words index every lexical operator reads: one
    * `(doc_id, term, tf)` row per distinct token of a document, tf its
    * raw in-document count — one explode into a map-side-combined
    * aggregation. Filters and semi/anti-joins on `term` or `doc_id`
    * above it are pushed below the aggregate by Catalyst.
    */
  def termFrequencies(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))

  /** Each document's token count `(doc_id, dl)` — BM25's document length. */
  def docLengths(documents: DataFrame): DataFrame =
    documents.select($"doc_id", size(tokens($"text")).cast("long").as("dl"))

  /** The tf-idf weights `(doc_id, term, df, n_docs, tfidf)` of the `tf`
    * rows, `termFrequencies(documents)` or its rows for some documents:
    * df per term and N over the whole corpus, N as a one-row scalar
    * broadcast (a BroadcastNestedLoopJoin whose build side is a ONE-ROW
    * aggregate — constant memory, no shuffle; a corpus-wide window would
    * single-partition the frame) and tfidf = round(tf · ln(N/df), 4).
    * A caller that weights a few documents restricts `tf` itself: Catalyst
    * does not push a semi-join below the computed tfidf projection.
    */
  def tfidfWeights(documents: DataFrame, tf: DataFrame): DataFrame = {
    val df = termFrequencies(documents).groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select($"doc_id", $"term", $"df", $"n_docs",
        round($"tf" * log($"n_docs" / $"df"), 4).as("tfidf"))
  }

  /** The BM25 seed query of q79, q138 and q163. */
  val Bm25SeedQuery: Seq[String] = Seq("table", "data", "row")

  /** Per-document stats: char/word counts, avg word length, punctuation and
    * stopword ratios, plus a composite quality score. Pure projection —
    * pipelines with the scan, shuffle-free.
    */
  def textStats(documents: DataFrame): DataFrame = {
    val words = size(tokens($"text"))
    val letters = length(regexp_replace($"text", "[^a-z]", ""))
    // lowercase before marker counting (consistent with langId and the
    // oracle's padded-lower form)
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    val stopwords =
      occurrences(padded, " the ") + occurrences(padded, " a ") + occurrences(padded, " of ")
    documents.select(
      $"doc_id",
      $"lang",
      length($"text").cast("bigint").as("n_chars"),
      words.cast("bigint").as("n_words"),
      round(letters.cast("double") / words, 4).as("avg_word_len"),
      round(length(regexp_replace($"text", "[a-z ]", "")).cast("double") / length($"text"), 4)
        .as("punct_ratio"),
      round(stopwords.cast("double") / words, 4).as("stopword_ratio"))
      .orderBy($"doc_id")
  }

  /** Composite quality score in [0,1]-ish: length prior + stopword signal -
    * punctuation penalty. The exact formula is arbitrary; what matters is
    * that it is deterministic, cheap, and pushes fully into codegen.
    */
  /** The q21 quality formula as a reusable column (rounded to 4). */
  def qualityCol(text: Column): Column = {
    val words = size(tokens(text))
    // lowercase before marker counting (consistent with langId and the
    // oracle's padded-lower form)
    val padded = concat(lit(" "), lower(text), lit(" "))
    val stopwords =
      occurrences(padded, " the ") + occurrences(padded, " a ") + occurrences(padded, " of ")
    val lengthScore = least(words.cast("double") / lit(60.0), lit(1.0))
    val stopScore   = least(stopwords.cast("double") * lit(10.0) / words, lit(1.0))
    val punctPenalty = length(regexp_replace(text, "[a-z ]", "")).cast("double") / length(text)
    round(lit(0.5) * lengthScore + lit(0.5) * stopScore - punctPenalty, 4)
  }

  def qualityScore(documents: DataFrame): DataFrame =
    documents.select($"doc_id", qualityCol($"text").as("quality"))
      .orderBy($"doc_id")

  /** Quantile-based quality pruning report: per language, the exact q-th
    * quality quantile and how many documents survive a `quality >= cut`
    * filter — the "drop the worst decile per language" curation rule.
    *
    * Two aggregations: the per-lang exact cut via the BOUNDED-STATE
    * histogram quantile (`Scale.exactQuantileByGroup` — sort-based
    * `percentile` would buffer every row of a language on one reducer,
    * corpus-proportional state at 100 TB; the histogram form's state is
    * bounded by the rounded-to-4 value domain and produces bit-identical
    * doubles), then a broadcast join of the per-lang cuts back onto the
    * scored scan for the keep counts. The >= comparison is robust
    * cross-engine: an interpolated cut either equals a data value exactly
    * or lies strictly between two distinct rounded-to-4 values.
    */
  def qualityFilter(documents: DataFrame): DataFrame = {
    val q = 0.1
    val scored = documents.select($"doc_id", $"lang", qualityCol($"text").as("quality"))
    val cuts = Scale.exactQuantileByGroup(
      scored.select($"lang", $"quality"), "lang", "quality", q)
    scored
      .join(broadcast(cuts), Seq("lang"))
      .groupBy($"lang", $"cut")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"quality" >= $"cut", 1L).otherwise(0L)).as("n_kept"))
      .select($"lang", round($"cut", 4).as("p10_cut"), $"n_total", $"n_kept")
      .orderBy($"lang")
  }

  /** N-gram-heuristic language ID: marker-word mass per language, argmax
    * with a fixed priority order. Markers chosen for determinism, not
    * linguistic accuracy (the fixtures' text is synthetic). At scale this is
    * a single codegen'd projection.
    */
  def langId(documents: DataFrame): DataFrame = {
    def score(markers: Seq[String]): Column =
      markers.map(m => occurrences($"padded", s" $m ")).reduce(_ + _)
    // stage the padded text and the four scores as real columns so each
    // marker scan and the argmax run once per row, not once per CASE branch
    val scored = documents
      .select($"doc_id", $"lang", concat(lit(" "), lower($"text"), lit(" ")).as("padded"))
      .select($"doc_id", $"lang",
        score(Seq("the", "of", "and")).as("s_en"),
        score(Seq("der", "und", "die")).as("s_de"),
        score(Seq("le", "et", "la")).as("s_fr"),
        score(Seq("el", "y", "los")).as("s_es"))
      .withColumn("best", greatest($"s_en", $"s_de", $"s_fr", $"s_es"))
    scored.select(
      $"doc_id",
      $"lang",
      when($"best" === 0, lit("und"))
        .when($"s_en" === $"best", lit("en"))
        .when($"s_de" === $"best", lit("de"))
        .when($"s_fr" === $"best", lit("fr"))
        .otherwise(lit("es")).as("lang_guess"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the content-addressable key used by exact dedup.
    */
  def fingerprintCol(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), " +", " "))

  def fingerprints(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", fingerprintCol($"text").as("fingerprint"))
      .orderBy($"doc_id")

  /** Polynomial rolling-hash fingerprint via the native codegen'd
    * expression (graft.functions.RollingHash) — portable integer formula
    * the oracle recomputes exactly.
    */
  def rollingFingerprints(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", graft.functions.RollingHash.rolling_hash($"text").as("rhash"))
      .orderBy($"doc_id")

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric marks — the classic pre-tokenizer regex.
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      $"doc_id",
      size(tokens($"text")).cast("bigint").as("ws_tokens"),
      // regexp_count avoids materializing the match array
      regexp_count(lower($"text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("bigint").as("bpe_tokens"))
      .orderBy($"doc_id")

  /** Per-document token-entropy quality signal (the lexical-diversity rule
    * in Gopher-style quality stacks): Shannon entropy of the whitespace
    * unigram distribution, H = log2(n) - (Σ c·log2 c)/n, with the
    * normalized form H / log2(n) in [0, 1] (0 = one token repeated,
    * 1 = all tokens distinct). Low entropy flags keyword-stuffing and
    * template spam that length/stopword ratios miss.
    *
    * Shape: a per-doc fold of the `termFrequencies` index — two
    * map-side-combined aggregations; nothing corpus-global anywhere.
    * Entropy is rounded to 4 (the one place doubles meet libm logs; same
    * convention as the tf-idf/BM25 oracles).
    */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    termFrequencies(documents)
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"), count(lit(1)).as("n_types"),
        // log2(tf) quantized to integer micro-units: the per-doc weighted
        // sum is then exact integer arithmetic, order-independent under
        // any partitioning (a float sum over n_types terms can land
        // either side of the round-4 boundary depending on reduction
        // order — the q98 lesson)
        sum($"tf" * round(log2($"tf") * 1e6, 0).cast("long")).as("s6"))
      .select($"doc_id", $"n_tokens", $"n_types",
        (log2($"n_tokens") - $"s6" / 1e6 / $"n_tokens").as("h"))
      .select($"doc_id", $"n_tokens", $"n_types",
        round($"h", 4).as("entropy"),
        round(when($"n_tokens" > 1, $"h" / log2($"n_tokens")).otherwise(0.0), 4)
          .as("norm_entropy"))
      .orderBy($"doc_id")
  }

  /** Corpus-wide vocabulary head: the `k` most frequent whitespace tokens.
    * One explode + map-side-combined count, then `orderBy(...).limit(k)` —
    * Catalyst plans the tail as TakeOrderedAndProject (per-partition
    * partial top-k merged on the driver), so no global sort of the
    * vocabulary ever happens. Ties broken by token for determinism.
    */
  def tokenTopK(documents: DataFrame, k: Int = 30): DataFrame =
    documents
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(k)

  /** Per-document top-`k` terms by tf-idf (tf = raw in-doc count, idf =
    * ln(N/df)) — the classic salient-term extraction over a corpus.
    *
    * Scale shape: the scores are the index's `tfidfWeights`; the per-doc
    * top-k runs through the salted two-stage rank (`Scale.topKPerGroup`),
    * so neither the vocabulary join nor the ranking funnels a hot key
    * through one reducer. Ranking compares the ROUNDED score (then term)
    * so the order is reproducible across engines to the last ulp.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val scored = tfidfWeights(documents, termFrequencies(documents))
      .select($"doc_id", $"term", $"tfidf")
    Scale.topKPerGroup(scored, group = $"doc_id", rankKey = -$"tfidf",
        tie = $"term", saltSource = $"term", k = k)
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")).cast("int"))
      .select($"doc_id", $"term", $"tfidf", $"rnk")
      .orderBy($"doc_id", $"rnk")
  }

  /** Count-min sketch accuracy report: estimate the counts of the exact
    * top-`topk` tokens from a `d`×`w` count-min sketch (md5-slice hash
    * family, `Scale.md5SlicePos`) and report the overestimation — the
    * mergeable fixed-memory frequency sketch every 100 TB heavy-hitter
    * pipeline runs, WITH an exact oracle (deterministic hash family means
    * DuckDB reproduces every counter).
    *
    * Scale shape: the sketch is a d×w-cell aggregation — tokens explode
    * into d (row, cell) pairs and map-side combine bounds the shuffle at
    * d×w counters per partition regardless of vocabulary size (no
    * per-token state anywhere). Probing joins the tiny broadcast counter
    * table. CM guarantee (estimate >= true count) asserted in spec.
    */
  def countMinTopTokens(documents: DataFrame): DataFrame = {
    val d = 3
    val w = 1024
    val topk = 10
    val cells = documents
      .select(explode(tokens($"text")).as("token"))
      .select(posexplode(array((0 until d).map(j => Scale.md5SlicePos($"token", j, w)): _*)))
      .groupBy($"pos".as("j"), $"col".as("cell"))
      .agg(count(lit(1)).as("c"))
    tokenTopK(documents, topk)
      .select($"token", $"n",
        posexplode(array((0 until d).map(j => Scale.md5SlicePos($"token", j, w)): _*)))
      .select($"token", $"n", $"pos".as("j"), $"col".as("cell"))
      .join(broadcast(cells), Seq("j", "cell"), "left")
      .groupBy($"token", $"n")
      .agg(min(coalesce($"c", lit(0L))).as("est_n"))
      .select($"token", $"n".as("true_n"), $"est_n", ($"est_n" - $"n").as("overestimate"))
      .orderBy($"true_n".desc, $"token")
  }

  /** Collocation mining: the corpus's most-associated adjacent word
    * pairs by pointwise mutual information — PMI = ln(N·c(a,b) /
    * (c(a)·c(b))) over bigram positions — with a minimum pair count
    * (PMI's classic low-frequency pathology: a pair seen once between
    * two hapaxes scores the maximum, so phrase miners always co-filter
    * on count). The word2phrase-style primitive that decides which
    * bigrams become single tokens before tokenizer training (q104's
    * input, one level up).
    *
    * Shape: q106's bigram frame (one explode, map-side-combined counts);
    * unigram counts aggregate from the same token frame; N (total bigram
    * positions) is a 1-row scalar broadcast; the final top-k is
    * TakeOrderedAndProject on the ROUNDED score (micro-unit ln — the one
    * transcendental, quantized far above libm jitter).
    */
  def collocations(documents: DataFrame, minCount: Long = 20): DataFrame = {
    val toks = documents.select(tokens($"text").as("ts"))
    val bigrams = toks
      .filter(size($"ts") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")).as("b"))
      .select($"b.w1".as("w1"), $"b.w2".as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cab"))
    val uni = toks
      .select(explode($"ts").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cw"))
    val nPos = bigrams.agg(sum($"cab").as("n_pos"))
    bigrams
      .filter($"cab" >= minCount)
      .join(uni.select($"w".as("w1"), $"cw".as("c1")), Seq("w1"))
      .join(uni.select($"w".as("w2"), $"cw".as("c2")), Seq("w2"))
      .crossJoin(broadcast(nPos))
      .select($"w1", $"w2", $"cab",
        // operands to double BEFORE multiplying: integer products overflow
        // long at corpus scale (1e13 positions × 1e10 pair count); double
        // products are exact below 2^53 and both engines compute the same
        (round(log($"n_pos".cast("double") * $"cab" /
          ($"c1".cast("double") * $"c2")) * 1e6) / 1e6).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(20)
  }

  /** BM25 retrieval scoring: rank documents against a fixed query-term
    * set (Lucene-form idf, k1 = 1.2, b = 0.75) and return the global top-k —
    * the lexical-retrieval half of a RAG pipeline, beside the ANN ops.
    *
    * Shape: the `termFrequencies` and `docLengths` index frames; Catalyst
    * pushes the term filter below the index's aggregate, so state is
    * query-proportional; df is a |Q|-row broadcast; corpus stats (N,
    * avgdl) are a 1-row broadcast (scalar-broadcast pattern, see
    * tfidfWeights); the final top-k is TakeOrderedAndProject. Scores are
    * ranked ROUNDED (then doc_id) so cross-engine ordering is stable;
    * every input to the formula is an exact integer or an
    * exactly-representable constant, so per-term scores are bit-identical
    * across engines and only the <=|Q|-term sum order rides on the
    * rounding.
    */
  def bm25TopDocs(documents: DataFrame, query: Seq[String] = Bm25SeedQuery,
      topk: Int = 20): DataFrame =
    bm25Rank(termFrequencies(documents).filter($"term".isin(query: _*)),
      docLengths(documents), topk)

  /** Shared BM25 ranking core: identical expressions whether `tf`/`dl`
    * come from a live corpus scan (q79, q138's expanded query) or from
    * tombstoned index rows (q163, `Governance.erasureBm25`); the score
    * column is `score`.
    */
  private[operators] def bm25Rank(tf: DataFrame, dl: DataFrame, topk: Int,
      score: String = "bm25"): DataFrame = {
    val k1 = 1.2 // term-frequency saturation
    val b = 0.75 // length normalization
    val stats = dl.agg(count(lit(1)).as("n"), avg($"dl").as("avgdl"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select($"doc_id",
        (log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1) * $"tf" * lit(k1 + 1) /
          ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / $"avgdl"))).as("s"))
      .groupBy($"doc_id")
      .agg(round(sum($"s"), 4).as(score))
      .orderBy(col(score).desc, $"doc_id")
      .limit(topk)
  }

  /** Pseudo-relevance feedback (Rocchio-style query expansion): run the
    * seed query, take the top-`fbDocs` documents' top-`fbTerms` salient
    * terms (q67's exact tf-idf scores), add them to the query, and
    * re-rank the corpus under the EXPANDED term set — the classic
    * recall-widening second pass of a lexical retrieval stack (finds
    * docs that discuss the topic in the feedback docs' vocabulary
    * without containing the literal seed terms).
    *
    * Shape: the seed pass is q79's query-proportional plan; feedback
    * terms come from the (fbDocs·fbTerms)-row restriction of the index's
    * `tfidfWeights`; the expanded term set (a ≤|Q|+fbDocs·fbTerms-row
    * frame) broadcast-semi-joins `termFrequencies`, so the re-score pass
    * stays expanded-query-proportional. Same rounding discipline as q79.
    */
  def prfExpandedRetrieval(documents: DataFrame): DataFrame = {
    val query = Bm25SeedQuery
    val fbDocs = 3
    val fbTerms = 2
    val spark = documents.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newStringEncoder}
    val seedTop = bm25TopDocs(documents, query, fbDocs)
      .select($"doc_id")
    // q67's exact per-doc scores, but RANKED only inside the fbDocs
    // feedback partitions — df/N stay corpus-wide (tf-idf's inherent
    // cost), while the corpus-wide salted rank q67 runs is skipped for
    // the (fbDocs)-partition restriction (ranks within a doc are
    // unaffected by dropping other docs' partitions)
    val fbW = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    val tfAll = termFrequencies(documents)
    val fb = tfidfWeights(documents, tfAll.join(broadcast(seedTop), Seq("doc_id"), "left_semi"))
      .withColumn("r", row_number().over(fbW))
      .filter($"r" <= fbTerms)
      .select($"term")
    val expanded = query.toDF("term").unionAll(fb).distinct()
    bm25Rank(tfAll.join(broadcast(expanded), Seq("term"), "left_semi"), docLengths(documents),
      10, "bm25x")
  }

  /** Document-length histogram: fixed-width bins over `n_chars` with doc
    * and token mass per bin — integer arithmetic only, one
    * map-side-combined aggregation over a scan projection.
    */
  def lengthHistogram(documents: DataFrame): DataFrame = {
    val width = 50
    documents
      .select((floor($"n_chars" / width) * width).cast("bigint").as("bin"),
        size(tokens($"text")).cast("bigint").as("nw"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("total_words"))
      .orderBy($"bin")
  }

  /** Distributed BPE merge training (Sennrich et al. 2016), BATCHED: learn
    * the first `nMerges` byte-pair merges from the corpus — the TOKENIZER-
    * TRAINING half of the token ops (q24 counts with a fixed scheme; this
    * derives the scheme). Symbols start as characters + `</w>`; each ROUND
    * counts adjacent symbol pairs weighted by word frequency, then accepts
    * a whole INDEPENDENT SET of merges at once: rank pairs by (count desc,
    * pair text); a pair is accepted iff NO higher-ranked pair shares a
    * symbol with it (then capped at the merges still needed, in rank
    * order). Accepted pairs are therefore pairwise symbol-DISJOINT, so
    * their rewrites touch disjoint symbol occurrences and one vocabulary
    * rewrite per round applies them all; the chain runs in rank order,
    * which is also the PINNED contract for the one corner where order
    * could matter (a round's merged output spelling an existing symbol
    * that a lower-ranked accepted pair consumes) — engine, oracle, and
    * the spec's reference trainer all apply rank order. Output: one row
    * per learned merge (rank, pair, merged, pair frequency at selection
    * time), ranks in (round, in-round rank) order.
    *
    * Batched-vs-sequential semantics: strictly-sequential BPE re-ranks
    * after EVERY merge, so a pair involving a just-created symbol can
    * preempt lower-ranked original pairs; the batch rule commits to the
    * round's snapshot ranking instead (and its independence test is
    * deliberately conservative — dominance by any higher-RANKED pair, not
    * just higher-ranked ACCEPTED pair — because that form is closed-form
    * computable on both engines with no sequential scan). The trade is the
    * scale one: O(rounds) driver synchronizations instead of O(vocab) —
    * a 30k-merge production vocabulary trains in a handful of Spark jobs
    * rather than 30k scheduling round-trips. The oracle replicates the
    * batch rule round-for-round (unrolled pessimistically at one merge
    * per round, the worst case).
    *
    * Shape: the corpus collapses to the vocabulary ONCE (the only
    * corpus-sized aggregation); every round then runs on the vocab
    * table — pair explode + map-side-combined weighted counts, the
    * independence anti-join on the symbol key (pair-table-proportional),
    * a ≤ nMerges-row collect (driver holds one BATCH per round, the
    * kmeans pattern), and a codegen'd chain of `replace` rewrites,
    * localCheckpointed so round plans stay flat.
    */
  def bpeMerges(documents: DataFrame, nMerges: Int = 5): DataFrame = {
    val spark = documents.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val mergeRows = SessionArtifacts.getOrBuild(
      BpeMergeTables, documents, nMerges)(trainBpeMerges(documents, nMerges))
    spark.createDataFrame(
      spark.sparkContext.parallelize(mergeRows.map {
        case (rk, p, m, c) => Row(rk, p, m, c) }, 1),
      StructType(Seq(StructField("rank", IntegerType, nullable = false),
        StructField("pair", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("freq", LongType, nullable = false))))
      .orderBy($"rank")
  }

  /** Session-scoped cache of trained BPE merge tables — the centroid-
    * cache pattern (r14): the table is nMerges DRIVER-side rows, but
    * TRAINING it is a multi-round loop of corpus-derived aggregations
    * with per-round checkpoints and collects, and q104 (the merge list)
    * and q105 (fertility, which re-encodes the vocabulary with the SAME
    * merges) used to each pay the full loop. Keyed by (session, corpus
    * plan, nMerges); holds no executor blocks.
    */
  private val BpeMergeTables = new SessionArtifacts.Kind[Seq[(Int, String, String, Long)]]

  private def trainBpeMerges(documents: DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var seqs = documents
      .select(explode(tokens($"text")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select($"freq", concat(regexp_replace($"w", "(.)", "$1 "), lit("</w>")).as("seq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val remaining = nMerges - merges.size
      val counts = seqs
        .select($"freq", tokens($"seq").as("ss"))
        // fully-merged single-symbol words contribute no pairs — and MUST
        // be filtered before the transform: Spark's sequence(1, 0) is the
        // DESCENDING [1, 0], so element_at(ss, 2) on a 1-symbol word is an
        // ANSI index error (latent until a 64-merge training run collapsed
        // a word; SURVEY §6.4, code at 56418f6)
        .filter(size($"ss") >= 2)
        .select($"freq", explode(expr(
          "transform(sequence(1, size(ss) - 1), i -> concat(element_at(ss, i), ' ', element_at(ss, i + 1)))")).as("p"))
        .groupBy($"p").agg(sum($"freq").as("c"))
        .localCheckpoint() // pair-table-sized; referenced 3x below
      // a pair's (distinct) symbols; the independence test keys on them
      val sym = counts.select($"p", $"c",
        explode(array_distinct(tokens($"p"))).as("s"))
      // dominated = shares a symbol with ANY strictly higher-ranked pair
      val dominated = sym.as("x")
        .join(sym.as("y"), col("x.s") === col("y.s") &&
          (col("y.c") > col("x.c") ||
            (col("y.c") === col("x.c") && col("y.p") < col("x.p"))))
        .select(col("x.p").as("p")).distinct()
      val accepted = counts.join(dominated, Seq("p"), "left_anti")
        .orderBy($"c".desc, $"p")
        .limit(remaining) // bounded collect: <= remaining <= nMerges rows
        .collect()
        .map(row => (row.getString(0), row.getLong(1)))
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.foreach { case (pair, cnt) =>
          merges += ((merges.size + 1, pair, pair.replace(" ", ""), cnt))
        }
        // literal replace Columns, not expr-string interpolation: a corpus
        // word containing a quote must not be able to break (or inject
        // into) the rewrite expression. Accepted pairs are symbol-disjoint,
        // so the chained single-pass rewrites commute — applied in rank
        // order for determinism anyway.
        seqs = seqs.select($"freq",
          accepted.foldLeft($"seq": Column) { case (sq, (pair, _)) =>
            trim(replace(concat(lit(" "), sq, lit(" ")),
              lit(s" $pair "), lit(s" ${pair.replace(" ", "")} ")))
          }.as("seq"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** Per-source quality-distribution drift vs the corpus baseline —
    * population stability index (PSI, the standard model-monitoring
    * drift statistic) over quality-score decile bins, add-one smoothed
    * on the corpus-wide bin set so empty cells stay finite. PSI ≈ 0
    * means a source's quality profile matches the corpus; the
    * conventional alert thresholds are 0.1 (drifting) / 0.25 (shifted).
    * This is the MONITORING op of the curation suite: run per
    * crawl/snapshot and alert before a drifted source pollutes the mix.
    *
    * Shape: one scored scan into (source × bin) counts (map-side
    * combined); every downstream relation — per-bin corpus counts,
    * per-source totals, the 1-row grand total, the densified
    * source×bin frame — is aggregate-sized (sources × deciles), so the
    * PSI arithmetic is broadcast-scale regardless of corpus size.
    * Determinism: counts are exact integers, divisions correctly
    * rounded IEEE; each bin's PSI term quantizes to integer micro-units
    * so the per-source sum is exact (order-independent), then one /1e6
    * + round(4).
    */
  def sourceDriftPsi(documents: DataFrame): DataFrame = {
    val binned = documents.select($"source",
      floor(qualityCol($"text") * 10).cast("long").as("bin"))
    val sb = binned.groupBy($"source", $"bin").agg(count(lit(1)).as("c_sb"))
    val cb = sb.groupBy($"bin").agg(sum($"c_sb").as("c_b"))
    val tot = cb.agg(sum($"c_b").as("n"), count(lit(1)).as("nb"))
    val st = sb.groupBy($"source").agg(sum($"c_sb").as("n_s"))
    val ps = ($"c_sb" + 1L) / ($"n_s" + $"nb")
    val pc = ($"c_b" + 1L) / ($"n" + $"nb")
    st.crossJoin(broadcast(cb))
      .crossJoin(broadcast(tot))
      .join(sb, Seq("source", "bin"), "left")
      .select($"source", $"n_s", coalesce($"c_sb", lit(0L)).as("c_sb"),
        $"c_b", $"n", $"nb")
      .select($"source", $"n_s",
        round((ps - pc) * log(ps / pc) * 1e6, 0).cast("long").as("t6"))
      .groupBy($"source")
      .agg(max($"n_s").as("n_docs"), round(sum($"t6") / 1e6, 4).as("psi"))
      .orderBy($"source")
  }

  /** Per-source document-length profile: exact p25/p50/p75/p95 of the
    * whitespace token count per source — the datasheet's length half,
    * each quantile from the BOUNDED-STATE histogram quantile (state =
    * one counter per distinct length per source, never per row; a
    * low-cardinality source column at 100 TB is exactly the shape that
    * melts a sort-based percentile). Four aggregations over one cached
    * projection, all map-side combined.
    */
  def lengthProfile(documents: DataFrame): DataFrame = {
    val lens = documents
      .select($"source", size(tokens($"text")).cast("double").as("nw"))
    // one histogram pass for the whole percentile panel (the per-p form
    // rescanned the corpus four times)
    val cuts = Scale.quantilePanel(lens, "source", "nw",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))
      .select($"source", round($"p25", 2).as("p25"), round($"p50", 2).as("p50"),
        round($"p75", 2).as("p75"), round($"p95", 2).as("p95"))
    lens.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(cuts, Seq("source"))
      .orderBy($"source")
  }

  /** Tokenizer APPLICATION + fertility report: encode the corpus with the
    * BPE merges learned by [[bpeMerges]] and report per-language token
    * mass and the two standard tokenizer-evaluation ratios — tokens/word
    * (fertility; lower = the vocabulary fits the language better) and
    * chars/token. This is the missing half of q104: training derives the
    * merge table, this applies it — together they are the full tokenizer
    * lifecycle an LLM data pipeline runs before token-budget accounting.
    *
    * Encoding applies each merge once, in rank order, with the exact
    * left-to-right non-overlapping `replace` rewrite the TRAINING loop
    * uses on the vocabulary — so a word encodes to precisely the symbol
    * sequence training would have produced for it, and the oracle (which
    * re-derives the merges with the same CTEs) agrees bit-for-bit.
    *
    * Shape: the merge table is driver-held (nMerges rows — the kmeans
    * centroid pattern); the corpus collapses ONCE to the (lang × word)
    * frequency table, encoding runs per VOCAB row as a codegen'd chain of
    * `replace` literals (never per token instance), and the final
    * aggregate is map-side combined over lang. All ratios are one IEEE
    * division of exact integer sums, rounded once.
    */
  def bpeFertility(documents: DataFrame): DataFrame = {
    val nMerges = 5
    val merges = bpeMerges(documents, nMerges).orderBy($"rank")
      .select($"pair", $"merged").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = documents
      .select($"lang", explode(tokens($"text")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"lang", $"w").agg(count(lit(1)).as("freq"))
    // chars + </w>, space-separated, then one single-pass rewrite per merge
    // (literal `replace` Columns — no SQL-string interpolation of corpus-
    // derived text)
    val encoded = merges.foldLeft(
        concat(regexp_replace($"w", "(.)", "$1 "), lit("</w>"))) {
      case (seq, (pair, merged)) =>
        trim(replace(concat(lit(" "), seq, lit(" ")), lit(s" $pair "), lit(s" $merged ")))
    }
    vocab
      .select($"lang", $"freq", length($"w").cast("long").as("chars"),
        size(tokens(encoded)).cast("long").as("toks"))
      .groupBy($"lang")
      .agg(
        sum($"freq").as("n_words"),
        sum($"freq" * $"toks").as("n_tokens"),
        round(sum($"freq" * $"toks") / sum($"freq"), 4).as("tokens_per_word"),
        round(sum($"freq" * $"chars") / sum($"freq" * $"toks"), 4).as("chars_per_token"))
      .orderBy($"lang")
  }

  /** Bigram-LM surprisal scoring (the CCNet-style perplexity quality
    * signal): train an add-one-smoothed bigram language model on the
    * corpus itself, score every document by its mean surprisal
    * -log2 P(w_i | w_{i-1}) in bits/token, and return the `topk` most
    * surprising documents — the statistical-outlier half of a quality
    * stack (q21's heuristics catch structural junk; this catches text
    * whose WORD SEQUENCES don't look like the corpus).
    *
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), V = corpus vocabulary size.
    *
    * Determinism: each bigram's surprisal quantizes to integer micro-bits
    * (round(·×1e6) — the PSI trick), so per-doc sums are exact integer
    * arithmetic, order-free; one final division + round(4). Cross-engine
    * log2 agrees to well under half a micro-bit.
    *
    * Shape: one explode into per-doc bigram multiplicities; the corpus
    * bigram count c(w1,w2) and context count c(w1·) attach as WINDOW sums
    * over that same frame — `sum(k) over (partition by w1, w2)` and
    * `sum(k) over (partition by w1)` are exactly the totals the previous
    * groupBy-then-join-back computed (those inner joins were total: every
    * bd key exists in its own rollup), so the corpus is exploded once for
    * the model+scoring chain instead of once per table, and the two join
    * exchanges collapse into the window exchanges — token-proportional,
    * the inherent cost of LM scoring (the hashed-feature alternative is
    * q98's DSIR). V is a 1-row broadcast off its own vocabulary pass.
    */
  def bigramSurprisal(documents: DataFrame): DataFrame = {
    val topk = 30
    val toks = documents.select($"doc_id", tokens($"text").as("ts"))
    val bd = toks
      .filter(size($"ts") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("k"))
    val vocab = toks.select(explode($"ts").as("w")).agg(countDistinct($"w").as("v"))
    import org.apache.spark.sql.expressions.Window
    bd
      .withColumn("cb", sum($"k").over(Window.partitionBy($"w1", $"w2")))
      .withColumn("cu", sum($"k").over(Window.partitionBy($"w1")))
      .crossJoin(broadcast(vocab))
      .select($"doc_id", $"k",
        round(-log2(($"cb" + lit(1.0)) / ($"cu" + $"v")) * 1e6, 0).cast("long").as("u6"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_bigrams"), sum($"k" * $"u6").as("units"))
      .select($"doc_id", $"n_bigrams",
        round($"units" / $"n_bigrams" / 1e6, 4).as("bits_per_token"))
      .orderBy($"bits_per_token".desc, $"doc_id")
      .limit(topk)
  }

  /** TextRank keyword extraction (q190): PageRank over the token
    * CO-OCCURRENCE graph — nodes are corpus tokens above a frequency
    * floor, undirected edges weighted by adjacent-bigram count, rank
    * flows proportionally to edge weight (Mihalcea & Tarau 2004). Where
    * q65/q67 rank tokens by frequency and tf-idf mass, TextRank ranks by
    * graph CENTRALITY: a token that co-occurs with many well-connected
    * tokens outranks a merely frequent one — the corpus-level keyword
    * list a dataset card quotes.
    *
    * Same integer micro-unit discipline as q151's PageRank (seed
    * `1e6 div N`, teleport `0.15e6 div N`, d = 17/20), with the WEIGHTED
    * contribution `(rank·w) div wdeg` per edge — floor division per
    * term, so values are bit-identical across engines and aggregation
    * orders; the oracle unrolls the same arithmetic. (Long bound:
    * rank_m ≤ 10⁶, so terms stay exact while a single edge's bigram
    * count < 2⁴³ ≈ 8×10¹² — beyond any real co-occurrence count.)
    *
    * Scale shape: one bigram explode (token-proportional, map-side
    * combined into the distinct-pair frame), frequency-floor semi-joins,
    * then `iters` × (one edge⋈rank join + one groupBy) over
    * edge-proportional rows — rank state fully distributed, the only
    * scalar is the node count; `minCount` is the vocabulary dial that
    * bounds the graph at web scale. Final top-k is TakeOrderedAndProject.
    */
  def textrankKeywords(documents: DataFrame): DataFrame = {
    val minCount = 5L
    val iters = 4
    val toks = documents.select(tokens($"text").as("ts"))
    val cooc = toks.filter(size($"ts") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")).as("bg"))
      .select($"bg.w1".as("w1"), $"bg.w2".as("w2"))
      .filter($"w1" =!= $"w2")
      .select(least($"w1", $"w2").as("a"), greatest($"w1", $"w2").as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
    val keep = documents.select(explode(tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .filter($"c" >= minCount).select($"tok")
    val kept = cooc
      .join(keep.select($"tok".as("a")), Seq("a"), "left_semi")
      .join(keep.select($"tok".as("b")), Seq("b"), "left_semi")
    // Materialize the edge table ONCE (r14, guide §2.4/§5): edges feed
    // wdeg, the node-count scalar, and every one of the `iters` scatter
    // joins — without the checkpoint the final DAG re-derives the whole
    // bigram explode + floor semi-joins per consumer (exchange reuse
    // does not cover the union's two deduplicated branches). Edge- and
    // node-proportional frames, the same Lloyd-rule bound as q151.
    val edges = kept.select($"a".as("src"), $"b".as("dst"), $"w")
      .unionAll(kept.select($"b".as("src"), $"a".as("dst"), $"w"))
      .localCheckpoint()
    val wdeg = edges.groupBy($"src".as("node")).agg(sum($"w").as("wdeg"))
      .localCheckpoint()
    val nNodes = wdeg.count() // 1-row scalar, as in neardupPagerank
    val r0 = if (nNodes == 0) 0L else 1000000L / nNodes
    val base = if (nNodes == 0) 0L else 150000L / nNodes
    var ranks = wdeg.select($"node", $"wdeg", lit(r0).as("rank_m"))
    for (_ <- 1 to iters) {
      val contrib = ranks.select($"node".as("src"), $"rank_m", $"wdeg".as("swdeg"))
      val inSum = edges.join(contrib, Seq("src"))
        .groupBy($"dst".as("node"))
        .agg(sum(expr("(rank_m * w) div swdeg")).as("s"))
      ranks = wdeg.join(inSum, Seq("node"))
        .select($"node", $"wdeg",
          (lit(base) + expr("(17 * s) div 20")).as("rank_m"))
    }
    ranks
      .select($"node".as("token"), $"wdeg", $"rank_m".as("rank_micro"))
      .orderBy($"rank_micro".desc, $"token")
      .limit(20)
  }

  /** Exact positional phrase search (q196): which documents contain the
    * literal word sequence `phrase`, and how often — the POSITIONAL
    * postings consumer that completes the IR stack (q79/BM25 ranks by
    * bag-of-words; a phrase query is the operation bag-of-words cannot
    * answer). The postings frame (doc, position, token) is the
    * positional twin of the persisted BM25 index's term postings; the
    * phrase match is the classic intersect-on-adjacent-positions plan:
    * anchor on the first word, then one semi-join per remaining word at
    * position anchor+i.
    *
    * Scale shape: each join's inputs are pruned to ONE term's postings
    * before shuffling (term-selectivity-proportional, the inverted-index
    * contract — never corpus-proportional after the postings build), and
    * the semi-join chain keeps only anchor positions, so intermediate
    * width never grows with phrase length. Counts are exact integers.
    */
  def phraseSearch(documents: DataFrame, phrase: String = "big order scan"): DataFrame = {
    val words = phrase.split(" ")
    require(words.length >= 2, s"phraseSearch wants a multi-word phrase, got '$phrase'")
    val post = documents
      .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
    var anchors = post.filter($"tok" === words(0)).select($"doc_id", $"pos")
    for (i <- 1 until words.length)
      anchors = anchors.join(
        post.filter($"tok" === words(i)).select($"doc_id", ($"pos" - i).as("pos")),
        Seq("doc_id", "pos"), "left_semi")
    anchors
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .select($"doc_id", lit(phrase).as("phrase"), $"n_occurrences")
      .orderBy($"doc_id")
  }

  /** Held-out bigram LM evaluation (q198): train the add-one-smoothed
    * bigram model on the md5-even half of the corpus, score the md5-odd
    * half, and report per language the held-out bits/token and the
    * unseen-bigram rate. Where q106 scores the corpus on ITSELF (an
    * outlier detector), this is the LM EVAL harness — the train/test
    * protocol that says whether the model generalizes, and the number a
    * tokenizer/LM iteration loop actually tracks. P(w2|w1) =
    * (c(w1,w2)+1)/(c(w1·)+V) with zero counts for unseen pairs AND
    * unseen contexts (the add-one floor 1/(0+V) prices a cold context).
    *
    * Same determinism discipline as q106: each bigram's surprisal
    * quantizes to integer micro-bits, per-language sums are exact
    * integer arithmetic, two boundary divisions round at 4/6.
    *
    * Shape: both halves come from ONE bigram explode of the corpus
    * (filtered by the md5 coin either way); train tables aggregate
    * map-side; the scoring joins shuffle on the bigram/context keys —
    * token-proportional, q106's inherent LM-scoring cost; V is a 1-row
    * broadcast.
    */
  def heldOutPerplexity(documents: DataFrame): DataFrame = {
    val coin = Scale.md5SlicePos($"doc_id", 0, 2)
    val toks = documents
      .select($"doc_id", $"lang", (coin === 0L).as("is_train"), tokens($"text").as("ts"))
    val bd = toks
      .filter(size($"ts") >= 2)
      .select($"doc_id", $"lang", $"is_train", explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")).as("b"))
      .select($"doc_id", $"lang", $"is_train", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val cb = bd.filter($"is_train").groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val cu = cb.groupBy($"w1").agg(sum($"cb").as("cu"))
    val vocab = toks.filter($"is_train")
      .select(explode($"ts").as("w")).agg(countDistinct($"w").as("v"))
    bd.filter(!$"is_train")
      .groupBy($"lang", $"w1", $"w2").agg(count(lit(1)).as("k"))
      .join(cb, Seq("w1", "w2"), "left_outer")
      .join(cu, Seq("w1"), "left_outer")
      .crossJoin(broadcast(vocab))
      .select($"lang", $"k",
        (coalesce($"cb", lit(0L)) === 0L).as("unseen"),
        round(-log2((coalesce($"cb", lit(0L)) + lit(1.0)) /
          (coalesce($"cu", lit(0L)) + $"v")) * 1e6, 0).cast("long").as("u6"))
      .groupBy($"lang")
      .agg(
        sum($"k").as("n_bigrams"),
        sum($"k" * $"u6").as("units"),
        sum(when($"unseen", $"k").otherwise(0L)).as("n_unseen"))
      .select($"lang", $"n_bigrams",
        round($"units" / $"n_bigrams" / 1e6, 4).as("bits_per_token"),
        round($"n_unseen" / $"n_bigrams", 6).as("unseen_rate"))
      .orderBy($"lang")
  }

  /** Language-ID evaluation harness: confusion matrix of the q22
    * classifier against the `lang` ground-truth column, with each cell's
    * share of its truth-language row — the EVALUATION op that belongs
    * beside every heuristic classifier in a curation stack (q63 plays
    * the same role for ANN recall). Aggregate-sized after one scored
    * scan: the matrix is |langs|² rows, so the share window is
    * broadcast-scale regardless of corpus size.
    */
  def langIdConfusion(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(documents)
      .groupBy($"lang", $"lang_guess").agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round($"n_docs" / sum($"n_docs").over(Window.partitionBy($"lang")), 4))
      .orderBy($"lang", $"lang_guess")
  }

  /** EXACT φ-heavy hitters (all tokens with count > n/(k+1)) via the
    * two-pass Misra-Gries candidate scheme — the fixed-memory answer to
    * "which tokens dominate the corpus" when the vocabulary itself is too
    * large to rank (q65's TakeOrdered top-k still shuffles every distinct
    * token; this never ships more than k counters anywhere).
    *
    * Pass 1: `Aggregators.MisraGries` (mergeable-summaries form) runs as
    * a map-side-combined object agg — at most k counters per partition,
    * one k-sized summary to the driver. The MG guarantee (undercount
    * <= n/(k+1) under ANY merge tree) makes the summary a SUPERSET of
    * every true heavy hitter, so pass 2 — an exact count of candidate
    * tokens only, `isInCollection` over <= k strings (a codegen'd hash
    * set, no join, no extra shuffle beyond <= k keys) — returns exactly
    * the heavy set with exact counts. Driver state is k counters (the
    * Lloyd/BPE bounded-collect pattern); both passes are corpus-linear.
    */
  def heavyHitters(documents: DataFrame, k: Int = 49): DataFrame = {
    val toks = documents.select(explode(tokens($"text")).as("token"))
    val mgAgg = udaf(new graft.functions.Aggregators.MisraGries(k))
    val row = toks.agg(mgAgg($"token").as("mg"))
      .select($"mg.n", $"mg.toks").head()
    val nTotal = row.getLong(0)
    val cand = row.getSeq[String](1)
    toks.filter(if (cand.isEmpty) lit(false) else $"token".isInCollection(cand))
      .groupBy($"token").agg(count(lit(1)).as("n_tok"))
      .filter($"n_tok" * (k + 1) > nTotal)
      .select($"token", $"n_tok", lit(nTotal).as("n_total"))
      .orderBy($"n_tok".desc, $"token")
  }

  /** Per-GROUP exact heavy hitters — q154's two-pass Misra-Gries scheme
    * run per source (the production shape: heavy hitters per domain /
    * language / crawl snapshot, all groups in one job). Pass 1 is ONE
    * grouped aggregation (k counters per source, groups×k rows to the
    * driver — still the bounded-collect pattern); pass 2 recounts only
    * the collected (source, token) candidates via a broadcast semi-join
    * and applies each source's own n/(k+1) threshold. Same superset
    * guarantee per group, fixed memory per group at any vocabulary size.
    */
  def heavyHittersBySource(documents: DataFrame, k: Int = 49): DataFrame = {
    val spark = documents.sparkSession
    // null-safe joins (<=>) so a null-source group survives pass 2: the
    // grouped pass 1 collects NULL as its own group (SQL GROUP BY
    // semantics), and a plain equi-join would then silently drop every
    // one of its heavy hitters. <=> keys still plan as hash equi-joins.
    val toks = documents.select($"source", explode(tokens($"text")).as("token"))
    val mgAgg = udaf(new graft.functions.Aggregators.MisraGries(k))
    val sums = toks.groupBy($"source").agg(mgAgg($"token").as("mg"))
      .select($"source", $"mg.n".as("n_total"), $"mg.toks".as("cand"))
      .collect()
    val nTotals = spark.createDataFrame(
      sums.toSeq.map(r => (r.getString(0), r.getLong(1)))).toDF("source", "n_total")
    val cands = spark.createDataFrame(
      sums.toSeq.flatMap(r => r.getSeq[String](2).map(t => (r.getString(0), t))))
      .toDF("source", "token")
    val counted = toks.join(broadcast(cands),
        toks("source") <=> cands("source") && toks("token") === cands("token"),
        "left_semi")
      .groupBy($"source", $"token").agg(count(lit(1)).as("n_tok"))
    counted.join(broadcast(nTotals), counted("source") <=> nTotals("source"))
      .filter($"n_tok" * (k + 1) > $"n_total")
      .select(counted("source"), $"token", $"n_tok", $"n_total")
      .orderBy(counted("source"), $"n_tok".desc, $"token")
  }

  /** Zipf-slope fit over the frequency head: rank the top `n` tokens by
    * count, regress ln(count) on ln(rank) by least squares, and report
    * the slope — natural language sits near −1; a flatter head flags
    * templated/synthetic text and a steeper one a stopword-drowned
    * crawl. The corpus-health single number next to q156's growth curve.
    *
    * Determinism: ln() is quantized to 1e-6 micro-units PER TERM before
    * any sum (the q67/q90 convention — float sums over reduction orders
    * are not associative; integer sums are), all four regression moments
    * are exact long arithmetic (head of 100: |x6·y6| ≲ 8e13, moment sums
    * far inside long range), and the single division happens once at the
    * end, rounded to 4. The rank window runs over the n-row TakeOrdered
    * head, never the vocabulary.
    */
  def zipfFit(documents: DataFrame): DataFrame = {
    val n = 100
    import org.apache.spark.sql.expressions.Window
    val ranked = tokenTopK(documents, n)
      .withColumn("rank", row_number().over(Window.orderBy($"n".desc, $"token")).cast("long"))
    val m = ranked.select($"n", $"rank",
      round(log($"rank") * 1e6, 0).cast("long").as("x6"),
      round(log($"n") * 1e6, 0).cast("long").as("y6"))
    m.agg(
        count(lit(1)).as("n_terms"),
        sum($"x6").as("sx"), sum($"y6").as("sy"),
        sum($"x6" * $"y6").as("sxy"), sum($"x6" * $"x6").as("sxx"),
        max($"n").as("top1_n"), sum($"n").as("head_mass"))
      .select($"n_terms",
        round(($"n_terms" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"n_terms" * $"sxx" - $"sx" * $"sx"), 4).as("slope"),
        $"top1_n", $"head_mass")
  }

  /** Vocabulary-growth (Heaps' law) profile: the corpus in doc_id order
    * cut into `buckets` deciles, with each decile's doc/token mass, the
    * number of token TYPES first seen there, and the cumulative
    * vocabulary — the curve that says whether a corpus is still
    * contributing new vocabulary or re-treading itself (flat tail =
    * diminishing returns for tokenizer training and dedup alike).
    *
    * "First seen" is min(doc_id) per token — one map-side-combined agg
    * over the exploded tokens, no ordering anywhere; deciles come from
    * integer arithmetic against the broadcast 1-row max-id frame (dense
    * fixture ids make these exact tenths; sparse ids would still be a
    * deterministic monotone bucketing). The only window runs over the
    * `buckets`-row aggregate frame — driver-scale by construction.
    */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    val buckets = 10
    import org.apache.spark.sql.expressions.Window
    val n = documents.agg((max($"doc_id") + 1).as("n"))
    val toks = documents.select($"doc_id", explode(tokens($"text")).as("token"))
    def decile(id: String): Column =
      least(lit(buckets - 1L), expr(s"$id * $buckets div n"))
    val newTypes = toks.groupBy($"token").agg(min($"doc_id").as("fd"))
      .crossJoin(broadcast(n))
      .groupBy(decile("fd").as("decile"))
      .agg(count(lit(1)).as("n_new_types"))
    val docMass = documents.crossJoin(broadcast(n))
      .groupBy(decile("doc_id").as("decile"))
      .agg(count(lit(1)).as("n_docs"))
    val tokMass = toks.crossJoin(broadcast(n))
      .groupBy(decile("doc_id").as("decile"))
      .agg(count(lit(1)).as("n_tokens"))
    docMass
      .join(tokMass, Seq("decile"), "left")
      .join(newTypes, Seq("decile"), "left")
      .select($"decile", $"n_docs",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_new_types", lit(0L)).as("n_new_types"))
      .withColumn("vocab_cum", sum($"n_new_types").over(Window.orderBy($"decile")))
      .orderBy($"decile")
  }

  // ---- lexical Jensen–Shannon drift panel (q280) -----------------------------

  /** Per-source Jensen–Shannon divergence between the source's token
    * distribution and the POOLED REST (q280; Lin 1991) — LEXICAL drift,
    * the vocabulary-level complement to q102's quality-bin PSI and
    * q254's length-ECDF KS: two sources can match on length and quality
    * and still speak different words. JSD is symmetric and bounded in
    * [0, 1] bits (comparable across sources, unlike KL).
    *
    * The scale trick: the source×vocabulary grid is NEVER zero-filled.
    * For a token OUTSIDE the source's support, p = 0 and m = q/2, so
    * its JSD contribution collapses to q/2 exactly — and Σ of those q's
    * is 1 − Σ_{support} q, a CLOSED FORM from the support rows alone
    * (exact integers: ((n−ns) − Σ(ct−c)) / (n−ns)). So the joined frame
    * is support-bounded (rows the source actually has), the tail is one
    * subtraction, and nothing grows with |vocabulary| × |sources|.
    * In-support terms micro-quantize before the per-source sum; a
    * source-exclusive token's q-term is 0 by the 0·log0 convention;
    * a source that IS the whole corpus has no complement (jsd NULL,
    * the q254 pin).
    */
  def lexicalJsDivergence(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = documents
      .select($"source", explode(tokens($"text")).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
    val tk = st.groupBy($"token").agg(sum($"c").as("ct"))
    val tot = tk.agg(sum($"ct").as("n"))
    val joined = st.join(tk, Seq("token")).crossJoin(broadcast(tot))
      .withColumn("ns",
        sum($"c").over(Window.partitionBy($"source")))
    val p = $"c".cast("double") / $"ns"
    val q = ($"ct" - $"c").cast("double") / ($"n" - $"ns")
    val m = (p + q) / lit(2.0)
    val tp = p * log2(p / m)
    val tq = when($"ct" - $"c" > 0L, q * log2(q / m)).otherwise(lit(0.0))
    val perSrc = joined
      .withColumn("t6", when($"n" - $"ns" > 0L,
        round((tp + tq) * lit(1000000.0), 0).cast("long")).otherwise(0L))
      .groupBy($"source")
      .agg(max($"ns").as("n_tokens"), max($"n").as("n"),
        sum($"t6").as("sum6"), sum($"ct" - $"c").as("rest_sup"))
    val qOut = (($"n" - $"n_tokens") - $"rest_sup").cast("double") /
      ($"n" - $"n_tokens")
    perSrc.select($"source", $"n_tokens",
        when($"n" - $"n_tokens" > 0L,
          round(lit(0.5) * ($"sum6".cast("double") / lit(1000000.0))
            + lit(0.5) * qOut, 6)).as("jsd_bits"),
        when($"n" - $"n_tokens" > 0L, round(qOut, 6)).as("unshared_rest_mass"))
      .orderBy($"source")
  }

  // ---- interpolated Kneser–Ney held-out eval (q269) -------------------------

  /** Interpolated Kneser–Ney bigram evaluation on the q198 held-out
    * split (q269; Kneser & Ney 1995; Chen & Goodman 1999's empirical
    * case): P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁) + D·N₁₊(w₁·)/c(w₁) ·
    * P_cont(w₂), with the CONTINUATION unigram P_cont(w₂) =
    * (N₁₊(·w₂)+1)/(N₁₊(··)+V) — "how many contexts does w₂ follow",
    * not "how often does w₂ occur" (the insight that makes KN the
    * strong n-gram baseline: 'Francisco' is frequent but follows one
    * context). The +1/+V add-one on the continuation distribution
    * keeps an unseen-in-train w₂ finite; an unseen w₁ backs off to
    * P_cont alone. D = 0.75 (the Chen–Goodman stock discount).
    * Beside q198's add-one eval this is the ablation a tokenizer/LM
    * pipeline actually runs: same split, same test bigrams, better
    * smoothing — bits/token drop is the evidence.
    *
    * Shape: identical to q198 — one bigram explode, THREE aggregate
    * frames (bigram counts, left-context totals + distinct-right
    * fanouts, continuation counts) equi-joined onto the held-out
    * bigram groups; per-group −log₂p micro-quantized before the
    * per-lang sum. Everything after the explode is vocabulary-bounded.
    */
  def kneserNeyEval(documents: DataFrame): DataFrame = {
    val discount = 0.75
    val coin = Scale.md5SlicePos($"doc_id", 0, 2)
    val toks = documents
      .select($"doc_id", $"lang", (coin === 0L).as("is_train"),
        tokens($"text").as("ts"))
    val bd = toks
      .filter(size($"ts") >= 2)
      .select($"doc_id", $"lang", $"is_train", explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")).as("b"))
      .select($"doc_id", $"lang", $"is_train", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val train = bd.filter($"is_train")
    val cb = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    // left-context totals + distinct-right fanout N1+(w1, ·) in one pass
    val cu = cb.groupBy($"w1")
      .agg(sum($"cb").as("cu"), count(lit(1)).as("n1w1"))
    // continuation counts N1+(·, w2) and the global distinct-bigram mass
    val cont = cb.groupBy($"w2").agg(count(lit(1)).as("n1w2"))
    val glob = cb.agg(count(lit(1)).as("nb"))
    val vocab = toks.filter($"is_train")
      .select(explode($"ts").as("w")).agg(countDistinct($"w").as("v"))
    val d = lit(discount)
    val pc = (coalesce($"n1w2", lit(0L)) + lit(1.0)) / ($"nb" + $"v")
    val pKn = when($"cu".isNotNull,
      greatest($"cb_f" - d, lit(0.0)) / $"cu"
        + d * $"n1w1" / $"cu" * pc)
      .otherwise(pc)
    bd.filter(!$"is_train")
      .groupBy($"lang", $"w1", $"w2").agg(count(lit(1)).as("k"))
      .join(cb, Seq("w1", "w2"), "left_outer")
      .join(cu, Seq("w1"), "left_outer")
      .join(cont, Seq("w2"), "left_outer") // vocab-sized: shuffle join
      .crossJoin(broadcast(glob)).crossJoin(broadcast(vocab))
      .withColumn("cb_f", coalesce($"cb", lit(0L)).cast("double"))
      .select($"lang", $"k",
        $"cu".isNull.as("backoff"),
        round(-log2(pKn) * 1e6, 0).cast("long").as("u6"))
      .groupBy($"lang")
      .agg(
        sum($"k").as("n_bigrams"),
        sum($"k" * $"u6").as("units"),
        sum(when($"backoff", $"k").otherwise(0L)).as("n_backoff"))
      .select($"lang", $"n_bigrams",
        round($"units" / $"n_bigrams" / 1e6, 4).as("bits_per_token"),
        round($"n_backoff" / $"n_bigrams", 6).as("backoff_rate"))
      .orderBy($"lang")
  }

  // ---- unseen-mass estimation: Chao1 + Good–Turing (q265) ------------------

  /** Per-source unseen-vocabulary estimation: Chao1 species richness
    * (Chao 1984, the bias-corrected f₁(f₁−1)/(2(f₂+1)) form, defined
    * even with no doubletons) and the Good–Turing unseen-probability
    * mass f₁/N — "how much vocabulary has this source NOT shown yet",
    * the question behind q156's Heaps curve asked as a point estimate:
    * q156 extrapolates growth from observed deciles, Chao1 bounds the
    * asymptote from the singleton/doubleton ratio alone. For a training
    * pipeline this prices continued crawling of a source (a high
    * GT mass means the next batch still carries new types) and flags
    * template corpora (f₁ ≈ 0 → the vocabulary is exhausted).
    *
    * One corpus scan into (source, token) counts (the q24 single-space
    * split convention), one rollup to the frequency-of-frequencies
    * sketch per source — everything after the token count is
    * frequency-domain-bounded. All statistics are exact integers; the
    * two estimates are the only doubles, rendered once.
    */
  def unseenMass(documents: DataFrame): DataFrame = {
    val tokCounts = documents
      .select($"source", explode(tokens($"text")).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
    tokCounts.groupBy($"source").agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when($"c" === 2L, 1L).otherwise(0L)).as("f2"))
      .select($"source", $"n_tokens", $"vocab", $"f1", $"f2",
        round($"vocab" + $"f1".cast("double") * ($"f1" - 1L)
          / (lit(2.0) * ($"f2" + 1L)), 2).as("chao1"),
        round($"f1".cast("double") / $"n_tokens", 6).as("gt_unseen_mass"))
      .orderBy($"source")
  }

  /** Token burstiness panel (q297; Church & Gale 1995): the dispersion
    * index var/mean of each frequent token's PER-DOCUMENT count —
    * function words arrive ≈ Poisson (dispersion ≈ 1 at natural rates,
    * 0 when exactly once per doc), content words BURST (a doc that
    * mentions a topic mentions it repeatedly, dispersion ≫ 1).
    * Burstiness is what tf-idf's df term cannot see (two tokens with
    * the same df can differ 10× in burst), and the standard evidence
    * for topical vs grammatical vocabulary — the per-token complement
    * of q260's per-user event dispersion.
    *
    * Zero-count documents enter through the algebra (they add 0 to
    * both exact moments while N counts them — the q260 device):
    * dispersion = (S₂ − S₁²/N)/S₁ renders once per token from exact
    * longs. Output = the `topN` most bursty tokens with df ≥ `minDf`
    * (rare tokens' dispersion is noise), ordered by (rounded
    * dispersion desc, token) — a total order both engines sort. Shape:
    * the `termFrequencies` index without its empty token, then a
    * vocabulary-bounded frame.
    */
  def tokenBurstiness(documents: DataFrame, minDf: Long = 50L): DataFrame = {
    val topN = 25
    val n = documents.agg(count(lit(1)).as("n"))
    val byTok = termFrequencies(documents)
      .filter(length($"term") > 0)
      .groupBy($"term".as("token")).agg(
        count(lit(1)).as("df"), sum($"tf").as("s1"),
        sum($"tf" * $"tf").as("s2"))
    val disp = ($"s2".cast("double") -
      $"s1".cast("double") * $"s1".cast("double") / $"n") / $"s1"
    byTok.filter($"df" >= minDf).crossJoin(broadcast(n))
      .select($"token", $"df", $"s1".as("total_count"),
        round(disp, 4).as("dispersion"))
      .orderBy($"dispersion".desc, $"token")
      .limit(topN)
  }
}
