package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the training-data pipeline (SURVEY.md §2.2
  * ➕): benchmark decontamination, repetition-based quality signals, and
  * source-mixture rebalancing — the steps that sit between dedup and
  * tokenization in a real 100 TB curation run.
  *
  * All formulas are exact integer counts and deterministic double ratios
  * (rounded to 6 decimals), so the DuckDB oracles reproduce every row
  * bit-for-bit.
  */
object Curation {

  /** Word n-grams of `text` (whitespace tokens joined with single spaces),
    * with multiplicity. Empty array when the document has fewer than `n`
    * words — the explicit branch matters because Spark's `sequence(1, 0)`
    * DESCENDS and ANSI-mode `element_at` past the end throws.
    *
    * This is the compositional REFERENCE form, kept as the spec oracle for
    * the native `word_grams` expression the operators actually run: the
    * HOF lambdas here never enter WholeStageCodegen, and each
    * `element_at(split(...))` re-evaluates the split per gram — an
    * interpreter/GC tax that made the curation queries the slowest
    * non-LSH queries in the bench (q60 ~20 s vs ~2 s native at sf0.1).
    */
  def wordGrams(text: Column, n: Int): Column = {
    val ws = TextAnalysis.tokens(text)
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark decontamination: flag corpus documents whose distinct word
    * `n`-gram sets overlap a benchmark/eval set (here: `doc_id <
    * nBenchmark`) above `threshold` — the standard guard against test-set
    * leakage into training data.
    *
    * Scale design: the benchmark side is the published eval suites — tiny
    * relative to the corpus and explicitly `broadcast` — so the contaminated-
    * gram probe is a broadcast hash join against the corpus's exploded
    * grams (no shuffle of the big side); the only shuffle is the per-doc
    * count aggregation over the matching grams, which is
    * benchmark-proportional, not corpus-proportional. At 100 TB the same
    * plan holds: corpus scan → broadcast probe → near-empty aggregate.
    */
  def decontaminate(documents: DataFrame): DataFrame = {
    val nBenchmark = 50L
    val n = 3
    val threshold = 0.5
    import graft.functions.TextFunctions.word_grams
    val bench = documents.filter($"doc_id" < nBenchmark)
      .select(explode(word_grams($"text", n, distinct = true)).as("g"))
      .distinct()
    documents.filter($"doc_id" >= nBenchmark)
      .select($"doc_id", word_grams($"text", n, distinct = true).as("gs"))
      .select($"doc_id", size($"gs").cast("long").as("n_grams"), explode($"gs").as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy($"doc_id", $"n_grams")
      .agg(count(lit(1)).as("n_contaminated"))
      .select($"doc_id", $"n_grams", $"n_contaminated",
        round($"n_contaminated" / $"n_grams", 6).as("contamination"))
      .filter($"contamination" >= threshold)
      .orderBy($"doc_id")
  }

  /** Per-document repetition signals (the Gopher/MassiveText-style quality
    * rules): fraction of all word 2-grams claimed by the single most
    * frequent one, duplicate fraction of word 2-grams, and duplicate
    * fraction of word 3-grams. High values mark boilerplate / TEMPLATE spam
    * that survives exact dedup because of small edits.
    *
    * Shape: ZERO shuffles. The statistics are per-document-local, so each
    * is computed inside the scan projection by the native one-pass
    * `word_ngram_stats` expression (n_grams / n_distinct / max_count per
    * width). The previous explode → groupBy(doc, gram) → re-aggregate form
    * shuffled a corpus×grams row set to compute a quantity every row can
    * answer for itself — the native form is embarrassingly parallel, which
    * is the right shape for a 100 TB quality-filter pass.
    *
    * Documents with fewer than 3 words (no 3-grams) are dropped, matching
    * the oracle's inner join of the per-width stats.
    */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.word_ngram_stats
    documents
      // >= 3 tokens <=> at least one 3-gram (hence also a 2-gram): the
      // cheap token-count predicate keeps filter pushdown from duplicating
      // the stats expressions into the Filter node
      .filter(size(TextAnalysis.tokens($"text")) >= 3)
      .select($"doc_id",
        word_ngram_stats($"text", 2).as("s2"),
        word_ngram_stats($"text", 3).as("s3"))
      .select($"doc_id",
        round($"s2.max_count" / $"s2.n_grams", 6).as("top_2gram_frac"),
        round(($"s2.n_grams" - $"s2.n_distinct") / $"s2.n_grams", 6).as("dup_2gram_frac"),
        round(($"s3.n_grams" - $"s3.n_distinct") / $"s3.n_grams", 6).as("dup_3gram_frac"))
      .orderBy($"doc_id")
  }

  /** Source-mixture rebalancing: per (lang, source) stratum, its document
    * and token mass, its share of the corpus, and the sampling weight that
    * would draw a uniform-over-strata mixture — the bookkeeping behind
    * "upsample the small domains" mixing policies.
    *
    * Shape: one corpus scan → groupBy(lang, source) with map-side combine;
    * the corpus-wide totals come from an unpartitioned window over the
    * AGGREGATED frame (rows = stratum count, not corpus size), so no second
    * scan and no driver round-trip.
    */
  def mixtureWeights(documents: DataFrame): DataFrame = {
    val groups = documents
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens($"text")).cast("long")).as("tokens"))
    val w = Window.partitionBy() // bounded by stratum count, not corpus rows
    groups
      .select($"lang", $"source", $"n_docs", $"tokens",
        sum($"tokens").over(w).as("total_tokens"),
        count(lit(1)).over(w).as("n_strata"))
      .select($"lang", $"source", $"n_docs", $"tokens",
        round($"tokens" / $"total_tokens", 6).as("token_share"),
        round($"total_tokens" / ($"n_strata" * $"tokens"), 6).as("uniform_weight"))
      .orderBy($"lang", $"source")
  }

  /** The end-to-end curation capstone: per-language quality-decile cut
    * (q71's rule) → near-dup survivor selection among the KEPT docs
    * (q53's connected components over q27's LSH pairs) → per-language
    * document and token mass of the final training set. One registered
    * query exercising the composed pipeline exactly as a user would chain
    * it — every stage is the already-verified scalable operator, and the
    * oracle recomposes the same stages in SQL (percentile cut, all-pairs
    * Jaccard restricted to kept docs, recursive-CTE components).
    */
  def curationPipeline(documents: DataFrame): DataFrame = {
    val scored = documents
      .select($"doc_id", $"lang", $"source", $"text",
        TextAnalysis.qualityCol($"text").as("quality"))
    // bounded-state histogram quantile (see TextAnalysis.qualityFilter) —
    // bit-identical to the sort-based percentile it replaces
    val cuts = Scale.exactQuantileByGroup(
      scored.select($"lang", $"quality"), "lang", "quality", 0.1)
    val kept = scored
      .join(broadcast(cuts), Seq("lang"))
      .filter($"quality" >= $"cut")
      .select($"doc_id", $"lang", $"text")
      // consumed three times below (pair restriction, survivor anti-join,
      // final report) — materialize the quality pass once
      .localCheckpoint()
    // Near-dup pairs of the kept subset = the corpus pair INDEX restricted
    // to kept endpoints — an exact identity (every pair-pipeline stage is
    // per-pair-local; see Dedup.restrictPairs), so the capstone reuses the
    // session's materialized index instead of re-running banding +
    // verification over the kept corpus, exactly as a production curation
    // run reuses its persisted dedup index across pipeline revisions.
    val keptPairs = Dedup.restrictPairs(Dedup.pairIndex(documents), kept)
    val dropped = Dedup.survivorsOverPairs(keptPairs)
      .filter(!$"survives")
      .select($"doc_id")
    kept
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens($"text")).cast("long")).as("tokens"))
      .orderBy($"lang")
  }

  /** PII / denylist redaction report — the pre-release scrub every
    * published training corpus runs. Three structural PII patterns
    * (emails, phone numbers, SSN-shaped ids; regexes valid in both Java
    * and RE2 dialects) plus a term denylist (`customer`, `vector`) counted with
    * exact padded-marker integer arithmetic. One codegen'd projection +
    * one map-side-combined aggregation per corpus scan — embarrassingly
    * parallel, the right shape for a 100 TB scrub pass.
    *
    * The fixtures contain no structural PII (the oracle verifies the
    * zeros); CurationSpec plants emails/phones/SSNs and denylist terms
    * to prove the counting.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val SsnRe   = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  def piiCountCol(text: Column): Column =
    regexp_count(lower(text), lit(EmailRe)) +
      regexp_count(lower(text), lit(PhoneRe)) +
      regexp_count(lower(text), lit(SsnRe))

  def redactionReport(documents: DataFrame): DataFrame = {
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    val denyHits =
      Seq("customer", "vector").map(t => TextAnalysis.occurrences(padded, s" $t ")).reduce(_ + _)
    documents
      .select($"source", piiCountCol($"text").as("pii"), denyHits.as("deny"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"pii" > 0, 1L).otherwise(0L)).as("docs_with_pii"),
        sum($"pii").cast("long").as("pii_hits"),
        sum($"deny").cast("long").as("deny_hits"))
      .orderBy($"source")
  }

  /** Cross-document duplicate n-gram mass (the RefinedWeb/Gopher-style
    * corpus-duplication metric, distinct from q61's WITHIN-document
    * repetition): the fraction of all word n-gram occurrences whose gram
    * appears in more than one document — high values mean boilerplate
    * shared across pages that per-document signals cannot see.
    *
    * Shape: native `word_grams` explode → per-gram (occurrences, distinct
    * docs) aggregation — the same vocabulary-keyed map-side-combined
    * shuffle as tf-idf's document frequency, linear in gram occurrences —
    * then a 1-row fold. No pairwise comparisons anywhere.
    */
  def dupGramMass(documents: DataFrame): DataFrame = {
    val n = 3
    import graft.functions.TextFunctions.word_grams
    documents
      .filter(size(TextAnalysis.tokens($"text")) >= n)
      .select($"doc_id", explode(word_grams($"text", n)).as("g"))
      .groupBy($"g")
      .agg(count(lit(1)).as("occ"), countDistinct($"doc_id").as("n_docs"))
      .groupBy()
      .agg(sum($"occ").as("n_gram_occurrences"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when($"n_docs" > 1, $"occ").otherwise(0L)).as("dup_occurrences"))
      .select($"n_gram_occurrences", $"n_distinct_grams", $"dup_occurrences",
        round($"dup_occurrences" / $"n_gram_occurrences", 6).as("dup_fraction"))
  }

  /** Materialize the temperature mixture: turn `temperatureMixture`'s
    * alpha=0.5 language weights into an ACTUAL deterministic sample at
    * `targetFraction` of the corpus' token mass — the step that produces
    * the training mix rather than just reporting it. Per language,
    * keep-probability p = min(1, target·total_tokens·w_lang / tokens_lang)
    * (head languages are downsampled, tail languages approach keep-all);
    * a document survives iff its md5-derived uniform (the exact
    * 13-hex-digit fraction, the q54 trick — replayable by any engine, no
    * rand()) falls below its language's p. Output: per-language kept
    * docs/tokens and the applied p.
    *
    * Shape: one aggregated language table (broadcast, language-count
    * rows) joined onto one corpus scan — embarrassingly parallel,
    * deterministic, and stable under re-runs: the same doc set is drawn
    * every time, which is what makes a training mix reproducible.
    */
  def materializeMixture(documents: DataFrame): DataFrame = {
    val targetFraction = 0.5
    val w = Window.partitionBy() // language-count rows only
    val langStats = documents
      .groupBy($"lang")
      .agg(sum(size(TextAnalysis.tokens($"text")).cast("long")).as("tokens"))
      .select($"lang", $"tokens", sum($"tokens").over(w).as("total_tokens"),
        ($"tokens" / sum($"tokens").over(w)).as("share"))
      .select($"lang", $"tokens", $"total_tokens", sqrt($"share").as("pa"))
      .select($"lang", $"tokens", $"total_tokens", ($"pa" / sum($"pa").over(w)).as("wgt"))
      .select($"lang",
        least(lit(1.0),
          lit(targetFraction) * $"total_tokens" * $"wgt" / $"tokens").as("p_keep"))
    val u = Scale.hexFraction(md5($"doc_id".cast("string")))
    documents
      .select($"doc_id", $"lang",
        size(TextAnalysis.tokens($"text")).cast("long").as("tok"), u.as("u"))
      .join(broadcast(langStats), Seq("lang"))
      .filter($"u" < $"p_keep")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs_kept"), sum($"tok").as("tokens_kept"),
        round(min($"p_keep"), 6).as("p_keep"))
      .orderBy($"lang")
  }

  /** K-anonymity audit over quasi-identifier cells: per (lang, source)
    * cell, its size and whether it meets the anonymity threshold — the
    * pre-publication check that no demographic slice of a released corpus
    * is small enough to identify contributors. One map-side-combined
    * aggregation; cells, not rows, leave the reducers.
    */
  def kAnonymityReport(documents: DataFrame): DataFrame =
    documents
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"))
      .select($"lang", $"source", $"n_docs", ($"n_docs" >= 10L).as("k_anonymous"))
      .orderBy($"lang", $"source")

  /** Exact duplicated-SPAN detection: per document, the maximal token
    * spans covered by a word `k`-gram that occurs at least twice in the
    * corpus (within- or cross-document) — the k-gram approximation of
    * exact-substring training-data dedup (Lee et al. 2022's ≥50-token
    * rule; a full suffix array is the exact form, this fingerprint form
    * is the standard distributed approximation). Where `dupGramMass`
    * (q89) reports one corpus-level ratio, this localizes WHERE the
    * duplicated text sits, so a downstream pass can cut spans instead of
    * whole documents. Output: per affected doc, span count, duplicated
    * token mass, and the duplicated fraction.
    *
    * Shape, all corpus-linear: native `word_grams` positional explode →
    * per-gram occurrence counts (map-side-combined, the q89 shuffle) →
    * occurrence-proportional join back to positions → per-DOC
    * gaps-and-islands windows (state bounded by document length: the
    * running `max(pos + k - 1)` merges overlapping/adjacent gram
    * intervals into maximal spans). No pairwise document comparison
    * anywhere; at 100 TB the gram-count table is the only large shuffle
    * and a Bloom prefilter (q72's primitive) slots in front of the
    * position join unchanged.
    */
  def duplicatedSpans(documents: DataFrame): DataFrame = {
    val k = 8
    dupSpanIslands(documents, k)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"), sum($"e" - $"s" + 1L).as("dup_tokens"))
      .join(documents.select($"doc_id",
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens")), Seq("doc_id"))
      .select($"doc_id", $"n_spans", $"dup_tokens", $"n_tokens",
        round($"dup_tokens" / $"n_tokens", 6).as("dup_fraction"))
      .orderBy($"doc_id")
  }

  /** The maximal duplicated-span intervals behind `duplicatedSpans` /
    * `cutDuplicatedSpans`: `(doc_id, island, s, e)` with token interval
    * `[s, e]` inclusive. See `duplicatedSpans` for the scale shape.
    */
  private def dupSpanIslands(documents: DataFrame, k: Int): DataFrame = {
    import graft.functions.TextFunctions.word_grams
    // Materialized once (lazily — construction runs nothing): the gram
    // explode feeds BOTH the occurrence-count aggregate and the position
    // probe below, and without the checkpoint each consumer re-runs the
    // corpus scan + explode + md5. Token-proportional rows (the Lloyd
    // bound does not apply, but the same mass already flows through both
    // shuffles); the skew-unsafe alternative — counting occurrences with
    // a window over h — was A/B'd faster at sf0.1 but puts every copy of
    // a hot duplicated gram in one partition, which is exactly the key
    // distribution this operator hunts, so the agg + join form stays.
    val grams = documents
      .filter(size(TextAnalysis.tokens($"text")) >= k)
      .select($"doc_id", posexplode(word_grams($"text", k)))
      .select($"doc_id", $"pos", md5($"col").as("h"))
      .localCheckpoint(eager = false)
    val dup = grams.groupBy($"h").agg(count(lit(1)).as("occ")).filter($"occ" >= 2)
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    grams
      .join(dup.select($"h"), Seq("h"))
      .select($"doc_id", $"pos")
      .withColumn("prev_end",
        max($"pos" + (k - 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1L).otherwise(0L)).over(w))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").cast("long").as("s"), (max($"pos") + (k - 1)).cast("long").as("e"))
  }

  /** Apply the q97 span map: rebuild every document with its duplicated
    * spans REMOVED — the aggressive (cut-all-copies) form of
    * exact-substring dedup, the right tool for boilerplate whose every
    * occurrence should go. (A keep-one-copy policy needs a global keeper
    * choice; at document granularity that selection exists as
    * `Dedup.nearDupSurvivors`/q53.) Output: per doc, original and kept
    * token counts plus an md5 checksum of the retained text — the
    * verifiable contract of the cleaned corpus.
    *
    * Shape: islands explode to covered positions (`sequence(s, e)` — at
    * most one row per token, islands are disjoint), tokens drop covered
    * positions by LEFT ANTI equi-join on `(doc_id, pos)` (no range join,
    * no per-doc state), and the retained text reassembles with an
    * order-insensitive `array_sort(collect_list(struct(pos, tok)))` —
    * deterministic under any partitioning.
    */
  def cutDuplicatedSpans(documents: DataFrame): DataFrame = {
    val covered = dupSpanIslands(documents, 8)
      .select($"doc_id", explode(sequence($"s", $"e")).as("pos"))
    val kept = documents
      .select($"doc_id", posexplode(TextAnalysis.tokens($"text")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct($"pos", $"tok"))),
            x => x.getField("tok")))).as("kept_checksum"))
    documents
      .select($"doc_id", size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"),
        coalesce($"kept_checksum", md5(lit(""))).as("kept_checksum"))
      .orderBy($"doc_id")
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the log-likelihood ratio of a TARGET unigram distribution (here: the
    * `targetLang` slice, a stand-in for a curated target domain) over the
    * raw-corpus distribution, on HASHED features — `buckets` md5-slice
    * bins (the q72 Bloom hash family), add-one smoothed. High scores =
    * most target-like documents; the top-`topk` is the selected batch.
    * Complements the mixture ops: q62/q69/q92 weight LANGUAGES, this
    * scores each DOCUMENT by content.
    *
    * Shape: one token explode feeds (a) per-bucket target/corpus counts —
    * a `buckets`-row aggregate (map-side-combined; the bucket table and
    * the 1-row totals are broadcast back, the scalar-broadcast pattern) —
    * and (b) per-(doc, bucket) counts; the score is a
    * bucket-table-joined weighted sum, top-k via TakeOrderedAndProject.
    * Determinism: the smoothed ratio is composed of exact integer
    * operands through correctly-rounded IEEE divisions; `ln` is the one
    * transcendental and is QUANTIZED to integer micro-units
    * (round(ln·10⁶)), so the per-doc weighted sum is exact integer
    * arithmetic — order-independent under any partitioning, where a
    * float sum over up to `buckets` terms can land either side of a
    * rounding boundary depending on reduction order. One final division
    * back to units + round(4); ranking is on the rounded score then
    * doc_id.
    */
  def dsirImportance(documents: DataFrame): DataFrame = {
    val targetLang = "en"
    val buckets = 1024
    val topk = 50
    val toks = documents
      .select($"doc_id", $"lang", explode(TextAnalysis.tokens($"text")).as("tok"))
      .select($"doc_id", $"lang", Scale.md5SlicePos($"tok", 0, buckets).as("b"))
    val bucketStats = toks
      .groupBy($"b")
      .agg(sum(when($"lang" === targetLang, 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cs"))
    val totals = bucketStats.agg(sum($"ct").as("nt"), sum($"cs").as("ns"))
    val ratios = bucketStats
      .crossJoin(broadcast(totals))
      .select($"b", round(
        log((($"ct" + 1L) / ($"nt" + buckets)) / (($"cs" + 1L) / ($"ns" + buckets))) * 1e6,
        0).cast("long").as("r6"))
    toks
      .groupBy($"doc_id", $"lang", $"b")
      .agg(count(lit(1)).as("c"))
      .join(broadcast(ratios), Seq("b"))
      .groupBy($"doc_id", $"lang")
      .agg(round(sum($"c" * $"r6") / 1e6, 4).as("logratio"))
      .orderBy($"logratio".desc, $"doc_id")
      .limit(topk)
  }

  /** Corpus snapshot diff: classify every document across two dataset
    * versions as added / removed / changed / unchanged and report doc and
    * token mass per class — the dataset-versioning primitive behind
    * "what moved between crawl N and crawl N+1" (the table-format
    * change-feed computed directly, no transaction log required).
    *
    * Shape: each side projects down to `(doc_id, md5(text), n_tokens)`
    * BEFORE the join, so the full outer shuffles two signature tables —
    * never document bodies — then one aggregation over the 4-class
    * frame. Token mass is the NEW side's where it exists (added/changed/
    * unchanged) and the OLD side's for removals.
    */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def sig(df: DataFrame, pfx: String) = df.select(
      $"doc_id",
      md5($"text").as(s"${pfx}_sum"),
      size(TextAnalysis.tokens($"text")).cast("long").as(s"${pfx}_toks"))
    sig(oldSnap, "old")
      .join(sig(newSnap, "new"), Seq("doc_id"), "full_outer")
      .select(
        when($"old_sum".isNull, "added")
          .when($"new_sum".isNull, "removed")
          .when($"old_sum" =!= $"new_sum", "changed")
          .otherwise("unchanged").as("status"),
        coalesce($"new_toks", $"old_toks").as("n_tokens"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .orderBy($"status")
  }

  /** Temperature-smoothed language mixture (the multilingual-pretraining
    * sampling rule, alpha = 0.5): per language, sampling weight
    * proportional to token_share^alpha, renormalized. Flattens the
    * head-language dominance without going fully uniform.
    *
    * Same one-scan shape as `mixtureWeights`: per-lang token mass with
    * map-side combine, then windows over the AGGREGATED frame (rows =
    * language count). alpha is fixed at 1/2 so the smoothing is `sqrt` —
    * correctly rounded in IEEE 754, hence bit-reproducible across engines
    * (a general `pow` is not).
    */
  def temperatureMixture(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy() // bounded by language count
    documents
      .groupBy($"lang")
      .agg(sum(size(TextAnalysis.tokens($"text")).cast("long")).as("tokens"))
      // exact integer share denominator; smoothing on the raw double share
      .select($"lang", $"tokens", ($"tokens" / sum($"tokens").over(w)).as("share"))
      .select($"lang", $"tokens", $"share", sqrt($"share").as("pa"))
      .select($"lang", $"tokens",
        round($"share", 6).as("token_share"),
        round($"pa" / sum($"pa").over(w), 6).as("sample_weight"))
      .orderBy($"lang")
  }

  /** Sampling-schedule planning: turn the q69 temperature mixture into the
    * concrete per-language numbers a training run is configured with — the
    * token budget each language receives and the EPOCH factor (budget ÷
    * available tokens; > 1 means the language's data repeats, the
    * low-resource upsampling the temperature mixture exists to produce).
    * Pure arithmetic over the aggregate (per-language) frame, so cost is
    * one corpus scan regardless of budget.
    *
    * Determinism: target_tokens = round(budget × the ROUNDED-6 weight)
    * (exact — an integer-valued double at budget ≤ 1e9); epochs is one
    * division of exact integers, rounded once.
    */
  def epochPlan(documents: DataFrame): DataFrame =
    temperatureMixture(documents)
      .select($"lang", $"tokens", $"sample_weight",
        round($"sample_weight" * 1000000L, 0).cast("long").as("target_tokens"))
      .select($"lang", $"tokens", $"sample_weight", $"target_tokens",
        round($"target_tokens" / $"tokens", 4).as("epochs"))
      .orderBy($"lang")

  /** Poisson-bootstrap confidence intervals for per-language mean quality
    * — uncertainty quantification for corpus metrics, the way it is
    * actually done distributed: classic bootstrap resampling (n draws
    * with replacement) needs global coordination per replica, so each
    * row instead gets an independent Poisson(1) weight per replica
    * (Poisson bootstrap; E[weight] = 1 reproduces the multinomial
    * resample in distribution) and every replica is just a weighted
    * aggregation — embarrassingly parallel, one exploded scan.
    *
    * Determinism: the replica-b weight for a doc comes from the exact
    * 13-hex md5 fraction of `doc_id:b` (the q54/q92 trick) pushed
    * through the Poisson(1) inverse CDF as LITERAL cumulative thresholds
    * (identical decimal text in both engines → identical doubles; the
    * md5 fraction is a sum of powers of two, exact everywhere). Means
    * divide exact long sums in the same left-associated expression both
    * sides. Replicas that draw zero total weight (possible for tiny
    * groups) are dropped before the min/max, and n_replicas reports how
    * many survived.
    *
    * Shape: ONE projected scan exploded ×`replicas` (weights are
    * computed inline — nothing is materialized per replica), a
    * (lang × replicas)-state map-side-combined aggregation, a
    * lang-sized min/max rollup, and a broadcast join with the per-lang
    * corpus stats. Report: corpus mean, bootstrap envelope [lo, hi].
    */
  def bootstrapCi(documents: DataFrame): DataFrame = {
    val replicas = 16
    val perDoc = documents.select($"doc_id", $"lang",
      round(TextAnalysis.qualityCol($"text") * 1e4, 0).cast("long").as("qm"))
    val u = Scale.hexFraction(md5(concat($"doc_id".cast("string"), lit(":"),
      $"b".cast("string"))))
    val w = when($"u" < 0.36787944117144233, 0L)
      .when($"u" < 0.7357588823428847, 1L)
      .when($"u" < 0.9196986029286058, 2L)
      .when($"u" < 0.9810118431238462, 3L)
      .when($"u" < 0.9963401531726563, 4L)
      .when($"u" < 0.9994058151824183, 5L)
      .otherwise(6L)
    val reps = perDoc
      .withColumn("b", explode(sequence(lit(0), lit(replicas - 1))))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy($"lang", $"b")
      .agg(sum($"w").as("sw"), sum($"w" * $"qm").as("swq"))
      .filter($"sw" > 0L)
      .select($"lang", round($"swq" / $"sw" / 10000.0, 6).as("rep_mean"))
    val boot = reps.groupBy($"lang")
      .agg(min($"rep_mean").as("boot_lo"), max($"rep_mean").as("boot_hi"),
        count(lit(1)).as("n_replicas"))
    val stats = perDoc.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"qm") / count(lit(1)) / 10000.0, 6).as("mean_q"))
    stats.join(boot, Seq("lang"))
      .select($"lang", $"n_docs", $"mean_q", $"boot_lo", $"boot_hi", $"n_replicas")
      .orderBy($"lang")
  }

  /** Greedy vocabulary SET COVER — the coverage-selection twin of the
    * facility-location operator (q174): pick `nSel` documents that
    * together cover the most DISTINCT vocabulary, one greedy argmax at
    * a time (the classic Nemhauser (1−1/e) greedy on a coverage
    * function, universe = token types instead of coreset cells). A
    * seed-set builder for vocabulary-complete subcorpora: tokenizer
    * training sets, language-coverage probes, evaluation seeds.
    *
    * Shape per round (×nSel): one BROADCAST anti-join of the (doc, tok)
    * type table against the covered set — covered is the union of the
    * ≤ nSel already-picked documents' distinct grams (per-doc-bounded,
    * NOT vocabulary-proportional: only winners' types enter it), derived
    * per round as a filter over the checkpointed type table — then a
    * map-side-combined per-doc count and a 1-row argmax collect. The
    * (doc, tok) table is built once and checkpointed; no other
    * materialization per round.
    *
    * Determinism: counts are integers; ties break to the smaller
    * doc_id on both engines. covered_total is exact by disjointness —
    * each round adds exactly `new_tokens` previously-uncovered types.
    */
  def setCoverSelect(documents: DataFrame): DataFrame = {
    val nSel = 5
    val spark0 = documents.sparkSession
    // universe = distinct word `gram`-grams (the fixture's unigram
    // vocabulary is 31 types — one doc covers it; bigrams give the
    // coverage function room to discriminate)
    // Checkpointed PRE-PARTITIONED by doc_id (r14): the raw explode
    // inherits the scan's layout (one partition on a small fixture —
    // the AQE-blindness guard, see Dedup.bandBuckets), which would make
    // every greedy round's probe scan serial; hashing by doc_id both
    // spreads the rounds across cores and lets each round's
    // groupBy(doc_id) reuse the partitioning instead of re-exchanging.
    // r14 (guide §4.1): the type table is built with the NATIVE
    // codegen'd word_grams(distinct = true) — the compositional
    // array_distinct(wordGrams(...)) HOF form this used to run was the
    // actual wall of the whole operator (measured 4.8–5.5 s of the
    // ~5.5 s total at sf0.1; the five greedy rounds cost ~0.3 s each).
    // Same values by the word_grams == compositional-form spec law.
    val parts = documents.sparkSession.sparkContext.defaultParallelism * 2
    val toks = documents
      // compact doc rows spread BEFORE the per-row gram loop (the
      // bandBuckets AQE-blindness guard); doc_id hashing also lets each
      // round's groupBy(doc_id) reuse the partitioning
      .repartition(parts, $"doc_id")
      .select($"doc_id",
        explode(graft.functions.TextFunctions.word_grams(
          $"text", 2, distinct = true)).as("tok"))
      .localCheckpoint() // scanned once per greedy round
    // r14 (guide §2.4/§3.1): the covered set is NOT vocabulary-sized —
    // it is the union of the ≤ nSel PICKED documents' distinct grams, a
    // per-doc-bounded frame. Deriving it per round as a filter over the
    // checkpointed type table (instead of the old unionAll + distinct +
    // localCheckpoint rebuild) removes nSel materialization jobs and
    // nSel distinct shuffles, and broadcasting it turns the per-round
    // anti-join from a full shuffle of the corpus type table into a
    // broadcast probe — the per-round cost drops to one map-side-
    // combined aggregation over uncovered rows. The anti-join needs no
    // distinct on the probe side (duplicates across picked docs cannot
    // change anti-join semantics). nSel × max-doc-gram-count bounds the
    // broadcast; a corpus of GB-sized single documents would dial this
    // back to the shuffle plan by dropping the hint.
    var picked = List.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var total = 0L
    for (r <- 1 to nSel) {
      val covered = toks.filter($"doc_id".isin(picked: _*)).select($"tok")
      val pick = toks.join(broadcast(covered), Seq("tok"), "left_anti")
        .groupBy($"doc_id").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"doc_id").limit(1)
        .collect() // 1-row argmax — the only driver touch per round
      if (pick.nonEmpty) {
        val (docId, n) = (pick(0).getLong(0), pick(0).getLong(1))
        total += n
        out += ((r, docId, n, total))
        picked ::= docId
      }
    }
    spark0.createDataFrame(out.toSeq)
      .toDF("round", "doc_id", "new_tokens", "covered_total")
      .orderBy($"round")
  }

  /** Pareto frontier (skyline) over (quality ↑, token cost ↓): documents
    * no other document beats on both axes — the best-value-per-token
    * candidates a budget-constrained curation pass examines first, and
    * the classic multi-objective selection operator (skyline).
    *
    * Dominance is the standard strict-on-one-axis rule: j dominates i
    * iff q_j ≥ q_i ∧ t_j ≤ t_i ∧ (q_j > q_i ∨ t_j < t_i); exact
    * duplicates on both axes don't dominate each other and all stay on
    * the frontier.
    *
    * NOT the pairwise formulation: for two objectives the skyline is a
    * running-min identity — a (quality, minToks) group survives iff its
    * minToks is strictly below the min over all STRICTLY higher quality
    * groups — so the plan is one map-side-combined (quality → min toks)
    * aggregation, a window over the DISTINCT-QUALITY frame (bounded by
    * the rounded-to-4 quality domain — ≤ 2·10⁴ rows at any corpus size,
    * the `exactQuantileByGroup` bounded-state argument), and one
    * broadcast join of the surviving (quality, tmin) pairs back onto the
    * scan. No self-join, no corpus-row window, nothing pairwise — the
    * oracle deliberately states the INDEPENDENT NOT EXISTS dominance
    * form, so the gate proves the identity, not the implementation.
    */
  def paretoFrontier(documents: DataFrame): DataFrame = {
    val s = documents.select($"doc_id",
      TextAnalysis.qualityCol($"text").as("quality"),
      size(TextAnalysis.tokens($"text")).cast("long").as("toks"))
    val groups = s.groupBy($"quality").agg(min($"toks").as("tmin"))
    val wPrev = Window.orderBy($"quality".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierQ = groups
      .withColumn("prevmin", min($"tmin").over(wPrev))
      .filter($"prevmin".isNull || $"tmin" < $"prevmin")
      .select($"quality", $"tmin")
    s.join(broadcast(frontierQ), Seq("quality"))
      .filter($"toks" === $"tmin")
      .select($"doc_id", $"quality", $"toks")
      .orderBy($"quality".desc, $"doc_id")
  }

  /** Water-filling token-budget allocation across sources: give every
    * source an equal share of the global budget, except that no source
    * can absorb more than its capacity (its token mass) — capacity freed
    * by small sources flows to the rest. The standard fair-allocation
    * rule for mixture construction when q62/q69 proportional weights
    * would starve small sources.
    *
    * Exact INTEGER water-filling (provably, with ties → source asc):
    * order sources by capacity ascending; at position j (of m, inclusive
    * prefix p_j), the provisional share is s_j = (B − p_{j−1}) div
    * (m−j+1), and j is CAPPED iff c_j ≤ s_j. Once a source is uncapped
    * every later one is too (s never increases past an uncapped row and
    * capacities ascend), so the capped set is a prefix; the water level
    * is L = (B − ΣcappedCap) div u with rem extras of one token going to
    * the first rem uncapped sources — which satisfies L + 1 ≤ c_j for
    * every uncapped j, and Σ allocations = B exactly (= Σ capacities
    * when the budget covers everything and u = 0). Pure integer div/mod
    * — bit-identical across engines by construction.
    *
    * Shape: capacities are ONE map-side-combined corpus aggregation; all
    * windows run over the source-count-sized frame (the q69 convention —
    * never over corpus rows), and the three scalars ride a broadcast
    * 1-row cross join.
    */
  def budgetWaterFill(documents: DataFrame, budgetTokens: Long = 24000L): DataFrame = {
    val caps = documents.groupBy($"source")
      .agg(sum(size(TextAnalysis.tokens($"text")).cast("long")).as("capacity"))
    val w = Window.orderBy($"capacity", $"source")
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = caps
      .withColumn("j", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("p", sum($"capacity").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("share",
        expr(s"($budgetTokens - (p - capacity)) div (m - j + 1)"))
      .withColumn("capped", $"capacity" <= $"share")
    val scalars = ranked.agg(
      sum(when($"capped", $"capacity").otherwise(0L)).as("c_capped"),
      sum(when($"capped", 1L).otherwise(0L)).as("n_capped"),
      count(lit(1)).as("m2"))
    ranked
      .crossJoin(broadcast(scalars))
      .withColumn("u", $"m2" - $"n_capped")
      .withColumn("lvl", expr(s"CASE WHEN u > 0 THEN ($budgetTokens - c_capped) div u ELSE 0 END"))
      .withColumn("rem", expr(s"CASE WHEN u > 0 THEN ($budgetTokens - c_capped) % u ELSE 0 END"))
      .withColumn("ru", $"j" - $"n_capped") // uncapped rank: capped set is a prefix
      .withColumn("allocation",
        when($"capped", $"capacity")
          .when($"ru" <= $"rem", $"lvl" + 1L)
          .otherwise($"lvl"))
      .select($"source", $"capacity", $"allocation", $"capped")
      .orderBy($"source")
  }

  /** Token-budget curation cut at the QUALITY frontier: walk documents in
    * (quality desc, doc_id) order and keep the prefix whose running token
    * mass stays within `budgetTokens` — "spend the training budget on the
    * best documents first", the document-grain selection rule that q112's
    * per-language epoch plan allocates in aggregate. Prefix-cut
    * semantics: the first document that would overflow the budget (and
    * everything after it) is out.
    *
    * The running sum is a `Scale.rangePrefixSums` over the selection
    * order: no global window, no driver fold, and partition-count
    * invariant (spec'd). Quality is the shared rounded-to-4 q21 score,
    * so the order and the cut are engine-exact.
    */
  def budgetSelect(documents: DataFrame, budgetTokens: Long = 10000L,
      parts: Int = 32): DataFrame = {
    val scored = documents
      .select($"doc_id", TextAnalysis.qualityCol($"text").as("quality"),
        size(TextAnalysis.tokens($"text")).cast("long").as("toks"))
    Scale.rangePrefixSums(scored, Seq($"quality".desc, $"doc_id"), Seq("toks"), parts)
      .filter($"cum_toks" <= budgetTokens)
      .select($"doc_id", $"quality", $"toks", $"cum_toks")
      .orderBy($"cum_toks")
  }

  /** Deterministic weighted interleave — the DATA-LOADER ORDER for the
    * q69/q112 mixture: stride scheduling, where the rn-th document of a
    * language (in deterministic md5 order) is emitted at position
    * rn / weight, so languages interleave proportionally to their sample
    * weights from the very first batch (no long single-language runs).
    * Returns the first `topk` schedule rows.
    *
    * Shape: pos = rn/weight >= rn (weights <= 1), so only each language's
    * first `topk` documents can reach the global prefix — the corpus
    * prunes through the salted two-stage `Scale.topKPerGroup` (no
    * per-language reducer funnel) BEFORE the exact rank window, which
    * then runs over a langs×topk-bounded frame; the final order is a
    * TakeOrderedAndProject, never a global sort.
    */
  def interleaveSchedule(documents: DataFrame): DataFrame = {
    val topk = 50
    val weights = temperatureMixture(documents).select($"lang", $"sample_weight")
    val pruned = Scale.topKPerGroup(
      documents.select($"doc_id", $"lang"),
      group = $"lang", rankKey = md5($"doc_id".cast("string")), tie = $"doc_id",
      saltSource = $"doc_id", k = topk)
    val w = Window.partitionBy($"lang").orderBy(md5($"doc_id".cast("string")), $"doc_id")
    pruned
      .withColumn("rn", row_number().over(w).cast("int"))
      .join(broadcast(weights), Seq("lang"))
      .select($"doc_id", $"lang", $"rn",
        round($"rn" / $"sample_weight", 4).as("pos"))
      .orderBy($"pos", $"doc_id")
      .limit(topk)
  }

  /** Corpus datasheet: the per-(lang × source) summary table a dataset
    * card publishes — document/token mass, exact-integer-unit mean
    * quality, and each cell's share of corpus tokens. One scored scan
    * into a map-side-combined aggregate; the share window runs over the
    * aggregate-sized (langs × sources) frame, so everything after the
    * scan is broadcast-scale at any corpus size.
    */
  def corpusDatasheet(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy() // langs x sources rows
    documents
      .select($"lang", $"source",
        size(TextAnalysis.tokens($"text")).cast("long").as("nw"),
        round(TextAnalysis.qualityCol($"text") * 10000, 0).cast("long").as("q4"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("n_tokens"), sum($"q4").as("q4s"))
      .select($"lang", $"source", $"n_docs", $"n_tokens",
        round($"q4s" / $"n_docs" / 1e4, 4).as("avg_quality"),
        round($"n_tokens" / sum($"n_tokens").over(w), 6).as("token_share"))
      .orderBy($"lang", $"source")
  }

  /** Incremental datasheet maintenance: merge the PERSISTED-SHAPE partial
    * stats of a corpus version with a delta batch's partials and emit the
    * same report `corpusDatasheet` would produce over the union — WITHOUT
    * touching the old corpus. At 100 TB a dataset card is never
    * recomputed from scratch; the maintainable contract is that every
    * published statistic decomposes into mergeable partials (counts,
    * token sums, integer quality-unit sums) plus finishers applied at
    * read time (the mean division, the share window). The REGISTERED
    * gate states exactly that law cross-engine: the Spark side merges
    * stratum partials of the two slices, while the DuckDB oracle is
    * q111's full recompute over the union — hash equality proves
    * merge-then-finish == recompute-from-scratch.
    *
    * Shape: one scored scan per slice into (lang, source)-sized partial
    * frames (in production the base partials are a persisted table and
    * only the delta is scanned), a union + re-aggregation over strata
    * rows, and the aggregate-frame share window.
    */
  def incrementalDatasheet(base: DataFrame, delta: DataFrame): DataFrame =
    finishDatasheet(datasheetPartials(base).unionAll(datasheetPartials(delta)))

  /** The persisted-SHAPE stratum partials behind the datasheet: exact
    * integer accumulators only (doc count, token sum, quality in 1e-4
    * units), so any grouping of slices merges by addition with no
    * precision drift — the decomposition `incrementalDatasheet`'s
    * scaladoc states as the maintainability contract.
    */
  def datasheetPartials(documents: DataFrame): DataFrame = documents
    .select($"lang", $"source",
      size(TextAnalysis.tokens($"text")).cast("long").as("nw"),
      round(TextAnalysis.qualityCol($"text") * 10000, 0).cast("long").as("q4"))
    .groupBy($"lang", $"source")
    .agg(count(lit(1)).as("n_docs"), sum($"nw").as("n_tokens"), sum($"q4").as("q4s"))

  /** Read-time finishers over merged partials: re-aggregate strata (the
    * merge is a sum at every grain), then the mean division and the
    * share window — both over the (langs × sources)-sized frame.
    */
  private def finishDatasheet(partials: DataFrame): DataFrame = {
    val w = Window.partitionBy() // langs x sources rows
    partials
      .groupBy($"lang", $"source")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"),
        sum($"q4s").as("q4s"))
      .select($"lang", $"source", $"n_docs", $"n_tokens",
        round($"q4s" / $"n_docs" / 1e4, 4).as("avg_quality"),
        round($"n_tokens" / sum($"n_tokens").over(w), 6).as("token_share"))
      .orderBy($"lang", $"source")
  }

  /** Persist one slice's datasheet partials — the production write each
    * ingest batch performs. Shard dirs must be doc-disjoint: partials are
    * additive masses, and an overlapping doc would be counted once per
    * shard.
    */
  def writeDatasheetPartials(documents: DataFrame, dir: String): Unit = {
    datasheetPartials(documents).write.mode("overwrite").parquet(dir)
    // build-slice fingerprint (q242 staleness contract); the underscore
    // dir is invisible to the serve read of `dir`
    Governance.writeFingerprint(documents, Governance.docCanonical, dir)
  }

  /** Serve the datasheet from persisted partial shards (q227): the disk
    * round-trip twin of `incrementalDatasheet` — no document is
    * re-scanned; the read is strata-rows × shards, and the merge is the
    * same sum-then-finish law the in-session gate proves. This closes
    * the gap between "merge == recompute, both computed in-session" and
    * the claim a 100 TB card maintenance actually needs: base partials
    * live in a TABLE, and a delta publish reads only that table plus the
    * delta's own partials.
    */
  def datasheetFromPartials(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "datasheetFromPartials: no partial shard dirs")
    finishDatasheet(spark.read.parquet(dirs: _*))
  }

  /** Filter-rule attrition histogram: run the standard quality-rule panel
    * (too-short, low quality score, repetitive 2-grams, out-of-scope
    * language) over every document and report the corpus partitioned by
    * KILL PATTERN — the exact combination of rules each document fails
    * (`pass` for survivors). A per-rule kill count alone hides overlap
    * (two rules that each "remove 30%" may remove the same 30%); the
    * pattern histogram is the full inclusion–exclusion picture, which is
    * what you need before re-tuning any single threshold: a rule whose
    * every kill is shared with another rule is dead weight, a rule with a
    * large unique-kill mass is load-bearing.
    *
    * Shape: every rule input is per-document-local (token count, the q21
    * quality formula, the native one-pass `word_ngram_stats`, the lang
    * column), so the scoring pass is embarrassingly parallel inside the
    * scan projection; the only shuffle is the map-side-combined groupBy
    * onto at most 2^4 pattern rows, and the corpus share comes from a
    * window over that bounded frame.
    */
  def filterAttrition(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.word_ngram_stats
    val flagged = documents
      .select(
        size(TextAnalysis.tokens($"text")).cast("long").as("nw"),
        TextAnalysis.qualityCol($"text").as("quality"),
        word_ngram_stats($"text", 2).as("s2"),
        $"lang")
      .select($"nw",
        ($"nw" < 25).as("f_short"),
        ($"quality" < 0.5).as("f_lowq"),
        // a doc with < 2 words has no 2-grams; the division must sit
        // under a CaseWhen (which conditionally evaluates) because ANSI
        // throws DIVIDE_BY_ZERO even for double 0/0 and `&&` does not
        // short-circuit — such a doc is never 'rep' (it is already
        // 'short'), matching the oracle's LEFT JOIN + coalesce(0.0)
        when($"s2.n_grams" > 0,
          ($"s2.n_grams" - $"s2.n_distinct") / $"s2.n_grams" > 0.06)
          .otherwise(lit(false)).as("f_rep"),
        ($"lang" =!= "en").as("f_lang"))
    val pattern = concat_ws(",",
      when($"f_short", "short"), when($"f_lowq", "lowq"),
      when($"f_rep", "rep"), when($"f_lang", "lang"))
    flagged
      .select($"nw",
        when(length(pattern) === 0, "pass").otherwise(pattern).as("pattern"))
      .groupBy($"pattern")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("n_tokens"))
      .withColumn("doc_share",
        round($"n_docs" / sum($"n_docs").over(Window.partitionBy()), 6))
      .orderBy($"pattern")
  }

  /** Cross-source quantile calibration: per source, the exact quality-score
    * deciles next to the CORPUS-WIDE deciles at the same rank — the
    * calibration table behind quantile-normalizing per-source scores
    * before a global threshold is applied. Quality classifiers drift per
    * source (a crawl source full of short pages scores systematically low
    * on a length-aware model); cutting the corpus at one global score then
    * silently changes each source's survival rate. This table says "source
    * A's 90th percentile sits at the global 60th" (`gap` < 0) so the
    * mixture owner can either re-map scores by rank or accept the skew
    * knowingly.
    *
    * Shape: both decile panels ride ONE bounded histogram pass each
    * (`Scale.exactQuantilesByGroup` — all 9 cuts from one (group, value)
    * histogram; state is the 4-decimal quality domain, not corpus rows);
    * the scored scan is checkpointed so the corpus is read once, and the
    * 9-row global panel broadcasts onto the source panel.
    */
  def sourceQuantileCalibration(documents: DataFrame): DataFrame = {
    val qs = (1 to 9).map(_ / 10.0)
    val scored = documents
      .select($"source", TextAnalysis.qualityCol($"text").as("quality"))
      .localCheckpoint() // feeds the per-source and the global histogram pass
    def decile: Column = round($"q" * 10, 0).cast("int").as("decile")
    // display rounding is 6, NOT 4: deciles interpolate a 4-decimal value
    // domain at fraction 1/2, so a cut can land EXACTLY on a .00005 tie
    // (e.g. 0.73535), where Spark's string-based HALF_UP and DuckDB's
    // value-based round disagree (0.7354 vs 0.7353 — bit us at sf0.1);
    // at 6 the true value has fewer decimals than the scale, so both
    // engines round the identical double identically
    val bySrc = Scale.exactQuantilesByGroup(scored, "source", "quality", qs)
      .select($"source", decile, round($"cut", 6).as("source_q"))
    val global = Scale.exactQuantilesByGroup(
        scored.select(lit("all").as("g"), $"quality"), "g", "quality", qs)
      .select(decile, round($"cut", 6).as("global_q"))
    bySrc.join(broadcast(global), Seq("decile"))
      .select($"source", $"decile", $"source_q", $"global_q",
        round($"source_q" - $"global_q", 6).as("gap"))
      .orderBy($"source", $"decile")
  }

  /** Curriculum staging: partition the corpus into quality quartiles so a
    * training run can feed highest-quality data first (stage 1 = top
    * quartile) — the data-ORDERING op that follows filtering and mixing in
    * a curation stack. Stage boundaries are the exact 0.75/0.5/0.25
    * quality quantiles; ties land in the better stage on both engines
    * because membership is a plain `>=` against the cut.
    *
    * Shape: one scored scan; each cut comes from the bounded-state
    * histogram quantile (`Scale.exactQuantileByGroup` — never a global
    * sort, never a single-partition window, state bounded by the
    * rounded-to-4 value domain); the three 1-row cut frames broadcast
    * onto the scan and the stage report is a 4-row map-side-combined
    * aggregate. avg_quality sums exact integer 1e-4 units (quality is
    * rounded to 4 decimals, so ×10⁴ is exact), one division at the end —
    * order-free, unlike a float avg().
    */
  def curriculumStages(documents: DataFrame): DataFrame = {
    val scored = documents.select($"doc_id",
      size(TextAnalysis.tokens($"text")).cast("long").as("nw"),
      TextAnalysis.qualityCol($"text").as("quality"))
    // all three stage boundaries from ONE histogram pass (the per-cut
    // form rescanned and rescored the corpus three times)
    val cuts = broadcast(
      Scale.quantilePanel(scored.select(lit(1).as("g"), $"quality"),
          "g", "quality", Seq(0.75 -> "c3", 0.5 -> "c2", 0.25 -> "c1"))
        .drop("g"))
    scored
      .crossJoin(cuts)
      .select($"nw",
        when($"quality" >= $"c3", 1)
          .when($"quality" >= $"c2", 2)
          .when($"quality" >= $"c1", 3)
          .otherwise(4).as("stage"),
        round($"quality" * 10000, 0).cast("long").as("q4"),
        $"quality")
      .groupBy($"stage")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"nw").as("n_tokens"),
        round(sum($"q4") / count(lit(1)) / 1e4, 4).as("avg_quality"),
        round(min($"quality"), 4).as("min_quality"),
        round(max($"quality"), 4).as("max_quality"))
      .orderBy($"stage")
  }

  /** Effective (dedup-adjusted) token mass per source: total tokens
    * minus q97's duplicated-span tokens — the "how much UNIQUE data does
    * each source actually contribute" datasheet column. A source can
    * look large by raw token count while most of its mass is corpus-
    * repeated boilerplate; training-budget planning (q112) wants the
    * effective number. Composes the span map with the source dimension:
    * one left join of per-doc span mass onto the (doc, source, tokens)
    * projection, then a source-sized rollup.
    */
  def effectiveTokenMass(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", $"source", size(TextAnalysis.tokens($"text")).cast("long").as("nt"))
      .join(duplicatedSpans(documents).select($"doc_id", $"dup_tokens"),
        Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"nt").as("total_tokens"),
        sum(coalesce($"dup_tokens", lit(0L))).as("dup_tokens"))
      .select($"source", $"n_docs", $"total_tokens", $"dup_tokens",
        ($"total_tokens" - $"dup_tokens").as("effective_tokens"),
        round($"dup_tokens" / $"total_tokens", 6).as("dup_ratio"))
      .orderBy($"source")

  /** Laplace-noised histogram release — the MECHANICS of a differential-
    * privacy release (sensitivity-1 count query, Laplace(1/eps) noise via
    * inverse-CDF, replayable noise so re-runs republish identical values
    * instead of spending fresh budget), demonstrated with DETERMINISTIC
    * PUBLIC noise. That last property means the DEFAULT output carries NO
    * actual privacy guarantee: the uniform is derived from
    * md5("dp:" + tag + ":" + lang), a publicly computable value, so anyone
    * can recompute u, invert the noise exactly, and recover the true
    * counts — epsilon is meaningless for the default release. It is kept
    * public here because the DuckDB oracle must replay the noise to check
    * the pipeline.
    *
    * A real release passes `secretKey`: the uniform is then keyed by a
    * value held OUTSIDE the published artifact (the md5(secret || tag ||
    * lang) construction is the poor engine's keyed hash; production would
    * use HMAC), which keeps replayability — same key + tag → same noise —
    * while making the noise unpredictable to anyone without the key.
    * Publishing the artifact without the key is what makes epsilon mean
    * something. True counts ride along for calibration here; a real
    * release drops the `n_docs` column (and, obviously, the key).
    *
    * Shape: one map-side-combined count per language, then a per-row
    * noise projection over the language-cardinality frame. Exact md5
    * uniform (the q92 13-hex-digit trick) -> Laplace via
    * -b·sign(u-½)·ln(1-2|u-½|); rounded to 4 decimals, far above libm's
    * 1-ulp ln() jitter.
    */
  def dpLangHistogram(documents: DataFrame, eps: Double = 1.0,
      releaseTag: String = "r1", secretKey: String = ""): DataFrame = {
    // empty key = the public oracle-checkable demo form; non-empty key =
    // the form whose noise is not publicly recomputable
    val seed = if (secretKey.isEmpty) s"dp:$releaseTag:" else s"dp:$secretKey:$releaseTag:"
    val u = Scale.hexFraction(md5(concat(lit(seed), $"lang")))
    documents
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("u", u)
      .withColumn("noise",
        lit(-1.0 / eps) * signum($"u" - 0.5) * log(lit(1.0) - lit(2.0) * abs($"u" - 0.5)))
      .select($"lang", $"n_docs",
        round($"n_docs" + $"noise", 4).as("noisy_n"))
      .orderBy($"lang")
  }

  /** Column-profile drift between two corpus snapshots: per tracked
    * column (lang, source, n_chars), the row count, null count, distinct
    * cardinality, and lexicographic min/max, side by side for v1 and v2 —
    * the schema-level companion of q101's row-level diff (q101 says WHICH
    * docs changed; this says whether the DISTRIBUTION a consumer relies
    * on moved: a new source value, a widened length range, nulls
    * appearing in a column that had none).
    *
    * Shape: each version collapses to one map-side-combined aggregate row
    * per column (stacked via a values-style union of three tiny
    * projections), then a 6-row broadcast join pairs versions — nothing
    * corpus-proportional ever shuffles. min/max compare the STRING form
    * (numeric columns zero-pad to width 12 so lexicographic = numeric
    * order), which keeps one schema for heterogeneous columns.
    */
  def profileDrift(v1: DataFrame, v2: DataFrame): DataFrame = {
    def pad(c: Column): Column = lpad(c.cast("string"), 12, "0")
    def profile(df: DataFrame, version: String): DataFrame = {
      def one(name: String, value: Column, padded: Boolean): DataFrame =
        df.select(value.as("v"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            min(if (padded) pad(col("v")) else col("v")).as("min_v"),
            max(if (padded) pad(col("v")) else col("v")).as("max_v"))
          .select(lit(name).as("column_name"), lit(version).as("version"),
            $"n_rows", $"n_null", $"n_distinct", $"min_v", $"max_v")
      one("lang", col("lang"), padded = false)
        .unionAll(one("source", col("source"), padded = false))
        .unionAll(one("n_chars", col("n_chars"), padded = true))
    }
    profile(v1, "v1").as("a")
      .join(profile(v2, "v2").as("b"), $"a.column_name" === $"b.column_name")
      .select($"a.column_name".as("column_name"),
        $"a.n_rows".as("rows_v1"), $"b.n_rows".as("rows_v2"),
        $"a.n_null".as("nulls_v1"), $"b.n_null".as("nulls_v2"),
        $"a.n_distinct".as("distinct_v1"), $"b.n_distinct".as("distinct_v2"),
        $"a.min_v".as("min_v1"), $"b.min_v".as("min_v2"),
        $"a.max_v".as("max_v1"), $"b.max_v".as("max_v2"))
      .orderBy($"column_name")
  }

  /** CCNet/C4-style boilerplate-line removal accounting, on fixed-width
    * pseudo-lines: every document is partitioned into NON-OVERLAPPING
    * `width`-word segments (the corpus has no newlines, so fixed-width
    * windows stand in for lines — same role as CCNet's per-line hash);
    * a segment whose md5 appears in >= `minDocs` DISTINCT documents is
    * template boilerplate (navigation chrome, license headers, scraped
    * footers), and the report prices, per source, how much of its token
    * mass survives removal. Complements the pair-based span family:
    * q97/q99 find spans duplicated WITHIN near-dup pairs; this flags
    * segments frequent ACROSS the corpus with no pairing step at all —
    * the cheap first pass a crawl pipeline runs before any LSH.
    *
    * Scale shape: one explode to (doc, segment-hash, token-count) —
    * token-proportional, the hash computed inside the projection — then a
    * distinct-doc-frequency aggregate on the hash and an equi-join of the
    * segment stream back to the frequent-hash table (hash-partitioned
    * both sides; NOT broadcast — at crawl scale the template set is
    * large). Nothing is ever pairwise; the whole job is two shuffles of
    * segment-proportional data.
    */
  def boilerplateSegments(documents: DataFrame, width: Int = 8,
      minDocs: Int = 3): DataFrame = {
    val segs = documents
      .select($"doc_id", $"source", TextAnalysis.tokens($"text").as("ws"))
      .select($"doc_id", $"source",
        explode(transform(
          sequence(lit(0), floor((size($"ws") - 1) / width).cast("int")),
          i => struct(
            md5(concat_ws(" ", slice($"ws", i * width + 1, lit(width)))).as("h"),
            size(slice($"ws", i * width + 1, lit(width))).cast("long").as("ntok"))))
          .as("s"))
      .select($"doc_id", $"source", $"s.h".as("h"), $"s.ntok".as("ntok"))
      // NOT checkpointed (unlike dupSpanIslands' grams): A/B'd at sf0.1 —
      // materializing (doc_id, source, h, ntok) rows cost MORE than the
      // doc-frequency branch's recompute, because that branch prunes to
      // (doc_id, h) off the columnar scan while a checkpoint would force
      // it through full materialized rows. 1.60 s vs 1.75-1.89 s measured.
    val df = segs.groupBy($"h")
      .agg(countDistinct($"doc_id").as("docfreq"))
      .filter($"docfreq" >= minDocs)
      .select($"h", lit(1L).as("bp"))
    segs.join(df, Seq("h"), "left")
      .groupBy($"source")
      .agg(
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_segments"),
        sum(when($"bp" === 1L, 1L).otherwise(0L)).as("n_bp_segments"),
        sum($"ntok").as("toks_total"),
        sum(when($"bp".isNull, $"ntok").otherwise(0L)).as("toks_kept"))
      .select($"source", $"n_docs", $"n_segments", $"n_bp_segments",
        round($"n_bp_segments" / $"n_segments", 6).as("bp_seg_frac"),
        $"toks_total", $"toks_kept")
      .orderBy($"source")
  }

  // ---- quality classifier (q143 family) ---------------------------------------

  /** The one classifier every q143-family query trains and scores: label
    * `lang == TargetLang`, `Buckets` md5-slice token bins, `Rounds`
    * full-batch steps at `LearningRate` = 2^-10.
    */
  private val TargetLang = "en"
  private val Buckets = 64
  private val Rounds = 4
  private val LearningRate = 0.0009765625

  /** The classifier's 0/1 label column `y`. */
  private def label: Column = when($"lang" === TargetLang, 1L).otherwise(0L).as("y")

  /** round(1e6·sigmoid(zm/1e6)) as a long: a micro-unit margin's score
    * quantized to micro-units (round ≥ 0, so HALF_UP is DuckDB's
    * half-away-from-zero).
    */
  private def microSigmoid(zm: Column): Column =
    round(lit(1e6) / (lit(1.0) + exp(-(zm / lit(1e6)))), 0).cast("long")

  /** The acceptance coin of q145/q147: md5(doc_id) sliced to an integer in
    * [0, 1e6), compared against a micro-unit score.
    */
  private def acceptCoin: Column =
    conv(substring(md5($"doc_id".cast("string")), 1, 5), 16, 10).cast("bigint") % 1000000L

  /** Session-scoped trained-weights cache: the classifier family
    * (q143 weights / q144 eval / q145 sampling) analyzes the SAME model,
    * and training — `Rounds` driver-synchronized gradient passes — is by
    * far its dominant cost, so it runs once per corpus plan per session
    * (the driver-value analog of `Dedup.pairIndex`; the cached value is
    * just the (Buckets+1)-row weight vector, so cache memory is trivially
    * bounded — the cap guards entry COUNT, not size).
    */
  private val Weights = new SessionArtifacts.Kind[Seq[(Long, Long)]]

  /** Session-scoped PERSISTED feature-frame cache, keyed by (session,
    * corpus plan), like the weights. Caching the frame beside the weights
    * means a weights-cache hit (q144/q145 after q143) scores against the
    * already-tokenized, already-persisted frame instead of re-scanning
    * the corpus: the whole family pays ONE tokenize+hash pass per corpus
    * per session. Entries are persist()-backed, so the registry
    * unpersists them on eviction (see [[SessionArtifacts]]).
    */
  private val FeatureFrames = new SessionArtifacts.Kind[DataFrame]

  private def cachedFeatureFrame(documents: DataFrame): DataFrame =
    SessionArtifacts.getOrBuild(FeatureFrames, documents)(featureFrame(documents).persist())

  /** Hashed feature counts (doc_id, b, c) of a (doc_id, tok) token frame:
    * per-doc token counts in `Buckets` md5-slice bins, plus the bias
    * feature at bucket -1 for every document of `documents`.
    */
  private def bucketCounts(tokens: DataFrame, documents: DataFrame): DataFrame =
    tokens
      .select($"doc_id", Scale.md5SlicePos($"tok", 0, Buckets).as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
      .unionAll(documents.select($"doc_id", lit(-1L).as("b"), lit(1L).as("c")))

  /** Hashed feature frame: the corpus's `bucketCounts`.
    *
    * Persisted HASH-PARTITIONED BY doc_id (r14, guide §2.4): the
    * bias-row union destroys the aggregation's partitioning, so every
    * training round's margin aggregation and gradient join used to
    * re-exchange the whole frame by doc_id — 3 corpus-sized exchanges
    * per round. One explicit repartition before persist makes every
    * per-round groupBy(doc_id)/join(doc_id) partition-local; the only
    * per-round exchange left is the (Buckets+1)-row gradient one.
    */
  private def featureFrame(documents: DataFrame): DataFrame =
    bucketCounts(
      documents.select($"doc_id", explode(TextAnalysis.tokens($"text")).as("tok")), documents)
      // width = cores exactly (r15): an explicit REPARTITION_BY_NUM is
      // not AQE-coalescible, so every downstream scan of the persisted
      // frame pays the full task count — x2 bought no spread the cores
      // don't already give, and doubled per-scan scheduling overhead on
      // every consumer (the q240/q241 anti-scaling trail)
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        $"doc_id")

  /** Shared trainer for the discriminative quality classifier (q143/q144):
    * full-batch logistic regression on HASHED bag-of-words features — the
    * GPT-3/LLaMA-style "does this look like the reference corpus?" filter,
    * the discriminative complement of q98's generative DSIR ratio. Label:
    * `lang == TargetLang`. Features: token counts hashed into `Buckets`
    * md5-slice bins (q72's engine-independent hash family) plus a bias
    * feature at bucket -1. `Rounds` gradient-descent steps at
    * `LearningRate` (a POWER OF TWO, so the scaling multiply is exact in
    * IEEE doubles; 2^-10 — small enough that raw-count features cannot
    * drive the logit into saturation in a few rounds: at lr = 0.5 the
    * model diverged to a degenerate all-positive classifier on the
    * registered corpus).
    *
    * On the synthetic corpus the lang label carries NO lexical signal
    * (31 shared tokens, near-identical per-lang frequencies and
    * lengths), so the trained model converges toward the calibrated
    * base-rate solution — the Bayes answer for uninformative features;
    * LEARNABILITY is asserted on the vocab-disjoint spec fixture, which
    * the same dial separates perfectly.
    *
    * Determinism (the oracle replays training round-for-round): weights
    * live in integer MICRO-UNITS, so the per-doc margin z and the
    * per-bucket gradient are exact integer sums (order-free under any
    * partitioning); sigmoid is the one transcendental and is quantized to
    * micro-units immediately (`microSigmoid`); the weight step uses
    * floor() (identical in both engines), never a .5-boundary round.
    * RESIDUAL RISK (the classifier cousin of the DP release's 1-ulp ln()
    * caveat): the sigmoid quantization itself is a .5-boundary round, so
    * a doc whose unrounded 1e6·sigmoid(z) landed within ~1 ulp of a .5
    * micro-unit boundary could round differently if Spark's and DuckDB's
    * exp() differ there, and one flipped pm compounds through later
    * rounds. This is a per-dataset property, not a structural invariant
    * like the integer paths — CurationSpec asserts every fixture doc's
    * unrounded score sits > 1e-6 micro-units from the nearest boundary in
    * every round (4+ orders above the ~1e-10 1-ulp exp() jitter at the 1e6
    * scale), and the sf0.01/sf0.1 oracle gates are the empirical check
    * on the registered corpora.
    *
    * Scale shape: each round is two map-side-combined aggregations over
    * the cached feature frame — doc-dimension (margin) then
    * feature-dimension (gradient) — and the driver holds only the
    * (Buckets+1)-row weight vector between rounds: exactly what it must
    * broadcast anyway (the Lloyd/k-means pattern). Rounds are O(rounds)
    * driver synchronizations, independent of corpus size.
    */
  private[graft] def trainQualityWeights(documents: DataFrame): (DataFrame, Seq[(Long, Long)]) = {
    val fx = cachedFeatureFrame(documents)
    val ws = SessionArtifacts.getOrBuild(Weights, documents) {
      // (doc_id, y) label projection — corpus-linear, the Lloyd bound.
      // Co-partitioned with fx so the pivot join below is exchange-free.
      val labels = documents.select($"doc_id", label)
        .repartition(documents.sparkSession.sparkContext
          .defaultParallelism, $"doc_id")
      // r15 (§2.4): pivot the co-partitioned frame ONCE to one row per
      // doc — (doc_id, feats: array<(b,c)>, y) — and checkpoint it.
      // Each training round used to be a 3-way doc_id join over the
      // 64-partition cached frame (margin pass + gradient join +
      // label join = 3 stages and a broadcast per round); with the
      // features and label in the SAME row, a round is one narrow
      // pass: per-doc margin from the array against the broadcast-ish
      // weight-map literal, explode, one (Buckets+1)-key map-side-
      // combined rollup. Zero joins, zero doc-dimension shuffles per
      // round, at any scale. The pivot itself rides fx's doc_id
      // partitioning (the groupBy and the label join are exchange-free).
      val perDoc = fx
        .groupBy($"doc_id")
        .agg(collect_list(struct($"b", $"c")).as("feats"))
        .join(labels, Seq("doc_id"))
        .localCheckpoint()
      def gradient(err: Column): Array[org.apache.spark.sql.Row] = perDoc
        .select(explode($"feats").as("f"), err.as("err"))
        .groupBy($"f.b".as("b"))
        .agg(sum($"f.c" * $"err").as("gm"), count(lit(1)).as("n"))
        .collect()
      // Round 1 folded: with every observed bucket initialized to
      // weight 0 (the oracle's `SELECT DISTINCT b, 0 FROM fx`), zm = 0
      // and pm = round(1e6·sigmoid(0)) = 500000 for EVERY doc, so the
      // first gradient needs no weight lookup at all — and its groupBy
      // keys are exactly the observed-bucket set, which used to cost a
      // separate distinct(b) job to initialize. nDocs rides the same
      // collect (used to be its own count job): the bias bucket holds
      // exactly one row per document.
      val g1 = gradient(lit(500000L) - $"y" * lit(1000000L))
      val nDocs: Long =
        g1.find(_.getLong(0) == -1L).map(_.getLong(2)).getOrElse(0L)
      def step(w: Map[Long, Long],
          g: Array[org.apache.spark.sql.Row]): Map[Long, Long] =
        w ++ g.map { r =>
          val (b, gm) = (r.getLong(0), r.getLong(1))
          b -> (w.getOrElse(b, 0L) - math.floor(LearningRate * gm / nDocs).toLong)
        }
      var w: Map[Long, Long] = step(Map.empty, g1)
      for (_ <- 2 to Rounds) {
        // single MapType literal (not per-entry lit()s): the weight
        // values land in the codegen references array instead of the
        // generated source, so every round reuses one compiled plan
        val wMap = typedlit(w)
        val zm = aggregate($"feats", lit(0L),
          (acc, f) => acc + f.getField("c") * element_at(wMap, f.getField("b")))
        w = step(w, gradient(microSigmoid(zm) - $"y" * lit(1000000L)))
      }
      w.toSeq.sortBy(_._1)
    }
    (fx, ws)
  }

  /** Per-doc (doc_id, zm): the integer micro-unit margin Σ c·w of each
    * doc's feature counts `fx` under the weights `w` — one broadcast of
    * the weight vector, one doc-dimension aggregate.
    */
  private def margins(fx: DataFrame, w: Seq[(Long, Long)]): DataFrame =
    fx.join(broadcast(fx.sparkSession.createDataFrame(w).toDF("b", "wm")), Seq("b"))
      .groupBy($"doc_id").agg(sum($"c" * $"wm").as("zm"))

  /** Per-doc (doc_id, zm, y) labelled margin frame — the q143 model's one
    * scoring pass over the cached feature frame, which every eval-family
    * readout builds on.
    */
  private[graft] def docMargins(documents: DataFrame): DataFrame = {
    val (fx, w) = trainQualityWeights(documents)
    margins(fx, w).join(documents.select($"doc_id", label), Seq("doc_id"))
  }

  /** Trained classifier weights (q143): the (Buckets+1)-row weight table
    * after `Rounds` full-batch steps — see [[trainQualityWeights]] for the
    * training contract and scale shape. Output: hash bucket (-1 = bias),
    * the integer micro-unit weight, and its double rendering.
    */
  def qualityClassifierWeights(documents: DataFrame): DataFrame = {
    val (_, w) = trainQualityWeights(documents)
    documents.sparkSession.createDataFrame(w).toDF("b", "w_micro")
      .select($"b", $"w_micro", round($"w_micro" / 1e6, 6).as("weight"))
      .orderBy($"b")
  }

  /** Classifier evaluation (q144): score every document with the q143
    * weights and cross-tabulate prediction vs label. The decision rule is
    * `z >= 0` (sigmoid(z) >= 0.5 iff z >= 0), so scoring needs NO
    * transcendental at all — the confusion matrix is exact integer
    * arithmetic end-to-end. `frac_of_label` rows give recall (y=1,pred=1)
    * and specificity (y=0,pred=0) directly.
    *
    * Scale shape: one broadcast of the weight vector onto the cached
    * feature frame, one doc-dimension aggregate, one 4-row cross-tab —
    * scoring is a single corpus-linear pass, the same plan a 100 TB
    * inference sweep would run.
    */
  def qualityClassifierEval(documents: DataFrame): DataFrame = {
    val scored = docMargins(documents)
      .select($"y", when($"zm" >= 0L, 1L).otherwise(0L).as("pred"))
      .groupBy($"y", $"pred").agg(count(lit(1)).as("n_docs"))
    val byLabel = Window.partitionBy($"y")
    scored
      .select($"y", $"pred", $"n_docs",
        round($"n_docs" / sum($"n_docs").over(byLabel), 6).as("frac_of_label"))
      .orderBy($"y", $"pred")
  }

  /** Classifier-guided acceptance sampling (q145) — the GPT-3 curation
    * recipe: keep each document with probability equal to its classifier
    * score, so the kept set is biased toward reference-like documents
    * while retaining a calibrated tail of everything else (pure
    * thresholding would discard the tail entirely). The coin flip is the
    * repo's deterministic-uniform trick (q124's A-ES keys): u =
    * md5(doc_id) sliced to an integer in [0, 1e6), accepted iff
    * u < p_micro — the sigmoid score already quantized to micro-units by
    * the trainer, so the accept decision is an exact INTEGER comparison
    * both engines state identically.
    *
    * Scale shape: q144's single corpus-linear scoring pass plus one
    * per-source rollup; the weight vector is the only broadcast. Reported
    * pm_mass (sum of accepted micro-scores) is the exact integer the
    * expected-token-budget planner needs.
    */
  def classifierSample(documents: DataFrame): DataFrame = {
    val (fx, w) = trainQualityWeights(documents)
    // fx stays session-cached (SessionArtifacts owns its lifecycle)
    margins(fx, w)
      .select($"doc_id", microSigmoid($"zm").as("pm"))
      .join(documents.select($"doc_id", $"source"), Seq("doc_id"))
      .select($"source", $"pm", acceptCoin.as("u"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"u" < $"pm", 1L).otherwise(0L)).as("n_accepted"),
        sum(when($"u" < $"pm", $"pm").otherwise(0L)).as("pm_mass"))
      .select($"source", $"n_docs", $"n_accepted",
        round($"n_accepted" / $"n_docs", 6).as("accept_rate"), $"pm_mass")
      .orderBy($"source")
  }

  /** Classifier calibration / reliability table (q160): the
    * positive-label rate per SIGNED log2-margin bucket — the "is a
    * bigger margin actually more reliable" check that belongs beside
    * q144's confusion matrix before anyone thresholds or
    * acceptance-samples on the score. A well-behaved model shows the
    * rate rising monotonically with the bucket; a flat or folded curve
    * says the margin is not calibrated and q145's sampling coin is
    * mispriced.
    *
    * The bucket is `sign(zm) * (length(bin(abs(zm)+1)) - 1)` — the
    * signed floor(log2(|margin|+1)) on the INTEGER micro-unit margin,
    * exact in both engines (q157's bin() trick; no float log, no
    * rank-based deciles — a rank decile would need a global sort or a
    * two-level prefix sum for something a fixed exact bucketing answers
    * as well). One corpus-linear scoring pass riding the session
    * weights + feature-frame caches (q143 is the family carrier), then
    * a bucket-sized rollup.
    */
  def classifierCalibration(documents: DataFrame): DataFrame =
    marginBuckets(documents)
      .select($"mbucket", $"n_docs", $"n_pos",
        round($"n_pos" / $"n_docs", 6).as("pos_rate"))
      .orderBy($"mbucket")

  /** The (mbucket, n_docs, n_pos) reliability frame behind q160 — split
    * out so q263's isotonic fit rides the identical scoring pass (and
    * the session weight/feature caches) instead of re-deriving it.
    */
  private[graft] def marginBuckets(documents: DataFrame): DataFrame =
    docMargins(documents)
      .select($"y",
        (when($"zm" >= 0L, 1L).otherwise(-1L) *
          (length(bin(abs($"zm") + 1)) - 1)).as("mbucket"))
      .groupBy($"mbucket")
      .agg(count(lit(1)).as("n_docs"), sum($"y").as("n_pos"))

  /** Isotonic (monotone) calibration of the q160 reliability curve via
    * the MINIMAX characterization of the weighted PAV fit (q263;
    * Ayer et al. 1955; Zadrozny & Elkan 2002 for the calibration use):
    * fit(i) = max_{j≤i} min_{k≥i} mean(pos, weights over buckets j..k),
    * which equals pool-adjacent-violators exactly — and because every
    * candidate mean is ONE integer/integer division ((cp_k − cp_{j−1}) /
    * (cn_k − cn_{j−1}) from exact prefix sums), the minimax and a PAV
    * stack implementation divide the SAME two integers and agree
    * bit-for-bit (the spec's law). q160 DIAGNOSES miscalibration; this
    * is the repair that turns the margin into a usable probability
    * while provably preserving the score's ranking (monotone map).
    *
    * Scale shape: the corpus-proportional work is q160's one scoring
    * pass; the minimax grid is B² rows and the windows partition by j —
    * all on the BUCKET frame (B ≤ 2·log₂(max |margin|) ≈ a few dozen at
    * any corpus size, since the margin is an integer micro-unit sum).
    * The j ≤ k pair join is a broadcast nested loop over that bounded
    * frame — the quadratic lives entirely in dimension space, the
    * classic O(n²)-sequential-PAV made distribution-safe.
    */
  def isotonicCalibration(documents: DataFrame): DataFrame = {
    val b = marginBuckets(documents)
    val wOrd = Window.orderBy($"mbucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = b
      .withColumn("i", row_number().over(Window.orderBy($"mbucket")))
      .withColumn("cn", sum($"n_docs").over(wOrd))
      .withColumn("cp", sum($"n_pos").over(wOrd))
      .localCheckpoint() // B rows; both sides of the bounded pair join
    // the k-side broadcasts: B is log-bounded, and an unbroadcast
    // non-equi join would plan a CartesianProduct (the RelationalSpec
    // scale guard fails exactly that)
    val pairs = cum
      .select($"i".as("j"), ($"cn" - $"n_docs").as("cn0"),
        ($"cp" - $"n_pos").as("cp0"))
      .join(broadcast(cum.select($"i".as("k"), $"cn".as("cnk"),
        $"cp".as("cpk"))), $"j" <= $"k")
      .withColumn("m",
        ($"cpk" - $"cp0").cast("double") / ($"cnk" - $"cn0"))
    val sm = pairs.withColumn("sm",
      min($"m").over(Window.partitionBy($"j").orderBy($"k".desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val iso = sm.groupBy($"k").agg(max($"sm").as("iso_raw"))
    cum.join(iso, $"i" === $"k")
      .select($"mbucket", $"n_docs", $"n_pos",
        round($"n_pos" / $"n_docs", 6).as("pos_rate"),
        round($"iso_raw", 6).as("iso_rate"))
      .orderBy($"mbucket")
  }

  /** The conformal frame of q240/q241, checkpointed once for the q̂ and
    * test passes: `docMargins` plus the calibration coin `is_calib` (md5
    * slice 1, independent of every slice-0 draw) and the nonconformity
    * `s_true`, the margin toward the wrong side (y=1 → −zm, y=0 → +zm).
    */
  private def conformalScored(documents: DataFrame): DataFrame =
    docMargins(documents)
      .withColumn("is_calib", Scale.md5SlicePos($"doc_id", 1, 2) === 0L)
      .withColumn("s_true", when($"y" === 1L, -$"zm").otherwise($"zm"))
      .localCheckpoint()

  /** q̂_α of the `nCal` calibration rows `calib`: the ⌈(n+1)(1−α)⌉-th
    * smallest `s_true`, as the max of the bottom k through the salted
    * two-stage `topKPerGroup` (never a global sort). `slice` names the
    * calibration slice in the too-few-points failure.
    */
  private def conformalQhat(calib: DataFrame, nCal: Long, alpha: Double,
      slice: String): Long = {
    val k = math.ceil((nCal + 1) * (1 - alpha)).toLong
    require(k <= nCal, s"alpha=$alpha$slice needs $k calibration points, have $nCal")
    Scale.topKPerGroup(calib.select(lit(0L).as("g"), $"s_true".as("s")),
        group = $"g", rankKey = $"s", tie = $"s", saltSource = $"s", k = k.toInt)
      .agg(max($"s")).collect()(0).getLong(0)
  }

  /** Split-conformal prediction sets for the quality classifier (q240;
    * Vovk's conformal framework, split form per Papadopoulos 2002 /
    * Angelopoulos & Bates 2023): the distribution-free finite-sample
    * coverage guarantee the raw classifier lacks — q160 shows the
    * probabilities are miscalibrated, and conformal is the fix that
    * needs NO recalibration model: on a held-out calibration half
    * (deterministic md5 coin, slice 1 so it is independent of every
    * slice-0 draw), the nonconformity of a labeled doc is its margin
    * toward the wrong side (y=1 → −zm, y=0 → +zm, exact integer longs);
    * q̂_α is the ⌈(n+1)(1−α)⌉-th smallest calibration score, and a test
    * doc's prediction set contains every label whose score is ≤ q̂_α —
    * guaranteeing P(true label ∈ set) ≥ 1−α for ANY score function.
    * Reports, per α: q̂, empirical test coverage, and the mean set size
    * (the efficiency price; 2.0 means the classifier carries no usable
    * evidence at that confidence).
    *
    * Shape: one shared scoring pass (the q143 cached feature frame +
    * broadcast weights); q̂ is an order statistic, computed as
    * max-of-bottom-k via the salted two-stage `topKPerGroup` — never a
    * global sort; per-α test metrics are map-side-combined aggregates
    * over the checkpointed scored frame. Only ONE scalar per α crosses
    * the driver. All comparisons are exact integer; the two output
    * ratios are the only floats.
    */
  def conformalQuality(documents: DataFrame): DataFrame = {
    val scored = conformalScored(documents)
    val nCal = scored.filter($"is_calib").count()
    val test = scored.filter(!$"is_calib")
    Seq(0.05, 0.1, 0.2).map { alpha =>
      val qhat = conformalQhat(scored.filter($"is_calib"), nCal, alpha, "")
      test.agg(count(lit(1)).as("n_test"),
          sum(when($"s_true" <= qhat, 1L).otherwise(0L)).as("cov"),
          sum(when(-$"zm" <= qhat, 1L).otherwise(0L) +
            when($"zm" <= qhat, 1L).otherwise(0L)).as("sz"))
        .select(lit(alpha).as("alpha"), lit(nCal).as("n_calib"),
          lit(qhat).as("qhat"),
          round($"cov" / $"n_test", 6).as("coverage"),
          round($"sz" / $"n_test", 6).as("avg_set_size"))
    }.reduce(_ unionByName _).orderBy($"alpha")
  }

  /** Class-conditional (Mondrian) conformal sets (q241; Vovk's Mondrian
    * taxonomy, label-conditional form): q240's guarantee is MARGINAL —
    * averaged over both classes, so with class imbalance the majority
    * class can over-cover while the minority class silently
    * under-covers (exactly the failure a curation pipeline cares about:
    * "non-English" is the minority label a filter must not lose).
    * Calibrating q̂ PER TRUE CLASS — q̂_y from the label-y calibration
    * docs only — restores the guarantee within each class:
    * P(y ∈ set | true = y) ≥ 1−α for BOTH labels. Reports, per
    * (α, label): the class calibration count, q̂_y, and the
    * class-conditional test coverage — read beside q240 to see what the
    * marginal number hides.
    *
    * Same scored frame and integer nonconformity as q240 (one shared
    * scoring pass); each q̂_y is a max-of-bottom-k order statistic over
    * the label-y calibration slice via the salted two-stage rank; one
    * scalar per (α, label) crosses the driver.
    */
  def mondrianConformal(documents: DataFrame): DataFrame = {
    val scored = conformalScored(documents)
    val nCalByY = scored.filter($"is_calib").groupBy($"y").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val test = scored.filter(!$"is_calib")
    (for (alpha <- Seq(0.1, 0.2); y <- Seq(0L, 1L)) yield {
      // getOrElse: a class absent from the calibration slice must fail
      // through conformalQhat's descriptive require, not a bare Map.apply
      val nCal = nCalByY.getOrElse(y, 0L)
      val qhat = conformalQhat(scored.filter($"is_calib" && $"y" === y), nCal, alpha,
        s" label=$y")
      test.filter($"y" === y)
        .agg(count(lit(1)).as("n_test"),
          sum(when($"s_true" <= qhat, 1L).otherwise(0L)).as("cov"))
        .select(lit(alpha).as("alpha"), lit(y).as("label"),
          lit(nCal).as("n_calib"), lit(qhat).as("qhat"),
          round($"cov" / $"n_test", 6).as("class_coverage"))
    }).reduce(_ unionByName _).orderBy($"alpha", $"label")
  }

  /** Classifier ranking quality (q189): exact AUC of the q143 model's
    * integer score against the language label, via the Mann–Whitney
    * identity AUC = P(z⁺ > z⁻) + ½·P(z⁺ = z⁻). Completes the eval suite:
    * q144 grades the z≥0 DECISION, q160 grades probability CALIBRATION,
    * this grades the RANKING — threshold-free, the number a filtering
    * pipeline quotes when the acceptance cut is tuned downstream.
    *
    * Arithmetic: scores are the exact integer micro-unit zm (no
    * sigmoid), so the distinct-score frame and all pair counts are
    * integer-exact on any engine; the doubled numerator
    * Σ(2·np·cum_nn + np·nn) keeps the ½-tie term integral, and the one
    * FP division happens at the output boundary. (Long bound: the
    * numerator is ≤ 2·nP·nN — exact below ~2×10⁹ docs per class,
    * corpus-scale for any single AUC job; beyond that, bucket scores
    * first.)
    *
    * Scale shape: scoring is the shared one-broadcast pass over the
    * cached feature frame; the frame then collapses to DISTINCT scores
    * (≤ nDocs, typically ≪), and the cumulative-negatives rank term
    * is a `Scale.rangePrefixSums` over score. No global window, no
    * driver fold; the final aggregate is one row.
    */
  def classifierAuc(documents: DataFrame, parts: Int = 32): DataFrame =
    Scale.rangePrefixSums(scoreTies(documents), Seq($"zm"), Seq("nn"), parts)
      // negatives with a strictly LOWER score than this tie group
      .withColumn("cum_nn", $"cum_nn" - $"nn")
      .agg(
        sum($"np").as("n_pos"), sum($"nn").as("n_neg"),
        sum(lit(2L) * $"np" * $"cum_nn" + $"np" * $"nn").as("num2"))
      .select(
        round($"num2".cast("double") / (lit(2.0) * $"n_pos" * $"n_neg"), 6).as("auc"),
        $"n_pos", $"n_neg")

  /** The distinct-score tie frame of q189/q266: per integer margin zm,
    * its positive and negative doc counts (np, nn).
    */
  private def scoreTies(documents: DataFrame): DataFrame =
    docMargins(documents).groupBy($"zm")
      .agg(sum($"y").as("np"), sum(lit(1L) - $"y").as("nn"))

  /** DeLong confidence interval for the q189 AUC (q266; DeLong, DeLong
    * & Clarke-Pearson 1988): the AUC is the mean of per-positive
    * PLACEMENT values V10 (each positive's tie-averaged fraction of
    * negatives it outranks) and symmetrically V01, and its variance is
    * S10/m + S01/n — per-observation variances a single AUC point
    * silently hides (q189 quotes 0.93; this says whether that is
    * 0.93 ± 0.005 or ± 0.1, the difference between shipping a filter
    * and collecting more labels).
    *
    * Everything stays in the q189 integer-exact frame: doubled
    * placement numerators d10 = 2·cum_nn + nn (and d01 from the
    * positive suffix) are LONGS per distinct score; their first/second
    * weighted moments accumulate in decimal(38,0) (d10² overflows long
    * near 1.5·10⁹ per-class rows); one double expression renders AUC,
    * SE, and the clamped Wald 95% band. The prefix sums and the
    * positive total are one `Scale.rangePrefixSums` — no global window.
    */
  def aucDelong(documents: DataFrame): DataFrame = {
    // inclusive sums: cum_nn - nn negatives score strictly lower,
    // tot_np - cum_np positives strictly higher
    val cum = Scale.rangePrefixSums(scoreTies(documents), Seq($"zm"), Seq("nn", "np"), 32)
      .withColumn("d10", lit(2L) * ($"cum_nn" - $"nn") + $"nn")
      .withColumn("d01", lit(2L) * ($"tot_np" - $"cum_np") + $"np")
    val agg = cum.agg(
      sum($"np").as("m"), sum($"nn").as("n"),
      sum(($"np".cast("decimal(38,0)") * $"d10").cast("decimal(38,0)"))
        .as("s10"),
      sum(($"np".cast("decimal(38,0)") * $"d10" * $"d10")
        .cast("decimal(38,0)")).as("ss10"),
      sum(($"nn".cast("decimal(38,0)") * $"d01").cast("decimal(38,0)"))
        .as("s01"),
      sum(($"nn".cast("decimal(38,0)") * $"d01" * $"d01")
        .cast("decimal(38,0)")).as("ss01"))
    // var of the doubled placements, then /4n² (resp. /4m²) to undo the
    // doubling and normalize; Var(AUC) = S10/m + S01/n (DeLong)
    val auc = $"s10".cast("double") /
      (lit(2.0) * $"m".cast("double") * $"n")
    val v10 = ($"ss10".cast("double")
      - $"s10".cast("double") * $"s10".cast("double") / $"m") /
      ($"m" - 1L) / (lit(4.0) * $"n".cast("double") * $"n")
    val v01 = ($"ss01".cast("double")
      - $"s01".cast("double") * $"s01".cast("double") / $"n") /
      ($"n" - 1L) / (lit(4.0) * $"m".cast("double") * $"m")
    val se = sqrt(v10 / $"m" + v01 / $"n")
    agg
      .withColumn("auc_raw", auc)
      .withColumn("se_raw", when($"m" > 1L && $"n" > 1L, se))
      .select($"m".as("n_pos"), $"n".as("n_neg"),
        round($"auc_raw", 6).as("auc"), round($"se_raw", 6).as("se"),
        round(greatest($"auc_raw" - lit(1.96) * $"se_raw", lit(0.0)), 6)
          .as("lo95"),
        round(least($"auc_raw" + lit(1.96) * $"se_raw", lit(1.0)), 6)
          .as("hi95"))
  }

  /** Murphy decomposition of the Brier score for the isotonic forecast
    * (q268; Murphy 1973): Brier = REL − RES + UNC, where reliability
    * charges the forecast for bucket-level miscalibration, resolution
    * credits it for separating the buckets, and uncertainty ȳ(1−ȳ) is
    * the no-skill floor. The forecast under evaluation is q263's
    * PUBLISHED isotonic rate (the rounded-to-6 output column — the
    * number a downstream consumer would actually use), so this is the
    * eval of the shipped calibrator, not of an internal float. BSS =
    * 1 − Brier/UNC is the headline skill score.
    *
    * Shape: rides the q263 frame (itself bucket-bounded on q143's
    * scoring pass); per-bucket REL/RES terms micro-quantize before the
    * cross-bucket sums (the q245 discipline). Output is one row.
    */
  def brierDecomposition(documents: DataFrame): DataFrame = {
    val iso = isotonicCalibration(documents)
      .localCheckpoint() // bucket-sized; read twice (totals + terms)
    val tot = iso.agg(sum($"n_docs").as("nt"), sum($"n_pos").as("pt"))
    val ybar = $"pt".cast("double") / $"nt"
    val yi = $"n_pos".cast("double") / $"n_docs"
    val relT = $"n_docs" * (($"iso_rate" - yi) * ($"iso_rate" - yi))
    val resT = $"n_docs" * ((yi - ybar) * (yi - ybar))
    val agg = iso.crossJoin(broadcast(tot)).agg(
      max($"nt").as("nt"), max($"pt").as("pt"),
      sum(round(relT * lit(1000000.0), 0).cast("long")).as("rel6"),
      sum(round(resT * lit(1000000.0), 0).cast("long")).as("res6"))
    val yb = $"pt".cast("double") / $"nt"
    val unc = yb * (lit(1.0) - yb)
    val rel = $"rel6".cast("double") / lit(1000000.0) / $"nt"
    val res = $"res6".cast("double") / lit(1000000.0) / $"nt"
    agg.select($"nt".as("n_docs"),
      round(yb, 6).as("base_rate"),
      round(unc, 6).as("uncertainty"),
      round(rel, 6).as("reliability"),
      round(res, 6).as("resolution"),
      round(rel - res + unc, 6).as("brier"),
      when(unc > 0.0,
        round(lit(1.0) - (rel - res + unc) / unc, 6)).as("bss"))
  }

  /** Capstone v2 (q147) — the end-to-end CRAWL-TO-TRAINING-SET recipe,
    * chaining the round-5 families as STAGES rather than endpoints:
    *
    *   1. boilerplate-segment removal (q142's rule): drop every
    *      fixed-width segment whose md5 appears in >= `minDocs` distinct
    *      documents, and rebuild each document from its kept segments;
    *   2. duplicated-span cut (q99's rule, `k`-gram islands) on the
    *      BOILERPLATE-CLEANED text — the two text-hygiene passes a crawl
    *      pipeline runs back to back;
    *   3. classifier acceptance sampling (q145's rule): score the
    *      twice-cleaned token stream with the q143 model — trained
    *      UPSTREAM on the original corpus, exactly how a reference-vs-
    *      crawl filter is deployed (train once, filter every batch); the
    *      weights ride the session cache, so the capstone never retrains;
    *   4. near-dup survivor selection among the accepted documents via
    *      the session pair index restricted to the accepted set (q84's
    *      restriction identity — no re-banding).
    *
    * Report: per source, the document funnel (total → accepted → final
    * survivors) and the final cleaned token mass — the numbers a
    * datasheet quotes for the produced training set.
    *
    * Scale shape: every stage is the already-verified scalable operator
    * shape — segment/token-proportional shuffles (1, 2), one broadcast of
    * the cached weight vector (3), pair-proportional semi-joins +
    * pointer-jumping components (4); final rollups are source-sized.
    * Nothing pairwise outside the restricted pair set, nothing
    * corpus-proportional on the driver.
    */
  def capstoneV2(documents: DataFrame): DataFrame = {
    val width = 8
    val minDocs = 3
    val k = 8
    // stage 1: boilerplate-cleaned text (q142's segmentation + frequency
    // rule; docs whose every segment is boilerplate drop out here and
    // re-enter the accounting as zero-token docs via the left joins below)
    val segs = documents
      .select($"doc_id", TextAnalysis.tokens($"text").as("ws"))
      .select($"doc_id",
        posexplode(transform(
          sequence(lit(0), floor((size($"ws") - 1) / width).cast("int")),
          i => concat_ws(" ", slice($"ws", i * width + 1, lit(width))))))
      .select($"doc_id", $"pos".as("si"), $"col".as("seg"), md5($"col").as("h"))
      // materialized once (lazily): feeds both the doc-frequency aggregate
      // and the anti-join probe — same rationale as dupSpanIslands' grams
      .localCheckpoint(eager = false)
    val bpHashes = segs.groupBy($"h")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= minDocs)
      .select($"h")
    val cleaned = segs.join(bpHashes, Seq("h"), "left_anti")
      .groupBy($"doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct($"si", $"seg"))),
          x => x.getField("seg"))).as("text"))
      // consumed twice (island detection + positional token frame)
      .localCheckpoint()
    // stage 2: q99's maximal duplicated-k-gram islands on the cleaned
    // text; kept tokens = cleaned positions minus covered positions
    val covered = dupSpanIslands(cleaned, k)
      .select($"doc_id", explode(sequence($"s", $"e")).as("pos"))
    val keptToks = cleaned
      .select($"doc_id", posexplode(TextAnalysis.tokens($"text")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      // consumed twice (feature counts + final token mass)
      .localCheckpoint()
    // stage 3: q145's acceptance coin against the q143 model scored on
    // the cleaned token stream (bias feature for EVERY document, so
    // fully-boilerplate docs still get a bias-only score, as the oracle
    // states); unknown-bucket tokens cannot occur — cleaned tokens are a
    // subset of the training corpus — and the inner join states that
    val (_, w) = trainQualityWeights(documents)
    val accepted = margins(bucketCounts(keptToks, documents), w)
      .select($"doc_id", microSigmoid($"zm").as("pm"))
      .filter(acceptCoin < $"pm")
      .select($"doc_id")
      // consumed three times (pair restriction + rollup + final anti-join)
      .localCheckpoint()
    // stage 4: q84's restriction identity — the corpus pair index
    // restricted to accepted docs; non-survivors drop
    val dropped = Dedup.survivorsOverPairs(
        Dedup.restrictPairs(Dedup.pairIndex(documents), accepted))
      .filter(!$"survives")
      .select($"doc_id")
    val srcOf = documents.select($"doc_id", $"source")
    val keptCounts = keptToks.groupBy($"doc_id").agg(count(lit(1)).as("kt"))
    val accBySrc = srcOf.join(accepted, Seq("doc_id"), "left_semi")
      .groupBy($"source").agg(count(lit(1)).as("n_accepted"))
    val finBySrc = srcOf
      .join(accepted, Seq("doc_id"), "left_semi")
      .join(dropped, Seq("doc_id"), "left_anti")
      .join(keptCounts, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_final"),
        sum(coalesce($"kt", lit(0L))).as("toks_final"))
    documents.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(accBySrc, Seq("source"), "left")
      .join(finBySrc, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_accepted", lit(0L)).as("n_accepted"),
        coalesce($"n_final", lit(0L)).as("n_final"),
        coalesce($"toks_final", lit(0L)).as("toks_final"))
      .orderBy($"source")
  }

  /** Overlapping fixed-size token chunking — the retrieval/embedding
    * prep step every RAG and long-context training pipeline runs before
    * vectorizing: window each document into `chunkTokens`-token chunks
    * advancing by `chunkTokens - overlapTokens` (trailing partial chunk
    * kept), emit per chunk its provenance (doc, ordinal, token offset,
    * length) and an md5 fingerprint of the re-joined text, plus the
    * CORPUS-level duplicate count of that fingerprint — chunk-level
    * exact dedup being the first thing run on chunked corpora (template
    * segments that q142 sees per-line reappear here per-window).
    *
    * Scale shape: chunk generation is pure per-row projection — one
    * corpus-linear pass, `transform(sequence(0, nChunks-1))` + explode,
    * NO shuffle until the single fingerprint-count exchange (one
    * hash-partitioned count over chunk-proportional rows, the q25
    * exact-dedup shape). Chunk TEXT never leaves the row: only offsets
    * and the 32-char fingerprint are emitted, so the output is
    * provenance-sized, not corpus-sized.
    *
    * Determinism: pure integer window arithmetic (`div` for the chunk
    * count — `sequence(1,0)` descends in Spark, so `nChunks` is clamped
    * to >= 1 by construction for any non-empty token list) and md5 over
    * the space-joined tokens; no floats anywhere.
    */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 64,
      overlapTokens: Int = 16): DataFrame = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap $overlapTokens must be in [0, chunkTokens=$chunkTokens)")
    val stride = chunkTokens - overlapTokens
    val chunks = documents
      .select($"doc_id", TextAnalysis.tokens($"text").as("ts"))
      .withColumn("n_tok", size($"ts"))
      .filter($"n_tok" >= 1)
      // 1 + ceil((n_tok - chunk) / stride) via integer div, >= 1 always
      .withColumn("n_chunks",
        when($"n_tok" <= chunkTokens, lit(1))
          .otherwise(expr(s"1 + (n_tok - $chunkTokens + ${stride - 1}) div $stride")))
      .select($"doc_id", $"ts", $"n_tok",
        explode(sequence(lit(0), $"n_chunks" - 1)).as("chunk_idx"))
      .withColumn("start_tok", $"chunk_idx" * stride)
      .withColumn("len_tok",
        least(lit(chunkTokens), $"n_tok" - $"start_tok").cast("int"))
      .select($"doc_id", $"chunk_idx".cast("int").as("chunk_idx"),
        $"start_tok".cast("int").as("start_tok"), $"len_tok",
        md5(array_join(slice($"ts", $"start_tok" + 1, $"len_tok"), " "))
          .as("chunk_hash"))
    val dupCounts = chunks.groupBy($"chunk_hash").agg(count(lit(1)).as("n_dup"))
    chunks
      .join(dupCounts, Seq("chunk_hash"))
      .select($"doc_id", $"chunk_idx", $"start_tok", $"len_tok",
        $"chunk_hash", $"n_dup")
      .orderBy($"doc_id", $"chunk_idx")
  }

  // ---- HBOS multivariate outlier score (q258) -------------------------------

  /** Histogram-Based Outlier Score (Goldstein & Dengel 2012) over two
    * document features — n_chars and the whitespace token count (the
    * q249 feature pair): per feature, B equal-width bins over the global
    * [min, max]; a document's score is Σ_f −ln(density of its bin), high
    * where ANY feature lands in a thin bin. The MULTIVARIATE complement
    * to q135's univariate median/MAD rule — HBOS assumes feature
    * independence (that is its stated trade: linear cost, no covariance)
    * and catches the "individually normal, jointly rare" documents the
    * per-feature rules pass.
    *
    * Binning is EXACT integer arithmetic — bin = (v − vmin)·B div
    * (vmax − vmin + 1), guaranteed in [0, B−1] with every boundary an
    * integer decision (no float-edge ambiguity between engines). Two
    * corpus scans (feature extraction + scoring join); the per-bin
    * density frames are 2·B rows, broadcast. Top-k selection orders by
    * the score ROUNDED to 6 with doc_id tiebreak (engine-stable).
    */
  def hbosOutliers(documents: DataFrame): DataFrame = {
    val bins = 16
    val k = 20
    val feats = documents.select($"doc_id", $"n_chars".as("x"),
      size(TextAnalysis.tokens($"text")).cast("long").as("y"))
    val ext = feats.agg(min($"x").as("x0"), max($"x").as("x1"),
      min($"y").as("y0"), max($"y").as("y1"), count(lit(1)).as("n"))
    val binned = feats.crossJoin(broadcast(ext))
      .selectExpr("doc_id", "x", "y", "n",
        s"((x - x0) * $bins) div (x1 - x0 + 1) AS bx",
        s"((y - y0) * $bins) div (y1 - y0 + 1) AS by")
    val dx = binned.groupBy($"bx").agg(count(lit(1)).as("cx"))
    val dy = binned.groupBy($"by").agg(count(lit(1)).as("cy"))
    val scored = binned
      .join(broadcast(dx), Seq("bx"))
      .join(broadcast(dy), Seq("by"))
      .withColumn("score",
        -log($"cx".cast("double") / $"n") - log($"cy".cast("double") / $"n"))
    scored
      .select($"doc_id", $"x".as("n_chars"), $"y".as("n_tokens"),
        $"bx".as("bin_x"), $"by".as("bin_y"),
        round($"score", 6).as("hbos_score"))
      .orderBy($"hbos_score".desc, $"doc_id")
      .limit(k)
  }
}
