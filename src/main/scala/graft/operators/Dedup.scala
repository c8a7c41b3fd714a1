package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MinHashFunctions.{shingle_hashes, sorted_intersect_count}

/** Deduplication family for the training-data pipeline (SURVEY.md §2.2 ➕):
  * exact (content-hash groupBy), MinHash+LSH banding, SimHash, and exact
  * n-gram Jaccard. Operators whose OUTPUT depends on a hash (exact dedup's
  * fingerprint, SimHash signatures) use md5-derived values so the DuckDB
  * oracles recompute them identically; MinHash is internal-only (its output
  * is exact-Jaccard-verified), so it uses codegen'd xxhash64 for speed.
  *
  * Scale design:
  *   - exact dedup: one hash-shuffle on the fingerprint, no full-text
  *     comparisons.
  *   - set-similarity pairs (MinHash+LSH, exact Jaccard, containment): a
  *     candidate generator, then ONE exact verifier (`verifyOverlap`) over
  *     sorted shingle-hash sets. The generators stay separate: LSH band
  *     buckets expanded in place (q27's pair index), the incremental
  *     bucket equi-join (q74), df-ranked prefix filtering (`rarestPrefix`:
  *     q26's Jaccard self-join, q178's containment probes). Every relation
  *     past candidate generation is candidate-proportional, never
  *     all-pairs — the shape that survives 100 TB.
  *   - MinHash signatures are ONE fused codegen'd pass per document
  *     (native MinHashSignature expression — zero shuffles, no
  *     corpus×shingles intermediate).
  *   - SimHash: per-doc 32-bit signature via one aggregation, then pairs
  *     by pigeonhole bit-slice buckets (recall 1 by construction).
  */
object Dedup {

  /** Character n-gram shingles of `text` (default 5-grams), with
    * multiplicity. `transform(sequence(...))` stays inside codegen.
    */
  def shingleArray(text: Column, n: Int = 5): Column =
    transform(
      // clamp at 1: Spark's sequence(1, 0) would produce a *descending* [1,0]
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n)))

  /** Exact dedup by content fingerprint (md5 of normalized text): keep the
    * smallest doc_id per fingerprint group, report corpus-level dedup stats.
    * One hash-shuffle on the fingerprint, no text comparisons. Deduping the
    * operator's ACTUAL input is the production contract; the spec proves
    * duplicate collapse by feeding a self-unioned corpus (the fixtures
    * themselves are dup-free).
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .select($"doc_id", $"text")
      .groupBy(TextAnalysis.fingerprintCol($"text").as("fingerprint"))
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_unique"),
        sum($"n_copies").as("n_total"),
        sum(when($"n_copies" > 1, 1).otherwise(0)).as("n_dup_groups"))

  /** Exact n-gram Jaccard pairs: every (id1 < id2) with distinct-5-gram
    * Jaccard ≥ threshold, by EXACT prefix filtering (Bayardo et al.
    * WWW'07; Chaudhuri et al. SSJoin). Each doc keeps its `rarestPrefix`
    * (⌊(1−t+ε)·|A|⌋+1 rarest grams = |A| − ⌈(t−ε)|A|⌉ + 1); J ≥ t implies
    * |A∩B| ≥ t·max(|A|,|B|), so two qualifying docs share a prefix gram
    * under the one global (df, h) order, and recall is a theorem, not a
    * probability. Candidates are the prefix self-join on the gram, cut by
    * the length filter min(|A|,|B|) ≥ (t−ε)·max(|A|,|B|) (J ≤ min/max),
    * then verified exactly by `verifyOverlap`. Grams compare as 64-bit
    * xxhash values — exact up to hash collisions, which the string-gram
    * brute-force spec (PipelineSpec) would surface. At threshold 0 the
    * prefix is the whole set: the output is every pair sharing a gram.
    */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double = 0.6): DataFrame = {
    val sh = shingleSets(documents, ShingleLen) // prefix + two verify joins
    val pre = rarestPrefix(sh, threshold)
    val cands = pre.as("a")
      .join(pre.as("b"), $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .filter(least($"a.sz", $"b.sz") >= lit(threshold - 1e-6) * greatest($"a.sz", $"b.sz"))
      .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2"))
      .distinct()
    verifyOverlap(cands, sh)
      .select($"id1", $"id2", overlapJaccard)
      .filter($"jaccard" >= threshold)
      .orderBy($"id1", $"id2")
  }

  /** Sorted distinct shingle-hash sets (doc_id, hs) of `docs`: one fused
    * native pass per document (ShingleHashes), checkpointed because every
    * consumer references the sets twice (the two verify joins). The
    * repartition is the AQE-blindness guard: the input may arrive in one
    * partition (a parquet fixture, or a broadcast semi-join's probe side)
    * and AQE sizes by bytes, blind to the per-row hashing cost, so without
    * it the whole pass runs serially in a single task.
    */
  private def shingleSets(docs: DataFrame, n: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 2, $"doc_id")
      .select($"doc_id", shingle_hashes($"text", n).as("hs"))
      .localCheckpoint() // ROADMAP item 4 (c): two verify joins (and a prefix) read it

  /** `shingleSets` of the documents a candidate frame (id1, id2, …) names:
    * the corpus is SEMI-JOINED down to the candidate ids BEFORE shingling,
    * so only candidate-proportional data is shingled, shuffled or (if AQE
    * so decides) broadcast — never a corpus-proportional relation.
    */
  private def candidateSets(documents: DataFrame, candidates: DataFrame, n: Int): DataFrame = {
    val ids = candidates.select(explode(array($"id1", $"id2")).as("doc_id")).distinct()
    shingleSets(documents.join(ids, Seq("doc_id"), "left_semi"), n)
  }

  /** The one exact set-overlap verifier of the family: `candidates`
    * (id1, id2, extra columns…) against `sets` (doc_id, hs), returning the
    * candidates' columns plus i = |A∩B| (a native merge scan of the two
    * sorted hash arrays, computed once — no per-pair hash sets, no string
    * arrays on the wire), sz1 = |A| and sz2 = |B|. Both joins pin
    * shuffle_hash on the set side: the candidate frame's size estimate is
    * blind to its join/explode fan-out (the ×30 broadcast-of-candidates
    * failure, SURVEY §6.11; see Similarity.embeddingNearDupUnordered), so
    * the build is per-partition over the doc-proportional side and never
    * left to the estimator.
    */
  private def verifyOverlap(candidates: DataFrame, sets: DataFrame): DataFrame =
    candidates
      .join(sets.select($"doc_id".as("id1"), $"hs".as("hs1")).hint("shuffle_hash"), Seq("id1"))
      .join(sets.select($"doc_id".as("id2"), $"hs".as("hs2")).hint("shuffle_hash"), Seq("id2"))
      .select(candidates.columns.map(col) ++ Seq(
        sorted_intersect_count($"hs1", $"hs2").as("i"),
        size($"hs1").as("sz1"), size($"hs2").as("sz2")): _*)

  /** Jaccard of a verified pair, from `verifyOverlap`'s (i, sz1, sz2). */
  private def overlapJaccard: Column = round($"i" / ($"sz1" + $"sz2" - $"i"), 6).as("jaccard")

  /** The df-ranked prefix of every shingle set in `sh` (doc_id, hs):
    * (doc_id, sz, h) rows holding each doc's ⌊(1−t+ε)·sz⌋+1 globally
    * RAREST hashes, ordered by (df, h) — one total order shared by every
    * doc, ties broken by hash (deterministic). ε = 1e-6 covers the rounded
    * filters' boundary (round6(x) ≥ t admits x ≥ t − 5e-7). The same
    * length is the containment prefix (if every prefix gram misses B, more
    * than (1−t)·|A| of A is outside B) and the Jaccard prefix
    * |A| − ⌈(t−ε)|A|⌉ + 1 (J ≥ t implies |A∩B| ≥ t·|A|). Rarest-FIRST
    * minimizes the probe volume Σ_doc Σ_prefix df(h). df rides a count()
    * window over the one h-clustered exchange (r15, §2.4): a separate
    * groupBy(h) df table would exchange the posting mass twice.
    */
  private def rarestPrefix(sh: DataFrame, t: Double): DataFrame =
    sh
      .select($"doc_id", size($"hs").as("sz"), explode($"hs").as("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"h")))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"df", $"h"))).as("ranked"), first($"sz").as("sz"))
      .select($"doc_id", $"sz", explode(slice($"ranked", lit(1),
        (floor($"sz" * lit(1.0 - t + 1e-6)) + 1).cast("int"))).as("p"))
      .select($"doc_id", $"sz", $"p.h".as("h"))

  /** MinHash parameters: 126 hash functions in 21 bands of 6 rows.
    * h_s(doc) = min over shingles g of xxhash64(s, g) — the hash only has
    * to be a good random function (the verification step recomputes exact
    * Jaccard, so no cross-engine hash agreement is needed), which lets the
    * signature stage run on codegen'd 64-bit hashing instead of md5
    * strings.
    *
    * Banding selectivity: P(candidate | s) = 1 - (1-s^6)^21 — ~1 - 7e-6 at
    * s = 0.87 (full recall above the data's gap), ~1.3e-3 at the s ~ 0.2
    * background, so candidates stay near-linear in corpus size.
    */
  val NumHashes = 126
  val BandRows  = 6

  /** Character n-gram length of the near-dup pair index's shingles. */
  val ShingleLen = 5

  /** Candidate pairs from LSH banding, verified with exact Jaccard.
    * Signatures come from one fused codegen'd pass per document (native
    * MinHashSignature — no explode, no shuffle in the signature stage);
    * candidate generation is an equi-join on (band, bandKey) — never
    * all-pairs;
    * verification first SEMI-JOINS the corpus down to candidate doc ids and
    * only then shingles and joins, so every relation past the banding stage
    * is candidate-proportional (near-linear), never corpus-proportional.
    * This is the shape that holds at 100 TB.
    */
  def minhashLshPairs(documents: DataFrame): DataFrame =
    pairIndex(documents).orderBy($"id1", $"id2")

  private val PairIndexes = new SessionArtifacts.Kind[(DataFrame, DataFrame)]

  /** Session-scoped materialized pair index: the verified near-dup pairs of
    * a corpus, computed once per (corpus plan, threshold) per session and
    * reused by every consumer — q27's pair listing, q53's survivor
    * selection, q83's source matrix, and q84's capstone all analyze the SAME
    * pair set, and a production curation run materializes it once for
    * exactly this reason (it is the in-session analog of the persisted
    * `bandBuckets` incremental-ingest index). The one localCheckpointed
    * artifact holds (id1, id2, jaccard, i, sz1, sz2), the overlap counts
    * `verifyOverlap` computed, which q120 reads instead of re-shingling;
    * this is its (id1, id2, jaccard) projection, one frame per entry.
    * Cache memory is pair-proportional, never corpus-proportional; keys
    * and eviction follow [[SessionArtifacts]].
    */
  def pairIndex(documents: DataFrame, threshold: Double = 0.6): DataFrame =
    pairArtifact(documents, threshold)._2

  private def pairArtifact(documents: DataFrame, threshold: Double): (DataFrame, DataFrame) =
    SessionArtifacts.getOrBuild(PairIndexes, documents, threshold) {
      val o = minhashLshPairsUnordered(documents, ShingleLen, threshold)
        .localCheckpoint() // ROADMAP item 4 (c): the session's index consumers share it
      (o, o.select($"id1", $"id2", $"jaccard"))
    }

  /** Restrict a corpus pair index to a sub-corpus: near-dup pairs of a
    * SUBSET equal the full-corpus pairs with both endpoints in the subset —
    * an exact identity, because every stage of the pair pipeline is
    * per-pair-local (band keys are a function of one document's text;
    * candidate generation requires only the two documents to share a
    * bucket key; Jaccard verification is pairwise). Spec-asserted against
    * recomputing from scratch (PipelineSpec). The two semi-joins are
    * pair-proportional.
    */
  def restrictPairs(pairs: DataFrame, keepIds: DataFrame): DataFrame = {
    val ids = keepIds.select($"doc_id")
    pairs
      .join(ids.select($"doc_id".as("id1")), Seq("id1"), "left_semi")
      .join(ids.select($"doc_id".as("id2")), Seq("id2"), "left_semi")
      .select($"id1", $"id2")
  }

  /** The pair pipeline without the final canonical sort: the verified
    * pairs (id1, id2, jaccard) with `verifyOverlap`'s i, sz1 and sz2, the
    * frame [[pairIndex]] checkpoints.
    */
  private[graft] def minhashLshPairsUnordered(
      documents: DataFrame, n: Int, threshold: Double): DataFrame = {
    // Signatures come from the fused native expression inside bandBuckets —
    // ONE codegen'd pass per document, no shingle explode, no
    // corpus×shingles intermediate, no 126-way partial-min aggregate, and
    // (crucially) no shuffle at all in the signature stage: the only
    // remaining exchange in candidate generation is the bucket groupBy.
    // Bit-identical to the compositional explode+min formulation (see
    // MinHashSignature's scaladoc), so the banding math is unchanged. The
    // explicit repartition (in bandBuckets) spreads the compact doc rows
    // across all cores BEFORE the heavy per-row loop (the parquet fixture
    // may arrive in one partition, and AQE sizes by bytes, blind to
    // per-row compute cost).
    val buckets = bandBuckets(documents, n)
    // In-bucket pair expansion via groupBy + collect_list instead of a
    // bucket self-join: a self-join would compute the whole signature
    // subtree twice (exchange reuse does not fire across the deduplicated
    // self-join branches); this shape computes signatures once and shuffles
    // once on the bucket key. Bucket members are tiny by LSH design, so
    // the in-memory K^2 expansion per bucket is bounded.
    // Candidates are near-linear by LSH design — materialize them once so
    // the id semi-join and the verify join do not each re-run signatures.
    val candidates = buckets
      .groupBy($"band", $"bh")
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") > 1)
      // native one-pass pair expansion (interpreted HOF lambdas would
      // materialize K^2 structs through the interpreter per bucket)
      .select(explode(graft.functions.MinHashFunctions.pair_combinations($"ids")).as("p"))
      .select($"p.id1".as("id1"), $"p.id2".as("id2"))
      .distinct()
      .localCheckpoint() // ROADMAP item 4 (c): the id semi-join and the verify join read it
    // exact-Jaccard verification over the candidate slice; identical
    // jaccard values up to 64-bit hash collisions (the string-gram
    // brute-force spec would surface one)
    verifyOverlap(candidates, candidateSets(documents, candidates, n))
      .select($"id1", $"id2", overlapJaccard, $"i", $"sz1", $"sz2")
      .filter($"jaccard" >= threshold)
  }

  /** Containment refinement of the near-dup pair set: for every verified
    * pair, Jaccard PLUS the containment of the smaller shingle set in the
    * larger (|A∩B| / min(|A|,|B|)) and the size ratio — the asymmetric
    * structure Jaccard hides. A pair with containment ≈ 1 at a low size
    * ratio is a QUOTE/INCLUSION (one document embedded in another), which
    * a curation run treats differently from a mutual near-duplicate
    * (cut the span, don't drop the document; q97/q99 are that path).
    *
    * Shape: a projection of the session pair index, whose verified i, sz1
    * and sz2 depend on each document's own text only — no shingle set is
    * built and no join runs. Discovery of containment pairs OUTSIDE the
    * Jaccard candidate set needs asymmetric (bottom-k one-sided) sketching
    * — by design not offered here; this op refines what the index found.
    */
  def containmentRefine(documents: DataFrame): DataFrame =
    pairArtifact(documents, 0.6)._1
      .select($"id1", $"id2", $"jaccard",
        round($"i" / least($"sz1", $"sz2"), 6).as("containment"),
        round(least($"sz1", $"sz2") / greatest($"sz1", $"sz2"), 6).as("size_ratio"))
      .orderBy($"id1", $"id2")

  /** Weighted-Jaccard refinement of the near-dup pair set: for every
    * verified pair, the TOKEN-MULTISET similarity
    * J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) — the
    * term-frequency-aware score set-Jaccard hides. A pair that repeats the
    * same boilerplate paragraph ten times scores near 1 on distinct
    * shingles but much lower on J_w when the other document has it once;
    * curation uses the gap (w_jaccard vs jaccard) to separate "same text"
    * from "same vocabulary, different emphasis". Only Σmin needs the
    * cross-document join: Σ_t max = tot_a + tot_b − Σ_t min, so the whole
    * score costs one shared-token sum plus per-document token totals.
    *
    * Shape: rides the cached pair index (discovery stays set-Jaccard LSH —
    * like `containmentRefine`, this op refines what the index found; at a
    * tight weighted threshold use ICWS-class sketches for discovery,
    * deliberately out of scope). Token maps are built once per candidate
    * document (semi-join first, the verification pattern), the per-pair
    * Σmin is a map-lookup HOF over the smaller-side entries, and both map
    * joins pin shuffle_hash — the pair frame's size estimate is
    * explode-blind (the ×30 broadcast-of-candidates class), so a broadcast
    * build must never be left to the estimator. Pair-proportional end to
    * end; per-pair cost is one map traversal, the same volume class as the
    * shingle-array verify join.
    */
  def weightedJaccardRefine(documents: DataFrame): DataFrame = {
    val threshold = 0.6
    val parts = documents.sparkSession.sparkContext.defaultParallelism * 2
    val pairs = pairIndex(documents, threshold)
    val ids = pairs.select(explode(array($"id1", $"id2")).as("doc_id")).distinct()
    val docTf = TextAnalysis.termFrequencies(
        documents.join(ids, Seq("doc_id"), "left_semi").repartition(parts, $"doc_id"))
      .groupBy($"doc_id")
      .agg(map_from_entries(collect_list(struct($"term", $"tf"))).as("m"),
        sum($"tf").as("tot"))
      .localCheckpoint() // ROADMAP item 4 (c): both map joins below read it
    pairs
      .join(docTf.select($"doc_id".as("id1"), $"m".as("m1"), $"tot".as("tot1"))
        .hint("shuffle_hash"), Seq("id1"))
      .join(docTf.select($"doc_id".as("id2"), $"m".as("m2"), $"tot".as("tot2"))
        .hint("shuffle_hash"), Seq("id2"))
      .select($"id1", $"id2", $"jaccard", $"tot1", $"tot2",
        expr("""aggregate(map_entries(m1), CAST(0 AS BIGINT),
                (acc, e) -> acc + least(e.value,
                  coalesce(element_at(m2, e.key), CAST(0 AS BIGINT))))""")
          .as("smin"))
      .select($"id1", $"id2", $"jaccard",
        round($"smin" / ($"tot1" + $"tot2" - $"smin"), 6).as("w_jaccard"))
      .orderBy($"id1", $"id2")
  }

  /** Cross-source duplication matrix: near-dup pair counts per unordered
    * source pair — the curation analytic that answers "which crawls copy
    * from each other" before deciding what to drop. Pair generation is the
    * scalable LSH path; the metadata joins are PAIR-proportional (two
    * joins of the near-linear pair set against the doc_id→source
    * projection), never corpus×corpus.
    */
  def dupSourceMatrix(documents: DataFrame): DataFrame = {
    val meta = documents.select($"doc_id", $"source")
    pairIndex(documents)
      .join(meta.select($"doc_id".as("id1"), $"source".as("s1")), Seq("id1"))
      .join(meta.select($"doc_id".as("id2"), $"source".as("s2")), Seq("id2"))
      .select(least($"s1", $"s2").as("source_a"), greatest($"s1", $"s2").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_a", $"source_b")
  }

  /** Dedup endgame: collapse near-dup pairs into connected components and
    * pick one survivor per cluster (min doc_id). Iterative min-label
    * propagation over the pair edges — converges in O(log cluster-diameter)
    * rounds; the pair set is already near-linear (LSH output), so each
    * round is a small self-contained join, and the loop runs on the driver
    * only as orchestration (no data ever collects).
    *
    * Output: one row per document appearing in any near-dup pair, with the
    * cluster representative and whether the doc survives the dedup.
    */
  def nearDupSurvivors(documents: DataFrame): DataFrame =
    survivorsOverPairs(pairIndex(documents))

  /** Connected-component survivor selection over an arbitrary near-dup
    * pair set (the LSH index, or a restriction of it — q84's capstone
    * passes the kept-subset restriction).
    */
  def survivorsOverPairs(pairSet: DataFrame): DataFrame =
    componentLabels(pairSet)
      .select($"node".as("doc_id"), $"label".as("cluster_rep"),
        ($"node" === $"label").as("survives"))
      .orderBy($"doc_id")

  /** Session-scoped cache of the component labels per PAIR-SET PLAN —
    * the q194 kNN-graph pattern (round 13) applied to the components
    * loop (round 14): q53/q83/q108/q151/q162, the sampling and
    * governance consumers, and both capstones all label the SAME pair
    * frame, and each call used to re-run the whole pointer-jumping loop
    * (2+ localCheckpoints and one driver count per round). One label
    * pass per (session, pair-set plan) per session; entries are the
    * loop's own final checkpointed frame (node/label rows — pair-
    * proportional, the Lloyd-rule bound). Restricted pair sets (q84/
    * q147) key on their own checkpointed-plan identity and simply miss.
    */
  private val Components = new SessionArtifacts.Kind[DataFrame]

  private[graft] def componentLabels(pairSet: DataFrame): DataFrame =
    SessionArtifacts.getOrBuild(Components, pairSet)(buildComponentLabels(pairSet))

  /** One pointer-jumping components pass; returns the final checkpointed
    * (node, label) frame. See [[survivorsOverPairs]] for the contract.
    */
  private def buildComponentLabels(pairSet: DataFrame): DataFrame = {
    val pairs = pairSet.select($"id1", $"id2")
    // undirected edges both ways, materialized once rather than re-run
    // from the pair set's lineage in every round
    val edges = pairs
      .union(pairs.select($"id2", $"id1"))
      .toDF("src", "dst")
      .localCheckpoint() // ROADMAP item 4 (c): every propagation round joins it
    // Init = the first propagation round, folded into one aggregation:
    // label(v) = min(v, min direct neighbor) — no join needed because the
    // both-direction edge list already carries every neighbor of v as
    // (v, nbr). Saves a full join-round of plan compilation + checkpoint
    // versus starting from identity labels.
    var labels = edges
      .groupBy($"src")
      .agg(min($"dst").as("nbr_min"))
      .select($"src".as("node"), least($"src", $"nbr_min").as("label"))
      .localCheckpoint() // ROADMAP item 4 (b): the loop's first labels
    var changed = 1L
    while (changed > 0) {
      // Each node adopts the min label among itself, its neighbors, and
      // its LABEL's label (pointer jumping — path-halving doubles the
      // propagation distance per round, so rounds are O(log diameter)
      // rather than O(diameter); LSH near-dup clusters are near-cliques,
      // so in practice this converges in 1-2 rounds).
      // Checkpoint FIRST, then count changes on the materialized blocks —
      // counting the un-checkpointed frame would execute the round's join
      // pipeline twice (once for the count, once for the checkpoint)
      val next = edges
        .join(labels.withColumnRenamed("node", "dst2"), $"dst" === $"dst2")
        .groupBy($"src".as("node"))
        .agg(min($"label").as("nbr_label"))
        .join(labels, Seq("node"))
        .join(labels.select($"node".as("lbl_node"), $"label".as("lbl_label")),
          $"label" === $"lbl_node")
        .select($"node",
          least($"label", $"nbr_label", $"lbl_label").as("next_label"), $"label")
        .localCheckpoint() // ROADMAP item 4 (b): cuts the round's plan growth
      changed = next.filter($"next_label" =!= $"label").count()
      labels = next.select($"node", $"next_label".as("label"))
    }
    labels
  }

  /** Quality-aware canonicalization: within each near-dup cluster keep the
    * HIGHEST-QUALITY member (tie → smallest doc_id) instead of q53's
    * min-id convention — the survivor policy real curation runs use, where
    * "which copy survives dedup" decides what the model trains on.
    *
    * Shape: rides the same cached pair index and components labels as
    * q53/q83/q84; the quality join touches only cluster MEMBERS (pair-
    * proportional, a semi-join-sized probe of the corpus), and the
    * per-cluster argmax is one `max(struct)` aggregation — no window, no
    * per-cluster sort. doc_id is negated inside the struct so the max
    * breaks quality ties toward the smaller id.
    */
  def qualityCanonical(documents: DataFrame): DataFrame = {
    val members = survivorsOverPairs(pairIndex(documents))
      .select($"doc_id", $"cluster_rep")
    val scored = members.join(
      documents.select($"doc_id", TextAnalysis.qualityCol($"text").as("quality")),
      Seq("doc_id"))
    val best = scored
      .groupBy($"cluster_rep")
      .agg(max(struct($"quality", (-$"doc_id").as("neg_id"))).as("b"))
      .select($"cluster_rep", (-$"b.neg_id").as("canonical_id"),
        round($"b.quality", 4).as("canonical_quality"))
    scored
      // cluster-count-sized right side: let AQE choose broadcast when it
      // fits — at 100 TB the cluster table is duplicate-mass-proportional
      .join(best, Seq("cluster_rep"))
      .select($"doc_id", $"cluster_rep", $"canonical_id",
        ($"doc_id" === $"canonical_id").as("keeps"), $"canonical_quality")
      .orderBy($"doc_id")
  }

  /** Near-dup cluster-size distribution — the dedup QA report: how many
    * clusters of each size exist and how many documents they absorb. A
    * heavy tail here (one giant cluster) is the classic symptom of a
    * too-loose tau or boilerplate-dominated shingles, caught BEFORE the
    * survivor pass rewrites the corpus. Rides the cached pair index +
    * components labels; everything after the membership aggregation is
    * size-histogram-sized.
    */
  def clusterSizeDistribution(documents: DataFrame): DataFrame =
    survivorsOverPairs(pairIndex(documents))
      .groupBy($"cluster_rep")
      .agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum($"sz").as("n_docs"))
      .orderBy($"cluster_size")

  /** Dedup threshold-sensitivity sweep: from ONE pair-index build, the
    * pair and affected-document counts at every candidate threshold ≥ the
    * index's banding design point — the tuning table a curation run
    * consults before committing to a tau. Sweeping above the build
    * threshold is sound (banding recall only improves with similarity);
    * sweeping below it would undercount and is deliberately not offered.
    *
    * Shape: one aggregation pass over the cached pair index: k_t = each
    * endpoint's incident pairs with J ≥ t, then one global row with
    * n_docs(t) = #docs with k_t > 0 and n_pairs(t) = Σ k_t / 2 (two
    * endpoints per pair); a threshold no pair reaches reads zeros.
    */
  def thresholdSweep(documents: DataFrame): DataFrame = {
    val thresholds = Seq(0.6, 0.7, 0.8, 0.9)
    pairIndex(documents, thresholds.min)
      .select(explode(array($"id1", $"id2")).as("doc_id"), $"jaccard")
      .groupBy($"doc_id")
      .agg(array(thresholds.map(t => count(when($"jaccard" >= t, 1))): _*).as("k"))
      .agg(array(thresholds.indices.map { j =>
        struct(lit(thresholds(j)).as("threshold"),
          (coalesce(sum($"k"(j)), lit(0L)) / 2).cast("long").as("n_pairs"),
          count(when($"k"(j) > 0, 1)).as("n_docs"))
      }: _*).as("rows"))
      .select(explode($"rows").as("r"))
      .select($"r.threshold", $"r.n_pairs", $"r.n_docs")
      .orderBy($"threshold")
  }

  /** (doc_id, band, bh) LSH band-bucket rows — the persistable index side
    * of incremental dedup.
    */
  def bandBuckets(docs: DataFrame, n: Int = 5): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism * 2
    docs
      .repartition(parts, $"doc_id")
      // fused native band keys: signature + per-band xxhash64 fold in one
      // pass, no signature column, no 126-element_at expression tree
      // (bit-identical to the compositional form; FunctionsSpec)
      .select($"doc_id",
        posexplode(graft.functions.MinHashFunctions
          .minhash_band_keys($"text", n, NumHashes, BandRows)))
      .select($"doc_id", $"pos".cast("int").as("band"), $"col".as("bh"))
  }

  /** Incremental near-dup detection: find pairs between a NEW batch of
    * documents (doc_id < newIdCut) and the already-indexed corpus
    * (doc_id >= newIdCut) — the daily-ingest shape of LSH dedup, where the
    * corpus side's signatures/band buckets live in a persisted index and
    * only the new batch is signatured from scratch. Here both sides derive
    * from the same table (the fixture has no external index), but the
    * JOIN SHAPE is the incremental one: new-batch buckets equi-join the
    * corpus bucket table on (band, bandKey) — work is proportional to the
    * BATCH, never to corpus x corpus, and the corpus is re-read only for
    * the candidate verification semi-join.
    *
    * Same banding parameters and exact-Jaccard verification as
    * `minhashLshPairs`, so the full-recall-at-the-fixture-gap argument
    * (q27's oracle) carries over; the oracle is the new-vs-old restricted
    * all-pairs Jaccard.
    */
  def incrementalNearDupPairs(documents: DataFrame): DataFrame = {
    val newIdCut = 100L
    val newBuckets = bandBuckets(documents.filter($"doc_id" < newIdCut), ShingleLen)
      .withColumnRenamed("doc_id", "new_id")
    val oldBuckets = bandBuckets(documents.filter($"doc_id" >= newIdCut), ShingleLen)
      .withColumnRenamed("doc_id", "old_id")
    val candidates = newBuckets
      .join(oldBuckets, Seq("band", "bh"))
      .select($"new_id".as("id1"), $"old_id".as("id2"))
      .distinct()
      .localCheckpoint() // ROADMAP item 4 (c): the id semi-join and the verify join read it
    verifyOverlap(candidates, candidateSets(documents, candidates, ShingleLen))
      .select($"id1".as("new_id"), $"id2".as("old_id"), overlapJaccard)
      .filter($"jaccard" >= 0.6)
      .orderBy($"new_id", $"old_id")
  }

  /** 32-bit SimHash: bit i = sign of the +-1 sum over shingles (with
    * multiplicity) of parity(md5(g)[i]) — engine-independent integer
    * arithmetic, computed by the fused native SimHashSignature expression
    * in ONE codegen'd pass per document: no shingle explode, no per-shingle
    * hex strings, no 32-column aggregate, no shuffle at all in the
    * signature stage (bit-compatibility with the explode+aggregate
    * formulation proven in FunctionsSpec). The explicit repartition spreads
    * the compact doc rows before the heavy per-row loop.
    */
  def simhashSignatures(documents: DataFrame): DataFrame =
    documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism * 2, $"doc_id")
      .select($"doc_id",
        graft.functions.MinHashFunctions.simhash_signature($"text", 5).as("sig"))

  /** Near-dup pairs by SimHash hamming distance <= maxHamming, via
    * pigeonhole banding: split the 32-bit signature into maxHamming+1
    * disjoint bit-slices — any pair within the hamming budget matches at
    * least one slice EXACTLY, so candidates come from an equi-join on
    * (slice index, slice value) instead of the all-pairs cross product, and
    * recall is 1 by construction (not probabilistic). The exact bit_count
    * filter then drops slice-collision false positives. Identical output to
    * the all-pairs formulation (and to the DuckDB all-pairs oracle), with
    * near-linear work at corpus scale.
    */
  def simhashPairs(documents: DataFrame): DataFrame = {
    val maxHamming = 1
    val bands = maxHamming + 1
    val bandBits = 32 / bands
    val sig = simhashSignatures(documents)
    val sliced = sig.select($"doc_id", $"sig",
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("slice"),
          shiftright($"sig", b * bandBits).bitwiseAND(lit((1L << bandBits) - 1)).as("sv"))
      }: _*)).as("bb"))
      .select($"doc_id", $"sig", $"bb.slice".as("slice"), $"bb.sv".as("sv"))
    // groupBy + in-bucket expansion (not a self-join): computes the
    // signature subtree once and shuffles once on (slice, value). The
    // expansion is the native keyed pair expression — one tight loop
    // carrying each member's signature, same unified shape as the MinHash
    // and embedding paths (interpreted HOF lambdas would materialize K^2
    // structs through the interpreter per bucket); parallel collect_lists
    // keep ids and signatures index-aligned (same-row-order buffer
    // updates).
    sliced
      .groupBy($"slice", $"sv")
      .agg(collect_list($"doc_id").as("ids"), collect_list($"sig").as("sigs"))
      .filter(size($"ids") > 1)
      .select(explode(
        graft.functions.MinHashFunctions.pair_combinations_keyed($"ids", $"sigs")).as("p"))
      .select($"p.id1".as("id1"), $"p.id2".as("id2"),
        expr("bit_count(p.p1 ^ p.p2)").cast("int").as("hamming"))
      .distinct() // a pair can match in several slices
      .filter($"hamming" <= maxHamming)
      .orderBy($"id1", $"id2")
  }

  /** One-document containment SEARCH: given a query document (by id),
    * find every corpus document containing at least `tau` of the
    * query's distinct shingles — the on-demand plagiarism/provenance
    * lookup ("where did this paragraph come from?"). Distinct from the
    * pair-set operators: q120 REFINES already-discovered near-dup pairs
    * with containment, while this searches the whole corpus for
    * one-sided containment of a single query — which is tractable
    * per-query precisely because the query side is ONE document (its
    * shingle set broadcasts), whereas all-pairs one-sided containment
    * discovery would need asymmetric sketching and is deliberately not
    * offered (q120's scaladoc states why).
    *
    * Shape: the query's distinct shingles broadcast; the corpus scan
    * semi-joins its shingles against them (codegen'd explode + hash
    * probe, no shuffle before the per-doc count), then one map-side-
    * combined aggregation. Corpus-linear, query-proportional state.
    */
  def containmentSearch(documents: DataFrame): DataFrame = {
    val queryDocId = 0L
    val n = 5
    val tau = 0.5
    val qShingles = documents
      .filter($"doc_id" === queryDocId)
      .select(explode(array_distinct(shingleArray($"text", n))).as("g"))
      .distinct()
    val qSize = qShingles.agg(count(lit(1)).as("q_size"))
    documents
      .filter($"doc_id" =!= queryDocId)
      // per-doc distinct happens INSIDE the row (array_distinct) — a
      // corpus-wide distinct() here would shuffle corpus×shingles rows
      // for a set operation that is per-document by definition
      .select($"doc_id", explode(array_distinct(shingleArray($"text", n))).as("g"))
      .join(broadcast(qShingles), Seq("g"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .crossJoin(broadcast(qSize))
      .select($"doc_id", $"n_shared", $"q_size",
        round($"n_shared" / $"q_size", 6).as("containment"))
      .filter($"containment" >= tau)
      .orderBy($"doc_id")
  }

  /** Near-dup graph shape audit: triangles vs open wedges over the
    * verified pair graph. A high global clustering coefficient
    * (3·triangles/wedges) means duplicate groups are CLIQUES — mutual
    * duplicates, safe to collapse to one canonical doc; a low one means
    * CHAINS (A~B~C without A~C), the signature of a threshold sitting on
    * the similarity boundary, where transitive survivor-dropping (q53)
    * merges documents that never matched each other. The graph-level
    * counterpart of q118's size histogram and q120's per-pair
    * containment.
    *
    * Shape: rides the cached pair index; degrees/wedges are one
    * aggregation over the edge list; triangles are two hash equi-joins
    * with the a<b<c orientation (each triangle counted once). Near-dup
    * graphs have dedup-bounded component sizes, so the join fan-out is
    * small by construction; on a general hub-heavy graph the same plan
    * runs with degree orientation (orient edges toward the
    * higher-degree endpoint) to bound it — same joins, different
    * ordering key.
    */
  def dupGraphShape(documents: DataFrame): DataFrame = {
    val edges = pairIndex(documents).select($"id1", $"id2")
    val deg = edges.select($"id1".as("node"))
      .unionAll(edges.select($"id2".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      // integer div: deg·(deg−1) is even, and long arithmetic stays exact
      // where a double sum would not at extreme degree counts
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).cast("long").as("n_wedges"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), $"e1.id2" === $"e2.id1")
      .join(edges.as("e3"),
        $"e3.id1" === $"e1.id1" && $"e3.id2" === $"e2.id2")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    nEdges
      .crossJoin(wedges)
      .crossJoin(tri)
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        when($"n_wedges" === 0, lit(0.0))
          .otherwise(round(lit(3.0) * $"n_triangles" / $"n_wedges", 6))
          .as("clustering"))
  }

  /** PageRank centrality over the verified near-dup graph — the
    * canonical-document picker's importance signal: within a duplicate
    * cluster, the doc most linked-to by other near-dups is the best
    * canonical (q53's priority rule picks by id; rank picks by graph
    * position — hubs of template families surface first). Restricted to
    * the subgraph of docs with >= 1 near-dup edge, so every node has
    * out-degree >= 1 both ways (undirected edges symmetrized) and there
    * is NO dangling mass to redistribute — the classic complication
    * priced away by construction.
    *
    * Fully INTEGER arithmetic in micro-units, engine-exact with no
    * transcendental and no float sum anywhere: d = 17/20, per-node seed
    * `1e6 div N`, teleport base `0.15e6 div N`, per-edge contribution
    * `rank div deg` (floor), update `base + (17·Σcontrib) div 20`.
    * Floor division loses ≤1 micro-unit per term — rank MASS is not
    * conserved to the unit, but the values (and hence any ranking) are
    * bit-identical across engines and aggregation orders, which is what
    * the oracle gate needs; the oracle unrolls the iterations as
    * MATERIALIZED CTEs with the same `//` arithmetic.
    *
    * Scale shape: rides the cached pair index; per iteration ONE
    * edge⋈rank hash join + ONE groupBy(dst) sum — Pregel's
    * scatter/gather as two exchanges over edge-proportional rows, rank
    * state stays fully distributed (no driver collect at all; the only
    * scalar is the one-row node count). Iterations are a fixed small
    * constant (4), so the plan is 4 chained join+agg stages — AQE
    * handles skewed hub degrees the same way it does every other join.
    */
  def neardupPagerank(documents: DataFrame): DataFrame = {
    val pairs = pairIndex(documents).select($"id1", $"id2")
    val edges = pairs.select($"id1".as("src"), $"id2".as("dst"))
      .unionAll(pairs.select($"id2".as("src"), $"id1".as("dst")))
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    val nNodes = deg.count() // 1-row scalar over the cached index
    val r0 = if (nNodes == 0) 0L else 1000000L / nNodes
    val base = if (nNodes == 0) 0L else 150000L / nNodes
    var ranks = deg.select($"node", $"deg", lit(r0).as("rank_m"))
    for (_ <- 1 to 4) {
      val contrib = ranks.select($"node".as("src"), expr("rank_m div deg").as("c"))
      val inSum = edges.join(contrib, Seq("src"))
        .groupBy($"dst".as("node"))
        .agg(sum($"c").as("s"))
      ranks = deg.join(inSum, Seq("node"))
        .select($"node", $"deg",
          (lit(base) + expr("(17 * s) div 20")).as("rank_m"))
    }
    ranks.select($"node".as("doc_id"), $"deg", $"rank_m".as("rank_micro"))
      .orderBy($"doc_id")
  }

  /** Rank-aware canonicalization — q151's centrality consumed as a
    * survivor POLICY rather than a report: within each near-dup cluster
    * keep the member with the highest PageRank (tie → smallest doc_id).
    * Where q53 picks by id convention and q108 by content quality, rank
    * picks by graph position — the hub a template family radiates from
    * is usually the original, and it wins here even when a mutated copy
    * happens to score better on surface quality.
    *
    * Shape: rides the SAME session pair index as the whole q27 family —
    * `survivorsOverPairs` gives the membership, `neardupPagerank` the
    * rank frame (both edge-derived, so the join on doc_id is total by
    * construction: every cluster member has ≥ 1 edge and vice versa).
    * The per-cluster argmax is one `max(struct)` aggregation (id negated
    * for the tie; no window, no per-cluster sort), and the final join's
    * right side is cluster-count-sized — duplicate-mass-proportional at
    * any corpus scale, like q108.
    */
  def rankCanonical(documents: DataFrame): DataFrame = {
    val members = survivorsOverPairs(pairIndex(documents))
      .select($"doc_id", $"cluster_rep")
    val ranks = neardupPagerank(documents)
      .select($"doc_id", $"rank_micro")
    val scored = members.join(ranks, Seq("doc_id"))
    val best = scored
      .groupBy($"cluster_rep")
      .agg(max(struct($"rank_micro", (-$"doc_id").as("neg_id"))).as("b"))
      .select($"cluster_rep", (-$"b.neg_id").as("canonical_id"),
        $"b.rank_micro".as("canonical_rank"))
    scored
      .join(best, Seq("cluster_rep"))
      .select($"doc_id", $"cluster_rep", $"canonical_id",
        ($"doc_id" === $"canonical_id").as("keeps"),
        $"rank_micro", $"canonical_rank")
      .orderBy($"doc_id")
  }

  /** Containment DISCOVERY — the asymmetric search `containmentRefine`
    * declines: find (contained, container) pairs with shingle
    * containment |A∩B|/|A| ≥ `tau` even when Jaccard is far below the
    * near-dup band (a short document quoted inside a long one has
    * containment ≈ 1 and Jaccard ≈ |A|/|B| — invisible to symmetric
    * MinHash banding by construction).
    *
    * Blocking: EXACT df-ordered prefix filtering (Chaudhuri et al.
    * SSJoin / Bayardo et al. WWW'07, adapted to containment): each doc
    * probes the inverted posting index with its `rarestPrefix` — the
    * ⌊(1−τ+ε)·|A|⌋+1 globally-RAREST shingles, ties by hash. Recall is a
    * THEOREM, not a probability: if every probe misses B then more than
    * (1−τ)|A| of A's shingles are outside B, so containment < τ — a
    * qualifying pair always shares a probe. Probabilistic rarest-m was
    * tried first and REJECTED by measurement: rare shingles are
    * correlated with being exactly the mutated part a container lacks,
    * and m=3 missed 8/511 fixture pairs — bias the independence argument
    * misses. Unlike q26's Jaccard prefix self-join, the probes meet the
    * FULL posting list: containment is one-sided, so B's side cannot be
    * cut to its prefix.
    *
    * Scale: the posting index is shingle-mass-proportional — the
    * honest price of asymmetric discovery (symmetric banding cannot
    * find these pairs at any price); probes are ~(1−τ) of the shingle
    * mass. Verification is `verifyOverlap` over candidate pairs only,
    * normalized UNORDERED first — the verify join ships both shingle
    * arrays per pair, so the (a,b)/(b,a) dedup halves its bytes and one
    * merge-scan intersection feeds both directions (measured 23.4 →
    * 15.6 s at sf0.1). Fixture honesty: this corpus is a WORST CASE —
    * its synthetic 5-gram vocabulary is only ~2k types for 5k docs, so
    * almost every pair truly shares rare shingles and exact-recall
    * blocking is bounded below by that density (measured: 26M probe
    * volume → 6M unordered candidates for 511 output rows). Real text
    * grows vocabulary with corpus size and posting selectivity holds;
    * on degenerate data the cost is the exactness, not the plan.
    */
  def containmentDiscover(documents: DataFrame): DataFrame = {
    val tau = 0.9
    val sh = shingleSets(documents, ShingleLen) // probes + postings + two verify joins
    val probes = rarestPrefix(sh, tau)
      .select($"doc_id".as("contained_id"), $"sz".as("sza"), $"h")
    // candidates are normalized UNORDERED before the heavy stage: the
    // verify join ships both shingle arrays per pair, so deduping
    // (a,b)/(b,a) halves its volume; each surviving pair re-expands to
    // the directions that pass. Recall: a qualifying a→b pair shares
    // one of a's prefix probes with b, so the unordered pair enters
    // from a's probe side (and b→a from b's) — both directions ride
    // one intersection.
    // r15 size prune (guide §3.2 pre-filter): direction a→b can only
    // reach containment τ if |B| ≥ (τ−ε)·|A| (i ≥ (τ−5e-7)·|A| after
    // the round-to-6 filter, and i ≤ min(|A|,|B|)); each true direction
    // enters via its OWN probe side carrying its own (sza, szb), so
    // filtering directed candidates before the unordered dedup drops
    // no qualifying pair while cutting the distinct exchange AND the
    // array-shipping verify volume (the filter runs map-side on the
    // candidate join's output, before any further shuffle).
    val cands = probes
      .join(sh.select($"doc_id".as("container_id"), size($"hs").as("szb"),
        explode($"hs").as("h")), Seq("h"))
      .filter($"contained_id" =!= $"container_id" &&
        $"szb" >= (lit(tau) - lit(1e-6)) * $"sza")
      .select(least($"contained_id", $"container_id").as("id1"),
        greatest($"contained_id", $"container_id").as("id2"))
      .distinct()
      .localCheckpoint() // ROADMAP item 4 (d): one consumer; removal not yet measured
    def dir(a: Column, b: Column, sza: Column) =
      struct(a.as("contained_id"), b.as("container_id"),
        round($"i" / sza, 6).as("containment"), overlapJaccard)
    // A POSTING-EXPLOSION intersection (candidates explode through the
    // posting index and count (id2, h) matches — no resident shingle
    // arrays) was A/B'd against this verify in round 12 and LOST
    // decisively: arrays 12.4–57.5 s vs explode 132.6–260.0 s at sf0.1,
    // at HIGHER heap (SURVEY §6.20; code at 56418f6).
    // A sequential "verify wave" dial (hash-partition the candidates,
    // materialize one slice's post-filter result before the next) was
    // built and MEASURED here in rounds 8–9 as the suspect fix for
    // q178's bench variance — and removed on the evidence: at sf0.1 the
    // waves=4 gain (~20–30% after a heavy-allocation history) sits
    // inside the box's ±40% run-to-run band, and at ×10 data waves=4
    // measured 1.6× SLOWER than the single join (133 s vs 85 s — the
    // extra scans of the checkpointed candidate set cost more than the
    // reduced peak live array volume saves at a 32g heap). Tables:
    // SURVEY §6.11; code at 56418f6.
    verifyOverlap(cands, sh)
      // one merge-scan intersection feeds both directions (explode)
      .select(explode(array(
        dir($"id1", $"id2", $"sz1"),
        dir($"id2", $"id1", $"sz2"))).as("r"))
      .select($"r.contained_id", $"r.container_id", $"r.containment", $"r.jaccard")
      .filter($"containment" >= tau)
      .orderBy($"contained_id", $"container_id")
  }

  /** Heaps-law containment fixture (q302): a deterministic synthetic
    * corpus derived from the document ids where VOCABULARY GROWS WITH
    * CORPUS SIZE — the property the raw fixture corpus lacks (its ~2k
    * 5-gram types over 5k docs make nearly every pair share rare
    * shingles, so the q178 bench head measures spill behavior on
    * degenerate data instead of the prefix-filter plan; SURVEY §6.11).
    * Token j of doc d is `w((d·131 + j·97) mod (d + 50))`: the modulus
    * grows with d, so later documents draw from a larger token space
    * (corpus vocabulary ≈ N + 50 types — Heaps with β ≈ 1) while small
    * token ids stay common across all documents (a Zipf-flavored df
    * decay: df(z) ~ Σ_{d ≥ z−50} len(d)/(d+50)). Document length is
    * 30 + d mod 40 tokens. Every doc with d ≡ 3 (mod 10) is a PLANTED
    * CONTAINMENT: its text is the first ⌊len/2⌋+2 tokens of doc d−3's
    * stream — a strict text prefix, so its distinct 5-gram set is a
    * subset of the container's and containment is exactly 1.0 (the
    * short-quoted-in-long case the discovery op exists for).
    * Integer-only arithmetic renders the identical corpus in both
    * engines; the q302 oracle re-derives it in SQL and runs the q178
    * exact all-pairs gate on it.
    */
  def heapsContainmentCorpus(documents: DataFrame): DataFrame = {
    val isContained = $"doc_id" % 10 === 3 && $"doc_id" >= 3
    documents.select($"doc_id")
      .withColumn("src", when(isContained, $"doc_id" - 3L).otherwise($"doc_id"))
      .withColumn("srclen", lit(30L) + ($"src" % 40L))
      .withColumn("len",
        when(isContained, expr("srclen div 2") + 2L).otherwise($"srclen"))
      .select($"doc_id", concat_ws(" ",
        transform(sequence(lit(0L), $"len" - 1L),
          // md5-RENDERED tokens (round-12 lesson from the sf1eq sweep):
          // decimal rendering of token ids drawn from a NARROW numeric
          // range (e.g. 1e7-offset replica ids ⇒ z ∈ [9.99e6, 1.0005e7])
          // keeps ~4 digit positions constant across the whole corpus
          // slice, so 5-grams covering those positions hit df ≈ corpus
          // and the exact-oracle gram join degenerates quadratically
          // (measured Σdf² 8.2e10 at 50k docs; digit REVERSAL just moves
          // the constant run to the other end — same Σdf²). A 6-hex-char
          // md5 prefix of the id varies uniformly in EVERY character
          // position for any id distribution; md5 is the repo's
          // established cross-engine string device, and gram sharing is
          // then driven by shared token SEQUENCES — the intended
          // semantics.
          j => concat(lit("w"), substring(
            md5((($"src" * 131L + j * 97L) % ($"src" + 50L)).cast("string")),
            1, 6))))
        .as("text"))
  }

  /** Core-number (k-core) decomposition of the near-dup graph — the
    * density diagnostic behind "which duplicate neighborhoods are
    * templated swamps vs loose chains": core(v) = the largest k such
    * that v survives in a subgraph of minimum degree ≥ k. High-core
    * regions are mutually-similar template families (every member near
    * every other); low-core chains are drift sequences — the two need
    * different curation policies, and degree alone cannot tell them
    * apart (a hub in a star has high degree and core 1).
    *
    * Algorithm: the iterated neighborhood h-index (Lü et al. 2016,
    * "The H-index of a network, and its relation to degree and
    * coreness"): c₀ = degree; c_{t+1}(v) = H({c_t(u) : u ~ v}); the
    * sequence is pointwise non-increasing and converges to core(v).
    * Peeling needs a data-dependent number of sequential deletions;
    * the h-operator is one bulk-synchronous step — exactly Spark's
    * model — and `rounds` fixed at 8 makes both engines compute the
    * SAME truncation (the spec asserts the fixture reaches the true
    * peeling fixed point well inside that budget).
    *
    * Shape: rides the session pair index; each round is one
    * edge⋈values join, a per-node rank window, and a max aggregation —
    * pair-proportional, rank state fully distributed, no driver
    * scalars at all. The h-index itself is the max over
    * descending-sorted neighbor values of min(value, rank) — windowed,
    * never collected.
    */
  def kcoreDecomposition(documents: DataFrame, rounds: Int = 8): DataFrame = {
    val pairs = pairIndex(documents).select($"id1", $"id2")
    val edges = pairs.select($"id1".as("src"), $"id2".as("dst"))
      .unionAll(pairs.select($"id2".as("src"), $"id1".as("dst")))
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    var c = deg.select($"node", $"deg".as("c"))
    for (_ <- 1 to rounds) {
      val w = Window.partitionBy($"dst").orderBy($"c".desc)
      c = edges.join(c.withColumnRenamed("node", "src"), Seq("src"))
        .select($"dst", $"c")
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy($"dst".as("node"))
        .agg(max(least($"c", $"rn")).as("c"))
    }
    deg.join(c, Seq("node"))
      .select($"node".as("doc_id"), $"deg", $"c".as("core"))
      .orderBy($"doc_id")
  }

  /** Dedup method-agreement report: the MinHash+Jaccard pair set (q27)
    * vs the SimHash pair set (q28), classified both / minhash_only /
    * simhash_only — the QA view that tells an operator whether the two
    * families see the same duplicate structure before one of them is
    * trusted with a corpus rewrite (SimHash's bit-parity signature reads
    * GLOBAL 5-gram overlap, so low-Jaccard pairs can still collide:
    * each exclusive class is a real disagreement mode, not noise).
    *
    * Shape: both pair pipelines are candidate-proportional (and the
    * MinHash side rides the session pair index); the agreement join and
    * rollup run over the two pair sets — pair-proportional end to end.
    */
  def methodAgreement(documents: DataFrame): DataFrame = {
    val mh = minhashLshPairs(documents)
      .select($"id1", $"id2", lit(true).as("in_mh"))
    val sh = simhashPairs(documents)
      .select($"id1", $"id2", lit(true).as("in_sh"))
    mh.join(sh, Seq("id1", "id2"), "full_outer")
      .select(
        when($"in_mh".isNotNull && $"in_sh".isNotNull, "both")
          .when($"in_mh".isNotNull, "minhash_only")
          .otherwise("simhash_only").as("agreement"))
      .groupBy($"agreement")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"agreement")
  }

  /** Normalization-aware exact dedup (the C4/CCNet canonicalization step
    * that runs BEFORE fingerprinting): casefold, strip non-alphanumerics,
    * collapse whitespace, then md5 — vs the raw md5 the naive pass uses.
    * Web crawls re-serve the same article with different capitalization,
    * smart quotes, and trailing boilerplate punctuation; raw hashing
    * counts those as distinct documents and the near-dup pass then pays
    * LSH prices for what a canonical form would have merged for free.
    *
    * The synthetic corpus has no natural case/punct variants (verified:
    * raw-unique == norm-unique on the fixture), so — like q25's
    * self-union law — the query PLANTS its own: every 10th doc re-enters
    * uppercased with punctuation padding and a shifted id. Raw
    * fingerprints keep all variants distinct; the normalized pass must
    * merge exactly the planted pairs (plus any real variants the corpus
    * grows at larger scales — the report stays exact either way).
    *
    * Scale shape: one projection computes both fingerprints in the same
    * codegen'd pass, then a per-source exact count-distinct — two
    * shuffles of (source, fp) pairs, no pairing, no index; the variant
    * union is a second scan of the filtered tenth, not a cached copy.
    */
  def normalizedDedup(documents: DataFrame): DataFrame = {
    val base = documents.select($"doc_id", $"text", $"source")
    val variants = base
      .filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"),
        concat(lit("  "), upper($"text"), lit(" !!")).as("text"), $"source")
    val norm = trim(regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " "))
    base.unionByName(variants)
      .select($"source", md5($"text").as("raw_fp"), md5(norm).as("norm_fp"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"raw_fp").as("n_unique_raw"),
        countDistinct($"norm_fp").as("n_unique_norm"))
      .select($"source", $"n_docs", $"n_unique_raw", $"n_unique_norm",
        ($"n_unique_raw" - $"n_unique_norm").as("n_merged_by_norm"))
      .orderBy($"source")
  }
}
