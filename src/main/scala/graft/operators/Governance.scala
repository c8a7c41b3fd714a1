package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-governance operators: right-to-erasure (GDPR art. 17 / CCPA
  * §1798.105 deletion) propagated through the SERVING artifacts without
  * full rebuilds. At 100 TB you cannot re-ingest the corpus every time a
  * deletion request arrives; the production contract is
  *
  *   1. serve-time TOMBSTONES — the delete list (tiny, broadcastable)
  *      anti-joins the index rows at query time, and every
  *      corpus-dependent statistic (df, N, avgdl for BM25) recomputes
  *      from SURVIVING rows, so tombstone serving is bit-for-bit the
  *      ranking a re-ingest of the filtered corpus would produce (the
  *      law q163's oracle checks); and
  *   2. periodic COMPACTION — physically drop tombstoned rows, after
  *      which serving with an empty delete list equals tombstone serving
  *      of the originals. No registered query compacts, so this module
  *      implements the tombstone half only.
  *
  * The reference engine (D/Program.cs) has no deletion story at all —
  * this family is part of the pipeline-scale extension surface.
  *
  * Scale shape: the delete list is requests-proportional (thousands of
  * rows against billions), so every anti-join here broadcasts it; no new
  * shuffle is introduced anywhere — tombstoning adds one broadcast hash
  * join per index scan.
  */
object Governance {

  /** Deterministic stand-in for the exogenous erasure-request list. Real
    * deletion requests arrive from a compliance system keyed by document
    * id; the fixture has no such feed, so the registered queries model it
    * as a fixed congruence class (`doc_id % modulus == residue`, ~2.4% of
    * the corpus) — exogenous in shape (an id list with no
    * derivable content signal), trivial for the oracle to reproduce.
    */
  def erasureRequests(documents: DataFrame): DataFrame = {
    val modulus = 41L
    val residue = 3L
    documents.select($"doc_id").filter($"doc_id" % modulus === residue)
  }

  /** q163: BM25 ranking under erasure tombstones applied at the INDEX-ROW
    * grain — the delete list anti-joins the bag-of-words index's
    * `TextAnalysis.termFrequencies` and `docLengths` frames, NOT the raw
    * text, exactly as a serving tier would treat a persisted index it
    * cannot rebuild. The ranking core is `TextAnalysis.bm25Rank` — the
    * same code path as q79 — so df/N/avgdl recompute from surviving rows
    * and the result is bit-identical to re-ingesting the filtered corpus
    * (which is what the DuckDB oracle computes).
    */
  def erasureBm25(documents: DataFrame, deletes: DataFrame): DataFrame = {
    val del = broadcast(deletes.select($"doc_id"))
    val dl = TextAnalysis.docLengths(documents).join(del, Seq("doc_id"), "left_anti")
    val tf = TextAnalysis.termFrequencies(documents)
      .filter($"term".isin(TextAnalysis.Bm25SeedQuery: _*))
      .join(del, Seq("doc_id"), "left_anti")
    TextAnalysis.bm25Rank(tf, dl, 20)
  }

  /** q165: near-dup survivor selection under erasure — tombstones applied
    * at the PAIR-INDEX grain, completing the family across the third
    * serving stack (lexical q163, vector PQ, and here the dedup graph).
    * The session pair index is built once per corpus and NOT re-banded on
    * delete; erasure drops every pair touching a deleted id
    * (`Dedup.restrictPairs` — two pair-proportional semi-joins) and
    * re-runs connected components on the surviving edges. The semantic
    * content: a deleted document may be the BRIDGE holding a cluster
    * together, so components must split exactly as a full re-run on the
    * filtered corpus would — which is an exact identity here, because
    * every stage of the pair pipeline is per-pair-local (the
    * `restrictPairs` law). The oracle states it as q53's recursive
    * components over the all-pairs set with both endpoints retained.
    */
  def erasureSurvivors(documents: DataFrame, deletes: DataFrame): DataFrame = {
    val retained = documents.select($"doc_id")
      .join(broadcast(deletes.select($"doc_id")), Seq("doc_id"), "left_anti")
    Dedup.survivorsOverPairs(
      Dedup.restrictPairs(Dedup.pairIndex(documents), retained))
  }

  /** q164: per-source erasure-impact audit — the compliance report a
    * deletion batch ships with: how many documents and how much token
    * mass each source loses, and the retained fraction in exact ppm.
    * One broadcast outer join to flag deletions, one map-side-combined
    * aggregation; integer arithmetic throughout except the final ppm
    * ratio (rounded to a long).
    */
  def erasureAudit(documents: DataFrame, deletes: DataFrame): DataFrame = {
    val del = broadcast(deletes.select($"doc_id").withColumn("del1", lit(1L)))
    documents
      .select($"source", $"doc_id", size(TextAnalysis.tokens($"text")).cast("long").as("toks"))
      .join(del, Seq("doc_id"), "left_outer")
      .select($"source", $"toks", coalesce($"del1", lit(0L)).as("del"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"del").cast("long").as("n_erased"),
        sum($"toks").cast("long").as("tokens_total"),
        sum($"toks" * $"del").cast("long").as("tokens_erased"))
      .withColumn("retained_ppm",
        round(lit(1e6) * ($"tokens_total" - $"tokens_erased") / $"tokens_total", 0)
          .cast("long"))
      .orderBy($"source")
  }

  /** ANALYZE-style table profile — the per-column statistics a catalog
    * (and a cost-based optimizer, and a data-quality monitor) wants:
    * row count, null count, EXACT distinct count, and min/max per
    * column, one output row per column.
    *
    * Type dispatch: numerics profile in their own value space (cast to
    * double — exact for the fixture ranges), timestamps in epoch-MICROS
    * space (`unix_micros`; string-formatting a timestamp is engine-
    * dependent, the integer is not), strings/dates/booleans
    * lexicographically via `min_str`/`max_str`; non-atomic types (array,
    * struct, binary) get counts only — their casts are not portable.
    *
    * Shape: the per-column frames union into an unpivoted
    * (column, num, str, is_null) stream. Each union branch plans its
    * OWN scan, but every branch prunes to a single column
    * (`ReadSchema` per branch — spec-asserted), so on a columnar
    * format the union's total I/O equals one full-width read of the
    * table; the ncols-state aggregation map-side-combines, and the
    * exact-NDV shuffle carries (column, value) pairs. That exactness
    * is the point of the ANALYZE pass; at 100 TB the
    * continuous-monitoring path uses the mergeable sketches instead
    * (q54 KMV, q128 HLL envelope) and this exact pass runs
    * per-partition/per-sample.
    */
  def tableProfile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val parts = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val num: org.apache.spark.sql.Column = f.dataType match {
        case _: NumericType => c.cast("double")
        case TimestampType | TimestampNTZType =>
          unix_micros(c.cast("timestamp")).cast("double")
        case _ => lit(null).cast("double")
      }
      val str: org.apache.spark.sql.Column = f.dataType match {
        case StringType => c
        case DateType | BooleanType => c.cast("string")
        case _ => lit(null).cast("string")
      }
      df.select(lit(f.name).as("column"), num.as("num"), str.as("str"),
        c.isNull.as("is_null"))
    }
    parts.reduce(_.unionAll(_))
      .groupBy($"column")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"is_null", 1L).otherwise(0L)).as("n_nulls"),
        (countDistinct($"num") + countDistinct($"str")).as("n_distinct"),
        min($"num").as("min_num"), max($"num").as("max_num"),
        min($"str").as("min_str"), max($"str").as("max_str"))
      .orderBy($"column")
  }

  /** Order-free dataset fingerprint (q197): per source, an XOR fold of
    * a 60-bit content hash of every (doc_id, text) pair — the dataset
    * VERSION IDENTITY a reproducibility audit quotes ("is the corpus
    * this training run saw bit-identical to the one the datasheet
    * describes?"). XOR is the right fold: commutative/associative (any
    * partitioning and merge order gives the same fingerprint — no
    * ordered Merkle chain to serialize), no overflow at any corpus
    * size, and any single changed/added/dropped document flips the
    * fingerprint (doc_ids are unique, so terms cannot pairwise cancel;
    * undetected corruption needs an even multiset of colliding 2⁻⁶⁰
    * hashes). Token mass rides along as the coarse sanity check.
    *
    * One codegen'd scan into a map-side-combined source-sized
    * aggregate; nothing downstream of the scan is corpus-proportional.
    */
  /** Benford first-digit audit (q202): the leading-digit distribution
    * of the event value against Benford's law — the classic
    * fabricated-or-truncated-data screen a financial-grade data audit
    * runs (organic multiplicative quantities follow log10(1+1/d);
    * capped, minimum-priced, or synthesized values do not). Per digit:
    * observed count/share vs the Benford share and the per-digit χ²
    * term; one χ² column totals the 9-row frame.
    *
    * Determinism: the digit is extracted from the INTEGER micro-unit
    * rendering (round(value·10⁴) → decimal string → first char) —
    * integer-to-string is exact on any engine, where a float log10
    * digit extraction can disagree by an ulp at power-of-ten
    * boundaries. The nine Benford constants are computed ONCE here and
    * inlined as literals into the oracle text, so both engines consume
    * bit-identical doubles; counts are exact, and the χ² arithmetic
    * follows the same expression shape on both sides.
    *
    * Shape: one filtered scan into a 9-row count aggregate; everything
    * after is digit-frame-sized (the window runs over ≤ 9 rows).
    */
  def benfordAudit(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val bdf = spark.createDataFrame(BenfordShares).toDF("digit", "benford_share")
    val digits = events
      .select(round($"value" * 10000, 0).cast("long").as("vm"))
      .filter($"vm" > 0L)
      .select(substring($"vm".cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val tot = digits.agg(sum($"n_obs").as("n_total"))
    val term = ($"n_obs" - $"n_total" * $"benford_share") *
      ($"n_obs" - $"n_total" * $"benford_share") / ($"n_total" * $"benford_share")
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    broadcast(bdf)
      .join(digits, Seq("digit"), "left_outer")
      .select($"digit", coalesce($"n_obs", lit(0L)).as("n_obs"), $"benford_share")
      .crossJoin(broadcast(tot))
      .select($"digit", $"n_obs",
        round($"n_obs" / $"n_total", 6).as("obs_share"),
        round($"benford_share", 6).as("benford_share"),
        round(sum(term).over(wAll), 4).as("chi2"))
      .orderBy($"digit")
  }

  /** log10(1 + 1/d) for d = 1..9 — shared with the q202 oracle text so
    * both engines consume bit-identical literals.
    */
  private[graft] val BenfordShares: Seq[(Int, Double)] =
    (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))

  def datasetFingerprint(documents: DataFrame): DataFrame =
    documents
      .select($"source",
        conv(substring(md5(concat($"doc_id".cast("string"), lit(":"), $"text")), 1, 15),
          16, 10).cast("long").as("h"),
        size(TextAnalysis.tokens($"text")).cast("long").as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"toks").as("n_tokens"),
        expr("bit_xor(h)").as("fingerprint"))
      .orderBy($"source")

  /** Referential-integrity profile of the whole star schema: one row per
    * FK edge with child-row count, null-FK count, orphan count (non-null
    * FK with no parent), distinct FK keys, and the MAX FAN-OUT (children
    * under the hottest parent key — the number that predicts join skew
    * before the join runs). The warehouse-wide generalization of q08's
    * single-edge orphan check: a load that silently dropped a parent
    * partition shows up here as orphans on every edge into it, and a
    * fan-out explosion shows up before it melts a shuffle.
    *
    * Shape: per edge, one child-side aggregation (groupBy FK — map-side
    * combined, orphan/fan-out state per DISTINCT key) left-joined to the
    * parent KEY SET (projection-pruned scan), rolled to a 1-row frame;
    * the 7 edge frames union into the report. Nothing row-proportional
    * crosses an executor boundary except the per-key histograms.
    */
  def fkProfile(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
      supplier: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
        // ONE left join against the parent key set answers orphans in the
        // same pass as the stats (an earlier form ran a separate anti-join
        // branch — that scanned every child table twice)
        .join(parent.select(col(pk).as("pk_k")).distinct(),
          $"k" === $"pk_k", "left")
        .agg(
          sum($"c").as("n_rows"),
          sum(when($"k".isNull, $"c").otherwise(0L)).as("n_nulls"),
          sum(when($"k".isNotNull && $"pk_k".isNull, $"c").otherwise(0L))
            .as("n_orphans"),
          sum(when($"k".isNotNull, 1L).otherwise(0L)).as("n_distinct_keys"),
          coalesce(max(when($"k".isNotNull, $"c")), lit(0L)).as("max_fanout"))
        .select(lit(name).as("fk_edge"), $"n_rows", $"n_nulls", $"n_orphans",
          $"n_distinct_keys", $"max_fanout")
    Seq(
      edge("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
      edge("lineitem.l_orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
      edge("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey"),
      edge("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
      edge("nation.n_regionkey->region", nation, "n_regionkey", region, "r_regionkey"),
      edge("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
      edge("supplier.s_nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"))
      .reduce(_ unionAll _)
      .orderBy($"fk_edge")
  }

  /** Source-concentration audit: per language, how concentrated the token
    * mass is across sources — Herfindahl–Hirschman index (Σ share²), the
    * Gini coefficient, and the largest single-source share. The governance
    * complement of the q111 datasheet: a language whose corpus is one
    * source in disguise (HHI → 1) is a provenance and deletion-blast-radius
    * risk (one erasure request from that source guts the language), and a
    * diversity claim in a dataset card should cite exactly these numbers.
    *
    * Exactness: every aggregate is integer-exact (token masses, Σx², the
    * rank-weighted Σi·x behind Gini's `G = (2Σi·xᵢ − (n+1)Σx) / (nΣx)`
    * with x ascending) so each reported ratio is ONE double division —
    * no order-dependent double accumulation, and ties in token mass do
    * not affect G (equal x swap rank weights for identical contributions).
    * The quadratic accumulators (Σx², Σi·x, and Gini's numerator) run in
    * DECIMAL(38,0), not BIGINT: a long Σx² saturates at a ~3·10⁹-token
    * stratum — a hot (lang, source) cell at 100 TB plausibly exceeds
    * that — while decimal holds exact to 10³⁸ (a 10¹⁹-token stratum).
    * The n·Σx and (Σx)² denominators go through double BEFORE the
    * multiply for the same headroom; each ratio is still one division,
    * and at fixture scale every intermediate is < 2⁵³ so the double math
    * is bit-identical to the oracle's BIGINT-then-double path.
    *
    * Shape: one corpus scan into a strata-sized frame (|langs|·|sources|
    * rows); the rank window and both rollups run on that bounded frame.
    */
  def sourceConcentration(documents: DataFrame): DataFrame = {
    val strata = documents
      .groupBy($"lang", $"source")
      .agg(sum(size(TextAnalysis.tokens($"text")).cast("long")).as("tokens"))
    val w = Window.partitionBy($"lang").orderBy($"tokens", $"source")
    strata
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sources"),
        sum($"tokens").as("total_tokens"),
        max($"tokens").as("_top"),
        sum($"tokens".cast("decimal(18,0)") * $"tokens".cast("decimal(18,0)"))
          .as("_sq"),
        sum($"i".cast("decimal(18,0)") * $"tokens".cast("decimal(18,0)"))
          .as("_rm"))
      .select($"lang", $"n_sources", $"total_tokens",
        round($"_top" / $"total_tokens", 6).as("top_share"),
        round($"_sq".cast("double") /
          ($"total_tokens".cast("double") * $"total_tokens".cast("double")),
          6).as("hhi"),
        round((lit(2).cast("decimal(2,0)") * $"_rm" -
          ($"n_sources" + 1L).cast("decimal(18,0)") *
            $"total_tokens".cast("decimal(18,0)")).cast("double") /
          ($"n_sources".cast("double") * $"total_tokens".cast("double")),
          6).as("gini"))
      .orderBy($"lang")
  }

  /** l-diversity audit over quasi-identifier cells (Machanavajjhala et
    * al. 2007): k-anonymity (q82) only bounds CELL SIZE — a cell of 500
    * customers who ALL share one sensitive value still leaks that value
    * for every member. Per (nation, market-segment) quasi-identifier
    * cell over the released customer slice, with the account-balance
    * band (floor(acctbal/1000) — "in debt" vs wealth tier) as the
    * sensitive attribute: distinct-l (how many sensitive values appear),
    * Shannon entropy of the value distribution in bits, and the l≥3
    * release flag. Entropy uses the q90 quantization trick — per-value
    * log2 terms are rounded to integer micro-units so the cell sum is
    * exact integer arithmetic, order-independent under any partitioning;
    * the only floats are the two final divisions. One map-side-combined
    * (cell, band) count then a cells-proportional re-agg — bands, not
    * rows, leave the first reducers, so the audit is one corpus pass at
    * any scale.
    */
  def lDiversityReport(customer: DataFrame): DataFrame = {
    val l = 3L
    customer
      .select($"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 1000).cast("long").as("band"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("c"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(sum($"c").as("n_rows"), count(lit(1)).as("distinct_l"),
        sum($"c" * round(log2($"c") * 1e6, 0).cast("long")).as("s6"))
      .select($"c_nationkey", $"c_mktsegment", $"n_rows", $"distinct_l",
        round(log2($"n_rows") - $"s6" / 1e6 / $"n_rows", 4).as("entropy_bits"),
        ($"distinct_l" >= l).as("l_diverse"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  // ---- persisted-artifact staleness (q242) ------------------------------

  /** Canonical per-document identity string for corpus fingerprinting —
    * integer/string columns only, so both engines render it
    * byte-identically.
    */
  def docCanonical: Column =
    concat_ws("|", $"doc_id", $"lang", $"source", $"text")

  /** Canonical per-event identity string: ts is the repo's INT64
    * nanosecond epoch and value quantizes to the exact 1e-4 grid, so
    * every piece renders as an integer or verbatim string on both
    * engines.
    */
  def eventCanonical: Column =
    concat_ws("|", $"event_id", $"user_id", $"ts", $"event_type",
      round($"value" * 10000, 0).cast("long"))

  /** Canonical per-embedding identity string: each float component
    * casts to double (exact) and micro-quantizes to the 1e-6 grid —
    * floats carry ~7 significant decimal digits, so the grid captures
    * any real mutation while every piece renders as an integer on both
    * engines (the round-then-long device every similarity oracle uses).
    */
  def embCanonical: Column =
    concat_ws("|", $"vec_id", $"label",
      concat_ws(",", transform($"embedding",
        x => round(x.cast("double") * 1e6, 0).cast("long"))))

  /** One-row corpus fingerprint of a build slice: (row count, XOR-fold
    * of a 60-bit md5 prefix per canonical row). XOR is the right fold
    * for a distributed content hash — associative, commutative, and
    * overflow-free, so it is order- and partitioning-independent and
    * combines map-side; 60 bits keep the hex prefix inside a BIGINT on
    * both engines. Count and hash together catch the two real failure
    * modes: rows added/removed (count) and rows MUTATED in place
    * (count unchanged, hash flips; an even number of identical
    * insert/delete pairs is the only blind spot, and count covers the
    * parity half of it).
    */
  def artifactFingerprint(slice: DataFrame, canonical: Column): DataFrame =
    slice
      .select(conv(substring(md5(canonical), 1, 15), 16, 10)
        .cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("xhash"))

  /** Persist the fingerprint of the slice an artifact was built from.
    * Written UNDER the artifact dir as `_fingerprint` — the underscore
    * prefix hides it from Spark's data-file discovery, so serving reads
    * of the artifact dir (`spark.read.parquet(dir)`) are untouched.
    */
  def writeFingerprint(slice: DataFrame, canonical: Column,
      dir: String): Unit =
    artifactFingerprint(slice, canonical)
      .write.mode("overwrite").parquet(s"$dir/_fingerprint")

  /** Fresh/stale report over persisted artifacts (q242): for each
    * (artifact label, artifact dir, current corpus slice, canonical),
    * compare the fingerprint WRITTEN AT BUILD TIME against the current
    * corpus — count and content hash separately, so the report
    * distinguishes "rows arrived/left" from "rows mutated in place".
    * This is the guard the disk-contract family (BM25 index, datasheet
    * partials, KMV shards, PQ codebooks) needed: merge==recompute gates
    * prove the artifact SERVES correctly, but nothing proved it was
    * built from the corpus it is being served against — a stale index
    * silently serves wrong answers, the exact failure class the q176
    * erasure audit exists to catch.
    *
    * Shape: one fingerprint aggregate per CURRENT slice (a full-scan
    * count + XOR, map-side combined, one row out) plus one 1-row read
    * per artifact; everything after is a join of single-row frames.
    */
  def stalenessReport(spark: SparkSession,
      artifacts: Seq[(String, String, DataFrame, Column)]): DataFrame = {
    require(artifacts.nonEmpty, "stalenessReport: no artifacts")
    artifacts.map { case (label, dir, current, canonical) =>
      val built = spark.read.parquet(s"$dir/_fingerprint")
        .select($"n_rows".as("n_built"), $"xhash".as("hash_built"))
      val now = artifactFingerprint(current, canonical)
        .select($"n_rows".as("n_current"), $"xhash".as("hash_current"))
      built.crossJoin(now) // 1 row x 1 row
        .select(lit(label).as("artifact"), $"n_built", $"hash_built",
          $"n_current", $"hash_current",
          ($"n_built" === $"n_current").as("count_match"),
          ($"hash_built" === $"hash_current").as("hash_match"),
          ($"n_built" === $"n_current" &&
            $"hash_built" === $"hash_current").as("fresh"))
    }.reduce(_ unionByName _).orderBy($"artifact")
  }

  /** Read-time enforcement: throw unless the artifact at `dir` was
    * built from exactly the given current slice. No query serves from a
    * persisted artifact, so no query calls it; a deployment runs it on
    * artifact publish and on a schedule, not per query.
    */
  def requireFresh(spark: SparkSession, dir: String, current: DataFrame,
      canonical: Column, label: String = "artifact"): Unit = {
    val r = stalenessReport(spark, Seq((label, dir, current, canonical)))
      .collect()(0)
    require(r.getBoolean(7),
      s"stale artifact '$label' at $dir: built (n=${r.getLong(1)}, " +
        s"xhash=${r.getLong(2)}) vs current (n=${r.getLong(3)}, " +
        s"xhash=${r.getLong(4)}) - rebuild before serving")
  }

  // ---- t-closeness (q256) ------------------------------------------------

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) over the SAME
    * quasi-identifier frame as q230's l-diversity — QI = (c_nationkey,
    * c_mktsegment), sensitive attribute = the ordered account-balance
    * band floor(acctbal/1000). l-diversity counts distinct sensitive
    * values per class; t-closeness bounds how far the class's sensitive
    * DISTRIBUTION strays from the corpus-wide one (a class can be
    * 3-diverse yet 95% concentrated in one band — a skew attack
    * l-diversity misses). For an ordered attribute the Earth Mover's
    * Distance has the closed prefix form
    * EMD = (1/(m−1)) · Σ_i |F_class(i) − F_all(i)| over the m-value
    * ordered domain — the q254 ECDF-grid machinery repurposed: the sup
    * becomes a sum, per-prefix terms stay EXACT integers
    * |F_g(i)·n − F_all(i)·n_g|, and ONE division renders t.
    *
    * The grid is |QI classes| × |bands| (dimension-bounded, zero-filled
    * via the q245 cross-join — a class missing a band still steps the
    * global ECDF there); the only corpus-proportional stage is the
    * counting pass. Completes the privacy triple: k-anonymity (q82,
    * class size), l-diversity (q230, sensitive variety), t-closeness
    * (distributional skew).
    */
  def tClosenessReport(customer: DataFrame): DataFrame = {
    val t = 0.2
    val base = customer.select($"c_nationkey", $"c_mktsegment",
      floor($"c_acctbal" / 1000).cast("long").as("band"))
    val cells = base.groupBy($"c_nationkey", $"c_mktsegment", $"band")
      .agg(count(lit(1)).as("c"))
    val byBand = cells.groupBy($"band").agg(sum($"c").as("tb"))
    val perQi = cells.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(sum($"c").as("ng"))
    val tot = byBand.agg(sum($"tb").as("n"), count(lit(1)).as("m"))
    val grid = perQi.crossJoin(broadcast(byBand))
      .join(cells, Seq("c_nationkey", "c_mktsegment", "band"), "left_outer")
      .select($"c_nationkey", $"c_mktsegment", $"band", $"ng", $"tb",
        coalesce($"c", lit(0L)).as("c"))
    val w = Window.partitionBy($"c_nationkey", $"c_mktsegment")
      .orderBy($"band").rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("fg", sum($"c").over(w))
      .withColumn("fa", sum($"tb").over(w))
      .crossJoin(broadcast(tot))
    // the m-th (last) prefix difference is identically 0, so summing ALL
    // prefixes equals the i < m textbook sum; numerators are exact longs
    val emd = cum.groupBy($"c_nationkey", $"c_mktsegment")
      .agg(max($"ng").as("n_rows"),
        sum(abs($"fg" * $"n" - $"fa" * $"ng").cast("decimal(38,0)"))
          .as("s_num"),
        max($"n").as("n"), max($"m").as("m"))
    emd
      .withColumn("t_emd",
        round($"s_num".cast("double")
          / ($"n_rows".cast("double") * $"n" * ($"m" - 1L)), 6))
      .select($"c_nationkey", $"c_mktsegment", $"n_rows",
        $"t_emd", ($"t_emd" <= lit(t)).as("t_close"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  // ---- declarative constraint audit (q257) ---------------------------------

  /** One-pass declarative data-quality suite (the Great-Expectations /
    * Deequ shape re-expressed as conditional aggregation): every row
    * constraint over a table compiles to ONE scan with per-constraint
    * violation counters — never a scan per constraint, the naive
    * validator's anti-pattern that turns a 12-rule suite into 12 reads
    * of 100 TB. Cross-table rules keep their natural shapes: uniqueness
    * is count−distinct on the key, referential integrity one
    * broadcastable anti-join probe.
    *
    * Output: one row per constraint (name, n_checked, n_violations,
    * pass) — the audit report a pipeline gates ingests on.
    */
  def constraintAudit(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame): DataFrame = {
    def viol(name: String, checked: Column, bad: Column): Column =
      struct(lit(name).as("constraint"), checked.as("n_checked"),
        bad.as("n_violations"))
    // lineitem row rules: one scan, all counters conditional aggregates
    val li = lineitem.agg(array(
      viol("lineitem.quantity_in_1_50", count(lit(1)),
        sum(when($"l_quantity" < 1.0 || $"l_quantity" > 50.0, 1L)
          .otherwise(0L))),
      viol("lineitem.extendedprice_positive", count(lit(1)),
        sum(when(!($"l_extendedprice" > 0.0), 1L).otherwise(0L))),
      viol("lineitem.returnflag_domain", count(lit(1)),
        sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L).otherwise(0L))),
      viol("lineitem.discount_in_0_1", count(lit(1)),
        sum(when($"l_discount" < 0.0 || $"l_discount" > 1.0, 1L)
          .otherwise(0L))),
      viol("lineitem.linekey_unique", count(lit(1)),
        count(lit(1)) - countDistinct($"l_orderkey", $"l_linenumber"))
    ).as("cs"))
    val ord = orders.agg(array(
      viol("orders.totalprice_positive", count(lit(1)),
        sum(when(!($"o_totalprice" > 0.0), 1L).otherwise(0L))),
      viol("orders.orderstatus_domain", count(lit(1)),
        sum(when(!$"o_orderstatus".isin("F", "O", "P"), 1L).otherwise(0L))),
      viol("orders.orderdate_not_null", count(lit(1)),
        sum(when($"o_orderdate".isNull, 1L).otherwise(0L))),
      viol("orders.orderkey_unique", count(lit(1)),
        count(lit(1)) - countDistinct($"o_orderkey"))
    ).as("cs"))
    // referential integrity: orders.o_custkey → customer.c_custkey; the
    // dimension side broadcasts (requests-vs-corpus asymmetry)
    val orphans = orders.join(broadcast(customer.select($"c_custkey")),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(array(viol("orders.custkey_fk_customer",
        lit(null).cast("long"), count(lit(1)))).as("cs"))
    val total = orders.agg(count(lit(1)).as("n_orders"))
    val fk = orphans.crossJoin(total).select(
      transform($"cs", c => struct(c.getField("constraint").as("constraint"),
        $"n_orders".as("n_checked"),
        c.getField("n_violations").as("n_violations"))).as("cs"))
    li.union(ord).union(fk)
      .select(explode($"cs").as("c"))
      .select($"c.constraint".as("constraint"), $"c.n_checked".as("n_checked"),
        $"c.n_violations".as("n_violations"),
        ($"c.n_violations" === 0L).as("pass"))
      .orderBy($"constraint")
  }
}
