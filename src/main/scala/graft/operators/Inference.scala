package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus inference statistics (SURVEY.md §2.2 ➕): the hypothesis-test /
  * multiple-testing / rank-statistics panel a data-curation team runs
  * before acting on a per-source difference — "is src7's quality dip
  * real, after testing 20 sources?" is a multiple-comparisons question,
  * and the repo until round 11 only had single-test answers (q192 z,
  * q221 SRM χ², q237 mSPRT). The reference computes one aggregate and
  * stops (`/root/reference/D/Program.cs:273-344`); everything here is
  * the extension surface.
  *
  * Shared discipline:
  *   - every sufficient statistic is an exact integer / decimal(38,0)
  *     aggregate (map-side combined, one shuffle per grouping); doubles
  *     appear only in final formula rendering, in the SAME association
  *     order as the DuckDB oracle text, rounded before output.
  *   - rank statistics (Mann–Whitney, Kruskal–Wallis, Spearman) never
  *     sort rows globally: ranks come from the DISTINCT-VALUE frame
  *     (group-by value, prefix-sum of counts), so the windowed stage is
  *     value-domain-bounded (n_chars here: ≤ ~10³ distinct values at any
  *     corpus size), not corpus-bounded. Tie handling is the exact
  *     average-rank convention via DOUBLED ranks (2·rank is integer even
  *     under ties — no rationals until the end).
  *   - normal tail probabilities use the Abramowitz–Stegun 26.2.17
  *     polynomial (|ε| < 7.5e-8) written with identical constants and
  *     Horner order on both engines; exp() is the only libm call and
  *     final p-values are rounded to 6 decimals, collapsing last-ulp
  *     libm differences (the q235 exp discipline).
  */
object Inference {

  // ---- normal tail: Abramowitz–Stegun 26.2.17 --------------------------

  /** One-minus-Phi(x) for x >= 0: upper-tail normal probability.
    * phi(x) * (((((b5*t + b4)*t + b3)*t + b2)*t + b1)*t), t = 1/(1+p*x).
    * The 1/sqrt(2*pi) constant is a literal so no engine evaluates its
    * own sqrt; the oracle text ([[InferenceQueries.upperTailSql]]) is
    * this expression verbatim.
    */
  private[graft] def upperTail(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * x)
    val poly = (((((lit(1.330274429) * t + lit(-1.821255978)) * t
      + lit(1.781477937)) * t + lit(-0.356563782)) * t + lit(0.319381530)) * t)
    exp(x * x / lit(-2.0)) * lit(0.3989422804014327) * poly
  }

  // ---- χ² test of independence (q245) -----------------------------------

  /** Pearson χ² test of independence on the source × lang contingency
    * table — "is language mix independent of source?", the first audit a
    * multilingual corpus runs when one ingest pipeline is suspected of
    * language-skewed sampling. Beside q221 (SRM, a GOODNESS-OF-FIT χ²
    * against a configured 50/50 split) this is the general two-way
    * independence form with data-estimated margins.
    *
    * Emits the FULL grid (distinct sources × distinct langs, zero-filled
    * observed counts): a structurally-empty cell still carries expected
    * mass e = r·c/N and contributes e to the statistic — dropping zero
    * cells understates χ², the classic bug in group-by-based
    * implementations. The grid is |sources|×|langs| — a dimension frame
    * (bounded by catalog cardinalities, not the corpus), built by a
    * broadcast cross join of two aggregate frames; the only
    * corpus-proportional stage is the one counting pass.
    */
  def chi2Independence(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy($"source", $"lang").agg(count(lit(1)).as("o"))
    val rows = documents.groupBy($"source").agg(count(lit(1)).as("rt"))
    val cols = documents.groupBy($"lang").agg(count(lit(1)).as("ct"))
    val n = documents.agg(count(lit(1)).as("n"),
      countDistinct($"source").as("nr"), countDistinct($"lang").as("nc"))
    val grid = rows.crossJoin(broadcast(cols))
      .join(cells, Seq("source", "lang"), "left_outer")
      .crossJoin(broadcast(n))
      .select($"source", $"lang", coalesce($"o", lit(0L)).as("o"),
        $"rt", $"ct", $"n", $"nr", $"nc")
    val e = $"rt".cast("double") * $"ct" / $"n"
    val contrib = ($"o" - e) * ($"o" - e) / e
    // the statistic is a cross-cell SUM of doubles — quantize each term
    // to integer micro-units first (the q90 discipline) so the sum is
    // exact long arithmetic, order-free, hence engine-exact; the ≤0.5e-6
    // per-cell quantization is far below any χ² decision resolution
    grid
      .withColumn("expected", round(e, 4))
      .withColumn("contrib", round(contrib, 6))
      .withColumn("cm", round(contrib * lit(1000000.0), 0).cast("long"))
      .withColumn("chi2",
        round(sum($"cm").over(Window.partitionBy()) / lit(1000000.0), 4))
      .withColumn("dof", (($"nr" - 1) * ($"nc" - 1)).cast("long"))
      .select($"source", $"lang", $"o".as("observed"), $"expected",
        $"contrib", $"chi2", $"dof")
      .orderBy($"source", $"lang")
  }

  // ---- Benjamini–Hochberg FDR panel (q246) -------------------------------

  /** Per-source two-proportion z-tests with Benjamini–Hochberg step-up
    * correction (Benjamini & Hochberg 1995) — the multiple-testing fix
    * for the per-source audit: each source's pass rate (n_chars ≥
    * `minChars`) vs the POOLED REST, m = |sources| simultaneous tests,
    * and the BH procedure bounds the expected fraction of false
    * discoveries at `alpha` instead of inflating per-test error m-fold.
    *
    * Step-up: sort p ascending, k* = max{i : p(i) ≤ i·α/m}, reject ranks
    * ≤ k*. Ranking runs on p ROUNDED to 6 decimals with the source name
    * as tiebreak, so the order is engine-stable (raw doubles could
    * differ in the last ulp of exp()); the windowed stage is over the
    * m-row per-source frame — dimension-bounded.
    *
    * z uses the pooled-variance two-proportion form; a source with an
    * empty complement (m = 1) or zero pooled variance emits NULL z and
    * p = 1 (never rejected), keeping the panel total.
    */
  def bhFdrPanel(documents: DataFrame): DataFrame = {
    val minChars = 300L
    val alpha = 0.05
    val per = documents.groupBy($"source").agg(
      count(lit(1)).as("ns"),
      sum(when($"n_chars" >= minChars, 1L).otherwise(0L)).as("ks"))
    val tot = per.agg(sum($"ns").as("n"), sum($"ks").as("k"),
      count(lit(1)).as("m"))
    val base = per.crossJoin(broadcast(tot))
      .select($"source", $"ns", $"ks",
        ($"n" - $"ns").as("nr"), ($"k" - $"ks").as("kr"), $"n", $"k", $"m")
    val pHat = $"k".cast("double") / $"n"
    val se = sqrt(pHat * (lit(1.0) - pHat)
      * (lit(1.0) / $"ns" + lit(1.0) / $"nr"))
    val z = ($"ks".cast("double") / $"ns" - $"kr".cast("double") / $"nr") / se
    val scored = base.withColumn("z_raw",
        when($"nr" > 0L && pHat > 0.0 && pHat < 1.0, z))
      .withColumn("p_value",
        when($"z_raw".isNotNull,
          round(least(lit(2.0) * upperTail(abs($"z_raw")), lit(1.0)), 6))
          .otherwise(lit(1.0)))
    val ranked = scored.withColumn("p_rank",
      row_number().over(Window.partitionBy().orderBy($"p_value", $"source")))
    // k* = max rank whose p sits under its own BH line; null when none do
    val kStar = max(when(
      $"p_value" <= $"p_rank" * lit(alpha) / $"m", $"p_rank"))
      .over(Window.partitionBy())
    ranked
      .withColumn("significant", $"p_rank" <= coalesce(kStar, lit(0L)))
      .select($"source", $"ns".as("n_docs"), $"ks".as("n_pass"),
        round($"ks".cast("double") / $"ns", 4).as("pass_rate"),
        round($"z_raw", 4).as("z_score"), $"p_value", $"p_rank",
        $"significant")
      .orderBy($"source")
  }

  // ---- doubled average ranks over the distinct-value frame ---------------

  /** (value → doubled average rank, tie count) from a (value, t) count
    * frame: r2 = 2·cnt_less + t + 1 — exactly 2× the tie-averaged rank,
    * integer even under ties. The window runs over the DISTINCT-VALUE
    * frame (one row per value), so its single partition is value-domain-
    * bounded; a corpus whose metric had unbounded cardinality would
    * two-phase this the way `Scale.exactQuantileByGroup` does.
    */
  private def doubledRanks(byVal: DataFrame): DataFrame = {
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn("cl", coalesce(sum($"t").over(w), lit(0L)))
      .withColumn("r2", lit(2L) * $"cl" + $"t" + 1L)
  }

  /** Mann–Whitney U rank-sum test (q247; Mann & Whitney 1947) comparing
    * `n_chars` between two sources — the nonparametric two-sample test
    * beside q192's Welch z: no normality assumption, exact under ties
    * via average ranks and the tie-corrected variance
    * Var(U) = n1·n2/12 · [(n+1) − Σ(t³−t)/(n(n−1))].
    *
    * All sufficient statistics are integer/decimal aggregates of the
    * distinct-value frame: R1·2 = Σ_v tA(v)·r2(v), U1·2 = R1·2 −
    * n1(n1+1), ties = Σ t³−t. One double expression at the end renders
    * z with continuity handled by the exact integer numerator
    * (U1·2 − n1·n2 is integer; no 0.5 fudge — the tie-averaged U is
    * already centered).
    */
  def mannWhitney(documents: DataFrame): DataFrame = {
    val srcA = "src0"
    val byVal = documents
      .filter($"source" === srcA || $"source" === "src1")
      .groupBy($"n_chars".as("v"))
      .agg(count(lit(1)).as("t"),
        sum(when($"source" === srcA, 1L).otherwise(0L)).as("ta"))
    val ranked = doubledRanks(byVal)
    // per-value products stay in LONG (r2 ≤ 2N+1, so ta·r2 and t³ throw
    // loudly under ANSI beyond ~2·10⁹ rows per value — the q192 posture)
    // and the cross-value sums are decimal(38,0)-exact
    val agg = ranked.agg(
      sum($"ta").as("n1"), sum($"t" - $"ta").as("n2"),
      sum(($"ta" * $"r2").cast("decimal(38,0)")).as("r1x2"),
      sum(($"t" * $"t" * $"t" - $"t").cast("decimal(38,0)")).as("ties"))
      .withColumn("n", $"n1" + $"n2")
    val u1x2 = $"r1x2".cast("double") - $"n1".cast("double") * ($"n1" + 1L)
    val varU = $"n1".cast("double") * $"n2" / 12.0 *
      (($"n" + 1L).cast("double")
        - $"ties".cast("double") / ($"n".cast("double") * ($"n" - 1L)))
    agg.select($"n1", $"n2",
      round(u1x2 / 2.0, 1).as("u1"),
      round($"ties".cast("double"), 1).as("tie_mass"),
      when($"n1" > 0L && $"n2" > 0L && varU > 0.0,
        round((u1x2 - $"n1".cast("double") * $"n2")
          / (lit(2.0) * sqrt(varU)), 4)).as("z_score"))
  }

  /** Kruskal–Wallis rank ANOVA (q248; Kruskal & Wallis 1952) across ALL
    * sources on `n_chars` — the omnibus "does any source differ?" test
    * that gates the q246 per-source panel (run the omnibus first; if it
    * fails to reject, the per-source discoveries are noise). H with the
    * tie correction 1 − Σ(t³−t)/(N³−N), dof = m−1.
    *
    * Per-source rank sums come from joining the per-(source, value)
    * count frame to the doubled-rank frame on value — an equi-join of
    * two aggregate frames (the rank side is value-domain-bounded and
    * broadcastable); nothing corpus-wide is ever windowed. Output: one
    * row per source with its tie-averaged mean rank, every row carrying
    * the global H — the q245 grid convention.
    */
  def kruskalWallis(documents: DataFrame): DataFrame =
    kruskalWallisOn(documents.select($"source", $"n_chars".as("v")))

  /** The Kruskal–Wallis machinery over any (source, v) frame — the q248
    * shape generalized so q276's weekday-effect test (groups = day
    * phases, values = daily counts) reuses it verbatim.
    */
  private[graft] def kruskalWallisOn(obs: DataFrame): DataFrame = {
    val byVal = obs.groupBy($"v").agg(count(lit(1)).as("t"))
    val ranked = doubledRanks(byVal).select($"v", $"r2", $"t")
    val bySrcVal = obs.groupBy($"source", $"v")
      .agg(count(lit(1)).as("c"))
    val perSrc = bySrcVal.join(broadcast(ranked), Seq("v"))
      .groupBy($"source")
      .agg(sum($"c").as("nj"),
        sum(($"c" * $"r2").cast("decimal(38,0)")).as("rjx2"))
    val glob = ranked.agg(
      sum($"t").as("n"),
      sum(($"t" * $"t" * $"t" - $"t").cast("decimal(38,0)")).as("ties"))
    // H = Σ_j c_j − 3(N+1) with c_j = 3·R2_j²/(N(N+1)·n_j); each c_j is
    // quantized to integer micro-units BEFORE the cross-source sum (the
    // q90/chi2 discipline: a cross-row double sum is order-dependent,
    // the quantized long sum is exact) — the ≤ m·0.5e-6 quantization is
    // far below the statistic's resolution
    val cj = (lit(3.0) * $"rjx2".cast("double") * $"rjx2".cast("double")) /
      ($"n".cast("double") * ($"n" + 1L) * $"nj")
    val sumTerm = sum(round(cj * lit(1000000.0), 0).cast("long"))
      .over(Window.partitionBy()) / lit(1000000.0)
    perSrc.crossJoin(broadcast(glob))
      .withColumn("h_raw", sumTerm - lit(3.0) * ($"n" + 1L))
      .withColumn("tie_corr",
        lit(1.0) - $"ties".cast("double")
          / ($"n".cast("double") * $"n" * $"n" - $"n"))
      .select($"source", $"nj".as("n_docs"),
        round($"rjx2".cast("double") / (lit(2.0) * $"nj"), 4).as("mean_rank"),
        round($"h_raw", 4).as("h_stat"),
        when($"tie_corr" > 0.0, round($"h_raw" / $"tie_corr", 4))
          .as("h_corrected"),
        (count(lit(1)).over(Window.partitionBy()) - 1L).as("dof"))
      .orderBy($"source")
  }

  /** Spearman rank correlation (q249) between `n_chars` and the
    * whitespace token count — "are longer documents longer because of
    * more words or longer words?" asked rank-wise, robust to the heavy
    * tails that make Pearson on raw values unstable. Tie-averaged ranks
    * on both axes (the exact "Pearson on average ranks" definition —
    * the rank-difference shortcut formula is WRONG under ties), via the
    * doubled-rank frames joined back per-document; all second moments
    * are decimal(38,0)-exact, one double expression renders ρ.
    *
    * Token counting is split-on-single-space INCLUDING empty segments,
    * stated because the oracle must count identically
    * (len(string_split) has the same convention in DuckDB).
    */
  def spearmanRho(documents: DataFrame): DataFrame = {
    val d = documents.select($"n_chars".as("x"),
      size(TextAnalysis.tokens($"text")).cast("long").as("y"))
    def rankMap(c: String): DataFrame =
      doubledRanks(d.groupBy(col(c).as("v")).agg(count(lit(1)).as("t")))
        .select($"v".as(c), $"r2".as(s"r$c"))
    val rx = rankMap("x"); val ry = rankMap("y")
    val joined = d.join(broadcast(rx), Seq("x")).join(broadcast(ry), Seq("y"))
    val m = joined.agg(count(lit(1)).as("n"),
      sum($"rx".cast("decimal(38,0)")).as("sx"),
      sum($"ry".cast("decimal(38,0)")).as("sy"),
      sum(($"rx" * $"rx").cast("decimal(38,0)")).as("sxx"),
      sum(($"ry" * $"ry").cast("decimal(38,0)")).as("syy"),
      sum(($"rx" * $"ry").cast("decimal(38,0)")).as("sxy"))
    val cov = ($"n".cast("double") * $"sxy".cast("double")
      - $"sx".cast("double") * $"sy".cast("double"))
    val vx = ($"n".cast("double") * $"sxx".cast("double")
      - $"sx".cast("double") * $"sx".cast("double"))
    val vy = ($"n".cast("double") * $"syy".cast("double")
      - $"sy".cast("double") * $"sy".cast("double"))
    m.select($"n",
      when(vx > 0.0 && vy > 0.0,
        round(cov / (sqrt(vx) * sqrt(vy)), 6)).as("rho_spearman"))
  }

  /** The asymptotic Kolmogorov tail Q(λ) = 2Σ_{k≥1}(−1)^{k−1}
    * exp(−2k²λ²), truncated at k = 8 and written as a LITERAL chain so
    * both engines associate identically. The truncation converges from
    * k = 8 only for λ ≳ 0.3 (next term e^{−162λ²} < 5·10⁻⁷ there); BELOW
    * the cutoff the alternating partial sums misconverge badly (at λ = 0
    * the chain is 0 while Q = 1 — a false rejection), so p is pinned to
    * 1 for λ < 0.3, where the true tail exceeds 0.999 and no decision at
    * any reasonable α changes. Clamped into [0, 1].
    */
  private[graft] def kolmogorovTail(lam: Column): Column = {
    val l2 = lam * lam
    val chain = lit(2.0) * (exp(lit(-2.0) * l2) - exp(lit(-8.0) * l2)
      + exp(lit(-18.0) * l2) - exp(lit(-32.0) * l2)
      + exp(lit(-50.0) * l2) - exp(lit(-72.0) * l2)
      + exp(lit(-98.0) * l2) - exp(lit(-128.0) * l2))
    when(lam < 0.3, lit(1.0))
      .otherwise(greatest(least(chain, lit(1.0)), lit(0.0)))
  }

  /** Two-sample Kolmogorov–Smirnov test (q253) on `n_chars` between two
    * sources — the SHAPE companion to q247's location test: MWU can
    * miss two distributions with equal ranks but different spread; KS
    * compares the full ECDFs. D is computed EXACTLY in integers:
    * D = max_v |F₁(v)·n₂ − F₂(v)·n₁| / (n₁·n₂) — the numerator is a
    * long per distinct value (loud beyond ~10⁹·10⁹ under ANSI), the max
    * is exact, and ONE double division renders D, so the supremum never
    * suffers float ECDF accumulation error. Prefix sums run over the
    * distinct-value frame (the q247 machinery). p via
    * [[kolmogorovTail]] at λ = D·√(n₁n₂/(n₁+n₂)).
    */
  def ksTwoSample(documents: DataFrame): DataFrame = {
    val srcA = "src0"
    val srcB = "src1"
    val byVal = documents
      .filter($"source" === srcA || $"source" === srcB)
      .groupBy($"n_chars".as("v"))
      .agg(sum(when($"source" === srcA, 1L).otherwise(0L)).as("c1"),
        sum(when($"source" === srcB, 1L).otherwise(0L)).as("c2"))
    val tot = byVal.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    val w = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val dmax = byVal
      .withColumn("f1", sum($"c1").over(w))
      .withColumn("f2", sum($"c2").over(w))
      .crossJoin(broadcast(tot))
      .agg(max(abs($"f1" * $"n2" - $"f2" * $"n1")).as("d_num"),
        max($"n1").as("n1"), max($"n2").as("n2"))
    val d = $"d_num".cast("double") / ($"n1".cast("double") * $"n2")
    val lam = col("d_stat_raw") *
      sqrt($"n1".cast("double") * $"n2" / ($"n1" + $"n2"))
    dmax
      .withColumn("d_stat_raw", d)
      .withColumn("lam", lam)
      .select($"n1", $"n2", $"d_num",
        round($"d_stat_raw", 6).as("d_stat"),
        when($"n1" > 0L && $"n2" > 0L,
          round(kolmogorovTail(col("lam")), 6)).as("p_value"))
  }

  /** Per-source KS drift panel with BH correction (q254) — q253
    * composed across the catalog: each source's `n_chars` ECDF vs the
    * POOLED REST (the per-source drift question a multi-source corpus
    * monitor actually asks), m = |sources| simultaneous tests, q246's
    * Benjamini–Hochberg step-up bounding the false-discovery rate.
    *
    * The sup runs over the FULL source × distinct-value grid (a source
    * missing a value still steps the REST's ECDF there, so restricting
    * to own-support would understate D — the q245 zero-fill lesson
    * applied to ECDFs): F_rest(v) = F_all(v) − F_s(v) needs no second
    * pass, and |F_s·n_r − F_rest·n_s| stays exact-integer per cell.
    * The grid is |sources| × |values| — dimension-bounded — and the
    * prefix windows partition BY SOURCE (no single-partition stage).
    */
  def ksPanel(documents: DataFrame): DataFrame = {
    val bySrcVal = documents.groupBy($"source", $"n_chars".as("v"))
      .agg(count(lit(1)).as("c"))
    val byVal = bySrcVal.groupBy($"v").agg(sum($"c").as("t"))
    val perSrc = bySrcVal.groupBy($"source").agg(sum($"c").as("ns"))
    val tot = byVal.agg(sum($"t").as("n"))
    val grid = perSrc.crossJoin(broadcast(byVal))
      .join(bySrcVal, Seq("source", "v"), "left_outer")
      .select($"source", $"v", $"ns", $"t", coalesce($"c", lit(0L)).as("c"))
    val w = Window.partitionBy($"source").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("fs", sum($"c").over(w))
      .withColumn("fa", sum($"t").over(w))
      .crossJoin(broadcast(tot))
    val dmax = cum.groupBy($"source")
      .agg(max(abs($"fs" * ($"n" - $"ns") - ($"fa" - $"fs") * $"ns"))
        .as("d_num"),
        max($"ns").as("ns"), max($"n").as("n"))
    val dRaw = $"d_num".cast("double") / ($"ns".cast("double") * ($"n" - $"ns"))
    val lam = col("d_raw") * sqrt($"ns".cast("double") * ($"n" - $"ns") / $"n")
    // a source that IS the whole corpus has no complement to test
    // against — p pinned to 1 (never rejected), keeping the panel total
    val scored = dmax
      .withColumn("d_raw",
        when($"ns" > 0L && ($"n" - $"ns") > 0L, dRaw).otherwise(lit(0.0)))
      .withColumn("p_value",
        when($"ns" > 0L && ($"n" - $"ns") > 0L,
          round(kolmogorovTail(lam), 6)).otherwise(lit(1.0)))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
    val ranked = scored.withColumn("p_rank",
      row_number().over(Window.partitionBy().orderBy($"p_value", $"source")))
    val kStar = max(when(
      $"p_value" <= $"p_rank" * lit(0.05) / $"m", $"p_rank"))
      .over(Window.partitionBy())
    ranked
      .withColumn("significant", $"p_rank" <= coalesce(kStar, lit(0L)))
      .select($"source", $"ns".as("n_docs"), $"d_num",
        round($"d_raw", 6).as("d_stat"), $"p_value", $"p_rank",
        $"significant")
      .orderBy($"source")
  }

  // ---- jackknife source influence (q251) ---------------------------------

  /** Leave-one-source-out influence on the corpus mean length and pass
    * rate — "which source drags the corpus quality, and by how much?"
    * answered with the jackknife identity: influence(s) = mean(all) −
    * mean(all \ s), closed-form from per-source sums (never a second
    * scan per source — the naive m-scan implementation is the
    * anti-pattern this operator exists to replace). Positive influence
    * on pass rate means the source LIFTS the corpus; the jackknife
    * pseudo-value form (n·θ − (n−1)·θ₋ᵢ) is a rescaling of the same
    * numbers and is left to the caller.
    */
  // ---- mutual information source ⟂ lang (q262) ----------------------------

  /** Plug-in mutual information between source and lang, with marginal
    * entropies and the normalized MI = I/√(H_s·H_l) — the EFFECT-SIZE
    * companion to q245's χ²: χ² answers "is the dependence real", MI
    * answers "how many bits does knowing the source tell you about the
    * language" (NMI ∈ [0,1] comparable across corpora of different
    * catalog sizes). Observed cells only (a zero cell contributes
    * exactly 0 to Σ p·log₂(p/(p_r·p_c)) — unlike χ², where empty cells
    * carry expected mass; the asymmetry is why q245 zero-fills and this
    * does not).
    *
    * Every cross-cell sum of double terms is micro-quantized first (the
    * q245/q248 discipline: order-free exact long addition); log2 is the
    * only libm call and appears in the IDENTICAL expression text on both
    * engines. One corpus scan; the term frames are dimension-bounded.
    */
  def mutualInformation(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy($"source", $"lang").agg(count(lit(1)).as("o"))
    val rows = documents.groupBy($"source").agg(count(lit(1)).as("rt"))
    val cols = documents.groupBy($"lang").agg(count(lit(1)).as("ct"))
    val n = documents.agg(count(lit(1)).as("n"))
    def microSum(term: Column): Column =
      sum(round(term * lit(1000000.0), 0).cast("long"))
    // I = Σ (o/n)·log2(o·n/(rt·ct)); H = −Σ (m/n)·log2(m/n)
    val miQ = cells.join(broadcast(rows), Seq("source"))
      .join(broadcast(cols), Seq("lang")).crossJoin(broadcast(n))
      .agg(microSum($"o".cast("double") / $"n" *
        log2($"o".cast("double") * $"n" / ($"rt".cast("double") * $"ct")))
        .as("mi6"))
    def entQ(marg: DataFrame, c: String): DataFrame =
      marg.crossJoin(broadcast(n))
        .agg(microSum(-(col(c).cast("double") / $"n" *
          log2(col(c).cast("double") / $"n"))).as(s"h6_$c"))
    val joined = miQ.crossJoin(broadcast(entQ(rows, "rt")))
      .crossJoin(broadcast(entQ(cols, "ct"))).crossJoin(broadcast(n))
    joined.select($"n",
      round($"mi6" / lit(1000000.0), 6).as("mi_bits"),
      round($"h6_rt" / lit(1000000.0), 6).as("h_source"),
      round($"h6_ct" / lit(1000000.0), 6).as("h_lang"),
      when($"h6_rt" > 0L && $"h6_ct" > 0L,
        round($"mi6" / lit(1000000.0) /
          sqrt(($"h6_rt" / lit(1000000.0)) * ($"h6_ct" / lit(1000000.0))), 6))
        .as("nmi"))
  }

  // ---- empirical-Bayes rate shrinkage (q278) -------------------------------

  /** Empirical-Bayes shrinkage of the per-source pass rates (q278; the
    * beta-binomial moment-matched prior — Efron & Morris 1975's
    * machinery on the q246 panel): small sources quote wild raw rates
    * (3/5 = "60%"), and ranking or thresholding on them is noise; the
    * ensemble ITSELF estimates a Beta(α, β) prior by method of moments
    * — m and s² of the per-source rates give prior strength
    * M = m(1−m)/s² − 1 — and each source reports the posterior mean
    * (k + m·M)/(n + M): big sources keep their data, small sources
    * shrink toward the ensemble. Degenerate ensembles (s² = 0, or
    * observed spread at/above the binomial ceiling so M ≤ 0) pin to
    * complete pooling / no shrinkage respectively — stated conventions,
    * not NaNs.
    *
    * Per-source rates micro-quantize before the ensemble moments (the
    * q245 discipline: exact long sums over the m-row panel); one double
    * expression renders M and the posterior means. One corpus scan.
    */
  def ebShrunkRates(documents: DataFrame): DataFrame = {
    val per = documents.groupBy($"source").agg(
      count(lit(1)).as("ns"),
      sum(when($"n_chars" >= 300L, 1L).otherwise(0L)).as("ks"))
      .withColumn("r6",
        round($"ks".cast("double") / $"ns" * lit(1000000.0), 0).cast("long"))
    val ens = per.agg(count(lit(1)).as("j"),
      sum($"r6").as("sr"), sum(($"r6" * $"r6").cast("decimal(38,0)")).as("srr"))
    val jD = $"j".cast("double")
    val mEns = $"sr".cast("double") / jD / lit(1000000.0)
    val varEns = ($"srr".cast("double")
      - $"sr".cast("double") * $"sr" / jD) / ($"j" - 1L) / lit(1.0e12)
    val mStr = mEns * (lit(1.0) - mEns) / varEns - lit(1.0)
    val base = per.crossJoin(broadcast(ens))
      .withColumn("m_ens", mEns)
      .withColumn("var_ens", when($"j" > 1L, varEns))
      .withColumn("m_str",
        when($"var_ens".isNotNull && $"var_ens" > 0.0, mStr))
    val shrunk =
      when($"m_str".isNull, $"m_ens") // zero spread: complete pooling
        .when($"m_str" <= 0.0, $"ks".cast("double") / $"ns") // no prior
        .otherwise(($"ks" + $"m_ens" * $"m_str") / ($"ns" + $"m_str"))
    base.select($"source", $"ns".as("n_docs"), $"ks".as("n_pass"),
      round($"ks".cast("double") / $"ns", 6).as("raw_rate"),
      round(shrunk, 6).as("shrunk_rate"),
      round($"m_ens", 6).as("pooled_rate"),
      round(coalesce($"m_str", lit(0.0)), 4).as("prior_strength"))
      .orderBy($"source")
  }

  // ---- labeler agreement: Cohen's kappa + McNemar (q284) -------------------

  /** Agreement panel between two deterministic quality screens (q284;
    * Cohen 1960, McNemar 1947): labeler A passes docs with
    * n_chars ≥ 300 (the q278 threshold), labeler B passes docs with
    * ≥ 60 whitespace tokens (the q21 quality formula's length
    * ingredient). Raw agreement is inflated by chance whenever both
    * labelers mostly say the same class — κ = (p_o − p_e)/(1 − p_e)
    * removes the chance-agreement floor; McNemar's test (continuity-
    * corrected, on the DISAGREEMENT cells only) asks the orthogonal
    * question "is the disagreement DIRECTIONAL — does one screen
    * systematically pass more?". The pair is the standard audit before
    * swapping one labeling function for a cheaper one.
    *
    * All four confusion cells are exact longs from ONE corpus scan
    * (map-side combined); κ and the McNemar χ² are single double
    * expressions of those longs, mirrored shape-for-shape in the
    * oracle; χ²₁ tail = 2·(1−Φ(√χ²)) via the A&S kernel.
    */
  def labelerAgreement(documents: DataFrame): DataFrame = {
    val labeled = documents.select(
      ($"n_chars" >= 300L).cast("long").as("a"),
      (size(TextAnalysis.tokens($"text")) >= 60L).cast("long").as("b"))
    val m = labeled.agg(
      count(lit(1)).as("n"),
      sum($"a" * $"b").as("n11"),
      sum($"a" * (lit(1L) - $"b")).as("n10"),
      sum((lit(1L) - $"a") * $"b").as("n01"),
      sum((lit(1L) - $"a") * (lit(1L) - $"b")).as("n00"))
    val nD = $"n".cast("double")
    val po = ($"n11" + $"n00").cast("double") / nD
    val pA = ($"n11" + $"n10").cast("double") / nD
    val pB = ($"n11" + $"n01").cast("double") / nD
    val pe = pA * pB + (lit(1.0) - pA) * (lit(1.0) - pB)
    val nDis = $"n10" + $"n01"
    val chi2 = (abs(($"n10" - $"n01").cast("double")) - lit(1.0)) *
      (abs(($"n10" - $"n01").cast("double")) - lit(1.0)) / nDis.cast("double")
    m.select($"n", $"n11".as("n_both"), $"n10".as("n_a_only"),
      $"n01".as("n_b_only"), $"n00".as("n_neither"),
      round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
      round(po, 6).as("p_observed"), round(pe, 6).as("p_chance"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"),
      when(nDis > 0L, round(chi2, 4)).as("mcnemar_chi2"),
      when(nDis > 0L,
        round(least(lit(2.0) * upperTail(sqrt(chi2)), lit(1.0)), 6))
        .as("p_value"))
  }

  // ---- weight-of-evidence / information value (q287) -----------------------

  /** Weight-of-evidence and information value of a language-ID feature
    * (q287; the credit-scoring feature screen, Siddiqi 2006): how much
    * evidence does each " the "-count bucket carry for lang = 'en', and
    * what is the feature's TOTAL separating power? WOE_b =
    * ln(p_en(b)/p_other(b)) with the 0.5 Laplace adjustment (a bucket
    * one class never hits must not produce ±∞);
    * IV = Σ_b (p_en − p_other)·WOE_b. The standard screen before
    * admitting a feature to q143's classifier — IV < 0.02 is noise,
    * > 0.3 is a strong feature (the conventional bands, quoted in the
    * scaladoc so the readout is actionable).
    *
    * Beside q262: MI weighs the feature in bits against ANY label
    * structure; WOE/IV is the per-bucket DIRECTIONAL decomposition
    * credit/risk pipelines act on. Per-bucket WOE and IV terms are
    * micro-quantized before the cross-bucket sum (q245); the bucket
    * frame is ≤ maxBucket+1 rows. One corpus scan.
    */
  def woeIvPanel(documents: DataFrame): DataFrame = {
    val maxBucket = 7
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    val cnt = TextAnalysis.occurrences(padded, " the ")
    val byB = documents.select(
      least(cnt.cast("long"), lit(maxBucket.toLong)).as("bucket"),
      ($"lang" === "en").cast("long").as("y"))
      .groupBy($"bucket")
      .agg(sum($"y").as("g"), sum(lit(1L) - $"y").as("b"))
    val tot = byB.agg(sum($"g").as("gt"), sum($"b").as("bt"),
      count(lit(1)).as("kb"))
    val pG = ($"g" + lit(0.5)) / ($"gt" + lit(0.5) * $"kb")
    val pB = ($"b" + lit(0.5)) / ($"bt" + lit(0.5) * $"kb")
    val woe = log(pG / pB)
    val t2 = byB.crossJoin(broadcast(tot))
      .withColumn("woe6", round(woe * 1e6, 0).cast("long"))
      .withColumn("iv6", round((pG - pB) * woe * 1e6, 0).cast("long"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t2.select($"bucket", $"g".as("n_en"), $"b".as("n_other"),
      round($"woe6" / 1e6, 6).as("woe"),
      round(sum($"iv6").over(all) / 1e6, 6).as("iv"))
      .orderBy($"bucket")
  }

  // ---- regression discontinuity at the length gate (q291) ------------------

  /** Regression-discontinuity audit of the n_chars ≥ 300 quality gate
    * (q291; Imbens & Lemieux 2008 — the standard sharp-RD design): is
    * the corpus's canonical length cutoff a REAL quality cliff, or an
    * arbitrary line through smooth data? Local linear fits of the
    * stopword density (stopword tokens per word — a quality signal NOT
    * mechanically tied to length) on each side of the cutoff within a
    * ±`bandwidth` window; τ = the jump between the two intercepts AT
    * the cutoff. For the synthetic fixture the honest answer is "no
    * discontinuity" — the A/A-like gate; the spec plants a real jump
    * and recovers it exactly.
    *
    * Determinism: y micro-quantizes per document (round(stop/words·1e6)
    * — one double division then round, the q90 discipline); u = x − c
    * is an exact integer; all OLS moments are per-row LONG products
    * summed in DECIMAL(38,0) (|u| ≤ 150, y6 ≤ ~3·10⁵ — far inside the
    * loud-overflow ceiling); the intercept/slope/variance finisher is
    * one mirrored double expression per side. One corpus scan
    * (bandwidth filter pushes to the parquet range), 1-row output.
    */
  def rdGateAudit(documents: DataFrame): DataFrame = {
    val cutoff = 300L
    val bandwidth = 150L
    val words = size(TextAnalysis.tokens($"text"))
    val stops = TextAnalysis.occurrences(
      concat(lit(" "), lower($"text"), lit(" ")), " the ") +
      TextAnalysis.occurrences(
        concat(lit(" "), lower($"text"), lit(" ")), " a ") +
      TextAnalysis.occurrences(
        concat(lit(" "), lower($"text"), lit(" ")), " of ")
    val base = documents
      .filter($"n_chars" >= cutoff - bandwidth &&
        $"n_chars" < cutoff + bandwidth && words >= lit(1))
      .select(($"n_chars" - cutoff).as("u"),
        round(stops.cast("double") / words * 1e6, 0).cast("long").as("y6"),
        ($"n_chars" >= cutoff).cast("long").as("side"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def sSum(s: Long, c: Column): Column = sum(when($"side" === s, c).otherwise(0L))
    def sDec(s: Long, c: Column): Column =
      sum(dec(when($"side" === s, c).otherwise(0L)))
    val m = base.agg(
      sSum(0L, lit(1L)).as("n_l"), sSum(0L, $"u").as("su_l"),
      sDec(0L, $"u" * $"u").as("suu_l"), sSum(0L, $"y6").as("sy_l"),
      sDec(0L, $"u" * $"y6").as("suy_l"), sDec(0L, $"y6" * $"y6").as("syy_l"),
      sSum(1L, lit(1L)).as("n_r"), sSum(1L, $"u").as("su_r"),
      sDec(1L, $"u" * $"u").as("suu_r"), sSum(1L, $"y6").as("sy_r"),
      sDec(1L, $"u" * $"y6").as("suy_r"), sDec(1L, $"y6" * $"y6").as("syy_r"))
    // per-side OLS: det = n·Suu − Su², a = (Sy·Suu − Su·Suy)/det,
    // b = (n·Suy − Su·Sy)/det, RSS = Syy − a·Sy − b·Suy,
    // var(a) = RSS/(n−2) · Suu/det
    def side(sfx: String): (Column, Column, Column, Column) = {
      def c(n: String) = col(s"${n}_$sfx").cast("double")
      val det = c("n") * c("suu") - c("su") * c("su")
      val a = (c("sy") * c("suu") - c("su") * c("suy")) / det
      val b = (c("n") * c("suy") - c("su") * c("sy")) / det
      val rss = c("syy") - a * c("sy") - b * c("suy")
      val va = rss / (c("n") - lit(2.0)) * c("suu") / det
      (a, b, va, det)
    }
    val (aL, bL, vL, detL) = side("l")
    val (aR, bR, vR, detR) = side("r")
    val ok = $"n_l" >= 3L && $"n_r" >= 3L && detL > 0.0 && detR > 0.0
    val tau = aR - aL
    val se = sqrt(vL + vR)
    m.select($"n_l".as("n_left"), $"n_r".as("n_right"),
      when(ok, round(aL / 1e6, 6)).as("y_at_cut_left"),
      when(ok, round(aR / 1e6, 6)).as("y_at_cut_right"),
      when(ok, round(bL / 1e6, 8)).as("slope_left"),
      when(ok, round(bR / 1e6, 8)).as("slope_right"),
      when(ok, round(tau / 1e6, 6)).as("tau"),
      when(ok && se > 0.0, round(se / 1e6, 6)).as("se"),
      when(ok && se > 0.0, round(tau / se, 4)).as("z_score"),
      when(ok && se > 0.0,
        round(least(lit(2.0) * upperTail(abs(tau / se)), lit(1.0)), 6))
        .as("p_value"))
  }

  def jackknifeInfluence(documents: DataFrame): DataFrame = {
    val per = documents.groupBy($"source").agg(
      count(lit(1)).as("ns"), sum($"n_chars").as("ss"),
      sum(when($"n_chars" >= 300L, 1L).otherwise(0L)).as("ks"))
    val tot = per.agg(sum($"ns").as("n"), sum($"ss").as("s"), sum($"ks").as("k"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"ns".as("n_docs"),
        round($"s".cast("double") / $"n"
          - ($"s" - $"ss").cast("double") / ($"n" - $"ns"), 6)
          .as("infl_mean_chars"),
        round($"k".cast("double") / $"n"
          - ($"k" - $"ks").cast("double") / ($"n" - $"ns"), 6)
          .as("infl_pass_rate"))
      .orderBy($"source")
  }
}
