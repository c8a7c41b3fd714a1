package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), SURVEY.md §2.2 ➕.
  *
  * Two paths:
  *   - `cosineTopK`: brute-force exact top-k — the correctness baseline.
  *     Query set is broadcast against the corpus, so the corpus is scanned
  *     once with no shuffle of the big side; per-row work is a codegen'd
  *     `aggregate(zip_with(...))` dot product.
  *   - `lshCosineTopK`: the scale path — random-hyperplane LSH. Each vector
  *     gets a b-bit sign bucket from deterministic pseudo-random planes;
  *     only same-bucket candidates are scored. At 100 TB the bucket join
  *     replaces the full cross product with a shuffle on bucket id (plus
  *     multi-probe for recall).
  *
  * All arithmetic is double-precision with deterministic formulas, so the
  * DuckDB oracle reproduces values exactly (outputs rounded to 6 decimals).
  */
object Similarity {

  /** Dot product of two double arrays — sequential left-to-right fold,
    * fully codegen'd.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** The bounded query set of the ANN serving and evaluation ops: the
    * vectors with vec_id < NQueries.
    */
  private val NQueries = 5

  /** Exact top-k cosine neighbors for each query vector (vec_id < NQueries),
    * in the served shape ([[servedTopK]]). The tiny query side broadcasts
    * onto one corpus scan.
    */
  def cosineTopK(embeddings: DataFrame, k: Int = 5): DataFrame =
    cosineTopKWith(cosine)(embeddings.select($"vec_id", asDouble($"embedding").as("v")), k)

  /** cosineTopK scored by the native fused-loop Catalyst expression
    * (graft.functions.CosineSimilarity) instead of the compositional
    * aggregate/zip_with chain — identical results, one codegen'd loop per
    * pair.
    */
  def cosineTopKNative(embeddings: DataFrame): DataFrame =
    cosineTopKWith(graft.functions.VectorFunctions.cosine_sim)(
      embeddings.select($"vec_id", asDouble($"embedding").as("v")), 5)

  /** The exact top-k kernel over a `(vec_id, v)` corpus, scored by `scorer`. */
  private def cosineTopKWith(scorer: (Column, Column) => Column)(
      corpus: DataFrame, k: Int): DataFrame = {
    val queries = corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    servedTopK(corpus
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(scorer($"qv", $"v"), 6).as("cos")), "query_id", k)
  }

  /** Hard-negative mining for contrastive training: per anchor vector,
    * the top-`k` most-similar corpus vectors whose cosine falls in
    * `[lo, hi)` — similar enough to be informative negatives, strictly
    * below the near-dup threshold (`hi` should equal the dedup tau, here
    * q48's 0.45, so mined negatives are never latent positives). The
    * embedding-model training counterpart of the ANN serving ops.
    *
    * Shape: anchors broadcast onto one corpus scan (linear for a bounded
    * anchor set, like q29/q37); the band filter runs BEFORE the per-anchor
    * rank window, so window partitions hold band populations, not the
    * corpus. Mining negatives for EVERY corpus vector at 100 TB swaps the
    * broadcast for the IVF cell route (q55) and the plain window for the
    * salted `Scale.topKPerGroup` — same band-then-rank pipeline.
    */
  def hardNegatives(embeddings: DataFrame): DataFrame = {
    val k = 5
    val lo = 0.2
    val hi = 0.45
    import graft.functions.VectorFunctions.cosine_sim
    val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    val anchors = corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("anchor_id"), $"v".as("av"))
    servedTopK(corpus
      .join(broadcast(anchors), $"vec_id" =!= $"anchor_id")
      .select($"anchor_id", $"vec_id".as("neighbor_id"),
        round(cosine_sim($"av", $"v"), 6).as("cos"))
      .filter($"cos" >= lo && $"cos" < hi), "anchor_id", k)
  }

  /** Contrastive training-set construction: one table of (anchor, other,
    * label, cos) rows where the positives are the verified embedding
    * near-dup pairs (cos >= `hi`, both directions — each clustered vector
    * anchors its partners) and the negatives are the top-`k` band
    * [`lo`, `hi`) vectors per anchor, mined the q103 way. The natural
    * composition of the dedup graph (positives nobody should train apart)
    * with hard-negative mining — what an embedding-model fine-tune
    * actually consumes.
    *
    * Shape: positives ride `embeddingNearDup`'s bucketed LSH (candidate-
    * proportional); the anchor table is duplicate-mass-proportional and
    * broadcasts at fixture scale — a 100 TB run with a large anchor set
    * routes negative mining through IVF cells + salted top-k exactly as
    * `hardNegatives`' scaladoc prescribes. Band filter precedes the rank
    * window, so window partitions hold band populations only.
    */
  def contrastivePairs(embeddings: DataFrame): DataFrame = {
    val k = 5
    val lo = 0.2
    val hi = 0.45
    import graft.functions.VectorFunctions.cosine_sim
    val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    val pairs = embeddingNearDup(embeddings, threshold = hi)
      .select($"id1", $"id2", $"cos")
    val positives = pairs.select($"id1".as("anchor_id"), $"id2".as("other_id"), $"cos")
      .union(pairs.select($"id2", $"id1", $"cos"))
      .select($"anchor_id", $"other_id", lit(1).as("label"), $"cos")
    val anchors = positives.select($"anchor_id").distinct()
      .join(corpus, $"anchor_id" === $"vec_id")
      .select($"anchor_id", $"v".as("av"))
    val band = corpus
      .join(broadcast(anchors), $"vec_id" =!= $"anchor_id")
      .select($"anchor_id", $"vec_id".as("other_id"),
        round(cosine_sim($"av", $"v"), 6).as("cos"))
      .filter($"cos" >= lo && $"cos" < hi)
    val negatives = rankTopK(band, Seq($"anchor_id"), $"cos", $"other_id", k)
      .select($"anchor_id", $"other_id", lit(0).as("label"), $"cos")
    positives.union(negatives)
      .orderBy($"anchor_id", $"label".desc, $"cos".desc, $"other_id")
  }

  /** kNN label-agreement evaluation: classify a deterministic balanced
    * anchor sample by the majority label of its `k` nearest corpus
    * vectors and report per-label accuracy — the intrinsic
    * embedding-quality eval that belongs beside q63's ANN recall (does
    * the metric space respect the labels at all?).
    *
    * Shape: `perLabel` anchors per label via the salted two-stage
    * `Scale.topKPerGroup` (fixed-size diagnostic — costs the same at
    * 100 TB as at 1 GB, the labelCohesion argument); exact neighbors
    * come from one corpus scan against the broadcast anchor table with
    * the NN selection itself running through `topKPerGroup` (no
    * corpus-sized window partitions); votes and the report are
    * anchor-bounded frames.
    */
  def knnLabelEval(embeddings: DataFrame): DataFrame = {
    val perLabel = 8
    val k = 5
    import graft.functions.VectorFunctions.cosine_sim
    val corpus = embeddings.select($"vec_id", $"label", asDouble($"embedding").as("v"))
    val anchors = Scale.topKPerGroup(corpus,
        group = $"label", rankKey = md5($"vec_id".cast("string")), tie = $"vec_id",
        saltSource = $"vec_id", k = perLabel)
      .select($"vec_id".as("anchor_id"), $"label".as("true_label"), $"v".as("av"))
    val scored = corpus
      .join(broadcast(anchors), $"vec_id" =!= $"anchor_id")
      .select($"anchor_id", $"true_label", $"vec_id".as("neighbor_id"),
        $"label".as("nb_label"), round(cosine_sim($"av", $"v"), 6).as("cos"))
    val nn = Scale.topKPerGroup(scored,
      group = $"anchor_id", rankKey = -$"cos", tie = $"neighbor_id",
      saltSource = $"neighbor_id", k = k)
    val votes = nn
      .groupBy($"anchor_id", $"true_label", $"nb_label")
      .agg(count(lit(1)).as("c"))
    rankTopK(votes, Seq($"anchor_id"), $"c", $"nb_label", 1)
      .groupBy($"true_label")
      .agg(count(lit(1)).as("n_anchors"),
        sum(when($"nb_label" === $"true_label", 1L).otherwise(0L)).as("n_correct"))
      .select($"true_label".as("label"), $"n_anchors", $"n_correct",
        round($"n_correct" / $"n_anchors", 4).as("accuracy"))
      .orderBy($"label")
  }

  /** Sentinel for `kCells` parameters: derive the cell count from the
    * corpus size via [[kCellsFor]] (the production default since round
    * 11 — a fixed cell count is scale-hazardous, see `cellKnnGraph`).
    */
  val AutoCells: Int = 0

  /** The IVF cell-count dial: kCells = max(16, ⌈√N⌉) — the standard
    * inverted-file sizing (FAISS's nlist ≈ √N guideline; Jégou et al.
    * 2011). Per-cell population then stays ≈ √N, so within-cell
    * candidate work for the kNN graph is N·(N/kCells) ≈ N^1.5 — the
    * subquadratic IVF contract — instead of N²/16 at a fixed dial.
    * Floor 16 keeps the small-fixture behavior (n ≤ 256 → 16, the
    * round-7..10 registered dial) and guarantees enough cells for the
    * plurality/degree consumers. Measured ×10/×30 in SURVEY §6.15.
    */
  def kCellsFor(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Resolve a `kCells` argument: positive = explicit dial (the
    * registered fixture queries pin 16, like q48's 8×6); `AutoCells` =
    * derive from one cheap corpus count.
    */
  private def resolveCells(embeddings: DataFrame, kCells: Int): Int =
    if (kCells > 0) kCells else kCellsFor(embeddings.count())

  /** The cell-restricted kNN graph shared by q194/q207/q208/q231/q290:
    * each vector's `k` nearest neighbors WITHIN its trained k-means
    * cell, `(id, nb, cos)`, cut by the salted two-stage `topKPerGroup`
    * and checkpointed once. Candidates stay cell-bounded (the IVF
    * contract) — the graph never goes all-pairs at any corpus size —
    * and with the `AutoCells` default the cell count GROWS with the
    * corpus (√N, [[kCellsFor]]), so per-cell candidate sets stay ≈ √N
    * instead of growing linearly at a fixed dial (the round-10 verdict's
    * scale hazard; q243 gates the auto dial cross-engine).
    *
    * SESSION-CACHED since round 13, keyed (corpus plan, k, resolved
    * cells) like the bucket/pair indexes: the round-13 q290 profile
    * measured the post-graph LOF joins at ~zero and the graph REBUILD
    * as essentially the whole q290 wall (12 s of 12 s at sf1eq) — five
    * registered consumers were each re-training Lloyd and re-expanding
    * in-cell candidates for the identical graph. One construction, five
    * consumers, for real this time; the build is charged to the
    * lowest-numbered bench consumer (q194 — see Bench's carriers list).
    */
  private[graft] def cellKnnGraph(embeddings: DataFrame, k: Int,
      kCells: Int): DataFrame = {
    val cells = resolveCells(embeddings, kCells)
    SessionArtifacts.getOrBuild(KnnGraphs, embeddings, k, cells)(
      buildCellKnnGraph(embeddings, k, cells)
        .localCheckpoint()) // ROADMAP item 4 (c): the kNN-graph consumers share it
  }

  private def buildCellKnnGraph(embeddings: DataFrame, k: Int,
      cells: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val af = kmeansModel(embeddings, cells).assignments
    val pairs = af.select($"vec_id".as("id"), $"cid", $"v")
      .join(af.select($"vec_id".as("nb"), $"cid", $"v".as("nv")), Seq("cid"))
      .filter($"id" =!= $"nb")
      .select($"id", $"nb", round(cosine_sim($"v", $"nv"), 6).as("cos"))
    Scale.topKPerGroup(pairs, group = $"id", rankKey = -$"cos",
        tie = $"nb", saltSource = $"nb", k = k)
      .select($"id", $"nb", $"cos")
    // getOrBuild localCheckpoints: shared across rounds / direction probes
  }

  /** Semi-supervised label propagation over the cell-restricted kNN
    * graph (q194): hide half the labels (deterministic md5 coin), build
    * each vector's k nearest neighbors WITHIN its trained k-means cell,
    * and run `rounds` synchronous propagation steps — every hidden node
    * takes the plurality label among its neighbors' CURRENT labels
    * (count desc, min label tie; no labeled neighbor → still unknown),
    * visible nodes keep theirs (Zhu & Ghahramani 2002, hard-clamp
    * variant). Report per true label how many hidden nodes were
    * recovered and how many correctly — the transductive counterpart of
    * q114's one-shot kNN vote, and the measurement behind "can we
    * auto-label the unlabeled crawl from a labeled seed set?".
    *
    * Scale shape: the kNN graph never goes all-pairs — candidates are
    * CELL-restricted (the q70 Lloyd training this rides is the shared
    * session pattern; per-node candidate work is cell-bounded, the IVF
    * contract), cut to k by the salted two-stage `Scale.topKPerGroup`
    * and checkpointed once; each round is then one edge⋈label join +
    * one plurality aggregate over edge-proportional rows — label state
    * stays fully distributed, nothing corpus-sized on the driver.
    * Determinism: cos rounds to 6 with id tie-breaks, plurality breaks
    * ties (count desc, label asc) — bit-equal on any engine; the oracle
    * unrolls both propagation rounds over the shared Lloyd CTEs.
    */
  def labelPropagation(embeddings: DataFrame, rounds: Int = 2, kCells: Int = AutoCells): DataFrame = {
    val k = 5
    val labels = embeddings
      .select($"vec_id", $"label".cast("long").as("y"))
      .withColumn("hidden", Scale.md5SlicePos($"vec_id", 0, 2) === 1L)
      .localCheckpoint() // ROADMAP item 4 (c): every round and the final report join it
    val knn = cellKnnGraph(embeddings, k, kCells).select($"id", $"nb")
    var cur = labels.select($"vec_id",
      when($"hidden", lit(null).cast("long")).otherwise($"y").as("cur"))
    for (_ <- 1 to rounds) {
      val wv = Window.partitionBy($"id").orderBy($"c".desc, $"m")
      val maj = knn
        .join(cur.select($"vec_id".as("nb"), $"cur".as("m")), Seq("nb"))
        .filter($"m".isNotNull)
        .groupBy($"id", $"m").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wv)).filter($"rn" === 1)
        .select($"id".as("vec_id"), $"m")
      cur = labels.join(maj, Seq("vec_id"), "left_outer")
        .select($"vec_id", when(!$"hidden", $"y").otherwise($"m").as("cur"))
    }
    labels.join(cur, Seq("vec_id"))
      .filter($"hidden")
      .groupBy($"y".as("label"))
      .agg(count(lit(1)).as("n_hidden"),
        sum(when($"cur".isNotNull, 1L).otherwise(0L)).as("n_recovered"),
        sum(when($"cur" === $"y", 1L).otherwise(0L)).as("n_correct"))
      .select($"label", $"n_hidden", $"n_recovered", $"n_correct",
        round($"n_correct" / $"n_hidden", 4).as("accuracy"))
      .orderBy($"label")
  }

  /** Reciprocal nearest neighbors (q207): pairs where EACH vector is in
    * the OTHER's k-nearest list — the classic high-precision matcher
    * (mutual-kNN is the agreement filter behind RNN clustering and
    * two-tower retrieval QA): one-sided kNN membership is cheap to
    * satisfy near hubs, mutuality is not. Rides the SAME cell-restricted
    * kNN graph as q194 (one construction, two consumers — the pair-index
    * discipline), so the extra cost over q194 is one self-semi-join of
    * the k·n edge frame on (pair identity), edge-proportional at any
    * corpus size. Cosine is symmetric bit-for-bit (same fused loop, same
    * dimension order), so the emitted score is direction-free.
    */
  def mutualNeighborPairs(embeddings: DataFrame, kCells: Int = AutoCells): DataFrame = {
    val k = 5
    val knn = cellKnnGraph(embeddings, k, kCells)
    val lo = knn.filter($"id" < $"nb")
      .select($"id".as("a"), $"nb".as("b"), $"cos")
    val hi = knn.filter($"id" > $"nb")
      .select($"nb".as("a"), $"id".as("b"))
    lo.join(hi, Seq("a", "b"), "left_semi")
      .select($"a".as("id1"), $"b".as("id2"), $"cos")
      .orderBy($"id1", $"id2")
  }

  /** Margin-scored alignment pairs (q231): every mutual-kNN pair scored
    * with the RATIO MARGIN — cos(x,y) divided by the mean of the two
    * endpoints' average k-NN cosines (Artetxe & Schwenk 2019's
    * margin-based bitext-mining criterion, distance form). Raw cosine
    * cannot separate "these two are each other's match" from "this is a
    * HUB that is close to everything": hubs have high average
    * neighborhood cosine, so dividing by it deflates their pairs while
    * genuine isolated matches keep margins above 1. The standard mining
    * step for alignment pairs (translation twins, near-caption matches)
    * on an embedding corpus.
    *
    * Rides the SAME cell-restricted kNN graph as q194/q207/q208 (one
    * construction, four consumers). The per-id average is quantized to
    * exact integer micro-units before summing (cos is already on the
    * round-6 grid, so round-6×1e6 is exact) — order-independent under
    * any partitioning; the only floats are the final divisions, mirrored
    * operation-for-operation by the oracle. The denominator guard
    * (positive mean neighborhood cosine) is shared with the oracle: a
    * pathological all-negative neighborhood yields NULL margin, not an
    * ANSI divide-by-zero. Degree join is edge-proportional; nothing
    * corpus-sized moves.
    */
  def marginScoredPairs(embeddings: DataFrame, kCells: Int = AutoCells): DataFrame = {
    val k = 5
    val knn = cellKnnGraph(embeddings, k, kCells)
    val deg = knn.groupBy($"id").agg(
      sum(round($"cos" * 1e6, 0).cast("long")).as("s6"),
      count(lit(1)).as("kk"))
    val lo = knn.filter($"id" < $"nb")
      .select($"id".as("a"), $"nb".as("b"), $"cos")
    val hi = knn.filter($"id" > $"nb")
      .select($"nb".as("a"), $"id".as("b"))
    lo.join(hi, Seq("a", "b"), "left_semi")
      .join(deg.select($"id".as("a"), $"s6".as("sa"), $"kk".as("ka")), Seq("a"))
      .join(deg.select($"id".as("b"), $"s6".as("sb"), $"kk".as("kb")), Seq("b"))
      .withColumn("denom", ($"sa" / $"ka" + $"sb" / $"kb") / lit(2e6))
      .select($"a".as("id1"), $"b".as("id2"), $"cos",
        when($"denom" > 0, round($"cos" / $"denom", 6)).as("margin"))
      .orderBy($"id1", $"id2")
  }

  /** DBSCAN density profile (q208): classify every vector as CORE
    * (≥ `minPts` neighbors at cosine ≥ `eps`), BORDER (not core but
    * ε-adjacent to a core), or NOISE, and report counts per label — the
    * density-based complement to q70's centroid clustering (k-means
    * sees spherical mass; a density profile says whether the space has
    * dense cores at all, and how much of it is unclusterable noise —
    * the go/no-go a semantic-dedup dial reads before trusting
    * centroids). ε-neighborhoods are CELL-restricted like q194/q207's
    * kNN graph (the IVF contract: candidates bounded by the trained
    * cell, never all-pairs), which is the standard grid-partitioned
    * DBSCAN approximation — stated, and replicated exactly by the
    * oracle so the gate checks the served semantics.
    *
    * Shape: one cell self-join (cell-bounded), a neighbor-count
    * aggregate, one semi-join of non-cores against core ε-adjacency,
    * and a label-sized rollup; counts are exact integers on the
    * rounded-cosine grid.
    */
  def dbscanProfile(embeddings: DataFrame, eps: Double = 0.2,
      minPts: Int = 4, kCells: Int = AutoCells): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val af = kmeansModel(embeddings, resolveCells(embeddings, kCells)).assignments
    val neigh = af.select($"vec_id".as("id"), $"cid", $"v")
      .join(af.select($"vec_id".as("nb"), $"cid", $"v".as("nv")), Seq("cid"))
      .filter($"id" =!= $"nb")
      .select($"id", $"nb", round(cosine_sim($"v", $"nv"), 6).as("cos"))
      .filter($"cos" >= eps)
      .localCheckpoint() // ROADMAP item 4 (c): the count pass and the border probe read it
    val counts = neigh.groupBy($"id").agg(count(lit(1)).as("n_eps"))
    val ids = embeddings.select($"vec_id", $"label".cast("long").as("label"))
    val classed = ids
      .join(counts.select($"id".as("vec_id"), $"n_eps"), Seq("vec_id"), "left_outer")
      .withColumn("n_eps", coalesce($"n_eps", lit(0L)))
      .withColumn("is_core", $"n_eps" >= minPts.toLong)
    // NOT broadcast: the core set is corpus-proportional in a dense
    // space — let the planner pick (semi-join shuffles are edge-bounded)
    val cores = classed.filter($"is_core").select($"vec_id".as("nb"))
    val borderIds = neigh
      .join(cores, Seq("nb"), "left_semi")
      .select($"id".as("vec_id")).distinct()
    classed
      .join(borderIds.withColumn("adj_core", lit(true)), Seq("vec_id"), "left_outer")
      .select($"label",
        when($"is_core", "core")
          .when(coalesce($"adj_core", lit(false)), "border")
          .otherwise("noise").as("role"))
      .groupBy($"label", $"role").agg(count(lit(1)).as("n_vecs"))
      .orderBy($"label", $"role")
  }

  /** Simplified-silhouette profile of the trained clustering (q209):
    * per cluster, the mean of s = (cos_own − cos_bestOther) /
    * max(1−cos_own, 1−cos_bestOther) — the centroid-based silhouette
    * (Hruschka et al.), the standard cluster-quality score at the dial
    * where the FULL silhouette's all-pairs b-term is the thing a
    * distributed engine must refuse. Reads: s → 1 = members hug their
    * own centroid, s ≤ 0 = another centroid fits better — the
    * per-cluster verdict q70's cohesion (own-cos only) cannot give.
    *
    * Per-vector s quantizes to integer micro-units (rounded-cosine
    * inputs, one guarded division — identical-to-centroid corner cases
    * emit 0, not an ANSI crash), so cluster means are exact integer
    * sums with one boundary division.
    *
    * Shape: rides the session k-means model (centroids and assignment
    * frame); the best-other term is a k-row broadcast crossJoin per
    * vector (k = cells, the IVF argmin cost), one groupBy(vec) max, one
    * cluster-sized rollup.
    */
  def silhouetteProfile(embeddings: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val spark = embeddings.sparkSession
    val model = kmeansModel(embeddings, 16)
    val af = model.assignments
    val centDf = spark.createDataFrame(model.cents.toSeq).toDF("ccid", "cv")
    val bestOther = af.crossJoin(broadcast(centDf))
      .filter($"cid" =!= $"ccid")
      .select($"vec_id", round(cosine_sim($"v", $"cv"), 6).as("ocos"))
      .groupBy($"vec_id").agg(max($"ocos").as("best_other"))
    val denom = greatest(lit(1.0) - $"cos", lit(1.0) - $"best_other")
    af.join(bestOther, Seq("vec_id"))
      .select($"cid",
        when(denom > 0.0,
          round((($"cos" - $"best_other") / denom) * 1e6, 0).cast("long"))
          .otherwise(0L).as("sm"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_members"), sum($"sm").as("ssum"),
        sum(when($"sm" > 0L, 1L).otherwise(0L)).as("n_positive"))
      .select($"cid", $"n_members",
        round($"ssum" / $"n_members" / 1e6, 6).as("mean_silhouette"),
        $"n_positive")
      .orderBy($"cid")
  }

  /** Clustering stability via the Adjusted Rand Index (q210): run the
    * SAME Lloyd recipe from two independent deterministic seedings (the
    * standard md5 coreset and a salted variant) and measure partition
    * agreement — the "are these clusters real or seed artifacts?"
    * diagnostic that gates every downstream consumer of q70's cells
    * (SemDeDup, IVF, coreset selection). ARI ≈ 1: structure is stable;
    * ARI ≈ 0: the cells are noise and cell-dependent dials should not
    * be trusted.
    *
    * ARI = (Σᵢⱼ C(nᵢⱼ,2) − ΣC(aᵢ,2)·ΣC(bⱼ,2)/C(n,2)) /
    *       (½[ΣC(aᵢ,2)+ΣC(bⱼ,2)] − ΣC(aᵢ,2)·ΣC(bⱼ,2)/C(n,2)) — every
    * pair-count sum is exact integer arithmetic over the k×k
    * contingency table; the two divisions happen at the boundary with
    * oracle-matched shape (degenerate denominator → null).
    *
    * Shape: A is the session k-means model; B trains over A's
    * checkpointed assignment frame (driver holds k×dim doubles per
    * side), then ONE pass over that frame adds B's argmin beside A's
    * cell, a k²-row contingency aggregate, and 1-row rollups.
    */
  def clusterStability(embeddings: DataFrame): DataFrame = {
    val kCells = 16
    val a = kmeansModel(embeddings, kCells).assignments
    val corpus = a.select($"vec_id", $"v")
    val centsB = trainCentroids(corpus, md5Coreset(corpus, kCells, ":b"))
    val cont = assignCells(a.select($"vec_id", $"v", $"cid".as("ca")), centsB)
      .select($"ca", $"cid".as("cb"))
      .groupBy($"ca", $"cb").agg(count(lit(1)).as("nij")) // <= k² rows
      .localCheckpoint() // ROADMAP item 4 (c): three marginal sums read it
    val p1 = cont.agg(
      sum(expr("nij * (nij - 1) div 2")).as("sij"), sum($"nij").as("n"))
    val p2 = cont.groupBy($"ca").agg(sum($"nij").as("na"))
      .agg(sum(expr("na * (na - 1) div 2")).as("sa"))
    val p3 = cont.groupBy($"cb").agg(sum($"nij").as("nb"))
      .agg(sum(expr("nb * (nb - 1) div 2")).as("sb"))
    val t = expr("n * (n - 1) div 2")
    val expTerm = $"sa".cast("double") * $"sb" / t
    val den = ($"sa" + $"sb") / lit(2.0) - expTerm
    p1.crossJoin(broadcast(p2)).crossJoin(broadcast(p3))
      .select($"n", $"sij", $"sa", $"sb",
        when(den =!= 0.0, round(($"sij" - expTerm) / den, 6)).as("ari"))
  }

  /** Number of output dimensions of the deterministic random projection
    * (Johnson-Lindenstrauss sketch). 32 dims halve the 64-dim fixture and
    * land the mean cosine distortion at the ~1/sqrt(k) JL rate (~0.13 on
    * the fixture sample).
    */
  val ProjDims = 32

  /** Projection coefficient for (plane j, dim i) — the shared
    * multiplicative-mix hyperplane family (see `coef`, identical formula):
    * (j+1)(i+17) index mixing decorrelates planes. Engine-independent
    * integer arithmetic, like everything else in the hash family.
    */
  private def projCoef(j: Int, i: Column): Column = coef(j, i)

  /** Random-projection distortion report: project embeddings to
    * `ProjDims` dimensions with the deterministic LCG hyperplane family
    * and measure, over a fixed-size md5-selected vector sample, how well
    * projected cosine preserves true cosine — the Johnson-Lindenstrauss
    * health check run before committing an index (or a shuffle-heavy
    * pipeline) to reduced vectors. Distortions quantize to integer
    * micro-units, so the summary is exact order-free arithmetic.
    *
    * Shape: the sample is `nSample` vectors via the salted
    * `Scale.topKPerGroup` (fixed-size diagnostic — the labelCohesion
    * argument: pair count is (nSample choose 2) regardless of corpus
    * size); projection is a codegen'd per-row expression; the pair frame
    * is sample²-bounded.
    */
  /** The `ProjDims`-dim random projection of a vector column. */
  private def projectArray(v: Column): Column = array(
    (0 until ProjDims).map { j =>
      aggregate(
        zip_with(v, sequence(lit(1), size(v)), (x, i) => x * projCoef(j, i)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  def projectionDistortion(embeddings: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    def proj(v: Column): Column = projectArray(v)
    val sampled = Scale.topKPerGroup(
        embeddings.select($"vec_id", asDouble($"embedding").as("v")).withColumn("g", lit(1)),
        group = $"g", rankKey = md5($"vec_id".cast("string")), tie = $"vec_id",
        saltSource = $"vec_id", k = 32)
      .select($"vec_id", $"v", proj($"v").as("p"))
      .localCheckpoint() // ROADMAP item 4 (c): both sides of the self-join read it
    sampled.as("a").join(sampled.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        round(cosine_sim(col("a.v"), col("b.v")), 6).as("cos"),
        round(cosine_sim(col("a.p"), col("b.p")), 6).as("pcos"))
      .select(round(abs($"cos" - $"pcos") * 1e6, 0).cast("long").as("d6"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum($"d6") / count(lit(1)) / 1e6, 4).as("avg_abs_err"),
        round(max($"d6") / 1e6, 4).as("max_abs_err"))
  }

  /** Prefix-dimension (Matryoshka-style) retrieval quality: for each
    * truncation width `d`, the recall@k of cosine top-k computed on only
    * the FIRST `d` dimensions against the full-width truth, PLUS the
    * cosine distortion (avg/max |cos_full − cos_prefix| over the scored
    * query×corpus pairs, q116's micro-unit form) — the decision table for
    * serving truncated embeddings. The two grades are complementary: on
    * an embedding trained with prefix-nested objectives recall survives
    * truncation; on arbitrary embeddings (this fixture's random vectors —
    * recall is chance-level by construction) the distortion column still
    * orders the widths, so the table is informative either way. q116's
    * complement: that op measures a RANDOM linear map, this the zero-cost
    * prefix truncation.
    *
    * Shape: ONE scored pass — the dims panel cross-joins as a broadcast
    * |dims|-row frame and each row slices the already-loaded vector (no
    * re-scan per width); the approximate top-k ranks per (dims, query).
    * Like q29/q63 an EVAL op over a bounded query sample: cost is
    * NQueries·|dims|·corpus, never corpus².
    */
  def prefixDimRecall(embeddings: DataFrame, dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val k = 3
    import graft.functions.VectorFunctions.cosine_sim
    val spark = embeddings.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newIntEncoder}
    val e = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
      .localCheckpoint() // ROADMAP item 4 (c): the truth pass and the per-dim pass read it
    val q = e.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val dimsDf = dims.toDF("dims")
    val pairs = e.crossJoin(broadcast(q)).where($"vec_id" =!= $"query_id")
    val truth = rankTopK(pairs, Seq($"query_id"), round(cosine_sim($"qv", $"v"), 6), $"vec_id", k)
      .select($"query_id", $"vec_id")
    val scored = pairs.crossJoin(broadcast(dimsDf))
      .select($"dims", $"query_id", $"vec_id",
        round(cosine_sim($"qv", $"v"), 6).as("cf"),
        round(cosine_sim(slice($"qv", lit(1), $"dims"),
          slice($"v", lit(1), $"dims")), 6).as("cd"))
      .localCheckpoint() // ROADMAP item 4 (c): the rank pass and the distortion rollup read it
    val approx = rankTopK(scored, Seq($"dims", $"query_id"), $"cd", $"vec_id", k)
      .select($"dims", $"query_id", $"vec_id")
    // distortion over ALL scored pairs, exact micro-units (q116's form)
    val distortion = scored
      .select($"dims", round(abs($"cf" - $"cd") * 1e6, 0).cast("long").as("d6"))
      .groupBy($"dims")
      .agg(round(sum($"d6") / count(lit(1)) / 1e6, 4).as("avg_abs_err"),
        round(max($"d6") / 1e6, 4).as("max_abs_err"))
    truth.crossJoin(broadcast(dimsDf))
      .join(approx, Seq("dims", "query_id", "vec_id"), "left_semi")
      .groupBy($"dims", $"query_id")
      .agg(count(lit(1)).as("n_hit"))
      // a (dims, query) whose approx set misses ALL truth rows vanishes
      // from the semi-join; restore it with a zero count
      .join(truth.select($"query_id").distinct().crossJoin(broadcast(dimsDf)),
        Seq("dims", "query_id"), "right_outer")
      .join(broadcast(distortion), Seq("dims"))
      .select($"dims", $"query_id",
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        round(coalesce($"n_hit", lit(0L)) / lit(k).cast("double"), 6).as("recall"),
        $"avg_abs_err", $"max_abs_err")
      .orderBy($"dims", $"query_id")
  }

  /** Projected ANN with exact re-rank + recall report — what q116's
    * distortion number buys: candidate generation scores the `ProjDims`-dim
    * projections (half the bytes and flops of the full fixture vectors;
    * 32/d of a d-dim production corpus), over-fetching `overfetch`×k
    * candidates per query, then ONLY the candidate set is re-ranked with
    * exact full-dimension cosine. Recall vs the exact top-k is the
    * reported contract, the q63/q91 pattern — the JL route trades a
    * recall dial (overfetch) for a bandwidth-proportional speedup on the
    * scan that dominates ANN serving cost.
    *
    * Caveat the report exists to surface: ISOTROPIC random vectors (the
    * fixture) are the adversarial case for JL — neighbor margins are
    * ~0.01 cosine, under the projection's ~0.13 distortion, so recall at
    * small overfetch is low (measured 4/15 at 3×, 13/15 at 25× on the
    * fixture). Real embedding corpora are low-rank, where the same
    * projection preserves ranking far better; run THIS report before
    * committing to the projected route, exactly like q116.
    */
  def projectedAnnRecall(embeddings: DataFrame, overfetch: Int = 3): DataFrame = {
    val k = 3
    import graft.functions.VectorFunctions.cosine_sim
    val corpus = embeddings
      .select($"vec_id", asDouble($"embedding").as("v"))
      .select($"vec_id", $"v", projectArray($"v").as("pv"))
    val queries = corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"pv".as("qpv"))
    val projected = corpus
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), $"qv", $"v",
        round(cosine_sim($"qpv", $"pv"), 6).as("pcos"))
    val candidates = rankTopK(projected, Seq($"query_id"), $"pcos", $"neighbor_id", k * overfetch)
      .select($"query_id", $"neighbor_id", round(cosine_sim($"qv", $"v"), 6).as("cos"))
    val approx = rankTopK(candidates, Seq($"query_id"), $"cos", $"neighbor_id", k)
      .select($"query_id", $"neighbor_id")
    recallAgainstTruth(cosineTopK(embeddings, k), approx, k)
  }

  val NumPlanes = 8

  /** Deterministic pseudo-random hyperplane coefficient for (plane j,
    * dim i): integer formula mapped to [-1, 1] with MULTIPLICATIVE
    * (j+1)(i+17) index mixing. Engine-independent.
    *
    * The mixing matters: the earlier additive family (j·7919 + i·104729)
    * made every plane a SHIFTED COPY of one base sequence, so planes were
    * linearly correlated across j — sign-bucket occupancy skewed far off
    * uniform and OR-amplification ran over effectively-correlated tables.
    * Measured on the x1 replica embedding corpus (+100 planted
    * pairs at cos≈0.92): additive 8x6 = 1.05M candidates / 94% planted
    * recall, additive 24x12 = 309k / 69%; multiplicative 8x6 = 312k /
    * 100%, multiplicative 24x12 = 18k / 100% — i.e. the decorrelated
    * family restores both the ~tables·2^-bits candidate-rate math (17x
    * reduction at the production dial, vs 3.4x with correlated planes)
    * AND the OR-amplified recall the banding design predicts (SURVEY
    * §6.4; code at 56418f6).
    */
  private def coef(j: Int, i: Column): Column =
    ((((i + 17) * lit((j + 1).toLong * 104729L) + lit(j.toLong * 7919L)) % 2001L - 1000L)
      .cast("double") / 1000.0)

  /** b-bit sign bucket of a vector under the fixed hyperplanes.
    * bucket = sum over j of 2^j * (proj_j > 0).
    */
  def lshBucket(v: Column): Column =
    (0 until NumPlanes).map { j =>
      val proj = aggregate(
        zip_with(v, sequence(lit(1), size(v)), (x, i) => x * coef(j, i)),
        lit(0.0), (acc, x) => acc + x)
      // round before the sign test: a 1-ulp cross-engine summation wobble
      // must not flip a bucket bit (matches the oracle's rounded form)
      when(round(proj, 6) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN with multi-probe: candidates are corpus vectors whose
    * bucket is within `maxHamming` bits of the query's bucket, generated by
    * exploding each query into its probe buckets (all XOR masks of popcount
    * <= maxHamming) and equi-joining on the bucket value — a shuffle/
    * broadcast join, never a cross product and never a theta join. Exact
    * top-k within the candidate set.
    *
    * Recall is < 1 by construction; multi-probe is the recall knob
    * (maxHamming 0 = single-probe, 1 = 9 probes at 8 planes, 2 = 37).
    * Probing Hamming-adjacent buckets first is the standard trick: a true
    * neighbor that misses the exact bucket most likely flipped exactly one
    * low-margin plane bit.
    */
  def lshCosineTopK(embeddings: DataFrame, k: Int = 3,
      maxHamming: Int = 1): DataFrame = {
    val corpus = embeddings
      .select($"vec_id", asDouble($"embedding").as("v"))
      // fused native form of lshBucket (bit-identical; FunctionsSpec) — the
      // interpreted HOF chain would dominate the corpus scan
      .withColumn("bucket",
        element_at(graft.functions.VectorFunctions.hyperplane_buckets($"v", 1, NumPlanes), 1))
    // all XOR masks within the Hamming budget; distinct masks => a corpus
    // row matches at most one probe per query, so no duplicate candidates.
    // Generated combinatorially (choose <= maxHamming bit positions), so
    // cost is C(planes, <=h), not 2^planes — raising the plane count stays
    // cheap on the driver
    val masks: Seq[Long] = (0 to maxHamming).flatMap(h =>
      (0 until NumPlanes).combinations(h).map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val queries = corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"),
        explode(array(masks.map(m => $"bucket".bitwiseXOR(lit(m))): _*)).as("qbucket"))
    servedTopK(corpus
      .join(broadcast(queries), $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), round(cosine($"qv", $"v"), 6).as("cos")),
      "query_id", k)
  }

  /** Recall@k report for the multi-probe LSH ANN against the exact
    * brute-force top-k — the evaluation harness every production ANN
    * deployment runs before trusting the index. Per query: how many of the
    * true top-k neighbors the approximate path returned.
    *
    * Both sides are the already-registered operators (q29/q30 shapes); the
    * report is a left join from truth to the approximate result over
    * (query, neighbor) — k*NQueries rows, negligible at any corpus size
    * (the expensive parts are the underlying searches, each already
    * scale-shaped).
    */
  def annRecall(embeddings: DataFrame): DataFrame = {
    val k = 3
    recallAgainstTruth(
      cosineTopK(embeddings, k),
      lshCosineTopK(embeddings, k, 1), k)
  }

  /** Ideal-DCG@k in integer micro-units under graded relevance
    * (truthK+1-rank_truth): the constant both engines divide by, computed
    * once here so the Spark plan and the oracle SQL embed the SAME
    * literal (no cross-engine transcendental risk on the denominator).
    */
  def ndcgIdcgMicro(k: Int, truthK: Int): Long = {
    // outside k <= truthK the graded-relevance formula is invalid: ideal
    // grades truthK+1-i go NEGATIVE for i > truthK while the approx side's
    // relevance floors at 0, understating the IDCG denominator (nDCG could
    // exceed 1). Guard the parameter space instead of silently misbehaving.
    require(k <= truthK,
      s"ndcg@$k needs truthK >= k (got truthK=$truthK): grades are truthK+1-rank, nonnegative only up to rank truthK")
    (1 to k).map { i =>
      java.math.BigDecimal.valueOf(
        (truthK + 1 - i).toDouble / (math.log(i + 1.0) / math.log(2.0)) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }.sum
  }

  /** nDCG@k of the multi-probe LSH ANN against the exact ranking — the
    * ORDER-quality half of the index evaluation (q63's recall counts set
    * membership; nDCG also penalizes ranking the 5th-best first). Graded
    * relevance truthK+1-rank_exact (0 outside the exact top-truthK);
    * DCG terms quantize to integer micro-units (round(1e6·rel/log2(i+1)),
    * the PSI trick — libm's 1-ulp log2 jitter sits ~1e2 micro-units from
    * any rounding boundary), so per-query sums are order-free and the
    * final score is a ratio of integers. Same k·NQueries-row cost shape
    * as annRecall.
    */
  def annNdcg(embeddings: DataFrame): DataFrame = {
    val k = 3
    val truthK = 5
    val approx = lshCosineTopK(embeddings, k)
    val truth = cosineTopK(embeddings, truthK)
    val idcg = ndcgIdcgMicro(k, truthK)
    approx.as("a")
      .join(truth.select($"query_id", $"neighbor_id", $"rnk".as("trnk")),
        Seq("query_id", "neighbor_id"), "left")
      .select($"query_id", $"rnk",
        coalesce(lit(truthK + 1) - $"trnk", lit(0)).as("rel"))
      .groupBy($"query_id")
      .agg(sum(round($"rel" / log2($"rnk" + 1) * 1e6).cast("long")).as("dcg_micro"))
      .select($"query_id", $"dcg_micro",
        round($"dcg_micro" / lit(idcg.toDouble), 4).as("ndcg"))
      .orderBy($"query_id")
  }

  /** Recall@k of an approximate result against the exact top-k: a left
    * join over (query, neighbor) — k*NQueries rows, negligible at any
    * corpus size.
    */
  private def recallAgainstTruth(truth: DataFrame, approx: DataFrame, k: Int): DataFrame =
    truth.as("t")
      .join(approx.as("a"),
        col("t.query_id") === col("a.query_id") &&
          col("t.neighbor_id") === col("a.neighbor_id"),
        "left")
      .groupBy(col("t.query_id").as("query_id"))
      .agg(count(col("a.neighbor_id")).as("n_hit"))
      .select($"query_id", $"n_hit",
        round($"n_hit" / lit(k.toDouble), 6).as("recall"))
      .orderBy($"query_id")

  /** Int8-quantized similarity search + recall report — the
    * memory-bandwidth side of ANN serving: per-vector symmetric int8
    * quantization (q = trunc(x * 127 / max|x|); trunc-toward-zero because
    * engines disagree on cast rounding but agree on trunc) cuts vector
    * bytes 4× (float32) to 8× (float64) so a 100 TB embedding corpus'
    * candidate scan stays cache- and IO-bound instead of
    * memory-bandwidth-starved. Per-vector scales CANCEL in cosine, so
    * quantized ranking needs no dequantization — cosine over the integer
    * grids directly, every product and partial sum exactly representable
    * (|q| <= 127, small dims), which makes the quantized scores
    * bit-exact across engines.
    *
    * Output: recall@k of the quantized ranking (the exact top-k kernel
    * run over the int8 corpus) against the float truth, per query — the
    * accuracy/bandwidth trade made measurable (`annRecall`'s report).
    *
    * Plan note: the quantization projection uses HOF lambdas (interpreted,
    * not codegen) — acceptable because at scale it is a ONE-TIME
    * materialization pass over the corpus (the int8 table is what gets
    * stored and served); the per-candidate hot path below it scores with
    * the native fused-loop cosine.
    */
  def quantizedAnnRecall(embeddings: DataFrame): DataFrame = {
    val k = 3
    val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    val maxabs = aggregate($"v", lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val qcorpus = corpus
      .withColumn("m", maxabs)
      .withColumn("qv",
        when($"m" > 0,
          transform($"v", x => (x * 127.0 / $"m").cast("long").cast("double")))
          .otherwise(transform($"v", x => lit(0.0))))
      .select($"vec_id", $"qv".as("v"))
    val approx = cosineTopKWith(graft.functions.VectorFunctions.cosine_sim)(qcorpus, k)
      .select($"query_id", $"neighbor_id")
    recallAgainstTruth(cosineTopK(embeddings, k), approx, k)
  }

  /** Product quantization + asymmetric distance (Jégou et al. 2011, the
    * IVF-PQ serving stack's compression half): split each vector into `m`
    * subspaces, train a tiny per-subspace codebook (L2 Lloyd over
    * subvectors — K-means under L2 IS the reconstruction-error-minimizing
    * codebook), store each vector as `m` one-byte codes, and score
    * queries against the CODES via precomputed ADC tables: `dot(q, x) ≈
    * Σ_s table_s[code_s(x)]` where `table_s[c] = dot(q_s, codeword_{s,c})`
    * is computed ONCE per query (m×codes doubles), so the per-candidate
    * scan does no per-pair float vector math at all. The ADC ranking then
    * feeds the standard serving tail: the top-`shortlist` candidates per
    * query are re-ranked EXACTLY on their float vectors, so only
    * shortlist×NQueries full vectors are ever touched. This is the
    * memory-layout endgame of ANN at 100 TB: 64-dim float64 (512 B) → 8
    * code bytes (64× compression) for the scan, floats only for the
    * shortlist.
    *
    * Scale shape: each Lloyd round is ONE corpus pass (the m per-subspace
    * assignments ride a single `explode`) + one (m×codes)-group shuffle;
    * the driver holds only the m×codes×subDim codebook. Encoding is one
    * corpus pass emitting m code columns (the stored table). The ADC
    * tables are a driver-built m×codes×NQueries frame that enters the
    * scan as a BROADCAST equi-join on (subspace, code) — no giant literal
    * CASE, no shuffle of the code table. The exact re-rank touches only
    * the shortlist semi-join. The trained model is session-cached by
    * corpus plan — q148 is the family's training carrier;
    * `ivfPqAnnRecall` (q149) and repeat calls ride the cache.
    *
    * Determinism: the `kmeansClusters` recipe — md5-coreset seeds,
    * argmin on `round(l2², 6)` with codeword-id tie-break, per-dimension
    * means rounded half-up at 6. ADC table entries are rounded at 6, so
    * every per-candidate sum is a sum of 1e-6-grid multiples — its float
    * lies within ulps of a grid point, never near a rounding boundary,
    * and the final `round(·, 6)` is therefore exact across engines and
    * aggregation orders. The DuckDB oracle unrolls the per-subspace
    * Lloyd trainings and recomposes the same sums.
    *
    * Output: recall@k of the PQ-shortlisted-then-exactly-re-ranked top-k
    * against the exact float truth per query — the compression/accuracy
    * trade made measurable (same report shape as `annRecall`/
    * `quantizedAnnRecall`).
    */
  def pqAnnRecall(embeddings: DataFrame): DataFrame = {
    val shortlist = 50
    val k = 3
    val mdl = pqModelFor(embeddings)
    // the full-scan ADC ranking: every stored code row meets its query's
    // broadcast dot-table
    val adcScores = mdl.codesLong
      .join(broadcast(mdl.adcTables), Seq("s", "cid"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id".as("neighbor_id"))
      .agg(round(sum($"t"), 6).as("adc"))
    val approx = pqShortlistRerank(mdl.corpus, adcScores, shortlist, k)
    recallAgainstTruth(cosineTopK(embeddings, k), approx, k)
  }

  /** Session-cached trained PQ model — (checkpointed corpus, encoded
    * code table, ADC tables) keyed by (session, corpus plan):
    * the whole PQ family pays ONE training per corpus per session —
    * q148 is the training carrier, q149 and repeat calls ride. The code
    * table is checkpointed because it IS the stored serving artifact
    * (the thing a production system writes once and scans forever).
    */
  /** A trained PQ model: checkpointed corpus, encoded code table, the
    * per-query ADC tables, and the raw per-subspace codebooks (the
    * persistable half of the serving bundle).
    */
  private case class PqModel(corpus: DataFrame, codesLong: DataFrame,
      adcTables: DataFrame, books: Array[Array[(Long, Array[Double])]])

  private val PqModels = new SessionArtifacts.Kind[PqModel]

  private def pqModelFor(embeddings: DataFrame): PqModel =
    SessionArtifacts.getOrBuild(PqModels, embeddings) {
      val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
        .localCheckpoint() // ROADMAP item 4 (c): the Lloyd rounds, encode and re-rank read it
      val (codesLong, adcTables, books) = pqModel(corpus)
      PqModel(corpus,
        codesLong.localCheckpoint(), // ROADMAP item 4 (c): q148, q149 and writePqIndex scan it
        adcTables, books)
    }

  /** One trained PQ model over `corpus` (which the caller should have
    * localCheckpointed — it is scanned once per Lloyd round, once to
    * encode, and once for the query vectors). Returns:
    *  - `codesLong(vec_id, s, cid)` — the encoded corpus, m one-byte
    *    codes per vector unpivoted for the ADC join (the stored table);
    *  - `adcTables(query_id, s, cid, t)` — the driver-built per-query
    *    dot tables, `t = round₆(dot(q_s, codeword_{s,cid}))`, an
    *    (NQueries × m × codes)-row broadcast side.
    * Training and determinism are documented on `pqAnnRecall`.
    */
  private def pqModel(
      corpus: DataFrame): (DataFrame, DataFrame, Array[Array[(Long, Array[Double])]]) = {
    val m = 8      // subspaces: 8 one-byte codes per vector
    val codes = 16 // codewords per subspace
    val iters = 2  // Lloyd rounds
    def round6(x: Double): Double = graft.functions.Rounding.halfUp(x, 6)
    val spark = corpus.sparkSession
    // one md5-coreset seed draw shared by all subspaces (sliced per s);
    // the embedding dim rides the seed collect instead of paying its own
    // limit(1) probe job (r15 — one driver job fewer per model build)
    val seeds = md5Coreset(corpus, codes)
    val dim =
      if (seeds.nonEmpty) seeds(0)._2.length
      else corpus.select(size($"v")).limit(1).collect()(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    def sub(v: Column, s: Int): Column = slice(v, s * subDim + 1, subDim)
    def subArr(v: Array[Double], s: Int): Array[Double] =
      v.slice(s * subDim, (s + 1) * subDim)
    // The assignment argmin runs as a BROADCAST codeword-TABLE join +
    // min(struct) aggregate, NOT a broadcast-literal least() chain: the
    // fused m×codes literal projection (8×16 structs, ~1024 literal
    // doubles in one generated method) blows Janino's 64 KB method
    // limit and drops the whole stage to interpreted eval (measured:
    // the 9 compile failures cost ~4× on the encode pass) — the exact
    // large-k ceiling documented on `kmeansClusters`, hit here because
    // ALL subspaces share one projection. The table join keeps every
    // operator codegen'd at ANY dial (codes=256 standard PQ included).
    // Squared L2 via the native dot product: |x−c|² = ⟨x,x⟩ − 2⟨x,c⟩ +
    // |c|²; the recomposition differs from a sequential squared-diff
    // sum by ulps of the largest term, absorbed by the round-6 cut
    // before the argmin, so assignments stay engine-reproducible.
    import graft.functions.VectorFunctions.dot_product
    // (vec_id, s, sv, dxx): m rows per vector, ⟨sv,sv⟩ computed once
    val expanded = corpus.select($"vec_id", explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), sub($"v", s).as("sv"))): _*)).as("e"))
      .select($"vec_id", $"e.s".as("s"), $"e.sv".as("sv"),
        dot_product($"e.sv", $"e.sv").as("dxx"))
    def bookDf(books: Array[Array[(Long, Array[Double])]]): DataFrame =
      spark.createDataFrame(for {
        s <- (0 until m); (cid, cw) <- books(s)
      } yield (s, cid, cw.toSeq, cw.map(x => x * x).sum))
        .toDF("s", "cid", "cw", "cwn2")
    // per-(vector, subspace) nearest codeword: m×codes candidate rows
    // collapse map-side to m rows per vector (min/first are partial
    // aggs); `first(sv)` is deterministic — sv is constant per group
    def assigned(books: Array[Array[(Long, Array[Double])]], carrySv: Boolean): DataFrame = {
      val d = round($"dxx" - lit(2.0) * dot_product($"sv", $"cw") + $"cwn2", 6)
      val cands = expanded.join(broadcast(bookDf(books)), Seq("s"))
        .select($"vec_id", $"s", $"sv", struct(d.as("d"), $"cid".as("cid")).as("dc"))
      val aggs =
        if (carrySv) Seq(min($"dc").getField("cid").as("cid"), first($"sv").as("sv"))
        else Seq(min($"dc").getField("cid").as("cid"))
      cands.groupBy($"vec_id", $"s").agg(aggs.head, aggs.tail: _*)
    }
    val vecSum = udaf(new graft.functions.Aggregators.VectorSum)
    val books: Array[Array[(Long, Array[Double])]] =
      Array.tabulate(m)(s => seeds.map { case (cid, v) => (cid, subArr(v, s)) })
    for (_ <- 1 to iters) {
      // ONE corpus pass per round; driver receives m×codes rows
      val stats: Map[(Int, Long), (Seq[Double], Long)] =
        assigned(books, carrySv = true)
          .groupBy($"s", $"cid")
          .agg(vecSum($"sv").as("sv"), count(lit(1)).as("n"))
          .collect()
          .map(r => ((r.getInt(0), r.getLong(1)), (r.getSeq[Double](2), r.getLong(3))))
          .toMap
      for (s <- 0 until m) books(s) = books(s).map { case (cid, old) =>
        stats.get((s, cid)) match {
          case Some((sv, n)) => (cid, sv.map(x => round6(x / n)).toArray)
          case None => (cid, old) // empty cell: codeword unchanged
        }
      }
    }
    // encode: ONE corpus pass, (vec_id, s, cid) — the stored code table
    val codesLong = assigned(books, carrySv = false)
      .select($"vec_id", $"s", $"cid")
    (codesLong, buildAdcTables(corpus, books), books)
  }

  /** Driver-side ADC tables from the bounded query set → broadcast frame:
    * t = round₆(dot(q_s, codeword_{s,cid})) per (query, subspace, code).
    */
  private def buildAdcTables(corpus: DataFrame,
      books: Array[Array[(Long, Array[Double])]]): DataFrame = {
    def round6(x: Double): Double = graft.functions.Rounding.halfUp(x, 6)
    val m = books.length
    val subDim = books(0)(0)._2.length
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val qVecs = corpus.filter($"vec_id" < NQueries).select($"vec_id", $"v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    corpus.sparkSession.createDataFrame(for {
      (qid, qv) <- qVecs.toSeq
      s <- 0 until m
      (cid, cw) <- books(s)
    } yield (qid, s, cid, round6(ddot(qv.slice(s * subDim, (s + 1) * subDim), cw))))
      .toDF("query_id", "s", "cid", "t")
  }

  /** The PQ serving tail shared by the full-scan and IVF-pruned paths:
    * the top-`shortlist` per query by ADC score, then an exact cosine
    * re-rank of the shortlist only — floats touched for
    * shortlist×NQueries vectors, never the whole corpus. Returns the
    * approx (query_id, neighbor_id) top-k set.
    */
  private def pqShortlistRerank(corpus: DataFrame, adcScores: DataFrame,
      shortlist: Int, k: Int): DataFrame = {
    val short = rankTopK(adcScores, Seq($"query_id"), $"adc", $"neighbor_id", shortlist)
      .select($"query_id", $"neighbor_id")
    val queries = corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val rer = short
      .join(corpus.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select($"query_id", $"neighbor_id",
        round(graft.functions.VectorFunctions.cosine_sim($"qv", $"v"), 6).as("cos"))
    rankTopK(rer, Seq($"query_id"), $"cos", $"neighbor_id", k)
      .select($"query_id", $"neighbor_id")
  }

  /** IVF-PQ — the two serving halves composed into the standard ANN
    * architecture (Jégou et al. 2011's IVFADC, modulo one documented
    * simplification): the IVF coarse quantizer prunes the scan to the
    * `nProbe` cells nearest each query (candidate volume ~ corpus ×
    * nProbe / nCentroids), and within the probed cells candidates are
    * ranked by PQ codes via the same broadcast ADC-table join as
    * `pqAnnRecall` — so the scan is both CELL-PRUNED and CODE-ONLY, the
    * genuine 100 TB serving shape: inverted lists keyed by coarse cell,
    * 8 bytes of codes per vector scanned, floats only for the final
    * `shortlist` re-rank.
    *
    * Simplification vs the paper: codebooks are trained on RAW vectors,
    * not per-cell residuals (q - centroid). Residual PQ couples every
    * code to its cell and would weld the oracle's eight unrolled
    * trainings to the coarse assignment; raw-vector PQ keeps the code
    * table cell-independent (one stored table serves any probe dial) —
    * the trade FAISS ships as `IVFFlat`-style scanning with `PQ`
    * storage. MEASURED, not fiat (SURVEY §6.7; code at 56418f6):
    * against this library's deterministic md5-coreset coarse quantizer
    * the residual form LOSES 0.06–0.23 recall@5 at every dial —
    * coreset "centroids" are corpus vectors, so residuals are larger
    * than the raw vectors and quantize worse; with a 2-round
    * Lloyd-trained coarse quantizer the two forms are within ±0.04
    * recall of each other. Raw-vector PQ is therefore the honest
    * default here, not a concession. Determinism
    * and the recall report are exactly `pqAnnRecall`'s; the coarse
    * stage is exactly `ivfCosineTopK`'s (md5-coreset centroids,
    * rounded-cosine argmin, sorted-struct probe list).
    *
    * Law (spec'd): with nProbe = nCentroids the cell pruning vanishes
    * and this equals `pqAnnRecall` bit-for-bit.
    */
  def ivfPqAnnRecall(embeddings: DataFrame, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val shortlist = 50
    val k = 3
    val mdl = pqModelFor(embeddings)
    val cents = md5Coreset(mdl.corpus, nCentroids)
    val assigned = assignCells(mdl.corpus, cents)
      .select($"vec_id", $"cid".as("centroid_id"))
    val probes = mdl.corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"),
        explode(probeCellsExpr(cents, $"v", nProbe)).as("centroid_id"))
    // the inverted-list probe: (query, candidate) pairs from probed cells,
    // then code-rank only the probed candidates
    val candPairs = assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
    val adcScores = mdl.codesLong
      .join(candPairs, Seq("vec_id"))
      .join(broadcast(mdl.adcTables), Seq("query_id", "s", "cid"))
      .groupBy($"query_id", $"vec_id".as("neighbor_id"))
      .agg(round(sum($"t"), 6).as("adc"))
    val approx = pqShortlistRerank(mdl.corpus, adcScores, shortlist, k)
    recallAgainstTruth(cosineTopK(embeddings, k), approx, k)
  }

  /** Persist the trained PQ/IVF-PQ serving bundle — the artifacts a
    * serving fleet actually loads, written once at build time:
    *  - `codebooks(s, cid, cw)`    — m×codes codeword vectors;
    *  - `codes(vec_id, s, cid)`    — the encoded corpus (8 bytes/vector
    *    of payload at this dial; THE stored table);
    *  - `centroids(cid, cv)`       — the IVF coarse quantizer;
    *  - `ivflists(vec_id, centroid_id)` — the inverted-list assignment.
    * Training rides the session model cache (q148 the carrier), so
    * persisting after a served query costs only the writes. q242
    * fingerprints the directory for its staleness report.
    */
  def writePqIndex(embeddings: DataFrame, dir: String): Unit = {
    val mdl = pqModelFor(embeddings)
    val spark = embeddings.sparkSession
    spark.createDataFrame(for {
      s <- mdl.books.indices; (cid, cw) <- mdl.books(s)
    } yield (s, cid, cw.toSeq)).toDF("s", "cid", "cw")
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    mdl.codesLong.write.mode("overwrite").parquet(s"$dir/codes")
    val cents = md5Coreset(mdl.corpus, 16)
    spark.createDataFrame(cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) })
      .toDF("cid", "cv")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    assignCells(mdl.corpus, cents)
      .select($"vec_id", $"cid".as("centroid_id"))
      .write.mode("overwrite").parquet(s"$dir/ivflists")
    // build-slice fingerprint (q242 staleness contract): a PQ index is
    // the longest-lived artifact in the family — codes built from a
    // previous corpus silently serve wrong neighbors otherwise
    Governance.writeFingerprint(embeddings, Governance.embCanonical, dir)
  }

  /** IVF (inverted-file) ANN — the second scale path beside LSH: partition
    * the corpus into 16 cells by nearest centroid, then scan only the
    * `nProbe` cells nearest each query. Candidate volume is
    * ~corpus * nProbe / cells regardless of dimension — the classic
    * partition-pruned ANN shape.
    *
    * Centroids are the deterministic md5 coreset ([[md5Coreset]]), which
    * keeps every step exactly reproducible by the DuckDB oracle. At
    * 100 TB the selection step is a Lloyd training ([[kmeansModel]]); the
    * serving path below — broadcast the centroid table, codegen'd per-row
    * argmin ([[assignCells]]), equi-join on cell id — is identical either
    * way.
    */
  def ivfCosineTopK(embeddings: DataFrame, nProbe: Int = 2): DataFrame =
    ivfTopK(embeddings.select($"vec_id", asDouble($"embedding").as("v")), nProbe, 3)

  /** Metadata-FILTERED IVF search: top-`k` by cosine among documents
    * satisfying a label predicate, served from the SAME index layout as
    * `ivfCosineTopK` — centroids and cell assignment come from the full
    * corpus (an index is built once; a per-predicate rebuild is exactly
    * what filtered search exists to avoid), and the predicate prunes
    * WITHIN the probed cells before any query arithmetic runs
    * (pre-filtering: the label column rides the inverted list, so the
    * filter lands in the scan — `PushedFilters` on a parquet-persisted
    * list — and non-matching vectors never reach the cosine).
    *
    * Contract stated rather than hidden: with fixed `nProbe`, a filter
    * can leave fewer than `k` matches inside the probed cells — the
    * standard filtered-ANN recall trade; raising `nProbe` (or an exact
    * fallback for rare labels, q29's plan with the filter) is the knob.
    * The oracle replicates cells + predicate, so the gate checks the
    * real served answer, not a best-case one.
    */
  def ivfFilteredTopK(embeddings: DataFrame, nProbe: Int = 2, k: Int = 3): DataFrame =
    ivfTopK(embeddings.select($"vec_id", asDouble($"embedding").as("v"), $"label"),
      nProbe, k, $"label" === 3)

  /** The IVF probe-and-rank body: md5-coreset cells over `corpus`
    * (`(vec_id, v, ...)`), the `keep` rows of each probed cell scored
    * against the broadcast query probes, top-`k` per query.
    */
  private def ivfTopK(corpus: DataFrame, nProbe: Int, k: Int,
      keep: Column = lit(true)): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val cents = md5Coreset(corpus, 16)
    val assigned = assignCells(corpus, cents).filter(keep)
      .select($"vec_id", $"v", $"cid".as("centroid_id"))
    val queries = corpus.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
      .select($"query_id", $"qv",
        explode(probeCellsExpr(cents, $"qv", nProbe)).as("centroid_id"))
    servedTopK(assigned
      .join(broadcast(queries), Seq("centroid_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round(cosine_sim($"qv", $"v"), 6).as("cos")), "query_id", k)
  }

  // ---- the per-query top-k ranker --------------------------------------------
  //
  // Every per-query and per-anchor top-k in this file ranks in rankTopK:
  // score descending, ties by ascending id, rnk <= k, the order each
  // oracle's row_number() reproduces (q114's label vote is its k = 1).
  // The served paths (q29/q37, q30, q55/q168) and q103 return it through
  // servedTopK, the one served shape. Each caller keeps its own candidate
  // join and scorer.

  /** The `k` best rows of each `keys` group of `scored` by `score`
    * descending, ties by ascending `id`, numbered from 1 in `rnk`.
    */
  private def rankTopK(scored: DataFrame, keys: Seq[Column], score: Column, id: Column,
      k: Int): DataFrame =
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(keys: _*).orderBy(score.desc, id)))
      .filter($"rnk" <= k)

  /** The served top-k of `scored(key, neighbor_id, cos)`:
    * (key, neighbor_id, cos, rnk:int) ordered by (key, rnk).
    */
  private def servedTopK(scored: DataFrame, key: String, k: Int): DataFrame =
    rankTopK(scored, Seq(col(key)), $"cos", $"neighbor_id", k)
      .select(col(key), $"neighbor_id", $"cos", $"rnk".cast("int").as("rnk"))
      .orderBy(col(key), $"rnk")

  // ---- the k-means / IVF cell kernel -----------------------------------------
  //
  // One copy of each part, shared by IVF serving, PQ's coarse quantizer,
  // Lloyd training and every cell consumer: md5Coreset seeds, cellStructs
  // feeds the one argmin (assignCells) and the probe lists
  // (probeCellsExpr), trainCentroids is the one cosine Lloyd loop (PQ's
  // per-subspace L2 codebooks train in pqModel), and kmeansModel is the
  // one session artifact.

  /** Deterministic pseudo-random coreset: the `k` corpus vectors with the
    * smallest md5(vec_id || salt) — a TakeOrderedAndProject, no full sort.
    * The empty salt is the registered seeding (IVF, PQ, Lloyd);
    * `clusterStability` draws its second, independent seeding with ":b".
    * Tiny by construction: collected and inlined as literals (the
    * centroid table is the broadcast side of IVF serving / k-means
    * assignment).
    */
  private def md5Coreset(corpus: DataFrame, k: Int,
      salt: String = ""): Array[(Long, Array[Double])] = {
    val key = $"vec_id".cast("string")
    corpus
      .select($"vec_id", $"v", md5(if (salt.isEmpty) key else concat(key, lit(salt))).as("r"))
      .orderBy($"r", $"vec_id").limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
  }

  /** Per-centroid (rounded-negated-cosine, centroid-id) structs for argmin
    * assignment via `least()` — one codegen'd expression per row, no
    * corpus×centroid join, ties broken by centroid id. Rounding before the
    * comparison keeps assignment decisions reproducible across engines.
    */
  private def cellStructs(cents: Array[(Long, Array[Double])], v: Column): Seq[Column] = {
    import graft.functions.VectorFunctions.cosine_sim
    def centLit(c: Array[Double]): Column = array(c.map(lit(_)): _*)
    cents.toSeq.map { case (cid, cv) =>
      struct(round(-cosine_sim(v, centLit(cv)), 6).as("negcos"), lit(cid).as("cid"))
    }
  }

  /** The `nProbe` nearest coarse cells of a query-vector column, by the
    * SAME rounded-argmin structs every batch IVF path probes with —
    * returns array<long> of centroid ids.
    */
  def probeCellsExpr(cents: Array[(Long, Array[Double])], v: Column,
      nProbe: Int): Column =
    transform(slice(array_sort(array(cellStructs(cents, v): _*)), 1, nProbe),
      p => p.getField("cid"))

  /** Expression-width cliff guard for the argmin assignment. A
    * `least()` over k (negcos, cid) structs compiles to ONE k-wide
    * generated method; between ~100 and ~250 terms HotSpot refuses to
    * JIT it (the 8000-bytecode HugeMethodLimit) while Spark still runs
    * the un-JIT-ted generated code — measured on the SAME ×10 fixture:
    * kCells=142 took 40.9 s where kCells=245 took 17.8 s, and at ×30
    * kCells=142 took 111 s where 245 took 16 s (SURVEY §6.15). Beyond
    * `WideDial` cells the assignment therefore switches to a
    * broadcast-join + struct-min form: one narrow codegen'd cosine per
    * (vector, centroid) row, a partial-aggregated min(struct) argmin
    * carrying the other columns with `first` — row-proportional at ANY
    * dial, the shape a 1000-executor run needs. Both forms compute the
    * identical (round6(-cos), cid) minimum (PipelineSpec proves
    * bit-equality), so registered narrow-dial queries keep their exact
    * plans.
    */
  private val WideDial = 32

  /** The one nearest-centroid argmin: `corpus` (`(vec_id, v, ...)`) with
    * `cid` (nearest centroid, ties to the smaller id) and `cos` (its
    * rounded cosine) appended. `wide` forces the join form, which is
    * used regardless beyond `WideDial` centroids.
    */
  private[graft] def assignCells(corpus: DataFrame,
      cents: Array[(Long, Array[Double])], wide: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val cols = corpus.columns.toSeq.map(col)
    val cell = Seq($"a.cid".as("cid"), (-$"a.negcos").as("cos"))
    if (!wide && cents.length <= WideDial)
      corpus.withColumn("a", least(cellStructs(cents, $"v"): _*)).select(cols ++ cell: _*)
    else {
      val spark = corpus.sparkSession
      import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
      val cf = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
        .toDF("ccid", "cv")
      // the other columns ride the argmin aggregation (`first` over rows
      // that all carry the same values) instead of a corpus re-join — two
      // exchanges fewer per assignment pass, and the Lloyd loop runs one
      // of these per round. min(struct) ties are impossible (cid is
      // unique), so `first` is deterministic.
      val carried = corpus.columns.toSeq.filter(_ != "vec_id").map(c => first(col(c)).as(c))
      corpus.join(broadcast(cf))
        .select(cols :+ struct(round(-cosine_sim($"v", $"cv"), 6).as("negcos"),
          $"ccid".as("cid")).as("a"): _*)
        .groupBy($"vec_id").agg(min($"a").as("a"), carried: _*)
        .select(cols ++ cell: _*)
    }
  }

  /** Lloyd rounds of every k-means training. */
  private val LloydIters = 2

  /** The one cosine Lloyd loop: from `seeds`, `LloydIters` rounds of argmin
    * assignment + per-dimension mean updates rounded half-up at 6, so
    * the assignment feedback loop is bit-reproducible across engines
    * (summation order can wobble the last ulp; rounding quashes it before
    * it can flip an assignment). Empty cells keep their centroid.
    * `corpus` is a pre-projected `(vec_id, v)` frame the caller has
    * checkpointed — it is scanned once per round.
    *
    * Scale shape, per round: ONE corpus scan; the centroid update
    * aggregates with the `VectorSum` UDAF, whose per-partition partial
    * buffers mean the shuffle carries k×dim doubles per partition — never
    * corpus×dim rows. The driver holds only the k×dim centroid table
    * between rounds — exactly what it must broadcast anyway.
    */
  private def trainCentroids(corpus: DataFrame,
      seeds: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] = {
    def round6(x: Double): Double = graft.functions.Rounding.halfUp(x, 6)
    val vecSum = udaf(new graft.functions.Aggregators.VectorSum)
    var cents = seeds
    for (_ <- 1 to LloydIters) {
      val stats = assignCells(corpus, cents)
        .groupBy($"cid")
        .agg(vecSum($"v").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getLong(2)))).toMap
      cents = cents.map { case (cid, old) =>
        stats.get(cid) match {
          case Some((s, n)) => (cid, s.map(x => round6(x / n)).toArray)
          case None => (cid, old) // empty cluster: centroid unchanged
        }
      }
    }
    cents
  }

  /** A trained k-means partition of one corpus: the centroids (k×dim
    * DRIVER-side doubles) and the checkpointed assignment frame
    * `(vec_id, v, cid, cos)`.
    */
  private case class KMeansModel(cents: Array[(Long, Array[Double])],
      assignments: DataFrame)

  // (corpus, k) -> trained centroids + checkpointed assignments
  private val KMeansModels = new SessionArtifacts.Kind[KMeansModel]

  /** The session-cached k-means model of a corpus: md5-coreset seeds,
    * `trainCentroids` over the checkpointed corpus, one assignment pass,
    * checkpointed. q70/q100/q174/q208/q209/q210 and the kNN-graph builds
    * all read the (k=16) model — one corpus checkpoint, one training and
    * one assignment pass per corpus per session serve them all (the
    * plan-keyed pattern of the kNN graph one level up). Only unsalted
    * trainings are cached; `clusterStability`'s salted side trains over
    * this model's assignment frame.
    */
  private def kmeansModel(embeddings: DataFrame, k: Int): KMeansModel =
    SessionArtifacts.getOrBuild(KMeansModels, embeddings, k) {
      val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
        .localCheckpoint() // ROADMAP item 4 (c): each Lloyd round and the assignment pass read it
      val cents = trainCentroids(corpus, md5Coreset(corpus, k))
      KMeansModel(cents, assignCells(corpus, cents)
        .localCheckpoint()) // ROADMAP item 4 (c): the cell consumers share it
    }

  /** Lloyd-iteration k-means over the embedding corpus (cosine metric) —
    * the semantic-clustering building block behind cluster-then-dedup and
    * domain-discovery pipelines: the 16-cell [[kmeansModel]], reported as
    * per-cluster size and mean member cosine (cohesion). Deterministic end
    * to end (md5-coreset seeds, [[trainCentroids]]' rounded updates), so
    * the DuckDB oracle replays it.
    *
    * Known codegen ceiling (measured on the x3/x10 semdedup replicas,
    * SURVEY §6.4; code at 56418f6): the broadcast-literal argmin stops
    * whole-stage-codegenning around k·dim ≈ 10^4 (Janino's 64 KB method
    * limit — k=160 at dim=64 falls back to interpreted evaluation:
    * correct, logged, slower); beyond `WideDial` cells [[assignCells]]
    * takes the broadcast centroid-TABLE join + `min(struct(negcos, cid))`
    * form instead — same semantics, k×n intermediate rows but
    * map-side-combined.
    */
  def kmeansClusters(embeddings: DataFrame): DataFrame =
    kmeansModel(embeddings, 16).assignments
      .select($"cid", $"cos")
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_members"), round(avg($"cos"), 6).as("cohesion"))
      .orderBy($"cid")

  /** Submodular (facility-location) coreset selection — the data-selection
    * operator behind "pick the `nSel` most REPRESENTATIVE exemplars":
    * greedily maximize F(S) = Σ_cells w_c · max_{s∈S} sim(centroid_c, s),
    * the classic monotone-submodular coverage objective whose greedy
    * enjoys the (1 − 1/e) guarantee (Nemhauser et al. 1978).
    *
    * Scale shape (the GreeDi/coreset pattern, Mirzasoleiman et al. 2013):
    * exact greedy over the raw corpus is n² per round, so the ground set
    * is the TRAINED k-means coreset — the corpus-proportional work is the
    * session [[kmeansModel]] (Lloyd training, k×dim shuffle partials) +
    * one cell-count aggregate over its assignment frame, after which candidates, weights, and the k×k similarity
    * matrix are driver-bounded and the nSel greedy rounds are k²·nSel
    * driver flops. At 100 TB k grows with the corpus; the driver state
    * stays k×dim + k².
    *
    * Determinism: similarities are computed by the SAME fused native
    * cosine the oracle replicates (a k-row literal frame, rounded to
    * micro-units, shifted by +1e6 so 1+cos ≥ 0 keeps the objective
    * monotone); gains/coverage are exact integer sums; ties break to the
    * smaller candidate id on both sides.
    *
    * Output: one row per greedy round — (round, cid, gain_micro,
    * coverage_micro), cid being the seed vec_id naming the selected
    * coreset cell.
    */
  def facilityLocationSelect(embeddings: DataFrame): DataFrame = {
    val k = 16
    val nSel = 5
    import graft.functions.VectorFunctions.cosine_sim
    val spark0 = embeddings.sparkSession
    val model = kmeansModel(embeddings, k)
    val cents = model.cents
    val cellW: Map[Long, Long] = model.assignments
      .groupBy($"cid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k×k rounded sims via the proven fused expression (not a JVM loop),
    // so every comparison the greedy makes is engine-exact vs the oracle
    val centDf = spark0
      .createDataFrame(cents.toSeq.map { case (cid, v) => (cid, v.toSeq) })
      .toDF("cid", "cv")
    val sims: Map[(Long, Long), Long] = centDf.as("a").crossJoin(centDf.as("b"))
      .select(col("a.cid").as("ca"), col("b.cid").as("cb"),
        (round(cosine_sim(col("a.cv"), col("b.cv")) * 1e6, 0).cast("long")
          + 1000000L).as("sm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cids = cents.map(_._1)
    var best: Map[Long, Long] = cids.map(_ -> 0L).toMap
    var coverage = 0L
    val remaining = scala.collection.mutable.TreeSet(cids: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    for (r <- 1 to math.min(nSel, cids.length)) {
      var bestCand = -1L; var bestGain = -1L
      remaining.foreach { s => // ascending cid: ties keep the smaller id
        var g = 0L
        cids.foreach { c =>
          val d = sims((c, s)) - best(c)
          if (d > 0L) g += cellW.getOrElse(c, 0L) * d
        }
        if (g > bestGain) { bestCand = s; bestGain = g }
      }
      coverage += bestGain
      best = cids.map(c => c -> math.max(best(c), sims((c, bestCand)))).toMap
      remaining -= bestCand
      out += ((r, bestCand, bestGain, coverage))
    }
    spark0.createDataFrame(out.toSeq)
      .toDF("round", "cid", "gain_micro", "coverage_micro")
      .orderBy($"round")
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup with K-MEANS CELLS as
    * the blocking structure — within each trained cluster, drop every
    * vector that has a higher-priority near-duplicate (cosine ≥ `tau`,
    * priority = smaller vec_id) in the SAME cluster. The third dedup
    * blocking family beside hyperplane LSH (q48) and the shingle-band
    * index (q27): clustering concentrates semantic neighbors, so the
    * pairwise work is cluster-local — at production scale k grows with
    * the corpus to hold n/k (and the per-cluster pair count) bounded.
    * Cross-cluster pairs are missed BY DESIGN (the paper's trade); on
    * the fixture this surfaces honestly as 6 of q48's 14 pairs being
    * cluster-local, and the spec pins that recall against the exact
    * all-pairs truth.
    *
    * Shape: one self-equi-join on cid (never a cartesian: Catalyst
    * plans hash/SMJ on the cluster key), native codegen'd `cosine_sim`
    * on the pair, distinct-droppee + per-cluster report aggregation.
    */
  def semanticDedup(embeddings: DataFrame): DataFrame = {
    val k = 16
    val tau = 0.45
    val a = kmeansModel(embeddings, k).assignments
      .select($"vec_id", $"v", $"cid")
      .localCheckpoint() // ROADMAP item 4 (c): the droppee self-join and the member count read it
    a.groupBy($"cid").agg(count(lit(1)).as("n_members"))
      .join(semanticDroppees(a, tau).groupBy($"cid").agg(count(lit(1)).as("n_dropped")),
        Seq("cid"), "left")
      .select($"cid", $"n_members",
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        round(coalesce($"n_dropped", lit(0L)) / $"n_members", 6).as("drop_fraction"))
      .orderBy($"cid")
  }

  /** The vectors `semanticDedup` drops — `(cid, vec_id)`, one row per
    * dropped vector. `assignments` is a `(vec_id, v, cid)` frame (the
    * trained cell map); exposed so a pipeline can anti-join the droppee
    * list against the corpus, the actual dedup application.
    */
  def semanticDroppees(assignments: DataFrame, tau: Double): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    assignments.as("x")
      .join(assignments.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .filter(round(cosine_sim(col("x.v"), col("y.v")), 6) >= tau)
      .select(col("y.cid").as("cid"), col("y.vec_id").as("vec_id"))
      .distinct()
  }

  /** Multi-table LSH parameters for embedding near-dup candidate generation:
    * `NeardupTables` independent hash tables of `NeardupBits` hyperplanes
    * each (plane j of table t is plane t*NeardupBits+j of the shared
    * deterministic coef stream). OR-amplification across tables: a pair at
    * cosine c collides in one table with p^bits, p = 1 - acos(c)/pi, and is
    * a candidate with 1 - (1-p^bits)^tables — 0.98 at the 0.9 production
    * threshold with the defaults.
    */
  val NeardupTables = 8
  val NeardupBits   = 6

  /** Sign bucket of `v` in near-dup table `t` (NeardupBits-bit value). */
  def neardupBucket(v: Column, t: Int): Column =
    (0 until NeardupBits).map { b =>
      val proj = aggregate(
        zip_with(v, sequence(lit(1), size(v)), (x, i) => x * coef(t * NeardupBits + b, i)),
        lit(0.0), (acc, x) => acc + x)
      // round before the sign test — same cross-engine guard as lshBucket
      when(round(proj, 6) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed (the production
    * path): candidates are pairs sharing a bucket in ANY of the hash
    * tables, generated per table by groupBy + in-bucket expansion (the
    * signature subtree is computed once; a bucket self-join would compute
    * it twice), then scored exactly with the native fused-loop cosine and
    * filtered at `threshold`. Every post-bucketing relation is
    * candidate-proportional; the corpus is never crossed with itself.
    *
    * Approximate by construction: recall per qualifying pair is
    * 1-(1-p^bits)^tables (see above), lower at looser thresholds where LSH
    * separation is weaker. The q48 oracle replicates the bucketing
    * deterministically, so correctness checks are exact on whatever the
    * candidate set is. `embeddingNearDupExact` is the all-pairs ground
    * truth for specs.
    *
    * Choosing (tables, bits) — the selectivity/recall dial, with p the
    * per-plane agreement probability 1 - acos(cos)/pi:
    *   - candidate rate on UNRELATED pairs (cos ~ 0, p = 0.5) is
    *     ~tables * 0.5^bits: 8x6 (default) = 12.5%, 24x12 = 0.6%,
    *     32x16 = 0.05%.
    *   - recall at cos 0.9 (p = 0.856): 8x6 = 98%, 24x12 = 98%,
    *     32x16 = 94%.
    * MEASURED (SURVEY §6.4, code at 56418f6; x1 corpus + 100 planted
    * pairs at cos ~0.92, the decorrelated coef family): 8x6 = 312k candidates /
    * 100 of 100 planted recovered; 24x12 = 18k / 100 of 100 — a 17x
    * candidate cut at equal recall, confirming the independent-plane
    * math. (The same experiment run against the earlier ADDITIVE coef
    * family measured only a 3.4x cut and 69% recall at 24x12 — which is
    * what forced the family change; see `coef`.)
    * The 8x6 default matches the loose fixture threshold (0.45) the
    * registered query needs for a non-vacuous oracle; a 100 TB run at the
    * 0.9 production threshold should use 24x12 or tighter — same recall,
    * ~17-20x fewer candidate pairs, and candidate volume is the term that
    * scales quadratically if left unchecked.
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.9,
      tables: Int = NeardupTables, bits: Int = NeardupBits): DataFrame =
    embeddingPairIndex(embeddings, threshold, tables, bits).orderBy($"id1", $"id2")

  /** Planted-slice near-dup at the PRODUCTION dial (q226): 24×12 planes
    * at τ=0.9 — the configuration a 100 TB run uses (measured 6.9×
    * faster than the registered 8×6 fixture dial at ×10 and 21.5 s vs
    * 631 s at ×30, SURVEY §6.11) but, before this query, gate-proven
    * nowhere: fixture embeddings are random (max cos ~0.55), so over
    * the plain corpus τ=0.9 yields an EMPTY pair set and a green hash
    * check would be vacuous. The slice plants a deterministic near-dup
    * twin for each `vec_id < nPlanted`: u_j = 0.92·v_j + s_j·0.39·
    * v_((j+dim/2) mod dim) with s_j the (j·7919+3) parity sign — the
    * round-5 lsh-dial construction (SURVEY §6.4), norm-preserving
    * (0.92²+0.39² ≈ 1) so the planted cosine sits at ~0.92 regardless
    * of fixture norms. A correct 24×12 banding MUST recover those pairs
    * (per-pair recall 1-(1-p¹²)²⁴ ≈ 0.99 at p(0.92) = 0.87) and a
    * banding regression at high table counts visibly drops them — the
    * non-vacuity the loose q48 dial cannot provide at τ=0.9. Planting
    * runs in DOUBLE arithmetic with one multiply-add per element, so
    * the oracle's replica is bit-identical before the round-6 cosine.
    *
    * Scale: corpus + nPlanted rows through exactly the q48 bucketed
    * pipeline — nothing here is fixture-only; with a real (non-random)
    * corpus the planted union is unnecessary and this IS the production
    * query, shuffle_hash verify pins and all.
    */
  def productionNearDup(embeddings: DataFrame): DataFrame = {
    val base = embeddings.select($"vec_id", asDouble($"embedding").as("embedding"))
    embeddingNearDup(base.unionByName(plantedNearDupTwins(embeddings)),
      0.9, 24, 12)
  }

  /** The planted rows of `productionNearDup`, public so specs can derive
    * the exact ground truth of the planted union independently of the
    * banded path under test. vec_id' = vec_id + 9e7 (disjoint from any
    * fixture id space); embedding' as documented above, in DOUBLE.
    */
  def plantedNearDupTwins(embeddings: DataFrame): DataFrame = {
    val nPlanted = 100L
    val base = embeddings.select($"vec_id", asDouble($"embedding").as("embedding"))
    val dim = size($"embedding")
    val half = (dim / lit(2)).cast("int")
    base.filter($"vec_id" < nPlanted).select(
      ($"vec_id" + 90000000L).as("vec_id"),
      transform(sequence(lit(1), dim), jj =>
        element_at($"embedding", jj) * lit(0.92) +
          element_at($"embedding", ((jj - 1 + half) % dim) + 1) *
            when(((jj - 1) * 7919 + 3) % 2 === 0, lit(0.39))
              .otherwise(lit(-0.39))).as("embedding"))
  }

  /** (vec_id, t, bk) hyperplane bucket rows — the persistable probe side
    * of embedding near-dup (the vector twin of `Dedup.bandBuckets`): all
    * table buckets from ONE fused codegen'd pass per vector (native
    * HyperplaneBuckets — bit-identical to the compositional
    * `neardupBucket`, which remains the spec/oracle formulation), then
    * posexplode. Explicit pre-explode repartition for the same
    * AQE-blindness reason as the MinHash pipeline. Bucketing is per-row
    * local, so the bucket rows of a FILTERED corpus equal the filtered
    * bucket rows of the full corpus — the restriction identity the
    * session index below leans on (spec-asserted).
    */
  def hyperplaneBucketRows(embeddings: DataFrame, tables: Int = NeardupTables,
      bits: Int = NeardupBits): DataFrame =
    embeddings
      .select($"vec_id", asDouble($"embedding").as("v"))
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism * 2, $"vec_id")
      .select($"vec_id",
        posexplode(graft.functions.VectorFunctions.hyperplane_buckets($"v", tables, bits)))
      .select($"vec_id", $"pos".as("t"), $"col".as("bk"))

  /** Session-scoped caches for the embedding family — the vector twin of
    * `Dedup.pairIndex`: the hyperplane BUCKET index (the probe side an
    * ingest batch equi-joins; in production the persisted table
    * `hyperplaneBucketRows` writes) and the verified PAIR index (what
    * q48's listing and q110's positives both analyze). One corpus, many
    * consumers: q48, q95, q110 and the threshold/QA family all ride one
    * build per (canonical corpus plan, params) per session (keys and
    * eviction follow [[SessionArtifacts]]); entries are localCheckpointed,
    * so cache memory is index/pair-proportional, never corpus-squared.
    */
  private val BucketIndexes = new SessionArtifacts.Kind[DataFrame]
  private val PairIndexes = new SessionArtifacts.Kind[DataFrame]
  // (corpus, k, resolved kCells) -> checkpointed kNN graph
  private val KnnGraphs = new SessionArtifacts.Kind[DataFrame]

  /** The session-cached hyperplane bucket index of a corpus. */
  def hyperplaneIndex(embeddings: DataFrame, tables: Int = NeardupTables,
      bits: Int = NeardupBits): DataFrame =
    SessionArtifacts.getOrBuild(BucketIndexes, embeddings, tables, bits)(
      hyperplaneBucketRows(embeddings, tables, bits)
        .localCheckpoint()) // ROADMAP item 4 (c): the session's index probes share it

  /** The session-cached verified near-dup pair set of a corpus. */
  def embeddingPairIndex(embeddings: DataFrame, threshold: Double = 0.9,
      tables: Int = NeardupTables, bits: Int = NeardupBits): DataFrame =
    SessionArtifacts.getOrBuild(PairIndexes, embeddings, threshold, tables, bits)(
      embeddingNearDupUnordered(embeddings, threshold, tables, bits)
        .localCheckpoint()) // ROADMAP item 4 (c): the session's pair-index consumers share it

  /** The pair pipeline without the final canonical sort (consumers that
    * re-shuffle immediately would pay the global sort for nothing).
    * Candidate generation reads the session bucket index, so repeated
    * builds at different thresholds share one bucketing pass.
    */
  private[graft] def embeddingNearDupUnordered(embeddings: DataFrame, threshold: Double,
      tables: Int, bits: Int): DataFrame = {
    val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    val index = hyperplaneIndex(embeddings, tables, bits)
    // r15 runtime shape choice (the AQE pattern, from one tiny aggregate
    // over the already-checkpointed index): in-bucket candidate volume
    // Σ k(k−1) vs bucket rows N·tables decides whether the verify step
    // ships VECTORS PER PAIR (join-verify: right when candidates are
    // near-dup-sparse, the production 24×12 dial) or attaches vectors to
    // bucket rows once and computes the round-6 cosine INSIDE the bucket
    // group (pair_cosines: right when buckets are dense and candidate
    // pairs dwarf bucket rows — the registered 8×6 random-corpus dial,
    // where the join shape measured ~25× more exchanged bytes than the
    // bucket rows carry). Both shapes produce identical (id1, id2, cos)
    // rows (spec-asserted bit-equal); the stats probe is candidate-free
    // and costs one index-proportional aggregate per session build.
    val st = index.groupBy($"t", $"bk").agg(count(lit(1)).as("k"))
      .agg(sum($"k" * ($"k" - 1L)).as("cand2"), sum($"k").as("rows"))
      .collect()(0)
    val candVolume = if (st.isNullAt(0)) 0L else st.getLong(0)
    val bucketRows = if (st.isNullAt(1)) 0L else st.getLong(1)
    if (candVolume > bucketRows) {
      // dense dial: cosine where both vectors already sit. The corpus
      // side rides the same vec_id hash-partitioning the index was
      // built with, so attaching v is one co-partitioned join; only
      // 24-byte (id1, id2, cos) structs leave the bucket group.
      val parts = embeddings.sparkSession.sparkContext.defaultParallelism * 2
      index
        .join(corpus.repartition(parts, $"vec_id").hint("shuffle_hash"), Seq("vec_id"))
        .groupBy($"t", $"bk")
        .agg(collect_list($"vec_id").as("ids"), collect_list($"v").as("vs"))
        .filter(size($"ids") > 1)
        .select(explode(graft.functions.VectorFunctions
          .pair_cosines($"ids", $"vs")).as("p"))
        .select($"p.id1".as("id1"), $"p.id2".as("id2"), $"p.cos".as("cos"))
        .filter($"cos" >= threshold)
        .distinct() // a pair can collide in several tables; cos is deterministic
    } else {
      val candidates = index
        .groupBy($"t", $"bk")
        .agg(collect_list($"vec_id").as("ids"))
        .filter(size($"ids") > 1)
        // native one-pass pair expansion (interpreted HOF lambdas would
        // materialize K^2 structs through the interpreter per bucket)
        .select(explode(graft.functions.MinHashFunctions.pair_combinations($"ids")).as("p"))
        .select($"p.id1".as("id1"), $"p.id2".as("id2"))
        .distinct() // a pair can collide in several tables
        .localCheckpoint() // ROADMAP item 4 (d): one consumer; removal not yet measured
      // The corpus sides carry a SHUFFLE_HASH hint — a scale-safety fix
      // measured in round 9 (SURVEY §6.11): the candidates frame's size
      // ESTIMATE descends from explode(pair_combinations(...)), whose
      // row-count estimate is bucket-count-proportional and blind to the
      // K² in-bucket expansion, so at a loose dial the planner picked
      // BroadcastHashJoin with the QUADRATIC candidate set as build side —
      // fine by luck at fixture scale, a hard driver-side failure at ×30
      // (maxResultSize, then broadcast-build OOM; reproduction in
      // SURVEY §6.11, code at 56418f6). The hint pins a shuffled hash
      // join built on the corpus side: per-partition builds, nothing ever
      // collected to the driver, no sort of the (possibly huge) candidate
      // side.
      candidates
        .join(corpus.select($"vec_id".as("id1"), $"v".as("v1")).hint("shuffle_hash"), Seq("id1"))
        .join(corpus.select($"vec_id".as("id2"), $"v".as("v2")).hint("shuffle_hash"), Seq("id2"))
        .select($"id1", $"id2",
          round(graft.functions.VectorFunctions.cosine_sim($"v1", $"v2"), 6).as("cos"))
        .filter($"cos" >= threshold)
    }
  }

  /** Incremental embedding near-dup — the vector analog of
    * `Dedup.incrementalNearDupPairs` (q74): a NEW batch of vectors
    * (vec_id < newIdCut) probed against the already-indexed corpus
    * (vec_id >= newIdCut). The corpus side PROBES the session bucket
    * index (`hyperplaneIndex`, filtered to the corpus ids — exact,
    * because bucketing is per-row local; in production it is the
    * persisted `hyperplaneBucketRows` table): the index is built ONCE
    * per session/corpus and every ingest batch re-reads it, so per-call
    * bucketing COMPUTE is batch-proportional only — the contract the
    * ingest shape exists for (re-deriving corpus buckets per batch is
    * corpus-proportional work per ingest, measured as the top bench cost
    * before this index landed). Only the batch side is bucketed from
    * scratch, exactly as a not-yet-indexed batch must be. Candidates are
    * verified with the exact native cosine at `threshold`; same
    * OR-amplified multi-table recall math as `embeddingNearDup`.
    */
  def incrementalEmbeddingNearDup(embeddings: DataFrame, newIdCut: Long = 200L,
      threshold: Double = 0.45): DataFrame =
    incrementalEmbeddingNearDupFromIndex(embeddings, hyperplaneIndex(embeddings), newIdCut, threshold)

  /** q95's ingest shape probing an EXTERNAL bucket index — the production
    * form where the corpus index is the PERSISTED `hyperplaneBucketRows`
    * parquet table (written once at index-build time, re-read by every
    * ingest job) rather than the session cache. `corpusIndex` must carry
    * `hyperplaneBucketRows`' (vec_id, t, bk) schema built with the SAME
    * (NeardupTables, NeardupBits) dial — bucketing is deterministic per row, so the
    * persisted table and a fresh in-session build are bit-identical and
    * this path equals the session-index path exactly (spec-asserted via
    * a parquet write → read-back round-trip, the vector twin of q128's
    * sketch-store round-trip).
    */
  def incrementalEmbeddingNearDupFromIndex(embeddings: DataFrame,
      corpusIndex: DataFrame, newIdCut: Long = 200L, threshold: Double = 0.45): DataFrame = {
    val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    val newBuckets = hyperplaneBucketRows(embeddings.filter($"vec_id" < newIdCut))
      .withColumnRenamed("vec_id", "new_id")
    val oldBuckets = corpusIndex
      .filter($"vec_id" >= newIdCut)
      .withColumnRenamed("vec_id", "old_id")
    val candidates = newBuckets
      .join(oldBuckets, Seq("t", "bk"))
      .select($"new_id", $"old_id")
      .distinct() // a pair can collide in several tables
      .localCheckpoint() // ROADMAP item 4 (d): one consumer; removal not yet measured
    // shuffle_hash: same defect class as embeddingNearDupUnordered's
    // measured ×30 broadcast-of-candidates failure (SURVEY §6.11) — the
    // post-bucket-join candidate estimate is blind to in-bucket expansion,
    // so pin per-partition builds on the vector side
    candidates
      .join(corpus.select($"vec_id".as("new_id"), $"v".as("v1")).hint("shuffle_hash"), Seq("new_id"))
      .join(corpus.select($"vec_id".as("old_id"), $"v".as("v2")).hint("shuffle_hash"), Seq("old_id"))
      .select($"new_id", $"old_id",
        round(graft.functions.VectorFunctions.cosine_sim($"v1", $"v2"), 6).as("cos"))
      .filter($"cos" >= threshold)
      .orderBy($"new_id", $"old_id")
  }

  /** Exact all-pairs near-dup — the O(n^2) ground truth the LSH path is
    * verified against in specs. Small data only; never register at scale.
    */
  def embeddingNearDupExact(embeddings: DataFrame, threshold: Double = 0.9): DataFrame = {
    val corpus = embeddings.select($"vec_id", asDouble($"embedding").as("v"))
    corpus.as("a").join(corpus.as("b"), col("a.vec_id") < col("b.vec_id"))
      // native fused-loop scorer: at all-pairs volume the interpreted
      // lambda chain is the bottleneck (20x slower here)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(graft.functions.VectorFunctions.cosine_sim(col("a.v"), col("b.v")), 6).as("cos"))
      .filter($"cos" >= threshold)
      .orderBy($"id1", $"id2")
  }

  /** Embedding-table health report: the pre-indexing data-quality gate
    * every vector pipeline runs — per dimensionality: vector counts,
    * degenerate rows (zero norm, NaN elements, null slots), and the norm
    * distribution. One scan, one map-side-combined aggregation; the
    * per-row norm is the same deterministic sequential fold as `cosine`
    * (DuckDB's list_sum replicates it), so the stats are oracle-exact.
    */
  def embeddingHealth(embeddings: DataFrame): DataFrame = {
    val v = asDouble($"embedding")
    // Null-slot semantics, explicit on both sides: the norm is computed
    // over the NON-NULL elements (DuckDB's list_sum skips nulls; a plain
    // Spark fold would instead poison the sum to NULL and silently drop
    // the row from every norm stat — the degenerate vectors this gate
    // exists to count). An empty or all-null vector has no norm on either
    // engine (list_sum returns NULL there), hence the size guard.
    val nonNull = filter(v, _.isNotNull)
    val normSq = aggregate(nonNull, lit(0.0), (acc, x) => acc + x * x)
    embeddings
      .select(size($"embedding").cast("bigint").as("dim"),
        when(size(nonNull) > 0, sqrt(normSq)).as("nrm"),
        exists(v, _.isNaN).as("has_nan"),
        exists(v, _.isNull).as("has_null"))
      .groupBy($"dim")
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when($"nrm" === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when($"has_nan", 1L).otherwise(0L)).as("n_with_nan"),
        sum(when($"has_null", 1L).otherwise(0L)).as("n_with_null"),
        round(min($"nrm"), 4).as("min_norm"),
        round(avg($"nrm"), 4).as("avg_norm"),
        round(max($"nrm"), 4).as("max_norm"))
      .orderBy($"dim")
  }

  /** Pairwise similarity stats per label over a FIXED-SIZE deterministic
    * pseudo-random sample: the `perLabel` rows per label with the smallest
    * md5(vec_id) (md5 is the cross-engine shuffle key; vec_id breaks ties),
    * selected by the salted two-stage rank in `Scale.topKPerGroup`.
    * Pair count is bounded by (nLabels*perLabel choose 2) REGARDLESS of
    * corpus size — the diagnostic costs the same at 100 TB as at 1 GB,
    * unlike a fixed-rate sample whose pair count grows quadratically.
    */
  /** Per-label centroid separation report (q146) — the embedding-space
    * quality diagnostic for a labeled corpus (is the labeling coherent?
    * are two classes colliding?): per label, the mean cosine of members
    * to their OWN label centroid (intra) vs the max cosine between this
    * centroid and any OTHER label's centroid (inter), and the margin
    * between them. A Fisher-style separation statement in one bounded
    * report — labels with small or negative margin are candidates for
    * relabeling or merging before the labels are used for stratified
    * splits (q93) or hard-negative mining (q103).
    *
    * Scale shape: centroids via the `VectorSum` partial-aggregate (the
    * shuffle carries labels×dim partials, never corpus×dim rows — the
    * q70 Lloyd-update pattern); members then score against their own
    * centroid through a BROADCAST join (labels are bounded), one
    * corpus-linear codegen'd cosine pass; the inter-centroid matrix is
    * labels² rows of driver-free column math. Determinism: float→double
    * widening is exact and label partial sums stay well under 53
    * significand bits, so the per-dimension means are order-free;
    * centroid dims and every cosine round to 6 decimals (the engine-
    * exactness convention the q70 oracle shares).
    */
  def labelSeparation(embeddings: DataFrame): DataFrame = {
    val vecSum = udaf(new graft.functions.Aggregators.VectorSum)
    val e = embeddings.select($"vec_id",
      $"label".cast("bigint").as("label"), asDouble($"embedding").as("v"))
    val cents = e.groupBy($"label")
      .agg(vecSum($"v").as("s"), count(lit(1)).as("n"))
      .select($"label", $"n",
        transform($"s", x => round(x / $"n", 6)).as("cv"))
      .localCheckpoint() // ROADMAP item 4 (c): three consumers read it
    val intra = e.join(broadcast(cents.select($"label", $"cv")), Seq("label"))
      .select($"label", round(cosine($"v", $"cv"), 6).as("c"))
      .groupBy($"label").agg(round(avg($"c"), 6).as("intra_mean"))
    val inter = cents.as("a")
      .join(broadcast(cents.select($"label", $"cv").as("b")),
        col("a.label") =!= col("b.label"))
      .select(col("a.label").as("label"),
        round(cosine(col("a.cv"), col("b.cv")), 6).as("c"))
      .groupBy($"label").agg(max($"c").as("inter_max"))
    cents.select($"label", $"n".as("n_vecs"))
      .join(intra, Seq("label")).join(inter, Seq("label"))
      .select($"label", $"n_vecs", $"intra_mean", $"inter_max",
        round($"intra_mean" - $"inter_max", 6).as("margin"))
      .orderBy($"label")
  }

  def labelCohesion(embeddings: DataFrame): DataFrame = {
    val sampled = Scale.topKPerGroup(
        embeddings.select($"vec_id", $"label", asDouble($"embedding").as("v")),
        group = $"label", rankKey = md5($"vec_id".cast("string")), tie = $"vec_id",
        saltSource = $"vec_id", k = 16)
      .localCheckpoint() // ROADMAP item 4 (c): both sides of the self-join read it
    sampled.as("a")
      .join(sampled.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        (col("a.label") === col("b.label")).as("same_label"),
        cosine(col("a.v"), col("b.v")).as("c"))
      .groupBy($"same_label")
      .agg(round(avg($"c"), 6).as("avg_cos"), count(lit(1)).as("n_pairs"))
      .orderBy($"same_label")
  }

  // ----------------------------------------------------------------------
  // Spectral embedding diagnostics: corpus mean + top principal component
  // via exact-integer moments and power iteration (q152/q153).
  // ----------------------------------------------------------------------

  /** The fitted mean/PC1 model: micro-unit rounded mean, the sign-fixed
    * infinity-norm-normalized PC1 iterate (micro units), its exact L2
    * norm-squared, the exact centered total variance (trace of the
    * centered scatter matrix, micro^2 units), and the dimension.
    */
  private case class AbttModel(mu: Array[Long], vs: Array[Long],
      vn2: Long, trace: Long, dim: Int)

  private val AbttModels = new SessionArtifacts.Kind[AbttModel]

  /** Micro-unit quantized embedding: `round(1e6 * x)` per dimension as
    * LONG — every downstream moment/projection is exact integer
    * arithmetic (order-free, engine-free) on these.
    */
  private def microVec(v: Column): Column =
    transform(asDouble(v), x => round(x * lit(1000000.0), 0).cast("long"))

  /** Fit the mean + top-principal-component model with ONE corpus pass
    * and bounded driver state (the Lloyd/PQ pattern, but with zero
    * per-round corpus passes: the scatter matrix is d x d and the power
    * iteration runs entirely on the driver over it).
    *
    * Pass 1 aggregates the EXACT raw integer moments — n, S_i = sum x_i,
    * M_ij = sum x_i*x_j — as one map-side-combined (i, j) -> sum
    * aggregate (d^2 + d + 1 groups; the shuffle carries that many rows
    * PER PARTITION, never corpus rows). The driver then centers at the
    * micro-rounded mean mu via the exact integer identity
    * G = M - mu S^T - S mu^T + n mu mu^T (valid for ANY constant mu, so
    * rounding mu costs no exactness), and power-iterates: G is scaled to
    * micro units by its max |entry|, v_0 = round(1e6/sqrt(d)) on every
    * dimension, and each step is w = Gn v (exact long), v = round(1e6 *
    * w / max|w|) — infinity-norm normalization keeps every intermediate
    * an exact long (an L2 norm would need a float sqrt inside the loop).
    * The sign is fixed by making the largest-|loading| component (ties:
    * lowest dim) positive. The oracle unrolls the identical iterations
    * as integer CTEs, so the model is bit-for-bit cross-engine.
    *
    * Overflow headroom (|x| <= ~0.53 => |x_micro| <= ~5.3e5, d = 64):
    * M_ij sums stay exact longs to n ~ 3e7 rows and the scatter entries
    * to n ~ 4e5 micro-mean offsets; past that the same pass runs with
    * decimal(38,0) sums — a type widening, not a plan change.
    */
  private def abttModelFor(embeddings: DataFrame, iters: Int): AbttModel =
    SessionArtifacts.getOrBuild(AbttModels, embeddings, iters)(fitAbttModel(embeddings, iters))

  private def fitAbttModel(embeddings: DataFrame, iters: Int): AbttModel = {
    def halfUp(x: Double, s: Int): Double = graft.functions.Rounding.halfUp(x, s)
    val dimRow = embeddings.select(size($"embedding")).limit(1).collect()
    require(dimRow.nonEmpty, "empty embedding corpus")
    val dim = dimRow(0).getInt(0)
    // one corpus pass: ScatterMoments accumulates the upper-triangle
    // second moments + sums + count per partition in a primitive
    // multiply-add loop (exact longs, no explode, no d²-cell hash agg, no
    // per-row array building — both expression-shaped alternatives
    // measured 4–14 s at sf0.1 on allocation overhead alone); partials
    // merge element-wise. Symmetry m(i,j) = m(j,i) is reconstructed on
    // the driver, bit-identical to the full-matrix form.
    val xm = embeddings.select(microVec($"embedding").as("xm"))
    val scatter = udaf(new graft.functions.Aggregators.ScatterMoments)
    val row = xm.agg(scatter($"xm").as("mo")).collect()(0).getSeq[Long](0)
    val tri = dim * (dim + 1) / 2
    // an all-null (or concurrently-emptied) corpus leaves the aggregator's
    // zero buffer: fail with the diagnostic, not an index error
    require(row.length == tri + dim + 1, "empty embedding corpus")
    val n = row(tri + dim)
    require(n > 0, "empty embedding corpus")
    val s = Array.tabulate(dim)(i => row(tri + i))
    val m = Array.ofDim[Long](dim * dim)
    var p = 0
    for (i <- 0 until dim; j <- i until dim) {
      m(i * dim + j) = row(p); m(j * dim + i) = row(p); p += 1
    }
    val mu = s.map(si => halfUp(si.toDouble / n, 0).toLong)
    def g(i: Int, j: Int): Long =
      m(i * dim + j) - mu(j) * s(i) - mu(i) * s(j) + n * mu(i) * mu(j)
    val trace = (0 until dim).map(i => g(i, i)).sum
    var gmax = 1L
    for (i <- 0 until dim; j <- 0 until dim) gmax = math.max(gmax, math.abs(g(i, j)))
    val gm = gmax.toDouble
    val gn = Array.tabulate(dim, dim)((i, j) =>
      halfUp(g(i, j).toDouble * 1000000.0 / gm, 0).toLong)
    var v = Array.fill(dim)(halfUp(1000000.0 / math.sqrt(dim.toDouble), 0).toLong)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => gn(i)(j) * v(j)).sum)
      val mx = math.max(w.map(math.abs).max, 1L).toDouble
      v = w.map(x => halfUp(x.toDouble * 1000000.0 / mx, 0).toLong)
    }
    val lead = (0 until dim).minBy(i => (-math.abs(v(i)), i))
    val sgn = if (v(lead) < 0) -1L else 1L
    val vs = v.map(_ * sgn)
    val vn2 = vs.map(x => x * x).sum
    AbttModel(mu, vs, vn2, trace, dim)
  }

  /** Per-document centered micro vectors (exploded) joined to the fitted
    * model: returns (vec_id, tm, cd2) where `tm = round(<c, v>/1e6)` is
    * the PC1 projection in micro units (exact long inner product, ONE
    * rounding) and `cd2 = <c, c>` the document's exact centered
    * energy.
    */
  private def abttProjections(embeddings: DataFrame, model: AbttModel): DataFrame = {
    val spark = embeddings.sparkSession
    val muDf = broadcast(spark.createDataFrame(
      model.mu.toSeq.zipWithIndex.map { case (mv, i) => (i, mv) }).toDF("i", "m"))
    val vsDf = broadcast(spark.createDataFrame(
      model.vs.toSeq.zipWithIndex.map { case (vv, i) => (i, vv) }).toDF("i", "vm"))
    embeddings
      .select($"vec_id", posexplode(microVec($"embedding")))
      .toDF("vec_id", "i", "x")
      .join(muDf, Seq("i"))
      .select($"vec_id", $"i", ($"x" - $"m").as("c"))
      .join(vsDf, Seq("i"))
      .groupBy($"vec_id")
      .agg(
        round(sum($"c" * $"vm").cast("double") / lit(1000000.0), 0).cast("long").as("tm"),
        sum($"c" * $"c").as("cd2"))
  }

  /** Top principal component of the embedding corpus by exact-integer
    * power iteration (q152): per dimension, the PC1 loading (micro-unit
    * iterate / 1e6, infinity-norm normalized, sign-fixed), plus the
    * explained-variance ratio sum(proj^2)/(|v|^2 * trace) — the "how
    * dominant is the top direction" diagnostic that motivates
    * all-but-the-top post-processing (Mu & Viswanath 2018: frequency
    * energy concentrates in a few top components; removing them improves
    * downstream similarity tasks).
    *
    * Scale shape: ONE corpus pass for the d^2-bounded exact moments
    * (map-side combined), driver-side d^2 power iteration (corpus-
    * independent), ONE more corpus pass for the projection energy (model
    * broadcast, groupBy(vec_id) is map-side combinable per doc). Driver
    * state is d^2 longs. Both passes are corpus-linear with no
    * corpus-proportional shuffle — the scan dominates at 100 TB.
    */
  def pc1Power(embeddings: DataFrame): DataFrame = {
    def halfUp(x: Double, s: Int): Double = graft.functions.Rounding.halfUp(x, s)
    val spark = embeddings.sparkSession
    val model = abttModelFor(embeddings, 8)
    val s2 = abttProjections(embeddings, model)
      .agg(sum($"tm" * $"tm").as("s2")).collect()(0).getLong(0)
    val ratio = halfUp(s2.toDouble * 1e12 / model.vn2 / model.trace, 6)
    spark.createDataFrame(model.vs.toSeq.zipWithIndex.map { case (vv, i) =>
        (i.toLong, halfUp(vv.toDouble / 1000000.0, 6), ratio) })
      .toDF("dim", "loading", "explained_ratio")
      .orderBy($"dim")
  }

  /** All-but-the-top outlier report (q153): the `topN` documents with
    * the largest |PC1 projection| — the rows a dominant-direction
    * removal changes most — with the unit-normalized projection and the
    * residual energy fraction left after removing the PC1 component.
    * Rides the session model cache (q152 is the fitting carrier); the
    * report itself is one corpus pass (model broadcast) ending in a
    * TakeOrderedAndProject on the exact integer key (|tm|, vec_id).
    */
  def abttOutliers(embeddings: DataFrame): DataFrame = {
    val topN = 10
    val model = abttModelFor(embeddings, 8)
    val proj = abttProjections(embeddings, model)
      .select($"vec_id", $"tm", $"cd2",
        round($"tm".cast("double") / lit(math.sqrt(model.vn2.toDouble)), 6).as("proj"),
        round(greatest(lit(0.0),
          lit(1.0) - ($"tm" * $"tm").cast("double") * lit(1e12)
            / lit(model.vn2.toDouble) / $"cd2".cast("double")), 6).as("resid_frac"))
      .orderBy(abs($"tm").desc, $"vec_id")
      .limit(topN)
    val w = Window.orderBy(abs($"tm").desc, $"vec_id") // topN rows only
    embeddings.select($"vec_id", $"label")
      .join(broadcast(proj), Seq("vec_id"))
      .select($"vec_id", $"label", $"proj", $"resid_frac",
        row_number().over(w).cast("int").as("rnk"))
      .orderBy($"rnk")
  }

  /** Persist the fitted spectral model (q152's mean + PC1 + exact
    * scalars) as a (kind, i, v) parquet — 2d+3 rows, written once after
    * a fit that rides the session model cache. q242 fingerprints the
    * directory for its staleness report.
    */
  def writeSpectralModel(embeddings: DataFrame, dir: String): Unit = {
    val spark = embeddings.sparkSession
    val m = abttModelFor(embeddings, 8)
    val rows =
      m.mu.toSeq.zipWithIndex.map { case (v, i) => ("mu", i.toLong, v) } ++
      m.vs.toSeq.zipWithIndex.map { case (v, i) => ("vs", i.toLong, v) } ++
      Seq(("vn2", 0L, m.vn2), ("trace", 0L, m.trace), ("dim", 0L, m.dim.toLong))
    spark.createDataFrame(rows).toDF("kind", "i", "v")
      .write.mode("overwrite").parquet(s"$dir/model")
    // build-slice fingerprint (q242 staleness contract)
    Governance.writeFingerprint(embeddings, Governance.embCanonical, dir)
  }

  /** Embedding-distribution drift monitor — the vector twin of q127's
    * text-profile drift: per-dimension mean shift between the first and
    * second half of the corpus by vec_id (at ingest time the split is
    * yesterday/today), reporting the `topDims` most-shifted dimensions
    * and the cosine between the two mean vectors (1.0 = no directional
    * drift; embedding-model regressions and upstream-corpus changes both
    * show up here before any downstream eval moves).
    *
    * Exact arithmetic end to end: per-element 1e-6 quantization (the
    * family convention), per-(half, dim) integer sums via ONE map-side-
    * combined corpus pass (shuffle carries 2×dim rows), micro-unit means
    * rounded once, shifts and mean-vector moments exact longs, and the
    * single double division inside the final rounded cosine. Everything
    * after the first agg is a dim-bounded frame.
    */
  def embeddingDrift(embeddings: DataFrame): DataFrame = {
    val topDims = 8
    val halfF = embeddings.agg(expr("(max(vec_id) + 1) div 2").as("half"))
    val cells = embeddings.crossJoin(broadcast(halfF))
      .select(when($"vec_id" < $"half", 0L).otherwise(1L).as("grp"),
        posexplode($"embedding"))
      .select($"grp", $"pos".as("dim"),
        round($"col".cast("double") * 1e6, 0).cast("long").as("x6"))
      .groupBy($"grp", $"dim")
      .agg(sum($"x6").as("s6"), count(lit(1)).as("n"))
    val means = cells.groupBy($"dim").agg(
      max(when($"grp" === 0, round($"s6" / $"n", 0).cast("long"))).as("mean_a6"),
      max(when($"grp" === 1, round($"s6" / $"n", 0).cast("long"))).as("mean_b6"))
    val moments = means.agg(
      sum($"mean_a6" * $"mean_b6").as("ab"),
      sum($"mean_a6" * $"mean_a6").as("aa"),
      sum($"mean_b6" * $"mean_b6").as("bb"))
    means.crossJoin(broadcast(moments))
      .select($"dim".cast("long").as("dim"), $"mean_a6", $"mean_b6",
        ($"mean_a6" - $"mean_b6").as("shift6"),
        round($"ab" / (sqrt($"aa".cast("double")) * sqrt($"bb".cast("double"))), 6)
          .as("mean_cos"))
      .orderBy(abs($"shift6").desc, $"dim")
      .limit(topDims)
  }

  // ---- local outlier factor (q290) -----------------------------------------

  /** Local outlier factor over the shared cell-restricted kNN graph
    * (q290; Breunig et al. 2000): HBOS (q258) scores each FEATURE
    * histogram independently and the MAD/z panels score global
    * position — LOF is the DENSITY-RELATIVE verdict ("sparser than
    * your own neighborhood"), the detector that catches an outlier
    * sitting between two clusters where every global score looks
    * normal. Distances are cosine distances d = 1 − cos off the SAME
    * checkpointed kNN graph q194/q207/q231 ride (one construction,
    * fifth consumer). reach(p←o) = max(kdist(o), d(p,o)); lrd(p) =
    * |kNN|/Σreach; LOF(p) = mean lrd(o)/lrd(p) — ≈1 inside uniform
    * density, ≫1 for local outliers.
    *
    * Determinism: cos is already rounded to 6, so d6 = (1−cos)·1e6 is
    * an exact long; kdist/reach are max/greatest of exact longs; lrd
    * micro-quantizes by HALF-UP INTEGER DIVISION (2·cnt·10¹² + Σr)
    * div (2·Σr) — the q286 device, no float until the final LOF ratio,
    * whose inputs are exact longs on both engines. Top-N cut orders by
    * (lof rounded to 4 desc, vec_id) — the OUTPUT key, so the limit
    * boundary is the same total order both engines sort. Duplicate-collapse guard: a zero
    * reachability sum (all-identical neighbors) yields NULL lrd and
    * the node and its dependents drop out rather than divide by zero.
    * Shape: everything after the graph is edge-proportional (k·n
    * rows) — two joins back onto the edge frame and bounded
    * aggregates; never all-pairs.
    */
  def lofOutliers(embeddings: DataFrame, kCells: Int = AutoCells): DataFrame = {
    val k = 5
    val ed = cellKnnGraph(embeddings, k, kCells)
      .select($"id", $"nb",
        round((lit(1.0) - $"cos") * 1e6, 0).cast("long").as("d6"))
    val kd = ed.groupBy($"id").agg(max($"d6").as("kd6"), count(lit(1)).as("cnt"))
    val re = ed.join(kd.select($"id".as("nb"), $"kd6".as("nb_kd6")), Seq("nb"))
      .select($"id", greatest($"nb_kd6", $"d6").as("r6"))
    val sr = re.groupBy($"id").agg(sum($"r6").as("sr6"))
    val lr = kd.join(sr, Seq("id"))
      .withColumn("lrd6", when($"sr6" > 0L,
        expr("CAST((2 * cnt * 1000000000000 + sr6) div (2 * sr6) AS BIGINT)")))
    val nl = ed.join(lr.select($"id".as("nb"), $"lrd6".as("nb_lrd6")), Seq("nb"))
      .filter($"nb_lrd6".isNotNull)
      .groupBy($"id").agg(sum($"nb_lrd6").as("slrd6"), count(lit(1)).as("cnt2"))
    lr.join(nl, Seq("id"))
      .withColumn("lofr", when($"lrd6" > 0L && $"cnt2" > 0L,
        round(($"slrd6".cast("double") / $"cnt2") / $"lrd6", 4)))
      .filter($"lofr".isNotNull)
      .select($"id".as("vec_id"), $"cnt".as("n_neighbors"),
        round($"kd6" / 1e6, 6).as("k_dist"), $"lofr".as("lof"))
      .orderBy($"lof".desc, $"vec_id")
      .limit(50)
  }

  // ---- LSH dial planner (q289) ---------------------------------------------

  /** LSH dial planner (q289): the engine PRICES its own (tables, bits)
    * hyperplane dial from the closed form instead of asserting it — the
    * q243/q285 auto-dial discipline applied to the near-dup family's
    * most consequential knobs. For each grid dial: per-pair recall at
    * the target cosine τ, recall(τ; t, b) = 1 − (1 − p^b)^t with
    * p = 1 − acos(τ)/π (the hyperplane collision law the q48/q226
    * scaladocs quote), the UNRELATED-pair admit rate at s₀ = 0.5 (the
    * quadratically-scaling cost term §6.11 measured), and the admit
    * rate priced against THIS corpus: admit·n(n−1)/2 expected verify
    * candidates. A dial `meets` at recall ≥ 0.95; `chosen` is the
    * meeting dial minimizing (admit, t·b, t) lexicographically — the
    * planner that DERIVES a production dial where round 10 had to
    * gate-prove a hand-picked one (q226's 24×12).
    *
    * Determinism: recall/admit are micro-quantized per dial (the two
    * libm towers acos/pow round to 6 before ANY comparison), and the
    * argmin runs on an exact packed long key — no float ordering. The
    * grid is 32×16 = 512 rows; both range sides broadcast (the q263
    * lesson: never a CartesianProduct in a registered plan). One
    * corpus aggregate (the count) is the only data-dependent input.
    */
  def lshDialPlanner(embeddings: DataFrame, maxTables: Int = 32, maxBits: Int = 16): DataFrame = {
    // the argmin key packs (a6, cost, t) into one long with slot widths
    // sized FROM the grid bounds below; 1e6·(t·b+1)·(t+1) must stay
    // under Long.MaxValue
    require(maxTables >= 1 && maxBits >= 1 &&
      maxTables.toLong * maxBits <= 1000000,
      s"lshDialPlanner: grid ${maxTables}x$maxBits out of range " +
        "(need 1 <= maxTables*maxBits <= 1e6)")
    val spark = embeddings.sparkSession
    val n = embeddings.agg(count(lit(1)).as("n"))
    val grid = spark.range(1, maxTables + 1).toDF("t")
      .crossJoin(broadcast(spark.range(1, maxBits + 1).toDF("b")))
      .crossJoin(broadcast(n))
    val p = lit(1.0) - acos(lit(0.9)) / lit(math.Pi)
    val p0 = lit(1.0) - acos(lit(0.5)) / lit(math.Pi)
    def q6(c: Column): Column = round(c * 1e6, 0).cast("long")
    val t2 = grid
      .withColumn("r6", q6(lit(1.0) - pow(lit(1.0) - pow(p, $"b"), $"t")))
      .withColumn("a6", q6(lit(1.0) - pow(lit(1.0) - pow(p0, $"b"), $"t")))
      .withColumn("cost", $"t" * $"b")
      .withColumn("meets", $"r6" >= math.round(0.95 * 1e6))
      // exact lexicographic (a6, cost, t) for ANY grid inside the
      // require above: cost spans [1, t·b], t spans [1, maxTables]
      .withColumn("key",
        ($"a6" * (maxTables.toLong * maxBits + 1L) + $"cost")
          * (maxTables + 1L) + $"t")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // expected candidate COUNT as an exact integer: a6·n(n−1)/2 in
    // DECIMAL, half-up to whole pairs by integer division — a 2-decimal
    // double here sat exactly on a .xx5 boundary and the two engines
    // rounded it apart (caught by the sf0.001 gate)
    val cand = expr(
      "CAST((CAST(a6 AS DECIMAL(38,0)) * (n * (n - 1) div 2) + 500000) div 1000000 AS BIGINT)")
    t2.withColumn("best", min(when($"meets", $"key")).over(all))
      .select($"t".as("n_tables"), $"b".as("n_bits"),
        round($"r6" / 1e6, 6).as("recall"),
        round($"a6" / 1e6, 6).as("admit"),
        $"cost",
        cand.as("expected_candidates"),
        $"meets", ($"meets" && $"key" === $"best").as("chosen"))
      .orderBy($"n_tables", $"n_bits")
  }
}
