package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew-mitigation operators for the cases AQE cannot rewrite
  * (e.g., skewed aggregation keys, or a skewed join below a stage AQE has
  * already committed). The reference hard-codes one skew strategy — roll
  * probe chunks over at 1M rows while reusing the build side
  * (`/root/reference/D/Program.cs:131-139`); salting is the shuffle-native
  * generalization: spread one hot key over `salts` reducers, then (for
  * aggregation) fold the partials.
  */
object Scale {

  /** Run independent Spark ACTIONS concurrently from a small driver-side
    * thread pool (guide §2.6 "overlap independent jobs"): Spark's
    * scheduler happily runs several jobs at once inside one application,
    * and actions are sequential only because driver code calls them
    * sequentially — the tail tasks of one job back-fill with the next
    * job's tasks. Used by the disk-contract writers, whose slice writes
    * and build-slice fingerprints are mutually independent. Exceptions
    * propagate (first failure rethrown after all tasks settle).
    */
  def inParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      }))
      var firstFailure: Throwable = null
      fs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }

  /** Salted two-phase aggregation: sum(valueCol) by key where some keys are
    * hot. Phase 1 groups by (key, salt) — the hot key spreads over `salts`
    * reducers; phase 2 folds the per-salt partials. Deterministic: the salt
    * comes from hashing `saltSource`, not from rand().
    */
  def saltedSumByKey(df: DataFrame, key: String, valueCol: String, saltSource: String): DataFrame = {
    val salts = 16
    df
      .withColumn("_salt", pmod(xxhash64(col(saltSource)), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as(s"sum_$valueCol"))
  }

  /** Deterministic fixed-size per-group top-K by a rank key, selected in
    * two stages: a per-(group, salt) pre-rank keeps at most K rows per
    * salted cell, then the final per-group rank runs over the ~64*K
    * finalists. Exactly equal to the single global per-group rank (each
    * cell's top-K contains every row that could be in the group's global
    * top-K), but no reducer ever sees more than 1/64th of a group — a
    * low-cardinality group column would otherwise funnel the corpus
    * through a handful of partitions. Shared by `Similarity.labelCohesion`
    * and `Sampling.stratifiedSample`.
    */
  def topKPerGroup(df: DataFrame, group: Column, rankKey: Column, tie: Column,
      saltSource: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salted = df
      .withColumn("_rkey", rankKey)
      .withColumn("_salt", pmod(xxhash64(saltSource), lit(64)))
    val preW = Window.partitionBy(group, col("_salt")).orderBy(col("_rkey"), tie)
    val w = Window.partitionBy(group).orderBy(col("_rkey"), tie)
    salted
      .withColumn("_prn", row_number().over(preW)).filter(col("_prn") <= k)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .drop("_rkey", "_salt", "_prn", "_rn")
  }

  /** Two-phase distributed prefix sum, the one home of the range-partition
    * running sum. For each column `v` of `values` it adds `cum_v`, the
    * inclusive running sum of `v` over the total order `order` (restarting
    * per `groups`), and `tot_v`, the sum of `v` over the group. A caller
    * that needs the exclusive sum subtracts its own value; an unselected
    * `tot_v` is pruned away. The split is the reference's range-cutoff
    * shuffle (its `D/Program.cs:121-127`):
    *  1. range-partition on `groups ++ order` into `parts` and pin the
    *     partitions with a `localCheckpoint`, so the subtotal pass and the
    *     final join see the same `spark_partition_id` (`pid`);
    *  2. per-(pid, groups) subtotals, and each partition's base from one
    *     window over those ≤ `parts`·groups rows, broadcast back (the
    *     window is partitioned by `groups`, so with none it is the
    *     unpartitioned window ScaleSpec's sweep audits);
    *  3. base + a running ROWS window inside each (pid, groups) partition.
    * `order` must be total (end it on a unique key): the sums then depend
    * on the order alone, so the result is partition-count invariant.
    *
    * Checkpoint mode, lazy (`eager = false`): under AQE, which
    * `GraftSession` turns on, building the frame still runs the range
    * sample and the shuffle-map stage (2 jobs); only the reduce side that
    * writes the local blocks waits for the first action (eager would run
    * it as a third job at build time). With AQE off only the range sample
    * runs at build time. The blocks are unreplicated and cut the lineage:
    * on a cluster, an executor lost after they are written fails later
    * reads, so re-run the query, or use a reliable `checkpoint()` where
    * that must be survived.
    */
  def rangePrefixSums(df: DataFrame, order: Seq[Column], values: Seq[String],
      parts: Int, groups: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = ("pid" +: groups).map(col)
    val ranged = df.repartitionByRange(parts, groups.map(col) ++ order: _*)
      .localCheckpoint(eager = false)
      .withColumn("pid", spark_partition_id())
    val byPid = Window.partitionBy(groups.map(col): _*).orderBy(col("pid"))
    val subtotals = values.map(v => sum(col(v)).as(s"_t_$v"))
    val bases = values.foldLeft(ranged.groupBy(keys: _*).agg(subtotals.head, subtotals.tail: _*)) {
      (f, v) => f
        .withColumn(s"_base_$v", sum(col(s"_t_$v")).over(
          byPid.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col(s"_t_$v"))
        .withColumn(s"tot_$v", sum(col(s"_t_$v")).over(
          byPid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    }.drop(values.map(v => s"_t_$v"): _*)
    val inPid = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.foldLeft(ranged.join(broadcast(bases), "pid" +: groups)) { (f, v) =>
      f.withColumn(s"cum_$v", col(s"_base_$v") + sum(col(v)).over(inPid))
    }.drop("pid" +: values.map(v => s"_base_$v"): _*)
  }

  /** Exact interpolated per-group quantile with BOUNDED aggregation state:
    * a (group, value)-histogram aggregation (map-side combined; reducer
    * state is one counter per DISTINCT value, not one slot per row) followed
    * by a window cumsum over the distinct-value frame and the standard
    * linear interpolation. Replaces `percentile(...)`, whose sort-based
    * buffer holds every row of the group — corpus-proportional state when
    * the group column is low-cardinality (the per-language quality cut is
    * exactly that shape at 100 TB). Here the value domain is bounded (the
    * quality score is rounded to 4 decimals), so histogram state is bounded
    * by domain size regardless of corpus rows.
    *
    * Interpolation replicates Spark's `percentile` bit-for-bit: 0-based
    * position `q*(n-1)`; result `(hi-pos)*v_lo + (pos-lo)*v_hi` with the
    * same equal-endpoint short-circuits — the same doubles the sort-based
    * aggregate would produce, so existing DuckDB `quantile_cont` oracles
    * are unaffected.
    *
    * Null values are excluded like `percentile`'s (a null would otherwise
    * occupy the lowest sort positions and shift every interpolation
    * index); a group whose values are ALL null disappears from the output
    * (percentile would keep it with a null cut — no caller joins on such
    * a group).
    *
    * Output: one row per group — (`group`, `cut`).
    */
  def exactQuantileByGroup(df: DataFrame, group: String, value: String,
      q: Double): DataFrame =
    exactQuantilesByGroup(df, group, value, Seq(q)).drop("q")

  /** Multi-quantile form of [[exactQuantileByGroup]]: evaluate ALL of `qs`
    * from ONE (group, value)-histogram pass — the histogram aggregation and
    * the window cumsum (the two shuffles) are paid once, and the bounded
    * distinct-value frame cross-joins a broadcast `qs`-row quantile frame
    * (|hist| × |qs| rows, still domain-bounded). Callers that need a whole
    * cut panel (winsorization's p05/p95, per-source decile calibration)
    * would otherwise rescan the corpus once per quantile.
    *
    * Output: one row per (group, q) — (`group`, `q`, `cut`) — with the same
    * interpolation, null handling, and all-null-group semantics as the
    * single-q form (which is now a thin wrapper over this).
    */
  def exactQuantilesByGroup(df: DataFrame, group: String, value: String,
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be within [0, 1]: $qs")
    // internal/output name collisions fail LOUDLY here, not with a
    // downstream AMBIGUOUS_REFERENCE (the quantile frame itself uses only
    // underscore-prefixed internals plus the q/cut output names)
    val reserved = Set("q", "cut", "_c", "_cum", "_n", "_q", "_pos", "_lo",
      "_hi", "_vlo", "_vhi", "_p", "_l", "_h")
    require(!reserved(group), s"group column '$group' collides with quantile outputs")
    require(!(reserved - "q" - "cut")(value),
      s"value column '$value' collides with quantile internals")
    val spark = df.sparkSession
    import spark.implicits._
    val qf = qs.toDF("_q")
    val hist = df.filter(col(value).isNotNull)
      .groupBy(col(group), col(value)).agg(count(lit(1)).as("_c"))
    val cumW = Window.partitionBy(col(group)).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nW = Window.partitionBy(col(group)) // rows = distinct values, bounded
    // a histogram row covers 0-based sorted positions [cum - c, cum - 1]
    val pos = col("_q") * (col("_n") - 1)
    val lo = floor(pos)
    val hi = ceil(pos)
    def covers(p: Column): Column = col("_cum") - col("_c") <= p && p < col("_cum")
    hist
      .withColumn("_cum", sum(col("_c")).over(cumW))
      .withColumn("_n", sum(col("_c")).over(nW))
      .crossJoin(broadcast(qf))
      .withColumn("_pos", pos).withColumn("_lo", lo).withColumn("_hi", hi)
      .filter(covers(col("_lo")) || covers(col("_hi")))
      .groupBy(col(group), col("_q"))
      .agg(
        min(when(covers(col("_lo")), col(value))).as("_vlo"),
        min(when(covers(col("_hi")), col(value))).as("_vhi"),
        min(col("_pos")).as("_p"), min(col("_lo")).as("_l"), min(col("_hi")).as("_h"))
      .select(col(group), col("_q").as("q"),
        when(col("_h") === col("_l") || col("_vhi") === col("_vlo"), col("_vlo"))
          .otherwise((col("_h") - col("_p")) * col("_vlo") +
            (col("_p") - col("_l")) * col("_vhi"))
          .as("cut"))
  }

  /** Wide (pivoted) form of [[exactQuantilesByGroup]]: one row per group,
    * one column per requested quantile, named by the caller — the shape a
    * profile/winsorize consumer joins back onto its scan. Cuts are raw
    * (callers apply their own display rounding). Equality on the `q`
    * column is exact double equality against the SAME literals the panel
    * was built from, so the pivot can never drop a cut.
    */
  def quantilePanel(df: DataFrame, group: String, value: String,
      panel: Seq[(Double, String)]): DataFrame = {
    require(panel.map(_._2).distinct.size == panel.size,
      s"panel column names must be unique: ${panel.map(_._2)}")
    require(!panel.map(_._2).contains(group),
      s"panel column names must not shadow the group column '$group'")
    val aggs = panel.map { case (q, name) =>
      min(when(col("q") === q, col("cut"))).as(name)
    }
    exactQuantilesByGroup(df, group, value, panel.map(_._1))
      .groupBy(col(group))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Position `j` of a key in an `m`-cell hash table, derived from 4 hex
    * digits of md5 — the engine-independent hash family shared by the
    * Bloom prefilter and the count-min sketch (DuckDB reproduces it with
    * strpos arithmetic; Spark with `conv`). j <= 7 (32 hex digits / 4).
    */
  private[graft] def md5SlicePos(key: Column, j: Int, m: Int): Column =
    conv(substring(md5(key.cast("string")), 4 * j + 1, 4), 16, 10).cast("bigint") % m

  /** The first 13 digits of the hex string `hex` (an md5) as a fraction in
    * [0, 1) — the deterministic md5 coin, `hexFraction(md5(key))`, and
    * the Column twin of `Aggregators.hexFraction(h, 13)`. Every term is a
    * power of two, so the double is identical on any engine.
    */
  def hexFraction(hex: Column): Column =
    conv(substring(hex, 1, 13), 16, 10).cast("double") / math.pow(16.0, 13)

  /** Bloom-prefilter accounting: build a deterministic md5 Bloom filter
    * (m cells, k hash functions) over the dim-side keys, probe every
    * DISTINCT fact-side key, and report pass/membership/false-positive
    * counts — the runtime-filter pattern (Spark's AQE bloom runtime
    * filters, semi-join pushdown) made explicit and measurable.
    *
    * Scale shape: the filter is materialized as the DISTINCT POSITION SET
    * of the dim keys — at most m rows no matter how many build keys — and
    * broadcast; the probe explodes k positions per distinct key and
    * counts hits, passing iff every position is present. No shuffle of the
    * fact side beyond its key-distinct; the dim side is scanned once. The
    * Bloom guarantee (members always pass) is asserted in ScaleSpec; the
    * false-positive rate is what the report measures.
    */
  def bloomPrefilterStats(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String): DataFrame = {
    val m = 16384
    val k = 3
    // NULL keys drop on both sides (SQL membership of NULL is undefined
    // anyway, and the oracle's list_distinct/unnest would silently skip
    // them — make the rule explicit rather than engine-dependent)
    val dimPos = dim
      .filter(col(dimKey).isNotNull)
      .select(explode(array((0 until k).map(j => md5SlicePos(col(dimKey), j, m)): _*)).as("p"))
      .distinct()
    val truthKeys = dim.filter(col(dimKey).isNotNull).select(col(dimKey).as("key")).distinct()
    val probe = fact.filter(col(factKey).isNotNull)
      .select(col(factKey).as("key")).distinct()
      .select($"key",
        array_distinct(array((0 until k).map(j => md5SlicePos($"key", j, m)): _*)).as("ps"))
    val perKey = probe
      .select($"key", size($"ps").as("np"), explode($"ps").as("p"))
      .join(broadcast(dimPos.withColumn("hit", lit(1L))), Seq("p"), "left")
      .groupBy($"key", $"np")
      .agg(sum(coalesce($"hit", lit(0L))).as("nh"))
      .select($"key", ($"nh" === $"np").as("pass"))
    perKey
      .join(broadcast(truthKeys.withColumn("member", lit(true))), Seq("key"), "left")
      .select($"pass", coalesce($"member", lit(false)).as("member"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_probe"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
        sum(when($"member", 1L).otherwise(0L)).as("n_member"),
        sum(when($"pass" && !$"member", 1L).otherwise(0L)).as("n_false_pos"))
      .select($"n_probe", $"n_pass", $"n_member", $"n_false_pos",
        when($"n_probe" > $"n_member",
          round($"n_false_pos" / ($"n_probe" - $"n_member"), 6)).otherwise(0.0)
          .as("fp_rate"))
  }

  /** Morton/Z-order value: interleave the low `bits` bits of two
    * non-negative integer columns (x in even positions, y in odd) — the
    * space-filling-curve key behind multi-column data-layout clustering
    * (Delta/Iceberg OPTIMIZE ZORDER). Range-partitioning a table by z
    * gives every output file a NARROW range of BOTH columns at once, so
    * min/max (row-group) pruning works for predicates on either —
    * something sorting by one column can't do for the other. Pure integer
    * bit arithmetic, fully codegen'd, engine-exact.
    */
  def zOrderValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { b =>
      (shiftright(x, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b))) +
        (shiftright(y, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1)))
    }.reduce(_ + _)

  /** Min-max scale two integer columns into the z-curve's bit range and
    * interleave. The scaling step is NOT cosmetic: interleaving raw values
    * of unequal effective bit-width degenerates to single-column ordering
    * (the wide column owns every significant bit — caught by the ScaleSpec
    * locality test). Scaling is pure integer arithmetic
    * ((v - min) * (2^bits - 1) div (max - min)) on driver-collected
    * bounds (a 1-row aggregate — the same tiny-literal pattern as
    * broadcast centroids), so both engines compute identical z values; a
    * float scale would risk a last-ulp floor flip. Output columns:
    * scaled x, scaled y, z.
    */
  def zOrderEncode(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val bits = 16
    val top = (1L << bits) - 1
    val raw = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
    val b = raw.agg(min($"x"), max($"x"), min($"y"), max($"y")).collect()(0)
    val (x0, x1, y0, y1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    def scaleExpr(name: String, lo: Long, hi: Long): String =
      if (hi == lo) "CAST(0 AS BIGINT)"
      else s"(($name - $lo) * $top) div ${hi - lo}" // integral div: engine-exact
    raw.selectExpr(s"${scaleExpr("x", x0, x1)} AS x", s"${scaleExpr("y", y0, y1)} AS y")
      .withColumn("z", zOrderValue($"x", $"y", bits))
  }

  /** Z-order layout report over orders: z = interleave of min-max-scaled
    * (custkey mod 2^16, floor(totalprice) mod 2^16), bucketed by the top
    * z bits; per-bucket row counts and the min/max spread of BOTH scaled
    * columns (the quantity a z-ordered writer minimizes per file). One
    * scan for the bounds + one map-side-combined aggregation.
    */
  def zOrderBucketStats(orders: DataFrame): DataFrame =
    zOrderEncode(orders,
        pmod(col("o_custkey"), lit(65536L)),
        pmod(floor(col("o_totalprice")).cast("long"), lit(65536L)))
      .groupBy(shiftright(col("z"), 24).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min($"x").as("min_x"), max($"x").as("max_x"),
        min($"y").as("min_y"), max($"y").as("max_y"))
      .orderBy($"z_bucket")

  /** KMV join-cardinality estimation: estimate |distinct(aKey) ∩
    * distinct(bKey)| from two k-minimum-values sketches — the statistic a
    * planner wants before choosing a join strategy, computed without ever
    * joining the tables. Each side reduces to its k smallest md5 hashes
    * (TakeOrderedAndProject — no global sort, driver-sized by design, like
    * a broadcast centroid table); the merged sketch gives the union
    * estimate via the exact 13-hex-digit fraction (`Aggregators
    * .hexFraction`, every value exactly representable) and the Jaccard
    * estimate via k-min membership, so DuckDB reproduces the estimate
    * bit-for-bit. The exact intersection (one semi-join) rides along for
    * accuracy inspection.
    */
  def kmvIntersectEstimate(a: DataFrame, aKey: String, b: DataFrame, bKey: String): DataFrame = {
    val k = 64
    val round = graft.functions.Rounding.halfUp _
    // NULL keys are excluded (the KMVSketchOf convention): a null md5
    // would sort NULLS FIRST into a k-min slot and poison the merge
    def kmin(df: DataFrame, key: String): Array[String] = df
      .filter(col(key).isNotNull)
      .select(md5(col(key).cast("string")).as("h")).distinct()
      .orderBy($"h").limit(k)
      .collect().map(_.getString(0))
    val ka = kmin(a, aKey)
    val kb = kmin(b, bKey)
    val kU = (ka ++ kb).distinct.sorted.take(k)
    val nb = kU.count(h => ka.contains(h) && kb.contains(h))
    val j = nb.toDouble / kU.length
    val unionEst =
      if (kU.length < k) kU.length.toDouble
      else (k - 1) / graft.functions.Aggregators.hexFraction(kU.last, 13)
    val nExact = a.select(col(aKey).as("key")).distinct()
      .join(b.select(col(bKey).as("key")).distinct(), Seq("key"), "left_semi")
      .count()
    val spark = a.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    Seq((kU.length.toLong, round(j, 6), round(unionEst, 4), round(j * unionEst, 4), nExact))
      .toDF("n_kmin", "jaccard_est", "union_est", "intersect_est", "n_exact")
  }

  /** Shuffle-key skew audit: the histogram of per-key row counts for a
    * prospective shuffle/join key, binned by power of two — the
    * introspection that decides between a plain shuffle, `saltedSumByKey`,
    * and an AQE skew-join dial BEFORE paying for a bad exchange. A flat
    * histogram shuffles clean; heavy top buckets mean the hot keys own a
    * reducer each and the job runs at the speed of the worst one.
    *
    * The bucket is `length(bin(c)) - 1` = floor(log2(c)) computed on the
    * INTEGER binary representation — exact in every engine, immune to the
    * floor(log2()) 1-ulp straddle at exact powers of two. Two map-side-
    * combined aggregations (per-key counts, then per-bucket rollup); the
    * histogram is at most 64 rows whatever the key cardinality.
    */
  def keySkewAudit(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum($"c").as("n_rows_total"))
    counts
      .groupBy((length(bin($"c")) - 1).cast("long").as("log2_bucket"))
      .agg(count(lit(1)).as("n_keys"), sum($"c").as("n_rows"), max($"c").as("max_rows_per_key"))
      .crossJoin(broadcast(total))
      .select($"log2_bucket", $"n_keys", $"n_rows", $"max_rows_per_key",
        round($"n_rows" / $"n_rows_total", 4).as("row_share"))
      .orderBy($"log2_bucket")
  }

  /** Keyed compaction planner (q313; round 13 — the shape real
    * compactors run: one plan PER table family / partition, because
    * output files must not mix families). Same next-fit-by-start-offset
    * semantics as `compactionPlan`, but the running offset resets per
    * family (`rangePrefixSums` grouped by family: its base window is
    * partitioned by family, so this op has no unpartitioned window).
    * Output: one row per (family, bin) with fill statistics;
    * families plan independently, so adding a family never moves
    * another family's bins (spec'd against the global planner run on
    * each family alone).
    */
  def compactionPlanKeyed(files: DataFrame, familyCol: String, fileId: String,
      sizeCol: String, targetBytes: Long, parts: Int = 32): DataFrame = {
    require(targetBytes > 0, s"compactionPlanKeyed: targetBytes=$targetBytes must be > 0")
    require(parts > 0, s"compactionPlanKeyed: parts=$parts must be > 0")
    keyedAssignments(files, familyCol, fileId, sizeCol, targetBytes, parts)
      .groupBy($"family", $"bin")
      .agg(count(lit(1)).as("n_files"),
        sum($"n_bytes").as("total_bytes"),
        min($"n_bytes").as("min_file_bytes"),
        max($"n_bytes").as("max_file_bytes"),
        min($"file_id").as("first_file"))
      .orderBy($"family", $"bin")
  }

  /** Per-file keyed next-fit bin assignment — the shared core behind
    * `compactionPlanKeyed` (metadata rollup) and `compactionExecute`
    * (the physical rewrite): one row per input file with its planned
    * output bin, `(family, file_id, n_bytes, bin)`: the global
    * planner's start-offset bins, with the offset reset per family.
    */
  private def keyedAssignments(files: DataFrame, familyCol: String, fileId: String,
      sizeCol: String, targetBytes: Long, parts: Int): DataFrame = {
    val f = files.select(col(familyCol).as("family"),
      col(fileId).cast("long").as("file_id"), col(sizeCol).cast("long").as("n_bytes"))
    rangePrefixSums(f, Seq($"n_bytes".desc, $"file_id"), Seq("n_bytes"), parts,
        groups = Seq("family"))
      .withColumn("bin", expr(s"(cum_n_bytes - n_bytes) div ${targetBytes}L"))
      .select($"family", $"file_id", $"n_bytes", $"bin")
  }

  /** Compaction EXECUTOR (q316; round 14 — closes the maintenance
    * loop: q312's debt decides WHEN, q313's keyed plan decides HOW,
    * q315 forecasts what it buys, and this op actually MOVES THE BYTES
    * and proves the forecast with filesystem evidence, the way the
    * reference's whole run is executing its partition plan
    * (`/root/reference/D/Program.cs:63-149`)). Three stages:
    *
    *  1. PLAN on metadata only (`keyedAssignments` — no payload in the
    *     prefix-sum shuffle; a real compactor plans from manifest
    *     stats, not data files);
    *  2. REWRITE: join payload bytes in BY file id, co-locate each
    *     planned bin with one shuffle on (family, bin), and stream
    *     every bin's members in plan order (size desc, id) into ONE
    *     concatenated output blob `<family>-<bin>.blob` under
    *     `outDir` — executed EAGERLY at call time (foreachPartition),
    *     so the returned report always describes this run's files;
    *  3. RECONCILE: re-LIST the output directory with Spark's
    *     `binaryFile` source — sizes come from the FILESYSTEM, not
    *     from the plan — and report, per family, before-state (file
    *     count / bytes / debt share), planned vs ACTUAL output file
    *     count, actual on-disk bytes, the two match booleans, and the
    *     post-compaction debt share. A writer that drops, duplicates,
    *     or pads a single byte flips `bytes_match`; a lost or extra
    *     output file flips `files_match`; both are hash-gated.
    *
    * Scale shape: payload bytes move through exactly one shuffle
    * (the bin co-location — the minimum any physical rewrite pays);
    * the listing frame is output-file-proportional (Σbytes/target).
    * Local-mode caveat: executors write `outDir` via `java.nio`, so
    * outDir must be on storage every writer can reach (shared FS /
    * object store on a real cluster — same contract as any Spark sink).
    * Writes are idempotent per (family, bin): a task retry truncates
    * and rewrites the same deterministic content.
    */
  def compactionExecute(assets: DataFrame, familyCol: String, fileId: String, sizeCol: String,
      payloadCol: String, outDir: String, targetBytes: Long, smallBytes: Long = 4096): DataFrame = {
    val parts = 32
    require(targetBytes > 0, s"compactionExecute: targetBytes=$targetBytes must be > 0")
    require(smallBytes > 0, s"compactionExecute: smallBytes=$smallBytes must be > 0")
    val spark = assets.sparkSession
    val meta = assets.select(col(familyCol), col(fileId), col(sizeCol))
    val asg = keyedAssignments(meta, familyCol, fileId, sizeCol, targetBytes, parts)

    // fresh output dir per run (driver-side): stale blobs from a prior
    // run would corrupt the listing-based reconciliation
    val root = java.nio.file.Paths.get(outDir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    java.nio.file.Files.createDirectories(root)

    val members = asg
      .join(assets.select(col(fileId).cast("long").as("file_id"),
        col(payloadCol).as("payload")), Seq("file_id"))
      .repartition(parts, $"family", $"bin") // every bin lands whole on one task
      .sortWithinPartitions($"family", $"bin", $"n_bytes".desc, $"file_id")
      .select($"family", $"bin", $"payload")
    members.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var cur: (String, Long) = null
      var out: java.io.OutputStream = null
      try {
        it.foreach { r =>
          val key = (r.getString(0), r.getLong(1))
          if (key != cur) {
            if (out != null) out.close()
            out = java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(outDir, s"${key._1}-${key._2}.blob"))
            cur = key
          }
          out.write(r.getAs[Array[Byte]](2))
        }
      } finally if (out != null) out.close()
    }

    // independent post-state: list the directory; (family, bin) parse
    // back out of the name, n_bytes is the FILESYSTEM length. Selecting
    // only path+length prunes the binaryFile content column.
    val fname = element_at(split($"path", "/"), -1)
    val post = spark.read.format("binaryFile").load(outDir)
      .select(
        regexp_extract(fname, "^(.*)-(\\d+)\\.blob$", 1).as("family"),
        regexp_extract(fname, "^(.*)-(\\d+)\\.blob$", 2).cast("long").as("bin"),
        $"length".as("n_bytes"))

    val before = compactionDebt(meta, familyCol, sizeCol, smallBytes)
      .select($"family", $"n_files".as("n_files_before"),
        $"total_bytes".as("total_bytes_before"),
        $"debt_share".as("debt_share_before"))
    val planned = asg.groupBy($"family")
      .agg(countDistinct($"bin").as("planned_files"))
    val after = compactionDebt(post, "family", "n_bytes", smallBytes)
      .select($"family", $"n_files".as("actual_files"),
        $"total_bytes".as("actual_bytes"),
        $"debt_share".as("debt_share_after"))
    before.join(planned, Seq("family")).join(after, Seq("family"))
      .select($"family", $"n_files_before", $"total_bytes_before",
        $"debt_share_before", $"planned_files", $"actual_files",
        ($"planned_files" === $"actual_files").as("files_match"),
        $"actual_bytes",
        ($"actual_bytes" === $"total_bytes_before").as("bytes_match"),
        $"debt_share_after")
      .orderBy($"family")
  }

  /** Compaction forecast (q315; round 13 — the report that closes the
    * maintenance loop: q312's debt says WHEN to compact, q313's keyed
    * plan says HOW, this says WHAT IT BUYS — per family, current file
    * count vs planned output count and the file-count reduction a run
    * would deliver, next to the debt share that triggered it. The
    * number an ops dashboard actually shows ("compaction would retire
    * 96% of image files"). Compositional by construction: the spec pins
    * this row-for-row against joining the two registered ops' outputs.
    * Shape: the keyed plan's bin frame collapses to one row per family
    * (count of bins) before the broadcast-sized join with the debt
    * frame — nothing here outlives the plan's own aggregates.
    */
  def compactionForecast(files: DataFrame, familyCol: String, fileId: String, sizeCol: String,
      targetBytes: Long, smallBytes: Long = 4096): DataFrame = {
    val debt = compactionDebt(files.select(col(familyCol), col(sizeCol)),
      familyCol, sizeCol, smallBytes)
    val planned = compactionPlanKeyed(files, familyCol, fileId, sizeCol,
        targetBytes, 32)
      .groupBy($"family").agg(count(lit(1)).as("planned_files"))
    debt.join(planned, Seq("family"))
      .select($"family", $"n_files", $"total_bytes", $"small_files",
        $"debt_share", $"planned_files",
        round(lit(1.0) - $"planned_files".cast("double") / $"n_files", 6)
          .as("file_reduction"))
      .orderBy($"family")
  }

  /** Compaction-debt monitor (q312; round 13 — the trigger metric that
    * DECIDES when the q310 planner runs: per table family, how much of
    * the stored volume sits in files below the small-file threshold.
    * Real lakehouses alert on exactly this — "small-file debt" — because
    * scan parallelism and manifest pressure degrade long before a
    * scheduled compaction notices). Pure additive aggregates (counts +
    * conditional sums + one rounded share), so the metric is exact and
    * arrival-order-free.
    */
  def compactionDebt(files: DataFrame, typeCol: String, sizeCol: String,
      smallBytes: Long = 4096): DataFrame = {
    require(smallBytes > 0, s"compactionDebt: smallBytes=$smallBytes must be > 0")
    val small = col(sizeCol) < smallBytes
    files.groupBy(col(typeCol).as("family"))
      .agg(count(lit(1)).as("n_files"),
        sum(col(sizeCol)).as("total_bytes"),
        count(when(small, 1)).as("small_files"),
        coalesce(sum(when(small, col(sizeCol))), lit(0L)).as("small_bytes"))
      .select($"family", $"n_files", $"total_bytes", $"small_files",
        $"small_bytes",
        round($"small_bytes".cast("double") / $"total_bytes", 6).as("debt_share"))
      .orderBy($"family")
  }

  /** Data-layout file-skipping audit (q311; round 13 — the companion
    * QA to q78's Z-order report and the compaction planner: AFTER you
    * lay a 100 TB table out, this measures what the layout BUYS — how
    * many files a point predicate on `keyCol` must actually read, given
    * per-file min/max footer statistics, under (a) the key-sorted
    * layout and (b) the arrival-order layout. This is the
    * Delta/Iceberg "OPTIMIZE effectiveness" number: sorted layouts
    * should read ~1 file per probe; arrival layouts read almost all of
    * them, because every file's [min, max] spans the whole key domain.
    *
    * Mechanics: a file is a rank slice — file = ⌊rank₀ · files / N⌋
    * over the layout's total order ((key, id) for sorted, (id) for
    * arrival; id unique, so both orders are total and the assignment is
    * partition-count invariant). The global rank and the row count N are
    * a `rangePrefixSums` count (N is its total over the ≤ `parts`
    * subtotal rows, not a second corpus scan). Per-file min/max =
    * one aggregate (`files` rows — exactly the parquet footer stats a
    * real reader consults); probes = the DISTINCT key values
    * (domain-sized); reads = probes × broadcast(file stats) filtered to
    * lo ≤ v ≤ hi. Output: one summary row per layout, integer-exact
    * except the one rounded mean.
    */
  def layoutSkippingAudit(df: DataFrame, keyCol: String, idCol: String,
      files: Int = 64): DataFrame = {
    val parts = 32
    require(files > 0, s"layoutSkippingAudit: files=$files must be > 0")
    val base = df.select(col(idCol).as("id"), col(keyCol).as("k"))

    // file id = 0-based global rank over `order` · files div N
    def fileStats(order: Seq[Column], layout: String): DataFrame =
      rangePrefixSums(base.withColumn("n", lit(1L)), order, Seq("n"), parts)
        .withColumn("f", expr(s"(cum_n - 1) * ${files}L div tot_n"))
        .groupBy($"f")
        .agg(min($"k").as("lo"), max($"k").as("hi"))
        .withColumn("layout", lit(layout))

    // materialize the footer-stats frame (2·files rows) once: it feeds
    // both the probe join and the n_files rollup, and a real reader
    // persists footer stats rather than recomputing the corpus pass —
    // without this the corpus-sized rank window would run twice
    val stats = fileStats(Seq($"k", $"id"), "sorted")
      .unionByName(fileStats(Seq($"id"), "arrival"))
      .localCheckpoint(eager = false)
    val probes = base.select($"k").distinct()
    val reads = probes.crossJoin(broadcast(stats))
      .filter($"k" >= $"lo" && $"k" <= $"hi")
      .groupBy($"layout", $"k").agg(count(lit(1)).as("nf"))
    // n_probes / the mean's denominator = the EXPLICIT probe-domain count
    // (one 1-row aggregate, broadcast into the summary), not the count of
    // probes that matched >= 1 file (r14 advice fix): self-sourced probes
    // always lie inside their own file's [lo, hi], so the two agree here,
    // but externally-sourced probes matching zero files must still be in
    // the denominator for avg_files_read to mean "files read per probe".
    val nProbes = probes.agg(count(lit(1)).as("n_probes_all"))
    reads.groupBy($"layout")
      .agg(sum($"nf").as("reads_total"),
        max($"nf").as("max_files_read"))
      .crossJoin(broadcast(nProbes))
      .select($"layout", $"n_probes_all".as("n_probes"), $"reads_total",
        $"max_files_read",
        round($"reads_total".cast("double") / $"n_probes_all", 6)
          .as("avg_files_read"))
      .join(stats.groupBy($"layout").agg(countDistinct($"f").as("n_files")), Seq("layout"))
      .select($"layout", $"n_files", $"n_probes", $"reads_total",
        $"max_files_read", $"avg_files_read")
      .orderBy($"layout")
  }

  /** Small-file compaction planner (q310; round 13 — the lakehouse
    * maintenance op every 100 TB table needs: millions of KB-sized
    * files murder scan parallelism and NameNode/manifest metadata, so a
    * compactor periodically bin-packs them into ~`targetBytes` outputs).
    * The plan is the SEQUENTIAL-PACK one a sorted compactor produces:
    * order files by (size desc, id asc) — a total order, so the plan is
    * partition-count invariant — lay them end to end, and assign each
    * file to the bin its START offset lands in (`start div target`): a
    * deterministic next-fit whose every bin except possibly the last
    * reaches the target. Output is one row per planned output file with
    * its fill statistics — `n_bins ≈ Σbytes / target`, so the report is
    * corpus-bytes-proportional, never file-count-proportional.
    *
    * Scale shape: the global running offset is a `rangePrefixSums`
    * (no corpus-sized single-task window). Dial: `targetBytes` is
    * workload-chosen (128 MB in a real
    * lake); output rows scale as Σbytes / target, independent of file
    * count.
    */
  def compactionPlan(files: DataFrame, fileId: String, sizeCol: String,
      targetBytes: Long, parts: Int = 32): DataFrame = {
    require(targetBytes > 0, s"compactionPlan: targetBytes=$targetBytes must be > 0")
    require(parts > 0, s"compactionPlan: parts=$parts must be > 0")
    val f = files.select(col(fileId).cast("long").as("file_id"),
      col(sizeCol).cast("long").as("n_bytes"))
    rangePrefixSums(f, Seq($"n_bytes".desc, $"file_id"), Seq("n_bytes"), parts)
      .withColumn("bin", expr(s"(cum_n_bytes - n_bytes) div ${targetBytes}L"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_files"),
        sum($"n_bytes").as("total_bytes"),
        min($"n_bytes").as("min_file_bytes"),
        max($"n_bytes").as("max_file_bytes"),
        min($"file_id").as("first_file"))
      .orderBy($"bin")
  }
}
