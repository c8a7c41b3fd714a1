package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the `events` table (SURVEY.md §2.2).
  *
  * The fixture stores TIMESTAMP(NANOS) parquet, which Spark's vectorized
  * reader rejects; `Tables.events` reads it as raw nanosecond longs
  * (`spark.sql.legacy.parquet.nanosAsLong`), and every operator here works
  * in exact integer-nanosecond arithmetic — which also makes results
  * engine-exact (no timezone or float-epoch wobble). Outputs carry epoch
  * seconds (bigint).
  *
  * Non-negative-ts assumption: epoch bucketing uses Spark's `div`, which
  * truncates toward zero, while the DuckDB oracles use `//` (floor) — the
  * two agree on ts >= 0 and diverge on pre-1970 nanosecond timestamps.
  * The events fixture (and any realistic telemetry stream) is entirely
  * post-1970; if negative timestamps ever enter scope, switch both sides
  * to floor division (`floor(ts / N)` / pmod-based day math).
  */
object Events {
  private val NsPerHour = 3600L * 1000000000L
  private val NsPerSecond = 1000000000L
  private val NsPerDay = 86400L * 1000000000L

  /** An event's value on the exact integer micro-unit grid, round(value·10⁴)
    * as a long: sums and products of it are engine-exact, so every moment
    * built from it evaluates the same double tree on both engines.
    */
  private def valueMicro: Column = round($"value" * 10000, 0).cast("long")

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- two-arm A/B kernel ------------------------------------------------------

  /** The A/B arm of a row, as column `arm`: the md5 coin of its user_id,
    * 0 or 1. One deterministic split that every two-arm readout (q192's
    * family) grades, so all of them compare the same two user sets.
    */
  private def userArm: Column = Scale.md5SlicePos($"user_id", 0, 2).as("arm")

  /** Σ c over the rows of arm `a`, zero over the other arm. The caller
    * picks the product form: a long product (ANSI-checked) cast to
    * decimal afterwards, or a decimal product that cannot overflow.
    */
  private def armSum(a: Long, c: Column): Column = sum(when($"arm" === a, c).otherwise(0L))

  private def mean(s1: Column, n: Column): Column = s1.cast("double") / n

  /** Sample covariance from exact sums, (s12 − s1·s2/n)/(n − 1), in double
    * space with the association order of the oracle text.
    */
  private def scov(s1: Column, s2: Column, s12: Column, n: Column): Column =
    (s12.cast("double") - s1.cast("double") * s2 / n) / (n - lit(1L))

  private def svar(s1: Column, s2: Column, n: Column): Column = scov(s1, s1, s2, n)

  /** The exact 1-row arm-moment frame of purchase values: per arm (n, Σvm,
    * Σvm²) on the micro-unit grid, as n_a, s1_a, s2_a, n_b, s1_b, s2_b.
    * q192's z, q237's always-valid p, q279's MDE and q283's TOST derive
    * from these six scalars alone. Under ANSI both the per-row vm² and
    * the long sums throw on overflow instead of wrapping.
    */
  private def msprtArmMoments(events: DataFrame): DataFrame =
    events.filter($"event_type" === "purchase")
      .select(userArm, valueMicro.as("vm"))
      .agg(
        armSum(0L, lit(1L)).as("n_a"), armSum(0L, $"vm").as("s1_a"),
        armSum(0L, $"vm" * $"vm").as("s2_a"),
        armSum(1L, lit(1L)).as("n_b"), armSum(1L, $"vm").as("s1_b"),
        armSum(1L, $"vm" * $"vm").as("s2_b"))

  /** Welch's squared standard error of mean_b − mean_a on the arm-moment
    * frame.
    */
  private def welchSe2: Column =
    svar($"s1_a", $"s2_a", $"n_a") / $"n_a" + svar($"s1_b", $"s2_b", $"n_b") / $"n_b"

  /** The per-user pre/post panel of q232 and q250: every user the events
    * saw (the assignment universe, not just converters), with its arm and
    * its exact micro-unit purchase value before (x) and from (y) the
    * corpus midpoint day; a user with no purchases contributes (0, 0).
    */
  private def prePostUsers(events: DataFrame): DataFrame = {
    val ev = events.select($"user_id", expr(s"ts div $NsPerDay").as("day"),
      $"event_type", valueMicro.as("vm"))
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val perUser = ev.filter($"event_type" === "purchase")
      .crossJoin(broadcast(mid))
      .groupBy($"user_id")
      .agg(sum(when($"day" < $"mid", $"vm").otherwise(0L)).as("x"),
        sum(when($"day" >= $"mid", $"vm").otherwise(0L)).as("y"))
    ev.select($"user_id").distinct()
      .join(perUser, Seq("user_id"), "left_outer")
      .select(userArm, coalesce($"x", lit(0L)).as("x"), coalesce($"y", lit(0L)).as("y"))
  }

  // ---- count-series kernel -----------------------------------------------------

  /** Rows per `width`-ns bucket of `ts` and per `keys`, as (keys…, d, c)
    * with d = ts div width, beside the `more` per-bucket aggregates. It is
    * the one corpus-proportional pass of every count series here (map-side
    * combined); all later work is bucket-sized. A bucket no row reached is
    * absent: q252, q255, q259, q261, q275 and q276 run on the observed
    * buckets, the rest on [[zeroFilled]].
    */
  private def bucketCounts(events: DataFrame, width: Long, keys: Seq[Column],
      more: Column*): DataFrame =
    events.groupBy(keys :+ expr(s"ts div $width").as("d"): _*)
      .agg(count(lit(1)).as("c"), more: _*)

  private def dailyCounts(events: DataFrame): DataFrame = bucketCounts(events, NsPerDay, Nil)

  /** The per-day value moments (d, n_events, s1) on the micro-unit grid,
    * with the daily level xm = (10⁴·s1) div n_events: floor division of
    * exact long sums, so every level is an engine-exact integer.
    */
  private def dailyMoments(events: DataFrame): DataFrame =
    bucketCounts(events, NsPerDay, Nil, sum(valueMicro).as("s1"))
      .select($"d", $"c".as("n_events"), $"s1", expr("(10000 * s1) div c").as("xm"))

  /** The series on its complete calendar [min d, max d]: a bucket no row
    * reached reads 0 in each of `cols`, a real zero of the load curve and
    * not a gap to skip.
    */
  private def zeroFilled(counts: DataFrame, cols: String*): DataFrame =
    counts.agg(min($"d").as("d0"), max($"d").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("d"))
      .join(counts, Seq("d"), "left_outer")
      .select($"d" +: cols.map(c => coalesce(col(c), lit(0L)).as(c)): _*)

  /** The series centred in integers, y_c = n·c − Σc for each of `cols`
    * (the mean scaled by n, so no float mean enters), beside n, each Σc
    * as s_c and the first bucket d0.
    */
  private def centred(series: DataFrame, cols: String*): DataFrame = {
    val stats = series.agg(count(lit(1)).as("n"),
      cols.map(c => sum(col(c)).as(s"s_$c")) :+ min($"d").as("d0"): _*)
    series.crossJoin(broadcast(stats)).select(Seq($"d", $"n", $"d0") ++
      cols.map(c => col(s"s_$c")) ++
      cols.map(c => ($"n" * col(c) - col(s"s_$c")).as(s"y_$c")): _*)
  }

  /** Σ a(t)·b(t+lag) for each lag in [lo, hi] over a (d, a, b) frame, as
    * (lag, num, n_pairs): every product an ANSI-checked long, summed exact
    * in DECIMAL(38,0), over the pairs whose both buckets are in the frame.
    * The lag join is on bucket arithmetic, so a missing bucket never pairs
    * with a shifted neighbour. A lag with no pair has no row.
    */
  private def lagProducts(y: DataFrame, a: String, b: String, lo: Long, hi: Long): DataFrame =
    y.crossJoin(broadcast(y.sparkSession.range(lo, hi + 1).toDF("lag")))
      .select(($"d" + $"lag").as("d"), $"lag", col(a).as("ya"))
      .join(y.select($"d", col(b).as("yb")), Seq("d"))
      .groupBy($"lag")
      .agg(sum(dec($"ya" * $"yb")).as("num"), count(lit(1)).as("n_pairs"))

  /** The single-changepoint scan of each `keys` series of (keys…, d, c)
    * counts, by the standardized CUSUM supremum: for each split k,
    * C_k = |T·S_k − k·S_T| / (σ̂·√(k(T−k)T)). The numerator is an exact
    * long on the prefix sums, σ̂ the population sd of exact integer
    * moments, and a constant series (σ̂ = 0, numerator 0) scores 0 by
    * convention, never a 0/0 NaN. Under H₀ sup_k C_k tends to the
    * supremum of a Brownian bridge, whose tail is the Kolmogorov
    * distribution. One row per series, the split maximizing C_k rounded
    * to 6 with the earlier day as tiebreak, so the pick is engine-stable.
    */
  private def changepointBest(daily: DataFrame, keys: Column*): DataFrame = {
    val byKey = Window.partitionBy(keys: _*).orderBy($"d")
    val w = byKey.rowsBetween(Window.unboundedPreceding, 0)
    val wAll = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sigma = sqrt(($"sst".cast("double")
      - $"st".cast("double") * $"st" / $"t") / $"t")
    val num = abs($"t" * $"sk" - $"k" * $"st")
    val ck = num.cast("double") /
      (sqrt(($"k" * ($"t" - $"k") * $"t").cast("double")) * sigma)
    val statG = when(sigma > 0.0, ck).otherwise(lit(0.0))
    daily
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sk", sum($"c").over(w))
      .withColumn("t", count(lit(1)).over(wAll))
      .withColumn("st", sum($"c").over(wAll))
      .withColumn("sst", sum(dec($"c" * $"c")).over(wAll))
      .filter($"k" < $"t")
      .withColumn("stat_raw", statG)
      .withColumn("stat", round(statG, 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy($"stat".desc, $"d")))
      .filter($"rn" === 1)
      .select(keys ++ Seq($"d".as("split_day"), $"k".as("n_before"),
        ($"t" - $"k").as("n_after"), round($"stat_raw", 4).as("cusum_stat"),
        round($"sk".cast("double") / $"k", 4).as("mean_before"),
        round(($"st" - $"sk").cast("double") / ($"t" - $"k"), 4).as("mean_after"),
        round(Inference.kolmogorovTail($"stat_raw"), 6).as("p_value")): _*)
  }

  /** Tumbling-window aggregation: events per (hour, event_type); one
    * shuffle on the composite key.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        (expr(s"ts div $NsPerHour") * 3600).as("hour_epoch"),
        $"event_type")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"value"), 2).as("total_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"hour_epoch", $"event_type")

  /** Sessionization: per-user event stream split on >30min inactivity gaps
    * (classic lag + running-sum-of-boundaries). One shuffle on user_id; the
    * windows never cross users, so state stays bounded per key at any scale.
    */
  def sessionize(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val withGap = events
      .select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull || ($"ts" - $"prev_ts") > 1800L * NsPerSecond, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withGap
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("session_value"))
      .groupBy($"user_id")
      .agg(
        max($"session_seq").cast("bigint").as("n_sessions"),
        max($"n_events").as("max_session_events"),
        round(sum($"session_value"), 2).as("total_value"))
      .orderBy($"user_id")
  }

  /** Native session_window sessionization: Spark's built-in gap-based
    * session operator over the nanos-long ts (converted to timestamp).
    * Agrees with the manual lag+running-sum `sessionize` on
    * microsecond-resolution, non-null timestamps (the fixtures' contract;
    * the q52 oracle proves it on real data). Three caveats relative to the
    * manual form: the micros conversion floors sub-microsecond gaps;
    * session_window drops null-timestamp rows (it injects an IsNotNull
    * filter) while the window formulation would keep them; and two events
    * exactly `gap` apart land in ONE session under the manual `> gap` rule
    * but in TWO under session_window, whose half-open [ts, ts+gap) windows
    * touch without overlapping at an exact-gap spacing — a fixture timestamp
    * landing exactly on the gap boundary would surface as a q52/q33
    * divergence, not a bug in either form.
    */
  def sessionWindowAgg(events: DataFrame): DataFrame = {
    val gap = "30 minutes"
    events
      .withColumn("tss", timestamp_micros(expr("ts div 1000")))
      .groupBy($"user_id", session_window($"tss", gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("session_value"))
      .select(
        $"user_id",
        unix_timestamp($"sw.start").as("session_start"),
        $"n_events", $"session_value")
      .orderBy($"user_id", $"session_start")
  }

  /** Event-type profile with exact percentiles (percentile_cont semantics
    * on both engines).
    */
  def typeProfile(events: DataFrame): DataFrame =
    events
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg($"value"), 4).as("avg_value"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(stddev_samp($"value"), 4).as("sd"))
      .orderBy($"event_type")

  /** Per-type z-score normalization of `value` — the feature-scaling step
    * of a training pipeline, expressed at scale: the per-type moments are a
    * tiny aggregate (one row per type) that is explicitly `broadcast` back
    * onto the fact table, so normalization costs one corpus scan + one
    * map-side join — NOT a window over the full table, which would sort
    * every partition of a 100 TB fact by a 5-value key.
    *
    * Cross-engine determinism: the moments are rounded to 6 decimals
    * BEFORE the per-row z — the ~1e-12 parallel-summation wobble then has
    * to flip a 6-decimal rounding of one of the few per-type aggregates to
    * matter (≈1e-7), instead of riding into every one of the corpus's
    * per-row roundings; past that, z is one IEEE-exact subtract/divide on
    * identical inputs in both engines.
    */
  def valueZscore(events: DataFrame): DataFrame = {
    val stats = events
      .groupBy($"event_type")
      .agg(round(avg($"value"), 6).as("mu"), round(stddev_samp($"value"), 6).as("sd"))
    events
      .join(broadcast(stats), Seq("event_type"))
      .select($"event_id", $"event_type",
        round(($"value" - $"mu") / $"sd", 4).as("z"))
      .orderBy($"event_id")
  }

  /** CDC-style latest-wins compaction: one row per user — their most
    * recent event (ts, then event_id as the uniqueness tie-break). Shaped
    * as `max(struct(ts, event_id, payload...))`, a single map-side-combined
    * aggregation: every partition reduces to one candidate per key before
    * the exchange, so compacting a 100 TB changelog shuffles one row per
    * key — the `row_number() = 1` window formulation would instead sort
    * every partition of the full log.
    */
  def latestByUser(events: DataFrame): DataFrame =
    events
      .groupBy($"user_id")
      .agg(max(struct($"ts", $"event_id", $"event_type", $"value")).as("m"))
      .select($"user_id", $"m.event_id".as("event_id"),
        expr(s"m.ts div $NsPerSecond").as("ts_epoch"),
        $"m.event_type".as("event_type"), round($"m.value", 2).as("value"))
      .orderBy($"user_id")

  /** Signup→purchase funnel: of the users whose stream contains a signup,
    * how many made a purchase within `horizonHours` of their FIRST signup,
    * and how long conversion took on average. Two filtered aggregates
    * joined on user_id (both sides shuffle on the same key, so the join
    * reuses the exchange); no window over the corpus, no self-join of the
    * full event stream. Exact integer-nanosecond comparisons; only the
    * final averages are floating point (rounded).
    */
  def signupFunnel(events: DataFrame): DataFrame = {
    val horizonHours = 24L
    val horizonNs = horizonHours * NsPerHour
    val firstSignup = events.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"))
    firstSignup
      .join(purchases, Seq("user_id"), "left")
      .groupBy($"user_id", $"signup_ts")
      .agg(min(when($"p_ts" >= $"signup_ts", $"p_ts")).as("first_p"))
      .select(($"first_p".isNotNull && $"first_p" - $"signup_ts" <= horizonNs).as("converted"),
        (($"first_p" - $"signup_ts") / (3600.0 * NsPerSecond)).as("hours_to"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_signup_users"),
        sum(when($"converted", 1L).otherwise(0L)).as("n_converted"),
        round(sum(when($"converted", 1L).otherwise(0L)) / count(lit(1)), 6).as("conversion_rate"),
        round(avg(when($"converted", $"hours_to")), 4).as("avg_hours_to_convert"))
  }

  /** Trailing-window anomaly detection: flag events whose value deviates
    * from the user's trailing-`windowHours` mean by more than 2 sample
    * standard deviations, given at least `minPrev` prior events — the
    * monitoring-style outlier rule, expressed over a RANGE window frame
    * (event-time VALUE bounds on the nanosecond order key, excluding the
    * current row; a ROWS frame would silently change meaning on irregular
    * streams).
    *
    * The decision is EXACT integer arithmetic end to end: values become
    * cents (both engines round the identical double identically), the
    * frame's count/sum/sum-of-squares over integers are order-insensitive,
    * and |x−μ| > 2σ cross-multiplies to
    * (x·n − S)²·(n−1) > 4·n·(n·Q − S²) evaluated in decimal(38,0) — no
    * float ever enters a comparison, so borderline rows cannot flip
    * between engines (a windowed float σ would differ by summation
    * association).
    */
  def valueAnomalies(events: DataFrame): DataFrame = {
    val windowHours = 24L
    val minPrev = 5
    val w = Window.partitionBy($"user_id").orderBy($"ts")
      .rangeBetween(-windowHours * NsPerHour, -1)
    val dec = "decimal(38,0)"
    events
      .select($"event_id", $"user_id", $"ts", $"value",
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("x"))
      .withColumn("n", count($"x").over(w))
      .withColumn("s", sum($"x").over(w))
      // x*x (and everything downstream) in decimal, not long: a long x*x
      // would wrap silently in non-ANSI mode for |value| >= ~$30M, and the
      // oracle side mirrors with HUGEINT so neither engine can overflow
      // where the other doesn't
      .withColumn("q", sum($"x".cast(dec) * $"x".cast(dec)).over(w))
      .filter($"n" >= minPrev)
      .withColumn("d", $"x".cast(dec) * $"n".cast(dec) - $"s".cast(dec))
      .filter($"d" * $"d" * ($"n" - 1).cast(dec) >
        lit(4).cast(dec) * $"n".cast(dec) *
          ($"n".cast(dec) * $"q" - $"s".cast(dec) * $"s".cast(dec)))
      .select($"event_id", $"user_id", round($"value", 2).as("value"),
        $"n".as("n_prev"))
      .orderBy($"event_id")
  }

  /** Cohort retention matrix: users grouped by first-seen day (cohort),
    * counted as active on each later day they appear — the classic
    * retention triangle. Exact integer day arithmetic on the nanosecond
    * epoch.
    *
    * Shape: distinct (user, day) activity (one shuffle, map-side
    * combined), a per-user min-day aggregate joined back (the cohort
    * dimension is user-sized, but the join is on user_id — the same
    * hash-shuffle the activity distinct just produced, so co-partitioning
    * reuses the exchange), then one count per (cohort_day, offset) cell.
    * No window over the corpus.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val activity = events
      .select($"user_id", expr(s"ts div $NsPerDay").as("day"))
      .distinct()
    val cohorts = activity.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    activity
      .join(cohorts, Seq("user_id"))
      .groupBy(($"cohort_day" * 86400).as("cohort_epoch"),
        ($"day" - $"cohort_day").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_epoch", $"day_offset")
  }

  /** Deterministic mergeable quantile sketch — the KMV trick applied to
    * quantiles (the sketch twin of q54's distinct-count KMV): per
    * event_type keep the `k` rows with the smallest md5(event_id) — a
    * bottom-k uniform sample that MERGES associatively (bottom-k of a
    * union is the bottom-k of the concatenated per-part bottom-k's, so
    * partial sketches combine across partitions/shards/days like any
    * distributive aggregate; spec-asserted) — then report exact
    * interpolated quantiles OF THE SAMPLE over cent-rounded values.
    * Fixed memory (k rows per group), one corpus scan.
    *
    * Unlike `approx_percentile` (q38's envelope-checked half, whose
    * KLL-style sketch internals are implementation-defined), every step
    * here is
    * engine-reproducible — md5 ranking, sample membership, and the
    * interpolation arithmetic (`Scale.exactQuantileByGroup`'s formula) —
    * so the ESTIMATE itself is oracle-checkable bit-for-bit.
    */
  def quantileSketch(events: DataFrame): DataFrame = {
    val k = 256
    val vals = events.select($"event_type", $"event_id",
      round($"value", 2).as("v"))
    val sample = Scale.topKPerGroup(vals, group = $"event_type",
        rankKey = md5($"event_id".cast("string")), tie = $"event_id",
        saltSource = $"event_id", k = k)
      .select($"event_type", $"v")
    // (no checkpoint: since the panel collapse the sample has exactly one
    // consumer — an eager materialization would be pure overhead)
    val est = Scale.quantilePanel(sample, "event_type", "v",
        Seq(0.5 -> "p50", 0.9 -> "p90"))
      .select($"event_type", round($"p50", 4).as("p50_est"),
        round($"p90", 4).as("p90_est"))
    events.groupBy($"event_type").agg(count(lit(1)).as("n_total"))
      .join(est, Seq("event_type"))
      .orderBy($"event_type")
  }

  /** Robust outlier detection: per event type, the median/MAD rule
    * |v − median| > k·MAD — the heavy-tail-safe complement of q80's
    * mean/σ z-score (one fat-fingered 10⁶ value inflates σ enough to
    * hide every other anomaly; the median absolute deviation barely
    * moves). Both quantiles run through the bounded-state histogram
    * quantile (`Scale.exactQuantileByGroup` — state per distinct rounded
    * value, never per row), and the cuts broadcast onto the scan, so the
    * whole rule is two bounded aggregations + one codegen'd filter pass.
    *
    * Determinism: values round to cents, quantile interpolation is the
    * engine-shared bit-exact formula, cuts round to 4 — the comparison
    * sees identical doubles on both engines.
    */
  def madOutliers(events: DataFrame): DataFrame = {
    val k = 3.0
    val vals = events.select($"event_type", round($"value", 2).as("v"))
      .localCheckpoint() // ROADMAP item 4 (c): the median pass and the deviation pass read it
    val med = Scale.exactQuantileByGroup(vals, "event_type", "v", 0.5)
      .select($"event_type", round($"cut", 4).as("med"))
    val dev = vals
      .join(broadcast(med), Seq("event_type"))
      .select($"event_type", $"v", $"med", round(abs($"v" - $"med"), 4).as("d"))
      .localCheckpoint() // ROADMAP item 4 (c): the MAD pass and the outlier filter read it
    val mad = Scale.exactQuantileByGroup(
        dev.select($"event_type", $"d".as("v")), "event_type", "v", 0.5)
      .select($"event_type", round($"cut", 4).as("mad"))
    dev
      .join(broadcast(mad), Seq("event_type"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when($"d" > lit(k) * $"mad", 1L).otherwise(0L)).as("n_outliers"),
        min($"med").as("median"),
        min($"mad").as("mad"))
      .orderBy($"event_type")
  }

  /** Session path analysis: the most common 3-step event-type paths —
    * consecutive in-session triples (both gaps ≤ `gapSeconds` under
    * q123's adjacency rule), counted corpus-wide, top-`topk`. The
    * product-analytics complement of the transition matrix: q123 gives
    * the Markov edge weights, this surfaces the actual high-traffic
    * WALKS (a funnel hypothesis generator).
    *
    * Shape: two `lead`s over the one per-user (ts, event_id) sort — same
    * single-shuffle discipline as scd2History — then a map-side-combined
    * count into a types³-bounded frame and a TakeOrderedAndProject.
    */
  def topSessionPaths(events: DataFrame): DataFrame = {
    val gapSeconds = 1800L
    val topk = 10
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapNs = gapSeconds * NsPerSecond
    events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("t2", lead($"event_type", 1).over(byUser))
      .withColumn("ts2", lead($"ts", 1).over(byUser))
      .withColumn("t3", lead($"event_type", 2).over(byUser))
      .withColumn("ts3", lead($"ts", 2).over(byUser))
      .filter($"t3".isNotNull &&
        ($"ts2" - $"ts") <= gapNs && ($"ts3" - $"ts2") <= gapNs)
      .groupBy($"event_type".as("step1"), $"t2".as("step2"), $"t3".as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"step1", $"step2", $"step3")
      .limit(topk)
  }

  /** Sliding-window distinct users (7-day active users) via MERGEABLE
    * daily KMV sketches: each day keeps the `k` smallest distinct
    * md5(user_id) hashes; a window's sketch is the bottom-k of the union
    * of its days' sketches (KMV merges associatively, q54/q87's algebra),
    * and the estimate is (k-1)/frac(kth) — or exact when the merged
    * sketch holds fewer than k hashes. THE streaming-warehouse rollup
    * pattern at 100 TB: daily sketches are k rows each, so a year of
    * trailing-window DAU/WAU/MAU reads 365·k rows instead of re-scanning
    * the corpus per window; the same daily rows serve any window length.
    *
    * Shape: one (day, user) distinct pass over the corpus (the only
    * corpus-sized stage — it also feeds the truth column); per-day
    * bottom-k via the salted two-stage rank; the day→window fan-out is an
    * explode of `windowDays` ints equi-semi-joined to observed days (no
    * range join, co-partitioned on the window key); everything after is
    * (days × k)-proportional. The exact column rides for accuracy
    * inspection (the q73/q54 report convention) — a production run drops
    * it and with it the corpus-sized window join.
    */
  def slidingDistinctUsers(events: DataFrame, k: Int = 64): DataFrame = {
    val windowDays = 7
    val du = events
      .select(expr(s"ts div $NsPerDay").as("day"), $"user_id")
      .distinct()
      .localCheckpoint() // ROADMAP item 4 (c): the sketch, day-list and truth branches read it
    val days = du.select($"day").distinct()
    val dailySketch = Scale.topKPerGroup(
      du.select($"day", md5($"user_id".cast("string")).as("h")),
      group = $"day", rankKey = $"h", tie = $"h", saltSource = $"h", k = k)
    def toWindows(df: DataFrame): DataFrame = df
      .withColumn("window_end_day", explode(sequence($"day", $"day" + (windowDays - 1))))
      .join(days.select($"day".as("window_end_day")), Seq("window_end_day"), "left_semi")
    val merged = Scale.topKPerGroup(
      toWindows(dailySketch).select($"window_end_day", $"h").distinct(),
      group = $"window_end_day", rankKey = $"h", tie = $"h", saltSource = $"h", k = k)
    val frac = Scale.hexFraction($"kth")
    val est = merged
      .groupBy($"window_end_day")
      // the sketch is the k smallest hashes, so its max IS the kth smallest
      .agg(count(lit(1)).as("n_sk"), max($"h").as("kth"))
      .select($"window_end_day",
        when($"n_sk" < k, $"n_sk".cast("double"))
          .otherwise(lit((k - 1).toDouble) / frac).as("raw_est"))
      .select($"window_end_day", round($"raw_est", 4).as("est_users"))
    val nDays = toWindows(days)
      .groupBy($"window_end_day").agg(count(lit(1)).as("n_days"))
    val exact = toWindows(du)
      .groupBy($"window_end_day").agg(countDistinct($"user_id").as("n_exact"))
    est
      .join(nDays, Seq("window_end_day"))
      .join(exact, Seq("window_end_day"))
      .select($"window_end_day", $"n_days", $"est_users", $"n_exact")
      .orderBy($"window_end_day")
  }

  /** Persisted sketch rollup — q128's mergeable daily KMV sketches taken
    * through the DISK contract (the q227 datasheet-partials pattern
    * applied to sketches). `writeDailySketches` persists each
    * (event_type, day) stratum's bottom-k distinct-md5(user_id) sketch to
    * parquet — at most k rows per stratum, and the shard slicing is free
    * as long as shards are day-DISJOINT, because bottom-k of a union is
    * the bottom-k of the unioned bottom-ks (the q54/q128 KMV algebra).
    * `distinctUsersFromSketchFiles` reads the shard dirs and answers
    * "distinct users per event_type over the whole span" from sketch rows
    * alone — no event is rescanned at read time. THE nightly warehouse
    * rollup at 100 TB: a day's events are read exactly once, when that
    * day's shard lands; every later rollup — any span, any grouping of
    * days — reads days×k rows. q228's oracle recomputes the estimate from
    * the raw events in DuckDB, so the gate proves
    * write + read + merge == recompute, cross-engine.
    */
  def writeDailySketches(events: DataFrame, path: String, k: Int = 64): Unit = {
    // NOTE: the fingerprint lands INSIDE `path`, which the sketch write
    // first deletes via overwrite — the two writes of one shard must stay
    // sequential (a concurrent fingerprint's _temporary dir is wiped by
    // the overwrite; measured as a MatchingSpec task failure). Cross-shard
    // overlap lives at the CALLER (day-disjoint slices, disjoint dirs).
    Scale.topKPerGroup(
      events
        .select($"event_type", expr(s"ts div $NsPerDay").as("day"),
          md5($"user_id".cast("string")).as("h"))
        .distinct(),
      group = struct($"event_type", $"day"),
      rankKey = $"h", tie = $"h", saltSource = $"h", k = k)
      .write.mode("overwrite").parquet(path)
    // build-slice fingerprint (q242 staleness contract)
    Governance.writeFingerprint(events, Governance.eventCanonical, path)
  }

  def distinctUsersFromSketchFiles(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], k: Int = 64): DataFrame = {
    val parts = dirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    // distinct() guards the contract boundary: day-disjoint shards can't
    // duplicate an (event_type, h) pair, but overlapping re-writes must
    // merge idempotently rather than skew the kth-smallest rank
    val merged = Scale.topKPerGroup(
      parts.select($"event_type", $"h").distinct(),
      group = $"event_type", rankKey = $"h", tie = $"h", saltSource = $"h",
      k = k)
    val frac = Scale.hexFraction($"kth")
    val nDays = parts.groupBy($"event_type")
      .agg(countDistinct($"day").as("n_days"))
    merged
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_sk"), max($"h").as("kth"))
      .select($"event_type",
        when($"n_sk" < k, $"n_sk".cast("double"))
          .otherwise(lit((k - 1).toDouble) / frac).as("raw_est"))
      .select($"event_type", round($"raw_est", 4).as("est_users"))
      .join(nDays, Seq("event_type"))
      .select($"event_type", $"n_days", $"est_users")
      .orderBy($"event_type")
  }

  /** Persisted per-day QUANTILE sketch shards (q272) — the q228 disk
    * contract applied to q87's deterministic bottom-k-by-md5 quantile
    * sample: each (event_type, day)'s k smallest-md5(event_id) rows land
    * as a parquet shard with the q242 build-slice fingerprint, and
    * quantile serving later merges ANY span of shards by re-bottom-k —
    * sound because a global bottom-k member is necessarily inside its
    * own day's bottom-k (the same associativity the KMV rollup rides;
    * spec-asserted against the single-pass q87 sample). The nightly
    * pattern at 100 TB: each day's events are read once when the shard
    * lands; every later percentile panel reads days×k rows.
    */
  def writeDailyQuantileSketches(events: DataFrame, path: String): Unit = {
    val k = 256
    // sequential for the same overwrite-vs-_fingerprint reason as
    // writeDailySketches; cross-shard overlap lives at the caller
    Scale.topKPerGroup(
      events.select($"event_type", expr(s"ts div $NsPerDay").as("day"),
        md5($"event_id".cast("string")).as("h"), $"event_id",
        round($"value", 2).as("v")),
      group = struct($"event_type", $"day"),
      rankKey = $"h", tie = $"event_id", saltSource = $"event_id", k = k)
      .select($"event_type", $"day", $"h", $"event_id", $"v")
      .write.mode("overwrite").parquet(path)
    Governance.writeFingerprint(events, Governance.eventCanonical, path)
  }

  /** Serve the q87 percentile panel from persisted day shards — no
    * event rescanned; merge = distinct + re-bottom-k per type (the
    * distinct guards idempotent shard rewrites, as in q228).
    */
  def quantilesFromSketchFiles(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): DataFrame = {
    val k = 256
    val parts = dirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    val merged = Scale.topKPerGroup(
      parts.select($"event_type", $"day", $"h", $"event_id", $"v").distinct(),
      group = $"event_type", rankKey = $"h", tie = $"event_id",
      saltSource = $"event_id", k = k)
    val nDays = parts.groupBy($"event_type")
      .agg(countDistinct($"day").as("n_days"))
    Scale.quantilePanel(merged.select($"event_type", $"v"),
        "event_type", "v", Seq(0.5 -> "p50", 0.9 -> "p90"))
      .select($"event_type", round($"p50", 4).as("p50_est"),
        round($"p90", 4).as("p90_est"))
      .join(nDays, Seq("event_type"))
      .select($"event_type", $"n_days", $"p50_est", $"p90_est")
      .orderBy($"event_type")
  }

  // ---- quantile treatment effect panel (q274) ---------------------------------

  /** Quantile treatment effect on event values (q274): per (event_type,
    * md5 arm), the median with its distribution-free order-statistic
    * 95% CI (the q271 machinery partitioned one level deeper), and the
    * median difference as the QTE point estimate — the robust
    * complement to q192's MEAN difference: a heavy-tailed metric (one
    * whale purchase) moves the mean test arbitrarily while the median
    * QTE barely notices; quoting both is the A/B readout discipline.
    * Non-overlapping per-arm CIs are the conservative significance
    * screen (stricter than a test on the difference — stated, not
    * hidden).
    *
    * Same scale shape as q271: per-(type, arm) distinct-value frames
    * with prefix counts; arms join back side-by-side on the type.
    */
  def quantileTreatmentEffect(events: DataFrame): DataFrame = {
    val perArm = medianOrderStats(
      events.select($"event_type", userArm, valueMicro.as("vm")), Seq("event_type", "arm"))
    val a0 = perArm.filter($"arm" === 0L)
      .select($"event_type", $"n".as("n0"), $"med_m".as("med_m0"),
        $"lo_m".as("lo_m0"), $"hi_m".as("hi_m0"))
    val a1 = perArm.filter($"arm" === 1L)
      .select($"event_type", $"n".as("n1"), $"med_m".as("med_m1"),
        $"lo_m".as("lo_m1"), $"hi_m".as("hi_m1"))
    a0.join(a1, Seq("event_type"))
      .select($"event_type", $"n0".as("n_a"), $"n1".as("n_b"),
        round($"med_m0" / lit(10000.0), 4).as("median_a"),
        round($"med_m1" / lit(10000.0), 4).as("median_b"),
        round(($"med_m1" - $"med_m0") / lit(10000.0), 4).as("qte"),
        round($"lo_m0" / lit(10000.0), 4).as("lo95_a"),
        round($"hi_m0" / lit(10000.0), 4).as("hi95_a"),
        round($"lo_m1" / lit(10000.0), 4).as("lo95_b"),
        round($"hi_m1" / lit(10000.0), 4).as("hi95_b"),
        ($"lo_m1" > $"hi_m0" || $"lo_m0" > $"hi_m1").as("ci_separated"))
      .orderBy($"event_type")
  }

  /** Slowly-changing-dimension type-2 history build from the event
    * stream: compress each user's event sequence to its CHANGE POINTS of
    * `event_type` and emit validity intervals — (user, state, valid_from,
    * valid_to, is_current), the warehouse-standard "as-of any time"
    * dimension shape. q81 keeps only the latest state (SCD1); this keeps
    * the full history, which is what a training-data snapshot needs to
    * reproduce "the dimension as it stood on day X".
    *
    * Change detection and interval stitching are two window passes over
    * the same (user_id → ts, event_id) sort — Catalyst reuses ONE
    * shuffle+sort for both (no exchange between them; spec-asserted), so
    * the whole build is one corpus shuffle. Validity bounds are exact
    * integer MICROSECOND epochs (`ts div 1000` — the cross-engine
    * timestamp resolution; DuckDB's parquet reader truncates nanos to
    * micros, so nano-precision bounds could never be oracle-checked);
    * the open interval's valid_to is NULL.
    */
  def scd2History(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
    val changes = events
      .select($"user_id", $"event_id", expr("ts div 1000").as("tsu"), $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(byUser))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
    changes
      .withColumn("valid_to", lead($"tsu", 1).over(byUser) - 1)
      .select($"user_id", $"event_type", $"tsu".as("valid_from"), $"valid_to",
        $"valid_to".isNull.as("is_current"))
      .orderBy($"user_id", $"valid_from")
  }

  /** First-order Markov transition matrix over the event stream: for each
    * ordered in-session event pair (same user, consecutive by (ts,
    * event_id), gap ≤ `gapSeconds` — q33's session adjacency), count
    * (type → next_type) and the conditional probability
    * P(next_type | type). The behavioral-model summary that feeds funnel
    * design and anomaly baselines (a transition whose live probability
    * drifts from this matrix is q80's sequence-level cousin).
    *
    * Shape: one shuffle on user_id for the lead() window (bounded per-key
    * state), then a map-side-combined count into a (types × types)-sized
    * frame; the per-source totals come from a window over that TINY
    * matrix, not from a second corpus pass. p is exact rational n/total
    * rounded to 4 — identical doubles on any engine.
    */
  def sessionTransitions(events: DataFrame): DataFrame = {
    val gapSeconds = 1800L
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(byUser))
      .withColumn("next_ts", lead($"ts", 1).over(byUser))
      .filter($"next_type".isNotNull &&
        ($"next_ts" - $"ts") <= gapSeconds * NsPerSecond)
    val matrix = pairs
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("n"))
    val total = Window.partitionBy($"event_type")
    matrix
      .withColumn("p", round($"n" / sum($"n").over(total), 4))
      .select($"event_type", $"next_type", $"n", $"p")
      .orderBy($"event_type", $"next_type")
  }

  /** Autocorrelation of the hourly event-count series at lags 1..24
    * (q191) — the seasonality diagnostic behind every drift monitor: a
    * daily-cycled workload shows a peak at lag 24, a flat ACF says the
    * q80/q127 baselines can ignore time-of-day. Missing hours count as 0
    * (the series is COMPLETE over [min hour, max hour] — an absent hour
    * is a real zero of the load curve, not a gap to skip).
    *
    * Determinism: on the count-series kernel's integer-centred hours y,
    * ACF(k) = Σ y_t·y_{t+k} / Σ y_t² — n²-scaled centred products, exact
    * DECIMAL sums on both engines, one rounded division at the boundary.
    * (A product of two y stays an exact long while n·max(x) < 3·10⁹ —
    * ~3 years of hours at 10⁵ events/hour; beyond that, pre-aggregate to
    * coarser buckets.)
    *
    * Scale shape: the per-hour count is the ONLY corpus-proportional
    * pass; everything downstream (the ×24 lag join and the 1-row-
    * per-lag aggregate) runs on the hours-count-sized series, 26k rows
    * for 3 years, at any event volume.
    */
  def hourlyAutocorrelation(events: DataFrame): DataFrame = {
    val y = centred(zeroFilled(bucketCounts(events, NsPerHour, Nil), "c"), "c")
    val den = y.agg(sum(dec($"y_c" * $"y_c")).as("den"))
    lagProducts(y, "y_c", "y_c", 1, 24)
      .crossJoin(broadcast(den))
      .select($"lag".cast("int").as("lag"), $"n_pairs",
        // a perfectly constant series has zero centered energy: ACF is
        // undefined there — null, not an ANSI divide-by-zero crash in
        // the nightly monitor (the abValueTest cold-start discipline)
        when($"den" > 0L, round($"num".cast("double") / $"den".cast("double"), 6))
          .as("acf"))
      .orderBy($"lag")
  }

  /** Newey–West (HAC) standard error for the daily-count mean (q277;
    * Newey & West 1987, Bartlett kernel, lag window L = 7): a
    * positively autocorrelated series — exactly what q191 measures on
    * this stream — makes the naive s/√T overstate the information in T
    * days, and every "daily volume is up, z = 3" readout built on it
    * overclaims. The HAC variance
    * Var(x̄) = (γ̂₀ + 2Σ_{l≤L}(1−l/(L+1))·γ̂_l)/T is PSD by the Bartlett
    * weights, and the se ratio is the honesty factor to apply.
    *
    * Exact arithmetic end-to-end on the count-series kernel's zero-filled,
    * integer-centred days y_t = T·x_t − S: its lag products Σy_t·y_{t+l}
    * are exact DECIMAL sums, and the Bartlett weights are cleared of
    * fractions by multiplying through by (L+1):
    * intNum = (L+1)·num₀ + 2·Σ(L+1−l)·num_l, so
    * Var_NW(x̄) = intNum/((L+1)·T⁴) with ONE double division chain. One
    * day has no sample variance: se_naive and se_ratio are null there.
    */
  def neweyWestSe(events: DataFrame): DataFrame = {
    val maxLag = 7
    val series = zeroFilled(dailyCounts(events), "c")
      .localCheckpoint() // ROADMAP item 4 (c): the stats pass and both lag-join sides read it
    val y = centred(series, "c")
    val num0 = y.agg(max($"n").as("n"), max($"s_c").as("s"),
      sum(dec($"y_c" * $"y_c")).as("num0"))
    val numL = lagProducts(y, "y_c", "y_c", 1, maxLag)
      .agg(sum(dec(lit(2L * (maxLag + 1)) * $"num" - lit(2L) * $"lag" * $"num"))
        .as("wsum"))
    val joined = num0.crossJoin(broadcast(numL))
    val td = $"n".cast("double")
    val l1 = lit((maxLag + 1).toDouble)
    val varNaive = when($"n" > 1L, $"num0".cast("double") / (td * td * ($"n" - 1L)) / td)
    val varNw = greatest(
      (lit((maxLag + 1).toDouble) * $"num0".cast("double")
        + $"wsum".cast("double")) / (l1 * td * td * td * td), lit(0.0))
    joined.select($"n".as("n_days"),
      round($"s".cast("double") / $"n", 4).as("mean_per_day"),
      round(sqrt(varNaive), 6).as("se_naive"),
      round(sqrt(varNw), 6).as("se_nw"),
      when(sqrt(varNaive) > 0.0,
        round(sqrt(varNw) / sqrt(varNaive), 4)).as("se_ratio"))
  }

  /** Two-sample A/B significance test on a value metric (q192): split
    * USERS 50/50 by the deterministic md5 arm draw (`Scale.md5SlicePos`
    * parity — the same coin every sampling operator here flips) and
    * Welch-z-test the arms' purchase values ("average order value"). On
    * the fixture the split is a true A/A (no treatment exists), so |z|
    * should sit inside the 1.96 line — which is itself the test's
    * calibration check; the operator is the experiment-analysis endpoint
    * a feature-rollout pipeline runs daily.
    * (A binary-conversion variant would be the natural twin, but the
    * fixture converts EVERY user — the value metric is the one with
    * variance to test.)
    *
    * Determinism: values quantize to exact integer micro-units
    * (round(value·10⁴) — the q179 moment discipline), so n/Σv/Σv² are
    * engine-exact longs and the mean/variance/z doubles evaluate the
    * SAME expression tree on both engines. (Long bound: Σv² stays exact
    * below ~10⁶ events per arm at the fixture's value scale ×10⁴; at
    * larger n, bucket first or widen the moments to decimal. The bound
    * is ENFORCED, not just documented: the session runs ANSI mode
    * (Spark 4 default), where both the per-row vm² multiply and the
    * long Sum throw ARITHMETIC_OVERFLOW instead of wrapping — an
    * oversized feed fails loudly rather than yielding a wrong z;
    * spec-asserted with an overflowing synthetic feed.)
    *
    * Scale shape: rides [[msprtArmMoments]], one filtered scan into a
    * 1-row conditional moment aggregate (map-side combined); the arm
    * column is a scalar md5 of the row's own user_id — no user table, no
    * join, nothing corpus-proportional after the scan.
    */
  def abValueTest(events: DataFrame): DataFrame = {
    val mA = mean($"s1_a", $"n_a"); val mB = mean($"s1_b", $"n_b")
    val vA = svar($"s1_a", $"s2_a", $"n_a"); val vB = svar($"s1_b", $"s2_b", $"n_b")
    // degenerate-input guards (n<2 in an arm, or zero pooled variance):
    // null instead of an ANSI divide-by-zero throw, so a tiny input or
    // one whose users all hash into a single arm still returns its one
    // row; never triggered on the fixture corpus
    msprtArmMoments(events).select(
      $"n_a", $"n_b",
      when($"n_a" > 0L, round(mA / 1e4, 4)).as("mean_a"),
      when($"n_b" > 0L, round(mB / 1e4, 4)).as("mean_b"),
      when($"n_a" >= 2L && $"n_b" >= 2L && (vA + vB) > 0.0,
        round((mA - mB) / sqrt(welchSe2), 4)).as("z_score"))
  }

  /** The one signup→purchase conversion of q222, q235 and q281: every
    * signed-up user's first signup `s_ts`, and for the users who convert,
    * `lat_ns` from it to their first purchase strictly after it — a
    * purchase at the signup instant does not count.
    */
  private def conversions(events: DataFrame): (DataFrame, DataFrame) = {
    val signups = events.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("s_ts"))
    val converted = events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts")
      .join(signups, Seq("user_id"))
      .filter($"ts" > $"s_ts")
      .groupBy($"user_id").agg(min($"ts" - $"s_ts").as("lat_ns"))
    (signups, converted)
  }

  /** Per-user time to conversion of q235/q281: every signed-up user with
    * t, the whole days from its first signup to its first later purchase,
    * or, with no purchase by the corpus frontier (max ts), to the frontier,
    * censored; `churned` is 1 for a conversion and 0 for a censored user.
    */
  private def timeToConversion(events: DataFrame): DataFrame = {
    val (signups, converted) = conversions(events)
    val mx = events.agg(max($"ts").as("mx"))
    signups
      .join(converted, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(mx))
      .select($"user_id",
        when($"lat_ns".isNotNull, expr(s"lat_ns div $NsPerDay"))
          .otherwise(expr(s"(mx - s_ts) div $NsPerDay")).as("t"),
        $"lat_ns".isNotNull.cast("long").as("churned"))
  }

  /** Kaplan–Meier time-to-conversion curve (q235; Kaplan & Meier 1958 —
    * the product-limit estimator): S(t) = P(still unconverted t days
    * after signup), over each user's first signup → first subsequent
    * purchase. The KM machinery exists precisely for the users q222's
    * latency percentiles silently drop: a signup with NO purchase by the
    * corpus frontier is CENSORED at (frontier − signup) — their
    * conversion time is a lower bound, and ignoring them biases any
    * latency summary optimistic. Per distinct day t: the at-risk count
    * (suffix sum — censored users count as at-risk through their
    * censoring time, the KM convention), conversion/censor counts, and
    * S(t) = Π_{t_i≤t} (1 − d_i/n_i).
    *
    * Determinism: the running product goes through quantized logs — each
    * factor's ln is rounded to integer micro-units, the cumulative sum
    * over the ordered day frame is exact long arithmetic (order-free),
    * and ONE exp renders each row (the q90 discipline applied to
    * products). A day where everyone at risk converts drives S to
    * exactly 0 from there on (the zero flag, not ln(0)). Shape: two
    * per-user min-aggregates (map-side combined), then all windows run
    * over the bounded distinct-day frame — days, not users, wide.
    */
  def survivalCurve(events: DataFrame): DataFrame = {
    val byT = timeToConversion(events).groupBy($"t")
      .agg(count(lit(1)).as("n_t"), sum($"churned").as("d"))
    val wOrd = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = byT.agg(sum($"n_t").as("tot"))
    byT.crossJoin(broadcast(total))
      .withColumn("at_risk",
        $"tot" - coalesce(sum($"n_t").over(wPrev), lit(0L)))
      .withColumn("l6", when($"d" < $"at_risk",
        round(log(($"at_risk" - $"d").cast("double") / $"at_risk") * 1e6, 0)
          .cast("long")))
      .withColumn("zeros",
        sum(when($"d" >= $"at_risk", 1L).otherwise(0L)).over(wOrd))
      .withColumn("ls", sum(coalesce($"l6", lit(0L))).over(wOrd))
      .select($"t".as("t_days"), $"at_risk", $"d".as("n_converted"),
        ($"n_t" - $"d").as("n_censored"),
        when($"zeros" > 0L, lit(0.0))
          .otherwise(round(exp($"ls" / 1e6), 4)).as("survival"))
      .orderBy($"t_days")
  }

  /** Two-arm log-rank test on time-to-conversion (q281; Mantel 1966 —
    * the standard censoring-aware survival comparison): does the md5
    * arm coin (q192/q232's split) change conversion latency? q235's
    * Kaplan–Meier DESCRIBES each curve; the log-rank test is how two
    * curves are COMPARED — the mean-latency z (q192) is biased by
    * exactly the censored users KM exists to keep, so this is the
    * correct A/B readout for a time-to-event metric.
    *
    * At each distinct leave-time t (conversion or censor): d_t total
    * conversions, r_t/r_at at-risk counts (suffix sums over the
    * bounded day frame, q235's at-risk convention — censored users
    * count through their censoring day). Hypergeometric terms per
    * conversion time: e_a = d·r_a/r and
    * v = d·(r−d)·r_a·(r−r_a)/(r²·(r−1)) for r ≥ 2. z = (O−E)/√V,
    * χ² = z², two-sided p via the A&S tail.
    *
    * Determinism: O, d, r counts are exact longs; e and v are
    * micro-quantized PER TIME before the cross-time sum (the q245
    * discipline — a raw double sum over the day frame would be
    * partition-order-dependent); one boundary division and one sqrt
    * render z. Shape: two per-user min-aggregates (map-side combined),
    * a per-(t) counts frame with per-arm columns, windows over the
    * bounded distinct-day frame, then a 1-row finisher — nothing
    * corpus-proportional after the user aggregate.
    */
  def logrankTest(events: DataFrame): DataFrame = {
    val byT = timeToConversion(events).select(userArm, $"t", $"churned")
      .groupBy($"t")
      .agg(count(lit(1)).as("n_t"), sum($"churned").as("d"),
        armSum(0L, lit(1L)).as("n_ta"), armSum(0L, $"churned").as("d_a"))
    val wPrev = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = byT.agg(sum($"n_t").as("tot"), sum($"n_ta").as("tot_a"))
    val terms = byT.crossJoin(broadcast(tot))
      .withColumn("r", $"tot" - coalesce(sum($"n_t").over(wPrev), lit(0L)))
      .withColumn("r_a", $"tot_a" - coalesce(sum($"n_ta").over(wPrev), lit(0L)))
      .withColumn("e6", when($"d" >= 1L,
        round($"d".cast("double") * $"r_a" / $"r" * 1e6, 0).cast("long"))
        .otherwise(0L))
      .withColumn("v6", when($"d" >= 1L && $"r" >= 2L,
        round($"d".cast("double") * ($"r" - $"d") * $"r_a" * ($"r" - $"r_a")
          / ($"r".cast("double") * $"r" * ($"r" - 1L)) * 1e6, 0).cast("long"))
        .otherwise(0L))
    val m = terms.agg(
      sum($"d_a").as("o_a"), sum($"e6").as("se6"), sum($"v6").as("sv6"),
      max($"tot_a").as("n_a"), max($"tot" - $"tot_a").as("n_b"))
    val z = ($"o_a" - $"se6" / 1e6) / sqrt($"sv6" / 1e6)
    m.select($"n_a", $"n_b", $"o_a".as("observed_a"),
      round($"se6" / 1e6, 4).as("expected_a"),
      round($"sv6" / 1e6, 4).as("variance"),
      when($"sv6" > 0L, round(z, 4)).as("z_logrank"),
      when($"sv6" > 0L, round(z * z, 4)).as("chi2"),
      when($"sv6" > 0L,
        round(least(lit(2.0) * Inference.upperTail(abs(z)), lit(1.0)), 6))
        .as("p_value"))
  }

  /** Delta-method ratio-metric A/B readout (q282; Deng, Knoblich & Lu
    * 2018 — the experimentation-platform standard for ratio metrics):
    * revenue-per-click R = Σy_u/Σx_u is a ratio of SUMS whose
    * denominator unit (click) differs from the randomization unit
    * (user) — treating clicks as i.i.d. observations understates the
    * variance whenever per-user click counts and revenues co-vary (the
    * classic ratio-metric bug). The delta method linearizes R around
    * (ȳ, x̄): Var(R) ≈ (s_yy − 2R·s_yx + R²·s_xx)/(n·x̄²), with all
    * (co)variances over PER-USER totals — user-clustered by
    * construction. Per arm, then z on the difference.
    *
    * Determinism: per-user (y, x) are exact longs (y micro-units);
    * second moments MULTIPLY AS DECIMAL(38,0) before summing (the q296
    * posture — dec(y)·dec(y) has no per-user ceiling, where a long·long
    * product would abort under ANSI past ~3·10⁹ micro-units; the
    * oracle mirrors with HUGEINT-before-multiply); the finisher's
    * double expressions mirror the oracle operation-for-operation. Shape: ONE corpus scan into a per-user
    * aggregate (map-side combined; the all-events groupBy means
    * signup-only users enter as (0,0) — the full randomization
    * universe, no second distinct pass), then a 1-row moment
    * aggregate.
    */
  def ratioMetricDelta(events: DataFrame): DataFrame = {
    val perUser = events.groupBy($"user_id").agg(
      sum(when($"event_type" === "purchase", valueMicro).otherwise(0L)).as("y"),
      sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"))
    val um = perUser.select(userArm, $"y", $"x")
    // second moments multiply as DECIMAL so no per-user total can
    // overflow the product (long·long would throw under ANSI)
    val m = um.agg(
      armSum(0L, lit(1L)).as("n_a"), armSum(0L, $"y").as("sy_a"), armSum(0L, $"x").as("sx_a"),
      armSum(0L, dec($"y") * dec($"y")).as("syy_a"),
      armSum(0L, dec($"x") * dec($"x")).as("sxx_a"),
      armSum(0L, dec($"x") * dec($"y")).as("sxy_a"),
      armSum(1L, lit(1L)).as("n_b"), armSum(1L, $"y").as("sy_b"), armSum(1L, $"x").as("sx_b"),
      armSum(1L, dec($"y") * dec($"y")).as("syy_b"),
      armSum(1L, dec($"x") * dec($"x")).as("sxx_b"),
      armSum(1L, dec($"x") * dec($"y")).as("sxy_b"))
    def varR(n: Column, sy: Column, sx: Column, syy: Column, sxx: Column,
        sxy: Column): Column = {
      val r = sy.cast("double") / sx.cast("double")
      val xbar = sx.cast("double") / n.cast("double")
      (scov(sy, sy, syy, n) - lit(2.0) * r * scov(sx, sy, sxy, n)
        + r * r * scov(sx, sx, sxx, n)) / (n.cast("double") * xbar * xbar)
    }
    val rA = $"sy_a".cast("double") / $"sx_a".cast("double")
    val rB = $"sy_b".cast("double") / $"sx_b".cast("double")
    val vA = varR($"n_a", $"sy_a", $"sx_a", $"syy_a", $"sxx_a", $"sxy_a")
    val vB = varR($"n_b", $"sy_b", $"sx_b", $"syy_b", $"sxx_b", $"sxy_b")
    val ok = $"n_a" >= 2L && $"n_b" >= 2L && $"sx_a" > 0L && $"sx_b" > 0L
    val z = (rB - rA) / sqrt(vA + vB)
    m.select($"n_a", $"n_b",
      when($"sx_a" > 0L, round(rA / 1e4, 6)).as("ratio_a"),
      when($"sx_b" > 0L, round(rB / 1e4, 6)).as("ratio_b"),
      when(ok, round((rB - rA) / 1e4, 6)).as("diff"),
      when(ok && (vA + vB) > 0.0, round(sqrt(vA + vB) / 1e4, 6)).as("se"),
      when(ok && (vA + vB) > 0.0, round(z, 4)).as("z_score"),
      when(ok && (vA + vB) > 0.0,
        round(least(lit(2.0) * Inference.upperTail(abs(z)), lit(1.0)), 6))
        .as("p_value"))
  }

  /** CUPED variance-reduced A/B readout (q232; Deng, Xu, Kohavi &
    * Walker 2013 — the experimentation-platform standard): per-user
    * PRE-experiment purchase value (the covariate X, days before the
    * corpus midpoint) explains away user-level variance in the
    * experiment metric Y (post-midpoint purchase value), via
    * Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X) pooled over both arms.
    * Same deterministic md5 arm coin as q192; the fixture is a true
    * A/A, so the CUPED z stays inside the 1.96 line while the variance
    * reduction shows the method's power (pre/post value correlates per
    * user). Reports both raw and adjusted means/z plus θ and the
    * achieved variance reduction — the panel a rollout dashboard shows.
    *
    * Determinism: per-user X/Y are exact micro-unit longs; all second
    * moments are per-row LONG products (bounded by ~3·10⁹ micro-units
    * per user per period — ANSI throws loudly beyond, the q192
    * posture) summed in DECIMAL(38,0), so every input to the final
    *1-row finisher is engine-exact; the double expressions mirror the
    * oracle operation-for-operation. Shape: one corpus scan into the
    * [[prePostUsers]] panel (a per-user agg, map-side combined, over one
    * distinct-user frame), then a 1-row moment aggregate — nothing
    * corpus-proportional afterwards.
    */
  def cupedAbTest(events: DataFrame): DataFrame = {
    val m = prePostUsers(events).agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum(dec($"x" * $"y")).as("sxy"), sum(dec($"x" * $"x")).as("sxx"),
      armSum(0L, lit(1L)).as("n_a"), armSum(0L, $"x").as("sx_a"),
      armSum(0L, $"y").as("sy_a"), armSum(0L, dec($"x" * $"x")).as("sxx_a"),
      armSum(0L, dec($"y" * $"y")).as("syy_a"), armSum(0L, dec($"x" * $"y")).as("sxy_a"),
      armSum(1L, lit(1L)).as("n_b"), armSum(1L, $"x").as("sx_b"),
      armSum(1L, $"y").as("sy_b"), armSum(1L, dec($"x" * $"x")).as("sxx_b"),
      armSum(1L, dec($"y" * $"y")).as("syy_b"), armSum(1L, dec($"x" * $"y")).as("sxy_b"))
    val theta = when(
      (dec($"n") * $"sxx" - dec($"sx") * dec($"sx")).cast("double") > 0.0,
      (dec($"n") * $"sxy" - dec($"sx") * dec($"sy")).cast("double") /
        (dec($"n") * $"sxx" - dec($"sx") * dec($"sx")).cast("double"))
    val xbar = mean($"sx", $"n")
    val (mA, mB) = (mean($"sy_a", $"n_a"), mean($"sy_b", $"n_b"))
    val (vA, vB) = (svar($"sy_a", $"syy_a", $"n_a"), svar($"sy_b", $"syy_b", $"n_b"))
    val (vxA, vxB) = (svar($"sx_a", $"sxx_a", $"n_a"), svar($"sx_b", $"sxx_b", $"n_b"))
    val cA = scov($"sx_a", $"sy_a", $"sxy_a", $"n_a")
    val cB = scov($"sx_b", $"sy_b", $"sxy_b", $"n_b")
    val thc = col("th")
    val mAdjA = mA - thc * (mean($"sx_a", $"n_a") - xbar)
    val mAdjB = mB - thc * (mean($"sx_b", $"n_b") - xbar)
    val vAdjA = vA - lit(2.0) * thc * cA + thc * thc * vxA
    val vAdjB = vB - lit(2.0) * thc * cB + thc * thc * vxB
    m.withColumn("th", theta).select(
      $"n_a", $"n_b", round(thc, 6).as("theta"),
      when($"n_a" > 0L, round(mA / 1e4, 4)).as("mean_a"),
      when($"n_b" > 0L, round(mB / 1e4, 4)).as("mean_b"),
      when($"n_a" > 0L && thc.isNotNull, round(mAdjA / 1e4, 4)).as("mean_a_adj"),
      when($"n_b" > 0L && thc.isNotNull, round(mAdjB / 1e4, 4)).as("mean_b_adj"),
      when($"n_a" >= 2L && $"n_b" >= 2L && (vA + vB) > 0.0,
        round((mA - mB) / sqrt(vA / $"n_a" + vB / $"n_b"), 4)).as("z_raw"),
      when($"n_a" >= 2L && $"n_b" >= 2L && thc.isNotNull &&
          (vAdjA + vAdjB) > 0.0,
        round((mAdjA - mAdjB) / sqrt(vAdjA / $"n_a" + vAdjB / $"n_b"), 4))
        .as("z_cuped"),
      when($"n_a" >= 2L && $"n_b" >= 2L && thc.isNotNull && (vA + vB) > 0.0,
        round(lit(1.0) - (vAdjA + vAdjB) / (vA + vB), 4)).as("var_reduction"))
  }

  /** Always-valid A/B monitor via the mixture SPRT (q237; Johari,
    * Koomen, Pekelis & Walsh 2017 — the "peeking problem" fix every
    * experimentation platform ships): q192's fixed-horizon z is only
    * valid if you look ONCE; a dashboard that checks daily inflates
    * false positives severalfold. The mSPRT likelihood ratio
    * Λ = √(se²/(se²+τ²)) · exp(θ̂²τ²/(2se²(se²+τ²))) with a normal
    * mixture prior of width τ gives p = min(1, 1/Λ) that is valid at
    * EVERY look simultaneously — monitor continuously, stop whenever
    * p < α. Same deterministic md5 arms and exact integer micro-unit
    * moments as q192 (one conditional-moment aggregate, nothing
    * corpus-proportional after the scan); θ̂/se²/Λ evaluate one mirrored
    * double expression tree, and the Λ formula is scale-invariant so the
    * micro-unit τ is exact. On the A/A fixture the always-valid p sits
    * at/near 1 — the monitor correctly refuses to stop.
    */
  def msprtMonitor(events: DataFrame): DataFrame = {
    val tauMicro = 50000.0
    val th = mean($"s1_b", $"n_b") - mean($"s1_a", $"n_a")
    val se2 = welchSe2
    val t2 = lit(tauMicro * tauMicro)
    val lam = sqrt(se2 / (se2 + t2)) *
      exp(th * th * t2 / (lit(2.0) * se2 * (se2 + t2)))
    msprtArmMoments(events).select(
      $"n_a", $"n_b",
      // guarded like se/lambda/p: an empty arm must render NULL on BOTH
      // engines (Spark nulls a zero-divisor double division, DuckDB
      // does not), not lean on the fixture always populating both arms
      when($"n_a" >= 1L && $"n_b" >= 1L,
        round(th / 1e4, 4)).as("theta_hat"),
      when($"n_a" >= 2L && $"n_b" >= 2L && se2 > 0.0,
        round(sqrt(se2) / 1e4, 4)).as("se"),
      when($"n_a" >= 2L && $"n_b" >= 2L && se2 > 0.0,
        round(lam, 4)).as("lambda"),
      when($"n_a" >= 2L && $"n_b" >= 2L && se2 > 0.0,
        round(least(lit(1.0), lit(1.0) / lam), 4)).as("p_always_valid"))
  }

  /** Minimal detectable effect for the q192 A/B design (q279): given
    * the CURRENT arm sizes and variances, the smallest true lift a
    * two-sided α = 0.05 test detects with 80% power is
    * MDE = (z_{α/2} + z_β)·√(s²_a/n_a + s²_b/n_b) = 2.8016·se — the
    * experiment-PLANNING readout beside q192's verdict and q237's
    * monitor: "keep running, or is this test too small to ever see the
    * effect we care about?". Rides [[msprtArmMoments]] (the shared
    * exact integer arm moments); z constants are literals (1.96 and
    * 0.8416, the standard normal 97.5% and 80% points), one double
    * expression renders the absolute and relative MDE.
    */
  def mdeReadout(events: DataFrame): DataFrame = {
    val se = sqrt(welchSe2)
    // 2.8016 = z_{0.025} + z_{0.20} as ONE literal (a double sum of the
    // two constants can differ from the parsed literal by an ulp)
    val mde = lit(2.8016) * se
    val pooledMean = mean($"s1_a" + $"s1_b", $"n_a" + $"n_b")
    msprtArmMoments(events).select($"n_a", $"n_b",
      when($"n_a" > 1L && $"n_b" > 1L, round(se / 10000.0, 4)).as("se"),
      when($"n_a" > 1L && $"n_b" > 1L, round(mde / 10000.0, 4)).as("mde_abs"),
      when($"n_a" > 1L && $"n_b" > 1L && pooledMean > 0.0,
        round(mde / pooledMean, 6)).as("mde_rel"))
  }

  /** TOST equivalence test on the A/B arm means (q283; Schuirmann 1987
    * — two one-sided tests, the regulatory-standard equivalence
    * procedure): a non-significant q192 z is NOT evidence of no effect
    * (absence of evidence); to CLAIM "the arms are the same to within
    * ±δ" both one-sided nulls diff ≤ −δ and diff ≥ +δ must be
    * rejected. The margin is relative — δ = 5% of the pooled mean (the
    * conventional bioequivalence-style band) — so the readout is
    * corpus-scale-free. p_tost = max(p_lower, p_upper); equivalence is
    * declared at α = 0.05. The launch-decision companion to q279's MDE:
    * MDE says what the design COULD see, TOST says what the data DID
    * rule out.
    *
    * Rides [[msprtArmMoments]] (the shared exact integer arm moments);
    * the signed normal tail dispatches on sign around the A&S x ≥ 0
    * kernel, mirrored as the same CASE in the oracle. One corpus scan,
    * 1-row finisher.
    */
  def tostEquivalence(events: DataFrame): DataFrame = {
    def tail(x: Column): Column =
      when(x >= 0.0, Inference.upperTail(x))
        .otherwise(lit(1.0) - Inference.upperTail(-x))
    val ok = $"n_a" >= 2L && $"n_b" >= 2L
    val tested = ok && $"se" > 0.0
    // One projection per shared term, each computed once under the guard
    // its outputs carry. Inlined into a single projection, every use of
    // z and p re-expands the whole tree (CASE branches defeat
    // subexpression elimination) and the generated method outgrows
    // Janino's 64 KB limit, which drops the stage to interpreted
    // evaluation.
    msprtArmMoments(events)
      .select($"n_a", $"n_b",
        when($"n_a" >= 1L, mean($"s1_a", $"n_a")).as("m_a"),
        when($"n_b" >= 1L, mean($"s1_b", $"n_b")).as("m_b"),
        when(ok, sqrt(welchSe2)).as("se"),
        when(ok, lit(0.05) * mean($"s1_a" + $"s1_b", $"n_a" + $"n_b")).as("delta"))
      .withColumn("diff", $"m_b" - $"m_a")
      .withColumn("z_l", when(tested, ($"diff" + $"delta") / $"se"))
      .withColumn("z_u", when(tested, ($"delta" - $"diff") / $"se"))
      .withColumn("p", greatest(tail($"z_l"), tail($"z_u")))
      .select($"n_a", $"n_b",
        round($"m_a" / 1e4, 4).as("mean_a"),
        round($"m_b" / 1e4, 4).as("mean_b"),
        when(ok, round($"diff" / 1e4, 4)).as("diff"),
        round($"delta" / 1e4, 4).as("margin"),
        when(tested, round($"se" / 1e4, 4)).as("se"),
        round($"z_l", 4).as("z_lower"),
        round($"z_u", 4).as("z_upper"),
        round($"p", 6).as("p_tost"),
        ($"p" < 0.05).as("equivalent"))
  }

  /** Hill tail-index estimator on the purchase-value distribution
    * (q285; Hill 1975 — the standard heavy-tail diagnostic):
    * 1/α̂ = (1/k)·Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top-k order
    * statistics. α answers the question every mean-based readout in
    * the repo (q192's z, q232's CUPED) silently assumes away: does the
    * metric even HAVE a finite variance (α > 2)? An α ≤ 2 verdict is
    * the signal to switch to q274's quantile treatment effect.
    * k = ⌈√n⌉ — corpus-derived (the q243 auto-dial discipline, and the
    * classic bias/variance compromise for Hill), never a fixed dial.
    *
    * Order statistics WITHOUT a corpus sort: the distinct-VALUE frame
    * with counts (the q247/q271 device) — a descending cumulative
    * count assigns each distinct value its order-stat range, the top-k
    * weight is the exact integer overlap with [1, k], and x_(k+1) is
    * the first value whose cumulative count passes k. Per-value ln is
    * micro-quantized BEFORE the weighted sum (exact long arithmetic,
    * order-free); one boundary division renders 1/α̂. Shape: one
    * corpus scan into the value frame; every window runs over distinct
    * values, not rows.
    */
  def hillTailIndex(events: DataFrame): DataFrame = {
    val byV = events.filter($"event_type" === "purchase")
      .select(valueMicro.as("vm"))
      .groupBy($"vm").agg(count(lit(1)).as("c"))
      .filter($"vm" >= 1L)
    val tot = byV.agg(sum($"c").as("n"))
    val w = Window.orderBy($"vm".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t2 = byV.crossJoin(broadcast(tot))
      .withColumn("k", ceil(sqrt($"n".cast("double"))).cast("long"))
      .withColumn("cum", sum($"c").over(w))
      .withColumn("l6", round(log($"vm".cast("double")) * 1e6, 0).cast("long"))
      .withColumn("wk",
        greatest(lit(0L), least($"cum", $"k") - ($"cum" - $"c")))
    val m = t2.agg(
      max($"n").as("n_pos"), max($"k").as("k"),
      sum($"wk" * $"l6").as("s6"),
      max(when($"cum" >= $"k" + 1L, $"vm")).as("vm_k1"),
      max(when($"cum" >= $"k" + 1L, $"l6")).as("l6_k1"))
    val invA = ($"s6" - $"k" * $"l6_k1") / 1e6 / $"k"
    m.select($"n_pos", $"k",
      when($"vm_k1".isNotNull, round($"vm_k1" / 1e4, 4)).as("threshold"),
      when($"vm_k1".isNotNull, round(invA, 6)).as("inv_alpha"),
      when($"vm_k1".isNotNull && ($"s6" - $"k" * $"l6_k1") > 0L,
        round(lit(1.0) / invA, 4)).as("alpha"))
  }

  /** Stationary distribution of the session-transition chain (q286):
    * where does a user's session RESIDE in the long run? q123's matrix
    * gives one-step behavior; the stationary π (πP = π) is its
    * long-run summary — the weight a steady-state dashboard or a
    * random-surfer baseline assigns each event type. Computed by power
    * iteration with EXACT integer arithmetic: the state is a
    * 1e9-scaled integer vector, each step's term is the half-up
    * rounded integer (2·s·c + r) div (2·r) summed per destination —
    * no float enters until the final normalization, so the driver loop
    * and the oracle's unrolled CTE chain (the q143 device) agree
    * bit-for-bit with no association-order concern. 24 iterations:
    * convergence is geometric in the spectral gap, and the output
    * carries the step-25 residual max_i |s₂₅(i) − s₂₄(i)|/1e9 as a
    * `residual` column — a slowly mixing chain on OTHER data is
    * visible in the result itself (non-zero residual), not just
    * asserted on the test fixture, while the GATE is exact equality
    * of the iterate (a non-converged chain would still match).
    *
    * The state space is the types observed as transition SOURCES; the
    * chain must be closed over them (every destination also a source)
    * — a dead-end type fails loudly rather than silently leaking mass.
    * Scale shape: one user_id shuffle for the lead() window, a
    * map-side-combined count into the (types × types) matrix, then a
    * DRIVER loop over that bounded frame (the q233 EM-state pattern:
    * |T|² scalars, never corpus rows).
    */
  def markovStationary(events: DataFrame): DataFrame =
    markovStationaryFromCounts(events.sparkSession, collectTransitionCounts(events, 1800L))

  /** The q123/q286/q293 in-session transition counts, collected to the
    * driver as (src, dst, count) — one extraction, every Markov
    * consumer (a gap-semantics change here moves all their gates
    * together instead of silently desynchronizing one copy).
    */
  private def collectTransitionCounts(events: DataFrame,
      gapSeconds: Long): Seq[(String, String, Long)] = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(byUser))
      .withColumn("next_ts", lead($"ts", 1).over(byUser))
      .filter($"next_type".isNotNull &&
        ($"next_ts" - $"ts") <= gapSeconds * NsPerSecond)
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
  }

  /** The shared q286/q293 driver state: sorted source types, the exact
    * count matrix and row sums, the 1e9-scaled integer stationary
    * iterate after `iters` half-up power steps, and the CONVERGENCE
    * RESIDUAL max_i |s_{iters+1}(i) − s_iters(i)| on the same 1e9
    * scale — a slowly mixing chain returns a visible non-zero residual
    * instead of silently shipping a non-converged π.
    */
  private def markovState(matrix: Seq[(String, String, Long)], iters: Int)
      : (Seq[String], Array[Array[Long]], Array[Long], Array[Long], Long) = {
    val sources = matrix.map(_._1).distinct.sorted
    val dead = matrix.map(_._2).distinct.filterNot(sources.contains)
    require(dead.isEmpty,
      s"markovStationary: chain not closed — dead-end destination(s) ${dead.mkString(", ")}")
    val idx = sources.zipWithIndex.toMap
    val m = sources.length
    val c = Array.ofDim[Long](m, m)
    matrix.foreach { case (s, d, n) => c(idx(s))(idx(d)) = n }
    val r = (0 until m).map(i => (0 until m).map(j => c(i)(j)).sum).toArray
    def step(v: Array[Long]): Array[Long] = {
      val s2 = Array.fill(m)(BigInt(0))
      for (i <- 0 until m; j <- 0 until m if c(i)(j) > 0L)
        s2(j) += (BigInt(2) * v(i) * c(i)(j) + r(i)) / (BigInt(2) * r(i))
      s2.map(_.toLong)
    }
    var s = Array.fill(m)(1000000000L / m)
    for (_ <- 1 to iters) s = step(s)
    val sNext = step(s)
    val resid9 = (0 until m).map(i => math.abs(sNext(i) - s(i))).max
    (sources, c, r, s, resid9)
  }

  /** Finish the q286 stationary distribution from a (src, dst, count)
    * transition-count matrix — split from [[markovStationary]] so a spec
    * can drive it with a hand-built chain (InferenceSpec's slowly mixing
    * chain, whose non-zero residual the fixture cannot produce).
    */
  def markovStationaryFromCounts(spark: org.apache.spark.sql.SparkSession,
      matrix: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val (sources, _, r, s, resid9) = markovState(matrix, 24)
    val tot = s.sum
    // residual = max_i |one more power step − s| on the 1e9 scale: a
    // slowly mixing chain is VISIBLE in the output (non-zero residual),
    // not just asserted on the test fixture. resid9 < 1e9 so the
    // division is one exact int→double conversion + one IEEE divide —
    // identical in both engines, no round() needed.
    val residual = resid9.toDouble / 1e9
    sources.zipWithIndex.toSeq.map { case (t, i) =>
      (t, r(i),
        java.math.BigDecimal.valueOf(s(i).toDouble / tot.toDouble)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(),
        residual)
    }.toDF("event_type", "n_out", "pi", "residual").orderBy($"event_type")
  }

  /** Entropy rate of the session-transition chain (q293; Shannon's
    * H = Σᵢ πᵢ Σⱼ pᵢⱼ log₂(1/pᵢⱼ), bits per step): HOW PREDICTABLE is
    * the next user action given the current one — the single-number
    * ceiling on any next-event recommender, beside q286's "where does
    * the session live" and q123's raw matrix. Also emits each state's
    * conditional entropy and the normalized predictability
    * 1 − H/log₂(m) (0 = uniform chaos, 1 = deterministic paths).
    *
    * Determinism: rides q286's EXACT integer state (counts, row sums,
    * the 1e9 stationary iterate). Per-cell entropy terms quantize to
    * 1e-9 BEFORE any sum ((c/r)·ln(r/c)·log₂e — ln is the one libm
    * call, the q235/q285 per-term-quantized posture); the rate couples
    * π to the per-state sums by HALF-UP INTEGER DIVISION
    * (2·sᵢ·h9ᵢ + tot) div (2·tot) in BigInt — no float ordering
    * anywhere. Oracle = the q286 unrolled chain plus one per-cell
    * projection and the same integer couplings.
    */
  def markovEntropyRate(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val (sources, c, r, s, _) =
      markovState(collectTransitionCounts(events, 1800L), 24)
    val m = sources.length
    val tot = s.sum
    val invLn2 = 1.4426950408889634
    val h9 = (0 until m).map { i =>
      (0 until m).map { j =>
        if (c(i)(j) > 0L && c(i)(j) < r(i))
          math.round(c(i)(j).toDouble / r(i) *
            math.log(r(i).toDouble / c(i)(j)) * invLn2 * 1e9)
        else 0L // a certain (p=1) or absent transition carries 0 bits
      }.sum
    }
    val rate9 = (0 until m).map { i =>
      ((BigInt(2) * s(i) * h9(i) + tot) / (BigInt(2) * tot)).toLong
    }.sum
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val hMax = math.log(m.toDouble) * invLn2
    // m = 1: a single-state chain is trivially 0 bits but 0/0-normalized
    // — predictability is NULL, not a NaN crash (mirrored in the oracle)
    val pred: Option[Double] =
      if (m >= 2) Some(r6(1.0 - rate9 / 1e9 / hMax)) else None
    sources.zipWithIndex.toSeq.map { case (t, i) =>
      (t, r6(s(i).toDouble / tot.toDouble), r6(h9(i) / 1e9),
        r6(rate9 / 1e9), pred)
    }.toDF("event_type", "pi", "h_state_bits", "entropy_rate_bits",
      "predictability").orderBy($"event_type")
  }

  /** Propensity-stratified treatment effect for an OBSERVATIONAL
    * exposure (q288; Rosenbaum & Rubin 1983's stratification on the
    * propensity score, with the score estimated exactly per stratum):
    * "does being error-PRONE change spend?" cannot be randomized —
    * and the naive treated-vs-untreated spend gap is confounded by
    * ACTIVITY (active users both hit more errors and buy more). Strata
    * are the exact log₂ activity buckets (q264's device); within a
    * bucket the exposure is as-good-as-random under the standard
    * unconfoundedness-given-activity assumption, so the
    * common-support-weighted within-bucket gap is the adjusted effect.
    * With within-sample bucket propensities e_b = n1_b/n_b, the IPW
    * estimator collapses ALGEBRAICALLY to this same stratified form
    * (scaladoc states it so nobody "adds" IPW as a second estimator).
    *
    * Output: one row per common-support bucket (both arms present)
    * with exact counts and micro-quantized means, plus window columns
    * repeating the weighted ATE, the NAIVE unadjusted gap (the
    * contrast the spec's constructed Simpson confound drives apart),
    * and the off-support user count (dropped buckets are reported,
    * never silent). Shape: one corpus scan into a per-user aggregate,
    * then a bounded bucket frame; every window runs over buckets.
    */
  def stratifiedAte(events: DataFrame): DataFrame = {
    // exposure = error-PRONE: the user's error share exceeds the uniform
    // 1/5 of their events (exact integer test — "has any error" is
    // degenerate on a dense event stream, every active user has one)
    val perUser = events.groupBy($"user_id").agg(
      count(lit(1)).as("n_ev"),
      sum(when($"event_type" === "error", 1L).otherwise(0L)).as("e"),
      sum(when($"event_type" === "purchase", valueMicro).otherwise(0L)).as("y"))
      .withColumn("t", ($"e" * 5L > $"n_ev").cast("long"))
    val byB = perUser
      // exact integer log2 via binary-string length (the q264 device —
      // a float log2 is engine-ambiguous exactly at the power-of-2
      // bucket boundaries)
      .withColumn("bucket", (length(bin($"n_ev")) - 1).cast("long"))
      .groupBy($"bucket").agg(
        sum($"t").as("n1"), sum(lit(1L) - $"t").as("n0"),
        sum(when($"t" === 1L, $"y").otherwise(0L)).as("sy1"),
        sum(when($"t" === 0L, $"y").otherwise(0L)).as("sy0"))
    val support = $"n1" >= 1L && $"n0" >= 1L
    val diff6 = when(support,
      round(($"sy1".cast("double") / $"n1" - $"sy0".cast("double") / $"n0")
        * lit(100.0), 0).cast("long")) // micro-units·1e2 = 1e-6 currency
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val t2 = byB.withColumn("d6", diff6)
      .withColumn("w", when(support, $"n1" + $"n0").otherwise(0L))
      .withColumn("wsum", sum($"w").over(all))
      .withColumn("ate6", sum($"d6" * $"w").over(all))
      .withColumn("dropped", sum(when(support, 0L)
        .otherwise($"n1" + $"n0")).over(all))
      .withColumn("nt1", sum($"n1").over(all))
      .withColumn("nt0", sum($"n0").over(all))
      .withColumn("st1", sum($"sy1").over(all))
      .withColumn("st0", sum($"sy0").over(all))
    t2.select($"bucket", $"n1".as("n_treated"), $"n0".as("n_control"),
      when($"n1" >= 1L, round($"sy1" / 1e4 / $"n1", 4)).as("mean_treated"),
      when($"n0" >= 1L, round($"sy0" / 1e4 / $"n0", 4)).as("mean_control"),
      when(support, round($"d6" / 1e6, 4)).as("bucket_diff"),
      // both guarded: Spark nulls a zero divisor, DuckDB IEEE-infs it
      when($"wsum" > 0L,
        round($"ate6" / ($"wsum".cast("double") * 1e6), 4)).as("ate"),
      when($"nt1" >= 1L && $"nt0" >= 1L,
        round(($"st1" / 1e4 / $"nt1" - $"st0" / 1e4 / $"nt0"), 4)).as("naive_diff"),
      $"dropped".as("n_off_support"))
      .orderBy($"bucket")
  }

  /** Session-entry attribution (q195): credit every purchase to the
    * event type that OPENED its session — first-touch attribution at
    * session grain, the marketing-analytics consumer of q33's
    * sessionization (q123/q132 describe transition structure; this
    * answers "which entry point leads to revenue"). Per entry type:
    * sessions opened, purchases landed, and the attributed purchase
    * value.
    *
    * Purchase values ride the exact integer micro-unit discipline
    * (round(value·10⁴) longs, q192's moments), so both aggregation
    * levels are engine-exact and the one boundary division renders the
    * rounded total.
    *
    * Shape: one shuffle on user_id for the session windows (bounded
    * per-key state), the entry tag is a first_value over the same sort,
    * then two map-side-combined aggregates — per-session (key grain:
    * user × session) and per-entry-type (types-sized output frame).
    */
  def sessionAttribution(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val sess = events
      .select($"user_id", $"event_id", $"ts", $"event_type",
        valueMicro.as("vm"))
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull || ($"ts" - $"prev_ts") > 1800L * NsPerSecond, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy($"user_id", $"session_seq").orderBy($"ts", $"event_id")
    sess
      .withColumn("entry_type", first($"event_type").over(wSess))
      .groupBy($"user_id", $"session_seq", $"entry_type")
      .agg(
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_purch"),
        sum(when($"event_type" === "purchase", $"vm").otherwise(0L)).as("pvm"))
      .groupBy($"entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum($"n_purch").as("n_purchases"),
        round(sum($"pvm") / 10000.0, 2).as("attributed_value"))
      .orderBy($"entry_type")
  }

  /** Kolmogorov-Smirnov fit of user inter-arrival gaps against the
    * exponential model (q205) — "is per-user traffic Poisson?", the
    * assumption every rate-based alert threshold (q80/q193) quietly
    * makes; a large KS distance says bursts/sessions break it and the
    * thresholds need the empirical distribution instead. Rate is the
    * pooled MLE λ = n/Σg; D = sup|F̂ − F| via the one-sided
    * max(i/n − F(x᪲), F(x᪲) − (i−1)/n) over the sorted sample;
    * reject at the 5% asymptotic line 1.36/√n.
    *
    * Determinism: gaps are exact ns integers; ranks, n and Σg come from
    * the distinct-gap histogram's `Scale.rangePrefixSums`; each KS
    * term quantizes to 1e-6 BEFORE the max (cross-engine exp agrees to
    * ulps — the q106 micro-bit argument), so the max is over identical
    * rounded values.
    *
    * Shape: one per-user lag window (bounded per-key state), a
    * map-side-combined histogram, its prefix sums, and a 1-row
    * aggregate; nothing is globally sorted and nothing corpus-sized
    * reaches the driver.
    */
  def interArrivalFit(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gaps = events
      .select($"user_id", $"event_id", $"ts")
      .withColumn("prev", lag($"ts", 1).over(byUser))
      .filter($"prev".isNotNull)
      .select(($"ts" - $"prev").as("g"))
    val hist = gaps.groupBy($"g").agg(count(lit(1)).as("c"))
      .withColumn("gc", $"g" * $"c")
    val fExp = lit(1.0) - exp(-(($"n" / $"sg") * $"g"))
    val terms = Scale.rangePrefixSums(hist, Seq($"g"), Seq("c", "gc"), 32)
      .select($"g", $"c", $"cum_c".as("cum"), $"tot_c".as("n"), $"tot_gc".as("sg"))
      .select(
        round($"cum" / $"n" - fExp, 6).as("dp"),
        round(fExp - ($"cum" - $"c") / $"n", 6).as("dm"),
        $"n", $"sg")
    terms
      .groupBy($"n", $"sg")
      .agg(max(greatest($"dp", $"dm")).as("ks_d"))
      .select(
        $"n".as("n_gaps"),
        round(($"n" * lit(3600000000000.0)) / $"sg", 6).as("lambda_per_hour"),
        $"ks_d",
        ($"ks_d" > lit(1.36) / sqrt($"n")).as("reject_exponential"))
  }

  /** Session market-basket association (q204): support and lift for
    * every event-type PAIR co-occurring in a session — the level-2
    * association-rule mine (Agrawal-Srikant) over session baskets.
    * q123/q132 describe SEQUENCE structure (adjacent transitions,
    * ordered paths); this asks the order-free question "which behaviors
    * go together at all", whose lift>1 pairs are the feature
    * interactions a recommender or anomaly baseline starts from.
    *
    * All counts are exact integers over the distinct (session, type)
    * frame; support and lift are single boundary divisions of integer
    * products (lift = n_ab·N / (n_a·n_b), computed as one double
    * expression shaped identically in the oracle).
    *
    * Shape: one user_id shuffle for session numbering, a distinct on
    * (user, session, type) — basket-proportional — then a self-join ON
    * THE SESSION KEY (≤ types²/2 rows per session, types is small and
    * bounded) and a types²-sized aggregate; nothing downstream of the
    * distinct is corpus-proportional.
    */
  def basketLift(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val basket = events
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ts".isNull || ($"ts" - $"prev_ts") > 1800L * NsPerSecond, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"session_seq", $"event_type")
      .distinct()
      .localCheckpoint() // ROADMAP item 4 (c): the totals, per-type counts and pair join read it
    val nSessions = basket.select($"user_id", $"session_seq").distinct().count()
    val perType = basket.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
    val pairs = basket.select($"user_id", $"session_seq", $"event_type".as("type_a"))
      .join(basket.select($"user_id", $"session_seq", $"event_type".as("type_b")),
        Seq("user_id", "session_seq"))
      .filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select($"event_type".as("type_a"), $"n_t".as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select($"event_type".as("type_b"), $"n_t".as("n_b"))), Seq("type_b"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_ab",
        round($"n_ab" / lit(nSessions.toDouble), 6).as("support"),
        round(($"n_ab" * nSessions) / ($"n_a" * $"n_b"), 6).as("lift"))
      .orderBy($"type_a", $"type_b")
  }

  /** Nonparametric trend test on the daily mean value (q201):
    * Mann-Kendall S with the tie-adjusted normal approximation, plus
    * the Theil-Sen median slope — the ROBUST complement to q193's
    * CUSUM (CUSUM accumulates level shifts against a reference;
    * Mann-Kendall asks "is there a monotone trend at all" without
    * distributional assumptions, and Theil-Sen prices it per day
    * immune to outlier days). The monitoring trio q191/q193/q201 is
    * what a metrics pipeline runs nightly.
    *
    * Determinism: daily levels are [[dailyMoments]]' integer levels; S and
    * the tie adjustment are pure integer arithmetic over ordered day
    * pairs; each pairwise slope quantizes by an exact double floor
    * (values ≪ 2⁵³) and the median rides `Scale.exactQuantileByGroup`
    * (bit-equal to quantile_cont); z's one sqrt+division happens at
    * the boundary with the same expression shape as the oracle.
    *
    * Shape: ONE corpus-proportional pass (the per-day moment agg);
    * the pair frame is days²/2 — aggregate-scale at any event volume
    * (3 years ≈ 600k pairs) — and the median runs on the bounded
    * distinct-slope histogram, not a global sort.
    */
  def trendTest(events: DataFrame): DataFrame = {
    val daily = dailyMoments(events).select($"d", $"xm")
      .localCheckpoint() // ROADMAP item 4 (c): the pairs, ties and count passes read it
    val pairs = daily.select($"d".as("di"), $"xm".as("xi"))
      .join(daily.select($"d".as("dj"), $"xm".as("xj")), $"di" < $"dj")
      .select(
        when($"xj" > $"xi", 1L).when($"xj" < $"xi", -1L).otherwise(0L).as("sg"),
        // exact double floor division (not integer div: Spark `div`
        // truncates toward zero while DuckDB // floors — they disagree
        // on negative slopes; the double form is floor on both).
        // greatest(·,1) never changes a matched row (the join demands
        // di < dj ⇒ dj−di ≥ 1) but keeps the expression total: the
        // optimizer pushes the median's isNotNull(slope) INTO the join
        // condition, where ANSI would otherwise evaluate the division
        // on dj = di candidate pairs and throw DIVIDE_BY_ZERO
        floor(($"xj" - $"xi") * lit(1000.0) / greatest($"dj" - $"di", lit(1L)))
          .cast("long").as("slope_milli"),
        lit(1).as("g"))
    val sStat = pairs.agg(sum($"sg").as("s_stat"))
    val med = Scale.exactQuantileByGroup(pairs, "g", "slope_milli", 0.5)
      .select($"cut")
    val nn = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy($"xm").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie_adj"))
    sStat.crossJoin(broadcast(nn)).crossJoin(broadcast(ties)).crossJoin(broadcast(med))
      .withColumn("var_s",
        (($"n" * ($"n" - 1) * ($"n" * 2 + 5) - $"tie_adj") / lit(18.0)))
      .select(
        $"n".as("n_days"), $"s_stat", round($"var_s", 4).as("var_s"),
        round(
          when($"var_s" <= 0.0, lit(0.0))
            .when($"s_stat" > 0L, ($"s_stat" - 1) / sqrt($"var_s"))
            .when($"s_stat" < 0L, ($"s_stat" + 1) / sqrt($"var_s"))
            .otherwise(lit(0.0)), 4).as("z_score"),
        round($"cut" / lit(1e7), 6).as("slope_per_day"))
  }

  /** One-sided CUSUM change detection on the daily mean event value
    * (q193) — the SEQUENTIAL drift monitor beside the snapshot diffs
    * (q102/q127 compare two corpus versions; CUSUM watches ONE metric
    * through time and accumulates small persistent shifts until they
    * cross an alarm line, the Page 1954 scheme every metrics pipeline
    * ships). Upward and downward schemes run together.
    *
    * The textbook recursion S_t = max(0, S_{t-1} + (x_t − k)) is
    * sequential, but its closed form is NOT: S_t = P_t − min(0,
    * min_{i≤t} P_i) with P the plain prefix sum of deviations — so the
    * monitor is a prefix sum + prefix min, both one-pass window
    * identities (and two-phase distributable if the day frame ever
    * outgrew a partition — it is AGGREGATE-sized: 30 rows per month at
    * any event volume, so the un-partitioned window here is a window
    * over a dimension frame, not a scale hazard).
    *
    * Integer discipline: daily level xm from [[dailyMoments]] and
    * reference k = (10⁴·Σv) div n over the whole window — floor division
    * on exact long sums, so deviations, prefix sums, mins, and both
    * CUSUM tracks are engine-exact integers; `h` is the alarm threshold
    * in the same micro-units.
    */
  def cusumDriftDays(events: DataFrame): DataFrame = {
    val h = 50000L
    val moments = dailyMoments(events)
    // reference level k from the RAW exact moments (not from xm, whose
    // per-day floor already lost sub-unit mass)
    val kRef = moments.agg(expr("(10000 * sum(s1)) div sum(n_events)").as("k"))
    val w = Window.orderBy($"day_epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moments
      .select(($"d" * 86400).as("day_epoch"), $"n_events", $"xm")
      .crossJoin(broadcast(kRef))
      .withColumn("dev", $"xm" - $"k")
      .withColumn("p", sum($"dev").over(w))
      .withColumn("cusum_up", $"p" - least(lit(0L), min($"p").over(w)))
      .withColumn("pn", sum(-$"dev").over(w))
      .withColumn("cusum_down", $"pn" - least(lit(0L), min($"pn").over(w)))
      .select($"day_epoch", $"n_events", $"xm",
        $"cusum_up", $"cusum_down",
        ($"cusum_up" > h || $"cusum_down" > h).as("alarm"))
      .orderBy($"day_epoch")
  }

  /** Ordered motif census (q236): for EVERY ordered event-type triple
    * (a, b, c) — repeats allowed — how many users exhibit it as a
    * subsequence (some ts_a < ts_b < ts_c in their stream). q224 walks
    * ONE configured funnel; this is the exploratory census that tells an
    * analyst which funnels exist before one is configured, and the
    * behavioral-motif profile (browse-then-buy vs buy-then-browse
    * asymmetries) a recommender's feature pipeline consumes. Matching is
    * the standard greedy-earliest subsequence rule: t₁ = first a,
    * t₂ = first b after t₁, t₃ = first c after t₂ — greedy-earliest is
    * complete for subsequence existence, so no per-user search happens.
    *
    * Shape: step k's frontier frame joins the EVENT stream once and
    * re-aggregates — each event row matches at most |T|^(k-1) open
    * frontiers, so the largest relation is events × |T|² with |T| the
    * event-type vocabulary (5 here; bounded, never corpus²). Output is
    * |T|³ rows max. The same chain extends to length-k motifs at
    * events × |T|^(k-1) — the reason production motif mining caps k at
    * 3-4 and this op does too.
    */
  def motifCensus(events: DataFrame): DataFrame = {
    // One explicit user_id hash exchange shared by the whole chain (r14,
    // guide §2.4): every stage below keys on user_id (the per-user
    // frontier aggs and the u1/u2 probe joins), so pre-clustering makes
    // them all partition-local — the old plan exchanged the event scan
    // independently per stage. AQE stage reuse dedupes the four
    // references to this one exchange at runtime (no checkpoint needed).
    val ev = events.select($"user_id", $"event_type", $"ts")
      .repartition(events.sparkSession.sparkContext.defaultParallelism * 2,
        $"user_id")
    val total = ev.agg(countDistinct($"user_id").as("n_total"))
    val u1 = ev.groupBy($"user_id", $"event_type".as("s1"))
      .agg(min($"ts").as("t1"))
    val u2 = ev.join(u1, Seq("user_id"))
      .filter($"ts" > $"t1")
      .groupBy($"user_id", $"s1", $"event_type".as("s2"))
      .agg(min($"ts").as("t2"))
    val u3 = ev.join(u2, Seq("user_id"))
      .filter($"ts" > $"t2")
      .groupBy($"user_id", $"s1", $"s2", $"event_type".as("s3"))
      .agg(min($"ts").as("t3"))
    u3.groupBy($"s1", $"s2", $"s3")
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select($"s1", $"s2", $"s3", $"n_users",
        round($"n_users" / $"n_total", 6).as("user_share"))
      .orderBy($"n_users".desc, $"s1", $"s2", $"s3")
  }

  /** Ordered multi-step funnel: users who performed the step sequence IN
    * EVENT-TIME ORDER, each step strictly after their frontier from the
    * previous one (min qualifying timestamp) and within `stepHorizonHours`
    * of it — the standard product funnel, where q76 is the 2-step special
    * case and q132's paths require ADJACENCY (this op allows any events
    * in between, but bounds each step's latency so the funnel measures a
    * JOURNEY, not eventual coincidence — unbounded, a long-lived fixture
    * user reaches every step). Per step: reached-user count and the share
    * of step-1 entrants.
    *
    * Shape: per step, one filtered per-user min-aggregation joined to the
    * previous step's (user, frontier) frame — a user-keyed chain of
    * map-side-combined aggs; each intermediate is checkpointed so step k
    * never re-derives steps 1..k-1. Shares come from a window over the
    * |steps|-row result.
    */
  def orderedFunnel(events: DataFrame,
      steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    val stepHorizonHours = 24L
    require(steps.nonEmpty)
    val horizonNs = stepHorizonHours * NsPerHour
    val frames = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (t, _)) =>
        val ev = events.filter($"event_type" === t).select($"user_id", $"ts")
        val reached = prev match {
          case None => ev.groupBy($"user_id").agg(min($"ts").as("f"))
          case Some(p) => ev.join(p, Seq("user_id"))
            .filter($"ts" > $"f" && $"ts" - $"f" <= horizonNs)
            .groupBy($"user_id").agg(min($"ts").as("f"))
        }
        Some(reached.localCheckpoint()) // ROADMAP item 4 (b): cuts the step loop's plan growth
    }.flatten
    val counts = frames.zip(steps).zipWithIndex.map { case ((df, t), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(t).as("event_type"), $"n_users")
    }.reduce(_ unionAll _)
    val w = Window.partitionBy() // |steps| rows
    counts
      .withColumn("_entrants", max(when($"step" === 1, $"n_users")).over(w))
      // null share when the first step has no entrants: ANSI throws on
      // the 0/0 division a zero-entrant corpus would otherwise hit
      .withColumn("share_of_entry",
        when($"_entrants" > 0L, round($"n_users" / $"_entrants", 6)))
      .drop("_entrants")
      .orderBy($"step")
  }

  /** Sample-ratio-mismatch (SRM) audit of the q192 A/B assignment: per
    * arm, the DISTINCT-user exposure next to the 50/50 expectation, with
    * the 1-df chi² and its 5% flag — the guardrail every experiment
    * readout runs BEFORE looking at the metric, because a lopsided
    * assignment (logging loss, bot filtering applied to one arm, a buggy
    * hash) silently invalidates q192's t-test no matter how significant
    * it looks. Uses the identical deterministic md5 arm hash as q192, so
    * the audit grades the split actually consumed.
    *
    * Exactness: with two arms, chi² collapses to (n_a − n_b)² / n_total
    * — all-integer numerator, ONE double division; the flag compares the
    * unrounded value on both engines.
    *
    * Shape: one distinct-user aggregation (map-side combined on
    * (arm, user)) into a 2-row frame; everything else is windows over
    * those 2 rows.
    */
  def srmCheck(events: DataFrame): DataFrame = {
    val arms = events
      .select(userArm, $"user_id")
      .groupBy($"arm")
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
    val w = Window.partitionBy() // 2 arm rows
    arms
      .withColumn("n_total", sum($"n_users").over(w))
      .withColumn("d",
        sum(when($"arm" === 0L, $"n_users").otherwise(-$"n_users")).over(w))
      .select($"arm", $"n_users", $"n_events",
        round($"n_users" / $"n_total", 6).as("user_share"),
        round($"d" * $"d" / $"n_total", 6).as("chi2"),
        ($"d" * $"d" / $"n_total" > 3.841).as("srm"))
      .orderBy($"arm")
  }

  /** Signup→purchase conversion latency: of the users who ever sign up,
    * how many go on to purchase and how long the FIRST post-signup
    * purchase takes — the latency percentiles (via the bounded histogram
    * quantile panel) that turn q76's conversion RATE into an activation
    * SLA ("half convert within pXX hours"). One row.
    *
    * Shape: `conversions`, the per-user frames q235 and q281 read (two
    * filtered per-user aggregations joined on user), then the whole
    * percentile panel from ONE histogram pass over the users-sized
    * latency frame (integer-second domain — state bounded by the time
    * range, not by users).
    */
  def conversionLatency(events: DataFrame): DataFrame = {
    val (signups, converted) = conversions(events)
    val conv = converted
      .select(expr(s"lat_ns div $NsPerSecond").cast("double").as("lat_s"))
      .localCheckpoint() // ROADMAP item 4 (c): the count and the histogram pass read it
    val panel = Scale.quantilePanel(conv.select(lit("all").as("g"), $"lat_s".as("v")),
        "g", "v", Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.9 -> "p90"))
      .drop("g")
    signups.agg(count(lit(1)).as("n_signup_users"))
      .crossJoin(broadcast(conv.agg(count(lit(1)).as("n_converted"))))
      // LEFT join, not crossJoin: with zero conversions the panel frame is
      // EMPTY (groupBy of an empty input) and a crossJoin would annihilate
      // the report row; null percentiles are the honest value there
      .join(broadcast(panel), lit(true), "left")
      .select($"n_signup_users", $"n_converted",
        // null rate when nobody ever signs up (ANSI throws on the 0/0)
        when($"n_signup_users" > 0L,
          round($"n_converted" / $"n_signup_users", 6)).as("conversion_rate"),
        round($"p25", 4).as("p25_s"), round($"p50", 4).as("p50_s"),
        round($"p75", 4).as("p75_s"), round($"p90", 4).as("p90_s"))
  }

  /** Event-time lateness audit: per event type, how many events arrive
    * BEHIND the watermark a streaming consumer would hold — the number
    * that decides a pipeline's `withWatermark` delay (too tight and these
    * rows are silently dropped; too loose and state grows). An event is
    * late iff its event time sits more than `watermarkDelayNs` behind the
    * maximum event time among all STRICTLY earlier arrivals — exactly
    * Structured Streaming's global-watermark drop rule.
    *
    * The fixture carries no arrival timestamps (it is event-time only and
    * perfectly ordered), so the audit derives a deterministic arrival
    * schedule the way q101 derives its snapshot pair: one congruence
    * class of users (`user_id % 17 == 3`, ~6%) is a delayed client whose
    * events arrive `injectedDelayNs` after their event time; everyone
    * else arrives instantly. Both engines derive the identical schedule.
    *
    * Shape: the arrival-order prefix max is TWO-PHASE, never one global
    * sort partition — a per-day in-bucket running max (window state
    * bounded by the day's volume) plus a day-frame cumulative max
    * (bucket-count rows) joined back by bucket; the bucket width is the
    * dial that keeps in-bucket windows partition-sized at any corpus
    * rate. The rollup is |types| rows.
    */
  def lateArrivalAudit(events: DataFrame, injectedDelayNs: Long = 7200L * NsPerSecond): DataFrame = {
    val watermarkDelayNs = 3600L * NsPerSecond
    val arr = events.select($"event_type", $"ts", $"event_id",
        ($"ts" + when($"user_id" % 17L === 3L,
          injectedDelayNs).otherwise(0L)).as("arrival"))
      .withColumn("bucket", expr(s"arrival div $NsPerDay"))
    val wIn = Window.partitionBy($"bucket").orderBy($"arrival", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy($"bucket") // day-count frame, bounded
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevBuckets = arr.groupBy($"bucket").agg(max($"ts").as("bmax"))
      .withColumn("prev_max", max($"bmax").over(wCum))
      .select($"bucket", $"prev_max")
    // explicit null-safe max: engines disagree on greatest()'s null rule
    val wmBase = when($"in_max".isNull, $"prev_max")
      .when($"prev_max".isNull, $"in_max")
      .when($"in_max" >= $"prev_max", $"in_max")
      .otherwise($"prev_max")
    arr
      .withColumn("in_max", max($"ts").over(wIn))
      .join(prevBuckets, Seq("bucket"))
      .withColumn("wm", wmBase - watermarkDelayNs)
      .withColumn("late", coalesce($"ts" < $"wm", lit(false)))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"late", 1L).otherwise(0L)).as("n_late"),
        coalesce(max(when($"late",
          expr(s"(wm - ts) div $NsPerSecond"))), lit(0L)).as("max_lateness_s"))
      .select($"event_type", $"n_events", $"n_late",
        round($"n_late" / $"n_events", 6).as("late_share"), $"max_lateness_s")
      .orderBy($"event_type")
  }

  /** Robust (winsorized / trimmed) per-type value statistics: the raw mean
    * next to the mean with tails CLAMPED to the exact [p05, p95] cents
    * cuts (winsorized) and the mean with tails DROPPED (trimmed) — the
    * estimators a metrics pipeline publishes when a handful of fat-finger
    * values would otherwise move the raw mean (q135's MAD rule flags those
    * rows; this is the complementary "publish a mean that survives them").
    *
    * The cut positions come from ONE bounded histogram pass
    * (`Scale.exactQuantilesByGroup` on the cents domain — state per
    * distinct cent value, both quantiles from the same histogram) and are
    * integerized OUTWARD (floor(p05), ceil(p95)) so clamping and trimming
    * stay in exact integer-cents arithmetic: every reported mean is one
    * exact long sum and one double division, never an order-dependent
    * double accumulation.
    *
    * Shape: cents scan (checkpointed — feeds the histogram and the clamp
    * pass) + a broadcast |types|-row cut frame + one map-side-combined
    * rollup. All state is domain- or type-bounded.
    */
  def winsorizedValueStats(events: DataFrame): DataFrame = {
    val vals = events
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .localCheckpoint() // ROADMAP item 4 (c): the cut pass and the clamp pass read it
    val cuts = Scale.quantilePanel(
        vals.select($"event_type", $"c".cast("double").as("v")),
        "event_type", "v", Seq(0.05 -> "plo", 0.95 -> "phi"))
      .select($"event_type", floor($"plo").cast("long").as("lo"),
        ceil($"phi").cast("long").as("hi"))
    val clamped = greatest(least($"c", $"hi"), $"lo")
    vals.join(broadcast(cuts), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"c" < $"lo", 1L).otherwise(0L)).as("n_lo"),
        sum(when($"c" > $"hi", 1L).otherwise(0L)).as("n_hi"),
        sum($"c").as("_s"),
        sum(clamped).as("_sw"),
        sum(when($"c".between($"lo", $"hi"), $"c")).as("_st"),
        sum(when($"c".between($"lo", $"hi"), 1L).otherwise(0L)).as("_nt"),
        min($"lo").as("lo_cents"), min($"hi").as("hi_cents"))
      .select($"event_type", $"n", $"n_lo", $"n_hi",
        round($"_s" / $"n" / 100.0, 4).as("mean_raw"),
        round($"_sw" / $"n" / 100.0, 4).as("mean_winsor"),
        round($"_st" / $"_nt" / 100.0, 4).as("mean_trim"),
        $"lo_cents", $"hi_cents")
      .orderBy($"event_type")
  }

  /** Event-rate outlier detection: users whose MEDIAN inter-event gap sits
    * in the fastest `pCut` tail of the per-user median distribution — the
    * population-relative form of a bot / scripted-client detector (an
    * absolute gap threshold goes stale as traffic patterns drift; "faster
    * than 90% of users" does not). The median (not the mean) gap is the
    * signal, so one long idle period cannot hide a burst-heavy client.
    *
    * Shape: one per-user (ts, event_id) sort for the lag, a per-user
    * rollup whose `percentile` state is bounded by that user's own event
    * count (never a global or hot-key sort), then the population cut via
    * the bounded histogram quantile over the USERS-sized median frame
    * (median domain = half-integer seconds, bounded by the gap range),
    * broadcast back as one row. Flagging is a codegen'd filter pass.
    */
  def rateOutliers(events: DataFrame): DataFrame = {
    val pCut = 0.1
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gaps = events
      .select($"user_id", $"ts", $"event_id",
        expr(s"ts div $NsPerSecond").as("sec"))
      .withColumn("gap", $"sec" - lag($"sec", 1).over(w))
    val users = gaps.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("percentile(gap, 0.5D)").as("med"),
        (max($"sec") - min($"sec")).as("span_s"))
      .filter($"n_events" >= 8L)
      .localCheckpoint() // ROADMAP item 4 (c): the population-cut and flag passes read it
    val cut = Scale.exactQuantileByGroup(
        users.select(lit("all").as("g"), $"med".as("v")), "g", "v", pCut)
      .select($"cut".as("_cut"))
    users.crossJoin(broadcast(cut))
      .filter($"med" <= $"_cut")
      .select($"user_id", $"n_events",
        round($"med", 1).as("med_gap_s"),
        round($"n_events" * lit(86400.0) / greatest($"span_s", lit(1L)), 4)
          .as("events_per_day"),
        round($"_cut", 4).as("pop_cut_s"))
      .orderBy($"user_id")
  }

  /** Difference-in-differences estimate (q250; Card & Krueger 1994 made
    * the design canonical) on per-user purchase value, pre vs post the
    * corpus midpoint day, md5 arm as "treatment": DiD = (ȳ_B − x̄_B) −
    * (ȳ_A − x̄_A) — the causal-inference workhorse when assignment isn't
    * randomized and each unit's pre-period level absorbs its fixed
    * effect. Beside q232 (CUPED uses the pre-period to REDUCE VARIANCE
    * of a randomized test) this is the PANEL estimator: the per-user
    * CHANGE d = y − x is the unit of analysis, so the z-test on d is
    * correctly user-clustered by construction (event-level DiD with
    * event-level SEs — the classic underestimate — is exactly what this
    * shape avoids).
    *
    * Same [[prePostUsers]] frame as q232: per-user exact micro-unit
    * pre/post sums over the distinct-user universe (non-converters
    * contribute (0, 0)), one 1-row moment aggregate with decimal(38,0)
    * squares, mirrored double finisher. On the A/A fixture DiD ≈ 0 with |z|
    * inside 1.96 — the design's null gate.
    */
  def didEstimate(events: DataFrame): DataFrame = {
    val m = prePostUsers(events).select($"arm", ($"y" - $"x").as("d")).agg(
      armSum(0L, lit(1L)).as("n_a"), armSum(0L, $"d").as("s_a"),
      armSum(0L, dec($"d" * $"d")).as("ss_a"),
      armSum(1L, lit(1L)).as("n_b"), armSum(1L, $"d").as("s_b"),
      armSum(1L, dec($"d" * $"d")).as("ss_b"))
    val (mA, mB) = (mean($"s_a", $"n_a"), mean($"s_b", $"n_b"))
    val (vA, vB) = (svar($"s_a", $"ss_a", $"n_a"), svar($"s_b", $"ss_b", $"n_b"))
    val did = mB - mA
    m.select($"n_a", $"n_b",
      when($"n_a" > 0L, round(mA / 1e4, 4)).as("mean_change_a"),
      when($"n_b" > 0L, round(mB / 1e4, 4)).as("mean_change_b"),
      when($"n_a" > 0L && $"n_b" > 0L, round(did / 1e4, 4)).as("did"),
      when($"n_a" >= 2L && $"n_b" >= 2L && (vA + vB) > 0.0,
        round(sqrt(vA / $"n_a" + vB / $"n_b") / 1e4, 4)).as("se"),
      when($"n_a" >= 2L && $"n_b" >= 2L && (vA + vB) > 0.0,
        round(did / sqrt(vA / $"n_a" + vB / $"n_b"), 4)).as("z_score"))
  }

  /** Seasonal-naive forecast evaluation (q252; the MASE yardstick is
    * Hyndman & Koehler 2006): forecast each day's event count with the
    * count 7 days earlier, hold out the trailing week, and score MAE /
    * MASE / sMAPE — the baseline every capacity-planning forecast must
    * beat, and the denominator MASE is DEFINED against (scaling by the
    * IN-SAMPLE seasonal-naive MAE makes the metric unit-free and
    * comparable across series). MASE < 1 on the holdout means the
    * series got easier in the last week, > 1 harder; the fixture's
    * weekday seasonality makes lag-7 the right naive.
    *
    * Calendar lag, not row lag: the daily frame self-joins on
    * d = d − 7 (an equi-join of two day frames — a missing calendar day
    * yields no forecast row rather than silently borrowing lag-8, the
    * row-window bug). Day counts are exact longs; every mean is one
    * double division at the end. Everything after the one counting scan
    * is day-frame-sized.
    */
  def seasonalNaiveEval(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events)
      .localCheckpoint() // ROADMAP item 4 (c): both lag-join sides and the frontier read it
    val lagged = daily.select($"d", $"c")
      .join(daily.select(($"d" + 7L).as("d"), $"c".as("f")), Seq("d"))
    val mx = daily.agg(max($"d").as("mx"))
    val scored = lagged.crossJoin(broadcast(mx))
      .select($"d", $"c", $"f",
        abs($"c" - $"f").as("ae"),
        ($"d" > $"mx" - 7L).as("is_test"))
    scored.agg(
        sum(when(!$"is_test", 1L).otherwise(0L)).as("n_train"),
        sum(when($"is_test", 1L).otherwise(0L)).as("n_test"),
        sum(when(!$"is_test", $"ae").otherwise(0L)).as("sae_train"),
        sum(when($"is_test", $"ae").otherwise(0L)).as("sae_test"),
        sum(when($"is_test",
          $"ae" * lit(2.0) / ($"c" + $"f")).otherwise(0.0)).as("ssmape"))
      .select($"n_train", $"n_test",
        when($"n_train" > 0L,
          round($"sae_train".cast("double") / $"n_train", 4)).as("mae_train"),
        when($"n_test" > 0L,
          round($"sae_test".cast("double") / $"n_test", 4)).as("mae_test"),
        when($"n_train" > 0L && $"n_test" > 0L && $"sae_train" > 0L,
          round(($"sae_test".cast("double") / $"n_test")
            / ($"sae_train".cast("double") / $"n_train"), 6)).as("mase"),
        when($"n_test" > 0L, round($"ssmape" / $"n_test", 6)).as("smape"))
  }

  // ---- EWMA control chart (q255) -----------------------------------------

  /** EWMA control chart over the daily event-count series (Roberts 1959;
    * the Montgomery SPC form): z_t = λ·x_t + (1−λ)·z_{t−1} with z_0 = μ̂
    * (the in-control center, the all-days mean), a day flagged when
    * |z_t − μ̂| exceeds L·σ̂·√(λ/(2−λ)·(1−(1−λ)^{2t})) — the FINITE-t
    * variance band, tighter during the ramp (the asymptotic-only band
    * under-alarms the first ~1/λ days). The memory-ful drift monitor
    * beside q193's CUSUM: CUSUM is optimal for a sustained step shift,
    * EWMA dominates for slow drifts; a fleet runs both.
    *
    * Scale shape: the only corpus-proportional stage is the daily count
    * aggregate (map-side combined). The recurrence is inherently
    * sequential (z_t needs z_{t−1}), so no window expresses it; it runs
    * as a per-day prefix fold over the collected day array via the
    * `aggregate` higher-order function — O(T²) on a CALENDAR-bounded
    * frame (T = distinct days: 30 in the fixture, a few thousand for a
    * decade of telemetry), engine-side, never a driver loop. Both engines
    * fold the identical (λ·x + (1−λ)·acc) expression left-to-right
    * (DuckDB: list_reduce over a μ̂-prepended prefix slice), so the
    * doubles associate identically and the gate is hash-exact. The flag
    * compares ROUNDED values (the q246 discipline: last-ulp libm wobble
    * in pow/sqrt must not flip a verdict).
    */
  def ewmaControl(events: DataFrame): DataFrame =
    ewmaFromDailyCounts(dailyCounts(events), 0.2, 3.0)

  /** The EWMA finisher over a (d, c) daily count frame — split from
    * [[ewmaControl]] so a spec can drive the chart with a planted
    * synthetic series (InferenceSpec's drift step).
    */
  private[graft] def ewmaFromDailyCounts(daily: DataFrame, lambda: Double,
      limit: Double): DataFrame = {
    val lam = lit(lambda)
    val oml = lit(1.0 - lambda)
    val packed = daily
      .agg(
        array_sort(collect_list(struct($"d", $"c"))).as("a"),
        count(lit(1)).as("t"), sum($"c").as("s"),
        sum(($"c" * $"c").cast("decimal(38,0)")).as("ss"))
      .select($"a",
        ($"s".cast("double") / $"t").as("mu"),
        sqrt(($"ss".cast("double") - $"s".cast("double") * $"s" / $"t")
          / $"t").as("sigma"))
      .withColumn("cs", transform($"a", e => e.getField("c").cast("double")))
    val rows = packed.select($"mu", $"sigma", $"cs",
      posexplode($"a").as(Seq("p", "e")))
    val i = ($"p" + 1).cast("long")
    val z = aggregate(slice($"cs", lit(1), ($"p" + 1).cast("int")), $"mu",
      (acc, x) => lam * x + oml * acc)
    val band = lit(limit) * $"sigma" *
      sqrt(lam / (lit(2.0) - lam) *
        (lit(1.0) - pow(oml, lit(2.0) * i.cast("double"))))
    rows
      .withColumn("z", z)
      .withColumn("band_raw", band)
      .select($"e".getField("d").as("day"), $"e".getField("c").as("n_events"),
        i.as("i"), round($"z", 4).as("ewma"), round($"mu", 4).as("center"),
        round($"band_raw", 4).as("band"),
        (round(abs($"z" - $"mu"), 6) > round($"band_raw", 6)).as("flagged"))
      .orderBy($"day")
  }

  // ---- single changepoint scan (q259) --------------------------------------

  /** Single changepoint detection in the daily count series via the
    * standardized CUSUM supremum (binary-segmentation statistic; the
    * at-most-one-change model), scanned by [[changepointBest]] over the
    * observed days; the p-value reuses q253's [[Inference.kolmogorovTail]]
    * chain. The RETROSPECTIVE complement to q193's sequential CUSUM
    * monitor: q193 answers "has it drifted as of now", this answers "when
    * did it change" over a closed window.
    */
  def changepointScan(events: DataFrame): DataFrame =
    changepointBest(dailyCounts(events))

  // ---- per-type changepoint panel with BH (q275) ------------------------------

  /** q259's retrospective changepoint scan composed across the type
    * catalog (q275): each event type's daily-count series gets its own
    * standardized-CUSUM supremum, split day, and Kolmogorov p; the
    * panel then runs q246's Benjamini–Hochberg step-up so "which
    * series changed, and when" is answered at a controlled false-
    * discovery rate — scanning m series and acting on the single best
    * raw p is the multiple-comparisons trap q246 exists for, now in
    * the time domain. Each type's scan is the one [[changepointBest]],
    * keyed by type.
    */
  def changepointPanel(events: DataFrame): DataFrame = {
    val best = changepointBest(
        bucketCounts(events, NsPerDay, Seq($"event_type")), $"event_type")
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
    val ranked = best.withColumn("p_rank",
      row_number().over(Window.partitionBy().orderBy($"p_value", $"event_type")))
    val kStar = max(when(
      $"p_value" <= $"p_rank" * lit(0.05) / $"m", $"p_rank"))
      .over(Window.partitionBy())
    ranked
      .withColumn("significant", $"p_rank" <= coalesce(kStar, lit(0L)))
      .select($"event_type", $"split_day", $"n_before", $"n_after", $"cusum_stat",
        $"mean_before", $"mean_after", $"p_value", $"p_rank", $"significant")
      .orderBy($"event_type")
  }

  // ---- weekday-effect test (q276) ----------------------------------------------

  /** Weekly-seasonality test (q276): Kruskal–Wallis across the seven
    * day-of-week PHASES (day mod 7 — the fixture's epoch days carry no
    * calendar alignment, so the honest name is phase) on the daily
    * event counts — "does q252's lag-7 seasonal-naive have anything to
    * model?" asked as a test instead of assumed. Reuses q248's exact
    * machinery verbatim ([[Inference.kruskalWallisOn]]: doubled
    * tie-averaged ranks on the distinct-count frame, micro-quantized H
    * terms) with groups = phases and observations = the
    * calendar-bounded day frame.
    */
  def weekdayEffect(events: DataFrame): DataFrame =
    Inference.kruskalWallisOn(dailyCounts(events)
        .select(concat(lit("phase"), ($"d" % 7L).cast("string")).as("source"),
          $"c".as("v")))
      .select($"source".as("phase"), $"n_docs".as("n_days"), $"mean_rank",
        $"h_stat", $"h_corrected", $"dof")
      .orderBy($"phase")

  /** Periodogram of the daily event-count series (q294; Schuster 1898 —
    * the classical hidden-periodicity scan): power at each candidate
    * period p ∈ [2, 30] days, normalized to shares, with the peak
    * flagged. The AMPLITUDE-AND-PERIOD companion to q276 (which TESTS
    * the lag-7 phase effect but can't find an unknown period) and the
    * rhythm detector behind q252's lag-7 choice — "is there a cycle,
    * and at what period?" asked of the data instead of assumed.
    *
    * Determinism: the series is the count-series kernel's zero-filled,
    * integer-centred days (y_t = T·x_t − Σx);
    * per-(t, p) trig factors quantize to 1e-9 BEFORE the multiply
    * (trig is the one libm call — and the angle is 2π·(t mod p)/p, the
    * exact integer mod keeping it inside [0, 2π) where libm argument
    * reduction cannot diverge across engines); each term y_t·trig9 is
    * an exact long×long product summed in DECIMAL(38,0). Power and
    * shares render from exact sums. Shape: the day frame × 29 periods
    * — a calendar-bounded grid, never corpus-proportional.
    */
  def periodogram(events: DataFrame): DataFrame = {
    val periods = events.sparkSession.range(2, 30 + 1).toDF("p")
    val grid = centred(zeroFilled(dailyCounts(events), "c"), "c")
      .select(($"d" - $"d0").as("t"), $"y_c".as("y"))
      .crossJoin(broadcast(periods))
    val twoPi = 6.283185307179586
    val ang = lit(twoPi) * pmod($"t", $"p").cast("double") / $"p"
    val sums = grid.groupBy($"p").agg(
      sum(dec($"y" * round(cos(ang) * 1e9, 0).cast("long"))).as("c9"),
      sum(dec($"y" * round(sin(ang) * 1e9, 0).cast("long"))).as("s9"))
    def cD(c: Column): Column = c.cast("double") / 1e9
    val pw = cD($"c9") * cD($"c9") + cD($"s9") * cD($"s9")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val t2 = sums
      .withColumn("pw6", round(pw / 1e6, 0).cast("decimal(38,0)"))
      .withColumn("tp", sum($"pw6").over(all))
      .withColumn("share", when($"tp" > 0L,
        round($"pw6".cast("double") / $"tp".cast("double"), 6)))
    val t3 = t2.withColumn("bs", max($"share").over(all))
    val t4 = t3.withColumn("bp", min(when($"share" === $"bs", $"p")).over(all))
    t4.select($"p".as("period_days"), $"share".as("power_share"),
      coalesce($"share" === $"bs" && $"p" === $"bp", lit(false)).as("is_peak"))
      .orderBy($"period_days")
  }

  /** Lead–lag cross-correlation between two event types' daily series
    * (q295): ccf(k) = corr(A_t, B_{t+k}) for k ∈ [−maxLag, +maxLag] —
    * "does click activity LEAD purchases, and by how many days?", the
    * two-series companion to q191's autocorrelation and the causal-
    * direction screen run before q250's DiD picks its periods. A peak
    * at positive k means A leads B by k days.
    *
    * Determinism: both series are integer-centred by the count-series
    * kernel over their SHARED zero-filled calendar, and each lag's
    * numerator is its exact DECIMAL lag-product sum over the overlapping
    * days; denominators are the full-series exact sums of squares; one
    * double division + sqrt renders each lag. Peak = max |ccf| (rounded 6), ties to the
    * smallest |k| then k asc — an exact packed ordering. Shape: one
    * corpus scan into the per-(day, type) counts; everything after
    * runs on the calendar-bounded day frame × (2·maxLag+1) lags.
    */
  def leadLagCcf(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase", maxLag: Int = 7): DataFrame = {
    // the packed peak key multiplies three slots into one long; the
    // slot widths are sized FROM maxLag below, and 2e6·(maxLag+1)·
    // (2·maxLag+1) must stay under Long.MaxValue
    require(maxLag >= 0 && maxLag <= 1000000,
      s"leadLagCcf: maxLag must be in [0, 1000000], got $maxLag")
    val daily = bucketCounts(
      events.filter($"event_type" === typeA || $"event_type" === typeB), NsPerDay, Nil,
      sum(when($"event_type" === typeA, 1L).otherwise(0L)).as("a"),
      sum(when($"event_type" === typeB, 1L).otherwise(0L)).as("b"))
    val cent = centred(zeroFilled(daily, "a", "b"), "a", "b").select($"d", $"y_a", $"y_b")
      .localCheckpoint() // ROADMAP item 4 (c): both lag-join sides and the denominators read it
    val den = cent.agg(sum(dec($"y_a" * $"y_a")).as("daa"),
      sum(dec($"y_b" * $"y_b")).as("dbb"))
    val lags = events.sparkSession.range(-maxLag.toLong, maxLag + 1L).toDF("k")
    val numJoin = lagProducts(cent, "y_a", "y_b", -maxLag, maxLag)
      .select($"lag".as("k"), $"num".as("nab"))
    val t2 = lags.join(numJoin, Seq("k"), "left_outer")
      .crossJoin(broadcast(den))
      .withColumn("ccf", when($"daa" > 0L && $"dbb" > 0L,
        round(coalesce($"nab", lit(BigDecimal(0))).cast("double") /
          sqrt($"daa".cast("double") * $"dbb".cast("double")), 6)))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // packed peak key: (-|ccf6|, |k|, k) lexicographic as one long, the
    // slot widths sized from maxLag (k+maxLag spans [0, 2·maxLag],
    // |k| spans [0, maxLag]) so NO parameter value can overflow a slot
    val ccf6 = round(abs($"ccf") * 1e6, 0).cast("long")
    val span = 2L * maxLag + 1L
    val key = ((lit(2000000L) - ccf6) * (maxLag + 1L) + abs($"k")) * span +
      ($"k" + maxLag.toLong)
    val t3 = t2.withColumn("key", when($"ccf".isNotNull, key))
      .withColumn("best", min($"key").over(all))
    t3.select($"k".as("lag_days"), $"ccf",
      coalesce($"key" === $"best", lit(false)).as("is_peak"))
      .orderBy($"lag_days")
  }

  /** Classical seasonal decomposition of the daily series with
    * STL-style strength measures (q296; the moving-average
    * decomposition of Persons 1919 + Hyndman's F_seasonal/F_trend):
    * trend = centered 7-day moving average (full windows only),
    * seasonal index = per-weekday mean of the detrended series,
    * residual = what neither explains; F_seasonal =
    * max(0, 1 − Var(R)/Var(S+R)) and F_trend = max(0, 1 −
    * Var(R)/Var(T+R)) summarize HOW MUCH of the series each component
    * carries — the decomposition q255's chart, q252's lag-7 forecast
    * and q294's period scan all implicitly assume, made explicit and
    * measured.
    *
    * Determinism: 7·detrended = 7x − Σ₇x is an EXACT integer
    * (window sums of counts); it micro-quantizes once per day, the
    * per-phase index is one mirrored double division, residuals are
    * exact long differences, and all variances come from exact
    * long/DECIMAL moments (squares multiply as DECIMAL — residuals can
    * square past the long ceiling) with one double render each. Shape:
    * everything after the daily count runs on its zero-filled calendar;
    * the output is the 7-row phase frame.
    */
  def seasonalDecomposition(events: DataFrame): DataFrame = {
    val w7 = Window.orderBy($"d").rowsBetween(-3, 3)
    val t1 = zeroFilled(dailyCounts(events), "c")
      .withColumn("t7", sum($"c").over(w7))
      .withColumn("nw", count(lit(1)).over(w7))
      .filter($"nw" === 7L)
      .withColumn("d6",
        round(($"c" * 7L - $"t7").cast("double") / 7.0 * 1e6, 0).cast("long"))
      .withColumn("phase", pmod($"d", lit(7L)))
    val sIdx = t1.groupBy($"phase")
      .agg(sum($"d6").as("sd6"), count(lit(1)).as("np"))
      .withColumn("s6", round($"sd6".cast("double") / $"np", 0).cast("long"))
    val t2 = t1.join(broadcast(sIdx.select($"phase", $"s6")), Seq("phase"))
      .withColumn("r6", $"d6" - $"s6")
      .withColumn("tr6", $"c" * 1000000L - $"s6")
    val m = t2.agg(count(lit(1)).as("n"),
      sum($"r6").as("sr"), sum(dec($"r6") * dec($"r6")).as("srr"),
      sum($"d6").as("sd"), sum(dec($"d6") * dec($"d6")).as("sdd"),
      sum($"tr6").as("st"), sum(dec($"tr6") * dec($"tr6")).as("stt"))
    def popVar(s2: Column, s1: Column, n: Column): Column =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / n
    val vR = popVar($"srr", $"sr", $"n")
    val vD = popVar($"sdd", $"sd", $"n")
    val vT = popVar($"stt", $"st", $"n")
    val strengths = m.select(
      when(vD > 0.0, round(greatest(lit(0.0), lit(1.0) - vR / vD), 4))
        .as("f_seasonal"),
      when(vT > 0.0, round(greatest(lit(0.0), lit(1.0) - vR / vT), 4))
        .as("f_trend"))
    sIdx.crossJoin(broadcast(strengths))
      .select($"phase", $"np".as("n_days"),
        round($"s6" / 1e6, 4).as("seasonal"),
        $"f_seasonal", $"f_trend")
      .orderBy($"phase")
  }

  /** Cochran–Armitage trend test (q298; Cochran 1954, Armitage 1955):
    * does conversion rise MONOTONICALLY with activity? q264's CMH
    * tests arm–conversion association CONTROLLING the activity strata;
    * this scores the strata themselves (w_b = the exact log₂ bucket
    * index, the q264/q288 device) and asks the dose–response question
    * — the one-degree-of-freedom test that beats an omnibus χ² exactly
    * when the alternative is ordered. T = Σ w(a_b − n_b·p̄),
    * Var = p̄(1−p̄)(Σw²n_b − (Σw·n_b)²/N). The response is the
    * HEAVY-PURCHASER flag (purchase share above the uniform 1/5, the
    * q288 exact integer test) — mere purchase PRESENCE is universal on
    * a dense stream and would degenerate p̄ to 1.
    *
    * All five aggregates (N, A, Σwn, Σw²n, Σwa) are exact longs from
    * ONE per-user scan + the bounded bucket frame; the finisher is a
    * mirrored double expression; two-sided p via the A&S kernel. A
    * perfectly flat dose–response gives T EXACTLY 0 (spec-pinned).
    */
  def cochranArmitage(events: DataFrame): DataFrame = {
    val perUser = events.groupBy($"user_id").agg(
      count(lit(1)).as("c"),
      sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("e"))
      .withColumn("y", ($"e" * 5L > $"c").cast("long"))
    val byB = perUser
      .select((length(bin($"c")) - 1).cast("long").as("w"), $"y")
      .groupBy($"w").agg(count(lit(1)).as("nb"), sum($"y").as("ab"))
    val m = byB.agg(sum($"nb").as("n"), sum($"ab").as("a"),
      sum($"w" * $"nb").as("swn"), sum($"w" * $"w" * $"nb").as("sw2n"),
      sum($"w" * $"ab").as("swa"), count(lit(1)).as("k"))
    val nD = $"n".cast("double")
    val pbar = $"a".cast("double") / nD
    val t = $"swa".cast("double") - $"swn".cast("double") * pbar
    val v = pbar * (lit(1.0) - pbar) *
      ($"sw2n".cast("double") - $"swn".cast("double") * $"swn" / nD)
    val z = t / sqrt(v)
    m.select($"n".as("n_users"), $"a".as("n_converted"), $"k".as("n_buckets"),
      round(t, 4).as("t_stat"),
      when(v > 0.0, round(z, 4)).as("z_trend"),
      when(v > 0.0,
        round(least(lit(2.0) * Inference.upperTail(abs(z)), lit(1.0)), 6))
        .as("p_value"))
  }

  /** Chapman capture–recapture population estimate (q299; Chapman 1951
    * — the bias-corrected Lincoln–Petersen): how many users EXIST,
    * including the ones we never saw? The two capture occasions are
    * the halves of the observed window (the q232 midpoint device);
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with Seber's se. The
    * population-size companion to Chao1 (q265 asks it of vocabulary,
    * this of the user base) and the honest denominator for any
    * "reach" metric. A closed world where every user appears in both
    * halves collapses to N̂ = n₁ EXACTLY (spec-pinned).
    *
    * All counts are exact (distinct-user sets per half, intersection
    * via both-halves flags on ONE per-user aggregate); the estimate
    * and se are single mirrored double expressions.
    */
  def captureRecapture(events: DataFrame): DataFrame = {
    val ev = events.select($"user_id", expr(s"ts div $NsPerDay").as("day"))
    val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy($"user_id").agg(
        max(when($"day" < $"mid", 1L).otherwise(0L)).as("h1"),
        max(when($"day" >= $"mid", 1L).otherwise(0L)).as("h2"))
    val m = perUser.agg(count(lit(1)).as("obs"),
      sum($"h1").as("n1"), sum($"h2").as("n2"),
      sum($"h1" * $"h2").as("mm"))
    def d(c: Column): Column = c.cast("double")
    val nHat = (d($"n1") + 1.0) * (d($"n2") + 1.0) / (d($"mm") + 1.0) - 1.0
    val se = sqrt((d($"n1") + 1.0) * (d($"n2") + 1.0) *
      (d($"n1") - d($"mm")) * (d($"n2") - d($"mm")) /
      ((d($"mm") + 1.0) * (d($"mm") + 1.0) * (d($"mm") + 2.0)))
    m.select($"n1".as("n_first_half"), $"n2".as("n_second_half"),
      $"mm".as("n_both"), $"obs".as("n_observed"),
      round(nHat, 2).as("n_hat"), round(se, 2).as("se"),
      round(nHat - $"obs", 2).as("undetected_hat"))
  }

  /** Negative-binomial fit for per-user event counts (q300;
    * Greenwood & Yule 1920's accident-proneness model by method of
    * moments): q260 FLAGS overdispersion; this QUANTIFIES the
    * corrected model — r = m²/(v−m), p = m/v per event type, the
    * parameters a rate simulation or an anomaly baseline actually
    * needs. The full user universe enters through the algebra
    * (zero-count users add 0 to both exact moments, the q260 device);
    * v ≤ m (at-or-under Poisson) pins r/p to NULL — a stated
    * convention, not a NaN.
    *
    * One corpus scan into per-(user, type) counts; exact long/DECIMAL
    * moments per type; two mirrored double divisions per row.
    */
  def negativeBinomialFit(events: DataFrame): DataFrame = {
    val users = events.select($"user_id").distinct().count()
    val perUT = events.groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("c"))
    val byT = perUT.groupBy($"event_type").agg(
      sum($"c").as("s1"), sum(dec($"c" * $"c")).as("s2"))
    val uD = lit(users).cast("double")
    val mean = $"s1".cast("double") / uD
    val v = ($"s2".cast("double") - $"s1".cast("double") * $"s1" / uD) / uD
    byT.select($"event_type", lit(users).as("n_users"),
      round(mean, 4).as("mean"),
      round(v, 4).as("variance"),
      when(v > mean, round(mean * mean / (v - mean), 4)).as("nb_r"),
      when(v > mean, round(mean / v, 6)).as("nb_p"))
      .orderBy($"event_type")
  }

  // ---- overdispersion panel (q260) ------------------------------------------

  /** Variance-to-mean dispersion panel per event type — "is per-user
    * traffic Poisson, or bursty?" asked with the dispersion index
    * D = s²/x̄ on per-user event counts over the FULL distinct-user
    * universe (a user with zero events of the type counts — dropping
    * them biases D up, the classic bug; zero rows contribute nothing to
    * either integer moment, so the zero-filled frame is implicit in the
    * algebra). The index test: (n−1)·D ~ χ²_{n−1} under Poisson, rendered
    * as the Wilson–Hilferty-free normal approximation
    * z = √(2χ²) − √(2(n−1)−1) (Fisher), good to ~0.01 beyond n ≈ 30.
    * The panel-level complement to q205's per-gap interarrival KS.
    *
    * One corpus scan into per-(type, user) counts, then per-type integer
    * moments (Σc, Σc² exact — counts are integers); the distinct-user
    * total broadcasts as one row. Flags compare rounded values.
    */
  def overdispersionPanel(events: DataFrame): DataFrame = {
    val perUser = events.groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("c"))
    val perType = perUser.groupBy($"event_type")
      .agg(count(lit(1)).as("n_active"), sum($"c").as("s"),
        sum(($"c" * $"c").cast("decimal(38,0)")).as("ss"))
    val users = events.agg(countDistinct($"user_id").as("n"))
    val base = perType.crossJoin(broadcast(users))
    val mean = $"s".cast("double") / $"n"
    val varS = ($"ss".cast("double") - $"s".cast("double") * $"s" / $"n") /
      ($"n" - 1L)
    val chi2 = ($"n" - 1L).cast("double") * varS / mean
    val zed = sqrt(lit(2.0) * chi2) -
      sqrt(lit(2.0) * ($"n" - 1L).cast("double") - lit(1.0))
    base
      .withColumn("z_raw",
        when($"n" > 1L && $"s" > 0L, zed))
      .select($"event_type", $"n".as("n_users"), $"n_active", $"s".as("n_events"),
        round(mean, 6).as("mean_per_user"),
        when($"n" > 1L && $"s" > 0L, round(varS / mean, 4)).as("vmr"),
        round($"z_raw", 4).as("z_score"),
        (coalesce(round($"z_raw", 4), lit(0.0)) > lit(1.6449)).as("overdispersed"))
      .orderBy($"event_type")
  }

  // ---- retention decay fit (q270) ---------------------------------------------

  /** Exponential retention-decay fit over the pooled q75 cohort
    * triangle (q270): pooled retention rate(offset) = Σ_cohorts
    * active(offset) / Σ_cohorts size, then least squares of
    * ln(rate) on the day offset — slope is the daily decay rate,
    * −ln2/slope the retention half-life, r² the "is it actually
    * exponential" check (a power-law/heavy-tail retention shows up as
    * low r², the signal to NOT quote a half-life). q75 reports the
    * raw triangle; this is the one-row summary a dashboard quotes.
    *
    * The regression runs over the OFFSET frame (calendar-bounded);
    * ln(rate) is micro-quantized per offset BEFORE the Σy/Σxy/Σy²
    * sums (exact long arithmetic, order-free — the q245 discipline
    * applied to a regression), and one double expression renders
    * slope/intercept/r². Offsets with zero active users are excluded
    * (ln 0), loudly visible in n_points.
    */
  def retentionDecayFit(events: DataFrame): DataFrame = {
    val activity = events
      .select($"user_id", expr(s"ts div $NsPerDay").as("day"))
      .distinct()
    val cohorts = activity.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val tri = activity
      .join(cohorts, Seq("user_id"))
      .groupBy($"cohort_day", ($"day" - $"cohort_day").as("off"))
      .agg(count(lit(1)).as("n"))
    val sizes = tri.filter($"off" === 0L)
      .select($"cohort_day", $"n".as("size"))
    // pooled rate per offset >= 1, only over cohorts OLD enough to have
    // reached that offset (frontier-censored denominators — pooling
    // young cohorts into old offsets biases the tail down)
    val frontier = tri.agg(max($"cohort_day" + $"off").as("mx"))
    val act = tri.filter($"off" >= 1L)
      .groupBy($"off").agg(sum($"n").as("act"))
    val offFrame = sizes.crossJoin(broadcast(frontier))
      .select($"cohort_day", $"size", ($"mx" - $"cohort_day").as("max_off"))
      .filter($"max_off" >= 1L)
      .select(explode(sequence(lit(1L), $"max_off")).as("off"), $"size")
      .groupBy($"off").agg(sum($"size").as("den"))
      .join(act, Seq("off"), "left_outer")
      .select($"off", $"den", coalesce($"act", lit(0L)).as("act"))
      .filter($"act" > 0L)
      .withColumn("y6", round(log($"act".cast("double") / $"den") * 1e6, 0)
        .cast("long"))
    val agg = offFrame.agg(
      count(lit(1)).as("np"), sum($"off").as("sx"),
      sum(($"off" * $"off").cast("decimal(38,0)")).as("sxx"),
      sum($"y6").as("sy"),
      sum(($"off" * $"y6").cast("decimal(38,0)")).as("sxy"),
      sum(($"y6" * $"y6").cast("decimal(38,0)")).as("syy"))
    val nD = $"np".cast("double")
    val denomX = nD * $"sxx".cast("double") - $"sx".cast("double") * $"sx"
    val slope6 = (nD * $"sxy".cast("double")
      - $"sx".cast("double") * $"sy") / denomX
    val icpt6 = ($"sy".cast("double") - slope6 * $"sx") / nD
    val covN = nD * $"sxy".cast("double") - $"sx".cast("double") * $"sy"
    val varY = nD * $"syy".cast("double") - $"sy".cast("double") * $"sy"
    agg
      .withColumn("slope_raw", slope6 / lit(1000000.0))
      .select($"np".as("n_points"),
        round($"slope_raw", 6).as("slope_per_day"),
        round(icpt6 / lit(1000000.0), 6).as("intercept"),
        when($"slope_raw" < 0.0,
          round(-log(lit(2.0)) / $"slope_raw", 4)).as("half_life_days"),
        when(denomX > 0.0 && varY > 0.0,
          round(covN * covN / (denomX * varY), 6)).as("r2"))
  }

  // ---- distribution-free median CI (q271) --------------------------------------

  /** Order-statistic confidence interval for the per-type median value
    * (q271; the textbook distribution-free interval): the CI for the
    * median is (X₍ₖₗ₎, X₍ₖᵤ₎) with kl = ⌊(n − 1.96√n)/2⌋ and
    * ku = ⌈1 + (n + 1.96√n)/2⌉ — NO distributional assumption, exact
    * order statistics. The companion error bar to q135/q217's robust
    * location estimates: a median without an interval invites the same
    * overreach as q189's AUC did before q266.
    *
    * Ranks are selected on the per-type DISTINCT-VALUE frame with
    * prefix counts (the q87/q247 machinery — the k-th order statistic
    * is the first value whose cumulative count reaches k), so nothing
    * corpus-sized is ever sorted or collected; values are exact 1e-4
    * micro-units. The median itself uses the same rank form (lower
    * median at k = ⌈n/2⌉), so all three outputs come from one
    * windowed pass over the value frame.
    */
  def medianCi(events: DataFrame): DataFrame =
    medianOrderStats(events.select($"event_type", valueMicro.as("vm")), Seq("event_type"))
      .select($"event_type", $"n",
        round($"med_m" / lit(10000.0), 4).as("median"),
        round($"lo_m" / lit(10000.0), 4).as("lo95"),
        round($"hi_m" / lit(10000.0), 4).as("hi95"))
      .orderBy($"event_type")

  /** The median and its distribution-free 95% order-statistic CI per
    * group of `keys` over the micro-unit values `vm` of `rows`, as (keys,
    * n, med_m, lo_m, hi_m): the order statistics X₍ₖ₎ at the lower-median
    * rank k = ⌈n/2⌉ and at kl = ⌊(n − 1.96√n)/2⌋, ku = ⌈1 + (n + 1.96√n)/2⌉,
    * clamped into [1, n]. Each is the first distinct value whose prefix
    * count reaches its rank, one windowed pass over the per-group
    * distinct-value frame.
    */
  private def medianOrderStats(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val g = keys.map(col)
    val byGroup = Window.partitionBy(g: _*)
    val byVal = rows.groupBy(g :+ $"vm": _*).agg(count(lit(1)).as("c"))
    val cum = byVal
      .withColumn("cc", sum($"c").over(byGroup.orderBy($"vm")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum($"c").over(byGroup))
    // integer-safe ranks: 1.96·√n rendered once in double, floored and
    // ceiled into exact ranks, clamped into [1, n]
    val half = lit(1.96) * sqrt($"n".cast("double"))
    val kMed = ceil($"n".cast("double") / lit(2.0)).cast("long")
    val kLo = greatest(floor(($"n".cast("double") - half) / lit(2.0))
      .cast("long"), lit(1L))
    val kHi = least(ceil(lit(1.0) + ($"n".cast("double") + half) / lit(2.0))
      .cast("long"), $"n")
    val picks = Seq(kMed -> "med_m", kLo -> "lo_m", kHi -> "hi_m").map { case (k, name) =>
      min(when($"cc" >= k, $"vm")).over(byGroup).as(name)
    }
    cum
      .select(g ++ ($"n" +: picks): _*)
      .groupBy(g: _*)
      .agg(max($"n").as("n"), max($"med_m").as("med_m"),
        max($"lo_m").as("lo_m"), max($"hi_m").as("hi_m"))
  }

  // ---- seeded permutation test (q267) ----------------------------------------

  /** Permutation test of the arm difference in per-user metric totals
    * (q267; Fisher 1935 / Ernst 2004): the EXACT-logic complement to
    * q192's Welch z — no normality, no variance formula, just the null
    * "labels don't matter" made operational by re-randomizing them. B
    * deterministic relabelings arm_b(u) = md5(u ‖ ':' ‖ b) mod 2 (a
    * fresh fair coin per b, independent of the observed md5 coin and of
    * each other by hash independence); p = (1 + #{|d_b| ≥ |d_obs|}) /
    * (B+1), the add-one form that is exact-level for a randomization
    * test. Comparisons run on values ROUNDED to 6 (the q246 discipline).
    *
    * Scale shape: ONE corpus scan to the per-user metric frame, then a
    * users×B exploded relabeling that map-side-combines straight back
    * down to B rows of integer moments — embarrassingly parallel, no
    * per-permutation pass (the naive B-scan implementation is the
    * anti-pattern). B is a dial: variance of the p estimate is
    * p(1−p)/B, so B = 64 resolves p ≈ 0.05 to ±0.03 — raise it for
    * tighter panels; cost is linear in B.
    */
  def permutationTest(events: DataFrame): DataFrame = {
    val b = 64
    val perUser = events.groupBy($"user_id").agg(
      sum(when($"event_type" === "purchase", valueMicro).otherwise(0L)).as("vm"))
      .localCheckpoint() // ROADMAP item 4 (c): the observed pass and the B passes read it
    def armAgg(df: DataFrame, grp: Seq[Column]): DataFrame =
      df.groupBy(grp: _*).agg(
        armSum(0L, lit(1L)).as("na"), armSum(0L, $"vm").as("sa"),
        armSum(1L, lit(1L)).as("nb"), armSum(1L, $"vm").as("sb"))
    def dAbs: Column = when($"na" > 0L && $"nb" > 0L,
      abs($"sa".cast("double") / $"na" - $"sb".cast("double") / $"nb"))
    val obs = armAgg(perUser
        .select(userArm, $"vm"),
        Seq.empty)
      .withColumn("d_obs", dAbs)
    val perms = armAgg(perUser
        .select(explode(sequence(lit(1), lit(b))).as("bi"), $"user_id", $"vm")
        .select($"bi",
          Scale.md5SlicePos(
            concat($"user_id".cast("string"), lit(":"), $"bi".cast("string")),
            0, 2).as("arm"), $"vm"),
        Seq($"bi"))
      .withColumn("d_b", dAbs)
    // the observed diff broadcasts as one row into the null aggregate
    val joined = perms.crossJoin(broadcast(obs.select($"d_obs".as("od"),
        ($"na" + $"nb").as("n_users"), $"na".as("n_a"), $"nb".as("n_b"),
        $"sa".as("s_a"), $"sb".as("s_b"))))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(round($"d_b", 6) >= round($"od", 6), 1L).otherwise(0L))
          .as("ge"),
        max($"od").as("od"), max($"n_users").as("n_users"),
        max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        max($"s_a").as("s_a"), max($"s_b").as("s_b"))
    joined.select($"n_users", $"n_a", $"n_b",
      round($"s_a".cast("double") / $"n_a" / 10000.0, 4).as("mean_a"),
      round($"s_b".cast("double") / $"n_b" / 10000.0, 4).as("mean_b"),
      round($"od" / 10000.0, 4).as("d_obs"),
      $"n_perms",
      round(($"ge" + 1L).cast("double") / ($"n_perms" + 1L), 6).as("p_perm"))
  }

  // ---- Cochran–Mantel–Haenszel stratified test (q264) ------------------------

  /** Cochran–Mantel–Haenszel test of arm × conversion association
    * STRATIFIED by user activity (Mantel & Haenszel 1959) — the
    * confounder-robust companion to q192/q250: heavy users both convert
    * more and dominate any naive pooled 2×2, so a pooled test can
    * manufacture (or mask) an effect that vanishes within every
    * activity stratum (Simpson's reversal); CMH combines the per-stratum
    * evidence instead. Strata = floor(log₂(events per user)) — the q160
    * exact `bin()` bucket, no float log; arm = the q192 md5 coin;
    * conversion = the user fired ≥ 1 purchase.
    *
    * Per stratum k: a_k (arm-0 converters) has E[a_k] = n1_k·m1_k/N_k
    * and Var = n1_k·n2_k·m1_k·(N_k−m1_k)/(N_k²·(N_k−1)) under the
    * margins-fixed null; z = Σ(a_k−E_k)/√(ΣV_k). The E and V doubles
    * are micro-quantized per stratum before the cross-stratum sums (the
    * q245 discipline). Output: one row per stratum (its own 2×2 and
    * conversion gap) with the pooled z/χ² on every row — the grid
    * convention. One corpus scan into per-user rows, then a
    * strata-bounded rollup; degenerate strata (N_k < 2 or empty margin)
    * contribute zero to both sums, loudly visible as NULL per-stratum
    * columns rather than silently skewing the pool.
    */
  def cmhStratified(events: DataFrame): DataFrame = {
    val perUser = events.groupBy($"user_id").agg(
      count(lit(1)).as("c"),
      sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("np"))
    val rows = perUser.select(
      (length(bin($"c")) - 1).cast("long").as("stratum"),
      userArm,
      when($"np" > 0L, 1L).otherwise(0L).as("conv"))
    val per = rows.groupBy($"stratum").agg(
      armSum(0L, lit(1L)).as("n1"), armSum(1L, lit(1L)).as("n2"),
      armSum(0L, $"conv").as("a"),
      sum($"conv").as("m1"))
    val nk = $"n1" + $"n2"
    val e = $"n1".cast("double") * $"m1" / nk
    val v = $"n1".cast("double") * $"n2" * $"m1" * (nk - $"m1") /
      (nk.cast("double") * nk * (nk - 1L))
    val ok = nk > 1L && $"m1" > 0L && $"m1" < nk
    val scored = per
      .withColumn("e_k", when(ok, round(e, 4)))
      .withColumn("d6", when(ok, round(($"a" - e) * lit(1000000.0), 0)
        .cast("long")).otherwise(0L))
      .withColumn("v6", when(ok, round(v * lit(1000000.0), 0).cast("long"))
        .otherwise(0L))
    val wAll = Window.partitionBy()
    val sumD = sum($"d6").over(wAll).cast("double") / lit(1000000.0)
    val sumV = sum($"v6").over(wAll).cast("double") / lit(1000000.0)
    scored
      .withColumn("z_pooled",
        when(sum($"v6").over(wAll) > 0L, round(sumD / sqrt(sumV), 4)))
      .select($"stratum", $"n1", $"n2", $"a".as("conv_arm0"),
        ($"m1" - $"a").as("conv_arm1"), $"e_k".as("expected_arm0"),
        when($"n1" > 0L && $"n2" > 0L,
          round($"a".cast("double") / $"n1"
            - ($"m1" - $"a").cast("double") / $"n2", 4)).as("rate_gap"),
        $"z_pooled")
      .orderBy($"stratum")
  }

  // ---- Holt linear-trend forecast (q261) -------------------------------------

  /** Holt double-exponential (level + trend) forecast of the daily count
    * series, scored on the trailing week (Holt 1957; Hyndman & Koehler
    * 2006 for the MASE yardstick) — the TREND-aware baseline beside
    * q252's seasonal-naive: a drifting series defeats lag-7, Holt tracks
    * it. Textbook init l₁ = x₁, b₁ = x₂ − x₁; the recurrence
    * l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t − l_{t−1}) +
    * (1−β)b_{t−1} folds ONCE over x₂..x_ntr (x₂ IS folded — the init
    * state is at t = 1; starting the fold at x₃ silently skips one
    * observation and an exactly-linear series no longer locks, the spec's
    * canary). State is carried in a struct; the new level appears twice
    * in the trend line and is recomputed inline identically on both
    * engines. Forecasts ŷ_{T+h} = l + h·b score
    * MAE/MASE on the 7 held-out days; MASE scales by the in-sample lag-1
    * naive MAE (exact integer |Δ| sums).
    *
    * Scale shape: one corpus-proportional daily aggregate; the fold is
    * O(T) over the calendar-bounded array, once (not per day — only the
    * final state forecasts).
    */
  def holtForecastEval(events: DataFrame): DataFrame = {
    val alpha = 0.3
    val beta = 0.1
    val horizon = 7
    val al = lit(alpha); val oma = lit(1.0 - alpha)
    val be = lit(beta); val omb = lit(1.0 - beta)
    val packed = dailyCounts(events).agg(
      array_sort(collect_list(struct($"d", $"c"))).as("a"),
      count(lit(1)).as("t"))
      .withColumn("cs", transform($"a", e => e.getField("c").cast("double")))
      .withColumn("ntr", ($"t" - horizon).cast("int"))
    // struct-element fold (x unused in state, l/b unused in elements) so
    // the SAME fold types in both engines; new-level recomputed inline
    def newL(acc: Column, x: Column): Column =
      al * x.getField("x") + oma * (acc.getField("l") + acc.getField("b"))
    val init = struct(lit(0.0).as("x"), element_at($"cs", 1).as("l"),
      (element_at($"cs", 2) - element_at($"cs", 1)).as("b"))
    val elems = transform(slice($"cs", lit(2), greatest($"ntr" - 1, lit(0))),
      x => struct(x.as("x"), lit(0.0).as("l"), lit(0.0).as("b")))
    val folded = aggregate(elems, init, (acc, e) => struct(
      e.getField("x").as("x"),
      newL(acc, e).as("l"),
      (be * (newL(acc, e) - acc.getField("l")) + omb * acc.getField("b"))
        .as("b")))
    // in-sample lag-1 naive MAE over the train prefix (exact integer sums)
    val naive = aggregate(
      transform(sequence(lit(2), $"ntr"),
        j => abs(element_at($"cs", j) - element_at($"cs", j - 1))),
      lit(0.0), (acc, x) => acc + x)
    // trailing-week absolute errors of ŷ = l + h·b
    val testAe = aggregate(
      transform(sequence(lit(1), lit(horizon)),
        h => abs(element_at($"cs", $"ntr" + h)
          - ($"lvl" + h.cast("double") * $"trd"))),
      lit(0.0), (acc, x) => acc + x)
    packed
      .filter($"ntr" >= 3)
      .withColumn("st", folded)
      .withColumn("lvl", $"st".getField("l"))
      .withColumn("trd", $"st".getField("b"))
      .withColumn("sae_naive", naive)
      .withColumn("sae_test", testAe)
      .select($"ntr".cast("long").as("n_train"), lit(horizon.toLong).as("n_test"),
        round($"lvl", 4).as("level"), round($"trd", 4).as("trend"),
        round($"sae_test" / lit(horizon.toDouble), 4).as("mae_test"),
        when($"sae_naive" > 0.0,
          round(($"sae_test" / lit(horizon.toDouble))
            / ($"sae_naive" / ($"ntr" - 1L).cast("double")), 6)).as("mase"))
  }
}
