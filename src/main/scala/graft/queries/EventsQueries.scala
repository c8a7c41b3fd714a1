package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Events
import graft.sources.Tables
import graft.OracleHelpers._

/** Events family queries: event/statistics: sessions, funnels, SCD2, ACF/CUSUM/Welch/KS, A/B.
  * SparkEntry concatenates the families and asserts the key sets stay
  * disjoint and aligned.
  */
private[graft] object EventsQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_events_hourly"    -> ((s, d) => Events.hourlyAgg(Tables.events(s, d))),
    "q33_sessionize"       -> ((s, d) => Events.sessionize(Tables.events(s, d))),
    "q34_type_profile"     -> ((s, d) => Events.typeProfile(Tables.events(s, d))),
    "q52_session_window" -> ((s, d) => Events.sessionWindowAgg(Tables.events(s, d))),
    "q64_value_zscore"  -> ((s, d) => Events.valueZscore(Tables.events(s, d))),
    // cohort retention triangle over the events stream
    "q75_retention" -> ((s, d) => Events.retentionCohorts(Tables.events(s, d))),
    // signup -> purchase conversion within 24h of first signup
    "q76_signup_funnel" -> ((s, d) => Events.signupFunnel(Tables.events(s, d))),
    // RANGE-frame trailing-window outliers, exact-integer decision rule
    "q80_value_anomalies" -> ((s, d) => Events.valueAnomalies(Tables.events(s, d))),
    // CDC latest-wins compaction via max(struct) — no window sort
    "q81_latest_event" -> ((s, d) => Events.latestByUser(Tables.events(s, d))),
    // mergeable bottom-k quantile sketch — deterministic, hence
    // oracle-EXACT (the quantile counterpart of q54's KMV; contrast q38's
    // approx_percentile, envelope-checked by design)
    "q87_quantile_sketch" -> ((s, d) => Events.quantileSketch(Tables.events(s, d))),
    // first-order Markov transition matrix over in-session event pairs
    "q123_transitions" -> ((s, d) => Events.sessionTransitions(Tables.events(s, d))),
    // trailing 7-day active users from mergeable daily KMV sketches
    "q128_sliding_dau" -> ((s, d) => Events.slidingDistinctUsers(Tables.events(s, d))),
    // SCD2 dimension history: per-user event_type change intervals
    "q129_scd2_history" -> ((s, d) => Events.scd2History(Tables.events(s, d))),
    // top 3-step in-session event-type paths (the walk-level complement
    // of q123's edge-level matrix)
    "q132_top_paths" -> ((s, d) => Events.topSessionPaths(Tables.events(s, d))),
    // robust outliers: median/MAD rule (q80's heavy-tail-safe complement)
    "q135_mad_outliers" -> ((s, d) => Events.madOutliers(Tables.events(s, d))),
    // hourly-count ACF at lags 1..24 (complete series, zeros for absent
    // hours): integer centered products, corpus touched once
    "q191_hourly_acf" -> ((s, d) => Events.hourlyAutocorrelation(Tables.events(s, d))),
    // Welch z on purchase value over a deterministic md5 A/A user
    // split: exact integer micro-unit moments into one boundary formula
    "q192_ab_test" -> ((s, d) => Events.abValueTest(Tables.events(s, d))),
    // Page's CUSUM on the daily mean value via the prefix-sum minus
    // running-min closed form: sequential monitor, one-pass windows
    // over the aggregate-sized day frame, exact integer micro-units
    "q193_cusum_drift" -> ((s, d) => Events.cusumDriftDays(Tables.events(s, d))),
    // first-touch session attribution: purchases credited to the event
    // type that opened the session; micro-unit value, two-level agg
    "q195_attribution" -> ((s, d) => Events.sessionAttribution(Tables.events(s, d))),
    // Mann-Kendall tie-adjusted trend z + Theil-Sen median slope over
    // the daily means: the robust complement to q193's CUSUM
    "q201_trend_test" -> ((s, d) => Events.trendTest(Tables.events(s, d))),
    // level-2 association rules over session baskets: exact pair
    // supports and lift from the distinct (session, type) frame
    "q204_basket_lift" -> ((s, d) => Events.basketLift(Tables.events(s, d))),
    // KS test of user inter-arrival gaps vs the exponential model:
    // pooled MLE rate, two-phase ranks, per-row 1e-6-quantized terms
    "q205_interarrival_ks" -> ((s, d) => Events.interArrivalFit(Tables.events(s, d))),
    // robust per-type means: raw vs winsorized (tails clamped to the exact
    // integerized [p05, p95] cents cuts) vs trimmed (tails dropped) — both
    // cuts from ONE bounded histogram pass, all means exact integer sums
    "q217_winsorized_stats" -> ((s, d) => Events.winsorizedValueStats(Tables.events(s, d))),
    // population-relative rate outliers: users whose median inter-event
    // gap falls in the fastest decile of the per-user median distribution
    "q218_rate_outliers" -> ((s, d) => Events.rateOutliers(Tables.events(s, d))),
    // watermark lateness audit under the derived delayed-client arrival
    // schedule: two-phase prefix max, Structured Streaming's drop rule
    "q220_late_arrivals" -> ((s, d) => Events.lateArrivalAudit(Tables.events(s, d))),
    // sample-ratio-mismatch guardrail on the q192 md5 arm hash: distinct
    // users per arm, 1-df chi2 against 50/50, 5% flag
    "q221_srm_check" -> ((s, d) => Events.srmCheck(Tables.events(s, d))),
    // signup -> first-purchase activation: conversion rate + latency
    // percentile panel from one bounded histogram pass
    "q222_conversion_latency" -> ((s, d) => Events.conversionLatency(Tables.events(s, d))),
    // ordered 3-step funnel (any events in between, frontier-chained
    // per-user minima): reached users + share of entrants per step
    "q224_ordered_funnel" -> ((s, d) => Events.orderedFunnel(Tables.events(s, d))),
    // q128's sketch algebra through the DISK contract (q227's pattern for
    // sketches): per-(event_type, day) bottom-k KMV shards are WRITTEN to
    // parquet in two day-disjoint slices, and span-wide distinct users are
    // served from the files — no event rescanned; oracle recomputes from
    // raw events, so the gate proves write+read+merge == recompute
    "q228_sketch_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      val ev = Tables.events(s, d)
      val dir = graft.sources.Scratch.dir("graft_sketch_shards")
      // the two day-disjoint slice writes are independent — overlapped (§2.6)
      graft.operators.Scale.inParallel(
        () => Events.writeDailySketches(
          ev.filter(expr("(ts div 86400000000000) % 2 = 0")), s"$dir/even"),
        () => Events.writeDailySketches(
          ev.filter(expr("(ts div 86400000000000) % 2 = 1")), s"$dir/odd"))
      Events.distinctUsersFromSketchFiles(s, Seq(s"$dir/even", s"$dir/odd"))
    }),
    // CUPED variance-reduced A/B readout: pre-period purchase value as
    // the covariate, raw and adjusted means/z plus theta and the
    // achieved variance reduction
    "q232_cuped" -> ((s, d) => Events.cupedAbTest(Tables.events(s, d))),
    // Kaplan-Meier product-limit time-to-conversion: never-converted
    // signups censored at the frontier; quantized-log running product
    "q235_survival_km" -> ((s, d) => Events.survivalCurve(Tables.events(s, d))),
    // ordered motif census over ALL type triples (greedy-earliest
    // subsequence rule): the exploratory complement of q224's one funnel
    "q236_motif_census" -> ((s, d) => Events.motifCensus(Tables.events(s, d))),
    // always-valid (anytime) A/B p-value via the mixture SPRT: the
    // peeking-proof sequential complement of q192's fixed-horizon z
    "q237_msprt" -> ((s, d) => Events.msprtMonitor(Tables.events(s, d))),
    // EWMA control chart on daily counts: finite-t variance band, the
    // drift monitor beside q193's step-shift CUSUM; engine-side prefix
    // fold over the calendar-bounded day array
    "q255_ewma_control" -> ((s, d) => Events.ewmaControl(Tables.events(s, d))),
    // retrospective single changepoint: standardized CUSUM supremum with
    // exact integer numerators, Brownian-bridge (Kolmogorov) p-value
    "q259_changepoint" -> ((s, d) => Events.changepointScan(Tables.events(s, d))),
    // per-type variance-to-mean dispersion vs Poisson over the full
    // distinct-user universe; Fisher sqrt(2*chi2) normal rendering
    "q260_overdispersion" -> ((s, d) =>
      Events.overdispersionPanel(Tables.events(s, d))),
    // Holt level+trend forecast folded once over the train prefix,
    // MAE/MASE on the trailing week (the trend-aware q252 baseline)
    "q261_holt_forecast" -> ((s, d) => Events.holtForecastEval(Tables.events(s, d))),
    // Cochran-Mantel-Haenszel arm x conversion test stratified by the
    // exact log2 activity bucket — the Simpson-proof pooled readout
    "q264_cmh" -> ((s, d) => Events.cmhStratified(Tables.events(s, d))),
    // seeded permutation test: 64 deterministic md5 relabelings, exact
    // add-one p — the assumption-free complement to q192's Welch z
    "q267_permutation_test" -> ((s, d) =>
      Events.permutationTest(Tables.events(s, d))),
    // exponential decay fit of the pooled q75 retention triangle:
    // frontier-censored denominators, micro-quantized log regression
    "q270_retention_fit" -> ((s, d) =>
      Events.retentionDecayFit(Tables.events(s, d))),
    // distribution-free median CI from order statistics on the
    // per-type distinct-value frame (no sort, no collect)
    "q271_median_ci" -> ((s, d) => Events.medianCi(Tables.events(s, d))),
    // q87's quantile sketch through the DISK contract (the q228 pattern
    // for quantiles): per-(type, day) bottom-256 shards written in two
    // day-disjoint slices, percentiles served from the files alone —
    // oracle recomputes from raw events (write+read+merge == recompute)
    "q272_persisted_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.functions.expr
      val ev = Tables.events(s, d)
      val dir = graft.sources.Scratch.dir("graft_qsk_shards")
      // the two day-disjoint slice writes are independent — overlapped (§2.6)
      graft.operators.Scale.inParallel(
        () => Events.writeDailyQuantileSketches(
          ev.filter(expr("(ts div 86400000000000) % 2 = 0")), s"$dir/even"),
        () => Events.writeDailyQuantileSketches(
          ev.filter(expr("(ts div 86400000000000) % 2 = 1")), s"$dir/odd"))
      Events.quantilesFromSketchFiles(s, Seq(s"$dir/even", s"$dir/odd"))
    }),
    // per-arm median QTE with order-statistic CIs: the heavy-tail-robust
    // complement to q192's mean difference
    "q274_qte" -> ((s, d) => Events.quantileTreatmentEffect(Tables.events(s, d))),
    // q259 composed across the type catalog + q246's BH step-up: which
    // series changed and when, at a controlled FDR
    "q275_changepoint_panel" -> ((s, d) =>
      Events.changepointPanel(Tables.events(s, d))),
    // weekly-seasonality Kruskal-Wallis across day phases (d mod 7) on
    // daily counts — the test behind q252's lag-7 assumption
    "q276_weekday_effect" -> ((s, d) => Events.weekdayEffect(Tables.events(s, d))),
    // Newey-West HAC standard error of the daily mean (Bartlett L=7):
    // the honest error bar under the autocorrelation q191 measures
    "q277_newey_west" -> ((s, d) => Events.neweyWestSe(Tables.events(s, d))),
    // minimal detectable effect at 5%/80% for the q192 design — the
    // "is this test big enough" planning readout on the shared moments
    "q279_mde" -> ((s, d) => Events.mdeReadout(Tables.events(s, d))),
    // Hill tail index over the top-sqrt(n) purchase order statistics:
    // "does this metric have a finite variance" (alpha > 2), the
    // precondition every mean-based A/B readout assumes
    "q285_hill_tail" -> ((s, d) => Events.hillTailIndex(Tables.events(s, d))),
    // stationary distribution of the q123 session-transition chain via
    // exact-integer power iteration (no float until the final divide)
    "q286_markov_stationary" -> ((s, d) =>
      Events.markovStationary(Tables.events(s, d))),
    // propensity-stratified effect of an observational exposure
    // (error -> spend), activity-bucket strata, naive gap beside it
    "q288_stratified_ate" -> ((s, d) =>
      Events.stratifiedAte(Tables.events(s, d))),
    // entropy rate of the transition chain: how predictable is the
    // next action (bits/step + normalized predictability)
    "q293_markov_entropy" -> ((s, d) =>
      Events.markovEntropyRate(Tables.events(s, d))),
    // periodogram of the daily series: the period DETECTOR behind
    // q252's lag-7 assumption and q276's phase test
    "q294_periodogram" -> ((s, d) => Events.periodogram(Tables.events(s, d))),
    // lead-lag cross-correlation of two types' daily series: does
    // click activity lead purchases, and by how many days
    "q295_lead_lag" -> ((s, d) => Events.leadLagCcf(Tables.events(s, d))),
    // classical 7-day decomposition + STL strength measures: how much
    // of the series the trend and the weekday rhythm each carry
    "q296_seasonal_decomp" -> ((s, d) =>
      Events.seasonalDecomposition(Tables.events(s, d))),
    // Chapman capture-recapture over the window halves: how many users
    // exist, including the never-seen (the q265 question of the user base)
    "q299_capture_recapture" -> ((s, d) =>
      Events.captureRecapture(Tables.events(s, d))),
    // negative-binomial method-of-moments fit per type: q260 flags
    // overdispersion, this quantifies the corrected model
    "q300_negbin_fit" -> ((s, d) =>
      Events.negativeBinomialFit(Tables.events(s, d))),
  )

  /** The q286/q293 shared oracle chain: session transition counts, row
    * sums, and the 24-step exact-integer power iteration unrolled as
    * MATERIALIZED CTEs (ends with `s24`, `tot`, a 25th step `s25` and
    * the convergence residual `resid(r9)`; `srcs`, `rs`, `mm` in
    * scope — q293 leaves `s25`/`resid` unreferenced).
    */
  private lazy val markovChainCtes: String = {
    def step(i: Int) =
      s"""s$i AS MATERIALIZED (
         |  SELECT mat.dst AS t,
         |    CAST(sum((2 * p.s * mat.c + rs.r) // (2 * rs.r)) AS HUGEINT) AS s
         |  FROM s${i - 1} p
         |  JOIN mat ON mat.src = p.t
         |  JOIN rs ON rs.src = p.t
         |  GROUP BY 1
         |)""".stripMargin
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lead(event_type) OVER w AS next_type,
       |    epoch_ns(ts) AS tns,
       |    lead(epoch_ns(ts)) OVER w AS next_tns
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
       |),
       |mat AS MATERIALIZED (
       |  SELECT event_type AS src, next_type AS dst,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM seq
       |  WHERE next_type IS NOT NULL AND next_tns - tns <= 1800000000000
       |  GROUP BY 1, 2
       |),
       |srcs AS (SELECT DISTINCT src FROM mat),
       |rs AS MATERIALIZED (
       |  SELECT src, CAST(sum(c) AS BIGINT) AS r FROM mat GROUP BY 1
       |),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM srcs),
       |s0 AS MATERIALIZED (
       |  SELECT src AS t, CAST(1000000000 // mm.m AS HUGEINT) AS s
       |  FROM srcs, mm
       |),
       |${(1 to 25).map(step).mkString(",\n")},
       |tot AS (SELECT sum(s) AS tot FROM s24),
       |resid AS (
       |  SELECT CAST(max(abs(coalesce(a.s, 0) - coalesce(b.s, 0))) AS BIGINT) AS r9
       |  FROM srcs
       |  LEFT JOIN s25 a ON a.t = srcs.src
       |  LEFT JOIN s24 b ON b.t = srcs.src
       |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q32_events_hourly" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q33_sessionize" ->
      s"""WITH $SessionCtes,
         |sessions AS (
         |  SELECT user_id, session_seq, count(*) AS n_events,
         |    round(sum(value), 2) AS session_value
         |  FROM numbered GROUP BY 1, 2
         |)
         |SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions,
         | max(n_events) AS max_session_events,
         | round(sum(session_value), 2) AS total_value
         |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q34_type_profile" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(value), 4) AS avg_value,
        | round(quantile_cont(value, 0.5), 4) AS p50,
        | round(quantile_cont(value, 0.95), 4) AS p95,
        | round(stddev_samp(value), 4) AS sd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q52_session_window" ->
      s"""WITH $SessionCtes
         |SELECT user_id,
         | (min(epoch_ns(ts)) // 1000000000) AS session_start,
         | count(*) AS n_events,
         | round(sum(value), 2) AS session_value
         |FROM numbered GROUP BY user_id, session_seq
         |ORDER BY user_id, session_start""".stripMargin,
    "q64_value_zscore" ->
      """WITH stats AS (
        |  SELECT event_type, round(avg(value), 6) AS mu,
        |    round(stddev_samp(value), 6) AS sd
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_id, event_type, round((value - mu) / sd, 4) AS z
        |FROM events JOIN stats USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q75_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |),
        |cohorts AS (SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id)
        |SELECT cohort_day * 86400 AS cohort_epoch, day - cohort_day AS day_offset,
        | count(*) AS n_users
        |FROM activity JOIN cohorts USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q76_signup_funnel" ->
      """WITH fs AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS signup_ns FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |),
        |conv AS (
        |  SELECT fs.user_id, fs.signup_ns,
        |    min(CASE WHEN epoch_ns(e.ts) >= fs.signup_ns THEN epoch_ns(e.ts) END) AS first_p
        |  FROM fs LEFT JOIN events e
        |    ON e.user_id = fs.user_id AND e.event_type = 'purchase'
        |  GROUP BY 1, 2
        |),
        |flag AS (
        |  SELECT (first_p IS NOT NULL AND first_p - signup_ns <= 86400000000000) AS converted,
        |    (first_p - signup_ns) / 3600000000000.0 AS hours_to
        |  FROM conv
        |)
        |SELECT count(*) AS n_signup_users,
        | CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        | round(sum(CASE WHEN converted THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS conversion_rate,
        | round(avg(CASE WHEN converted THEN hours_to END), 4) AS avg_hours_to_convert
        |FROM flag""".stripMargin,
    "q80_value_anomalies" ->
      // the exact-integer anomaly rule: (x*n - S)^2 * (n-1) > 4*n*(n*Q - S^2)
      // in HUGEINT — bit-identical to Spark's decimal(38,0) evaluation
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS tns, value,
        |    CAST(round(value * 100, 0) AS BIGINT) AS x
        |  FROM events
        |),
        |w AS (
        |  SELECT event_id, user_id, value, x,
        |    count(x) OVER win AS n, sum(x) OVER win AS s,
        |    sum(CAST(x AS HUGEINT) * x) OVER win AS q
        |  FROM c
        |  WINDOW win AS (PARTITION BY user_id ORDER BY tns
        |    RANGE BETWEEN 86400000000000 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, round(value, 2) AS value, n AS n_prev
        |FROM w
        |WHERE n >= 5
        |  AND (CAST(x AS HUGEINT)*n - s) * (CAST(x AS HUGEINT)*n - s) * (n - 1)
        |    > 4 * CAST(n AS HUGEINT) * (n*q - CAST(s AS HUGEINT)*s)
        |ORDER BY event_id""".stripMargin,
    "q81_latest_event" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_epoch,
        | event_type, round(value, 2) AS value
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q87_quantile_sketch" ->
      // bottom-256-by-md5 sample per type, then the exact interpolated
      // sample quantile with Spark's percentile formula written out:
      // pos = q*(n-1), (hi-pos)*v_lo + (pos-lo)*v_hi with equal-endpoint
      // short-circuits — every input is the same double on both engines,
      // so the estimate matches bit-for-bit
      """WITH v AS (
        |  SELECT event_type, event_id, round(value, 2) AS v FROM events
        |),
        |samp AS (
        |  SELECT event_type, v FROM (
        |    SELECT event_type, v,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |    FROM v)
        |  WHERE rn <= 256
        |),
        |ranked AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) - 1 AS idx,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM samp
        |),
        |est AS (
        |  SELECT event_type,
        |    max(CASE WHEN idx = CAST(floor(0.5*(n-1)) AS BIGINT) THEN v END) AS vlo50,
        |    max(CASE WHEN idx = CAST(ceil(0.5*(n-1)) AS BIGINT) THEN v END) AS vhi50,
        |    max(CASE WHEN idx = CAST(floor(0.9*(n-1)) AS BIGINT) THEN v END) AS vlo90,
        |    max(CASE WHEN idx = CAST(ceil(0.9*(n-1)) AS BIGINT) THEN v END) AS vhi90,
        |    max(0.5*(n-1)) AS pos50, max(floor(0.5*(n-1))) AS lo50,
        |    max(ceil(0.5*(n-1))) AS hi50,
        |    max(0.9*(n-1)) AS pos90, max(floor(0.9*(n-1))) AS lo90,
        |    max(ceil(0.9*(n-1))) AS hi90
        |  FROM ranked GROUP BY event_type
        |),
        |tot AS (SELECT event_type, count(*) AS n_total FROM events GROUP BY 1)
        |SELECT event_type, n_total,
        | round(CASE WHEN hi50 = lo50 OR vhi50 = vlo50 THEN vlo50
        |   ELSE (hi50 - pos50) * vlo50 + (pos50 - lo50) * vhi50 END, 4) AS p50_est,
        | round(CASE WHEN hi90 = lo90 OR vhi90 = vlo90 THEN vlo90
        |   ELSE (hi90 - pos90) * vlo90 + (pos90 - lo90) * vhi90 END, 4) AS p90_est
        |FROM tot JOIN est USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q123_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type) OVER w AS next_type,
        |    epoch_ns(ts) AS tns,
        |    lead(epoch_ns(ts)) OVER w AS next_tns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |),
        |m AS (
        |  SELECT event_type, next_type, count(*) AS n FROM seq
        |  WHERE next_type IS NOT NULL AND next_tns - tns <= 1800000000000
        |  GROUP BY 1, 2
        |)
        |SELECT event_type, next_type, n,
        | round(n / sum(n) OVER (PARTITION BY event_type), 4) AS p
        |FROM m ORDER BY event_type, next_type""".stripMargin,
    "q128_sliding_dau" ->
      // merged bottom-64: the sketch max is the kth smallest; estimate
      // (k-1)/frac(kth) via the exact 13-hex fraction, exact below fill
      """WITH du AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id FROM events
        |),
        |days AS (SELECT DISTINCT day FROM du),
        |dh AS (SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM du),
        |dsk AS (
        |  SELECT day, h FROM (
        |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS r FROM dh
        |  ) WHERE r <= 64
        |),
        |win AS (
        |  SELECT DISTINCT w.wend AS window_end_day, s.h
        |  FROM (SELECT day, unnest(generate_series(day, day + 6)) AS wend FROM days) w
        |  JOIN days d ON d.day = w.wend
        |  JOIN dsk s ON s.day = w.day
        |),
        |merged AS (
        |  SELECT window_end_day, h,
        |    row_number() OVER (PARTITION BY window_end_day ORDER BY h) AS r
        |  FROM win
        |),
        |stats AS (
        |  SELECT window_end_day, count(*) AS n_sk, max(h) AS kth
        |  FROM merged WHERE r <= 64 GROUP BY 1
        |),
        |est AS (
        |  SELECT window_end_day,
        |    round(CASE WHEN n_sk < 64 THEN CAST(n_sk AS DOUBLE)
        |      ELSE 63.0 / list_sum(list_transform(generate_series(1, 13),
        |        i -> (strpos('0123456789abcdef', substr(kth, i, 1)) - 1)
        |             * power(16.0, -i))) END, 4) AS est_users
        |  FROM stats
        |),
        |nd AS (
        |  SELECT w.wend AS window_end_day, count(*) AS n_days
        |  FROM (SELECT day, unnest(generate_series(day, day + 6)) AS wend FROM days) w
        |  JOIN days d ON d.day = w.wend GROUP BY 1
        |),
        |ex AS (
        |  SELECT w.wend AS window_end_day, count(DISTINCT w.user_id) AS n_exact
        |  FROM (SELECT day, user_id, unnest(generate_series(day, day + 6)) AS wend FROM du) w
        |  JOIN days d ON d.day = w.wend
        |  GROUP BY 1
        |)
        |SELECT window_end_day, n_days, est_users, n_exact
        |FROM est JOIN nd USING (window_end_day) JOIN ex USING (window_end_day)
        |ORDER BY window_end_day""".stripMargin,
    "q129_scd2_history" ->
      // micro-epoch bounds: epoch_us(ts) == Spark's `ts div 1000` (the
      // DuckDB reader already truncated the nanos to micros)
      """WITH seq AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type,
        |    lag(event_type) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |),
        |changes AS (
        |  SELECT user_id, event_id, tsu, event_type FROM seq
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |),
        |stitched AS (
        |  SELECT user_id, event_type, tsu AS valid_from,
        |    lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) - 1 AS valid_to
        |  FROM changes
        |)
        |SELECT user_id, event_type, valid_from, valid_to, valid_to IS NULL AS is_current
        |FROM stitched ORDER BY user_id, valid_from""".stripMargin,
    "q132_top_paths" ->
      """WITH seq AS (
        |  SELECT event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3,
        |    epoch_ns(ts) AS tns,
        |    lead(epoch_ns(ts), 1) OVER w AS tns2,
        |    lead(epoch_ns(ts), 2) OVER w AS tns3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |)
        |SELECT step1, step2, step3, count(*) AS n FROM seq
        |WHERE step3 IS NOT NULL
        |  AND tns2 - tns <= 1800000000000 AND tns3 - tns2 <= 1800000000000
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 10""".stripMargin,
    "q135_mad_outliers" ->
      // quantile_cont == the bounded-state exact quantile bit-for-bit
      // (q87/q119 precedent); cents + round(4) cuts keep every
      // comparison on identical doubles
      """WITH vals AS (SELECT event_type, round(value, 2) AS v FROM events),
        |med AS (
        |  SELECT event_type, round(quantile_cont(v, 0.5), 4) AS med
        |  FROM vals GROUP BY 1
        |),
        |dev AS (
        |  SELECT vals.event_type, v, med, round(abs(v - med), 4) AS d
        |  FROM vals JOIN med USING (event_type)
        |),
        |mad AS (
        |  SELECT event_type, round(quantile_cont(d, 0.5), 4) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT dev.event_type, count(*) AS n_total,
        | CAST(sum(CASE WHEN d > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | min(med) AS median, min(mad) AS mad
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin,
    "q191_hourly_acf" ->
      // complete hourly series (zeros for absent hours); y = n*x - S
      // integer centering; num/den exact BIGINT, one rounded division
      """WITH hx AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS h, count(*) AS x
        |  FROM events GROUP BY 1
        |),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hx),
        |series AS (
        |  SELECT gs.h, coalesce(hx.x, 0) AS x
        |  FROM (SELECT unnest(generate_series(b.h0, b.h1)) AS h FROM b) gs
        |  LEFT JOIN hx USING (h)
        |),
        |st AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM series),
        |y AS (SELECT h, CAST(st.n * x - st.s AS BIGINT) AS y FROM series, st),
        |den AS (SELECT CAST(sum(y * y) AS BIGINT) AS den FROM y),
        |lags AS (SELECT unnest(range(1, 25)) AS lag),
        |pairs AS (
        |  SELECT l.lag, a.y AS yp, c.y AS yc
        |  FROM lags l JOIN y a ON true JOIN y c ON c.h = a.h + l.lag
        |)
        |SELECT CAST(p.lag AS INTEGER) AS lag, count(*) AS n_pairs,
        | round(CAST(CAST(sum(p.yp * p.yc) AS BIGINT) AS DOUBLE) / den.den, 6) AS acf
        |FROM pairs p, den GROUP BY p.lag, den.den ORDER BY lag""".stripMargin,
    "q192_ab_test" ->
      // md5 parity arm draw (posSql j=0 m=2) on each row's user_id,
      // integer micro-unit value moments, Welch z with the SAME double
      // association order as the engine
      s"""WITH f AS (
         |  SELECT ${posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)} AS arm,
         |    CAST(round(value * 10000, 0) AS BIGINT) AS vm
         |  FROM events WHERE event_type = 'purchase'
         |),
         |t AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS s1_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm * vm ELSE 0 END) AS BIGINT) AS s2_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS s1_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm * vm ELSE 0 END) AS BIGINT) AS s2_b
         |  FROM f
         |)
         |SELECT n_a, n_b,
         | round(CAST(s1_a AS DOUBLE) / n_a / 10000.0, 4) AS mean_a,
         | round(CAST(s1_b AS DOUBLE) / n_b / 10000.0, 4) AS mean_b,
         | round((CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b) /
         |   sqrt(((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1)) / n_a
         |      + ((CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1)) / n_b),
         |   4) AS z_score
         |FROM t""".stripMargin,
    "q237_msprt" ->
      // q192's exact micro-unit moments into the mixture-SPRT closed
      // form; tau^2 = 50000^2 micro^2, scale-invariant Lambda
      s"""WITH f AS (
         |  SELECT ${posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)} AS arm,
         |    CAST(round(value * 10000, 0) AS BIGINT) AS vm
         |  FROM events WHERE event_type = 'purchase'
         |),
         |t AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS s1_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm * vm ELSE 0 END) AS BIGINT) AS s2_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS s1_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm * vm ELSE 0 END) AS BIGINT) AS s2_b
         |  FROM f
         |),
         |m AS (
         |  SELECT t.*,
         |    CAST(s1_b AS DOUBLE) / n_b - CAST(s1_a AS DOUBLE) / n_a AS th,
         |    (CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1) / n_a
         |      + (CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1) / n_b
         |      AS se2
         |  FROM t
         |),
         |l AS (
         |  SELECT m.*,
         |    sqrt(se2 / (se2 + 50000.0 * 50000.0)) *
         |      exp(th * th * (50000.0 * 50000.0)
         |        / (2.0 * se2 * (se2 + 50000.0 * 50000.0))) AS lam
         |  FROM m
         |)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a >= 1 AND n_b >= 1
         |    THEN round(th / 1e4, 4) END AS theta_hat,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
         |    THEN round(sqrt(se2) / 1e4, 4) END AS se,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
         |    THEN round(lam, 4) END AS lambda,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
         |    THEN round(least(1.0, 1.0 / lam), 4) END AS p_always_valid
         |FROM l""".stripMargin,
    "q236_motif_census" ->
      // greedy-earliest frontier chain: first a, first b after it,
      // first c after that; census over all ordered triples
      """WITH ev AS (SELECT user_id, event_type, ts FROM events),
        |tot AS (SELECT count(DISTINCT user_id) AS n_total FROM ev),
        |u1 AS (
        |  SELECT user_id, event_type AS s1, min(ts) AS t1
        |  FROM ev GROUP BY 1, 2
        |),
        |u2 AS (
        |  SELECT e.user_id, u1.s1, e.event_type AS s2, min(e.ts) AS t2
        |  FROM ev e JOIN u1 ON e.user_id = u1.user_id AND e.ts > u1.t1
        |  GROUP BY 1, 2, 3
        |),
        |u3 AS (
        |  SELECT e.user_id, u2.s1, u2.s2, e.event_type AS s3, min(e.ts) AS t3
        |  FROM ev e JOIN u2 ON e.user_id = u2.user_id AND e.ts > u2.t2
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT s1, s2, s3, count(*) AS n_users,
        |  round(count(*) * 1.0 / (SELECT n_total FROM tot), 6) AS user_share
        |FROM u3 GROUP BY 1, 2, 3
        |ORDER BY n_users DESC, s1, s2, s3""".stripMargin,
    "q235_survival_km" ->
      // first-signup -> first-later-purchase; never-converted censored
      // at the frontier; suffix-sum at-risk; product-limit factors via
      // micro-quantized ln terms (exact window sums) and one exp
      """WITH su AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |),
        |fp AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS p_ts
        |  FROM events e JOIN su USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > su.s_ts
        |  GROUP BY 1
        |),
        |mx AS (SELECT max(epoch_ns(ts)) AS mx FROM events),
        |pu AS (
        |  SELECT su.user_id,
        |    CASE WHEN fp.p_ts IS NOT NULL
        |      THEN (fp.p_ts - su.s_ts) // 86400000000000
        |      ELSE (mx.mx - su.s_ts) // 86400000000000 END AS t,
        |    CASE WHEN fp.p_ts IS NOT NULL THEN 1 ELSE 0 END AS churned
        |  FROM su LEFT JOIN fp USING (user_id), mx
        |),
        |bt AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n_t,
        |    CAST(sum(churned) AS BIGINT) AS d
        |  FROM pu GROUP BY 1
        |),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS tot FROM bt),
        |ar AS (
        |  SELECT t, n_t, d,
        |    tot.tot - coalesce(CAST(sum(n_t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      AS at_risk
        |  FROM bt, tot
        |),
        |l6t AS (
        |  SELECT *, CASE WHEN d < at_risk
        |      THEN CAST(round(ln(CAST(at_risk - d AS DOUBLE) / at_risk) * 1e6)
        |        AS BIGINT) END AS l6,
        |    CASE WHEN d >= at_risk THEN 1 ELSE 0 END AS z
        |  FROM ar
        |)
        |SELECT t AS t_days, at_risk, d AS n_converted, n_t - d AS n_censored,
        |  CASE WHEN CAST(sum(z) OVER w AS BIGINT) > 0 THEN 0.0
        |    ELSE round(exp(CAST(sum(coalesce(l6, 0)) OVER w AS BIGINT) / 1e6), 4)
        |  END AS survival
        |FROM l6t
        |WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
        |ORDER BY t_days""".stripMargin,
    "q232_cuped" ->
      // per-user pre/post micro-unit sums over the md5 arm draw; exact
      // HUGEINT second moments; theta and every adjusted expression in
      // the SAME double association order as the engine
      s"""WITH mid AS (
         |  SELECT (min(d) + max(d) + 1) // 2 AS m
         |  FROM (SELECT epoch_ns(ts) // 86400000000000 AS d FROM events)
         |),
         |pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN epoch_ns(ts) // 86400000000000 < (SELECT m FROM mid)
         |      THEN CAST(round(value * 10000, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN epoch_ns(ts) // 86400000000000 >= (SELECT m FROM mid)
         |      THEN CAST(round(value * 10000, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |),
         |um AS (
         |  SELECT ${posSql("md5(CAST(u.user_id AS VARCHAR))", 0, 2)} AS arm,
         |    coalesce(p.x, 0) AS x, coalesce(p.y, 0) AS y
         |  FROM (SELECT DISTINCT user_id FROM events) u
         |  LEFT JOIN pu p USING (user_id)
         |),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x * y AS HUGEINT)) AS sxy, sum(CAST(x * x AS HUGEINT)) AS sxx,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |    sum(CAST(CASE WHEN arm = 0 THEN x * x ELSE 0 END AS HUGEINT)) AS sxx_a,
         |    sum(CAST(CASE WHEN arm = 0 THEN y * y ELSE 0 END AS HUGEINT)) AS syy_a,
         |    sum(CAST(CASE WHEN arm = 0 THEN x * y ELSE 0 END AS HUGEINT)) AS sxy_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
         |    sum(CAST(CASE WHEN arm = 1 THEN x * x ELSE 0 END AS HUGEINT)) AS sxx_b,
         |    sum(CAST(CASE WHEN arm = 1 THEN y * y ELSE 0 END AS HUGEINT)) AS syy_b,
         |    sum(CAST(CASE WHEN arm = 1 THEN x * y ELSE 0 END AS HUGEINT)) AS sxy_b
         |  FROM um
         |),
         |th AS (
         |  SELECT t.*,
         |    CASE WHEN CAST(CAST(n AS HUGEINT) * sxx
         |        - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
         |      THEN CAST(CAST(n AS HUGEINT) * sxy
         |          - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         |        / CAST(CAST(n AS HUGEINT) * sxx
         |          - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |    END AS tt
         |  FROM t
         |),
         |fin AS (
         |  SELECT th.*,
         |    CAST(sx AS DOUBLE) / n AS xbar,
         |    CAST(sy_a AS DOUBLE) / n_a AS ma, CAST(sy_b AS DOUBLE) / n_b AS mb,
         |    CAST(sx_a AS DOUBLE) / n_a AS mxa, CAST(sx_b AS DOUBLE) / n_b AS mxb,
         |    (CAST(syy_a AS DOUBLE) - CAST(sy_a AS DOUBLE) * sy_a / n_a) / (n_a - 1) AS va,
         |    (CAST(syy_b AS DOUBLE) - CAST(sy_b AS DOUBLE) * sy_b / n_b) / (n_b - 1) AS vb,
         |    (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * sx_a / n_a) / (n_a - 1) AS vxa,
         |    (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * sx_b / n_b) / (n_b - 1) AS vxb,
         |    (CAST(sxy_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * sy_a / n_a) / (n_a - 1) AS ca,
         |    (CAST(sxy_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * sy_b / n_b) / (n_b - 1) AS cb
         |  FROM th
         |),
         |adj AS (
         |  SELECT fin.*,
         |    ma - tt * (mxa - xbar) AS maa, mb - tt * (mxb - xbar) AS mab,
         |    va - 2.0 * tt * ca + tt * tt * vxa AS vaa,
         |    vb - 2.0 * tt * cb + tt * tt * vxb AS vab
         |  FROM fin
         |)
         |SELECT n_a, n_b, round(tt, 6) AS theta,
         |  CASE WHEN n_a > 0 THEN round(ma / 10000.0, 4) END AS mean_a,
         |  CASE WHEN n_b > 0 THEN round(mb / 10000.0, 4) END AS mean_b,
         |  CASE WHEN n_a > 0 AND tt IS NOT NULL
         |    THEN round(maa / 10000.0, 4) END AS mean_a_adj,
         |  CASE WHEN n_b > 0 AND tt IS NOT NULL
         |    THEN round(mab / 10000.0, 4) END AS mean_b_adj,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (va + vb) > 0
         |    THEN round((ma - mb) / sqrt(va / n_a + vb / n_b), 4) END AS z_raw,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND tt IS NOT NULL AND (vaa + vab) > 0
         |    THEN round((maa - mab) / sqrt(vaa / n_a + vab / n_b), 4) END AS z_cuped,
         |  CASE WHEN n_a >= 2 AND n_b >= 2 AND tt IS NOT NULL AND (va + vb) > 0
         |    THEN round(1.0 - (vaa + vab) / (va + vb), 4) END AS var_reduction
         |FROM adj""".stripMargin,
    "q193_cusum_drift" ->
      // S_t = P_t - min(0, min_{i<=t} P_i): prefix sum and prefix min
      // of integer deviations from the floor-division reference level
      """WITH m AS (
        |  SELECT (epoch_ns(ts) // 86400000000000) * 86400 AS day_epoch,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS s1
        |  FROM events GROUP BY 1
        |),
        |k AS (SELECT (10000 * CAST(sum(s1) AS BIGINT))
        |        // CAST(sum(n_events) AS BIGINT) AS k FROM m),
        |d AS (
        |  SELECT day_epoch, n_events, (10000 * s1) // n_events AS xm,
        |    (10000 * s1) // n_events - k.k AS dev
        |  FROM m, k
        |),
        |c AS (
        |  SELECT day_epoch, n_events, xm,
        |    CAST(sum(dev) OVER (ORDER BY day_epoch) AS BIGINT) AS p,
        |    CAST(sum(-dev) OVER (ORDER BY day_epoch) AS BIGINT) AS pn
        |  FROM d
        |)
        |SELECT day_epoch, n_events, xm,
        | p - least(CAST(0 AS BIGINT), min(p) OVER (ORDER BY day_epoch)) AS cusum_up,
        | pn - least(CAST(0 AS BIGINT), min(pn) OVER (ORDER BY day_epoch)) AS cusum_down,
        | (p - least(CAST(0 AS BIGINT), min(p) OVER (ORDER BY day_epoch)) > 50000
        |  OR pn - least(CAST(0 AS BIGINT), min(pn) OVER (ORDER BY day_epoch)) > 50000)
        |   AS alarm
        |FROM c ORDER BY day_epoch""".stripMargin,
    "q195_attribution" ->
      // q33's session numbering carrying event_type + micro-unit value;
      // entry tag via first_value over the session sort; two-level agg
      """WITH g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CAST(round(value * 10000, 0) AS BIGINT) AS vm,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, ts, event_type, vm,
        |    CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM g
        |),
        |numbered AS (
        |  SELECT user_id, event_id, ts, event_type, vm,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |),
        |tagged AS (
        |  SELECT user_id, session_seq, event_type, vm,
        |    first_value(event_type) OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts, event_id) AS entry_type
        |  FROM numbered
        |),
        |per_session AS (
        |  SELECT user_id, session_seq, entry_type,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN vm ELSE 0 END) AS BIGINT) AS pvm
        |  FROM tagged GROUP BY 1, 2, 3
        |)
        |SELECT entry_type, count(*) AS n_sessions,
        | CAST(sum(n_purch) AS BIGINT) AS n_purchases,
        | round(CAST(sum(pvm) AS BIGINT) / 10000.0, 2) AS attributed_value
        |FROM per_session GROUP BY entry_type ORDER BY entry_type""".stripMargin,
    "q201_trend_test" ->
      // pairwise sign sum + tie-adjusted variance, all integer until
      // the boundary sqrt; slope quantized by DOUBLE floor (integer //
      // floors but Spark div truncates - they disagree on negatives)
      """WITH m AS (
        |  SELECT (epoch_ns(ts) // 86400000000000) AS d, count(*) AS n_events,
        |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS s1
        |  FROM events GROUP BY 1
        |),
        |dy AS (SELECT d, (10000 * s1) // n_events AS xm FROM m),
        |p AS (SELECT a.d AS di, a.xm AS xi, b.d AS dj, b.xm AS xj
        |      FROM dy a JOIN dy b ON a.d < b.d),
        |sg AS (SELECT CAST(sum(CASE WHEN xj > xi THEN 1
        |         WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS s_stat FROM p),
        |sl AS (SELECT CAST(floor((xj - xi) * 1000.0 / (dj - di)) AS BIGINT)
        |         AS slope_milli FROM p),
        |med AS (SELECT quantile_cont(slope_milli, 0.5) AS cut FROM sl),
        |nn AS (SELECT count(*) AS n FROM dy),
        |tt AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        |         AS tie_adj
        |       FROM (SELECT xm, count(*) AS t FROM dy GROUP BY 1)),
        |vs AS (SELECT (n * (n - 1) * (2 * n + 5) - tie_adj) / 18.0 AS var_s
        |       FROM nn, tt)
        |SELECT nn.n AS n_days, sg.s_stat AS s_stat,
        | round(vs.var_s, 4) AS var_s,
        | round(CASE WHEN vs.var_s <= 0.0 THEN 0.0
        |   WHEN sg.s_stat > 0 THEN (sg.s_stat - 1) / sqrt(vs.var_s)
        |   WHEN sg.s_stat < 0 THEN (sg.s_stat + 1) / sqrt(vs.var_s)
        |   ELSE 0.0 END, 4) AS z_score,
        | round(med.cut / 1e7, 6) AS slope_per_day
        |FROM nn, sg, vs, med""".stripMargin,
    "q204_basket_lift" ->
      // q33's session numbering carrying event_type; baskets = distinct
      // (session, type); lift = n_ab*N / (n_a*n_b) in one double shape
      """WITH g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM g
        |),
        |numbered AS (
        |  SELECT user_id, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |),
        |basket AS (SELECT DISTINCT user_id, session_seq, event_type FROM numbered),
        |nn AS (SELECT count(*) AS n FROM
        |  (SELECT DISTINCT user_id, session_seq FROM basket)),
        |pt AS (SELECT event_type, count(*) AS n_t FROM basket GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
        |  FROM basket a JOIN basket b
        |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, pa.n_t AS n_a, pb.n_t AS n_b, n_ab,
        | round(n_ab * 1.0 / nn.n, 6) AS support,
        | round((n_ab * nn.n) * 1.0 / (pa.n_t * pb.n_t), 6) AS lift
        |FROM pr
        |JOIN pt pa ON pa.event_type = type_a
        |JOIN pt pb ON pb.event_type = type_b, nn
        |ORDER BY type_a, type_b""".stripMargin,
    "q205_interarrival_ks" ->
      // per-user lag gaps in exact ns; ranks over the distinct-gap
      // histogram; per-row round(.,6) BEFORE the max (exp agrees to
      // ulps across engines - the q106 micro-bit argument)
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |),
        |gp AS (SELECT epoch_ns(ts) - epoch_ns(prev) AS g
        |       FROM o WHERE prev IS NOT NULL),
        |h AS (SELECT g, count(*) AS c FROM gp GROUP BY 1),
        |r AS (SELECT g, c, CAST(sum(c) OVER (ORDER BY g) AS BIGINT) AS cum FROM h),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS sg
        |       FROM gp),
        |t AS (
        |  SELECT
        |    round(cum * 1.0 / st.n - (1.0 - exp(-((st.n * 1.0 / st.sg) * g))), 6) AS dp,
        |    round((1.0 - exp(-((st.n * 1.0 / st.sg) * g))) - (cum - c) * 1.0 / st.n, 6) AS dm,
        |    st.n AS n, st.sg AS sg
        |  FROM r, st
        |)
        |SELECT n AS n_gaps,
        | round((n * 3600000000000.0) / sg, 6) AS lambda_per_hour,
        | max(greatest(dp, dm)) AS ks_d,
        | (max(greatest(dp, dm)) > 1.36 / sqrt(n)) AS reject_exponential
        |FROM t GROUP BY n, sg""".stripMargin,
    "q217_winsorized_stats" ->
      // cents quantiles via quantile_cont (bit-exact vs the bounded
      // histogram quantile), cuts integerized OUTWARD (floor/ceil), every
      // mean an exact BIGINT sum over clamped/trimmed cents
      """WITH v AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
        |),
        |cu AS (
        |  SELECT event_type,
        |    CAST(floor(quantile_cont(CAST(c AS DOUBLE), 0.05)) AS BIGINT) AS lo,
        |    CAST(ceil(quantile_cont(CAST(c AS DOUBLE), 0.95)) AS BIGINT) AS hi
        |  FROM v GROUP BY event_type
        |)
        |SELECT v.event_type, count(*) AS n,
        | CAST(sum(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        | CAST(sum(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        | round(CAST(sum(c) AS BIGINT) * 1.0 / count(*) / 100.0, 4) AS mean_raw,
        | round(CAST(sum(greatest(least(c, hi), lo)) AS BIGINT) * 1.0
        |   / count(*) / 100.0, 4) AS mean_winsor,
        | round(CAST(sum(CASE WHEN c BETWEEN lo AND hi THEN c END) AS BIGINT) * 1.0
        |   / CAST(sum(CASE WHEN c BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT)
        |   / 100.0, 4) AS mean_trim,
        | CAST(min(lo) AS BIGINT) AS lo_cents, CAST(min(hi) AS BIGINT) AS hi_cents
        |FROM v JOIN cu USING (event_type)
        |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin,
    "q218_rate_outliers" ->
      // integer-second gaps over the per-user (ts, event_id) order; the
      // per-user median and the population p10 cut are both quantile_cont
      // (bit-exact vs Spark percentile / the histogram quantile)
      """WITH g AS (
        |  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000000000 AS sec FROM events
        |),
        |l AS (
        |  SELECT user_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM g
        |),
        |u AS (
        |  SELECT user_id, count(*) AS n_events, quantile_cont(gap, 0.5) AS med,
        |    max(sec) - min(sec) AS span_s
        |  FROM l GROUP BY user_id HAVING count(*) >= 8
        |),
        |c AS (SELECT quantile_cont(med, 0.1) AS cutv FROM u)
        |SELECT user_id, n_events, round(med, 1) AS med_gap_s,
        | round(n_events * 86400.0 / greatest(span_s, 1), 4) AS events_per_day,
        | round(cutv, 4) AS pop_cut_s
        |FROM u CROSS JOIN c WHERE med <= cutv ORDER BY user_id""".stripMargin,
    "q220_late_arrivals" ->
      // the same derived arrival schedule (user_id%17==3 delayed 2h), the
      // same two-phase prefix max in exact ns, watermark delay 1h
      """WITH a AS (
        |  SELECT event_type, event_id, epoch_ns(ts) AS tsn,
        |    epoch_ns(ts) + CASE WHEN user_id % 17 = 3
        |      THEN 7200000000000 ELSE 0 END AS arrival
        |  FROM events
        |),
        |b AS (SELECT *, arrival // 86400000000000 AS bucket FROM a),
        |im AS (
        |  SELECT event_type, tsn, bucket,
        |    max(tsn) OVER (PARTITION BY bucket ORDER BY arrival, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS in_max
        |  FROM b
        |),
        |bm AS (
        |  SELECT bucket, max(bmax) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM (SELECT bucket, max(tsn) AS bmax FROM b GROUP BY bucket)
        |),
        |w AS (
        |  SELECT event_type, tsn,
        |    (CASE WHEN in_max IS NULL THEN prev_max
        |          WHEN prev_max IS NULL THEN in_max
        |          WHEN in_max >= prev_max THEN in_max ELSE prev_max END)
        |      - 3600000000000 AS wm
        |  FROM im JOIN bm USING (bucket)
        |),
        |f AS (SELECT event_type, tsn, wm, coalesce(tsn < wm, false) AS late FROM w)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        | round(sum(CASE WHEN late THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS late_share,
        | CAST(coalesce(max(CASE WHEN late THEN (wm - tsn) // 1000000000 END), 0)
        |   AS BIGINT) AS max_lateness_s
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q221_srm_check" ->
      // the q192 md5 parity arm on DISTINCT users; two-arm chi2 collapses
      // to (n_a - n_b)^2 / n_total, one double division
      s"""WITH a AS (
         |  SELECT ${posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)} AS arm, user_id
         |  FROM events
         |),
         |g AS (
         |  SELECT arm, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         |  FROM a GROUP BY arm
         |),
         |t AS (
         |  SELECT CAST(sum(n_users) AS BIGINT) AS n_total,
         |    CAST(sum(CASE WHEN arm = 0 THEN n_users ELSE -n_users END) AS BIGINT) AS d
         |  FROM g
         |)
         |SELECT arm, n_users, n_events,
         | round(n_users * 1.0 / n_total, 6) AS user_share,
         | round(d * d * 1.0 / n_total, 6) AS chi2,
         | (d * d * 1.0 / n_total > 3.841) AS srm
         |FROM g CROSS JOIN t ORDER BY arm""".stripMargin,
    "q222_conversion_latency" ->
      // first post-signup purchase per user in exact ns, floored to
      // seconds AFTER the min; quantile_cont panel (bit-exact vs the
      // bounded histogram panel)
      """WITH s AS (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |),
        |c AS (
        |  SELECT p.user_id,
        |    CAST(min(epoch_ns(p.ts) - epoch_ns(s.s_ts)) // 1000000000 AS DOUBLE) AS lat_s
        |  FROM events p JOIN s USING (user_id)
        |  WHERE p.event_type = 'purchase' AND p.ts > s.s_ts
        |  GROUP BY p.user_id
        |),
        |n1 AS (SELECT count(*) AS n_signup_users FROM s),
        |n2 AS (SELECT count(*) AS n_converted FROM c),
        |q AS (SELECT quantile_cont(lat_s, [0.25, 0.5, 0.75, 0.9]) AS qq FROM c)
        |SELECT n_signup_users, n_converted,
        | CASE WHEN n_signup_users > 0
        |   THEN round(n_converted * 1.0 / n_signup_users, 6) END AS conversion_rate,
        | round(qq[1], 4) AS p25_s, round(qq[2], 4) AS p50_s,
        | round(qq[3], 4) AS p75_s, round(qq[4], 4) AS p90_s
        |FROM n1, n2, q""".stripMargin,
    "q224_ordered_funnel" ->
      // frontier-chained per-user minima: step k's frontier is the min
      // qualifying ts strictly after step k-1's, within the 24h horizon
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS f FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS f FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.f
        |    AND epoch_ns(e.ts) - epoch_ns(s1.f) <= 86400000000000
        |  GROUP BY e.user_id
        |),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS f FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.f
        |    AND epoch_ns(e.ts) - epoch_ns(s2.f) <= 86400000000000
        |  GROUP BY e.user_id
        |),
        |c AS (
        |  SELECT 1 AS step, 'signup' AS event_type, count(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |)
        |SELECT step, event_type, n_users,
        | CASE WHEN max(CASE WHEN step = 1 THEN n_users END) OVER () > 0
        |   THEN round(n_users * 1.0 /
        |     max(CASE WHEN step = 1 THEN n_users END) OVER (), 6)
        |   END AS share_of_entry
        |FROM c ORDER BY step""".stripMargin,
    "q228_sketch_rollup" ->
      // full recompute from raw events: per-day bottom-64, unioned,
      // re-bottom-64 per event_type, (k-1)/frac(kth) — must equal the
      // Spark side's merge of persisted day-disjoint parquet shards
      """WITH du AS (
        |  SELECT DISTINCT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events
        |),
        |dsk AS (
        |  SELECT event_type, day, h FROM (
        |    SELECT event_type, day, h,
        |      row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS r
        |    FROM du
        |  ) WHERE r <= 64
        |),
        |u AS (SELECT DISTINCT event_type, h FROM dsk),
        |merged AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r FROM u
        |),
        |stats AS (
        |  SELECT event_type, count(*) AS n_sk, max(h) AS kth
        |  FROM merged WHERE r <= 64 GROUP BY 1
        |),
        |nd AS (SELECT event_type, count(DISTINCT day) AS n_days FROM du GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(CASE WHEN n_sk < 64 THEN CAST(n_sk AS DOUBLE)
        |    ELSE 63.0 / list_sum(list_transform(generate_series(1, 13),
        |      i -> (strpos('0123456789abcdef', substr(kth, i, 1)) - 1)
        |           * power(16.0, -i))) END, 4) AS est_users
        |FROM stats JOIN nd USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q255_ewma_control" ->
      // per-day prefix fold of the identical (0.2·x + 0.8·acc) recurrence
      // via list_reduce over a μ̂-prepended slice; finite-t band; flags
      // compare rounded values (last-ulp pow/sqrt wobble can't flip)
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1
        |),
        |packed AS (
        |  SELECT list(d ORDER BY d) AS ds, list(CAST(c AS DOUBLE) ORDER BY d) AS cs,
        |    list(c ORDER BY d) AS craw,
        |    CAST(count(*) AS BIGINT) AS t, CAST(sum(c) AS BIGINT) AS s,
        |    sum(CAST(c * c AS HUGEINT)) AS ss
        |  FROM daily
        |),
        |par AS (
        |  SELECT ds, cs, craw, t,
        |    CAST(s AS DOUBLE) / t AS mu,
        |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / t) / t) AS sigma
        |  FROM packed
        |),
        |ex AS (
        |  SELECT unnest(generate_series(1, t)) AS i, ds, cs, craw, mu, sigma
        |  FROM par
        |),
        |ew AS (
        |  SELECT i, ds[i] AS d, craw[i] AS c, mu, sigma,
        |    list_reduce(list_prepend(mu, cs[1:i]),
        |      (x, y) -> 0.2 * y + 0.8 * x) AS z,
        |    3.0 * sigma * sqrt(CAST(0.2 AS DOUBLE) / (2.0 - CAST(0.2 AS DOUBLE))
        |      * (1.0 - pow(CAST(0.8 AS DOUBLE), 2.0 * i))) AS band_raw
        |  FROM ex
        |)
        |SELECT d AS day, c AS n_events, CAST(i AS BIGINT) AS i,
        |  round(z, 4) AS ewma, round(mu, 4) AS center,
        |  round(band_raw, 4) AS band,
        |  round(abs(z - mu), 6) > round(band_raw, 6) AS flagged
        |FROM ew ORDER BY d""".stripMargin,
    "q259_changepoint" ->
      // exact integer CUSUM numerators |T·S_k − k·S_T| over the day
      // frame; argmax on stat rounded to 6 with day tiebreak; Kolmogorov
      // tail p (sup of a Brownian bridge)
      s"""WITH daily AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1
         |),
         |pre AS (
         |  SELECT d, c,
         |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
         |    CAST(sum(c) OVER (ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sk,
         |    CAST(count(*) OVER () AS BIGINT) AS t,
         |    CAST(sum(c) OVER () AS BIGINT) AS st,
         |    sum(CAST(c * c AS HUGEINT)) OVER () AS sst
         |  FROM daily
         |),
         |sc AS (
         |  SELECT pre.*,
         |    sqrt((CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / t) / t) AS sigma,
         |    abs(t * sk - k * st) AS num
         |  FROM pre WHERE k < t
         |),
         |st2 AS (
         |  SELECT sc.*,
         |    CASE WHEN sigma > 0.0 THEN CAST(num AS DOUBLE)
         |      / (sqrt(CAST(k * (t - k) * t AS DOUBLE)) * sigma)
         |    ELSE 0.0 END AS stat_raw
         |  FROM sc
         |),
         |rk AS (
         |  SELECT st2.*,
         |    row_number() OVER (ORDER BY round(stat_raw, 6) DESC, d) AS rn
         |  FROM st2
         |)
         |SELECT d AS split_day, k AS n_before, t - k AS n_after,
         |  round(stat_raw, 4) AS cusum_stat,
         |  round(CAST(sk AS DOUBLE) / k, 4) AS mean_before,
         |  round(CAST(st - sk AS DOUBLE) / (t - k), 4) AS mean_after,
         |  round(${OracleHelpers.kolmTailSql("stat_raw", "stat_raw * stat_raw")}, 6)
         |    AS p_value
         |FROM rk WHERE rn = 1""".stripMargin,
    "q260_overdispersion" ->
      // per-(type, user) counts → exact integer moments; the zero-count
      // users enter through the distinct-user denominator (they add 0 to
      // both sums); Fisher sqrt(2·chi2) − sqrt(2(n−1)−1) rendering
      """WITH pu AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |),
        |pt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(c) AS BIGINT) AS s, sum(CAST(c * c AS HUGEINT)) AS ss
        |  FROM pu GROUP BY 1
        |),
        |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
        |fin AS (
        |  SELECT event_type, n, n_active, s,
        |    CAST(s AS DOUBLE) / n AS mean,
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS vr
        |  FROM pt CROSS JOIN u
        |),
        |zt AS (
        |  SELECT fin.*,
        |    CASE WHEN n > 1 AND s > 0 THEN
        |      sqrt(2.0 * (CAST(n - 1 AS DOUBLE) * vr / mean))
        |        - sqrt(2.0 * CAST(n - 1 AS DOUBLE) - 1.0) END AS z_raw
        |  FROM fin
        |)
        |SELECT event_type, n AS n_users, n_active, s AS n_events,
        |  round(mean, 6) AS mean_per_user,
        |  CASE WHEN n > 1 AND s > 0 THEN round(vr / mean, 4) END AS vmr,
        |  round(z_raw, 4) AS z_score,
        |  coalesce(round(z_raw, 4), 0.0) > 1.6449 AS overdispersed
        |FROM zt ORDER BY event_type""".stripMargin,
    "q261_holt_forecast" ->
      // the Holt fold as a RECURSIVE CTE (one projection per step, each
      // field reading the PRIOR row) — NOT list_reduce with a struct
      // accumulator: DuckDB's list_reduce mutates the accumulator struct
      // field-by-field from the second step on, so a later field's
      // struct_extract sees the already-updated level (observed: level
      // drifts from step 2; the engine's `aggregate` evaluates the merge
      // functionally). Scalar list_reduce folds (the sae sums) have no
      // such cross-field hazard and stay. Lag-1 naive MAE scales MASE.
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1
        |),
        |packed AS (
        |  SELECT list(CAST(c AS DOUBLE) ORDER BY d) AS cs,
        |    CAST(count(*) AS BIGINT) AS t
        |  FROM daily
        |),
        |par AS (
        |  SELECT cs, t, CAST(t - 7 AS INT) AS ntr FROM packed
        |  WHERE t - 7 >= 3
        |),
        |h AS (
        |  SELECT 1 AS i, cs[1] AS l, cs[2] - cs[1] AS b FROM par
        |  UNION ALL
        |  SELECT h.i + 1,
        |    0.3 * cs[h.i + 1] + 0.7 * (h.l + h.b),
        |    0.1 * ((0.3 * cs[h.i + 1] + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b
        |  FROM h, par WHERE h.i < ntr
        |),
        |fold AS (
        |  SELECT cs, t, ntr, h.l AS lvl, h.b AS trd
        |  FROM h, par WHERE h.i = ntr
        |),
        |sc AS (
        |  SELECT t, ntr, lvl, trd,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(2, ntr), j -> abs(cs[j] - cs[j-1]))),
        |      (x, y) -> x + y) AS sae_naive,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, 7),
        |        h2 -> abs(cs[ntr + h2] - (lvl + h2 * trd)))),
        |      (x, y) -> x + y) AS sae_test
        |  FROM fold
        |)
        |SELECT CAST(ntr AS BIGINT) AS n_train, CAST(7 AS BIGINT) AS n_test,
        |  round(lvl, 4) AS level, round(trd, 4) AS trend,
        |  round(sae_test / 7.0, 4) AS mae_test,
        |  CASE WHEN sae_naive > 0.0 THEN
        |    round((sae_test / 7.0) / (sae_naive / CAST(ntr - 1 AS DOUBLE)), 6)
        |  END AS mase
        |FROM sc""".stripMargin,
    "q264_cmh" ->
      // per-stratum hypergeometric moments (margins-fixed null), E and V
      // micro-quantized before the cross-stratum sums; degenerate strata
      // contribute zero with NULL per-stratum columns
      s"""WITH pu AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS np
         |  FROM events GROUP BY 1
         |),
         |ur AS (
         |  SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS stratum,
         |    ${OracleHelpers.posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)} AS arm,
         |    CASE WHEN np > 0 THEN 1 ELSE 0 END AS conv
         |  FROM pu
         |),
         |per AS (
         |  SELECT stratum,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(conv) AS BIGINT) AS m1
         |  FROM ur GROUP BY 1
         |),
         |sc AS (
         |  SELECT per.*,
         |    CAST(n1 AS DOUBLE) * m1 / (n1 + n2) AS e,
         |    CAST(n1 AS DOUBLE) * n2 * m1 * (n1 + n2 - m1)
         |      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)) AS v,
         |    (n1 + n2 > 1 AND m1 > 0 AND m1 < n1 + n2) AS ok
         |  FROM per
         |),
         |q AS (
         |  SELECT sc.*,
         |    CASE WHEN ok THEN round(e, 4) END AS e_k,
         |    CASE WHEN ok THEN CAST(round((a - e) * 1000000.0, 0) AS BIGINT)
         |      ELSE 0 END AS d6,
         |    CASE WHEN ok THEN CAST(round(v * 1000000.0, 0) AS BIGINT)
         |      ELSE 0 END AS v6
         |  FROM sc
         |),
         |z AS (
         |  SELECT q.*,
         |    CASE WHEN sum(v6) OVER () > 0 THEN
         |      round((CAST(sum(d6) OVER () AS DOUBLE) / 1000000.0)
         |        / sqrt(CAST(sum(v6) OVER () AS DOUBLE) / 1000000.0), 4)
         |    END AS z_pooled
         |  FROM q
         |)
         |SELECT stratum, n1, n2, a AS conv_arm0, m1 - a AS conv_arm1,
         |  e_k AS expected_arm0,
         |  CASE WHEN n1 > 0 AND n2 > 0 THEN
         |    round(CAST(a AS DOUBLE) / n1 - CAST(m1 - a AS DOUBLE) / n2, 4)
         |  END AS rate_gap,
         |  z_pooled
         |FROM z ORDER BY stratum""".stripMargin,
    "q267_permutation_test" ->
      // per-user totals once; 64 relabelings via md5(user || ':' || b);
      // add-one permutation p with comparisons on rounded diffs
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 10000, 0) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS vm
         |  FROM events GROUP BY 1
         |),
         |obs AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS sa,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS sb
         |  FROM (SELECT
         |    ${OracleHelpers.posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)}
         |      AS arm, vm FROM pu)
         |),
         |ob2 AS (
         |  SELECT na, sa, nb, sb,
         |    CASE WHEN na > 0 AND nb > 0 THEN
         |      abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
         |    END AS od
         |  FROM obs
         |),
         |ex AS (
         |  SELECT bi,
         |    ${OracleHelpers.posSql(
              "md5(CAST(user_id AS VARCHAR) || ':' || CAST(bi AS VARCHAR))",
              0, 2)} AS arm,
         |    vm
         |  FROM pu CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS bi)
         |),
         |pb AS (
         |  SELECT bi,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS sa,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS sb
         |  FROM ex GROUP BY 1
         |),
         |pd AS (
         |  SELECT bi,
         |    CASE WHEN na > 0 AND nb > 0 THEN
         |      abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
         |    END AS db
         |  FROM pb
         |)
         |SELECT max(o.na + o.nb) AS n_users, max(o.na) AS n_a, max(o.nb) AS n_b,
         |  round(max(CAST(o.sa AS DOUBLE) / o.na) / 10000.0, 4) AS mean_a,
         |  round(max(CAST(o.sb AS DOUBLE) / o.nb) / 10000.0, 4) AS mean_b,
         |  round(max(o.od) / 10000.0, 4) AS d_obs,
         |  count(*) AS n_perms,
         |  round((CAST(sum(CASE WHEN round(db, 6) >= round(o.od, 6)
         |      THEN 1 ELSE 0 END) AS BIGINT) + 1) * 1.0 / (count(*) + 1), 6)
         |    AS p_perm
         |FROM pd CROSS JOIN ob2 o""".stripMargin,
    "q270_retention_fit" ->
      // frontier-censored pooled rates; ln(rate) micro-quantized per
      // offset, exact HUGEINT regression moments, double render
      """WITH act0 AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events
        |),
        |coh AS (SELECT user_id, min(day) AS cd FROM act0 GROUP BY 1),
        |tri AS (
        |  SELECT cd, day - cd AS off, CAST(count(*) AS BIGINT) AS n
        |  FROM act0 JOIN coh USING (user_id) GROUP BY 1, 2
        |),
        |sizes AS (SELECT cd, n AS sz FROM tri WHERE off = 0),
        |fr AS (SELECT max(cd + off) AS mx FROM tri),
        |den AS (
        |  SELECT off, CAST(sum(sz) AS BIGINT) AS den FROM (
        |    SELECT unnest(generate_series(1, mx - cd)) AS off, sz
        |    FROM sizes CROSS JOIN fr WHERE mx - cd >= 1
        |  ) GROUP BY 1
        |),
        |a AS (
        |  SELECT off, CAST(sum(n) AS BIGINT) AS act FROM tri
        |  WHERE off >= 1 GROUP BY 1
        |),
        |yf AS (
        |  SELECT off, CAST(round(ln(CAST(act AS DOUBLE) / den) * 1e6, 0)
        |    AS BIGINT) AS y6
        |  FROM den LEFT JOIN a USING (off)
        |  WHERE coalesce(act, 0) > 0
        |),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS np, CAST(sum(off) AS BIGINT) AS sx,
        |    sum(CAST(off * off AS HUGEINT)) AS sxx,
        |    CAST(sum(y6) AS BIGINT) AS sy,
        |    sum(CAST(off * y6 AS HUGEINT)) AS sxy,
        |    sum(CAST(y6 * y6 AS HUGEINT)) AS syy
        |  FROM yf
        |),
        |fin AS (
        |  SELECT np,
        |    CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * sx AS dx,
        |    CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * sy AS cn,
        |    CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * sy AS vy,
        |    sx, sy
        |  FROM ag
        |),
        |f2 AS (
        |  SELECT fin.*, cn / dx AS slope6,
        |    (CAST(sy AS DOUBLE) - cn / dx * sx) / CAST(np AS DOUBLE) AS icpt6
        |  FROM fin
        |),
        |f3 AS (SELECT f2.*, slope6 / 1000000.0 AS slope_raw FROM f2)
        |SELECT np AS n_points,
        |  round(slope_raw, 6) AS slope_per_day,
        |  round(icpt6 / 1000000.0, 6) AS intercept,
        |  CASE WHEN slope_raw < 0.0
        |    THEN round(-ln(2.0) / slope_raw, 4) END AS half_life_days,
        |  CASE WHEN dx > 0.0 AND vy > 0.0
        |    THEN round(cn * cn / (dx * vy), 6) END AS r2
        |FROM f3""".stripMargin,
    "q271_median_ci" ->
      // order-statistic ranks on the per-type distinct-value frame;
      // the k-th statistic = first value whose prefix count reaches k
      """WITH bv AS (
        |  SELECT event_type, CAST(round(value * 10000, 0) AS BIGINT) AS vm,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |),
        |cum AS (
        |  SELECT event_type, vm, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM bv
        |),
        |rk AS (
        |  SELECT cum.*,
        |    CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT) AS kmed,
        |    greatest(CAST(floor((CAST(n AS DOUBLE)
        |      - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT), 1) AS klo,
        |    least(CAST(ceil(1.0 + (CAST(n AS DOUBLE)
        |      + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT), n) AS khi
        |  FROM cum
        |),
        |sel AS (
        |  SELECT event_type, max(n) AS n,
        |    min(CASE WHEN cc >= kmed THEN vm END) AS med_m,
        |    min(CASE WHEN cc >= klo THEN vm END) AS lo_m,
        |    min(CASE WHEN cc >= khi THEN vm END) AS hi_m
        |  FROM rk GROUP BY 1
        |)
        |SELECT event_type, n,
        |  round(CAST(med_m AS DOUBLE) / 10000.0, 4) AS median,
        |  round(CAST(lo_m AS DOUBLE) / 10000.0, 4) AS lo95,
        |  round(CAST(hi_m AS DOUBLE) / 10000.0, 4) AS hi95
        |FROM sel ORDER BY event_type""".stripMargin,
    "q272_persisted_quantiles" ->
      // full recompute from raw events: global per-type bottom-256 by
      // (md5(event_id), event_id) + the shared interpolation formula —
      // must equal the Spark side's merge of persisted day shards
      """WITH v AS (
        |  SELECT event_type, event_id, round(value, 2) AS v,
        |    epoch_ns(ts) // 86400000000000 AS day
        |  FROM events
        |),
        |samp AS (
        |  SELECT event_type, v FROM (
        |    SELECT event_type, v,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |    FROM v)
        |  WHERE rn <= 256
        |),
        |ranked AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) - 1 AS idx,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM samp
        |),
        |est AS (
        |  SELECT event_type,
        |    max(CASE WHEN idx = CAST(floor(0.5*(n-1)) AS BIGINT) THEN v END) AS vlo50,
        |    max(CASE WHEN idx = CAST(ceil(0.5*(n-1)) AS BIGINT) THEN v END) AS vhi50,
        |    max(CASE WHEN idx = CAST(floor(0.9*(n-1)) AS BIGINT) THEN v END) AS vlo90,
        |    max(CASE WHEN idx = CAST(ceil(0.9*(n-1)) AS BIGINT) THEN v END) AS vhi90,
        |    max(0.5*(n-1)) AS pos50, max(floor(0.5*(n-1))) AS lo50,
        |    max(ceil(0.5*(n-1))) AS hi50,
        |    max(0.9*(n-1)) AS pos90, max(floor(0.9*(n-1))) AS lo90,
        |    max(ceil(0.9*(n-1))) AS hi90
        |  FROM ranked GROUP BY event_type
        |),
        |nd AS (SELECT event_type, count(DISTINCT day) AS n_days FROM v GROUP BY 1)
        |SELECT event_type, n_days,
        | round(CASE WHEN hi50 = lo50 OR vhi50 = vlo50 THEN vlo50
        |   ELSE (hi50 - pos50) * vlo50 + (pos50 - lo50) * vhi50 END, 4) AS p50_est,
        | round(CASE WHEN hi90 = lo90 OR vhi90 = vlo90 THEN vlo90
        |   ELSE (hi90 - pos90) * vlo90 + (pos90 - lo90) * vhi90 END, 4) AS p90_est
        |FROM nd JOIN est USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q274_qte" ->
      // the q271 machinery one level deeper (PARTITION BY type, arm),
      // arms joined side-by-side; CI separation on exact integer bounds
      s"""WITH bv AS (
         |  SELECT event_type,
         |    ${OracleHelpers.posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)} AS arm,
         |    CAST(round(value * 10000, 0) AS BIGINT) AS vm,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2, 3
         |),
         |cum AS (
         |  SELECT event_type, arm, vm, c,
         |    CAST(sum(c) OVER (PARTITION BY event_type, arm ORDER BY vm
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc,
         |    CAST(sum(c) OVER (PARTITION BY event_type, arm) AS BIGINT) AS n
         |  FROM bv
         |),
         |rk AS (
         |  SELECT cum.*,
         |    CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT) AS kmed,
         |    greatest(CAST(floor((CAST(n AS DOUBLE)
         |      - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT), 1) AS klo,
         |    least(CAST(ceil(1.0 + (CAST(n AS DOUBLE)
         |      + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT), n) AS khi
         |  FROM cum
         |),
         |sel AS (
         |  SELECT event_type, arm, max(n) AS n,
         |    min(CASE WHEN cc >= kmed THEN vm END) AS med_m,
         |    min(CASE WHEN cc >= klo THEN vm END) AS lo_m,
         |    min(CASE WHEN cc >= khi THEN vm END) AS hi_m
         |  FROM rk GROUP BY 1, 2
         |)
         |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
         |  round(CAST(a.med_m AS DOUBLE) / 10000.0, 4) AS median_a,
         |  round(CAST(b.med_m AS DOUBLE) / 10000.0, 4) AS median_b,
         |  round(CAST(b.med_m - a.med_m AS DOUBLE) / 10000.0, 4) AS qte,
         |  round(CAST(a.lo_m AS DOUBLE) / 10000.0, 4) AS lo95_a,
         |  round(CAST(a.hi_m AS DOUBLE) / 10000.0, 4) AS hi95_a,
         |  round(CAST(b.lo_m AS DOUBLE) / 10000.0, 4) AS lo95_b,
         |  round(CAST(b.hi_m AS DOUBLE) / 10000.0, 4) AS hi95_b,
         |  (b.lo_m > a.hi_m OR a.lo_m > b.hi_m) AS ci_separated
         |FROM sel a JOIN sel b
         |  ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
         |ORDER BY a.event_type""".stripMargin,
    "q275_changepoint_panel" ->
      // q259 per type (windows PARTITION BY event_type) + the q254 BH
      // step-up across the panel
      s"""WITH daily AS (
         |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2
         |),
         |pre AS (
         |  SELECT event_type, d, c,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
         |      AS BIGINT) AS k,
         |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sk,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS t,
         |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS st,
         |    sum(CAST(c * c AS HUGEINT)) OVER (PARTITION BY event_type) AS sst
         |  FROM daily
         |),
         |sc AS (
         |  SELECT pre.*,
         |    sqrt((CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / t) / t) AS sigma,
         |    abs(t * sk - k * st) AS num
         |  FROM pre WHERE k < t
         |),
         |st2 AS (
         |  SELECT sc.*,
         |    CASE WHEN sigma > 0.0 THEN CAST(num AS DOUBLE)
         |      / (sqrt(CAST(k * (t - k) * t AS DOUBLE)) * sigma)
         |    ELSE 0.0 END AS stat_raw
         |  FROM sc
         |),
         |rk AS (
         |  SELECT st2.*,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY round(stat_raw, 6) DESC, d) AS rn
         |  FROM st2
         |),
         |best AS (
         |  SELECT event_type, d, k, t, st, sk, stat_raw,
         |    round(${OracleHelpers.kolmTailSql("stat_raw", "stat_raw * stat_raw")}, 6)
         |      AS p_value,
         |    count(*) OVER () AS m
         |  FROM rk WHERE rn = 1
         |),
         |pr AS (
         |  SELECT best.*,
         |    CAST(row_number() OVER (ORDER BY p_value, event_type) AS INT)
         |      AS p_rank
         |  FROM best
         |),
         |kst AS (
         |  SELECT pr.*,
         |    max(CASE WHEN p_value <= p_rank * 0.05 / m THEN p_rank END)
         |      OVER () AS kstar
         |  FROM pr
         |)
         |SELECT event_type, d AS split_day, k AS n_before, t - k AS n_after,
         |  round(stat_raw, 4) AS cusum_stat,
         |  round(CAST(sk AS DOUBLE) / k, 4) AS mean_before,
         |  round(CAST(st - sk AS DOUBLE) / (t - k), 4) AS mean_after,
         |  p_value, p_rank,
         |  p_rank <= coalesce(kstar, 0) AS significant
         |FROM kst ORDER BY event_type""".stripMargin,
    "q276_weekday_effect" ->
      // q248's doubled-rank H over (phase = d mod 7, daily count)
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1
        |),
        |obs AS (
        |  SELECT 'phase' || CAST(d % 7 AS VARCHAR) AS source, c AS v FROM daily
        |),
        |bv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM obs GROUP BY 1),
        |rk AS (
        |  SELECT v, t,
        |    2 * coalesce(CAST(sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      + t + 1 AS r2
        |  FROM bv
        |),
        |bsv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2),
        |per AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS nj,
        |    sum(CAST(c * r2 AS HUGEINT)) AS rjx2
        |  FROM bsv JOIN rk USING (v) GROUP BY 1
        |),
        |glb AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS n,
        |    sum(CAST(t * t * t - t AS HUGEINT)) AS ties
        |  FROM rk
        |),
        |terms AS (
        |  SELECT source, nj, rjx2, n, ties,
        |    3.0 * CAST(rjx2 AS DOUBLE) * CAST(rjx2 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (n + 1) * nj) AS cj
        |  FROM per CROSS JOIN glb
        |),
        |hh AS (
        |  SELECT terms.*,
        |    sum(CAST(round(cj * 1000000.0, 0) AS BIGINT)) OVER () / 1000000.0
        |      - 3.0 * (n + 1) AS h_raw,
        |    1.0 - CAST(ties AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * n * n - n) AS tie_corr,
        |    count(*) OVER () AS m
        |  FROM terms
        |)
        |SELECT source AS phase, nj AS n_days,
        |  round(CAST(rjx2 AS DOUBLE) / (2.0 * nj), 4) AS mean_rank,
        |  round(h_raw, 4) AS h_stat,
        |  CASE WHEN tie_corr > 0.0 THEN round(h_raw / tie_corr, 4) END
        |    AS h_corrected,
        |  CAST(m - 1 AS BIGINT) AS dof
        |FROM hh ORDER BY phase""".stripMargin,
    "q277_newey_west" ->
      // integer centering y = T·x − S (the q191 trick), HUGEINT lag
      // products, Bartlett weights cleared of fractions by (L+1)
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS d, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1
        |),
        |cal AS (
        |  SELECT unnest(generate_series((SELECT min(d) FROM daily),
        |    (SELECT max(d) FROM daily))) AS d
        |),
        |ser AS (
        |  SELECT cal.d, coalesce(x, 0) AS x FROM cal LEFT JOIN daily USING (d)
        |),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
        |       FROM ser),
        |yy AS (SELECT d, n, s, n * x - s AS y FROM ser CROSS JOIN st),
        |n0 AS (
        |  SELECT max(n) AS n, max(s) AS s, sum(CAST(y * y AS HUGEINT)) AS num0
        |  FROM yy
        |),
        |lp AS (
        |  SELECT l.lag, sum(CAST(a.y * b.y AS HUGEINT)) AS numl
        |  FROM (SELECT unnest(generate_series(1, 7)) AS lag) l
        |  JOIN yy a ON true
        |  JOIN yy b ON b.d = a.d + l.lag
        |  GROUP BY 1
        |),
        |nl AS (
        |  SELECT sum(CAST(16 * numl - 2 * lag * numl AS HUGEINT)) AS wsum
        |  FROM lp
        |),
        |fin AS (
        |  SELECT n, s,
        |    CAST(num0 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (n - 1))
        |      / CAST(n AS DOUBLE) AS v_naive,
        |    greatest((8.0 * CAST(num0 AS DOUBLE) + CAST(wsum AS DOUBLE))
        |      / (8.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |         * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0) AS v_nw
        |  FROM n0 CROSS JOIN nl
        |)
        |SELECT n AS n_days, round(CAST(s AS DOUBLE) / n, 4) AS mean_per_day,
        |  round(sqrt(v_naive), 6) AS se_naive, round(sqrt(v_nw), 6) AS se_nw,
        |  CASE WHEN sqrt(v_naive) > 0.0
        |    THEN round(sqrt(v_nw) / sqrt(v_naive), 4) END AS se_ratio
        |FROM fin""".stripMargin,
    "q279_mde" ->
      // the q237 arm-moment CTE into the (1.96 + 0.8416)·se planning form
      s"""WITH f AS (
         |  SELECT ${OracleHelpers.posSql("md5(CAST(user_id AS VARCHAR))", 0, 2)} AS arm,
         |    CAST(round(value * 10000, 0) AS BIGINT) AS vm
         |  FROM events WHERE event_type = 'purchase'
         |),
         |t AS (
         |  SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS s1_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN vm * vm ELSE 0 END) AS BIGINT) AS s2_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS s1_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN vm * vm ELSE 0 END) AS BIGINT) AS s2_b
         |  FROM f
         |),
         |m AS (
         |  SELECT t.*,
         |    sqrt((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a)
         |        / (n_a - 1) / n_a
         |      + (CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b)
         |        / (n_b - 1) / n_b) AS se,
         |    CAST(s1_a + s1_b AS DOUBLE) / (n_a + n_b) AS pooled
         |  FROM t
         |)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 1 AND n_b > 1 THEN round(se / 10000.0, 4) END AS se,
         |  CASE WHEN n_a > 1 AND n_b > 1
         |    THEN round(2.8016 * se / 10000.0, 4) END AS mde_abs,
         |  CASE WHEN n_a > 1 AND n_b > 1 AND pooled > 0.0
         |    THEN round(2.8016 * se / pooled, 6) END AS mde_rel
         |FROM m""".stripMargin,
    "q285_hill_tail" ->
      // distinct-value order-stat frame: descending cumulative counts,
      // exact integer top-k overlap weights, micro-quantized per-value
      // ln terms; one boundary division renders 1/alpha
      """WITH v AS (
        |  SELECT CAST(round(value * 10000, 0) AS BIGINT) AS vm
        |  FROM events WHERE event_type = 'purchase'
        |),
        |bv AS (
        |  SELECT vm, CAST(count(*) AS BIGINT) AS c FROM v
        |  WHERE vm >= 1 GROUP BY 1
        |),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bv),
        |t2 AS (
        |  SELECT bv.vm, bv.c, tot.n,
        |    CAST(ceil(sqrt(CAST(tot.n AS DOUBLE))) AS BIGINT) AS k,
        |    CAST(sum(c) OVER (ORDER BY vm DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(round(ln(CAST(vm AS DOUBLE)) * 1e6) AS BIGINT) AS l6
        |  FROM bv, tot
        |),
        |t3 AS (
        |  SELECT t2.*, greatest(0, least(cum, k) - (cum - c)) AS wk
        |  FROM t2
        |),
        |m AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n_pos, CAST(max(k) AS BIGINT) AS k,
        |    CAST(sum(wk * l6) AS BIGINT) AS s6,
        |    max(CASE WHEN cum >= k + 1 THEN vm END) AS vm_k1,
        |    max(CASE WHEN cum >= k + 1 THEN l6 END) AS l6_k1
        |  FROM t3
        |)
        |SELECT n_pos, k,
        |  CASE WHEN vm_k1 IS NOT NULL THEN round(vm_k1 / 1e4, 4) END AS threshold,
        |  CASE WHEN vm_k1 IS NOT NULL
        |    THEN round((s6 - k * l6_k1) / 1e6 / k, 6) END AS inv_alpha,
        |  CASE WHEN vm_k1 IS NOT NULL AND s6 - k * l6_k1 > 0
        |    THEN round(1.0 / ((s6 - k * l6_k1) / 1e6 / k), 4) END AS alpha
        |FROM m""".stripMargin,
    "q286_markov_stationary" ->
      // the engine's exact-integer power iteration unrolled (the q143
      // MATERIALIZED-CTE device): each step sums the half-up integers
      // (2sc + r) // (2r) per destination; float only at the final pi
      s"""$markovChainCtes
         |SELECT srcs.src AS event_type, rs.r AS n_out,
         |  round(CAST(coalesce(f.s, 0) AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS pi,
         |  CAST(resid.r9 AS DOUBLE) / 1e9 AS residual
         |FROM srcs
         |JOIN rs ON rs.src = srcs.src
         |LEFT JOIN s24 f ON f.t = srcs.src, tot, resid
         |ORDER BY event_type""".stripMargin,
    "q293_markov_entropy" ->
      // the q286 chain plus one per-cell entropy projection: terms
      // quantized to 1e-9 before any sum (ln the one libm call), the
      // pi/h coupling by half-up HUGEINT division — no float ordering
      s"""$markovChainCtes,
         |h9 AS (
         |  SELECT mat.src,
         |    CAST(sum(CASE WHEN mat.c > 0 AND mat.c < rs.r
         |      THEN CAST(round(CAST(mat.c AS DOUBLE) / rs.r
         |        * ln(CAST(rs.r AS DOUBLE) / mat.c)
         |        * 1.4426950408889634 * 1e9) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS h9
         |  FROM mat JOIN rs USING (src) GROUP BY 1
         |),
         |rate AS (
         |  SELECT CAST(sum((2 * CAST(f.s AS HUGEINT) * h9.h9 + tot.tot)
         |    // (2 * tot.tot)) AS HUGEINT) AS rate9
         |  FROM s24 f JOIN h9 ON h9.src = f.t, tot
         |)
         |SELECT srcs.src AS event_type,
         |  round(CAST(coalesce(f.s, 0) AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS pi,
         |  round(h9.h9 / 1e9, 6) AS h_state_bits,
         |  round(CAST(rate.rate9 AS DOUBLE) / 1e9, 6) AS entropy_rate_bits,
         |  CASE WHEN mm.m >= 2
         |    THEN round(1.0 - CAST(rate.rate9 AS DOUBLE) / 1e9
         |      / (ln(CAST(mm.m AS DOUBLE)) * 1.4426950408889634), 6)
         |  END AS predictability
         |FROM srcs
         |JOIN h9 ON h9.src = srcs.src
         |LEFT JOIN s24 f ON f.t = srcs.src, tot, rate, mm
         |ORDER BY event_type""".stripMargin,
    "q294_periodogram" -> {
      // integer-centered series, per-(t, p) trig quantized to 1e-9 at a
      // mod-reduced angle, exact HUGEINT term sums; shares + peak from
      // quantized power
      def trig9(fn: String) =
        s"""CAST(round($fn(6.283185307179586 * CAST(t % p AS DOUBLE) / p)
           | * 1e9) AS BIGINT)""".stripMargin
      val pwS = """((CAST(c9 AS DOUBLE) / 1e9) * (CAST(c9 AS DOUBLE) / 1e9)
                  | + (CAST(s9 AS DOUBLE) / 1e9) * (CAST(s9 AS DOUBLE) / 1e9))""".stripMargin
      s"""WITH daily AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS d,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1
         |),
         |cal AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
         |series AS (
         |  SELECT g.d, coalesce(daily.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(d0, d1)) AS d FROM cal) g
         |  LEFT JOIN daily USING (d)
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS tt, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(min(d) AS BIGINT) AS dmin
         |  FROM series
         |),
         |grid AS (
         |  SELECT s.d - tot.dmin AS t, tot.tt * s.x - tot.sx AS y, pp.p
         |  FROM series s, tot,
         |    (SELECT CAST(range AS BIGINT) AS p FROM range(2, 31)) pp
         |),
         |sums AS (
         |  SELECT p,
         |    sum(CAST(y * ${trig9("cos")} AS HUGEINT)) AS c9,
         |    sum(CAST(y * ${trig9("sin")} AS HUGEINT)) AS s9
         |  FROM grid GROUP BY 1
         |),
         |t2 AS (
         |  SELECT p, CAST(round($pwS / 1e6) AS HUGEINT) AS pw6 FROM sums
         |),
         |t3 AS (SELECT t2.*, sum(pw6) OVER () AS tp FROM t2),
         |t4 AS (
         |  SELECT t3.*, CASE WHEN tp > 0
         |    THEN round(CAST(pw6 AS DOUBLE) / CAST(tp AS DOUBLE), 6) END AS share
         |  FROM t3
         |),
         |t5 AS (SELECT t4.*, max(share) OVER () AS bs FROM t4),
         |t6 AS (
         |  SELECT t5.*, min(CASE WHEN share = bs THEN p END) OVER () AS bp
         |  FROM t5
         |)
         |SELECT p AS period_days, share AS power_share,
         |  coalesce(share = bs AND p = bp, false) AS is_peak
         |FROM t6 ORDER BY period_days""".stripMargin
    },
    "q295_lead_lag" ->
      // shared zero-filled calendar, integer-centered series, exact
      // HUGEINT lag numerators over overlapping days, packed peak key
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS d,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS xa,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS xb
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
        |),
        |cal AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
        |series AS (
        |  SELECT g.d, coalesce(xa, 0) AS xa, coalesce(xb, 0) AS xb
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS d FROM cal) g
        |  LEFT JOIN daily USING (d)
        |),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS tt, CAST(sum(xa) AS BIGINT) AS sa,
        |    CAST(sum(xb) AS BIGINT) AS sb
        |  FROM series
        |),
        |cent AS (
        |  SELECT d, tot.tt * xa - tot.sa AS ya, tot.tt * xb - tot.sb AS yb
        |  FROM series, tot
        |),
        |den AS (
        |  SELECT sum(CAST(ya * ya AS HUGEINT)) AS daa,
        |    sum(CAST(yb * yb AS HUGEINT)) AS dbb
        |  FROM cent
        |),
        |lags AS (SELECT CAST(range AS BIGINT) AS k FROM range(-7, 8)),
        |num AS (
        |  SELECT l.k, sum(CAST(a.ya * b.yb AS HUGEINT)) AS nab
        |  FROM lags l CROSS JOIN cent a JOIN cent b ON b.d = a.d + l.k
        |  GROUP BY 1
        |),
        |t2 AS (
        |  SELECT l.k,
        |    CASE WHEN den.daa > 0 AND den.dbb > 0
        |      THEN round(CAST(coalesce(num.nab, 0) AS DOUBLE)
        |        / sqrt(CAST(den.daa AS DOUBLE) * CAST(den.dbb AS DOUBLE)), 6)
        |    END AS ccf
        |  FROM lags l LEFT JOIN num USING (k), den
        |),
        |t3 AS (
        |  SELECT t2.*, CASE WHEN ccf IS NOT NULL THEN
        |    (2000000 - CAST(round(abs(ccf) * 1e6) AS BIGINT)) * 10000
        |      + abs(k) * 100 + (k + 50) END AS key
        |  FROM t2
        |),
        |t4 AS (SELECT t3.*, min(key) OVER () AS best FROM t3)
        |SELECT k AS lag_days, ccf, coalesce(key = best, false) AS is_peak
        |FROM t4 ORDER BY lag_days""".stripMargin,
    "q296_seasonal_decomp" -> {
      // exact 7-scaled detrending on full MA windows, mirrored phase
      // index division, DECIMAL-squared variance moments
      def popVar(s2: String, s1: String) =
        s"((CAST($s2 AS DOUBLE) - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE) / n) / n)"
      val vR = popVar("srr", "sr"); val vD = popVar("sdd", "sd")
      val vT = popVar("stt", "st")
      s"""WITH daily AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS d,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1
         |),
         |cal AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
         |series AS (
         |  SELECT g.d, coalesce(daily.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(d0, d1)) AS d FROM cal) g
         |  LEFT JOIN daily USING (d)
         |),
         |t1 AS (
         |  SELECT d, x,
         |    CAST(sum(x) OVER w AS BIGINT) AS t7,
         |    CAST(count(*) OVER w AS BIGINT) AS nw
         |  FROM series
         |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |),
         |t1f AS (
         |  SELECT d, x,
         |    CAST(round(CAST(x * 7 - t7 AS DOUBLE) / 7.0 * 1e6) AS BIGINT) AS d6,
         |    d % 7 AS phase
         |  FROM t1 WHERE nw = 7
         |),
         |sidx AS (
         |  SELECT phase, CAST(sum(d6) AS BIGINT) AS sd6,
         |    CAST(count(*) AS BIGINT) AS np
         |  FROM t1f GROUP BY 1
         |),
         |sidx2 AS (
         |  SELECT sidx.*, CAST(round(CAST(sd6 AS DOUBLE) / np) AS BIGINT) AS s6
         |  FROM sidx
         |),
         |t2 AS (
         |  SELECT t1f.*, s.s6, t1f.d6 - s.s6 AS r6,
         |    t1f.x * 1000000 - s.s6 AS tr6
         |  FROM t1f JOIN sidx2 s USING (phase)
         |),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(r6) AS BIGINT) AS sr,
         |    sum(CAST(r6 AS HUGEINT) * r6) AS srr,
         |    CAST(sum(d6) AS BIGINT) AS sd,
         |    sum(CAST(d6 AS HUGEINT) * d6) AS sdd,
         |    CAST(sum(tr6) AS BIGINT) AS st,
         |    sum(CAST(tr6 AS HUGEINT) * tr6) AS stt
         |  FROM t2
         |)
         |SELECT phase, np AS n_days, round(s6 / 1e6, 4) AS seasonal,
         |  CASE WHEN $vD > 0.0
         |    THEN round(greatest(0.0, 1.0 - $vR / $vD), 4) END AS f_seasonal,
         |  CASE WHEN $vT > 0.0
         |    THEN round(greatest(0.0, 1.0 - $vR / $vT), 4) END AS f_trend
         |FROM sidx2, m ORDER BY phase""".stripMargin
    },
    "q299_capture_recapture" ->
      // midpoint halves, per-user both-halves flags, Chapman + Seber
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |),
        |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN day < (SELECT m FROM mid) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h1,
        |    CAST(max(CASE WHEN day >= (SELECT m FROM mid) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h2
        |  FROM ev GROUP BY 1
        |),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS obs, CAST(sum(h1) AS BIGINT) AS n1,
        |    CAST(sum(h2) AS BIGINT) AS n2, CAST(sum(h1 * h2) AS BIGINT) AS mm
        |  FROM pu
        |)
        |SELECT n1 AS n_first_half, n2 AS n_second_half, mm AS n_both,
        |  obs AS n_observed,
        |  round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |    / (CAST(mm AS DOUBLE) + 1.0) - 1.0, 2) AS n_hat,
        |  round(sqrt((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |    * (CAST(n1 AS DOUBLE) - CAST(mm AS DOUBLE))
        |    * (CAST(n2 AS DOUBLE) - CAST(mm AS DOUBLE))
        |    / ((CAST(mm AS DOUBLE) + 1.0) * (CAST(mm AS DOUBLE) + 1.0)
        |      * (CAST(mm AS DOUBLE) + 2.0))), 2) AS se,
        |  round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |    / (CAST(mm AS DOUBLE) + 1.0) - 1.0 - obs, 2) AS undetected_hat
        |FROM m""".stripMargin,
    "q300_negbin_fit" ->
      // full user universe through the algebra; exact moments; two
      // mirrored divisions; v <= m pins r/p to NULL
      """WITH u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM events),
        |put AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2
        |),
        |bt AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS s1,
        |    sum(CAST(c * c AS HUGEINT)) AS s2
        |  FROM put GROUP BY 1
        |)
        |SELECT event_type, nu AS n_users,
        |  round(CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE), 4) AS mean,
        |  round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
        |    / CAST(nu AS DOUBLE)) / CAST(nu AS DOUBLE), 4) AS variance,
        |  CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
        |      / CAST(nu AS DOUBLE)) / CAST(nu AS DOUBLE)
        |      > CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE)
        |    THEN round((CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE))
        |      / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
        |        / CAST(nu AS DOUBLE)) / CAST(nu AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE)), 4)
        |  END AS nb_r,
        |  CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
        |      / CAST(nu AS DOUBLE)) / CAST(nu AS DOUBLE)
        |      > CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE)
        |    THEN round((CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE))
        |      / ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1
        |        / CAST(nu AS DOUBLE)) / CAST(nu AS DOUBLE)), 6)
        |  END AS nb_p
        |FROM bt, u ORDER BY event_type""".stripMargin,
    "q288_stratified_ate" ->
      // per-user (treated, spend, activity) -> exact log2 bucket frame;
      // bucket diffs micro-quantized before the weighted window sum;
      // naive gap and off-support mass beside the adjusted ATE
      """WITH pu AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
        |    CASE WHEN CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) * 5 > count(*) THEN 1 ELSE 0 END AS t,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 10000, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |),
        |bb AS (
        |  SELECT CAST(length(bin(n_ev)) - 1 AS BIGINT) AS bucket,
        |    CAST(sum(t) AS BIGINT) AS n1, CAST(sum(1 - t) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
        |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
        |  FROM pu GROUP BY 1
        |),
        |t2 AS (
        |  SELECT bb.*,
        |    CASE WHEN n1 >= 1 AND n0 >= 1
        |      THEN CAST(round((CAST(sy1 AS DOUBLE) / n1
        |        - CAST(sy0 AS DOUBLE) / n0) * 100.0) AS BIGINT) END AS d6,
        |    CASE WHEN n1 >= 1 AND n0 >= 1 THEN n1 + n0 ELSE 0 END AS w
        |  FROM bb
        |),
        |t3 AS (
        |  SELECT t2.*,
        |    CAST(sum(w) OVER () AS BIGINT) AS wsum,
        |    CAST(sum(d6 * w) OVER () AS BIGINT) AS ate6,
        |    CAST(sum(CASE WHEN w = 0 THEN n1 + n0 ELSE 0 END) OVER () AS BIGINT) AS dropped,
        |    CAST(sum(n1) OVER () AS BIGINT) AS nt1,
        |    CAST(sum(n0) OVER () AS BIGINT) AS nt0,
        |    CAST(sum(sy1) OVER () AS BIGINT) AS st1,
        |    CAST(sum(sy0) OVER () AS BIGINT) AS st0
        |  FROM t2
        |)
        |SELECT bucket, n1 AS n_treated, n0 AS n_control,
        |  CASE WHEN n1 >= 1 THEN round(sy1 / 1e4 / n1, 4) END AS mean_treated,
        |  CASE WHEN n0 >= 1 THEN round(sy0 / 1e4 / n0, 4) END AS mean_control,
        |  CASE WHEN n1 >= 1 AND n0 >= 1 THEN round(d6 / 1e6, 4) END AS bucket_diff,
        |  CASE WHEN wsum > 0
        |    THEN round(ate6 / (CAST(wsum AS DOUBLE) * 1e6), 4) END AS ate,
        |  CASE WHEN nt1 >= 1 AND nt0 >= 1
        |    THEN round((st1 / 1e4 / nt1 - st0 / 1e4 / nt0), 4) END AS naive_diff,
        |  dropped AS n_off_support
        |FROM t3 ORDER BY bucket""".stripMargin,
  )
}
