"""Query registrations and DuckDB oracles for ``operators/timeseries.py``."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_obj_spark.operators.timeseries import (
    _HOLT_ALPHA,
    _HOLT_BETA,
    _HOLT_GRID_STEPS,
    ewma,
    ewma_quantized,
    holt_fixed_grid,
    holt_linear,
    markov_transitions,
    resample_gapfill,
    resample_interpolate,
    rfm_features,
    rolling_stats,
    scd2_intervals,
    sessionize_islands,
    top_paths,
)
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


def _resample_oracle(bucket_secs: int) -> str:
    return f"""
    WITH e AS (
      SELECT user_id, floor(epoch(ts))::BIGINT // {bucket_secs} AS b, value AS v
      FROM events
    ), bounds AS (
      SELECT user_id, min(b) AS b0, max(b) AS b1 FROM e GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(range(b0, b1 + 1)) AS b FROM bounds
    ), agg AS (
      SELECT user_id, b, count(*) AS n, round(sum(v), 6) AS sv
      FROM e GROUP BY user_id, b
    )
    SELECT g.user_id, g.b * {bucket_secs} AS bucket_start,
           coalesce(a.n, 0) AS n_events,
           coalesce(a.sv, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.b = a.b
    """


@query("ts_resample_gapfill", oracle=_resample_oracle(3600))
def ts_resample_gapfill_q(spark, sf_dir):
    """Hourly per-user event counts with empty hours zero-filled."""
    ev = load_table(spark, sf_dir, "events")
    return resample_gapfill(ev, "user_id", "ts", "value", bucket_secs=3600)


_ROLLING_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, value, floor(epoch(ts))::BIGINT AS secs, ts
      FROM events
    )
    SELECT user_id, event_id,
           round(avg(value) OVER w, 6) AS roll_avg,
           round(min(value) OVER w, 6) AS roll_min,
           round(max(value) OVER w, 6) AS roll_max,
           count(*) OVER w AS roll_n,
           coalesce(
             secs - lag(secs) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             -1
           )::BIGINT AS gap_secs
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """


@query("ts_rolling_stats", oracle=_ROLLING_ORACLE)
def ts_rolling_stats_q(spark, sf_dir):
    """Trailing-5-event rolling stats per user + inter-event gap.

    ``gap_secs`` is NULL on each user's first event in the library op;
    the query coalesces it to the -1 sentinel BIGINT on BOTH engines —
    a NULL in an integral column makes pandas promote the oracle side
    to float64 ('12331.0' vs '12331' in the driver hash), the standing
    sim_label_propagation gotcha."""
    ev = load_table(spark, sf_dir, "events")
    out = rolling_stats(ev, "user_id", "ts", "event_id", "value", n=5)
    return out.withColumn(
        "gap_secs", F.coalesce(F.col("gap_secs"), F.lit(-1)).cast("long")
    )


@query("ts_ewma_rowsonly")
def ts_ewma_rowsonly_q(spark, sf_dir):
    """Per-user EWMA (alpha=0.3) — sequential recurrence via one
    applyInPandas batch per user; rows-only (recursive weighted
    recurrence is not portable set-based SQL; pinned by unit test
    against a hand-computed series in tests/test_timeseries.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ewma(ev, "user_id", "ts", "event_id", "value", alpha=0.3)


_SCD2_ORACLE = """
    WITH e AS (
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS secs, ts
      FROM events
    )
    SELECT user_id, event_id,
           secs AS valid_from,
           coalesce(lead(secs) OVER w, -1)::BIGINT AS valid_to,
           (lead(secs) OVER w IS NULL) AS is_current
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("ts_scd2_intervals", oracle=_SCD2_ORACLE)
def ts_scd2_intervals_q(spark, sf_dir):
    """SCD2 history intervals over the per-user event timeline.

    The library op keeps the warehouse-standard NULL ``valid_to`` on
    the current version; the query coalesces it to the -1 sentinel
    BIGINT on BOTH engines (nullable-int → pandas float64 promotion
    cracks the driver hash), with ``is_current`` still carrying the
    open-interval semantics."""
    ev = load_table(spark, sf_dir, "events")
    out = scd2_intervals(ev, "user_id", "ts", "event_id")
    return out.withColumn(
        "valid_to", F.coalesce(F.col("valid_to"), F.lit(-1)).cast("long")
    )


def _sessionize_islands_oracle(gap_secs: int) -> str:
    return f"""
    WITH e AS (
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS secs, ts
      FROM events
    ), g AS (
      SELECT user_id, event_id, secs, ts,
             secs - lag(secs) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap
      FROM e
    ), s AS (
      SELECT user_id, event_id, ts,
             CASE WHEN gap IS NULL OR gap > {gap_secs} THEN 1 ELSE 0 END
               AS is_start
      FROM g
    )
    SELECT user_id, event_id,
           CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS session_no
    FROM s
    """


@query("ts_sessionize_islands", oracle=_sessionize_islands_oracle(1800))
def ts_sessionize_islands_q(spark, sf_dir):
    """30-minute-gap sessionization as pure window SQL (gaps-and-islands)."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize_islands(ev, "user_id", "ts", "event_id", 1800)


def _interpolate_oracle(bucket_secs: int) -> str:
    return f"""
    WITH ev AS (
      SELECT user_id AS key,
             CAST(floor(floor(epoch(ts)) / {bucket_secs}) AS BIGINT) AS b,
             CAST(floor(avg(value) * 1000000) AS BIGINT) AS obs_u
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT key, min(b) AS b0, max(b) AS b1 FROM ev GROUP BY key
    ), grid AS (
      SELECT key, unnest(range(b0, b1 + 1)) AS b FROM bounds
    ), g AS (
      SELECT grid.key, grid.b, ev.obs_u
      FROM grid LEFT JOIN ev ON ev.key = grid.key AND ev.b = grid.b
    ), filled AS (
      SELECT key, b, obs_u,
             last_value(obs_u IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             first_value(obs_u IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN obs_u IS NOT NULL THEN b END IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
             first_value(CASE WHEN obs_u IS NOT NULL THEN b END IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
      FROM g
    )
    SELECT key, b,
           coalesce(obs_u,
                    prev_v + CAST(floor((next_v - prev_v) * (b - prev_b)
                                        / (next_b - prev_b)) AS BIGINT))
             AS v_micro,
           CAST(obs_u IS NOT NULL AS INT) AS observed
    FROM filled
    """


@query("ts_resample_interpolate", oracle=_interpolate_oracle(3600))
def ts_resample_interpolate_q(spark, sf_dir):
    """Hourly per-user resampling with linear interpolation across
    empty buckets (observed buckets pass through exactly)."""
    ev = load_table(spark, sf_dir, "events")
    return resample_interpolate(ev, "user_id", "ts", "value", 3600)


@query(
    "ts_anomaly_flags",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, value,
             avg(value) OVER win AS mu,
             stddev_pop(value) OVER win AS sd,
             count(*) OVER win AS nw
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           round(mu, 6) AS roll_mu,
           round(sd, 6) AS roll_sd,
           CAST(nw >= 5 AND abs(value - mu) > 2 * sd AS INT) AS is_anomaly
    FROM w
    """,
)
def ts_anomaly_flags_q(spark, sf_dir):
    """Rolling z-score anomaly detection: trailing-20-event mean/std
    per user, flag |x - mu| > 2sd once the window has >= 5 points (the
    warm-up guard).  One shuffle on the key, three window functions in
    one in-partition sort — the streaming-adjacent monitoring shape
    (the stateful twin is applyInPandasWithState with running
    moments)."""
    ev = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    mu = F.avg("value").over(win)
    sd = F.stddev_pop("value").over(win)
    nw = F.count(F.lit(1)).over(win)
    return ev.select(
        "user_id",
        "event_id",
        F.round(mu, 6).alias("roll_mu"),
        F.round(sd, 6).alias("roll_sd"),
        ((nw >= 5) & (F.abs(F.col("value") - mu) > 2 * sd)).cast("int").alias(
            "is_anomaly"
        ),
    )


@query(
    "ts_trend_per_user",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           round(regr_slope(value, floor(epoch(ts))), 6) + 0 AS slope,
           round(regr_intercept(value, floor(epoch(ts))), 6) + 0 AS intercept
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 10
    """,
)
def ts_trend_per_user_q(spark, sf_dir):
    """Per-user value trend: least-squares slope of value over event
    time (grouped regr_slope — one algebraic aggregate, the per-entity
    drift detector). Groups below 10 points are dropped (slope of a
    near-empty group is noise). Shuffle carries five moment partials
    per user, independent of event count."""
    ev = load_table(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts").cast("double")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # + 0.0 normalizes IEEE negative zero (round(-1e-9, 6) is
            # -0.0 in DuckDB, 0.0 in Spark — different hash strings)
            (F.round(F.regr_slope(F.col("value"), secs), 6) + F.lit(0.0)).alias(
                "slope"
            ),
            (F.round(F.regr_intercept(F.col("value"), secs), 6) + F.lit(0.0)).alias(
                "intercept"
            ),
        )
        .filter(F.col("n") >= 10)
    )


@query(
    "window_sliding_distinct_users",
    oracle="""
    WITH b AS (
      SELECT user_id,
             epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS bucket
      FROM events
    ), exploded AS (
      SELECT user_id, unnest([
        bucket, bucket - 300, bucket - 600, bucket - 900,
        bucket - 1200, bucket - 1500, bucket - 1800, bucket - 2100,
        bucket - 2400, bucket - 2700, bucket - 3000, bucket - 3300
      ]) AS w_start
      FROM b
    )
    SELECT w_start, count(DISTINCT user_id) AS n_users
    FROM exploded GROUP BY w_start
    """,
)
def window_sliding_distinct_users_q(spark, sf_dir):
    """Rolling 1-hour distinct-user count every 5 minutes (the
    engagement metric windows can't express directly — count distinct
    has no frame semantics). Each event contributes to its 12 covering
    windows via a literal-array explode, then one distinct aggregate
    per window start; at 100 TB the exact distinct swaps for
    approx_count_distinct with the identical plan (and in streaming
    the same shape runs as tumbling partials merged at read)."""
    ev = load_table(spark, sf_dir, "events")
    base = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    starts = F.array(*[base - i * 300 for i in range(12)])
    return (
        ev.select(F.explode(starts).alias("w_start"), "user_id")
        .groupBy("w_start")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "ts_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ), t AS (
      SELECT user_id, sum(n) AS total FROM c GROUP BY user_id
    )
    SELECT c.user_id,
           round(-sum((c.n / t.total) * ln(c.n / t.total)), 6) AS entropy,
           count(*) AS n_types
    FROM c JOIN t ON t.user_id = c.user_id
    GROUP BY c.user_id
    """,
)
def ts_user_entropy_q(spark, sf_dir):
    """Shannon entropy of each user's event-type distribution (the
    behavioral-diversity signal; near 0 = single-action bots, high =
    diverse engagement). Two-level aggregate: per-(user, type) counts,
    per-user totals joined back on the SAME user partitioning, one
    entropy fold — the shuffle carries (user, type) counts only."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH mu AS (
      SELECT user_id, floor(avg(value) * 1000000) / 1000000 AS m
      FROM events GROUP BY user_id
    ), y AS (
      SELECT e.user_id, e.event_id, e.ts, e.value - mu.m - 0.25 AS yv
      FROM events e JOIN mu ON e.user_id = mu.user_id
    ), m AS (
      SELECT user_id, event_id,
             sum(yv) OVER win AS run
      FROM y
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT user_id, event_id,
             run - least(0, min(run) OVER win) AS cusum
      FROM m
      WINDOW win AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, round(cusum, 6) AS cusum,
           CAST(cusum > 5.0 AS INT) AS changepoint
    FROM s
    """,
)
def ts_changepoint_cusum_q(spark, sf_dir):
    """One-sided CUSUM changepoint detection per user: flag where the
    cumulative drift statistic S_i = max(0, S_{i-1} + (x_i - mu - slack))
    exceeds a threshold — the classic upward-shift monitor.

    The textbook recursion looks sequential (each S depends on the
    previous), but the reflection identity
    S_i = M_i - min(0, min_{j<=i} M_j)  with  M = running sum of
    (x - mu - slack) makes it PURE WINDOW ALGEBRA: one running sum and
    one running min in the same per-user ordered frame — no
    applyInPandas, no Python state, one shuffle on the key.  (EWMA has
    no such closed form, which is why ts_ewma stays an applyInPandas
    op.)  Cross-engine: both engines evaluate the ordered running sum
    left-to-right over the identical (ts, event_id) order, so the float
    stream is reproducible; slack and threshold are fixed constants.

    At 100 TB: identical shape to every other keyed-window op here —
    shuffle once on user_id, sort within partition, two frames in one
    pass.  The ordered second window reuses the first's sort (same key,
    coarser order column)."""
    ev = load_table(spark, sf_dir, "events")
    # floor-quantize the mean to micro-units on both engines: the raw
    # avg differs in the last ulp across engines (unordered fold) and a
    # running sum amplifies that by the row count — the same cross-engine
    # numerics contract as ts_resample_interpolate (PLANS.md)
    mu = ev.groupBy("user_id").agg(
        (F.floor(F.avg("value") * 1000000) / 1000000).alias("m")
    )
    # per-user means are corpus-sized at scale: plain key join
    y = ev.join(mu, "user_id").select(
        "user_id", "event_id", "ts",
        (F.col("value") - F.col("m") - F.lit(0.25)).alias("yv"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = y.select(
        "user_id", "event_id", F.sum("yv").over(w_run).alias("run")
    )
    w_min = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = m.select(
        "user_id",
        "event_id",
        (F.col("run") - F.least(F.lit(0.0), F.min("run").over(w_min))).alias("cusum"),
    )
    return s.select(
        "user_id",
        "event_id",
        F.round("cusum", 6).alias("cusum"),
        (F.col("cusum") > 5.0).cast("int").alias("changepoint"),
    )


@query(
    "ts_seasonal_profile",
    oracle="""
    WITH hod AS (
      SELECT event_id, user_id, value,
             CAST(floor(floor(epoch(ts)) / 3600) % 24 AS BIGINT) AS hour_of_day
      FROM events
    ), seas AS (
      SELECT hour_of_day,
             floor(avg(value) * 1000000) / 1000000 AS seasonal
      FROM hod GROUP BY hour_of_day
    )
    SELECT h.event_id, h.user_id, h.hour_of_day,
           round(s.seasonal, 6) AS seasonal,
           round(h.value - s.seasonal, 6) AS residual
    FROM hod h JOIN seas s ON s.hour_of_day = h.hour_of_day
    """,
)
def ts_seasonal_profile_q(spark, sf_dir):
    """Seasonal decomposition (STL-lite): the hour-of-day seasonal mean
    profile subtracted from every observation — residuals feed anomaly
    detection without the daily cycle masking real deviations.

    Plan: the profile is a 24-row hash aggregate broadcast back onto
    the stream — the corpus is scanned once and never shuffled (the
    aggregate's exchange carries 24 partials per task).  The seasonal
    mean is floor-quantized to micro-units before subtraction (the
    cross-engine numerics contract: raw avg() differs in the last ulp
    between engines).  Hour-of-day comes from epoch seconds, aligning
    with every other window boundary in the repo (floor, not round)."""
    ev = load_table(spark, sf_dir, "events")
    hod = ev.select(
        "event_id",
        "user_id",
        "value",
        (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("bigint").alias(
            "hour_of_day"
        ),
    )
    seas = hod.groupBy("hour_of_day").agg(
        (F.floor(F.avg("value") * 1000000) / 1000000).alias("seasonal")
    )
    return hod.join(F.broadcast(seas), "hour_of_day").select(
        "event_id",
        "user_id",
        "hour_of_day",
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("value") - F.col("seasonal"), 6).alias("residual"),
    )


@query(
    "ts_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ), totals AS (
      SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           round(t.n * 1.0 / s.tot, 6) AS p
    FROM trans t JOIN totals s ON s.from_type = t.from_type
    """,
)
def ts_markov_transitions_q(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: for every
    (current event type → next event type) pair, the transition count
    and conditional probability — the sequence model behind next-action
    prediction, funnel leak analysis, and bot detection (bots have
    degenerate transition rows).

    Plan: one lead() window per user (single shuffle on the key, the
    same sort every sessionization query reuses), then two
    dimension-sized aggregates (|types|² transition cells).  Counts are
    exact integers; the probability divides integers, so cross-engine
    values are identical before rounding."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("tot"), 6).alias("p"),
    )


@query(
    "ts_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             floor(epoch(ts))::BIGINT
               - lag(floor(epoch(ts))::BIGINT)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT event_type,
           count(gap_s) AS n_gaps,
           round(avg(gap_s), 6) AS mean_gap_s,
           round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
           round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_interarrival_stats_q(spark, sf_dir):
    """Inter-arrival gap distribution per event type (seconds between a
    user's consecutive events, attributed to the later event's type):
    count, mean, exact p50/p90 — the dwell-time / engagement-cadence
    profile, and the input for hazard-style churn heuristics.

    Gap computed on integer epoch seconds (floor on both engines) so
    lag-differences are exact; percentiles are the exact interpolated
    kind (F.percentile ≡ quantile_cont).  One per-user window + one
    per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.unix_timestamp("ts")
    gaps = ev.select(
        "event_type", (secs - F.lag(secs).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
    )


@query(
    "ts_rolling_autocorr",
    oracle="""
    WITH lagged AS (
      SELECT user_id, event_id, ts, value AS x,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events
    ), stats AS (
      SELECT user_id, event_id,
             count(*) OVER win AS nw,
             avg(x) OVER win AS mx,
             avg(y) OVER win AS my,
             avg(x * y) OVER win AS mxy,
             stddev_pop(x) OVER win AS sx,
             stddev_pop(y) OVER win AS sy
      FROM lagged WHERE y IS NOT NULL
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           coalesce(
             CASE WHEN nw >= 5 AND sx > 0 AND sy > 0
                  THEN round((mxy - mx * my) / (sx * sy), 6) END,
             -999.0
           ) AS autocorr
    FROM stats
    """,
)
def ts_rolling_autocorr_q(spark, sf_dir):
    """Rolling lag-1 autocorrelation per user (trailing 20 events,
    5-event warm-up): the serial-dependence monitor — near zero for
    organic noise, spiking for scripted/periodic behavior (bots,
    replayed traffic) — computed as windowed moment algebra:
    corr = (E[xy] − E[x]E[y]) / (σx σy), all six moments from ONE
    ordered frame in one per-user pass.

    NULL (not 0) during warm-up or zero variance, so downstream
    consumers can't mistake 'undefined' for 'uncorrelated'.  Same
    keyed-window shape as ts_anomaly_flags; the lag and the frame share
    one sort."""
    ev = load_table(spark, sf_dir, "events")
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").alias("x"),
        F.lag("value").over(wl).alias("y"),
    ).filter(F.col("y").isNotNull())
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    nw = F.count(F.lit(1)).over(win)
    mx = F.avg("x").over(win)
    my = F.avg("y").over(win)
    mxy = F.avg(F.col("x") * F.col("y")).over(win)
    sx = F.stddev_pop("x").over(win)
    sy = F.stddev_pop("y").over(win)
    # -999.0 sentinel instead of NULL: a NULL double round-trips as NaN
    # through the oracle's pandas fetch and cracks the driver hash; the
    # sentinel is unambiguous (autocorr is in [-1, 1])
    return lagged.select(
        "user_id",
        "event_id",
        F.coalesce(
            F.when(
                (nw >= 5) & (sx > 0) & (sy > 0),
                F.round((mxy - mx * my) / (sx * sy), 6),
            ),
            F.lit(-999.0),
        ).alias("autocorr"),
    )


@query(
    "ts_burst_detection",
    oracle="""
    WITH c AS (
      SELECT user_id, floor(epoch(ts))::BIGINT // 3600 AS b,
             count(*) AS cnt
      FROM events GROUP BY user_id, floor(epoch(ts))::BIGINT // 3600
    ), s AS (
      SELECT user_id, b, cnt,
             count(*) OVER u AS n,
             sum(cnt) OVER u AS sc,
             sum(cnt * cnt) OVER u AS sc2
      FROM c
      WINDOW u AS (PARTITION BY user_id)
    ), z AS (
      SELECT user_id, b, cnt, n,
             (cnt - sc / CAST(n AS DOUBLE))
               / sqrt((sc2 - sc::DOUBLE * sc / CAST(n AS DOUBLE)) / (n - 1)) AS zs
      FROM s
      WHERE n >= 3 AND sc2::DOUBLE * n > sc::DOUBLE * sc
    )
    SELECT user_id, b AS bucket, CAST(cnt AS BIGINT) AS cnt,
           round(zs, 6) AS z
    FROM z WHERE zs > 2.0
    """,
)
def ts_burst_detection_q(spark, sf_dir):
    """Per-user activity-burst detection: hourly event counts flagged
    where the count sits more than 2 sample standard deviations above
    that user's own mean over their OBSERVED hours — the rate-anomaly
    monitor (scraper bursts, retry storms, incident spikes) that
    ts_anomaly_flags runs on values, applied to event RATE.

    Scale shape: the facts collapse to (user, hour) counts in one
    codegen'd hash aggregate; the per-user baseline (n, sum, sum of
    squares) is an unordered window over the SAME user partitioning,
    so the whole query is a single shuffle on user_id — no second
    aggregate-and-join pass.  Mean and variance are computed from the
    exact BIGINT count sums with an identical expression on both
    engines (never stddev(), whose summation order differs), so the
    z-scores — and the >2.0 flag boundary — agree bit-for-bit.  The
    variance guard AND the z-score's own sc*sc term compute the cross
    products as DOUBLES on both engines: integers below 2^53 are exact
    in a double (so bench-scale decisions — and hashes — are unchanged),
    while a raw BIGINT product would silently WRAP past 2^63 on Spark
    (DuckDB promotes to HUGEINT) and could misfire the guard or corrupt
    zs at 100 TB per-user volumes (r13 review finding; r14 ADVICE closed
    the remaining zs-side product).  A pathologically hot user key generalizes via the
    salt-and-remerge pattern of skew_salted_counts."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / F.lit(3600))).cast("long").alias("b"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    u = Window.partitionBy("user_id")
    s = c.select(
        "user_id",
        "b",
        "cnt",
        F.count(F.lit(1)).over(u).alias("n"),
        F.sum("cnt").over(u).alias("sc"),
        F.sum(F.col("cnt") * F.col("cnt")).over(u).alias("sc2"),
    )
    zs = (F.col("cnt") - F.col("sc") / F.col("n").cast("double")) / F.sqrt(
        (
            F.col("sc2")
            - F.col("sc").cast("double") * F.col("sc") / F.col("n").cast("double")
        )
        / (F.col("n") - 1)
    )
    return (
        s.filter(
            (F.col("n") >= 3)
            & (
                F.col("sc2").cast("double") * F.col("n")
                > F.col("sc").cast("double") * F.col("sc")
            )
        )
        .select(
            "user_id",
            F.col("b").alias("bucket"),
            F.col("cnt").cast("long").alias("cnt"),
            zs.alias("zs"),
        )
        .filter(F.col("zs") > 2.0)
        .select(
            "user_id", "bucket", "cnt", F.round("zs", 6).alias("z")
        )
    )


@query(
    "ts_ewma_exact",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(event_id ORDER BY ts, event_id) AS l_e,
             list(value ORDER BY ts, event_id) AS l_v
      FROM events GROUP BY user_id
    ), idx AS (
      SELECT user_id, l_e, l_v, unnest(range(1, len(l_v) + 1)) AS i
      FROM ordered
    )
    SELECT user_id, l_e[i] AS event_id,
           CAST(list_reduce(
                 list_prepend(floor(l_v[1] * 1000000.0), l_v[2:i]),
                 (acc, x) -> floor((0.3::DOUBLE * 1000000.0::DOUBLE) * x
                                   + 0.7::DOUBLE * acc)) AS BIGINT)
             AS ewma_u
    FROM idx
    """,
)
def ts_ewma_exact_q(spark, sf_dir):
    """Per-user EWMA (alpha=0.3), ORACLE-PAIRED, carried in integer
    MICRO-UNITS: the fold state is floor-quantized every step
    (s_t = floor(0.3e6·x_t + 0.7·s_{t-1}), s_1 = floor(1e6·x_1)), so
    the state is always an integer-valued double — each step is two
    IEEE multiplies, one add, and a floor, identical on both engines,
    and the emitted BIGINT hashes exactly.  This replaces the round-6
    readout of the raw double fold, whose "bit-identical" claim
    survived 10k rows but cracked on one rounding-boundary ulp in
    ~105k rows at sf0.1 (round() tie semantics: Spark HALF_UP vs
    DuckDB half-even) — the repo's standing floor-quantize rule,
    applied to the fold state itself.  DuckDB replays the recurrence
    with list_reduce over the identically-ordered value list, the
    first element pre-quantized via list_prepend so acc starts at
    s_1.  (Oracle cost is the per-user prefix re-fold, O(rows·
    avg-group) — an oracle-side price only; the Spark plan is one
    Arrow batch per user, the same as the rows-only query.)"""
    ev = load_table(spark, sf_dir, "events")
    return ewma_quantized(ev, "user_id", "ts", "event_id", "value", alpha=0.3)


@query("ts_holt_rowsonly")
def ts_holt_rowsonly_q(spark, sf_dir):
    """Per-user Holt linear-trend smoothing (alpha=0.3, beta=0.1) with
    the one-step forecast — rows-only (two-accumulator recurrence; see
    holt_linear docstring), pinned by the hand-computed series test and
    oracle-verified end to end by the `ts_holt_grid` companion."""
    ev = load_table(spark, sf_dir, "events")
    return holt_linear(ev, "user_id", "ts", "event_id", "value")


def _holt_grid_oracle(
    steps: int = _HOLT_GRID_STEPS,
    alpha: float = _HOLT_ALPHA,
    beta: float = _HOLT_BETA,
) -> str:
    """Unrolled Holt recurrence over the fixed bucket grid.  Literals
    come from repr() of the SAME Python floats the worker loop uses
    (1.0-alpha and 1.0-beta are exact IEEE for the defaults), so every
    step is the identical multiply/add tree on both engines and the
    floor-quantized micro-units hash exactly (verified bit-exact
    against the Python loop at sf0.01 before registration)."""
    a, oma = repr(alpha), repr(1.0 - alpha)
    b, omb = repr(beta), repr(1.0 - beta)
    xcols = ", ".join(
        f"CAST(count(*) FILTER (bkt = {k}) AS DOUBLE) AS x{k + 1}"
        for k in range(steps)
    )
    chain = [
        f"""es AS (
      SELECT user_id, floor(epoch(ts))::BIGINT AS es FROM events
    ),
    bounds AS (SELECT min(es) AS tmin, max(es) AS tmax FROM es),
    bk AS (
      SELECT user_id,
             least({steps - 1}, (es - tmin) * {steps} // (tmax - tmin + 1)) AS bkt
      FROM es, bounds
    ),
    g AS (SELECT user_id, {xcols} FROM bk GROUP BY user_id),
    s1 AS MATERIALIZED (SELECT *, x1 AS l1, 0.0::DOUBLE AS b1 FROM g)"""
    ]
    for k in range(2, steps + 1):
        nl = f"{a}::DOUBLE * x{k} + {oma}::DOUBLE * (l{k - 1} + b{k - 1})"
        chain.append(
            f"""s{k} AS MATERIALIZED (SELECT *,
      {nl} AS l{k},
      {b}::DOUBLE * (({nl}) - l{k - 1}) + {omb}::DOUBLE * b{k - 1} AS b{k}
    FROM s{k - 1})"""
        )
    arms = ", ".join(
        f"struct_pack(step := {k}::BIGINT, l := l{k}, b := b{k})"
        for k in range(1, steps + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(chain)
        + f""",
    u AS (SELECT user_id, unnest([{arms}]) AS e FROM s{steps})
    SELECT user_id, e.step AS step,
           CAST(floor(e.l * 1000000.0) AS BIGINT) AS level_u,
           CAST(floor(e.b * 1000000.0) AS BIGINT) AS trend_u,
           CAST(floor((e.l + e.b) * 1000000.0) AS BIGINT) AS fc_u
    FROM u
    """
    )


@query("ts_holt_grid", oracle=_holt_grid_oracle())
def ts_holt_grid_q(spark, sf_dir):
    """Per-user Holt smoothing of 8-bucket activity counts — the
    oracle-paired fixed-unroll companion for the rows-only raw-series
    Holt (r9 verdict #5): the SAME shipped applyInPandas loop runs on
    a fixed-length zero-filled grid, and the oracle replays the
    two-accumulator recurrence as 8 chained MATERIALIZED CTEs."""
    ev = load_table(spark, sf_dir, "events")
    return holt_fixed_grid(ev, "user_id", "ts")


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS s_from,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS s_to
      FROM events
    ), c AS (
      SELECT s_from, s_to, count(*)::BIGINT AS n
      FROM seq WHERE s_to IS NOT NULL GROUP BY s_from, s_to
    )
    SELECT s_from, s_to, n,
           floor(n::DOUBLE / (sum(n) OVER (PARTITION BY s_from))::DOUBLE
                 * 1e6)::BIGINT AS p_x1m
    FROM c
    """,
)
def events_markov_transitions_q(spark, sf_dir):
    """Per-user event-type transition matrix with micro-unit
    probabilities — exact counts, one keyed shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return markov_transitions(ev, "user_id", "ts", "event_id", "event_type")


@query(
    "events_rfm_features",
    oracle="""
    WITH agg AS (
      SELECT user_id,
             CAST(max(floor(epoch(ts))::BIGINT) AS BIGINT) AS recency_secs,
             count(*)::BIGINT AS frequency,
             CAST(sum(floor(value * 1e6)::BIGINT) AS BIGINT) AS monetary_u
      FROM events GROUP BY user_id
    )
    SELECT user_id, recency_secs, frequency, monetary_u,
           ntile(5) OVER (ORDER BY recency_secs DESC, user_id)::BIGINT AS r_score,
           ntile(5) OVER (ORDER BY frequency DESC, user_id)::BIGINT AS f_score,
           ntile(5) OVER (ORDER BY monetary_u DESC, user_id)::BIGINT AS m_score,
           (ntile(5) OVER (ORDER BY recency_secs DESC, user_id) * 100
            + ntile(5) OVER (ORDER BY frequency DESC, user_id) * 10
            + ntile(5) OVER (ORDER BY monetary_u DESC, user_id))::BIGINT AS rfm
    FROM agg
    """,
)
def events_rfm_features_q(spark, sf_dir):
    """Per-user RFM segmentation: recency/frequency/monetary with
    deterministic quintile scores and the folded 3-digit code; exact
    integer sums throughout."""
    ev = load_table(spark, sf_dir, "events")
    return rfm_features(ev, "user_id", "ts", "value")


@query(
    "events_top_paths",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ), p AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, count(*)::BIGINT AS n_keys FROM p GROUP BY path
    """,
)
def events_top_paths_q(spark, sf_dir):
    """First-3-event journey paths per user with frequencies — the
    discovered-funnel readout; order-exact path assembly."""
    ev = load_table(spark, sf_dir, "events")
    return top_paths(ev, "user_id", "ts", "event_id", "event_type", 3)
