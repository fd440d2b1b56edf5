"""Time-series operators over the `events` table (Tier E extension).

The reference has no time-series surface at all (its only imports are
dask/toolz/operator — /root/reference/src/dask_obj/core.py:3-10); these
are the operations a metrics/feature pipeline runs next to the
windowed aggregates in streaming/windows.py:

- **resample + gap-fill**: fixed-width buckets per key with empty
  buckets materialized as zero rows (the step before any rolling
  computation or chart; SQL engines call it `time_bucket` + calendar
  join).  Grid generation is `F.sequence` + one `explode` — fan-out
  bounded by each key's own time span / bucket width, never a global
  calendar cross join.  The final join is an equi-join on (key, bucket),
  same partitioning as the count aggregation — one shuffle total.
- **rolling statistics**: trailing-N-row window frame per key
  (avg/min/max/count + previous-event gap via lag).  One shuffle on the
  key; in-partition sort only (Spark window), no global sort.
- **EWMA**: exponentially-weighted moving average — inherently
  sequential per key, so it is the textbook `applyInPandas` case: one
  Arrow batch per key group, vectorized pandas `ewm` inside, state
  bounded by group size.  Rows-only registration (recursive weighted
  recurrences are not expressible in portable set-based SQL).

Epoch-seconds convention: bucket boundaries and timestamps are emitted
as BIGINT epoch seconds (Spark `unix_timestamp` truncates; DuckDB side
uses `floor(epoch(...))` — see .claude/skills/verify/SKILL.md).

100 TB notes: every operator here shuffles 8-byte keys + small
aggregates only; the gap-fill grid is the one row-expanding step and its
size is (time span / bucket) per key — for a year of hourly buckets
that is 8760 rows per key, independent of event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_obj_spark.pinning import pin, scoped


# -- resample + gap-fill ------------------------------------------------------


def resample_gapfill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_secs: int = 3600,
) -> DataFrame:
    """Per-key fixed-width resampling with gap filling: one row per
    (key, bucket) for EVERY bucket between the key's first and last
    event, zero-filled where no events landed."""
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_secs).cast("long")
    ev = df.select(F.col(key_col).alias("key"), b.alias("b"), F.col(value_col).alias("v"))
    bounds = ev.groupBy("key").agg(F.min("b").alias("b0"), F.max("b").alias("b1"))
    grid = bounds.select(
        "key", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("b")
    )
    agg = ev.groupBy("key", "b").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).alias("sv")
    )
    return (
        grid.join(agg, ["key", "b"], "left")
        .select(
            F.col("key").alias(key_col),
            (F.col("b") * bucket_secs).alias("bucket_start"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
        )
    )


# -- rolling statistics -------------------------------------------------------


def rolling_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    n: int = 5,
) -> DataFrame:
    """Trailing-n-row rolling avg/min/max/count per key plus the gap (in
    seconds) since the previous event.  One shuffle on the key; ordering
    is settled inside each partition by the window sort."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    lw = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    secs = F.unix_timestamp(F.col(ts_col))
    return df.select(
        F.col(key_col),
        F.col(order_tiebreak),
        F.round(F.avg(value_col).over(w), 6).alias("roll_avg"),
        F.round(F.min(value_col).over(w), 6).alias("roll_min"),
        F.round(F.max(value_col).over(w), 6).alias("roll_max"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
        (secs - F.lag(secs).over(lw)).alias("gap_secs"),
    )


# -- EWMA (sequential per key → applyInPandas) --------------------------------


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average of ``value_col`` per key,
    ordered by (ts, tiebreak).  The recurrence s_t = a*x_t + (1-a)*s_{t-1}
    is sequential, so each key group is processed as one Arrow batch with
    pandas' vectorized ``ewm`` — no row-at-a-time Python.  Closure is
    self-contained (imports inside) so it ships to vanilla executors."""

    def _ewma_group(pdf):
        pdf = pdf.sort_values([ts_col, order_tiebreak])
        s = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf.assign(ewma=s.round(6))[[key_col, order_tiebreak, "ewma"]]

    # output schema types come from the INPUT schema (a string key or
    # int tiebreak must round-trip unchanged, not be cast to long)
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (
        f"{key_col} {in_types[key_col]}, "
        f"{order_tiebreak} {in_types[order_tiebreak]}, ewma double"
    )
    return df.groupBy(key_col).applyInPandas(_ewma_group, schema=schema)


def ewma_quantized(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """EWMA with the fold state floor-quantized to integer micro-units
    every step: s_t = floor(alpha·1e6·x_t + (1-alpha)·s_{t-1}),
    s_1 = floor(1e6·x_1), emitted as BIGINT ``ewma_u``.  The state is
    always an integer-valued double (exact below 2^53), so every step
    is two IEEE multiplies + one add + one floor — deterministic and
    engine-portable with NO rounding-tie hazard, unlike a round(raw, 6)
    readout of the raw fold (Spark HALF_UP vs DuckDB half-even cracks
    on boundary ulps at scale).  Same plan shape as `ewma`: one Arrow
    batch per key group, a short numpy loop inside (the floor breaks
    the linearity pandas' ewm exploits, so the recurrence is walked
    explicitly — still per-GROUP batches, never per-row UDF calls)."""
    a6 = alpha * 1e6
    b = 1.0 - alpha

    def _ewma_q_group(pdf):
        import math

        import numpy as np

        pdf = pdf.sort_values([ts_col, order_tiebreak])
        vals = pdf[value_col].to_numpy(dtype="float64")
        out = np.empty(len(vals), dtype=np.int64)
        if len(vals):
            s = math.floor(vals[0] * 1e6)
            out[0] = s
            for i in range(1, len(vals)):
                s = math.floor(a6 * vals[i] + b * s)
                out[i] = s
        return pdf.assign(ewma_u=out)[[key_col, order_tiebreak, "ewma_u"]]

    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (
        f"{key_col} {in_types[key_col]}, "
        f"{order_tiebreak} {in_types[order_tiebreak]}, ewma_u bigint"
    )
    return df.groupBy(key_col).applyInPandas(_ewma_q_group, schema=schema)


# -- SCD2 validity intervals --------------------------------------------------


def scd2_intervals(
    df: DataFrame, key_col: str, ts_col: str, order_tiebreak: str
) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval construction: treat
    each event as a new version of its key and derive
    [valid_from, valid_to) via `lead` over the per-key timeline; the
    current version gets valid_to = NULL.  One shuffle on the key, the
    warehouse-standard history-table build."""
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    secs = F.unix_timestamp(F.col(ts_col))
    return df.select(
        F.col(key_col),
        F.col(order_tiebreak),
        secs.alias("valid_from"),
        F.lead(secs).over(w).alias("valid_to"),
        (F.lead(secs).over(w).isNull()).alias("is_current"),
    )


# -- sessionization (gaps-and-islands, pure SQL form) -------------------------


def sessionize_islands(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_tiebreak: str,
    gap_secs: int = 1800,
) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts where the
    gap since the previous event exceeds ``gap_secs``; session id = the
    running count of session starts.  The declarative counterpart to
    the `applyInPandas` sessionizer (`sessionize_pandas`) and the
    streaming `session_window` — same semantics, two window passes over
    one per-key partitioning, no Python boundary."""
    lw = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    secs = F.unix_timestamp(F.col(ts_col))
    gap = secs - F.lag(secs).over(lw)
    # the running sum must use the SAME (ts, tiebreak) order as the gap
    # computation: ordering by truncated epoch seconds could disagree
    # with sub-second ts order and mis-assign session numbers
    with_start = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(order_tiebreak),
        F.when(gap.isNull() | (gap > gap_secs), 1).otherwise(0).alias("is_start"),
    )
    return with_start.select(
        key_col,
        order_tiebreak,
        F.sum("is_start")
        .over(lw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )


# -- linear-interpolation gap fill --------------------------------------------


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_secs: int = 3600,
) -> DataFrame:
    """Gap-filled resampling with LINEAR interpolation: empty buckets
    take prev + (next - prev) · gap_fraction between the neighboring
    observed buckets (the feature-pipeline upgrade of the zero-fill
    variant; sensor/metrics semantics).

    Same one-shuffle grid shape as `resample_gapfill`; the neighbor
    lookup is two unbounded window fills (last non-null before / first
    non-null after) over the SAME (key, bucket) partitioning — Catalyst
    runs all four window functions in one sort.  Observed buckets pass
    through exactly (fraction algebra is skipped, not re-derived).

    Values are carried as integer MICRO-UNITS, quantized with FLOOR —
    not round: round() at the .5 boundary is half-up on Spark and
    half-even on DuckDB, and X.5 is exactly representable in binary
    doubles, so an exact tie would diverge.  floor() has no tie
    semantics, and the later interpolation step is integer floor
    arithmetic — bit-exact on both engines (and on any future one)."""
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_secs).cast("long")
    ev = (
        df.select(F.col(key_col).alias("key"), b.alias("b"), F.col(value_col).alias("v"))
        .groupBy("key", "b")
        .agg(F.floor(F.avg("v") * 1_000_000).cast("long").alias("obs_u"))
    )
    bounds = ev.groupBy("key").agg(F.min("b").alias("b0"), F.max("b").alias("b1"))
    grid = bounds.select(
        "key", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("b")
    )
    g = grid.join(ev, ["key", "b"], "left")
    w_back = (
        Window.partitionBy("key").orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("key").orderBy("b").rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("obs_u", ignorenulls=True).over(w_back)
    next_v = F.first("obs_u", ignorenulls=True).over(w_fwd)
    prev_b = F.last(F.when(F.col("obs_u").isNotNull(), F.col("b")), True).over(w_back)
    next_b = F.first(F.when(F.col("obs_u").isNotNull(), F.col("b")), True).over(w_fwd)
    # exact: int products < 2^53, floor of an exact double ratio
    interp = (
        prev_v
        + F.floor(((next_v - prev_v) * (F.col("b") - prev_b)) / (next_b - prev_b))
    ).cast("long")
    return g.select(
        "key",
        "b",
        F.coalesce(F.col("obs_u"), interp).alias("v_micro"),
        F.col("obs_u").isNotNull().cast("int").alias("observed"),
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    quantize: bool = False,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key:
    level l_t = a·x_t + (1-a)·(l_{t-1} + b_{t-1}), trend
    b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}, initialized l_1 = x_1,
    b_1 = 0 — the one-step-ahead forecaster (l + b) for trending
    series that a flat EWMA lags behind.

    Like `ewma`, each key group is one Arrow batch; the two mutually
    recursive accumulators have no vectorized pandas form, so the
    batch walks a plain Python loop over the in-memory arrays — still
    one applyInPandas call per key group, never a per-row UDF round
    trip, and at scale the work parallelizes across keys exactly as
    the EWMA does.  Rows-only registration for the raw-series form:
    DuckDB 1.0's struct-state list_reduce lambdas mis-evaluate (probed
    during round 4), so the variable-length two-accumulator recurrence
    is pinned by the hand-computed unit test — but the SAME loop is
    oracle-verified end to end by `ts_holt_grid` (queries_timeseries.py),
    which runs it over a FIXED 8-step grid the oracle replays as an unrolled CTE
    chain (the k_core/bfs/PCA fixed-unroll precedent).

    ``quantize=True`` emits the raw (unrounded) states floor-quantized
    to integer micro-units as BIGINTs (level_u/trend_u/fc_u) — the
    cross-engine-hashable output form: the recurrence itself is the
    identical IEEE multiply/add tree on both engines, and floor of a
    bit-identical double is exact, whereas round(·, 6) tie semantics
    differ across engines (the repo's standing floor-quantize rule)."""

    def _holt_group(pdf):
        import math as _math

        pdf = pdf.sort_values([ts_col, order_tiebreak])
        xs = pdf[value_col].to_list()
        levels, trends, fc = [], [], []
        lvl, tr = 0.0, 0.0
        for i, x in enumerate(xs):
            if i == 0:
                lvl, tr = float(x), 0.0
            else:
                new_lvl = alpha * float(x) + (1.0 - alpha) * (lvl + tr)
                tr = beta * (new_lvl - lvl) + (1.0 - beta) * tr
                lvl = new_lvl
            if quantize:
                levels.append(_math.floor(lvl * 1000000.0))
                trends.append(_math.floor(tr * 1000000.0))
                fc.append(_math.floor((lvl + tr) * 1000000.0))
            else:
                levels.append(round(lvl, 6))
                trends.append(round(tr, 6))
                fc.append(round(lvl + tr, 6))
        cols = (
            ["level_u", "trend_u", "fc_u"]
            if quantize
            else ["level", "trend", "fc_next"]
        )
        return pdf.assign(**dict(zip(cols, [levels, trends, fc])))[
            [key_col, order_tiebreak] + cols
        ]

    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_cols = (
        "level_u bigint, trend_u bigint, fc_u bigint"
        if quantize
        else "level double, trend double, fc_next double"
    )
    schema = (
        f"{key_col} {in_types[key_col]}, "
        f"{order_tiebreak} {in_types[order_tiebreak]}, " + out_cols
    )
    return df.groupBy(key_col).applyInPandas(_holt_group, schema=schema)


_HOLT_GRID_STEPS = 8
_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1


@scoped
def holt_fixed_grid(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    steps: int = _HOLT_GRID_STEPS,
    alpha: float = _HOLT_ALPHA,
    beta: float = _HOLT_BETA,
) -> DataFrame:
    """Holt smoothing of per-key activity over a FIXED global time
    grid: the key's event COUNTS in ``steps`` equal-width epoch-second
    buckets (zero-filled, so every key has exactly ``steps`` values),
    smoothed by the SAME `holt_linear` applyInPandas loop the raw-
    series query ships, quantized to integer micro-units.  This is the
    oracle-paired companion the rows-only `ts_holt_rowsonly` needs:
    a fixed-length series makes the two-accumulator recurrence
    replayable as an unrolled CTE chain (DuckDB's struct-state
    list_reduce is broken, but ``steps`` chained MATERIALIZED CTEs of
    pure scalar IEEE expressions are exact — the k_core/bfs/PCA
    fixed-unroll precedent), so a bug in the shipped Python loop
    (wrong update order, swapped accumulators, off-by-one init)
    becomes a hash mismatch.

    Scale shape: one corpus scan → (key, bucket) hash aggregate; the
    bounds are a single 1-row global aggregate joined broadcast; the
    grid zero-fill is an 8-arm explode per key (no second scan);
    applyInPandas groups are exactly ``steps`` rows each."""
    es = F.unix_timestamp(F.col(ts_col)).cast("long")
    src = df.select(F.col(key_col).alias("k"), es.alias("es"))
    bounds = src.agg(F.min("es").alias("tmin"), F.max("es").alias("tmax"))
    bk = src.crossJoin(F.broadcast(bounds)).select(
        "k",
        F.least(
            F.lit(steps - 1),
            F.expr(f"(es - tmin) * {steps} div (tmax - tmin + 1)"),
        ).alias("bkt"),
    )
    # materialize the (key, bucket) counts ONCE: the zero-fill grid and
    # the left join below both consume it, and deriving the key list
    # from the counts (instead of a third distinct over the source)
    # keeps the whole operator at 2 corpus scans (bounds + counts) —
    # the quality-PSI checkpointed-summary pattern; the summary is
    # ≤ steps rows per key, i.e. output-sized
    counts = pin(
        bk.groupBy("k", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = counts.select("k").distinct().select(
        "k",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(steps - 1).cast("long"))
        ).alias("bkt"),
    )
    xs = grid.join(counts, ["k", "bkt"], "left").select(
        "k", "bkt", F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("x")
    )
    out = holt_linear(xs, "k", "bkt", "bkt", "x", alpha, beta, quantize=True)
    return out.select(
        F.col("k").alias(key_col),
        (F.col("bkt") + 1).cast("bigint").alias("step"),
        "level_u",
        "trend_u",
        "fc_u",
    )


def markov_transitions(
    df: DataFrame, key_col: str, ts_col: str, order_tiebreak: str, state_col: str
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: P(next_state | state) with exact integer counts and the
    probability floor-quantized to micro-units — the behavioral-model
    readout (what follows a view? how absorbing is purchase?) that
    funnels and retention curves do not give.

    One shuffle on the key; the lag window and the (from, to) count
    aggregate share it.  Probabilities are count/row_total — one IEEE
    division per output cell, deterministic; the matrix is
    |states|²-sized."""
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    steps = df.select(
        F.col(state_col).alias("s_from"),
        F.lead(state_col, 1).over(w).alias("s_to"),
    ).filter(F.col("s_to").isNotNull())
    counts = steps.groupBy("s_from", "s_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wt = Window.partitionBy("s_from")
    return counts.select(
        "s_from",
        "s_to",
        "n",
        F.floor(
            F.col("n").cast("double")
            / F.sum("n").over(wt).cast("double")
            * 1e6
        )
        .cast("bigint")
        .alias("p_x1m"),
    )


def rfm_features(
    df: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """RFM (recency / frequency / monetary) user features with quintile
    scores — the classic behavioral segmentation every events pipeline
    ships: one aggregate per user, then three ntile(5) windows (ordered
    with the user id as tiebreak, so scores are deterministic), folded
    into the familiar 3-digit RFM code.

    Monetary sums are per-row floor-quantized to micro-units before the
    integer SUM (order-free under any partitioning — the standing
    floor-quantize rule); recency is BIGINT epoch seconds.  One shuffle
    for the per-user aggregate; the quintile windows are single-pass
    over |users| rows."""
    es = F.unix_timestamp(F.col(ts_col)).cast("long")
    agg = df.select(
        F.col(key_col).alias("user_id"),
        es.alias("es"),
        F.floor(F.col(value_col) * 1e6).cast("bigint").alias("v_u"),
    ).groupBy("user_id").agg(
        F.max("es").cast("bigint").alias("recency_secs"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum("v_u").cast("bigint").alias("monetary_u"),
    )
    r_w = Window.orderBy(F.desc("recency_secs"), F.asc("user_id"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    m_w = Window.orderBy(F.desc("monetary_u"), F.asc("user_id"))
    scored = agg.select(
        "user_id",
        "recency_secs",
        "frequency",
        "monetary_u",
        F.ntile(5).over(r_w).cast("bigint").alias("r_score"),
        F.ntile(5).over(f_w).cast("bigint").alias("f_score"),
        F.ntile(5).over(m_w).cast("bigint").alias("m_score"),
    )
    return scored.withColumn(
        "rfm",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("bigint"),
    )


def top_paths(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_tiebreak: str,
    state_col: str,
    depth: int = 3,
) -> DataFrame:
    """Common-journey mining: each key's FIRST ``depth`` states (in
    time order) concatenated into a path string, counted across keys —
    "what do new users actually do first?", the onboarding-funnel
    readout a fixed funnel definition can't give because it assumes
    the path instead of discovering it.

    One keyed shuffle: the row_number window and the path assembly
    (array_sort over (rank, state) structs — never raw collect_list
    order) share the key partitioning; the path count is a second,
    path-keyed aggregate over |keys| rows."""
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    firstn = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(state_col).alias("s"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= depth)
    )
    path = firstn.groupBy("k").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "s"))),
                lambda x: x["s"],
            ),
            ">",
        ).alias("path")
    )
    return path.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )
