"""Query registrations and DuckDB oracles for ``streaming/windows.py``.

The stream queries replay a table as a few ordered micro-batch files
(``staged_stream``) and drain them with ``availableNow``; each oracle is
the batch relation the drained stream must equal.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import duck_ws_tokens
from dask_obj_spark.pinning import pin
from dask_obj_spark.queries import query
from dask_obj_spark.queries_dedup import _duck_bands_select, _duck_sig_cte
from dask_obj_spark.queries_similarity import _duck_with
from dask_obj_spark.sources import load_table
from dask_obj_spark.sources.tables import normalize_timestamps
from dask_obj_spark.streaming.windows import (
    events_stream,
    quality_psi_vs_frozen,
    run_stream_to_memory,
    session_agg,
    sliding_agg,
    stream_click_purchase_join,
    stream_click_purchase_outer,
    stream_contamination_sink,
    stream_decayed_topk,
    stream_decayed_topk_confirm,
    stream_dedup_upsert,
    stream_heavy_hitters,
    stream_heavy_hitters_confirm,
    stream_hll_hourly_registers,
    stream_late_audit_sink,
    stream_neardup_minhash,
    stream_quality_psi_sink,
    stream_source_quota_sink,
    stream_stateful_user_counts,
    stream_tumbling_counts,
    tumbling_agg,
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MTIME0 = 1_700_000_000  # any fixed base; only relative order matters


@contextmanager
def staged_stream(spark: SparkSession, tag: str, batches):
    """Stage ``batches`` — ``(file_name, frame)`` pairs in arrival order —
    as one parquet file each in ``<repo>/.scratch/<tag>_<hex8>/in``, with
    mtimes 100 s apart, and yield ``(scratch, read)``.  ``read()`` opens
    a file-source stream over them that takes one file per trigger, so
    each file is one micro-batch, in mtime order.  The writes are
    independent jobs and overlap on a thread pool; the explicit mtimes
    make their completion order irrelevant.  The scratch dir is removed
    on exit."""
    scratch = os.path.join(_REPO_ROOT, ".scratch", f"{tag}_{uuid.uuid4().hex[:8]}")
    in_dir = os.path.join(scratch, "in")

    def write(arg) -> None:
        i, (name, frame) = arg
        sub = os.path.join(scratch, f"b{i}")
        frame.coalesce(1).write.parquet(sub)
        (part,) = [p for p in os.listdir(sub) if p.endswith(".parquet")]
        dst = os.path.join(in_dir, name)
        shutil.move(os.path.join(sub, part), dst)
        os.utime(dst, (_MTIME0 + 100 * i, _MTIME0 + 100 * i))

    schema = batches[0][1].schema

    def read() -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    try:
        os.makedirs(in_dir)
        with ThreadPoolExecutor(max_workers=len(batches)) as pool:
            list(pool.map(write, enumerate(batches)))
        yield scratch, read
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "stream_outer_join_late",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           floor(epoch(c.ts))::BIGINT AS click_ts,
           coalesce(floor(epoch(p.ts))::BIGINT, -1) AS purchase_ts,
           (p.ts IS NOT NULL) AS converted
    FROM c LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
    """,
)
def stream_outer_join_late_q(spark, sf_dir):
    """Stream-stream LEFT OUTER join with null-side emission after
    watermark expiry, oracle-pinned against the batch left join — the
    outer-join streaming shape (a single availableNow batch never
    advances the watermark past its own rows, so unmatched clicks would
    stay buffered forever and the outer join would degenerate to inner).

    Construction: the real events land as file 1; files 2 and 3 are
    WATERMARK-PUSHER sentinels (one click + one purchase each, negative
    user_ids that can never match organic rows) at max(ts)+1 day and
    +2 days, delivered in mtime order with maxFilesPerTrigger=1.  By
    batch 3 the join's global watermark (min over both inputs, lagged
    one batch — the stream_late_data_drop finding) is at least
    max(ts)+1d−10min, which exceeds every real click's match horizon
    (click_ts+10min ≤ max(ts)+10min), so EVERY unconverted real click
    has been evicted and emitted with a null purchase side.  Sentinel
    rows are filtered from the output (user_id < 0): the +1d sentinel
    click's own horizon falls under the +2d watermark and would emit.
    The oracle is the plain batch LEFT JOIN — the hash match proves the
    stream emitted exactly the matched pairs plus exactly one null-side
    row per unconverted click, no duplicates and no stragglers."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    mx_sec = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    ts_type = ev.schema["ts"].dataType

    def sentinel(day_offset: int, base_uid: int):
        return spark.range(1).select(
            F.lit(-day_offset).cast("long").alias("event_id"),
            F.timestamp_seconds(F.lit(mx_sec + 86400 * day_offset))
            .cast(ts_type)
            .alias("ts"),
            F.lit(base_uid).cast("long").alias("user_id"),
            F.explode(F.array(F.lit("click"), F.lit("purchase"))).alias(
                "event_type"
            ),
        )

    batches = (
        ("00_real.parquet", ev),
        ("01_push1.parquet", sentinel(1, -1)),
        ("02_push2.parquet", sentinel(2, -2)),
    )
    with staged_stream(spark, "soj", batches) as (_, read):
        out = stream_click_purchase_outer(read(), read(), "10 minutes")
        st = run_stream_to_memory(
            spark, out, f"soj_{uuid.uuid4().hex[:8]}", mode="append"
        )
        return st.filter(F.col("user_id") >= 0)


@query(
    "window_tumbling_events",
    oracle="""
    SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS w_start,
           epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT + 300 AS w_end,
           event_type,
           count(*) AS n,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def window_tumbling_events_q(spark, sf_dir):
    """BASELINE.md B8: tumbling 5-min window count+sum by event_type."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(ev, "ts", "event_type", "5 minutes")


@query(
    "window_sliding_events",
    oracle="""
    WITH b AS (
      SELECT event_type,
             epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS bucket
      FROM events
    ), exploded AS (
      SELECT event_type, unnest([bucket, bucket - 300]) AS w_start FROM b
    )
    SELECT w_start, event_type, count(*) AS n
    FROM exploded GROUP BY w_start, event_type
    """,
)
def window_sliding_events_q(spark, sf_dir):
    """Sliding 10-min/5-min window counts: every event contributes to the
    two windows covering it (oracle enumerates both starts per row)."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_agg(ev, "ts", "event_type", "10 minutes", "5 minutes")


@query(
    "window_session_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           floor(epoch(min(ts)))::BIGINT AS sess_start,
           floor(epoch(max(ts)))::BIGINT AS sess_end,
           count(*) AS n
    FROM numbered GROUP BY user_id, sess_no
    """,
)
def window_session_events_q(spark, sf_dir):
    """Session windows (30-min inactivity gap) per user via
    F.session_window; oracle is the equivalent gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    return session_agg(ev, "ts", "user_id", "30 minutes")


@query(
    "stream_join_click_purchase",
    oracle="""
    SELECT p.event_id, p.user_id,
           floor(epoch(p.ts))::BIGINT AS purchase_ts,
           floor(epoch(c.ts))::BIGINT AS click_ts
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL '10 minutes'
    """,
)
def stream_join_click_purchase_q(spark, sf_dir):
    """Watermarked stream-stream join, driven to completion and compared
    against the plain batch join SQL: with availableNow over one input
    file nothing is late, so stream ≡ batch exactly — the oracle row the
    unit-only parity test could not give the driver."""
    out = stream_click_purchase_join(
        events_stream(spark, sf_dir), events_stream(spark, sf_dir), "10 minutes"
    )
    return run_stream_to_memory(spark, out, f"sjcp_{uuid.uuid4().hex[:8]}", mode="append")


@query(
    "stream_late_data_drop",
    oracle="""
    WITH sec AS (
      SELECT ts, event_type, floor(epoch(ts))::BIGINT AS tsec FROM events
    ), mx AS (
      SELECT max(tsec) AS mxs FROM sec
    )
    SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS w_start,
           event_type,
           count(*) AS n
    FROM sec, mx
    WHERE tsec > mxs - 86400
    GROUP BY 1, 2
    """,
)
def stream_late_data_drop_q(spark, sf_dir):
    """Watermark DROP semantics, oracle-pinned: the one streaming
    behavior availableNow-over-one-file cannot exhibit (a single batch
    is never late to itself).

    Construction: split events into THREE mtime-ordered files delivered
    as three micro-batches (maxFilesPerTrigger=1 — the file source takes
    files in modification-time order): the last day of events except the
    final 10 minutes (bulk on-time), the final 10 minutes (advance), and
    everything older than a day (late).  Three batches, not two, because
    Spark filters late events with the watermark LAGGED BY ONE BATCH
    (batch N drops against the watermark established after batch N-1's
    inputs were known, i.e. from data through batch N-2 — verified
    empirically on 4.1: a 2-batch layout drops nothing, a 3-batch layout
    drops batch 3 against batch 1's watermark).  Every late row is > 1
    day old vs a watermark only ~20 minutes behind max(ts), so its
    5-minute window closed long before either watermark and Spark must
    drop it.  The oracle counts ONLY the last-day slice — the hash match
    proves the engine dropped rows it verifiably received.  The cutoff
    compares whole epoch-SECONDS on both engines (Spark unix_timestamp
    truncates; DuckDB floor(epoch()) — ns-vs-µs sub-second precision
    never decides membership)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    mx_sec = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    cutoff = mx_sec - 86400
    adv = mx_sec - 600
    tsec = F.unix_timestamp("ts")
    batches = (
        ("00_bulk.parquet", ev.filter((tsec > cutoff) & (tsec <= adv))),
        ("01_advance.parquet", ev.filter(tsec > adv)),
        ("02_late.parquet", ev.filter(tsec <= cutoff)),
    )
    with staged_stream(spark, "late_drop", batches) as (_, read):
        agg = (
            read().withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp("w.start").alias("w_start"), "event_type", "n")
        )
        st = run_stream_to_memory(
            spark, agg, f"sld_{uuid.uuid4().hex[:8]}", mode="update"
        )
        # update mode re-emits a (window, key) row per batch it changes in;
        # n is monotone, so max() is the final value whatever the split
        return st.groupBy("w_start", "event_type").agg(F.max("n").alias("n"))


@query(
    "stream_stateful_counts",
    oracle="""
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    """,
)
def stream_stateful_counts_q(spark, sf_dir):
    """applyInPandasWithState running per-user counts, drained with
    availableNow.  Update mode may emit one row per (user, micro-batch);
    the count is monotone, so max() per user is the final state whatever
    the batch split — deterministic and batch-equivalent."""
    st = run_stream_to_memory(
        spark,
        stream_stateful_user_counts(events_stream(spark, sf_dir)),
        f"ssc_{uuid.uuid4().hex[:8]}",
        mode="update",
    )
    return st.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           floor(epoch(min(ts)))::BIGINT AS sess_start,
           floor(epoch(max(ts)))::BIGINT AS sess_end,
           count(*) AS n
    FROM numbered GROUP BY user_id, sess_no
    """,
)
def stream_sessionize_q(spark, sf_dir):
    """STREAMING sessionization: F.session_window + watermark on the
    event stream, drained complete-mode — per-user inactivity-gap
    sessions, batch-equivalent to the gaps-and-islands SQL (same oracle
    as the batch query; this row proves the streaming operator)."""
    st = normalize_timestamps(events_stream(spark, sf_dir))
    sess = (
        st.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.unix_timestamp(F.min("ts")).alias("sess_start"),
            F.unix_timestamp(F.max("ts")).alias("sess_end"),
        )
        .select("user_id", "sess_start", "sess_end", "n")
    )
    return run_stream_to_memory(spark, sess, f"ssz_{uuid.uuid4().hex[:8]}")


@query(
    "stream_dedup_exact",
    oracle="SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def stream_dedup_exact_q(spark, sf_dir):
    """Streaming exact dedup under at-least-once delivery, oracle-pinned.

    Construction: two mtime-ordered files delivered as two micro-batches
    (maxFilesPerTrigger=1) — the even-id docs, then the odd-id docs PLUS
    a redelivery of every id % 10 == 0 doc from batch 1 (the retry/replay
    a real at-least-once source produces).  Each batch hashes content,
    drops in-batch dupes, and anti-joins against the hashes already in
    the parquet target before appending (stream_dedup_upsert).  The
    result is the target's raw row bag: the oracle is the distinct
    content-hash set of the corpus, so a single double-insert (anti-join
    miss) fails rows_match — delivered-duplicate rows were verifiably
    dropped.  Scale: per batch the anti-join probes the standing target;
    bucket the target by content_hash (operators/scale.py) and the probe
    is exchange-free however large the history grows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0)  # redelivered slice
    )
    batches = (("00_first.parquet", b1), ("01_retry.parquet", b2))
    with staged_stream(spark, "sde", batches) as (scratch, read):
        target = os.path.join(scratch, "target")
        stream_dedup_upsert(spark, read(), target)
        # materialize (executor-side) before the scratch dir is deleted
        return pin(spark.read.parquet(target).select("content_hash"))


@query(
    "stream_neardup_minhash",
    oracle=_duck_with(
        [_duck_sig_cte(16, 4), f"bands AS ({_duck_bands_select(16, 4)})"],
        """
    SELECT DISTINCT a.doc_id
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND b.doc_id < a.doc_id
    """,
    ),
)
def stream_neardup_minhash_q(spark, sf_dir):
    """Streaming MinHash near-dup detection under at-least-once
    delivery, oracle-pinned to the batch LSH pair relation.

    Construction: the corpus split into two mtime-ordered files BY
    doc_id RANGE (low half, then high half plus a redelivery of every
    id % 10 == 0 low-half doc), delivered as two micro-batches — so
    arrival order equals doc_id order and the streaming greedy
    "flag if a band matches any earlier doc" is exactly the batch
    relation "shares a band with a smaller-id doc".  A single
    double-insert (anti-join miss on the redelivered slice) or a lost
    cross-batch match (band-history miss) fails rows_match."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = docs.agg((F.max("doc_id") / 2).cast("bigint").alias("m")).collect()[0]["m"]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid).unionByName(
        docs.filter((F.col("doc_id") <= mid) & (F.col("doc_id") % 10 == 0))
    )
    batches = (("00_low.parquet", b1), ("01_high_retry.parquet", b2))
    with staged_stream(spark, "snd", batches) as (scratch, read):
        target = os.path.join(scratch, "flags")
        stream_neardup_minhash(spark, read(), target)
        return pin(spark.read.parquet(target))


@query(
    "stream_window_topk",
    oracle="""
    WITH c AS (
      SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS w_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT w_start, event_type, n,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY n DESC, event_type) AS rnk
      FROM c
    )
    SELECT w_start, event_type, n, rnk FROM r WHERE rnk <= 3
    """,
)
def stream_window_topk_q(spark, sf_dir):
    """Streaming top-3 event types per tumbling 5-minute window.

    Rank-over-aggregate is not expressible INSIDE a streaming query
    (no window functions over a streaming agg), so this is the standard
    two-layer shape: the stream maintains the watermarked
    (window, key) counts in update mode; the top-k rank runs over the
    RESULT table after the drain (in production: over the upserted sink
    table, exactly like stream_dedup_upsert's foreachBatch MERGE).
    Update-mode re-emissions fold by max(n) per (window, key) — n is
    monotone — before ranking, so the result is batch-equivalent and
    the oracle is the plain batch top-k."""
    agg = stream_tumbling_counts(events_stream(spark, sf_dir))
    st = run_stream_to_memory(
        spark, agg, f"swt_{uuid.uuid4().hex[:8]}", mode="update"
    )
    final = st.groupBy("w_start", "event_type").agg(F.max("n").alias("n"))
    w = Window.partitionBy("w_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        final.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("w_start", "event_type", "n", "rnk")
    )


def _duck_stream_hll_oracle() -> str:
    from dask_obj_spark.functions.hashing import duck_porthash
    from dask_obj_spark.queries_scale import _duck_rho_chain
    from dask_obj_spark.operators.scale import _HLL_ALPHA_MM, _HLL_M, _TWO_53

    m = _HLL_M
    ph = duck_porthash("user_id::VARCHAR", "hll")
    est = (
        f"CAST(floor(CASE WHEN nz < {m}"
        f" AND {_HLL_ALPHA_MM!r} / (CAST(zs AS DOUBLE) / {_TWO_53!r}) <= {2.5 * m!r}"
        f" THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - nz AS DOUBLE))"
        f" ELSE {_HLL_ALPHA_MM!r} / (CAST(zs AS DOUBLE) / {_TWO_53!r})"
        f" END * 1000.0) AS BIGINT)"
    )
    chain = _duck_rho_chain()
    # textual retarget of the shared rho chain's operand: if the helper's
    # spelling ever changes, fail HERE instead of surfacing as a DuckDB
    # binder error on a nonexistent column
    assert "w >=" in chain, "_duck_rho_chain operand spelling changed"
    chain = chain.replace("w >=", "(h // " + str(m) + ") >=")
    return f"""
    WITH rho AS (
      SELECT floor(epoch(ts))::BIGINT // 3600 AS hr,
             h % {m} AS bucket,
             {chain} AS rho
      FROM (SELECT ts, {ph} AS h FROM events)
    ), regs AS (
      SELECT hr, bucket, max(rho) AS mx FROM rho GROUP BY hr, bucket
    ), grid AS (
      SELECT h.hr, g.bucket
      FROM (SELECT DISTINCT hr FROM regs) h
      CROSS JOIN (SELECT unnest(range(0, {m})) AS bucket) g
    ), filled AS (
      SELECT g.hr, coalesce(r.mx, 0) AS m FROM grid g
      LEFT JOIN regs r ON r.hr = g.hr AND r.bucket = g.bucket
    ), za AS (
      SELECT hr, sum(1::BIGINT << (53 - m))::BIGINT AS zs,
             sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)::BIGINT AS nz
      FROM filled GROUP BY hr
    )
    SELECT hr AS hour_start, {est} AS est_x1000, nz AS nonzero_registers
    FROM za
    """


@query("stream_hll_hourly_users", oracle=_duck_stream_hll_oracle())
def stream_hll_hourly_users_q(spark, sf_dir):
    """Hourly distinct-user HLL estimates whose register state was
    maintained by Structured Streaming: the watermarked tumbling
    max-aggregate drains with availableNow (nothing late over one
    file, so stream ≡ batch exactly), then the drained register rows
    — the ONLY retained state — grid-fill and convert to per-hour
    estimates with the identical engine-stable arithmetic as
    sketch_hll_distinct.  Proves the sketch survives the streaming
    path end-to-end with a full value hash, not just a unit test."""
    from dask_obj_spark.operators.scale import _HLL_ALPHA_MM, _HLL_M, _TWO_53

    regs_stream = stream_hll_hourly_registers(events_stream(spark, sf_dir))
    drained = run_stream_to_memory(
        spark, regs_stream, f"shll_{uuid.uuid4().hex[:8]}", mode="complete"
    )
    regs = drained.select(
        F.expr("CAST(floor(unix_timestamp(w.start) / 3600) AS BIGINT)").alias("hr"),
        "bucket",
        "mx",
    )
    hours = regs.select("hr").distinct()
    grid = hours.crossJoin(
        F.broadcast(
            spark.range(_HLL_M).select(F.col("id").cast("long").alias("bucket"))
        )
    )
    filled = grid.join(regs, ["hr", "bucket"], "left").select(
        "hr", F.coalesce("mx", F.lit(0)).cast("int").alias("m")
    )
    za = filled.groupBy("hr").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))")
        ).alias("zs"),
        F.sum((F.col("m") > 0).cast("long")).alias("nz"),
    )
    raw = F.lit(_HLL_ALPHA_MM) / (F.col("zs").cast("double") / F.lit(_TWO_53))
    corrected = F.when(
        (F.col("nz") < _HLL_M) & (raw <= F.lit(2.5 * _HLL_M)),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("nz")).cast("double")),
    ).otherwise(raw)
    return za.select(
        F.col("hr").alias("hour_start"),
        F.floor(corrected * F.lit(1000.0)).cast("long").alias("est_x1000"),
        F.col("nz").alias("nonzero_registers"),
    )


def _shh_oracle() -> str:
    from dask_obj_spark.queries_scale import _duck_heavy_hitters_oracle

    return _duck_heavy_hitters_oracle(50)


@query("stream_heavy_hitters", oracle=_shh_oracle())
def stream_heavy_hitters_q(spark, sf_dir):
    """Streaming heavy hitters: the corpus delivered as three
    id-range micro-batches; the stream maintains one bounded
    Misra-Gries summary (≤ 2k slots + the exact running total), and
    the batch confirm pass counts the surviving candidates exactly —
    output equals the batch GROUP BY/HAVING relation, which is the
    oracle.  The superset guarantee (not the sketch estimates) is
    what the stream contributes, so the oracle pairing is exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qs = docs.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    lo, hi = int(qs[0]), int(qs[1])
    batches = (
        ("00_low.parquet", docs.filter(F.col("doc_id") <= lo)),
        (
            "01_mid.parquet",
            docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
        ),
        ("02_high.parquet", docs.filter(F.col("doc_id") > hi)),
    )
    with staged_stream(spark, "shh", batches) as (scratch, read):
        target = os.path.join(scratch, "hh")
        stream_heavy_hitters(spark, read(), target, k=50)
        out = stream_heavy_hitters_confirm(
            spark, docs, target + "_mg.json", k=50
        )
        return pin(out)


def _decayed_topk_oracle(k: int) -> str:
    return f"""
WITH toks AS MATERIALIZED (
  SELECT (1::BIGINT << (doc_id % 3)::INTEGER) AS wt,
         unnest({duck_ws_tokens("text")}) AS term
  FROM documents
), t2 AS (SELECT wt, term FROM toks WHERE term <> ''),
w AS (SELECT sum(wt)::BIGINT AS w FROM t2),
s AS (SELECT term, sum(wt)::BIGINT AS score FROM t2 GROUP BY term)
SELECT term, score,
       ((score * 1000000) // (SELECT w FROM w))::BIGINT AS share_x1m
FROM s WHERE score * {k} >= (SELECT w FROM w)
"""


@query("stream_decayed_topk", oracle=_decayed_topk_oracle(40))
def stream_decayed_topk_q(spark, sf_dir):
    """Decayed streaming top terms: the corpus delivered as three
    micro-batches (doc_id % 3 = 0, 1, 2 in arrival order), each batch
    halving the relative weight of the ones before it; the stream
    keeps one bounded weighted-MG summary and the batch confirm pass
    scores the candidates exactly (weight 2^(doc_id % 3) replays the
    arrival order), so the output equals the weighted GROUP BY/HAVING
    relation — the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [
        (f"{b:02d}_batch.parquet", docs.filter(F.col("doc_id") % 3 == b))
        for b in range(3)
    ]
    with staged_stream(spark, "dtk", batches) as (scratch, read):
        target = os.path.join(scratch, "dtk")
        stream_decayed_topk(spark, read(), target, k=40)
        out = stream_decayed_topk_confirm(
            spark,
            docs,
            target + "_dmg.json",
            weight=F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 3 AS INT))"),
            k=40,
        )
        return pin(out)


def _stream_psi_oracle() -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    terms = ", ".join(
        f"max(CASE WHEN bkt = {k} THEN t END) AS t{k}" for k in range(10)
    )
    arm = " + ".join(f"t{k}" for k in range(10))
    return f"""
    WITH q AS ({duck_quality_select()}),
    scored AS (
      SELECT (q.doc_id % 2)::BIGINT AS seq,
             least(floor(q.quality * 10.0)::INTEGER, 9) AS bkt
      FROM q
    ),
    sb AS (SELECT seq, bkt, count(*)::BIGINT AS c FROM scored GROUP BY seq, bkt),
    grid AS (
      SELECT s.seq, g.bkt, coalesce(sb.c, 0)::BIGINT AS c
      FROM (SELECT DISTINCT seq FROM sb) s
      CROSS JOIN range(0, 10) g(bkt)
      LEFT JOIN sb ON sb.seq = s.seq AND sb.bkt = g.bkt
    ),
    ref AS (
      SELECT bkt, c AS rc, sum(c) OVER ()::BIGINT AS n_ref
      FROM grid WHERE seq = (SELECT min(seq) FROM grid)
    ),
    t AS (
      SELECT grid.seq,
             sum(grid.c) OVER (PARTITION BY grid.seq)::BIGINT AS n_seq,
             grid.bkt, grid.c, ref.rc, ref.n_ref
      FROM grid JOIN ref ON grid.bkt = ref.bkt
    ),
    terms AS (
      SELECT seq, n_seq, bkt,
             ((c::DOUBLE / n_seq::DOUBLE + 0.0001) / 1.001
              - (rc::DOUBLE / n_ref::DOUBLE + 0.0001) / 1.001)
             * ln(((c::DOUBLE / n_seq::DOUBLE + 0.0001) / 1.001)
                  / ((rc::DOUBLE / n_ref::DOUBLE + 0.0001) / 1.001)) AS t
      FROM t
    ),
    piv AS (SELECT seq, n_seq, {terms} FROM terms GROUP BY seq, n_seq)
    SELECT seq, n_seq AS n_docs,
           floor(({arm}) * 1000000.0)::BIGINT AS psi_x1m
    FROM piv
    """


@query("stream_quality_psi", oracle=_stream_psi_oracle())
def stream_quality_psi_q(spark, sf_dir):
    """Streaming quality-drift monitor: the corpus delivered as two
    micro-batches (doc_id % 2 = 0 then 1); batch 0's decile histogram
    freezes as the reference, each batch lands one bounded zero-filled
    10-row summary, and the post-drain pass scores PSI per batch with
    the batch monitor's exact scale-free smoothing — so the reference
    batch reads EXACTLY 0 and the second batch's drift equals the
    oracle's parity-split PSI."""
    docs = load_table(spark, sf_dir, "documents")
    batches = [
        (f"{b:02d}_batch.parquet", docs.filter(F.col("doc_id") % 2 == b))
        for b in range(2)
    ]
    with staged_stream(spark, "sqp", batches) as (scratch, read):
        target = os.path.join(scratch, "hist")
        stream_quality_psi_sink(spark, read(), target)
        return pin(quality_psi_vs_frozen(spark, target))


def _stream_contamination_oracle() -> str:
    from dask_obj_spark.functions.hashing import duck_word_shingles

    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({duck_word_shingles("text", 8)}) AS sh
      FROM documents
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0
    )
    SELECT s.doc_id, count(*) AS n_overlap
    FROM sh s JOIN ev ON s.sh = ev.sh
    WHERE s.doc_id % 20 <> 0
    GROUP BY s.doc_id
    """


@query("stream_contamination_guard", oracle=_stream_contamination_oracle())
def stream_contamination_guard_q(spark, sf_dir):
    """Streaming ingest guard: the train slice (doc_id % 20 != 0)
    delivered as two micro-batches, each checked on arrival against
    the frozen eval-set 8-gram inventory; per-doc overlap counts are
    flagged exactly once under at-least-once delivery.  Because the
    inventory is frozen and flagging is per-doc, the drained
    quarantine list equals the batch contamination relation — the
    oracle."""
    from dask_obj_spark.operators.corpus import doc_distinct_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    mid = train.agg(
        (F.max("doc_id") / 2).cast("bigint").alias("m")
    ).collect()[0]["m"]
    batches = (
        ("00_batch.parquet", train.filter(F.col("doc_id") <= mid)),
        ("01_batch.parquet", train.filter(F.col("doc_id") > mid)),
    )
    with staged_stream(spark, "scg", batches) as (scratch, read):
        # frozen benchmark inventory, built before the stream is drained
        inv_dir = os.path.join(scratch, "inventory")
        (
            doc_distinct_shingles(
                docs.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", 8
            )
            .select("sh")
            .distinct()
            .write.parquet(inv_dir)
        )
        target = os.path.join(scratch, "quarantine")
        stream_contamination_sink(spark, read(), target, inv_dir)
        return pin(spark.read.parquet(target))


@query(
    "stream_source_quota",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 15
    """,
)
def stream_source_quota_q(spark, sf_dir):
    """Streaming per-source quota (15 docs/source): the corpus arrives
    as two id-range micro-batches, the sink admits in arrival order
    with the running tally as bounded side state — and because
    arrival order = id order (the id-range-batch precedent), the
    drained accepted set equals the batch relation row_number() per
    source ≤ 15, which is the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mid = docs.agg(
        (F.max("doc_id") / 2).cast("bigint").alias("m")
    ).collect()[0]["m"]
    batches = (
        ("00_batch.parquet", docs.filter(F.col("doc_id") <= mid)),
        ("01_batch.parquet", docs.filter(F.col("doc_id") > mid)),
    )
    with staged_stream(spark, "ssq", batches) as (scratch, read):
        target = os.path.join(scratch, "accepted")
        stream_source_quota_sink(spark, read(), target, quota=15)
        return pin(spark.read.parquet(target))


_LATE_DELAY = 600


def _late_audit_oracle(delay: int = _LATE_DELAY) -> str:
    return f"""
    WITH es AS (
      SELECT event_id, floor(epoch(ts))::BIGINT AS es FROM events
    ), mid AS (
      SELECT floor(max(event_id) / 2)::BIGINT AS m FROM es
    ), b0 AS (
      SELECT es.* FROM es, mid
      WHERE event_id <= m AND event_id % 97 <> 3
    ), b1 AS (
      SELECT es.* FROM es, mid
      WHERE event_id > m OR event_id % 97 = 3
    ), w AS (
      SELECT max(es) AS wm_base FROM b0
    )
    SELECT 0::BIGINT AS seq, (SELECT count(*) FROM b0)::BIGINT AS n_rows,
           0::BIGINT AS n_late,
           (SELECT max(es) FROM b0)::BIGINT AS max_es,
           (-1)::BIGINT AS wm_secs
    UNION ALL
    SELECT 1::BIGINT, (SELECT count(*) FROM b1)::BIGINT,
           (SELECT count(*) FROM b1, w WHERE es < wm_base - {delay})::BIGINT,
           (SELECT max(es) FROM b1)::BIGINT,
           (SELECT wm_base - {delay} FROM w)::BIGINT
    """


@query("stream_late_audit", oracle=_late_audit_oracle())
def stream_late_audit_q(spark, sf_dir):
    """Watermark-lateness audit over a two-batch replayed stream:
    batch 0 is the on-time head (ids ≤ mid minus a deterministic
    straggler slice), batch 1 delivers the tail plus the stragglers —
    whose old timestamps land behind the running watermark and are
    counted as would-be-dropped.  Bounded one-row-per-batch state."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    mid = ev.agg(
        (F.max("event_id") / 2).cast("bigint").alias("m")
    ).collect()[0]["m"]
    straggler = F.col("event_id") % 97 == 3
    batches = (
        ("00_batch.parquet", ev.filter((F.col("event_id") <= mid) & ~straggler)),
        ("01_batch.parquet", ev.filter((F.col("event_id") > mid) | straggler)),
    )
    with staged_stream(spark, "sla", batches) as (scratch, read):
        target = os.path.join(scratch, "audit")
        stream_late_audit_sink(spark, read(), target, _LATE_DELAY)
        return pin(spark.read.parquet(target))
