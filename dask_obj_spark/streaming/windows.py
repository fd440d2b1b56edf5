"""Time-window operators over the ``events`` table (SURVEY.md §2 Tier E:
streaming category — absent in the reference, whose only abstractions are
bag/delayed/expr, `/root/reference/src/dask_obj/core.py:34-220`).

Two layers:

1. **Batch window queries** (oracle-checked): tumbling / sliding /
   session windows computed with the SAME built-ins Structured Streaming
   uses (``F.window``, ``F.session_window``), run on the static table.
   This is the SURVEY §7 step-8 strategy: validate windowed-agg semantics
   in batch mode against DuckDB before trusting them in a stream.
   Window boundaries are emitted as **epoch seconds** so results compare
   engine- and timezone-independently.

2. **Streaming entry points**: ``events_stream`` (file-source readStream
   of the same parquet), ``stream_tumbling_counts`` (watermark + windowed
   agg). Tested with ``trigger(availableNow=True)`` into a memory sink and
   asserted equal to the batch query — the standard batch/stream parity
   contract of Structured Streaming.

Scale notes: windowed aggregation shuffles on (window, key) — partial
aggregation happens map-side, so cardinality, not row count, sizes the
shuffle. Watermarks bound state for true streams; session windows merge
state per key and the watermark expires closed sessions, so state is
O(open sessions), not O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import ws_tokens
from dask_obj_spark.pinning import pin, scoped
from dask_obj_spark.sources.tables import normalize_timestamps

# -- batch window operators ---------------------------------------------------


def _interval_seconds(width: str) -> int:
    """'5 minutes' → 300 (supports seconds/minutes/hours/days)."""
    n, unit = width.split()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit.rstrip("s")]
    return int(n) * mult


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    width: str = "5 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count+sum per key; window start/end as epoch secs.

    The bucket is plain integer arithmetic on epoch micros — an 8-byte
    long shuffle key instead of ``F.window``'s two-timestamp struct
    (narrower exchange, cheaper hashing, no struct construction per row).
    Integer ``div`` truncation == floor for the post-1970 domain."""
    secs = _interval_seconds(width)
    # exact in double: micros < 2^53 and the quotient error (~1e-9) is far
    # smaller than the 1µs/width distance of any non-boundary value
    w_start = (F.floor(F.unix_micros(F.col(ts_col)) / (secs * 1_000_000)) * secs).cast(
        "long"
    )
    return (
        df.groupBy(w_start.alias("w_start"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            "w_start",
            (F.col("w_start") + secs).alias("w_end"),
            key_col,
            "n",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    width: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Sliding-window count per key (each row lands in ≤ ⌈width/slide⌉
    windows).  Same long-arithmetic shape as :func:`tumbling_agg`: the
    covering window starts are generated by explode over a small literal
    array, keeping the whole pipeline codegen'd.  The end-containment
    filter matters whenever width is NOT an exact multiple of slide
    (incl. width < slide): the widest candidate start would otherwise
    claim rows its window [w_start, w_start+width) ends before."""
    secs_w, secs_s = _interval_seconds(width), _interval_seconds(slide)
    k = -(-secs_w // secs_s)  # candidate windows covering each event
    us = F.unix_micros(F.col(ts_col))
    base = (F.floor(us / (secs_s * 1_000_000)) * secs_s).cast("long")
    starts = F.array(*[base - i * secs_s for i in range(k)])
    return (
        df.select(
            F.explode(starts).alias("w_start"), F.col(key_col), us.alias("_us")
        )
        .where(F.col("_us") < (F.col("w_start") + secs_w) * 1_000_000)
        .groupBy("w_start", key_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def session_agg(df: DataFrame, ts_col: str, key_col: str, gap: str = "30 minutes") -> DataFrame:
    """Session windows (gap timeout) per key: start/end = first/last event
    in the session (F.session_window end includes the gap; we report the
    observed extent, which is what the gaps-and-islands oracle computes)."""
    w = F.session_window(ts_col, gap)
    return (
        df.groupBy(w.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.unix_timestamp(F.min(ts_col)).alias("sess_start"),
            F.unix_timestamp(F.max(ts_col)).alias("sess_end"),
        )
        .select(key_col, "sess_start", "sess_end", "n")
    )


# -- streaming entry points ---------------------------------------------------


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (same rows as the batch
    table, delivered as a stream — the batch/stream parity harness)."""
    import os

    # events.ts is TIMESTAMP(NANOS) in some data drops (sources/tables.py)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema must match the PHYSICAL file (INT64 nanos or TIMESTAMP_NTZ
    # depending on the data drop) — normalize to TimestampType here so
    # every downstream watermark/window sees a proper event-time column
    events_path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(events_path).schema
    if os.path.isdir(events_path):
        # a Spark-written DIRECTORY table: stream its leaf files
        # directly — the glob filter below would match nothing (it
        # filters LEAF file names, part-*.parquet) and, with the schema
        # supplied, silently yield an empty stream
        stream = spark.readStream.schema(raw_schema).parquet(events_path)
    else:
        # a single-FILE table sitting next to the other sf tables:
        # stream the directory, filtered to just this file
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_timestamps(stream)


def stream_tumbling_counts(
    stream: DataFrame,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling counts by event_type — the canonical
    late-data-tolerant streaming aggregation. State per (window, key) is
    dropped once the watermark passes window end."""
    stream = normalize_timestamps(stream)  # bigint-nanos OR timestamp_ntz
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("w_start"), "event_type", "n")
    )


def stream_stateful_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running event count that survives across micro-batches
    (the template for arbitrary keyed state — sessionizers, CEP,
    online aggregates Spark has no built-in for).

    State is one bigint per user; at scale state lives in the state
    store (RocksDB-backed on a real cluster), partitioned by the
    groupBy key, and this op introduces exactly one shuffle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as _pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield _pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id bigint, n_events bigint",
        "n bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    spark: SparkSession, sdf: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Drain a stream with availableNow into a memory sink; return the
    materialized result table (test/demo harness, not a production sink)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "10 minutes"
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the clicks by
    the same user in the preceding `within` interval. Watermarks on both
    sides + the time-range join condition bound the buffered state (rows
    older than watermark+range are evicted) — without them a
    stream-stream join would buffer forever."""

    def prep(s: DataFrame) -> DataFrame:
        return normalize_timestamps(s)  # bigint-nanos OR timestamp_ntz

    c = (
        prep(clicks)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", within)
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    )
    p = (
        prep(purchases)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", within)
        .select("event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") < F.col("p_ts"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}")),
    ).select(
        "event_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").alias("purchase_ts"),
        F.unix_timestamp("click_ts").alias("click_ts"),
    )


def stream_click_purchase_outer(
    clicks: DataFrame, purchases: DataFrame, within: str = "10 minutes"
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click row joined
    to the purchases by the same user in the FOLLOWING `within` interval;
    a click with no purchase emits once, with a null purchase side, but
    only AFTER the watermark passes click_ts + within — the point at
    which no future purchase can still match, so the null-side emission
    is final (exactly the abandoned-cart / unconverted-impression shape).

    State bounds are the same as the inner join: watermarks on both
    sides plus the time-range join condition let Spark evict a buffered
    click once the watermark exceeds its match horizon — that eviction
    IS the null-side emission.  The nullable purchase timestamp is
    emitted as coalesce(ts, -1) BIGINT so downstream schemas (and the
    cross-engine oracle hash) stay integer-typed."""

    def prep(s: DataFrame) -> DataFrame:
        return normalize_timestamps(s)  # bigint-nanos OR timestamp_ntz

    c = (
        prep(clicks)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", within)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    p = (
        prep(purchases)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", within)
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {within}")),
        "left_outer",
    )
    return joined.select(
        F.col("click_id").alias("event_id"),
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("c_ts").alias("click_ts"),
        F.coalesce(F.unix_timestamp("p_ts"), F.lit(-1)).cast("bigint").alias(
            "purchase_ts"
        ),
        F.col("p_ts").isNotNull().alias("converted"),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file-source stream (directory-shaped
    tables stream their leaf files; the glob filter only fits the
    single-file layout — see events_stream)."""
    import os

    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    if os.path.isdir(docs_path):
        return spark.readStream.schema(schema).parquet(docs_path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _run_foreach_batch(stream: DataFrame, fn, target_dir: str) -> None:
    """Drain ``stream`` with availableNow, calling ``fn(batch_df,
    batch_id)`` per micro-batch and checkpointing to ``<target_dir>_ckpt``.
    Each micro-batch is its own pin scope, so a sink's pins are released
    when its batch ends and an unbounded stream holds none between
    batches."""
    (
        stream.writeStream.foreachBatch(scoped(fn))
        .trigger(availableNow=True)
        .option("checkpointLocation", target_dir + "_ckpt")
        .start()
        .awaitTermination()
    )


def stream_dedup_upsert(
    spark: SparkSession, stream: DataFrame, target_dir: str
) -> None:
    """foreachBatch sink: streaming exact dedup into a parquet target.

    Per micro-batch: hash content, drop in-batch duplicates, anti-join
    against the hashes already in the target, append only novel rows —
    the standard idempotent streaming-upsert pattern (content-keyed, so
    replays/retries cannot double-insert). At scale the target is a
    table bucketed by content_hash so the anti-join is exchange-free
    (operators/scale.py), or a Delta/Iceberg MERGE where available."""
    from pyspark.sql import functions as F  # noqa: F811 (worker-safe import)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(
            "doc_id", F.md5(F.col("text")).alias("content_hash")
        ).dropDuplicates(["content_hash"])
        # a bare try/except here would silently SKIP the anti-join on a
        # real read failure (corrupt footer, FS hiccup) and double-insert
        # — the exact outcome the docstring rules out; the helper treats
        # only genuinely-absent/empty as "first batch" and re-raises the
        # rest
        existing = _read_parquet_if_exists(batch_df.sparkSession, target_dir)
        if existing is not None:
            batch = batch.join(
                existing.select("content_hash"), "content_hash", "left_anti"
            )
        batch.write.mode("append").parquet(target_dir)

    _run_foreach_batch(stream, upsert, target_dir)


def stream_dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps the first row per key and evicts each key's state once the
    event-time watermark passes it — unlike plain dropDuplicates on a
    stream, whose state grows with every key ever seen. The operator for
    "the same event may be redelivered within N minutes" (at-least-once
    sources), and the streaming face of the exact-dedup operator family
    (operators/dedup.py)."""
    stream = normalize_timestamps(stream)  # bigint-nanos OR timestamp_ntz
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def _read_parquet_if_exists(sess: SparkSession, path: str) -> DataFrame | None:
    """Read a local parquet dir, or None if absent.  The exists-check
    matters beyond convenience: `read.parquet` on a missing path throws
    FileNotFoundException INSIDE the streaming thread, and Spark logs
    the full stack (TriggerExecutor/MicroBatchExecution frames) before
    the Python except swallows it — the exact fatal-looking trace the
    round-6 bench captured during b31 (BENCH_r06 "tail"; harmless but
    indistinguishable from a dying stream in the log)."""
    import os

    if not os.path.exists(path.replace("file:", "", 1)):
        return None
    try:
        return sess.read.parquet(path)
    except Exception as e:
        # Only ABSENCE-class failures may mean "no prior state": a raced
        # concurrent cleanup (path vanished between the check and the
        # read) or a crash-orphaned empty dir (no footers to infer from).
        # Anything else — corrupt footer, FS hiccup — must PROPAGATE:
        # several callers guard decision state (quota tallies, neardup
        # band history, replay seq guards), and treating a transient
        # read failure as "absent" would silently over-admit past quota
        # or re-process a merged batch.
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "FileNotFoundException" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def stream_neardup_minhash(
    spark: SparkSession,
    stream: DataFrame,
    target_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 4,
    compact_every: int = 8,
    compact_files: int = 4,
    event_time_col: str | None = None,
    retention_sec: float | None = None,
) -> None:
    """foreachBatch sink: streaming NEAR-duplicate detection via MinHash
    LSH bands — the streaming face of the batch LSH path
    (operators/dedup.py minhash_candidate_pairs).

    Per micro-batch: compute the batch docs' band table (same portable
    signature pipeline as batch), flag every doc that shares a band with
    ANY smaller-id doc (in-batch or in the standing band history), and
    append only never-flagged ids to the flags target plus only
    never-seen docs' bands to the history — both content-keyed
    anti-joins, so at-least-once redelivery cannot double-insert.

    State story at 100 TB: the standing band table is the ONLY state,
    and it is BOUNDED two ways:

    - **Compaction** — each batch appends one file; every
      ``compact_every`` batches the history is rewritten into
      ``compact_files`` files (write-to-tmp, then rename-swap), so the
      per-batch file listing is O(compact_every + compact_files), not
      O(batches).  The swap is two local renames; a real deployment
      puts the history in a transactional table (or the bucketed-write
      path in operators/scale.py keyed on (band_id, band_hash), making
      the probe join exchange-free as well).  Compaction is idempotent
      under at-least-once batch replay: it only rewrites existing rows.
    - **Retention** — with ``event_time_col`` + ``retention_sec``, band
      rows carry their doc's event time; every batch the probe join
      filters history to ``et >= max(event time seen) - retention_sec``
      (the watermark), and compaction makes the eviction physical —
      the same contract dropDuplicatesWithinWatermark applies to
      exact-dedup state.  Without a retention requirement history
      grows with distinct docs, as it must.
    """
    import os
    import shutil

    from dask_obj_spark.operators.dedup import lsh_bands, minhash_signature

    bands_dir = target_dir + "_bands"
    wm_dir = target_dir + "_wm"

    # compaction crash recovery: the rename-swap has a two-rename window
    # (bands_dir → .old, then .tmp → bands_dir) in which a kill leaves
    # NO live band history — and the band table is DECISION state, so
    # losing it silently un-flags every future duplicate of an old doc
    # (round-10 verdict #3 audit).  On start, if bands_dir is missing,
    # restore from the completed compacted copy (.tmp with _SUCCESS) or
    # else the pre-swap original (.old).
    if not os.path.isdir(bands_dir):
        tmp, old = bands_dir + ".compact.tmp", bands_dir + ".compact.old"
        if os.path.isfile(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, bands_dir)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            os.rename(old, bands_dir)
            shutil.rmtree(tmp, ignore_errors=True)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sig = minhash_signature(batch_df, "doc_id", "text", num_hashes, shingle_n)
        bb = lsh_bands(sig, bands, num_hashes // bands)
        if event_time_col is not None:
            ets = batch_df.select(
                "doc_id",
                F.col(event_time_col).cast("double").alias("et"),
            )
            bb = bb.join(ets, "doc_id")  # batch-sized join
        bb = pin(bb)
        prior = _read_parquet_if_exists(sess, bands_dir)
        wm = None
        if retention_sec is not None and event_time_col is not None:
            # watermark = max event time EVER SEEN - retention; the
            # running max is one tiny persisted row (survives restart,
            # monotone under replay since max is idempotent)
            batch_max = bb.agg(F.max("et").alias("m")).collect()[0]["m"]
            prev_wm = _read_parquet_if_exists(sess, wm_dir)
            if prev_wm is not None:
                prev_max = prev_wm.agg(F.max("m").alias("m")).collect()[0]["m"]
                if prev_max is not None and (
                    batch_max is None or prev_max > batch_max
                ):
                    batch_max = prev_max
            if batch_max is not None:
                wm = batch_max - retention_sec
                sess.createDataFrame([(float(batch_max),)], "m double").coalesce(
                    1
                ).write.mode("overwrite").parquet(wm_dir)
            if prior is not None and wm is not None:
                prior = prior.filter(F.col("et") >= F.lit(wm))
        hist = bb if prior is None else bb.unionByName(prior)
        flagged = (
            bb.alias("a")
            .join(
                hist.alias("h"),
                (F.col("a.band_id") == F.col("h.band_id"))
                & (F.col("a.band_hash") == F.col("h.band_hash"))
                & (F.col("h.doc_id") < F.col("a.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"))
            .distinct()
        )
        existing = _read_parquet_if_exists(sess, target_dir)
        if existing is not None:
            flagged = flagged.join(
                existing.select("doc_id"), "doc_id", "left_anti"
            )
        nb = (
            bb
            if prior is None
            else bb.join(prior.select("doc_id").distinct(), "doc_id", "left_anti")
        )
        # the two appends are independent jobs over the bb pin writing
        # to DIFFERENT directories (flags vs band history), and each
        # reader's file index was snapshot above — overlap them
        # (guide §2.6).  Replay safety is unchanged: both writes are
        # guarded by content-keyed anti-joins, so a crash between or
        # during them is idempotent exactly as in the sequential order.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(
                lambda: flagged.write.mode("append").parquet(target_dir)
            )
            fb = pool.submit(
                lambda: nb.write.mode("append").parquet(bands_dir)
            )
            fa.result()
            fb.result()
        if compact_every and (batch_id + 1) % compact_every == 0:
            live = _read_parquet_if_exists(sess, bands_dir)
            if live is None:
                return
            if wm is not None:
                live = live.filter(F.col("et") >= F.lit(wm))  # physical evict
            tmp, old = bands_dir + ".compact.tmp", bands_dir + ".compact.old"
            shutil.rmtree(tmp, ignore_errors=True)
            # write-to-tmp forces the read BEFORE the source files move
            live.coalesce(compact_files).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(old, ignore_errors=True)
            os.rename(bands_dir, old)
            os.rename(tmp, bands_dir)
            shutil.rmtree(old, ignore_errors=True)

    _run_foreach_batch(stream, upsert, target_dir)


def stream_hll_hourly_registers(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Per-hour HyperLogLog user registers maintained BY THE STREAM:
    a watermarked tumbling max-aggregate over (window, register bucket)
    — the continuous-ingest form of `hll_registers`.  State per
    (window, bucket) is one small int, dropped once the watermark
    passes window end; sinks append closed windows' register rows and
    ANY later consumer merges them by per-bucket max (day/week/ad-hoc
    spans) without touching raw events — the sketch-state streaming
    story at 100 TB.  rho is a stateless projection (porthash +
    pure-integer comparison chain), so the stream plan is projection →
    watermark → windowed max."""
    from dask_obj_spark.functions.hashing import porthash
    from dask_obj_spark.operators.scale import _HLL_M, _hll_rho

    stream = normalize_timestamps(stream)  # bigint-nanos OR timestamp_ntz
    h = porthash(F.col("user_id").cast("string"), "hll")
    rows = stream.select(
        "ts", (h % _HLL_M).alias("bucket"), h.alias("hh")
    ).select(
        "ts",
        "bucket",
        _hll_rho(F.expr(f"CAST(hh div {_HLL_M} AS BIGINT)")).alias("rho"),
    )
    return (
        rows.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "bucket")
        .agg(F.max("rho").alias("mx"))
    )


def _top_terms_observed(counted: DataFrame, n: int) -> tuple[DataFrame, Observation]:
    """The top-``n`` (term, c) rows by (c desc, term asc), and an
    `Observation` that receives the exact ``SUM(c)`` over ALL rows when
    the frame's action runs.  The sum is observed on the pre-limit
    frame, so the top-k collect and the total are one action, and no
    whole-relation window funnels the term table into one partition."""
    obs = Observation()
    top = (
        counted.observe(obs, F.sum("c").alias("total"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(n)
    )
    return top, obs


def _collect_top_terms(counted: DataFrame, n: int) -> tuple[list, int]:
    """One action per micro-batch: (top-``n`` rows, exact batch total)."""
    top, obs = _top_terms_observed(counted, n)
    rows = top.collect()
    return rows, int(obs.get["total"] or 0)


def stream_heavy_hitters(
    spark: SparkSession,
    stream: DataFrame,
    target_dir: str,
    k: int = 50,
    counters: int | None = None,
) -> None:
    """foreachBatch sink: streaming heavy-hitter DISCOVERY with bounded
    sketch state — the streaming face of `heavy_hitters`
    (operators/scale.py): the stream maintains a single Misra-Gries
    summary (mergeable-summaries merge of each micro-batch's own MG
    summary), so state is ≤ ``counters`` (term, est) rows + one total
    row FOREVER, regardless of stream length or vocabulary size.

    The summary merged over any batch tree carries the classic bound
    (undercount ≤ n/(counters+1)), so with ``counters ≥ 2k`` every term
    with global frequency ≥ n/k is guaranteed alive in the final state
    — the candidate set a downstream batch confirm pass counts exactly
    (the "sketch narrows, batch confirms" two-phase, same shape as the
    batch operator's two scans).

    Exactly-once under at-least-once replay: the processed HIGH-WATER
    batch id is recorded next to the state (ids are strictly
    increasing within a checkpoint, so one integer suffices — O(1)
    guard state forever, not a grows-one-per-batch list), and a
    replayed (batch_id ≤ done_max) batch is a no-op — unlike the
    anti-join idempotence of `stream_dedup_upsert`, MG merges are NOT
    naturally idempotent (a double merge could inflate the cut and
    evict a true hitter), so the guard is load-bearing; the 20-batch
    replay test pins it.

    State I/O is driver-side (bounded: ≤ counters rows) with
    rename-swap overwrite — the same compaction discipline as
    `stream_neardup_minhash`'s band history, trivially cheap here.
    """
    import json
    import os

    if counters is None:
        counters = 2 * k
    mg_path = target_dir + "_mg.json"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        state = {"slots": {}, "n": 0, "done_max": -1}
        if os.path.exists(mg_path):
            with open(mg_path) as fh:
                state = json.load(fh)
        # replay guard: ONE high-water id (ids strictly increase per
        # checkpoint), not a grows-forever processed list — a replayed
        # batch merging twice would break the MG bound; legacy state
        # files carrying a `done` list upgrade on first write
        done_max = int(state.get("done_max", max(state.get("done") or [-1])))
        if batch_id <= done_max:
            return
        toks = batch_df.select(
            F.explode(ws_tokens("text")).alias("term")
        ).filter(F.col("term") != "")
        counted = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
        top, batch_n = _collect_top_terms(counted, counters + 1)
        # the batch's own MG summary: keep top `counters`, subtract the
        # (counters+1)-th largest count (0 if the vocab fits)
        cut0 = int(top[counters]["c"]) if len(top) > counters else 0
        slots = {t: int(v) for t, v in state["slots"].items()}
        for r in top[:counters]:
            est = int(r["c"]) - cut0
            if est > 0:
                slots[r["term"]] = slots.get(r["term"], 0) + est
        if len(slots) > counters:
            cut = sorted(slots.values(), reverse=True)[counters]
            slots = {t: v - cut for t, v in slots.items() if v > cut}
        state = {
            "slots": slots,
            "n": int(state["n"]) + batch_n,
            "done_max": int(batch_id),
        }
        tmp = mg_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, mg_path)  # atomic swap: readers never see a torn state

    _run_foreach_batch(stream, upsert, target_dir)


def stream_heavy_hitters_confirm(
    spark: SparkSession, source: DataFrame, mg_path: str, k: int = 50
) -> DataFrame:
    """The batch CONFIRM pass over the retained corpus: exact counts of
    the streaming summary's candidate terms (broadcast semi-join — the
    candidate set is ≤ counters rows by construction), kept at
    ``cnt·k ≥ n``.  Output matches the batch operator exactly."""
    import json

    with open(mg_path) as fh:
        state = json.load(fh)
    cands = spark.createDataFrame(
        [(t,) for t in state["slots"]] or [(None,)], "term string"
    ).filter(F.col("term").isNotNull())
    toks = source.select(
        F.explode(ws_tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    n_total = int(state["n"])
    return (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") * F.lit(k) >= F.lit(n_total))
        .select(
            "term",
            "cnt",
            F.expr(
                f"cnt * CAST(1000000 AS BIGINT) DIV CAST({n_total} AS BIGINT)"
            ).alias("share_x1m"),
        )
    )


# -- streaming decayed top-k (recency-weighted heavy hitters) -----------------


# decayed-MG renormalization bounds: shift all magnitudes down once the
# live weight exponent reaches RENORM, restarting at KEEP bits
_DMG_RENORM_POS = 512
_DMG_KEEP_POS = 64


def _decayed_mg_merge(
    state: dict, top_rows: list, batch_n: int, batch_id: int, counters: int
) -> dict:
    """Merge ONE micro-batch's term counts into the decayed Misra-Gries
    state (pure function — unit-testable without a stream).

    Decay model: a batch merged at position p carries weight 2^p, so
    after B batches a term's decayed score is Σ_b cnt_b·2^b — each new
    batch halves every older batch's RELATIVE weight (half-life = one
    batch) while the stored integers only ever grow, keeping every
    comparison exact (no float halving drift, no cross-engine rounding).

    ``top_rows`` is the batch's own (term, cnt) summary ordered by
    (cnt DESC, term ASC), length ≤ counters+1: dropping the tail and
    subtracting the (counters+1)-th count is an MG summary of the
    batch, and weighted MG summaries merge with total undercount
    ≤ W/(counters+1) (Agarwal et al., TODS 2013 — same bound the
    unweighted `heavy_hitters` relies on), so any term with decayed
    score ≥ W/k survives while state stays ≤ ``counters`` slots + the
    exact weighted total FOREVER.

    Replay-safe: Structured Streaming batch ids are strictly
    increasing within a checkpoint, so the guard is a single
    HIGH-WATER id (``done_max``) — O(1) state, not a grows-forever
    processed list — and a ``batch_id ≤ done_max`` merge is a no-op
    (MG merges are not idempotent — a double merge could inflate the
    cut and evict a true hitter).

    Bounded INTEGERS forever, not just bounded slots: the stored
    magnitudes gain one bit per batch (weight = 2^pos), so once the
    live exponent reaches ``_DMG_RENORM_POS`` every magnitude is
    right-shifted to restart at ``_DMG_KEEP_POS`` bits (``rebase``
    records the cumulative shift).  The shift truncates < 2^s per
    slot while the live weight is 2^_DMG_RENORM_POS — a one-sided
    relative undercount < 2^-_DMG_KEEP_POS (≈1e-19), absorbed into
    MG's own undercount budget; decayed ORDER between slots is
    preserved up to that precision.  Legacy state files carrying a
    ``done`` list are upgraded on first merge.
    """
    done_max = int(state.get("done_max", max(state.get("done") or [-1])))
    merged = int(state.get("merged", len(state.get("done") or [])))
    rebase = int(state.get("rebase", 0))
    if batch_id <= done_max:
        return state
    pos = merged - rebase
    weight = 1 << pos
    cut0 = int(top_rows[counters][1]) if len(top_rows) > counters else 0
    slots = {t: int(v) for t, v in state["slots"].items()}
    for term, c in top_rows[:counters]:
        est = (int(c) - cut0) * weight
        if est > 0:
            slots[term] = slots.get(term, 0) + est
    if len(slots) > counters:
        cut = sorted(slots.values(), reverse=True)[counters]
        slots = {t: v - cut for t, v in slots.items() if v > cut}
    w = int(state["w"]) + batch_n * weight
    if pos + 1 >= _DMG_RENORM_POS:  # next merge would exceed the cap
        s = (pos + 1) - _DMG_KEEP_POS
        slots = {t: v >> s for t, v in slots.items() if (v >> s) > 0}
        w >>= s
        rebase += s
    return {
        "slots": slots,
        "w": w,
        "merged": merged + 1,
        "done_max": int(batch_id),
        "rebase": rebase,
    }


def stream_decayed_topk(
    spark: SparkSession,
    stream: DataFrame,
    target_dir: str,
    k: int = 50,
    counters: int | None = None,
) -> None:
    """foreachBatch sink: RECENCY-WEIGHTED heavy-hitter discovery — the
    trending-terms face of `stream_heavy_hitters`: each micro-batch
    halves the relative weight of everything before it, so a term must
    keep appearing to stay hot, and yesterday's burst decays out
    instead of squatting in the top-k forever (the standard objection
    to running plain heavy hitters over an unbounded stream).

    Same bounded-state discipline as `stream_heavy_hitters`: ONE
    weighted Misra-Gries summary (≤ counters slots + the exact
    weighted total + the processed-batch set), driver-side rename-swap
    persistence, batch-id replay guard.  The stream contributes the
    candidate-superset guarantee; `stream_decayed_topk_confirm` scores
    the survivors exactly, so the output is deterministic and
    oracle-pairable despite MG's order-dependent internals.
    """
    import json
    import os

    if counters is None:
        counters = 2 * k
    st_path = target_dir + "_dmg.json"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        state = {"slots": {}, "w": 0, "done_max": -1, "merged": 0}
        if os.path.exists(st_path):
            with open(st_path) as fh:
                state = json.load(fh)
        done_max = int(state.get("done_max", max(state.get("done") or [-1])))
        if batch_id <= done_max:
            return  # replay: ids are strictly increasing per checkpoint
        toks = batch_df.select(
            F.explode(ws_tokens("text")).alias("term")
        ).filter(F.col("term") != "")
        counted = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
        top, batch_n = _collect_top_terms(counted, counters + 1)
        state = _decayed_mg_merge(
            state, [(r["term"], r["c"]) for r in top], batch_n, batch_id, counters
        )
        tmp = st_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, st_path)

    _run_foreach_batch(stream, upsert, target_dir)


def stream_decayed_topk_confirm(
    spark: SparkSession,
    source: DataFrame,
    st_path: str,
    weight: "F.Column",
    k: int = 50,
) -> DataFrame:
    """Exact decayed scores for the streaming candidates: broadcast
    semi-join + one weighted hash aggregate over the retained corpus,
    kept at ``score·k ≥ W`` (W = the stream's exact weighted total).
    ``weight`` maps each retained row to the SAME 2^batch weight its
    micro-batch carried, so the confirm replays the decay exactly."""
    import json

    with open(st_path) as fh:
        state = json.load(fh)
    cands = spark.createDataFrame(
        [(t,) for t in state["slots"]] or [(None,)], "term string"
    ).filter(F.col("term").isNotNull())
    w_total = int(state["w"])
    toks = source.select(
        F.explode(ws_tokens("text")).alias("term"),
        weight.cast("bigint").alias("wt"),
    ).filter(F.col("term") != "")
    return (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.sum("wt").cast("bigint").alias("score"))
        .filter(F.col("score") * F.lit(k) >= F.lit(w_total))
        .select(
            "term",
            "score",
            F.expr(
                f"score * CAST(1000000 AS BIGINT) DIV CAST({w_total} AS BIGINT)"
            ).alias("share_x1m"),
        )
    )


def stream_quality_psi_sink(
    spark: SparkSession, stream: DataFrame, target_dir: str
) -> None:
    """foreachBatch sink: streaming quality-drift monitoring — the
    streaming face of `quality_psi_by_source` (operators/corpus.py):
    the FIRST micro-batch freezes its 10-bucket quality-decile
    histogram as the reference snapshot, and every batch (including
    the first) contributes its own zero-filled decile histogram, so a
    post-drain pass can score each batch's PSI against the frozen
    reference — the "is this crawl drifting from the training
    snapshot?" tripwire, evaluated per delivery instead of per source.

    Bounded state forever: each batch's contribution is EXACTLY 10
    (seq, bkt, c) rows (the decile grid, zero-filled in the sink so no
    downstream join can drop an empty bucket), and the per-batch Spark
    work is one quality scan of THAT batch + one ≤10-row hash
    aggregate.  Replay-safe: a redelivered batch id whose histogram
    rows are already in the target is a no-op (idempotent by the seq
    key, same discipline as `stream_dedup_upsert`).
    """
    from dask_obj_spark.operators.text import quality_scores

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        prior = _read_parquet_if_exists(sess, target_dir)
        if prior is not None:
            existing = {
                r["seq"] for r in prior.select("seq").distinct().collect()
            }
            if int(batch_id) in existing:
                return  # replayed batch: histogram already recorded
        # each micro-batch arrives as ONE file → one partition; the
        # quality scan's stopword filter is an interpreted HOF, so
        # without an explicit COUNT fan-out it runs one-core (the
        # PLANS.md compute-bound-stage rule; measured 16 s → 2 s for
        # the two sf0.1 half-corpus batches)
        ncores = sess.sparkContext.defaultParallelism
        scored = quality_scores(
            batch_df.repartition(ncores), "doc_id", "text"
        ).select(
            F.least(
                F.floor(F.col("quality") * F.lit(10.0)).cast("int"), F.lit(9)
            ).alias("bkt")
        )
        counts = {
            int(r["bkt"]): int(r["c"])
            for r in scored.groupBy("bkt")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        rows = [(int(batch_id), k, counts.get(k, 0)) for k in range(10)]
        sess.createDataFrame(
            rows, "seq bigint, bkt int, c bigint"
        ).coalesce(1).write.mode("append").parquet(target_dir)

    _run_foreach_batch(stream, upsert, target_dir)


def quality_psi_vs_frozen(spark: SparkSession, target_dir: str) -> DataFrame:
    """Score every drained batch histogram against the frozen
    FIRST-delivered-batch reference with the exact
    `quality_psi_by_source` math: epsilon smoothing on PROPORTIONS
    (p' = (c/n + 1e-4)/1.001 — scale-free, so the reference batch
    scores PSI exactly 0 against itself) and the pivoted 10-arm
    left-assoc chain (never a float SUM over an unordered group).
    The reference is ``min(seq)`` over the NON-EMPTY drained
    histograms — NOT a hardcoded batch id 0: a stream resumed from a
    pre-existing checkpoint delivers its first batch with a nonzero
    id, and a hardcoded 0 would make the inner join silently emit
    zero rows (r9 advice).  Zero-row batches (possible on non-file
    sources) carry no distribution: scoring one — or freezing one as
    the reference — would divide 0/0 into NaN PSI rows, so they are
    excluded from the readout entirely (r11 hardening, same class as
    the late-audit empty-batch fix).  Everything here is
    dimension-sized: 10 rows per batch in, |batches| rows out, one
    ≤10·|batches|-row aggregate for the min."""
    hist = spark.read.parquet(target_dir)
    nonempty = (
        hist.groupBy("seq")
        .agg(F.sum("c").alias("n"))
        .filter(F.col("n") > 0)
        .select("seq")
    )
    hist = hist.join(F.broadcast(nonempty), "seq")
    min_seq = hist.agg(F.min("seq")).collect()[0][0]
    if min_seq is None:
        raise ValueError(
            f"quality_psi_vs_frozen: no non-empty drained batch "
            f"histograms in {target_dir} — nothing to freeze as the "
            f"reference"
        )
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ref = (
        hist.filter(F.col("seq") == F.lit(int(min_seq)))
        .select("bkt", F.col("c").alias("rc"))
        .withColumn("n_ref", F.sum("rc").over(full))
    )
    j = hist.join(F.broadcast(ref), "bkt")
    nsw = Window.partitionBy("seq")
    j = j.withColumn("n_seq", F.sum("c").over(nsw))
    ps = (
        F.col("c").cast("double") / F.col("n_seq").cast("double")
        + F.lit(0.0001)
    ) / F.lit(1.001)
    pr = (
        F.col("rc").cast("double") / F.col("n_ref").cast("double")
        + F.lit(0.0001)
    ) / F.lit(1.001)
    term = ((ps - pr) * F.log(ps / pr)).alias("t")
    piv = (
        j.select("seq", "n_seq", "bkt", term)
        .groupBy("seq", "n_seq")
        .agg(
            *[
                F.max(F.when(F.col("bkt") == k, F.col("t"))).alias(f"t{k}")
                for k in range(10)
            ]
        )
    )
    chain = F.lit(0.0)
    for k in range(10):
        chain = chain + F.col(f"t{k}")
    return piv.select(
        F.col("seq"),
        F.col("n_seq").cast("bigint").alias("n_docs"),
        F.floor(chain * F.lit(1000000.0)).cast("bigint").alias("psi_x1m"),
    )


def stream_contamination_sink(
    spark: SparkSession,
    stream: DataFrame,
    target_dir: str,
    inventory_dir: str,
    shingle_n: int = 8,
) -> None:
    """foreachBatch sink: streaming train/eval contamination guard —
    every incoming crawl batch is checked against a FROZEN eval-set
    shingle inventory before it can enter the training pool (the
    ingest-time face of `contamination_hits`: benchmarks exist before
    the crawl arrives, so the inventory is a fixed broadcast-sized
    side input, never recomputed per batch).

    Per batch: the batch's per-doc distinct shingles (the factored
    one-exchange explode pattern) broadcast-join the inventory and the
    flagged (doc_id, n_overlap) rows append to the quarantine list.
    Work per batch is proportional to THAT batch's shingle volume —
    no history is rescanned.  Replay-safe: a redelivered doc re-derives
    the identical row and the anti-join on already-flagged doc_ids
    makes it a no-op (`stream_dedup_upsert` discipline)."""
    from dask_obj_spark.operators.corpus import doc_distinct_shingles

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sh = doc_distinct_shingles(batch_df, "doc_id", "text", shingle_n)
        inv = sess.read.parquet(inventory_dir)
        flagged = (
            sh.join(F.broadcast(inv), "sh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
        )
        existing = _read_parquet_if_exists(sess, target_dir)
        if existing is not None:
            flagged = flagged.join(
                existing.select("doc_id"), "doc_id", "left_anti"
            )
        flagged.write.mode("append").parquet(target_dir)

    _run_foreach_batch(stream, upsert, target_dir)


def stream_source_quota_sink(
    spark: SparkSession, stream: DataFrame, target_dir: str, quota: int
) -> None:
    """foreachBatch sink: per-source ingest QUOTA enforcement — accept
    at most ``quota`` documents per source across the whole stream, in
    arrival order (ties within a batch broken by doc_id), rejecting
    the rest at the door.  The ingest-control face of
    `cap_per_source`: a crawl front-end enforces per-domain budgets
    online instead of over-collecting and capping in batch.

    Bounded state forever: the running per-source tally is derived
    from the TARGET itself — the accepted corpus is quota-bounded
    (≤ quota × |sources| rows total) so the per-source re-aggregate is
    dimension-sized by construction, and it is correct under ANY
    crash: a die between the accepted append and the counts append
    leaves the truth in the target, where the redelivered batch reads
    it back (round-10 verdict finding #1 — a counts-table tally
    permanently undercounted in exactly that crash window and could
    over-admit past quota).  The side counts table is an AUDIT
    readout only — one (seq, source, n) row per source per batch of
    NEWLY admitted docs — plus the seq guard that short-circuits
    fully-committed replays; no admission decision reads it.
    Replay-safe: a redelivered batch id either hits the seq guard
    (fully committed) or re-derives `used` from the target — which
    already contains its rows, so the quota arithmetic rejects them
    and the doc_id anti-join (`stream_dedup_upsert` discipline)
    suppresses any remainder; at-least-once delivery yields
    exactly-once acceptance."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        counts_dir = target_dir + "_counts"
        prior = _read_parquet_if_exists(sess, counts_dir)
        if prior is not None:
            if (
                prior.filter(F.col("seq") == int(batch_id)).limit(1).count()
                > 0
            ):
                return  # fully-committed replay: both writes landed
        existing = _read_parquet_if_exists(sess, target_dir)
        if existing is not None:
            used = existing.groupBy("source").agg(
                F.count(F.lit(1)).cast("bigint").alias("used")
            )
        else:
            used = None
        w = Window.partitionBy("source").orderBy("doc_id")
        # in-batch dedup FIRST: an at-least-once source can redeliver
        # the same doc twice inside one availableNow batch — without
        # this it gets two rn values, passes the quota check twice, and
        # the target anti-join (which only sees PRIOR batches) admits
        # both: duplicate doc_id + double-counted tally
        ranked = (
            batch_df.select("doc_id", "source")
            .dropDuplicates(["doc_id"])
            .withColumn("rn", F.row_number().over(w))
        )
        if used is not None:
            ranked = ranked.join(F.broadcast(used), "source", "left")
            ranked = ranked.withColumn(
                "used", F.coalesce(F.col("used"), F.lit(0))
            )
        else:
            ranked = ranked.withColumn("used", F.lit(0))
        accepted = ranked.filter(
            F.col("rn") + F.col("used") <= F.lit(int(quota))
        ).select("doc_id", "source")
        if existing is not None:
            accepted = accepted.join(
                existing.select("doc_id"), "doc_id", "left_anti"
            )
        accepted = pin(accepted)  # one batch scan
        accepted.write.mode("append").parquet(target_dir)
        # audit readout: one row per source PRESENT in the batch, n =
        # newly admitted (0 allowed — an all-rejected batch still gets
        # its seq marker, so fully-committed replays short-circuit)
        newly = accepted.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        (
            ranked.select("source")
            .distinct()
            .join(newly, "source", "left")
            .select(
                F.lit(int(batch_id)).cast("bigint").alias("seq"),
                "source",
                F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(counts_dir)
        )

    _run_foreach_batch(stream, upsert, target_dir)


def stream_late_audit_sink(
    spark: SparkSession,
    stream: DataFrame,
    target_dir: str,
    delay_secs: int,
    ts_col: str = "ts",
) -> None:
    """foreachBatch sink: WATERMARK-LATENESS accounting — for every
    micro-batch, how many rows would a ``withWatermark(delay)``
    pipeline have dropped as too late?  The observability companion
    every production watermark needs: Spark silently discards late
    rows, so an ingest owner watches this audit to tune the delay
    before the windowed aggregates quietly go wrong.

    State is ONE (seq, n_rows, n_late, max_es, wm_secs) row per batch:
    the running watermark is max(max_es over PRIOR batches) − delay,
    read back from the dimension-sized audit table itself — never from
    the data.  First batch has no watermark (wm_secs = −1 sentinel,
    n_late = 0).  Replay-safe via the seq guard."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        prior = _read_parquet_if_exists(sess, target_dir)
        if prior is not None:
            if (
                prior.filter(F.col("seq") == int(batch_id)).limit(1).count()
                > 0
            ):
                return  # replayed batch
            # max_es = -1 marks an empty batch's audit row: exclude it
            # so a leading run of empty batches leaves wm undefined
            wm_row = (
                prior.filter(F.col("max_es") >= 0)
                .agg(F.max("max_es").alias("m"))
                .collect()[0]
            )
            wm = (
                int(wm_row["m"]) - int(delay_secs)
                if wm_row["m"] is not None
                else None
            )
        else:
            wm = None
        es = F.unix_timestamp(F.col(ts_col)).cast("long")
        stats = batch_df.select(es.alias("es")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("es").cast("bigint").alias("max_es"),
            (
                F.sum(
                    F.when(F.col("es") < F.lit(wm), 1).otherwise(0)
                    if wm is not None
                    else F.lit(0)
                )
            )
            .cast("bigint")
            .alias("n_late"),
        ).collect()[0]
        if int(stats["n_rows"]) == 0:
            # empty micro-batch (possible on non-file sources): max_es
            # is NULL — record a zero-row audit line carrying the
            # running watermark forward instead of crashing on
            # int(None); -1 sentinels keep the schema non-nullable
            row = [(int(batch_id), 0, 0, -1, int(wm) if wm is not None else -1)]
            sess.createDataFrame(
                row,
                "seq bigint, n_rows bigint, n_late bigint, max_es bigint, wm_secs bigint",
            ).coalesce(1).write.mode("append").parquet(target_dir)
            return
        row = [
            (
                int(batch_id),
                int(stats["n_rows"]),
                int(stats["n_late"]),
                int(stats["max_es"]),
                int(wm) if wm is not None else -1,
            )
        ]
        sess.createDataFrame(
            row, "seq bigint, n_rows bigint, n_late bigint, max_es bigint, wm_secs bigint"
        ).coalesce(1).write.mode("append").parquet(target_dir)

    _run_foreach_batch(stream, upsert, target_dir)
