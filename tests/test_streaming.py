"""Streaming window tests: batch/stream parity (the Structured Streaming
contract — same query, same answer) plus session-window semantics on a
hand-built fixture. Oracle parity of the batch window queries is covered
by test_oracle_parity.py.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from dask_obj_spark.sources import load_table
from dask_obj_spark.streaming.windows import (
    events_stream,
    run_stream_to_memory,
    session_agg,
    stream_tumbling_counts,
    tumbling_agg,
)


def test_stream_matches_batch(spark, oracle_sf_dir):
    st = run_stream_to_memory(
        spark, stream_tumbling_counts(events_stream(spark, oracle_sf_dir)), "parity_t"
    )
    batch = tumbling_agg(
        load_table(spark, oracle_sf_dir, "events"), "ts", "event_type"
    ).select("w_start", "event_type", "n")
    assert {tuple(r) for r in st.collect()} == {tuple(r) for r in batch.collect()}


def test_session_window_gap_semantics(spark):
    ts = lambda m, s=0: datetime(2024, 1, 1, 0, m, s)
    rows = [
        (1, ts(0)), (1, ts(10)), (1, ts(25)),  # one session (gaps < 30)
        (1, ts(56)),                           # 31-min gap → new session
        (2, ts(0)),                            # other key: independent state
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "value", F.lit(1.0)
    )
    got = {
        (r.user_id, r.sess_start, r.sess_end, r.n)
        for r in session_agg(df, "ts", "user_id", "30 minutes").collect()
    }
    e = lambda m: int(datetime(2024, 1, 1, 0, m).timestamp())
    assert got == {
        (1, e(0), e(25), 3),
        (1, e(56), e(56), 1),
        (2, e(0), e(0), 1),
    }


def test_stateful_user_counts_matches_batch(spark, oracle_sf_dir):
    from dask_obj_spark.streaming.windows import stream_stateful_user_counts

    st = run_stream_to_memory(
        spark,
        stream_stateful_user_counts(events_stream(spark, oracle_sf_dir)),
        "stateful_t",
        mode="update",
    )
    # update mode may emit a row per micro-batch; the LAST emission per
    # user is the final state
    final = {r.user_id: r.n_events for r in st.collect()}
    batch = (
        load_table(spark, oracle_sf_dir, "events")
        .groupBy("user_id")
        .count()
        .collect()
    )
    assert final == {r.user_id: r["count"] for r in batch}


def test_foreachbatch_dedup_upsert_idempotent(spark, oracle_sf_dir, tmp_path):
    from dask_obj_spark.streaming.windows import documents_stream, stream_dedup_upsert

    target = str(tmp_path / "dedup_target")
    stream_dedup_upsert(spark, documents_stream(spark, oracle_sf_dir), target)
    distinct_contents = (
        load_table(spark, oracle_sf_dir, "documents")
        .select(F.md5("text").alias("h"))
        .distinct()
        .count()
    )
    first = spark.read.parquet(target).count()
    assert first == distinct_contents
    # re-run with a fresh checkpoint (simulated replay): content-keyed
    # anti-join keeps the target unchanged
    import shutil

    shutil.rmtree(target + "_ckpt")
    stream_dedup_upsert(spark, documents_stream(spark, oracle_sf_dir), target)
    assert spark.read.parquet(target).count() == first


def test_stream_stream_join_matches_batch(spark, oracle_sf_dir):
    from dask_obj_spark.streaming.windows import stream_click_purchase_join

    st = run_stream_to_memory(
        spark,
        stream_click_purchase_join(
            events_stream(spark, oracle_sf_dir), events_stream(spark, oracle_sf_dir)
        ),
        "ss_join_t",
        mode="append",
    )
    ev = load_table(spark, oracle_sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") < F.col("p_ts"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select(
        "event_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").alias("purchase_ts"),
        F.unix_timestamp("click_ts").alias("click_ts"),
    )
    got = {tuple(r) for r in st.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_outer_join_emits_null_side_after_watermark(spark, oracle_sf_dir):
    """Left-outer stream-stream join: unmatched clicks must emit exactly
    once with a null purchase side once the watermark passes their match
    horizon (driven by the sentinel watermark-pusher files inside the
    query), and the multiset must equal the batch left join."""
    import __spark_entry__ as entrymod

    st = entrymod.queries()["stream_outer_join_late"](spark, oracle_sf_dir)
    got = sorted(tuple(r) for r in st.collect())
    ev = load_table(spark, oracle_sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        F.col("eid").alias("event_id"),
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("c_ts").alias("click_ts"),
        F.coalesce(F.unix_timestamp("p_ts"), F.lit(-1))
        .cast("bigint")
        .alias("purchase_ts"),
        F.col("p_ts").isNotNull().alias("converted"),
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(want) > 0
    # the null-side rows are the point: some clicks must be unconverted
    assert any(not r[4] for r in got)


def test_dedup_within_watermark_matches_batch_distinct(spark, oracle_sf_dir):
    from dask_obj_spark.streaming.windows import stream_dedup_within_watermark

    st = run_stream_to_memory(
        spark,
        stream_dedup_within_watermark(
            events_stream(spark, oracle_sf_dir), ["user_id", "event_type"]
        ).select("user_id", "event_type"),
        "parity_ddww",
        mode="append",
    )
    batch = (
        load_table(spark, oracle_sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    # single-file source -> one micro-batch -> dedup output == distinct keys
    assert {tuple(r) for r in st.collect()} == {tuple(r) for r in batch.collect()}


def test_python_streaming_source_drains_and_matches_batch(spark, tmp_path):
    """Custom Python streaming source (SimpleDataSourceStreamReader):
    availableNow drains the bounded stream; the per-user aggregate equals
    the same computation on the deterministic generator's batch form."""
    from pyspark.sql import functions as F
    from dask_obj_spark.sources.io import register_stream_source

    register_stream_source(spark)
    q = (
        spark.readStream.format("synthetic_events")
        .option("batches", 3)
        .option("batch_rows", 50)
        .load()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sv"))
        .writeStream.format("memory")
        .queryName("synth_events_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow drain timed out"
    got = {
        r.user_id: (r.n, r.sv)
        for r in spark.sql("SELECT * FROM synth_events_agg").collect()
    }
    # batch-side truth from the same deterministic generator
    rows = [(i, (i % 7), (i % 13) * 0.5) for i in range(150)]
    expect = {}
    for _i, u, v in rows:
        n, sv = expect.get(u, (0, 0.0))
        expect[u] = (n + 1, round(sv + v, 6))
    assert got == expect


def test_checkpoint_resume_carries_state(spark, oracle_sf_dir, tmp_path):
    """Exactly-once restart contract: a stateful streaming aggregation
    drained with availableNow, STOPPED, given more input, and restarted
    from the SAME checkpoint must (a) not reprocess the first batch and
    (b) resume its state — a user seen in both halves must report the
    combined count, which is only possible if the shuffle-state store
    was recovered from the checkpoint."""
    import os

    ev = load_table(spark, oracle_sf_dir, "events")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)

    raw_schema = ev.select("event_id", "user_id").schema

    def run_once(run_dir_has_all: bool) -> None:
        stream = (
            spark.readStream.schema(raw_schema).parquet(src)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half_a.select("event_id", "user_id").write.mode("overwrite").parquet(src)
    run_once(False)
    # second half arrives AFTER the first drain completed and stopped
    half_b.select("event_id", "user_id").write.mode("append").parquet(src)
    run_once(True)

    got = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n").alias("n"))  # n is monotone across re-emissions
    )
    want = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    diff = got.alias("g").join(want.alias("w"), "user_id").filter(
        F.col("g.n") != F.col("w.n")
    )
    assert diff.count() == 0
    assert got.count() == want.count()


def test_neardup_band_history_compaction_and_retention(spark, tmp_path):
    """The round-6 verdict state-story fix, proven over 20 micro-batches:

    - **bounded file count**: each batch appends one history file; with
      ``compact_every=5`` the 20th batch's compaction must leave the
      band history at ``compact_files`` part files, not O(batches).
    - **watermark retention**: with ``retention_sec=50``, a doc whose
      only near-dup arrived 100 event-seconds earlier must NOT be
      flagged (its source's bands are evicted), while a dup 30 seconds
      back IS flagged; the final compaction makes the eviction physical
      (min et in the surviving history >= final watermark).
    - **control**: the same corpus without retention flags both groups.

    Corpus: ids 0..199 in 20 in-order batches of 10, et = doc_id;
    ids 60..89 duplicate ids 30..59 (distance 30), ids 100..129
    duplicate ids 0..29 (distance 100), everything else unique.
    """
    import os

    from dask_obj_spark.streaming.windows import stream_neardup_minhash

    def text_of(i: int) -> str:
        if 100 <= i < 130:
            i -= 100
        elif 60 <= i < 90:
            i -= 30
        return " ".join(f"tok{i}x{j} filler{i}y{j}" for j in range(8))

    rows = [(i, text_of(i), float(i)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, ts double")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    now = 1_700_000_000
    for b in range(20):
        part = docs.filter((F.col("doc_id") >= 10 * b) & (F.col("doc_id") < 10 * (b + 1)))
        sub = str(tmp_path / f"b{b:02d}")
        part.coalesce(1).write.parquet(sub)
        (pf,) = [p for p in os.listdir(sub) if p.endswith(".parquet")]
        dst = os.path.join(in_dir, f"{b:02d}.parquet")
        os.rename(os.path.join(sub, pf), dst)
        os.utime(dst, (now + 10 * b, now + 10 * b))

    def run(target: str, **kw) -> set[int]:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        stream_neardup_minhash(
            spark, stream, target, compact_every=5, compact_files=2, **kw
        )
        return {r.doc_id for r in spark.read.parquet(target).collect()}

    near = set(range(60, 90))
    far = set(range(100, 130))

    control = run(str(tmp_path / "flags_ctl"))
    assert control == near | far

    flags = run(
        str(tmp_path / "flags_ret"), event_time_col="ts", retention_sec=50.0
    )
    assert flags == near, sorted(flags ^ near)

    bands_dir = str(tmp_path / "flags_ret_bands")
    parts = [p for p in os.listdir(bands_dir) if p.endswith(".parquet")]
    assert len(parts) <= 2, parts  # compacted, not O(batches)
    hist = spark.read.parquet(bands_dir)
    # final watermark = 199 - 50 = 149; eviction is physical
    assert hist.agg(F.min("et")).collect()[0][0] >= 149.0


def test_neardup_band_history_survives_compaction_crash(spark, tmp_path):
    """Kill-between-renames recovery: the compaction swap is
    `rename(bands→old); rename(tmp→bands)` — a crash in between leaves
    NO live band history, and the bands are DECISION state (losing
    them un-flags every future dup of an old doc).  The sink must
    restore from the completed .tmp (_SUCCESS present) or else .old
    on its next start."""
    import os

    from dask_obj_spark.streaming.windows import stream_neardup_minhash

    def text_of(i: int) -> str:
        if i >= 10:
            i -= 10  # ids 10+ duplicate ids 0+
        return " ".join(f"tok{i}x{j} filler{i}y{j}" for j in range(8))

    cols = "doc_id long, text string"

    for crash_state in ("old", "tmp"):
        in_dir = str(tmp_path / f"in_{crash_state}")
        target = str(tmp_path / f"flags_{crash_state}")
        bands_dir = target + "_bands"
        b0 = [(i, text_of(i)) for i in range(5)]
        df0 = spark.createDataFrame(b0, cols)
        _stage_batch_df(spark, df0, tmp_path / f"s_{crash_state}0", in_dir, 0)
        stream = (
            spark.readStream.schema(df0.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        stream_neardup_minhash(spark, stream, target)
        assert spark.read.parquet(target).count() == 0  # all unique so far

        # simulate the mid-swap crash: live history vanished, the copy
        # survives under the crash-state name
        if crash_state == "old":
            os.rename(bands_dir, bands_dir + ".compact.old")
        else:
            os.rename(bands_dir, bands_dir + ".compact.tmp")
            # Spark wrote _SUCCESS into the original dir, so the moved
            # copy is a "completed tmp" exactly as a finished compaction
            # write leaves it
            assert os.path.isfile(
                os.path.join(bands_dir + ".compact.tmp", "_SUCCESS")
            )

        b1 = [(10 + i, text_of(10 + i)) for i in range(3)]  # dup ids 0..2
        _stage_batch_df(
            spark,
            spark.createDataFrame(b1, cols),
            tmp_path / f"s_{crash_state}1",
            in_dir,
            1,
        )
        stream2 = (
            spark.readStream.schema(df0.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        stream_neardup_minhash(spark, stream2, target)
        flagged = {r.doc_id for r in spark.read.parquet(target).collect()}
        assert flagged == {10, 11, 12}, (crash_state, sorted(flagged))


def test_stream_heavy_hitters_state_bounded_and_replay_safe(spark, tmp_path):
    """Drive the MG upsert directly for 20 synthetic batches: state must
    stay ≤ counters slots + exact total throughout; a replayed batch_id
    must be a no-op; the confirm pass must equal the exact batch
    answer."""
    import json

    from dask_obj_spark.streaming.windows import (
        stream_heavy_hitters,
        stream_heavy_hitters_confirm,
    )

    target = str(tmp_path / "hh")
    mg_path = target + "_mg.json"
    # reach inside: build the same upsert foreachBatch uses by running
    # the public API over a 20-file stream
    rows = []
    for b in range(20):
        text = " ".join(["hot"] * 30 + [f"rare{b}_{i}" for i in range(40)])
        rows.append((b, text))
    src = spark.createDataFrame(rows, ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    for b, text in rows:
        spark.createDataFrame([(b, text)], ["doc_id", "text"]).coalesce(
            1
        ).write.mode("append").parquet(in_dir)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_heavy_hitters(spark, stream, target, k=5, counters=10)
    state = json.load(open(mg_path))
    assert len(state["slots"]) <= 10
    assert state["n"] == 20 * 70
    assert "hot" in state["slots"]  # global 600/1400 >> n/5, must survive
    # replay guard is a single HIGH-WATER id, not a grows-forever list
    assert state["done_max"] >= 0 and "done" not in state

    # replay guard: blow away the CHECKPOINT (not the state) and rerun —
    # foreachBatch redelivers every file with batch ids from 0, and the
    # done-set guard must make each one a no-op (without it, slot counts
    # double and `hot`'s est inflates past its true frequency)
    import shutil

    before = json.load(open(mg_path))
    shutil.rmtree(target + "_ckpt")
    stream2 = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_heavy_hitters(spark, stream2, target, k=5, counters=10)
    after = json.load(open(mg_path))
    assert after == before

    got = {
        r["term"]: r["cnt"]
        for r in stream_heavy_hitters_confirm(spark, src, mg_path, k=5).collect()
    }
    assert got == {"hot": 600}  # 600*5 >= 1400; every rare word fails


def test_top_terms_total_is_observed_not_windowed(spark):
    """The per-batch top-k collect of the heavy-hitter sinks carries the
    exact batch total through `observe()` on the pre-limit frame: one
    action, no whole-relation window, so no SinglePartition exchange.
    An empty batch observes a total of 0."""
    from dask_obj_spark.plans.inspect import explain_str
    from dask_obj_spark.streaming.windows import (
        _collect_top_terms,
        _top_terms_observed,
    )

    counted = spark.createDataFrame(
        [(f"t{i}", i % 7 + 1) for i in range(50)], "term string, c long"
    ).repartition(4)
    top, _ = _top_terms_observed(counted, 3)
    plan = explain_str(top)
    assert "SinglePartition" not in plan and "Window" not in plan
    rows, total = _collect_top_terms(counted, 3)
    assert total == sum(i % 7 + 1 for i in range(50))
    assert [(r["term"], r["c"]) for r in rows] == [("t13", 7), ("t20", 7), ("t27", 7)]
    empty = counted.filter(F.col("c") < 0)
    assert _collect_top_terms(empty, 3) == ([], 0)


def test_decayed_mg_merge_replay_bound_and_decay():
    """Pure-state contract of the decayed weighted-MG merge: a replayed
    batch_id is a no-op, slots never exceed `counters`, the weighted
    total is exact, and a term that stops appearing decays below a
    recent term of equal per-batch volume."""
    from dask_obj_spark.streaming.windows import _decayed_mg_merge

    counters = 4
    # LEGACY state shape (a `done` list) must upgrade transparently
    st = {"slots": {}, "w": 0, "done": []}
    # batch 0: 'old' dominates
    st = _decayed_mg_merge(st, [("old", 100), ("x", 10)], 110, 0, counters)
    assert st["w"] == 110 and st["slots"]["old"] == 100
    # replay of batch 0 must not merge twice
    st2 = _decayed_mg_merge(st, [("old", 100), ("x", 10)], 110, 0, counters)
    assert st2 == st
    # batch 1: 'new' appears with the same volume — weight 2 ⇒ outranks
    st = _decayed_mg_merge(st, [("new", 100), ("x", 10)], 110, 1, counters)
    assert st["w"] == 110 + 110 * 2
    assert st["slots"]["new"] == 200 > st["slots"]["old"] == 100
    # slot bound holds under vocabulary pressure
    many = [(f"t{i}", 50 - i) for i in range(counters + 1)]
    st = _decayed_mg_merge(st, many, sum(c for _, c in many), 2, counters)
    assert len(st["slots"]) <= counters
    # replay guard is O(1) high-water state, not a per-batch list
    assert st["done_max"] == 2 and st["merged"] == 3 and "done" not in st

    # bounded INTEGERS forever: drive the merge past the renormalization
    # exponent and check magnitudes rebase while decayed ORDER holds
    from dask_obj_spark.streaming.windows import _DMG_KEEP_POS, _DMG_RENORM_POS

    str_ = {"slots": {}, "w": 0}
    for b in range(_DMG_RENORM_POS + 3):
        str_ = _decayed_mg_merge(
            str_, [("hot", 10), ("warm", 5)], 15, b, counters
        )
        assert max(str_["slots"].values()).bit_length() < _DMG_RENORM_POS + 8
        assert str_["w"].bit_length() < _DMG_RENORM_POS + 8
    assert str_["rebase"] > 0  # at least one renormalization happened
    assert str_["merged"] == _DMG_RENORM_POS + 3
    assert str_["slots"]["hot"] > str_["slots"]["warm"] > 0  # order kept
    # post-renorm live exponent restarted near KEEP
    assert (str_["merged"] - str_["rebase"]) <= _DMG_KEEP_POS + 3


def test_stream_quality_psi_drift_and_replay(spark, tmp_path):
    """A second batch with a genuinely different quality mix must score
    PSI far above the 0.25 'action' line while the frozen reference
    batch scores EXACTLY 0; replaying the whole stream (checkpoint
    blown away, histograms kept) must be a no-op by the seq guard."""
    import shutil

    from dask_obj_spark.streaming.windows import (
        quality_psi_vs_frozen,
        stream_quality_psi_sink,
    )

    good = "the cat is on the mat and it is a fine day for the dog"
    junk = "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( ))) ??? ;;; ::: ~~~"
    b0 = [(i, good) for i in range(40)]
    b1 = [(100 + i, junk) for i in range(40)]
    in_dir = str(tmp_path / "in")
    schema = None
    # the GOOD batch must arrive first (it freezes as the reference);
    # explicit mtimes pin the order (near-tie mtimes are unspecified)
    for idx, batch in enumerate((b0, b1)):
        schema = _write_batch_file(
            spark, batch, ["doc_id", "text"], tmp_path, in_dir, idx
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "hist")
    stream_quality_psi_sink(spark, stream, target)
    got = {r["seq"]: r for r in quality_psi_vs_frozen(spark, target).collect()}
    assert got[0]["psi_x1m"] == 0  # frozen reference vs itself: exact 0
    assert got[0]["n_docs"] == 40 and got[1]["n_docs"] == 40
    assert got[1]["psi_x1m"] > 250_000  # junk batch: far past 'action'

    # replay: same files, fresh checkpoint — histograms must not double
    n_rows = spark.read.parquet(target).count()
    shutil.rmtree(target + "_ckpt")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_quality_psi_sink(spark, stream2, target)
    assert spark.read.parquet(target).count() == n_rows
    again = {r["seq"]: r for r in quality_psi_vs_frozen(spark, target).collect()}
    assert again[0]["psi_x1m"] == 0 and again[1]["psi_x1m"] == got[1]["psi_x1m"]


def test_quality_psi_frozen_ref_is_min_seq_not_zero(spark, tmp_path):
    """A resumed stream's first delivered batch id is nonzero — the
    frozen reference must be min(seq), not a hardcoded 0 (which made
    the inner join silently emit zero rows).  Histograms written
    directly with seq 5 and 6: seq 5 must score exactly 0."""
    from dask_obj_spark.streaming.windows import quality_psi_vs_frozen

    target = str(tmp_path / "hist")
    rows = [(5, k, 10 if k < 5 else 0) for k in range(10)]
    rows += [(6, k, 0 if k < 5 else 10) for k in range(10)]
    spark.createDataFrame(rows, "seq bigint, bkt int, c bigint").coalesce(
        1
    ).write.parquet(target)
    got = {r["seq"]: r for r in quality_psi_vs_frozen(spark, target).collect()}
    assert set(got) == {5, 6}
    assert got[5]["psi_x1m"] == 0  # frozen reference vs itself
    assert got[6]["psi_x1m"] > 0
    assert got[5]["n_docs"] == 50 and got[6]["n_docs"] == 50

    # empty histogram table → loud failure, never a silent empty result
    import pyspark.sql.utils  # noqa: F401
    import pytest as _pytest

    empty_dir = str(tmp_path / "empty_hist")
    spark.createDataFrame(
        [], "seq bigint, bkt int, c bigint"
    ).coalesce(1).write.parquet(empty_dir)
    with _pytest.raises(ValueError, match="nothing to freeze"):
        quality_psi_vs_frozen(spark, empty_dir)


def test_stream_contamination_guard_flags_once_under_replay(spark, tmp_path):
    """A doc sharing an 8-gram with the frozen inventory is flagged on
    arrival with the exact overlap count; clean docs are not; replaying
    the stream (fresh checkpoint) does not duplicate quarantine rows."""
    import shutil

    from dask_obj_spark.operators.corpus import doc_distinct_shingles
    from dask_obj_spark.streaming.windows import stream_contamination_sink

    ev_text = "a b c d e f g h i j"
    dirty = "x y a b c d e f g h i j z"  # shares 3 distinct 8-grams
    clean = "p q r s t u v w x1 y1 z1 p2 q2"
    evdf = spark.createDataFrame([(0, ev_text)], ["doc_id", "text"])
    inv_dir = str(tmp_path / "inv")
    doc_distinct_shingles(evdf, "doc_id", "text", 8).select(
        "sh"
    ).distinct().write.parquet(inv_dir)

    in_dir = str(tmp_path / "in")
    schema = None
    for idx, batch in enumerate(([(1, dirty)], [(2, clean), (3, dirty)])):
        schema = _write_batch_file(
            spark, batch, ["doc_id", "text"], tmp_path, in_dir, idx
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "quarantine")
    stream_contamination_sink(spark, stream, target, inv_dir)
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in spark.read.parquet(target).collect()
    }
    assert got == {1: 3, 3: 3}  # dirty docs only, exact distinct-gram count

    shutil.rmtree(target + "_ckpt")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_contamination_sink(spark, stream2, target, inv_dir)
    assert spark.read.parquet(target).count() == 2  # no duplicates


def _stage_batch_df(spark, df, tmp_path, in_dir, idx):
    """One micro-batch = one parquet file with a DETERMINISTIC mtime
    (base + 100·idx): FileStreamSource orders ties arbitrarily, so
    near-identical mtimes made arrival order flaky (round-10 advice).
    Accepts an empty DataFrame (zero-row parquet = empty micro-batch)."""
    import os

    os.makedirs(in_dir, exist_ok=True)
    sub = str(tmp_path / f"stage{idx}")
    df.coalesce(1).write.parquet(sub)
    (pf,) = [p for p in os.listdir(sub) if p.endswith(".parquet")]
    dst = os.path.join(in_dir, f"{idx:02d}_batch.parquet")
    os.rename(os.path.join(sub, pf), dst)
    now = 1_700_000_000
    os.utime(dst, (now + 100 * idx, now + 100 * idx))
    return df.schema


def _write_batch_file(spark, rows, cols, tmp_path, in_dir, idx):
    return _stage_batch_df(
        spark, spark.createDataFrame(rows, cols), tmp_path, in_dir, idx
    )


def test_stream_source_quota_enforces_cap_and_replays_cleanly(spark, tmp_path):
    """Quota binds across batches in arrival order (batch 1 uses part
    of the budget, batch 2 only the remainder); sources under quota
    pass through whole; replaying the stream (fresh checkpoint) must
    not re-admit or duplicate anything."""
    import shutil

    from dask_obj_spark.streaming.windows import stream_source_quota_sink

    # batch files: arrival order = explicit mtime order
    in_dir = str(tmp_path / "in")
    b0 = [(i, "big") for i in range(4)] + [(100 + i, "small") for i in range(2)]
    b1 = [(10 + i, "big") for i in range(4)] + [(110, "small")]
    schema = None
    for idx, batch in enumerate((b0, b1)):
        schema = _write_batch_file(
            spark, batch, ["doc_id", "source"], tmp_path, in_dir, idx
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "acc")
    stream_source_quota_sink(spark, stream, target, quota=5)
    got = {(r.doc_id, r.source) for r in spark.read.parquet(target).collect()}
    # big: 4 from batch 0 + first 1 of batch 1 (doc_id order); small: all 3
    assert got == {(0, "big"), (1, "big"), (2, "big"), (3, "big"), (10, "big"),
                   (100, "small"), (101, "small"), (110, "small")}
    # replay with a fresh checkpoint: counts-table seq guard makes it a no-op
    n = spark.read.parquet(target).count()
    shutil.rmtree(target + "_ckpt")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_source_quota_sink(spark, stream2, target, quota=5)
    assert spark.read.parquet(target).count() == n
    assert {(r.doc_id, r.source) for r in spark.read.parquet(target).collect()} == got


def test_sliding_agg_non_divisible_width_and_in_batch_quota_dup(
    spark, tmp_path
):
    """Two review-pass regressions.  (a) sliding_agg must apply the
    window-END containment filter: with width NOT a multiple of slide
    (or width < slide) the widest candidate start otherwise claims rows
    its window ends before — counts silently inflate.  (b) the quota
    sink must dedup doc_ids WITHIN a micro-batch: an at-least-once
    source can redeliver the same doc twice inside one availableNow
    batch, and without the in-batch dedup both copies pass the quota
    arithmetic (the target anti-join only sees PRIOR batches)."""
    import datetime

    from dask_obj_spark.streaming.windows import (
        sliding_agg,
        stream_source_quota_sink,
    )

    # (a) width=10min, slide=4min: event at base+3min belongs to starts
    # {base, base-4m} but NOT base-8m (that window ends at base+2m)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(t0 + datetime.timedelta(minutes=3), "k")], "ts timestamp, k string"
    )
    got = {
        r.w_start: r.n
        for r in sliding_agg(df, "ts", "k", "10 minutes", "4 minutes").collect()
    }
    base = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert got == {base: 1, base - 240: 1}, got
    # width < slide: only the containing window, not the stale start
    got2 = {
        r.w_start: r.n
        for r in sliding_agg(df, "ts", "k", "2 minutes", "5 minutes").collect()
    }
    assert got2 == {}, got2  # event at +3min is outside [base, base+2m)
    df2 = spark.createDataFrame(
        [(t0 + datetime.timedelta(minutes=1), "k")], "ts timestamp, k string"
    )
    got3 = {
        r.w_start: r.n
        for r in sliding_agg(df2, "ts", "k", "2 minutes", "5 minutes").collect()
    }
    assert got3 == {base: 1}, got3
    # divisible default unchanged: 10/5 → exactly 2 windows
    got4 = sliding_agg(df, "ts", "k", "10 minutes", "5 minutes").count()
    assert got4 == 2

    # (b) the same doc delivered twice in ONE batch is accepted once
    in_dir = str(tmp_path / "in_dup")
    rows = [(1, "s"), (1, "s"), (2, "s")]
    schema = _write_batch_file(
        spark, rows, ["doc_id", "source"], tmp_path / "b0", in_dir, 0
    )
    stream = spark.readStream.schema(schema).parquet(in_dir)
    target = str(tmp_path / "acc_dup")
    stream_source_quota_sink(spark, stream, target, quota=5)
    accepted = [
        (r.doc_id, r.source) for r in spark.read.parquet(target).collect()
    ]
    assert sorted(accepted) == [(1, "s"), (2, "s")]  # no duplicate doc_id
    counts = spark.read.parquet(target + "_counts")
    assert [(r.source, r.n) for r in counts.collect()] == [("s", 2)]


def test_streams_from_directory_shaped_tables(spark, tmp_path):
    """events_stream/documents_stream with a DIRECTORY-shaped table
    (Spark-written events.parquet/ with part files): the single-file
    pathGlobFilter matches no leaf file, and with the schema supplied
    the stream would silently be EMPTY — the directory branch must
    stream the leaf files instead (review finding)."""
    import os

    from dask_obj_spark.streaming.windows import documents_stream

    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    src = load_table(spark, "/root/testdata/sf0.001", "events")
    src.limit(200).write.parquet(os.path.join(sf, "events.parquet"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.limit(50).write.parquet(os.path.join(sf, "documents.parquet"))

    out = run_stream_to_memory(
        spark, stream_tumbling_counts(events_stream(spark, sf)), "dirshape"
    )
    assert out.agg(F.sum("n")).collect()[0][0] == 200

    ds = documents_stream(spark, sf)
    q = (
        ds.writeStream.format("memory")
        .queryName("dirshape_docs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT count(*) c FROM dirshape_docs").collect()[0].c == 50


def test_stream_source_quota_exact_under_kill_between_writes(spark, tmp_path):
    """Crash-window replay (round-10 verdict #1): the job dies AFTER
    the accepted append but BEFORE the counts append.  The redelivered
    batch misses the seq guard; because `used` is derived from the
    quota-bounded TARGET (not the counts tally), the quota arithmetic
    sees the already-written rows, the anti-join suppresses them, and
    a later batch cannot over-admit.  Under the old counts-derived
    tally this exact scenario permanently undercounted `big` by one
    and admitted a 6th doc past quota."""
    import shutil

    from dask_obj_spark.streaming.windows import stream_source_quota_sink

    in_dir = str(tmp_path / "in")
    cols = ["doc_id", "source"]
    b0 = [(i, "big") for i in range(4)] + [(100 + i, "small") for i in range(2)]
    b1 = [(10 + i, "big") for i in range(4)] + [(110, "small")]
    b2 = [(20 + i, "big") for i in range(4)] + [(120 + i, "small") for i in range(2)]
    target = str(tmp_path / "acc")

    # run batch 0 to completion (both writes committed)
    schema = _write_batch_file(spark, b0, cols, tmp_path, in_dir, 0)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_source_quota_sink(spark, stream, target, quota=5)

    # simulate the crash mid-batch-1: its accepted rows (big:10 is the
    # 5th big doc; small:110 the 3rd small) land in the target, the
    # counts row does NOT, and the checkpoint never commits the batch
    _write_batch_file(spark, b1, cols, tmp_path, in_dir, 1)
    spark.createDataFrame([(10, "big"), (110, "small")], cols).coalesce(
        1
    ).write.mode("append").parquet(target)

    # restart: same checkpoint redelivers batch 1, then batch 2 arrives
    _write_batch_file(spark, b2, cols, tmp_path, in_dir, 2)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_source_quota_sink(spark, stream2, target, quota=5)

    got = sorted(
        (r.doc_id, r.source) for r in spark.read.parquet(target).collect()
    )
    want = sorted(
        [(0, "big"), (1, "big"), (2, "big"), (3, "big"), (10, "big"),
         (100, "small"), (101, "small"), (110, "small"),
         (120, "small"), (121, "small")]
    )
    # exactly quota=5 per source, no duplicates, no over-admission
    assert got == want
    # the counts table is audit-only: seq rows exist for every batch
    seqs = {r.seq for r in spark.read.parquet(target + "_counts").collect()}
    assert seqs == {0, 1, 2}
    shutil.rmtree(target + "_ckpt")


def test_stream_late_audit_counts_and_replay(spark, tmp_path):
    """Batch 1 rows older than (batch-0 max ts - delay) count as late;
    the first batch never does; the watermark value is recorded;
    replays are no-ops."""
    import shutil
    from datetime import datetime

    from dask_obj_spark.streaming.windows import stream_late_audit_sink

    t = lambda m: datetime(2024, 1, 1, 10, m)
    b0 = [(1, t(0)), (2, t(30))]                   # max = 10:30
    # wm = 10:30 - 10min = 10:20 → late: 10:00, 10:19; on time: 10:20, 10:40
    b1 = [(3, t(0)), (4, t(19)), (5, t(20)), (6, t(40))]
    in_dir = str(tmp_path / "in")
    schema = None
    for idx, batch in enumerate((b0, b1)):
        schema = _write_batch_file(
            spark, batch, ["event_id", "ts"], tmp_path, in_dir, idx
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "audit")
    stream_late_audit_sink(spark, stream, target, delay_secs=600)
    got = {r.seq: r for r in spark.read.parquet(target).collect()}
    assert got[0].n_rows == 2 and got[0].n_late == 0 and got[0].wm_secs == -1
    wm = int(t(30).timestamp()) - 600
    assert got[1].wm_secs == wm
    assert got[1].n_rows == 4 and got[1].n_late == 2
    # replay: fresh checkpoint, audit unchanged
    shutil.rmtree(target + "_ckpt")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stream_late_audit_sink(spark, stream2, target, delay_secs=600)
    assert spark.read.parquet(target).count() == 2


def test_other_sinks_survive_empty_batch(spark, tmp_path):
    """The late-audit empty-batch crash (round-10 advice) was a CLASS
    hazard: every foreachBatch sink must tolerate a zero-row
    micro-batch (file sources rarely emit one, other sources can).
    Drive dedup, contamination, quota, and PSI sinks over a 3-batch
    stream whose middle batch is EMPTY and assert the final state
    equals the no-empty-batch run's."""
    import os

    from dask_obj_spark.streaming.windows import (
        stream_contamination_sink,
        stream_dedup_upsert,
        stream_quality_psi_sink,
        stream_source_quota_sink,
    )

    cols = "doc_id long, text string, source string"
    mk = lambda rows: spark.createDataFrame(rows, cols)
    b0 = [(i, f"alpha beta doc {i} " * 5, "s0") for i in range(4)]
    b2 = [(10, "alpha beta doc 0 " * 5, "s0"), (11, "fresh text gamma " * 5, "s1")]
    schema = mk(b0).schema

    def drive(name, sink, *args, **kw):
        in_dir = str(tmp_path / f"in_{name}")
        _stage_batch_df(spark, mk(b0), tmp_path / f"st_{name}0", in_dir, 0)
        _stage_batch_df(
            spark, spark.createDataFrame([], schema), tmp_path / f"st_{name}1", in_dir, 1
        )
        _stage_batch_df(spark, mk(b2), tmp_path / f"st_{name}2", in_dir, 2)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        target = str(tmp_path / f"out_{name}")
        sink(spark, stream, target, *args, **kw)
        return spark.read.parquet(target)

    # exact dedup: 11 is novel, 10 duplicates doc 0's content
    got = drive("dedup", stream_dedup_upsert)
    assert {r.doc_id for r in got.collect()} == {0, 1, 2, 3, 11}

    # quota: all 6 docs fit under quota 5 per source
    got = drive("quota", stream_source_quota_sink, 5)
    assert {r.doc_id for r in got.collect()} == {0, 1, 2, 3, 10, 11}

    # contamination: inventory = doc 0's shingles → flags 10 on arrival
    inv_dir = str(tmp_path / "inv")
    from dask_obj_spark.operators.corpus import doc_distinct_shingles

    doc_distinct_shingles(mk(b0[:1]), "doc_id", "text", 8).select(
        "sh"
    ).distinct().write.parquet(inv_dir)
    got = drive("contam", stream_contamination_sink, inv_dir)
    assert {r.doc_id for r in got.collect()} == {0, 10}

    # PSI: one histogram row-set per batch INCLUDING the empty one
    got = drive("psi", stream_quality_psi_sink)
    seqs = {r.seq for r in got.collect()}
    assert seqs == {0, 1, 2}
    empty = [r for r in got.collect() if r.seq == 1]
    assert sum(r.c for r in empty) == 0 and len(empty) == 10
    # ...and the frozen-reference readout must EXCLUDE the zero-row
    # batch (scoring it would 0/0 into NaN) while the reference batch
    # still scores exactly 0 against itself
    from dask_obj_spark.streaming.windows import quality_psi_vs_frozen

    psi = {r.seq: r.psi_x1m for r in quality_psi_vs_frozen(
        spark, str(tmp_path / "out_psi")
    ).collect()}
    assert set(psi) == {0, 2} and psi[0] == 0


def test_stream_decayed_topk_survives_empty_batch(spark, tmp_path):
    """Last sink of the empty-batch class sweep (r11 verdict item 7):
    a zero-row micro-batch must not crash the decayed heavy-hitters
    upsert, and its semantics are PINNED — an empty batch is a time
    tick: it consumes a decay position (later batches' relative weight
    doubles past it) while contributing zero weight, so
    w = n0·1 + 0·2 + n2·4 exactly, and the confirm pass replays that
    weighting."""
    import json

    from dask_obj_spark.streaming.windows import (
        stream_decayed_topk,
        stream_decayed_topk_confirm,
    )

    cols = "doc_id long, text string"
    b0 = [(0, "hot hot hot cold"), (1, "hot warm")]          # n0 = 6 terms
    b2 = [(2, "hot cold cold"), (3, "cold cold")]            # n2 = 5 terms
    in_dir = str(tmp_path / "in")
    schema = _write_batch_file(spark, b0, cols, tmp_path / "s0", in_dir, 0)
    _stage_batch_df(
        spark, spark.createDataFrame([], schema), tmp_path / "s1", in_dir, 1
    )
    _write_batch_file(spark, b2, cols, tmp_path / "s2", in_dir, 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "dtopk")
    stream_decayed_topk(spark, stream, target, k=2, counters=8)

    state = json.load(open(target + "_dmg.json"))
    assert state["merged"] == 3  # the empty batch was merged, not skipped
    assert state["w"] == 6 * 1 + 0 * 2 + 5 * 4  # empty tick carried weight 2
    # small vocab ≤ counters → slots are exact decayed scores
    assert state["slots"]["hot"] == 4 * 1 + 1 * 4  # 4 in b0, 1 in b2
    assert state["slots"]["cold"] == 1 * 1 + 4 * 4

    # confirm replays the decay: batch 0 rows weight 1, batch 2 rows 4
    src = spark.createDataFrame(b0 + b2, cols)
    wt = F.when(F.col("doc_id") <= 1, F.lit(1)).otherwise(F.lit(4))
    got = {
        r.term: r.score
        for r in stream_decayed_topk_confirm(
            spark, src, target + "_dmg.json", wt, k=4
        ).collect()
    }
    assert got == {"hot": 8, "cold": 17}  # score*4 >= W=26 keeps both
    # tighter threshold: at k=2 only cold (17*2 >= 26) survives
    got2 = {
        r.term: r.score
        for r in stream_decayed_topk_confirm(
            spark, src, target + "_dmg.json", wt, k=2
        ).collect()
    }
    assert got2 == {"cold": 17}


def test_stream_late_audit_survives_empty_batch(spark, tmp_path):
    """An empty micro-batch (zero-row parquet file; other sources can
    produce them too) must not kill the query on int(None) — it writes
    a (seq, 0, 0, -1, wm) audit line and the running watermark carries
    through to the next real batch unchanged (round-10 advice)."""
    from datetime import datetime

    from dask_obj_spark.streaming.windows import stream_late_audit_sink

    t = lambda m: datetime(2024, 1, 1, 10, m)
    cols = ["event_id", "ts"]
    in_dir = str(tmp_path / "in")
    schema = _write_batch_file(spark, [(1, t(0)), (2, t(30))], cols, tmp_path, in_dir, 0)
    _stage_batch_df(
        spark, spark.createDataFrame([], schema), tmp_path, in_dir, 1
    )  # empty micro-batch
    _write_batch_file(spark, [(3, t(0)), (4, t(40))], cols, tmp_path, in_dir, 2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    target = str(tmp_path / "audit")
    stream_late_audit_sink(spark, stream, target, delay_secs=600)
    got = {r.seq: r for r in spark.read.parquet(target).collect()}
    assert set(got) == {0, 1, 2}
    wm = int(t(30).timestamp()) - 600
    assert got[1].n_rows == 0 and got[1].n_late == 0 and got[1].max_es == -1
    assert got[1].wm_secs == wm  # watermark carried, not reset
    # batch 2 still audits against the batch-0 watermark: 10:00 is late
    assert got[2].n_rows == 2 and got[2].n_late == 1 and got[2].wm_secs == wm
