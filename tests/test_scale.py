"""Scale-technique tests: salted aggregation equivalence + shuffle
layout, bucketed-join exchange elimination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_obj_spark.operators.scale import (
    bucketed_join,
    plan_has_exchange,
    salted_agg,
    write_bucketed,
)
from dask_obj_spark.sources import load_table


def test_salted_agg_equals_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_agg(
        ev,
        "event_type",
        salt_from="event_id",
        aggs={"n": ("event_id", "count"), "sum_value": ("value", "sum")},
        buckets=16,
    ).withColumn("sum_value", F.round("sum_value", 6))
    plain = ev.groupBy("event_type").agg(
        F.count("event_id").alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_agg_spreads_keys(spark, sf_dir):
    # the first-phase shuffle must be on (key, salt): 5 keys × 16 salts
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
        .groupBy("event_type", "_salt")
        .count()
    )
    assert partial.count() == 5 * 16


@pytest.mark.filterwarnings("ignore::UserWarning")
def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "t_orders_b", "o_orderkey", buckets=4)
        write_bucketed(lineitem, "t_lineitem_b", "o_orderkey", buckets=4)
        joined = bucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        assert not plan_has_exchange(joined)
        # same join on the raw (unbucketed) frames DOES shuffle
        raw = orders.join(lineitem, "o_orderkey")
        assert plan_has_exchange(raw)
        assert joined.count() == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_write_bucketed_orphan_clear_skipped_outside_default_db(spark, sf_dir):
    """The orphan-location cleanup resolves <warehouse>/<table>, which
    is the DEFAULT database's location.  With another database current,
    tableExists() looks there instead, so a cataloged default-db table
    of the same name must NOT have its data rmtree'd (round-11
    advice)."""
    orders = load_table(spark, sf_dir, "orders").limit(100)
    spark.sql("DROP TABLE IF EXISTS default.t_orphan_guard")
    write_bucketed(orders, "t_orphan_guard", "o_orderkey", buckets=2)
    assert spark.table("default.t_orphan_guard").count() == 100
    spark.sql("CREATE DATABASE IF NOT EXISTS guard_db")
    try:
        spark.catalog.setCurrentDatabase("guard_db")
        # same bare name, non-default db current: must create
        # guard_db.t_orphan_guard WITHOUT touching the default-db data
        write_bucketed(orders.limit(10), "t_orphan_guard", "o_orderkey", buckets=2)
        assert spark.table("guard_db.t_orphan_guard").count() == 10
        assert spark.table("default.t_orphan_guard").count() == 100
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP TABLE IF EXISTS guard_db.t_orphan_guard")
        spark.sql("DROP DATABASE IF EXISTS guard_db")
        spark.sql("DROP TABLE IF EXISTS default.t_orphan_guard")


def test_stratified_sample_fractions(spark, oracle_sf_dir):
    ev = load_table(spark, oracle_sf_dir, "events")
    fractions = {"view": 0.5, "click": 0.2, "purchase": 1.0, "signup": 0.1, "error": 0.0}
    sample = ev.sampleBy("event_type", fractions, seed=42)
    got = {r.event_type: r["count"] for r in sample.groupBy("event_type").count().collect()}
    base = {r.event_type: r["count"] for r in ev.groupBy("event_type").count().collect()}
    assert got.get("error", 0) == 0
    assert got["purchase"] == base["purchase"]  # fraction 1.0 keeps all
    for k, frac in [("view", 0.5), ("click", 0.2), ("signup", 0.1)]:
        assert abs(got[k] / base[k] - frac) < 0.15
    # deterministic under a fixed seed
    again = ev.sampleBy("event_type", fractions, seed=42).count()
    assert again == sample.count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the predicate must become a partition filter on the scan, not a
    # post-scan row filter over all partitions
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_ann_standing_index_no_corpus_exchange_and_recall(spark, oracle_sf_dir):
    from dask_obj_spark.operators.similarity import (
        build_ann_index,
        cosine_topk_brute,
        query_ann_index,
    )

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    try:
        cents = build_ann_index(
            emb, "vec_id", "embedding", table="t_ann_cells", k=8, iters=3, buckets=4
        )
        assert len(cents) == 8
        probes = emb.filter(F.col("vec_id") % 50 == 0)
        got = query_ann_index(
            spark, "t_ann_cells", cents, probes, "vec_id", "embedding", k=10, nprobe=2
        )
        # the standing-index contract: the probe join reads the bucketed
        # cell table with NO corpus-side shuffle; the only Exchange in the
        # whole plan is the final per-probe top-k window (keyed on id1)
        plan = got._jdf.queryExecution().executedPlan().toString()
        pre_window = plan[plan.find("Join") :]
        # BroadcastExchange of the tiny probe side is the point; what must
        # NOT appear is a shuffle (Exchange hashpartitioning) of the corpus
        assert "Exchange hashpartitioning" not in pre_window, plan
        ivf = {(r.id1, r.id2) for r in got.collect()}
        brute = {
            (r.id1, r.id2)
            for r in cosine_topk_brute(emb, "vec_id", "embedding", 50, 10).collect()
        }
        assert len(ivf) > 0
        recall = len(brute & ivf) / len(brute)
        assert recall > 0.2, f"standing-index recall collapsed: {recall}"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ann_cells")


def test_chunk_windows_plan_is_narrow(spark, sf_dir):
    # chunking must be a zero-shuffle narrow map: no Exchange anywhere
    from dask_obj_spark.operators.corpus import chunk_windows

    docs = load_table(spark, sf_dir, "documents")
    df = chunk_windows(docs, "doc_id", "text", 32, 24)
    assert not plan_has_exchange(df)


def test_semantic_dedup_plan_broadcasts_centroids(spark, sf_dir):
    # the assignment join must broadcast the centroid side (never a
    # cartesian shuffle of the corpus) and the pair surface must be an
    # equi-join on the cell id.  r15: the assignment subplan is pinned
    # behind a localCheckpoint in semantic_dedup (plan-replay fix), so
    # its shape is asserted on the _semantic_cells builder directly and
    # the final plan is asserted to start from the pinned scan.
    from dask_obj_spark.operators.dedup import _semantic_cells, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    assign_plan = (
        _semantic_cells(emb, "vec_id", "embedding", 61, None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in assign_plan  # corpus × tiny centroids
    assert "CartesianProduct" not in assign_plan

    plan = (
        semantic_dedup(emb, "vec_id", "embedding", tau=0.35)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ExistingRDD" in plan  # assignment pinned, computed exactly once
    assert "CartesianProduct" not in plan


def test_knn_triangle_edge_pin_computes_scoring_once(spark, sf_dir):
    # r15 pin lock (r15 verdict next-round #9): triangle_counts
    # localCheckpoints its canonical edge list ONCE, so the wedge/closing
    # joins (which embed the edge list ~7x) must reference the pinned
    # RDD, never replay the brute-kNN scoring.  The plan shape IS the
    # computed-once probe: if a refactor un-pins the edge list, the
    # probe-broadcast scoring join (BroadcastNestedLoopJoin) reappears
    # in the consumer plan — with the pin it runs during construction
    # and the consumer plan is scoring-free.
    from dask_obj_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    df = QUERIES["sim_knn_triangles"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # edge list pinned
    assert "BroadcastNestedLoopJoin" not in plan  # scoring not re-embedded
    assert "CartesianProduct" not in plan


def test_unpivot_plan_is_single_scan_expand(spark, sf_dir):
    # melt must be ONE scan + Expand, not n_metrics unioned scans
    li = load_table(spark, sf_dir, "lineitem")
    df = li.unpivot(
        ["l_orderkey"], ["l_quantity", "l_extendedprice", "l_discount"], "m", "v"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Expand" in plan


def test_exists_subquery_plans_semi_join(spark, sf_dir):
    from dask_obj_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    df = QUERIES["exists_subquery"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def _morton_ref(x: int, y: int) -> int:
    out = 0
    for b in range(16):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


def test_zorder_key_matches_reference_bit_interleave(spark):
    from dask_obj_spark.operators.scale import zorder_key

    pts = [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 2, 7, 1023, 65535)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _morton_ref(x, y), (x, y)


def test_zordered_layout_tightens_partition_bounding_boxes(spark, sf_dir):
    # range-partitioning by the Morton key must give per-partition
    # bounding boxes far tighter (in area) than arrival order — that
    # tightness IS the data-skipping win (row-group min/max pruning)
    from dask_obj_spark.operators.scale import zorder_key

    ev = load_table(spark, sf_dir, "events")
    xb = (F.col("user_id") % 256).alias("xb")
    yb = (F.col("event_id") % 256).alias("yb")
    base = ev.select(xb, yb)

    def avg_bbox_area(df):
        parts = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("xb") - F.min("xb")).alias("dx"),
                (F.max("yb") - F.min("yb")).alias("dy"),
            )
            .collect()
        )
        return sum((p.dx + 1) * (p.dy + 1) for p in parts) / len(parts)

    unsorted_area = avg_bbox_area(base.repartition(16))
    zsorted = (
        base.withColumn("z", zorder_key(F.col("xb"), F.col("yb")))
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
    )
    assert avg_bbox_area(zsorted) < 0.5 * unsorted_area


def test_hilbert_key_is_a_bijective_unit_step_curve(spark):
    # order-4 grid (16x16): the 256 Hilbert keys must be a permutation of
    # 0..255 and every consecutive pair of keys must sit in GRID-ADJACENT
    # cells (|dx|+|dy| = 1) — the no-diagonal-jump property that makes
    # Hilbert clustering tighter than Morton.
    from dask_obj_spark.operators.scale import with_hilbert_key

    cells = spark.range(256).select(
        (F.col("id") % 16).alias("xb"), (F.col("id") / 16).cast("long").alias("yb")
    )
    rows = (
        with_hilbert_key(cells, F.col("xb"), F.col("yb"), out="hkey", order=4)
        .orderBy("hkey")
        .collect()
    )
    assert [r.hkey for r in rows] == list(range(256))
    steps = [
        abs(b.xb - a.xb) + abs(b.yb - a.yb) for a, b in zip(rows, rows[1:])
    ]
    assert set(steps) == {1}


def test_write_hilbert_layout_roundtrip(spark, sf_dir, tmp_path):
    from dask_obj_spark.operators.scale import write_hilbert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 256).alias("xb"), (F.col("event_id") % 256).alias("yb")
    )
    path = str(tmp_path / "hilbert")
    write_hilbert(ev, path, F.col("xb"), F.col("yb"), files=8)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)


def test_bloom_prefilter_prunes_and_is_exact(spark, sf_dir):
    """The Bloom prefilter must (a) admit every true key — no false
    negatives, or the downstream semi-join would lose rows — and
    (b) actually prune: strictly fewer rows pass the filter than exist,
    and the pass-through set is close to the true match count (the 4096
    bit / 3 hash filter's FP rate at this keyset size is small)."""
    from dask_obj_spark.operators.scale import bloom_build, bloom_might_contain

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(keys, "o_orderkey")

    total = li.count()
    passed = li.filter(bloom_might_contain(bloom, "l_orderkey")).count()
    true_matches = li.join(
        keys, li["l_orderkey"] == keys["o_orderkey"], "left_semi"
    ).count()

    assert true_matches <= passed < total  # no false negatives, real pruning
    # FP head-room: passes should not blow past 2x the true matches
    assert passed <= max(2 * true_matches, true_matches + 50)


def test_bloom_predicate_sits_on_probe_scan(spark, sf_dir):
    """The membership test must be a scan-side Filter on the probe
    relation (pure codegen integer math), not a join: the physical plan
    contains the xxhash64 chain in a Filter and no Exchange between
    that Filter and the parquet scan."""
    from dask_obj_spark.operators.scale import bloom_build, bloom_might_contain

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(keys, "o_orderkey")
    filtered = li.filter(bloom_might_contain(bloom, "l_orderkey"))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "Exchange" not in plan  # filter evaluated at the scan, pre-shuffle


def test_rrf_legs_broadcast_small_sides(spark, sf_dir):
    """Both retrieval legs keep their small side broadcast (probe set /
    corpus stats) — no shuffled join of the corpus against a tiny dim."""
    from dask_obj_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    df = QUERIES["retrieval_rrf_hybrid"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pq_fit_encode_matches_numpy(spark):
    """Trained PQ path: per-subspace k-means codebooks, then encoding
    must pick the numpy-argmin codeword per subspace and report the
    summed reconstruction error of exactly those codewords."""
    import numpy as np

    from dask_obj_spark.operators.similarity import pq_encode, pq_fit

    rng = np.random.default_rng(7)
    dim, m, k, n = 16, 4, 3, 40
    vecs = rng.normal(size=(n, dim)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], ["vec_id", "embedding"]
    )
    books = pq_fit(df, "vec_id", "embedding", m=m, k=k, iters=2, dim=dim)
    assert len(books) == m and all(len(b) == k for b in books)
    got = {
        r.vid: ([r.code0, r.code1, r.code2, r.code3], r.err_micro)
        for r in pq_encode(df, "vec_id", "embedding", books, dim=dim).collect()
    }
    sub = dim // m
    for i in range(n):
        want_codes, want_err = [], 0.0
        for s in range(m):
            v = vecs[i, s * sub : (s + 1) * sub]
            dists = [float(((v - np.array(cw)) ** 2).sum()) for cw in books[s]]
            j = int(np.argmin(dists))  # np.argmin keeps the lowest index on ties
            want_codes.append(j)
            want_err += dists[j]
        codes, err_micro = got[i]
        assert codes == want_codes, (i, codes, want_codes)
        assert abs(err_micro - int(np.floor(want_err * 1e6))) <= 1  # fp assoc slack


def test_pq_rejects_dim_not_split_by_m(spark):
    """A width that m does not divide would silently drop the trailing
    coordinates from every code; every PQ entry point fails instead."""
    from dask_obj_spark.operators.similarity import (
        ivfpq_topk,
        pq_adc_ranked,
        pq_adc_trained_topk,
        pq_encode,
        pq_fit,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0, 4.0]) for i in range(6)],
        ["vec_id", "embedding"],
    )
    books = [[[0.0, 0.0]], [[1.0, 1.0]]]  # m=2 codebooks of 2-wide codewords
    calls = [
        lambda: pq_fit(df, "vec_id", "embedding", m=2, k=2, iters=1, dim=5),
        lambda: pq_encode(df, "vec_id", "embedding", books, dim=5),
        lambda: pq_adc_ranked(df, "vec_id", "embedding", 2, m=2, dim=5),
        lambda: pq_adc_trained_topk(df, "vec_id", "embedding", books, 2, dim=5),
        lambda: ivfpq_topk(
            df, "vec_id", "embedding", 2, centroids=[[0.0] * 5], books=books, dim=5
        ),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="does not split into m=2"):
            call()


def test_hll_accuracy_and_merge(spark):
    """Register mergeability is exact (max algebra) and the estimate
    lands within ~3 standard errors (1.04/sqrt(256) ≈ 6.5%) of truth."""
    from dask_obj_spark.operators.scale import hll_estimate_x1000, hll_registers

    n = 5000
    df = spark.range(n).select((F.col("id") * 7919 % 100000).alias("k"))
    true = df.select("k").distinct().count()
    regs = hll_registers(df, "k")
    est = hll_estimate_x1000(regs).first()["est_x1000"] / 1000.0
    assert abs(est - true) / true < 0.20
    # merging three arbitrary shards reproduces the whole-table registers
    shards = [hll_registers(df.filter(F.col("k") % 3 == i), "k") for i in range(3)]
    merged = shards[0].select("bucket", F.col("m").alias("m0"))
    for i, sh in enumerate(shards[1:], 1):
        merged = merged.join(sh.select("bucket", F.col("m").alias(f"m{i}")), "bucket")
    merged = merged.select(
        "bucket", F.greatest("m0", "m1", "m2").alias("m")
    )
    whole = {r.bucket: r.m for r in regs.collect()}
    got = {r.bucket: r.m for r in merged.collect()}
    assert got == whole


def test_pq_encode_plan_is_narrow(spark, sf_dir):
    """The r5-verdict encode fix: trained-codebook PQ encode must be a
    pure scan→project — literal-array argmin per subspace, NO join, NO
    window, NO Exchange anywhere (the old broadcast-join + row_number
    form exchanged an m·k·|corpus| intermediate; at 100 TB encode-once
    is the whole cost of standing up the index)."""
    from dask_obj_spark.operators.similarity import pq_encode, pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, "vec_id", "embedding", m=4, k=4, iters=1)
    enc = pq_encode(emb, "vec_id", "embedding", books)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert enc.count() == emb.count()


def test_sim_pq_encode_query_no_corpus_exchange(spark, oracle_sf_dir):
    """The oracle-paired modular twin keeps the same plan contract on
    the CORPUS side: its only exchanges are the tiny codeword-side
    SinglePartition collect_list + its broadcast — never a
    hashpartitioning shuffle or a window over corpus rows."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["sim_pq_encode"](spark, oracle_sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_pq_adc_ranked_scoring_is_narrow(spark, sf_dir):
    """The narrow-ADC refactor on the modular oracle path: candidate
    scoring is m element_at lookups into the probe's own distance
    table, so the ONLY hashpartitioning exchange in the whole query is
    the per-probe rank window — the pair surface itself is projected
    (id1, id2, adc) inside codegen, never shuffled (the old
    melted-code equi-join + pivot groupBy exchanged an
    m·|probes|·|corpus| intermediate)."""
    from dask_obj_spark.operators.similarity import pq_adc_ranked

    emb = load_table(spark, sf_dir, "embeddings")
    ranked = pq_adc_ranked(emb, "vec_id", "embedding", probe_mod=50)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ivfpq_shortlist_exchange_carries_no_arrays(spark, sf_dir):
    """The r6-verdict payload fix: candidate ordering in the composed
    IVF-PQ path is (pid, vid, adc) ONLY — the shortlist row_number
    exchange must move no dim-sized arrays (nv/pnv/pt/codes); raw
    vectors are joined back for the shortlist survivors, the
    pq_adc_trained_topk pattern.  Shipping 2×dim×8 bytes per candidate
    row through the shuffle forfeits the entire ADC win at 100 TB."""
    from dask_obj_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    df = ivfpq_topk(emb, "vec_id", "embedding", probe_mod=50, k=10)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    # formatted explain lists each node's Input; find every shuffle
    # exchange partitioned on the probe id (the shortlist window's) and
    # assert its row payload is exactly the 3 scalar ordering columns
    blocks = plan.split("\n\n")
    shortlist_exchanges = [
        b
        for b in blocks
        if ") Exchange" in b and "hashpartitioning(pid#" in b
    ]
    assert shortlist_exchanges, plan
    for b in shortlist_exchanges:
        inp = next(l for l in b.splitlines() if l.startswith("Input"))
        assert inp.startswith("Input [3]"), b
        for banned in ("nv#", "pnv#", "pt#", "codes#"):
            assert banned not in inp, b


def test_knn_graph_ann_default_is_constant_k(spark, oracle_sf_dir):
    """The r5-verdict default fix: a bare knn_graph_ann() call must use
    trained constant-k centroids (literal-argmin assignment — linear,
    constant-size plan), NOT the corpus-fraction modular set; the
    quadratic oracle-replay path now requires an explicit
    centroid_mod."""
    from dask_obj_spark.operators.similarity import knn_graph_ann

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    g = knn_graph_ann(emb, "vec_id", "embedding", k=5, probe_mod=10, kmeans_k=8)
    plan = g._jdf.queryExecution().executedPlan().toString()
    # trained path: no join against a centroid FRAME at all — model is
    # literal arrays; the only join is the cell equi-join (sort-merge or
    # shuffled hash on cid), so no BroadcastNestedLoopJoin may appear
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert g.count() > 0


def test_heavy_hitters_exact_and_bounded(spark):
    """Output must equal the exact GROUP BY ... HAVING answer (the MG
    pass only proposes candidates), including under a skewed stream
    split across many small partitions with few counters."""
    from dask_obj_spark.operators.scale import heavy_hitters

    rows = (
        [("hot",)] * 300
        + [("warm",)] * 120
        + [(f"cold{i}",) for i in range(400)]
        + [("tepid",)] * 60
    )
    df = spark.createDataFrame(rows, ["term"]).repartition(16)
    n = len(rows)  # 880
    k = 10  # threshold 88
    got = {r["term"]: (r["cnt"], r["share_x1m"]) for r in
           heavy_hitters(df, "term", k=k, counters=12).collect()}
    assert got == {
        "hot": (300, 300 * 1000000 // n),
        "warm": (120, 120 * 1000000 // n),
    }


def test_heavy_hitters_candidate_state_is_bounded(spark):
    """The pass-1 summary must never exceed `counters` candidate rows
    per partition (bounded state is the whole point at 100 TB)."""
    from pyspark.sql import functions as F
    from dask_obj_spark.operators.scale import heavy_hitters

    # reuse the internals through a tiny run: many distinct items, few
    # counters, single partition — candidates <= counters
    rows = [(f"t{i % 97}",) for i in range(3000)]
    df = spark.createDataFrame(rows, ["term"]).coalesce(1)
    out = heavy_hitters(df, "term", k=5, counters=8)
    # with 97 uniform-ish items nothing reaches n/5 — exact answer: empty
    assert out.count() == 0


def test_heavy_hitters_returned_plan_scans_corpus_once(spark, sf_dir):
    """The r7-verdict two-scan fix: pass 1 (the MG candidate pass) is
    materialized by ONE collect before the function returns, and the
    candidates come back as a local relation — so the RETURNED plan's
    only corpus child is the exact-count semi-join.  Previously the
    candidate side was a live child of the (already unpersisted) MG
    frame, so materializing the result re-ran the MG pass from a third
    corpus scan.  Two scans total: one inside heavy_hitters for the
    candidates, one here."""
    from dask_obj_spark.operators.scale import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    out = heavy_hitters(toks, "term", k=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "mapInPandas" not in plan, plan
    # candidates arrive as a broadcast local relation, not a corpus scan
    assert "LocalTableScan" in plan or "BroadcastExchange" in plan, plan


def test_global_shuffle_shards_plan_is_one_hash_exchange(spark, sf_dir):
    """The shuffle-shard contract: exactly ONE Exchange, and it is a
    hashpartitioning on `shard` — never a rangepartitioning (a global
    ORDER BY would sample boundaries on the driver and range-exchange
    the full corpus; the whole point of hash-sharding is that the one
    shuffle is the same one the shard writer needs anyway)."""
    from dask_obj_spark.operators.corpus import global_shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    out = global_shuffle_shards(docs, "doc_id", n_shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan, plan
    assert "hashpartitioning(shard" in plan, plan


@pytest.mark.filterwarnings("ignore::UserWarning")
def test_asof_tolerance_no_broadcast_fallback_plan(spark, oracle_sf_dir):
    """The r8 plan audit's 100 TB promise, pinned: when the probe side
    is too big to broadcast (auto-broadcast disabled here, the way the
    bucketed-join test does it), the as-of-with-tolerance join degrades
    to a SHUFFLED join KEYED ON THE USER equi-key with the two-sided
    time bound as join filters — never a BroadcastNestedLoopJoin or
    CartesianProduct (which is what an as-of join without an equi-key
    would plan as).  Results must be identical to the broadcast plan."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["asof_join_tolerance"]
    expected = sorted(map(tuple, q(spark, oracle_sf_dir).collect()))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q(spark, oracle_sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # a keyed shuffled join survives: either merge or shuffled-hash
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert sorted(map(tuple, df.collect())) == expected
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


@pytest.mark.filterwarnings("ignore::UserWarning")
def test_stratified_split_no_auto_broadcast_fallback(spark, oracle_sf_dir):
    """The stratified split's broadcast is the |strata|-row quota
    dimension via an EXPLICIT hint (constant-bounded side — the
    PLANS.md broadcast-audit rule), so it must survive auto-broadcast
    being disabled: with the threshold at -1 the plan keeps exactly
    one BroadcastExchange (the quota), the corpus side is never a
    broadcast build side, the scan count stays 2, and the
    largest-remainder window still runs over the dimension frame only
    (no corpus-wide single-partition window).  Results identical."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["corpus_stratified_split"]
    expected = sorted(map(tuple, q(spark, oracle_sf_dir).collect()))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q(spark, oracle_sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") == 1, plan
        assert plan.count("Scan parquet") == 2, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert sorted(map(tuple, df.collect())) == expected
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_compaction_plan_bins_and_file_stats(spark, tmp_path):
    """file_stats must count rows per REAL parquet file (multi-file
    dir); compaction_plan must first-fit by name order, give oversize
    files their own bin, and report per-bin fan-in."""
    from dask_obj_spark.operators.scale import compaction_plan, file_stats

    # 4 real files: 3 tiny + 1 big
    p = str(tmp_path / "t")
    spark.range(0, 10).coalesce(1).write.mode("append").parquet(p)
    spark.range(10, 25).coalesce(1).write.mode("append").parquet(p)
    spark.range(25, 30).coalesce(1).write.mode("append").parquet(p)
    spark.range(30, 230).coalesce(1).write.mode("append").parquet(p)
    stats = file_stats(spark, p)
    got = {r.file: r.n_rows for r in stats.collect()}
    assert len(got) == 4 and sorted(got.values()) == [5, 10, 15, 200]
    assert all(f.endswith(".parquet") and "/" not in f for f in got)

    # partitioned layout: same basename under two partition dirs must
    # stay TWO stats rows keyed by the root-relative path (round-10
    # advice: basename keying silently merged them)
    import os
    import shutil

    pp = str(tmp_path / "part")
    for d, n in (("date=2024-01-01", 7), ("date=2024-01-02", 11)):
        sub = str(tmp_path / f"stage_{n}")
        spark.range(0, n).coalesce(1).write.parquet(sub)
        (pf,) = [x for x in os.listdir(sub) if x.endswith(".parquet")]
        os.makedirs(os.path.join(pp, d), exist_ok=True)
        shutil.move(
            os.path.join(sub, pf), os.path.join(pp, d, "part-00000.parquet")
        )
    pgot = {r.file: r.n_rows for r in file_stats(spark, pp).collect()}
    assert pgot == {
        "date=2024-01-01/part-00000.parquet": 7,
        "date=2024-01-02/part-00000.parquet": 11,
    }

    # a table root with a URI-escaped character (space): input_file_name
    # returns a percent-encoded URI, so the root must be quoted the same
    # way or the relative keying silently degrades to the full URI
    # (round-11 advice)
    sp = str(tmp_path / "with space" / "t")
    spark.range(0, 9).coalesce(1).write.parquet(sp)
    sgot = {r.file: r.n_rows for r in file_stats(spark, sp).collect()}
    assert sgot and all(
        f.endswith(".parquet") and "/" not in f and "%" not in f for f in sgot
    ), sgot
    assert sorted(sgot.values()) == [9]

    # ...but the quoting must mirror Java's URI path rules, which leave
    # RFC-2396 sub-delims LITERAL: a root containing '=' (every
    # Hive-style `k=v` layout), '+', '&', '@' must still match —
    # quote(..., safe="/") would encode '=' → %3D and silently degrade
    # every key to the full URI (review finding)
    dp = str(tmp_path / "run=1" / "x+y&z@q")
    spark.range(0, 5).coalesce(1).write.parquet(dp)
    dgot = {r.file: r.n_rows for r in file_stats(spark, dp).collect()}
    assert dgot and all(
        f.endswith(".parquet") and "/" not in f for f in dgot
    ), dgot
    assert sorted(dgot.values()) == [5]

    # deterministic synthetic stats: name order a,b,c,d
    sdf = spark.createDataFrame(
        [("a", 10), ("b", 15), ("c", 5), ("d", 200)], ["file", "n_rows"]
    )
    plan = {r.file: r for r in compaction_plan(sdf, 30).collect()}
    # prefixes: a=0, b=10, c=25, d=30 → bins 0,0,0,1
    assert [plan[f].merge_bin for f in "abcd"] == [0, 0, 0, 1]
    assert plan["a"].bin_files == 3 and plan["a"].bin_rows == 30
    assert plan["d"].bin_files == 1 and plan["d"].bin_rows == 200


def test_fd_violations_detects_and_clears(spark):
    """A perfect FD reports zero violations with fanout 1; a broken one
    counts exactly the violating groups and the worst fanout."""
    from dask_obj_spark.operators.scale import fd_violations

    df = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "x"), (2, "b", "x"),
         (3, "c", "y"), (3, "d", "y"), (3, "e", "y")],
        ["k", "v", "w"],
    )
    ok = fd_violations(df, "k", "v").collect()[0]
    assert (ok.n_groups, ok.n_violating, ok.max_fanout) == (3, 1, 3)
    clean = fd_violations(df, "k", "w").collect()[0]
    assert (clean.n_groups, clean.n_violating, clean.max_fanout) == (3, 0, 1)
    assert clean.fd == "k->w"

    # NULL rhs follows count(DISTINCT r) semantics — (1,'x') + (1,NULL)
    # is NOT a violation (the oracle's count(DISTINCT) says 1), and an
    # all-null group still counts in n_groups with n_rhs=0
    nul = spark.createDataFrame(
        [(1, "x"), (1, None), (2, None)], ["k", "v"]
    )
    got = fd_violations(nul, "k", "v").collect()[0]
    assert (got.n_groups, got.n_violating, got.max_fanout) == (2, 0, 1)


def test_scale_review_regressions(spark, tmp_path):
    """Review-pass regressions across the scale operators, each loud or
    correct instead of silently wrong: (a) zorder keys on 32-bit int
    columns (shiftleft preserves input type — cy >= 32768 used to wrap
    the int32 sign bit into a negative key); (b) bloom build/probe
    across DIFFERING key types (xxhash64 is type-sensitive — int-built,
    bigint-probed filters used to false-negative, silently dropping
    true matches the confirm join can never resurrect); (c)
    heavy_hitters over a null-bearing stream (nulls excluded from BOTH
    the candidates and n — counting them in n alone raised the bar for
    every real term) and counters < k clamped; (d) compaction_plan
    gives oversize files their OWN bin (a plain prefix rule made a
    200-row file share bin 0 with a preceding 5-row file, forcing a
    pointless rewrite); (e) plan_has_exchange detects range and
    SinglePartition shuffles, not just hash."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from dask_obj_spark.operators.scale import (
        bloom_build,
        bloom_might_contain,
        compaction_plan,
        heavy_hitters,
        plan_has_exchange,
        zorder_key,
    )

    # (a) int32 zorder: y=32768 spreads into bit 30; shiftleft(…,1) on
    # an INT column used to wrap negative
    idf = spark.createDataFrame(
        [(0, 32768), (65535, 65535)],
        StructType([StructField("x", IntegerType()),
                    StructField("y", IntegerType())]),
    )
    got = {(r.x, r.y): r.z for r in idf.select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()}
    assert got[(0, 32768)] == _morton_ref(0, 32768) > 0
    assert got[(65535, 65535)] == _morton_ref(65535, 65535) > 0

    # (b) bloom across key types: build on INT, probe a BIGINT column
    keys = spark.createDataFrame(
        [(i,) for i in range(50)],
        StructType([StructField("id", IntegerType())]),
    )
    bloom = bloom_build(keys, "id")
    probe = spark.range(0, 100).select(F.col("id"))  # bigint
    hits = probe.filter(bloom_might_contain(bloom, "id"))
    got_ids = {r.id for r in hits.collect()}
    assert set(range(50)) <= got_ids  # NO false negatives across types

    # (c) heavy hitters with nulls: null is not a term and not in n
    items = spark.createDataFrame(
        [(None,)] * 100 + [("a",)] * 10 + [("b",)] * 2, "term string"
    )
    hh = {r.term: (r.cnt, r.share_x1m)
          for r in heavy_hitters(items, "term", k=2, counters=1).collect()}
    assert "a" in hh and None not in hh
    assert hh["a"][0] == 10 and hh["a"][1] == 833333  # n=12, not 112
    # counters=1 < k=2 was clamped, or 'a' could have been evicted

    # (d) oversize file gets its own bin
    sdf = spark.createDataFrame([("a", 5), ("b", 200)], ["file", "n_rows"])
    plan = {r.file: r for r in compaction_plan(sdf, 100).collect()}
    assert plan["a"].merge_bin != plan["b"].merge_bin
    assert plan["b"].bin_files == 1  # skippable singleton

    # (e) range/single-partition exchanges are shuffles too
    df = spark.range(100)
    assert plan_has_exchange(df.repartitionByRange(4, "id"))
    assert plan_has_exchange(df.agg(F.sum("id")))
    assert not plan_has_exchange(df)


# -- bench-family plan-shape locks (r12 verdict #3) ---------------------------
# These make future bench-drift adjudication mechanical: if b3/b7 ever
# breach their BASELINE.md contracts, these asserts say immediately
# whether the PLAN changed (real regression) or the host did (noise).


def test_b3_join_agg_plan_shape(spark, sf_dir):
    """BASELINE b3 family: orders⋈lineitem must plan as an equi HASH
    join (broadcast under the bench threshold, shuffle-hash/sort-merge
    beyond it) feeding a partial (map-side combined) aggregate — never
    a nested-loop or cartesian."""
    from dask_obj_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    df = QUERIES["join_lineitem_orders"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # partial + final HashAggregate pair = map-side combine before the
    # group-key shuffle (the scan side never shuffles raw fact rows)
    assert plan.count("HashAggregate") >= 2, plan


def test_b7_cosine_topk_plan_shape(spark, sf_dir):
    """BASELINE b7 family: the probe side rides a broadcast; after the
    explicit compute-stage fan-out (round-robin repartition — the
    PLANS.md interpreted-stage rule) the ONLY remaining shuffle is the
    final per-probe top-k window on id1.  An extra exchange in the
    scoring stage is exactly the drift this lock exists to catch."""
    from dask_obj_spark.operators.similarity import cosine_topk_brute

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan  # probes broadcast
    assert "CartesianProduct" not in plan, plan
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert len(shuffles) == 2, plan
    assert any("RoundRobinPartitioning" in ln for ln in shuffles), plan
    assert any("hashpartitioning(id1" in ln for ln in shuffles), plan


def test_b33_binary_hamming_plan_shape(spark, sf_dir):
    """BASELINE b33 family (r13-verdict watch item): the MAX_PROBES-
    bounded probe table rides a BroadcastNestedLoopJoin (non-equi
    pid != vid — broadcast by construction, never CartesianProduct);
    the shortlist is pruned MAP-SIDE (partial WindowGroupLimit below
    the exchange) so only ~shortlist rows per probe cross the wire;
    and the whole query has exactly ONE shuffle — hashpartitioning on
    pid for the shortlist window, which the final top-k window REUSES
    (its Sort plans with no exchange).  Both re-rank join-backs are
    broadcast.  An extra exchange or a cartesian here is exactly the
    drift this lock exists to catch."""
    from dask_obj_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    df = QUERIES["sim_binary_hamming_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # probes broadcast
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert len(shuffles) == 1, plan
    assert "hashpartitioning(pid" in shuffles[0], plan
    # map-side shortlist prune: a Partial WindowGroupLimit runs BELOW
    # the exchange, the Final one above it
    assert "Partial" in plan and plan.count("WindowGroupLimit") >= 3, plan
    part_idx = plan.index(", Partial")
    exch_idx = plan.index("Exchange hashpartitioning(pid")
    assert part_idx > exch_idx, plan  # deeper in the tree = printed later


def test_b32_maxsim_rerank_plan_shape(spark, sf_dir):
    """BASELINE b32 family (r13-verdict watch item, adjudicated idle in
    r14 at 0.98-1.08x of its 4.8 lock): probe batches ride broadcast
    joins (BNLJ/BHJ — never CartesianProduct, never a sort-merge of
    corpus-sized sides), and the whole retrieve+rerank query holds at
    most THREE real shuffles (the id1 rerank window plus the two
    vid-keyed index aggregations).  Extra exchanges or a cartesian here
    is the drift this lock exists to catch."""
    from dask_obj_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    df = QUERIES["retrieval_maxsim_rerank"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # broadcast probes
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln
        and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert len(shuffles) <= 3, plan
    assert any("hashpartitioning(id1" in ln for ln in shuffles), plan
