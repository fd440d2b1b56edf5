"""Unit tests for the dedup/similarity building blocks.

The oracle-parity suite (test_oracle_parity.py) is the end-to-end gate;
these pin the primitives: the portable hash is bit-identical across
Spark and DuckDB, shingling agrees, and the LSH/SimHash guarantees hold
on hand-built fixtures.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import (
    duck_porthash,
    duck_word_shingles,
    porthash,
    word_shingles,
)
from dask_obj_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprint,
    simhash_near_pairs,
)
from dask_obj_spark.operators.similarity import cosine_topk_brute

WORDS = "the quick brown fox jumps over the lazy dog again and again"
NEAR = "the quick brown fox jumps over the lazy cat again and again"
OTHER = "completely different content with no overlap whatsoever here now"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, WORDS), (2, NEAR), (3, OTHER), (4, WORDS)], ["doc_id", "text"]
    )


def test_porthash_cross_engine_identity(spark):
    samples = ["", "a", "hello world", "Ünïcode ✓", "x" * 500]
    sdf = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = [r[0] for r in sdf.select(porthash("s", "salt")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {duck_porthash('?', 'salt')}", [s]).fetchone()[0]
        for s in samples
    ]
    assert got == want
    assert all(h >= 0 for h in got)  # 60-bit ⇒ always positive


def test_shingles_cross_engine_identity(spark):
    sdf = spark.createDataFrame([(WORDS,)], ["s"])
    got = sdf.select(word_shingles("s", 3)).collect()[0][0]
    con = duckdb.connect()
    # the generated expression references its input twice → two `?` binds
    want = con.execute(f"SELECT {duck_word_shingles('?', 3)}", [WORDS, WORDS]).fetchone()[0]
    # DuckDB list_distinct does not preserve order; the pipelines only take
    # min-over-array, so set equality is the actual contract
    assert sorted(got) == sorted(want)
    assert "the quick brown" in got


def test_shingles_short_text(spark):
    # text shorter than n → single (whole-text) shingle, never empty
    sdf = spark.createDataFrame([("one two",)], ["s"])
    got = sdf.select(word_shingles("s", 4)).collect()[0][0]
    assert got == ["one two"]


def test_exact_dedup(docs):
    assert exact_dedup(docs, ["text"]).count() == 3
    assert exact_dedup(docs).count() == 4  # doc_id differs


def test_minhash_finds_identical_and_near(docs):
    pairs = {
        (r.id1, r.id2): r.est_jaccard
        for r in minhash_candidate_pairs(
            docs, "doc_id", "text", 16, 8, 3, 0.0
        ).collect()
    }
    assert pairs.get((1, 4)) == 1.0  # identical docs: every component equal
    # one-word edit (true Jaccard 7/13): 8 bands of 2 give ~94% recall, and
    # the hash is deterministic so this asserts a fixed outcome
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exactness(docs):
    rows = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 3, 0.0, max_shingle_freq=None
        ).collect()
    }
    assert rows[(1, 4)] == 1.0
    # 10 distinct 3-shingles each, 7 shared (the dog→cat edit touches the
    # three windows covering position 8) → 7/13
    assert rows[(1, 2)] == round(7 / 13, 6)
    assert (1, 3) not in rows


def test_simhash_hamming_props(docs):
    fp = simhash_fingerprint(docs, "doc_id", "text")
    vals = {r.doc_id: r.fingerprint for r in fp.collect()}
    assert vals[1] == vals[4]
    # max_hamming ≥ bits → degenerate all-pairs bucket: every pair surfaces
    pairs = {(r.id1, r.id2): r.hamming for r in simhash_near_pairs(fp, 64).collect()}
    assert pairs[(1, 4)] == 0
    assert len(pairs) == 6  # all C(4,2) pairs present in the degenerate path


def test_simhash_block_pigeonhole_complete(spark):
    # (max_hamming+1)-block guarantee: a pair with ≤ max_hamming differing
    # bits ALWAYS shares a block.  doc 2 differs from doc 1 by one bit in
    # EACH half (bits 2 and 20) — the case a two-half split drops.
    fps = spark.createDataFrame(
        [(1, 0), (2, (1 << 2) | (1 << 20)), (3, (1 << 1) | (1 << 9) | (1 << 15) | (1 << 22))],
        ["doc_id", "fingerprint"],
    )
    got = {(r.id1, r.id2): r.hamming for r in simhash_near_pairs(fps, 3, 24).collect()}
    assert got[(1, 2)] == 2
    assert (1, 3) not in got  # hamming 4 > max_hamming: correctly excluded
    # brute-force reference over every pair: recall must be complete
    rows = fps.collect()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            d = bin(a.fingerprint ^ b.fingerprint).count("1")
            key = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id))
            assert (key in got) == (d <= 3), (key, d)


def test_cosine_topk_brute_shape(spark):
    rows = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    got = cosine_topk_brute(rows, "vec_id", "embedding", probe_mod=4, k=2).collect()
    assert [(r.id2, r.rank) for r in got] == [(1, 1), (2, 2)]


def test_ivf_recall_vs_brute(spark, oracle_sf_dir):
    from dask_obj_spark.operators.similarity import cosine_topk_brute, cosine_topk_ivf
    from dask_obj_spark.sources import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    brute = {
        (r.id1, r.id2)
        for r in cosine_topk_brute(emb, "vec_id", "embedding", 50, 10).collect()
    }
    ivf = {
        (r.id1, r.id2)
        for r in cosine_topk_ivf(emb, "vec_id", "embedding", 50, 10).collect()
    }
    # ANN contract: subset scoring is exact, recall is partial but real
    assert len(ivf) > 0
    recall = len(brute & ivf) / len(brute)
    assert recall > 0.2, f"IVF recall collapsed: {recall}"


def test_knn_graph_ann_recall_vs_brute(spark, oracle_sf_dir):
    """The ANN kNN-graph builder must recover a real fraction of the
    brute-force graph's edges (recall is the only approximate part —
    every emitted score is exact and checked by the oracle row)."""
    from dask_obj_spark.operators.similarity import cosine_topk_brute, knn_graph_ann
    from dask_obj_spark.sources import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    brute = {
        (r.id1, r.id2)
        for r in cosine_topk_brute(emb, "vec_id", "embedding", 5, 10).collect()
    }
    ann = {
        (r.id1, r.id2)
        for r in knn_graph_ann(emb, "vec_id", "embedding", k=10, probe_mod=5).collect()
    }
    assert len(ann) > 0
    recall = len(brute & ann) / len(brute)
    assert recall > 0.2, f"ANN graph recall collapsed: {recall}"


def test_pq_tuned_recall_floor(spark, oracle_sf_dir):
    """The tuned trained-PQ read path (m=8, k=64, shortlist=100 — the
    round-5 sweep's pick, PLANS.md cost curve) must hold a mean
    recall@10 well above the raw-ADC 0.19 of the untrained modular
    config; 0.6 floor leaves headroom for corpus-draw variance (0.763
    measured at sf0.1, 0.775 in the numpy sweep)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["sim_pq_tuned_recall_rowsonly"](
        spark, oracle_sf_dir
    ).collect()
    assert rows
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.6, f"tuned PQ recall collapsed: {mean}"


def test_numpy_brute_matches_exact_pairs(spark, oracle_sf_dir):
    from dask_obj_spark.operators.similarity import (
        cosine_topk_brute,
        cosine_topk_brute_numpy,
    )
    from dask_obj_spark.sources import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    exact = {
        (r.id1, r.id2): r.cosine
        for r in cosine_topk_brute(emb, "vec_id", "embedding", 50, 10).collect()
    }
    fast = {
        (r.id1, r.id2): r.cosine
        for r in cosine_topk_brute_numpy(emb, "vec_id", "embedding", 50, 10).collect()
    }
    # identical neighbor sets; scores agree to float-summation noise
    assert set(exact) == set(fast)
    assert all(abs(exact[p] - fast[p]) < 1e-5 for p in exact)


def test_kmeans_recovers_separated_clusters(spark):
    from dask_obj_spark.operators.similarity import kmeans_assign

    # two tight, well-separated blobs in 4-d; init takes the first k=2
    # vectors (one from each blob by construction)
    rows = [(0, [0.0, 0.1, 0.0, 0.05]), (1, [9.9, 10.0, 10.1, 10.0]),
            (2, [0.1, 0.0, 0.1, 0.0]), (3, [10.0, 9.9, 10.0, 10.1]),
            (4, [0.05, 0.1, 0.0, 0.1]), (5, [10.1, 10.0, 9.9, 10.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vid: r.cell for r in kmeans_assign(df, "vec_id", "embedding", 2, 3).collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]
    # deterministic across runs
    again = {r.vid: r.cell for r in kmeans_assign(df, "vec_id", "embedding", 2, 3).collect()}
    assert got == again


@pytest.mark.parametrize("k", [16, 17])
def test_kmeans_argmin_forms_agree_across_unroll_threshold(spark, monkeypatch, k):
    """kmeans_fit's two argmin forms — per-centroid unrolled sqdist
    chains (k <= KMEANS_UNROLL_MAX) and the literal-matrix HOF fold —
    pick identical cells and centroids on either side of the switch."""
    import random

    from dask_obj_spark.operators import similarity as sim

    rng = random.Random(16)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def fit(unroll_max):
        monkeypatch.setattr(sim, "KMEANS_UNROLL_MAX", unroll_max)
        cents, assigned = sim.kmeans_fit(df, "vec_id", "embedding", k=k, iters=2)
        plan = assigned._jdf.queryExecution().analyzed().toString()
        return cents, {r.vid: r.cell for r in assigned.collect()}, "element_at" in plan

    c_chain, cells_chain, unrolled = fit(k)
    assert unrolled
    c_matrix, cells_matrix, unrolled = fit(k - 1)
    assert not unrolled
    assert cells_chain == cells_matrix
    assert c_chain == c_matrix
    assert len(set(cells_chain.values())) > 1


def test_kmeans_quantized_partition_order_invariant(spark):
    """The quantized variant's integer centroid state must make the
    trained assignment identical under any repartitioning (the raw
    F.avg path folds partition order into the last ulp), recover the
    blobs, and keep an empty cell's previous state."""
    from dask_obj_spark.operators.similarity import kmeans_fit_quantized

    rows = [(0, [0.0, 0.1, 0.0, 0.05]), (1, [9.9, 10.0, 10.1, 10.0]),
            (2, [0.1, 0.0, 0.1, 0.0]), (3, [10.0, 9.9, 10.0, 10.1]),
            (4, [0.05, 0.1, 0.0, 0.1]), (5, [10.1, 10.0, 9.9, 10.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    st1, a1 = kmeans_fit_quantized(df, "vec_id", "embedding", k=2, iters=3)
    got = {r.vid: r.cell for r in a1.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]
    # integer state: sums exact — blob sums of floor(x*1000)
    import math
    s0 = [sum(math.floor(rows[i][1][d] * 1000) for i in (0, 2, 4))
          for d in range(4)]
    cell0 = got[0]
    assert st1[cell0] == (s0, 3)
    # identical under an adversarial repartitioning
    st2, a2 = kmeans_fit_quantized(
        df.repartition(7), "vec_id", "embedding", k=2, iters=3
    )
    assert st2 == st1
    assert {r.vid: r.cell for r in a2.collect()} == got
    # an unreachable third cell keeps its init state (empty-cell path)
    st3, a3 = kmeans_fit_quantized(df, "vec_id", "embedding", k=3, iters=2)
    got3 = {r.vid: r.cell for r in a3.collect()}
    assert len(set(got3.values())) <= 3 and got3[1] == got3[3] == got3[5]


# -- semantic dedup (SemDeDup-style) ------------------------------------------


def test_semantic_dedup_drops_higher_id_near_identical(spark):
    from dask_obj_spark.operators.dedup import semantic_dedup

    # vids 1 and 62 are centroids (vid % 61 == 1); 10 and 70 are identical
    # vectors (cosine 1.0) that land in the same cell -> 70 dropped, 10 kept
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (62, [0.0, 1.0, 0.0]),
        (10, [0.9, 0.1, 0.0]),
        (70, [0.9, 0.1, 0.0]),
        (20, [0.1, 0.9, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.vid: (r.cell, r.keep)
        for r in semantic_dedup(df, "vec_id", "embedding", tau=0.999).collect()
    }
    assert out[10] == (1, True)
    assert out[70] == (1, False)  # duplicate of lower-id 10
    assert out[20] == (62, True)  # different cell, untouched
    assert out[1][1] and out[62][1]


def test_semantic_dedup_tau_bounds_deletion(spark):
    from dask_obj_spark.operators.dedup import semantic_dedup

    rows = [(1, [1.0, 0.0]), (10, [0.8, 0.2]), (70, [0.2, 0.8])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # tau above every pairwise cosine -> nothing dropped
    keeps = semantic_dedup(df, "vec_id", "embedding", tau=1.01).collect()
    assert all(r.keep for r in keeps)


def test_prefix_jaccard_equals_brute_force(spark):
    from dask_obj_spark.operators.dedup import prefix_jaccard_pairs
    from itertools import combinations

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "alpha beta gamma delta"),          # exact dup of 1
        (4, "zeta eta theta iota"),
        (5, "zeta eta theta iota kappa"),
        (6, "totally different words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id1, r.id2): r.jaccard
        for r in prefix_jaccard_pairs(df, "doc_id", "text", 0.7).collect()
    }
    # brute force over ALL pairs — the prefix filter must lose nothing
    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 6) >= 0.7:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (1, 3) in got and got[(1, 3)] == 1.0


def test_k_core_known_graph(spark):
    from dask_obj_spark.operators.similarity import k_core

    # K4 (all degree 3) + a pendant chain 4-5-6: 3-core keeps only K4
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r.id: r.degree for r in k_core(df, k=3, rounds=5).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # 2-core keeps K4 too (chain still peels: vertex 6 has degree 1)
    got2 = {r.id: r.degree for r in k_core(df, k=2, rounds=5).collect()}
    assert set(got2) == {1, 2, 3, 4}


def test_k_core_converges_past_fixed_rounds(spark):
    """rounds=None iterates to the fixpoint even when a fixed unroll
    would stop early: a pendant chain of length 6 off K4 needs 6 peel
    rounds to fully unravel under k=2, so rounds=3 returns a superset
    while the default converges to exactly K4."""
    from dask_obj_spark.operators.similarity import k_core

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 10), (10, 11), (11, 12), (12, 13), (13, 14), (14, 15)]
    df = spark.createDataFrame(k4 + chain, ["u", "v"])
    fixed = {r.id for r in k_core(df, k=2, rounds=3).collect()}
    assert fixed > {1, 2, 3, 4}  # chain tail survived the truncated unroll
    conv = {r.id: r.degree for r in k_core(df, k=2).collect()}
    assert conv == {1: 3, 2: 3, 3: 3, 4: 3}
    # empty-result fixpoint terminates too (no infinite loop on k too big)
    assert k_core(df, k=4).count() == 0


def test_weighted_sssp_known_graph(spark):
    """Hand-checkable weighted graph: the cheap two-hop path must beat
    the expensive direct edge, and unreached vertices report -1."""
    from dask_obj_spark.operators.similarity import weighted_sssp

    # 1 -(10)- 2 -(10)- 3, plus direct 1 -(50)- 3; isolated island 8-9
    edges = [(1, 2, 10), (2, 3, 10), (1, 3, 50), (8, 9, 7)]
    e = spark.createDataFrame(edges, ["u", "v", "w"])
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 8, 9)], ["id"])
    seeds = spark.createDataFrame([(1,)], ["id"])
    got = {r.id: r.dist_micro for r in weighted_sssp(verts, e, seeds, rounds=4).collect()}
    assert got == {1: 0, 2: 10, 3: 20, 8: -1, 9: -1}


def test_weighted_sssp_converges_past_fixed_rounds(spark):
    """rounds=None relaxes to the true shortest paths even when a fixed
    unroll stops early: a 6-edge cheap chain vs a 1-hop expensive edge
    — 3 rounds keep the expensive estimate, convergence replaces it."""
    from dask_obj_spark.operators.similarity import weighted_sssp

    chain = [(i, i + 1, 1) for i in range(1, 7)]  # 1-2-...-7, cost 6 total
    e = spark.createDataFrame(chain + [(1, 7, 100)], ["u", "v", "w"])
    verts = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    seeds = spark.createDataFrame([(1,)], ["id"])
    fixed = {r.id: r.dist_micro for r in weighted_sssp(verts, e, seeds, rounds=3).collect()}
    assert fixed[7] == 100  # truncated unroll still holds the direct edge
    conv = {r.id: r.dist_micro for r in weighted_sssp(verts, e, seeds).collect()}
    assert conv == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5, 7: 6}
    # multi-seed min semantics: a second seed shortens the far end
    seeds2 = spark.createDataFrame([(1,), (7,)], ["id"])
    conv2 = {r.id: r.dist_micro for r in weighted_sssp(verts, e, seeds2).collect()}
    assert conv2[6] == 1 and conv2[7] == 0 and conv2[4] == 3


def test_ivfpq_topk_recall_floor(spark, oracle_sf_dir):
    """The composed IVF-PQ read path (trained auto-sized cells + m=8
    codebooks, ADC shortlist, exact re-rank) must recover a real
    fraction of brute-force truth end-to-end; 0.5 floor leaves headroom
    under corpus-draw variance (0.70 measured at sf0.01 with the
    round-7 swept default nprobe=4 — PLANS.md "composed-path recall
    engineering").  Also pins the scoring contract: every emitted score
    is an exact cosine."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["sim_ivfpq_recall_rowsonly"](
        spark, oracle_sf_dir
    ).collect()
    assert len(rows) > 0
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.5, f"IVF-PQ recall collapsed: {mean_recall}"


def test_knn_graph_ann_trained_recall_floor(spark, oracle_sf_dir):
    """The production (bare-call, trained auto-√N centroids) kNN-graph
    builder holds a recall floor vs the brute graph — the library
    default must stay usable, not just the oracle-replay wrappers
    (0.74 measured at sf0.01 with the round-7 swept default nprobe=4 —
    PLANS.md "composed-path recall engineering")."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["graph_knn_ann_trained_rowsonly"](
        spark, oracle_sf_dir
    ).collect()
    assert len(rows) > 0
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.5, f"trained kNN graph recall collapsed: {mean_recall}"


def test_binary_hamming_recall_vs_brute(spark, oracle_sf_dir):
    from dask_obj_spark.operators.similarity import (
        binary_hamming_topk,
        cosine_topk_brute,
    )
    from dask_obj_spark.sources import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    brute = {
        (r.id1, r.id2)
        for r in cosine_topk_brute(emb, "vec_id", "embedding", 50, 10).collect()
    }
    bq = {
        (r.id1, r.id2)
        for r in binary_hamming_topk(emb, "vec_id", "embedding", 50, 10).collect()
    }
    assert len(bq) > 0
    # sf0.01 sweep (round 7): shortlist 50 → 0.68, 100 → 0.85, 150 → 0.90;
    # default shortlist=100 — floor well below measured to absorb SF drift
    recall = len(brute & bq) / len(brute)
    assert recall > 0.5, f"binary-quantization recall collapsed: {recall}"


def test_binary_quantize_words_pack_bits(spark):
    """words must equal the 32-bit packing of the bit array (and bits
    must be the strict above-mean rule, integer-exact)."""
    from dask_obj_spark.operators.similarity import binary_quantize

    rows = spark.createDataFrame(
        [
            (0, [1.0, -1.0, 0.5, 0.5]),
            (1, [0.0, 1.0, 0.5, 0.5]),
            (2, [-1.0, 0.0, 0.5, 0.5]),
        ],
        ["vec_id", "embedding"],
    )
    got = {
        r["vid"]: (list(r["bits"]), list(r["words"]))
        for r in binary_quantize(rows, "vec_id", "embedding", dim=4).collect()
    }
    # dim means: (0, 0, 0.5, 0.5) — bit set iff strictly above
    assert got[0] == ([1, 0, 0, 0], [0b0001])
    assert got[1] == ([0, 1, 0, 0], [0b0010])
    assert got[2] == ([0, 0, 0, 0], [0b0000])


def test_random_projection_preserves_pairwise_distances(spark, oracle_sf_dir):
    """JL property: squared distances in the projected space track the
    originals — mean relative distortion over sampled pairs stays well
    under 1 (r=16 gives a loose but real bound)."""
    import math

    from dask_obj_spark.operators.similarity import random_projection
    from dask_obj_spark.sources import load_table

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    orig = {r["vec_id"]: list(r["embedding"]) for r in emb.limit(40).collect()}
    proj = {
        r["vid"]: list(r["y"])
        for r in random_projection(emb, "vec_id", "embedding", out_dim=16)
        .filter(F.col("vid").isin(*orig.keys()))
        .collect()
    }

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ids = sorted(orig)
    dists = []
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        do, dp = sq(orig[a], orig[b]), sq(proj[a], proj[b])
        if do > 0:
            dists.append(abs(dp - do) / do)
    assert dists and sum(dists) / len(dists) < 0.6, dists


def test_semantic_cell_broadcast_hint_is_conditional(spark, oracle_sf_dir):
    """r7-verdict #4: the modular (vid % cell_mod) centroid set grows
    linearly with the corpus, so the cell-assignment join must NOT
    hard-code a broadcast hint on it — the planner/AQE decides from
    size stats.  The trained constant-k path (kmeans_fit output,
    bounded by k forever) keeps the hint."""
    from dask_obj_spark.sources.tables import load_table
    from dask_obj_spark.operators.dedup import semantic_dedup
    from dask_obj_spark.operators.corpus import semantic_contamination

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    for modular in (
        semantic_dedup(emb, "vec_id", "embedding", tau=0.35),
        semantic_contamination(emb, "vec_id", "embedding"),
    ):
        analyzed = modular._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed, analyzed

    trained_cents = emb.limit(4).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    for trained in (
        semantic_dedup(emb, "vec_id", "embedding", tau=0.35, centroids=trained_cents),
        semantic_contamination(
            emb, "vec_id", "embedding", centroids=trained_cents
        ),
    ):
        analyzed = trained._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" in analyzed, analyzed
        assert trained.count() > 0


def test_matryoshka_recall_lossless_prefix_and_bounds(spark):
    """Vectors whose mass lives entirely in the first 8 dims rank
    identically at every truncation width — recall@k must be exactly
    1.0 for all widths; and on any input recall is bounded by
    hits ≤ n_probes·k with the integer DIV quantization exact."""
    import random

    from dask_obj_spark.operators.similarity import matryoshka_recall

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)] + [0.0] * 56)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["m"]: r
        for r in matryoshka_recall(
            df, "vec_id", "embedding", probe_mod=40, k=5
        ).collect()
    }
    assert set(got) == {8, 16, 32}
    for m, r in got.items():
        assert r["n_probes"] == 3  # ids 0, 40, 80
        assert r["hits"] == 15  # 3 probes x top-5, all exact
        assert r["recall_x1m"] == 1_000_000


def test_chained_prefix_dots_bit_identical_to_hof_at_every_width(spark):
    """r16 plan-footprint optimization: the chained prefix-dot columns
    (each width extending the previous width's column) must be
    BIT-identical to the width-generic HOF fold over the slice —
    including short arrays that take the slice-HOF ELSE branch and
    mixed-width pairs."""
    from pyspark.sql import functions as F

    from dask_obj_spark.functions.vec import chained_prefix_dots, dot

    import random

    rng = random.Random(13)
    rows = [
        (n, [rng.uniform(-2, 2) for _ in range(n)],
         [rng.uniform(-2, 2) for _ in range(m)])
        for n, m in [(4, 4), (8, 8), (12, 12), (16, 16), (64, 64),
                     (12, 20), (64, 8)]
    ]
    df = spark.createDataFrame(rows, ["n", "a", "b"])
    widths = (8, 16, 32, 64)
    got, cols = chained_prefix_dots(df, "a", "b", widths, "t")
    for m in widths:
        got = got.withColumn(
            f"ref{m}", dot(F.slice("a", 1, m), F.slice("b", 1, m))
        )
    for r in got.collect():
        for m in widths:
            assert r[cols[m]] == r[f"ref{m}"], (r["n"], m)


def test_pca_power_recovers_dominant_direction_and_topk_orthogonal(spark):
    """r16 round-structure rework (literal vector state + pinned w):
    the iteration must still behave like power iteration — on a
    near-rank-1 corpus the top component matches the planted direction
    up to the 1e-6 rounding, the loading vector is unit norm, the
    largest-|loading| coordinate is positive, and the deflated top-2
    components are orthogonal."""
    import math
    import random

    from dask_obj_spark.operators.similarity import (
        pca_power_top_component,
        pca_top_components,
    )

    rng = random.Random(11)
    dim = 8
    u = [math.sin(i + 1) for i in range(dim)]
    un = math.sqrt(sum(x * x for x in u))
    u = [x / un for x in u]
    coeffs = [rng.gauss(0, 1) for _ in range(200)]
    rows = [
        (i, [coeffs[i] * 3.0 * x + rng.gauss(0, 0.01) for x in u])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = {r["i"]: r["loading"] for r in
           pca_power_top_component(df, "vec_id", "embedding", rounds=8).collect()}
    assert len(top) == dim
    norm = math.sqrt(sum(x * x for x in top.values()))
    assert abs(norm - 1.0) < 1e-4
    big_i = max(top, key=lambda i: (abs(top[i]), -i))
    assert top[big_i] > 0  # sign convention
    # planted direction recovered up to global sign
    dotp = sum(top[i] * u[i] for i in range(dim))
    assert abs(abs(dotp) - 1.0) < 1e-3

    comps = pca_top_components(df, "vec_id", "embedding",
                               n_components=2, rounds=4).collect()
    c0 = {r["i"]: r["loading"] for r in comps if r["comp"] == 0}
    c1 = {r["i"]: r["loading"] for r in comps if r["comp"] == 1}
    assert len(c0) == dim and len(c1) == dim
    ortho = sum(c0[i] * c1[i] for i in range(dim))
    assert abs(ortho) < 1e-4


def test_rbo_identical_disjoint_and_topweighted(spark):
    """Identical top-10 lists score the truncated maximum 1-p^10;
    disjoint lists score 0; agreement at rank 1 outweighs agreement
    at rank 10."""
    import math

    from dask_obj_spark.operators.similarity import rbo_vs_exact

    def ranking(probe, ids):
        return [(probe, v, r + 1) for r, v in enumerate(ids)]

    same = list(range(100, 110))
    disj = list(range(200, 210))
    head = [100] + list(range(300, 309))       # agrees only at rank 1
    tail = list(range(300, 309)) + [109]       # agrees only at rank 10
    exact = ranking(1, same) + ranking(2, same) + ranking(3, same) + ranking(4, same)
    approx = ranking(1, same) + ranking(2, disj) + ranking(3, head) + ranking(4, tail)
    e = spark.createDataFrame(exact, ["id1", "id2", "rank"])
    a = spark.createDataFrame(approx, ["id1", "id2", "rank"])
    got = {r.probe_id: r.rbo_x1m for r in rbo_vs_exact(e, a).collect()}
    maxv = math.floor((1.0 - 0.9) * sum(0.9 ** d for d in range(10)) * 1e6)
    assert got[1] == maxv            # identical -> truncated max (1-0.9^10)
    assert got[2] == 0               # disjoint
    assert got[3] > got[4] > 0       # top-weighted: rank-1 hit >> rank-10 hit


def test_minhash_est_floor_filters_low_est_candidates(spark):
    """r15 dead-leg probe pin: on the driver fixtures the banded
    candidates ALL carry est_jaccard >= 0.5 at every SF, so the
    min_est_jaccard floor never fires at the parity gate — prove the
    leg works on a fixture where it must.  Two docs sharing one exact
    half (one band can match) but with a mostly-different other half
    produce a candidate whose signature agreement sits strictly below
    1.0; a floor above that est removes the pair, a floor of 0.0
    keeps it."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    a = shared + " one two three four five six seven eight"
    b = shared + " nine ten eleven twelve thirteen fourteen fifteen sixteen"
    docs = spark.createDataFrame(
        [(1, a), (2, b)], ["doc_id", "text"]
    )
    base = {
        (r.id1, r.id2): r.est_jaccard
        for r in minhash_candidate_pairs(
            docs, "doc_id", "text", 16, 8, 3, 0.0
        ).collect()
    }
    assert (1, 2) in base, "shared half must band-match"
    est = base[(1, 2)]
    assert 0.0 < est < 1.0
    # a floor just above the measured est filters the candidate out
    floored = minhash_candidate_pairs(
        docs, "doc_id", "text", 16, 8, 3, min_est_jaccard=est + 0.01
    ).collect()
    assert floored == []
    # ... and a floor at the est keeps it (>= comparison)
    kept = minhash_candidate_pairs(
        docs, "doc_id", "text", 16, 8, 3, min_est_jaccard=est
    ).collect()
    assert [(r.id1, r.id2) for r in kept] == [(1, 2)]


def test_source_overlap_cap_drops_hot_shingles(spark):
    """r15 dead-leg probe pin: the driver fixture's 20 sources never
    push a shingle past the production cap (max shingle reach is 3-4
    sources at every SF), so corpus_source_overlap's >50 guard never
    fires at the parity gate — prove the cap works where it must.
    One boilerplate shingle spans THREE sources; with the cap at 2 it
    is dropped and contributes NO pairs, while each pair's private
    shared shingle survives."""
    from dask_obj_spark.operators.corpus import source_overlap_matrix

    boiler = "all rights reserved by the original site owner"
    docs = spark.createDataFrame(
        [
            (1, "s1", boiler + " apple banana cherry damson elder fig"),
            (2, "s2", boiler + " apple banana cherry damson elder fig"),
            (3, "s3", boiler + " grape honeydew imbe jackfruit kiwi lime"),
        ],
        ["doc_id", "source", "text"],
    )
    uncapped = {
        (r.src_a, r.src_b): r.shared_shingles
        for r in source_overlap_matrix(
            docs, "source", "text", 8, max_shingle_freq=None
        ).collect()
    }
    capped = {
        (r.src_a, r.src_b): r.shared_shingles
        for r in source_overlap_matrix(
            docs, "source", "text", 8, max_shingle_freq=2
        ).collect()
    }
    # uncapped: the boilerplate shingle links every source pair
    assert set(uncapped) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    # capped: the 3-source shingle is dropped; only s1-s2's private
    # fruit shingles remain, with strictly fewer shared shingles
    assert ("s1", "s3") not in capped and ("s2", "s3") not in capped
    assert ("s1", "s2") in capped
    assert capped[("s1", "s2")] < uncapped[("s1", "s2")]
